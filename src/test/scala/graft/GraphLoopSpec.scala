package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.plans.physical.RangePartitioning
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener
import graft.operators.GraphOps

/** How the graph loops are sized and what they cost in jobs.
  * connectedComponents labels by union-find in one task when twice the
  * edge rows, the symmetric view's upper bound, fit one loop partition
  * (`graft.loop.rowsPerPartition`, default 1M rows — every fixture here):
  * straight over an edge plan that runs as one task (a one-file scan), else
  * over the checkpointed edge list (a local Seq). The distributed
  * label-propagation loop runs otherwise (forced with rowsPerPartition = 1). */
class GraphLoopSpec extends SparkTestBase with AdaptiveSparkPlanHelper {
  import spark.implicits._

  private def withLoopRows1[A](body: => A): A = {
    spark.conf.set("graft.loop.rowsPerPartition", "1")
    try body finally spark.conf.unset("graft.loop.rowsPerPartition")
  }

  /** One loop partition per row, layout-bound: the declared
    * multi-partition layouts run and decide where rows meet, invariantOn's
    * re-laid edge leaves (sized from a leaf AQE would otherwise coalesce
    * to one partition) and every loop layout above one partition. */
  private def multiPartition[A](body: => A): A = withLoopRows1(layoutBound(body))

  // "｡" (U+FF61) sorts BELOW "😀" (U+1F600) in Spark's UTF-8 byte order
  // but ABOVE it in UTF-16 `compareTo`
  private val ids = Seq("｡", "😀", "a", "B", "é", "z9", "ß")
  private val utf8: Ordering[String] = (x, y) =>
    java.util.Arrays.compareUnsigned(x.getBytes("UTF-8"), y.getBytes("UTF-8"))

  /** Seeded random edge lists over `nodes` unicode ids: DAGs (edges only
    * from a lower to a higher index) or graphs with cycles and self-loops;
    * the empty graph first. */
  private def graphs(seed: Int, nodes: Int, dag: Boolean): Seq[Seq[(String, String)]] = {
    val rnd = new scala.util.Random(seed)
    def id(i: Int) = s"${ids(i % ids.size)}_$i"
    Seq.empty[(String, String)] +: (1 to 4).map { _ =>
      (1 to nodes + rnd.nextInt(nodes)).map { _ =>
        val a = rnd.nextInt(nodes - 1)
        if (dag) (id(a), id(a + 1 + rnd.nextInt(nodes - 1 - a)))
        else if (rnd.nextInt(8) == 0) (id(a), id(a))
        else (id(a), id(rnd.nextInt(nodes)))
      }
    }
  }

  /** The frame on 3 partitions, so loop inputs span partitions (a local
    * Seq is one partition) and invariantOn re-lays its edge leaf. */
  private def spread(df: DataFrame): DataFrame = df.repartition(3)

  /** The frame's rows; its checkpoint leaves are released after, so a
    * law's results do not wait for a GC to be freed. */
  private def collectReleased(df: DataFrame): Array[Row] =
    try df.collect() finally org.apache.spark.sql.graft.bridge.releaseCheckpoints(df)

  /** Nodes reached from `u` by walks of one edge or more. */
  private def reach(es: Seq[(String, String)], u: String): Set[String] = {
    val adj = es.groupBy(_._1).map { case (k, v) => k -> v.map(_._2) }
    var (seen, frontier) = (Set.empty[String], adj.getOrElse(u, Nil).toSet)
    while (frontier.nonEmpty) {
      seen ++= frontier
      frontier = frontier.flatMap(adj.getOrElse(_, Nil)) -- seen
    }
    seen
  }

  /** Per target, its ancestors along `es`, sorted in Spark's order and
    * joined as the closure columns are. */
  private def ancestorsOf(es: Seq[(String, String)], nodes: Seq[String]): Map[String, String] = {
    val rev = es.map(_.swap)
    nodes.map(n => n -> reach(rev, n).toSeq.sorted(utf8).mkString(",")).toMap
  }

  private def components(edges: DataFrame): Set[Row] =
    GraphOps.connectedComponents(edges).collect().toSet

  test("law: union-find regime == label-propagation loop on random graphs") {
    val rnd = new scala.util.Random(23)
    // "｡" (U+FF61) sorts BELOW "😀" (U+1F600) in Spark's UTF-8 byte order
    // but ABOVE it in UTF-16 `compareTo` — a wrong ordering picks the
    // wrong component minimum
    val names = Seq("｡", "😀", "a", "B", "é", "z9", "", "ß")
    def id(): String = names(rnd.nextInt(names.size)) + rnd.nextInt(6)
    val stringGraphs = Seq(Seq(("｡", "😀")), Seq.empty[(String, String)]) ++
      (1 to 4).map { g =>
        (1 to 10 + rnd.nextInt(30)).map { _ =>
          val a = id()
          rnd.nextInt(10) match {
            case 0 => (a, a)                // self-loop
            case 1 if g % 2 == 0 => (a, null) // null endpoint
            case 2 if g % 2 == 0 => (null, a)
            case _ => (a, id())
          }
        }
      }
    stringGraphs.foreach { es =>
      val edges = es.toDF("src", "target")
      val uf = components(edges)
      val loop = withLoopRows1(components(edges))
      assert(uf == loop, s"edges $es")
      if (es.exists(e => e._1 == null || e._2 == null))
        assert(uf.contains(Row(null, null)), s"edges $es")
    }
    assert(components(Seq(("｡", "😀")).toDF("src", "target")) ==
      Set(Row("｡", "｡"), Row("😀", "｡")))
    assert(components(Seq.empty[(String, String)].toDF("src", "target")).isEmpty)

    (1 to 3).foreach { g =>
      val es = (1 to 10 + rnd.nextInt(30)).map { _ =>
        val a: java.lang.Long = rnd.nextInt(25) - 12L
        rnd.nextInt(10) match {
          case 0 => (a, a)
          case 1 if g != 2 => (a, null: java.lang.Long)
          case _ => (a, java.lang.Long.valueOf(rnd.nextInt(25) - 12L))
        }
      }
      val edges = es.toDF("src", "target")
      val uf = components(edges)
      assert(uf == withLoopRows1(components(edges)), s"edges $es")
      assert(uf.forall(r => r.isNullAt(0) || r.getLong(1) <= r.getLong(0)))
    }
  }

  /** `df` written as one parquet file and read back: a one-split scan,
    * so an edge plan over it runs as one task. */
  private def oneFile(df: DataFrame): DataFrame = {
    val p = s"${graft.core.TempDirs.scratch("graft_cc_one_file")}/edges"
    df.coalesce(1).write.parquet(p)
    graft.sources.ParquetIO.read(spark, p)
  }

  test("law: direct union-find on one-file edges == counted union-find == the loop") {
    val rnd = new scala.util.Random(59)
    def id(): String = ids(rnd.nextInt(ids.size)) + rnd.nextInt(5)
    val stringGraphs = Seq.empty[(String, String)] +: Seq(("｡", "😀")) +: (1 to 5).map { g =>
      (1 to 10 + rnd.nextInt(30)).map { _ =>
        val a = id()
        rnd.nextInt(10) match {
          case 0 => (a, a)                  // self-loop
          case 1 if g % 2 == 0 => (a, null) // null endpoint
          case 2 if g % 2 == 0 => (null, a)
          case _ => (a, id())               // cycles, mirrored and repeated edges
        }
      }
    }
    val mixed = (1 to 3).map { g =>
      (1 to 10 + rnd.nextInt(30)).map { _ =>
        val a: java.lang.Integer = rnd.nextInt(20) - 10
        rnd.nextInt(10) match {
          case 0 => (a, java.lang.Long.valueOf(a.longValue)) // a self-loop across the types
          case 1 if g != 2 => (a, null: java.lang.Long)
          case 2 if g != 2 => (null: java.lang.Integer, java.lang.Long.valueOf(rnd.nextInt(9)))
          case _ => (a, java.lang.Long.valueOf(rnd.nextInt(20) - 10L))
        }
      }
    }
    for (edges <- stringGraphs.map(_.toDF("src", "target")) ++
                  mixed.map(_.toDF("src", "target"))) {
      val one = oneFile(edges)
      // one job: the union-find leaf reads the scan in its own task
      val (cc, jobs) = jobsOf(GraphOps.connectedComponents(one))
      val direct = collectReleased(cc).toSet
      assert(jobs == 1, s"the direct regime ran $jobs jobs")
      // a local Seq's partition count is unknown to the plan: the edge leaf
      val counted = collectReleased(GraphOps.connectedComponents(edges)).toSet
      val loop = withLoopRows1(collectReleased(GraphOps.connectedComponents(one)).toSet)
      val es = edges.collect().toSeq
      assert(direct == counted && direct == loop, s"edges $es")
      if (es.exists(r => r.isNullAt(0) || r.isNullAt(1)))
        assert(direct.contains(Row(null, null)), s"edges $es")
    }
  }

  test("direct union-find past its budget falls back and leaves nothing persisted") {
    // rowsPerPartition = 8: at most 4 edges; 10 run the counted regimes
    val chain = (0 until 10).map(i => (s"n$i", s"n${i + 1}")).toDF("src", "target")
    val (small, big) = (oneFile(chain.limit(4)), oneFile(chain))
    spark.conf.set("graft.loop.rowsPerPartition", "8")
    try {
      val (atBudget, jobs) = jobsOf(collectReleased(GraphOps.connectedComponents(small)).toSet)
      assert(jobs == 2 && atBudget == (0 to 4).map(i => Row(s"n$i", "n0")).toSet,
        s"at the budget: $jobs jobs (the leaf and the collect)")
      val before = sc.getPersistentRDDs.keySet
      val (got, fellBack) = jobsOf(graft.core.Caches.scoped(
        GraphOps.connectedComponents(big).collect().toSet))
      val deadline = System.currentTimeMillis() + 30000
      while ((sc.getPersistentRDDs.keySet -- before).nonEmpty &&
             System.currentTimeMillis() < deadline) Thread.sleep(50)
      val left = sc.getPersistentRDDs.keySet -- before
      assert(left.isEmpty, s"left RDDs $left after the scope's exit")
      // the direct attempt, the edge leaf, the symmetric view and the loop
      assert(fellBack > 4, s"past the budget: $fellBack jobs")
      assert(got == withLoopRows1(collectReleased(GraphOps.connectedComponents(chain)).toSet))
      assert(got == (0 to 10).map(i => Row(s"n$i", "n0")).toSet)
    } finally spark.conf.unset("graft.loop.rowsPerPartition")
  }

  test("ids without hash-map value equality (binary) take the loop and stay correct") {
    val b = (s: String) => s.getBytes("UTF-8")
    val edges = Seq((b("c"), b("b")), (b("b"), b("a")), (b("x"), b("y")))
      .toDF("src", "target")
    val got = GraphOps.connectedComponents(edges).collect()
      .map(r => new String(r.getAs[Array[Byte]](0), "UTF-8") ->
        new String(r.getAs[Array[Byte]](1), "UTF-8")).toMap
    assert(got == Map("a" -> "a", "b" -> "a", "c" -> "a", "x" -> "x", "y" -> "x"))
  }

  test("union-find regime ignores maxIter: a 40-node chain at maxIter = 1 is one component") {
    val chain = (0 until 40).map(i => (s"n$i", s"n${i + 1}")).toDF("src", "target")
    val out = GraphOps.connectedComponents(chain, maxIter = 1)
    assert(out.count() == 41L)
    assert(out.select("component").distinct().collect().toSeq == Seq(Row("n0")))
  }

  test("job guard: connectedComponents on a small graph runs at most 2 jobs") {
    val edges = Seq(("a", "b"), ("b", "c"), ("x", "y"), ("p", "q"), ("q", "r"))
      .toDF("src", "target")
    val (out, jobs) = jobsOf(GraphOps.connectedComponents(edges))
    // the edge leaf's checkpoint plus the union-find task; the symmetric
    // distinct view (a map stage and a result stage) is not built, and
    // the loop ran about 30
    assert(jobs <= 2, s"connectedComponents ran $jobs jobs")
    assert(out.collect().toSet == Set(Row("a", "a"), Row("b", "a"), Row("c", "a"),
      Row("x", "x"), Row("y", "x"), Row("p", "p"), Row("q", "p"), Row("r", "p")))
  }

  test("law: union-find over the edge leaf == the loop with duplicate edges and mixed Int/Long ids") {
    // string graphs with every other edge repeated and some mirrored
    graphs(53, 12, dag = false).foreach { es0 =>
      val es = es0 ++ es0.zipWithIndex.collect {
        case (e, i) if i % 2 == 0 => if (i % 4 == 0) e else e.swap }
      val edges = es.toDF("src", "target")
      assert(collectReleased(GraphOps.connectedComponents(edges)).toSet ==
        withLoopRows1(collectReleased(GraphOps.connectedComponents(edges)).toSet), s"edges $es")
    }
    val rnd = new scala.util.Random(29)
    (1 to 4).foreach { g =>
      val es = (1 to 10 + rnd.nextInt(30)).flatMap { _ =>
        val a: java.lang.Integer = rnd.nextInt(20) - 10
        val b: java.lang.Long = rnd.nextInt(20) - 10L
        val e = rnd.nextInt(10) match {
          case 0 => (a, java.lang.Long.valueOf(a.longValue)) // a self-loop across the types
          case 1 if g % 2 == 0 => (a, null: java.lang.Long)
          case 2 if g % 2 == 0 => (null: java.lang.Integer, b)
          case _ => (a, b)
        }
        Seq.fill(1 + rnd.nextInt(2))(e)
      }
      val edges = es.toDF("src", "target")
      val cc = GraphOps.connectedComponents(edges)
      assert(cc.schema("node_id").dataType == org.apache.spark.sql.types.LongType)
      val uf = collectReleased(cc).toSet
      assert(uf == withLoopRows1(collectReleased(GraphOps.connectedComponents(edges)).toSet),
        s"edges $es")
      // 1: Int and 1L are one node
      val nodes = uf.toSeq.filterNot(_.isNullAt(0)).map(_.getLong(0))
      assert(nodes.size == nodes.distinct.size &&
        nodes.toSet == es.flatMap(e => Seq[Any](e._1, e._2)).filter(_ != null)
          .map(_.toString.toLong).toSet, s"edges $es")
    }
  }

  test("regime boundary: 2 x edge rows above the loop-partition budget runs the loop, at it union-find") {
    // distinct edges, none mirrored and no self-loop: the symmetric view
    // has exactly 2 x 6 rows
    val chain = (0 until 6).map(i => (s"n$i", s"n${i + 1}")).toDF("src", "target")
    def run(budget: Int): (Set[Row], Int) = {
      spark.conf.set("graft.loop.rowsPerPartition", budget.toString)
      try {
        val (cc, jobs) = jobsOf(GraphOps.connectedComponents(chain))
        (collectReleased(cc).toSet, jobs)
      } finally spark.conf.unset("graft.loop.rowsPerPartition")
    }
    val (atBudget, ufJobs) = run(12)
    val (above, loopJobs) = run(11)
    assert(ufJobs <= 2, s"at the budget: $ufJobs jobs")
    // the symmetric view and the loop's rounds
    assert(loopJobs > ufJobs + 2, s"above the budget: $loopJobs jobs")
    assert(atBudget == above && atBudget == (0 to 6).map(i => Row(s"n$i", "n0")).toSet)
  }

  /** The executed plan of a noop write of `df` and the jobs it ran. */
  private def noopWrite(df: DataFrame): (SparkPlan, Int) = {
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]()
    val l = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        plans.add(qe.executedPlan)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(l)
    try {
      val (_, jobs) = jobsOf(df.write.format("noop").mode("overwrite").save())
      assert(plans.size == 1)
      (plans.peek(), jobs)
    } finally spark.listenerManager.unregister(l)
  }

  private def rangeExchanges(plan: SparkPlan): Seq[SparkPlan] = collect(plan) {
    case s: ShuffleExchangeLike if s.outputPartitioning.isInstanceOf[RangePartitioning] => s
  }

  test("a small graph's components sort in place: their leaf carries its row count") {
    val edges = Seq(("a", "b"), ("b", "c"), ("x", "y"), ("p", "q"), ("q", "r"))
      .toDF("src", "target")
    val cc = GraphOps.connectedComponents(edges)
    assert(cc.queryExecution.optimizedPlan.stats.rowCount.contains(BigInt(8)))
    val (plan, jobs) = noopWrite(cc.orderBy("node_id"))
    assert(rangeExchanges(plan).isEmpty && jobs == 1, s"$jobs jobs:\n$plan")
    // below the leaf's size estimate AQE would spread it: the exchange stays
    spark.conf.set("spark.sql.adaptive.coalescePartitions.minPartitionSize", "16")
    try {
      val (kept, _) = noopWrite(cc.orderBy("node_id"))
      assert(rangeExchanges(kept).nonEmpty, s"expected the range exchange:\n$kept")
    } finally spark.conf.unset("spark.sql.adaptive.coalescePartitions.minPartitionSize")
    org.apache.spark.sql.graft.bridge.releaseCheckpoints(cc)
  }

  test("ancestorClosure seeds from the planned partitioning: a shuffled input runs once") {
    val rnd = new scala.util.Random(5)
    val raw = (1 to 60).map { _ =>
      val a = rnd.nextInt(20); (f"v$a%02d", f"v${a + 1 + rnd.nextInt(5)}%02d")
    }.toDF("src", "target")
    // the input's own aggregation is one shuffle stage
    val shuffled = raw.groupBy("src", "target").count().select("src", "target")
    val (viaShuffle, jobsShuffled) =
      jobsOf(GraphOps.ancestorClosure(shuffled).collect().toSet)
    val materialized = shuffled.localCheckpoint()
    val (direct, jobsDirect) =
      jobsOf(GraphOps.ancestorClosure(materialized).collect().toSet)
    assert(viaShuffle == direct)
    // input shuffle: one map-stage job, run once (reading the partition
    // count from `df.rdd` ran it a second time)
    assert(jobsShuffled <= jobsDirect + 1,
      s"shuffled input: $jobsShuffled jobs, materialized input: $jobsDirect")
  }

  private lazy val ccFixture: String = {
    val dir = graft.core.TempDirs.scratch("graft_cc_fixture")
    spark.range(1, 15001).select(col("id").as("o_orderkey")).coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/orders.parquet")
    dir
  }

  test("q_graph_cc's table load runs no job") {
    // the schema comes from the parquet footer on the driver
    val dir = ccFixture
    val (_, jobs) = jobsOf(Tables.load(spark, dir, "orders"))
    assert(jobs == 0, s"loading orders ran $jobs jobs")
  }

  test("q_graph_cc's builder call runs <= 1 job and a noop write of the gate <= 2") {
    // the union-find leaf: its one task scans, sorts, numbers, builds the
    // edges and labels them; the write sorts the small leaf in place
    val dir = ccFixture
    val (cc, jobs) = jobsOf(SparkEntry.queries("q_graph_cc")(spark, dir))
    assert(jobs <= 1, s"q_graph_cc builder ran $jobs jobs")
    val (_, writeJobs) = jobsOf(cc.write.format("noop").mode("overwrite").save())
    assert(jobs + writeJobs <= 2, s"q_graph_cc ran $jobs + $writeJobs jobs")
  }

  test("law: bfsLevels equals a queue BFS (minimal level) on multi-partition layouts") {
    graphs(31, 14, dag = false).zipWithIndex.foreach { case (es, g) =>
      val nodes = es.flatMap(e => Seq(e._1, e._2)).distinct
      val roots = (nodes.take(g % 3 + 1) :+ "orphan").distinct
      val adj = es.groupBy(_._1).map { case (k, v) => k -> v.map(_._2) }
      val level = scala.collection.mutable.Map(roots.map(_ -> 0): _*)
      val queue = scala.collection.mutable.Queue(roots: _*)
      while (queue.nonEmpty) {
        val u = queue.dequeue()
        adj.getOrElse(u, Nil).foreach { v =>
          if (!level.contains(v)) { level(v) = level(u) + 1; queue.enqueue(v) }
        }
      }
      val got = multiPartition(collectReleased(GraphOps.bfsLevels(
          spread(es.toDF("src", "target")), roots.toDF("node_id"), maxIter = 64))
        .map(r => r.getString(0) -> r.getInt(1)).toMap)
      assert(got == level.toMap, s"edges $es")
    }
  }

  test("law: forwardPaths equals a path-count DP on DAGs on multi-partition layouts") {
    graphs(37, 14, dag = true).zipWithIndex.foreach { case (es, g) =>
      // ids end in their index, the DAG's topological order
      val nodes = es.flatMap(e => Seq(e._1, e._2)).distinct
        .sortBy(_.split("_").last.toInt)
      val roots = nodes.filter(_ => g % 2 == 0).take(3) ++ nodes.drop(4).take(1)
      val paths = scala.collection.mutable.Map.empty[String, Long]
      nodes.foreach { v =>
        paths(v) = (if (roots.contains(v)) 1L else 0L) +
          es.filter(_._2 == v).map(e => paths(e._1)).sum
      }
      val got = multiPartition(collectReleased(GraphOps.forwardPaths(
          spread(es.toDF("src", "target")), roots.toDF("node_id"), maxIter = 64))
        .map(r => r.getString(0) -> r.getLong(1)).toMap)
      assert(got == paths.filter(_._2 > 0).toMap, s"edges $es roots $roots")
    }
  }

  test("law: timeBasedForwardEdgesOnly equals naive temporal and plain reachability") {
    val rnd = new scala.util.Random(41)
    graphs(43, 10, dag = false).foreach { es0 =>
      val es = es0.map { case (a, b) => (a, b, rnd.nextInt(6).toLong) }
      // self-loops are dropped; a walk's edge timestamps never decrease,
      // and arriving earliest dominates (it admits every later edge)
      val walk = es.filter(e => e._1 != e._2)
      def temporal(u: String): Set[String] = {
        val best = scala.collection.mutable.Map.empty[String, Long]
        var changed = true
        while (changed) {
          changed = false
          walk.foreach { case (a, b, t) =>
            if ((a == u || best.get(a).exists(_ <= t)) && best.get(b).forall(t < _)) {
              best(b) = t; changed = true
            }
          }
        }
        best.keySet.toSet
      }
      val nodes = es.flatMap(e => Seq(e._1, e._2)).distinct
      val srcPaths = nodes.map(w =>
        w -> nodes.filter(u => temporal(u)(w)).sorted(utf8).mkString(",")).toMap
      val allPaths = ancestorsOf(walk.map(e => (e._1, e._2)), nodes)
      val expected = es.map { case (a, b, t) => (a, b, t, srcPaths(b), allPaths(b)) }
      val got = multiPartition(collectReleased(GraphOps.timeBasedForwardEdgesOnly(
          spread(es.toDF("src", "target", "ts")), "ts", "p")).map(r =>
        (r.getAs[String]("src"), r.getAs[String]("target"), r.getAs[Long]("ts"),
          r.getAs[String]("p:src_paths"), r.getAs[String]("p:all_paths"))).toSeq)
      assert(got.sortBy(_.toString) == expected.sortBy(_.toString), s"edges $es")
    }
  }

  test("law: forwardEdgesOnly's three columns equal a DFS enumeration") {
    graphs(47, 9, dag = false).foreach { es =>
      val nodes = es.flatMap(e => Seq(e._1, e._2)).distinct
      // forward edge: not a self-loop, and its target does not reach its src
      val fwd = es.filter { case (s, t) => s != t && !reach(es, t)(s) }
      val hasParents = es.map(_._2).toSet
      def paths(v: String): Seq[String] =
        if (!hasParents(v)) Seq(v)
        else fwd.filter(_._2 == v).map(_._1).distinct.flatMap(p => paths(p).map(v + "," + _))
      val (srcPaths, allPaths) = (ancestorsOf(fwd, nodes), ancestorsOf(es, nodes))
      val expected = es.map { case (s, t) =>
        (s, t, srcPaths(t), allPaths(t), paths(t).distinct.sorted(utf8).mkString("|"))
      }
      val got = multiPartition(collectReleased(GraphOps.forwardEdgesOnly(
          spread(es.toDF("src", "target")), "f"))
        .map(r => (r.getAs[String]("src"), r.getAs[String]("target"),
          r.getAs[String]("f:src_paths"), r.getAs[String]("f:all_paths"),
          r.getAs[String]("f:ancestors"))).toSeq)
      assert(got.sortBy(_.toString) == expected.sortBy(_.toString), s"edges $es")
    }
  }

  test("law: no loop leaf outlives its result (default and one-row loop partitions)") {
    val edges = Seq(("a", "b"), ("b", "c"), ("a", "c"), ("c", "d"), ("x", "y"))
      .toDF("src", "target")
    val timed = edges.withColumn("ts", lit(1L))
    val roots = Seq("a").toDF("node_id")
    val loops = Seq[(String, () => DataFrame)](
      "bfsLevels" -> (() => GraphOps.bfsLevels(edges, roots)),
      "forwardPaths" -> (() => GraphOps.forwardPaths(edges, roots)),
      "connectedComponents" -> (() => GraphOps.connectedComponents(edges)),
      "ancestorClosure" -> (() => GraphOps.ancestorClosure(edges)),
      "forwardEdgesOnly" -> (() => GraphOps.forwardEdgesOnly(edges, "f")),
      "timeBasedForwardEdgesOnly" ->
        (() => GraphOps.timeBasedForwardEdgesOnly(timed, "ts", "t")))
    for (sized <- Seq(false, true); (name, loop) <- loops) {
      val before = sc.getPersistentRDDs.keySet
      val result = if (sized) withLoopRows1(loop()) else loop()
      result.collect()
      org.apache.spark.sql.graft.bridge.releaseCheckpoints(result)
      val left = sc.getPersistentRDDs.keySet -- before
      assert(left.isEmpty, s"$name (rowsPerPartition=1: $sized) left RDDs $left")
    }
  }

  test("bfsLevels at maxIter warns and returns the levels up to maxIter, no deeper") {
    val chain = (0 until 10).map(i => (s"n$i", s"n${i + 1}")).toDF("src", "target")
    val got = collectReleased(GraphOps.bfsLevels(chain, Seq("n0").toDF("node_id"), maxIter = 3))
      .map(r => r.getString(0) -> r.getInt(1)).toMap
    assert(got == (0 to 3).map(i => s"n$i" -> i).toMap)
  }

  test("forwardPaths at maxIter warns and counts only paths of at most maxIter hops") {
    // a ladder: n_i -> n_{i+1} and n_i -> n_{i+2}, so path counts keep
    // growing with the hop budget
    val es = (0 until 8).flatMap(i => Seq((s"n$i", s"n${i + 1}"), (s"n$i", s"n${i + 2}")))
    // paths from n0 of at most 3 hops, counted by endpoint
    var paths = Seq(List("n0"))
    var all = paths
    (1 to 3).foreach { _ =>
      paths = paths.flatMap(p => es.filter(_._1 == p.head).map(e => e._2 :: p))
      all ++= paths
    }
    val expected = all.groupBy(_.head).map { case (v, ps) => v -> ps.size.toLong }
    val got = collectReleased(GraphOps.forwardPaths(es.toDF("src", "target"),
        Seq("n0").toDF("node_id"), maxIter = 3)).map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == expected)
  }
}
