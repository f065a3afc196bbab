package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import graft.operators.GraphOps

/** How the graph loops are sized and what they cost in jobs.
  * connectedComponents has two regimes: union-find in one task when the
  * symmetric edge view fits one loop partition (`graft.loop.rowsPerPartition`,
  * default 1M rows — every fixture here), and the distributed
  * label-propagation loop otherwise (forced with rowsPerPartition = 1). */
class GraphLoopSpec extends SparkTestBase {
  import spark.implicits._

  private def withLoopRows1[A](body: => A): A = {
    spark.conf.set("graft.loop.rowsPerPartition", "1")
    try body finally spark.conf.unset("graft.loop.rowsPerPartition")
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

  test("job guard: connectedComponents on a small graph runs at most 3 jobs") {
    val edges = Seq(("a", "b"), ("b", "c"), ("x", "y"), ("p", "q"), ("q", "r"))
      .toDF("src", "target")
    val (out, jobs) = jobsOf(GraphOps.connectedComponents(edges))
    // the symmetric view's checkpoint (its shuffle map stage and result
    // stage) plus the union-find task; the loop ran about 30
    assert(jobs <= 3, s"connectedComponents ran $jobs jobs")
    assert(out.collect().toSet == Set(Row("a", "a"), Row("b", "a"), Row("c", "a"),
      Row("x", "x"), Row("y", "x"), Row("p", "p"), Row("q", "p"), Row("r", "p")))
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

  test("q_graph_cc's builder call runs >= 9 jobs besides its table load") {
    // the distributed ordinal plus the component step: the iterative_loops
    // workload is q_graph_cc, and perfbench's traced run lists it as a loop
    // gate (its report threshold, 10 builder jobs, still counts the schema
    // job the table load no longer runs)
    val dir = ccFixture
    val (_, loadJobs) = jobsOf(Tables.load(spark, dir, "orders"))
    val (_, jobs) = jobsOf(SparkEntry.queries("q_graph_cc")(spark, dir))
    assert(jobs - loadJobs >= 9, s"q_graph_cc builder ran $jobs jobs, $loadJobs of them loading")
  }
}
