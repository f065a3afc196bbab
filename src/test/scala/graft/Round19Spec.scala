package graft

import org.apache.spark.sql.functions._
import graft.operators.GraphOps

/** Round-19 optimization laws: the iterative graph loops keep all their
  * frames on an explicitly DECLARED hash layout (bridge-rewrapped
  * checkpoint leaves) whose partition count adapts to observed row
  * counts. The gate fixtures are small enough that every loop runs the
  * N == 1 fast path — these laws force the MULTI-partition path
  * (graft.loop.rowsPerPartition = 1, so every round repartitions to one
  * partition per row, capped by the shuffle knob) and prove the declared
  * co-location never changes results. A wrong declaration would
  * mis-co-locate the loop joins and corrupt components/closures. */
class Round19Spec extends SparkTestBase {
  import spark.implicits._

  private def withLoopRows1[A](body: => A): A = {
    spark.conf.set("graft.loop.rowsPerPartition", "1")
    try body finally spark.conf.unset("graft.loop.rowsPerPartition")
  }

  /** The laws below run under the shipped config, then layout-bound. */
  private def shippedThenLayoutBound(body: => Unit): Unit = { body; layoutBound(body) }

  private def unionFind(edges: Seq[(String, String)]): Map[String, String] = {
    val parent = scala.collection.mutable.Map.empty[String, String]
    def find(x: String): String = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (a, b) =>
      parent.getOrElse(a, parent.update(a, a))
      parent.getOrElse(b, parent.update(b, b))
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(if (ra < rb) rb else ra) = if (ra < rb) ra else rb
    }
    val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct
    nodes.map(n => n -> find(n)).toMap
  }

  test("law: connectedComponents on the multi-partition declared layout equals union-find") {
    val rnd = new scala.util.Random(19)
    val edges = (1 to 120).map(_ =>
      (f"n${rnd.nextInt(40)}%03d", f"n${rnd.nextInt(40)}%03d"))
    // repeated find() collapses chains fully for the expected map
    val uf = unionFind(edges)
    val expected = uf.map { case (n, _) =>
      var r = n; while (uf(r) != r) r = uf(r); n -> r
    }
    shippedThenLayoutBound {
      val (got, parts) = withLoopRows1 {
        val cc = GraphOps.connectedComponents(edges.toDF("src", "target"))
        try (cc.collect().map(r => r.getString(0) -> r.getString(1)).toMap,
          cc.rdd.getNumPartitions)
        finally org.apache.spark.sql.graft.bridge.releaseCheckpoints(cc)
      }
      // the labels came out of the distributed loop, on its sized layout
      assert(parts > 1, s"loop ran on $parts partition(s)")
      assert(got == expected)
    }
  }

  test("law: ancestorClosure on the multi-partition declared layout equals naive closure") {
    // random DAG: edges only from lower to higher index, so it terminates
    val rnd = new scala.util.Random(7)
    val edges = (1 to 80).map { _ =>
      val a = rnd.nextInt(25); val b = a + 1 + rnd.nextInt(10)
      (f"v$a%03d", f"v$b%03d")
    }.distinct
    // naive reachability
    val adjIn = edges.groupBy(_._2).map { case (t, es) => t -> es.map(_._1).toSet }
    def ancestors(n: String): Set[String] = {
      var acc = Set.empty[String]
      var frontier = adjIn.getOrElse(n, Set.empty)
      while (frontier.nonEmpty) {
        acc ++= frontier
        frontier = frontier.flatMap(f => adjIn.getOrElse(f, Set.empty)) -- acc
      }
      acc
    }
    val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct
    val expected = nodes.flatMap(n => ancestors(n).map(a => (n, a))).toSet
    shippedThenLayoutBound {
      val got = withLoopRows1 {
        val closure = GraphOps.ancestorClosure(edges.toDF("src", "target"))
        try closure.collect().map(r => (r.getString(0), r.getString(1))).toSet
        finally org.apache.spark.sql.graft.bridge.releaseCheckpoints(closure)
      }
      assert(got == expected)
    }
  }

  test("law: timeBasedForwardEdgesOnly is layout-invariant (multi-partition == default)") {
    val rnd = new scala.util.Random(3)
    val edges = (1 to 60).map { _ =>
      val a = rnd.nextInt(15); val b = a + 1 + rnd.nextInt(5)
      (f"t$a%02d", f"t$b%02d", rnd.nextInt(20).toLong)
    }.distinct
    val df = edges.toDF("src", "target", "ts")
    def run() = GraphOps.timeBasedForwardEdgesOnly(df, "ts", "p")
      .orderBy("src", "target", "ts")
      .collect().map(_.toSeq).toSeq
    val multi = withLoopRows1 { run() }
    val default = run()
    assert(multi == default)
  }
}
