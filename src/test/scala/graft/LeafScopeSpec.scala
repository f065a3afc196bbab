package graft

import java.util.concurrent.CountDownLatch
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import graft.core.Caches
import graft.operators.GraphOps

/** A checkpoint leaf belongs to the query scope open where it was built
  * (`Caches.scoped`): readable inside it, freed at its exit, normally or
  * after a throw, and never by another thread's scope. Unscoped results
  * keep the ContextCleaner lifetime: nothing frees them early. */
class LeafScopeSpec extends SparkTestBase {
  import spark.implicits._

  private def persisted: Set[Int] = sc.getPersistentRDDs.keySet.toSet

  /** Ids persisted by `body` that are still persisted after it, polled:
    * `unpersist(blocking = false)` returns before the blocks go. */
  private def leftBy(body: => Unit): Set[Int] = {
    val before = persisted
    body
    val deadline = System.currentTimeMillis() + 30000
    while ((persisted -- before).nonEmpty && System.currentTimeMillis() < deadline)
      Thread.sleep(50)
    persisted -- before
  }

  private def withLoopRows1[A](body: => A): A = {
    spark.conf.set("graft.loop.rowsPerPartition", "1")
    try body finally spark.conf.unset("graft.loop.rowsPerPartition")
  }

  /** Two chains, 0 -> 1 -> ... -> 9 and 20 -> ... -> 29: label propagation
    * needs several rounds on them. */
  private val chains: DataFrame =
    ((0 until 9) ++ (20 until 29)).map(i => (i, i + 1)).toDF("src", "target")
  private val components: Set[Row] =
    ((0 to 9).map(Row(_, 0)) ++ (20 to 29).map(Row(_, 20))).toSet

  test("law: a components result is readable in its scope and freed at its exit") {
    for (loop <- Seq(false, true)) {
      var inScope = Set.empty[Int]
      var cc: DataFrame = null
      val left = leftBy {
        Caches.scoped {
          val before = persisted
          cc = if (loop) withLoopRows1(GraphOps.connectedComponents(chains))
               else GraphOps.connectedComponents(chains)
          assert(cc.collect().toSet == components, s"loop: $loop")
          inScope = persisted -- before
        }
      }
      assert(inScope.nonEmpty, s"loop: $loop pinned nothing; the law would be vacuous")
      assert(left.isEmpty, s"loop: $loop left RDDs $left after its scope's exit")
      // read after the exit: Spark's missing-block error, never other rows
      val e = intercept[Exception](cc.collect())
      assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .exists(t => String.valueOf(t.getMessage).contains("Checkpoint block")), e)
    }
  }

  test("law: a loop that throws at maxIter leaves nothing persisted after its scope") {
    val chain = (0 until 12).map(i => (s"n$i", s"n${i + 1}", i.toLong)).toDF("src", "target", "ts")
    val throwing = Seq[(String, () => DataFrame)](
      "ancestorClosure" -> (() => GraphOps.ancestorClosure(chain, maxIter = 2)),
      "timeBasedForwardEdgesOnly" ->
        (() => GraphOps.timeBasedForwardEdgesOnly(chain, "ts", "t", maxIter = 2)),
      "forwardEdgesOnly" -> (() => GraphOps.forwardEdgesOnly(chain, "f", maxIter = 5)))
    for ((name, loop) <- throwing) {
      val left = leftBy {
        intercept[IllegalStateException](Caches.scoped(loop().collect()))
      }
      assert(left.isEmpty, s"$name left RDDs $left after throwing in its scope")
    }
  }

  test("law: an unscoped multi-round result survives the call and a bare release") {
    val cc = withLoopRows1(GraphOps.connectedComponents(chains))
    try {
      Caches.release()
      assert(cc.collect().toSet == components)
    } finally org.apache.spark.sql.graft.bridge.releaseCheckpoints(cc)
  }

  test("law: one thread's scope exit never frees another thread's leaves") {
    withLoopRows1 {
      val bBuilt = new CountDownLatch(1)
      val aDone = new CountDownLatch(1)
      @volatile var bRows: Set[Row] = null
      @volatile var failure: Throwable = null
      val tB = new Thread(() => {
        try Caches.scoped {
          val cc = GraphOps.connectedComponents(chains)
          bBuilt.countDown()
          aDone.await()
          // A has built, read and released its own leaves by now
          bRows = cc.collect().toSet
        } catch { case t: Throwable => failure = t; bBuilt.countDown() }
      })
      tB.start()
      bBuilt.await()
      Caches.scoped {
        assert(GraphOps.connectedComponents(chains).collect().toSet == components)
      }
      aDone.countDown()
      tB.join()
      assert(failure == null, s"thread B failed: $failure")
      assert(bRows == components)
    }
  }
}
