package graft

import java.util.concurrent.Executors
import java.util.concurrent.atomic.AtomicLong
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.bridge
import graft.operators.GraphOps

/** The checkpoint leaf every iterative loop builds
  * (`bridge.checkpointLeaf`): its declared hash layout survives AQE, it
  * keeps the statistics `Dataset.checkpoint` stores, it carries no
  * constraints, observed probes surface, and building it never writes the
  * shared session conf — so graph loops can run concurrently. */
class CheckpointLeafSpec extends SparkTestBase {
  import spark.implicits._

  private val aqe = new AdaptiveSparkPlanHelper {}

  /** Shuffle exchanges in the final adaptive plan, after running `df`. */
  private def shuffles(df: DataFrame): Int = {
    df.collect()
    aqe.collect(df.queryExecution.executedPlan) { case s: ShuffleExchangeExec => s }.size
  }

  private def withConf[A](key: String, value: String)(body: => A): A = {
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, value)
    try body finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  test("leaves declared on hash(k, 3) join on k with no shuffle; undeclared ones shuffle") {
    val l = (1 to 2000).map(i => (i % 97, i)).toDF("k", "v").repartition(3, col("k"))
    val r = (1 to 500).map(i => (i % 97, s"x$i")).toDF("k", "name").repartition(3, col("k"))
    def join(declare: Boolean): DataFrame = {
      def leaf(df: DataFrame) =
        if (declare) bridge.checkpointLeaf(df, reliable = false, Seq("k"), Some(3))
        else bridge.checkpointLeaf(df, reliable = false)
      leaf(l).join(leaf(r), "k")
    }
    // coalescing off: with it on, OneJobPlan reads leaves this small in
    // one task, and the undeclared join shuffles nothing either (below)
    withConf("spark.sql.adaptive.coalescePartitions.enabled", "false") {
      withConf("spark.sql.autoBroadcastJoinThreshold", "-1") {
        val declared = join(declare = true)
        val undeclared = join(declare = false)
        assert(shuffles(declared) == 0)
        // the finding the declaration exists for: AQE drops the layout a
        // plain checkpoint's plan placed, so the join re-shuffles both leaves
        assert(shuffles(undeclared) >= 1)
        assert(declared.collect().toSet == undeclared.collect().toSet)
        assert(declared.count() == (0 until 97).map(k =>
          (1 to 2000).count(_ % 97 == k).toLong * (1 to 500).count(_ % 97 == k)).sum)
      }
    }
    withConf("spark.sql.autoBroadcastJoinThreshold", "-1") {
      val oneTask = join(declare = false)
      assert(shuffles(oneTask) == 0)
      assert(oneTask.collect().toSet == join(declare = true).collect().toSet)
    }
  }

  test("declaring a partition count the leaf does not have throws") {
    val df = (1 to 100).map(i => (i % 7, i)).toDF("k", "v").repartition(3, col("k"))
    val e = intercept[IllegalArgumentException](
      bridge.checkpointLeaf(df, reliable = false, Seq("k"), Some(4)))
    assert(e.getMessage.contains("declared 4 partitions"))
  }

  test("a leaf keeps Dataset.checkpoint's statistics and carries no constraints") {
    val src = (1 to 100).toDF("v").filter(col("v") > 10)
    val leaf = bridge.checkpointLeaf(src, reliable = false)
    val sparks = src.localCheckpoint()
    val (ours, theirs) = (leaf.queryExecution.analyzed, sparks.queryExecution.analyzed)
    assert(ours.stats.sizeInBytes == theirs.stats.sizeInBytes)
    assert(ours.stats.rowCount == theirs.stats.rowCount)
    assert(theirs.constraints.nonEmpty)
    assert(ours.constraints.isEmpty)
    assert(leaf.as[Int].collect().sorted.toSeq == (11 to 100))
  }

  test("a probe observed on the frame surfaces after its checkpoint job") {
    val observed = (1 to 100).toDF("v").filter(col("v") > 10)
      .observe("probe", count(lit(1)).as("n"), sum(col("v")).as("s"))
    bridge.checkpointLeaf(observed, reliable = false)
    val row = observed.queryExecution.observedMetrics("probe")
    assert(row.getLong(0) == 90L && row.getLong(1) == (11 to 100).sum.toLong)
  }

  test("law: two graph loops in flight leave the constraint flag alone and equal their sequential runs") {
    // chains deep enough for at least 4 doubling rounds (maxIter 3 fails)
    val chain = (0 until 40).map(i => (f"c$i%02d", f"c${i + 1}%02d")).toDF("src", "target")
    val timed = (0 until 40).map(i => (f"t$i%02d", f"t${i + 1}%02d", i / 3L))
      .toDF("src", "target", "ts")
    def closure() = GraphOps.ancestorClosure(chain).collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    def temporal() = GraphOps.timeBasedForwardEdgesOnly(timed, "ts", "p").collect()
      .map(_.toSeq).toSet
    val flag = "spark.sql.constraintPropagation.enabled"
    withConf("graft.loop.rowsPerPartition", "1") {
      intercept[IllegalStateException](GraphOps.ancestorClosure(chain, maxIter = 3))
      intercept[IllegalStateException](
        GraphOps.timeBasedForwardEdgesOnly(timed, "ts", "p", maxIter = 3))
      val (expectedClosure, expectedTemporal) = (closure(), temporal())
      assert(expectedClosure.size == 40 * 41 / 2)

      val anomalies = new AtomicLong
      val samples = new AtomicLong
      @volatile var probing = true
      val prober = new Thread(() => while (probing) {
        if (spark.conf.get(flag) != "true") anomalies.incrementAndGet()
        samples.incrementAndGet()
        Thread.sleep(1)
      }, "constraint-flag-prober")
      prober.start()
      val pool = Executors.newFixedThreadPool(2)
      implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
      try {
        val c = Future(closure())
        val t = Future(temporal())
        assert(Await.result(c, 5.minutes) == expectedClosure)
        assert(Await.result(t, 5.minutes) == expectedTemporal)
      } finally {
        probing = false
        prober.join()
        pool.shutdown()
      }
      assert(samples.get > 0)
      assert(anomalies.get == 0, s"the prober read $flag != true ${anomalies.get} times")
    }
    assert(spark.conf.get(flag) == "true")
  }
}
