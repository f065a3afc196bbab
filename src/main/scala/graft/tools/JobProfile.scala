package graft.tools

import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}
import org.apache.spark.scheduler._
import org.apache.spark.sql.Observation
import org.apache.spark.sql.functions.{count, lit}

/** Dev tool: per-gate Spark job/stage/task counts + wall time, to tell
  * scheduler-cadence-bound gates (many tiny jobs: iterative loops,
  * checkpoint probes) from data-bound ones. Each gate runs as the
  * benchmark runs it: the builder call, then a noop write of every
  * column (a `count()` would let the optimizer drop work the gate's
  * consumer pays for, such as the presentation sort), rows counted with
  * `observe`. Each gate runs three times in a row and prints its fastest
  * wall and task time and the min-max of its jobs, stages and tasks over
  * the three: a gate's job count can move by a job between identical
  * runs, so a change in it is read against that spread. Not part of the
  * driver contract.
  * Usage: runMain graft.tools.JobProfile q_graph_cc ... */
object JobProfile {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.GraftSession.builder("graft-job-profile", 32)
      .master("local[32]")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark.range(1000000).selectExpr("sum(id)", "count(distinct id % 7)").collect()

    val jobs = new AtomicInteger
    val stages = new AtomicInteger
    val tasks = new AtomicInteger
    val taskTimeMs = new AtomicLong
    // SPARK_GRAFT_JOB_LOG=1: one line per job with its duration, its
    // stages' names and the RDD-operation scopes its stages run
    // (Exchange, BroadcastExchange, checkpoint, ...), to attribute an
    // iterative gate's wall time to its individual jobs
    val jobLog = sys.env.get("SPARK_GRAFT_JOB_LOG").contains("1")
    val jobStart = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String)]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        jobs.incrementAndGet()
        if (jobLog) {
          val stageNames = e.stageInfos.map(_.name).distinct.mkString("; ")
          val scopes = e.stageInfos.flatMap(_.rddInfos.flatMap(_.scope.map(_.name)))
            .distinct.mkString(", ")
          jobStart.put(e.jobId, (e.time, s"stages [$stageNames] scopes [$scopes]"))
        }
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = if (jobLog) {
        Option(jobStart.remove(e.jobId)).foreach { case (t0, what) =>
          println(f"  [job] ${e.jobId}%4d ${(e.time - t0) / 1e3}%7.2fs  $what")
        }
      }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        stages.incrementAndGet()
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
        tasks.incrementAndGet()
        if (e.taskInfo != null) taskTimeMs.addAndGet(e.taskInfo.duration)
      }
    })
    def drain(): Unit =
      try org.apache.spark.sql.graft.bridge.waitListenerBusEmpty(spark.sparkContext)
      catch { case _: java.util.concurrent.TimeoutException => Thread.sleep(500) }

    val names = if (args.nonEmpty) args.toSeq else Seq("q_graph_cc")
    def range(xs: Seq[Int]): String = if (xs.min == xs.max) s"${xs.min}" else s"${xs.min}-${xs.max}"
    println(f"${"gate"}%-28s ${"wall_s"}%8s ${"jobs"}%7s ${"stages"}%7s ${"tasks"}%7s ${"tasktime_s"}%10s")
    names.foreach { name =>
      val passes = (1 to 3).map { _ =>
        drain()
        val (j0, s0, t0, tt0) = (jobs.get, stages.get, tasks.get, taskTimeMs.get)
        val w0 = System.nanoTime()
        val n = graft.core.Caches.scoped {
          val obs = Observation()
          graft.SparkEntry.queries(name)(spark, sfDir)
            .observe(obs, count(lit(1)).as("rows"))
            .write.format("noop").mode("overwrite").save()
          obs.get("rows")
        }
        val wall = (System.nanoTime() - w0) / 1e9
        graft.core.Caches.release()
        drain()
        (wall, jobs.get - j0, stages.get - s0, tasks.get - t0, (taskTimeMs.get - tt0) / 1e3, n)
      }
      println(f"$name%-28s ${passes.map(_._1).min}%8.2f ${range(passes.map(_._2))}%7s " +
        f"${range(passes.map(_._3))}%7s ${range(passes.map(_._4))}%7s " +
        f"${passes.map(_._5).min}%10.1f rows=${passes.head._6}")
    }
    spark.stop()
  }
}
