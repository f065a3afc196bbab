package graft

import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Shared local SparkSession for specs. */
trait SparkTestBase extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkTestBase.session
  def sc = spark.sparkContext

  /** `body` with AQE coalescing and broadcast joins off, so every loop
    * layout keeps its multi-partition count (no leaf is coalesced to one
    * partition) and decides where rows meet (a broadcast join ignores
    * both sides' layouts, and test graphs are small enough to broadcast). */
  def layoutBound[A](body: => A): A = {
    val confs = Seq("spark.sql.adaptive.coalescePartitions.enabled" -> "false",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body finally confs.foreach { case (k, _) => spark.conf.unset(k) }
  }

  /** Jobs started while `body` runs (the listener bus is drained on both
    * sides, so no earlier job leaks in and no late event is missed). */
  def jobsOf[A](body: => A): (A, Int) = {
    val jobs = new AtomicInteger
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    org.apache.spark.sql.graft.bridge.waitListenerBusEmpty(sc)
    sc.addSparkListener(l)
    try {
      val out = body
      org.apache.spark.sql.graft.bridge.waitListenerBusEmpty(sc)
      (out, jobs.get)
    } finally sc.removeSparkListener(l)
  }
}

object SparkTestBase {
  /** The engine's recommended session config (GraftSession: AQE,
    * cached-plan re-partitioning, GraftExtensions), on 4 local cores
    * with 4 shuffle partitions. */
  lazy val session: SparkSession = {
    val s = GraftSession.builder("graft-test", 4)
      .master("local[4]")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}
