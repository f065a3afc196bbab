package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Shared local SparkSession for specs. */
trait SparkTestBase extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkTestBase.session
  def sc = spark.sparkContext
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
