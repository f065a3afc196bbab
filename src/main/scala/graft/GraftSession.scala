package graft

import org.apache.spark.sql.SparkSession

/**
 * Session factory with the engine's recommended configuration: AQE (with
 * skew-join handling), UTC, graft's native SQL functions registered via
 * GraftExtensions, and shuffle parallelism sized to the environment
 * instead of Spark's default 200.
 */
object GraftSession {

  def builder(appName: String = "graft",
              shufflePartitions: Int = Runtime.getRuntime.availableProcessors())
      : SparkSession.Builder =
    SparkSession.builder()
      .appName(appName)
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      // let AQE re-plan cached-plan output partitioning: operators that
      // persist a small derived frame for a provable double-read (LSH
      // bands, gram hashes, BFS edge lists) otherwise execute every
      // shuffle under the persist at the raw partition count, uncoalesced
      // (measured 1.2-1.5x on the minhashClusters gate family at sf0.1)
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .withExtensions(new graft.plans.GraftExtensions)

  /** Local session for tests / single-node runs. */
  def local(cores: Int = Runtime.getRuntime.availableProcessors()): SparkSession = {
    val s = builder("graft-local", cores)
      .master(s"local[$cores]")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
