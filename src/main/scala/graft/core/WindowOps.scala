package graft.core

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/**
 * Windows & time series (reference: dataframe.py:638-729 window_aggregate;
 * §2.12).
 *
 * The reference windows over the *sorted distinct values* of the window
 * column (not raw rows): tumbling chunks of `winsize` distinct values, or
 * sliding windows replicating each row into every window containing it.
 * For time-typed columns the idiomatic Spark mapping is `window(ts, ...)`
 * (tumbling) / duplicated membership via slide (sliding) — both below.
 */
object WindowOps {

  /** Tumbling time window aggregate: groups by `window(ts, size)` plus
    * optional keys. Map-side partial agg + one shuffle. */
  def tumblingTimeAggregate(df: DataFrame, tsCol: String, size: String,
                            keys: Seq[String], aggCols: Seq[String],
                            aggFuncs: Seq[String]): DataFrame = {
    val exprs = aggCols.zip(aggFuncs).map { case (c, f) =>
      AggRegistry.expr(f, col(c)).as(AggRegistry.outputName(c, f)) }
    val g = df.groupBy(window(col(tsCol), size) +: keys.map(col): _*)
    g.agg(exprs.head, exprs.tail: _*)
      .withColumn("window_start", col("window.start"))
      .withColumn("window_end", col("window.end"))
      .drop("window")
  }

  /** Sliding time window aggregate — rows replicated into every window
    * they fall in, exactly the reference's sliding semantics
    * (dataframe.py:674-678, 711-715). */
  def slidingTimeAggregate(df: DataFrame, tsCol: String, size: String,
                           slide: String, keys: Seq[String],
                           aggCols: Seq[String], aggFuncs: Seq[String]): DataFrame = {
    val exprs = aggCols.zip(aggFuncs).map { case (c, f) =>
      AggRegistry.expr(f, col(c)).as(AggRegistry.outputName(c, f)) }
    val g = df.groupBy(window(col(tsCol), size, slide) +: keys.map(col): _*)
    g.agg(exprs.head, exprs.tail: _*)
      .withColumn("window_start", col("window.start"))
      .withColumn("window_end", col("window.end"))
      .drop("window")
  }

  /**
   * Globally contiguous 0-based ordinals over the sorted distinct window
   * values, WITHOUT a single-partition window: `XDF.globalOrdinal`
   * sorts globally, then lifts per-partition positions to global ranks
   * with literal per-partition offsets — Tungsten end to end, no RDD
   * hop, no corpus-sized row-format round-trip. A
   * `row_number().over(Window.orderBy(...))` here would move every
   * distinct value to ONE task — fine for a handful of categorical
   * values, a straight scale-killer when the window column is
   * near-unique (timestamps, the likeliest real input).
   */
  private def ordinals(distinct: DataFrame, winCol: String): DataFrame =
    ordinalsWithCount(distinct, winCol)._1

  /** [[ordinals]] plus the distinct cardinality, read off the ordinal
    * machinery's per-partition counts — saves the callers' separate
    * count job over the distinct frame. */
  private def ordinalsWithCount(distinct: DataFrame, winCol: String): (DataFrame, Long) = {
    val (d, n) = XDF.globalOrdinalWithCount(distinct, Seq(col(winCol)), "__ord__")
    (d.withColumn("__ord__", col("__ord__") - 1), n)
  }

  /** Distinct-cardinality guard for the ordinal-join build side: broadcast
    * only while the distinct window values stay modest (an unconditional
    * broadcast OOMs the driver/executors when a caller windows on a
    * near-unique column); above the limit fall back to a shuffle join —
    * with AQE on, Spark still promotes it back to broadcast at runtime if
    * the actual size permits. */
  private def maybeBroadcast(distinctVals: DataFrame, n: Long): DataFrame = {
    val limit = distinctVals.sparkSession.conf
      .get("graft.window.distinctBroadcastLimit", "1000000").toLong
    if (n <= limit) broadcast(distinctVals) else distinctVals
  }

  /** Sliding count-based variant (dataframe.py:674-678, 711-715): every
    * run of `winSize` consecutive distinct values is a window; a value
    * with ordinal o replicates into windows [max(0, o-winSize+1) .. o] —
    * explode(sequence) fan-out, then one aggregation. */
  def slidingWindowAggregate(df: DataFrame, winCol: String, aggCols: Seq[String],
                             aggFuncs: Seq[String], winSize: Int): DataFrame = {
    // null winCol rows are excluded up front: a null would take an ordinal
    // in distinctVals but never match the equi-join, silently losing rows
    // AND misaligning every window after it
    val (distinctVals, n) = ordinalsWithCount(df.filter(col(winCol).isNotNull)
      .select(col(winCol).cast(StringType).as(winCol)).distinct(), winCol)
    // only COMPLETE windows exist (reference dataframe.py:676-678 assigns
    // win_index only while num_values - win_index >= winsize): valid
    // window starts are 0 .. n-winSize
    val maxStart = n - winSize
    if (maxStart < 0)
      return df.sparkSession.createDataFrame(
        new java.util.ArrayList[org.apache.spark.sql.Row](),
        windowAggregate(df.limit(0), winCol, aggCols, aggFuncs, winSize).schema)
    val tagged = df.withColumn(winCol, col(winCol).cast(StringType))
      .join(maybeBroadcast(distinctVals, n), Seq(winCol), "inner")
      .withColumn("__win__", explode(sequence(
        greatest(lit(0L), col("__ord__") - (winSize - 1)),
        least(col("__ord__").cast("long"), lit(maxStart)))))
    val label = concat_ws(" - ", min(col(winCol)), max(col(winCol)))
    val exprs = label.as(s"$winCol:window") +:
      aggCols.zip(aggFuncs).map { case (c, f) =>
        AggRegistry.expr(f, col(c)).as(AggRegistry.outputName(c, f)) }
    tagged.groupBy(col("__win__")).agg(exprs.head, exprs.tail: _*).drop("__win__")
  }

  /**
   * Reference-faithful `window_aggregate`: tumbling count-based windows
   * over the sorted DISTINCT values of `winCol` (dataframe.py:655-672),
   * window label = "first - last" of the value range (dataframe.py:713).
   *
   * Distributed shape: a range-partitioned ordinal (see `ordinals`) gives
   * each distinct value its rank; `floor(ord/winsize)` is its tumbling
   * window id; the label is the min/max value within the window. No
   * single-partition WindowExec anywhere, and the ordinal join broadcasts
   * only under the cardinality guard.
   */
  def windowAggregate(df: DataFrame, winCol: String, aggCols: Seq[String],
                      aggFuncs: Seq[String], winSize: Int): DataFrame = {
    // null winCol rows excluded for the same reason as the sliding variant
    val (ord, n) = ordinalsWithCount(df.filter(col(winCol).isNotNull)
      .select(col(winCol).cast(StringType).as(winCol)).distinct(), winCol)
    val distinctVals = ord
      .withColumn("__win__", floor(col("__ord__") / winSize))
      .drop("__ord__")
    val tagged = df.withColumn(winCol, col(winCol).cast(StringType))
      .join(maybeBroadcast(distinctVals, n), Seq(winCol), "inner")
    val label = concat_ws(" - ", min(col(winCol)), max(col(winCol)))
    val exprs = label.as(s"$winCol:window") +:
      aggCols.zip(aggFuncs).map { case (c, f) =>
        AggRegistry.expr(f, col(c)).as(AggRegistry.outputName(c, f)) }
    tagged.groupBy(col("__win__")).agg(exprs.head, exprs.tail: _*).drop("__win__")
  }
}
