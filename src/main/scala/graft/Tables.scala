package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.sources.ParquetIO

/**
 * The ONE testdata table loader shared by every correctness gate.
 *
 * The driver's `events.parquet` has shipped with two physical encodings
 * of the `ts` column over time: parquet TIMESTAMP(NANOS) — which Spark
 * only reads via `spark.sql.legacy.parquet.nanosAsLong=true`, surfacing
 * a LongType of epoch nanos — and parquet TIMESTAMP(MICROS) without
 * UTC-adjustment, which Spark surfaces as TIMESTAMP_NTZ. Query code that
 * assumes one encoding breaks the day the other ships (it did: round 7's
 * q_sessionize_batch). Loading through here guarantees `events.ts` is
 * always a timestamp column, whatever the file carries, and `tsMillis`
 * gives epoch millis from either timestamp flavor under the UTC sessions
 * every graft entrypoint builds.
 *
 * Tables load through `sources.ParquetIO.read`: the schema comes from the
 * file's footer on the driver, so a load runs no Spark job.
 */
private[graft] object Tables {

  def load(s: SparkSession, dir: String, name: String): DataFrame = {
    val df = ParquetIO.read(s, s"$dir/$name.parquet")
    if (name == "events") normalizeEventTs(df) else df
  }

  /** `ts` → a timestamp column for any physical encoding the fixture has
    * ever used. Raw nanos-long becomes TimestampType; the two timestamp
    * flavors pass through untouched (downstream date_format/window code
    * is flavor-agnostic under a UTC session). */
  def normalizeEventTs(df: DataFrame): DataFrame = df.schema("ts").dataType match {
    case LongType =>
      df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
    case TimestampType | TimestampNTZType => df
    case other =>
      throw new IllegalStateException(
        s"events.ts has unsupported physical type $other — extend Tables.normalizeEventTs")
  }

  /** Epoch millis from a normalized `ts`. The NTZ→TZ cast interprets the
    * naive value in the session zone; graft sessions are pinned to UTC
    * (GraftSession/Verify/Bench), matching DuckDB's epoch_ms() reading of
    * the same naive parquet value. */
  def tsMillis(colName: String): Column =
    expr(s"unix_micros(cast($colName as timestamp)) div 1000")
}
