package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.graft.bridge

/**
 * The one parquet reader every graft table load goes through.
 *
 * `spark.read.parquet` infers the schema with a Spark job, even when
 * schema merging is off and inference reads a single footer
 * (`SchemaMergeUtils.mergeSchemasInParallel` always runs
 * `parallelize(...).collect()`). For short interactive queries that job
 * is a fixed cost on every load. This reader reads that same footer on
 * the driver, converts it as Spark's inference does, and hands the schema
 * to `spark.read.schema(...)`; Spark still lists the files and plans the
 * scan. Where inference would do more than read one footer (schema
 * merging, globs, partition directories) or the footer does not give a
 * schema, it defers to `spark.read.parquet`, so the caller gets exactly
 * Spark's result or Spark's error. See `bridge.parquetFooterSchema`.
 */
object ParquetIO {

  def read(spark: SparkSession, path: String): DataFrame =
    bridge.parquetFooterSchema(spark, path) match {
      case Some(schema) => spark.read.schema(schema).parquet(path)
      case None => spark.read.parquet(path)
    }
}
