package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.core.XDF

/**
 * TSV source/sink with the reference's on-disk conventions (reference:
 * python-packages/hydra/src/omigo_hydra/hydra.py:7-125): tab-separated,
 * header row, every cell URL-encoded (quote_plus), `.gz` transparent.
 *
 * Spark-first: `spark.read.csv` handles distributed listing, splitting
 * and gz decode; per-cell URL-decode is the built-in `url_decode`
 * expression (codegen'd). Multi-path reads union with schema evolution
 * (reference merges with dfutils.merge). S3 paths work unchanged via the
 * s3a:// filesystem when the cluster provides it.
 */
object TsvIO {

  /** Read one or more TSV(.gz) paths, URL-decoding every cell.
    * Differing headers across paths reconcile by union-of-columns with
    * "" defaults (reference dfutils.py:9-90 merge semantics). */
  def read(spark: SparkSession, paths: Seq[String], sep: String = "\t"): DataFrame = {
    val dfs = paths.map { p =>
      val raw = spark.read
        .option("sep", sep)
        .option("header", "true")
        // all strings; the engine's surface is string-typed
        .option("inferSchema", "false")
        .csv(p)
      // url_decode is form-decoding (URLDecoder): '+' already maps to
      // space, no pre-pass needed
      raw.select(raw.columns.map(c => url_decode(col(c)).as(c)): _*)
    }
    dfs.map(XDF(_)).reduceLeft((a, b) => a.mergeUnion(Seq(b))).toDF
  }

  def read(spark: SparkSession, path: String): DataFrame = read(spark, Seq(path))

  /** Write TSV with URL-encoded cells (reference hydra.py:7-27; cells
    * encoded via quote_plus — space becomes '+'). `codec` (e.g. "gzip")
    * compresses part files, matching the reference's `.tsv.gz` layout. */
  def write(df: DataFrame, path: String, sep: String = "\t",
            codec: String = null): Unit = {
    // url_encode is form-encoding (URLEncoder): space already becomes '+'
    val w = df.select(
        df.columns.map(c => url_encode(col(c).cast(StringType)).as(c)): _*)
      .write.mode("overwrite")
      .option("sep", sep).option("header", "true")
    (if (codec != null) w.option("compression", codec) else w).csv(path)
  }

  /** Scan-time projection/filter sugar (reference hydra.py:156-257
    * read_with_filter_transform): the reference applies these per record
    * while reading; here Catalyst pushes the same work into the scan
    * automatically — this API just keeps the call-site shape. */
  def readWithFilterTransform(spark: SparkSession, paths: Seq[String],
                              cols: Seq[String] = Nil,
                              filterCond: org.apache.spark.sql.Column = null): DataFrame = {
    var df = read(spark, paths)
    if (filterCond != null) df = df.filter(filterCond)
    if (cols.nonEmpty) df = df.select(cols.map(org.apache.spark.sql.functions.col): _*)
    df
  }

  /** Plain CSV read (reference hydra.py:127-140). */
  def readCsv(spark: SparkSession, path: String): DataFrame =
    spark.read.option("header", "true").option("inferSchema", "false").csv(path)

  /** JSON-lines directories -> 1-col `json` DF (reference
    * hydra.py:325-356 read_json_files_from_directories_as_df). */
  def readJsonDir(spark: SparkSession, paths: Seq[String]): DataFrame = {
    val txt = spark.read.text(paths: _*)
    txt.select(org.apache.spark.sql.functions.col("value").as("json"))
  }

  /** `.tsv.zip` read: zip isn't a Spark codec, so entries decompress via
    * binaryFiles on executors (reference file_paths_util zip handling).
    * Each zip's entries concatenate as lines; header from the first line
    * of each entry, URL-decoded like `read`. */
  def readZip(spark: SparkSession, path: String, sep: String = "\t"): DataFrame = {
    import org.apache.spark.sql.functions._
    // each entry drops ITS OWN first line as the header (a data row that
    // happens to equal the header text survives); entries carry their
    // header along so mismatched entry schemas fail loudly
    val tagged = spark.sparkContext.binaryFiles(path).flatMap { case (_, pds) =>
      val zis = new java.util.zip.ZipInputStream(pds.open())
      try {
        Iterator.continually(zis.getNextEntry).takeWhile(_ != null)
          .filterNot(_.isDirectory)
          .flatMap { _ =>
            val ls = new String(zis.readAllBytes(),
              java.nio.charset.StandardCharsets.UTF_8).linesIterator.toSeq
            if (ls.isEmpty) Seq.empty else ls.tail.map(l => (ls.head, l))
          }.toSeq
      } finally zis.close() // fd leak otherwise: one per zip until GC
    }
    val spark2 = spark
    import spark2.implicits._
    val ds = tagged.toDS().toDF("__hdr__", "value")
    val headers = ds.select("__hdr__").distinct().collect().map(_.getString(0))
    require(headers.length == 1,
      s"zip entries carry differing headers: ${headers.take(3).mkString(" | ")}")
    val header = headers.head.split(java.util.regex.Pattern.quote(sep), -1)
    // try_element_at: a ragged/blank line must yield null cells, not an
    // ANSI out-of-bounds error that kills the whole read
    ds.select((0 until header.length).map(i =>
      url_decode(try_element_at(
        split(col("value"), java.util.regex.Pattern.quote(sep), -1),
        lit(i + 1))).as(header(i))): _*)
  }

  /**
   * Date-partitioned scan (reference etl.py:148-209
   * `scan_by_datetime_range`): reads `basePath/dt=yyyymmdd/` partitions
   * between startDate/endDate inclusive. Partition pruning: the `dt`
   * filter prunes directories at planning time (basePath read as a
   * partitioned table), so unselected days are never listed or read —
   * the property the reference implements by hand with directory-name
   * loops.
   */
  def scanByDateRange(spark: SparkSession, basePath: String,
                      startDate: String, endDate: String,
                      format: String = "parquet"): DataFrame = {
    val df = format match {
      case "parquet" => ParquetIO.read(spark, basePath)
      case "tsv" =>
        // same per-cell decode as read(): cells on disk are URL-encoded
        val raw = spark.read.option("sep", "\t").option("header", "true").csv(basePath)
        raw.select(raw.columns.map(c => url_decode(col(c)).as(c)): _*)
      case f => throw new IllegalArgumentException(s"unknown format $f")
    }
    df.filter(col("dt") >= startDate && col("dt") <= endDate)
  }

  /** Date-partitioned write (reference etl.py:10-102 layout
    * `dir/dt=yyyymmdd/...`): derives `dt` from a timestamp column and
    * writes hive-partitioned parquet, so scanByDateRange prunes. */
  def writePartitionedByDate(df: DataFrame, tsCol: String, basePath: String): Unit =
    df.withColumn("dt", date_format(col(tsCol), "yyyyMMdd"))
      .write.mode("overwrite").partitionBy("dt").parquet(basePath)

  /** File-level sampling for huge scans (reference etl.py:176
    * sampling_rate): deterministic hash gate on the file name — whole
    * files skip, which is what makes sampled scans cheap. */
  def sampleFiles(df: DataFrame, rate: Double, seed: Long = 0): DataFrame =
    df.filter(pmod(xxhash64(input_file_name(), lit(seed)), lit(1000000L))
      < (rate * 1000000).toLong)
}
