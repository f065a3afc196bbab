package graft

import java.io.File
import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.sql.{AnalysisException, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.sources.ParquetIO

/** ParquetIO.read: the schema from one footer on the driver, no job, and
  * exactly `spark.read.parquet`'s result wherever Spark's inference would
  * do more than read that footer. */
class ParquetReadSpec extends SparkTestBase {

  private def scratch(name: String): String =
    s"${graft.core.TempDirs.scratch("graft_parquet_read")}/$name"

  private def assertSameAsSpark(path: String): DataFrame = {
    val ours = ParquetIO.read(spark, path)
    val theirs = spark.read.parquet(path)
    assert(ours.schema == theirs.schema)
    assert(ours.collect().toSeq.sortBy(_.toString) == theirs.collect().toSeq.sortBy(_.toString))
    ours
  }

  private def withConf[A](key: String, value: String)(body: => A): A = {
    val old = spark.conf.getOption(key)
    spark.conf.set(key, value)
    try body finally old match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  /** A Spark-written table of every column family the fixtures use, with
    * non-null and nullable columns, split into `parts` files. */
  private def writeWide(path: String, parts: Int): Unit = {
    val schema = StructType(Seq(
      StructField("s", StringType, nullable = false),
      StructField("l", LongType, nullable = false),
      StructField("d", DecimalType(12, 2)),
      StructField("day", DateType),
      StructField("ts", TimestampType),
      StructField("ntz", TimestampNTZType),
      StructField("bin", BinaryType),
      StructField("arr", ArrayType(IntegerType)),
      StructField("m", MapType(StringType, LongType)),
      StructField("st", StructType(Seq(StructField("a", StringType),
        StructField("b", DoubleType, nullable = false))))))
    val rows = (0 until 12).map { i =>
      Row(s"k$i", i.toLong,
        if (i % 3 == 0) null else new java.math.BigDecimal(s"$i.25"),
        if (i % 4 == 0) null else java.sql.Date.valueOf(f"2024-01-${i + 1}%02d"),
        if (i % 5 == 0) null else java.sql.Timestamp.valueOf(f"2024-02-01 10:$i%02d:00"),
        if (i % 6 == 0) null else java.time.LocalDateTime.of(2024, 3, 1, i, 30),
        if (i % 2 == 0) null else Array[Byte](i.toByte, 7),
        if (i % 7 == 0) null else Seq(i, i + 1),
        if (i % 3 == 1) null else Map(s"m$i" -> i.toLong),
        if (i % 4 == 1) null else Row(s"a$i", i / 2.0))
    }
    spark.createDataFrame(sc.parallelize(rows, 1), schema).repartition(parts)
      .write.mode("overwrite").parquet(path)
  }

  test("a single file and a multi-part directory load with zero jobs") {
    val dir = scratch("wide")
    writeWide(dir, parts = 3)
    val file = new File(dir).listFiles().map(_.getPath)
      .filter(p => p.endsWith(".parquet")).min
    Seq(file, dir).foreach { p =>
      val (df, jobs) = jobsOf(ParquetIO.read(spark, p))
      assert(jobs == 0, s"$p: $jobs jobs")
      assert(df.columns.toSeq == Seq("s", "l", "d", "day", "ts", "ntz", "bin", "arr", "m", "st"))
    }
    // the law the count guards against: Spark's own read infers with a job
    assert(jobsOf(spark.read.parquet(dir))._2 >= 1)
  }

  test("same schema and rows as spark.read.parquet: every column family, one file") {
    val dir = scratch("wide1")
    writeWide(dir, parts = 1)
    val df = assertSameAsSpark(dir)
    assert(df.schema("ntz").dataType == TimestampNTZType)
    assert(df.schema("m").dataType == MapType(StringType, LongType))
  }

  test("same as Spark on a multi-part directory holding _SUCCESS and .crc files") {
    val dir = scratch("parts")
    writeWide(dir, parts = 3)
    val names = new File(dir).list().toSeq
    assert(names.contains("_SUCCESS"))
    assert(names.exists(_.endsWith(".crc")))
    assert(names.count(n => n.startsWith("part-") && n.endsWith(".parquet")) == 3)
    assertSameAsSpark(dir)
  }

  test("same as Spark on a directory with _common_metadata") {
    val dir = scratch("summary")
    spark.range(0, 20).select(col("id"), (col("id") * 2).cast("string").as("v"))
      .repartition(2)
      .write.option("parquet.summary.metadata.level", "ALL").mode("overwrite").parquet(dir)
    val names = new File(dir).list().toSeq
    assert(names.contains("_common_metadata") && names.contains("_metadata"), names)
    assertSameAsSpark(dir)
    assert(jobsOf(ParquetIO.read(spark, dir))._2 == 0)
  }

  test("TIMESTAMP(NANOS): long nanos under nanosAsLong, Spark's own error without it") {
    val path = scratch("nanos.parquet")
    val schema = MessageTypeParser.parseMessageType(
      "message m { required int64 ts (TIMESTAMP(NANOS,true)); required int32 id; }")
    val writer = ExampleParquetWriter.builder(new Path(path)).withType(schema).build()
    try {
      val groups = new SimpleGroupFactory(schema)
      Seq(1700000000123456789L, 0L, -5L).zipWithIndex.foreach { case (ns, i) =>
        writer.write(groups.newGroup().append("ts", ns).append("id", i))
      }
    } finally writer.close()
    withConf("spark.sql.legacy.parquet.nanosAsLong", "true") {
      val df = assertSameAsSpark(path)
      assert(df.schema("ts").dataType == LongType)
      assert(df.orderBy("id").collect().map(_.getLong(0)).toSeq ==
        Seq(1700000000123456789L, 0L, -5L))
    }
    withConf("spark.sql.legacy.parquet.nanosAsLong", "false") {
      val ours = intercept[Exception](ParquetIO.read(spark, path).collect())
      val theirs = intercept[Exception](spark.read.parquet(path).collect())
      assert(ours.getClass == theirs.getClass)
      assert(ours.getMessage.contains("TIMESTAMP(NANOS,true)"), ours.getMessage)
    }
  }

  test("deferred: mergeSchema=true gives Spark's merged schema") {
    val dir = scratch("merge")
    spark.range(0, 5).select(col("id"), lit("x").as("a")).coalesce(1)
      .write.mode("overwrite").parquet(dir)
    spark.range(5, 9).select(col("id"), lit(2.5).as("b")).coalesce(1)
      .write.mode("append").parquet(dir)
    withConf("spark.sql.parquet.mergeSchema", "true") {
      val df = assertSameAsSpark(dir)
      assert(df.columns.toSet == Set("id", "a", "b"))
    }
  }

  test("deferred: a dt= partitioned directory keeps its dt column") {
    val dir = scratch("dated")
    spark.range(0, 6).select(col("id"),
        when(col("id") < 3, lit("20240101")).otherwise(lit("20240102")).as("dt"))
      .write.mode("overwrite").partitionBy("dt").parquet(dir)
    val df = assertSameAsSpark(dir)
    assert(df.columns.toSeq == Seq("id", "dt"))
    assert(df.filter(col("dt") === 20240102).count() == 3)
  }

  test("deferred: a missing path throws Spark's PATH_NOT_FOUND") {
    val path = scratch("absent") + "/nothing.parquet"
    val ours = intercept[AnalysisException](ParquetIO.read(spark, path))
    val theirs = intercept[AnalysisException](spark.read.parquet(path))
    assert(ours.getCondition == "PATH_NOT_FOUND")
    assert(ours.getCondition == theirs.getCondition)
    assert(ours.getMessage == theirs.getMessage)
  }
}
