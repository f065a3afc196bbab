package graftbench

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import org.apache.spark.util.sketch.BloomFilter

import graft.core.XDF
import graft.functions.TextOps
import graft.operators.Dedup
import graft.plans.BloomMightContain
import graft.sources.TsvIO

/** Single-layer probes of the traced run: the codegen'd kernels in rows/s
  * and the TSV source in MB/s, each a median of timed repetitions after
  * one untimed warm call. Inputs are fixture rows repeated to a fixed
  * count, so a probe measures the same amount of work at every scale. */
object Probes {

  /** Kernel expressions the executed plan of each kernel gate must keep
    * when its every output column is consumed. */
  val kernelMarkers: Map[String, Seq[String]] = Map(
    "q_keyhash_mmh3" -> Seq("mmh3_hash64"),
    "q_text_simhash" -> Seq("simhash16"),
    "q_dedup_minhash_sig" -> Seq("minhash_signature"),
    "q_text_quality" -> Seq(" AS uniq_ratio#", " AS stop_ratio#", " AS quality#"))

  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  private def timed(reps: Int)(body: => Unit): Double = {
    body
    Stats.median((1 to reps).map { _ =>
      val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9
    })
  }

  /** The rows of `df` repeated to exactly `rows` rows. */
  private def replicated(df: DataFrame, rows: Long): DataFrame = {
    val n = math.max(df.count(), 1L)
    df.crossJoin(df.sparkSession.range((rows + n - 1) / n).toDF("__copy__"))
      .drop("__copy__").limit(rows.toInt)
  }

  /** Rows/s of each kernel over documents.text, sized so one timed call
    * takes a fraction of a second on a laptop-class core. */
  def kernels(spark: SparkSession, dir: String, reps: Int): Map[String, Double] = {
    val docs = spark.read.parquet(s"$dir/documents.parquet").select("doc_id", "text")
    val grams = docs.filter(col("doc_id") % 37 === 0)
      .select(explode(array_distinct(TextOps.wordShingles(col("text"), 3))))
      .distinct().collect().map(_.getString(0))
    val bloom = BloomFilter.create(math.max(grams.length, 1).toLong, 0.01)
    grams.foreach(bloom.putString)
    val bc = spark.sparkContext.broadcast(bloom)
    val probes: Seq[(String, Long, DataFrame => DataFrame)] = Seq(
      ("plans.mmh3_rows_per_s", 200000L, d =>
        XDF(d).generateKeyHash("h", Seq("text"), compat = true).toDF.select("h")),
      ("plans.simhash16_rows_per_s", 40000L, d => d.select(TextOps.simhash16(col("text")))),
      ("plans.minhash_rows_per_s", 4000L, d =>
        d.select(Dedup.minhashSignature(col("text"), 3, 12))),
      ("plans.bloom_rows_per_s", 20000L, d =>
        d.select(explode(array_distinct(TextOps.wordShingles(col("text"), 3))).as("g"))
          .filter(BloomMightContain.might_contain(col("g"), bc))),
      ("functions.quality_rows_per_s", 20000L, d => d.select(TextOps.qualityScore(col("text")))))
    val out = probes.map { case (name, rows, f) =>
      val base = replicated(docs.select("text"), rows).persist(StorageLevel.MEMORY_ONLY)
      try {
        val n = base.count().toDouble
        name -> n / timed(reps)(noop(f(base)))
      } finally base.unpersist(true)
    }.toMap
    bc.destroy()
    out
  }

  def tsv(spark: SparkSession, dir: String, scratch: String, reps: Int): Map[String, Double] = {
    val li = replicated(spark.read.parquet(s"$dir/lineitem.parquet"), 60000L)
      .persist(StorageLevel.MEMORY_ONLY)
    val path = s"$scratch/tsv_probe"
    def bytes(): Long = {
      val st = Files.walk(Paths.get(path))
      try st.iterator().asScala.filter(Files.isRegularFile(_))
        .filterNot(p => p.getFileName.toString.startsWith(".") ||
          p.getFileName.toString.startsWith("_"))
        .map(Files.size(_)).sum
      finally st.close()
    }
    try {
      li.count()
      val wS = timed(reps)(TsvIO.write(li, path))
      val mb = bytes() / 1e6
      val rS = timed(reps)(noop(TsvIO.read(spark, path)))
      Map("sources.tsv_write_mb_per_s" -> mb / wS, "sources.tsv_read_mb_per_s" -> mb / rS)
    } finally li.unpersist(true)
  }

  /** Gates whose executed plan lacks (some of) their kernel expression. */
  def missingKernels(plans: Map[String, Seq[String]]): Seq[String] =
    kernelMarkers.toSeq.sortBy(_._1).collect {
      case (g, marks) if !plans.getOrElse(g, Nil).exists(p => marks.forall(p.contains)) => g
    }
}

object Stats {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted; val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }
}
