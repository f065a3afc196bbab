package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    // the shipped engine config (GraftSession), sized by SPARK_GRAFT_CPUS
    val spark = GraftSession.builder("graft-verify", cpus.toInt)
      .master(s"local[$cpus]")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // A gate that throws writes no parquet and would silently vanish from
    // the driver's correctness report (round 7: q_sessionize_batch). Finish
    // every gate, then make the breakage impossible to miss: a MISSING
    // summary on stderr AND a nonzero exit.
    val failed = scala.collection.mutable.ListBuffer.empty[String]
    // dev-loop convenience mirroring Bench: SPARK_GRAFT_QUERY_FILTER=
    // substr1,substr2 dumps only matching queries (the driver never sets
    // it, so driver runs always dump the full set)
    val nameFilter: String => Boolean =
      sys.env.get("SPARK_GRAFT_QUERY_FILTER") match {
        case Some(f) if f.nonEmpty =>
          val pats = f.split(",").map(_.trim).filter(_.nonEmpty)
          n => pats.exists(n.contains)
        case _ => _ => true
      }
    SparkEntry.queries.filter(p => nameFilter(p._1)).foreach { case (name, fn) =>
      // scoped: schema-inference / gram caches and checkpoint leaves are
      // per-query scratch, freed exactly when this query's write finishes
      try graft.core.Caches.scoped {
        // coalesce(1) keeps outputs tidy at driver scale (sf0.01); at the
        // big-fixture sweeps (sf10/sf100) it would single-thread a
        // hundreds-of-millions-row write — the checkers glob *.parquet,
        // so let those runs write in parallel
        val df = fn(spark, sfDir)
        val out = if (sys.env.get("SPARK_GRAFT_VERIFY_NO_COALESCE").contains("1"))
          df else df.coalesce(1)
        out.write.mode("overwrite").parquet(s"$outDir/$name")
      } catch { case e: Throwable =>
        failed += name
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      // drain any frame a pooled thread tracked after its scope closed
      // (it fell through to the global scope — see Caches)
      graft.core.Caches.release()
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
    if (failed.nonEmpty) {
      System.err.println(
        s"[verify] MISSING ${failed.size}: ${failed.toSeq.sorted.mkString(", ")}")
      sys.exit(1)
    }
  }
}
