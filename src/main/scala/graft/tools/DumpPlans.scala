package graft.tools

import java.nio.file.{Files, Paths}

/** Dev tool: write `.explain("formatted")` for named gate queries to
  * files, for the plans/r{N} before/after artifacts an optimization
  * round must commit. Usage:
  *   runMain graft.tools.DumpPlans <outDir> <suffix> q_a q_b ...
  * e.g. runMain graft.tools.DumpPlans plans/r18 before q_graph_cc
  * (SPARK_GRAFT_SF_DIR selects the fixture, default sf0.001 — plan
  * SHAPE is scale-independent for these gates; AQE runtime re-planning
  * is not captured here, which matches what explain() can show.) */
object DumpPlans {
  def main(args: Array[String]): Unit = {
    require(args.length >= 3, "usage: DumpPlans <outDir> <suffix> <query...>")
    val outDir = Paths.get(args(0))
    val suffix = args(1)
    val names = args.drop(2).toSeq
    Files.createDirectories(outDir)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    val spark = graft.GraftSession.builder("graft-dump-plans", 32)
      .master("local[8]")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    names.foreach { name =>
      val fn = graft.SparkEntry.queries.getOrElse(name,
        sys.error(s"unknown query $name"))
      val out = outDir.resolve(s"${name}_$suffix.txt")
      try {
        val df = fn(spark, sfDir)
        val txt = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        Files.write(out, txt.getBytes("UTF-8"))
        println(s"[dumpplans] wrote $out (${txt.length} chars)")
      } catch { case e: Throwable =>
        Files.write(out,
          s"ERROR building plan: ${e.getMessage}".getBytes("UTF-8"))
        println(s"[dumpplans] $name ERROR ${e.getMessage.take(120)}")
      } finally graft.core.Caches.release()
    }
    spark.stop()
  }
}
