package graft
object PlanAudit {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.builder("graft-plan-audit", 8).master("local[8]")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val dir = "/root/testdata/sf0.001"
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      try {
        val plan = fn(spark, dir).queryExecution.executedPlan.toString
        // a windowspecdefinition whose FIRST element is already a sort
        // order has no partition columns -> single-task WindowExec
        val unpartWin = raw"windowspecdefinition\([^(,]+ (ASC|DESC)".r
          .findFirstIn(plan).isDefined
        val flags = Seq(
          "CARTESIAN" -> plan.contains("CartesianProduct"),
          "BNLJ" -> plan.contains("BroadcastNestedLoopJoin"),
          "UNPART_WIN" -> unpartWin,
          // any window at all: must stay within Round6Spec's audited
          // whitelist (per-group windows are straggler risks at scale)
          "WIN" -> plan.contains("windowspecdefinition"),
        ).collect { case (f, true) => f }
        val nEx = "Exchange".r.findAllIn(plan).length
        println(f"[audit] $name%-28s exchanges=$nEx%2d ${flags.mkString(",")}")
      } catch { case e: Throwable => println(s"[audit] $name ERROR ${e.getMessage.take(80)}") }
    }
    spark.stop()
  }
}
