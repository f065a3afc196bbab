package graft.tools

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicInteger

/** Law probe for `explodeMapsFetched(strictOnce = true)` (round-17,
  * verdict item 3). The shared test session runs `local[4]` where
  * `spark.task.maxFailures` is 1 — a task failure aborts the job before
  * any retry exists to guard against — so the retry law needs its own
  * JVM with a retry-capable master (`local[2, 2]`: 2 threads, 2 task
  * attempts). Round17Spec forks this main and asserts its JSON output.
  *
  * Two arms over the same 8-row / 2-partition input with a stub
  * generator that records every fetch and throws ONCE (row r3, task
  * attempt 0 only — after r1/r2 of its partition were already fetched):
  *
  *  - strict arm (`strictOnce = true`): the retried task must FAIL FAST
  *    with the strict-once message BEFORE re-invoking the generator, so
  *    the job fails and no row is ever fetched twice.
  *  - loose arm (`strictOnce = false`, the default): the retry re-drives
  *    the whole partition, the job succeeds, and r1/r2/r3 are fetched
  *    TWICE — measuring the exact double-fetch hazard strictOnce exists
  *    to refuse.
  */
object StrictOnceProbe extends Serializable {
  val fetchCounts = new ConcurrentHashMap[String, AtomicInteger]()
  def record(id: String): Int =
    fetchCounts.computeIfAbsent(id, _ => new AtomicInteger).incrementAndGet()
  def maxCount: Int = {
    var m = 0
    fetchCounts.forEach((_, v) => m = math.max(m, v.get))
    m
  }

  def main(args: Array[String]): Unit = {
    val outPath = args.headOption.getOrElse("target/strict_once_probe.json")
    val spark = graft.GraftSession.builder("graft-strict-once-probe", 2)
      .master("local[2, 2]") // 2 threads, maxFailures = 2: one retry
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._
    // explicit 2-partition layout: r1..r4 | r5..r8, so the poison row r3
    // has same-partition predecessors whose re-fetch the loose arm shows
    val df = spark.sparkContext
      .parallelize((1 to 8).map(i => (s"r$i", i)), 2).toDF("row_id", "n")

    def gen(m: Map[String, String]): Seq[Map[String, String]] = {
      val id = m("row_id")
      record(id)
      if (id == "r3" &&
          org.apache.spark.TaskContext.get().attemptNumber() == 0)
        throw new RuntimeException("stub fetch failure (attempt 0)")
      Seq(Map("v" -> m("n")))
    }

    // strict arm
    fetchCounts.clear()
    val strictErr =
      try {
        graft.core.Reshape.explodeMapsFetched(
          df, Seq("row_id", "n"), gen, prefix = "p", collapse = false,
          strictOnce = true).count()
        ""
      } catch { case e: Throwable =>
        Option(e.getMessage).getOrElse("") +
          Option(e.getCause).flatMap(c => Option(c.getMessage)).getOrElse("")
      }
    val strictFailedWithMessage = strictErr.contains("strictOnce=true")
    val strictMaxFetch = maxCount

    // loose arm (fresh counters, same poison — only attempt 0 throws)
    fetchCounts.clear()
    var looseErr = ""
    val looseRows =
      try graft.core.Reshape.explodeMapsFetched(
        df, Seq("row_id", "n"), gen, prefix = "p", collapse = false).count()
      catch { case e: Throwable =>
        looseErr = (Option(e.getMessage).getOrElse(e.getClass.getName) +
          Option(e.getCause).flatMap(c => Option(c.getMessage)).getOrElse(""))
          .replaceAll("[\"\\\\\n\r\t]", " ").take(400)
        -1L
      }
    val looseMaxFetch = maxCount

    val json =
      s"""{"strict_failed_with_message":$strictFailedWithMessage,""" +
        s""""strict_max_fetch":$strictMaxFetch,""" +
        s""""loose_rows":$looseRows,"loose_max_fetch":$looseMaxFetch,""" +
        s""""strict_err":"${strictErr.replaceAll("[\"\\\\\n\r\t]", " ").take(400)}",""" +
        s""""loose_err":"$looseErr"}"""
    java.nio.file.Files.write(java.nio.file.Paths.get(outPath),
      json.getBytes("UTF-8"))
    println(json)
    spark.stop()
  }
}
