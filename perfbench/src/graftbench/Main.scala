package graftbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.graftbench.BusAccess
import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions.{count, lit}

import graft.{GraftSession, SparkEntry}
import graft.core.Caches

/**
 * Closed-loop client of the benchmark. One JVM runs one workload: a gate
 * list over one fixture directory, with a single client issuing gate after
 * gate. Modes:
 *
 *  - `registry`: writes the registry's gate names and oracle SQL.
 *  - `run`: one start-up (session build and a fixed number of untimed
 *    passes; the first pass writes every gate's answer for the oracle
 *    check), then timed passes for `--seconds`. With `--trace 1` every
 *    second timed pass is traced, and the loop gates outside the list, the
 *    kernel-plan self-check and the single-layer probes run last.
 *
 * `--gates` and `--loop-gates` are comma-separated gate names; the loop
 * gates are the ones whose build spans count as iterative operators.
 *
 * Results go to `--out` as one JSON document; the Python runner turns it
 * into the benchmark's metrics.
 */
object Main {

  final case class Opts(mode: String, data: String, gates: Seq[String],
                        loopGates: Seq[String], seed: Long, seconds: Double, trace: Boolean,
                        cores: Int, out: String, scratch: String, checkDir: String,
                        warmPasses: Int, minPasses: Int)

  private def parse(args: Array[String]): Opts = {
    val kv = args.drop(1).grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def list(k: String): Seq[String] =
      kv.get(k).map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq).getOrElse(Nil)
    Opts(args.head, kv.getOrElse("data", ""), list("gates"), list("loop-gates"),
      kv.getOrElse("seed", "0").toLong, kv.getOrElse("seconds", "10").toDouble,
      kv.getOrElse("trace", "0") == "1", kv.getOrElse("cores", "4").toInt, kv("out"),
      kv.getOrElse("scratch", ""), kv.getOrElse("check-dir", ""),
      kv.getOrElse("warm-passes", "1").toInt, kv.getOrElse("min-passes", "3").toInt)
  }

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    o.mode match {
      case "registry" => write(o.out, Map("registry" -> registry.keys.toSeq.sorted,
        "oracle_sql" -> SparkEntry.oracleSql))
      case "run" => run(o)
      case m => sys.error(s"unknown mode $m")
    }
  }

  private def session(o: Opts): SparkSession = {
    val s = GraftSession.builder("graftbench", o.cores)
      .master(s"local[${o.cores}]")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "127.0.0.1")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", s"${o.scratch}/spark-local")
      .config("spark.sql.warehouse.dir", s"${o.scratch}/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private val registry: Map[String, (SparkSession, String) => DataFrame] = SparkEntry.queries

  /** One gate execution: builder call plus one action that consumes every
    * output column and keeps the gate's whole plan (a noop sink, or a
    * parquet write of the answer under `answers`), inside the gate's own
    * cache scope. `group` tags its jobs when traced. */
  def runGate(spark: SparkSession, gate: String, dir: String, pass: Int,
              group: String, answers: String = null): Exec = {
    val sc = spark.sparkContext
    if (group != null) sc.setJobGroup(group, gate, interruptOnCancel = false)
    val w0 = System.currentTimeMillis()
    val t0 = System.nanoTime()
    var t1 = t0; var w1 = w0
    var rows = -1L
    var analysisMs = 0L
    var err: String = null
    try Caches.scoped {
      val df = registry(gate)(spark, dir)
      t1 = System.nanoTime(); w1 = System.currentTimeMillis()
      analysisMs = df.queryExecution.tracker.phases.get("analysis").map(_.durationMs).getOrElse(0L)
      val obs = Observation()
      val counted = df.observe(obs, count(lit(1)).as("rows"))
      if (answers == null) Probes.noop(counted)
      else counted.write.mode("overwrite").parquet(s"$answers/$gate")
      rows = obs.get("rows").asInstanceOf[Long]
    } catch {
      case NonFatal(e) =>
        if (t1 == t0) { t1 = System.nanoTime(); w1 = System.currentTimeMillis() }
        err = s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}"
    }
    val t2 = System.nanoTime()
    val w2 = System.currentTimeMillis()
    Caches.release()
    if (group != null) sc.clearJobGroup()
    Exec(gate, pass, group, w0, w1, w2, System.currentTimeMillis(),
      (t1 - t0) / 1e9, (t2 - t1) / 1e9, analysisMs, rows, err)
  }

  private def attach(spark: SparkSession, rec: Recorder): Unit = {
    spark.sparkContext.addSparkListener(rec)
    spark.listenerManager.register(rec)
  }

  private def detach(spark: SparkSession, rec: Recorder): Unit = {
    BusAccess.drain(spark.sparkContext)
    spark.listenerManager.unregister(rec)
    spark.sparkContext.removeSparkListener(rec)
  }

  private def loadAvg(): Seq[Double] =
    new String(Files.readAllBytes(Paths.get("/proc/loadavg")), UTF_8)
      .split(" ").take(3).map(_.toDouble).toSeq

  private def vmHwmMb(): Double =
    new String(Files.readAllBytes(Paths.get("/proc/self/status")), UTF_8).split("\n")
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)

  private def jvmXmx(): String =
    ManagementFactory.getRuntimeMXBean.getInputArguments.toArray.map(_.toString)
      .filter(_.startsWith("-Xmx")).lastOption.map(_.stripPrefix("-Xmx")).getOrElse("default")

  private def write(path: String, doc: Any): Unit =
    Files.write(Paths.get(path), Json(doc).getBytes(UTF_8))

  private def execJson(e: Exec): Map[String, Any] = Map(
    "gate" -> e.gate, "pass" -> e.pass, "build_s" -> e.buildS,
    "action_s" -> e.actionS, "rows" -> e.rows, "error" -> e.error)

  def run(o: Opts): Unit = {
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    val load0 = loadAvg()
    val unknown = (o.gates ++ o.loopGates).filterNot(registry.contains)
    require(o.gates.nonEmpty && unknown.isEmpty,
      s"empty gate list, or gates not in the registry: ${unknown.mkString(",")}")
    val gates = new scala.util.Random(o.seed).shuffle(o.gates.sorted)

    def pass(spark: SparkSession, p: Int, group: Int => String,
             answers: String = null): Seq[Exec] =
      gates.zipWithIndex.map { case (g, i) => runGate(spark, g, o.data, p, group(i), answers) }
    def group(tag: String): Int => String = i => s"${Layers.GroupPrefix}$tag-$i"

    // set-up: one start-up, JVM start to the end of its last untimed pass.
    // The first pass writes every gate's answer for the oracle check. The
    // fixed number of untimed passes puts every run's timed window at the
    // same point of the JIT warm-up (the pass total keeps falling for tens
    // of passes, longer than a run can wait).
    val spark = session(o)
    val sessionS = (System.currentTimeMillis() - jvmStart) / 1000.0
    val warmPasses = mutable.ArrayBuffer.empty[Double]
    var answerExecs: Seq[Exec] = Nil
    for (w <- 1 to math.max(1, o.warmPasses)) {
      val p0 = System.nanoTime()
      val ex = pass(spark, -1, _ => null, if (w == 1 && o.checkDir.nonEmpty) o.checkDir else null)
      if (w == 1) answerExecs = ex
      warmPasses += (System.nanoTime() - p0) / 1e9
    }
    val setupS = (System.currentTimeMillis() - jvmStart) / 1000.0

    // timed passes; with tracing, odd passes are traced and even ones are
    // not, so the tracing overhead is measured in the same window
    val rec = new Recorder
    val execs = mutable.ArrayBuffer.empty[Exec]
    val passes = mutable.ArrayBuffer.empty[Map[String, Any]]
    val tracedWindows = mutable.ArrayBuffer.empty[(Long, Long)]
    val win0 = System.nanoTime()
    var p = 0
    while (p < o.minPasses || (System.nanoTime() - win0) / 1e9 < o.seconds) {
      val traced = o.trace && p % 2 == 1
      if (traced) attach(spark, rec)
      val a = System.currentTimeMillis()
      val n0 = System.nanoTime()
      val ex = pass(spark, p, if (traced) group(p.toString) else _ => null)
      val wall = (System.nanoTime() - n0) / 1e9
      val b = System.currentTimeMillis()
      if (traced) { detach(spark, rec); tracedWindows += ((a, b)) }
      execs ++= ex
      passes += Map("pass" -> p, "traced" -> traced, "wall_s" -> wall)
      p += 1
    }
    val windowS = (System.nanoTime() - win0) / 1e9

    val trace: Map[String, Any] = if (!o.trace) Map.empty else {
      val tracedExecs = execs.filter(e => e.group != null).toSeq
      val loops = o.loopGates.toSet
      val layers = Layers.compute(rec, tracedExecs, tracedWindows.toSeq, o.cores, loops)
      val leaked = spark.sparkContext.getRDDStorageInfo.map(_.numCachedPartitions.toLong).sum
      // loop gates outside this workload's list run once each
      val extraRec = new Recorder
      attach(spark, extraRec)
      val extra = o.loopGates.filterNot(o.gates.contains).zipWithIndex.map { case (g, i) =>
        runGate(spark, g, o.data, -2, group("extra")(i)) }
      detach(spark, extraRec)
      val extraLayers = Layers.compute(extraRec, extra, Nil, o.cores, loops)
      val named = Layers.namedGateMetrics(o.loopGates, tracedExecs, layers.perGateJobs) ++
        Layers.namedGateMetrics(o.loopGates, extra, extraLayers.perGateJobs)
      val probes = Probes.kernels(spark, o.data, 2) ++
        Probes.tsv(spark, o.data, o.scratch, 2)
      val byKind = passes.groupBy(_("traced").asInstanceOf[Boolean])
        .map { case (k, v) => k -> Stats.median(v.map(_("wall_s").asInstanceOf[Double]).toSeq) }
      val overhead = byKind.getOrElse(true, 0.0) / byKind.getOrElse(false, 1.0) - 1
      Map("metrics" -> (layers.metrics ++ named ++ probes ++ Map(
            "storage.leaked_blocks" -> leaked.toDouble,
            "trace_overhead_frac" -> overhead)),
        "orphan_jobs" -> (layers.orphanJobs + extraLayers.orphanJobs),
        "tag_mismatches" -> Layers.tagMismatches(
          layers.perGateBuildJobs ++ extraLayers.perGateBuildJobs, loops),
        "jobs_seen" -> (layers.jobsSeen + extraLayers.jobsSeen))
    }

    // kernel-plan self-check on the noop action's executed plan (traced
    // runs and the self-test)
    val kernelMissing = if (!o.trace) Nil else {
      val kRec = new Recorder
      attach(spark, kRec)
      val kExecs = Probes.kernelMarkers.keys.toSeq.sorted.zipWithIndex.map { case (g, i) =>
        runGate(spark, g, o.data, -3, group("kernel")(i)) }
      detach(spark, kRec)
      Probes.missingKernels(kExecs.map { e =>
        e.gate -> kRec.sql.filter(s => s.atMs >= e.startMs && s.atMs <= e.endMs).map(_.plan).toSeq
      }.toMap)
    }

    val doc = Map(
      "setup_s" -> setupS, "session_s" -> sessionS, "warm_passes_s" -> warmPasses.toSeq,
      "window_s" -> windowS, "passes" -> passes.toSeq, "execs" -> execs.map(execJson).toSeq,
      "check_errors" -> answerExecs.map(e => e.gate -> e.error).toMap,
      "kernel_missing" -> kernelMissing,
      "peak_rss_mb" -> vmHwmMb(), "trace" -> trace,
      "host" -> Map("seed" -> o.seed, "cores" -> o.cores,
        "shuffle_partitions" -> spark.conf.get("spark.sql.shuffle.partitions"),
        "xmx" -> jvmXmx(), "nproc" -> Runtime.getRuntime.availableProcessors(),
        "loadavg_start" -> load0, "loadavg_end" -> loadAvg(),
        "spark" -> spark.version, "gate_order" -> gates))
    write(o.out, doc)
    spark.stop()
  }
}

/** Minimal JSON writer for the result document. */
object Json {
  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => apply(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case other => quote(other.toString)
  }

  private def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b.append("\\\"")
      case '\\' => b.append("\\\\")
      case c if c < 0x20 => b.append(f"\\u${c.toInt}%04x")
      case c => b.append(c)
    }
    b.append('"').toString
  }
}
