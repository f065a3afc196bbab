package graftbench

import scala.collection.mutable

/** Derives the per-layer metrics of the traced passes from the recorded
  * events. Every sum is reported per traced pass, so the figures do not
  * depend on how many passes fit in the measuring window. */
object Layers {
  import Spans._

  /** A builder call launching at least this many jobs runs an iterative
    * operator's loop. Traced runs report every gate whose tag disagrees with
    * the workload list it is in; the lists themselves are fixed. */
  val LoopBuildJobs = 10

  /** Prefix of the job groups the benchmark tags its gate executions with. */
  val GroupPrefix = "gb-"

  final case class Result(metrics: Map[String, Double], orphanJobs: Int,
                          jobsSeen: Int, perGateJobs: Map[String, Seq[Int]],
                          perGateBuildJobs: Map[String, Seq[Int]])

  /** `loopGates`: the gates whose build spans are the iterative operators'
    * loops (`operators.loop_s`, `operators.loop_jobs`). */
  def compute(rec: Recorder, execs: Seq[Exec], passes: Seq[(Long, Long)], k: Int,
              loopGates: Set[String]): Result =
    rec.synchronized {
      val nPass = math.max(passes.size, 1).toDouble
      val byGroup = execs.map(e => e.group -> e).toMap
      // a job belongs to the gate whose job group it carries. Jobs launched
      // on threads that set a group of their own (streaming micro-batches)
      // are parented by the closed-loop span they fall in; a job without a
      // group, or with a benchmark group no execution here owns, is an orphan
      def parent(j: JobRec): Option[Exec] = byGroup.get(j.group).orElse(
        if (j.group == null || j.group.startsWith(GroupPrefix)) None
        else execs.find(e => j.startMs >= e.startMs && j.startMs <= e.endMs))
      val jobsByExec = mutable.HashMap.empty[String, mutable.ArrayBuffer[JobRec]]
      var orphans = 0
      rec.jobs.values.foreach { j =>
        parent(j) match {
          case Some(e) => jobsByExec.getOrElseUpdate(e.group, mutable.ArrayBuffer.empty) += j
          case None => orphans += 1
        }
      }
      def jobIv(j: JobRec, e: Exec): Iv = (j.startMs, if (j.endMs >= 0) j.endMs else e.endMs)
      def stagesOf(j: JobRec): Seq[StageRec] =
        j.stageIds.filter(s => rec.stageJob.get(s).contains(j.id)).flatMap(rec.stages.get)

      val tasks = new TaskAgg
      var buildSelf, actionSelf, gateSelf, jobSelf, stageS = 0L
      var loopMs, loopJobs, nJobs, nStages = 0L
      val perGateJobs = mutable.HashMap.empty[String, mutable.ArrayBuffer[Int]]
      val perGateBuildJobs = mutable.HashMap.empty[String, mutable.ArrayBuffer[Int]]
      execs.foreach { e =>
        val js = jobsByExec.getOrElse(e.group, mutable.ArrayBuffer.empty[JobRec]).toSeq
        val (inBuild, inAction) = js.partition(_.startMs < e.buildEndMs)
        val jb = clip(inBuild.map(jobIv(_, e)), e.startMs, e.buildEndMs)
        val ja = clip(inAction.map(jobIv(_, e)), e.buildEndMs, e.actionEndMs)
        buildSelf += self(e.startMs, e.buildEndMs, jb)
        actionSelf += self(e.buildEndMs, e.actionEndMs, ja)
        gateSelf += self(e.startMs, e.endMs, Seq((e.startMs, e.actionEndMs)))
        val sts = js.flatMap(stagesOf)
        val stageCover = covered(clip(sts.map(s => (s.submitMs, s.endMs)), e.startMs, e.actionEndMs))
        stageS += stageCover
        jobSelf += covered(jb) + covered(ja) - stageCover
        if (loopGates.contains(e.gate)) {
          loopMs += e.buildEndMs - e.startMs
          loopJobs += inBuild.size
        }
        nJobs += js.size
        nStages += sts.size
        sts.foreach(s => rec.stageTasks.get(s.id).foreach(tasks.add))
        perGateJobs.getOrElseUpdate(e.gate, mutable.ArrayBuffer.empty) += js.size
        perGateBuildJobs.getOrElseUpdate(e.gate, mutable.ArrayBuffer.empty) += inBuild.size
      }
      var runSelf, wall, gap = 0L
      passes.foreach { case (a, b) =>
        val inPass = execs.filter(e => e.startMs >= a && e.endMs <= b)
        wall += b - a
        runSelf += self(a, b, inPass.map(e => (e.startMs, e.endMs)))
        val jivs = inPass.flatMap(e =>
          jobsByExec.getOrElse(e.group, Nil).map(jobIv(_, e)))
        gap += self(a, b, jivs)
      }
      val sqlOf = rec.sql.filter(s => execs.exists(e => s.atMs >= e.startMs && s.atMs <= e.endMs))
      def pp(ms: Long) = ms / 1000.0 / nPass
      val m = mutable.LinkedHashMap[String, Double](
        "planner.build_s" -> pp(buildSelf),
        "planner.analysis_s" -> pp(execs.map(_.analysisMs).sum + sqlOf.map(_.analysisMs).sum),
        "planner.optimization_s" -> pp(sqlOf.map(_.optimizationMs).sum),
        "planner.physical_s" -> pp(sqlOf.map(_.planningMs).sum),
        "planner.exchanges" -> sqlOf.map(_.exchanges).sum / nPass,
        "scheduler.jobs" -> nJobs / nPass,
        "scheduler.stages" -> nStages / nPass,
        "scheduler.tasks" -> tasks.tasks / nPass,
        "scheduler.tasks_per_stage" -> (if (nStages > 0) tasks.tasks.toDouble / nStages else 0.0),
        "scheduler.driver_gap_s" -> pp(gap),
        "scheduler.delay_s" -> pp(tasks.delayMs),
        "operators.loop_s" -> pp(loopMs),
        "operators.loop_jobs" -> loopJobs / nPass,
        "executor.task_s" -> pp(tasks.runMs),
        "executor.cpu_s" -> tasks.cpuNs / 1e9 / nPass,
        "executor.gc_s" -> pp(tasks.gcMs),
        "executor.busy_frac" -> (if (wall > 0) tasks.runMs.toDouble / (wall * k) else 0.0),
        "shuffle.write_bytes" -> tasks.shufWrite / nPass,
        "shuffle.read_bytes" -> tasks.shufRead / nPass,
        "shuffle.fetch_wait_s" -> pp(tasks.fetchWaitMs),
        "shuffle.spill_mem_bytes" -> tasks.spillMem / nPass,
        "shuffle.spill_disk_bytes" -> tasks.spillDisk / nPass,
        "storage.cached_bytes_peak" -> rec.cachedPeak.toDouble,
        "storage.evicted_blocks" -> rec.evictions / nPass,
        "sources.input_bytes" -> tasks.inBytes / nPass,
        "sources.output_bytes" -> tasks.outBytes / nPass,
        "span.run_self_s" -> pp(runSelf),
        "span.gate_self_s" -> pp(gateSelf),
        "span.action_self_s" -> pp(actionSelf),
        "span.job_self_s" -> pp(jobSelf),
        "span.stage_s" -> pp(stageS),
        "span.accounted_frac" -> (if (wall > 0)
          (runSelf + gateSelf + buildSelf + actionSelf + jobSelf + stageS).toDouble / wall
          else 0.0))
      def frozen(m: mutable.HashMap[String, mutable.ArrayBuffer[Int]]) =
        m.map { case (g, v) => g -> v.toSeq }.toMap
      Result(m.toMap, orphans, rec.jobs.size, frozen(perGateJobs), frozen(perGateBuildJobs))
    }

  /** `<gate>.s` (median latency) and `<gate>.jobs` (median jobs per
    * execution) of the named gates. */
  def namedGateMetrics(gates: Seq[String], execs: Seq[Exec],
                       perGateJobs: Map[String, Seq[Int]]): Map[String, Double] =
    gates.flatMap { g =>
      val xs = execs.filter(e => e.gate == g && e.ok)
      if (xs.isEmpty) Nil
      else Seq(s"$g.s" -> Stats.median(xs.map(_.latencyS)),
        s"$g.jobs" -> Stats.median(perGateJobs.getOrElse(g, Nil).map(_.toDouble)))
    }.toMap

  /** Gates whose observed builder-call job count (median) contradicts the
    * list they are in: a loop gate below [[LoopBuildJobs]], or another gate
    * at or above it. Reported only. */
  def tagMismatches(perGateBuildJobs: Map[String, Seq[Int]],
                    loopGates: Set[String]): Map[String, Double] =
    perGateBuildJobs.map { case (g, v) => g -> Stats.median(v.map(_.toDouble)) }
      .filter { case (g, n) => (n >= LoopBuildJobs) != loopGates.contains(g) }
}
