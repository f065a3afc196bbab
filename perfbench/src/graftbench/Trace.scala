package graftbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{SparkPlan, QueryExecution}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.util.QueryExecutionListener
import org.apache.spark.storage.RDDBlockId

/** One gate execution as the closed-loop client saw it: wall-clock span
  * bounds in epoch millis (to line up with listener event times), the job
  * group that tags every job the execution launched, and the analysis
  * time of the Dataset its builder returned. */
final case class Exec(gate: String, pass: Int, group: String,
                      startMs: Long, buildEndMs: Long, actionEndMs: Long, endMs: Long,
                      buildS: Double, actionS: Double, analysisMs: Long, rows: Long,
                      error: String) {
  def latencyS: Double = buildS + actionS
  def ok: Boolean = error == null
}

final case class JobRec(id: Int, startMs: Long, group: String, stageIds: Seq[Int]) {
  var endMs: Long = -1L
}

final case class StageRec(id: Int, submitMs: Long, endMs: Long, tasks: Int)

final class TaskAgg {
  var tasks = 0L; var runMs = 0L; var cpuNs = 0L; var gcMs = 0L; var delayMs = 0L
  var shufWrite = 0L; var shufRead = 0L; var fetchWaitMs = 0L
  var spillMem = 0L; var spillDisk = 0L; var inBytes = 0L; var outBytes = 0L
  def add(o: TaskAgg): Unit = {
    tasks += o.tasks; runMs += o.runMs; cpuNs += o.cpuNs; gcMs += o.gcMs
    delayMs += o.delayMs; shufWrite += o.shufWrite; shufRead += o.shufRead
    fetchWaitMs += o.fetchWaitMs; spillMem += o.spillMem; spillDisk += o.spillDisk
    inBytes += o.inBytes; outBytes += o.outBytes
  }
}

/** Planning record of one SQL execution, from its QueryExecution; `atMs`
  * (the end of its last planning phase) places it in a gate's span. */
final case class SqlRec(atMs: Long, analysisMs: Long, optimizationMs: Long,
                        planningMs: Long, exchanges: Int, plan: String)

/**
 * The benchmark's own SparkListener + QueryExecutionListener. It keeps raw
 * events in memory only; nothing is derived until the traced passes are
 * over and the bus is drained (see [[Spans]]).
 */
final class Recorder extends SparkListener with QueryExecutionListener {
  val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  val stageJob = mutable.HashMap.empty[Int, Int]
  val stages = mutable.HashMap.empty[Int, StageRec]
  val stageTasks = mutable.HashMap.empty[Int, TaskAgg]
  val sql = mutable.ArrayBuffer.empty[SqlRec]
  private val blockBytes = mutable.HashMap.empty[RDDBlockId, (Long, Long)]
  var cachedBytes = 0L
  var cachedPeak = 0L
  var evictions = 0L

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val group = Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull
    jobs(e.jobId) = JobRec(e.jobId, e.time, group, e.stageIds)
    e.stageIds.foreach(s => if (!stageJob.contains(s)) stageJob(s) = e.jobId)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    for (s <- i.submissionTime; c <- i.completionTime)
      stages(i.stageId) = StageRec(i.stageId, s, c, i.numTasks)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    val a = stageTasks.getOrElseUpdate(e.stageId, new TaskAgg)
    a.tasks += 1
    if (m != null) {
      a.runMs += m.executorRunTime
      a.cpuNs += m.executorCpuTime
      a.gcMs += m.jvmGCTime
      a.delayMs += math.max(0L, e.taskInfo.duration - m.executorRunTime -
        m.executorDeserializeTime - m.resultSerializationTime)
      a.shufWrite += m.shuffleWriteMetrics.bytesWritten
      a.shufRead += m.shuffleReadMetrics.totalBytesRead
      a.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
      a.spillMem += m.memoryBytesSpilled
      a.spillDisk += m.diskBytesSpilled
      a.inBytes += m.inputMetrics.bytesRead
      a.outBytes += m.outputMetrics.bytesWritten
    }
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val i = e.blockUpdatedInfo
    i.blockId match {
      case b: RDDBlockId =>
        val (oldMem, oldDisk) = blockBytes.getOrElse(b, (0L, 0L))
        val (mem, disk) =
          if (i.storageLevel.isValid) (i.memSize, i.diskSize) else (0L, 0L)
        // a block losing its memory copy without an unpersist was evicted
        if (oldMem > 0 && mem == 0) evictions += 1
        if (mem + disk > 0) blockBytes(b) = (mem, disk) else blockBytes.remove(b)
        cachedBytes += mem + disk - oldMem - oldDisk
        cachedPeak = math.max(cachedPeak, cachedBytes)
      case _ =>
    }
  }

  override def onUnpersistRDD(e: SparkListenerUnpersistRDD): Unit = synchronized {
    val gone = blockBytes.keys.filter(_.rddId == e.rddId).toSeq
    gone.foreach { b =>
      val (m, d) = blockBytes.remove(b).get
      cachedBytes -= m + d
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val phases = qe.tracker.phases
    def ms(p: String) = phases.get(p).map(_.durationMs).getOrElse(0L)
    val plan = qe.executedPlan
    val at = if (phases.isEmpty) -1L else phases.values.map(_.endTimeMs).max
    val rec = SqlRec(at, ms("analysis"), ms("optimization"), ms("planning"),
      Trace.exchanges(plan), plan.toString)
    synchronized { sql += rec }
  }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
}

object Trace {
  /** Shuffle and broadcast exchanges of an executed plan, looking through
    * AQE's final plan and query stages (reused exchanges are not new). */
  def exchanges(p: SparkPlan): Int = p match {
    case a: AdaptiveSparkPlanExec => exchanges(a.executedPlan)
    case q: QueryStageExec => exchanges(q.plan)
    case e: Exchange => 1 + e.children.map(exchanges).sum
    case o => (o.children ++ o.innerChildren.collect { case c: SparkPlan => c })
      .map(exchanges).sum
  }
}

/** Interval arithmetic over [start, end) millisecond spans. */
object Spans {
  type Iv = (Long, Long)

  def clip(ivs: Iterable[Iv], lo: Long, hi: Long): Seq[Iv] =
    ivs.iterator.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.toSeq

  /** Length of the union of the intervals. */
  def covered(ivs: Iterable[Iv]): Long = {
    var total = 0L; var curA = Long.MinValue; var curB = Long.MinValue
    ivs.toSeq.sortBy(_._1).foreach { case (a, b) =>
      if (a > curB) { if (curB > curA) total += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    if (curB > curA) total += curB - curA
    total
  }

  /** Self time of a span: its length minus the part its children cover. */
  def self(lo: Long, hi: Long, children: Iterable[Iv]): Long =
    (hi - lo) - covered(clip(children, lo, hi))
}
