package graft.plans

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.PlanExpression
import org.apache.spark.sql.catalyst.optimizer.BuildLeft
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{CoalesceExec, FileSourceScanExec, PartitionedFileUtil,
  RDDScanExec, SparkPlan, UnaryExecNode, UnionExec}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, AQEShuffleReadExec,
  CoalesceShufflePartitions, ShuffleQueryStageExec}
import org.apache.spark.sql.execution.datasources.FilePartition
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ENSURE_REQUIREMENTS,
  Exchange, ShuffleExchangeExec}
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, ShuffledHashJoinExec,
  SortMergeJoinExec}
import org.apache.spark.sql.internal.SQLConf

/**
 * AQE query-stage preparation rule: a small plan that runs as one
 * partition end to end runs as one job.
 *
 * `EnsureRequirements` cuts a plan at every shuffle, and the planner
 * broadcasts every small join side. Each shuffle costs a map-stage job (a
 * global sort's range exchange also a `RangePartitioner` sample job) and
 * each broadcast a build job; AQE then coalesces the small reduce sides
 * back into one partition. When the rewritten plan runs as exactly one
 * partition (see `oneJob`), this rule rewrites
 *  - every `ShuffleExchangeExec(_, child, ENSURE_REQUIREMENTS)` (hash,
 *    range or single-partition) whose child runs as a known number of
 *    partitions into `CoalesceExec(1, child)`, whose `SinglePartition`
 *    satisfies every distribution the consumer asks for (a union of two
 *    one-split scans is read by one task, not shuffled);
 *  - every `BroadcastHashJoinExec` whose build side runs as one partition
 *    into a `ShuffledHashJoinExec` over the same two children, the
 *    `BroadcastExchangeExec` unwrapped, so the join builds its hash table
 *    in the task. A null-aware anti join (`NOT IN`) keeps its broadcast.
 * It does so only when AQE partition coalescing is on and every
 * exchange's input and every build side is, by its logical size
 * estimate, at most the size that AQE's `CoalesceShufflePartitions`
 * always packs into one partition (see `small`), so AQE would have read
 * each of those shuffles as one partition anyway. Scans, joins,
 * aggregates, sorts and the consumer then run as one job. User
 * repartitions (`repartition`, `repartitionByRange`) have another
 * shuffle origin and keep the whole plan as Spark planned it. Sessions
 * without AQE never run query-stage preparation rules and keep Spark's
 * plan.
 */
case class OneJobPlan(session: SparkSession) extends Rule[SparkPlan] {

  override def apply(plan: SparkPlan): SparkPlan =
    if (!conf.coalesceShufflePartitionsEnabled || !plan.exists(rewritable)) plan
    else oneJob(plan) match {
      case Some(Parts(1, _, rewritten)) => rewritten
      case _ => plan
    }

  private def rewritable(p: SparkPlan): Boolean = p match {
    case ShuffleExchangeExec(_, _, ENSURE_REQUIREMENTS, _) | _: BroadcastHashJoinExec => true
    case _ => false
  }

  /** A rewritten subtree and the partitions it runs as. `exact` is false
    * where the count is what AQE's coalescing of a materialized shuffle
    * stage on its own would read, which AQE may not do when the stage
    * meets others under one join; only exact counts may meet under an
    * operator that zips its children's partitions. */
  private case class Parts(n: Int, exact: Boolean, plan: SparkPlan)

  /** `p` with its exchanges collapsed and its small broadcast hash joins
    * built in-task, and the number of partitions it then runs as, read
    * from the plan without running a job, executing a subtree or
    * evaluating a subquery. None where the count is unknown, which keeps
    * the whole plan as it is: a partition count is known for a file scan
    * (not bucketed, no subquery or dynamic-pruning filter) whose files fit
    * one split, a checkpointed RDD leaf, and a materialized shuffle stage
    * as AQE's own coalescing would read it; a unary node runs as its
    * child, a union as the sum of its children, a broadcast hash join as
    * its streamed side, a collapsed exchange (over a child of any known
    * count) as one partition, and a shuffled join as its children when
    * they all run as the same exact count. A co-partitioned operator thus
    * never sees children of different partition counts. */
  private def oneJob(p: SparkPlan): Option[Parts] = p match {
    case s: FileSourceScanExec =>
      val plain = !s.bucketedScan &&
        !(s.partitionFilters ++ s.dataFilters).exists(_.exists(_.isInstanceOf[PlanExpression[_]]))
      if (plain && oneSplit(s)) Some(Parts(1, exact = true, s)) else None
    case s: RDDScanExec if s.rdd.isCheckpointed =>
      Some(Parts(s.rdd.getNumPartitions, exact = true, s))
    case r: AQEShuffleReadExec =>
      Some(Parts(r.partitionSpecs.size, exact = r.partitionSpecs.size == 1, r))
    case s: ShuffleQueryStageExec if s.isMaterialized =>
      CoalesceShufflePartitions(session)(s) match {
        case r: AQEShuffleReadExec => Some(Parts(r.partitionSpecs.size, exact = false, s))
        case _ => Some(Parts(s.shuffle.numPartitions, exact = s.shuffle.numPartitions == 1, s))
      }
    case ShuffleExchangeExec(_, child, ENSURE_REQUIREMENTS, _) =>
      oneJob(child).collect { case Parts(_, _, c) if small(child) =>
        Parts(1, exact = true, CoalesceExec(1, c))
      }
    case j: BroadcastHashJoinExec => broadcastJoin(j)
    case _: Exchange => None
    case u: UnionExec =>
      all(u.children).map(cs => Parts(cs.map(_.n).sum, cs.forall(_.exact), withChildren(u, cs)))
    case j @ (_: SortMergeJoinExec | _: ShuffledHashJoinExec) =>
      all(j.children).collect { case cs if cs.forall(_.exact) && cs.map(_.n).distinct.size == 1 =>
        Parts(cs.head.n, exact = true, withChildren(j, cs))
      }
    case c: CoalesceExec =>
      oneJob(c.child).map(ch => Parts(ch.n.min(c.numPartitions), ch.exact, withChildren(c, Seq(ch))))
    case u: UnaryExecNode =>
      oneJob(u.child).map(ch => ch.copy(plan = withChildren(u, Seq(ch))))
    case _ => None
  }

  /** A broadcast hash join runs as its streamed side. Its hash table is
    * built in the task, by a shuffled hash join over the same children,
    * when the build side is small, both sides run as exactly one
    * partition, and the join is not null-aware (a shuffled hash join has
    * no null-aware anti join); otherwise the broadcast stays and the
    * build side keeps Spark's plan. */
  private def broadcastJoin(j: BroadcastHashJoinExec): Option[Parts] = {
    // (left, right) to (streamed, build), and back
    def flip[A](a: A, b: A): (A, A) = if (j.buildSide == BuildLeft) (b, a) else (a, b)
    val (streamed, build) = flip(j.left, j.right)
    oneJob(streamed).map { s =>
      val inTask = build match {
        case BroadcastExchangeExec(_, child) if !j.isNullAwareAntiJoin && s.n == 1 && s.exact &&
            small(child) =>
          oneJob(child).collect { case b @ Parts(1, true, _) => b }
        case _ => None
      }
      inTask match {
        case Some(b) =>
          val (l, r) = flip(s.plan, b.plan)
          val shj = ShuffledHashJoinExec(j.leftKeys, j.rightKeys, j.joinType, j.buildSide,
            j.condition, l, r, isSkewJoin = false)
          shj.copyTagsFrom(j)
          Parts(1, exact = true, shj)
        case None =>
          val (l, r) = flip(s.plan, build)
          s.copy(plan = j.withNewChildren(Seq(l, r)))
      }
    }
  }

  private def all(children: Seq[SparkPlan]): Option[Seq[Parts]] = {
    val cs = children.map(oneJob)
    if (cs.forall(_.isDefined)) Some(cs.flatten) else None
  }

  private def withChildren(p: SparkPlan, cs: Seq[Parts]): SparkPlan =
    p.withNewChildren(cs.map(_.plan))

  /** Whether `p`'s logical size estimate fits the one partition AQE's
    * coalescing would make of it. `CoalesceShufflePartitions` packs up to
    * a target that never falls below
    * `spark.sql.adaptive.coalescePartitions.minPartitionSize` (1 MB by
    * default). Only when the coalesced partition count has no floor
    * (`parallelismFirst` off and no `minPartitionNum`) does the target
    * reach `spark.sql.adaptive.advisoryPartitionSizeInBytes`; with the
    * default `parallelismFirst`, a larger input is spread over up to
    * `defaultParallelism` partitions. */
  private def small(p: SparkPlan): Boolean = {
    val minSize = conf.getConf(SQLConf.COALESCE_PARTITIONS_MIN_PARTITION_SIZE)
    val target =
      if (conf.getConf(SQLConf.COALESCE_PARTITIONS_PARALLELISM_FIRST) ||
          conf.getConf(SQLConf.COALESCE_PARTITIONS_MIN_PARTITION_NUM).isDefined) minSize
      else minSize.max(conf.getConf(SQLConf.ADVISORY_PARTITION_SIZE_IN_BYTES))
    p.logicalLink.exists(_.stats.sizeInBytes <= BigInt(target))
  }

  /** Whether the scan's read RDD has one partition, asked of Spark's own
    * split and packing rules (`PartitionedFileUtil.splitFiles`,
    * `FilePartition.getFilePartitions`) over the scan's file listing, as
    * the scan's non-bucketed read builds them. The scan's `inputRDD`
    * would say the same, but building it builds the file reader and
    * broadcasts the Hadoop conf (about 14 ms a scan node on a 4-core
    * host), and every AQE re-plan makes new scan nodes. The listing is
    * the file index's, not the scan's `selectedPartitions`: that lazy
    * value sets the scan's file and partition metrics once, and computed
    * at planning it left the executed scan reporting 0 files and 0
    * partitions read. */
  private def oneSplit(s: FileSourceScanExec): Boolean = {
    val listing = s.relation.location.listFiles(s.partitionFilters, s.dataFilters)
    val maxSplitBytes = FilePartition.maxSplitBytes(session, listing)
    val splits = listing.flatMap { dir =>
      dir.files.flatMap { f =>
        val path = f.getPath
        PartitionedFileUtil.splitFiles(f, path,
          s.relation.fileFormat.isSplitable(session, s.relation.options, path),
          maxSplitBytes, dir.values)
      }
    }.sortBy(-_.length)
    FilePartition.getFilePartitions(session, splits, maxSplitBytes).size == 1
  }
}

object OneJobPlan {

  /** Whether `df` runs as one task, read from its physical plan without
    * running anything: after AQE's query-stage preparation no exchange is
    * left (the rule collapsed it, or there was none) and the plan runs as
    * one partition by the rule's own count. Such a frame is cheaper read
    * again as a plan than materialized once as a checkpoint leaf, which
    * costs a job and its blocks. A session without AQE is asked of its
    * executed plan, where any exchange Spark planned is still in place. */
  def runsAsOneTask(df: DataFrame): Boolean = {
    val plan = df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.initialPlan
      case p => p
    }
    !plan.exists(_.isInstanceOf[Exchange]) &&
      OneJobPlan(df.sparkSession).oneJob(plan).exists(_.n == 1)
  }
}
