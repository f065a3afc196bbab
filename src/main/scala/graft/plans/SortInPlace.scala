package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.PlanExpression
import org.apache.spark.sql.catalyst.optimizer.{BuildLeft, BuildRight}
import org.apache.spark.sql.catalyst.plans.physical.RangePartitioning
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{CoalesceExec, FileSourceScanExec, ListingPartition,
  PartitionedFileUtil, RDDScanExec, SparkPlan, UnaryExecNode}
import org.apache.spark.sql.execution.adaptive.{AQEShuffleReadExec, CoalesceShufflePartitions,
  ShuffleQueryStageExec}
import org.apache.spark.sql.execution.datasources.FilePartition
import org.apache.spark.sql.execution.exchange.{ENSURE_REQUIREMENTS, Exchange,
  ShuffleExchangeExec}
import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
import org.apache.spark.sql.internal.SQLConf

/**
 * AQE query-stage preparation rule: a global sort over a small input that
 * already runs as one partition sorts that partition in place.
 *
 * `EnsureRequirements` plans every global sort over a range exchange.
 * Each one costs a `RangePartitioner` sample job, which evaluates the
 * sort's whole input a second time, and a map-stage job; AQE then
 * coalesces the small reduce side back into the one partition the input
 * already was. This rule rewrites the exchange that `EnsureRequirements`
 * put there, `ShuffleExchangeExec(RangePartitioning(_, n > 1), child,
 * ENSURE_REQUIREMENTS)`, into `CoalesceExec(1, child)`, whose
 * `SinglePartition` satisfies the sort's `OrderedDistribution`, when all
 * three hold:
 *  - AQE partition coalescing is on;
 *  - `child`'s logical size estimate is at most the size that AQE's
 *    `CoalesceShufflePartitions` always packs into one partition (see
 *    `small`), so AQE would coalesce the reduce side to one partition
 *    anyway;
 *  - `child` runs as exactly one partition, read from the plan without
 *    running anything (see `onePartition`).
 * Scan, sort and consumer then run as one job. User repartitions
 * (`repartitionByRange`) have another shuffle origin and stay as they
 * are. Sessions without AQE never run query-stage preparation rules and
 * keep Spark's plan.
 */
case class SortInPlace(session: SparkSession) extends Rule[SparkPlan] {

  override def apply(plan: SparkPlan): SparkPlan =
    if (!conf.coalesceShufflePartitionsEnabled) plan
    else plan.transformUp {
      case ShuffleExchangeExec(RangePartitioning(_, n), child, ENSURE_REQUIREMENTS, _)
          if n > 1 && small(child) && onePartition(child) =>
        CoalesceExec(1, child)
    }

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

  /** Whether `p` runs as exactly one partition, where the plan states it
    * without running a job, executing a subtree or evaluating a
    * subquery: a file scan (not bucketed, no subquery or dynamic-pruning
    * filter) whose files fit one split, a checkpointed RDD leaf, a
    * materialized shuffle stage as AQE's own coalescing would read it.
    * The answer carries through unary operators and a broadcast hash
    * join's streamed side; anything else counts as unknown. */
  private def onePartition(p: SparkPlan): Boolean = p match {
    case s: FileSourceScanExec =>
      !s.bucketedScan &&
        !(s.partitionFilters ++ s.dataFilters).exists(_.exists(_.isInstanceOf[PlanExpression[_]])) &&
        oneSplit(s)
    case s: RDDScanExec => s.rdd.isCheckpointed && s.rdd.getNumPartitions == 1
    case r: AQEShuffleReadExec => r.partitionSpecs.size == 1
    case s: ShuffleQueryStageExec if s.isMaterialized =>
      CoalesceShufflePartitions(session)(s) match {
        case r: AQEShuffleReadExec => r.partitionSpecs.size == 1
        case _ => s.shuffle.numPartitions == 1
      }
    case j: BroadcastHashJoinExec => onePartition(j.buildSide match {
      case BuildLeft => j.right
      case BuildRight => j.left
    })
    case _: Exchange => false
    case u: UnaryExecNode => onePartition(u.child)
    case _ => false
  }

  /** Whether the scan's read RDD has one partition, asked of Spark's own
    * split and packing rules (`PartitionedFileUtil.splitFiles`,
    * `FilePartition.getFilePartitions`) over the scan's file listing, as
    * the scan's non-bucketed read builds them. The scan's `inputRDD`
    * would say the same, but building it builds the file reader and
    * broadcasts the Hadoop conf (about 14 ms a scan node on a 4-core
    * host), and every AQE re-plan makes new scan nodes. */
  private def oneSplit(s: FileSourceScanExec): Boolean = {
    val listing = s.selectedPartitions
    val maxSplitBytes = FilePartition.maxSplitBytes(session, listing)
    val splits = listing.filePartitionIterator.flatMap { case ListingPartition(values, _, files) =>
      files.flatMap { f =>
        val path = f.getPath
        PartitionedFileUtil.splitFiles(f, path,
          s.relation.fileFormat.isSplitable(session, s.relation.options, path),
          maxSplitBytes, values)
      }
    }.toSeq.sortBy(-_.length)
    FilePartition.getFilePartitions(session, splits, maxSplitBytes).size == 1
  }
}
