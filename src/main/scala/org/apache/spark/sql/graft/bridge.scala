package org.apache.spark.sql.graft

import scala.util.control.NonFatal
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.format.converter.ParquetMetadataConverter.SKIP_ROW_GROUPS
import org.apache.parquet.hadoop.{Footer, ParquetFileWriter}
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.deploy.SparkHadoopUtil
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.Statistics
import org.apache.spark.sql.catalyst.plans.logical.statsEstimation.EstimationUtils
import org.apache.spark.sql.catalyst.plans.physical.{HashPartitioning, Partitioning,
  PartitioningCollection}
import org.apache.spark.sql.classic.{Dataset, ExpressionUtils}
import org.apache.spark.sql.execution.{LogicalRDD, SQLExecution}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat,
  ParquetFooterReader, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.StructType
import org.apache.spark.util.HadoopFSUtils

/** Column <-> Expression bridge. `ExpressionUtils` is private[sql], so
  * this one-file shim lives under the org.apache.spark.sql package — the
  * standard pattern for extension libraries shipping native Catalyst
  * expressions. */
object bridge {
  def toColumn(e: Expression): Column = ExpressionUtils.column(e)
  def toExpression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Deterministic listener-bus drain (`SparkContext.listenerBus` is
    * private[spark], same shim rationale as above): lets metric capture
    * wait for all task-end events instead of sleeping a guessed beat. */
  def waitListenerBusEmpty(sc: org.apache.spark.SparkContext,
                           timeoutMillis: Long = 60000L): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMillis)

  /** Wrap an RDD of Catalyst rows as a DataFrame with no Row encoder
    * round trip (`SparkSession.internalCreateDataFrame` is private[sql],
    * same shim rationale as above). The rows must match `schema`. */
  def internalCreateDataFrame(spark: org.apache.spark.sql.SparkSession,
                              rows: org.apache.spark.rdd.RDD[
                                org.apache.spark.sql.catalyst.InternalRow],
                              schema: org.apache.spark.sql.types.StructType)
      : org.apache.spark.sql.DataFrame =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .internalCreateDataFrame(rows, schema)

  /** Materialize `df` and return it as a checkpoint leaf: one SQL
    * execution that runs the same jobs as `Dataset.checkpoint` (so
    * listeners, job groups and `queryExecution.observedMetrics` see one
    * action), checkpointed locally (`reliable = false`: blocks in the
    * executors' block managers) or to the context's checkpoint directory.
    *
    * The leaf contract:
    *  - statistics: the source's optimized-plan stats, as
    *    `Dataset.checkpoint` stores them (they drive broadcast planning
    *    over the leaf);
    *  - constraints: none. Origin constraints copied from a lineage that
    *    self-joins an earlier leaf can name attribute ids that no longer
    *    resolve, and the next constraint inference over the leaf then
    *    throws `NoSuchElementException: key not found`;
    *  - layout: `hashOn = keys` declares HashPartitioning(keys, k), k the
    *    materialized partition count, where that is sound. With
    *    `numPartitions = Some(n)` the caller promises the final exchange
    *    is `repartition(n, keys)` followed only by partition-preserving
    *    operators, and k must equal n. With `None`, only a one-partition
    *    result is declared (every key hashes into it). Without `hashOn`,
    *    or on an empty 0-partition result, the leaf keeps the executed
    *    plan's partitioning, which AQE reports as unknown: the engine
    *    drops the layout a loop placed, and every later join would
    *    re-shuffle the leaf.
    *
    * The frame is planned without constraint inference, under a clone of
    * the session conf that only the calling thread sees; the shared conf
    * is never written, so concurrent loops cannot observe each other.
    * Loop lineages self-join earlier leaves, where inference only adds
    * not-null filters; on q_graph_bfs it also costs one more AQE job.
    *
    * Lifetime: the leaf's RDD is registered with the query scope open on
    * the calling thread (`graft.core.Caches.scoped`), whose exit
    * unpersists it, normally or after a throw; read the leaf inside that
    * scope. With no query scope open nothing is registered, and Spark's
    * ContextCleaner frees the blocks once the leaf is garbage-collected
    * (or [[releaseCheckpoints]] frees them earlier). */
  def checkpointLeaf(df: org.apache.spark.sql.DataFrame, reliable: Boolean,
                     hashOn: Seq[String] = Nil,
                     numPartitions: Option[Int] = None): org.apache.spark.sql.DataFrame = {
    val session = df.sparkSession.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    val qe = df.queryExecution
    val output = qe.analyzed.output
    val noInference = session.sessionState.conf.clone()
    noInference.setConf(SQLConf.CONSTRAINT_PROPAGATION_ENABLED, false)
    val (rdd, stats) = SQLConf.withExistingConf(noInference) {
      val rows = SQLExecution.withNewExecutionId(qe,
          Some(if (reliable) "checkpoint" else "localCheckpoint")) {
        qe.executedPlan.resetMetrics()
        val rows = qe.executedPlan.execute().map(_.copy())
        if (reliable) rows.checkpoint() else rows.localCheckpoint()
        _root_.graft.core.Caches.trackLeaf(rows) // before the job: a failed job's blocks go too
        rows.doCheckpoint() // the final job: computes and stores every partition
        rows
      }
      val optimized = qe.optimizedPlan
      (rows, LogicalRDD.buildOutputAssocForRewrite(optimized.output, output)
        .map(LogicalRDD.rewriteStatistics(optimized.stats, _)))
    }
    val k = rdd.getNumPartitions
    val declare = hashOn.nonEmpty && k > 0 && (numPartitions.isDefined || k == 1)
    if (declare) numPartitions.foreach(n =>
      require(k == n, s"checkpointLeaf: declared $n partitions on " +
        s"${hashOn.mkString(", ")} but the materialized RDD has $k"))
    @scala.annotation.tailrec
    def firstLeaf(p: Partitioning): Partitioning = p match {
      case c: PartitioningCollection => firstLeaf(c.partitionings.head)
      case other => other
    }
    val partitioning =
      if (declare)
        HashPartitioning(hashOn.map(c => output.find(_.name == c).getOrElse(
          throw new IllegalArgumentException(
            s"checkpointLeaf: column '$c' not in ${output.map(_.name)}"))), k)
      else firstLeaf(qe.executedPlan.outputPartitioning)
    Dataset.ofRows(session, LogicalRDD(output, rdd, partitioning,
      qe.executedPlan.outputOrdering, df.isStreaming)(session, stats, None))
  }

  /** [[checkpointLeaf]] of `df`, with the aggregates `metrics` computed
    * during its checkpoint job (`Dataset.observe`) and read as Longs: a
    * row count or a fixpoint probe costs no second job and no second
    * plan over the leaf. A null value (a sum over no rows) reads as 0. A
    * missing observation means the observing node did not run, and
    * throws: read as 0 it would make a fixpoint loop stop after one round
    * with a wrong result. The values are exact while speculative
    * execution is off, as in every shipped session config: a
    * speculatively re-run task can add to an observation twice. */
  def observedLeaf(df: org.apache.spark.sql.DataFrame, reliable: Boolean, metrics: Seq[Column],
                   hashOn: Seq[String] = Nil, numPartitions: Option[Int] = None)
      : (org.apache.spark.sql.DataFrame, Seq[Long]) = {
    val named = metrics.zipWithIndex.map { case (m, i) => m.as(s"m$i") }
    val observed = df.observe("__leaf_metrics__", named.head, named.tail: _*)
    val leaf = checkpointLeaf(observed, reliable, hashOn, numPartitions)
    val row = observed.queryExecution.observedMetrics.getOrElse("__leaf_metrics__",
      throw new IllegalStateException("observedLeaf: the metrics were not observed " +
        "during the checkpoint job; refusing to read them as 0"))
    (leaf, metrics.indices.map(i => Option(row.get(i)).fold(0L) {
      case l: java.lang.Long => l.longValue
      case n: java.lang.Integer => n.longValue
      case x => x.toString.toLong
    }))
  }

  /** `leaf`, a [[checkpointLeaf]], with statistics from its row count as
    * observed during its checkpoint job: `rowCount`, and `sizeInBytes`
    * from Spark's per-row size estimate (`EstimationUtils.getSizePerRow`).
    * For leaves whose source has no size estimate: an RDD wrapped by
    * [[internalCreateDataFrame]] carries Spark's default of
    * `Long.MaxValue` bytes, so nothing downstream can broadcast the leaf
    * or sort it in place. */
  def withRowCount(leaf: org.apache.spark.sql.DataFrame, rows: Long): org.apache.spark.sql.DataFrame =
    leaf.queryExecution.analyzed match {
      case lr: LogicalRDD =>
        val session = leaf.sparkSession.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
        val stats = Statistics(EstimationUtils.getSizePerRow(lr.output) * rows, Some(BigInt(rows)))
        Dataset.ofRows(session, LogicalRDD(lr.output, lr.rdd, lr.outputPartitioning,
          lr.outputOrdering, lr.isStreaming)(session, Some(stats), None))
      case other => throw new IllegalArgumentException(
        s"withRowCount: expected a checkpoint leaf, got ${other.nodeName}")
    }

  /** Unpersist the blocks of every local checkpoint leaf under `df`
    * (no-op for reliable checkpoint files). `Dataset.unpersist` only
    * clears cache-manager entries; a local checkpoint's blocks belong to
    * the RDD inside the plan's leaf. Call it only on frames that nothing
    * returned still reads: a lineage-truncated frame cannot be recomputed
    * once its blocks are gone. */
  def releaseCheckpoints(df: org.apache.spark.sql.Dataset[_]): Unit =
    df.queryExecution.analyzed.collectLeaves().foreach {
      case lr: LogicalRDD => lr.rdd.unpersist(false)
      case _ =>
    }

  /** The data schema Spark's parquet inference gives `path`, read on the
    * driver from the one footer that inference reads with schema merging
    * off (`ParquetUtils.inferSchema`), with no job. The leaves are the
    * path itself or its children, minus the names Spark's listing hides,
    * sorted by path string; the footer is `_common_metadata`, else
    * `_metadata`, else the first data file. It is read without row groups
    * and converted by Spark's own `ParquetFileFormat.readSchemaFromFooter`,
    * with the converter Spark's scan builds from the session conf
    * (`binaryAsString`, `int96AsTimestamp`, `inferTimestampNTZ`,
    * `nanosAsLong`, ...).
    *
    * None wherever inference would do more than read that one footer, or
    * the footer does not give a schema: schema merging on, a glob or
    * missing path, a subdirectory (partition discovery, a streaming sink
    * log), no data file, or a listing, footer read or conversion that
    * throws. The caller then defers to `spark.read.parquet`, which gives
    * Spark's own result or error. */
  def parquetFooterSchema(spark: org.apache.spark.sql.SparkSession,
                          path: String): Option[StructType] = {
    val session = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    val root = new Path(path)
    if (session.sessionState.conf.isParquetSchemaMergingEnabled ||
        SparkHadoopUtil.get.isGlobPath(root)) None
    else try {
      val hadoopConf = session.sessionState.newHadoopConf()
      val fs = root.getFileSystem(hadoopConf)
      val status = fs.getFileStatus(root)
      val children = if (status.isDirectory) fs.listStatus(root).toSeq else Seq(status)
      val leaves = children
        .filterNot(f => HadoopFSUtils.shouldFilterOutPathName(f.getPath.getName))
        .sortBy(_.getPath.toString)
      def named(name: String): Seq[FileStatus] = leaves.filter(_.getPath.getName == name)
      val summaries = named(ParquetFileWriter.PARQUET_COMMON_METADATA_FILE) ++
        named(ParquetFileWriter.PARQUET_METADATA_FILE)
      val data = leaves.filterNot(summaries.contains)
      if (children.exists(_.isDirectory) || data.isEmpty) None
      else {
        val file = (summaries ++ data).head
        val footer = new Footer(file.getPath, ParquetFooterReader.readFooter(
          HadoopInputFile.fromStatus(file, hadoopConf), SKIP_ROW_GROUPS))
        Some(ParquetFileFormat.readSchemaFromFooter(footer,
          new ParquetToSparkSchemaConverter(session.sessionState.conf)))
      }
    } catch { case NonFatal(_) => None }
  }
}
