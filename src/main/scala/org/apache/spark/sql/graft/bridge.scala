package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

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

  /** Re-declare a checkpointed frame's KNOWN hash partitioning on its
    * LogicalRDD leaf (round 19, verdict item 3).
    *
    * `Dataset.localCheckpoint`/`checkpoint` are documented to preserve
    * the physical plan's output partitioning on the new leaf, but under
    * AQE (Spark 4.1.2, measured by graft.tools.PartProbe) the capture
    * reads `AdaptiveSparkPlanExec.outputPartitioning` as
    * `UnknownPartitioning`, so every iterative loop's per-round join
    * re-shuffles the checkpointed side from scratch. When the caller has
    * itself placed `repartition(n, cols)` as the FINAL operator under the
    * checkpoint, the materialized RDD's layout provably IS
    * `HashPartitioning(cols, n)` — AQE may not rewrite a user-specified
    * partition count (REPARTITION_BY_NUM), and the checkpoint's
    * `.map(_.copy())` is narrow — so declaring it on the leaf only
    * restores information the engine dropped. MUST NOT be called with
    * anything but the exact repartition spec that produced the frame:
    * a wrong declaration silently mis-co-locates later joins.
    *
    * No-op (returns the input) if the plan is not a bare LogicalRDD. */
  def withDeclaredHashPartitioning(df: org.apache.spark.sql.DataFrame,
                                   cols: Seq[String],
                                   numPartitions: Int): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.execution.LogicalRDD
    import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
    df.queryExecution.analyzed match {
      case lr: LogicalRDD =>
        // an EMPTY frame can materialize to a 0-partition RDD; declaring a
        // positive partition count on it would break the planner's
        // co-partitioned zip assumptions — leave it undeclared (the empty
        // frame costs nothing to shuffle anyway)
        if (lr.rdd.getNumPartitions == 0) return df
        val attrs = cols.map(c => lr.output.find(_.name == c).getOrElse(
          throw new IllegalArgumentException(
            s"withDeclaredHashPartitioning: column '$c' not in ${lr.output.map(_.name)}")))
        require(lr.rdd.getNumPartitions == numPartitions,
          s"withDeclaredHashPartitioning: declared $numPartitions partitions " +
            s"but the materialized RDD has ${lr.rdd.getNumPartitions}")
        // originStats/originConstraints are private ctor vals with no
        // accessor — read them reflectively so the relabeled leaf keeps
        // the stats Dataset.checkpoint stored (losing them would disable
        // size-based broadcast planning over the leaf)
        def priv[T](name: String): T = {
          val f = classOf[LogicalRDD].getDeclaredField(name)
          f.setAccessible(true)
          f.get(lr).asInstanceOf[T]
        }
        val sess = priv[org.apache.spark.sql.classic.SparkSession]("session")
        val relabeled = new LogicalRDD(
          lr.output, lr.rdd,
          HashPartitioning(attrs, numPartitions),
          lr.outputOrdering, lr.isStreaming, lr.stream)(
          sess,
          priv[Option[org.apache.spark.sql.catalyst.plans.logical.Statistics]]("originStats"),
          priv[Option[org.apache.spark.sql.catalyst.expressions.ExpressionSet]]("originConstraints"))
        org.apache.spark.sql.classic.Dataset.ofRows(sess, relabeled)
      case _ => df
    }
  }
}
