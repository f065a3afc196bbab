package graft.plans

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/**
 * SparkSessionExtensions entry point. Activate with
 * `.config("spark.sql.extensions", "graft.plans.GraftExtensions")` or
 * `.withExtensions(new GraftExtensions)` (GraftSession does). It registers:
 *  - graft's native expressions for SQL use: after it,
 *    `spark.sql("SELECT mmh3_64(s) FROM t")` plans the codegen'd native
 *    expression, no UDF registration per session;
 *  - `OneJobPlan`, an AQE query-stage preparation rule: when AQE
 *    partition coalescing is on and the plan shows it runs as exactly one
 *    partition end to end, with every exchange's input (of a known
 *    partition count) and every build side small enough, by its logical
 *    size estimate, for AQE to coalesce it into one partition
 *    (`spark.sql.adaptive.coalescePartitions.minPartitionSize` under the
 *    default `parallelismFirst`), every shuffle `EnsureRequirements` put
 *    in becomes `CoalesceExec(1)` and every broadcast hash join but a
 *    null-aware anti join builds its hash table in the task. The query
 *    then runs as one job: no map-stage, sample or broadcast jobs.
 */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    e.injectFunction((
      FunctionIdentifier("mmh3_64"),
      new ExpressionInfo(classOf[Mmh3Hash64].getName, "mmh3_64"),
      (exprs: Seq[Expression]) => exprs match {
        case Seq(child) => Mmh3Hash64(child, 0L)
        case Seq(child, seed) =>
          val seedVal = seed match {
            case lit if lit.foldable =>
              lit.eval() match {
                case n: Number => n.longValue()
                case other => throw new IllegalArgumentException(
                  s"mmh3_64 seed must be an integer literal, got $other")
              }
            case _ => throw new IllegalArgumentException(
              "mmh3_64 seed must be an integer literal, not a column")
          }
          Mmh3Hash64(child, seedVal)
        case _ => throw new IllegalArgumentException(
          "mmh3_64(expr[, seed]) takes 1 or 2 arguments")
      }))
    e.injectQueryStagePrepRule(OneJobPlan)
  }
}
