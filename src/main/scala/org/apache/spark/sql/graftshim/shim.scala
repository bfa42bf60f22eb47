package org.apache.spark.sql.graftshim

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Bridge between Catalyst `Expression`s and the public `Column` API.
  *
  * Spark 4 moved `Column` onto `ColumnNode`; the Expression<->Column
  * converters live in `org.apache.spark.sql.classic.ExpressionUtils` and are
  * `private[sql]`. Graft defines custom Catalyst expressions (codegen'd
  * scalar/agg functions — see graft.functions), so it needs this one-file
  * shim inside the `org.apache.spark.sql` package space. No Spark behavior
  * is modified.
  */
object GraftShim {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** A frame over rows already in Catalyst's internal form: a
    * `LocalRelation`, so a projection or limit over it folds on the driver
    * (`ConvertToLocalRelation`) and collecting it runs no Spark job.
    */
  def localFrame(spark: org.apache.spark.sql.SparkSession,
      schema: org.apache.spark.sql.types.StructType,
      rows: Seq[org.apache.spark.sql.catalyst.InternalRow]): org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession],
      org.apache.spark.sql.catalyst.plans.logical.LocalRelation(
        org.apache.spark.sql.catalyst.types.DataTypeUtils.toAttributes(schema), rows))

  /** Post-execution per-operator stats `(nodeName, numOutputRows,
    * elapsedUs)` — the Spark analog of the reference's per-operator
    * instrumentation (`operator.zig:30-48`, surfaced in API responses
    * `http.zig:335-395`). AQE wrappers and query stages are unwrapped to
    * the executed nodes. Elapsed sums the node's executed timing metrics
    * — Spark records "timing" metrics in milliseconds and "nsTiming" in
    * nanoseconds — giving the closest Spark analog of the reference's
    * `elapsed_us`. Nodes with no timing metrics report 0. Read by
    * `graft.sydraql.QueryProfile`, the one per-query stats object.
    */
  def operatorStatsTimed(df: org.apache.spark.sql.DataFrame): Seq[(String, Long, Long)] = {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    def unwrap(p: SparkPlan): SparkPlan = p match {
      case a: AdaptiveSparkPlanExec => unwrap(a.executedPlan)
      case q: QueryStageExec => unwrap(q.plan)
      case other => other
    }
    def walk(p: SparkPlan): Seq[SparkPlan] = {
      val u = unwrap(p)
      u +: u.children.flatMap(walk)
    }
    walk(df.asInstanceOf[org.apache.spark.sql.classic.DataFrame].queryExecution.executedPlan).map { p =>
      val elapsedUs = p.metrics.values.map { m =>
        m.metricType match {
          case "timing" if m.value > 0 => m.value * 1000L
          case "nsTiming" if m.value > 0 => m.value / 1000L
          case _ => 0L
        }
      }.sum
      (p.nodeName, p.metrics.get("numOutputRows").map(_.value).getOrElse(-1L), elapsedUs)
    }
  }
}
