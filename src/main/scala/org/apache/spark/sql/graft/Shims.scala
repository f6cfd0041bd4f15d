package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Bridge to the `private[sql]` Column↔Expression converters. Spark 4
  * hid the classic Expression-backed Column constructors behind the
  * ColumnNode API; third-party Catalyst expressions still need this
  * hop, hence the package-qualified shim (public-knowledge pattern —
  * every Spark extension library ships one).
  */
object Shims {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Eagerly convert a composed Column into a real Catalyst tree. The
    * lazy wrapper `expression` returns is a LEAF to the analyzer — fine
    * inside Dataset transformations (the classic API converts it), but
    * an expression returned from a FunctionRegistry builder would keep
    * its UnresolvedFunction children hidden and never resolve. This
    * variant runs the node converter up front so the analyzer can
    * recurse normally (used by GraftExtensions' SQL registrations of
    * Column-composite functions).
    */
  def catalystExpression(c: Column): Expression =
    org.apache.spark.sql.classic.ColumnNodeToExpressionConverter(c.node)

  /** Re-root a logical plan into another session (private[sql]
    * `Dataset.ofRows`). Lets an operator materialize a finished plan
    * under a CLONED session (`newSession()`: isolated SQLConf, shared
    * SparkContext/cache) so a conf raise scoped to that materialization
    * can never leak into queries planned concurrently on the caller's
    * session (TopKAgg.withHashAggHeadroom).
    */
  def ofRows(
      spark: org.apache.spark.sql.SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
      : org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** True when planning `df` through `toRdd` ran AQE query stages —
    * its executed plan is adaptive and holds materialized shuffle or
    * broadcast stages. A plain scan (no exchange) is never adaptive.
    */
  def ranQueryStages(df: org.apache.spark.sql.DataFrame): Boolean =
    df.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.executedPlan.exists(_.isInstanceOf[org.apache.spark.sql.execution.adaptive.QueryStageExec])
      case _ => false
    }

  /** A frame over `df`'s own executed output RDD (`df.queryExecution
    * .toRdd`) as a `LogicalRDD` leaf — the leaf `Dataset.checkpoint`
    * builds, minus the persist. It carries `df`'s `optimizedPlan.stats`,
    * so a small input still plans broadcast joins. Reading it reruns
    * only the final stage: any shuffle the plan already ran is read
    * from its map outputs.
    */
  def overExecutedRdd(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val ds = df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]
    org.apache.spark.sql.classic.Dataset.ofRows(ds.sparkSession, org.apache.spark.sql.execution.LogicalRDD
      .fromDataset(ds.queryExecution.toRdd, ds, ds.isStreaming))
  }

  /** Drain the listener bus (private[spark]): block until every queued
    * SparkListener event has been delivered. Measurement harnesses
    * (graft.tools.Soak) use this between queries so async stage-
    * completion events land in the query that ran them — without it,
    * a heavy query's last stages bleed into the NEXT query's shuffle
    * accounting.
    */
  def drainListenerBus(sc: org.apache.spark.SparkContext, timeoutMs: Long = 10000L): Boolean =
    try { sc.listenerBus.waitUntilEmpty(timeoutMs); true }
    catch { case _: java.util.concurrent.TimeoutException => false }
}
