package org.apache.spark.sql.graft

import org.apache.spark.sql.{classic, Column, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Minimal bridge into `private[sql]` Column↔Expression conversion.
  *
  * Spark 4 removed the public `new Column(expr)` constructor; the blessed
  * internal path is `org.apache.spark.sql.classic.ExpressionUtils`, which is
  * `private[sql]`. This object lives inside the `org.apache.spark.sql`
  * package tree solely to re-export the handful of internals below — the
  * standard pattern for third-party Catalyst expression libraries.
  * Nothing else in graft reaches into Spark internals.
  */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Wrap a (resolved) logical plan as a DataFrame — `classic.Dataset
    * .ofRows` is `private[sql]`; this is the standard entry point for
    * libraries that contribute their own logical operators.
    */
  def ofRows(spark: SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): org.apache.spark.sql.DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** Idempotently add a planner strategy to the session (the imperative
    * twin of `SparkSessionExtensions.injectPlannerStrategy`, for sessions
    * built without `spark.sql.extensions`).
    */
  def addStrategy(spark: SparkSession,
      strategy: org.apache.spark.sql.execution.SparkStrategy): Unit = {
    val exp = spark.asInstanceOf[classic.SparkSession].experimental
    if (!exp.extraStrategies.contains(strategy))
      exp.extraStrategies = strategy +: exp.extraStrategies
  }

  /** Idempotently add an optimizer rule to the session (imperative twin of
    * `SparkSessionExtensions.injectOptimizerRule`).
    */
  def addOptimization(spark: SparkSession,
      rule: org.apache.spark.sql.catalyst.rules.Rule[org.apache.spark.sql.catalyst.plans.logical.LogicalPlan]): Unit = {
    val exp = spark.asInstanceOf[classic.SparkSession].experimental
    if (!exp.extraOptimizations.contains(rule))
      exp.extraOptimizations = rule +: exp.extraOptimizations
  }

  /** A 1-row/1-column DataFrame as a scalar-subquery EXPRESSION: the
    * engine-native way to thread a small computed value (a Bloom filter,
    * a threshold) into a corpus-sized Filter/Project — the consuming plan
    * gets a plain Filter with the subquery evaluated once, instead of a
    * 1-row join that Catalyst constant-folds into a
    * BroadcastNestedLoopJoin.
    */
  def scalarSubquery(df: org.apache.spark.sql.DataFrame): Column =
    column(org.apache.spark.sql.catalyst.expressions.ScalarSubquery(
      df.asInstanceOf[classic.Dataset[_]].logicalPlan))

  /** The executed plan's `RDD[InternalRow]` — the columnar-adjacent internal
    * representation, without the per-row InternalRow→Row→InternalRow serde
    * that `df.rdd` pays. Pair with [[ofInternalRows]] to hand a frame to a
    * sibling session (same SparkContext) at zero conversion cost.
    */
  def internalRows(df: org.apache.spark.sql.DataFrame): org.apache.spark.rdd.RDD[org.apache.spark.sql.catalyst.InternalRow] =
    df.queryExecution.toRdd

  /** Wrap an internal-row RDD as a DataFrame on `spark` —
    * `internalCreateDataFrame` is `private[sql]`; this is how Spark's own
    * sources re-enter the Dataset API without an external-row round-trip.
    */
  def ofInternalRows(spark: SparkSession, schema: org.apache.spark.sql.types.StructType,
      rdd: org.apache.spark.rdd.RDD[org.apache.spark.sql.catalyst.InternalRow]): org.apache.spark.sql.DataFrame =
    spark.asInstanceOf[classic.SparkSession].internalCreateDataFrame(rdd, schema)

  /** The query execution and its duration in ns when `e` ends a named,
    * successful SQL execution of ANY session on the context — the set a
    * `QueryExecutionListener` reports for its own session only, so a
    * child session's (`newSession()`) executions are seen too. The end
    * event's `qe`, `executionName` and `executionFailure` are
    * `private[sql]`.
    */
  def succeededExecution(e: org.apache.spark.scheduler.SparkListenerEvent)
      : Option[(org.apache.spark.sql.execution.QueryExecution, Long)] = e match {
    case end: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd
        if end.qe != null && end.executionName.isDefined && end.executionFailure.isEmpty =>
      Some((end.qe, end.duration))
    case _ => None
  }

  /** Drain the async listener bus so tests and the capture tool can
    * observe listener events synchronously — `sparkContext
    * .listenerBus` is `private[spark]`. Needed to assert on the INNER
    * query executions of operators that return an eager localCheckpoint
    * (the outer plan is just a `Scan ExistingRDD` stub).
    */
  def drainListenerBus(spark: SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty()

  /** `AbstractDataType`/`TypeCollection` are `private[sql]`, but they are
    * the only way an `ExpectsInputTypes` expression can declare an
    * "array<float> or array<double>" contract — re-exported here for
    * graft.functions input-type declarations.
    */
  type AbstractType = org.apache.spark.sql.types.AbstractDataType
  def typeCollection(ts: AbstractType*): AbstractType =
    org.apache.spark.sql.types.TypeCollection(ts: _*)

  /** Every physical node of an EXECUTED plan, descending through the AQE
    * wrapper (`AdaptiveSparkPlanExec.executedPlan` — the final, re-planned
    * tree), materialized query stages, reused exchanges, and subqueries —
    * the traversal `SparkPlan.children` alone misses under AQE. Paired
    * with each node's post-execution `metrics` values this is the
    * attribution layer beneath ShuffleAudit's per-query totals: WHICH
    * exchange/sort/aggregate spilled or wrote the bytes.
    */
  def flattenExecuted(p: org.apache.spark.sql.execution.SparkPlan)
      : Seq[org.apache.spark.sql.execution.SparkPlan] = {
    val kids = p match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        Seq(a.executedPlan)
      case q: org.apache.spark.sql.execution.adaptive.QueryStageExec => Seq(q.plan)
      case r: org.apache.spark.sql.execution.exchange.ReusedExchangeExec => Seq(r.child)
      case o => o.children
    }
    (p +: kids.flatMap(flattenExecuted)) ++ p.subqueries.flatMap(flattenExecuted)
  }

  /** Post-execution metric values of one node: name → raw long (bytes for
    * size metrics, counts for row metrics). */
  def nodeMetrics(p: org.apache.spark.sql.execution.SparkPlan): Map[String, Long] =
    p.metrics.map { case (k, m) => k -> m.value }.toMap
}
