package org.apache.spark.sql.graft

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic
import org.apache.spark.sql.execution.SparkStrategy
import org.apache.spark.sql.{Column, DataFrame, SparkSession}

/** Minimal bridge into the `private[sql]` surface the whole-operator
  * extension path needs (SURVEY.md §7 preference (c): custom LogicalPlan +
  * SparkStrategy + SparkPlan). Spark deliberately scopes plan construction
  * to its own package, and the established pattern for extension libraries
  * is a single shim object living under `org.apache.spark.sql` — every
  * capability used here is the stable internal API that Spark's own
  * built-in operators go through, nothing reflective or version-fragile.
  *
  * Kept intentionally tiny: ONLY plan→DataFrame, DataFrame→plan,
  * expression↔Column, and per-session strategy registration. All operator
  * logic stays in `graft.plans` and `graft.expr`.
  */
object GraftSqlShim {

  /** A Column over a native expression (no function-registry entry). */
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)

  /** `c` as an expression child, resolved with the enclosing plan. */
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** Wrap an (already resolved) logical plan as a DataFrame on `spark`. */
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** The analyzed logical plan of `df` (resolved attributes, so custom
    * nodes built on top of it are born resolved).
    */
  def analyzed(df: DataFrame): LogicalPlan = {
    val qe = df.asInstanceOf[classic.Dataset[_]].queryExecution
    qe.assertAnalyzed()
    qe.analyzed
  }

  /** Idempotently add `strategy` to the session's planner (the public
    * `ExperimentalMethods` hook — same registration point
    * `SparkSessionExtensions.injectPlannerStrategy` feeds; the direct form
    * lets `graft.Sessions.install` add it to a live session instead of
    * requiring a session-build-time config).
    */
  def registerStrategy(spark: SparkSession, strategy: SparkStrategy): Unit = {
    val exp = spark.asInstanceOf[classic.SparkSession].experimental
    exp.synchronized {
      if (!exp.extraStrategies.contains(strategy))
        exp.extraStrategies = exp.extraStrategies :+ strategy
    }
  }

  /** Idempotently add an optimizer rule (the `extraOptimizations` twin of
    * [[registerStrategy]] — post-hoc batch, after Spark's own optimizer).
    */
  def registerOptimizerRule(spark: SparkSession,
      rule: org.apache.spark.sql.catalyst.rules.Rule[LogicalPlan]): Unit = {
    val exp = spark.asInstanceOf[classic.SparkSession].experimental
    exp.synchronized {
      if (!exp.extraOptimizations.contains(rule))
        exp.extraOptimizations = exp.extraOptimizations :+ rule
    }
  }
}
