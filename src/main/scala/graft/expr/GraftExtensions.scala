package graft.expr

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier

/** Standard `SparkSessionExtensions` entry point: lets any deployment get
  * the engine's native functions at session-build time via
  *
  * {{{
  *   spark.sql.extensions=graft.expr.GraftExtensions
  * }}}
  *
  * (or `SparkSession.builder().withExtensions(new GraftExtensions()(_))`),
  * instead of the per-session [[VectorExprs.register]] call the operator
  * library uses internally. Injection-time registration survives
  * `newSession()` children and makes the functions visible to plain SQL
  * clients (JDBC/Thrift) that never touch the Scala API.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  override def apply(ext: SparkSessionExtensions): Unit = {
    // whole-operator extension: plans graft.plans.TopKPerKeyNode as the
    // partial→exchange→final bounded-heap pair (the Scala API
    // self-registers the same object via ExperimentalMethods on first use)
    ext.injectPlannerStrategy(_ => graft.plans.TopKPerKeyStrategy)
    // and the rewrite that routes the declarative row_number()-filter
    // idiom onto that operator automatically
    ext.injectOptimizerRule(_ => graft.plans.RewriteRankFilterToTopK)
    // opt-in accuracy-for-speed switch: COUNT(DISTINCT x) → HLL++ sketch
    // when spark.graft.approx.distinct=true (default off — see the rule)
    ext.injectOptimizerRule(_ => graft.plans.RewriteExactDistinctToApprox)
    // the as-of merge join operator, planned 1:1 (the Scala API
    // self-registers the same object on first use too)
    ext.injectPlannerStrategy(_ => graft.plans.AsOfJoinStrategy)
    // one sort task for a small ORDER BY over finished AQE stages (the
    // object graft.Sessions.install adds)
    ext.injectPlannerStrategy(_ => graft.plans.SmallSortStrategy)
    VectorExprs.functions.foreach(f =>
      ext.injectFunction((FunctionIdentifier(f.name), f.info, f.builder)))
  }
}
