package graft.expr

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier

/** Standard `SparkSessionExtensions` entry point: lets any deployment get
  * the engine at session-build time via
  *
  * {{{
  *   spark.sql.extensions=graft.expr.GraftExtensions
  * }}}
  *
  * (or `SparkSession.builder().withExtensions(new GraftExtensions()(_))`),
  * instead of the per-session `graft.Sessions.install` call the operator
  * library uses internally. It injects the same planner strategies and
  * native functions `install` adds, read from the same lists, plus two
  * optimizer rules that only this path installs session-wide.
  * Injection-time registration survives `newSession()` children and makes
  * the functions visible to plain SQL clients (JDBC/Thrift) that never
  * touch the Scala API.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  override def apply(ext: SparkSessionExtensions): Unit = {
    // the whole-operator strategies: TopKPerKeyNode as the
    // partial→exchange→final bounded-heap pair, the as-of merge join
    // planned 1:1, and one sort task for a small ORDER BY over finished
    // AQE stages
    graft.Sessions.strategies.foreach(st => ext.injectPlannerStrategy(_ => st))
    // the rewrite that routes the declarative row_number()-filter idiom
    // onto the top-k operator automatically
    ext.injectOptimizerRule(_ => graft.plans.RewriteRankFilterToTopK)
    // opt-in accuracy-for-speed switch: COUNT(DISTINCT x) → HLL++ sketch
    // when spark.graft.approx.distinct=true (default off — see the rule)
    ext.injectOptimizerRule(_ => graft.plans.RewriteExactDistinctToApprox)
    VectorExprs.functions.foreach(f =>
      ext.injectFunction((FunctionIdentifier(f.name), f.info, f.builder)))
  }
}
