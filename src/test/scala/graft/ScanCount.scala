package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}

/** Test-scope helper: count executed FileSourceScan nodes whose location
  * matches a path fragment, across EVERY action fired inside a block —
  * the machine check behind the "scans raw O(stages) times, never
  * re-derives the chain" claims (PlanSpec's flagship walk, SourceSinkSpec's
  * restart-resume proof).
  */
object ScanCount {
  /** FileSourceScan occurrences on `pathFragment` in one executed plan,
    * descending through AQE wrappers and query stages.
    */
  def scansIn(p: SparkPlan, pathFragment: String): Long = {
    val here = p match {
      case f: FileSourceScanExec if f.relation.location.rootPaths
        .exists(_.toString.contains(pathFragment)) => 1L
      case _ => 0L
    }
    val inner = p match {
      case a: AdaptiveSparkPlanExec => scansIn(a.executedPlan, pathFragment)
      case s: QueryStageExec => scansIn(s.plan, pathFragment)
      case _ => 0L
    }
    here + inner + p.children.map(scansIn(_, pathFragment)).sum
  }

  /** Run `body`, return how many times a FileSourceScan on
    * `pathFragment` executed across all actions (checkpoint
    * materializations, writes, collects) fired within it.
    */
  def during(spark: SparkSession, pathFragment: String)(body: => Unit): Long = {
    val counter = new java.util.concurrent.atomic.AtomicLong(0)
    // Drain the async listener bus BEFORE registering: a preceding test's
    // still-queued QueryExecution events would otherwise be delivered to
    // THIS listener and count that test's scans against this block (a
    // load-dependent flake — the bus lags exactly when the box is busy).
    drainListenerBus(spark)
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution,
          durationNs: Long): Unit =
        counter.addAndGet(scansIn(qe.executedPlan, pathFragment))
      override def onFailure(funcName: String, qe: QueryExecution,
          exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      body
      // QueryExecutionListener events post asynchronously on the shared
      // listener bus — drain it before reading the counter.
      drainListenerBus(spark)
      counter.get
    } finally spark.listenerManager.unregister(listener)
  }

  /** Block until the shared async listener bus is empty.
    * (listenerBus is private[spark] in source but public in bytecode.)
    */
  private[graft] def drainListenerBus(spark: SparkSession): Unit = {
    val lb = spark.sparkContext.getClass.getMethod("listenerBus")
      .invoke(spark.sparkContext)
    lb.getClass.getMethods
      .find(m => m.getName == "waitUntilEmpty" && m.getParameterCount == 0)
      .get.invoke(lb)
  }
}
