package graft.plans

import graft.Tables
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, Descending, Expression, RowOrdering, SortOrder, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, Partitioning, UnspecifiedDistribution}
import org.apache.spark.sql.execution.metric.SQLMetrics
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.GraftSqlShim
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Whole-operator Catalyst extension: per-key top-k without sorting.
  *
  * The declarative form — `row_number() OVER (PARTITION BY key ORDER BY v)
  * <= k` — shuffles every row, then SORTS every partition (Spark 3.5+'s
  * `WindowGroupLimit` prunes rows per group but only after/while the sort
  * runs). At 100 TB the per-partition sort is the dominant cost and the
  * spill risk. Per-key top-k is a mergeable bounded-heap aggregate, so it
  * supports the same two-phase shape as partial aggregation:
  *
  *   TopKPerKeyFinal            (k rows/key, after hash exchange)
  *     +- Exchange hashpartitioning(keys)      rows ≤ k · keysPerMapTask
  *        +- TopKPerKeyPartial  (map-side: k rows/key/task, NO sort)
  *           +- scan …
  *
  * Each phase is one O(n log k) heap pass — no sort, no spill, and the
  * shuffle carries at most k rows per key per map task instead of the full
  * table (for top-3-per-customer over billions of orders that is a
  * multiple-orders-of-magnitude exchange reduction the window form cannot
  * express). Memory per task is bounded by distinctKeysInTask × k rows —
  * the same exposure class as hash aggregation; if keys-per-task × k
  * approaches task memory, fall back to the window form (which spills via
  * its sort) exactly as ObjectHashAggregate falls back to sort-based.
  *
  * Implemented per SURVEY.md §7 preference (c): a logical node
  * ([[TopKPerKeyNode]]), a planner strategy ([[TopKPerKeyStrategy]], also
  * injectable via `graft.expr.GraftExtensions`), and a physical operator
  * ([[TopKPerKeyExec]]) whose `requiredChildDistribution` lets
  * `EnsureRequirements` place the single hash exchange. Output row order
  * within a key is heap order (unspecified) — callers that need a
  * deterministic frame add their own ORDER BY tail; the sort ordering must
  * be total (include a unique tiebreaker) for cross-partition determinism
  * of WHICH rows survive, same contract as the reference's argmax idiom
  * (reference etl.py:181-207 keeps "first" under an implicit order; here
  * the order is explicit and machine-checked).
  */
case class TopKPerKeyNode(
    keys: Seq[Expression],
    order: Seq[SortOrder],
    k: Int,
    child: LogicalPlan) extends UnaryNode {
  require(k > 0, s"top-k requires k > 0, got $k")
  override def output: Seq[Attribute] = child.output
  override def maxRows: Option[Long] = child.maxRows
  override protected def withNewChildInternal(newChild: LogicalPlan): TopKPerKeyNode =
    copy(child = newChild)
}

/** Physical bounded-heap top-k per key; `partial = true` is the map-side
  * phase (any distribution), `partial = false` the merge phase (requires
  * clustering on `keys`, which EnsureRequirements satisfies with one hash
  * exchange). Both phases run the identical heap pass — per-key top-k is
  * idempotent and mergeable, so final(partial(data)) ≡ final(data).
  */
case class TopKPerKeyExec(
    keys: Seq[Expression],
    order: Seq[SortOrder],
    k: Int,
    partial: Boolean,
    child: SparkPlan) extends UnaryExecNode {

  override def output: Seq[Attribute] = child.output
  override def outputPartitioning: Partitioning = child.outputPartitioning
  override def nodeName: String =
    if (partial) "TopKPerKeyPartial" else "TopKPerKeyFinal"

  override def requiredChildDistribution: Seq[Distribution] =
    (if (partial) UnspecifiedDistribution else ClusteredDistribution(keys)) :: Nil

  override lazy val metrics = Map(
    "numOutputRows" -> SQLMetrics.createMetric(sparkContext, "number of output rows"))

  protected override def doExecute(): RDD[InternalRow] = {
    val numOutputRows = longMetric("numOutputRows")
    // bind into locals: the task closure must not capture the SparkPlan
    val keyExprs = keys
    val sortOrder = order
    val limit = k
    val childOutput = child.output
    child.execute().mapPartitions({ iter =>
      val keyProj = UnsafeProjection.create(keyExprs, childOutput)
      // codegen'd comparator with interpreted fallback (Spark's own
      // sort-ordering factory) — first under `ord` means rank 1
      val ord = RowOrdering.create(sortOrder, childOutput)
      // max-heap of the currently-kept rows: head = worst kept row, so
      // admission is a single peek and replacement a poll+add, O(log k)
      val worstFirst: java.util.Comparator[InternalRow] = ord.reverse
      val heaps = new java.util.HashMap[UnsafeRow, java.util.PriorityQueue[InternalRow]]()
      while (iter.hasNext) {
        val row = iter.next()
        val key = keyProj(row)
        var heap = heaps.get(key)
        if (heap == null) {
          heap = new java.util.PriorityQueue[InternalRow](math.min(limit, 16).max(1), worstFirst)
          heaps.put(key.copy(), heap) // projection reuses its buffer — copy retained keys
        }
        if (heap.size < limit) heap.add(row.copy())
        else if (ord.compare(row, heap.peek()) < 0) {
          heap.poll()
          heap.add(row.copy())
        }
      }
      import scala.jdk.CollectionConverters._
      heaps.values().iterator().asScala.flatMap { h =>
        h.iterator().asScala.map { r => numOutputRows += 1; r }
      }
    }, preservesPartitioning = true)
  }

  override protected def withNewChildInternal(newChild: SparkPlan): TopKPerKeyExec =
    copy(child = newChild)
}

/** Plans [[TopKPerKeyNode]] as partial→exchange→final (the exchange is
  * inserted by EnsureRequirements from the final phase's required
  * distribution — the strategy itself stays purely logical→physical).
  */
object TopKPerKeyStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case TopKPerKeyNode(keys, order, k, child) =>
      TopKPerKeyExec(keys, order, k, partial = false,
        TopKPerKeyExec(keys, order, k, partial = true, planLater(child))) :: Nil
    case _ => Nil
  }
}

object TopKPerKey {

  /** Public operator API: top `k` rows per `keyCols` group under
    * `sortCols` ((column, ascending) — make it a total order for
    * deterministic survivors). Installs the engine on the input's session
    * ([[graft.Sessions.install]], idempotent);
    * `spark.sql.extensions=graft.expr.GraftExtensions` is the config-time
    * alternative.
    */
  def topK(df: DataFrame, keyCols: Seq[String], sortCols: Seq[(String, Boolean)],
           k: Int): DataFrame = {
    val spark = df.sparkSession
    graft.Sessions.install(spark)
    val plan = GraftSqlShim.analyzed(df)
    def attr(name: String): Attribute =
      plan.output.find(_.name == name).getOrElse(
        throw new IllegalArgumentException(
          s"column $name not in ${plan.output.map(_.name).mkString(", ")}"))
    val order = sortCols.map { case (n, asc) =>
      SortOrder(attr(n), if (asc) Ascending else Descending)
    }
    GraftSqlShim.ofRows(spark, TopKPerKeyNode(keyCols.map(attr), order, k, plan))
  }

  /** Top-3 orders per customer by price — the native-operator twin of the
    * window-rank idiom, verified against DuckDB's row_number() form.
    */
  def topkNative(s: SparkSession, d: String): DataFrame =
    topK(
      Tables.orders(s, d).select(col("o_custkey"), col("o_orderkey"), col("o_totalprice")),
      keyCols = Seq("o_custkey"),
      sortCols = Seq(("o_totalprice", false), ("o_orderkey", true)),
      k = 3)
      .orderBy(col("o_custkey"), col("o_totalprice").desc, col("o_orderkey"))

  /** The same semantics written DECLARATIVELY (the stock Spark idiom:
    * row_number window + filter + drop), executed on a session that has
    * [[RewriteRankFilterToTopK]] installed — the engine, not the caller,
    * swaps in the native operator. Runs in a scoped sibling session
    * (shared SparkContext, own planner registrations) so sibling queries
    * in the same JVM keep stock Spark plans; a real deployment opts a
    * session in with `spark.sql.extensions=graft.expr.GraftExtensions`.
    * Latest-order-per-customer (the reference's argmax idiom,
    * etl.py:181-207) — rn = 1 is the k = 1 case of the rewrite.
    */
  def topkRuleRewrite(s: SparkSession, d: String): DataFrame = {
    val scoped = graft.Sessions.child(s) // installs the engine, strategy included
    GraftSqlShim.registerOptimizerRule(scoped, RewriteRankFilterToTopK)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate").desc, col("o_orderkey").desc)
    Tables.orders(scoped, d)
      .select(col("o_custkey"), col("o_orderkey"), col("o_orderdate"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1).drop("rn")
      .orderBy(col("o_custkey"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "x_topk_per_key_native" -> topkNative,
    "x_topk_per_key_rule" -> topkRuleRewrite)

  val oracle: Map[String, String] = Map(
    "x_topk_per_key_native" ->
      """SELECT o_custkey, o_orderkey, o_totalprice FROM (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |         row_number() OVER (PARTITION BY o_custkey
        |                            ORDER BY o_totalprice DESC, o_orderkey) AS rn
        |  FROM orders) t
        |WHERE rn <= 3
        |ORDER BY o_custkey, o_totalprice DESC, o_orderkey""".stripMargin,
    "x_topk_per_key_rule" ->
      """SELECT o_custkey, o_orderkey, o_orderdate FROM (
        |  SELECT o_custkey, o_orderkey, o_orderdate,
        |         row_number() OVER (PARTITION BY o_custkey
        |                            ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
        |  FROM orders) t
        |WHERE rn = 1
        |ORDER BY o_custkey""".stripMargin)
}
