package graft.plans

import graft.Tables
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, Expression, GenericInternalRow, JoinedRow, SortOrder, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, Partitioning}
import org.apache.spark.sql.execution.metric.SQLMetrics
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan, SparkStrategy}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.GraftSqlShim
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Whole-operator Catalyst extension #2: backward AS-OF JOIN as a native
  * physical operator — the canonical "operator Spark lacks" (pandas
  * `merge_asof`, kdb+ `aj`, DuckDB/QuestDB `ASOF JOIN`; Flink's temporal
  * join is its streaming sibling): for every left row, the right row with
  * the same key and the GREATEST right-time ≤ left-time, or nulls.
  *
  * The declarative encodings pay real costs the operator doesn't:
  *  - union + last(...) IGNORE NULLS window ([[graft.ext.TemporalOps
  *    .asofJoin]]) interleaves BOTH tables through one window sort and
  *    carries every probe row through the state machine;
  *  - a range join explodes to |L|·|R| per key before taking max.
  * This operator is the classic co-partitioned MERGE: each side shuffles
  * ONCE on its key, sorts ONCE by (key, time) — both placed by
  * EnsureRequirements from the declared requirements, exactly how
  * SortMergeJoin gets its exchanges — and then a single forward pass per
  * partition zips the two sorted streams with O(1) state (the right
  * cursor + one remembered candidate row). Neither stream is ever
  * buffered, so memory is constant regardless of key skew — at 100 TB an
  * as-of of a click firehose against a purchase ledger runs at merge-scan
  * speed with no spill surface at all.
  *
  * Contract: keys and times evaluate to non-null BIGINTs (epoch micros
  * for times — the engine-wide time discipline); composite keys pack
  * upstream. Ties: right rows at time == left-time are admissible
  * (inclusive, the DuckDB/pandas default); among right rows with equal
  * (key, time) the survivor is stream-order-dependent, so emit the TIME
  * (deterministic) rather than a payload column if right-side equal-time
  * duplicates are possible — same caveat the window form carries.
  *
  * Implemented per SURVEY.md §7 preference (c): logical node + strategy
  * (installed by [[graft.Sessions.install]], or config-time through
  * `graft.expr.GraftExtensions`) + physical [[AsOfJoinExec]].
  */
case class AsOfJoinNode(
    leftKey: Expression, rightKey: Expression,
    leftTime: Expression, rightTime: Expression,
    toleranceUs: Long,
    left: LogicalPlan, right: LogicalPlan) extends BinaryNode {
  override def output: Seq[Attribute] =
    left.output ++ right.output.map(_.withNullability(true))
  override protected def withNewChildrenInternal(
      newLeft: LogicalPlan, newRight: LogicalPlan): AsOfJoinNode =
    copy(left = newLeft, right = newRight)
}

/** Physical merge as-of join. Declares clustering on each side's key and
  * per-partition (key, time) ordering; EnsureRequirements inserts the two
  * hash exchanges and sorts (or elides them when a child already
  * satisfies the requirement — e.g. a bucketed/sorted table).
  */
case class AsOfJoinExec(
    leftKey: Expression, rightKey: Expression,
    leftTime: Expression, rightTime: Expression,
    toleranceUs: Long,
    left: SparkPlan, right: SparkPlan) extends BinaryExecNode {

  override def output: Seq[Attribute] =
    left.output ++ right.output.map(_.withNullability(true))
  override def outputPartitioning: Partitioning = left.outputPartitioning
  override def outputOrdering: Seq[SortOrder] = left.outputOrdering
  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(Seq(leftKey)) ::
      ClusteredDistribution(Seq(rightKey)) :: Nil
  override def requiredChildOrdering: Seq[Seq[SortOrder]] =
    Seq(SortOrder(leftKey, Ascending), SortOrder(leftTime, Ascending)) ::
      Seq(SortOrder(rightKey, Ascending), SortOrder(rightTime, Ascending)) :: Nil

  override lazy val metrics = Map(
    "numOutputRows" -> SQLMetrics.createMetric(sparkContext, "number of output rows"),
    "numMatched" -> SQLMetrics.createMetric(sparkContext, "left rows with a match"))

  protected override def doExecute(): RDD[InternalRow] = {
    val numOutputRows = longMetric("numOutputRows")
    val numMatched = longMetric("numMatched")
    // bind into locals: the task closure must not capture the SparkPlan
    val lOut = left.output
    val rOut = right.output
    val lk = leftKey; val rk = rightKey
    val lt = leftTime; val rt = rightTime
    val tol = toleranceUs
    val outAttrs = output
    left.execute().zipPartitions(right.execute()) { (lIter, rIter) =>
      val lProj = UnsafeProjection.create(Seq(lk, lt), lOut)
      val rProj = UnsafeProjection.create(Seq(rk, rt), rOut)
      val resultProj = UnsafeProjection.create(outAttrs, outAttrs)
      val nullRight = new GenericInternalRow(rOut.size)
      val joined = new JoinedRow
      // O(1) merge state: the right cursor and one remembered candidate
      var rHas = rIter.hasNext
      var rRow: InternalRow = if (rHas) rIter.next() else null
      var rKey = 0L
      var rTime = 0L
      if (rHas) {
        val p = rProj(rRow); rKey = p.getLong(0); rTime = p.getLong(1)
      }
      var matchKey = 0L
      var matchTime = 0L
      var matchRow: InternalRow = null
      lIter.map { l =>
        val lp = lProj(l)
        val lKey = lp.getLong(0)
        val lTime = lp.getLong(1)
        // consume right up to (lKey, lTime] — the last consumed row of
        // this key is by sortedness the greatest admissible one
        while (rHas && (rKey < lKey || (rKey == lKey && rTime <= lTime))) {
          if (rKey == lKey) {
            matchRow = rRow.copy(); matchKey = lKey; matchTime = rTime
          }
          if (rIter.hasNext) {
            rRow = rIter.next()
            val p = rProj(rRow); rKey = p.getLong(0); rTime = p.getLong(1)
          } else { rHas = false; rRow = null }
        }
        numOutputRows += 1
        if (matchRow != null && matchKey == lKey &&
            (tol < 0L || lTime - matchTime <= tol)) {
          numMatched += 1
          resultProj(joined(l, matchRow))
        } else resultProj(joined(l, nullRight))
      }
    }
  }

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): AsOfJoinExec =
    copy(left = newLeft, right = newRight)
}

/** Plans [[AsOfJoinNode]] 1:1 onto [[AsOfJoinExec]]; exchanges and sorts
  * come from EnsureRequirements, the strategy stays purely structural.
  */
object AsOfJoinStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case AsOfJoinNode(lk, rk, lt, rt, tol, l, r) =>
      AsOfJoinExec(lk, rk, lt, rt, tol, planLater(l), planLater(r)) :: Nil
    case _ => Nil
  }
}

object AsOfJoin {

  /** Public operator API: backward inclusive as-of join of `left`
    * against `right` on BIGINT key and time columns, with an optional
    * TOLERANCE (the pandas `merge_asof` knob): a candidate older than
    * `toleranceUs` microseconds is rejected and the row emits nulls —
    * the conversion-window semantics attribution uses. −1 = unbounded.
    * Installs the engine on the inputs' session (idempotent).
    */
  def asOf(left: DataFrame, right: DataFrame,
      leftKey: String, rightKey: String,
      leftTime: String, rightTime: String,
      toleranceUs: Long = -1L): DataFrame = {
    val spark = left.sparkSession
    graft.Sessions.install(spark)
    val lp = GraftSqlShim.analyzed(left)
    val rp = GraftSqlShim.analyzed(right)
    def attr(p: LogicalPlan, name: String): Attribute =
      p.output.find(_.name == name).getOrElse(
        throw new IllegalArgumentException(
          s"column $name not in ${p.output.map(_.name).mkString(", ")}"))
    GraftSqlShim.ofRows(spark,
      AsOfJoinNode(attr(lp, leftKey), attr(rp, rightKey),
        attr(lp, leftTime), attr(rp, rightTime), toleranceUs, lp, rp))
  }

  /** Every purchase joined to its most recent click — the NATIVE twin of
    * [[graft.ext.TemporalOps.asofJoin]]'s window encoding, verified
    * against the same independent DuckDB `ASOF LEFT JOIN` oracle. The
    * emitted right-side column is the click TIMESTAMP (deterministic
    * under equal-time duplicates per the operator contract).
    */
  def asofNative(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id"),
        col("ts").as("purchase_ts"), unix_micros(col("ts")).as("p_us"))
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"),
        col("ts").as("last_click_ts"), unix_micros(col("ts")).as("c_us"))
    asOf(purchases, clicks, "user_id", "c_user", "p_us", "c_us")
      .select(col("user_id"), col("event_id"), col("purchase_ts"),
        col("last_click_ts"))
      .orderBy(col("event_id"))
  }

  /** The tolerance path through the verify gate: same join, candidates
    * older than 30 minutes rejected (conversion-window semantics).
    * Because the operator keeps only the LATEST admissible candidate,
    * bounding it is provably equivalent to post-filtering the unbounded
    * result — which is exactly how the oracle expresses it, so the
    * equivalence itself is what the gate certifies.
    */
  def asofTolerance(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id"),
        col("ts").as("purchase_ts"), unix_micros(col("ts")).as("p_us"))
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"),
        col("ts").as("last_click_ts"), unix_micros(col("ts")).as("c_us"))
    asOf(purchases, clicks, "user_id", "c_user", "p_us", "c_us",
      toleranceUs = 30L * 60L * 1000000L)
      .select(col("user_id"), col("event_id"), col("purchase_ts"),
        col("last_click_ts"))
      .orderBy(col("event_id"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "ev_asof_native" -> asofNative,
    "ev_asof_tolerance" -> asofTolerance)

  val oracle: Map[String, String] = Map(
    // the same independent native-ASOF oracle as ev_asof_join — both
    // encodings must agree with DuckDB and therefore with each other
    "ev_asof_native" ->
      """SELECT p.user_id, p.event_id, p.ts AS purchase_ts, c.ts AS last_click_ts
        |FROM (SELECT * FROM events WHERE event_type = 'purchase') p
        |ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
        |  ON p.user_id = c.user_id AND c.ts <= p.ts
        |ORDER BY p.event_id""".stripMargin,
    // tolerance = post-filter of the unbounded ASOF (the latest
    // admissible candidate is the only one the operator keeps)
    "ev_asof_tolerance" ->
      """SELECT user_id, event_id, purchase_ts,
        |       CASE WHEN last_click_ts >= purchase_ts - INTERVAL 30 MINUTE
        |            THEN last_click_ts END AS last_click_ts
        |FROM (
        |  SELECT p.user_id, p.event_id, p.ts AS purchase_ts,
        |         c.ts AS last_click_ts
        |  FROM (SELECT * FROM events WHERE event_type = 'purchase') p
        |  ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
        |    ON p.user_id = c.user_id AND c.ts <= p.ts)
        |ORDER BY event_id""".stripMargin)
}
