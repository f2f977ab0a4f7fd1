package graft.ext

import graft.{Det, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Time-series / event-stream operators over the `events` table (batch
  * analogs of the Structured Streaming surface in [[graft.streaming]]):
  * tumbling and sliding window aggregation, sessionization
  * (gaps-and-islands), and JSON property extraction.
  */
object EventOps {

  /** Tumbling 1-hour window aggregation via Spark's window() — the exact
    * batch analog of a streaming groupBy(window(...)). Window starts are
    * epoch-aligned, so the oracle's date_trunc('hour') matches.
    */
  def tumbling(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n_events"), Det.dsum(col("value")).as("sum_value"))
      .select(col("window.start").as("hour_start"), col("event_type"),
        col("n_events"), col("sum_value"))
      .orderBy(col("hour_start"), col("event_type"))

  /** Sliding windows (1 hour every 30 min) — each event lands in exactly
    * two windows; Spark expands them natively, the oracle mirrors with a
    * two-way shifted-truncation union.
    */
  def sliding(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .groupBy(window(col("ts"), "1 hour", "30 minutes"))
      .agg(count(lit(1)).as("n_events"), Det.dsum(col("value")).as("sum_value"))
      .select(col("window.start").as("win_start"), col("n_events"), col("sum_value"))
      .orderBy(col("win_start"))

  /** Sessionization, gaps-and-islands form: a new session starts after a
    * >30-minute silence per user; sessions get row_number ids and
    * per-session rollups. The streaming twin uses mapGroupsWithState
    * ([[graft.streaming.StreamOps]]); this is the backfill/batch form.
    */
  def sessionize(s: SparkSession, d: String): DataFrame = {
    val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val cum = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.events(s, d)
      .withColumn("prev_us", lag(unix_micros(col("ts")), 1).over(byUser))
      .withColumn("new_sess",
        when(col("prev_us").isNull
          || unix_micros(col("ts")) - col("prev_us") > 1800L * 1000000L, 1L)
          .otherwise(0L))
      .withColumn("session_id", sum(col("new_sess")).over(cum))
      .groupBy(col("user_id"), col("session_id"))
      .agg(count(lit(1)).as("n_events"),
        min(col("ts")).as("session_start"),
        max(col("ts")).as("session_end"),
        Det.dsum(col("value")).as("sum_value"))
      .orderBy(col("user_id"), col("session_id"))
  }

  /** Native session_window (gap-close 30 min): Spark's built-in session
    * assignment must produce exactly the sessions the gaps-and-islands
    * window form derives — the oracle IS the gaps-and-islands SQL, so the
    * two formulations cross-validate.
    */
  def sessionWindowNative(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
      .agg(count(lit(1)).as("n_events"), Det.dsum(col("value")).as("sum_value"))
      .select(col("user_id"),
        col("session_window.start").as("session_start"),
        col("n_events"), col("sum_value"))
      .orderBy(col("user_id"), col("session_start"))

  /** DYNAMIC-GAP session_window — Spark's per-event gap expression
    * (clicks close after 20 min, everything else after 40): each event
    * contributes a window [ts, ts+gap(event)) and overlapping windows
    * merge, so a session's lifetime depends on WHAT happened, not just
    * when — the idle-timeout-by-activity-class model real products use.
    * The oracle replays the merge relationally: new session iff
    * ts ≥ running max of previous (ts+gap) — the running max is the
    * whole semantics (a long-gap event can bridge a gap a short-gap
    * event could not), which a prev-row-only islands form gets WRONG;
    * cross-validating Spark's native merge against that algebra is the
    * point of the query.
    *
    * Scale: same shape as fixed-gap sessionization — one keyed window.
    */
  def sessionDynamic(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .groupBy(col("user_id"), session_window(col("ts"),
        when(col("event_type") === "click", "20 minutes")
          .otherwise("40 minutes")))
      .agg(count(lit(1)).as("n_events"),
        sum(when(col("event_type") === "click", 1L).otherwise(0L))
          .as("n_clicks"),
        Det.dsum(col("value")).as("sum_value"))
      .select(col("user_id"),
        col("session_window.start").as("session_start"),
        col("n_events"), col("n_clicks"), col("sum_value"))
      .orderBy(col("user_id"), col("session_start"))

  /** Ordered conversion funnel view → click → purchase: each stage is the
    * earliest qualifying event strictly after the user's previous-stage
    * time, so out-of-order events never count (a click before the first
    * view is not a funnel click).
    *
    * Scale shape: three keyed aggregations, each with map-side partial
    * aggregation; the inter-stage joins run the type-filtered events side
    * against a per-user frame that is ≤ one row per user. No forced
    * broadcast: the per-user frames GROW with the corpus (billions of
    * users at 100 TB), so the join strategy is left to the planner — AQE
    * broadcasts while the frame is small and falls back to a shuffle join
    * on user_id when it isn't, which is the only viable form at scale.
    */
  def funnel(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d).select(col("user_id"), col("event_type"), col("ts"))
    val t1 = ev.filter(col("event_type") === "view")
      .groupBy(col("user_id")).agg(min(col("ts")).as("t1"))
    val t2 = ev.filter(col("event_type") === "click")
      .join(t1, "user_id")
      .filter(col("ts") > col("t1"))
      .groupBy(col("user_id")).agg(min(col("ts")).as("t2"))
    val t3 = ev.filter(col("event_type") === "purchase")
      .join(t2, "user_id")
      .filter(col("ts") > col("t2"))
      .groupBy(col("user_id")).agg(min(col("ts")).as("t3"))
    def stage(df: DataFrame, name: String): DataFrame =
      df.agg(count(lit(1)).as("n_users")).withColumn("stage", lit(name))
    stage(t1, "1_view").unionByName(stage(t2, "2_click"))
      .unionByName(stage(t3, "3_purchase"))
      .select(col("stage"), col("n_users"))
      .orderBy(col("stage"))
  }

  /** Cohort retention: users cohorted by first-signup day, activity =
    * any event on a later day; output distinct active users per
    * (cohort_day, day_offset). The cohort frame is one row per user and
    * the activity frame is ≤ users × days — both collapse the raw events
    * before any join, so the wide table is aggregated exactly once. The
    * cohort⋈activity join strategy stays with the planner (both frames
    * grow with the user base; a forced broadcast would OOM at scale).
    */
  def retention(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
    val cohort = ev.filter(col("event_type") === "signup")
      .groupBy(col("user_id")).agg(to_date(min(col("ts"))).as("cohort_day"))
    val active = ev.select(col("user_id"), to_date(col("ts")).as("activity_day"))
      .distinct()
    active.join(cohort, "user_id")
      .withColumn("day_offset", datediff(col("activity_day"), col("cohort_day")))
      .filter(col("day_offset") >= 0)
      .groupBy(col("cohort_day"), col("day_offset"))
      .agg(countDistinct(col("user_id")).as("n_active"))
      .orderBy(col("cohort_day"), col("day_offset"))
  }

  /** Cohort lifetime value — [[retention]] counts who comes BACK; this
    * accumulates what they SPEND: per signup cohort and day offset, the
    * purchase count, that day's revenue, the running cumulative revenue,
    * and cumulative LTV per cohort user — the matrix a growth team reads
    * diagonally. The cumulative sum runs in DECIMAL (exact, order-
    * independent — the [[graft.Tables.dsum]] discipline applied to a
    * window) and every double is a terminal cast/division, so the whole
    * money path hash-verifies. Scale shape: cohort map is one aggregate
    * joined to purchases on user_id; the window runs per cohort over the
    * calendar-bounded (cohort × offset) aggregate frame, never raw
    * events.
    */
  def cohortLtv(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
    val cohort = ev.filter(col("event_type") === "signup")
      .groupBy(col("user_id")).agg(to_date(min(col("ts"))).as("cohort_day"))
    val sizes = cohort.groupBy(col("cohort_day"))
      .agg(count(lit(1)).as("n_users"))
    val rev = ev.filter(col("event_type") === "purchase")
      .join(cohort, "user_id")
      .withColumn("day_offset",
        datediff(to_date(col("ts")), col("cohort_day")).cast("long"))
      .filter(col("day_offset") >= 0)
      .groupBy(col("cohort_day"), col("day_offset"))
      .agg(count(lit(1)).as("n_purchases"),
        sum(col("value").cast("decimal(18,4)")).as("revd"))
    val w = Window.partitionBy(col("cohort_day")).orderBy(col("day_offset"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    rev.withColumn("cumd", sum(col("revd")).over(w))
      .join(broadcast(sizes), "cohort_day")
      .select(col("cohort_day"), col("day_offset"), col("n_users"),
        col("n_purchases"),
        col("revd").cast("double").as("revenue"),
        col("cumd").cast("double").as("cum_revenue"),
        (col("cumd").cast("double") / col("n_users").cast("double"))
          .as("ltv_per_user"))
      .orderBy(col("cohort_day"), col("day_offset"))
  }

  /** Audience-overlap matrix — for every pair of event types, how many
    * users did BOTH (plus singles and Jaccard): the segment-intersection
    * question behind campaign targeting and funnel design. The shape is
    * the bitmap-index trick scaled down: one corpus aggregate folds each
    * user's event types into a 5-bit mask (bit_or — mergeable, map-side
    * combined), a second collapses users into ≤2^5 (mask, count) rows,
    * and ALL pair arithmetic runs on that constant-size frame crossed
    * with the 15 type pairs — at 100 TB the pair matrix costs exactly
    * one user-keyed shuffle, never a self-join of the audience. Counts
    * are exact longs; Jaccard is the terminal division.
    */
  def audienceOverlap(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val bitCase = "CASE event_type WHEN 'click' THEN 1 WHEN 'error' THEN 2" +
      " WHEN 'purchase' THEN 4 WHEN 'signup' THEN 8 WHEN 'view' THEN 16 ELSE 0 END"
    val maskCounts = Tables.events(s, d)
      .select(col("user_id"), expr(bitCase).as("b"))
      .groupBy(col("user_id")).agg(expr("bit_or(b)").as("mask"))
      .groupBy(col("mask")).agg(count(lit(1)).as("n_users"))
    val types = Seq(("click", 1), ("error", 2), ("purchase", 4),
      ("signup", 8), ("view", 16))
    val pairs = for {
      (a, ab) <- types; (b, bb) <- types if bb >= ab
    } yield (a, ab, b, bb)
    pairs.toDF("type_a", "bit_a", "type_b", "bit_b")
      .crossJoin(maskCounts)
      .groupBy(col("type_a"), col("type_b"))
      .agg(
        sum(when((col("mask").bitwiseAND(col("bit_a")) =!= 0)
          && (col("mask").bitwiseAND(col("bit_b")) =!= 0),
          col("n_users")).otherwise(0L)).as("n_both"),
        sum(when(col("mask").bitwiseAND(col("bit_a")) =!= 0,
          col("n_users")).otherwise(0L)).as("n_a"),
        sum(when(col("mask").bitwiseAND(col("bit_b")) =!= 0,
          col("n_users")).otherwise(0L)).as("n_b"))
      .withColumn("jaccard",
        col("n_both").cast("double")
          / (col("n_a") + col("n_b") - col("n_both")).cast("double"))
      .select(col("type_a"), col("type_b"), col("n_both"), col("n_a"),
        col("n_b"), col("jaccard"))
      .orderBy(col("type_a"), col("type_b"))
  }

  /** DAU/WAU/MAU stickiness — the engagement table every product
    * dashboard opens with: per day, the exact distinct actives that day,
    * over the trailing 7 days, and over the trailing 30, plus the
    * DAU/WAU and DAU/MAU ratios ("how much of the weekly audience shows
    * up daily"). Scale shape: the corpus collapses ONCE to distinct
    * (day, user) pairs — everything after joins that reduced frame
    * against the ≤|days| calendar (broadcast), so the trailing windows
    * cost |days|·|daily actives| not |days|·|events|; the HLL twin
    * ([[HyperLogLog.rollingDistinct]]) replaces the exact distinct with
    * mergeable registers when even the pair frame is too big to rescan.
    */
  def stickiness(s: SparkSession, d: String): DataFrame = {
    val pairs = Tables.events(s, d)
      .select(to_date(col("ts")).as("day"), col("user_id")).distinct()
    val days = pairs.select(col("day")).distinct()
    def trailing(n: Int, name: String): DataFrame =
      days.select(col("day").as("wday"))
        .join(pairs,
          col("day").between(date_sub(col("wday"), n - 1), col("wday")))
        .groupBy(col("wday"))
        .agg(graft.Det.exactDistinct(col("user_id")).as(name))
    pairs.groupBy(col("day"))
      .agg(graft.Det.exactDistinct(col("user_id")).as("dau"))
      .join(trailing(7, "wau").withColumnRenamed("wday", "day"), "day")
      .join(trailing(30, "mau").withColumnRenamed("wday", "day"), "day")
      .select(col("day"), col("dau"), col("wau"), col("mau"),
        (col("dau").cast("double") / col("wau").cast("double"))
          .as("stickiness_w"),
        (col("dau").cast("double") / col("mau").cast("double"))
          .as("stickiness_m"))
      .orderBy(col("day"))
  }

  /** Growth accounting — every (user, active-day) classified as NEW
    * (first activity ever), RETAINED (also active the previous day), or
    * RESURRECTED (returning after a gap), plus CHURNED counted on the
    * day AFTER a user's activity stops for good (the standard
    * quadrant-chart bookkeeping: dau_t = new + retained + resurrected,
    * and net growth = new + resurrected − churned). One lag/termination
    * window over the distinct (user, day) pair frame — the same
    * reduced-grain discipline as [[stickiness]]; the corpus is touched
    * once and the classification is pure integer date arithmetic.
    */
  def lifecycle(s: SparkSession, d: String): DataFrame = {
    val pairs = Tables.events(s, d)
      .select(col("user_id"), to_date(col("ts")).as("day")).distinct()
    val byUser = Window.partitionBy(col("user_id")).orderBy(col("day"))
    val tagged = pairs
      .withColumn("prev", lag(col("day"), 1).over(byUser))
      .withColumn("cls",
        when(col("prev").isNull, lit("new"))
          .when(datediff(col("day"), col("prev")) === 1, lit("retained"))
          .otherwise(lit("resurrected")))
    val active = tagged.groupBy(col("day"))
      .agg(sum(when(col("cls") === "new", 1L).otherwise(0L)).as("n_new"),
        sum(when(col("cls") === "retained", 1L).otherwise(0L))
          .as("n_retained"),
        sum(when(col("cls") === "resurrected", 1L).otherwise(0L))
          .as("n_resurrected"))
    // churn day = the day after the user's LAST activity (within the
    // observation window; the final calendar day has no churn row by
    // construction — those users are right-censored, not churned)
    val endDay = pairs.agg(max(col("day")).as("end_day"))
    val churn = pairs.groupBy(col("user_id"))
      .agg(max(col("day")).as("last_day"))
      .crossJoin(broadcast(endDay))
      .filter(col("last_day") < col("end_day"))
      .select(date_add(col("last_day"), 1).as("day"))
      .groupBy(col("day")).agg(count(lit(1)).as("n_churned"))
    active.join(churn, Seq("day"), "left")
      .select(col("day"), col("n_new"), col("n_retained"),
        col("n_resurrected"),
        coalesce(col("n_churned"), lit(0L)).as("n_churned"),
        (col("n_new") + col("n_retained") + col("n_resurrected"))
          .as("dau"),
        (col("n_new") + col("n_resurrected")
          - coalesce(col("n_churned"), lit(0L))).as("net_growth"))
      .orderBy(col("day"))
  }

  /** Seasonal-naive forecast backtest — predict each day's revenue per
    * event type as LAST WEEK'S same-weekday value and score the forecast
    * with MAE and WAPE (weighted absolute percentage error): the
    * baseline every real forecasting model must beat, and the backtest
    * harness shape (join actuals to lagged forecasts, aggregate error
    * mass) is the same regardless of the model plugged in. All error
    * arithmetic runs in exact DECIMAL (abs/sub/sum are exact there —
    * the [[graft.Tables.dsum]] discipline); the two ratios are terminal
    * double divisions. Day-grain pre-aggregation first, so the join and
    * error rollup touch |types|·|days| rows, never raw events.
    */
  def forecastNaive(s: SparkSession, d: String): DataFrame = {
    val daily = Tables.events(s, d)
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(sum(col("value").cast("decimal(18,4)")).as("v"))
    val fc = daily.select(col("event_type"),
      date_add(col("day"), 7).as("day"), col("v").as("f"))
    daily.join(fc, Seq("event_type", "day"))
      .withColumn("abs_err", abs(col("v") - col("f")))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_days"),
        sum(col("abs_err")).as("sum_abs_err"),
        sum(col("v")).as("sum_actual"))
      .select(col("event_type"), col("n_days"),
        col("sum_abs_err").cast("double").as("total_abs_err"),
        (col("sum_abs_err").cast("double") / col("n_days").cast("double"))
          .as("mae"),
        (col("sum_abs_err").cast("double") / col("sum_actual").cast("double"))
          .as("wape"))
      .orderBy(col("event_type"))
  }

  /** JSON property extraction (events.props is a JSON string): pull $.k,
    * cast, aggregate — get_json_object ↔ json_extract_string.
    */
  def jsonProps(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .withColumn("k", get_json_object(col("props"), "$.k").cast("int"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("k").cast("long")).as("sum_k"),
        min(col("k")).as("min_k"), max(col("k")).as("max_k"))
      .withColumn("avg_k", col("sum_k").cast("double") / col("n_events"))
      .orderBy(col("event_type"))

  /** Hourly volume anomaly detection: flag hours whose event count sits
    * more than 2σ from the event type's mean hourly count. Mean and
    * variance come from EXACT integer power sums (n, Σc, Σc²) — one
    * division and one IEEE-exact sqrt at the end — so the z-scores are
    * partitioning-independent and hash-verifiable (the same discipline as
    * x_stats_moments / x_zscore). Two skinny shuffles: hourly counts,
    * then per-type moments joined back broadcast.
    */
  def anomaly(s: SparkSession, d: String): DataFrame = {
    val hourly = Tables.events(s, d)
      .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("hour"))
      .agg(count(lit(1)).as("c"))
    val stats = hourly.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("c")).as("s1"),
        sum(col("c") * col("c")).as("s2"))
      .withColumn("mean", col("s1").cast("double") / col("n"))
      .withColumn("std", sqrt(
        (col("n") * col("s2") - col("s1") * col("s1")).cast("double")
          / (col("n") * (col("n") - 1))))
      .select(col("event_type"), col("mean"), col("std"))
    hourly.join(broadcast(stats), Seq("event_type"))
      .withColumn("z", (col("c").cast("double") - col("mean")) / col("std"))
      .withColumn("is_anomaly", abs(col("z")) > 2.0)
      .select(col("event_type"), col("hour"), col("c"), col("z"),
        col("is_anomaly"))
      .orderBy(col("event_type"), col("hour"))
  }

  /** Event-path transition matrix (first-order Markov bigrams): for each
    * user's time-ordered stream, count (from_type → to_type) transitions
    * and each transition's share of its from-state's outgoing edges —
    * the funnel-discovery profile before you hard-code a funnel. One
    * user-keyed window (lead), one |types|²-cell aggregate; the share
    * divides exact counts inside a from_type-partitioned window over the
    * tiny transition matrix, never the event rows.
    */
  def pathTransitions(s: SparkSession, d: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val wFrom = org.apache.spark.sql.expressions.Window
      .partitionBy(col("from_type"))
    Tables.events(s, d)
      .withColumn("to_type", lead(col("event_type"), 1).over(w))
      .filter(col("to_type").isNotNull)
      .groupBy(col("event_type").as("from_type"), col("to_type"))
      .agg(count(lit(1)).as("n"))
      .withColumn("share",
        col("n").cast("double") / sum(col("n")).over(wFrom))
      .orderBy(col("from_type"), col("to_type"))
  }

  /** Stationary distribution of the event-type Markov chain — "where does
    * a user's session settle in the long run" — the long-horizon summary
    * of [[pathTransitions]]'s one-step matrix, via six unrolled power
    * iterations π ← πP (plan unrolling, NOT a driver loop; the output is
    * the exact 6-step iterate from the uniform start, which for a
    * handful of well-mixed states sits within quantization of the true
    * stationary vector).
    *
    * Integer-exact under the [[graft.ops.ExtraOps.pagerank]] contract:
    * π is scaled by 10^12 and each contribution is
    * (π_i·n_ij) DIV outsum_i with the product widened to decimal
    * (HUGEINT in the oracle) BEFORE the truncating division, so no
    * double ever accumulates and DuckDB replays bit-identically; mass
    * lost to truncation is ≤ k ulps per round — deterministic and
    * irrelevant at 10^12 scale. States with no observed out-transition
    * redistribute their mass uniformly (the dangling term).
    *
    * Scale shape: the ONLY data-proportional work is the one-pass
    * transition-matrix aggregation (user-keyed lead window + a
    * |types|²-cell rollup); the six iterations each join the k-row state
    * vector against the checkpointed k²-cell matrix — constant cost at
    * any corpus size, so the chain solve adds nothing to the 100 TB
    * bill beyond the matrix build it shares with [[pathTransitions]].
    */
  def markovStationary(s: SparkSession, d: String): DataFrame = {
    val SCALE = 1000000000000L
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val m = Tables.events(s, d)
      .withColumn("to_type", lead(col("event_type"), 1).over(w))
      .filter(col("to_type").isNotNull)
      .groupBy(col("event_type").as("from_type"), col("to_type"))
      .agg(count(lit(1)).as("n"))
      .localCheckpoint() // k²-cell matrix, reused by all 6 iterations
    val outsum = m.groupBy(col("from_type").as("state"))
      .agg(sum(col("n")).as("outsum"))
    val states = m.select(col("from_type").as("state"))
      .union(m.select(col("to_type"))).distinct()
    val nd = states.join(outsum, Seq("state"), "left")
      .na.fill(0L, Seq("outsum"))
      .crossJoin(broadcast(states.agg(count(lit(1)).as("k"))))
      .localCheckpoint() // loop-invariant (state, outsum, k) frame
    var pi = nd.withColumn("p", expr(s"CAST($SCALE AS BIGINT) DIV k"))
    for (_ <- 1 to 6) {
      val inflow = pi.join(m, pi("state") === m("from_type"))
        .select(col("to_type").as("state"),
          expr("(CAST(p AS DECIMAL(20,0)) * n) DIV outsum").as("c"))
        .groupBy(col("state")).agg(sum(col("c")).as("inflow"))
      val dang = pi.filter(col("outsum") === 0)
        .agg(coalesce(sum(col("p")), lit(0L)).as("dang"))
      pi = nd.join(inflow, Seq("state"), "left").na.fill(0L, Seq("inflow"))
        .crossJoin(broadcast(dang))
        .withColumn("p", expr("inflow + dang DIV k"))
        .select(col("state"), col("outsum"), col("k"), col("p"))
    }
    pi.select(col("state").as("event_type"), col("p").as("stationary_scaled"))
      .orderBy(desc("stationary_scaled"), col("event_type"))
  }

  /** Peak concurrency via the sweep line — "how many users were active at
    * once" — the load-planning query no direct aggregation answers:
    * each (user, day) activity interval [first, last event] becomes a
    * +1 at start and a −1 just past the end, and the per-day running
    * sum's maximum IS the peak overlap. Ends order before starts on
    * timestamp ties (delta ascending), so touching intervals don't
    * overcount. Deterministic even under tied timestamps: within a tie
    * group the partial sums are the same multiset in any order, so the
    * MAX is order-free. Scale: points shuffle once on day — each day's
    * sweep is an independent partition; a day's points (2 × active
    * users) fit a single reducer at any corpus size or the day splits
    * into sub-ranges with carried offsets (same partial-sum trick as the
    * quantile sketch).
    */
  def concurrency(s: SparkSession, d: String): DataFrame = {
    val iv = Tables.events(s, d)
      .groupBy(to_date(col("ts")).as("day"), col("user_id"))
      .agg(min(unix_micros(col("ts"))).as("start_us"),
        max(unix_micros(col("ts"))).as("end_us"))
    val pts = iv.select(col("day"), col("start_us").as("ts_us"), lit(1L).as("delta"))
      .unionAll(iv.select(col("day"), (col("end_us") + 1L).as("ts_us"),
        lit(-1L).as("delta")))
    val w = Window.partitionBy(col("day")).orderBy(col("ts_us"), col("delta"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    pts.withColumn("conc", sum(col("delta")).over(w))
      .groupBy(col("day"))
      .agg(count(lit(1)).as("n_points"), max(col("conc")).as("max_concurrent"))
      .orderBy(col("day"))
  }

  /** First-/last-touch conversion attribution: for every purchase, which
    * channel (event type) FIRST brought the user in, and which touched
    * them LAST before converting — the two standard marketing-attribution
    * models, computed in one pass. Both are IGNORE-NULLS window reads
    * over the user's prior events (the same portable frame idiom as
    * [[nearestJoin]]); the aggregation shuffles only the
    * (first, last) enum pairs. One user-keyed exchange total — at 100 TB
    * the window is per-user-bounded and the result is channels².
    */
  def attribution(s: SparkSession, d: String): DataFrame = {
    val prior = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val touch = when(col("event_type") =!= "purchase", col("event_type"))
    Tables.events(s, d)
      .withColumn("first_touch", first(touch, ignoreNulls = true).over(prior))
      .withColumn("last_touch", last(touch, ignoreNulls = true).over(prior))
      .filter(col("event_type") === "purchase")
      .groupBy(
        coalesce(col("first_touch"), lit("none")).as("first_touch"),
        coalesce(col("last_touch"), lit("none")).as("last_touch"))
      .agg(count(lit(1)).as("n_purchases"))
      .orderBy(col("first_touch"), col("last_touch"))
  }

  /** A/B experiment readout: deterministic hash-arm assignment
    * (`user_id % 2` — production would use a salted hash, same shape),
    * conversion = the user cleared a behavioral bar (≥14 purchases,
    * ~the per-user mean), and the two-proportion pooled z-statistic
    * across arms. Every double derives from exact integer counts through
    * the same IEEE expression tree on both engines (the x_zscore
    * discipline), so the z-score itself hash-verifies — the full
    * experiment-analysis path, not just the counts.
    *
    * At 100 TB: one keyed aggregation per user (map-side partial), one
    * 2-row arm rollup, and a 1-row×1-row join for the statistic —
    * nothing here grows with event volume except the first scan.
    */
  def abtestMetrics(s: SparkSession, d: String): DataFrame = {
    val conv = Tables.events(s, d)
      .groupBy(col("user_id"))
      .agg(sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
        .as("n_purch"))
      .withColumn("arm",
        when(col("user_id") % 2 === 0, "control").otherwise("treatment"))
      .withColumn("converted", (col("n_purch") >= 14).cast("long"))
    val arms = conv.groupBy(col("arm"))
      .agg(count(lit(1)).as("n"), sum(col("converted")).as("x"))
    val c = arms.filter(col("arm") === "control")
      .select(col("n").as("n_c"), col("x").as("x_c"))
    val t = arms.filter(col("arm") === "treatment")
      .select(col("n").as("n_t"), col("x").as("x_t"))
    c.crossJoin(t) // two 1-row frames
      .withColumn("p_c", col("x_c").cast("double") / col("n_c"))
      .withColumn("p_t", col("x_t").cast("double") / col("n_t"))
      .withColumn("p_pool",
        (col("x_c") + col("x_t")).cast("double") / (col("n_c") + col("n_t")))
      .withColumn("z_score",
        (col("p_t") - col("p_c"))
          / sqrt(col("p_pool") * (lit(1.0) - col("p_pool"))
            * (lit(1.0) / col("n_c") + lit(1.0) / col("n_t"))))
      .select(col("n_c"), col("x_c"), col("p_c"),
        col("n_t"), col("x_t"), col("p_t"), col("z_score"))
      .orderBy(col("n_c"))
  }

  /** Union-of-intervals coverage per user: each event projects a 5-min
    * activity interval [ts, ts+300 s); overlapping/touching intervals
    * merge and the answer is covered TIME (microseconds), not session
    * counts — the "how long was the user actually active" measure that
    * complements [[sessionize]] (which counts bursts, gap-defined). The
    * gaps-and-islands form: a running max of interval END over earlier
    * events marks island starts (ts strictly past the running max),
    * islands aggregate to [min ts, max end), users sum island lengths —
    * all exact integer microsecond arithmetic, one partitioned window +
    * two keyed aggregations, no self-join (the naive interval-union is
    * a quadratic overlap join).
    */
  def intervalUnion(s: SparkSession, d: String): DataFrame = {
    val span = 300L * 1000000L
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("st"), col("event_id"))
    val wPrev = w.rowsBetween(Window.unboundedPreceding, -1)
    val ev = Tables.events(s, d)
      .select(col("user_id"), col("event_id"),
        unix_micros(col("ts")).as("st"))
      .withColumn("en", col("st") + span)
      .withColumn("prev_max_en", max(col("en")).over(wPrev))
      .withColumn("new_island",
        when(col("prev_max_en").isNull || col("st") > col("prev_max_en"), 1L)
          .otherwise(0L))
      .withColumn("island", sum(col("new_island")).over(w))
    ev.groupBy(col("user_id"), col("island"))
      .agg(count(lit(1)).as("n_ev"),
        min(col("st")).as("ist"), max(col("en")).as("ien"))
      .groupBy(col("user_id"))
      .agg(sum(col("n_ev")).as("n_events"),
        count(lit(1)).as("n_islands"),
        sum(col("ien") - col("ist")).as("covered_us"))
      .orderBy(col("user_id"))
  }

  /** Top 3-step user journeys — the product-analytics "what do users DO"
    * view, extending [[pathTransitions]]'s bigram matrix to trigram
    * paths. Two `lead`s over the same per-user time order produce each
    * 3-event window in place (no self-join, no explode); the count
    * aggregate partial-combines map-side and the top-15 tail is a
    * TakeOrderedAndProject under a total (count, path) order. At 100 TB
    * this is one user-keyed window pass — the same shuffle the
    * sessionizer already pays — plus a skinny (3 strings, count) agg.
    */
  def pathTrigrams(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    Tables.events(s, d)
      .withColumn("e2", lead(col("event_type"), 1).over(w))
      .withColumn("e3", lead(col("event_type"), 2).over(w))
      .filter(col("e3").isNotNull)
      .groupBy(col("event_type").as("step1"), col("e2").as("step2"),
        col("e3").as("step3"))
      .agg(count(lit(1)).as("n"))
      .orderBy(desc("n"), col("step1"), col("step2"), col("step3"))
      .limit(15)
  }

  /** Single-changepoint estimation per event type via the CUSUM statistic
    * — "when did this metric's level shift": on the daily count series,
    * the cumulative deviation S_k = n·cum_k − k·total is INTEGER-exact
    * (it is n·Σᵢ≤k(cᵢ − total/n) with the rational mean cleared), and the
    * day maximizing |S_k| is the classic at-most-one-changepoint
    * estimator. No floats anywhere — the whole statistic is window sums
    * and products of BIGINTs, so the estimate hash-verifies, where the
    * textbook mean-based form would drift in the last ulp.
    *
    * Plan: fact → (type, day) pre-agg, then three windows on the
    * day-grain frame (|types|·|days| rows) and a per-type top-1 that
    * [[graft.plans.TopKPerKey]]-style WindowGroupLimit keeps below the
    * exchange. Fact scanned once.
    */
  def changepoint(s: SparkSession, d: String): DataFrame = {
    val daily = Tables.events(s, d)
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("c"))
    val byDay = Window.partitionBy(col("event_type")).orderBy(col("day"))
    val cumW = byDay.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val allW = Window.partitionBy(col("event_type"))
    val scored = daily
      .withColumn("k", row_number().over(byDay).cast("long"))
      .withColumn("cum", sum(col("c")).over(cumW))
      .withColumn("total", sum(col("c")).over(allW))
      .withColumn("n_days", count(lit(1)).over(allW))
      .withColumn("abs_s",
        abs(col("n_days") * col("cum") - col("k") * col("total")))
    val best = Window.partitionBy(col("event_type"))
      .orderBy(desc("abs_s"), col("day"))
    scored.withColumn("rn", row_number().over(best))
      .filter(col("rn") === 1)
      .select(col("event_type"), col("n_days"),
        col("day").as("changepoint_day"),
        col("abs_s").as("max_abs_dev"), col("total").as("n_events"))
      .orderBy(col("event_type"))
  }

  /** Conversion-latency deciles — [[funnel]] counts WHO converts; this
    * measures HOW LONG conversion takes: per user, first click → first
    * subsequent purchase, then the decile profile of the lag
    * distribution. Lags are integer MICROSECONDS (timestamp subtraction
    * never leaves exact arithmetic) and the deciles are DISCRETE
    * rank-threshold percentiles under a total (lag, user) order — the
    * same no-interpolation discipline as `x_winsorize`, so every
    * reported value is a lag the data contains and the whole report is
    * integer-exact. The p-th decile answers "p0% of converters buy
    * within X" — the SLA view of the funnel.
    *
    * Plan: events collapse to one (user, lag) row before any window —
    * the rank sort runs on the converter grain, not the fact.
    */
  def conversionLag(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
      .select(col("user_id"), col("event_type"), col("ts"))
    val c1 = ev.filter(col("event_type") === "click")
      .groupBy(col("user_id")).agg(min(col("ts")).as("t_click"))
    val lags = ev.filter(col("event_type") === "purchase")
      .join(c1, "user_id")
      .filter(col("ts") > col("t_click"))
      .groupBy(col("user_id")).agg(min(col("ts")).as("t_buy"),
        max(col("t_click")).as("t_click"))
      .select(col("user_id"),
        (unix_micros(col("t_buy")) - unix_micros(col("t_click"))).as("lag_us"))
    val w = Window.orderBy(col("lag_us"), col("user_id"))
    val ranked = lags.withColumn("rn", row_number().over(w).cast("long"))
    val n = lags.agg(count(lit(1)).as("n"))
    s.range(1, 11).select(col("id").as("decile"))
      .crossJoin(broadcast(n))
      .withColumn("k", expr("(decile * n + 9) DIV 10"))
      .join(ranked, col("k") === col("rn"))
      .select(col("decile"), col("lag_us").as("lag_us_at_decile"), col("n"))
      .orderBy(col("decile"))
  }

  /** Overdispersion index per event type — variance-to-mean ratio of
    * per-user event counts (Poisson traffic has D ≈ 1; D ≫ 1 means
    * bursty/clumped arrivals — bot users, replay storms, hot keys; the
    * alarm a feed-ingest pipeline wants BEFORE the skew hits a join).
    * Two-level aggregate: per-(type, user) counts (map-side combined),
    * then per-type moments. All statistics are exact BIGINTs
    * (U·Σc² − (Σc)² never leaves integer space); the single double is
    * derived by one fixed expression — sample variance divided by mean —
    * written identically in both engines.
    */
  def dispersion(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .groupBy(col("event_type"), col("user_id"))
      .agg(count(lit(1)).as("c"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_users"), sum(col("c")).as("n_events"),
        sum(col("c") * col("c")).as("sum_sq"))
      .withColumn("dispersion",
        (col("n_users") * col("sum_sq") - col("n_events") * col("n_events"))
          .cast("double")
          / (col("n_users") * (col("n_users") - 1)).cast("double")
          / (col("n_events").cast("double") / col("n_users").cast("double")))
      .select(col("event_type"), col("n_users"), col("n_events"),
        col("sum_sq"), col("dispersion"))
      .orderBy(col("event_type"))

  /** Discrete hazard-rate table over INTER-EVENT gaps with right-
    * censoring — the Kaplan-Meier building block applied to the question
    * sessionization begs: "given silence of t hours so far, how likely
    * is the user to come back in the next hour?" Each consecutive event
    * pair contributes an observed gap (floored to hours); each user's
    * LAST event contributes a CENSORED observation (silence measured to
    * the end of the window — the user may yet return; treating it as an
    * observed gap would bias hazards upward, the classic mistake
    * censoring exists to fix). Per gap-hour t: completed gaps d_t,
    * censored c_t, at-risk n_t (gaps ≥ t — a reverse running sum), and
    * the hazard d_t/n_t. The knee of this curve is the empirically right
    * session timeout ([[sessionize]]'s 30-minute rule made data-driven).
    * The survival curve is the running (1−hazard) product — left to the
    * consumer, a cross-engine float product is summation-order-unsafe;
    * every column here is an exact integer plus one fixed-order division.
    *
    * Scale shape: gaps come from one lead() window per user (the
    * sessionize shuffle); the rollup shuffles one row per distinct gap
    * hour, and the at-risk window runs over that calendar-bounded frame,
    * so the global orderBy window is safe at any corpus size.
    */
  def hazard(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
    val byUser = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    val mx = ev.agg(max(col("ts")).as("end_ts"))
    val gaps = ev
      .withColumn("nxt", lead(col("ts"), 1).over(byUser))
      .crossJoin(broadcast(mx))
      .withColumn("censored", col("nxt").isNull)
      .withColumn("gap_hours", expr(
        "(unix_micros(coalesce(nxt, end_ts)) - unix_micros(ts)) DIV 3600000000"))
    val byT = gaps.groupBy(col("gap_hours"))
      .agg(sum(when(!col("censored"), 1L).otherwise(0L)).as("d_done"),
        sum(when(col("censored"), 1L).otherwise(0L)).as("c_censored"))
    val w = Window.orderBy(desc("gap_hours"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    byT
      .withColumn("n_at_risk",
        sum(col("d_done") + col("c_censored")).over(w))
      .withColumn("hazard",
        col("d_done").cast("double") / col("n_at_risk").cast("double"))
      .select(col("gap_hours"), col("n_at_risk"), col("d_done"),
        col("c_censored"), col("hazard"))
      .orderBy(col("gap_hours"))
  }

  /** Longest consecutive-active-day streak per user — the classic
    * gaps-and-islands identity: within a user's DISTINCT active days in
    * day order, `day − row_number()` is constant exactly along a run of
    * consecutive dates, so grouping on that difference materializes the
    * islands without any self-join. Per user: total active days, number
    * of streaks, the longest streak length, and the start date of that
    * longest streak (ties broken toward the LATEST start via a
    * conditional max — deterministic on both engines without relying on
    * struct/arg_max tie rules). Engagement teams read this as the
    * "habit" metric; curation pipelines use the same island identity for
    * contiguous-shard range compaction.
    *
    * Scale shape: one distinct on (user, day) — map-side combinable and
    * calendar-bounded (≤ users × days rows), one per-user window, one
    * per-user rollup; nothing global until the deterministic tail sort.
    */
  def streaks(s: SparkSession, d: String): DataFrame = {
    val days = Tables.events(s, d)
      .select(col("user_id"), to_date(col("ts")).as("day")).distinct()
    val w = Window.partitionBy(col("user_id")).orderBy(col("day"))
    val islands = days
      .withColumn("island",
        datediff(col("day"), lit("1970-01-01").cast("date")).cast("long")
          - row_number().over(w))
      .groupBy(col("user_id"), col("island"))
      .agg(count(lit(1)).as("len"), min(col("day")).as("start_day"))
    val wu = Window.partitionBy(col("user_id"))
    islands
      .withColumn("mx", max(col("len")).over(wu))
      .groupBy(col("user_id"))
      .agg(sum(col("len")).as("n_active_days"),
        count(lit(1)).as("n_streaks"),
        max(col("len")).as("longest_streak"),
        max(when(col("len") === col("mx"), col("start_day")))
          .as("longest_start"))
      .orderBy(col("user_id"))
  }

  /** Inter-event-gap regularity per user — the workhorse bot/automation
    * signal: scripted clients fire on near-constant timers, so their gap
    * distribution has a far smaller squared coefficient of variation
    * (CV² = Var/Mean²) than human traffic (exponential-ish arrivals sit
    * near CV² ≈ 1; cron-like traffic near 0). Gaps are truncated to
    * whole seconds (`DIV`, identical truncation in both engines); the
    * cancellation-prone variance numerator n·Σg² − (Σg)² stays in exact
    * 64-bit integers (30-day × sf0.1 magnitudes peak ~10¹⁷; a
    * years-deep corpus would widen the power sums to DECIMAL(38,0)
    * exactly as [[graft.ops.ExtraOps.correlation]] does), and floating
    * point enters only in the single final CV² division. Users with
    * fewer than 5 gaps carry too little evidence and are excluded.
    *
    * Scale shape: one lead() window per user (the sessionize shuffle),
    * then a per-user partial-aggregated rollup of three integers — the
    * wire carries 4 longs per user regardless of event volume.
    */
  def gapRegularity(s: SparkSession, d: String): DataFrame = {
    val byUser = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    Tables.events(s, d)
      .withColumn("next_us", lead(unix_micros(col("ts")), 1).over(byUser))
      .filter(col("next_us").isNotNull)
      .withColumn("gap_s",
        expr("(next_us - unix_micros(ts)) DIV 1000000"))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_gaps"),
        sum(col("gap_s")).as("sum_gap_s"),
        sum(col("gap_s") * col("gap_s")).as("sum_gap_sq"))
      .filter(col("n_gaps") >= 5)
      .withColumn("mean_gap_s",
        col("sum_gap_s").cast("double") / col("n_gaps").cast("double"))
      .withColumn("cv2",
        (col("n_gaps") * col("sum_gap_sq")
          - col("sum_gap_s") * col("sum_gap_s")).cast("double")
          / (col("n_gaps") - 1).cast("double")
          / col("sum_gap_s").cast("double")
          / col("sum_gap_s").cast("double")
          * col("n_gaps").cast("double"))
      .select(col("user_id"), col("n_gaps"), col("sum_gap_s"),
        col("sum_gap_sq"), col("mean_gap_s"), col("cv2"))
      .orderBy(col("user_id"))
  }

  /** CUPED variance-reduced experiment readout — the industry-standard
    * pre-experiment covariate adjustment: the raw treatment/control mean
    * difference of second-half user value is debiased by
    * θ·(covariate difference), with the covariate x each user's FIRST-
    * half value and θ = Cov(x,y)/Var(x) pooled over all users. Both
    * halves split at the exact midpoint microsecond of the observed
    * window (`DIV` truncation, identical cross-engine); arms are the
    * deterministic `user_id % 2` assignment of [[abtestMetrics]]. Per-
    * user values are exact 10⁻⁴-scaled decimals, every power sum and
    * both cancellation-prone differences (nΣxy − ΣxΣy, nΣx² − (Σx)²)
    * stay in exact decimal arithmetic ([[graft.ops.ExtraOps.correlation]]
    * discipline), and floating point enters only in the final
    * θ / mean-difference expression tree.
    *
    * Scale shape: one partial-aggregated scan to per-user (x, y) pairs,
    * then two constant-width rollups (5 pooled power sums; 3 decimals
    * per arm) — the wire cost is per-user, never per-event, and the
    * final row assembles from three broadcast 1-row frames.
    */
  /** STRATIFIED TREATMENT EFFECT (post-stratification / exact matching on
    * activity strata) — the third leg of the experimentation toolkit
    * beside the raw diff ([[abtestMetrics]]) and covariate adjustment
    * ([[cuped]]): users are matched on activity quartile before arms are
    * compared, removing the engagement confound a raw diff absorbs. Same
    * deterministic `user_id % 2` assignment; strata are ntile(4) over
    * (total events, user_id) — the unique trailing key makes quartile
    * membership reproducible. Per-stratum uplift ships as exact
    * micro-units: (conv_t·n_c − conv_c·n_t)·10⁶ DIV (n_t·n_c), every
    * factor a corpus count, both engines truncating identically.
    *
    * Scale shape: one user-grain rollup (map-side combined), one ntile
    * window over users (entity-grain, bounded), then a 4-row report.
    */
  def attStratified(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val users = Tables.events(s, d)
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        max(when(col("event_type") === "purchase", 1L).otherwise(0L))
          .as("converted"))
      .withColumn("arm",
        when(col("user_id") % 2 === 0, "control").otherwise("treatment"))
      .withColumn("stratum", ntile(4).over(
        Window.orderBy(col("n_events"), col("user_id"))))
    users.groupBy(col("stratum"))
      .agg(
        sum(when(col("arm") === "treatment", 1L).otherwise(0L)).as("n_t"),
        sum(when(col("arm") === "control", 1L).otherwise(0L)).as("n_c"),
        sum(when(col("arm") === "treatment", col("converted")).otherwise(0L))
          .as("conv_t"),
        sum(when(col("arm") === "control", col("converted")).otherwise(0L))
          .as("conv_c"))
      .withColumn("uplift_micro",
        expr("(conv_t * n_c - conv_c * n_t) * 1000000L div (n_t * n_c)"))
      .orderBy(col("stratum"))
  }

  /** DISCOUNTED LTV — cohort value with a weekly discount factor
    * (9/10)ᵏ kept RATIONAL: week-k revenue scales by exact integers
    * 9ᵏ/10ᵏ (k ≤ 5 here, 9⁵ = 59049 — micro-cent headroom to spare), so
    * the net-present-value column is one integer DIV away from exact.
    * The finance twin of [[cohortLtv]]: undiscounted curves overstate
    * late revenue; this is the number a payback model actually uses.
    *
    * Scale: user-grain first-week via one rollup, then a (user, week)
    * rollup — both map-side combined; the report is |weeks| rows.
    */
  def ltvDiscounted(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
      .select(col("user_id"),
        expr("datediff(to_date(ts), DATE '2024-01-01') div 7").as("wk"),
        (col("value").cast(DecimalType(18, 4)) * 10000).cast("long").as("v"))
    val first = ev.groupBy(col("user_id")).agg(min(col("wk")).as("w0"))
    ev.join(first, Seq("user_id"))
      .withColumn("k", col("wk") - col("w0"))
      .groupBy(col("k"))
      .agg(graft.Det.exactDistinct(col("user_id")).as("n_users"),
        sum(col("v")).as("sv"))
      .withColumn("value_micro", expr("sv * 100"))
      // 9^k/10^k via literal tables, NOT pow(): libm pow is not
      // correctly rounded and need not agree across engines
      .withColumn("discounted_micro", expr(
        """(sv * 100 * element_at(array(1L, 9L, 81L, 729L, 6561L, 59049L),
          |              CAST(k + 1 AS INT)))
          |div element_at(array(1L, 10L, 100L, 1000L, 10000L, 100000L),
          |              CAST(k + 1 AS INT))""".stripMargin))
      .select(col("k"), col("n_users"), col("value_micro"),
        col("discounted_micro"))
      .orderBy(col("k"))
  }

  /** POWER PLANNING: MINIMUM DETECTABLE EFFECT curve — the question every
    * experiment review starts with ("how long must this run?"): for
    * candidate per-arm sample sizes, MDE = (z_α/2 + z_β)·√(2σ²/n) at
    * 95% confidence / 80% power, with σ² estimated from the live metric
    * (event value) via exact integer sufficient statistics. The z-sum
    * 2.8 enters as a string-parsed double literal (both engines
    * strtod/parseDouble — bit-identical; a bare 2.8 would route through
    * DuckDB DECIMAL and drift), and every downstream op is correctly
    * rounded, so the whole curve hash-verifies as raw doubles —
    * [[graft.ops.StatOps.welchT]]'s discipline applied to the planning
    * side of the same test.
    *
    * Scale: one scan for (n, Σx, Σx²); the curve is |candidates| rows of
    * scalar algebra.
    */
  def powerMde(s: SparkSession, d: String): DataFrame = {
    val st = Tables.events(s, d)
      .select((col("value").cast(DecimalType(18, 4)) * 10000)
        .cast("long").as("v"))
      .agg(count(lit(1)).as("n_obs"), sum(col("v")).as("sv"),
        sum((col("v").cast(DecimalType(38, 0)) * col("v"))
          .cast(DecimalType(38, 0))).cast("string").cast("double").as("svv"))
      .withColumn("mean", col("sv").cast("double") / col("n_obs").cast("double"))
      .withColumn("variance",
        (col("svv") - col("sv").cast("double") * col("mean"))
          / (col("n_obs") - 1).cast("double"))
    st.crossJoin(broadcast(
        s.range(0, 4).select(col("id"),
          expr("element_at(array(1000L, 5000L, 10000L, 50000L), CAST(id + 1 AS INT))")
            .as("n_per_arm"))))
      .withColumn("mde_fixed",
        lit("2.8").cast("double")
          * sqrt(lit(2.0) * col("variance") / col("n_per_arm").cast("double")))
      .select(col("n_per_arm"), col("n_obs"), col("variance").as("variance_fixed2"),
        col("mde_fixed"))
      .orderBy(col("n_per_arm"))
  }

  /** DIFFERENCE-IN-DIFFERENCES — the causal workhorse when treatment
    * lands mid-stream: compare each arm's value change across the
    * midpoint time split ([[cuped]]'s split), so any level difference
    * between arms AND any common time trend cancel; what survives is the
    * treatment effect under parallel trends. Cell means ship as exact
    * micro-units-per-user ((Σ·10⁶) DIV (10⁴·n), value in 10⁻⁴ fixed
    * point); the DiD combines the four already-truncated means, so both
    * engines agree bit-for-bit.
    *
    * Scale: one scan → four cells; the report is a single row.
    */
  def diffInDiff(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
    val mid = ev.agg(min(unix_micros(col("ts"))).as("mn"),
        max(unix_micros(col("ts"))).as("mx"))
      .select(expr("mn + (mx - mn) div 2").as("mid"))
    val cells = ev.crossJoin(broadcast(mid))
      .select(
        when(col("user_id") % 2 === 0, "control").otherwise("treatment")
          .as("arm"),
        when(unix_micros(col("ts")) < col("mid"), "pre").otherwise("post")
          .as("period"),
        col("user_id"),
        (col("value").cast(DecimalType(18, 4)) * 10000).cast("long").as("v"))
      .groupBy(col("arm"), col("period"))
      .agg(graft.Det.exactDistinct(col("user_id")).as("n_users"),
        sum(col("v")).as("sv"))
      .withColumn("mean_micro", expr("(sv * 100) div n_users"))
    val p = cells.groupBy(col("arm"))
      .pivot("period", Seq("pre", "post"))
      .agg(first(col("mean_micro")))
      .withColumnRenamed("pre", "mean_pre_micro")
      .withColumnRenamed("post", "mean_post_micro")
    val t = p.filter(col("arm") === "treatment")
      .select(col("mean_pre_micro").as("t_pre"), col("mean_post_micro").as("t_post"))
    val c = p.filter(col("arm") === "control")
      .select(col("mean_pre_micro").as("c_pre"), col("mean_post_micro").as("c_post"))
    t.crossJoin(c)
      .withColumn("did_micro",
        (col("t_post") - col("t_pre")) - (col("c_post") - col("c_pre")))
      .select(col("t_pre"), col("t_post"), col("c_pre"), col("c_post"),
        col("did_micro"))
  }

  def cuped(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
    val bounds = ev.agg(min(unix_micros(col("ts"))).as("mn"),
        max(unix_micros(col("ts"))).as("mx"))
      .withColumn("mid", expr("mn + (mx - mn) DIV 2"))
    val zero = expr("CAST(0 AS DECIMAL(19,0))")
    val vfix = expr("CAST(CAST(value AS DECIMAL(18,4)) * 10000 AS DECIMAL(19,0))")
    val per = ev.crossJoin(broadcast(bounds))
      .groupBy(col("user_id"))
      .agg(sum(when(unix_micros(col("ts")) < col("mid"), vfix).otherwise(zero))
          .cast(DecimalType(19, 0)).as("x"),
        sum(when(unix_micros(col("ts")) >= col("mid"), vfix).otherwise(zero))
          .cast(DecimalType(19, 0)).as("y"))
      .withColumn("arm",
        when(col("user_id") % 2 === 0, "control").otherwise("treatment"))
    val pool = per.agg(count(lit(1)).as("n"),
      sum(col("x")).as("sx"), sum(col("y")).as("sy"),
      sum(col("x") * col("y")).as("sxy"), sum(col("x") * col("x")).as("sxx"))
    val arms = per.groupBy(col("arm"))
      .agg(count(lit(1)).as("an"), sum(col("x")).as("ax"), sum(col("y")).as("ay"))
    val c = arms.filter(col("arm") === "control")
      .select(col("an").as("n_c"), col("ax").as("x_c"), col("ay").as("y_c"))
    val t = arms.filter(col("arm") === "treatment")
      .select(col("an").as("n_t"), col("ax").as("x_t"), col("ay").as("y_t"))
    c.crossJoin(broadcast(t)).crossJoin(broadcast(pool))
      // The covariance-clearing products exceed 2^53, and wide-decimal →
      // double conversion is the one cast the engines may round apart
      // (DuckDB's int128 bridge double-rounds). Route through STRING:
      // exact decimal digits → correctly-rounded strtod/parseDouble on
      // BOTH sides = bit-identical doubles at any magnitude.
      .withColumn("theta",
        (col("n") * col("sxy") - col("sx") * col("sy")).cast("string").cast("double")
          / (col("n") * col("sxx") - col("sx") * col("sx")).cast("string").cast("double"))
      .withColumn("raw_diff",
        (col("y_t").cast("double") / col("n_t").cast("double")
          - col("y_c").cast("double") / col("n_c").cast("double"))
          / lit(10000.0))
      .withColumn("x_diff",
        (col("x_t").cast("double") / col("n_t").cast("double")
          - col("x_c").cast("double") / col("n_c").cast("double"))
          / lit(10000.0))
      .withColumn("cuped_diff", col("raw_diff") - col("theta") * col("x_diff"))
      .select(col("n_c"), col("n_t"), col("theta"), col("raw_diff"),
        col("x_diff"), col("cuped_diff"))
      .orderBy(col("n_c"))
  }

  /** Exact one-way ANOVA of daily revenue across day-of-week groups —
    * "is there a weekly seasonality EFFECT, and how much variance does
    * it explain" (η² and the F statistic), computed without a single
    * intermediate float: the group terms Σ S_g²/n_g have mixed
    * denominators, so both ANOVA quotients are cleared by N·Πn_g —
    * every group's term becomes (Πn/n_g)·S_g², an exact integer because
    * n_g divides Πn. Πn itself is an exact BIGINT product aggregate
    * (`aggregate(collect_list, 1, *)` — multiplication commutes, so
    * collect order can't matter; DuckDB's product() is exact below
    * 2⁵³). Day-of-week uses weekday()/isodow−1 (Monday = 0) — the one
    * dow convention Spark and DuckDB share. η² and F are two fixed
    * double expressions over the exact integer numerator/denominator.
    *
    * Scale shape: one scan to the calendar-bounded daily rollup; all
    * ANOVA arithmetic runs on ≤ 7 group rows and three broadcast 1-row
    * frames. The statistic costs one partial-aggregated pass at any
    * corpus size.
    */
  def dowAnova(s: SparkSession, d: String): DataFrame = {
    val vfix = expr("CAST(CAST(value AS DECIMAL(18,4)) * 10000 AS DECIMAL(19,0))")
    val daily = Tables.events(s, d)
      .groupBy(to_date(col("ts")).as("day"))
      .agg(sum(vfix).cast(DecimalType(19, 0)).as("v"))
      .withColumn("dow", expr("weekday(day)").cast("long"))
    val groups = daily.groupBy(col("dow"))
      .agg(count(lit(1)).as("n_g"), sum(col("v")).cast(DecimalType(19, 0)).as("s_g"))
    val piN = groups.agg(
      expr("aggregate(collect_list(n_g), CAST(1 AS BIGINT), (acc, x) -> acc * x)")
        .as("pi_n"),
      count(lit(1)).as("k"))
    val tot = daily.agg(count(lit(1)).as("n"),
      sum(col("v")).cast(DecimalType(19, 0)).as("sv"),
      sum(col("v") * col("v")).as("svv"))
    val terms = groups.crossJoin(broadcast(piN))
      .withColumn("term", expr("CAST(pi_n DIV n_g AS DECIMAL(19,0))") * col("s_g") * col("s_g"))
      .agg(sum(col("term")).as("sum_terms"))
    terms.crossJoin(broadcast(piN)).crossJoin(broadcast(tot))
      .withColumn("num",
        col("n") * col("sum_terms") - col("pi_n") * col("sv") * col("sv"))
      .withColumn("den",
        (col("n") * col("pi_n")) * col("svv")
          - col("pi_n") * col("sv") * col("sv"))
      // num/den exceed 2^53 — string-route the wide-decimal → double casts
      // so both engines parse identical digit strings (bit-identical; see
      // cuped's theta for the full rationale).
      .withColumn("eta2",
        col("num").cast("string").cast("double")
          / col("den").cast("string").cast("double"))
      .withColumn("f_stat",
        col("eta2") / (lit(1.0) - col("eta2"))
          * (col("n") - col("k")).cast("double")
          / (col("k") - 1).cast("double"))
      .select(col("n").as("n_days"), col("k").as("n_groups"),
        col("eta2"), col("f_stat"))
      .orderBy(col("n_days"))
  }

  /** Recency-weighted engagement score with a one-day half-life —
    * exponential decay WITHOUT exp(): the weight 2^(−age_days) is a
    * power of two, so Σ v·2^(−age) clears to the exact integer
    * Σ v_fix·2^(maxAge−age) over a 2^maxAge denominator (ages beyond
    * maxAge=40 truncate to weight zero — they contribute < 10⁻¹² of
    * the score and keeping them would overflow the clearing). Every
    * engine computes identical BIGINT shift products; the single final
    * division restores the scale. This is the score feeds ranking /
    * churn models want ("activity, but recent activity counts double
    * per day") — normally an order-unsafe float fold, here exact.
    *
    * Scale shape: one scan with a broadcast 1-row high-water mark; the
    * rollup is per-user partial-aggregated longs.
    */
  def decayScore(s: SparkSession, d: String): DataFrame = {
    val maxAge = 40L
    val ev = Tables.events(s, d)
    val hi = ev.agg(max(to_date(col("ts"))).as("today"))
    ev.crossJoin(broadcast(hi))
      .withColumn("age", datediff(col("today"), to_date(col("ts"))).cast("long"))
      .filter(col("age") <= maxAge)
      .withColumn("vfix",
        expr("CAST(CAST(value AS DECIMAL(18,4)) * 10000 AS DECIMAL(19,0))"))
      .withColumn("w", expr(s"shiftleft(CAST(1 AS BIGINT), CAST($maxAge - age AS INT))"))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("vfix") * col("w")).cast(DecimalType(38, 0)).as("num"))
      // num can exceed 2^53 (max ~9.4e18 at sf0.01), so a direct
      // Decimal→Double cast rounds differently across engines. Shed the
      // 2^maxAge clearing factor with EXACT integer DIV first (the lost
      // residue is < 2^-40 of the score): score_micro = num DIV 2^40 is a
      // BIGINT < 2^24, exactly representable in double, and the single
      // final /10^4 division is then bit-identical everywhere.
      .withColumn("score_micro", expr(s"num DIV ${1L << maxAge}"))
      .withColumn("decay_score", col("score_micro").cast("double") / lit(10000.0))
      .select(col("user_id"), col("n_events"), col("score_micro"), col("decay_score"))
      .orderBy(col("user_id"))
  }

  /** Day-over-day active-user-set Jaccard — the "audience turbulence"
    * series: a stable product sees high overlap between consecutive
    * days' user sets; churn-and-replace traffic sees low overlap even
    * with flat DAU (the case DAU alone cannot distinguish). Exact
    * integer set algebra on the distinct (user, day) grain:
    * |A∩B| counted by a self-join on day+1, |A∪B| = |A|+|B|−|A∩B|,
    * one final division.
    *
    * Scale shape: the distinct pair grain is calendar-bounded; the
    * self-join keys on (user, day) equality — hash-distributed, no
    * window, no cartesian.
    */
  def dayJaccard(s: SparkSession, d: String): DataFrame = {
    val pairs = Tables.events(s, d)
      .select(col("user_id"), to_date(col("ts")).as("day")).distinct()
    val dau = pairs.groupBy(col("day")).agg(count(lit(1)).as("dau"))
    val inter = pairs.alias("a")
      .join(pairs.alias("b"),
        col("a.user_id") === col("b.user_id")
          && date_add(col("a.day"), 1) === col("b.day"))
      .groupBy(col("a.day").as("day"))
      .agg(count(lit(1)).as("n_both"))
    dau.alias("d1")
      .join(dau.alias("d2"), date_add(col("d1.day"), 1) === col("d2.day"))
      .join(inter, col("d1.day") === inter("day"), "left")
      .na.fill(0L, Seq("n_both"))
      .select(col("d1.day").as("day"), col("d1.dau").as("dau_day"),
        col("d2.dau").as("dau_next"), col("n_both"))
      .withColumn("jaccard",
        col("n_both").cast("double")
          / (col("dau_day") + col("dau_next") - col("n_both")).cast("double"))
      .orderBy(col("day"))
  }

  /** Session-length histogram — the distribution that justifies the
    * session timeout and exposes bot traffic (a heavy right tail of
    * 100-event "sessions" is automation): [[sessionize]]'s islands
    * rolled up to (session size → how many sessions, how many users run
    * them). Pure integer counts over the sessionize shuffle — the
    * histogram frame is bounded by the longest session, not the corpus.
    */
  def sessionHist(s: SparkSession, d: String): DataFrame =
    sessionize(s, d)
      .groupBy(col("n_events").as("session_len"))
      .agg(count(lit(1)).as("n_sessions"),
        countDistinct(col("user_id")).as("n_users"))
      .orderBy(col("session_len"))

  /** Linear (equal-credit) multi-touch attribution with a 7-day
    * lookback — the position-free complement of [[attribution]]'s
    * first/last matrix: every non-purchase touch inside the window
    * before a purchase shares that purchase's credit equally. Equal
    * shares are 1/k with k varying per purchase — mixed denominators —
    * so credit is allocated in exact integer MICRO-CREDITS:
    * `1000000 DIV k` per touch (truncation identical cross-engine),
    * summed per channel as BIGINTs; the ≤ k−1 ppm truncation remainder
    * per purchase is the documented rounding loss, bounded by the spec.
    * The 7-day lookback is what bounds the touch×purchase join at
    * scale — unbounded attribution is quadratic per user; windowed
    * attribution is how every production system runs it.
    *
    * Scale shape: the pairing is a user-keyed join with a time-range
    * predicate (each user's frame is lookback-bounded); k comes from a
    * purchase-keyed window on the PAIRED frame, already shuffled by the
    * join; the channel rollup is dimension-sized.
    */
  def attributionLinear(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
    val touches = ev.filter(col("event_type") =!= "purchase")
      .select(col("user_id"), col("event_type").as("channel"),
        unix_micros(col("ts")).as("t_us"))
    val purch = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id").as("pid"),
        unix_micros(col("ts")).as("p_us"))
    val weekUs = 7L * 86400L * 1000000L
    val paired = touches.join(purch, Seq("user_id"))
      .filter(col("t_us") < col("p_us") && col("t_us") >= col("p_us") - weekUs)
    val wp = Window.partitionBy(col("pid"))
    paired
      .withColumn("k", count(lit(1)).over(wp))
      .withColumn("credit_ppm", expr("CAST(1000000 AS BIGINT) DIV k"))
      .groupBy(col("channel"))
      .agg(count(lit(1)).as("n_touches"),
        sum(col("credit_ppm")).as("credit_ppm"))
      .withColumn("credited_purchases",
        col("credit_ppm").cast("double") / lit(1000000.0))
      .select(col("channel"), col("n_touches"), col("credit_ppm"),
        col("credited_purchases"))
      .orderBy(col("channel"))
  }

  /** POSITION-BASED (U-shaped) multi-touch attribution — the third
    * industry-standard credit model beside first/last
    * ([[attribution]]) and linear ([[attributionLinear]]): the
    * discovering touch and the closing touch earn 40% each, interior
    * touches split the remaining 20%. Credits are exact INTEGER ppm
    * summing to exactly 10⁶ per conversion: the interior split uses
    * integer DIV and its remainder is assigned to the FIRST touch
    * (documented, deterministic), so no conversion ever leaks or gains
    * credit mass — the property float weighting can't give you.
    * Degenerate paths follow the standard convention (1 touch → 100%,
    * 2 touches → 50/50). Same lookback-bounded join envelope as the
    * linear model; positions come from one window over the per-purchase
    * touch set, totally ordered by (time, touch id).
    */
  def attributionUshape(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
    val touches = ev.filter(col("event_type") =!= "purchase")
      .select(col("user_id"), col("event_type").as("channel"),
        col("event_id").as("tid"), unix_micros(col("ts")).as("t_us"))
    val purch = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id").as("pid"),
        unix_micros(col("ts")).as("p_us"))
    val weekUs = 7L * 86400L * 1000000L
    val paired = touches.join(purch, Seq("user_id"))
      .filter(col("t_us") < col("p_us") && col("t_us") >= col("p_us") - weekUs)
    val wp = Window.partitionBy(col("pid"))
    val wo = wp.orderBy(col("t_us"), col("tid"))
    paired
      .withColumn("k", count(lit(1)).over(wp))
      .withColumn("rn", row_number().over(wo).cast("long"))
      .withColumn("credit_ppm", expr(
        """CASE WHEN k = 1 THEN CAST(1000000 AS BIGINT)
          |     WHEN k = 2 THEN CAST(500000 AS BIGINT)
          |     WHEN rn = 1 THEN 400000 + 200000 % (k - 2)
          |     WHEN rn = k THEN CAST(400000 AS BIGINT)
          |     ELSE 200000 DIV (k - 2) END""".stripMargin))
      .groupBy(col("channel"))
      .agg(count(lit(1)).as("n_touches"),
        sum(col("credit_ppm")).as("credit_ppm"))
      .withColumn("credited_purchases",
        col("credit_ppm").cast("double") / lit(1000000.0))
      .select(col("channel"), col("n_touches"), col("credit_ppm"),
        col("credited_purchases"))
      .orderBy(col("channel"))
  }

  /** MATCH_RECOGNIZE-style row-pattern matching (the SQL:2016 feature
    * Flink/Trino expose; Spark has no native operator): each user's
    * event stream becomes an ordered symbol path (v/c/p/s/e), and
    * regex patterns over that path count non-overlapping funnel
    * completions `vc*p` (view → any clicks → purchase) and abandonments
    * `vc*e` (view → clicks → error) per user. The patterns are
    * star-height-1 and alternation-free, so greedy-backtracking (Java)
    * and leftmost-longest (RE2/DuckDB) semantics provably coincide —
    * each candidate start position admits at most one match extent.
    *
    * Scale shape: one shuffle (the per-user collect), then the
    * sort/transform/regex pipeline is per-row work bounded by a user's
    * own event count — the same envelope as [[pathTrigrams]]. At 100 TB
    * the path string never leaves its executor; only the fixed-width
    * per-user counters come back.
    */
  def matchRecognize(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .select(col("user_id"),
        struct(col("ts"), col("event_id"),
          expr("CASE event_type WHEN 'view' THEN 'v' WHEN 'click' THEN 'c' " +
            "WHEN 'purchase' THEN 'p' WHEN 'signup' THEN 's' " +
            "ELSE 'e' END").as("ch")).as("ev"))
      .groupBy(col("user_id"))
      .agg(array_sort(collect_list(col("ev"))).as("evs"))
      .withColumn("path", expr("concat_ws('', transform(evs, x -> x.ch))"))
      .select(col("user_id"),
        length(col("path")).cast("long").as("n_events"),
        expr("CAST(regexp_count(path, 'vc*p') AS BIGINT)").as("n_convert"),
        expr("CAST(regexp_count(path, 'vc*e') AS BIGINT)").as("n_abandon"))
      .orderBy(col("user_id"))

  /** Classical additive seasonal decomposition of the daily revenue
    * series — y = trend + seasonal + residual (the moving-average
    * construction STL refines; Cleveland et al. 1990): trend is the
    * centered 7-row moving average, the seasonal component is the
    * per-weekday mean of the detrended series, and the residual is what
    * remains. All mass stays INTEGER until the final three divisions:
    * the trend is carried as its ×7 window SUM, the detrended series as
    * 7·y − Σ₇ (both exact BIGINT micro-units), and the weekday means as
    * (numerator, count) pairs — so the decomposition hash-verifies
    * where a textbook mean-based pipeline would drift in the last ulp.
    *
    * Scale shape: one fact rollup to day grain, then every window runs
    * on the ~|days| aggregated series (the [[changepoint]] envelope) —
    * the decomposition's cost is independent of raw event volume.
    */
  def seasonalDecompose(s: SparkSession, d: String): DataFrame = {
    val vfix = Det.micros(col("value"))
    val daily = Tables.events(s, d)
      .filter(col("event_type") === "purchase")
      .groupBy(to_date(col("ts")).as("day"))
      .agg(sum(vfix).as("rev_micro"))
      .withColumn("dow", expr("weekday(day)").cast("long"))
    val w7 = Window.orderBy(col("day")).rowsBetween(-3, 3)
    val trended = daily
      .withColumn("t7_sum", sum(col("rev_micro")).over(w7))
      .withColumn("t7_n", count(lit(1)).over(w7))
      .filter(col("t7_n") === 7) // full windows only — the ends have no trend
      .withColumn("det7", lit(7L) * col("rev_micro") - col("t7_sum"))
    val seas = trended.groupBy(col("dow"))
      .agg(sum(col("det7")).as("seas_num"), count(lit(1)).as("seas_cnt"))
    trended.join(broadcast(seas), Seq("dow"))
      .withColumn("trend",
        expr("CAST(t7_sum AS DOUBLE) / CAST(70000 AS DOUBLE)"))
      .withColumn("seasonal", expr(
        "CAST(seas_num AS DOUBLE) / (CAST(seas_cnt AS DOUBLE) * CAST(70000 AS DOUBLE))"))
      .withColumn("residual", expr(
        "CAST(rev_micro AS DOUBLE) / CAST(10000 AS DOUBLE) - trend - seasonal"))
      .select(col("day"), col("dow"), col("rev_micro"), col("t7_sum"),
        col("seas_num"), col("seas_cnt"), col("trend"), col("seasonal"),
        col("residual"))
      .orderBy(col("day"))
  }

  /** Time-CONSTRAINED conversion funnel — [[funnel]] with a deadline on
    * every step (view → click within 30 min → purchase within 30 min of
    * the click), the form product analytics actually ships: an
    * unconstrained funnel credits conversions hours apart, a windowed
    * one measures the flow. Same per-step min-aggregation + join chain
    * (each stage is one groupBy over the prior stage's survivors), the
    * deadline is just an extra range predicate on the join — at 100 TB
    * this stays K sequential keyed aggregations for a K-step funnel,
    * never a per-user event sort.
    */
  def funnelWindowed(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
      .select(col("user_id"), col("event_type"), col("ts"))
    val win = expr("INTERVAL 30 MINUTES")
    val t1 = ev.filter(col("event_type") === "view")
      .groupBy(col("user_id")).agg(min(col("ts")).as("t1"))
    val t2 = ev.filter(col("event_type") === "click")
      .join(t1, "user_id")
      .filter(col("ts") > col("t1") && col("ts") <= col("t1") + win)
      .groupBy(col("user_id")).agg(min(col("ts")).as("t2"))
    val t3 = ev.filter(col("event_type") === "purchase")
      .join(t2, "user_id")
      .filter(col("ts") > col("t2") && col("ts") <= col("t2") + win)
      .groupBy(col("user_id")).agg(min(col("ts")).as("t3"))
    def stage(df: DataFrame, name: String): DataFrame =
      df.agg(count(lit(1)).as("n_users")).withColumn("stage", lit(name))
    stage(t1, "1_view").unionByName(stage(t2, "2_click_30m"))
      .unionByName(stage(t3, "3_purchase_30m"))
      .select(col("stage"), col("n_users"))
      .orderBy(col("stage"))
  }

  /** KAPLAN-MEIER SURVIVAL CURVE with right-censoring — the integral
    * sibling of [[hazard]] (hazard is the per-interval rate; KM is the
    * cumulative product of its complements) and the retention curve's
    * statistically honest form: users whose observation simply ENDS
    * (active within 14 days of the horizon) are CENSORED — they leave
    * the risk set without counting as churn, which naive retention gets
    * wrong. Ŝ(t) = Π_{t'≤t} (1 − d_t'/n_t') is a product of rationals,
    * so the exact cross-engine representation is its LOG: the shared
    * fixed-point log2 ([[FixLog]]) folds Σ (lg(n−d) − lg(n)) as BIGINTs
    * — km_log2_fp is exact in both engines, the bits column one
    * int64→float64 cast. An absorbed tail (n = d, Ŝ hits 0) takes the
    * −10⁹ sentinel both engines compare identically (the [[UnigramLM]]
    * NEG discipline).
    *
    * At 100 TB: one user-grain aggregate (map-side combined), then all
    * windows run at LIFETIME-DAY grain — rows = distinct observed
    * lifetimes (≤ horizon days), bounded by the calendar, not the
    * corpus.
    */
  def survivalKm(s: SparkSession, d: String): DataFrame = {
    import graft.ext.FixLog.lgS
    val dayUs = 86400000000L
    val ev = Tables.events(s, d)
      .select(col("user_id"), unix_micros(col("ts")).as("us"))
    val byUser = ev.groupBy(col("user_id"))
      .agg(min(col("us")).as("first_us"), max(col("us")).as("last_us"))
    val gmax = ev.agg(max(col("us")).as("gmax"))
    val lives = byUser.crossJoin(broadcast(gmax))
      .select(expr(s"(last_us - first_us) div $dayUs").as("t_days"),
        (col("last_us") < col("gmax") - lit(14L * dayUs)).cast("long")
          .as("churn"))
    val byDay = lives.groupBy(col("t_days"))
      .agg(sum(col("churn")).as("d_churn"),
        sum(expr("1 - churn")).as("c_censored"))
    val tot = byDay.agg(sum(expr("d_churn + c_censored")).as("n_all"))
    val wPrev = Window.orderBy(col("t_days"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val wRun = Window.orderBy(col("t_days"))
      .rowsBetween(Window.unboundedPreceding, 0)
    byDay.crossJoin(broadcast(tot))
      .withColumn("n_risk", col("n_all") -
        coalesce(sum(expr("d_churn + c_censored")).over(wPrev), lit(0L)))
      .withColumn("term", expr(
        s"CASE WHEN n_risk > d_churn THEN ${lgS("(n_risk - d_churn)")} - ${lgS("n_risk")} " +
          "ELSE CAST(-1000000000 AS BIGINT) END"))
      .withColumn("km_log2_fp", sum(col("term")).over(wRun))
      .select(col("t_days"), col("n_risk"), col("d_churn"),
        col("c_censored"), col("km_log2_fp"))
      .withColumn("km_log2_bits",
        col("km_log2_fp").cast("double") / lit(65536.0))
      .orderBy(col("t_days"))
  }

  /** KLEINBERG BURST DETECTION (the 2-state infinite-automaton form,
    * "Bursty and Hierarchical Structure in Streams", KDD'02) — the
    * trending-topic / incident-window segmentation a naive threshold
    * gets wrong, because a single quiet hour inside a burst should NOT
    * split it: the state machine pays a transition toll γ to ENTER the
    * burst state, so the optimal segmentation smooths over dips. Hourly
    * counts are scored under two Poisson rates (base λ = hourly mean,
    * burst 2λ); the shared k! term cancels between states, so the
    * per-hour emission cost is the EXACT integer λ_s·⌊65536·log₂e⌋ −
    * k·lg(λ_s) in fixed-point bits ([[FixLog]]) — because lg is the
    * truncated binary log, lg(2λ) − lg(λ) = 65536 EXACTLY, so the
    * burst-vs-base margin is k·1bit against (λ·log₂e + amortized γ):
    * bursts are sustained stretches above ≈1.44λ.
    *
    * Decoding is Viterbi via the forward+backward min-plus identity:
    * state(t) = argmin_s (F(t,s) + B(t,s)) with ties to base — two
    * linear folds instead of a path backtrack, each an aggregate() over
    * the hour-count array (the [[graft.ext.UnigramLM]] fold discipline;
    * a withColumn chain would blow up under CollapseProject). The
    * DuckDB oracle replays both folds as RECURSIVE CTEs — engine-exact
    * because every quantity is BIGINT.
    *
    * At 100 TB: the corpus folds map-side to the HOUR grain (≤ 8760
    * rows/year); the DP runs on one bounded array. The calendar, not
    * the event volume, prices this operator.
    */
  def burstKleinberg(s: SparkSession, d: String): DataFrame = {
    import graft.ext.FixLog.lgS
    val LOG2E = 94548L // ⌊65536·log2(e)⌋ — a defined constant of the metric
    val GAMMA = 262144L // 4-bit toll to enter the burst state
    val hourUs = 3600L * 1000000L
    val ev = Tables.events(s, d)
      .select(expr(s"unix_micros(ts) div $hourUs").as("h"))
    val counts = ev.groupBy(col("h")).agg(count(lit(1)).as("k"))
    val bounds = ev.agg(min(col("h")).as("h0"), max(col("h")).as("h1"))
    val series = bounds.select(explode(expr("sequence(h0, h1)")).as("h"))
      .join(counts, Seq("h"), "left").na.fill(0L, Seq("k"))
      .agg(sort_array(collect_list(struct(col("h"), col("k")))).as("hs"))
      .select(col("hs"), expr("transform(hs, x -> x.k)").as("ks"),
        expr("CAST(size(hs) AS BIGINT)").as("hn"))
      .withColumn("total",
        expr("aggregate(ks, 0L, (a, x) -> a + x)"))
      .withColumn("lam0", expr("greatest(1L, total div hn)"))
      .withColumn("lam1", expr("lam0 * 2"))
      .withColumn("lg0", expr(lgS("lam0")))
      .withColumn("lg1", expr(lgS("lam1")))
    series
      .withColumn("fwd", expr(
        s"""aggregate(ks, CAST(array() AS ARRAY<STRUCT<a: BIGINT, b: BIGINT>>),
           |  (acc, k) -> CASE WHEN size(acc) = 0
           |    THEN array(named_struct(
           |      'a', lam0 * $LOG2E - k * lg0,
           |      'b', lam1 * $LOG2E - k * lg1 + $GAMMA))
           |    ELSE concat(acc, array(named_struct(
           |      'a', lam0 * $LOG2E - k * lg0 +
           |           least(element_at(acc, -1).a, element_at(acc, -1).b),
           |      'b', lam1 * $LOG2E - k * lg1 +
           |           least(element_at(acc, -1).a + $GAMMA, element_at(acc, -1).b))))
           |  END)""".stripMargin))
      .withColumn("bwd", expr(
        s"""reverse(aggregate(reverse(ks),
           |  CAST(array() AS ARRAY<STRUCT<a: BIGINT, b: BIGINT, k: BIGINT>>),
           |  (acc, k) -> CASE WHEN size(acc) = 0
           |    THEN array(named_struct('a', 0L, 'b', 0L, 'k', k))
           |    ELSE concat(acc, array(named_struct(
           |      'a', least(
           |        lam0 * $LOG2E - element_at(acc, -1).k * lg0 + element_at(acc, -1).a,
           |        $GAMMA + lam1 * $LOG2E - element_at(acc, -1).k * lg1 + element_at(acc, -1).b),
           |      'b', least(
           |        lam0 * $LOG2E - element_at(acc, -1).k * lg0 + element_at(acc, -1).a,
           |        lam1 * $LOG2E - element_at(acc, -1).k * lg1 + element_at(acc, -1).b),
           |      'k', k)))
           |  END))""".stripMargin))
      .withColumn("t", explode(expr("sequence(1, CAST(hn AS INT))")))
      .select(
        expr(s"timestamp_micros(element_at(hs, t).h * $hourUs)").as("hour_start"),
        expr("element_at(ks, t)").as("n_events"),
        (expr("element_at(fwd, t).b + element_at(bwd, t).b") <
          expr("element_at(fwd, t).a + element_at(bwd, t).a")).as("burst"))
      .orderBy(col("hour_start"))
  }

  /** ENGAGEMENT-SEGMENT MIGRATION MATRIX — the cohort-movement view
    * behind every retention dashboard: each user is tiered by activity
    * in the month's first half and again in the second (FIXED count
    * thresholds — none/low/mid/high — not ntile, so a user's tier is a
    * function of their own behavior alone and the two halves are
    * comparable), and the matrix counts users per (from → to) cell with
    * exact per-row shares in ppm. Upgrades, downgrades, churn-to-none
    * and resurrection all read directly off the off-diagonals.
    *
    * At 100 TB: ONE user-grain conditional aggregation (no self-join of
    * two halves), then a cell-grain matrix — the window runs on ≤16
    * rows.
    */
  def segmentMigration(s: SparkSession, d: String): DataFrame = {
    val seg = (c: String) =>
      s"CASE WHEN $c = 0 THEN 'none' WHEN $c < 30 THEN 'low' " +
        s"WHEN $c < 37 THEN 'mid' ELSE 'high' END"
    val users = Tables.events(s, d)
      .select(col("user_id"),
        (dayofmonth(col("ts")) <= 15).cast("long").as("fh"))
      .groupBy(col("user_id"))
      .agg(sum(col("fh")).as("n1"), sum(expr("1 - fh")).as("n2"))
      .select(expr(seg("n1")).as("seg_from"), expr(seg("n2")).as("seg_to"))
    val cells = users.groupBy(col("seg_from"), col("seg_to"))
      .agg(count(lit(1)).as("n_users"))
    val w = Window.partitionBy(col("seg_from"))
    cells
      .withColumn("row_total", sum(col("n_users")).over(w))
      .withColumn("share_ppm", expr("(n_users * 1000000) div row_total"))
      .orderBy(col("seg_from"), col("seg_to"))
  }

  // ---- Markov-chain attribution ----------------------------------------
  // Channel states are the fixture's non-converting event types; purchase
  // is the absorbing conversion. Fixture-dependent the way the stopword
  // lists are — a production run derives the state list upfront.
  private val MKV_CHANNELS = Seq("click", "error", "signup", "view")
  private val MKV_ITERS = 30

  /** MARKOV-CHAIN ATTRIBUTION with removal effects — the data-driven
    * alternative to the positional rules ([[attribution]]'s first/last/
    * linear/U-shape): build the journey transition matrix (start →
    * channels → conv/null, absorbing at FIRST purchase), compute the
    * chain's conversion probability by bounded value iteration, and
    * credit each channel by its REMOVAL EFFECT — how much conversion
    * drops when every path into that channel is cut (Anderl et al.'s
    * framework). Unlike last-touch, a channel that only ever feeds
    * other channels still earns credit.
    *
    * Everything is integer-exact: transition probabilities are ppm
    * (count·10⁶ div out-degree), each of the 30 value-iteration steps is
    * a BIGINT dot product with one truncating div, and removal runs pin
    * the removed channel's value to zero — stepwise monotone, so
    * removal ≤ full holds exactly despite truncation. Spark runs the
    * iteration as one aggregate() fold over a broadcast 30-entry ppm
    * map; the DuckDB oracle replays it as five RECURSIVE CTEs (full +
    * one per removal).
    *
    * At 100 TB: journeys fold to transition COUNTS (map-side combined,
    * state-space grain ≈ channels²); the iteration runs on one row.
    * The only event-grain work is the per-user ordering window —
    * partitioned by user, the same shape every sessionizer pays.
    */
  def markovAttribution(s: SparkSession, d: String): DataFrame = {
    val wPos = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    val ev = Tables.events(s, d)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("pos", row_number().over(wPos))
    val ppos = ev.filter(col("event_type") === "purchase")
      .groupBy(col("user_id")).agg(min(col("pos")).as("ppos"))
    val j = ev.join(ppos, Seq("user_id"), "left")
    val kept = j.filter(col("ppos").isNull || col("pos") < col("ppos"))
    val wKept = Window.partitionBy(col("user_id")).orderBy(col("pos"))
    val mid = kept
      .withColumn("nxt", lead(col("event_type"), 1).over(wKept))
      .select(col("event_type").as("f"),
        coalesce(col("nxt"),
          when(col("ppos").isNotNull, lit("conv")).otherwise(lit("nullend")))
          .as("t"))
    val starts = j.filter(col("pos") === 1)
      .select(lit("start").as("f"),
        when(col("ppos") === 1, lit("conv")).otherwise(col("event_type"))
          .as("t"))
    val cnt = mid.unionByName(starts).groupBy(col("f"), col("t"))
      .agg(count(lit(1)).as("n"))
    val tot = cnt.groupBy(col("f")).agg(sum(col("n")).as("tn"))
    val onerow = cnt.join(tot, Seq("f"))
      .select(concat_ws("_", col("f"), col("t")).as("k"),
        expr("(n * 1000000) div tn").as("ppm"))
      .agg(map_from_entries(collect_list(struct(col("k"), col("ppm"))))
        .as("m"))
    def mk(f: String, t: String) = s"coalesce(element_at(m, '${f}_$t'), 0L)"
    def rowOf(f: String, removed: Option[String]): String = {
      val dot = MKV_CHANNELS.map { c =>
        val pc = if (removed.contains(c)) "0L" else s"acc.$c"
        s"${mk(f, c)} * $pc"
      }.mkString(" + ")
      s"($dot + ${mk(f, "conv")} * 1000000L) div 1000000L"
    }
    def fold(removed: Option[String]): String = {
      val init = MKV_CHANNELS.map(c => s"'$c', 0L").mkString(", ")
      val step = MKV_CHANNELS.map { c =>
        val v = if (removed.contains(c)) "0L" else rowOf(c, removed)
        s"'$c', $v"
      }.mkString(", ")
      s"aggregate(sequence(1, $MKV_ITERS), named_struct($init), " +
        s"(acc, i) -> named_struct($step))"
    }
    // one column per scenario, then explode to channel rows
    val withP = MKV_CHANNELS.foldLeft(
      onerow.withColumn("fin_f", expr(fold(None)))
        .withColumn("p_full_ppm", expr(
          s"(${MKV_CHANNELS.map(c => s"${mk("start", c)} * fin_f.$c").mkString(" + ")} " +
            s"+ ${mk("start", "conv")} * 1000000L) div 1000000L"))) { (df, ch) =>
      df.withColumn(s"fin_$ch", expr(fold(Some(ch))))
        .withColumn(s"p_no_$ch", expr(
          s"(${MKV_CHANNELS.map(c =>
            if (c == ch) "0L"
            else s"${mk("start", c)} * fin_$ch.$c").mkString(" + ")} " +
            s"+ ${mk("start", "conv")} * 1000000L) div 1000000L"))
    }
    val arr = MKV_CHANNELS.map(c =>
      s"named_struct('channel', '$c', 'p_removed_ppm', p_no_$c)")
      .mkString(", ")
    withP
      .select(col("p_full_ppm"), explode(expr(s"array($arr)")).as("x"))
      .select(col("x.channel").as("channel"), col("p_full_ppm"),
        col("x.p_removed_ppm").as("p_removed_ppm"))
      .withColumn("removal_ppm", col("p_full_ppm") - col("p_removed_ppm"))
      .withColumn("share_ppm", expr(
        "(removal_ppm * 1000000) div greatest(1L, sum(removal_ppm) over ())"))
      .orderBy(col("channel"))
  }

  /** SHAPLEY-VALUE CHANNEL ATTRIBUTION — the coalition-game twin of
    * [[markovAttribution]]'s removal effects, and the other attribution
    * every marketing-science stack ships. Characteristic function
    * v(S) = converting users whose touched channel set ⊆ S (a user
    * converts when the sampled journey contains a purchase; the four
    * non-purchase event types are the channels). With n = 4 channels
    * the 16 coalitions enumerate exactly, and the Shapley weights
    * |S|!·(n−1−|S|)!/n! become INTEGERS after scaling by n! = 24 —
    * φ_c·24 = Σ_{S∌c} |S|!(3−|S|)!·(v(S∪c)−v(S)), all BIGINT, so both
    * engines compute the identical attribution and the efficiency
    * axiom (Σφ·24 = 24·(v(full)−v(∅))) holds exactly.
    *
    * At 100 TB: the corpus collapses to a 16-row (mask → conversions)
    * table in one map-side-combined pass (bit_or per user, then count
    * per mask); the coalition enumeration runs on that constant-size
    * frame. Journeys are SAMPLED (event_id % 23) so masks vary — dense
    * logs make every user touch everything and Shapley degenerates to
    * the uniform split.
    */
  def shapley(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d).filter(col("event_id") % 23 === 0)
    val users = ev.groupBy(col("user_id"))
      .agg(
        expr("""CAST(bit_or(CASE event_type
            |  WHEN 'click' THEN 1 WHEN 'error' THEN 2
            |  WHEN 'signup' THEN 4 WHEN 'view' THEN 8 ELSE 0 END) AS BIGINT)"""
          .stripMargin).as("mask"),
        expr("CAST(max(CAST(event_type = 'purchase' AS INT)) AS BIGINT)")
          .as("conv"))
    val masks = users.groupBy(col("mask")).agg(sum(col("conv")).as("convs"))
    val coalitions = masks.sparkSession.range(0, 16).toDF("s")
    val vS = coalitions.join(masks, expr("(mask & s) = mask"), "left")
      .groupBy(col("s"))
      .agg(coalesce(sum(col("convs")), lit(0L)).as("v"))
    val channels = masks.sparkSession
      .createDataFrame(Seq(("click", 1L), ("error", 2L), ("signup", 4L),
        ("view", 8L)))
      .toDF("channel", "bit")
    // w(|S|) = |S|!·(3−|S|)! for n=4: 6, 2, 2, 6
    channels
      .join(vS.select(col("s"), col("v")), expr("(bit & s) = 0"))
      .join(vS.select(col("s").as("s2"), col("v").as("v2")),
        expr("s2 = s + bit"))
      .withColumn("w", expr(
        "CAST(element_at(array(6, 2, 2, 6), CAST(bit_count(s) + 1 AS INT)) AS BIGINT)"))
      .groupBy(col("channel"))
      .agg(sum(expr("w * (v2 - v)")).as("phi_x24"))
      .withColumn("phi", expr("CAST(phi_x24 AS DOUBLE) / 24.0D"))
      .orderBy(col("channel"))
  }

  /** QINI / UPLIFT CURVE — the evaluation that tells a targeting model
    * whether it finds PERSUADABLE users rather than merely likely
    * converters (what [[graft.ops.ExtraOps.liftCurve]] measures): users
    * are ranked by a targeting score (click volume here — engagement as
    * the persuadability proxy), cut into deciles, and each cumulative
    * prefix reports incremental treated conversions over the
    * control-scaled expectation, Q(k) = X_t(k) − X_c(k)·N_t(k)/N_c(k).
    * The same deterministic arm split as [[abtestMetrics]]
    * (user_id parity) keeps treated/control membership reproducible.
    *
    * Cross-engine determinism: the curve is carried in integer
    * micro-units — the control-scaled term is one truncating DIV — and
    * the decile cut is ntile over a fully-keyed order (score desc,
    * user_id), so both engines assign identical buckets; per-decile
    * uplift ships as exact ppm differences of integer ratios.
    *
    * At 100 TB: one keyed per-user aggregation (map-side combined), ONE
    * bounded window for the decile cut over the user-grain frame — at
    * full scale the cut becomes a quantile-sketch bucketing exactly like
    * [[graft.ops.StatOps.aucBucketed]]'s — and a 10-row cumulative fold.
    */
  def qini(s: SparkSession, d: String): DataFrame = {
    val users = Tables.events(s, d)
      .groupBy(col("user_id"))
      .agg(
        sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
          .as("n_purch"),
        sum(when(col("event_type") === "click", 1L).otherwise(0L))
          .as("score"))
      .withColumn("treated", (col("user_id") % 2 =!= 0).cast("long"))
      .withColumn("converted", (col("n_purch") >= 14).cast("long"))
    val ranked = users.withColumn("decile",
      ntile(10).over(Window.orderBy(desc("score"), col("user_id")))
        .cast("long"))
    val byDec = ranked.groupBy(col("decile")).agg(
      sum(col("treated")).as("n_t"),
      sum(lit(1L) - col("treated")).as("n_c"),
      sum(col("treated") * col("converted")).as("x_t"),
      sum((lit(1L) - col("treated")) * col("converted")).as("x_c"))
    val wcum = Window.orderBy(col("decile"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    byDec
      .withColumn("cum_nt", sum(col("n_t")).over(wcum))
      .withColumn("cum_nc", sum(col("n_c")).over(wcum))
      .withColumn("cum_xt", sum(col("x_t")).over(wcum))
      .withColumn("cum_xc", sum(col("x_c")).over(wcum))
      .withColumn("uplift_ppm", expr(
        "(x_t * 1000000) DIV n_t - (x_c * 1000000) DIV n_c"))
      .withColumn("qini_micro", expr(
        "cum_xt * 1000000 - (cum_xc * cum_nt * 1000000) DIV cum_nc"))
      .select(col("decile"), col("n_t"), col("n_c"), col("x_t"), col("x_c"),
        col("uplift_ppm"), col("cum_xt"), col("cum_xc"), col("qini_micro"))
      .orderBy(col("decile"))
  }

  /** WALD'S SEQUENTIAL PROBABILITY RATIO TEST — the always-valid monitor
    * an experimentation platform runs INSTEAD of fixed-horizon tests
    * when it must peek daily: is the purchase share p₀ = 1/5 (H₀, the
    * 5-type base rate) or p₁ = 1/3 (H₁)? Each day contributes
    * k·lg(p₁/p₀) + (n−k)·lg(q₁/q₀) to the cumulative log-likelihood
    * ratio; the trajectory decides the moment it crosses Wald's
    * boundaries ±lg((1−β)/α) (α = β = 1/20 → ±lg 19), and the daily
    * `decision` column is exactly the dashboard an on-call analyst
    * watches. Completes the testing family next to [[abtestMetrics]]
    * (fixed-horizon z) and [[powerMde]] (planning).
    *
    * Every term is [[graft.ext.FixLog]] 16-bit fixed-point log2 —
    * lg(5/3) and lg(5/6) as differences of truncated primitives, the
    * boundary as lg(19) — so the whole LLR trajectory is BIGINT
    * arithmetic and the DuckDB oracle replays it bit-identically
    * (libm ln() never hash-verifies; see FixLog's contract).
    *
    * At 100 TB: one map-side-combined day-grain rollup touches the
    * events once; the LLR fold and boundary compare run on the bounded
    * calendar grid (30 rows) — the same fold-on-the-grid discipline as
    * [[burstKleinberg]].
    */
  def sprt(s: SparkSession, d: String): DataFrame = {
    val lg5 = FixLog.lgS("CAST(5 AS BIGINT)")
    val lg3 = FixLog.lgS("CAST(3 AS BIGINT)")
    val lg6 = FixLog.lgS("CAST(6 AS BIGINT)")
    val lg19 = FixLog.lgS("CAST(19 AS BIGINT)")
    val day = Tables.events(s, d)
      .select(expr("datediff(to_date(ts), DATE '2024-01-01')").as("dday"),
        (col("event_type") === "purchase").cast("long").as("x"))
      .groupBy(col("dday")).agg(sum(col("x")).as("k"), count(lit(1)).as("n"))
    val w = Window.orderBy(col("dday"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    day
      .withColumn("llr_day",
        expr(s"k * (($lg5) - ($lg3)) + (n - k) * (($lg5) - ($lg6))"))
      .withColumn("llr_cum", sum(col("llr_day")).over(w))
      .withColumn("bound_fp", expr(lg19))
      .withColumn("decision",
        when(col("llr_cum") >= col("bound_fp"), "accept_h1")
          .when(col("llr_cum") <= -col("bound_fp"), "accept_h0")
          .otherwise("continue"))
      .select(col("dday"), col("k"), col("n"), col("llr_day"),
        col("llr_cum"), col("bound_fp"), col("decision"))
      .orderBy(col("dday"))
  }

  /** EVENT STUDY around each user's first signup — the leads-and-lags
    * picture behind every difference-in-differences claim
    * ([[diffInDiff]] reports ONE number; the event study shows the
    * whole dynamic path and exposes pre-trends that would invalidate
    * it): for each user with a signup, purchases are bucketed by
    * RELATIVE day r ∈ [−7, +7] around the first signup; each r reports
    * exposed users, purchase volume, the per-user-day rate in ppm, and
    * the EFFECT vs. the user's own pre-period baseline (mean rate over
    * r ∈ [−7, −1]) — the r<0 effects hovering near zero IS the
    * pre-trend check. All integer: rates are count·10⁶ DIV user-days.
    *
    * At 100 TB: first-signup is one partitioned window at user grain;
    * bucketing is a per-row subtraction; the study frame is 15 rows.
    */
  def eventStudy(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
      .select(col("user_id"), col("event_type"),
        expr("datediff(to_date(ts), DATE '2024-01-01')").as("dday"))
    val signup = ev.filter(col("event_type") === "signup")
      .groupBy(col("user_id")).agg(min(col("dday")).as("s0"))
    val rel = ev.join(signup, Seq("user_id"))
      .withColumn("r", col("dday") - col("s0"))
      .filter(col("r").between(-7, 7))
      .localCheckpoint() // read by the per-r rollup AND the baseline
    val byR = rel.groupBy(col("r"))
      .agg(countDistinct(col("user_id")).as("n_users"),
        sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
          .as("purchases"))
      .withColumn("rate_ppm", expr("(purchases * 1000000) DIV n_users"))
    val base = byR.filter(col("r") < 0)
      .agg(expr("SUM(purchases * 1000000) DIV SUM(n_users)")
        .as("base_rate_ppm"))
    byR.crossJoin(broadcast(base)) // 1-row pre-period baseline
      .withColumn("effect_ppm", col("rate_ppm") - col("base_rate_ppm"))
      .select(col("r"), col("n_users"), col("purchases"), col("rate_ppm"),
        col("base_rate_ppm"), col("effect_ppm"))
      .orderBy(col("r"))
  }

  /** ELO ONLINE RATINGS — the sequential skill-rating update under
    * chess federations, matchmaking, and model-arena leaderboards
    * (LLM arena rankings are Elo over pairwise judgments): each day the
    * two most-active roster users "play" (winner = more purchases,
    * equal = draw) and ratings update r ← r + K·(S − E) with K = 32.
    * The expected score E uses the TABULATED logistic — a 9-bucket
    * lookup on the ±400-clamped rating difference, exactly how FIDE's
    * handbook publishes it — so the whole trajectory is BIGINT
    * arithmetic in per-mille units and the DuckDB oracle replays every
    * game bit-identically (the analytic 1/(1+10^(−d/400)) never
    * hash-verifies; the table IS the production form). Truncation
    * toward zero on ±(K·(S−E)) keeps the update exactly ZERO-SUM —
    * Σ ratings = 8·1500 after any prefix, spec-pinned.
    *
    * At 100 TB: the corpus collapses map-side to (day, player) grain;
    * the game log is calendar-bounded and the fold runs once over it.
    * Real matchmaking shards the fold per league/pool — ratings are
    * per-pool sequential BY DEFINITION, the same honesty note as the
    * bandit replay.
    */
  /** Shared contest fixture for the rating family ([[elo]] online,
    * [[bradleyTerry]] batch MLE): the 8-user roster by activity and the
    * daily contests between each day's two most-active roster users,
    * scored in per-mille (win 1000 / draw 500 / loss 0).
    */
  private[ext] def eloFixture(s: SparkSession, d: String)
      : (DataFrame, DataFrame) = {
    val ev = Tables.events(s, d)
      .select(col("user_id"),
        expr("datediff(to_date(ts), DATE '2024-01-01')").as("dday"),
        (col("event_type") === "purchase").cast("long").as("pur"))
    val roster = ev.groupBy(col("user_id"))
      .agg(count(lit(1)).as("n"))
      .withColumn("rk",
        row_number().over(Window.orderBy(desc("n"), col("user_id"))))
      .filter(col("rk") <= 8)
      .select(col("user_id"), (col("rk") - 1).cast("long").as("idx"))
      .localCheckpoint() // read by the daily join and the final report
    val daily = ev.join(roster, Seq("user_id"))
      .groupBy(col("dday"), col("idx"))
      .agg(count(lit(1)).as("n_day"), sum(col("pur")).as("np"))
      .withColumn("rn", row_number().over(Window.partitionBy(col("dday"))
        .orderBy(desc("n_day"), col("idx"))))
      .filter(col("rn") <= 2)
    val games = daily.groupBy(col("dday"))
      .agg(max(when(col("rn") === 1, col("idx"))).as("ia"),
        max(when(col("rn") === 2, col("idx"))).as("ib"),
        max(when(col("rn") === 1, col("np"))).as("pa"),
        max(when(col("rn") === 2, col("np"))).as("pb"),
        count(lit(1)).as("cnt"))
      .filter(col("cnt") === 2)
      .withColumn("s_pm",
        when(col("pa") > col("pb"), 1000L)
          .when(col("pa") < col("pb"), 0L).otherwise(500L))
      .localCheckpoint() // read by the fold AND the per-player rollups
    (roster, games)
  }

  def elo(s: SparkSession, d: String): DataFrame = {
    val (roster, games) = eloFixture(s, d)
    // FIDE-style tabulated logistic at 100-point buckets of the clamped diff
    val eTab = "array(91L, 151L, 240L, 360L, 500L, 640L, 760L, 849L, 909L)"
    val eExp = s"element_at($eTab, CAST((greatest(-400L, least(400L, " +
      "element_at(r, CAST(g.ia + 1 AS INT)) - element_at(r, CAST(g.ib + 1 AS INT)))) + 400) DIV 100 + 1 AS INT))"
    val delta = s"(32 * (g.s_pm - ($eExp))) DIV 1000"
    val ratings = games
      .agg(expr("array_sort(collect_list(struct(dday, ia, ib, s_pm)))")
        .as("gs"))
      .select(posexplode(expr(
        s"""aggregate(gs, transform(sequence(0, 7), i -> 1500L),
           |  (r, g) -> transform(sequence(0, 7), i -> CASE
           |    WHEN i = g.ia THEN element_at(r, CAST(i + 1 AS INT)) + ($delta)
           |    WHEN i = g.ib THEN element_at(r, CAST(i + 1 AS INT)) - ($delta)
           |    ELSE element_at(r, CAST(i + 1 AS INT)) END))""".stripMargin))
        .as(Seq("i", "rating")))
      .select(col("i").cast("long").as("idx"), col("rating"))
    val perPlayer = games.select(col("ia").as("idx"),
        (col("s_pm") === 1000L).cast("long").as("w"))
      .unionByName(games.select(col("ib").as("idx"),
        (col("s_pm") === 0L).cast("long").as("w")))
      .groupBy(col("idx"))
      .agg(count(lit(1)).as("n_games"), sum(col("w")).as("n_wins"))
    ratings.join(roster, Seq("idx"))
      .join(perPlayer, Seq("idx"), "left")
      .na.fill(0L, Seq("n_games", "n_wins"))
      .select(col("user_id").as("player"), col("idx"), col("rating"),
        col("n_games"), col("n_wins"))
      .orderBy(desc("rating"), col("player"))
  }

  /** BRADLEY-TERRY-LUCE STRENGTHS via Hunter's MM updates — the batch
    * maximum-likelihood counterpart to [[elo]]'s online pass, and the
    * model actually fit under pairwise-judgment leaderboards (LLM
    * arenas report "Elo" but fit BTL): P(i beats j) = πᵢ/(πᵢ+πⱼ), and
    * each minorize-maximize round sets πᵢ ← Wᵢ / Σⱼ nᵢⱼ/(πᵢ+πⱼ)
    * (Hunter 2004), which monotonically climbs the likelihood. Three
    * unrolled rounds over the same contest log as Elo; wins carry in
    * halves (win 2, draw 1) with one pseudo-draw per player (the
    * standard regularizer that keeps winless players off zero).
    *
    * Integer-exact: strengths live in micro-units; each MM term is
    * nᵢⱼ·10¹² DIV (πᵢ+πⱼ) summed per player, and the update is one
    * more truncating DIV — the DuckDB oracle replays all three rounds
    * bit-identically (a float MLE never would).
    *
    * At 100 TB: the pairwise count matrix is |roster|²-bounded
    * metadata; each round is one keyed join of the pair frame against
    * the strength column — arenas with millions of judgments collapse
    * to the same per-pair counts in one map-side-combined pass.
    */
  def bradleyTerry(s: SparkSession, d: String): DataFrame = {
    val (roster, games) = eloFixture(s, d)
    val pairsDir = games.select(col("ia").as("i"), col("ib").as("j"))
      .unionByName(games.select(col("ib").as("i"), col("ia").as("j")))
      .groupBy(col("i"), col("j")).agg(count(lit(1)).as("nij"))
      .localCheckpoint() // loop-invariant pair counts, read 3×
    val w2 = games.select(col("ia").as("idx"),
        when(col("s_pm") === 1000L, 2L).when(col("s_pm") === 500L, 1L)
          .otherwise(0L).as("w"))
      .unionByName(games.select(col("ib").as("idx"),
        when(col("s_pm") === 0L, 2L).when(col("s_pm") === 500L, 1L)
          .otherwise(0L).as("w")))
      .groupBy(col("idx"))
      .agg((sum(col("w")) + 1L).as("w2"), count(lit(1)).as("n_games"))
    val base = roster.join(w2, Seq("idx"), "left")
      .na.fill(Map("w2" -> 1L, "n_games" -> 0L))
      .localCheckpoint() // loop-invariant (player, wins) frame
    var pi = base.select(col("idx"), lit(1000000L).as("pi"))
    for (_ <- 1 to 3) {
      val denom = pairsDir
        .join(pi.select(col("idx").as("i"), col("pi").as("pi_i")), Seq("i"))
        .join(pi.select(col("idx").as("j"), col("pi").as("pi_j")), Seq("j"))
        .select(col("i").as("idx"),
          expr("(nij * 1000000000000L) DIV (pi_i + pi_j)").as("term"))
        .groupBy(col("idx")).agg(sum(col("term")).as("den"))
      pi = base.join(denom, Seq("idx"), "left")
        .select(col("idx"),
          expr("CASE WHEN den IS NULL THEN 1000000L " +
            "ELSE (w2 * 1000000000000L) DIV (2 * den) END").as("pi"))
        .localCheckpoint() // each round reads pi twice (both join sides)
    }
    base.join(pi, Seq("idx"))
      .select(col("user_id").as("player"), col("idx"), col("w2"),
        col("n_games"), col("pi").as("strength_micro"))
      .orderBy(desc("strength_micro"), col("player"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "ev_bradley_terry" -> bradleyTerry,
    "ev_elo" -> elo,
    "ev_event_study" -> eventStudy,
    "ev_sprt" -> sprt,
    "ev_qini" -> qini,
    "ev_shapley" -> shapley,
    "ev_markov_attribution" -> markovAttribution,
    "ev_segment_migration" -> segmentMigration,
    "ev_burst_kleinberg" -> burstKleinberg,
    "ev_survival_km" -> survivalKm,
    "ev_funnel_windowed" -> funnelWindowed,
    "ev_seasonal_decompose" -> seasonalDecompose,
    "ev_match_recognize" -> matchRecognize,
    "ev_attribution_linear" -> attributionLinear,
    "ev_attribution_ushape" -> attributionUshape,
    "ev_decay_score" -> decayScore,
    "ev_day_jaccard" -> dayJaccard,
    "ev_session_hist" -> sessionHist,
    "ev_dow_anova" -> dowAnova,
    "ev_cuped" -> cuped,
    "ev_att_stratified" -> attStratified,
    "ev_diff_in_diff" -> diffInDiff,
    "ev_ltv_discounted" -> ltvDiscounted,
    "ev_power_mde" -> powerMde,
    "ev_streaks" -> streaks,
    "ev_gap_regularity" -> gapRegularity,
    "ev_dispersion" -> dispersion,
    "ev_hazard" -> hazard,
    "ev_cohort_ltv" -> cohortLtv,
    "ev_audience_overlap" -> audienceOverlap,
    "ev_stickiness" -> stickiness,
    "ev_lifecycle" -> lifecycle,
    "ev_forecast_naive" -> forecastNaive,
    "ev_conversion_lag" -> conversionLag,
    "ev_path_trigrams" -> pathTrigrams,
    "ev_changepoint" -> changepoint,
    "ev_interval_union" -> intervalUnion,
    "ev_abtest" -> abtestMetrics,
    "ev_attribution" -> attribution,
    "ev_concurrency" -> concurrency,
    "ev_path_transitions" -> pathTransitions,
    "ev_markov_stationary" -> markovStationary,
    "ev_anomaly" -> anomaly,
    "ev_tumbling" -> tumbling,
    "ev_sliding" -> sliding,
    "ev_sessionize" -> sessionize,
    "ev_session_window" -> sessionWindowNative,
    "ev_session_dynamic" -> sessionDynamic,
    "ev_json_props" -> jsonProps,
    "ev_funnel" -> funnel,
    "ev_retention" -> retention
  )

  val oracle: Map[String, String] = Map(
    "ev_bradley_terry" -> {
      def round(prev: String, out: String): String =
        s"""$out AS MATERIALIZED (
           |  SELECT b.idx, CASE WHEN d.den IS NULL THEN CAST(1000000 AS BIGINT)
           |         ELSE CAST((b.w2 * 1000000000000) // (2 * d.den) AS BIGINT)
           |         END AS pi
           |  FROM base b LEFT JOIN (
           |    SELECT pd.i AS idx,
           |           SUM((pd.nij * 1000000000000) // (pi_i.pi + pi_j.pi))
           |             AS den
           |    FROM pd JOIN $prev pi_i ON pi_i.idx = pd.i
           |            JOIN $prev pi_j ON pi_j.idx = pd.j
           |    GROUP BY pd.i) d USING (idx))""".stripMargin
      s"""WITH ev AS (
         |  SELECT user_id,
         |         CAST(date_diff('day', DATE '2024-01-01', CAST(ts AS DATE))
         |           AS INT) AS dday,
         |         CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS pur
         |  FROM events),
         |roster AS (
         |  SELECT user_id, CAST(rk - 1 AS BIGINT) AS idx FROM (
         |    SELECT user_id,
         |           row_number() OVER (ORDER BY COUNT(*) DESC, user_id) AS rk
         |    FROM ev GROUP BY user_id) WHERE rk <= 8),
         |daily AS (
         |  SELECT dday, idx, COUNT(*) AS n_day,
         |         CAST(SUM(pur) AS BIGINT) AS np,
         |         row_number() OVER (PARTITION BY dday
         |           ORDER BY COUNT(*) DESC, idx) AS rn
         |  FROM ev JOIN roster USING (user_id) GROUP BY dday, idx),
         |g0 AS (
         |  SELECT dday,
         |         MAX(CASE WHEN rn = 1 THEN idx END) AS ia,
         |         MAX(CASE WHEN rn = 2 THEN idx END) AS ib,
         |         MAX(CASE WHEN rn = 1 THEN np END) AS pa,
         |         MAX(CASE WHEN rn = 2 THEN np END) AS pb,
         |         COUNT(*) AS cnt
         |  FROM daily WHERE rn <= 2 GROUP BY dday),
         |games AS MATERIALIZED (
         |  SELECT dday, ia, ib,
         |         CAST(CASE WHEN pa > pb THEN 1000 WHEN pa < pb THEN 0
         |              ELSE 500 END AS BIGINT) AS s_pm
         |  FROM g0 WHERE cnt = 2),
         |pd AS MATERIALIZED (
         |  SELECT i, j, CAST(COUNT(*) AS BIGINT) AS nij FROM (
         |    SELECT ia AS i, ib AS j FROM games
         |    UNION ALL SELECT ib, ia FROM games) GROUP BY i, j),
         |w2t AS (
         |  SELECT idx, CAST(SUM(w) + 1 AS BIGINT) AS w2,
         |         CAST(COUNT(*) AS BIGINT) AS n_games
         |  FROM (
         |    SELECT ia AS idx, CASE WHEN s_pm = 1000 THEN 2
         |           WHEN s_pm = 500 THEN 1 ELSE 0 END AS w FROM games
         |    UNION ALL
         |    SELECT ib, CASE WHEN s_pm = 0 THEN 2
         |           WHEN s_pm = 500 THEN 1 ELSE 0 END FROM games)
         |  GROUP BY idx),
         |base AS MATERIALIZED (
         |  SELECT roster.user_id, roster.idx,
         |         COALESCE(w2t.w2, 1) AS w2,
         |         COALESCE(w2t.n_games, 0) AS n_games
         |  FROM roster LEFT JOIN w2t USING (idx)),
         |p0 AS (SELECT idx, CAST(1000000 AS BIGINT) AS pi FROM base),
         |${round("p0", "p1")},
         |${round("p1", "p2")},
         |${round("p2", "p3")}
         |SELECT user_id AS player, idx, CAST(w2 AS BIGINT) AS w2, n_games,
         |       CAST(pi AS BIGINT) AS strength_micro
         |FROM base JOIN p3 USING (idx)
         |ORDER BY strength_micro DESC, player""".stripMargin
    },
    "ev_elo" ->
      """WITH RECURSIVE ev AS (
        |  SELECT user_id,
        |         CAST(date_diff('day', DATE '2024-01-01', CAST(ts AS DATE))
        |           AS INT) AS dday,
        |         CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS pur
        |  FROM events),
        |roster AS (
        |  SELECT user_id, CAST(rk - 1 AS BIGINT) AS idx FROM (
        |    SELECT user_id,
        |           row_number() OVER (ORDER BY COUNT(*) DESC, user_id) AS rk
        |    FROM ev GROUP BY user_id) WHERE rk <= 8),
        |daily AS (
        |  SELECT dday, idx, COUNT(*) AS n_day,
        |         CAST(SUM(pur) AS BIGINT) AS np,
        |         row_number() OVER (PARTITION BY dday
        |           ORDER BY COUNT(*) DESC, idx) AS rn
        |  FROM ev JOIN roster USING (user_id) GROUP BY dday, idx),
        |g0 AS (
        |  SELECT dday,
        |         MAX(CASE WHEN rn = 1 THEN idx END) AS ia,
        |         MAX(CASE WHEN rn = 2 THEN idx END) AS ib,
        |         MAX(CASE WHEN rn = 1 THEN np END) AS pa,
        |         MAX(CASE WHEN rn = 2 THEN np END) AS pb,
        |         COUNT(*) AS cnt
        |  FROM daily WHERE rn <= 2 GROUP BY dday),
        |games AS MATERIALIZED (
        |  SELECT dday, ia, ib,
        |         CAST(CASE WHEN pa > pb THEN 1000 WHEN pa < pb THEN 0
        |              ELSE 500 END AS BIGINT) AS s_pm
        |  FROM g0 WHERE cnt = 2),
        |gord AS (SELECT *, row_number() OVER (ORDER BY dday) AS gi
        |         FROM games),
        |walk AS (
        |  SELECT 0 AS gi, [CAST(1500 AS BIGINT) FOR i IN range(0, 8)] AS r
        |  UNION ALL
        |  SELECT z.gi,
        |    [CASE WHEN i = z.ia THEN z.r[i + 1] + z.d
        |          WHEN i = z.ib THEN z.r[i + 1] - z.d
        |          ELSE z.r[i + 1] END FOR i IN range(0, 8)]
        |  FROM (
        |    SELECT g.gi, w.r, g.ia, g.ib,
        |      (32 * (g.s_pm -
        |        [CAST(91 AS BIGINT), 151, 240, 360, 500, 640, 760, 849, 909]
        |          [CAST((greatest(-400, least(400,
        |             w.r[CAST(g.ia + 1 AS INT)] - w.r[CAST(g.ib + 1 AS INT)]))
        |             + 400) // 100 + 1 AS INT)])) // 1000 AS d
        |    FROM walk w JOIN gord g ON g.gi = w.gi + 1) z),
        |fin AS (SELECT r FROM walk
        |        WHERE gi = (SELECT COUNT(*) FROM games)),
        |rat AS (SELECT unnest(generate_series(0, 7)) AS idx, r FROM fin),
        |r2 AS (SELECT CAST(idx AS BIGINT) AS idx,
        |              CAST(r[CAST(idx + 1 AS INT)] AS BIGINT) AS rating
        |       FROM rat),
        |pp AS (
        |  SELECT idx, CAST(COUNT(*) AS BIGINT) AS n_games,
        |         CAST(SUM(w) AS BIGINT) AS n_wins
        |  FROM (
        |    SELECT ia AS idx, CASE WHEN s_pm = 1000 THEN 1 ELSE 0 END AS w
        |    FROM games
        |    UNION ALL
        |    SELECT ib, CASE WHEN s_pm = 0 THEN 1 ELSE 0 END FROM games)
        |  GROUP BY idx)
        |SELECT roster.user_id AS player, r2.idx, rating,
        |       COALESCE(n_games, 0) AS n_games,
        |       COALESCE(n_wins, 0) AS n_wins
        |FROM r2 JOIN roster USING (idx) LEFT JOIN pp USING (idx)
        |ORDER BY rating DESC, player""".stripMargin,
    "ev_event_study" ->
      """WITH ev AS (
        |  SELECT user_id, event_type,
        |         CAST(date_diff('day', DATE '2024-01-01', CAST(ts AS DATE))
        |           AS INT) AS dday
        |  FROM events),
        |signup AS (
        |  SELECT user_id, MIN(dday) AS s0 FROM ev
        |  WHERE event_type = 'signup' GROUP BY user_id),
        |rel AS (
        |  SELECT ev.user_id, ev.event_type, ev.dday - s.s0 AS r
        |  FROM ev JOIN signup s USING (user_id)
        |  WHERE ev.dday - s.s0 BETWEEN -7 AND 7),
        |byr AS (
        |  SELECT r, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
        |         CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
        |           AS BIGINT) AS purchases
        |  FROM rel GROUP BY r),
        |b2 AS (SELECT *, (purchases * 1000000) // n_users AS rate_ppm FROM byr),
        |base AS (
        |  SELECT CAST(SUM(purchases * 1000000) // SUM(n_users) AS BIGINT)
        |           AS base_rate_ppm
        |  FROM byr WHERE r < 0)
        |SELECT CAST(r AS INT) AS r, n_users, purchases,
        |       CAST(rate_ppm AS BIGINT) AS rate_ppm, base_rate_ppm,
        |       CAST(rate_ppm - base_rate_ppm AS BIGINT) AS effect_ppm
        |FROM b2 CROSS JOIN base ORDER BY r""".stripMargin,
    "ev_sprt" -> {
      val lg5 = FixLog.lgD("CAST(5 AS BIGINT)")
      val lg3 = FixLog.lgD("CAST(3 AS BIGINT)")
      val lg6 = FixLog.lgD("CAST(6 AS BIGINT)")
      val lg19 = FixLog.lgD("CAST(19 AS BIGINT)")
      s"""WITH day AS (
         |  SELECT CAST(date_diff('day', DATE '2024-01-01', CAST(ts AS DATE))
         |           AS INT) AS dday,
         |         CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
         |           AS BIGINT) AS k,
         |         CAST(COUNT(*) AS BIGINT) AS n
         |  FROM events GROUP BY 1),
         |t AS (
         |  SELECT dday, k, n,
         |         k * (($lg5) - ($lg3)) + (n - k) * (($lg5) - ($lg6)) AS llr_day,
         |         CAST($lg19 AS BIGINT) AS bound_fp
         |  FROM day),
         |c AS (
         |  SELECT *, CAST(SUM(llr_day) OVER (ORDER BY dday
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
         |    AS llr_cum
         |  FROM t)
         |SELECT dday, k, n, CAST(llr_day AS BIGINT) AS llr_day, llr_cum,
         |       bound_fp,
         |       CASE WHEN llr_cum >= bound_fp THEN 'accept_h1'
         |            WHEN llr_cum <= -bound_fp THEN 'accept_h0'
         |            ELSE 'continue' END AS decision
         |FROM c ORDER BY dday""".stripMargin
    },
    "ev_qini" ->
      """WITH u AS (
        |  SELECT user_id,
        |    SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS n_purch,
        |    SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS score
        |  FROM events GROUP BY user_id),
        |armed AS (
        |  SELECT CASE WHEN user_id % 2 <> 0 THEN 1 ELSE 0 END AS treated,
        |         CASE WHEN n_purch >= 14 THEN 1 ELSE 0 END AS converted,
        |         CAST(ntile(10) OVER (ORDER BY score DESC, user_id) AS BIGINT)
        |           AS decile
        |  FROM u),
        |dec AS (
        |  SELECT decile,
        |         CAST(SUM(treated) AS BIGINT) AS n_t,
        |         CAST(SUM(1 - treated) AS BIGINT) AS n_c,
        |         CAST(SUM(treated * converted) AS BIGINT) AS x_t,
        |         CAST(SUM((1 - treated) * converted) AS BIGINT) AS x_c
        |  FROM armed GROUP BY decile),
        |cum AS (
        |  SELECT *,
        |    CAST(SUM(n_t) OVER (ORDER BY decile) AS BIGINT) AS cum_nt,
        |    CAST(SUM(n_c) OVER (ORDER BY decile) AS BIGINT) AS cum_nc,
        |    CAST(SUM(x_t) OVER (ORDER BY decile) AS BIGINT) AS cum_xt,
        |    CAST(SUM(x_c) OVER (ORDER BY decile) AS BIGINT) AS cum_xc
        |  FROM dec)
        |SELECT decile, n_t, n_c, x_t, x_c,
        |       (x_t * 1000000) // n_t - (x_c * 1000000) // n_c AS uplift_ppm,
        |       cum_xt, cum_xc,
        |       cum_xt * 1000000 - (cum_xc * cum_nt * 1000000) // cum_nc
        |         AS qini_micro
        |FROM cum ORDER BY decile""".stripMargin,
    "ev_shapley" ->
      """WITH ev AS (
        |  SELECT user_id, event_type FROM events WHERE event_id % 23 = 0),
        |users AS (
        |  SELECT user_id,
        |    CAST(bit_or(CASE event_type
        |      WHEN 'click' THEN 1 WHEN 'error' THEN 2
        |      WHEN 'signup' THEN 4 WHEN 'view' THEN 8 ELSE 0 END) AS BIGINT)
        |      AS mask,
        |    CAST(max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
        |      AS BIGINT) AS conv
        |  FROM ev GROUP BY 1),
        |masks AS (
        |  SELECT mask, CAST(SUM(conv) AS BIGINT) AS convs
        |  FROM users GROUP BY 1),
        |co AS (SELECT CAST(range AS BIGINT) AS s FROM range(0, 16)),
        |vs AS (
        |  SELECT s, CAST(COALESCE(SUM(convs), 0) AS BIGINT) AS v
        |  FROM co LEFT JOIN masks ON (mask & s) = mask
        |  GROUP BY 1),
        |ch(channel, bit) AS (
        |  VALUES ('click', CAST(1 AS BIGINT)), ('error', 2), ('signup', 4),
        |         ('view', 8)),
        |contrib AS (
        |  SELECT c.channel,
        |         CAST([6, 2, 2, 6][CAST(bit_count(a.s) + 1 AS INT)] AS BIGINT)
        |           * (b.v - a.v) AS t
        |  FROM ch c
        |  JOIN vs a ON (c.bit & a.s) = 0
        |  JOIN vs b ON b.s = a.s + c.bit)
        |SELECT channel, CAST(SUM(t) AS BIGINT) AS phi_x24,
        |       CAST(CAST(SUM(t) AS BIGINT) AS DOUBLE) / 24.0 AS phi
        |FROM contrib GROUP BY 1 ORDER BY 1""".stripMargin,
    "ev_markov_attribution" -> {
      val chans = MKV_CHANNELS
      val allF = "start" +: chans
      val allT = chans :+ "conv"
      val mcols = (for { f <- allF; t <- allT } yield
        s"CAST(COALESCE(SUM(CASE WHEN f = '$f' AND t = '$t' THEN ppm END), 0) AS BIGINT) AS m_${f}_$t")
        .mkString(",\n         ")
      def stepRow(f: String, removed: Option[String]): String =
        chans.map(c =>
          if (removed.contains(c)) "0"
          else s"m_${f}_$c * p_$c").mkString(" + ") +
          s" + m_${f}_conv * 1000000"
      def itCte(nm: String, removed: Option[String]): String = {
        val cols = chans.map(c => s"p_$c").mkString(", ")
        val init = chans.map(_ => "CAST(0 AS BIGINT)").mkString(", ")
        val step = chans.map(c =>
          if (removed.contains(c)) "CAST(0 AS BIGINT)"
          else s"(${stepRow(c, removed)}) // 1000000").mkString(",\n           ")
        s"""$nm(k, $cols) AS (
           |  SELECT CAST(0 AS BIGINT), $init
           |  UNION ALL
           |  SELECT k + 1,
           |           $step
           |  FROM $nm, m WHERE k < $MKV_ITERS)"""
      }
      def pStart(nm: String, removed: Option[String]): String =
        s"(SELECT (${chans.map(c =>
          if (removed.contains(c)) "0"
          else s"m_start_$c * p_$c").mkString(" + ")} " +
          s"+ m_start_conv * 1000000) // 1000000 FROM $nm, m WHERE k = $MKV_ITERS)"
      val its = (itCte("it_full", None) +:
        chans.map(c => itCte(s"it_no_$c", Some(c)))).mkString(",\n")
      val fins = (s"${pStart("it_full", None)} AS p_full" +:
        chans.map(c => s"${pStart(s"it_no_$c", Some(c))} AS p_no_$c"))
        .mkString(",\n  ")
      val caseRemoved = "CASE channel " + chans.map(c =>
        s"WHEN '$c' THEN p_no_$c").mkString(" ") + " END"
      val values = chans.map(c => s"('$c')").mkString(", ")
      s"""WITH RECURSIVE ev AS (
         |  SELECT user_id, event_type,
         |         ROW_NUMBER() OVER (PARTITION BY user_id
         |           ORDER BY ts, event_id) AS pos
         |  FROM events),
         |pp AS (SELECT user_id, MIN(pos) AS ppos FROM ev
         |       WHERE event_type = 'purchase' GROUP BY 1),
         |jj AS (SELECT e.*, ppos FROM ev e LEFT JOIN pp USING (user_id)),
         |kept AS (SELECT * FROM jj WHERE ppos IS NULL OR pos < ppos),
         |mid AS (
         |  SELECT event_type AS f,
         |         COALESCE(LEAD(event_type) OVER (PARTITION BY user_id
         |             ORDER BY pos),
         |           CASE WHEN ppos IS NOT NULL THEN 'conv'
         |                ELSE 'nullend' END) AS t
         |  FROM kept),
         |st AS (SELECT 'start' AS f,
         |         CASE WHEN ppos = 1 THEN 'conv' ELSE event_type END AS t
         |       FROM jj WHERE pos = 1),
         |tr AS (SELECT f, t FROM mid UNION ALL SELECT f, t FROM st),
         |cn AS (SELECT f, t, CAST(COUNT(*) AS BIGINT) AS n
         |       FROM tr GROUP BY 1, 2),
         |tt AS (SELECT f, CAST(SUM(n) AS BIGINT) AS tn FROM cn GROUP BY 1),
         |pm AS (SELECT cn.f, cn.t, (n * 1000000) // tn AS ppm
         |       FROM cn JOIN tt ON cn.f = tt.f),
         |m AS (SELECT $mcols FROM pm),
         |$its,
         |fin AS (SELECT
         |  $fins),
         |f2 AS (
         |  SELECT channel, p_full AS p_full_ppm,
         |         $caseRemoved AS p_removed_ppm
         |  FROM (VALUES $values) c(channel), fin)
         |SELECT channel, p_full_ppm, p_removed_ppm,
         |       p_full_ppm - p_removed_ppm AS removal_ppm,
         |       ((p_full_ppm - p_removed_ppm) * 1000000)
         |         // greatest(CAST(1 AS BIGINT),
         |              CAST(SUM(p_full_ppm - p_removed_ppm) OVER ()
         |                AS BIGINT)) AS share_ppm
         |FROM f2 ORDER BY channel""".stripMargin
    },
    "ev_segment_migration" ->
      """WITH u AS (
        |  SELECT user_id,
        |         CAST(SUM(CASE WHEN day(ts) <= 15 THEN 1 ELSE 0 END)
        |           AS BIGINT) AS n1,
        |         CAST(SUM(CASE WHEN day(ts) <= 15 THEN 0 ELSE 1 END)
        |           AS BIGINT) AS n2
        |  FROM events GROUP BY 1),
        |seg AS (
        |  SELECT CASE WHEN n1 = 0 THEN 'none' WHEN n1 < 30 THEN 'low'
        |              WHEN n1 < 37 THEN 'mid' ELSE 'high' END AS seg_from,
        |         CASE WHEN n2 = 0 THEN 'none' WHEN n2 < 30 THEN 'low'
        |              WHEN n2 < 37 THEN 'mid' ELSE 'high' END AS seg_to
        |  FROM u),
        |c AS (
        |  SELECT seg_from, seg_to, CAST(COUNT(*) AS BIGINT) AS n_users
        |  FROM seg GROUP BY 1, 2),
        |r AS (
        |  SELECT seg_from, seg_to, n_users,
        |         CAST(SUM(n_users) OVER (PARTITION BY seg_from) AS BIGINT)
        |           AS row_total
        |  FROM c)
        |SELECT seg_from, seg_to, n_users, row_total,
        |       (n_users * 1000000) // row_total AS share_ppm
        |FROM r ORDER BY seg_from, seg_to""".stripMargin,
    "ev_burst_kleinberg" -> {
      import graft.ext.FixLog.lgD
      s"""WITH RECURSIVE e AS (
         |  SELECT epoch_us(ts) // 3600000000 AS h FROM events),
         |bnd AS (SELECT MIN(h) AS h0, MAX(h) AS h1 FROM e),
         |cnt AS (SELECT h, CAST(COUNT(*) AS BIGINT) AS k FROM e GROUP BY 1),
         |ser AS (
         |  SELECT CAST(x - h0 AS BIGINT) AS t, CAST(x AS BIGINT) AS h,
         |         COALESCE(k, CAST(0 AS BIGINT)) AS k
         |  FROM bnd, unnest(range(h0, h1 + 1)) AS u(x) LEFT JOIN cnt ON x = cnt.h),
         |par AS (
         |  SELECT hn, total, lam0, lam0 * 2 AS lam1,
         |         ${lgD("lam0")} AS lg0, ${lgD("lam0 * 2")} AS lg1
         |  FROM (SELECT CAST(COUNT(*) AS BIGINT) AS hn,
         |               CAST(SUM(k) AS BIGINT) AS total,
         |               greatest(CAST(1 AS BIGINT),
         |                 CAST(SUM(k) AS BIGINT) // CAST(COUNT(*) AS BIGINT))
         |                 AS lam0
         |        FROM ser)),
         |fwd(t, a, b) AS (
         |  SELECT CAST(0 AS BIGINT),
         |         lam0 * 94548 - k * lg0,
         |         lam1 * 94548 - k * lg1 + 262144
         |  FROM ser, par WHERE t = 0
         |  UNION ALL
         |  SELECT s.t,
         |         lam0 * 94548 - s.k * lg0 + least(f.a, f.b),
         |         lam1 * 94548 - s.k * lg1 + least(f.a + 262144, f.b)
         |  FROM fwd f JOIN ser s ON s.t = f.t + 1, par),
         |bwd(t, a, b) AS (
         |  SELECT hn - 1, CAST(0 AS BIGINT), CAST(0 AS BIGINT) FROM par
         |  UNION ALL
         |  SELECT w.t - 1,
         |         least(lam0 * 94548 - sn.k * lg0 + w.a,
         |               262144 + lam1 * 94548 - sn.k * lg1 + w.b),
         |         least(lam0 * 94548 - sn.k * lg0 + w.a,
         |               lam1 * 94548 - sn.k * lg1 + w.b)
         |  FROM bwd w JOIN ser sn ON sn.t = w.t, par WHERE w.t >= 1)
         |SELECT make_timestamp(s.h * 3600000000) AS hour_start,
         |       s.k AS n_events,
         |       (f.b + w.b) < (f.a + w.a) AS burst
         |FROM ser s JOIN fwd f ON f.t = s.t JOIN bwd w ON w.t = s.t
         |ORDER BY hour_start""".stripMargin
    },
    "ev_survival_km" -> {
      import graft.ext.FixLog.lgD
      s"""WITH e AS (SELECT user_id, epoch_us(ts) AS us FROM events),
         |u AS (SELECT user_id, MIN(us) AS first_us, MAX(us) AS last_us
         |      FROM e GROUP BY 1),
         |g AS (SELECT MAX(us) AS gmax FROM e),
         |l AS (SELECT (last_us - first_us) // 86400000000 AS t_days,
         |             CASE WHEN last_us < gmax - 1209600000000
         |                  THEN 1 ELSE 0 END AS churn
         |      FROM u, g),
         |b AS (SELECT t_days, CAST(SUM(churn) AS BIGINT) AS d_churn,
         |             CAST(SUM(1 - churn) AS BIGINT) AS c_censored
         |      FROM l GROUP BY 1),
         |r AS (SELECT t_days, d_churn, c_censored,
         |             CAST(SUM(d_churn + c_censored) OVER () AS BIGINT)
         |               - COALESCE(CAST(SUM(d_churn + c_censored) OVER (
         |                   ORDER BY t_days ROWS BETWEEN UNBOUNDED PRECEDING
         |                   AND 1 PRECEDING) AS BIGINT), 0) AS n_risk
         |      FROM b),
         |t AS (SELECT t_days, n_risk, d_churn, c_censored,
         |             CASE WHEN n_risk > d_churn
         |                  THEN ${lgD("(n_risk - d_churn)")} - ${lgD("n_risk")}
         |                  ELSE CAST(-1000000000 AS BIGINT) END AS term
         |      FROM r),
         |f AS (SELECT t_days, n_risk, d_churn, c_censored,
         |             CAST(SUM(term) OVER (ORDER BY t_days
         |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |               AS BIGINT) AS km_log2_fp
         |      FROM t)
         |SELECT t_days, n_risk, d_churn, c_censored, km_log2_fp,
         |       CAST(km_log2_fp AS DOUBLE) / 65536.0 AS km_log2_bits
         |FROM f ORDER BY t_days""".stripMargin
    },
    "ev_funnel_windowed" ->
      """WITH t1 AS (
        |  SELECT user_id, MIN(ts) AS t1 FROM events
        |  WHERE event_type = 'view' GROUP BY 1),
        |t2 AS (
        |  SELECT e.user_id, MIN(e.ts) AS t2 FROM events e
        |  JOIN t1 ON e.user_id = t1.user_id
        |  WHERE e.event_type = 'click' AND e.ts > t1.t1
        |    AND e.ts <= t1.t1 + INTERVAL 30 MINUTE GROUP BY 1),
        |t3 AS (
        |  SELECT e.user_id, MIN(e.ts) AS t3 FROM events e
        |  JOIN t2 ON e.user_id = t2.user_id
        |  WHERE e.event_type = 'purchase' AND e.ts > t2.t2
        |    AND e.ts <= t2.t2 + INTERVAL 30 MINUTE GROUP BY 1)
        |SELECT stage, n_users FROM (
        |  SELECT '1_view' AS stage, CAST(COUNT(*) AS BIGINT) AS n_users
        |  FROM t1
        |  UNION ALL
        |  SELECT '2_click_30m', CAST(COUNT(*) AS BIGINT) FROM t2
        |  UNION ALL
        |  SELECT '3_purchase_30m', CAST(COUNT(*) AS BIGINT) FROM t3)
        |ORDER BY stage""".stripMargin,
    "ev_seasonal_decompose" ->
      """WITH daily AS (
        |  SELECT CAST(ts AS DATE) AS day,
        |         CAST(SUM(CAST(CAST(value AS DECIMAL(18,4)) * 10000
        |              AS DECIMAL(19,0))) AS BIGINT) AS rev_micro
        |  FROM events WHERE event_type = 'purchase' GROUP BY 1),
        |d2 AS (SELECT day, rev_micro,
        |              CAST(isodow(day) - 1 AS BIGINT) AS dow FROM daily),
        |tr AS (
        |  SELECT day, dow, rev_micro,
        |         CAST(SUM(rev_micro) OVER w AS BIGINT) AS t7_sum,
        |         CAST(COUNT(*) OVER w AS BIGINT) AS t7_n
        |  FROM d2 WINDOW w AS (ORDER BY day
        |    ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)),
        |tf AS (SELECT *, 7 * rev_micro - t7_sum AS det7 FROM tr
        |       WHERE t7_n = 7),
        |seas AS (SELECT dow, CAST(SUM(det7) AS BIGINT) AS seas_num,
        |                CAST(COUNT(*) AS BIGINT) AS seas_cnt
        |         FROM tf GROUP BY 1),
        |j AS (
        |  SELECT t.day, t.dow, t.rev_micro, t.t7_sum, s.seas_num, s.seas_cnt,
        |         CAST(t.t7_sum AS DOUBLE) / CAST(70000 AS DOUBLE) AS trend,
        |         CAST(s.seas_num AS DOUBLE)
        |           / (CAST(s.seas_cnt AS DOUBLE) * CAST(70000 AS DOUBLE))
        |           AS seasonal
        |  FROM tf t JOIN seas s ON t.dow = s.dow)
        |SELECT day, dow, rev_micro, t7_sum, seas_num, seas_cnt,
        |       trend, seasonal,
        |       CAST(rev_micro AS DOUBLE) / CAST(10000 AS DOUBLE)
        |         - trend - seasonal AS residual
        |FROM j ORDER BY day""".stripMargin,
    "ev_match_recognize" ->
      """WITH sym AS (
        |  SELECT user_id,
        |         string_agg(CASE event_type WHEN 'view' THEN 'v'
        |             WHEN 'click' THEN 'c' WHEN 'purchase' THEN 'p'
        |             WHEN 'signup' THEN 's' ELSE 'e' END, ''
        |           ORDER BY ts, event_id) AS path
        |  FROM events GROUP BY user_id)
        |SELECT user_id,
        |       CAST(LENGTH(path) AS BIGINT) AS n_events,
        |       CAST(LEN(regexp_extract_all(path, 'vc*p')) AS BIGINT)
        |         AS n_convert,
        |       CAST(LEN(regexp_extract_all(path, 'vc*e')) AS BIGINT)
        |         AS n_abandon
        |FROM sym ORDER BY user_id""".stripMargin,
    "ev_attribution_ushape" ->
      """WITH touches AS (
        |  SELECT user_id, event_type AS channel, event_id AS tid,
        |         epoch_us(ts) AS t_us
        |  FROM events WHERE event_type <> 'purchase'),
        |purch AS (
        |  SELECT user_id, event_id AS pid, epoch_us(ts) AS p_us
        |  FROM events WHERE event_type = 'purchase'),
        |paired AS (
        |  SELECT t.channel, t.tid, t.t_us, p.pid
        |  FROM touches t JOIN purch p USING (user_id)
        |  WHERE t.t_us < p.p_us AND t.t_us >= p.p_us - 604800000000),
        |pos AS (
        |  SELECT channel,
        |         COUNT(*) OVER (PARTITION BY pid) AS k,
        |         CAST(ROW_NUMBER() OVER (PARTITION BY pid
        |           ORDER BY t_us, tid) AS BIGINT) AS rn
        |  FROM paired),
        |cr AS (
        |  SELECT channel,
        |         CASE WHEN k = 1 THEN CAST(1000000 AS BIGINT)
        |              WHEN k = 2 THEN CAST(500000 AS BIGINT)
        |              WHEN rn = 1 THEN 400000 + 200000 % (k - 2)
        |              WHEN rn = k THEN CAST(400000 AS BIGINT)
        |              ELSE CAST(CAST(200000 AS HUGEINT) // (k - 2) AS BIGINT)
        |              END AS credit_ppm
        |  FROM pos),
        |c AS (
        |  SELECT channel, CAST(COUNT(*) AS BIGINT) AS n_touches,
        |         CAST(SUM(credit_ppm) AS BIGINT) AS credit_ppm
        |  FROM cr GROUP BY 1)
        |SELECT channel, n_touches, credit_ppm,
        |       CAST(credit_ppm AS DOUBLE) / 1000000.0 AS credited_purchases
        |FROM c ORDER BY channel""".stripMargin,
    "ev_attribution_linear" ->
      """WITH touches AS (
        |  SELECT user_id, event_type AS channel, epoch_us(ts) AS t_us
        |  FROM events WHERE event_type <> 'purchase'),
        |purch AS (
        |  SELECT user_id, event_id AS pid, epoch_us(ts) AS p_us
        |  FROM events WHERE event_type = 'purchase'),
        |paired AS (
        |  SELECT t.channel, p.pid
        |  FROM touches t JOIN purch p USING (user_id)
        |  WHERE t.t_us < p.p_us AND t.t_us >= p.p_us - 604800000000),
        |k AS (
        |  SELECT channel, pid,
        |         COUNT(*) OVER (PARTITION BY pid) AS k
        |  FROM paired),
        |c AS (
        |  SELECT channel, CAST(COUNT(*) AS BIGINT) AS n_touches,
        |         CAST(SUM(CAST(1000000 AS BIGINT) // k) AS BIGINT)
        |           AS credit_ppm
        |  FROM k GROUP BY 1)
        |SELECT channel, n_touches, credit_ppm,
        |       CAST(credit_ppm AS DOUBLE) / 1000000.0 AS credited_purchases
        |FROM c ORDER BY channel""".stripMargin,
    "ev_decay_score" ->
      """WITH hi AS (SELECT MAX(CAST(ts AS DATE)) AS today FROM events),
        |aged AS (
        |  SELECT user_id,
        |         CAST(today - CAST(ts AS DATE) AS BIGINT) AS age,
        |         CAST(CAST(value AS DECIMAL(18,4)) * 10000
        |              AS DECIMAL(19,0)) AS vfix
        |  FROM events CROSS JOIN hi),
        |m AS (
        |  SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_events,
        |         CAST(SUM(vfix * (CAST(1 AS BIGINT) << CAST(40 - age AS INTEGER)))
        |              AS DECIMAL(38,0)) AS num
        |  FROM aged WHERE age <= 40 GROUP BY 1)
        |SELECT user_id, n_events,
        |       CAST(CAST(num AS HUGEINT) // 1099511627776 AS BIGINT)
        |         AS score_micro,
        |       CAST(CAST(CAST(num AS HUGEINT) // 1099511627776 AS BIGINT)
        |            AS DOUBLE) / 10000.0 AS decay_score
        |FROM m ORDER BY user_id""".stripMargin,
    "ev_day_jaccard" ->
      """WITH pairs AS (
        |  SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
        |dau AS (SELECT day, CAST(COUNT(*) AS BIGINT) AS dau
        |        FROM pairs GROUP BY 1),
        |inter AS (
        |  SELECT a.day, CAST(COUNT(*) AS BIGINT) AS n_both
        |  FROM pairs a JOIN pairs b
        |    ON a.user_id = b.user_id AND a.day + 1 = b.day
        |  GROUP BY 1)
        |SELECT d1.day, d1.dau AS dau_day, d2.dau AS dau_next,
        |       CAST(COALESCE(i.n_both, 0) AS BIGINT) AS n_both,
        |       CAST(COALESCE(i.n_both, 0) AS DOUBLE)
        |         / CAST(d1.dau + d2.dau - COALESCE(i.n_both, 0) AS DOUBLE)
        |         AS jaccard
        |FROM dau d1 JOIN dau d2 ON d1.day + 1 = d2.day
        |LEFT JOIN inter i ON i.day = d1.day
        |ORDER BY d1.day""".stripMargin,
    "ev_session_hist" ->
      """WITH marked AS (
        |  SELECT user_id, event_id, ts,
        |         CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
        |                OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800000000
        |              THEN 1::BIGINT ELSE 0::BIGINT END AS new_sess
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |sess AS (
        |  SELECT *, CAST(SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |                                     ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
        |  FROM marked),
        |per AS (
        |  SELECT user_id, session_id, COUNT(*) AS n_events
        |  FROM sess GROUP BY 1, 2)
        |SELECT n_events AS session_len,
        |       CAST(COUNT(*) AS BIGINT) AS n_sessions,
        |       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
        |FROM per GROUP BY 1 ORDER BY session_len""".stripMargin,
    "ev_dow_anova" ->
      """WITH daily AS (
        |  SELECT CAST(ts AS DATE) AS day,
        |    CAST(SUM(CAST(CAST(value AS DECIMAL(18,4)) * 10000
        |             AS DECIMAL(19,0))) AS DECIMAL(19,0)) AS v
        |  FROM events GROUP BY 1),
        |d2 AS (SELECT day, v, isodow(day) - 1 AS dow FROM daily),
        |g AS (
        |  SELECT dow, CAST(COUNT(*) AS BIGINT) AS n_g,
        |         CAST(SUM(v) AS DECIMAL(19,0)) AS s_g
        |  FROM d2 GROUP BY 1),
        |pn AS (SELECT CAST(product(n_g) AS BIGINT) AS pi_n,
        |              CAST(COUNT(*) AS BIGINT) AS k FROM g),
        |tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
        |               CAST(SUM(v) AS DECIMAL(19,0)) AS sv,
        |               SUM(v * v) AS svv FROM d2),
        |terms AS (
        |  SELECT SUM(CAST(pi_n // n_g AS DECIMAL(19,0)) * s_g * s_g)
        |    AS sum_terms
        |  FROM g CROSS JOIN pn),
        |f AS (
        |  SELECT n, k,
        |    CAST(CAST(n * sum_terms - pi_n * sv * sv AS VARCHAR) AS DOUBLE)
        |      / CAST(CAST((n * pi_n) * svv - pi_n * sv * sv AS VARCHAR)
        |             AS DOUBLE) AS eta2
        |  FROM terms CROSS JOIN pn CROSS JOIN tot)
        |SELECT n AS n_days, k AS n_groups, eta2,
        |       eta2 / (1.0 - eta2) * CAST(n - k AS DOUBLE)
        |         / CAST(k - 1 AS DOUBLE) AS f_stat
        |FROM f ORDER BY n_days""".stripMargin,
    "ev_power_mde" ->
      """WITH st AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS n_obs,
        |         CAST(SUM(v) AS BIGINT) AS sv,
        |         CAST(CAST(CAST(SUM(CAST(v AS DECIMAL(38,0)) * v)
        |              AS DECIMAL(38,0)) AS VARCHAR) AS DOUBLE) AS svv
        |  FROM (SELECT CAST(CAST(value AS DECIMAL(18,4)) * 10000 AS BIGINT) AS v
        |        FROM events)),
        |m AS (
        |  SELECT *, CAST(sv AS DOUBLE) / CAST(n_obs AS DOUBLE) AS mean FROM st),
        |v AS (
        |  SELECT *, (svv - CAST(sv AS DOUBLE) * mean)
        |              / CAST(n_obs - 1 AS DOUBLE) AS variance
        |  FROM m)
        |SELECT n_per_arm, n_obs, variance AS variance_fixed2,
        |       CAST('2.8' AS DOUBLE)
        |         * SQRT(2.0 * variance / CAST(n_per_arm AS DOUBLE)) AS mde_fixed
        |FROM v CROSS JOIN (SELECT unnest([1000, 5000, 10000, 50000]::BIGINT[])
        |                   AS n_per_arm)
        |ORDER BY n_per_arm""".stripMargin,
    "ev_ltv_discounted" ->
      """WITH ev AS (
        |  SELECT user_id,
        |         DATEDIFF('day', DATE '2024-01-01', CAST(ts AS DATE)) // 7 AS wk,
        |         CAST(CAST(value AS DECIMAL(18,4)) * 10000 AS BIGINT) AS v
        |  FROM events),
        |f AS (SELECT user_id, MIN(wk) AS w0 FROM ev GROUP BY 1),
        |agg AS (
        |  SELECT ev.wk - f.w0 AS k,
        |         CAST(COUNT(DISTINCT ev.user_id) AS BIGINT) AS n_users,
        |         CAST(SUM(v) AS BIGINT) AS sv
        |  FROM ev JOIN f ON ev.user_id = f.user_id GROUP BY 1)
        |SELECT k, n_users, sv * 100 AS value_micro,
        |       (sv * 100 * ([1, 9, 81, 729, 6561, 59049])[CAST(k + 1 AS INT)])
        |         // ([1, 10, 100, 1000, 10000, 100000])[CAST(k + 1 AS INT)]
        |         AS discounted_micro
        |FROM agg ORDER BY k""".stripMargin,
    "ev_diff_in_diff" ->
      """WITH b AS (
        |  SELECT MIN(epoch_us(ts)) AS mn, MAX(epoch_us(ts)) AS mx FROM events),
        |cells AS (
        |  SELECT CASE WHEN user_id % 2 = 0 THEN 'control'
        |              ELSE 'treatment' END AS arm,
        |         CASE WHEN epoch_us(ts) < mn + (mx - mn) // 2
        |              THEN 'pre' ELSE 'post' END AS period,
        |         CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
        |         CAST(SUM(CAST(CAST(value AS DECIMAL(18,4)) * 10000 AS BIGINT))
        |              AS BIGINT) AS sv
        |  FROM events CROSS JOIN b GROUP BY 1, 2),
        |m AS (SELECT arm, period, (sv * 100) // n_users AS mean_micro
        |      FROM cells),
        |t AS (SELECT
        |        MAX(CASE WHEN period = 'pre' THEN mean_micro END) AS t_pre,
        |        MAX(CASE WHEN period = 'post' THEN mean_micro END) AS t_post
        |      FROM m WHERE arm = 'treatment'),
        |c AS (SELECT
        |        MAX(CASE WHEN period = 'pre' THEN mean_micro END) AS c_pre,
        |        MAX(CASE WHEN period = 'post' THEN mean_micro END) AS c_post
        |      FROM m WHERE arm = 'control')
        |SELECT t_pre, t_post, c_pre, c_post,
        |       (t_post - t_pre) - (c_post - c_pre) AS did_micro
        |FROM t CROSS JOIN c""".stripMargin,
    "ev_att_stratified" ->
      """WITH users AS (
        |  SELECT user_id, COUNT(*) AS n_events,
        |         MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
        |           AS converted,
        |         CASE WHEN user_id % 2 = 0 THEN 'control'
        |              ELSE 'treatment' END AS arm
        |  FROM events GROUP BY user_id),
        |strat AS (
        |  SELECT *, ntile(4) OVER (ORDER BY n_events, user_id) AS stratum
        |  FROM users),
        |agg AS (
        |  SELECT stratum,
        |         CAST(SUM(CASE WHEN arm = 'treatment' THEN 1 ELSE 0 END) AS BIGINT) AS n_t,
        |         CAST(SUM(CASE WHEN arm = 'control' THEN 1 ELSE 0 END) AS BIGINT) AS n_c,
        |         CAST(SUM(CASE WHEN arm = 'treatment' THEN converted ELSE 0 END) AS BIGINT) AS conv_t,
        |         CAST(SUM(CASE WHEN arm = 'control' THEN converted ELSE 0 END) AS BIGINT) AS conv_c
        |  FROM strat GROUP BY 1)
        |SELECT CAST(stratum AS INT) AS stratum, n_t, n_c, conv_t, conv_c,
        |       CAST((conv_t * n_c - conv_c * n_t) * 1000000
        |            // (n_t * n_c) AS BIGINT) AS uplift_micro
        |FROM agg ORDER BY stratum""".stripMargin,
    "ev_cuped" ->
      """WITH b AS (
        |  SELECT MIN(epoch_us(ts)) AS mn, MAX(epoch_us(ts)) AS mx FROM events),
        |per AS (
        |  SELECT user_id,
        |    CAST(SUM(CASE WHEN epoch_us(ts) < mn + (mx - mn) // 2
        |      THEN CAST(CAST(value AS DECIMAL(18,4)) * 10000 AS DECIMAL(19,0))
        |      ELSE CAST(0 AS DECIMAL(19,0)) END) AS DECIMAL(19,0)) AS x,
        |    CAST(SUM(CASE WHEN epoch_us(ts) >= mn + (mx - mn) // 2
        |      THEN CAST(CAST(value AS DECIMAL(18,4)) * 10000 AS DECIMAL(19,0))
        |      ELSE CAST(0 AS DECIMAL(19,0)) END) AS DECIMAL(19,0)) AS y
        |  FROM events CROSS JOIN b GROUP BY 1),
        |pool AS (
        |  SELECT COUNT(*) AS n, SUM(x) AS sx, SUM(y) AS sy,
        |         SUM(x * y) AS sxy, SUM(x * x) AS sxx
        |  FROM per),
        |c AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS n_c, SUM(x) AS x_c, SUM(y) AS y_c
        |  FROM per WHERE user_id % 2 = 0),
        |t AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS n_t, SUM(x) AS x_t, SUM(y) AS y_t
        |  FROM per WHERE user_id % 2 <> 0),
        |f AS (
        |  SELECT n_c, n_t,
        |    CAST(CAST(n * sxy - sx * sy AS VARCHAR) AS DOUBLE)
        |      / CAST(CAST(n * sxx - sx * sx AS VARCHAR) AS DOUBLE) AS theta,
        |    (CAST(y_t AS DOUBLE) / CAST(n_t AS DOUBLE)
        |      - CAST(y_c AS DOUBLE) / CAST(n_c AS DOUBLE)) / 10000.0 AS raw_diff,
        |    (CAST(x_t AS DOUBLE) / CAST(n_t AS DOUBLE)
        |      - CAST(x_c AS DOUBLE) / CAST(n_c AS DOUBLE)) / 10000.0 AS x_diff
        |  FROM c CROSS JOIN t CROSS JOIN pool)
        |SELECT n_c, n_t, theta, raw_diff, x_diff,
        |       raw_diff - theta * x_diff AS cuped_diff
        |FROM f ORDER BY n_c""".stripMargin,
    "ev_streaks" ->
      """WITH days AS (
        |  SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
        |isl AS (
        |  SELECT user_id,
        |         CAST(day - DATE '1970-01-01' AS BIGINT)
        |           - ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY day)
        |           AS island,
        |         day
        |  FROM days),
        |runs AS (
        |  SELECT user_id, island, CAST(COUNT(*) AS BIGINT) AS len,
        |         MIN(day) AS start_day
        |  FROM isl GROUP BY 1, 2),
        |mxd AS (
        |  SELECT user_id, island, len, start_day,
        |         MAX(len) OVER (PARTITION BY user_id) AS mx
        |  FROM runs)
        |SELECT user_id,
        |       CAST(SUM(len) AS BIGINT) AS n_active_days,
        |       CAST(COUNT(*) AS BIGINT) AS n_streaks,
        |       CAST(MAX(len) AS BIGINT) AS longest_streak,
        |       MAX(CASE WHEN len = mx THEN start_day END) AS longest_start
        |FROM mxd GROUP BY 1 ORDER BY user_id""".stripMargin,
    "ev_gap_regularity" ->
      """WITH g AS (
        |  SELECT user_id,
        |         (epoch_us(nxt) - epoch_us(ts)) // 1000000 AS gap_s
        |  FROM (
        |    SELECT user_id, ts, LEAD(ts, 1) OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id) AS nxt
        |    FROM events)
        |  WHERE nxt IS NOT NULL),
        |m AS (
        |  SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_gaps,
        |         CAST(SUM(gap_s) AS BIGINT) AS sum_gap_s,
        |         CAST(SUM(gap_s * gap_s) AS BIGINT) AS sum_gap_sq
        |  FROM g GROUP BY 1)
        |SELECT user_id, n_gaps, sum_gap_s, sum_gap_sq,
        |       CAST(sum_gap_s AS DOUBLE) / CAST(n_gaps AS DOUBLE) AS mean_gap_s,
        |       CAST(n_gaps * sum_gap_sq - sum_gap_s * sum_gap_s AS DOUBLE)
        |         / CAST(n_gaps - 1 AS DOUBLE)
        |         / CAST(sum_gap_s AS DOUBLE)
        |         / CAST(sum_gap_s AS DOUBLE)
        |         * CAST(n_gaps AS DOUBLE) AS cv2
        |FROM m WHERE n_gaps >= 5 ORDER BY user_id""".stripMargin,
    "ev_forecast_naive" ->
      """WITH daily AS (
        |  SELECT event_type, CAST(ts AS DATE) AS day,
        |         SUM(CAST(value AS DECIMAL(18,4))) AS v
        |  FROM events GROUP BY 1, 2),
        |fc AS (SELECT event_type, day + 7 AS day, v AS f FROM daily),
        |j AS (
        |  SELECT d.event_type, abs(d.v - fc.f) AS abs_err, d.v
        |  FROM daily d JOIN fc USING (event_type, day))
        |SELECT event_type, COUNT(*) AS n_days,
        |       CAST(SUM(abs_err) AS DOUBLE) AS total_abs_err,
        |       CAST(SUM(abs_err) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS mae,
        |       CAST(SUM(abs_err) AS DOUBLE) / CAST(SUM(v) AS DOUBLE) AS wape
        |FROM j GROUP BY 1 ORDER BY event_type""".stripMargin,
    "ev_lifecycle" ->
      """WITH pairs AS (
        |  SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
        |tagged AS (
        |  SELECT day,
        |         CASE WHEN prev IS NULL THEN 'new'
        |              WHEN day - prev = 1 THEN 'retained'
        |              ELSE 'resurrected' END AS cls
        |  FROM (SELECT user_id, day,
        |          LAG(day, 1) OVER (PARTITION BY user_id ORDER BY day) AS prev
        |        FROM pairs)),
        |active AS (
        |  SELECT day,
        |    CAST(SUM(CASE WHEN cls = 'new' THEN 1 ELSE 0 END) AS BIGINT) AS n_new,
        |    CAST(SUM(CASE WHEN cls = 'retained' THEN 1 ELSE 0 END) AS BIGINT) AS n_retained,
        |    CAST(SUM(CASE WHEN cls = 'resurrected' THEN 1 ELSE 0 END) AS BIGINT) AS n_resurrected
        |  FROM tagged GROUP BY 1),
        |ed AS (SELECT MAX(day) AS end_day FROM pairs),
        |churn AS (
        |  SELECT last_day + 1 AS day, COUNT(*) AS n_churned
        |  FROM (SELECT user_id, MAX(day) AS last_day FROM pairs GROUP BY 1)
        |  CROSS JOIN ed WHERE last_day < end_day GROUP BY 1)
        |SELECT a.day, n_new, n_retained, n_resurrected,
        |       CAST(COALESCE(c.n_churned, 0) AS BIGINT) AS n_churned,
        |       n_new + n_retained + n_resurrected AS dau,
        |       n_new + n_resurrected - CAST(COALESCE(c.n_churned, 0) AS BIGINT) AS net_growth
        |FROM active a LEFT JOIN churn c ON a.day = c.day
        |ORDER BY a.day""".stripMargin,
    "ev_stickiness" ->
      """WITH pairs AS (
        |  SELECT DISTINCT CAST(ts AS DATE) AS day, user_id FROM events),
        |days AS (SELECT DISTINCT day FROM pairs),
        |dau AS (SELECT day, COUNT(DISTINCT user_id) AS dau FROM pairs GROUP BY 1),
        |wau AS (
        |  SELECT d.day, COUNT(DISTINCT p.user_id) AS wau
        |  FROM days d JOIN pairs p
        |    ON p.day BETWEEN d.day - 6 AND d.day GROUP BY 1),
        |mau AS (
        |  SELECT d.day, COUNT(DISTINCT p.user_id) AS mau
        |  FROM days d JOIN pairs p
        |    ON p.day BETWEEN d.day - 29 AND d.day GROUP BY 1)
        |SELECT dau.day, dau.dau, wau.wau, mau.mau,
        |       CAST(dau.dau AS DOUBLE) / CAST(wau.wau AS DOUBLE) AS stickiness_w,
        |       CAST(dau.dau AS DOUBLE) / CAST(mau.mau AS DOUBLE) AS stickiness_m
        |FROM dau JOIN wau USING (day) JOIN mau USING (day)
        |ORDER BY dau.day""".stripMargin,
    "ev_audience_overlap" ->
      """WITH b AS (
        |  SELECT user_id,
        |         CASE event_type WHEN 'click' THEN 1 WHEN 'error' THEN 2
        |           WHEN 'purchase' THEN 4 WHEN 'signup' THEN 8
        |           WHEN 'view' THEN 16 ELSE 0 END AS b
        |  FROM events),
        |m AS (SELECT user_id, bit_or(b) AS mask FROM b GROUP BY 1),
        |mc AS (SELECT mask, COUNT(*) AS n_users FROM m GROUP BY 1),
        |ty AS (SELECT * FROM (VALUES ('click', 1), ('error', 2),
        |         ('purchase', 4), ('signup', 8), ('view', 16)) AS t(tname, tbit)),
        |pr AS (SELECT a.tname AS type_a, a.tbit AS bit_a,
        |              bb.tname AS type_b, bb.tbit AS bit_b
        |       FROM ty a JOIN ty bb ON bb.tbit >= a.tbit),
        |agg AS (
        |  SELECT type_a, type_b,
        |    CAST(SUM(CASE WHEN (mask & bit_a) <> 0 AND (mask & bit_b) <> 0
        |             THEN n_users ELSE 0 END) AS BIGINT) AS n_both,
        |    CAST(SUM(CASE WHEN (mask & bit_a) <> 0 THEN n_users ELSE 0 END) AS BIGINT) AS n_a,
        |    CAST(SUM(CASE WHEN (mask & bit_b) <> 0 THEN n_users ELSE 0 END) AS BIGINT) AS n_b
        |  FROM pr CROSS JOIN mc GROUP BY 1, 2)
        |SELECT type_a, type_b, n_both, n_a, n_b,
        |       CAST(n_both AS DOUBLE) / CAST(n_a + n_b - n_both AS DOUBLE) AS jaccard
        |FROM agg ORDER BY type_a, type_b""".stripMargin,
    "ev_cohort_ltv" ->
      """WITH cohort AS (
        |  SELECT user_id, CAST(MIN(ts) AS DATE) AS cohort_day
        |  FROM events WHERE event_type = 'signup' GROUP BY 1),
        |sizes AS (SELECT cohort_day, COUNT(*) AS n_users FROM cohort GROUP BY 1),
        |rev AS (
        |  SELECT c.cohort_day,
        |         CAST(CAST(e.ts AS DATE) - c.cohort_day AS BIGINT) AS day_offset,
        |         COUNT(*) AS n_purchases,
        |         SUM(CAST(e.value AS DECIMAL(18,4))) AS revd
        |  FROM events e JOIN cohort c USING (user_id)
        |  WHERE e.event_type = 'purchase' AND CAST(e.ts AS DATE) >= c.cohort_day
        |  GROUP BY 1, 2),
        |cum AS (
        |  SELECT cohort_day, day_offset, n_purchases, revd,
        |         SUM(revd) OVER (PARTITION BY cohort_day ORDER BY day_offset
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cumd
        |  FROM rev)
        |SELECT cum.cohort_day, cum.day_offset, s.n_users, cum.n_purchases,
        |       CAST(revd AS DOUBLE) AS revenue,
        |       CAST(cumd AS DOUBLE) AS cum_revenue,
        |       CAST(cumd AS DOUBLE) / CAST(s.n_users AS DOUBLE) AS ltv_per_user
        |FROM cum JOIN sizes s USING (cohort_day)
        |ORDER BY cum.cohort_day, cum.day_offset""".stripMargin,
    "ev_hazard" ->
      """WITH mx AS (SELECT MAX(ts) AS end_ts FROM events),
        |gaps AS (
        |  SELECT (epoch_us(COALESCE(nxt, end_ts)) - epoch_us(ts)) // 3600000000 AS gap_hours,
        |         nxt IS NULL AS censored
        |  FROM (
        |    SELECT ts, LEAD(ts, 1) OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id) AS nxt
        |    FROM events) CROSS JOIN mx),
        |byt AS (
        |  SELECT gap_hours,
        |         CAST(SUM(CASE WHEN NOT censored THEN 1 ELSE 0 END) AS BIGINT) AS d_done,
        |         CAST(SUM(CASE WHEN censored THEN 1 ELSE 0 END) AS BIGINT) AS c_censored
        |  FROM gaps GROUP BY 1),
        |fin AS (
        |  SELECT CAST(gap_hours AS BIGINT) AS gap_hours, d_done, c_censored,
        |         CAST(SUM(d_done + c_censored) OVER (ORDER BY gap_hours DESC
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS n_at_risk
        |  FROM byt)
        |SELECT gap_hours, n_at_risk, d_done, c_censored,
        |       CAST(d_done AS DOUBLE) / CAST(n_at_risk AS DOUBLE) AS hazard
        |FROM fin ORDER BY gap_hours""".stripMargin,
    "ev_dispersion" ->
      """WITH pu AS (
        |  SELECT event_type, user_id, COUNT(*) AS c
        |  FROM events GROUP BY 1, 2),
        |m AS (
        |  SELECT event_type, COUNT(*) AS n_users,
        |         CAST(SUM(c) AS BIGINT) AS n_events,
        |         CAST(SUM(c * c) AS BIGINT) AS sum_sq
        |  FROM pu GROUP BY 1)
        |SELECT event_type, n_users, n_events, sum_sq,
        |       CAST(n_users * sum_sq - n_events * n_events AS DOUBLE)
        |         / CAST(n_users * (n_users - 1) AS DOUBLE)
        |         / (CAST(n_events AS DOUBLE) / CAST(n_users AS DOUBLE)) AS dispersion
        |FROM m ORDER BY event_type""".stripMargin,
    "ev_conversion_lag" ->
      """WITH c1 AS (
        |  SELECT user_id, MIN(ts) AS t_click FROM events
        |  WHERE event_type = 'click' GROUP BY 1),
        |lags AS (
        |  SELECT e.user_id,
        |         MIN(epoch_us(e.ts)) - MAX(epoch_us(c1.t_click)) AS lag_us
        |  FROM events e JOIN c1 USING (user_id)
        |  WHERE e.event_type = 'purchase' AND e.ts > c1.t_click
        |  GROUP BY 1),
        |r AS (
        |  SELECT lag_us,
        |         ROW_NUMBER() OVER (ORDER BY lag_us, user_id) AS rn
        |  FROM lags),
        |nn AS (SELECT COUNT(*) AS n FROM lags),
        |d AS (SELECT unnest(range(1, 11)) AS decile)
        |SELECT d.decile, r.lag_us AS lag_us_at_decile, nn.n
        |FROM d CROSS JOIN nn
        |JOIN r ON r.rn = (d.decile * nn.n + 9) // 10
        |ORDER BY d.decile""".stripMargin,
    "ev_path_trigrams" ->
      """WITH t AS (
        |  SELECT event_type AS step1,
        |         LEAD(event_type, 1) OVER w AS step2,
        |         LEAD(event_type, 2) OVER w AS step3
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
        |SELECT step1, step2, step3, COUNT(*) AS n
        |FROM t WHERE step3 IS NOT NULL
        |GROUP BY 1, 2, 3
        |ORDER BY n DESC, step1, step2, step3 LIMIT 15""".stripMargin,
    "ev_changepoint" ->
      """WITH daily AS (
        |  SELECT event_type, CAST(ts AS DATE) AS day, COUNT(*) AS c
        |  FROM events GROUP BY 1, 2),
        |scored AS (
        |  SELECT event_type, day,
        |    CAST(ROW_NUMBER() OVER w AS BIGINT) AS k,
        |    SUM(c) OVER (w ROWS UNBOUNDED PRECEDING) AS cum,
        |    SUM(c) OVER (PARTITION BY event_type) AS total,
        |    COUNT(*) OVER (PARTITION BY event_type) AS n_days
        |  FROM daily
        |  WINDOW w AS (PARTITION BY event_type ORDER BY day)),
        |dev AS (
        |  SELECT event_type, day, n_days, total,
        |         abs(n_days * cum - k * total) AS abs_s
        |  FROM scored),
        |best AS (
        |  SELECT event_type, n_days, day AS changepoint_day,
        |         abs_s AS max_abs_dev, total AS n_events,
        |         ROW_NUMBER() OVER (PARTITION BY event_type
        |           ORDER BY abs_s DESC, day) AS rn
        |  FROM dev)
        |SELECT event_type, n_days, changepoint_day,
        |       CAST(max_abs_dev AS BIGINT) AS max_abs_dev,
        |       CAST(n_events AS BIGINT) AS n_events
        |FROM best WHERE rn = 1 ORDER BY event_type""".stripMargin,
    "ev_interval_union" ->
      """WITH ev AS (
        |  SELECT user_id, event_id, epoch_us(ts) AS st,
        |         epoch_us(ts) + 300000000 AS en
        |  FROM events),
        |marked AS (
        |  SELECT *,
        |    MAX(en) OVER (PARTITION BY user_id ORDER BY st, event_id
        |                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |      AS prev_max_en
        |  FROM ev),
        |flagged AS (
        |  SELECT *, CASE WHEN prev_max_en IS NULL OR st > prev_max_en
        |                 THEN 1::BIGINT ELSE 0::BIGINT END AS new_island
        |  FROM marked),
        |islanded AS (
        |  SELECT *, CAST(SUM(new_island) OVER (
        |    PARTITION BY user_id ORDER BY st, event_id
        |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS island
        |  FROM flagged),
        |islands AS (
        |  SELECT user_id, island, COUNT(*) AS n_ev,
        |         MIN(st) AS ist, MAX(en) AS ien
        |  FROM islanded GROUP BY 1, 2)
        |SELECT user_id, CAST(SUM(n_ev) AS BIGINT) AS n_events,
        |       COUNT(*) AS n_islands,
        |       CAST(SUM(ien - ist) AS BIGINT) AS covered_us
        |FROM islands GROUP BY user_id ORDER BY user_id""".stripMargin,
    "ev_abtest" ->
      """WITH conv AS (
        |  SELECT user_id,
        |         SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS n_purch
        |  FROM events GROUP BY user_id),
        |armed AS (
        |  SELECT CASE WHEN user_id % 2 = 0 THEN 'control' ELSE 'treatment' END AS arm,
        |         CASE WHEN n_purch >= 14 THEN 1 ELSE 0 END AS converted
        |  FROM conv),
        |arms AS (SELECT arm, COUNT(*) AS n, CAST(SUM(converted) AS BIGINT) AS x
        |         FROM armed GROUP BY arm),
        |c AS (SELECT n AS n_c, x AS x_c FROM arms WHERE arm = 'control'),
        |t AS (SELECT n AS n_t, x AS x_t FROM arms WHERE arm = 'treatment')
        |SELECT n_c, x_c, CAST(x_c AS DOUBLE) / n_c AS p_c,
        |       n_t, x_t, CAST(x_t AS DOUBLE) / n_t AS p_t,
        |       (CAST(x_t AS DOUBLE) / n_t - CAST(x_c AS DOUBLE) / n_c)
        |         / sqrt((CAST(x_c + x_t AS DOUBLE) / (n_c + n_t))
        |                * (CAST(1 AS DOUBLE) - CAST(x_c + x_t AS DOUBLE) / (n_c + n_t))
        |                * (CAST(1 AS DOUBLE) / n_c + CAST(1 AS DOUBLE) / n_t)) AS z_score
        |FROM c, t ORDER BY n_c""".stripMargin,
    "ev_attribution" ->
      """WITH t AS (
        |  SELECT user_id, ts, event_id, event_type,
        |    first_value(CASE WHEN event_type <> 'purchase' THEN event_type END
        |      IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS first_touch,
        |    last_value(CASE WHEN event_type <> 'purchase' THEN event_type END
        |      IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS last_touch
        |  FROM events)
        |SELECT COALESCE(first_touch, 'none') AS first_touch,
        |       COALESCE(last_touch, 'none') AS last_touch,
        |       COUNT(*) AS n_purchases
        |FROM t WHERE event_type = 'purchase'
        |GROUP BY 1, 2 ORDER BY first_touch, last_touch""".stripMargin,
    "ev_concurrency" ->
      """WITH iv AS (
        |  SELECT CAST(ts AS DATE) AS day, user_id,
        |         MIN(epoch_us(ts)) AS start_us, MAX(epoch_us(ts)) AS end_us
        |  FROM events GROUP BY 1, 2),
        |pts AS (
        |  SELECT day, start_us AS ts_us, CAST(1 AS BIGINT) AS delta FROM iv
        |  UNION ALL
        |  SELECT day, end_us + 1, CAST(-1 AS BIGINT) FROM iv),
        |c AS (
        |  SELECT day, SUM(delta) OVER (PARTITION BY day ORDER BY ts_us, delta
        |             ROWS UNBOUNDED PRECEDING) AS conc
        |  FROM pts)
        |SELECT day, COUNT(*) AS n_points,
        |       CAST(MAX(conc) AS BIGINT) AS max_concurrent
        |FROM c GROUP BY day ORDER BY day""".stripMargin,
    "ev_path_transitions" ->
      """WITH t AS (
        |  SELECT event_type AS from_type,
        |         lead(event_type, 1) OVER (PARTITION BY user_id
        |           ORDER BY ts, event_id) AS to_type
        |  FROM events),
        |m AS (
        |  SELECT from_type, to_type, COUNT(*) AS n
        |  FROM t WHERE to_type IS NOT NULL GROUP BY 1, 2)
        |SELECT from_type, to_type, n,
        |       CAST(n AS DOUBLE)
        |         / SUM(n) OVER (PARTITION BY from_type) AS share
        |FROM m ORDER BY from_type, to_type""".stripMargin,
    "ev_markov_stationary" -> {
      val S = "1000000000000"
      // Every iteration CTE references its predecessor THREE times (state
      // walk, dangling-mass subquery, inflow join). DuckDB inlines plain
      // CTEs, so without AS MATERIALIZED the 6-round chain re-evaluates
      // the base window 3^6 times (measured: 108 s / 14 GB at sf0.01 vs
      // ~0.2 s materialized — and the blow-up was the gate's only OOM).
      def it(prev: String, out: String): String =
        s"""$out AS MATERIALIZED (SELECT q.state, q.outsum, q.k,
           |  COALESCE(f.inflow, 0)
           |  + (SELECT COALESCE(SUM(p), 0) FROM $prev WHERE outsum = 0) // q.k AS p
           |FROM $prev q LEFT JOIN (
           |  SELECT m.to_type AS state,
           |         SUM((CAST(r.p AS HUGEINT) * m.n) // r.outsum) AS inflow
           |  FROM m JOIN $prev r ON m.from_type = r.state
           |  GROUP BY m.to_type) f USING (state))""".stripMargin
      s"""WITH t AS MATERIALIZED (
         |  SELECT event_type AS from_type,
         |         lead(event_type, 1) OVER (PARTITION BY user_id
         |           ORDER BY ts, event_id) AS to_type
         |  FROM events),
         |m AS MATERIALIZED (
         |  SELECT from_type, to_type, COUNT(*) AS n
         |  FROM t WHERE to_type IS NOT NULL GROUP BY 1, 2),
         |os AS (SELECT from_type AS state, CAST(SUM(n) AS BIGINT) AS outsum
         |       FROM m GROUP BY 1),
         |states AS (SELECT from_type AS state FROM m
         |           UNION SELECT to_type FROM m),
         |nd AS (SELECT st.state, COALESCE(os.outsum, 0) AS outsum,
         |              (SELECT COUNT(*) FROM states) AS k
         |       FROM states st LEFT JOIN os USING (state)),
         |r0 AS MATERIALIZED (SELECT state, outsum, k, $S // k AS p FROM nd),
         |${it("r0", "i1")},
         |${it("i1", "i2")},
         |${it("i2", "i3")},
         |${it("i3", "i4")},
         |${it("i4", "i5")},
         |${it("i5", "i6")}
         |SELECT state AS event_type, CAST(p AS BIGINT) AS stationary_scaled
         |FROM i6 ORDER BY stationary_scaled DESC, event_type""".stripMargin
    },
    "ev_anomaly" ->
      """WITH hourly AS (
        |  SELECT event_type, date_trunc('hour', ts) AS hour, COUNT(*) AS c
        |  FROM events GROUP BY 1, 2),
        |stats AS (
        |  SELECT event_type,
        |    CAST(SUM(c) AS DOUBLE) / COUNT(*) AS mean,
        |    sqrt(CAST(COUNT(*) * SUM(c * c) - SUM(c) * SUM(c) AS DOUBLE)
        |         / (COUNT(*) * (COUNT(*) - 1))) AS std
        |  FROM hourly GROUP BY event_type)
        |SELECT h.event_type, h.hour, h.c,
        |       (CAST(h.c AS DOUBLE) - s.mean) / s.std AS z,
        |       abs((CAST(h.c AS DOUBLE) - s.mean) / s.std) > 2.0 AS is_anomaly
        |FROM hourly h JOIN stats s USING (event_type)
        |ORDER BY h.event_type, h.hour""".stripMargin,
    "ev_tumbling" ->
      """SELECT date_trunc('hour', ts) AS hour_start, event_type,
        |       COUNT(*) AS n_events,
        |       CAST(SUM(CAST(value AS DECIMAL(30,4))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY 1, 2 ORDER BY hour_start, event_type""".stripMargin,
    "ev_sliding" ->
      """WITH expanded AS (
        |  SELECT CAST(to_timestamp(CAST(floor(epoch(ts)/1800) AS BIGINT)*1800) AS TIMESTAMP) AS win_start, value FROM events
        |  UNION ALL
        |  SELECT CAST(to_timestamp((CAST(floor(epoch(ts)/1800) AS BIGINT)-1)*1800) AS TIMESTAMP) AS win_start, value FROM events)
        |SELECT win_start, COUNT(*) AS n_events,
        |       CAST(SUM(CAST(value AS DECIMAL(30,4))) AS DOUBLE) AS sum_value
        |FROM expanded GROUP BY 1 ORDER BY win_start""".stripMargin,
    "ev_sessionize" ->
      """WITH marked AS (
        |  SELECT user_id, event_id, ts, value,
        |         CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
        |                OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800000000
        |              THEN 1::BIGINT ELSE 0::BIGINT END AS new_sess
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |sess AS (
        |  SELECT *, CAST(SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |                                     ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
        |  FROM marked)
        |SELECT user_id, session_id, COUNT(*) AS n_events,
        |       MIN(ts) AS session_start, MAX(ts) AS session_end,
        |       CAST(SUM(CAST(value AS DECIMAL(30,4))) AS DOUBLE) AS sum_value
        |FROM sess GROUP BY 1, 2 ORDER BY user_id, session_id""".stripMargin,
    "ev_session_dynamic" ->
      """WITH g AS (
        |  SELECT user_id, event_id, ts, value, event_type,
        |         epoch_us(ts) AS us,
        |         epoch_us(ts) + CASE WHEN event_type = 'click'
        |                             THEN 1200000000 ELSE 2400000000 END AS win_end
        |  FROM events),
        |marked AS (
        |  SELECT *,
        |         CASE WHEN MAX(win_end) OVER (
        |                PARTITION BY user_id ORDER BY ts, event_id
        |                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |              IS NULL
        |           OR us >= MAX(win_end) OVER (
        |                PARTITION BY user_id ORDER BY ts, event_id
        |                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |         THEN 1::BIGINT ELSE 0::BIGINT END AS new_sess
        |  FROM g),
        |sess AS (
        |  SELECT *, CAST(SUM(new_sess) OVER (
        |      PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
        |  FROM marked)
        |SELECT user_id, MIN(ts) AS session_start,
        |       COUNT(*) AS n_events,
        |       CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
        |            AS BIGINT) AS n_clicks,
        |       CAST(SUM(CAST(value AS DECIMAL(30,4))) AS DOUBLE) AS sum_value
        |FROM sess GROUP BY user_id, session_id
        |ORDER BY user_id, session_start""".stripMargin,
    "ev_session_window" ->
      """WITH marked AS (
        |  SELECT user_id, event_id, ts, value,
        |         -- session_window semantics: a new session starts when the
        |         -- gap is >= the timeout (the window is [start, last+gap))
        |         CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
        |                OR epoch_us(ts) - lag(epoch_us(ts)) OVER w >= 1800000000
        |              THEN 1::BIGINT ELSE 0::BIGINT END AS new_sess
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |sess AS (
        |  SELECT *, CAST(SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |                                     ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
        |  FROM marked)
        |SELECT user_id, MIN(ts) AS session_start, COUNT(*) AS n_events,
        |       CAST(SUM(CAST(value AS DECIMAL(30,4))) AS DOUBLE) AS sum_value
        |FROM sess GROUP BY user_id, session_id
        |ORDER BY user_id, session_start""".stripMargin,
    "ev_json_props" ->
      """SELECT event_type, COUNT(*) AS n_events,
        |       CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
        |       MIN(CAST(json_extract_string(props, '$.k') AS INT)) AS min_k,
        |       MAX(CAST(json_extract_string(props, '$.k') AS INT)) AS max_k,
        |       CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS DOUBLE) / COUNT(*) AS avg_k
        |FROM events GROUP BY 1 ORDER BY event_type""".stripMargin,
    "ev_funnel" ->
      """WITH t1 AS (
        |  SELECT user_id, MIN(ts) AS t1 FROM events
        |  WHERE event_type = 'view' GROUP BY 1),
        |t2 AS (
        |  SELECT e.user_id, MIN(e.ts) AS t2 FROM events e
        |  JOIN t1 ON e.user_id = t1.user_id
        |  WHERE e.event_type = 'click' AND e.ts > t1.t1 GROUP BY 1),
        |t3 AS (
        |  SELECT e.user_id, MIN(e.ts) AS t3 FROM events e
        |  JOIN t2 ON e.user_id = t2.user_id
        |  WHERE e.event_type = 'purchase' AND e.ts > t2.t2 GROUP BY 1)
        |SELECT stage, n_users FROM (
        |  SELECT '1_view' AS stage, CAST(COUNT(*) AS BIGINT) AS n_users FROM t1
        |  UNION ALL
        |  SELECT '2_click', CAST(COUNT(*) AS BIGINT) FROM t2
        |  UNION ALL
        |  SELECT '3_purchase', CAST(COUNT(*) AS BIGINT) FROM t3)
        |ORDER BY stage""".stripMargin,
    "ev_retention" ->
      """WITH cohort AS (
        |  SELECT user_id, CAST(MIN(ts) AS DATE) AS cohort_day FROM events
        |  WHERE event_type = 'signup' GROUP BY 1),
        |active AS (
        |  SELECT DISTINCT user_id, CAST(ts AS DATE) AS activity_day FROM events)
        |SELECT cohort_day,
        |       CAST(date_diff('day', cohort_day, activity_day) AS INT) AS day_offset,
        |       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_active
        |FROM active JOIN cohort USING (user_id)
        |WHERE date_diff('day', cohort_day, activity_day) >= 0
        |GROUP BY 1, 2 ORDER BY cohort_day, day_offset""".stripMargin
  )
}
