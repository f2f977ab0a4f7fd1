package graft.ops

import graft.{Det, Tables}
import graft.ext.ModeAgg
import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Star-schema assembly over the driver testdata — the oracle-verified
  * analog of the reference pipeline (SURVEY.md §7.2 M3): dimension builds
  * with deterministic surrogate keys and a row-preserving multi-left-join
  * fact assembly, exactly the fact_imm shape (etl.py:279-293).
  */
object PipelineOps {

  /** Dimension build: distinct natural keys + row_number surrogate ids
    * (dims are small — the global-order window is fine; fact-grain ids
    * use xxhash64, see [[graft.pipeline.StarSchema]]).
    */
  def dimBuild(s: SparkSession, d: String): DataFrame = {
    val o = Tables.orders(s, d)
    o.select(col("o_orderstatus"), col("o_orderpriority")).distinct()
      .withColumn("id_status_priority", row_number().over(
        Window.orderBy(col("o_orderstatus"), col("o_orderpriority"))).cast("long"))
      .orderBy(col("id_status_priority"))
  }

  /** Fact assembly: orders left-joined to three broadcast dims, output is
    * id columns only — row-preserving (|fact| == |orders|), nullable ids
    * impossible here by construction but the join type matches etl.py.
    */
  def factAssembly(s: SparkSession, d: String): DataFrame = {
    val o = Tables.orders(s, d)
    val dStatus = o.select(col("o_orderstatus")).distinct()
      .withColumn("id_status", row_number().over(
        Window.orderBy(col("o_orderstatus"))).cast("long"))
    val dPriority = o.select(col("o_orderpriority")).distinct()
      .withColumn("id_priority", row_number().over(
        Window.orderBy(col("o_orderpriority"))).cast("long"))
    val dDate = o.select(col("o_orderdate")).distinct()
      .withColumn("id_date", row_number().over(
        Window.orderBy(col("o_orderdate"))).cast("long"))
    o.join(broadcast(dStatus), Seq("o_orderstatus"), "left")
      .join(broadcast(dPriority), Seq("o_orderpriority"), "left")
      .join(broadcast(dDate), Seq("o_orderdate"), "left")
      .select(col("o_orderkey"), col("id_status"), col("id_priority"),
        col("id_date"), col("o_totalprice"))
      .orderBy(col("o_orderkey"))
  }

  /** Typed-Aggregator surface: exact mode (ties → smallest value) as ONE
    * mergeable aggregate instead of the reference's two-query argmax
    * (etl.py:181-207). The oracle expresses the same semantics with a
    * window — proving the Aggregator's single-shuffle form equivalent.
    */
  def modeAggregate(s: SparkSession, d: String): DataFrame = {
    val mode = udaf(ModeAgg, Encoders.STRING)
    Tables.customer(s, d)
      .groupBy(col("c_nationkey"))
      .agg(mode(col("c_mktsegment")).as("modal_segment"))
      .orderBy(col("c_nationkey"))
  }

  /** Deterministic stored/update split for the incremental-maintenance
    * family (SCD1 upsert, aggregate merge) — query and oracle interpolate
    * the SAME constants, the [[graft.ext.Dedup.SEEN_MOD]] pattern.
    */
  private val DIM_SEEN_MOD = 10 // stored dim = custkey % 10 != 0
  private val DIM_UPD_MOD = 3   // update batch = custkey % 3 == 0

  /** SCD type-1 dimension upsert: yesterday's stored dim + today's update
    * batch → merged dim, updates win, unmatched updates insert. The plan
    * is anti-join + union (NO window, no full-dim rewrite of matched
    * rows' order): at 100 TB the stored dim streams through one hash
    * anti-join against the (typically broadcastable) update batch —
    * cost scales with the batch, the classic nightly-dim shape.
    */
  def dimUpsert(s: SparkSession, d: String): DataFrame = {
    val c = Tables.customer(s, d)
      .select(col("c_custkey"), col("c_name"), col("c_mktsegment"), col("c_acctbal"))
    val stored = c.filter(col("c_custkey") % DIM_SEEN_MOD =!= 0)
    // simulated attribute drift: segment re-bucketed, balance adjusted
    val updates = c.filter(col("c_custkey") % DIM_UPD_MOD === 0)
      .withColumn("c_mktsegment", concat(lit("U:"), col("c_mktsegment")))
      .withColumn("c_acctbal", col("c_acctbal") + 100.0)
    updates
      .unionByName(stored.join(updates.select(col("c_custkey")), Seq("c_custkey"), "left_anti"))
      .orderBy(col("c_custkey"))
  }

  /** SCD type-2 historization: compress a change log (one status per
    * (customer, order date), earliest order wins) into validity intervals
    * — keep rows where the status CHANGED vs the previous interval, then
    * valid_to = next interval's valid_from (NULL = current). Everything is
    * per-customer windows over (date, key)-unique rows: one shuffle on
    * the customer key, deterministic at any parallelism.
    */
  def scd2Historize(s: SparkSession, d: String): DataFrame = {
    val byKeyTs = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
    val byKeyFrom = Window.partitionBy(col("o_custkey")).orderBy(col("valid_from"))
    val log = Tables.orders(s, d)
      .select(col("o_custkey"), col("o_orderdate"), col("o_orderstatus"), col("o_orderkey"))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("o_custkey"), col("o_orderdate"))
          .orderBy(col("o_orderkey"))))
      .filter(col("rn") === 1) // one change record per (customer, date)
    log
      .withColumn("prev_status", lag(col("o_orderstatus"), 1).over(byKeyTs))
      .filter(col("prev_status").isNull
        || col("prev_status") =!= col("o_orderstatus"))
      .select(col("o_custkey"), col("o_orderstatus"),
        col("o_orderdate").as("valid_from"))
      .withColumn("valid_to", lead(col("valid_from"), 1).over(byKeyFrom))
      .withColumn("is_current", col("valid_to").isNull)
      .orderBy(col("o_custkey"), col("valid_from"))
  }

  /** Point-in-time (time-travel) lookup over the [[scd2Historize]]
    * dimension — the query SCD2 exists to answer: "what state was every
    * customer in AS OF date T", for three probe dates. Interval
    * containment on the half-open [valid_from, valid_to) ranges is
    * non-overlapping by construction (each valid_to IS the next
    * valid_from), so exactly one interval matches per (customer, date)
    * with the customer's history started by then. The 3-row date frame
    * broadcasts; each SCD row tests 3 containments — at 100 TB this is a
    * map-side enrich over the historized dimension, never a range
    * shuffle. A fact-driven as-of (per-row event dates) is the
    * `ev_asof_join` shape; this is its dimension-snapshot twin.
    */
  def scdAsof(s: SparkSession, d: String): DataFrame = {
    val scd = scd2Historize(s, d)
    val dates = s.range(0, 3).select(
      expr("to_timestamp(element_at(array('1996-03-01', '1998-06-01', '2000-09-01'), CAST(id + 1 AS INT)))")
        .as("as_of"))
    scd.join(broadcast(dates),
        col("valid_from") <= col("as_of")
          && (col("valid_to").isNull || col("valid_to") > col("as_of")))
      .select(col("as_of"), col("o_custkey"),
        col("o_orderstatus").as("status_asof"), col("valid_from"),
        col("is_current"))
      .orderBy(col("as_of"), col("o_custkey"))
  }

  /** Incremental aggregate maintenance: a stored partial-aggregate table
    * (count + EXACT decimal sum per key, built from the seen rows) merged
    * with the new batch's partials — never rescanning the seen rows — must
    * equal a from-scratch aggregate over everything. This is the algebra
    * that makes aggregates maintainable at 100 TB: keep sums in decimal
    * (associative, order-independent) and only cast to double at read
    * time. The oracle IS the from-scratch form.
    */
  def aggMerge(s: SparkSession, d: String): DataFrame = {
    def partials(df: DataFrame): DataFrame =
      df.groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n_rows"),
          sum(col("l_quantity").cast("decimal(18,4)")).as("sum_qty_dec"))
    val li = Tables.lineitem(s, d)
    val stored = partials(li.filter(col("l_orderkey") % 7 =!= 0))
    val batch = partials(li.filter(col("l_orderkey") % 7 === 0))
    stored.unionByName(batch)
      .groupBy(col("l_returnflag"))
      .agg(sum(col("n_rows")).as("n_rows"),
        sum(col("sum_qty_dec")).cast("double").as("sum_qty"))
      .orderBy(col("l_returnflag"))
  }

  /** Changelog compaction (CDC "latest snapshot"): the newest record per
    * (user, event_type) key by event time, event_id as the total-order
    * tie-break — the read-side collapse of an upsert stream. One shuffle
    * on the key, and Spark's WindowGroupLimit pushes the rn=1 filter into
    * a partial top-1 before the exchange, so the shuffle carries ~one row
    * per key per map partition, not the full log.
    */
  def cdcLatest(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"), col("event_type"))
      .orderBy(col("ts").desc, col("event_id").desc)
    Tables.events(s, d)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("user_id"), col("event_type"), col("event_id"),
        col("ts"), col("value"))
      .orderBy(col("user_id"), col("event_type"))
  }

  /** GRPO-style group advantage computation — the RL-from-group-scores
    * sibling of `pipe_dpo_pairs`/`pipe_loss_masking` in the
    * training-data assembly family. Prompts are users, their purchase
    * events are the sampled response group (capped at G=8 earliest —
    * [[graft.plans.TopKPerKey]]'s rewrite keeps that cap below the
    * exchange), reward is the event value. Per group: advantage =
    * (reward − mean) / std over the group, the GRPO baseline — computed
    * from EXACT decimal power sums (the x_zscore recipe) so both engines
    * run the same IEEE ops on the same operand bits and every advantage
    * hash-verifies. Degenerate groups are gated like a trainer would:
    * fewer than 4 responses or zero variance → dropped.
    *
    * At 100 TB: one windowed cap + one keyed aggregation (map-side
    * partial on the power sums) + one keyed join back; the stats frame
    * is one row per prompt and GROWS with the corpus, so no forced
    * broadcast — AQE picks the join strategy (the funnel precedent).
    */
  def grpoGroups(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d).filter(col("event_type") === "purchase")
      .select(col("user_id").as("prompt_id"),
        col("event_id").as("response_id"), col("value").as("reward"))
    val cap = Window.partitionBy(col("prompt_id")).orderBy(col("response_id"))
    val grp = ev.withColumn("rn", row_number().over(cap))
      .filter(col("rn") <= 8).drop("rn")
    val rd = expr("CAST(reward AS DECIMAL(19,4))")
    val stats = grp.groupBy(col("prompt_id"))
      .agg(count(lit(1)).as("g"),
        sum(rd).cast("double").as("s_r"),
        sum(rd * rd).cast("double").as("s_rr"))
      .filter(col("g") >= 4)
      .withColumn("mean_r", col("s_r") / col("g"))
      .withColumn("std_r",
        sqrt((col("s_rr") - col("s_r") * col("s_r") / col("g"))
          / (col("g") - 1)))
      .filter(col("std_r") > 0)
      .select(col("prompt_id"), col("mean_r"), col("std_r"))
    val rk = Window.partitionBy(col("prompt_id"))
      .orderBy(desc("reward"), col("response_id"))
    grp.join(stats, Seq("prompt_id"))
      .withColumn("advantage", (col("reward") - col("mean_r")) / col("std_r"))
      .withColumn("grp_rank", row_number().over(rk))
      .select(col("prompt_id"), col("response_id"), col("reward"),
        col("advantage"), col("grp_rank"))
      .orderBy(col("prompt_id"), col("response_id"))
  }

  /** Seeded multi-epoch training shuffle: epoch e's data order is the
    * rank of a cross-engine hash of (epoch-salt, doc_id) — fully
    * deterministic and REPRODUCIBLE (the property a training run needs:
    * re-running epoch 2 yields byte-identical batch order), yet
    * decorrelated across epochs because the salt changes the hash
    * family. Emitted here: the first 20 positions of each epoch's
    * permutation, which pins the whole order (any prefix divergence
    * would shift some rank). At 100 TB: the permutation is realized by
    * `repartitionByRange(hash)` + `sortWithinPartitions` — one range
    * shuffle per epoch, no global sort on the driver; the top-20-per-
    * epoch form here rewrites to WindowGroupLimit below the exchange
    * ([[graft.plans.TopKPerKey]]).
    */
  def epochShuffle(s: SparkSession, d: String): DataFrame = {
    import graft.ext.Hashing.sparkHash
    val docs = Tables.documents(s, d).select(col("doc_id"))
    val epochs = (1 to 3).map { e =>
      docs.withColumn("epoch", lit(e)).withColumn("h",
        expr(sparkHash(s"concat('ep$e:', CAST(doc_id AS STRING))")))
    }.reduce(_ unionByName _)
    val w = Window.partitionBy(col("epoch")).orderBy(col("h"), col("doc_id"))
    epochs.withColumn("position", row_number().over(w))
      .filter(col("position") <= 20)
      .select(col("epoch"), col("position"), col("doc_id"))
      .orderBy(col("epoch"), col("position"))
  }

  /** Incremental materialized-view maintenance under an insert/retract
    * changelog (the Flink/Materialize model; DBSP's signed Z-set fold):
    * the view `(event_type, day) → (n_events, rev_micro)` is maintained
    * as old-state ⊎ signed-delta partials — the base is NEVER rescanned.
    * The base/delta split and retraction signs are deterministic id
    * arithmetic (base = id%5≠0; delta sign −1 when id%3=0 else +1) so
    * the whole refresh replays; groups whose net count reaches ≤0 drop
    * out, exactly as a changelog consumer GCs them. Revenue folds in
    * exact 10⁻⁴ micro-unit BIGINTs (the EventOps fixed-point
    * discipline), so incremental and recompute agree bit-for-bit.
    *
    * Verified the STRONG way: the oracle is the full recompute over
    * base+deltas — equality is the algebraic proof that the fold
    * maintains the view. Scale: refresh cost is O(|delta| + |groups|)
    * (delta fold map-side combines to group grain; the merge is a full
    * outer join of two state frames on the group key), never O(|base|)
    * — which is the entire point of IMV at 100 TB.
    */
  def imvMaintain(s: SparkSession, d: String): DataFrame = {
    val vm = Det.micros(col("value"))
    val ev = Tables.events(s, d)
      .select(col("event_id"), col("event_type"),
        to_date(col("ts")).as("day"), vm.as("vm"))
    val mv0 = ev.filter(col("event_id") % 5 =!= 0)
      .groupBy(col("event_type"), col("day"))
      .agg(count(lit(1)).as("n0"), sum(col("vm")).as("r0"))
    val dpart = ev.filter(col("event_id") % 5 === 0)
      .withColumn("sign", when(col("event_id") % 3 === 0, -1L).otherwise(1L))
      .groupBy(col("event_type"), col("day"))
      .agg(sum(col("sign")).as("dn"), sum(col("sign") * col("vm")).as("dr"))
    mv0.join(dpart, Seq("event_type", "day"), "full_outer")
      .withColumn("n_events",
        coalesce(col("n0"), lit(0L)) + coalesce(col("dn"), lit(0L)))
      .withColumn("rev_micro",
        coalesce(col("r0"), lit(0L)) + coalesce(col("dr"), lit(0L)))
      .filter(col("n_events") > 0)
      .select(col("event_type"), col("day"), col("n_events"), col("rev_micro"))
      .orderBy(col("event_type"), col("day"))
  }

  /** DEAD-LETTER routing on semi-structured ingestion — the robustness
    * pattern every production loader carries: rows whose JSON payload
    * fails to parse are ROUTED to a quarantine output instead of
    * failing the job or silently dropping (at 100 TB one corrupt
    * upstream shard must cost a DLQ partition, not the pipeline).
    * Corruption is injected deterministically (id%13 → mangled prefix)
    * so both engines see the identical bad set; the report pins each
    * route's row count, id range and parsed-payload mass — the
    * invariant `ok + dlq = input` is visible in the output itself.
    * One scan, group-by-route rollup; parse errors never throw (null
    * routing, the try_* discipline of x_try_funcs).
    */
  def dlqRouting(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .withColumn("raw", expr(
        "CASE WHEN event_id % 13 = 0 THEN concat('!', props) ELSE props END"))
      .withColumn("kstr", get_json_object(col("raw"), "$.k"))
      .withColumn("route", when(col("kstr").isNotNull, "ok").otherwise("dlq"))
      .withColumn("k", coalesce(col("kstr").cast("long"), lit(0L)))
      .groupBy(col("route"))
      .agg(count(lit(1)).as("n_rows"),
        min(col("event_id")).as("min_id"),
        max(col("event_id")).as("max_id"),
        sum(col("k")).as("sum_k"))
      .orderBy(col("route"))

  /** FILL-IN-THE-MIDDLE TRANSFORM (Bavarian et al., the code-model
    * pretraining staple): a hash-gated half of the corpus is rewritten
    * as sentinel-delimited (prefix, suffix, middle) permutations — PSM
    * or SPM order, itself hash-chosen — with the two cut points drawn
    * from independent 60-bit hashes of the doc id, so the "random"
    * augmentation is REPLAYABLE: the same doc always cuts at the same
    * points in any run, any engine (the no-rand() discipline every
    * pipe_* operator carries). Cuts guarantee non-empty prefix, middle,
    * and suffix. The verified surface is the full decision (mode, cut
    * points, word count) plus the md5 and length of the transformed
    * text — the oracle rebuilds the exact output string.
    *
    * At 100 TB: pure per-row projection inside codegen; nothing
    * shuffles but the verify-gate sort.
    */
  def fimTransform(s: SparkSession, d: String): DataFrame = {
    import graft.ext.Hashing.sparkHash
    val h0 = sparkHash("concat(CAST(doc_id AS STRING), ':fim0')")
    val h1 = sparkHash("concat(CAST(doc_id AS STRING), ':fim1')")
    val h2 = sparkHash("concat(CAST(doc_id AS STRING), ':fim2')")
    Tables.documents(s, d)
      .filter(length(col("text")) > 0)
      .select(col("doc_id"), split(col("text"), " ").as("ws"))
      .withColumn("n_words", expr("CAST(size(ws) AS BIGINT)"))
      .withColumn("mode", expr(
        s"CASE WHEN n_words < 4 OR $h0 % 2 = 1 THEN 'none' " +
          s"WHEN $h0 % 4 = 0 THEN 'spm' ELSE 'psm' END"))
      .withColumn("cut_i", expr(
        s"CASE WHEN mode = 'none' THEN 0L ELSE 1 + $h1 % (n_words - 2) END"))
      .withColumn("cut_j", expr(
        s"CASE WHEN mode = 'none' THEN 0L " +
          s"ELSE cut_i + 1 + $h2 % (n_words - cut_i - 1) END"))
      .withColumn("out", expr(
        """CASE WHEN mode = 'none' THEN concat_ws(' ', ws)
          |WHEN mode = 'psm' THEN
          |  concat('<fim_prefix>', concat_ws(' ', slice(ws, 1, CAST(cut_i AS INT))),
          |    '<fim_suffix>', concat_ws(' ', slice(ws, CAST(cut_j + 1 AS INT), CAST(n_words - cut_j AS INT))),
          |    '<fim_middle>', concat_ws(' ', slice(ws, CAST(cut_i + 1 AS INT), CAST(cut_j - cut_i AS INT))))
          |ELSE
          |  concat('<fim_suffix>', concat_ws(' ', slice(ws, CAST(cut_j + 1 AS INT), CAST(n_words - cut_j AS INT))),
          |    '<fim_prefix>', concat_ws(' ', slice(ws, 1, CAST(cut_i AS INT))),
          |    '<fim_middle>', concat_ws(' ', slice(ws, CAST(cut_i + 1 AS INT), CAST(cut_j - cut_i AS INT))))
          |END""".stripMargin))
      .select(col("doc_id"), col("mode"), col("n_words"),
        col("cut_i"), col("cut_j"),
        md5(col("out")).as("out_digest"),
        length(col("out")).as("len_out"))
      .orderBy(col("doc_id"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "pipe_fim_transform" -> fimTransform,
    "pipe_dlq" -> dlqRouting,
    "pipe_imv" -> imvMaintain,
    "pipe_epoch_shuffle" -> epochShuffle,
    "pipe_grpo_groups" -> grpoGroups,
    "pipe_cdc_latest" -> cdcLatest,
    "pipe_dim_build" -> dimBuild,
    "pipe_fact_assembly" -> factAssembly,
    "pipe_dim_upsert" -> dimUpsert,
    "pipe_scd2" -> scd2Historize,
    "pipe_scd_asof" -> scdAsof,
    "pipe_agg_merge" -> aggMerge,
    "x_mode_agg" -> modeAggregate
  )

  val oracle: Map[String, String] = Map(
    "pipe_fim_transform" -> {
      import graft.ext.Hashing.duckHash
      val h0 = duckHash("CAST(doc_id AS VARCHAR) || ':fim0'")
      val h1 = duckHash("CAST(doc_id AS VARCHAR) || ':fim1'")
      val h2 = duckHash("CAST(doc_id AS VARCHAR) || ':fim2'")
      s"""WITH w AS (
         |  SELECT doc_id, string_split(text, ' ') AS ws,
         |         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words
         |  FROM documents WHERE length(text) > 0),
         |m AS (
         |  SELECT doc_id, ws, n_words,
         |    CASE WHEN n_words < 4 OR $h0 % 2 = 1 THEN 'none'
         |         WHEN $h0 % 4 = 0 THEN 'spm' ELSE 'psm' END AS mode
         |  FROM w),
         |c AS (
         |  SELECT *, CASE WHEN mode = 'none' THEN CAST(0 AS BIGINT)
         |                 ELSE 1 + $h1 % (n_words - 2) END AS cut_i
         |  FROM m),
         |c2 AS (
         |  SELECT *, CASE WHEN mode = 'none' THEN CAST(0 AS BIGINT)
         |                 ELSE cut_i + 1 + $h2 % (n_words - cut_i - 1) END
         |              AS cut_j
         |  FROM c),
         |o AS (
         |  SELECT doc_id, mode, n_words, cut_i, cut_j,
         |    CASE WHEN mode = 'none' THEN array_to_string(ws, ' ')
         |         WHEN mode = 'psm' THEN
         |           '<fim_prefix>'
         |           || array_to_string(ws[1:CAST(cut_i AS INT)], ' ')
         |           || '<fim_suffix>'
         |           || array_to_string(ws[CAST(cut_j + 1 AS INT):CAST(n_words AS INT)], ' ')
         |           || '<fim_middle>'
         |           || array_to_string(ws[CAST(cut_i + 1 AS INT):CAST(cut_j AS INT)], ' ')
         |         ELSE
         |           '<fim_suffix>'
         |           || array_to_string(ws[CAST(cut_j + 1 AS INT):CAST(n_words AS INT)], ' ')
         |           || '<fim_prefix>'
         |           || array_to_string(ws[1:CAST(cut_i AS INT)], ' ')
         |           || '<fim_middle>'
         |           || array_to_string(ws[CAST(cut_i + 1 AS INT):CAST(cut_j AS INT)], ' ')
         |    END AS out
         |  FROM c2)
         |SELECT doc_id, mode, n_words, cut_i, cut_j,
         |       md5(out) AS out_digest, CAST(length(out) AS INT) AS len_out
         |FROM o ORDER BY doc_id""".stripMargin
    },
    "pipe_dlq" ->
      """WITH c AS (
        |  SELECT event_id,
        |         CASE WHEN event_id % 13 = 0 THEN '!' || props
        |              ELSE props END AS raw
        |  FROM events),
        |r AS (
        |  SELECT event_id,
        |         CASE WHEN json_valid(raw) THEN 'ok' ELSE 'dlq' END AS route,
        |         CASE WHEN json_valid(raw)
        |              THEN CAST(json_extract_string(raw, '$.k') AS BIGINT)
        |              ELSE 0 END AS k
        |  FROM c)
        |SELECT route, CAST(COUNT(*) AS BIGINT) AS n_rows,
        |       CAST(MIN(event_id) AS BIGINT) AS min_id,
        |       CAST(MAX(event_id) AS BIGINT) AS max_id,
        |       CAST(SUM(k) AS BIGINT) AS sum_k
        |FROM r GROUP BY route ORDER BY route""".stripMargin,
    // full recompute — equality proves the incremental fold maintains
    // the view
    "pipe_imv" ->
      """WITH ev AS (
        |  SELECT event_type, CAST(ts AS DATE) AS day,
        |         CASE WHEN event_id % 5 <> 0 THEN 1
        |              WHEN event_id % 3 = 0 THEN -1 ELSE 1 END AS sgn,
        |         CAST(CAST(CAST(value AS DECIMAL(18,4)) * 10000
        |              AS DECIMAL(19,0)) AS BIGINT) AS vm
        |  FROM events)
        |SELECT event_type, day,
        |       CAST(SUM(sgn) AS BIGINT) AS n_events,
        |       CAST(SUM(sgn * vm) AS BIGINT) AS rev_micro
        |FROM ev GROUP BY 1, 2 HAVING SUM(sgn) > 0
        |ORDER BY event_type, day""".stripMargin,
    "pipe_epoch_shuffle" ->
      """WITH eps AS (SELECT e FROM (VALUES (1), (2), (3)) v(e)),
        |hs AS (
        |  SELECT e AS epoch, doc_id,
        |         CAST('0x' || substr(md5('ep' || e || ':' || CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT) AS h
        |  FROM documents CROSS JOIN eps)
        |SELECT epoch,
        |       CAST(ROW_NUMBER() OVER (PARTITION BY epoch
        |         ORDER BY h, doc_id) AS INT) AS position,
        |       doc_id
        |FROM hs QUALIFY position <= 20
        |ORDER BY epoch, position""".stripMargin,
    "pipe_grpo_groups" ->
      """WITH grp AS (
        |  SELECT user_id AS prompt_id, event_id AS response_id, value AS reward,
        |         ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY event_id) AS rn
        |  FROM events WHERE event_type = 'purchase'
        |  QUALIFY rn <= 8),
        |stats AS (
        |  SELECT prompt_id, COUNT(*) AS g,
        |         CAST(SUM(CAST(reward AS DECIMAL(19,4))) AS DOUBLE) AS s_r,
        |         CAST(SUM(CAST(reward AS DECIMAL(19,4))
        |                  * CAST(reward AS DECIMAL(19,4))) AS DOUBLE) AS s_rr
        |  FROM grp GROUP BY prompt_id HAVING COUNT(*) >= 4),
        |st2 AS (
        |  SELECT prompt_id, g, s_r / g AS mean_r,
        |         sqrt((s_rr - s_r * s_r / g) / (g - 1)) AS std_r
        |  FROM stats)
        |SELECT g.prompt_id, g.response_id, g.reward,
        |       (g.reward - mean_r) / std_r AS advantage,
        |       CAST(ROW_NUMBER() OVER (PARTITION BY g.prompt_id
        |              ORDER BY g.reward DESC, g.response_id) AS INT) AS grp_rank
        |FROM grp g JOIN st2 USING (prompt_id) WHERE std_r > 0
        |ORDER BY prompt_id, response_id""".stripMargin,
    "pipe_cdc_latest" ->
      """SELECT user_id, event_type, event_id, ts, value
        |FROM events
        |QUALIFY ROW_NUMBER() OVER (PARTITION BY user_id, event_type
        |                           ORDER BY ts DESC, event_id DESC) = 1
        |ORDER BY user_id, event_type""".stripMargin,
    "pipe_dim_build" ->
      """SELECT o_orderstatus, o_orderpriority,
        |       CAST(ROW_NUMBER() OVER (ORDER BY o_orderstatus, o_orderpriority) AS BIGINT) AS id_status_priority
        |FROM (SELECT DISTINCT o_orderstatus, o_orderpriority FROM orders)
        |ORDER BY id_status_priority""".stripMargin,
    "pipe_fact_assembly" ->
      """WITH d_status AS (
        |  SELECT o_orderstatus, CAST(ROW_NUMBER() OVER (ORDER BY o_orderstatus) AS BIGINT) AS id_status
        |  FROM (SELECT DISTINCT o_orderstatus FROM orders)),
        |d_priority AS (
        |  SELECT o_orderpriority, CAST(ROW_NUMBER() OVER (ORDER BY o_orderpriority) AS BIGINT) AS id_priority
        |  FROM (SELECT DISTINCT o_orderpriority FROM orders)),
        |d_date AS (
        |  SELECT o_orderdate, CAST(ROW_NUMBER() OVER (ORDER BY o_orderdate) AS BIGINT) AS id_date
        |  FROM (SELECT DISTINCT o_orderdate FROM orders))
        |SELECT o_orderkey, id_status, id_priority, id_date, o_totalprice
        |FROM orders
        |LEFT JOIN d_status USING (o_orderstatus)
        |LEFT JOIN d_priority USING (o_orderpriority)
        |LEFT JOIN d_date USING (o_orderdate)
        |ORDER BY o_orderkey""".stripMargin,
    "pipe_dim_upsert" ->
      s"""WITH c AS (
         |  SELECT c_custkey, c_name, c_mktsegment, c_acctbal FROM customer),
         |stored AS (SELECT * FROM c WHERE c_custkey % $DIM_SEEN_MOD <> 0),
         |upd AS (
         |  SELECT c_custkey, c_name, concat('U:', c_mktsegment) AS c_mktsegment,
         |         c_acctbal + 100.0 AS c_acctbal
         |  FROM c WHERE c_custkey % $DIM_UPD_MOD = 0)
         |SELECT * FROM upd
         |UNION ALL
         |SELECT * FROM stored s
         |WHERE NOT EXISTS (SELECT 1 FROM upd u WHERE u.c_custkey = s.c_custkey)
         |ORDER BY c_custkey""".stripMargin,
    "pipe_scd_asof" ->
      """WITH log AS (
        |  SELECT o_custkey, o_orderdate, o_orderstatus FROM (
        |    SELECT o_custkey, o_orderdate, o_orderstatus,
        |           ROW_NUMBER() OVER (PARTITION BY o_custkey, o_orderdate
        |                              ORDER BY o_orderkey) AS rn
        |    FROM orders) WHERE rn = 1),
        |changed AS (
        |  SELECT o_custkey, o_orderstatus, o_orderdate AS valid_from FROM (
        |    SELECT *, lag(o_orderstatus) OVER (PARTITION BY o_custkey
        |                                       ORDER BY o_orderdate) AS prev_status
        |    FROM log)
        |  WHERE prev_status IS NULL OR prev_status <> o_orderstatus),
        |scd AS (
        |  SELECT o_custkey, o_orderstatus, valid_from,
        |         lead(valid_from) OVER (PARTITION BY o_custkey
        |                                ORDER BY valid_from) AS valid_to
        |  FROM changed),
        |dates AS (
        |  SELECT unnest([TIMESTAMP '1996-03-01', TIMESTAMP '1998-06-01',
        |                 TIMESTAMP '2000-09-01']) AS as_of)
        |SELECT d.as_of, s.o_custkey, s.o_orderstatus AS status_asof,
        |       s.valid_from, s.valid_to IS NULL AS is_current
        |FROM scd s JOIN dates d
        |  ON s.valid_from <= d.as_of
        | AND (s.valid_to IS NULL OR s.valid_to > d.as_of)
        |ORDER BY d.as_of, s.o_custkey""".stripMargin,
    "pipe_scd2" ->
      """WITH log AS (
        |  SELECT o_custkey, o_orderdate, o_orderstatus FROM (
        |    SELECT o_custkey, o_orderdate, o_orderstatus,
        |           ROW_NUMBER() OVER (PARTITION BY o_custkey, o_orderdate
        |                              ORDER BY o_orderkey) AS rn
        |    FROM orders) WHERE rn = 1),
        |changed AS (
        |  SELECT o_custkey, o_orderstatus, o_orderdate AS valid_from FROM (
        |    SELECT *, lag(o_orderstatus) OVER (PARTITION BY o_custkey
        |                                       ORDER BY o_orderdate) AS prev_status
        |    FROM log)
        |  WHERE prev_status IS NULL OR prev_status <> o_orderstatus)
        |SELECT o_custkey, o_orderstatus, valid_from,
        |       lead(valid_from) OVER (PARTITION BY o_custkey ORDER BY valid_from) AS valid_to,
        |       lead(valid_from) OVER (PARTITION BY o_custkey ORDER BY valid_from) IS NULL AS is_current
        |FROM changed
        |ORDER BY o_custkey, valid_from""".stripMargin,
    "pipe_agg_merge" ->
      """SELECT l_returnflag, COUNT(*) AS n_rows,
        |       CAST(SUM(CAST(l_quantity AS DECIMAL(30,4))) AS DOUBLE) AS sum_qty
        |FROM lineitem GROUP BY 1 ORDER BY l_returnflag""".stripMargin,
    "x_mode_agg" ->
      """WITH counts AS (
        |  SELECT c_nationkey, c_mktsegment, COUNT(*) AS num
        |  FROM customer GROUP BY 1, 2),
        |ranked AS (
        |  SELECT c_nationkey, c_mktsegment,
        |         ROW_NUMBER() OVER (PARTITION BY c_nationkey
        |                            ORDER BY num DESC, c_mktsegment) AS rn
        |  FROM counts)
        |SELECT c_nationkey, c_mktsegment AS modal_segment
        |FROM ranked WHERE rn = 1 ORDER BY c_nationkey""".stripMargin
  )
}
