package graft.ops

import graft.{Det, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Data-quality constraint checking as a first-class operator — the
  * Deequ-style generalization of the reference's hand-rolled QC gates
  * (count != 0 checks, `etl.py`'s quality_check step): a declarative
  * suite of constraints evaluated in ONE pass over the table, emitting a
  * (check_name, metric, passed) report row per constraint.
  *
  * Scale design: all single-table constraints (completeness, domain,
  * range, size, uniqueness) fold into one partial-aggregated scan — at
  * 100 TB the suite costs exactly one pass regardless of how many
  * constraints it carries, vs one job per check for naive QC. The
  * referential-integrity check is the only second scan (distinct keys +
  * left-anti join against the parent's key column — both sides shuffle
  * narrow 8-byte keys, and the distinct pre-aggregates map-side). The
  * count-distinct uniqueness metric is exact here; swap in
  * approx_count_distinct at scales where a 2% error band is acceptable.
  */
object QcOps {

  def constraintSuite(s: SparkSession, d: String): DataFrame =
    suiteOf(Tables.lineitem(s, d), Tables.orders(s, d))

  /** The suite body, parameterized on its input frames so the SAME
    * constraint definitions can run against any snapshot of the tables —
    * the full load ([[constraintSuite]]) or a carved previous-epoch slice
    * ([[metricDrift]]). One declarative definition, N epochs.
    */
  private def suiteOf(li: DataFrame, ord: DataFrame): DataFrame = {
    val metrics = li.agg(
      count(lit(1)).as("n_rows"),
      count(col("l_orderkey")).as("nn_ok"),
      count(col("l_shipdate")).as("nn_sd"),
      // countDistinct skips tuples with ANY null key (SQL COUNT DISTINCT
      // semantics — the oracle filters nulls explicitly to match); null
      // keys themselves are the completeness checks' job, not this one's
      countDistinct(col("l_orderkey"), col("l_linenumber")).as("n_pk"),
      min(col("l_quantity")).cast("double").as("min_qty"),
      max(col("l_quantity")).cast("double").as("max_qty"),
      sum(when(col("l_returnflag").isin("A", "N", "R"), 1L).otherwise(0L))
        .as("n_flag_ok"),
      sum(when(col("l_extendedprice") >= 0, 1L).otherwise(0L)).as("n_price_ok"))
    val orphans = li.select(col("l_orderkey")).distinct()
      .join(ord.select(col("o_orderkey")),
        col("l_orderkey") === col("o_orderkey"), "left_anti")
      .agg(count(lit(1)).as("n_orphan"))
    metrics.crossJoin(orphans).selectExpr(
      """stack(9,
        |  'completeness_l_orderkey', CAST(nn_ok AS DOUBLE) / n_rows, nn_ok = n_rows,
        |  'completeness_l_shipdate', CAST(nn_sd AS DOUBLE) / n_rows, nn_sd = n_rows,
        |  'domain_returnflag', CAST(n_flag_ok AS DOUBLE) / n_rows, n_flag_ok = n_rows,
        |  'nonneg_extendedprice', CAST(n_price_ok AS DOUBLE) / n_rows, n_price_ok = n_rows,
        |  'pk_unique_orderkey_linenumber', CAST(n_pk AS DOUBLE) / n_rows, n_pk = n_rows,
        |  'range_max_quantity_le_50', max_qty, max_qty <= 50.0D,
        |  'range_min_quantity_ge_1', min_qty, min_qty >= 1.0D,
        |  'ri_orderkey_in_orders', CAST(n_orphan AS DOUBLE), n_orphan = 0,
        |  'size_ge_1000', CAST(n_rows AS DOUBLE), n_rows >= 1000
        |) AS (check_name, metric, passed)""".stripMargin)
      .orderBy(col("check_name"))
  }

  /** Reference-parity RAISE mode — the suite as a pipeline GATE, not just
    * a report. The reference's QC step throws on violation
    * (`etl.py:80-86` checkNumberOfRows raises ValueError on a count
    * mismatch) so a bad load stops the run; this is the same contract for
    * the whole declarative suite: evaluate [[constraintSuite]]'s report
    * (one scan + the RI anti-join, driver sees only #constraints rows)
    * and throw listing every failed check. Returns the report frame when
    * everything passes so a pipeline can both gate on and persist it.
    */
  def enforce(report: DataFrame): DataFrame = {
    // `passed IS NOT TRUE`, not `!passed`: on a degenerate load the
    // range-check comparisons go NULL (min/max of zero rows), and a
    // null-passed constraint must still gate. Metric read is null-safe
    // for the same reason (NaN completeness ratios format fine).
    val failed = report.filter(not(coalesce(col("passed"), lit(false))))
      .select(col("check_name"), col("metric")).collect()
    if (failed.nonEmpty)
      throw new IllegalStateException(
        "QC constraint violation(s): " + failed.map { r =>
          val m = if (r.isNullAt(1)) "null" else r.getDouble(1).toString
          s"${r.getString(0)} (metric=$m)"
        }.mkString("; "))
    report
  }

  /** The gate composed over the standard lineitem suite. */
  def constraintGate(s: SparkSession, d: String): DataFrame =
    enforce(constraintSuite(s, d))

  /** Epoch-over-epoch metric drift: run the SAME constraint suite against
    * the previous snapshot and the current load, and gate each metric on
    * its relative movement — the "did yesterday's batch change the data's
    * shape" check that catches silent upstream regressions (a collapsed
    * join feeding half the rows, a domain column going sparse) that every
    * individual constraint still passes. The previous snapshot is carved
    * deterministically (orderkey % 10 ≠ 0 on BOTH fact and parent, so the
    * RI constraint sees a consistent epoch) — in production it is the
    * persisted metrics row of the last accepted run, the
    * `dd_incremental`-store pattern applied to QC metrics.
    *
    * Thresholds: volume metrics (`size_ge_1000`) get a ±15% band — batch
    * sizes legitimately breathe; every ratio/range/integrity metric gets
    * ±1% — those moving at all is the alarm. Drift on a zero baseline is
    * defined (0→0 is 0 drift; 0→x is NULL, gated as failure) so the
    * orphan-count metric can never divide by zero into a NaN/Inf that
    * hashes differently across engines. Cost at 100 TB: exactly two suite
    * passes (each one scan + the narrow RI anti-join) and a 9-row join —
    * drift adds nothing per-row.
    */
  def metricDrift(s: SparkSession, d: String,
      sizeThreshold: Double = 0.15): DataFrame = {
    val li = Tables.lineitem(s, d)
    val ord = Tables.orders(s, d)
    val prev = suiteOf(li.filter(col("l_orderkey") % 10 =!= 0),
        ord.filter(col("o_orderkey") % 10 =!= 0))
      .select(col("check_name"), col("metric").as("prev_metric"))
    val cur = suiteOf(li, ord)
      .select(col("check_name"), col("metric").as("cur_metric"))
    cur.join(prev, Seq("check_name"))
      .withColumn("threshold",
        when(col("check_name") === "size_ge_1000", lit(sizeThreshold))
          .otherwise(lit(0.01)))
      .withColumn("rel_drift",
        when(col("prev_metric") === 0.0 && col("cur_metric") === 0.0, lit(0.0))
          .when(col("prev_metric") === 0.0, lit(null).cast("double"))
          .otherwise((col("cur_metric") - col("prev_metric")) / col("prev_metric")))
      .withColumn("drift_ok",
        coalesce(abs(col("rel_drift")) <= col("threshold"), lit(false)))
      .select(col("check_name"), col("prev_metric"), col("cur_metric"),
        col("threshold"), col("rel_drift"), col("drift_ok"))
      .orderBy(col("check_name"))
  }

  /** [[metricDrift]] as a pipeline gate — same contract as [[enforce]]:
    * throw naming every drifted metric, return the report when clean.
    */
  def metricDriftGate(s: SparkSession, d: String,
      sizeThreshold: Double = 0.15): DataFrame = {
    val report = metricDrift(s, d, sizeThreshold)
    val failed = report.filter(not(coalesce(col("drift_ok"), lit(false))))
      .select(col("check_name"), col("rel_drift")).collect()
    if (failed.nonEmpty)
      throw new IllegalStateException(
        "QC metric drift violation(s): " + failed.map { r =>
          val v = if (r.isNullAt(1)) "null" else r.getDouble(1).toString
          s"${r.getString(0)} (rel_drift=$v)"
        }.mkString("; "))
    report
  }

  /** Privacy QC gate: k-anonymity and l-diversity of a quasi-identifier
    * grouping — the release check a training-data pipeline runs before
    * publishing records that could re-identify people. Each
    * (nation, market-segment) combination is a QI group; a group is
    * k-anonymous when at least k=5 records share it (an attacker knowing
    * someone's QI values can't narrow below k candidates) and l-diverse
    * when the sensitive attribute (here the account-balance sign class,
    * a 3-value proxy) takes at least l=2 distinct values inside it (so
    * the QI doesn't DISCLOSE the sensitive value even without
    * identifying the row). One partial-aggregated scan: counts and the
    * small-domain exact distinct ride the same (QI)-keyed exchange; at
    * 100 TB the report is |QI-combinations| rows regardless of row
    * count. Suppression (dropping violating groups) is the follow-up
    * join on this report's key.
    */
  def kAnonymity(s: SparkSession, d: String): DataFrame =
    Tables.customer(s, d)
      .select(col("c_nationkey"), col("c_mktsegment"),
        when(col("c_acctbal") < 0, lit("neg"))
          .when(col("c_acctbal") < 5000, lit("low"))
          .otherwise(lit("high")).as("bal_class"))
      .groupBy(col("c_nationkey"), col("c_mktsegment"))
      .agg(count(lit(1)).as("n_rows"),
        graft.Det.exactDistinct(col("bal_class")).as("l_vals"))
      .withColumn("k_ok", col("n_rows") >= 5)
      .withColumn("l_ok", col("l_vals") >= 2)
      .select(col("c_nationkey"), col("c_mktsegment"), col("n_rows"),
        col("l_vals"), col("k_ok"), col("l_ok"))
      .orderBy(col("c_nationkey"), col("c_mktsegment"))

  /** Benford leading-digit audit — the fraud/corruption screen for
    * naturally-occurring amounts: the observed first-digit distribution
    * of o_totalprice, as exact counts and rational shares (no log10 —
    * libm's last ulp varies across builds; the analyst compares against
    * Benford's curve downstream). One partial-aggregated scan over a
    * 9-row group space.
    */
  def benford(s: SparkSession, d: String): DataFrame = {
    // first digit via floor→integer→string: double→string formatting and
    // double→int rounding both differ across engines; floor + integer
    // string do not
    val digits = Tables.orders(s, d)
      .select(substring(expr("CAST(floor(o_totalprice) AS BIGINT)")
        .cast("string"), 1, 1).cast("int").as("digit"))
      .groupBy(col("digit"))
      .agg(count(lit(1)).as("n"))
    digits.crossJoin(broadcast(digits.agg(sum(col("n")).as("total"))))
      .withColumn("share", col("n").cast("double") / col("total"))
      .select(col("digit"), col("n"), col("share"))
      .orderBy(col("digit"))
  }

  /** Order-independent whole-table checksum — the cross-system
    * reconciliation primitive ("is the replica byte-equal?") this
    * harness itself relies on, exposed as an operator: each row hashes
    * its pipe-joined columns through the 60-bit replayable md5 slice and
    * the table folds to (n_rows, SUM(h)) — commutative, so the result is
    * partitioning- and order-independent, and two systems can compare
    * tables by exchanging 16 bytes instead of data. One scan, one 1-row
    * aggregate per table.
    */
  def tableChecksum(s: SparkSession, d: String): DataFrame = {
    import graft.ext.Hashing
    def one(name: String, df: DataFrame, cols: Seq[String]) =
      df.select(expr(Hashing.sparkHash(
          s"concat_ws('|', ${cols.mkString(", ")})")).as("h"))
        .agg(count(lit(1)).as("n_rows"),
          sum(col("h").cast("decimal(30,0)")).cast("string").as("checksum"))
        .select(lit(name).as("table_name"), col("n_rows"), col("checksum"))
    one("nation", Tables.nation(s, d),
        Seq("n_nationkey", "n_name", "n_regionkey"))
      .unionAll(one("region", Tables.region(s, d), Seq("r_regionkey", "r_name")))
      .unionAll(one("supplier", Tables.supplier(s, d),
        Seq("s_suppkey", "s_name", "s_nationkey")))
      .orderBy(col("table_name"))
  }

  /** Spark 4 `GROUP BY ALL` / `ORDER BY ALL` surface: the grouping keys
    * are inferred as every non-aggregate select item and the sort covers
    * all output columns left-to-right — identical semantics in DuckDB,
    * so the oracle is the very same SQL string.
    */
  def groupOrderAll(s: SparkSession, d: String): DataFrame = {
    Tables.lineitem(s, d).createOrReplaceTempView("graft_li_all")
    s.sql(groupOrderAllSql.replace("FROM lineitem", "FROM graft_li_all"))
  }

  private val groupOrderAllSql =
    """SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
      |       CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty
      |FROM lineitem GROUP BY ALL ORDER BY ALL""".stripMargin

  /** SQL-defined scalar function (Spark 4 `CREATE FUNCTION … RETURN`):
    * the exact-decimal net-price measure declared ONCE in SQL and reused
    * by name. Catalyst INLINES the body into the calling plan, so unlike
    * a JVM UDF black box it stays inside whole-stage codegen and remains
    * transparent to pushdown/pruning — the right way to share measure
    * definitions across a SQL-first team. The RETURNS DECIMAL(18,4)
    * contract keeps the per-row value exact (scale-4 product preserved),
    * so the decimal sum is partitioning-independent and the oracle just
    * inlines the same body (DuckDB's CREATE MACRO is the equivalent
    * there).
    */
  def sqlUdf(s: SparkSession, d: String): DataFrame = {
    Tables.lineitem(s, d).createOrReplaceTempView("graft_li_udf")
    s.sql(
      """CREATE OR REPLACE TEMPORARY FUNCTION graft_net(price DOUBLE, disc DOUBLE)
        |RETURNS DECIMAL(18,4)
        |RETURN CAST(price AS DECIMAL(12,2)) * (1 - CAST(disc AS DECIMAL(4,2)))"""
        .stripMargin)
    s.sql(
      """SELECT l_returnflag,
        |       CAST(SUM(graft_net(l_extendedprice, l_discount)) AS DOUBLE) AS net_revenue,
        |       COUNT(*) AS n
        |FROM graft_li_udf GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)
  }

  /** Distribution-drift gate: Pearson chi-square test of homogeneity
    * between two epoch slices (odd vs even calendar days) of the
    * event-type distribution — the "did yesterday's data change shape"
    * check a pipeline runs before accepting a new batch. Cross-engine
    * exactness discipline: each cell's statistic is formed from the
    * RATIONAL identity (o·N − r·c)²/(N·r·c) — numerator difference and
    * denominator computed in exact DECIMAL(38,0) (each BIGINT factor is
    * cast to decimal(20,0) BEFORE multiplying, so n·r·c is exact up to
    * 10³⁸; plain BIGINT products would silently wrap once n_events
    * reaches ~3M with balanced cells, since n·r·c ≈ n³/4 > 2⁶³), one
    * double division per cell, and the cross-cell sum is a deterministic
    * (event_type, half)-ordered fold (the HLL idiom), so the χ² value
    * itself hash-verifies. The DuckDB oracle mirrors this with HUGEINT
    * (int128) products. Bound: exactness holds while n·r·c < 10³⁸, i.e.
    * n_events ≲ 7·10¹² under balanced halves — comfortably past 100 TB
    * of events; beyond that Spark yields NULL (decimal overflow), never
    * a silently wrong χ². At 100 TB this is one groupBy over
    * (type, slice) cells — the statistic is O(cells), not O(rows).
    *
    * Contract note: cells are formed from OBSERVED (type, slice) pairs,
    * so a type entirely absent from one slice contributes no zero-count
    * cell (its (o·N − r·c)²/(N·r·c) term with o=0 is skipped). For this
    * gate's day-parity split every type appears in both slices by
    * construction; a deployment splitting on a sparser dimension should
    * densify the cell grid first (cross-join types × slices, zero-fill)
    * or the statistic under-counts the divergence of vanished types.
    */
  def chiSquareDrift(s: SparkSession, d: String): DataFrame = {
    val cells = Tables.events(s, d)
      .select(col("event_type"), (dayofmonth(col("ts")) % 2).as("half"))
      .groupBy(col("event_type"), col("half")).agg(count(lit(1)).as("o"))
    val rows = cells.groupBy(col("event_type")).agg(sum(col("o")).as("r"))
    val cols = cells.groupBy(col("half")).agg(sum(col("o")).as("c"))
    val tot = cells.agg(sum(col("o")).as("n"))
    cells.join(rows, "event_type").join(cols, "half")
      .crossJoin(broadcast(tot))
      .withColumn("diff", (col("o").cast("decimal(20,0)") * col("n").cast("decimal(20,0)")
        - col("r").cast("decimal(20,0)") * col("c").cast("decimal(20,0)"))
        .cast("double"))
      .withColumn("den", (col("n").cast("decimal(20,0)") * col("r").cast("decimal(20,0)")
        * col("c").cast("decimal(20,0)")).cast("double"))
      .withColumn("term", col("diff") * col("diff") / col("den"))
      .agg(max(col("n")).as("n_events"),
        graft.Det.exactDistinct(col("event_type")).as("n_types"),
        expr(
          """aggregate(
            |  transform(array_sort(collect_list(struct(event_type, half, term))),
            |    x -> x.term),
            |  CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)""".stripMargin)
          .as("chi2"))
      .withColumn("dof", col("n_types") - 1)
      .select(col("n_events"), col("n_types"), col("dof"), col("chi2"))
  }

  /** One-pass column profile (the deequ/Great-Expectations "profiler"
    * shape): null count, distinct count, and completeness for every
    * column of a table, computed in a SINGLE scan — all per-column
    * aggregates ride one HashAggregate row (count-distincts expand to
    * the standard multi-distinct plan), then `stack` unpivots the wide
    * summary row into one row per column. At 100 TB the scan happens
    * once regardless of column count; only the fixed-width summary
    * crosses the final exchange.
    */
  def nullProfile(s: SparkSession, d: String): DataFrame = {
    val cols = Seq("o_orderkey", "o_custkey", "o_orderstatus",
      "o_totalprice", "o_orderdate", "o_orderpriority")
    val aggs = cols.flatMap(c => Seq(
      sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"nn_$c"),
      graft.Det.exactDistinct(col(c)).as(s"nd_$c"))) :+
      count(lit(1)).as("n_rows")
    Tables.orders(s, d).agg(aggs.head, aggs.tail: _*)
      .select(expr(s"stack(${cols.size}, " +
        cols.map(c => s"'$c', n_rows, nn_$c, nd_$c").mkString(", ") +
        ") AS (col_name, n_rows, n_nulls, n_distinct)"))
      .withColumn("completeness",
        (col("n_rows") - col("n_nulls")).cast("double") / col("n_rows"))
      .orderBy(col("col_name"))
  }

  /** Per-column cardinality profile in ONE scan — the schema-discovery /
    * join-planning metric (is this column a key, an enum, a skewed
    * dimension?). Five columns stack into (col_name, value) rows so a
    * SINGLE pass feeds one keyed HLL ([[graft.ext.HyperLogLog]]'s
    * cross-engine sketch — 256 mergeable registers per column, the
    * register table is |cols|·256 rows regardless of data size); exact
    * distinct counts ride along as the verification column. At 100 TB
    * the stack widens the scan 5× but the shuffle carries only (name,
    * bucket, rho) partial-maxed registers — profiling N columns costs
    * one scan + a constant-size exchange, vs N count-distinct shuffles
    * the naive loop pays. Timestamp columns profile at DATE grain so the
    * string form is dialect-stable.
    *
    * Two estimator columns, matching HLL++'s regime split: `est_distinct`
    * is the raw harmonic estimate (right for n ≳ 2.5m — keys/dims), and
    * `n_filled_regs` is the touched-register count — the exact integer
    * core of the LINEAR-COUNTING small-range path (collision-free ≈ n
    * for n ≪ m, so enums read exactly). The m·ln(m/V) form itself stays
    * out of the verified surface: ln is a libm call whose last ulp varies
    * across engines ([[graft.Det]] discipline), while V is an integer
    * both engines count identically. `regime` says which column to read.
    */
  def cardinalityProfile(s: SparkSession, d: String): DataFrame = {
    import graft.ext.{Hashing, HyperLogLog}
    // DISTINCT-BEFORE-HASH: an HLL register is max(rho(h)) over the
    // VALUE SET — duplicates are idempotent — so the md5 parity hash
    // (the measured floor of this query: 3.1 of its 5.2 s at r11) runs
    // over the ~|Σ distinct| frame instead of 5×|fact| stacked rows.
    // The same distinct branches feed the exact verification counts, so
    // the whole profile costs: five column-pruned NATIVE-TYPE distincts
    // (one union job, map-side partial aggregation, and with columnar
    // parquet the five branches read the same bytes as one 5-column
    // scan), one bounded hash+register fold, one 5-row join.
    val dcols = Seq(
      "l_orderkey" -> col("l_orderkey"),
      "l_partkey" -> col("l_partkey"),
      "l_suppkey" -> col("l_suppkey"),
      "l_returnflag" -> col("l_returnflag"),
      "l_shipdate" -> to_date(col("l_shipdate")))
    // materialized once: est, filled-count and exact-count all read it.
    // The frame is bounded by the distinct-value set — the working set
    // the EXACT verification side inherently carries; a production
    // profile at 100 TB drops that side (it exists to verify the
    // sketch) and folds map-side HLL partials with no distinct at all.
    val distinctVals = dcols.map { case (n, e) =>
      Tables.lineitem(s, d).select(e.as("dv")).distinct()
        .select(lit(n).as("col_name"), col("dv").cast("string").as("v"))
    }.reduce(_.unionByName(_)).localCheckpoint()
    val h = distinctVals.select(col("col_name"),
      expr(Hashing.sparkHash("v")).as("h"))
    val regs = HyperLogLog.regsOfKeyed(h, "col_name").localCheckpoint()
    import s.implicits._
    val keyFrame = dcols.map(_._1).toDF("col_name")
    val est = HyperLogLog.estOfKeyed(s, keyFrame, regs,
      Seq("col_name"), "est_distinct")
    val filled = regs.groupBy(col("col_name"))
      .agg(count(lit(1)).as("n_filled_regs"))
    val exact = distinctVals.groupBy(col("col_name"))
      .agg(count(lit(1)).as("true_distinct"))
    est.join(filled, "col_name").join(exact, "col_name")
      .withColumn("regime",
        when(col("est_distinct") < 2.5 * HyperLogLog.M, lit("linear_counting"))
          .otherwise(lit("raw")))
      .select(col("col_name"), col("est_distinct"), col("n_filled_regs"),
        col("regime"), col("true_distinct"))
      .orderBy(col("col_name"))
  }


  /** Referential-integrity audit over every FK edge of the star schema —
    * the load-gate a warehouse runs before publishing a snapshot
    * (generalizes the single lineitem→orders check inside
    * [[constraintSuite]] to the full edge list; reference
    * `etl.py`'s quality_check step stops at row counts).
    *
    * Scale shape: each edge aggregates the CHILD side to (key, count)
    * first — map-side combine collapses the fact to its distinct keys, so
    * the anti-join against the parent's key column shuffles narrow
    * 8-byte keys bounded by key cardinality, never fact rows. Both sides
    * are single-column pruned scans (columnar IO reads exactly one
    * column per side regardless of table width). Fixed-size dims
    * (nation, region) broadcast their keysets explicitly; sf-scaled
    * parents stay as shuffle anti-joins and AQE may still broadcast them
    * when small. Null FKs are reported in their own column, not as
    * orphans (SQL RI convention). All output columns are exact integers.
    */
  def referentialAudit(s: SparkSession, d: String): DataFrame = {
    def edge(name: String, child: DataFrame, key: String,
        parent: DataFrame, pkey: String, broadcastParent: Boolean): DataFrame = {
      val keyed = child.groupBy(col(key).as("k")).agg(count(lit(1)).as("cnt"))
      val totals = keyed.agg(
        coalesce(sum(col("cnt")), lit(0L)).as("child_rows"),
        count(col("k")).as("child_keys"),
        coalesce(sum(when(col("k").isNull, col("cnt"))), lit(0L))
          .as("null_fk_rows"))
      val pk = parent.select(col(pkey).cast("long").as("k")).distinct()
      val orphans = keyed.filter(col("k").isNotNull)
        .withColumn("k", col("k").cast("long"))
        .join(if (broadcastParent) broadcast(pk) else pk, Seq("k"), "left_anti")
        .agg(coalesce(sum(col("cnt")), lit(0L)).as("orphan_rows"),
          count(lit(1)).as("orphan_keys"))
      totals.crossJoin(broadcast(orphans)).select(lit(name).as("edge"),
        col("child_rows"), col("child_keys"), col("null_fk_rows"),
        col("orphan_rows"), col("orphan_keys"))
    }
    Seq(
      edge("customer.c_nationkey->nation.n_nationkey",
        Tables.customer(s, d), "c_nationkey", Tables.nation(s, d), "n_nationkey", true),
      edge("lineitem.l_orderkey->orders.o_orderkey",
        Tables.lineitem(s, d), "l_orderkey", Tables.orders(s, d), "o_orderkey", false),
      edge("lineitem.l_partkey->part.p_partkey",
        Tables.lineitem(s, d), "l_partkey", Tables.part(s, d), "p_partkey", false),
      edge("lineitem.l_suppkey->supplier.s_suppkey",
        Tables.lineitem(s, d), "l_suppkey", Tables.supplier(s, d), "s_suppkey", false),
      edge("nation.n_regionkey->region.r_regionkey",
        Tables.nation(s, d), "n_regionkey", Tables.region(s, d), "r_regionkey", true),
      edge("orders.o_custkey->customer.c_custkey",
        Tables.orders(s, d), "o_custkey", Tables.customer(s, d), "c_custkey", false),
      edge("supplier.s_nationkey->nation.n_nationkey",
        Tables.supplier(s, d), "s_nationkey", Tables.nation(s, d), "n_nationkey", true))
      .reduce(_.unionByName(_))
      .orderBy(col("edge"))
  }

  /** Surrogate-key completeness audit (gaps-and-islands WITHOUT a global
    * window): for a key column expected to be contiguous, report how many
    * keys are missing inside the observed span and how many contiguous
    * islands the keyspace fragments into. The island count comes from the
    * identity  islands = |{k ∈ S : k−1 ∉ S}|  (each island has exactly
    * one start), computed as a self anti-join of the distinct keyset on
    * the shifted key — an equi-join that distributes by key hash, where
    * the textbook row_number()-difference form needs a GLOBAL ordered
    * window (single-partition bottleneck at 100 TB). n_missing falls out
    * arithmetically as span − n_keys; no per-gap enumeration is
    * materialized. The testdata's generator emits dense keyspaces, so
    * c_custkey/o_orderkey audit to one island (the pass case); the third
    * row audits only URGENT orders' keys — a genuinely fragmented
    * keyspace that exercises the island counting (the fail case).
    */
  def sequenceGaps(s: SparkSession, d: String): DataFrame = {
    def audit(name: String, keys: DataFrame): DataFrame = {
      val ks = keys.select(col("k").cast("long").as("k")).distinct()
      val islands = ks.as("a")
        .join(ks.select((col("k") + 1).as("k1")),
          col("k") === col("k1"), "left_anti")
        .agg(count(lit(1)).as("n_islands"))
      ks.agg(count(lit(1)).as("n_keys"), min(col("k")).as("min_key"),
          max(col("k")).as("max_key"))
        .crossJoin(broadcast(islands))
        .select(lit(name).as("col_name"), col("n_keys"), col("min_key"),
          col("max_key"),
          (col("max_key") - col("min_key") + 1 - col("n_keys")).as("n_missing"),
          col("n_islands"), (col("n_islands") - 1).as("n_gaps"))
    }
    audit("c_custkey", Tables.customer(s, d).select(col("c_custkey").as("k")))
      .unionByName(audit("o_orderkey",
        Tables.orders(s, d).select(col("o_orderkey").as("k"))))
      .unionByName(audit("o_orderkey_urgent",
        Tables.orders(s, d).filter(col("o_orderpriority") === "1-URGENT")
          .select(col("o_orderkey").as("k"))))
      .orderBy(col("col_name"))
  }

  /** Two-sample Kolmogorov–Smirnov drift test, integer-exact until one
    * final division: compares the price distribution of urgent vs low
    * priority orders. D = max|F₁(v) − F₂(v)| is computed as
    * max|c₁·n₂ − c₂·n₁| in pure integer arithmetic (the cumulative
    * counts and sample sizes are exact longs), divided by n₁·n₂ exactly
    * once at the end — so the statistic is bit-identical across engines
    * and partitionings, where a float-CDF subtraction would drift in the
    * last ulp. Values are quantized to a fixed $1000 grid via integer
    * cents arithmetic BEFORE the cumulative step: the ordered window then
    * runs over the few-hundred-row grid rollup, not raw rows (the
    * [[graft.ops.ExtraOps.runningTotal]] discipline) — the grid is the
    * scale knob, and the binned D lower-bounds the unbinned D with error
    * at most the largest bin's probability mass. The 5%-level rejection
    * threshold 1.3581·√((n₁+n₂)/(n₁·n₂)) is evaluated in one fixed
    * double expression tree (literal routed through a string cast — the
    * NDCG lesson: a bare decimal literal parses as DECIMAL in DuckDB and
    * changes the arithmetic).
    */
  def ksTest(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val binned = Tables.orders(s, d)
      .filter(col("o_orderpriority").isin("1-URGENT", "5-LOW"))
      .select(
        expr("CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT) DIV 100000")
          .as("bucket"),
        when(col("o_orderpriority") === "1-URGENT", 1).otherwise(2).as("g"))
      .groupBy(col("bucket"))
      .agg(sum(when(col("g") === 1, 1L).otherwise(0L)).as("d1"),
        sum(when(col("g") === 2, 1L).otherwise(0L)).as("d2"))
    val w = Window.orderBy(col("bucket"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val tot = binned.agg(sum(col("d1")).as("n1"), sum(col("d2")).as("n2"))
    binned
      .withColumn("c1", sum(col("d1")).over(w))
      .withColumn("c2", sum(col("d2")).over(w))
      .crossJoin(broadcast(tot))
      .agg(max(abs(col("c1") * col("n2") - col("c2") * col("n1"))).as("ks_num"),
        max(col("n1")).as("n1"), max(col("n2")).as("n2"))
      .select(col("n1"), col("n2"), col("ks_num"),
        (col("ks_num").cast("double")
          / (col("n1").cast("double") * col("n2").cast("double"))).as("ks_d"),
        (expr("CAST('1.3581' AS DOUBLE)")
          * sqrt((col("n1") + col("n2")).cast("double")
            / (col("n1").cast("double") * col("n2").cast("double"))))
          .as("ks_crit"))
      .withColumn("drift", col("ks_d") > col("ks_crit"))
  }

  /** Per-type event-time freshness audit — "which feeds have stopped" —
    * each event type's latest timestamp lagged against the corpus
    * high-water mark (the deterministic stand-in for wall-clock now():
    * a freshness gate keyed to now() can never hash-verify, and in a
    * batch context the corpus max IS the load's reference time). Lag is
    * exact integer minutes (µs difference, truncating DIV); a type more
    * than 60 min behind the high-water mark is flagged stale. One scan,
    * one |types|-row rollup, high-water mark attached as a broadcast
    * 1-row aggregate.
    */
  def freshness(s: SparkSession, d: String): DataFrame = {
    val byType = Tables.events(s, d)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        max(unix_micros(col("ts"))).as("latest_us"))
    val hwm = Tables.events(s, d)
      .agg(max(unix_micros(col("ts"))).as("corpus_max_us"))
    byType.crossJoin(broadcast(hwm))
      .withColumn("lag_minutes",
        expr("(corpus_max_us - latest_us) DIV 60000000"))
      .withColumn("stale", col("lag_minutes") > 60)
      .select(col("event_type"), col("n_events"), col("lag_minutes"),
        col("stale"))
      .orderBy(col("event_type"))
  }

  /** Total-variation distance between each source's language distribution
    * and the corpus-wide distribution — the log-free drift gate that
    * complements [[chiSquareDrift]]: TV = ½ Σ|p_s − p| is the tightest
    * bound on how much ANY downstream proportion can differ between the
    * source and the corpus, and unlike PSI/KL it needs no logarithm, so
    * the whole statistic is exact integer arithmetic — the per-cell
    * deviation |n_sl·N − N_s·n_l| sums to a BIGINT and the single final
    * division by 2·N_s·N is the only float (magnitudes ≤ corpus², so
    * widen to DECIMAL(38,0) past ~10⁹ docs). Sources with a language
    * they never saw still contribute that cell via the dense
    * source × language grid (the classic missing-category drift bug).
    *
    * Scale shape: one scan to the (source, lang) contingency table —
    * cells are |sources|·|langs|, dimension-sized — then all arithmetic
    * on the broadcast-joined grid; nothing data-proportional shuffles
    * after the first rollup.
    */
  def tvDrift(s: SparkSession, d: String): DataFrame = {
    val docs = graft.Tables.documents(s, d)
    val cells = docs.groupBy(col("source"), col("lang"))
      .agg(count(lit(1)).as("n_sl"))
    val bySource = cells.groupBy(col("source")).agg(sum(col("n_sl")).as("n_s"))
    val byLang = cells.groupBy(col("lang")).agg(sum(col("n_sl")).as("n_l"))
    val total = cells.agg(sum(col("n_sl")).as("n_tot"))
    val grid = bySource.crossJoin(broadcast(byLang))
      .join(cells, Seq("source", "lang"), "left")
      .na.fill(0L, Seq("n_sl"))
      .crossJoin(broadcast(total))
    grid
      .withColumn("dev", abs(col("n_sl") * col("n_tot") - col("n_s") * col("n_l")))
      .groupBy(col("source"), col("n_s"), col("n_tot"))
      .agg(sum(col("dev")).as("sum_dev"))
      .withColumn("tv",
        col("sum_dev").cast("double")
          / (lit(2L) * col("n_s") * col("n_tot")).cast("double"))
      .withColumn("drifted", col("tv") > 0.05)
      .select(col("source"), col("n_s").as("n_docs"), col("sum_dev"),
        col("tv"), col("drifted"))
      .orderBy(col("source"))
  }

  /** Parent↔child ROLLUP RECONCILIATION — the warehouse audit that
    * catches partial loads and double-applied deltas: every order's
    * header total is recomputed from its lineitem rows
    * (Σ extprice·(1−disc)·(1+tax), the TPC-H identity) in exact
    * 10⁻⁴ fixed point and compared to `o_totalprice` in the same units.
    * The report buckets orders into reconciled / drifted / childless
    * and carries the worst absolute drift — whether the corpus
    * satisfies the identity is the FINDING, not an assumption (a
    * synthetic generator that doesn't maintain it shows up as 100%
    * drifted, which is precisely what the audit is for).
    *
    * Scale shape: one lineitem rollup to order grain (map-side
    * combined), one key join against the header table, then a 3-row
    * report — the child table is scanned once, never row-matched
    * against itself.
    */
  def rollupConsistency(s: SparkSession, d: String): DataFrame = {
    // per-line extended amount in exact micro-units: every factor goes
    // to integer basis points FIRST (correctly-rounded decimal casts,
    // identical in both engines), then one exact integer DIV sheds the
    // 10^8 scale — the ev_gap_regularity fixed-point discipline
    // The triple product runs in BIGINT, not DECIMAL(38,0): price_micro
    // ≤ ~1.1e9, the two basis-point factors ≤ ~1.1e4 each, so the
    // product is ≤ ~1.4e17 — 60× under BIGINT overflow — while a
    // DECIMAL(38,0) chain forces the BigDecimal slow path on every row
    // (the Det width-policy lesson). Same exact integers, same DIV.
    val lineMicro = call_function("div",
      Det.micros(col("l_extendedprice"))
        * (lit(10000L) - Det.units(col("l_discount"), 4, 8))
        * (lit(10000L) + Det.units(col("l_tax"), 4, 8)),
      lit(100000000))
    val child = graft.Tables.lineitem(s, d)
      .groupBy(col("l_orderkey").as("o_orderkey"))
      .agg(sum(lineMicro).as("child_micro"), count(lit(1)).as("n_lines"))
    val rec = graft.Tables.orders(s, d)
      .select(col("o_orderkey"),
        Det.micros(col("o_totalprice")).as("header_micro"))
      .join(child, Seq("o_orderkey"), "left")
      .withColumn("status",
        when(col("child_micro").isNull, "childless")
          .when(col("child_micro") === col("header_micro"), "reconciled")
          .otherwise("drifted"))
      .withColumn("abs_diff",
        when(col("child_micro").isNull, lit(0L))
          .otherwise(abs(col("child_micro") - col("header_micro"))))
    rec.groupBy(col("status"))
      .agg(count(lit(1)).as("n_orders"),
        max(col("abs_diff")).as("max_abs_diff_micro"),
        sum(col("abs_diff")).as("total_abs_diff_micro"))
      .orderBy(col("status"))
  }

  /** One-scan NUMERIC PROFILE of every measure column — the
    * `df.describe()` a warehouse actually wants, made hash-verifiable:
    * count / non-null / min / max / sum per column in exact 10⁻⁴
    * micro-units (correctly-rounded decimal casts both engines share),
    * mean as the single final division. All four columns' twenty
    * aggregates compute in ONE pass over the fact table (one
    * HashAggregate row), then unpivot via stack to the per-column
    * report — the [[nullProfile]] single-scan discipline; a naive
    * per-column describe() scans the table once per column.
    */
  def numericProfile(s: SparkSession, d: String): DataFrame = {
    val cols = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
    val aggs = cols.flatMap { c =>
      Seq(count(lit(1)).as(s"${c}_n"),
        count(col(c)).as(s"${c}_nn"),
        min(Det.micros(col(c))).as(s"${c}_min"),
        max(Det.micros(col(c))).as(s"${c}_max"),
        sum(Det.micros(col(c))).as(s"${c}_sum"))
    }
    val one = Tables.lineitem(s, d).agg(aggs.head, aggs.tail: _*)
    val stacked = cols.map(c =>
      s"'$c', ${c}_n, ${c}_nn, ${c}_min, ${c}_max, ${c}_sum").mkString(", ")
    one.select(expr(
      s"stack(${cols.length}, $stacked) AS " +
        "(col_name, n_rows, n_nonnull, min_micro, max_micro, sum_micro)"))
      .withColumn("mean", expr(
        "CAST(sum_micro AS DOUBLE) / (CAST(n_nonnull AS DOUBLE) * CAST(10000 AS DOUBLE))"))
      .orderBy(col("col_name"))
  }

  /** Merkle-tree data attestation per source — the hierarchical upgrade
    * of [[tableChecksum]]: leaf = md5(doc text), 8 leaves fold into a
    * level-1 node (md5 of the id-ordered concatenation), 8 level-1 nodes
    * into a level-2 node, level-2 nodes into the per-source root. A
    * consumer holding only the root can verify any single document with
    * log-width sibling proofs — the standard shape of dataset
    * attestation (Certificate Transparency / Dat / content registries),
    * and the reason this beats a flat checksum at 100 TB: a corrupted
    * shard re-verifies O(shard) instead of O(corpus), and incremental
    * appends re-hash only the touched spine.
    *
    * Shape at scale: each level is ONE groupBy on an 8×-coarser key —
    * three map-side-combined aggregations over fixed-width hashes; the
    * raw text is read exactly once at the leaf level. Deterministic: the
    * in-group concatenation orders by the child key (Spark: sorted
    * struct collect; DuckDB: string_agg ORDER BY — the proven-identical
    * pair).
    */
  def merkleTree(s: SparkSession, d: String): DataFrame = {
    def fold(df: DataFrame, childKey: String,
        parentKey: org.apache.spark.sql.Column): DataFrame =
      df.groupBy(col("source"), parentKey.as("g"))
        .agg(md5(expr(s"array_join(transform(array_sort(" +
          s"collect_list(struct($childKey AS k, h))), x -> x.h), '')")).as("h"),
          sum(col("n")).as("n"))
        .withColumnRenamed("g", childKey)
    val leaves = Tables.documents(s, d)
      .select(col("source"), col("doc_id").as("k"), md5(col("text")).as("h"),
        lit(1L).as("n"))
    val l1 = fold(leaves, "k", expr("k DIV 8"))
    val l2 = fold(l1, "k", expr("k DIV 8"))
    fold(l2, "k", lit(0L))
      .select(col("source"), col("n").as("n_docs"), col("h").as("merkle_root"))
      .orderBy(col("source"))
  }

  /** HELLINGER DRIFT — per-source divergence from the corpus-wide language
    * mix via the Bhattacharyya coefficient BC = Σ√(p·q). Unlike PSI/KL
    * (whose ln() is NOT exactly-rounded and differs per libm), √ IS
    * IEEE-754 correctly rounded in every conforming engine, and ÷ and ×
    * are too — so p = n_sl/n_s, q = n_l/n_tot, p·q, and √(p·q) are all
    * BIT-IDENTICAL doubles in Spark and DuckDB. The only order-dependent
    * step — the sum — is made exact by flooring each term to integer
    * nano-units first (floor of an identical double is identical) and
    * summing BIGINTs. A new float-exactness discipline alongside the
    * decimal one: transcendental-free float pipelines verify exactly if
    * every op is correctly rounded and the fold is integerized.
    * H² = 1 − BC ∈ [0,1]; missing (source,lang) cells contribute √0 = 0,
    * so the sparse inner join suffices — no dense grid.
    *
    * Scale shape: one groupBy builds the cells; marginals are two
    * rollups of the CELL table (never a second corpus scan); the join
    * fans out |sources|·|langs| rows at most. O(corpus) I/O, O(cells)
    * everything else.
    */
  def hellingerDrift(s: SparkSession, d: String): DataFrame = {
    val docs = graft.Tables.documents(s, d)
    val cells = docs.groupBy(col("source"), col("lang"))
      .agg(count(lit(1)).as("n_sl"))
    val bySource = cells.groupBy(col("source")).agg(sum(col("n_sl")).as("n_s"))
    val byLang = cells.groupBy(col("lang")).agg(sum(col("n_sl")).as("n_l"))
    val total = cells.agg(sum(col("n_sl")).as("n_tot"))
    cells
      .join(bySource, Seq("source"))
      .join(broadcast(byLang), Seq("lang"))
      .crossJoin(broadcast(total))
      .withColumn("term_nano",
        floor(sqrt((col("n_sl").cast("double") / col("n_s").cast("double"))
          * (col("n_l").cast("double") / col("n_tot").cast("double")))
          * lit(1e9)).cast("long"))
      .groupBy(col("source"), col("n_s"))
      .agg(sum(col("term_nano")).as("bc_nano"))
      .withColumn("hellinger_sq",
        lit(1.0) - col("bc_nano").cast("double") / lit(1e9))
      .withColumn("drifted", col("hellinger_sq") > 0.02)
      .select(col("source"), col("n_s").as("n_docs"), col("bc_nano"),
        col("hellinger_sq"), col("drifted"))
      .orderBy(col("source"))
  }

  /** QC gates via `observe()` — Spark's CollectMetrics node, the
    * PRODUCTION answer to the reference's count-and-log gates
    * (`etl.py`-style Q1/Q5 checks cost one extra ACTION each; observe()
    * rides the existing scan for free): the lineitem source is
    * instrumented with row-count / null-count / negative-price gate
    * metrics that accumulate AS the flagship-style rollup runs, zero
    * additional passes. The returned frame is the business result —
    * gate values surface through the Observation API / query listener
    * (QcSpec drives one and asserts the metrics equal independent
    * recomputation, and that the instrumented plan still contains ONE
    * scan of lineitem). At 100 TB this is the difference between a QC
    * suite that doubles your I/O bill and one that is free.
    */
  def observeGates(s: SparkSession, d: String): DataFrame =
    instrumentedRollup(graft.Tables.lineitem(s, d)
      .observe("graft_gates",
        count(lit(1)).as("rows_seen"),
        sum(when(col("l_quantity").isNull, 1L).otherwise(0L)).as("null_qty"),
        sum(when(col("l_extendedprice") < 0, 1L).otherwise(0L)).as("neg_price")))

  /** The rollup [[observeGates]] instruments — split out so QcSpec can
    * attach its own `Observation` to the same shape.
    */
  private[graft] def instrumentedRollup(li: org.apache.spark.sql.DataFrame): DataFrame =
    li.groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n_rows"),
        sum(col("l_quantity").cast(DecimalType(18, 4))).cast("double")
          .as("sum_qty"))
      .orderBy(col("l_returnflag"))

  /** SCHEMA CONTRACT — the table dictionary as data: every (table,
    * column, canonical type) of the core fact/dim tables, compared
    * against what a SECOND engine's catalog says about the very same
    * parquet files. Physical type names differ per engine (LongType /
    * BIGINT / int64), so both sides normalize to one canonical
    * vocabulary before the hash — which makes this the
    * contract-enforcement gate a lakehouse runs before every load:
    * columns added, dropped, or silently retyped upstream fail the
    * round trip loudly.
    *
    * Scale: pure metadata — footer reads, no data scan at any size.
    */
  def schemaContract(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.types._
    import s.implicits._
    def canon(dt: DataType): String = dt match {
      case LongType => "bigint"
      case IntegerType => "int"
      case DoubleType => "double"
      case StringType => "string"
      case TimestampType | TimestampNTZType => "timestamp"
      case dec: DecimalType => s"decimal(${dec.precision},${dec.scale})"
      case other => other.simpleString
    }
    val tables = Seq(
      "lineitem" -> Tables.lineitem(s, d),
      "orders" -> Tables.orders(s, d),
      "customer" -> Tables.customer(s, d))
    tables.flatMap { case (n, df) =>
      df.schema.fields.map(f => (n, f.name, canon(f.dataType)))
    }.toDF("tbl", "col_name", "canon_type")
      .orderBy(col("tbl"), col("col_name"))
  }

  /** KL DIVERGENCE IN BITS between two categorical distributions — the
    * drift metric the Hellinger gate couldn't reach (KL needs logs, and
    * ln/exp are not correctly rounded cross-engine): the shared
    * fixed-point log2 ([[graft.ext.FixLog]]) makes it EXACT. The metric
    * is defined over truncated logs — kl_fp = (Σ nᵢ·((lg nᵢ − lg N) −
    * (lg mᵢ − lg M))) div N, per-sample bits in 2^16 fixed point — so
    * both engines compute the same integer; the only doubles are final
    * int64→float64 casts. Compared: the event-type mix of the month's
    * FIRST half vs SECOND half, renormalized to the SHARED support
    * (KL is undefined where q=0; the inner join makes the gate
    * well-posed, and a support change would already fail
    * qc_schema_contract-style category checks upstream). Both
    * directions are emitted — KL is asymmetric, and which side is
    * "reference" matters operationally (P||Q spikes when new mass
    * appears where Q was thin).
    *
    * At 100 TB: two map-side-combined counts at category grain, one
    * category-grain join, one fold — the raw stream is touched twice
    * and shuffles only 8-byte-key counts.
    */
  def klBits(s: SparkSession, d: String): DataFrame = {
    import graft.ext.FixLog.lgS
    val ev = Tables.events(s, d)
      .select(col("event_type"), (dayofmonth(col("ts")) <= 15).as("fh"))
    val p = ev.filter(col("fh")).groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"))
    val q = ev.filter(!col("fh")).groupBy(col("event_type"))
      .agg(count(lit(1)).as("m"))
    val j = p.join(q, Seq("event_type"))
    val tot = j.agg(sum(col("n")).as("np"), sum(col("m")).as("nq"))
    j.crossJoin(broadcast(tot))
      .agg(count(lit(1)).as("n_types"),
        max(col("np")).as("n_p"), max(col("nq")).as("n_q"),
        sum(expr(s"n * ((${lgS("n")} - ${lgS("np")}) - (${lgS("m")} - ${lgS("nq")}))"))
          .as("num_pq"),
        sum(expr(s"m * ((${lgS("m")} - ${lgS("nq")}) - (${lgS("n")} - ${lgS("np")}))"))
          .as("num_qp"))
      .select(col("n_types"), col("n_p"), col("n_q"),
        expr("num_pq div n_p").as("kl_pq_fp"),
        expr("num_qp div n_q").as("kl_qp_fp"))
      .withColumn("kl_pq_bits", col("kl_pq_fp").cast("double") / lit(65536.0))
      .withColumn("kl_qp_bits", col("kl_qp_fp").cast("double") / lit(65536.0))
  }

  /** SHEWHART CONTROL CHART on the daily revenue series — the
    * statistical-process-control gate an ops team runs on every KPI
    * feed: center line and ±3σ control limits from the series' own
    * population moments, per-day out-of-control flags (rule 1: beyond
    * 3σ) and the Western-Electric rule-2 early warning (≥2 of the last
    * 3 days beyond 2σ on the SAME side — catches drifts rule 1 misses).
    *
    * Exactness: daily revenue folds to BIGINT cents; Σx² rides
    * DECIMAL(38,0) (the wide-decimal discipline) so the variance
    * numerator n·Σx² − (Σx)² is exact, reaches double through ONE
    * string cast (correctly-rounded parse), and σ is one correctly-
    * rounded √ over it — identical doubles both engines, hence
    * identical FLAGS, which is what a gate must guarantee (a 1-ulp σ
    * disagreement would flip a boundary day).
    *
    * At 100 TB: the fact folds map-side to day grain; moments and
    * flags run on the bounded calendar frame.
    */
  def controlChart(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val daily = Tables.orders(s, d)
      .groupBy(to_date(col("o_orderdate")).as("day"))
      .agg(sum(expr("CAST(CAST(o_totalprice AS DECIMAL(14,2)) * 100 AS BIGINT)"))
        .as("rev_cents"))
    val stats = daily.agg(count(lit(1)).as("n"), sum(col("rev_cents")).as("sx"),
        sum(expr("CAST(rev_cents AS DECIMAL(18,0)) * CAST(rev_cents AS DECIMAL(18,0))"))
          .as("sxx"))
      .select(col("n"), col("sx"),
        expr("CAST(CAST(n AS DECIMAL(38,0)) * sxx - " +
          "CAST(sx AS DECIMAL(19,0)) * CAST(sx AS DECIMAL(19,0)) AS STRING)")
          .as("dev2_str"))
      .select(col("n"),
        (col("sx").cast("double") / col("n").cast("double")).as("cl"),
        (sqrt(expr("CAST(dev2_str AS DOUBLE)")) / col("n").cast("double"))
          .as("sigma"))
    val w3 = Window.orderBy(col("day")).rowsBetween(-2, 0)
    daily.crossJoin(broadcast(stats))
      .withColumn("x", col("rev_cents").cast("double"))
      .withColumn("ucl", col("cl") + lit(3.0) * col("sigma"))
      .withColumn("lcl", col("cl") - lit(3.0) * col("sigma"))
      .withColumn("hi2", (col("x") > col("cl") + lit(2.0) * col("sigma"))
        .cast("long"))
      .withColumn("lo2", (col("x") < col("cl") - lit(2.0) * col("sigma"))
        .cast("long"))
      .withColumn("beyond_3sigma", col("x") > col("ucl") || col("x") < col("lcl"))
      .withColumn("rule2_high", sum(col("hi2")).over(w3) >= 2)
      .withColumn("rule2_low", sum(col("lo2")).over(w3) >= 2)
      .select(col("day"), col("rev_cents"), col("ucl"), col("lcl"),
        col("beyond_3sigma"), col("rule2_high"), col("rule2_low"))
      .orderBy(col("day"))
  }

  /** SLO ERROR-BUDGET BURN RATE — the SRE-workbook alerting arithmetic
    * (multi-window burn) applied to the event stream: against a 25%
    * error-budget SLO for this noisy synthetic feed, each day reports
    * its error rate, the burn MULTIPLE in centi-units (100 = consuming
    * budget exactly at the sustainable rate), the 3-day rolling burn,
    * and the cumulative budget fraction consumed; the alert fires only
    * when the short AND long windows both burn above budget — the
    * two-window AND that suppresses blips while catching sustained
    * burns, per the published SRE practice. Completes the ops-telemetry
    * corner next to [[controlChart]] (point anomalies) and
    * `x_page_hinkley` (drift): burn rate is the BUDGET view.
    *
    * All integer: rates in ppm, burns in centi-multiples via truncating
    * DIV, rolling sums over the bounded day grid.
    */
  def sloBurn(s: SparkSession, d: String): DataFrame = {
    val day = Tables.events(s, d)
      .select(expr("datediff(to_date(ts), DATE '2024-01-01')").as("dday"),
        (col("event_type") === "error").cast("long").as("e"))
      .groupBy(col("dday"))
      .agg(count(lit(1)).as("n"), sum(col("e")).as("n_err"))
    day
      .withColumn("err_ppm", expr("(n_err * 1000000) DIV n"))
      .withColumn("burn_centi_1d", expr("(n_err * 1000000) DIV n DIV 2500"))
      .withColumn("burn_centi_3d", expr(
        "(sum(n_err) OVER (ORDER BY dday ROWS BETWEEN 2 PRECEDING AND " +
          "CURRENT ROW) * 1000000) DIV (sum(n) OVER (ORDER BY dday ROWS " +
          "BETWEEN 2 PRECEDING AND CURRENT ROW)) DIV 2500"))
      .withColumn("budget_pct_cum", expr(
        "(sum(n_err) OVER (ORDER BY dday ROWS BETWEEN UNBOUNDED PRECEDING " +
          "AND CURRENT ROW) * 1000000) DIV (sum(n) OVER (ORDER BY dday " +
          "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) DIV 2500"))
      .withColumn("alert",
        col("burn_centi_1d") >= 100 && col("burn_centi_3d") >= 100)
      .select(col("dday"), col("n"), col("n_err"), col("err_ppm"),
        col("burn_centi_1d"), col("burn_centi_3d"), col("budget_pct_cum"),
        col("alert"))
      .orderBy(col("dday"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "qc_slo_burn" -> sloBurn,
    "qc_control_chart" -> controlChart,
    "qc_kl_bits" -> klBits,
    "qc_schema_contract" -> schemaContract,
    "x_observe_gates" -> observeGates,
    "qc_hellinger_drift" -> hellingerDrift,
    "qc_merkle_tree" -> merkleTree,
    "qc_numeric_profile" -> numericProfile,
    "qc_rollup_consistency" -> rollupConsistency,
    "qc_tv_drift" -> tvDrift,
    "qc_referential" -> referentialAudit,
    "qc_freshness" -> freshness,
    "qc_sequence_gaps" -> sequenceGaps,
    "qc_ks_test" -> ksTest,
    "qc_cardinality_profile" -> cardinalityProfile,
    "qc_null_profile" -> nullProfile,
    "qc_chi_square" -> chiSquareDrift,
    "qc_benford" -> benford,
    "qc_table_checksum" -> tableChecksum,
    "qc_constraint_suite" -> constraintSuite,
    "qc_metric_drift" -> ((s, d) => metricDrift(s, d)),
    "qc_k_anonymity" -> kAnonymity,
    "x_group_by_all" -> groupOrderAll,
    "x_sql_udf" -> sqlUdf
  )

  /** The constraint-suite oracle, parameterized on its table sources so
    * [[metricDrift]]'s oracle can replay the suite per epoch slice.
    */
  private def suiteSql(liSrc: String, ordSrc: String): String =
    s"""WITH m AS (
       |  SELECT COUNT(*) AS n_rows,
       |         COUNT(l_orderkey) AS nn_ok,
       |         COUNT(l_shipdate) AS nn_sd,
       |         CAST(MIN(l_quantity) AS DOUBLE) AS min_qty,
       |         CAST(MAX(l_quantity) AS DOUBLE) AS max_qty,
       |         CAST(SUM(CASE WHEN l_returnflag IN ('A','N','R') THEN 1 ELSE 0 END) AS BIGINT) AS n_flag_ok,
       |         CAST(SUM(CASE WHEN l_extendedprice >= 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_price_ok
       |  FROM $liSrc),
       |pk AS (
       |  SELECT COUNT(*) AS n_pk
       |  FROM (SELECT DISTINCT l_orderkey, l_linenumber FROM $liSrc
       |        WHERE l_orderkey IS NOT NULL AND l_linenumber IS NOT NULL)),
       |orph AS (
       |  SELECT COUNT(*) AS n_orphan
       |  FROM (SELECT DISTINCT l_orderkey FROM $liSrc) l
       |  WHERE NOT EXISTS (SELECT 1 FROM $ordSrc o WHERE o.o_orderkey = l.l_orderkey))
       |SELECT * FROM (
       |  SELECT 'completeness_l_orderkey' AS check_name,
       |         CAST(nn_ok AS DOUBLE) / n_rows AS metric, nn_ok = n_rows AS passed FROM m
       |  UNION ALL SELECT 'completeness_l_shipdate', CAST(nn_sd AS DOUBLE) / n_rows, nn_sd = n_rows FROM m
       |  UNION ALL SELECT 'domain_returnflag', CAST(n_flag_ok AS DOUBLE) / n_rows, n_flag_ok = n_rows FROM m
       |  UNION ALL SELECT 'nonneg_extendedprice', CAST(n_price_ok AS DOUBLE) / n_rows, n_price_ok = n_rows FROM m
       |  UNION ALL SELECT 'pk_unique_orderkey_linenumber', CAST(n_pk AS DOUBLE) / n_rows, n_pk = n_rows FROM m, pk
       |  UNION ALL SELECT 'range_max_quantity_le_50', max_qty, max_qty <= 50.0 FROM m
       |  UNION ALL SELECT 'range_min_quantity_ge_1', min_qty, min_qty >= 1.0 FROM m
       |  UNION ALL SELECT 'ri_orderkey_in_orders', CAST(n_orphan AS DOUBLE), n_orphan = 0 FROM orph
       |  UNION ALL SELECT 'size_ge_1000', CAST(n_rows AS DOUBLE), n_rows >= 1000 FROM m)""".stripMargin

  val oracle: Map[String, String] = Map(
    "qc_slo_burn" ->
      """WITH day AS (
        |  SELECT CAST(date_diff('day', DATE '2024-01-01', CAST(ts AS DATE))
        |           AS INT) AS dday,
        |         CAST(COUNT(*) AS BIGINT) AS n,
        |         CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
        |           AS BIGINT) AS n_err
        |  FROM events GROUP BY 1),
        |b AS (
        |  SELECT *,
        |    (n_err * 1000000) // n AS err_ppm,
        |    (n_err * 1000000) // n // 2500 AS burn_centi_1d,
        |    (CAST(SUM(n_err) OVER (ORDER BY dday ROWS BETWEEN 2 PRECEDING
        |       AND CURRENT ROW) AS BIGINT) * 1000000)
        |      // CAST(SUM(n) OVER (ORDER BY dday ROWS BETWEEN 2 PRECEDING
        |       AND CURRENT ROW) AS BIGINT) // 2500 AS burn_centi_3d,
        |    (CAST(SUM(n_err) OVER (ORDER BY dday ROWS BETWEEN UNBOUNDED
        |       PRECEDING AND CURRENT ROW) AS BIGINT) * 1000000)
        |      // CAST(SUM(n) OVER (ORDER BY dday ROWS BETWEEN UNBOUNDED
        |       PRECEDING AND CURRENT ROW) AS BIGINT) // 2500
        |      AS budget_pct_cum
        |  FROM day)
        |SELECT dday, n, n_err, CAST(err_ppm AS BIGINT) AS err_ppm,
        |       CAST(burn_centi_1d AS BIGINT) AS burn_centi_1d,
        |       CAST(burn_centi_3d AS BIGINT) AS burn_centi_3d,
        |       CAST(budget_pct_cum AS BIGINT) AS budget_pct_cum,
        |       (burn_centi_1d >= 100 AND burn_centi_3d >= 100) AS alert
        |FROM b ORDER BY dday""".stripMargin,
    "qc_control_chart" ->
      """WITH daily AS (
        |  SELECT CAST(o_orderdate AS DATE) AS day,
        |         CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(14,2)) * 100
        |           AS BIGINT)) AS BIGINT) AS rev_cents
        |  FROM orders GROUP BY 1),
        |st AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS n,
        |         CAST(SUM(rev_cents) AS BIGINT) AS sx,
        |         SUM(CAST(rev_cents AS HUGEINT) * CAST(rev_cents AS HUGEINT))
        |           AS sxx
        |  FROM daily),
        |pr AS (
        |  SELECT n,
        |         CAST(sx AS DOUBLE) / CAST(n AS DOUBLE) AS cl,
        |         sqrt(CAST(CAST(CAST(n AS HUGEINT) * sxx
        |             - CAST(sx AS HUGEINT) * CAST(sx AS HUGEINT) AS VARCHAR)
        |           AS DOUBLE)) / CAST(n AS DOUBLE) AS sigma
        |  FROM st),
        |f AS (
        |  SELECT day, rev_cents, CAST(rev_cents AS DOUBLE) AS x, cl, sigma,
        |         cl + 3.0 * sigma AS ucl, cl - 3.0 * sigma AS lcl,
        |         CASE WHEN CAST(rev_cents AS DOUBLE) > cl + 2.0 * sigma
        |              THEN 1 ELSE 0 END AS hi2,
        |         CASE WHEN CAST(rev_cents AS DOUBLE) < cl - 2.0 * sigma
        |              THEN 1 ELSE 0 END AS lo2
        |  FROM daily, pr)
        |SELECT day, rev_cents, ucl, lcl,
        |       x > ucl OR x < lcl AS beyond_3sigma,
        |       CAST(SUM(hi2) OVER (ORDER BY day
        |         ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS BIGINT) >= 2
        |         AS rule2_high,
        |       CAST(SUM(lo2) OVER (ORDER BY day
        |         ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS BIGINT) >= 2
        |         AS rule2_low
        |FROM f ORDER BY day""".stripMargin,
    "qc_kl_bits" -> {
      import graft.ext.FixLog.lgD
      s"""WITH e AS (
         |  SELECT event_type, day(ts) <= 15 AS fh FROM events),
         |p AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n
         |      FROM e WHERE fh GROUP BY 1),
         |q AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS m
         |      FROM e WHERE NOT fh GROUP BY 1),
         |j AS (SELECT p.event_type, n, m FROM p JOIN q USING (event_type)),
         |t AS (SELECT CAST(SUM(n) AS BIGINT) AS np,
         |             CAST(SUM(m) AS BIGINT) AS nq FROM j),
         |f AS (
         |  SELECT CAST(COUNT(*) AS BIGINT) AS n_types,
         |         MAX(np) AS n_p, MAX(nq) AS n_q,
         |         CAST(SUM(n * ((${lgD("n")} - ${lgD("np")})
         |                     - (${lgD("m")} - ${lgD("nq")}))) AS BIGINT)
         |           AS num_pq,
         |         CAST(SUM(m * ((${lgD("m")} - ${lgD("nq")})
         |                     - (${lgD("n")} - ${lgD("np")}))) AS BIGINT)
         |           AS num_qp
         |  FROM j, t)
         |SELECT n_types, n_p, n_q,
         |       num_pq // n_p AS kl_pq_fp, num_qp // n_q AS kl_qp_fp,
         |       CAST(num_pq // n_p AS DOUBLE) / 65536.0 AS kl_pq_bits,
         |       CAST(num_qp // n_q AS DOUBLE) / 65536.0 AS kl_qp_bits
         |FROM f""".stripMargin
    },
    // string_agg(h, '' ORDER BY child key) replays Spark's sorted
    // struct-collect concatenation exactly (the proven-identical pair).
    "qc_merkle_tree" ->
      """WITH leaves AS (
        |  SELECT source, doc_id AS k, md5(text) AS h, 1 AS n FROM documents),
        |l1 AS (
        |  SELECT source, k8 AS k, md5(string_agg(h, '' ORDER BY k)) AS h,
        |         SUM(n) AS n
        |  FROM (SELECT source, k, k // 8 AS k8, h, n FROM leaves)
        |  GROUP BY source, k8),
        |l2 AS (
        |  SELECT source, k8 AS k, md5(string_agg(h, '' ORDER BY k)) AS h,
        |         SUM(n) AS n
        |  FROM (SELECT source, k, k // 8 AS k8, h, n FROM l1)
        |  GROUP BY source, k8)
        |SELECT source, CAST(SUM(n) AS BIGINT) AS n_docs,
        |       md5(string_agg(h, '' ORDER BY k)) AS merkle_root
        |FROM l2 GROUP BY source ORDER BY source""".stripMargin,
    "qc_numeric_profile" -> {
      def leg(c: String): String = {
        val m = s"CAST(CAST(CAST($c AS DECIMAL(18,4)) * 10000 AS DECIMAL(19,0)) AS BIGINT)"
        s"""SELECT '$c' AS col_name, CAST(COUNT(*) AS BIGINT) AS n_rows,
           |       CAST(COUNT($c) AS BIGINT) AS n_nonnull,
           |       CAST(MIN($m) AS BIGINT) AS min_micro,
           |       CAST(MAX($m) AS BIGINT) AS max_micro,
           |       CAST(SUM($m) AS BIGINT) AS sum_micro,
           |       CAST(SUM($m) AS DOUBLE)
           |         / (CAST(COUNT($c) AS DOUBLE) * CAST(10000 AS DOUBLE)) AS mean
           |FROM lineitem""".stripMargin
      }
      Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
        .map(leg).mkString("SELECT * FROM (\n", "\nUNION ALL\n",
          "\n) ORDER BY col_name")
    },
    "qc_rollup_consistency" ->
      """WITH child AS (
        |  SELECT l_orderkey AS o_orderkey,
        |         CAST(SUM(CAST(CAST(
        |           CAST(CAST(CAST(l_extendedprice AS DECIMAL(18,4)) * 10000
        |                AS DECIMAL(19,0)) AS HUGEINT)
        |           * CAST(10000 - CAST(CAST(l_discount AS DECIMAL(8,4)) * 10000
        |                  AS DECIMAL(9,0)) AS HUGEINT)
        |           * CAST(10000 + CAST(CAST(l_tax AS DECIMAL(8,4)) * 10000
        |                  AS DECIMAL(9,0)) AS HUGEINT)
        |           AS HUGEINT) // 100000000 AS BIGINT)) AS BIGINT) AS child_micro,
        |         CAST(COUNT(*) AS BIGINT) AS n_lines
        |  FROM lineitem GROUP BY 1),
        |rec AS (
        |  SELECT o.o_orderkey,
        |         CAST(CAST(CAST(o_totalprice AS DECIMAL(18,4)) * 10000
        |              AS DECIMAL(19,0)) AS BIGINT) AS header_micro,
        |         c.child_micro
        |  FROM orders o LEFT JOIN child c ON o.o_orderkey = c.o_orderkey),
        |st AS (
        |  SELECT CASE WHEN child_micro IS NULL THEN 'childless'
        |              WHEN child_micro = header_micro THEN 'reconciled'
        |              ELSE 'drifted' END AS status,
        |         CASE WHEN child_micro IS NULL THEN 0
        |              ELSE ABS(child_micro - header_micro) END AS abs_diff
        |  FROM rec)
        |SELECT status, CAST(COUNT(*) AS BIGINT) AS n_orders,
        |       CAST(MAX(abs_diff) AS BIGINT) AS max_abs_diff_micro,
        |       CAST(SUM(abs_diff) AS BIGINT) AS total_abs_diff_micro
        |FROM st GROUP BY status ORDER BY status""".stripMargin,
    "qc_schema_contract" ->
      """SELECT table_name AS tbl, column_name AS col_name,
        |       CASE data_type
        |         WHEN 'BIGINT' THEN 'bigint'
        |         WHEN 'INTEGER' THEN 'int'
        |         WHEN 'DOUBLE' THEN 'double'
        |         WHEN 'VARCHAR' THEN 'string'
        |         WHEN 'TIMESTAMP' THEN 'timestamp'
        |         ELSE lower(data_type) END AS canon_type
        |FROM information_schema.columns
        |WHERE table_name IN ('lineitem', 'orders', 'customer')
        |ORDER BY tbl, col_name""".stripMargin,
    "x_observe_gates" ->
      """SELECT l_returnflag, CAST(COUNT(*) AS BIGINT) AS n_rows,
        |       CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty
        |FROM lineitem GROUP BY 1 ORDER BY l_returnflag""".stripMargin,
    "qc_hellinger_drift" ->
      """WITH cells AS (
        |  SELECT source, lang, CAST(COUNT(*) AS BIGINT) AS n_sl
        |  FROM documents GROUP BY 1, 2),
        |bs AS (SELECT source, CAST(SUM(n_sl) AS BIGINT) AS n_s FROM cells GROUP BY 1),
        |bl AS (SELECT lang, CAST(SUM(n_sl) AS BIGINT) AS n_l FROM cells GROUP BY 1),
        |tot AS (SELECT CAST(SUM(n_sl) AS BIGINT) AS n_tot FROM cells),
        |terms AS (
        |  SELECT c.source, bs.n_s,
        |         CAST(FLOOR(SQRT((CAST(c.n_sl AS DOUBLE) / CAST(bs.n_s AS DOUBLE))
        |                       * (CAST(bl.n_l AS DOUBLE) / CAST(n_tot AS DOUBLE)))
        |                    * 1e9) AS BIGINT) AS term_nano
        |  FROM cells c
        |  JOIN bs ON c.source = bs.source
        |  JOIN bl ON c.lang = bl.lang
        |  CROSS JOIN tot),
        |agg AS (
        |  SELECT source, n_s, CAST(SUM(term_nano) AS BIGINT) AS bc_nano
        |  FROM terms GROUP BY 1, 2)
        |SELECT source, n_s AS n_docs, bc_nano,
        |       1.0 - CAST(bc_nano AS DOUBLE) / 1e9 AS hellinger_sq,
        |       (1.0 - CAST(bc_nano AS DOUBLE) / 1e9) > 0.02 AS drifted
        |FROM agg ORDER BY source""".stripMargin,
    "qc_tv_drift" ->
      """WITH cells AS (
        |  SELECT source, lang, CAST(COUNT(*) AS BIGINT) AS n_sl
        |  FROM documents GROUP BY 1, 2),
        |bs AS (SELECT source, CAST(SUM(n_sl) AS BIGINT) AS n_s
        |       FROM cells GROUP BY 1),
        |bl AS (SELECT lang, CAST(SUM(n_sl) AS BIGINT) AS n_l
        |       FROM cells GROUP BY 1),
        |tot AS (SELECT CAST(SUM(n_sl) AS BIGINT) AS n_tot FROM cells),
        |grid AS (
        |  SELECT bs.source, bs.n_s, bl.n_l, n_tot,
        |         COALESCE(c.n_sl, 0) AS n_sl
        |  FROM bs CROSS JOIN bl
        |  LEFT JOIN cells c ON c.source = bs.source AND c.lang = bl.lang
        |  CROSS JOIN tot),
        |agg AS (
        |  SELECT source, n_s, n_tot,
        |         CAST(SUM(ABS(n_sl * n_tot - n_s * n_l)) AS BIGINT) AS sum_dev
        |  FROM grid GROUP BY 1, 2, 3)
        |SELECT source, n_s AS n_docs, sum_dev,
        |       CAST(sum_dev AS DOUBLE) / CAST(2 * n_s * n_tot AS DOUBLE) AS tv,
        |       CAST(sum_dev AS DOUBLE) / CAST(2 * n_s * n_tot AS DOUBLE) > 0.05
        |         AS drifted
        |FROM agg ORDER BY source""".stripMargin,
    "qc_cardinality_profile" -> {
      import graft.ext.{Hashing, HyperLogLog}
      val m = HyperLogLog.M
      s"""WITH stacked AS (
         |  SELECT DISTINCT 'l_orderkey' AS col_name, CAST(l_orderkey AS VARCHAR) AS v FROM lineitem
         |  UNION ALL SELECT DISTINCT 'l_partkey', CAST(l_partkey AS VARCHAR) FROM lineitem
         |  UNION ALL SELECT DISTINCT 'l_suppkey', CAST(l_suppkey AS VARCHAR) FROM lineitem
         |  UNION ALL SELECT DISTINCT 'l_returnflag', l_returnflag FROM lineitem
         |  UNION ALL SELECT DISTINCT 'l_shipdate', CAST(CAST(l_shipdate AS DATE) AS VARCHAR) FROM lineitem),
         |h AS (SELECT col_name, ${Hashing.duckHash("v")} AS h FROM stacked),
         |regs AS (
         |  SELECT col_name, CAST(h % $m AS INT) AS bucket,
         |         MAX(CASE WHEN h // $m = 0 THEN 53
         |                  ELSE 53 - length(bin(h // $m)) END) AS mj
         |  FROM h GROUP BY 1, 2),
         |filled AS (
         |  SELECT c.col_name, CAST(bs.b AS INT) AS bucket, COALESCE(regs.mj, 0) AS mj
         |  FROM (SELECT DISTINCT col_name FROM h) c
         |  CROSS JOIN (SELECT unnest(range(0, $m)) AS b) bs
         |  LEFT JOIN regs ON c.col_name = regs.col_name AND bs.b = regs.bucket),
         |est AS (
         |  SELECT col_name, 0.7213 / (1 + 1.079 / $m) * $m * $m / list_reduce(
         |    list_prepend(0.0, [pow(2.0, -CAST(mj AS DOUBLE))
         |                       for mj in list(mj ORDER BY bucket)]),
         |    (acc, v) -> acc + v) AS est_distinct
         |  FROM filled GROUP BY col_name),
         |fl AS (
         |  SELECT col_name, COUNT(*) AS n_filled_regs FROM regs GROUP BY 1),
         |exact AS (
         |  SELECT col_name, COUNT(*) AS true_distinct
         |  FROM stacked GROUP BY 1)
         |SELECT est.col_name, est_distinct, n_filled_regs,
         |       CASE WHEN est_distinct < 2.5 * $m THEN 'linear_counting'
         |            ELSE 'raw' END AS regime,
         |       true_distinct
         |FROM est
         |JOIN fl ON est.col_name = fl.col_name
         |JOIN exact ON est.col_name = exact.col_name
         |ORDER BY est.col_name""".stripMargin
    },
    "qc_null_profile" -> {
      val cols = Seq("o_orderkey", "o_custkey", "o_orderstatus",
        "o_totalprice", "o_orderdate", "o_orderpriority")
      cols.map(c =>
        s"""SELECT '$c' AS col_name, COUNT(*) AS n_rows,
           |  CAST(SUM(CASE WHEN $c IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls,
           |  COUNT(DISTINCT $c) AS n_distinct,
           |  CAST(COUNT(*) - SUM(CASE WHEN $c IS NULL THEN 1 ELSE 0 END) AS DOUBLE)
           |    / COUNT(*) AS completeness
           |FROM orders""".stripMargin).mkString("", "\nUNION ALL\n",
        "\nORDER BY col_name")
    },
    "qc_chi_square" ->
      """WITH cells AS (
        |  SELECT event_type, day(ts) % 2 AS half, COUNT(*) AS o
        |  FROM events GROUP BY 1, 2),
        |r AS (SELECT event_type, CAST(SUM(o) AS HUGEINT) AS r
        |      FROM cells GROUP BY 1),
        |c AS (SELECT half, CAST(SUM(o) AS HUGEINT) AS c FROM cells GROUP BY 1),
        |tot AS (SELECT CAST(SUM(o) AS HUGEINT) AS n FROM cells),
        |terms AS (
        |  SELECT cells.event_type, cells.half,
        |         CAST(CAST(o AS HUGEINT) * n - r.r * c.c AS DOUBLE) AS diff,
        |         CAST(n * r.r * c.c AS DOUBLE) AS den
        |  FROM cells JOIN r USING (event_type) JOIN c USING (half)
        |  CROSS JOIN tot)
        |SELECT CAST((SELECT n FROM tot) AS BIGINT) AS n_events,
        |       (SELECT COUNT(DISTINCT event_type) FROM cells) AS n_types,
        |       (SELECT COUNT(DISTINCT event_type) FROM cells) - 1 AS dof,
        |       list_reduce(
        |         list_prepend(0.0, list(diff * diff / den ORDER BY event_type, half)),
        |         (acc, v) -> acc + v) AS chi2
        |FROM terms""".stripMargin,
    "qc_k_anonymity" ->
      """SELECT c_nationkey, c_mktsegment,
        |       COUNT(*) AS n_rows,
        |       COUNT(DISTINCT CASE WHEN c_acctbal < 0 THEN 'neg'
        |                           WHEN c_acctbal < 5000 THEN 'low'
        |                           ELSE 'high' END) AS l_vals,
        |       COUNT(*) >= 5 AS k_ok,
        |       COUNT(DISTINCT CASE WHEN c_acctbal < 0 THEN 'neg'
        |                           WHEN c_acctbal < 5000 THEN 'low'
        |                           ELSE 'high' END) >= 2 AS l_ok
        |FROM customer
        |GROUP BY c_nationkey, c_mktsegment
        |ORDER BY c_nationkey, c_mktsegment""".stripMargin,
    "qc_benford" ->
      """WITH d AS (
        |  SELECT CAST(substr(CAST(CAST(floor(o_totalprice) AS BIGINT) AS VARCHAR), 1, 1) AS INT) AS digit
        |  FROM orders),
        |g AS (SELECT digit, COUNT(*) AS n FROM d GROUP BY digit),
        |t AS (SELECT CAST(SUM(n) AS BIGINT) AS total FROM g)
        |SELECT digit, n, CAST(n AS DOUBLE) / total AS share
        |FROM g CROSS JOIN t ORDER BY digit""".stripMargin,
    "qc_table_checksum" -> {
      import graft.ext.Hashing
      def one(name: String, table: String, cols: Seq[String]) =
        s"""SELECT '$name' AS table_name, COUNT(*) AS n_rows,
           |  CAST(SUM(${Hashing.duckHash(
                s"concat_ws('|', ${cols.mkString(", ")})")}) AS VARCHAR) AS checksum
           |FROM $table""".stripMargin
      s"""SELECT * FROM (
         |${one("nation", "nation", Seq("n_nationkey", "n_name", "n_regionkey"))}
         |UNION ALL
         |${one("region", "region", Seq("r_regionkey", "r_name"))}
         |UNION ALL
         |${one("supplier", "supplier", Seq("s_suppkey", "s_name", "s_nationkey"))})
         |ORDER BY table_name""".stripMargin
    },
    "qc_constraint_suite" ->
      (suiteSql("lineitem", "orders") + "\nORDER BY check_name"),
    "qc_metric_drift" -> {
      val prevSuite = suiteSql(
        "(SELECT * FROM lineitem WHERE l_orderkey % 10 <> 0)",
        "(SELECT * FROM orders WHERE o_orderkey % 10 <> 0)")
      s"""WITH prev AS (
         |${prevSuite}
         |), cur AS (
         |${suiteSql("lineitem", "orders")}
         |)
         |SELECT check_name, prev_metric, cur_metric, threshold, rel_drift,
         |       coalesce(abs(rel_drift) <= threshold, false) AS drift_ok
         |FROM (
         |  SELECT c.check_name, p.metric AS prev_metric, c.metric AS cur_metric,
         |         CASE WHEN c.check_name = 'size_ge_1000' THEN 0.15 ELSE 0.01 END AS threshold,
         |         CASE WHEN p.metric = 0.0 AND c.metric = 0.0 THEN 0.0
         |              WHEN p.metric = 0.0 THEN NULL
         |              ELSE (c.metric - p.metric) / p.metric END AS rel_drift
         |  FROM cur c JOIN prev p ON c.check_name = p.check_name)
         |ORDER BY check_name""".stripMargin
    },
    "qc_freshness" ->
      """WITH bt AS (
        |  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_events,
        |         MAX(epoch_us(ts)) AS latest_us
        |  FROM events GROUP BY 1),
        |hwm AS (SELECT MAX(epoch_us(ts)) AS corpus_max_us FROM events)
        |SELECT event_type, n_events,
        |       CAST((corpus_max_us - latest_us) // 60000000 AS BIGINT)
        |         AS lag_minutes,
        |       (corpus_max_us - latest_us) // 60000000 > 60 AS stale
        |FROM bt CROSS JOIN hwm
        |ORDER BY event_type""".stripMargin,
    "qc_referential" -> {
      // one CTE pair per FK edge: child keyed to (k, cnt) first, orphans
      // via NOT EXISTS against the parent key column — mirrors the
      // aggregate-then-anti-join plan exactly
      def edgeSql(name: String, child: String, key: String,
          parent: String, pkey: String): String =
        s"""SELECT '$name' AS edge, t.child_rows, t.child_keys,
           |       t.null_fk_rows, o.orphan_rows, o.orphan_keys
           |FROM (
           |  SELECT CAST(COUNT(*) AS BIGINT) AS child_rows,
           |         CAST(COUNT(DISTINCT $key) AS BIGINT) AS child_keys,
           |         CAST(SUM(CASE WHEN $key IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_fk_rows
           |  FROM $child) t,
           |(
           |  SELECT CAST(COALESCE(SUM(cnt), 0) AS BIGINT) AS orphan_rows,
           |         CAST(COUNT(*) AS BIGINT) AS orphan_keys
           |  FROM (SELECT CAST($key AS BIGINT) AS k, COUNT(*) AS cnt
           |        FROM $child WHERE $key IS NOT NULL GROUP BY 1) c
           |  WHERE NOT EXISTS (SELECT 1 FROM $parent p
           |                    WHERE CAST(p.$pkey AS BIGINT) = c.k)) o""".stripMargin
      Seq(
        edgeSql("customer.c_nationkey->nation.n_nationkey",
          "customer", "c_nationkey", "nation", "n_nationkey"),
        edgeSql("lineitem.l_orderkey->orders.o_orderkey",
          "lineitem", "l_orderkey", "orders", "o_orderkey"),
        edgeSql("lineitem.l_partkey->part.p_partkey",
          "lineitem", "l_partkey", "part", "p_partkey"),
        edgeSql("lineitem.l_suppkey->supplier.s_suppkey",
          "lineitem", "l_suppkey", "supplier", "s_suppkey"),
        edgeSql("nation.n_regionkey->region.r_regionkey",
          "nation", "n_regionkey", "region", "r_regionkey"),
        edgeSql("orders.o_custkey->customer.c_custkey",
          "orders", "o_custkey", "customer", "c_custkey"),
        edgeSql("supplier.s_nationkey->nation.n_nationkey",
          "supplier", "s_nationkey", "nation", "n_nationkey"))
        .mkString("", "\nUNION ALL\n", "\nORDER BY edge")
    },
    "qc_sequence_gaps" -> {
      def auditSql(name: String, table: String, key: String): String =
        s"""SELECT '$name' AS col_name, sp.n_keys, sp.min_key, sp.max_key,
           |       sp.max_key - sp.min_key + 1 - sp.n_keys AS n_missing,
           |       isl.n_islands, isl.n_islands - 1 AS n_gaps
           |FROM (
           |  SELECT CAST(COUNT(*) AS BIGINT) AS n_keys,
           |         MIN(k) AS min_key, MAX(k) AS max_key
           |  FROM (SELECT DISTINCT CAST($key AS BIGINT) AS k FROM $table)) sp,
           |(
           |  SELECT CAST(COUNT(*) AS BIGINT) AS n_islands
           |  FROM (SELECT DISTINCT CAST($key AS BIGINT) AS k FROM $table) a
           |  WHERE NOT EXISTS (
           |    SELECT 1 FROM (SELECT DISTINCT CAST($key AS BIGINT) AS k FROM $table) b
           |    WHERE b.k = a.k - 1)) isl""".stripMargin
      auditSql("c_custkey", "customer", "c_custkey") +
        "\nUNION ALL\n" + auditSql("o_orderkey", "orders", "o_orderkey") +
        "\nUNION ALL\n" + auditSql("o_orderkey_urgent",
          "(SELECT * FROM orders WHERE o_orderpriority = '1-URGENT')",
          "o_orderkey") +
        "\nORDER BY col_name"
    },
    "qc_ks_test" ->
      """WITH b AS (
        |  SELECT CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT) // 100000 AS bucket,
        |         CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 2 END AS g
        |  FROM orders WHERE o_orderpriority IN ('1-URGENT', '5-LOW')),
        |bi AS (
        |  SELECT bucket,
        |         CAST(SUM(CASE WHEN g = 1 THEN 1 ELSE 0 END) AS BIGINT) AS d1,
        |         CAST(SUM(CASE WHEN g = 2 THEN 1 ELSE 0 END) AS BIGINT) AS d2
        |  FROM b GROUP BY 1),
        |cum AS (
        |  SELECT CAST(SUM(d1) OVER (ORDER BY bucket) AS BIGINT) AS c1,
        |         CAST(SUM(d2) OVER (ORDER BY bucket) AS BIGINT) AS c2
        |  FROM bi),
        |tot AS (SELECT CAST(SUM(d1) AS BIGINT) AS n1,
        |               CAST(SUM(d2) AS BIGINT) AS n2 FROM bi),
        |dev AS (
        |  SELECT CAST(MAX(ABS(c1 * n2 - c2 * n1)) AS BIGINT) AS ks_num,
        |         MAX(n1) AS n1, MAX(n2) AS n2
        |  FROM cum, tot)
        |SELECT n1, n2, ks_num,
        |       CAST(ks_num AS DOUBLE)
        |         / (CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)) AS ks_d,
        |       CAST('1.3581' AS DOUBLE)
        |         * sqrt(CAST(n1 + n2 AS DOUBLE)
        |                / (CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE))) AS ks_crit,
        |       CAST(ks_num AS DOUBLE)
        |         / (CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE))
        |         > CAST('1.3581' AS DOUBLE)
        |           * sqrt(CAST(n1 + n2 AS DOUBLE)
        |                  / (CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE))) AS drift
        |FROM dev""".stripMargin,
    "x_group_by_all" -> groupOrderAllSql,
    "x_sql_udf" ->
      """SELECT l_returnflag,
        |       CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(12,2))
        |                     * (1 - CAST(l_discount AS DECIMAL(4,2)))
        |                AS DECIMAL(18,4))) AS DOUBLE) AS net_revenue,
        |       COUNT(*) AS n
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin
  )
}
