package graft.ops

import graft.{Det, Tables}
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Classic TPC-H-shaped analytics over the test tables (the schema is
  * TPC-H-ish, so the canonical queries express directly): pricing summary
  * (Q1), shipping priority (Q3), local-supplier volume (Q5), revenue
  * forecast (Q6). All aggregates decimal-exact per [[graft.Det]].
  */
object TpchOps {

  /** Q1 — pricing summary report: full-scan aggregate with derived
    * measures, the canonical columnar-scan + hash-agg stress test.
    */
  def q1Pricing(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      // date(ts) <= 1998-09-02  ⟺  ts < 1998-09-03 00:00 — comparing the
      // raw timestamp column (no to_date() wrapper) lets the predicate
      // reach the parquet reader, which prunes row groups on min/max
      // stats; the to_date() form read every row group.
      .filter(col("l_shipdate") < lit("1998-09-03").cast("timestamp"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        Det.dsum(col("l_quantity")).as("sum_qty"),
        Det.dsum(col("l_extendedprice")).as("sum_base_price"),
        Det.revenue(col("l_extendedprice"), col("l_discount")).as("sum_disc_price"),
        Det.charge(col("l_extendedprice"), col("l_discount"), col("l_tax"))
          .as("sum_charge"),
        Det.davg(col("l_quantity")).as("avg_qty"),
        Det.davg(col("l_extendedprice")).as("avg_price"),
        Det.davg(col("l_discount")).as("avg_disc"),
        count(lit(1)).as("count_order"))
      .orderBy(col("l_returnflag"), col("l_linestatus"))

  /** Q3 — shipping priority: selective filters on both join sides pushed
    * to the scans, big⋈big join, top-10 by revenue.
    */
  def q3Shipping(s: SparkSession, d: String): DataFrame = {
    val c = Tables.customer(s, d).filter(col("c_mktsegment") === "BUILDING")
    // raw-timestamp comparisons (pushdown-able); date(ts) < d ⟺ ts < d,
    // date(ts) > d ⟺ ts >= d+1 day
    val o = Tables.orders(s, d)
      .filter(col("o_orderdate") < lit("1995-03-15").cast("timestamp"))
    val li = Tables.lineitem(s, d)
      .filter(col("l_shipdate") >= lit("1995-03-16").cast("timestamp"))
    li.join(o, li("l_orderkey") === o("o_orderkey"))
      .join(broadcast(c), o("o_custkey") === c("c_custkey"))
      .groupBy(col("l_orderkey"), to_date(col("o_orderdate")).as("o_orderdate"),
        col("o_orderpriority"))
      .agg(Det.revenue(col("l_extendedprice"), col("l_discount")).as("revenue"))
      .orderBy(desc("revenue"), col("l_orderkey"))
      .limit(10)
  }

  /** Q5 — local-supplier volume: the 6-way join (region→nation→customer→
    * orders→lineitem→supplier) with the nation-match condition, revenue
    * per nation.
    */
  def q5LocalVolume(s: SparkSession, d: String): DataFrame = {
    val r = Tables.region(s, d).filter(col("r_name") === "ASIA")
    val n = Tables.nation(s, d)
    val c = Tables.customer(s, d)
    val o = Tables.orders(s, d)
    val li = Tables.lineitem(s, d)
    val sup = Tables.supplier(s, d)
    li.join(o, li("l_orderkey") === o("o_orderkey"))
      .join(c, o("o_custkey") === c("c_custkey"))
      .join(sup, li("l_suppkey") === sup("s_suppkey")
        && c("c_nationkey") === sup("s_nationkey"))
      .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
      .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
      .groupBy(col("n_name"))
      .agg(Det.revenue(col("l_extendedprice"), col("l_discount")).as("revenue"),
        count(lit(1)).as("n_items"))
      .orderBy(desc("revenue"), col("n_name"))
  }

  /** Q6 — revenue forecast: pure scan-filter-aggregate; every predicate
    * must reach the parquet reader.
    */
  def q6Forecast(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .filter(col("l_shipdate") >= lit("1995-01-01").cast("timestamp")
        && col("l_shipdate") < lit("1996-01-01").cast("timestamp")
        && col("l_discount") >= 0.02 && col("l_discount") <= 0.04
        && col("l_quantity") < 24)
      .agg(sum(Det.money(col("l_extendedprice")) * Det.rate(col("l_discount")))
        .cast("double").as("revenue"),
        count(lit(1)).as("n_items"))

  /** Q14 — promotion effect: the share of one month's revenue coming from
    * PROMO parts. Ratio of two decimal-exact sums (cast to double only for
    * the final division, so the result is partitioning-independent); the
    * part dim broadcasts, lineitem's date filter reaches the scan.
    */
  def q14Promo(s: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(s, d)
      .filter(col("l_shipdate") >= lit("1995-09-01").cast("timestamp")
        && col("l_shipdate") < lit("1995-10-01").cast("timestamp"))
    val p = Tables.part(s, d).select(col("p_partkey"), col("p_type"))
    li.join(broadcast(p), li("l_partkey") === p("p_partkey"))
      .agg(
        sum(when(col("p_type").startsWith("PROMO"),
          Det.money(col("l_extendedprice")) * Det.oneMinus(col("l_discount")))
          .otherwise(lit(0).cast(DecimalType(14, 4)))).cast("double")
          .as("promo_revenue"),
        Det.revenue(col("l_extendedprice"), col("l_discount")).as("total_revenue"))
      .withColumn("promo_pct",
        lit(100.0) * col("promo_revenue") / col("total_revenue"))
  }

  /** Q18 — large-volume customers: orders whose total quantity exceeds a
    * threshold, joined back to customer. The qualifying-orders frame is the
    * output of a keyed aggregate (small), so it broadcasts into the orders
    * join rather than re-shuffling orders.
    */
  def q18LargeVolume(s: SparkSession, d: String): DataFrame = {
    val big = Tables.lineitem(s, d)
      .groupBy(col("l_orderkey"))
      .agg(Det.dsum(col("l_quantity")).as("sum_qty"))
      .filter(col("sum_qty") > 300.0)
    val o = Tables.orders(s, d)
    val c = Tables.customer(s, d)
    // Only the aggregated qualifying-orders frame is guaranteed small
    // (filter keeps a handful of orders at any SF); customer scales with
    // the data, so its join strategy is left to the planner/AQE.
    o.join(broadcast(big), o("o_orderkey") === big("l_orderkey"))
      .join(c, o("o_custkey") === c("c_custkey"))
      .select(col("c_name"), col("c_custkey"), col("o_orderkey"),
        to_date(col("o_orderdate")).as("o_orderdate"),
        col("o_totalprice"), col("sum_qty"))
      .orderBy(desc("o_totalprice"), col("o_orderkey"))
      .limit(100)
  }

  // ---------------------------------------------------------------------
  // The rest of the TPC-H suite, adapted to the testdata's schema subset:
  // no partsupp table (q2/q9/q11/q16/q20 stay n/a — documented in
  // SURVEY.md §2.1), no l_commitdate/l_receiptdate/l_shipmode (the
  // "late line" predicate becomes l_shipdate > o_orderdate + 90 days and
  // q12 groups by l_returnflag instead of shipmode), no c_phone/o_comment
  // (q13/q22 substitute o_orderpriority / c_nationkey-derived codes).
  // Query SHAPE — join graph, subquery structure, aggregation grain,
  // output ordering — matches the canonical TPC-H definition.
  // ---------------------------------------------------------------------

  /** A line is "late" when it ships more than 90 days after the order date
    * (testdata has no commit/receipt dates). Timestamps are midnight-
    * aligned so the interval comparison is exact in both engines.
    */
  private val lateLine = col("l_shipdate") >
    col("o_orderdate") + expr("INTERVAL 90 DAYS")
  private val lateSql = "l_shipdate > o_orderdate + INTERVAL 90 DAY"

  /** Q4 — order-priority checking: quarter of orders, EXISTS a late line.
    * The DataFrame form is an explicit LEFT SEMI join — exactly what
    * Catalyst decorrelates the EXISTS into, with the per-row late
    * condition as a join predicate (evaluated post-shuffle, no
    * materialized intermediate).
    */
  def q4OrderPriority(s: SparkSession, d: String): DataFrame = {
    val o = Tables.orders(s, d)
      .filter(col("o_orderdate") >= lit("1996-07-01").cast("timestamp")
        && col("o_orderdate") < lit("1996-10-01").cast("timestamp"))
    val li = Tables.lineitem(s, d).select(col("l_orderkey"), col("l_shipdate"))
    o.join(li, li("l_orderkey") === o("o_orderkey") && lateLine, "left_semi")
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("order_count"))
      .orderBy(col("o_orderpriority"))
  }

  /** Q7 — volume shipping between two nations: the nation filter is pushed
    * INTO the supplier and customer frames before the big joins (2 of 25
    * nations survive, so both join inputs shrink ~12× before any shuffle);
    * the asymmetric pair condition is applied on the joined result.
    */
  def q7VolumeShipping(s: SparkSession, d: String): DataFrame = {
    val pair = Seq("NATION_1", "NATION_2")
    val n = Tables.nation(s, d).filter(col("n_name").isin(pair: _*))
    val sup = Tables.supplier(s, d)
      .join(broadcast(n), col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"), col("n_name").as("supp_nation"))
    val cust = Tables.customer(s, d)
      .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
      .select(col("c_custkey"), col("n_name").as("cust_nation"))
    val li = Tables.lineitem(s, d)
      .filter(col("l_shipdate") >= lit("1995-01-01").cast("timestamp")
        && col("l_shipdate") < lit("1997-01-01").cast("timestamp"))
    val o = Tables.orders(s, d)
    li.join(o, li("l_orderkey") === o("o_orderkey"))
      .join(cust, o("o_custkey") === cust("c_custkey"))
      .join(sup, li("l_suppkey") === sup("s_suppkey"))
      .filter((col("supp_nation") === pair(0) && col("cust_nation") === pair(1))
        || (col("supp_nation") === pair(1) && col("cust_nation") === pair(0)))
      .groupBy(col("supp_nation"), col("cust_nation"),
        year(col("l_shipdate")).as("l_year"))
      .agg(Det.revenue(col("l_extendedprice"), col("l_discount")).as("revenue"))
      .orderBy(col("supp_nation"), col("cust_nation"), col("l_year"))
  }

  /** Q8 — national market share: one nation's share of AMERICA-region
    * ECONOMY-part revenue by order year. Share is a ratio of two
    * decimal-exact sums (numerator via CASE), cast to double only at the
    * division — partitioning-independent.
    */
  def q8MarketShare(s: SparkSession, d: String): DataFrame = {
    val amNations = Tables.nation(s, d)
      .join(broadcast(Tables.region(s, d).filter(col("r_name") === "AMERICA")),
        col("n_regionkey") === col("r_regionkey"))
      .select(col("n_nationkey"))
    val cust = Tables.customer(s, d)
      .join(broadcast(amNations), col("c_nationkey") === col("n_nationkey"))
      .select(col("c_custkey"))
    val pf = Tables.part(s, d).filter(col("p_type") === "ECONOMY")
      .select(col("p_partkey"))
    val supN = Tables.supplier(s, d)
      .join(broadcast(Tables.nation(s, d)
        .select(col("n_nationkey"), col("n_name"))),
        col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"), col("n_name").as("supp_nation"))
    val o = Tables.orders(s, d)
      .filter(col("o_orderdate") >= lit("1995-01-01").cast("timestamp")
        && col("o_orderdate") < lit("1997-01-01").cast("timestamp"))
    val vol = Det.money(col("l_extendedprice")) * Det.oneMinus(col("l_discount"))
    Tables.lineitem(s, d)
      .join(broadcast(pf), col("l_partkey") === col("p_partkey"))
      .join(o, col("l_orderkey") === col("o_orderkey"))
      .join(cust, col("o_custkey") === col("c_custkey"))
      .join(supN, col("l_suppkey") === col("s_suppkey"))
      .groupBy(year(col("o_orderdate")).as("o_year"))
      .agg(
        sum(when(col("supp_nation") === "NATION_5", vol)
          .otherwise(lit(0).cast(DecimalType(14, 4)))).cast("double")
          .as("nation_volume"),
        sum(vol).cast("double").as("total_volume"))
      .withColumn("mkt_share", col("nation_volume") / col("total_volume"))
      .orderBy(col("o_year"))
  }

  /** Q10 — returned-item reporting: revenue lost to returns per customer
    * in one quarter, top 20. Customer/nation attributes ride the
    * aggregation key (same grain as grouping by c_custkey alone).
    */
  def q10ReturnedItems(s: SparkSession, d: String): DataFrame = {
    val o = Tables.orders(s, d)
      .filter(col("o_orderdate") >= lit("1995-10-01").cast("timestamp")
        && col("o_orderdate") < lit("1996-01-01").cast("timestamp"))
    val li = Tables.lineitem(s, d).filter(col("l_returnflag") === "R")
    val c = Tables.customer(s, d)
    val n = Tables.nation(s, d)
    li.join(o, li("l_orderkey") === o("o_orderkey"))
      .join(c, o("o_custkey") === c("c_custkey"))
      .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
      .groupBy(col("c_custkey"), col("c_name"), col("c_acctbal"), col("n_name"))
      .agg(Det.revenue(col("l_extendedprice"), col("l_discount")).as("revenue"))
      .orderBy(desc("revenue"), col("c_custkey"))
      .limit(20)
  }

  /** Q12 — late-line priority audit (shipmode→returnflag adapted): for
    * late lines in one year, how many belong to critical-priority orders
    * vs not, per return flag. Sums of 0/1 CASE columns are exact longs.
    */
  def q12LatePriority(s: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(s, d)
      .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp")
        && col("l_shipdate") < lit("1997-01-01").cast("timestamp"))
    val o = Tables.orders(s, d)
    val critical = col("o_orderpriority") === "1-URGENT" ||
      col("o_orderpriority") === "2-HIGH"
    li.join(o, li("l_orderkey") === o("o_orderkey"))
      .filter(lateLine)
      .groupBy(col("l_returnflag"))
      .agg(
        sum(when(critical, 1L).otherwise(0L)).as("high_line_count"),
        sum(when(critical, 0L).otherwise(1L)).as("low_line_count"))
      .orderBy(col("l_returnflag"))
  }

  /** Q13 — customer order-count distribution: LEFT join so zero-order
    * customers keep a row (count=0 bucket), with the exclusion filter as
    * a JOIN predicate, not a WHERE (a WHERE would silently turn the outer
    * join inner). Two inherent shuffles: per-customer count, then the
    * count-of-counts.
    */
  def q13OrderDistribution(s: SparkSession, d: String): DataFrame = {
    val c = Tables.customer(s, d)
    val o = Tables.orders(s, d)
    c.join(o, c("c_custkey") === o("o_custkey")
        && o("o_orderpriority") =!= "4-NOT SPECIFIED", "left")
      .groupBy(col("c_custkey"))
      .agg(count(col("o_orderkey")).as("c_count"))
      .groupBy(col("c_count"))
      .agg(count(lit(1)).as("custdist"))
      .orderBy(desc("custdist"), desc("c_count"))
  }

  /** Q15 — top supplier: quarter revenue per supplier, keep the max.
    * The scalar max comes from a single-row aggregate broadcast into an
    * equality join — no window over one partition. The `rev` frame feeds
    * BOTH the join and the max; the explicit isNotNull below makes the
    * two subplans canonically identical so exchange reuse collapses them
    * (without it, the inner join infers isnotnull(l_suppkey) on its side
    * only and the lineitem quarter is scanned+shuffled twice —
    * PlanSpec-asserted). Revenue totals are decimal-exact so the
    * max-equality is engine-independent.
    */
  def q15TopSupplier(s: SparkSession, d: String): DataFrame = {
    val rev = Tables.lineitem(s, d)
      .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp")
        && col("l_shipdate") < lit("1996-04-01").cast("timestamp")
        && col("l_suppkey").isNotNull)
      .groupBy(col("l_suppkey"))
      .agg(Det.revenue(col("l_extendedprice"), col("l_discount"))
        .as("total_revenue"))
    val mx = rev.agg(max(col("total_revenue")).as("mx"))
    Tables.supplier(s, d)
      .join(rev, col("s_suppkey") === col("l_suppkey"))
      .join(broadcast(mx), col("total_revenue") === col("mx"))
      .select(col("s_suppkey"), col("s_name"), col("total_revenue"))
      .orderBy(col("s_suppkey"))
  }

  /** Q17 — small-quantity-order revenue: lines under 20% of their part's
    * average quantity. The correlated AVG becomes a per-part aggregate
    * joined back; the threshold predicate is INTEGER-exact
    * (qty×5×n < Σqty, quantities are integral) so the boundary can't
    * drift between engines. Parts are filtered FIRST and broadcast, so
    * both lineitem passes touch only the ~1/120 matching subset.
    */
  def q17SmallQuantity(s: SparkSession, d: String): DataFrame = {
    val pk = Tables.part(s, d)
      .filter(col("p_brand") === "Brand#13" && col("p_type") === "MEDIUM")
      .select(col("p_partkey"))
    val li = Tables.lineitem(s, d)
      .join(broadcast(pk), col("l_partkey") === col("p_partkey"))
      .select(col("l_partkey"), col("l_quantity"), col("l_extendedprice"))
    val stats = li.groupBy(col("l_partkey").as("sp_partkey"))
      .agg(count(lit(1)).as("cnt"),
        sum(col("l_quantity").cast("bigint")).as("qty_sum"))
    li.join(stats, col("l_partkey") === col("sp_partkey"))
      .filter(col("l_quantity").cast("bigint") * lit(5L) * col("cnt")
        < col("qty_sum"))
      .agg((Det.dsum(col("l_extendedprice"), scale = 2) / lit(7.0))
        .as("avg_yearly"),
        count(lit(1)).as("n_lines"))
  }

  /** Q19 — discounted revenue for three disjunctive brand/size/quantity
    * clauses (shipmode/instruct legs dropped with the columns). One
    * broadcast hash join; the disjunction collapses into a single filter
    * Catalyst evaluates post-join — no union of three scans.
    */
  def q19DiscountedRevenue(s: SparkSession, d: String): DataFrame = {
    val p = Tables.part(s, d)
      .select(col("p_partkey"), col("p_brand"), col("p_size"))
    val li = Tables.lineitem(s, d)
    def clause(brand: String, szLo: Int, szHi: Int, qLo: Int, qHi: Int) =
      col("p_brand") === brand &&
        col("p_size").between(szLo, szHi) &&
        col("l_quantity") >= qLo && col("l_quantity") <= qHi
    li.join(broadcast(p), li("l_partkey") === p("p_partkey"))
      .filter(clause("Brand#12", 1, 5, 1, 11)
        || clause("Brand#23", 1, 10, 10, 20)
        || clause("Brand#34", 1, 15, 20, 30))
      .agg(Det.revenue(col("l_extendedprice"), col("l_discount")).as("revenue"),
        count(lit(1)).as("n_items"))
  }

  /** Q21 — suppliers who kept orders waiting: late lines in multi-supplier
    * finished orders where this supplier was the ONLY late one. The
    * EXISTS/NOT-EXISTS pair becomes one per-order aggregate (distinct
    * suppliers, distinct LATE suppliers) joined back — one extra shuffle
    * instead of two correlated anti/semi joins over lineitem.
    */
  def q21WaitingSuppliers(s: SparkSession, d: String): DataFrame = {
    val o = Tables.orders(s, d).filter(col("o_orderstatus") === "F")
    val lo = Tables.lineitem(s, d)
      .join(o, col("l_orderkey") === col("o_orderkey"))
      .select(col("l_orderkey"), col("l_suppkey"),
        lateLine.cast("int").as("late"))
    val st = lo.groupBy(col("l_orderkey").as("st_orderkey"))
      .agg(countDistinct(col("l_suppkey")).as("n_supp"),
        countDistinct(when(col("late") === 1, col("l_suppkey"))).as("n_late"))
    val n = Tables.nation(s, d).filter(col("n_name") === "NATION_3")
    lo.filter(col("late") === 1)
      .join(st, col("l_orderkey") === col("st_orderkey"))
      .filter(col("n_supp") > 1 && col("n_late") === 1)
      .join(Tables.supplier(s, d), col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(n), col("s_nationkey") === col("n_nationkey"))
      .groupBy(col("s_name"))
      .agg(count(lit(1)).as("numwait"))
      .orderBy(desc("numwait"), col("s_name"))
      .limit(100)
  }

  /** Q22 — global sales opportunity: above-average-balance customers with
    * no urgent orders (every testdata customer HAS orders, so the NOT
    * EXISTS probes urgent orders instead), bucketed by a nationkey-derived
    * code. Threshold is a decimal-exact scalar broadcast; the NOT EXISTS
    * is an explicit LEFT ANTI join.
    */
  def q22SalesOpportunity(s: SparkSession, d: String): DataFrame = {
    val codes = Seq(0, 1, 2)
    val cust = Tables.customer(s, d)
      .withColumn("cntrycode", col("c_nationkey") % 5)
      .filter(col("cntrycode").isin(codes: _*))
    val thr = cust.filter(col("c_acctbal") > 0.0)
      .agg(Det.davg(col("c_acctbal"), scale = 2).as("thr"))
    val urgent = Tables.orders(s, d)
      .filter(col("o_orderpriority") === "1-URGENT")
      .select(col("o_custkey"))
    cust.join(broadcast(thr), col("c_acctbal") > col("thr"))
      .join(urgent, col("c_custkey") === col("o_custkey"), "left_anti")
      .groupBy(col("cntrycode"))
      .agg(count(lit(1)).as("numcust"),
        Det.dsum(col("c_acctbal"), scale = 2).as("totacctbal"))
      .orderBy(col("cntrycode"))
  }

  case class Item(l_orderkey: Long, l_quantity: Double, l_returnflag: String)
  case class FlagStats(l_returnflag: String, n_big: Long, max_qty: Double)

  /** Typed Dataset pipeline: case-class encoder, typed filter/map,
    * groupByKey + mapGroups — the compile-time-checked surface for logic
    * that doesn't fit Column expressions. Output matches a plain SQL
    * oracle, proving the typed path computes the same relation.
    */
  def typedPipeline(s: SparkSession, d: String): Dataset[FlagStats] = {
    import s.implicits._
    Tables.lineitem(s, d)
      .select(col("l_orderkey"), col("l_quantity"), col("l_returnflag"))
      .as[Item]
      .filter((i: Item) => i.l_quantity >= 30.0)
      .groupByKey(_.l_returnflag)
      .mapGroups { (flag, items) =>
        var n = 0L; var mx = Double.MinValue
        items.foreach { i => n += 1; if (i.l_quantity > mx) mx = i.l_quantity }
        FlagStats(flag, n, mx)
      }
  }

  def typedQuery(s: SparkSession, d: String): DataFrame =
    typedPipeline(s, d).toDF().orderBy(col("l_returnflag"))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "tpch_q1" -> q1Pricing,
    "tpch_q3" -> q3Shipping,
    "tpch_q5" -> q5LocalVolume,
    "tpch_q6" -> q6Forecast,
    "tpch_q14" -> q14Promo,
    "tpch_q18" -> q18LargeVolume,
    "tpch_q4" -> q4OrderPriority,
    "tpch_q7" -> q7VolumeShipping,
    "tpch_q8" -> q8MarketShare,
    "tpch_q10" -> q10ReturnedItems,
    "tpch_q12" -> q12LatePriority,
    "tpch_q13" -> q13OrderDistribution,
    "tpch_q15" -> q15TopSupplier,
    "tpch_q17" -> q17SmallQuantity,
    "tpch_q19" -> q19DiscountedRevenue,
    "tpch_q21" -> q21WaitingSuppliers,
    "tpch_q22" -> q22SalesOpportunity,
    "ds_typed_pipeline" -> typedQuery
  )

  private val discPrice =
    "CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(4,2)))"
  private val sumQty = graft.Det.sqlSum("l_quantity")
  private val sumPrice = graft.Det.sqlSum("l_extendedprice")

  val oracle: Map[String, String] = Map(
    "tpch_q1" ->
      s"""SELECT l_returnflag, l_linestatus,
         |  $sumQty AS sum_qty,
         |  $sumPrice AS sum_base_price,
         |  CAST(SUM($discPrice) AS DOUBLE) AS sum_disc_price,
         |  CAST(SUM($discPrice * (1 + CAST(l_tax AS DECIMAL(4,2)))) AS DOUBLE) AS sum_charge,
         |  ${graft.Det.sqlAvg("l_quantity")} AS avg_qty,
         |  ${graft.Det.sqlAvg("l_extendedprice")} AS avg_price,
         |  ${graft.Det.sqlAvg("l_discount")} AS avg_disc,
         |  COUNT(*) AS count_order
         |FROM lineitem
         |WHERE CAST(l_shipdate AS DATE) <= DATE '1998-09-02'
         |GROUP BY 1, 2 ORDER BY l_returnflag, l_linestatus""".stripMargin,
    "tpch_q3" ->
      s"""SELECT l_orderkey, CAST(o_orderdate AS DATE) AS o_orderdate,
         |       o_orderpriority,
         |       CAST(SUM($discPrice) AS DOUBLE) AS revenue
         |FROM lineitem
         |JOIN orders ON l_orderkey = o_orderkey
         |JOIN customer ON o_custkey = c_custkey
         |WHERE c_mktsegment = 'BUILDING'
         |  AND CAST(o_orderdate AS DATE) < DATE '1995-03-15'
         |  AND CAST(l_shipdate AS DATE) > DATE '1995-03-15'
         |GROUP BY 1, 2, 3
         |ORDER BY revenue DESC, l_orderkey LIMIT 10""".stripMargin,
    "tpch_q5" ->
      s"""SELECT n_name,
         |       CAST(SUM($discPrice) AS DOUBLE) AS revenue,
         |       COUNT(*) AS n_items
         |FROM lineitem
         |JOIN orders ON l_orderkey = o_orderkey
         |JOIN customer ON o_custkey = c_custkey
         |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
         |JOIN nation ON c_nationkey = n_nationkey
         |JOIN region ON n_regionkey = r_regionkey
         |WHERE r_name = 'ASIA'
         |GROUP BY 1 ORDER BY revenue DESC, n_name""".stripMargin,
    "tpch_q6" ->
      """SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(l_discount AS DECIMAL(4,2))) AS DOUBLE) AS revenue,
        |       COUNT(*) AS n_items
        |FROM lineitem
        |WHERE CAST(l_shipdate AS DATE) >= DATE '1995-01-01'
        |  AND CAST(l_shipdate AS DATE) < DATE '1996-01-01'
        |  AND l_discount >= 0.02 AND l_discount <= 0.04
        |  AND l_quantity < 24""".stripMargin,
    "tpch_q14" ->
      s"""SELECT
         |  CAST(SUM(CASE WHEN p_type LIKE 'PROMO%' THEN $discPrice
         |                ELSE CAST(0 AS DECIMAL(14,4)) END) AS DOUBLE) AS promo_revenue,
         |  CAST(SUM($discPrice) AS DOUBLE) AS total_revenue,
         |  100.0 * CAST(SUM(CASE WHEN p_type LIKE 'PROMO%' THEN $discPrice
         |                        ELSE CAST(0 AS DECIMAL(14,4)) END) AS DOUBLE)
         |        / CAST(SUM($discPrice) AS DOUBLE) AS promo_pct
         |FROM lineitem JOIN part ON l_partkey = p_partkey
         |WHERE CAST(l_shipdate AS DATE) >= DATE '1995-09-01'
         |  AND CAST(l_shipdate AS DATE) < DATE '1995-10-01'""".stripMargin,
    "tpch_q18" ->
      s"""WITH big AS (
         |  SELECT l_orderkey, ${graft.Det.sqlSum("l_quantity")} AS sum_qty
         |  FROM lineitem GROUP BY 1
         |  HAVING ${graft.Det.sqlSum("l_quantity")} > 300.0)
         |SELECT c_name, c_custkey, o_orderkey,
         |       CAST(o_orderdate AS DATE) AS o_orderdate,
         |       o_totalprice, sum_qty
         |FROM orders
         |JOIN big ON o_orderkey = big.l_orderkey
         |JOIN customer ON o_custkey = c_custkey
         |ORDER BY o_totalprice DESC, o_orderkey LIMIT 100""".stripMargin,
    "tpch_q4" ->
      """SELECT o_orderpriority, COUNT(*) AS order_count
        |FROM orders
        |WHERE o_orderdate >= TIMESTAMP '1996-07-01'
        |  AND o_orderdate < TIMESTAMP '1996-10-01'
        |  AND EXISTS (SELECT 1 FROM lineitem
        |              WHERE l_orderkey = o_orderkey
        |                AND l_shipdate > o_orderdate + INTERVAL 90 DAY)
        |GROUP BY 1 ORDER BY o_orderpriority""".stripMargin,
    "tpch_q7" ->
      s"""SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
         |       CAST(year(l_shipdate) AS INT) AS l_year,
         |       CAST(SUM($discPrice) AS DOUBLE) AS revenue
         |FROM lineitem
         |JOIN orders ON l_orderkey = o_orderkey
         |JOIN customer ON o_custkey = c_custkey
         |JOIN supplier ON l_suppkey = s_suppkey
         |JOIN nation n1 ON s_nationkey = n1.n_nationkey
         |JOIN nation n2 ON c_nationkey = n2.n_nationkey
         |WHERE ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
         |    OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
         |  AND l_shipdate >= TIMESTAMP '1995-01-01'
         |  AND l_shipdate < TIMESTAMP '1997-01-01'
         |GROUP BY 1, 2, 3
         |ORDER BY supp_nation, cust_nation, l_year""".stripMargin,
    "tpch_q8" ->
      s"""SELECT CAST(year(o_orderdate) AS INT) AS o_year,
         |  CAST(SUM(CASE WHEN n2.n_name = 'NATION_5' THEN $discPrice
         |                ELSE CAST(0 AS DECIMAL(14,4)) END) AS DOUBLE)
         |    AS nation_volume,
         |  CAST(SUM($discPrice) AS DOUBLE) AS total_volume,
         |  CAST(SUM(CASE WHEN n2.n_name = 'NATION_5' THEN $discPrice
         |                ELSE CAST(0 AS DECIMAL(14,4)) END) AS DOUBLE)
         |    / CAST(SUM($discPrice) AS DOUBLE) AS mkt_share
         |FROM lineitem
         |JOIN part ON l_partkey = p_partkey
         |JOIN orders ON l_orderkey = o_orderkey
         |JOIN customer ON o_custkey = c_custkey
         |JOIN nation n1 ON c_nationkey = n1.n_nationkey
         |JOIN region ON n1.n_regionkey = r_regionkey
         |JOIN supplier ON l_suppkey = s_suppkey
         |JOIN nation n2 ON s_nationkey = n2.n_nationkey
         |WHERE r_name = 'AMERICA' AND p_type = 'ECONOMY'
         |  AND o_orderdate >= TIMESTAMP '1995-01-01'
         |  AND o_orderdate < TIMESTAMP '1997-01-01'
         |GROUP BY 1 ORDER BY o_year""".stripMargin,
    "tpch_q10" ->
      s"""SELECT c_custkey, c_name, c_acctbal, n_name,
         |       CAST(SUM($discPrice) AS DOUBLE) AS revenue
         |FROM lineitem
         |JOIN orders ON l_orderkey = o_orderkey
         |JOIN customer ON o_custkey = c_custkey
         |JOIN nation ON c_nationkey = n_nationkey
         |WHERE l_returnflag = 'R'
         |  AND o_orderdate >= TIMESTAMP '1995-10-01'
         |  AND o_orderdate < TIMESTAMP '1996-01-01'
         |GROUP BY 1, 2, 3, 4
         |ORDER BY revenue DESC, c_custkey LIMIT 20""".stripMargin,
    "tpch_q12" ->
      s"""SELECT l_returnflag,
         |  CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH')
         |                THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
         |  CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH')
         |                THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
         |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         |WHERE l_shipdate >= TIMESTAMP '1996-01-01'
         |  AND l_shipdate < TIMESTAMP '1997-01-01'
         |  AND $lateSql
         |GROUP BY 1 ORDER BY l_returnflag""".stripMargin,
    "tpch_q13" ->
      """SELECT c_count, COUNT(*) AS custdist
        |FROM (SELECT c_custkey, COUNT(o_orderkey) AS c_count
        |      FROM customer
        |      LEFT JOIN orders ON c_custkey = o_custkey
        |        AND o_orderpriority <> '4-NOT SPECIFIED'
        |      GROUP BY 1)
        |GROUP BY 1 ORDER BY custdist DESC, c_count DESC""".stripMargin,
    "tpch_q15" ->
      s"""WITH rev AS (
         |  SELECT l_suppkey, CAST(SUM($discPrice) AS DOUBLE) AS total_revenue
         |  FROM lineitem
         |  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
         |    AND l_shipdate < TIMESTAMP '1996-04-01'
         |  GROUP BY 1)
         |SELECT s_suppkey, s_name, total_revenue
         |FROM supplier JOIN rev ON s_suppkey = l_suppkey
         |WHERE total_revenue = (SELECT MAX(total_revenue) FROM rev)
         |ORDER BY s_suppkey""".stripMargin,
    "tpch_q17" ->
      """WITH li AS (
        |  SELECT l_partkey, l_quantity, l_extendedprice
        |  FROM lineitem JOIN part ON l_partkey = p_partkey
        |  WHERE p_brand = 'Brand#13' AND p_type = 'MEDIUM'),
        |st AS (
        |  SELECT l_partkey AS sp_partkey, COUNT(*) AS cnt,
        |         SUM(CAST(l_quantity AS BIGINT)) AS qty_sum
        |  FROM li GROUP BY 1)
        |SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(30,2))) AS DOUBLE)
        |         / 7.0 AS avg_yearly,
        |       COUNT(*) AS n_lines
        |FROM li JOIN st ON l_partkey = sp_partkey
        |WHERE CAST(l_quantity AS BIGINT) * 5 * cnt < qty_sum""".stripMargin,
    "tpch_q19" ->
      s"""SELECT CAST(SUM($discPrice) AS DOUBLE) AS revenue,
         |       COUNT(*) AS n_items
         |FROM lineitem JOIN part ON l_partkey = p_partkey
         |WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 5
         |       AND l_quantity >= 1 AND l_quantity <= 11)
         |   OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 10
         |       AND l_quantity >= 10 AND l_quantity <= 20)
         |   OR (p_brand = 'Brand#34' AND p_size BETWEEN 1 AND 15
         |       AND l_quantity >= 20 AND l_quantity <= 30)""".stripMargin,
    "tpch_q21" ->
      s"""WITH lo AS (
         |  SELECT l_orderkey, l_suppkey,
         |         CASE WHEN $lateSql THEN 1 ELSE 0 END AS late
         |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         |  WHERE o_orderstatus = 'F'),
         |st AS (
         |  SELECT l_orderkey AS st_orderkey,
         |         COUNT(DISTINCT l_suppkey) AS n_supp,
         |         COUNT(DISTINCT CASE WHEN late = 1 THEN l_suppkey END) AS n_late
         |  FROM lo GROUP BY 1)
         |SELECT s_name, COUNT(*) AS numwait
         |FROM lo
         |JOIN st ON l_orderkey = st_orderkey
         |JOIN supplier ON l_suppkey = s_suppkey
         |JOIN nation ON s_nationkey = n_nationkey
         |WHERE late = 1 AND n_supp > 1 AND n_late = 1
         |  AND n_name = 'NATION_3'
         |GROUP BY 1 ORDER BY numwait DESC, s_name LIMIT 100""".stripMargin,
    "tpch_q22" ->
      s"""WITH cust AS (
         |  SELECT c_custkey, c_acctbal,
         |         CAST(c_nationkey % 5 AS INT) AS cntrycode
         |  FROM customer WHERE c_nationkey % 5 IN (0, 1, 2)),
         |thr AS (
         |  SELECT ${graft.Det.sqlAvg("c_acctbal", 2)} AS thr
         |  FROM cust WHERE c_acctbal > 0.0)
         |SELECT cntrycode, COUNT(*) AS numcust,
         |       ${graft.Det.sqlSum("c_acctbal", 2)} AS totacctbal
         |FROM cust, thr
         |WHERE c_acctbal > thr
         |  AND NOT EXISTS (SELECT 1 FROM orders
         |                  WHERE o_custkey = c_custkey
         |                    AND o_orderpriority = '1-URGENT')
         |GROUP BY 1 ORDER BY cntrycode""".stripMargin,
    "ds_typed_pipeline" ->
      """SELECT l_returnflag, COUNT(*) AS n_big, MAX(l_quantity) AS max_qty
        |FROM lineitem WHERE l_quantity >= 30.0
        |GROUP BY 1 ORDER BY l_returnflag""".stripMargin
  )
}
