package graft

import org.scalatest.funsuite.AnyFunSuite

/** Physical-plan audits (the "would this survive a 100× scale-up" checks):
  * predicate pushdown into the parquet scan, column pruning, broadcast
  * joins for dims, sort-merge for big⋈big, TakeOrderedAndProject for
  * sort+limit, and whole-stage codegen coverage.
  */
class PlanSpec extends AnyFunSuite {
  import TestSpark.{sf, spark}

  // One queryExecution pass per (query, mode), shared across every assert
  // in the suite — the registry-wide sweep plus the per-query tests would
  // otherwise re-plan the same queries, and that cost grows with the
  // registry every round. Safe because each helper pins the confs it
  // depends on and every other conf-touching test restores in `finally`.
  private val planCache = scala.collection.concurrent.TrieMap.empty[(String, Boolean), String]

  private def plan(name: String): String =
    planCache.getOrElseUpdate((name, false),
      SparkEntry.queries(name)(spark, sf).queryExecution.executedPlan.toString)

  /** Plan with AQE off and broadcast disabled — what the planner picks at
    * real scale, where neither side fits in a broadcast (test data is so
    * small AQE rightly broadcasts everything).
    */
  private def planAtScale(name: String): String =
    planCache.getOrElseUpdate((name, true), {
      val conf = spark.conf
      val aqe = conf.get("spark.sql.adaptive.enabled", "true")
      val bc = conf.get("spark.sql.autoBroadcastJoinThreshold", "10MB")
      conf.set("spark.sql.adaptive.enabled", "false")
      conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      try SparkEntry.queries(name)(spark, sf).queryExecution.executedPlan.toString
      finally {
        conf.set("spark.sql.adaptive.enabled", aqe)
        conf.set("spark.sql.autoBroadcastJoinThreshold", bc)
      }
    })

  test("equality filter reaches the parquet scan (PushedFilters)") {
    val p = plan("p1_project_filter")
    assert(p.contains("PushedFilters"), p.take(500))
    assert(p.contains("EqualTo(c_mktsegment,BUILDING)"),
      "filter must be pushed into the scan:\n" + p.take(2000))
  }

  test("DSv2 connector: column pruning reaches the custom reader") {
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
    val df = ops.CoreOps.dsv2Source(TestSpark.spark, TestSpark.sf)
    // collect from the pre-AQE plan: AdaptiveSparkPlanExec hides its
    // children from collectFirst on the executed plan
    val scan = df.queryExecution.sparkPlan.collectFirst {
      case b: BatchScanExec => b.scan
    }
    assert(scan.isDefined, "plan must contain the V2 BatchScan")
    val cols = scan.get.readSchema().fieldNames.toSet
    assert(cols == Set("mod7", "sq"),
      s"reader must receive only the referenced columns, got $cols")
    // the 8 computed slices surface as 8 scan partitions
    assert(df.rdd.getNumPartitions >= 1)
  }

  test("DSv2 connector: pushed id-range narrows the planned partitions") {
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
    val df = ops.CoreOps.dsv2Pushdown(TestSpark.spark, TestSpark.sf)
    val scan = df.queryExecution.sparkPlan.collectFirst {
      case b: BatchScanExec => b.scan
    }
    assert(scan.isDefined)
    assert(scan.get.description() == "graft-seq range=[25000,75000)",
      s"scan must plan only the filtered range, got: ${scan.get.description()}")
    // residual evaluation keeps correctness independent of the pruning
    assert(df.agg(org.apache.spark.sql.functions.sum("n")).collect()
      .head.getLong(0) == 50000L)
  }

  test("ORC read-back pushes the quantity predicate into the ORC scan") {
    val df = ops.CoreOps.orcRoundtrip(TestSpark.spark, TestSpark.sf)
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("PushedFilters") && p.contains("l_quantity"),
      "ORC scan must carry the pushed quantity filter:\n" + p.take(2000))
  }

  test("flagship prunes lineitem columns at the scan (ReadSchema)") {
    val p = plan("a8_flagship")
    // lineitem has 11 columns; the flagship needs 4 — the scan schema
    // must not include unused ones like l_shipdate / l_returnflag
    val scanLines = p.linesIterator.filter(l =>
      l.contains("ReadSchema") && l.contains("l_orderkey")).mkString("\n")
    assert(scanLines.nonEmpty)
    assert(!scanLines.contains("l_shipdate"), scanLines)
    assert(!scanLines.contains("l_returnflag"), scanLines)
  }

  test("small dims broadcast; big-big joins sort-merge at scale") {
    // explicit broadcast() hint survives even with auto-broadcast off
    assert(planAtScale("a8_flagship").contains("BroadcastHashJoin"))
    val big = planAtScale("j8_bigbig_join")
    assert(big.contains("SortMergeJoin") || big.contains("ShuffledHashJoin"),
      big.take(2000))
  }

  test("tpch date predicates push to the parquet scan as raw timestamp bounds") {
    // to_date(ts)-wrapped filters would block pushdown entirely; the raw
    // comparisons must appear in PushedFilters so row groups prune on
    // l_shipdate min/max at scale.
    val q1 = plan("tpch_q1")
    assert(q1.contains("LessThan(l_shipdate"), q1.take(2000))
    // plan toString truncates long PushedFilters lists, so match on the
    // un-truncated prefix of the pushed comparison
    val q6 = plan("tpch_q6")
    assert(q6.contains("GreaterThanOrEqual(l_shipda"), q6.take(2000))
    assert(q6.contains("(l_shipdate#") && q6.contains("PushedFilters: [IsNotNull(l_shipdate)"),
      q6.take(2000))
    val q3 = plan("tpch_q3")
    assert(q3.contains("LessThan(o_orderdate"), q3.take(2000))
  }

  test("sort+limit collapses to TakeOrderedAndProject") {
    assert(plan("o3_topk").contains("TakeOrderedAndProject"))
  }

  test("rank-filter queries push a partial WindowGroupLimit below the shuffle") {
    // Spark's InferWindowGroupLimit turns filter(row_number <= k) into a
    // per-partition bounded top-k BEFORE the exchange — at 100 TB the
    // argmax shuffle carries ~k rows per key per input partition instead
    // of every row. Assert the optimization actually fires (Partial mode
    // below the exchange, Final above) so a conf/regression can't
    // silently put the full-sort cost back.
    val p = planAtScale("a4_argmax_window")
    assert(p.contains("WindowGroupLimit"), p.take(2000))
    assert(p.contains("Partial") && p.contains("Final"),
      "expect map-side partial + post-shuffle final group limit:\n" + p.take(2000))
  }

  test("LATERAL topk decorrelates to a ranked-window join, never a per-row rescan") {
    // the correlated ORDER BY + LIMIT 3 subquery must become one
    // WindowGroupLimit-bounded window + one join; a nested-loop plan
    // (per-customer re-scan of orders) would be quadratic at scale
    val p = planAtScale("x_lateral_topk")
    assert(p.contains("WindowGroupLimit") && p.contains("row_number()"),
      p.take(2000))
    assert(p.contains("Partial"),
      "per-customer LIMIT must bound the shuffle map-side:\n" + p.take(2000))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "lateral must not plan as a nested loop:\n" + p.take(2000))
  }

  test("CDC latest-per-key pushes a partial top-1 below the exchange") {
    val p = planAtScale("pipe_cdc_latest")
    assert(p.contains("WindowGroupLimit") && p.contains("row_number(), 1, Partial"),
      "changelog compaction must shuffle ~1 row/key/partition, not the log:\n"
        + p.take(2000))
  }

  test("flagship aggregates partially before the shuffle (partial HashAggregate)") {
    val p = plan("a8_flagship")
    assert(p.contains("HashAggregate"))
    assert("HashAggregate".r.findAllIn(p).length >= 2,
      "expect map-side partial + final aggregate")
  }

  test("hot paths stay inside whole-stage codegen") {
    val p = planAtScale("p8_derived_columns")
    // codegen spans render as "*(n) Operator" in plan toString
    assert(p.contains("*(1)") || p.contains("WholeStageCodegen"), p.take(1000))
  }

  test("semi/anti joins plan as join, not subquery re-scan") {
    assert(plan("x_semi_join").contains("LeftSemi"))
    assert(plan("x_anti_join").contains("LeftAnti"))
    // EXISTS / NOT EXISTS sugar decorrelates to the same join shapes
    val ex = plan("x_exists_subquery")
    assert(ex.contains("LeftSemi") && ex.contains("LeftAnti"), ex.take(2000))
  }

  test("TPC-H suite keeps its scale-critical plan shapes") {
    // q4: the EXISTS is an explicit left-semi join, never a re-scan
    assert(plan("tpch_q4").contains("LeftSemi"))
    // q17: the brand/type part filter broadcasts into both lineitem
    // passes even with auto-broadcast off (explicit hint) — the per-part
    // aggregate runs over ~1/120 of lineitem, not all of it
    val q17 = planAtScale("tpch_q17")
    assert(q17.contains("BroadcastHashJoin"), q17.take(2000))
    // q13: the exclusion predicate must stay a LEFT OUTER join condition
    // (as a WHERE it would silently drop the zero-order customers bucket)
    val q13 = planAtScale("tpch_q13")
    assert(q13.contains("LeftOuter"), q13.take(2000))
    // q15: the rev frame feeds both the join and the scalar max — AQE
    // exchange reuse must collapse the two identical per-supplier
    // aggregates so lineitem's quarter is scanned/shuffled once (the
    // final adaptive plan shows it; the initial plan can't)
    val q15df = SparkEntry.queries("tpch_q15")(spark, sf)
    q15df.collect()
    val q15 = q15df.queryExecution.executedPlan.toString
    assert(q15.contains("ReusedExchange") || q15.contains("ReusedSubquery"),
      "expected AQE to reuse the per-supplier aggregate exchange:\n" +
        q15.take(3000))
    // q21 must never degrade to a nested loop over lineitem
    val q21 = planAtScale("tpch_q21")
    assert(!q21.contains("CartesianProduct") &&
      !q21.contains("BroadcastNestedLoopJoin"), q21.take(2000))
  }

  /** Like [[planAtScale]] but returning the plan tree, for asserts on
    * exchange schemas that toString truncates.
    */
  private def sparkPlanAtScale(df: => org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.execution.SparkPlan = {
    val conf = spark.conf
    val aqe = conf.get("spark.sql.adaptive.enabled", "true")
    val bc = conf.get("spark.sql.autoBroadcastJoinThreshold", "10MB")
    conf.set("spark.sql.adaptive.enabled", "false")
    conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try df.queryExecution.executedPlan
    finally {
      conf.set("spark.sql.adaptive.enabled", aqe)
      conf.set("spark.sql.autoBroadcastJoinThreshold", bc)
    }
  }

  test("grid spatial join is an equi-join on cell keys, never a cartesian") {
    val p = planAtScale("x_geo_grid_join")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "radius join must ride the grid-cell equi-join:\n" + p.take(1500))
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin"),
      "at scale the cell join must hash/merge on (cx, cy):\n" + p.take(1500))
  }

  test("waterfall allocation runs ONE window pass, partitioned by segment") {
    val p = plan("x_waterfall_alloc")
    val windows = "\\bWindow\\b".r.findAllIn(p).size
    assert(windows == 1, s"expected exactly one Window operator, got $windows:\n" +
      p.take(1500))
    assert(!p.contains("CartesianProduct"))
  }

  test("bitmap segmentation folds to 8-byte words before any shuffle") {
    val p = planAtScale("x_bitmap_segments")
    // the per-user bit_or must partially aggregate below the exchange —
    // only (user_id, 2 longs) ever crosses the wire
    assert(p.contains("Exchange"), "expected a shuffle for the user-grain fold")
    assert(p.contains("partial_bit_or"),
      "bit_or must map-side combine:\n" + p.take(1500))
  }

  test("LSH band self-join never broadcasts at scale (both sides are corpus-sized)") {
    val p = planAtScale("dd_minhash_lsh")
    assert(!p.contains("BroadcastHashJoin"),
      "a broadcast band join would ship the whole corpus's bands to every executor:\n"
        + p.take(2000))
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin"), p.take(2000))
  }

  test("exact-dedup shuffles carry md5 keys and counters, never document text") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val p = sparkPlanAtScale(SparkEntry.queries("dd_exact")(spark, sf))
    val exchanges = p.collect { case e: ShuffleExchangeExec => e.child.output.map(_.name) }
    assert(exchanges.nonEmpty, p.toString.take(1000))
    exchanges.foreach(cols =>
      assert(!cols.contains("text"),
        s"document text rides a dd_exact shuffle: $cols"))
    // the aggregation exchange carries the 16-byte md5 key, partial-agg'd
    assert(exchanges.exists(_.contains("text_md5")), exchanges.toString)
    assert(p.toString.contains("partial_min"), "map-side partial aggregation missing")
  }

  test("salted join shuffles on (key, salt) at scale — the hot key actually spreads") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val p = sparkPlanAtScale(SparkEntry.queries("x_salted_join")(spark, sf))
    val parts = p.collect {
      case e: ShuffleExchangeExec => e.outputPartitioning.toString
    }
    assert(parts.exists(s => s.contains("salt") &&
      (s.contains("o_custkey") || s.contains("c_custkey"))),
      "join exchange must partition on (key, salt), not key alone: " + parts)
  }

  test("k-means iteration's only exchange is the skinny (cid, pos) partial-sum one") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val p = sparkPlanAtScale(ext.Similarity.lloydIterationFrame(spark, sf))
    val exchanges = p.collect { case e: ShuffleExchangeExec => e.child.output.map(_.name) }
    assert(exchanges.nonEmpty, p.toString.take(1000))
    // quantized vectors (iv) must never ride a training shuffle —
    // assignment is a broadcast-literal argmax, so the only exchange is
    // the (cid, pos) partial-sum one
    exchanges.foreach(cols =>
      assert(!cols.contains("iv"), s"vector column rides a k-means shuffle: $cols"))
    assert(exchanges.exists(c => c.contains("cid") && c.contains("pos")),
      exchanges.toString)
    assert(p.toString.contains("partial_sum"), "map-side partial sums missing")
  }

  test("per-source cap cuts partially below the exchange and prunes text at the scan") {
    val p = planAtScale("pipe_source_cap")
    // two WindowGroupLimits: the map-side partial top-150 per source and
    // the post-shuffle final — only potential winners cross the wire
    assert(p.contains("WindowGroupLimit") && p.contains("Partial")
      && p.contains("Final"), p.take(2000))
    // the cap operates on (doc_id, source) only; the text column must not
    // survive into the scan schema
    assert(!p.contains("text"), "text column not pruned from the cap scan")
  }

  test("trigram top-20 is TakeOrdered over a map-side partial count, not a global sort") {
    val p = planAtScale("tx_ngram_freq")
    assert(p.contains("TakeOrderedAndProject"), p.take(2000))
    assert(p.contains("partial_count"),
      "Zipf head must collapse map-side before the trigram exchange:\n" + p.take(2000))
  }

  test("offset+limit fuses into TakeOrderedAndProject(limit=offset+k, offset)") {
    // no Sort, no GlobalLimit chain: each partition keeps offset+limit
    // rows, the driver merge skips the first offset — the whole page
    // costs a per-partition top-110
    val p = plan("x_limit_offset")
    assert(p.contains("TakeOrderedAndProject"), p.take(2000))
    assert(p.contains("110") && p.contains("100"),
      "expected limit=110 with offset=100 in TakeOrdered args:\n" + p.take(2000))
  }

  test("chunk-dedup frequency side prunes to the bare text column") {
    // the corpus-global chunk-frequency subplan must never carry doc_id —
    // its exchange is (60-bit hash, count) pairs computed from a
    // text-only scan (the PLANS.md claim, machine-checked)
    val p = plan("tx_chunk_dedup")
    val freqScans = p.linesIterator.filter(l =>
      l.contains("ReadSchema") && l.contains("text") && !l.contains("doc_id"))
    assert(freqScans.nonEmpty,
      "expected a doc_id-free text-only scan for the chunk-frequency side:\n" + p.take(3000))
    assert(p.contains("partial_count"),
      "chunk-hash frequency must combine map-side before its exchange:\n" + p.take(3000))
  }

  test("constraint suite costs one lineitem pass per constraint CLASS, not per constraint") {
    // 9 constraints → exactly 2 lineitem scans (the fused single-table
    // agg + the RI distinct-key probe) and 1 orders scan
    val p = plan("qc_constraint_suite")
    val li = p.linesIterator.count(l =>
      l.contains("Location") && l.contains("lineitem.parquet"))
    val ord = p.linesIterator.count(l =>
      l.contains("Location") && l.contains("orders.parquet"))
    assert(li == 2, s"expected 2 lineitem scans, got $li:\n" + p.take(3000))
    assert(ord == 1, s"expected 1 orders scan, got $ord:\n" + p.take(3000))
  }

  test("SQ8 corpus streams partitioned; only stats and queries broadcast") {
    val p = planAtScale("sim_sq8_topk")
    // the 1-row range-stats frame and the 5-query side broadcast; the
    // corpus/code table must NEVER be the build side of anything
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      p.take(2000))
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      "corpus must stream against broadcast builds, never shuffle-join or cartesian:\n"
        + p.take(3000))
  }

  test("selective dim filter injects a runtime bloom filter into the fact scan side") {
    // the shuffle-join sibling of DPP: when the dim side carries a
    // selective predicate, Spark builds a bloom filter from it at runtime
    // and semi-filters the fact side BEFORE the join shuffle
    // (might_contain on the join key) — at 100 TB this cuts the shuffled
    // fact volume by the dim's selectivity. The size thresholds are
    // production-tuned (app side ≥ 10 GB by default), so the test lowers
    // them to fire at test scale; the PLAN SHAPE is what's pinned.
    import org.apache.spark.sql.functions._
    val conf = spark.conf
    val saved = Seq(
      "spark.sql.adaptive.enabled" -> conf.get("spark.sql.adaptive.enabled", "true"),
      "spark.sql.autoBroadcastJoinThreshold" ->
        conf.get("spark.sql.autoBroadcastJoinThreshold", "10MB"),
      "spark.sql.optimizer.runtime.bloomFilter.enabled" ->
        conf.get("spark.sql.optimizer.runtime.bloomFilter.enabled", "true"))
    conf.set("spark.sql.adaptive.enabled", "false")
    conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
    conf.set("spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "1b")
    try {
      val o = Tables.orders(spark, sf).filter(col("o_orderpriority") === "1-URGENT")
      val li = Tables.lineitem(spark, sf)
      val p = li.join(o, li("l_orderkey") === o("o_orderkey"))
        .groupBy(col("l_returnflag")).agg(count(lit(1)).as("n"))
        .queryExecution.optimizedPlan.toString
      assert(p.contains("might_contain"),
        "expected a runtime bloom filter (might_contain) on the fact side:\n" + p.take(3000))
    } finally {
      saved.foreach { case (k, v) => conf.set(k, v) }
      conf.unset("spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold")
    }
  }

  test("registry-wide: no cartesian products, no unpartitioned windows") {
    // the two quiet scale-killers a growing registry can regress into:
    // a join that degenerates to CartesianProduct (every BNLJ in the
    // suite is a deliberate tiny-side broadcast — verified by PlanSweep —
    // which is fine; an unbroadcast cartesian never is) and a window
    // with no PARTITION BY (single-partition sort of the whole input).
    // Streaming drains are skipped: building their "plan" executes them.
    // (A few batch queries also run small jobs at build time — iterative
    // trainers checkpoint per round — which is acceptable here at
    // sf0.001; the guard still only INSPECTS the final plan.)
    val skip = Set(
      "st_tumbling_stream", "st_interval_join", "st_incremental_probe",
      "st_left_outer_join", "st_full_outer_join", "st_semi_join",
      "st_right_outer_join", "st_anti_join",
      "st_static_enrich",
      "st_sessionize_state", "st_session_builtin",
      "st_dedup_stream", "st_hll_stream", "st_checksum_stream",
      "st_foreach_batch")
    val offenders = SparkEntry.queries.keys.toSeq.sorted.filterNot(skip)
      .flatMap { n =>
        val p = plan(n)
        val cart = p.contains("CartesianProduct")
        val gw = p.linesIterator.exists(l =>
          l.contains("Window") && l.contains("SinglePartition"))
        if (cart || gw) Some(s"$n${if (cart) ":cartesian" else ""}${if (gw) ":global-window" else ""}")
        else None
      }
    assert(offenders.isEmpty, s"scale-killer plans: $offenders")
  }

  test("referential audit: dim keysets broadcast, fact anti-join sort-merges at scale") {
    // hinted broadcast for fixed-size dims survives even with auto-broadcast off
    val p = planAtScale("qc_referential")
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftAnti"),
      "nation/region keysets must broadcast into their anti-joins:\n" + p.take(1500))
    // the lineitem->orders edge: both sides sf-scaled, so with broadcast
    // unavailable the anti-join must fall back to a keyed join, never BNLJ
    assert(!p.contains("CartesianProduct"))
    assert(p.linesIterator.exists(l =>
      (l.contains("SortMergeJoin") || l.contains("ShuffledHashJoin"))
        && l.contains("LeftAnti")),
      "big-big anti-join must stay keyed at scale:\n" + p.take(1500))
  }

  test("novelty: first-home join stays keyed on the gram at scale") {
    val p = planAtScale("tx_novelty")
    assert(!p.contains("CartesianProduct"))
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin"),
      "gram join must be keyed:\n" + p.take(1500))
    // doc re-aggregation is a keyed hash aggregate, not a global window
    assert(!p.linesIterator.exists(l =>
      l.contains("Window") && l.contains("SinglePartition")))
  }

  test("dedup impact: survivor attribution joins on the 8-byte keep_id at scale") {
    val p = planAtScale("pipe_dedup_impact")
    assert(!p.contains("CartesianProduct"))
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin"),
      "keep_id attribution join must be keyed:\n" + p.take(1500))
  }

  test("native as-of join: merge pass fed by EnsureRequirements exchanges, agrees with the window twin") {
    import org.apache.spark.sql.functions._
    val df = plans.AsOfJoin.asofNative(spark, sf)
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("AsOfJoin"), "expected the native operator:\n" + p.take(1500))
    // the operator declares requirements; the planner must place exactly
    // one exchange + one (key, time) sort per side — and NO window
    assert(!p.contains("Window"), "as-of must not fall back to a window:\n" + p.take(1500))
    val body = p.substring(p.indexOf("AsOfJoin"))
    assert(body.split("Exchange hashpartitioning").length - 1 == 2,
      "exactly two hash exchanges below the merge:\n" + body.take(1500))
    // cross-encoding agreement: native merge == union+window state machine
    val native = df.collect().map(r => (r.getLong(1), Option(r.get(3)).map(_.toString)))
    val window = ext.TemporalOps.asofJoin(spark, sf).collect()
      .map(r => (r.getLong(1), Option(r.get(3)).map(_.toString)))
    assert(native.toSeq == window.toSeq,
      s"native vs window asof diverge: ${native.length} vs ${window.length} rows")
    // match metric: every row with a non-null click was counted matched
    val matched = native.count(_._2.isDefined)
    assert(matched > 0 && matched <= native.length)
  }

  test("literal predicate becomes a static PartitionFilter on the hive-partitioned scan") {
    // the s13_partitioned_sink layout: a literal event_type predicate
    // must land in PartitionFilters (directory pruning — zero data files
    // of other partitions opened), NOT in PushedFilters/post-scan Filter
    import org.apache.spark.sql.functions._
    val dir = Scratch.fresh("statpart").toString
    Tables.events(spark, sf)
      .select(col("event_id"), col("event_type"), col("value"))
      .write.mode("overwrite").partitionBy("event_type").parquet(dir)
    val q = spark.read.parquet(dir).filter(col("event_type") === "purchase")
      .agg(count(lit(1)).as("n"))
    val scan = q.queryExecution.executedPlan.toString
    assert(scan.contains("PartitionFilters") &&
      scan.replaceAll("\\s+", " ")
        .matches("(?s).*PartitionFilters: \\[[^\\]]*purchase[^\\]]*\\].*"),
      "literal partition predicate must prune at the directory level:\n" +
        scan.take(2000))
    val n = q.head().getLong(0)
    val want = Tables.events(spark, sf)
      .filter(col("event_type") === "purchase").count()
    assert(n == want)
  }

  test("dim filter dynamically prunes fact partitions (DPP)") {
    // At 100 TB the fact table is date/category-partitioned and the
    // filter lives on a dim — without dynamic partition pruning the scan
    // reads EVERY partition and discards rows post-join. Assert Spark
    // injects the runtime partition filter (dim broadcast reused as the
    // pruning subquery) into the partitioned scan.
    import org.apache.spark.sql.functions._
    val dir = Scratch.fresh("dpp").toString
    Tables.events(spark, sf)
      .write.mode("overwrite").partitionBy("event_type")
      .parquet(s"$dir/events_by_type")
    val fact = spark.read.parquet(s"$dir/events_by_type")
    val dim = Tables.events(spark, sf).select(col("event_type")).distinct()
      .withColumn("is_conv", col("event_type").isin("purchase", "signup"))
      .select(col("event_type").as("etype"), col("is_conv"))
    val joined = fact
      .join(dim.filter(col("is_conv")), fact("event_type") === dim("etype"))
      .groupBy(col("event_type")).agg(count(lit(1)).as("n"))
    val p = joined.queryExecution.executedPlan.toString
    assert(p.toLowerCase.contains("dynamicpruning"),
      "expected a dynamicpruning partition filter on the fact scan:\n" + p.take(3000))
    // and the pruned-scan result is still correct
    val got = joined.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val want = Tables.events(spark, sf)
      .filter(col("event_type").isin("purchase", "signup"))
      .groupBy(col("event_type")).agg(count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == want)
  }

  test("ANALYZE statistics drive cost-based join reordering (CBO)") {
    // Rule-based optimization is size-blind before the first shuffle;
    // at 100 TB the knob you turn is ANALYZE TABLE + the CBO flags so
    // Catalyst can cost join ORDERS from row counts and column NDVs.
    // Write the 3-way join deliberately badly — big ⋈ big first, the
    // selectively-filtered dim last — and assert the cost-based
    // reorderer repairs it: with stats, the innermost join becomes
    // orders ⋈ σ(customer), deferring the lineitem shuffle to a smaller
    // intermediate. Same rows either way (pinned below).
    import org.apache.spark.sql.catalyst.plans.logical.Join
    plans.Cbo.analyzeTables(spark, sf, Seq("lineitem", "orders", "customer"))
    val q =
      """SELECT c.c_mktsegment, COUNT(*) AS n
        |FROM graft_cbo_lineitem l
        |JOIN graft_cbo_orders o ON l.l_orderkey = o.o_orderkey
        |JOIN graft_cbo_customer c ON o.o_custkey = c.c_custkey
        |WHERE c.c_mktsegment = 'BUILDING'
        |GROUP BY c.c_mktsegment""".stripMargin
    def innermostJoinTables: Set[String] = {
      val joins = spark.sql(q).queryExecution.optimizedPlan
        .collect { case j: Join => j }
      joins.filter(_.children.forall(
          _.collect { case jj: Join => jj }.isEmpty))
        .flatMap(_.collectLeaves().map(_.toString))
        .flatMap("graft_cbo_(\\w+)\\[".r.findFirstMatchIn(_).map(_.group(1)))
        .toSet
    }
    def rows: Map[String, Long] = spark.sql(q).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val statsLine = spark.sql("DESC EXTENDED graft_cbo_customer").collect()
      .map(_.toString).filter(_.contains("Statistics")).mkString
    assert(statsLine.contains("rows"), s"ANALYZE must record a row count: $statsLine")
    val baseline = rows
    assert(innermostJoinTables == Set("lineitem", "orders"),
      "without CBO the parser's bad order must survive")
    plans.Cbo.enable(spark)
    try {
      assert(innermostJoinTables == Set("orders", "customer"),
        "with stats the filtered dim must join first")
      assert(rows == baseline, "reordering must not change the answer")
    } finally plans.Cbo.disable(spark)
  }

  test("span corruption is a pure map stage — only the final sort shuffles") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val p = sparkPlanAtScale(
      SparkEntry.queries("pipe_span_corruption")(spark, sf))
    val parts = p.collect {
      case e: ShuffleExchangeExec => e.outputPartitioning.toString
    }
    // a hash partitioning would mean a join/agg sneaked into what must be
    // scan→project; the one allowed exchange is the deterministic-output
    // range sort
    assert(parts.nonEmpty && parts.forall(_.contains("rangepartitioning")),
      s"span corruption must not hash-shuffle: $parts")
  }

  test("apriori pair join stays keyed at scale — never cartesian, never broadcast") {
    val p = planAtScale("x_assoc_rules")
    assert(!p.contains("CartesianProduct"), p.take(2000))
    // the basket-keyed pair self-join must shuffle on ok, not broadcast a
    // corpus-sized side; the only broadcast is the explicit 1-row total
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin"),
      p.take(2000))
  }

  test("record linkage joins the aggregated name grain, keyed on the block") {
    val p = planAtScale("dd_record_linkage")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      "blocked linkage must not degrade to all-pairs:\n" + p.take(2000))
    // the block key is the join key → a keyed join on noun
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin"),
      p.take(2000))
    // linkage inputs are the DISTINCT-name aggregate, not raw part rows
    assert(p.contains("HashAggregate"), p.take(2000))
  }

  test("link prediction: wedge join keyed, existing edges leave via LeftAnti") {
    val p = planAtScale("x_link_predict")
    assert(p.contains("LeftAnti"), "existing edges must be anti-joined away:\n"
      + p.take(2000))
    assert(!p.contains("CartesianProduct"), p.take(2000))
  }

  test("hybrid RRF: token overlap joins on the token key at scale") {
    val p = planAtScale("sim_hybrid_rrf")
    // the sparse leg is an inverted-index join on tok — keyed, with the
    // only nested-loop site being the 5-row broadcast query side of the
    // dense leg (explicit hint, deliberately tiny)
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin"),
      p.take(2000))
    assert(!p.contains("CartesianProduct"), p.take(2000))
  }

  test("sim_ivfpq_serve plan loads all four index artifacts: no training stages") {
    ext.Similarity.ivfEnsureIndex(spark, sf)
    ext.Similarity.pqEnsureIndex(spark, sf)
    val p = plan("sim_ivfpq_serve")
    assert(p.contains("graft_ivf_index") && p.contains("graft_pq_index"),
      "serving plan must scan the persisted IVF and PQ artifacts\n" + p.take(800))
    assert(!p.contains("acc.dist"),
      "serving plan contains the PQ encode argmin fold - index not used")
    val serve = SparkEntry.queries("sim_ivfpq_serve")(spark, sf).collect().toSeq
    val twin = SparkEntry.queries("sim_ivfpq_topk")(spark, sf).collect().toSeq
    assert(serve == twin,
      s"persisted composed-index serve diverged: ${serve.size} vs ${twin.size}")
  }

  test("sim_pq_serve plan serves from the persisted index: no training stages") {
    val (codesDir, cbDir) = ext.Similarity.pqEnsureIndex(spark, sf)
    val p = plan("sim_pq_serve")
    assert(p.contains("graft_pq_index"),
      "serving plan must scan the persisted codes artifact\n" + p.take(800))
    // the PQ ENCODE argmin fold (train-time signature) must be absent —
    // codes come from disk, not recomputed in-plan
    assert(!p.contains("acc.dist"),
      "serving plan contains the encode argmin fold — index not used")
    // and the codebook came from its store, not a corpus collect: the
    // persisted artifacts exist and carry parquet commit markers
    assert(new java.io.File(codesDir, "_SUCCESS").exists
      && new java.io.File(cbDir, "_SUCCESS").exists)
    // serving result equals the train-in-plan twin (the round-trip
    // fidelity claim, end to end)
    val serve = SparkEntry.queries("sim_pq_serve")(spark, sf).collect().toSeq
    val twin = SparkEntry.queries("sim_pq_topk")(spark, sf).collect().toSeq
    assert(serve == twin, s"persisted-index serve diverged: ${serve.size} vs ${twin.size}")
  }

  test("CDC chunking wire discipline: chunk text never enters an Exchange") {
    val p = planAtScale("dd_cdc_chunks")
    // the pruned scan reads exactly the two referenced columns
    assert(p.contains("ReadSchema: struct<doc_id:bigint,text:string>"),
      "scan must prune to (doc_id, text):\n" + p.take(1200))
    // every exchange moves only fingerprints + counts — neither the word
    // array nor the chunk string may appear in any Exchange argument list
    val exchanges = p.linesIterator.filter(_.contains("Exchange")).toSeq
    assert(exchanges.nonEmpty, "expected shuffles for the hash groupBy")
    exchanges.foreach { l =>
      assert(!l.contains("chunk#") && !l.contains("ws#") && !l.contains("text#"),
        s"text crossed the wire: $l")
    }
  }

  test("partitioned V2 catalog: MERGE rewrites only the touched partition's group; siblings carried by reference") {
    spark.conf.set("spark.sql.catalog.graft_cat", "graft.sources.MemCatalog")
    spark.sql("DROP TABLE IF EXISTS graft_cat.ns.pdim")
    spark.sql(
      """CREATE TABLE graft_cat.ns.pdim (k BIGINT, name STRING, v DOUBLE)
        |PARTITIONED BY (bucket(4, k))""".stripMargin)
    spark.sql(
      """INSERT INTO graft_cat.ns.pdim
        |SELECT id AS k, concat('n', id) AS name, CAST(id AS DOUBLE) AS v
        |FROM range(1, 41)""".stripMargin)
    val tbl = graft.sources.MemCatalog.store.get(
      org.apache.spark.sql.connector.catalog.Identifier.of(Array("ns"), "pdim"))
    assert(tbl.isPartitioned)
    val before = tbl.rows
    assert(before.map(tbl.partitionOf).toSet == Set("b0", "b1", "b2", "b3"))
    // the source touches ONLY keys ≡ 1 (mod 4): every matched and
    // inserted row lives in bucket b1
    spark.sql(
      """MERGE INTO graft_cat.ns.pdim t
        |USING (SELECT k, CAST(k * 100 AS DOUBLE) AS v
        |       FROM (VALUES (1L), (5L), (9L), (101L)) AS s(k)) u
        |ON t.k = u.k
        |WHEN MATCHED THEN UPDATE SET t.v = u.v
        |WHEN NOT MATCHED THEN INSERT (k, name, v) VALUES (u.k, 'new', u.v)
        |""".stripMargin)
    // Catalyst's runtime group filter pruned the rewrite to the ONE
    // touched partition — the commit replaced exactly {b1}
    assert(tbl.lastReplacedGroups == Set("b1"),
      s"expected a b1-only rewrite, got ${tbl.lastReplacedGroups}")
    val after = tbl.rows
    // sibling partitions' rows survived AS THE SAME OBJECTS — the
    // in-memory analogue of "siblings' files untouched on disk"
    val untouchedBefore = before.filterNot(r => tbl.partitionOf(r) == "b1")
    val untouchedAfter = after.filterNot(r => tbl.partitionOf(r) == "b1")
    assert(untouchedBefore.size == 30 && untouchedAfter.size == 30)
    val afterIds = java.util.Collections.newSetFromMap(
      new java.util.IdentityHashMap[org.apache.spark.sql.catalyst.InternalRow, java.lang.Boolean]())
    untouchedAfter.foreach(afterIds.add)
    assert(untouchedBefore.forall(afterIds.contains),
      "a sibling partition's row was rewritten — COW leaked past the touched group")
    // and the merged content is right: matched keys rescored, insert
    // landed (in b1, by recomputed partition), everything else intact
    val got = spark.sql(
      "SELECT k, v FROM graft_cat.ns.pdim ORDER BY k").collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val want = ((1L to 40L).map(k =>
      (k, if (k == 1 || k == 5 || k == 9) k * 100.0 else k.toDouble)) :+
      (101L, 10100.0)).sortBy(_._1)
    assert(got == want)
    spark.sql("DROP TABLE graft_cat.ns.pdim")
  }

  test("partitioned MOR table: delta actions carry partition ids; base untouched") {
    spark.conf.set("spark.sql.catalog.graft_cat", "graft.sources.MemCatalog")
    spark.sql("DROP TABLE IF EXISTS graft_cat.mor.pord")
    spark.sql(
      """CREATE TABLE graft_cat.mor.pord (k BIGINT NOT NULL, status STRING, v DOUBLE)
        |PARTITIONED BY (bucket(4, k))""".stripMargin)
    spark.sql(
      """INSERT INTO graft_cat.mor.pord
        |SELECT id AS k, 'O' AS status, CAST(id AS DOUBLE) AS v
        |FROM range(1, 21)""".stripMargin)
    val tbl = graft.sources.MemCatalog.store.get(
      org.apache.spark.sql.connector.catalog.Identifier.of(Array("mor"), "pord"))
    val baseBefore = tbl.rows
    spark.sql("UPDATE graft_cat.mor.pord SET status = 'X' WHERE k IN (2, 6)")
    spark.sql("DELETE FROM graft_cat.mor.pord WHERE k = 7")
    assert(tbl.rows eq baseBefore, "MOR must never rewrite the base")
    // each action is routed to the partition its row belongs to —
    // the handle a file-backed MOR table uses to colocate delta files
    val acts = tbl.deltaLog.map(a => (a.op, a.key, a.part)).toSet
    assert(acts == Set(
      (graft.sources.MemDeltaAction.Update, 2L, "b2"),
      (graft.sources.MemDeltaAction.Update, 6L, "b2"),
      (graft.sources.MemDeltaAction.Delete, 7L, "b3")),
      s"unexpected delta routing: $acts")
    // reconciled read is correct
    val got = spark.sql(
      "SELECT k, status FROM graft_cat.mor.pord ORDER BY k").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    val want = (1L to 20L).filterNot(_ == 7L)
      .map(k => (k, if (k == 2 || k == 6) "X" else "O"))
    assert(got == want)
    spark.sql("DROP TABLE graft_cat.mor.pord")
  }

  test("weighted reservoir: top-k plans as TakeOrdered, population never sorts or shuffles") {
    val p = planAtScale("x_reservoir")
    assert(p.contains("TakeOrderedAndProject"),
      "A-Res selection must be per-partition heaps + driver merge:\n" +
        p.take(1200))
    // the only exchange the query may carry is TakeOrdered's own
    // single-partition gather of k rows — never a population-wide sort
    assert(!p.contains("Exchange rangepartitioning"),
      "population must not range-shuffle for a k-row sample:\n" +
        p.linesIterator.filter(_.contains("Exchange")).mkString("\n"))
  }

  test("crawl politeness: one shuffle at domain grain, pruned scan, bounded sessions") {
    val p = planAtScale("dd_crawl_politeness")
    // the scan reads exactly the two columns the simulation needs
    assert(p.contains("ReadSchema: struct<ts:timestamp_ntz,user_id:bigint>"),
      "scan must prune to (ts, user_id):\n" + p.take(1200))
    // sessionization windows at domain grain: lag (row frame [-1,-1])
    // and the running session count (unbounded-preceding frame) plan as
    // two Window nodes over the SAME partitioning and sort — sort-based,
    // spillable, the boundedness mechanism, and zero extra exchanges;
    // the token bucket itself stays an aggregate() fold over each
    // session's bounded list
    val windows = p.linesIterator.count(_.contains("Window ["))
    assert(windows == 2,
      s"expected exactly the two sessionization windows, got $windows:\n" +
        p.linesIterator.filter(_.contains("Window")).mkString("\n"))
    // shuffles: the domain-grain exchange (window + session groupBy +
    // domain rollup all reuse it) plus the deterministic tail sort
    val exchanges = p.linesIterator.count(l =>
      l.contains("Exchange") && !l.contains("Reused"))
    assert(exchanges <= 2, s"expected domain exchange + final sort only, got:\n" +
      p.linesIterator.filter(_.contains("Exchange")).mkString("\n"))
  }

  test("naive Bayes: corpus scan pruned; count table joined by word key, not crossed") {
    val p = planAtScale("x_naive_bayes")
    assert(p.contains("ReadSchema: struct<doc_id:bigint,text:string,lang:string>"),
      "scan must prune to (doc_id, text, lang):\n" + p.take(1200))
    // the ×|labels| expansion is a broadcast of the 5-row candidate
    // frame — the token×vocab count table must NEVER cartesian the corpus
    assert(!p.contains("CartesianProduct"),
      "label expansion must broadcast, not cartesian")
  }

  test("tar shards: octal fields parse without per-digit folds; checksum is a real aggregate") {
    // the build side sits behind the eager localCheckpoint, so this plan
    // covers the PARSE side — where the r14 perf lesson lives: header
    // checksums and octal fields are codegen'd regexp/conv expressions +
    // a relational sum; the interpreted 512-step lambda fold must not
    // come back (it cost 100 s at sf0.1). The 16-step member walk is the
    // one fold that belongs.
    val p = planAtScale("mm_tar_entries")
    assert(!p.contains("sequence(0, 511)"),
      "byte-grain lambda fold reappeared in the plan:\n" +
        p.linesIterator.filter(_.contains("sequence")).take(5).mkString("\n"))
    assert(p.contains("partial_sum"),
      "the checksum must sum relationally (map-side combined):\n" + p.take(1200))
  }

  test("Kleinberg burst DP is a fold, not a window: no WindowExec in the plan") {
    val p = planAtScale("ev_burst_kleinberg")
    assert(!p.contains("Window"),
      "the Viterbi decode must run as aggregate() folds, not windows:\n" +
        p.take(1200))
    // the event stream collapses map-side at HOUR grain before any
    // sequential work: a partial aggregate must precede the exchange
    assert(p.contains("partial_count") || p.contains("HashAggregate"),
      "hour-grain map-side combine missing:\n" + p.take(1200))
  }


  test("blocklist matching: the lexicon broadcasts; the token stream never shuffles for membership") {
    // pin the pre-materialization core: the operator checkpoints the
    // matched frame (read twice downstream), which hides the join from
    // the final plan
    val p = ext.TextOps.blocklistMatched(spark, sf)
      .queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin"),
      "the blocklist side must broadcast:\n" + p.take(1500))
    assert(!p.contains("CartesianProduct"))
    assert(!p.linesIterator.exists(l =>
      l.contains("SortMergeJoin") || l.contains("ShuffledHashJoin")),
      "the token stream must not shuffle for membership:\n" + p.take(1500))
  }

  test("Fellegi-Sunter: the candidate join stays keyed on the block") {
    val p = planAtScale("dd_fellegi_sunter")
    assert(!p.contains("CartesianProduct"),
      "blocked self-join degenerated to a cartesian:\n" + p.take(1500))
  }

  test("pipe_e2e_pretrain scans the raw corpus O(stages)-bounded: at most 3 executed FileScans (gate, eval side, funnel count)") {
    // PLANS.md's 13-frame walk is prose; this EXECUTES the flagship and
    // counts FileSourceScan nodes on the raw documents path across every
    // action (the checkpoint materializations and the final collect). A
    // future edit that silently re-derives the chain from raw instead of
    // reading its predecessor's checkpoint turns this red.
    val n = ScanCount.during(spark, "documents.parquet") {
      val out = ext.TextOps.e2ePretrain(spark, sf).collect()
      assert(out.nonEmpty, "flagship must produce the manifest")
    }
    assert(n <= 3, s"raw documents scanned $n times — a stage is " +
      "re-deriving the chain instead of reading its checkpoint")
    assert(n >= 2, s"fixture sanity: expected at least the quality gate" +
      s" and eval-side scans to be observed, saw $n (did checkpoint " +
      "actions stop firing the listener?)")
  }

  test("pipe_e2e_caption scans the raw corpus exactly once (the checkpointed raw frame feeds every stage)") {
    // The caption flagship checkpoints raw FIRST and derives every
    // stage (image decode ids, quality, alignment, packing, funnel)
    // from checkpoints — so the table itself should be scanned exactly
    // once, at the initial materialization.
    val n = ScanCount.during(spark, "documents.parquet") {
      val out = ext.Multimodal.e2eCaption(spark, sf).collect()
      assert(out.nonEmpty, "flagship must produce the manifest")
      // funnel sanity: monotone attrition, nothing degenerate
      val funnel = out.filter(_.getString(0) == "0_funnel")
        .map(r => r.getString(1) -> r.getLong(2)).sortBy(_._1)
      assert(funnel.map(_._1).toSeq ==
        Seq("00_raw", "01_imgdedup", "02_quality", "03_aligned"))
      val counts = funnel.map(_._2)
      assert(counts.zip(counts.tail).forall { case (a, b) => b <= a },
        s"funnel must shrink monotonically: ${funnel.mkString(", ")}")
      assert(counts.last > 0, "alignment gate must keep some pairs")
    }
    assert(n <= 1, s"raw documents scanned $n times — a stage is " +
      "re-deriving the chain instead of reading the raw checkpoint")
  }
}
