package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * `queries` is the union of the per-module operator maps; every entry with
  * a twin in `oracleSql` is hash-verified against DuckDB at sf0.01 by the
  * driver (`graft.Verify` dumps parquet + oracle_sql.json). Entries without
  * an oracle get a weaker rows-only check.
  */
object SparkEntry {
  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    ops.CoreOps.flagship(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. Each builder
    * first [[Sessions.install]]s the engine (planner strategies and native
    * functions) on its session.
    */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    builders.map { case (name, build) =>
      name -> { (s: SparkSession, d: String) => Sessions.install(s); build(s, d) }
    }

  private def builders: Map[String, (SparkSession, String) => DataFrame] =
    ops.CoreOps.queries ++ ops.ScalarOps.queries ++ ops.AggJoinOps.queries ++
      ops.PipelineOps.queries ++ ops.ExtraOps.queries ++ ops.TpchOps.queries ++
      ops.QcOps.queries ++ ops.StatOps.queries ++ ops.FeatureOps.queries ++
      ext.Dedup.queries ++ ext.Similarity.queries ++ ext.TextOps.queries ++
      ext.UnigramLM.queries ++ ext.WordPiece.queries ++
      ext.EventOps.queries ++ ext.Multimodal.queries ++ ext.TemporalOps.queries ++
      ext.MapOps.queries ++ ext.CountMinAgg.queries ++ ext.HyperLogLog.queries ++
      ext.BloomFilter.queries ++ plans.TopKPerKey.queries ++
      plans.AsOfJoin.queries ++
      Map[String, (SparkSession, String) => DataFrame](
        "st_tumbling_stream" -> streaming.StreamOps.tumblingStream,
        "st_transitions_stream" -> streaming.StreamOps.transitionsStream,
        "st_regularity_stream" -> streaming.StreamOps.regularityStream,
        "st_topk_stream" -> streaming.StreamOps.topkStream,
        "st_interval_join" -> streaming.StreamOps.intervalJoinStream,
        "st_incremental_probe" -> streaming.StreamOps.incrementalProbeStream,
        "st_left_outer_join" -> streaming.StreamOps.leftOuterJoinStream,
        "st_full_outer_join" -> streaming.StreamOps.fullOuterJoinStream,
        "st_right_outer_join" -> streaming.StreamOps.rightOuterJoinStream,
        "st_anti_join" -> streaming.StreamOps.antiJoinStream,
        "st_semi_join" -> streaming.StreamOps.semiJoinStream,
        "st_static_enrich" -> streaming.StreamOps.staticEnrichStream,
        "st_sessionize_state" -> streaming.StreamOps.sessionizeStream,
        "st_sessionize_tws" -> streaming.StreamOps.sessionizeTws,
        "st_session_builtin" -> streaming.StreamOps.sessionBuiltinStream,
        "st_dedup_stream" -> streaming.StreamOps.dedupStream,
        "st_hll_stream" -> streaming.StreamOps.hllStream,
        "st_cms_stream" -> streaming.StreamOps.cmsStream,
        "st_quantile_stream" -> streaming.StreamOps.quantileStream,
        "st_checksum_stream" -> streaming.StreamOps.checksumStream,
        "st_foreach_batch" -> streaming.StreamOps.foreachBatchSink,
        "st_wap" -> streaming.StreamOps.wapStream,
        "st_dsv2_stream" -> streaming.StreamOps.dsv2Stream,
        "st_merge_upsert" -> streaming.StreamOps.mergeUpsertStream,
        "st_retract_fold" -> streaming.StreamOps.retractFoldStream,
        "st_temporal_join" -> streaming.StreamOps.temporalJoinStream,
        "st_asof_stream" -> streaming.StreamOps.asofStream,
        "st_asof_tws" -> streaming.StreamOps.asofTws,
        "st_asof_tolerance" -> streaming.StreamOps.asofToleranceStream,
        "st_late_drop" -> streaming.StreamOps.lateDropStream,
        "st_update_mode" -> streaming.StreamOps.updateModeStream,
        "st_session_dynamic" -> streaming.StreamOps.sessionDynamicStream,
        "st_crawl_politeness" -> streaming.StreamOps.politenessStream,
        "st_politeness_tws" -> streaming.StreamOps.politenessTws,
        // rows-only BY DESIGN: state-store telemetry is engine-internal
        // (StreamingSpec pins the invariants)
        "st_observability" -> streaming.StreamOps.observabilityFrame)

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops.
    */
  def oracleSql: Map[String, String] =
    ops.CoreOps.oracle ++ ops.ScalarOps.oracle ++ ops.AggJoinOps.oracle ++
      ops.PipelineOps.oracle ++ ops.ExtraOps.oracle ++ ops.TpchOps.oracle ++
      ops.QcOps.oracle ++ ops.StatOps.oracle ++ ops.FeatureOps.oracle ++
      ext.Dedup.oracle ++ ext.Similarity.oracle ++ ext.TextOps.oracle ++
      ext.UnigramLM.oracle ++ ext.WordPiece.oracle ++
      ext.EventOps.oracle ++ ext.Multimodal.oracle ++ ext.TemporalOps.oracle ++
      ext.MapOps.oracle ++ ext.CountMinAgg.oracle ++ ext.HyperLogLog.oracle ++
      ext.BloomFilter.oracle ++ plans.TopKPerKey.oracle ++
      plans.AsOfJoin.oracle ++
      // real streaming queries, verified against batch oracles
      Map(
        "st_tumbling_stream" -> ext.EventOps.oracle("ev_tumbling"),
        // streaming changelog fold ≡ batch IMV fold ≡ full recompute
        "st_retract_fold" -> ops.PipelineOps.oracle("pipe_imv"),
        // streaming temporal lookup ≡ batch native merge ≡ batch window
        "st_temporal_join" -> plans.AsOfJoin.oracle("ev_asof_native"),
        // stream-stream as-of with horizon eviction ≡ the same native oracle
        "st_asof_stream" -> plans.AsOfJoin.oracle("ev_asof_native"),
        // the ListState transformWithState port lands on the same oracle
        "st_asof_tws" -> plans.AsOfJoin.oracle("ev_asof_native"),
        "st_asof_tolerance" -> plans.AsOfJoin.oracle("ev_asof_tolerance"),
        // online token bucket ≡ the batch politeness recursive-CTE oracle
        "st_crawl_politeness" -> ext.Dedup.oracle("dd_crawl_politeness"),
        // the transformWithState port lands on the SAME batch oracle
        "st_politeness_tws" -> ext.Dedup.oracle("dd_crawl_politeness"),
        "st_transitions_stream" -> ext.EventOps.oracle("ev_path_transitions"),
        "st_regularity_stream" -> ext.EventOps.oracle("ev_gap_regularity"),
        "st_topk_stream" -> streaming.StreamOps.topkStreamOracle,
        "st_interval_join" ->
          """SELECT c.user_id AS user_id, c.event_id AS click_id,
            |       p.event_id AS purchase_id,
            |       epoch_us(p.ts) - epoch_us(c.ts) AS lag_us
            |FROM events c JOIN events p ON c.user_id = p.user_id
            |WHERE c.event_type = 'click' AND p.event_type = 'purchase'
            |  AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 1 HOUR
            |ORDER BY 1, 2, 3""".stripMargin,
        "st_incremental_probe" -> ext.Dedup.incrementalStreamOracle,
        "st_late_drop" -> streaming.StreamOps.lateDropOracle,
        "st_update_mode" -> streaming.StreamOps.updateModeOracle,
        "st_session_dynamic" -> streaming.StreamOps.sessionDynamicOracle,
        "st_left_outer_join" -> streaming.StreamOps.leftOuterJoinOracle,
        "st_full_outer_join" -> streaming.StreamOps.fullOuterJoinOracle,
        "st_right_outer_join" -> streaming.StreamOps.rightOuterJoinOracle,
        "st_anti_join" -> streaming.StreamOps.antiJoinOracle,
        "st_semi_join" -> streaming.StreamOps.semiJoinOracle,
        "st_static_enrich" -> streaming.StreamOps.staticEnrichOracle,
        "st_sessionize_state" -> streaming.StreamOps.sessionizeStreamOracle,
        // the TimeMode.None transformWithState twin — same fold, same oracle
        "st_sessionize_tws" -> streaming.StreamOps.sessionizeStreamOracle,
        "st_session_builtin" -> streaming.StreamOps.sessionBuiltinOracle,
        "st_dedup_stream" -> streaming.StreamOps.dedupStreamOracle,
        "st_hll_stream" -> streaming.StreamOps.hllStreamOracle,
        "st_cms_stream" -> streaming.StreamOps.cmsStreamOracle,
        "st_quantile_stream" -> streaming.StreamOps.quantileStreamOracle,
        "st_checksum_stream" -> streaming.StreamOps.checksumStreamOracle,
        "st_foreach_batch" -> streaming.StreamOps.foreachBatchSinkOracle,
        "st_wap" -> streaming.StreamOps.wapStreamOracle,
        "st_dsv2_stream" ->
          """SELECT i % 7 AS mod7, CAST(COUNT(*) AS BIGINT) AS n,
            |       CAST(SUM(i * i) AS BIGINT) AS sum_sq
            |FROM generate_series(0, 99999) AS t(i)
            |GROUP BY 1 ORDER BY mod7""".stripMargin,
        "st_merge_upsert" ->
          """WITH t AS (
            |  SELECT i, i % 50 AS user_id,
            |         CASE CAST(i % 3 AS INT) WHEN 0 THEN 'click'
            |              WHEN 1 THEN 'view' ELSE 'purchase' END AS et
            |  FROM generate_series(0, 9999) AS g(i))
            |SELECT user_id, arg_max(et, i) AS last_type,
            |       CAST(COUNT(*) AS BIGINT) AS n_events
            |FROM t GROUP BY 1 ORDER BY user_id""".stripMargin)
}
