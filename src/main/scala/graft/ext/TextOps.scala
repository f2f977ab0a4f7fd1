package graft.ext

import graft.{Det, Scratch, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Text-analysis operators for a training-data pipeline: language ID
  * (stopword heuristic), quality scoring, token counting, and document
  * fingerprinting (rolling hash). All run over the `documents` table,
  * all codegen-friendly (builtins + higher-order array functions — no
  * UDFs), all oracle-verified.
  */
object TextOps {
  import Hashing.{duckHash, sparkHash}

  private val stop = Map(
    "en" -> Seq("the", "a", "of", "and", "to", "in", "is", "on", "for", "with"),
    "de" -> Seq("der", "die", "das", "und", "ist", "mit", "von", "zu", "auf", "ein"),
    "fr" -> Seq("le", "la", "les", "et", "est", "dans", "pour", "que", "une", "des"),
    "es" -> Seq("el", "los", "las", "y", "es", "al", "para", "una", "por", "lo"))

  private def inList(vs: Seq[String]) = vs.map(v => s"'$v'").mkString("(", ", ", ")")

  /** Language ID via stopword-hit counts per language, argmax with a fixed
    * tie-break order (en > de > fr > es). On this synthetic corpus every
    * doc is English-shaped — the operator's value is the plumbing: set
    * membership counts over a split column, pure codegen.
    */
  def langId(s: SparkSession, d: String): DataFrame = {
    val base = Tables.documents(s, d)
      .select(col("doc_id"), col("lang").as("lang_label"),
        split(lower(col("text")), " ").as("ws"))
    val scored = stop.keys.toSeq.sorted.foldLeft(base) { (df, l) =>
      df.withColumn(s"score_$l",
        expr(s"size(filter(ws, w -> w IN ${inList(stop(l))}))").cast("long"))
    }
    scored.withColumn("lang_pred",
      expr(
        """CASE
          |  WHEN score_en >= score_de AND score_en >= score_fr AND score_en >= score_es THEN 'en'
          |  WHEN score_de >= score_fr AND score_de >= score_es THEN 'de'
          |  WHEN score_fr >= score_es THEN 'fr'
          |  ELSE 'es' END""".stripMargin))
      .select(col("doc_id"), col("lang_label"), col("score_en"), col("score_de"),
        col("score_fr"), col("score_es"), col("lang_pred"))
      .orderBy(col("doc_id"))
  }

  /** Language-ID confusion matrix — [[langId]]'s predictions crossed
    * with the ground-truth label: per (true, predicted) cell the doc
    * count and the row-normalized share (recall on the diagonal, leakage
    * off it) — the eval table a language-filtering pipeline publishes
    * before anyone trusts per-language corpus slices. The classifier
    * runs once (same codegen'd stopword argmax); the matrix is one
    * aggregate plus a broadcast row-total join; the share is the
    * terminal division.
    */
  def langConfusion(s: SparkSession, d: String): DataFrame = {
    val pred = langId(s, d).select(col("lang_label"), col("lang_pred"))
    val totals = pred.groupBy(col("lang_label"))
      .agg(count(lit(1)).as("n_label"))
    pred.groupBy(col("lang_label"), col("lang_pred"))
      .agg(count(lit(1)).as("n_docs"))
      .join(broadcast(totals), Seq("lang_label"))
      .select(col("lang_label"), col("lang_pred"), col("n_docs"),
        col("n_label"),
        (col("n_docs").cast("double") / col("n_label").cast("double"))
          .as("row_share"))
      .orderBy(col("lang_label"), col("lang_pred"))
  }

  /** Quality scoring: length, word count, mean word length, punctuation
    * density, stopword ratio — combined into a filter flag the way a
    * C4/CCNet-style cleaning pass would.
    */
  def quality(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id"), col("text"), split(lower(col("text")), " ").as("ws"))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .withColumn("n_words", size(col("ws")).cast("long"))
      .withColumn("mean_word_len",
        (length(regexp_replace(col("text"), " ", "")).cast("double")) / col("n_words"))
      .withColumn("punct_ratio",
        regexp_count(col("text"), lit("[.!?,;:]")).cast("double") / col("n_chars"))
      .withColumn("stop_ratio",
        expr(s"size(filter(ws, w -> w IN ${inList(stop("en"))}))").cast("double")
          / col("n_words"))
      .withColumn("quality_ok",
        col("n_words") >= 10 && col("mean_word_len") >= 2.0
          && col("mean_word_len") <= 12.0 && col("stop_ratio") >= 0.05)
      .select(col("doc_id"), col("n_chars"), col("n_words"), col("mean_word_len"),
        col("punct_ratio"), col("stop_ratio"), col("quality_ok"))
      .orderBy(col("doc_id"))

  /** Token counting: whitespace tokens plus a BPE-ish regex tokenizer
    * (letter runs | digit runs | single punctuation), chars-per-token.
    */
  def tokens(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .withColumn("ws_tokens", size(split(col("text"), " ")).cast("long"))
      .withColumn("re_tokens",
        regexp_count(lower(col("text")), lit("[a-z]+|[0-9]+|[^a-z0-9 ]")).cast("long"))
      .withColumn("chars_per_token",
        length(col("text")).cast("double") / col("re_tokens"))
      .select(col("doc_id"), col("ws_tokens"), col("re_tokens"), col("chars_per_token"))
      .orderBy(col("doc_id"))

  /** Document fingerprint: polynomial rolling hash over per-word hashes
    * (mod 10^12 to stay overflow-free in engines that trap on BIGINT
    * overflow). Order-sensitive by construction — reordered words give a
    * different fingerprint, unlike the shingle sets used for near-dup.
    */
  def fingerprint(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id"), split(lower(col("text")), " ").as("ws"))
      .withColumn("fingerprint", expr(
        s"""aggregate(transform(ws, w -> ${sparkHash("w")} % 1000000),
           |  CAST(0 AS BIGINT),
           |  (acc, x) -> (acc * 31 + x) % 1000000000000)""".stripMargin))
      .select(col("doc_id"), col("fingerprint"))
      .orderBy(col("doc_id"))

  /** The composed corpus-prep pipeline — quality gate → LSH near-dup
    * removal → token-counted manifest — i.e. what a training-data job
    * actually runs, end to end, as ONE declarative plan Catalyst can
    * optimize across stages (the quality predicate prunes before any
    * shingling happens; only survivors pay the sketch cost).
    *
    * Near-dup policy is keep-smallest: a doc is dropped iff it has a
    * verified near-dup with a smaller doc_id among the quality survivors
    * (greedy pair-level drop — a chain a<b<c with pairs (a,b),(b,c) drops
    * BOTH b and c; deterministic, and the oracle replays the same rule).
    * On this corpus the gate drops 188/500 docs and the dedup pass drops
    * the larger half of each surviving planted pair.
    */
  def corpusClean(s: SparkSession, d: String): DataFrame = {
    val survivors = Tables.documents(s, d)
      .select(col("doc_id"), col("text"), split(lower(col("text")), " ").as("ws"))
      .withColumn("n_words", size(col("ws")).cast("long"))
      .withColumn("mean_word_len",
        (length(regexp_replace(col("text"), " ", "")).cast("double")) / col("n_words"))
      .withColumn("stop_ratio",
        expr(s"size(filter(ws, w -> w IN ${inList(stop("en"))}))").cast("double")
          / col("n_words"))
      .filter(col("n_words") >= 10 && col("mean_word_len") >= 2.0
        && col("mean_word_len") <= 12.0 && col("stop_ratio") >= 0.05)
    val dupIds = Dedup.lshPairsOf(survivors.select(col("doc_id"), col("text")))
      .select(col("ib").as("doc_id")).distinct()
    survivors.join(dupIds, Seq("doc_id"), "left_anti")
      .withColumn("re_tokens",
        regexp_count(lower(col("text")), lit("[a-z]+|[0-9]+|[^a-z0-9 ]")).cast("long"))
      .select(col("doc_id"), col("n_words"), col("re_tokens"), col("stop_ratio"))
      .orderBy(col("doc_id"))
  }

  // ---- e2e pretrain stage bodies — shared VERBATIM by the in-memory
  // flagship ([[e2ePretrain]], localCheckpoint stage boundaries) and the
  // persisted publish run ([[e2ePublish]], parquet stage boundaries), so
  // the two can never drift semantically. ------------------------------

  /** Stage 1: the Gopher quality gate (the gopherRules predicate). */
  private def stgQuality(raw: DataFrame): DataFrame = raw
    .withColumn("ws", split(lower(col("text")), " "))
    .withColumn("n_words", size(col("ws")).cast("long"))
    .withColumn("mwl",
      length(regexp_replace(col("text"), " ", "")).cast("double")
        / col("n_words"))
    .withColumn("symr",
      regexp_count(col("text"), lit("[^a-zA-Z0-9 ]")).cast("double")
        / length(col("text")))
    .withColumn("alphar",
      expr("size(filter(ws, w -> w rlike '[a-z]'))").cast("double")
        / col("n_words"))
    .withColumn("n_stop",
      expr(s"size(filter(ws, w -> w IN ${inList(stop("en"))}))").cast("long"))
    .filter(col("n_words") >= 20 && col("n_words") <= 500
      && col("mwl") >= 3.0 && col("mwl") <= 10.0 && col("symr") <= 0.1
      && col("alphar") >= 0.8 && col("n_stop") >= 2L)
    .select(col("doc_id"), col("text"), col("lang"), col("source"))

  /** Stage 2: exact dedup — keep the smallest doc_id per md5(text). */
  private def stgExact(quality: DataFrame): DataFrame = quality
    .withColumn("keep_id",
      min(col("doc_id")).over(Window.partitionBy(md5(col("text")))))
    .filter(col("doc_id") === col("keep_id"))
    .select(col("doc_id"), col("text"), col("lang"), col("source"))

  /** Stage 3: LSH near-dup removal (keep-smallest, the corpusClean
    * policy).
    */
  private def stgNeardup(exact: DataFrame): DataFrame = {
    // r18 opt: the stage-2 checkpoint arrives AQE-coalesced to ~1
    // partition at test scale, so the MinHash shingle+signature hashing
    // (the stage's CPU) ran serially — spread it like the standalone
    // minhashLsh does (identity on any properly split input).
    val dupIds = Dedup.lshPairsOf(
        Tables.spread(exact.select(col("doc_id"), col("text"))))
      .select(col("ib").as("doc_id")).distinct()
    exact.join(dupIds, Seq("doc_id"), "left_anti")
  }

  /** Stage 4: benchmark decontamination — eval docs come from the RAW
    * table; survivors that ARE eval docs leave, and train docs sharing
    * ≥ 20% of any eval doc's shingles leave too.
    */
  private def stgDecontam(raw: DataFrame, neardup: DataFrame): DataFrame =
    stgDecontamEval(raw.filter(col("doc_id") % Dedup.EVAL_MOD === 0), neardup)

  /** [[stgDecontam]] against an explicit benchmark frame (doc_id, text,
    * …) — the incremental pipeline passes the FULL fixed eval set here,
    * independent of which snapshot the surrounding run curates.
    */
  private def stgDecontamEval(evalDocs: DataFrame,
      neardup: DataFrame): DataFrame = {
    // r18 opt: both sides' md5 shingle hashing is per-doc CPU and both
    // inputs arrive under-partitioned at test scale (the raw scan is 1
    // partition; the stage-3 checkpoint is AQE-coalesced). The eval side
    // is a benchmark suite — small BY DEFINITION at any corpus scale
    // (the [[graft.ext.Dedup.contamination]] scale note) — so it
    // BROADCASTS; the train side gets a doc-keyed repartition, which
    // hash-clusters the (tid, eid, en) overlap aggregate AND the
    // contaminated-id distinct (broadcast joins preserve the streamed
    // partitioning), so the train shingles never shuffle at all.
    val ev = Dedup.shingledOf(Tables.spread(evalDocs))
      .select(col("doc_id").as("eid"), size(col("shashes")).as("en"),
        explode(col("shashes")).as("sh"))
    val tr = Dedup.shingledOf(
        neardup.filter(col("doc_id") % Dedup.EVAL_MOD =!= 0)
          .repartition(neardup.sparkSession.sparkContext.defaultParallelism,
            col("doc_id")))
      .select(col("doc_id").as("tid"), explode(col("shashes")).as("sh"))
    val contaminated = tr.join(broadcast(ev), "sh")
      .groupBy(col("tid"), col("eid"), col("en"))
      .agg(count(lit(1)).as("shared"))
      .filter(col("shared").cast("double") / col("en") >= 0.2)
      .select(col("tid").as("doc_id")).distinct()
    neardup.filter(col("doc_id") % Dedup.EVAL_MOD =!= 0)
      .join(contaminated, Seq("doc_id"), "left_anti")
  }

  /** Stage 5: temperature mix (τ=2 over langs, the temperatureMix plan). */
  private def stgMixed(decontam: DataFrame): DataFrame = {
    val counts = decontam.groupBy(col("lang")).agg(count(lit(1)).as("n_docs"))
    val tot = counts.agg(
      sum(col("n_docs")).as("n_total"),
      expr(
        """aggregate(
          |  transform(array_sort(collect_list(
          |    struct(lang, sqrt(CAST(n_docs AS DOUBLE)) AS w))), x -> x.w),
          |  CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)""".stripMargin)
        .as("w_total"))
    val th = counts.crossJoin(broadcast(tot))
      .withColumn("target",
        floor(sqrt(col("n_docs").cast("double")) / col("w_total")
          * expr("CAST(n_total DIV 2 AS DOUBLE)")).cast("long"))
      .withColumn("th",
        floor(least(lit(1.0), col("target").cast("double") / col("n_docs"))
          * lit(10000.0)).cast("long"))
      .select(col("lang"), col("th"))
    decontam
      .join(broadcast(th), Seq("lang"))
      .filter(expr(s"${sparkHash("CAST(doc_id AS STRING)")} % 10000")
        < col("th"))
  }

  /** Stage 6: BPE trained on the curated corpus; per-doc token counts. */
  private def stgDocLevel(mixed0: DataFrame): DataFrame = {
    val (_, vocab) = bpeTrainOf(mixed0)
    val symCounts = vocab.select(col("w"), expr(
      "size(filter(split(seg, concat(chr(1), chr(1))), x -> x != ''))")
      .cast("long").as("n_sym"))
    // r18 note: a doc-keyed repartition here (to fuse the token
    // aggregate + source join behind one exchange) measured SLOWER in
    // the stage probe (1.09 → ~1.5 s) — stage 5's output is already
    // small and the saved exchanges were AQE-coalesced to near-free;
    // reverted, negative result recorded.
    val mixed = mixed0
    val docTokens = mixed
      .select(col("doc_id"), explode(split(lower(col("text")), " ")).as("w"))
      .filter(length(col("w")) > 0 && !col("w").contains("\u0001"))
      .join(broadcast(symCounts), Seq("w"))
      .groupBy(col("doc_id"))
      .agg(sum(col("n_sym")).as("bpe_tokens"))
    mixed.select(col("doc_id"), col("source"))
      .join(docTokens, Seq("doc_id"), "left")
      .withColumn("n_tokens", coalesce(col("bpe_tokens"), lit(0L)))
      .select(col("doc_id"), col("source"), col("n_tokens"))
  }

  /** THE END-TO-END PRETRAIN FLAGSHIP — the full curation DAG a real
    * pretraining run ships, composed as one checkpointed chain:
    *
    *   raw → Gopher quality gate → exact dedup → MinHash-LSH near-dup
    *   removal → benchmark decontamination (eval = doc_id % 11 ≡ 0,
    *   ≥20% shingle overlap drops the train doc) → temperature mix
    *   (τ=2 over langs) → BPE tokenizer TRAINED ON THE CURATED CORPUS
    *   → per-doc tokenization → per-shard sequence packing (2048) →
    *   90/5/5 split → dataset-card manifest.
    *
    * Every leg is the exact rule its standalone query pins
    * ([[gopherRules]], [[graft.ext.Dedup.lshPairsOf]],
    * [[graft.ext.Dedup.contamination]], [[temperatureMix]],
    * [[bpeEncode]], [[packSequences]], [[trainSplit]]) — this query
    * verifies that the STAGE BOUNDARIES compose: each survivor frame is
    * localCheckpoint'ed once and feeds both its successor stage and the
    * attrition funnel, so the corpus is scanned O(stages) times (each
    * stage reads its predecessor's materialization, never re-derives the
    * chain), not O(consumers).
    *
    * Output is one uniform manifest frame: the funnel section (docs
    * surviving each stage), the per-(source, split) card (docs + BPE
    * tokens), and the per-shard packing section (docs, tokens, packed
    * 2048-token sequences). The oracle replays the ENTIRE DAG in one
    * DuckDB query — quality predicate through BPE rounds to the packing
    * window — so a drift in any stage's semantics fails the hash.
    *
    * At 100 TB: the chain is monotonically shrinking; the wide
    * operations are the ones the standalone legs already bound (LSH
    * band joins never broadcast the corpus, mix plan is a |langs|-row
    * broadcast, BPE counts shuffle word TYPES only, packing windows are
    * per-shard). Checkpoints at stage boundaries are exactly the
    * persisted intermediate tables a production pipeline writes.
    */
  def e2ePretrain(s: SparkSession, d: String): DataFrame = {
    // (r17 opt: a spread here measured +0.9 s in-suite — the chain's
    // checkpoints repartition anyway and the extra exchange is pure tax)
    val raw = Tables.documents(s, d)
      .select(col("doc_id"), col("text"), col("lang"), col("source"))
    // Stage 1: Gopher quality gate (the gopherRules predicate).
    val quality = stgQuality(raw).localCheckpoint()
    // Stage 2: exact dedup — keep the smallest doc_id per md5(text).
    val exact = stgExact(quality).localCheckpoint()
    // Stage 3: near-dup removal (keep-smallest, the corpusClean policy).
    val neardup = stgNeardup(exact).localCheckpoint()
    // Stage 4: decontamination — eval docs come from the RAW table (the
    // benchmark exists regardless of curation); survivors that ARE eval
    // docs leave the corpus, and train docs sharing ≥ 20% of any eval
    // doc's shingles leave too (the contamination() rule).
    val decontam = stgDecontam(raw, neardup).localCheckpoint()
    // Stage 5: temperature mix (τ=2 over langs, the temperatureMix plan).
    val mixed = stgMixed(decontam).localCheckpoint()
    // Stage 6: BPE tokenizer trained on the curated corpus; tokenize.
    val docLevel = stgDocLevel(mixed).localCheckpoint()
    // Stage 7: per-shard sequence packing at 2048 tokens.
    val w = Window.partitionBy(col("shard")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val shards = docLevel
      .withColumn("shard", expr(s"${sparkHash("CAST(doc_id AS STRING)")} % 8"))
      .withColumn("start_tok", sum(col("n_tokens")).over(w) - col("n_tokens"))
      .groupBy(col("shard"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("n_tokens"),
        (max(expr("start_tok DIV 2048")) + 1L).as("n_seqs"))
    // Stage 8: 90/5/5 split → per-(source, split) manifest.
    val manifest = docLevel
      .withColumn("bucket",
        expr(s"${sparkHash("CAST(doc_id AS STRING)")} % 100"))
      .withColumn("split",
        when(col("bucket") < 90, "train")
          .when(col("bucket") < 95, "val").otherwise("test"))
      .groupBy(col("source"), col("split"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("n_tokens"))
    // Attrition funnel over the checkpointed stage frames.
    def cnt(df: DataFrame, stage: String): DataFrame =
      df.agg(count(lit(1)).as("n_docs"))
        .select(lit("0_funnel").as("section"), lit(stage).as("k"),
          col("n_docs"), lit(0L).as("n_tokens"), lit(0L).as("n_seqs"))
    val funnel = cnt(raw, "00_raw")
      .unionByName(cnt(quality, "01_quality"))
      .unionByName(cnt(exact, "02_exact"))
      .unionByName(cnt(neardup, "03_neardup"))
      .unionByName(cnt(decontam, "04_decontam"))
      .unionByName(cnt(mixed, "05_mixed"))
    funnel
      .unionByName(manifest.select(lit("1_manifest").as("section"),
        concat_ws("/", col("source"), col("split")).as("k"),
        col("n_docs"), col("n_tokens"), lit(0L).as("n_seqs")))
      .unionByName(shards.select(lit("2_shards").as("section"),
        concat(lit("shard_"), col("shard").cast("string")).as("k"),
        col("n_docs"), col("n_tokens"), col("n_seqs")))
      .orderBy(col("section"), col("k"))
  }

  /** Per-doc packed rows from a doc-level (doc_id, source, n_tokens)
    * frame: shard, running start offset, sequence index, split — the
    * publishable training-shard payload (stages 7+8's per-doc form).
    */
  private def packedOf(docLevel: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("shard")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    docLevel
      .withColumn("shard", expr(s"${sparkHash("CAST(doc_id AS STRING)")} % 8"))
      .withColumn("start_tok", sum(col("n_tokens")).over(w) - col("n_tokens"))
      .withColumn("seq_idx", expr("start_tok DIV 2048"))
      .withColumn("bucket", expr(s"${sparkHash("CAST(doc_id AS STRING)")} % 100"))
      .withColumn("split",
        when(col("bucket") < 90, "train")
          .when(col("bucket") < 95, "val").otherwise("test"))
      .select(col("shard"), col("doc_id"), col("source"), col("n_tokens"),
        col("start_tok"), col("seq_idx"), col("split"))
  }

  /** Manifest sections (1_manifest per source/split, 2_shards per shard)
    * from a packed-rows frame — used twice by the publish round trip:
    * once on the pipeline frame (what gets committed) and once on the
    * shard files READ BACK (what proves the write).
    */
  private def manifestSectionsOf(packed: DataFrame): DataFrame = {
    val p = packed.withColumn("shard", col("shard").cast("long"))
    val man = p.groupBy(col("source"), col("split"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("n_tokens"))
      .select(lit("1_manifest").as("section"),
        concat_ws("/", col("source"), col("split")).as("k"),
        col("n_docs"), col("n_tokens"), lit(0L).as("n_seqs"))
    val sh = p.groupBy(col("shard"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("n_tokens"),
        (max(expr("start_tok DIV 2048")) + 1L).as("n_seqs"))
      .select(lit("2_shards").as("section"),
        concat(lit("shard_"), col("shard").cast("string")).as("k"),
        col("n_docs"), col("n_tokens"), col("n_seqs"))
    man.unionByName(sh)
  }

  /** Store root for the persisted publish run, fingerprinted by corpus
    * identity ([[graft.Scratch.store]]) so reruns resume and a different
    * corpus gets a fresh store.
    */
  private[graft] def e2ePublishRoot(d: String): java.io.File =
    Scratch.store("e2e_pub", s"${Scratch.fileKey(d, "documents")}|e2e_publish_v1")

  /** Run — or RESUME — the persisted publish pipeline: every stage
    * materializes to parquet under `root` and is SKIPPED when its
    * `_SUCCESS` marker already exists, so a killed run continues from
    * the last completed stage without re-deriving (or re-scanning) its
    * predecessors. `failAfter` is the spec's kill switch: throw right
    * after the named stage persists, simulating a mid-pipeline crash.
    *
    * Tail: the per-doc packed rows are written as partitioned parquet
    * shards ([[ShardWriter.writeShardsPre]]), then the manifest rows are
    * committed through the [[graft.sources.KvSink]] OCC V2 sink — the
    * atomic publish point. The manifest is computed from the PIPELINE
    * frame; [[e2ePublish]] recomputes it from the shard files read back
    * and the equality of the two is the round-trip proof.
    */
  private[graft] def e2ePublishRun(s: SparkSession, d: String,
      root: java.io.File, failAfter: Option[String] = None): Unit = {
    def checkKill(name: String): Unit =
      if (failAfter.contains(name))
        throw new IllegalStateException(
          s"e2e_publish: killed after stage $name (test hook)")
    def stage(name: String)(compute: => DataFrame): DataFrame = {
      val dir = new java.io.File(root, name)
      if (!new java.io.File(dir, "_SUCCESS").exists())
        compute.write.mode("overwrite").parquet(dir.toString)
      checkKill(name)
      s.read.parquet(dir.toString)
    }
    val raw = Tables.documents(s, d)
      .select(col("doc_id"), col("text"), col("lang"), col("source"))
    stage("00_raw_count")(raw.agg(count(lit(1)).as("n_docs")))
    val quality = stage("01_quality")(stgQuality(raw))
    val exact = stage("02_exact")(stgExact(quality))
    val neardup = stage("03_neardup")(stgNeardup(exact))
    val decontam = stage("04_decontam")(stgDecontam(raw, neardup))
    val mixed = stage("05_mixed")(stgMixed(decontam))
    val docLevel = stage("06_doclevel")(stgDocLevel(mixed))
    val shardsDir = new java.io.File(root, "07_shards")
    if (!new java.io.File(shardsDir, "_SUCCESS").exists())
      ShardWriter.writeShardsPre(packedOf(docLevel), shardsDir.toString)
    checkKill("07_shards")
    val kvDir = new java.io.File(root, "kv_manifest").toString
    if (graft.sources.KvSink.committedFiles(kvDir).isEmpty) {
      // ~20 manifest rows: the single-partition row_number is fine here
      val w = Window.orderBy(col("section"), col("k"))
      manifestSectionsOf(packedOf(docLevel))
        .withColumn("key", row_number().over(w).cast("long"))
        .select(col("key"), concat_ws("|", col("section"), col("k"),
          col("n_docs"), col("n_tokens"), col("n_seqs")).as("val"))
        .write.format("graft.sources.KvSink")
        .mode("overwrite").option("path", kvDir).save()
    }
    checkKill("08_kv_manifest")
  }

  /** SHIP THE BYTES — the publish tail the pretrain flagship was
    * missing: [[e2ePretrain]]'s DAG re-run with DURABLE parquet stage
    * boundaries (the persisted intermediates a production run writes —
    * restart-resumable, SourceSinkSpec kills it mid-pipeline and proves
    * the resume never re-scans raw), the per-doc packed sequences
    * WRITTEN as partitioned shard parquet, and the manifest committed
    * atomically through the OCC V2 sink.
    *
    * The output is the verification, not a copy of the input: sections
    * 1 and 2 are recomputed FROM THE SHARD FILES READ BACK (token sums,
    * sequence counts over what is actually on disk), the funnel from
    * the persisted stage artifacts, and the `3_publish` row compares
    * the read-back manifest to the OCC-committed one row by row —
    * n_tokens carries the mismatch count, which the oracle pins to 0.
    * Equality with [[e2ePretrain]]'s oracle-replayed DAG is therefore a
    * full write→commit→read round-trip proof.
    *
    * At 100 TB: stage parquet = the lakehouse tables between pipeline
    * legs; the shard write is one partitionBy pass; the manifest commit
    * is O(manifest) regardless of data volume; re-runs are no-ops.
    */
  def e2ePublish(s: SparkSession, d: String): DataFrame = {
    val root = e2ePublishRoot(d)
    e2ePublishRun(s, d, root)
    def rd(name: String) = s.read.parquet(new java.io.File(root, name).toString)
    val recomputed = manifestSectionsOf(rd("07_shards"))
    val kvDir = new java.io.File(root, "kv_manifest").toString
    val committed = s.read.schema("key LONG, val STRING")
      .csv(graft.sources.KvSink.committedPaths(kvDir): _*)
      .select(split(col("val"), "\\|").as("f"))
      .select(col("f").getItem(0).as("section"), col("f").getItem(1).as("k"),
        col("f").getItem(2).cast("long").as("c_docs"),
        col("f").getItem(3).cast("long").as("c_tokens"),
        col("f").getItem(4).cast("long").as("c_seqs"))
    val mismatch = recomputed.join(committed, Seq("section", "k"), "full_outer")
      .filter(
        coalesce(col("n_docs"), lit(-1L)) =!= coalesce(col("c_docs"), lit(-2L))
          || coalesce(col("n_tokens"), lit(-1L))
            =!= coalesce(col("c_tokens"), lit(-2L))
          || coalesce(col("n_seqs"), lit(-1L))
            =!= coalesce(col("c_seqs"), lit(-2L)))
      .agg(count(lit(1)).as("n_mismatch"))
    val publishRow = committed.agg(count(lit(1)).as("n_rows"))
      .crossJoin(broadcast(mismatch)) // two 1-row aggregates
      .select(lit("3_publish").as("section"), lit("roundtrip").as("k"),
        col("n_rows").as("n_docs"), col("n_mismatch").as("n_tokens"),
        lit(0L).as("n_seqs"))
    def cnt(name: String, key: String): DataFrame =
      rd(name).agg(count(lit(1)).as("n_docs"))
        .select(lit("0_funnel").as("section"), lit(key).as("k"),
          col("n_docs"), lit(0L).as("n_tokens"), lit(0L).as("n_seqs"))
    val funnel = rd("00_raw_count")
      .select(lit("0_funnel").as("section"), lit("00_raw").as("k"),
        col("n_docs"), lit(0L).as("n_tokens"), lit(0L).as("n_seqs"))
      .unionByName(cnt("01_quality", "01_quality"))
      .unionByName(cnt("02_exact", "02_exact"))
      .unionByName(cnt("03_neardup", "03_neardup"))
      .unionByName(cnt("04_decontam", "04_decontam"))
      .unionByName(cnt("05_mixed", "05_mixed"))
    funnel.unionByName(recomputed).unionByName(publishRow)
      .orderBy(col("section"), col("k"))
  }

  /** Store root for the incremental-curation state, fingerprinted by
    * corpus identity (the [[e2ePublishRoot]] convention).
    */
  private[graft] def e2eIncRoot(d: String): java.io.File =
    Scratch.store("e2e_inc", s"${Scratch.fileKey(d, "documents")}|e2e_inc_v1")

  /** The house token count (regex token rule) — the FROZEN tokenizer of
    * the incremental pipeline: token counts must not change when new
    * data arrives, or every seen doc would need re-tokenizing.
    */
  private def reTokens: org.apache.spark.sql.Column =
    regexp_count(lower(col("text")), lit("[a-z]+|[0-9]+|[^a-z0-9 ]"))
      .cast("long")

  /** Build snapshot-1's persisted curation state: the corpus is split at
    * T = (8·max_id) DIV 10 (seen ≤ T, the new crawl batch > T), the seen
    * slice runs quality → exact → LSH near-dup → decontamination, and
    * what lands on disk is exactly what the incremental update needs —
    * NEVER the seen text:
    *
    *  - `t`             — the split point (1 row);
    *  - `seen_quality_md5` — md5 set of seen QUALITY survivors (the
    *    exact-dedup membership probe for new docs);
    *  - `seen_sigs`     — (doc_id, shashes, sig) of seen EXACT survivors
    *    (the LSH signature store new docs band-join against; exact
    *    survivors, not final ones, because the full-recompute pair set
    *    is defined over exact survivors);
    *  - `seen_final`    — (doc_id, lang, source, n_tokens) of seen FINAL
    *    survivors (the manifest's seen half).
    *
    * Decontamination uses the FULL fixed benchmark (doc_id % 11 ≡ 0 over
    * the whole table — the eval suite exists before either snapshot), so
    * every per-doc decision is prefix-stable: curate(seen ∪ batch)
    * restricted to seen ids ≡ curate(seen), which is what makes the
    * incremental manifest provably equal the full recompute.
    */
  private[graft] def e2eIncBuildState(s: SparkSession, d: String,
      root: java.io.File, tenths: Int = 8): Unit = {
    def stage(name: String)(compute: => DataFrame): DataFrame = {
      val dir = new java.io.File(root, name)
      if (!new java.io.File(dir, "_SUCCESS").exists())
        compute.write.mode("overwrite").parquet(dir.toString)
      s.read.parquet(dir.toString)
    }
    val rawAll = Tables.documents(s, d)
      .select(col("doc_id"), col("text"), col("lang"), col("source"))
    val t = stage("t")(
      rawAll.agg(expr(s"CAST(max(doc_id) * $tenths DIV 10 AS BIGINT)").as("t")))
      .head().getLong(0)
    if (new java.io.File(root, "seen_final/_SUCCESS").exists()) return
    val seen = rawAll.filter(col("doc_id") <= t)
    val quality = stgQuality(seen).localCheckpoint()
    stage("seen_quality_md5")(
      quality.select(md5(col("text")).as("h")).distinct())
    val exact = stgExact(quality).localCheckpoint()
    stage("seen_sigs")(Dedup.signaturesOf(
      Dedup.shingledOf(exact.select(col("doc_id"), col("text")))))
    val dupIds = Dedup.lshPairsOf(exact.select(col("doc_id"), col("text")))
      .select(col("ib").as("doc_id")).distinct()
    val neardup = exact.join(dupIds, Seq("doc_id"), "left_anti")
    val evalAll = rawAll.filter(col("doc_id") % Dedup.EVAL_MOD === 0)
      .select(col("doc_id"), col("text"))
    stage("seen_final")(
      stgDecontamEval(evalAll, neardup)
        .withColumn("n_tokens", reTokens)
        .select(col("doc_id"), col("lang"), col("source"), col("n_tokens")))
  }

  /** The incremental act: one new crawl batch flows through the curation
    * DAG against the PERSISTED state — quality gate on the batch, exact
    * dedup as an md5 anti-join against the seen store (plus keep-smallest
    * within the batch), near-dup as a band join of the batch's signatures
    * against the signature STORE (new × seen; seen ids are smaller by
    * construction, so a verified pair always drops the new doc) plus the
    * batch's own pairs, decontamination against the fixed benchmark, and
    * the frozen-tokenizer count. The seen corpus contributes ONLY its
    * persisted signatures and final manifest rows — its text is never
    * read, let alone re-shingled (SourceSinkSpec feeds this function
    * slices copied OUT of the corpus and pins zero documents.parquet
    * scans during the update).
    *
    * At 100 TB this is the operational shape of curation: per-batch cost
    * scales with the batch plus shared-signature volume, never with the
    * corpus; the store grows by appending the batch's own signatures.
    */
  /** The incremental legs shared by the update report, the store append,
    * and the incremental-publish shard write: (quality, exact, sigs,
    * neardup, decontam-finals) of the NEW batch — the seen corpus
    * contributes only its persisted stores throughout.
    */
  private def e2eIncLegs(s: SparkSession, root: java.io.File,
      newBatch: DataFrame, evalDocs: DataFrame)
      : (DataFrame, DataFrame, DataFrame, DataFrame, DataFrame) = {
    def store(name: String) =
      s.read.parquet(new java.io.File(root, name).toString)
    val qualityN = stgQuality(newBatch).localCheckpoint()
    val exactN = qualityN
      .withColumn("h", md5(col("text")))
      .withColumn("keep_id",
        min(col("doc_id")).over(Window.partitionBy(col("h"))))
      .filter(col("doc_id") === col("keep_id"))
      .join(store("seen_quality_md5"), Seq("h"), "left_anti")
      .select(col("doc_id"), col("text"), col("lang"), col("source"))
      .localCheckpoint()
    val sigN = Dedup.signaturesOf(
      Dedup.shingledOf(exactN.select(col("doc_id"), col("text"))))
      .localCheckpoint()
    val seenSigs = store("seen_sigs")
    val bandsN = Dedup.bandsOf(sigN)
    val bandsSeen = Dedup.bandsOf(seenSigs)
    // new × seen: every seen id < every new id, so the seen side is
    // always the keeper; new × new: keep-smallest within the batch
    val candNS = bandsN.as("n")
      .join(bandsSeen.as("sn"), col("n.band") === col("sn.band")
        && col("n.bh") === col("sn.bh"))
      .select(col("sn.doc_id").as("ia"), col("n.doc_id").as("ib"))
    val candNN = bandsN.as("a")
      .join(bandsN.as("b"), col("a.band") === col("b.band")
        && col("a.bh") === col("b.bh") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("ia"), col("b.doc_id").as("ib"))
    val sets = seenSigs.select(col("doc_id"), col("shashes"))
      .unionByName(sigN.select(col("doc_id"), col("shashes")))
    val dropIds = candNS.unionByName(candNN).dropDuplicates("ia", "ib")
      .join(sets.select(col("doc_id").as("ia"), col("shashes").as("sha")),
        Seq("ia"))
      .join(sigN.select(col("doc_id").as("ib"), col("shashes").as("shb")),
        Seq("ib"))
      .withColumn("inter",
        size(array_intersect(col("sha"), col("shb"))).cast("long"))
      .withColumn("jaccard", col("inter").cast("double")
        / (size(col("sha")) + size(col("shb")) - col("inter")))
      .filter(col("jaccard") >= expr(Dedup.JT))
      .select(col("ib").as("doc_id")).distinct()
    val neardupN = exactN.join(dropIds, Seq("doc_id"), "left_anti")
      .localCheckpoint()
    val decontamN = stgDecontamEval(evalDocs, neardupN)
      .withColumn("n_tokens", reTokens)
      .select(col("doc_id"), col("lang"), col("source"), col("n_tokens"))
      .localCheckpoint()
    (qualityN, exactN, sigN, neardupN, decontamN)
  }

  private[graft] def e2eIncUpdate(s: SparkSession, root: java.io.File,
      newBatch: DataFrame, evalDocs: DataFrame,
      appendState: Boolean = false): DataFrame = {
    def store(name: String) =
      s.read.parquet(new java.io.File(root, name).toString)
    val (qualityN, exactN, sigN, neardupN, decontamN) =
      e2eIncLegs(s, root, newBatch, evalDocs)
    val finalAll = store("seen_final").unionByName(decontamN)
    val manifest = finalAll
      .withColumn("bucket",
        expr(s"${sparkHash("CAST(doc_id AS STRING)")} % 100"))
      .withColumn("split",
        when(col("bucket") < 90, "train")
          .when(col("bucket") < 95, "val").otherwise("test"))
      .groupBy(col("source"), col("split"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("n_tokens"))
    def cnt(df: DataFrame, stage: String): DataFrame =
      df.agg(count(lit(1)).as("n_docs"))
        .select(lit("0_batch").as("section"), lit(stage).as("k"),
          col("n_docs"), lit(0L).as("n_tokens"))
    val report = cnt(newBatch, "00_arrived")
      .unionByName(cnt(qualityN, "10_quality"))
      .unionByName(cnt(exactN, "20_exact"))
      .unionByName(cnt(neardupN, "30_neardup"))
      .unionByName(cnt(decontamN, "40_decontam"))
      .unionByName(manifest.select(lit("1_manifest").as("section"),
        concat_ws("/", col("source"), col("split")).as("k"),
        col("n_docs"), col("n_tokens")))
      .orderBy(col("section"), col("k"))
    if (!appendState) report
    else {
      // Absorb the batch into the store so the NEXT batch is incremental
      // too: materialize the report first (its seen_final read must see
      // the PRE-append store), then append the batch's artifacts under
      // the same semantics each store declares — quality-survivor md5s,
      // EXACT survivors' signatures, FINAL survivors' manifest rows.
      val out = report.localCheckpoint()
      def appendTo(name: String, df: DataFrame): Unit =
        df.write.mode("append")
          .parquet(new java.io.File(root, name).toString)
      appendTo("seen_quality_md5",
        qualityN.select(md5(col("text")).as("h")).distinct())
      appendTo("seen_sigs",
        sigN.select(col("doc_id"), col("shashes"), col("sig")))
      appendTo("seen_final", decontamN)
      out
    }
  }

  /** INCREMENTAL E2E CURATION — the 100 TB operational reality: a new
    * crawl batch (doc_id > T) flows through the DAG against snapshot-1's
    * PERSISTED state ([[e2eIncBuildState]] / [[e2eIncUpdate]]), and the
    * updated manifest must equal the FULL RECOMPUTE over the union —
    * which is exactly what the DuckDB oracle replays (it never sees T in
    * the manifest: the equality holds because every stage rule is
    * prefix-stable under "new ids are larger"). The strong verification
    * discipline of `pipe_imv`, applied to the whole curation DAG.
    */
  def e2eIncremental(s: SparkSession, d: String): DataFrame = {
    val root = e2eIncRoot(d)
    e2eIncBuildState(s, d, root)
    val t = s.read.parquet(new java.io.File(root, "t").toString)
      .head().getLong(0)
    val rawAll = Tables.documents(s, d)
      .select(col("doc_id"), col("text"), col("lang"), col("source"))
    e2eIncUpdate(s, root,
      rawAll.filter(col("doc_id") > t),
      rawAll.filter(col("doc_id") % Dedup.EVAL_MOD === 0)
        .select(col("doc_id"), col("text")))
  }

  /** Store root for the incremental-PUBLISH loop. */
  private[graft] def e2eIncPubRoot(d: String): java.io.File =
    Scratch.store("e2e_incpub", s"${Scratch.fileKey(d, "documents")}|e2e_incpub_v1")

  /** Final-survivor rows → publishable shard rows (doc-grain metadata,
    * deterministic shard + split assignment).
    */
  private def shardRowsOf(fin: DataFrame): DataFrame = fin
    .withColumn("shard", expr(s"${sparkHash("CAST(doc_id AS STRING)")} % 8"))
    .withColumn("bucket", expr(s"${sparkHash("CAST(doc_id AS STRING)")} % 100"))
    .withColumn("split",
      when(col("bucket") < 90, "train")
        .when(col("bucket") < 95, "val").otherwise(lit("test")))
    .select(col("shard"), col("doc_id"), col("lang"), col("source"),
      col("n_tokens"), col("split"))

  /** (source, split) manifest rows from shard-grain rows. */
  private def incPubManifestOf(rows: DataFrame): DataFrame = rows
    .groupBy(col("source"), col("split"))
    .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("n_tokens"))

  /** Commit (truncate) the given manifest frame as the NEXT version of
    * the KV manifest log at `kvDir` — skipped if `expectVersion` is
    * already committed (idempotent re-runs).
    */
  private def incPubCommit(s: SparkSession, kvDir: String,
      man: DataFrame, expectVersion: Long): Unit = {
    if (graft.sources.KvSink.versions(kvDir).lastOption.getOrElse(0L)
        >= expectVersion) return
    val w = Window.orderBy(col("source"), col("split"))
    man.withColumn("key", row_number().over(w).cast("long"))
      .select(col("key"), concat_ws("|", col("source"), col("split"),
        col("n_docs"), col("n_tokens")).as("val"))
      .write.format("graft.sources.KvSink")
      .mode("overwrite").option("path", kvDir).save()
  }

  /** Parse committed KV manifest lines back to typed rows. */
  private def incPubReadVersion(s: SparkSession, kvDir: String,
      version: Long): DataFrame =
    s.read.schema("key LONG, val STRING")
      .csv(graft.sources.KvSink.committedPaths(kvDir, version): _*)
      .select(split(col("val"), "\\|").as("f"))
      .select(col("f").getItem(0).as("source"), col("f").getItem(1).as("split"),
        col("f").getItem(2).cast("long").as("n_docs"),
        col("f").getItem(3).cast("long").as("n_tokens"))

  /** THE OPERATIONAL LOOP, CLOSED — incremental curation FEEDING a
    * versioned publish: snapshot 1 curates the seen corpus, writes its
    * shard files (`shards/batch_00000`), and truncate-commits manifest
    * version 1 through the OCC V2 sink; the new crawl batch then flows
    * through [[e2eIncUpdate]] (signature-store dedup — seen text never
    * re-read), its survivors land in NEW shard files ONLY
    * (`shards/batch_00001` — SourceSinkSpec pins batch_00000's files
    * byte-untouched, the [[graft.ext.Similarity]] append discipline),
    * and version 2 commits the UNION manifest while version 1 stays
    * readable through the log (time travel).
    *
    * The output is the proof set: the incremental batch funnel, the
    * union manifest recomputed FROM ALL SHARD FILES READ BACK, and a
    * `2_versions` section — per committed version its row count, the
    * v2-vs-readback mismatch count (0), and the v1-vs-seen-store
    * mismatch count (0, the time-travel check). The oracle replays the
    * full recompute (manifest + funnel, no T in the manifest) plus the
    * version rows computed from the same DAG — so one hash compare
    * covers incremental correctness, append-only shard growth, and
    * version-log integrity together.
    *
    * At 100 TB: each batch costs batch-scale curation + one shard write
    * + an O(manifest) commit; history stays readable until vacuum.
    */
  def e2eIncPublish(s: SparkSession, d: String): DataFrame = {
    val root = e2eIncPubRoot(d)
    // share the incremental state store (same fingerprint inputs)
    e2eIncBuildState(s, d, root)
    val t = s.read.parquet(new java.io.File(root, "t").toString)
      .head().getLong(0)
    val rawAll = Tables.documents(s, d)
      .select(col("doc_id"), col("text"), col("lang"), col("source"))
    val evalDocs = rawAll.filter(col("doc_id") % Dedup.EVAL_MOD === 0)
      .select(col("doc_id"), col("text"))
    val kvDir = new java.io.File(root, "kv_manifest").toString
    // ---- snapshot 1 publish ------------------------------------------
    val shard0 = new java.io.File(root, "shards/batch_00000")
    if (!new java.io.File(shard0, "_SUCCESS").exists())
      ShardWriter.writeShardsPre(
        shardRowsOf(s.read.parquet(new java.io.File(root, "seen_final").toString)),
        shard0.toString)
    incPubCommit(s, kvDir,
      incPubManifestOf(s.read.parquet(shard0.toString)), 1L)
    // ---- the batch: incremental curation → NEW shard files → v2 ------
    val batchReport = e2eIncUpdate(s, root,
      rawAll.filter(col("doc_id") > t), evalDocs).localCheckpoint()
    val shard1 = new java.io.File(root, "shards/batch_00001")
    if (!new java.io.File(shard1, "_SUCCESS").exists()) {
      // re-derive the batch's final rows for the shard write — the legs
      // are batch-scale (the seen corpus still contributes only stores)
      val batchFin = e2eIncBatchFinals(s, root,
        rawAll.filter(col("doc_id") > t), evalDocs)
      ShardWriter.writeShardsPre(shardRowsOf(batchFin), shard1.toString)
    }
    // Each batch is its own partitionBy("shard") root; one multi-path
    // read would make partition discovery assert a single base path
    // (CONFLICTING_DIRECTORY_STRUCTURES). Read per batch and union —
    // `shard` is a partition column in both, so schemas line up.
    val allShards = s.read.parquet(shard0.toString)
      .unionByName(s.read.parquet(shard1.toString))
    incPubCommit(s, kvDir, incPubManifestOf(allShards), 2L)
    // ---- proof set ---------------------------------------------------
    val readBack = incPubManifestOf(allShards)
    val v2 = incPubReadVersion(s, kvDir, 2L)
    val v1 = incPubReadVersion(s, kvDir, 1L)
    val seenMan = incPubManifestOf(
      shardRowsOf(s.read.parquet(new java.io.File(root, "seen_final").toString)))
    def mismatches(a: DataFrame, b: DataFrame): DataFrame =
      a.join(b.select(col("source"), col("split"),
          col("n_docs").as("b_docs"), col("n_tokens").as("b_tokens")),
          Seq("source", "split"), "full_outer")
        .filter(coalesce(col("n_docs"), lit(-1L))
            =!= coalesce(col("b_docs"), lit(-2L))
          || coalesce(col("n_tokens"), lit(-1L))
            =!= coalesce(col("b_tokens"), lit(-2L)))
        .agg(count(lit(1)).as("n"))
    val versions = v2.agg(count(lit(1)).as("v2_rows"))
      .crossJoin(broadcast(v1.agg(count(lit(1)).as("v1_rows"))))
      .crossJoin(broadcast(mismatches(readBack, v2)
        .select(col("n").as("v2_mismatch"))))
      .crossJoin(broadcast(mismatches(seenMan, v1)
        .select(col("n").as("v1_mismatch"))))
      .select(
        lit("2_versions").as("section"), lit("log").as("k"),
        col("v1_rows").as("n_docs"),
        (col("v2_rows") * 1000L + least(col("v2_mismatch"), lit(9L)) * 10L
          + least(col("v1_mismatch"), lit(9L))).as("n_tokens"))
    batchReport
      .unionByName(versions)
      .orderBy(col("section"), col("k"))
  }

  /** The batch's FINAL survivor rows (doc_id, lang, source, n_tokens) —
    * [[e2eIncLegs]]'s decontam leg, re-derived for the shard write
    * (batch-scale cost; the seen corpus still contributes only stores).
    */
  private def e2eIncBatchFinals(s: SparkSession, root: java.io.File,
      newBatch: DataFrame, evalDocs: DataFrame): DataFrame =
    e2eIncLegs(s, root, newBatch, evalDocs)._5

  /** THE POST-TRAINING (SFT) DATA FLAGSHIP — [[e2ePretrain]]'s sibling
    * for the instruction-tuning side of the house, composed as one
    * checkpointed chain:
    *
    *   assemble 4-turn conversations (the chat-template shape) →
    *   quality gate (enough assistant tokens to train on) → exact
    *   conversation dedup → benchmark decontamination (a conversation
    *   QUOTING an eval document leaves — detected by shingle content,
    *   not provenance flags) → 90/5/5 split → per-(source, split)
    *   manifest with the loss-masking economics (user tokens are
    *   masked, assistant tokens are what the model trains on).
    *
    * The funnel rows carry the token sums too, so the report shows not
    * just conversation attrition but TRAINABLE-TOKEN attrition — the
    * number an SFT run actually budgets. Decontamination is genuinely
    * content-based: eval docs (doc_id % 11 ≡ 0, the [[graft.ext.Dedup]]
    * convention) appear verbatim inside some assembled conversations,
    * and the shingle-overlap join finds them there (≥ 50% of the eval
    * doc's shingles shared). The oracle replays the whole DAG.
    *
    * At 100 TB: assembly is one source-grain window; the gate and dedup
    * shrink monotonically; decontamination shuffles 60-bit shingle
    * hashes with the (small) eval side broadcastable; the manifest is a
    * |sources|×3 rollup.
    */
  def e2eSft(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("source")).orderBy(col("doc_id"))
    val assembled = Tables.documents(s, d)
      .withColumn("rn", (row_number().over(w) - 1).cast("long"))
      .withColumn("conv_id", expr("rn DIV 4"))
      .withColumn("turn", col("rn") % 4)
      .withColumn("role",
        when(col("turn") % 2 === 0, lit("user")).otherwise(lit("assistant")))
      .withColumn("nw",
        expr("size(filter(split(text, ' '), w -> length(w) > 0))")
          .cast("long"))
      .groupBy(col("source"), col("conv_id"))
      .agg(count(lit(1)).as("n_turns"),
        sum(when(col("role") === "user", col("nw")).otherwise(0L))
          .as("n_user_tokens"),
        sum(when(col("role") === "assistant", col("nw")).otherwise(0L))
          .as("n_assistant_tokens"),
        expr(
          """array_join(
            |  transform(array_sort(collect_list(struct(turn,
            |    concat('<|', role, '|>', text) AS seg))), x -> x.seg),
            |  chr(10))""".stripMargin).as("conv_text"))
      .filter(col("n_turns") === 4)
      .withColumn("conv_key",
        expr(sparkHash("concat(source, ':', CAST(conv_id AS STRING))")))
      .localCheckpoint()
    // no checkpoint: a plain filter over the checkpointed assembly —
    // both consumers (exact's window, the funnel count) recompute it
    // from memory cheaper than a materialization barrier costs
    val gated = assembled.filter(col("n_assistant_tokens") >= 80)
    val exact = gated
      .withColumn("keep",
        min(col("conv_key")).over(Window.partitionBy(md5(col("conv_text")))))
      .filter(col("conv_key") === col("keep")).drop("keep")
      .localCheckpoint()
    val ev = Dedup.shingledOf(Tables.spread(Tables.documents(s, d)
        .filter(col("doc_id") % Dedup.EVAL_MOD === 0)))
      .select(col("doc_id").as("eid"), size(col("shashes")).as("en"),
        explode(col("shashes")).as("sh"))
    val tr = Dedup.shingledOf(Tables.spread(
        exact.select(col("conv_key").as("doc_id"),
          col("conv_text").as("text"))))
      .select(col("doc_id").as("conv_key"), explode(col("shashes")).as("sh"))
    val contaminated = ev.join(tr, "sh")
      .groupBy(col("conv_key"), col("eid"), col("en"))
      .agg(count(lit(1)).as("shared"))
      .filter(col("shared").cast("double") / col("en") >= 0.5)
      .select(col("conv_key")).distinct()
    val clean = exact.join(contaminated, Seq("conv_key"), "left_anti")
    val manifest = clean
      .withColumn("bucket",
        expr(s"${sparkHash("CAST(conv_key AS STRING)")} % 100"))
      .withColumn("split",
        when(col("bucket") < 90, "train")
          .when(col("bucket") < 95, "val").otherwise("test"))
      .groupBy(col("source"), col("split"))
      .agg(count(lit(1)).as("n_convs"),
        sum(col("n_user_tokens")).as("n_user_tokens"),
        sum(col("n_assistant_tokens")).as("n_assistant_tokens"))
    def cnt(df: DataFrame, stage: String): DataFrame = df
      .agg(count(lit(1)).as("n_convs"),
        coalesce(sum(col("n_user_tokens")), lit(0L)).as("n_user_tokens"),
        coalesce(sum(col("n_assistant_tokens")), lit(0L))
          .as("n_assistant_tokens"))
      .select(lit("0_funnel").as("section"), lit(stage).as("k"),
        col("n_convs"), col("n_user_tokens"), col("n_assistant_tokens"))
    cnt(assembled, "10_assembled")
      .unionByName(cnt(gated, "20_quality"))
      .unionByName(cnt(exact, "30_exact"))
      .unionByName(cnt(clean, "40_decontam"))
      .unionByName(manifest.select(lit("1_manifest").as("section"),
        concat_ws("/", col("source"), col("split")).as("k"),
        col("n_convs"), col("n_user_tokens"), col("n_assistant_tokens")))
      .orderBy(col("section"), col("k"))
  }

  /** PII DETECTION + LUHN VALIDATION — the governance scan every corpus
    * ships through before training: emails, phone numbers, IPv4
    * addresses, and 16-digit card candidates are detected by pattern,
    * and card candidates are VALIDATED with the Luhn mod-10 checksum (an
    * exact integer fold — the step that separates a real card number
    * from a random 16-digit string, which is what keeps a PII pass's
    * false-positive rate usable). The fixture plants each PII type
    * deterministically from doc_id — including cards where only the
    * doc_id % 6 ≡ 0 half carries a CORRECT check digit, so the validator
    * must genuinely compute the checksum (detection alone scores both
    * halves identically). The redacted text's md5 pins that the
    * replacement composes over all four patterns.
    *
    * Build and parse use OPPOSITE formulations of Luhn (construction
    * solves for the check digit over the first 15; validation folds all
    * 16), and the DuckDB oracle replays both — four independent
    * implementations agreeing is the verification.
    *
    * At 100 TB: pure per-row regexp + integer folds inside one scan — no
    * shuffle, no UDF; exactly how a production PII pass runs at corpus
    * scale.
    */
  def piiDetect(s: SparkSession, d: String): DataFrame = {
    val h = sparkHash("CAST(doc_id AS STRING)")
    // 15 base digits; check digit solves Luhn (positions 1,3,..,15 of a
    // 16-digit number are doubled); % 6 = 3 docs get it off by one
    val d15 = s"lpad(CAST($h % 1000000000000000 AS STRING), 15, '0')"
    val s15 =
      s"""aggregate(sequence(1, 15), CAST(0 AS BIGINT), (acc, i) ->
         |  acc + CASE WHEN i % 2 = 1
         |    THEN IF(2 * CAST(substr($d15, i, 1) AS BIGINT) > 9,
         |            2 * CAST(substr($d15, i, 1) AS BIGINT) - 9,
         |            2 * CAST(substr($d15, i, 1) AS BIGINT))
         |    ELSE CAST(substr($d15, i, 1) AS BIGINT) END)""".stripMargin
    val injected = Tables.documents(s, d)
      .withColumn("text2", expr(
        s"""concat(text,
           |  CASE WHEN doc_id % 3 = 1 THEN concat(' user',
           |    CAST(doc_id AS STRING), '@ex', CAST(doc_id % 7 AS STRING),
           |    '.com') ELSE '' END,
           |  CASE WHEN doc_id % 4 = 0 THEN concat(' +1-555-',
           |    lpad(CAST(doc_id % 10000 AS STRING), 4, '0')) ELSE '' END,
           |  CASE WHEN doc_id % 5 = 0 THEN concat(' 10.',
           |    CAST(doc_id % 256 AS STRING), '.',
           |    CAST((doc_id * 7) % 256 AS STRING), '.',
           |    CAST((doc_id * 13) % 256 AS STRING)) ELSE '' END,
           |  CASE WHEN doc_id % 3 = 0 THEN concat(' ', $d15,
           |    CAST((10 - $s15 % 10 + CASE WHEN doc_id % 6 = 0 THEN 0
           |                                ELSE 1 END) % 10 AS STRING))
           |  ELSE '' END)""".stripMargin))
      .select(col("doc_id"), col("text2"))
    // --- detection reads only text2 -------------------------------------
    val emailPat = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\\\.[a-z]{2,}"
    val phonePat = "\\\\+1-555-[0-9]{4}"
    val ipPat = "\\\\b10\\\\.[0-9]{1,3}\\\\.[0-9]{1,3}\\\\.[0-9]{1,3}\\\\b"
    val cardPat = "\\\\b[0-9]{16}\\\\b"
    def luhn16(c: String) =
      s"""aggregate(sequence(1, 16), CAST(0 AS BIGINT), (acc, i) ->
         |  acc + CASE WHEN i % 2 = 1
         |    THEN IF(2 * CAST(substr($c, i, 1) AS BIGINT) > 9,
         |            2 * CAST(substr($c, i, 1) AS BIGINT) - 9,
         |            2 * CAST(substr($c, i, 1) AS BIGINT))
         |    ELSE CAST(substr($c, i, 1) AS BIGINT) END) % 10 = 0"""
        .stripMargin.linesIterator.mkString(" ")
    injected
      .withColumn("n_emails", expr(s"regexp_count(text2, '$emailPat')").cast("long"))
      .withColumn("n_phones", expr(s"regexp_count(text2, '$phonePat')").cast("long"))
      .withColumn("n_ips", expr(s"regexp_count(text2, '$ipPat')").cast("long"))
      .withColumn("cards", expr(s"regexp_extract_all(text2, '$cardPat', 0)"))
      .withColumn("n_cards", size(col("cards")).cast("long"))
      .withColumn("n_cards_valid",
        expr(s"size(filter(cards, c -> ${luhn16("c")}))").cast("long"))
      .withColumn("redacted_md5", md5(expr(
        s"""regexp_replace(regexp_replace(regexp_replace(regexp_replace(
           |  text2, '$cardPat', '<CARD>'), '$emailPat', '<EMAIL>'),
           |  '$phonePat', '<PHONE>'), '$ipPat', '<IP>')""".stripMargin)))
      .select(col("doc_id"), col("n_emails"), col("n_phones"), col("n_ips"),
        col("n_cards"), col("n_cards_valid"), col("redacted_md5"))
      .orderBy(col("doc_id"))
  }

  /** Filter-attrition funnel: the per-rule survivor/dropped report every
    * corpus-curation pipeline publishes alongside the cleaned data (which
    * rule costs how many documents). One full-scan aggregate computes ALL
    * cumulative-conjunction counts as 0/1 sums (map-side combined, one
    * row out), then `stack` unpivots the single row into the funnel —
    * the 5-row window that follows is driver-trivial at any corpus size.
    * Stage prefixes keep the rule order lexicographic.
    */
  def filterFunnel(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // Final funnel stage: the model-based CCNet filter (see lmScored) —
    // joined in as a skinny (doc_id, keep) frame. r18 opt: the rule legs
    // and the LM train leg share ONE spread corpus frame (unmaterialized
    // — see the qualityEnsemble note; a checkpoint of raw corpus bytes
    // costs more than the columnar re-scan it saves).
    val docs = Tables.spread(Tables.documents(s, d))
      .select(col("doc_id"), col("lang"), col("text"))
    val lmKeep = lmScoredOf(docs).select(col("doc_id"),
      col("keep").cast("int").as("c5"))
    val base = docs // regexp+stopword rules
      .select(col("doc_id"), col("lang"), col("text"),
        split(lower(col("text")), " ").as("ws"))
      .join(lmKeep, Seq("doc_id"), "left")
      .withColumn("c5", coalesce(col("c5"), lit(0)))
      .withColumn("n_words", size(col("ws")).cast("long"))
      .withColumn("mwl",
        length(regexp_replace(col("text"), " ", "")).cast("double")
          / col("n_words"))
      .withColumn("stopr",
        expr(s"size(filter(ws, w -> w IN ${inList(stop("en"))}))").cast("double")
          / col("n_words"))
      .select(
        (col("lang") === "en").cast("int").as("c1"),
        (col("n_words") >= 10).cast("int").as("c2"),
        (col("mwl") >= 2.0 && col("mwl") <= 12.0).cast("int").as("c3"),
        (col("stopr") >= 0.05).cast("int").as("c4"),
        col("c5"))
    val stages = base.agg(
        count(lit(1)).as("n0"),
        sum(col("c1")).as("n1"),
        sum(col("c1") * col("c2")).as("n2"),
        sum(col("c1") * col("c2") * col("c3")).as("n3"),
        sum(col("c1") * col("c2") * col("c3") * col("c4")).as("n4"),
        sum(col("c1") * col("c2") * col("c3") * col("c4") * col("c5")).as("n5"))
      .selectExpr("stack(6, '00_total', n0, '10_lang_en', n1, " +
        "'20_min_words', n2, '30_word_len', n3, '40_stop_ratio', n4, " +
        "'50_lm_decile', n5) AS (stage, survivors)")
    val w = Window.orderBy(col("stage"))
    stages
      .withColumn("dropped",
        coalesce(lag(col("survivors"), 1).over(w) - col("survivors"), lit(0L)))
      .orderBy(col("stage"))
  }

  /** Sequence packing: assign every document a contiguous token range
    * inside its shard and derive which fixed-length (2048-token) training
    * sequence it starts in — the step between dedup and the shard writer
    * in a pretraining-data pipeline. The running offset is a window cumsum
    * PER SHARD (deterministic 60-bit-hash sharding), so at 100 TB each
    * shard's prefix sum runs independently — no global single-partition
    * window, the classic sequence-packing scale trap.
    */
  def packSequences(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("shard")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.documents(s, d)
      .select(col("doc_id"), col("text"))
      .withColumn("re_tokens",
        regexp_count(lower(col("text")), lit("[a-z]+|[0-9]+|[^a-z0-9 ]")).cast("long"))
      .withColumn("shard",
        expr(s"${sparkHash("CAST(doc_id AS STRING)")} % 8"))
      .withColumn("start_tok", sum(col("re_tokens")).over(w) - col("re_tokens"))
      // integer DIV, not "/": long / int is double division, and DuckDB
      // ROUNDS double→bigint casts while Spark truncates
      .withColumn("seq_idx", expr("start_tok DIV 2048"))
      .select(col("shard"), col("doc_id"), col("re_tokens"),
        col("start_tok"), col("seq_idx"))
      .orderBy(col("shard"), col("doc_id"))
  }

  /** CU_SEQLENS MANIFEST — the artifact a flash-attention trainer
    * actually consumes from packed sequences: for every 2048-token
    * packed sequence ([[packSequences]]'s layout), the sorted
    * within-sequence offsets where documents begin. Attention must not
    * cross document boundaries, and these offsets ARE the block-diagonal
    * mask (cu_seqlens in the varlen kernels). Offsets serialize as a
    * comma-joined string so the cross-engine hash covers the exact
    * boundary list, not just counts.
    *
    * Scale: reuses the packing window (one shard-partitioned running
    * sum); the manifest is sequence-grain — millions of rows for a
    * trillion tokens, each a short string.
    */
  def cuSeqlens(s: SparkSession, d: String): DataFrame =
    packSequences(s, d)
      .groupBy(col("shard"), col("seq_idx"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("re_tokens")).as("tokens_started"),
        array_join(array_sort(collect_set(expr("start_tok % 2048"))), ",")
          .as("cu_offsets"))
      .orderBy(col("shard"), col("seq_idx"))

  /** Duplicate n-gram SPAN detection — the doc-level report of the exact
    * substring-dedup pass (Lee et al., "Deduplicating Training Data Makes
    * Language Models Better"): find every 10-gram that occurs more than
    * once in the corpus, mark its occurrences' token intervals
    * [pos, pos+9], and merge overlapping/adjacent intervals per document
    * into removable spans. Output per doc: span count, tokens covered,
    * dup ratio — what a curation pipeline feeds the span-removal writer.
    *
    * Scale shape: grams travel as 60-bit md5-slice hashes (never the
    * 10-word strings), the dup set is a group-filter (2 ≤ df ≤ 1000, no
    * pair join — cost is linear in gram count, NOT quadratic in dup
    * count), and interval merging is a per-document window (gaps-and-
    * islands over positions, key = doc_id, input bounded by doc length).
    * The df cap is the standard stop-gram guard: a boilerplate gram
    * occurring millions of times would otherwise pour its entire
    * occurrence list through the join; capped grams are deliberately NOT
    * flagged (they are vocabulary, not duplication) and the cap is
    * replayed identically by the oracle.
    */
  /** (doc_id, ws) word arrays shared by the dup-span family. */
  private def docWords(s: SparkSession, d: String): DataFrame =
    // spread: the span/suffix consumers hash every n-gram window of every
    // doc in place — CPU-bound on a 1-partition test scan (Tables.spread)
    Tables.spread(Tables.documents(s, d))
      .select(col("doc_id"),
        expr("filter(split(lower(text), ' '), w -> length(w) > 0)").as("ws"))

  /** Every (doc_id, pos, gh) occurrence of a duplicated 10-gram, df-capped.
    *
    * gh is INTERNAL grouping state (never surfaced), so the two engines
    * don't need matching hash values — only identical grams grouped
    * together. That frees the Spark side to use codegen'd xxhash64 over
    * the word slice (no string building, no hex conv) while the oracle
    * groups on md5 of the joined words; words cannot contain the join
    * separator, so the groupings coincide exactly — up to a 64-bit
    * xxhash64 collision, which would merge two distinct grams on the
    * Spark side only. At any realistic gram count the probability is
    * negligible (~n²/2⁶⁵), and fixture scale is nowhere near it; a
    * pipeline that cannot tolerate that bound should widen to a 128-bit
    * hash (md5, or an xxhash64 pair) at ~5× the hashing cost.
    */
  private def dupGramHits(toks: DataFrame): DataFrame = {
    val grams = toks.filter(size(col("ws")) >= 10)
      .select(col("doc_id"), explode(expr(
        "transform(sequence(0, size(ws) - 10), i -> struct(" +
          "CAST(i AS BIGINT) AS pos, " +
          "xxhash64(slice(ws, i + 1, 10)) AS gh))"))
        .as("g"))
      .select(col("doc_id"), col("g.pos").as("pos"), col("g.gh").as("gh"))
    val dup = grams.groupBy(col("gh")).agg(count(lit(1)).as("c"))
      .filter(col("c") > 1 && col("c") <= 1000).select(col("gh"))
    grams.join(dup, Seq("gh"))
  }

  /** Merge a hit set's fixed-length intervals [pos, pos+9] per doc into
    * (doc_id, span_id, s, e) removable spans — gaps-and-islands over
    * ascending pos: coverage stays contiguous while consecutive positions
    * differ by ≤ 10 (the NULL first-lag lands in otherwise() → span 1).
    */
  private def spansOf(hits: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byDoc = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    hits
      .withColumn("new_span",
        when(col("pos") - lag(col("pos"), 1).over(byDoc) <= 10, lit(0L))
          .otherwise(lit(1L)))
      .withColumn("span_id", sum(col("new_span")).over(
        byDoc.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("doc_id"), col("span_id"))
      .agg(min(col("pos")).as("s"), (max(col("pos")) + 10).as("e"))
  }

  def dupSpans(s: SparkSession, d: String): DataFrame = {
    val toks = docWords(s, d)
    val perDoc = spansOf(dupGramHits(toks))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_dup_spans"), sum(col("e") - col("s")).as("dup_tokens"))
    toks.select(col("doc_id"), size(col("ws")).cast("long").as("n_words"))
      .join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_words"),
        coalesce(col("n_dup_spans"), lit(0L)).as("n_dup_spans"),
        coalesce(col("dup_tokens"), lit(0L)).as("dup_tokens"),
        (coalesce(col("dup_tokens"), lit(0L)).cast("double") / col("n_words"))
          .as("dup_ratio"))
      .orderBy(col("doc_id"))
  }

  /** The span-removal TRANSFORMATION the [[dupSpans]] report plans for —
    * Lee et al.'s "keep each duplicated substring once": per duplicated
    * gram, the globally first occurrence (smallest (doc_id, pos)) stays;
    * every other occurrence's interval is merged into removal spans and
    * the surviving words are reassembled into the cleaned text. The
    * survivor rule makes the output deterministic and means a corpus
    * deduplicated by this pass retains exactly one copy of every
    * duplicated 10-gram run.
    *
    * Scale shape on top of [[dupGramHits]]: survivor election is one
    * more gh-keyed aggregate (min struct — lexicographic, so it equals
    * the oracle's two-step min-doc-then-min-pos), removal is the hit set
    * minus survivors, and reconstruction explodes words once (narrow),
    * anti-joins covered positions (doc_id+pos keys), and rebuilds each
    * doc with the same sorted-collect idiom as chunk reassembly — text
    * crosses the wire once for the rebuild, never for candidate work.
    */
  def stripSpans(s: SparkSession, d: String): DataFrame = {
    val toks = docWords(s, d)
    val hits = dupGramHits(toks)
    val survivors = hits.groupBy(col("gh"))
      .agg(min(struct(col("doc_id"), col("pos"))).as("sv"))
    val removal = hits.join(survivors, Seq("gh"))
      .filter(!(col("doc_id") === col("sv.doc_id") && col("pos") === col("sv.pos")))
      .select(col("doc_id"), col("pos"))
    // Rebuild WITHOUT exploding the corpus: spans-per-doc is tiny (they
    // are merged intervals), so collect each doc's span list (a shuffle
    // of removal hits only, never words) and strip inside one codegen'd
    // lambda — each word keeps its slot unless some span covers its
    // index. The word-level explode + anti-join + sorted-collect form
    // this replaces shuffled every word in the corpus twice.
    val spanList = spansOf(removal)
      .groupBy(col("doc_id"))
      .agg(collect_list(struct(col("s"), col("e"))).as("sp"))
    toks.join(spanList, Seq("doc_id"), "left")
      .withColumn("kept", expr(
        "filter(transform(ws, (w, i) -> struct(w, i)), " +
          "x -> NOT coalesce(exists(sp, r -> x.i >= r.s AND x.i < r.e), false))"))
      .select(col("doc_id"),
        size(col("ws")).cast("long").as("n_words"),
        size(col("kept")).cast("long").as("kept_words"),
        (size(col("ws")) - size(col("kept"))).cast("long").as("removed_tokens"),
        expr("array_join(transform(kept, x -> x.w), ' ')").as("clean_text"))
      .orderBy(col("doc_id"))
  }

  /** Maximal duplicated RUNS — the variable-length generalization of
    * [[dupSpans]] toward true suffix-style substring dedup. [[dupSpans]]
    * merges any overlapping duplicated-gram intervals, so a merged span's
    * FULL text need not occur twice (two grams duplicated against
    * different partners can abut). This report extends-while-equal
    * instead: every duplicated-gram occurrence is ANCHORED to its gram's
    * canonical survivor (the globally smallest (doc_id, pos) occurrence —
    * [[stripSpans]]'s election), and consecutive positions merge into one
    * run only while the ALIGNMENT (anchor doc, position offset) persists.
    * Overlapping step-1 10-grams that all match the anchor at the same
    * offset pin every word of the run to the anchor's text, so each
    * reported span's full variable-length text PROVABLY occurs at its
    * anchor location too — the ≥2×-corpus-wide invariant is structural,
    * not probabilistic (the spec still pins it by re-extracting both
    * sides' words). Canonical anchoring under-merges relative to true
    * maximal exact matches (a run aligned to a NON-canonical partner
    * fragments at alignment switches) — the price of staying linear.
    *
    * Scale shape: identical to [[stripSpans]] up to survivor election
    * (hashes on the wire, df-capped, no pair join — candidate cost is
    * linear in gram count); run assembly is one per-(doc, alignment)
    * window over positions (the islands trick with step exactly 1), and
    * the output carries only span coordinates — never text.
    */
  def maxSpans(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val hits = dupGramHits(docWords(s, d))
    val survivors = hits.groupBy(col("gh"))
      .agg(min(struct(col("doc_id"), col("pos"))).as("sv"))
    val anchored = hits.join(survivors, Seq("gh"))
      .filter(!(col("doc_id") === col("sv.doc_id") && col("pos") === col("sv.pos")))
      .select(col("doc_id"), col("pos"),
        col("sv.doc_id").as("a_doc"), (col("sv.pos") - col("pos")).as("a_off"))
    val byAlign = Window.partitionBy(col("doc_id"), col("a_doc"), col("a_off"))
      .orderBy(col("pos"))
    anchored
      // consecutive positions (step exactly 1) with the same alignment
      // collapse to one group: pos − row_number is constant on a run
      .withColumn("grp", col("pos") - row_number().over(byAlign))
      .groupBy(col("doc_id"), col("a_doc"), col("a_off"), col("grp"))
      .agg(min(col("pos")).as("s"), (max(col("pos")) + 10).as("e"))
      .select(col("doc_id"), col("s"), col("e"),
        (col("e") - col("s")).as("len"),
        col("a_doc").as("anchor_doc"),
        (col("a_off") + col("s")).as("anchor_pos"))
      .orderBy(col("doc_id"), col("s"), col("anchor_doc"), col("anchor_pos"))
  }

  /** Suffix-array maximal-repeat spans (the Lee et al. "Deduplicating
    * Training Data" form, beyond fixed-k grams): for EVERY corpus
    * position, the length of the longest token-substring starting there
    * that also occurs somewhere else (ANY length ≥ L, not just exactly
    * k), then per-doc union of the [pos, pos+len) intervals. What the
    * gram family ([[dupSpans]]/[[maxSpans]]) cannot say — the exact
    * length and anchor count of each repeated run — this reports
    * (`max_rep`, `n_anchors`), which is the evidence a
    * decontamination pass ranks removals by.
    *
    * Distributed suffix-array shape (prefix-group + sort, no global SA
    * build): explode each position's suffix CAPPED at M=40 tokens;
    * group by the first-L(=10)-token prefix (suffixes with an ≥L match
    * necessarily share the group; singleton and >1000-member groups are
    * dropped — the [[dupGramHits]] df-cap discipline); SORT suffixes
    * within each group and take each one's longest-common-prefix with
    * its two lexicographic neighbors — by the classic suffix-array
    * property that the nearest sorted neighbor realizes the maximal
    * match. LCP is one codegen'd zip_with + array_position (first
    * mismatch index), O(M) per neighbor pair. Repeats longer than M
    * report as M (the cap is the scale knob; doubling M doubles shuffle
    * bytes, never the row count). At 100 TB the suffix payload ships as
    * (prefix-key, doc, pos) and token windows are fetched by a
    * co-located join against the tokenized corpus — the sort/LCP per
    * group is unchanged.
    *
    * The span set provably COVERS the gram-based [[dupSpans]] set (every
    * duplicated 10-gram is a repeat of length ≥ 10 — spec-pinned ⊇ on
    * the fixture corpus) and every reported anchor is backed by a ≥2×
    * occurrence (spec re-counts the repeat substring in the raw corpus).
    */
  def suffixRepeats(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val L = 10; val M = 40
    def lcp(a: String, b: String): String =
      s"CASE WHEN $b IS NULL THEN CAST(0 AS BIGINT) ELSE CAST(coalesce(" +
        s"nullif(array_position(zip_with($a, $b, (x, y) -> x <> y), true), 0) - 1, " +
        s"least(size($a), size($b))) AS BIGINT) END"
    val words = docWords(s, d).filter(size(col("ws")) >= L)
    // Pass 1 is LEAN: only (ph, doc_id, pos) triples enter the shuffle —
    // the prefix hash is computed in place, the 40-token window is NOT
    // materialized for the overwhelmingly-singleton position stream
    // (this is the documented 100 TB shape: suffix payload ships as
    // (prefix-key, doc, pos); windows are fetched later, survivors only)
    val sufs = words
      .select(col("doc_id"), explode(expr(
        s"transform(sequence(0, size(ws) - $L), i -> struct(" +
          s"CAST(i AS BIGINT) AS pos, xxhash64(slice(ws, i + 1, $L)) AS ph))"))
        .as("x"))
      .select(col("doc_id"), col("x.pos").as("pos"), col("x.ph").as("ph"))
    val keep = sufs.groupBy(col("ph")).agg(count(lit(1)).as("c"))
      .filter(col("c") > 1 && col("c") <= 1000).select(col("ph"))
    // Pass 2 fetches the M-token window for SURVIVORS only: survivor
    // positions roll up per doc (a lean (doc, pos-list) frame) and join
    // the tokenized corpus on doc_id — co-located with the scan at
    // 100 TB (bucket by doc_id), and never wider than the survivor set
    val posPerDoc = sufs.join(keep, Seq("ph"))
      .groupBy(col("doc_id")).agg(collect_list(col("pos")).as("poss"))
    val windows = words.join(posPerDoc, Seq("doc_id"))
      .select(col("doc_id"), explode(expr(
        s"transform(poss, p -> struct(p AS pos, " +
          s"slice(ws, CAST(p + 1 AS INT), $M) AS suf))")).as("x"))
      .select(col("doc_id"), col("x.pos").as("pos"), col("x.suf").as("suf"))
      .withColumn("ph", expr(s"xxhash64(slice(suf, 1, $L))"))
    val wG = Window.partitionBy(col("ph"))
      .orderBy(col("suf"), col("doc_id"), col("pos"))
    val marked = windows
      .withColumn("ps", lag(col("suf"), 1).over(wG))
      .withColumn("ns", lead(col("suf"), 1).over(wG))
      .withColumn("ml", greatest(expr(lcp("suf", "ps")), expr(lcp("suf", "ns"))))
      .filter(col("ml") >= L)
      .select(col("doc_id"), col("pos"), (col("pos") + col("ml")).as("pe"),
        col("ml"))
    // union of variable-length intervals: an island breaks where pos
    // clears the running max end over all preceding intervals
    val wD = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val prevMax = max(col("pe"))
      .over(wD.rowsBetween(Window.unboundedPreceding, -1))
    marked
      .withColumn("new_span",
        when(prevMax.isNull || col("pos") > prevMax, lit(1L)).otherwise(lit(0L)))
      .withColumn("span_id", sum(col("new_span"))
        .over(wD.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("doc_id"), col("span_id"))
      .agg(min(col("pos")).as("s"), max(col("pe")).as("e"),
        max(col("ml")).as("max_rep"), count(lit(1)).as("n_anchors"))
      .select(col("doc_id"), col("s"), col("e"),
        (col("e") - col("s")).as("span_len"), col("max_rep"), col("n_anchors"))
      .orderBy(col("doc_id"), col("s"))
  }

  /** First-fit-decreasing sequence packing — the no-split alternative to
    * [[packSequences]]: documents stay whole, each assigned to the first
    * 2048-token bin it fits in after sorting the shard's docs by token
    * count descending (FFD, the classic 11/9·OPT+1 bin-packing
    * guarantee). Packing is inherently order-dependent state, so it runs
    * per shard via `flatMapGroups` — each shard's docs fold through one
    * in-memory bin table, shards in parallel. At 100 TB the shard count
    * is the scale knob (hash % P with P sized so a shard's doc COUNT —
    * ids and token counts only, never text — fits an executor; 1e6 docs
    * per shard is a few MB). Output is the per-shard packing manifest:
    * FFD bin count, fill extremes, waste, occupancy, and the bin count
    * of the sequential document-splitting baseline (ceil(tokens/2048),
    * which has zero waste but cuts documents) — the curation trade-off
    * report between the two packers. A doc longer than the cap opens its
    * own overfull bin (standard FFD treatment), deterministically.
    */
  def packBestFit(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val cap = 2048L
    val toks = Tables.documents(s, d)
      .withColumn("re_tokens",
        regexp_count(lower(col("text")), lit("[a-z]+|[0-9]+|[^a-z0-9 ]")).cast("long"))
      .withColumn("shard",
        expr(s"${sparkHash("CAST(doc_id AS STRING)")} % 8"))
      .select(col("shard"), col("doc_id"), col("re_tokens"))
      .as[(Long, Long, Long)]
    val assigned = toks.groupByKey(_._1).flatMapGroups { (shard, it) =>
      val docs = it.toArray.sortBy { case (_, id, t) => (-t, id) }
      val loads = scala.collection.mutable.ArrayBuffer.empty[Long]
      docs.iterator.map { case (_, id, t) =>
        var i = 0
        while (i < loads.length && loads(i) + t > cap) i += 1
        if (i == loads.length) loads += t else loads(i) += t
        (shard, id, t, i.toLong)
      }
    }.toDF("shard", "doc_id", "re_tokens", "bin")
    assigned
      .groupBy(col("shard"), col("bin"))
      .agg(count(lit(1)).as("n_docs_bin"), sum(col("re_tokens")).as("bin_tokens"))
      .groupBy(col("shard"))
      .agg(
        sum(col("n_docs_bin")).as("n_docs"),
        sum(col("bin_tokens")).as("total_tokens"),
        count(lit(1)).as("bins_ffd"),
        max(col("bin_tokens")).as("max_bin_tokens"),
        min(col("bin_tokens")).as("min_bin_tokens"))
      .withColumn("waste_ffd", col("bins_ffd") * cap - col("total_tokens"))
      .withColumn("occupancy_ffd",
        col("total_tokens").cast("double") / (col("bins_ffd") * cap).cast("double"))
      .withColumn("bins_seq", expr(s"(total_tokens + ${cap - 1}) DIV $cap"))
      .select(col("shard"), col("n_docs"), col("total_tokens"), col("bins_ffd"),
        col("max_bin_tokens"), col("min_bin_tokens"), col("waste_ffd"),
        col("occupancy_ffd"), col("bins_seq"))
      .orderBy(col("shard"))
  }

  /** RELATIONAL first-fit-decreasing packing — [[packBestFit]]'s
    * algorithm re-expressed as a pure SQL `aggregate()` fold so the
    * DuckDB oracle replays the EXACT packing trajectory (the
    * flatMapGroups packer can only be spec-checked; this one
    * hash-verifies, and OperatorSpec additionally pins that the two
    * independent implementations assign every doc the same bin). Docs
    * rank descending by token count within their shard (tie → doc_id),
    * then fold through a bin-load table: each doc takes the FIRST bin
    * with ≥ its token count of room, or opens a new one — all exact
    * BIGINT arithmetic, no floats.
    *
    * Output is the per-doc packing manifest a shard writer consumes
    * (shard, doc, tokens, bin) with the per-shard padding-waste
    * comparison carried alongside: waste_ffd = bins·2048 − Σtokens vs
    * waste_concat = ⌈Σtokens/2048⌉·2048 − Σtokens (the running-offset
    * [[packSequences]] baseline, which wastes only the final partial
    * sequence but splits documents across attention boundaries). The
    * FFD−concat waste gap is the price of document integrity — the
    * number a training-efficiency review asks for.
    *
    * At 100 TB: the fold is per shard (one hash exchange); the collected
    * state is (token count, id) pairs only — never text — so the shard
    * count P is the scale knob exactly as in [[packBestFit]]. A doc
    * longer than the 2048 cap opens its own overfull bin (standard FFD).
    */
  def packFfd(s: SparkSession, d: String): DataFrame = {
    val cap = 2048L
    def ff(loads: String, t: String) =
      s"""IF(size($loads) = 0, -1,
         |  aggregate(sequence(0, size($loads) - 1), -1,
         |    (a, i) -> CASE WHEN a >= 0 THEN a
         |      WHEN element_at($loads, i + 1) + $t <= $cap THEN i
         |      ELSE -1 END))""".stripMargin
    val fold =
      s"""aggregate(docs,
         |  named_struct(
         |    'loads', array_repeat(CAST(0 AS BIGINT), 0),
         |    'asg', array_repeat(named_struct('id', CAST(0 AS BIGINT),
         |      'nt', CAST(0 AS BIGINT), 'bin', CAST(0 AS BIGINT)), 0)),
         |  (st, dc) -> element_at(transform(array(${ff("st.loads", "dc.nt")}),
         |    fi -> named_struct(
         |      'loads', CASE WHEN fi >= 0
         |        THEN transform(st.loads, (l, i) -> IF(i = fi, l + dc.nt, l))
         |        ELSE concat(st.loads, array(dc.nt)) END,
         |      'asg', concat(st.asg, array(named_struct('id', dc.id,
         |        'nt', dc.nt,
         |        'bin', CAST(IF(fi >= 0, fi, size(st.loads)) AS BIGINT)))))),
         |    1))""".stripMargin
    Tables.documents(s, d)
      .withColumn("re_tokens",
        regexp_count(lower(col("text")), lit("[a-z]+|[0-9]+|[^a-z0-9 ]"))
          .cast("long"))
      .withColumn("shard",
        expr(s"${sparkHash("CAST(doc_id AS STRING)")} % 8"))
      .groupBy(col("shard"))
      .agg(expr(
        """array_sort(collect_list(named_struct(
          |  's', -re_tokens, 'id', doc_id, 'nt', re_tokens)))""".stripMargin)
        .as("docs"))
      .withColumn("st", expr(fold))
      .withColumn("total", expr(
        "aggregate(st.loads, CAST(0 AS BIGINT), (a, l) -> a + l)"))
      .withColumn("waste_ffd",
        expr(s"CAST(size(st.loads) AS BIGINT) * $cap - total"))
      .withColumn("waste_concat",
        expr(s"((total + ${cap - 1}) DIV $cap) * $cap - total"))
      .select(col("shard"), explode(col("st.asg")).as("a"),
        col("waste_ffd"), col("waste_concat"))
      .select(col("shard"), col("a.id").as("doc_id"),
        col("a.nt").as("re_tokens"), col("a.bin").as("bin"),
        col("waste_ffd"), col("waste_concat"))
      .orderBy(col("shard"), col("doc_id"))
  }

  /** Corpus mixing: sample each source at its own rate — the data-mixing
    * step that weights web/books/code differently in a pretraining mix.
    * Both the per-source rate (here derived from the source name so the
    * oracle can replay it; in production a config map) and the keep
    * decision are HASH GATES, not rand(): membership is a pure function
    * of (source, doc_id), so the mix is reproducible across runs,
    * machines, and engines, and any document's fate is auditable. Output
    * is the per-source mixing report.
    */
  def corpusMix(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .withColumn("rate", expr(s"20 + ${sparkHash("source")} % 81")) // 20..100 %
      .withColumn("keep",
        expr(s"${sparkHash("CAST(doc_id AS STRING)")} % 100") < col("rate"))
      .groupBy(col("source"), col("rate"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("keep"), 1L).otherwise(0L)).as("n_kept"),
        sum(when(col("keep"), col("n_chars")).otherwise(0L)).as("kept_chars"))
      .orderBy(col("source"))

  /** Temperature-based corpus resampling (τ=2, i.e. √-weighting) — the
    * multilingual-mixing rule (e.g. mBERT/XLM-R style): a source's
    * target share is proportional to n_s^(1/τ), which UP-weights small
    * sources relative to their raw share so big corpora don't drown
    * them. τ=2 is chosen deliberately: n^(1/2) is `sqrt`, which IEEE
    * requires correctly rounded — bit-identical across engines, where a
    * general pow() would not be. The only cross-source reduction
    * (Σ √n_s) is a deterministic source-ordered fold (the HLL idiom);
    * per-doc inclusion is the deterministic hash gate at each source's
    * derived rate, so plan AND realized sample hash-verify. At 100 TB:
    * two scans of documents (count, then gate), a ~|sources|-row plan
    * frame broadcast to the gate — no shuffle of the corpus.
    */
  def temperatureMix(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val counts = docs.groupBy(col("lang")).agg(count(lit(1)).as("n_docs"))
    val tot = counts.agg(
      sum(col("n_docs")).as("n_total"),
      expr(
        """aggregate(
          |  transform(array_sort(collect_list(
          |    struct(lang, sqrt(CAST(n_docs AS DOUBLE)) AS w))), x -> x.w),
          |  CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)""".stripMargin)
        .as("w_total"))
    val plan0 = counts.crossJoin(broadcast(tot))
      .withColumn("w", sqrt(col("n_docs").cast("double")))
      .withColumn("share", col("w") / col("w_total"))
      .withColumn("target",
        floor(col("share") * expr("CAST(n_total DIV 2 AS DOUBLE)")).cast("long"))
      .withColumn("th",
        floor(least(lit(1.0), col("target").cast("double") / col("n_docs"))
          * lit(10000.0)).cast("long"))
    val kept = docs
      .join(broadcast(plan0.select(col("lang"), col("th"))), Seq("lang"))
      .withColumn("hh",
        expr(s"${Hashing.sparkHash("CAST(doc_id AS STRING)")} % 10000"))
      .groupBy(col("lang"))
      .agg(sum(when(col("hh") < col("th"), 1L).otherwise(0L)).as("n_kept"))
    plan0.join(kept, "lang")
      .select(col("lang"), col("n_docs"), col("w"), col("share"),
        col("target"), col("n_kept"))
      .orderBy(col("lang"))
  }

  /** DSIR-style importance resampling (Xie et al. 2023, "Data Selection
    * for Language Models via Importance Resampling") — the missing leg
    * between [[temperatureMix]] (τ-resampling toward n^(1/τ) shares) and
    * [[qualitySample]] (tiered acceptance): per-document importance
    * weights w = target(z) / raw(z) over a feature z (here the source,
    * the likelihood-ratio structure of DSIR with sources standing in for
    * the hashed-n-gram LM bucket), modulated by a per-doc quality score,
    * then realized by SELF-NORMALIZED rejection sampling: accept doc with
    * probability w_doc / max(w_doc).
    *
    * Determinism contract (the reason every arithmetic step is shaped the
    * way it is): the target is UNIFORM over sources (1/|S| — a config
    * input in production, constant here so the oracle replays it); the
    * quality score is least(1, n_words/64) — 64 is a power of two so the
    * division is EXACT in binary FP; every division/multiplication is a
    * single correctly-rounded IEEE op written in the same operand order
    * in both engines; max() over doubles is order-independent; and the
    * accept decision is the standard md5 hash gate on doc_id at
    * resolution 1/10000 — no rand() anywhere, so plan AND realized
    * sample hash-verify cross-engine, and any document's fate is
    * auditable. Per-source kept-quality mass is reported in integer
    * milli-units (floor(q·1000) summed as BIGINT) because a float SUM's
    * result depends on summation order — the one aggregation shape that
    * would break cross-engine bit-identity.
    *
    * At 100 TB: two scans of documents (weight+score, then gate), a
    * |sources|-row plan frame and a 1-row max broadcast into the gate —
    * the corpus itself never shuffles; the only wide exchange is the
    * per-source report rollup (map-side combined).
    */
  def importanceResample(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
      .withColumn("q",
        least(lit(1.0), size(split(col("text"), " ")).cast("double") / 64.0))
    val counts = docs.groupBy(col("source")).agg(count(lit(1)).as("n_docs"))
    val tot = counts.agg(sum(col("n_docs")).as("n_total"),
      count(lit(1)).as("n_sources"))
    val plan0 = counts.crossJoin(broadcast(tot))
      .withColumn("raw_share",
        col("n_docs").cast("double") / col("n_total").cast("double"))
      .withColumn("weight",
        col("n_total").cast("double") /
          (col("n_docs") * col("n_sources")).cast("double"))
    val scored = docs
      .join(broadcast(plan0.select(col("source"), col("weight"))), Seq("source"))
      .withColumn("w_doc", col("weight") * col("q"))
    val wmax = scored.agg(max(col("w_doc")).as("w_max"))
    val kept = scored.crossJoin(broadcast(wmax))
      .withColumn("th",
        floor(col("w_doc") / col("w_max") * lit(10000.0)).cast("long"))
      .withColumn("hh",
        expr(s"${sparkHash("CAST(doc_id AS STRING)")} % 10000"))
      .groupBy(col("source"))
      .agg(sum(when(col("hh") < col("th"), 1L).otherwise(0L)).as("n_kept"),
        sum(when(col("hh") < col("th"),
          floor(col("q") * lit(1000.0)).cast("long")).otherwise(0L))
          .as("kept_q_milli"))
    plan0.join(kept, "source")
      .select(col("source"), col("n_docs"), col("raw_share"), col("weight"),
        col("n_kept"), col("kept_q_milli"))
      .orderBy(col("source"))
  }

  /** Token-budget planning (the data-constrained scaling question): given
    * a training budget B = 1.5× the corpus token count and τ=2
    * temperature target shares over per-source token mass, how many
    * tokens does each source owe, how many EPOCHS of it is that, and how
    * much of the target is unfillable under a 4-epoch repetition cap
    * (the Muennighoff et al. 2023 "Scaling Data-Constrained Language
    * Models" rule — repeating data beyond ~4 epochs stops buying loss)?
    * This is the planning frame a pipeline computes BEFORE launching a
    * mix job: [[temperatureMix]] realizes a share plan per document;
    * this answers whether the plan is even satisfiable per source.
    *
    * Determinism contract: token counts are exact integers; the only
    * cross-source float reduction (Σ √n_s) is the deterministic
    * source-ordered fold (the HLL idiom); share→target is one multiply +
    * floor into BIGINT; epochs is a single correctly-rounded division of
    * two exact integers. At 100 TB: one scan of documents (token count,
    * map-side combined into a |sources|-row frame) — everything after is
    * arithmetic on that bounded frame; the corpus never shuffles.
    */
  def tokenBudget(s: SparkSession, d: String): DataFrame = {
    val counts = Tables.documents(s, d)
      .select(col("source"),
        expr("size(filter(split(text, ' '), w -> length(w) > 0))")
          .cast("long").as("n"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n")).as("n_tokens"))
    val tot = counts.agg(
      sum(col("n_tokens")).as("corpus_tokens"),
      expr(
        """aggregate(
          |  transform(array_sort(collect_list(
          |    struct(source, sqrt(CAST(n_tokens AS DOUBLE)) AS w))), x -> x.w),
          |  CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)""".stripMargin)
        .as("w_total"))
    counts.crossJoin(broadcast(tot))
      .withColumn("budget", expr("corpus_tokens * 3 DIV 2"))
      .withColumn("share",
        sqrt(col("n_tokens").cast("double")) / col("w_total"))
      .withColumn("target_tokens",
        floor(col("share") * col("budget").cast("double")).cast("long"))
      .withColumn("epochs",
        col("target_tokens").cast("double") / col("n_tokens").cast("double"))
      .withColumn("effective_tokens",
        least(col("target_tokens"), col("n_tokens") * 4))
      .withColumn("deficit_tokens",
        col("target_tokens") - col("effective_tokens"))
      .select(col("source"), col("n_docs"), col("n_tokens"), col("share"),
        col("target_tokens"), col("epochs"), col("effective_tokens"),
        col("deficit_tokens"))
      .orderBy(col("source"))
  }

  /** Curriculum ordering: every document gets a deterministic position in
    * a quality-staged training order — stages ascend by quality band
    * (easy/short first), documents within a stage are shuffled by the
    * md5 hash gate (reproducible, engine-portable, auditable — the same
    * no-rand() contract as [[corpusMix]]).
    *
    * Scale shape — deliberately NO global window: stage is a VALUE band
    * (1 + floor(4·q) capped to 4, q = least(1, n_words/64); 64 a power
    * of two so the division is exact), not a rank quartile, so
    * assignment is a scan; within-stage rank is a window partitioned by
    * stage; and the global position is stage_rank + the cumulative size
    * of earlier stages, computed on the ≤4-row stage-size frame and
    * broadcast back. An ntile/global-row_number formulation would funnel
    * the corpus through ONE partition — this shape never does.
    */
  def curriculum(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.documents(s, d)
      .withColumn("nw",
        expr("size(filter(split(text, ' '), w -> length(w) > 0))")
          .cast("long"))
      .withColumn("q", least(lit(1.0), col("nw").cast("double") / 64.0))
      .withColumn("stage",
        least(lit(4L), lit(1L) + floor(col("q") * 4.0).cast("long")))
      .withColumn("hh",
        expr(s"${sparkHash("CAST(doc_id AS STRING)")} % 10000"))
    val offsets = docs.groupBy(col("stage")).agg(count(lit(1)).as("sz"))
      .withColumn("off",
        coalesce(sum(col("sz")).over(
          Window.orderBy(col("stage"))
            .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("stage"), col("off"))
    val wStage = Window.partitionBy(col("stage"))
      .orderBy(col("hh"), col("doc_id"))
    docs.withColumn("stage_rank", row_number().over(wStage).cast("long"))
      .join(broadcast(offsets), Seq("stage"))
      .select(col("doc_id"), col("stage"), col("q"), col("stage_rank"),
        (col("off") + col("stage_rank")).as("global_pos"))
      .orderBy(col("global_pos"))
  }

  /** Shard manifest — the artifact a corpus writer publishes next to the
    * data: deterministic shard assignment (60-bit md5 hash gate % 16, so
    * any engine can recompute membership), per-shard document/token/char
    * totals, and a COMMUTATIVE content checksum (decimal sum of per-doc
    * row hashes — the `qc_table_checksum` fingerprint, per shard) that a
    * downstream loader re-derives to verify nothing was dropped,
    * duplicated, or reordered-and-truncated in transit. One scan, one
    * 16-group rollup; every column is exact (the checksum sums 2^60-scale
    * hashes in DECIMAL, reported as a string) so the manifest itself is
    * cross-engine hash-verified — a manifest that cannot be replayed by
    * an independent engine is just a log line.
    */
  def shardManifest(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .withColumn("shard",
        expr(s"${sparkHash("CAST(doc_id AS STRING)")} % 16"))
      .withColumn("n_words",
        expr("size(filter(split(text, ' '), w -> length(w) > 0))")
          .cast("long"))
      .withColumn("rh", expr(sparkHash(
        "concat_ws('|', CAST(doc_id AS STRING), lang, source, text)")))
      .groupBy(col("shard"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_words")).as("n_tokens"),
        sum(col("n_chars")).as("n_chars"),
        sum(col("rh").cast("decimal(30,0)")).cast("string").as("checksum"))
      .orderBy(col("shard"))

  /** DATA-LOADER RESUME PLAN — the checkpoint-restart arithmetic every
    * large training run performs: shards ([[shardManifest]]'s hash
    * assignment) are consumed in shard order, docs within a shard in
    * doc_id order, and a run that checkpointed after R samples (here the
    * fixed 60% rule, R = 3·total div 5) must resume EXACTLY at sample
    * R+1 — off by one and the loss curve silently replays or skips data.
    * Per shard: docs consumed, whether the resume point lands here, the
    * in-shard offset, and the concrete doc_id training resumes on — all
    * integer, so the oracle proves the pointer, not an estimate of it.
    *
    * Scale shape: one scan to the 16-row shard frame; the cumulative
    * window runs at shard grain (bounded by the shard count you chose,
    * never by corpus size); the resume doc_id rides a per-shard sorted
    * list only for the ONE shard that needs it — at production shard
    * widths that lookup is an ORDER BY LIMIT 1 OFFSET k against the
    * resume shard alone, not a collect of the corpus.
    */
  def resumeOffsets(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byShard = Tables.documents(s, d)
      .withColumn("shard",
        expr(s"${sparkHash("CAST(doc_id AS STRING)")} % 16"))
      .groupBy(col("shard"))
      .agg(count(lit(1)).as("n_docs"),
        sort_array(collect_list(col("doc_id"))).as("ids"))
    val tot = byShard.agg(sum(col("n_docs")).as("total"))
    val w = Window.orderBy(col("shard"))
      .rowsBetween(Window.unboundedPreceding, -1)
    byShard.crossJoin(broadcast(tot))
      .withColumn("cum_before", coalesce(sum(col("n_docs")).over(w), lit(0L)))
      .withColumn("r", expr("(total * 3) div 5"))
      .withColumn("consumed", expr(
        "greatest(0L, least(n_docs, r - cum_before))"))
      .withColumn("resume_here",
        col("cum_before") <= col("r") && col("r") < col("cum_before") + col("n_docs"))
      .withColumn("resume_offset",
        when(col("resume_here"), col("r") - col("cum_before")).otherwise(lit(-1L)))
      .withColumn("resume_doc_id",
        when(col("resume_here"),
          expr("element_at(ids, CAST(resume_offset + 1 AS INT))")))
      .select(col("shard"), col("n_docs"), col("cum_before"), col("consumed"),
        col("resume_here"), col("resume_offset"), col("resume_doc_id"))
      .orderBy(col("shard"))
  }

  /** Per-worker token skew across data-parallel fan-outs — the
    * straggler audit every distributed-training run wants before it
    * launches: shards ([[shardManifest]]'s hash assignment) deal to W
    * workers round-robin (`shard % W`) for W ∈ {2, 4, 8}, and the slow
    * worker sets the step time, so the figure of merit is
    * max·W / total — exact integers until that one division. A skew of
    * 1.0 is a perfectly balanced step; the gap above 1.0 is the idle
    * fraction the fastest workers burn every step. The W sweep shows
    * how imbalance grows as the same shards split thinner — the
    * capacity-planning curve.
    *
    * Scale shape: one scan to the 16-row shard frame (shared with the
    * manifest); the sweep is a 3-row broadcast cross join over it.
    */
  def workerBalance(s: SparkSession, d: String): DataFrame = {
    val shards = Tables.documents(s, d)
      .withColumn("shard",
        expr(s"${sparkHash("CAST(doc_id AS STRING)")} % 16"))
      .withColumn("n_words",
        expr("size(filter(split(text, ' '), w -> length(w) > 0))")
          .cast("long"))
      .groupBy(col("shard"))
      .agg(sum(col("n_words")).as("n_tokens"))
    val ws = Seq(2, 4, 8).foldLeft(Option.empty[DataFrame]) { (acc, w) =>
      val f = shards.withColumn("n_workers", lit(w.toLong))
      Some(acc.map(_.unionByName(f)).getOrElse(f))
    }.get
    ws.withColumn("worker", col("shard") % col("n_workers"))
      .groupBy(col("n_workers"), col("worker"))
      .agg(sum(col("n_tokens")).as("w_tokens"))
      .groupBy(col("n_workers"))
      .agg(max(col("w_tokens")).as("max_tokens"),
        sum(col("w_tokens")).as("total_tokens"))
      .withColumn("skew",
        (col("max_tokens") * col("n_workers")).cast("double")
          / col("total_tokens").cast("double"))
      .select(col("n_workers"), col("max_tokens"), col("total_tokens"),
        col("skew"))
      .orderBy(col("n_workers"))
  }

  /** Shard provenance — [[shardManifest]]'s lineage facet: per output
    * shard, WHICH source feeds contributed and how much (docs, tokens,
    * share of the shard). When a trained model misbehaves, this is the
    * table that walks a bad shard back to the feed that poisoned it —
    * and forward, which shards a retracted source contaminated (the
    * deletion-request path). Same one-scan shape as the manifest with
    * source as a second group key; output bounded by shards × sources.
    */
  def provenance(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val rows = Tables.documents(s, d)
      .withColumn("shard",
        expr(s"${sparkHash("CAST(doc_id AS STRING)")} % 16"))
      .withColumn("n_words",
        expr("size(filter(split(text, ' '), w -> length(w) > 0))")
          .cast("long"))
      .groupBy(col("shard"), col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_words")).as("n_tokens"))
    rows
      .withColumn("shard_docs",
        sum(col("n_docs")).over(Window.partitionBy(col("shard"))))
      .select(col("shard"), col("source"), col("n_docs"), col("n_tokens"),
        (col("n_docs").cast("double") / col("shard_docs").cast("double"))
          .as("shard_share"))
      .orderBy(col("shard"), col("source"))
  }

  /** Corpus vocabulary: top-100 tokens by frequency (tie → lexicographic).
    * The explode is a Generator (one pass, no buffering); the count is a
    * standard partial-agg'd groupBy on the token, and the top-k collapses
    * to TakeOrderedAndProject — at 100 TB the shuffle carries one row per
    * DISTINCT token per partition, not per occurrence.
    */
  def vocab(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(explode(split(lower(col("text")), " ")).as("token"))
      .filter(length(col("token")) > 0)
      .groupBy(col("token")).agg(count(lit(1)).as("freq"))
      .orderBy(desc("freq"), col("token"))
      .limit(100)

  /** Per-source vocabulary drift as an exact total-variation distance —
    * the token-level analog of [[graft.ops.QcOps.tvDrift]], over a
    * support (the vocabulary) that is far too large to densify: the
    * missing-token mass is folded in CLOSED FORM instead. For tokens
    * the source does contain, the cell deviation |n_st·N − N_s·n_t|
    * sums directly; every token the source has never seen contributes
    * exactly N_s·n_t, and those sum to N_s·(N − T_s) where T_s is the
    * corpus-wide count of the tokens present in s — one subtraction
    * replaces the whole absent tail. So the statistic is exact integer
    * arithmetic over only the PRESENT (source, token) cells, and the
    * single final division by 2·N_s·N is the only float. This is the
    * shape that survives a 10⁸-term vocabulary; a dense grid does not.
    *
    * Scale shape: one tokenize scan to (source, token) counts (map-side
    * combinable), a vocab-sized token rollup joined back by token, and
    * a per-source fold of three integers — nothing dense, nothing
    * pairwise, no driver collection.
    */
  def vocabDrift(s: SparkSession, d: String): DataFrame = {
    val toks = Tables.documents(s, d)
      .select(col("source"), explode(split(lower(col("text")), " ")).as("token"))
      .filter(length(col("token")) > 0)
    val nst = toks.groupBy(col("source"), col("token"))
      .agg(count(lit(1)).as("n_st"))
    val nt = nst.groupBy(col("token")).agg(sum(col("n_st")).as("n_t"))
    val tot = nt.agg(sum(col("n_t")).as("n"))
    val perSource = nst.join(nt, Seq("token"))
      .groupBy(col("source"))
      .agg(sum(col("n_st")).as("n_s"),
        count(lit(1)).as("vocab_s"),
        sum(col("n_t")).as("t_s"))
    val dev = nst.join(nt, Seq("token"))
      .join(perSource.select(col("source"), col("n_s")), Seq("source"))
      .crossJoin(broadcast(tot))
      .groupBy(col("source"))
      .agg(sum(abs(col("n_st") * col("n") - col("n_s") * col("n_t")))
        .as("sum_dev_present"))
    perSource.join(dev, Seq("source"))
      .crossJoin(broadcast(tot))
      .withColumn("sum_dev",
        col("sum_dev_present") + col("n_s") * (col("n") - col("t_s")))
      .withColumn("tv",
        col("sum_dev").cast("double")
          / (lit(2L) * col("n_s") * col("n")).cast("double"))
      .select(col("source"), col("n_s").as("n_tokens"), col("vocab_s"),
        col("sum_dev"), col("tv"))
      .orderBy(col("source"))
  }

  /** Flesch readability scoring — the classic curation-side quality
    * signal (C4/Gopher-style filters bucket on exactly these ratios):
    * words are letter runs, sentences are terminal-punctuation runs
    * (floored at 1 so headline-only docs don't divide by zero), and
    * syllables use the standard vowel-group heuristic — all three are
    * INTEGER regexp-run counts over character classes that mean the same
    * thing in Java and RE2-style engines, so the counts hash-verify and
    * the two scores are one fixed double expression tree over exact
    * integers (coefficients routed through string casts — the literal
    * discipline). One codegen'd scan projection, no shuffle until the
    * deterministic sort; at 100 TB this fuses into whatever filter
    * funnel stage reads the text anyway.
    */
  def readability(s: SparkSession, d: String): DataFrame = {
    val words = greatest(lit(1),
      regexp_count(lower(col("text")), lit("[a-z]+"))).cast("long")
    val sents = greatest(lit(1),
      regexp_count(col("text"), lit("[.!?]+"))).cast("long")
    val syll = regexp_count(lower(col("text")), lit("[aeiou]+")).cast("long")
    Tables.documents(s, d)
      .select(col("doc_id"), words.as("n_words"), sents.as("n_sentences"),
        syll.as("n_syllables"))
      .withColumn("wps", col("n_words").cast("double") / col("n_sentences").cast("double"))
      .withColumn("spw", col("n_syllables").cast("double") / col("n_words").cast("double"))
      .withColumn("flesch",
        expr("CAST('206.835' AS DOUBLE)")
          - expr("CAST('1.015' AS DOUBLE)") * col("wps")
          - expr("CAST('84.6' AS DOUBLE)") * col("spw"))
      .withColumn("fk_grade",
        expr("CAST('0.39' AS DOUBLE)") * col("wps")
          + expr("CAST('11.8' AS DOUBLE)") * col("spw")
          - expr("CAST('15.59' AS DOUBLE)"))
      .select(col("doc_id"), col("n_words"), col("n_sentences"),
        col("n_syllables"), col("flesch"), col("fk_grade"))
      .orderBy(col("doc_id"))
  }

  /** Per-document n-gram novelty — what fraction of a doc's trigram
    * occurrences appear EARLIER in the corpus (doc_id order standing in
    * for ingestion time): the memorization-risk / staleness score a
    * dedup-aware sampler weights by, and the doc-level complement of
    * [[dupGramHits]]'s span view. Each trigram's first home is
    * min(doc_id) over the corpus — one gram-keyed groupBy (map-side
    * combined) — and a doc's occurrences with an earlier first home
    * count as seen; novelty = 1 − seen/total in one final division.
    * Linear: grams shuffle once for the first-home election and once for
    * the doc re-aggregation, never pairwise. At 100 TB hash grams to
    * 64-bit longs for both shuffles (the [[ngramFreq]] note) — equality
    * joins don't need the strings. Docs under 3 words have no trigrams
    * and drop out by construction.
    */
  def novelty(s: SparkSession, d: String): DataFrame = {
    val grams = Tables.documents(s, d)
      .select(col("doc_id"), split(lower(col("text")), " ").as("ws"))
      .filter(size(col("ws")) >= 3)
      .select(col("doc_id"), explode(expr(
        "transform(sequence(0, size(ws) - 3), i -> concat_ws(' ', ws[i], ws[i+1], ws[i+2]))"))
        .as("gram"))
    val firstHome = grams.groupBy(col("gram"))
      .agg(min(col("doc_id")).as("first_doc"))
    grams.join(firstHome, Seq("gram"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("first_doc") < col("doc_id"), 1L).otherwise(0L))
          .as("n_seen_before"))
      .withColumn("novelty",
        lit(1.0) - col("n_seen_before").cast("double") / col("n_grams").cast("double"))
      .select(col("doc_id"), col("n_grams"), col("n_seen_before"), col("novelty"))
      .orderBy(col("doc_id"))
  }

  /** Zipf-exponent estimate for the corpus frequency curve — the
    * one-number "is this corpus naturally distributed" fingerprint
    * (natural text reads ≈ 1; boilerplate-heavy or deduplicated corpora
    * drift off it). libm-free under the [[surprisal]] discipline: instead
    * of fitting log freq on log rank (two correctly-rounded-but-
    * engine-varying ln calls per term), both axes quantize to integer
    * BIT LENGTHS (length(bin(v)) = ⌊log₂ v⌋ + 1 — the same identity the
    * HLL rho scan uses, bit-identical in Spark and DuckDB), i.e. the
    * standard octave log-binning of a rank-frequency plot. The OLS solve
    * then runs on exact integer power sums with float confined to the
    * final slope/intercept tree ([[graft.ops.ExtraOps.regression]]).
    * Quantization costs ±½ bit per axis but is deterministic; the fitted
    * slope is in bits-per-bit, so −slope estimates the Zipf exponent
    * directly. Fit restricted to the top-4096 terms: the head is where
    * Zipf holds and the restriction is what keeps the rank assignment a
    * TakeOrderedAndProject + one 4096-row window instead of a global
    * sort of the full vocabulary — the token count shuffle (one row per
    * distinct token, map-side combined) is the only corpus-proportional
    * stage at 100 TB.
    */
  def zipfFit(s: SparkSession, d: String): DataFrame = {
    val head = Tables.documents(s, d)
      .select(explode(split(lower(col("text")), " ")).as("token"))
      .filter(length(col("token")) > 0)
      .groupBy(col("token")).agg(count(lit(1)).as("freq"))
      .orderBy(desc("freq"), col("token"))
      .limit(4096)
    val ranked = head.withColumn("rank",
      row_number().over(org.apache.spark.sql.expressions.Window
        .orderBy(desc("freq"), col("token"))).cast("long"))
    ranked
      .select(expr("CAST(length(bin(rank)) AS DECIMAL(19,0))").as("x"),
        expr("CAST(length(bin(freq)) AS DECIMAL(19,0))").as("y"))
      .agg(count(lit(1)).as("n_terms"),
        sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("x") * col("y")).as("sxy"), sum(col("x") * col("x")).as("sxx"))
      .withColumn("slope_bits",
        (col("n_terms") * col("sxy") - col("sx") * col("sy")).cast("double")
          / (col("n_terms") * col("sxx") - col("sx") * col("sx")).cast("double"))
      .withColumn("intercept_bits",
        (col("sy").cast("double") - col("slope_bits") * col("sx").cast("double"))
          / col("n_terms").cast("double"))
      .select(col("n_terms"), col("slope_bits"), col("intercept_bits"),
        (-col("slope_bits")).as("zipf_exponent"))
  }

  /** Collocation mining — adjacent bigrams ranked by LIFT (N·c(w1,w2) /
    * (c(w1)·c(w2))), the log-free core of PMI (PMI = log2(lift), a
    * monotone transform — ranking by lift IS ranking by PMI, and lift's
    * single exact-integer division hash-verifies where libm's log
    * cannot): bigrams that co-occur far above chance are multi-word
    * expressions a tokenizer or phrase-mining pass should treat as
    * units. Support-filtered (pair count ≥ 5) to kill the
    * low-frequency lift explosion, top-20 by (lift, w1, w2). Pair
    * counts shuffle one row per distinct bigram (map-side combined);
    * unigram counts ride in on two broadcast joins.
    */
  def collocations(s: SparkSession, d: String): DataFrame = {
    val ws = Tables.documents(s, d)
      .select(expr("filter(split(lower(text), ' '), w -> length(w) > 0)")
        .as("ws"))
      .filter(size(col("ws")) >= 2)
    val pairs = ws.select(explode(expr(
      """zip_with(ws, slice(ws, 2, greatest(size(ws) - 1, 0)),
        |  (a, b) -> struct(a AS w1, b AS w2))""".stripMargin)).as("p"))
      .filter(col("p.w2").isNotNull)
      .groupBy(col("p.w1").as("w1"), col("p.w2").as("w2"))
      .agg(count(lit(1)).as("pc"))
    val uni = Tables.documents(s, d)
      .select(explode(expr(
        "filter(split(lower(text), ' '), w -> length(w) > 0)")).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("c"))
    val tot = uni.agg(sum(col("c")).as("n_total"))
    pairs.filter(col("pc") >= 5)
      .join(broadcast(uni.select(col("w").as("w1"), col("c").as("c1"))), "w1")
      .join(broadcast(uni.select(col("w").as("w2"), col("c").as("c2"))), "w2")
      .crossJoin(broadcast(tot))
      .withColumn("lift",
        (col("n_total") * col("pc")).cast("double")
          / (col("c1") * col("c2")).cast("double"))
      .select(col("w1"), col("w2"), col("pc"), col("c1"), col("c2"),
        col("lift"))
      .orderBy(desc("lift"), col("w1"), col("w2"))
      .limit(20)
  }

  /** WORD BURSTINESS — variance-to-mean ratio (the index of dispersion)
    * of each top word's per-document counts, zeros included analytically:
    * VMR = (N·Σc² − (Σc)²) / ((N−1)·Σc) over all N docs, so a word that
    * clumps into few documents (VMR ≫ 1, "bursty" — topical terms)
    * separates from one sprinkled uniformly (VMR ≈ 1, Poisson —
    * function words). The classic corpus-linguistics signal (Church &
    * Gale adaptation) that tf-idf only approximates; emitted in exact
    * micro-units (wide-decimal multiply, one DIV).
    *
    * Scale: one token explode → (word, doc) rollup → word rollup, all
    * map-side combined; absent-doc zeros never materialize.
    */
  def burstiness(s: SparkSession, d: String): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    val docs = Tables.documents(s, d).filter(length(col("text")) > 0)
    val nDocs = docs.agg(count(lit(1)).as("n_docs"))
    val perDoc = docs
      .select(col("doc_id"), explode(expr(
        "filter(split(lower(text), ' '), w -> length(w) > 0)")).as("w"))
      .groupBy(col("w"), col("doc_id")).agg(count(lit(1)).as("c"))
    perDoc.groupBy(col("w"))
      .agg(count(lit(1)).as("n_docs_present"),
        sum(col("c")).as("total"),
        sum(col("c") * col("c")).as("sumsq"))
      .crossJoin(broadcast(nDocs))
      .withColumn("num",
        ((col("n_docs").cast(dec) * col("sumsq").cast(dec)
          - col("total").cast(dec) * col("total").cast(dec)).cast(dec)
          * lit(1000000).cast(dec)).cast(dec))
      .withColumn("den",
        ((col("n_docs") - 1).cast(dec) * col("total").cast(dec)).cast(dec))
      .withColumn("vmr_micro", expr("num div den").cast("long"))
      .select(col("w"), col("n_docs_present"), col("total"), col("vmr_micro"))
      .orderBy(desc("total"), col("w"))
      .limit(20)
  }

  /** HEAPS'-LAW VOCABULARY GROWTH CURVE — (tokens seen, types seen) at
    * ten corpus checkpoints in doc_id order: the scaling diagnostic that
    * sizes tokenizer vocabularies and predicts how much new text stops
    * paying (V ≈ K·nᵝ; the curve's raw points are emitted exactly —
    * fitting the exponent is the analyst's last step, because the log-log
    * fit is the only non-exact part). Types-seen uses each token's FIRST
    * document (min doc_id), so the cumulative count needs no windowed
    * distinct — one grouped min per token, then two running sums over a
    * 10-row frame.
    *
    * Scale: tokens shuffle once for the per-token min; everything after
    * is checkpoint-grain. The windowed-distinct alternative would sort
    * the corpus per checkpoint — this shape is why first-occurrence
    * tables exist.
    */
  def heapsCurve(s: SparkSession, d: String): DataFrame = {
    val toks = Tables.documents(s, d)
      .filter(length(col("text")) > 0)
      .select(col("doc_id"), explode(expr(
        "filter(split(lower(text), ' '), w -> length(w) > 0)")).as("w"))
    val maxDoc = Tables.documents(s, d).agg(max(col("doc_id")).as("mx"))
    val bucketed = toks.crossJoin(broadcast(maxDoc))
      .withColumn("cp", expr("least((doc_id * 10) div (mx + 1), 9L)"))
    val tokensPerCp = bucketed.groupBy(col("cp"))
      .agg(count(lit(1)).as("toks"))
    val typesPerCp = bucketed.groupBy(col("w"))
      .agg(min(col("cp")).as("first_cp"))
      .groupBy(col("first_cp")).agg(count(lit(1)).as("new_types"))
      .withColumnRenamed("first_cp", "cp")
    val w10 = Window.orderBy(col("cp"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    tokensPerCp.join(typesPerCp, Seq("cp"), "left")
      .na.fill(0L, Seq("new_types"))
      .withColumn("tokens_seen", sum(col("toks")).over(w10))
      .withColumn("types_seen", sum(col("new_types")).over(w10))
      .select(col("cp").cast("int").as("checkpoint"),
        col("tokens_seen"), col("types_seen"))
      .orderBy(col("checkpoint"))
  }

  /** KNESER-NEY smoothed bigram LM, EXACT — the canonical modern n-gram
    * smoother (the one SRILM/KenLM default to), with absolute discount
    * d = 3/4 kept rational so the whole probability is one integer
    * fraction: P_KN(w₂|w₁) = (c₁₂ − d)/c₁ + d·N₁₊(w₁·)/c₁ · P_cont(w₂),
    * P_cont = N₁₊(·w₂)/N₁₊(··). Over the common denominator
    * 4·c₁·N₁₊(··) the numerator is (4c₁₂−3)·N₁₊(··) + 3·N₁₊(w₁·)·N₁₊(·w₂)
    * — every term an exact corpus count, so the emitted micro-unit
    * probability ((num·10⁶) DIV den, wide-decimal for headroom) is
    * bit-identical cross-engine. Completes the LM family
    * ([[surprisal]]/[[lmScore]] score with raw counts; this is the
    * smoother you'd actually ship): continuation counts are what lets
    * "san francisco" outrank raw-frequency pairs whose second word only
    * ever follows one head.
    *
    * Scale shape: bigram and continuation tables are the same grouped
    * scan at different grains (map-side combined); the final frame joins
    * |top-k| rows against unigram/continuation dims — the corpus
    * shuffles hashed token pairs once.
    */
  def knBigram(s: SparkSession, d: String): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    val pairs = Tables.documents(s, d)
      .select(expr("filter(split(lower(text), ' '), w -> length(w) > 0)")
        .as("ws"))
      .filter(size(col("ws")) >= 2)
      .select(explode(expr(
        """zip_with(ws, slice(ws, 2, greatest(size(ws) - 1, 0)),
          |  (a, b) -> struct(a AS w1, b AS w2))""".stripMargin)).as("p"))
      .filter(col("p.w2").isNotNull)
      .groupBy(col("p.w1").as("w1"), col("p.w2").as("w2"))
      .agg(count(lit(1)).as("c12"))
    val left = pairs.groupBy(col("w1"))
      .agg(sum(col("c12")).as("c1"), count(lit(1)).as("n1_right"))
    val right = pairs.groupBy(col("w2")).agg(count(lit(1)).as("n1_left"))
    val types = pairs.agg(count(lit(1)).as("n_types"))
    pairs
      .join(broadcast(left), Seq("w1"))
      .join(broadcast(right), Seq("w2"))
      .crossJoin(broadcast(types))
      .withColumn("num",
        ((col("c12") * 4 - 3).cast(dec) * col("n_types").cast(dec)
          + lit(3).cast(dec) * col("n1_right").cast(dec)
            * col("n1_left").cast(dec)).cast(dec))
      .withColumn("den",
        (lit(4).cast(dec) * col("c1").cast(dec) * col("n_types").cast(dec))
          .cast(dec))
      .withColumn("pkn_micro",
        expr("CAST(num * 1000000 AS DECIMAL(38,0)) div den").cast("long"))
      .select(col("w1"), col("w2"), col("c12"), col("c1"),
        col("n1_right"), col("n1_left"), col("pkn_micro"))
      .orderBy(desc("c12"), col("w1"), col("w2"))
      .limit(20)
  }

  /** Hapax legomena + type/token ratio per source — the heavy-tail
    * vocabulary profile (how much of each slice is corpus-unique words):
    * a high hapax rate predicts tokenizer OOV pressure and poor n-gram
    * LM coverage; TTR is the classic lexical-richness signal. One token
    * explode feeds BOTH sides: corpus-wide frequencies (to mark hapaxes)
    * and the per-source rollup; hapax status rides back on a token-keyed
    * join where only (token, freq=1) rows survive the build — at 100 TB
    * the hapax set is large but the join is the same token-keyed shuffle
    * any df computation pays, and nothing else leaves integer space
    * until the two final fixed-order divisions.
    */
  def hapax(s: SparkSession, d: String): DataFrame = {
    val toks = Tables.documents(s, d)
      .select(col("source"),
        explode(split(lower(col("text")), " ")).as("token"))
      .filter(length(col("token")) > 0)
    val freq = toks.groupBy(col("token")).agg(count(lit(1)).as("freq"))
    val hap = freq.filter(col("freq") === 1L)
      .select(col("token"), lit(1L).as("is_hapax"))
    val types = toks.select(col("source"), col("token")).distinct()
      .groupBy(col("source")).agg(count(lit(1)).as("n_types"))
    toks.join(hap, Seq("token"), "left")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_tokens"),
        sum(coalesce(col("is_hapax"), lit(0L))).as("n_hapax"))
      .join(types, Seq("source"))
      .select(col("source"), col("n_tokens"), col("n_types"), col("n_hapax"),
        (col("n_types").cast("double") / col("n_tokens").cast("double"))
          .as("ttr"),
        (col("n_hapax").cast("double") / col("n_tokens").cast("double"))
          .as("hapax_rate"))
      .orderBy(col("source"))
  }

  /** Simpson repeat probability per source — the probability two tokens
    * drawn without replacement from a slice are the SAME word
    * (Σ c_w(c_w−1) / N(N−1)): the integer-exact lexical-diversity
    * measure (an entropy stand-in with NO logarithm, so it cross-engine
    * verifies bit-for-bit where Shannon entropy's libm ln cannot).
    * High values = template/boilerplate slices. Token counts partial-
    * aggregate map-side; the Σc(c−1) rollup shuffles one row per
    * distinct (source, word).
    */
  def simpson(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("source"),
        explode(split(lower(col("text")), " ")).as("token"))
      .filter(length(col("token")) > 0)
      .groupBy(col("source"), col("token"))
      .agg(count(lit(1)).as("c"))
      .groupBy(col("source"))
      .agg(sum(col("c")).as("n_tokens"),
        sum(col("c") * (col("c") - 1)).as("sum_cc1"))
      .withColumn("repeat_prob",
        col("sum_cc1").cast("double")
          / (col("n_tokens") * (col("n_tokens") - 1)).cast("double"))
      .select(col("source"), col("n_tokens"), col("sum_cc1"),
        col("repeat_prob"))
      .orderBy(col("source"))

  /** Vocabulary coverage curve — for vocab-size checkpoints K ∈ {1, 2,
    * 5, 10, 20, 30}, what share of all token OCCURRENCES the top-K
    * word types cover: the table that sizes a vocabulary before
    * committing to a tokenizer (the Zipf mass curve, measured not
    * assumed; [[oovRate]] is this table's per-source slice at K=100).
    * Ranks come from one (freq desc, token) window over the DISTINCT
    * type frame (vocab-sized, not corpus-sized); the cumulative
    * occurrence mass is a running BIGINT sum over the same frame, probed
    * at the K checkpoints by a broadcast join — coverage is the one
    * terminal division.
    */
  def vocabCoverage(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import s.implicits._
    val freq = Tables.documents(s, d)
      .select(explode(split(lower(col("text")), " ")).as("token"))
      .filter(length(col("token")) > 0)
      .groupBy(col("token")).agg(count(lit(1)).as("freq"))
    val w = Window.orderBy(desc("freq"), col("token"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val ranked = freq
      .withColumn("rank", row_number().over(
        Window.orderBy(desc("freq"), col("token"))).cast("long"))
      .withColumn("cum", sum(col("freq")).over(w))
    val tot = freq.agg(sum(col("freq")).as("n_total"),
      count(lit(1)).as("n_types"))
    Seq(1L, 2L, 5L, 10L, 20L, 30L).toDF("k")
      .join(ranked, col("rank") === col("k"))
      .crossJoin(broadcast(tot))
      .select(col("k"), col("n_types"), col("n_total"),
        col("cum").as("covered"),
        (col("cum").cast("double") / col("n_total").cast("double"))
          .as("coverage"))
      .orderBy(col("k"))
  }

  /** Out-of-vocabulary rate per source — the tokenizer-coverage health
    * metric a training pipeline checks before committing to a vocab: how
    * much of each corpus slice the top-K vocabulary ([[vocab]]'s exact
    * construction) fails to cover. The vocab is top-100 by (freq desc,
    * token) — bounded by construction, so broadcasting it is safe at any
    * corpus size; the token stream is scanned once and never shuffled
    * except the per-source rollup (map-side partial).
    */
  def oovRate(s: SparkSession, d: String): DataFrame = {
    val toks = Tables.documents(s, d)
      .select(col("source"),
        explode(split(lower(col("text")), " ")).as("token"))
      .filter(length(col("token")) > 0)
    val voc = toks.groupBy(col("token")).agg(count(lit(1)).as("freq"))
      .orderBy(desc("freq"), col("token")).limit(100)
      .select(col("token"), lit(1L).as("in_vocab"))
    toks.join(broadcast(voc), Seq("token"), "left")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_tokens"),
        sum(when(col("in_vocab").isNull, 1L).otherwise(0L)).as("n_oov"))
      .withColumn("oov_rate", col("n_oov").cast("double") / col("n_tokens"))
      .orderBy(col("source"))
  }

  /** Repetition scoring (Gopher-style quality signal): duplicate-word
    * ratio and top-term concentration per document. One explode +
    * two-level aggregation — the word counts partial-aggregate map-side,
    * and the ratios are int/int double divisions (exact both engines).
    */
  def repetition(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id"), explode(split(lower(col("text")), " ")).as("w"))
      .groupBy(col("doc_id"), col("w")).agg(count(lit(1)).as("c"))
      .groupBy(col("doc_id"))
      .agg(sum(col("c")).as("n_words"),
        count(lit(1)).as("n_distinct"),
        max(col("c")).as("top_count"))
      .withColumn("distinct_ratio",
        col("n_distinct").cast("double") / col("n_words"))
      .withColumn("top_share", col("top_count").cast("double") / col("n_words"))
      .orderBy(col("doc_id"))

  /** Denylist scrubbing — the redaction step of a corpus-governance
    * pipeline (here a term denylist; a PII pass swaps in email/phone
    * patterns, same plumbing). The pattern stays dialect-neutral (word
    * boundaries + alternation work identically in Java regex and RE2) so
    * the oracle replays it verbatim.
    */
  private val DENY = "\\b(customer|stream|vector)\\b"

  /** UNICODE SCRIPT COMPOSITION — per-language writing-system profile
    * (Latin vs Han vs whitespace vs other) counted with Unicode script
    * character classes, the signal a multilingual curation pipeline uses
    * to catch mislabeled-language and transliterated docs. The corpus is
    * ASCII-synthetic, so the probe first derives a deterministic
    * multiscript column: zh docs get 10 letters transliterated to CJK,
    * the other non-English langs get accented-vowel substitutions (still
    * script=Latin — the classifier must NOT flag diacritics as foreign).
    * Both engines count per-codepoint script classes over identical
    * strings (Java `\p{IsHan}` ≡ RE2 `\p{Han}` — both implement UTS#24
    * script property), so the integer counts hash-verify exactly.
    *
    * Scale shape: pure per-row map + one aggregation to |langs| rows;
    * the text column never shuffles.
    */
  def scriptMix(s: SparkSession, d: String): DataFrame = {
    val mixed = expr(
      """CASE lang
        |  WHEN 'zh' THEN translate(text, 'abcdefghij', '中文数大小据集网页图')
        |  WHEN 'de' THEN translate(text, 'aeiou', 'äëïöü')
        |  WHEN 'fr' THEN translate(text, 'aeiou', 'àéîôù')
        |  WHEN 'es' THEN translate(text, 'aeiou', 'áéíóú')
        |  ELSE text END""".stripMargin)
    Tables.documents(s, d)
      .filter(length(col("text")) > 0)
      .withColumn("mixed", mixed)
      .select(col("lang"),
        length(col("mixed")).cast("long").as("n_chars"),
        regexp_count(col("mixed"), lit("[\\p{IsLatin}]")).cast("long").as("n_latin"),
        regexp_count(col("mixed"), lit("[\\p{IsHan}]")).cast("long").as("n_han"),
        regexp_count(col("mixed"), lit(" ")).cast("long").as("n_space"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("chars"),
        sum(col("n_latin")).as("latin"),
        sum(col("n_han")).as("han"),
        sum(col("n_space")).as("space"))
      .withColumn("latin_bp", expr("(latin * 10000) div chars"))
      .withColumn("han_bp", expr("(han * 10000) div chars"))
      .withColumn("other_bp",
        expr("((chars - latin - han - space) * 10000) div chars"))
      .withColumn("dominant_script",
        when(col("han") > col("latin"), "Han").otherwise("Latin"))
      .select(col("lang"), col("n_docs"), col("chars"), col("latin_bp"),
        col("han_bp"), col("other_bp"), col("dominant_script"))
      .orderBy(col("lang"))
  }

  def redact(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .withColumn("n_redacted", regexp_count(col("text"), lit(DENY)).cast("long"))
      .withColumn("clean_text", regexp_replace(col("text"), DENY, "[X]"))
      .select(col("doc_id"), col("n_redacted"),
        length(col("clean_text")).cast("long").as("clean_len"),
        substring(col("clean_text"), 1, 50).as("clean_prefix"))
      .orderBy(col("doc_id"))

  /** Overlapping context-window chunking (size 200 chars, stride 150 — a
    * 50-char overlap), the document→training-example fan-out step of an
    * LLM data pipeline. One `sequence` of chunk starts per document,
    * expanded with posexplode — the text column is read once and never
    * shuffled (chunking is a per-row map), so at 100 TB this is a pure
    * scan→narrow-expand stage; only the downstream consumer decides
    * whether chunks repartition.
    */
  def chunkDocs(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      // empty/NULL text → zero chunks on BOTH engines: without the filter
      // Spark's sequence(0, greatest(-1,0)) would emit one empty chunk
      // where the oracle's generate_series(0,-1) emits none
      .filter(length(col("text")) > 0)
      .select(col("doc_id"), col("text"),
        sequence(lit(0), length(col("text")) - 1, lit(150)).as("starts"))
      .select(col("doc_id"), col("text"), posexplode(col("starts")).as(Seq("chunk_id", "start")))
      .select(col("doc_id"), col("chunk_id"),
        expr("substring(text, start + 1, 200)").as("chunk_text"))
      .withColumn("n_chars", length(col("chunk_text")))
      .orderBy(col("doc_id"), col("chunk_id"))

  /** Corpus-wide duplicated-chunk removal — the C4/RefinedWeb curation
    * step where any span occurring VERBATIM more than once across the
    * corpus (boilerplate, license headers, templated text) is dropped
    * from every document containing it, while the documents themselves
    * survive with the duplicated spans excised. Chunks are fixed 20-word
    * windows assembled via slice() over the split array — one narrow
    * sequence+explode, no per-word explosion.
    *
    * Scale design: chunk frequency shuffles only the 60-bit chunk hash
    * (8-byte keys, map-side combined); the duplicated-hash set is
    * FILTERED to n_occ > 1 before the join back, so AQE broadcasts it
    * when the corpus's boilerplate set fits in memory and degrades to a
    * shuffle join (keyed by the same 8-byte hash) when it does not. Text
    * travels through exactly two shuffles: the hash join-back and the
    * per-doc reassembly — the minimum for a corpus-global rewrite.
    * Reassembly is order-restored by sorting (chunk_id, chunk) structs
    * inside each doc's collected list, never a global sort.
    */
  def chunkDedup(s: SparkSession, d: String): DataFrame = {
    val chunks = Tables.documents(s, d)
      .filter(length(col("text")) > 0)
      .select(col("doc_id"), split(col("text"), " ").as("ws"))
      .withColumn("ck", explode(expr(s"sequence(0, (size(ws) - 1) div $DEDUP_W)")))
      .select(col("doc_id"), col("ck").cast("long").as("ck"),
        concat_ws(" ", slice(col("ws"), col("ck") * DEDUP_W + 1, lit(DEDUP_W))).as("chunk"))
      .withColumn("h", expr(sparkHash("chunk")))
    val dups = chunks.groupBy(col("h"))
      .agg(count(lit(1)).as("n_occ"))
      .filter(col("n_occ") > 1)
    chunks.join(dups, Seq("h"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_chunks"),
        sum(when(col("n_occ").isNotNull, 1L).otherwise(0L)).as("n_dup"),
        array_join(transform(array_sort(collect_list(
            when(col("n_occ").isNull, struct(col("ck"), col("chunk"))))),
          x => x.getField("chunk")), " ").as("cleaned_text"))
      .orderBy(col("doc_id"))
  }

  private val DEDUP_W = 20

  /** Boilerplate detection — chunks repeated across MANY DISTINCT
    * documents (document frequency ≥ 3): the header/footer/nav-bar
    * signature of a scraped corpus, and a different failure mode than
    * pairwise duplication ([[chunkDedup]] counts occurrences; a chunk
    * pasted twice into ONE doc is self-repetition, while a chunk in 50
    * docs is template text that survives pair-level dedup caps). Per
    * flagged chunk: distinct-doc df, total occurrences, and the chunk
    * text, top-20 by (df, hash). Chunk text rides only on the flagged
    * winners (any_value over the df-capped group — chunks are
    * hash-grouped, so text never shuffles for candidates), exactly the
    * dup-gram wire discipline.
    */
  def boilerplate(s: SparkSession, d: String): DataFrame = {
    val chunks = Tables.documents(s, d)
      .filter(length(col("text")) > 0)
      .select(col("doc_id"), split(col("text"), " ").as("ws"))
      .withColumn("ck", explode(expr(s"sequence(0, (size(ws) - 1) div $DEDUP_W)")))
      .select(col("doc_id"),
        concat_ws(" ",
          slice(col("ws"), col("ck") * DEDUP_W + 1, lit(DEDUP_W))).as("chunk"))
      .withColumn("h", expr(sparkHash("chunk")))
    chunks.groupBy(col("h"))
      .agg(graft.Det.exactDistinct(col("doc_id")).as("df"),
        count(lit(1)).as("n_occ"),
        min(col("chunk")).as("chunk"))
      .filter(col("df") >= 3)
      .select(col("h"), col("df"), col("n_occ"), col("chunk"))
      .orderBy(desc("df"), col("h"))
      .limit(20)
  }

  /** Token-window chunking (64-token windows, stride 48 — 16-token
    * overlap): the tokenizer-aligned sibling of [[chunkDocs]]. Tokens are
    * whitespace words here (the BPE-ish regex split of `tx_tokens` plugs
    * in unchanged); the expand is the same narrow sequence+posexplode —
    * one scan, no shuffle of text.
    */
  def chunkTokens(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id"), split(lower(col("text")), " ").as("ws"))
      .withColumn("starts",
        sequence(lit(0), greatest(size(col("ws")) - 1, lit(0)), lit(48)))
      .select(col("doc_id"), col("ws"),
        posexplode(col("starts")).as(Seq("chunk_id", "st")))
      .select(col("doc_id"), col("chunk_id"),
        expr("slice(ws, st + 1, 64)").as("chunk"))
      .select(col("doc_id"), col("chunk_id"),
        size(col("chunk")).as("n_tokens"),
        array_join(col("chunk"), " ").as("chunk_text"))
      .orderBy(col("doc_id"), col("chunk_id"))

  /** Deterministic train/val/test split (90/5/5): the assignment is a
    * hash gate on doc_id — a pure function, so the split is reproducible
    * across runs/engines/cluster layouts and any document's fate is
    * auditable (the same reason `pipe_corpus_mix` refuses rand()).
    * Output is the per-split manifest.
    */
  /** The 90/5/5 deterministic split gate — ONE definition shared by
    * [[trainSplit]] and [[datasetCard]] (and mirrored in both oracles),
    * so the two views of a document's split can never drift apart.
    */
  private def withSplit(df: DataFrame): DataFrame = df
    .withColumn("bucket", expr(s"${sparkHash("CAST(doc_id AS STRING)")} % 100"))
    .withColumn("split",
      when(col("bucket") < 90, "train")
        .when(col("bucket") < 95, "val").otherwise("test"))

  def trainSplit(s: SparkSession, d: String): DataFrame =
    withSplit(Tables.documents(s, d))
      .groupBy(col("split"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("n_chars"),
        min(col("doc_id")).as("min_doc"), max(col("doc_id")).as("max_doc"))
      .orderBy(col("split"))

  /** Distributed BPE tokenizer training — the first 3 merge rounds of
    * byte-pair encoding over the corpus vocabulary. No DATA ever visits
    * the driver: the per-round argmax pair is a 1-row TakeOrdered
    * broadcast into the next round's plan. Construction is eager — each
    * round materializes via localCheckpoint (the same flat-plans-per-
    * iteration call [[graft.ext.Similarity]]'s k-means trainer makes),
    * so building this frame runs the 3 training rounds as Spark jobs;
    * callers timing "plan build" vs "execution" should know the cost
    * lands here. Each word rides as a
    * sentinel-delimited segmentation string (chr(1) boundaries, doubled
    * between symbols) so the batched greedy merge is ONE `replace()`
    * call: the pattern `¦l¦¦r¦` can only align on true symbol
    * boundaries, and replace()'s left-to-right non-overlapping scan IS
    * the standard batched BPE merge semantic (identical in DuckDB, so
    * the whole 3-round training replays in the oracle as unrolled CTEs).
    *
    * Scale: pair counting aggregates over word TYPES weighted by corpus
    * frequency — the shuffle carries (l, r, partial count) over the
    * vocabulary, never the corpus; merging is a per-row string op. A
    * production 30k-round trainer keeps this plan per round but
    * maintains pair counts incrementally (only words containing the
    * merged pair change) instead of recounting — the round structure,
    * tie-breaks, and merge semantics are exactly what is pinned here.
    */
  /** The 3-round training loop shared by [[bpeMerges]] (the learned merge
    * table) and [[bpeEncode]] (tokenization with those merges): returns
    * (merge table, final segmented word-type vocab).
    */
  private def bpeTrain(s: SparkSession, d: String): (DataFrame, DataFrame) =
    bpeTrainOf(Tables.documents(s, d))

  /** [[bpeTrain]] over an arbitrary (text, …) frame — lets the e2e
    * pretrain flagship train its tokenizer on the CURATED corpus rather
    * than the raw table (the production ordering: clean first, then fit
    * the tokenizer to what will actually be trained on).
    */
  private def bpeTrainOf(docs: DataFrame): (DataFrame, DataFrame) = {
    var words = docs
      .select(explode(split(lower(col("text")), " ")).as("w"))
      // the chr(1) sentinel below assumes no word contains \x01 — a word
      // carrying it would corrupt segmentation boundaries silently, so
      // filter such words out of the vocab (mirrored in the oracle)
      .filter(length(col("w")) > 0 && !col("w").contains("\u0001"))
      .groupBy(col("w")).agg(count(lit(1)).as("cnt"))
      .withColumn("seg", expr(
        """concat(chr(1), chr(1),
          |  array_join(split(w, ''), concat(chr(1), chr(1))),
          |  chr(1), chr(1))""".stripMargin))
      .localCheckpoint()
    def bestPair(df: DataFrame, round: Int): DataFrame =
      df.select(col("cnt"), expr(
          "filter(split(seg, concat(chr(1), chr(1))), x -> x != '')").as("syms"))
        .select(col("cnt"), explode(expr(
          """filter(
            |  zip_with(syms, slice(syms, 2, greatest(size(syms) - 1, 0)),
            |    (a, b) -> struct(a AS l, b AS r)),
            |  p -> p.r IS NOT NULL)""".stripMargin)).as("p"))
        .groupBy(col("p.l").as("l"), col("p.r").as("r"))
        .agg(sum(col("cnt")).as("pcnt"))
        .orderBy(desc("pcnt"), col("l"), col("r")).limit(1)
        .select(lit(round).as("round"), col("l"), col("r"), col("pcnt"))
        .localCheckpoint()
    val bests = (1 to 3).map { r =>
      val best = bestPair(words, r)
      words = words
        .crossJoin(broadcast(best.select(col("l").as("bl"), col("r").as("br"))))
        .withColumn("seg", expr(
          """replace(seg,
            |  concat(chr(1), bl, chr(1), chr(1), br, chr(1)),
            |  concat(chr(1), bl, br, chr(1)))""".stripMargin))
        .select(col("w"), col("cnt"), col("seg"))
        .localCheckpoint()
      best
    }
    (bests.reduce(_ unionAll _), words)
  }

  def bpeMerges(s: SparkSession, d: String): DataFrame =
    bpeTrain(s, d)._1.orderBy(col("round"))

  /** Tokenizer APPLY — encode the corpus with the trained merges: the
    * final segmented vocab maps each word TYPE to its post-merge symbol
    * count, and documents JOIN that map instead of re-running merge
    * logic per token. At scale the vocab (word types) is orders of
    * magnitude smaller than the corpus and broadcasts; the corpus never
    * shuffles — tokenization is a narrow map + broadcast join, the same
    * shape production BPE encoders use on clusters (merge table
    * resident, text streaming through). Emits per-doc word/token/char
    * counts and chars-per-token — the compression metric a tokenizer
    * change is judged by.
    */
  def bpeEncode(s: SparkSession, d: String): DataFrame = {
    val (_, vocab) = bpeTrain(s, d)
    val symCounts = vocab.select(col("w"), expr(
      "size(filter(split(seg, concat(chr(1), chr(1))), x -> x != ''))")
      .cast("long").as("n_sym"))
    Tables.documents(s, d)
      .select(col("doc_id"),
        explode(split(lower(col("text")), " ")).as("w"))
      .filter(length(col("w")) > 0 && !col("w").contains("\u0001"))
      .join(broadcast(symCounts), Seq("w"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_words"),
        sum(col("n_sym")).as("n_tokens"),
        sum(length(col("w")).cast("long")).as("n_chars"))
      .withColumn("chars_per_token",
        col("n_chars").cast("double") / col("n_tokens"))
      .orderBy(col("doc_id"))
  }

  /** Tokenizer fertility by language — BPE tokens per word for each
    * corpus slice, THE cross-lingual tokenizer-equity metric (a language
    * whose fertility is 2× pays 2× the context window and 2× the
    * compute per sentence; multilingual tokenizer papers tune vocab
    * allocations against exactly this table). Same trained-merges
    * broadcast-join shape as [[bpeEncode]] — the corpus never shuffles;
    * the rollup is per-language instead of per-document, so the output
    * is a bounded |langs|-row frame.
    */
  def fertility(s: SparkSession, d: String): DataFrame = {
    val (_, vocab) = bpeTrain(s, d)
    val symCounts = vocab.select(col("w"), expr(
      "size(filter(split(seg, concat(chr(1), chr(1))), x -> x != ''))")
      .cast("long").as("n_sym"))
    Tables.documents(s, d)
      .select(col("lang"),
        explode(split(lower(col("text")), " ")).as("w"))
      .filter(length(col("w")) > 0 && !col("w").contains("\u0001"))
      .join(broadcast(symCounts), Seq("w"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_words"), sum(col("n_sym")).as("n_tokens"))
      .withColumn("fertility",
        col("n_tokens").cast("double") / col("n_words").cast("double"))
      .orderBy(col("lang"))
  }

  /** Sequence-length audit — the pad-vs-truncate cost table a training
    * config is chosen against: for max_len ∈ {32, 48, 64}, how many
    * documents get truncated, what share of tokens is LOST to
    * truncation, and what share of the padded batch is WASTE (padding)
    * if every kept sequence pads to max_len. [[packSequences]] avoids
    * padding by packing; this table quantifies what the naive
    * pad-to-max alternative costs at each boundary — the two numbers
    * (loss% vs waste%) that justify packing in the first place. One
    * token-count scan; per-boundary stats are conditional integer sums
    * against a 3-row broadcast boundary frame; the two shares are
    * terminal divisions.
    */
  def seqLengthAudit(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val toks = Tables.documents(s, d)
      .select(expr("size(filter(split(text, ' '), w -> length(w) > 0))")
        .cast("long").as("n"))
    Seq(32L, 48L, 64L).toDF("max_len")
      .crossJoin(toks)
      .groupBy(col("max_len"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n")).as("corpus_tokens"),
        sum(when(col("n") > col("max_len"), 1L).otherwise(0L))
          .as("n_truncated"),
        sum(when(col("n") > col("max_len"), col("n") - col("max_len"))
          .otherwise(0L)).as("tokens_lost"),
        sum(least(col("n"), col("max_len"))).as("kept_tokens"))
      .withColumn("loss_share",
        col("tokens_lost").cast("double") / col("corpus_tokens").cast("double"))
      .withColumn("pad_waste_share",
        (col("n_docs") * col("max_len") - col("kept_tokens")).cast("double")
          / (col("n_docs") * col("max_len")).cast("double"))
      .select(col("max_len"), col("n_docs"), col("corpus_tokens"),
        col("n_truncated"), col("tokens_lost"), col("kept_tokens"),
        col("loss_share"), col("pad_waste_share"))
      .orderBy(col("max_len"))
  }

  /** Chat-template assembly — multi-turn SFT conversations built from
    * per-source document streams: within each source (doc_id order),
    * consecutive documents become alternating user/assistant turns,
    * grouped four to a conversation, rendered with `<|role|>` tags in
    * turn order and accompanied by the masking geometry ([[lossMasking]]
    * masks a position RANGE; chat SFT masks by ROLE — user-turn tokens
    * are context, assistant-turn tokens are targets, and the
    * user/assistant token counts here are exactly that split). Complete
    * conversations only (HAVING count = 4) — a trailing partial group is
    * dropped, as a training pipeline would. One window per source for
    * turn numbering, one sorted-collect per conversation for rendering —
    * text crosses the wire once; at 100 TB the source partition is the
    * scale unit exactly as in [[packSequences]].
    */
  def chatTemplate(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("source")).orderBy(col("doc_id"))
    Tables.documents(s, d)
      .withColumn("rn", (row_number().over(w) - 1).cast("long"))
      .withColumn("conv_id", expr("rn DIV 4"))
      .withColumn("turn", col("rn") % 4)
      .withColumn("role",
        when(col("turn") % 2 === 0, lit("user")).otherwise(lit("assistant")))
      .withColumn("nw",
        expr("size(filter(split(text, ' '), w -> length(w) > 0))")
          .cast("long"))
      .groupBy(col("source"), col("conv_id"))
      .agg(count(lit(1)).as("n_turns"),
        sum(when(col("role") === "user", col("nw")).otherwise(0L))
          .as("n_user_tokens"),
        sum(when(col("role") === "assistant", col("nw")).otherwise(0L))
          .as("n_assistant_tokens"),
        expr(
          """array_join(
            |  transform(array_sort(collect_list(struct(turn,
            |    concat('<|', role, '|>', text) AS seg))), x -> x.seg),
            |  chr(10))""".stripMargin).as("conv_text"))
      .filter(col("n_turns") === 4)
      .orderBy(col("source"), col("conv_id"))
  }

  /** SFT loss-masking — the (input_ids, labels) construction every
    * instruction-tuning pipeline ships: the first P positions (the
    * "prompt") carry the cross-entropy ignore index (-100, the standard
    * convention) in `labels`, completion positions carry the token id, so
    * the model trains only on completions. Token ids here are the 60-bit
    * replayable hash mod vocab (a stand-in for a real tokenizer id — the
    * masking geometry is the operator under test). Narrow per-row
    * transforms only: no shuffle, no explosion — at 100 TB this runs at
    * scan speed. Sequences emit as space-joined strings (the driver's
    * sorter can't lexsort arrays).
    */
  def lossMasking(s: SparkSession, d: String): DataFrame = {
    val P = 8; val V = 32768
    Tables.documents(s, d)
      .select(col("doc_id"),
        expr("filter(split(lower(text), ' '), w -> length(w) > 0)").as("ws"))
      .select(col("doc_id"),
        expr(s"transform(ws, w -> ${sparkHash("w")} % $V)").as("ids"))
      .select(col("doc_id"),
        size(col("ids")).cast("long").as("n_tokens"),
        least(size(col("ids")), lit(P)).cast("long").as("n_masked"),
        array_join(expr("transform(ids, x -> CAST(x AS STRING))"), " ")
          .as("input_ids"),
        array_join(expr(
          s"transform(ids, (x, i) -> IF(i < $P, '-100', CAST(x AS STRING)))"),
          " ").as("labels"))
      .orderBy(col("doc_id"))
  }

  /** Preference-pair construction (DPO/RLHF data prep): within each
    * source, pair the 3 highest-scored documents ("chosen") with the 3
    * lowest ("rejected") by rank, carrying the score margin — the shape a
    * preference-tuning run consumes. Score here is the exact rational
    * stopword share (counts divided once at the end — replayable, no
    * libm). Both rank windows partition by source, so Spark pushes a
    * partial WindowGroupLimit below the shuffle and each source's
    * candidate set collapses to ≤3 rows per map task before the exchange
    * — at 100 TB the pairing cost is sources × 3, not corpus-sized.
    */
  def dpoPairs(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val scored = Tables.documents(s, d)
      .select(col("source"), col("doc_id"), split(lower(col("text")), " ").as("ws"))
      .withColumn("score",
        expr(s"size(filter(ws, w -> w IN ${inList(stop("en"))}))").cast("double")
          / size(col("ws")))
      .select(col("source"), col("doc_id"), col("score"))
    val wTop = Window.partitionBy(col("source")).orderBy(desc("score"), col("doc_id"))
    val wBot = Window.partitionBy(col("source")).orderBy(col("score"), col("doc_id"))
    val top = scored
      .withColumn("pair_rank", row_number().over(wTop).cast("long"))
      .filter(col("pair_rank") <= 3)
      .select(col("source"), col("pair_rank"),
        col("doc_id").as("chosen_id"), col("score").as("chosen_score"))
    val bot = scored
      .withColumn("pair_rank", row_number().over(wBot).cast("long"))
      .filter(col("pair_rank") <= 3)
      .select(col("source"), col("pair_rank"),
        col("doc_id").as("rejected_id"), col("score").as("rejected_score"))
    top.join(bot, Seq("source", "pair_rank"))
      .withColumn("margin", col("chosen_score") - col("rejected_score"))
      .orderBy(col("source"), col("pair_rank"))
  }

  /** Dataset card: the per-(source, split) manifest a training run ships
    * with — document/char/token counts, corpus share, exact-duplicate
    * rate, and stopword share (the quality proxy). One scan computes
    * every cell: the split is the same auditable hash gate as
    * [[trainSplit]], dup rate folds md5 text hashes into a per-group
    * count-distinct, and ratios divide EXACT integer totals (never a
    * mean of per-doc doubles, which would be combine-order-dependent).
    * The corpus total for pct_docs is a 1-row broadcast.
    *
    * Scale: one shuffle on (source, split) — ~sources×3 groups — with all
    * counts partially aggregated map-side except the exact text-hash
    * count-distinct (its two-phase expansion shuffles 16-byte hashes;
    * swap for approx_count_distinct when a 2% band on dup_rate is fine).
    */
  def datasetCard(s: SparkSession, d: String): DataFrame = {
    val docs = withSplit(Tables.documents(s, d))
      .withColumn("ws", split(lower(col("text")), " "))
      .withColumn("n_tokens", size(col("ws")).cast("long"))
      .withColumn("n_stop",
        expr(s"size(filter(ws, w -> w IN ${inList(stop("en"))}))").cast("long"))
      .withColumn("th", md5(col("text")))
    val total = docs.agg(count(lit(1)).as("corpus_docs"))
    docs.groupBy(col("source"), col("split"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("n_chars"),
        sum(col("n_tokens")).as("n_tokens"),
        sum(col("n_stop")).as("n_stop"),
        graft.Det.exactDistinct(col("th")).as("n_uniq"))
      .crossJoin(broadcast(total))
      .select(col("source"), col("split"), col("n_docs"), col("n_chars"),
        col("n_tokens"),
        (col("n_docs").cast("double") / col("corpus_docs")).as("pct_docs"),
        (lit(1.0) - col("n_uniq").cast("double") / col("n_docs")).as("dup_rate"),
        (col("n_stop").cast("double") / col("n_tokens")).as("stop_share"))
      .orderBy(col("source"), col("split"))
  }

  /** Tokens → vocabulary ids: build the top-100 vocab (freq desc, token
    * tie-break → dense ids 1..100), map every token position to its id
    * (out-of-vocab → 0), and re-assemble the id sequence per document in
    * original token order — the text→training-input encoding step. The
    * vocab is bounded at 100 rows by construction, so its broadcast is
    * scale-safe; order is restored with a sort of (pos, id) structs inside
    * each doc's collected list, never a global sort of token rows.
    */
  def tokenizeIds(s: SparkSession, d: String): DataFrame = {
    val vocabIds = vocab(s, d)
      .withColumn("id", row_number().over(
        org.apache.spark.sql.expressions.Window
          .orderBy(desc("freq"), col("token"))).cast("int"))
      .select(col("token"), col("id"))
    Tables.documents(s, d)
      .select(col("doc_id"), posexplode(split(lower(col("text")), " "))
        .as(Seq("pos", "token")))
      .join(broadcast(vocabIds), Seq("token"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"),
        sum(when(col("id").isNull, 1L).otherwise(0L)).as("n_oov"),
        array_join(expr(
          "transform(array_sort(collect_list(struct(pos, coalesce(id, 0) AS id)))," +
            " x -> CAST(x.id AS STRING))"), ",").as("ids_str"))
      .orderBy(col("doc_id"))
  }

  /** Ids → text: the INVERSE of [[tokenizeIds]], the inspection/debug
    * path every training pipeline needs next to its encoder. The decode
    * side reads ONLY the encoded stream — (doc_id, pos, id) — and joins
    * the inverted vocab (id → token; the pinned OOV policy maps id 0 to
    * `<unk>`), re-assembling token order with the same sorted-struct
    * trick as the encoder. `round_trip` certifies the inverse per doc:
    * the decoded text must equal the original token stream with each
    * out-of-vocab token replaced by `<unk>` — so on a fully in-vocab
    * document, `detok(encode(x)) == x` exactly (spec-pinned), and on an
    * OOV-bearing one the lossy positions are exactly the declared OOV
    * policy, nothing else. Vocab is ≤100 rows by construction → both
    * joins broadcast; the corpus never shuffles for the decode itself
    * (one groupBy doc re-assembles, same as the encoder).
    */
  def detokenize(s: SparkSession, d: String): DataFrame =
    detokenizeOf(Tables.documents(s, d))

  /** [[detokenize]] over an arbitrary (doc_id, text) frame — the vocab
    * is fit on the SAME frame (the [[tokenizeIds]] convention), which
    * also lets the spec feed an OOV-bearing fixture to pin the `<unk>`
    * policy non-vacuously (the sf0.001 corpus is fully in-vocab).
    */
  def detokenizeOf(docs: DataFrame): DataFrame = {
    val vocabIds = docs
      .select(explode(split(lower(col("text")), " ")).as("token"))
      .filter(length(col("token")) > 0)
      .groupBy(col("token")).agg(count(lit(1)).as("freq"))
      .orderBy(desc("freq"), col("token"))
      .limit(100)
      .withColumn("id", row_number().over(
        org.apache.spark.sql.expressions.Window
          .orderBy(desc("freq"), col("token"))).cast("int"))
      .select(col("token"), col("id"))
    // --- encode (the [[tokenizeIds]] contract): (doc_id, pos, id) -----
    val enc = docs
      .select(col("doc_id"), posexplode(split(lower(col("text")), " "))
        .as(Seq("pos", "token")))
      .join(broadcast(vocabIds), Seq("token"), "left")
      .select(col("doc_id"), col("pos"),
        coalesce(col("id"), lit(0)).as("id"),
        // carried ONLY for the round-trip certification column — the
        // decode join below never reads it
        when(col("id").isNull, lit("<unk>")).otherwise(col("token"))
          .as("expected_token"))
    // --- decode: ids join the INVERTED vocab ---------------------------
    val invVocab = vocabIds.select(col("id"), col("token").as("dec_token"))
    enc.join(broadcast(invVocab), Seq("id"), "left")
      .withColumn("dec_token",
        when(col("id") === 0, lit("<unk>")).otherwise(col("dec_token")))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"),
        sum(when(col("id") === 0, 1L).otherwise(0L)).as("n_oov"),
        array_join(expr(
          "transform(array_sort(collect_list(struct(pos, dec_token)))," +
            " x -> x.dec_token)"), " ").as("detok_text"),
        array_join(expr(
          "transform(array_sort(collect_list(struct(pos, expected_token)))," +
            " x -> x.expected_token)"), " ").as("expected_text"))
      .select(col("doc_id"), col("n_tokens"), col("n_oov"),
        col("detok_text"),
        (col("detok_text") === col("expected_text")).as("round_trip"))
      .orderBy(col("doc_id"))
  }

  /** T5-style span corruption — the denoising-objective example builder:
    * length-2 word spans are replaced by `<extra_id_k>` sentinels in the
    * input and emitted (sentinel-prefixed) as the target sequence. Spans
    * start at every position ≡ doc_id (mod 7) — a DETERMINISTIC phase
    * per document instead of the usual RNG, so the realized corruption
    * hash-verifies cross-engine while keeping the real T5 plumbing
    * (non-overlapping spans, ordinal sentinels, input/target split).
    * With period 7 and span 2, spans can never overlap and the sentinel
    * ordinal is pure arithmetic: k = (p − r) / 7.
    *
    * Everything is ONE codegen'd per-row projection over the split
    * array — no explode, no shuffle, no UDF: at 100 TB this is a pure
    * scan→map stage whose output partitioning is inherited, exactly what
    * a corruption pass fused into tokenization should be.
    */
  def spanCorruption(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id"), split(lower(col("text")), " ").as("ws"))
      .withColumn("n", size(col("ws")))
      .withColumn("r", (col("doc_id") % 7).cast("int"))
      .withColumn("corrupted", expr(
        """concat_ws(' ', filter(transform(sequence(0, n - 1), p ->
          |  CASE WHEN p % 7 = r
          |         THEN concat('<extra_id_', CAST((p - r) div 7 AS STRING), '>')
          |       WHEN p >= 1 AND (p - 1) % 7 = r THEN CAST(NULL AS STRING)
          |       ELSE element_at(ws, p + 1) END),
          |  x -> x IS NOT NULL))""".stripMargin))
      .withColumn("targets", expr(
        """concat_ws(' ', transform(filter(sequence(0, n - 1), p -> p % 7 = r), p ->
          |  concat('<extra_id_', CAST((p - r) div 7 AS STRING), '> ',
          |    element_at(ws, p + 1),
          |    CASE WHEN p + 1 < n THEN concat(' ', element_at(ws, p + 2))
          |         ELSE '' END)))""".stripMargin))
      .withColumn("n_masked", expr(
        "size(filter(sequence(0, n - 1), p -> p % 7 = r OR (p >= 1 AND (p - 1) % 7 = r)))")
        .cast("long"))
      .select(col("doc_id"), col("n").cast("long").as("n_tokens"),
        col("n_masked"), col("corrupted"), col("targets"))
      .orderBy(col("doc_id"))

  /** TF-IDF term ranking with a LOG-FREE rational idf (tf·N/df): ln/log10
    * are libm calls whose last ulp varies across builds, so the verified
    * score keeps idf as the exact rational N/df — one double division of
    * exact integers, bit-equal everywhere, same ranking monotonicity in
    * df. Top-3 terms per document, rank ties broken by token. Shapes: one
    * explode → two partial-aggregated groupBys (tf, df) → broadcast-able
    * df join (vocabulary-sized) → per-doc WindowGroupLimit top-k.
    */
  def tfidf(s: SparkSession, d: String): DataFrame = {
    val toks = Tables.documents(s, d)
      .select(col("doc_id"), explode(split(lower(col("text")), " ")).as("token"))
      .filter(length(col("token")) > 0)
    val tf = toks.groupBy(col("doc_id"), col("token")).agg(count(lit(1)).as("tf"))
    val df = toks.select(col("doc_id"), col("token")).distinct()
      .groupBy(col("token")).agg(count(lit(1)).as("df"))
    val n = Tables.documents(s, d).agg(count(lit(1)).as("n_docs"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("doc_id"))
      .orderBy(desc("score"), col("token"))
    tf.join(df, "token").crossJoin(broadcast(n))
      .withColumn("score", (col("tf") * col("n_docs")).cast("double") / col("df"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 3)
      .select(col("doc_id"), col("rn"), col("token"), col("tf"), col("df"),
        col("score"))
      .orderBy(col("doc_id"), col("rn"))
  }

  /** BM25 term ranking (k1 = 1.2, b = 0.75) in EXACT integer arithmetic —
    * the retrieval scorer behind keyword search over a training corpus.
    * Substituting k1 = 6/5, b = 3/4, avgdl = T/N (T = corpus tokens,
    * N = docs) and clearing denominators, the Robertson tf saturation ×
    * the rational idf (N−df+½)/(df+½) becomes a ratio of two integer
    * products:
    *
    *   score = (2N − 2df + 1) · 22·tf·T
    *           ───────────────────────────────────
    *           (2df + 1) · (10·tf·T + 3T + 9·dl·N)
    *
    * — ln-free for the same reason as [[tfidf]] (libm ulp drift), one
    * IEEE division of exact BIGINTs at the end, bit-equal in any engine.
    * Products stay under 2^63 while df·tf·T·N < 2^63 (≈ 10^9-token
    * corpora with 10^5-token docs; shard the corpus stat beyond that).
    * Same plan shape as tfidf: one explode → three partial-aggregated
    * groupBys (tf, dl, df) → vocabulary-sized broadcast joins → per-doc
    * WindowGroupLimit top-3.
    */
  def bm25(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toks = Tables.documents(s, d)
      .select(col("doc_id"), explode(split(lower(col("text")), " ")).as("token"))
      .filter(length(col("token")) > 0)
    val tf = toks.groupBy(col("doc_id"), col("token")).agg(count(lit(1)).as("tf"))
    val dl = toks.groupBy(col("doc_id")).agg(count(lit(1)).as("dl"))
    val df = toks.select(col("doc_id"), col("token")).distinct()
      .groupBy(col("token")).agg(count(lit(1)).as("df"))
    val n = Tables.documents(s, d).agg(count(lit(1)).as("n_docs"))
    val t = toks.agg(count(lit(1)).as("t_total"))
    val w = Window.partitionBy(col("doc_id")).orderBy(desc("score"), col("token"))
    tf.join(dl, "doc_id").join(df, "token")
      .crossJoin(broadcast(n)).crossJoin(broadcast(t))
      .withColumn("num",
        (lit(2L) * col("n_docs") - lit(2L) * col("df") + lit(1L))
          * lit(22L) * col("tf") * col("t_total"))
      .withColumn("den",
        (lit(2L) * col("df") + lit(1L))
          * (lit(10L) * col("tf") * col("t_total") + lit(3L) * col("t_total")
            + lit(9L) * col("dl") * col("n_docs")))
      .withColumn("score", col("num").cast("double") / col("den").cast("double"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 3)
      .select(col("doc_id"), col("rn"), col("token"), col("tf"), col("df"),
        col("dl"), col("score"))
      .orderBy(col("doc_id"), col("rn"))
  }

  /** Corpus-level trigram frequency: the boilerplate/template detector for
    * a punctuation-free corpus — recurring word trigrams play the role
    * repeated sentences play in web text. Explode is 3× token rows wide
    * but each row is one short string; partial aggregation collapses the
    * Zipf head map-side before the trigram-keyed shuffle, and the top-20
    * tail is a TakeOrderedAndProject, never a global sort. At 100 TB,
    * hash trigrams to 60-bit longs for the shuffle key and join the
    * winning strings back — same plan shape, 1/5 the shuffle bytes.
    */
  def ngramFreq(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(split(lower(col("text")), " ").as("ws"))
      .filter(size(col("ws")) >= 3)
      .select(explode(expr(
        "transform(sequence(0, size(ws) - 3), i -> concat_ws(' ', ws[i], ws[i+1], ws[i+2]))"))
        .as("trigram"))
      .groupBy(col("trigram"))
      .agg(count(lit(1)).as("freq"))
      .orderBy(desc("freq"), col("trigram"))
      .limit(20)

  /** Integer-exact unigram surprisal: rarity scoring without libm. The
    * usual -log p(w) is a libm call whose last ulp varies across builds,
    * so the verified score uses bit-length surprisal
    * `floor(log2 N) - floor(log2 count(w))` — exact integers, same
    * monotonicity, bit-equal everywhere. Two shuffles: the vocab count
    * (token-keyed, map-side combined) and the doc re-aggregation;
    * the 1-row corpus total rides in as a broadcast cross join.
    */
  def surprisal(s: SparkSession, d: String): DataFrame = {
    val toks = Tables.documents(s, d)
      .select(col("doc_id"), explode(split(lower(col("text")), " ")).as("token"))
      .filter(length(col("token")) > 0)
    val counts = toks.groupBy(col("token")).agg(count(lit(1)).as("cnt"))
    val total = toks.agg(count(lit(1)).as("n_total"))
    toks.join(counts, Seq("token"))
      .crossJoin(broadcast(total))
      .withColumn("bits", (length(bin(col("n_total"))) - length(bin(col("cnt")))).cast("long"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"),
        sum(col("bits")).as("surprisal_bits"))
      .withColumn("mean_bits",
        col("surprisal_bits").cast("double") / col("n_tokens"))
      .orderBy(col("doc_id"))
  }

  /** Keep threshold for [[lmScore]]: documents in perplexity deciles 1–7
    * (lowest mean bigram surprisal = most LM-predictable) survive; the
    * worst 30% are dropped — the CCNet head/middle-vs-tail split.
    */
  private[graft] val LM_KEEP_DECILE = 7

  /** CCNet-style count-based LM quality scoring — the model-based corpus
    * filter that sits between the Gopher heuristics and dedup in a
    * production pretraining pipeline (Wenzek et al., "CCNet: Extracting
    * High Quality Monolingual Datasets from Web Crawl Data"). A bigram
    * LM is TRAINED ON THE CORPUS ITSELF (pair counts — one token-keyed
    * shuffle with map-side combine), each document is scored by its mean
    * conditional surprisal, and documents are bucketed into perplexity
    * deciles with a keep/drop decision at [[LM_KEEP_DECILE]].
    *
    * Cross-engine exactness: -log2 P(w2|w1) = -log2(pairCnt/ctxCnt) is
    * libm; the verified score is the [[surprisal]] bit-length form
    * `floor(log2 ctxCnt) - floor(log2 pairCnt)` — exact integers, same
    * monotonicity. Context counts come from the PAIR table (sum of pair
    * counts per w1), not raw unigram counts, so each context's
    * conditional distribution sums to 1.
    *
    * Deciles WITHOUT a global single-partition window (the ntile trap):
    * per-doc scores quantize to integer milli-bits (lm_bits·1000 DIV
    * n_pairs, domain ≲ 30 000 values regardless of corpus size), the
    * decile boundary comes from a cumulative sum over that BOUNDED
    * histogram, and docs join the ≤30k-row cumulative table back by
    * broadcast. decile = ⌈10·cum/N⌉ computed in pure integer arithmetic
    * ((10·cum + N − 1) DIV N), so ties share a decile deterministically
    * and the result hash-verifies. At 100 TB: two corpus-wide shuffles
    * (pair counts, doc re-agg), one bounded histogram, zero global sorts.
    */
  /** [[lmTrain]]'s verdict frame, checkpointed WITHIN the calling query
    * (it feeds several joins there). r17 opt note: this was a
    * module-level (session, dir)-keyed memo shared ACROSS queries, which
    * made every timed run after the first reuse a result computed during
    * warmup — a cross-run result cache, exactly what the optimization
    * contract forbids. Each query now trains the LM from the parquet
    * inputs on every invocation; at 100 TB the cross-QUERY sharing is a
    * verdict table written once and read downstream, which is a
    * different (durable, auditable) mechanism than a process-local memo.
    */
  private def lmScored(s: SparkSession, d: String): DataFrame =
    lmScoredOf(Tables.spread(Tables.documents(s, d)))

  /** [[lmScored]] over an explicit documents frame — the shared-scan
    * entry (r18 opt): ensemble/funnel callers pass their already-
    * materialized corpus frame, so the LM train leg adds no second
    * FileScan of documents to those queries' plans.
    */
  private def lmScoredOf(docs: DataFrame): DataFrame =
    // no outer checkpoint (r18): the heavy per-doc score frame is already
    // checkpointed INSIDE lmTrainOf, every registered consumer reads this
    // verdict exactly once, and the decile tail above the checkpoint is
    // bounded-histogram work — a second doc-grain materialization here
    // was pure tax.
    lmTrainOf(docs)
      .select(col("doc_id"), col("n_pairs"), col("lm_bits"),
        col("decile"), col("keep"))

  private def lmTrainOf(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toks = docs // bigram explode is CPU-bound; callers pass a spread frame
      .select(col("doc_id"),
        expr("filter(split(lower(text), ' '), w -> length(w) > 0)").as("ws"))
      .filter(size(col("ws")) >= 2)
    val pairs = toks.select(col("doc_id"), explode(expr(
        "transform(sequence(0, size(ws) - 2), i -> struct(ws[i] AS w1, ws[i+1] AS w2))"))
        .as("p"))
      .select(col("doc_id"), col("p.w1").as("w1"), col("p.w2").as("w2"))
    // r18 opt: pre-aggregate to per-doc pair MULTIPLICITIES (doc, w1, w2,
    // k) before any join. The r17 shape joined every pair OCCURRENCE
    // against the count tables, which (a) re-ran the tokenize+explode
    // subtree twice (once under the count aggregate, once as the join
    // probe — alias-renamed subtrees don't hit exchange reuse) and (b)
    // pushed occurrence-grain rows through three exchanges. Here the
    // explode has exactly one consumer, map-side combine shrinks the
    // first shuffle to distinct (doc, pair) rows, and the count/context
    // joins run on pair TYPES. n_pairs = Σk and lm_bits = Σ k·bits are
    // the same integers as the per-occurrence form (k·bits ≤ 64·doc_len,
    // no overflow), so the verified result is bit-identical.
    val docPair = pairs.groupBy(col("doc_id"), col("w1"), col("w2"))
      .agg(count(lit(1)).as("k"))
    val pairCnt = docPair.groupBy(col("w1"), col("w2")).agg(sum(col("k")).as("pc"))
    val ctxCnt = pairCnt.groupBy(col("w1")).agg(sum(col("pc")).as("cc"))
    val pairBits = pairCnt.join(ctxCnt, Seq("w1"))
      .withColumn("bits",
        (length(bin(col("cc"))) - length(bin(col("pc")))).cast("long"))
      .select(col("w1"), col("w2"), col("bits"))
    // r18 opt: checkpoint the per-doc score frame — it feeds the decile
    // histogram AND the final decile join, and the two consumers project
    // different columns, so their subtrees are not identical and exchange
    // reuse does NOT carry them: without the barrier the whole pair
    // pipeline re-executed once per consumer (the r17 probe measured
    // tx_lm_score at ~2× the pipeline's one-pass cost). The frame is
    // doc-grain and skinny (4 integers/doc) — the per-doc score table a
    // production CCNet run persists anyway.
    val scored = docPair
      .join(pairBits, Seq("w1", "w2"))
      .groupBy(col("doc_id"))
      .agg(sum(col("k")).as("n_pairs"),
        sum(col("k") * col("bits")).as("lm_bits"))
      .withColumn("milli_bits", expr("lm_bits * 1000 DIV n_pairs"))
      .localCheckpoint()
    val hist = scored.groupBy(col("milli_bits")).agg(count(lit(1)).as("h"))
    val cum = hist // bounded-domain histogram: window input ≤ ~30k rows
      .withColumn("cum", sum(col("h")).over(Window.orderBy(col("milli_bits"))))
      .select(col("milli_bits"), col("cum"))
    // n_docs = Σh = the histogram's max running count — read it off the
    // bounded cum frame instead of a third full pass over `scored`
    // (identical integer: every scored doc lands in exactly one bin).
    val tot = cum.agg(max(col("cum")).as("n_docs"))
    scored.join(broadcast(cum), Seq("milli_bits"))
      .crossJoin(broadcast(tot))
      .withColumn("decile",
        expr("CAST((10 * cum + n_docs - 1) DIV n_docs AS INT)"))
      .withColumn("keep", col("decile") <= LM_KEEP_DECILE)
  }

  /** Declared form of [[lmScored]] for the verification registry. */
  def lmScore(s: SparkSession, d: String): DataFrame =
    lmScored(s, d)
      .select(col("doc_id"), col("n_pairs"), col("lm_bits"),
        (col("lm_bits").cast("double") / col("n_pairs")).as("mean_bits"),
        col("decile"), col("keep"))
      .orderBy(col("doc_id"))

  /** Gopher-style quality rule report: each rule as its own boolean column
    * (word-count bounds, mean word length, symbol ratio, alphabetic-word
    * ratio, stopword floor) plus the conjunction — the per-rule
    * transparency the funnel aggregates away. Single scan, all codegen.
    */
  def gopherRules(s: SparkSession, d: String): DataFrame =
    // spread: two regexp passes + per-word rlike filters per row
    gopherRulesOf(Tables.spread(Tables.documents(s, d)))

  /** [[gopherRules]] over an explicit documents frame — the shared-scan
    * entry for [[qualityEnsemble]] (one corpus materialization feeds all
    * of its signal legs).
    */
  private def gopherRulesOf(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), col("text"), split(lower(col("text")), " ").as("ws"))
      .withColumn("n_words", size(col("ws")).cast("long"))
      .withColumn("mean_word_len",
        length(regexp_replace(col("text"), " ", "")).cast("double") / col("n_words"))
      .withColumn("sym_ratio",
        regexp_count(col("text"), lit("[^a-zA-Z0-9 ]")).cast("double")
          / length(col("text")))
      .withColumn("alpha_ratio",
        expr("size(filter(ws, w -> w rlike '[a-z]'))").cast("double") / col("n_words"))
      .withColumn("n_stop",
        expr(s"size(filter(ws, w -> w IN ${inList(stop("en"))}))").cast("long"))
      .withColumn("r_wordcount", col("n_words") >= 20 && col("n_words") <= 500)
      .withColumn("r_wordlen", col("mean_word_len") >= 3.0 && col("mean_word_len") <= 10.0)
      .withColumn("r_symbol", col("sym_ratio") <= 0.1)
      .withColumn("r_alpha", col("alpha_ratio") >= 0.8)
      .withColumn("r_stop", col("n_stop") >= 2L)
      .withColumn("gopher_ok",
        col("r_wordcount") && col("r_wordlen") && col("r_symbol")
          && col("r_alpha") && col("r_stop"))
      .select(col("doc_id"), col("n_words"), col("mean_word_len"), col("sym_ratio"),
        col("alpha_ratio"), col("n_stop"), col("r_wordcount"), col("r_wordlen"),
        col("r_symbol"), col("r_alpha"), col("r_stop"), col("gopher_ok"))
      .orderBy(col("doc_id"))

  /** QUALITY-SCORE ENSEMBLE WITH PER-RULE ABLATION — the composed
    * verdict a real curation stack publishes from its independent quality
    * signals, plus the governance table that justifies each gate. Three
    * signals the corpus already carries, each with its own failure mode:
    *
    *  - `gopher` — the [[gopherRules]] heuristic conjunction (surface
    *    statistics: word counts, symbol ratio, stopword floor);
    *  - `lm` — the [[lmScore]] trained-bigram-LM perplexity keep (read
    *    from the per-session score store, NOT retrained — the
    *    localCheckpointed `lmScored` pattern);
    *  - `nb` — Naive-Bayes language agreement (the [[graft.ops.StatOps
    *    x_naive_bayes]] estimator, trained on the doc_id % 5 ≠ 0 split,
    *    scoring EVERY doc over a bounded 50-token prefix — the prefix is
    *    how production language-ID bounds its cost per document).
    *
    * Verdict = fixed linear combination 2·gopher + 2·lm + 1·nb ≥ 3, so
    * the two content gates dominate and the language gate breaks their
    * disagreement. The ablation section reports, per rule, the docs it
    * rejects and the docs it UNIQUELY rejects (fails this rule, passes
    * both others) — the number that tells a curation review which gate
    * is actually earning its false-negative budget.
    *
    * At 100 TB: gopher is one codegen scan; the LM score is a persisted
    * table read; NB adds one token-grain count (training) and a
    * prefix-bounded score join; the verdict join is doc-keyed; both
    * report sections aggregate the same checkpointed verdict frame.
    */
  def qualityEnsemble(s: SparkSession, d: String): DataFrame = {
    import graft.ext.FixLog.lgS
    // r18 opt: ONE shared spread corpus frame feeds every signal leg
    // (gopher rules, LM train, NB train, NB prefix scoring, verdict
    // base). NOT materialized: a localCheckpoint here measured +0.8 s
    // matched A/B (the corpus re-scan is cheaper than writing the text
    // column to local disk — and at 100 TB a checkpoint of raw corpus
    // bytes is a full extra copy, while parquet re-scans are columnar
    // and pushdown-pruned per leg).
    val docs = Tables.spread(Tables.documents(s, d))
      .select(col("doc_id"), col("lang"), col("text"))
    val gop = gopherRulesOf(docs).select(col("doc_id"), col("gopher_ok"))
    val lm = lmScoredOf(docs).select(col("doc_id"), col("keep").as("lm_keep"))
    // NB language-agreement signal (the x_naive_bayes estimator verbatim,
    // scored over a 50-token prefix of EVERY doc instead of the held-out
    // fifth's full text)
    val train = docs.filter(col("doc_id") % 5 =!= 0)
    val trainTok = train
      .select(col("lang"), explode(split(col("text"), " ")).as("w"))
      .filter(col("w") =!= "")
    // r18 opt (the x_naive_bayes restructure, kept verbatim): checkpoint
    // the (lang, word-type) count table and derive toks = Σcw,
    // v = |distinct w|, n = Σnd from it / the |langs|-row doc count —
    // identical integers, corpus passes for NB training drop 5 → 2.
    val counts = trainTok.groupBy(col("lang").as("lang_cand"), col("w"))
      .agg(count(lit(1)).as("cw"))
      .localCheckpoint()
    val langNd = train.groupBy(col("lang").as("lang_cand"))
      .agg(count(lit(1)).as("nd"))
      .localCheckpoint()
    val cand = counts.groupBy(col("lang_cand")).agg(sum(col("cw")).as("toks"))
      .join(langNd, "lang_cand")
      .crossJoin(broadcast(counts.select(col("w")).distinct()
        .agg(count(lit(1)).as("v"))))
      .crossJoin(broadcast(langNd.agg(sum(col("nd")).as("n"))))
    val prefTok = docs.select(col("doc_id"), col("lang").as("lang_true"),
      explode(expr("slice(filter(split(text, ' '), w -> w <> ''), 1, 50)"))
        .as("w"))
    // The 16-step FixLog fold runs once per (word TYPE, lang) on the
    // count table and once per lang on the 5-row candidate frame — never
    // per scored token (the r16 bench showed the per-token form costing
    // 8.5 s; unseen (w, lang) pairs contribute lg(0+1) = 0 exactly, so
    // the sparse sum plus a zero-fill is the identical integer).
    val termVec = counts.withColumn("term", expr(lgS("cw + 1")))
      .select(col("lang_cand"), col("w"), col("term"))
    val candLg = cand
      .withColumn("lg_nd", expr(lgS("nd")))
      .withColumn("lg_n", expr(lgS("n")))
      .withColumn("lg_tv", expr(lgS("toks + v")))
      .select(col("lang_cand"), col("lg_nd"), col("lg_n"), col("lg_tv"))
    // r18 opt: m (prefix token count) is size() of the same sliced array
    // prefTok explodes — a doc-grain projection, not an aggregation.
    // The grouped form re-derived prefTok (second corpus scan + explode +
    // shuffle; the two consumers project differently so exchange reuse
    // never carried them). Docs with ZERO tokens are absent from the
    // grouped form (explode emits no rows) — the m >= 1 filter keeps the
    // row set identical.
    val docM = docs.select(col("doc_id"), col("lang").as("lang_true"),
        expr("size(slice(filter(split(text, ' '), w -> w <> ''), 1, 50))")
          .cast("long").as("m"))
      .filter(col("m") >= 1L)
    val sparse = prefTok.join(termVec, Seq("w"))
      .groupBy(col("doc_id"), col("lang_cand"))
      .agg(sum(col("term")).as("sumlg"))
    val nb = docM.crossJoin(broadcast(candLg))
      .join(sparse, Seq("doc_id", "lang_cand"), "left")
      .withColumn("score", expr(
        "lg_nd - lg_n - m * lg_tv + coalesce(sumlg, CAST(0 AS BIGINT))"))
      .withColumn("rk", row_number().over(Window.partitionBy(col("doc_id"))
        .orderBy(col("score").desc, col("lang_cand"))))
      .filter(col("rk") === 1)
      .select(col("doc_id"), (col("lang_cand") === col("lang_true")).as("nb_ok"))
    // verdict frame: checkpointed once, read by both report sections.
    // gop IS the doc-id base: gopherRulesOf emits exactly one row per
    // input doc (no filters), so the former docs.select(doc_id) ⋈ gop
    // inner join was an identity that cost one more corpus pass (the
    // doc_id column through the spread exchange) plus a doc-keyed join
    // inside this checkpoint — at 100 TB a full wasted scan of the table.
    val joined = gop
      .join(lm, Seq("doc_id"), "left")
      .join(nb, Seq("doc_id"), "left")
      .withColumn("lm_keep", coalesce(col("lm_keep"), lit(false)))
      .withColumn("nb_ok", coalesce(col("nb_ok"), lit(false)))
      .withColumn("pass", expr(
        """2 * CAST(gopher_ok AS INT) + 2 * CAST(lm_keep AS INT)
          |  + CAST(nb_ok AS INT) >= 3""".stripMargin))
      .localCheckpoint()
    val verdict = joined.groupBy(col("pass"))
      .agg(count(lit(1)).as("n_docs"))
      .select(lit("0_verdict").as("section"),
        when(col("pass"), lit("pass")).otherwise(lit("fail")).as("k"),
        col("n_docs"), lit(0L).as("n_unique"))
    val abl = joined
      .select(explode(expr(
        """array(
          |  named_struct('rule', 'gopher', 'rej', NOT gopher_ok,
          |    'uniq', NOT gopher_ok AND lm_keep AND nb_ok),
          |  named_struct('rule', 'lm', 'rej', NOT lm_keep,
          |    'uniq', NOT lm_keep AND gopher_ok AND nb_ok),
          |  named_struct('rule', 'nb', 'rej', NOT nb_ok,
          |    'uniq', NOT nb_ok AND gopher_ok AND lm_keep))""".stripMargin))
        .as("r"))
      .groupBy(col("r.rule").as("k"))
      .agg(sum(when(col("r.rej"), 1L).otherwise(0L)).as("n_docs"),
        sum(when(col("r.uniq"), 1L).otherwise(0L)).as("n_unique"))
      .select(lit("1_ablation").as("section"), col("k"), col("n_docs"),
        col("n_unique"))
    verdict.unionByName(abl).orderBy(col("section"), col("k"))
  }

  /** Per-source quota capping (the CommonCrawl per-domain cap): keep at
    * most 150 docs per source, chosen by deterministic hash rank so the
    * sample is stable across runs and partitionings. One window over the
    * source-partitioned shuffle; WindowGroupLimit pushes the rank<=150
    * cut below the exchange, so only winners shuffle at scale.
    */
  def sourceCap(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .withColumn("rk", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("source"))
          .orderBy(expr(sparkHash("CAST(doc_id AS STRING)")), col("doc_id")))
        .cast("long"))
      .filter(col("rk") <= 150)
      .select(col("source"), col("rk"), col("doc_id"))
      .orderBy(col("source"), col("rk"))

  /** Deterministic round-robin source interleaving — the training-order
    * step after per-source capping: docs get a hash rank WITHIN their
    * source, and the global position is the CLOSED FORM
    * `(rk−1)·n_sources + src_idx` — no global window, no single-partition
    * sort, so the ordering scales to any corpus (the alternative global
    * row_number is exactly the anti-pattern this avoids). Source index
    * comes from a dim-sized broadcast built once; output is a balanced
    * A,B,C,A,B,C… schedule any trainer can range-claim.
    */
  def interleave(s: SparkSession, d: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
    val srcs = Tables.documents(s, d).select(col("source")).distinct()
      .withColumn("src_idx",
        row_number().over(w.orderBy(col("source"))).cast("long"))
    val nSrc = srcs.agg(count(lit(1)).as("n_src"))
    Tables.documents(s, d)
      .withColumn("rk", row_number().over(
        w.partitionBy(col("source"))
          .orderBy(expr(sparkHash("CAST(doc_id AS STRING)")), col("doc_id")))
        .cast("long"))
      .join(broadcast(srcs), Seq("source"))
      .crossJoin(broadcast(nSrc))
      .withColumn("pos", (col("rk") - 1) * col("n_src") + col("src_idx"))
      .select(col("pos"), col("source"), col("rk"), col("doc_id"))
      .orderBy(col("pos"), col("doc_id"))
  }

  /** Quality-weighted sampling: acceptance rate follows the document's
    * quality tier (stopword-density here — 90%/60%/20%), decided by the
    * deterministic doc-id hash, so the sample is reproducible across
    * runs, machines and partitionings (unlike rand()-based .sample).
    * This is pipe_corpus_mix's source-rate idea driven by CONTENT
    * quality — the up/down-weighting step of data-mix curation. Pure
    * per-row math + one tier-level aggregate.
    */
  def qualitySample(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id"), col("n_chars"),
        split(lower(col("text")), " ").as("ws"))
      .withColumn("stop_ratio",
        expr(s"size(filter(ws, w -> w IN ${inList(stop("en"))}))").cast("double")
          / size(col("ws")))
      .withColumn("tier",
        when(col("stop_ratio") >= 0.08, lit("hi"))
          .when(col("stop_ratio") >= 0.05, lit("mid"))
          .otherwise(lit("lo")))
      .withColumn("rate",
        when(col("tier") === "hi", 90).when(col("tier") === "mid", 60)
          .otherwise(20))
      .withColumn("kept",
        expr(sparkHash("CAST(doc_id AS STRING)")) % 100 < col("rate"))
      .groupBy(col("tier"), col("rate"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("kept"), 1L).otherwise(0L)).as("n_kept"),
        sum(when(col("kept"), col("n_chars")).otherwise(0L)).as("kept_chars"))
      .orderBy(col("tier"))

  /** Deterministic negative sampling for contrastive training: each
    * anchor document gets k = 2 pseudo-random negatives from a fixed
    * stride walk over the corpus arranged on a content-hash ring (order
    * by the 60-bit cross-engine hash of text, then doc_id) — negative j
    * sits at ring position (pos + j·⌊N/3⌋) mod N, never the anchor for
    * j ∈ {1,2} when N ≥ 3. Deterministic ⇒ resumable, auditable, and
    * identical on any partitioning, unlike rand() pairing. The global
    * ring position is assigned WITHOUT a single-partition window:
    * bucket by the hash's top 4 bits, per-bucket counts → prefix
    * offsets (a 16-row broadcast frame), per-bucket row_number; position
    * = bucket offset + local rank. The oracle replays the plain global
    * window form — proving the two-pass distributed ranking exactly
    * reproduces it.
    */
  def negatives(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.documents(s, d)
      .select(col("doc_id"), expr(sparkHash("text")).as("h"))
      .withColumn("bucket", shiftright(col("h"), 56))
    val offs = docs.groupBy(col("bucket")).agg(count(lit(1)).as("cnt"))
      .withColumn("off", coalesce(sum(col("cnt")).over(
        Window.orderBy(col("bucket"))
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("bucket"), col("off"))
    val total = Tables.documents(s, d).agg(count(lit(1)).as("n"))
    val ranked = docs
      .withColumn("lr", row_number().over(
        Window.partitionBy(col("bucket")).orderBy(col("h"), col("doc_id"))) - 1)
      .join(broadcast(offs), "bucket")
      .select(col("doc_id"), (col("off") + col("lr")).as("pos"))
    ranked.crossJoin(broadcast(total))
      .select(col("doc_id").as("anchor_id"), col("pos"), col("n"))
      .withColumn("j", explode(array(lit(1), lit(2))))
      .withColumn("np", (col("pos") + col("j") * expr("n DIV 3")) % col("n"))
      .join(ranked.select(col("pos").as("np"), col("doc_id").as("neg_id")), "np")
      .select(col("anchor_id"), col("j"), col("neg_id"))
      .orderBy(col("anchor_id"), col("j"))
  }

  /** Unicode NFC normalization — the canonical first step of every text
    * ingestion pipeline: combining sequences (e + U+0301) collapse to
    * their precomposed forms (é) so that visually identical strings
    * compare, hash, and dedup identically. The fixture appends
    * deliberately DECOMPOSED sequences to each doc (Spark string
    * literals carry the combining marks; the oracle builds the same
    * bytes with chr() — Spark's own chr() is ASCII-only); normalization
    * runs through `java.text.Normalizer` behind a Scala UDF, and DuckDB
    * replays it with its native nfc_normalize() — two independent
    * implementations of UAX #15 agreeing byte-for-byte IS the
    * verification. Both engines count string length in code points, so
    * the length delta (2 per collapsed pair) verifies too.
    *
    * At 100 TB: normalization is a pure per-row map (no shuffle); the
    * UDF breaks whole-stage codegen on this one projection, which is the
    * documented cost — the upgrade path is a codegen Expression wrapping
    * the same Normalizer call ([[graft.expr.MinHashExpr]]'s pattern).
    */
  def nfcNormalize(s: SparkSession, d: String): DataFrame = {
    val nfc = udf((t: String) =>
      java.text.Normalizer.normalize(t, java.text.Normalizer.Form.NFC))
    Tables.documents(s, d)
      .select(col("doc_id"),
        concat(substring(col("text"), 1, 40),
          lit(" cafe\u0301 nin\u0303o")).as("raw"))
      .select(col("doc_id"), length(col("raw")).as("len_raw"),
        nfc(col("raw")).as("n"))
      .select(col("doc_id"), col("len_raw"), length(col("n")).as("len_nfc"),
        (col("len_raw") - length(col("n"))).as("collapsed"),
        expr("right(n, 12)").as("nfc_tail"))
      .orderBy(col("doc_id"))
  }

  /** Per-document CHARACTER-LEVEL SHANNON ENTROPY in bits — the
    * random-bytes / encrypted-blob / base64-spew filter every corpus
    * cleaner runs (natural language sits ~3.5–4.5 bits/char; machine
    * noise pushes toward lg(alphabet)): H is hash-verified EXACTLY via
    * the shared fixed-point log2 ([[FixLog]]) — the primitive the
    * unigram tokenizer introduced — with the metric DEFINED as
    * h_fp = lg(n) − (Σ cᵢ·lg(cᵢ)) div n over truncated 2^16 fixed-point
    * logs, so both engines compute the same integer and the single
    * int64→float64 division to bits is exemption-safe. (ln-based
    * entropy could never hash-verify; this is the same move that opened
    * Hellinger to the correctly-rounded-float family.)
    *
    * At 100 TB: one explode to (doc, char) grain with map-side combine,
    * one doc-grain fold — no window, no shuffle beyond the two
    * aggregations; the log runs inside codegen on the (doc, char) grain
    * whose cardinality is ≤ alphabet × docs.
    */
  def charEntropy(s: SparkSession, d: String): DataFrame =
    charEntropyOf(Tables.documents(s, d))

  /** [[charEntropy]] over any (doc_id, text) frame — factored so the
    * spec can pin the exact closed forms (uniform 16-char alphabet ⇒
    * exactly 4.0 bits, single-char ⇒ 0.0).
    */
  def charEntropyOf(docs: DataFrame): DataFrame = {
    // r18 opt (guide §2.4 — share one exchange): hash(doc_id) clusters
    // every (doc_id, ch) group AND every doc_id group, so ONE doc-keyed
    // repartition of the doc-grain rows (replacing the round-robin
    // spread) lets BOTH aggregations run exchange-free — the exploded
    // per-char rows (the wide grain) never shuffle at all. The r17 shape
    // paid spread + a (doc, ch)-keyed exchange of the char-count rows +
    // a doc-keyed exchange. Explicit-N user repartition also keeps the
    // CPU-heavy explode stage at ≥ cores tasks under AQE.
    val par = docs.sparkSession.sparkContext.defaultParallelism
    val chars = docs.repartition(par, col("doc_id"))
      .select(col("doc_id"), explode(split(col("text"), "")).as("ch"))
      .filter(length(col("ch")) === 1)
      .groupBy(col("doc_id"), col("ch")).agg(count(lit(1)).as("c"))
    chars.groupBy(col("doc_id"))
      .agg(sum(col("c")).as("n_chars"), count(lit(1)).as("n_distinct"),
        sum(expr(s"c * ${FixLog.lgS("c")}")).as("slg"))
      .select(col("doc_id"), col("n_chars"), col("n_distinct"),
        expr(s"${FixLog.lgS("n_chars")} - (slg div n_chars)").as("h_fp"))
      .withColumn("h_bits", col("h_fp").cast("double") / lit(65536.0))
      .orderBy(col("doc_id"))
  }

  /** MOJIBAKE (encoding-damage) detection — the UTF-8-read-as-Latin-1
    * double-encoding scan (ftfy's core heuristic) a web corpus needs
    * before any text metric is trustworthy: damaged text carries
    * signature digraphs ("Ã©" for é, "â€™" for ’, "Â " before NBSP)
    * that are individually rare in clean prose. The fixture seeds
    * deterministic damage (doc_id-keyed, mirroring the NFC fixture's
    * approach) so both the hit and the clean path are verified; both
    * engines count non-overlapping matches of the IDENTICAL literal
    * alternation left-to-right, so the count is dialect-safe (no regex
    * metacharacters). At 100 TB this is a pure per-row scan inside
    * codegen — no shuffle at all; the trailing doc_id sort is the
    * verify-gate tail.
    */
  /** Signature digraphs of Latin-1 mis-decoded UTF-8 (\u00E9 \u00E8 \u00FC \u2019 \u201C NBSP)
    * and the two seeded damage fragments \u2014 shared verbatim with the
    * oracle so the count replays exactly. Literal alternation only: no
    * regex metacharacters, so Java regex and RE2 agree.
    */
  private val mojiPat = "\u00C3\u00A9|\u00C3\u00A8|\u00C3\u00BC|" +
    "\u00E2\u0080\u0099|\u00E2\u0080\u009C|\u00C2\u00A0"
  private val mojiCafe = " caf\u00C3\u00A9"    // "caf\u00E9" mis-decoded
  private val mojiQuote = " it\u00E2\u0080\u0099s" // "it's" mis-decoded

  def mojibake(s: SparkSession, d: String): DataFrame = {
    Tables.documents(s, d)
      .select(col("doc_id"),
        concat(col("text"),
          when(col("doc_id") % 3 === 0, lit(mojiCafe)).otherwise(lit("")),
          when(col("doc_id") % 5 === 0, lit(mojiQuote)).otherwise(lit("")))
          .as("raw"))
      .select(col("doc_id"), length(col("raw")).as("n_chars"),
        size(expr(s"regexp_extract_all(raw, '$mojiPat', 0)")).cast("long")
          .as("n_moji"))
      .withColumn("clean", col("n_moji") === 0L)
      .orderBy(col("doc_id"))
  }

  /** CODE-VS-PROSE DETECTION — the curation router that decides whether
    * a document joins the code or natural-language mix (mis-routing
    * either way measurably hurts both domains): two cheap, exact
    * signals — density of code punctuation ({}();=<>) in ppm and
    * keyword hits on word boundaries (def/return/class/import/...) —
    * with fixed thresholds, the Gopher-rules shape. The fixture seeds a
    * deterministic code fragment into every 11th doc so both router
    * outcomes are verified. `\\b` is identical in Java regex and RE2;
    * the symbol class carries no dialect-sensitive metacharacters.
    *
    * At 100 TB: two regex scans per row inside codegen, no shuffle.
    */
  def codeDetect(s: SparkSession, d: String): DataFrame = {
    val codeFrag = " def f(x): { return x * 2; } import os; const y = 3;"
    Tables.documents(s, d)
      .select(col("doc_id"),
        concat(col("text"),
          when(col("doc_id") % 11 === 0, lit(codeFrag)).otherwise(lit("")))
          .as("raw"))
      .select(col("doc_id"), length(col("raw")).as("n_chars"),
        size(expr("regexp_extract_all(raw, '[{}();=<>]', 0)")).cast("long")
          .as("n_sym"),
        size(expr(
          "regexp_extract_all(raw, " +
            "'\\\\b(def|return|class|import|function|var|const)\\\\b', 0)"))
          .cast("long").as("kw_hits"))
      .withColumn("sym_ppm",
        expr("(n_sym * 1000000) div CAST(n_chars AS BIGINT)"))
      .withColumn("looks_code",
        col("sym_ppm") > 20000L || col("kw_hits") >= 2L)
      .orderBy(col("doc_id"))
  }

  /** BATCH-PADDING WASTE AUDIT — the GPU-efficiency ledger behind every
    * batching decision a trainer makes: padding to a fixed max length
    * burns FLOPs on pad tokens (and silently TRUNCATES long docs),
    * power-of-two bucketing bounds waste at <50% with stable kernel
    * shapes, and length-sorted batching (the production default) packs
    * near-equal lengths so each batch pads only to its own max. All
    * three strategies are priced on the same corpus in exact integers —
    * real vs padded token counts, waste ppm, tokens lost to truncation —
    * so the batching choice becomes a verified number, not folklore.
    *
    * Scale note: the sorted strategy's global rank window is the honest
    * cost of the strategy ITSELF (production sorts within shards via
    * range partitioning — waste is then per-shard identical); the other
    * two are pure map-side folds.
    */
  def paddingWaste(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.documents(s, d)
      .select(col("doc_id"), expr(
        "CAST(size(filter(split(text, ' '), w -> length(w) > 0)) AS BIGINT)")
        .as("n"))
      .filter(col("n") >= 1)
    def shape(strategy: String, df: DataFrame): DataFrame =
      df.select(lit(strategy).as("strategy"), col("n_docs"),
        col("real_tokens"), col("padded_tokens"), col("truncated_tokens"))
        .withColumn("waste_ppm", expr(
          "((padded_tokens - real_tokens) * 1000000) div padded_tokens"))
    val maxL = 128L
    val a = shape("pad_to_max128", docs.agg(count(lit(1)).as("n_docs"),
      sum(expr(s"least(n, $maxL)")).as("real_tokens"),
      sum(lit(maxL)).as("padded_tokens"),
      sum(expr(s"greatest(n - $maxL, 0L)")).as("truncated_tokens")))
    val b = shape("pad_pow2_bucket", docs
      .withColumn("p", expr("CASE WHEN n <= 1 THEN CAST(1 AS BIGINT) " +
        "ELSE shiftleft(CAST(1 AS BIGINT), length(bin(n - 1))) END"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n")).as("real_tokens"),
        sum(col("p")).as("padded_tokens"), lit(0L).as("truncated_tokens")))
    val c = shape("sorted_batch32", docs
      .withColumn("rn",
        row_number().over(Window.orderBy(col("n"), col("doc_id"))))
      .withColumn("bmax",
        max(col("n")).over(Window.partitionBy(expr("(rn - 1) div 32"))))
      .agg(count(lit(1)).as("n_docs"), sum(col("n")).as("real_tokens"),
        sum(col("bmax")).as("padded_tokens"), lit(0L).as("truncated_tokens")))
    a.unionByName(b).unionByName(c).orderBy(col("strategy"))
  }

  /** MULTI-PATTERN BLOCKLIST MATCHING BY JOIN — the content-policy scan
    * (banned terms, toxicity lists, compliance lexicons) done the way
    * that survives a 100k-entry list: tokenize once and JOIN the token
    * stream against the broadcast blocklist, instead of compiling the
    * list into one mega-regex alternation (O(len·patterns) per row,
    * and most regex engines refuse the pattern long before 100k
    * branches). The blocklist here is derived deterministically from
    * the corpus vocabulary (60-bit md5 ≡ 0 mod 5, length ≥ 2 — a
    * pseudo-lexicon of ~vocab/5 terms on this synthetic corpus) so the oracle can rebuild it;
    * a real deployment swaps in its curated list, same plan.
    *
    * Report: per banned term its document reach and raw hit count, with
    * the corpus-wide flagged-document total attached — the numbers a
    * policy dashboard tracks per release.
    *
    * At 100 TB: ONE tokenize pass (the same scan every tx_ op shares),
    * a broadcast hash join against the KB-scale list (no shuffle of the
    * token stream for membership), then a map-side-combinable rollup at
    * matched-term grain — matches only, never the full stream — plus
    * one distinct-doc count over matched (doc, term) pairs.
    */
  /** The operator's matching core (pre-materialization) — split out so
    * PlanSpec can pin the broadcast membership join, which the
    * localCheckpoint below would otherwise hide from the final plan.
    */
  private[graft] def blocklistMatched(s: SparkSession, d: String): DataFrame = {
    val toks = Tables.documents(s, d)
      .select(col("doc_id"),
        explode(split(lower(col("text")), " ")).as("token"))
      .filter(length(col("token")) > 0)
    val block = toks.select(col("token")).distinct()
      .filter(expr(s"${Hashing.sparkHash("token")} % 5 = 0") &&
        length(col("token")) >= 2)
    toks.join(broadcast(block), Seq("token"))
  }

  def blocklistJoin(s: SparkSession, d: String): DataFrame = {
    val matched = blocklistMatched(s, d)
      .localCheckpoint() // read by the per-term rollup AND the doc total
    val flagged = matched.agg(
      countDistinct(col("doc_id")).as("n_flagged_docs"))
    matched.groupBy(col("token"))
      .agg(countDistinct(col("doc_id")).as("n_docs"),
        count(lit(1)).as("n_hits"))
      .crossJoin(broadcast(flagged)) // 1-row corpus total
      .select(col("token"), col("n_docs"), col("n_hits"),
        col("n_flagged_docs"))
      .orderBy(desc("n_hits"), col("token"))
  }

  /** ROUGE-L — the summarization/eval metric family's LCS member (Lin
    * 2004): longest common SUBSEQUENCE between candidate and reference
    * token streams, reported as precision/recall/F against the two
    * lengths (F = 2·LCS/(na+nb) exactly, since β=1 cancels the
    * harmonic denominators). Paired here over adjacent documents
    * (candidate i vs reference i+1, first 25 tokens each) — a
    * production eval joins model outputs to references by example id,
    * same plan. The LCS recurrence is the DTW discipline
    * ([[graft.ops.StatOps.dtw]]) pointed at text: a row-major integer
    * DP over a bounded ≤25×25 grid as ONE nested fold per pair, no row
    * explosion; the DuckDB oracle walks the identical cell trajectory
    * in a recursive CTE (all pairs advance in lockstep, one row each).
    *
    * At 100 TB: pairs are keyed joins; each pair costs ≤625 integer
    * ops inside its row projection — eval over millions of
    * (candidate, reference) pairs is one scan, no shuffle beyond the
    * pairing join.
    */
  def rougeL(s: SparkSession, d: String): DataFrame = {
    // spread: the ≤625-cell LCS fold per pair is an interpreted HOF —
    // 2.11 s on the 1-partition scan, 0.58 s across cores (r17 opt)
    val docs = Tables.spread(Tables.documents(s, d))
      .select(col("doc_id"), expr(
        "slice(filter(split(lower(text), ' '), x -> x <> ''), 1, 25)")
        .as("toks"))
      .filter(size(col("toks")) >= 2)
    val pairs = docs.filter(col("doc_id") % 7 === 0)
      .select(col("doc_id").as("doc_a"), col("toks").as("a"))
      .join(docs.select((col("doc_id") - 1).as("doc_a"),
        col("doc_id").as("doc_b"), col("toks").as("b")), Seq("doc_a"))
    // LCS row 1: running max of "a₁ seen among b₁..j"
    val r0 =
      """aggregate(sequence(2, CAST(size(b) AS INT)),
        |  array(IF(element_at(a, 1) = element_at(b, 1), 1L, 0L)),
        |  (acc, j) -> concat(acc, array(greatest(
        |    element_at(acc, j - 1),
        |    IF(element_at(a, 1) = element_at(b, j), 1L, 0L)))))""".stripMargin
    val dp =
      s"""aggregate(sequence(2, CAST(size(a) AS INT)), $r0,
         |  (prev, i) -> aggregate(sequence(2, CAST(size(b) AS INT)),
         |    array(IF(element_at(a, i) = element_at(b, 1), 1L,
         |             element_at(prev, 1))),
         |    (cur, j) -> concat(cur, array(
         |      IF(element_at(a, i) = element_at(b, j),
         |         element_at(prev, j - 1) + 1,
         |         greatest(element_at(prev, j), element_at(cur, j - 1)))))))""".stripMargin
    pairs
      .withColumn("na", expr("CAST(size(a) AS BIGINT)"))
      .withColumn("nb", expr("CAST(size(b) AS BIGINT)"))
      .withColumn("lcs", expr(s"element_at($dp, CAST(size(b) AS INT))"))
      .select(col("doc_a"), col("doc_b"), col("na"), col("nb"), col("lcs"),
        expr("(lcs * 1000000) DIV nb").as("recall_ppm"),
        expr("(lcs * 1000000) DIV na").as("precision_ppm"),
        expr("(2 * lcs * 1000000) DIV (na + nb)").as("f_ppm"))
      .orderBy(col("doc_a"))
  }

  /** BLEU COMPONENT COUNTS (Papineni 2002) — the other half of the
    * generation-eval pair beside [[rougeL]]: per (candidate, reference)
    * pair, the CLIPPED n-gram matches for orders 1..4 (each candidate
    * gram credits at most its reference count — the clipping that stops
    * "the the the" from scoring) plus candidate/reference lengths and
    * the brevity ratio. All EXACT integers: modified precisions ship as
    * ppm ratios and the geometric mean + exp brevity penalty are left
    * to the consumer (both need libm; the counts are the verifiable
    * substance, and corpus-BLEU sums exactly these counts before any
    * float). Same pairing as ROUGE-L.
    *
    * Clipped counting is RELATIONAL, not per-row HOFs: each side's
    * grams (orders 1..4 in one flatten) explode to rows ONCE, roll up
    * to (pair, order, gram) counts with map-side combine, and an
    * equi-join on the gram aligns candidate with reference so the clip
    * is a single `least` under a sum — Σ_g min(c_g, r_g) per order.
    * The earlier per-row form re-filtered the full gram array once per
    * DISTINCT gram per order (interpreted lambda, O(n²) string
    * compares per pair); this shape does each gram exactly one hash +
    * one join probe, all inside codegen, and scales linearly in total
    * gram volume no matter the per-doc cap.
    */
  def bleuCounts(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
      .select(col("doc_id"), expr(
        "slice(filter(split(lower(text), ' '), x -> x <> ''), 1, 25)")
        .as("toks"))
      .filter(size(col("toks")) >= 5)
    val cand = docs.filter(col("doc_id") % 7 === 0)
      .select(col("doc_id").as("doc_a"), col("toks").as("a"))
    val ref = docs
      .select((col("doc_id") - 1).as("doc_a"), col("doc_id").as("doc_b"),
        col("toks").as("b"))
      .filter(col("doc_a") % 7 === 0)
    val pairs = cand.join(ref, Seq("doc_a"))
      .select(col("doc_a"), col("doc_b"),
        expr("CAST(size(a) AS BIGINT)").as("c_len"),
        expr("CAST(size(b) AS BIGINT)").as("r_len"))
    // One explode per side: all four orders' grams as (k, g) rows.
    def gramCounts(side: DataFrame, arr: String, cnt: String): DataFrame =
      side.select(col("doc_a"), explode(expr(
        s"""flatten(transform(sequence(1, 4), k ->
           |  transform(sequence(1, CAST(size($arr) - k + 1 AS INT)),
           |    i -> named_struct('k', k,
           |      'g', concat_ws(' ', slice($arr, i, k))))))"""
          .stripMargin.linesIterator.mkString(" "))).as("e"))
        .select(col("doc_a"), col("e.k").as("k"), col("e.g").as("g"))
        .groupBy(col("doc_a"), col("k"), col("g"))
        .agg(count(lit(1)).as(cnt))
    val ms = (1 to 4).map(k =>
      sum(when(col("k") === k,
        least(col("c_cnt"), col("r_cnt")))).as(s"m$k"))
    val matched = gramCounts(cand, "a", "c_cnt")
      .join(gramCounts(ref, "b", "r_cnt"), Seq("doc_a", "k", "g"))
      .groupBy(col("doc_a"))
      .agg(ms.head, ms.tail: _*)
    var out = pairs.join(matched, Seq("doc_a"), "left")
    for (k <- 1 to 4) {
      out = out
        .withColumn(s"m$k", coalesce(col(s"m$k"), lit(0L)))
        .withColumn(s"t$k", expr(s"c_len - ${k - 1}"))
        .withColumn(s"p${k}_ppm", expr(s"(m$k * 1000000) DIV t$k"))
    }
    out.withColumn("brevity_ppm", expr("(c_len * 1000000) DIV r_len"))
      .select(col("doc_a"), col("doc_b"), col("c_len"), col("r_len"),
        col("m1"), col("m2"), col("m3"), col("m4"),
        col("p1_ppm"), col("p2_ppm"), col("p3_ppm"), col("p4_ppm"),
        col("brevity_ppm"))
      .orderBy(col("doc_a"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "tx_bleu_counts" -> bleuCounts,
    "tx_rouge_l" -> rougeL,
    "tx_blocklist_join" -> blocklistJoin,
    "pipe_padding_waste" -> paddingWaste,
    "tx_code_detect" -> codeDetect,
    "tx_char_entropy" -> charEntropy,
    "tx_mojibake" -> mojibake,
    "tx_burstiness" -> burstiness,
    "tx_heaps_curve" -> heapsCurve,
    "pipe_cu_seqlens" -> cuSeqlens,
    "tx_kn_bigram" -> knBigram,
    "tx_script_mix" -> scriptMix,
    "tx_nfc_normalize" -> nfcNormalize,
    "pipe_negatives" -> negatives,
    "pipe_quality_sample" -> qualitySample,
    "pipe_interleave" -> interleave,
    "tx_ngram_freq" -> ngramFreq,
    "tx_surprisal" -> surprisal,
    "tx_lm_score" -> lmScore,
    "tx_gopher_rules" -> gopherRules,
    "tx_quality_ensemble" -> qualityEnsemble,
    "pipe_source_cap" -> sourceCap,
    "tx_tfidf" -> tfidf,
    "tx_bm25" -> bm25,
    "pipe_tokenize_ids" -> tokenizeIds,
    "pipe_detokenize" -> detokenize,
    "pipe_span_corruption" -> spanCorruption,
    "tx_chunk_tokens" -> chunkTokens,
    "tx_chunk_dedup" -> chunkDedup,
    "pipe_split" -> trainSplit,
    "pipe_dataset_card" -> datasetCard,
    "pipe_bpe_merges" -> bpeMerges,
    "pipe_bpe_encode" -> bpeEncode,
    "pipe_loss_masking" -> lossMasking,
    "pipe_dpo_pairs" -> dpoPairs,
    "pipe_chunk_docs" -> chunkDocs,
    "tx_repetition" -> repetition,
    "tx_redact" -> redact,
    "tx_langid" -> langId,
    "tx_lang_confusion" -> langConfusion,
    "tx_collocations" -> collocations,
    "tx_boilerplate" -> boilerplate,
    "tx_quality" -> quality,
    "tx_tokens" -> tokens,
    "tx_fingerprint" -> fingerprint,
    "tx_vocab" -> vocab,
    "tx_zipf_fit" -> zipfFit,
    "tx_novelty" -> novelty,
    "tx_readability" -> readability,
    "tx_vocab_drift" -> vocabDrift,
    "tx_oov_rate" -> oovRate,
    "tx_hapax" -> hapax,
    "tx_simpson" -> simpson,
    "pipe_shard_manifest" -> shardManifest,
    "pipe_resume_offsets" -> resumeOffsets,
    "pipe_worker_balance" -> workerBalance,
    "pipe_provenance" -> provenance,
    "tx_fertility" -> fertility,
    "tx_vocab_coverage" -> vocabCoverage,
    "pipe_chat_template" -> chatTemplate,
    "pipe_seq_length_audit" -> seqLengthAudit,
    "pipe_temperature_mix" -> temperatureMix,
    "pipe_importance_resample" -> importanceResample,
    "pipe_token_budget" -> tokenBudget,
    "pipe_curriculum" -> curriculum,
    "pipe_corpus_clean" -> corpusClean,
    "pipe_e2e_pretrain" -> e2ePretrain,
    "pipe_e2e_publish" -> e2ePublish,
    "pipe_e2e_incremental" -> e2eIncremental,
    "pipe_e2e_inc_publish" -> e2eIncPublish,
    "pipe_e2e_sft" -> e2eSft,
    "tx_pii_detect" -> piiDetect,
    "pipe_filter_funnel" -> filterFunnel,
    "pipe_pack_sequences" -> packSequences,
    "pipe_pack_bestfit" -> packBestFit,
    "pipe_pack_ffd" -> packFfd,
    "tx_dup_spans" -> dupSpans,
    "tx_strip_spans" -> stripSpans,
    "tx_max_spans" -> maxSpans,
    "tx_suffix_repeats" -> suffixRepeats,
    "pipe_corpus_mix" -> corpusMix
  )

  /** DuckDB replay of one BPE training round: pair counts over the
    * current segmentations → argmax pair → batched greedy merge via the
    * same sentinel replace() the Spark side uses.
    */
  private def bpeRound(n: Int, in: String): String =
    s"""p$n AS (
       |  SELECT (u.p).l AS l, (u.p).r AS r, CAST(SUM(cnt) AS BIGINT) AS pcnt
       |  FROM (
       |    SELECT cnt, unnest([{'l': syms[i], 'r': syms[i+1]}
       |                        for i in range(1, len(syms))]) AS p
       |    FROM (SELECT cnt, list_filter(string_split(seg, chr(1)||chr(1)),
       |                                  x -> x <> '') AS syms FROM $in)) u
       |  GROUP BY 1, 2),
       |b$n AS (SELECT $n AS round, l, r, pcnt FROM p$n
       |        ORDER BY pcnt DESC, l, r LIMIT 1),
       |w$n AS (
       |  SELECT w, cnt, replace(seg, chr(1)||l||chr(1)||chr(1)||r||chr(1),
       |                              chr(1)||l||r||chr(1)) AS seg
       |  FROM $in CROSS JOIN b$n)"""

  /** The unrolled 3-round training chain (vocab → w0 → rounds 1..3) shared
    * by the pipe_bpe_merges and pipe_bpe_encode oracles; w3 carries the
    * final segmented vocab, b1..b3 the learned merges.
    */
  private def bpeTrainCtes: String = bpeTrainCtesFor("documents")

  /** [[bpeTrainCtes]] over an arbitrary source CTE — the oracle twin of
    * [[bpeTrainOf]].
    */
  private def bpeTrainCtesFor(src: String): String =
    s"""vocab AS (
       |  SELECT w, COUNT(*) AS cnt
       |  FROM (SELECT unnest(string_split(lower(text), ' ')) AS w FROM $src)
       |  WHERE len(w) > 0 AND NOT contains(w, chr(1)) GROUP BY w),
       |w0 AS (
       |  SELECT w, cnt,
       |         chr(1)||chr(1) || array_to_string(string_split(w, ''), chr(1)||chr(1))
       |           || chr(1)||chr(1) AS seg
       |  FROM vocab),
       |${bpeRound(1, "w0")},
       |${bpeRound(2, "w1")},
       |${bpeRound(3, "w2")}"""

  /** DuckDB replay of the full pretrain curation DAG. With `publish` the
    * final SELECT also carries the `3_publish` round-trip row: committed
    * manifest rows = |man| + |shards| and ZERO mismatches — the values
    * the Spark side must reproduce from the shard files read back, which
    * is what makes the oracle pass a write→commit→read proof.
    */
  private def e2ePretrainOracle(publish: Boolean): String = {
    def score(l: String) =
      s"CAST(len(list_filter(string_split(lower(text), ' '), w -> w IN ${inList(stop(l))})) AS BIGINT)"
    val publishRow =
      if (!publish) ""
      else "\n           |  UNION ALL" +
        "\n           |  SELECT '3_publish', 'roundtrip'," +
        "\n           |         CAST((SELECT COUNT(*) FROM man)" +
        " + (SELECT COUNT(*) FROM shards) AS BIGINT)," +
        "\n           |         CAST(0 AS BIGINT), CAST(0 AS BIGINT)"
    s"""WITH raw AS (SELECT doc_id, text, lang, source FROM documents),
           |q AS (
           |  SELECT doc_id, text, lang, source FROM (
           |    SELECT doc_id, text, lang, source,
           |      CAST(len(string_split(lower(text), ' ')) AS BIGINT) AS n_words,
           |      CAST(length(replace(text, ' ', '')) AS DOUBLE)
           |        / len(string_split(lower(text), ' ')) AS mwl,
           |      CAST(len(regexp_extract_all(text, '[^a-zA-Z0-9 ]')) AS DOUBLE)
           |        / length(text) AS symr,
           |      CAST(len(list_filter(string_split(lower(text), ' '),
           |                           w -> regexp_matches(w, '[a-z]'))) AS DOUBLE)
           |        / len(string_split(lower(text), ' ')) AS alphar,
           |      ${score("en")} AS n_stop
           |    FROM documents) f
           |  WHERE n_words >= 20 AND n_words <= 500 AND mwl >= 3.0
           |    AND mwl <= 10.0 AND symr <= 0.1 AND alphar >= 0.8
           |    AND n_stop >= 2),
           |ex AS (
           |  SELECT doc_id, text, lang, source FROM (
           |    SELECT *, MIN(doc_id) OVER (PARTITION BY md5(text)) AS keep_id
           |    FROM q) g
           |  WHERE doc_id = keep_id),
           |${Dedup.shingCteFor("ex", "shing_e")},
           |${Dedup.sigCteFor("shing_e", "sig_e")},
           |${Dedup.bandCteFor("sig_e", "bands_e")},
           |cand AS (
           |  SELECT DISTINCT a.doc_id AS ia, b.doc_id AS ib
           |  FROM bands_e a JOIN bands_e b
           |    ON a.b = b.b AND a.bh = b.bh AND a.doc_id < b.doc_id),
           |dups AS (
           |  SELECT DISTINCT ib FROM (
           |    SELECT cand.ib,
           |      CAST(len(list_intersect(sa.shashes, sb.shashes)) AS DOUBLE)
           |        / (len(sa.shashes) + len(sb.shashes)
           |           - len(list_intersect(sa.shashes, sb.shashes))) AS j
           |    FROM cand JOIN shing_e sa ON cand.ia = sa.doc_id
           |              JOIN shing_e sb ON cand.ib = sb.doc_id) sc
           |  WHERE j >= 0.5),
           |nd AS (SELECT * FROM ex WHERE doc_id NOT IN (SELECT ib FROM dups)),
           |evdocs AS (SELECT doc_id, text FROM raw
           |           WHERE doc_id % ${Dedup.EVAL_MOD} = 0),
           |${Dedup.shingCteFor("evdocs", "shing_ev")},
           |trdocs AS (SELECT doc_id, text FROM nd
           |           WHERE doc_id % ${Dedup.EVAL_MOD} <> 0),
           |${Dedup.shingCteFor("trdocs", "shing_tr")},
           |contam AS (
           |  SELECT DISTINCT tid FROM (
           |    SELECT tr.tid, ev.eid, ev.en, COUNT(*) AS shared
           |    FROM (SELECT doc_id AS eid, len(shashes) AS en,
           |                 unnest(shashes) AS sh FROM shing_ev) ev
           |    JOIN (SELECT doc_id AS tid, unnest(shashes) AS sh
           |          FROM shing_tr) tr USING (sh)
           |    GROUP BY 1, 2, 3) o
           |  WHERE CAST(shared AS DOUBLE) / en >= 0.2),
           |dc AS (SELECT * FROM nd WHERE doc_id % ${Dedup.EVAL_MOD} <> 0
           |       AND doc_id NOT IN (SELECT tid FROM contam)),
           |counts AS (SELECT lang, COUNT(*) AS n_docs FROM dc GROUP BY 1),
           |tot AS (SELECT CAST(SUM(n_docs) AS BIGINT) AS n_total,
           |        list_reduce(list_prepend(0.0,
           |          list(sqrt(CAST(n_docs AS DOUBLE)) ORDER BY lang)),
           |          (acc, v) -> acc + v) AS w_total
           |        FROM counts),
           |th AS (SELECT lang,
           |         CAST(floor(least(CAST(1 AS DOUBLE),
           |           CAST(CAST(floor(sqrt(CAST(n_docs AS DOUBLE)) / w_total
           |                * CAST(n_total // 2 AS DOUBLE)) AS BIGINT) AS DOUBLE)
           |           / n_docs) * CAST(10000 AS DOUBLE)) AS BIGINT) AS th
           |       FROM counts CROSS JOIN tot),
           |mixed AS (
           |  SELECT dc.* FROM dc JOIN th USING (lang)
           |  WHERE ${duckHash("CAST(doc_id AS VARCHAR)")} % 10000 < th),
           |${bpeTrainCtesFor("mixed")},
           |vs AS (
           |  SELECT w, CAST(len(list_filter(string_split(seg, chr(1)||chr(1)),
           |                                 x -> x <> '')) AS BIGINT) AS n_sym
           |  FROM w3),
           |dw AS (
           |  SELECT doc_id, w
           |  FROM (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS w
           |        FROM mixed) u
           |  WHERE len(w) > 0 AND NOT contains(w, chr(1))),
           |dtok AS (SELECT doc_id, CAST(SUM(n_sym) AS BIGINT) AS n_tokens
           |         FROM dw JOIN vs USING (w) GROUP BY doc_id),
           |doclevel AS (
           |  SELECT m.doc_id, m.source,
           |         CAST(COALESCE(d.n_tokens, 0) AS BIGINT) AS n_tokens
           |  FROM mixed m LEFT JOIN dtok d USING (doc_id)),
           |pk AS (
           |  SELECT shard, doc_id, n_tokens,
           |    CAST(SUM(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
           |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
           |      - n_tokens AS start_tok
           |  FROM (SELECT doc_id, n_tokens,
           |          ${duckHash("CAST(doc_id AS VARCHAR)")} % 8 AS shard
           |        FROM doclevel) z),
           |shards AS (
           |  SELECT shard, CAST(COUNT(*) AS BIGINT) AS n_docs,
           |         CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
           |         CAST(MAX(start_tok // 2048) + 1 AS BIGINT) AS n_seqs
           |  FROM pk GROUP BY shard),
           |man AS (
           |  SELECT source,
           |    CASE WHEN b < 90 THEN 'train' WHEN b < 95 THEN 'val'
           |         ELSE 'test' END AS split,
           |    CAST(COUNT(*) AS BIGINT) AS n_docs,
           |    CAST(SUM(n_tokens) AS BIGINT) AS n_tokens
           |  FROM (SELECT source, n_tokens,
           |          ${duckHash("CAST(doc_id AS VARCHAR)")} % 100 AS b
           |        FROM doclevel) z
           |  GROUP BY 1, 2),
           |funnel AS (
           |  SELECT '00_raw' AS k, (SELECT COUNT(*) FROM raw) AS n
           |  UNION ALL SELECT '01_quality', (SELECT COUNT(*) FROM q)
           |  UNION ALL SELECT '02_exact', (SELECT COUNT(*) FROM ex)
           |  UNION ALL SELECT '03_neardup', (SELECT COUNT(*) FROM nd)
           |  UNION ALL SELECT '04_decontam', (SELECT COUNT(*) FROM dc)
           |  UNION ALL SELECT '05_mixed', (SELECT COUNT(*) FROM mixed))
           |SELECT section, k, n_docs, n_tokens, n_seqs FROM (
           |  SELECT '0_funnel' AS section, k, CAST(n AS BIGINT) AS n_docs,
           |         CAST(0 AS BIGINT) AS n_tokens, CAST(0 AS BIGINT) AS n_seqs
           |  FROM funnel
           |  UNION ALL
           |  SELECT '1_manifest', source || '/' || split, n_docs, n_tokens,
           |         CAST(0 AS BIGINT)
           |  FROM man
           |  UNION ALL
           |  SELECT '2_shards', 'shard_' || CAST(shard AS VARCHAR), n_docs,
           |         n_tokens, n_seqs
           |  FROM shards$publishRow) out
           |ORDER BY section, k""".stripMargin
  }

  /** DuckDB replay of the incremental-curation DAG (full recompute over
    * the union, batch funnel at T = (8·max) DIV 10). With `publish` the
    * final SELECT also carries the `2_versions` row: v1 rows = seen-half
    * manifest groups, and the packed n_tokens = |union manifest|·1000 +
    * v2-vs-readback mismatches·10 + v1-vs-seen-store mismatches — both
    * mismatch digits pinned to 0.
    */
  private def e2eIncOracle(publish: Boolean): String = {
    def score(l: String) =
      s"CAST(len(list_filter(string_split(lower(text), ' '), w -> w IN ${inList(stop(l))})) AS BIGINT)"
    val pubRow =
      if (!publish) ""
      else "\n           |  UNION ALL SELECT '2_versions', 'log'," +
        "\n           |    CAST((SELECT COUNT(*) FROM (SELECT DISTINCT source," +
        "\n           |      CASE WHEN b < 90 THEN 'train' WHEN b < 95 THEN 'val'" +
        "\n           |           ELSE 'test' END AS split" +
        "\n           |      FROM (SELECT source," +
        s"\n           |              ${duckHash("CAST(doc_id AS VARCHAR)")} % 100 AS b" +
        "\n           |            FROM fin, tt WHERE doc_id <= t) z1) z2) AS BIGINT)," +
        "\n           |    CAST((SELECT COUNT(*) FROM man) AS BIGINT) * 1000"
        s"""WITH raw AS (SELECT doc_id, text, lang, source FROM documents),
           |tt AS (SELECT (MAX(doc_id) * 8) // 10 AS t FROM raw),
           |q AS (
           |  SELECT doc_id, text, lang, source FROM (
           |    SELECT doc_id, text, lang, source,
           |      CAST(len(string_split(lower(text), ' ')) AS BIGINT) AS n_words,
           |      CAST(length(replace(text, ' ', '')) AS DOUBLE)
           |        / len(string_split(lower(text), ' ')) AS mwl,
           |      CAST(len(regexp_extract_all(text, '[^a-zA-Z0-9 ]')) AS DOUBLE)
           |        / length(text) AS symr,
           |      CAST(len(list_filter(string_split(lower(text), ' '),
           |                           w -> regexp_matches(w, '[a-z]'))) AS DOUBLE)
           |        / len(string_split(lower(text), ' ')) AS alphar,
           |      ${score("en")} AS n_stop
           |    FROM documents) f
           |  WHERE n_words >= 20 AND n_words <= 500 AND mwl >= 3.0
           |    AND mwl <= 10.0 AND symr <= 0.1 AND alphar >= 0.8
           |    AND n_stop >= 2),
           |ex AS (
           |  SELECT doc_id, text, lang, source FROM (
           |    SELECT *, MIN(doc_id) OVER (PARTITION BY md5(text)) AS keep_id
           |    FROM q) g
           |  WHERE doc_id = keep_id),
           |${Dedup.shingCteFor("ex", "shing_e")},
           |${Dedup.sigCteFor("shing_e", "sig_e")},
           |${Dedup.bandCteFor("sig_e", "bands_e")},
           |cand AS (
           |  SELECT DISTINCT a.doc_id AS ia, b.doc_id AS ib
           |  FROM bands_e a JOIN bands_e b
           |    ON a.b = b.b AND a.bh = b.bh AND a.doc_id < b.doc_id),
           |dups AS (
           |  SELECT DISTINCT ib FROM (
           |    SELECT cand.ib,
           |      CAST(len(list_intersect(sa.shashes, sb.shashes)) AS DOUBLE)
           |        / (len(sa.shashes) + len(sb.shashes)
           |           - len(list_intersect(sa.shashes, sb.shashes))) AS j
           |    FROM cand JOIN shing_e sa ON cand.ia = sa.doc_id
           |              JOIN shing_e sb ON cand.ib = sb.doc_id) sc
           |  WHERE j >= ${Dedup.JT}),
           |nd AS (SELECT * FROM ex WHERE doc_id NOT IN (SELECT ib FROM dups)),
           |evdocs AS (SELECT doc_id, text FROM raw
           |           WHERE doc_id % ${Dedup.EVAL_MOD} = 0),
           |${Dedup.shingCteFor("evdocs", "shing_ev")},
           |trdocs AS (SELECT doc_id, text FROM nd
           |           WHERE doc_id % ${Dedup.EVAL_MOD} <> 0),
           |${Dedup.shingCteFor("trdocs", "shing_tr")},
           |contam AS (
           |  SELECT DISTINCT tid FROM (
           |    SELECT tr.tid, ev.eid, ev.en, COUNT(*) AS shared
           |    FROM (SELECT doc_id AS eid, len(shashes) AS en,
           |                 unnest(shashes) AS sh FROM shing_ev) ev
           |    JOIN (SELECT doc_id AS tid, unnest(shashes) AS sh
           |          FROM shing_tr) tr USING (sh)
           |    GROUP BY 1, 2, 3) o
           |  WHERE CAST(shared AS DOUBLE) / en >= 0.2),
           |dc AS (SELECT * FROM nd WHERE doc_id % ${Dedup.EVAL_MOD} <> 0
           |       AND doc_id NOT IN (SELECT tid FROM contam)),
           |fin AS (
           |  SELECT doc_id, lang, source,
           |    CAST(len(regexp_extract_all(lower(text),
           |      '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS BIGINT) AS n_tokens
           |  FROM dc),
           |man AS (
           |  SELECT source,
           |    CASE WHEN b < 90 THEN 'train' WHEN b < 95 THEN 'val'
           |         ELSE 'test' END AS split,
           |    CAST(COUNT(*) AS BIGINT) AS n_docs,
           |    CAST(SUM(n_tokens) AS BIGINT) AS n_tokens
           |  FROM (SELECT source, n_tokens,
           |          ${duckHash("CAST(doc_id AS VARCHAR)")} % 100 AS b
           |        FROM fin) z
           |  GROUP BY 1, 2)
           |SELECT section, k, n_docs, n_tokens FROM (
           |  SELECT '0_batch' AS section, '00_arrived' AS k,
           |    CAST((SELECT COUNT(*) FROM raw, tt WHERE doc_id > t) AS BIGINT)
           |      AS n_docs,
           |    CAST(0 AS BIGINT) AS n_tokens
           |  UNION ALL SELECT '0_batch', '10_quality',
           |    CAST((SELECT COUNT(*) FROM q, tt WHERE doc_id > t) AS BIGINT),
           |    CAST(0 AS BIGINT)
           |  UNION ALL SELECT '0_batch', '20_exact',
           |    CAST((SELECT COUNT(*) FROM ex, tt WHERE doc_id > t) AS BIGINT),
           |    CAST(0 AS BIGINT)
           |  UNION ALL SELECT '0_batch', '30_neardup',
           |    CAST((SELECT COUNT(*) FROM nd, tt WHERE doc_id > t) AS BIGINT),
           |    CAST(0 AS BIGINT)
           |  UNION ALL SELECT '0_batch', '40_decontam',
           |    CAST((SELECT COUNT(*) FROM dc, tt WHERE doc_id > t) AS BIGINT),
           |    CAST(0 AS BIGINT)
           |  UNION ALL SELECT '1_manifest', source || '/' || split,
           |    n_docs, n_tokens
           |  FROM man$pubRow) out
           |ORDER BY section, k""".stripMargin

  }

  val oracle: Map[String, String] = {
    def score(l: String) =
      s"CAST(len(list_filter(string_split(lower(text), ' '), w -> w IN ${inList(stop(l))})) AS BIGINT)"
    Map(
      "tx_bleu_counts" -> {
        def grams(arr: String, k: Int) =
          s"[array_to_string($arr[i:i + ${k - 1}], ' ') " +
            s"FOR i IN range(1, len($arr) - ${k - 2})]"
        def clipped(k: Int) =
          s"CAST(list_sum(list_transform(list_distinct(${grams("a", k)}), " +
            s"g -> least(len(list_filter(${grams("a", k)}, x -> x = g)), " +
            s"len(list_filter(${grams("b", k)}, x -> x = g))))) AS BIGINT)"
        s"""WITH docs AS (
           |  SELECT doc_id,
           |         list_filter(string_split(lower(text), ' '),
           |                     x -> x <> '')[1:25] AS toks
           |  FROM documents),
           |d2 AS (SELECT doc_id, toks FROM docs WHERE len(toks) >= 5),
           |pairs AS (
           |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           |         a.toks AS a, b.toks AS b
           |  FROM d2 a JOIN d2 b ON b.doc_id = a.doc_id + 1
           |  WHERE a.doc_id % 7 = 0),
           |m AS (
           |  SELECT doc_a, doc_b,
           |         CAST(len(a) AS BIGINT) AS c_len,
           |         CAST(len(b) AS BIGINT) AS r_len,
           |         ${clipped(1)} AS m1, ${clipped(2)} AS m2,
           |         ${clipped(3)} AS m3, ${clipped(4)} AS m4,
           |         CAST(len(a) AS BIGINT) AS t1,
           |         CAST(len(a) - 1 AS BIGINT) AS t2,
           |         CAST(len(a) - 2 AS BIGINT) AS t3,
           |         CAST(len(a) - 3 AS BIGINT) AS t4
           |  FROM pairs)
           |SELECT doc_a, doc_b, c_len, r_len, m1, m2, m3, m4,
           |       (m1 * 1000000) // t1 AS p1_ppm,
           |       (m2 * 1000000) // t2 AS p2_ppm,
           |       (m3 * 1000000) // t3 AS p3_ppm,
           |       (m4 * 1000000) // t4 AS p4_ppm,
           |       (c_len * 1000000) // r_len AS brevity_ppm
           |FROM m ORDER BY doc_a""".stripMargin
      },
      "tx_rouge_l" ->
        """WITH RECURSIVE docs AS (
          |  SELECT doc_id,
          |         list_filter(string_split(lower(text), ' '),
          |                     x -> x <> '')[1:25] AS toks
          |  FROM documents),
          |d2 AS (SELECT doc_id, toks FROM docs WHERE len(toks) >= 2),
          |pairs AS (
          |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
          |         a.toks AS a, b.toks AS b
          |  FROM d2 a JOIN d2 b ON b.doc_id = a.doc_id + 1
          |  WHERE a.doc_id % 7 = 0),
          |r0 AS (
          |  SELECT doc_a, doc_b, a, b, array_agg(mx ORDER BY j) AS row0
          |  FROM (
          |    SELECT doc_a, doc_b, a, b, j,
          |      CAST(MAX(CASE WHEN a[1] = b[j] THEN 1 ELSE 0 END)
          |        OVER (PARTITION BY doc_a ORDER BY j) AS BIGINT) AS mx
          |    FROM (SELECT *, unnest(generate_series(1, len(b))) AS j
          |          FROM pairs))
          |  GROUP BY doc_a, doc_b, a, b),
          |walk AS (
          |  SELECT doc_a, doc_b, a, b, 0 AS s,
          |         CAST([] AS BIGINT[]) AS prev, row0 AS cur
          |  FROM r0
          |  UNION ALL
          |  SELECT doc_a, doc_b, a, b, s + 1,
          |    CASE WHEN s % len(b) = 0 THEN cur ELSE prev END,
          |    CASE WHEN s % len(b) = 0
          |      THEN [CASE WHEN a[2 + s // len(b)] = b[1]
          |                 THEN CAST(1 AS BIGINT) ELSE cur[1] END]
          |      ELSE list_append(cur,
          |        CASE WHEN a[2 + s // len(b)] = b[1 + (s % len(b))]
          |             THEN prev[s % len(b)] + 1
          |             ELSE greatest(prev[1 + (s % len(b))], cur[s % len(b)])
          |        END)
          |    END
          |  FROM walk WHERE s < (len(a) - 1) * len(b))
          |SELECT doc_a, doc_b,
          |       CAST(len(a) AS BIGINT) AS na, CAST(len(b) AS BIGINT) AS nb,
          |       CAST(cur[len(b)] AS BIGINT) AS lcs,
          |       (cur[len(b)] * 1000000) // len(b) AS recall_ppm,
          |       (cur[len(b)] * 1000000) // len(a) AS precision_ppm,
          |       (2 * cur[len(b)] * 1000000) // (len(a) + len(b)) AS f_ppm
          |FROM walk WHERE s = (len(a) - 1) * len(b)
          |ORDER BY doc_a""".stripMargin,
      "tx_blocklist_join" ->
        s"""WITH toks AS (
           |  SELECT doc_id, unnest(string_split(lower(text), ' ')) AS token
           |  FROM documents),
           |t2 AS (SELECT doc_id, token FROM toks WHERE length(token) > 0),
           |block AS (
           |  SELECT DISTINCT token FROM t2
           |  WHERE ${Hashing.duckHash("token")} % 5 = 0
           |    AND length(token) >= 2),
           |m AS (SELECT t2.doc_id, t2.token FROM t2 JOIN block USING (token)),
           |g AS (SELECT CAST(COUNT(DISTINCT doc_id) AS BIGINT)
           |        AS n_flagged_docs FROM m)
           |SELECT token, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
           |       CAST(COUNT(*) AS BIGINT) AS n_hits,
           |       CAST(MAX(n_flagged_docs) AS BIGINT) AS n_flagged_docs
           |FROM m CROSS JOIN g
           |GROUP BY token
           |ORDER BY n_hits DESC, token""".stripMargin,
      // DuckDB's native UAX #15 implementation replays the JVM
      // Normalizer byte-for-byte; chr() builds the same decomposed
      // combining sequences the Spark literal carries.
      "pipe_padding_waste" ->
        """WITH docs AS (
          |  SELECT doc_id, n FROM (
          |    SELECT doc_id,
          |           CAST(len(list_filter(string_split(text, ' '),
          |                  w -> length(w) > 0)) AS BIGINT) AS n
          |    FROM documents) WHERE n >= 1),
          |a AS (
          |  SELECT 'pad_to_max128' AS strategy,
          |         CAST(COUNT(*) AS BIGINT) AS n_docs,
          |         CAST(SUM(least(n, 128)) AS BIGINT) AS real_tokens,
          |         CAST(COUNT(*) * 128 AS BIGINT) AS padded_tokens,
          |         CAST(SUM(greatest(n - 128, 0)) AS BIGINT)
          |           AS truncated_tokens
          |  FROM docs),
          |b AS (
          |  SELECT 'pad_pow2_bucket' AS strategy,
          |         CAST(COUNT(*) AS BIGINT) AS n_docs,
          |         CAST(SUM(n) AS BIGINT) AS real_tokens,
          |         CAST(SUM(CASE WHEN n <= 1 THEN 1
          |                       ELSE 1 << length(bin(n - 1)) END) AS BIGINT)
          |           AS padded_tokens,
          |         CAST(0 AS BIGINT) AS truncated_tokens
          |  FROM docs),
          |s AS (
          |  SELECT n, (row_number() OVER (ORDER BY n, doc_id) - 1) // 32 AS b
          |  FROM docs),
          |sb AS (SELECT n, CAST(MAX(n) OVER (PARTITION BY b) AS BIGINT)
          |         AS bmax FROM s),
          |c AS (
          |  SELECT 'sorted_batch32' AS strategy,
          |         CAST(COUNT(*) AS BIGINT) AS n_docs,
          |         CAST(SUM(n) AS BIGINT) AS real_tokens,
          |         CAST(SUM(bmax) AS BIGINT) AS padded_tokens,
          |         CAST(0 AS BIGINT) AS truncated_tokens
          |  FROM sb),
          |u AS (SELECT * FROM a UNION ALL SELECT * FROM b
          |      UNION ALL SELECT * FROM c)
          |SELECT strategy, n_docs, real_tokens, padded_tokens,
          |       truncated_tokens,
          |       ((padded_tokens - real_tokens) * 1000000) // padded_tokens
          |         AS waste_ppm
          |FROM u ORDER BY strategy""".stripMargin,
      "tx_code_detect" ->
        """WITH r AS (
          |  SELECT doc_id, text
          |    || CASE WHEN doc_id % 11 = 0
          |         THEN ' def f(x): { return x * 2; } import os; const y = 3;'
          |         ELSE '' END AS raw
          |  FROM documents),
          |f AS (
          |  SELECT doc_id, CAST(length(raw) AS INT) AS n_chars,
          |    CAST(len(regexp_extract_all(raw, '[{}();=<>]')) AS BIGINT)
          |      AS n_sym,
          |    CAST(len(regexp_extract_all(raw,
          |      '\b(def|return|class|import|function|var|const)\b'))
          |      AS BIGINT) AS kw_hits
          |  FROM r)
          |SELECT doc_id, n_chars, n_sym, kw_hits,
          |       (n_sym * 1000000) // CAST(n_chars AS BIGINT) AS sym_ppm,
          |       (n_sym * 1000000) // CAST(n_chars AS BIGINT) > 20000
          |         OR kw_hits >= 2 AS looks_code
          |FROM f ORDER BY doc_id""".stripMargin,
      "pipe_resume_offsets" ->
        s"""WITH s AS (
           |  SELECT ${duckHash("CAST(doc_id AS VARCHAR)")} % 16 AS shard,
           |         CAST(COUNT(*) AS BIGINT) AS n_docs,
           |         list_sort(list(doc_id)) AS ids
           |  FROM documents GROUP BY 1),
           |t AS (SELECT CAST(SUM(n_docs) AS BIGINT) AS total FROM s),
           |c AS (
           |  SELECT shard, n_docs, ids, total,
           |         COALESCE(CAST(SUM(n_docs) OVER (ORDER BY shard
           |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
           |           AS BIGINT), 0) AS cum_before,
           |         (total * 3) // 5 AS r
           |  FROM s, t)
           |SELECT shard, n_docs, cum_before,
           |       greatest(CAST(0 AS BIGINT), least(n_docs, r - cum_before))
           |         AS consumed,
           |       cum_before <= r AND r < cum_before + n_docs AS resume_here,
           |       CASE WHEN cum_before <= r AND r < cum_before + n_docs
           |            THEN r - cum_before ELSE CAST(-1 AS BIGINT) END
           |         AS resume_offset,
           |       CASE WHEN cum_before <= r AND r < cum_before + n_docs
           |            THEN ids[CAST(r - cum_before + 1 AS INT)] END
           |         AS resume_doc_id
           |FROM c ORDER BY shard""".stripMargin,
      "tx_char_entropy" ->
        s"""WITH ch AS (
           |  SELECT doc_id, substr(text, CAST(i AS INT), 1) AS ch
           |  FROM documents, unnest(range(1, length(text) + 1)) AS t(i)),
           |cc AS (
           |  SELECT doc_id, ch, CAST(COUNT(*) AS BIGINT) AS c
           |  FROM ch GROUP BY 1, 2),
           |agg AS (
           |  SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_chars,
           |         CAST(COUNT(*) AS BIGINT) AS n_distinct,
           |         CAST(SUM(c * ${FixLog.lgD("c")}) AS BIGINT) AS slg
           |  FROM cc GROUP BY 1),
           |f AS (
           |  SELECT doc_id, n_chars, n_distinct,
           |         ${FixLog.lgD("n_chars")} - (slg // n_chars) AS h_fp
           |  FROM agg)
           |SELECT doc_id, n_chars, n_distinct, h_fp,
           |       CAST(h_fp AS DOUBLE) / 65536.0 AS h_bits
           |FROM f ORDER BY doc_id""".stripMargin,
      "tx_mojibake" ->
        s"""WITH r AS (
           |  SELECT doc_id, text
           |    || CASE WHEN doc_id % 3 = 0 THEN '$mojiCafe' ELSE '' END
           |    || CASE WHEN doc_id % 5 = 0 THEN '$mojiQuote' ELSE '' END
           |      AS raw
           |  FROM documents)
           |SELECT doc_id, CAST(length(raw) AS INT) AS n_chars,
           |       CAST(len(regexp_extract_all(raw, '$mojiPat')) AS BIGINT)
           |         AS n_moji,
           |       len(regexp_extract_all(raw, '$mojiPat')) = 0 AS clean
           |FROM r ORDER BY doc_id""".stripMargin,
      "tx_nfc_normalize" ->
        """WITH r AS (
          |  SELECT doc_id,
          |         substr(text, 1, 40) || ' cafe' || chr(769)
          |           || ' nin' || chr(771) || 'o' AS raw
          |  FROM documents)
          |SELECT doc_id, CAST(length(raw) AS INT) AS len_raw,
          |       CAST(length(nfc_normalize(raw)) AS INT) AS len_nfc,
          |       CAST(length(raw) - length(nfc_normalize(raw)) AS INT)
          |         AS collapsed,
          |       right(nfc_normalize(raw), 12) AS nfc_tail
          |FROM r ORDER BY doc_id""".stripMargin,
      "pipe_negatives" ->
        s"""WITH pos AS (
           |  SELECT doc_id,
           |         row_number() OVER (ORDER BY ${duckHash("text")}, doc_id) - 1 AS p
           |  FROM documents),
           |tot AS (SELECT COUNT(*) AS n FROM documents),
           |js AS (SELECT unnest([1, 2]) AS j),
           |negs AS (
           |  SELECT a.doc_id AS anchor_id, js.j, (a.p + js.j * (tot.n // 3)) % tot.n AS np
           |  FROM pos a CROSS JOIN tot CROSS JOIN js)
           |SELECT anchor_id, CAST(j AS INT) AS j, b.doc_id AS neg_id
           |FROM negs JOIN pos b ON negs.np = b.p
           |ORDER BY anchor_id, j""".stripMargin,
      "pipe_quality_sample" ->
        s"""WITH f AS (
           |  SELECT doc_id, n_chars,
           |    CAST(${score("en")} AS DOUBLE)
           |      / len(string_split(lower(text), ' ')) AS stop_ratio
           |  FROM documents),
           |t AS (
           |  SELECT doc_id, n_chars,
           |    CASE WHEN stop_ratio >= 0.08 THEN 'hi'
           |         WHEN stop_ratio >= 0.05 THEN 'mid' ELSE 'lo' END AS tier,
           |    CASE WHEN stop_ratio >= 0.08 THEN 90
           |         WHEN stop_ratio >= 0.05 THEN 60 ELSE 20 END AS rate,
           |    ${duckHash("CAST(doc_id AS VARCHAR)")} % 100 AS h
           |  FROM f)
           |SELECT tier, rate, COUNT(*) AS n_docs,
           |       CAST(SUM(CASE WHEN h < rate THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           |       CAST(SUM(CASE WHEN h < rate THEN n_chars ELSE 0 END) AS BIGINT) AS kept_chars
           |FROM t GROUP BY tier, rate ORDER BY tier""".stripMargin,
      "pipe_interleave" ->
        s"""WITH srcs AS (
           |  SELECT source,
           |    CAST(ROW_NUMBER() OVER (ORDER BY source) AS BIGINT) AS src_idx
           |  FROM (SELECT DISTINCT source FROM documents)),
           |n AS (SELECT COUNT(*) AS n_src FROM srcs),
           |r AS (
           |  SELECT source, doc_id,
           |    CAST(ROW_NUMBER() OVER (PARTITION BY source
           |      ORDER BY ${duckHash("CAST(doc_id AS VARCHAR)")}, doc_id)
           |      AS BIGINT) AS rk
           |  FROM documents)
           |SELECT (r.rk - 1) * n.n_src + s.src_idx AS pos,
           |       r.source, r.rk, r.doc_id
           |FROM r JOIN srcs s USING (source) CROSS JOIN n
           |ORDER BY pos, doc_id""".stripMargin,
      "tx_ngram_freq" ->
        """WITH ws AS (
          |  SELECT string_split(lower(text), ' ') AS l FROM documents
          |  WHERE len(string_split(lower(text), ' ')) >= 3),
          |tri AS (
          |  SELECT unnest([l[i] || ' ' || l[i+1] || ' ' || l[i+2]
          |                 for i in generate_series(1, len(l) - 2)]) AS trigram
          |  FROM ws)
          |SELECT trigram, COUNT(*) AS freq
          |FROM tri GROUP BY trigram
          |ORDER BY freq DESC, trigram LIMIT 20""".stripMargin,
      "tx_surprisal" ->
        """WITH toks AS (
          |  SELECT doc_id, unnest(string_split(lower(text), ' ')) AS token
          |  FROM documents),
          |tk AS (SELECT doc_id, token FROM toks WHERE len(token) > 0),
          |counts AS (SELECT token, COUNT(*) AS cnt FROM tk GROUP BY token),
          |tot AS (SELECT COUNT(*) AS n_total FROM tk)
          |SELECT doc_id, COUNT(*) AS n_tokens,
          |  CAST(SUM(length(bin(n_total)) - length(bin(cnt))) AS BIGINT)
          |    AS surprisal_bits,
          |  CAST(SUM(length(bin(n_total)) - length(bin(cnt))) AS DOUBLE)
          |    / COUNT(*) AS mean_bits
          |FROM tk JOIN counts USING (token) CROSS JOIN tot
          |GROUP BY doc_id ORDER BY doc_id""".stripMargin,
      "tx_lm_score" ->
        """WITH ws0 AS (
          |  SELECT doc_id,
          |         list_filter(string_split(lower(text), ' '), w -> len(w) > 0) AS ws
          |  FROM documents),
          |w2 AS (SELECT doc_id, ws FROM ws0 WHERE len(ws) >= 2),
          |pairs AS (
          |  SELECT doc_id,
          |         unnest(list_transform(range(1, len(ws)),
          |                i -> {'w1': ws[i], 'w2': ws[i+1]})) AS p
          |  FROM w2),
          |pf AS (SELECT doc_id, p.w1 AS w1, p.w2 AS w2 FROM pairs),
          |pc AS (SELECT w1, w2, COUNT(*) AS pc FROM pf GROUP BY 1, 2),
          |cc AS (SELECT w1, CAST(SUM(pc) AS BIGINT) AS cc FROM pc GROUP BY 1),
          |scored AS (
          |  SELECT doc_id, COUNT(*) AS n_pairs,
          |         CAST(SUM(length(bin(cc)) - length(bin(pc.pc))) AS BIGINT)
          |           AS lm_bits
          |  FROM pf JOIN pc USING (w1, w2) JOIN cc USING (w1)
          |  GROUP BY doc_id),
          |sc AS (SELECT doc_id, n_pairs, lm_bits,
          |              lm_bits * 1000 // n_pairs AS milli_bits FROM scored),
          |hist AS (SELECT milli_bits, COUNT(*) AS h FROM sc GROUP BY 1),
          |cum AS (SELECT milli_bits,
          |               SUM(h) OVER (ORDER BY milli_bits) AS cum FROM hist),
          |tot AS (SELECT COUNT(*) AS n_docs FROM sc)
          |SELECT sc.doc_id, sc.n_pairs, sc.lm_bits,
          |       CAST(sc.lm_bits AS DOUBLE) / sc.n_pairs AS mean_bits,
          |       CAST((10 * cum + n_docs - 1) // n_docs AS INT) AS decile,
          |       CAST((10 * cum + n_docs - 1) // n_docs AS INT) <= 7 AS keep
          |FROM sc JOIN cum USING (milli_bits) CROSS JOIN tot
          |ORDER BY doc_id""".stripMargin,
      "tx_quality_ensemble" -> {
        import graft.ext.FixLog.lgD
        s"""WITH docs AS (SELECT doc_id, lang, text FROM documents),
           |gop AS (
           |  SELECT doc_id,
           |    (n_words >= 20 AND n_words <= 500)
           |      AND (mwl >= 3.0 AND mwl <= 10.0)
           |      AND symr <= 0.1 AND alphar >= 0.8 AND n_stop >= 2
           |      AS gopher_ok
           |  FROM (
           |    SELECT doc_id,
           |      CAST(len(string_split(lower(text), ' ')) AS BIGINT) AS n_words,
           |      CAST(length(replace(text, ' ', '')) AS DOUBLE)
           |        / len(string_split(lower(text), ' ')) AS mwl,
           |      CAST(len(regexp_extract_all(text, '[^a-zA-Z0-9 ]')) AS DOUBLE)
           |        / length(text) AS symr,
           |      CAST(len(list_filter(string_split(lower(text), ' '),
           |                           w -> regexp_matches(w, '[a-z]'))) AS DOUBLE)
           |        / len(string_split(lower(text), ' ')) AS alphar,
           |      ${score("en")} AS n_stop
           |    FROM documents) f),
           |ws0 AS (
           |  SELECT doc_id,
           |         list_filter(string_split(lower(text), ' '), w -> len(w) > 0) AS ws
           |  FROM documents),
           |w2 AS (SELECT doc_id, ws FROM ws0 WHERE len(ws) >= 2),
           |lmpairs AS (
           |  SELECT doc_id,
           |         unnest(list_transform(range(1, len(ws)),
           |                i -> {'w1': ws[i], 'w2': ws[i+1]})) AS p
           |  FROM w2),
           |pf AS (SELECT doc_id, p.w1 AS w1, p.w2 AS w2 FROM lmpairs),
           |pc AS (SELECT w1, w2, COUNT(*) AS pc FROM pf GROUP BY 1, 2),
           |cc AS (SELECT w1, CAST(SUM(pc) AS BIGINT) AS cc FROM pc GROUP BY 1),
           |lmsc AS (
           |  SELECT doc_id, COUNT(*) AS n_pairs,
           |         CAST(SUM(length(bin(cc)) - length(bin(pc.pc))) AS BIGINT)
           |           AS lm_bits
           |  FROM pf JOIN pc USING (w1, w2) JOIN cc USING (w1)
           |  GROUP BY doc_id),
           |lmq AS (SELECT doc_id, lm_bits * 1000 // n_pairs AS milli_bits
           |        FROM lmsc),
           |hist AS (SELECT milli_bits, COUNT(*) AS h FROM lmq GROUP BY 1),
           |cum AS (SELECT milli_bits,
           |               SUM(h) OVER (ORDER BY milli_bits) AS cum FROM hist),
           |lmtot AS (SELECT COUNT(*) AS n_docs FROM lmq),
           |lmk AS (
           |  SELECT lmq.doc_id,
           |         CAST((10 * cum + n_docs - 1) // n_docs AS INT) <= $LM_KEEP_DECILE
           |           AS lm_keep
           |  FROM lmq JOIN cum USING (milli_bits) CROSS JOIN lmtot),
           |train AS (SELECT doc_id, lang, text FROM documents
           |          WHERE doc_id % 5 <> 0),
           |ttok AS (
           |  SELECT lang, w FROM (
           |    SELECT lang, unnest(string_split(text, ' ')) AS w FROM train)
           |  WHERE w <> ''),
           |counts AS (
           |  SELECT lang AS lang_cand, w, CAST(COUNT(*) AS BIGINT) AS cw
           |  FROM ttok GROUP BY 1, 2),
           |cand AS (
           |  SELECT l.lang_cand, l.toks, dd.nd, v.v, nt.n
           |  FROM (SELECT lang AS lang_cand, CAST(COUNT(*) AS BIGINT) AS toks
           |        FROM ttok GROUP BY 1) l
           |  JOIN (SELECT lang AS lang_cand, CAST(COUNT(*) AS BIGINT) AS nd
           |        FROM train GROUP BY 1) dd USING (lang_cand),
           |       (SELECT CAST(COUNT(DISTINCT w) AS BIGINT) AS v FROM ttok) v,
           |       (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM train) nt),
           |ptok AS (
           |  SELECT doc_id, lang_true, unnest(pws) AS w FROM (
           |    SELECT doc_id, lang AS lang_true,
           |           list_filter(string_split(text, ' '), w -> w <> '')[1:50] AS pws
           |    FROM docs)),
           |terms AS (
           |  SELECT p.doc_id, p.lang_true, c.lang_cand, c.toks, c.nd, c.v, c.n,
           |         COALESCE(cn.cw, 0) + 1 AS cw1
           |  FROM ptok p CROSS JOIN cand c
           |  LEFT JOIN counts cn ON cn.lang_cand = c.lang_cand AND cn.w = p.w),
           |ds AS (
           |  SELECT doc_id, lang_true, lang_cand, toks, nd, v, n,
           |         CAST(COUNT(*) AS BIGINT) AS m,
           |         CAST(SUM(${lgD("cw1")}) AS BIGINT) AS sumlg
           |  FROM terms GROUP BY 1, 2, 3, 4, 5, 6, 7),
           |scn AS (
           |  SELECT doc_id, lang_true, lang_cand,
           |         ${lgD("nd")} - ${lgD("n")} - m * ${lgD("toks + v")} + sumlg
           |           AS score
           |  FROM ds),
           |nb AS (
           |  SELECT doc_id, lang_cand = lang_true AS nb_ok FROM (
           |    SELECT doc_id, lang_true, lang_cand,
           |           row_number() OVER (PARTITION BY doc_id
           |             ORDER BY score DESC, lang_cand) AS rk
           |    FROM scn) z
           |  WHERE rk = 1),
           |j AS (
           |  SELECT d.doc_id, g.gopher_ok,
           |         COALESCE(l.lm_keep, FALSE) AS lm_keep,
           |         COALESCE(nb.nb_ok, FALSE) AS nb_ok
           |  FROM docs d JOIN gop g USING (doc_id)
           |  LEFT JOIN lmk l USING (doc_id)
           |  LEFT JOIN nb USING (doc_id)),
           |v AS (
           |  SELECT *, 2 * CAST(gopher_ok AS INT) + 2 * CAST(lm_keep AS INT)
           |            + CAST(nb_ok AS INT) >= 3 AS pass
           |  FROM j)
           |SELECT section, k, n_docs, n_unique FROM (
           |  SELECT '0_verdict' AS section,
           |         CASE WHEN pass THEN 'pass' ELSE 'fail' END AS k,
           |         CAST(COUNT(*) AS BIGINT) AS n_docs,
           |         CAST(0 AS BIGINT) AS n_unique
           |  FROM v GROUP BY 1, 2
           |  UNION ALL
           |  SELECT '1_ablation', 'gopher',
           |         CAST(SUM(CASE WHEN NOT gopher_ok THEN 1 ELSE 0 END) AS BIGINT),
           |         CAST(SUM(CASE WHEN NOT gopher_ok AND lm_keep AND nb_ok
           |                       THEN 1 ELSE 0 END) AS BIGINT)
           |  FROM v
           |  UNION ALL
           |  SELECT '1_ablation', 'lm',
           |         CAST(SUM(CASE WHEN NOT lm_keep THEN 1 ELSE 0 END) AS BIGINT),
           |         CAST(SUM(CASE WHEN NOT lm_keep AND gopher_ok AND nb_ok
           |                       THEN 1 ELSE 0 END) AS BIGINT)
           |  FROM v
           |  UNION ALL
           |  SELECT '1_ablation', 'nb',
           |         CAST(SUM(CASE WHEN NOT nb_ok THEN 1 ELSE 0 END) AS BIGINT),
           |         CAST(SUM(CASE WHEN NOT nb_ok AND gopher_ok AND lm_keep
           |                       THEN 1 ELSE 0 END) AS BIGINT)
           |  FROM v) out
           |ORDER BY section, k""".stripMargin
      },
      "tx_gopher_rules" ->
        s"""WITH f AS (
           |  SELECT doc_id, text, string_split(lower(text), ' ') AS ws,
           |    CAST(len(string_split(lower(text), ' ')) AS BIGINT) AS n_words,
           |    CAST(length(replace(text, ' ', '')) AS DOUBLE)
           |      / len(string_split(lower(text), ' ')) AS mean_word_len,
           |    CAST(len(regexp_extract_all(text, '[^a-zA-Z0-9 ]')) AS DOUBLE)
           |      / length(text) AS sym_ratio,
           |    CAST(len(list_filter(string_split(lower(text), ' '),
           |                         w -> regexp_matches(w, '[a-z]'))) AS DOUBLE)
           |      / len(string_split(lower(text), ' ')) AS alpha_ratio,
           |    ${score("en")} AS n_stop
           |  FROM documents)
           |SELECT doc_id, n_words, mean_word_len, sym_ratio, alpha_ratio, n_stop,
           |  n_words >= 20 AND n_words <= 500 AS r_wordcount,
           |  mean_word_len >= 3.0 AND mean_word_len <= 10.0 AS r_wordlen,
           |  sym_ratio <= 0.1 AS r_symbol,
           |  alpha_ratio >= 0.8 AS r_alpha,
           |  n_stop >= 2 AS r_stop,
           |  (n_words >= 20 AND n_words <= 500)
           |    AND (mean_word_len >= 3.0 AND mean_word_len <= 10.0)
           |    AND sym_ratio <= 0.1 AND alpha_ratio >= 0.8 AND n_stop >= 2
           |    AS gopher_ok
           |FROM f ORDER BY doc_id""".stripMargin,
      "pipe_source_cap" ->
        s"""WITH r AS (
           |  SELECT source, doc_id,
           |    ROW_NUMBER() OVER (PARTITION BY source
           |      ORDER BY ${duckHash("CAST(doc_id AS VARCHAR)")}, doc_id) AS rk
           |  FROM documents)
           |SELECT source, CAST(rk AS BIGINT) AS rk, doc_id
           |FROM r WHERE rk <= 150 ORDER BY source, rk""".stripMargin,
      "tx_tfidf" ->
        """WITH toks AS (
          |  SELECT doc_id, unnest(string_split(lower(text), ' ')) AS token
          |  FROM documents),
          |tk AS (SELECT doc_id, token FROM toks WHERE len(token) > 0),
          |tf AS (SELECT doc_id, token, COUNT(*) AS tf FROM tk GROUP BY 1, 2),
          |df AS (SELECT token, COUNT(*) AS df
          |       FROM (SELECT DISTINCT doc_id, token FROM tk) GROUP BY 1),
          |n AS (SELECT COUNT(*) AS n_docs FROM documents),
          |scored AS (
          |  SELECT doc_id, tf.token AS token, tf.tf AS tf, df.df AS df,
          |         CAST(tf.tf * n_docs AS DOUBLE) / df.df AS score
          |  FROM tf JOIN df ON tf.token = df.token CROSS JOIN n)
          |SELECT doc_id,
          |       CAST(ROW_NUMBER() OVER (PARTITION BY doc_id
          |         ORDER BY score DESC, token) AS INT) AS rn,
          |       token, tf, df, score
          |FROM scored
          |QUALIFY rn <= 3
          |ORDER BY doc_id, rn""".stripMargin,
      "tx_bm25" ->
        """WITH toks AS (
          |  SELECT doc_id, unnest(string_split(lower(text), ' ')) AS token
          |  FROM documents),
          |tk AS (SELECT doc_id, token FROM toks WHERE len(token) > 0),
          |tf AS (SELECT doc_id, token, COUNT(*) AS tf FROM tk GROUP BY 1, 2),
          |dl AS (SELECT doc_id, COUNT(*) AS dl FROM tk GROUP BY 1),
          |df AS (SELECT token, COUNT(*) AS df
          |       FROM (SELECT DISTINCT doc_id, token FROM tk) GROUP BY 1),
          |n AS (SELECT COUNT(*) AS n_docs FROM documents),
          |t AS (SELECT COUNT(*) AS t_total FROM tk),
          |scored AS (
          |  SELECT tf.doc_id AS doc_id, tf.token AS token, tf.tf AS tf,
          |         df.df AS df, dl.dl AS dl,
          |         CAST(CAST((2 * n_docs - 2 * df.df + 1)
          |                   * 22 * tf.tf * t_total AS BIGINT) AS DOUBLE)
          |         / CAST(CAST((2 * df.df + 1)
          |                     * (10 * tf.tf * t_total + 3 * t_total
          |                        + 9 * dl.dl * n_docs) AS BIGINT) AS DOUBLE) AS score
          |  FROM tf JOIN dl ON tf.doc_id = dl.doc_id
          |          JOIN df ON tf.token = df.token
          |  CROSS JOIN n CROSS JOIN t)
          |SELECT doc_id,
          |       CAST(ROW_NUMBER() OVER (PARTITION BY doc_id
          |         ORDER BY score DESC, token) AS INT) AS rn,
          |       token, tf, df, dl, score
          |FROM scored
          |QUALIFY rn <= 3
          |ORDER BY doc_id, rn""".stripMargin,
      "pipe_span_corruption" ->
        """WITH b AS (
          |  SELECT doc_id, string_split(lower(text), ' ') AS ws,
          |         len(string_split(lower(text), ' ')) AS n,
          |         CAST(doc_id % 7 AS BIGINT) AS r
          |  FROM documents)
          |SELECT doc_id, CAST(n AS BIGINT) AS n_tokens,
          |  CAST(len([p for p in range(0, n)
          |            if p % 7 = r OR (p >= 1 AND (p - 1) % 7 = r)]) AS BIGINT)
          |    AS n_masked,
          |  array_to_string([
          |    CASE WHEN p % 7 = r
          |           THEN '<extra_id_' || CAST((p - r) // 7 AS VARCHAR) || '>'
          |         ELSE ws[p + 1] END
          |    for p in range(0, n)
          |    if NOT (p >= 1 AND (p - 1) % 7 = r)], ' ') AS corrupted,
          |  array_to_string([
          |    '<extra_id_' || CAST((p - r) // 7 AS VARCHAR) || '> ' || ws[p + 1]
          |      || CASE WHEN p + 1 < n THEN ' ' || ws[p + 2] ELSE '' END
          |    for p in range(0, n) if p % 7 = r], ' ') AS targets
          |FROM b ORDER BY doc_id""".stripMargin,
      "pipe_tokenize_ids" ->
        """WITH freq AS (
          |  SELECT token, COUNT(*) AS freq
          |  FROM (SELECT unnest(string_split(lower(text), ' ')) AS token
          |        FROM documents)
          |  WHERE len(token) > 0 GROUP BY 1),
          |vocab AS (
          |  SELECT token,
          |         CAST(ROW_NUMBER() OVER (ORDER BY freq DESC, token) AS INT) AS id
          |  FROM freq ORDER BY id LIMIT 100),
          |toks AS (
          |  SELECT doc_id, unnest(ws) AS token,
          |         generate_subscripts(ws, 1) AS pos
          |  FROM (SELECT doc_id, string_split(lower(text), ' ') AS ws
          |        FROM documents))
          |SELECT doc_id, COUNT(*) AS n_tokens,
          |       CAST(SUM(CASE WHEN id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
          |       array_to_string(list(CAST(COALESCE(id, 0) AS VARCHAR) ORDER BY pos), ',') AS ids_str
          |FROM toks LEFT JOIN vocab USING (token)
          |GROUP BY doc_id ORDER BY doc_id""".stripMargin,
      "pipe_detokenize" ->
        """WITH freq AS (
          |  SELECT token, COUNT(*) AS freq
          |  FROM (SELECT unnest(string_split(lower(text), ' ')) AS token
          |        FROM documents)
          |  WHERE len(token) > 0 GROUP BY 1),
          |vocab AS (
          |  SELECT token,
          |         CAST(ROW_NUMBER() OVER (ORDER BY freq DESC, token) AS INT) AS id
          |  FROM freq ORDER BY id LIMIT 100),
          |toks AS (
          |  SELECT doc_id, unnest(ws) AS token,
          |         generate_subscripts(ws, 1) AS pos
          |  FROM (SELECT doc_id, string_split(lower(text), ' ') AS ws
          |        FROM documents)),
          |enc AS (
          |  SELECT doc_id, pos, COALESCE(id, 0) AS id,
          |         CASE WHEN id IS NULL THEN '<unk>' ELSE token END AS etok
          |  FROM toks LEFT JOIN vocab USING (token)),
          |dec AS (
          |  SELECT e.doc_id, e.pos, e.id, e.etok,
          |         CASE WHEN e.id = 0 THEN '<unk>' ELSE v.token END AS dtok
          |  FROM enc e LEFT JOIN vocab v ON e.id = v.id)
          |SELECT doc_id, COUNT(*) AS n_tokens,
          |       CAST(SUM(CASE WHEN id = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
          |       array_to_string(list(dtok ORDER BY pos), ' ') AS detok_text,
          |       (array_to_string(list(dtok ORDER BY pos), ' ')
          |         = array_to_string(list(etok ORDER BY pos), ' ')) AS round_trip
          |FROM dec GROUP BY doc_id ORDER BY doc_id""".stripMargin,
      "tx_chunk_tokens" ->
        """WITH w AS (
          |  SELECT doc_id, string_split(lower(text), ' ') AS ws FROM documents),
          |st AS (
          |  SELECT doc_id, ws,
          |         unnest(generate_series(0, len(ws) - 1, 48)) AS s
          |  FROM w)
          |SELECT doc_id, CAST(s // 48 AS INT) AS chunk_id,
          |       CAST(len(ws[(s + 1):(s + 64)]) AS INT) AS n_tokens,
          |       array_to_string(ws[(s + 1):(s + 64)], ' ') AS chunk_text
          |FROM st ORDER BY doc_id, chunk_id""".stripMargin,
      "tx_chunk_dedup" ->
        s"""WITH w AS (
           |  SELECT doc_id, string_split(text, ' ') AS ws
           |  FROM documents WHERE len(text) > 0),
           |ck AS (
           |  SELECT doc_id, CAST(t.ck AS BIGINT) AS ck,
           |         array_to_string(ws[(t.ck * $DEDUP_W + 1):(t.ck * $DEDUP_W + $DEDUP_W)], ' ') AS chunk
           |  FROM w, unnest(range(0, (len(ws) - 1) // $DEDUP_W + 1)) AS t(ck)),
           |h AS (
           |  SELECT doc_id, ck, chunk, ${duckHash("chunk")} AS hh FROM ck),
           |f AS (
           |  SELECT hh, COUNT(*) AS n_occ FROM h GROUP BY hh HAVING COUNT(*) > 1)
           |SELECT h.doc_id, COUNT(*) AS n_chunks,
           |       CAST(SUM(CASE WHEN f.n_occ IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_dup,
           |       COALESCE(string_agg(CASE WHEN f.n_occ IS NULL THEN h.chunk END, ' ' ORDER BY h.ck), '') AS cleaned_text
           |FROM h LEFT JOIN f USING (hh)
           |GROUP BY h.doc_id ORDER BY h.doc_id""".stripMargin,
      "pipe_split" ->
        s"""WITH b AS (
           |  SELECT doc_id, n_chars,
           |         CASE WHEN h < 90 THEN 'train'
           |              WHEN h < 95 THEN 'val' ELSE 'test' END AS split
           |  FROM (SELECT doc_id, n_chars,
           |          ${duckHash("CAST(doc_id AS VARCHAR)")} % 100 AS h
           |        FROM documents))
           |SELECT split, COUNT(*) AS n_docs,
           |       CAST(SUM(n_chars) AS BIGINT) AS n_chars,
           |       MIN(doc_id) AS min_doc, MAX(doc_id) AS max_doc
           |FROM b GROUP BY 1 ORDER BY split""".stripMargin,
      "pipe_bpe_merges" ->
        s"""WITH $bpeTrainCtes
           |SELECT round, l, r, pcnt FROM (
           |  SELECT * FROM b1 UNION ALL SELECT * FROM b2 UNION ALL SELECT * FROM b3)
           |ORDER BY round""".stripMargin,
      "pipe_bpe_encode" ->
        s"""WITH $bpeTrainCtes,
           |vs AS (
           |  SELECT w, CAST(len(list_filter(string_split(seg, chr(1)||chr(1)),
           |                                 x -> x <> '')) AS BIGINT) AS n_sym
           |  FROM w3),
           |dw AS (
           |  SELECT doc_id, w
           |  FROM (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS w
           |        FROM documents)
           |  WHERE len(w) > 0 AND NOT contains(w, chr(1)))
           |SELECT doc_id, COUNT(*) AS n_words,
           |       CAST(SUM(n_sym) AS BIGINT) AS n_tokens,
           |       CAST(SUM(len(w)) AS BIGINT) AS n_chars,
           |       CAST(SUM(len(w)) AS DOUBLE) / CAST(SUM(n_sym) AS BIGINT)
           |         AS chars_per_token
           |FROM dw JOIN vs USING (w)
           |GROUP BY doc_id ORDER BY doc_id""".stripMargin,
      "pipe_seq_length_audit" ->
        """WITH toks AS (
          |  SELECT CAST(len(list_filter(string_split(text, ' '), w -> len(w) > 0)) AS BIGINT) AS n
          |  FROM documents),
          |ks AS (SELECT CAST(unnest([32, 48, 64]) AS BIGINT) AS max_len),
          |agg AS (
          |  SELECT max_len, COUNT(*) AS n_docs,
          |         CAST(SUM(n) AS BIGINT) AS corpus_tokens,
          |         CAST(SUM(CASE WHEN n > max_len THEN 1 ELSE 0 END) AS BIGINT) AS n_truncated,
          |         CAST(SUM(CASE WHEN n > max_len THEN n - max_len ELSE 0 END) AS BIGINT) AS tokens_lost,
          |         CAST(SUM(least(n, max_len)) AS BIGINT) AS kept_tokens
          |  FROM ks CROSS JOIN toks GROUP BY 1)
          |SELECT max_len, n_docs, corpus_tokens, n_truncated, tokens_lost,
          |       kept_tokens,
          |       CAST(tokens_lost AS DOUBLE) / CAST(corpus_tokens AS DOUBLE) AS loss_share,
          |       CAST(n_docs * max_len - kept_tokens AS DOUBLE)
          |         / CAST(n_docs * max_len AS DOUBLE) AS pad_waste_share
          |FROM agg ORDER BY max_len""".stripMargin,
      "pipe_chat_template" ->
        """WITH t AS (
          |  SELECT source, doc_id, text,
          |         CAST(ROW_NUMBER() OVER (PARTITION BY source ORDER BY doc_id) - 1 AS BIGINT) AS rn,
          |         CAST(len(list_filter(string_split(text, ' '), w -> len(w) > 0)) AS BIGINT) AS nw
          |  FROM documents),
          |t2 AS (
          |  SELECT source, rn // 4 AS conv_id, rn % 4 AS turn,
          |         CASE WHEN rn % 2 = 0 THEN 'user' ELSE 'assistant' END AS role,
          |         nw, text
          |  FROM t)
          |SELECT source, CAST(conv_id AS BIGINT) AS conv_id,
          |       COUNT(*) AS n_turns,
          |       CAST(SUM(CASE WHEN role = 'user' THEN nw ELSE 0 END) AS BIGINT) AS n_user_tokens,
          |       CAST(SUM(CASE WHEN role = 'assistant' THEN nw ELSE 0 END) AS BIGINT) AS n_assistant_tokens,
          |       string_agg('<|' || role || '|>' || text, chr(10) ORDER BY turn) AS conv_text
          |FROM t2 GROUP BY source, conv_id
          |HAVING COUNT(*) = 4
          |ORDER BY source, conv_id""".stripMargin,
      "tx_vocab_coverage" ->
        """WITH toks AS (
          |  SELECT token FROM (
          |    SELECT unnest(string_split(lower(text), ' ')) AS token
          |    FROM documents)
          |  WHERE len(token) > 0),
          |freq AS (SELECT token, COUNT(*) AS freq FROM toks GROUP BY 1),
          |ranked AS (
          |  SELECT CAST(ROW_NUMBER() OVER (ORDER BY freq DESC, token) AS BIGINT) AS rank,
          |         CAST(SUM(freq) OVER (ORDER BY freq DESC, token
          |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
          |  FROM freq),
          |tot AS (SELECT CAST(SUM(freq) AS BIGINT) AS n_total,
          |               COUNT(*) AS n_types FROM freq),
          |ks AS (SELECT unnest([1, 2, 5, 10, 20, 30]) AS k)
          |SELECT CAST(k AS BIGINT) AS k, tot.n_types, tot.n_total,
          |       r.cum AS covered,
          |       CAST(r.cum AS DOUBLE) / CAST(tot.n_total AS DOUBLE) AS coverage
          |FROM ks JOIN ranked r ON r.rank = k CROSS JOIN tot
          |ORDER BY k""".stripMargin,
      "tx_fertility" ->
        s"""WITH $bpeTrainCtes,
           |vs AS (
           |  SELECT w, CAST(len(list_filter(string_split(seg, chr(1)||chr(1)),
           |                                 x -> x <> '')) AS BIGINT) AS n_sym
           |  FROM w3),
           |dw AS (
           |  SELECT lang, w
           |  FROM (SELECT lang, unnest(string_split(lower(text), ' ')) AS w
           |        FROM documents)
           |  WHERE len(w) > 0 AND NOT contains(w, chr(1))),
           |agg AS (
           |  SELECT lang, COUNT(*) AS n_words,
           |         CAST(SUM(n_sym) AS BIGINT) AS n_tokens
           |  FROM dw JOIN vs USING (w) GROUP BY lang)
           |SELECT lang, n_words, n_tokens,
           |       CAST(n_tokens AS DOUBLE) / CAST(n_words AS DOUBLE) AS fertility
           |FROM agg ORDER BY lang""".stripMargin,
      "pipe_dpo_pairs" ->
        s"""WITH scored AS (
           |  SELECT source, doc_id,
           |         CAST(len(list_filter(string_split(lower(text), ' '),
           |                              w -> w IN ${inList(stop("en"))})) AS DOUBLE)
           |           / len(string_split(lower(text), ' ')) AS score
           |  FROM documents),
           |top AS (
           |  SELECT source, doc_id AS chosen_id, score AS chosen_score,
           |         ROW_NUMBER() OVER (PARTITION BY source
           |           ORDER BY score DESC, doc_id) AS pair_rank
           |  FROM scored),
           |bot AS (
           |  SELECT source, doc_id AS rejected_id, score AS rejected_score,
           |         ROW_NUMBER() OVER (PARTITION BY source
           |           ORDER BY score, doc_id) AS pair_rank
           |  FROM scored)
           |SELECT source, CAST(pair_rank AS BIGINT) AS pair_rank,
           |       chosen_id, chosen_score, rejected_id, rejected_score,
           |       chosen_score - rejected_score AS margin
           |FROM top JOIN bot USING (source, pair_rank)
           |WHERE pair_rank <= 3
           |ORDER BY source, pair_rank""".stripMargin,
      "pipe_loss_masking" ->
        s"""WITH t AS (
           |  SELECT doc_id,
           |         list_filter(string_split(lower(text), ' '), w -> len(w) > 0) AS ws
           |  FROM documents),
           |ids AS (
           |  SELECT doc_id,
           |         [${duckHash("ws[i]")} % 32768 for i in range(1, len(ws)+1)] AS ids
           |  FROM t)
           |SELECT doc_id,
           |       CAST(len(ids) AS BIGINT) AS n_tokens,
           |       CAST(least(len(ids), 8) AS BIGINT) AS n_masked,
           |       COALESCE(array_to_string(
           |         [CAST(ids[i] AS VARCHAR) for i in range(1, len(ids)+1)], ' '), '')
           |         AS input_ids,
           |       COALESCE(array_to_string(
           |         [CASE WHEN i <= 8 THEN '-100' ELSE CAST(ids[i] AS VARCHAR) END
           |          for i in range(1, len(ids)+1)], ' '), '') AS labels
           |FROM ids ORDER BY doc_id""".stripMargin,
      "pipe_dataset_card" ->
        s"""WITH b AS (
           |  SELECT source, doc_id, text, n_chars,
           |         CASE WHEN h < 90 THEN 'train'
           |              WHEN h < 95 THEN 'val' ELSE 'test' END AS split,
           |         len(string_split(lower(text), ' ')) AS n_tokens,
           |         len(list_filter(string_split(lower(text), ' '),
           |             w -> w IN ${inList(stop("en"))})) AS n_stop
           |  FROM (SELECT *, ${duckHash("CAST(doc_id AS VARCHAR)")} % 100 AS h
           |        FROM documents)),
           |tot AS (SELECT COUNT(*) AS corpus_docs FROM documents)
           |SELECT source, split, COUNT(*) AS n_docs,
           |       CAST(SUM(n_chars) AS BIGINT) AS n_chars,
           |       CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
           |       CAST(COUNT(*) AS DOUBLE) / corpus_docs AS pct_docs,
           |       1.0 - CAST(COUNT(DISTINCT md5(text)) AS DOUBLE) / COUNT(*) AS dup_rate,
           |       CAST(SUM(n_stop) AS DOUBLE) / CAST(SUM(n_tokens) AS BIGINT) AS stop_share
           |FROM b CROSS JOIN tot
           |GROUP BY source, split, corpus_docs
           |ORDER BY source, split""".stripMargin,
      "pipe_chunk_docs" ->
        """WITH st AS (
          |  SELECT doc_id, text,
          |         unnest(generate_series(0, length(text) - 1, 150)) AS s
          |  FROM documents WHERE length(text) > 0)
          |SELECT doc_id, CAST(s // 150 AS INT) AS chunk_id,
          |       substring(text, CAST(s + 1 AS INT), 200) AS chunk_text,
          |       CAST(length(substring(text, CAST(s + 1 AS INT), 200)) AS INT) AS n_chars
          |FROM st ORDER BY doc_id, chunk_id""".stripMargin,
      "tx_repetition" ->
        """SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_words, COUNT(*) AS n_distinct,
          |       MAX(c) AS top_count,
          |       CAST(COUNT(*) AS DOUBLE) / CAST(SUM(c) AS BIGINT) AS distinct_ratio,
          |       CAST(MAX(c) AS DOUBLE) / CAST(SUM(c) AS BIGINT) AS top_share
          |FROM (SELECT doc_id, w, COUNT(*) AS c
          |      FROM (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS w
          |            FROM documents)
          |      GROUP BY 1, 2)
          |GROUP BY doc_id ORDER BY doc_id""".stripMargin,
      "tx_script_mix" ->
        """WITH mixed AS (
          |  SELECT lang,
          |         CASE lang
          |           WHEN 'zh' THEN translate(text, 'abcdefghij', '中文数大小据集网页图')
          |           WHEN 'de' THEN translate(text, 'aeiou', 'äëïöü')
          |           WHEN 'fr' THEN translate(text, 'aeiou', 'àéîôù')
          |           WHEN 'es' THEN translate(text, 'aeiou', 'áéíóú')
          |           ELSE text END AS m
          |  FROM documents WHERE length(text) > 0),
          |per_doc AS (
          |  SELECT lang, CAST(length(m) AS BIGINT) AS n_chars,
          |         CAST(len(regexp_extract_all(m, '[\p{Latin}]')) AS BIGINT) AS n_latin,
          |         CAST(len(regexp_extract_all(m, '[\p{Han}]')) AS BIGINT) AS n_han,
          |         CAST(len(regexp_extract_all(m, ' ')) AS BIGINT) AS n_space
          |  FROM mixed),
          |agg AS (
          |  SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
          |         CAST(SUM(n_chars) AS BIGINT) AS chars,
          |         CAST(SUM(n_latin) AS BIGINT) AS latin,
          |         CAST(SUM(n_han) AS BIGINT) AS han,
          |         CAST(SUM(n_space) AS BIGINT) AS space
          |  FROM per_doc GROUP BY 1)
          |SELECT lang, n_docs, chars,
          |       (latin * 10000) // chars AS latin_bp,
          |       (han * 10000) // chars AS han_bp,
          |       ((chars - latin - han - space) * 10000) // chars AS other_bp,
          |       CASE WHEN han > latin THEN 'Han' ELSE 'Latin' END AS dominant_script
          |FROM agg ORDER BY lang""".stripMargin,
      "tx_redact" ->
        """SELECT doc_id,
          |       CAST(len(regexp_extract_all(text, '\b(customer|stream|vector)\b')) AS BIGINT) AS n_redacted,
          |       CAST(length(regexp_replace(text, '\b(customer|stream|vector)\b', '[X]', 'g')) AS BIGINT) AS clean_len,
          |       substr(regexp_replace(text, '\b(customer|stream|vector)\b', '[X]', 'g'), 1, 50) AS clean_prefix
          |FROM documents ORDER BY doc_id""".stripMargin,
      "tx_vocab" ->
        """SELECT token, COUNT(*) AS freq
          |FROM (SELECT unnest(string_split(lower(text), ' ')) AS token FROM documents)
          |WHERE len(token) > 0
          |GROUP BY token ORDER BY freq DESC, token LIMIT 100""".stripMargin,
      "tx_vocab_drift" ->
        """WITH toks AS (
          |  SELECT source, token FROM (
          |    SELECT source,
          |           unnest(string_split(lower(text), ' ')) AS token
          |    FROM documents)
          |  WHERE len(token) > 0),
          |nst AS (
          |  SELECT source, token, CAST(COUNT(*) AS BIGINT) AS n_st
          |  FROM toks GROUP BY 1, 2),
          |nt AS (SELECT token, CAST(SUM(n_st) AS BIGINT) AS n_t
          |       FROM nst GROUP BY 1),
          |tot AS (SELECT CAST(SUM(n_t) AS BIGINT) AS n FROM nt),
          |per AS (
          |  SELECT source, CAST(SUM(n_st) AS BIGINT) AS n_s,
          |         CAST(COUNT(*) AS BIGINT) AS vocab_s,
          |         CAST(SUM(n_t) AS BIGINT) AS t_s
          |  FROM nst JOIN nt USING (token) GROUP BY 1),
          |dev AS (
          |  SELECT nst.source,
          |         CAST(SUM(ABS(n_st * n - p.n_s * n_t)) AS BIGINT)
          |           AS sum_dev_present
          |  FROM nst JOIN nt USING (token)
          |  JOIN per p ON p.source = nst.source
          |  CROSS JOIN tot GROUP BY 1)
          |SELECT p.source, p.n_s AS n_tokens, p.vocab_s,
          |       CAST(sum_dev_present + p.n_s * (n - p.t_s) AS BIGINT)
          |         AS sum_dev,
          |       CAST(sum_dev_present + p.n_s * (n - p.t_s) AS DOUBLE)
          |         / CAST(2 * p.n_s * n AS DOUBLE) AS tv
          |FROM per p JOIN dev ON dev.source = p.source
          |CROSS JOIN tot ORDER BY p.source""".stripMargin,
      "tx_readability" ->
        """WITH c AS (
          |  SELECT doc_id,
          |    GREATEST(1, len(regexp_extract_all(lower(text), '[a-z]+'))) AS n_words,
          |    GREATEST(1, len(regexp_extract_all(text, '[.!?]+'))) AS n_sentences,
          |    len(regexp_extract_all(lower(text), '[aeiou]+')) AS n_syllables
          |  FROM documents),
          |r AS (
          |  SELECT doc_id, CAST(n_words AS BIGINT) AS n_words,
          |    CAST(n_sentences AS BIGINT) AS n_sentences,
          |    CAST(n_syllables AS BIGINT) AS n_syllables,
          |    CAST(n_words AS DOUBLE) / CAST(n_sentences AS DOUBLE) AS wps,
          |    CAST(n_syllables AS DOUBLE) / CAST(n_words AS DOUBLE) AS spw
          |  FROM c)
          |SELECT doc_id, n_words, n_sentences, n_syllables,
          |  CAST('206.835' AS DOUBLE) - CAST('1.015' AS DOUBLE) * wps
          |    - CAST('84.6' AS DOUBLE) * spw AS flesch,
          |  CAST('0.39' AS DOUBLE) * wps + CAST('11.8' AS DOUBLE) * spw
          |    - CAST('15.59' AS DOUBLE) AS fk_grade
          |FROM r ORDER BY doc_id""".stripMargin,
      "tx_novelty" ->
        """WITH g AS (
          |  SELECT doc_id,
          |         unnest([l[i] || ' ' || l[i+1] || ' ' || l[i+2]
          |                 for i in generate_series(1, len(l) - 2)]) AS gram
          |  FROM (SELECT doc_id, string_split(lower(text), ' ') AS l
          |        FROM documents)
          |  WHERE len(l) >= 3),
          |fh AS (SELECT gram, MIN(doc_id) AS first_doc FROM g GROUP BY 1)
          |SELECT g.doc_id, CAST(COUNT(*) AS BIGINT) AS n_grams,
          |       CAST(SUM(CASE WHEN fh.first_doc < g.doc_id THEN 1 ELSE 0 END)
          |            AS BIGINT) AS n_seen_before,
          |       1.0 - CAST(SUM(CASE WHEN fh.first_doc < g.doc_id THEN 1 ELSE 0 END)
          |                  AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS novelty
          |FROM g JOIN fh USING (gram)
          |GROUP BY g.doc_id ORDER BY g.doc_id""".stripMargin,
      "tx_zipf_fit" ->
        """WITH head AS (
          |  SELECT token, CAST(COUNT(*) AS BIGINT) AS freq
          |  FROM (SELECT unnest(string_split(lower(text), ' ')) AS token FROM documents)
          |  WHERE len(token) > 0
          |  GROUP BY token ORDER BY freq DESC, token LIMIT 4096),
          |r AS (
          |  SELECT freq,
          |         row_number() OVER (ORDER BY freq DESC, token) AS rank
          |  FROM head),
          |b AS (
          |  SELECT CAST(length(bin(rank)) AS DECIMAL(19,0)) AS x,
          |         CAST(length(bin(freq)) AS DECIMAL(19,0)) AS y
          |  FROM r),
          |p AS (
          |  SELECT COUNT(*) AS n_terms, SUM(x) AS sx, SUM(y) AS sy,
          |         SUM(x * y) AS sxy, SUM(x * x) AS sxx
          |  FROM b),
          |f AS (
          |  SELECT n_terms, sx, sy,
          |         CAST(n_terms * sxy - sx * sy AS DOUBLE)
          |           / CAST(n_terms * sxx - sx * sx AS DOUBLE) AS slope_bits
          |  FROM p)
          |SELECT n_terms, slope_bits,
          |       (CAST(sy AS DOUBLE) - slope_bits * CAST(sx AS DOUBLE))
          |         / CAST(n_terms AS DOUBLE) AS intercept_bits,
          |       -slope_bits AS zipf_exponent
          |FROM f""".stripMargin,
      "pipe_temperature_mix" ->
        """WITH counts AS (SELECT lang, COUNT(*) AS n_docs FROM documents GROUP BY 1),
          |tot AS (SELECT CAST(SUM(n_docs) AS BIGINT) AS n_total,
          |        list_reduce(list_prepend(0.0,
          |          list(sqrt(CAST(n_docs AS DOUBLE)) ORDER BY lang)),
          |          (acc, v) -> acc + v) AS w_total
          |        FROM counts),
          |plan0 AS (
          |  SELECT lang, n_docs, sqrt(CAST(n_docs AS DOUBLE)) AS w,
          |         sqrt(CAST(n_docs AS DOUBLE)) / w_total AS share,
          |         CAST(floor(sqrt(CAST(n_docs AS DOUBLE)) / w_total
          |              * CAST(n_total // 2 AS DOUBLE)) AS BIGINT) AS target
          |  FROM counts CROSS JOIN tot),
          |th AS (SELECT lang, n_docs, w, share, target,
          |         CAST(floor(least(CAST(1 AS DOUBLE), CAST(target AS DOUBLE) / n_docs)
          |              * CAST(10000 AS DOUBLE)) AS BIGINT) AS th
          |       FROM plan0),
          |kept AS (
          |  SELECT d.lang,
          |         CAST(SUM(CASE WHEN CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT) % 10000 < th
          |                  THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
          |  FROM documents d JOIN th USING (lang) GROUP BY d.lang)
          |SELECT th.lang, n_docs, w, share, target, n_kept
          |FROM th JOIN kept USING (lang) ORDER BY lang""".stripMargin,
      "pipe_importance_resample" ->
        """WITH q AS (
          |  SELECT doc_id, source,
          |         least(CAST(1.0 AS DOUBLE),
          |               CAST(len(string_split(text, ' ')) AS DOUBLE) / 64.0) AS q
          |  FROM documents),
          |counts AS (SELECT source, COUNT(*) AS n_docs FROM documents GROUP BY 1),
          |tot AS (SELECT CAST(SUM(n_docs) AS BIGINT) AS n_total,
          |               COUNT(*) AS n_sources FROM counts),
          |plan0 AS (
          |  SELECT source, n_docs,
          |         CAST(n_docs AS DOUBLE) / CAST(n_total AS DOUBLE) AS raw_share,
          |         CAST(n_total AS DOUBLE)
          |           / CAST(n_docs * n_sources AS DOUBLE) AS weight
          |  FROM counts CROSS JOIN tot),
          |scored AS (
          |  SELECT q.doc_id, q.source, q.q, p.weight, p.weight * q.q AS w_doc
          |  FROM q JOIN plan0 p USING (source)),
          |wm AS (SELECT MAX(w_doc) AS w_max FROM scored),
          |kept AS (
          |  SELECT source,
          |         CAST(SUM(CASE WHEN hh < th THEN 1 ELSE 0 END) AS BIGINT)
          |           AS n_kept,
          |         CAST(SUM(CASE WHEN hh < th
          |                  THEN CAST(floor(q * 1000.0) AS BIGINT)
          |                  ELSE 0 END) AS BIGINT) AS kept_q_milli
          |  FROM (
          |    SELECT source, q,
          |           CAST(floor(w_doc / w_max * 10000.0) AS BIGINT) AS th,
          |           CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)
          |                AS BIGINT) % 10000 AS hh
          |    FROM scored CROSS JOIN wm)
          |  GROUP BY source)
          |SELECT p.source, p.n_docs, p.raw_share, p.weight, n_kept, kept_q_milli
          |FROM plan0 p JOIN kept USING (source) ORDER BY p.source""".stripMargin,
      "pipe_provenance" ->
        """WITH rows_ AS (
          |  SELECT CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT) % 16 AS shard,
          |         source,
          |         CAST(len(list_filter(string_split(text, ' '), w -> len(w) > 0)) AS BIGINT) AS n_words
          |  FROM documents),
          |g AS (
          |  SELECT shard, source, COUNT(*) AS n_docs,
          |         CAST(SUM(n_words) AS BIGINT) AS n_tokens
          |  FROM rows_ GROUP BY 1, 2),
          |t AS (SELECT shard, CAST(SUM(n_docs) AS BIGINT) AS shard_docs FROM g GROUP BY 1)
          |SELECT g.shard, g.source, g.n_docs, g.n_tokens,
          |       CAST(g.n_docs AS DOUBLE) / CAST(t.shard_docs AS DOUBLE) AS shard_share
          |FROM g JOIN t USING (shard)
          |ORDER BY g.shard, g.source""".stripMargin,
      "pipe_worker_balance" ->
        """WITH docs AS (
          |  SELECT CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT) % 16 AS shard,
          |         CAST(len(list_filter(string_split(text, ' '), w -> len(w) > 0)) AS BIGINT) AS n_words
          |  FROM documents),
          |sh AS (
          |  SELECT shard, CAST(SUM(n_words) AS BIGINT) AS n_tokens
          |  FROM docs GROUP BY 1),
          |sweep AS (
          |  SELECT CAST(w AS BIGINT) AS n_workers, shard % w AS worker,
          |         n_tokens
          |  FROM sh CROSS JOIN (VALUES (2), (4), (8)) AS v(w)),
          |per AS (
          |  SELECT n_workers, worker, CAST(SUM(n_tokens) AS BIGINT) AS w_tokens
          |  FROM sweep GROUP BY 1, 2),
          |agg AS (
          |  SELECT n_workers, CAST(MAX(w_tokens) AS BIGINT) AS max_tokens,
          |         CAST(SUM(w_tokens) AS BIGINT) AS total_tokens
          |  FROM per GROUP BY 1)
          |SELECT n_workers, max_tokens, total_tokens,
          |       CAST(max_tokens * n_workers AS DOUBLE)
          |         / CAST(total_tokens AS DOUBLE) AS skew
          |FROM agg ORDER BY n_workers""".stripMargin,
      "pipe_shard_manifest" ->
        """WITH docs AS (
          |  SELECT CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT) % 16 AS shard,
          |         CAST(len(list_filter(string_split(text, ' '), w -> len(w) > 0)) AS BIGINT) AS n_words,
          |         n_chars,
          |         CAST('0x' || substr(md5(concat_ws('|', CAST(doc_id AS VARCHAR), lang, source, text)), 1, 15) AS BIGINT) AS rh
          |  FROM documents)
          |SELECT shard, COUNT(*) AS n_docs,
          |       CAST(SUM(n_words) AS BIGINT) AS n_tokens,
          |       CAST(SUM(n_chars) AS BIGINT) AS n_chars,
          |       CAST(CAST(SUM(rh) AS HUGEINT) AS VARCHAR) AS checksum
          |FROM docs GROUP BY shard ORDER BY shard""".stripMargin,
      "pipe_token_budget" ->
        """WITH toks AS (
          |  SELECT source,
          |         CAST(len(list_filter(string_split(text, ' '), w -> len(w) > 0)) AS BIGINT) AS n
          |  FROM documents),
          |counts AS (
          |  SELECT source, COUNT(*) AS n_docs, CAST(SUM(n) AS BIGINT) AS n_tokens
          |  FROM toks GROUP BY 1),
          |tot AS (SELECT CAST(SUM(n_tokens) AS BIGINT) AS corpus_tokens,
          |        list_reduce(list_prepend(0.0,
          |          list(sqrt(CAST(n_tokens AS DOUBLE)) ORDER BY source)),
          |          (acc, v) -> acc + v) AS w_total
          |        FROM counts),
          |plan0 AS (
          |  SELECT source, n_docs, n_tokens,
          |         sqrt(CAST(n_tokens AS DOUBLE)) / w_total AS share,
          |         CAST(floor(sqrt(CAST(n_tokens AS DOUBLE)) / w_total
          |              * CAST((corpus_tokens * 3) // 2 AS DOUBLE)) AS BIGINT) AS target_tokens
          |  FROM counts CROSS JOIN tot)
          |SELECT source, n_docs, n_tokens, share, target_tokens,
          |       CAST(target_tokens AS DOUBLE) / CAST(n_tokens AS DOUBLE) AS epochs,
          |       least(target_tokens, n_tokens * 4) AS effective_tokens,
          |       target_tokens - least(target_tokens, n_tokens * 4) AS deficit_tokens
          |FROM plan0 ORDER BY source""".stripMargin,
      "pipe_curriculum" ->
        """WITH docs AS (
          |  SELECT doc_id,
          |         CAST(len(list_filter(string_split(text, ' '), w -> len(w) > 0)) AS BIGINT) AS nw
          |  FROM documents),
          |st AS (
          |  SELECT doc_id,
          |         least(CAST(1.0 AS DOUBLE), CAST(nw AS DOUBLE) / 64.0) AS q,
          |         least(CAST(4 AS BIGINT), 1 + CAST(floor(
          |           least(CAST(1.0 AS DOUBLE), CAST(nw AS DOUBLE) / 64.0) * 4.0) AS BIGINT)) AS stage,
          |         CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT) % 10000 AS hh
          |  FROM docs),
          |ranked AS (
          |  SELECT doc_id, stage, q,
          |         CAST(ROW_NUMBER() OVER (PARTITION BY stage ORDER BY hh, doc_id) AS BIGINT) AS stage_rank
          |  FROM st),
          |offs AS (
          |  SELECT stage,
          |         CAST(COALESCE(SUM(sz) OVER (ORDER BY stage
          |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS off
          |  FROM (SELECT stage, COUNT(*) AS sz FROM st GROUP BY 1))
          |SELECT r.doc_id, r.stage, r.q, r.stage_rank,
          |       r.stage_rank + o.off AS global_pos
          |FROM ranked r JOIN offs o USING (stage)
          |ORDER BY global_pos""".stripMargin,
      "tx_hapax" ->
        """WITH toks AS (
          |  SELECT source, token FROM (
          |    SELECT source, unnest(string_split(lower(text), ' ')) AS token
          |    FROM documents)
          |  WHERE len(token) > 0),
          |freq AS (SELECT token, COUNT(*) AS freq FROM toks GROUP BY 1),
          |hap AS (SELECT token FROM freq WHERE freq = 1),
          |types AS (
          |  SELECT source, COUNT(*) AS n_types
          |  FROM (SELECT DISTINCT source, token FROM toks) GROUP BY 1),
          |agg AS (
          |  SELECT t.source, COUNT(*) AS n_tokens,
          |         CAST(SUM(CASE WHEN h.token IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hapax
          |  FROM toks t LEFT JOIN hap h USING (token) GROUP BY 1)
          |SELECT a.source, a.n_tokens, ty.n_types, a.n_hapax,
          |       CAST(ty.n_types AS DOUBLE) / CAST(a.n_tokens AS DOUBLE) AS ttr,
          |       CAST(a.n_hapax AS DOUBLE) / CAST(a.n_tokens AS DOUBLE) AS hapax_rate
          |FROM agg a JOIN types ty USING (source) ORDER BY a.source""".stripMargin,
      "tx_simpson" ->
        """WITH toks AS (
          |  SELECT source, token FROM (
          |    SELECT source, unnest(string_split(lower(text), ' ')) AS token
          |    FROM documents)
          |  WHERE len(token) > 0),
          |cnt AS (SELECT source, token, COUNT(*) AS c FROM toks GROUP BY 1, 2),
          |m AS (
          |  SELECT source, CAST(SUM(c) AS BIGINT) AS n_tokens,
          |         CAST(SUM(c * (c - 1)) AS BIGINT) AS sum_cc1
          |  FROM cnt GROUP BY 1)
          |SELECT source, n_tokens, sum_cc1,
          |       CAST(sum_cc1 AS DOUBLE)
          |         / CAST(n_tokens * (n_tokens - 1) AS DOUBLE) AS repeat_prob
          |FROM m ORDER BY source""".stripMargin,
      "tx_oov_rate" ->
        """WITH toks AS (
          |  SELECT source, token FROM (
          |    SELECT source, unnest(string_split(lower(text), ' ')) AS token
          |    FROM documents)
          |  WHERE len(token) > 0),
          |voc AS (
          |  SELECT token FROM (
          |    SELECT token, COUNT(*) AS freq FROM toks GROUP BY token
          |    ORDER BY freq DESC, token LIMIT 100))
          |SELECT source, COUNT(*) AS n_tokens,
          |       CAST(SUM(CASE WHEN v.token IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
          |       CAST(SUM(CASE WHEN v.token IS NULL THEN 1 ELSE 0 END) AS DOUBLE)
          |         / COUNT(*) AS oov_rate
          |FROM toks LEFT JOIN voc v USING (token)
          |GROUP BY source ORDER BY source""".stripMargin,
      "tx_boilerplate" ->
        s"""WITH w AS (
           |  SELECT doc_id, string_split(text, ' ') AS ws
           |  FROM documents WHERE len(text) > 0),
           |ck AS (
           |  SELECT doc_id,
           |         array_to_string(ws[(t.ck * $DEDUP_W + 1):(t.ck * $DEDUP_W + $DEDUP_W)], ' ') AS chunk
           |  FROM w, unnest(range(0, (len(ws) - 1) // $DEDUP_W + 1)) AS t(ck)),
           |h AS (SELECT doc_id, chunk, ${duckHash("chunk")} AS h FROM ck),
           |agg AS (
           |  SELECT h, COUNT(DISTINCT doc_id) AS df, COUNT(*) AS n_occ,
           |         MIN(chunk) AS chunk
           |  FROM h GROUP BY h)
           |SELECT h, CAST(df AS BIGINT) AS df, CAST(n_occ AS BIGINT) AS n_occ, chunk
           |FROM agg WHERE df >= 3
           |ORDER BY df DESC, h LIMIT 20""".stripMargin,
      "tx_heaps_curve" ->
        """WITH mx AS (SELECT MAX(doc_id) AS mx FROM documents),
          |toks AS (
          |  SELECT LEAST((doc_id * 10) // (mx + 1), 9) AS cp,
          |         unnest(list_filter(string_split(lower(text), ' '),
          |                x -> len(x) > 0)) AS w
          |  FROM documents CROSS JOIN mx WHERE length(text) > 0),
          |tpc AS (SELECT cp, CAST(COUNT(*) AS BIGINT) AS toks
          |        FROM toks GROUP BY 1),
          |fst AS (SELECT w, MIN(cp) AS cp FROM toks GROUP BY 1),
          |npc AS (SELECT cp, CAST(COUNT(*) AS BIGINT) AS new_types
          |        FROM fst GROUP BY 1)
          |SELECT CAST(t.cp AS INT) AS checkpoint,
          |       CAST(SUM(t.toks) OVER (ORDER BY t.cp
          |            ROWS UNBOUNDED PRECEDING) AS BIGINT) AS tokens_seen,
          |       CAST(SUM(COALESCE(n.new_types, 0)) OVER (ORDER BY t.cp
          |            ROWS UNBOUNDED PRECEDING) AS BIGINT) AS types_seen
          |FROM tpc t LEFT JOIN npc n ON t.cp = n.cp
          |ORDER BY checkpoint""".stripMargin,
      "tx_burstiness" ->
        """WITH docs AS (
          |  SELECT doc_id, text FROM documents WHERE length(text) > 0),
          |nd AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs FROM docs),
          |per AS (
          |  SELECT w, doc_id, CAST(COUNT(*) AS BIGINT) AS c FROM (
          |    SELECT doc_id,
          |           unnest(list_filter(string_split(lower(text), ' '),
          |                  x -> len(x) > 0)) AS w
          |    FROM docs) GROUP BY 1, 2),
          |agg AS (
          |  SELECT w, CAST(COUNT(*) AS BIGINT) AS n_docs_present,
          |         CAST(SUM(c) AS BIGINT) AS total,
          |         CAST(SUM(c * c) AS BIGINT) AS sumsq
          |  FROM per GROUP BY 1)
          |SELECT w, n_docs_present, total,
          |       CAST((CAST(n_docs AS HUGEINT) * sumsq
          |              - CAST(total AS HUGEINT) * total) * 1000000
          |            // (CAST(n_docs - 1 AS HUGEINT) * total) AS BIGINT)
          |         AS vmr_micro
          |FROM agg CROSS JOIN nd
          |ORDER BY total DESC, w LIMIT 20""".stripMargin,
      "tx_kn_bigram" ->
        """WITH ws0 AS (
          |  SELECT list_filter(string_split(lower(text), ' '), w -> len(w) > 0) AS ws
          |  FROM documents),
          |w2f AS (SELECT ws FROM ws0 WHERE len(ws) >= 2),
          |pairs AS (
          |  SELECT p.w1 AS w1, p.w2 AS w2, CAST(COUNT(*) AS BIGINT) AS c12 FROM (
          |    SELECT unnest(list_transform(range(1, len(ws)),
          |           i -> {'w1': ws[i], 'w2': ws[i+1]})) AS p
          |    FROM w2f) GROUP BY 1, 2),
          |lft AS (
          |  SELECT w1, CAST(SUM(c12) AS BIGINT) AS c1,
          |         CAST(COUNT(*) AS BIGINT) AS n1_right
          |  FROM pairs GROUP BY 1),
          |rgt AS (
          |  SELECT w2, CAST(COUNT(*) AS BIGINT) AS n1_left FROM pairs GROUP BY 1),
          |typ AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_types FROM pairs)
          |SELECT p.w1, p.w2, p.c12, l.c1, l.n1_right, r.n1_left,
          |       CAST(((CAST(p.c12 AS HUGEINT) * 4 - 3) * n_types
          |              + 3 * CAST(l.n1_right AS HUGEINT) * r.n1_left)
          |            * 1000000
          |            // (4 * CAST(l.c1 AS HUGEINT) * n_types) AS BIGINT)
          |         AS pkn_micro
          |FROM pairs p
          |JOIN lft l ON l.w1 = p.w1
          |JOIN rgt r ON r.w2 = p.w2
          |CROSS JOIN typ
          |ORDER BY p.c12 DESC, p.w1, p.w2 LIMIT 20""".stripMargin,
      "tx_collocations" ->
        """WITH ws0 AS (
          |  SELECT list_filter(string_split(lower(text), ' '), w -> len(w) > 0) AS ws
          |  FROM documents),
          |w2f AS (SELECT ws FROM ws0 WHERE len(ws) >= 2),
          |pairs AS (
          |  SELECT p.w1 AS w1, p.w2 AS w2, COUNT(*) AS pc FROM (
          |    SELECT unnest(list_transform(range(1, len(ws)),
          |           i -> {'w1': ws[i], 'w2': ws[i+1]})) AS p
          |    FROM w2f) GROUP BY 1, 2),
          |uni AS (
          |  SELECT w, COUNT(*) AS c FROM (
          |    SELECT unnest(ws) AS w FROM ws0) GROUP BY 1),
          |tot AS (SELECT CAST(SUM(c) AS BIGINT) AS n_total FROM uni)
          |SELECT p.w1, p.w2, p.pc, u1.c AS c1, u2.c AS c2,
          |       CAST(n_total * p.pc AS DOUBLE)
          |         / CAST(u1.c * u2.c AS DOUBLE) AS lift
          |FROM pairs p
          |JOIN uni u1 ON u1.w = p.w1
          |JOIN uni u2 ON u2.w = p.w2
          |CROSS JOIN tot
          |WHERE p.pc >= 5
          |ORDER BY lift DESC, p.w1, p.w2 LIMIT 20""".stripMargin,
      "tx_lang_confusion" ->
        s"""WITH scored AS (
           |  SELECT lang AS lang_label,
           |         ${score("en")} AS score_en, ${score("de")} AS score_de,
           |         ${score("fr")} AS score_fr, ${score("es")} AS score_es
           |  FROM documents),
           |pred AS (
           |  SELECT lang_label,
           |    CASE
           |      WHEN score_en >= score_de AND score_en >= score_fr AND score_en >= score_es THEN 'en'
           |      WHEN score_de >= score_fr AND score_de >= score_es THEN 'de'
           |      WHEN score_fr >= score_es THEN 'fr'
           |      ELSE 'es' END AS lang_pred
           |  FROM scored),
           |tot AS (SELECT lang_label, COUNT(*) AS n_label FROM pred GROUP BY 1),
           |cells AS (
           |  SELECT lang_label, lang_pred, COUNT(*) AS n_docs
           |  FROM pred GROUP BY 1, 2)
           |SELECT c.lang_label, c.lang_pred, c.n_docs, t.n_label,
           |       CAST(c.n_docs AS DOUBLE) / CAST(t.n_label AS DOUBLE) AS row_share
           |FROM cells c JOIN tot t USING (lang_label)
           |ORDER BY c.lang_label, c.lang_pred""".stripMargin,
      "tx_langid" ->
        s"""WITH scored AS (
           |  SELECT doc_id, lang AS lang_label,
           |         ${score("en")} AS score_en, ${score("de")} AS score_de,
           |         ${score("fr")} AS score_fr, ${score("es")} AS score_es
           |  FROM documents)
           |SELECT doc_id, lang_label, score_en, score_de, score_fr, score_es,
           |  CASE
           |    WHEN score_en >= score_de AND score_en >= score_fr AND score_en >= score_es THEN 'en'
           |    WHEN score_de >= score_fr AND score_de >= score_es THEN 'de'
           |    WHEN score_fr >= score_es THEN 'fr'
           |    ELSE 'es' END AS lang_pred
           |FROM scored ORDER BY doc_id""".stripMargin,
      "pipe_filter_funnel" ->
        s"""WITH ws0 AS (
           |  SELECT doc_id,
           |         list_filter(string_split(lower(text), ' '), w -> len(w) > 0) AS ws
           |  FROM documents),
           |w2 AS (SELECT doc_id, ws FROM ws0 WHERE len(ws) >= 2),
           |lmpairs AS (
           |  SELECT doc_id,
           |         unnest(list_transform(range(1, len(ws)),
           |                i -> {'w1': ws[i], 'w2': ws[i+1]})) AS p
           |  FROM w2),
           |pf AS (SELECT doc_id, p.w1 AS w1, p.w2 AS w2 FROM lmpairs),
           |pc AS (SELECT w1, w2, COUNT(*) AS pc FROM pf GROUP BY 1, 2),
           |ccx AS (SELECT w1, CAST(SUM(pc) AS BIGINT) AS cc FROM pc GROUP BY 1),
           |lmsc AS (
           |  SELECT doc_id, COUNT(*) AS n_pairs,
           |         CAST(SUM(length(bin(cc)) - length(bin(pc.pc))) AS BIGINT)
           |           AS lm_bits
           |  FROM pf JOIN pc USING (w1, w2) JOIN ccx USING (w1)
           |  GROUP BY doc_id),
           |sc AS (SELECT doc_id, lm_bits * 1000 // n_pairs AS milli_bits FROM lmsc),
           |hist AS (SELECT milli_bits, COUNT(*) AS h FROM sc GROUP BY 1),
           |cum AS (SELECT milli_bits,
           |               SUM(h) OVER (ORDER BY milli_bits) AS cum FROM hist),
           |tot AS (SELECT COUNT(*) AS n_docs FROM sc),
           |lmkeep AS (
           |  SELECT sc.doc_id,
           |         CAST(CAST((10 * cum + n_docs - 1) // n_docs AS INT) <= 7 AS INT)
           |           AS c5
           |  FROM sc JOIN cum USING (milli_bits) CROSS JOIN tot),
           |f AS (
           |  SELECT CAST(lang = 'en' AS INT) AS c1,
           |    CAST(len(string_split(lower(text), ' ')) >= 10 AS INT) AS c2,
           |    CAST(CAST(length(replace(text, ' ', '')) AS DOUBLE)
           |           / len(string_split(lower(text), ' ')) >= 2.0
           |         AND CAST(length(replace(text, ' ', '')) AS DOUBLE)
           |           / len(string_split(lower(text), ' ')) <= 12.0 AS INT) AS c3,
           |    CAST(CAST(${score("en")} AS DOUBLE)
           |           / len(string_split(lower(text), ' ')) >= 0.05 AS INT) AS c4,
           |    COALESCE(lmkeep.c5, 0) AS c5
           |  FROM documents LEFT JOIN lmkeep USING (doc_id)),
           |agg AS (
           |  SELECT CAST(COUNT(*) AS BIGINT) AS n0,
           |         CAST(SUM(c1) AS BIGINT) AS n1,
           |         CAST(SUM(c1 * c2) AS BIGINT) AS n2,
           |         CAST(SUM(c1 * c2 * c3) AS BIGINT) AS n3,
           |         CAST(SUM(c1 * c2 * c3 * c4) AS BIGINT) AS n4,
           |         CAST(SUM(c1 * c2 * c3 * c4 * c5) AS BIGINT) AS n5
           |  FROM f),
           |st AS (
           |  SELECT '00_total' AS stage, n0 AS survivors FROM agg
           |  UNION ALL SELECT '10_lang_en', n1 FROM agg
           |  UNION ALL SELECT '20_min_words', n2 FROM agg
           |  UNION ALL SELECT '30_word_len', n3 FROM agg
           |  UNION ALL SELECT '40_stop_ratio', n4 FROM agg
           |  UNION ALL SELECT '50_lm_decile', n5 FROM agg)
           |SELECT stage, survivors,
           |       COALESCE(LAG(survivors) OVER (ORDER BY stage) - survivors,
           |                CAST(0 AS BIGINT)) AS dropped
           |FROM st ORDER BY stage""".stripMargin,
      "tx_quality" ->
        s"""SELECT doc_id,
           |  CAST(length(text) AS BIGINT) AS n_chars,
           |  CAST(len(string_split(lower(text), ' ')) AS BIGINT) AS n_words,
           |  CAST(length(replace(text, ' ', '')) AS DOUBLE)
           |    / len(string_split(lower(text), ' ')) AS mean_word_len,
           |  CAST(len(regexp_extract_all(text, '[.!?,;:]')) AS DOUBLE) / length(text) AS punct_ratio,
           |  CAST(${score("en")} AS DOUBLE) / len(string_split(lower(text), ' ')) AS stop_ratio,
           |  (len(string_split(lower(text), ' ')) >= 10
           |   AND CAST(length(replace(text, ' ', '')) AS DOUBLE) / len(string_split(lower(text), ' ')) >= 2.0
           |   AND CAST(length(replace(text, ' ', '')) AS DOUBLE) / len(string_split(lower(text), ' ')) <= 12.0
           |   AND CAST(${score("en")} AS DOUBLE) / len(string_split(lower(text), ' ')) >= 0.05) AS quality_ok
           |FROM documents ORDER BY doc_id""".stripMargin,
      "tx_tokens" ->
        """SELECT doc_id,
          |  CAST(len(string_split(text, ' ')) AS BIGINT) AS ws_tokens,
          |  CAST(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS BIGINT) AS re_tokens,
          |  CAST(length(text) AS DOUBLE)
          |    / len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS chars_per_token
          |FROM documents ORDER BY doc_id""".stripMargin,
      "tx_fingerprint" ->
        s"""SELECT doc_id,
           |  list_reduce(
           |    list_prepend(0::BIGINT,
           |      [${duckHash("w")} % 1000000 for w in string_split(lower(text), ' ')]),
           |    (acc, x) -> (acc * 31 + x) % 1000000000000) AS fingerprint
           |FROM documents ORDER BY doc_id""".stripMargin,
      "pipe_corpus_clean" ->
        s"""WITH clean AS (
           |  SELECT doc_id, text,
           |    CAST(len(string_split(lower(text), ' ')) AS BIGINT) AS n_words,
           |    CAST(${score("en")} AS DOUBLE)
           |      / len(string_split(lower(text), ' ')) AS stop_ratio
           |  FROM documents
           |  WHERE len(string_split(lower(text), ' ')) >= 10
           |    AND CAST(length(replace(text, ' ', '')) AS DOUBLE)
           |      / len(string_split(lower(text), ' ')) BETWEEN 2.0 AND 12.0
           |    AND CAST(${score("en")} AS DOUBLE)
           |      / len(string_split(lower(text), ' ')) >= 0.05),
           |${Dedup.shingCteFor("clean", "shing_c")},
           |${Dedup.sigCteFor("shing_c", "sig_c")},
           |${Dedup.bandCteFor("sig_c", "bands_c")},
           |cand AS (
           |  SELECT DISTINCT a.doc_id AS ia, b.doc_id AS ib
           |  FROM bands_c a JOIN bands_c b
           |    ON a.b = b.b AND a.bh = b.bh AND a.doc_id < b.doc_id),
           |dups AS (
           |  SELECT DISTINCT ib FROM (
           |    SELECT cand.ib,
           |      CAST(len(list_intersect(sa.shashes, sb.shashes)) AS DOUBLE)
           |        / (len(sa.shashes) + len(sb.shashes)
           |           - len(list_intersect(sa.shashes, sb.shashes))) AS j
           |    FROM cand JOIN shing_c sa ON cand.ia = sa.doc_id
           |              JOIN shing_c sb ON cand.ib = sb.doc_id) sc
           |  WHERE j >= 0.5)
           |SELECT doc_id, n_words,
           |  CAST(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS BIGINT) AS re_tokens,
           |  stop_ratio
           |FROM clean WHERE doc_id NOT IN (SELECT ib FROM dups)
           |ORDER BY doc_id""".stripMargin,
      "tx_pii_detect" -> {
        val h = duckHash("CAST(doc_id AS VARCHAR)")
        val d15 = s"lpad(CAST($h % 1000000000000000 AS VARCHAR), 15, '0')"
        val s15 =
          s"""list_sum([CASE WHEN i % 2 = 1
             |  THEN CASE WHEN 2 * CAST(substr($d15, i, 1) AS BIGINT) > 9
             |    THEN 2 * CAST(substr($d15, i, 1) AS BIGINT) - 9
             |    ELSE 2 * CAST(substr($d15, i, 1) AS BIGINT) END
             |  ELSE CAST(substr($d15, i, 1) AS BIGINT) END
             |  for i in range(1, 16)])""".stripMargin
        // DuckDB string literals do not process backslash escapes —
        // single-backslash regex, and regexp_replace needs the 'g' flag
        val emailPat = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[a-z]{2,}"
        val phonePat = "\\+1-555-[0-9]{4}"
        val ipPat = "\\b10\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b"
        val cardPat = "\\b[0-9]{16}\\b"
        def luhn16(c: String) =
          s"""list_sum([CASE WHEN i % 2 = 1
             |  THEN CASE WHEN 2 * CAST(substr($c, i, 1) AS BIGINT) > 9
             |    THEN 2 * CAST(substr($c, i, 1) AS BIGINT) - 9
             |    ELSE 2 * CAST(substr($c, i, 1) AS BIGINT) END
             |  ELSE CAST(substr($c, i, 1) AS BIGINT) END
             |  for i in range(1, 17)]) % 10 = 0""".stripMargin
        s"""WITH inj AS (
           |  SELECT doc_id, text ||
           |    CASE WHEN doc_id % 3 = 1 THEN ' user'
           |      || CAST(doc_id AS VARCHAR) || '@ex'
           |      || CAST(doc_id % 7 AS VARCHAR) || '.com' ELSE '' END ||
           |    CASE WHEN doc_id % 4 = 0 THEN ' +1-555-'
           |      || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
           |      ELSE '' END ||
           |    CASE WHEN doc_id % 5 = 0 THEN ' 10.'
           |      || CAST(doc_id % 256 AS VARCHAR) || '.'
           |      || CAST((doc_id * 7) % 256 AS VARCHAR) || '.'
           |      || CAST((doc_id * 13) % 256 AS VARCHAR) ELSE '' END ||
           |    CASE WHEN doc_id % 3 = 0 THEN ' ' || $d15
           |      || CAST((10 - ($s15) % 10 + CASE WHEN doc_id % 6 = 0
           |            THEN 0 ELSE 1 END) % 10 AS VARCHAR)
           |    ELSE '' END AS text2
           |  FROM documents)
           |SELECT doc_id,
           |  CAST(len(regexp_extract_all(text2, '$emailPat')) AS BIGINT)
           |    AS n_emails,
           |  CAST(len(regexp_extract_all(text2, '$phonePat')) AS BIGINT)
           |    AS n_phones,
           |  CAST(len(regexp_extract_all(text2, '$ipPat')) AS BIGINT)
           |    AS n_ips,
           |  CAST(len(regexp_extract_all(text2, '$cardPat')) AS BIGINT)
           |    AS n_cards,
           |  CAST(len(list_filter(regexp_extract_all(text2, '$cardPat'),
           |    c -> ${luhn16("c")})) AS BIGINT) AS n_cards_valid,
           |  md5(regexp_replace(regexp_replace(regexp_replace(
           |    regexp_replace(text2, '$cardPat', '<CARD>', 'g'),
           |    '$emailPat', '<EMAIL>', 'g'),
           |    '$phonePat', '<PHONE>', 'g'),
           |    '$ipPat', '<IP>', 'g')) AS redacted_md5
           |FROM inj ORDER BY doc_id""".stripMargin
      },
      "pipe_e2e_sft" ->
        s"""WITH d2 AS (
           |  SELECT source, doc_id, text,
           |    CAST(len(list_filter(string_split(text, ' '),
           |                         w -> len(w) > 0)) AS BIGINT) AS nw,
           |    ROW_NUMBER() OVER (PARTITION BY source ORDER BY doc_id) - 1
           |      AS rn
           |  FROM documents),
           |turns AS (
           |  SELECT source, text, nw, rn // 4 AS conv_id, rn % 4 AS turn,
           |    CASE WHEN rn % 2 = 0 THEN 'user' ELSE 'assistant' END AS role
           |  FROM d2),
           |asm AS (
           |  SELECT source, conv_id,
           |    CAST(COUNT(*) AS BIGINT) AS n_turns,
           |    CAST(SUM(CASE WHEN role = 'user' THEN nw ELSE 0 END)
           |      AS BIGINT) AS n_user_tokens,
           |    CAST(SUM(CASE WHEN role = 'assistant' THEN nw ELSE 0 END)
           |      AS BIGINT) AS n_assistant_tokens,
           |    string_agg('<|' || role || '|>' || text, chr(10)
           |               ORDER BY turn) AS conv_text
           |  FROM turns GROUP BY 1, 2),
           |a2 AS (
           |  SELECT *,
           |    ${Hashing.duckHash("source || ':' || CAST(conv_id AS VARCHAR)")}
           |      AS conv_key
           |  FROM asm WHERE n_turns = 4),
           |gated AS (SELECT * FROM a2 WHERE n_assistant_tokens >= 80),
           |ex AS (
           |  SELECT * FROM (
           |    SELECT *, MIN(conv_key) OVER (PARTITION BY md5(conv_text))
           |      AS keep
           |    FROM gated) g
           |  WHERE conv_key = keep),
           |evdocs AS (SELECT doc_id, text FROM documents
           |           WHERE doc_id % ${Dedup.EVAL_MOD} = 0),
           |${Dedup.shingCteFor("evdocs", "shing_ev")},
           |trdocs AS (SELECT conv_key AS doc_id, conv_text AS text FROM ex),
           |${Dedup.shingCteFor("trdocs", "shing_tr")},
           |contam AS (
           |  SELECT DISTINCT tid FROM (
           |    SELECT tr.tid, ev.eid, ev.en, COUNT(*) AS shared
           |    FROM (SELECT doc_id AS eid, len(shashes) AS en,
           |                 unnest(shashes) AS sh FROM shing_ev) ev
           |    JOIN (SELECT doc_id AS tid, unnest(shashes) AS sh
           |          FROM shing_tr) tr USING (sh)
           |    GROUP BY 1, 2, 3) o
           |  WHERE CAST(shared AS DOUBLE) / en >= 0.5),
           |clean AS (SELECT * FROM ex
           |          WHERE conv_key NOT IN (SELECT tid FROM contam)),
           |man AS (
           |  SELECT source,
           |    CASE WHEN b < 90 THEN 'train' WHEN b < 95 THEN 'val'
           |         ELSE 'test' END AS split,
           |    CAST(COUNT(*) AS BIGINT) AS n_convs,
           |    CAST(SUM(n_user_tokens) AS BIGINT) AS n_user_tokens,
           |    CAST(SUM(n_assistant_tokens) AS BIGINT) AS n_assistant_tokens
           |  FROM (SELECT *,
           |          ${Hashing.duckHash("CAST(conv_key AS VARCHAR)")} % 100
           |            AS b
           |        FROM clean) z
           |  GROUP BY 1, 2),
           |funnel AS (
           |  SELECT '10_assembled' AS k,
           |    (SELECT COUNT(*) FROM a2) AS c,
           |    (SELECT COALESCE(SUM(n_user_tokens), 0) FROM a2) AS u,
           |    (SELECT COALESCE(SUM(n_assistant_tokens), 0) FROM a2) AS a
           |  UNION ALL SELECT '20_quality', (SELECT COUNT(*) FROM gated),
           |    (SELECT COALESCE(SUM(n_user_tokens), 0) FROM gated),
           |    (SELECT COALESCE(SUM(n_assistant_tokens), 0) FROM gated)
           |  UNION ALL SELECT '30_exact', (SELECT COUNT(*) FROM ex),
           |    (SELECT COALESCE(SUM(n_user_tokens), 0) FROM ex),
           |    (SELECT COALESCE(SUM(n_assistant_tokens), 0) FROM ex)
           |  UNION ALL SELECT '40_decontam', (SELECT COUNT(*) FROM clean),
           |    (SELECT COALESCE(SUM(n_user_tokens), 0) FROM clean),
           |    (SELECT COALESCE(SUM(n_assistant_tokens), 0) FROM clean))
           |SELECT section, k, n_convs, n_user_tokens, n_assistant_tokens
           |FROM (
           |  SELECT '0_funnel' AS section, k, CAST(c AS BIGINT) AS n_convs,
           |         CAST(u AS BIGINT) AS n_user_tokens,
           |         CAST(a AS BIGINT) AS n_assistant_tokens
           |  FROM funnel
           |  UNION ALL
           |  SELECT '1_manifest', source || '/' || split, n_convs,
           |         n_user_tokens, n_assistant_tokens
           |  FROM man) out
           |ORDER BY section, k""".stripMargin,
      // full recompute over the UNION — no T anywhere: the incremental
      // run must land on the same manifest because every stage rule is
      // prefix-stable; the batch funnel restricts the full-DAG stages to
      // doc_id > T = (8·max) DIV 10, the same split the Spark side uses
      "pipe_e2e_incremental" -> e2eIncOracle(publish = false),
      // the incremental-PUBLISH loop: same DAG replay plus the version-log
      // row (v1 = seen manifest, v2 = union manifest, zero mismatches)
      "pipe_e2e_inc_publish" -> e2eIncOracle(publish = true),
      "pipe_e2e_pretrain" -> e2ePretrainOracle(publish = false),
      // the publish run re-executes the identical DAG with durable stage
      // boundaries, writes the shards, and proves the round trip: the
      // oracle is the same DAG replay plus the publish row — committed
      // manifest rows = |man| + |shards|, mismatches pinned to 0
      "pipe_e2e_publish" -> e2ePretrainOracle(publish = true),
      "pipe_pack_ffd" ->
        s"""WITH toks AS (
           |  SELECT doc_id,
           |    CAST(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS BIGINT) AS nt,
           |    ${duckHash("CAST(doc_id AS VARCHAR)")} % 8 AS shard
           |  FROM documents),
           |g AS (
           |  SELECT shard,
           |    list({'loads': [nt],
           |          'asg': [{'id': doc_id, 'nt': nt, 'b': CAST(0 AS BIGINT)}]}
           |         ORDER BY nt DESC, doc_id) AS docs
           |  FROM toks GROUP BY shard),
           |f AS (
           |  SELECT shard, list_reduce(list_prepend(
           |    {'loads': []::BIGINT[],
           |     'asg': []::STRUCT(id BIGINT, nt BIGINT, b BIGINT)[]},
           |    docs),
           |    (st, dc) -> list_transform(
           |      [COALESCE([i for i in range(1, len(st.loads) + 1)
           |                 if st.loads[i] + dc.loads[1] <= 2048][1],
           |                CAST(0 AS BIGINT))],
           |      fi -> {'loads': CASE WHEN fi >= 1
           |               THEN [CASE WHEN i = fi THEN st.loads[i] + dc.loads[1]
           |                          ELSE st.loads[i] END
           |                     for i in range(1, len(st.loads) + 1)]
           |               ELSE list_append(st.loads, dc.loads[1]) END,
           |             'asg': list_append(st.asg,
           |               {'id': dc.asg[1].id, 'nt': dc.loads[1],
           |                'b': CASE WHEN fi >= 1 THEN fi - 1
           |                          ELSE CAST(len(st.loads) AS BIGINT) END})}
           |    )[1]) AS st
           |  FROM g),
           |w AS (
           |  SELECT shard, st,
           |    CAST(list_sum(st.loads) AS BIGINT) AS total,
           |    CAST(len(st.loads) AS BIGINT) * 2048
           |      - CAST(list_sum(st.loads) AS BIGINT) AS waste_ffd,
           |    ((CAST(list_sum(st.loads) AS BIGINT) + 2047) // 2048) * 2048
           |      - CAST(list_sum(st.loads) AS BIGINT) AS waste_concat
           |  FROM f)
           |SELECT shard, a.id AS doc_id, a.nt AS re_tokens,
           |       CAST(a.b AS BIGINT) AS bin, waste_ffd, waste_concat
           |FROM (SELECT shard, unnest(st.asg) AS a, waste_ffd, waste_concat
           |      FROM w) z
           |ORDER BY shard, doc_id""".stripMargin,
      "pipe_pack_sequences" ->
        s"""WITH toks AS (
           |  SELECT doc_id,
           |    CAST(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS BIGINT) AS re_tokens,
           |    ${duckHash("CAST(doc_id AS VARCHAR)")} % 8 AS shard
           |  FROM documents),
           |packed AS (
           |  SELECT shard, doc_id, re_tokens,
           |    CAST(SUM(re_tokens) OVER (PARTITION BY shard ORDER BY doc_id
           |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
           |      - re_tokens AS start_tok
           |  FROM toks)
           |SELECT shard, doc_id, re_tokens, start_tok,
           |       start_tok // 2048 AS seq_idx
           |FROM packed ORDER BY shard, doc_id""".stripMargin,
      "pipe_cu_seqlens" ->
        s"""WITH toks AS (
           |  SELECT doc_id,
           |    CAST(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS BIGINT) AS re_tokens,
           |    ${duckHash("CAST(doc_id AS VARCHAR)")} % 8 AS shard
           |  FROM documents),
           |packed AS (
           |  SELECT shard, doc_id, re_tokens,
           |    CAST(SUM(re_tokens) OVER (PARTITION BY shard ORDER BY doc_id
           |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
           |      - re_tokens AS start_tok
           |  FROM toks)
           |SELECT shard, start_tok // 2048 AS seq_idx,
           |       CAST(COUNT(*) AS BIGINT) AS n_docs,
           |       CAST(SUM(re_tokens) AS BIGINT) AS tokens_started,
           |       array_to_string(list_sort(list(DISTINCT start_tok % 2048)), ',')
           |         AS cu_offsets
           |FROM packed GROUP BY 1, 2 ORDER BY shard, seq_idx""".stripMargin,
      "tx_dup_spans" ->
        s"""WITH toks AS (
           |  SELECT doc_id, list_filter(string_split(lower(text), ' '), w -> w <> '') AS ws
           |  FROM documents),
           |grams AS (
           |  SELECT doc_id, CAST(i AS BIGINT) AS pos,
           |         ${duckHash("array_to_string(ws[CAST(i+1 AS INT):CAST(i+10 AS INT)], ' ')")} AS gh
           |  FROM toks, unnest(range(0, len(ws) - 9)) AS t(i)
           |  WHERE len(ws) >= 10),
           |dup AS (SELECT gh FROM grams GROUP BY gh
           |        HAVING COUNT(*) > 1 AND COUNT(*) <= 1000),
           |hits AS (
           |  SELECT g.doc_id, g.pos,
           |         CASE WHEN g.pos - lag(g.pos) OVER (PARTITION BY g.doc_id ORDER BY g.pos) <= 10
           |              THEN 0 ELSE 1 END AS new_span
           |  FROM grams g JOIN dup USING (gh)),
           |islands AS (
           |  SELECT doc_id, pos,
           |         SUM(new_span) OVER (PARTITION BY doc_id ORDER BY pos
           |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS span_id
           |  FROM hits),
           |spans AS (
           |  SELECT doc_id, span_id, MIN(pos) AS s, MAX(pos) + 10 AS e
           |  FROM islands GROUP BY doc_id, span_id),
           |per_doc AS (
           |  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_dup_spans,
           |         CAST(SUM(e - s) AS BIGINT) AS dup_tokens
           |  FROM spans GROUP BY doc_id)
           |SELECT t.doc_id, CAST(len(t.ws) AS BIGINT) AS n_words,
           |       coalesce(p.n_dup_spans, 0) AS n_dup_spans,
           |       coalesce(p.dup_tokens, 0) AS dup_tokens,
           |       CAST(coalesce(p.dup_tokens, 0) AS DOUBLE) / len(t.ws) AS dup_ratio
           |FROM toks t LEFT JOIN per_doc p USING (doc_id)
           |ORDER BY t.doc_id""".stripMargin,
      "tx_strip_spans" ->
        s"""WITH toks AS (
           |  SELECT doc_id, list_filter(string_split(lower(text), ' '), w -> w <> '') AS ws
           |  FROM documents),
           |grams AS (
           |  SELECT doc_id, CAST(i AS BIGINT) AS pos,
           |         md5(array_to_string(ws[CAST(i+1 AS INT):CAST(i+10 AS INT)], ' ')) AS gh
           |  FROM toks, unnest(range(0, len(ws) - 9)) AS t(i)
           |  WHERE len(ws) >= 10),
           |dup AS (SELECT gh FROM grams GROUP BY gh
           |        HAVING COUNT(*) > 1 AND COUNT(*) <= 1000),
           |hits AS (SELECT g.* FROM grams g JOIN dup USING (gh)),
           |m1 AS (SELECT gh, MIN(doc_id) AS sd FROM hits GROUP BY gh),
           |m2 AS (SELECT h.gh, m1.sd, MIN(h.pos) AS sp
           |       FROM hits h JOIN m1 ON h.gh = m1.gh AND h.doc_id = m1.sd
           |       GROUP BY h.gh, m1.sd),
           |removal AS (
           |  SELECT h.doc_id, h.pos FROM hits h LEFT JOIN m2
           |    ON h.gh = m2.gh AND h.doc_id = m2.sd AND h.pos = m2.sp
           |  WHERE m2.gh IS NULL),
           |marks AS (
           |  SELECT doc_id, pos,
           |         CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) <= 10
           |              THEN 0 ELSE 1 END AS new_span
           |  FROM removal),
           |islands AS (
           |  SELECT doc_id, pos, SUM(new_span) OVER (PARTITION BY doc_id ORDER BY pos
           |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS span_id
           |  FROM marks),
           |spans AS (SELECT doc_id, span_id, MIN(pos) AS s, MAX(pos) + 10 AS e
           |          FROM islands GROUP BY doc_id, span_id),
           |covered AS (
           |  SELECT DISTINCT doc_id, CAST(p AS BIGINT) AS pos
           |  FROM spans, unnest(range(s, e)) AS c(p)),
           |words AS (
           |  SELECT doc_id, CAST(i - 1 AS BIGINT) AS pos, ws[CAST(i AS INT)] AS w
           |  FROM toks, unnest(range(1, len(ws) + 1)) AS t(i)),
           |kept AS (
           |  SELECT w.doc_id, w.pos, w.w FROM words w LEFT JOIN covered c
           |    ON w.doc_id = c.doc_id AND w.pos = c.pos
           |  WHERE c.doc_id IS NULL),
           |rebuilt AS (
           |  SELECT doc_id, string_agg(w, ' ' ORDER BY pos) AS clean_text,
           |         COUNT(*) AS kept_words
           |  FROM kept GROUP BY doc_id)
           |SELECT t.doc_id, CAST(len(t.ws) AS BIGINT) AS n_words,
           |       coalesce(r.kept_words, 0) AS kept_words,
           |       CAST(len(t.ws) - coalesce(r.kept_words, 0) AS BIGINT) AS removed_tokens,
           |       coalesce(r.clean_text, '') AS clean_text
           |FROM toks t LEFT JOIN rebuilt r USING (doc_id)
           |ORDER BY t.doc_id""".stripMargin,
      "tx_max_spans" ->
        s"""WITH toks AS (
           |  SELECT doc_id, list_filter(string_split(lower(text), ' '), w -> w <> '') AS ws
           |  FROM documents),
           |grams AS (
           |  SELECT doc_id, CAST(i AS BIGINT) AS pos,
           |         md5(array_to_string(ws[CAST(i+1 AS INT):CAST(i+10 AS INT)], ' ')) AS gh
           |  FROM toks, unnest(range(0, len(ws) - 9)) AS t(i)
           |  WHERE len(ws) >= 10),
           |dup AS (SELECT gh FROM grams GROUP BY gh
           |        HAVING COUNT(*) > 1 AND COUNT(*) <= 1000),
           |hits AS (SELECT g.* FROM grams g JOIN dup USING (gh)),
           |m1 AS (SELECT gh, MIN(doc_id) AS sd FROM hits GROUP BY gh),
           |m2 AS (SELECT h.gh, m1.sd, MIN(h.pos) AS sp
           |       FROM hits h JOIN m1 ON h.gh = m1.gh AND h.doc_id = m1.sd
           |       GROUP BY h.gh, m1.sd),
           |anchored AS (
           |  SELECT h.doc_id, h.pos, m2.sd AS a_doc, m2.sp - h.pos AS a_off
           |  FROM hits h JOIN m2 USING (gh)
           |  WHERE NOT (h.doc_id = m2.sd AND h.pos = m2.sp)),
           |grps AS (
           |  SELECT doc_id, pos, a_doc, a_off,
           |         pos - ROW_NUMBER() OVER (
           |           PARTITION BY doc_id, a_doc, a_off ORDER BY pos) AS grp
           |  FROM anchored)
           |SELECT doc_id, MIN(pos) AS s, MAX(pos) + 10 AS e,
           |       MAX(pos) + 10 - MIN(pos) AS len,
           |       a_doc AS anchor_doc, a_off + MIN(pos) AS anchor_pos
           |FROM grps GROUP BY doc_id, a_doc, a_off, grp
           |ORDER BY doc_id, s, anchor_doc, anchor_pos""".stripMargin,
      // FFD replayed as a recursive CTE: the working set advances one doc
      // Suffix-array repeat replay: same prefix-group + sort + neighbor
      // LCP construction; groups key on md5 of the joined prefix where
      // Spark hashes the slice (internal grouping state — only the
      // groupings must coincide). The mismatch list runs only to the
      // shorter suffix, so list_position needs no NULL handling beyond
      // the not-found→0 quirk (nullif), mirroring Spark's
      // array_position-returns-0 contract.
      "tx_suffix_repeats" -> {
        def dlcp(a: String, b: String): String =
          s"CASE WHEN $b IS NULL THEN 0 ELSE coalesce(" +
            s"nullif(list_position([$a[i] <> $b[i] for i in range(1, least(len($a), len($b)) + 1)], true), 0) - 1, " +
            s"least(len($a), len($b))) END"
        s"""WITH toks AS (
           |  SELECT doc_id, list_filter(string_split(lower(text), ' '), w -> w <> '') AS ws
           |  FROM documents),
           |sufs AS (
           |  SELECT doc_id, CAST(i AS BIGINT) AS pos,
           |         ws[CAST(i+1 AS INT):CAST(i+40 AS INT)] AS suf,
           |         ${duckHash("array_to_string(ws[CAST(i+1 AS INT):CAST(i+10 AS INT)], ' ')")} AS ph
           |  FROM toks, unnest(range(0, len(ws) - 9)) AS t(i)
           |  WHERE len(ws) >= 10),
           |keep AS (SELECT ph FROM sufs GROUP BY ph
           |         HAVING COUNT(*) > 1 AND COUNT(*) <= 1000),
           |nb AS (
           |  SELECT s.doc_id, s.pos, s.suf,
           |         lag(s.suf) OVER w AS ps, lead(s.suf) OVER w AS ns
           |  FROM sufs s JOIN keep USING (ph)
           |  WINDOW w AS (PARTITION BY ph ORDER BY s.suf, s.doc_id, s.pos)),
           |marked AS (
           |  SELECT doc_id, pos, pos + ml AS pe, ml FROM (
           |    SELECT doc_id, pos,
           |           GREATEST(${dlcp("suf", "ps")}, ${dlcp("suf", "ns")}) AS ml
           |    FROM nb) WHERE ml >= 10),
           |islands AS (
           |  SELECT doc_id, pos, pe, ml,
           |         CASE WHEN max(pe) OVER preceding IS NULL
           |               OR pos > max(pe) OVER preceding
           |              THEN 1 ELSE 0 END AS new_span
           |  FROM marked
           |  WINDOW preceding AS (PARTITION BY doc_id ORDER BY pos
           |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
           |spans AS (
           |  SELECT doc_id, pos, pe, ml,
           |         SUM(new_span) OVER (PARTITION BY doc_id ORDER BY pos
           |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS span_id
           |  FROM islands)
           |SELECT doc_id, CAST(MIN(pos) AS BIGINT) AS s,
           |       CAST(MAX(pe) AS BIGINT) AS e,
           |       CAST(MAX(pe) - MIN(pos) AS BIGINT) AS span_len,
           |       CAST(MAX(ml) AS BIGINT) AS max_rep,
           |       CAST(COUNT(*) AS BIGINT) AS n_anchors
           |FROM spans GROUP BY doc_id, span_id
           |ORDER BY doc_id, s""".stripMargin
      },
      // (per shard) per iteration, carrying the bin-load list as state.
      // nullif(..., 0): this DuckDB's list_position returns 0 (not NULL)
      // when no element matches.
      "pipe_pack_bestfit" ->
        s"""WITH RECURSIVE toks AS (
           |  SELECT doc_id,
           |    CAST(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS BIGINT) AS t,
           |    ${duckHash("CAST(doc_id AS VARCHAR)")} % 8 AS shard
           |  FROM documents),
           |ordered AS (
           |  SELECT shard, doc_id, t,
           |         row_number() OVER (PARTITION BY shard ORDER BY t DESC, doc_id) AS rn
           |  FROM toks),
           |ffd AS (
           |  SELECT shard, rn, doc_id, t, CAST(0 AS BIGINT) AS bin, [t] AS loads
           |  FROM ordered WHERE rn = 1
           |  UNION ALL
           |  SELECT d.shard, d.rn, d.doc_id, d.t,
           |         CAST(coalesce(nullif(list_position(list_transform(f.loads, x -> x + d.t <= 2048), true), 0),
           |                       len(f.loads) + 1) - 1 AS BIGINT) AS bin,
           |         CASE WHEN nullif(list_position(list_transform(f.loads, x -> x + d.t <= 2048), true), 0) IS NULL
           |              THEN list_append(f.loads, d.t)
           |              ELSE list_transform(f.loads, (x, i) ->
           |                CASE WHEN i = list_position(list_transform(f.loads, y -> y + d.t <= 2048), true)
           |                     THEN x + d.t ELSE x END)
           |         END AS loads
           |  FROM ffd f JOIN ordered d ON d.shard = f.shard AND d.rn = f.rn + 1),
           |perbin AS (
           |  SELECT shard, bin, COUNT(*) AS n_docs_bin, CAST(SUM(t) AS BIGINT) AS bin_tokens
           |  FROM ffd GROUP BY shard, bin)
           |SELECT shard,
           |       CAST(SUM(n_docs_bin) AS BIGINT) AS n_docs,
           |       CAST(SUM(bin_tokens) AS BIGINT) AS total_tokens,
           |       CAST(COUNT(*) AS BIGINT) AS bins_ffd,
           |       CAST(MAX(bin_tokens) AS BIGINT) AS max_bin_tokens,
           |       CAST(MIN(bin_tokens) AS BIGINT) AS min_bin_tokens,
           |       CAST(COUNT(*) * 2048 - SUM(bin_tokens) AS BIGINT) AS waste_ffd,
           |       CAST(SUM(bin_tokens) AS DOUBLE) / (COUNT(*) * 2048) AS occupancy_ffd,
           |       CAST((SUM(bin_tokens) + 2047) // 2048 AS BIGINT) AS bins_seq
           |FROM perbin GROUP BY shard ORDER BY shard""".stripMargin,
      "pipe_corpus_mix" ->
        s"""SELECT source,
           |  20 + ${duckHash("source")} % 81 AS rate,
           |  COUNT(*) AS n_docs,
           |  CAST(SUM(CASE WHEN ${duckHash("CAST(doc_id AS VARCHAR)")} % 100
           |                     < 20 + ${duckHash("source")} % 81
           |                THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           |  CAST(SUM(CASE WHEN ${duckHash("CAST(doc_id AS VARCHAR)")} % 100
           |                     < 20 + ${duckHash("source")} % 81
           |                THEN n_chars ELSE 0 END) AS BIGINT) AS kept_chars
           |FROM documents
           |GROUP BY source ORDER BY source""".stripMargin
    )
  }
}
