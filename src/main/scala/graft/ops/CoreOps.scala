package graft.ops

import graft.{Det, Scratch, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}

/** Core relational surface of the reference (SURVEY.md §2.1, §2.2, §2.6):
  * scans, projection, filter, row-level cleaning, dedup, sorts, limits.
  *
  * Every query is a pure (SparkSession, sfDir) => DataFrame with a DuckDB
  * oracle twin in [[oracle]]. Determinism rules (SURVEY.md §5): explicit
  * ORDER BY ending in a unique key; decimal-exact aggregates via
  * [[graft.Det]]; no monotonically_increasing_id.
  */
object CoreOps {

  /** Flagship (A8 analog of reference `ipynb` cell 46): revenue + avg
    * quantity per (month(o_orderdate), n_name) over the 4-way join
    * lineitem ⋈ orders ⋈ customer ⋈ broadcast(nation).
    *
    * Scale notes: nation (25 rows) is broadcast — no shuffle for that
    * join; lineitem⋈orders is the only big-big shuffle (both sides hash
    * on orderkey); aggregation is partial (map-side) + final, exact in
    * decimal so the result is independent of partitioning.
    */
  def flagship(s: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(s, d)
    val o = Tables.orders(s, d)
    val c = Tables.customer(s, d)
    val n = Tables.nation(s, d)
    li.join(o, li("l_orderkey") === o("o_orderkey"))
      .join(c, o("o_custkey") === c("c_custkey"))
      .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
      .groupBy(month(col("o_orderdate")).cast("int").as("o_month"), col("n_name"))
      .agg(
        count(lit(1)).as("n_items"),
        Det.revenue(col("l_extendedprice"), col("l_discount")).as("revenue"),
        Det.davg(col("l_quantity")).as("avg_qty"))
      .orderBy(desc("revenue"), col("o_month"), col("n_name"))
  }

  /** S1 — multi-path parquet scan (reference readMultipleParquet,
    * etl.py:49-59): same file listed twice = implicit file-level UNION ALL.
    */
  def multiPathScan(s: SparkSession, d: String): DataFrame = {
    val p = s"$d/lineitem.parquet"
    Tables.loadMulti(s, Seq(p, p))
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n_rows"), Det.dsum(col("l_quantity")).as("sum_qty"))
      .orderBy(col("l_returnflag"))
  }

  /** S5 — temp-view + SQL entry (etl.py:171-177): register a DF as a view
    * and run SQL text against it, mixing the DF and SQL APIs.
    */
  def sqlOverView(s: SparkSession, d: String): DataFrame = {
    Tables.orders(s, d).createOrReplaceTempView("graft_orders")
    s.sql(
      """SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n_orders,
        |       CAST(SUM(CAST(o_totalprice AS DECIMAL(30,4))) AS DOUBLE) AS sum_price
        |FROM graft_orders
        |GROUP BY o_orderstatus, o_orderpriority
        |ORDER BY o_orderstatus, o_orderpriority""".stripMargin)
  }

  /** P1+P2 — projection with alias + equality filter (etl.py:112-113).
    * Both the 3-column projection and the predicate reach the parquet scan
    * (PushedFilters / ReadSchema).
    */
  def projectFilter(s: SparkSession, d: String): DataFrame =
    Tables.customer(s, d)
      .filter(col("c_mktsegment") === lit("BUILDING"))
      .select(col("c_custkey"), col("c_name").as("customer_name"),
        col("c_acctbal").as("balance"))
      .orderBy(col("c_custkey"))

  /** P3 — whitelist-or-other conditional rewrite (etl.py:20-25,108,159):
    * `when(!isin(valid), 'other').otherwise(col)` on n_name.
    */
  def whitelistOther(s: SparkSession, d: String): DataFrame = {
    val valid = Seq("FRANCE", "GERMANY", "JAPAN", "UNITED STATES", "CANADA")
    Tables.nation(s, d)
      .withColumn("nation_class",
        when(!col("n_name").isin(valid: _*), lit("other")).otherwise(col("n_name")))
      .groupBy(col("nation_class")).agg(count(lit(1)).as("n_nations"))
      .orderBy(col("nation_class"))
  }

  /** P4 — null fill on a subset (etl.py:109-110). Testdata has no nulls, so
    * nulls are synthesized with nullif first (the fill path is what's under
    * test), then filled per-column like the reference's fillna(subset=...).
    */
  def nullFill(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .withColumn("flag_n", nullif(col("l_returnflag"), lit("N")))
      .na.fill(Map("flag_n" -> "unknown"))
      .groupBy(col("flag_n")).agg(count(lit(1)).as("n_rows"))
      .orderBy(col("flag_n"))

  /** P5 — null drop (etl.py:137): na.drop over a synthesized-null column. */
  def nullDrop(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .withColumn("status_o", nullif(col("o_orderstatus"), lit("O")))
      .na.drop(Seq("status_o"))
      .groupBy(col("status_o")).agg(count(lit(1)).as("n_rows"))
      .orderBy(col("status_o"))

  /** P6 — full-row dedup via dropDuplicates (etl.py:111), over a projection
    * that actually contains duplicate rows.
    */
  def dedupRows(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .select(col("l_returnflag"), col("l_linestatus"), col("l_quantity"))
      .dropDuplicates()
      .orderBy(col("l_returnflag"), col("l_linestatus"), col("l_quantity"))

  /** P7 — projection dedup via distinct() (etl.py:229,239,258,267). */
  def distinctDim(s: SparkSession, d: String): DataFrame =
    Tables.customer(s, d).select(col("c_mktsegment")).distinct()
      .orderBy(col("c_mktsegment"))

  /** P8 — derived columns via withColumn chain (etl.py:103-108,132-136). */
  def derivedColumns(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .withColumn("disc_price",
        Det.money(col("l_extendedprice")) * Det.oneMinus(col("l_discount")))
      .withColumn("charge", col("disc_price") * Det.onePlus(col("l_tax")))
      .withColumn("ship_year", year(col("l_shipdate")).cast("int"))
      .groupBy(col("ship_year"))
      .agg(sum(col("disc_price")).cast("double").as("sum_disc_price"),
        sum(col("charge")).cast("double").as("sum_charge"))
      .orderBy(col("ship_year"))

  /** P9 — column drop post-join (etl.py:204): join then drop the join-side
    * working columns, keeping a clean output schema.
    */
  def dropColumns(s: SparkSession, d: String): DataFrame = {
    val n = Tables.nation(s, d)
    val r = Tables.region(s, d)
    n.join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
      .drop("r_regionkey", "n_regionkey")
      .select(col("n_nationkey"), col("n_name"), col("r_name").as("region_name"))
      .orderBy(col("n_nationkey"))
  }

  /** O1+O3 — multi-key ORDER BY + limit top-k (etl.py:176; ipynb limit(10)).
    * Sort + limit collapses to TakeOrderedAndProject — no global sort at
    * scale, each partition keeps k rows and the driver merges.
    */
  def topK(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .select(col("o_orderkey"), col("o_totalprice"), col("o_orderdate"))
      .orderBy(desc("o_totalprice"), col("o_orderkey"))
      .limit(10)

  /** S2+ — JSON line-format round-trip, oracle-gated (the spec-only CSV
    * coverage's verified sibling): a 1000-order slice is written as JSON
    * lines and read back with an EXPLICIT schema (never inferSchema — at
    * 100 TB schema inference is a full extra pass), proving date and
    * double fidelity through the text format (Spark writes shortest-
    * round-trip doubles, so read-back is bit-exact). The oracle reads the
    * original parquet — pass = the JSON hop lost nothing.
    */
  def jsonRoundtrip(s: SparkSession, d: String): DataFrame = {
    val out = Scratch.dir("json_rt")
    val slice = Tables.orders(s, d)
      .filter(col("o_orderkey") <= 1000)
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate"),
        col("o_totalprice"))
    slice.write.mode("overwrite").json(out)
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("o_orderkey",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("o_custkey",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("o_orderdate",
        org.apache.spark.sql.types.DateType),
      org.apache.spark.sql.types.StructField("o_totalprice",
        org.apache.spark.sql.types.DoubleType)))
    s.read.schema(schema).json(out).orderBy(col("o_orderkey"))
  }

  /** S2+/S3+ — ORC round-trip with a pushed predicate: the third file
    * format (after parquet and JSON) through the same write→read→verify
    * drive. ORC carries its own stripe-level min/max indexes, so the
    * read-back filter (`l_quantity >= 25`) pushes into the ORC reader
    * exactly like parquet row-group pruning — `explain` shows
    * PushedFilters on the OrcScan, and SourceSinkSpec pins it. The
    * oracle runs the equivalent SELECT against the ORIGINAL parquet,
    * which verifies losslessness of the round-trip, not just the read.
    * At 100 TB format choice is a scan-cost decision; the operator
    * surface is identical — that interchangeability is the point.
    */
  def orcRoundtrip(s: SparkSession, d: String): DataFrame = {
    val out = Scratch.dir("orc_rt")
    Tables.lineitem(s, d)
      .filter(col("l_orderkey") <= 1000)
      .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
        col("l_extendedprice"))
      .write.mode("overwrite").orc(out)
    s.read.orc(out)
      .filter(col("l_quantity") >= 25)
      .orderBy(col("l_orderkey"), col("l_linenumber"))
  }

  /** S10 — aggregate over the custom DataSourceV2 connector
    * ([[graft.sources.SeqSource]]): 100k rows across 8 computed input
    * partitions, grouped on `mod7` — the query only touches (mod7, sq),
    * so the pruning handshake delivers a 2-field schema to the reader
    * (PlanSpec pins it). The oracle replays the whole table from
    * DuckDB's generate_series — the connector's arithmetic contract,
    * verified end to end through Spark's V2 read path.
    */
  def dsv2Source(s: SparkSession, d: String): DataFrame =
    s.read.format("graft.sources.SeqSource")
      .option("rows", 100000).option("slices", 8).load()
      .groupBy(col("mod7"))
      .agg(count(lit(1)).as("n"), sum(col("sq")).as("sum_sq"))
      .orderBy(col("mod7"))

  /** S10+ — the same connector under a pushed id-range: the WHERE
    * narrows the PLANNED partition ranges inside the source (the scan
    * advertises `range=[25000,75000)` — PlanSpec pins it) while Spark
    * still re-evaluates the residual predicate, so a pruning bug could
    * never corrupt results. This is the full DSv2 pushdown handshake a
    * real storage connector implements.
    */
  def dsv2Pushdown(s: SparkSession, d: String): DataFrame =
    s.read.format("graft.sources.SeqSource")
      .option("rows", 100000).option("slices", 8).load()
      .filter(col("id") >= 25000L && col("id") < 75000L)
      .groupBy(col("mod7"))
      .agg(count(lit(1)).as("n"), sum(col("sq")).as("sum_sq"))
      .orderBy(col("mod7"))

  /** S11 — round-trip through the custom DataSourceV2 WRITE connector
    * ([[graft.sources.KvSink]]): an orders slice goes out through the V2
    * commit protocol (staged task files + the driver's atomic manifest
    * publish, overwrite via TRUNCATE) and comes back through the
    * MANIFEST-GATED read path (only the committed snapshot's files are
    * scanned); the oracle is the equivalent SELECT on the original
    * parquet, so what is verified is losslessness of the entire
    * write-commit-read cycle.
    */
  private[graft] def dsv2SinkTo(s: SparkSession, d: String, out: String): DataFrame = {
    Tables.orders(s, d)
      .filter(col("o_orderkey") <= 500)
      .select(col("o_orderkey").as("key"), col("o_orderstatus").as("val"))
      .write.format("graft.sources.KvSink")
      .mode("overwrite").option("path", out).save()
    // manifest-gated read: scan exactly the committed snapshot's files —
    // uncommitted task files and post-crash orphans are invisible
    s.read.schema("key LONG, val STRING")
      .csv(graft.sources.KvSink.committedPaths(out): _*)
      .orderBy(col("key"))
  }

  def dsv2Sink(s: SparkSession, d: String): DataFrame =
    dsv2SinkTo(s, d, Scratch.dir("kv_sink"))

  /** S12 — TIME TRAVEL over the V2 sink's snapshot log: three commits
    * (overwrite ≤300, overwrite ≤500, append (500,600]) each land an
    * immutable `manifest-v%06d`, TRUNCATE retains the superseded files,
    * and every historical version is then read back AS OF its manifest
    * — the Delta/Iceberg `VERSION AS OF` surface on a filesystem. The
    * oracle recomputes each snapshot's (count, key-sum) from the
    * original parquet, so what is verified is that the version log
    * reconstructs every PAST state exactly, not just the latest one.
    * [[graft.sources.KvSink.vacuum]] retention GC is spec-pinned in
    * SourceSinkSpec.
    */
  def timeTravel(s: SparkSession, d: String): DataFrame = {
    val out = Scratch.dir("kv_tt")
    def slice(lo: Long, hi: Long) = Tables.orders(s, d)
      .filter(col("o_orderkey") > lo && col("o_orderkey") <= hi)
      .select(col("o_orderkey").as("key"), col("o_orderstatus").as("val"))
    slice(-1, 300).write.format("graft.sources.KvSink")
      .mode("overwrite").option("path", out).save() // v1
    slice(-1, 500).write.format("graft.sources.KvSink")
      .mode("overwrite").option("path", out).save() // v2: truncate, v1 retained
    slice(500, 600).write.format("graft.sources.KvSink")
      .mode("append").option("path", out).save()    // v3: append on v2
    graft.sources.KvSink.versions(out).map { v =>
      s.read.schema("key LONG, val STRING")
        .csv(graft.sources.KvSink.committedPaths(out, v): _*)
        .agg(count(lit(1)).as("n_rows"), sum(col("key")).as("key_sum"))
        .select(lit(v).as("version"), col("n_rows"), col("key_sum"))
    }.reduce(_ unionByName _).orderBy(col("version"))
  }

  /** S16 — COMPACTION / OPTIMIZE on the V2 filesystem sink
    * ([[graft.sources.KvSink.optimize]]), closing the table-lifecycle
    * loop begun by time travel + change feed + vacuum: three appends
    * leave the table as many small part files (the streaming/CDC
    * "small files problem"); OPTIMIZE rewrites the live snapshot into 2
    * bin-packed, KEY-CLUSTERED files published as a new version through
    * the same truncate-commit every write uses. The query reads BOTH
    * snapshots through the version log and aggregates each — identical
    * per-status groups prove the no-data-change guarantee relationally
    * (and SourceSinkSpec additionally pins the file-count drop, the
    * disjoint key ranges of the compacted files, and time-travel
    * survival of the superseded layout).
    *
    * Scale shape: compaction is a Spark job (manifest-gated scan →
    * range shuffle → V2 commit), driver only swaps manifests; a 100 TB
    * table compacts partition-by-partition with exactly this plan.
    */
  def optimizeCompact(s: SparkSession, d: String): DataFrame = {
    val out = Scratch.dir("kv_opt")
    def slice(lo: Long, hi: Long) = Tables.orders(s, d)
      .filter(col("o_orderkey") > lo && col("o_orderkey") <= hi)
      .select(col("o_orderkey").as("key"), col("o_orderstatus").as("val"))
    slice(-1, 200).write.format("graft.sources.KvSink")
      .mode("overwrite").option("path", out).save() // v1
    slice(200, 400).write.format("graft.sources.KvSink")
      .mode("append").option("path", out).save()    // v2
    slice(400, 600).write.format("graft.sources.KvSink")
      .mode("append").option("path", out).save()    // v3: many small files
    val before = graft.sources.KvSink.versions(out).last
    val after = graft.sources.KvSink.optimize(s, out, bins = 2, cluster = true)
    def phaseAgg(v: Long, phase: String) = s.read
      .schema("key LONG, val STRING")
      .csv(graft.sources.KvSink.committedPaths(out, v): _*)
      .groupBy(col("val"))
      .agg(count(lit(1)).as("n_rows"), sum(col("key")).as("key_sum"))
      .select(lit(phase).as("phase"), col("val"), col("n_rows"), col("key_sum"))
    phaseAgg(before, "before").unionByName(phaseAgg(after, "after"))
      .orderBy(col("phase"), col("val"))
  }

  /** S18b — DROP / RENAME COLUMN as metadata-only evolution (completing
    * the ALTER TABLE surface next to [[alterEvolution]]'s ADD): the
    * catalog detaches the live schema from the append-only physical
    * layout through a name→slot mapping, so DROP orphans its storage
    * slot without rewriting a single stored row, RENAME re-keys the
    * mapping in place, and — the contract worth testing — RE-ADDING a
    * dropped column's name claims a FRESH slot: the old values are
    * gone from every read, never resurrected (Iceberg's field-id rule;
    * the bug class where a re-added column leaks deleted data is a
    * real-world compliance incident). The query drops `seg`, renames
    * `name`, inserts through both shapes, re-adds `seg`, runs an
    * UPDATE through the evolved schema, and reads back; the oracle
    * recomputes what the surviving data must be from the source rows.
    *
    * At 100 TB all four ALTERs are O(1) catalog operations — zero data
    * IO at any table size; only the rows inserted after each change
    * carry the new physical width.
    */
  def dropRenameEvolution(s: SparkSession, d: String): DataFrame = {
    s.conf.set("spark.sql.catalog.graft_cat", "graft.sources.MemCatalog")
    s.sql("DROP TABLE IF EXISTS graft_cat.ns.evo2")
    s.sql("CREATE TABLE graft_cat.ns.evo2 (k BIGINT, name STRING, seg STRING)")
    Tables.customer(s, d).filter(col("c_custkey") <= 500)
      .select(col("c_custkey").as("k"), col("c_name").as("name"),
        col("c_mktsegment").as("seg"))
      .createOrReplaceTempView("evo2_seed")
    s.sql("INSERT INTO graft_cat.ns.evo2 SELECT * FROM evo2_seed")
    s.sql("ALTER TABLE graft_cat.ns.evo2 DROP COLUMN seg")
    s.sql("ALTER TABLE graft_cat.ns.evo2 RENAME COLUMN name TO cust_name")
    Tables.customer(s, d)
      .filter(col("c_custkey") >= 501 && col("c_custkey") <= 800)
      .select(col("c_custkey").as("k"), col("c_name").as("cust_name"))
      .createOrReplaceTempView("evo2_mid")
    s.sql("INSERT INTO graft_cat.ns.evo2 SELECT * FROM evo2_mid")
    // re-add the dropped NAME: a fresh slot — old seg values must not
    // resurrect on any row
    s.sql("ALTER TABLE graft_cat.ns.evo2 ADD COLUMNS (seg STRING)")
    Tables.customer(s, d)
      .filter(col("c_custkey") >= 801 && col("c_custkey") <= 1000)
      .select(col("c_custkey").as("k"), col("c_name").as("cust_name"),
        col("c_mktsegment").as("seg"))
      .createOrReplaceTempView("evo2_tail")
    s.sql("INSERT INTO graft_cat.ns.evo2 SELECT * FROM evo2_tail")
    // row-level op through the twice-evolved schema
    s.sql("UPDATE graft_cat.ns.evo2 SET cust_name = upper(cust_name) " +
      "WHERE k <= 10")
    s.table("graft_cat.ns.evo2")
      .select(col("k"), col("cust_name"), col("seg"))
      .orderBy(col("k"))
  }

  /** S19 — WRITE-AUDIT-PUBLISH on the V2 sink (the Iceberg WAP / "audit
    * branch" workflow): a candidate batch commits to a BRANCH
    * (`.option("branch", ...)`) that main readers cannot see; an audit
    * job reads main ∪ branch and runs QC gates (row-count floor +
    * key-uniqueness here — the [[graft.pipeline.StarSchema]] gate
    * discipline applied PRE-publish); only a passing batch is
    * published, as a metadata-only fast-forward
    * ([[graft.sources.KvSink.publish]] — one CAS'd manifest append, no
    * data rewritten). The query then stages a SECOND, bad batch
    * (duplicate keys) whose gate fails → [[graft.sources.KvSink
    * .dropBranch]] reclaims it and main provably never changes. Three
    * phases of the main table are reported: during the first audit
    * (branch invisible), after publish, and after the rejected batch is
    * dropped — the oracle recomputes all three from the source rows, so
    * what's verified is that unaudited data NEVER leaked into main.
    *
    * At 100 TB this is the nightly-load pattern: the branch commit is
    * the same distributed write as any other (files land once); audit
    * and publish touch manifests, not data — publish cost is O(KB)
    * whatever the batch size.
    */
  def wapBranch(s: SparkSession, d: String): DataFrame = {
    val out = Scratch.dir("kv_wap")
    def slice(lo: Long, hi: Long) = Tables.orders(s, d)
      .filter(col("o_orderkey") > lo && col("o_orderkey") <= hi)
      .select(col("o_orderkey").as("key"), col("o_orderstatus").as("val"))
    def readPaths(paths: Seq[String]) = s.read
      .schema("key LONG, val STRING").csv(paths: _*)
    def phaseAgg(phase: String, df: org.apache.spark.sql.DataFrame) =
      df.groupBy(col("val"))
        .agg(count(lit(1)).as("n_rows"), sum(col("key")).as("key_sum"))
        .select(lit(phase).as("phase"), col("val"), col("n_rows"),
          col("key_sum"))
    import graft.sources.KvSink
    slice(-1, 300).write.format("graft.sources.KvSink")
      .mode("overwrite").option("path", out).save() // main v1
    slice(300, 500).write.format("graft.sources.KvSink")
      .mode("append").option("path", out)
      .option("branch", "audit").save() // staged, invisible to main
    val staged = phaseAgg("staged", readPaths(KvSink.committedPaths(out)))
    // audit gate on the PREVIEW (main ∪ branch): nonempty + unique keys
    val preview = readPaths(
      KvSink.committedPaths(out) ++ KvSink.branchPaths(out, "audit"))
    val Array(nPrev, nKeys) = preview
      .agg(count(lit(1)), countDistinct(col("key"))).collect()(0)
      .toSeq.map(_.asInstanceOf[Long]).toArray // bounded: two QC scalars
    require(nPrev > 0 && nPrev == nKeys,
      s"audit gate must pass for the good batch ($nPrev rows, $nKeys keys)")
    KvSink.publish(out, "audit")
    val published = phaseAgg("published", readPaths(KvSink.committedPaths(out)))
    // bad batch: keys 401..500 AGAIN → duplicate keys in the preview
    slice(400, 500).write.format("graft.sources.KvSink")
      .mode("append").option("path", out)
      .option("branch", "audit2").save()
    val preview2 = readPaths(
      KvSink.committedPaths(out) ++ KvSink.branchPaths(out, "audit2"))
    val Array(nPrev2, nKeys2) = preview2
      .agg(count(lit(1)), countDistinct(col("key"))).collect()(0)
      .toSeq.map(_.asInstanceOf[Long]).toArray // bounded: two QC scalars
    require(nPrev2 != nKeys2,
      "audit gate must fail for the duplicate-key batch")
    KvSink.dropBranch(out, "audit2")
    val fin = phaseAgg("final", readPaths(KvSink.committedPaths(out)))
    staged.unionByName(published).unionByName(fin)
      .orderBy(col("phase"), col("val"))
  }

  /** S12+ — CHANGE DATA FEED between two committed snapshot versions
    * (the Delta CDF / Iceberg changelog-scan surface): with the version
    * log in place, the row-level diff of any two versions is two
    * anti-joins over their AS-OF reads — inserts are rows in the later
    * snapshot absent from the earlier, deletes the reverse; updates
    * appear as delete+insert pairs under the same key (shown here by
    * also emitting value-changed rows on both sides). The feed this
    * emits is exactly what [[graft.ops.PipelineOps.imvMaintain]]
    * consumes as its signed changelog — connector CDC feeding
    * incremental view maintenance. The oracle recomputes the diff from
    * the original parquet slices, so what's verified is that the
    * version log supports EXACT historical differencing, not just
    * point-in-time reads. At scale both sides are manifest-gated scans
    * and the diff is one shuffle on the key.
    */
  def changeFeed(s: SparkSession, d: String): DataFrame = {
    val out = Scratch.dir("kv_cdf")
    def slice(lo: Long, hi: Long) = Tables.orders(s, d)
      .filter(col("o_orderkey") > lo && col("o_orderkey") <= hi)
      .select(col("o_orderkey").as("key"), col("o_orderstatus").as("val"))
    slice(-1, 400).write.format("graft.sources.KvSink")
      .mode("overwrite").option("path", out).save() // v1: keys 0..400
    slice(200, 600).write.format("graft.sources.KvSink")
      .mode("overwrite").option("path", out).save() // v2: keys 201..600
    def readV(v: Long) = s.read.schema("key LONG, val STRING")
      .csv(graft.sources.KvSink.committedPaths(out, v): _*)
    val v1 = readV(1L)
    val v2 = readV(2L)
    val inserts = v2.join(v1, Seq("key", "val"), "left_anti")
      .withColumn("change_type", lit("insert"))
    val deletes = v1.join(v2, Seq("key", "val"), "left_anti")
      .withColumn("change_type", lit("delete"))
    inserts.unionByName(deletes)
      .select(col("change_type"), col("key"), col("val"))
      .orderBy(col("change_type"), col("key"))
  }

  /** S13 — HIVE-PARTITIONED sink + statically pruned read: events land
    * partitioned by event_type (the date/category layout every 100 TB
    * fact table uses), and the reader's literal predicate becomes a
    * PARTITION filter — the scan lists ONE directory and never opens
    * the other partitions' files (PlanSpec pins `PartitionFilters`;
    * the DPP spec covers the runtime-pruned variant of the same
    * layout). The oracle recomputes from the unpartitioned original,
    * so the partition round-trip is verified lossless including the
    * partition column's value restoration from directory names. The
    * read-back declares its schema (the data columns' declared types, then
    * `event_type` as the string partition column), so reading it lists the
    * directory and runs no footer-inference job.
    */
  def partitionedSink(s: SparkSession, d: String): DataFrame = {
    val out = Scratch.dir("part")
    Tables.events(s, d)
      .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
      .write.mode("overwrite").partitionBy("event_type").parquet(out)
    val ev = Tables.schemaOf(s, d, "events")
    val readSchema = StructType(
      Seq("event_id", "user_id", "value").map(ev(_)) :+ StructField("event_type", StringType))
    s.read.schema(readSchema).parquet(out)
      .filter(col("event_type") === "purchase") // static partition pruning
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_purch"),
        sum(Det.micros(col("value"))).as("rev_micro"))
      .orderBy(col("user_id"))
  }

  /** S5+ — Spark 4 SQL pipe syntax (`|>`): the linear FROM → WHERE →
    * AGGREGATE → ORDER BY form of the s5 view query. Same Catalyst plan
    * as the nested-SELECT spelling (the syntax is sugar over the same
    * logical operators — predicate still reaches the scan), verified
    * against a classic-SQL oracle to pin that equivalence.
    */
  def pipeSql(s: SparkSession, d: String): DataFrame = {
    Tables.orders(s, d).createOrReplaceTempView("orders_pipe_v")
    s.sql(
      """FROM orders_pipe_v
        ||> WHERE o_orderstatus = 'F'
        ||> AGGREGATE COUNT(*) AS n_orders,
        |     CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_price
        |   GROUP BY o_orderpriority
        ||> ORDER BY o_orderpriority""".stripMargin)
  }

  /** S8 — parquet schema EVOLUTION via mergeSchema: two writer
    * generations land in the same dataset — gen-1 wrote
    * `(o_orderkey, o_totalprice)`, gen-2 added `o_orderstatus` — and a
    * `mergeSchema=true` read unions the footers so old files surface the
    * new column as NULL (mapped to a `pre_evolution` bucket here, making
    * the NULL path part of the verified output). The oracle replays the
    * generation split from the base table, so pass = the merged read
    * lost no rows and NULLed exactly the gen-1 rows.
    *
    * At 100 TB: mergeSchema reconciles one footer PER FILE (a
    * distributed footer-read job, but still O(files)) — production
    * datasets evolve the schema in a table catalog and pass it
    * explicitly to the scan; this operator verifies the read-side
    * semantics that make that evolution safe (new columns nullable,
    * subset projections compatible both directions).
    */
  def schemaEvolution(s: SparkSession, d: String): DataFrame = {
    val out = Scratch.dir("evo")
    val o = Tables.orders(s, d)
    o.filter(col("o_orderkey") % 2 === 0)
      .select(col("o_orderkey"), col("o_totalprice"))
      .write.mode("overwrite").parquet(s"$out/gen1")
    o.filter(col("o_orderkey") % 2 === 1)
      .select(col("o_orderkey"), col("o_totalprice"), col("o_orderstatus"))
      .write.mode("overwrite").parquet(s"$out/gen2")
    s.read.option("mergeSchema", "true").parquet(s"$out/gen1", s"$out/gen2")
      .groupBy(coalesce(col("o_orderstatus"), lit("pre_evolution")).as("status"))
      .agg(count(lit(1)).as("n_orders"),
        expr("CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE)")
          .as("sum_price"))
      .orderBy(col("status"))
  }


  /** S12 — the SQL MERGE INTO statement, end-to-end through the custom
    * V2 catalog ([[graft.sources.MemCatalog]], SupportsRowLevelOperations,
    * group-based copy-on-write): the modern replacement for the
    * reference's overwrite-everything refresh (etl.py:30-39,
    * mode('overwrite') on every dimension). A stale dim seeded with
    * zeroed balances meets a fresh extract; matched keys update in
    * place, new keys insert — one statement, atomic snapshot swap. The
    * oracle replays MERGE semantics as the LEFT JOIN ∪ ANTI JOIN it
    * desugars to, so what is verified is the entire catalog → analyzer →
    * RewriteMergeIntoTable → ReplaceData → V2 commit pipeline.
    *
    * Scale shape: group-based COW rewrites only the groups the scan
    * reports — here ONE group (unpartitioned demo table), in production
    * file-sized groups pruned by the ON keys; the merge join itself is a
    * plain shuffled join Catalyst plans like any other.
    */
  def mergeInto(s: SparkSession, d: String): DataFrame = {
    s.conf.set("spark.sql.catalog.graft_cat", "graft.sources.MemCatalog")
    s.sql("DROP TABLE IF EXISTS graft_cat.ns.dim")
    s.sql("CREATE TABLE graft_cat.ns.dim (k BIGINT, name STRING, bal DECIMAL(12,2))")
    Tables.customer(s, d).filter(col("c_custkey") <= 1000)
      .select(col("c_custkey").as("k"), col("c_name").as("name"),
        expr("CAST(0 AS DECIMAL(12,2))").as("bal"))
      .createOrReplaceTempView("merge_seed")
    s.sql("INSERT INTO graft_cat.ns.dim SELECT * FROM merge_seed")
    Tables.customer(s, d)
      .filter(col("c_custkey") >= 500 && col("c_custkey") <= 1500)
      .select(col("c_custkey").as("k"), col("c_name").as("name"),
        expr("CAST(c_acctbal AS DECIMAL(12,2))").as("bal"))
      .createOrReplaceTempView("merge_updates")
    s.sql(
      """MERGE INTO graft_cat.ns.dim t USING merge_updates s ON t.k = s.k
        |WHEN MATCHED THEN UPDATE SET t.name = s.name, t.bal = s.bal
        |WHEN NOT MATCHED THEN INSERT (k, name, bal) VALUES (s.k, s.name, s.bal)
        |""".stripMargin)
    // Verified surface carries no raw DECIMAL: the driver's DuckDB→pandas
    // bridge shreds DECIMAL to float64 before hashing (values ≤ 1e4 ≪ 2^53,
    // so the DOUBLE cast is exact). The table itself stays DECIMAL(12,2).
    s.table("graft_cat.ns.dim")
      .withColumn("bal", col("bal").cast("double")).orderBy(col("k"))
  }

  /** S12b — SQL UPDATE and DELETE statements through the same row-level
    * operation machinery as [[mergeInto]]: Catalyst rewrites each into a
    * group-based ReplaceData (RewriteUpdateTable / RewriteDeleteFromTable)
    * against [[graft.sources.MemCatalog]]'s copy-on-write table — carried
    * rows re-written, touched rows transformed or dropped, one atomic
    * snapshot swap per statement. The oracle replays both statements as
    * the CASE + filter they desugar to.
    */
  def sqlUpdateDelete(s: SparkSession, d: String): DataFrame = {
    s.conf.set("spark.sql.catalog.graft_cat", "graft.sources.MemCatalog")
    s.sql("DROP TABLE IF EXISTS graft_cat.ns.ord")
    s.sql("CREATE TABLE graft_cat.ns.ord (k BIGINT, status STRING, price DECIMAL(12,2))")
    Tables.orders(s, d).filter(col("o_orderkey") <= 2000)
      .select(col("o_orderkey").as("k"), col("o_orderstatus").as("status"),
        expr("CAST(o_totalprice AS DECIMAL(12,2))").as("price"))
      .createOrReplaceTempView("upddel_seed")
    s.sql("INSERT INTO graft_cat.ns.ord SELECT * FROM upddel_seed")
    s.sql("UPDATE graft_cat.ns.ord SET status = 'X' WHERE price > 150000")
    s.sql("DELETE FROM graft_cat.ns.ord WHERE k % 10 = 3")
    // No raw DECIMAL on the verified surface (see mergeInto); exact cast.
    s.table("graft_cat.ns.ord")
      .withColumn("price", col("price").cast("double")).orderBy(col("k"))
  }

  /** S12c — the same MERGE as [[mergeInto]] through the MERGE-ON-READ
    * write path ([[graft.sources.MemDeltaOperation]], SupportsDelta): the
    * `mor` namespace flips the table to delta mode, so Catalyst plans a
    * WriteDelta instead of ReplaceData — no carried-over rows flow
    * through the plan, the writer receives per-row update/insert actions
    * keyed by the declared rowId, and commit appends them to a delta log
    * the scan reconciles at read time. Same statement, same oracle, same
    * result as the copy-on-write twin — verified against the identical
    * desugared LEFT JOIN ∪ ANTI JOIN; RowLevelSpec additionally pins the
    * plan difference (WriteDelta vs ReplaceData), base-snapshot
    * immutability, and row-identity between the two paths.
    *
    * Scale shape: COW pays the write (rewrite every matched group), MOR
    * pays the read (merge delta files per scan) — the axis every lake
    * format exposes (Iceberg MOR, Delta deletion vectors). A MERGE
    * touching 0.1% of a 100 TB table writes ~0.1% here vs the matched
    * groups' full bytes under COW.
    */
  def mergeMor(s: SparkSession, d: String): DataFrame = {
    s.conf.set("spark.sql.catalog.graft_cat", "graft.sources.MemCatalog")
    s.sql("DROP TABLE IF EXISTS graft_cat.mor.dim")
    s.sql("CREATE TABLE graft_cat.mor.dim (k BIGINT NOT NULL, name STRING, bal DECIMAL(12,2))")
    Tables.customer(s, d).filter(col("c_custkey") <= 1000)
      .select(col("c_custkey").as("k"), col("c_name").as("name"),
        expr("CAST(0 AS DECIMAL(12,2))").as("bal"))
      .createOrReplaceTempView("mor_merge_seed")
    s.sql("INSERT INTO graft_cat.mor.dim SELECT * FROM mor_merge_seed")
    Tables.customer(s, d)
      .filter(col("c_custkey") >= 500 && col("c_custkey") <= 1500)
      .select(col("c_custkey").as("k"), col("c_name").as("name"),
        expr("CAST(c_acctbal AS DECIMAL(12,2))").as("bal"))
      .createOrReplaceTempView("mor_merge_updates")
    s.sql(
      """MERGE INTO graft_cat.mor.dim t USING mor_merge_updates s ON t.k = s.k
        |WHEN MATCHED THEN UPDATE SET t.name = s.name, t.bal = s.bal
        |WHEN NOT MATCHED THEN INSERT (k, name, bal) VALUES (s.k, s.name, s.bal)
        |""".stripMargin)
    // No raw DECIMAL on the verified surface (see mergeInto); exact cast.
    s.table("graft_cat.mor.dim")
      .withColumn("bal", col("bal").cast("double")).orderBy(col("k"))
  }

  /** S12d — UPDATE and DELETE through the merge-on-read path (see
    * [[mergeMor]]): RewriteUpdateTable / RewriteDeleteFromTable detect
    * SupportsDelta and plan WriteDelta — the UPDATE ships only the
    * touched rows as update actions, the DELETE only the matched keys as
    * delete actions, and the base snapshot written by the INSERT is
    * never rewritten. Oracle: the same CASE + filter desugaring as the
    * COW twin [[sqlUpdateDelete]].
    */
  def upddelMor(s: SparkSession, d: String): DataFrame = {
    s.conf.set("spark.sql.catalog.graft_cat", "graft.sources.MemCatalog")
    s.sql("DROP TABLE IF EXISTS graft_cat.mor.ord")
    s.sql("CREATE TABLE graft_cat.mor.ord (k BIGINT NOT NULL, status STRING, price DECIMAL(12,2))")
    Tables.orders(s, d).filter(col("o_orderkey") <= 2000)
      .select(col("o_orderkey").as("k"), col("o_orderstatus").as("status"),
        expr("CAST(o_totalprice AS DECIMAL(12,2))").as("price"))
      .createOrReplaceTempView("mor_upddel_seed")
    s.sql("INSERT INTO graft_cat.mor.ord SELECT * FROM mor_upddel_seed")
    s.sql("UPDATE graft_cat.mor.ord SET status = 'X' WHERE price > 150000")
    s.sql("DELETE FROM graft_cat.mor.ord WHERE k % 10 = 3")
    // No raw DECIMAL on the verified surface (see mergeInto); exact cast.
    s.table("graft_cat.mor.ord")
      .withColumn("price", col("price").cast("double")).orderBy(col("k"))
  }

  /** S17 — MERGE INTO a PARTITIONED V2 table: the same row-level
    * machinery as [[mergeInto]], but the table declares
    * `PARTITIONED BY (bucket(8, k))`, so the partition id is the
    * copy-on-write group id and Catalyst's runtime group filter prunes
    * the rewrite to the buckets the source actually touches (the source
    * is restricted to k % 8 ∈ {1, 3} — six of eight partitions are
    * carried by reference, never rewritten; PlanSpec proves the
    * object-identity version of that claim). The oracle is the same
    * partition-agnostic LEFT JOIN ∪ ANTI JOIN desugaring: partitioning
    * must change the WRITE COST, never the result.
    *
    * Scale shape: this is the Iceberg/Delta production MERGE — a
    * statement touching 2/8 of the key space rewrites 2/8 of the bytes
    * under partitioned COW vs 100% on the r13 unpartitioned table.
    */
  def partitionedMerge(s: SparkSession, d: String): DataFrame = {
    s.conf.set("spark.sql.catalog.graft_cat", "graft.sources.MemCatalog")
    s.sql("DROP TABLE IF EXISTS graft_cat.ns.pmerge")
    s.sql(
      """CREATE TABLE graft_cat.ns.pmerge (k BIGINT, name STRING, bal DOUBLE)
        |PARTITIONED BY (bucket(8, k))""".stripMargin)
    Tables.customer(s, d).filter(col("c_custkey") <= 1200)
      .select(col("c_custkey").as("k"), col("c_name").as("name"),
        lit(0.0).as("bal"))
      .createOrReplaceTempView("pmerge_seed")
    s.sql("INSERT INTO graft_cat.ns.pmerge SELECT * FROM pmerge_seed")
    Tables.customer(s, d)
      .filter(col("c_custkey").between(600, 1800) &&
        (col("c_custkey") % 8 === 1 || col("c_custkey") % 8 === 3))
      .select(col("c_custkey").as("k"), col("c_name").as("name"),
        col("c_acctbal").cast("double").as("bal"))
      .createOrReplaceTempView("pmerge_updates")
    s.sql(
      """MERGE INTO graft_cat.ns.pmerge t USING pmerge_updates s ON t.k = s.k
        |WHEN MATCHED THEN UPDATE SET t.name = s.name, t.bal = s.bal
        |WHEN NOT MATCHED THEN INSERT (k, name, bal) VALUES (s.k, s.name, s.bal)
        |""".stripMargin)
    s.table("graft_cat.ns.pmerge").orderBy(col("k"))
  }

  /** S20 — table-level CHECK constraints ENFORCED AT WRITE on the V2
    * catalog (the Delta-style write-time contract; the QC suite audits
    * after the fact — this refuses bad data before it lands):
    * `ALTER TABLE ... ADD CONSTRAINT ... CHECK (...)` stores the
    * constraint on [[graft.sources.MemTable]] and the table REPORTS it
    * through `constraints()`, so Spark's ResolveTableConstraints rule
    * wraps every subsequent write — plain INSERT and MERGE's ReplaceData
    * alike — in CheckInvariant guards that throw on the first violating
    * row. The write's tasks fail BEFORE any commit message reaches the
    * table, so a violating statement aborts ATOMICALLY: no partial
    * commit even when most of its rows were clean (SourceSinkSpec pins
    * abort + no-partial-visibility + clean-write-lands).
    *
    * The query drives the full lifecycle: constrain → clean seed lands
    * → violating append aborts whole → clean MERGE lands → violating
    * MERGE aborts whole → final state. The oracle replays only the
    * committed statements (seed + MERGE desugared to LEFT JOIN ∪ ANTI
    * JOIN); the aborted ones must contribute NOTHING, which is exactly
    * what the hash compare verifies.
    *
    * At 100 TB: the guard is a per-row predicate inside the write
    * projection (no extra scan, no shuffle); abort cost is the failed
    * task's, and atomicity is the V2 commit protocol's — same as here.
    */
  def constrainedMerge(s: SparkSession, d: String): DataFrame = {
    s.conf.set("spark.sql.catalog.graft_cat", "graft.sources.MemCatalog")
    s.sql("DROP TABLE IF EXISTS graft_cat.ns.acct")
    s.sql("CREATE TABLE graft_cat.ns.acct (k BIGINT, name STRING, bal DECIMAL(12,2))")
    s.sql("ALTER TABLE graft_cat.ns.acct ADD CONSTRAINT bal_nonneg CHECK (bal >= 0)")
    s.sql("ALTER TABLE graft_cat.ns.acct ADD CONSTRAINT k_present CHECK (k IS NOT NULL)")
    // clean seed: balances clamped non-negative — lands
    Tables.customer(s, d).filter(col("c_custkey") <= 1000)
      .select(col("c_custkey").as("k"), col("c_name").as("name"),
        expr("CAST(greatest(c_acctbal, 0) AS DECIMAL(12,2))").as("bal"))
      .createOrReplaceTempView("acct_seed")
    s.sql("INSERT INTO graft_cat.ns.acct SELECT * FROM acct_seed")
    // violating append: mostly-clean rows with every 50th balance forced
    // negative (fixture-independent — customer key ranges shrink with
    // SF) — the whole statement must abort, its clean rows too
    val appendAborted =
      try {
        s.sql(
          """INSERT INTO graft_cat.ns.acct
            |SELECT k + 1000000, name,
            |       CASE WHEN k % 50 = 0 THEN CAST(-1 AS DECIMAL(12,2))
            |            ELSE bal END
            |FROM acct_seed""".stripMargin)
        false
      } catch { case _: Exception => true }
    require(appendAborted, "violating append must abort")
    // clean MERGE through the constrained table — lands
    Tables.customer(s, d)
      .filter(col("c_custkey") >= 500 && col("c_custkey") <= 1500)
      .select(col("c_custkey").as("k"), col("c_name").as("name"),
        expr("CAST(greatest(c_acctbal, 0) AS DECIMAL(12,2))").as("bal"))
      .createOrReplaceTempView("acct_updates")
    s.sql(
      """MERGE INTO graft_cat.ns.acct t USING acct_updates s ON t.k = s.k
        |WHEN MATCHED THEN UPDATE SET t.name = s.name, t.bal = s.bal
        |WHEN NOT MATCHED THEN INSERT (k, name, bal) VALUES (s.k, s.name, s.bal)
        |""".stripMargin)
    // violating MERGE: pushes every matched balance below zero — the
    // source is the seed itself, so matches exist at every SF — aborts
    val mergeAborted =
      try {
        s.sql(
          """MERGE INTO graft_cat.ns.acct t USING acct_seed s ON t.k = s.k
            |WHEN MATCHED THEN UPDATE SET t.bal = CAST(-1 AS DECIMAL(12,2))
            |""".stripMargin)
        false
      } catch { case _: Exception => true }
    require(mergeAborted, "violating MERGE must abort")
    // No raw DECIMAL on the verified surface (see mergeInto); exact cast.
    s.table("graft_cat.ns.acct")
      .withColumn("bal", col("bal").cast("double")).orderBy(col("k"))
  }

  /** S18 — SCHEMA EVOLUTION at the catalog, composed with row-level
    * SQL: ADD COLUMNS is a pure metadata operation on
    * [[graft.sources.MemCatalog]] (zero data IO — the spec proves the
    * stored base rows are the SAME OBJECTS after the ALTER), old rows
    * null-backfill at scan time by ordinal, and a subsequent UPDATE
    * rewrites pre-evolution rows through the evolved schema — the
    * Iceberg/Delta add-column contract end to end, one statement each.
    * The reference's only evolution story is re-writing whole outputs
    * (etl.py mode('overwrite')); `s8_schema_evolution` covers the
    * file-level mergeSchema analogue — this is the catalog-level one.
    */
  def alterEvolution(s: SparkSession, d: String): DataFrame = {
    s.conf.set("spark.sql.catalog.graft_cat", "graft.sources.MemCatalog")
    s.sql("DROP TABLE IF EXISTS graft_cat.ns.evo")
    s.sql("CREATE TABLE graft_cat.ns.evo (k BIGINT, name STRING)")
    Tables.customer(s, d).filter(col("c_custkey") <= 500)
      .select(col("c_custkey").as("k"), col("c_name").as("name"))
      .createOrReplaceTempView("evo_seed")
    s.sql("INSERT INTO graft_cat.ns.evo SELECT * FROM evo_seed")
    s.sql("ALTER TABLE graft_cat.ns.evo ADD COLUMNS (bal DOUBLE)")
    Tables.customer(s, d)
      .filter(col("c_custkey") >= 501 && col("c_custkey") <= 1000)
      .select(col("c_custkey").as("k"), col("c_name").as("name"),
        col("c_acctbal").cast("double").as("bal"))
      .createOrReplaceTempView("evo_wide")
    s.sql("INSERT INTO graft_cat.ns.evo SELECT * FROM evo_wide")
    s.sql("UPDATE graft_cat.ns.evo SET bal = CAST(-1.0 AS DOUBLE) WHERE k <= 100")
    s.table("graft_cat.ns.evo").orderBy(col("k"))
  }

  /** S14 — PERMISSIVE CSV ingestion with corrupt-record capture: the
    * messy-feed reality every warehouse loader faces. A CSV feed is
    * synthesized from `nation` with every 5th record deliberately
    * malformed (non-numeric key, missing column), written as raw text,
    * and read back with an EXPLICIT schema + `columnNameOfCorruptRecord`
    * — clean rows parse typed, broken rows land whole in the quarantine
    * column with typed fields null, and NOTHING is silently dropped
    * (PERMISSIVE, the default that production loaders should pin
    * explicitly). The report aggregates survivors per region and counts
    * quarantined lines; the oracle replays the corruption rule
    * relationally, so the gate verifies Spark's parser semantics, not
    * just row counts.
    *
    * Scale shape: text scan → per-line parse → aggregate; splittable
    * uncompressed text, no shuffle until the |regions|-row rollup.
    */
  def csvBadRecords(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.types._
    val out = Scratch.dir("csv_bad")
    Tables.nation(s, d)
      .select(when(col("n_nationkey") % 5 === 0,
          concat(lit("#corrupt#,"), col("n_name")))
        .otherwise(concat_ws(",", col("n_nationkey"), col("n_name"),
          col("n_regionkey"))).as("value"))
      .write.mode("overwrite").text(out)
    val schema = StructType(Seq(
      StructField("k", LongType), StructField("name", StringType),
      StructField("rk", LongType), StructField("_bad", StringType)))
    val parsed = s.read.schema(schema)
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_bad")
      .csv(out)
    parsed.groupBy(
        when(col("_bad").isNull, col("rk")).otherwise(lit(-1L)).as("region_key"))
      .agg(count(lit(1)).as("n_rows"),
        sum(when(col("_bad").isNotNull, 1L).otherwise(0L)).as("n_quarantined"),
        // aggregate typed fields over CLEAN rows only — what a malformed
        // row's partially-parsed fields contain is parser detail, not
        // contract, so the verified surface never depends on it
        min(when(col("_bad").isNull, col("name"))).as("first_name"),
        coalesce(sum(when(col("_bad").isNull, col("k"))), lit(0L)).as("sum_keys"))
      .orderBy(col("region_key"))
  }

  /** S15 — NESTED JSON round-trip: the document-shaped ingestion every
    * API-fed pipeline starts from. Orders nest their lineitems into a
    * per-order JSON document (`{order, date, items:[{line, qty,
    * price_cents}..]}`), written as JSON lines; the read-back declares
    * the EXPLICIT nested schema (never inference — schema inference is a
    * full extra pass at scale and type-unstable between runs), then
    * `posexplode` re-flattens items to rows. The verified surface is the
    * flattened result against the straight relational join — proving the
    * nest→serialize→parse→unnest cycle is lossless. Measures ship as
    * integer cents INSIDE the JSON: a double that round-trips through
    * text is a determinism leak this engine never takes.
    *
    * Scale shape: the nest is one groupBy(order) with map-side combine;
    * items arrays sort in-row (`sort_array`, linenumber leads the
    * struct); the re-read is a splittable JSON-lines scan.
    */
  def nestedJson(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.types._
    val out = Scratch.dir("nested_json")
    val items = Tables.lineitem(s, d)
      .filter(col("l_orderkey") <= 500)
      .select(col("l_orderkey"),
        struct(col("l_linenumber").cast("long").as("line"),
          col("l_quantity").cast("long").as("qty"),
          (col("l_extendedprice").cast(DecimalType(19, 2)) * lit(100))
            .cast("long").as("price_cents")).as("item"))
      .groupBy(col("l_orderkey"))
      .agg(sort_array(collect_list(col("item"))).as("items"))
    Tables.orders(s, d).filter(col("o_orderkey") <= 500)
      .join(items, col("o_orderkey") === col("l_orderkey"), "left")
      .select(to_json(struct(
        col("o_orderkey").as("order"),
        to_date(col("o_orderdate")).cast("string").as("date"),
        coalesce(col("items"), array()).as("items"))).as("value"))
      .write.mode("overwrite").text(out)
    val schema = StructType(Seq(
      StructField("order", LongType),
      StructField("date", StringType),
      StructField("items", ArrayType(StructType(Seq(
        StructField("line", LongType), StructField("qty", LongType),
        StructField("price_cents", LongType)))))))
    s.read.schema(schema).json(out)
      .select(col("order").as("order_key"), col("date"),
        size(col("items")).as("n_items"),
        posexplode_outer(col("items")).as(Seq("pos", "item")))
      .select(col("order_key"), col("date"), col("n_items"),
        col("item.line").as("line"), col("item.qty").as("qty"),
        col("item.price_cents").as("price_cents"))
      // the synthetic lineitem carries duplicate (order, linenumber) pairs,
      // so the deterministic tail needs the full measure tuple
      .orderBy(col("order_key"), col("line"), col("qty"), col("price_cents"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "s15_nested_json" -> nestedJson,
    "s14_csv_badrecords" -> csvBadRecords,
    "s8_schema_evolution" -> schemaEvolution,
    "s5_pipe_sql" -> pipeSql,
    "s2_json_roundtrip" -> jsonRoundtrip,
    "s9_orc_roundtrip" -> orcRoundtrip,
    "s10_dsv2_source" -> dsv2Source,
    "s10_dsv2_pushdown" -> dsv2Pushdown,
    "s11_dsv2_sink" -> dsv2Sink,
    "s12_time_travel" -> timeTravel,
    "s12_change_feed" -> changeFeed,
    "s13_partitioned_sink" -> partitionedSink,
    "s12_merge_into" -> mergeInto,
    "s20_constrained_merge" -> constrainedMerge,
    "s12_update_delete" -> sqlUpdateDelete,
    "s12_merge_mor" -> mergeMor,
    "s12_upddel_mor" -> upddelMor,
    "s16_optimize" -> optimizeCompact,
    "s18_drop_rename" -> dropRenameEvolution,
    "s19_wap_branch" -> wapBranch,
    "s17_partitioned_merge" -> partitionedMerge,
    "s18_alter_evolution" -> alterEvolution,
    "a8_flagship" -> flagship,
    "s1_multi_parquet" -> multiPathScan,
    "s5_sql_view" -> sqlOverView,
    "p1_project_filter" -> projectFilter,
    "p3_whitelist_other" -> whitelistOther,
    "p4_null_fill" -> nullFill,
    "p5_null_drop" -> nullDrop,
    "p6_dedup_rows" -> dedupRows,
    "p7_distinct_dim" -> distinctDim,
    "p8_derived_columns" -> derivedColumns,
    "p9_drop_columns" -> dropColumns,
    "o3_topk" -> topK
  )

  /** COW and MOR are different write paths to the SAME table content —
    * one desugared oracle verifies both twins. */
  private val updDelOracle: String =
    """WITH seed AS (
      |  SELECT o_orderkey AS k, o_orderstatus AS status,
      |         CAST(o_totalprice AS DECIMAL(12,2)) AS price
      |  FROM orders WHERE o_orderkey <= 2000)
      |SELECT k,
      |       CASE WHEN price > 150000 THEN 'X' ELSE status END AS status,
      |       CAST(price AS DOUBLE) AS price
      |FROM seed WHERE k % 10 <> 3 ORDER BY k""".stripMargin

  private val mergeOracle: String =
    """WITH target AS (
      |  SELECT c_custkey AS k, c_name AS name,
      |         CAST(0 AS DECIMAL(12,2)) AS bal
      |  FROM customer WHERE c_custkey <= 1000),
      |source AS (
      |  SELECT c_custkey AS k, c_name AS name,
      |         CAST(c_acctbal AS DECIMAL(12,2)) AS bal
      |  FROM customer WHERE c_custkey BETWEEN 500 AND 1500),
      |merged AS (
      |  SELECT t.k,
      |         COALESCE(s.name, t.name) AS name,
      |         COALESCE(s.bal, t.bal) AS bal
      |  FROM target t LEFT JOIN source s ON t.k = s.k
      |  UNION ALL
      |  SELECT s.k, s.name, s.bal
      |  FROM source s ANTI JOIN target t ON s.k = t.k)
      |SELECT k, name, CAST(bal AS DOUBLE) AS bal FROM merged ORDER BY k""".stripMargin

  val oracle: Map[String, String] = Map(
    "s18_drop_rename" ->
      """SELECT c_custkey AS k,
        |       CASE WHEN c_custkey <= 10 THEN upper(c_name) ELSE c_name END
        |         AS cust_name,
        |       CASE WHEN c_custkey >= 801 THEN c_mktsegment
        |            ELSE CAST(NULL AS VARCHAR) END AS seg
        |FROM customer WHERE c_custkey <= 1000
        |ORDER BY k""".stripMargin,
    "s19_wap_branch" ->
      """WITH seed AS (
        |  SELECT o_orderkey AS key, o_orderstatus AS val
        |  FROM orders WHERE o_orderkey <= 500),
        |ph AS (
        |  SELECT 'staged' AS phase, key, val FROM seed WHERE key <= 300
        |  UNION ALL
        |  SELECT 'published', key, val FROM seed
        |  UNION ALL
        |  SELECT 'final', key, val FROM seed)
        |SELECT phase, val, CAST(COUNT(*) AS BIGINT) AS n_rows,
        |       CAST(SUM(key) AS BIGINT) AS key_sum
        |FROM ph GROUP BY phase, val ORDER BY phase, val""".stripMargin,
    "s16_optimize" ->
      """WITH seed AS (
        |  SELECT o_orderkey AS key, o_orderstatus AS val
        |  FROM orders WHERE o_orderkey <= 600),
        |phases(phase) AS (VALUES ('after'), ('before'))
        |SELECT phase, val, CAST(COUNT(*) AS BIGINT) AS n_rows,
        |       CAST(SUM(key) AS BIGINT) AS key_sum
        |FROM phases CROSS JOIN seed
        |GROUP BY phase, val ORDER BY phase, val""".stripMargin,
    "s12_merge_mor" -> mergeOracle,
    "s12_upddel_mor" -> updDelOracle,
    "s12_update_delete" -> updDelOracle,
    "s12_merge_into" -> mergeOracle,
    "s20_constrained_merge" ->
      """WITH target AS (
        |  SELECT c_custkey AS k, c_name AS name,
        |         CAST(greatest(c_acctbal, 0) AS DECIMAL(12,2)) AS bal
        |  FROM customer WHERE c_custkey <= 1000),
        |source AS (
        |  SELECT c_custkey AS k, c_name AS name,
        |         CAST(greatest(c_acctbal, 0) AS DECIMAL(12,2)) AS bal
        |  FROM customer WHERE c_custkey BETWEEN 500 AND 1500),
        |merged AS (
        |  SELECT t.k,
        |         COALESCE(s.name, t.name) AS name,
        |         COALESCE(s.bal, t.bal) AS bal
        |  FROM target t LEFT JOIN source s ON t.k = s.k
        |  UNION ALL
        |  SELECT s.k, s.name, s.bal
        |  FROM source s ANTI JOIN target t ON t.k = s.k)
        |SELECT k, name, CAST(bal AS DOUBLE) AS bal
        |FROM merged ORDER BY k""".stripMargin,
    "s18_alter_evolution" ->
      """WITH old AS (
        |  SELECT c_custkey AS k, c_name AS name, CAST(NULL AS DOUBLE) AS bal
        |  FROM customer WHERE c_custkey <= 500),
        |wide AS (
        |  SELECT c_custkey AS k, c_name AS name, CAST(c_acctbal AS DOUBLE) AS bal
        |  FROM customer WHERE c_custkey BETWEEN 501 AND 1000),
        |u AS (SELECT * FROM old UNION ALL SELECT * FROM wide)
        |SELECT k, name,
        |       CASE WHEN k <= 100 THEN CAST(-1.0 AS DOUBLE) ELSE bal END AS bal
        |FROM u ORDER BY k""".stripMargin,
    "s17_partitioned_merge" ->
      """WITH target AS (
        |  SELECT c_custkey AS k, c_name AS name, CAST(0 AS DOUBLE) AS bal
        |  FROM customer WHERE c_custkey <= 1200),
        |source AS (
        |  SELECT c_custkey AS k, c_name AS name,
        |         CAST(c_acctbal AS DOUBLE) AS bal
        |  FROM customer
        |  WHERE c_custkey BETWEEN 600 AND 1800
        |    AND (c_custkey % 8 = 1 OR c_custkey % 8 = 3)),
        |merged AS (
        |  SELECT t.k,
        |         COALESCE(s.name, t.name) AS name,
        |         COALESCE(s.bal, t.bal) AS bal
        |  FROM target t LEFT JOIN source s ON t.k = s.k
        |  UNION ALL
        |  SELECT s.k, s.name, s.bal
        |  FROM source s ANTI JOIN target t ON s.k = t.k)
        |SELECT k, name, bal FROM merged ORDER BY k""".stripMargin,
    "s11_dsv2_sink" ->
      """SELECT o_orderkey AS key, o_orderstatus AS val
        |FROM orders WHERE o_orderkey <= 500 ORDER BY key""".stripMargin,
    "s13_partitioned_sink" ->
      """SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_purch,
        |       CAST(SUM(CAST(CAST(CAST(value AS DECIMAL(18,4)) * 10000
        |            AS DECIMAL(19,0)) AS BIGINT)) AS BIGINT) AS rev_micro
        |FROM events WHERE event_type = 'purchase'
        |GROUP BY user_id ORDER BY user_id""".stripMargin,
    "s12_change_feed" ->
      """WITH v1 AS (
        |  SELECT o_orderkey AS key, o_orderstatus AS val FROM orders
        |  WHERE o_orderkey <= 400),
        |v2 AS (
        |  SELECT o_orderkey AS key, o_orderstatus AS val FROM orders
        |  WHERE o_orderkey > 200 AND o_orderkey <= 600)
        |SELECT change_type, key, val FROM (
        |  SELECT 'insert' AS change_type, key, val FROM v2
        |  ANTI JOIN v1 USING (key, val)
        |  UNION ALL
        |  SELECT 'delete', key, val FROM v1 ANTI JOIN v2 USING (key, val))
        |ORDER BY change_type, key""".stripMargin,
    "s12_time_travel" ->
      """WITH v(version, maxk) AS (VALUES (CAST(1 AS BIGINT), 300),
        |                                 (CAST(2 AS BIGINT), 500),
        |                                 (CAST(3 AS BIGINT), 600))
        |SELECT version,
        |       CAST(COUNT(*) AS BIGINT) AS n_rows,
        |       CAST(SUM(o_orderkey) AS BIGINT) AS key_sum
        |FROM v JOIN orders ON o_orderkey <= maxk
        |GROUP BY version ORDER BY version""".stripMargin,
    "s10_dsv2_pushdown" ->
      """SELECT CAST(i % 7 AS BIGINT) AS mod7,
        |       CAST(COUNT(*) AS BIGINT) AS n,
        |       CAST(SUM(i * i) AS BIGINT) AS sum_sq
        |FROM generate_series(25000, 74999) AS t(i)
        |GROUP BY 1 ORDER BY mod7""".stripMargin,
    "s10_dsv2_source" ->
      """SELECT CAST(i % 7 AS BIGINT) AS mod7,
        |       CAST(COUNT(*) AS BIGINT) AS n,
        |       CAST(SUM(i * i) AS BIGINT) AS sum_sq
        |FROM generate_series(0, 99999) AS t(i)
        |GROUP BY 1 ORDER BY mod7""".stripMargin,
    "s9_orc_roundtrip" ->
      """SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice
        |FROM lineitem
        |WHERE l_orderkey <= 1000 AND l_quantity >= 25
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,
    "s8_schema_evolution" ->
      """SELECT CASE WHEN o_orderkey % 2 = 1 THEN o_orderstatus
        |            ELSE 'pre_evolution' END AS status,
        |       COUNT(*) AS n_orders,
        |       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_price
        |FROM orders GROUP BY 1 ORDER BY status""".stripMargin,
    "s5_pipe_sql" ->
      """SELECT o_orderpriority, COUNT(*) AS n_orders,
        |       CAST(SUM(CAST(o_totalprice AS DECIMAL(30,4))) AS DOUBLE) AS sum_price
        |FROM orders WHERE o_orderstatus = 'F'
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    "s2_json_roundtrip" ->
      """SELECT o_orderkey, o_custkey, o_orderdate, o_totalprice
        |FROM orders WHERE o_orderkey <= 1000 ORDER BY o_orderkey""".stripMargin,
    "s15_nested_json" ->
      """WITH it AS (
        |  SELECT l_orderkey, CAST(l_linenumber AS BIGINT) AS line,
        |         CAST(l_quantity AS BIGINT) AS qty,
        |         CAST(CAST(l_extendedprice AS DECIMAL(19,2)) * 100 AS BIGINT) AS price_cents
        |  FROM lineitem WHERE l_orderkey <= 500)
        |SELECT o_orderkey AS order_key,
        |       CAST(CAST(o_orderdate AS DATE) AS VARCHAR) AS date,
        |       CAST(COUNT(line) OVER (PARTITION BY o_orderkey) AS INT) AS n_items,
        |       line, qty, price_cents
        |FROM orders LEFT JOIN it ON o_orderkey = l_orderkey
        |WHERE o_orderkey <= 500
        |ORDER BY order_key, line, qty, price_cents""".stripMargin,
    "s14_csv_badrecords" ->
      """WITH tagged AS (
        |  SELECT n_nationkey, n_name, n_regionkey,
        |         n_nationkey % 5 = 0 AS corrupt
        |  FROM nation)
        |SELECT CAST(CASE WHEN corrupt THEN -1 ELSE n_regionkey END AS BIGINT) AS region_key,
        |       CAST(COUNT(*) AS BIGINT) AS n_rows,
        |       CAST(SUM(CASE WHEN corrupt THEN 1 ELSE 0 END) AS BIGINT) AS n_quarantined,
        |       MIN(CASE WHEN corrupt THEN NULL ELSE n_name END) AS first_name,
        |       CAST(COALESCE(SUM(CASE WHEN corrupt THEN NULL ELSE n_nationkey END), 0) AS BIGINT) AS sum_keys
        |FROM tagged GROUP BY 1 ORDER BY region_key""".stripMargin,
    "a8_flagship" ->
      """SELECT CAST(month(o_orderdate) AS INT) AS o_month, n_name,
        |       COUNT(*) AS n_items,
        |       CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS revenue,
        |       CAST(SUM(CAST(l_quantity AS DECIMAL(30,4))) AS DOUBLE) / COUNT(l_quantity) AS avg_qty
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY 1, 2
        |ORDER BY revenue DESC, o_month, n_name""".stripMargin,
    "s1_multi_parquet" ->
      """SELECT l_returnflag, COUNT(*) AS n_rows,
        |       CAST(SUM(CAST(l_quantity AS DECIMAL(30,4))) AS DOUBLE) AS sum_qty
        |FROM (SELECT * FROM lineitem UNION ALL SELECT * FROM lineitem)
        |GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin,
    "s5_sql_view" ->
      """SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n_orders,
        |       CAST(SUM(CAST(o_totalprice AS DECIMAL(30,4))) AS DOUBLE) AS sum_price
        |FROM orders
        |GROUP BY o_orderstatus, o_orderpriority
        |ORDER BY o_orderstatus, o_orderpriority""".stripMargin,
    "p1_project_filter" ->
      """SELECT c_custkey, c_name AS customer_name, c_acctbal AS balance
        |FROM customer WHERE c_mktsegment = 'BUILDING'
        |ORDER BY c_custkey""".stripMargin,
    "p3_whitelist_other" ->
      """SELECT CASE WHEN n_name NOT IN ('FRANCE','GERMANY','JAPAN','UNITED STATES','CANADA')
        |            THEN 'other' ELSE n_name END AS nation_class,
        |       COUNT(*) AS n_nations
        |FROM nation GROUP BY 1 ORDER BY nation_class""".stripMargin,
    "p4_null_fill" ->
      """SELECT COALESCE(NULLIF(l_returnflag, 'N'), 'unknown') AS flag_n,
        |       COUNT(*) AS n_rows
        |FROM lineitem GROUP BY 1 ORDER BY flag_n""".stripMargin,
    "p5_null_drop" ->
      """SELECT NULLIF(o_orderstatus, 'O') AS status_o, COUNT(*) AS n_rows
        |FROM orders WHERE NULLIF(o_orderstatus, 'O') IS NOT NULL
        |GROUP BY 1 ORDER BY status_o""".stripMargin,
    "p6_dedup_rows" ->
      """SELECT DISTINCT l_returnflag, l_linestatus, l_quantity
        |FROM lineitem
        |ORDER BY l_returnflag, l_linestatus, l_quantity""".stripMargin,
    "p7_distinct_dim" ->
      "SELECT DISTINCT c_mktsegment FROM customer ORDER BY c_mktsegment",
    "p8_derived_columns" ->
      """SELECT CAST(year(l_shipdate) AS INT) AS ship_year,
        |       CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS sum_disc_price,
        |       CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(4,2))) * (1 + CAST(l_tax AS DECIMAL(4,2)))) AS DOUBLE) AS sum_charge
        |FROM lineitem GROUP BY 1 ORDER BY ship_year""".stripMargin,
    "p9_drop_columns" ->
      """SELECT n_nationkey, n_name, r_name AS region_name
        |FROM nation JOIN region ON n_regionkey = r_regionkey
        |ORDER BY n_nationkey""".stripMargin,
    "o3_topk" ->
      """SELECT o_orderkey, o_totalprice, o_orderdate
        |FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 10""".stripMargin
  )
}
