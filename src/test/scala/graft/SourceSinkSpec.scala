package graft

import java.nio.file.Files
import org.apache.spark.sql.{Row, SaveMode}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** Source/sink surface (SURVEY.md §2.1): CSV with header and EXPLICIT
  * schema (the engine's upgrade over the reference's all-string reads),
  * parquet save modes (overwrite/append), and multi-path scans.
  */
class SourceSinkSpec extends AnyFunSuite {

  test("z-order write clusters BOTH dimensions; single-column sort sprays the other") {
    import TestSpark.sf
    // Range bounds come from a sample seeded by the RDD id, so with the
    // default 100 rows per partition they (and the z spans, 537-604 over
    // 12 RDD ids) move with how many RDDs earlier suites made. At this
    // scale a hint of 1000 samples every row, so the bounds are the exact
    // quantiles on any run (x span 581.75).
    val spark = Sessions.child(TestSpark.spark)
    spark.conf.set("spark.sql.execution.rangeExchange.sampleSizePerPartition", "1000")
    val pts = Tables.lineitem(spark, sf)
      .select((col("l_orderkey") % 1024).cast("int").as("x"),
        ((col("l_partkey") * 7 + col("l_suppkey")) % 1024).cast("int").as("y"))
      .withColumn("zval", expr(graft.ops.ExtraOps.zValueExpr("x", "y")))
    def avgSpans(dir: String): (Double, Double) = {
      val spans = spark.read.parquet(dir)
        .withColumn("f", input_file_name())
        .groupBy(col("f"))
        .agg((max(col("x")) - min(col("x"))).as("sx"),
          (max(col("y")) - min(col("y"))).as("sy"))
        .agg(avg(col("sx")), avg(col("sy"))).head()
      (spans.getDouble(0), spans.getDouble(1))
    }
    val zDir = Scratch.fresh("zorder").toString
    val xDir = Scratch.fresh("xsort").toString
    pts.repartitionByRange(8, col("zval")).write.mode("overwrite").parquet(zDir)
    pts.repartitionByRange(8, col("x")).write.mode("overwrite").parquet(xDir)
    val (zx, zy) = avgSpans(zDir)
    val (zx2, xy) = avgSpans(xDir)
    // z-ordered files cover a small rectangle in BOTH dims: with 8 range
    // splits over a 20-bit Morton code, per-file x spans ≤ ~512 and y
    // spans ≤ ~256 (top bits are y9, x9, y8); parquet min/max stats can
    // then prune 2-D predicates. The x-sorted layout keeps x tight but
    // every file spans essentially the full y range.
    assert(zx <= 600 && zy <= 600, s"z-order spans too wide: x=$zx y=$zy")
    assert(zx2 <= 300, s"x-sort must keep x tight: $zx2")
    assert(xy >= 900, s"x-sort should spray y across files: $xy")
  }
  import TestSpark.{sf, spark}


  test("csv sink + scan with header and explicit schema (S2)") {
    val dir = Scratch.fresh("csv").toString
    val nation = Tables.nation(spark, sf)
    nation.write.mode(SaveMode.Overwrite).option("header", true).csv(dir)
    // header=true without schema → all strings (the reference's behavior)
    val allStrings = spark.read.option("header", true).csv(dir)
    assert(allStrings.schema.fields.forall(_.dataType == StringType))
    // explicit schema → typed columns, no inference pass over the data
    val schema = StructType(Seq(
      StructField("n_nationkey", IntegerType), StructField("n_name", StringType),
      StructField("n_regionkey", IntegerType)))
    val typed = spark.read.option("header", true).schema(schema).csv(dir)
    assert(typed.schema == schema)
    assert(typed.count() == nation.count())
    val got = typed.orderBy("n_nationkey").collect().map(_.getString(1))
    val want = nation.orderBy("n_nationkey").collect().map(_.getString(1))
    assert(got.sameElements(want))
  }

  test("parquet sink save modes: overwrite resets, append accumulates (S3)") {
    val dir = Scratch.fresh("pq").toString
    val region = Tables.region(spark, sf)
    region.write.format("parquet").mode(SaveMode.Overwrite).save(dir)
    assert(spark.read.parquet(dir).count() == 5)
    region.write.format("parquet").mode(SaveMode.Append).save(dir)
    assert(spark.read.parquet(dir).count() == 10)
    region.write.format("parquet").mode(SaveMode.Overwrite).save(dir)
    assert(spark.read.parquet(dir).count() == 5)
  }

  test("multi-path parquet scan unions files (S1)") {
    val p = s"$sf/region.parquet"
    assert(Tables.loadMulti(spark, Seq(p, p)).count() == 10)
  }

  test("csv malformed-record modes: PERMISSIVE nulls, DROPMALFORMED drops") {
    val dir = Scratch.fresh("bad_csv").toString
    java.nio.file.Files.writeString(
      java.nio.file.Path.of(dir, "data.csv"),
      "id,qty\n1,10\n2,notanumber\n3,30\n")
    val schema = StructType(Seq(
      StructField("id", IntegerType), StructField("qty", IntegerType)))
    val permissive = spark.read.option("header", true)
      .option("mode", "PERMISSIVE").schema(schema).csv(dir)
    assert(permissive.count() == 3)
    assert(permissive.filter(col("qty").isNull).count() == 1)
    val dropped = spark.read.option("header", true)
      .option("mode", "DROPMALFORMED").schema(schema).csv(dir)
    // count() prunes all columns so the parser never sees the bad value —
    // materialize the rows to make malformed-detection actually run
    assert(dropped.collect().length == 2)
  }

  test("json lines round-trip with explicit schema") {
    val dir = Scratch.fresh("json").toString
    val ev = Tables.events(spark, sf)
      .select(col("event_id"), col("event_type"), col("value"))
    ev.write.mode(SaveMode.Overwrite).json(dir)
    val schema = StructType(Seq(
      StructField("event_id", LongType), StructField("event_type", StringType),
      StructField("value", DoubleType)))
    val back = spark.read.schema(schema).json(dir)
    // row-by-row equality (a float sum would be partition-order dependent)
    val got = back.orderBy("event_id").collect().map(r => (r.getLong(0), r.getDouble(2)))
    val want = ev.orderBy("event_id").collect().map(r => (r.getLong(0), r.getDouble(2)))
    assert(got.sameElements(want))
  }

  test("orc round-trip preserves schema and values") {
    val dir = Scratch.fresh("orc").toString
    val li = Tables.lineitem(spark, sf).limit(100)
    li.write.mode(SaveMode.Overwrite).orc(dir)
    val back = spark.read.orc(dir)
    assert(back.schema == li.schema)
    assert(back.count() == 100)
  }

  test("partitioned parquet write prunes partitions on read") {
    val dir = Scratch.fresh("part").toString
    Tables.orders(spark, sf)
      .withColumn("o_year", year(col("o_orderdate")))
      .write.mode(SaveMode.Overwrite).partitionBy("o_year").parquet(dir)
    val one = spark.read.parquet(dir).filter(col("o_year") === 1995)
    val plan = one.queryExecution.executedPlan.toString
    // partition filter must land in the scan, not a post-filter
    assert(plan.contains("PartitionFilters") && plan.contains("o_year"),
      plan.take(1500))
    assert(one.count() ==
      Tables.orders(spark, sf).filter(year(col("o_orderdate")) === 1995).count())
  }

  test("dynamic partition overwrite replaces only the written partitions") {
    // production nightly-reload shape: rewriting one day/year must not
    // clobber sibling partitions (static overwrite mode drops them all)
    val dir = Scratch.fresh("dynpart").toString
    val base = Tables.orders(spark, sf)
      .withColumn("o_year", year(col("o_orderdate")))
    base.write.mode(SaveMode.Overwrite).partitionBy("o_year").parquet(dir)
    val before = spark.read.parquet(dir).count()
    val y1995 = spark.read.parquet(dir).filter(col("o_year") === 1995).count()
    val prev = spark.conf.getOption("spark.sql.sources.partitionOverwriteMode")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try {
      // rewrite ONLY 1995, halved: other years must survive untouched
      base.filter(col("o_year") === 1995 && col("o_orderkey") % 2 === 0)
        .write.mode(SaveMode.Overwrite).partitionBy("o_year").parquet(dir)
    } finally {
      prev.fold(spark.conf.unset("spark.sql.sources.partitionOverwriteMode"))(
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", _))
    }
    val after = spark.read.parquet(dir)
    val y1995After = after.filter(col("o_year") === 1995).count()
    assert(y1995After < y1995 && y1995After > 0)
    assert(after.count() == before - y1995 + y1995After,
      "non-1995 partitions must be untouched")
  }

  test("parquet mergeSchema unifies evolved schemas; old rows null-backfill") {
    val dir = Scratch.fresh("evolve").toString
    val docs = Tables.documents(spark, sf)
    // v1 batch: two columns; later batches add a score column
    docs.filter(col("doc_id") < 100).select(col("doc_id"), col("text"))
      .write.mode(SaveMode.Append).parquet(dir)
    docs.filter(col("doc_id") >= 100 && col("doc_id") < 200)
      .select(col("doc_id"), col("text"),
        (length(col("text")) % 7).cast("long").as("score"))
      .write.mode(SaveMode.Append).parquet(dir)
    val merged = spark.read.option("mergeSchema", true).parquet(dir)
    assert(merged.columns.toSet == Set("doc_id", "text", "score"))
    assert(merged.count() == 200)
    // pre-evolution rows surface the new column as null, not as an error
    assert(merged.filter(col("score").isNull).count() == 100)
    assert(merged.filter(col("doc_id") >= 100 && col("score").isNull).count() == 0)
  }

  test("shard writer: deterministic membership, balance, pruning, rerun-stable") {
    val dir = Scratch.fresh("shards").toString
    val docs = Tables.documents(spark, sf)
    ext.ShardWriter.writeShards(docs, s"$dir/a", 8)
    val back = spark.read.parquet(s"$dir/a")
    assert(back.count() == docs.count())
    // membership is the declared hash rule, for every row
    val offRule = back.filter(
      col("shard") =!= pmod(xxhash64(col("doc_id")), lit(8L)).cast("int")).count()
    assert(offRule == 0)
    // every shard materialized, sizes binomially balanced (500 docs / 8)
    val sizes = back.groupBy("shard").count().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(sizes.keySet == (0 until 8).toSet)
    sizes.values.foreach(c => assert(c > 20 && c < 120, sizes.toString))
    // shard filter prunes partitions at the scan
    val one = back.filter(col("shard") === 3)
    assert(one.queryExecution.executedPlan.toString.contains("PartitionFilters"))
    assert(one.count() == sizes(3))
    // re-run writes the identical sharding
    ext.ShardWriter.writeShards(docs, s"$dir/b", 8)
    val again = spark.read.parquet(s"$dir/b").groupBy("shard").count().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(again == sizes)
  }

  test("ignoreCorruptFiles reads past a corrupt parquet part (100 TB ops reality)") {
    // at 100 TB a handful of corrupt objects is a WHEN, not an IF — the
    // job must degrade to "skip and report", never die. Write good parts,
    // drop a garbage .parquet among them, read with the toggle both ways.
    val dir = Scratch.fresh("corrupt").toString
    val good = Tables.orders(spark, sf).filter(col("o_orderkey") < 1000)
    good.write.mode(SaveMode.Overwrite).parquet(dir)
    Files.write(java.nio.file.Paths.get(dir, "part-junk.parquet"),
      "this is not a parquet file".getBytes("UTF-8"))
    val n = good.count()
    // default: the corrupt part fails the scan
    intercept[org.apache.spark.SparkException] {
      spark.read.parquet(dir).count()
    }
    // with the toggle: full result from the healthy parts
    val readBack =
      spark.read.option("ignoreCorruptFiles", "true").parquet(dir).count()
    assert(readBack == n, s"expected $n rows from healthy parts, got $readBack")
  }

  test("small-file compaction: many tiny parts rewrite to target-size files, content intact") {
    // streaming ingest leaves thousands of small parts; the nightly
    // compactor rewrites them into few files so scans stop paying
    // per-file open/footer cost. Content must survive byte-exactly.
    val src = Scratch.fresh("smallfiles").toString
    val out = Scratch.fresh("compacted").toString
    val orders = Tables.orders(spark, sf).filter(col("o_orderkey") < 2000)
    orders.repartition(64).write.mode(SaveMode.Overwrite).parquet(src)
    def parts(p: String) = new java.io.File(p).listFiles
      .count(f => f.getName.endsWith(".parquet"))
    assert(parts(src) == 64)
    val scattered = spark.read.parquet(src)
    scattered.repartition(2).write.mode(SaveMode.Overwrite).parquet(out)
    assert(parts(out) == 2, s"expected 2 compacted files, got ${parts(out)}")
    val before = orders.orderBy(col("o_orderkey")).collect()
    val after = spark.read.parquet(out).orderBy(col("o_orderkey")).collect()
    assert(before.sameElements(after), "compaction must not change content")
  }

  test("binaryFile source ingests payload files and joins doc metadata") {
    val dir = Scratch.fresh("bin").toString
    // fixture: one <doc_id>.bin file per document, payload = utf-8 text
    val fixture = Tables.documents(spark, sf)
      .filter(col("doc_id") < 20)
      .select(col("doc_id"), col("text"), col("lang"), col("source")).collect()
    fixture.foreach { r =>
      Files.write(java.nio.file.Paths.get(dir, s"${r.getLong(0)}.bin"),
        r.getString(1).getBytes("UTF-8"))
    }
    val got = ext.Multimodal.binaryIngest(spark, dir,
      Tables.documents(spark, sf)).collect()
    assert(got.length == fixture.length)
    // digest/length from the FILES must equal digest/length of the text
    // they were written from, and the metadata join must line up
    val wantDigest = Tables.documents(spark, sf).filter(col("doc_id") < 20)
      .select(col("doc_id"), sha2(encode(col("text"), "UTF-8"), 256),
        octet_length(col("text")).cast("long"), col("lang"), col("source"))
      .orderBy(col("doc_id")).collect()
    got.zip(wantDigest).foreach { case (g, w) =>
      assert(g.getLong(0) == w.getLong(0))
      assert(g.getLong(1) == w.getLong(2), s"length mismatch for doc ${g.getLong(0)}")
      assert(g.getString(2) == w.getString(1), s"digest mismatch for doc ${g.getLong(0)}")
      assert(g.getString(3) == w.getString(3) && g.getString(4) == w.getString(4))
    }
  }

  test("V2 sink: _SUCCESS manifest accounts for every committed row; overwrite truncates") {
    val out = Scratch.fresh("kv_commit").toString
    val first = ops.CoreOps.dsv2SinkTo(spark, sf, out)
    val n = first.count()
    assert(n == 501L)
    val manifest = new String(Files.readAllBytes(
      java.nio.file.Paths.get(out, "_SUCCESS")))
    val entries = manifest.trim.split("\n").map { line =>
      val Array(f, r) = line.split(","); (f, r.toLong)
    }
    assert(entries.map(_._2).sum == n,
      "manifest row counts must sum to the committed total")
    entries.foreach { case (f, _) =>
      assert(Files.exists(java.nio.file.Paths.get(out, f)),
        s"manifest lists a missing file: $f")
    }
    // overwrite: a second identical write must not double the data
    assert(ops.CoreOps.dsv2SinkTo(spark, sf, out).count() == n,
      "TRUNCATE-backed overwrite must replace, not append")
  }

  test("V2 sink: failed overwrite leaves the previous committed snapshot intact") {
    val out = Scratch.fresh("kv_atomic").toString
    val first = ops.CoreOps.dsv2SinkTo(spark, sf, out).collect().toSeq
    assert(first.nonEmpty)
    // an overwrite whose TASKS fail mid-write: nothing may reach the
    // commit point, so the old manifest and old files must survive
    intercept[Exception] {
      Tables.orders(spark, sf)
        .select(col("o_orderkey").as("key"),
          expr("CAST(IF(o_orderkey = 300, raise_error('injected task failure'), o_orderstatus) AS STRING)").as("val"))
        .write.format("graft.sources.KvSink")
        .mode("overwrite").option("path", out).save()
    }
    val after = spark.read.schema("key LONG, val STRING")
      .csv(graft.sources.KvSink.committedPaths(out): _*)
      .orderBy(col("key")).collect().toSeq
    assert(after == first,
      s"failed overwrite corrupted the committed snapshot: ${after.size} vs ${first.size} rows")
    // and the aborted write's staging dir is gone
    val leftover = java.nio.file.Files.list(java.nio.file.Paths.get(out))
    try {
      val staged = leftover.filter(_.getFileName.toString.startsWith(".staging")).count()
      assert(staged == 0, "abort must clean its staging directory")
    } finally leftover.close()
  }

  test("V2 sink time travel: version log reconstructs past snapshots; vacuum reclaims") {
    val out = Scratch.fresh("kv_tt_spec").toString
    def write(maxKey: Long, mode: String): Unit =
      Tables.orders(spark, sf).filter(col("o_orderkey") <= maxKey)
        .select(col("o_orderkey").as("key"), col("o_orderstatus").as("val"))
        .write.format("graft.sources.KvSink")
        .mode(mode).option("path", out).save()
    def readVersion(v: Long): Long =
      spark.read.schema("key LONG, val STRING")
        .csv(graft.sources.KvSink.committedPaths(out, v): _*).count()
    val n300 = Tables.orders(spark, sf).filter(col("o_orderkey") <= 300).count()
    val n500 = Tables.orders(spark, sf).filter(col("o_orderkey") <= 500).count()
    write(300, "overwrite")
    write(500, "overwrite")
    assert(graft.sources.KvSink.versions(out) == Seq(1L, 2L))
    // the SUPERSEDED snapshot is still exactly reconstructible
    assert(readVersion(1L) == n300, "v1 must replay the pre-overwrite state")
    assert(readVersion(2L) == n500)
    // latest pointer and newest version manifest agree
    assert(graft.sources.KvSink.committedFiles(out).toSet ==
      graft.sources.KvSink.committedFiles(out, 2L).toSet)
    // vacuum to 1 retained version: v1's manifest and its unshared part
    // files go; the latest snapshot is untouched
    val v1Files = graft.sources.KvSink.committedFiles(out, 1L).map(_._1).toSet
    val v2Files = graft.sources.KvSink.committedFiles(out, 2L).map(_._1).toSet
    val deleted = graft.sources.KvSink.vacuum(out, 1)
    assert(graft.sources.KvSink.versions(out) == Seq(2L))
    val expectedGone = (v1Files -- v2Files) + "manifest-v000001"
    assert(deleted.toSet == expectedGone,
      s"vacuum must delete exactly the unreferenced files: $deleted vs $expectedGone")
    (v1Files -- v2Files).foreach { f =>
      assert(!Files.exists(java.nio.file.Paths.get(out, f)))
    }
    assert(spark.read.schema("key LONG, val STRING")
      .csv(graft.sources.KvSink.committedPaths(out): _*).count() == n500,
      "vacuum must never touch the live snapshot")
  }

  test("V2 sink: orphan version manifest (crash between log write and pointer swap) never affects readers") {
    val out = Scratch.fresh("kv_orphanv").toString
    def write(maxKey: Long): Unit =
      Tables.orders(spark, sf).filter(col("o_orderkey") <= maxKey)
        .select(col("o_orderkey").as("key"), col("o_orderstatus").as("val"))
        .write.format("graft.sources.KvSink")
        .mode("overwrite").option("path", out).save()
    write(300)
    val before = graft.sources.KvSink.committedFiles(out)
    // simulate the documented crash window: a commit that landed its
    // manifest-v2 log entry but died before swapping _SUCCESS — the
    // latest pointer (THE commit point) must still serve the old
    // snapshot, and the next commit must supersede the orphan version
    java.nio.file.Files.write(
      java.nio.file.Paths.get(out, "manifest-v000002"),
      "part-dead-0-0,7\n".getBytes(java.nio.charset.StandardCharsets.UTF_8))
    assert(graft.sources.KvSink.committedFiles(out) == before,
      "orphan version manifest must not change the latest snapshot")
    write(500) // allocates v3 (max existing version + 1)
    assert(graft.sources.KvSink.versions(out) == Seq(1L, 2L, 3L))
    val n = spark.read.schema("key LONG, val STRING")
      .csv(graft.sources.KvSink.committedPaths(out): _*).count()
    assert(n == Tables.orders(spark, sf)
      .filter(col("o_orderkey") <= 500).count())
    // vacuum drops the orphan along with other expired versions
    graft.sources.KvSink.vacuum(out, 1)
    assert(graft.sources.KvSink.versions(out) == Seq(3L))
  }

  test("V2 sink OCC: interleaved appends rebase-and-retry; conflicting overwrite aborts; log linearizable") {
    import graft.sources.KvSink
    val out = Scratch.fresh("kv_occ").toString
    def write(lo: Long, hi: Long, mode: String): Unit =
      Tables.orders(spark, sf)
        .filter(col("o_orderkey").between(lo, hi))
        .select(col("o_orderkey").as("key"), col("o_orderstatus").as("val"))
        .write.format("graft.sources.KvSink")
        .mode(mode).option("path", out).save()
    def latestCount(): Long = spark.read.schema("key LONG, val STRING")
      .csv(KvSink.committedPaths(out): _*).count()
    val n = (lo: Long, hi: Long) =>
      Tables.orders(spark, sf).filter(col("o_orderkey").between(lo, hi)).count()
    write(1, 300, "overwrite") // seed: v1
    // Deterministic interleave via the commit hook: while the OUTER
    // append sits in its commit window (version read, CAS not yet
    // attempted), an INNER append commits and claims the next version —
    // the exact race two concurrent writers run. The outer commit's CAS
    // must fail on the claimed version, rebase onto the inner snapshot,
    // and retry to success: append ∘ append commutes, nobody loses.
    val retries0 = KvSink.casRetries.get()
    @volatile var fired = false
    KvSink.onBeforeCas = () => if (!fired) { fired = true; write(400, 500, "append") }
    try write(600, 700, "append")
    finally KvSink.onBeforeCas = () => ()
    assert(fired, "interleave hook never ran")
    assert(KvSink.casRetries.get() == retries0 + 1,
      "outer append must lose exactly one CAS and retry")
    assert(KvSink.versions(out) == Seq(1L, 2L, 3L))
    // both writers' rows are present — the rebase lost nothing
    assert(latestCount() == n(1, 300) + n(400, 500) + n(600, 700))
    // LINEARIZABLE log: every manifest strictly extends its predecessor
    // (v2 = inner append on v1, v3 = outer append rebased on v2)
    val f1 = KvSink.committedFiles(out, 1L).map(_._1).toSet
    val f2 = KvSink.committedFiles(out, 2L).map(_._1).toSet
    val f3 = KvSink.committedFiles(out, 3L).map(_._1).toSet
    assert(f1.subsetOf(f2) && f2.subsetOf(f3) &&
      f1.size < f2.size && f2.size < f3.size,
      s"version log must be a chain of extensions: $f1 / $f2 / $f3")
    // pointer agrees with the newest log entry
    assert(KvSink.committedFiles(out).toSet ==
      KvSink.committedFiles(out, 3L).toSet)
    // OVERWRITE vs concurrent commit does NOT commute: the overwrite
    // planned its truncation against a snapshot that is no longer
    // latest — it must DETECT the conflict and abort, never silently
    // erase the interloper's rows (Delta's WriteSerializable rule).
    fired = false
    KvSink.onBeforeCas = () => if (!fired) { fired = true; write(800, 850, "append") }
    val thrown = intercept[Exception] {
      try write(900, 950, "overwrite")
      finally KvSink.onBeforeCas = () => ()
    }
    def causes(t: Throwable): Seq[Throwable] =
      if (t == null) Seq.empty else t +: causes(t.getCause)
    assert(causes(thrown).exists(
      _.isInstanceOf[java.util.ConcurrentModificationException]),
      s"overwrite loser must abort with ConcurrentModificationException, got: $thrown")
    // the survivor is the inner append's snapshot — v4, intact
    assert(KvSink.versions(out) == Seq(1L, 2L, 3L, 4L))
    assert(latestCount() ==
      n(1, 300) + n(400, 500) + n(600, 700) + n(800, 850),
      "failed overwrite must leave the concurrent append's commit intact")
  }

  test("catalog schema evolution: ADD COLUMNS is metadata-only; RENAME re-keys the table") {
    spark.conf.set("spark.sql.catalog.graft_cat", "graft.sources.MemCatalog")
    spark.sql("DROP TABLE IF EXISTS graft_cat.ns.evospec")
    spark.sql("DROP TABLE IF EXISTS graft_cat.ns.evospec2")
    spark.sql("CREATE TABLE graft_cat.ns.evospec (k BIGINT, name STRING)")
    spark.sql("INSERT INTO graft_cat.ns.evospec VALUES (1, 'a'), (2, 'b')")
    val tbl = graft.sources.MemCatalog.store.get(
      org.apache.spark.sql.connector.catalog.Identifier.of(Array("ns"), "evospec"))
    val before = tbl.rows
    spark.sql("ALTER TABLE graft_cat.ns.evospec ADD COLUMNS (score DOUBLE)")
    // zero data IO: the stored rows are the SAME objects, just shorter
    // than the new schema — the scan null-backfills them by ordinal
    assert(tbl.rows eq before, "ADD COLUMNS must not touch stored rows")
    assert(tbl.schema().fieldNames.toSeq == Seq("k", "name", "score"))
    spark.sql("INSERT INTO graft_cat.ns.evospec VALUES (3, 'c', 9.5)")
    val got = spark.sql(
      "SELECT k, name, score FROM graft_cat.ns.evospec ORDER BY k").collect()
      .map(r => (r.getLong(0), r.getString(1),
        if (r.isNullAt(2)) None else Some(r.getDouble(2)))).toSeq
    assert(got == Seq((1L, "a", None), (2L, "b", None), (3L, "c", Some(9.5))))
    // duplicate column rejected
    intercept[Exception] {
      spark.sql("ALTER TABLE graft_cat.ns.evospec ADD COLUMNS (score DOUBLE)")
    }
    // rename: same table object under the new identifier, old name gone
    // (the RENAME TO target is CATALOG-RELATIVE — a catalog-qualified
    // target would land under a ['graft_cat','ns'] namespace verbatim)
    spark.sql("ALTER TABLE graft_cat.ns.evospec RENAME TO ns.evospec2")
    assert(spark.sql("SELECT count(*) FROM graft_cat.ns.evospec2")
      .collect()(0).getLong(0) == 3L)
    intercept[Exception] { spark.table("graft_cat.ns.evospec").collect() }
    spark.sql("DROP TABLE graft_cat.ns.evospec2")
  }

  test("V2 sink: orphan files are invisible to the manifest-gated read") {
    val out = Scratch.fresh("kv_orphan").toString
    val n = ops.CoreOps.dsv2SinkTo(spark, sf, out).count()
    // simulate a crashed writer's leftover: a plausible-looking part file
    // that never made the manifest
    java.nio.file.Files.write(
      java.nio.file.Paths.get(out, "part-deadbeef-9-99"),
      "999999,Z\n".getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val seen = spark.read.schema("key LONG, val STRING")
      .csv(graft.sources.KvSink.committedPaths(out): _*).count()
    assert(seen == n, "manifest-gated read must not see unmanifested files")
  }

  test("MERGE INTO: all three clause kinds match the DataFrame upsert twin") {
    import spark.implicits._
    spark.conf.set("spark.sql.catalog.graft_cat", "graft.sources.MemCatalog")
    spark.sql("DROP TABLE IF EXISTS graft_cat.ns.m")
    spark.sql("CREATE TABLE graft_cat.ns.m (k BIGINT, v STRING)")
    spark.sql("INSERT INTO graft_cat.ns.m VALUES (1,'a'),(2,'b'),(3,'c')")
    val upd = Seq((2L, "B"), (4L, "D")).toDF("k", "v")
    upd.createOrReplaceTempView("m_upd")
    spark.sql(
      """MERGE INTO graft_cat.ns.m t USING m_upd s ON t.k = s.k
        |WHEN MATCHED THEN UPDATE SET t.v = s.v
        |WHEN NOT MATCHED THEN INSERT (k, v) VALUES (s.k, s.v)
        |WHEN NOT MATCHED BY SOURCE THEN DELETE""".stripMargin)
    val got = spark.table("graft_cat.ns.m").orderBy(col("k"))
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    // the DataFrame twin of the same statement (the pipe_dim_upsert
    // shape): matched rows take source values, unmatched-source rows
    // insert, unmatched-target rows drop — here that collapses to the
    // source itself; compute it anyway through the generic plan
    val target = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "v")
    val twin = target.as("t").join(upd.as("s"), Seq("k"), "inner")
      .select(col("k"), col("s.v").as("v"))
      .unionByName(upd.as("s").join(target.as("t"), Seq("k"), "left_anti"))
      .orderBy(col("k"))
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(got == twin && got == Seq((2L, "B"), (4L, "D")),
      s"MERGE diverged from the upsert twin: $got vs $twin")
  }

  test("DROP COLUMN refuses a partition-spec source column (Iceberg contract)") {
    spark.conf.set("spark.sql.catalog.graft_cat", "graft.sources.MemCatalog")
    spark.sql("DROP TABLE IF EXISTS graft_cat.ns.pdrop")
    spark.sql(
      """CREATE TABLE graft_cat.ns.pdrop (k BIGINT, part_key BIGINT, v STRING)
        |PARTITIONED BY (bucket(4, part_key))""".stripMargin)
    spark.sql("INSERT INTO graft_cat.ns.pdrop VALUES (1, 10, 'a'), (2, 11, 'b')")
    // dropping the transform's source would orphan its slot and leave
    // routing keyed off dead data — must be refused
    val e = intercept[Exception] {
      spark.sql("ALTER TABLE graft_cat.ns.pdrop DROP COLUMN part_key")
    }
    assert(e.getMessage.contains("partition spec"),
      s"expected the partition-spec refusal, got: ${e.getMessage}")
    // a non-partition column still drops fine, and writes keep routing
    spark.sql("ALTER TABLE graft_cat.ns.pdrop DROP COLUMN v")
    spark.sql("INSERT INTO graft_cat.ns.pdrop VALUES (3, 12)")
    assert(spark.table("graft_cat.ns.pdrop").count() == 3)
    // rename of the partition source keeps the slot — routing unaffected
    spark.sql("ALTER TABLE graft_cat.ns.pdrop RENAME COLUMN part_key TO pk")
    spark.sql("INSERT INTO graft_cat.ns.pdrop VALUES (4, 13)")
    assert(spark.table("graft_cat.ns.pdrop").count() == 4)
  }

  test("CHECK constraints: violating writes abort whole, clean writes land, DROP re-permits") {
    import spark.implicits._
    spark.conf.set("spark.sql.catalog.graft_cat", "graft.sources.MemCatalog")
    spark.sql("DROP TABLE IF EXISTS graft_cat.ns.cons")
    spark.sql("CREATE TABLE graft_cat.ns.cons (k BIGINT, v BIGINT)")
    spark.sql("ALTER TABLE graft_cat.ns.cons ADD CONSTRAINT v_pos CHECK (v >= 0)")
    // clean write lands
    spark.sql("INSERT INTO graft_cat.ns.cons VALUES (1, 10), (2, 20)")
    assert(spark.table("graft_cat.ns.cons").count() == 2)
    // violating append aborts ATOMICALLY: the batch's clean rows (3, 30)
    // and (5, 50) must not land either — no partial visibility
    val before = spark.table("graft_cat.ns.cons").orderBy(col("k"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    intercept[Exception] {
      spark.sql("INSERT INTO graft_cat.ns.cons VALUES (3, 30), (4, -1), (5, 50)")
    }
    val after = spark.table("graft_cat.ns.cons").orderBy(col("k"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(after == before, s"violating append leaked rows: $after")
    // violating MERGE aborts whole too (ReplaceData path)
    Seq((1L, -5L), (9L, 90L)).toDF("k", "v").createOrReplaceTempView("cons_upd")
    intercept[Exception] {
      spark.sql(
        """MERGE INTO graft_cat.ns.cons t USING cons_upd s ON t.k = s.k
          |WHEN MATCHED THEN UPDATE SET t.v = s.v
          |WHEN NOT MATCHED THEN INSERT (k, v) VALUES (s.k, s.v)""".stripMargin)
    }
    assert(spark.table("graft_cat.ns.cons").orderBy(col("k"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq == before,
      "violating MERGE must leave the table untouched (clean insert row too)")
    // duplicate constraint name is refused; DROP CONSTRAINT re-permits
    intercept[Exception] {
      spark.sql("ALTER TABLE graft_cat.ns.cons ADD CONSTRAINT v_pos CHECK (v >= 10)")
    }
    spark.sql("ALTER TABLE graft_cat.ns.cons DROP CONSTRAINT v_pos")
    spark.sql("INSERT INTO graft_cat.ns.cons VALUES (4, -1)")
    assert(spark.table("graft_cat.ns.cons").count() == 3,
      "after DROP CONSTRAINT the formerly-violating write must land")
  }

  test("OPTIMIZE: file count drops, snapshots hash-identical, clustered ranges disjoint") {
    import TestSpark.{sf, spark}
    val out = Scratch.fresh("kv_optspec").toString
    def slice(lo: Long, hi: Long) = Tables.orders(spark, sf)
      .filter(col("o_orderkey") > lo && col("o_orderkey") <= hi)
      .select(col("o_orderkey").as("key"), col("o_orderstatus").as("val"))
    slice(-1, 100).write.format("graft.sources.KvSink")
      .mode("overwrite").option("path", out).save()
    slice(100, 200).write.format("graft.sources.KvSink")
      .mode("append").option("path", out).save()
    slice(200, 300).write.format("graft.sources.KvSink")
      .mode("append").option("path", out).save()
    val before = graft.sources.KvSink.versions(out).last
    val filesBefore = graft.sources.KvSink.committedFiles(out)
    val after = graft.sources.KvSink.optimize(spark, out, bins = 2, cluster = true)
    val filesAfter = graft.sources.KvSink.committedFiles(out)
    assert(after == before + 1, "optimize publishes exactly one new version")
    assert(filesAfter.size == 2 && filesAfter.size < filesBefore.size,
      s"bin-packing must shrink the file count: ${filesBefore.size} -> ${filesAfter.size}")
    // no-data-change guarantee: AS OF both versions, same sorted row set
    def snap(v: Long) = spark.read.schema("key LONG, val STRING")
      .csv(graft.sources.KvSink.committedPaths(out, v): _*)
      .orderBy(col("key")).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(snap(before) == snap(after),
      "compaction changed data — the no-data-change guarantee is broken")
    // clustered layout: each compacted file covers a DISJOINT key range
    val ranges = graft.sources.KvSink.committedPaths(out, after).map { p =>
      val keys = scala.io.Source.fromFile(p).getLines()
        .map(_.takeWhile(_ != ',').toLong).toSeq
      (keys.min, keys.max)
    }.sortBy(_._1)
    ranges.sliding(2).foreach {
      case Seq((_, hi1), (lo2, _)) =>
        assert(hi1 < lo2, s"compacted files overlap in key space: $ranges")
      case _ =>
    }
    // time travel survives: the pre-optimize snapshot is still readable
    // until vacuum reclaims it, then only the compacted layout remains
    assert(snap(before).size == 301)
    graft.sources.KvSink.vacuum(out, 1)
    assert(graft.sources.KvSink.versions(out) == Seq(after))
    assert(snap(after).size == 301, "vacuum must not touch the live snapshot")
  }

  test("merge-on-read: WriteDelta plan, base snapshot untouched, row-identical to COW") {
    import TestSpark.{sf, spark}
    import spark.implicits._
    import org.apache.spark.sql.connector.catalog.Identifier
    // COW twin first — its MERGE must plan a ReplaceData (group rewrite)
    val cowQe = {
      spark.conf.set("spark.sql.catalog.graft_cat", "graft.sources.MemCatalog")
      spark.sql("DROP TABLE IF EXISTS graft_cat.ns.morspec")
      spark.sql("CREATE TABLE graft_cat.ns.morspec (k BIGINT, v STRING)")
      spark.sql("INSERT INTO graft_cat.ns.morspec VALUES (1,'a'),(2,'b'),(3,'c')")
      Seq((2L, "B"), (4L, "D")).toDF("k", "v").createOrReplaceTempView("morspec_upd")
      spark.sql(
        """MERGE INTO graft_cat.ns.morspec t USING morspec_upd s ON t.k = s.k
          |WHEN MATCHED THEN UPDATE SET t.v = s.v
          |WHEN NOT MATCHED THEN INSERT (k, v) VALUES (s.k, s.v)""".stripMargin)
        .queryExecution.toString
    }
    assert(cowQe.contains("ReplaceData") && !cowQe.contains("WriteDelta"),
      "COW MERGE must plan a ReplaceData group rewrite")
    // MOR table: same statement plans a WriteDelta instead
    spark.sql("DROP TABLE IF EXISTS graft_cat.mor.morspec")
    spark.sql("CREATE TABLE graft_cat.mor.morspec (k BIGINT NOT NULL, v STRING)")
    spark.sql("INSERT INTO graft_cat.mor.morspec VALUES (1,'a'),(2,'b'),(3,'c')")
    val tbl = graft.sources.MemCatalog.store
      .get(Identifier.of(Array("mor"), "morspec"))
    val baseBefore = tbl.rows
    assert(tbl.mor && tbl.deltaLog.isEmpty && baseBefore.size == 3)
    val morQe = spark.sql(
      """MERGE INTO graft_cat.mor.morspec t USING morspec_upd s ON t.k = s.k
        |WHEN MATCHED THEN UPDATE SET t.v = s.v
        |WHEN NOT MATCHED THEN INSERT (k, v) VALUES (s.k, s.v)""".stripMargin)
      .queryExecution.toString
    assert(morQe.contains("WriteDelta") && !morQe.contains("ReplaceData"),
      "MOR MERGE must plan a WriteDelta, not a group rewrite")
    // the write-side saving that defines MOR: base snapshot is the SAME
    // object — nothing was rewritten; only deltas were appended (one
    // update for k=2, one insert for k=4; carried rows never flow)
    assert(tbl.rows eq baseBefore, "MOR commit must not rewrite the base")
    assert(tbl.deltaLog.map(_.op).sorted ==
      Vector(graft.sources.MemDeltaAction.Update, graft.sources.MemDeltaAction.Insert).sorted,
      s"expected exactly one update + one insert delta, got ${tbl.deltaLog.map(_.op)}")
    // read-side reconciliation: MOR result row-identical to the COW twin
    val morRows = spark.table("graft_cat.mor.morspec").orderBy(col("k"))
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    val cowRows = spark.table("graft_cat.ns.morspec").orderBy(col("k"))
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(morRows == cowRows &&
      morRows == Seq((1L, "a"), (2L, "B"), (3L, "c"), (4L, "D")),
      s"MOR/COW divergence: $morRows vs $cowRows")
    // DELETE through the delta path: one delete action, base still shared
    spark.sql("DELETE FROM graft_cat.mor.morspec WHERE k = 1")
    assert(tbl.rows eq baseBefore)
    assert(tbl.deltaLog.count(_.op == graft.sources.MemDeltaAction.Delete) == 1)
    assert(spark.table("graft_cat.mor.morspec").count() == 3)
  }

  test("WAP branches: staged commits invisible to main; publish is a metadata fast-forward; drop reclaims") {
    import graft.sources.KvSink
    val dir = Scratch.fresh("kv_wapspec").toString
    def write(lo: Long, hi: Long, mode: String, branch: Option[String] = None): Unit = {
      val w = spark.range(lo, hi)
        .select(col("id").as("key"), concat(lit("v"), col("id")).as("val"))
        .write.format("graft.sources.KvSink").mode(mode).option("path", dir)
      branch.fold(w)(b => w.option("branch", b)).save()
    }
    def mainRead() = spark.read.schema("key LONG, val STRING")
      .csv(KvSink.committedPaths(dir): _*)
    write(0, 100, "overwrite")                      // main v1
    assert(KvSink.versions(dir) == Seq(1L))
    write(100, 150, "append", Some("audit"))        // staged
    // 1. invisibility: the branch commit created NO main version and the
    //    main read is unchanged
    assert(KvSink.versions(dir) == Seq(1L), "branch write must not advance main")
    assert(mainRead().count() == 100)
    assert(KvSink.branchFiles(dir, "audit").map(_._2).sum == 50)
    // 2. branch appends rebase within the branch log
    write(150, 170, "append", Some("audit"))
    assert(KvSink.branchFiles(dir, "audit").map(_._2).sum == 70)
    assert(KvSink.versions(dir) == Seq(1L))
    // 3. publish: exactly one new main version; content = main ∪ branch;
    //    branch log consumed; no data files moved or rewritten
    val filesBefore = KvSink.branchPaths(dir, "audit").toSet
    val v = KvSink.publish(dir, "audit")
    assert(v == 2L && KvSink.versions(dir) == Seq(1L, 2L))
    assert(mainRead().count() == 170)
    assert(KvSink.branchVersions(dir, "audit").isEmpty, "publish consumes the branch")
    assert(filesBefore.subsetOf(KvSink.committedPaths(dir).toSet),
      "publish must reference the already-landed branch files, not copies")
    // 4. reject: a second branch drops without touching main; its files
    //    are physically reclaimed
    write(200, 260, "append", Some("bad"))
    val badFiles = KvSink.branchPaths(dir, "bad")
    assert(badFiles.nonEmpty && mainRead().count() == 170)
    KvSink.dropBranch(dir, "bad")
    assert(KvSink.branchVersions(dir, "bad").isEmpty)
    assert(badFiles.forall(f => !java.nio.file.Files.exists(java.nio.file.Paths.get(f))),
      "dropBranch must reclaim the staged files")
    assert(mainRead().count() == 170 && KvSink.versions(dir) == Seq(1L, 2L))
    // 5. time travel still works across the publish boundary
    assert(spark.read.schema("key LONG, val STRING")
      .csv(KvSink.committedPaths(dir, 1L): _*).count() == 100)
    // 6. publish is IDEMPOTENT across the crash window: simulate a crash
    //    after the main-log CAS but before branch-log cleanup by staging
    //    a branch, saving its manifest bytes, publishing, then restoring
    //    the manifest (the branch looks re-publishable) — the retried
    //    publish must NOT append the same files to main again
    write(300, 340, "append", Some("crashy"))
    val bv = KvSink.branchVersions(dir, "crashy").last
    val bman = java.nio.file.Paths.get(dir, f"branch-crashy-v$bv%06d")
    val savedManifest = java.nio.file.Files.readAllBytes(bman)
    val v3 = KvSink.publish(dir, "crashy")
    assert(mainRead().count() == 210)
    java.nio.file.Files.write(bman, savedManifest) // "crash" left it behind
    val vRetry = KvSink.publish(dir, "crashy")
    assert(vRetry == v3, s"retried publish re-appended: version $vRetry")
    assert(KvSink.versions(dir).last == v3,
      "retried publish must not create a new main version")
    assert(mainRead().count() == 210,
      "retried publish must not duplicate the branch's rows")
    assert(KvSink.branchVersions(dir, "crashy").isEmpty,
      "retried publish must still consume the leftover branch log")
  }

  test("DROP/RENAME COLUMN: metadata-only, values survive rename, re-add never resurrects") {
    import org.apache.spark.sql.connector.catalog.Identifier
    spark.conf.set("spark.sql.catalog.graft_cat", "graft.sources.MemCatalog")
    spark.sql("DROP TABLE IF EXISTS graft_cat.ns.evospec")
    spark.sql("CREATE TABLE graft_cat.ns.evospec (k BIGINT, a STRING, b STRING)")
    spark.sql("INSERT INTO graft_cat.ns.evospec VALUES (1, 'a1', 'b1'), (2, 'a2', 'b2')")
    val tbl = graft.sources.MemCatalog.store
      .get(Identifier.of(Array("ns"), "evospec"))
    val baseBefore = tbl.rows
    // DROP is metadata-only: the committed snapshot is the SAME object
    spark.sql("ALTER TABLE graft_cat.ns.evospec DROP COLUMN b")
    assert(tbl.rows eq baseBefore, "DROP COLUMN must not rewrite any row")
    assert(spark.table("graft_cat.ns.evospec").columns.toSeq == Seq("k", "a"))
    // RENAME keeps the physical slot: values visible under the new name,
    // still zero rewrites
    spark.sql("ALTER TABLE graft_cat.ns.evospec RENAME COLUMN a TO aa")
    assert(tbl.rows eq baseBefore, "RENAME COLUMN must not rewrite any row")
    assert(spark.table("graft_cat.ns.evospec").orderBy("k")
      .collect().map(_.getString(1)).toSeq == Seq("a1", "a2"))
    // re-adding the dropped NAME claims a fresh slot: old b values are
    // unreachable on every row, old and new
    spark.sql("ALTER TABLE graft_cat.ns.evospec ADD COLUMNS (b STRING)")
    spark.sql("INSERT INTO graft_cat.ns.evospec VALUES (3, 'a3', 'b3')")
    val got = spark.table("graft_cat.ns.evospec").orderBy("k")
      .collect().map(r => (r.getLong(0), r.getString(1), Option(r.getString(2))))
    assert(got.toSeq == Seq((1L, "a1", None), (2L, "a2", None),
      (3L, "a3", Some("b3"))),
      s"dropped values resurrected or new write misrouted: ${got.toSeq}")
    // the row-id slot is protected
    intercept[Exception] {
      spark.sql("ALTER TABLE graft_cat.ns.evospec DROP COLUMN k")
    }
  }

  test("e2e publish: kill mid-pipeline, resume from persisted stages WITHOUT re-scanning raw; round trip proven") {
    def rmrf(f: java.io.File): Unit = {
      Option(f.listFiles()).getOrElse(Array.empty[java.io.File]).foreach(rmrf)
      f.delete()
    }
    val root = ext.TextOps.e2ePublishRoot(sf)
    rmrf(root)
    // run 1: crashes right after the mixed stage persists — shards and
    // manifest never written
    intercept[IllegalStateException] {
      ext.TextOps.e2ePublishRun(spark, sf, root, failAfter = Some("05_mixed"))
    }
    assert(new java.io.File(root, "05_mixed/_SUCCESS").exists(),
      "the killed run must leave its completed stages durable")
    assert(!new java.io.File(root, "07_shards/_SUCCESS").exists(),
      "the kill must land BEFORE the shard write")
    assert(graft.sources.KvSink.committedFiles(
      new java.io.File(root, "kv_manifest").toString).isEmpty,
      "nothing may be committed by a crashed run")
    // run 2 (the resume): every stage ≤ 05 reads back from its parquet;
    // raw documents is needed only by stages 00/01/04, all already
    // persisted — the resume must therefore NEVER touch the raw corpus
    var resumed: Array[org.apache.spark.sql.Row] = Array.empty
    val rawScans = ScanCount.during(spark, "documents.parquet") {
      resumed = ext.TextOps.e2ePublish(spark, sf).collect()
    }
    assert(rawScans == 0,
      s"resume re-scanned the raw corpus $rawScans times instead of " +
        "reading the persisted intermediates")
    // the committed-vs-read-back manifest comparison reports 0 mismatches
    val pub = resumed.filter(_.getString(0) == "3_publish")
    assert(pub.length == 1)
    assert(pub.head.getAs[Long]("n_tokens") == 0L,
      s"round-trip mismatches: ${pub.head}")
    assert(pub.head.getAs[Long]("n_docs") > 8L,
      "committed manifest must carry the source/split rows plus 8 shards")
    // and the resumed output is identical to a from-scratch run
    rmrf(root)
    val fresh = ext.TextOps.e2ePublish(spark, sf).collect()
    assert(resumed.map(_.toString).toSeq == fresh.map(_.toString).toSeq,
      "resumed run diverged from the from-scratch run")
  }

  test("incremental curation: the update reads ONLY persisted signatures + the batch — seen text is never touched") {
    def rmrf(f: java.io.File): Unit = {
      Option(f.listFiles()).getOrElse(Array.empty[java.io.File]).foreach(rmrf)
      f.delete()
    }
    val root = ext.TextOps.e2eIncRoot(sf)
    rmrf(root)
    ext.TextOps.e2eIncBuildState(spark, sf, root)
    // the state stores carry signatures and manifest metadata, NEVER text
    for (store <- Seq("seen_quality_md5", "seen_sigs", "seen_final")) {
      val cols = spark.read
        .parquet(new java.io.File(root, store).toString).columns.toSet
      assert(!cols.contains("text"), s"$store leaked raw text: $cols")
    }
    // copy the update's two legitimate inputs OUT of the corpus table so
    // the measured phase can prove it never opens documents.parquet
    val t = spark.read.parquet(new java.io.File(root, "t").toString)
      .head().getLong(0)
    val raw = Tables.documents(spark, sf)
      .select(col("doc_id"), col("text"), col("lang"), col("source"))
    val side = Scratch.fresh("inc_inputs").toString
    raw.filter(col("doc_id") > t).write.parquet(s"$side/batch")
    raw.filter(col("doc_id") % 11 === 0).select(col("doc_id"), col("text"))
      .write.parquet(s"$side/eval")
    var viaStore: Array[org.apache.spark.sql.Row] = Array.empty
    val rawScans = ScanCount.during(spark, "documents.parquet") {
      viaStore = ext.TextOps.e2eIncUpdate(spark, root,
        spark.read.parquet(s"$side/batch"),
        spark.read.parquet(s"$side/eval")).collect()
    }
    assert(rawScans == 0,
      s"the incremental update opened the corpus table $rawScans times — " +
        "seen state must come from the signature store alone")
    // and the store-fed run is identical to the declared query (which
    // slices the same batch/eval straight from the table)
    val declared = ext.TextOps.e2eIncremental(spark, sf).collect()
    assert(viaStore.map(_.toString).toSeq == declared.map(_.toString).toSeq)
  }

  test("incremental curation COMPOSES: two sequential batches with store append land on the full recompute") {
    def rmrf(f: java.io.File): Unit = {
      Option(f.listFiles()).getOrElse(Array.empty[java.io.File]).foreach(rmrf)
      f.delete()
    }
    // private root so this run's 60/20/20 split can't collide with the
    // declared query's 80/20 store
    val root = new java.io.File(Scratch.fresh("inc2").toFile, "store")
    ext.TextOps.e2eIncBuildState(spark, sf, root, tenths = 6)
    val t1 = spark.read.parquet(new java.io.File(root, "t").toString)
      .head().getLong(0)
    val raw = Tables.documents(spark, sf)
      .select(col("doc_id"), col("text"), col("lang"), col("source"))
    val maxId = raw.agg(max(col("doc_id"))).head().getLong(0)
    val t2 = maxId * 8 / 10
    val evalDocs = raw.filter(col("doc_id") % 11 === 0)
      .select(col("doc_id"), col("text"))
    // batch 1 (60%..80%]: processed AND absorbed into the store
    ext.TextOps.e2eIncUpdate(spark, root,
      raw.filter(col("doc_id") > t1 && col("doc_id") <= t2), evalDocs,
      appendState = true).collect()
    // batch 2 (80%..]: processed against the UPDATED store
    val after2 = ext.TextOps.e2eIncUpdate(spark, root,
      raw.filter(col("doc_id") > t2), evalDocs).collect()
    // the manifest after two incremental batches must equal the one the
    // declared single-batch query lands on — both ARE the full recompute
    val manifest2 = after2.filter(_.getString(0) == "1_manifest")
      .map(_.toString).sorted.toSeq
    val manifestFull = ext.TextOps.e2eIncremental(spark, sf).collect()
      .filter(_.getString(0) == "1_manifest").map(_.toString).sorted.toSeq
    assert(manifest2 == manifestFull,
      s"two-batch incremental diverged from the full recompute:\n" +
        s"got  $manifest2\nwant $manifestFull")
    rmrf(root.getParentFile)
  }

  test("scratch queries rebuild into one directory each and leave no new tmpdir entry") {
    // a scratch query's frame reads its directory lazily, so each build is
    // collected before the next one empties that directory
    val qs = Seq("s13_partitioned_sink", "s12_time_travel", "s19_wap_branch",
      "s8_schema_evolution")
    val tmp = new java.io.File(sys.props("java.io.tmpdir"))
    // by prefix: other processes on the box may write to the tmpdir too
    def entries(): Set[String] = tmp.list().toSet.filter(_.startsWith("graft_"))
    def build(): Map[String, Seq[Row]] =
      qs.map(q => q -> SparkEntry.queries(q)(spark, sf).collect().toSeq).toMap
    val first = build()
    val after1 = entries()
    val second = build()
    assert(entries() == after1, s"left by a rebuild: ${entries() -- after1}")
    for (q <- qs) assert(second(q) == first(q), q)
    // a directory not emptied would carry the first build's three
    // versions into the second's log: 1-6
    assert(second("s12_time_travel").map(_.getAs[Long]("version")) == Seq(1L, 2L, 3L))
    assert(Scratch.store("e2e_pub", "/data/sf0.01|1234|5678|e2e_publish_v1") ==
      new java.io.File(tmp, "graft_e2e_pub_0995435f0df7c170"))
  }
}
