package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (one per JVM — suites reuse it),
  * with the engine installed as `SparkEntry.queries` would install it, so
  * suites may call library frames directly in any order.
  */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.warehouse.dir",
        Scratch.fresh("wh").toString)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    Sessions.install(s)
    s
  }
  val sf = "/root/testdata/sf0.001"
}

/** Edge-case semantics the DuckDB oracle can't express (SURVEY.md §5):
  * tie behavior, nondeterministic ids, approx sketches, fill subsets,
  * dedup ordering, dialect-divergent rounding.
  */
class OperatorSpec extends AnyFunSuite {
  import TestSpark.{sf, spark}

  test("entry produces rows (driver smoke contract)") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every oracleSql key exists in queries") {
    val missing = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(missing.isEmpty, s"oracle without query: $missing")
  }

  test("query registry has no cross-module name collisions") {
    // SparkEntry merges the module maps with ++ — a duplicated name would
    // silently shadow one implementation and drop a query from the
    // verified surface. Guard the invariant as the registry grows.
    val modules: Seq[(String, Set[String])] = Seq(
      "CoreOps" -> ops.CoreOps.queries.keySet,
      "ScalarOps" -> ops.ScalarOps.queries.keySet,
      "AggJoinOps" -> ops.AggJoinOps.queries.keySet,
      "PipelineOps" -> ops.PipelineOps.queries.keySet,
      "ExtraOps" -> ops.ExtraOps.queries.keySet,
      "TpchOps" -> ops.TpchOps.queries.keySet,
      "QcOps" -> ops.QcOps.queries.keySet,
      "Dedup" -> ext.Dedup.queries.keySet,
      "Similarity" -> ext.Similarity.queries.keySet,
      "TextOps" -> ext.TextOps.queries.keySet,
      "UnigramLM" -> ext.UnigramLM.queries.keySet,
      "WordPiece" -> ext.WordPiece.queries.keySet,
      "EventOps" -> ext.EventOps.queries.keySet,
      "Multimodal" -> ext.Multimodal.queries.keySet,
      "TemporalOps" -> ext.TemporalOps.queries.keySet,
      "MapOps" -> ext.MapOps.queries.keySet,
      "CountMinAgg" -> ext.CountMinAgg.queries.keySet,
      "HyperLogLog" -> ext.HyperLogLog.queries.keySet,
      "BloomFilter" -> ext.BloomFilter.queries.keySet,
      "TopKPerKey" -> plans.TopKPerKey.queries.keySet,
      "AsOfJoin" -> plans.AsOfJoin.queries.keySet,
      "StatOps" -> ops.StatOps.queries.keySet,
      "FeatureOps" -> ops.FeatureOps.queries.keySet)
    val dupes = modules.flatMap { case (m, ks) => ks.map(_ -> m) }
      .groupBy(_._1).filter(_._2.size > 1)
    assert(dupes.isEmpty, s"query name declared in multiple modules: $dupes")
    val moduleTotal = modules.map(_._2.size).sum
    // + the streaming entries registered directly in SparkEntry (count
    // them dynamically — st_* names outside every module map — so adding
    // a streaming query doesn't need a constant bump here)
    val streaming = SparkEntry.queries.keySet -- modules.flatMap(_._2)
    assert(streaming.forall(_.startsWith("st_")),
      s"non-streaming queries outside module maps: ${streaming.filterNot(_.startsWith("st_"))}")
    assert(SparkEntry.queries.size == moduleTotal + streaming.size,
      s"merged registry lost entries: ${SparkEntry.queries.size} vs $moduleTotal + ${streaming.size} streaming")
  }

  test("argmax window form agrees with self-join form on tie-free groups") {
    val selfJoin = ops.AggJoinOps.argmaxSelfJoin(spark, sf).collect()
      .groupBy(_.getInt(0))
    val window = ops.AggJoinOps.argmaxWindow(spark, sf).collect()
    window.foreach { w =>
      val ties = selfJoin(w.getInt(0))
      // window row must be one of the self-join ties (the lexicographically
      // first by segment, per the declared tie-break)
      val expected = ties.map(_.getString(1)).min
      assert(w.getString(1) == expected,
        s"nation ${w.getInt(0)}: window=${w.getString(1)} expected=$expected")
    }
    // and on tie-free groups the two forms are row-identical
    selfJoin.filter(_._2.length == 1).foreach { case (k, rows) =>
      val w = window.find(_.getInt(0) == k).get
      assert(w.getString(1) == rows.head.getString(1))
      assert(w.getLong(2) == rows.head.getLong(2))
    }
  }

  test("monotonically_increasing_id yields unique ids") {
    val r = ops.ScalarOps.miiDemo(spark, sf).collect().head
    assert(r.getLong(0) == r.getLong(1), "ids must be unique")
  }

  test("df.observe piggybacks QC metrics on the action — no second pass") {
    import org.apache.spark.sql.Observation
    import org.apache.spark.sql.functions.{col, count, lit, sum}
    // the reference re-counts for its QC gates (etl.py:336-360, one extra
    // job per gate); observe() collects the same metrics during the write
    val obs = Observation("qc")
    Tables.lineitem(spark, sf)
      .observe(obs, count(lit(1)).as("n_rows"),
        sum(col("l_quantity").cast("decimal(18,4)")).cast("double").as("sum_qty"))
      .write.format("noop").mode("overwrite").save()
    val direct = Tables.lineitem(spark, sf)
      .agg(count(lit(1)), sum(col("l_quantity").cast("decimal(18,4)")).cast("double"))
      .head()
    assert(obs.get("n_rows") == direct.getLong(0))
    assert(obs.get("sum_qty") == direct.getDouble(1))
  }

  test("approx_count_distinct within 10% of exact") {
    val exact = Tables.lineitem(spark, sf)
      .groupBy(col("l_returnflag"))
      .agg(countDistinct(col("l_partkey")).as("n")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    ops.AggJoinOps.approxDistinct(spark, sf).collect().foreach { r =>
      val (flag, approx) = (r.getString(0), r.getLong(1))
      val e = exact(flag).toDouble
      assert(math.abs(approx - e) / e < 0.10, s"$flag: approx=$approx exact=$e")
    }
  }

  test("na.fill with subset only fills the named column") {
    import spark.implicits._
    val df = Seq((null.asInstanceOf[String], null.asInstanceOf[String]))
      .toDF("a", "b")
      .na.fill(Map("a" -> "filled"))
    val row = df.collect().head
    assert(row.getString(0) == "filled")
    assert(row.isNullAt(1), "unnamed column must stay null")
  }

  test("dropDuplicates before vs after select differ (etl.py:111 ordering)") {
    import spark.implicits._
    // two rows identical on (a) but different on (b): dedup-after-select
    // collapses them, dedup-before-select keeps both
    val df = Seq(("x", 1), ("x", 2)).toDF("a", "b")
    assert(df.dropDuplicates().select("a").count() == 2)
    assert(df.select("a").dropDuplicates().count() == 1)
  }

  test("format_string %.0f is Java HALF_UP (dialect divergence documented)") {
    import spark.implicits._
    val out = Seq(28.5, 29.5).toDF("v")
      .select(format_string("%.0f", col("v"))).as[String].collect()
    // Java rounds half up (28.5→"29"); DuckDB printf is half-even ("28") —
    // which is why verified queries never put a tie at the rounding digit.
    assert(out.sameElements(Array("29", "30")))
  }

  test("dedup is idempotent") {
    val once = ops.CoreOps.dedupRows(spark, sf)
    assert(once.count() == once.dropDuplicates().count())
  }

  test("left joins preserve left row count (reference QC invariant)") {
    val left = Tables.orders(spark, sf).select(
      year(col("o_orderdate")).as("y"), month(col("o_orderdate")).as("m"),
      col("o_orderstatus")).distinct().count()
    assert(ops.AggJoinOps.leftCompositeJoin(spark, sf).count() == left)
  }

  test("width_bucket under/overflow land in bins 0 and n+1") {
    import spark.implicits._
    val bins = Seq(-1.0, 0.0, 599999.9, 600000.0, 1e9).toDF("v")
      .select(expr("width_bucket(v, 0D, 600000D, 12)")).as[Long].collect()
    assert(bins.sameElements(Array(0L, 1L, 12L, 13L, 13L)))
  }

  test("asc_nulls_first places nulls before the smallest value") {
    import spark.implicits._
    val out = Seq(Some(2), None, Some(1)).toDF("v")
      .orderBy(col("v").asc_nulls_first).as[Option[Int]].collect()
    assert(out.sameElements(Array(None, Some(1), Some(2))))
    // ...because Spark's bare .asc already means nulls-first while
    // DuckDB's bare ASC means nulls-last: portable sorts must pin it.
  }

  test("lpad truncates (not pads) when the input exceeds the target length") {
    import spark.implicits._
    val out = Seq("UNITED KINGDOM").toDF("s")
      .select(lpad(col("s"), 12, ".")).as[String].collect()
    assert(out.head == "UNITED KINGD")
  }

  test("offset+limit is one page: rows offset+1..offset+limit of the sort") {
    val page = ops.ExtraOps.limitOffset(spark, sf)
    val keys = page.select("o_orderkey").as[Long](org.apache.spark.sql.Encoders.scalaLong).collect()
    val all = Tables.orders(spark, sf).orderBy(col("o_orderkey"))
      .select("o_orderkey").as[Long](org.apache.spark.sql.Encoders.scalaLong)
      .collect()
    assert(keys.sameElements(all.slice(100, 110)))
  }

  test("BPE sentinel replace merges leftmost non-overlapping pairs only") {
    import spark.implicits._
    // the core trick of pipe_bpe_merges: pattern ¦l¦¦r¦ against doubled
    // boundaries makes one replace() call the batched greedy BPE merge —
    // 'aaaa'→(aa,aa), 'aaa'→(aa,a) (no overlap reuse), 'abab' untouched
    // by pair (a,a)
    val out = Seq("aaaa", "aaa", "abab").toDF("w")
      .withColumn("seg", expr(
        "concat(chr(1), chr(1), array_join(split(w, ''), concat(chr(1), chr(1))), chr(1), chr(1))"))
      .withColumn("m", expr(
        "replace(seg, concat(chr(1), 'a', chr(1), chr(1), 'a', chr(1)), concat(chr(1), 'aa', chr(1)))"))
      .withColumn("syms", expr("filter(split(m, concat(chr(1), chr(1))), x -> x != '')"))
      .select(col("w"), col("syms")).as[(String, Seq[String])].collect().toMap
    assert(out("aaaa") == Seq("aa", "aa"))
    assert(out("aaa") == Seq("aa", "a"))
    assert(out("abab") == Seq("a", "b", "a", "b"))
  }

  test("chunk dedup: untouched docs round-trip verbatim; cleaned text is a chunk subsequence") {
    val out = ext.TextOps.chunkDedup(spark, sf)
      .join(Tables.documents(spark, sf).select(col("doc_id"), col("text")), "doc_id")
      .collect()
    assert(out.nonEmpty)
    val dupDocs = out.count(_.getAs[Long]("n_dup") > 0)
    assert(dupDocs > 0, "corpus should contain some duplicated chunks")
    out.foreach { r =>
      val (nChunks, nDup) = (r.getAs[Long]("n_chunks"), r.getAs[Long]("n_dup"))
      val (text, cleaned) = (r.getAs[String]("text"), r.getAs[String]("cleaned_text"))
      // chunk count covers the whole doc: ceil(words / 20). Split with
      // limit -1 to KEEP trailing empty strings — Spark's split() does,
      // Java's default drops them, and a doc ending in a space would
      // otherwise disagree on the word count
      val words = text.split(" ", -1).length
      assert(nChunks == (words + 19) / 20, s"doc ${r.get(0)}: $nChunks chunks for $words words")
      if (nDup == 0) assert(cleaned == text,
        s"doc ${r.get(0)} has no dup chunks but text changed")
      else {
        // dropping chunks removes exact multiples of the window (except a
        // possibly-short final chunk) and never reorders survivors
        assert(cleaned.length < text.length)
        val kept = cleaned.split(" ").filter(_.nonEmpty)
        val orig = text.split(" ")
        // survivors appear in original order: verify subsequence property
        var i = 0
        kept.foreach { w =>
          while (i < orig.length && orig(i) != w) i += 1
          assert(i < orig.length, s"doc ${r.get(0)}: '$w' out of order")
          i += 1
        }
      }
    }
  }

  test("k-core: core membership is consistent with full-graph degree") {
    val out = ops.ExtraOps.kcore(spark, sf).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      val (inCore, deg) = (r.getAs[Boolean]("in_core"), r.getAs[Long]("core_deg"))
      if (inCore) assert(deg >= 0, s"node ${r.get(0)}: in-core with deg $deg")
      else assert(deg == -1L, s"node ${r.get(0)}: out-of-core must report -1")
    }
    // necessary condition: a k-core member needs >= k neighbors in the FULL
    // graph (the core subgraph can only have fewer). Recompute full degrees
    // independently and cross-check every survivor.
    val li = Tables.lineitem(spark, sf)
      .filter(col("l_partkey") % 4 === 0 && col("l_orderkey") % 2 === 0)
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
    val edges = li.select(col("ok"), col("pk").as("u"))
      .join(li.select(col("ok"), col("pk").as("v")), Seq("ok"))
      .filter(col("u") < col("v")).select(col("u"), col("v")).distinct()
    val fullDeg = edges.union(edges.select(col("v"), col("u")))
      .toDF("node", "nbr").groupBy("node").agg(count(lit(1)).as("deg"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    out.filter(_.getAs[Boolean]("in_core")).foreach { r =>
      val n = r.getAs[Long]("part_id")
      assert(fullDeg(n) >= 10, s"node $n in 10-core but full degree ${fullDeg(n)}")
      assert(r.getAs[Long]("core_deg") <= fullDeg(n),
        s"node $n: core degree exceeds full degree")
    }
  }

  test("association rules: support/confidence/lift identities hold") {
    val out = ops.ExtraOps.assocRules(spark, sf).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      val (sa, sb, sab) = (r.getAs[Long]("supp_a"), r.getAs[Long]("supp_b"),
        r.getAs[Long]("supp_ab"))
      assert(sab <= math.min(sa, sb), "pair support cannot exceed item support")
      assert(sa >= 5 && sb >= 5, "apriori prune: both items must be frequent")
      assert(sab >= 2, "pair min-support")
      val conf = r.getAs[Double]("confidence")
      assert(conf == sab.toDouble / sa && conf > 0 && conf <= 1.0)
      assert(r.getAs[Double]("lift") > 0)
    }
  }

  test("winsorize: clamped mean sits inside the bounds, tails counted") {
    ops.ExtraOps.winsorize(spark, sf).collect().foreach { r =>
      val (p05, p95) = (r.getAs[Double]("p05"), r.getAs[Double]("p95"))
      assert(p05 <= p95)
      val mw = r.getAs[Double]("mean_winsor")
      assert(mw >= p05 && mw <= p95, s"winsorized mean $mw outside [$p05,$p95]")
      // rank-based discrete percentiles: strictly-below-p05 rows are < 5%
      // of the group (ties AT the bound are not clipped)
      val n = Tables.lineitem(spark, sf)
        .filter(col("l_returnflag") === r.getString(0)).count()
      assert(r.getAs[Long]("n_lo") <= n / 20 + 1)
      assert(r.getAs[Long]("n_hi") <= n / 20 + 1)
    }
  }

  test("rfm: quintiles are balanced and the segment label echoes the scores") {
    val out = ops.ExtraOps.rfm(spark, sf).collect()
    assert(out.nonEmpty)
    Seq("r_score", "f_score", "m_score").foreach { c =>
      val sizes = out.groupBy(_.getAs[Long](c)).view.mapValues(_.length).toMap
      assert(sizes.keySet.subsetOf((1L to 5L).toSet), s"$c outside 1..5")
      // ntile: bucket sizes differ by at most 1
      assert(sizes.values.max - sizes.values.min <= 1,
        s"$c buckets unbalanced: $sizes")
    }
    out.foreach { r =>
      val expect = s"${r.getAs[Long]("r_score")}${r.getAs[Long]("f_score")}${r.getAs[Long]("m_score")}"
      assert(r.getAs[String]("rfm_segment") == expect)
      assert(r.getAs[Long]("frequency") >= 1)
      assert(r.getAs[Double]("monetary") > 0)
    }
  }

  test("gini: coefficient bounded in [0,1) and grows with concentration") {
    val out = ops.ExtraOps.gini(spark, sf).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      val g = r.getAs[Double]("gini")
      assert(g >= 0.0 && g < 1.0, s"${r.getString(0)}: gini $g out of range")
      assert(r.getAs[Double]("total_spend") > 0)
    }
  }

  test("link prediction: pairs are non-adjacent with a real common neighbor") {
    val out = ops.ExtraOps.linkPredict(spark, sf).collect()
    assert(out.nonEmpty)
    // rebuild the edge set independently
    val li = Tables.lineitem(spark, sf)
      .filter(col("l_partkey") % 4 === 0 && col("l_orderkey") % 2 === 0)
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
    val edges = li.select(col("ok"), col("pk").as("u"))
      .join(li.select(col("ok"), col("pk").as("v")), Seq("ok"))
      .filter(col("u") < col("v")).select(col("u"), col("v")).distinct()
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    out.foreach { r =>
      val (u, v, cn) = (r.getAs[Long]("u"), r.getAs[Long]("v"), r.getAs[Long]("cn"))
      assert(u < v)
      assert(!edges.contains((u, v)), s"($u,$v) is already an edge")
      assert(cn >= 1, "wedge join can only emit pairs with a common neighbor")
      assert(cn <= math.min(r.getAs[Long]("deg_u"), r.getAs[Long]("deg_v")),
        "common neighbors bounded by the smaller degree")
      val j = r.getAs[Double]("jaccard")
      assert(j > 0.0 && j <= 1.0)
    }
  }

  test("lift curve: shares sum to one, cumulative share is monotone") {
    val out = ops.ExtraOps.liftCurve(spark, sf).collect().sortBy(_.getAs[Long]("decile"))
    assert(out.nonEmpty && out.length <= 10)
    val shares = out.map(_.getAs[Double]("spend_share"))
    assert(math.abs(shares.sum - 1.0) < 1e-9, s"shares sum to ${shares.sum}")
    val cums = out.map(_.getAs[Double]("cum_share"))
    assert(cums.zip(cums.tail).forall { case (a, b) => b >= a }, "cum_share must be monotone")
    assert(math.abs(cums.last - 1.0) < 1e-9, "last decile must reach full share")
    // deciles ordered by spend DESC: per-decile spend is non-increasing
    val spends = out.map(_.getAs[Double]("decile_spend"))
    // n_customers differs by at most 1 across deciles (ntile balance), so
    // decile 1 (the biggest spenders) must carry the largest share
    assert(spends.head == spends.max, "top decile must carry the most spend")
  }

  test("changepoint: CUSUM argmax lands on a planted level shift") {
    import spark.implicits._
    // 40 days of events for one type: 3/day for days 0-19, 12/day after —
    // the |S_k| maximizer must be the last low-rate day (the boundary)
    val rows = for {
      day <- 0 until 40
      i <- 0 until (if (day < 20) 3 else 12)
    } yield (
      day.toLong * 100 + i,
      java.time.Instant.parse("2024-01-01T00:00:00Z")
        .plusSeconds(day.toLong * 86400 + i * 60),
      1L, "shift", 1.0, "{}")
    val tmp = Scratch.fresh("cp").toString
    rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .withColumn("ts", col("ts").cast("timestamp"))
      .write.mode("overwrite").parquet(s"$tmp/events.parquet")
    val out = ext.EventOps.changepoint(spark, tmp).collect()
    assert(out.length == 1)
    val r = out.head
    assert(r.getAs[String]("event_type") == "shift")
    assert(r.getAs[Long]("n_days") == 40)
    assert(r.getAs[java.sql.Date]("changepoint_day").toString == "2024-01-20",
      s"estimator picked ${r.getAs[java.sql.Date]("changepoint_day")}, " +
        "expected the last low-rate day")
    // S at the boundary: k=20, cum=60, total=300 → |40·60 − 20·300| = 3600
    assert(r.getAs[Long]("max_abs_dev") == 3600L)
  }

  test("theil-sen: median pairwise slope matches a local BigInt replay") {
    val out = ops.ExtraOps.theilSen(spark, sf).collect()
      .map(r => r.getAs[String]("o_orderpriority") -> r).toMap
    val monthly = Tables.orders(spark, sf)
      .groupBy(col("o_orderpriority"),
        (year(col("o_orderdate")) * 12 + month(col("o_orderdate")) - 1)
          .cast("long").as("m"))
      .agg(sum(expr("CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT)")).as("y"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    out.keySet.foreach { prio =>
      val g = monthly.filter(_._1 == prio).sortBy(_._2)
      val slopes = (for {
        i <- g.indices; j <- (i + 1) until g.length
      } yield {
        val (dy, dx) = (BigInt(g(j)._3 - g(i)._3), BigInt(g(j)._2 - g(i)._2))
        ((dy * 1000000) / dx, g(i)._2, g(j)._2) // BigInt / truncates toward zero
      }).sortBy(t => (t._1, t._2, t._3))
      val r = out(prio)
      assert(r.getAs[Long]("n_pairs") == slopes.length, prio)
      assert(BigInt(r.getAs[Long]("median_slope_scaled"))
        == slopes((slopes.length + 1) / 2 - 1)._1, prio)
    }
    // robustness sanity: the estimator family must actually disagree with
    // OLS somewhere (different loss, same data) while staying same-scale
    assert(out.nonEmpty)
  }

  test("zipf fit: bit-length OLS matches a local replay of the binned fit") {
    val r = ext.TextOps.zipfFit(spark, sf).collect().head
    assert(r.getAs[Double]("zipf_exponent") == -r.getAs[Double]("slope_bits"))
    // local replay: count tokens, rank, bit-length both axes, OLS in BigInt
    val freqs = Tables.documents(spark, sf)
      .select(explode(split(lower(col("text")), " ")).as("t"))
      .filter(length(col("t")) > 0)
      .groupBy("t").count().collect()
      .map(x => (x.getString(0), x.getLong(1)))
      .sortBy { case (t, f) => (-f, t) }.take(4096)
    def bitlen(v: Long): BigInt = BigInt(64 - java.lang.Long.numberOfLeadingZeros(v))
    val pts = freqs.zipWithIndex.map { case ((_, f), i) => (bitlen(i + 1L), bitlen(f)) }
    val n = BigInt(pts.length)
    val (sx, sy) = (pts.map(_._1).sum, pts.map(_._2).sum)
    val (sxy, sxx) = (pts.map(p => p._1 * p._2).sum, pts.map(p => p._1 * p._1).sum)
    val slope = (n * sxy - sx * sy).toDouble / (n * sxx - sx * sx).toDouble
    assert(r.getAs[Long]("n_terms") == pts.length)
    assert(math.abs(r.getAs[Double]("slope_bits") - slope) < 1e-12, s"$slope")
    // a frequency-ranked curve can never slope upward in bit space
    assert(r.getAs[Double]("slope_bits") <= 0.0)
  }

  test("markov stationary: conserves mass and tracks a local double power iteration") {
    val SCALE = 1e12
    val out = ext.EventOps.markovStationary(spark, sf).collect()
      .map(r => r.getAs[String]("event_type") -> r.getAs[Long]("stationary_scaled"))
      .toMap
    // truncating DIV loses at most a few ulps per state per round
    val lost = SCALE - out.values.sum
    assert(lost >= 0 && lost < 1000, s"mass must be conserved up to quantization, lost $lost")
    // independent replay: collect the tiny transition matrix and iterate
    // in doubles; the integer fixed-point iterate must track it to ~1e-9
    // relative (quantization is 1e-12 per step, 6 steps, k states)
    val m = ext.EventOps.pathTransitions(spark, sf).collect()
      .map(r => (r.getAs[String]("from_type"), r.getAs[String]("to_type"),
        r.getAs[Long]("n").toDouble))
    val states = (m.map(_._1) ++ m.map(_._2)).distinct.sorted
    val outsum = m.groupBy(_._1).map { case (k, v) => k -> v.map(_._3).sum }
    var pi = states.map(_ -> 1.0 / states.length).toMap
    for (_ <- 1 to 6) {
      val next = scala.collection.mutable.Map(states.map(_ -> 0.0): _*)
      m.foreach { case (f, t, n) => next(t) += pi(f) * n / outsum(f) }
      pi = next.toMap
    }
    assert(out.keySet == states.toSet, "one row per observed state")
    states.foreach { st =>
      assert(math.abs(out(st) / SCALE - pi(st)) < 1e-6,
        s"$st: ${out(st) / SCALE} vs local ${pi(st)}")
    }
  }

  test("conversion lag: deciles are positive, monotone, and end at the max") {
    val out = ext.EventOps.conversionLag(spark, sf).collect()
      .sortBy(_.getAs[Long]("decile"))
    assert(out.map(_.getAs[Long]("decile")).toSeq == (1L to 10L),
      "one row per decile")
    val lags = out.map(_.getAs[Long]("lag_us_at_decile"))
    assert(lags.forall(_ > 0), "purchase strictly after click")
    assert(lags.zip(lags.tail).forall { case (a, b) => b >= a },
      "decile curve must be non-decreasing")
    // decile 10 is the slowest converter: recompute max lag independently
    val ev = Tables.events(spark, sf)
    val c1 = ev.filter(col("event_type") === "click")
      .groupBy("user_id").agg(min(col("ts")).as("t_click"))
    val maxLag = ev.filter(col("event_type") === "purchase")
      .join(c1, "user_id").filter(col("ts") > col("t_click"))
      .groupBy("user_id").agg(min(col("ts")).as("t_buy"),
        max(col("t_click")).as("t_click"))
      .selectExpr("max(unix_micros(t_buy) - unix_micros(t_click)) AS m")
      .collect().head.getLong(0)
    assert(lags.last == maxLag, s"p100 ${lags.last} != max lag $maxLag")
  }

  test("SCD as-of: exactly one interval matches per started history") {
    val out = ops.PipelineOps.scdAsof(spark, sf).collect()
    assert(out.nonEmpty)
    // timestamp columns may surface as sql.Timestamp (LTZ) or
    // LocalDateTime (NTZ) depending on the file encoding — normalize
    def ldt(r: org.apache.spark.sql.Row, c: String): java.time.LocalDateTime =
      r.getAs[Any](c) match {
        case t: java.sql.Timestamp => t.toLocalDateTime
        case l: java.time.LocalDateTime => l
        case other => sys.error(s"unexpected timestamp type: ${other.getClass}")
      }
    // half-open non-overlapping intervals → at most one match per
    // (as_of, customer); duplicates would mean interval overlap
    val keys = out.map(r => (ldt(r, "as_of"), r.getAs[Long]("o_custkey")))
    assert(keys.distinct.length == keys.length,
      "an (as_of, customer) pair matched more than one validity interval")
    out.foreach { r =>
      assert(!ldt(r, "valid_from").isAfter(ldt(r, "as_of")),
        "matched interval must have started by the as-of instant")
    }
    // later as-of dates can only see MORE started histories
    val perDate = out.groupBy(r => ldt(r, "as_of"))
      .view.mapValues(_.length).toSeq
      .sortBy(_._1)(Ordering.fromLessThan(_ isBefore _)).map(_._2)
    assert(perDate.zip(perDate.tail).forall { case (a, b) => b >= a },
      s"snapshot sizes must be monotone in time: $perDate")
  }

  test("ewma: single-day windows degenerate to the day's value") {
    val out = ops.ExtraOps.ewma(spark, sf).collect()
    assert(out.nonEmpty)
    val firstPerFlag = out.groupBy(_.getString(0)).values.map(_.minBy(
      _.getAs[java.sql.Date]("day").toString))
    firstPerFlag.foreach { r =>
      assert(r.getAs[Long]("n_window") == 1L)
      assert(r.getAs[Double]("ewma") == r.getAs[Double]("day_rev"),
        "window of one day must equal the raw value")
    }
    // smoothing stays within the window's observed range
    out.foreach { r =>
      assert(r.getAs[Long]("n_window") >= 1L && r.getAs[Long]("n_window") <= 8L)
    }
  }

  test("hazard table: at-risk telescopes and accounts for every event") {
    // n_t must equal everything at risk later plus what resolved at t —
    // the defining identity of a survival table; and the total of
    // resolved+censored observations must equal the event count (every
    // event contributes exactly one gap: to its successor or censored
    // to the window end).
    val rows = ext.EventOps.hazard(spark, sf).collect()
      .sortBy(_.getAs[Long]("gap_hours"))
    val nEvents = Tables.events(spark, sf).count()
    val total = rows.map(r =>
      r.getAs[Long]("d_done") + r.getAs[Long]("c_censored")).sum
    assert(total == nEvents, s"gap observations $total != events $nEvents")
    rows.zip(rows.tail).foreach { case (a, b) =>
      assert(a.getAs[Long]("n_at_risk") ==
        b.getAs[Long]("n_at_risk") + a.getAs[Long]("d_done")
          + a.getAs[Long]("c_censored"),
        s"telescoping broken at t=${a.getAs[Long]("gap_hours")}")
    }
    rows.foreach(r => assert(r.getAs[Double]("hazard") >= 0.0
      && r.getAs[Double]("hazard") <= 1.0))
  }

  test("shard manifest conserves the corpus: doc/char totals match") {
    val m = ext.TextOps.shardManifest(spark, sf).collect()
    val docs = Tables.documents(spark, sf)
    assert(m.map(_.getAs[Long]("n_docs")).sum == docs.count())
    assert(m.map(_.getAs[Long]("n_chars")).sum ==
      docs.agg(sum(col("n_chars"))).head().getLong(0))
    // checksums must be nonzero and shard-distinct with overwhelming
    // probability on this fixture (identical shard contents would be a
    // hash-gate bug)
    assert(m.map(_.getAs[String]("checksum")).distinct.length == m.length)
  }

  test("detokenize inverts encode: detok(encode(x)) == x on the in-vocab corpus") {
    val rows = ext.TextOps.detokenize(spark, sf).collect()
    val docs = Tables.documents(spark, sf)
      .select(col("doc_id"), lower(col("text")).as("t")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(rows.length == docs.size)
    rows.foreach { r =>
      assert(r.getAs[Boolean]("round_trip"),
        s"doc ${r.getAs[Long]("doc_id")}: decode disagrees with the declared OOV policy")
      // on a FULLY in-vocab document the inverse is exact: detok == the
      // space-rejoined original token stream, character for character
      if (r.getAs[Long]("n_oov") == 0L) {
        val orig = docs(r.getAs[Long]("doc_id")).split(" ", -1).mkString(" ")
        assert(r.getAs[String]("detok_text") == orig,
          s"doc ${r.getAs[Long]("doc_id")}: lossless round-trip broken")
      }
    }
    // the exact-inverse pin above is non-vacuous on this fixture
    assert(rows.exists(_.getAs[Long]("n_oov") == 0L),
      "fixture has no fully in-vocab doc — exact-inverse pin is vacuous")
    // sf0.001 is fully in-vocab (<100 token types), so pin the <unk>
    // policy on a 101-type fixture where exactly one type must fall out
    import spark.implicits._
    // 100 singleton types + 'common' = 101 types → exactly one falls out
    val synth = (1L to 100L).map(i => (i, s"tok$i common")).toDF("doc_id", "text")
    val srows = ext.TextOps.detokenizeOf(synth).collect()
    assert(srows.forall(_.getAs[Boolean]("round_trip")),
      "OOV fixture: decode disagrees with the declared <unk> policy")
    val oov = srows.filter(_.getAs[Long]("n_oov") > 0L)
    assert(oov.length == 1, s"expected exactly one OOV doc, got ${oov.length}")
    assert(oov.head.getAs[String]("detok_text").contains("<unk>"),
      "OOV position must decode to the pinned <unk> sentinel")
  }

  test("curriculum order is a permutation grouped by contiguous stages") {
    val rows = ext.TextOps.curriculum(spark, sf).collect()
    val n = Tables.documents(spark, sf).count()
    assert(rows.length == n)
    val pos = rows.map(_.getAs[Long]("global_pos")).sorted
    assert(pos.head == 1L && pos.last == n && pos.distinct.length == n,
      "global_pos must be exactly 1..N")
    // stages appear as contiguous blocks in global order
    val stagesInOrder = rows.sortBy(_.getAs[Long]("global_pos"))
      .map(_.getAs[Long]("stage"))
    stagesInOrder.zip(stagesInOrder.tail).foreach { case (a, b) =>
      assert(b >= a, "stage must be non-decreasing along the curriculum")
    }
  }

  test("streaming CMS never underestimates (the one-sided sketch bound)") {
    val rows = streaming.StreamOps.cmsStream(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Long]("est") >= r.getAs[Long]("true_count"),
        s"CMS underestimated user ${r.getAs[Long]("user_id")}")
    }
  }

  test("personalized pagerank: mass conserved up to truncation, seeds hold rank") {
    val rows = ops.ExtraOps.ppr(spark, sf).collect()
    val total = rows.map(_.getAs[Long]("rank_scaled")).sum
    // truncating integer division only LOSES mass; with SCALE=1e12 the
    // loss over 3 rounds is bounded far below 1% of total mass
    assert(total <= 1000000000000L && total > 990000000000L,
      s"mass $total outside (0.99e12, 1e12]")
    val seedMass = rows.filter(_.getAs[Long]("is_seed") == 1L)
      .map(_.getAs[Long]("rank_scaled")).sum
    assert(seedMass.toDouble / total > 0.2,
      "restart mass must keep the seed set prominent")
  }

  test("band planner: candidate probability is monotone in s and in bands") {
    val rows = ext.Dedup.bandPlanner(spark, sf).collect()
      .map(r => ((r.getLong(0), r.getLong(1), r.getDouble(2)), r.getDouble(3)))
      .toMap
    rows.foreach { case (_, p) => assert(p >= 0.0 && p <= 1.0) }
    // fixed (b, r): more similar pairs are more likely candidates
    rows.keys.groupBy(k => (k._1, k._2)).foreach { case (_, ks) =>
      val bySim = ks.toSeq.sortBy(_._3).map(rows)
      bySim.zip(bySim.tail).foreach { case (lo, hi) => assert(hi >= lo) }
    }
    // fixed s: 32 bands of 1 row catch more than 4 bands of 8 rows
    Seq(0.5, 0.7, 0.9).foreach { s0 =>
      assert(rows((32L, 1L, s0)) >= rows((4L, 8L, s0)),
        s"more bands must not lower detection at s=$s0")
    }
  }

  test("triplet mining: semi-hard contract (positive above negative, same anchor)") {
    val rows = ext.Similarity.tripletMining(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Double]("margin") > 0.0,
        "negative must sit strictly below the positive (semi-hard)")
      assert(r.getAs[Double]("pos_cos") ==
        r.getAs[Double]("neg_cos") + r.getAs[Double]("margin"))
      assert(r.getAs[Long]("pos_id") != r.getAs[Long]("neg_id"))
    }
  }

  test("chat template: conversations are complete and token split is conserved") {
    val rows = ext.TextOps.chatTemplate(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Long]("n_turns") == 4L)
      val text = r.getAs[String]("conv_text")
      // strict alternation: user opens, assistant closes, 2 of each
      val roles = "<\\|(user|assistant)\\|>".r
        .findAllMatchIn(text).map(_.group(1)).toSeq
      assert(roles == Seq("user", "assistant", "user", "assistant"),
        s"bad turn structure: $roles")
      assert(r.getAs[Long]("n_user_tokens") > 0
        && r.getAs[Long]("n_assistant_tokens") > 0)
    }
  }

  test("match_recognize: Java regex count == unique-extent automaton on adversarial paths") {
    // The ev_match_recognize scaladoc claims greedy-backtracking (Spark/
    // Java) and leftmost-longest (DuckDB/RE2) semantics coincide for the
    // star-height-1 alternation-free patterns it uses, because each
    // candidate start admits at most one match extent. Prove the lemma
    // against an explicit automaton on paths BUILT to stress the edge
    // cases: backtracks over c-runs ending in the wrong symbol, nested
    // candidate starts, overlapping matches, and run boundaries.
    def automatonCount(path: String, mid: Char, last: Char): Int = {
      // unique-extent scan: at a 'v', consume the maximal mid-run, match
      // iff the next char is `last`; non-overlapping continues past the
      // match end — exactly the leftmost semantics BOTH engines share
      var i = 0; var n = 0
      while (i < path.length) {
        if (path(i) == 'v') {
          var j = i + 1
          while (j < path.length && path(j) == mid) j += 1
          if (j < path.length && path(j) == last) { n += 1; i = j + 1 }
          else i += 1
        } else i += 1
      }
      n
    }
    val fixtures = Seq("vcvp", "vccp", "vcccx", "vpvp", "vcpcp", "vcpvcce",
      "vvcp", "vcvcp", "vc", "p", "", "vcpvcp", "vvvp", "vcecp", "vpcvp",
      "vccccccp", "vcvcvcp", "pvc", "vce", "vvcce", "vecp")
    import spark.implicits._
    val byPath = fixtures.toDF("path")
      .select(col("path"),
        expr("regexp_count(path, 'vc*p')").as("np"),
        expr("regexp_count(path, 'vc*e')").as("ne"))
      .collect().map(r => r.getString(0) -> (r.getInt(1), r.getInt(2))).toMap
    fixtures.foreach { p =>
      val (np, ne) = byPath(p)
      assert(np == automatonCount(p, 'c', 'p'),
        s"'vc*p' diverges from unique-extent semantics on '$p': $np")
      assert(ne == automatonCount(p, 'c', 'e'),
        s"'vc*e' diverges from unique-extent semantics on '$p': $ne")
    }
  }

  test("mann_whitney: distinct-value rank formulation == brute per-row ranks") {
    // Independent recomputation: collect per-user spend, assign classic
    // tie-averaged ranks brutely on the driver, and rebuild U/AUC — the
    // query's rank-never-touches-rows formulation must agree exactly.
    val r = ops.ExtraOps.mannWhitney(spark, sf).head()
    val per = Tables.events(spark, sf)
      .filter(col("event_type") === "purchase")
      .groupBy(col("user_id"))
      .agg(sum(col("value").cast("decimal(18,4)")).as("spend"))
      .collect()
      .map(x => (x.getLong(0), x.getDecimal(1)))
    val sorted = per.sortBy(_._2)
    // 2× tie-averaged rank per row: r2 = lo + hi + 1 over each tie group
    val r2ByIdx = new Array[Long](sorted.length)
    var i = 0
    while (i < sorted.length) {
      var j = i
      while (j < sorted.length && sorted(j)._2 == sorted(i)._2) j += 1
      val r2 = (i + 1).toLong + j.toLong // (lo_rank + hi_rank), 1-based
      (i until j).foreach(k => r2ByIdx(k) = r2)
      i = j
    }
    val treatIdx = sorted.zipWithIndex.filter { case ((uid, _), _) => uid % 2 == 1 }
    val nT = treatIdx.length.toLong
    val r2Treat = treatIdx.map { case (_, k) => r2ByIdx(k) }.sum
    val u2Brute = r2Treat - nT * (nT + 1)
    assert(r.getAs[Long]("n_treat") == nT)
    assert(r.getAs[Long]("u2_treat") == u2Brute,
      s"U mismatch: query ${r.getAs[Long]("u2_treat")} vs brute $u2Brute")
    val nC = r.getAs[Long]("n_control")
    val auc = r.getAs[Double]("auc")
    assert(math.abs(auc - u2Brute.toDouble / (2.0 * nC * nT)) < 1e-12)
    assert(auc >= 0.0 && auc <= 1.0)
  }

  test("geo grid join: candidate superset is lossless vs brute-force pairs") {
    // the grid join's correctness claim is FULL recall: every pair within
    // radius must survive the 3x3 neighbor-cell candidate generation
    val pts = Tables.customer(spark, sf).selectExpr(
      "c_custkey AS id",
      "(c_custkey * 2654435761L % 2147483648L) div 2097152L AS x",
      "(c_custkey * 2246822519L % 2147483648L) div 2097152L AS y")
    val brute = pts.as("a").crossJoin(pts.as("b"))
      .filter(col("a.id") < col("b.id"))
      .filter(expr("(a.x-b.x)*(a.x-b.x) + (a.y-b.y)*(a.y-b.y) <= 400"))
      .count()
    val gridded = ops.ExtraOps.geoGridJoin(spark, sf)
      .agg(coalesce(sum(col("n_pairs")), lit(0L))).collect()(0).getLong(0)
    assert(gridded == brute,
      s"grid join found $gridded pairs, brute-force found $brute")
  }

  test("waterfall allocation: conservation, budget cap, and ordering invariants") {
    val rows = ops.ExtraOps.waterfallAlloc(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (alloc, demand) = (r.getAs[Long]("allocated_cents"),
        r.getAs[Long]("demand_cents"))
      assert(alloc <= demand, "cannot allocate more than demanded")
      assert(alloc <= 10000000000L, "cannot allocate past the budget")
      val (nf, np, ns) = (r.getAs[Long]("n_full"), r.getAs[Long]("n_partial"),
        r.getAs[Long]("n_starved"))
      assert(np <= 1L, "waterfall admits at most ONE partial fill per segment")
      // if anyone starved, the budget must be exhausted up to one order's
      // granularity — i.e. demand exceeded budget
      if (ns > 0) assert(demand > 10000000000L)
      if (demand <= 10000000000L) assert(alloc == demand && np == 0 && ns == 0)
      assert(nf + np + ns > 0)
    }
  }

  test("hellinger drift: BC bounds, and a self-identical source has H² ≈ 0") {
    val rows = ops.QcOps.hellingerDrift(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val bc = r.getAs[Long]("bc_nano")
      // Cauchy-Schwarz: BC ∈ [0, 1]; nano-floor keeps it ≤ 1e9
      assert(bc >= 0L && bc <= 1000000000L)
      val h2 = r.getAs[Double]("hellinger_sq")
      assert(h2 >= -1e-9 && h2 <= 1.0)
    }
    // P == Q ⇒ BC = Σp = 1 exactly (up to the per-term nano floor):
    // a synthetic one-source corpus must sit within |langs| nano-units
    import spark.implicits._
    val one = Seq(("only", "en", 7L), ("only", "de", 3L))
      .toDF("source", "lang", "n_sl")
    val terms = one.withColumn("tot", sum("n_sl").over(
      org.apache.spark.sql.expressions.Window.partitionBy(lit(1))))
      .withColumn("term", floor(sqrt((col("n_sl").cast("double") / col("tot"))
        * (col("n_sl").cast("double") / col("tot"))) * lit(1e9)).cast("long"))
      .agg(sum("term")).collect()(0).getLong(0)
    assert(terms >= 1000000000L - 2 && terms <= 1000000000L)
  }

  test("ols2: the decorrelated control feature earns a near-zero weight") {
    val rows = ops.ExtraOps.ols2(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val b2 = r.getAs[Double]("cents_per_keymod")
      val b0 = r.getAs[Double]("intercept_cents")
      // x2 = o_orderkey % 97 is independent of price by construction; its
      // fitted weight must be tiny relative to the intercept's scale
      assert(math.abs(b2 * 96) < math.abs(b0) * 0.5,
        s"control weight $b2 implausibly large vs intercept $b0")
      assert(!b0.isNaN && !b2.isNaN)
    }
  }

  test("blocked edit-distance dedup: finds every exact-dup pair, never invents one") {
    val found = ext.Dedup.editBlocked(spark, sf).collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"),
        r.getAs[Long]("dist"))).toSet
    // every exact duplicate (identical full text → identical 16-char block
    // and identical 60-char head) MUST surface with dist = 0
    val docs = Tables.documents(spark, sf).filter(length(col("text")) > 0)
    val exactPairs = docs.as("a").join(docs.as("b"),
        col("a.text") === col("b.text") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id"), col("b.doc_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    exactPairs.foreach { case (a, b) =>
      assert(found.contains((a, b, 0L)), s"missed exact-dup pair ($a,$b)")
    }
    // and every reported pair is real: re-measure with the un-thresholded
    // Levenshtein on the same heads
    val heads = docs.select(col("doc_id"), substring(col("text"), 1, 60).as("h"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    def lev(a: String, b: String): Int = {
      val dp = Array.tabulate(a.length + 1)(i => i)
      for (j <- 1 to b.length) {
        var prev = dp(0); dp(0) = j
        for (i <- 1 to a.length) {
          val cur = dp(i)
          dp(i) = math.min(math.min(dp(i) + 1, dp(i - 1) + 1),
            prev + (if (a(i - 1) == b(j - 1)) 0 else 1))
          prev = cur
        }
      }
      dp(a.length)
    }
    found.foreach { case (a, b, d) =>
      assert(lev(heads(a), heads(b)) == d.toInt,
        s"pair ($a,$b) reported dist $d but brute says ${lev(heads(a), heads(b))}")
    }
  }

  test("script mix: ASCII langs are pure Latin; zh transliteration surfaces Han") {
    val rows = ext.TextOps.scriptMix(spark, sf).collect()
      .map(r => r.getAs[String]("lang") -> r).toMap
    rows.foreach { case (lang, r) =>
      val (lbp, hbp, obp) = (r.getAs[Long]("latin_bp"), r.getAs[Long]("han_bp"),
        r.getAs[Long]("other_bp"))
      assert(lbp >= 0 && hbp >= 0 && obp >= 0 && lbp + hbp + obp <= 10000)
      if (lang != "zh")
        assert(hbp == 0, s"$lang must contain no Han codepoints, got $hbp bp")
      // accented vowels must still classify as Latin, not leak into other
      assert(obp == 0, s"$lang: diacritics misclassified as non-Latin")
    }
    rows.get("zh").foreach { r =>
      assert(r.getAs[Long]("han_bp") > 1000,
        "zh transliteration should produce a substantial Han share")
    }
  }

  test("bitmap segmentation: word popcounts equal set-based day intersection") {
    // the bitmap algebra must agree with the relational ground truth:
    // per-user distinct-day sets intersected the expensive way
    val ev = Tables.events(spark, sf)
      .filter(col("event_type").isin("click", "purchase"))
      .select(col("user_id"), col("event_type"), dayofmonth(col("ts")).as("d"))
    val sets = ev.collect()
      .groupBy(_.getLong(0))
      .map { case (u, rows) =>
        val byType = rows.groupBy(_.getString(1))
          .map { case (t, rs) => t -> rs.map(_.getInt(2)).toSet }
        val c = byType.getOrElse("click", Set.empty[Int])
        val p = byType.getOrElse("purchase", Set.empty[Int])
        u -> ((c & p).size.toLong, (c | p).size.toLong)
      }
    val expectedHist = sets.values.groupBy(_._1).map { case (b, vs) =>
      b -> (vs.size.toLong, vs.map(_._2).sum)
    }
    val got = ops.ExtraOps.bitmapSegments(spark, sf).collect()
      .map(r => r.getAs[Long]("both_days") ->
        ((r.getAs[Long]("n_users"), r.getAs[Long]("sum_either_days")))).toMap
    assert(got == expectedHist,
      s"bitmap histogram diverges from set replay: $got vs $expectedHist")
  }

  test("SRT captions: cue count tracks the fixture, times are sane") {
    val rows = ext.Multimodal.srtCaptions(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val id = r.getAs[Long]("doc_id")
      val n = r.getAs[Long]("n_cues")
      assert(n == id % 4 + 1, s"doc $id: expected ${id % 4 + 1} cues, got $n")
      val (first, last) = (r.getAs[Long]("first_start_ms"),
        r.getAs[Long]("last_end_ms"))
      assert(first == id % 997, s"doc $id first cue start drifted: $first")
      assert(last > first, "cues must advance")
      val dur = r.getAs[Long]("total_dur_ms")
      assert(dur >= 800 * n && dur < 3200 * n,
        s"doc $id: summed duration $dur outside the per-cue envelope")
    }
  }

  test("nested JSON round-trip: item counts reconcile with the relational source") {
    val flat = ops.CoreOps.nestedJson(spark, sf)
    val nItems = flat.filter(col("line").isNotNull).count()
    val src = Tables.lineitem(spark, sf).filter(col("l_orderkey") <= 500).count()
    assert(nItems == src, s"lost items through the JSON cycle: $nItems vs $src")
    // every order's embedded n_items must equal its actual exploded rows
    val bad = flat.groupBy(col("order_key"), col("n_items"))
      .agg(sum(when(col("line").isNotNull, 1L).otherwise(0L)).as("actual"))
      .filter(col("n_items") =!= col("actual")).count()
    assert(bad == 0, s"$bad orders with inconsistent embedded item counts")
  }

  test("CMS width sweep: overestimate-only, and width buys accuracy") {
    val rows = ext.CountMinAgg.cmsWidthSweep(spark, sf).collect()
      .map(r => r.getAs[Int]("w") ->
        ((r.getAs[Long]("total_overestimate"), r.getAs[Long]("max_overestimate"))))
      .toMap
    assert(rows.keySet == Set(64, 256, 1024))
    rows.values.foreach { case (tot, mx) =>
      assert(tot >= 0 && mx >= 0, "CMS can only overestimate")
    }
    assert(rows(1024)._1 <= rows(64)._1,
      s"16x the width should not increase total error: $rows")
  }

  test("Kneser-Ney bigram: probability mass over the full vocab is exactly 1") {
    // Σ_{w2∈V} P_KN(w2|w1) = 1 is an EXACT integer identity over the
    // common denominator 4·c1·N₁₊(··):
    //   Σ_obs (4c12−3)·N·· + 3·N1r(w1)·Σ_all N1l(w2) = 4·c1·N··
    // because Σ_obs(4c12−3) = 4c1 − 3N1r and Σ_all N1l = N··
    val pairs = Tables.documents(spark, sf)
      .select(expr("filter(split(lower(text), ' '), w -> length(w) > 0)").as("ws"))
      .filter(size(col("ws")) >= 2)
      .select(explode(expr(
        """zip_with(ws, slice(ws, 2, greatest(size(ws) - 1, 0)),
          |  (a, b) -> struct(a AS w1, b AS w2))""".stripMargin)).as("p"))
      .filter(col("p.w2").isNotNull)
      .groupBy(col("p.w1").as("w1"), col("p.w2").as("w2"))
      .agg(count(lit(1)).as("c12"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    val nTypes = pairs.length.toLong
    val n1l = pairs.groupBy(_._2).map { case (w, ps) => w -> ps.length.toLong }
    assert(n1l.values.sum == nTypes) // Σ N₁₊(·w2) = N₁₊(··)
    val heads = pairs.groupBy(_._1)
    heads.take(5).foreach { case (w1, ps) =>
      val c1 = ps.map(_._3).sum
      val n1r = ps.length.toLong
      // observed mass + backoff mass over the COMMON denominator
      val obsNum = ps.map(p => (4 * p._3 - 3) * nTypes).sum
      val backoffNum = 3 * n1r * nTypes // Σ_all N1l = nTypes
      assert(obsNum + backoffNum == 4 * c1 * nTypes,
        s"KN mass for '$w1' broke: ${obsNum + backoffNum} vs ${4 * c1 * nTypes}")
    }
    // and the emitted micro-probabilities must sit in (0, 1e6]
    ext.TextOps.knBigram(spark, sf).collect().foreach { r =>
      val p = r.getAs[Long]("pkn_micro")
      assert(p > 0 && p <= 1000000L, s"pkn out of range: $p")
    }
  }

  test("patch grid: budget respected, padding bounded, halvings minimal") {
    val rows = ext.Multimodal.patchGrid(spark, sf).collect()
    assert(rows.nonEmpty)
    var sawHalving = false
    rows.foreach { r =>
      val (n, px, py) = (r.getAs[Int]("n_patches"), r.getAs[Int]("pad_x"),
        r.getAs[Int]("pad_y"))
      assert(n <= 196, s"patch budget blown: $n")
      assert(px >= 0 && px < 16 && py >= 0 && py < 16,
        s"padding must stay under one patch: ($px, $py)")
      val h = r.getAs[Int]("halvings")
      if (h > 0) {
        sawHalving = true
        // minimality: one fewer halving must overflow the budget
        val k = h - 1
        val (w0, h0) = (r.getAs[Int]("width"), r.getAs[Int]("height"))
        val ew = (w0 + (1 << k) - 1) / (1 << k)
        val eh = (h0 + (1 << k) - 1) / (1 << k)
        assert(((ew + 15) / 16) * ((eh + 15) / 16) > 196,
          s"halvings=$h not minimal for ${w0}x$h0")
      }
    }
    assert(sawHalving, "fixture must exercise the downscale ladder")
  }

  test("Welch t: agrees with a driver-side recomputation; df within bounds") {
    val r = ops.StatOps.welchT(spark, sf).collect()(0)
    val cents = Tables.orders(spark, sf)
      .filter(col("o_orderpriority").isin("1-URGENT", "5-LOW"))
      .select(col("o_orderpriority"),
        (col("o_totalprice").cast(
          org.apache.spark.sql.types.DecimalType(19, 2)) * lit(100))
          .cast("long"))
      .collect().map(row => (row.getString(0), row.getLong(1)))
    def stats(arm: String) = {
      val xs = cents.filter(_._1 == arm).map(_._2.toDouble)
      val n = xs.length; val m = xs.sum / n
      val v = xs.map(x => (x - m) * (x - m)).sum / (n - 1)
      (n, m, v)
    }
    val (n1, m1, v1) = stats("1-URGENT"); val (n2, m2, v2) = stats("5-LOW")
    val se = v1 / n1 + v2 / n2
    val tRef = (m1 - m2) / math.sqrt(se)
    val t = r.getAs[Double]("t")
    assert(math.abs(t - tRef) <= 1e-9 * math.max(1.0, math.abs(tRef)),
      s"t=$t vs driver $tRef")
    val df = r.getAs[Double]("df")
    assert(df >= math.min(n1, n2) - 1 - 1e-9 && df <= n1 + n2 - 2 + 1e-9,
      s"Welch df $df outside [min(n)-1, n1+n2-2]")
  }

  test("burstiness: VMR replays exactly from per-doc count sets") {
    val nDocs = Tables.documents(spark, sf)
      .filter(length(col("text")) > 0).count()
    val perDoc = Tables.documents(spark, sf)
      .filter(length(col("text")) > 0)
      .select(col("doc_id"), explode(expr(
        "filter(split(lower(text), ' '), w -> length(w) > 0)")).as("w"))
      .groupBy(col("w"), col("doc_id")).agg(count(lit(1)).as("c"))
      .collect().map(row => (row.getString(0), row.getLong(2)))
    val byWord = perDoc.groupBy(_._1)
    ext.TextOps.burstiness(spark, sf).collect().foreach { r =>
      val w = r.getAs[String]("w")
      val cs = byWord(w).map(_._2)
      val (tot, ssq) = (cs.sum, cs.map(c => c * c).sum)
      val expected = (BigInt(nDocs) * ssq - BigInt(tot) * tot) * 1000000 /
        (BigInt(nDocs - 1) * tot)
      assert(r.getAs[Long]("vmr_micro") == expected.toLong,
        s"VMR for '$w' diverged")
      assert(r.getAs[Long]("n_docs_present") == cs.length)
    }
  }

  test("regression diagnostics: R² in [0,1], RMSE matches residual replay") {
    val rows = ops.ExtraOps.regressionDiagnostics(spark, sf).collect()
    assert(rows.nonEmpty)
    val fits = ops.ExtraOps.regression(spark, sf).collect()
      .map(r => r.getString(0) ->
        ((r.getAs[Double]("slope_cents_per_day"),
          r.getAs[Double]("intercept_cents")))).toMap
    val data = Tables.orders(spark, sf).select(col("o_orderpriority"),
        datediff(to_date(col("o_orderdate")), lit("1992-01-01"))
          .cast("double"),
        (col("o_totalprice").cast(
          org.apache.spark.sql.types.DecimalType(19, 2)) * lit(100))
          .cast("long").cast("double"))
      .collect().map(r => (r.getString(0), r.getDouble(1), r.getDouble(2)))
      .groupBy(_._1)
    rows.foreach { r =>
      val g = r.getString(0)
      val r2 = r.getAs[Double]("r2")
      assert(r2 >= 0.0 && r2 <= 1.0, s"$g: r2=$r2")
      val (slope, icept) = fits(g)
      val pts = data(g)
      val sse = pts.map { case (_, x, y) =>
        val e = y - (icept + slope * x); e * e
      }.sum
      val direct = math.sqrt(sse / (pts.length - 2.0))
      val got = r.getAs[Double]("rmse_cents")
      assert(math.abs(got - direct) <= 1e-6 * direct,
        s"$g: rmse $got vs residual replay $direct")
    }
  }

  test("median CI: bounds bracket the median and tighten with n") {
    val rows = ops.ExtraOps.medianCi(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (lo, med, hi) = (r.getAs[Double]("ci_lo"),
        r.getAs[Double]("median_lower"), r.getAs[Double]("ci_hi"))
      assert(lo <= med && med <= hi,
        s"${r.getString(0)}: CI [$lo, $hi] must bracket median $med")
    }
  }

  test("diff-in-diff: identity did = Δtreatment − Δcontrol, cells populated") {
    val r = ext.EventOps.diffInDiff(spark, sf).collect()(0)
    val (tp, tq, cp, cq) = (r.getAs[Long]("t_pre"), r.getAs[Long]("t_post"),
      r.getAs[Long]("c_pre"), r.getAs[Long]("c_post"))
    assert(r.getAs[Long]("did_micro") == (tq - tp) - (cq - cp))
    assert(Seq(tp, tq, cp, cq).forall(_ != 0L), "all four cells must have data")
  }

  test("Heaps curve: both series monotone, types ≤ tokens, totals reconcile") {
    val rows = ext.TextOps.heapsCurve(spark, sf).collect()
      .map(r => (r.getAs[Int]("checkpoint"), r.getAs[Long]("tokens_seen"),
        r.getAs[Long]("types_seen"))).sortBy(_._1)
    assert(rows.nonEmpty && rows.map(_._1).distinct.length == rows.length)
    rows.sliding(2).foreach {
      case Array((_, t1, v1), (_, t2, v2)) =>
        assert(t2 > t1 && v2 >= v1, "cumulative series must be monotone")
      case _ =>
    }
    val (_, totalToks, totalTypes) = rows.last
    val docs = Tables.documents(spark, sf).filter(length(col("text")) > 0)
    val allToks = docs.select(explode(expr(
      "filter(split(lower(text), ' '), w -> length(w) > 0)")).as("w"))
    assert(totalToks == allToks.count(), "final tokens_seen = corpus tokens")
    assert(totalTypes == allToks.distinct().count(),
      "final types_seen = corpus vocabulary")
    rows.foreach { case (_, t, v) => assert(v <= t) }
  }

  test("cu_seqlens: offsets in-range, first doc of a shard starts at 0") {
    val rows = ext.TextOps.cuSeqlens(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val offs = r.getAs[String]("cu_offsets").split(",").map(_.toLong)
      assert(offs.forall(o => o >= 0 && o < 2048),
        "every boundary lives inside the 2048-token sequence")
      assert(offs.sorted.sameElements(offs), "offsets must emit sorted")
      assert(offs.length == offs.distinct.length)
    }
    // sequence 0 of every shard begins with a boundary at offset 0
    rows.filter(_.getAs[Long]("seq_idx") == 0L).foreach { r =>
      assert(r.getAs[String]("cu_offsets").startsWith("0"),
        s"shard ${r.getAs[Long]("shard")}: first sequence must anchor at 0")
    }
  }

  test("discounted LTV: k=0 undiscounted, later weeks strictly discounted") {
    val rows = ext.EventOps.ltvDiscounted(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (k, v, dv) = (r.getAs[Long]("k"), r.getAs[Long]("value_micro"),
        r.getAs[Long]("discounted_micro"))
      if (k == 0) assert(dv == v, "week 0 carries no discount")
      else assert(dv < v && dv > 0, s"week $k: $dv must be a real discount of $v")
    }
  }

  test("mix-shift: shares sum to ~1e6 per period, effects reconcile to ΔAOV") {
    val rows = ops.ExtraOps.mixShift(spark, sf).collect()
    assert(rows.nonEmpty)
    val s1 = rows.map(_.getAs[Long]("share1")).sum
    val s2 = rows.map(_.getAs[Long]("share2")).sum
    // DIV truncation sheds at most 1 micro-unit per segment
    assert(s1 > 1000000L - rows.length && s1 <= 1000000L, s"share1 sum $s1")
    assert(s2 > 1000000L - rows.length && s2 <= 1000000L, s"share2 sum $s2")
    // mix + rate effects across segments ≈ overall AOV change (within the
    // per-segment truncation envelope: each effect sheds < 1 cent, each
    // aov/share input < 1 unit — bound loosely)
    val totalEffect = rows.map(r => r.getAs[Long]("mix_effect_cents")
      + r.getAs[Long]("rate_effect_cents")).sum
    val cents = Tables.orders(spark, sf).select(
      (col("o_totalprice").cast(
        org.apache.spark.sql.types.DecimalType(19, 2)) * lit(100))
        .cast("long"),
      unix_micros(col("o_orderdate").cast("timestamp")))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val (mn, mx) = (cents.map(_._2).min, cents.map(_._2).max)
    val mid = mn + (mx - mn) / 2
    val a1 = cents.filter(_._2 < mid).map(_._1)
    val a2 = cents.filter(_._2 >= mid).map(_._1)
    val dAov = a2.sum / a2.length - a1.sum / a1.length
    assert(math.abs(totalEffect - dAov) <= 200 + rows.length * 2,
      s"decomposition $totalEffect far from ΔAOV $dAov")
  }

  test("type correlation matrix: symmetric-complete pairs, r in [-1, 1]") {
    val rows = ops.ExtraOps.typeCorrMatrix(spark, sf).collect()
    val types = Tables.events(spark, sf).select(col("event_type"))
      .distinct().count().toInt
    assert(rows.length == types * (types - 1) / 2,
      s"expected all unordered pairs of $types types, got ${rows.length}")
    rows.foreach { r =>
      val v = r.getAs[Double]("r")
      assert(v >= -1.0 - 1e-12 && v <= 1.0 + 1e-12, s"r out of range: $v")
      assert(r.getAs[String]("type_a") < r.getAs[String]("type_b"))
    }
  }

  test("caption-frame alignment: coverage and gaps replay from cue intervals") {
    val rows = ext.Multimodal.captionFrames(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val id = r.getAs[Long]("doc_id")
      val cues = (0L to id % 4).map { i =>
        val st = i * 2000 + id % 997
        (st, st + 800 + (id * 7 + i * 13) % 2400)
      }
      val lastEnd = cues.map(_._2).max
      val ts = 0L.to(lastEnd, 500L)
      val covered = ts.map(t => cues.exists(c => t >= c._1 && t < c._2))
      assert(r.getAs[Long]("n_frames") == ts.length)
      assert(r.getAs[Long]("n_captioned") == covered.count(identity))
      val gap = ts.zip(covered).collectFirst { case (t, false) => t }
        .getOrElse(-1L)
      assert(r.getAs[Long]("first_gap_ms") == gap, s"doc $id gap mismatch")
      val bp = r.getAs[Long]("coverage_bp")
      assert(bp >= 0 && bp <= 10000)
    }
  }

  test("dynamic session_window merges via running max of window ends, not prev row") {
    // A(view, t=0, end=40m) bridges past B(click, t=5m, end=25m) to
    // C(t=30m): a prev-row-only islands rule would break at C (30 ≥ B's
    // 25m end) — the true merge rule keeps C inside A's still-open window
    import spark.implicits._
    val df = Seq(
      (1L, java.sql.Timestamp.valueOf("2024-01-01 00:00:00"), "view"),
      (1L, java.sql.Timestamp.valueOf("2024-01-01 00:05:00"), "click"),
      (1L, java.sql.Timestamp.valueOf("2024-01-01 00:30:00"), "view"))
      .toDF("user_id", "ts", "event_type")
    val sessions = df.groupBy(col("user_id"), session_window(col("ts"),
        when(col("event_type") === "click", "20 minutes")
          .otherwise("40 minutes")))
      .agg(count(lit(1)).as("n")).collect()
    assert(sessions.length == 1 && sessions(0).getAs[Long]("n") == 3L,
      s"expected ONE bridged session of 3 events, got ${sessions.toSeq}")
  }

  test("power MDE: curve shrinks as 1/√n, exactly") {
    val rows = ext.EventOps.powerMde(spark, sf).collect()
      .map(r => r.getAs[Long]("n_per_arm") -> r.getAs[Double]("mde_fixed"))
      .sortBy(_._1)
    assert(rows.length == 4)
    rows.sliding(2).foreach {
      case Array((n1, m1), (n2, m2)) =>
        // mde(n2)/mde(n1) = √(n1/n2) up to double rounding
        val ratio = m2 / m1
        val expect = math.sqrt(n1.toDouble / n2.toDouble)
        assert(math.abs(ratio - expect) < 1e-12,
          s"MDE scaling broke: $ratio vs $expect")
      case _ =>
    }
    assert(rows.forall(_._2 > 0))
  }

  test("rolling correlation: bounded, complete windows only, replays brute") {
    val rows = ops.ExtraOps.rollingCorr(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val v = r.getAs[Double]("rolling_r")
      assert(v >= -1.0 - 1e-12 && v <= 1.0 + 1e-12)
    }
    // brute replay of the last window
    val daily = Tables.events(spark, sf)
      .filter(col("event_type").isin("click", "purchase"))
      .groupBy(to_date(col("ts")).as("day"))
      .agg(sum(when(col("event_type") === "click", 1L).otherwise(0L)).as("x"),
        sum(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("y"))
      .orderBy(col("day")).collect()
      .map(r => (r.getLong(1).toDouble, r.getLong(2).toDouble))
    val lastW = daily.takeRight(7)
    val n = 7.0
    val (sx, sy) = (lastW.map(_._1).sum, lastW.map(_._2).sum)
    val sxx = lastW.map(p => p._1 * p._1).sum
    val syy = lastW.map(p => p._2 * p._2).sum
    val sxy = lastW.map(p => p._1 * p._2).sum
    val rRef = (n * sxy - sx * sy) /
      math.sqrt((n * sxx - sx * sx) * (n * syy - sy * sy))
    val got = rows.last.getAs[Double]("rolling_r")
    assert(math.abs(got - rRef) < 1e-12, s"last-window r $got vs brute $rRef")
  }

  test("HDR histogram: bucket bounds are the powers of two they claim") {
    val rows = ops.ExtraOps.hdrHistogram(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val bits = r.getAs[Int]("bucket_bits")
      val (lo, hi) = (r.getAs[Long]("min_lag_us"), r.getAs[Long]("max_lag_us"))
      // bit-length b ⟺ value ∈ [2^(b−1), 2^b) (b=1 additionally admits 0)
      val floor = if (bits == 1) 0L else 1L << (bits - 1)
      val ceil = (1L << bits) - 1
      assert(lo >= floor && hi <= ceil && lo <= hi,
        s"bucket $bits: [$lo, $hi] outside [$floor, $ceil]")
    }
    // counts must sum to the interval-join cardinality
    val total = rows.map(_.getAs[Long]("n")).sum
    val ev = Tables.events(spark, sf)
    val expected = ev.filter(col("event_type") === "click")
      .select(col("user_id"), unix_micros(col("ts")).as("c_us"))
      .join(ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), unix_micros(col("ts")).as("p_us")), Seq("user_id"))
      .filter(col("p_us") >= col("c_us")
        && col("p_us") <= col("c_us") + lit(3600000000L)).count()
    assert(total == expected)
  }

  test("shingle sweep: dup pairs separate from background, background decays with k") {
    val rows = ext.Dedup.shingleSweep(spark, sf).collect()
      .map(r => (r.getAs[Int]("k"), r.getAs[String]("pair_class")) ->
        r.getAs[Long]("mean_j_micro")).toMap
    Seq(2, 3, 5).foreach { k =>
      (rows.get(k -> "blocked"), rows.get(k -> "background")) match {
        case (Some(dup), Some(bg)) =>
          assert(dup > bg, s"k=$k: dup mean $dup must exceed background $bg")
        case _ => // a class can be empty at spec scale; sweep still valid
      }
    }
    // longer shingles make accidental background overlap rarer
    for (bg2 <- rows.get(2 -> "background"); bg5 <- rows.get(5 -> "background"))
      assert(bg5 <= bg2, s"background jaccard must not grow with k: $bg2 -> $bg5")
  }

  test("ABC/XYZ grid: value shares sum to ~1, A-head outweighs C-tail per part") {
    val rows = ops.ExtraOps.abcXyz(spark, sf).collect()
    assert(rows.nonEmpty)
    val share = rows.map(_.getAs[Long]("value_share_micro")).sum
    assert(share > 1000000L - rows.length && share <= 1000000L,
      s"cell shares must tile the total: $share")
    val byAbc = rows.groupBy(_.getAs[String]("abc")).map { case (c, rs) =>
      c -> (rs.map(_.getAs[Long]("n_parts")).sum,
        rs.map(_.getAs[Long]("value_share_micro")).sum)
    }
    for (a <- byAbc.get("A"); cC <- byAbc.get("C")) {
      // A parts are by construction fewer but worth more, per part
      val aPerPart = a._2.toDouble / a._1
      val cPerPart = cC._2.toDouble / cC._1
      assert(aPerPart > cPerPart,
        s"A per-part value $aPerPart must exceed C's $cPerPart")
    }
  }

  test("audience overlap: diagonal identity and jaccard bounds") {
    val rows = ext.EventOps.audienceOverlap(spark, sf).collect()
    rows.foreach { r =>
      val (a, b) = (r.getAs[String]("type_a"), r.getAs[String]("type_b"))
      val (both, na, nb) = (r.getAs[Long]("n_both"), r.getAs[Long]("n_a"),
        r.getAs[Long]("n_b"))
      assert(both <= math.min(na, nb))
      if (a == b) assert(both == na && both == nb,
        s"diagonal must be the plain audience size for $a")
      val j = r.getAs[Double]("jaccard")
      assert(j >= 0.0 && j <= 1.0)
    }
  }

  test("bucketed ROC AUC: exact AUC inside the reported tie half-width") {
    val exact = ops.StatOps.auc(spark, sf).collect()(0).getAs[Double]("auc")
    val b = ops.StatOps.aucBucketed(spark, sf).collect()(0)
    val (approx, half) =
      (b.getAs[Double]("auc_bucketed"), b.getAs[Double]("tie_halfwidth"))
    // the bound is EXACT, not probabilistic: every within-bucket pair
    // contributes in [0,1] against the ½ the trapezoid assumes
    assert(math.abs(exact - approx) <= half + 1e-15,
      s"|${exact} - $approx| > tie half-width $half")
    assert(half < 0.05, s"grid too coarse to be useful: half-width $half")
    assert(b.getAs[Long]("n_buckets") > 10,
      "degenerate grid: the fixture should span many buckets")
  }

  test("boost-by-majority beats every stump it is built from (interval concept)") {
    val rows = ops.StatOps.boostMajority(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(3), r.getLong(4))).sortBy(_._1)
    assert(rows.length == 3)
    // no single stump can express the interval: every round's weighted
    // error stays positive and substantial
    rows.foreach { case (round, werr, _) =>
      assert(werr > 0, s"round $round stump must not be perfect") }
    val minStumpErr = rows.map(_._2).min
    // the 3-vote majority expresses the interval exactly: training
    // error hits ZERO while every constituent stump errs heavily
    assert(rows.last._3 == 0L,
      s"ensemble must reach zero training error, got ${rows.last._3}")
    assert(minStumpErr > 100L,
      s"fixture degenerated: best single stump err $minStumpErr too small")
  }
}
