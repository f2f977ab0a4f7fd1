package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The QC suite as a pipeline GATE (reference parity: `etl.py:80-86`
  * raises ValueError on a failed count check — a bad load must STOP the
  * run, not just log a report row).
  */
class QcSpec extends AnyFunSuite {
  import TestSpark.{sf, spark}

  test("constraint gate passes clean data and returns the full report") {
    // the raw synthetic lineitem legitimately violates the pk-uniqueness
    // constraint (the suite REPORTS that, hash-verified vs DuckDB) — so
    // the passing-gate case runs on a pk-deduplicated copy
    val dir = Scratch.fresh("qc_clean").toString
    Tables.lineitem(spark, sf)
      .dropDuplicates("l_orderkey", "l_linenumber")
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    Tables.orders(spark, sf).write.mode("overwrite").parquet(s"$dir/orders.parquet")
    val rep = ops.QcOps.constraintGate(spark, dir)
    assert(rep.count() == 9)
    assert(rep.filter(!col("passed")).isEmpty)
  }

  test("metric drift gate passes at the stock band and raises when tightened") {
    // the carved previous epoch differs from the full load only in volume
    // (~11% more rows current): inside the 15% size band, outside a 5% one
    val rep = ops.QcOps.metricDriftGate(spark, sf)
    assert(rep.count() == 9)
    assert(rep.filter(!col("drift_ok")).isEmpty)
    // completeness/domain/range/RI metrics must show exactly zero drift;
    // volume (size) and the pk dup-rate legitimately move between epochs
    // (the carved slice has its own duplicate mix) but stay inside band
    assert(rep.filter(!col("check_name")
        .isin("size_ge_1000", "pk_unique_orderkey_linenumber"))
      .filter(col("rel_drift") =!= 0.0).isEmpty)
    val ex = intercept[IllegalStateException](
      ops.QcOps.metricDriftGate(spark, sf, sizeThreshold = 0.05))
    assert(ex.getMessage.contains("size_ge_1000"), ex.getMessage)
    assert(!ex.getMessage.contains("domain_returnflag"), ex.getMessage)
  }

  test("k-anonymity report: flags are pure functions of the group metrics") {
    val rep = ops.QcOps.kAnonymity(spark, sf).collect()
    assert(rep.nonEmpty)
    rep.foreach { r =>
      val (n, l) = (r.getAs[Long]("n_rows"), r.getAs[Long]("l_vals"))
      assert(r.getAs[Boolean]("k_ok") == (n >= 5), r.toString)
      assert(r.getAs[Boolean]("l_ok") == (l >= 2), r.toString)
      assert(l >= 1 && l <= 3 && l <= n, r.toString)
    }
    // sf0.001's ~150 customers over 125 QI cells make thin groups
    // inevitable — the gate must actually flag them
    assert(rep.exists(r => !r.getAs[Boolean]("k_ok")),
      "thin QI groups must be flagged k-anonymity violations")
  }

  test("constraint gate raises on injected violations, naming every failed check") {
    // doctor a copy of the tables: truncate lineitem below the size gate
    // and poison one price negative; orders stays intact so RI still holds
    val dir = Scratch.fresh("qc").toString
    Tables.lineitem(spark, sf)
      .limit(500)
      .withColumn("l_extendedprice",
        when(col("l_linenumber") === 1, lit(-5.0)).otherwise(col("l_extendedprice")))
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    Tables.orders(spark, sf).write.mode("overwrite").parquet(s"$dir/orders.parquet")
    val ex = intercept[IllegalStateException](ops.QcOps.constraintGate(spark, dir))
    assert(ex.getMessage.contains("size_ge_1000"), ex.getMessage)
    assert(ex.getMessage.contains("nonneg_extendedprice"), ex.getMessage)
    // untripped checks must not be reported as failures
    assert(!ex.getMessage.contains("ri_orderkey_in_orders"), ex.getMessage)
  }

  test("cardinality profile: sketch estimates track exact counts per column") {
    val out = ops.QcOps.cardinalityProfile(spark, sf).collect()
    assert(out.length == 5, "one row per profiled column")
    out.foreach { r =>
      val (est, exact) =
        (r.getAs[Double]("est_distinct"), r.getAs[Long]("true_distinct"))
      val filled = r.getAs[Long]("n_filled_regs")
      assert(exact >= 1)
      assert(filled >= 1 && filled <= 256)
      if (r.getAs[String]("regime") == "raw") {
        // raw harmonic regime (n ≳ 2.5m): σ ≈ 1.04/√256 = 6.5%, allow ~3σ
        val err = math.abs(est - exact) / exact
        assert(err < 0.20,
          s"${r.getString(0)}: est $est vs exact $exact (${err * 100}%)")
      } else if (exact < 64) {
        // linear-counting regime, collision-free zone (n ≪ m): the
        // filled-register count reads the cardinality near-exactly
        assert(math.abs(filled - exact) <= math.max(1L, exact / 10),
          s"${r.getString(0)}: $filled filled regs vs exact $exact")
      }
      // n between m/4 and 2.5m is the documented transition band: both
      // estimators are biased there and the profile's regime label says so
    }
    // the profile must actually separate keys from enums
    val byName = out.map(r => r.getString(0) -> r.getAs[Long]("true_distinct")).toMap
    assert(byName("l_returnflag") < 10 && byName("l_orderkey") > 1000)
  }

  test("freshness: high-water type reads zero lag; flags are pure functions of lag") {
    val out = ops.QcOps.freshness(spark, sf).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      val lag = r.getAs[Long]("lag_minutes")
      assert(lag >= 0, r.toString)
      assert(r.getAs[Boolean]("stale") == (lag > 60), r.toString)
    }
    assert(out.exists(_.getAs[Long]("lag_minutes") == 0),
      "the type holding the corpus max ts must lag zero")
  }

  test("referential audit: clean on stock data, counts injected orphans exactly") {
    val clean = ops.QcOps.referentialAudit(spark, sf).collect()
    assert(clean.length == 7, "one row per FK edge")
    clean.foreach { r =>
      assert(r.getAs[Long]("orphan_rows") == 0 && r.getAs[Long]("orphan_keys") == 0
        && r.getAs[Long]("null_fk_rows") == 0, r.toString)
      assert(r.getAs[Long]("child_keys") <= r.getAs[Long]("child_rows"), r.toString)
    }
    // doctor a copy: drop the top 10% of orders keys → lineitem rows
    // referencing them become orphans, with exactly predictable counts
    val dir = Scratch.fresh("ri").toString
    val cut = (Tables.orders(spark, sf).agg(max(col("o_orderkey")))
      .collect().head.getLong(0) * 9) / 10
    Seq("region", "nation", "customer", "supplier", "part", "lineitem")
      .foreach(t => Tables.load(spark, sf, t)
        .write.mode("overwrite").parquet(s"$dir/$t.parquet"))
    Tables.orders(spark, sf).filter(col("o_orderkey") < cut)
      .write.mode("overwrite").parquet(s"$dir/orders.parquet")
    val li = Tables.lineitem(spark, sf)
    val expRows = li.filter(col("l_orderkey") >= cut).count()
    val expKeys = li.filter(col("l_orderkey") >= cut)
      .select("l_orderkey").distinct().count()
    val doctored = ops.QcOps.referentialAudit(spark, dir)
      .filter(col("edge") === "lineitem.l_orderkey->orders.o_orderkey")
      .collect().head
    assert(doctored.getAs[Long]("orphan_rows") == expRows)
    assert(doctored.getAs[Long]("orphan_keys") == expKeys)
    assert(expRows > 0, "the doctored cut must actually create orphans")
  }

  test("sequence gaps: dense keyspaces read one island, fragmented counts match a local walk") {
    val out = ops.QcOps.sequenceGaps(spark, sf).collect()
      .map(r => r.getAs[String]("col_name") -> r).toMap
    Seq("c_custkey", "o_orderkey").foreach { c =>
      assert(out(c).getAs[Long]("n_islands") == 1 && out(c).getAs[Long]("n_missing") == 0, c)
    }
    val u = out("o_orderkey_urgent")
    // independent island count: walk the sorted urgent keys locally
    val keys = Tables.orders(spark, sf)
      .filter(col("o_orderpriority") === "1-URGENT")
      .select(col("o_orderkey").cast("long")).distinct()
      .collect().map(_.getLong(0)).sorted
    val localIslands = 1 + keys.sliding(2).count {
      case Array(a, b) => b != a + 1; case _ => false }
    assert(u.getAs[Long]("n_islands") == localIslands)
    assert(u.getAs[Long]("n_islands") > 1,
      "the filtered keyspace must actually fragment")
    assert(u.getAs[Long]("n_missing") >= u.getAs[Long]("n_gaps"),
      "every gap contains at least one missing key")
    assert(u.getAs[Long]("n_keys") == keys.length)
  }

  test("ks test: statistic matches a local exact computation and stays in [0,1]") {
    val r = ops.QcOps.ksTest(spark, sf).collect().head
    val (n1, n2) = (r.getAs[Long]("n1"), r.getAs[Long]("n2"))
    val ksd = r.getAs[Double]("ks_d")
    assert(ksd >= 0.0 && ksd <= 1.0)
    assert(r.getAs[Boolean]("drift") == (ksd > r.getAs[Double]("ks_crit")))
    // local replay at the same $1000 grid over the raw rows
    val rows = Tables.orders(spark, sf)
      .filter(col("o_orderpriority").isin("1-URGENT", "5-LOW"))
      .select(expr("CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT) DIV 100000"),
        col("o_orderpriority")).collect()
      .map(x => (x.getLong(0), x.getString(1)))
    val buckets = rows.map(_._1).distinct.sorted
    var (c1, c2, best) = (0L, 0L, 0L)
    buckets.foreach { b =>
      c1 += rows.count(t => t._1 == b && t._2 == "1-URGENT")
      c2 += rows.count(t => t._1 == b && t._2 != "1-URGENT")
      best = math.max(best, math.abs(c1 * n2 - c2 * n1))
    }
    assert(r.getAs[Long]("ks_num") == best)
    assert(n1 + n2 == rows.length)
  }

  test("regression: exact normal-equation solve matches a BigInt local fit") {
    val out = ops.ExtraOps.regression(spark, sf).collect()
    assert(out.length == 5, "one fit per priority class")
    val rows = Tables.orders(spark, sf)
      .select(col("o_orderpriority"),
        datediff(to_date(col("o_orderdate")), lit("1992-01-01")).cast("long"),
        expr("CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT)"))
      .collect().map(x => (x.getString(0), BigInt(x.getLong(1)), BigInt(x.getLong(2))))
    out.foreach { r =>
      val g = rows.filter(_._1 == r.getAs[String]("o_orderpriority"))
      val n = BigInt(g.length)
      val (sx, sy) = (g.map(_._2).sum, g.map(_._3).sum)
      val (sxy, sxx) = (g.map(t => t._2 * t._3).sum, g.map(t => t._2 * t._2).sum)
      val slope = (n * sxy - sx * sy).toDouble / (n * sxx - sx * sx).toDouble
      val intercept = (sy.toDouble - slope * sx.toDouble) / n.toDouble
      assert(r.getAs[Long]("n") == g.length)
      // same exact integer inputs, same final float tree → tight tolerance
      assert(math.abs(r.getAs[Double]("slope_cents_per_day") - slope)
        <= 1e-9 * math.abs(slope), r.toString)
      assert(math.abs(r.getAs[Double]("intercept_cents") - intercept)
        <= 1e-9 * math.abs(intercept), r.toString)
    }
  }

  test("observe() gates ride the single scan and report exact metrics") {
    val obs = org.apache.spark.sql.Observation()
    val li = Tables.lineitem(spark, sf).observe(obs,
      count(lit(1)).as("rows_seen"),
      sum(when(col("l_quantity").isNull, 1L).otherwise(0L)).as("null_qty"),
      sum(when(col("l_extendedprice") < 0, 1L).otherwise(0L)).as("neg_price"))
    ops.QcOps.instrumentedRollup(li).collect()
    val m = obs.get
    assert(m("rows_seen") == Tables.lineitem(spark, sf).count(),
      s"gate saw ${m("rows_seen")} rows")
    val nullQty = Tables.lineitem(spark, sf)
      .filter(col("l_quantity").isNull).count()
    assert(m("null_qty") == nullQty && m("neg_price") == 0L, m.toString)
    // and the instrumentation must NOT add a pass: exactly one lineitem
    // scan in the declared query's plan
    val p = SparkEntry.queries("x_observe_gates")(spark, sf)
      .queryExecution.executedPlan.toString
    val scans = "lineitem\\.parquet".r.findAllIn(p).size
    assert(scans >= 1 && "Scan parquet".r.findAllIn(p).size == 1,
      s"observe() must ride the existing scan, plan had extra scans:\n" +
        p.take(1200))
  }
}
