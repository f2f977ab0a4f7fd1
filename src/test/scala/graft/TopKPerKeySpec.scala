package graft

import graft.plans.TopKPerKey
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The custom whole-operator extension (logical node + strategy + physical
  * heap operator): result equivalence against the declarative window-rank
  * form, and the plan-shape contract — partial before the exchange, final
  * after, and NO sort anywhere (that absence is the operator's reason to
  * exist).
  */
class TopKPerKeySpec extends AnyFunSuite {
  import TestSpark.{sf, spark}

  private def bare = TopKPerKey.topK(
    Tables.orders(spark, sf).select(col("o_custkey"), col("o_orderkey"), col("o_totalprice")),
    keyCols = Seq("o_custkey"),
    sortCols = Seq(("o_totalprice", false), ("o_orderkey", true)),
    k = 3)

  test("matches the window row_number form exactly (total order ⇒ unique survivors)") {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    val expected = Tables.orders(spark, sf)
      .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 3).drop("rn")
      .orderBy(col("o_custkey"), col("o_orderkey"))
      .collect()
    val got = bare.orderBy(col("o_custkey"), col("o_orderkey")).collect()
    assert(got.length == expected.length)
    assert(got.sameElements(expected))
  }

  test("k larger than every group returns the whole table") {
    val all = TopKPerKey.topK(
      Tables.orders(spark, sf).select(col("o_custkey"), col("o_orderkey")),
      keyCols = Seq("o_custkey"), sortCols = Seq(("o_orderkey", true)), k = 1 << 20)
    assert(all.count() == Tables.orders(spark, sf).count())
  }

  /** Run `body` with AQE off so the physical tree is directly inspectable
    * (the operator itself runs fine under AQE — the first two tests prove
    * that; these assertions need the un-wrapped exchange).
    */
  private def withoutAqe[T](body: => T): T = {
    val prev = spark.conf.get("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try body finally spark.conf.set("spark.sql.adaptive.enabled", prev)
  }

  test("plan: partial below the single hash exchange, final above, zero sorts") {
    withoutAqe {
      val exec = bare.queryExecution.executedPlan
      val plan = exec.toString
      assert(plan.contains("TopKPerKeyPartial"), plan)
      assert(plan.contains("TopKPerKeyFinal"), plan)
      assert(!plan.contains("Sort "), s"heap operator must not sort:\n$plan")
      // exactly one exchange, keyed on the group column
      val exchanges = exec.collect { case e: ShuffleExchangeExec => e }
      assert(exchanges.length == 1, plan)
      assert(exchanges.head.outputPartitioning.toString.contains("o_custkey"), plan)
      // and the partial phase sits BELOW the exchange (map-side shrink)
      val partialBelow = exchanges.head.child.collect {
        case p if p.nodeName == "TopKPerKeyPartial" => p
      }
      assert(partialBelow.nonEmpty, s"partial phase must be below the exchange:\n$plan")
    }
  }

  test("rewrite rule: declarative row_number filter plans as the native operator, scoped to its session") {
    val df = TopKPerKey.topkRuleRewrite(spark, sf)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("TopKPerKeyFinal"), plan)
    assert(!plan.contains("Window"), s"window must be rewritten away:\n$plan")
    // identical rows to the stock-session window form
    val stock = {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate").desc, col("o_orderkey").desc)
      Tables.orders(spark, sf)
        .select(col("o_custkey"), col("o_orderkey"), col("o_orderdate"))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1).drop("rn")
        .orderBy(col("o_custkey"))
    }
    assert(df.collect().sameElements(stock.collect()))
    // and the PARENT session keeps stock plans (scoping contract)
    assert(stock.queryExecution.executedPlan.toString.contains("Window"),
      "rule leaked into the parent session")
  }

  test("rewrite rule: a warm re-run compiles no generated classes") {
    val n = Recompiles.onThirdRun("x_topk_per_key_rule")
    assert(n == 0, s"x_topk_per_key_rule compiled $n classes on its third run")
  }

  test("rewrite rule declines rank-kept, rank()-based, and unpartitioned shapes") {
    val scoped = Sessions.child(spark) // installs the engine, strategy included
    org.apache.spark.sql.graft.GraftSqlShim.registerOptimizerRule(scoped, graft.plans.RewriteRankFilterToTopK)
    val base = Tables.orders(scoped, sf)
      .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"))
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    // rank column kept in output → the operator can't supply it → no rewrite
    val kept = base.withColumn("rn", row_number().over(w)).filter(col("rn") <= 3)
    assert(!kept.queryExecution.executedPlan.toString.contains("TopKPerKey"),
      "must not rewrite when the rank survives in the output")
    // rank() admits >k rows under ties → no rewrite
    val rk = base.withColumn("rn", rank().over(w)).filter(col("rn") <= 3).drop("rn")
    assert(!rk.queryExecution.executedPlan.toString.contains("TopKPerKey"),
      "must not rewrite rank()")
    // unpartitioned window (global top-k) → TakeOrderedAndProject territory
    val glob = base.withColumn("rn",
      row_number().over(Window.orderBy(col("o_totalprice").desc, col("o_orderkey"))))
      .filter(col("rn") <= 3).drop("rn")
    assert(!glob.queryExecution.executedPlan.toString.contains("TopKPerKey"),
      "must not rewrite an unpartitioned window")
  }

  test("shuffle carries at most k rows per key per map task") {
    withoutAqe {
      // 0.001-SF orders: 1500 rows over the scan's input partitions; the
      // partial phase must shrink (never grow) the exchange input, and the
      // final phase must only ever discard
      val df = bare
      df.collect()
      val partialRows = df.queryExecution.executedPlan.collect {
        case p if p.nodeName == "TopKPerKeyPartial" => p.metrics("numOutputRows").value
      }.sum
      val tableRows = Tables.orders(spark, sf).count()
      val finalRows = df.count()
      assert(partialRows >= finalRows, s"partial $partialRows < final $finalRows")
      assert(partialRows <= tableRows, s"partial phase must never grow the data")
    }
  }
}
