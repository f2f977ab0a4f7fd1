package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** AQE skew-join handling: with a synthetically hot key and tiny skew
  * thresholds, AQE must split the oversized partition (skew=true in the
  * final adaptive plan) and still produce correct results.
  */
class SkewSpec extends AnyFunSuite {
  import TestSpark.spark
  import spark.implicits._

  test("AQE splits a skewed join partition and preserves results") {
    val conf = spark.conf
    val saved = Seq(
      "spark.sql.adaptive.enabled" -> conf.get("spark.sql.adaptive.enabled", "true"),
      "spark.sql.autoBroadcastJoinThreshold" -> conf.get("spark.sql.autoBroadcastJoinThreshold", "10MB"),
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" ->
        conf.get("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "256MB"),
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" ->
        conf.get("spark.sql.adaptive.advisoryPartitionSizeInBytes", "64MB"),
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" ->
        conf.get("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "5.0"),
      "spark.sql.adaptive.coalescePartitions.enabled" ->
        conf.get("spark.sql.adaptive.coalescePartitions.enabled", "true"))
    try {
      conf.set("spark.sql.adaptive.enabled", "true")
      conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "16KB")
      conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "16KB")
      conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2.0")
      conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
      // 95% of left rows share key 0 → one hot shuffle partition
      val left = (0 until 20000)
        .map(i => (if (i % 20 == 0) i.toLong % 50 else 0L, s"payload_$i"))
        .toDF("k", "payload")
      val right = (0L until 50L).map(k => (k, s"dim_$k")).toDF("k", "name")
      val joined = left.join(right, Seq("k"))
      // execute THIS dataset (count() would build a separate plan whose
      // AQE run wouldn't reflect into joined.queryExecution)
      assert(joined.collect().length == 20000)
      val finalPlan = joined.queryExecution.executedPlan.toString
      assert(finalPlan.contains("skew=true"),
        "AQE should mark the skewed join:\n" + finalPlan.take(2000))
    } finally saved.foreach { case (k, v) => spark.conf.set(k, v) }
  }

  test("runtime Bloom-filter join pruning injects might_contain on the probe side") {
    // The 100 TB shape this protects: fact ⋈ selectively-filtered dim as
    // a shuffle join — Spark builds a Bloom filter from the dim's join
    // keys at runtime and pushes a might_contain() prune into the fact
    // scan, so most fact rows never reach the exchange. Size thresholds
    // are lowered because the fixture frames are KB-scale; the PLAN
    // assertion (injection + correct result) is what matters.
    val conf = spark.conf
    val keys = Seq(
      "spark.sql.optimizer.runtime.bloomFilter.enabled",
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
      "spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.enabled")
    val saved = keys.map(k => k -> conf.getOption(k))
    try {
      conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
      // creation side must be UNDER this (the dim is KBs — keep default
      // headroom); probe scan must be OVER the application threshold,
      // which defaults to 10GB — drop it to 0 for the KB-scale fixture
      conf.set("spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold", "10MB")
      conf.set("spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0")
      conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force shuffle join
      conf.set("spark.sql.adaptive.enabled", "true")
      val dir = Scratch.fresh("bloom").toString
      // runtime filters require file-scan relations (size estimation +
      // pushable scan), not LocalRelations — write real parquet
      (0L until 50000L).map(i => (i, s"payload_$i")).toDF("k", "payload")
        .write.mode("overwrite").parquet(s"$dir/fact")
      (0L until 5000L).map(i => (i, i % 97)).toDF("k", "grp")
        .write.mode("overwrite").parquet(s"$dir/dim")
      val fact = spark.read.parquet(s"$dir/fact")
      val dim = spark.read.parquet(s"$dir/dim").filter(col("grp") === 3)
      val joined = fact.join(dim, Seq("k"))
      val optimized = joined.queryExecution.optimizedPlan.toString
      assert(optimized.contains("might_contain"),
        "runtime Bloom filter should be injected:\n" + optimized.take(3000))
      // and the prune is semantics-preserving: 5000/97 ≈ 52 dim keys
      assert(joined.collect().length == dim.count())
    } finally saved.foreach {
      case (k, Some(v)) => conf.set(k, v)
      case (k, None) => conf.unset(k)
    }
  }
}
