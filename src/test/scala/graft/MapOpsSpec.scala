package graft

import org.apache.spark.sql.SaveMode
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** MapType / nested-struct surface: schema-pruned nested parquet reads,
  * map-column parquet round-trips, and from_json edge semantics.
  */
class MapOpsSpec extends AnyFunSuite {
  import TestSpark.{sf, spark}


  test("nested struct parquet read prunes to the selected subfield") {
    val dir = Scratch.fresh("nested").toString
    Tables.orders(spark, sf)
      .select(col("o_orderkey"),
        struct(col("o_orderstatus").as("status"),
          col("o_totalprice").as("total"),
          struct(col("o_orderpriority").as("prio"),
            col("o_custkey").as("cust")).as("meta")).as("info"))
      .write.mode(SaveMode.Overwrite).parquet(dir)
    val one = spark.read.parquet(dir).select(col("info.meta.prio"))
    val scan = one.queryExecution.executedPlan.collectLeaves().head.toString
    // nested-field pruning: the scan must read ONLY info.meta.prio — no
    // status/total/cust in ReadSchema (spark.sql.optimizer.nestedSchemaPruning
    // is on by default in Spark 3.1+)
    assert(scan.contains("prio"), scan.take(800))
    assert(!scan.contains("total") && !scan.contains("cust"), scan.take(800))
    assert(one.distinct().count() == 5)
  }

  test("map column round-trips through parquet") {
    val dir = Scratch.fresh("map_pq").toString
    val m = Tables.nation(spark, sf)
      .select(col("n_nationkey"),
        map(lit("nk"), col("n_nationkey").cast("long"),
          lit("len"), length(col("n_name")).cast("long")).as("m"))
    m.write.mode(SaveMode.Overwrite).parquet(dir)
    val back = spark.read.parquet(dir)
    assert(back.schema("m").dataType ==
      MapType(StringType, LongType, valueContainsNull = true))
    val got = back.select(col("n_nationkey"), element_at(col("m"), "len"))
      .orderBy("n_nationkey").collect().map(r => (r.getInt(0), r.getLong(1)))
    val want = Tables.nation(spark, sf)
      .select(col("n_nationkey"), length(col("n_name")).cast("long"))
      .orderBy("n_nationkey").collect().map(r => (r.getInt(0), r.getLong(1)))
    assert(got.sameElements(want))
  }

  test("from_json returns null struct/entries on malformed input") {
    import spark.implicits._
    val df = Seq("""{"k": 7}""", """not json""", """{"k": "str"}""")
      .toDF("js")
      .select(from_json(col("js"), "k BIGINT", Map.empty[String, String]).as("p"))
    val rows = df.select(col("p.k")).collect().map(r =>
      if (r.isNullAt(0)) None else Some(r.getLong(0)))
    // malformed document → null struct; type-mismatched field → null field
    assert(rows.toSeq == Seq(Some(7L), None, None))
  }

  test("explode(map) emits one row per entry; explode of empty map emits none") {
    import spark.implicits._
    val df = Seq(
      (1, Map("a" -> 1L, "b" -> 2L)),
      (2, Map.empty[String, Long])).toDF("id", "m")
    val exploded = df.select(col("id"), explode(col("m")).as(Seq("k", "v")))
    assert(exploded.count() == 2)
    // explode_outer keeps the empty-map row with null entry
    val outer = df.select(col("id"), explode_outer(col("m")).as(Seq("k", "v")))
    assert(outer.count() == 3)
    assert(outer.filter(col("k").isNull).select("id").head().getInt(0) == 2)
  }
}
