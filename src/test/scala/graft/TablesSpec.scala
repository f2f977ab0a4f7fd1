package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** The declared source schemas in [[Tables]]: each must equal what Spark
  * infers from the footers at every testdata scale, loading must run no
  * Spark job, and the `events.ts` footer read must keep adapting to the
  * shape on disk (and refusing a shape it does not know).
  */
class TablesSpec extends AnyFunSuite {
  import TestSpark.{sf, spark}

  private val loaders: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
    "region" -> Tables.region, "nation" -> Tables.nation,
    "customer" -> Tables.customer, "supplier" -> Tables.supplier,
    "part" -> Tables.part, "orders" -> Tables.orders,
    "lineitem" -> Tables.lineitem, "events" -> Tables.events,
    "documents" -> Tables.documents, "embeddings" -> Tables.embeddings)

  /** The three testdata scales, siblings of the suite's sf0.001 dir. */
  private val scaleDirs = Seq("sf0.001", "sf0.01", "sf0.1")
    .map(n => new java.io.File(new java.io.File(sf).getParentFile, n).toString)

  /** Column-by-column differences between two schemas, then order. */
  private def diff(declared: StructType, inferred: StructType): Seq[String] = {
    val cols = (declared.fieldNames ++ inferred.fieldNames).distinct.toSeq
    val byCol = cols.flatMap { c =>
      val (d, i) = (declared.find(_.name == c), inferred.find(_.name == c))
      if (d == i) None else Some(s"column $c: declared $d, inferred $i")
    }
    if (byCol.isEmpty && declared != inferred)
      Seq(s"column order: declared ${declared.fieldNames.mkString(",")}, " +
        s"inferred ${inferred.fieldNames.mkString(",")}")
    else byCol
  }

  private def withTempDir[T](tag: String)(body: String => T): T = {
    val dir = Scratch.fresh(tag).toFile
    try body(dir.toString)
    finally org.apache.commons.io.FileUtils.deleteQuietly(dir)
  }

  test("declared schemas equal the footer-inferred schemas at every scale") {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val mismatches = for {
      d <- scaleDirs
      (t, _) <- loaders
      m <- diff(Tables.load(spark, d, t).schema,
        spark.read.parquet(s"$d/$t.parquet").schema)
    } yield s"$d $t: $m"
    assert(mismatches.isEmpty, mismatches.mkString("\n"))
  }

  test("the ten loaders, their schemas and the ts footer read fire no Spark job") {
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    // drain first, so a preceding test's queued job events are not counted
    ScanCount.drainListenerBus(spark)
    spark.sparkContext.addSparkListener(listener)
    val perLoader = try {
      def jobsOf(body: => Unit): Int = {
        val before = jobs.get
        body
        ScanCount.drainListenerBus(spark)
        jobs.get - before
      }
      loaders.map { case (t, load) => t -> jobsOf(load(spark, sf).schema) } ++
        scaleDirs.map(d => s"eventsTsType $d" -> jobsOf(Tables.eventsTsType(spark, d)))
    } finally spark.sparkContext.removeSparkListener(listener)
    assert(perLoader.forall(_._2 == 0),
      perLoader.filter(_._2 != 0).map { case (t, n) => s"$t: $n jobs" }.mkString(", "))
  }

  test("the ts footer read finds the data file in a Spark-written events directory") {
    withTempDir("graft_events_dir") { dir =>
      // the raw load keeps the files' TIMESTAMP_NTZ; the loader's output is TIMESTAMP
      Seq("raw" -> Tables.load(spark, sf, "events"), "loaded" -> Tables.events(spark, sf))
        .foreach { case (tag, df) =>
          val d = s"$dir/$tag"
          df.write.parquet(s"$d/events.parquet")
          assert(new java.io.File(s"$d/events.parquet/_SUCCESS").exists)
          assert(Tables.eventsTsType(spark, d) == df.schema("ts").dataType, tag)
          assert(diff(Tables.schemaOf(spark, d, "events"),
            spark.read.parquet(s"$d/events.parquet").schema).isEmpty, tag)
          assert(Tables.events(spark, d).schema("ts").dataType == TimestampType, tag)
          assert(Tables.events(spark, d).except(Tables.events(spark, sf)).isEmpty, tag)
        }
    }
  }

  test("an events copy whose ts is a string still makes the loader throw") {
    withTempDir("graft_events_str") { dir =>
      Tables.load(spark, sf, "events").withColumn("ts", col("ts").cast(StringType))
        .write.parquet(s"$dir/events.parquet")
      val ex = intercept[IllegalStateException](Tables.events(spark, dir))
      assert(ex.getMessage.contains("events.ts arrived as StringType"), ex.getMessage)
    }
  }
}
