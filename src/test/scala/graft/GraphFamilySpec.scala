package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.scalatest.funsuite.AnyFunSuite

/** Pins what building each co-purchase graph query costs before its
  * DataFrame is returned: the Spark jobs its `localCheckpoint`s fire and
  * the lineitem scans those jobs run. The eleven queries share one edge
  * and adjacency construction and one round step per algorithm, but each
  * places its own checkpoints. The DuckDB oracle compares rows only, so a
  * checkpoint that moves, vanishes or doubles inside a shared helper shows
  * up here and nowhere else.
  */
class GraphFamilySpec extends AnyFunSuite {
  import TestSpark.{sf, spark}

  /** (construction jobs, lineitem FileSourceScans) at sf0.001. */
  private val pinned: Map[String, (Int, Long)] = Map(
    "x_triangle_count" -> (3, 2L),
    "x_pagerank" -> (9, 2L),
    "x_ppr" -> (10, 2L),
    "x_label_prop" -> (4, 2L),
    "x_graph_modularity" -> (13, 2L),
    "x_graph_conductance" -> (18, 2L),
    "x_bfs_hops" -> (3, 2L),
    "x_dijkstra_hops" -> (3, 2L),
    "x_kcore" -> (26, 2L),
    "x_link_predict" -> (3, 2L),
    "x_random_walk" -> (4, 2L))

  test("graph queries fire the pinned construction jobs and lineitem scans") {
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    ScanCount.drainListenerBus(spark)
    spark.sparkContext.addSparkListener(listener)
    val got = try pinned.keys.toSeq.sorted.map { q =>
      val before = jobs.get
      // `during` drains the listener bus before it returns, so the job
      // count is complete too
      val scans = ScanCount.during(spark, "lineitem") {
        SparkEntry.queries(q)(spark, sf)
      }
      q -> (jobs.get - before, scans)
    }.toMap finally spark.sparkContext.removeSparkListener(listener)
    got.toSeq.sortBy(_._1).foreach { case (q, (j, n)) =>
      info(s"$q: $j jobs, $n lineitem scans") }
    val off = pinned.filter { case (q, v) => got(q) != v }
    assert(off.isEmpty, off.map { case (q, v) =>
      s"$q: got ${got(q)}, pinned $v" }.mkString("; "))
  }
}
