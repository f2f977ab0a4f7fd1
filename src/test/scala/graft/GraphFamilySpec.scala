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
    // Each build runs under its own job group, and only jobs in that group
    // count: the listener sees every job of the shared SparkContext,
    // including ones other threads start meanwhile, which are kept apart
    // as strays. On a mismatch the off queries' own jobs (each job's
    // stages, with their task counts) and the strays are printed.
    val group = "graft.GraphFamilySpec/"
    val own = new java.util.concurrent.ConcurrentHashMap[String,
      java.util.concurrent.ConcurrentLinkedQueue[String]]()
    val strays = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val prop = (k: String) => Option(e.properties).flatMap(p => Option(p.getProperty(k)))
        val stages = e.stageInfos.map(i => s"${i.name} [${i.numTasks} tasks]").mkString(" + ")
        prop("spark.jobGroup.id").filter(_.startsWith(group)) match {
          case Some(g) => own.computeIfAbsent(g.stripPrefix(group),
            _ => new java.util.concurrent.ConcurrentLinkedQueue[String]())
            .add(s"job ${e.jobId}: $stages")
          case None => strays.add(s"job ${e.jobId} (group " +
            s"${prop("spark.jobGroup.id").getOrElse("none")}): " +
            prop("spark.job.description").getOrElse(stages))
        }
      }
    }
    import scala.jdk.CollectionConverters._
    def jobsOf(q: String): Seq[String] = Option(own.get(q)).fold(Seq.empty[String])(_.asScala.toSeq)
    ScanCount.drainListenerBus(spark)
    spark.sparkContext.addSparkListener(listener)
    val got = try pinned.keys.toSeq.sorted.map { q =>
      spark.sparkContext.setJobGroup(group + q, q)
      // `during` drains the listener bus before it returns, so the job
      // count is complete too
      val scans = try ScanCount.during(spark, "lineitem") {
        SparkEntry.queries(q)(spark, sf)
      } finally spark.sparkContext.clearJobGroup()
      q -> (jobsOf(q).size, scans)
    }.toMap finally spark.sparkContext.removeSparkListener(listener)
    got.toSeq.sortBy(_._1).foreach { case (q, (j, n)) =>
      info(s"$q: $j jobs, $n lineitem scans") }
    val off = pinned.filter { case (q, v) => got(q) != v }
    assert(off.isEmpty, off.map { case (q, v) =>
      s"$q: got ${got(q)}, pinned $v" + jobsOf(q).mkString("\n  ", "\n  ", "")
    }.mkString("\n") + (if (strays.isEmpty) "" else
      strays.asScala.mkString("\nstray jobs:\n  ", "\n  ", "")))
  }
}
