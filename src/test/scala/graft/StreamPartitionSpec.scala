package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent}
import org.apache.spark.sql.streaming.StreamingQueryListener.QueryProgressEvent
import org.scalatest.funsuite.AnyFunSuite

/** Stateful streams give the same rows whatever their state-store
  * partition count. With AQE's partition coalescing off, `StreamOps` runs
  * every stream at the caller's `spark.sql.shuffle.partitions`, so that
  * setting is the count the stream runs at. With coalescing on, a per-key
  * stream runs at the caller's count capped at the JVM's cores, and any
  * other stream at one partition.
  */
class StreamPartitionSpec extends AnyFunSuite {
  import TestSpark.spark

  /** sf0.01, the oracle scale: enough events that every state partition
    * holds keys at 7 partitions.
    */
  private val sf = new java.io.File(new java.io.File(TestSpark.sf).getParentFile, "sf0.01")
    .toString

  private val streams =
    Seq("st_tumbling_stream", "st_dedup_stream", "st_interval_join", "st_sessionize_state")

  /** Runs `name` and returns its rows (doubles by their bits) with the
    * state-store partition counts its progress events reported. A stream
    * runs in a child session, whose progress reaches the caller's
    * session listeners only through the shared Spark listener bus.
    */
  private def runAt(name: String): (Seq[Seq[Any]], Set[Int]) = {
    val parts = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val listener = new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case p: QueryProgressEvent =>
          p.progress.stateOperators.foreach(o => parts.add(o.numShufflePartitions.toInt))
        case _ =>
      }
    }
    ScanCount.drainListenerBus(spark)
    spark.sparkContext.addSparkListener(listener)
    try {
      val rows = SmallSortSpec.canonical(SparkEntry.queries(name)(spark, sf))
      ScanCount.drainListenerBus(spark)
      import scala.jdk.CollectionConverters._
      (rows, parts.asScala.toSet)
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("stateful streams give identical rows at 1, 4 and 7 state partitions") {
    val at = Seq(1, 4, 7).map { n =>
      n -> SmallSortSpec.withConf(spark, "spark.sql.shuffle.partitions", n.toString) {
        SmallSortSpec.withConf(spark, "spark.sql.adaptive.coalescePartitions.enabled", "false") {
          streams.map(q => q -> runAt(q)).toMap
        }
      }
    }
    for ((n, runs) <- at; q <- streams)
      assert(runs(q)._2 == Set(n), s"$q ran its state at ${runs(q)._2}, expected $n")
    for (q <- streams; (n, runs) <- at.tail)
      assert(runs(q)._1 == at.head._2(q)._1, s"$q differs at $n state partitions vs 1")
    assert(streams.forall(q => at.head._2(q)._1.nonEmpty),
      s"every stream must return rows: ${streams.filter(q => at.head._2(q)._1.isEmpty)}")
  }

  test("with coalescing on, an aggregate runs one state partition and a per-key stream the cores") {
    val cores = Runtime.getRuntime.availableProcessors
    SmallSortSpec.withConf(spark, "spark.sql.shuffle.partitions", (cores + 3).toString) {
      assert(runAt("st_tumbling_stream")._2 == Set(1))
      assert(runAt("st_sessionize_state")._2 == Set(cores))
    }
    SmallSortSpec.withConf(spark, "spark.sql.shuffle.partitions", "1") {
      assert(runAt("st_sessionize_state")._2 == Set(1))
    }
  }
}
