package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.physical.RangePartitioning
import org.apache.spark.sql.execution.{CoalesceExec, InputAdapter, SortExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.scalatest.funsuite.AnyFunSuite

/** [[graft.plans.SmallSortStrategy]]: once AQE has run a star query's
  * stages, its small final ORDER BY sorts in one task instead of a range
  * shuffle, and so does a sort over rows already in driver memory (a
  * drained memory sink, a local `createDataFrame`); a session whose
  * coalescing bound is below the input gets the range shuffle back; a
  * streaming sort plans as before; and the results of the fixed-point
  * queries do not depend on the shuffle partition count.
  */
class SmallSortSpec extends AnyFunSuite {
  import TestSpark.spark

  /** sf0.01, the oracle scale: at sf0.001 tpch_q5's region filter leaves
    * no rows, and AQE plans an empty result without any sort.
    */
  private val sf = new java.io.File(new java.io.File(TestSpark.sf).getParentFile, "sf0.01")
    .toString

  private val starQueries =
    Seq("tpch_q1", "tpch_q5", "a8_flagship", "s13_partitioned_sink")

  /** Every node of the final physical plan, query stages included. */
  private def finalNodes(df: DataFrame): Seq[SparkPlan] = {
    def walk(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case q: QueryStageExec => q +: walk(q.plan)
      case other => other +: other.children.flatMap(walk)
    }
    val root = df.queryExecution.executedPlan
    assert(root.isInstanceOf[AdaptiveSparkPlanExec] &&
      root.asInstanceOf[AdaptiveSparkPlanExec].isFinalPlan, "expected a final AQE plan")
    walk(root)
  }

  private def rangeExchanges(nodes: Seq[SparkPlan]): Int = nodes.count {
    case e: ShuffleExchangeExec => e.outputPartitioning.isInstanceOf[RangePartitioning]
    case _ => false
  }

  private def withConf[T](k: String, v: String)(body: => T): T =
    SmallSortSpec.withConf(spark, k, v)(body)

  /** Whether `nodes` hold a global sort whose child is a `CoalesceExec`. */
  private def oneTaskSort(nodes: Seq[SparkPlan]): Boolean = nodes.exists {
    case SortExec(_, true, c, _) => (c match {
      case i: InputAdapter => i.child
      case other => other
    }).isInstanceOf[CoalesceExec]
    case _ => false
  }

  private def run(name: String): DataFrame = {
    val df = SparkEntry.queries(name)(spark, sf)
    df.collect()
    df
  }

  test("star queries sort their small result in one task: no range exchange after collect") {
    for (q <- starQueries) {
      val nodes = finalNodes(run(q))
      assert(rangeExchanges(nodes) == 0, s"$q still range-shuffles:\n" +
        nodes.head.treeString)
      assert(oneTaskSort(nodes), s"$q: no single-task sort in\n${nodes.head.treeString}")
    }
  }

  test("a drained stream's final ORDER BY over its memory sink sorts in one task") {
    val nodes = finalNodes(run("st_tumbling_stream"))
    assert(rangeExchanges(nodes) == 0 && oneTaskSort(nodes),
      s"st_tumbling_stream:\n${nodes.head.treeString}")
  }

  test("a sorted local createDataFrame frame sorts in one task, under the coalescing bound only") {
    import spark.implicits._
    def sorted() = {
      val df = Seq((3L, "c"), (1L, "a"), (2L, "b")).toDF("k", "v").orderBy("k")
      assert(df.collect().map(_.getLong(0)).toSeq == Seq(1L, 2L, 3L))
      finalNodes(df)
    }
    val nodes = sorted()
    assert(rangeExchanges(nodes) == 0 && oneTaskSort(nodes), nodes.head.treeString)
    withConf("spark.sql.adaptive.coalescePartitions.minPartitionSize", "1") {
      assert(rangeExchanges(sorted()) == 1, "expected the range sort")
    }
  }

  test("a sort over a generator on a local relation keeps its range exchange") {
    import spark.implicits._
    // the estimate of an explode is not a row count: the rule trusts only
    // projections and filters over rows in driver memory
    val df = Seq(Tuple1(Seq(3L, 1L, 2L))).toDF("xs")
      .select(org.apache.spark.sql.functions.explode($"xs").as("x")).orderBy("x")
    assert(df.collect().map(_.getLong(0)).toSeq == Seq(1L, 2L, 3L))
    val nodes = finalNodes(df)
    assert(rangeExchanges(nodes) == 1, nodes.head.treeString)
  }

  test("a MemoryStream complete-mode sort plans its range exchange as before") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.{MemoryStream, StreamingQueryWrapper}
    val input = MemoryStream[Long](spark)
    val q = input.toDS().groupBy($"value" % 3 as "k").count().orderBy("k")
      .writeStream.outputMode("complete").format("memory")
      .queryName("graft_small_sort_stream").start()
    try {
      input.addData(5L, 1L, 3L, 4L)
      q.processAllAvailable()
      val plan = q.asInstanceOf[StreamingQueryWrapper].streamingQuery
        .lastExecution.executedPlan
      val ranges = plan.collect {
        case e: ShuffleExchangeExec if e.outputPartitioning.isInstanceOf[RangePartitioning] => e
      }
      assert(ranges.size == 1 && !oneTaskSort(plan.collect { case p => p }), plan.treeString)
      assert(spark.table("graft_small_sort_stream").collect().map(_.getLong(0)).toSeq ==
        Seq(0L, 1L, 2L))
    } finally q.stop()
  }

  test("a coalescing bound below the input brings the range exchange back") {
    withConf("spark.sql.adaptive.coalescePartitions.minPartitionSize", "1") {
      for (q <- starQueries)
        assert(rangeExchanges(finalNodes(run(q))) == 1, s"$q: expected the range sort")
    }
  }

  test("with AQE off the sort plans its range exchange as before") {
    withConf("spark.sql.adaptive.enabled", "false") {
      val df = run("tpch_q1")
      assert(df.queryExecution.executedPlan.collect {
        case e: ShuffleExchangeExec if e.outputPartitioning.isInstanceOf[RangePartitioning] => e
      }.size == 1)
    }
  }

  import SmallSortSpec.canonical

  test("fixed-point query results are identical at 1, 4 and 7 shuffle partitions") {
    // every TpchOps query built on Det.dsum / davg / revenue / charge, the
    // star queries above and the stream whose aggregate uses Det.dsum
    // (with coalescing on, st_tumbling_stream runs one state partition
    // whatever the caller's count, so for it this checks run-to-run
    // identity; StreamPartitionSpec runs it at each count)
    val names = starQueries ++ Seq("tpch_q3", "tpch_q7", "tpch_q10", "tpch_q14",
      "tpch_q15", "tpch_q17", "tpch_q18", "tpch_q19", "tpch_q22",
      "st_tumbling_stream")
    val at = Seq("1", "4", "7").map { n =>
      n -> withConf("spark.sql.shuffle.partitions", n) {
        names.map(q => q -> canonical(SparkEntry.queries(q)(spark, sf))).toMap
      }
    }
    for (q <- names; (n, rows) <- at.tail)
      assert(rows(q) == at.head._2(q), s"$q differs at $n shuffle partitions vs 1")
    assert(names.forall(q => at.head._2(q).nonEmpty),
      s"every query must return rows: ${names.filter(q => at.head._2(q).isEmpty)}")
  }
}

object SmallSortSpec {
  /** Rows with doubles compared by their bits. */
  def canonical(df: DataFrame): Seq[Seq[Any]] = df.collect().toSeq.map(_.toSeq.map {
    case d: Double => java.lang.Double.doubleToRawLongBits(d)
    case other => other
  })

  /** Runs `body` with `k` set to `v` on `spark`, then restores it. */
  def withConf[T](spark: SparkSession, k: String, v: String)(body: => T): T = {
    val old = spark.conf.getOption(k)
    spark.conf.set(k, v)
    try body finally old.fold(spark.conf.unset(k))(spark.conf.set(k, _))
  }
}
