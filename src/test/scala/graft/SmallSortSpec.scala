package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.physical.RangePartitioning
import org.apache.spark.sql.execution.{CoalesceExec, InputAdapter, SortExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.scalatest.funsuite.AnyFunSuite

/** [[graft.plans.SmallSortStrategy]]: once AQE has run a star query's
  * stages, its small final ORDER BY sorts in one task instead of a range
  * shuffle; a session whose coalescing bound is below the input gets the
  * range shuffle back; and the results of the fixed-point queries do not
  * depend on the shuffle partition count.
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

  private def withConf[T](k: String, v: String)(body: => T): T = {
    val old = spark.conf.getOption(k)
    spark.conf.set(k, v)
    try body finally old.fold(spark.conf.unset(k))(spark.conf.set(k, _))
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
      assert(nodes.exists {
        case SortExec(_, true, c, _) => (c match {
          case i: InputAdapter => i.child
          case other => other
        }).isInstanceOf[CoalesceExec]
        case _ => false
      }, s"$q: no single-task sort in\n${nodes.head.treeString}")
    }
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

  /** Rows with doubles compared by their bits. */
  private def canonical(df: DataFrame): Seq[Seq[Any]] = df.collect().toSeq.map(_.toSeq.map {
    case d: Double => java.lang.Double.doubleToRawLongBits(d)
    case other => other
  })

  test("fixed-point query results are identical at 1, 4 and 7 shuffle partitions") {
    // every TpchOps query built on Det.dsum / davg / revenue / charge, the
    // star queries above and the stream whose aggregate uses Det.dsum
    // (st_tumbling_stream runs in its own child session, which pins its
    // shuffle partitions; for it this checks run-to-run identity)
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
