package graft.plans

import org.apache.spark.sql.catalyst.plans.logical.{Filter, LocalRelation, LogicalPlan, Project, Sort}
import org.apache.spark.sql.execution.{CoalesceExec, SortExec, SparkPlan, SparkStrategy}
import org.apache.spark.sql.execution.adaptive.LogicalQueryStage
import org.apache.spark.sql.execution.streaming.sources.MemoryPlan
import org.apache.spark.sql.internal.SQLConf

/** Plans a global ORDER BY over a small, already-computed input as one
  * sort task — `SortExec` over `CoalesceExec(1)` — instead of a range
  * exchange.
  *
  * A global sort normally plans `Exchange rangepartitioning`: a sampling
  * job (which recomputes the sort's input) to pick the range bounds, then
  * a shuffle map stage. When AQE re-plans after the input's stages have
  * run, and the input is small enough that AQE's partition coalescing
  * would pack that range shuffle into one partition anyway, both jobs buy
  * nothing: a single task sorts the same rows into the same order.
  *
  * It fires only when the sort's input has a known size within the bound
  * at which coalescing yields one partition, read from the session's
  * `spark.sql.adaptive.coalescePartitions.*` and
  * `spark.sql.adaptive.advisoryPartitionSizeInBytes` confs. The size is
  * known in two cases:
  *  - every leaf below the sort is a materialized AQE query stage (its
  *    runtime statistics);
  *  - the sort reads rows already in driver memory, through projections
  *    and filters only: a non-streaming `LocalRelation` (a
  *    `createDataFrame` over a local collection) or a `MemoryPlan` (what
  *    `table(<memory sink>)` reads after a drained stream). Their row
  *    counts are exact, and neither a projection nor a filter adds rows;
  *    an operator that can (a generator, a join) is not trusted to the
  *    estimate, since no exchange below it lets AQE correct the plan.
  * With AQE or coalescing off, over any other input and in streaming (a
  * `MemoryStream` batch is a `LocalRelation` marked streaming) the sort
  * plans as before. Installed by
  * [[graft.Sessions.install]] and injected by `graft.expr.GraftExtensions`.
  */
object SmallSortStrategy extends SparkStrategy {

  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case Sort(order, true, child, _) if oneTask(child) =>
      SortExec(order, global = true, CoalesceExec(1, planLater(child))) :: Nil
    case _ => Nil
  }

  private def oneTask(child: LogicalPlan): Boolean = {
    val leaves = child.collectLeaves()
    val conf = SQLConf.get
    (leaves.nonEmpty && leaves.forall {
      case q: LogicalQueryStage => q.isMaterialized
      case _ => false
    } || inMemory(child)) && conf.adaptiveExecutionEnabled &&
      conf.coalesceShufflePartitionsEnabled && child.stats.sizeInBytes <= oneTaskBytes(conf)
  }

  /** Rows in driver memory under projections and filters only. */
  private def inMemory(p: LogicalPlan): Boolean = p match {
    case l: LocalRelation => !l.isStreaming
    case _: MemoryPlan => true
    case Project(_, c) => inMemory(c)
    case Filter(_, c) => inMemory(c)
    case _ => false
  }

  /** The largest shuffle AQE's coalescing always packs into one partition.
    * Its target size is `min(total / minNum, advisory)`, raised to the
    * minimum partition size; `minNum` is the default parallelism when
    * parallelism comes first and no explicit minimum is set, so only the
    * minimum partition size is certain to hold the whole input then.
    */
  private def oneTaskBytes(conf: SQLConf): Long = {
    val minSize = conf.getConf(SQLConf.COALESCE_PARTITIONS_MIN_PARTITION_SIZE)
    val oneMin = conf.getConf(SQLConf.COALESCE_PARTITIONS_MIN_PARTITION_NUM) match {
      case Some(n) => n == 1
      case None => !conf.getConf(SQLConf.COALESCE_PARTITIONS_PARALLELISM_FIRST)
    }
    if (oneMin) math.max(conf.getConf(SQLConf.ADVISORY_PARTITION_SIZE_IN_BYTES), minSize)
    else minSize
  }
}
