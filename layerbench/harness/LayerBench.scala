package layerbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, BroadcastNestedLoopJoinExec}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Layer benchmark harness: runs one workload's queries through the
  * public `graft.SparkEntry.queries` contract in a closed loop with one
  * client, and times each layer from outside the engine.
  *
  * A query execution is `SparkEntry.queries(name)(spark, dataDir)` (the
  * construction layer) followed by `queryExecution.toRdd.count()` (the
  * execution layer), as `graft.Bench` runs it. Pass 0 runs cold in the
  * fresh JVM, five passes warm up, and measured passes repeat until
  * `--seconds` have been measured (seven at least).
  * Each pass runs the queries in an order shuffled from `--seed`, after a
  * `System.gc()` outside the timed window.
  *
  * With `--trace 1` the harness registers a `SparkListener`, a
  * `QueryExecutionListener` and a `StreamingQueryListener`, and records
  * one span per layer boundary (query → tables / construct / catalyst /
  * exec). Jobs, tasks and bytes are charged to the span open when they
  * arrive; the listener bus is drained at every boundary. Traced and
  * untraced warm passes alternate, so the difference of their walls is
  * the tracing overhead.
  *
  * Results go to `--out` as one JSON object; `run.py` turns them into
  * metrics and checks the dumped outputs against the DuckDB oracle.
  */
object LayerBench {
  private val WarmUps = 5
  private val Measured = 7

  private def now(): Long = System.nanoTime()
  private def secs(ns: Long): Double = ns / 1e9

  // ---------------------------------------------------------------- config

  private final case class Conf(args: Map[String, String]) {
    def apply(k: String): String = args.getOrElse(k,
      throw new IllegalArgumentException(s"missing --$k"))
    val workload: String = apply("workload")
    val queries: Seq[String] = apply("queries").split(",").toSeq.filter(_.nonEmpty)
    val data: String = apply("data")
    val seed: Long = apply("seed").toLong
    val seconds: Double = apply("seconds").toDouble
    val trace: Boolean = apply("trace") == "1"
    val out: String = apply("out")
    val verifyDir: String = apply("verify-dir")
    val tmpDir: String = apply("tmp-dir")
    val localDir: String = apply("local-dir")
    val cores: Int = apply("cores").toInt
  }

  private def parseArgs(a: Array[String]): Map[String, String] =
    a.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap

  private def session(c: Conf): SparkSession =
    graft.Sessions.withObjectStoreConf(SparkSession.builder()
      .master(s"local[${c.cores}]")
      .appName(s"layerbench-${c.workload}")
      .config("spark.sql.shuffle.partitions", c.cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", c.localDir)
      .config("spark.sql.warehouse.dir", s"${c.tmpDir}/warehouse")
      .config("spark.sql.streaming.streamingQueryListeners",
        if (c.trace) classOf[StreamTap].getName else ""))
      .getOrCreate()

  // ------------------------------------------------------------ box context

  /** (busy jiffies over all cpus, jiffies of this process), the
    * `/proc/stat` method of `graft.Bench.cpuSnap`.
    */
  private def cpuSnap(): (Long, Long) = try {
    val f = Files.readString(Paths.get("/proc/stat")).linesIterator.next()
      .trim.split("\\s+").drop(1).map(_.toLong)
    val busy = f(0) + f(1) + f(2) + f(5) + f(6) + (if (f.length > 7) f(7) else 0L)
    val self = Files.readString(Paths.get("/proc/self/stat"))
    val after = self.substring(self.lastIndexOf(')') + 2).split(" ")
    (busy, after(11).toLong + after(12).toLong)
  } catch { case _: Throwable => (-1L, -1L) }

  private def loadavg(): Double = try
    Files.readString(Paths.get("/proc/loadavg")).split(" ")(0).toDouble
  catch { case _: Throwable => -1.0 }

  private def peakRssMb(): Double = try {
    Files.readString(Paths.get("/proc/self/status")).linesIterator
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0)
      .getOrElse(-1.0)
  } catch { case _: Throwable => -1.0 }

  private def processCpuS(): Double = ManagementFactory.getOperatingSystemMXBean match {
    case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime / 1e9
    case _ => -1.0
  }

  /** CPU seconds of the JIT compiler threads: warm-up work, not the
    * program's, so `cpu_s` leaves it out.
    */
  private def jitCpuS(): Double = try {
    val tasks = Files.list(Paths.get("/proc/self/task"))
    try tasks.iterator().asScala.map { t =>
      try {
        val st = Files.readString(t.resolve("stat"))
        val comm = st.substring(st.indexOf('(') + 1, st.lastIndexOf(')'))
        if (!comm.startsWith("C1 Compiler") && !comm.startsWith("C2 Compiler")) 0L
        else {
          val f = st.substring(st.lastIndexOf(')') + 2).split(" ")
          f(11).toLong + f(12).toLong
        }
      } catch { case _: Throwable => 0L } // the thread ended meanwhile
    }.sum / 100.0
    finally tasks.close()
  } catch { case _: Throwable => 0.0 }

  private def heapUsedMb(): Double =
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0

  private def gcS(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum / 1e3

  private def treeBytes(dir: String): Long = {
    val root = Paths.get(dir)
    if (!Files.exists(root)) 0L
    else {
      val s = Files.walk(root)
      try s.iterator().asScala.filter(p => Files.isRegularFile(p)).map(p =>
        try Files.size(p) catch { case _: Throwable => 0L }).sum
      finally s.close()
    }
  }

  /** The CPU calibration probe of `graft.Bench`: a fixed range-sum at
    * pinned parallelism, recorded as run context, never as a normalizer.
    */
  private def calibrationProbeS(spark: SparkSession): Double = {
    def once(): Double = {
      val t0 = now()
      spark.range(0L, 400000000L, 1L, 64).selectExpr("sum(id % 97)")
        .queryExecution.toRdd.count()
      secs(now() - t0)
    }
    once()
  }

  // ----------------------------------------------------------------- tracing

  /** Counters charged to one span. Written on the listener-bus thread,
    * read by the main thread after the bus is drained.
    */
  final class Counters {
    var jobs, stages, tasks = 0L
    var runMs, cpuNs, inputBytes, shufW, shufR, spill = 0L
    var outBytes, outRecords = 0L
    var taskWaitMs = 0L
    var actions = 0L
    var batches, inputRows, addBatchMs, commitMs, stateCommitMs = 0L
    def +=(o: Counters): Unit = synchronized {
      jobs += o.jobs; stages += o.stages; tasks += o.tasks
      runMs += o.runMs; cpuNs += o.cpuNs; inputBytes += o.inputBytes
      shufW += o.shufW; shufR += o.shufR; spill += o.spill
      outBytes += o.outBytes; outRecords += o.outRecords
      taskWaitMs += o.taskWaitMs; actions += o.actions
      batches += o.batches; inputRows += o.inputRows
      addBatchMs += o.addBatchMs; commitMs += o.commitMs
      stateCommitMs += o.stateCommitMs
    }
  }

  final case class Span(id: Int, name: String, parent: Int, queryId: String,
      startNs: Long, var endNs: Long = -1L, counters: Counters = new Counters)

  /** Span store plus the three listeners. `current` is the innermost open
    * span; events arriving while it is open are charged to it.
    */
  final class Tracer(spark: SparkSession) {
    val spans = mutable.ArrayBuffer.empty[Span]
    @volatile private var current: Counters = new Counters
    private val stageSubmitted = new ConcurrentHashMap[(Int, Int), java.lang.Long]()
    /** Latest state-store row total per stream run. */
    val stateRows = new ConcurrentHashMap[java.util.UUID, java.lang.Long]()

    private def c: Counters = current

    val sparkListener: SparkListener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        c.synchronized(c.jobs += 1)
      override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
        val si = e.stageInfo
        val submitted: Long = si.submissionTime.getOrElse(System.currentTimeMillis())
        stageSubmitted.put((si.stageId, si.attemptNumber()), submitted)
        c.synchronized(c.stages += 1)
      }
      override def onTaskStart(e: SparkListenerTaskStart): Unit = {
        val sub = stageSubmitted.get((e.stageId, e.stageAttemptId))
        if (sub != null) c.synchronized(
          c.taskWaitMs += math.max(0L, e.taskInfo.launchTime - sub.longValue))
      }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
        val m = e.taskMetrics
        val k = c
        k.synchronized {
          k.tasks += 1
          if (m != null) {
            k.runMs += m.executorRunTime
            k.cpuNs += m.executorCpuTime
            k.inputBytes += m.inputMetrics.bytesRead
            k.shufW += m.shuffleWriteMetrics.bytesWritten
            k.shufR += m.shuffleReadMetrics.totalBytesRead
            k.spill += m.memoryBytesSpilled + m.diskBytesSpilled
            k.outBytes += m.outputMetrics.bytesWritten
            k.outRecords += m.outputMetrics.recordsWritten
          }
        }
      }
    }

    val qeListener: QueryExecutionListener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, d: Long): Unit =
        c.synchronized(c.actions += 1)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
        c.synchronized(c.actions += 1)
    }

    val streamListener: StreamingQueryListener = new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
        val p = e.progress
        val d = p.durationMs.asScala
        def ms(k: String): Long = d.get(k).map(_.longValue).getOrElse(0L)
        stateRows.put(p.runId, p.stateOperators.map(_.numRowsTotal).sum)
        val k = c
        k.synchronized {
          k.batches += 1
          k.inputRows += p.numInputRows
          k.addBatchMs += ms("addBatch")
          k.commitMs += ms("walCommit") + ms("commitOffsets")
          k.stateCommitMs += p.stateOperators.map(_.commitTimeMs).sum
        }
      }
    }

    def register(): Unit = {
      spark.sparkContext.addSparkListener(sparkListener)
      spark.listenerManager.register(qeListener)
      StreamTap.target = streamListener
    }

    def unregister(): Unit = {
      drain()
      spark.sparkContext.removeSparkListener(sparkListener)
      spark.listenerManager.unregister(qeListener)
      StreamTap.target = null
    }

    /** Block until the shared async listener bus is empty (`listenerBus`
      * is private[spark] in source but public in bytecode).
      */
    def drain(): Unit = {
      val lb = spark.sparkContext.getClass.getMethod("listenerBus")
        .invoke(spark.sparkContext)
      lb.getClass.getMethods
        .find(m => m.getName == "waitUntilEmpty" && m.getParameterCount == 0)
        .get.invoke(lb)
    }

    private val open = mutable.Stack.empty[Span]

    def span[T](name: String, queryId: String)(body: => T): (T, Span) = {
      drain()
      val parent = if (open.isEmpty) -1 else open.top.id
      val s = Span(spans.size, name, parent, queryId, now())
      spans += s
      open.push(s)
      current = s.counters
      val r = try body finally {
        drain()
        s.endNs = now()
        open.pop()
        if (open.nonEmpty) {
          open.top.counters += s.counters
          current = open.top.counters
        } else current = new Counters
      }
      (r, s)
    }
  }

  /** Forwards stream progress to the tracer. Registered through
    * `spark.sql.streaming.streamingQueryListeners`, so streams started on
    * child sessions (`newSession()`) report too; `spark.streams` only
    * sees the caller's own session.
    */
  final class StreamTap extends StreamingQueryListener {
    private def t = StreamTap.target
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val l = t
      if (l != null) l.onQueryProgress(e)
    }
  }
  object StreamTap {
    @volatile var target: StreamingQueryListener = null
  }

  private object Plans extends AdaptiveSparkPlanHelper {
    def count(p: SparkPlan)(pf: PartialFunction[SparkPlan, Unit]): Int =
      collectWithSubqueries(p)(pf).size
  }

  // ------------------------------------------------------------------ passes

  /** One query execution. Times in seconds; `rows` is the count the
    * execution returned, -1 when it threw.
    */
  final case class Exec(pass: Int, query: String, constructS: Double,
      catalystS: Double, execS: Double, rows: Long, error: String,
      traced: Boolean, gcS: Double, constructJobs: Long, execJobs: Long)

  final case class Pass(index: Int, traced: Boolean, wallS: Double, cpuS: Double,
      liveHeapMb: Double, gcS: Double, tmpBytesLeft: Long, extCores: Double,
      layers: Map[String, Double])

  def main(argv: Array[String]): Unit = {
    val c = Conf(parseArgs(argv))
    val spark = session(c)
    val sessionMs = System.currentTimeMillis()
    spark.sparkContext.setLogLevel("ERROR")
    // Set-up ends when the session is up and the query registry resolved.
    val registry = graft.SparkEntry.queries
    val readyMs = System.currentTimeMillis()
    val missing = c.queries.filterNot(registry.contains)
    if (missing.nonEmpty) {
      System.err.println(
        s"[layerbench] queries missing from SparkEntry.queries: ${missing.mkString(",")}")
      spark.stop()
      sys.exit(3)
    }
    val tracer = new Tracer(spark)
    val execs = mutable.ArrayBuffer.empty[Exec]
    val passes = mutable.ArrayBuffer.empty[Pass]

    // Adjacent seeds give java.util.Random correlated first draws, so the
    // (seed, pass) pair is hashed first: otherwise every pass of a run got
    // the same order.
    def order(pass: Int): Seq[String] =
      new scala.util.Random(scala.util.hashing.MurmurHash3.productHash((c.seed, pass)))
        .shuffle(c.queries)

    /** Runs one query; returns (exec record, the DataFrame when it built). */
    def runQuery(pass: Int, q: String, traced: Boolean): (Exec, Option[DataFrame]) = {
      val qid = s"p$pass/$q"
      val gc0 = gcS()
      var df: DataFrame = null
      var tCons, tCat, tExec = 0.0
      var rows = -1L
      var consJobs, execJobs = -1L
      var err = ""
      try {
        if (traced) {
          tracer.span("query", qid) {
            val (d, s1) = tracer.span("construct", qid)(registry(q)(spark, c.data))
            df = d
            val (_, s2) = tracer.span("catalyst", qid)(df.queryExecution.executedPlan)
            val (n, s3) = tracer.span("exec", qid)(df.queryExecution.toRdd.count())
            rows = n
            tCons = secs(s1.endNs - s1.startNs)
            tCat = secs(s2.endNs - s2.startNs)
            tExec = secs(s3.endNs - s3.startNs)
            consJobs = s1.counters.jobs
            execJobs = s3.counters.jobs
          }
        } else {
          val t0 = now()
          df = registry(q)(spark, c.data)
          val t1 = now()
          rows = df.queryExecution.toRdd.count()
          val t2 = now()
          tCons = secs(t1 - t0)
          tExec = secs(t2 - t1)
        }
      } catch {
        case e: Throwable =>
          rows = -1L
          err = s"${e.getClass.getName}: ${e.getMessage}".take(500)
          System.err.println(s"[layerbench] $qid failed: $err")
      }
      (Exec(pass, q, tCons, tCat, tExec, rows, err, traced, gcS() - gc0, consJobs, execJobs),
        Option(df).filter(_ => err.isEmpty))
    }

    /** Per-pass layer totals from the pass's spans (traced passes only). */
    def layerTotals(from: Int, passExecs: Seq[Exec], tablesSpan: Option[Span],
        stateRowsPass: Long): Map[String, Double] = {
      val ss = tracer.spans.drop(from)
      def of(n: String) = ss.filter(_.name == n)
      def sum(n: String)(f: Counters => Long): Double =
        of(n).map(s => f(s.counters)).sum.toDouble
      def dur(n: String) = of(n).map(s => secs(s.endNs - s.startNs)).sum
      val all = new Counters
      ss.filter(_.parent == -1).foreach(s => all += s.counters) // queries + tables
      val consS = dur("construct")
      val execS = dur("exec")
      val wall = passExecs.map(e => e.constructS + e.catalystS + e.execS).sum
      Map(
        "tables.load_s" -> tablesSpan.map(s => secs(s.endNs - s.startNs)).getOrElse(0.0),
        "tables.load_jobs" -> tablesSpan.map(_.counters.jobs.toDouble).getOrElse(0.0),
        "construct.s" -> consS,
        "construct.jobs" -> sum("construct")(_.jobs),
        "construct.tasks" -> sum("construct")(_.tasks),
        "construct.actions" -> sum("construct")(_.actions),
        "construct.executor_run_s" -> sum("construct")(_.runMs) / 1e3,
        "construct.share" -> (if (wall > 0) consS / wall else 0.0),
        "catalyst.s" -> dur("catalyst"),
        "exec.s" -> execS,
        "exec.jobs" -> sum("exec")(_.jobs),
        "exec.stages" -> sum("exec")(_.stages),
        "exec.tasks" -> sum("exec")(_.tasks),
        "exec.executor_run_s" -> sum("exec")(_.runMs) / 1e3,
        "exec.executor_cpu_s" -> sum("exec")(_.cpuNs) / 1e9,
        "exec.input_bytes" -> sum("exec")(_.inputBytes),
        "exec.shuffle_write_bytes" -> sum("exec")(_.shufW),
        "exec.shuffle_read_bytes" -> sum("exec")(_.shufR),
        "exec.spill_bytes" -> sum("exec")(_.spill),
        "exec.core_util" ->
          (if (execS > 0) sum("exec")(_.runMs) / 1e3 / (execS * c.cores) else 0.0),
        "exec.task_wait_s" -> sum("exec")(_.taskWaitMs) / 1e3,
        "stream.batches" -> all.batches.toDouble,
        "stream.input_rows" -> all.inputRows.toDouble,
        "stream.add_batch_s" -> all.addBatchMs / 1e3,
        "stream.commit_s" -> all.commitMs / 1e3,
        "stream.state_rows" -> stateRowsPass.toDouble,
        "stream.state_commit_s" -> all.stateCommitMs / 1e3,
        "sink.bytes_written" -> all.outBytes.toDouble,
        "sink.records_written" -> all.outRecords.toDouble,
        "sink.bytes_per_record" ->
          (if (all.outRecords > 0) all.outBytes.toDouble / all.outRecords else 0.0)
      )
    }

    // Plan-shape counts and Catalyst phase times, per (pass, query).
    val planStats = mutable.ArrayBuffer.empty[(Int, String, Map[String, Double])]
    def planOf(pass: Int, q: String, df: DataFrame): Unit = {
      val qe = df.queryExecution
      val ph = qe.tracker.phases
      def phase(n: String) = ph.get(n).map(_.durationMs / 1e3).getOrElse(0.0)
      val plan = qe.executedPlan
      planStats += ((pass, q, Map(
        "catalyst.analysis_s" -> phase("analysis"),
        "catalyst.optimization_s" -> phase("optimization"),
        "catalyst.planning_s" -> phase("planning"),
        "catalyst.exchanges" -> Plans.count(plan) { case _: Exchange => () }.toDouble,
        "catalyst.scans" -> Plans.count(plan) { case _: FileSourceScanExec => () }.toDouble,
        "catalyst.broadcast_joins" -> Plans.count(plan) {
          case _: BroadcastHashJoinExec => (); case _: BroadcastNestedLoopJoinExec => ()
        }.toDouble)))
    }

    // The latest pass's frame of each query; dumped for the oracle check.
    val lastFrames = mutable.Map.empty[String, DataFrame]

    def runPass(p: Int, traced: Boolean): Unit = {
      if (traced) tracer.register()
      val spanFrom = tracer.spans.size
      val tmp0 = treeBytes(c.tmpDir)
      val stateBase = tracer.stateRows.keySet.asScala.toSet
      System.gc() // outside the timed window: no pass inherits another's garbage
      val liveHeap = heapUsedMb()
      val (busy0, self0) = cpuSnap()
      val cpu0 = processCpuS() - jitCpuS()
      val passExecs = mutable.ArrayBuffer.empty[Exec]
      val t0 = now()
      // The tables layer: the ten loaders, once per traced pass.
      val tablesSpan = if (!traced) None else Some(tracer.span("tables", s"p$p/tables") {
        Seq[(SparkSession, String) => DataFrame](graft.Tables.region, graft.Tables.nation,
          graft.Tables.customer, graft.Tables.supplier, graft.Tables.part,
          graft.Tables.orders, graft.Tables.lineitem, graft.Tables.events,
          graft.Tables.documents, graft.Tables.embeddings)
          .foreach(load => load(spark, c.data).schema)
      }._2)
      for (q <- order(p)) {
        val (e, df) = runQuery(p, q, traced)
        passExecs += e
        if (traced) df.foreach(planOf(p, q, _))
        df match {
          case Some(d) => lastFrames(q) = d
          case None => lastFrames -= q
        }
      }
      val wall = passExecs.map(e => e.constructS + e.catalystS + e.execS).sum
      val elapsed = secs(now() - t0)
      val cpu = processCpuS() - jitCpuS() - cpu0
      val (busy1, self1) = cpuSnap()
      val ext = if (busy0 < 0 || busy1 < 0) -1.0
        else math.max(0.0, ((busy1 - busy0) - (self1 - self0)) / 100.0 / elapsed)
      val layers = if (!traced) Map.empty[String, Double] else {
        tracer.unregister()
        val stateRowsPass = tracer.stateRows.asScala.collect {
          case (k, v) if !stateBase(k) => v.longValue
        }.sum
        layerTotals(spanFrom, passExecs.toSeq, tablesSpan, stateRowsPass)
      }
      execs ++= passExecs
      passes += Pass(p, traced, wall, cpu, liveHeap, passExecs.map(_.gcS).sum,
        treeBytes(c.tmpDir) - tmp0, ext, layers)
    }

    val runStart = now()
    runPass(0, traced = c.trace)
    // Untraced warm-up passes for the JIT tail of the cold pass; each pass
    // still ran faster than the one before a dozen passes in. Measured
    // passes follow until the measuring window is used up, and the metrics
    // are medians over the first `Measured` of them, so that every run is
    // measured at the same point of that tail: a slow box, which fits
    // fewer passes in the window, is not also measured at an earlier one.
    // A traced run alternates traced and untraced passes.
    for (w <- 1 to WarmUps) runPass(w, traced = false)
    val warmStart = now()
    var p = WarmUps + 1
    while (secs(now() - warmStart) < c.seconds || p <= WarmUps + Measured) {
      runPass(p, traced = c.trace && (p - WarmUps) % 2 == 1)
      p += 1
    }
    val measuredS = secs(now() - warmStart)
    // Outside the timed window: the last pass's outputs, for run.py to
    // compare with the oracle (re-executes each frame once more).
    for ((q, d) <- lastFrames) {
      try d.coalesce(1).write.mode("overwrite").parquet(s"${c.verifyDir}/$q")
      catch { case t: Throwable =>
        System.err.println(s"[layerbench] $q output dump failed: ${t.getMessage}")
      }
    }
    val probe = calibrationProbeS(spark)
    val rss = peakRssMb()
    val load = loadavg()
    if (c.trace) {
      // Spans stay in memory during the run and are written once here.
      val sj = tracer.spans.map(s =>
        s"""{"id":${s.id},"name":"${s.name}","parent":${s.parent},"query_id":"${s.queryId}",""" +
          s""""start_s":${secs(s.startNs - runStart)},"end_s":${secs(s.endNs - runStart)},""" +
          s""""jobs":${s.counters.jobs},"tasks":${s.counters.tasks}}""")
      Files.writeString(Paths.get(c.out + ".spans.json"), sj.mkString("[\n", ",\n", "\n]\n"))
    }
    spark.stop()

    def str(s: String): String = "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case ch if ch < ' ' => " "; case ch => ch.toString
    } + "\""
    def num(d: Double): String = if (d.isNaN || d.isInfinite) "null" else d.toString
    def obj(m: Map[String, Double]): String =
      m.toSeq.sortBy(_._1).map { case (k, v) => s"${str(k)}:${num(v)}" }.mkString("{", ",", "}")
    val ej = execs.map(e =>
      s"""{"pass":${e.pass},"query":${str(e.query)},"construct_s":${num(e.constructS)},""" +
        s""""catalyst_s":${num(e.catalystS)},"exec_s":${num(e.execS)},"rows":${e.rows},""" +
        s""""traced":${e.traced},"gc_s":${num(e.gcS)},"construct_jobs":${e.constructJobs},""" +
        s""""exec_jobs":${e.execJobs},"error":${str(e.error)}}""")
    val pj = passes.map(x =>
      s"""{"pass":${x.index},"traced":${x.traced},"wall_s":${num(x.wallS)},""" +
        s""""cpu_s":${num(x.cpuS)},"live_heap_mb":${num(x.liveHeapMb)},"gc_s":${num(x.gcS)},""" +
        s""""tmp_bytes_left":${x.tmpBytesLeft},"ext_cpu_cores":${num(x.extCores)},""" +
        s""""layers":${obj(x.layers)}}""")
    val plj = planStats.map { case (ps, q, m) =>
      s"""{"pass":$ps,"query":${str(q)},"stats":${obj(m)}}"""
    }
    val oracle = c.queries.flatMap(q =>
      graft.SparkEntry.oracleSql.get(q).map(s => s"${str(q)}:${str(s)}"))
    val json =
      s"""{"ready_ms":$readyMs,"session_ms":$sessionMs,"workload":${str(c.workload)},""" +
        s""""stat_passes":${(WarmUps + 1 to WarmUps + Measured).mkString("[", ",", "]")},""" +
        s""""seed":${c.seed},"cores":${c.cores},""" +
        s""""measured_s":${num(measuredS)},"peak_rss_mb":${num(rss)},""" +
        s""""loadavg_1m":${num(load)},"calibration_probe_s":${num(probe)},""" +
        s""""passes":${pj.mkString("[", ",", "]")},"execs":${ej.mkString("[", ",", "]")},""" +
        s""""plans":${plj.mkString("[", ",", "]")},"oracle_sql":${oracle.mkString("{", ",", "}")}}"""
    Files.writeString(Paths.get(c.out), json + "\n")
  }
}
