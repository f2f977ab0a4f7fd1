package graft.streaming

import graft.{Det, Scratch}
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.streaming.{DataStreamWriter, GroupState, GroupStateTimeout, OutputMode, StreamingQuery, Trigger}
import org.apache.spark.sql.types._

/** Structured Streaming surface (SURVEY.md §2.7 flags streaming as absent
  * in the reference; this is the engine's extension): readStream over the
  * events parquet, tumbling-window aggregation, and a stateful
  * flatMapGroupsWithState sessionizer whose closed sessions match the
  * batch gaps-and-islands form ([[graft.ext.EventOps.sessionize]]).
  *
  * Scale notes: the windowed aggregate is the standard streaming shuffle
  * (partial aggregation per micro-batch, state store per window+type key);
  * the sessionizer keeps ONE small state record per user — constant
  * memory per key, no event buffering (events fold into the open session
  * as they arrive; out-of-order arrivals inside a micro-batch are sorted
  * before folding).
  */
object StreamOps {

  /** Child session for a stream, with its `spark.sql.shuffle.partitions`
    * (the stream's state-store partitions) set once, at stream start:
    * AQE's coalescing does not run inside a stream.
    *  - A `perKey` stream (a session window, `flatMapGroupsWithState` or
    *    `transformWithState`) folds every row through per-key code, so its
    *    cost is CPU per row: it runs at the caller's
    *    `spark.sql.shuffle.partitions`, capped at the cores the JVM runs
    *    on, which spreads its keys over them. (Local mode can offer more
    *    task slots than cores, as `graft.Bench`'s `local[32]` does on a
    *    4-vCPU box; partitions past the cores add state stores, no
    *    parallelism.)
    *  - Every other stateful stream (aggregates, joins, dedup) runs one
    *    partition. Each stateful operator opens and commits one state
    *    store per partition per micro-batch, and at the repo's scales that
    *    machinery, not the data, is the cost: against the former pin of
    *    4 (4-vCPU box), a traced stream_sink run commits its state in
    *    0.0015 s instead of 0.0125 s, and `graft.Bench` drains
    *    st_tumbling_stream at sf0.1 in 0.14 s instead of 0.26 s. The
    *    per-key streams were slower at one partition (st_sessionize_state
    *    0.42 → 0.64 s), hence their rule above.
    *  - With AQE's partition coalescing off, every stream runs at the
    *    caller's count, as a batch shuffle would.
    * The caller's settings are read from `s` before
    * [[graft.Sessions.child]], since a `newSession()` inherits no runtime
    * conf; the child scopes the override (and the memory-sink
    * registration) away from the caller's session. [[graft.Sessions.child]]
    * turns artifact isolation off, so the stream's generated code is
    * compiled once per JVM, not per run.
    */
  private def tuned(s: SparkSession, perKey: Boolean = false): SparkSession = {
    val conf = s.sessionState.conf
    val caller = conf.getConf(SQLConf.SHUFFLE_PARTITIONS)
    val n =
      if (!(conf.adaptiveExecutionEnabled && conf.coalesceShufflePartitionsEnabled)) caller
      else if (perKey) math.min(caller, Runtime.getRuntime.availableProcessors)
      else 1
    val ss = graft.Sessions.child(s)
    ss.conf.set(SQLConf.SHUFFLE_PARTITIONS.key, n.toString)
    ss
  }

  /** Drains a bounded stream: AvailableNow runs the whole source as one
    * bounded run and stops the query itself — no idle micro-batch
    * polling after the data. Returns the stopped query, whose progress
    * history stays readable.
    */
  private def drain(w: DataStreamWriter[_]): StreamingQuery = {
    val q = w.trigger(Trigger.AvailableNow()).start()
    try q.awaitTermination() finally q.stop()
    q
  }

  /** How long a protocol-driven stream may take to flush its timer and
    * timeout emissions after the last feed (see [[pollUntil]]).
    */
  private val PollBudgetMs = 120000L

  /** Polls `q` until `done` holds. Timer and timeout flushes ride no-data
    * micro-batches that processAllAvailable does not always wait for, so
    * the protocol-driven streams re-poll until their sink accounts for
    * everything fed. Past `budgetMs` this throws, naming the sink and the
    * progress it reached — a partly flushed sink must never pass for a
    * complete one.
    */
  private[graft] def pollUntil(q: StreamingQuery, sink: String,
      budgetMs: Long = PollBudgetMs)(done: => Boolean): Unit = {
    val deadline = System.currentTimeMillis() + budgetMs
    while (!done) {
      if (System.currentTimeMillis() >= deadline) {
        val batch = Option(q.lastProgress).map(_.batchId).getOrElse(-1L)
        throw new IllegalStateException(s"stream sink $sink not flushed " +
          s"after $budgetMs ms: ${q.sparkSession.table(sink).count()} rows, " +
          s"last batch $batch")
      }
      q.processAllAvailable(); Thread.sleep(50L)
    }
  }

  /** A file-source feed for the protocol-driven streams, which ship their
    * input in waves while the query runs (see [[withFeed]]).
    */
  private final class Feed(tag: String) {
    val dir: java.nio.file.Path = Scratch.fresh(s"${tag}feed")

    /** Writes `df` as ONE parquet file into a private stage and moves it
      * into the feed as `name`, so the source never lists a half-written
      * file; the stage (with its _SUCCESS and .crc leftovers) is deleted
      * right after. Returns the shipped file.
      */
    def ship(df: DataFrame, name: String): java.nio.file.Path = {
      val stage = Scratch.fresh(s"${tag}stage")
      try {
        df.coalesce(1).write.mode("overwrite").parquet(stage.toString)
        val part = java.nio.file.Files.list(stage)
        val src = try part.filter(p => p.getFileName.toString.endsWith(".parquet"))
          .findFirst().get() finally part.close()
        java.nio.file.Files.move(src, dir.resolve(name))
      } finally org.apache.commons.io.FileUtils.deleteQuietly(stage.toFile)
    }
  }

  /** Runs `body` over a fresh [[Feed]] and deletes the feed tree after it
    * returns. `body` stops its query before returning, and the memory
    * sinks those queries drain into hold their rows in memory, so nothing
    * reads the directory afterwards.
    */
  private def withFeed[T](tag: String)(body: Feed => T): T = {
    val feed = new Feed(tag)
    try body(feed)
    finally org.apache.commons.io.FileUtils.deleteQuietly(feed.dir.toFile)
  }

  /** Streaming scan of the events table (file source), `ts` normalized to
    * a session-zoned TIMESTAMP exactly like the batch loader: the stream
    * reads with the batch loader's schema ([[graft.Tables.schemaOf]], `ts`
    * typed from the footer, never assumed — a schema that disagrees with
    * the footer silently reinterprets the stored unit, the r9 failure
    * mode), then [[graft.Tables.normalizeEventTs]] applies the identical
    * ns→µs truncation / NTZ cast. Batch and stream therefore always agree
    * on the time unit, whichever generation of testdata is on disk.
    */
  def eventsStream(s: SparkSession, d: String): DataFrame =
    // the file streaming source needs a directory/glob, not a bare file
    graft.Tables.normalizeEventTs(
      s.readStream.schema(graft.Tables.schemaOf(s, d, "events"))
        .option("basePath", d)
        .parquet(s"$d/{events}.parquet"))

  /** Tumbling 1-hour streaming aggregation, complete mode into a memory
    * sink, drained synchronously. Returns the final static result — which
    * must (and does) equal the batch ev_tumbling query, so this streaming
    * query is DuckDB-oracle-verified like any batch operator.
    */
  def tumblingStream(s: SparkSession, d: String): DataFrame = {
    val ss = tuned(s)
    drain(eventsStream(ss, d)
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n_events"), Det.dsum(col("value")).as("sum_value"))
      .select(col("window.start").as("hour_start"), col("event_type"),
        col("n_events"), col("sum_value"))
      .writeStream.outputMode(OutputMode.Complete())
      .format("memory").queryName("graft_stream_tumbling"))
    ss.table("graft_stream_tumbling")
      .orderBy(col("hour_start"), col("event_type"))
  }

  /** WATERMARK LATE-DATA DROP, made deterministic and oracle-verifiable —
    * the semantics everyone claims and nobody verifies: an append-mode
    * windowed aggregation fed two micro-batches (maxFilesPerTrigger=1,
    * file order pinned by mtime), where batch 2 carries LATE events.
    * Spark's contract: the watermark advances to `max(ts seen) − delay`
    * between batches, late rows whose hour-window closed below the
    * watermark are DROPPED from state, and a window emits once the
    * watermark passes its end (the no-data final micro-batch flushes the
    * tail). The fixture is engineered so no event sits on a boundary:
    * fed late rows either land strictly above watermark₁ (merged) or
    * their window closes strictly below it (dropped) — rows whose window
    * straddles the watermark are withheld at feed time, so `<` vs `≤`
    * ambiguity cannot reach the verified surface. The DuckDB oracle
    * replays the whole protocol relationally: watermark₁ from the
    * on-time slice, the feed rule, watermark_final from everything fed
    * (dropped rows still advance the watermark — they are filtered at
    * the AGGREGATION, not at the source), and the emission cut.
    *
    * At scale this is the semantics that bounds state: without the drop,
    * a day of stragglers holds every window open forever.
    */
  def lateDropStream(s: SparkSession, d: String): DataFrame = {
    val ss = tuned(s)
    val ev = graft.Tables.events(ss, d)
      .select(col("event_id"), col("ts"), col("value"))
    val onTime = ev.filter(col("event_id") % 97 =!= 0)
    // watermark after batch 1, in epoch micros — ONE bounded scalar (the
    // protocol instant), not data, so the driver-side collect is sound
    val wm1 = onTime.agg(max(unix_micros(col("ts")))).collect()(0).getLong(0) -
      61L * 60 * 1000000L
    val hourUs = 3600L * 1000000L
    val late = ev.filter(col("event_id") % 97 === 0)
      .filter(unix_micros(col("ts")) > wm1 ||
        expr(s"((unix_micros(ts) div $hourUs) + 1) * $hourUs") < wm1)
    // the protocol pins file order by mtime
    def shipAt(feed: Feed, df: DataFrame, name: String, mtimeMs: Long): Unit =
      java.nio.file.Files.setLastModifiedTime(feed.ship(df, name),
        java.nio.file.attribute.FileTime.fromMillis(mtimeMs))
    val t0 = System.currentTimeMillis() - 600000L
    withFeed("late") { feed =>
      shipAt(feed, onTime, "00_ontime.parquet", t0)
      // the late file ships only AFTER the on-time batch commits: under
      // Trigger.AvailableNow every queued file batch runs back-to-back and
      // the interleaved no-data micro-batches that ADVANCE the watermark
      // never fire (measured: watermark displayed but 0 rows dropped), so
      // the protocol needs real arrival separation + the default trigger
      val q = ss.readStream.schema(StructType(Seq(
          StructField("event_id", LongType), StructField("ts", TimestampType),
          StructField("value", DoubleType))))
        .parquet(feed.dir.toString)
        .withWatermark("ts", "61 minutes")
        .groupBy(window(col("ts"), "1 hour"))
        .agg(count(lit(1)).as("n_events"), Det.dsum(col("value")).as("sum_value"))
        .select(col("window.start").as("hour_start"), col("n_events"),
          col("sum_value"))
        .writeStream.outputMode(OutputMode.Append())
        .format("memory").queryName("graft_stream_latedrop").start()
      try {
        q.processAllAvailable() // drain batch 0 + the wm-advancing no-data batch
        shipAt(feed, late, "01_late.parquet", t0 + 120000L)
        q.processAllAvailable() // late batch under watermark₁, then finalize
      } finally q.stop()
    }
    ss.table("graft_stream_latedrop").orderBy(col("hour_start"))
  }

  /** UPDATE output mode, pinned and verified — the missing third leg of
    * the output-mode matrix (complete/append are covered across the
    * suite): a windowed count fed two deterministic micro-batches (even
    * event_ids, then odd) with NO watermark, so every state row lives
    * forever and each batch re-emits exactly the windows it CHANGED.
    * The memory sink therefore accumulates one update row per
    * (window, batch-that-touched-it) — both the final per-window value
    * AND the update cardinality are functions of the even/odd split
    * alone, so the DuckDB oracle replays them relationally: n_updates =
    * (has even rows) + (has odd rows), n_events = final count, and the
    * emission history must satisfy update-monotonicity (each re-emission
    * strictly grows the count — pinned in StreamingSpec).
    */
  def updateModeStream(s: SparkSession, d: String): DataFrame = {
    val ss = tuned(s)
    val ev = graft.Tables.events(ss, d)
      .select(col("event_id"), col("ts"), col("value"))
    withFeed("upd") { feed =>
      feed.ship(ev.filter(col("event_id") % 2 === 0), "00_even.parquet")
      val q = ss.readStream.schema(StructType(Seq(
          StructField("event_id", LongType), StructField("ts", TimestampType),
          StructField("value", DoubleType))))
        .parquet(feed.dir.toString)
        .groupBy(window(col("ts"), "1 hour"))
        .agg(count(lit(1)).as("n_events"))
        .select(col("window.start").as("hour_start"), col("n_events"))
        .writeStream.outputMode(OutputMode.Update())
        .format("memory").queryName("graft_stream_update").start()
      try {
        q.processAllAvailable()
        feed.ship(ev.filter(col("event_id") % 2 === 1), "01_odd.parquet")
        q.processAllAvailable()
      } finally q.stop()
    }
    // compact the update history: the final value per window is the last
    // (= largest, counts grow monotonically) update; the update count is
    // part of the verified surface — update mode's defining observable
    ss.table("graft_stream_update")
      .groupBy(col("hour_start"))
      .agg(count(lit(1)).as("n_updates"), max(col("n_events")).as("n_events"))
      .orderBy(col("hour_start"))
  }

  /** The [[updateModeStream]] oracle: replay the even/odd batch split. */
  val updateModeOracle: String =
    """SELECT date_trunc('hour', ts) AS hour_start,
      |       CAST(COUNT(DISTINCT event_id % 2) AS BIGINT) AS n_updates,
      |       CAST(COUNT(*) AS BIGINT) AS n_events
      |FROM events GROUP BY 1 ORDER BY hour_start""".stripMargin

  /** The [[lateDropStream]] oracle: the full watermark protocol in SQL. */
  val lateDropOracle: String =
    """WITH ontime AS (
      |  SELECT event_id, ts, value FROM events WHERE event_id % 97 <> 0),
      |w1 AS (SELECT max(ts) - INTERVAL 61 MINUTE AS w FROM ontime),
      |fedlate AS (
      |  SELECT e.event_id, e.ts, e.value FROM events e, w1
      |  WHERE e.event_id % 97 = 0
      |    AND (e.ts > w1.w
      |         OR date_trunc('hour', e.ts) + INTERVAL 1 HOUR < w1.w)),
      |kept AS (
      |  SELECT * FROM ontime
      |  UNION ALL SELECT f.* FROM fedlate f, w1 WHERE f.ts > w1.w),
      |fed AS (SELECT * FROM ontime UNION ALL SELECT * FROM fedlate),
      |wf AS (SELECT max(ts) - INTERVAL 61 MINUTE AS w FROM fed),
      |agg AS (
      |  SELECT date_trunc('hour', ts) AS hour_start,
      |         CAST(COUNT(*) AS BIGINT) AS n_events,
      |         CAST(SUM(CAST(value AS DECIMAL(30,4))) AS DOUBLE) AS sum_value
      |  FROM kept GROUP BY 1)
      |SELECT hour_start, n_events, sum_value FROM agg, wf
      |WHERE hour_start + INTERVAL 1 HOUR <= wf.w
      |ORDER BY hour_start""".stripMargin

  /** Streaming TEMPORAL-TABLE (as-of) join — Flink's
    * `FOR SYSTEM_TIME AS OF` pattern against a static versioned side:
    * the purchase STREAM enriches each event with the most recent click
    * ≤ its timestamp from the static click table. The static side
    * compacts to ONE row per user (its sorted click-time array) so the
    * enrichment is a broadcastable equi-join + an order-preserving
    * array fold — `filter(...)[last]` — per streamed row; no window
    * over the stream, no stream-stream state. Semantically identical to
    * [[graft.plans.AsOfJoin]]'s batch merge and verified against the
    * SAME independent DuckDB native `ASOF LEFT JOIN` oracle — the third
    * execution mode (batch window / batch native merge / streaming
    * temporal lookup) of one as-of algebra.
    *
    * At 100 TB: the temporal table is user-grain (bounded by entity
    * count, not event count); a real deployment swaps the static frame
    * for a foreachBatch-refreshed snapshot — the lookup shape is
    * unchanged.
    */
  def temporalJoinStream(s: SparkSession, d: String): DataFrame = {
    val ss = tuned(s)
    val clickIdx = graft.Tables.events(ss, d)
      .filter(col("event_type") === "click")
      .groupBy(col("user_id"))
      .agg(sort_array(collect_list(unix_micros(col("ts")))).as("click_us"))
    drain(eventsStream(ss, d)
      .filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id"),
        col("ts").as("purchase_ts"), unix_micros(col("ts")).as("p_us"))
      .join(clickIdx, Seq("user_id"), "left")
      .select(col("user_id"), col("event_id"), col("purchase_ts"),
        expr("timestamp_micros(try_element_at(filter(click_us, t -> t <= p_us), -1))")
          .as("last_click_ts"))
      .writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("graft_stream_temporal"))
    ss.table("graft_stream_temporal")
      .orderBy(col("event_id"))
  }

  /** One interleaved click/purchase arrival for the stream-stream as-of
    * join: both sides of the join travel as ONE keyed stream (the union
    * encoding every stream-stream join reduces to once the key is
    * shared), tagged with the side.
    */
  case class AsofRow(user_id: Long, event_id: Long, ts: java.sql.Timestamp,
      is_click: Boolean)
  case class AsofOut(user_id: Long, event_id: Long,
      purchase_ts: java.sql.Timestamp, last_click_ts: java.sql.Timestamp)
  /** Per-user as-of join state: the sorted click-time buffer (evicted at
    * the as-of horizon, see [[asofFold]]) and the purchases still waiting
    * for their watermark (id + micros, parallel arrays — fixed-width
    * state encoders, no nested rows).
    */
  case class AsofState(clicks: Array[Long], pendId: Array[Long],
      pendUs: Array[Long])

  private def usOfTs(t: java.sql.Timestamp): Long =
    t.getTime / 1000 * 1000000 + t.getNanos / 1000

  /** The per-key fold of the stream-stream as-of join, factored out so
    * the spec can drive it directly. Given the buffered state, this
    * batch's arrivals and the current watermark (µs):
    *
    *  1. INGEST — new clicks merge into the sorted buffer; new purchases
    *     join the pending set.
    *  2. EMIT — a pending purchase is FINAL once `p_ts ≤ watermark`: the
    *     watermark contract says no click with `c_ts ≤ p_ts` can still
    *     arrive, so its backward match (greatest buffered click ≤ p_ts,
    *     inclusive — the [[graft.plans.AsOfJoin]] contract) is decided.
    *  3. EVICT at the as-of horizon — let `h` = the greatest click ≤
    *     watermark. Every pending or future purchase has `p_ts ≥
    *     watermark ≥ h`, so clicks strictly below `h` are DOMINATED by
    *     `h` and can never be any answer again: drop them. This is what
    *     bounds state — per user the buffer holds the horizon click plus
    *     only clicks inside the watermark delay, regardless of stream
    *     length.
    *
    * Returns (emissions, retained state or None, evicted-click count).
    */
  def asofFold(arrivals: Seq[AsofRow], prev: Option[AsofState],
      wmUs: Long): (Seq[AsofOut], Option[AsofState], Long) =
    asofFoldTol(arrivals, prev, wmUs, -1L)

  /** [[asofFold]] with the TOLERANCE knob (pandas merge_asof /
    * [[graft.plans.AsOfJoin.asofTolerance]]'s conversion-window
    * semantics): a matched click older than `tolUs` microseconds is
    * rejected and the purchase emits null. Because the fold keeps only
    * the LATEST admissible candidate anyway, bounding is a pure
    * post-filter on the emitted match — the same equivalence the batch
    * operator's oracle certifies — so eviction is UNCHANGED (the
    * horizon argument never depended on the tolerance).
    */
  def asofFoldTol(arrivals: Seq[AsofRow], prev: Option[AsofState],
      wmUs: Long, tolUs: Long): (Seq[AsofOut], Option[AsofState], Long) = {
    val st = prev.getOrElse(AsofState(Array.empty, Array.empty, Array.empty))
    val clicks =
      (st.clicks ++ arrivals.filter(_.is_click).map(r => usOfTs(r.ts))).sorted
    val pend = (st.pendId.zip(st.pendUs) ++
      arrivals.filterNot(_.is_click).map(r => (r.event_id, usOfTs(r.ts))))
      .sortBy { case (id, us) => (us, id) }
    val (ripe, wait) = pend.partition { case (_, us) => us <= wmUs }
    val userId = arrivals.headOption.map(_.user_id)
    val out = ripe.map { case (id, us) =>
      // greatest click <= us: index of the first click > us, minus one
      val i = clicks.indexWhere(_ > us) match {
        case -1 => clicks.length - 1
        case j => j - 1
      }
      val admissible = i >= 0 && (tolUs < 0L || clicks(i) >= us - tolUs)
      AsofOut(userId.getOrElse(0L), id, tsOf(us),
        if (admissible) tsOf(clicks(i)) else null)
    }
    // as-of horizon: keep the greatest click <= wm and everything above
    val hIdx = clicks.lastIndexWhere(_ <= wmUs)
    val evict = math.max(hIdx, 0)
    val keep = clicks.drop(evict)
    val next =
      if (wait.isEmpty && keep.isEmpty) None
      else Some(AsofState(keep, wait.map(_._1).toArray, wait.map(_._2).toArray))
    (out, next, evict.toLong)
  }

  /** STREAM-STREAM AS-OF JOIN — both sides streaming, state evicted at
    * the as-of horizon: the production shape [[temporalJoinStream]]'s
    * static temporal table approximates. Clicks and purchases arrive as
    * one keyed stream in three watermark-separated waves (the
    * [[lateDropStream]] feed protocol: default trigger +
    * processAllAvailable between file ships, because AvailableNow never
    * runs the watermark-advancing no-data batches); a
    * flatMapGroupsWithState with EVENT-TIME TIMEOUT runs [[asofFold]]
    * per user: purchases finalize when the watermark passes them (set as
    * the state's timeout, so the key flushes on watermark advance even
    * with no new arrivals), clicks evict once dominated at the horizon.
    * A terminal sentinel row (user −1, max ts + 2 h) drives the final
    * watermark past every purchase, so the drained sink holds EVERY
    * purchase exactly once — verified against the very same DuckDB
    * native `ASOF LEFT JOIN` oracle as the batch operator and its window
    * twin: the fourth execution mode of one as-of algebra.
    *
    * At 100 TB: state per user = pending purchases inside the watermark
    * delay + the horizon click + clicks inside the delay — bounded by
    * arrival rate × delay, never by history length. That eviction is the
    * whole point of the watermark contract for stream-stream joins, and
    * StreamingSpec pins it (evicted + retained = fed, eviction strictly
    * positive, fold ≡ batch native operator row-for-row).
    */
  def asofStreamTelemetry(s: SparkSession, d: String)
      : (DataFrame, org.apache.spark.util.LongAccumulator) =
    asofStreamTol(s, d, -1L, "graft_stream_asof")

  def asofStreamTol(s: SparkSession, d: String, tolUs: Long, sink: String)
      : (DataFrame, org.apache.spark.util.LongAccumulator) = {
    val ss = tuned(s, perKey = true)
    import ss.implicits._
    val evicted = ss.sparkContext.longAccumulator("graft_asof_evicted")
    val ev = graft.Tables.events(ss, d)
      .filter(col("event_type").isin("click", "purchase"))
      .select(col("user_id"), col("event_id"), col("ts"),
        (col("event_type") === "click").as("is_click"))
    // two arrival waves split mid-range + the final sentinel; ONE bounded
    // min/max scalar (protocol instants, not data) justifies the collect
    val Array(r) = ev.agg(min(unix_micros(col("ts"))),
      max(unix_micros(col("ts")))).collect()
    val (loUs, hiUs) = (r.getLong(0), r.getLong(1))
    val splitUs = loUs + (hiUs - loUs) / 2
    val nPurchases = ev.filter(!col("is_click")).count()
    withFeed("asof") { feed =>
      feed.ship(ev.filter(unix_micros(col("ts")) <= splitUs), "00_wave1.parquet")
      val plan = ss.readStream.schema(StructType(Seq(
          StructField("user_id", LongType), StructField("event_id", LongType),
          StructField("ts", TimestampType), StructField("is_click", BooleanType))))
        .parquet(feed.dir.toString)
        .withWatermark("ts", "0 seconds")
        .as[AsofRow]
        .groupByKey(_.user_id)
        .flatMapGroupsWithState[AsofState, AsofOut](
          OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
          (userId: Long, rows: Iterator[AsofRow], state: GroupState[AsofState]) =>
            if (userId == -1L) Iterator.empty // the watermark sentinel
            else {
              val wmUs = state.getCurrentWatermarkMs() * 1000L
              val arrivals = rows.toSeq
              val (out, next, nEvicted) =
                asofFoldTol(arrivals, state.getOption, wmUs, tolUs)
              evicted.add(nEvicted)
              next match {
                case Some(st) =>
                  state.update(st)
                  if (st.pendUs.nonEmpty)
                    // strictly above the watermark by construction (pending
                    // purchases all have us > wmUs), so the set is legal and
                    // the key re-fires on the next watermark advance
                    state.setTimeoutTimestamp(st.pendUs.min / 1000L + 1L)
                case None => if (state.exists) state.remove()
              }
              out.iterator.map(o => o.copy(user_id = userId))
            }
        }
      val q = plan.writeStream.outputMode(OutputMode.Append())
        .format("memory").queryName(sink).start()
      try {
        q.processAllAvailable() // wave 1 + its watermark no-data batch
        feed.ship(ev.filter(unix_micros(col("ts")) > splitUs), "01_wave2.parquet")
        q.processAllAvailable()
        feed.ship(Seq((-1L, -1L, tsOf(hiUs + 7200L * 1000000L), false))
          .toDF("user_id", "event_id", "ts", "is_click"), "02_sentinel.parquet")
        q.processAllAvailable() // sentinel + the final timeout flush batch
        pollUntil(q, sink)(ss.table(sink).count() >= nPurchases)
      } finally q.stop()
    }
    (ss.table(sink)
      .select(col("user_id"), col("event_id"), col("purchase_ts"),
        col("last_click_ts"))
      .orderBy(col("event_id")), evicted)
  }

  def asofStream(s: SparkSession, d: String): DataFrame =
    asofStreamTelemetry(s, d)._1

  /** A pending purchase buffered in [[AsofTwsProcessor]]'s ListState —
    * one typed element per purchase instead of [[AsofState]]'s parallel
    * arrays, so append is O(1) per arrival (no whole-value rewrite).
    */
  case class PendPur(id: Long, us: Long)

  /** [[asofStreamTol]]'s per-key fold under the `transformWithState`
    * API, exercising LIST state (both r16 ports were ValueState-only):
    * the click buffer and the pending-purchase buffer each live in a
    * `ListState` — new arrivals APPEND (O(1) per element in RocksDB's
    * merge-op encoding, vs rewriting a whole serialized array value on
    * every batch), and eviction rewrites only at horizon advances. Same
    * algebra as [[asofFoldTol]] (tolerance -1 = unbounded), same
    * event-time timer discipline as [[PolitenessProcessor]]: one live
    * timer per key at the earliest pending purchase + 1 ms, so ripe
    * purchases flush on watermark advance even with no new arrivals.
    */
  private class AsofTwsProcessor(
      evicted: org.apache.spark.util.LongAccumulator)
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        Long, AsofRow, AsofOut] {
    import org.apache.spark.sql.Encoders
    import org.apache.spark.sql.streaming.{ExpiredTimerInfo, ListState, TTLConfig, TimeMode, TimerValues, ValueState}
    @transient private var clicks: ListState[Long] = _
    @transient private var pending: ListState[PendPur] = _
    @transient private var timerAt: ValueState[Long] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      clicks = getHandle.getListState[Long]("clicks",
        Encoders.scalaLong, TTLConfig.NONE)
      pending = getHandle.getListState[PendPur]("pending",
        Encoders.product[PendPur], TTLConfig.NONE)
      timerAt = getHandle.getValueState[Long]("timerAt",
        Encoders.scalaLong, TTLConfig.NONE)
    }
    private def step(userId: Long, arrivals: Seq[AsofRow],
        wmUs: Long): Iterator[AsofOut] = {
      // the batch's clicks APPEND to list state; the sorted view is
      // materialized only here, at fold time
      arrivals.filter(_.is_click)
        .foreach(r => clicks.appendValue(usOfTs(r.ts)))
      val clicksNow = clicks.get().toSeq.sorted
      val pendAll = (pending.get().toSeq.map(p => (p.id, p.us)) ++
        arrivals.filterNot(_.is_click)
          .map(r => (r.event_id, usOfTs(r.ts))))
        .sortBy { case (id, us) => (us, id) }
      val (ripe, wait) = pendAll.partition { case (_, us) => us <= wmUs }
      val out = ripe.map { case (id, us) =>
        val i = clicksNow.indexWhere(_ > us) match {
          case -1 => clicksNow.length - 1
          case j => j - 1
        }
        AsofOut(userId, id, tsOf(us),
          if (i >= 0) tsOf(clicksNow(i)) else null)
      }
      // as-of horizon: keep the greatest click <= wm and everything above
      val hIdx = clicksNow.lastIndexWhere(_ <= wmUs)
      val evictN = math.max(hIdx, 0)
      evicted.add(evictN.toLong)
      val keep = clicksNow.drop(evictN)
      if (timerAt.exists) { getHandle.deleteTimer(timerAt.get); timerAt.clear() }
      if (wait.isEmpty && keep.isEmpty) {
        clicks.clear(); pending.clear()
      } else {
        // the click list is rewritten ONLY when the horizon moved (or to
        // restore sort order after appends); the pending list only when
        // membership changed — both bounded by the watermark-delay window
        clicks.clear()
        if (keep.nonEmpty) clicks.put(keep.toArray)
        pending.clear()
        if (wait.nonEmpty)
          pending.put(wait.map { case (id, us) => PendPur(id, us) }.toArray)
        if (wait.nonEmpty) {
          // strictly above the watermark by construction, so the set is
          // legal and the key re-fires on the next watermark advance
          val target = wait.map(_._2).min / 1000L + 1L
          getHandle.registerTimer(target)
          timerAt.update(target)
        }
      }
      out.iterator
    }
    override def handleInputRows(userId: Long, rows: Iterator[AsofRow],
        tv: TimerValues): Iterator[AsofOut] =
      if (userId == -1L) { rows.foreach(_ => ()); Iterator.empty }
      else step(userId, rows.toSeq, tv.getCurrentWatermarkInMs() * 1000L)
    override def handleExpiredTimer(userId: Long, tv: TimerValues,
        info: ExpiredTimerInfo): Iterator[AsofOut] = {
      timerAt.clear() // the firing timer consumed itself
      step(userId, Seq.empty, tv.getCurrentWatermarkInMs() * 1000L)
    }
  }

  /** Third `transformWithState` port — [[asofStream]] under the new
    * API with LIST state (see [[AsofTwsProcessor]]): identical feed
    * protocol, identical output, verified against the SAME DuckDB
    * native ASOF oracle as the other three execution modes of the
    * as-of algebra.
    */
  def asofTwsTelemetry(s: SparkSession, d: String)
      : (DataFrame, org.apache.spark.util.LongAccumulator) = {
    val ss = tuned(s, perKey = true)
    withRocksDb(ss)(asofTwsRun(ss, d))
  }

  /** [[asofTwsTelemetry]]'s body, run with RocksDB in force. */
  private def asofTwsRun(ss: SparkSession, d: String)
      : (DataFrame, org.apache.spark.util.LongAccumulator) = {
    import ss.implicits._
    val evicted = ss.sparkContext.longAccumulator("graft_asof_tws_evicted")
    val ev = graft.Tables.events(ss, d)
      .filter(col("event_type").isin("click", "purchase"))
      .select(col("user_id"), col("event_id"), col("ts"),
        (col("event_type") === "click").as("is_click"))
    val Array(r) = ev.agg(min(unix_micros(col("ts"))),
      max(unix_micros(col("ts")))).collect()
    val (loUs, hiUs) = (r.getLong(0), r.getLong(1))
    val splitUs = loUs + (hiUs - loUs) / 2
    val nPurchases = ev.filter(!col("is_click")).count()
    val sink = "graft_stream_asof_tws"
    withFeed("asoftws") { feed =>
      feed.ship(ev.filter(unix_micros(col("ts")) <= splitUs), "00_wave1.parquet")
      val plan = ss.readStream.schema(StructType(Seq(
          StructField("user_id", LongType), StructField("event_id", LongType),
          StructField("ts", TimestampType), StructField("is_click", BooleanType))))
        .parquet(feed.dir.toString)
        .withWatermark("ts", "0 seconds")
        .as[AsofRow]
        .groupByKey(_.user_id)
        .transformWithState(new AsofTwsProcessor(evicted),
          org.apache.spark.sql.streaming.TimeMode.EventTime(),
          OutputMode.Append())
      val q = plan.writeStream.outputMode(OutputMode.Append())
        .format("memory").queryName(sink).start()
      try {
        q.processAllAvailable() // wave 1 + its watermark no-data batch
        feed.ship(ev.filter(unix_micros(col("ts")) > splitUs), "01_wave2.parquet")
        q.processAllAvailable()
        feed.ship(Seq((-1L, -1L, tsOf(hiUs + 7200L * 1000000L), false))
          .toDF("user_id", "event_id", "ts", "is_click"), "02_sentinel.parquet")
        q.processAllAvailable() // sentinel + the final timer flush batch
        pollUntil(q, sink)(ss.table(sink).count() >= nPurchases)
      } finally q.stop()
    }
    (ss.table(sink)
      .select(col("user_id"), col("event_id"), col("purchase_ts"),
        col("last_click_ts"))
      .orderBy(col("event_id")), evicted)
  }

  def asofTws(s: SparkSession, d: String): DataFrame =
    asofTwsTelemetry(s, d)._1

  case class PolRow(reg_domain: String, host: String, t: Long,
      ts: java.sql.Timestamp)
  case class PolState(credits: Long, last: Long, viol: Long, served: Long,
      hosts: Array[String], tFirst: Long, tLast: Long,
      pendT: Array[Long], pendHost: Array[String])
  case class PolOut(reg_domain: String, delay_ms: Long, n_hosts: Long,
      n_requests: Long, n_served: Long, n_violations: Long, span_ms: Long)

  /** 31st real streaming query — CRAWL POLITENESS ONLINE: the exact
    * token-bucket fold of [[graft.ext.Dedup.crawlPoliteness]] run as a
    * live per-domain scheduler audit. Requests arrive out of order
    * within the watermark; each registered domain BUFFERS pending
    * requests in state and replays them through the bucket in event-time
    * order only once the watermark passes them (EventTimeTimeout set to
    * the earliest pending request, so keys flush on watermark advance
    * with no new arrivals — the [[asofStream]] protocol). Every flush
    * that consumes requests emits a monotone snapshot row; the drained
    * sink's final snapshot per domain is verified against the SAME
    * recursive-CTE oracle as the batch operator — the second execution
    * mode of one politeness algebra, and the operational one: a real
    * crawler needs this number while the crawl runs, not after.
    *
    * At 100 TB (of crawl log): state per domain = bucket scalars + the
    * ≤3-host set + requests inside the watermark delay — bounded by
    * arrival rate × delay, never history. Domains are the natural key
    * partitioning; the hot-domain skew axis is the same one the batch
    * note documents.
    */
  def politenessStream(s: SparkSession, d: String): DataFrame = {
    val ss = tuned(s, perKey = true)
    import ss.implicits._
    val ev = graft.Tables.events(ss, d)
      .select(expr(
        """concat(CASE CAST(user_id % 3 AS INT)
          |          WHEN 0 THEN 'www' WHEN 1 THEN 'img' ELSE 'api' END,
          |        '.domain', CAST(user_id % 8 AS STRING), '.com')""".stripMargin)
        .as("host"), expr("unix_millis(ts)").as("t"), col("ts"))
      .withColumn("reg_domain", expr("substr(host, instr(host, '.') + 1)"))
      .select(col("reg_domain"), col("host"), col("t"), col("ts"))
    val Array(r) = ev.agg(min(col("t")), max(col("t"))).collect()
    val (loMs, hiMs) = (r.getLong(0), r.getLong(1))
    val splitMs = loMs + (hiMs - loMs) / 2
    val expected = ev.count()
    val sink = "graft_stream_politeness"
    withFeed("pol") { feed =>
      feed.ship(ev.filter(col("t") <= splitMs), "00_wave1.parquet")
      val plan = ss.readStream.schema(StructType(Seq(
          StructField("reg_domain", StringType), StructField("host", StringType),
          StructField("t", LongType), StructField("ts", TimestampType))))
        .parquet(feed.dir.toString)
        .withWatermark("ts", "0 seconds")
        .as[PolRow]
        .groupByKey(_.reg_domain)
        .flatMapGroupsWithState[PolState, PolOut](
          OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
          (dom: String, rows: Iterator[PolRow], state: GroupState[PolState]) =>
            if (dom == "~sentinel") Iterator.empty
            else {
              val delay = 600000L * (1L + dom.filter(_.isDigit).toLong % 5L)
              val cap = 3L * delay
              val wmMs = state.getCurrentWatermarkMs()
              val st0 = state.getOption.getOrElse(
                PolState(-1L, -1L, 0L, 0L, Array.empty, -1L, -1L,
                  Array.empty, Array.empty))
              val all = (st0.pendT.zip(st0.pendHost) ++
                rows.map(p => (p.t, p.host))).sortBy(_._1)
              val (ripe, wait) = all.partition(_._1 <= wmMs)
              var (credits, last) =
                if (st0.last < 0L && ripe.nonEmpty) (cap, ripe.head._1)
                else (st0.credits, st0.last)
              var viol = st0.viol; var served = st0.served
              var hosts = st0.hosts.toSet
              var tFirst = st0.tFirst; var tLast = st0.tLast
              ripe.foreach { case (t, h) =>
                val refill = math.min(cap, credits + (t - last))
                if (refill >= delay) { credits = refill - delay; served += 1 }
                else { credits = refill; viol += 1 }
                last = t
                hosts = hosts + h
                if (tFirst < 0L) tFirst = t
                tLast = t
              }
              val next = PolState(credits, last, viol, served,
                hosts.toArray.sorted, tFirst, tLast,
                wait.map(_._1), wait.map(_._2))
              state.update(next)
              if (wait.nonEmpty)
                state.setTimeoutTimestamp(wait.map(_._1).min + 1L)
              if (ripe.nonEmpty)
                Iterator.single(PolOut(dom, delay, hosts.size.toLong,
                  served + viol, served, viol, tLast - tFirst))
              else Iterator.empty
            }
        }
      val q = plan.writeStream.outputMode(OutputMode.Append())
        .format("memory").queryName(sink).start()
      try {
        q.processAllAvailable()
        feed.ship(ev.filter(col("t") > splitMs), "01_wave2.parquet")
        q.processAllAvailable()
        feed.ship(Seq(("~sentinel", "~sentinel", hiMs + 7200000L,
          new java.sql.Timestamp(hiMs + 7200000L)))
          .toDF("reg_domain", "host", "t", "ts"), "02_sentinel.parquet")
        q.processAllAvailable()
        // done once the per-domain final snapshots account for every
        // shipped request
        pollUntil(q, sink)(ss.table(sink)
          .groupBy(col("reg_domain")).agg(max(col("n_requests")).as("n"))
          .agg(coalesce(sum(col("n")), lit(0L))).collect()(0).getLong(0) >= expected)
      } finally q.stop()
    }
    // final snapshot per domain = the monotone max-n_requests row
    ss.table(sink)
      .withColumn("rk", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("reg_domain"))
          .orderBy(col("n_requests").desc)))
      .filter(col("rk") === 1)
      .select(col("reg_domain"), col("delay_ms"), col("n_hosts"),
        col("n_requests"), col("n_served"), col("n_violations"),
        col("span_ms"))
      .orderBy(col("reg_domain"))
  }

  /** One closed politeness SESSION: the bucket provably refills to full
    * across any gap ≥ 3·delay (the batch sessionization insight), so a
    * domain's state is safe to DROP at such a gap and the final totals
    * are the per-session sums.
    */
  case class PolSessOut(reg_domain: String, delay_ms: Long,
      hosts: Array[String], n_requests: Long, n_served: Long,
      n_violations: Long, t0: Long, t1: Long)

  /** The politeness scheduler as a Spark 4 `StatefulProcessor` — the
    * [[politenessStream]] fold ported to the transformWithState API (the
    * forward path for the stateful family: named state variables, an
    * explicit timer surface, TTL-capable handles). Three deliberate
    * upgrades over the flatMapGroupsWithState twin:
    *
    *  - pending requests and the bucket live in a NAMED ValueState; the
    *    registered timer is tracked in a second one so re-registration
    *    can delete its predecessor (timers are multi-shot in this API);
    *  - sessions CLOSE in the state store: when the watermark passes
    *    `last + 3·delay` with nothing pending, the session row is
    *    emitted and the key's state is CLEARED — per-key state is freed
    *    the moment it is reconstructible, which StreamingSpec pins via
    *    the final progress's numRowsTotal = 0;
    *  - output rows are per closed session; the drained-sink rollup
    *    (sum counters, min/max span, distinct hosts) equals the batch
    *    operator exactly — same DuckDB recursive-CTE oracle.
    */
  private class PolitenessProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        String, PolRow, PolSessOut] {
    import org.apache.spark.sql.Encoders
    import org.apache.spark.sql.streaming.{ExpiredTimerInfo, TTLConfig, TimeMode, TimerValues, ValueState}
    @transient private var bucket: ValueState[PolState] = _
    @transient private var timerAt: ValueState[Long] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      bucket = getHandle.getValueState[PolState]("bucket",
        Encoders.product[PolState], TTLConfig.NONE)
      timerAt = getHandle.getValueState[Long]("timerAt",
        Encoders.scalaLong, TTLConfig.NONE)
    }
    private def delayOf(dom: String): Long =
      600000L * (1L + dom.filter(_.isDigit).toLong % 5L)
    private val Empty = PolState(-1L, -1L, 0L, 0L, Array.empty, -1L, -1L,
      Array.empty, Array.empty)
    /** Shared step for both arrival and timer paths: replay ripe
      * requests in event-time order, closing (and emitting) a session at
      * every ≥ cap gap; buffer the rest; keep exactly one live timer —
      * earliest pending + 1 while buffering, else the session-close
      * deadline `last + cap`.
      */
    private def step(dom: String, arrivals: Seq[(Long, String)],
        wmMs: Long): Iterator[PolSessOut] = {
      val delay = delayOf(dom)
      val cap = 3L * delay
      val st0 = if (bucket.exists) bucket.get else Empty
      val all = (st0.pendT.zip(st0.pendHost) ++ arrivals).sortBy(_._1)
      val (ripe, wait) = all.partition(_._1 <= wmMs)
      var out = List.empty[PolSessOut]
      var (credits, last) = (st0.credits, st0.last)
      var viol = st0.viol; var served = st0.served
      var hosts = st0.hosts.toSet
      var tFirst = st0.tFirst; var tLast = st0.tLast
      def close(): Unit = {
        out = out :+ PolSessOut(dom, delay, hosts.toArray.sorted,
          served + viol, served, viol, tFirst, tLast)
        credits = -1L; last = -1L; viol = 0L; served = 0L
        hosts = Set.empty; tFirst = -1L; tLast = -1L
      }
      ripe.foreach { case (t, h) =>
        if (last >= 0L && t - last >= cap) close() // bucket provably full
        if (last < 0L) { credits = cap; last = t }
        val refill = math.min(cap, credits + (t - last))
        if (refill >= delay) { credits = refill - delay; served += 1 }
        else { credits = refill; viol += 1 }
        last = t
        hosts = hosts + h
        if (tFirst < 0L) tFirst = t
        tLast = t
      }
      if (timerAt.exists) { getHandle.deleteTimer(timerAt.get); timerAt.clear() }
      if (wait.isEmpty && last >= 0L && wmMs - last >= cap) {
        // idle past the refill horizon: close the session and FREE the key
        close()
        bucket.clear()
      } else if (wait.isEmpty && last < 0L) {
        bucket.clear() // nothing buffered, nothing open
      } else {
        bucket.update(PolState(credits, last, viol, served,
          hosts.toArray.sorted, tFirst, tLast,
          wait.map(_._1).toArray, wait.map(_._2).toArray))
        val target = if (wait.nonEmpty) wait.map(_._1).min + 1L else last + cap
        getHandle.registerTimer(target)
        timerAt.update(target)
      }
      out.iterator
    }
    override def handleInputRows(dom: String, rows: Iterator[PolRow],
        tv: TimerValues): Iterator[PolSessOut] =
      if (dom == "~sentinel") { rows.foreach(_ => ()); Iterator.empty }
      else step(dom, rows.map(p => (p.t, p.host)).toSeq,
        tv.getCurrentWatermarkInMs())
    override def handleExpiredTimer(dom: String, tv: TimerValues,
        info: ExpiredTimerInfo): Iterator[PolSessOut] = {
      timerAt.clear() // the firing timer consumed itself
      step(dom, Seq.empty, tv.getCurrentWatermarkInMs())
    }
  }

  /** Runs `body` with the RocksDB state-store provider set
    * (`transformWithState` requires it), restoring the previous provider
    * afterwards — without the restore, every streaming query that runs
    * LATER in the same session would silently switch provider
    * (order-dependent behavior + bench drift for the other st_* queries).
    * Only the three transformWithState streams use it: at one state
    * partition, RocksDB made st_tumbling_stream's `triggerExecution`
    * slower than the HDFS-backed default (median of 20 warm runs at
    * sf0.01, two rounds: 131/123 ms → 157/158 ms, 4-vCPU box), so the
    * default stays for every other stream.
    */
  private def withRocksDb[T](ss: SparkSession)(body: => T): T = {
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = ss.conf.getOption(key)
    ss.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try body
    finally prev match {
      case Some(v) => ss.conf.set(key, v)
      case None    => ss.conf.unset(key)
    }
  }

  /** 33rd real streaming query — [[politenessStream]] under
    * `transformWithState`: identical final per-domain numbers (the same
    * batch recursive-CTE oracle), emitted as per-session rows with
    * per-key state freed at every provable session boundary. Returns the
    * drained rollup plus the final state-store row count (0 = every key
    * cleaned up — the spec's pin).
    */
  def politenessTwsTelemetry(s: SparkSession, d: String): (DataFrame, Long) = {
    val ss = tuned(s, perKey = true)
    withRocksDb(ss)(politenessTwsRun(ss, d))
  }

  /** [[politenessTwsTelemetry]]'s body, run with RocksDB in force. */
  private def politenessTwsRun(ss: SparkSession, d: String): (DataFrame, Long) = {
    import ss.implicits._
    val ev = graft.Tables.events(ss, d)
      .select(expr(
        """concat(CASE CAST(user_id % 3 AS INT)
          |          WHEN 0 THEN 'www' WHEN 1 THEN 'img' ELSE 'api' END,
          |        '.domain', CAST(user_id % 8 AS STRING), '.com')""".stripMargin)
        .as("host"), expr("unix_millis(ts)").as("t"), col("ts"))
      .withColumn("reg_domain", expr("substr(host, instr(host, '.') + 1)"))
      .select(col("reg_domain"), col("host"), col("t"), col("ts"))
    val Array(r) = ev.agg(min(col("t")), max(col("t"))).collect()
    val (loMs, hiMs) = (r.getLong(0), r.getLong(1))
    val splitMs = loMs + (hiMs - loMs) / 2
    val expected = ev.count()
    val sinkName = "graft_stream_politeness_tws"
    val stateRows = withFeed("poltws") { feed =>
      feed.ship(ev.filter(col("t") <= splitMs), "00_wave1.parquet")
      val plan = ss.readStream.schema(StructType(Seq(
          StructField("reg_domain", StringType), StructField("host", StringType),
          StructField("t", LongType), StructField("ts", TimestampType))))
        .parquet(feed.dir.toString)
        .withWatermark("ts", "0 seconds")
        .as[PolRow]
        .groupByKey(_.reg_domain)
        .transformWithState(new PolitenessProcessor,
          org.apache.spark.sql.streaming.TimeMode.EventTime(),
          OutputMode.Append())
      val q = plan.writeStream.outputMode(OutputMode.Append())
        .format("memory").queryName(sinkName).start()
      try {
        q.processAllAvailable()
        feed.ship(ev.filter(col("t") > splitMs), "01_wave2.parquet")
        q.processAllAvailable()
        // sentinel far enough past max(t) to cross every domain's session-
        // close horizon (max cap = 3 × 5 × 600 s = 2.5 h): +6 h
        feed.ship(Seq(("~sentinel", "~sentinel", hiMs + 21600000L,
          new java.sql.Timestamp(hiMs + 21600000L)))
          .toDF("reg_domain", "host", "t", "ts"), "02_sentinel.parquet")
        q.processAllAvailable()
        // done once every shipped request is accounted for by a CLOSED
        // session row
        pollUntil(q, sinkName)(ss.table(sinkName)
          .agg(coalesce(sum(col("n_requests")), lit(0L))).collect()(0)
          .getLong(0) >= expected)
        Option(q.lastProgress)
          .flatMap(p => p.stateOperators.headOption)
          .map(_.numRowsTotal).getOrElse(-1L)
      } finally q.stop()
    }
    val rollup = ss.table(sinkName)
      .groupBy(col("reg_domain"))
      .agg(max(col("delay_ms")).as("delay_ms"),
        expr("CAST(size(array_distinct(flatten(collect_list(hosts)))) AS BIGINT)")
          .as("n_hosts"),
        sum(col("n_requests")).as("n_requests"),
        sum(col("n_served")).as("n_served"),
        sum(col("n_violations")).as("n_violations"),
        (max(col("t1")) - min(col("t0"))).as("span_ms"))
      .select(col("reg_domain"), col("delay_ms"), col("n_hosts"),
        col("n_requests"), col("n_served"), col("n_violations"),
        col("span_ms"))
      .orderBy(col("reg_domain"))
    (rollup, stateRows)
  }

  def politenessTws(s: SparkSession, d: String): DataFrame =
    politenessTwsTelemetry(s, d)._1

  /** 30th real streaming query — the stream-stream as-of join under a
    * 30-minute TOLERANCE (conversion-window semantics): identical feed,
    * state, and eviction as [[asofStream]]; a match older than the
    * window emits null. Verified against the SAME post-filtered native
    * ASOF oracle as the batch tolerance operator, so the
    * bounding ≡ post-filter equivalence is certified in the streaming
    * execution mode too.
    */
  def asofToleranceStream(s: SparkSession, d: String): DataFrame =
    asofStreamTol(s, d, 30L * 60L * 1000000L, "graft_stream_asof_tol")._1

  /** Streaming CHANGELOG fold with retractions — the streaming twin of
    * [[graft.ops.PipelineOps.imvMaintain]] and the semantics a
    * Flink/Materialize retract stream carries: every record arrives
    * signed (+1 insert / −1 retraction, derived by the same
    * deterministic id arithmetic as the batch twin), and the stateful
    * aggregation maintains the (event_type, day) view as a running
    * SIGNED fold across micro-batches — state is the view itself, one
    * (n, Σ) pair per group, constant per group regardless of stream
    * volume. Groups whose net count is ≤ 0 are swallowed at drain,
    * exactly as a changelog consumer GCs them. Verified against the
    * SAME full-recompute DuckDB oracle as the batch twin: stream fold ≡
    * batch fold ≡ recompute, closing the loop on all three execution
    * modes of the one changelog algebra.
    */
  def retractFoldStream(s: SparkSession, d: String): DataFrame = {
    val ss = tuned(s)
    val src = eventsStream(ss, d)
      .withColumn("sign", when(col("event_id") % 5 =!= 0, 1L)
        .when(col("event_id") % 3 === 0, -1L).otherwise(1L))
      .withColumn("vm", Det.micros(col("value")))
      .withColumn("day", to_date(col("ts")))
    drain(src.groupBy(col("event_type"), col("day"))
      .agg(sum(col("sign")).as("n_events"),
        sum(col("sign") * col("vm")).as("rev_micro"))
      .writeStream.outputMode(OutputMode.Complete())
      .format("memory").queryName("graft_stream_retract"))
    ss.table("graft_stream_retract")
      .filter(col("n_events") > 0)
      .select(col("event_type"), col("day"), col("n_events"),
        col("rev_micro"))
      .orderBy(col("event_type"), col("day"))
  }

  /** The watermarked click and purchase sides shared by every
    * stream-stream interval join ([[intervalJoinStream]]), joined with
    * `joinType`. `clickUser` names the click side's user column — the
    * right and full outer joins keep it apart from `p_user` as `c_user`.
    */
  private def clickPurchaseJoin(s: SparkSession, d: String, joinType: String,
      clickUser: String = "user_id"): DataFrame = {
    val clicks = eventsStream(s, d)
      .filter(col("event_type") === "click")
      .select(col("user_id").as(clickUser), col("ts").as("click_ts"),
        col("event_id").as("click_id"))
      .withWatermark("click_ts", "1 hour")
    val purchases = eventsStream(s, d)
      .filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("ts").as("p_ts"),
        col("event_id").as("purchase_id"))
      .withWatermark("p_ts", "1 hour")
    clicks.join(purchases,
        expr(s"$clickUser = p_user AND p_ts >= click_ts " +
          "AND p_ts <= click_ts + INTERVAL 1 HOUR"), joinType)
  }

  /** The unstarted streaming interval-join plan (shared by the drained
    * memory-sink query below and the checkpoint-restart spec).
    */
  def intervalJoinPlan(s: SparkSession, d: String): DataFrame =
    clickPurchaseJoin(s, d, "inner")
      .select(col("user_id"), col("click_id"), col("purchase_id"),
        (unix_micros(col("p_ts")) - unix_micros(col("click_ts"))).as("lag_us"))

  /** Watermarked stream-stream interval join: click and purchase streams
    * (two readStream scans of the events source) joined on user within
    * [click_ts, click_ts + 1 h]. Both sides carry a 1-hour watermark, so
    * the join state store retains only one watermark-window of each side —
    * bounded state at any scale, the whole point of the watermark
    * contract. Inner interval joins emit rows as matches arrive, so the
    * drained memory-sink table equals the batch twin and is
    * DuckDB-oracle-verified like any batch operator.
    */
  def intervalJoinStream(s: SparkSession, d: String): DataFrame = {
    val ss = tuned(s)
    drain(intervalJoinPlan(ss, d)
      .writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("graft_stream_interval_join"))
    ss.table("graft_stream_interval_join")
      .orderBy(col("user_id"), col("click_id"), col("purchase_id"))
  }

  /** Watermarked stream-stream LEFT OUTER interval join, drained. Matches
    * emit as they arrive (like the inner join); an UNMATCHED click
    * null-extends only when the global watermark — min over both inputs of
    * (max event time − 1 h delay) — passes its join horizon
    * (click_ts + 1 h), because append mode never retracts and an earlier
    * emission could still be contradicted by a late purchase
    * (StreamingSpec pins the per-batch mechanics). The drain's no-data
    * cleanup batch performs the final evictions, so the result is
    * DETERMINISTIC given the data: matched rows ∪ unmatched clicks with
    * `click_ts + 1 h < min(max_c, max_p) − 1 h` — exactly what the
    * oracle computes from the batch side. Clicks inside the final
    * watermark window stay parked forever (they'd emit on the next day's
    * data in production); that tail is the price of bounded state, not a
    * bug, and both engines agree on it here.
    */
  def leftOuterJoinStream(s: SparkSession, d: String): DataFrame = {
    val ss = tuned(s)
    drain(clickPurchaseJoin(ss, d, "left_outer")
      .select(col("user_id"), col("click_id"), col("purchase_id"),
        (unix_micros(col("p_ts")) - unix_micros(col("click_ts"))).as("lag_us"))
      .writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("graft_stream_left_outer"))
    ss.table("graft_stream_left_outer")
      .orderBy(col("user_id"), col("click_id"),
        col("purchase_id").asc_nulls_first)
  }

  /** Watermarked stream-stream FULL OUTER interval join, drained —
    * completes the join matrix (inner [[intervalJoinStream]], left
    * [[leftOuterJoinStream]]) with BOTH-side null extension. The two
    * sides have DIFFERENT eviction horizons, derived by Spark from the
    * interval condition `click_ts <= p_ts <= click_ts + 1 h`:
    *   - a click can still be matched by a future purchase until the
    *     global watermark w passes `click_ts + 1 h` (the latest p_ts that
    *     could pair with it) → unmatched clicks null-extend when
    *     `click_ts + 1 h < w`;
    *   - a purchase can still be matched by a future click until w passes
    *     `p_ts` itself (a matching click has `click_ts ∈ [p_ts − 1 h,
    *     p_ts]`, and future clicks arrive with `click_ts > w`) →
    *     unmatched purchases null-extend when `p_ts < w`.
    * Matches emit as they arrive; the drain's no-data cleanup batch
    * performs the final evictions, so the drained table is DETERMINISTIC:
    * matches ∪ horizon-passed unmatched clicks ∪ horizon-passed unmatched
    * purchases — exactly what the oracle computes batch-side. Rows inside
    * the final watermark window stay parked (they would emit on the next
    * day's data in production) — bounded state's price, same as the left
    * join, and both engines agree on it. `user_id` is coalesced across
    * sides so unmatched purchases still carry their key.
    */
  def fullOuterJoinStream(s: SparkSession, d: String): DataFrame = {
    val ss = tuned(s)
    drain(clickPurchaseJoin(ss, d, "full_outer", clickUser = "c_user")
      .select(coalesce(col("c_user"), col("p_user")).as("user_id"),
        col("click_id"), col("purchase_id"),
        (unix_micros(col("p_ts")) - unix_micros(col("click_ts"))).as("lag_us"))
      .writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("graft_stream_full_outer"))
    ss.table("graft_stream_full_outer")
      .orderBy(col("user_id"), col("click_id").asc_nulls_first,
        col("purchase_id").asc_nulls_first)
  }

  /** Batch twin of [[fullOuterJoinStream]] (DuckDB): inner matches plus
    * each side's unmatched rows whose own eviction horizon the final
    * watermark passed (click: `click_ts + 1 h < w`; purchase: `p_ts < w`).
    */
  val fullOuterJoinOracle: String =
    """WITH c AS (
      |  SELECT user_id AS c_user, ts AS click_ts, event_id AS click_id
      |  FROM events WHERE event_type = 'click'),
      |p AS (
      |  SELECT user_id AS p_user, ts AS p_ts, event_id AS purchase_id
      |  FROM events WHERE event_type = 'purchase'),
      |wm AS (
      |  SELECT least((SELECT max(click_ts) FROM c),
      |               (SELECT max(p_ts) FROM p)) - INTERVAL 1 HOUR AS w),
      |j AS (
      |  SELECT c.c_user, c.click_id, c.click_ts, p.p_user, p.p_ts,
      |         p.purchase_id,
      |         epoch_us(p.p_ts) - epoch_us(c.click_ts) AS lag_us
      |  FROM c FULL OUTER JOIN p
      |    ON c.c_user = p.p_user AND p.p_ts >= c.click_ts
      |   AND p.p_ts <= c.click_ts + INTERVAL 1 HOUR)
      |SELECT COALESCE(c_user, p_user) AS user_id, click_id, purchase_id,
      |       lag_us
      |FROM j, wm
      |WHERE (click_id IS NOT NULL AND purchase_id IS NOT NULL)
      |   OR (purchase_id IS NULL AND click_ts + INTERVAL 1 HOUR < w)
      |   OR (click_id IS NULL AND p_ts < w)
      |ORDER BY user_id, click_id ASC NULLS FIRST,
      |         purchase_id ASC NULLS FIRST""".stripMargin

  /** Watermarked stream-stream RIGHT OUTER interval join, drained —
    * the mirror of [[leftOuterJoinStream]] with the null-extension on the
    * PURCHASE side: every purchase eventually emits, matched to its
    * in-window clicks or null-extended once it can no longer match. The
    * eviction horizon is asymmetric-mirrored from the full-outer
    * analysis: a purchase can still be matched by a future click until
    * the watermark w passes `p_ts` itself (matching clicks have
    * `click_ts ∈ [p_ts − 1 h, p_ts]`, future clicks arrive after w), so
    * unmatched purchases null-extend when `p_ts < w`; purchases inside
    * the final watermark window stay parked — bounded state's price,
    * and the batch oracle applies the same horizon.
    */
  def rightOuterJoinStream(s: SparkSession, d: String): DataFrame = {
    val ss = tuned(s)
    drain(clickPurchaseJoin(ss, d, "right_outer", clickUser = "c_user")
      .select(col("p_user").as("user_id"), col("purchase_id"),
        col("click_id"),
        (unix_micros(col("p_ts")) - unix_micros(col("click_ts"))).as("lag_us"))
      .writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("graft_stream_right_outer"))
    ss.table("graft_stream_right_outer")
      .orderBy(col("user_id"), col("purchase_id"),
        col("click_id").asc_nulls_first)
  }

  /** Batch twin of [[rightOuterJoinStream]] (DuckDB): inner matches plus
    * unmatched purchases whose horizon (`p_ts` itself) the final
    * watermark passed.
    */
  val rightOuterJoinOracle: String =
    """WITH c AS (
      |  SELECT user_id AS c_user, ts AS click_ts, event_id AS click_id
      |  FROM events WHERE event_type = 'click'),
      |p AS (
      |  SELECT user_id AS p_user, ts AS p_ts, event_id AS purchase_id
      |  FROM events WHERE event_type = 'purchase'),
      |wm AS (
      |  SELECT least((SELECT max(click_ts) FROM c),
      |               (SELECT max(p_ts) FROM p)) - INTERVAL 1 HOUR AS w),
      |j AS (
      |  SELECT p.p_user, p.purchase_id, p.p_ts, c.click_id,
      |         epoch_us(p.p_ts) - epoch_us(c.click_ts) AS lag_us
      |  FROM c RIGHT JOIN p
      |    ON c.c_user = p.p_user AND p.p_ts >= c.click_ts
      |   AND p.p_ts <= c.click_ts + INTERVAL 1 HOUR)
      |SELECT p_user AS user_id, purchase_id, click_id, lag_us
      |FROM j, wm
      |WHERE click_id IS NOT NULL OR p_ts < w
      |ORDER BY user_id, purchase_id, click_id ASC NULLS FIRST""".stripMargin

  /** Watermarked stream-stream LEFT ANTI interval join, drained — the
    * alerting shape: "clicks that NEVER led to a purchase within the
    * hour". Anti-join emission is inherently WATERMARK-DELAYED: a click
    * cannot emit when it arrives (a matching purchase may still come);
    * it emits only when the state store evicts it unmatched, i.e. once
    * the watermark passes `click_ts + 1 h` (the latest p_ts that could
    * pair with it). The drained table is therefore DETERMINISTIC:
    * exactly the match-free clicks whose horizon the final watermark
    * passed; match-free clicks inside the window stay parked (they
    * would emit on the next day's data in production) — the same
    * horizon rule the left-outer join applies to its null-extensions,
    * here applied to existence itself.
    *
    * Spark 4.1 does NOT support LeftAnti stream-stream joins natively
    * ("LeftAnti joins with a streaming DataFrame/Dataset on the right
    * are not supported"), so the anti join is DERIVED from the
    * supported left-outer join: an unmatched click surfaces there as a
    * null-extended row emitted exactly at state-store eviction, which
    * is precisely the anti join's emission point — `left_outer` +
    * `purchase IS NULL` is semantically identical to the missing
    * built-in, including its timing. (The only cost vs a native anti
    * join is that matched rows flow to the filter instead of being
    * dropped in the join operator — state size is the same.)
    */
  def antiJoinStream(s: SparkSession, d: String): DataFrame = {
    val ss = tuned(s)
    drain(clickPurchaseJoin(ss, d, "left_outer")
      .filter(col("purchase_id").isNull)
      .select(col("user_id"), col("click_ts"), col("click_id"))
      .writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("graft_stream_anti"))
    ss.table("graft_stream_anti")
      .select(col("user_id"), col("click_id"),
        unix_micros(col("click_ts")).as("click_us"))
      .orderBy(col("user_id"), col("click_id"))
  }

  /** Batch twin of [[antiJoinStream]] (DuckDB): clicks with NO purchase
    * in (click_ts, click_ts + 1 h] whose eviction horizon
    * (`click_ts + 1 h`) the final watermark passed.
    */
  val antiJoinOracle: String =
    """WITH c AS (
      |  SELECT user_id, ts AS click_ts, event_id AS click_id
      |  FROM events WHERE event_type = 'click'),
      |p AS (
      |  SELECT user_id AS p_user, ts AS p_ts FROM events
      |  WHERE event_type = 'purchase'),
      |wm AS (
      |  SELECT least((SELECT max(click_ts) FROM c),
      |               (SELECT max(p_ts) FROM p)) - INTERVAL 1 HOUR AS w)
      |SELECT c.user_id, c.click_id, epoch_us(c.click_ts) AS click_us
      |FROM c, wm
      |WHERE c.click_ts + INTERVAL 1 HOUR < w
      |  AND NOT EXISTS (
      |    SELECT 1 FROM p
      |    WHERE p.p_user = c.user_id AND p.p_ts >= c.click_ts
      |      AND p.p_ts <= c.click_ts + INTERVAL 1 HOUR)
      |ORDER BY user_id, click_id""".stripMargin

  /** Watermarked stream-stream LEFT SEMI interval join, drained —
    * completes the streaming join matrix (inner / left outer / full
    * outer / semi): "clicks that led to a purchase within the hour",
    * emitting each qualifying CLICK once, with no purchase columns. A
    * click emits on its FIRST match (state marks it emitted so later
    * matches add nothing — the semi-join contract), which makes the
    * drained result deterministic: exactly the distinct clicks with ≥1
    * in-window purchase, what the oracle computes batch-side. Same
    * bounded state as the inner join.
    */
  def semiJoinStream(s: SparkSession, d: String): DataFrame = {
    val ss = tuned(s)
    drain(clickPurchaseJoin(ss, d, "left_semi")
      .writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("graft_stream_semi"))
    ss.table("graft_stream_semi")
      .select(col("user_id"), col("click_id"),
        unix_micros(col("click_ts")).as("click_us"))
      .orderBy(col("user_id"), col("click_id"))
  }

  /** Batch twin of [[semiJoinStream]] (DuckDB): distinct clicks with at
    * least one purchase in (click_ts, click_ts + 1 h].
    */
  val semiJoinOracle: String =
    """SELECT c.user_id, c.event_id AS click_id, epoch_us(c.ts) AS click_us
      |FROM events c
      |WHERE c.event_type = 'click' AND EXISTS (
      |  SELECT 1 FROM events p
      |  WHERE p.event_type = 'purchase' AND p.user_id = c.user_id
      |    AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 1 HOUR)
      |ORDER BY user_id, click_id""".stripMargin

  /** Streaming BUILT-IN `session_window` aggregation (gap 30 min) — the
    * state-store session-merge path, complementing the custom
    * flatMapGroupsWithState sessionizer ([[sessionizeStream]]): Spark
    * merges overlapping per-key session windows inside the state store
    * as batches arrive, no user state code. Append mode emits a session
    * only once the watermark passes its close (`last_event + 30 min`),
    * so the drained table is DETERMINISTIC: exactly the batch
    * gaps-and-islands sessions whose close precedes the final watermark
    * `max(ts) − 1 h`; later sessions stay parked in state (next day's
    * data would flush them in production) — the same bounded-state tail
    * the outer joins document. Oracle = the `ev_session_window`
    * gaps-and-islands SQL plus that watermark filter, so the state-store
    * merge path is cross-validated against the window-function form.
    */
  def sessionBuiltinStream(s: SparkSession, d: String): DataFrame = {
    val ss = tuned(s, perKey = true)
    drain(eventsStream(ss, d)
      .withWatermark("ts", "1 hour")
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
      .agg(count(lit(1)).as("n_events"), Det.dsum(col("value")).as("sum_value"))
      .select(col("user_id"),
        col("session_window.start").as("session_start"),
        col("n_events"), col("sum_value"))
      .writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("graft_stream_session_builtin"))
    ss.table("graft_stream_session_builtin")
      .orderBy(col("user_id"), col("session_start"))
  }

  /** Batch twin of [[sessionBuiltinStream]] (DuckDB): the
    * `ev_session_window` gaps-and-islands sessions restricted to those
    * closed before the final watermark.
    */
  val sessionBuiltinOracle: String =
    """WITH marked AS (
      |  SELECT user_id, event_id, ts, value,
      |         CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
      |                OR epoch_us(ts) - lag(epoch_us(ts)) OVER w >= 1800000000
      |              THEN 1::BIGINT ELSE 0::BIGINT END AS new_sess
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      |sess AS (
      |  SELECT *, CAST(SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |                                     ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
      |  FROM marked),
      |agg AS (
      |  SELECT user_id, MIN(ts) AS session_start, MAX(ts) AS session_end,
      |         COUNT(*) AS n_events,
      |         CAST(SUM(CAST(value AS DECIMAL(30,4))) AS DOUBLE) AS sum_value
      |  FROM sess GROUP BY user_id, session_id),
      |wm AS (SELECT (SELECT max(ts) FROM events) - INTERVAL 1 HOUR AS w)
      |SELECT user_id, session_start, n_events, sum_value
      |FROM agg, wm
      |WHERE session_end + INTERVAL 30 MINUTE < w
      |ORDER BY user_id, session_start""".stripMargin

  /** Streaming DYNAMIC-GAP sessions — [[graft.ext.EventOps.sessionDynamic]]
    * as a watermarked stream (28th real streaming query): per-event gap
    * expression (clicks 20 min, others 40), append mode, drained and
    * verified against the SAME running-max merge algebra, with the
    * emission cut at sessions whose furthest window end closed before
    * the final watermark. Third execution mode of the dynamic-session
    * algebra (batch native / relational oracle / streaming state).
    */
  def sessionDynamicStream(s: SparkSession, d: String): DataFrame = {
    val ss = tuned(s, perKey = true)
    drain(eventsStream(ss, d)
      .withWatermark("ts", "1 hour")
      .groupBy(col("user_id"), session_window(col("ts"),
        when(col("event_type") === "click", "20 minutes")
          .otherwise("40 minutes")))
      .agg(count(lit(1)).as("n_events"),
        sum(when(col("event_type") === "click", 1L).otherwise(0L))
          .as("n_clicks"),
        Det.dsum(col("value")).as("sum_value"))
      .select(col("user_id"),
        col("session_window.start").as("session_start"),
        col("n_events"), col("n_clicks"), col("sum_value"))
      .writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("graft_stream_session_dynamic"))
    ss.table("graft_stream_session_dynamic")
      .orderBy(col("user_id"), col("session_start"))
  }

  /** Batch twin of [[sessionDynamicStream]]: the running-max merge
    * algebra with the watermark emission cut.
    */
  val sessionDynamicOracle: String =
    """WITH g AS (
      |  SELECT user_id, event_id, ts, value, event_type,
      |         epoch_us(ts) AS us,
      |         epoch_us(ts) + CASE WHEN event_type = 'click'
      |                             THEN 1200000000 ELSE 2400000000 END AS win_end
      |  FROM events),
      |marked AS (
      |  SELECT *,
      |         CASE WHEN MAX(win_end) OVER (
      |                PARTITION BY user_id ORDER BY ts, event_id
      |                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
      |              IS NULL
      |           OR us >= MAX(win_end) OVER (
      |                PARTITION BY user_id ORDER BY ts, event_id
      |                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
      |         THEN 1::BIGINT ELSE 0::BIGINT END AS new_sess
      |  FROM g),
      |sess AS (
      |  SELECT *, CAST(SUM(new_sess) OVER (
      |      PARTITION BY user_id ORDER BY ts, event_id
      |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
      |  FROM marked),
      |agg AS (
      |  SELECT user_id, MIN(ts) AS session_start, MAX(win_end) AS sess_end_us,
      |         COUNT(*) AS n_events,
      |         CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
      |              AS BIGINT) AS n_clicks,
      |         CAST(SUM(CAST(value AS DECIMAL(30,4))) AS DOUBLE) AS sum_value
      |  FROM sess GROUP BY user_id, session_id),
      |wm AS (SELECT epoch_us((SELECT max(ts) FROM events)
      |              - INTERVAL 1 HOUR) AS w)
      |SELECT user_id, session_start, n_events, n_clicks, sum_value
      |FROM agg, wm WHERE sess_end_us < w
      |ORDER BY user_id, session_start""".stripMargin

  /** Stream-static enrichment: the streaming fact joins a BATCH dimension
    * (no watermark needed — static side is complete by definition), then
    * aggregates per enriched category in complete mode. The static dim is
    * re-read per micro-batch (so slowly-changing dims pick up updates
    * between batches) and broadcast when small — the canonical "enrich
    * events with reference data" shape. Drained result equals the batch
    * join, so it is DuckDB-verified like any batch operator.
    */
  def staticEnrichStream(s: SparkSession, d: String): DataFrame = {
    val ss = tuned(s)
    val dim = graft.Tables.events(ss, d)
      .select(col("event_type")).distinct()
      .withColumn("category",
        when(col("event_type").isin("purchase", "signup"), "conversion")
          .otherwise("engagement"))
    drain(eventsStream(ss, d)
      .join(broadcast(dim), Seq("event_type"))
      .groupBy(col("category"))
      .agg(count(lit(1)).as("n_events"), Det.dsum(col("value")).as("sum_value"))
      .writeStream.outputMode(OutputMode.Complete())
      .format("memory").queryName("graft_stream_static_enrich"))
    ss.table("graft_stream_static_enrich").orderBy(col("category"))
  }

  /** Batch twin of [[staticEnrichStream]] (DuckDB). */
  val staticEnrichOracle: String =
    """SELECT CASE WHEN event_type IN ('purchase', 'signup')
      |            THEN 'conversion' ELSE 'engagement' END AS category,
      |       COUNT(*) AS n_events,
      |       CAST(SUM(CAST(value AS DECIMAL(30,4))) AS DOUBLE) AS sum_value
      |FROM events GROUP BY 1 ORDER BY category""".stripMargin

  /** Batch twin of [[leftOuterJoinStream]] (DuckDB): inner matches plus
    * unmatched clicks whose join horizon the final watermark passed.
    */
  val leftOuterJoinOracle: String =
    """WITH c AS (
      |  SELECT user_id, ts AS click_ts, event_id AS click_id
      |  FROM events WHERE event_type = 'click'),
      |p AS (
      |  SELECT user_id AS p_user, ts AS p_ts, event_id AS purchase_id
      |  FROM events WHERE event_type = 'purchase'),
      |wm AS (
      |  SELECT least((SELECT max(click_ts) FROM c),
      |               (SELECT max(p_ts) FROM p)) - INTERVAL 1 HOUR AS w),
      |j AS (
      |  SELECT c.user_id, c.click_id, c.click_ts, p.purchase_id,
      |         epoch_us(p.p_ts) - epoch_us(c.click_ts) AS lag_us
      |  FROM c LEFT JOIN p
      |    ON c.user_id = p.p_user AND p.p_ts >= c.click_ts
      |   AND p.p_ts <= c.click_ts + INTERVAL 1 HOUR)
      |SELECT user_id, click_id, purchase_id, lag_us
      |FROM j, wm
      |WHERE purchase_id IS NOT NULL OR click_ts + INTERVAL 1 HOUR < w
      |ORDER BY user_id, click_id, purchase_id ASC NULLS FIRST""".stripMargin

  /** Streaming incremental dedup probe: the held-out batch of documents
    * arrives as a STREAM and is probed against the static persisted LSH
    * stores of the seen corpus ([[graft.ext.Dedup.sketchStore]]) — two
    * stream-static joins (band probe, sketch verification) plus a
    * complete-mode aggregation, the nightly-ingest shape of production
    * corpus dedup. Differences from the batch probe that matter in a
    * stream: the new doc's shingle set rides WITH its band rows (a
    * join-back to the stream would be a stream-stream self-join needing
    * event-time watermarks this data doesn't have), and candidate pairs
    * are not pre-deduplicated (min(sid) is duplicate-insensitive, so the
    * dedup state would buy nothing). Emits (doc_id, near_dup_of) for
    * every streamed doc with a verified seen near-dup; equals the batch
    * oracle's non-null near_dup_of rows.
    */
  def incrementalProbeStream(s: SparkSession, d: String): DataFrame = {
    import graft.ext.Dedup
    val ss = tuned(s)
    val seen = graft.Tables.documents(ss, d)
      .select(col("doc_id"), col("text"))
      .filter(col("doc_id") % Dedup.SEEN_MOD =!= 0)
    val (_, sketches, bands) = Dedup.sketchStore(seen)
    val stream = ss.readStream.schema(graft.Tables.schemaOf(ss, d, "documents"))
      .parquet(s"$d/{documents}.parquet")
      .filter(col("doc_id") % Dedup.SEEN_MOD === 0)
      .select(col("doc_id"), col("text"))
    val newSig = Dedup.signaturesOf(Dedup.shingledOf(stream))
    val newBands = Dedup.bandsCarrying(newSig, "shashes")
    drain(newBands.as("a")
      .join(bands.as("b"), col("a.band") === col("b.band")
        && col("a.bh") === col("b.bh"))
      .select(col("a.doc_id").as("nid"), col("a.shashes").as("sha"),
        col("b.doc_id").as("sid"))
      .join(sketches.select(col("doc_id").as("sid"), col("shashes").as("shb")), "sid")
      .withColumn("inter", size(array_intersect(col("sha"), col("shb"))).cast("long"))
      .withColumn("jaccard",
        col("inter").cast("double")
          / (size(col("sha")) + size(col("shb")) - col("inter")))
      .filter(col("jaccard") >= expr(Dedup.JT))
      .groupBy(col("nid").as("doc_id"))
      .agg(min(col("sid")).as("near_dup_of"))
      .writeStream.outputMode(OutputMode.Complete())
      .format("memory").queryName("graft_stream_inc_probe"))
    ss.table("graft_stream_inc_probe").orderBy(col("doc_id"))
  }

  case class Ev(event_id: Long, ts: java.sql.Timestamp, user_id: Long,
      event_type: String, value: Double)
  case class SessionOut(user_id: Long, session_id: Long, n_events: Long,
      session_start: java.sql.Timestamp, session_end: java.sql.Timestamp,
      sum_value: Double)
  /** Open-session state: micros timestamps to keep state compact; the
    * value rollup accumulates as a SCALED LONG (4-decimal fixed point) so
    * the fold is exact and order-independent — a raw double fold would
    * drift an ulp from the batch oracle's decimal sum. The final
    * `scaled / 10000.0` is a single correctly-rounded IEEE division of
    * two exact operands, i.e. bit-identical to casting the decimal sum
    * to double (what [[graft.Det.dsum]] and the DuckDB oracle do).
    */
  case class SessState(sessionId: Long, n: Long, startUs: Long, endUs: Long,
      sumScaled: Long)

  val gapUs: Long = 1800L * 1000000L // 30 min session gap
  // Event-time TTL for sessionizeWithTimeout tombstones: bounds state to
  // users active in the last 30 days rather than O(all users ever seen).
  val tombstoneTtlUs: Long = 30L * 86400L * 1000000L

  /** events.value has 4-decimal scale (the [[graft.Det]] contract), so
    * rounding value×10⁴ recovers the exact integer numerator.
    */
  private def scaledOf(v: Double): Long = Math.round(v * 10000.0)

  private def usOf(e: Ev): Long =
    e.ts.getTime / 1000 * 1000000 + e.ts.getNanos / 1000
  private def tsOf(us: Long): java.sql.Timestamp = {
    val t = new java.sql.Timestamp(us / 1000000 * 1000)
    t.setNanos((us % 1000000).toInt * 1000)
    t
  }
  private def outOf(userId: Long, st: SessState): SessionOut =
    // BigDecimal.valueOf(unscaled, 4).doubleValue() rounds ONCE from the
    // exact decimal, matching the oracle's decimal→double cast even when
    // |sumScaled| exceeds 2^53 (a bare Long→double division would round
    // twice: once at the conversion, once at the divide).
    SessionOut(userId, st.sessionId, st.n, tsOf(st.startUs), tsOf(st.endUs),
      java.math.BigDecimal.valueOf(st.sumScaled, 4).doubleValue())

  /** The shared session fold: events (pre-sorted by (ts, event_id)) merge
    * into the open state; every >gap boundary closes a session. A
    * tombstone state (n == 0) carries only the next session ordinal so
    * session_id stays unique across timeout-driven emissions. Returns
    * (closed sessions, new state).
    */
  private def foldSessions(userId: Long, sorted: Seq[Ev],
      prev: Option[SessState]): (Seq[SessionOut], SessState) = {
    var st = prev.orNull
    val closed = scala.collection.mutable.ArrayBuffer[SessionOut]()
    sorted.foreach { e =>
      val us = usOf(e)
      if (st == null) {
        st = SessState(1L, 1L, us, us, scaledOf(e.value))
      } else if (st.n == 0L) { // tombstone: resume numbering, no open session
        st = SessState(st.sessionId, 1L, us, us, scaledOf(e.value))
      } else if (us - st.endUs > gapUs) {
        closed += outOf(userId, st)
        st = SessState(st.sessionId + 1, 1L, us, us, scaledOf(e.value))
      } else {
        st = st.copy(n = st.n + 1, endUs = us,
          sumScaled = st.sumScaled + scaledOf(e.value))
      }
    }
    (closed.toSeq, st)
  }

  /** Stateful sessionizer: emits a session whenever a >30-min gap closes
    * it; the per-user open session stays in state (bounded runs never
    * emit the final open session — the declared query's oracle excludes
    * each user's last session for exactly this reason).
    */
  def sessionize(events: Dataset[Ev]): Dataset[SessionOut] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[SessState, SessionOut](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (userId: Long, rows: Iterator[Ev], state: GroupState[SessState]) =>
          val sorted = rows.toSeq.sortBy(e => (usOf(e), e.event_id))
          val (closed, st) = foldSessions(userId, sorted, state.getOption)
          state.update(st)
          closed.iterator
      }
  }

  /** [[sessionize]]'s fold as a Spark 4 `StatefulProcessor` — the second
    * transformWithState port (beside [[PolitenessProcessor]]'s
    * event-time/timer form, this is the TimeMode.None twin): proves the
    * flatMapGroupsWithState-era stateful family ports MECHANICALLY — the
    * shared [[foldSessions]] algebra is untouched, only the state
    * plumbing changes (named ValueState via the handle instead of the
    * GroupState argument).
    */
  private class SessionizeProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        Long, Ev, SessionOut] {
    import org.apache.spark.sql.Encoders
    import org.apache.spark.sql.streaming.{TTLConfig, TimeMode, TimerValues, ValueState}
    @transient private var open: ValueState[SessState] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      open = getHandle.getValueState[SessState]("open",
        Encoders.product[SessState], TTLConfig.NONE)
    override def handleInputRows(userId: Long, rows: Iterator[Ev],
        tv: TimerValues): Iterator[SessionOut] = {
      val sorted = rows.toSeq.sortBy(e => (usOf(e), e.event_id))
      val prev = if (open.exists) Some(open.get) else None
      val (closed, st) = foldSessions(userId, sorted, prev)
      open.update(st)
      closed.iterator
    }
  }

  /** [[sessionizeStream]] under transformWithState — identical closed
    * sessions, same batch oracle.
    */
  def sessionizeTws(s: SparkSession, d: String): DataFrame = {
    val ss = tuned(s, perKey = true)
    withRocksDb(ss)(sessionizeTwsRun(ss, d))
  }

  /** [[sessionizeTws]]'s body, run with RocksDB in force. */
  private def sessionizeTwsRun(ss: SparkSession, d: String): DataFrame = {
    import ss.implicits._
    val evs = eventsStream(ss, d)
      .select(col("event_id"), col("ts"), col("user_id"),
        col("event_type"), col("value"))
      .as[Ev]
    drain(evs.groupByKey(_.user_id)
      .transformWithState(new SessionizeProcessor,
        org.apache.spark.sql.streaming.TimeMode.None(), OutputMode.Append())
      .writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("graft_stream_sessionize_tws"))
    ss.table("graft_stream_sessionize_tws")
      .orderBy(col("user_id"), col("session_id"))
  }

  /** Per-user last-event state for the streaming transition extractor:
    * one fixed-width record per user, no event buffering.
    */
  case class TransState(lastUs: Long, lastId: Long, lastType: String)
  case class TransOut(user_id: Long, from_type: String, to_type: String)

  /** Streaming first-order Markov transition extraction — the incremental
    * feed of [[graft.ext.EventOps.pathTransitions]]'s matrix (and, one
    * aggregation later, of [[graft.ext.EventOps.markovStationary]]):
    * each user's state is only their LAST event; every arrival emits the
    * (last → current) pair and advances the state. A batch lead() window
    * needs the user's whole history in one place; this shape emits each
    * transition the moment its successor arrives with O(1) state per
    * user — the production feed for a continuously-updated transition
    * matrix. Out-of-order arrivals inside a micro-batch sort before
    * folding (the [[sessionize]] discipline); unlike sessions, no
    * transition is ever withheld — each pair is final the moment it is
    * emitted, so the drained stream reproduces the batch matrix exactly.
    *
    * PRECONDITION: event time must be non-decreasing ACROSS micro-batches
    * per user (in-batch disorder is fine — it sorts). Because each pair is
    * final on emission and only the last event is retained, an event
    * arriving in a later batch with an earlier timestamp could never be
    * reconciled — so it FAILS LOUDLY (see the guard) instead of silently
    * corrupting the transition feed. A production deployment feeds this
    * from a per-key-ordered log (Kafka per-partition order) or re-orders
    * upstream with a watermarked sort.
    */
  def transitions(events: Dataset[Ev]): Dataset[TransOut] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[TransState, TransOut](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (userId: Long, rows: Iterator[Ev], state: GroupState[TransState]) =>
          val sorted = rows.toSeq.sortBy(e => (usOf(e), e.event_id))
          val out = Seq.newBuilder[TransOut]
          var prev = state.getOption
          sorted.foreach { e =>
            val us = usOf(e)
            prev.foreach { p =>
              require(us > p.lastUs || (us == p.lastUs && e.event_id >= p.lastId),
                s"cross-batch out-of-order arrival for user $userId: event " +
                  s"${e.event_id}@${us}us behind retained state " +
                  s"${p.lastId}@${p.lastUs}us — emitted pairs are final, so " +
                  "late data cannot be reconciled; re-order upstream")
              out += TransOut(userId, p.lastType, e.event_type)
            }
            prev = Some(TransState(us, e.event_id, e.event_type))
          }
          prev.foreach(state.update)
          out.result().iterator
      }
  }

  /** Streaming inter-event gaps — the incremental feed of
    * [[graft.ext.EventOps.gapRegularity]]'s bot-detection power sums:
    * per-user state is only the LAST event ([[transitions]]'s O(1)
    * shape); every arrival emits its whole-second gap to the previous
    * event and advances the state. Gaps are order-independent once
    * emitted (the power sums Σg, Σg² commute), which is exactly why this
    * regularity metric streams cleanly while rank statistics don't —
    * each emitted gap is final, so the drained stream reproduces the
    * batch gap multiset and therefore the batch CV² bit-for-bit.
    * Same cross-batch ordering PRECONDITION and loud-failure guard as
    * [[transitions]].
    */
  case class GapOut(user_id: Long, gap_s: Long)

  def gapsStateful(events: Dataset[Ev]): Dataset[GapOut] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[TransState, GapOut](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (userId: Long, rows: Iterator[Ev], state: GroupState[TransState]) =>
          val sorted = rows.toSeq.sortBy(e => (usOf(e), e.event_id))
          val out = Seq.newBuilder[GapOut]
          var prev = state.getOption
          sorted.foreach { e =>
            val us = usOf(e)
            prev.foreach { p =>
              require(us > p.lastUs || (us == p.lastUs && e.event_id >= p.lastId),
                s"cross-batch out-of-order arrival for user $userId: event " +
                  s"${e.event_id}@${us}us behind retained state " +
                  s"${p.lastId}@${p.lastUs}us — emitted gaps are final, so " +
                  "late data cannot be reconciled; re-order upstream")
              out += GapOut(userId, (us - p.lastUs) / 1000000L)
            }
            prev = Some(TransState(us, e.event_id, e.event_type))
          }
          prev.foreach(state.update)
          out.result().iterator
      }
  }

  /** Declared streaming gap-regularity query: drain [[gapsStateful]]
    * with AvailableNow, then fold the drained gap table into the same
    * exact-integer power sums and single final CV² division as the batch
    * twin — aggregation on the serving side because CV² needs the final
    * counts. Oracle: the batch `ev_gap_regularity` SQL verbatim.
    */
  def regularityStream(s: SparkSession, d: String): DataFrame = {
    val ss = tuned(s, perKey = true)
    import ss.implicits._
    val evs = eventsStream(ss, d)
      .select(col("event_id"), col("ts"), col("user_id"),
        col("event_type"), col("value"))
      .as[Ev]
    drain(gapsStateful(evs)
      .writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("graft_stream_regularity"))
    ss.table("graft_stream_regularity")
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_gaps"),
        sum(col("gap_s")).as("sum_gap_s"),
        sum(col("gap_s") * col("gap_s")).as("sum_gap_sq"))
      .filter(col("n_gaps") >= 5)
      .withColumn("mean_gap_s",
        col("sum_gap_s").cast("double") / col("n_gaps").cast("double"))
      .withColumn("cv2",
        (col("n_gaps") * col("sum_gap_sq")
          - col("sum_gap_s") * col("sum_gap_s")).cast("double")
          / (col("n_gaps") - 1).cast("double")
          / col("sum_gap_s").cast("double")
          / col("sum_gap_s").cast("double")
          * col("n_gaps").cast("double"))
      .select(col("user_id"), col("n_gaps"), col("sum_gap_s"),
        col("sum_gap_sq"), col("mean_gap_s"), col("cv2"))
      .orderBy(col("user_id"))
  }

  /** Declared streaming transition-matrix query: drain [[transitions]]
    * with AvailableNow, then roll the drained pair table up to the
    * (from, to, n, share) matrix — aggregation on the SERVING side, the
    * [[topkStream]] split, because the per-from share needs the final
    * counts. Oracle: the batch `ev_path_transitions` SQL verbatim.
    */
  def transitionsStream(s: SparkSession, d: String): DataFrame = {
    val ss = tuned(s, perKey = true)
    import ss.implicits._
    val evs = eventsStream(ss, d)
      .select(col("event_id"), col("ts"), col("user_id"),
        col("event_type"), col("value"))
      .as[Ev]
    drain(transitions(evs)
      .writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("graft_stream_transitions"))
    val wFrom = org.apache.spark.sql.expressions.Window
      .partitionBy(col("from_type"))
    ss.table("graft_stream_transitions")
      .groupBy(col("from_type"), col("to_type"))
      .agg(count(lit(1)).as("n"))
      .withColumn("share",
        col("n").cast("double") / sum(col("n")).over(wFrom))
      .orderBy(col("from_type"), col("to_type"))
  }

  /** Timeout-finalizing sessionizer: identical fold, but the open session
    * also closes when the EVENT-TIME WATERMARK passes its end + gap — so
    * an infinite stream eventually emits EVERY session without waiting for
    * the user's next event (the [[sessionize]] form only closes on a
    * successor). Input must carry `withWatermark("ts", …)`. After a
    * timeout the state shrinks to a TOMBSTONE holding only the next
    * session ordinal, so (user_id, session_id) stays unique while the
    * tombstone lives — immediate state removal would restart a returning
    * user at session_id 1 and silently collide with the already-emitted
    * session downstream. Tombstones are NOT retained forever: each
    * registers a [[tombstoneTtlUs]] event-time timeout (default 30 days)
    * and is removed when it fires, bounding state to users active within
    * the TTL window instead of O(all users ever seen). A user returning
    * after the TTL restarts at session_id 1 — acceptable because any
    * consumer joining on (user_id, session_id) across a >30-day gap
    * should already be windowing by time. (Key on
    * (user_id, session_start) instead if even TTL'd tombstones are too
    * much state.)
    */
  def sessionizeWithTimeout(events: Dataset[Ev]): Dataset[SessionOut] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[SessState, SessionOut](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (userId: Long, rows: Iterator[Ev], state: GroupState[SessState]) =>
          if (state.hasTimedOut) {
            val st = state.get
            if (st.n == 0L) { // tombstone TTL expired: drop the state
              state.remove()
              Iterator.empty
            } else {
              state.update(SessState(st.sessionId + 1, 0L, 0L, 0L, 0L))
              state.setTimeoutTimestamp(
                state.getCurrentWatermarkMs() + tombstoneTtlUs / 1000)
              Iterator.single(outOf(userId, st))
            }
          } else {
            val sorted = rows.toSeq.sortBy(e => (usOf(e), e.event_id))
            val (closed, st) = foldSessions(userId, sorted, state.getOption)
            state.update(st)
            if (st.n > 0L) {
              // fire once the watermark passes the close horizon — clamped
              // above the current watermark: a late event can fold into
              // state with an endUs whose horizon is already behind the
              // watermark, and setTimeoutTimestamp throws on that (which
              // would kill the whole query)
              val horizonMs = st.endUs / 1000 + gapUs / 1000
              state.setTimeoutTimestamp(
                math.max(horizonMs, state.getCurrentWatermarkMs() + 1))
            }
            closed.iterator
          }
      }
  }

  /** Declared stateful-sessionization query: the flatMapGroupsWithState
    * sessionizer over the events STREAM, drained with AvailableNow. Emits
    * every CLOSED session; each user's final session is still open in
    * state when a bounded run ends, so the DuckDB oracle is the batch
    * gaps-and-islands form minus each user's last session.
    *
    * Scale: state is ONE fixed-width record per user (no event
    * buffering); closed sessions stream out as gaps arrive. This is the
    * production shape for infinite-stream sessionization where
    * session_window needs the whole session in flight.
    */
  def sessionizeStream(s: SparkSession, d: String): DataFrame = {
    val ss = tuned(s, perKey = true)
    import ss.implicits._
    val evs = eventsStream(ss, d)
      .select(col("event_id"), col("ts"), col("user_id"),
        col("event_type"), col("value"))
      .as[Ev]
    drain(sessionize(evs)
      .writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("graft_stream_sessionize"))
    ss.table("graft_stream_sessionize")
      .orderBy(col("user_id"), col("session_id"))
  }

  /** Oracle for [[sessionizeStream]]: batch gaps-and-islands sessions,
    * excluding each user's LAST session (still open in stream state).
    */
  val sessionizeStreamOracle: String =
    """WITH marked AS (
      |  SELECT user_id, event_id, ts, value,
      |         CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
      |                OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800000000
      |              THEN 1::BIGINT ELSE 0::BIGINT END AS new_sess
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      |sess AS (
      |  SELECT *, CAST(SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |                                     ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
      |  FROM marked),
      |agg AS (
      |  SELECT user_id, session_id, COUNT(*) AS n_events,
      |         MIN(ts) AS session_start, MAX(ts) AS session_end,
      |         CAST(SUM(CAST(value AS DECIMAL(30,4))) AS DOUBLE) AS sum_value
      |  FROM sess GROUP BY 1, 2)
      |SELECT user_id, session_id, n_events, session_start, session_end, sum_value
      |FROM (SELECT *, MAX(session_id) OVER (PARTITION BY user_id) AS max_sid FROM agg)
      |WHERE session_id < max_sid
      |ORDER BY user_id, session_id""".stripMargin

  /** Streaming exact dedup: first occurrence of each (user_id, event_type)
    * pair across the whole stream via stateful dropDuplicates — the
    * streaming twin of a batch DISTINCT projection. Only the key columns
    * are emitted (which physical row arrives first is racy; the distinct
    * key set is deterministic), so the drained result hash-matches the
    * batch oracle.
    *
    * Scale: plain dropDuplicates keeps one state row per distinct key
    * FOREVER — fine for a bounded drain or a small key space like this
    * one, but an infinite stream with unbounded keys needs
    * dropDuplicatesWithinWatermark so state ages out (StreamingSpec
    * demonstrates the eviction semantics).
    */
  def dedupStream(s: SparkSession, d: String): DataFrame = {
    val ss = tuned(s)
    drain(eventsStream(ss, d)
      .select(col("user_id"), col("event_type"))
      .dropDuplicates("user_id", "event_type")
      .writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("graft_stream_dedup"))
    ss.table("graft_stream_dedup")
      .orderBy(col("user_id"), col("event_type"))
  }

  val dedupStreamOracle: String =
    """SELECT DISTINCT user_id, event_type FROM events
      |ORDER BY user_id, event_type""".stripMargin

  /** STREAMING WRITE-AUDIT-PUBLISH — the composition of the streaming
    * ingest path with [[graft.sources.KvSink]]'s WAP branches: every
    * micro-batch appends to the `ingest` BRANCH (invisible to main),
    * the foreachBatch hook then audits the WOULD-BE table (main ∪
    * branch: nonempty, key-unique) and only a passing batch is
    * published — a metadata-only fast-forward. Main is therefore never
    * observable in a state that hasn't passed the gate, at any drain
    * point — the continuous-ingestion version of the nightly WAP
    * pattern (s19_wap_branch), with the reject path spec-pinned in
    * SourceSinkSpec. The drained table must equal the batch projection
    * of everything ingested, which the DuckDB oracle checks.
    *
    * At 100 TB: the branch write is the same distributed append as any
    * commit; audit reads manifests + the new files; publish is one
    * CAS'd manifest append per micro-batch — O(KB) however large the
    * batch.
    */
  def wapStream(s: SparkSession, d: String): DataFrame = {
    import graft.sources.KvSink
    val ss = tuned(s)
    val root = Scratch.dir("stwap")
    val tbl = s"$root/table"
    def readPaths(paths: Seq[String]) =
      if (paths.isEmpty) ss.emptyDataFrame.select(
        expr("CAST(NULL AS BIGINT)").as("key"),
        expr("CAST(NULL AS STRING)").as("val")).filter(lit(false))
      else ss.read.schema("key LONG, val STRING").csv(paths: _*)
    val writer = (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
        batchId: Long) => {
      if (!batch.isEmpty) {
        batch.select(col("event_id").as("key"), col("event_type").as("val"))
          .write.format("graft.sources.KvSink").mode("append")
          .option("path", tbl).option("branch", "ingest").save()
        // the audit gate, BEFORE anything becomes reader-visible
        val preview = readPaths(
          KvSink.committedPaths(tbl) ++ KvSink.branchPaths(tbl, "ingest"))
        val Seq(n, k) = preview
          .agg(count(lit(1)), countDistinct(col("key"))).collect()(0)
          .toSeq.map(_.asInstanceOf[Long]) // bounded: two QC scalars
        require(n > 0 && n == k,
          s"streaming audit gate failed at batch $batchId: $n rows, $k keys")
        KvSink.publish(tbl, "ingest"): Unit
      }
    }: Unit
    drain(eventsStream(ss, d)
      .select(col("event_id"), col("event_type"))
      .writeStream.outputMode(OutputMode.Append())
      .option("checkpointLocation", s"$root/_checkpoint")
      .foreachBatch(writer))
    readPaths(KvSink.committedPaths(tbl))
      .groupBy(col("val"))
      .agg(count(lit(1)).as("n_rows"), sum(col("key")).as("key_sum"))
      .orderBy(col("val"))
  }

  val wapStreamOracle: String =
    """SELECT event_type AS val, CAST(COUNT(*) AS BIGINT) AS n_rows,
      |       CAST(SUM(event_id) AS BIGINT) AS key_sum
      |FROM events GROUP BY 1 ORDER BY val""".stripMargin

  /** foreachBatch exactly-once file sink — the production pattern for
    * targets Spark has no native streaming connector for (JDBC, object
    * stores with custom layouts): each micro-batch of the complete-mode
    * aggregate lands as a parquet directory keyed by its BATCH ID in
    * overwrite mode, so a replayed batch (checkpoint recovery re-delivers
    * the same id) overwrites its own output instead of appending
    * duplicates — idempotence from (deterministic id × overwrite), the
    * documented exactly-once recipe. The returned frame RE-READS what
    * landed on disk (latest batch wins; complete mode rewrites the full
    * aggregate each batch), so the DuckDB oracle verifies the actual
    * file contents, not an in-memory stream. StreamingSpec replays the
    * same sink pattern over a `MemoryStream` and one checkpoint to prove
    * that a replayed batch lands no duplicate rows.
    */
  def foreachBatchSink(s: SparkSession, d: String): DataFrame = {
    val ss = tuned(s)
    // emptied on every build, checkpoint included, so each build is a
    // fresh bounded drain (a retained checkpoint would no-op the replay)
    // and no earlier run's batch can win the max(batch_id) pick below
    val out = Scratch.dir("febatch")
    val writer = (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
        batchId: Long) =>
      batch.write.mode("overwrite").parquet(s"$out/data/batch_id=$batchId")
    drain(eventsStream(ss, d)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"), Det.dsum(col("value")).as("sum_value"))
      .writeStream.outputMode(OutputMode.Complete())
      .option("checkpointLocation", s"$out/_checkpoint")
      .foreachBatch(writer))
    // zero-batch drain (empty source) → nothing landed: return the empty
    // result frame instead of crashing on a missing directory/null max
    if (!new java.io.File(s"$out/data").exists())
      return ss.sql(
        """SELECT CAST(NULL AS STRING) AS event_type,
          |CAST(NULL AS BIGINT) AS n_events, CAST(NULL AS DOUBLE) AS sum_value
          |WHERE FALSE""".stripMargin)
    val all = ss.read.option("basePath", s"$out/data").parquet(s"$out/data")
    // the partition-dir value is discovery-typed (int), so cast explicitly
    val last = all.agg(max(col("batch_id")).cast("long")).head.getLong(0)
    all.filter(col("batch_id") === last)
      .select(col("event_type"), col("n_events"), col("sum_value"))
      .orderBy(col("event_type"))
  }

  val foreachBatchSinkOracle: String =
    """SELECT event_type, COUNT(*) AS n_events,
      |       CAST(SUM(CAST(value AS DECIMAL(30,4))) AS DOUBLE) AS sum_value
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  /** Incrementally-maintained reconciliation fingerprint — the streaming
    * twin of `qc_table_checksum`: because the fingerprint is a
    * commutative (count, hash-sum) pair, a stream can maintain it with a
    * constant-size aggregation state and at any drain point it equals
    * the batch fingerprint of everything ingested so far — continuous
    * replica verification without rescanning. Per-row decimal cast
    * before the sum (2^60-scale hash values overflow a BIGINT sum).
    */
  def checksumStream(s: SparkSession, d: String): DataFrame = {
    val ss = tuned(s)
    drain(eventsStream(ss, d)
      .select(expr(graft.ext.Hashing.sparkHash(
        "concat_ws('|', event_id, user_id, event_type)")).as("h"))
      .agg(count(lit(1)).as("n_rows"),
        sum(col("h").cast("decimal(30,0)")).cast("string").as("checksum"))
      .writeStream.outputMode(OutputMode.Complete())
      .format("memory").queryName("graft_stream_checksum"))
    ss.table("graft_stream_checksum")
  }

  val checksumStreamOracle: String =
    s"""SELECT COUNT(*) AS n_rows,
       |  CAST(SUM(${graft.ext.Hashing.duckHash(
            "concat_ws('|', event_id, user_id, event_type)")}) AS VARCHAR) AS checksum
       |FROM events""".stripMargin

  /** Streaming sketch maintenance: the verified HLL's registers
    * ([[graft.ext.HyperLogLog]]) kept up to date by a streaming
    * max-aggregate over the events source — the state store holds exactly
    * m=256 (bucket, mj) rows no matter how much data streams through,
    * the constant-memory property that makes sketches the right tool for
    * streaming cardinality. The drained registers finish into the same
    * estimate the batch pass produces, so the whole streaming path is
    * DuckDB-oracle-verified.
    */
  def hllStream(s: SparkSession, d: String): DataFrame = {
    import graft.ext.{Hashing, HyperLogLog}
    val ss = tuned(s)
    drain(HyperLogLog.regsOf(
      eventsStream(ss, d)
        .select(expr(Hashing.sparkHash("CAST(user_id AS STRING)")).as("h")))
      .writeStream.outputMode(OutputMode.Complete())
      .format("memory").queryName("graft_stream_hll"))
    val est = HyperLogLog.estOf(ss, ss.table("graft_stream_hll"), "est_distinct")
    val exact = graft.Tables.events(ss, d)
      .agg(graft.Det.exactDistinct(col("user_id")).as("true_distinct"))
    est.crossJoin(exact)
      .select(lit(HyperLogLog.M).cast("long").as("m"), col("est_distinct"),
        col("true_distinct"))
  }

  /** Streaming count-min maintenance — the frequency sibling of
    * [[hllStream]]: the CMS counter table ([[graft.ext.CountMinAgg]]'s
    * exact D×W grid) expressed as an incremental (i, bucket) count
    * aggregate, so the state store holds AT MOST D·W = 1024 rows no
    * matter how much data streams through — the constant-state property
    * that lets one query watch per-key frequencies (heavy hitters, skew
    * alarms) over an unbounded stream. Estimates are read at drain time
    * by probing the materialized counters (min over the D rows, exactly
    * the batch read path), and because CMS counters are plain additive
    * counts the drained grid is bit-equal to the batch build — the whole
    * streaming path is DuckDB-oracle-verified, true-count column
    * included.
    */
  def cmsStream(s: SparkSession, d: String): DataFrame = {
    import graft.ext.{CountMinAgg, Hashing}
    val ss = tuned(s)
    val D = CountMinAgg.D
    val W = CountMinAgg.W
    val M40 = 1099511627776L // 2^40
    def bucketExpr = s"((2 * i + 1) * (h % ${M40}L) + i * 2654435761L) % ${M40}L % $W"
    drain(eventsStream(ss, d)
      .select(expr(Hashing.sparkHash("CAST(user_id AS STRING)")).as("h"))
      .select(col("h"), explode(expr(s"sequence(0, ${D - 1})")).as("i"))
      .withColumn("b", expr(bucketExpr))
      .groupBy(col("i"), col("b"))
      .agg(count(lit(1)).as("c"))
      .writeStream.outputMode(OutputMode.Complete())
      .format("memory").queryName("graft_stream_cms"))
    val counters = ss.table("graft_stream_cms")
    val probes = ss.range(1, 26).select(col("id").as("user_id"))
      .withColumn("h", expr(Hashing.sparkHash("CAST(user_id AS STRING)")))
      .select(col("user_id"), col("h"),
        explode(expr(s"sequence(0, ${D - 1})")).as("i"))
      .withColumn("b", expr(bucketExpr))
    val exact = graft.Tables.events(ss, d)
      .groupBy(col("user_id")).agg(count(lit(1)).as("true_count"))
    probes.join(counters, Seq("i", "b"), "left")
      .groupBy(col("user_id"))
      .agg(min(coalesce(col("c"), lit(0L))).as("est"))
      .join(exact, Seq("user_id"), "left")
      .select(col("user_id"), col("est"),
        coalesce(col("true_count"), lit(0L)).as("true_count"))
      .orderBy(col("user_id"))
  }

  val cmsStreamOracle: String = {
    import graft.ext.Hashing.duckHash
    val D = graft.ext.CountMinAgg.D
    val W = graft.ext.CountMinAgg.W
    val M40 = 1099511627776L
    s"""WITH h AS (
       |  SELECT ${duckHash("CAST(user_id AS VARCHAR)")} AS h FROM events),
       |counters AS (
       |  SELECT i, ((2*i+1) * (h % $M40) + i * 2654435761) % $M40 % $W AS b,
       |         COUNT(*) AS c
       |  FROM h CROSS JOIN (SELECT unnest(range(0, $D)) AS i)
       |  GROUP BY 1, 2),
       |probe AS (
       |  SELECT k, ${duckHash("CAST(k AS VARCHAR)")} AS h
       |  FROM (SELECT unnest(range(1, 26)) AS k)),
       |pb AS (
       |  SELECT k, i,
       |         ((2*i+1) * (h % $M40) + i * 2654435761) % $M40 % $W AS b
       |  FROM probe CROSS JOIN (SELECT unnest(range(0, $D)) AS i)),
       |exact AS (
       |  SELECT user_id AS k, COUNT(*) AS true_count FROM events GROUP BY 1)
       |SELECT CAST(pb.k AS BIGINT) AS user_id,
       |       CAST(MIN(COALESCE(c.c, 0)) AS BIGINT) AS est,
       |       CAST(COALESCE(ANY_VALUE(exact.true_count), 0) AS BIGINT) AS true_count
       |FROM pb LEFT JOIN counters c ON pb.i = c.i AND pb.b = c.b
       |       LEFT JOIN exact ON pb.k = exact.k
       |GROUP BY pb.k ORDER BY user_id""".stripMargin
  }

  /** Streaming quantiles from a bounded histogram — the percentile
    * sibling of [[cmsStream]]: the state store maintains unit-width
    * bucket counts of the value column (≤ ~500 rows — bounded by the
    * value DOMAIN, not the stream), and P50/P90/P99 are read at drain
    * time by walking the cumulative histogram to each target rank —
    * the classic fixed-bucket quantile sketch (error ≤ one bucket
    * width), here with every step integer-exact: target rank is
    * ceil(q·N/100) in integer arithmetic, the answering bucket is the
    * one whose cumulative count first reaches it, and the EXACT
    * order-statistic at that rank rides along as the verification
    * column (rank-select, no interpolation — so the whole table,
    * sketch and truth, hash-verifies cross-engine).
    */
  def quantileStream(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val ss = tuned(s)
    drain(eventsStream(ss, d)
      .select(floor(col("value")).cast("long").as("b"))
      .groupBy(col("b")).agg(count(lit(1)).as("cnt"))
      .writeStream.outputMode(OutputMode.Complete())
      .format("memory").queryName("graft_stream_quantile"))
    val hist = ss.table("graft_stream_quantile")
    val wCum = org.apache.spark.sql.expressions.Window.orderBy(col("b"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    val cum = hist.withColumn("cum", sum(col("cnt")).over(wCum))
    val tot = hist.agg(sum(col("cnt")).as("n_events"))
    val targets = Seq(50L, 90L, 99L).toDF("q")
      .crossJoin(broadcast(tot))
      .withColumn("target_rank", expr("(q * n_events + 99) DIV 100"))
    val buckets = targets.join(cum,
      col("cum") >= col("target_rank")
        && (col("cum") - col("cnt")) < col("target_rank"))
    val wRank = org.apache.spark.sql.expressions.Window
      .orderBy(col("value"), col("event_id"))
    val exact = graft.Tables.events(ss, d)
      .select(col("event_id"), col("value"))
      .withColumn("rk", row_number().over(wRank).cast("long"))
    buckets.join(exact, col("rk") === col("target_rank"))
      .select(col("q"), col("n_events"), col("target_rank"),
        col("b").as("bucket_lo"), col("cnt").as("bucket_count"),
        col("value").as("exact_value"))
      .orderBy(col("q"))
  }

  val quantileStreamOracle: String =
    """WITH hist AS (
      |  SELECT CAST(floor(value) AS BIGINT) AS b, COUNT(*) AS cnt
      |  FROM events GROUP BY 1),
      |cum AS (
      |  SELECT b, cnt,
      |         CAST(SUM(cnt) OVER (ORDER BY b
      |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
      |  FROM hist),
      |tot AS (SELECT COUNT(*) AS n_events FROM events),
      |ks AS (SELECT CAST(unnest([50, 90, 99]) AS BIGINT) AS q),
      |tg AS (SELECT q, n_events, (q * n_events + 99) // 100 AS target_rank
      |       FROM ks CROSS JOIN tot),
      |bk AS (
      |  SELECT tg.q, tg.n_events, tg.target_rank, c.b AS bucket_lo,
      |         c.cnt AS bucket_count
      |  FROM tg JOIN cum c
      |    ON c.cum >= tg.target_rank AND (c.cum - c.cnt) < tg.target_rank),
      |rk AS (
      |  SELECT value,
      |         CAST(ROW_NUMBER() OVER (ORDER BY value, event_id) AS BIGINT) AS rk
      |  FROM events)
      |SELECT q, bk.n_events, CAST(bk.target_rank AS BIGINT) AS target_rank,
      |       bucket_lo, bucket_count, rk.value AS exact_value
      |FROM bk JOIN rk ON rk.rk = bk.target_rank
      |ORDER BY q""".stripMargin

  /** Streaming windowed top-k — the live-leaderboard shape: a tumbling
    * 1-hour count aggregate maintained by the state store (Complete
    * mode), ranked per window at serving time. The rank/aggregate SPLIT
    * is the point: row_number is not an incremental-state operator, so
    * the production pattern is exactly this — the stream maintains the
    * additive (mergeable, bounded-state) aggregate, and the serving
    * layer ranks the materialized table per read. The drained result
    * equals the batch twin, so the whole path is oracle-verified.
    */
  def topkStream(s: SparkSession, d: String): DataFrame = {
    val ss = tuned(s)
    drain(eventsStream(ss, d)
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("window.start").as("hour_start"), col("event_type"),
        col("n_events"))
      .writeStream.outputMode(OutputMode.Complete())
      .format("memory").queryName("graft_stream_topk"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("hour_start"))
      .orderBy(desc("n_events"), col("event_type"))
    ss.table("graft_stream_topk")
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= 3)
      .orderBy(col("hour_start"), col("rank"))
  }

  val topkStreamOracle: String =
    """WITH c AS (
      |  SELECT date_trunc('hour', ts) AS hour_start, event_type,
      |         COUNT(*) AS n_events
      |  FROM events GROUP BY 1, 2),
      |r AS (SELECT hour_start, event_type, n_events,
      |        CAST(ROW_NUMBER() OVER (PARTITION BY hour_start
      |          ORDER BY n_events DESC, event_type) AS BIGINT) AS rank
      |      FROM c)
      |SELECT hour_start, event_type, n_events, rank
      |FROM r WHERE rank <= 3 ORDER BY hour_start, rank""".stripMargin

  val hllStreamOracle: String = {
    import graft.ext.{Hashing, HyperLogLog}
    s"""WITH h AS (
       |  SELECT ${Hashing.duckHash("CAST(user_id AS VARCHAR)")} AS h FROM events),
       |${HyperLogLog.duckRegs("h", "d")},
       |${HyperLogLog.duckEst("d")},
       |exact AS (
       |  SELECT COUNT(DISTINCT user_id) AS true_distinct FROM events)
       |SELECT CAST(${HyperLogLog.M} AS BIGINT) AS m, v AS est_distinct,
       |       true_distinct
       |FROM est_d CROSS JOIN exact""".stripMargin
  }

  /** Streaming OBSERVABILITY frame — the thing an operator actually
    * watches at 100 TB: per-micro-batch state-store and watermark
    * telemetry, surfaced as a queryable DataFrame instead of buried in
    * logs. Runs a watermarked stateful drain (1-hour tumbling window
    * aggregate over the events source — the canonical state-store shape)
    * and converts each `StreamingQueryProgress` into one row:
    *
    *   batch_id, num_input_rows, state_rows_total, state_rows_updated,
    *   state_memory_bytes, watermark_ms, max_event_ms,
    *   watermark_lag_ms (max event time − watermark — the number that
    *   pages someone when it grows), batch_duration_ms.
    *
    * The progress array is bounded by construction (Spark retains ≤
    * `spark.sql.streaming.numRecentProgressUpdates` = 100 entries, and an
    * AvailableNow drain emits a handful of batches), so materializing it
    * driver-side is the same bounded-collect contract as the QC gate
    * reports — never data-proportional. ROWS-ONLY BY DESIGN in the
    * correctness gate: state memory bytes and batch durations are
    * engine-internal measurements no other engine can replay;
    * StreamingSpec pins the invariants instead (presence, batch_id
    * monotonicity, watermark monotonicity, input-row conservation vs the
    * batch table, positive state size while windows are open).
    */
  def observabilityFrame(s: SparkSession, d: String): DataFrame = {
    val ss = tuned(s)
    val q = drain(eventsStream(ss, d)
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n_events"))
      .writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("graft_stream_obs"))
    def iso(v: String): Long =
      if (v == null) 0L else java.time.Instant.parse(v).toEpochMilli
    val rows = q.recentProgress.toSeq.map { p =>
      val so = p.stateOperators.headOption
      val wm = iso(p.eventTime.get("watermark"))
      val mx = iso(p.eventTime.get("max"))
      (p.batchId, p.numInputRows,
        so.map(_.numRowsTotal).getOrElse(0L),
        so.map(_.numRowsUpdated).getOrElse(0L),
        so.map(_.memoryUsedBytes).getOrElse(0L),
        wm, mx, math.max(0L, mx - wm), p.batchDuration)
    }
    import ss.implicits._
    rows.toDF("batch_id", "num_input_rows", "state_rows_total",
      "state_rows_updated", "state_memory_bytes", "watermark_ms",
      "max_event_ms", "watermark_lag_ms", "batch_duration_ms")
      .orderBy(col("batch_id"))
  }

  /** Streaming read through the custom DataSourceV2 connector
    * ([[graft.sources.SeqSource]], MICRO_BATCH_READ): offsets are row
    * positions, advancement is admission-controlled to a quarter of the
    * table per poll, so the AvailableNow drain arrives in ≥ 4 genuine
    * micro-batches (StreamingSpec pins the batch count and a
    * checkpoint-restart replay over the same offsets). The complete-mode
    * aggregate folds those incremental slices into exactly the batch
    * answer, which DuckDB replays from generate_series — so what the
    * oracle certifies is the connector's OFFSET ARITHMETIC: any
    * off-by-one in latestOffset/planInputPartitions(start, end) drops or
    * doubles a range and the sums diverge.
    */
  def dsv2Stream(s: SparkSession, d: String): DataFrame = {
    val ss = tuned(s)
    drain(ss.readStream.format("graft.sources.SeqSource")
      .option("rows", 100000).option("slices", 8).load()
      .groupBy(col("mod7"))
      .agg(count(lit(1)).as("n"), sum(col("sq")).as("sum_sq"))
      .writeStream.outputMode(OutputMode.Complete())
      .format("memory").queryName("graft_stream_dsv2"))
    ss.table("graft_stream_dsv2").orderBy(col("mod7"))
  }

  /** Streaming CDC UPSERT — the warehouse-ingestion pattern that ties the
    * connector legs together: the admission-controlled DSv2 stream
    * delivers ≥4 genuine micro-batches, and EACH batch folds into the
    * row-level-operation catalog table with a SQL MERGE (matched users
    * update last_type and accumulate n_events; new users insert). The
    * drained table must therefore equal the one-shot batch aggregate —
    * which DuckDB replays from generate_series — so what the oracle
    * certifies is the incremental-fold algebra: any dropped, doubled or
    * misordered batch breaks either the counts or the last-writer field.
    *
    * Exactly-once under REPLAY: MERGE accumulation alone is not
    * idempotent, so the fold keeps a batch-id LEDGER next to the target —
    * a replayed batch (offsets committed only after foreachBatch returns,
    * so a crash mid-drain re-delivers the in-flight batch id) hits the
    * ledger and is skipped instead of double-counted. StreamingSpec
    * proves it: a query killed AFTER batch 2's fold lands (but before its
    * offset commit) resumes from checkpoint, re-receives batch 2, skips
    * it, and drains to exactly the uninterrupted result. Residual honesty:
    * fold and ledger-append are two writes, so a crash BETWEEN them still
    * double-counts on replay — closing that window needs the data and the
    * ledger in ONE atomic snapshot commit, which is precisely what
    * transactional table formats (Delta/Iceberg) add over this two-table
    * form.
    */
  def mergeUpsertStream(s: SparkSession, d: String): DataFrame =
    mergeUpsertStreamInto(s, d, "user_state", (_, _) => ())

  /** [[mergeUpsertStream]] parameterized for the restart spec: target
    * table name and a post-fold hook (the spec's crash injection point —
    * AFTER the fold + ledger land, BEFORE the offset commit).
    */
  private[graft] def mergeUpsertStreamInto(s: SparkSession, d: String,
      table: String, afterFold: (Long, SparkSession) => Unit): DataFrame = {
    val ss = tuned(s)
    ss.conf.set("spark.sql.catalog.graft_cat", "graft.sources.MemCatalog")
    ss.sql(s"CREATE TABLE IF NOT EXISTS graft_cat.ns.$table " +
      "(user_id BIGINT, last_type STRING, n_events BIGINT)")
    ss.sql(s"CREATE TABLE IF NOT EXISTS graft_cat.ns.${table}_foldlog " +
      "(batch_id BIGINT)")
    drain(ss.readStream.format("graft.sources.SeqSource")
      .option("rows", 10000).option("slices", 8).load()
      .select(col("id"), (col("id") % 50).as("user_id"),
        expr("CASE CAST(id % 3 AS INT) WHEN 0 THEN 'click' " +
          "WHEN 1 THEN 'view' ELSE 'purchase' END").as("et"))
      .writeStream.outputMode(OutputMode.Append())
      .foreachBatch { (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], id: Long) =>
        val bs = b.sparkSession
        val replayed = bs.table(s"graft_cat.ns.${table}_foldlog")
          .filter(col("batch_id") === id).count() > 0
        if (!replayed) {
          b.createOrReplaceTempView("graft_cdc_batch")
          bs.sql(
            s"""MERGE INTO graft_cat.ns.$table t
               |USING (SELECT user_id, max_by(et, id) AS last_type,
               |              COUNT(*) AS n_batch
               |       FROM graft_cdc_batch GROUP BY user_id) s
               |ON t.user_id = s.user_id
               |WHEN MATCHED THEN UPDATE SET
               |  t.last_type = s.last_type, t.n_events = t.n_events + s.n_batch
               |WHEN NOT MATCHED THEN INSERT (user_id, last_type, n_events)
               |  VALUES (s.user_id, s.last_type, s.n_batch)""".stripMargin)
          bs.sql(s"INSERT INTO graft_cat.ns.${table}_foldlog VALUES ($id)")
        }
        afterFold(id, bs)
        ()
      })
    ss.table(s"graft_cat.ns.$table").orderBy(col("user_id"))
  }
}
