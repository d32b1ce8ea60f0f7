package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{
  DataStreamWriter, GroupState, GroupStateTimeout, OutputMode, StreamingQuery, Trigger}

import graft.rel.Queries.{events, table}

/** S1/S2 — event-time windowed aggregation over the `events` table
  * (`ts` timestamp, `user_id`, `event_type`, `value`).
  *
  * Each transform is written against a plain DataFrame so the SAME code
  * runs in two modes:
  *  - batch: applied to the parquet table → declared queries with DuckDB
  *    oracles (`time_bucket` / gaps-and-islands SQL);
  *  - streaming: applied to a `readStream`/MemoryStream source with a
  *    watermark → incremental state-store execution (StreamingSuite).
  *
  * Spark's window semantics: tumbling/sliding windows are epoch-aligned
  * [start, end); a session window spans [first event, last event + gap),
  * merging events whose gap is less than OR EQUAL TO `gap` (verified
  * empirically: an exactly-gap-sized step still merges; only a strictly
  * larger gap starts a new session — the q30 oracle breaks on `>`).
  */
object Events {

  /** S1 — tumbling 1-hour windows: event count + value sum per window. */
  def tumbling(ev: DataFrame): DataFrame =
    ev.groupBy(window(col("ts"), "1 hour").as("w"))
      .agg(count(lit(1)).as("n_events"), round(sum(col("value")), 2).as("sum_value"))
      .select(col("w.start").as("window_start"), col("n_events"), col("sum_value"))

  /** S1 — sliding 1-hour windows every 30 minutes (each event lands in
    * exactly two windows).
    */
  def sliding(ev: DataFrame): DataFrame =
    ev.groupBy(window(col("ts"), "1 hour", "30 minutes").as("w"))
      .agg(count(lit(1)).as("n_events"), round(sum(col("value")), 2).as("sum_value"))
      .select(col("w.start").as("window_start"), col("n_events"), col("sum_value"))

  /** Session inactivity gap in minutes — one source for the
    * session-window operator, the timer sessionizer, and their tests
    * (the oracles' INTERVAL 30 MINUTE literals are pinned by hash).
    */
  val SessionGapMinutes = 30L

  /** S2 — session windows per user with a [[SessionGapMinutes]]
    * inactivity gap. The session END is emitted as last-event time
    * (window.end − gap) so the batch oracle can reproduce it with
    * max(ts).
    */
  def sessions(ev: DataFrame): DataFrame =
    ev.groupBy(session_window(col("ts"), s"$SessionGapMinutes minutes").as("w"), col("user_id"))
      .agg(count(lit(1)).as("n_events"), round(sum(col("value")), 2).as("sum_value"))
      .select(
        col("user_id"),
        col("w.start").as("session_start"),
        (col("w.end") - expr(s"INTERVAL $SessionGapMinutes MINUTES")).as("last_event"),
        col("n_events"),
        col("sum_value"))

  // ---- batch-declared queries (driver correctness gate) -----------------

  def tumblingBatch(spark: SparkSession, dir: String): DataFrame =
    tumbling(events(spark, dir)).orderBy(col("window_start"))

  def slidingBatch(spark: SparkSession, dir: String): DataFrame =
    sliding(events(spark, dir)).orderBy(col("window_start"))

  def sessionsBatch(spark: SparkSession, dir: String): DataFrame =
    sessions(events(spark, dir)).orderBy(col("user_id"), col("session_start"))

  /** State-partition count for the drained-stream wrappers below. A
    * stateful operator loads and commits one state store per shuffle
    * partition in EVERY micro-batch (a stream-stream join: four per
    * partition), whatever the batch holds. These wrappers drain a bounded
    * table whose state (at most thousands of keys) fits in a store or
    * two, so more stores are fixed per-batch cost. Measured with a
    * `graft.Bench` drain subset at sf0.1, local[8] on 4 cores, 3 runs per
    * setting (median of the run medians, 8 → 1 → 2 partitions): q82 0.48
    * → 0.37 → 0.41 s, q87 2.38 → 1.75 → 1.69, q88 1.96 → 1.31 → 1.29,
    * q90 2.32 → 1.91 → 1.72, but q81 1.19 → 1.61 → 1.20: its session-
    * window state work is CPU-heavy, and one store runs it in one task.
    * Two keep every drain at or below its 8-partition time. On a real
    * cluster state partitions are sized to key cardinality and update
    * rate, not to the submitting box.
    */
  val StreamStatePartitions = 2

  /** Child session for one streaming query: the memory sink's view
    * registers in the CHILD catalog, so concurrent or repeated queries
    * never collide on a query name or read a replaced view, and the
    * caller's session is never touched. It shares the caller's class
    * loader (artifact isolation is off in [[graft.Sessions.local]]), so a
    * repeated drain reuses the generated code compiled by the previous
    * one instead of recompiling its whole plan. Its confs:
    *  - shuffle partitions lowered to [[StreamStatePartitions]] (state
    *    stores track shuffle partitions; see above);
    *  - the FileSystem-based checkpoint manager (r18, measured first by
    *    thread-dump sampling during a q87 drain loop): the default
    *    FileContext manager's atomic rename calls Hadoop's
    *    RawLocalFileSystem.getFileLinkStatus, which without the native
    *    hadoop library SHELLS OUT to `readlink` once per checkpoint file
    *    (~7% of task-thread samples in ProcessImpl.forkAndExec under
    *    HDFSBackedStateStoreProvider.finalizeDeltaFile) and stacks
    *    ChecksumFs on every write; the FileSystem manager runs the same
    *    create-temp/rename protocol through a plain POSIX rename. The
    *    checkpoints here are always local temp dirs;
    *  - unless `durable`: Spark 4.1's per-checkpoint-file checksum
    *    sidecars off and `minBatchesToRetain=2`. An ephemeral checkpoint
    *    is never recovered after process loss, so the sidecars are pure
    *    per-batch file-op overhead and the state store need not keep its
    *    default 100 in-memory versions per partition (the transient half
    *    of the q132 repeat-run heap growth). A durable checkpoint — the
    *    q88 restart path, which a second execution resumes — keeps
    *    Spark's defaults, so it never silently loses corruption
    *    detection.
    */
  private def streamSession(spark: SparkSession, durable: Boolean): SparkSession = {
    val ss = spark.newSession()
    ss.conf.set("spark.sql.shuffle.partitions", StreamStatePartitions)
    ss.conf.set("spark.sql.streaming.checkpointFileManagerClass",
      "org.apache.spark.sql.execution.streaming.checkpointing.FileSystemBasedCheckpointFileManager")
    if (!durable) {
      ss.conf.set("spark.sql.streaming.checkpoint.fileChecksum.enabled", "false")
      ss.conf.set("spark.sql.streaming.minBatchesToRetain", "2")
    }
    ss
  }

  /** Releases what a streaming query on a [[streamSession]] holds, on
    * every exit path (r17, the q132 scaling-smoke root cause): the child
    * session leaks by design — its streaming listener bus stays attached
    * to the shared SparkContext — and both the catalog's temp view and
    * the manager's terminated-query record pin a memory sink's entire
    * update stream. At 10× scale that retained ~1.3 GB per drain (r17
    * measurement: post-GC heap across repeated q132 runs), which in a
    * loaded JVM turned repeat runs into GC thrash (the monotone
    * 13→33→56 s SCALING.json signature). The state-store providers are
    * unloaded NOW: left for the 60 s maintenance tick they build a sweep
    * long enough to stall whichever query it fires into (r17
    * measurement: intermittent 2–5× spikes on back-to-back drains).
    * Streaming queries are sequential in this engine, so nothing active
    * is unloaded.
    */
  private def release(ss: SparkSession, q: StreamingQuery): Unit = {
    if (q != null) {
      if (q.isActive) q.stop()
      Option(q.name).foreach(ss.catalog.dropTempView)
    }
    ss.streams.resetTerminated()
    org.apache.spark.sql.graft.GraftSqlBridge.unloadStateStores()
  }

  /** THE drain: starts `writer(session)` under `Trigger.AvailableNow` on a
    * fresh [[streamSession]], waits until it has processed everything
    * available, and returns `after(session)`. A failing query or a
    * throwing `after` still [[release]]s the query, its memory-sink view
    * and its state stores.
    */
  private[streaming] def drain[T](spark: SparkSession, durable: Boolean = false)(
      writer: SparkSession => DataStreamWriter[Row])(after: SparkSession => T): T = {
    val ss = streamSession(spark, durable)
    var q: StreamingQuery = null
    try {
      q = writer(ss).trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      after(ss)
    } finally release(ss, q)
  }

  /** Stages `batches` as one single-file micro-batch each, in order
    * (ascending mod times — the file source's processing order), once
    * per (key, name) and JVM. By-name: a cache hit builds no frames.
    */
  private[streaming] def stageFeed(key: String, name: String)(batches: => Seq[DataFrame]): String =
    graft.Shared.staged(key, name) { root =>
      batches.zipWithIndex.foreach { case (b, i) =>
        writeSingleParquet(b, java.nio.file.Paths.get(root, f"$i%02d.parquet"),
          1700000000000L + i * 60000L)
      }
      root
    }

  /** File stream over a staged feed directory: one file per
    * micro-batch, schema from the staged files themselves (inferred once
    * per feed: a staged feed is immutable once its marker is written).
    */
  private[streaming] def readFeed(ss: SparkSession, feed: String): DataFrame =
    ss.readStream
      .schema(graft.Shared.parquetSchema(ss, feed))
      .option("maxFilesPerTrigger", "1")
      .parquet(feed)

  /** `df` split into 3 frames by `c mod 3` — the multi-batch feeds'
    * split, so every micro-batch boundary is real.
    */
  private def modSplit(df: DataFrame, c: String): Seq[DataFrame] =
    (0 until 3).map(g => df.filter(pmod(col(c), lit(3)) === g))

  /** Drains `build(session)` into a memory sink and returns the small
    * final aggregate `finish(view)` as a LOCAL relation on the CALLER's
    * session — immutable and independent of any later invocation (the r7
    * fixed-name views silently re-read the NEWEST run's data after
    * replacement).
    */
  private def drainToLocal(
      spark: SparkSession,
      name: String,
      build: SparkSession => DataFrame,
      outputMode: String)(finish: DataFrame => DataFrame): DataFrame =
    drain(spark)(build(_).writeStream.format("memory").queryName(name).outputMode(outputMode)) { ss =>
      val result = finish(ss.table(name))
      val rows = result.collect()
      spark.createDataFrame(java.util.Arrays.asList(rows: _*), result.schema)
    }

  /** Declared-query wrapper driving [[runningTotals]] — the
    * `flatMapGroupsWithState` operator — through a REAL streaming
    * execution (file source → state store → memory sink,
    * `Trigger.AvailableNow`), then reducing the emitted update stream to
    * each user's FINAL state. The final state of a running (count, sum)
    * equals the batch aggregate, so DuckDB can oracle a genuinely
    * streaming-stateful operator: per user, the last update row (the one
    * with the max monotone `events_so_far`) must carry count(*) and
    * sum(value). Blocks until the stream drains and returns the per-user
    * final rows as a local relation — fine at test scale (one row per
    * user).
    */
  def runningTotalsFinal(spark: SparkSession, dir: String): DataFrame =
    drainToLocal(
      spark,
      "running_totals_final",
      ss => runningTotals(ss, readEventStream(ss, dir)),
      "update") { t =>
      t.groupBy(col("user_id"))
        .agg(
          max(col("events_so_far")).as("events_so_far"),
          round(max_by(col("value_so_far"), col("events_so_far")), 2).as("value_so_far"))
        .orderBy(col("user_id"))
    }

  /** Declared-query wrapper driving [[typeCounts]] — the Spark 4
    * `transformWithState` MapState processor — through a real streaming
    * execution (requires the RocksDB state store provider, set for the
    * duration of the run and restored after). Final state per (user,
    * event_type) = the max running count, which must equal the batch
    * GROUP BY — the oracle for the typed-state operator path.
    */
  def typeCountsFinal(spark: SparkSession, dir: String): DataFrame =
    drainToLocal(
      spark,
      "type_counts_final",
      { ss =>
        // RocksDB provider on the CHILD session only — the caller's
        // in-memory (HDFS-backed) provider setting is never touched, so
        // no save/restore dance and no window where a concurrent batch
        // query sees the wrong provider
        ss.conf.set(
          "spark.sql.streaming.stateStore.providerClass",
          "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
        typeCounts(ss, readEventStream(ss, dir))
      },
      "update") { t =>
      t.groupBy(col("user_id"), col("event_type"))
        .agg(max(col("n_so_far")).as("n_events"))
        .orderBy(col("user_id"), col("event_type"))
    }

  /** Declared-query wrapper driving [[dedupStream]] — watermarked
    * streaming dedup with state eviction — through a real streaming
    * execution. `event_id` is unique in the table, so REAL duplicates are
    * manufactured by self-unioning the stream: every event arrives twice
    * with an IDENTICAL event time, which makes the drop guaranteed (two
    * copies zero seconds apart are inside every watermark horizon —
    * duplicates farther apart than the delay are only best-effort dropped,
    * so any other duplicate construction would be microbatch-timing-
    * dependent and un-oracle-able). The surviving copies are column-
    * identical to the source rows, so the streamed output must equal the
    * batch events table exactly: 2N rows in, N rows out, DuckDB-oracled.
    */
  def dedupStreamFinal(spark: SparkSession, dir: String): DataFrame =
    drainToLocal(
      spark,
      "dedup_stream_final",
      { ss => val ev = readEventStream(ss, dir); dedupStream(ev.union(ev)) },
      "append") { t =>
      // passthrough columns, no arithmetic: both engines read the same
      // parquet bits, so no rounding (rounding only one side would skew)
      t.select(
        col("event_id"), col("ts"), col("user_id"), col("event_type"), col("value"))
        .orderBy(col("event_id"))
    }

  /** Batch twin of [[clicksWithRecentErrors]]: the SAME transform (the
    * watermark calls are no-ops on batch frames) applied to the events
    * table split by type — so the stream-stream interval join's
    * semantics are DuckDB-oracle-able with a plain inequality join.
    */
  def clicksWithRecentErrorsBatch(spark: SparkSession, dir: String): DataFrame = {
    val ev = events(spark, dir)
    clicksWithRecentErrors(
      ev.filter(col("event_type") === "click"),
      ev.filter(col("event_type") === "error"))
      .select(
        col("user_id"), col("click_ts"), col("click_value"),
        col("err_ts"), col("err_value"))
      // the value columns complete the total order: same-timestamp event
      // collisions would otherwise sort nondeterministically across engines
      .orderBy(
        col("user_id"), col("click_ts"), col("err_ts"),
        col("click_value"), col("err_value"))
  }

  /** Conversion window for each [[funnel]] stage. */
  val FunnelHorizon = "24 hours"

  /** Sequential funnel analytics: per user, the first 'view', the first
    * 'click' within [[FunnelHorizon]] after it, and the first 'purchase'
    * within [[FunnelHorizon]] after that — stage = how deep the user got
    * (1–3; the horizon is what makes partial funnels exist at all in a
    * dense event stream). The sequence constraint is three conditional
    * min-aggregations chained by user-keyed joins, NOT a per-user ordered
    * window: every shuffle is on `user_id` (the aggs and joins
    * co-partition, AQE reuses the exchange), per-user state is O(1),
    * and nothing sorts whole event histories — the shape that survives
    * billions of events per day. Users with no 'view' never enter the
    * funnel (matching standard funnel semantics).
    */
  def funnel(spark: SparkSession, dir: String): DataFrame = {
    val ev = events(spark, dir).select(col("user_id"), col("event_type"), col("ts"))
    val horizon = expr(s"INTERVAL $FunnelHorizon")
    val v = ev.filter(col("event_type") === "view")
      .groupBy(col("user_id")).agg(min(col("ts")).as("first_view"))
    val c = ev.filter(col("event_type") === "click")
      .join(v, "user_id")
      .filter(col("ts") >= col("first_view") && col("ts") <= col("first_view") + horizon)
      .groupBy(col("user_id")).agg(min(col("ts")).as("first_click"))
    val p = ev.filter(col("event_type") === "purchase")
      .join(c, "user_id")
      .filter(col("ts") >= col("first_click") && col("ts") <= col("first_click") + horizon)
      .groupBy(col("user_id")).agg(min(col("ts")).as("first_purchase"))
    v.join(c, Seq("user_id"), "left")
      .join(p, Seq("user_id"), "left")
      .select(
        col("user_id"), col("first_view"), col("first_click"), col("first_purchase"),
        (lit(1) + when(col("first_click").isNotNull, 1).otherwise(0)
          + when(col("first_purchase").isNotNull, 1).otherwise(0)).cast("int").as("stage"))
      .orderBy(col("user_id"))
  }

  /** Cohort retention: users grouped by signup week (first 'signup'
    * event, Monday-truncated), counted as retained in every later week
    * they produced ANY event. Classic growth-analytics companion to
    * [[funnel]]. Shape: one user-keyed agg for the cohort anchor, one
    * (user, week) distinct for activity, a user-keyed join, and a final
    * small agg — every shuffle is on `user_id` until the last (cohort,
    * offset) rollup, whose cardinality is weeks², not users. Both engines
    * truncate weeks to Monday and both operands are week-aligned, so the
    * day-difference is an exact multiple of 7.
    */
  def retention(spark: SparkSession, dir: String): DataFrame = {
    val ev = events(spark, dir)
    val cohort = ev.filter(col("event_type") === "signup")
      .groupBy(col("user_id"))
      .agg(date_trunc("week", min(col("ts"))).cast("date").as("cohort_week"))
    val active = ev
      .select(col("user_id"), date_trunc("week", col("ts")).cast("date").as("act_week"))
      .distinct()
    cohort.join(active, "user_id")
      .filter(col("act_week") >= col("cohort_week"))
      .select(
        col("cohort_week"),
        (datediff(col("act_week"), col("cohort_week")) / 7).cast("int").as("week_offset"),
        col("user_id"))
      .groupBy(col("cohort_week"), col("week_offset"))
      .agg(count_distinct(col("user_id")).as("n_users"))
      .orderBy(col("cohort_week"), col("week_offset"))
  }

  // ---- streaming entry points -------------------------------------------

  /** Watermarked streaming variant of [[tumbling]]: events more than
    * `delay` behind the max seen event time are dropped and windows are
    * finalized (append mode emits a window once its watermark passes).
    */
  def tumblingStream(ev: DataFrame, delay: String = "10 minutes"): DataFrame =
    tumbling(ev.withWatermark("ts", delay))

  def slidingStream(ev: DataFrame, delay: String = "10 minutes"): DataFrame =
    sliding(ev.withWatermark("ts", delay))

  def sessionsStream(ev: DataFrame, delay: String = "10 minutes"): DataFrame =
    sessions(ev.withWatermark("ts", delay))

  /** Per-user running state via `flatMapGroupsWithState` — the custom-
    * stateful-operator path (reference has nothing comparable; this is the
    * Spark-native generalization of its per-key reduce to infinite input).
    * Emits (user_id, events_so_far, value_so_far) on every update.
    */
  def runningTotals(spark: SparkSession, ev: DataFrame): DataFrame = {
    import spark.implicits._
    ev.select(col("user_id").as[Long], col("value").as[Double])
      .as[(Long, Double)]
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Update(), GroupStateTimeout.NoTimeout()) {
        (user: Long, rows: Iterator[(Long, Double)], state: GroupState[(Long, Double)]) =>
          val (n0, v0) = state.getOption.getOrElse((0L, 0.0))
          var n = n0; var v = v0
          rows.foreach { case (_, value) => n += 1; v += value }
          state.update((n, v))
          Iterator((user, n, v))
      }
      .toDF("user_id", "events_so_far", "value_so_far")
  }

  /** Stream-static enrichment: the streaming fact joins a bounded static
    * dimension (broadcast per micro-batch — the static side never becomes
    * state). The standard shape for decorating an event stream with
    * slowly-changing reference data.
    */
  def enrichWithDim(ev: DataFrame, dim: DataFrame, key: String): DataFrame =
    ev.join(org.apache.spark.sql.functions.broadcast(dim), Seq(key), "left")

  /** Streaming exact dedup (L1 for streams): first event per `event_id`
    * wins; duplicates arriving within the watermark horizon are dropped,
    * and state for ids older than the watermark is evicted — bounded
    * state, unlike a batch `dropDuplicates` which would remember forever.
    */
  def dedupStream(ev: DataFrame, delay: String = "10 minutes"): DataFrame =
    ev.withWatermark("ts", delay).dropDuplicatesWithinWatermark("event_id")

  /** Stream-stream interval join: clicks pair with errors of the same
    * user within `horizon` BEFORE the click. Both sides carry watermarks
    * and the join condition bounds event-time distance, so each side's
    * state is evicted once the watermark passes the horizon — bounded
    * state on an unbounded join.
    */
  def clicksWithRecentErrors(
      clicks: DataFrame,
      errors: DataFrame,
      delay: String = "10 minutes",
      horizon: String = s"$IntervalJoinHorizonMinutes minutes",
      joinType: String = "inner"): DataFrame = {
    val c = clicks.withWatermark("ts", delay)
      .select(col("user_id"), col("ts").as("click_ts"), col("value").as("click_value"))
    val e = errors.withWatermark("ts", delay)
      .select(col("user_id").as("e_user"), col("ts").as("err_ts"), col("value").as("err_value"))
    c.join(
      e,
      col("user_id") === col("e_user") &&
        col("err_ts") <= col("click_ts") &&
        col("err_ts") >= col("click_ts") - expr(s"INTERVAL $horizon"),
      joinType)
      .drop("e_user")
  }

  /** Spark 4 `transformWithState` processor: per-user, per-event-type
    * running counts held in `MapState` — the arbitrary-state API that
    * replaces `flatMapGroupsWithState` (typed state primitives, TTL,
    * timers; requires the RocksDB state store provider).
    */
  class EventTypeCounter
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        Long, (Long, String), (Long, String, Long)] {
    import org.apache.spark.sql.Encoders
    import org.apache.spark.sql.streaming.{MapState, TimeMode, TimerValues, TTLConfig}

    @transient private var counts: MapState[String, Long] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      counts = getHandle.getMapState[String, Long](
        "counts", Encoders.STRING, Encoders.scalaLong, TTLConfig.NONE)

    override def handleInputRows(
        user: Long,
        rows: Iterator[(Long, String)],
        timers: TimerValues): Iterator[(Long, String, Long)] = {
      val updated = scala.collection.mutable.LinkedHashMap.empty[String, Long]
      rows.foreach { case (_, tpe) =>
        val n = (if (counts.containsKey(tpe)) counts.getValue(tpe) else 0L) + 1L
        counts.updateValue(tpe, n)
        updated(tpe) = n
      }
      updated.iterator.map { case (tpe, n) => (user, tpe, n) }
    }
  }

  /** [[TimerSessionizer]] state: one open session per user, times in
    * event-time MICROS (the staged stream's timestamp precision).
    */
  case class TimerSessionState(start: Long, last: Long, n: Long, sum: Double)

  /** Event-time-TIMER sessionizer via `transformWithState` — the timer
    * half of the Spark 4 arbitrary-state API ([[EventTypeCounter]] covers
    * typed state; this covers `registerTimer`/`handleExpiredTimer`).
    * Semantics mirror [[sessions]]/q30 exactly: events merge into the
    * open session when the gap is ≤ `gapMicros` (strictly larger starts
    * a new one). A session is emitted EITHER inline, when a later event
    * breaks it, OR from [[handleExpiredTimer]], when the watermark passes
    * last_event + gap — the inactivity-timeout shape (abandoned carts,
    * connection reaping) that pure window operators can't express.
    * Determinism over a [[stageTimeSplitWithFlush]] drain: slices are
    * disjoint ascending, so when a timer at last+gap expires (watermark =
    * some batch max − delay ≥ last+gap), every future event's time
    * exceeds that batch max > last+gap and can never merge into the
    * expired session. Timers are re-armed on every input batch (old one
    * deleted), so an in-batch merge always precedes expiry for its key.
    */
  class TimerSessionizer(gapMicros: Long)
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        Long, (Long, java.sql.Timestamp, Double), (Long, Long, Long, Long, Double)] {
    import org.apache.spark.sql.Encoders
    import org.apache.spark.sql.streaming.{ExpiredTimerInfo, TimeMode, TimerValues, TTLConfig, ValueState}

    @transient private var session: ValueState[TimerSessionState] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      session = getHandle.getValueState[TimerSessionState](
        "session", Encoders.product[TimerSessionState], TTLConfig.NONE)

    private def micros(ts: java.sql.Timestamp): Long =
      math.floorDiv(ts.getTime, 1000L) * 1000000L + ts.getNanos / 1000L

    override def handleInputRows(
        user: Long,
        rows: Iterator[(Long, java.sql.Timestamp, Double)],
        timers: TimerValues): Iterator[(Long, Long, Long, Long, Double)] = {
      // batch-local sort: file order within a slice is arbitrary; cross-
      // batch order is guaranteed by the ascending time slices
      val sorted = rows.map { case (_, ts, v) => (micros(ts), v) }.toArray.sortBy(_._1)
      val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long, Long, Double)]
      var st = if (session.exists()) session.get() else null
      sorted.foreach { case (ts, v) =>
        if (st == null) st = TimerSessionState(ts, ts, 1, v)
        else if (ts - st.last > gapMicros) {
          out += ((user, st.start, st.last, st.n, st.sum))
          st = TimerSessionState(ts, ts, 1, v)
        } else st = TimerSessionState(st.start, ts, st.n + 1, st.sum + v)
      }
      session.update(st)
      // re-arm: exactly one live timer per key, at the open session's
      // inactivity deadline (ms granularity; +1 rounds the micros
      // truncation up so the timer never fires a hair early)
      val h = getHandle
      h.listTimers().foreach(t => h.deleteTimer(t))
      h.registerTimer(st.last / 1000L + gapMicros / 1000L + 1L)
      out.iterator
    }

    override def handleExpiredTimer(
        user: Long,
        timers: TimerValues,
        info: ExpiredTimerInfo): Iterator[(Long, Long, Long, Long, Double)] =
      if (session.exists()) {
        val st = session.get()
        session.clear()
        Iterator((user, st.start, st.last, st.n, st.sum))
      } else Iterator.empty
  }

  /** Per-user sessions via [[TimerSessionizer]] (event-time timers).
    * Input must carry a watermark on `ts`; output times are micros.
    */
  def timerSessions(spark: SparkSession, ev: DataFrame, delay: String = "10 minutes"): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.streaming.{OutputMode => OM, TimeMode}
    ev.withWatermark("ts", delay)
      .select(col("user_id").as[Long], col("ts").as[java.sql.Timestamp], col("value").as[Double])
      .as[(Long, java.sql.Timestamp, Double)]
      .groupByKey(_._1)
      .transformWithState(
        new TimerSessionizer(SessionGapMinutes * 60 * 1000000L),
        TimeMode.EventTime(),
        OM.Update())
      .toDF("user_id", "start_us", "last_us", "n_events", "sum_value")
  }

  /** Declared-query wrapper driving [[timerSessions]] through a real
    * multi-batch drain: sessions accumulate in ValueState across slices,
    * break inline, or are emitted by their inactivity timer once the
    * watermark (pushed past everything by the flush sentinel) expires it.
    * Every session is emitted exactly once, so the result must equal the
    * batch [[sessions]] aggregate — q30's gaps-and-islands oracle now
    * gating the event-time-timer path.
    */
  def timerSessionsFinal(spark: SparkSession, dir: String): DataFrame = {
    val (stage, _, _) = stageTimeSplitWithFlush(spark, dir)
    drainToLocal(
      spark,
      "timer_sessions_final",
      { ss =>
        ss.conf.set(
          "spark.sql.streaming.stateStore.providerClass",
          "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
        timerSessions(ss, readStagedEventStream(ss, dir, stage))
      },
      "update") { t =>
      t.filter(col("user_id") =!= FlushSentinelUser)
        .select(
          col("user_id"),
          expr("timestamp_micros(start_us)").as("session_start"),
          expr("timestamp_micros(last_us)").as("last_event"),
          col("n_events"),
          round(col("sum_value"), 2).as("sum_value"))
        .orderBy(col("user_id"), col("session_start"))
    }
  }

  /** Per-user event-type counts via `transformWithState` (Spark 4 typed-
    * state operator). Emits one row per (user, type) touched in a batch
    * with the count so far.
    */
  def typeCounts(spark: SparkSession, ev: DataFrame): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.streaming.{OutputMode => OM, TimeMode}
    ev.select(col("user_id").as[Long], col("event_type").as[String])
      .as[(Long, String)]
      .groupByKey(_._1)
      .transformWithState(new EventTypeCounter, TimeMode.None(), OM.Update())
      .toDF("user_id", "event_type", "n_so_far")
  }

  /** User id of the watermark-flush sentinel event injected by
    * [[stageWithFlush]] — filtered back out of every drained result.
    */
  val FlushSentinelUser = -1L

  /** Stages the events table for an APPEND-mode drain. Append mode only
    * emits a window once the watermark passes its end, and the watermark
    * trails the max seen event time — so draining the bare table would
    * withhold every window newer than (max ts − delay) and the streamed
    * result could never equal the batch oracle. The stage directory holds
    * the raw events file plus a one-event sentinel file whose timestamp
    * sits ONE DAY past the table max, with file modification times
    * ordered so the file source (which sorts by mod time) processes the
    * sentinel LAST under `maxFilesPerTrigger=1`: batch 1 delivers every
    * real event while the watermark is still at its initial value
    * (nothing is late), then the sentinel batch advances the watermark
    * past every real window's end, and the closing no-data batch emits
    * them all. The sentinel's own row is filtered from results by
    * [[FlushSentinelUser]]. This is the standard "advance event time to
    * flush" testing idiom, staged through real files so the declared
    * query still exercises the production file-source path. Returns
    * (staged directory, max raw event ts in nanos), staged once per JVM.
    */
  private def stageWithFlush(spark: SparkSession, dir: String): (String, Long) =
    graft.Shared.staged(dir, "flush-stage") { stage =>
      // normalized to long-nanos ts whatever the source file's physical
      // type — the staged files then carry ONE schema both sentinel
      // construction and the staged readStream can rely on
      val raw = graft.rel.Queries.rawEventsNanos(spark, dir)
      val maxNanos = raw.agg(max(col("ts"))).collect()(0).getLong(0)
      // mod-time order = processing order for the file source
      writeSingleParquet(raw, java.nio.file.Paths.get(stage, "00_events.parquet"),
        System.currentTimeMillis() - 60000)
      writeSingleParquet(
        spark.createDataFrame(
          java.util.Arrays.asList(sentinelRow(raw.schema, maxNanos, "flush", -1L)),
          raw.schema),
        java.nio.file.Paths.get(stage, "01_sentinel.parquet"),
        System.currentTimeMillis())
      (stage, maxNanos)
    }

  /** Sentinel row in the RAW events schema (ts long nanos under the
    * legacy conf), one day past the table max — shared by both staging
    * paths so a schema change is handled in exactly one match block.
    */
  private def sentinelRow(
      schema: org.apache.spark.sql.types.StructType,
      maxNanos: Long,
      tpe: String,
      id: Long): org.apache.spark.sql.Row =
    org.apache.spark.sql.Row.fromSeq(schema.fields.map { f =>
      (f.name, f.dataType.typeName) match {
        case ("ts", _) => maxNanos + 86400L * 1000000000L
        case ("user_id", _) => FlushSentinelUser
        case ("event_id", _) => id
        case ("event_type", _) => tpe
        case (_, "string") => "flush"
        case (_, "double") => 0.0
        case (_, "long") => -1L
        case (_, "integer") => -1
        case _ => null
      }
    }.toSeq)

  /** Writes `df` as exactly one parquet file at `dst` with the given mod
    * time. Spark's working directory (part files, _SUCCESS, .crc) is
    * deleted after the move, so a staged directory contains DATA FILES
    * ONLY — listings of it (the file source, [[restartRecoveryFinal]]'s
    * reveal copy) never see write-side litter.
    */
  private def writeSingleParquet(df: DataFrame, dst: java.nio.file.Path, modMillis: Long): Unit = {
    val tmpOut = java.nio.file.Files.createTempDirectory(dst.getParent, "graft-write-tmp-")
    val outDir = tmpOut.resolve("out")
    df.coalesce(1).write.parquet(outDir.toString)
    val part = java.nio.file.Files
      .list(outDir)
      .filter(p => p.getFileName.toString.endsWith(".parquet"))
      .findFirst()
      .get()
    java.nio.file.Files.move(part, dst)
    java.nio.file.Files.setLastModifiedTime(
      dst, java.nio.file.attribute.FileTime.fromMillis(modMillis))
    Snapshot.deleteRecursively(tmpOut)
  }

  /** Stream-stream interval-join horizon in minutes — the ONE source for
    * both the join's default horizon and the staging pair discovery; two
    * independent constants would let them drift and silently void the
    * bisected-pair guarantee.
    */
  val IntervalJoinHorizonMinutes = 30L

  /** [[IntervalJoinHorizonMinutes]] in raw nanos. */
  private val HorizonNanos = IntervalJoinHorizonMinutes * 60 * 1000000000L

  /** Stages the events table as SEVERAL time-ordered files (one
    * micro-batch each under `maxFilesPerTrigger=1`) plus a flush-sentinel
    * file processed last. Unlike [[stageWithFlush]]'s single data file,
    * the split boundaries here are chosen ADVERSARIALLY for the
    * stream-stream interval join: up to three boundaries each bisect a
    * matched (error, click) pair in event time, so the click arrives in a
    * LATER micro-batch than the error it must join — the join can only
    * produce it from error rows buffered in join state across a batch
    * boundary. (A naive even split can't do this: the 30-minute horizon
    * is ~0.1% of the table's 30-day span, so measured cross-slice pairs
    * under an even 4-split are ZERO at every SF — every match would
    * happen inside one batch and cross-batch state would go untested.)
    * Slices stay time-ordered, so no event is ever watermark-late: batch
    * i+1's rows are all newer than batch i's max, and an error is never
    * evicted before its cross-boundary click arrives (watermark after
    * batch i is max_i − delay < boundary − delay ≤ click_ts − delay,
    * while the error lives until err_ts + horizon ≥ click_ts). The
    * sentinel file carries BOTH a click and an error row at
    * [[FlushSentinelUser]] one day past the table max, so the watermark
    * on EACH join side advances past all real data and per-side state
    * eviction actually runs before the closing no-data batch. Boundary
    * selection targets the ¼/½/¾ points of the time span and picks the
    * matched pair whose midpoint lands nearest each target (one
    * TakeOrdered row per target — no pair set ever reaches the driver):
    * earliest-first selection would cluster every cut at the span start
    * on pair-dense data, leaving [[restartRecoveryFinal]]'s run 1 with
    * almost no span and its committed-windows guard near zero. Returns
    * (staged directory, boundary-bisected pair count, max raw event ts
    * in nanos), staged once per JVM.
    */
  private[streaming] def stageTimeSplitWithFlush(spark: SparkSession, dir: String): (String, Int, Long) =
    graft.Shared.staged(dir, "timesplit-stage") { stage =>
      val raw = graft.rel.Queries.rawEventsNanos(spark, dir)
      val mm = raw.agg(min(col("ts")), max(col("ts"))).collect()(0)
      val (minNanos, maxNanos) = (mm.getLong(0), mm.getLong(1))
      // strict matched pairs (err strictly before click), in raw nanos;
      // b = midpoint + 1 lies in (err_ts, click_ts], so a cut at b
      // provably splits that pair across consecutive micro-batches
      val clicks = raw.filter(col("event_type") === "click")
        .select(col("user_id"), col("ts").as("cts"))
      val errs = raw.filter(col("event_type") === "error")
        .select(col("user_id").as("eu"), col("ts").as("ets"))
      val pairMids = clicks
        .join(
          errs,
          col("user_id") === col("eu") &&
            col("ets") < col("cts") && col("ets") >= col("cts") - HorizonNanos)
        // integer DIV: Spark's `/` promotes longs to double, whose ulp
        // at nano-epoch magnitude (~2^60) is hundreds of ns
        .select(expr("ets + (cts - ets) DIV 2 + 1").as("b"))
        .persist()
      // one bisecting pair near each ¼/½/¾ span target: TakeOrdered —
      // one row to the driver per target, never the pair set
      val targets = (1 to 3).map(k => minNanos + (maxNanos - minNanos + 1) * k / 4)
      val picked = targets.flatMap { t =>
        pairMids.orderBy(abs(col("b") - t)).limit(1).collect().headOption.map(_.getLong(0))
      }.distinct.sorted
      pairMids.unpersist()
      val bisected = picked.size
      // degenerate data (no strict pairs): even time split — the drain
      // is still multi-batch, just without guaranteed cross-batch pairs
      val boundaries =
        if (picked.nonEmpty) picked
        else {
          val span = maxNanos - minNanos + 1
          (1 to 3).map(i => minNanos + span * i / 4)
        }
      val cuts = (minNanos +: boundaries :+ (maxNanos + 1)).distinct.sorted
      val now = System.currentTimeMillis()
      val n = cuts.size - 1
      // mod-time order = file-source processing order: slices oldest-
      // first, sentinel last
      cuts.sliding(2).zipWithIndex.foreach { case (Seq(lo, hi), i) =>
        writeSingleParquet(
          raw.filter(col("ts") >= lo && col("ts") < hi),
          java.nio.file.Paths.get(stage, f"$i%02d_events.parquet"),
          now - (n + 1 - i) * 60000L)
      }
      writeSingleParquet(
        spark.createDataFrame(
          java.util.Arrays.asList(
            sentinelRow(raw.schema, maxNanos, "click", -1L),
            sentinelRow(raw.schema, maxNanos, "error", -2L)),
          raw.schema),
        java.nio.file.Paths.get(stage, f"$n%02d_sentinel.parquet"),
        now)
      (stage, bisected, maxNanos)
    }

  /** Declared-query wrapper driving [[clicksWithRecentErrors]] — the
    * watermarked stream-stream interval join — through a REAL multi-batch
    * streaming execution over a [[stageTimeSplitWithFlush]] directory.
    * q69 gates the join's SEMANTICS on its batch twin; this gates the
    * streaming EXECUTION: the staged split guarantees clicks whose
    * matching error arrived in an earlier micro-batch (served from join
    * state, not from the current batch), and the click+error sentinel
    * pair advances both sides' watermarks so bounded-state eviction runs
    * before the drain closes. Inner-join results emit as matched (append
    * mode), so the drained rows must equal q69's batch join exactly.
    */
  def intervalJoinStreamFinal(spark: SparkSession, dir: String): DataFrame =
    intervalJoinDrain(spark, dir, "interval_join_stream_final", "inner")

  /** [[intervalJoinStreamFinal]]'s LEFT OUTER twin — a genuinely
    * different execution path: inner-join rows emit eagerly as matched,
    * but an outer join's unmatched clicks can only emit (null-padded)
    * once the watermark proves no in-horizon error can still arrive, so
    * this gates the outer-join state-FINALIZATION machinery the inner
    * drain never touches. The sentinel advances both watermarks past all
    * real data, so every unmatched click null-pads before the drain
    * closes; matched rows must equal q87's and the union must equal the
    * batch LEFT JOIN row set (q90's oracle). The sentinel click matches
    * the sentinel error (same user/ts), so no null-padded sentinel row
    * survives the user filter either way.
    */
  def intervalJoinOuterStreamFinal(spark: SparkSession, dir: String): DataFrame =
    intervalJoinDrain(spark, dir, "interval_join_outer_stream_final", "leftOuter")

  /** Shared drain for the two interval-join gates: the click/error split,
    * sentinel filter, projection, and total ordering must stay identical
    * between the inner and outer variants or their oracles diverge.
    */
  private def intervalJoinDrain(
      spark: SparkSession,
      dir: String,
      name: String,
      joinType: String): DataFrame = {
    val (stage, _, _) = stageTimeSplitWithFlush(spark, dir)
    drainToLocal(
      spark,
      name,
      { ss =>
        val ev = readStagedEventStream(ss, dir, stage)
        clicksWithRecentErrors(
          ev.filter(col("event_type") === "click"),
          ev.filter(col("event_type") === "error"),
          joinType = joinType)
      },
      "append") { t =>
      t.filter(col("user_id") =!= FlushSentinelUser)
        .select(
          col("user_id"), col("click_ts"), col("click_value"),
          col("err_ts"), col("err_value"))
        .orderBy(
          col("user_id"), col("click_ts"), col("err_ts"),
          col("click_value"), col("err_value"))
    }
  }

  /** Declared-query wrapper gating CHECKPOINT RESTART RECOVERY — the
    * fault-tolerance path none of the other wrappers touch (q85 proves
    * exactly-once through one uninterrupted run; production failure means
    * a NEW query process resuming someone else's checkpoint). Two
    * separate streaming executions share one checkpoint: run 1 sees only
    * the first two time-slice files of a [[stageTimeSplitWithFlush]]
    * directory and drains them into a checkpointed parquet sink — ending
    * with the tail windows of slice 1 still OPEN in the state store and
    * the source offsets/watermark committed. The remaining slices and the
    * flush sentinel are then added and run 2 starts from the SAME
    * checkpoint: it must recover the watermark and open-window state
    * (a lost watermark would re-finalize run 1's windows → duplicate
    * sink rows; lost window state would undercount the recovered
    * windows), process the rest, and flush everything. The committed
    * files across BOTH runs must equal the batch tumbling aggregate
    * exactly once — q82's oracle through a kill/restart boundary.
    * A fresh sink+checkpoint per invocation keeps re-runs independent;
    * the per-JVM staged source directory is copied per invocation since
    * run 2 mutates the visible file set.
    */
  def restartRecoveryFinal(spark: SparkSession, dir: String): DataFrame = {
    val (stage, _, maxNanos) = stageTimeSplitWithFlush(spark, dir)
    val cutoffMicros = maxNanos / 1000L
    val root = java.nio.file.Files.createTempDirectory("graft-restart-")
    val src = java.nio.file.Files.createDirectory(root.resolve("src"))
    val all = scala.collection.mutable.ArrayBuffer.empty[java.nio.file.Path]
    // name order == slice order == mod-time order (00_, 01_, …, sentinel);
    // data files only, even if the stage dir ever grows other entries
    locally {
      val listing = java.nio.file.Files.list(java.nio.file.Paths.get(stage))
      try listing.sorted()
        .forEach(p => if (p.getFileName.toString.endsWith(".parquet")) all += p)
      finally listing.close() // Files.list holds an open dir handle
    }
    def reveal(p: java.nio.file.Path): Unit = {
      val dst = src.resolve(p.getFileName)
      java.nio.file.Files.copy(p, dst)
      // preserve the staged mod-time order (copy does not) — the file
      // source processes by mod time under maxFilesPerTrigger=1
      java.nio.file.Files.setLastModifiedTime(dst, java.nio.file.Files.getLastModifiedTime(p))
    }
    // durable: this is the ONE checkpoint a second execution
    // deliberately recovers, so it keeps Spark's default checksums
    // and retention
    def drainRun(): Unit =
      drain(spark, durable = true) { ss =>
        tumblingStream(readStagedEventStream(ss, dir, src.toString))
          .writeStream
          .format("parquet")
          .option("path", s"$root/data")
          .option("checkpointLocation", s"$root/ckpt")
          .outputMode("append")
      }(_ => ())
    all.take(2).foreach(reveal)
    drainRun() // run 1: partial data, open windows left in state
    // the restart boundary must SPLIT the work, or this gate degenerates
    // into q82: run 1 has to finalize some windows (watermark advanced
    // and the sink committed before the stop) …
    val run1Rows = spark.read.parquet(s"$root/data").count()
    require(run1Rows > 0, "restart gate degenerate: run 1 committed no windows")
    all.drop(2).foreach(reveal)
    drainRun() // run 2: fresh execution recovers state from the checkpoint
    val out = spark.read
      .parquet(s"$root/data")
      .filter(col("window_start") <= expr(s"timestamp_micros(${cutoffMicros}L)"))
      .select(col("window_start"), col("n_events"), col("sum_value"))
      .orderBy(col("window_start"))
    // … and run 2 has to add the recovered remainder on top of it
    require(out.count() > run1Rows, "restart gate degenerate: run 2 added no windows")
    out
  }

  /** File stream over a [[stageWithFlush]] directory: one file per
    * micro-batch, real events first, sentinel last. The staged files
    * carry ts ALREADY normalized to long nanos, whatever the source
    * table's physical type, so the [[readFeed]] schema is the staged one.
    */
  private[streaming] def readStagedEventStream(
      ss: SparkSession, dir: String, stagedDir: String): DataFrame =
    readFeed(ss, stagedDir).withColumn("ts", expr("timestamp_micros(ts div 1000)"))

  /** Declared-query wrapper driving [[sessionsStream]] — watermarked
    * session windows in APPEND mode — through a real streaming
    * execution: windows are held in state until the watermark passes
    * their end (the flush sentinel guarantees that happens for every
    * real session), so the emitted rows are the FINALIZED sessions and
    * must equal the batch [[sessions]] aggregate — the same oracle as
    * q30, now gating the watermark-finalization path itself.
    */
  def sessionsStreamFinal(spark: SparkSession, dir: String): DataFrame = {
    val (stage, _) = stageWithFlush(spark, dir)
    drainToLocal(
      spark,
      "sessions_stream_final",
      ss => sessionsStream(readStagedEventStream(ss, dir, stage)),
      "append") { t =>
      t.filter(col("user_id") =!= FlushSentinelUser)
        .orderBy(col("user_id"), col("session_start"))
    }
  }

  /** Declared-query wrapper driving [[tumblingStream]] — watermarked
    * tumbling windows in APPEND mode — through a real streaming
    * execution with the flush sentinel; the finalized windows (sentinel's
    * own window filtered by its start time) must equal the batch
    * [[tumbling]] aggregate — q28's oracle gating append finalization.
    */
  def tumblingStreamFinal(spark: SparkSession, dir: String): DataFrame = {
    val (stage, maxNanos) = stageWithFlush(spark, dir)
    val cutoffMicros = maxNanos / 1000L
    drainToLocal(
      spark,
      "tumbling_stream_final",
      ss => tumblingStream(readStagedEventStream(ss, dir, stage)),
      "append") { t =>
      t.filter(col("window_start") <= expr(s"timestamp_micros(${cutoffMicros}L)"))
        .orderBy(col("window_start"))
    }
  }

  /** [[tumblingStreamFinal]]'s sliding twin — every event lands in TWO
    * overlapping windows, so append finalization additionally proves the
    * state store tracks and flushes multiple concurrent windows per
    * event; q29's batch oracle. Sentinel windows all start after the
    * real-data cutoff (the sentinel sits one day out), so the same
    * start-time filter removes exactly them.
    */
  def slidingStreamFinal(spark: SparkSession, dir: String): DataFrame = {
    val (stage, maxNanos) = stageWithFlush(spark, dir)
    val cutoffMicros = maxNanos / 1000L
    drainToLocal(
      spark,
      "sliding_stream_final",
      ss => slidingStream(readStagedEventStream(ss, dir, stage)),
      "append") { t =>
      t.filter(col("window_start") <= expr(s"timestamp_micros(${cutoffMicros}L)"))
        .orderBy(col("window_start"))
    }
  }

  /** Declared-query wrapper driving [[enrichWithDim]] — stream-static
    * broadcast enrichment — through a real streaming execution, feeding a
    * COMPLETE-mode aggregation (the one output mode the other wrappers
    * don't cover; complete needs no watermark, so a stateless enrichment
    * → aggregate drain finalizes without a flush sentinel): per-segment
    * event count + value sum, where segments only exist on the static
    * customer dimension. The values can only reach their segment through
    * the broadcast join inside the micro-batch, so equality with the
    * batch join+GROUP BY oracle gates the enrichment path itself. The
    * static side broadcasts per micro-batch and never becomes state; the
    * aggregate is one row per segment.
    */
  def enrichedSegmentsFinal(spark: SparkSession, dir: String): DataFrame =
    drainToLocal(
      spark,
      "enriched_segments_final",
      { ss =>
        val dim = table(ss, dir, "customer")
          .select(col("c_custkey").as("user_id"), col("c_mktsegment").as("mktsegment"))
        enrichWithDim(readEventStream(ss, dir), dim, "user_id")
          .groupBy(coalesce(col("mktsegment"), lit("(unmatched)")).as("mktsegment"))
          .agg(count(lit(1)).as("n_events"), sum(col("value")).as("sum_value"))
      },
      "complete") { t =>
      t.select(col("mktsegment"), col("n_events"), round(col("sum_value"), 2).as("sum_value"))
        .orderBy(col("mktsegment"))
    }

  /** Declared-query wrapper gating the production FILE-SINK path — the
    * one sink the memory-sink drains don't cover: the event stream
    * writes through a parquet `writeStream` sink with a checkpoint
    * (append mode, `Trigger.AvailableNow`), then the COMMITTED files are
    * read back. The sink's commit log is what guarantees exactly-once
    * output — every source row lands in exactly one committed file — so
    * the read-back rows must equal the batch table row for row, which is
    * the oracle. A fresh sink + checkpoint directory per invocation
    * keeps re-runs independent (a reused checkpoint would no-op the
    * second run: the source offsets are already committed).
    */
  def streamSinkRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    val root = java.nio.file.Files.createTempDirectory("graft-stream-sink-")
    drain(spark) { ss =>
      readEventStream(ss, dir)
        .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
        .writeStream
        .format("parquet")
        .option("path", s"$root/data")
        .option("checkpointLocation", s"$root/ckpt")
        .outputMode("append")
    } { _ =>
      // read back on the CALLER's session: only files the sink's commit
      // log recorded are visible to this read (the _spark_metadata log)
      // no arithmetic — a pure identity gate (parquet round-trips doubles
      // bit-exactly, so the oracle needs no rounding)
      spark.read
        .parquet(s"$root/data")
        .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
        .orderBy(col("event_id"))
    }
  }

  /** Key-range directory partitions in the q156 serving table. */
  val MergeSnapParts = 6

  /** Merge ONE change batch (the q93 feed schema: k/op/new_*) into the
    * MANIFEST-COMMITTED versioned serving snapshot at `snapRoot`
    * ([[Snapshot]]), rewriting ONLY the partitions that contain the
    * batch's keys — the file-pruned MERGE a 100 TB serving table needs:
    * cost is O(|touched partitions|) per increment, never O(|table|).
    *
    * Mechanics: (1) the batch's touched partition values are a tiny
    * distinct-collect (≤ [[MergeSnapParts]] ints); (2) only the touched
    * partitions' CURRENT data directories are read (the manifest names
    * them — untouched dirs never reach the scan's file listing); (3)
    * the merged rows are written as FRESH `v{N}/__part={p}` directories
    * — nothing in the serving version is overwritten, so no
    * self-overwrite hazard and no staging copy; (4) a new manifest maps
    * touched partitions to the new dirs (a fully-deleted partition maps
    * to the empty marker) and carries every untouched partition's dir
    * forward BY REFERENCE; (5) the `CURRENT` pointer rename commits —
    * the single atomic step. A reader concurrent with the batch
    * resolves either version N−1 or N, never a mix; a crash anywhere
    * before the rename leaves readers on N−1 with only unreferenced
    * garbage on disk. Idempotent under at-least-once redelivery because
    * [[graft.rel.Queries.mergeApply]] is per-key LAST-WRITE: re-running
    * a batch commits a new version with identical content. Superseded
    * versions stay readable by manifest (the q177 time-travel read)
    * until retention GC.
    *
    * Returns the touched partition values (sorted) for observability.
    */
  private[streaming] def mergeBatchIntoSnapshot(snapRoot: String, batch: DataFrame): Seq[Int] = {
    val ss = batch.sparkSession
    val touched = batch
      .select(pmod(col("k"), lit(MergeSnapParts)).cast("int").as("p"))
      .distinct().collect().map(_.getInt(0)).toSeq.sorted
    if (touched.isEmpty) return touched
    // the OCC commit loop: merge against the CURRENT base, stage into a
    // private attempt dir, claim + publish. A racing committer (a
    // compaction, another drain) costs at most a re-merge against its
    // committed state — never a lost version or a mixed directory. A
    // crashed prior attempt's garbage is unreferenced and inert, so
    // at-least-once redelivery just commits the next version.
    Snapshot.commitOcc(snapRoot) { att =>
      val snap = Snapshot.readParts(ss, snapRoot, att.base.version, touched).getOrElse {
        // every touched partition is currently empty (or brand-new):
        // merge against an empty snapshot in the serving schema
        batch.select(col("k").as("o_orderkey"), col("new_custkey").as("o_custkey"),
          col("new_status").as("o_orderstatus"), col("new_price").as("o_totalprice"))
          .filter(lit(false))
      }
      val merged = graft.rel.Queries.mergeApply(snap, batch)
        .withColumn("__part", pmod(col("o_orderkey"), lit(MergeSnapParts)).cast("int"))
      merged.write.partitionBy("__part").parquet(att.dataDir)
      // which touched partitions produced rows — from the written listing,
      // not a second pass over the frame; a touched partition whose keys
      // were ALL deleted simply maps to the empty marker in the manifest
      val present = att.writtenParts()
      Some(Snapshot.CommitSpec(att.base.parts ++
        touched.map(p => p -> present.getOrElse(p, Snapshot.EmptyDir))))
    }
    touched
  }

  /** Declared query (q156) — STREAMING MERGE SINK, the CDC-to-serving-
    * table path: the q93 change feed arrives as a STREAM (file source,
    * one staged file per micro-batch) and `foreachBatch` MERGEs each
    * batch into a `__part`-partitioned parquet serving table through
    * [[mergeBatchIntoSnapshot]] — each micro-batch rewrites ONLY the
    * key-range partitions its changes touch (the feed is staged split
    * by k mod 3, so every batch touches exactly 2 of the 6 partitions
    * and provably leaves the other 4 directories byte-identical;
    * StreamingSuite asserts that). Each application is the same
    * key-partitioned full-outer join + op precedence as the batch MERGE
    * ([[graft.rel.Queries.mergeApply]]), whose per-key last-write
    * semantics make re-processing a batch after failure reproduce the
    * identical partition content (at-least-once safe). The feed's keys
    * are pairwise distinct across batches, so the drained final
    * snapshot equals the one-shot batch MERGE — q156 hash-gates against
    * q93's oracle, proving batch parity of a genuinely streamed,
    * file-pruned multi-batch MERGE.
    */
  def streamMergeSinkFinal(spark: SparkSession, dir: String): DataFrame = {
    val snapRoot = mergeSinkDrainShared(spark, dir)
    Snapshot.read(spark, snapRoot)
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"), col("o_totalprice"))
      .orderBy(col("o_orderkey"))
  }

  /** The q156 drain, shared with q177/q183/q197 — memoized per sf-dir
    * (and per JVM). The PRISTINE snapshot is served to read-only
    * consumers (q156 reads CURRENT, q177 reads CURRENT−1); mutating
    * consumers (the q183/q197 compactions commit new versions) go
    * through [[mergeSinkDrainCopy]] so the shared state never observes
    * their writes. One drain per sf-dir instead of four per bench
    * iteration — the iterations measure the operator under test, not
    * repeated staging of an identical stream.
    */
  private def mergeSinkDrainShared(spark: SparkSession, dir: String): String =
    graft.Shared.staged(dir, "merge-sink")(runMergeSinkDrain(spark, dir, _))

  /** A fresh private copy of the memoized drain for consumers that
    * COMMIT to the snapshot. Manifest directory references are
    * root-relative, so a recursive file copy is a fully relocatable
    * clone — far cheaper than re-running the 3-batch streaming drain.
    */
  private def mergeSinkDrainCopy(spark: SparkSession, dir: String): String = {
    val src = java.nio.file.Paths.get(mergeSinkDrainShared(spark, dir))
    val dst = java.nio.file.Files.createTempDirectory("graft-snap-clone-")
      .resolve("snap")
    val walk = java.nio.file.Files.walk(src)
    try walk.forEach { p =>
      val t = dst.resolve(src.relativize(p))
      if (java.nio.file.Files.isDirectory(p))
        java.nio.file.Files.createDirectories(t)
      else java.nio.file.Files.copy(p, t)
    } finally walk.close()
    dst.toString
  }

  /** The q156 drain body: stages the change feed as 3 key-split
    * micro-batches, initializes the versioned snapshot, streams the
    * feed through [[mergeBatchIntoSnapshot]], and returns the snapshot
    * root (CURRENT = version 3 after the drain) under `root`.
    */
  private def runMergeSinkDrain(spark: SparkSession, dir: String, root: String): String =
    drain(spark) { ss =>
      Snapshot.init(s"$root/snap",
        graft.rel.Queries.mergeBase(ss, dir)
          .withColumn("__part", pmod(col("o_orderkey"), lit(MergeSnapParts)).cast("int")))
      // the feed as 3 micro-batches SPLIT BY KEY RANGE (k mod 3): batch g
      // touches only snapshot partitions {g, g+3} — the shape that makes
      // partition pruning observable. Keys are still disjoint across
      // batches, so order cannot change the final snapshot.
      val feed = stageFeed(dir, "merge-feed")(
        modSplit(graft.rel.Queries.mergeChangeFeed(ss, dir), "k"))
      readFeed(ss, feed).writeStream
        .option("checkpointLocation", s"$root/ckpt")
        .foreachBatch { (batch: Dataset[Row], _: Long) =>
          mergeBatchIntoSnapshot(s"$root/snap", batch.toDF())
          ()
        }
    }(_ => s"$root/snap")

  /** Declared query (q177) — SNAPSHOT TIME TRAVEL: run the q156 drain,
    * then read version CURRENT−1 by its manifest — the serving table AS
    * OF the moment before the last micro-batch committed. Because the
    * feed is key-split by k mod 3 in staged order, version N−1 is
    * exactly base MERGE'd with the first two batches (k % 3 ∈ {0, 1}),
    * which the DuckDB oracle recomputes independently — hash-green
    * proves superseded manifests still resolve to byte-complete data
    * directories (nothing the last commit did disturbed them), i.e. the
    * commit protocol really is append-and-swap, not rewrite-in-place.
    */
  def snapshotTimeTravel(spark: SparkSession, dir: String): DataFrame = {
    val snapRoot = mergeSinkDrainShared(spark, dir)
    val prev = Snapshot.currentVersion(snapRoot) - 1
    Snapshot.read(spark, snapRoot, Some(prev))
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"), col("o_totalprice"))
      .orderBy(col("o_orderkey"))
  }

  /** Declared query (q183) — SNAPSHOT FILE COMPACTION: run the q156
    * drain (which leaves each touched partition holding one small file
    * per writer task per micro-batch), then bin-pack every over-target
    * partition via [[Snapshot.compact]] and read CURRENT. The result
    * must be IDENTICAL to q156's — same DuckDB oracle — proving
    * compaction is content-neutral layout maintenance behind the same
    * atomic manifest-swap commit (StreamingSuite additionally asserts
    * the file counts actually drop, carried partitions stay
    * byte-identical, and the pre-compaction version still time-travels).
    */
  def snapshotCompaction(spark: SparkSession, dir: String): DataFrame = {
    val snapRoot = mergeSinkDrainCopy(spark, dir)
    Snapshot.compact(spark, snapRoot)
    Snapshot.read(spark, snapRoot)
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"), col("o_totalprice"))
      .orderBy(col("o_orderkey"))
  }

  /** Declared query (q197) — Z-ORDER CLUSTERING COMPACTION (OPTIMIZE
    * ZORDER BY): run the q156 drain, then rewrite every live partition
    * clustered by the Morton interleave of (o_custkey, o_orderkey)
    * under the same manifest-swap commit
    * ([[Snapshot.compactClustered]]), and read CURRENT. Content must be
    * IDENTICAL to q156's — the same DuckDB oracle — proving the layout
    * tier (q184) composes with the transactional commit (q177) as pure
    * maintenance. StreamingSuite additionally pins that the clustered
    * files' per-file custkey rectangles actually TIGHTEN (a custkey box
    * prunes files it could not prune before) and that the pre-cluster
    * version still time-travels byte-complete.
    */
  def snapshotClusteredCompaction(spark: SparkSession, dir: String): DataFrame = {
    val snapRoot = mergeSinkDrainCopy(spark, dir)
    Snapshot.compactClustered(spark, snapRoot, "o_custkey", "o_orderkey")
    Snapshot.read(spark, snapRoot)
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"), col("o_totalprice"))
      .orderBy(col("o_orderkey"))
  }

  /** Declared query (q203) — q197 at real OPTIMIZE ZORDER BY arity:
    * every live partition rewritten clustered by the THREE-way
    * interleave of (o_custkey, o_orderkey, o_totalprice)
    * ([[Snapshot.compactClusteredN]] — per-partition quantization grid,
    * [[graft.functions.ZOrderN]] z-value) under the same manifest-swap
    * commit. Content must be IDENTICAL to q156's — the same DuckDB
    * oracle — so the N-way layout tier composes with the transactional
    * commit as pure maintenance; StreamingSuite pins that per-file
    * rectangles tighten in the THIRD dimension too (a totalprice box
    * prunes files the 2-D clustering could not).
    */
  def snapshotClustered3Compaction(spark: SparkSession, dir: String): DataFrame = {
    val snapRoot = mergeSinkDrainCopy(spark, dir)
    Snapshot.compactClusteredN(spark, snapRoot,
      Seq("o_custkey", "o_orderkey", "o_totalprice"))
    Snapshot.read(spark, snapRoot)
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"), col("o_totalprice"))
      .orderBy(col("o_orderkey"))
  }

  /** Per-row integral milli-units for the CDF-maintained view: prices
    * in this pipeline have ≤3 decimal digits (raw cents, ×1.10
    * reprices, +5000 bumps), so `round(price·1000)` is never a
    * half-way case — Spark and DuckDB round the same near-integer
    * double to the same long, and all downstream view arithmetic is
    * EXACT integer adds (no FP accumulation-order noise to absorb).
    */
  private def priceMilli(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    round(c * lit(1000)).cast("long")

  /** Declared query (q200) — STREAMING CHANGE-DATA-FEED CONSUMPTION:
    * the consume side of q191's producer, closing the CDC loop. Each
    * upsert batch's row-level feed ([[graft.rel.DeleteVectors.changes]])
    * is staged file-per-micro-batch and read back AS A STREAM whose
    * `foreachBatch` maintains a per-customer (order count, spend)
    * materialized view — the q152 algebraic-refresh shape, fed by CDC
    * deltas instead of a table diff: insert/update_post contribute
    * (+1, +milli(price)), delete/update_pre subtract the exact
    * pre-image, so each refresh costs O(|batch| + |view|) and the
    * table is NEVER rescanned. Spend lives in integral milli-units
    * ([[priceMilli]]) so incremental == batch is exact, not
    * rounded-close. The oracle is the full recompute over the upserted
    * table's final state — and batch 2's pre-images reflect batch 1's
    * repricing (the overlapping custkeys), so out-of-order application,
    * a double-applied batch, or a stale pre-image all go red: the
    * cross-batch effect is load-bearing, not incidental. StreamingSuite
    * additionally pins the INTERMEDIATE view (after batch 1) against
    * the horizon-1 recompute and drives a delete-only batch through
    * the same drain.
    */
  def streamCdfRefreshFinal(spark: SparkSession, dir: String): DataFrame = {
    val (base, appends, dv) = graft.rel.Queries.morUpsertState(spark, dir)
    val viewRoot = runCdfRefreshDrain(spark, base, appends, dv, Seq(1L, 2L))
    val last = latestViewVersion(viewRoot)
    spark.read.parquet(s"$viewRoot/v$last")
      .select(col("o_custkey"), col("n_orders"), col("spend_milli"))
      .orderBy(col("o_custkey"))
  }

  private[streaming] def latestViewVersion(viewRoot: String): Int = {
    val walk = java.nio.file.Files.list(java.nio.file.Paths.get(viewRoot))
    try walk.toArray.map(_.asInstanceOf[java.nio.file.Path].getFileName.toString)
      .filter(_.startsWith("v")).map(_.drop(1).toInt).max
    finally walk.close()
  }

  /** Retention GC for the CDF-maintained view — the snapshot `gc`
    * discipline applied to the materialized view's version chain: keep
    * the newest `keepLast` versions (the serving one and enough history
    * to inspect recent refreshes), delete the rest. Each version is a
    * self-contained directory (no carry-forward here — every refresh
    * writes the FULL view), so retention is a plain prefix delete and
    * a long-running CDC consumer's disk footprint is O(keepLast ×
    * |view|), not O(batches × |view|).
    */
  def gcView(viewRoot: String, keepLast: Int): Unit = {
    require(keepLast >= 1, "must keep at least the serving version")
    val last = latestViewVersion(viewRoot)
    (0 to last - keepLast).foreach { v =>
      Snapshot.deleteRecursively(java.nio.file.Paths.get(viewRoot, s"v$v"))
    }
  }

  /** The q200 drain body, parameterized over the MoR state and the
    * batch horizon so the suite can drive extra shapes (a delete-only
    * batch) through the same kernel. Stages each batch's change feed as
    * one file, streams them in batch order, and folds every micro-batch
    * into a fresh view version `v{i}` (versions kept so intermediate
    * states stay inspectable). Returns the view root.
    */
  private[streaming] def runCdfRefreshDrain(
      spark: SparkSession, base: String, appends: String, dv: String,
      batchIds: Seq[Long]): String = {
    val root = java.nio.file.Files.createTempDirectory("graft-cdf-refresh-").toString
    drain(spark) { ss =>
      // per-batch change feed: a pure function of the (immutable, memoized)
      // MoR state — staged once per (state, horizon); the drain's
      // view/ckpt stay under the per-run root
      val feed = stageFeed(base, s"cdf-${batchIds.mkString("-")}-feed")(
        batchIds.map(graft.rel.DeleteVectors.changes(ss, base, appends, dv, _, Seq("o_orderkey"))))
      // view v0 = the aggregate over the PRE-upsert base — the one full
      // scan the view ever takes; everything after is delta-sized
      ss.read.parquet(base)
        .groupBy(col("o_custkey"))
        .agg(count(lit(1)).as("n_orders"),
          sum(priceMilli(col("o_totalprice"))).as("spend_milli"))
        .write.parquet(s"$root/view/v0")
      val ver = new java.util.concurrent.atomic.AtomicInteger(0)
      readFeed(ss, feed).writeStream
        .option("checkpointLocation", s"$root/ckpt")
        .foreachBatch { (batch: Dataset[Row], _: Long) =>
          val v = ver.get()
          val view = ss.read.parquet(s"$root/view/v$v")
          val sign = when(col("op").isin("insert", "update_post"), 1L).otherwise(-1L)
          val delta = batch.toDF()
            .groupBy(col("o_custkey"))
            .agg(sum(sign).as("dn"),
              sum(sign * priceMilli(col("o_totalprice"))).as("ds"))
          view.join(delta, Seq("o_custkey"), "full_outer")
            .select(col("o_custkey"),
              (coalesce(col("n_orders"), lit(0L)) + coalesce(col("dn"), lit(0L)))
                .as("n_orders"),
              (coalesce(col("spend_milli"), lit(0L)) + coalesce(col("ds"), lit(0L)))
                .as("spend_milli"))
            // a key whose last live version was deleted leaves the view
            // entirely (count 0), mirroring what the recompute would hold
            .filter(col("n_orders") > 0)
            .write.parquet(s"$root/view/v${v + 1}")
          ver.incrementAndGet()
          ()
        }
    }(_ => s"$root/view")
  }

  /** Declared query (q171) — STREAMING AS-OF ENRICHMENT: the click
    * stream arrives file-per-micro-batch and each batch is enriched via
    * the BROADCAST native as-of join
    * ([[graft.plans.AsOfJoinNative.asOfBroadcast]]) against the static
    * dim-bounded error table, appending to a parquet sink. As-of
    * matching is per-left-row independent — a row's match depends only
    * on that row and the FULL right table — so batching the probe side
    * cannot change any answer: the drained multi-batch enrichment must
    * equal the one-shot batch as-of, and q171 hash-gates against q36's
    * DuckDB ASOF oracle unchanged. This is the custom-operator tier
    * composing with Structured Streaming the way a 100 TB CDC
    * enrichment runs: ZERO shuffle on the streaming probe side (the
    * broadcast exec needs no Exchange there), one broadcast of the dim
    * per batch, and an append-only sink.
    */
  def streamAsOfEnrichFinal(spark: SparkSession, dir: String): DataFrame =
    asOfFeedDrain(spark) { ss =>
      val ev = graft.rel.Queries.events(ss, dir)
      // three micro-batches split by event_id mod 3 — the multi-batch
      // drain is real, not a one-trigger formality
      val feed = stageFeed(dir, "asof-feed")(modSplit(
        ev.filter(col("event_type") === "click")
          .select(col("event_id"), col("user_id"), col("ts"), col("value")),
        "event_id"))
      val errors = ev.filter(col("event_type") === "error")
        .groupBy(col("user_id"), col("ts"))
        .agg(max(col("value")).as("err_value"))
      (feed, errors)
    }
      .withColumnRenamed("__asof_time", "err_ts")
      .select(col("event_id"), col("user_id"), col("ts"), col("value"),
        col("err_ts"), col("err_value"))
      .orderBy(col("event_id"))

  /** The q171/q176 drain: `sides(session)` stages the probe-side feed and
    * builds the static right side; each micro-batch is as-of joined
    * (broadcast, on user_id/ts) against it and written to its own
    * `__batch` partition with dynamic overwrite — an at-least-once
    * REPLAY of a batch rewrites exactly its own directory instead of
    * appending duplicates (plain append is not replay-idempotent).
    * Returns the sink read back on the caller's session.
    */
  private def asOfFeedDrain(spark: SparkSession)(
      sides: SparkSession => (String, DataFrame)): DataFrame = {
    val root = java.nio.file.Files.createTempDirectory("graft-asof-stream-").toString
    drain(spark) { ss =>
      val (feed, right) = sides(ss)
      readFeed(ss, feed).writeStream
        .option("checkpointLocation", s"$root/ckpt")
        .foreachBatch { (batch: Dataset[Row], batchId: Long) =>
          graft.plans.AsOfJoinNative
            .asOfBroadcast(batch.toDF(), right, key = "user_id", time = "ts")
            .withColumn("__batch", lit(batchId))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("__batch")
            .parquet(s"$root/out")
          ()
        }
    }(_ => spark.read.parquet(s"$root/out"))
  }

  /** Declared query (q176) — STREAMING RESAMPLE + FORWARD-FILL: the
    * q172 per-user hourly grid arrives file-per-micro-batch (split by
    * user_id mod 3) and each batch forward-fills against the STATIC
    * pre-aggregated observation table through the broadcast native
    * as-of — the q171 composition pattern. As-of matching is
    * per-left-row independent, so batching the grid side cannot change
    * any answer: the drained multi-batch resample hash-gates against
    * q172's own DuckDB oracle unchanged. This is how a 100 TB
    * time-series backfill actually runs: the grid is generated and
    * streamed (never materialized to a driver), the observation side is
    * broadcast once per batch, and the probe side needs ZERO Exchange.
    */
  def streamResampleFfillFinal(spark: SparkSession, dir: String): DataFrame =
    asOfFeedDrain(spark) { ss =>
      val e = graft.rel.Queries.events(ss, dir).filter(col("event_type") === "click")
        .select(col("user_id"), col("ts"), col("value"))
      val feed = stageFeed(dir, "resample-feed")(
        modSplit(graft.rel.Queries.hourlyGrid(e), "user_id"))
      (feed, e.groupBy(col("user_id"), col("ts")).agg(max(col("value")).as("value")))
    }
      .withColumnRenamed("__asof_time", "obs_ts")
      .withColumnRenamed("ts", "h")
      .select(col("user_id"), col("h"), col("obs_ts"), col("value"))
      .orderBy(col("user_id"), col("h"))

  /** Declared query (q195) — STREAMING MoR UPSERT SINK: the CDC-ingest
    * shape on the deletion-vector table
    * ([[graft.rel.DeleteVectors]]): each micro-batch reduces to its
    * per-user LATEST event (max (ts, event_id) struct argmax) and
    * upserts that state keyed by user_id, tagged with the micro-batch's
    * own id — so after the drain the table IS "current state per user",
    * base files were never rewritten, and every batch's row-level
    * effect stays replayable through the q191 change feed. Slices are
    * staged in EVENT-TIME order (mod-time-ordered single files), so a
    * later batch can only carry later events for any user and
    * unconditional latest-wins is exact — out-of-order ingest would
    * need a compare-on-merge condition instead (documented, not
    * needed for a time-sliced drain). The oracle is the one-shot SQL
    * argmax over the whole log: a stale surviving version, a lost
    * batch, or a cross-region tombstone miss all flip rows.
    */
  def streamMorUpsertFinal(spark: SparkSession, dir: String): DataFrame = {
    val root = runMorUpsertDrain(spark, dir)
    graft.rel.DeleteVectors.readMor(spark, s"$root/base", s"$root/app", s"$root/dv")
      .select(col("user_id"), col("ts"), col("event_type"), col("value"))
      .orderBy(col("user_id"))
  }

  /** The q195 drain body — returns the sink root so the suite can
    * inspect the sidecar/append batch tags and base byte-identity.
    */
  private[graft] def runMorUpsertDrain(spark: SparkSession, dir: String): String = {
    val root = java.nio.file.Files.createTempDirectory("graft-mor-sink-").toString
    drain(spark) { ss =>
      val ev = graft.rel.Queries.events(ss, dir)
        .select(col("event_id"), col("ts"), col("user_id"), col("event_type"),
          col("value"))
      // empty base: the whole state arrives through the stream (inserts
      // first time a user appears, updates after); coalesce(1) forces one
      // writer task so a schema-bearing (zero-row) part file exists —
      // limit(0) alone can emit no part files and break schema inference
      ev.limit(0).coalesce(1).write.parquet(s"$root/base")
      val bounds = Seq("2024-01-11 00:00:00", "2024-01-21 00:00:00")
        .map(s => lit(s).cast("timestamp"))
      // event-time-sliced feed (base/app/dv stay under the per-run
      // root — the drain mutates them)
      val feed = stageFeed(dir, "morupsert-feed")(Seq(
        ev.filter(col("ts") < bounds(0)),
        ev.filter(col("ts") >= bounds(0) && col("ts") < bounds(1)),
        ev.filter(col("ts") >= bounds(1))))
      readFeed(ss, feed).writeStream
        .option("checkpointLocation", s"$root/ckpt")
        .foreachBatch { (batch: Dataset[Row], batchId: Long) =>
          val latest = batch.toDF()
            .groupBy(col("user_id"))
            .agg(max(struct(col("ts"), col("event_id"), col("event_type"),
              col("value"))).as("m"))
            .select(col("m.event_id").as("event_id"), col("m.ts").as("ts"),
              col("user_id"), col("m.event_type").as("event_type"),
              col("m.value").as("value"))
          graft.rel.DeleteVectors.upsert(batch.sparkSession,
            s"$root/base", s"$root/app", s"$root/dv",
            latest, Seq("user_id"), batchId = batchId + 1L)
          ()
        }
    }(_ => root)
  }

  /** File-based stream source over an events parquet directory — the
    * production `readStream` shape (one file = one micro-batch at test
    * scale; schema comes from the batch table).
    */
  /** Document file-stream source — [[readEventStream]]'s shape for the
    * `documents` table (no timestamp normalization needed: the schema is
    * all longs and strings).
    */
  def readDocStream(spark: SparkSession, dir: String): DataFrame = {
    spark.readStream
      .schema(table(spark, dir, "documents").schema)
      .option("pathGlobFilter", "documents.parquet")
      .parquet(dir)
  }

  /** Materialized standing corpus posting index for [[streamDeltaDedupFinal]]
    * — (c_id, n2, s) parquet staged once per dataset directory. A
    * production dedup-on-ingest deployment keeps exactly this table on
    * disk between batches; materializing (rather than recomputing on the
    * drain's child session, which cannot see the parent's shingle memo)
    * is both the honest shape and what keeps the per-drain cost at
    * |delta| work.
    *
    * The index is HOT-SHINGLE CAPPED exactly like its batch twin's
    * ([[graft.pipeline.Dedup.deltaDedupCapped]]): a shingle held by more
    * than `MaxPostings` corpus documents is dropped before the index is
    * written, so the stream-static join's fan-out per arriving shingle
    * is ≤ `MaxPostings` BY CONSTRUCTION — without the cap one
    * boilerplate 3-gram shared by 10⁶ corpus docs would multiply every
    * micro-batch by 10⁶. The streamed common-counts become lower bounds,
    * which is why the finalizer exact-verifies survivors
    * ([[graft.pipeline.Dedup.verifyPairsExact]]).
    */
  private def corpusPostingsPath(spark: SparkSession, dir: String): String =
    graft.Shared.staged(dir, "corpus-postings") { path =>
      import spark.implicits._
      val rows = graft.rel.Queries
        .table(spark, dir, "documents")
        .filter(col("doc_id") % graft.pipeline.Dedup.DeltaMod =!= 0)
        .select(col("doc_id"), col("text")).as[(Long, String)]
        .mapPartitions(_.map { case (id, t) =>
          (id, graft.pipeline.Dedup.shingleKernel(t))
        })
        .toDF("c_id", "sh")
        .select(col("c_id"), size(col("sh")).as("n2"), explode(col("sh")).as("s"))
      graft.pipeline.Dedup
        .postings[(Long, Int)](
          rows, Seq(col("s")), Seq(col("c_id"), col("n2")), Some(graft.pipeline.Dedup.MaxPostings))
        .select(col("s"), explode(col("ids")).as("e"))
        .select(col("e._1").as("c_id"), col("e._2").as("n2"), col("s"))
        .write.mode("overwrite").parquet(path)
      path
    }

  /** S2×L2 — DEDUP-ON-INGEST: the q98 incremental-dedup flow run as a
    * REAL STREAMING execution. The arriving document batch (the q98
    * delta: doc_id ≡ 0 mod [[graft.pipeline.Dedup.DeltaMod]]) streams in
    * through a file source, is shingled ON THE STREAM by the same JIT
    * kernel the batch path uses (a stateless typed map — no state
    * store), stream-static equi-joins the STANDING corpus posting index
    * (the static side a production deployment keeps materialized), and
    * accumulates per-pair common counts in a streaming aggregation whose
    * final state equals the batch answer — so the streamed result
    * hash-gates against the same DuckDB oracle family as q16/q98,
    * restricted to delta×corpus pairs (delta×delta pairs would need a
    * stream-self-join; they belong to the batch pass that runs when the
    * delta is folded in). This is the shape that turns daily-ingest
    * dedup from a scheduled batch into a continuous gate: per-batch work
    * is |arriving docs| × postings-hit, state is the pair-count table,
    * and the corpus is never re-paired.
    */
  def streamDeltaDedupFinal(spark: SparkSession, dir: String): DataFrame = {
    val postings = corpusPostingsPath(spark, dir)
    drainToLocal(
      spark,
      "stream_delta_dedup",
      { ss =>
        import ss.implicits._
        val corpus = ss.read.parquet(postings)
        val delta = readDocStream(ss, dir)
          .filter(col("doc_id") % graft.pipeline.Dedup.DeltaMod === 0)
          .select(col("doc_id"), col("text")).as[(Long, String)]
          .mapPartitions(_.map { case (id, t) =>
            (id, graft.pipeline.Dedup.shingleKernel(t))
          })
          .toDF("d_id", "sh")
          .select(col("d_id"), size(col("sh")).as("n1"), explode(col("sh")).as("s"))
        delta
          .join(corpus, "s") // stream-static equi-join, stateless
          .groupBy(col("d_id"), col("c_id"), col("n1"), col("n2"))
          .agg(count(lit(1)).as("common"))
      },
      "update") { t =>
      // final accumulated count per pair = max over its update rows (the
      // typeCountsFinal pattern: streaming agg state is monotone). The
      // capped index makes the streamed `common` a LOWER bound (jaccard
      // is monotone in it), so the threshold pass yields candidate pairs
      // that are exact-verified on full shingle sets before anything is
      // emitted — the deltaDedupCapped two-stage contract, streamed.
      val cand = t.groupBy(col("d_id"), col("c_id"), col("n1"), col("n2"))
        .agg(max(col("common")).as("common"))
        .withColumn("jaccard", col("common") / (col("n1") + col("n2") - col("common")))
        .filter(col("jaccard") >= graft.pipeline.Dedup.JaccardThreshold)
        .select(
          least(col("d_id"), col("c_id")).as("d1"),
          greatest(col("d_id"), col("c_id")).as("d2"))
      graft.pipeline.Dedup.verifyPairsExact(spark, dir, cand)
    }
  }

  /** Sequence for unique memory-sink names across [[rateIngestGate]]
    * invocations (bench runs the query several times in one JVM).
    */
  private val rateGateSeq = new java.util.concurrent.atomic.AtomicInteger(0)

  /** Declared query (q157) — the CONTINUOUS-INGEST gate: a genuinely
    * UNBOUNDED source (Spark's rate source) under a processing-time
    * trigger, the one execution mode no `AvailableNow` file drain
    * reaches. Windows must finalize and state must evict WHILE the query
    * keeps running — not at a drain boundary — which is the behavior a
    * 100 TB always-on ingest depends on for bounded state. Previously
    * suite-only (`StreamingSuite`): declaring it makes the driver's gate
    * record the observed eviction counters every round.
    *
    * Emits exactly ONE row of run counters read from the progress
    * stream: finalized-window count, state rows evicted, micro-batch
    * count, the max per-window event count (the 5 ms tick spacing means
    * a complete interior 1 s window holds exactly 200 rows), partial
    * windows seen (only the stream's first, boundary-straddling window
    * may be partial), and `gate_pass` — the conjunction the suite
    * asserts. Declared rows-only: the counters are wall-clock-dependent
    * by nature; the INVARIANTS are in `gate_pass` and re-asserted under
    * `sbt test`.
    */
  def rateIngestGate(spark: SparkSession, dir: String): DataFrame = {
    val ss = streamSession(spark, durable = false)
    val name = s"rate_ingest_gate_${rateGateSeq.incrementAndGet()}"
    val src = ss.readStream.format("rate").option("rowsPerSecond", "200").load()
    val agg = src
      .withWatermark("timestamp", "1 second")
      .groupBy(window(col("timestamp"), "1 second"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("sum_v"))
    val q = agg.writeStream.format("memory").queryName(name)
      .outputMode(OutputMode.Append())
      .trigger(Trigger.ProcessingTime("300 milliseconds"))
      .start()
    try {
      val deadline = System.currentTimeMillis() + 60000
      def evicted: Long =
        q.recentProgress.flatMap(_.stateOperators).map(_.numRowsRemoved).sum
      while (System.currentTimeMillis() < deadline
          && (evicted == 0 || ss.table(name).isEmpty)) {
        Thread.sleep(250)
      }
      val out = ss.table(name).collect()
      val counts = out.map(_.getLong(1)).toSeq
      val windowsFinalized = out.length.toLong
      val rowsRemoved = evicted
      val nBatches = q.recentProgress.length.toLong
      val maxWindowRows = if (counts.isEmpty) 0L else counts.max
      val partialWindows = counts.count(_ < 200L).toLong
      val pass = rowsRemoved > 0 && windowsFinalized > 0 &&
        maxWindowRows <= 200L && partialWindows <= 1L
      import spark.implicits._
      Seq((windowsFinalized, rowsRemoved, nBatches, maxWindowRows, partialWindows, pass))
        .toDF("windows_finalized", "state_rows_removed", "micro_batches",
          "max_window_rows", "partial_windows", "gate_pass")
    } finally release(ss, q)
  }

  def readEventStream(spark: SparkSession, dir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    val schema = table(spark, dir, "events").schema
    // the file stream source requires a DIRECTORY base path; select the
    // events table out of the sf dir with a glob filter
    val stream = spark.readStream
      .schema(schema)
      .option("pathGlobFilter", "events.parquet")
      .parquet(dir)
    // this source streams the ORIGINAL table file, so the ts conversion
    // has to match its physical type (the staged paths normalize instead)
    schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        stream.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      case _ => stream
    }
  }
}
