package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Structured Streaming semantics (S1/S2): watermarked tumbling windows
  * drop late data and finalize; session windows merge by gap; custom state
  * via flatMapGroupsWithState accumulates across micro-batches. Driven with
  * MemoryStream so each addData/processAllAvailable is one micro-batch.
  */
class StreamingSuite extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def ts(s: String): Timestamp = Timestamp.valueOf(s)

  private def row(t: String, user: Long, v: Double): (Timestamp, Long, Double) =
    (ts(t), user, v)

  test("S1 streaming: watermark finalizes tumbling windows and drops late events") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Timestamp, Long, Double)]
    val q = Events
      .tumblingStream(input.toDF.toDF("ts", "user_id", "value"), delay = "10 minutes")
      .writeStream.format("memory").queryName("tumbling_test")
      .outputMode(OutputMode.Append()).start()
    try {
      // batch 1: two events in hour 10, one in hour 11 -> nothing emitted yet
      input.addData(
        row("2024-01-01 10:05:00", 1, 1.0),
        row("2024-01-01 10:40:00", 2, 2.0),
        row("2024-01-01 11:02:00", 1, 4.0))
      q.processAllAvailable()
      assert(spark.table("tumbling_test").count() == 0)

      // batch 2: event time advances past 11:10 -> watermark 11:20-10m=11:10
      // finalizes the 10:00 window; a straggler for hour 10 arrives too late
      // and must be DROPPED from state (not re-opened).
      input.addData(row("2024-01-01 11:20:00", 3, 8.0))
      q.processAllAvailable()
      input.addData(row("2024-01-01 10:59:00", 9, 100.0)) // late beyond watermark
      input.addData(row("2024-01-01 12:30:00", 1, 16.0))
      q.processAllAvailable()
      val out = spark.table("tumbling_test")
        .select(col("window_start").cast("string"), col("n_events"), col("sum_value"))
        .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
      assert(out.contains("2024-01-01 10:00:00"))
      assert(out("2024-01-01 10:00:00") == ((2L, 3.0))) // late 100.0 excluded
      assert(out.contains("2024-01-01 11:00:00")) // finalized by the 12:30 event
    } finally q.stop()
  }

  test("S2 streaming: session windows merge events within the gap") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Timestamp, Long, Double)]
    val q = Events
      .sessionsStream(input.toDF.toDF("ts", "user_id", "value"), delay = "5 minutes")
      .writeStream.format("memory").queryName("session_test")
      .outputMode(OutputMode.Append()).start()
    try {
      // user 1: events 10:00, 10:20, 10:49 chain into ONE session (gaps < 30m);
      // 11:30 starts a second session. user 2: single event.
      input.addData(
        row("2024-01-01 10:00:00", 1, 1.0),
        row("2024-01-01 10:20:00", 1, 2.0),
        row("2024-01-01 10:49:00", 1, 4.0),
        row("2024-01-01 10:10:00", 2, 8.0))
      q.processAllAvailable()
      input.addData(row("2024-01-01 11:30:00", 1, 16.0))
      q.processAllAvailable()
      input.addData(row("2024-01-01 13:00:00", 9, 0.0)) // advance watermark, flush all
      q.processAllAvailable()
      val out = spark.table("session_test")
        .select(col("user_id"), col("session_start").cast("string"),
          col("last_event").cast("string"), col("n_events"), col("sum_value"))
        .collect()
        .map(r => (r.getLong(0), r.getString(1)) -> ((r.getString(2), r.getLong(3), r.getDouble(4))))
        .toMap
      assert(out((1L, "2024-01-01 10:00:00")) == (("2024-01-01 10:49:00", 3L, 7.0)))
      assert(out((1L, "2024-01-01 11:30:00")) == (("2024-01-01 11:30:00", 1L, 16.0)))
      assert(out((2L, "2024-01-01 10:10:00")) == (("2024-01-01 10:10:00", 1L, 8.0)))
    } finally q.stop()
  }

  test("custom state: flatMapGroupsWithState running totals across batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Timestamp, Long, Double)]
    val q = Events
      .runningTotals(spark, input.toDF.toDF("ts", "user_id", "value"))
      .writeStream.format("memory").queryName("running_test")
      .outputMode(OutputMode.Update()).start()
    try {
      input.addData(row("2024-01-01 10:00:00", 1, 1.0), row("2024-01-01 10:01:00", 1, 2.0))
      q.processAllAvailable()
      input.addData(row("2024-01-01 10:02:00", 1, 4.0), row("2024-01-01 10:03:00", 2, 10.0))
      q.processAllAvailable()
      val out = spark.table("running_test").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      // last update per user reflects full history: user 1 -> 3 events / 7.0
      assert(out.contains((1L, 2L, 3.0))) // after batch 1
      assert(out.contains((1L, 3L, 7.0))) // after batch 2 (state carried over)
      assert(out.contains((2L, 1L, 10.0)))
    } finally q.stop()
  }

  test("q67: streamed running-totals final state equals the batch aggregate") {
    val dir = "/root/testdata/sf0.001"
    val got = Events.runningTotalsFinal(spark, dir).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    val batch = graft.rel.Queries.events(spark, dir)
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("v"))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    assert(got == batch)
  }

  test("q74: self-unioned stream dedups back to exactly the batch table") {
    val dir = "/root/testdata/sf0.001"
    val got = Events.dedupStreamFinal(spark, dir)
    val batch = graft.rel.Queries.events(spark, dir)
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"), col("value"))
    // 2N rows entered the stream; the watermarked dedup must emit exactly
    // the N distinct source rows
    assert(got.count() == batch.count())
    assert(got.exceptAll(batch).isEmpty && batch.exceptAll(got).isEmpty)
  }

  test("q81: streamed-append session windows finalize to exactly the batch sessions") {
    val dir = "/root/testdata/sf0.001"
    val got = Events.sessionsStreamFinal(spark, dir)
    val batch = Events.sessionsBatch(spark, dir)
    // append mode emits a session only once the watermark passes its end;
    // the flush sentinel guarantees that for EVERY real session, so the
    // streamed result must equal the batch aggregate row-for-row
    assert(got.count() == batch.count())
    assert(got.exceptAll(batch).isEmpty && batch.exceptAll(got).isEmpty)
  }

  test("q82: streamed-append tumbling windows finalize to exactly the batch windows") {
    val dir = "/root/testdata/sf0.001"
    val got = Events.tumblingStreamFinal(spark, dir)
    val batch = Events.tumblingBatch(spark, dir)
    assert(got.count() == batch.count())
    assert(got.exceptAll(batch).isEmpty && batch.exceptAll(got).isEmpty)
    // each drain runs on a fresh child session: a repeated drain must
    // reuse the code the first one compiled, not recompile its whole plan
    assert(TestSpark.compilesDuring(Events.tumblingStreamFinal(spark, dir).collect()) == 0)
  }

  test("q86: streamed-append sliding windows finalize to exactly the batch windows") {
    val dir = "/root/testdata/sf0.001"
    val got = Events.slidingStreamFinal(spark, dir)
    val batch = Events.slidingBatch(spark, dir)
    // each event lives in TWO overlapping windows — finalization must
    // flush every concurrently-open window, not just the latest
    assert(got.count() == batch.count())
    assert(got.exceptAll(batch).isEmpty && batch.exceptAll(got).isEmpty)
  }

  test("watermark eviction provably shrinks streaming state across micro-batches") {
    val dir = "/root/testdata/sf0.001"
    // the staged multi-file source: one time-ordered slice per micro-batch,
    // flush sentinel last — the watermark advances at every batch boundary
    val (stage, _, _) = Events.stageTimeSplitWithFlush(spark, dir)
    val ss = spark.newSession()
    ss.conf.set("spark.sql.shuffle.partitions", "8")
    val q = Events.tumblingStream(Events.readStagedEventStream(ss, dir, stage))
      .writeStream.format("memory").queryName("evict_gate")
      .outputMode(OutputMode.Append())
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val progs = q.recentProgress
    assert(progs.count(_.numInputRows > 0) >= 3, "drain was not multi-batch")
    // THE gate: watermark eviction must actually remove state rows during
    // the run — the one streaming behavior no result-equality check can
    // observe (a store that never evicts produces identical output and
    // grows without bound)
    val stateOps = progs.flatMap(_.stateOperators)
    val removed = stateOps.map(_.numRowsRemoved).sum
    assert(removed > 0,
      s"watermark advanced across ${progs.length} batches but no state rows were evicted")
    // and by the closing batch the store has SHRUNK from its peak: the
    // sentinel (a day past max event time) pushes the watermark past every
    // real window, so only the sentinel's own window may remain open
    val totals = progs.filter(_.stateOperators.nonEmpty)
      .map(_.stateOperators.head.numRowsTotal)
    assert(totals.nonEmpty && totals.last < totals.max,
      s"state size never shrank: $totals")
  }

  test("unbounded rate source: continuous ingest finalizes windows and evicts state") {
    // the one execution mode no file-source drain exercises: a genuinely
    // UNBOUNDED source (Spark's rate source) under a processing-time
    // trigger — windows must finalize and state must evict WHILE the
    // query keeps running, not at an AvailableNow drain boundary.
    // Driven through the DECLARED operator (q157) so the driver's gate
    // and this suite assert the same execution.
    val row = Events.rateIngestGate(spark, "/root/testdata/sf0.001").collect()
    assert(row.length == 1)
    val r = row.head
    assert(r.getLong(1) > 0, "no state eviction under continuous ingest")
    assert(r.getLong(0) > 0, "no window finalized while the query was still running")
    // interior finalized 1s windows are complete (the source ticks at
    // exactly 5 ms spacing → 200/window); only the stream's first,
    // boundary-straddling window may be partial
    assert(r.getLong(3) <= 200L, s"overfull window: ${r.getLong(3)} rows")
    assert(r.getLong(4) <= 1L, s"multiple partial windows: ${r.getLong(4)}")
    assert(r.getBoolean(5), "gate_pass must encode the conjunction")
  }

  test("q87: multi-batch streamed interval join equals the batch twin, with cross-batch pairs") {
    val dir = "/root/testdata/sf0.001"
    // the staged split must have bisected at least one matched pair — a
    // click in a later micro-batch than the error it joins, so the match
    // can only come from join state carried across the batch boundary
    val (stage, bisected, _) = Events.stageTimeSplitWithFlush(spark, dir)
    assert(bisected >= 1, "no matched pair split across micro-batches")
    val nFiles = java.nio.file.Files.list(java.nio.file.Paths.get(stage)).count()
    assert(nFiles >= 3, s"expected multiple micro-batch files, got $nFiles")
    val got = Events.intervalJoinStreamFinal(spark, dir)
    val batch = Events.clicksWithRecentErrorsBatch(spark, dir)
    assert(got.count() == batch.count() && got.count() > 0)
    assert(got.exceptAll(batch).isEmpty && batch.exceptAll(got).isEmpty)
  }

  test("q88: restart from checkpoint recovers watermark and window state, exactly once") {
    val dir = "/root/testdata/sf0.001"
    val got = Events.restartRecoveryFinal(spark, dir)
    val batch = Events.tumblingBatch(spark, dir)
    // run 2 is a NEW streaming execution resuming run 1's checkpoint: a
    // lost watermark would re-emit run 1's finalized windows (duplicate
    // rows), lost state would undercount the windows open at the stop —
    // either breaks row-for-row equality with the batch aggregate
    assert(got.count() == batch.count())
    assert(got.exceptAll(batch).isEmpty && batch.exceptAll(got).isEmpty)
  }

  test("q89 model: random event sets through multi-batch timers equal the session model") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // RocksDB provider on the SHARED test session for the duration
    // (transformWithState requires it); restored in finally — suites run
    // sequentially in the forked test JVM
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val rnd = new scala.util.Random(42)
      for (trial <- 1 to 4) {
        val base = ts("2024-01-01 00:00:00").getTime
        // per-user DISTINCT minute offsets: ts ties within a user would
        // make the in-batch sort order (and double-sum order) ambiguous
        val events = (1 to (2 + rnd.nextInt(4))).flatMap { user =>
          val offs = scala.collection.mutable.SortedSet.empty[Int]
          (0 until (3 + rnd.nextInt(8))).foreach(_ => offs += rnd.nextInt(600))
          offs.toSeq.map(m => (new Timestamp(base + m * 60000L), user.toLong, (m % 7).toDouble))
        }.sortBy(_._1.getTime)
        val input = MemoryStream[(Timestamp, Long, Double)]
        val q = Events.timerSessions(spark, input.toDF.toDF("ts", "user_id", "value"))
          .writeStream.format("memory").queryName(s"timer_model_$trial")
          .outputMode(OutputMode.Update()).start()
        try {
          // three time-ordered chunks of the sorted sequence = the same
          // disjoint-ascending micro-batch shape the staged drain proves
          // deterministic; then a far-future flush event fires all timers
          val (c1, c2) = (events.size / 3, 2 * events.size / 3)
          Seq(events.slice(0, c1), events.slice(c1, c2), events.drop(c2))
            .filter(_.nonEmpty)
            .foreach { b => input.addData(b: _*); q.processAllAvailable() }
          input.addData((new Timestamp(base + 100L * 86400000L), -1L, 0.0))
          q.processAllAvailable()
          val got = spark.table(s"timer_model_$trial")
            .filter(col("user_id") =!= -1L)
            .collect()
            .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4)))
            .toSet
          val gapUs = Events.SessionGapMinutes * 60 * 1000000L
          val model = events.groupBy(_._2).flatMap { case (u, evs) =>
            val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long, Long, Double)]
            var start = -1L; var last = -1L; var n = 0L; var sum = 0.0
            evs.sortBy(_._1.getTime).foreach { case (t, _, v) =>
              val us = t.getTime * 1000L
              if (start < 0) { start = us; last = us; n = 1; sum = v }
              else if (us - last > gapUs) {
                out += ((u, start, last, n, sum)); start = us; last = us; n = 1; sum = v
              } else { last = us; n += 1; sum += v }
            }
            if (start >= 0) out += ((u, start, last, n, sum))
            out
          }.toSet
          assert(got == model, s"trial $trial: $got vs $model")
        } finally q.stop()
      }
    } finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  test("q90: left-outer streamed interval join equals the batch left join, nulls included") {
    val dir = "/root/testdata/sf0.001"
    val got = Events.intervalJoinOuterStreamFinal(spark, dir)
    val ev = graft.rel.Queries.events(spark, dir)
    val batch = Events.clicksWithRecentErrors(
      ev.filter(col("event_type") === "click"),
      ev.filter(col("event_type") === "error"),
      joinType = "leftOuter")
      .select(col("user_id"), col("click_ts"), col("click_value"), col("err_ts"), col("err_value"))
    // every unmatched click must null-pad exactly once (watermark-driven
    // finalization), every matched click exactly its match rows
    assert(got.count() == batch.count())
    assert(got.filter(col("err_ts").isNull).count() > 0, "no unmatched clicks — outer path untested")
    assert(got.exceptAll(batch).isEmpty && batch.exceptAll(got).isEmpty)
  }

  test("q89: event-time-timer sessions equal the batch session windows") {
    val dir = "/root/testdata/sf0.001"
    val got = Events.timerSessionsFinal(spark, dir)
    val batch = Events.sessionsBatch(spark, dir)
    // sessions are emitted once each: inline when a later event breaks
    // them, or from handleExpiredTimer once the watermark (driven past
    // everything by the flush sentinel) passes last_event + gap — so the
    // timer path must reproduce the session-window aggregate exactly
    assert(got.count() == batch.count() && got.count() > 0)
    assert(got.exceptAll(batch).isEmpty && batch.exceptAll(got).isEmpty)
  }

  test("q84: streamed enrichment + complete-mode aggregate equals the batch join + group-by") {
    val dir = "/root/testdata/sf0.001"
    val got = Events.enrichedSegmentsFinal(spark, dir)
    val batch = graft.rel.Queries.events(spark, dir)
      .join(
        spark.read.parquet(s"$dir/customer.parquet")
          .select(col("c_custkey").as("user_id"), col("c_mktsegment").as("mktsegment")),
        Seq("user_id"), "left")
      .groupBy(org.apache.spark.sql.functions.coalesce(col("mktsegment"), org.apache.spark.sql.functions.lit("(unmatched)")).as("mktsegment"))
      .agg(
        org.apache.spark.sql.functions.count(org.apache.spark.sql.functions.lit(1)).as("n_events"),
        org.apache.spark.sql.functions.round(org.apache.spark.sql.functions.sum(col("value")), 2).as("sum_value"))
    // every event's value can only reach its segment through the
    // per-micro-batch broadcast join — equality gates the enrichment path
    assert(got.count() == batch.count() && got.count() > 0)
    assert(got.exceptAll(batch).isEmpty && batch.exceptAll(got).isEmpty)
  }

  test("q85: parquet file sink round-trips every source row exactly once") {
    val dir = "/root/testdata/sf0.001"
    val got = Events.streamSinkRoundtrip(spark, dir)
    val batch = graft.rel.Queries.events(spark, dir)
      .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
    // the sink's commit log is the exactly-once mechanism: no row lost,
    // no row duplicated, values bit-exact through the parquet round-trip
    assert(got.count() == batch.count())
    assert(got.exceptAll(batch).isEmpty && batch.exceptAll(got).isEmpty)
  }

  test("q75: funnel stages are sequenced and the horizon creates dropoff") {
    val rows = Events.funnel(spark, "/root/testdata/sf0.001").collect()
    // all three stages present: the 24h horizon must actually split users
    assert(rows.map(_.getInt(4)).distinct.sorted.toSeq == Seq(1, 2, 3))
    rows.foreach { r =>
      val stage = r.getInt(4)
      assert((stage >= 2) == !r.isNullAt(2) && (stage == 3) == !r.isNullAt(3))
      if (!r.isNullAt(2)) assert(!r.getTimestamp(2).before(r.getTimestamp(1)))
      if (!r.isNullAt(3)) assert(!r.getTimestamp(3).before(r.getTimestamp(2)))
    }
  }

  test("file-source stream over events parquet matches the batch answer") {
    val dir = "/root/testdata/sf0.001"
    val q = Events
      .tumblingStream(Events.readEventStream(spark, dir), delay = "0 seconds")
      .writeStream.format("memory").queryName("file_stream_test")
      .outputMode(OutputMode.Append()).start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("file_stream_test")
        .select(col("window_start").cast("string"), col("n_events"), col("sum_value"))
        .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
      val batch = Events.tumblingBatch(spark, dir)
        .select(col("window_start").cast("string"), col("n_events"), col("sum_value"))
        .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
      // append mode holds back windows the watermark hasn't passed; with a
      // 0s delay only the max-event-time window can still be open
      assert(streamed.nonEmpty)
      assert((batch.size - streamed.size) <= 1)
      streamed.foreach { case (w, agg) => assert(batch(w) == agg, s"window $w") }
    } finally q.stop()
  }

  test("stream-static join enriches events with a broadcast dimension") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dim = Seq((1L, "gold"), (2L, "basic")).toDF("user_id", "tier")
    val input = MemoryStream[(Timestamp, Long, Double)]
    val q = Events
      .enrichWithDim(input.toDF.toDF("ts", "user_id", "value"), dim, "user_id")
      .writeStream.format("memory").queryName("enrich_test")
      .outputMode(OutputMode.Append()).start()
    try {
      input.addData(
        row("2024-01-01 10:00:00", 1, 1.0),
        row("2024-01-01 10:01:00", 2, 2.0),
        row("2024-01-01 10:02:00", 9, 4.0)) // no dim row -> null tier
      q.processAllAvailable()
      val out = spark.table("enrich_test")
        .select(col("user_id"), col("tier")).collect()
        .map(r => r.getLong(0) -> Option(r.getString(1))).toMap
      assert(out == Map(1L -> Some("gold"), 2L -> Some("basic"), 9L -> None))
    } finally q.stop()
  }

  test("streaming dedup drops duplicate event ids within the watermark") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Timestamp, Long, Double)]
    val q = Events
      .dedupStream(
        input.toDF.toDF("ts", "event_id", "value"), delay = "10 minutes")
      .writeStream.format("memory").queryName("dedup_test")
      .outputMode(OutputMode.Append()).start()
    try {
      input.addData(
        row("2024-01-01 10:00:00", 100, 1.0),
        row("2024-01-01 10:00:30", 100, 1.0), // same id, same batch
        row("2024-01-01 10:01:00", 101, 2.0))
      q.processAllAvailable()
      input.addData(row("2024-01-01 10:02:00", 100, 1.0)) // dup across batches
      input.addData(row("2024-01-01 10:03:00", 102, 4.0))
      q.processAllAvailable()
      val ids = spark.table("dedup_test").select("event_id")
        .collect().map(_.getLong(0)).sorted
      assert(ids.toSeq == Seq(100L, 101L, 102L))
    } finally q.stop()
  }

  test("stream-stream interval join pairs clicks with recent errors only") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val clicks = MemoryStream[(Timestamp, Long, Double)]
    val errors = MemoryStream[(Timestamp, Long, Double)]
    val q = Events
      .clicksWithRecentErrors(
        clicks.toDF.toDF("ts", "user_id", "value"),
        errors.toDF.toDF("ts", "user_id", "value"),
        delay = "5 minutes", horizon = "30 minutes")
      .writeStream.format("memory").queryName("ss_join_test")
      .outputMode(OutputMode.Append()).start()
    try {
      errors.addData(
        row("2024-01-01 10:00:00", 1, 0.5), // within 30m of the click
        row("2024-01-01 09:00:00", 1, 0.25), // too old
        row("2024-01-01 10:10:00", 2, 0.75)) // other user
      clicks.addData(row("2024-01-01 10:20:00", 1, 1.0))
      q.processAllAvailable()
      // advance both watermarks so results flush in append mode
      errors.addData(row("2024-01-01 12:00:00", 9, 0.0))
      clicks.addData(row("2024-01-01 12:00:00", 9, 0.0))
      q.processAllAvailable()
      val out = spark.table("ss_join_test")
        .select(col("user_id"), col("click_ts").cast("string"), col("err_ts").cast("string"))
        .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
      assert(out.contains((1L, "2024-01-01 10:20:00", "2024-01-01 10:00:00")))
      assert(!out.exists(_._3 == "2024-01-01 09:00:00")) // outside horizon
      assert(!out.exists(t => t._1 == 1L && t._3 == "2024-01-01 10:10:00")) // other user
    } finally q.stop()
  }

  test("transformWithState: MapState counts survive across micro-batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // transformWithState requires the RocksDB state store provider
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set(
      "spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val input = MemoryStream[(Timestamp, Long, Double)]
    val ev = input.toDF.toDF("ts", "user_id", "value")
      .withColumn("event_type",
        when(col("value") < 2.0, "click").otherwise("view"))
    val q = Events.typeCounts(spark, ev)
      .writeStream.format("memory").queryName("tws_test")
      .outputMode(OutputMode.Update()).start()
    try {
      input.addData(
        row("2024-01-01 10:00:00", 1, 1.0), // click
        row("2024-01-01 10:01:00", 1, 1.5), // click
        row("2024-01-01 10:02:00", 1, 5.0)) // view
      q.processAllAvailable()
      input.addData(row("2024-01-01 10:03:00", 1, 1.0)) // click again
      q.processAllAvailable()
      val out = spark.table("tws_test").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
      assert(out.contains((1L, "click", 2L))) // after batch 1
      assert(out.contains((1L, "view", 1L)))
      assert(out.contains((1L, "click", 3L))) // state carried into batch 2
    } finally {
      q.stop()
      prev match {
        case Some(p) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("batch/stream parity: same session transform, same answer") {
    import spark.implicits._
    // The declared q30 uses the identical Events.sessions transform in batch
    // mode; spot-check its semantics against a tiny hand-computed fixture.
    val df = Seq(
      row("2024-01-01 09:00:00", 7, 1.0),
      row("2024-01-01 09:29:59", 7, 2.0), // 29m59s gap: merges
      row("2024-01-01 09:59:59", 7, 4.0), // exactly 30m after previous: still merges
      row("2024-01-01 11:00:00", 7, 8.0)
    ).toDF("ts", "user_id", "value")
    val got = Events.sessions(df)
      .select(col("session_start").cast("string"), col("n_events"), col("sum_value"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
    // a gap of exactly gapDuration merges (probed empirically: session ends
    // at last+gap and an event AT that boundary still joins the session);
    // only a strictly larger gap starts a new session -- the DuckDB oracle
    // for q30 therefore breaks on `> INTERVAL 30 MINUTE`, not >=.
    assert(got == Set(
      ("2024-01-01 09:00:00", 3L, 7.0),
      ("2024-01-01 11:00:00", 1L, 8.0)))
  }

  test("q156 snapshot read partition-prunes: only touched directories reach the scan") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, lit, pmod}
    val root = java.nio.file.Files.createTempDirectory("graft-merge-pplan-").toString
    Snapshot.init(s"$root/snap",
      (0L until 24L).map(k => (k, k * 2))
        .toDF("o_orderkey", "o_custkey")
        .withColumn("__part", pmod(col("o_orderkey"), lit(Events.MergeSnapParts)).cast("int")))
    // the exact read shape mergeBatchIntoSnapshot issues for touched {1, 4}:
    // the manifest resolves the touched dirs and ONLY those are listed
    val pruned = Snapshot.readParts(spark, s"$root/snap", 0, Seq(1, 4)).get
    val scanFiles = pruned.queryExecution.executedPlan.collectLeaves().collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec =>
        f.relation.location.listFiles(f.partitionFilters, f.dataFilters)
          .flatMap(_.files.map(_.getPath.toString))
    }.flatten
    assert(scanFiles.nonEmpty &&
      scanFiles.forall(p => p.contains("/__part=1/") || p.contains("/__part=4/")), scanFiles)
    // and the leaf-dir read carries NO partition column — data schema only
    assert(!pruned.columns.contains("__part"), pruned.columns.toSeq)
  }

  test("q156 merge sink: append-and-swap — a batch never rewrites an existing byte") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, lit, pmod}
    val root = java.nio.file.Files.createTempDirectory("graft-merge-prune-").toString
    // synthetic 6-partition snapshot: keys 0..35 cover every partition
    val base = (0L until 36L).map(k => (k, k * 10, s"S$k", k * 1.5))
      .toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")
    Snapshot.init(s"$root/snap", base
      .withColumn("__part", pmod(col("o_orderkey"), lit(Events.MergeSnapParts)).cast("int")))
    def fileHashes(): Map[String, String] = {
      val rootPath = java.nio.file.Paths.get(s"$root/snap")
      val stream = java.nio.file.Files.walk(rootPath)
      try {
        import scala.jdk.CollectionConverters._
        stream.iterator().asScala
          .filter(p => java.nio.file.Files.isRegularFile(p) &&
            p.getFileName.toString.endsWith(".parquet"))
          .map { p =>
            val md = java.security.MessageDigest.getInstance("MD5")
            rootPath.relativize(p).toString ->
              md.digest(java.nio.file.Files.readAllBytes(p)).map("%02x".format(_)).mkString
          }.toMap
      } finally stream.close()
    }
    val before = fileHashes()
    assert((0 until 6).forall(p => before.keys.exists(_.startsWith(s"v0/__part=$p/"))))
    // the batch touches ONLY partition 1: upsert key 1, delete key 7
    val batch = Seq(
      (1L, "U", Some(999L), Some("UPD"), Some(42.0)),
      (7L, "D", None: Option[Long], None: Option[String], None: Option[Double]))
      .toDF("k", "op", "new_custkey", "new_status", "new_price")
    val touched = Events.mergeBatchIntoSnapshot(s"$root/snap", batch)
    assert(touched == Seq(1))
    val after = fileHashes()
    // EVERY pre-existing file is still there, byte-identical — the
    // commit only ADDED v1 files and swapped the pointer
    assert(before.forall { case (f, h) => after.get(f).contains(h) },
      "an existing data file was rewritten or deleted by a commit")
    // new files land ONLY under the commit's private attempt dir (data
    // dirs are writer-token-named, never version-named)
    assert((after.keySet -- before.keySet).forall(_.matches("a-[0-9a-f]+/__part=1/.*")),
      after.keySet -- before.keySet)
    // the manifest carries untouched partitions forward by reference
    val man1 = Snapshot.readManifest(s"$root/snap", 1)
    val part1Dir = man1.parts(1)
    assert(part1Dir.matches("a-[0-9a-f]+/__part=1"), part1Dir)
    for (p <- 0 until 6 if p != 1) assert(man1.parts(p) == s"v0/__part=$p", man1.parts)
    // and the served content of partition 1 is the merged result
    val part1 = Snapshot.read(spark, s"$root/snap")
      .filter(pmod(col("o_orderkey"), lit(6)) === 1)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getDouble(3))).toSet
    assert(part1 == Set(
      (1L, 999L, "UPD", 42.0), // upserted
      (13L, 130L, "S13", 19.5), (19L, 190L, "S19", 28.5),
      (25L, 250L, "S25", 37.5), (31L, 310L, "S31", 46.5))) // 7 deleted
    // a batch that deletes EVERY key of a partition maps it to the empty
    // marker — the serving read excludes it, the old version still has it
    val killAll = (0 until 6).map(i => (2L + 6 * i, "D",
      None: Option[Long], None: Option[String], None: Option[Double]))
      .toDF("k", "op", "new_custkey", "new_status", "new_price")
    assert(Events.mergeBatchIntoSnapshot(s"$root/snap", killAll) == Seq(2))
    assert(Snapshot.readManifest(s"$root/snap", 2).parts(2) == Snapshot.EmptyDir)
    assert(Snapshot.read(spark, s"$root/snap")
      .filter(pmod(col("o_orderkey"), lit(6)) === 2).count() == 0L)
    assert(Snapshot.read(spark, s"$root/snap", Some(1))
      .filter(pmod(col("o_orderkey"), lit(6)) === 2).count() == 6L)
    // CRASH RECOVERY under the OCC protocol. (a) a pre-claim crash
    // leaves only an inert, UNREFERENCED attempt dir — redelivery just
    // commits the next version; nothing wedges and nothing deletes a
    // dir that could belong to a racing writer
    java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(s"$root/snap/a-deadc0decafe/__part=0"))
    // (b) a post-claim crash: the manifest is complete (data landed
    // before the claim by protocol) but CURRENT was never moved —
    // simulate with a metadata-only carry-forward claim of v3. The next
    // commit ROLLS IT FORWARD and lands on v4
    Snapshot.writeManifest(s"$root/snap",
      Snapshot.Manifest(3, Snapshot.readManifest(s"$root/snap", 2).parts))
    assert(Snapshot.currentVersion(s"$root/snap") == 2,
      "a claimed-unpublished version must stay invisible to readers")
    val retry = Seq((0L, "U", Some(111L), Some("RETRY"), Some(1.0)))
      .toDF("k", "op", "new_custkey", "new_status", "new_price")
    assert(Events.mergeBatchIntoSnapshot(s"$root/snap", retry) == Seq(0))
    assert(Snapshot.currentVersion(s"$root/snap") == 4,
      "the retry must roll the claimed v3 forward and commit v4")
    assert(Snapshot.read(spark, s"$root/snap").filter(col("o_orderkey") === 0L)
      .collect().map(_.getString(2)).toSeq == Seq("RETRY"))
    // the crashed attempt dir survives commits (it is indistinguishable
    // from a live racer's in-flight attempt) until the operator sweep,
    // which spares every manifest-referenced dir
    assert(java.nio.file.Files.exists(
      java.nio.file.Paths.get(s"$root/snap/a-deadc0decafe")))
    Snapshot.sweepUncommitted(s"$root/snap")
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(s"$root/snap/a-deadc0decafe")))
    assert(Snapshot.read(spark, s"$root/snap").filter(col("o_orderkey") === 0L)
      .collect().map(_.getString(2)).toSeq == Seq("RETRY"),
      "sweep deleted a referenced dir")
    // RETENTION GC keepLast=1: expired manifests go, carried-forward
    // dirs the retained manifest references SURVIVE, superseded dirs go
    Snapshot.gc(s"$root/snap", keepLast = 1)
    for (v <- 0 to 3)
      assert(!java.nio.file.Files.exists(
        java.nio.file.Paths.get(s"$root/snap/manifest-v$v.txt")), s"manifest v$v retained")
    val man4 = Snapshot.readManifest(s"$root/snap", 4)
    assert(man4.parts(1) == part1Dir && java.nio.file.Files.exists(
      java.nio.file.Paths.get(s"$root/snap/$part1Dir")), "carried-forward dir was GC'd")
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(s"$root/snap/v0/__part=1")), "superseded dir survived GC")
    assert(Snapshot.read(spark, s"$root/snap").count() ==
      36L - 6L /* part2 killed */ - 1L /* key 7 deleted */)
  }

  test("snapshot serves a fully-deleted table as an empty frame in the table's schema") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, lit, pmod}
    val root = java.nio.file.Files.createTempDirectory("graft-snap-empty-").toString
    Snapshot.init(s"$root/snap",
      (0L until 6L).map(k => (k, k * 10, s"S$k", k * 1.5))
        .toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")
        .withColumn("__part", pmod(col("o_orderkey"), lit(Events.MergeSnapParts)).cast("int")))
    val killAll = (0L until 6L).map(k => (k, "D",
      None: Option[Long], None: Option[String], None: Option[Double]))
      .toDF("k", "op", "new_custkey", "new_status", "new_price")
    Events.mergeBatchIntoSnapshot(s"$root/snap", killAll)
    val served = Snapshot.read(spark, s"$root/snap")
    assert(served.count() == 0L)
    assert(served.columns.toSeq ==
      Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"))
    // and gc on the all-empty state keeps ONE data dir as schema donor:
    // the typed empty frame stays servable after retention
    Snapshot.gc(s"$root/snap", keepLast = 1)
    val afterGc = Snapshot.read(spark, s"$root/snap")
    assert(afterGc.count() == 0L)
    assert(afterGc.columns.toSeq ==
      Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"))
  }

  test("q183 compaction: bin-packs small files, keeps content byte-for-byte, commits atomically") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, lit, pmod}
    val root = java.nio.file.Files.createTempDirectory("graft-snap-compact-").toString
    // force multi-file partitions: a 4-task frame partitionBy-written
    // leaves each of the 6 partitions holding up to 4 small files
    val base = (0L until 48L).map(k => (k, k * 10, s"S$k", k * 1.5))
      .toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")
      .repartition(4)
      .withColumn("__part", pmod(col("o_orderkey"), lit(Events.MergeSnapParts)).cast("int"))
    Snapshot.init(s"$root/snap", base)
    def fileHashes(): Map[String, String] = {
      val rootPath = java.nio.file.Paths.get(s"$root/snap")
      val stream = java.nio.file.Files.walk(rootPath)
      try {
        import scala.jdk.CollectionConverters._
        stream.iterator().asScala
          .filter(p => java.nio.file.Files.isRegularFile(p) &&
            p.getFileName.toString.endsWith(".parquet"))
          .map { p =>
            val md = java.security.MessageDigest.getInstance("MD5")
            rootPath.relativize(p).toString ->
              md.digest(java.nio.file.Files.readAllBytes(p)).map("%02x".format(_)).mkString
          }.toMap
      } finally stream.close()
    }
    val content = Snapshot.read(spark, s"$root/snap")
      .collect().map(_.toString).sorted.toSeq
    val v0Files = fileHashes()
    assert(v0Files.size > Events.MergeSnapParts, "fixture failed to produce small files")
    // 128 MB bin target at toy scale → every partition packs to ONE file
    val stats = Snapshot.compact(spark, s"$root/snap")
    assert(stats.rewritten == (0 until Events.MergeSnapParts).toSeq, stats)
    assert(stats.filesBefore == v0Files.size)
    assert(stats.filesAfter == Events.MergeSnapParts, stats)
    assert(Snapshot.currentVersion(s"$root/snap") == 1)
    // content identical; v0 files untouched (append-and-swap); v0 still time-travels
    assert(Snapshot.read(spark, s"$root/snap")
      .collect().map(_.toString).sorted.toSeq == content)
    val after = fileHashes()
    assert(v0Files.forall { case (f, h) => after.get(f).contains(h) },
      "compaction rewrote or deleted a committed file")
    assert(Snapshot.read(spark, s"$root/snap", Some(0))
      .collect().map(_.toString).sorted.toSeq == content)
    // an all-compact table is a metadata-only NO-OP: no new version at all
    val noop = Snapshot.compact(spark, s"$root/snap")
    assert(noop.rewritten.isEmpty && noop.filesBefore == noop.filesAfter)
    assert(Snapshot.currentVersion(s"$root/snap") == 1)
    // a MERGE re-fragments ONE partition; recompaction rewrites ONLY it
    // and carries the other five partitions forward by reference
    val batch = Seq((1L, "U", Some(999L), Some("UPD"), Some(42.0)))
      .toDF("k", "op", "new_custkey", "new_status", "new_price")
    assert(Events.mergeBatchIntoSnapshot(s"$root/snap", batch) == Seq(1))
    val man2 = Snapshot.readManifest(s"$root/snap", 2)
    val fragmented = fileHashes().keys.count(_.startsWith(man2.parts(1) + "/"))
    val stats2 = Snapshot.compact(spark, s"$root/snap")
    if (fragmented > 1) {
      assert(stats2.rewritten == Seq(1), stats2)
      val man1 = Snapshot.readManifest(s"$root/snap", 1)
      val man = Snapshot.readManifest(s"$root/snap", 3)
      assert(man.parts(1).matches("a-[0-9a-f]+/__part=1") &&
        man.parts(1) != man2.parts(1), man.parts)
      for (p <- 0 until Events.MergeSnapParts if p != 1)
        assert(man.parts(p) == man1.parts(p), man.parts)
    } else assert(stats2.rewritten.isEmpty, stats2)
    // final content == base MERGE'd with the batch, regardless of layout
    val want = content.map { s =>
      if (s.startsWith("[1,")) "[1,999,UPD,42.0]" else s
    }.sorted
    assert(Snapshot.read(spark, s"$root/snap")
      .collect().map(_.toString).sorted.toSeq == want)
  }

  test("OCC commit: two racing committers — exactly one wins the version, the loser rebases onto the next") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, lit, pmod}
    val root = java.nio.file.Files.createTempDirectory("graft-occ-race-").toString + "/snap"
    Snapshot.init(root,
      (0L until 36L).map(k => (k, k * 10, s"S$k", k * 1.5))
        .toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")
        .withColumn("__part", pmod(col("o_orderkey"), lit(Events.MergeSnapParts)).cast("int")))
    // DETERMINISTIC interleaving via latches: committer A (a compaction-
    // shaped rewrite of partition 0) stages its data, then PAUSES before
    // its claim while committer B (a MERGE of key 1 → partition 1)
    // commits underneath it. A's claim of v1 must fail, its retry must
    // re-run against B's committed state and land on v2 — B's update is
    // NEVER lost, no version number is skipped or reused.
    val aStaged = new java.util.concurrent.CountDownLatch(1)
    val bDone = new java.util.concurrent.CountDownLatch(1)
    val aAttempts = new java.util.concurrent.atomic.AtomicInteger(0)
    val aErr = new java.util.concurrent.atomic.AtomicReference[Throwable]()
    val aVersion = new java.util.concurrent.atomic.AtomicInteger(-1)
    val a = new Thread(() =>
      try aVersion.set(Snapshot.commitOcc(root) { att =>
        aAttempts.incrementAndGet()
        Snapshot.readParts(spark, root, att.base.version, Seq(0)).get
          .coalesce(1).write.parquet(s"${att.dataDir}/__part=0")
        aStaged.countDown()
        // stall only the FIRST attempt — the retry runs post-race
        if (aAttempts.get() == 1) bDone.await()
        Some(Snapshot.CommitSpec(att.base.parts ++ att.writtenParts()))
      })
      catch { case t: Throwable => aErr.set(t); aStaged.countDown() })
    a.start()
    aStaged.await()
    assert(aErr.get() == null, String.valueOf(aErr.get()))
    val batch = Seq((1L, "U", Some(999L), Some("UPD"), Some(42.0)))
      .toDF("k", "op", "new_custkey", "new_status", "new_price")
    assert(Events.mergeBatchIntoSnapshot(root, batch) == Seq(1)) // B wins v1
    assert(Snapshot.currentVersion(root) == 1)
    bDone.countDown()
    a.join(120000)
    assert(aErr.get() == null, String.valueOf(aErr.get()))
    assert(aAttempts.get() == 2, s"loser must detect the race and retry: ${aAttempts.get()}")
    assert(aVersion.get() == 2, s"loser must rebase onto v2: ${aVersion.get()}")
    assert(Snapshot.currentVersion(root) == 2)
    // B's merge survives A's rebased commit; A's rewrite is served too
    val served = Snapshot.read(spark, root).collect()
      .map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(served(1L) == "UPD", "the racing MERGE's update was lost")
    assert(served.size == 36)
    // the loser's first attempt dir was cleaned up: only manifest-
    // referenced attempt dirs remain on disk
    val manifDirs = (1 to 2).flatMap(v => Snapshot.readManifest(root, v)
      .parts.values.filter(_.startsWith("a-")).map(_.split("/")(0))).toSet
    val onDisk = {
      val s = java.nio.file.Files.list(java.nio.file.Paths.get(root))
      try {
        import scala.jdk.CollectionConverters._
        s.iterator().asScala.map(_.getFileName.toString)
          .filter(_.startsWith("a-")).toSet
      } finally s.close()
    }
    assert(onDisk == manifDirs, s"stray attempt dirs: ${onDisk -- manifDirs}")
    // every version time-travels; the superseded ones are intact
    assert(Snapshot.read(spark, root, Some(0)).count() == 36L)
    assert(Snapshot.read(spark, root, Some(1)).collect()
      .map(r => r.getLong(0) -> r.getString(2)).toMap.apply(1L) == "UPD")
    // and the manifest claim itself is exclusive: re-claiming a
    // committed version throws (manifests are immutable)
    intercept[java.nio.file.FileAlreadyExistsException](
      Snapshot.writeManifest(root, Snapshot.Manifest(2, Map(0 -> Snapshot.EmptyDir))))
  }

  test("OCC commit: unsynchronized writer threads — every merge survives, every version stays readable") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, lit, pmod}
    val root = java.nio.file.Files.createTempDirectory("graft-occ-stress-").toString + "/snap"
    // fragmented init (4 tasks × 6 partitions) so compaction really rewrites
    Snapshot.init(root,
      (0L until 36L).map(k => (k, k * 10, s"S$k", k * 1.5))
        .toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")
        .repartition(4)
        .withColumn("__part", pmod(col("o_orderkey"), lit(Events.MergeSnapParts)).cast("int")))
    val start = new java.util.concurrent.CountDownLatch(1)
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val merger = new Thread(() => {
      start.await()
      try (1 to 3).foreach { i =>
        val b = Seq((i.toLong, "U", Some(900L + i), Some(s"R$i"), Some(i * 1.0)))
          .toDF("k", "op", "new_custkey", "new_status", "new_price")
        Events.mergeBatchIntoSnapshot(root, b): Unit
      } catch { case t: Throwable => errs.add(t): Unit }
    })
    val compactor = new Thread(() => {
      start.await()
      try (1 to 3).foreach { _ =>
        Snapshot.compact(spark, root, targetBytes = 1L << 20): Unit
        // retention GC racing the merger: its deletion set comes from
        // the expired manifests it reads, so it can never touch a
        // racing writer's in-flight attempt or a retained version
        Snapshot.gc(root, keepLast = 3)
      } catch { case t: Throwable => errs.add(t): Unit }
    })
    merger.start(); compactor.start(); start.countDown()
    merger.join(300000); compactor.join(300000)
    assert(errs.isEmpty, errs)
    val cur = Snapshot.currentVersion(root)
    assert(cur >= 3, s"three merges must commit three versions, got $cur")
    // every merge survived whatever interleaving happened
    val served = Snapshot.read(spark, root).collect()
      .map(r => r.getLong(0) -> r.getString(2)).toMap
    (1 to 3).foreach(i => assert(served(i.toLong) == s"R$i", s"merge $i lost"))
    assert(served.size == 36)
    // every RETAINED version is a complete, readable, 36-row state
    // (the racing gc(keepLast=3) legitimately expired older ones)
    val retained = (0 to cur).filter(v => java.nio.file.Files.exists(
      java.nio.file.Paths.get(root, s"manifest-v$v.txt")))
    assert(retained.nonEmpty && retained.contains(cur))
    retained.foreach { v =>
      assert(Snapshot.read(spark, root, Some(v)).count() == 36L, s"version $v corrupt")
    }
  }

  test("q197 clustered compaction: per-file custkey rectangles tighten; content + time travel intact") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, input_file_name, lit, max, min, pmod}
    val root = java.nio.file.Files.createTempDirectory("graft-snap-zorder-").toString
    // custkey scattered vs orderkey so the pre-cluster layout has NO
    // custkey locality: every file spans ~the whole custkey domain.
    // Enough rows that the tiny byte target yields ~8 files/partition:
    // the z-curve's top bits alternate orderkey/custkey, so custkey
    // rectangles only tighten once splits go ≥2 levels deep
    val base = (0L until 4800L).map(k => (k, (k * 7919L) % 4800L, s"S$k", k * 1.5))
      .toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")
      .repartition(4)
      .withColumn("__part", pmod(col("o_orderkey"), lit(Events.MergeSnapParts)).cast("int"))
    Snapshot.init(s"$root/snap", base)
    val content = Snapshot.read(spark, s"$root/snap")
      .collect().map(_.toString).sorted.toSeq
    def fileSpans(): Seq[(Long, Long)] = Snapshot.read(spark, s"$root/snap")
      .groupBy(input_file_name())
      .agg(min("o_custkey").as("lo"), max("o_custkey").as("hi"))
      .collect().map(r => (r.getLong(1), r.getLong(2))).toSeq
    val beforeSpans = fileSpans()
    // tiny byte target → several files per partition, so clustering has
    // room to make rectangles tight
    val stats = Snapshot.compactClustered(
      spark, s"$root/snap", "o_custkey", "o_orderkey", targetBytes = 1024L)
    assert(stats.rewritten == (0 until Events.MergeSnapParts).toSeq, stats)
    assert(Snapshot.currentVersion(s"$root/snap") == 1)
    // content identical; v0 still time-travels
    assert(Snapshot.read(spark, s"$root/snap")
      .collect().map(_.toString).sorted.toSeq == content)
    assert(Snapshot.read(spark, s"$root/snap", Some(0))
      .collect().map(_.toString).sorted.toSeq == content)
    // the clustering win: mean per-file custkey span shrinks — a custkey
    // box now skips files the scattered layout could not skip
    val afterSpans = fileSpans()
    def meanSpan(s: Seq[(Long, Long)]) = s.map(x => x._2 - x._1).sum.toDouble / s.length
    assert(afterSpans.length > Events.MergeSnapParts,
      s"byte target failed to force multiple files per partition: ${afterSpans.length}")
    assert(meanSpan(afterSpans) < meanSpan(beforeSpans) / 2,
      s"clustering must tighten custkey rectangles: before=${meanSpan(beforeSpans)}, after=${meanSpan(afterSpans)}")
    val (b1, b2) = (500L, 1000L)
    val skippedBefore = beforeSpans.count(s => s._2 < b1 || s._1 > b2)
    val skippedAfter = afterSpans.count(s => s._2 < b1 || s._1 > b2)
    assert(skippedAfter > skippedBefore,
      s"a custkey box must skip more files after clustering: $skippedBefore -> $skippedAfter")
  }

  test("q203 3-col clustered compaction: the THIRD dimension's rectangles tighten vs the 2-D layout; content intact") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, input_file_name, lit, max, min, pmod}
    // price decorrelated from BOTH 2-D clustering keys, so under the
    // (custkey, orderkey) layout every file spans ~the whole price
    // domain and only the 3-way interleave can tighten it
    def stage(): String = {
      val root = java.nio.file.Files.createTempDirectory("graft-snap-z3-").toString
      val base = (0L until 4800L).map(k =>
        (k, (k * 7919L) % 4800L, s"S$k", ((k * 6271L) % 4800L) * 1.5))
        .toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")
        .repartition(4)
        .withColumn("__part", pmod(col("o_orderkey"), lit(Events.MergeSnapParts)).cast("int"))
      Snapshot.init(s"$root/snap", base)
      s"$root/snap"
    }
    def priceSpans(snap: String): Seq[(Double, Double)] = Snapshot.read(spark, snap)
      .groupBy(input_file_name())
      .agg(min("o_totalprice").as("lo"), max("o_totalprice").as("hi"))
      .collect().map(r => (r.getDouble(1), r.getDouble(2))).toSeq
    def meanSpan(s: Seq[(Double, Double)]) = s.map(x => x._2 - x._1).sum / s.length
    val snap2 = stage()
    val snap3 = stage()
    val content = Snapshot.read(spark, snap3).collect().map(_.toString).sorted.toSeq
    Snapshot.compactClustered(spark, snap2, "o_custkey", "o_orderkey",
      targetBytes = 1024L)
    val stats3 = Snapshot.compactClusteredN(spark, snap3,
      Seq("o_custkey", "o_orderkey", "o_totalprice"), targetBytes = 1024L)
    assert(stats3.rewritten == (0 until Events.MergeSnapParts).toSeq, stats3)
    // content identical under the N-way rewrite; v0 still time-travels
    assert(Snapshot.read(spark, snap3)
      .collect().map(_.toString).sorted.toSeq == content)
    assert(Snapshot.read(spark, snap3, Some(0))
      .collect().map(_.toString).sorted.toSeq == content)
    // the third dimension's win: price rectangles tighten under the
    // 3-way interleave; the 2-D layout leaves them near-full-domain
    val spans2 = priceSpans(snap2)
    val spans3 = priceSpans(snap3)
    assert(spans3.length > Events.MergeSnapParts, s"${spans3.length}")
    assert(meanSpan(spans3) < meanSpan(spans2) / 2,
      s"3-col clustering must tighten price rectangles: 2-D=${meanSpan(spans2)}, 3-D=${meanSpan(spans3)}")
    val (b1, b2) = (1000.0, 2000.0)
    val skipped2 = spans2.count(s => s._2 < b1 || s._1 > b2)
    val skipped3 = spans3.count(s => s._2 < b1 || s._1 > b2)
    assert(skipped3 > skipped2,
      s"a price box must skip more files under the 3-col layout: $skipped2 -> $skipped3")
    // an all-NULL clustering column has no grid: the rewrite degrades to
    // a constant z (content preserved) instead of NPEing mid-compaction
    val rootN = java.nio.file.Files.createTempDirectory("graft-snap-z3n-").toString
    val withNull = (0L until 60L).map(k => (k, k % 7L, s"S$k"))
      .toDF("o_orderkey", "o_custkey", "o_orderstatus")
      .withColumn("o_totalprice",
        org.apache.spark.sql.functions.lit(null).cast("double"))
      .withColumn("__part", pmod(col("o_orderkey"), lit(2)).cast("int"))
    Snapshot.init(s"$rootN/snap", withNull)
    val want = Snapshot.read(spark, s"$rootN/snap").collect().map(_.toString).sorted.toSeq
    Snapshot.compactClusteredN(spark, s"$rootN/snap",
      Seq("o_custkey", "o_orderkey", "o_totalprice"), targetBytes = 1024L)
    assert(Snapshot.read(spark, s"$rootN/snap")
      .collect().map(_.toString).sorted.toSeq == want)
  }

  test("MERGE composes with schema evolution: the sink commits through conform; feed-absent columns are write-wins NULL") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, lit, pmod, when}
    val root = java.nio.file.Files.createTempDirectory("graft-merge-evolve-").toString + "/snap"
    Snapshot.init(root,
      (0L until 36L).map(k => (k, k * 10, s"S$k", k * 1.5))
        .toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")
        .withColumn("__part", pmod(col("o_orderkey"), lit(Events.MergeSnapParts)).cast("int")))
    Snapshot.evolveAddColumn(spark, root, "o_channel",
      org.apache.spark.sql.types.StringType)
    // backfill EVERY partition with channel values
    Snapshot.commitOcc(root) { att =>
      Snapshot.read(spark, root)
        .withColumn("o_channel",
          when(pmod(col("o_orderkey"), lit(2)) === 0, lit("web"))
            .otherwise(lit("store")))
        .withColumn("__part", pmod(col("o_orderkey"), lit(Events.MergeSnapParts)).cast("int"))
        .write.partitionBy("__part").parquet(att.dataDir)
      Some(Snapshot.CommitSpec(att.base.parts ++ att.writtenParts()))
    }
    val backfilled = Snapshot.currentVersion(root)
    // a MERGE touching only partition 1: the fixed-schema feed carries
    // no channel, so the REWRITTEN partition's rows serve NULL channel
    // (per-key write-wins — the merge replaced those rows), while every
    // untouched partition keeps its values and the pre-merge version
    // still time-travels with all of them
    val batch = Seq((1L, "U", Some(999L), Some("UPD"), Some(42.0)))
      .toDF("k", "op", "new_custkey", "new_status", "new_price")
    assert(Events.mergeBatchIntoSnapshot(root, batch) == Seq(1))
    val served = Snapshot.read(spark, root).collect()
      .map(r => r.getLong(0) -> Option(r.getString(4))).toMap
    assert(served.size == 36)
    (0L until 36L).foreach { k =>
      if (k % 6 == 1) assert(served(k).isEmpty,
        s"merged partition must serve write-wins NULL channel at $k")
      else assert(served(k).contains(if (k % 2 == 0) "web" else "store"),
        s"untouched partition lost its channel at $k")
    }
    assert(Snapshot.read(spark, root, Some(backfilled))
      .collect().forall(!_.isNullAt(4)), "time travel below the merge lost channel values")
  }

  test("TIMESTAMP AS OF: commit stamps resolve the newest version at-or-before; out-of-range rejected") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, lit, pmod}
    val root = java.nio.file.Files.createTempDirectory("graft-asof-ts-").toString + "/snap"
    Snapshot.init(root, (0L until 6L).map(k => (k, s"v0-$k")).toDF("o_orderkey", "val")
      .withColumn("__part", pmod(col("o_orderkey"), lit(3)).cast("int")))
    Thread.sleep(20)
    val betweenV0andV1 = System.currentTimeMillis()
    Thread.sleep(20)
    Snapshot.commitOcc(root) { att =>
      Snapshot.read(spark, root)
        .withColumn("val", org.apache.spark.sql.functions.concat(
          lit("v1-"), col("o_orderkey")))
        .withColumn("__part", pmod(col("o_orderkey"), lit(3)).cast("int"))
        .write.partitionBy("__part").parquet(att.dataDir)
      Some(Snapshot.CommitSpec(att.base.parts ++ att.writtenParts()))
    }
    // the claim stamped both commits; a ts between them resolves v0,
    // a ts after both resolves v1, a ts before the table existed fails
    assert(Snapshot.versionAsOf(root, betweenV0andV1) == 0)
    assert(Snapshot.versionAsOf(root, System.currentTimeMillis()) == 1)
    assert(Snapshot.readAsOf(spark, root, betweenV0andV1)
      .collect().forall(_.getString(1).startsWith("v0-")))
    assert(Snapshot.readAsOf(spark, root, System.currentTimeMillis())
      .collect().forall(_.getString(1).startsWith("v1-")))
    intercept[IllegalArgumentException](Snapshot.versionAsOf(root, 0L))
    // retention interacts like every time travel: gc'd versions are
    // no longer addressable, retained ones still are
    Snapshot.gc(root, keepLast = 1)
    intercept[IllegalArgumentException](
      Snapshot.versionAsOf(root, betweenV0andV1))
    assert(Snapshot.versionAsOf(root, System.currentTimeMillis()) == 1)
  }

  test("snapshot commit is atomic: a crash between data write and pointer swap is invisible") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, lit, pmod}
    val root = java.nio.file.Files.createTempDirectory("graft-snap-crash-").toString
    val base = (0L until 12L).map(k => (k, s"v$k")).toDF("o_orderkey", "val")
      .withColumn("__part", pmod(col("o_orderkey"), lit(3)).cast("int"))
    Snapshot.init(s"$root/snap", base)
    val served = Snapshot.read(spark, s"$root/snap").collect().map(_.toString).sorted.toSeq
    // simulate a crashed commit: the new version's data AND manifest are
    // fully written, but the process dies BEFORE the CURRENT rename
    (0L until 12L).map(k => (k, "CRASHED"))
      .toDF("o_orderkey", "val")
      .withColumn("__part", pmod(col("o_orderkey"), lit(3)).cast("int"))
      .write.partitionBy("__part").parquet(s"$root/snap/v1")
    Snapshot.writeManifest(s"$root/snap",
      Snapshot.Manifest(1, Snapshot.listPartDirs(s"$root/snap", 1)))
    // ... crash here: no swapCurrent. Readers still resolve version 0
    assert(Snapshot.currentVersion(s"$root/snap") == 0)
    val afterCrash = Snapshot.read(spark, s"$root/snap").collect().map(_.toString).sorted.toSeq
    assert(afterCrash == served, "a reader saw uncommitted data after a simulated crash")
    // recovery re-runs the commit's final step: the swap is the ONLY
    // thing that changes what readers see
    Snapshot.swapCurrent(s"$root/snap", 1)
    val afterSwap = Snapshot.read(spark, s"$root/snap").collect()
    assert(afterSwap.length == 12 && afterSwap.forall(_.getString(1) == "CRASHED"))
  }

  test("q202 schema evolution: metadata-only commit, NULL fill across the boundary, old-schema time travel") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, lit, pmod}
    val root = java.nio.file.Files.createTempDirectory("graft-evolve-suite-").toString + "/t"
    val base = (0L until 12L).map(k => (k, s"v$k")).toDF("k", "val")
      .withColumn("__part", pmod(col("k"), lit(3)).cast("int"))
    Snapshot.init(root, base)
    val v1 = Snapshot.evolveAddColumn(spark, root, "tag",
      org.apache.spark.sql.types.IntegerType)
    assert(v1 == 1)
    // metadata-only: v1 committed NO data dirs — every manifest entry
    // still points into v0
    assert(Snapshot.readManifest(root, 1).parts.values.forall(_.startsWith("v0/")))
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(root, "v1")))
    // the new column serves as typed NULL before any backfill
    val atV1 = Snapshot.read(spark, root)
    assert(atV1.schema.fieldNames.toSeq == Seq("k", "val", "tag"))
    assert(atV1.schema("tag").dataType == org.apache.spark.sql.types.IntegerType)
    assert(atV1.collect().forall(_.isNullAt(2)))
    // a post-evolution writer backfills ONE partition; the rest carry
    // old-schema files — the cross-boundary read fills NULLs only there
    Snapshot.commitOcc(root) { att =>
      Snapshot.readParts(spark, root, att.base.version, Seq(0)).get
        .withColumn("tag", (col("k") * 10).cast("int"))
        .withColumn("__part", pmod(col("k"), lit(3)).cast("int"))
        .write.partitionBy("__part").parquet(att.dataDir)
      Some(Snapshot.CommitSpec(att.base.parts ++ att.writtenParts()))
    }
    val cur = Snapshot.read(spark, root).collect()
    assert(cur.length == 12)
    cur.foreach { r =>
      val k = r.getLong(0)
      if (k % 3 == 0) assert(r.getInt(2) == k * 10, s"backfilled part wrong at $k")
      else assert(r.isNullAt(2), s"carried old-schema row must serve NULL at $k")
    }
    // time travel BELOW the boundary: the old schema, no tag at all
    val v0 = Snapshot.read(spark, root, Some(0))
    assert(v0.schema.fieldNames.toSeq == Seq("k", "val"))
    assert(v0.count() == 12)
    // duplicate ADD COLUMN rejected
    intercept[IllegalArgumentException](
      Snapshot.evolveAddColumn(spark, root, "tag",
        org.apache.spark.sql.types.IntegerType))
    // a crashed evolve attempt's sidecar is INERT BY CONSTRUCTION: only
    // the manifest header binds a schema to a version, so an orphan
    // sidecar can never attach itself to someone else's commit — the
    // serving schema is unchanged, and the operator sweep removes it
    java.nio.file.Files.write(
      java.nio.file.Paths.get(root, "schema-0123456789abcdef.json"),
      "{}".getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val servedBefore = Snapshot.read(spark, root).schema.fieldNames.toSeq
    Snapshot.commitOcc(root)(att => Some(Snapshot.CommitSpec(att.base.parts)))
    assert(Snapshot.read(spark, root).schema.fieldNames.toSeq == servedBefore,
      "an orphan sidecar leaked into a later commit's serving schema")
    Snapshot.sweepUncommitted(root)
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(root, "schema-0123456789abcdef.json")))
    assert(Snapshot.read(spark, root).schema.fieldNames.toSeq == servedBefore,
      "sweep removed a REFERENCED schema sidecar")
  }

  test("q204 column rename: name-mapped reads, old-name time travel, rename+add and double-rename compose") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, lit, pmod}
    val root = java.nio.file.Files.createTempDirectory("graft-rename-suite-").toString + "/t"
    val base = (0L until 12L).map(k => (k, k * 100L)).toDF("k", "amt")
      .withColumn("__part", pmod(col("k"), lit(3)).cast("int"))
    Snapshot.init(root, base)
    val v1 = Snapshot.evolveRenameColumn(spark, root, "amt", "amount")
    assert(v1 == 1)
    // metadata-only; all 12 rows serve under the NEW name from OLD files
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(root, "v1")))
    val cur = Snapshot.read(spark, root)
    assert(cur.schema.fieldNames.toSeq == Seq("k", "amount"))
    assert(cur.collect().forall(r => r.getLong(1) == r.getLong(0) * 100L))
    // time travel below the boundary serves the OLD name
    assert(Snapshot.read(spark, root, Some(0)).schema.fieldNames.toSeq ==
      Seq("k", "amt"))
    // a post-rename writer backfills partition 0 under the new physical
    // name; the mixed-name read coalesces both eras
    Snapshot.commitOcc(root) { att =>
      Snapshot.readParts(spark, root, att.base.version, Seq(0)).get
        .withColumn("__part", pmod(col("k"), lit(3)).cast("int"))
        .write.partitionBy("__part").parquet(att.dataDir)
      Some(Snapshot.CommitSpec(att.base.parts ++ att.writtenParts()))
    }
    val mixed = Snapshot.read(spark, root).collect()
    assert(mixed.length == 12 &&
      mixed.forall(r => r.getLong(1) == r.getLong(0) * 100L))
    // rename + add compose: the added column coexists with the mapping
    Snapshot.evolveAddColumn(spark, root, "tag",
      org.apache.spark.sql.types.IntegerType)
    val withAdd = Snapshot.read(spark, root)
    assert(withAdd.schema.fieldNames.toSeq == Seq("k", "amount", "tag"))
    assert(withAdd.collect().forall(r =>
      r.getLong(1) == r.getLong(0) * 100L && r.isNullAt(2)))
    // double rename resolves through the FULL prior chain (files on
    // disk still hold 'amt' for partitions 1,2 and 'amount' for 0)
    Snapshot.evolveRenameColumn(spark, root, "amount", "total")
    val twice = Snapshot.read(spark, root)
    assert(twice.schema.fieldNames.toSeq == Seq("k", "total", "tag"))
    assert(twice.collect().forall(r => r.getLong(1) == r.getLong(0) * 100L))
    // renaming to an existing name, or a missing column, is rejected
    intercept[IllegalArgumentException](
      Snapshot.evolveRenameColumn(spark, root, "total", "k"))
    intercept[IllegalArgumentException](
      Snapshot.evolveRenameColumn(spark, root, "amt", "x"))
    // prior PHYSICAL names are reserved too: 'amt'/'amount' still live
    // in old files, so re-adding or renaming onto them would make one
    // physical column feed two declared columns (silent wrong data)
    intercept[IllegalArgumentException](
      Snapshot.evolveAddColumn(spark, root, "amt",
        org.apache.spark.sql.types.LongType))
    intercept[IllegalArgumentException](
      Snapshot.evolveRenameColumn(spark, root, "tag", "amount"))
    // clustered compaction works ACROSS the rename boundary: partitions
    // 1,2 still physically hold 'amt', 0 holds 'amount', but the rewrite
    // conforms each to the serving schema first, so clustering on the
    // declared names resolves everywhere and modernizes the layout
    val stats = Snapshot.compactClusteredN(spark, root,
      Seq("k", "total"), targetBytes = 1024L)
    assert(stats.rewritten.nonEmpty)
    val after = Snapshot.read(spark, root).collect()
    assert(after.length == 12 &&
      after.forall(r => r.getLong(1) == r.getLong(0) * 100L))
  }

  test("q205/q206 drop + widen: tombstone reserves names, widening is lossless, both compose with rename, old-era time travel") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, lit, pmod}
    val root = java.nio.file.Files.createTempDirectory("graft-dropwiden-").toString + "/t"
    val base = (0L until 12L).map(k => (k, k.toInt * 100, s"S$k", k * 1.5))
      .toDF("k", "amt", "status", "price")
      .withColumn("amt", col("amt").cast("int"))
      .withColumn("price", col("price").cast("float"))
      .withColumn("__part", pmod(col("k"), lit(3)).cast("int"))
    Snapshot.init(root, base)
    // DROP: metadata-only — no data dirs, column gone from the read,
    // and the read schema never even scans it
    val v1 = Snapshot.evolveDropColumn(spark, root, "status")
    assert(v1 == 1)
    assert(Snapshot.readManifest(root, 1).parts.values.forall(_.startsWith("v0/")))
    val dropped = Snapshot.read(spark, root)
    assert(dropped.schema.fieldNames.toSeq == Seq("k", "amt", "price"))
    assert(dropped.count() == 12)
    // time travel below the boundary still serves the column
    assert(Snapshot.read(spark, root, Some(0)).schema.fieldNames.toSeq ==
      Seq("k", "amt", "status", "price"))
    // the dropped name stays RESERVED: re-adding it would resurrect the
    // physical column's dead data from old files
    intercept[IllegalArgumentException](
      Snapshot.evolveAddColumn(spark, root, "status",
        org.apache.spark.sql.types.StringType))
    // and a dropped column is not evolvable
    intercept[IllegalArgumentException](
      Snapshot.evolveRenameColumn(spark, root, "status", "status2"))
    intercept[IllegalArgumentException](
      Snapshot.evolveDropColumn(spark, root, "status"))
    // WIDEN int -> long: metadata-only; a post-widening writer stores
    // values past Int.MaxValue; ONE scan decodes both physical types
    val v2 = Snapshot.evolveWidenColumn(spark, root, "amt",
      org.apache.spark.sql.types.LongType)
    assert(v2 == 2)
    assert(Snapshot.read(spark, root).schema("amt").dataType ==
      org.apache.spark.sql.types.LongType)
    Snapshot.commitOcc(root) { att =>
      Snapshot.readParts(spark, root, att.base.version, Seq(0)).get
        .withColumn("amt", col("amt") + lit(1L << 40))
        .withColumn("__part", pmod(col("k"), lit(3)).cast("int"))
        .write.partitionBy("__part").parquet(att.dataDir)
      Some(Snapshot.CommitSpec(att.base.parts ++ att.writtenParts()))
    }
    val mixed = Snapshot.read(spark, root).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    (0L until 12L).foreach { k =>
      val want = if (k % 3 == 0) k * 100 + (1L << 40) else k * 100
      assert(mixed(k) == want, s"widened read wrong at $k: ${mixed(k)}")
    }
    // old-type time travel: below the widening the column is still INT
    assert(Snapshot.read(spark, root, Some(1)).schema("amt").dataType ==
      org.apache.spark.sql.types.IntegerType)
    // narrowing and no-op "widenings" are rejected
    intercept[IllegalArgumentException](
      Snapshot.evolveWidenColumn(spark, root, "amt",
        org.apache.spark.sql.types.IntegerType))
    intercept[IllegalArgumentException](
      Snapshot.evolveWidenColumn(spark, root, "price",
        org.apache.spark.sql.types.IntegerType))
    // compositions: widen a RENAMED column (prior-name files up-cast
    // through the mapping), then drop it — priors stay reserved
    Snapshot.evolveRenameColumn(spark, root, "amt", "amount")
    val renamed = Snapshot.read(spark, root).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(renamed == mixed, "rename changed served values")
    Snapshot.evolveDropColumn(spark, root, "amount")
    assert(Snapshot.read(spark, root).schema.fieldNames.toSeq == Seq("k", "price"))
    intercept[IllegalArgumentException](
      Snapshot.evolveAddColumn(spark, root, "amt",
        org.apache.spark.sql.types.LongType)) // prior physical name of a dropped col
    // float -> double widening: old FLOAT pages serve as DOUBLE exactly
    Snapshot.evolveWidenColumn(spark, root, "price",
      org.apache.spark.sql.types.DoubleType)
    val widePrice = Snapshot.read(spark, root)
    assert(widePrice.schema("price").dataType ==
      org.apache.spark.sql.types.DoubleType)
    val prices = widePrice.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    (0L until 12L).foreach(k =>
      assert(prices(k) == (k * 1.5f).toDouble, s"float->double at $k"))
  }

  test("q200 CDF refresh: intermediate view == horizon-1 recompute; delete batch removes keys") {
    import spark.implicits._
    import graft.rel.DeleteVectors
    val root = java.nio.file.Files.createTempDirectory("graft-cdf-suite-").toString
    // tiny MoR state with all three op kinds across three batches:
    // batch 1 updates, batch 2 updates+inserts (overlapping batch 1's
    // keys — the cross-batch pre-image), batch 3 deletes a whole
    // customer (keys 4 and 5 are custkey 9's only orders)
    val base = Seq(
      (1L, 7L, "O", 10.00), (2L, 7L, "P", 20.00), (3L, 8L, "F", 30.00),
      (4L, 9L, "O", 40.00), (5L, 9L, "P", 50.00))
      .toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")
    base.coalesce(1).write.parquet(s"$root/base")
    def upsert(rows: Seq[(Long, Long, String, Double)], b: Long): Unit =
      DeleteVectors.upsert(spark, s"$root/base", s"$root/appends", s"$root/dv",
        rows.toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"),
        Seq("o_orderkey"), batchId = b)
    upsert(Seq((2L, 7L, "P", 22.00), (5L, 9L, "P", 55.00)), 1L)
    upsert(Seq((2L, 7L, "P", 24.00), (6L, 8L, "N", 60.00)), 2L) // re-touches batch 1's key 2
    DeleteVectors.markDeletesByKeys(spark, s"$root/base",
      Seq(4L).toDF("o_orderkey"), s"$root/dv", batchId = 3L)
    DeleteVectors.markDeletesByKeys(spark, s"$root/appends",
      Seq(5L).toDF("o_orderkey"), s"$root/dv", batchId = 3L)
    val viewRoot = Events.runCdfRefreshDrain(
      spark, s"$root/base", s"$root/appends", s"$root/dv", Seq(1L, 2L, 3L))
    assert(Events.latestViewVersion(viewRoot) == 3, "three batches, three refreshes")
    def viewAt(v: Int): Map[Long, (Long, Long)] =
      spark.read.parquet(s"$viewRoot/v$v").collect()
        .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    def recomputeAt(horizon: Long): Map[Long, (Long, Long)] =
      DeleteVectors.readMorAsOf(spark, s"$root/base", s"$root/appends", s"$root/dv", horizon)
        .groupBy(col("o_custkey"))
        .agg(count(lit(1)).as("n"),
          sum(round(col("o_totalprice") * lit(1000)).cast("long")).as("s"))
        .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    // every intermediate view equals the full recompute at its horizon —
    // incremental maintenance is exactly equivalent, batch by batch
    (0 to 3).foreach { v =>
      assert(viewAt(v) == recomputeAt(v.toLong), s"view v$v != horizon-$v recompute")
    }
    // the delete batch removed custkey 9 from the view entirely
    assert(viewAt(2).contains(9L) && !viewAt(3).contains(9L))
    // view retention: keep the serving version (+1 of history), drop
    // the rest — the long-running consumer's disk stays O(keepLast)
    Events.gcView(viewRoot, keepLast = 2)
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(viewRoot, "v0")))
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(viewRoot, "v1")))
    assert(java.nio.file.Files.exists(java.nio.file.Paths.get(viewRoot, "v2")))
    assert(Events.latestViewVersion(viewRoot) == 3)
    assert(viewAt(3) == recomputeAt(3L), "serving version intact after gc")
  }

  test("drain releases its query and memory-sink view when `after` throws") {
    import spark.implicits._
    val feed = Events.stageFeed("StreamingSuite", "drain-release-feed")(
      Seq(Seq(1L, 2L, 2L).toDF("k")))
    var child: org.apache.spark.sql.SparkSession = null
    val e = intercept[IllegalStateException] {
      Events.drain(spark) { ss =>
        child = ss
        Events.readFeed(ss, feed).groupBy(col("k")).count()
          .writeStream.format("memory").queryName("drain_release_probe")
          .outputMode("complete")
      } { ss =>
        assert(ss.table("drain_release_probe").count() == 2)
        throw new IllegalStateException("after failed")
      }
    }
    assert(e.getMessage == "after failed")
    assert(child.streams.active.isEmpty && spark.streams.active.isEmpty)
    assert(!child.catalog.tableExists("drain_release_probe"), "memory-sink view survived")
    // the terminated-query record is forgotten too (it pins the sink)
    assert(!child.streams.awaitAnyTermination(1))
  }

  test("stageFeed/readFeed drain delivers each staged file as one micro-batch, in order") {
    import spark.implicits._
    val sizes = Seq(3, 1, 2)
    val feed = Events.stageFeed("StreamingSuite", "drain-order-feed")(
      sizes.zipWithIndex.map { case (n, i) => Seq.fill(n)(i.toLong).toDF("file") })
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Seq[Long])]
    Events.drain(spark) { ss =>
      Events.readFeed(ss, feed).writeStream
        .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], id: Long) =>
          seen.add((id, batch.collect().map(_.getLong(0)).toSeq))
          ()
        }
    }(_ => ())
    import scala.jdk.CollectionConverters._
    // batch i = file i (mod-time order), carrying exactly its rows
    assert(seen.asScala.toSeq == sizes.zipWithIndex.map { case (n, i) =>
      (i.toLong, Seq.fill(n)(i.toLong))
    })
  }
}
