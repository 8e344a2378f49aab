package graft.streaming

import java.sql.Timestamp

import org.apache.spark.graft.ListenerBusAccess
import org.apache.spark.sql.Row
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import graft.{SparkSpec, Tables}
import graft.queries.EventQueries

/** Batch-parity proof for the streaming operators (SURVEY.md §2 item 34):
  * feed the sf0.001 events table through a MemoryStream, advance the
  * watermark with a far-future sentinel, and require the appended output
  * to equal the batch query result row-for-row.
  */
case class Ev(event_id: Long, ts: Timestamp, user_id: Long,
  event_type: String, value: Double)

class EventStreamSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  private implicit def sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

  private def loadEvents: Seq[Ev] = {
    val s = spark
    import s.implicits._
    Tables.load(spark, dir, "events")
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"),
        col("value"))
      .as[Ev].collect().toSeq.sortBy(e => (e.ts.getTime, e.event_id))
  }

  // Sentinel a year past the data: watermark sails past every real
  // window/session end, flushing all append-mode state.
  private def sentinel(maxTs: Timestamp, id: Long): Ev =
    Ev(id, new Timestamp(maxTs.getTime + 365L * 86400 * 1000), -1L, "__sentinel__", 0.0)

  test("streaming windowed agg matches batch qe_windows") {
    val s = spark
    import s.implicits._
    val events = loadEvents
    val maxTs = events.map(_.ts.getTime).max

    val stream = MemoryStream[Ev]
    val query = EventStreams.windowedAgg(stream.toDF())
      .writeStream.format("memory").queryName("win_out")
      .outputMode("append").start()
    try {
      stream.addData(events)
      query.processAllAvailable()
      stream.addData(sentinel(new Timestamp(maxTs), -1))
      query.processAllAvailable()
      stream.addData(sentinel(new Timestamp(maxTs), -2))
      query.processAllAvailable()

      val got = spark.table("win_out")
        .where(col("event_type") =!= "__sentinel__")
        .collect().map(_.toSeq).toSet
      val want = EventQueries.qeWindows(spark, dir).collect().map(_.toSeq).toSet
      assert(got == want)
      assert(want.nonEmpty)
    } finally query.stop()
  }

  test("streaming session_window matches batch qe_session_window") {
    val s = spark
    import s.implicits._
    val events = loadEvents
    val maxTs = events.map(_.ts.getTime).max

    val stream = MemoryStream[Ev]
    val query = EventStreams.sessionWindowAgg(stream.toDF())
      .writeStream.format("memory").queryName("swin_out")
      .outputMode("append").start()
    try {
      stream.addData(events)
      query.processAllAvailable()
      stream.addData(sentinel(new Timestamp(maxTs), -1))
      query.processAllAvailable()
      stream.addData(sentinel(new Timestamp(maxTs), -2))
      query.processAllAvailable()

      val got = spark.table("swin_out")
        .where(col("user_id") =!= -1L)
        .collect().map(_.toSeq).toSet
      val want = EventQueries.qeSessionWindow(spark, dir)
        .collect().map(_.toSeq).toSet
      assert(got == want)
      assert(want.nonEmpty)
    } finally query.stop()
  }

  test("streaming sessionizer matches batch qe_sessions") {
    val s = spark
    import s.implicits._
    val events = loadEvents
    val maxTs = events.map(_.ts.getTime).max

    val stream = MemoryStream[Ev]
    val sessions = EventStreams.sessionize(
      EventStreams.toSessionEvents(stream.toDF()))
    val query = sessions.toDF()
      .writeStream.format("memory").queryName("sess_out")
      .outputMode("append").start()
    try {
      stream.addData(events)
      query.processAllAvailable()
      stream.addData(sentinel(new Timestamp(maxTs), -1))
      query.processAllAvailable()
      stream.addData(sentinel(new Timestamp(maxTs), -2))
      query.processAllAvailable()

      val got = spark.table("sess_out")
        .where(col("user_id") =!= -1L)
        .collect().map(_.toSeq).toSet
      val want = EventQueries.qeSessions(spark, dir)
        .select("user_id", "session_id", "n_events", "session_start", "session_end")
        .collect().map(_.toSeq).toSet
      assert(got == want)
      assert(want.nonEmpty)
    } finally query.stop()
  }

  test("sessionizer survives events older than the watermark (unordered source)") {
    // StreamLadder regression (round 11): an unordered file replay
    // advances the watermark past data still in flight; the user
    // function then builds a session whose end + gap is BEFORE the
    // watermark, and an unclamped setTimeoutTimestamp crashes the whole
    // query ("Timeout timestamp cannot be earlier than the current
    // watermark"). The clamp closes such sessions at the next trigger.
    val s = spark
    import s.implicits._
    val t0 = java.sql.Timestamp.valueOf("2026-01-10 12:00:00")
    def ev(id: Long, user: Long, offsetMin: Long): Ev =
      Ev(id, new Timestamp(t0.getTime + offsetMin * 60000L), user, "e", 0.0)

    val stream = MemoryStream[Ev]
    val query = EventStreams.sessionize(
      EventStreams.toSessionEvents(stream.toDF())).toDF()
      .writeStream.format("memory").queryName("sess_disorder")
      .outputMode("append").start()
    try {
      // Batch 1: user 1 far in the future — watermark sails ahead.
      stream.addData(ev(1, 1L, 10 * 24 * 60))
      query.processAllAvailable()
      // Batch 2: user 2 entirely BEHIND the watermark (10 days older).
      stream.addData(ev(2, 2L, 0), ev(3, 2L, 5))
      query.processAllAvailable() // unclamped: query dies here
      // Close everything via a further watermark push.
      stream.addData(ev(4, 3L, 20 * 24 * 60))
      query.processAllAvailable()
      stream.addData(ev(5, 3L, 30 * 24 * 60))
      query.processAllAvailable()

      val got = spark.table("sess_disorder")
        .select("user_id", "n_events").as[(Long, Long)].collect().toSet
      // The watermark contract: user 2's fully-late batch is dropped
      // before the function (no phantom session), everything else
      // closes normally, and — the regression — the query SURVIVES.
      // (Pre-clamp, the 8-batch unordered ladder replay died inside
      // setTimeoutTimestamp; StreamLadder's sf1/sf4 sessionize rows
      // are the system-level proof of the fix.)
      assert(!got.exists(_._1 == 2L))
      assert(got.contains((1L, 1L)))
      assert(got.contains((3L, 1L)))
    } finally query.stop()
  }

  test("sessionizer runs on a BATCH Dataset (module batch-or-streaming contract)") {
    // The watermark clamp reads getCurrentWatermarkMs, which THROWS on
    // a batch Dataset (no watermark node survives batch planning) —
    // this pins the fallback. Batch semantics: one pass, no timeouts,
    // so only sessions closed by a successor event emit.
    val s = spark
    import s.implicits._
    val t0 = java.sql.Timestamp.valueOf("2026-02-01 08:00:00")
    def ev(id: Long, user: Long, offsetMin: Long) = EventStreams.SessionEvent(
      id, new Timestamp(t0.getTime + offsetMin * 60000L), user)
    val batch = Seq(
      ev(1, 1L, 0), ev(2, 1L, 5),   // session 1 of user 1 (closed by ↓)
      ev(3, 1L, 120),               // session 2 of user 1 (stays open)
      ev(4, 2L, 0)                  // user 2's only session (stays open)
    ).toDS()
    val got = EventStreams.sessionize(batch)
      .select("user_id", "session_id", "n_events")
      .as[(Long, Long, Long)].collect().toSet
    assert(got === Set((1L, 1L, 2L)))
  }

  test("streaming CUSUM trace matches batch qe_changepoint") {
    val s = spark
    import s.implicits._
    val events = loadEvents
    val maxTs = events.map(_.ts.getTime).max

    // Expected volume = the realized daily mean, so the streaming trace
    // must reproduce the batch statistic point-for-point.
    val batch = EventQueries.qeChangepoint(spark, dir).collect()
    val mean = batch.map(_.getAs[Long]("n_events")).sum.toDouble / batch.length

    val state = new EventStreams.CusumState(mean)
    val points = scala.collection.mutable.ArrayBuffer
      .empty[(Timestamp, Long, Double)]
    val stream = MemoryStream[Ev]
    val query = EventStreams.volumeCusumSink(stream.toDF(), mean, "1 day",
      state, (t, n, c) => points.synchronized { points += ((t, n, c)) })
      .queryName("cusum_out").start()
    try {
      stream.addData(events)
      query.processAllAvailable()
      stream.addData(sentinel(new Timestamp(maxTs), -1))
      query.processAllAvailable()
      stream.addData(sentinel(new Timestamp(maxTs), -2))
      query.processAllAvailable()

      val got = points.map { case (t, n, c) =>
        (t.toInstant.atZone(java.time.ZoneOffset.UTC).toLocalDate.toString,
          n, c)
      }.toSeq
      val want = batch.map { r =>
        (r.getAs[java.sql.Date]("day").toString,
          r.getAs[Long]("n_events"), r.getAs[Double]("cusum"))
      }.toSeq
      assert(got.map(p => (p._1, p._2)) == want.map(p => (p._1, p._2)))
      assert(got.zip(want).forall { case (g, w) => math.abs(g._3 - w._3) < 1e-6 })
      assert(want.nonEmpty)
    } finally query.stop()
  }

  test("streaming windowed KMV distinct monitor matches batch, exactly below k") {
    val s = spark
    import s.implicits._
    val events = loadEvents
    val maxTs = events.map(_.ts.getTime).max

    val stream = MemoryStream[Ev]
    val query = EventStreams.windowedDistinctKmv(stream.toDF(), k = 64)
      .writeStream.format("memory").queryName("kmv_out")
      .outputMode("append").start()
    try {
      stream.addData(events)
      query.processAllAvailable()
      stream.addData(sentinel(new Timestamp(maxTs), -1))
      query.processAllAvailable()
      stream.addData(sentinel(new Timestamp(maxTs), -2))
      query.processAllAvailable()

      val got = spark.table("kmv_out").collect()
        .map(r => (r.getTimestamp(0), r.getInt(1), r.getDouble(2))).toSet
      val batchDf = Tables.load(spark, dir, "events")
      val want = EventStreams.windowedDistinctKmv(batchDf, k = 64)
        .collect()
        .map(r => (r.getTimestamp(0), r.getInt(1), r.getDouble(2))).toSet
      assert(got == want)
      assert(want.nonEmpty)
      // Exactness guarantee: windows under k distinct users report the
      // exact distinct count, not an estimate.
      val exact = batchDf.groupBy(window(col("ts"), "1 day").as("w"))
        .agg(countDistinct(col("user_id")).as("nd"))
        .select(col("w.start"), col("nd")).collect()
        .map(r => r.getTimestamp(0) -> r.getLong(1)).toMap
      got.foreach { case (ws, nSketch, est) =>
        if (nSketch < 64) assert(est == exact(ws).toDouble)
      }
      assert(got.exists(_._2 < 64)) // the exact regime is actually exercised
    } finally query.stop()
  }

  test("streaming AMS join-volume forecaster matches batch and tracks " +
      "the exact per-window join size") {
    val s = spark
    import s.implicits._
    val events = loadEvents
    val maxTs = events.map(_.ts.getTime).max
    val (d, w) = (5, 256)
    // Static side sketched ONCE: orders keyed by customer.
    val staticSketch = Tables.load(spark, dir, "orders")
      .agg(graft.operators.AmsSketch.sketch(d, w)(col("o_custkey")).as("s"))
      .as[Seq[Long]].head()

    val stream = MemoryStream[Ev]
    val query = EventStreams
      .windowedJoinVolumeAms(stream.toDF(), staticSketch, d, w)
      .writeStream.format("memory").queryName("ams_out")
      .outputMode("append").start()
    try {
      stream.addData(events)
      query.processAllAvailable()
      stream.addData(sentinel(new Timestamp(maxTs), -1))
      query.processAllAvailable()

      val got = spark.table("ams_out").collect()
        .map(r => r.getTimestamp(0) -> r.getLong(1)).toMap
      val batchDf = Tables.load(spark, dir, "events")
      val want = EventStreams
        .windowedJoinVolumeAms(batchDf, staticSketch, d, w)
        .collect().map(r => r.getTimestamp(0) -> r.getLong(1)).toMap
      assert(got == want) // deterministic sketch ⇒ strict parity
      assert(want.nonEmpty)

      // The estimate tracks the exact per-window join size.
      val exact = batchDf
        .groupBy(window(col("ts"), "1 day").as("wd"), col("user_id"))
        .agg(count(lit(1)).as("ne"))
        .join(Tables.load(spark, dir, "orders")
          .groupBy(col("o_custkey").as("user_id"))
          .agg(count(lit(1)).as("no")), "user_id")
        .groupBy(col("wd.start").as("ws"))
        .agg(sum(col("ne") * col("no")).as("rows"))
        .collect().map(r => r.getTimestamp(0) -> r.getLong(1)).toMap
      val checked = exact.filter(_._2 >= 50) // skip tiny windows
      assert(checked.nonEmpty)
      checked.foreach { case (ws, ex) =>
        val est = want(ws)
        assert(math.abs(est - ex).toDouble / ex < 0.5,
          s"window $ws: estimate $est vs exact $ex")
      }
    } finally query.stop()
  }

  test("streaming windowed heavy-hitters matches the batch sketch") {
    val s = spark
    import s.implicits._
    val events = loadEvents
    val maxTs = events.map(_.ts.getTime).max

    val stream = MemoryStream[Ev]
    // capacity 8 ≥ the 5 distinct event types (+ sentinel), so the MG
    // sketch is exact counts and stream-vs-batch equality is strict —
    // no tolerance window hiding a merge bug.
    val query = EventStreams.windowedTopValues(stream.toDF(), capacity = 8)
      .writeStream.format("memory").queryName("hh_out")
      .outputMode("append").start()
    try {
      stream.addData(events)
      query.processAllAvailable()
      stream.addData(sentinel(new Timestamp(maxTs), -1))
      query.processAllAvailable()
      stream.addData(sentinel(new Timestamp(maxTs), -2))
      query.processAllAvailable()

      val got = spark.table("hh_out")
        .where(col("value") =!= "__sentinel__")
        .collect().map(_.toSeq).toSet
      val want = Tables.load(spark, dir, "events")
        .groupBy(window(col("ts"), "1 day").as("w"))
        .agg(graft.operators.HeavyHitters.topValues(8)(col("event_type"))
          .as("tv"))
        .select(col("w.start").as("window_start"),
          explode(col("tv")).as("e"))
        .select(col("window_start"), col("e._1").as("value"),
          col("e._2").as("est_count"))
        .collect().map(_.toSeq).toSet
      assert(got == want)
      assert(want.nonEmpty)
    } finally query.stop()
  }

  test("streaming watermarked dedup drops redeliveries, matches batch distinct") {
    val s = spark
    import s.implicits._
    val events = loadEvents

    val stream = MemoryStream[Ev]
    val query = EventStreams.dedupWithinWatermark(stream.toDF())
      .writeStream.format("memory").queryName("dedup_out")
      .outputMode("append").start()
    try {
      // Batch 1: every event delivered TWICE in the same micro-batch
      // (producer-retry shape) — state dedup must drop the copies.
      stream.addData(events ++ events)
      query.processAllAvailable()
      // Batch 2: the full feed redelivered AFTER the watermark advanced
      // (replayed-partition shape) — rows within the horizon hit state,
      // older rows drop as late; either way nothing new may appear.
      stream.addData(events)
      query.processAllAvailable()

      val got = spark.table("dedup_out").collect()
      assert(got.map(_.getAs[Long]("event_id")).distinct.length == got.length)
      assert(got.map(_.toSeq).toSet ==
        events.map(e => Seq[Any](e.event_id, e.ts, e.user_id,
          e.event_type, e.value)).toSet)
    } finally query.stop()
  }

  test("late-drop count is observable and equals the watermark contract") {
    // The watermark contract drops events older than the horizon —
    // correct, bounded-state behavior that is INVISIBLE in production
    // unless surfaced (the ×160 ladder's disordered replay silently
    // discarded 25 % of input). LateDropListener exposes Spark's own
    // numRowsDroppedByWatermark per batch; this pins the observed
    // count to the contract's arithmetic on a replayed batch: after
    // batch 1 establishes watermark = max(ts) − 2 h, a full redelivery
    // in batch 2 must late-drop EXACTLY the events strictly older than
    // that watermark (newer redeliveries hit state and drop as
    // duplicates — deduped, but not late).
    val s = spark
    import s.implicits._
    val events = loadEvents
    val maxTs = events.map(_.ts.getTime).max
    val horizonMs = maxTs - 2L * 3600 * 1000
    val expectedLate = events.count(_.ts.getTime < horizonMs).toLong
    assert(expectedLate > 0, "fixture must contain events past the horizon")

    val listener = new LateDropListener
    spark.streams.addListener(listener)
    val stream = MemoryStream[Ev]
    val query = EventStreams.dedupWithinWatermark(stream.toDF())
      .writeStream.format("memory").queryName("latedrop_out")
      .outputMode("append").start()
    try {
      // Progress events reach the listener on the async listener bus;
      // drain it after each batch so the reads see every batch's record.
      stream.addData(events)
      query.processAllAvailable()
      ListenerBusAccess.drain(spark.sparkContext)
      val droppedBatch1 = listener.totalDropped(query.id)
      stream.addData(events)
      query.processAllAvailable()
      ListenerBusAccess.drain(spark.sparkContext)

      assert(droppedBatch1 === 0L) // first delivery: nothing is late
      assert(listener.totalDropped(query.id) === expectedLate)
      // The per-batch view attributes every drop to the replay batches,
      // and the listener agrees with the query's own progress records.
      assert(listener.perBatch(query.id).values.sum === expectedLate)
      assert(query.recentProgress
        .map(_.stateOperators.map(_.numRowsDroppedByWatermark).sum)
        .sum === expectedLate)
      // Termination must EVICT the per-batch entries (one TrieMap
      // entry per batch would grow the driver without bound — ~31 M
      // entries/year at 1 s triggers) while the lifetime total stays
      // queryable from the rolled-up slot. The terminated event
      // arrives on the async listener bus, so poll briefly.
      query.stop()
      val deadline = System.currentTimeMillis() + 30000
      while (listener.perBatch(query.id).nonEmpty &&
          System.currentTimeMillis() < deadline) Thread.sleep(50)
      assert(listener.perBatch(query.id).isEmpty,
        "per-batch entries must be evicted on termination")
      assert(listener.totalDropped(query.id) === expectedLate)
    } finally {
      query.stop()
      spark.streams.removeListener(listener)
    }
  }
}
