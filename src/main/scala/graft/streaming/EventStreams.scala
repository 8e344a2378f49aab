package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Structured Streaming equivalents of the batch event operators —
  * SURVEY.md §2 item 34.
  *
  * The transformations take any DataFrame with the `events` schema
  * (`event_id, ts, user_id, event_type, value, props`), batch OR
  * streaming: Structured Streaming's unified API means the same logical
  * plan serves both, and the EventStreamSpec proves parity against the
  * batch queries over a MemoryStream.
  *
  * Scale notes: both operators are keyed-state streaming aggregations —
  * state is partitioned by (window, event_type) / user_id across
  * executors. The watermark bounds windowed-agg state to open windows;
  * the sessionizer additionally retains a 4-long counter marker per
  * user (cumulative session numbering is a full-history property), so
  * its state grows with user cardinality, not with event history.
  */
object EventStreams {

  /** Tumbling 1-hour windowed counts + sums with a watermark; append-mode
    * emission once the watermark passes the window end. Same output
    * schema as EventQueries.qeWindows. */
  def windowedAgg(events: DataFrame, watermarkDelay: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", watermarkDelay)
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(
        count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(18,4)")).cast("decimal(38,4)")
          .cast("double").as("sum_value"))
      .select(col("w.start").as("window_start"), col("event_type"),
        col("n_events"), col("sum_value"))

  /** Windowed streaming heavy-hitters: the [[graft.operators
    * .HeavyHitters]] Misra–Gries sketch as the aggregation state of a
    * tumbling-window streaming aggregation. Because the sketch is a
    * MERGEABLE Aggregator (partial buffers combine with the summed-
    * merge + k-th-largest decrement, preserving the MG error bound
    * across any merge tree), it drops into `agg(...)` like an
    * algebraic aggregate: per-window state is O(capacity) no matter
    * how many distinct values stream through — the bounded-memory
    * top-k a stream over unbounded-cardinality values (URLs, user
    * ids, raw tokens) needs, where a groupBy-count's state would grow
    * with the distinct count. Append-mode emission once the watermark
    * passes the window end; with capacity ≥ the true distinct count
    * the emitted counts are exact (pinned against the batch
    * expression in EventStreamSpec). */
  def windowedTopValues(events: DataFrame, capacity: Int = 16,
      windowLen: String = "1 day",
      watermarkDelay: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", watermarkDelay)
      .groupBy(window(col("ts"), windowLen).as("w"))
      .agg(graft.operators.HeavyHitters.topValues(capacity)(col("event_type"))
        .as("tv"))
      .select(col("w.start").as("window_start"), explode(col("tv")).as("e"))
      .select(col("window_start"), col("e._1").as("value"),
        col("e._2").as("est_count"))

  /** Windowed streaming distinct-count monitor on the mergeable
    * [[graft.operators.KmvSketch]]: per tumbling window, the k
    * smallest md5 user-id hashes as the aggregation state — O(k) per
    * window regardless of how many distinct users stream through,
    * where a COUNT(DISTINCT) would hold every id in state (and is not
    * supported in streaming aggregations at all). Emits the sketch
    * fill plus the KMV estimate; while a window sees fewer than k
    * distinct ids the estimate IS the exact count (the sketch holds
    * every hash), so parity against batch is strict. Append-mode
    * emission once the watermark passes the window end. */
  def windowedDistinctKmv(events: DataFrame, k: Int = 64,
      windowLen: String = "1 day",
      watermarkDelay: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", watermarkDelay)
      .groupBy(window(col("ts"), windowLen).as("w"))
      .agg(graft.operators.KmvSketch.kmins(k)(
        graft.functions.Portable.md5Hash32(col("user_id").cast("string")))
        .as("km"))
      .select(col("w.start").as("window_start"),
        size(col("km")).as("n_sketch"),
        when(size(col("km")) < k, size(col("km")).cast("double"))
          .otherwise(lit((k - 1).toDouble) * lit(4294967296.0) /
            element_at(col("km"), -1).cast("double"))
          .as("distinct_estimate"))

  /** Windowed streaming join-volume forecaster on the mergeable
    * [[graft.operators.AmsSketch]]: per tumbling window the stream
    * folds its join keys into a d×w signed AMS sketch — O(d·w) integer
    * state per window regardless of key cardinality, merged cell-wise
    * across partitions like any algebraic aggregate — and each emitted
    * window carries the ESTIMATED row count of joining that window
    * against a static side whose sketch was built once and inlined as
    * a literal. This is the streaming pre-flight for "will tonight's
    * enrichment join explode": the answer arrives per window without
    * the join (or the static side's data) ever being touched.
    * Estimate = exact median over the d per-row sketch inner products
    * (an all-integer HOF fold — no float drift, engine-portable).
    * Append-mode emission once the watermark passes the window end;
    * batch parity is strict because the sketch is deterministic. */
  def windowedJoinVolumeAms(events: DataFrame, staticSketch: Seq[Long],
      d: Int = 5, w: Int = 256, windowLen: String = "1 day",
      watermarkDelay: String = "2 hours"): DataFrame = {
    require(staticSketch.length == d * w, "static sketch shape mismatch")
    val b = typedLit(staticSketch)
    val ips = transform(sequence(lit(0), lit(d - 1)), r =>
      aggregate(sequence(lit(0), lit(w - 1)), lit(0L), (acc, j) =>
        acc + element_at(col("sk"), (r * lit(w) + j + 1).cast("int")) *
          element_at(b, (r * lit(w) + j + 1).cast("int"))))
    events
      // NULL join keys can never join; they must not contribute sketch
      // mass (same guard as the batch qo_join_cardinality_sketch — a
      // null slot would otherwise read as key 0 through the Long
      // encoder and inflate the estimate). The static side's sketch is
      // expected to have been built under the same rule.
      .where(col("user_id").isNotNull)
      .withWatermark("ts", watermarkDelay)
      .groupBy(window(col("ts"), windowLen).as("wd"))
      .agg(graft.operators.AmsSketch.sketch(d, w)(col("user_id")).as("sk"))
      .select(col("wd.start").as("window_start"),
        element_at(array_sort(ips), d / 2 + 1).as("est_join_rows"))
  }

  /** Native `session_window` aggregation on a stream — LITERALLY the
    * batch expression of EventQueries.qeSessionWindow plus a watermark
    * (the point of the unified API: no gaps-and-islands rewrite, no
    * custom state function); append-mode emission once the watermark
    * passes a session's close. State is one open session per
    * (user, session) key, bounded by the watermark — contrast with
    * [[sessionize]], which keeps a cumulative session counter per user
    * because batch session NUMBERING is a full-history property that
    * session_window does not provide. */
  def sessionWindowAgg(events: DataFrame, gap: String = "30 minutes",
      watermarkDelay: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", watermarkDelay)
      .groupBy(col("user_id"), session_window(col("ts"), gap).as("__w"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"), col("__w.start").as("session_start"),
        col("__w.end").as("session_end"), col("n_events"))

  case class SessionEvent(event_id: Long, ts: Timestamp, user_id: Long)

  /** Per-user state: micros timestamps (exact arithmetic). `n == 0`
    * means no session is open and `sessionId` is the NEXT id to assign —
    * the counter survives timeouts so session numbering stays cumulative
    * per user, matching the batch running-sum semantics. (Cumulative
    * numbering is inherently a full-history property, so the closed
    * marker is retained per user: 4 longs, bounded by user cardinality.)
    */
  case class SessionState(sessionId: Long, startUs: Long, endUs: Long, n: Long)

  case class SessionOut(user_id: Long, session_id: Long, n_events: Long,
    session_start: Timestamp, session_end: Timestamp)

  val GapUs: Long = 30L * 60 * 1000 * 1000 // 30-minute inactivity gap

  private def us(t: Timestamp): Long = t.getTime * 1000 + t.getNanos / 1000 % 1000
  private def ts(u: Long): Timestamp = {
    val t = new Timestamp(u / 1000)
    t.setNanos((u % 1000000).toInt * 1000)
    t
  }

  /** Gap-based streaming sessionizer via flatMapGroupsWithState with
    * event-time timeout: batch-equivalent to EventQueries.qeSessions.
    *
    * Per user the state holds ONLY the currently-open session (constant
    * size). Events arriving in a trigger are sorted by (ts, event_id)
    * before merging, so intra-trigger disorder is handled; the watermark
    * handles inter-trigger ordering. A session is emitted when a new
    * event starts the next one, or when the event-time timeout fires
    * (watermark passed session end + gap) — identical closure rule to
    * the batch `lag`-based query.
    */
  def sessionize(events: Dataset[SessionEvent],
                 watermarkDelay: String = "2 hours"): Dataset[SessionOut] = {
    import events.sparkSession.implicits._
    events
      .withWatermark("ts", watermarkDelay)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, SessionOut](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (userId: Long, it: Iterator[SessionEvent], state: GroupState[SessionState]) =>
          if (it.isEmpty) { // timeout: close and emit the open session
            val out = state.getOption.filter(_.n > 0).map(s =>
              SessionOut(userId, s.sessionId, s.n, ts(s.startUs), ts(s.endUs)))
            // Keep the counter (not remove()): a later event for this
            // user must get sessionId + 1, as the batch numbering does.
            state.getOption.foreach(s =>
              state.update(SessionState(s.sessionId + 1, 0L, 0L, 0L)))
            out.iterator
          } else {
            val sorted = it.toSeq.sortBy(e => (us(e.ts), e.event_id))
            var cur = state.getOption.orNull
            val closed = Seq.newBuilder[SessionOut]
            sorted.foreach { e =>
              val t = us(e.ts)
              if (cur == null) cur = SessionState(1L, t, t, 1L)
              else if (cur.n == 0) cur = SessionState(cur.sessionId, t, t, 1L)
              else if (t - cur.endUs > GapUs) {
                closed += SessionOut(userId, cur.sessionId, cur.n,
                  ts(cur.startUs), ts(cur.endUs))
                cur = SessionState(cur.sessionId + 1, t, t, 1L)
              } else cur = cur.copy(endUs = math.max(cur.endUs, t), n = cur.n + 1)
            }
            state.update(cur)
            // Clamp to the watermark: FlatMapGroupsWithStateExec late-
            // filters input against the PREVIOUS batch's watermark,
            // while the timeout check uses the ADVANCED current one —
            // so events between the two watermarks still reach the
            // function (an unordered source — e.g. a file drop replayed
            // in non-time order — advances the watermark past data
            // still in flight). A session built from such in-between
            // events has end + gap < current watermark, and Spark
            // rejects a timeout in the past outright (found by
            // StreamLadder at the sf1/sf4 rungs: 8-batch unordered
            // replay crashed the query; EventStreamSpec pins that a
            // FULLY-late batch — older than the prior watermark — is
            // dropped before the function ever sees it). The clamped session is already closeable — the
            // timeout fires at the next trigger, same closure rule.
            // On a BATCH Dataset there is no watermark (the module
            // contract is batch-or-streaming): getCurrentWatermarkMs
            // throws there, while setTimeoutTimestamp is a no-op — so
            // fall back to the unclamped target.
            val wmMs =
              try state.getCurrentWatermarkMs()
              catch { case _: UnsupportedOperationException => Long.MinValue }
            state.setTimeoutTimestamp(
              math.max(cur.endUs / 1000 + GapUs / 1000, wmMs + 1))
            closed.result().iterator
          }
      }
  }

  case class RankEvent(key: String, value: Double, id: Long)
  case class TopKState(top: Seq[(Double, Long)])
  case class TopKOut(key: String, rank: Int, id: Long, value: Double)

  /** Running per-key top-k leaderboard — the streaming face of the
    * batch [[org.apache.spark.sql.graft.TopK]] operator (§2.38b), with
    * the identical election rule (value desc, id-asc tie-break).
    * State per key is the current top-k ONLY (k pairs, constant size —
    * the same k-bounded contract as the batch partial stage); each
    * trigger merges the arriving rows into the bounded list and emits
    * the key's refreshed leaderboard in Update mode, so the sink's
    * latest emission per key always equals the batch operator run over
    * every event seen so far (pinned by TopKStreamSpec across
    * triggers). No timeout: a leaderboard is a full-history property,
    * like the sessionizer's counter, so state lives as long as the
    * key. */
  def runningTopK(events: Dataset[RankEvent], k: Int): Dataset[TopKOut] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.key)
      .flatMapGroupsWithState[TopKState, TopKOut](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (key: String, it: Iterator[RankEvent], state: GroupState[TopKState]) =>
          val merged = (state.getOption.map(_.top).getOrElse(Seq.empty) ++
            it.map(e => (e.value, e.id)))
            .sortBy { case (v, id) => (-v, id) }
            .take(k)
          state.update(TopKState(merged))
          merged.iterator.zipWithIndex.map { case ((v, id), i) =>
            TopKOut(key, i + 1, id, v)
          }
      }
  }

  /** Adapt the raw events frame to the sessionizer's typed input. */
  def toSessionEvents(events: DataFrame): Dataset[SessionEvent] = {
    import events.sparkSession.implicits._
    events.select(col("event_id"), col("ts"), col("user_id")).as[SessionEvent]
  }

  /** Stream-static enrichment: each streaming event picks up the dim
    * row with `dimKey == eventKey` (left join; null columns when
    * absent). The static side is marked broadcast — stream-static joins
    * re-plan the static side per micro-batch, and a shuffled join would
    * re-shuffle the STREAM side every trigger; broadcasting keeps the
    * stream partitioning untouched, the standard shape for dimension
    * enrichment at scale. */
  def enrich(events: DataFrame, dim: DataFrame,
      eventKey: String, dimKey: String, dimValues: Seq[String]): DataFrame =
    events.join(
      broadcast(dim.select((dimKey +: dimValues).map(col): _*)),
      events(eventKey) === dim(dimKey), "left")
      .drop(dim(dimKey))

  /** Streaming ingestion dedup with BOUNDED state:
    * `dropDuplicatesWithinWatermark` on the event id — the
    * at-least-once-source guard (Kafka redeliveries, producer
    * retries) every streaming pipeline needs in front of its first
    * stateful stage. The watermark bounds the dedup state to the
    * late-arrival horizon, unlike plain `dropDuplicates` on a
    * streaming frame whose key state grows without bound (a
    * 100 TB/day deployment would OOM its state store in hours).
    * Rows re-delivered within the horizon hit the state and drop;
    * rows older than the watermark are dropped as late by the same
    * mechanism — either way the output carries each event id at most
    * once (EventStreamSpec pins batch parity against `distinct`). */
  def dedupWithinWatermark(events: DataFrame,
      watermarkDelay: String = "2 hours"): DataFrame =
    events.withWatermark("ts", watermarkDelay)
      .dropDuplicatesWithinWatermark("event_id")

  /** Exactly-once CDC lake sink: every micro-batch MERGEs into the
    * Hive-partitioned parquet dataset at `targetPath` via
    * [[graft.operators.Merge.upsertPartitioned]] — the foreachBatch
    * upsert pattern that gives a plain-parquet lake the streaming
    * upsert/delete semantics a table format would provide. The
    * exactly-once claim rests on IDEMPOTENCE, not on transactions:
    * the merge election is latest-wins by (`orderCol`,
    * batch-over-stored) keyed on `keys`, so re-applying an
    * already-delivered batch (Structured Streaming's at-least-once
    * foreachBatch redelivery after a failure) re-elects the same rows
    * and rewrites the same partitions to identical contents —
    * MergeSinkSpec replays a batch and asserts the table is
    * byte-for-byte-value unchanged. Cost per batch: only the batch's
    * partitions are read and rewritten, never the table (the
    * [[graft.operators.Merge]] contract). First batch bootstraps a
    * missing target by resolving against an empty frame (in-batch
    * dedup + tombstone drop still apply). */
  def mergeSink(stream: DataFrame, targetPath: String, keys: Seq[String],
      orderCol: String, partCol: String, deleteCol: Option[String] = None)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    stream.writeStream.foreachBatch { (batch: DataFrame, _: Long) =>
      if (!batch.isEmpty) {
        val spark = batch.sparkSession
        val p = new org.apache.hadoop.fs.Path(targetPath)
        val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
        // Bootstrap on "no READABLE data", not bare path existence: a
        // pre-created empty directory (or a first write that died after
        // mkdir but before any parquet footer committed) must take the
        // bootstrap branch, or every replay re-fails on schema
        // inference and the idempotent-recovery contract never runs.
        // Only AnalysisException (path missing / unable to infer
        // schema) means "no data" — any OTHER failure (transient FS or
        // IO error against a POPULATED table) must fail the
        // micro-batch and be retried, because treating it as empty
        // would dynamic-overwrite the batch's partitions with
        // batch-only content, silently dropping merged history.
        val hasData = fs.exists(p) && (try {
          org.apache.spark.sql.graft.FooterParquet.read(spark, targetPath).schema
          true
        } catch {
          case _: org.apache.spark.sql.AnalysisException => false
        })
        if (hasData) {
          graft.operators.Merge.upsertPartitioned(spark, targetPath, batch,
            keys, orderCol, partCol, deleteCol)
        } else {
          val dataCols = batch.columns.filterNot(deleteCol.contains(_))
          val seeded = graft.operators.Merge.resolve(
            batch.select(dataCols.map(col): _*).where(lit(false)),
            batch, keys, orderCol, deleteCol)
          graft.sources.Layout.overwritePartitions(seeded, targetPath, partCol)
        }
        ()
      }
    }

  /** Continuous data-quality reporting: evaluate the rule set on every
    * micro-batch and hand the per-batch report to a [[graft.engine.ReportWriter]]
    * (file, console, or custom sink) — the streaming face of the
    * assertion engine. Stateless by design: each batch is scored
    * independently (the rules are row-local predicates), so state never
    * grows and a report is available at micro-batch latency. Start the
    * returned writer with `.start()` and manage it like any query. */
  def ruleReportSink(events: DataFrame, rules: Seq[graft.rules.Rule],
      writer: graft.engine.ReportWriter,
      reportKeyPrefix: String = "batch"): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    events.writeStream.foreachBatch {
      (batch: DataFrame, batchId: Long) =>
        val reports = graft.rules.RuleRunner.reports(batch, rules,
          collectSamples = true)
        writer.write(s"$reportKeyPrefix$batchId", Seq("stream" -> reports))
    }

  /** Continuous distribution-drift monitoring: every micro-batch's
    * value histogram scores PSI bins against a STATIC baseline frame
    * via [[graft.rules.Profiler.drift]], and the per-batch drift frame
    * goes to `onReport` (persist it, page on Σpsi, feed a dashboard).
    * Stateless like [[ruleReportSink]] — each batch is scored
    * independently against the fixed reference, so state never grows;
    * the baseline is a small binned histogram after its own
    * aggregation, broadcast into each batch's join. This is the
    * streaming face of qc_drift: the batch side collapses to its bin
    * histogram in one combinable pass before any join happens. */
  def driftReportSink(stream: DataFrame, baseline: DataFrame,
      valueCol: String, binWidth: Double,
      onReport: (Long, DataFrame) => Unit): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    stream.writeStream.foreachBatch { (batch: DataFrame, batchId: Long) =>
      onReport(batchId,
        graft.rules.Profiler.drift(baseline, batch, valueCol, binWidth))
    }

  /** Running corpus fingerprint on a stream: the same order-independent
    * checksum as [[graft.rules.Fingerprint]] (canonical row string →
    * md5-prefix hash → exact DECIMAL(38,0) sum), maintained as a
    * streaming aggregation — after ANY prefix of the stream the value
    * equals the batch fingerprint of the rows seen so far, because the
    * hash sum is mergeable and micro-batch boundaries are invisible to
    * a commutative sum. The incremental release gate: a continuously
    * ingesting corpus carries its up-to-the-moment fingerprint without
    * ever rescanning. State is two scalars; run with output mode
    * "complete" (or "update"). */
  def runningFingerprint(stream: DataFrame, columns: Seq[String]): DataFrame =
    // Literally the batch definition: Fingerprint.of is a projection +
    // commutative aggregation, which Structured Streaming runs as
    // incremental state — ONE canonical fingerprint definition, so the
    // streaming-equals-batch invariant can't drift.
    graft.rules.Fingerprint.of(stream, columns)

  /** Running CUSUM accumulator for [[volumeCusumSink]]. Lives at the
    * driver inside the foreachBatch sink; foreachBatch is at-least-once,
    * so a production deployment persists (window_start, cusum) to an
    * idempotent store keyed by window_start and rehydrates on restart —
    * the accumulator itself is the only cross-batch state and is one
    * double, so rehydration is a single-point read. */
  final class CusumState(expectedPerWindow: Double) extends Serializable {
    private var value = 0.0
    def update(count: Long): Double =
      synchronized { value += count - expectedPerWindow; value }
    def current: Double = synchronized(value)
  }

  /** Continuous volume-changepoint monitoring — the streaming face of
    * qe_changepoint: watermarked tumbling windows collapse the stream
    * to ONE count row per finalized window (distributed, combinable,
    * append mode emits each window exactly once), and the sink folds
    * those counts into a running CUSUM against the expected per-window
    * volume, emitting (window_start, count, cusum) points to `onPoint`
    * (dashboard, alert on |cusum| threshold). The per-batch collect is
    * bounded by windows-finalized-per-trigger (≈1 for steady streams);
    * watermark monotonicity plus the in-batch sort keeps the fold in
    * window order, so the trace equals the batch statistic exactly
    * when `expectedPerWindow` is the realized mean. */
  def volumeCusumSink(events: DataFrame, expectedPerWindow: Double,
      windowDuration: String, state: CusumState,
      onPoint: (Timestamp, Long, Double) => Unit,
      watermarkDelay: String = "2 hours"): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    events.withWatermark("ts", watermarkDelay)
      .groupBy(window(col("ts"), windowDuration).as("w"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("w.start").as("window_start"), col("n_events"))
      .writeStream.outputMode("append").foreachBatch {
        (batch: DataFrame, _: Long) =>
          batch.orderBy("window_start").collect().foreach { r =>
            val t = r.getAs[Timestamp]("window_start")
            val n = r.getAs[Long]("n_events")
            onPoint(t, n, state.update(n))
          }
      }

  /** Watermarked stream-stream interval join: (left, right) pairs with
    * equal keys where `rightTs` falls in [leftTs, leftTs + maxDelay].
    * Both sides carry watermarks and the join condition bounds event
    * time in BOTH directions, so each side's buffered state is evicted
    * once the other side's watermark passes — without the time bound a
    * stream-stream join must retain both streams forever. Caller
    * renames columns to avoid collisions (the spec shows the shape). */
  def intervalJoin(left: DataFrame, right: DataFrame,
      leftKey: String, rightKey: String,
      leftTs: String, rightTs: String,
      maxDelay: String, watermarkDelay: String = "2 hours"): DataFrame =
    left.withWatermark(leftTs, watermarkDelay).join(
      right.withWatermark(rightTs, watermarkDelay),
      expr(s"$leftKey = $rightKey AND $rightTs >= $leftTs " +
        s"AND $rightTs <= $leftTs + INTERVAL $maxDelay"))
}
