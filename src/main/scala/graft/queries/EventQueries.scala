package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables

/** Event-time analytics over the `events` table — SURVEY.md §2 items
  * 32-33 (batch semantics; the streaming equivalents run over the same
  * logic in graft.streaming with watermarks, tested by MemoryStream
  * parity in EventStreamSpec).
  */
object EventQueries {

  private def valueSum(c: org.apache.spark.sql.Column) =
    sum(c.cast("decimal(18,4)")).cast("decimal(38,4)").cast("double")

  /** §2.32 — tumbling 1-hour window counts + value sums per event type. */
  def qeWindows(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "events")
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n_events"), valueSum(col("value")).as("sum_value"))
      .select(col("w.start").as("window_start"), col("event_type"),
        col("n_events"), col("sum_value"))
      .orderBy("window_start", "event_type")

  val qeWindowsSql: String =
    """SELECT date_trunc('hour', ts) AS window_start, event_type,
      |  COUNT(*) AS n_events,
      |  CAST(CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DECIMAL(38,4)) AS DOUBLE) AS sum_value
      |FROM events
      |GROUP BY date_trunc('hour', ts), event_type
      |ORDER BY window_start, event_type""".stripMargin

  /** §2.32b — sliding 1-hour windows advancing every 30 minutes: each
    * event lands in exactly two overlapping windows. Same single-shuffle
    * shape as the tumbling case — the window() expression expands each
    * row to its covering windows BEFORE the aggregation shuffle, so
    * overlap factor (2×) is the only cost over tumbling. */
  def qeSliding(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "events")
      .groupBy(window(col("ts"), "1 hour", "30 minutes").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n_events"), valueSum(col("value")).as("sum_value"))
      .select(col("w.start").as("window_start"), col("event_type"),
        col("n_events"), col("sum_value"))
      .orderBy("window_start", "event_type")

  // An event at t covers window starts floor30(t) and floor30(t)-30min
  // (both 30-minute-aligned, as in Spark, whose origin is the epoch;
  // DuckDB's time_bucket origin 2000-01-01 is also 30-minute-aligned).
  val qeSlidingSql: String =
    """SELECT window_start, event_type, COUNT(*) AS n_events,
      |  CAST(CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DECIMAL(38,4)) AS DOUBLE) AS sum_value
      |FROM (
      |  SELECT time_bucket(INTERVAL '30 minutes', CAST(ts AS TIMESTAMP))
      |           - o * INTERVAL '30 minutes' AS window_start,
      |         event_type, value
      |  FROM events CROSS JOIN (SELECT unnest([0, 1]) AS o) off
      |)
      |GROUP BY window_start, event_type
      |ORDER BY window_start, event_type""".stripMargin

  /** §2.33c — binned range join: every event attributed to the 7-day
    * window opening at each signup event's day by the same user — the
    * activation-attribution join (see [[graft.operators.RangeJoin]] for
    * why binning, not a theta join). The signup row itself falls inside
    * its own window, so every window has ≥1 event. */
  def qeRange(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.RangeJoin
    val events = Tables.load(spark, dir, "events")
    val signups = events.where(col("event_type") === "signup")
      .select(col("event_id").as("signup_id"), col("user_id").as("s_user"),
        to_date(col("ts")).as("s_day"))
    val points = events.select("user_id", "ts", "value")
    RangeJoin.pointsInInterval(points, signups,
      "user_id", "s_user", "ts", "s_day", 7)
      .groupBy("signup_id")
      .agg(count(lit(1)).as("n_events"), valueSum(col("value")).as("sum_value"))
      .orderBy("signup_id")
  }

  val qeRangeSql: String =
    """SELECT s.event_id AS signup_id, COUNT(*) AS n_events,
      |  CAST(CAST(SUM(CAST(e.value AS DECIMAL(18,4))) AS DECIMAL(38,4)) AS DOUBLE) AS sum_value
      |FROM events s JOIN events e
      |  ON e.user_id = s.user_id
      | AND e.ts >= CAST(CAST(s.ts AS DATE) AS TIMESTAMP)
      | AND e.ts < CAST(CAST(s.ts AS DATE) + INTERVAL 7 DAY AS TIMESTAMP)
      |WHERE s.event_type = 'signup'
      |GROUP BY s.event_id
      |ORDER BY signup_id""".stripMargin

  /** §2.33 — gap-based sessionization (30-minute inactivity closes a
    * session), assembled from lag + running sum + aggregation. */
  def qeSessions(spark: SparkSession, dir: String): DataFrame = {
    val byUser = Window.partitionBy("user_id").orderBy("ts", "event_id")
    val lagTs = lag(col("ts"), 1).over(byUser)
    val newSession = when(lagTs.isNull ||
      unix_micros(col("ts")) - unix_micros(lagTs) > 1800000000L, 1).otherwise(0)
    Tables.load(spark, dir, "events")
      .withColumn("session_id",
        sum(newSession).over(byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy("user_id", "session_id")
      .agg(count(lit(1)).as("n_events"),
        min(col("ts")).as("session_start"), max(col("ts")).as("session_end"))
      .orderBy("user_id", "session_id")
  }

  val qeSessionsSql: String =
    """WITH marked AS (
      |  SELECT user_id, event_id, ts,
      |    CASE WHEN lag(ts) OVER w IS NULL
      |           OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
      |         THEN 1 ELSE 0 END AS new_sess
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
      |), sess AS (
      |  SELECT user_id, ts,
      |    CAST(SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
      |  FROM marked
      |)
      |SELECT user_id, session_id, COUNT(*) AS n_events,
      |  MIN(ts) AS session_start, MAX(ts) AS session_end
      |FROM sess
      |GROUP BY user_id, session_id
      |ORDER BY user_id, session_id""".stripMargin

  /** §2.33ak — HOT-KEY-SAFE sessionization: bit-identical output to
    * [[qeSessions]] without its scale ceiling. The classic
    * gaps-and-islands form sorts each user's ENTIRE history in one
    * task (Window.partitionBy(user)) — the r13 Zipf ladder measured it
    * as the ONE production straggler (sf16zipf: 9.8× max/med task,
    * the hot user's 1.6 M-event ordered window on a single core).
    * Chunk-and-stitch removes the per-key ceiling:
    *
    *  1. per (user, day-chunk) window — the hot user's history splits
    *     across chunks, so no task ever sorts more than one key-day —
    *     marks sub-session starts with the SAME strict-gap rule;
    *  2. sub-sessions collapse to SUMMARY rows (first/last ts, count)
    *     — per-event data never crosses another exchange;
    *  3. the cross-chunk stitch runs the same gap rule over summaries
    *     ordered by (chunk, sub): adjacent sub-sessions merge iff
    *     first(next) − last(prev) ≤ gap. Every consecutive-event pair
    *     is examined exactly once — within a chunk by step 1, across
    *     sub-session boundaries by step 3 (a same-chunk split pair
    *     re-checks > gap and stays split), so session ids, counts and
    *     bounds reproduce [[qeSessions]] exactly — the oracle IS
    *     qeSessionsSql. The stitch window is per-user over summaries
    *     (≤ sub-sessions per chunk × active chunks — bounded by
    *     activity/gap, not events; the hot user contributes ~#days
    *     rows, not 1.6 M). Chunk width needs NO relation to the gap
    *     (an empty chunk between events just makes the stitch compare
    *     the true timestamps); 1 day balances parallelism vs summary
    *     count. */
  def qeSessionsStitched(spark: SparkSession, dir: String): DataFrame = {
    val gapMicros = 1800000000L
    val chunkMicros = 86400000000L // 1 day
    val byUC = Window.partitionBy("user_id", "__chunk")
      .orderBy("ts", "event_id")
    val lagTs = lag(col("ts"), 1).over(byUC)
    val newSub = when(lagTs.isNull ||
      unix_micros(col("ts")) - unix_micros(lagTs) > gapMicros, 1).otherwise(0)
    val summaries = Tables.load(spark, dir, "events")
      .withColumn("__chunk", floor(unix_micros(col("ts")) / chunkMicros))
      .withColumn("__sub", sum(newSub).over(
        byUC.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy("user_id", "__chunk", "__sub")
      .agg(count(lit(1)).as("__n"),
        min(col("ts")).as("__first"), max(col("ts")).as("__last"))
    val byUser = Window.partitionBy("user_id").orderBy("__chunk", "__sub")
    val lagLast = lag(col("__last"), 1).over(byUser)
    val stitchNew = when(lagLast.isNull ||
      unix_micros(col("__first")) - unix_micros(lagLast) > gapMicros, 1)
      .otherwise(0)
    summaries
      .withColumn("session_id", sum(stitchNew).over(
        byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy("user_id", "session_id")
      .agg(sum(col("__n")).as("n_events"),
        min(col("__first")).as("session_start"),
        max(col("__last")).as("session_end"))
      .orderBy("user_id", "session_id")
  }

  /** §2.33aj — sessionization via Spark's NATIVE `session_window`
    * aggregation (the operator Structured Streaming uses for session
    * state, here in batch): one grouped aggregation, no lag/cumsum
    * window chain — Catalyst owns the merge, and the SAME expression
    * moves to a readStream unchanged, which the manual gaps-and-islands
    * form of [[qeSessions]] cannot. Boundary semantics differ from
    * qeSessions deliberately: a session extends to [ts, ts+gap), so an
    * event landing EXACTLY gap after its predecessor starts a NEW
    * session (>= in the oracle, vs qeSessions' >), and session_end =
    * last ts + gap. */
  def qeSessionWindow(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "events")
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes").as("__w"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"), col("__w.start").as("session_start"),
        col("__w.end").as("session_end"), col("n_events"))
      .orderBy("user_id", "session_start")

  val qeSessionWindowSql: String =
    """WITH marked AS (
      |  SELECT user_id, event_id, ts,
      |    CASE WHEN lag(ts) OVER w IS NULL
      |           OR epoch_us(ts) - epoch_us(lag(ts) OVER w) >= 1800000000
      |         THEN 1 ELSE 0 END AS new_sess
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
      |), sess AS (
      |  SELECT user_id, ts,
      |    CAST(SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
      |  FROM marked
      |)
      |SELECT user_id, MIN(ts) AS session_start,
      |  MAX(ts) + INTERVAL 30 MINUTE AS session_end,
      |  COUNT(*) AS n_events
      |FROM sess
      |GROUP BY user_id, session_id
      |ORDER BY user_id, session_start""".stripMargin

  /** Top spenders among purchase events (windowed top-k composes the
    * surface already covered; this is the headline event rollup). */
  def qeTopkUsers(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "events")
      .where(col("event_type") === "purchase")
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_purchases"), valueSum(col("value")).as("total_spend"))
      .orderBy(col("total_spend").desc, col("user_id"))
      .limit(10)

  val qeTopkUsersSql: String =
    """SELECT user_id, COUNT(*) AS n_purchases,
      |  CAST(CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DECIMAL(38,4)) AS DOUBLE) AS total_spend
      |FROM events
      |WHERE event_type = 'purchase'
      |GROUP BY user_id
      |ORDER BY total_spend DESC, user_id
      |LIMIT 10""".stripMargin

  /** As-of enrichment: each event picks up the user's most recent order
    * at event time (orders deduped to one per (custkey, orderdate) so
    * the match is deterministic in every engine). DuckDB's native
    * ASOF LEFT JOIN is the oracle for the union+window composition. */
  def qeAsof(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.AsofJoin
    val orders = Tables.load(spark, dir, "orders")
      .groupBy(col("o_custkey"), col("o_orderdate"))
      .agg(max("o_orderkey").as("last_orderkey"))
      .withColumn("last_orderdate", col("o_orderdate"))
    AsofJoin.asofJoin(
      Tables.load(spark, dir, "events").select("event_id", "ts", "user_id"),
      orders, "user_id", "o_custkey", "ts", "o_orderdate",
      Seq("last_orderkey", "last_orderdate"))
      .orderBy("event_id")
  }

  val qeAsofSql: String =
    """WITH r AS (
      |  SELECT o_custkey, o_orderdate, MAX(o_orderkey) AS last_orderkey,
      |    o_orderdate AS last_orderdate
      |  FROM orders GROUP BY o_custkey, o_orderdate
      |)
      |SELECT e.event_id, e.ts, e.user_id, r.last_orderkey, r.last_orderdate
      |FROM events e ASOF LEFT JOIN r
      |  ON e.user_id = r.o_custkey AND e.ts >= r.o_orderdate
      |ORDER BY event_id""".stripMargin

  /** Conversion funnel: per-user first signup, first click AT OR AFTER
    * that signup, first purchase at or after that click; one row of
    * stage counts. Each stage is a keyed aggregation joined forward —
    * three shuffles on user_id, no window over the full event stream. */
  def qeFunnel(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.load(spark, dir, "events")
    val s = ev.where(col("event_type") === "signup")
      .groupBy("user_id").agg(min("ts").as("t0"))
    val c = ev.where(col("event_type") === "click")
      .join(s, Seq("user_id")).where(col("ts") >= col("t0"))
      .groupBy("user_id").agg(min("ts").as("t1"))
    val p = ev.where(col("event_type") === "purchase")
      .join(c, Seq("user_id")).where(col("ts") >= col("t1"))
      .groupBy("user_id").agg(min("ts").as("t2"))
    s.join(c, Seq("user_id"), "left").join(p, Seq("user_id"), "left")
      .agg(count(col("t0")).as("n_signup"),
        count(col("t1")).as("n_click_after_signup"),
        count(col("t2")).as("n_purchase_after_click"))
  }

  /** §2.33cc — time-boxed ordered funnel (the windowFunnel shape):
    * 33f counts step completion EVER; this requires the whole
    * signup → click → purchase sequence inside 24 h of the user's
    * first signup — the activation-deadline form growth teams
    * actually track (a purchase next month is retention, not funnel
    * conversion). Per step: users reaching it in order and in window,
    * share of entrants, and the exact median hours from t0 (the
    * latency distribution is the actionable half — where in the
    * window users stall). Same first-occurrence chain as 33f (three
    * keyed min-aggregates, each a map-side-combinable groupBy), with
    * the window bound composed into each step's eligibility; the
    * union-of-steps frame is ≤ 3 rows per user. */
  def qeWindowFunnel(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.load(spark, dir, "events")
    val s = ev.where(col("event_type") === "signup")
      .groupBy("user_id").agg(min("ts").as("t0"))
      .withColumn("__dl", col("t0") + expr("INTERVAL 24 HOURS"))
    val c = ev.where(col("event_type") === "click")
      .join(s, Seq("user_id"))
      .where(col("ts") >= col("t0") && col("ts") <= col("__dl"))
      .groupBy("user_id").agg(min("ts").as("t1"))
    val p = ev.where(col("event_type") === "purchase")
      .join(c.join(s, Seq("user_id")), Seq("user_id"))
      .where(col("ts") >= col("t1") && col("ts") <= col("__dl"))
      .groupBy("user_id").agg(min("ts").as("t2"))
    val wide = s.join(c, Seq("user_id"), "left")
      .join(p, Seq("user_id"), "left")
    val steps = wide.select(col("user_id"), lit(1).as("step"),
        lit(0.0).as("__h"))
      .unionAll(wide.where(col("t1").isNotNull)
        .select(col("user_id"), lit(2).as("step"),
          ((unix_micros(col("t1")) - unix_micros(col("t0"))).cast("double")
            / lit(3600000000.0)).as("__h")))
      .unionAll(wide.where(col("t2").isNotNull)
        .select(col("user_id"), lit(3).as("step"),
          ((unix_micros(col("t2")) - unix_micros(col("t0"))).cast("double")
            / lit(3600000000.0)).as("__h")))
    val entered = s.agg(count(lit(1)).cast("double").as("__tot"))
    steps.groupBy("step")
      .agg(count(lit(1)).as("n_users"),
        expr("percentile(__h, 0.5D)").as("__p50"))
      .crossJoin(broadcast(entered))
      .select(col("step"), col("n_users"),
        round(col("n_users").cast("double") / col("__tot"), 6)
          .as("share_of_entered"),
        round(col("__p50"), 6).as("p50_hours_from_start"))
      .orderBy("step")
  }

  val qeWindowFunnelSql: String =
    """WITH s AS (
      |  SELECT user_id, MIN(CAST(ts AS TIMESTAMP)) AS t0,
      |    MIN(CAST(ts AS TIMESTAMP)) + INTERVAL 24 HOUR AS dl
      |  FROM events WHERE event_type = 'signup' GROUP BY user_id
      |), c AS (
      |  SELECT e.user_id, MIN(CAST(e.ts AS TIMESTAMP)) AS t1
      |  FROM events e JOIN s ON e.user_id = s.user_id
      |    AND CAST(e.ts AS TIMESTAMP) >= s.t0
      |    AND CAST(e.ts AS TIMESTAMP) <= s.dl
      |  WHERE e.event_type = 'click' GROUP BY e.user_id
      |), p AS (
      |  SELECT e.user_id, MIN(CAST(e.ts AS TIMESTAMP)) AS t2
      |  FROM events e
      |  JOIN c ON e.user_id = c.user_id
      |  JOIN s ON e.user_id = s.user_id
      |  WHERE e.event_type = 'purchase'
      |    AND CAST(e.ts AS TIMESTAMP) >= c.t1
      |    AND CAST(e.ts AS TIMESTAMP) <= s.dl
      |  GROUP BY e.user_id
      |), steps AS (
      |  SELECT s.user_id, 1 AS step, 0.0e0 AS h FROM s
      |  UNION ALL
      |  SELECT c.user_id, 2 AS step,
      |    CAST(epoch_us(c.t1) - epoch_us(s.t0) AS DOUBLE) / 3600000000.0 AS h
      |  FROM c JOIN s ON c.user_id = s.user_id
      |  UNION ALL
      |  SELECT p.user_id, 3 AS step,
      |    CAST(epoch_us(p.t2) - epoch_us(s.t0) AS DOUBLE) / 3600000000.0 AS h
      |  FROM p JOIN s ON p.user_id = s.user_id
      |)
      |SELECT step, COUNT(*) AS n_users,
      |  round(CAST(COUNT(*) AS DOUBLE)
      |    / (SELECT CAST(COUNT(*) AS DOUBLE) FROM s), 6) AS share_of_entered,
      |  round(quantile_cont(h, 0.5), 6) AS p50_hours_from_start
      |FROM steps GROUP BY step
      |ORDER BY step""".stripMargin

  val qeFunnelSql: String =
    """WITH s AS (
      |  SELECT user_id, MIN(ts) AS t0 FROM events
      |  WHERE event_type = 'signup' GROUP BY user_id
      |), c AS (
      |  SELECT e.user_id, MIN(e.ts) AS t1 FROM events e
      |  JOIN s ON e.user_id = s.user_id AND e.ts >= s.t0
      |  WHERE e.event_type = 'click' GROUP BY e.user_id
      |), p AS (
      |  SELECT e.user_id, MIN(e.ts) AS t2 FROM events e
      |  JOIN c ON e.user_id = c.user_id AND e.ts >= c.t1
      |  WHERE e.event_type = 'purchase' GROUP BY e.user_id
      |)
      |SELECT COUNT(s.t0) AS n_signup,
      |  COUNT(c.t1) AS n_click_after_signup,
      |  COUNT(p.t2) AS n_purchase_after_click
      |FROM s LEFT JOIN c ON s.user_id = c.user_id
      |       LEFT JOIN p ON s.user_id = p.user_id""".stripMargin

  /** Semi-structured extraction: pull typed values out of the JSON
    * `props` column and aggregate — JSON path evaluation is codegen'd
    * (get_json_object), no UDF, fused into the scan projection. */
  def qeProps(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "events")
      .select(col("event_type"),
        get_json_object(col("props"), "$.k").cast("bigint").as("k"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_events"), sum("k").as("sum_k"), max("k").as("max_k"))
      .orderBy("event_type")

  val qePropsSql: String =
    """SELECT event_type, COUNT(*) AS n_events,
      |  CAST(SUM(CAST(props->>'$.k' AS BIGINT)) AS BIGINT) AS sum_k,
      |  MAX(CAST(props->>'$.k' AS BIGINT)) AS max_k
      |FROM events
      |GROUP BY event_type
      |ORDER BY event_type""".stripMargin

  /** Weekly cohort retention: users grouped by the week of their first
    * event; each (cohort, week-offset) cell counts distinct active
    * users. One aggregation builds the per-user cohort frame, which
    * joins back onto the stream co-partitioned on user_id (both sides
    * shuffle on the same key — no second pass shape). */
  def qeRetention(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.load(spark, dir, "events")
    val cohorts = ev.groupBy("user_id")
      .agg(date_trunc("week", min(col("ts"))).as("__cw"))
    ev.join(cohorts, "user_id")
      .select(col("user_id"), col("__cw"),
        (datediff(date_trunc("week", col("ts")), col("__cw")) / 7)
          .cast("int").as("week_offset"))
      .groupBy(to_date(col("__cw")).as("cohort_week"), col("week_offset"))
      .agg(count_distinct(col("user_id")).as("n_users"))
      .orderBy("cohort_week", "week_offset")
  }

  val qeRetentionSql: String =
    """WITH f AS (
      |  SELECT user_id, date_trunc('week', MIN(CAST(ts AS TIMESTAMP))) AS cw
      |  FROM events GROUP BY user_id
      |)
      |SELECT CAST(f.cw AS DATE) AS cohort_week,
      |  CAST(date_diff('day', f.cw, date_trunc('week', CAST(e.ts AS TIMESTAMP))) // 7 AS INT) AS week_offset,
      |  COUNT(DISTINCT e.user_id) AS n_users
      |FROM events e JOIN f ON e.user_id = f.user_id
      |GROUP BY 1, 2
      |ORDER BY cohort_week, week_offset""".stripMargin

  /** Top event paths: each user's first five events (by time) joined
    * into a `>`-separated path string, counted across users, top 20.
    * The per-user window shuffles once on user_id; path assembly sorts
    * a ≤5-element array inside the row — never a cross-row collect. */
  def qePaths(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    Tables.load(spark, dir, "events")
      .withColumn("__rn", row_number().over(w))
      .where(col("__rn") <= 5)
      .groupBy("user_id")
      .agg(array_join(
        transform(array_sort(collect_list(struct(col("__rn"), col("event_type")))),
          x => x.getField("event_type")), ">").as("path"))
      .groupBy("path")
      .agg(count(lit(1)).as("n_users"))
      .orderBy(col("n_users").desc, col("path"))
      .limit(20)
  }

  val qePathsSql: String =
    """WITH r AS (
      |  SELECT user_id, event_type,
      |    ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
      |  FROM events
      |), p AS (
      |  SELECT user_id, string_agg(event_type, '>' ORDER BY rn) AS path
      |  FROM r WHERE rn <= 5 GROUP BY user_id
      |)
      |SELECT path, COUNT(*) AS n_users
      |FROM p GROUP BY path
      |ORDER BY n_users DESC, path
      |LIMIT 20""".stripMargin

  /** Daily/weekly active users + stickiness (DAU/WAU) — the classic
    * engagement rollup, EXACT: sliding-window distinct is not window-
    * expressible, so each (user, active-day) pair expands to the 7
    * days it counts toward and WAU is a plain distinct count per day.
    * Cost: a 7× explode of the (user, day) frame — already deduped, so
    * orders of magnitude smaller than the event stream it came from. */
  def qeStickiness(spark: SparkSession, dir: String): DataFrame = {
    // ONE pass: each (user, active-day) expands to its 7 covered days
    // tagged with the offset; per (user, covered-day) the MINIMUM
    // offset tells whether the user was active that very day (offset
    // 0 ⇒ DAU), so dau and wau fall out of the same aggregation chain
    // instead of two scans of the event stream.
    val covered = Tables.load(spark, dir, "events")
      .select(col("user_id"), to_date(col("ts")).as("day")).distinct()
      .select(col("user_id"), col("day"),
        explode(sequence(lit(0), lit(6))).as("o"))
      .select(col("user_id"), date_add(col("day"), col("o")).as("day"), col("o"))
      .groupBy("user_id", "day").agg(min(col("o")).as("__mo"))
    covered.groupBy("day")
      .agg(count(when(col("__mo") === 0, lit(1))).as("dau"),
        count(lit(1)).as("wau"))
      // Days with no direct activity are phantom window tails past the
      // stream's end (or gaps) — the reported grain is active days.
      .where(col("dau") > 0)
      .select(col("day"), col("dau"), col("wau"),
        round(col("dau").cast("double") / col("wau"), 6).as("stickiness"))
      .orderBy("day")
  }

  val qeStickinessSql: String =
    """WITH ud AS (
      |  SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
      |), cov AS (
      |  SELECT user_id, CAST(day + x.o * INTERVAL 1 DAY AS DATE) AS day,
      |    MIN(x.o) AS mo
      |  FROM ud CROSS JOIN (SELECT unnest(range(0, 7)) AS o) x
      |  GROUP BY user_id, CAST(day + x.o * INTERVAL 1 DAY AS DATE)
      |), agg AS (
      |  SELECT day, COUNT(CASE WHEN mo = 0 THEN 1 END) AS dau,
      |    COUNT(*) AS wau
      |  FROM cov GROUP BY day
      |)
      |SELECT day, dau, wau,
      |  round(CAST(dau AS DOUBLE) / wau, 6) AS stickiness
      |FROM agg WHERE dau > 0
      |ORDER BY day""".stripMargin

  /** Fixed-width value histogram per event type — the distribution
    * profile of a measure column, all-exact counts (one shuffle). */
  def qeHistogram(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "events")
      .groupBy(col("event_type"),
        floor(col("value") / 50).cast("long").as("bin"))
      .agg(count(lit(1)).as("n_events"))
      .orderBy("event_type", "bin")

  val qeHistogramSql: String =
    """SELECT event_type, CAST(FLOOR(value / 50) AS BIGINT) AS bin,
      |  COUNT(*) AS n_events
      |FROM events
      |GROUP BY event_type, CAST(FLOOR(value / 50) AS BIGINT)
      |ORDER BY event_type, bin""".stripMargin

  /** §2.33h — last-touch attribution: every purchase is credited to the
    * user's most recent earlier non-purchase event. ONE window pass
    * (partition user_id, order ts) carries the last-seen source type
    * forward — no self-join of the event stream against itself, so the
    * cost at 100 TB is a single shuffle on user_id. Purchases with no
    * prior touch credit 'none'. */
  def qeAttribution(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    Tables.load(spark, dir, "events")
      .withColumn("__src",
        last(when(col("event_type") =!= "purchase", col("event_type")),
          ignoreNulls = true).over(w))
      .where(col("event_type") === "purchase")
      .groupBy(coalesce(col("__src"), lit("none")).as("source_type"))
      .agg(count(lit(1)).as("purchases"))
      .orderBy("source_type")
  }

  val qeAttributionSql: String =
    """WITH attributed AS (
      |  SELECT event_type,
      |    LAST_VALUE(CASE WHEN event_type <> 'purchase' THEN event_type END IGNORE NULLS)
      |      OVER (PARTITION BY user_id ORDER BY ts, event_id
      |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS src
      |  FROM events)
      |SELECT COALESCE(src, 'none') AS source_type,
      |  CAST(COUNT(*) AS BIGINT) AS purchases
      |FROM attributed
      |WHERE event_type = 'purchase'
      |GROUP BY 1
      |ORDER BY 1""".stripMargin

  /** §2.33am — position-based (U-shaped) multi-touch attribution: every
    * purchase splits its credit over the user's non-purchase touches in
    * the preceding hour — 40% to the first touch, 40% to the last, 20%
    * shared across the middles (1.0 / 0.5+0.5 for one / two touches) —
    * the standard complement of [[qeAttribution]]'s winner-takes-all.
    * One equi-join on user_id (single shuffle) + a bounded time-range
    * predicate pairs touches with purchases; rank/count windows
    * partition by PURCHASE (bounded by the 1 h lookback, never a
    * user's full history). Credits are row-local double expressions —
    * bit-identical across engines — and aggregate via per-value
    * DECIMAL casts, so the rollup is accumulation-order-exact. */
  def qeAttributionMulti(spark: SparkSession, dir: String): DataFrame = {
    val events = Tables.load(spark, dir, "events")
    val purchases = events.where(col("event_type") === "purchase")
      .select(col("event_id").as("__pid"), col("user_id"),
        unix_micros(col("ts")).as("__pts"))
    val touches = events.where(col("event_type") =!= "purchase")
      .select(col("user_id"), col("event_id").as("__tid"),
        col("event_type").as("touch_type"), unix_micros(col("ts")).as("__tts"))
    val perPurchase = Window.partitionBy("__pid")
    val ranked = Window.partitionBy("__pid").orderBy("__tts", "__tid")
    val joined = touches.join(purchases, "user_id")
      .where(col("__tts") < col("__pts") &&
        col("__pts") - col("__tts") <= 3600000000L)
      .withColumn("__rank", row_number().over(ranked))
      .withColumn("__n", count(lit(1)).over(perPurchase))
    val credit = when(col("__n") === 1, lit(1.0))
      .when(col("__n") === 2, lit(0.5))
      .when(col("__rank") === 1 || col("__rank") === col("__n"), lit(0.4))
      .otherwise(lit(0.2) / (col("__n") - 2))
    joined
      .groupBy("touch_type")
      .agg(count(lit(1)).as("n_touches"),
        count_distinct(col("__pid")).as("n_purchases"),
        round(sum(credit.cast("decimal(38,12)")).cast("double"), 6)
          .as("credit"))
      .orderBy("touch_type")
  }

  val qeAttributionMultiSql: String =
    """WITH p AS (
      |  SELECT event_id AS pid, user_id, epoch_us(ts) AS pts
      |  FROM events WHERE event_type = 'purchase'
      |), t AS (
      |  SELECT user_id, event_id AS tid, event_type AS touch_type,
      |    epoch_us(ts) AS tts
      |  FROM events WHERE event_type <> 'purchase'
      |), j AS (
      |  SELECT t.touch_type, p.pid,
      |    ROW_NUMBER() OVER (PARTITION BY p.pid ORDER BY t.tts, t.tid) AS rnk,
      |    COUNT(*) OVER (PARTITION BY p.pid) AS n
      |  FROM t JOIN p ON t.user_id = p.user_id
      |  WHERE t.tts < p.pts AND p.pts - t.tts <= 3600000000
      |)
      |SELECT touch_type, COUNT(*) AS n_touches,
      |  CAST(COUNT(DISTINCT pid) AS BIGINT) AS n_purchases,
      |  round(CAST(SUM(CAST(
      |    CASE WHEN n = 1 THEN 1.0
      |         WHEN n = 2 THEN 0.5
      |         WHEN rnk = 1 OR rnk = n THEN 0.4
      |         ELSE 0.2 / (n - 2) END AS DECIMAL(38,12))) AS DOUBLE), 6)
      |    AS credit
      |FROM j
      |GROUP BY touch_type
      |ORDER BY touch_type""".stripMargin

  /** §2.33an — Kaplan–Meier time-to-conversion curve with fixed-horizon
    * (48 h) administrative censoring: per user, T = whole hours from
    * first event to first purchase; users converting within the horizon
    * are deaths at T, everyone else is censored at 48 — the standard
    * product-limit estimator S(t) = Π_{t'≤t} (1 − d/n) a growth team
    * reads conversion velocity from without survivorship bias (naive
    * "average time to convert" over converters only is biased fast).
    * Two combinable per-user aggregations collapse the fact table; the
    * estimator itself runs over the ≤ horizon+1-row lifetable, where
    * the unpartitioned windows are free. Hours come from integer
    * microsecond division (no engine-specific interval semantics); the
    * log-survival cumulative sum goes through DECIMAL(38,18) casts so
    * accumulation order is exact, and the residual ln/exp last-ulp
    * noise (Java vs libm, ~0.02% of inputs) dies in round(·, 6).
    * The horizon row is censor-only (deaths = 0 there by construction),
    * so the 1 − d/n factor never reaches zero while any user survives
    * the window. */
  def qeSurvival(spark: SparkSession, dir: String): DataFrame = {
    val events = Tables.load(spark, dir, "events")
    val firsts = events.groupBy("user_id")
      .agg(min(unix_micros(col("ts"))).as("__f"),
        min(when(col("event_type") === "purchase",
          unix_micros(col("ts")))).as("__p"))
    val horizon = 48L
    val perUser = firsts
      .withColumn("__th", expr("(__p - __f) div 3600000000"))
      .select(
        when(col("__p").isNotNull && col("__th") < horizon, col("__th"))
          .otherwise(lit(horizon)).as("t_hours"),
        (col("__p").isNotNull && col("__th") < horizon).as("__death"))
    val lifetable = perUser.groupBy("t_hours")
      .agg(count(lit(1)).as("__n"),
        sum(when(col("__death"), 1L).otherwise(0L)).as("deaths"),
        sum(when(col("__death"), 0L).otherwise(1L)).as("censored"))
    lifetable
      .withColumn("at_risk",
        sum(col("__n")).over(Window.orderBy(col("t_hours").desc)))
      .withColumn("survival", round(exp(
        sum(
          log((col("at_risk") - col("deaths")).cast("double") /
            col("at_risk").cast("double")).cast("decimal(38,18)"))
          .over(Window.orderBy("t_hours")).cast("double")), 6))
      .select("t_hours", "at_risk", "deaths", "censored", "survival")
      .orderBy("t_hours")
  }

  val qeSurvivalSql: String =
    """WITH f AS (
      |  SELECT user_id, MIN(epoch_us(ts)) AS fus,
      |    MIN(CASE WHEN event_type = 'purchase' THEN epoch_us(ts) END) AS pus
      |  FROM events GROUP BY user_id
      |), per_user AS (
      |  SELECT
      |    CASE WHEN pus IS NOT NULL AND (pus - fus) // 3600000000 < 48
      |         THEN (pus - fus) // 3600000000 ELSE 48 END AS t_hours,
      |    (pus IS NOT NULL AND (pus - fus) // 3600000000 < 48) AS death
      |  FROM f
      |), lifetable AS (
      |  SELECT t_hours, COUNT(*) AS n,
      |    SUM(CASE WHEN death THEN 1 ELSE 0 END) AS deaths,
      |    SUM(CASE WHEN death THEN 0 ELSE 1 END) AS censored
      |  FROM per_user GROUP BY t_hours
      |), risk AS (
      |  SELECT t_hours, deaths, censored,
      |    SUM(n) OVER (ORDER BY t_hours DESC) AS at_risk
      |  FROM lifetable
      |)
      |SELECT t_hours, CAST(at_risk AS BIGINT) AS at_risk,
      |  CAST(deaths AS BIGINT) AS deaths,
      |  CAST(censored AS BIGINT) AS censored,
      |  round(exp(CAST(SUM(CAST(
      |    ln(CAST(at_risk - deaths AS DOUBLE) / CAST(at_risk AS DOUBLE))
      |    AS DECIMAL(38,18))) OVER (ORDER BY t_hours) AS DOUBLE)), 6)
      |    AS survival
      |FROM risk
      |ORDER BY t_hours""".stripMargin

  /** §2.33bj — discrete-time hazard / Nelson–Aalen estimator over the
    * same 48 h time-to-conversion lifetable as [[qeSurvival]]: per
    * hour t the instantaneous conversion hazard h(t) = deaths/at-risk
    * (the probability a user who survived to t converts IN t — the
    * "when is intent hottest" curve a lifecycle team reads directly,
    * which S(t) only shows as slope), the cumulative hazard
    * H(t) = Σ h and the Nelson–Aalen survival exp(−H) — the
    * alternative estimator whose agreement with Kaplan–Meier is the
    * standard small-sample sanity check. Same scale shape as
    * qeSurvival: two combinable per-user aggregations collapse the
    * fact table; all windows run over the ≤ horizon+1-row lifetable.
    * h(t) divides exact longs; H(t) accumulates DECIMAL(38,18)-cast
    * terms so the sum is order-exact. */
  def qeHazard(spark: SparkSession, dir: String): DataFrame = {
    val events = Tables.load(spark, dir, "events")
    val firsts = events.groupBy("user_id")
      .agg(min(unix_micros(col("ts"))).as("__f"),
        min(when(col("event_type") === "purchase",
          unix_micros(col("ts")))).as("__p"))
    val horizon = 48L
    val perUser = firsts
      .withColumn("__th", expr("(__p - __f) div 3600000000"))
      .select(
        when(col("__p").isNotNull && col("__th") < horizon, col("__th"))
          .otherwise(lit(horizon)).as("t_hours"),
        (col("__p").isNotNull && col("__th") < horizon).as("__death"))
    val lifetable = perUser.groupBy("t_hours")
      .agg(count(lit(1)).as("__n"),
        sum(when(col("__death"), 1L).otherwise(0L)).as("deaths"))
    val hazard = col("deaths").cast("double") / col("at_risk").cast("double")
    val cumHazard = sum(hazard.cast("decimal(38,18)"))
      .over(Window.orderBy("t_hours")).cast("double")
    lifetable
      .withColumn("at_risk",
        sum(col("__n")).over(Window.orderBy(col("t_hours").desc)))
      .select(col("t_hours"), col("at_risk"), col("deaths"),
        round(hazard, 6).as("hazard"),
        round(cumHazard, 6).as("cum_hazard"),
        round(exp(-cumHazard), 6).as("s_nelson_aalen"))
      .orderBy("t_hours")
  }

  val qeHazardSql: String =
    """WITH f AS (
      |  SELECT user_id, MIN(epoch_us(ts)) AS fus,
      |    MIN(CASE WHEN event_type = 'purchase' THEN epoch_us(ts) END) AS pus
      |  FROM events GROUP BY user_id
      |), per_user AS (
      |  SELECT
      |    CASE WHEN pus IS NOT NULL AND (pus - fus) // 3600000000 < 48
      |         THEN (pus - fus) // 3600000000 ELSE 48 END AS t_hours,
      |    (pus IS NOT NULL AND (pus - fus) // 3600000000 < 48) AS death
      |  FROM f
      |), lifetable AS (
      |  SELECT t_hours, COUNT(*) AS n,
      |    SUM(CASE WHEN death THEN 1 ELSE 0 END) AS deaths
      |  FROM per_user GROUP BY t_hours
      |), risk AS (
      |  SELECT t_hours, deaths,
      |    SUM(n) OVER (ORDER BY t_hours DESC) AS at_risk
      |  FROM lifetable
      |), h AS (
      |  SELECT t_hours, at_risk, deaths,
      |    CAST(deaths AS DOUBLE) / CAST(at_risk AS DOUBLE) AS hz
      |  FROM risk
      |)
      |SELECT t_hours, CAST(at_risk AS BIGINT) AS at_risk,
      |  CAST(deaths AS BIGINT) AS deaths,
      |  round(hz, 6) AS hazard,
      |  round(CAST(SUM(CAST(hz AS DECIMAL(38,18)))
      |    OVER (ORDER BY t_hours) AS DOUBLE), 6) AS cum_hazard,
      |  round(exp(-CAST(SUM(CAST(hz AS DECIMAL(38,18)))
      |    OVER (ORDER BY t_hours) AS DOUBLE)), 6) AS s_nelson_aalen
      |FROM h
      |ORDER BY t_hours""".stripMargin

  /** §2.33i — time-spine gap fill: every (hour, event_type) cell over
    * the observed range, zero-filled where no events landed — the
    * densification step dashboards and downsampling need. The spine is
    * generated (1-row bounds → sequence → explode), never scanned:
    * at ANY data scale it is hours × types rows (a decade is ~88k
    * hours). The spine×types join rides a constant key so it plans as
    * a broadcast hash join, not a cartesian product. */
  def qeGapfill(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.load(spark, dir, "events")
    val spine = ev
      .agg(date_trunc("hour", min(col("ts"))).as("h0"),
        date_trunc("hour", max(col("ts"))).as("h1"))
      .select(explode(sequence(col("h0"), col("h1"),
        expr("INTERVAL 1 HOUR"))).as("hour"))
      .withColumn("__k", lit(1))
    val types = ev.select("event_type").distinct().withColumn("__k", lit(1))
    val counts = ev
      .groupBy(date_trunc("hour", col("ts")).as("hour"), col("event_type"))
      .agg(count(lit(1)).as("n"))
    spine.join(broadcast(types), "__k")
      .join(counts, Seq("hour", "event_type"), "left_outer")
      .select(col("hour"), col("event_type"),
        coalesce(col("n"), lit(0L)).as("n_events"))
      .orderBy("hour", "event_type")
  }

  val qeGapfillSql: String =
    """WITH bounds AS (
      |  SELECT date_trunc('hour', MIN(CAST(ts AS TIMESTAMP))) AS h0,
      |         date_trunc('hour', MAX(CAST(ts AS TIMESTAMP))) AS h1
      |  FROM events),
      |spine AS (
      |  SELECT unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS hour
      |  FROM bounds),
      |types AS (SELECT DISTINCT event_type FROM events),
      |counts AS (
      |  SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS hour,
      |    event_type, COUNT(*) AS n
      |  FROM events GROUP BY 1, 2)
      |SELECT s.hour, t.event_type, CAST(COALESCE(c.n, 0) AS BIGINT) AS n_events
      |FROM spine s CROSS JOIN types t
      |LEFT JOIN counts c ON c.hour = s.hour AND c.event_type = t.event_type
      |ORDER BY s.hour, t.event_type""".stripMargin

  /** §2.33ba — seasonal-NAIVE (persistence) forecast backtest:
    * forecast each day's per-type volume as the volume 7 days earlier
    * and score it against the actuals — MAE and WAPE per event type.
    * The no-parameter floor that pairs with [[qeForecast]]'s TRAINED
    * (dow, hour)-profile backtest: profile beating naive means the
    * weekly profile carries real signal; naive beating profile means
    * the profile overfit its training days — a capacity planner reads
    * both tables before trusting either model for
    * deviation-from-forecast alerting.
    * The backtest runs on the zero-filled day×type
    * grid (same spine discipline as 33i — an outage day must score as
    * a miss, not vanish from the frame); the fact table collapses to
    * its daily histogram first, the lag-7 window runs over ≤ days
    * rows per type, and every statistic is integer until the two
    * final divisions. */
  def qeForecastEval(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.load(spark, dir, "events")
    val spine = ev
      .agg(to_date(min(col("ts"))).as("d0"), to_date(max(col("ts"))).as("d1"))
      .select(explode(sequence(col("d0"), col("d1"),
        expr("INTERVAL 1 DAY"))).as("day"))
      .withColumn("__k", lit(1))
    val types = ev.select("event_type").distinct().withColumn("__k", lit(1))
    val counts = ev
      .groupBy(to_date(col("ts")).as("day"), col("event_type"))
      .agg(count(lit(1)).as("n"))
    val grid = spine.join(broadcast(types), "__k")
      .join(counts, Seq("day", "event_type"), "left_outer")
      .select(col("day"), col("event_type"),
        coalesce(col("n"), lit(0L)).as("actual"))
    val wl = Window.partitionBy("event_type").orderBy("day")
    grid.withColumn("forecast", lag(col("actual"), 7).over(wl))
      .where(col("forecast").isNotNull)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_days_scored"),
        sum(abs(col("actual") - col("forecast"))).as("abs_err_total"),
        sum(col("actual")).as("actual_total"),
        round(sum(abs(col("actual") - col("forecast"))).cast("double") /
          count(lit(1)), 6).as("mae"),
        // NULL (not Infinity) when the scored span has zero actuals —
        // matches DuckDB's x/0 → NULL so the oracle compare cannot
        // diverge on an all-quiet event type.
        when(sum(col("actual")) > 0,
          round(sum(abs(col("actual") - col("forecast"))).cast("double") /
            sum(col("actual")), 6)).as("wape"))
      .orderBy("event_type")
  }

  val qeForecastEvalSql: String =
    """WITH bounds AS (
      |  SELECT CAST(MIN(CAST(ts AS TIMESTAMP)) AS DATE) AS d0,
      |         CAST(MAX(CAST(ts AS TIMESTAMP)) AS DATE) AS d1
      |  FROM events),
      |spine AS (
      |  SELECT CAST(unnest(generate_series(CAST(d0 AS TIMESTAMP),
      |    CAST(d1 AS TIMESTAMP), INTERVAL 1 DAY)) AS DATE) AS day
      |  FROM bounds),
      |types AS (SELECT DISTINCT event_type FROM events),
      |counts AS (
      |  SELECT CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day, event_type,
      |    COUNT(*) AS n
      |  FROM events GROUP BY 1, 2),
      |grid AS (
      |  SELECT s.day, t.event_type, COALESCE(c.n, 0) AS actual
      |  FROM spine s CROSS JOIN types t
      |  LEFT JOIN counts c ON c.day = s.day AND c.event_type = t.event_type),
      |scored AS (
      |  SELECT event_type, actual,
      |    LAG(actual, 7) OVER (PARTITION BY event_type ORDER BY day)
      |      AS forecast
      |  FROM grid)
      |SELECT event_type, COUNT(*) AS n_days_scored,
      |  CAST(SUM(abs(actual - forecast)) AS BIGINT) AS abs_err_total,
      |  CAST(SUM(actual) AS BIGINT) AS actual_total,
      |  round(CAST(SUM(abs(actual - forecast)) AS DOUBLE) / COUNT(*), 6)
      |    AS mae,
      |  round(CAST(SUM(abs(actual - forecast)) AS DOUBLE) / SUM(actual), 6)
      |    AS wape
      |FROM scored
      |WHERE forecast IS NOT NULL
      |GROUP BY event_type
      |ORDER BY event_type""".stripMargin

  /** §2.33by — activation latency (time-to-Nth-event): per user, the
    * days between the FIRST event and the 10th, cohorted by the first
    * event's type — the "how long until a user is activated" funnel
    * metric, where retention (33c) asks IF users return and this asks
    * HOW FAST they compound. One window pass per user (row_number +
    * first_value over the same (user_id | ts, event_id) order — one
    * shuffle, no self-join), then a per-cohort rollup with exact
    * interpolated p50/p90 (`percentile` ≡ DuckDB `quantile_cont`; the
    * 100 TB swap-in is approx_percentile, same discipline as 19h).
    * Users with < 10 events never produce an rn=10 row and drop out by
    * construction — no sentinel handling. */
  def qeTimeToNth(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    Tables.load(spark, dir, "events")
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("__rn", row_number().over(w))
      .withColumn("__first_ts", first(col("ts")).over(w))
      .withColumn("cohort", first(col("event_type")).over(w))
      .where(col("__rn") === 10)
      .withColumn("__days",
        (unix_micros(col("ts")) - unix_micros(col("__first_ts")))
          .cast("double") / lit(86400000000.0))
      .groupBy("cohort")
      .agg(count(lit(1)).as("n_users"),
        round(avg(col("__days")), 6).as("avg_days"),
        expr("percentile(__days, array(0.5D, 0.9D))").as("__p"))
      .select(col("cohort"), col("n_users"), col("avg_days"),
        round(element_at(col("__p"), 1), 6).as("p50_days"),
        round(element_at(col("__p"), 2), 6).as("p90_days"))
      .orderBy("cohort")
  }

  val qeTimeToNthSql: String =
    """WITH r AS (
      |  SELECT user_id, event_type, CAST(ts AS TIMESTAMP) AS ts,
      |    ROW_NUMBER() OVER w AS rn,
      |    first_value(CAST(ts AS TIMESTAMP)) OVER w AS first_ts,
      |    first_value(event_type) OVER w AS cohort
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
      |), t AS (
      |  SELECT cohort,
      |    CAST(epoch_us(ts) - epoch_us(first_ts) AS DOUBLE)
      |      / 86400000000.0 AS days
      |  FROM r WHERE rn = 10
      |)
      |SELECT cohort, COUNT(*) AS n_users,
      |  round(AVG(days), 6) AS avg_days,
      |  round(quantile_cont(days, 0.5), 6) AS p50_days,
      |  round(quantile_cont(days, 0.9), 6) AS p90_days
      |FROM t GROUP BY cohort ORDER BY cohort""".stripMargin

  /** §2.33bz — split-conformal prediction band for the seasonal-naive
    * daily-volume forecast: 33i scores POINT error (MAE/WAPE); this
    * attaches a distribution-free INTERVAL with a finite-sample
    * guarantee. Per event type on the zero-filled day grid: the first
    * 14 scoreable days (day index 8–21) are the calibration split, the
    * band half-width is the ⌈(n+1)·0.9⌉-th smallest absolute residual
    * (an exact order statistic — rank 14 of 14 here, no interpolation,
    * so both engines pick the identical value), and every later day is
    * the test split where empirical coverage of forecast ± q̂ is
    * measured — split conformal's ≥ 90% marginal-coverage guarantee
    * holds for ANY forecaster, which is the point: the band is model-
    * agnostic infrastructure. A type whose calibration split has fewer
    * than ⌈(n+1)·0.9⌉ residuals would need an infinite band and drops
    * via the inner join (cannot happen on the shared spine, where every
    * type scores all 14 days). Scale: windows partition by type, the
    * rank select and rollups are per-type aggregates over the collapsed
    * ≤ types×days grid. */
  def qeConformal(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.load(spark, dir, "events")
    val spine = ev
      .agg(to_date(min(col("ts"))).as("d0"), to_date(max(col("ts"))).as("d1"))
      .select(explode(sequence(col("d0"), col("d1"),
        expr("INTERVAL 1 DAY"))).as("day"))
      .withColumn("__k", lit(1))
    val types = ev.select("event_type").distinct().withColumn("__k", lit(1))
    val counts = ev
      .groupBy(to_date(col("ts")).as("day"), col("event_type"))
      .agg(count(lit(1)).as("n"))
    val wl = Window.partitionBy("event_type").orderBy("day")
    val scored = spine.join(broadcast(types), "__k")
      .join(counts, Seq("day", "event_type"), "left_outer")
      .select(col("day"), col("event_type"),
        coalesce(col("n"), lit(0L)).as("actual"))
      .withColumn("forecast", lag(col("actual"), 7).over(wl))
      .withColumn("__idx", row_number().over(wl))
      .where(col("forecast").isNotNull)
    val wr = Window.partitionBy("event_type")
      .orderBy(abs(col("actual") - col("forecast")), col("day"))
    val qhat = scored.where(col("__idx").between(8, 21))
      .withColumn("__rk", row_number().over(wr))
      .withColumn("__n_cal",
        count(lit(1)).over(Window.partitionBy("event_type")))
      .where(col("__rk") ===
        ceil((col("__n_cal") + lit(1)).cast("double") * lit(0.9)).cast("int"))
      .select(col("event_type"), col("__n_cal").as("n_cal"),
        abs(col("actual") - col("forecast")).cast("double").as("qhat"))
    scored.where(col("__idx") >= 22)
      .join(qhat, "event_type")
      .groupBy("event_type")
      .agg(max(col("n_cal")).as("n_cal"), max(col("qhat")).as("qhat"),
        count(lit(1)).as("n_test"),
        sum(when(col("actual").cast("double")
            .between(col("forecast").cast("double") - col("qhat"),
              col("forecast").cast("double") + col("qhat")), 1L)
          .otherwise(0L)).as("n_covered"))
      .withColumn("coverage", round(
        col("n_covered").cast("double") / col("n_test").cast("double"), 6))
      .select(col("event_type"), col("n_cal"), col("qhat"), col("n_test"),
        col("n_covered"), col("coverage"))
      .orderBy("event_type")
  }

  val qeConformalSql: String =
    """WITH bounds AS (
      |  SELECT CAST(MIN(CAST(ts AS TIMESTAMP)) AS DATE) AS d0,
      |         CAST(MAX(CAST(ts AS TIMESTAMP)) AS DATE) AS d1
      |  FROM events),
      |spine AS (
      |  SELECT CAST(unnest(generate_series(CAST(d0 AS TIMESTAMP),
      |    CAST(d1 AS TIMESTAMP), INTERVAL 1 DAY)) AS DATE) AS day
      |  FROM bounds),
      |types AS (SELECT DISTINCT event_type FROM events),
      |counts AS (
      |  SELECT CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day, event_type,
      |    COUNT(*) AS n
      |  FROM events GROUP BY 1, 2),
      |grid AS (
      |  SELECT s.day, t.event_type, COALESCE(c.n, 0) AS actual
      |  FROM spine s CROSS JOIN types t
      |  LEFT JOIN counts c ON c.day = s.day AND c.event_type = t.event_type),
      |scored AS (
      |  SELECT event_type, day, actual,
      |    LAG(actual, 7) OVER w AS forecast,
      |    ROW_NUMBER() OVER w AS idx
      |  FROM grid
      |  WINDOW w AS (PARTITION BY event_type ORDER BY day)),
      |cal AS (
      |  SELECT event_type, day, abs(actual - forecast) AS r,
      |    ROW_NUMBER() OVER (PARTITION BY event_type
      |      ORDER BY abs(actual - forecast), day) AS rk,
      |    COUNT(*) OVER (PARTITION BY event_type) AS n_cal
      |  FROM scored WHERE forecast IS NOT NULL AND idx BETWEEN 8 AND 21),
      |qhat AS (
      |  SELECT event_type, n_cal, CAST(r AS DOUBLE) AS qhat
      |  FROM cal
      |  WHERE rk = CAST(ceil(CAST(n_cal + 1 AS DOUBLE) * 0.9) AS INT))
      |SELECT s.event_type, MAX(q.n_cal) AS n_cal, MAX(q.qhat) AS qhat,
      |  COUNT(*) AS n_test,
      |  CAST(SUM(CASE WHEN CAST(s.actual AS DOUBLE)
      |    BETWEEN CAST(s.forecast AS DOUBLE) - q.qhat
      |        AND CAST(s.forecast AS DOUBLE) + q.qhat
      |    THEN 1 ELSE 0 END) AS BIGINT) AS n_covered,
      |  round(CAST(SUM(CASE WHEN CAST(s.actual AS DOUBLE)
      |    BETWEEN CAST(s.forecast AS DOUBLE) - q.qhat
      |        AND CAST(s.forecast AS DOUBLE) + q.qhat
      |    THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*), 6) AS coverage
      |FROM scored s JOIN qhat q ON s.event_type = q.event_type
      |WHERE s.forecast IS NOT NULL AND s.idx >= 22
      |GROUP BY s.event_type
      |ORDER BY s.event_type""".stripMargin

  /** §2.33cb — rolling inter-metric correlation: the trailing-14-day
    * Pearson correlation between the click and error daily volumes on
    * the observed day series — the ops "coupling monitor" (errors that
    * track traffic are load-shaped; decoupling marks an incident or a
    * release). 33s (xcorr) scores ONE global correlation per lag; this
    * tracks WHEN the relationship holds, day by day. All five window
    * sums are integer-exact (counts and their products summed as
    * BIGINT), cast to double only inside the final closed form; the
    * zero-variance guard follows the house ANSI rule (`when(var > 0)`
    * ↔ `CASE WHEN`). Windows run over the collapsed day-level frame
    * (≤ days rows at any corpus scale; every day in this corpus has
    * click traffic — compose with 33h's gapfill spine first for
    * sparse series, where a missing day should count as zero). */
  def qeRollingCorr(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.load(spark, dir, "events")
    val pair = ev
      .where(col("event_type").isin("click", "error"))
      .groupBy(to_date(col("ts")).as("day"))
      .agg(
        sum(when(col("event_type") === "click", 1L).otherwise(0L)).as("x"),
        sum(when(col("event_type") === "error", 1L).otherwise(0L)).as("y"))
    val win = Window.orderBy("day").rowsBetween(-13, 0)
    val n = lit(14.0)
    val scored = pair
      .withColumn("__rn", row_number().over(Window.orderBy("day")))
      .withColumn("sx", sum(col("x")).over(win).cast("double"))
      .withColumn("sy", sum(col("y")).over(win).cast("double"))
      .withColumn("sxy", sum(col("x") * col("y")).over(win).cast("double"))
      .withColumn("sxx", sum(col("x") * col("x")).over(win).cast("double"))
      .withColumn("syy", sum(col("y") * col("y")).over(win).cast("double"))
      .where(col("__rn") >= 14)
      .withColumn("__v", (n * col("sxx") - col("sx") * col("sx"))
        * (n * col("syy") - col("sy") * col("sy")))
    scored.select(col("day"),
      when(col("__v") > 0,
        round((n * col("sxy") - col("sx") * col("sy")) / sqrt(col("__v")), 6))
        .as("corr_14d"))
      .orderBy("day")
  }

  val qeRollingCorrSql: String =
    """WITH pair AS (
      |  SELECT CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
      |    CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
      |      AS BIGINT) AS x,
      |    CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
      |      AS BIGINT) AS y
      |  FROM events WHERE event_type IN ('click', 'error')
      |  GROUP BY 1
      |), w AS (
      |  SELECT day,
      |    ROW_NUMBER() OVER (ORDER BY day) AS rn,
      |    CAST(SUM(x) OVER win AS DOUBLE) AS sx,
      |    CAST(SUM(y) OVER win AS DOUBLE) AS sy,
      |    CAST(SUM(x * y) OVER win AS DOUBLE) AS sxy,
      |    CAST(SUM(x * x) OVER win AS DOUBLE) AS sxx,
      |    CAST(SUM(y * y) OVER win AS DOUBLE) AS syy
      |  FROM pair
      |  WINDOW win AS (ORDER BY day ROWS BETWEEN 13 PRECEDING AND CURRENT ROW)
      |)
      |SELECT day,
      |  CASE WHEN (14.0 * sxx - sx * sx) * (14.0 * syy - sy * sy) > 0
      |    THEN round((14.0 * sxy - sx * sy)
      |      / sqrt((14.0 * sxx - sx * sx) * (14.0 * syy - sy * sy)), 6)
      |  END AS corr_14d
      |FROM w
      |WHERE rn >= 14
      |ORDER BY day""".stripMargin

  /** §2.33j — hourly volume anomaly detection: z-score outliers on the
    * GAP-FILLED (hour, event_type) grid — zero-filled hours are exactly
    * why the spine matters (an outage hour scores as an outlier instead
    * of silently missing from the grouped frame). Composition of
    * [[qeGapfill]] and [[graft.rules.Profiler.zOutliers]]'s decimal-
    * exact moments; the stats side is per-type (5 rows), broadcast. */
  def qeAnomalyHours(spark: SparkSession, dir: String): DataFrame =
    graft.rules.Profiler.zOutliers(qeGapfill(spark, dir).drop("__k"),
      "n_events", Seq("event_type"), 2.0)
      .select("hour", "event_type", "n_events", "z_score")
      .orderBy("event_type", "hour")

  private val gapfillGridSql: String =
    """bounds AS (
      |  SELECT date_trunc('hour', MIN(CAST(ts AS TIMESTAMP))) AS h0,
      |         date_trunc('hour', MAX(CAST(ts AS TIMESTAMP))) AS h1
      |  FROM events),
      |spine AS (
      |  SELECT unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS hour
      |  FROM bounds),
      |types AS (SELECT DISTINCT event_type FROM events),
      |counts AS (
      |  SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS hour,
      |    event_type, COUNT(*) AS n
      |  FROM events GROUP BY 1, 2),
      |grid AS (
      |  SELECT s.hour, t.event_type, CAST(COALESCE(c.n, 0) AS BIGINT) AS n_events
      |  FROM spine s CROSS JOIN types t
      |  LEFT JOIN counts c ON c.hour = s.hour AND c.event_type = t.event_type)""".stripMargin

  val qeAnomalyHoursSql: String =
    s"""WITH $gapfillGridSql,
       |m AS (
       |  SELECT event_type, COUNT(*) AS n,
       |    CAST(CAST(SUM(CAST(n_events AS DECIMAL(18,4))) AS DECIMAL(38,4)) AS DOUBLE) AS s,
       |    CAST(SUM(CAST(c * c AS DECIMAL(38,0))) AS DOUBLE) AS q2
       |  FROM (SELECT event_type, n_events,
       |          CAST(CAST(n_events AS DECIMAL(18,2)) * 100 AS BIGINT) AS c
       |        FROM grid)
       |  GROUP BY event_type)
       |SELECT g.hour, g.event_type, g.n_events,
       |  round((g.n_events - m.s / m.n)
       |    / sqrt(m.q2 / 1.0e4 / m.n - (m.s / m.n) * (m.s / m.n)), 6) AS z_score
       |FROM grid g JOIN m USING (event_type)
       |WHERE abs(round((g.n_events - m.s / m.n)
       |    / sqrt(m.q2 / 1.0e4 / m.n - (m.s / m.n) * (m.s / m.n)), 6)) >= 2.0
       |ORDER BY event_type, hour""".stripMargin

  /** §2.33ca — alert episodes with hysteresis (debounce): turns 33j's
    * per-hour anomaly FLAGS into the alert EPISODES an on-call rotation
    * actually pages on. Raw flags flap; the operational rule here:
    * an episode opens only on ≥ 2 consecutive anomalous hours (single-
    * hour blips are absorbed silently — neither page nor close), and
    * closes only after a quiet run of ≥ 3 hours (shorter quiet gaps
    * keep the episode open, merging adjacent bursts). Two
    * gaps-and-islands layers: hour-level runs via the rn − rn-by-flag
    * difference, then run-level episode ids as a running count of
    * closing-quiet barriers. Everything happens on the collapsed
    * types×hours grid (windows partitioned per type) — the raw event
    * table is touched once by the 33j composition. */
  def qeAlertEpisodes(spark: SparkSession, dir: String): DataFrame = {
    val grid = qeGapfill(spark, dir).drop("__k")
    val out = graft.rules.Profiler
      .zOutliers(grid, "n_events", Seq("event_type"), 2.0)
      .select(col("hour"), col("event_type"),
        abs(round(col("z_score"), 6)).as("__az"))
    val flagged = grid.join(out, Seq("hour", "event_type"), "left_outer")
      .withColumn("__flag", col("__az").isNotNull.cast("int"))
    val wAll = Window.partitionBy("event_type").orderBy("hour")
    val wFlag = Window.partitionBy("event_type", "__flag").orderBy("hour")
    val runs = flagged
      .withColumn("__run",
        row_number().over(wAll) - row_number().over(wFlag))
      .groupBy("event_type", "__flag", "__run")
      .agg(min("hour").as("run_start"), max("hour").as("run_end"),
        count(lit(1)).as("run_len"), max("__az").as("run_peak"))
    val wRun = Window.partitionBy("event_type").orderBy("run_start")
    runs
      .withColumn("__ep", sum(when(col("__flag") === 0 &&
        col("run_len") >= 3, 1L).otherwise(0L)).over(wRun))
      .where(col("__flag") === 1 && col("run_len") >= 2)
      .groupBy("event_type", "__ep")
      .agg(min("run_start").as("start_hour"), max("run_end").as("end_hour"),
        sum("run_len").as("flagged_hours"),
        count(lit(1)).cast("long").as("n_bursts"),
        max("run_peak").as("peak_abs_z"))
      .withColumn("episode", row_number().over(
        Window.partitionBy("event_type").orderBy("start_hour")))
      .withColumn("span_hours",
        ((unix_micros(col("end_hour")) - unix_micros(col("start_hour")))
          / lit(3600000000L)).cast("long") + 1)
      .select(col("event_type"), col("episode"), col("start_hour"),
        col("end_hour"), col("span_hours"), col("flagged_hours"),
        col("n_bursts"), col("peak_abs_z"))
      .orderBy("event_type", "episode")
  }

  val qeAlertEpisodesSql: String =
    s"""WITH $gapfillGridSql,
       |m AS (
       |  SELECT event_type, COUNT(*) AS n,
       |    CAST(CAST(SUM(CAST(n_events AS DECIMAL(18,4))) AS DECIMAL(38,4)) AS DOUBLE) AS s,
       |    CAST(SUM(CAST(c * c AS DECIMAL(38,0))) AS DOUBLE) AS q2
       |  FROM (SELECT event_type, n_events,
       |          CAST(CAST(n_events AS DECIMAL(18,2)) * 100 AS BIGINT) AS c
       |        FROM grid)
       |  GROUP BY event_type),
       |oz AS (
       |  SELECT g.hour, g.event_type,
       |    abs(round((g.n_events - m.s / m.n)
       |      / sqrt(m.q2 / 1.0e4 / m.n - (m.s / m.n) * (m.s / m.n)), 6)) AS az
       |  FROM grid g JOIN m USING (event_type)
       |  WHERE abs(round((g.n_events - m.s / m.n)
       |      / sqrt(m.q2 / 1.0e4 / m.n - (m.s / m.n) * (m.s / m.n)), 6)) >= 2.0),
       |f AS (
       |  SELECT g.hour, g.event_type,
       |    CASE WHEN oz.hour IS NOT NULL THEN 1 ELSE 0 END AS flag, oz.az
       |  FROM grid g LEFT JOIN oz USING (hour, event_type)),
       |r AS (
       |  SELECT event_type, flag, az, hour,
       |    ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY hour)
       |      - ROW_NUMBER() OVER (PARTITION BY event_type, flag
       |          ORDER BY hour) AS run
       |  FROM f),
       |runs AS (
       |  SELECT event_type, flag, run, MIN(hour) AS run_start,
       |    MAX(hour) AS run_end, COUNT(*) AS run_len, MAX(az) AS run_peak
       |  FROM r GROUP BY 1, 2, 3),
       |e AS (
       |  SELECT *, SUM(CASE WHEN flag = 0 AND run_len >= 3 THEN 1 ELSE 0 END)
       |    OVER (PARTITION BY event_type ORDER BY run_start) AS ep
       |  FROM runs),
       |g2 AS (
       |  SELECT event_type, ep, MIN(run_start) AS start_hour,
       |    MAX(run_end) AS end_hour,
       |    CAST(SUM(run_len) AS BIGINT) AS flagged_hours,
       |    CAST(COUNT(*) AS BIGINT) AS n_bursts,
       |    MAX(run_peak) AS peak_abs_z
       |  FROM e WHERE flag = 1 AND run_len >= 2 GROUP BY 1, 2)
       |SELECT event_type,
       |  CAST(ROW_NUMBER() OVER (PARTITION BY event_type
       |    ORDER BY start_hour) AS INT) AS episode,
       |  start_hour, end_hour,
       |  CAST((epoch_us(end_hour) - epoch_us(start_hour)) / 3600000000
       |    AS BIGINT) + 1 AS span_hours,
       |  flagged_hours, n_bursts, peak_abs_z
       |FROM g2
       |ORDER BY event_type, episode""".stripMargin

  /** §2.33k — inter-arrival gap statistics: time between consecutive
    * events of the same (user, event_type), rolled up per type as
    * count / mean / exact p50 / p90 seconds (the cadence profile that
    * drives session-gap and watermark tuning). The lag window is
    * partitioned by (user, type) — parallel across users at any scale —
    * and the percentile aggregation is the one shuffle; gaps stay
    * integer MICROS until the final divide so the float work is one
    * division + interpolation per group (approx_percentile is the
    * documented swap-in when per-group value maps stop fitting). */
  def qeInterarrival(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id", "event_type")
      .orderBy("ts", "event_id")
    Tables.load(spark, dir, "events")
      .select(col("event_type"), col("event_id"),
        (unix_micros(col("ts")) -
          unix_micros(lag(col("ts"), 1).over(w))).as("gap_us"))
      .where(col("gap_us").isNotNull)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_gaps"),
        round(sum(col("gap_us")).cast("double") / count(lit(1)) / 1.0e6, 6)
          .as("avg_gap_s"),
        expr("percentile(gap_us, array(0.5D, 0.9D))").as("__p"))
      .select(col("event_type"), col("n_gaps"), col("avg_gap_s"),
        round(element_at(col("__p"), 1) / 1.0e6, 6).as("p50_gap_s"),
        round(element_at(col("__p"), 2) / 1.0e6, 6).as("p90_gap_s"))
      .orderBy("event_type")
  }

  val qeInterarrivalSql: String =
    """WITH g AS (
      |  SELECT event_type,
      |    epoch_us(ts) - lag(epoch_us(ts)) OVER (
      |      PARTITION BY user_id, event_type ORDER BY ts, event_id) AS gap_us
      |  FROM events
      |)
      |SELECT event_type, COUNT(*) AS n_gaps,
      |  round(CAST(SUM(gap_us) AS DOUBLE) / COUNT(*) / 1.0e6, 6) AS avg_gap_s,
      |  round(quantile_cont(gap_us, 0.5) / 1.0e6, 6) AS p50_gap_s,
      |  round(quantile_cont(gap_us, 0.9) / 1.0e6, 6) AS p90_gap_s
      |FROM g WHERE gap_us IS NOT NULL
      |GROUP BY event_type
      |ORDER BY event_type""".stripMargin

  /** §2.33l — Markov event-transition matrix: counts and row-normalized
    * probabilities of each (event_type → next event_type) step along
    * every user's time-ordered stream. One lead window parallel across
    * users + a 25-cell aggregation; the per-from-type normalization is
    * a window over the tiny transition frame (|types|² rows at ANY
    * scale), never the event stream. The behavioural fingerprint that
    * drives next-event prediction baselines and bot detection (uniform
    * rows ⇒ no structure). */
  def qeTransitions(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    val byFrom = Window.partitionBy("from_type")
    Tables.load(spark, dir, "events")
      .select(col("user_id"), col("ts"), col("event_id"),
        col("event_type").as("from_type"))
      .withColumn("to_type", lead(col("from_type"), 1).over(w))
      .where(col("to_type").isNotNull)
      .groupBy("from_type", "to_type")
      .agg(count(lit(1)).as("n_trans"))
      .withColumn("p_trans",
        round(col("n_trans") / sum(col("n_trans")).over(byFrom), 6))
      .orderBy("from_type", "to_type")
  }

  val qeTransitionsSql: String =
    """WITH l AS (
      |  SELECT event_type AS from_type,
      |    lead(event_type) OVER (
      |      PARTITION BY user_id ORDER BY ts, event_id) AS to_type
      |  FROM events
      |), c AS (
      |  SELECT from_type, to_type, COUNT(*) AS n_trans
      |  FROM l WHERE to_type IS NOT NULL GROUP BY 1, 2
      |)
      |SELECT from_type, to_type, n_trans,
      |  round(n_trans / SUM(n_trans) OVER (PARTITION BY from_type), 6) AS p_trans
      |FROM c ORDER BY from_type, to_type""".stripMargin

  /** §2.33bc — audience-overlap matrix: Jaccard similarity between the
    * USER SETS of every event-type pair (|users_a ∩ users_b| /
    * |users_a ∪ users_b|) — the product-analytics read of whether two
    * features share an audience or split it (near 1: same users do
    * both; near 0: disjoint populations — bundling, cross-promotion
    * and cannibalization calls all start here). The fact table
    * collapses to the DISTINCT (type, user) frame first; the pair
    * intersection is a self-join on user over that collapsed frame
    * (≤ |types| fan-out per user), and union sizes come from the
    * ≤ |types| per-type distinct counts by inclusion-exclusion —
    * user sets themselves never materialize per pair. */
  def qeAudienceOverlap(spark: SparkSession, dir: String): DataFrame = {
    val tu = Tables.load(spark, dir, "events")
      .select(col("event_type"), col("user_id")).distinct()
    val sizes = tu.groupBy(col("event_type")).agg(count(lit(1)).as("n_users"))
    val inter = tu.toDF("type_a", "user_id")
      .join(tu.toDF("type_b", "user_id"), "user_id")
      .where(col("type_a") < col("type_b"))
      .groupBy("type_a", "type_b")
      .agg(count(lit(1)).as("n_both"))
    inter
      .join(broadcast(sizes.toDF("type_a", "n_a")), "type_a")
      .join(broadcast(sizes.toDF("type_b", "n_b")), "type_b")
      .select(col("type_a"), col("type_b"), col("n_a"), col("n_b"),
        col("n_both"),
        round(col("n_both").cast("double") /
          (col("n_a") + col("n_b") - col("n_both")).cast("double"), 6)
          .as("audience_jaccard"))
      .orderBy("type_a", "type_b")
  }

  val qeAudienceOverlapSql: String =
    """WITH tu AS (
      |  SELECT DISTINCT event_type, user_id FROM events
      |), sizes AS (
      |  SELECT event_type, COUNT(*) AS n_users FROM tu GROUP BY 1
      |), inter AS (
      |  SELECT a.event_type AS type_a, b.event_type AS type_b,
      |    COUNT(*) AS n_both
      |  FROM tu a JOIN tu b
      |    ON a.user_id = b.user_id AND a.event_type < b.event_type
      |  GROUP BY 1, 2
      |)
      |SELECT i.type_a, i.type_b, sa.n_users AS n_a, sb.n_users AS n_b,
      |  i.n_both,
      |  round(CAST(i.n_both AS DOUBLE)
      |    / CAST(sa.n_users + sb.n_users - i.n_both AS DOUBLE), 6)
      |    AS audience_jaccard
      |FROM inter i
      |JOIN sizes sa ON sa.event_type = i.type_a
      |JOIN sizes sb ON sb.event_type = i.type_b
      |ORDER BY type_a, type_b""".stripMargin

  /** §2.33bb — sequential-pattern (trigram) mining with independence
    * lift: the top-10 in-user event-type trigrams by support, each
    * scored against its expected count under the independence null
    * (N_tri · p(a)·p(b)·p(c) from the global type distribution) — the
    * step beyond 33l's first-order transitions that surfaces true
    * three-step FLOWS (browse→cart→purchase) vs sequences frequent
    * only because their parts are. High-support low-lift trigrams are
    * popularity artifacts; high-lift ones are the funnels worth
    * instrumenting. One per-user lead window (shared sort for both
    * leads), then rollups on frames bounded by |types|³; lift terms
    * are products of exact integer ratios, computed once as doubles
    * from the same expression tree in both engines. */
  def qeTrigrams(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    val ev = Tables.load(spark, dir, "events")
      .select(col("user_id"), col("ts"), col("event_id"),
        col("event_type").as("t1"))
    val tri = ev
      .withColumn("t2", lead(col("t1"), 1).over(w))
      .withColumn("t3", lead(col("t1"), 2).over(w))
      .where(col("t3").isNotNull)
      .groupBy("t1", "t2", "t3")
      .agg(count(lit(1)).as("n_obs"))
    val typeDist = Tables.load(spark, dir, "events")
      .groupBy(col("event_type")).agg(count(lit(1)).as("n_type"))
    val total = typeDist.agg(sum("n_type").as("n_events"))
    val nTri = tri.agg(sum("n_obs").as("n_tri"))
    val p = typeDist.join(broadcast(total))
      .select(col("event_type"),
        (col("n_type").cast("double") / col("n_events")).as("p"))
    tri
      .join(broadcast(p.select(col("event_type").as("t1"), col("p").as("p1"))), "t1")
      .join(broadcast(p.select(col("event_type").as("t2"), col("p").as("p2"))), "t2")
      .join(broadcast(p.select(col("event_type").as("t3"), col("p").as("p3"))), "t3")
      .join(broadcast(nTri))
      .select(col("t1"), col("t2"), col("t3"), col("n_obs"),
        round(col("n_tri") * col("p1") * col("p2") * col("p3"), 6)
          .as("n_expected"),
        round(col("n_obs") /
          (col("n_tri") * col("p1") * col("p2") * col("p3")), 6).as("lift"))
      .orderBy(col("n_obs").desc, col("t1"), col("t2"), col("t3"))
      .limit(10)
  }

  val qeTrigramsSql: String =
    """WITH l AS (
      |  SELECT event_type AS t1,
      |    lead(event_type, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS t2,
      |    lead(event_type, 2) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS t3
      |  FROM events
      |), tri AS (
      |  SELECT t1, t2, t3, COUNT(*) AS n_obs
      |  FROM l WHERE t3 IS NOT NULL GROUP BY 1, 2, 3
      |), td AS (
      |  SELECT event_type, COUNT(*) AS n_type FROM events GROUP BY 1
      |), tot AS (SELECT SUM(n_type) AS n_events FROM td
      |), nt AS (SELECT SUM(n_obs) AS n_tri FROM tri
      |), p AS (
      |  SELECT event_type, n_type::DOUBLE / t.n_events AS p FROM td, tot t
      |)
      |SELECT t1, t2, t3, n_obs,
      |  round(n.n_tri * p1.p * p2.p * p3.p, 6) AS n_expected,
      |  round(n_obs / (n.n_tri * p1.p * p2.p * p3.p), 6) AS lift
      |FROM tri
      |JOIN p p1 ON p1.event_type = tri.t1
      |JOIN p p2 ON p2.event_type = tri.t2
      |JOIN p p3 ON p3.event_type = tri.t3
      |CROSS JOIN nt n
      |ORDER BY n_obs DESC, t1, t2, t3
      |LIMIT 10""".stripMargin

  /** §2.33m — burst (rate-spike) detection: events that are the 3rd in
    * ≤ 60 minutes for their user, i.e. `ts - lag(ts, 2) ≤ 1h` — the
    * exact sliding-count trigger, as ONE lag window parallel across
    * users (no self-join, no range join; the k-th-previous-timestamp
    * trick turns "≥ k events in any W window" into a per-row
    * predicate). Gaps stay integer micros. The abuse/bot-rate-limit
    * monitor; per-user rollup output. */
  def qeBursts(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    Tables.load(spark, dir, "events")
      .withColumn("__p2", lag(col("ts"), 2).over(w))
      .where(col("__p2").isNotNull &&
        unix_micros(col("ts")) - unix_micros(col("__p2")) <= 3600000000L)
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_bursts"),
        min(col("ts")).as("first_burst"), max(col("ts")).as("last_burst"))
      .orderBy("user_id")
  }

  val qeBurstsSql: String =
    """WITH l AS (
      |  SELECT user_id, ts,
      |    lag(ts, 2) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS p2
      |  FROM events
      |)
      |SELECT user_id, COUNT(*) AS n_bursts,
      |  MIN(ts) AS first_burst, MAX(ts) AS last_burst
      |FROM l
      |WHERE p2 IS NOT NULL AND epoch_us(ts) - epoch_us(p2) <= 3600000000
      |GROUP BY user_id
      |ORDER BY user_id""".stripMargin

  /** §2.33ao — CUSUM level-shift detection over daily event volume:
    * cusum_t = Σ_{i≤t}(n_i − mean), the classic page-test statistic
    * whose |max| marks the most likely changepoint day. The fact table
    * collapses to one row per DAY first (one shuffle, exact integer
    * counts), so every window below runs over the tiny ≤ retention-days
    * frame — the unpartitioned ORDER BY window is intentional and
    * bounded. The statistic itself is computed on an INTEGER
    * numerator (run·n − t·total) — cross-engine float drift cannot
    * flip the argmax flag — and divided once for display. */
  def qeChangepoint(spark: SparkSession, dir: String): DataFrame = {
    val byDay = Window.orderBy("day")
    val whole = Window.orderBy("day")
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    Tables.load(spark, dir, "events")
      .groupBy(to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("n_events"))
      .withColumn("__run", sum(col("n_events")).over(byDay))
      .withColumn("__t", row_number().over(byDay))
      .withColumn("__total", sum(col("n_events")).over(whole))
      .withColumn("__n", count(lit(1)).over(whole))
      .withColumn("__num",
        col("__run") * col("__n") - col("__t") * col("__total"))
      .select(col("day"), col("n_events"),
        round(col("__num").cast("double") / col("__n"), 6).as("cusum"),
        (abs(col("__num")) === max(abs(col("__num"))).over(whole))
          .as("is_changepoint"))
      .orderBy("day")
  }

  val qeChangepointSql: String =
    """WITH d AS (
      |  SELECT CAST(ts AS DATE) AS day, COUNT(*) AS n_events
      |  FROM events GROUP BY 1
      |), s AS (
      |  SELECT day, n_events,
      |    SUM(n_events) OVER (ORDER BY day) AS run,
      |    ROW_NUMBER() OVER (ORDER BY day) AS t,
      |    SUM(n_events) OVER () AS total,
      |    COUNT(*) OVER () AS n
      |  FROM d
      |), x AS (
      |  SELECT day, n_events,
      |    CAST(run * n - t * total AS BIGINT) AS num,
      |    CAST(n AS BIGINT) AS n
      |  FROM s
      |)
      |SELECT day, n_events,
      |  round(CAST(num AS DOUBLE) / n, 6) AS cusum,
      |  abs(num) = MAX(abs(num)) OVER () AS is_changepoint
      |FROM x ORDER BY day""".stripMargin

  /** §2.33ap — automation/bot screening: per user with ≥ 20 inter-event
    * gaps, the coefficient of variation of those gaps. Human arrivals
    * are bursty (Poisson-ish, cv ≈ 1); schedulers and scripts are
    * metronomic (cv → 0), so cv < 0.8 flags suspicious regularity. One
    * lag window parallel across users, then a single groupBy whose
    * moments are EXACT integer/decimal sums (gap µs as long, squares
    * via DECIMAL(38,0)) — the flag comparison happens on doubles both
    * engines derive from identical exact sums, so it cannot flip
    * cross-engine. The variance is clamped at 0 before sqrt: a user
    * with perfectly equal gaps cancels to −ε in floats. */
  def qeBots(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    val mean = col("s1") / col("m")
    val variance = greatest(col("s2") / col("m") - mean * mean, lit(0.0))
    val cv = sqrt(variance) / mean
    Tables.load(spark, dir, "events")
      .select(col("user_id"),
        (unix_micros(col("ts")) -
          unix_micros(lag(col("ts"), 1).over(w))).as("d"))
      .where(col("d").isNotNull)
      .groupBy("user_id")
      .agg(count(lit(1)).as("m"),
        sum(col("d")).cast("double").as("s1"),
        sum(col("d").cast("decimal(19,0)") * col("d")).cast("double")
          .as("s2"))
      .where(col("m") >= 20)
      .select(col("user_id"), (col("m") + 1).as("n_events"),
        round(mean / 1.0e6, 6).as("avg_gap_s"),
        round(cv, 6).as("cv_gap"),
        (cv < 0.8).as("is_bot"))
      .orderBy("user_id")
  }

  val qeBotsSql: String =
    """WITH g AS (
      |  SELECT user_id,
      |    epoch_us(ts) - lag(epoch_us(ts)) OVER (
      |      PARTITION BY user_id ORDER BY ts, event_id) AS d
      |  FROM events
      |), s AS (
      |  SELECT user_id, COUNT(*) AS m,
      |    CAST(SUM(d) AS DOUBLE) AS s1,
      |    CAST(SUM(CAST(d AS DECIMAL(19,0)) * d) AS DOUBLE) AS s2
      |  FROM g WHERE d IS NOT NULL GROUP BY user_id
      |)
      |SELECT user_id, CAST(m + 1 AS BIGINT) AS n_events,
      |  round(s1 / m / 1.0e6, 6) AS avg_gap_s,
      |  round(sqrt(greatest(s2 / m - (s1 / m) * (s1 / m), 0.0)) / (s1 / m), 6)
      |    AS cv_gap,
      |  sqrt(greatest(s2 / m - (s1 / m) * (s1 / m), 0.0)) / (s1 / m) < 0.8
      |    AS is_bot
      |FROM s WHERE m >= 20 ORDER BY user_id""".stripMargin

  /** §2.33n — exponentially time-decayed engagement score per user:
    * Σ value·e^(−0.1·age_days), age relative to the corpus max event
    * time (one 1-row aggregate broadcast via cross join — never a
    * window over the fact table). The recency-weighted ranking signal
    * behind trending/engagement feeds. Float accumulation order is
    * pinned by a deterministic TWO-LEVEL fold (Portable rule 2: float
    * SUM over rows has nondeterministic accumulation order in a
    * distributed engine): first fold per (user, day) over the
    * (event_id, wv)-sorted in-day array — bounded by one day of one
    * user's activity, never full history — then fold per user over the
    * day-sorted subtotals, bounded by the retention window. The sort
    * key includes wv so duplicate event_ids cannot make the fold order
    * (and the 6-dp result) engine-dependent; the oracle orders both
    * folds identically. */
  def qeDecay(spark: SparkSession, dir: String): DataFrame = {
    val events = Tables.load(spark, dir, "events")
    val anchor = events.agg(max(unix_micros(col("ts"))).as("anchor_us"))
    val daily = events.crossJoin(broadcast(anchor))
      .select(col("user_id"), to_date(col("ts")).as("__day"), col("event_id"),
        (col("value") * exp(lit(-0.1) *
          ((col("anchor_us") - unix_micros(col("ts"))).cast("double") /
            lit(86400000000.0)))).as("wv"))
      .groupBy("user_id", "__day")
      .agg(count(lit(1)).as("__n"),
        sort_array(collect_list(struct(col("event_id"), col("wv"))))
          .as("__ws"))
      .select(col("user_id"), col("__day"), col("__n"),
        aggregate(col("__ws"), lit(0.0),
          (acc, x) => acc + x.getField("wv")).as("__dsum"))
    daily.groupBy("user_id")
      .agg(sum(col("__n")).as("n_events"),
        sort_array(collect_list(struct(col("__day"), col("__dsum"))))
          .as("__ds"))
      .select(col("user_id"), col("n_events"),
        round(aggregate(col("__ds"), lit(0.0),
          (acc, x) => acc + x.getField("__dsum")), 6).as("decayed_value"))
      .orderBy("user_id")
  }

  val qeDecaySql: String =
    """WITH a AS (SELECT MAX(epoch_us(ts)) AS anchor_us FROM events),
      |w AS (
      |  SELECT user_id, CAST(ts AS DATE) AS day, event_id,
      |    value * exp(-0.1 * (CAST(anchor_us - epoch_us(ts) AS DOUBLE)
      |      / 86400000000.0)) AS wv
      |  FROM events CROSS JOIN a
      |),
      |d AS (
      |  SELECT user_id, day, COUNT(*) AS n,
      |    list_reduce(list(wv ORDER BY event_id, wv), (x, y) -> x + y) AS dsum
      |  FROM w GROUP BY user_id, day
      |)
      |SELECT user_id, CAST(SUM(n) AS BIGINT) AS n_events,
      |  round(list_reduce(list(dsum ORDER BY day), (x, y) -> x + y), 6)
      |    AS decayed_value
      |FROM d GROUP BY user_id
      |ORDER BY user_id""".stripMargin

  /** §2.33o — longest consecutive-day activity streak per user
    * (gaps-and-islands): distinct active days collapse the fact table
    * to ≤ |users|·|days| rows in one map-side-combined aggregation;
    * the island key `day − row_number` is a per-user date window over
    * that tiny frame (parallel across users — never a global window),
    * and streaks aggregate twice more within the same partitioning.
    * The engagement-contract metric behind "N-day streak" features. */
  def qeStreaks(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("__day")
    val days = Tables.load(spark, dir, "events")
      .select(col("user_id"), to_date(col("ts")).as("__day"))
      .distinct()
    days
      .withColumn("__anchor", date_sub(col("__day"), row_number().over(w)))
      .groupBy("user_id", "__anchor")
      .agg(count(lit(1)).as("__len"), min("__day").as("__start"))
      .withColumn("__maxlen",
        max(col("__len")).over(Window.partitionBy("user_id")))
      .groupBy("user_id")
      .agg(sum(col("__len")).as("n_active_days"),
        count(lit(1)).as("n_streaks"),
        max(col("__len")).as("max_streak_days"),
        date_format(
          min(when(col("__len") === col("__maxlen"), col("__start"))),
          "yyyy-MM-dd").as("best_streak_start"))
      .orderBy("user_id")
  }

  val qeStreaksSql: String =
    """WITH days AS (
      |  SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
      |),
      |isl AS (
      |  SELECT user_id, day,
      |    day - CAST(row_number() OVER (
      |      PARTITION BY user_id ORDER BY day) AS INTEGER) AS anchor
      |  FROM days
      |),
      |streaks AS (
      |  SELECT user_id, anchor, COUNT(*) AS len, MIN(day) AS start
      |  FROM isl GROUP BY user_id, anchor
      |),
      |marked AS (
      |  SELECT *, MAX(len) OVER (PARTITION BY user_id) AS maxlen
      |  FROM streaks
      |)
      |SELECT user_id, CAST(SUM(len) AS BIGINT) AS n_active_days,
      |  COUNT(*) AS n_streaks, MAX(len) AS max_streak_days,
      |  CAST(MIN(CASE WHEN len = maxlen THEN start END) AS VARCHAR)
      |    AS best_streak_start
      |FROM marked
      |GROUP BY user_id
      |ORDER BY user_id""".stripMargin

  /** §2.33p — RFM (recency / frequency / monetary) user segmentation:
    * one pass rolls the fact table up to a per-user (recency-days,
    * frequency, decimal-exact monetary) frame; quartile scores are
    * INTEGER rank arithmetic — `1 + floor(4·(rank−1)/n)` over a total
    * order with user_id tie-break — never interpolated thresholds,
    * whose last-ulp placement could classify boundary users differently
    * across engines. The rank windows run over the per-user rollup
    * (|users| rows), not the fact table; at extreme user counts the
    * documented swap-in is approx-quantile thresholds per score. */
  def qeRfm(spark: SparkSession, dir: String): DataFrame = {
    val events = Tables.load(spark, dir, "events")
    val anchor = events.agg(max(to_date(col("ts"))).as("__anchor"))
    val peruser = events.crossJoin(broadcast(anchor))
      .groupBy("user_id")
      .agg(min(datediff(col("__anchor"), to_date(col("ts"))))
          .cast("bigint").as("recency_days"),
        count(lit(1)).as("frequency"),
        valueSum(col("value")).as("monetary"))
    // The per-user frame grows with the data: each quartile rank runs
    // on the two-level bucketed operator (never a global single-task
    // window), and the population count is a 1-row broadcast.
    // Materialized once so the count and the rank chain don't each
    // re-aggregate the events scan.
    import graft.operators.DistributedRank.withRowNumber
    val pu = graft.operators.Materialize.once(peruser)
    val nTotal = broadcast(pu.agg(count(lit(1)).as("__nu")))
    def score(r: Column): Column =
      (lit(1) + floor(lit(4) * (r - lit(1)) / col("__nu"))).cast("bigint")
    val ranked3 = withRowNumber(withRowNumber(withRowNumber(
        pu.crossJoin(nTotal),
        -col("recency_days"), col("user_id"), "__rr"),
        col("frequency"), col("user_id"), "__rf"),
        col("monetary"), col("user_id"), "__rm")
    ranked3
      .withColumn("r_score", score(col("__rr")))
      .withColumn("f_score", score(col("__rf")))
      .withColumn("m_score", score(col("__rm")))
      .select(col("user_id"), col("recency_days"), col("frequency"),
        round(col("monetary"), 4).as("monetary"),
        col("r_score"), col("f_score"), col("m_score"),
        (col("r_score") * 100 + col("f_score") * 10 + col("m_score"))
          .as("rfm"))
      .orderBy("user_id")
  }

  val qeRfmSql: String =
    """WITH a AS (SELECT MAX(CAST(ts AS DATE)) AS anchor FROM events),
      |u AS (
      |  SELECT user_id,
      |    CAST(MIN(date_diff('day', CAST(ts AS DATE), anchor)) AS BIGINT)
      |      AS recency_days,
      |    COUNT(*) AS frequency,
      |    CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS monetary
      |  FROM events CROSS JOIN a
      |  GROUP BY user_id
      |),
      |s AS (
      |  SELECT *,
      |    1 + CAST(floor(4.0 * (row_number() OVER (
      |      ORDER BY recency_days DESC, user_id) - 1)
      |      / COUNT(*) OVER ()) AS BIGINT) AS r_score,
      |    1 + CAST(floor(4.0 * (row_number() OVER (
      |      ORDER BY frequency, user_id) - 1)
      |      / COUNT(*) OVER ()) AS BIGINT) AS f_score,
      |    1 + CAST(floor(4.0 * (row_number() OVER (
      |      ORDER BY monetary, user_id) - 1)
      |      / COUNT(*) OVER ()) AS BIGINT) AS m_score
      |  FROM u
      |)
      |SELECT user_id, recency_days, frequency, round(monetary, 4) AS monetary,
      |  r_score, f_score, m_score,
      |  r_score * 100 + f_score * 10 + m_score AS rfm
      |FROM s ORDER BY user_id""".stripMargin

  /** §2.33q — seasonality profile: event volume by (event_type,
    * day-of-week, hour-of-day) with each cell's share of its type —
    * the weekly-rhythm fingerprint behind staffing/alerting baselines
    * (a cell whose share collapses vs its historical value is an
    * outage; compare via 13e/13i drift). One aggregation pass; the
    * share divides by a windowed per-type total over the ≤ type×168
    * cell frame. */
  def qeSeasonality(spark: SparkSession, dir: String): DataFrame = {
    val byType = Window.partitionBy("event_type")
    Tables.load(spark, dir, "events")
      .groupBy(col("event_type"), dayofweek(col("ts")).as("dow"),
        hour(col("ts")).as("hod"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("event_type"), col("dow").cast("bigint"),
        col("hod").cast("bigint"), col("n_events"),
        round(col("n_events") / sum(col("n_events")).over(byType), 6)
          .as("share"))
      .orderBy("event_type", "dow", "hod")
  }

  val qeSeasonalitySql: String =
    """SELECT event_type,
      |  CAST(dayofweek(ts) + 1 AS BIGINT) AS dow,
      |  CAST(hour(ts) AS BIGINT) AS hod,
      |  COUNT(*) AS n_events,
      |  round(COUNT(*) / SUM(COUNT(*)) OVER (PARTITION BY event_type), 6)
      |    AS share
      |FROM events
      |GROUP BY event_type, dayofweek(ts), hour(ts)
      |ORDER BY event_type, dow, hod""".stripMargin

  /** §2.33r — behavioral diversity: Shannon entropy of each user's
    * event-type distribution (bot / single-purpose accounts score near
    * 0, organic users near log2 |types|). One map-side-combinable
    * count per (user, type), then a per-user fold over the ≤ |types|
    * sorted entries — bounded state per user (the type alphabet, not
    * the event history), so a heavy user costs the same as a light
    * one. The fold runs over a sort_array'd list, making the float
    * summation order deterministic and oracle-mirrorable. */
  def qeDiversity(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "events")
      .groupBy("user_id", "event_type")
      .agg(count(lit(1)).as("__c"))
      .groupBy("user_id")
      .agg(sort_array(collect_list(struct(col("event_type"), col("__c"))))
          .as("__tc"),
        sum(col("__c")).as("__n"),
        count(lit(1)).as("n_types"))
      .select(col("user_id"),
        col("__n").cast("bigint").as("n_events"),
        col("n_types"),
        round(-aggregate(
          transform(col("__tc"), x =>
            (x.getField("__c").cast("double") / col("__n")) *
              log(x.getField("__c").cast("double") / col("__n")) / log(lit(2.0))),
          lit(0.0), (acc, t) => acc + t), 6).as("type_entropy"))
      .orderBy("user_id")

  val qeDiversitySql: String =
    """WITH c AS (
      |  SELECT user_id, event_type, COUNT(*) AS c FROM events
      |  GROUP BY user_id, event_type
      |), g AS (
      |  SELECT user_id, list(CAST(c AS DOUBLE) ORDER BY event_type) AS cs,
      |    CAST(SUM(c) AS BIGINT) AS n, COUNT(*) AS n_types
      |  FROM c GROUP BY user_id
      |)
      |SELECT user_id, n AS n_events, n_types,
      |  round(-list_reduce(list_transform(cs,
      |      x -> (x / n) * ln(x / n) / ln(2.0)), (a, b) -> a + b), 6)
      |    AS type_entropy
      |FROM g ORDER BY user_id""".stripMargin

  /** §2.33s — time-weighted average event value per user: each value
    * holds until the next event (step interpolation), TWA =
    * Σ value·Δt / Σ Δt — the standard gauge-metric rollup (queue
    * depth, balance, session temperature) where arithmetic means
    * over-weight bursts. One lead() window per user (single shuffle),
    * and each value·Δt product is cast to DECIMAL before the sum so
    * accumulation is order-independent — the final division is the
    * only float op, over the two exact totals. */
  def qeTwa(spark: SparkSession, dir: String): DataFrame = {
    val byUser = Window.partitionBy("user_id").orderBy("ts", "event_id")
    Tables.load(spark, dir, "events")
      .select(col("user_id"), col("ts"), col("event_id"), col("value"))
      .withColumn("__dt_us",
        unix_micros(lead(col("ts"), 1).over(byUser)) - unix_micros(col("ts")))
      .where(col("__dt_us").isNotNull)
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_segments"),
        sum((col("value") * col("__dt_us")).cast("decimal(38,6)")).as("__wsum"),
        sum(col("__dt_us")).as("__tsum"))
      .select(col("user_id"), col("n_segments"),
        round(col("__tsum").cast("double") / 1000000.0 / col("n_segments"), 6)
          .as("avg_gap_s"),
        round(col("__wsum").cast("double") / col("__tsum").cast("double"), 6)
          .as("twa_value"))
      .orderBy("user_id")
  }

  val qeTwaSql: String =
    """WITH seg AS (
      |  SELECT user_id, value,
      |    epoch_us(lead(ts) OVER (PARTITION BY user_id
      |      ORDER BY ts, event_id)) - epoch_us(ts) AS dt_us
      |  FROM events
      |)
      |SELECT user_id, COUNT(*) AS n_segments,
      |  round(CAST(SUM(dt_us) AS DOUBLE) / 1000000.0 / COUNT(*), 6)
      |    AS avg_gap_s,
      |  round(CAST(SUM(CAST(value * dt_us AS DECIMAL(38,6))) AS DOUBLE)
      |    / CAST(SUM(dt_us) AS DOUBLE), 6) AS twa_value
      |FROM seg WHERE dt_us IS NOT NULL
      |GROUP BY user_id ORDER BY user_id""".stripMargin

  /** §2.33t — heavy-tail (power-law) fit of the user-activity
    * distribution: OLS of ln(count) on ln(rank) over the rank-ordered
    * per-user event counts. The slope is the tail exponent a capacity
    * planner / bot-detector reads first: a steep slope means traffic
    * concentrates in few accounts (and salting those keys matters at
    * 100 TB). Per-user counts are one combinable aggregation; the
    * rank is a single window over the (small) user frame; the five
    * OLS sufficient statistics accumulate as DECIMAL-cast exact sums
    * (qc_corr pattern), assembled in doubles on the 1-row result. */
  def qeHeavytail(spark: SparkSession, dir: String): DataFrame = {
    def dsum(c: Column) = sum(c.cast("decimal(38,12)")).cast("double")
    // The user frame grows with the data — the rank runs on the
    // two-level bucketed operator, never a global single-task window.
    val ranked = graft.operators.DistributedRank.withRowNumber(
        Tables.load(spark, dir, "events")
          .groupBy("user_id").agg(count(lit(1)).as("__c")),
        -col("__c"), col("user_id"), "__r")
      .select(log(col("__r").cast("double")).as("__x"),
        log(col("__c").cast("double")).as("__y"))
    ranked
      .agg(count(lit(1)).cast("double").as("__n"),
        dsum(col("__x")).as("__sx"), dsum(col("__y")).as("__sy"),
        dsum(col("__x") * col("__y")).as("__sxy"),
        dsum(col("__x") * col("__x")).as("__sxx"))
      .select(col("__n").cast("bigint").as("n_users"),
        round((col("__n") * col("__sxy") - col("__sx") * col("__sy")) /
          (col("__n") * col("__sxx") - col("__sx") * col("__sx")), 6)
          .as("tail_slope"),
        round((col("__sy") - col("__sx") *
            ((col("__n") * col("__sxy") - col("__sx") * col("__sy")) /
              (col("__n") * col("__sxx") - col("__sx") * col("__sx")))) /
            col("__n"), 6)
          .as("intercept"))
  }

  val qeHeavytailSql: String =
    """WITH ranked AS (
      |  SELECT ln(CAST(ROW_NUMBER() OVER (
      |      ORDER BY COUNT(*) DESC, user_id) AS DOUBLE)) AS x,
      |    ln(CAST(COUNT(*) AS DOUBLE)) AS y
      |  FROM events GROUP BY user_id
      |), s AS (
      |  SELECT CAST(COUNT(*) AS DOUBLE) AS n,
      |    CAST(SUM(CAST(x AS DECIMAL(38,12))) AS DOUBLE) AS sx,
      |    CAST(SUM(CAST(y AS DECIMAL(38,12))) AS DOUBLE) AS sy,
      |    CAST(SUM(CAST(x * y AS DECIMAL(38,12))) AS DOUBLE) AS sxy,
      |    CAST(SUM(CAST(x * x AS DECIMAL(38,12))) AS DOUBLE) AS sxx
      |  FROM ranked
      |)
      |SELECT CAST(n AS BIGINT) AS n_users,
      |  round((n * sxy - sx * sy) / (n * sxx - sx * sx), 6) AS tail_slope,
      |  round((sy - sx * ((n * sxy - sx * sy) / (n * sxx - sx * sx))) / n, 6)
      |    AS intercept
      |FROM s""".stripMargin

  /** §2.33u — session-level distribution summary: composes the
    * sessionization of [[qeSessions]] and reduces it to the 1-row
    * stats frame (counts, exact interpolated percentiles of session
    * length and duration) an experience dashboard tracks. The
    * expensive part is the same single per-user window shuffle as
    * qe_sessions; the percentile aggregation runs over the session
    * frame, which is already orders of magnitude smaller than the
    * fact table. */
  def qeSessionStats(spark: SparkSession, dir: String): DataFrame =
    qeSessions(spark, dir)
      .select(col("n_events"),
        ((unix_micros(col("session_end")) - unix_micros(col("session_start")))
          .cast("double") / 1000000.0).as("__dur_s"))
      .agg(count(lit(1)).as("n_sessions"),
        expr("percentile(n_events, array(0.5D, 0.9D))").as("__pe"),
        expr("percentile(__dur_s, array(0.5D, 0.9D))").as("__pd"),
        sum(col("n_events")).as("__tot"))
      .select(col("n_sessions"),
        round(col("__tot").cast("double") / col("n_sessions"), 6)
          .as("avg_events"),
        round(element_at(col("__pe"), 1), 6).as("p50_events"),
        round(element_at(col("__pe"), 2), 6).as("p90_events"),
        round(element_at(col("__pd"), 1), 6).as("p50_duration_s"),
        round(element_at(col("__pd"), 2), 6).as("p90_duration_s"))

  val qeSessionStatsSql: String =
    """WITH marked AS (
      |  SELECT user_id, event_id, ts,
      |    CASE WHEN lag(ts) OVER w IS NULL
      |           OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
      |         THEN 1 ELSE 0 END AS new_sess
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
      |), sess AS (
      |  SELECT user_id, ts,
      |    CAST(SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
      |  FROM marked
      |), agg AS (
      |  SELECT COUNT(*) AS n_events,
      |    (epoch_us(MAX(ts)) - epoch_us(MIN(ts))) / 1000000.0 AS dur_s
      |  FROM sess GROUP BY user_id, session_id
      |)
      |SELECT COUNT(*) AS n_sessions,
      |  round(CAST(SUM(n_events) AS DOUBLE) / COUNT(*), 6) AS avg_events,
      |  round(quantile_cont(n_events, 0.5), 6) AS p50_events,
      |  round(quantile_cont(n_events, 0.9), 6) AS p90_events,
      |  round(quantile_cont(dur_s, 0.5), 6) AS p50_duration_s,
      |  round(quantile_cont(dur_s, 0.9), 6) AS p90_duration_s
      |FROM agg""".stripMargin

  /** §2.33v — growth accounting: per active day, how many users are
    * new (first-ever day), retained (active within the last 7 days),
    * or resurrected (returning after a 7+ day gap) — the
    * new/retained/resurrected decomposition every DAU chart hides.
    * Facts collapse to distinct (user, day) in one combinable
    * aggregation; the per-user lag window runs over that tiny frame;
    * the day rollup is a second small shuffle. Day is reported as a
    * yyyy-MM-dd string so the cross-engine compare never depends on
    * date/timestamp surfacing. */
  def qeLifecycle(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("__day")
    Tables.load(spark, dir, "events")
      .select(col("user_id"), to_date(col("ts")).as("__day"))
      .distinct()
      .withColumn("__gap", datediff(col("__day"), lag(col("__day"), 1).over(w)))
      .groupBy(date_format(col("__day"), "yyyy-MM-dd").as("day"))
      .agg(count(lit(1)).as("n_active"),
        sum(when(col("__gap").isNull, 1L).otherwise(0L)).as("n_new"),
        sum(when(col("__gap").between(1, 7), 1L).otherwise(0L)).as("n_retained"),
        sum(when(col("__gap") > 7, 1L).otherwise(0L)).as("n_resurrected"))
      .select(col("day"), col("n_active"),
        col("n_new").cast("bigint").as("n_new"),
        col("n_retained").cast("bigint").as("n_retained"),
        col("n_resurrected").cast("bigint").as("n_resurrected"))
      .orderBy("day")
  }

  val qeLifecycleSql: String =
    """WITH days AS (
      |  SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
      |), lagged AS (
      |  SELECT user_id, day,
      |    day - lag(day) OVER (PARTITION BY user_id ORDER BY day) AS gap
      |  FROM days
      |)
      |SELECT strftime(day, '%Y-%m-%d') AS day, COUNT(*) AS n_active,
      |  CAST(SUM(CASE WHEN gap IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_new,
      |  CAST(SUM(CASE WHEN gap BETWEEN 1 AND 7 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_retained,
      |  CAST(SUM(CASE WHEN gap > 7 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_resurrected
      |FROM lagged
      |GROUP BY day
      |ORDER BY day""".stripMargin

  /** §2.33w — rolling 7-day activity per user: for each (user, active
    * day), the day's event count and the trailing-week sum via a
    * RANGE frame over epoch-day (value-based, so missing days inside
    * the window are handled by the frame bound, not by gap-filling a
    * dense spine first — at 100 TB the dense (user × day) spine is
    * the thing to avoid). One combinable (user, day) count, then the
    * range window over that collapsed frame, parallel across users. */
  def qeRolling(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("__epochday"))
      .rangeBetween(-6, 0)
    Tables.load(spark, dir, "events")
      .select(col("user_id"), to_date(col("ts")).as("__day"))
      .groupBy("user_id", "__day")
      .agg(count(lit(1)).as("n_day"))
      .withColumn("__epochday", datediff(col("__day"), lit("1970-01-01")))
      .select(col("user_id"),
        date_format(col("__day"), "yyyy-MM-dd").as("day"),
        col("n_day"),
        sum(col("n_day")).over(w).cast("bigint").as("n_7d"))
      .orderBy("user_id", "day")
  }

  val qeRollingSql: String =
    """WITH d AS (
      |  SELECT user_id, CAST(ts AS DATE) AS day, COUNT(*) AS n_day
      |  FROM events GROUP BY user_id, CAST(ts AS DATE)
      |)
      |SELECT user_id, strftime(day, '%Y-%m-%d') AS day, n_day,
      |  CAST(SUM(n_day) OVER (PARTITION BY user_id ORDER BY day
      |    RANGE BETWEEN INTERVAL 6 DAYS PRECEDING AND CURRENT ROW)
      |    AS BIGINT) AS n_7d
      |FROM d
      |ORDER BY user_id, day""".stripMargin

  /** §2.33x — in-session event-type co-occurrence with lift: for each
    * unordered type pair, how many sessions contain both, against the
    * independence expectation (the market-basket read on behavioral
    * data: "users who X in a session also Y"). The pair space is the
    * session's DISTINCT TYPE ALPHABET (≤ |types|, bounded), never the
    * event list — a session with 10k events still contributes ≤
    * C(|types|,2) pairs, so the self-join runs on the collapsed
    * (session, type) frame and the lift assembly on the tiny
    * type-pair frame. */
  def qeCooccurrence(spark: SparkSession, dir: String): DataFrame = {
    val byUser = Window.partitionBy("user_id").orderBy("ts", "event_id")
    val lagTs = lag(col("ts"), 1).over(byUser)
    val newSession = when(lagTs.isNull ||
      unix_micros(col("ts")) - unix_micros(lagTs) > 1800000000L, 1).otherwise(0)
    // The collapsed (user, session, type) frame feeds FOUR consumers
    // (both self-join sides, the type counts, the session total); an
    // eager barrier materializes the expensive sessionization window
    // ONCE and truncates lineage, instead of re-running the full-fact
    // window per branch. The frame is already ≪ the fact table.
    val sessTypes = graft.operators.Materialize.now(
      Tables.load(spark, dir, "events")
        .withColumn("__sid", sum(newSession).over(
          byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .select(col("user_id"), col("__sid"), col("event_type"))
        .distinct())
    // Session total stays a LAZY 1-row broadcast (scalar-subquery
    // pattern, qe_decay precedent) — no eager driver action.
    val nSessions = sessTypes.select("user_id", "__sid").distinct()
      .agg(count(lit(1)).as("__ns"))
    val typeCounts = sessTypes.groupBy("event_type")
      .agg(count(lit(1)).as("__n"))
    val pairs = sessTypes.alias("a")
      .join(sessTypes.alias("b"),
        col("a.user_id") === col("b.user_id") &&
          col("a.__sid") === col("b.__sid") &&
          col("a.event_type") < col("b.event_type"))
      .groupBy(col("a.event_type").as("type_a"),
        col("b.event_type").as("type_b"))
      .agg(count(lit(1)).as("n_both"))
    pairs
      .join(broadcast(typeCounts.select(col("event_type").as("type_a"),
        col("__n").as("__na"))), Seq("type_a"))
      .join(broadcast(typeCounts.select(col("event_type").as("type_b"),
        col("__n").as("__nb"))), Seq("type_b"))
      .crossJoin(broadcast(nSessions))
      .select(col("type_a"), col("type_b"),
        col("n_both").cast("bigint").as("n_both"),
        round(col("n_both").cast("double") * col("__ns") /
          (col("__na").cast("double") * col("__nb").cast("double")), 6)
          .as("lift"))
      .orderBy("type_a", "type_b")
  }

  val qeCooccurrenceSql: String =
    """WITH marked AS (
      |  SELECT user_id, event_id, ts, event_type,
      |    CASE WHEN lag(ts) OVER w IS NULL
      |           OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
      |         THEN 1 ELSE 0 END AS new_sess
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
      |), st AS (
      |  SELECT DISTINCT user_id,
      |    CAST(SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS sid,
      |    event_type
      |  FROM marked
      |), ns AS (
      |  SELECT COUNT(*) AS n FROM (SELECT DISTINCT user_id, sid FROM st)
      |), tc AS (
      |  SELECT event_type, COUNT(*) AS n FROM st GROUP BY event_type
      |), p AS (
      |  SELECT a.event_type AS type_a, b.event_type AS type_b,
      |    COUNT(*) AS n_both
      |  FROM st a JOIN st b
      |    ON a.user_id = b.user_id AND a.sid = b.sid
      |   AND a.event_type < b.event_type
      |  GROUP BY a.event_type, b.event_type
      |)
      |SELECT p.type_a, p.type_b, CAST(p.n_both AS BIGINT) AS n_both,
      |  round(CAST(p.n_both AS DOUBLE) * ns.n
      |    / (CAST(ta.n AS DOUBLE) * CAST(tb.n AS DOUBLE)), 6) AS lift
      |FROM p
      |CROSS JOIN ns
      |JOIN tc ta ON p.type_a = ta.event_type
      |JOIN tc tb ON p.type_b = tb.event_type
      |ORDER BY type_a, type_b""".stripMargin

  /** §2.33y — time-bounded conversion: of all `view` events, how many
    * are followed by a `purchase` BY THE SAME USER within 1 hour, plus
    * the mean delay of conversions. The windowed form of [[qeFunnel]]
    * (whole-history order) — product funnels are almost always
    * deadline-bounded. The "next purchase at-or-after each view" is a
    * conditional min over a FOLLOWING window frame per user (one
    * shuffle, no self-join, no per-user array); delays sum as exact
    * integer microseconds. */
  def qeConversion(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    val horizon = 3600000000L // 1 hour in microseconds
    Tables.load(spark, dir, "events")
      .where(col("event_type").isin("view", "purchase"))
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("__next_buy_us",
        min(when(col("event_type") === "purchase", unix_micros(col("ts"))))
          .over(w))
      .where(col("event_type") === "view")
      .select((col("__next_buy_us") - unix_micros(col("ts"))).as("__delay_us"))
      .agg(count(lit(1)).as("n_views"),
        sum(when(col("__delay_us") <= horizon, 1L).otherwise(0L))
          .as("n_converted"),
        sum(when(col("__delay_us") <= horizon, col("__delay_us")))
          .as("__delay_sum"))
      .select(col("n_views"),
        col("n_converted").cast("bigint").as("n_converted"),
        round(col("n_converted").cast("double") / col("n_views"), 6)
          .as("conversion_rate"),
        round(col("__delay_sum").cast("double") / 1000000.0 /
          col("n_converted"), 6).as("avg_delay_s"))
  }

  val qeConversionSql: String =
    """WITH vp AS (
      |  SELECT user_id, ts, event_id, event_type,
      |    MIN(CASE WHEN event_type = 'purchase' THEN epoch_us(ts) END)
      |      OVER (PARTITION BY user_id ORDER BY ts, event_id
      |        ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
      |      AS next_buy_us
      |  FROM events
      |  WHERE event_type IN ('view', 'purchase')
      |), v AS (
      |  SELECT next_buy_us - epoch_us(ts) AS delay_us
      |  FROM vp WHERE event_type = 'view'
      |)
      |SELECT COUNT(*) AS n_views,
      |  CAST(SUM(CASE WHEN delay_us <= 3600000000 THEN 1 ELSE 0 END)
      |    AS BIGINT) AS n_converted,
      |  round(CAST(SUM(CASE WHEN delay_us <= 3600000000 THEN 1 ELSE 0 END)
      |    AS DOUBLE) / COUNT(*), 6) AS conversion_rate,
      |  round(CAST(SUM(CASE WHEN delay_us <= 3600000000 THEN delay_us END)
      |    AS DOUBLE) / 1000000.0
      |    / SUM(CASE WHEN delay_us <= 3600000000 THEN 1 ELSE 0 END), 6)
      |    AS avg_delay_s
      |FROM v""".stripMargin

  /** §2.33z — customer-value decile table: users ranked by total
    * purchase value into 10 equal buckets, each with population, total
    * and boundary values — the "top decile drives n% of revenue" frame
    * every monetization review opens with. The per-user rollup is one
    * combinable decimal-exact aggregation; the ntile window runs over
    * the collapsed user frame (≪ fact table), with a unique
    * (value, user) sort so bucket edges are deterministic in both
    * engines. */
  def qeLtvDeciles(spark: SparkSession, dir: String): DataFrame = {
    val perUser = Tables.load(spark, dir, "events")
      .where(col("event_type") === "purchase")
      .groupBy("user_id")
      .agg(sum(col("value").cast("decimal(18,4)")).as("__spend"))
    // The user frame grows with the data: the decile assignment is
    // SQL-standard ntile arithmetic over the two-level bucketed rank
    // (never a global single-task window). Materialized once so the
    // population count and the rank don't each re-run the rollup.
    val pu = graft.operators.Materialize.once(perUser)
    val nTotal = broadcast(pu.agg(count(lit(1)).as("__nu")))
    graft.operators.DistributedRank.withRowNumber(
        pu.crossJoin(nTotal),
        -col("__spend"), col("user_id"), "__r")
      .withColumn("decile", graft.operators.DistributedRank
        .ntileFromRank(col("__r"), col("__nu"), 10))
      .groupBy("decile")
      .agg(count(lit(1)).as("n_users"),
        sum(col("__spend")).cast("decimal(38,4)").cast("double")
          .as("__total"),
        min(col("__spend")).cast("double").as("__lo"),
        max(col("__spend")).cast("double").as("__hi"))
      .select(col("decile").cast("bigint").as("decile"), col("n_users"),
        round(col("__total"), 4).as("total_spend"),
        round(col("__hi"), 4).as("max_spend"),
        round(col("__lo"), 4).as("min_spend"))
      .orderBy("decile")
  }

  val qeLtvDecilesSql: String =
    """WITH u AS (
      |  SELECT user_id,
      |    SUM(CAST(value AS DECIMAL(18,4))) AS spend
      |  FROM events WHERE event_type = 'purchase'
      |  GROUP BY user_id
      |), d AS (
      |  SELECT spend,
      |    ntile(10) OVER (ORDER BY spend DESC, user_id) AS decile
      |  FROM u
      |)
      |SELECT CAST(decile AS BIGINT) AS decile, COUNT(*) AS n_users,
      |  round(CAST(CAST(SUM(spend) AS DECIMAL(38,4)) AS DOUBLE), 4)
      |    AS total_spend,
      |  round(CAST(MAX(spend) AS DOUBLE), 4) AS max_spend,
      |  round(CAST(MIN(spend) AS DOUBLE), 4) AS min_spend
      |FROM d GROUP BY decile
      |ORDER BY decile""".stripMargin

  /** §2.33aa — seasonality-adjusted volume anomaly: hours whose event
    * count deviates ≥2× (or ≤½) from the mean of their OWN
    * (day-of-week, hour-of-day) peers — the weekly-rhythm-aware
    * complement of [[qeAnomalyHours]]' trailing-window baseline (a
    * quiet Sunday 3am is normal against Sunday-3am peers, alarming
    * against a Friday-evening trailing window). Hourly counts collapse
    * the facts once; the peer baseline is a share window over the
    * tiny hourly frame; counts are exact ints so the ratio compares
    * identically cross-engine. */
  def qeSeasonalAnomaly(spark: SparkSession, dir: String): DataFrame = {
    val peers = Window.partitionBy("__dow", "__hod")
    val hourly = Tables.load(spark, dir, "events")
      .groupBy(date_trunc("hour", col("ts")).as("__hour"))
      .agg(count(lit(1)).as("n_events"))
      .withColumn("__dow", dayofweek(col("__hour")))
      .withColumn("__hod", hour(col("__hour")))
    hourly
      .withColumn("__base",
        sum(col("n_events")).over(peers).cast("double") /
          count(lit(1)).over(peers))
      .where(col("n_events") > lit(2.0) * col("__base") ||
        col("n_events") < lit(0.5) * col("__base"))
      .select(date_format(col("__hour"), "yyyy-MM-dd HH:00").as("hour"),
        col("n_events"),
        round(col("__base"), 6).as("peer_baseline"),
        when(col("n_events") > lit(2.0) * col("__base"), "high")
          .otherwise("low").as("direction"))
      .orderBy("hour")
  }

  val qeSeasonalAnomalySql: String =
    """WITH hourly AS (
      |  SELECT date_trunc('hour', ts) AS h, COUNT(*) AS n_events
      |  FROM events GROUP BY date_trunc('hour', ts)
      |), based AS (
      |  SELECT h, n_events,
      |    CAST(SUM(n_events) OVER w AS DOUBLE) / COUNT(*) OVER w AS base
      |  FROM hourly
      |  WINDOW w AS (PARTITION BY dayofweek(h), hour(h))
      |)
      |SELECT strftime(h, '%Y-%m-%d %H:00') AS hour, n_events,
      |  round(base, 6) AS peer_baseline,
      |  CASE WHEN n_events > 2.0 * base THEN 'high' ELSE 'low' END
      |    AS direction
      |FROM based
      |WHERE n_events > 2.0 * base OR n_events < 0.5 * base
      |ORDER BY hour""".stripMargin

  /** §2.33ab — keep-latest compaction (CDC/upsert semantics): one row
    * per user, the most recent event by (ts, event_id) — the dedup
    * every change-capture feed needs before joining as a dimension.
    * row_number over the user partition keeps the WHOLE latest row
    * without a self-join back (max(ts) + join would pay a second
    * shuffle and break on ts ties; the unique event_id tie-break makes
    * the winner deterministic). */
  def qeLatest(spark: SparkSession, dir: String): DataFrame =
    // Top-1-per-key on the raw fact is exactly the shape the custom
    // TopKPerKey operator exists for (§2.38b): one heap pass per
    // partition instead of the full per-partition sorts the window
    // path pays in both its WindowGroupLimit stages, and no rank
    // materialization. Same rows under the (ts, event_id) total
    // order — the window formulation remains the oracle.
    org.apache.spark.sql.graft.TopK.perKey(
      Tables.load(spark, dir, "events"), Seq("user_id"),
      Seq(col("ts").desc, col("event_id").desc), 1)
      .select(col("user_id"), col("event_id").as("last_event_id"),
        col("ts").as("last_ts"), col("event_type").as("last_type"))
      .orderBy("user_id")

  val qeLatestSql: String =
    """SELECT user_id, event_id AS last_event_id, ts AS last_ts,
      |  event_type AS last_type
      |FROM (
      |  SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id
      |    ORDER BY ts DESC, event_id DESC) AS r
      |  FROM events
      |)
      |WHERE r = 1
      |ORDER BY user_id""".stripMargin

  /** §2.33ac — deterministic experiment split + A/A balance report:
    * users assign to variants by seeded md5 (reproducible across runs
    * and engines — no RNG, no assignment table to store), and the
    * report shows the balance check an experimenter runs BEFORE
    * trusting the split: population, activity, and value per variant
    * should be statistically indistinguishable on pre-experiment
    * data. One per-user rollup, then a 2-row variant fold. */
  def qeAbBalance(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.Portable.md5Bucket
    val variant = when(md5Bucket("exp1", col("user_id"), 2) === 0, "A")
      .otherwise("B")
    Tables.load(spark, dir, "events")
      // NULL ids are excluded EXPLICITLY on both sides: Spark's
      // concat_ws would silently hash a NULL id as md5(seed) while the
      // oracle's '||' nulls out to the ELSE arm — whether they agree
      // would depend on the seed's hash parity. A NULL user is not an
      // experiment subject; it belongs to a nullability check.
      .where(col("user_id").isNotNull)
      .groupBy("user_id")
      .agg(count(lit(1)).as("__n"),
        sum(col("value").cast("decimal(18,4)")).as("__v"))
      .withColumn("variant", variant)
      .groupBy("variant")
      .agg(count(lit(1)).as("n_users"),
        sum(col("__n")).cast("bigint").as("n_events"),
        round(sum(col("__n")).cast("double") / count(lit(1)), 6)
          .as("events_per_user"),
        round(sum(col("__v")).cast("decimal(38,4)").cast("double"), 4)
          .as("total_value"))
      .orderBy("variant")
  }

  val qeAbBalanceSql: String =
    """WITH u AS (
      |  SELECT user_id, COUNT(*) AS n,
      |    SUM(CAST(value AS DECIMAL(18,4))) AS v
      |  FROM events WHERE user_id IS NOT NULL GROUP BY user_id
      |)
      |SELECT CASE WHEN ('0x' || substr(md5('exp1:' || user_id), 1, 8))::BIGINT
      |    % 2 = 0 THEN 'A' ELSE 'B' END AS variant,
      |  COUNT(*) AS n_users,
      |  CAST(SUM(n) AS BIGINT) AS n_events,
      |  round(CAST(SUM(n) AS DOUBLE) / COUNT(*), 6) AS events_per_user,
      |  round(CAST(CAST(SUM(v) AS DECIMAL(38,4)) AS DOUBLE), 4)
      |    AS total_value
      |FROM u
      |GROUP BY 1
      |ORDER BY variant""".stripMargin

  /** §2.33ad — per-user engagement trend: OLS slope of daily event
    * count on epoch-day (events/day per day), the "is this account
    * ramping or decaying" signal behind churn triage and bot-ramp
    * detection. Grouped closed-form regression: the five sufficient
    * statistics (n, Σx, Σy, Σxy, Σx²) are INTEGER sums over the
    * collapsed (user, day) frame — exact under any accumulation order,
    * so the result is engine-independent with no decimal cast at all;
    * one double division per user assembles the slope. Two combinable
    * aggregations, no window, no per-user array (contrast a
    * regr_slope over raw doubles, whose accumulation order a
    * distributed engine cannot pin). */
  def qeTrend(spark: SparkSession, dir: String): DataFrame = {
    val daily = Tables.load(spark, dir, "events")
      .select(col("user_id"),
        datediff(to_date(col("ts")), lit("1970-01-01")).cast("long").as("__x"))
      .groupBy("user_id", "__x").agg(count(lit(1)).as("__y"))
    daily.groupBy("user_id")
      .agg(count(lit(1)).as("n_days"),
        sum(col("__x")).as("__sx"), sum(col("__y")).as("__sy"),
        sum(col("__x") * col("__y")).as("__sxy"),
        sum(col("__x") * col("__x")).as("__sxx"))
      .where(col("n_days") >= 2)
      .select(col("user_id"), col("n_days"),
        round((col("n_days") * col("__sxy") - col("__sx") * col("__sy"))
            .cast("double") /
          (col("n_days") * col("__sxx") - col("__sx") * col("__sx"))
            .cast("double"), 6).as("slope"))
      .orderBy("user_id")
  }

  val qeTrendSql: String =
    """WITH d AS (
      |  SELECT user_id,
      |    date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS x,
      |    COUNT(*) AS y
      |  FROM events GROUP BY 1, 2
      |), s AS (
      |  SELECT user_id, COUNT(*) AS n,
      |    SUM(x) AS sx, SUM(y) AS sy, SUM(x * y) AS sxy, SUM(x * x) AS sxx
      |  FROM d GROUP BY user_id
      |)
      |SELECT user_id, n AS n_days,
      |  round(CAST(n * sxy - sx * sy AS DOUBLE)
      |    / CAST(n * sxx - sx * sx AS DOUBLE), 6) AS slope
      |FROM s WHERE n >= 2
      |ORDER BY user_id""".stripMargin

  /** §2.33ae — rolling 7-day distinct active users per day (windowed
    * COUNT DISTINCT): the trailing-week reach curve product teams
    * watch. Exact sliding distinct WITHOUT per-day user sets or a
    * range self-join: the collapsed (user, day) frame fans out to its
    * ≤ 7 contributing window-ends via a generated date sequence
    * (bounded ×7 row expansion, map-side, no BNLJ), a broadcast
    * semi-join keeps only window-ends that are real active days, and
    * one exact two-phase count-distinct per day finishes. At 100 TB
    * the expansion is 7 × |users × days| — linear, shuffle on day. */
  def qeWauRolling(spark: SparkSession, dir: String): DataFrame = {
    val ud = Tables.load(spark, dir, "events")
      .select(col("user_id"), to_date(col("ts")).as("__day")).distinct()
    val days = ud.select(col("__day").as("__end")).distinct()
    ud.select(col("user_id"),
        explode(sequence(col("__day"), date_add(col("__day"), 6))).as("__end"))
      .join(broadcast(days), Seq("__end"), "left_semi")
      .groupBy("__end")
      .agg(countDistinct(col("user_id")).as("wau"))
      .select(date_format(col("__end"), "yyyy-MM-dd").as("day"), col("wau"))
      .orderBy("day")
  }

  val qeWauRollingSql: String =
    """WITH ud AS (
      |  SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
      |), days AS (
      |  SELECT DISTINCT day FROM ud
      |), x AS (
      |  SELECT u.user_id, d.day AS day_end
      |  FROM ud u JOIN days d ON d.day BETWEEN u.day AND u.day + 6
      |)
      |SELECT strftime(day_end, '%Y-%m-%d') AS day,
      |  CAST(COUNT(DISTINCT user_id) AS BIGINT) AS wau
      |FROM x GROUP BY day_end
      |ORDER BY day""".stripMargin

  /** [[qeWauRolling]]'s 100 TB swap-in, shipped callable (test-pinned
    * in ApproxVariantsSpec; sketches are not SQL-oracle-able): per-day
    * HLL sketches of the user set are built ONCE from the fact table
    * (Spark 4's DataSketches hll_sketch_agg), and each 7-day window
    * then unions 7 tiny fixed-size sketches (hll_union_agg) instead of
    * re-scanning users — the fanout ships kilobyte sketches, not the
    * (user, day) rows, and per-day sketches are reusable across any
    * window length. Exact path fans out rows ×7; this fans out
    * |days| × 7 sketches. */
  def qeWauRollingSketch(spark: SparkSession, dir: String): DataFrame = {
    val daily = Tables.load(spark, dir, "events")
      .select(col("user_id"), to_date(col("ts")).as("__day"))
      .groupBy("__day")
      .agg(expr("hll_sketch_agg(user_id, 14)").as("__sk"))
    val days = daily.select(col("__day").as("__end"))
    daily.select(col("__sk"),
        explode(sequence(col("__day"), date_add(col("__day"), 6))).as("__end"))
      .join(broadcast(days), Seq("__end"), "left_semi")
      .groupBy("__end")
      .agg(expr("hll_sketch_estimate(hll_union_agg(__sk, true))").as("wau"))
      .select(date_format(col("__end"), "yyyy-MM-dd").as("day"), col("wau"))
      .orderBy("day")
  }

  /** §2.33af — seasonal-baseline backtest: how well does the weekly
    * rhythm predict volume? Even epoch-days train a per
    * (event_type, dow, hour) mean-volume baseline; odd days are the
    * holdout; the report is per-type MAPE + bias over the holdout
    * cells. The interleaved even/odd split needs NO anchor row
    * (deterministic, engine-independent, seasonally balanced — a
    * head/tail split would need a max-date broadcast and can straddle
    * regime changes). This is the "can I alert on deviation-from-
    * forecast" calibration read before qe_seasonal_anomaly thresholds
    * are trusted. Scale shape: the fact table collapses to hourly
    * cells in one combinable pass; train/test join on the tiny
    * (type, dow, hour) frame; error terms DECIMAL-cast before the
    * final fold. */
  def qeForecast(spark: SparkSession, dir: String): DataFrame = {
    val hourly = Tables.load(spark, dir, "events")
      .groupBy(col("event_type"),
        to_date(col("ts")).as("__day"),
        dayofweek(col("ts")).as("__dow"),
        hour(col("ts")).as("__hr"))
      .agg(count(lit(1)).as("__n"))
      .withColumn("__even",
        datediff(col("__day"), lit("1970-01-01")) % 2 === 0)
    val base = hourly.where(col("__even"))
      .groupBy("event_type", "__dow", "__hr")
      .agg((sum(col("__n")).cast("double") /
        count(lit(1)).cast("double")).as("__pred"))
    def dsum(c: Column) = sum(c.cast("decimal(38,12)")).cast("double")
    hourly.where(!col("__even"))
      .join(base, Seq("event_type", "__dow", "__hr"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_cells"),
        round(dsum(abs(col("__n") - col("__pred")) /
          col("__n").cast("double")) / count(lit(1)), 6).as("mape"),
        round(dsum(col("__pred") - col("__n")) /
          count(lit(1)), 6).as("mean_bias"))
      .orderBy("event_type")
  }

  val qeForecastSql: String =
    """WITH hourly AS (
      |  SELECT event_type, CAST(ts AS DATE) AS day,
      |    dayofweek(ts) + 1 AS dow, hour(ts) AS hr, COUNT(*) AS n,
      |    date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) % 2 = 0
      |      AS even
      |  FROM events GROUP BY 1, 2, 3, 4, 6
      |), base AS (
      |  SELECT event_type, dow, hr,
      |    CAST(SUM(n) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS pred
      |  FROM hourly WHERE even GROUP BY 1, 2, 3
      |)
      |SELECT h.event_type, COUNT(*) AS n_cells,
      |  round(CAST(SUM(CAST(abs(h.n - b.pred) / CAST(h.n AS DOUBLE)
      |    AS DECIMAL(38,12))) AS DOUBLE) / COUNT(*), 6) AS mape,
      |  round(CAST(SUM(CAST(b.pred - h.n AS DECIMAL(38,12))) AS DOUBLE)
      |    / COUNT(*), 6) AS mean_bias
      |FROM hourly h JOIN base b
      |  ON h.event_type = b.event_type AND h.dow = b.dow AND h.hr = b.hr
      |WHERE NOT h.even
      |GROUP BY h.event_type
      |ORDER BY h.event_type""".stripMargin

  /** §2.33ag — cumulative LTV (ARPU) curve by signup cohort: for each
    * (cohort week, week offset), cumulative revenue per cohort member
    * so far — the payback-period read that prices acquisition. The
    * money path is the qe_retention skeleton with value attached:
    * per-user first-activity cohorts (one rollup), weekly cohort
    * revenue as DECIMAL-exact sums (one combinable pass over facts),
    * then cohort size join + cumulative window over the tiny
    * (cohort × offset) frame only. The cumulative division happens
    * once per output cell on exact decimal operands. */
  def qeLtvCurve(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.load(spark, dir, "events")
    val cohorts = ev.groupBy("user_id")
      .agg(date_trunc("week", min(col("ts"))).as("__cw"))
    val sizes = cohorts.groupBy("__cw")
      .agg(count(lit(1)).as("__n"))
    val weekly = ev.join(cohorts, "user_id")
      .groupBy(col("__cw"),
        (datediff(date_trunc("week", col("ts")), col("__cw")) / 7)
          .cast("int").as("week_offset"))
      .agg(sum(col("value").cast("decimal(18,4)")).cast("decimal(38,4)")
        .as("__rev"))
    val cum = Window.partitionBy("__cw").orderBy("week_offset")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    weekly.join(broadcast(sizes), Seq("__cw"))
      .select(to_date(col("__cw")).as("cohort_week"), col("week_offset"),
        col("__n").as("cohort_size"),
        round(col("__rev").cast("double"), 4).as("week_revenue"),
        round((sum(col("__rev")).over(cum).cast("double") /
          col("__n").cast("double")), 6).as("cum_ltv_per_user"))
      .orderBy("cohort_week", "week_offset")
  }

  val qeLtvCurveSql: String =
    """WITH f AS (
      |  SELECT user_id, date_trunc('week', MIN(CAST(ts AS TIMESTAMP))) AS cw
      |  FROM events GROUP BY user_id
      |), sz AS (
      |  SELECT cw, COUNT(*) AS n FROM f GROUP BY cw
      |), weekly AS (
      |  SELECT f.cw,
      |    CAST(date_diff('day', f.cw, date_trunc('week', CAST(e.ts AS TIMESTAMP))) // 7 AS INT) AS week_offset,
      |    CAST(SUM(CAST(e.value AS DECIMAL(18,4))) AS DECIMAL(38,4)) AS rev
      |  FROM events e JOIN f ON e.user_id = f.user_id
      |  GROUP BY 1, 2
      |)
      |SELECT CAST(w.cw AS DATE) AS cohort_week, w.week_offset,
      |  sz.n AS cohort_size,
      |  round(CAST(w.rev AS DOUBLE), 4) AS week_revenue,
      |  round(CAST(SUM(w.rev) OVER (PARTITION BY w.cw ORDER BY w.week_offset
      |      ROWS UNBOUNDED PRECEDING) AS DOUBLE) / CAST(sz.n AS DOUBLE), 6)
      |    AS cum_ltv_per_user
      |FROM weekly w JOIN sz ON w.cw = sz.cw
      |ORDER BY cohort_week, week_offset""".stripMargin

  /** §2.33ah — stationary distribution of the behavior Markov chain:
    * where does a user's session settle in the long run, versus the
    * raw empirical type share? Eight power iterations v·P over the
    * row-normalized transition matrix of [[qeTransitions]] — the
    * equilibrium read behind "which state actually dominates the
    * product". Scale shape: the chain lives on the tiny type×type
    * frame (the fact table is touched exactly once, for the lead()
    * pass), so each iteration is a join+rollup over ≤ |types|² rows;
    * per-iteration Σₐ v[a]·P[a,b] terms are DECIMAL-cast so the float
    * reduction order is pinned at every step, and the uniform start
    * comes from a window over the type frame (no anchor broadcast).
    * Dangling mass (types with no outgoing edge) leaks identically in
    * both engines — reported unnormalized. Oracle: the same eight
    * iterations UNROLLED as generated CTEs (recursive-term
    * aggregation is not portable SQL). */
  def qeMarkovStationary(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    val byFrom = Window.partitionBy("from_type")
    val all = Window.partitionBy(lit(1))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val events = Tables.load(spark, dir, "events")
    // Tiny frame reused 8 times: materialize once, lineage truncated.
    val trans = graft.operators.Materialize.now(events
      .select(col("user_id"), col("ts"), col("event_id"),
        col("event_type").as("from_type"))
      .withColumn("to_type", lead(col("from_type"), 1).over(w))
      .where(col("to_type").isNotNull)
      .groupBy("from_type", "to_type")
      .agg(count(lit(1)).as("__n"))
      .withColumn("__p",
        col("__n").cast("double") /
          sum(col("__n")).over(byFrom).cast("double"))
      .select(col("from_type"), col("to_type"), col("__p")))
    val share = events.groupBy(col("event_type").as("t"))
      .agg(count(lit(1)).as("__c"))
      .withColumn("__share",
        col("__c").cast("double") / sum(col("__c")).over(all).cast("double"))
    var v = share.select(col("t"),
      (lit(1.0) / count(lit(1)).over(all).cast("double")).as("__v"))
    for (_ <- 1 to 8) {
      v = v.join(trans, v("t") === trans("from_type"))
        .groupBy(col("to_type").as("t2"))
        .agg(sum((col("__v") * col("__p")).cast("decimal(38,12)"))
          .cast("double").as("__v"))
        .select(col("t2").as("t"), col("__v"))
    }
    share.select(col("t").as("event_type"), round(col("__share"), 6).as("empirical_share"))
      .join(v.select(col("t").as("event_type"), round(col("__v"), 6).as("stationary")),
        Seq("event_type"), "left_outer")
      .orderBy("event_type")
  }

  val qeMarkovStationarySql: String = {
    val iters = (1 to 8).map { i =>
      s"""v$i AS (
         |  SELECT p.to_type AS t,
         |    CAST(SUM(CAST(v.v * p.p AS DECIMAL(38,12))) AS DOUBLE) AS v
         |  FROM v${i - 1} v JOIN p ON v.t = p.from_type
         |  GROUP BY p.to_type
         |)""".stripMargin
    }.mkString(", ")
    s"""WITH l AS (
       |  SELECT event_type AS from_type,
       |    lead(event_type) OVER (
       |      PARTITION BY user_id ORDER BY ts, event_id) AS to_type
       |  FROM events
       |), c AS (
       |  SELECT from_type, to_type, COUNT(*) AS n
       |  FROM l WHERE to_type IS NOT NULL GROUP BY 1, 2
       |), p AS (
       |  SELECT from_type, to_type,
       |    CAST(n AS DOUBLE) / CAST(SUM(n) OVER (PARTITION BY from_type)
       |      AS DOUBLE) AS p
       |  FROM c
       |), share AS (
       |  SELECT event_type AS t, COUNT(*) AS c,
       |    CAST(COUNT(*) AS DOUBLE) / CAST(SUM(COUNT(*)) OVER () AS DOUBLE)
       |      AS share
       |  FROM events GROUP BY event_type
       |), v0 AS (
       |  SELECT t, 1.0 / CAST(COUNT(*) OVER () AS DOUBLE) AS v FROM share
       |), $iters
       |SELECT s.t AS event_type, round(s.share, 6) AS empirical_share,
       |  round(v8.v, 6) AS stationary
       |FROM share s LEFT JOIN v8 ON s.t = v8.t
       |ORDER BY event_type""".stripMargin
  }

  /** §2.33bk — transition-entropy profile of the user event chain: per
    * from-state the outgoing-transition entropy H(to|from=i) in nats
    * and its transition-mass weight, plus the three chain-level
    * scalars every row carries — conditional entropy H(to|from)
    * (= the chain's empirical entropy rate), marginal next-event
    * entropy H(to), and their difference, the information gain of
    * knowing the previous event (0 = memoryless stream where Markov
    * modeling buys nothing; large = strongly sequential behavior worth
    * a sequence model). Complements [[qeMarkovStationary]] (WHERE the
    * chain settles) with HOW PREDICTABLE each step is. One lead()
    * window + one groupBy collapse the fact table to the ≤ |types|²
    * pair frame; every entropy sum runs over that tiny frame with
    * DECIMAL(38,12)-quantized p·ln p terms so accumulation is
    * order-exact; the marginal-entropy scalar joins back as a 1-row
    * broadcast (PlanAudit-documented). */
  def qeMarkovEntropy(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    val byFrom = Window.partitionBy("from_type")
    val all = Window.partitionBy(lit(1))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val pairs = Tables.load(spark, dir, "events")
      .select(col("user_id"), col("ts"), col("event_id"),
        col("event_type").as("from_type"))
      .withColumn("to_type", lead(col("from_type"), 1).over(w))
      .where(col("to_type").isNotNull)
      .groupBy("from_type", "to_type")
      .agg(count(lit(1)).as("n"))
    val p = col("n").cast("double") / col("n_out").cast("double")
    val perFrom = pairs
      .withColumn("n_out", sum("n").over(byFrom))
      .withColumn("__t",
        round(-p * log(p), 12).cast("decimal(38,12)"))
      .groupBy("from_type")
      .agg(min("n_out").as("n_out"), sum(col("__t")).as("__h"))
      .withColumn("__N", sum("n_out").over(all))
      .withColumn("weight",
        col("n_out").cast("double") / col("__N").cast("double"))
      .withColumn("__wh",
        round(col("weight") * col("__h").cast("double"), 12)
          .cast("decimal(38,12)"))
      .withColumn("__hc", sum("__wh").over(all).cast("double"))
    val q = col("m").cast("double") / col("__N").cast("double")
    val marg = pairs.groupBy("to_type").agg(sum("n").as("m"))
      .withColumn("__N", sum("m").over(all))
      .select(round(-q * log(q), 12).cast("decimal(38,12)").as("__t"))
      .agg(sum("__t").cast("double").as("__hm"))
    perFrom.crossJoin(broadcast(marg))
      .select(col("from_type"), col("n_out"),
        round(col("weight"), 6).as("weight"),
        round(col("__h").cast("double"), 6).as("row_entropy"),
        round(col("__hc"), 6).as("h_cond"),
        round(col("__hm"), 6).as("h_marg"),
        round(col("__hm") - col("__hc"), 6).as("info_gain"))
      .orderBy("from_type")
  }

  val qeMarkovEntropySql: String =
    """WITH l AS (
      |  SELECT event_type AS from_type,
      |    lead(event_type) OVER (
      |      PARTITION BY user_id ORDER BY ts, event_id) AS to_type
      |  FROM events
      |), c AS (
      |  SELECT from_type, to_type, COUNT(*) AS n
      |  FROM l WHERE to_type IS NOT NULL GROUP BY 1, 2
      |), o AS (
      |  SELECT from_type, n,
      |    SUM(n) OVER (PARTITION BY from_type) AS n_out
      |  FROM c
      |), t AS (
      |  SELECT from_type, n_out,
      |    CAST(round(-(CAST(n AS DOUBLE) / CAST(n_out AS DOUBLE))
      |      * ln(CAST(n AS DOUBLE) / CAST(n_out AS DOUBLE)), 12)
      |      AS DECIMAL(38,12)) AS tm
      |  FROM o
      |), pf AS (
      |  SELECT from_type, MIN(n_out) AS n_out, SUM(tm) AS h
      |  FROM t GROUP BY from_type
      |), pf2 AS (
      |  SELECT from_type, n_out, h, SUM(n_out) OVER () AS nn FROM pf
      |), pf3 AS (
      |  SELECT from_type, n_out, h,
      |    CAST(n_out AS DOUBLE) / CAST(nn AS DOUBLE) AS weight,
      |    CAST(round(CAST(n_out AS DOUBLE) / CAST(nn AS DOUBLE)
      |      * CAST(h AS DOUBLE), 12) AS DECIMAL(38,12)) AS wh
      |  FROM pf2
      |), mg AS (
      |  SELECT to_type, SUM(n) AS m FROM c GROUP BY to_type
      |), mg2 AS (
      |  SELECT m, SUM(m) OVER () AS nn FROM mg
      |), hm AS (
      |  SELECT CAST(SUM(CAST(round(
      |    -(CAST(m AS DOUBLE) / CAST(nn AS DOUBLE))
      |      * ln(CAST(m AS DOUBLE) / CAST(nn AS DOUBLE)), 12)
      |    AS DECIMAL(38,12))) AS DOUBLE) AS hm
      |  FROM mg2
      |)
      |SELECT p.from_type, CAST(p.n_out AS BIGINT) AS n_out,
      |  round(p.weight, 6) AS weight,
      |  round(CAST(p.h AS DOUBLE), 6) AS row_entropy,
      |  round(CAST(SUM(p.wh) OVER () AS DOUBLE), 6) AS h_cond,
      |  round(hm.hm, 6) AS h_marg,
      |  round(hm.hm - CAST(SUM(p.wh) OVER () AS DOUBLE), 6) AS info_gain
      |FROM pf3 p CROSS JOIN hm
      |ORDER BY p.from_type""".stripMargin

  /** Shared-dialect SQL for [[qeShapley]], parameterized only by the
    * events table name: the Spark side runs it over a temp view and
    * the DuckDB oracle over `events`, so both engines evaluate the
    * IDENTICAL text — dialect-shared constructs only (UNION ALL
    * inline tables instead of VALUES/range, `&` bit-tests instead of
    * shifts or popcount builtins, e-notation float literals). */
  private def shapleySql(tbl: String): String = {
    val lattice = (0 until 16).map(i => s"SELECT $i AS c")
      .mkString("\n  UNION ALL ")
    val popcnt = "(v0.c & 1) " +
      "+ CASE WHEN (v0.c & 2) = 2 THEN 1 ELSE 0 END " +
      "+ CASE WHEN (v0.c & 4) = 4 THEN 1 ELSE 0 END " +
      "+ CASE WHEN (v0.c & 8) = 8 THEN 1 ELSE 0 END"
    s"""WITH f AS (
       |  SELECT user_id,
       |    MIN(CASE WHEN event_type = 'purchase' THEN ts END) AS fp,
       |    CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
       |      AS BIGINT) AS np
       |  FROM $tbl GROUP BY user_id
       |), pre AS (
       |  SELECT e.user_id,
       |    MAX(CASE WHEN e.event_type = 'click' THEN 1 ELSE 0 END) * 1
       |    + MAX(CASE WHEN e.event_type = 'error' THEN 1 ELSE 0 END) * 2
       |    + MAX(CASE WHEN e.event_type = 'signup' THEN 1 ELSE 0 END) * 4
       |    + MAX(CASE WHEN e.event_type = 'view' THEN 1 ELSE 0 END) * 8 AS m
       |  FROM $tbl e JOIN f ON e.user_id = f.user_id
       |  WHERE f.fp IS NULL OR e.ts < f.fp
       |  GROUP BY e.user_id
       |), cells AS (
       |  SELECT COALESCE(p.m, 0) AS m, CAST(COUNT(*) AS BIGINT) AS n,
       |    CAST(SUM(f.np) AS BIGINT) AS k
       |  FROM f LEFT JOIN pre p ON f.user_id = p.user_id
       |  GROUP BY COALESCE(p.m, 0)
       |), lattice AS (
       |  $lattice
       |), vals AS (
       |  SELECT l.c,
       |    CAST(SUM(CASE WHEN (l.c & ce.m) = ce.m THEN ce.n ELSE 0 END)
       |      AS BIGINT) AS n_in,
       |    CAST(SUM(CASE WHEN (l.c & ce.m) = ce.m THEN ce.k ELSE 0 END)
       |      AS BIGINT) AS k_in
       |  FROM lattice l CROSS JOIN cells ce
       |  GROUP BY l.c
       |), v AS (
       |  SELECT c, n_in, k_in,
       |    CASE WHEN n_in > 0
       |      THEN CAST(k_in AS DOUBLE) / CAST(n_in AS DOUBLE)
       |      ELSE 0.0e0 END AS v
       |  FROM vals
       |), ch AS (
       |  SELECT 1 AS bit, 'click' AS channel
       |  UNION ALL SELECT 2, 'error'
       |  UNION ALL SELECT 4, 'signup'
       |  UNION ALL SELECT 8, 'view'
       |), terms AS (
       |  SELECT ch.channel,
       |    CAST(round(
       |      (CASE $popcnt
       |         WHEN 0 THEN 6.0e0 / 24.0e0
       |         WHEN 1 THEN 2.0e0 / 24.0e0
       |         WHEN 2 THEN 2.0e0 / 24.0e0
       |         ELSE 6.0e0 / 24.0e0 END)
       |      * (v1.v - v0.v), 12) AS DECIMAL(38,12)) AS t
       |  FROM ch
       |  JOIN v v0 ON (v0.c & ch.bit) = 0
       |  JOIN v v1 ON v1.c = v0.c + ch.bit
       |), shap AS (
       |  SELECT channel, CAST(SUM(t) AS DOUBLE) AS phi
       |  FROM terms GROUP BY channel
       |)
       |SELECT s.channel, round(s.phi, 6) AS shapley,
       |  round((SELECT v FROM v WHERE c = 15), 6) AS v_full,
       |  round((SELECT v FROM v WHERE c = 0), 6) AS v_empty,
       |  round((SELECT v FROM v WHERE c = 15)
       |    - (SELECT v FROM v WHERE c = 0), 6) AS efficiency_gap
       |FROM shap s
       |ORDER BY s.channel""".stripMargin
  }

  /** §2.33bl — exact Shapley-value channel attribution (the
    * cooperative-game credit assignment marketing science prefers over
    * first/last-touch heuristics): coalition value v(C) = EXPECTED
    * PURCHASES per user among users whose pre-first-purchase channel
    * exposure fits inside C (pre-purchase exposure, not lifetime —
    * lifetime sets saturate to the full lattice on any active user
    * base and degenerate to symmetric credit), and each channel's
    * Shapley value φ_i = Σ_C w(|C|)·(v(C∪i)−v(C)) over the 2⁴
    * coalition lattice, with the exact |C|!(k−1−|C|)!/k! weights. The replicated v_full/v_empty/efficiency_gap columns
    * expose the efficiency axiom (Σφ = v(full)−v(∅)) for eyeball
    * verification. Scale shape: ONE per-user aggregation collapses the
    * fact table to ≤2ᵏ exposure cells; the entire lattice computation
    * is over 16-row generated frames (the 16×16 cross join is the
    * PlanAudit-documented bounded lattice). Both engines evaluate the
    * IDENTICAL shared-dialect SQL text, and the per-coalition terms
    * are DECIMAL(38,12)-quantized before summing. */
  def qeShapley(spark: SparkSession, dir: String): DataFrame = {
    Tables.load(spark, dir, "events").createOrReplaceTempView("__shap_events")
    spark.sql(shapleySql("__shap_events"))
  }

  val qeShapleySql: String = shapleySql("events")

  /** §2.33bm — Croston's method for INTERMITTENT demand (daily order
    * counts per priority over the multi-year order calendar, where
    * zero-demand days are the norm): separate SES smoothing of demand
    * SIZE z and inter-demand INTERVAL p (α=0.2), flat forecast rate
    * z/p, backtested on the last 90 days against the naive train-mean
    * rate. SES/Holt/Holt–Winters fit dense series; on intermittent
    * ones they oscillate toward zero between demands — Croston is the
    * standard fix (supply-chain lineage), and the mae vs mae_naive
    * pair shows whether it earns its keep per series. Same scale
    * shape as qe_holt: the fact table collapses to a bounded
    * calendar×priority grid, the sequential fold runs as one
    * `aggregate` HOF per series over the collected train array
    * (state = 4-field struct; the DuckDB oracle carries it as a
    * 4-LIST with a prepended init element — the documented
    * list_reduce struct-accumulator bug workaround), and scoring is
    * decimal-quantized. Counts-as-doubles sums are exact (< 2⁵³), so
    * no fold-order hazard exists in the naive baseline. */
  def qeCroston(spark: SparkSession, dir: String): DataFrame = {
    val orders = Tables.load(spark, dir, "orders")
    val bounds = orders.agg(to_date(min(col("o_orderdate"))).as("d0"),
      to_date(max(col("o_orderdate"))).as("d1"))
    val spine = bounds
      .select(explode(sequence(col("d0"), col("d1"),
        expr("INTERVAL 1 DAY"))).as("day"))
      .withColumn("__k", lit(1))
    val prios = orders.select(col("o_orderpriority")).distinct()
      .withColumn("__k", lit(1))
    val counts = orders
      .groupBy(to_date(col("o_orderdate")).as("day"),
        col("o_orderpriority"))
      .agg(count(lit(1)).as("n"))
    val grid = spine.join(broadcast(prios), "__k")
      .join(counts, Seq("day", "o_orderpriority"), "left_outer")
      .select(col("day"), col("o_orderpriority"),
        coalesce(col("n"), lit(0L)).as("actual"))
      .crossJoin(broadcast(
        bounds.select(date_sub(col("d1"), 90).as("cutday"))))
    val train = grid.where(col("day") <= col("cutday"))
      .groupBy("o_orderpriority")
      .agg(array_sort(collect_list(struct(col("day"), col("actual"))))
        .as("s"))
      .select(col("o_orderpriority"),
        transform(col("s"), x => x.getField("actual").cast("double"))
          .as("ys"))
    val z = (acc: Column) => acc.getField("z")
    val p = (acc: Column) => acc.getField("p")
    val q = (acc: Column) => acc.getField("q")
    val st = (acc: Column) => acc.getField("st")
    val model = train.select(col("o_orderpriority"),
      size(col("ys")).cast("long").as("n_train_days"),
      size(filter(col("ys"), y => y > 0)).cast("long").as("n_demand_days"),
      aggregate(col("ys"),
        struct(lit(0.0).as("z"), lit(0.0).as("p"), lit(0.0).as("q"),
          lit(0.0).as("st")),
        (acc, y) => struct(
          when(y > 0 && st(acc) === 0.0, y)
            .when(y > 0, lit(0.2) * y + lit(0.8) * z(acc))
            .otherwise(z(acc)).as("z"),
          when(y > 0 && st(acc) === 0.0, q(acc) + lit(1.0))
            .when(y > 0,
              lit(0.2) * (q(acc) + lit(1.0)) + lit(0.8) * p(acc))
            .otherwise(p(acc)).as("p"),
          when(y > 0, lit(0.0)).otherwise(q(acc) + lit(1.0)).as("q"),
          when(y > 0, lit(1.0)).otherwise(st(acc)).as("st"))).as("cr"),
      (aggregate(col("ys"), lit(0.0), (a, y) => a + y) /
        size(col("ys"))).as("naive_rate"))
      .where(col("cr.st") === 1.0)
      .select(col("o_orderpriority"), col("n_train_days"),
        col("n_demand_days"), col("cr.z").as("__z"), col("cr.p").as("__p"),
        (col("cr.z") / col("cr.p")).as("__rate"), col("naive_rate"))
    grid.where(col("day") > col("cutday"))
      .join(model, Seq("o_orderpriority"))
      .withColumn("__err",
        round(abs(col("actual").cast("double") - col("__rate")), 6)
          .cast("decimal(18,6)"))
      .withColumn("__errn",
        round(abs(col("actual").cast("double") - col("naive_rate")), 6)
          .cast("decimal(18,6)"))
      .groupBy("o_orderpriority", "n_train_days", "n_demand_days",
        "__z", "__p", "__rate", "naive_rate")
      .agg(count(lit(1)).as("n_scored"),
        sum(col("__err")).as("__se"), sum(col("__errn")).as("__sen"))
      .select(col("o_orderpriority"), col("n_train_days"),
        col("n_demand_days"),
        round(col("__z"), 6).as("z_final"),
        round(col("__p"), 6).as("p_final"),
        round(col("__rate"), 6).as("forecast_rate"),
        round(col("naive_rate"), 6).as("naive_rate"),
        col("n_scored"),
        round(col("__se").cast("double") / col("n_scored"), 6).as("mae"),
        round(col("__sen").cast("double") / col("n_scored"), 6)
          .as("mae_naive"))
      .orderBy("o_orderpriority")
  }

  val qeCrostonSql: String =
    """WITH bounds AS (
      |  SELECT CAST(MIN(o_orderdate) AS DATE) AS d0,
      |         CAST(MAX(o_orderdate) AS DATE) AS d1
      |  FROM orders),
      |spine AS (
      |  SELECT CAST(unnest(generate_series(CAST(d0 AS TIMESTAMP),
      |    CAST(d1 AS TIMESTAMP), INTERVAL 1 DAY)) AS DATE) AS day
      |  FROM bounds),
      |prios AS (SELECT DISTINCT o_orderpriority FROM orders),
      |counts AS (
      |  SELECT CAST(o_orderdate AS DATE) AS day, o_orderpriority,
      |    COUNT(*) AS n
      |  FROM orders GROUP BY 1, 2),
      |grid AS (
      |  SELECT s.day, t.o_orderpriority, COALESCE(c.n, 0) AS actual
      |  FROM spine s CROSS JOIN prios t
      |  LEFT JOIN counts c
      |    ON c.day = s.day AND c.o_orderpriority = t.o_orderpriority),
      |cut AS (SELECT d1 - 90 AS cutday FROM bounds),
      |train AS (
      |  SELECT g.o_orderpriority,
      |    list_transform(list_sort(list({'day': g.day, 'actual': g.actual})),
      |      x -> CAST(x.actual AS DOUBLE)) AS ys
      |  FROM grid g, cut WHERE g.day <= cutday
      |  GROUP BY g.o_orderpriority),
      |model AS (
      |  -- State rides a 4-list [z, p, q, st] with a prepended init
      |  -- element (list_reduce has no init arg, and struct
      |  -- accumulators mis-bind in DuckDB v1.0 — see qe_holt).
      |  SELECT o_orderpriority,
      |    CAST(len(ys) AS BIGINT) AS n_train_days,
      |    CAST(len(list_filter(ys, y -> y > 0)) AS BIGINT)
      |      AS n_demand_days,
      |    list_reduce(list_concat([[0.0e0, 0.0e0, 0.0e0, 0.0e0]],
      |        list_transform(ys, y -> [y, 0.0e0, 0.0e0, 0.0e0])),
      |      (acc, x) -> [
      |        CASE WHEN x[1] > 0 AND acc[4] = 0.0e0 THEN x[1]
      |             WHEN x[1] > 0 THEN 0.2e0 * x[1] + 0.8e0 * acc[1]
      |             ELSE acc[1] END,
      |        CASE WHEN x[1] > 0 AND acc[4] = 0.0e0 THEN acc[3] + 1.0e0
      |             WHEN x[1] > 0
      |               THEN 0.2e0 * (acc[3] + 1.0e0) + 0.8e0 * acc[2]
      |             ELSE acc[2] END,
      |        CASE WHEN x[1] > 0 THEN 0.0e0 ELSE acc[3] + 1.0e0 END,
      |        CASE WHEN x[1] > 0 THEN 1.0e0 ELSE acc[4] END]) AS cr,
      |    list_reduce(list_concat([0.0e0], ys), (a, y) -> a + y)
      |      / len(ys) AS naive_rate
      |  FROM train),
      |fitted AS (
      |  SELECT o_orderpriority, n_train_days, n_demand_days,
      |    cr[1] AS z, cr[2] AS p, cr[1] / cr[2] AS rate, naive_rate
      |  FROM model WHERE cr[4] = 1.0e0),
      |scored AS (
      |  SELECT g.o_orderpriority, m.n_train_days, m.n_demand_days,
      |    m.z, m.p, m.rate, m.naive_rate, g.actual
      |  FROM grid g, cut c, fitted m
      |  WHERE g.day > c.cutday
      |    AND m.o_orderpriority = g.o_orderpriority)
      |SELECT o_orderpriority, n_train_days, n_demand_days,
      |  round(z, 6) AS z_final, round(p, 6) AS p_final,
      |  round(rate, 6) AS forecast_rate,
      |  round(naive_rate, 6) AS naive_rate,
      |  CAST(count(*) AS BIGINT) AS n_scored,
      |  round(CAST(SUM(CAST(round(abs(CAST(actual AS DOUBLE) - rate), 6)
      |    AS DECIMAL(18,6))) AS DOUBLE) / count(*), 6) AS mae,
      |  round(CAST(SUM(CAST(round(abs(CAST(actual AS DOUBLE) - naive_rate),
      |    6) AS DECIMAL(18,6))) AS DOUBLE) / count(*), 6) AS mae_naive
      |FROM scored
      |GROUP BY o_orderpriority, n_train_days, n_demand_days, z, p, rate,
      |  naive_rate
      |ORDER BY o_orderpriority""".stripMargin

  /** §2.33bn — out-of-order arrival profile (the watermark-tuning
    * readout), over BOTH ingestion shapes in one report: an element is
    * late by how far its event time sits behind the running max event
    * time already seen in its partition's INGESTION order. Per group:
    * late share, mean lateness over late rows, and the max + exact
    * p99 lateness in seconds — p99 IS the watermark delay a
    * `withWatermark` call should use instead of folklore. The two
    * stream shapes are the lesson: `events_by_ingestion` (per-user
    * append order) profiles all-zero — the feed is time-ordered,
    * watermark ≈ 0 suffices — while `orders_by_key` (a CDC backfill
    * read in primary-key order) is ~100% late with a years-deep p99:
    * the readout that says "do NOT watermark this feed, time-
    * repartition it first". Each side is one key-partitioned window
    * (user / priority — never a global sort) + one rollup; exact
    * `percentile` with the documented approx swap-in at scale. */
  def qeLateness(spark: SparkSession, dir: String): DataFrame = {
    def profile(df: DataFrame, part: String, ord: String, ts: Column,
        grp: Column, stream: String): DataFrame = {
      val w = Window.partitionBy(part).orderBy(ord)
        .rowsBetween(Window.unboundedPreceding, -1)
      df.select(col(part), col(ord), grp.as("grp"), ts.as("__us"))
        .withColumn("__late",
          greatest(lit(0L), coalesce(max(col("__us")).over(w), lit(0L))
            - col("__us")))
        .groupBy("grp")
        .agg(count(lit(1)).as("n_rows"),
          sum(when(col("__late") > 0, 1L).otherwise(0L)).as("n_late"),
          round(sum(when(col("__late") > 0, col("__late")))
            .cast("double") / lit(1000000.0) /
            sum(when(col("__late") > 0, 1L)).cast("double"), 6)
            .as("mean_late_s"),
          round(max(col("__late")).cast("double") / lit(1000000.0), 6)
            .as("max_late_s"),
          round(expr("percentile(__late, 0.99D)") / lit(1000000.0), 6)
            .as("p99_late_s"))
        .withColumn("late_share",
          round(col("n_late").cast("double") / col("n_rows"), 6))
        .withColumn("stream", lit(stream))
    }
    val ev = profile(Tables.load(spark, dir, "events"),
      "user_id", "event_id", unix_micros(col("ts")), col("event_type"),
      "events_by_ingestion")
    val ord = profile(Tables.load(spark, dir, "orders"),
      "o_orderpriority", "o_orderkey", unix_micros(col("o_orderdate")),
      col("o_orderpriority"), "orders_by_key")
    ev.unionByName(ord)
      .select("stream", "grp", "n_rows", "n_late", "late_share",
        "mean_late_s", "max_late_s", "p99_late_s")
      .orderBy("stream", "grp")
  }

  val qeLatenessSql: String =
    """WITH le AS (
      |  SELECT event_type AS grp,
      |    greatest(0, COALESCE(MAX(epoch_us(ts)) OVER (
      |      PARTITION BY user_id ORDER BY event_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
      |      - epoch_us(ts)) AS late
      |  FROM events
      |), lo AS (
      |  SELECT o_orderpriority AS grp,
      |    greatest(0, COALESCE(MAX(epoch_us(o_orderdate)) OVER (
      |      PARTITION BY o_orderpriority ORDER BY o_orderkey
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
      |      - epoch_us(o_orderdate)) AS late
      |  FROM orders
      |), u AS (
      |  SELECT 'events_by_ingestion' AS stream, grp, late FROM le
      |  UNION ALL
      |  SELECT 'orders_by_key', grp, late FROM lo
      |)
      |SELECT stream, grp, COUNT(*) AS n_rows,
      |  CAST(SUM(CASE WHEN late > 0 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_late,
      |  round(CAST(SUM(CASE WHEN late > 0 THEN 1 ELSE 0 END) AS DOUBLE)
      |    / COUNT(*), 6) AS late_share,
      |  round(CAST(SUM(CASE WHEN late > 0 THEN late END) AS DOUBLE)
      |    / 1000000.0e0
      |    / CAST(SUM(CASE WHEN late > 0 THEN 1 END) AS DOUBLE), 6)
      |    AS mean_late_s,
      |  round(CAST(MAX(late) AS DOUBLE) / 1000000.0e0, 6) AS max_late_s,
      |  round(quantile_cont(late, 0.99e0) / 1000000.0e0, 6) AS p99_late_s
      |FROM u
      |GROUP BY stream, grp
      |ORDER BY stream, grp""".stripMargin

  /** §2.33bo — rate-vs-mix decomposition (the Oaxaca/Kitagawa
    * decomposition analytics reviews run when a headline metric
    * moves): the change in mean order value between the two calendar
    * halves splits, per priority segment, into a RATE effect
    * (w₁·(r₂−r₁): the segment's own mean moved), a MIX effect
    * ((w₂−w₁)·r₁: traffic shifted between segments), and the
    * interaction — answering "did behavior change, or did the mix?"
    * exactly, since the three effects sum to the headline delta by
    * construction (the replicated total columns let a reader verify).
    * One conditional-sum pass collapses the fact table to the
    * 2×|segments| cell frame (period cut = broadcast 1-row calendar
    * midpoint, allowlisted); every downstream window runs on that
    * tiny frame; effect totals sum DECIMAL(38,12)-quantized terms.
    * Rates divide exact DECIMAL sums, weights exact longs. */
  def qeMixDecomposition(spark: SparkSession, dir: String): DataFrame = {
    val orders = Tables.load(spark, dir, "orders")
    val mid = orders.agg(((min(unix_micros(col("o_orderdate"))) +
      max(unix_micros(col("o_orderdate")))).cast("long") / 2)
      .cast("long").as("__mid"))
    val cells = orders.crossJoin(broadcast(mid))
      .withColumn("__p2", unix_micros(col("o_orderdate")) >= col("__mid"))
      .groupBy("o_orderpriority", "__p2")
      .agg(count(lit(1)).as("__n"),
        sum(col("o_totalprice").cast("decimal(18,4)")).as("__s"))
      .withColumn("__w", col("__n").cast("double") /
        sum("__n").over(Window.partitionBy("__p2")).cast("double"))
      .withColumn("__r", col("__s").cast("double") / col("__n"))
    val perSeg = cells.groupBy("o_orderpriority")
      .agg(max(when(!col("__p2"), col("__w"))).as("w1"),
        max(when(col("__p2"), col("__w"))).as("w2"),
        max(when(!col("__p2"), col("__r"))).as("r1"),
        max(when(col("__p2"), col("__r"))).as("r2"))
      .withColumn("__rate", col("w1") * (col("r2") - col("r1")))
      .withColumn("__mix", (col("w2") - col("w1")) * col("r1"))
      .withColumn("__inter",
        (col("w2") - col("w1")) * (col("r2") - col("r1")))
    val all = Window.partitionBy(lit(1))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    def tot(c: Column): Column =
      sum(round(c, 12).cast("decimal(38,12)")).over(all).cast("double")
    perSeg.select(col("o_orderpriority"),
      round(col("w1"), 6).as("w1"), round(col("w2"), 6).as("w2"),
      round(col("r1"), 6).as("r1"), round(col("r2"), 6).as("r2"),
      round(col("__rate"), 6).as("rate_effect"),
      round(col("__mix"), 6).as("mix_effect"),
      round(col("__inter"), 6).as("interaction"),
      round(tot(col("__rate")), 6).as("total_rate_effect"),
      round(tot(col("__mix")), 6).as("total_mix_effect"),
      round(tot(col("__inter")), 6).as("total_interaction"),
      round(tot(col("__rate")) + tot(col("__mix")) + tot(col("__inter")),
        6).as("delta_total"))
      .orderBy("o_orderpriority")
  }

  val qeMixDecompositionSql: String =
    """WITH mid AS (
      |  SELECT (MIN(epoch_us(o_orderdate)) + MAX(epoch_us(o_orderdate)))
      |    // 2 AS m
      |  FROM orders
      |), cells AS (
      |  SELECT o_orderpriority,
      |    epoch_us(o_orderdate) >= mid.m AS p2,
      |    COUNT(*) AS n,
      |    SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS s
      |  FROM orders, mid
      |  GROUP BY 1, 2
      |), wr AS (
      |  SELECT o_orderpriority, p2, n,
      |    CAST(n AS DOUBLE) / CAST(SUM(n) OVER (PARTITION BY p2)
      |      AS DOUBLE) AS w,
      |    CAST(s AS DOUBLE) / n AS r
      |  FROM cells
      |), seg AS (
      |  SELECT o_orderpriority,
      |    MAX(CASE WHEN NOT p2 THEN w END) AS w1,
      |    MAX(CASE WHEN p2 THEN w END) AS w2,
      |    MAX(CASE WHEN NOT p2 THEN r END) AS r1,
      |    MAX(CASE WHEN p2 THEN r END) AS r2
      |  FROM wr GROUP BY o_orderpriority
      |), eff AS (
      |  SELECT o_orderpriority, w1, w2, r1, r2,
      |    w1 * (r2 - r1) AS rate_e,
      |    (w2 - w1) * r1 AS mix_e,
      |    (w2 - w1) * (r2 - r1) AS inter_e
      |  FROM seg
      |)
      |SELECT o_orderpriority,
      |  round(w1, 6) AS w1, round(w2, 6) AS w2,
      |  round(r1, 6) AS r1, round(r2, 6) AS r2,
      |  round(rate_e, 6) AS rate_effect,
      |  round(mix_e, 6) AS mix_effect,
      |  round(inter_e, 6) AS interaction,
      |  round(CAST(SUM(CAST(round(rate_e, 12) AS DECIMAL(38,12)))
      |    OVER () AS DOUBLE), 6) AS total_rate_effect,
      |  round(CAST(SUM(CAST(round(mix_e, 12) AS DECIMAL(38,12)))
      |    OVER () AS DOUBLE), 6) AS total_mix_effect,
      |  round(CAST(SUM(CAST(round(inter_e, 12) AS DECIMAL(38,12)))
      |    OVER () AS DOUBLE), 6) AS total_interaction,
      |  round(CAST(SUM(CAST(round(rate_e, 12) AS DECIMAL(38,12)))
      |    OVER () AS DOUBLE)
      |    + CAST(SUM(CAST(round(mix_e, 12) AS DECIMAL(38,12)))
      |      OVER () AS DOUBLE)
      |    + CAST(SUM(CAST(round(inter_e, 12) AS DECIMAL(38,12)))
      |      OVER () AS DOUBLE), 6) AS delta_total
      |FROM eff
      |ORDER BY o_orderpriority""".stripMargin

  /** §2.33bp — log-rank test between the md5-split arms' time-to-
    * conversion curves (the principled A/B readout for TIME-TO-EVENT
    * outcomes, where a means t-test is wrong twice: censoring biases
    * the mean, and speed differences can hide behind equal totals).
    * Same 48 h lifetable construction as [[qeSurvival]], per arm; at
    * each hour with deaths the hypergeometric expectation
    * E₁ = d·n₁/n and variance d·(n₁/n)(1−n₁/n)(n−d)/(n−1) accumulate
    * into the replicated z statistic Σ(d₁−E₁)/√ΣV — all per-hour
    * inputs are exact longs, the two running sums are
    * DECIMAL(38,12)-quantized, and every window runs over the
    * ≤ horizon+1-row merged lifetable. With a null md5 split the
    * statistic calibrates near zero (the same null-calibration
    * discipline as qe_did). */
  def qeLogrank(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.Portable.md5Bucket
    val events = Tables.load(spark, dir, "events")
    val horizon = 48L
    val perUser = events.groupBy("user_id")
      .agg(min(unix_micros(col("ts"))).as("__f"),
        min(when(col("event_type") === "purchase",
          unix_micros(col("ts")))).as("__p"))
      .withColumn("__arm",
        (md5Bucket("logrank", col("user_id"), 100) < 50).cast("int"))
      .withColumn("__th", expr("(__p - __f) div 3600000000"))
      .select(col("__arm"),
        when(col("__p").isNotNull && col("__th") < horizon, col("__th"))
          .otherwise(lit(horizon)).as("t_hours"),
        (col("__p").isNotNull && col("__th") < horizon).as("__death"))
    val lifetable = perUser.groupBy("t_hours", "__arm")
      .agg(count(lit(1)).as("__n"),
        sum(when(col("__death"), 1L).otherwise(0L)).as("__d"))
    val atRisk = Window.partitionBy("__arm")
      .orderBy(col("t_hours").desc)
    val merged = lifetable
      .withColumn("__risk", sum("__n").over(atRisk))
      .groupBy("t_hours")
      .agg(sum(when(col("__arm") === 1, col("__risk"))).as("n1"),
        sum(when(col("__arm") === 0, col("__risk"))).as("n2"),
        sum(when(col("__arm") === 1, col("__d"))).as("d1"),
        sum(when(col("__arm") === 0, col("__d"))).as("d2"))
      .select(col("t_hours"),
        coalesce(col("n1"), lit(0L)).as("n1"),
        coalesce(col("n2"), lit(0L)).as("n2"),
        coalesce(col("d1"), lit(0L)).as("d1"),
        coalesce(col("d2"), lit(0L)).as("d2"))
    // An arm absent at hour t is still at risk with the count it
    // carries at its NEXT present hour (risk sets are suffix sums) —
    // fill by a backward-looking max over the ordered frame.
    val fwd = Window.orderBy(col("t_hours").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val filled = merged
      .withColumn("n1", max("n1").over(fwd))
      .withColumn("n2", max("n2").over(fwd))
      .where(col("d1") + col("d2") > 0)
    val n = col("n1") + col("n2")
    val d = col("d1") + col("d2")
    val p1 = col("n1").cast("double") / n.cast("double")
    val e1 = d.cast("double") * p1
    val v = when(n > 1,
      d.cast("double") * p1 * (lit(1.0) - p1) *
        (n - d).cast("double") / (n - 1).cast("double"))
      .otherwise(lit(0.0))
    val all = Window.partitionBy(lit(1))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val sumOE = sum(round(col("d1").cast("double") - e1, 12)
      .cast("decimal(38,12)")).over(all).cast("double")
    val sumV = sum(round(v, 12).cast("decimal(38,12)")).over(all)
      .cast("double")
    filled
      .select(col("t_hours"), col("n1"), col("n2"), col("d1"), col("d2"),
        round(e1, 6).as("e1"), round(v, 6).as("var_t"),
        round(sumOE, 6).as("sum_o_minus_e"),
        round(when(sumV > 0, sumOE / sqrt(sumV)), 6).as("z"),
        round(when(sumV > 0, sumOE * sumOE / sumV), 6).as("chi2"))
      .orderBy("t_hours")
  }

  val qeLogrankSql: String =
    """WITH f AS (
      |  SELECT user_id, MIN(epoch_us(ts)) AS fus,
      |    MIN(CASE WHEN event_type = 'purchase' THEN epoch_us(ts) END)
      |      AS pus
      |  FROM events GROUP BY user_id
      |), per_user AS (
      |  SELECT
      |    CASE WHEN ('0x' || substr(md5('logrank:' || user_id), 1, 8))
      |      ::BIGINT % 100 < 50 THEN 1 ELSE 0 END AS arm,
      |    CASE WHEN pus IS NOT NULL AND (pus - fus) // 3600000000 < 48
      |         THEN (pus - fus) // 3600000000 ELSE 48 END AS t_hours,
      |    (pus IS NOT NULL AND (pus - fus) // 3600000000 < 48) AS death
      |  FROM f
      |), lifetable AS (
      |  SELECT t_hours, arm, COUNT(*) AS n,
      |    SUM(CASE WHEN death THEN 1 ELSE 0 END) AS d
      |  FROM per_user GROUP BY 1, 2
      |), risk AS (
      |  SELECT t_hours, arm, d,
      |    SUM(n) OVER (PARTITION BY arm ORDER BY t_hours DESC) AS r
      |  FROM lifetable
      |), merged AS (
      |  SELECT t_hours,
      |    COALESCE(SUM(CASE WHEN arm = 1 THEN r END), 0) AS n1,
      |    COALESCE(SUM(CASE WHEN arm = 0 THEN r END), 0) AS n2,
      |    COALESCE(SUM(CASE WHEN arm = 1 THEN d END), 0) AS d1,
      |    COALESCE(SUM(CASE WHEN arm = 0 THEN d END), 0) AS d2
      |  FROM risk GROUP BY t_hours
      |), filled AS (
      |  SELECT t_hours,
      |    MAX(n1) OVER (ORDER BY t_hours DESC
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS n1,
      |    MAX(n2) OVER (ORDER BY t_hours DESC
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS n2,
      |    d1, d2
      |  FROM merged
      |), terms AS (
      |  SELECT t_hours, n1, n2, d1, d2,
      |    CAST(d1 + d2 AS DOUBLE)
      |      * (CAST(n1 AS DOUBLE) / CAST(n1 + n2 AS DOUBLE)) AS e1,
      |    CASE WHEN n1 + n2 > 1 THEN
      |      CAST(d1 + d2 AS DOUBLE)
      |        * (CAST(n1 AS DOUBLE) / CAST(n1 + n2 AS DOUBLE))
      |        * (1.0e0 - CAST(n1 AS DOUBLE) / CAST(n1 + n2 AS DOUBLE))
      |        * CAST(n1 + n2 - d1 - d2 AS DOUBLE)
      |        / CAST(n1 + n2 - 1 AS DOUBLE)
      |      ELSE 0.0e0 END AS v
      |  FROM filled WHERE d1 + d2 > 0
      |), sums AS (
      |  SELECT t_hours, n1, n2, d1, d2, e1, v,
      |    CAST(SUM(CAST(round(CAST(d1 AS DOUBLE) - e1, 12)
      |      AS DECIMAL(38,12))) OVER () AS DOUBLE) AS soe,
      |    CAST(SUM(CAST(round(v, 12) AS DECIMAL(38,12))) OVER ()
      |      AS DOUBLE) AS sv
      |  FROM terms
      |)
      |SELECT t_hours, CAST(n1 AS BIGINT) AS n1, CAST(n2 AS BIGINT) AS n2,
      |  CAST(d1 AS BIGINT) AS d1, CAST(d2 AS BIGINT) AS d2,
      |  round(e1, 6) AS e1, round(v, 6) AS var_t,
      |  round(soe, 6) AS sum_o_minus_e,
      |  round(CASE WHEN sv > 0 THEN soe / sqrt(sv) END, 6) AS z,
      |  round(CASE WHEN sv > 0 THEN soe * soe / sv END, 6) AS chi2
      |FROM sums
      |ORDER BY t_hours""".stripMargin

  /** §2.33bq — one-way ANOVA across order-priority segments: does mean
    * order value differ ANYWHERE among the k groups, in one F test —
    * the k-group generalization the pairwise t-test family (33q)
    * can't answer without k² comparisons and a multiplicity problem.
    * Per group n and mean, with the replicated F statistic, both
    * degrees of freedom, and η² (SSB/SST — the effect-size read the
    * F number alone hides). Moment discipline as qe_ab_ttest: values
    * aggregate as exact DECIMAL sums (Σx as DECIMAL(38,4), Σx² as
    * DECIMAL(38,8) — one combinable pass), doubles appear only in
    * the final closed-form moments; the 5-term between-group sum is
    * DECIMAL-quantized. Everything after the one groupBy runs on the
    * k-row frame. */
  def qeAnova(spark: SparkSession, dir: String): DataFrame = {
    val xd = col("o_totalprice").cast("decimal(18,4)")
    val g = Tables.load(spark, dir, "orders")
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n"),
        sum(xd).as("s1"),
        sum(xd * xd).as("s2"))
    val all = Window.partitionBy(lit(1))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val s1d = col("s1").cast("double")
    val term = round(s1d * s1d / col("n").cast("double"), 6)
      .cast("decimal(38,12)")
    val enriched = g
      .withColumn("__k", count(lit(1)).over(all))
      .withColumn("__N", sum("n").over(all))
      .withColumn("__S1", sum("s1").over(all).cast("double"))
      .withColumn("__S2", sum("s2").over(all).cast("double"))
      .withColumn("__sb", sum(term).over(all).cast("double"))
    val ssb = col("__sb") -
      col("__S1") * col("__S1") / col("__N").cast("double")
    val ssw = col("__S2") - col("__sb")
    val dfb = (col("__k") - 1).cast("double")
    val dfw = (col("__N") - col("__k")).cast("double")
    val f = (ssb / dfb) / (ssw / dfw)
    enriched.select(col("o_orderpriority"), col("n"),
      round(s1d / col("n").cast("double"), 6).as("mean_value"),
      round(f, 6).as("f_stat"),
      col("__k").cast("bigint").minus(1).as("df_between"),
      (col("__N") - col("__k")).cast("bigint").as("df_within"),
      round(ssb / (ssb + ssw), 6).as("eta_sq"))
      .orderBy("o_orderpriority")
  }

  val qeAnovaSql: String =
    """WITH g AS (
      |  SELECT o_orderpriority, COUNT(*) AS n,
      |    SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS s1,
      |    -- (19,4) forces HUGEINT storage: DuckDB's int64 DECIMAL(18)
      |    -- multiply overflows on these magnitudes; the product is
      |    -- exact either way, so the Spark side can stay at (18,4).
      |    SUM(CAST(o_totalprice AS DECIMAL(19,4))
      |      * CAST(o_totalprice AS DECIMAL(19,4))) AS s2
      |  FROM orders GROUP BY o_orderpriority
      |), e AS (
      |  SELECT o_orderpriority, n,
      |    CAST(s1 AS DOUBLE) AS s1d,
      |    COUNT(*) OVER () AS k,
      |    SUM(n) OVER () AS nn,
      |    CAST(SUM(s1) OVER () AS DOUBLE) AS gs1,
      |    CAST(SUM(s2) OVER () AS DOUBLE) AS gs2,
      |    CAST(SUM(CAST(round(CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE)
      |      / CAST(n AS DOUBLE), 6) AS DECIMAL(38,12))) OVER ()
      |      AS DOUBLE) AS sb
      |  FROM g
      |), m AS (
      |  SELECT o_orderpriority, n, s1d, k, nn, sb,
      |    sb - gs1 * gs1 / CAST(nn AS DOUBLE) AS ssb,
      |    gs2 - sb AS ssw
      |  FROM e
      |)
      |SELECT o_orderpriority, n,
      |  round(s1d / CAST(n AS DOUBLE), 6) AS mean_value,
      |  round((ssb / CAST(k - 1 AS DOUBLE))
      |    / (ssw / CAST(nn - k AS DOUBLE)), 6) AS f_stat,
      |  CAST(k - 1 AS BIGINT) AS df_between,
      |  CAST(nn - k AS BIGINT) AS df_within,
      |  round(ssb / (ssb + ssw), 6) AS eta_sq
      |FROM m
      |ORDER BY o_orderpriority""".stripMargin

  /** §2.33br — log-log price elasticity of demand per brand: the OLS
    * slope of ln(quantity) on ln(unit price) across line items — the
    * textbook demand-curve readout (slope ≈ −1 = unit-elastic;
    * magnitudes > 1 = revenue lost by raising price), with r² saying
    * whether the brand's demand curve is real or noise. One key join
    * to the part dimension for the brand label, then ONE combinable
    * aggregation per brand over DECIMAL(38,12)-quantized ln-term
    * sums (the float-accumulation discipline every ln-based operator
    * here follows); the closed-form slope/r² run on the |brands|-row
    * frame. Degenerate brands (no price variance) report NULL via
    * the guarded division. */
  def qeElasticity(spark: SparkSession, dir: String): DataFrame = {
    def q(c: Column): Column = round(c, 12).cast("decimal(38,12)")
    val x = log(col("l_extendedprice") / col("l_quantity"))
    val y = log(col("l_quantity"))
    // loadCompute (r14): the stage profile measured the whole quantize+
    // ln pipeline running in ONE task (2.5 s of a 2.9 s query) behind
    // the single-row-group scan; the row-group-gated rebalance spreads
    // the 5 decimal quantizations across the session's cores and is a
    // no-op on a sanely-laid-out corpus.
    val g = Tables.loadCompute(spark, dir, "lineitem")
      .join(Tables.load(spark, dir, "part")
        .select(col("p_partkey"), col("p_brand")),
        col("l_partkey") === col("p_partkey"))
      .select(col("p_brand"), q(x).as("qx"), q(y).as("qy"),
        q(x * x).as("qxx"), q(y * y).as("qyy"), q(x * y).as("qxy"))
      .groupBy("p_brand")
      .agg(count(lit(1)).as("n"),
        sum("qx").cast("double").as("sx"),
        sum("qy").cast("double").as("sy"),
        sum("qxx").cast("double").as("sxx"),
        sum("qyy").cast("double").as("syy"),
        sum("qxy").cast("double").as("sxy"))
    val nd = col("n").cast("double")
    val cov = nd * col("sxy") - col("sx") * col("sy")
    val vx = nd * col("sxx") - col("sx") * col("sx")
    val vy = nd * col("syy") - col("sy") * col("sy")
    g.select(col("p_brand"), col("n"),
      round(when(vx > 0, cov / vx), 6).as("elasticity"),
      round(when(vx > 0 && vy > 0, cov * cov / (vx * vy)), 6).as("r_sq"))
      .orderBy("p_brand")
  }

  val qeElasticitySql: String =
    """WITH t AS (
      |  SELECT p.p_brand,
      |    CAST(round(ln(l.l_extendedprice / l.l_quantity), 12)
      |      AS DECIMAL(38,12)) AS qx,
      |    CAST(round(ln(l.l_quantity), 12) AS DECIMAL(38,12)) AS qy,
      |    CAST(round(ln(l.l_extendedprice / l.l_quantity)
      |      * ln(l.l_extendedprice / l.l_quantity), 12)
      |      AS DECIMAL(38,12)) AS qxx,
      |    CAST(round(ln(l.l_quantity) * ln(l.l_quantity), 12)
      |      AS DECIMAL(38,12)) AS qyy,
      |    CAST(round(ln(l.l_extendedprice / l.l_quantity)
      |      * ln(l.l_quantity), 12) AS DECIMAL(38,12)) AS qxy
      |  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
      |), g AS (
      |  SELECT p_brand, COUNT(*) AS n,
      |    CAST(SUM(qx) AS DOUBLE) AS sx, CAST(SUM(qy) AS DOUBLE) AS sy,
      |    CAST(SUM(qxx) AS DOUBLE) AS sxx,
      |    CAST(SUM(qyy) AS DOUBLE) AS syy,
      |    CAST(SUM(qxy) AS DOUBLE) AS sxy
      |  FROM t GROUP BY p_brand
      |), m AS (
      |  SELECT p_brand, n,
      |    CAST(n AS DOUBLE) * sxy - sx * sy AS cov,
      |    CAST(n AS DOUBLE) * sxx - sx * sx AS vx,
      |    CAST(n AS DOUBLE) * syy - sy * sy AS vy
      |  FROM g
      |)
      |SELECT p_brand, n,
      |  round(CASE WHEN vx > 0 THEN cov / vx END, 6) AS elasticity,
      |  round(CASE WHEN vx > 0 AND vy > 0 THEN cov * cov / (vx * vy) END,
      |    6) AS r_sq
      |FROM m
      |ORDER BY p_brand""".stripMargin

  /** §2.33p — heavy-hitter event types via the mergeable Misra–Gries
    * sketch ([[graft.operators.HeavyHitters]]): bounded O(capacity)
    * state per partial combine instead of groupBy-count's
    * one-shuffle-key-per-distinct-value — the unbounded-cardinality
    * swap-in §2.13f names (top URLs / user-agents / tokens at 100 TB).
    * Capacity 16 exceeds the event-type cardinality here, so the
    * sketch is PROVABLY the exact counts (MG decrements never fire)
    * and the plain count-rank SQL is a value-exact oracle for the
    * whole sketch pipeline — build, merge tree, sorted finish; the
    * lossy-regime error bounds are pinned by HeavyHittersSpec. */
  def qeTopkSketch(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "events")
      .agg(graft.operators.HeavyHitters.topValues(16)(col("event_type"))
        .as("__tv"))
      .select(posexplode(col("__tv")).as(Seq("__pos", "__s")))
      .select(col("__s._1").as("event_type"),
        col("__s._2").as("n_events"),
        (col("__pos") + 1).cast("int").as("rank"))
      .orderBy("rank")

  val qeTopkSketchSql: String =
    """SELECT event_type, COUNT(*) AS n_events,
      |  CAST(ROW_NUMBER() OVER (ORDER BY COUNT(*) DESC, event_type)
      |    AS INTEGER) AS rank
      |FROM events
      |GROUP BY event_type
      |ORDER BY rank""".stripMargin

  /** §2.33ak — join-key skew diagnostic for a prospective user_id
    * join/aggregation: the one-page read that tells the planner whether
    * plain hash partitioning survives or [[graft.operators.SkewJoin]]-
    * style salting is needed, and with what factor. One combinable
    * per-key count collapse, then a 1-row fold: key count, row count,
    * max / interpolated-p50 / p99 key sizes, the hottest key's share,
    * and suggested_salt = ceil(max / p99) — the multiple by which the
    * hottest key exceeds the p99 task size (1 = no salting needed).
    * Exact `percentile` over the collapsed key frame; approx_percentile
    * is the unbounded-key swap-in (same shape as q_percentiles'). */
  def qeSkewReport(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "events")
      .groupBy("user_id").agg(count(lit(1)).as("__c"))
      .agg(count(lit(1)).as("n_keys"),
        sum(col("__c")).as("n_rows"),
        max(col("__c")).as("max_key_rows"),
        expr("percentile(__c, array(0.5D, 0.99D))").as("__p"))
      .select(col("n_keys"), col("n_rows"), col("max_key_rows"),
        round(element_at(col("__p"), 1), 6).as("p50_key_rows"),
        round(element_at(col("__p"), 2), 6).as("p99_key_rows"),
        round(col("max_key_rows").cast("double") / col("n_rows"), 6)
          .as("top_key_share"),
        ceil(col("max_key_rows").cast("double") / element_at(col("__p"), 2))
          .as("suggested_salt"))

  val qeSkewReportSql: String =
    """WITH c AS (
      |  SELECT user_id, COUNT(*) AS c FROM events GROUP BY user_id
      |)
      |SELECT COUNT(*) AS n_keys, CAST(SUM(c) AS BIGINT) AS n_rows,
      |  MAX(c) AS max_key_rows,
      |  round(quantile_cont(c, 0.5), 6) AS p50_key_rows,
      |  round(quantile_cont(c, 0.99), 6) AS p99_key_rows,
      |  round(CAST(MAX(c) AS DOUBLE) / SUM(c), 6) AS top_key_share,
      |  CAST(ceil(CAST(MAX(c) AS DOUBLE) / quantile_cont(c, 0.99)) AS BIGINT)
      |    AS suggested_salt
      |FROM c""".stripMargin

  /** §2.33al — lead/lag cross-correlation of two event types' hourly
    * volumes ("does view activity lead purchase activity, and by how
    * many hours"): Pearson r of view(h) vs purchase(h+lag) for lag ∈
    * [-2, +2]. Hours become INTEGER indices (hour-truncated micros div
    * 3.6e9 — exact in both engines, no interval arithmetic), the
    * zero-filled hour spine generates from the 1-row bounds aggregate
    * (sequence + explode, no cross join), the lag fan-out is a 5-way
    * map-side explode, and every sufficient statistic is an integer
    * sum — exact under any accumulation order; one double expression
    * at the end. Degenerate (zero-variance) lags report NULL rather
    * than an engine-dependent NaN. */
  def qeXcorr(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.load(spark, dir, "events")
      .where(col("event_type").isin("view", "purchase"))
      .select(expr("unix_micros(date_trunc('hour', ts)) div 3600000000")
        .as("hi"), col("event_type"))
    def side(t: String, cnt: String) = ev.where(col("event_type") === t)
      .groupBy("hi").agg(count(lit(1)).as(cnt))
    val spine = ev.agg(min(col("hi")).as("__lo"), max(col("hi")).as("__hi"))
      .select(explode(sequence(col("__lo"), col("__hi"))).as("hi"))
    val xs = spine.join(side("view", "__xc"), Seq("hi"), "left")
      .select(col("hi"), coalesce(col("__xc"), lit(0L)).as("x"))
      .withColumn("lag", explode(typedLit(Seq(-2, -1, 0, 1, 2))))
      .withColumn("__hy", col("hi") + col("lag"))
    val ys = spine.join(side("purchase", "__yc"), Seq("hi"), "left")
      .select(col("hi").as("__hy"), coalesce(col("__yc"), lit(0L)).as("y"))
    val j = xs.join(ys, "__hy")
    val num = (col("__n") * col("__sxy") - col("__sx") * col("__sy"))
      .cast("double")
    val den = sqrt((col("__n") * col("__sxx") - col("__sx") * col("__sx"))
        .cast("double")) *
      sqrt((col("__n") * col("__syy") - col("__sy") * col("__sy"))
        .cast("double"))
    j.groupBy("lag")
      .agg(count(lit(1)).as("__n"), sum(col("x")).as("__sx"),
        sum(col("y")).as("__sy"), sum(col("x") * col("y")).as("__sxy"),
        sum(col("x") * col("x")).as("__sxx"),
        sum(col("y") * col("y")).as("__syy"))
      .select(col("lag"), col("__n").as("n_hours"),
        when(den === 0.0, lit(null)).otherwise(round(num / den, 6))
          .as("pearson_r"))
      .orderBy("lag")
  }

  val qeXcorrSql: String =
    """WITH ev AS (
      |  SELECT epoch_us(date_trunc('hour', ts)) // 3600000000 AS hi,
      |    event_type
      |  FROM events WHERE event_type IN ('view', 'purchase')
      |), b AS (
      |  SELECT MIN(hi) AS lo, MAX(hi) AS hix FROM ev
      |), spine AS (
      |  SELECT unnest(range(lo, hix + 1)) AS hi FROM b
      |), x AS (
      |  SELECT s.hi, COALESCE(c.n, 0) AS x FROM spine s
      |  LEFT JOIN (SELECT hi, COUNT(*) AS n FROM ev
      |             WHERE event_type = 'view' GROUP BY hi) c USING (hi)
      |), y AS (
      |  SELECT s.hi, COALESCE(c.n, 0) AS y FROM spine s
      |  LEFT JOIN (SELECT hi, COUNT(*) AS n FROM ev
      |             WHERE event_type = 'purchase' GROUP BY hi) c USING (hi)
      |), lags AS (
      |  SELECT unnest([-2, -1, 0, 1, 2]) AS lag
      |), p AS (
      |  SELECT l.lag, x.x, y.y
      |  FROM lags l JOIN x ON TRUE JOIN y ON y.hi = x.hi + l.lag
      |), s AS (
      |  SELECT lag, COUNT(*) AS n, SUM(x) AS sx, SUM(y) AS sy,
      |    SUM(x * y) AS sxy, SUM(x * x) AS sxx, SUM(y * y) AS syy
      |  FROM p GROUP BY lag
      |)
      |SELECT lag, n AS n_hours,
      |  CASE WHEN sqrt(CAST(n * sxx - sx * sx AS DOUBLE))
      |         * sqrt(CAST(n * syy - sy * sy AS DOUBLE)) = 0.0 THEN NULL
      |    ELSE round(CAST(n * sxy - sx * sy AS DOUBLE)
      |      / (sqrt(CAST(n * sxx - sx * sx AS DOUBLE))
      |         * sqrt(CAST(n * syy - sy * sy AS DOUBLE))), 6)
      |  END AS pearson_r
      |FROM s
      |ORDER BY lag""".stripMargin

  /** §2.33aq — volume autocorrelation: Pearson r between the zero-
    * filled hourly TOTAL volume series and itself shifted by lag
    * h ∈ {1,2,3,6,12,24} — the periodicity detector that complements
    * [[qeSeasonality]] (which assumes a daily cycle and profiles it;
    * autocorrelation DISCOVERS whether one exists — a 24h peak says
    * daily rhythm, a flat curve says none, slow decay says trend).
    * Same discipline as [[qeXcorr]]: epoch-hour ids by integer division
    * (no interval arithmetic), spine from the 1-row bounds aggregate,
    * lag fan-out as a map-side explode, every sufficient statistic an
    * integer sum (exact under any accumulation order), ONE double
    * expression at the end; zero-variance lags report NULL. The joined
    * frame is bounded by hours × lags at any data scale — the fact
    * table collapses to its hourly histogram before any join. */
  def qeAutocorr(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.load(spark, dir, "events")
      .select(expr("unix_micros(date_trunc('hour', ts)) div 3600000000")
        .as("hi"))
    val counts = ev.groupBy("hi").agg(count(lit(1)).as("__c"))
    val spine = ev.agg(min(col("hi")).as("__lo"), max(col("hi")).as("__hi"))
      .select(explode(sequence(col("__lo"), col("__hi"))).as("hi"))
    val series = spine.join(counts, Seq("hi"), "left")
      .select(col("hi"), coalesce(col("__c"), lit(0L)).as("x"))
    val xs = series
      .withColumn("lag", explode(typedLit(Seq(1, 2, 3, 6, 12, 24))))
      .withColumn("__hy", col("hi") + col("lag"))
    val ys = series.select(col("hi").as("__hy"), col("x").as("y"))
    val num = (col("__n") * col("__sxy") - col("__sx") * col("__sy"))
      .cast("double")
    val den = sqrt((col("__n") * col("__sxx") - col("__sx") * col("__sx"))
        .cast("double")) *
      sqrt((col("__n") * col("__syy") - col("__sy") * col("__sy"))
        .cast("double"))
    xs.join(ys, "__hy")
      .groupBy("lag")
      .agg(count(lit(1)).as("__n"), sum(col("x")).as("__sx"),
        sum(col("y")).as("__sy"), sum(col("x") * col("y")).as("__sxy"),
        sum(col("x") * col("x")).as("__sxx"),
        sum(col("y") * col("y")).as("__syy"))
      .select(col("lag"), col("__n").as("n_pairs"),
        when(den === 0.0, lit(null)).otherwise(round(num / den, 6))
          .as("autocorr"))
      .orderBy("lag")
  }

  val qeAutocorrSql: String =
    """WITH ev AS (
      |  SELECT epoch_us(date_trunc('hour', ts)) // 3600000000 AS hi
      |  FROM events
      |), b AS (
      |  SELECT MIN(hi) AS lo, MAX(hi) AS hix FROM ev
      |), spine AS (
      |  SELECT unnest(range(lo, hix + 1)) AS hi FROM b
      |), series AS (
      |  SELECT s.hi, COALESCE(c.n, 0) AS x FROM spine s
      |  LEFT JOIN (SELECT hi, COUNT(*) AS n FROM ev GROUP BY hi) c
      |    USING (hi)
      |), lags AS (
      |  SELECT unnest([1, 2, 3, 6, 12, 24]) AS lag
      |), p AS (
      |  SELECT l.lag, a.x, b2.x AS y
      |  FROM lags l JOIN series a ON TRUE
      |  JOIN series b2 ON b2.hi = a.hi + l.lag
      |), s AS (
      |  SELECT lag, COUNT(*) AS n, SUM(x) AS sx, SUM(y) AS sy,
      |    SUM(x * y) AS sxy, SUM(x * x) AS sxx, SUM(y * y) AS syy
      |  FROM p GROUP BY lag
      |)
      |SELECT lag, n AS n_pairs,
      |  CASE WHEN sqrt(CAST(n * sxx - sx * sx AS DOUBLE))
      |         * sqrt(CAST(n * syy - sy * sy AS DOUBLE)) = 0.0 THEN NULL
      |    ELSE round(CAST(n * sxy - sx * sy AS DOUBLE)
      |      / (sqrt(CAST(n * sxx - sx * sx AS DOUBLE))
      |         * sqrt(CAST(n * syy - sy * sy AS DOUBLE))), 6)
      |  END AS autocorr
      |FROM s
      |ORDER BY lag""".stripMargin

  /** §2.33bs — Hurst exponent of the hourly volume series by
    * rescaled-range (R/S) analysis (Hurst 1951; Mandelbrot & Wallis
    * 1969): long-range dependence the autocorrelogram ([[qeAutocorr]])
    * can only hint at — H ≈ 0.5 is memoryless, H > 0.5 persistent
    * (bursts cluster), H < 0.5 mean-reverting. The gap-filled hourly
    * series splits into full blocks of 16/32/64 hours; per block,
    * R = range of the mean-adjusted cumulative sum and S = population
    * std, both derived from EXACT integer sums (running count C_k,
    * block S1/S2) so every double is one IEEE expression over
    * engine-identical operands — no float accumulation anywhere.
    * Mean R/S per size sums DECIMAL(18,9)-quantized block ratios;
    * because the three sizes are log-equispaced, the least-squares
    * log-log slope collapses to (ln RS₆₄ − ln RS₁₆)/(2·ln 2) — no
    * regression machinery. Scale shape: the fact table collapses to
    * its hourly histogram FIRST (map-side combinable); the spine,
    * size fan-out (map-side explode, ×3), and block windows all run
    * on the ≤|hours|×3 frame, block windows partition by (size,
    * block) — bounded rows per partition, no global sort beyond the
    * collapsed frame's row_number (same discipline as [[qeAutocorr]]).
    * Zero-variance blocks drop out of the mean on both engines. */
  def qeHurst(spark: SparkSession, dir: String): DataFrame = {
    val counts = Tables.load(spark, dir, "events")
      .select(expr("unix_micros(date_trunc('hour', ts)) div 3600000000")
        .as("hi"))
      .groupBy("hi").agg(count(lit(1)).as("__c"))
    val spine = counts.agg(min("hi").as("__lo"), max("hi").as("__hi2"))
      .select(explode(sequence(col("__lo"), col("__hi2"))).as("hi"))
    val whole = Window.partitionBy(lit(1))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val hourly = spine.join(counts, Seq("hi"), "left_outer")
      .select(col("hi"), coalesce(col("__c"), lit(0L)).as("c"))
      .withColumn("__t", row_number().over(Window.orderBy("hi")) - 1)
      .withColumn("__n", count(lit(1)).over(whole))
      .withColumn("bs", explode(array(lit(16), lit(32), lit(64))))
      .withColumn("block", floor(col("__t") / col("bs")))
      .where((col("block") + 1) * col("bs") <= col("__n"))
    val wb = Window.partitionBy("bs", "block").orderBy("__t")
    val cum = wb.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val blk = Window.partitionBy("bs", "block")
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val s1d = col("__s1").cast("double")
    val z = col("__ck").cast("double") -
      col("__k") * (s1d / col("bs"))
    val varPop = col("__s2").cast("double") / col("bs") -
      (s1d / col("bs")) * (s1d / col("bs"))
    val perBlock = hourly
      .withColumn("__k", row_number().over(wb))
      .withColumn("__ck", sum("c").over(cum))
      .withColumn("__s1", sum("c").over(blk))
      .withColumn("__s2", sum(col("c") * col("c")).over(blk))
      .select(col("bs"), col("block"), z.as("__z"), varPop.as("__v"))
      .groupBy("bs", "block")
      .agg((max(col("__z")) - min(col("__z"))).as("__r"),
        max(col("__v")).as("__v"))
      .select(col("bs"),
        when(col("__v") > 0.0, col("__r") / sqrt(col("__v"))).as("__rs"))
    val perSize = perBlock.groupBy("bs")
      .agg(count(col("__rs")).as("n_blocks"),
        (sum(round(col("__rs"), 9).cast("decimal(18,9)")).cast("double") /
          count(col("__rs"))).as("__mean_rs"))
    val allW = Window.partitionBy(lit(1))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    perSize
      .withColumn("__y16",
        max(when(col("bs") === 16, log(col("__mean_rs")))).over(allW))
      .withColumn("__y64",
        max(when(col("bs") === 64, log(col("__mean_rs")))).over(allW))
      .select(col("bs").as("block_size"), col("n_blocks"),
        round(col("__mean_rs"), 6).as("mean_rs"),
        round((col("__y64") - col("__y16")) /
          (lit(2.0) * log(lit(2.0))), 6).as("hurst"))
      .orderBy("block_size")
  }

  val qeHurstSql: String =
    """WITH counts AS (
      |  SELECT epoch_us(date_trunc('hour', ts)) // 3600000000 AS hi,
      |    COUNT(*) AS c
      |  FROM events GROUP BY 1
      |), spine AS (
      |  SELECT unnest(range((SELECT MIN(hi) FROM counts),
      |    (SELECT MAX(hi) FROM counts) + 1)) AS hi
      |), hourly AS (
      |  SELECT s.hi, COALESCE(c.c, 0) AS c,
      |    ROW_NUMBER() OVER (ORDER BY s.hi) - 1 AS t,
      |    COUNT(*) OVER () AS n
      |  FROM spine s LEFT JOIN counts c USING (hi)
      |), fanned AS (
      |  SELECT hi, c, t, n, bs, t // bs AS block
      |  FROM hourly, (SELECT UNNEST([16, 32, 64]) AS bs) sizes
      |  WHERE (t // bs + 1) * bs <= n
      |), stats AS (
      |  SELECT bs, block,
      |    ROW_NUMBER() OVER (PARTITION BY bs, block ORDER BY t) AS k,
      |    SUM(c) OVER (PARTITION BY bs, block ORDER BY t
      |      ROWS UNBOUNDED PRECEDING) AS ck,
      |    SUM(c) OVER (PARTITION BY bs, block) AS s1,
      |    SUM(c * c) OVER (PARTITION BY bs, block) AS s2
      |  FROM fanned
      |), zed AS (
      |  SELECT bs, block,
      |    CAST(ck AS DOUBLE) - k * (CAST(s1 AS DOUBLE) / bs) AS z,
      |    CAST(s2 AS DOUBLE) / bs
      |      - (CAST(s1 AS DOUBLE) / bs) * (CAST(s1 AS DOUBLE) / bs) AS v
      |  FROM stats
      |), per_block AS (
      |  SELECT bs, CASE WHEN MAX(v) > 0e0
      |    THEN (MAX(z) - MIN(z)) / sqrt(MAX(v)) END AS rs
      |  FROM zed GROUP BY bs, block
      |), per_size AS (
      |  SELECT bs, COUNT(rs) AS n_blocks,
      |    CAST(SUM(CAST(round(rs, 9) AS DECIMAL(18,9))) AS DOUBLE)
      |      / COUNT(rs) AS mean_rs
      |  FROM per_block GROUP BY bs
      |), sloped AS (
      |  SELECT *,
      |    MAX(CASE WHEN bs = 16 THEN ln(mean_rs) END) OVER () AS y16,
      |    MAX(CASE WHEN bs = 64 THEN ln(mean_rs) END) OVER () AS y64
      |  FROM per_size
      |)
      |SELECT bs AS block_size, n_blocks, round(mean_rs, 6) AS mean_rs,
      |  round((y64 - y16) / (2e0 * ln(2e0)), 6) AS hurst
      |FROM sloped
      |ORDER BY block_size""".stripMargin

  /** §2.33bt — Mann-Whitney U test (weekday vs weekend event values,
    * per event type): the rank-based two-sample test that
    * [[qeAbTtest]]'s t-statistic cannot replace when values are
    * heavy-tailed — no normality assumption, reported with the
    * common-language effect size AUC = U/(n_a·n_b) (the probability a
    * random weekday value exceeds a random weekend one). Computed on
    * a FIXED 1024-bin value grid (mid-rank ties at bin granularity —
    * a binned MWU, documented, not the raw-rank test): ranks never
    * materialize — U folds from the bin histogram as
    * 2U_A = Σ_bins n_a·(2·cumB_before + n_b), an ALL-INTEGER
    * identity, and the tie-corrected normal approximation
    * σ² = n_a·n_b/12·((n+1) − Σ(t³−t)/(n(n−1))) consumes the same
    * integer tie sizes. Scale shape: cents from round-to-integer,
    * bin ids by integer division against a 1-row broadcast min/max
    * (the [[qoZoneSkipping]] discipline), one combinable
    * (type, bin) aggregate off the scan, and every window partitions
    * by type over the ≤1024-row-per-type histogram — no global rank,
    * no per-row window, z and AUC are single IEEE expressions over
    * engine-identical longs. */
  def qeMwu(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.load(spark, dir, "events")
      .select(col("event_type"),
        dayofweek(col("ts")).isin(1, 7).as("__wknd"),
        expr("cast(round(value * 100, 0) as bigint)").as("__c"))
    val bounds = broadcast(ev.agg(min("__c").as("__cmin"),
      max("__c").as("__cmax")))
    val binned = ev.crossJoin(bounds)
      .withColumn("bin", expr(
        "least(1023L, ((__c - __cmin) * 1024) div (__cmax - __cmin + 1))"))
      .groupBy("event_type", "bin")
      .agg(sum(when(col("__wknd"), 0L).otherwise(1L)).as("__na"),
        sum(when(col("__wknd"), 1L).otherwise(0L)).as("__nb"))
    val before = Window.partitionBy("event_type").orderBy("bin")
      .rowsBetween(Window.unboundedPreceding, -1)
    val nA = col("n_a").cast("double")
    val nB = col("n_b").cast("double")
    val n = nA + nB
    val uA = col("__u2a").cast("double") / lit(2.0)
    val variance = nA * nB / lit(12.0) *
      (n + lit(1.0) - col("__t3").cast("double") / (n * (n - lit(1.0))))
    val z = (uA - nA * nB / lit(2.0)) / sqrt(variance)
    binned
      .withColumn("__cumb", coalesce(sum("__nb").over(before), lit(0L)))
      .groupBy("event_type")
      .agg(sum("__na").as("n_a"), sum("__nb").as("n_b"),
        sum(col("__na") * (lit(2L) * col("__cumb") + col("__nb")))
          .as("__u2a"),
        sum((col("__na") + col("__nb")) * (col("__na") + col("__nb")) *
          (col("__na") + col("__nb")) - (col("__na") + col("__nb")))
          .as("__t3"))
      .select(col("event_type"), col("n_a"), col("n_b"),
        round(uA, 1).as("u_weekday"),
        round(nA * nB - uA, 1).as("u_weekend"),
        round(uA / (nA * nB), 6).as("auc_weekday"),
        when(variance > 0.0, round(z, 6)).as("z"))
      .orderBy("event_type")
  }

  val qeMwuSql: String =
    """WITH ev AS (
      |  SELECT event_type, dayofweek(ts) IN (0, 6) AS wknd,
      |    CAST(round(value * 100, 0) AS BIGINT) AS c
      |  FROM events
      |), bounds AS (
      |  SELECT MIN(c) AS cmin, MAX(c) AS cmax FROM ev
      |), binned AS (
      |  SELECT event_type,
      |    LEAST(1023, ((c - cmin) * 1024) // (cmax - cmin + 1)) AS bin,
      |    CAST(SUM(CASE WHEN wknd THEN 0 ELSE 1 END) AS BIGINT) AS na,
      |    CAST(SUM(CASE WHEN wknd THEN 1 ELSE 0 END) AS BIGINT) AS nb
      |  FROM ev CROSS JOIN bounds
      |  GROUP BY 1, 2
      |), cum AS (
      |  SELECT *, COALESCE(SUM(nb) OVER (PARTITION BY event_type
      |    ORDER BY bin ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
      |    0) AS cumb
      |  FROM binned
      |), agg AS (
      |  SELECT event_type,
      |    CAST(SUM(na) AS BIGINT) AS n_a, CAST(SUM(nb) AS BIGINT) AS n_b,
      |    CAST(SUM(na * (2 * cumb + nb)) AS BIGINT) AS u2a,
      |    CAST(SUM((na + nb) * (na + nb) * (na + nb) - (na + nb))
      |      AS BIGINT) AS t3
      |  FROM cum GROUP BY event_type
      |), calc AS (
      |  SELECT event_type, n_a, n_b,
      |    CAST(n_a AS DOUBLE) AS nad, CAST(n_b AS DOUBLE) AS nbd,
      |    CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE) AS n,
      |    CAST(u2a AS DOUBLE) / 2e0 AS ua,
      |    CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE) / 12e0 *
      |      (CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE) + 1e0
      |        - CAST(t3 AS DOUBLE)
      |          / ((CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE))
      |            * (CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE) - 1e0)))
      |      AS v
      |  FROM agg
      |)
      |SELECT event_type, n_a, n_b,
      |  round(ua, 1) AS u_weekday,
      |  round(nad * nbd - ua, 1) AS u_weekend,
      |  round(ua / (nad * nbd), 6) AS auc_weekday,
      |  CASE WHEN v > 0e0
      |    THEN round((ua - nad * nbd / 2e0) / sqrt(v), 6) END AS z
      |FROM calc
      |ORDER BY event_type""".stripMargin

  /** §2.33bv — event-study (dynamic difference-in-differences): where
    * [[qeDid]] reports ONE pooled post-vs-pre effect, this resolves it
    * into per-relative-week effects around the same midpoint cut with
    * the same md5 treatment split — the pre-cut weeks are the built-in
    * placebo readout (effects ≈ 0 before treatment validate the
    * parallel-trends assumption; a drifting pre-trend invalidates the
    * pooled number). effect_w = (ȳ_treat,w − ȳ_ctrl,w) −
    * (ȳ_treat,pre − ȳ_ctrl,pre), baseline pooled over all pre-cut
    * events. Means derive from exact cent sums and counts (one
    * combinable (type, week) aggregate with conditional cells); the
    * per-type pre-baseline re-aggregates the SAME collapsed frame and
    * joins back on the tiny type key. Cell guards follow the ANSI
    * division discipline — an empty cell propagates NULL, never a
    * divide-by-zero error. */
  def qeEventStudy(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.Portable.md5Bucket
    val ev = Tables.load(spark, dir, "events")
      .where(col("user_id").isNotNull)
    val cut = ev.agg(to_date(min(col("ts"))).as("d0"),
        to_date(max(col("ts"))).as("d1"))
      .select(date_add(col("d0"),
        (datediff(col("d1"), col("d0")) / 2).cast("int")).as("cutday"))
    val weekly = ev.crossJoin(broadcast(cut))
      .withColumn("rel_week",
        floor(datediff(to_date(col("ts")), col("cutday"))
          .cast("double") / 7.0).cast("int"))
      .withColumn("__t", md5Bucket("did", col("user_id"), 2) === 1)
      .withColumn("__c", expr("cast(round(value * 100, 0) as bigint)"))
      .groupBy("event_type", "rel_week")
      .agg(sum(when(col("__t"), col("__c"))).as("__st"),
        sum(when(col("__t"), 1L).otherwise(0L)).as("n_treat"),
        sum(when(!col("__t"), col("__c"))).as("__sc"),
        sum(when(!col("__t"), 1L).otherwise(0L)).as("n_ctrl"))
    val pre = weekly.where(col("rel_week") < 0)
      .groupBy("event_type")
      .agg(sum("__st").as("__pst"), sum("n_treat").as("__pnt"),
        sum("__sc").as("__psc"), sum("n_ctrl").as("__pnc"))
    def mean(s: String, n: String) = when(col(n) > 0,
      (col(s).cast("double") / col(n).cast("double")) / lit(100.0))
    val diff = mean("__st", "n_treat") - mean("__sc", "n_ctrl")
    val preDiff = mean("__pst", "__pnt") - mean("__psc", "__pnc")
    weekly.join(pre, Seq("event_type"))
      .select(col("event_type"), col("rel_week"), col("n_treat"),
        col("n_ctrl"), round(diff, 6).as("diff"),
        round(diff - preDiff, 6).as("effect"))
      .orderBy("event_type", "rel_week")
  }

  val qeEventStudySql: String =
    """WITH cut AS (
      |  SELECT MIN(CAST(ts AS DATE))
      |      + CAST((date_diff('day', MIN(CAST(ts AS DATE)),
      |        MAX(CAST(ts AS DATE))) // 2) AS INT) AS cutday
      |  FROM events WHERE user_id IS NOT NULL
      |), weekly AS (
      |  SELECT event_type,
      |    CAST(floor(date_diff('day', cutday, CAST(ts AS DATE)) / 7.0)
      |      AS INT) AS rel_week,
      |    CAST(SUM(CASE WHEN ('0x' || substr(md5('did:' || user_id),
      |        1, 8))::BIGINT % 2 = 1
      |      THEN CAST(round(value * 100, 0) AS BIGINT) END) AS BIGINT)
      |      AS st,
      |    CAST(SUM(CASE WHEN ('0x' || substr(md5('did:' || user_id),
      |        1, 8))::BIGINT % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT)
      |      AS n_treat,
      |    CAST(SUM(CASE WHEN ('0x' || substr(md5('did:' || user_id),
      |        1, 8))::BIGINT % 2 = 0
      |      THEN CAST(round(value * 100, 0) AS BIGINT) END) AS BIGINT)
      |      AS sc,
      |    CAST(SUM(CASE WHEN ('0x' || substr(md5('did:' || user_id),
      |        1, 8))::BIGINT % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT)
      |      AS n_ctrl
      |  FROM events, cut
      |  WHERE user_id IS NOT NULL
      |  GROUP BY 1, 2
      |), pre AS (
      |  SELECT event_type, SUM(st) AS pst, SUM(n_treat) AS pnt,
      |    SUM(sc) AS psc, SUM(n_ctrl) AS pnc
      |  FROM weekly WHERE rel_week < 0 GROUP BY 1
      |), calc AS (
      |  SELECT w.event_type, w.rel_week, w.n_treat, w.n_ctrl,
      |    (CASE WHEN w.n_treat > 0 THEN
      |        (CAST(w.st AS DOUBLE) / CAST(w.n_treat AS DOUBLE)) / 100e0
      |      END)
      |    - (CASE WHEN w.n_ctrl > 0 THEN
      |        (CAST(w.sc AS DOUBLE) / CAST(w.n_ctrl AS DOUBLE)) / 100e0
      |      END) AS d,
      |    (CASE WHEN p.pnt > 0 THEN
      |        (CAST(p.pst AS DOUBLE) / CAST(p.pnt AS DOUBLE)) / 100e0
      |      END)
      |    - (CASE WHEN p.pnc > 0 THEN
      |        (CAST(p.psc AS DOUBLE) / CAST(p.pnc AS DOUBLE)) / 100e0
      |      END) AS pd
      |  FROM weekly w JOIN pre p ON w.event_type = p.event_type
      |)
      |SELECT event_type, rel_week, n_treat, n_ctrl,
      |  round(d, 6) AS diff, round(d - pd, 6) AS effect
      |FROM calc
      |ORDER BY event_type, rel_week""".stripMargin

  /** §2.33bu — Poisson-bootstrap confidence interval for the mean
    * event value per type (the Google-style distributed bootstrap:
    * resampling-with-replacement is impossible on a sharded corpus,
    * but giving each row an independent Poisson(1) weight per replica
    * is equivalent in distribution and needs NO shuffle of raw data).
    * B = 64 replicas; each row's 64 weights come from FOUR md5
    * digests (16 uniform bytes each — the one-digest-many-draws
    * discipline of [[graft.operators.AmsSketch]]), mapped through the
    * byte-granular Poisson(1) inverse CDF as INTEGER threshold
    * compares (94/188/235/251/255 out of 256 — mean weight 257/256,
    * bias < 0.4%, zero float arithmetic in the weights). Per
    * (type, replica) the weighted mean folds from two exact integer
    * sums (Σw, Σw·cents); the 2.5%/97.5% percentile over the 64
    * replica means is the CI. Scale shape: digests ride the scan
    * (4 md5/row), the 64-way explode partial-aggregates map-side into
    * |types|·64 rows, every percentile runs on a 64-row group —
    * no global sort, no driver collect, no second scan of raw data
    * (the full-sample mean folds in the same pass via replica −1
    * carrying weight 1). */
  def qeBootstrap(spark: SparkSession, dir: String): DataFrame = {
    // loadCompute (r14): the 4 md5 digests + 65-way explode + weight
    // decode ran as ONE serial task behind the single-row-group events
    // scan (1.9 s of a 2.3 s query, stage-profiled); the gated
    // rebalance spreads the resample pipeline across cores.
    val ev = Tables.loadCompute(spark, dir, "events")
      .select(col("event_type"), col("event_id"),
        expr("cast(round(value * 100, 0) as bigint)").as("__c"))
      .withColumn("__hs", array((0 until 4).map(g =>
        md5(concat_ws(":", lit(s"bs$g"), col("event_id")))): _*))
    val reps = ev
      .withColumn("b", explode(sequence(lit(-1), lit(63))))
      .withColumn("__u", expr(
        "cast(conv(substring(element_at(__hs, " +
          "cast(b div 16 + 1 as int)), " +
          "(b % 16) * 2 + 1, 2), 16, 10) as int)"))
      .withColumn("__w",
        when(col("b") === -1, 1L)
          .when(col("__u") < 94, 0L).when(col("__u") < 188, 1L)
          .when(col("__u") < 235, 2L).when(col("__u") < 251, 3L)
          .when(col("__u") < 255, 4L).otherwise(5L))
      .groupBy("event_type", "b")
      .agg(sum(col("__w")).as("__n"),
        sum(col("__w") * col("__c")).as("__wc"))
      .where(col("__n") > 0L)
      .select(col("event_type"), col("b"),
        ((col("__wc").cast("double") / col("__n").cast("double")) /
          lit(100.0)).as("__m"))
    reps.groupBy("event_type")
      .agg(count(when(col("b") >= 0, 1)).as("n_replicas"),
        round(max(when(col("b") === -1, col("__m"))), 6).as("mean_value"),
        round(expr("percentile(if(b >= 0, __m, null), 0.025)"), 6)
          .as("boot_lo"),
        round(expr("percentile(if(b >= 0, __m, null), 0.975)"), 6)
          .as("boot_hi"))
      .orderBy("event_type")
  }

  val qeBootstrapSql: String =
    """WITH ev AS (
      |  SELECT event_type, event_id,
      |    CAST(round(value * 100, 0) AS BIGINT) AS c,
      |    [md5('bs0:' || event_id), md5('bs1:' || event_id),
      |     md5('bs2:' || event_id), md5('bs3:' || event_id)] AS hs
      |  FROM events
      |), reps AS (
      |  SELECT event_type, c, b,
      |    CASE WHEN b = -1 THEN 1
      |      ELSE CASE
      |        WHEN u < 94 THEN 0 WHEN u < 188 THEN 1 WHEN u < 235 THEN 2
      |        WHEN u < 251 THEN 3 WHEN u < 255 THEN 4 ELSE 5 END
      |    END AS w
      |  FROM (
      |    SELECT ev.*, r.b,
      |      ('0x' || substr(hs[b // 16 + 1], (b % 16) * 2 + 1, 2))::INT
      |        AS u
      |    FROM ev, range(-1, 64) r(b)
      |  )
      |), means AS (
      |  SELECT event_type, b,
      |    (CAST(SUM(w * c) AS DOUBLE) / CAST(SUM(w) AS DOUBLE)) / 100e0
      |      AS m
      |  FROM reps GROUP BY 1, 2
      |  HAVING SUM(w) > 0
      |)
      |SELECT event_type,
      |  CAST(COUNT(CASE WHEN b >= 0 THEN 1 END) AS BIGINT) AS n_replicas,
      |  round(MAX(CASE WHEN b = -1 THEN m END), 6) AS mean_value,
      |  round(quantile_cont(CASE WHEN b >= 0 THEN m END, 0.025), 6)
      |    AS boot_lo,
      |  round(quantile_cont(CASE WHEN b >= 0 THEN m END, 0.975), 6)
      |    AS boot_hi
      |FROM means
      |GROUP BY event_type
      |ORDER BY event_type""".stripMargin

  /** §2.33ar — peak concurrency by distributed sweep-line: each event
    * opens a 5-minute presence interval, and the day's peak concurrent
    * count per event type is the max of the running (+1 start / −1 end)
    * sum. The classic sweep needs ONE global sort per type — a scale-
    * killer — so the sweep is decomposed: boundary points prefix-sum
    * WITHIN their (type, day) partition, and each day adds a carry-in
    * (the sum of all prior days' deltas = concurrency at midnight) from
    * a tiny |types|×|days| frame whose own prefix window is driver-
    * bounded. Max(carry + within-day run) is exactly the global running
    * count restricted to that day's points, so the decomposition is
    * value-identical to the single-sort form the oracle uses — at any
    * scale the big windows stay day-bounded. Intervals crossing
    * midnight are handled by the carry, not clipped. Tie order at equal
    * timestamps cannot affect the max: within a tie group the running
    * sum peaks after all +1s regardless of order (−1s sort first). */
  def qeConcurrency(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.load(spark, dir, "events").select(col("event_type"), col("ts"))
    val points = ev
      .select(col("event_type"), col("ts").as("pt"), lit(1).as("delta"))
      .unionByName(ev.select(col("event_type"),
        (col("ts") + expr("INTERVAL 5 MINUTES")).as("pt"), lit(-1).as("delta")))
      .withColumn("day", date_trunc("day", col("pt")))
    val wDay = Window.partitionBy("event_type", "day")
      .orderBy(col("pt"), col("delta"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val withRun = points.withColumn("run_in_day", sum("delta").over(wDay))
    val wCarry = Window.partitionBy("event_type").orderBy("day")
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = points.groupBy("event_type", "day")
      .agg(sum("delta").as("day_total"))
      .withColumn("carry", coalesce(sum("day_total").over(wCarry), lit(0L)))
      .select("event_type", "day", "carry")
    withRun.join(broadcast(offsets), Seq("event_type", "day"))
      .groupBy("event_type", "day")
      .agg(max(col("run_in_day") + col("carry")).cast("bigint")
        .as("peak_concurrency"))
      .orderBy("event_type", "day")
  }

  val qeConcurrencySql: String =
    """WITH points AS (
      |  SELECT event_type, ts AS pt, 1 AS delta FROM events
      |  UNION ALL
      |  SELECT event_type, ts + INTERVAL 5 MINUTE AS pt, -1 AS delta FROM events
      |), run AS (
      |  SELECT event_type, date_trunc('day', pt) AS day,
      |    SUM(delta) OVER (PARTITION BY event_type ORDER BY pt, delta
      |      ROWS UNBOUNDED PRECEDING) AS c
      |  FROM points
      |)
      |SELECT event_type, day, CAST(MAX(c) AS BIGINT) AS peak_concurrency
      |FROM run GROUP BY event_type, day
      |ORDER BY event_type, day""".stripMargin

  /** §2.33as — Gini concentration of per-user value, computed with the
    * bucketed-rank decomposition so NO global sort exists in the plan:
    * G = (2·Σᵢ i·xᵢ − (n+1)·Σᵢ xᵢ) / (n·Σᵢ xᵢ) over ascending-sorted
    * per-user totals needs each user's GLOBAL rank i, which naive
    * implementations get from an unpartitioned window. Instead users
    * bucket by value range (monotone in x, so bucket order extends to
    * global order), rank within (type, bucket) partitions, and add the
    * carry count of earlier buckets from a tiny |types|×1024 frame:
    * Σ i·x = Σ (i_within + carry)·x, exact in integer micro-units
    * (value has 4 decimals → ×10⁴ is an integer; every sufficient
    * statistic a decimal integer sum, so accumulation order cannot
    * show; ONE double expression at the end). The oracle uses the
    * textbook single-window form — the decomposition must match it
    * to the hash. */
  def qeGini(spark: SparkSession, dir: String): DataFrame = {
    val nBuckets = 1024
    val perUser = Tables.load(spark, dir, "events")
      .groupBy("event_type", "user_id")
      .agg((sum(col("value").cast("decimal(18,4)")) * lit(10000))
        .cast("decimal(38,0)").as("x"))
    // Bucket assignment may run in double: conversion, division by a
    // positive width, and floor are all monotone, so x₁<x₂ never maps
    // to bucket₁>bucket₂ — order is preserved, which is all ranking
    // needs. Bounds come from a 1-row broadcast aggregate.
    val bounds = perUser.groupBy("event_type")
      .agg(min(col("x").cast("double")).as("xmin"),
        max(col("x").cast("double")).as("xmax"))
    val bucketed = perUser.join(broadcast(bounds), "event_type")
      .withColumn("bucket",
        least(lit(nBuckets - 1), greatest(lit(0),
          floor((col("x").cast("double") - col("xmin"))
            / (greatest(col("xmax") - col("xmin"), lit(1.0)) / nBuckets))
            .cast("int"))))
    val wIn = Window.partitionBy("event_type", "bucket")
      .orderBy(col("x"), col("user_id"))
    val wCarry = Window.partitionBy("event_type").orderBy("bucket")
      .rowsBetween(Window.unboundedPreceding, -1)
    val carries = bucketed.groupBy("event_type", "bucket")
      .agg(count(lit(1)).as("bn"))
      .withColumn("carry", coalesce(sum("bn").over(wCarry), lit(0L)))
      .select("event_type", "bucket", "carry")
    bucketed
      .withColumn("iw", row_number().over(wIn))
      .join(broadcast(carries), Seq("event_type", "bucket"))
      .withColumn("i", (col("iw") + col("carry")).cast("decimal(38,0)"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_users"),
        sum(col("x")).as("s0"),
        sum(col("i") * col("x")).as("s1"))
      .select(col("event_type"), col("n_users"),
        round((lit(2.0) * col("s1").cast("double")
            - (col("n_users") + 1).cast("double") * col("s0").cast("double"))
          / (col("n_users").cast("double") * col("s0").cast("double")), 6)
          .as("gini"))
      .orderBy("event_type")
  }

  val qeGiniSql: String =
    """WITH pu AS (
      |  SELECT event_type, user_id,
      |    CAST(SUM(CAST(value AS DECIMAL(18,4))) * 10000 AS HUGEINT) AS x
      |  FROM events GROUP BY event_type, user_id
      |), r AS (
      |  SELECT event_type, x,
      |    ROW_NUMBER() OVER (PARTITION BY event_type
      |      ORDER BY x, user_id) AS i
      |  FROM pu
      |), s AS (
      |  SELECT event_type, COUNT(*) AS n_users, SUM(x) AS s0, SUM(i * x) AS s1
      |  FROM r GROUP BY event_type
      |)
      |SELECT event_type, CAST(n_users AS BIGINT) AS n_users,
      |  round((2.0 * CAST(s1 AS DOUBLE)
      |      - (n_users + 1) * CAST(s0 AS DOUBLE))
      |    / (n_users * CAST(s0 AS DOUBLE)), 6) AS gini
      |FROM s
      |ORDER BY event_type""".stripMargin

  /** §2.33at — Welch's t-test per metric between the deterministic A/B
    * split of [[qeAbBalance]]: the experiment readout itself, not just
    * the balance check. Per (event_type, user) totals in exact integer
    * micro-units; per-arm sufficient statistics (n, Σx, Σx²) are
    * DECIMAL sums — exact under any accumulation order — pivoted by
    * conditional aggregation in the SAME pass (one shuffle on
    * event_type, no self-join); mean/variance/t/Welch-df assemble as
    * one double expression per row at the end. `significant` flags
    * |t| > 1.96 — the two-sided 5% line in the large-sample limit. */
  def qeAbTtest(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.Portable.md5Bucket
    val isA = md5Bucket("exp1", col("user_id"), 2) === 0
    val x = Tables.load(spark, dir, "events")
      .where(col("user_id").isNotNull)
      .groupBy("event_type", "user_id")
      .agg((sum(col("value").cast("decimal(18,4)")) * lit(10000))
        .cast("decimal(38,0)").as("x"))
      .withColumn("a", isA)
    val g = x.groupBy("event_type").agg(
      sum(when(col("a"), 1L).otherwise(0L)).cast("double").as("na"),
      sum(when(!col("a"), 1L).otherwise(0L)).cast("double").as("nb"),
      sum(when(col("a"), col("x"))).cast("double").as("s1a"),
      sum(when(!col("a"), col("x"))).cast("double").as("s1b"),
      sum(when(col("a"), col("x") * col("x"))).cast("double").as("s2a"),
      sum(when(!col("a"), col("x") * col("x"))).cast("double").as("s2b"))
    val ma = col("s1a") / col("na")
    val mb = col("s1b") / col("nb")
    val va = (col("s2a") - col("s1a") * col("s1a") / col("na")) / (col("na") - 1)
    val vb = (col("s2b") - col("s1b") * col("s1b") / col("nb")) / (col("nb") - 1)
    val se2 = va / col("na") + vb / col("nb")
    val t = (ma - mb) / sqrt(se2)
    val df = (se2 * se2) /
      ((va / col("na")) * (va / col("na")) / (col("na") - 1)
        + (vb / col("nb")) * (vb / col("nb")) / (col("nb") - 1))
    g.select(col("event_type"),
        col("na").cast("bigint").as("n_a"),
        col("nb").cast("bigint").as("n_b"),
        round(ma / 10000, 6).as("mean_a"),
        round(mb / 10000, 6).as("mean_b"),
        round(t, 6).as("t_stat"),
        round(df, 2).as("welch_df"),
        (abs(t) > 1.96).as("significant"))
      .orderBy("event_type")
  }

  val qeAbTtestSql: String =
    """WITH pu AS (
      |  SELECT event_type, user_id,
      |    CAST(SUM(CAST(value AS DECIMAL(18,4))) * 10000 AS HUGEINT) AS x,
      |    (('0x' || substr(md5('exp1:' || user_id), 1, 8))::BIGINT % 2 = 0)
      |      AS a
      |  FROM events WHERE user_id IS NOT NULL
      |  GROUP BY event_type, user_id
      |), g AS (
      |  SELECT event_type,
      |    CAST(SUM(CASE WHEN a THEN 1 ELSE 0 END) AS DOUBLE) AS na,
      |    CAST(SUM(CASE WHEN NOT a THEN 1 ELSE 0 END) AS DOUBLE) AS nb,
      |    CAST(SUM(CASE WHEN a THEN x END) AS DOUBLE) AS s1a,
      |    CAST(SUM(CASE WHEN NOT a THEN x END) AS DOUBLE) AS s1b,
      |    CAST(SUM(CASE WHEN a THEN x * x END) AS DOUBLE) AS s2a,
      |    CAST(SUM(CASE WHEN NOT a THEN x * x END) AS DOUBLE) AS s2b
      |  FROM pu GROUP BY event_type
      |)
      |SELECT event_type,
      |  CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b,
      |  round((s1a / na) / 10000, 6) AS mean_a,
      |  round((s1b / nb) / 10000, 6) AS mean_b,
      |  round(((s1a / na) - (s1b / nb))
      |    / sqrt((s2a - s1a * s1a / na) / (na - 1) / na
      |         + (s2b - s1b * s1b / nb) / (nb - 1) / nb), 6) AS t_stat,
      |  round(((s2a - s1a * s1a / na) / (na - 1) / na
      |       + (s2b - s1b * s1b / nb) / (nb - 1) / nb)
      |    * ((s2a - s1a * s1a / na) / (na - 1) / na
      |       + (s2b - s1b * s1b / nb) / (nb - 1) / nb)
      |    / (((s2a - s1a * s1a / na) / (na - 1) / na)
      |       * ((s2a - s1a * s1a / na) / (na - 1) / na) / (na - 1)
      |     + ((s2b - s1b * s1b / nb) / (nb - 1) / nb)
      |       * ((s2b - s1b * s1b / nb) / (nb - 1) / nb) / (nb - 1)), 2)
      |    AS welch_df,
      |  (abs(((s1a / na) - (s1b / nb))
      |    / sqrt((s2a - s1a * s1a / na) / (na - 1) / na
      |         + (s2b - s1b * s1b / nb) / (nb - 1) / nb)) > 1.96)
      |    AS significant
      |FROM g
      |ORDER BY event_type""".stripMargin

  /** §2.33au — transition-latency percentiles: how long users take
    * between consecutive event types (the timing companion to
    * [[qeTransitions]]' probabilities — a funnel that converts in
    * hours is a different product than one that converts in seconds).
    * One lead window per user (the same single shuffle as the
    * transition matrix), exact integer-micro gaps, then per-pair
    * p50/p90 via the exact `percentile` aggregate — whose 100 TB
    * swap-in is approx_percentile exactly as [[Analytics
    * .qPercentilesApprox]] documents; the per-group state here is
    * bounded by transitions-per-pair, the concern and the remedy are
    * identical. */
  def qeStepLatency(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    Tables.load(spark, dir, "events")
      .select(col("user_id"), col("ts"), col("event_id"),
        col("event_type").as("from_type"))
      .withColumn("to_type", lead(col("from_type"), 1).over(w))
      .withColumn("next_ts", lead(col("ts"), 1).over(w))
      .where(col("to_type").isNotNull)
      .withColumn("gap_s",
        (unix_micros(col("next_ts")) - unix_micros(col("ts")))
          .cast("double") / lit(1000000.0))
      .groupBy("from_type", "to_type")
      .agg(count(lit(1)).as("n_transitions"),
        expr("percentile(gap_s, array(0.5D, 0.9D))").as("__p"))
      .select(col("from_type"), col("to_type"), col("n_transitions"),
        round(element_at(col("__p"), 1), 6).as("p50_s"),
        round(element_at(col("__p"), 2), 6).as("p90_s"))
      .orderBy("from_type", "to_type")
  }

  val qeStepLatencySql: String =
    """WITH l AS (
      |  SELECT event_type AS from_type,
      |    lead(event_type) OVER w AS to_type,
      |    CAST(epoch_us(lead(ts) OVER w) - epoch_us(ts) AS DOUBLE)
      |      / 1000000.0 AS gap_s
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
      |)
      |SELECT from_type, to_type, COUNT(*) AS n_transitions,
      |  round(quantile_cont(gap_s, 0.5), 6) AS p50_s,
      |  round(quantile_cont(gap_s, 0.9), 6) AS p90_s
      |FROM l WHERE to_type IS NOT NULL
      |GROUP BY from_type, to_type
      |ORDER BY from_type, to_type""".stripMargin

  /** §2.33av — Theil–Sen robust trend per user: the median of all
    * pairwise day-slopes, the outlier-immune companion to [[qeTrend]]'s
    * OLS slope (one anomalous day drags OLS arbitrarily; the pairwise
    * median has a 29% breakdown point). The pair fan-out is per-user
    * over the COLLAPSED daily frame — bounded by observation days
    * squared per user (≤ C(31,2) here), never events — so the self-join
    * shuffles the tiny (user, day, count) frame on user_id once. Each
    * slope is one exact-integer-difference division; the median reuses
    * the exact `percentile` ↔ `quantile_cont` parity (same approx
    * swap-in note as [[Analytics.qPercentilesApprox]]). */
  def qeTrendRobust(spark: SparkSession, dir: String): DataFrame = {
    val daily = Tables.load(spark, dir, "events")
      .select(col("user_id"),
        datediff(to_date(col("ts")), lit("1970-01-01")).cast("long").as("x"))
      .groupBy("user_id", "x").agg(count(lit(1)).as("y"))
    val a = daily.select(col("user_id"), col("x").as("xa"), col("y").as("ya"))
    val b = daily.select(col("user_id"), col("x").as("xb"), col("y").as("yb"))
    a.join(b, Seq("user_id")).where(col("xa") < col("xb"))
      .select(col("user_id"),
        ((col("yb") - col("ya")).cast("double")
          / (col("xb") - col("xa")).cast("double")).as("s"))
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_pairs"),
        expr("percentile(s, 0.5D)").as("__m"))
      .select(col("user_id"), col("n_pairs"),
        round(col("__m"), 6).as("theil_sen_slope"))
      .orderBy("user_id")
  }

  val qeTrendRobustSql: String =
    """WITH d AS (
      |  SELECT user_id,
      |    date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS x,
      |    COUNT(*) AS y
      |  FROM events GROUP BY 1, 2
      |), p AS (
      |  SELECT a.user_id,
      |    CAST(b.y - a.y AS DOUBLE) / CAST(b.x - a.x AS DOUBLE) AS s
      |  FROM d a JOIN d b ON a.user_id = b.user_id AND a.x < b.x
      |)
      |SELECT user_id, COUNT(*) AS n_pairs,
      |  round(quantile_cont(s, 0.5), 6) AS theil_sen_slope
      |FROM p GROUP BY user_id
      |ORDER BY user_id""".stripMargin

  /** §2.33aq — classical additive time-series decomposition of the
    * daily event volume: trend = centered 7-day moving average (full
    * windows only), seasonal = per-day-of-week mean of the detrended
    * series, residual = the rest — the decomposition VIEW behind
    * 33q's seasonality profile and 33af's seasonal baseline: read the
    * trend for growth, the seasonal for cadence, the residual for
    * anomalies, in one frame. The daily series collapses first (one
    * combinable count — windows run over ≤ days rows, never events);
    * day-of-week derives from an epoch day-diff mod 7 (portable:
    * engines disagree on dayofweek numbering); the per-dow seasonal
    * mean folds over the day-sorted list, never a float row-SUM. */
  def qeStl(spark: SparkSession, dir: String): DataFrame = {
    val daily = Tables.load(spark, dir, "events")
      .groupBy(to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("n_events"))
    val w = Window.orderBy("day").rowsBetween(-3, 3)
    val trended = daily
      .withColumn("__wn", count(lit(1)).over(w))
      .withColumn("trend", sum(col("n_events")).over(w).cast("double") / lit(7.0))
      .where(col("__wn") === 7)
      .withColumn("dow", datediff(col("day"), lit("1970-01-01").cast("date")) % 7)
      .withColumn("detrended", col("n_events").cast("double") - col("trend"))
    val seasonal = trended
      .groupBy("dow")
      .agg(sort_array(collect_list(struct(col("day"), col("detrended"))))
        .as("__d"), count(lit(1)).as("__n"))
      .select(col("dow"),
        (aggregate(col("__d"), lit(0.0), (a, x) => a + x.getField("detrended")) /
          col("__n").cast("double")).as("seasonal"))
    trended.join(broadcast(seasonal), "dow")
      .select(col("day"), col("n_events"),
        round(col("trend"), 6).as("trend"),
        round(col("seasonal"), 6).as("seasonal"),
        round(col("detrended") - col("seasonal"), 6).as("residual"))
      .orderBy("day")
  }

  val qeStlSql: String =
    """WITH daily AS (
      |  SELECT CAST(ts AS DATE) AS day, COUNT(*) AS n_events
      |  FROM events GROUP BY 1
      |), tr AS (
      |  SELECT day, n_events,
      |    COUNT(*) OVER w AS wn,
      |    CAST(SUM(n_events) OVER w AS DOUBLE) / 7.0 AS trend
      |  FROM daily
      |  WINDOW w AS (ORDER BY day ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
      |), det AS (
      |  SELECT day, n_events, trend,
      |    date_diff('day', DATE '1970-01-01', day) % 7 AS dow,
      |    CAST(n_events AS DOUBLE) - trend AS detrended
      |  FROM tr WHERE wn = 7
      |), seas AS (
      |  SELECT dow,
      |    list_reduce(list_prepend(0.0, list(detrended ORDER BY day)),
      |      (a, b) -> a + b) / CAST(COUNT(*) AS DOUBLE) AS seasonal
      |  FROM det GROUP BY dow
      |)
      |SELECT d.day, d.n_events,
      |  round(d.trend, 6) AS trend,
      |  round(s.seasonal, 6) AS seasonal,
      |  round(d.detrended - s.seasonal, 6) AS residual
      |FROM det d JOIN seas s ON d.dow = s.dow
      |ORDER BY d.day""".stripMargin

  /** §2.33ar — next-event prediction accuracy of the first-order
    * Markov model (33l): users split 80/20 by seeded md5, the train
    * side's per-prior argmax transition (count desc, type asc — a
    * deterministic tie break) predicts each held-out transition, and
    * accuracy reports per prior event type — the eval gate before a
    * product trusts "likely next action" (same eval-layer pattern as
    * qs_recall / qt_langid_eval / qs_quantize_recall). Transition
    * pairs come from ONE lag window per side; the fitted model is a
    * ≤ |types| broadcast frame. */
  def qeMarkovEval(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.Portable.md5Bucket
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    val pairs = Tables.load(spark, dir, "events")
      .select(col("user_id"), col("ts"), col("event_id"),
        col("event_type").as("from_type"),
        (md5Bucket("markov", col("user_id"), 100) < 80).as("in_train"))
      .withColumn("to_type", lead(col("from_type"), 1).over(w))
      .where(col("to_type").isNotNull)
    val byFrom = Window.partitionBy("from_type")
      .orderBy(col("__n").desc, col("to_type"))
    val model = pairs.where(col("in_train"))
      .groupBy("from_type", "to_type").agg(count(lit(1)).as("__n"))
      .withColumn("__rk", row_number().over(byFrom))
      .where(col("__rk") === 1)
      .select(col("from_type"), col("to_type").as("predicted"))
    pairs.where(!col("in_train"))
      .join(broadcast(model), "from_type")
      .groupBy("from_type")
      .agg(count(lit(1)).as("n_test"),
        sum(when(col("to_type") === col("predicted"), 1L).otherwise(0L))
          .as("n_correct"),
        first(col("predicted")).as("predicted"))
      .select(col("from_type"), col("predicted"), col("n_test"),
        col("n_correct"),
        round(col("n_correct").cast("double") / col("n_test").cast("double"), 6)
          .as("accuracy"))
      .orderBy("from_type")
  }

  val qeMarkovEvalSql: String =
    """WITH pairs AS (
      |  SELECT event_type AS from_type,
      |    lead(event_type) OVER (
      |      PARTITION BY user_id ORDER BY ts, event_id) AS to_type,
      |    ('0x' || substr(md5('markov:' || user_id), 1, 8))::BIGINT % 100 < 80
      |      AS in_train
      |  FROM events
      |), model AS (
      |  SELECT from_type, to_type AS predicted FROM (
      |    SELECT from_type, to_type,
      |      ROW_NUMBER() OVER (PARTITION BY from_type
      |        ORDER BY COUNT(*) DESC, to_type) AS rk
      |    FROM pairs WHERE in_train AND to_type IS NOT NULL
      |    GROUP BY from_type, to_type
      |  ) WHERE rk = 1
      |)
      |SELECT p.from_type, MIN(m.predicted) AS predicted,
      |  CAST(COUNT(*) AS BIGINT) AS n_test,
      |  CAST(SUM(CASE WHEN p.to_type = m.predicted THEN 1 ELSE 0 END)
      |    AS BIGINT) AS n_correct,
      |  round(CAST(SUM(CASE WHEN p.to_type = m.predicted THEN 1 ELSE 0 END)
      |      AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 6) AS accuracy
      |FROM pairs p JOIN model m ON p.from_type = m.from_type
      |WHERE NOT p.in_train AND p.to_type IS NOT NULL
      |GROUP BY p.from_type
      |ORDER BY p.from_type""".stripMargin

  /** §2.33as — session ENTRY analysis: per entry event type (the first
    * event of each 30-min-gap session), session count, conversion rate
    * (any purchase within the session), and mean session length — the
    * landing-page/acquisition-quality read that 33e's full paths and
    * 33's funnel don't give directly: which entry points open sessions
    * that convert. One gaps-and-islands pass (same lag + running-sum
    * sessionizer as qe_sessions), entry elected by rank-1 within the
    * session, session rollup joined back on the (user, session) key —
    * all windows user-partitioned, output ≤ |types| rows. */
  def qeEntryAnalysis(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    val sess = Tables.load(spark, dir, "events")
      .withColumn("__new",
        when(lag(col("ts"), 1).over(w).isNull ||
          unix_micros(col("ts")) - unix_micros(lag(col("ts"), 1).over(w))
            >= 1800000000L, 1L).otherwise(0L))
      .withColumn("session_id", sum(col("__new")).over(w))
    val perSession = sess.groupBy("user_id", "session_id")
      .agg(count(lit(1)).as("__n_events"),
        max(when(col("event_type") === "purchase", 1L).otherwise(0L))
          .as("__converted"))
    val entries = sess
      .withColumn("__rn", row_number().over(
        Window.partitionBy("user_id", "session_id").orderBy("ts", "event_id")))
      .where(col("__rn") === 1)
      .select(col("user_id"), col("session_id"), col("event_type").as("entry_type"))
    entries.join(perSession, Seq("user_id", "session_id"))
      .groupBy("entry_type")
      .agg(count(lit(1)).as("n_sessions"),
        sum(col("__converted")).as("n_converted"),
        sum(col("__n_events")).as("__tot_events"))
      .select(col("entry_type"), col("n_sessions"), col("n_converted"),
        round(col("n_converted").cast("double") /
          col("n_sessions").cast("double"), 6).as("conversion_rate"),
        round(col("__tot_events").cast("double") /
          col("n_sessions").cast("double"), 6).as("mean_session_events"))
      .orderBy("entry_type")
  }

  val qeEntryAnalysisSql: String =
    """WITH marked AS (
      |  SELECT user_id, event_id, ts, event_type,
      |    CASE WHEN lag(ts) OVER w IS NULL
      |           OR epoch_us(ts) - epoch_us(lag(ts) OVER w) >= 1800000000
      |         THEN 1 ELSE 0 END AS new_sess
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
      |), sess AS (
      |  SELECT user_id, event_id, ts, event_type,
      |    CAST(SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
      |  FROM marked
      |), per_session AS (
      |  SELECT user_id, session_id,
      |    CAST(COUNT(*) AS BIGINT) AS n_events,
      |    MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS converted
      |  FROM sess GROUP BY user_id, session_id
      |), entries AS (
      |  SELECT user_id, session_id, event_type AS entry_type FROM (
      |    SELECT user_id, session_id, event_type,
      |      ROW_NUMBER() OVER (PARTITION BY user_id, session_id
      |        ORDER BY ts, event_id) AS rn
      |    FROM sess
      |  ) WHERE rn = 1
      |)
      |SELECT e.entry_type,
      |  CAST(COUNT(*) AS BIGINT) AS n_sessions,
      |  CAST(SUM(p.converted) AS BIGINT) AS n_converted,
      |  round(CAST(SUM(p.converted) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 6)
      |    AS conversion_rate,
      |  round(CAST(SUM(p.n_events) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 6)
      |    AS mean_session_events
      |FROM entries e
      |JOIN per_session p
      |  ON e.user_id = p.user_id AND e.session_id = p.session_id
      |GROUP BY e.entry_type
      |ORDER BY e.entry_type""".stripMargin

  /** §2.33au — behavioral × demographic rollup across fact sets: event
    * volume and decimal-exact value per (customer market segment, event
    * type), with per-user value — the events table joined to the
    * customer DIMENSION on user_id = c_custkey. The one shape the
    * events family didn't yet exercise: a cross-dataset broadcast dim
    * join feeding the aggregation (dim broadcasts at any corpus scale —
    * it is bounded by the customer base, not the event stream). */
  def qeSegmentValue(spark: SparkSession, dir: String): DataFrame = {
    val dim = Tables.load(spark, dir, "customer")
      .select(col("c_custkey").as("user_id"), col("c_mktsegment"))
    Tables.load(spark, dir, "events")
      .join(broadcast(dim), "user_id")
      .groupBy("c_mktsegment", "event_type")
      .agg(countDistinct(col("user_id")).as("n_users"),
        count(lit(1)).as("n_events"),
        valueSum(col("value")).as("total_value"))
      .withColumn("value_per_user",
        round(col("total_value") / col("n_users").cast("double"), 6))
      .orderBy("c_mktsegment", "event_type")
  }

  val qeSegmentValueSql: String =
    """SELECT c.c_mktsegment, e.event_type,
      |  COUNT(DISTINCT e.user_id) AS n_users,
      |  COUNT(*) AS n_events,
      |  CAST(CAST(SUM(CAST(e.value AS DECIMAL(18,4))) AS DECIMAL(38,4))
      |    AS DOUBLE) AS total_value,
      |  round(CAST(CAST(SUM(CAST(e.value AS DECIMAL(18,4))) AS DECIMAL(38,4))
      |      AS DOUBLE) / CAST(COUNT(DISTINCT e.user_id) AS DOUBLE), 6)
      |    AS value_per_user
      |FROM events e JOIN customer c ON e.user_id = c.c_custkey
      |GROUP BY c.c_mktsegment, e.event_type
      |ORDER BY c.c_mktsegment, e.event_type""".stripMargin

  /** §2.33bd — Holt linear-trend (double exponential smoothing)
    * forecast backtest: per event type, fit level+trend (α = 0.5,
    * β = 0.3, init l₁ = y₁, b₁ = 0) on all but the last 7 days of the
    * zero-filled day×type grid, forecast ŷ_{t+h} = l + h·b over the
    * 7-day holdout, score MAE + WAPE — the first TRENDED model over
    * the seasonal-naive floor (33ba): Holt beats naive ⇒ volume has
    * real drift worth modeling, naive beats Holt ⇒ the trend term
    * chases noise. The recurrence is inherently sequential, so it runs
    * as a LEFT-TO-RIGHT fold over each type's day-sorted series
    * (`aggregate` HOF ≡ DuckDB list_reduce, same fp op order =
    * bit-identical) — per-type series are bounded by the calendar
    * (days, not events), facts collapse to the daily histogram first.
    * Cross-row error sums go through round-6 DECIMAL(18,6) terms
    * (order-independent); the 1-row bounds frame rides a broadcast
    * cross (PlanAudit-allowlisted scalar pattern). */
  def qeHolt(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.load(spark, dir, "events")
    val bounds = ev
      .agg(to_date(min(col("ts"))).as("d0"), to_date(max(col("ts"))).as("d1"))
    val spine = bounds
      .select(explode(sequence(col("d0"), col("d1"),
        expr("INTERVAL 1 DAY"))).as("day"))
      .withColumn("__k", lit(1))
    val types = ev.select("event_type").distinct().withColumn("__k", lit(1))
    val counts = ev
      .groupBy(to_date(col("ts")).as("day"), col("event_type"))
      .agg(count(lit(1)).as("n"))
    val grid = spine.join(broadcast(types), "__k")
      .join(counts, Seq("day", "event_type"), "left_outer")
      .select(col("day"), col("event_type"),
        coalesce(col("n"), lit(0L)).as("actual"))
      .crossJoin(broadcast(bounds.select(date_sub(col("d1"), 7).as("cutday"))))
    val train = grid.where(col("day") <= col("cutday"))
      .groupBy("event_type")
      .agg(array_sort(collect_list(struct(col("day"), col("actual")))).as("s"))
      .select(col("event_type"),
        transform(col("s"), x => x.getField("actual").cast("double")).as("ys"))
      .where(size(col("ys")) >= 2)
    val model = train.select(col("event_type"),
      size(col("ys")).cast("long").as("n_train"),
      aggregate(
        slice(col("ys"), lit(2), size(col("ys")) - 1),
        struct(element_at(col("ys"), 1).as("l"), lit(0.0).as("b")),
        (acc, y) => struct(
          (lit(0.5) * y + lit(0.5) * (acc.getField("l") + acc.getField("b")))
            .as("l"),
          (lit(0.3) * ((lit(0.5) * y + lit(0.5) *
              (acc.getField("l") + acc.getField("b"))) - acc.getField("l"))
            + lit(0.7) * acc.getField("b")).as("b"))).as("hw"))
      .select(col("event_type"), col("n_train"),
        col("hw.l").as("l"), col("hw.b").as("b"))
    grid.where(col("day") > col("cutday"))
      .join(model, Seq("event_type"))
      .withColumn("h", datediff(col("day"), col("cutday")))
      .withColumn("__err",
        round(abs(col("actual").cast("double") -
          (col("l") + col("h") * col("b"))), 6).cast("decimal(18,6)"))
      .groupBy("event_type", "n_train", "l", "b")
      .agg(count(lit(1)).as("n_scored"),
        sum(col("__err")).as("__se"), sum(col("actual")).as("__sa"))
      .select(col("event_type"), col("n_train"), col("n_scored"),
        round(col("l"), 6).as("l_final"), round(col("b"), 6).as("b_final"),
        round(col("__se").cast("double") / col("n_scored"), 6).as("mae"),
        when(col("__sa") > 0,
          round(col("__se").cast("double") / col("__sa"), 6)).as("wape"))
      .orderBy("event_type")
  }

  val qeHoltSql: String =
    """WITH bounds AS (
      |  SELECT CAST(MIN(CAST(ts AS TIMESTAMP)) AS DATE) AS d0,
      |         CAST(MAX(CAST(ts AS TIMESTAMP)) AS DATE) AS d1
      |  FROM events),
      |spine AS (
      |  SELECT CAST(unnest(generate_series(CAST(d0 AS TIMESTAMP),
      |    CAST(d1 AS TIMESTAMP), INTERVAL 1 DAY)) AS DATE) AS day
      |  FROM bounds),
      |types AS (SELECT DISTINCT event_type FROM events),
      |counts AS (
      |  SELECT CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day, event_type,
      |    COUNT(*) AS n
      |  FROM events GROUP BY 1, 2),
      |grid AS (
      |  SELECT s.day, t.event_type, COALESCE(c.n, 0) AS actual
      |  FROM spine s CROSS JOIN types t
      |  LEFT JOIN counts c ON c.day = s.day AND c.event_type = t.event_type),
      |cut AS (SELECT d1 - 7 AS cutday FROM bounds),
      |train AS (
      |  SELECT g.event_type,
      |    list_transform(list_sort(list({'day': g.day, 'actual': g.actual})),
      |      x -> CAST(x.actual AS DOUBLE)) AS ys
      |  FROM grid g, cut WHERE g.day <= cutday
      |  GROUP BY g.event_type),
      |model AS (
      |  -- State rides a 2-list [l, b], NOT a struct: DuckDB v1.0's
      |  -- list_reduce mis-binds struct-field references to the
      |  -- accumulator mid-step (verified: the 'b' field sees a mix of
      |  -- old and new 'l' across iterations), while list-element
      |  -- indexing folds correctly.
      |  SELECT event_type, CAST(len(ys) AS BIGINT) AS n_train,
      |    list_reduce(list_transform(ys, y -> [y, 0.0e0]),
      |      (acc, x) -> [0.5e0*x[1] + 0.5e0*(acc[1] + acc[2]),
      |                   0.3e0*((0.5e0*x[1] + 0.5e0*(acc[1] + acc[2]))
      |                        - acc[1]) + 0.7e0*acc[2]]) AS hw
      |  FROM train WHERE len(ys) >= 2),
      |scored AS (
      |  SELECT g.event_type, m.n_train, m.hw[1] AS l, m.hw[2] AS b,
      |    g.actual, date_diff('day', c.cutday, g.day) AS h
      |  FROM grid g, cut c, model m
      |  WHERE g.day > c.cutday AND m.event_type = g.event_type)
      |SELECT event_type, n_train,
      |  CAST(count(*) AS BIGINT) AS n_scored,
      |  round(l, 6) AS l_final, round(b, 6) AS b_final,
      |  round(CAST(SUM(CAST(round(abs(CAST(actual AS DOUBLE) - (l + h*b)), 6)
      |    AS DECIMAL(18,6))) AS DOUBLE) / count(*), 6) AS mae,
      |  CASE WHEN SUM(actual) > 0 THEN
      |    round(CAST(SUM(CAST(round(abs(CAST(actual AS DOUBLE) - (l + h*b)), 6)
      |      AS DECIMAL(18,6))) AS DOUBLE) / SUM(actual), 6) END AS wape
      |FROM scored
      |GROUP BY event_type, n_train, l, b
      |ORDER BY event_type""".stripMargin

  /** §2.33be — difference-in-differences: deterministic md5 treatment
    * split × pre/post period split at the calendar midpoint, outcome =
    * per-user-period spend (the ab_ttest decimal quantization: exact
    * DECIMAL sums, doubles only for the final moments); effect =
    * (T,post − T,pre) − (C,post − C,pre) with the four-cell SE
    * √(Σ var/n) and a z test — the "did the rollout move the metric
    * beyond its ambient drift" read that a plain post-only A/B
    * comparison (33q) gets wrong whenever both arms drift together.
    * One conditional-sum pass over the per-user-period frame per
    * event type; the period cut is a broadcast 1-row date scalar
    * (allowlisted pattern). With a random split and no intervention
    * this measures ≈ 0 — the null calibration the spec pins. */
  def qeDid(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.Portable.md5Bucket
    val ev = Tables.load(spark, dir, "events").where(col("user_id").isNotNull)
    val cut = ev.agg(to_date(min(col("ts"))).as("d0"),
        to_date(max(col("ts"))).as("d1"))
      .select(date_add(col("d0"),
        (datediff(col("d1"), col("d0")) / 2).cast("int")).as("cutday"))
    val pu = ev.crossJoin(broadcast(cut))
      .withColumn("post", to_date(col("ts")) > col("cutday"))
      .groupBy("event_type", "user_id", "post")
      .agg((sum(col("value").cast("decimal(18,4)")) * lit(10000))
        .cast("decimal(38,0)").as("x"))
      .withColumn("treat", md5Bucket("did", col("user_id"), 2) === 1)
    def cell(t: Boolean, p: Boolean, f: Column) =
      sum(when(col("treat") === t && col("post") === p, f))
    def n(t: Boolean, p: Boolean) =
      sum(when(col("treat") === t && col("post") === p, 1L).otherwise(0L))
        .cast("double")
    val g = pu.groupBy("event_type").agg(
      n(true, false).as("ntp0"), n(true, true).as("ntp1"),
      n(false, false).as("ncp0"), n(false, true).as("ncp1"),
      cell(true, false, col("x")).cast("double").as("s1tp0"),
      cell(true, true, col("x")).cast("double").as("s1tp1"),
      cell(false, false, col("x")).cast("double").as("s1cp0"),
      cell(false, true, col("x")).cast("double").as("s1cp1"),
      cell(true, false, col("x") * col("x")).cast("double").as("s2tp0"),
      cell(true, true, col("x") * col("x")).cast("double").as("s2tp1"),
      cell(false, false, col("x") * col("x")).cast("double").as("s2cp0"),
      cell(false, true, col("x") * col("x")).cast("double").as("s2cp1"))
    // Cell guards (ANSI /0 discipline): an empty cell yields NULL means
    // and a 1-user cell a NULL variance — propagating to NULL effect/z,
    // matching the oracle's CASE WHEN, instead of a Spark error.
    def m(s1: String, nn: String) =
      when(col(nn) > 0, col(s1) / col(nn))
    // The /n rides INSIDE the n > 1 branch: a 0-user cell must not put
    // a literal 0 divisor outside the guard.
    def v(s2: String, s1: String, nn: String) = when(col(nn) > 1,
      (col(s2) - col(s1) * col(s1) / col(nn)) / (col(nn) - 1) / col(nn))
    val effect = (m("s1tp1", "ntp1") - m("s1tp0", "ntp0")) -
      (m("s1cp1", "ncp1") - m("s1cp0", "ncp0"))
    val se2 = v("s2tp1", "s1tp1", "ntp1") + v("s2tp0", "s1tp0", "ntp0") +
      v("s2cp1", "s1cp1", "ncp1") + v("s2cp0", "s1cp0", "ncp0")
    // ANSI division guard: zero pooled SE (constant outcomes in every
    // cell) yields NULL in both engines instead of a Spark /0 error.
    val z = when(se2 > 0, effect / sqrt(se2))
    g.select(col("event_type"),
        (col("ntp0") + col("ntp1")).cast("bigint").as("n_treat"),
        (col("ncp0") + col("ncp1")).cast("bigint").as("n_ctrl"),
        round(m("s1tp0", "ntp0") / 10000, 6).as("mean_treat_pre"),
        round(m("s1tp1", "ntp1") / 10000, 6).as("mean_treat_post"),
        round(m("s1cp0", "ncp0") / 10000, 6).as("mean_ctrl_pre"),
        round(m("s1cp1", "ncp1") / 10000, 6).as("mean_ctrl_post"),
        round(effect / 10000, 6).as("did_effect"),
        round(z, 6).as("z_stat"),
        (abs(z) > 1.96).as("significant"))
      .orderBy("event_type")
  }

  val qeDidSql: String = {
    def trt(id: String) =
      s"(('0x' || substr(md5('did:' || $id), 1, 8))::BIGINT % 2 = 1)"
    """WITH cut AS (
      |  SELECT CAST(MIN(CAST(ts AS TIMESTAMP)) AS DATE) +
      |    CAST((date_diff('day', CAST(MIN(CAST(ts AS TIMESTAMP)) AS DATE),
      |      CAST(MAX(CAST(ts AS TIMESTAMP)) AS DATE)) // 2) AS INTEGER)
      |    AS cutday
      |  FROM events WHERE user_id IS NOT NULL),
      |pu AS (
      |  SELECT event_type, user_id,
      |    (CAST(CAST(ts AS TIMESTAMP) AS DATE) > cutday) AS post,
      |    CAST(SUM(CAST(value AS DECIMAL(18,4))) * 10000 AS HUGEINT) AS x,
      |    TREAT AS treat
      |  FROM events, cut WHERE user_id IS NOT NULL
      |  GROUP BY 1, 2, 3, 5),
      |g AS (
      |  SELECT event_type,
      |    CAST(SUM(CASE WHEN treat AND NOT post THEN 1 ELSE 0 END) AS DOUBLE) AS ntp0,
      |    CAST(SUM(CASE WHEN treat AND post THEN 1 ELSE 0 END) AS DOUBLE) AS ntp1,
      |    CAST(SUM(CASE WHEN NOT treat AND NOT post THEN 1 ELSE 0 END) AS DOUBLE) AS ncp0,
      |    CAST(SUM(CASE WHEN NOT treat AND post THEN 1 ELSE 0 END) AS DOUBLE) AS ncp1,
      |    CAST(SUM(CASE WHEN treat AND NOT post THEN x END) AS DOUBLE) AS s1tp0,
      |    CAST(SUM(CASE WHEN treat AND post THEN x END) AS DOUBLE) AS s1tp1,
      |    CAST(SUM(CASE WHEN NOT treat AND NOT post THEN x END) AS DOUBLE) AS s1cp0,
      |    CAST(SUM(CASE WHEN NOT treat AND post THEN x END) AS DOUBLE) AS s1cp1,
      |    CAST(SUM(CASE WHEN treat AND NOT post THEN x*x END) AS DOUBLE) AS s2tp0,
      |    CAST(SUM(CASE WHEN treat AND post THEN x*x END) AS DOUBLE) AS s2tp1,
      |    CAST(SUM(CASE WHEN NOT treat AND NOT post THEN x*x END) AS DOUBLE) AS s2cp0,
      |    CAST(SUM(CASE WHEN NOT treat AND post THEN x*x END) AS DOUBLE) AS s2cp1
      |  FROM pu GROUP BY event_type),
      |f AS (
      |  SELECT *,
      |    (CASE WHEN ntp1 > 0 THEN s1tp1/ntp1 END
      |      - CASE WHEN ntp0 > 0 THEN s1tp0/ntp0 END)
      |    - (CASE WHEN ncp1 > 0 THEN s1cp1/ncp1 END
      |      - CASE WHEN ncp0 > 0 THEN s1cp0/ncp0 END) AS effect,
      |    CASE WHEN ntp1 > 1 THEN (s2tp1 - s1tp1*s1tp1/ntp1)/(ntp1 - 1)/ntp1 END +
      |    CASE WHEN ntp0 > 1 THEN (s2tp0 - s1tp0*s1tp0/ntp0)/(ntp0 - 1)/ntp0 END +
      |    CASE WHEN ncp1 > 1 THEN (s2cp1 - s1cp1*s1cp1/ncp1)/(ncp1 - 1)/ncp1 END +
      |    CASE WHEN ncp0 > 1 THEN (s2cp0 - s1cp0*s1cp0/ncp0)/(ncp0 - 1)/ncp0 END AS se2
      |  FROM g)
      |SELECT event_type,
      |  CAST(ntp0 + ntp1 AS BIGINT) AS n_treat,
      |  CAST(ncp0 + ncp1 AS BIGINT) AS n_ctrl,
      |  round(CASE WHEN ntp0 > 0 THEN s1tp0/ntp0 END / 10000, 6) AS mean_treat_pre,
      |  round(CASE WHEN ntp1 > 0 THEN s1tp1/ntp1 END / 10000, 6) AS mean_treat_post,
      |  round(CASE WHEN ncp0 > 0 THEN s1cp0/ncp0 END / 10000, 6) AS mean_ctrl_pre,
      |  round(CASE WHEN ncp1 > 0 THEN s1cp1/ncp1 END / 10000, 6) AS mean_ctrl_post,
      |  round(effect / 10000, 6) AS did_effect,
      |  CASE WHEN se2 > 0 THEN round(effect / sqrt(se2), 6) END AS z_stat,
      |  CASE WHEN se2 > 0 THEN (abs(effect / sqrt(se2)) > 1.96) END
      |    AS significant
      |FROM f
      |ORDER BY event_type""".stripMargin
      .replace("TREAT", trt("user_id"))
  }

  /** §2.33bf — CUPED variance reduction (Deng et al. 2013): the
    * post-period A/B spend comparison (33q's metric) re-run with each
    * user's PRE-period spend as the control covariate — Y_adj = Y −
    * θ(X − X̄) with the pooled θ = cov(X,Y)/var(X); ρ² of (X, Y) is the
    * variance removed, so the same data answers with a √(1−ρ²)-tighter
    * confidence interval and the report shows raw-vs-CUPED z side by
    * side (the "how much experiment runtime does our covariate buy"
    * read). Exactness: per-user period spends quantize to exact
    * decimals (ab_ttest discipline), every moment (Σx, Σy, Σxy, Σx²,
    * Σy²) is a decimal sum per arm, doubles only in the final algebra;
    * one conditional-sum pass per event type; the period cut rides the
    * broadcast 1-row scalar. Null-calibrated: a covariate identical in
    * both arms leaves the diff unchanged while ρ² → 1 collapses the
    * noise (spec pins both). */
  def qeCuped(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.Portable.md5Bucket
    val ev = Tables.load(spark, dir, "events").where(col("user_id").isNotNull)
    val cut = ev.agg(to_date(min(col("ts"))).as("d0"),
        to_date(max(col("ts"))).as("d1"))
      .select(date_add(col("d0"),
        (datediff(col("d1"), col("d0")) / 2).cast("int")).as("cutday"))
    val vq = col("value").cast("decimal(18,4)")
    val pu = ev.crossJoin(broadcast(cut))
      .withColumn("post", to_date(col("ts")) > col("cutday"))
      .groupBy("event_type", "user_id")
      .agg(
        (coalesce(sum(when(!col("post"), vq)), lit(0)) * lit(10000))
          .cast("decimal(38,0)").as("x"),
        (coalesce(sum(when(col("post"), vq)), lit(0)) * lit(10000))
          .cast("decimal(38,0)").as("y"))
      .withColumn("a", md5Bucket("exp1", col("user_id"), 2) === 0)
    val g = pu.groupBy("event_type").agg(
      count(lit(1)).cast("double").as("n"),
      sum(when(col("a"), 1L).otherwise(0L)).cast("double").as("na"),
      sum(when(!col("a"), 1L).otherwise(0L)).cast("double").as("nb"),
      sum(col("x")).cast("double").as("sx"),
      sum(col("y")).cast("double").as("sy"),
      sum(col("x") * col("y")).cast("double").as("sxy"),
      sum(col("x") * col("x")).cast("double").as("sxx"),
      sum(col("y") * col("y")).cast("double").as("syy"),
      sum(when(col("a"), col("x"))).cast("double").as("sxa"),
      sum(when(!col("a"), col("x"))).cast("double").as("sxb"),
      sum(when(col("a"), col("y"))).cast("double").as("sya"),
      sum(when(!col("a"), col("y"))).cast("double").as("syb"),
      sum(when(col("a"), col("y") * col("y"))).cast("double").as("syya"),
      sum(when(!col("a"), col("y") * col("y"))).cast("double").as("syyb"))
    // ANSI /0 guards throughout (the project rule: a degenerate moment
    // yields NULL in both engines, never a Spark error): dxx = 0 when
    // the covariate is constant (e.g. a type first seen post-cut ⇒ all
    // x = 0), dyy = 0 when the outcome is constant, empty/1-user arms
    // null their means/variances, and NULLs propagate to the derived
    // stats exactly as the oracle's CASE WHEN chain does.
    val dxx = col("n") * col("sxx") - col("sx") * col("sx")
    val dyy = col("n") * col("syy") - col("sy") * col("sy")
    val dxy = col("n") * col("sxy") - col("sx") * col("sy")
    val theta = when(dxx > 0, dxy / dxx)
    val rho2 = when(dxx > 0 && dyy > 0, (dxy * dxy) / (dxx * dyy))
    val xbar = col("sx") / col("n")
    def am(s: String, nn: String) = when(col(nn) > 0, col(s) / col(nn))
    val diffRaw = am("sya", "na") - am("syb", "nb")
    val diffCuped = (am("sya", "na") -
        theta * (am("sxa", "na") - xbar)) -
      (am("syb", "nb") - theta * (am("sxb", "nb") - xbar))
    def vn(s2: String, s1: String, nn: String) = when(col(nn) > 1,
      (col(s2) - col(s1) * col(s1) / col(nn)) / (col(nn) - 1) / col(nn))
    val se2Raw = vn("syya", "sya", "na") + vn("syyb", "syb", "nb")
    // ANSI division guards (Spark throws on /0 even for doubles; DuckDB
    // yields NULL — the guard makes both engines emit NULL): zero raw
    // SE means no within-arm variance, zero CUPED SE additionally
    // covers the perfect-covariate case rho2 = 1.
    val zRaw = when(se2Raw > 0, diffRaw / sqrt(se2Raw))
    val zCuped = when((lit(1.0) - rho2) * se2Raw > 0,
      diffCuped / sqrt((lit(1.0) - rho2) * se2Raw))
    g.select(col("event_type"),
        col("na").cast("bigint").as("n_a"),
        col("nb").cast("bigint").as("n_b"),
        round(theta, 6).as("theta"),
        round(rho2, 6).as("rho2"),
        round(diffRaw / 10000, 6).as("diff_raw"),
        round(diffCuped / 10000, 6).as("diff_cuped"),
        round(zRaw, 6).as("z_raw"),
        round(zCuped, 6).as("z_cuped"))
      .orderBy("event_type")
  }

  val qeCupedSql: String = {
    def arm(id: String) =
      s"(('0x' || substr(md5('exp1:' || $id), 1, 8))::BIGINT % 2 = 0)"
    """WITH cut AS (
      |  SELECT CAST(MIN(CAST(ts AS TIMESTAMP)) AS DATE) +
      |    CAST((date_diff('day', CAST(MIN(CAST(ts AS TIMESTAMP)) AS DATE),
      |      CAST(MAX(CAST(ts AS TIMESTAMP)) AS DATE)) // 2) AS INTEGER)
      |    AS cutday
      |  FROM events WHERE user_id IS NOT NULL),
      |pu AS (
      |  SELECT event_type, user_id,
      |    CAST(COALESCE(SUM(CASE WHEN NOT (CAST(CAST(ts AS TIMESTAMP) AS DATE) > cutday)
      |      THEN CAST(value AS DECIMAL(18,4)) END), 0) * 10000 AS HUGEINT) AS x,
      |    CAST(COALESCE(SUM(CASE WHEN CAST(CAST(ts AS TIMESTAMP) AS DATE) > cutday
      |      THEN CAST(value AS DECIMAL(18,4)) END), 0) * 10000 AS HUGEINT) AS y,
      |    ARM AS a
      |  FROM events, cut WHERE user_id IS NOT NULL
      |  GROUP BY 1, 2, 5),
      |g AS (
      |  SELECT event_type,
      |    CAST(COUNT(*) AS DOUBLE) AS n,
      |    CAST(SUM(CASE WHEN a THEN 1 ELSE 0 END) AS DOUBLE) AS na,
      |    CAST(SUM(CASE WHEN NOT a THEN 1 ELSE 0 END) AS DOUBLE) AS nb,
      |    CAST(SUM(x) AS DOUBLE) AS sx, CAST(SUM(y) AS DOUBLE) AS sy,
      |    CAST(SUM(x*y) AS DOUBLE) AS sxy,
      |    CAST(SUM(x*x) AS DOUBLE) AS sxx,
      |    CAST(SUM(y*y) AS DOUBLE) AS syy,
      |    CAST(SUM(CASE WHEN a THEN x END) AS DOUBLE) AS sxa,
      |    CAST(SUM(CASE WHEN NOT a THEN x END) AS DOUBLE) AS sxb,
      |    CAST(SUM(CASE WHEN a THEN y END) AS DOUBLE) AS sya,
      |    CAST(SUM(CASE WHEN NOT a THEN y END) AS DOUBLE) AS syb,
      |    CAST(SUM(CASE WHEN a THEN y*y END) AS DOUBLE) AS syya,
      |    CAST(SUM(CASE WHEN NOT a THEN y*y END) AS DOUBLE) AS syyb
      |  FROM pu GROUP BY event_type),
      |f AS (
      |  SELECT *,
      |    CASE WHEN n*sxx - sx*sx > 0
      |      THEN (n*sxy - sx*sy) / (n*sxx - sx*sx) END AS theta,
      |    CASE WHEN n*sxx - sx*sx > 0 AND n*syy - sy*sy > 0
      |      THEN ((n*sxy - sx*sy) * (n*sxy - sx*sy)) /
      |        ((n*sxx - sx*sx) * (n*syy - sy*sy)) END AS rho2,
      |    CASE WHEN na > 0 THEN sya/na END
      |      - CASE WHEN nb > 0 THEN syb/nb END AS diff_raw,
      |    CASE WHEN na > 1 THEN (syya - sya*sya/na)/(na - 1)/na END +
      |      CASE WHEN nb > 1 THEN (syyb - syb*syb/nb)/(nb - 1)/nb END
      |      AS se2_raw
      |  FROM g),
      |f2 AS (
      |  SELECT *,
      |    (CASE WHEN na > 0 THEN sya/na END
      |      - theta*(CASE WHEN na > 0 THEN sxa/na END - sx/n)) -
      |      (CASE WHEN nb > 0 THEN syb/nb END
      |        - theta*(CASE WHEN nb > 0 THEN sxb/nb END - sx/n)) AS diff_cuped
      |  FROM f)
      |SELECT event_type,
      |  CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b,
      |  round(theta, 6) AS theta,
      |  round(rho2, 6) AS rho2,
      |  round(diff_raw / 10000, 6) AS diff_raw,
      |  round(diff_cuped / 10000, 6) AS diff_cuped,
      |  CASE WHEN se2_raw > 0 THEN
      |    round(diff_raw / sqrt(se2_raw), 6) END AS z_raw,
      |  CASE WHEN (1.0e0 - rho2) * se2_raw > 0 THEN
      |    round(diff_cuped / sqrt((1.0e0 - rho2) * se2_raw), 6) END AS z_cuped
      |FROM f2
      |ORDER BY event_type""".stripMargin
      .replace("ARM", arm("user_id"))
  }

  /** §2.33bg — minimum detectable effect (experiment power planning):
    * per event type, the smallest true lift the CURRENT arm sizes and
    * outcome variance can detect at α = 0.05 / 80% power —
    * MDE = (z_{α/2} + z_{power})·SE = 2.8·√(v_a/n_a + v_b/n_b), plus
    * its relative form against the pooled mean. The before-you-launch
    * companion to 33q's after-the-fact t test: if the MDE is larger
    * than the effect you hope for, the experiment cannot succeed and
    * needs more users or a variance-reduced metric (33bf). Same
    * quantized-decimal per-user frame and one conditional-sum pass as
    * ab_ttest; doubles only in the final algebra; NULL where a
    * variance or mean is degenerate (ANSI-safe, DuckDB-identical). */
  def qeMde(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.Portable.md5Bucket
    val isA = md5Bucket("exp1", col("user_id"), 2) === 0
    val x = Tables.load(spark, dir, "events")
      .where(col("user_id").isNotNull)
      .groupBy("event_type", "user_id")
      .agg((sum(col("value").cast("decimal(18,4)")) * lit(10000))
        .cast("decimal(38,0)").as("x"))
      .withColumn("a", isA)
    val g = x.groupBy("event_type").agg(
      sum(when(col("a"), 1L).otherwise(0L)).cast("double").as("na"),
      sum(when(!col("a"), 1L).otherwise(0L)).cast("double").as("nb"),
      sum(when(col("a"), col("x"))).cast("double").as("s1a"),
      sum(when(!col("a"), col("x"))).cast("double").as("s1b"),
      sum(when(col("a"), col("x") * col("x"))).cast("double").as("s2a"),
      sum(when(!col("a"), col("x") * col("x"))).cast("double").as("s2b"))
    val va = (col("s2a") - col("s1a") * col("s1a") / col("na")) / (col("na") - 1)
    val vb = (col("s2b") - col("s1b") * col("s1b") / col("nb")) / (col("nb") - 1)
    val se = sqrt(va / col("na") + vb / col("nb"))
    val meanPooled = (col("s1a") + col("s1b")) / (col("na") + col("nb"))
    val mde = lit(2.8) * se
    g.where(col("na") > 1 && col("nb") > 1)
      .select(col("event_type"),
        col("na").cast("bigint").as("n_a"),
        col("nb").cast("bigint").as("n_b"),
        round(meanPooled / 10000, 6).as("mean_pooled"),
        round(mde / 10000, 6).as("mde_abs"),
        when(meanPooled > 0, round(mde / meanPooled, 6)).as("mde_rel"))
      .orderBy("event_type")
  }

  val qeMdeSql: String = {
    def armA(id: String) =
      s"(('0x' || substr(md5('exp1:' || $id), 1, 8))::BIGINT % 2 = 0)"
    s"""WITH pu AS (
       |  SELECT event_type, user_id,
       |    CAST(SUM(CAST(value AS DECIMAL(18,4))) * 10000 AS HUGEINT) AS x,
       |    ${armA("user_id")} AS a
       |  FROM events WHERE user_id IS NOT NULL
       |  GROUP BY 1, 2, 4),
       |g AS (
       |  SELECT event_type,
       |    CAST(SUM(CASE WHEN a THEN 1 ELSE 0 END) AS DOUBLE) AS na,
       |    CAST(SUM(CASE WHEN NOT a THEN 1 ELSE 0 END) AS DOUBLE) AS nb,
       |    CAST(SUM(CASE WHEN a THEN x END) AS DOUBLE) AS s1a,
       |    CAST(SUM(CASE WHEN NOT a THEN x END) AS DOUBLE) AS s1b,
       |    CAST(SUM(CASE WHEN a THEN x*x END) AS DOUBLE) AS s2a,
       |    CAST(SUM(CASE WHEN NOT a THEN x*x END) AS DOUBLE) AS s2b
       |  FROM pu GROUP BY event_type),
       |f AS (
       |  SELECT *,
       |    2.8e0 * sqrt(
       |      (s2a - s1a*s1a/na)/(na - 1)/na +
       |      (s2b - s1b*s1b/nb)/(nb - 1)/nb) AS mde,
       |    (s1a + s1b) / (na + nb) AS mean_pooled
       |  FROM g WHERE na > 1 AND nb > 1)
       |SELECT event_type,
       |  CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b,
       |  round(mean_pooled / 10000, 6) AS mean_pooled,
       |  round(mde / 10000, 6) AS mde_abs,
       |  CASE WHEN mean_pooled > 0 THEN round(mde / mean_pooled, 6) END
       |    AS mde_rel
       |FROM f
       |ORDER BY event_type""".stripMargin
  }

  /** §2.33bh — Holt–Winters additive seasonal forecast backtest
    * (triple exponential smoothing, weekly m = 7; α 0.5, β 0.3,
    * γ 0.3): level + trend + a 7-slot seasonal state fit per event
    * type on all but the last 7 days, ŷ_{n+h} = l + h·b + s_{(n+h−1)
    * mod 7}, scored MAE + WAPE — the model that beats Holt (33bd)
    * exactly when volume has a real weekly shape, closing the
    * forecasting ladder (persistence 33ba → trend 33bd → trend +
    * seasonality). Init: l₀ = mean(week 1), b₀ = (mean(week 2) −
    * mean(week 1))/7, s = week-1 residuals; requires ≥ 14 train days.
    * The recurrence folds LEFT-TO-RIGHT with a 10-slot state array
    * [t, l, b, s₁..s₇] — Spark's `aggregate` HOF zero-vs-element
    * types carry it natively, DuckDB list_reduce gets the init
    * prepended as its first element (list state folds correctly where
    * struct state mis-binds, see qe_holt) — and the two engines are
    * BIT-identical (same fp op order, verified against a sequential
    * reference in HoltWintersSpec). Facts collapse to the daily
    * histogram; series are calendar-bounded; error sums are round-6
    * decimals; the period cut is the broadcast 1-row scalar. */
  def qeHoltWinters(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.load(spark, dir, "events")
    val bounds = ev
      .agg(to_date(min(col("ts"))).as("d0"), to_date(max(col("ts"))).as("d1"))
    val spine = bounds
      .select(explode(sequence(col("d0"), col("d1"),
        expr("INTERVAL 1 DAY"))).as("day"))
      .withColumn("__k", lit(1))
    val types = ev.select("event_type").distinct().withColumn("__k", lit(1))
    val counts = ev
      .groupBy(to_date(col("ts")).as("day"), col("event_type"))
      .agg(count(lit(1)).as("n"))
    val grid = spine.join(broadcast(types), "__k")
      .join(counts, Seq("day", "event_type"), "left_outer")
      .select(col("day"), col("event_type"),
        coalesce(col("n"), lit(0L)).as("actual"))
      .crossJoin(broadcast(bounds.select(date_sub(col("d1"), 7).as("cutday"))))
    val train = grid.where(col("day") <= col("cutday"))
      .groupBy("event_type")
      .agg(array_sort(collect_list(struct(col("day"), col("actual")))).as("s"))
      .select(col("event_type"),
        transform(col("s"), x => x.getField("actual").cast("double")).as("ys"))
      .where(size(col("ys")) >= 14)
    def fold7(a: Column): Column =
      aggregate(slice(a, lit(1), lit(7)), lit(0.0), (p, q) => p + q) / 7.0
    def fold7b(a: Column): Column =
      aggregate(slice(a, lit(8), lit(7)), lit(0.0), (p, q) => p + q) / 7.0
    val model = train.select(col("event_type"),
      size(col("ys")).cast("long").as("n_train"),
      aggregate(
        slice(col("ys"), lit(8), size(col("ys")) - 7),
        concat(
          array(lit(7.0), fold7(col("ys")),
            (fold7b(col("ys")) - fold7(col("ys"))) / 7.0),
          transform(slice(col("ys"), lit(1), lit(7)),
            y => y - fold7(col("ys")))),
        (acc, y) => {
          def sIdx = element_at(acc,
            (element_at(acc, lit(1)) % 7).cast("int") + 4)
          def lNew = lit(0.5) * (y - sIdx) +
            lit(0.5) * (element_at(acc, lit(2)) + element_at(acc, lit(3)))
          concat(
            array(
              element_at(acc, lit(1)) + 1.0,
              lNew,
              lit(0.3) * (lNew - element_at(acc, lit(2))) +
                lit(0.7) * element_at(acc, lit(3))),
            transform(slice(acc, lit(4), lit(7)), (sv, i) =>
              when(i === (element_at(acc, lit(1)) % 7).cast("int"),
                lit(0.3) * (y - lNew) + lit(0.7) * sv).otherwise(sv)))
        }).as("hw"))
    grid.where(col("day") > col("cutday"))
      .join(model, Seq("event_type"))
      .withColumn("h", datediff(col("day"), col("cutday")))
      .withColumn("fc",
        element_at(col("hw"), lit(2)) +
          col("h") * element_at(col("hw"), lit(3)) +
          element_at(col("hw"),
            ((element_at(col("hw"), lit(1)) + col("h") - 1) % 7)
              .cast("int") + 4))
      .withColumn("__err",
        round(abs(col("actual").cast("double") - col("fc")), 6)
          .cast("decimal(18,6)"))
      .groupBy("event_type", "n_train")
      .agg(count(lit(1)).as("n_scored"),
        max(round(element_at(col("hw"), lit(2)), 6)).as("l_final"),
        max(round(element_at(col("hw"), lit(3)), 6)).as("b_final"),
        sum(col("__err")).as("__se"), sum(col("actual")).as("__sa"))
      .select(col("event_type"), col("n_train"), col("n_scored"),
        col("l_final"), col("b_final"),
        round(col("__se").cast("double") / col("n_scored"), 6).as("mae"),
        when(col("__sa") > 0,
          round(col("__se").cast("double") / col("__sa"), 6)).as("wape"))
      .orderBy("event_type")
  }

  val qeHoltWintersSql: String =
    """WITH bounds AS (
      |  SELECT CAST(MIN(CAST(ts AS TIMESTAMP)) AS DATE) AS d0,
      |         CAST(MAX(CAST(ts AS TIMESTAMP)) AS DATE) AS d1
      |  FROM events),
      |spine AS (
      |  SELECT CAST(unnest(generate_series(CAST(d0 AS TIMESTAMP),
      |    CAST(d1 AS TIMESTAMP), INTERVAL 1 DAY)) AS DATE) AS day
      |  FROM bounds),
      |types AS (SELECT DISTINCT event_type FROM events),
      |counts AS (
      |  SELECT CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day, event_type,
      |    COUNT(*) AS n
      |  FROM events GROUP BY 1, 2),
      |grid AS (
      |  SELECT s.day, t.event_type, COALESCE(c.n, 0) AS actual
      |  FROM spine s CROSS JOIN types t
      |  LEFT JOIN counts c ON c.day = s.day AND c.event_type = t.event_type),
      |cut AS (SELECT d1 - 7 AS cutday FROM bounds),
      |train AS (
      |  SELECT g.event_type,
      |    list_transform(list_sort(list({'day': g.day, 'actual': g.actual})),
      |      x -> CAST(x.actual AS DOUBLE)) AS ys
      |  FROM grid g, cut WHERE g.day <= cutday
      |  GROUP BY g.event_type),
      |init AS (
      |  SELECT event_type, ys,
      |    list_reduce(ys[1:7], (p, q) -> p + q) / 7.0e0 AS l0,
      |    (list_reduce(ys[8:14], (p, q) -> p + q) / 7.0e0
      |     - list_reduce(ys[1:7], (p, q) -> p + q) / 7.0e0) / 7.0e0 AS b0
      |  FROM train WHERE len(ys) >= 14),
      |model AS (
      |  SELECT event_type, CAST(len(ys) AS BIGINT) AS n_train,
      |    list_reduce(
      |      list_concat(
      |        [list_concat([7.0e0, l0, b0],
      |                     list_transform(ys[1:7], y -> y - l0))],
      |        list_transform(ys[8:len(ys)],
      |          y -> [y,0e0,0e0,0e0,0e0,0e0,0e0,0e0,0e0,0e0])),
      |      (acc, x) -> list_concat(
      |        [acc[1] + 1.0e0,
      |         0.5e0*(x[1] - acc[CAST(acc[1] % 7 AS INT) + 4])
      |           + 0.5e0*(acc[2] + acc[3]),
      |         0.3e0*((0.5e0*(x[1] - acc[CAST(acc[1] % 7 AS INT) + 4])
      |           + 0.5e0*(acc[2] + acc[3])) - acc[2]) + 0.7e0*acc[3]],
      |        list_transform(acc[4:10], (sv, i) ->
      |          CASE WHEN i = CAST(acc[1] % 7 AS INT) + 1
      |               THEN 0.3e0*(x[1] - (0.5e0*(x[1]
      |                 - acc[CAST(acc[1] % 7 AS INT) + 4])
      |                 + 0.5e0*(acc[2] + acc[3]))) + 0.7e0*sv
      |               ELSE sv END))) AS hw
      |  FROM init),
      |scored AS (
      |  SELECT g.event_type, m.n_train, m.hw, g.actual,
      |    date_diff('day', c.cutday, g.day) AS h
      |  FROM grid g, cut c, model m
      |  WHERE g.day > c.cutday AND m.event_type = g.event_type),
      |fc AS (
      |  SELECT event_type, n_train, actual,
      |    hw[2] + h * hw[3] +
      |      hw[CAST((hw[1] + h - 1) % 7 AS INT) + 4] AS fc,
      |    hw[2] AS l, hw[3] AS b
      |  FROM scored)
      |SELECT event_type, n_train,
      |  CAST(count(*) AS BIGINT) AS n_scored,
      |  MAX(round(l, 6)) AS l_final, MAX(round(b, 6)) AS b_final,
      |  round(CAST(SUM(CAST(round(abs(CAST(actual AS DOUBLE) - fc), 6)
      |    AS DECIMAL(18,6))) AS DOUBLE) / count(*), 6) AS mae,
      |  CASE WHEN SUM(actual) > 0 THEN
      |    round(CAST(SUM(CAST(round(abs(CAST(actual AS DOUBLE) - fc), 6)
      |      AS DECIMAL(18,6))) AS DOUBLE) / SUM(actual), 6) END AS wape
      |FROM fc
      |GROUP BY event_type, n_train
      |ORDER BY event_type""".stripMargin

  /** §2.33bi — EWMA control chart over daily volume (λ = 0.2, 3σ
    * asymptotic limits — which at λ = 0.2 collapse to exactly ±σ since
    * 3·√(λ/(2−λ)) = 1): the small-persistent-shift detector between
    * 33ao's CUSUM (cumulative, best for level shifts) and 33r's
    * z-score (memoryless, best for single spikes) — an EWMA crossing
    * says the last ~1/λ days drifted together. Per type: mean/σ from
    * EXACT integer moments of the daily counts, then one
    * left-to-right fold carrying [ewma, n_signals, first_signal_day,
    * t] (same list-state machinery as 33bh, bit-identical across
    * engines), reporting the final EWMA, signal count, and the first
    * crossing day index (0 = in control throughout). */
  def qeEwmaChart(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.load(spark, dir, "events")
    val spine = ev
      .agg(to_date(min(col("ts"))).as("d0"), to_date(max(col("ts"))).as("d1"))
      .select(explode(sequence(col("d0"), col("d1"),
        expr("INTERVAL 1 DAY"))).as("day"))
      .withColumn("__k", lit(1))
    val types = ev.select("event_type").distinct().withColumn("__k", lit(1))
    val counts = ev
      .groupBy(to_date(col("ts")).as("day"), col("event_type"))
      .agg(count(lit(1)).as("n"))
    val grid = spine.join(broadcast(types), "__k")
      .join(counts, Seq("day", "event_type"), "left_outer")
      .select(col("day"), col("event_type"),
        coalesce(col("n"), lit(0L)).as("actual"))
    val series = grid.groupBy("event_type")
      .agg(array_sort(collect_list(struct(col("day"), col("actual")))).as("s"),
        count(lit(1)).as("n_days"),
        sum(col("actual")).as("sy"),
        sum(col("actual") * col("actual")).as("syy"))
      .select(col("event_type"), col("n_days"),
        transform(col("s"), x => x.getField("actual").cast("double")).as("ys"),
        (col("sy").cast("double") / col("n_days")).as("mu"),
        when(col("n_days") > 1, sqrt(
          (col("n_days") * col("syy") - col("sy") * col("sy")).cast("double") /
            (col("n_days") * (col("n_days") - 1)))).as("sigma"))
      .where(col("sigma").isNotNull)
    series.select(col("event_type"), col("n_days"),
        round(col("mu"), 6).as("mean_daily"),
        round(col("sigma"), 6).as("sigma_daily"),
        aggregate(col("ys"),
          array(col("mu"), lit(0.0), lit(0.0), lit(0.0)),
          (acc, y) => {
            def eNew = lit(0.2) * y + lit(0.8) * element_at(acc, lit(1))
            def tNew = element_at(acc, lit(4)) + 1.0
            def viol = abs(eNew - col("mu")) > col("sigma")
            array(eNew,
              element_at(acc, lit(2)) + when(viol, 1.0).otherwise(0.0),
              when(element_at(acc, lit(3)) > 0, element_at(acc, lit(3)))
                .otherwise(when(viol, tNew).otherwise(lit(0.0))),
              tNew)
          }).as("st"))
      .select(col("event_type"), col("n_days"),
        col("mean_daily"), col("sigma_daily"),
        round(element_at(col("st"), lit(1)), 6).as("ewma_final"),
        element_at(col("st"), lit(2)).cast("long").as("n_signals"),
        element_at(col("st"), lit(3)).cast("long").as("first_signal_day"))
      .orderBy("event_type")
  }

  val qeEwmaChartSql: String =
    """WITH bounds AS (
      |  SELECT CAST(MIN(CAST(ts AS TIMESTAMP)) AS DATE) AS d0,
      |         CAST(MAX(CAST(ts AS TIMESTAMP)) AS DATE) AS d1
      |  FROM events),
      |spine AS (
      |  SELECT CAST(unnest(generate_series(CAST(d0 AS TIMESTAMP),
      |    CAST(d1 AS TIMESTAMP), INTERVAL 1 DAY)) AS DATE) AS day
      |  FROM bounds),
      |types AS (SELECT DISTINCT event_type FROM events),
      |counts AS (
      |  SELECT CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day, event_type,
      |    COUNT(*) AS n
      |  FROM events GROUP BY 1, 2),
      |grid AS (
      |  SELECT s.day, t.event_type, COALESCE(c.n, 0) AS actual
      |  FROM spine s CROSS JOIN types t
      |  LEFT JOIN counts c ON c.day = s.day AND c.event_type = t.event_type),
      |series AS (
      |  SELECT event_type, CAST(count(*) AS BIGINT) AS n_days,
      |    list_transform(list_sort(list({'day': day, 'actual': actual})),
      |      x -> CAST(x.actual AS DOUBLE)) AS ys,
      |    CAST(SUM(actual) AS DOUBLE) / count(*) AS mu,
      |    CASE WHEN count(*) > 1 THEN sqrt(
      |      CAST(count(*) * SUM(actual*actual) - SUM(actual) * SUM(actual)
      |        AS DOUBLE) / (count(*) * (count(*) - 1))) END AS sigma
      |  FROM grid GROUP BY event_type),
      |folded AS (
      |  SELECT event_type, n_days, mu, sigma,
      |    list_reduce(
      |      list_concat([[mu, 0e0, 0e0, 0e0]],
      |        list_transform(ys, y -> [y, 0e0, 0e0, 0e0])),
      |      (acc, x) -> [
      |        0.2e0*x[1] + 0.8e0*acc[1],
      |        acc[2] + CASE WHEN abs(0.2e0*x[1] + 0.8e0*acc[1] - mu) > sigma
      |                      THEN 1.0e0 ELSE 0.0e0 END,
      |        CASE WHEN acc[3] > 0 THEN acc[3]
      |             WHEN abs(0.2e0*x[1] + 0.8e0*acc[1] - mu) > sigma
      |             THEN acc[4] + 1.0e0 ELSE 0.0e0 END,
      |        acc[4] + 1.0e0]) AS st
      |  FROM series WHERE sigma IS NOT NULL)
      |SELECT event_type, n_days,
      |  round(mu, 6) AS mean_daily, round(sigma, 6) AS sigma_daily,
      |  round(st[1], 6) AS ewma_final,
      |  CAST(st[2] AS BIGINT) AS n_signals,
      |  CAST(st[3] AS BIGINT) AS first_signal_day
      |FROM folded
      |ORDER BY event_type""".stripMargin

  /** §2.33bw — count-min sketch audit over per-user event counts: the
    * fixed-footprint frequency sketch (depth 4 × width 256 md5-hashed
    * counter grid — 1024 combinable cells REGARDLESS of key
    * cardinality, the memory-bounded alternative to a groupBy-count
    * whose state grows with distinct users) probed at the exact top-20
    * heavy hitters. Reports each key's exact count, CMS point estimate
    * (min over the 4 row counters — never an underestimate, by
    * construction), the realized overestimate, and the e/w·N
    * analytical bound it must stay within (with probability
    * 1 − e^−depth; here audited exactly). All-integer sketch and
    * estimates, so the audit is bit-exact cross-engine; the only
    * doubles are the bound itself. Scale: one 4×-exploded combinable
    * aggregate (sketch), one exact key rollup for the probe panel
    * (TakeOrdered 20), a ≤1024-row broadcast-joinable sketch, and a
    * ONE-ROW total frame — the sketch side never shuffles more than
    * its 1024 cells. */
  def qeCms(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.Portable.md5Bucket
    val depth = 4
    val width = 256
    val ev = Tables.load(spark, dir, "events")
    def coordCols(id: org.apache.spark.sql.Column) =
      explode(array((0 until depth).map(r =>
        struct(lit(r).as("r"),
          md5Bucket(s"cms$r", id, width).as("b"))): _*))
    val sketch = ev.select(coordCols(col("user_id")).as("__x"))
      .select(col("__x.r").as("r"), col("__x.b").as("b"))
      .groupBy("r", "b").agg(count(lit(1)).as("cnt"))
    val exact = ev.groupBy("user_id").agg(count(lit(1)).as("n_exact"))
      .orderBy(col("n_exact").desc, col("user_id")).limit(20)
    val total = broadcast(ev.agg(count(lit(1)).as("n_total")))
    exact
      .select(col("user_id"), col("n_exact"), coordCols(col("user_id")).as("__x"))
      .select(col("user_id"), col("n_exact"),
        col("__x.r").as("r"), col("__x.b").as("b"))
      .join(broadcast(sketch), Seq("r", "b"))
      .groupBy("user_id", "n_exact").agg(min(col("cnt")).as("n_est"))
      .crossJoin(total)
      .select(col("user_id"), col("n_exact"), col("n_est"),
        (col("n_est") - col("n_exact")).as("overestimate"),
        round(lit(2.718281828459045) / width * col("n_total"), 6)
          .as("err_bound"),
        ((col("n_est") - col("n_exact")).cast("double") <=
          lit(2.718281828459045) / width * col("n_total"))
          .as("within_bound"))
      .orderBy(col("n_exact").desc, col("user_id"))
  }

  val qeCmsSql: String =
    """WITH coords AS (
      |  SELECT t.r,
      |    ('0x' || substr(md5('cms' || t.r || ':' || user_id), 1, 8))::BIGINT
      |      % 256 AS b
      |  FROM events, range(4) t(r)
      |), sketch AS (
      |  SELECT r, b, COUNT(*) AS cnt FROM coords GROUP BY r, b
      |), exact AS (
      |  SELECT user_id, COUNT(*) AS n_exact FROM events GROUP BY user_id
      |  ORDER BY n_exact DESC, user_id LIMIT 20
      |), tot AS (
      |  SELECT COUNT(*) AS n_total FROM events
      |), probes AS (
      |  SELECT e.user_id, e.n_exact, t.r,
      |    ('0x' || substr(md5('cms' || t.r || ':' || e.user_id), 1, 8))::BIGINT
      |      % 256 AS b
      |  FROM exact e, range(4) t(r)
      |), est AS (
      |  SELECT p.user_id, p.n_exact, MIN(s.cnt) AS n_est
      |  FROM probes p JOIN sketch s ON s.r = p.r AND s.b = p.b
      |  GROUP BY p.user_id, p.n_exact
      |)
      |SELECT user_id, n_exact, n_est, n_est - n_exact AS overestimate,
      |  round(2.718281828459045 / 256 * n_total, 6) AS err_bound,
      |  (CAST(n_est - n_exact AS DOUBLE)
      |    <= 2.718281828459045 / 256 * n_total) AS within_bound
      |FROM est, tot
      |ORDER BY n_exact DESC, user_id""".stripMargin

  /** §2.33bx — ABC (Pareto) user-value classification: rank users by
    * exact lifetime value, walk the descending cumulative share, and
    * cut classes at the 80%/95% marks (A = the head that carries 80%
    * of value, B = the next 15%, C = the tail) — the
    * inventory-management classic applied to user concentration, and
    * the actionable sibling of qe_gini's single-number inequality
    * read. A user's class is decided by the share accumulated BEFORE
    * it (so the user straddling a boundary lands in the head class),
    * making every comparison exact: (cum − x)·100 < 80·total in
    * DECIMAL(38,0) cents. Scale: the global descending rank uses the
    * qe_gini two-level shape — order-preserving value buckets from a
    * 1-row broadcast min/max, within-bucket cumulative decimal sums,
    * and a broadcast per-bucket carry — never a single-partition
    * global window over the user frame. */
  def qeAbc(spark: SparkSession, dir: String): DataFrame = {
    val nBuckets = 1024
    val perUser = Tables.load(spark, dir, "events")
      .groupBy("user_id")
      .agg((sum(col("value").cast("decimal(18,4)")) * lit(10000))
        .cast("decimal(38,0)").as("x"))
    val bounds = broadcast(perUser.agg(
      min(col("x").cast("double")).as("xmin"),
      max(col("x").cast("double")).as("xmax"),
      sum(col("x")).as("tx"), count(lit(1)).as("tn")))
    // Monotone-decreasing bucket map: highest value -> bucket 0, so
    // the bucket order IS the descending value order (ties stay inside
    // one bucket where the window resolves them).
    val bucketed = perUser.crossJoin(bounds)
      .withColumn("bucket",
        least(lit(nBuckets - 1), greatest(lit(0),
          floor((col("xmax") - col("x").cast("double"))
            / (greatest(col("xmax") - col("xmin"), lit(1.0)) / nBuckets))
            .cast("int"))))
    val wIn = Window.partitionBy("bucket")
      .orderBy(col("x").desc, col("user_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wCarry = Window.orderBy("bucket")
      .rowsBetween(Window.unboundedPreceding, -1)
    val carries = bucketed.groupBy("bucket")
      .agg(sum(col("x")).as("bx"))
      .withColumn("carry",
        coalesce(sum("bx").over(wCarry), lit(java.math.BigDecimal.ZERO)
          .cast("decimal(38,0)")))
      .select("bucket", "carry")
    bucketed
      .withColumn("cum",
        (sum(col("x")).over(wIn) + lit(0)).cast("decimal(38,0)"))
      .join(broadcast(carries), Seq("bucket"))
      .withColumn("prev",
        (col("carry") + col("cum") - col("x")).cast("decimal(38,0)"))
      .withColumn("abc_class",
        when(col("prev") * 100 < col("tx") * 80, "A")
          .when(col("prev") * 100 < col("tx") * 95, "B")
          .otherwise("C"))
      .groupBy("abc_class")
      .agg(count(lit(1)).as("n_users"),
        sum(col("x")).as("__v"),
        first(col("tx")).as("__tx"), first(col("tn")).as("__tn"))
      .select(col("abc_class"), col("n_users"),
        round(col("n_users").cast("double") / col("__tn"), 6).as("n_share"),
        round(col("__v").cast("double") / 10000.0, 4).as("value_total"),
        round(col("__v").cast("double") / col("__tx").cast("double"), 6)
          .as("value_share"))
      .orderBy("abc_class")
  }

  val qeAbcSql: String =
    """WITH pu AS (
      |  SELECT user_id,
      |    CAST(SUM(CAST(value AS DECIMAL(18,4))) * 10000 AS DECIMAL(38,0))
      |      AS x
      |  FROM events GROUP BY user_id
      |), tot AS (
      |  SELECT CAST(SUM(x) AS DECIMAL(38,0)) AS tx, COUNT(*) AS tn FROM pu
      |), ranked AS (
      |  SELECT user_id, x,
      |    SUM(x) OVER (ORDER BY x DESC, user_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
      |  FROM pu
      |), classed AS (
      |  SELECT r.user_id, r.x,
      |    CASE WHEN (r.cum - r.x) * 100 < t.tx * 80 THEN 'A'
      |      WHEN (r.cum - r.x) * 100 < t.tx * 95 THEN 'B'
      |      ELSE 'C' END AS abc_class,
      |    t.tx, t.tn
      |  FROM ranked r, tot t
      |)
      |SELECT abc_class, COUNT(*) AS n_users,
      |  round(CAST(COUNT(*) AS DOUBLE) / tn, 6) AS n_share,
      |  round(CAST(SUM(x) AS DOUBLE) / 10000.0, 4) AS value_total,
      |  round(CAST(SUM(x) AS DOUBLE) / CAST(tx AS DOUBLE), 6) AS value_share
      |FROM classed
      |GROUP BY abc_class, tn, tx
      |ORDER BY abc_class""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "qe_abc" -> (qeAbc _),
    "qe_cms" -> (qeCms _),
    "qe_ewma_chart" -> (qeEwmaChart _),
    "qe_holt_winters" -> (qeHoltWinters _),
    "qe_mde" -> (qeMde _),
    "qe_cuped" -> (qeCuped _),
    "qe_did" -> (qeDid _),
    "qe_holt" -> (qeHolt _),
    "qe_stl" -> (qeStl _),
    "qe_segment_value" -> (qeSegmentValue _),
    "qe_entry_analysis" -> (qeEntryAnalysis _),
    "qe_markov_eval" -> (qeMarkovEval _),
    "qe_trend_robust" -> (qeTrendRobust _),
    "qe_step_latency" -> (qeStepLatency _),
    "qe_ab_ttest" -> (qeAbTtest _),
    "qe_concurrency" -> (qeConcurrency _),
    "qe_gini" -> (qeGini _),
    "qe_autocorr" -> (qeAutocorr _),
    "qe_hurst" -> (qeHurst _),
    "qe_mwu" -> (qeMwu _),
    "qe_bootstrap" -> (qeBootstrap _),
    "qe_event_study" -> (qeEventStudy _),
    "qe_xcorr" -> (qeXcorr _),
    "qe_skew_report" -> (qeSkewReport _),
    "qe_topk_sketch" -> (qeTopkSketch _),
    "qe_markov_stationary" -> (qeMarkovStationary _),
    "qe_ltv_curve" -> (qeLtvCurve _),
    "qe_forecast" -> (qeForecast _),
    "qe_trend" -> (qeTrend _),
    "qe_wau_rolling" -> (qeWauRolling _),
    "qe_ab_balance" -> (qeAbBalance _),
    "qe_latest" -> (qeLatest _),
    "qe_seasonal_anomaly" -> (qeSeasonalAnomaly _),
    "qe_ltv_deciles" -> (qeLtvDeciles _),
    "qe_conversion" -> (qeConversion _),
    "qe_cooccurrence" -> (qeCooccurrence _),
    "qe_rolling" -> (qeRolling _),
    "qe_lifecycle" -> (qeLifecycle _),
    "qe_diversity" -> (qeDiversity _),
    "qe_twa" -> (qeTwa _),
    "qe_heavytail" -> (qeHeavytail _),
    "qe_session_stats" -> (qeSessionStats _),
    "qe_streaks" -> (qeStreaks _),
    "qe_rfm" -> (qeRfm _),
    "qe_seasonality" -> (qeSeasonality _),
    "qe_transitions" -> (qeTransitions _),
    "qe_bursts" -> (qeBursts _),
    "qe_changepoint" -> (qeChangepoint _),
    "qe_bots" -> (qeBots _),
    "qe_decay" -> (qeDecay _),
    "qe_anomaly_hours" -> (qeAnomalyHours _),
    "qe_interarrival" -> (qeInterarrival _),
    "qe_gapfill" -> (qeGapfill _),
    "qe_attribution" -> (qeAttribution _),
    "qe_attribution_multi" -> (qeAttributionMulti _),
    "qe_survival" -> (qeSurvival _),
    "qe_hazard" -> (qeHazard _),
    "qe_markov_entropy" -> (qeMarkovEntropy _),
    "qe_shapley" -> (qeShapley _),
    "qe_croston" -> (qeCroston _),
    "qe_lateness" -> (qeLateness _),
    "qe_mix_decomposition" -> (qeMixDecomposition _),
    "qe_logrank" -> (qeLogrank _),
    "qe_anova" -> (qeAnova _),
    "qe_elasticity" -> (qeElasticity _),
    "qe_stickiness" -> (qeStickiness _),
    "qe_retention" -> (qeRetention _),
    "qe_paths" -> (qePaths _),
    "qe_histogram" -> (qeHistogram _),
    "qe_props" -> (qeProps _),
    "qe_forecast_eval" -> (qeForecastEval _),
    "qe_time_to_nth" -> (qeTimeToNth _),
    "qe_alert_episodes" -> (qeAlertEpisodes _),
    "qe_rolling_corr" -> (qeRollingCorr _),
    "qe_window_funnel" -> (qeWindowFunnel _),
    "qe_conformal" -> (qeConformal _),
    "qe_trigrams" -> (qeTrigrams _),
    "qe_audience_overlap" -> (qeAudienceOverlap _),
    "qe_windows" -> (qeWindows _),
    "qe_sliding" -> (qeSliding _),
    "qe_range" -> (qeRange _),
    "qe_sessions" -> (qeSessions _),
    "qe_sessions_stitched" -> (qeSessionsStitched _),
    "qe_session_window" -> (qeSessionWindow _),
    "qe_topk_users" -> (qeTopkUsers _),
    "qe_funnel" -> (qeFunnel _),
    "qe_asof" -> (qeAsof _))

  val oracles: Map[String, String] = Map(
    "qe_abc" -> qeAbcSql,
    "qe_cms" -> qeCmsSql,
    "qe_trend_robust" -> qeTrendRobustSql,
    "qe_step_latency" -> qeStepLatencySql,
    "qe_ab_ttest" -> qeAbTtestSql,
    "qe_concurrency" -> qeConcurrencySql,
    "qe_gini" -> qeGiniSql,
    "qe_autocorr" -> qeAutocorrSql,
    "qe_hurst" -> qeHurstSql,
    "qe_mwu" -> qeMwuSql,
    "qe_bootstrap" -> qeBootstrapSql,
    "qe_event_study" -> qeEventStudySql,
    "qe_xcorr" -> qeXcorrSql,
    "qe_skew_report" -> qeSkewReportSql,
    "qe_topk_sketch" -> qeTopkSketchSql,
    "qe_markov_stationary" -> qeMarkovStationarySql,
    "qe_ltv_curve" -> qeLtvCurveSql,
    "qe_forecast" -> qeForecastSql,
    "qe_trend" -> qeTrendSql,
    "qe_wau_rolling" -> qeWauRollingSql,
    "qe_ab_balance" -> qeAbBalanceSql,
    "qe_latest" -> qeLatestSql,
    "qe_seasonal_anomaly" -> qeSeasonalAnomalySql,
    "qe_ltv_deciles" -> qeLtvDecilesSql,
    "qe_conversion" -> qeConversionSql,
    "qe_cooccurrence" -> qeCooccurrenceSql,
    "qe_rolling" -> qeRollingSql,
    "qe_lifecycle" -> qeLifecycleSql,
    "qe_diversity" -> qeDiversitySql,
    "qe_twa" -> qeTwaSql,
    "qe_heavytail" -> qeHeavytailSql,
    "qe_session_stats" -> qeSessionStatsSql,
    "qe_streaks" -> qeStreaksSql,
    "qe_rfm" -> qeRfmSql,
    "qe_seasonality" -> qeSeasonalitySql,
    "qe_stl" -> qeStlSql,
    "qe_markov_eval" -> qeMarkovEvalSql,
    "qe_entry_analysis" -> qeEntryAnalysisSql,
    "qe_segment_value" -> qeSegmentValueSql,
    "qe_transitions" -> qeTransitionsSql,
    "qe_bursts" -> qeBurstsSql,
    "qe_changepoint" -> qeChangepointSql,
    "qe_bots" -> qeBotsSql,
    "qe_decay" -> qeDecaySql,
    "qe_anomaly_hours" -> qeAnomalyHoursSql,
    "qe_interarrival" -> qeInterarrivalSql,
    "qe_gapfill" -> qeGapfillSql,
    "qe_attribution" -> qeAttributionSql,
    "qe_attribution_multi" -> qeAttributionMultiSql,
    "qe_survival" -> qeSurvivalSql,
    "qe_hazard" -> qeHazardSql,
    "qe_markov_entropy" -> qeMarkovEntropySql,
    "qe_shapley" -> qeShapleySql,
    "qe_croston" -> qeCrostonSql,
    "qe_lateness" -> qeLatenessSql,
    "qe_mix_decomposition" -> qeMixDecompositionSql,
    "qe_logrank" -> qeLogrankSql,
    "qe_anova" -> qeAnovaSql,
    "qe_elasticity" -> qeElasticitySql,
    "qe_stickiness" -> qeStickinessSql,
    "qe_retention" -> qeRetentionSql,
    "qe_paths" -> qePathsSql,
    "qe_histogram" -> qeHistogramSql,
    "qe_props" -> qePropsSql,
    "qe_forecast_eval" -> qeForecastEvalSql,
    "qe_time_to_nth" -> qeTimeToNthSql,
    "qe_alert_episodes" -> qeAlertEpisodesSql,
    "qe_rolling_corr" -> qeRollingCorrSql,
    "qe_window_funnel" -> qeWindowFunnelSql,
    "qe_conformal" -> qeConformalSql,
    "qe_holt" -> qeHoltSql,
    "qe_did" -> qeDidSql,
    "qe_cuped" -> qeCupedSql,
    "qe_mde" -> qeMdeSql,
    "qe_holt_winters" -> qeHoltWintersSql,
    "qe_ewma_chart" -> qeEwmaChartSql,
    "qe_trigrams" -> qeTrigramsSql,
    "qe_audience_overlap" -> qeAudienceOverlapSql,
    "qe_windows" -> qeWindowsSql,
    "qe_sliding" -> qeSlidingSql,
    "qe_range" -> qeRangeSql,
    "qe_sessions" -> qeSessionsSql,
    "qe_sessions_stitched" -> qeSessionsSql,
    "qe_session_window" -> qeSessionWindowSql,
    "qe_topk_users" -> qeTopkUsersSql,
    "qe_funnel" -> qeFunnelSql,
    "qe_asof" -> qeAsofSql)
}
