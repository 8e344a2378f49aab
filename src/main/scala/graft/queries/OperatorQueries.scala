package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.operators.{Merge, SkewAgg, SkewJoin}

/** Oracle-backed drive-throughs for the infrastructure operators that
  * until round 8 were covered only by unit specs (SURVEY §2 items 37,
  * 37b, 39c). Each query routes real test-table data through the
  * operator and lands on a result a plain-SQL oracle can recompute —
  * proving not just "the spec's fixture behaves" but "the rewrite is
  * semantically invisible on actual data": a salted join must equal the
  * unsalted join, a salted distinct-count must equal COUNT(DISTINCT),
  * a CDC merge election must equal its windowed-SQL definition.
  */
object OperatorQueries {

  /** §2.37 — skew-salted join equivalence: route the lineitem→supplier
    * join through [[SkewJoin.saltedJoin]] (big side scattered over 8
    * sub-keys, small side replicated) and aggregate per nation. The
    * oracle is the PLAIN join — salting is a physical rewrite and must
    * not change a single row. At 100 TB this is the shape that saves a
    * hot supplier key from a single straggler task. */
  def qoSkewJoin(spark: SparkSession, dir: String): DataFrame = {
    val big = Tables.load(spark, dir, "lineitem")
      .select(col("l_suppkey").as("suppkey"), col("l_extendedprice"))
    val small = Tables.load(spark, dir, "supplier")
      .select(col("s_suppkey").as("suppkey"), col("s_nationkey"))
    SkewJoin.saltedJoin(big, small, "suppkey", saltFactor = 8)
      .groupBy("s_nationkey")
      .agg(
        count(lit(1)).as("n_items"),
        sum(col("l_extendedprice").cast("decimal(18,4)"))
          .cast("decimal(38,4)").cast("double").as("sum_price"))
      .orderBy("s_nationkey")
  }

  val qoSkewJoinSql: String =
    """SELECT s_nationkey, COUNT(*) AS n_items,
      |  CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DECIMAL(38,4))
      |    AS DOUBLE) AS sum_price
      |FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
      |GROUP BY s_nationkey
      |ORDER BY s_nationkey""".stripMargin

  /** §2.37b — salted holistic aggregates: exact per-flag distinct part
    * count via [[SkewAgg.countDistinctSalted]] (value-hash salting: 16
    * disjoint per-bucket distinct sets whose counts ADD) joined with
    * the heaviest single value's multiplicity from
    * [[SkewAgg.maxValueCountSalted]]. The oracle recomputes both with
    * the holistic built-ins the salting exists to replace. */
  def qoSkewDistinct(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.load(spark, dir, "lineitem")
    val nd = SkewAgg.countDistinctSalted(li, Seq("l_returnflag"), "l_partkey",
      salts = 16)
    val mv = SkewAgg.maxValueCountSalted(li, Seq("l_returnflag"), "l_partkey")
    nd.join(mv, "l_returnflag").orderBy("l_returnflag")
  }

  /** §2.37c — the UNSALTED twin of [[qoSkewJoin]]: the identical
    * logical query through a plain equi-join (whatever strategy the
    * planner elects). Exists so the skew ladder can measure the salted
    * rewrite AGAINST the thing it replaces on genuinely Zipfian keys —
    * max-task vs median-task before/after is the straggler evidence; on
    * uniform driver data the two are equal-cost by design. Same oracle
    * as qo_skew_join (same answer is the equivalence contract). */
  def qoSkewJoinPlain(spark: SparkSession, dir: String): DataFrame = {
    Tables.load(spark, dir, "lineitem")
      .select(col("l_suppkey").as("suppkey"), col("l_extendedprice"))
      .join(Tables.load(spark, dir, "supplier")
        .select(col("s_suppkey").as("suppkey"), col("s_nationkey")),
        Seq("suppkey"))
      .groupBy("s_nationkey")
      .agg(
        count(lit(1)).as("n_items"),
        sum(col("l_extendedprice").cast("decimal(18,4)"))
          .cast("decimal(38,4)").cast("double").as("sum_price"))
      .orderBy("s_nationkey")
  }

  /** §2.37d — the UNSALTED twin of [[qoSkewDistinct]]: holistic
    * built-ins (COUNT(DISTINCT), per-value census max) computed
    * directly, single shuffle per holistic key. The salted rewrite's
    * opponent on the skew ladder; same oracle as qo_skew_distinct. */
  def qoSkewDistinctPlain(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.load(spark, dir, "lineitem")
    val census = li.groupBy("l_returnflag", "l_partkey")
      .agg(count(lit(1)).as("c"))
    census.groupBy("l_returnflag")
      .agg(
        countDistinct(col("l_partkey")).cast("long").as("n_distinct"),
        max(col("c")).cast("long").as("max_value_count"))
      .orderBy("l_returnflag")
  }

  val qoSkewDistinctSql: String =
    """SELECT l_returnflag,
      |  CAST(COUNT(DISTINCT l_partkey) AS BIGINT) AS n_distinct,
      |  CAST(MAX(c) AS BIGINT) AS max_value_count
      |FROM (
      |  SELECT l_returnflag, l_partkey, COUNT(*) AS c
      |  FROM lineitem GROUP BY l_returnflag, l_partkey
      |) t
      |GROUP BY l_returnflag
      |ORDER BY l_returnflag""".stripMargin

  /** §2.39c — CDC merge election on real data: a deterministic update
    * batch derived from orders (every 5th key re-priced and re-dated
    * +30 days; every 20th key a tombstone) merged into the full orders
    * frame through [[Merge.resolve]] — the same latest-wins /
    * batch-wins-ties / tombstone core `upsertPartitioned` persists,
    * minus the partition IO the unit spec already proves. Output is the
    * per-status survivor census, so the hash pins every election
    * outcome (update applied, tie broken, key deleted, row untouched).
    */
  def qoMerge(spark: SparkSession, dir: String): DataFrame = {
    val cols = Seq("o_orderkey", "o_custkey", "o_orderstatus",
      "o_totalprice", "o_orderdate")
    val target = Tables.load(spark, dir, "orders")
      .select(cols.map(col): _*)
    val batch = target
      .where(col("o_orderkey") % 5 === 0)
      .withColumn("o_orderstatus", lit("U"))
      // *2 on a double is exponent arithmetic — bit-exact on both
      // engines (no decimal detour needed for the per-row value; the
      // SUM below still folds in decimal so accumulation order cannot
      // show).
      .withColumn("o_totalprice", col("o_totalprice") * lit(2))
      // interval add, not date_add: o_orderdate is a TIMESTAMP and the
      // merge's order column must keep its type.
      .withColumn("o_orderdate", col("o_orderdate") + expr("INTERVAL 30 DAYS"))
      .withColumn("is_deleted", col("o_orderkey") % 20 === 0)
    Merge.resolve(target, batch, keys = Seq("o_orderkey"),
        orderCol = "o_orderdate", deleteCol = Some("is_deleted"))
      .groupBy("o_orderstatus")
      .agg(
        count(lit(1)).as("n_orders"),
        sum(col("o_totalprice").cast("decimal(18,4)"))
          .cast("decimal(38,4)").cast("double").as("sum_price"))
      .orderBy("o_orderstatus")
  }

  val qoMergeSql: String =
    """WITH batch AS (
      |  SELECT o_orderkey, o_custkey,
      |    'U' AS o_orderstatus,
      |    o_totalprice * 2 AS o_totalprice,
      |    o_orderdate + INTERVAL 30 DAY AS o_orderdate,
      |    (o_orderkey % 20 = 0) AS is_deleted
      |  FROM orders WHERE o_orderkey % 5 = 0
      |), unioned AS (
      |  SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
      |    o_orderdate, 0 AS is_update, FALSE AS del
      |  FROM orders
      |  UNION ALL
      |  SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
      |    o_orderdate, 1 AS is_update, is_deleted AS del
      |  FROM batch
      |), elected AS (
      |  SELECT *, ROW_NUMBER() OVER (PARTITION BY o_orderkey
      |    ORDER BY o_orderdate DESC, is_update DESC) AS rn
      |  FROM unioned
      |)
      |SELECT o_orderstatus, COUNT(*) AS n_orders,
      |  CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DECIMAL(38,4))
      |    AS DOUBLE) AS sum_price
      |FROM elected WHERE rn = 1 AND NOT del
      |GROUP BY o_orderstatus
      |ORDER BY o_orderstatus""".stripMargin

  /** §2.25e — Bloom-accelerated EXACT blocklist anti-join
    * ([[graft.operators.BloomAntiJoin.exactAntiJoin]]): lineitems of
    * high-priority orders are the "blocklist"; the Bloom literal lets
    * every definitely-clean row skip the anti-join shuffle, and only
    * bloom-positive suspects join — with output semantics EXACTLY
    * `NOT IN`, which is what the oracle checks. The aggregation keeps
    * the verified output small while still being sensitive to any
    * wrongly dropped/kept row. */
  def qoBloomAnti(spark: SparkSession, dir: String): DataFrame = {
    val blocked = Tables.load(spark, dir, "orders")
      .where(col("o_orderpriority") === "1-URGENT")
      .select(col("o_orderkey"))
    graft.operators.BloomAntiJoin.exactAntiJoin(
      Tables.load(spark, dir, "lineitem"), blocked,
      "l_orderkey", "o_orderkey")
      .groupBy("l_returnflag")
      .agg(count(lit(1)).as("n_items"),
        sum(col("l_quantity").cast("decimal(18,4)"))
          .cast("decimal(38,4)").cast("double").as("sum_qty"))
      .orderBy("l_returnflag")
  }

  val qoBloomAntiSql: String =
    """SELECT l_returnflag, COUNT(*) AS n_items,
      |  CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DECIMAL(38,4))
      |    AS DOUBLE) AS sum_qty
      |FROM lineitem
      |WHERE l_orderkey NOT IN (
      |  SELECT o_orderkey FROM orders WHERE o_orderpriority = '1-URGENT')
      |GROUP BY l_returnflag
      |ORDER BY l_returnflag""".stripMargin

  /** §2.40 — join-cardinality forecast from per-key histograms: for the
    * M:N join events.user_id = orders.o_custkey, the EXACT output size
    * is Σ_k cnt_events(k)·cnt_orders(k) — computable from the two
    * COLLAPSED key-count frames without ever running the join. This is
    * the pre-flight a planner (or an on-call engineer) runs before an
    * unfamiliar join at 100 TB: the fact tables collapse map-side to
    * ≤ |distinct keys| rows each, the count-frame join shuffles only
    * those, and the report names the keys that would explode — the
    * exact rows each would emit and its share of the total — so a
    * hot key is known (and saltable, §37) before a single fact row
    * moves. Top-5 via distributed TakeOrdered, never a global window;
    * the 1-row total joins by broadcast. */
  def qoJoinCardinality(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.load(spark, dir, "events")
      .groupBy(col("user_id").as("join_key"))
      .agg(count(lit(1)).as("cnt_events"))
    val ord = Tables.load(spark, dir, "orders")
      .groupBy(col("o_custkey").as("join_key"))
      .agg(count(lit(1)).as("cnt_orders"))
    // Consumed twice (top-5 and the 1-row total): materialize once so
    // the two fact-table scans + key-count join don't run twice.
    val contrib = graft.operators.Materialize.now(ev.join(ord, "join_key")
      .select(col("join_key"), col("cnt_events"), col("cnt_orders"),
        (col("cnt_events") * col("cnt_orders")).as("est_rows")))
    val total = contrib.agg(sum("est_rows").as("total_est_rows"))
    contrib
      .orderBy(col("est_rows").desc, col("join_key"))
      .limit(5)
      .join(broadcast(total))
      .select(col("join_key"), col("cnt_events"), col("cnt_orders"),
        col("est_rows"), col("total_est_rows"),
        round(col("est_rows").cast("double") /
          col("total_est_rows").cast("double"), 6).as("share"))
      .orderBy(col("est_rows").desc, col("join_key"))
  }

  val qoJoinCardinalitySql: String =
    """WITH ev AS (
      |  SELECT user_id AS join_key, COUNT(*) AS cnt_events
      |  FROM events GROUP BY 1
      |), ord AS (
      |  SELECT o_custkey AS join_key, COUNT(*) AS cnt_orders
      |  FROM orders GROUP BY 1
      |), contrib AS (
      |  SELECT e.join_key, e.cnt_events, o.cnt_orders,
      |    e.cnt_events * o.cnt_orders AS est_rows
      |  FROM ev e JOIN ord o ON e.join_key = o.join_key
      |), tot AS (
      |  SELECT SUM(est_rows) AS total_est_rows FROM contrib
      |)
      |SELECT join_key, cnt_events, cnt_orders, est_rows,
      |  CAST(total_est_rows AS BIGINT) AS total_est_rows,
      |  round(CAST(est_rows AS DOUBLE) / CAST(total_est_rows AS DOUBLE), 6)
      |    AS share
      |FROM contrib, tot
      |ORDER BY est_rows DESC, join_key
      |LIMIT 5""".stripMargin

  /** §2.40b — sketched join-cardinality estimate for UNBOUNDED key
    * domains, where even [[qoJoinCardinality]]'s collapsed per-key
    * histograms are too big to join: each side folds into a d = 5 ×
    * w = 256 AMS "tug-of-war" sketch (Alon-Matias-Szegedy) — cell
    * a_r[j] = Σ_{h_r(k)=j} s_r(k)·cnt(k) with md5-derived bucket h and
    * ±1 sign s, so the sketch is engine-reproducible and the oracle
    * replays it bit-exactly. Each row's inner product Σ_j a_r[j]·b_r[j]
    * is an UNBIASED estimate of the true join size; the median over the
    * d rows is the estimator. The signed sketch — not count-min — is
    * the right tool here: a CMS inner product overestimates by
    * ~F1(a)·F1(b)/w (measured 58× on this data), while AMS variance is
    * F2(a)·F2(b)/w (measured +10.9% here), because collisions cancel
    * under random signs instead of accumulating. Scale shape: one map-side-
    * combinable grouped sum per side into ≤ d·w integer cells; sketches
    * merge by cell addition across partitions/days; the estimate join
    * touches 1 280 rows. All-integer arithmetic, exact median over an
    * odd row count — no float drift anywhere. */
  def qoJoinCardinalitySketch(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val d = 5 // w = 256 is implicit: buckets are full hex bytes
    def sketch(df: DataFrame, key: Column, cellName: String): DataFrame =
      // NULL keys can never join, so they must not contribute sketch
      // mass (concat_ws would silently skip a NULL and hash just the
      // row index — inflating matching cells on BOTH sides).
      // ONE md5 per row seeds all d rows: row r's bucket is hex byte
      // 4r..4r+1 (a full byte — w = 256 needs no modulo) and its sign
      // bit is nibble 4r+2, disjoint bits of the same digest. The
      // naive per-(row, r) hashing spends 2d = 10 md5 calls per input
      // row — the digest, not the 5× fan-out (map-side combined into
      // d·w cells), is what the scan actually pays for.
      df.select(key.as("k")).where(col("k").isNotNull)
        .withColumn("__h", md5(concat_ws("_", lit("ams"), col("k"))))
        .select(col("__h"), explode(sequence(lit(0), lit(d - 1))).as("r"))
        .select(col("r"),
          expr("cast(conv(substring(__h, r * 4 + 1, 2), 16, 10) as bigint)")
            .as("j"),
          (expr(
            "cast(conv(substring(__h, r * 4 + 3, 1), 16, 10) as bigint)")
            % 2 * 2 - 1).as("s"))
        .groupBy("r", "j").agg(sum(col("s")).as(cellName))
    val ev = sketch(Tables.load(spark, dir, "events"), col("user_id"), "ca")
    val ord = sketch(Tables.load(spark, dir, "orders"), col("o_custkey"), "cb")
    val perRow = ev.join(ord, Seq("r", "j"))
      .groupBy("r").agg(sum(col("ca") * col("cb")).as("ip"))
    // Exact median of d = 5 estimates: rank the 5-row frame and take the
    // 3rd — a bounded window, not a data-scale sort.
    val est = perRow
      .withColumn("rn", row_number().over(Window.orderBy(col("ip"), col("r"))))
      .where(col("rn") === (d / 2 + 1))
      .select(col("ip").as("ams_estimate"))
    val exact = Tables.load(spark, dir, "events")
      .groupBy(col("user_id").as("k")).agg(count(lit(1)).as("cnt_a"))
      .join(Tables.load(spark, dir, "orders")
        .groupBy(col("o_custkey").as("k")).agg(count(lit(1)).as("cnt_b")), "k")
      .agg(sum(col("cnt_a") * col("cnt_b")).as("exact_rows"))
    est.join(broadcast(exact))
      .select(col("exact_rows"), col("ams_estimate"),
        round((col("ams_estimate") - col("exact_rows")).cast("double") /
          col("exact_rows").cast("double"), 6).as("rel_error"))
  }

  val qoJoinCardinalitySketchSql: String = {
    def ams(table: String, key: String, cell: String) =
      s"""SELECT r.r,
         |    ('0x' || substr(md5('ams_' || $key), 4 * r.r + 1, 2))::BIGINT
         |      AS j,
         |    SUM(('0x' || substr(md5('ams_' || $key), 4 * r.r + 3, 1))::BIGINT
         |      % 2 * 2 - 1) AS $cell
         |  FROM $table, range(0, 5) r(r)
         |  WHERE $key IS NOT NULL
         |  GROUP BY 1, 2""".stripMargin
    s"""WITH ev AS (
       |  ${ams("events", "user_id", "ca")}
       |), ord AS (
       |  ${ams("orders", "o_custkey", "cb")}
       |), ip AS (
       |  SELECT e.r, SUM(e.ca * o.cb) AS ip
       |  FROM ev e JOIN ord o ON e.r = o.r AND e.j = o.j
       |  GROUP BY e.r
       |), est AS (
       |  SELECT CAST(ip AS BIGINT) AS ams_estimate FROM (
       |    SELECT ip, ROW_NUMBER() OVER (ORDER BY ip, r) AS rn FROM ip
       |  ) WHERE rn = 3
       |), ex AS (
       |  SELECT CAST(SUM(a.cnt_a * b.cnt_b) AS BIGINT) AS exact_rows FROM
       |    (SELECT user_id AS k, COUNT(*) AS cnt_a FROM events GROUP BY 1) a
       |    JOIN
       |    (SELECT o_custkey AS k, COUNT(*) AS cnt_b FROM orders GROUP BY 1) b
       |    ON a.k = b.k
       |)
       |SELECT ex.exact_rows, est.ams_estimate,
       |  round(CAST(est.ams_estimate - ex.exact_rows AS DOUBLE)
       |    / CAST(ex.exact_rows AS DOUBLE), 6) AS rel_error
       |FROM ex, est""".stripMargin
  }

  /** §2.41 — sampling-based approximate-query-processing error report:
    * estimate SUM(l_extendedprice) per return flag from a 1%
    * Bernoulli sample (portable md5 coin on the line's natural key,
    * so the "sample" is a deterministic, reproducible column — the
    * same rows sample on any engine and any run), against the exact
    * sum, with the Horvitz–Thompson variance's 95% CI:
    * V̂ = (1−p)/p² · Σ_sample x² for Bernoulli(p) sampling. The report
    * answers the 100 TB question "how wrong would the 1% sample have
    * been" — at scale the sample path reads 1% of the data (the coin
    * pushes into the scan); here both paths run in ONE combinable
    * aggregate over one scan (exact sum, sampled sum, sampled
    * sum-of-squares as conditional decimal aggregates — no second
    * pass, no join). Decimal discipline: x quantizes to
    * DECIMAL(18,4); x² is exact at scale 4 (2-decimal inputs), its
    * sum downcasts to DECIMAL(28,0) so every decimal→double is one
    * correctly-rounded conversion; estimator/CI/coverage are then
    * single IEEE expressions. */
  def qoAqpError(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.Portable.md5Bucket
    val p = 0.01
    val x = col("l_extendedprice").cast("decimal(18,4)")
    val sampled = md5Bucket("aqp",
      concat_ws(":", col("l_orderkey"), col("l_linenumber")), 100) < 1
    val estimate = col("__ss").cast("double") / lit(p)
    val exact = col("__ex").cast("double")
    // (1−p)/p² as the literal 9900.0, NOT computed — 0.99/0.0001 in
    // doubles is 9899.999…, and the oracle writes 9900e0.
    val ciHalf = lit(1.96) * sqrt(lit(9900.0) * col("__sq").cast("double"))
    Tables.load(spark, dir, "lineitem")
      .groupBy("l_returnflag")
      .agg(count(lit(1)).as("n_rows"),
        sum(when(sampled, 1L).otherwise(0L)).as("n_sampled"),
        sum(x).as("__ex"),
        coalesce(sum(when(sampled, x)), lit(0).cast("decimal(18,4)"))
          .as("__ss"),
        coalesce(sum(when(sampled, (x * x).cast("decimal(28,4)")))
          .cast("decimal(28,0)"), lit(0).cast("decimal(28,0)"))
          .as("__sq"))
      .select(col("l_returnflag"), col("n_rows"), col("n_sampled"),
        round(exact, 2).as("exact_sum"),
        round(estimate, 2).as("estimate"),
        round(abs(estimate - exact) / exact, 6).as("rel_error"),
        round(ciHalf, 2).as("ci95_half"),
        (abs(estimate - exact) <= ciHalf).as("ci_covers"))
      .orderBy("l_returnflag")
  }

  val qoAqpErrorSql: String =
    """WITH agg AS (
      |  SELECT l_returnflag, COUNT(*) AS n_rows,
      |    CAST(SUM(CASE WHEN ('0x' || substr(md5('aqp:' || l_orderkey || ':'
      |        || l_linenumber), 1, 8))::BIGINT % 100 < 1
      |      THEN 1 ELSE 0 END) AS BIGINT) AS n_sampled,
      |    SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS ex,
      |    COALESCE(SUM(CASE WHEN ('0x' || substr(md5('aqp:' || l_orderkey
      |        || ':' || l_linenumber), 1, 8))::BIGINT % 100 < 1
      |      THEN CAST(l_extendedprice AS DECIMAL(18,4)) END),
      |      CAST(0 AS DECIMAL(18,4))) AS ss,
      |    COALESCE(CAST(SUM(CASE WHEN ('0x' || substr(md5('aqp:'
      |        || l_orderkey || ':' || l_linenumber), 1, 8))::BIGINT
      |        % 100 < 1
      |      THEN CAST(CAST(l_extendedprice AS DECIMAL(19,4))
      |        * CAST(l_extendedprice AS DECIMAL(19,4))
      |        AS DECIMAL(28,4)) END) AS DECIMAL(28,0)),
      |      CAST(0 AS DECIMAL(28,0))) AS sq
      |  FROM lineitem GROUP BY l_returnflag
      |)
      |SELECT l_returnflag, n_rows, n_sampled,
      |  round(CAST(ex AS DOUBLE), 2) AS exact_sum,
      |  round(CAST(ss AS DOUBLE) / 0.01e0, 2) AS estimate,
      |  round(abs(CAST(ss AS DOUBLE) / 0.01e0 - CAST(ex AS DOUBLE))
      |    / CAST(ex AS DOUBLE), 6) AS rel_error,
      |  round(1.96e0 * sqrt(9900e0 * CAST(sq AS DOUBLE)), 2)
      |    AS ci95_half,
      |  abs(CAST(ss AS DOUBLE) / 0.01e0 - CAST(ex AS DOUBLE))
      |    <= 1.96e0 * sqrt(9900e0 * CAST(sq AS DOUBLE)) AS ci_covers
      |FROM agg
      |ORDER BY l_returnflag""".stripMargin

  /** §2.39e — zone-map file-skipping effectiveness by layout: the
    * measured WHY behind [[graft.sources.Layout]] — for the same
    * orders data partitioned by ship month and chunked into 64-row
    * "files", how many files a 5%-selective predicate can prune from
    * each clustering: `natural` (arrival order — zone maps useless),
    * `linear` (sorted by custkey — prunes custkey predicates only),
    * `zorder` (4+4-bit interleave of custkey × price-cents buckets —
    * prunes BOTH dimensions at reduced per-dimension tightness). Two
    * probe predicates (a custkey band, a price band) × three layouts
    * → six rows of (files, skipped, fraction). All arithmetic is
    * exact integers: price buckets come from round-to-cents BIGINTs,
    * bucket ids from integer division against the 1-row min/max
    * scalars (broadcast), the z-value from shift/mask interleave, and
    * each layout's sort key packs (cluster value, orderkey) into one
    * BIGINT so a single window per (layout, month) assigns files —
    * partitions stay month-bounded, no global sort (the layout sort
    * being measured is exactly the cost a real relayout would pay,
    * here simulated per partition the way a partitioned table lays
    * out files). Zone maps and skip decisions are min/max + interval
    * comparisons — engine-exact. */
  def qoZoneSkipping(spark: SparkSession, dir: String): DataFrame = {
    val rows = Tables.load(spark, dir, "orders")
      .select(col("o_orderkey").as("okey"), col("o_custkey").as("ck"),
        date_format(col("o_orderdate"), "yyyy-MM").as("month"),
        expr("cast(round(o_totalprice * 100, 0) as bigint)").as("cents"))
    val bounds = broadcast(rows.agg(
      min("ck").as("__ckmin"), max("ck").as("__ckmax"),
      min("cents").as("__cmin"), max("cents").as("__cmax")))
    // Integer division throughout (`div`, mirrored by DuckDB `//`) —
    // Column./ is DOUBLE division and would diverge at quotient
    // boundaries.
    def bucket(v: String, lo: String, hi: String): Column =
      expr(s"least(15L, (($v - $lo) * 16) div ($hi - $lo + 1))")
    def interleave(bx: Column, by: Column): Column =
      (0 until 4).map { i =>
        shiftleft(shiftright(bx, i).bitwiseAND(lit(1L)), 2 * i)
          .bitwiseOR(
            shiftleft(shiftright(by, i).bitwiseAND(lit(1L)), 2 * i + 1))
      }.reduce(_ bitwiseOR _)
    val big = lit(1099511627776L) // 2^40: packs (cluster value, okey)
    val keyed = rows.crossJoin(bounds)
      .withColumn("__bx", bucket("ck", "__ckmin", "__ckmax"))
      .withColumn("__by", bucket("cents", "__cmin", "__cmax"))
      .withColumn("layout",
        explode(array(lit("natural"), lit("linear"), lit("zorder"))))
      .withColumn("__key",
        when(col("layout") === "natural", col("okey"))
          .when(col("layout") === "linear", col("ck") * big + col("okey"))
          .otherwise(interleave(col("__bx"), col("__by")) * big +
            col("okey")))
    val fileW = Window.partitionBy("layout", "month").orderBy("__key")
    val files = keyed
      .withColumn("__file",
        floor((row_number().over(fileW) - 1) / lit(64)))
      .groupBy("layout", "month", "__file")
      .agg(min("ck").as("__fckmin"), max("ck").as("__fckmax"),
        min("cents").as("__fcmin"), max("cents").as("__fcmax"),
        min("__ckmin").as("__ckmin"), max("__ckmax").as("__ckmax"),
        min("__cmin").as("__cmin"), max("__cmax").as("__cmax"))
    def band(lo: String, hi: String, pct: Int): (Column, Column) =
      (expr(s"$lo + (($hi - $lo + 1) * $pct) div 100"),
        expr(s"$lo + (($hi - $lo + 1) * ${pct + 5}) div 100"))
    val (ckLo, ckHi) = band("__ckmin", "__ckmax", 35)
    val (cLo, cHi) = band("__cmin", "__cmax", 35)
    files
      .withColumn("predicate",
        explode(array(lit("custkey_band"), lit("price_band"))))
      .withColumn("__skip",
        when(col("predicate") === "custkey_band",
          col("__fckmax") < ckLo || col("__fckmin") >= ckHi)
          .otherwise(col("__fcmax") < cLo || col("__fcmin") >= cHi))
      .groupBy("layout", "predicate")
      .agg(count(lit(1)).as("n_files"),
        sum(when(col("__skip"), 1L).otherwise(0L)).as("n_skipped"))
      .withColumn("skip_fraction",
        round(col("n_skipped").cast("double") /
          col("n_files").cast("double"), 6))
      .orderBy("layout", "predicate")
  }

  /** §2.39f — small-file compaction planner (the OPTIMIZE planning
    * pass a partitioned 100 TB table runs nightly): from a per-partition
    * file inventory, classify every file against a per-partition target
    * size and emit the rewrite plan — `keep` (right-sized, untouched),
    * `compact` (undersized, bin-packed into target-size groups),
    * `split` (oversized, divided into ceil(bytes/target) outputs) —
    * plus the accounting a maintenance scheduler budgets with: files
    * before/after and bytes rewritten (write amplification). The
    * inventory here is derived deterministically from data (a "file" =
    * one (ship-month, priority, custkey mod 4) orders group at 64
    * bytes/row) so the oracle can recompute it; a real deployment feeds
    * the same planner from the metastore file listing. Everything is
    * scale-invariant and exact-integer: the target is ~2× the
    * partition's exact median file size (lower+upper-median SUM, no
    * doubles, rounded up to a 64-byte multiple), classification is
    * integer compares, and packing is next-fit-decreasing via a
    * per-partition cumulative-sum window — `bin = (cumsum − bytes) div
    * target` over (bytes DESC, file_id) order, which guarantees every
    * bin except a partition's last reaches the target. Scale shape:
    * one partition-keyed shuffle builds the inventory, every window is
    * partition-local (no global sort), and the planner's input at
    * 100 TB is file *metadata* — millions of rows, not data rows. */
  def qoCompaction(spark: SparkSession, dir: String): DataFrame = {
    val inv = Tables.load(spark, dir, "orders")
      .groupBy(date_format(col("o_orderdate"), "yyyy-MM").as("part"),
        concat(col("o_orderpriority"), lit("-"),
          (col("o_custkey") % 4).cast("string")).as("file_id"))
      .agg((count(lit(1)) * 64).as("bytes"))
    val rankW = Window.partitionBy("part").orderBy("bytes", "file_id")
    val ranked = inv
      .withColumn("__rn", row_number().over(rankW))
      .withColumn("__n", count(lit(1)).over(Window.partitionBy("part")))
    val med = ranked.groupBy("part").agg(
      (sum(when(col("__rn") === expr("(__n + 1) div 2"), col("bytes"))
          .otherwise(0L)) +
        sum(when(col("__rn") === expr("(__n + 2) div 2"), col("bytes"))
          .otherwise(0L))).as("__med2"))
    val classed = ranked.join(med, "part")
      .withColumn("__target",
        expr("((__med2 + 63) div 64) * 64"))
      .withColumn("action",
        when(col("bytes") > lit(2) * col("__target"), lit("split"))
          .when(col("bytes") * 2 < col("__target"), lit("compact"))
          .otherwise(lit("keep")))
    val packW = Window.partitionBy("part", "action")
      .orderBy(col("bytes").desc, col("file_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    classed
      .withColumn("__cum", sum("bytes").over(packW))
      .withColumn("__bin",
        when(col("action") === "compact",
          expr("(__cum - bytes) div __target")))
      .groupBy("part")
      .agg(count(lit(1)).as("n_files"),
        sum(when(col("action") === "keep", 1L).otherwise(0L)).as("n_keep"),
        sum(when(col("action") === "compact", 1L).otherwise(0L))
          .as("n_compact"),
        sum(when(col("action") === "split", 1L).otherwise(0L)).as("n_split"),
        countDistinct(col("__bin")).as("n_bins"),
        (sum(when(col("action") === "keep", 1L).otherwise(0L)) +
          countDistinct(col("__bin")) +
          sum(when(col("action") === "split",
            expr("(bytes + __target - 1) div __target")).otherwise(0L)))
          .as("n_files_after"),
        sum("bytes").as("bytes_total"),
        sum(when(col("action") === "keep", 0L).otherwise(col("bytes")))
          .as("bytes_rewritten"))
      .withColumn("write_amplification",
        round(col("bytes_rewritten").cast("double") /
          col("bytes_total").cast("double"), 6))
      .orderBy("part")
  }

  val qoCompactionSql: String =
    """WITH inv AS (
      |  SELECT strftime(o_orderdate, '%Y-%m') AS part,
      |    o_orderpriority || '-' || CAST(o_custkey % 4 AS VARCHAR)
      |      AS file_id,
      |    COUNT(*) * 64 AS bytes
      |  FROM orders GROUP BY 1, 2
      |), ranked AS (
      |  SELECT *,
      |    ROW_NUMBER() OVER (PARTITION BY part ORDER BY bytes, file_id)
      |      AS rn,
      |    COUNT(*) OVER (PARTITION BY part) AS n
      |  FROM inv
      |), med AS (
      |  SELECT part,
      |    SUM(CASE WHEN rn = (n + 1) // 2 THEN bytes ELSE 0 END)
      |      + SUM(CASE WHEN rn = (n + 2) // 2 THEN bytes ELSE 0 END)
      |      AS med2
      |  FROM ranked GROUP BY 1
      |), classed AS (
      |  SELECT r.part, r.file_id, r.bytes,
      |    ((m.med2 + 63) // 64) * 64 AS target,
      |    CASE WHEN r.bytes > 2 * (((m.med2 + 63) // 64) * 64)
      |        THEN 'split'
      |      WHEN r.bytes * 2 < (((m.med2 + 63) // 64) * 64)
      |        THEN 'compact'
      |      ELSE 'keep' END AS action
      |  FROM ranked r JOIN med m ON r.part = m.part
      |), binned AS (
      |  SELECT *, CASE WHEN action = 'compact' THEN
      |      (SUM(bytes) OVER (PARTITION BY part, action
      |         ORDER BY bytes DESC, file_id
      |         ROWS UNBOUNDED PRECEDING) - bytes) // target
      |    ELSE NULL END AS bin
      |  FROM classed
      |)
      |SELECT part, COUNT(*) AS n_files,
      |  CAST(SUM(CASE WHEN action = 'keep' THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_keep,
      |  CAST(SUM(CASE WHEN action = 'compact' THEN 1 ELSE 0 END)
      |    AS BIGINT) AS n_compact,
      |  CAST(SUM(CASE WHEN action = 'split' THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_split,
      |  CAST(COUNT(DISTINCT bin) AS BIGINT) AS n_bins,
      |  CAST(SUM(CASE WHEN action = 'keep' THEN 1 ELSE 0 END)
      |    + COUNT(DISTINCT bin)
      |    + SUM(CASE WHEN action = 'split'
      |        THEN (bytes + target - 1) // target ELSE 0 END) AS BIGINT)
      |    AS n_files_after,
      |  CAST(SUM(bytes) AS BIGINT) AS bytes_total,
      |  CAST(SUM(CASE WHEN action = 'keep' THEN 0 ELSE bytes END)
      |    AS BIGINT) AS bytes_rewritten,
      |  round(CAST(SUM(CASE WHEN action = 'keep' THEN 0 ELSE bytes END)
      |      AS DOUBLE)
      |    / CAST(SUM(bytes) AS DOUBLE), 6) AS write_amplification
      |FROM binned GROUP BY 1 ORDER BY part""".stripMargin

  val qoZoneSkippingSql: String =
    """WITH rows_t AS (
      |  SELECT o_orderkey AS okey, o_custkey AS ck,
      |    strftime(o_orderdate, '%Y-%m') AS month,
      |    CAST(round(o_totalprice * 100, 0) AS BIGINT) AS cents
      |  FROM orders
      |), bounds AS (
      |  SELECT MIN(ck) AS ckmin, MAX(ck) AS ckmax,
      |    MIN(cents) AS cmin, MAX(cents) AS cmax
      |  FROM rows_t
      |), keyed AS (
      |  SELECT r.*, b.ckmin, b.ckmax, b.cmin, b.cmax,
      |    LEAST(15, (r.ck - b.ckmin) * 16 // (b.ckmax - b.ckmin + 1))
      |      AS bx,
      |    LEAST(15, (r.cents - b.cmin) * 16 // (b.cmax - b.cmin + 1))
      |      AS by,
      |    l.layout
      |  FROM rows_t r CROSS JOIN bounds b
      |  CROSS JOIN (SELECT UNNEST(['natural', 'linear', 'zorder'])
      |    AS layout) l
      |), sortkeyed AS (
      |  SELECT *, CASE layout
      |    WHEN 'natural' THEN okey
      |    WHEN 'linear' THEN ck * 1099511627776 + okey
      |    ELSE ((((bx >> 0) & 1) << 0) | (((by >> 0) & 1) << 1)
      |        | (((bx >> 1) & 1) << 2) | (((by >> 1) & 1) << 3)
      |        | (((bx >> 2) & 1) << 4) | (((by >> 2) & 1) << 5)
      |        | (((bx >> 3) & 1) << 6) | (((by >> 3) & 1) << 7))
      |      * 1099511627776 + okey END AS skey
      |  FROM keyed
      |), filed AS (
      |  SELECT *, (ROW_NUMBER() OVER (PARTITION BY layout, month
      |    ORDER BY skey) - 1) // 64 AS f
      |  FROM sortkeyed
      |), zones AS (
      |  SELECT layout, month, f,
      |    MIN(ck) AS fckmin, MAX(ck) AS fckmax,
      |    MIN(cents) AS fcmin, MAX(cents) AS fcmax,
      |    MIN(ckmin) AS ckmin, MAX(ckmax) AS ckmax,
      |    MIN(cmin) AS cmin, MAX(cmax) AS cmax
      |  FROM filed GROUP BY 1, 2, 3
      |), probed AS (
      |  SELECT layout, p.predicate,
      |    CASE WHEN p.predicate = 'custkey_band'
      |      THEN fckmax < ckmin + (ckmax - ckmin + 1) * 35 // 100
      |        OR fckmin >= ckmin + (ckmax - ckmin + 1) * 40 // 100
      |      ELSE fcmax < cmin + (cmax - cmin + 1) * 35 // 100
      |        OR fcmin >= cmin + (cmax - cmin + 1) * 40 // 100
      |    END AS skip
      |  FROM zones
      |  CROSS JOIN (SELECT UNNEST(['custkey_band', 'price_band'])
      |    AS predicate) p
      |)
      |SELECT layout, predicate, COUNT(*) AS n_files,
      |  CAST(SUM(CASE WHEN skip THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_skipped,
      |  round(CAST(SUM(CASE WHEN skip THEN 1 ELSE 0 END) AS DOUBLE)
      |    / COUNT(*), 6) AS skip_fraction
      |FROM probed
      |GROUP BY 1, 2
      |ORDER BY layout, predicate""".stripMargin

  /** §2.42 — shuffle/broadcast sizing advisor: the pre-flight that
    * turns table statistics into the three knobs every Spark job tunes
    * blind — shuffle partition count, scan split count, and which join
    * sides are broadcastable. Per table: exact row count, an estimated
    * in-memory row width derived FROM THE SCHEMA (fixed widths for
    * numeric/temporal types, `length+4` for strings — the same
    * type-directed estimate Catalyst's SizeInBytes statistics use, so
    * the advice tracks what the planner will actually see), total
    * bytes, the 128 MiB-target partition count for a full-table
    * shuffle (min 1), and the ≤10 MiB autoBroadcastJoinThreshold
    * verdict. The width expression is built generically from
    * `df.schema` — new columns change the advice without code changes;
    * the oracle hardcodes each table's schema arithmetic, pinning the
    * generic builder against an independent spelling. One combinable
    * integer aggregate per table (7 scans of 1-row outputs); at scale
    * each scan is column-pruned to the string columns only, since
    * fixed widths fold into a constant. */
  def qoPartitionAdvisor(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types._
    val tables = Seq("region", "nation", "customer", "supplier", "part",
      "orders", "lineitem")
    val frames = tables.map { t =>
      val df = Tables.load(spark, dir, t)
      val fixed = df.schema.collect {
        case f if f.dataType != StringType => f.dataType match {
          case IntegerType | DateType | FloatType => 4L
          case _: DecimalType => 16L
          case _ => 8L // LongType, DoubleType, TimestampType(+NTZ)
        }
      }.sum
      val strings = df.schema.collect {
        case f if f.dataType == StringType =>
          coalesce(length(col(f.name)), lit(0)) + lit(4)
      }
      val rowBytes = strings.foldLeft(lit(fixed): org.apache.spark.sql.Column)(
        (a, s) => a + s)
      df.agg(count(lit(1)).as("n_rows"),
          sum(rowBytes.cast("long")).as("est_bytes"))
        .select(lit(t).as("table_name"), col("n_rows"), col("est_bytes"))
    }
    frames.reduce(_ unionAll _)
      .select(col("table_name"), col("n_rows"), col("est_bytes"),
        round(col("est_bytes").cast("double") / col("n_rows"), 2)
          .as("avg_row_bytes"),
        round(col("est_bytes").cast("double") / 1048576.0, 3).as("est_mb"),
        greatest(ceil(col("est_bytes").cast("double") / 134217728.0), lit(1L))
          .cast("bigint").as("shuffle_partitions"),
        (col("est_bytes") <= 10485760L).as("broadcastable"))
      .orderBy("table_name")
  }

  val qoPartitionAdvisorSql: String = {
    // Single source of truth check: these hardcoded widths pin the
    // generic schema-driven builder on the Spark side.
    val per = Seq(
      ("region", 4, Seq("r_name")),
      ("nation", 8, Seq("n_name")),
      ("customer", 20, Seq("c_name", "c_mktsegment")),
      ("supplier", 20, Seq("s_name")),
      ("part", 20, Seq("p_name", "p_brand", "p_type")),
      ("orders", 32, Seq("o_orderstatus", "o_orderpriority")),
      ("lineitem", 68, Seq("l_returnflag", "l_linestatus")))
    val unions = per.map { case (t, fixed, strs) =>
      val strSql = strs.map(s => s"COALESCE(length($s), 0) + 4")
        .mkString(" + ")
      s"""  SELECT '$t' AS table_name, COUNT(*) AS n_rows,
         |    CAST(SUM($fixed + $strSql) AS BIGINT) AS est_bytes
         |  FROM $t""".stripMargin
    }.mkString("\n  UNION ALL\n")
    s"""WITH stats AS (
       |$unions
       |)
       |SELECT table_name, n_rows, est_bytes,
       |  round(CAST(est_bytes AS DOUBLE) / n_rows, 2) AS avg_row_bytes,
       |  round(CAST(est_bytes AS DOUBLE) / 1048576.0, 3) AS est_mb,
       |  CAST(greatest(ceil(CAST(est_bytes AS DOUBLE) / 134217728.0), 1)
       |    AS BIGINT) AS shuffle_partitions,
       |  (est_bytes <= 10485760) AS broadcastable
       |FROM stats ORDER BY table_name""".stripMargin
  }

  /** §2.38b — the custom whole-operator extension driven on real data:
    * [[org.apache.spark.sql.graft.TopK.perKey]] retains per order
    * priority the 3 highest-value orders (orderkey tie-break) through
    * the custom logical node → planner strategy → partial/final
    * physical pair: a heap pass that never sorts an input partition —
    * unlike the window formulation, where even Spark 4's
    * InferWindowGroupLimit rewrite (which does bound the shuffle to
    * survivors) still full-sorts every partition in both stages and
    * materializes the rank through the Window operator (see the
    * TopKPerKey scaladoc for the honest comparison). Ranks are
    * re-derived by a window over the ≤ keys×k survivors (trivially
    * cheap, same partition key); the oracle is the plain window
    * formulation, proving the operator semantically invisible.
    * TopKPerKeySpec pins the plan shape and the pruning bound; this
    * query pins the data. */
  def qoTopK(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.graft.TopK
    val pruned = TopK.perKey(Tables.load(spark, dir, "orders"),
      Seq("o_orderpriority"),
      Seq(col("o_totalprice").desc, col("o_orderkey").asc), 3)
    pruned.withColumn("rank", row_number().over(
      Window.partitionBy("o_orderpriority")
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)))
      .select(col("o_orderpriority"), col("rank"), col("o_orderkey"),
        col("o_totalprice"))
      .orderBy("o_orderpriority", "rank")
  }

  val qoTopKSql: String =
    """SELECT o_orderpriority, rank, o_orderkey, o_totalprice FROM (
      |  SELECT o_orderpriority, o_orderkey, o_totalprice,
      |    CAST(ROW_NUMBER() OVER (PARTITION BY o_orderpriority
      |      ORDER BY o_totalprice DESC, o_orderkey ASC) AS INT) AS rank
      |  FROM orders
      |) t
      |WHERE rank <= 3
      |ORDER BY o_orderpriority, rank""".stripMargin

  /** §2.11b — the custom DataSource V2 driven through the oracle gate:
    * read the deterministic synthetic-event source with an id-range
    * predicate (pushed into the scan, eliding partitions outside
    * [10000, 30000) at planning time) and roll up per event type. The
    * oracle REGENERATES the source's cells with `generate_series` and
    * the same md5 arithmetic — proving the source's output, pushdown
    * included, is engine-independent data, not reader-private state.
    * `value` sums as DECIMAL(18,2) (exact 2-dp cells), the house rule
    * for order-independent float totals. */
  def qoSynth(spark: SparkSession, dir: String): DataFrame =
    spark.read.format("graft.sources.SynthDataSource")
      .option("rows", 50000).option("partitions", 16).load()
      .where(col("id") >= 10000 && col("id") < 30000)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_rows"),
        countDistinct(col("user_id")).as("n_users"),
        sum(col("value").cast("decimal(18,2)")).cast("double")
          .as("total_value"))
      .orderBy("event_type")

  val qoSynthSql: String =
    """WITH g AS (
      |  SELECT i AS id,
      |    ('0x' || substr(md5('u:' || i), 1, 8))::BIGINT % 1000 AS user_id,
      |    ['view', 'click', 'purchase', 'signup', 'error']
      |      [(('0x' || substr(md5('t:' || i), 1, 8))::BIGINT % 5) + 1]
      |      AS event_type,
      |    CAST(('0x' || substr(md5('v:' || i), 1, 8))::BIGINT % 10000
      |      AS DOUBLE) / 100.0 AS value
      |  FROM range(10000, 30000) t(i)
      |)
      |SELECT event_type, COUNT(*) AS n_rows,
      |  CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
      |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
      |FROM g GROUP BY event_type
      |ORDER BY event_type""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "qo_synth" -> (qoSynth _),
    "qo_topk" -> (qoTopK _),
    "qo_partition_advisor" -> (qoPartitionAdvisor _),
    "qo_aqp_error" -> (qoAqpError _),
    "qo_compaction" -> (qoCompaction _),
    "qo_zone_skipping" -> (qoZoneSkipping _),
    "qo_join_cardinality_sketch" -> (qoJoinCardinalitySketch _),
    "qo_skew_join" -> (qoSkewJoin _),
    "qo_skew_join_plain" -> (qoSkewJoinPlain _),
    "qo_skew_distinct" -> (qoSkewDistinct _),
    "qo_skew_distinct_plain" -> (qoSkewDistinctPlain _),
    "qo_merge" -> (qoMerge _),
    "qo_bloom_anti" -> (qoBloomAnti _),
    "qo_join_cardinality" -> (qoJoinCardinality _))

  val oracles: Map[String, String] = Map(
    "qo_synth" -> qoSynthSql,
    "qo_topk" -> qoTopKSql,
    "qo_partition_advisor" -> qoPartitionAdvisorSql,
    "qo_aqp_error" -> qoAqpErrorSql,
    "qo_compaction" -> qoCompactionSql,
    "qo_zone_skipping" -> qoZoneSkippingSql,
    "qo_join_cardinality_sketch" -> qoJoinCardinalitySketchSql,
    "qo_bloom_anti" -> qoBloomAntiSql,
    "qo_skew_join" -> qoSkewJoinSql,
    "qo_skew_join_plain" -> qoSkewJoinSql,
    "qo_skew_distinct" -> qoSkewDistinctSql,
    "qo_skew_distinct_plain" -> qoSkewDistinctSql,
    "qo_merge" -> qoMergeSql,
    "qo_join_cardinality" -> qoJoinCardinalitySql)
}
