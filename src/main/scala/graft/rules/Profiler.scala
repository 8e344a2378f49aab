package graft.rules

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Dataset profiling and distribution-monitoring operators — the
  * "what does this data look like" companion to the rule engine's
  * "is this data valid" (reference scope: TopNotch asserts rules but
  * never profiles; production QC needs both).
  *
  * Scale design: every operator is one aggregation pass over the fact
  * table plus arithmetic over a tiny derived frame (per-column /
  * per-group / per-bin rows). Nothing windows over the fact table and
  * nothing collects to the driver.
  */
object Profiler {

  /** Per-column profile — row count, null count, distinct count — in ONE
    * aggregation pass, unpivoted to a row per column.
    *
    * Exact distinct counts make Spark plan an Expand (one input replica
    * per profiled column) before the partial aggregate; correct but the
    * pass reads N× rows for N columns. At corpus scale prefer
    * [[profileApprox]]: HLL sketches aggregate all columns in a single
    * non-expanded pass.
    */
  def profile(df: DataFrame, cols: Seq[String]): DataFrame =
    profileWith(df, cols, c => count_distinct(col(c)))

  /** [[profile]] with approximate distinct counts (HyperLogLog++, default
    * 5% relative error) — the 100 TB path: one pass, no input expansion,
    * sketches merge associatively across partitions. */
  def profileApprox(df: DataFrame, cols: Seq[String]): DataFrame =
    profileWith(df, cols, c => approx_count_distinct(col(c)))

  /** The check every profile form makes of its column list. */
  private[graft] def requireColumns(cols: Seq[String]): Unit =
    require(cols.nonEmpty, "profile needs at least one column")

  private def profileWith(df: DataFrame, cols: Seq[String],
      distinct: String => Column): DataFrame = {
    requireColumns(cols)
    val aggs = count(lit(1)).as("__n") +: cols.flatMap(c => Seq(
      // coalesce: SUM over an empty input is NULL, not 0.
      coalesce(sum(when(col(c).isNull, 1L).otherwise(0L)), lit(0L))
        .as(s"__nulls_$c"),
      distinct(c).as(s"__nd_$c")))
    val one = df.agg(aggs.head, aggs.tail: _*)
    // Unpivot the single aggregate row with stack() — a projection over
    // one row, not a second pass.
    val stackArgs = cols
      .map(c => s"'$c', __n, `__nulls_$c`, `__nd_$c`")
      .mkString(", ")
    one.select(expr(
      s"stack(${cols.size}, $stackArgs) AS (column_name, n_rows, n_nulls, n_distinct)"))
  }

  /** [[profile]] via unpivot + two-level aggregation, avoiding the
    * multi-distinct Expand: rows unpivot to (column, value-as-string)
    * pairs at the SCAN (a generate, no shuffle), the first aggregation
    * dedups (column, value) with map-side combine — the shuffle then
    * carries only the distinct pairs, not an N-column replica of every
    * row — and the second derives rows/nulls/distincts per column.
    * Values compare as canonical strings, which is 1:1 for the
    * primitive types a profile targets. Prefer this when columns have
    * heavy value repetition; the Expand form wins on near-unique
    * columns. */
  def profileUnpivot(df: DataFrame, cols: Seq[String]): DataFrame = {
    requireColumns(cols)
    val stackArgs = cols
      .map(c => s"'$c', CAST(`$c` AS STRING)").mkString(", ")
    val counted = df
      .select(expr(s"stack(${cols.size}, $stackArgs) AS (column_name, __val)"))
      .groupBy("column_name", "__val").agg(count(lit(1)).as("__c"))
      .groupBy("column_name")
      .agg(sum(col("__c")).as("n_rows"),
        coalesce(sum(when(col("__val").isNull, col("__c"))), lit(0L))
          .as("n_nulls"),
        count(when(col("__val").isNotNull, lit(1))).as("n_distinct"))
    // Right-join a one-row-per-column skeleton so an EMPTY input still
    // yields a zero row per profiled column, as the Expand form does.
    val skeleton = df.sparkSession
      .createDataFrame(cols.map(Tuple1(_))).toDF("column_name")
    counted.join(broadcast(skeleton), Seq("column_name"), "right")
      .select(col("column_name"),
        coalesce(col("n_rows"), lit(0L)).as("n_rows"),
        coalesce(col("n_nulls"), lit(0L)).as("n_nulls"),
        coalesce(col("n_distinct"), lit(0L)).as("n_distinct"))
  }

  /** Rows whose value deviates from its group mean by at least
    * `zThreshold` standard deviations (population σ), annotated with the
    * rounded z-score.
    *
    * The group moments (n, Σx, Σx²) are decimal-exact partial
    * aggregates — order-independent, so distributed accumulation is
    * deterministic — computed in one shuffle on the group key; the tiny
    * moment frame then broadcasts back onto a second scan, making
    * detection a broadcast hash join, never a window over the fact
    * table. Σx² goes through integer cents² summed as decimal(38,0):
    * scale-0 decimals convert to double with a SINGLE rounding in every
    * engine, where a scaled decimal above 2^53 would double-round
    * (int128→double, then ÷10^scale) and diverge across engines.
    * z is computed in IEEE doubles from the exact moments and compared
    * on the value ROUNDED to 6 places, so the cross-engine contract is
    * exact arithmetic + one final rounding.
    */
  /** Approximate heavy hitters — top-k values per column — for
    * UNBOUNDED-cardinality columns, where the exact unpivot+count form
    * (ProfileQueries qc_topvalues) would push the full value domain
    * through the shuffle. Two bounded passes:
    *   1. candidate sketch: `stat.freqItems` (Karp et al. frequent
    *      items) streams each partition once with ≤ 1/support counters
    *      per column — every value with frequency ≥ support survives,
    *      so for support ≤ 1/(k·colCardinality-skew) the true top-k is
    *      a subset of the candidates;
    *   2. exact recount of ONLY the candidate values (conditional
    *      aggregation over one scan; the count frame is ≤ cols/support
    *      rows), then rank.
    * Counts in the output are EXACT for every surfaced value — the
    * approximation is only whether a sub-support value could be missed.
    * Returns (column_name, col_value, cnt, rnk), rnk ≤ k, ties broken
    * by value for determinism. */
  def topValuesApprox(df: DataFrame, cols: Seq[String], k: Int,
      support: Double = 0.01): DataFrame = {
    require(cols.nonEmpty, "topValuesApprox needs at least one column")
    // Sketch over the SAME Spark string cast the stacked recount uses —
    // JVM toString (String.valueOf on the raw sketch values) and
    // CAST(col AS STRING) disagree for timestamps ("...00:00:00.0" vs
    // "...00:00:00"), which would silently match zero candidates.
    val strDf = df.select(cols.map(c => col(c).cast("string").as(c)): _*)
    val freqRow = strDf.stat.freqItems(cols.toArray, support).head()
    val candidates: Map[String, Seq[String]] = cols.zipWithIndex.map {
      case (c, i) => c -> freqRow.getSeq[String](i).toSeq
    }.toMap
    val stackArgs = cols.map(c => s"'$c', CAST(`$c` AS STRING)").mkString(", ")
    val isCandidate = cols.map { c =>
      col("column_name") === c &&
        col("col_value").isin(candidates(c): _*)
    }.reduce(_ || _)
    val w = Window.partitionBy("column_name")
      .orderBy(col("cnt").desc, col("col_value"))
    df.select(expr(s"stack(${cols.size}, $stackArgs) AS (column_name, col_value)"))
      .where(isCandidate)
      .groupBy("column_name", "col_value")
      .agg(count(lit(1)).as("cnt"))
      .withColumn("rnk", row_number().over(w).cast("bigint"))
      .where(col("rnk") <= k)
  }

  def zOutliers(df: DataFrame, valueCol: String, groupCols: Seq[String],
      zThreshold: Double): DataFrame = {
    require(groupCols.nonEmpty, "zOutliers needs at least one group column")
    // Integer cents (exact: inputs carry ≤2 true decimals).
    val cents = (col(valueCol).cast("decimal(18,2)") * 100).cast("long")
    val stats = df.groupBy(groupCols.map(col): _*).agg(
      count(lit(1)).as("__n"),
      // Σx: unscaled decimal stays < 2^53 at scale 4 → single rounding.
      sum(col(valueCol).cast("decimal(18,4)"))
        .cast("decimal(38,4)").cast("double").as("__s"),
      // Σ(cents²): exact integers, single rounding at scale 0.
      sum((cents * cents).cast("decimal(38,0)"))
        .cast("double").as("__q2"))
    val mean = col("__s") / col("__n")
    // c = 100·x so Σc² = 10⁴·Σx².
    val variance = col("__q2") / lit(1.0e4) / col("__n") - mean * mean
    df.join(broadcast(stats), groupCols)
      .withColumn("z_score",
        round((col(valueCol) - mean) / sqrt(variance), 6))
      .where(abs(col("z_score")) >= zThreshold)
      .drop("__n", "__s", "__q2")
  }

  /** Population Stability Index between two datasets over fixed-width
    * bins of `valueCol`: one row per bin present on BOTH sides with the
    * bin shares and the PSI contribution `(p−q)·ln(p/q)`.
    *
    * Each side is one count-aggregation on the bin key; everything after
    * runs on the per-bin frame (≈ value-range/binWidth rows). Bins
    * present on only one side are dropped (their PSI term is infinite;
    * production monitors them via the returned counts' outer variant —
    * here the inner join IS the contract, matching standard PSI-with-
    * epsilon-free practice).
    */
  def drift(a: DataFrame, b: DataFrame, valueCol: String,
      binWidth: Double): DataFrame = {
    val all = Window.partitionBy(lit(1))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    // Shares are relative to each side's FULL total (computed on the
    // per-side bin frame, before the join drops one-sided bins).
    def binned(df: DataFrame, n: String, s: String) =
      df.groupBy(floor(col(valueCol) / binWidth).cast("long").as("bin"))
        .agg(count(lit(1)).as(n))
        .withColumn(s, col(n) / sum(col(n)).over(all))
    psiSelect(binned(a, "n_a", "__p").join(binned(b, "n_b", "__q"), "bin"))
  }

  /** Shared output shape of the drift variants: rounded shares + the
    * per-bin PSI contribution from the __p/__q share columns. */
  private def psiSelect(binsWithShares: DataFrame): DataFrame =
    binsWithShares.select(col("bin"), col("n_a"), col("n_b"),
      round(col("__p"), 6).as("share_a"), round(col("__q"), 6).as("share_b"),
      round((col("__p") - col("__q")) * log(col("__p") / col("__q")), 6)
        .as("psi"))

  /** GATE form of [[drift]]: FULL-outer bin join with epsilon-smoothed
    * shares, so bins present on only one side contribute a large FINITE
    * PSI term instead of being dropped — a complete distribution shift
    * (disjoint supports) must read as enormous drift, not zero, when
    * the total gates a plan's exit status. [[drift]]'s inner-join
    * contract remains the monitoring/report form (one-sided bins
    * visible via counts there); this one is the per-bin frame of a
    * gate, whose total [[driftOuterTotal]] computes from one
    * aggregation instead of summing this frame. Same cost shape as
    * [[drift]]: one bin-count aggregation per side, everything after on
    * the per-bin frames. */
  def driftOuter(a: DataFrame, b: DataFrame, valueCol: String,
      binWidth: Double, epsilon: Double = DriftEpsilon): DataFrame = {
    val all = Window.partitionBy(lit(1))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    def binned(df: DataFrame, n: String) =
      df.groupBy(floor(col(valueCol) / binWidth).cast("long").as("bin"))
        .agg(count(lit(1)).as(n))
    binned(a, "n_a").join(binned(b, "n_b"), Seq("bin"), "full_outer")
      .select(col("bin"),
        coalesce(col("n_a"), lit(0L)).as("n_a"),
        coalesce(col("n_b"), lit(0L)).as("n_b"))
      .withColumn("__ta", sum(col("n_a")).over(all))
      .withColumn("__tb", sum(col("n_b")).over(all))
      // when-guarded: an entirely-empty side has total 0 (ANSI /0), and
      // its every share floors to epsilon — maximal finite drift.
      .withColumn("__p", greatest(
        when(col("__ta") > 0, col("n_a") / col("__ta")).otherwise(lit(0.0)),
        lit(epsilon)))
      .withColumn("__q", greatest(
        when(col("__tb") > 0, col("n_b") / col("__tb")).otherwise(lit(0.0)),
        lit(epsilon)))
      .transform(psiSelect)
  }

  /** [[driftOuter]]'s default share floor. */
  val DriftEpsilon = 1e-6

  /** The sum of [[driftOuter]]'s `psi` column and its row count, from
    * ONE aggregation: both sides' bin counts come from a side-tagged
    * union, and the driver finishes the shares, the epsilon floor and
    * the 6-digit per-bin rounding as driftOuter's columns do (Spark's
    * `log` is `StrictMath.log`, its `round` is HALF_UP on the double's
    * decimal form). A null value bins to null on each side, and the
    * full-outer join never matches null keys, so a null bin on both
    * sides is two one-sided bins in either form. */
  def driftOuterTotal(a: DataFrame, b: DataFrame, valueCol: String,
      binWidth: Double): (Double, Long) = {
    def tagged(df: DataFrame, side: Int) =
      df.select(floor(col(valueCol) / binWidth).cast("long").as("bin"),
        lit(side).as("side"))
    def onSide(s: Int) = sum(when(col("side") === s, 1L).otherwise(0L))
    val bins = tagged(a, 0).unionAll(tagged(b, 1))
      .groupBy("bin").agg(onSide(0), onSide(1)).collect()
      .flatMap { r =>
        val (na, nb) = (r.getLong(1), r.getLong(2))
        if (!r.isNullAt(0)) Seq((r.getLong(0), na, nb))
        else Seq((Long.MinValue, na, 0L), (Long.MinValue, 0L, nb))
          .filter { case (_, x, y) => x + y > 0 }
      }
      .sorted
    val (ta, tb) = (bins.map(_._2).sum, bins.map(_._3).sum)
    def share(n: Long, t: Long) =
      math.max(if (t > 0) n.toDouble / t.toDouble else 0.0, DriftEpsilon)
    val total = bins.map { case (_, na, nb) =>
      val (p, q) = (share(na, ta), share(nb, tb))
      java.math.BigDecimal.valueOf((p - q) * StrictMath.log(p / q))
        .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()
    }.sum
    (total, bins.length.toLong)
  }

  /** [[drift]] for the split-one-dataset case: `sideA` tags each row,
    * and both sides' bin counts come from ONE conditional-sum pass over
    * the fact table — the two-DataFrame form would scan it twice. Same
    * output contract (bins present on both sides, shares vs full
    * per-side totals). */
  def driftBySide(df: DataFrame, sideA: Column, valueCol: String,
      binWidth: Double): DataFrame = {
    val all = Window.partitionBy(lit(1))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    df.groupBy(floor(col(valueCol) / binWidth).cast("long").as("bin"))
      .agg(sum(when(sideA, 1L).otherwise(0L)).as("n_a"),
        sum(when(sideA, 0L).otherwise(1L)).as("n_b"))
      // Totals BEFORE dropping one-sided bins: shares are relative to
      // each side's full distribution, as in the two-DataFrame form.
      .withColumn("__p", col("n_a") / sum(col("n_a")).over(all))
      .withColumn("__q", col("n_b") / sum(col("n_b")).over(all))
      .where(col("n_a") > 0 && col("n_b") > 0)
      .transform(psiSelect)
  }

  /** [[driftBySide]] with EQUAL-MASS (quantile) bins instead of fixed
    * width: bin edges are the reference (`sideA`) side's nBins-quantiles,
    * so every bin holds ≈ 1/nBins of the reference and no sparse tail
    * bin dominates the PSI — the production-standard binning when the
    * value distribution is skewed or its range unknown up front. Counts
    * are Laplace-smoothed (+0.5 per bin against the side total +
    * nBins/2) so a bin the current side never hits contributes a large
    * FINITE term instead of ±∞ — with equal-mass reference bins every
    * bin is populated on the reference side by construction, so unlike
    * [[driftBySide]] no bin is ever dropped and a one-sided collapse is
    * VISIBLE in the report rather than filtered away.
    *
    * Exact edges are ntile-tile maxima over the reference side ordered
    * by value — computed DISTRIBUTED by [[exactNtileEdges]] (two-level
    * coarse-bucket rank select, no global single-task sort; bit-identical
    * to what `ntile(nBins) OVER (ORDER BY value, key)` would produce,
    * which is what the oracle replays). [[psiQuantileBySideApprox]]
    * remains the sketch variant for when even the per-value shuffle is
    * unwanted (ApproxVariantsSpec pins the two within tolerance). Edge
    * assignment broadcasts the 1-row edge array (scalar-subquery BNLJ,
    * allowlisted in PlanAudit) and bins by strict `value > edge` count —
    * ties land in the lower bin on every engine. */
  def psiQuantileBySide(df: DataFrame, sideA: Column, valueCol: String,
      keyCol: String, nBins: Int): DataFrame = {
    val tagged = df.select(col(valueCol).as("__v"), col(keyCol).as("__k"),
      sideA.as("__a"))
    val edges = exactNtileEdges(tagged.where(col("__a")).select("__v"), nBins)
    psiQuantileFinish(tagged, edges, nBins)
  }

  /** Exact ntile-edge computation WITHOUT a global single-task sort.
    *
    * `ntile(n) OVER (ORDER BY v, k)` funnels every reference row through
    * one window task — the one shape that cannot survive a 100× scale-up.
    * But the tile-boundary VALUES depend only on which value sits at each
    * global rank in the v-ordering (the tie key never changes which v a
    * rank lands on, since equal values are contiguous), and a value-at-
    * rank query decomposes:
    *
    *   1. one mergeable agg → (min, max, N); ntile arithmetic turns N
    *      into the nBins−1 target ranks cum_t = t⌊N/n⌋ + min(t, N mod n);
    *   2. one shuffle on value → per-distinct-value counts, coarse-
    *      bucketed by equal-width `width_bucket` over [min,max] (the
    *      double cast used for bucketing is monotonic, which is all
    *      bucketing needs — ordering inside a bucket uses the true v);
    *   3. per-bucket totals (≤ `coarse`+1 rows) get a cumulative sum on
    *      a TINY frame, locating which bucket holds each target rank
    *      and the rank's offset inside it;
    *   4. a cumulative sum over distinct values WITHIN only the ≤ nBins−1
    *      buckets that contain an edge (window partitioned by bucket —
    *      parallel, each a ~1/`coarse` value slice) selects the edge
    *      values.
    *
    * Every stage is parallel or provably tiny. Worst case degrades
    * gracefully: heavy duplication collapses in the distinct-value
    * frame; heavy range-skew concentrates values in few coarse buckets,
    * degrading stage 4 toward a distinct-value sort of that slice —
    * never worse than the global window it replaces. N < nBins (tiny
    * reference sides, e.g. unit fixtures) reproduces ntile's
    * one-row-per-tile edges via the `least(nBins−1, N)` target clamp.
    * Returns the same 1-row `__es` sorted-array frame the ntile form
    * aggregated to. */
  private[graft] def exactNtileEdges(vals: DataFrame, nBins: Int,
      coarse: Int = 4096): DataFrame = {
    val stats = vals.agg(min("__v").as("__lo"), max("__v").as("__hi"),
      count(lit(1)).as("__n"))
    val vcnt = vals.groupBy("__v").agg(count(lit(1)).as("__c"))
      .crossJoin(broadcast(stats))
      .withColumn("__b",
        when(col("__hi") <= col("__lo"), lit(1L)).otherwise(
          least(lit(coarse.toLong), greatest(lit(1L),
            expr(s"width_bucket(cast(__v as double), cast(__lo as double)," +
              s" cast(__hi as double), ${coarse - 1})")))))
      .select("__v", "__c", "__b")
    val bcnt = vcnt.groupBy("__b").agg(sum("__c").as("__bc"))
      .withColumn("__bBefore",
        coalesce(sum("__bc").over(Window.partitionBy(lit(1)).orderBy("__b")
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
    val targets = stats.select(
        explode(sequence(lit(1), lit(nBins - 1))).as("__t"), col("__n"))
      .where(col("__t") <= least(lit(nBins.toLong - 1), col("__n")))
      .select(col("__t"),
        (col("__t") * expr(s"__n div $nBins") +
          least(col("__t"), col("__n") % nBins)).as("__rank"))
    val located = targets.join(broadcast(bcnt),
        col("__bBefore") < col("__rank") &&
          col("__rank") <= col("__bBefore") + col("__bc"))
      .select(col("__b"), col("__t"),
        (col("__rank") - col("__bBefore")).as("__local"))
    val inBucket = Window.partitionBy("__b").orderBy("__v")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    vcnt.join(broadcast(located.select("__b").distinct()), "__b")
      .withColumn("__cum", sum("__c").over(inBucket))
      .join(broadcast(located), "__b")
      .where(col("__cum") - col("__c") < col("__local") &&
        col("__local") <= col("__cum"))
      .agg(sort_array(collect_list(col("__v"))).as("__es"))
  }

  /** The 100 TB form of [[psiQuantileBySide]]: reference edges from
    * `approx_percentile` (one mergeable aggregation — no global sort,
    * no window), identical downstream assignment and smoothing. Not
    * oracle-exact (the sketch's edges differ from true quantiles within
    * its accuracy), hence a callable variant + spec pin, not a contract
    * query. */
  def psiQuantileBySideApprox(df: DataFrame, sideA: Column, valueCol: String,
      nBins: Int, accuracy: Int = 10000): DataFrame = {
    val fracs = (1 until nBins).map(_.toDouble / nBins).toArray
    val tagged = df.select(col(valueCol).as("__v"), sideA.as("__a"))
    val edges = tagged.where(col("__a"))
      .agg(percentile_approx(col("__v"), typedLit(fracs), lit(accuracy))
        .as("__es"))
    psiQuantileFinish(tagged, edges, nBins)
  }

  private def psiQuantileFinish(tagged: DataFrame, edges: DataFrame,
      nBins: Int): DataFrame = {
    val all = Window.partitionBy(lit(1))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    tagged.crossJoin(broadcast(edges))
      .select(col("__a"),
        (size(filter(col("__es"), e => col("__v") > e)) + 1).cast("long")
          .as("bin"))
      .groupBy("bin")
      .agg(sum(when(col("__a"), 1L).otherwise(0L)).as("n_a"),
        sum(when(col("__a"), 0L).otherwise(1L)).as("n_b"))
      .withColumn("__p", (col("n_a") + lit(0.5)) /
        (sum(col("n_a")).over(all) + lit(nBins / 2.0)))
      .withColumn("__q", (col("n_b") + lit(0.5)) /
        (sum(col("n_b")).over(all) + lit(nBins / 2.0)))
      .transform(psiSelect)
  }

  /** Binned two-sample Kolmogorov–Smirnov drift between the `sideA` /
    * `!sideA` halves of one dataset: per bin, both sides' counts, the
    * empirical CDFs at the bin's upper edge, and the |CDF_a − CDF_b|
    * distance (whose max over bins is the KS statistic). Complements
    * [[driftBySide]] (PSI): KS is cumulative, so it keeps one-sided
    * bins (a bin empty on one side still moves only the other CDF)
    * and has no infinite-term edge case.
    *
    * Binning bounds the frame at value-range/binWidth rows regardless
    * of data volume — exact-CDF KS would sort every distinct value
    * through one ordered window. One conditional-sum scan; the
    * cumulative windows run over the tiny bin frame only. */
  def ksDriftBySide(df: DataFrame, sideA: Column, valueCol: String,
      binWidth: Double): DataFrame = {
    val all = Window.partitionBy(lit(1))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val cum = Window.partitionBy(lit(1)).orderBy("bin")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // Integer cumulative / integer total, ONE double division per side
    // (both operands exact in double) — the oracle mirrors this op order.
    val cdfA = sum(col("n_a")).over(cum).cast("double") /
      sum(col("n_a")).over(all).cast("double")
    val cdfB = sum(col("n_b")).over(cum).cast("double") /
      sum(col("n_b")).over(all).cast("double")
    df.groupBy(floor(col(valueCol) / binWidth).cast("long").as("bin"))
      .agg(sum(when(sideA, 1L).otherwise(0L)).as("n_a"),
        sum(when(sideA, 0L).otherwise(1L)).as("n_b"))
      .withColumn("__ca", cdfA).withColumn("__cb", cdfB)
      .select(col("bin"), col("n_a"), col("n_b"),
        round(col("__ca"), 6).as("cdf_a"), round(col("__cb"), 6).as("cdf_b"),
        round(abs(col("__ca") - col("__cb")), 6).as("ks_dist"))
  }

  /** Gaps (missing ranges) in an integer key sequence — sequential-
    * integrity QC. Returns (gap_start, gap_end, n_missing), one row per
    * maximal missing range between the observed min and max key.
    *
    * A global LEAD window would funnel EVERY key through one task, so
    * keys bucket by `key div bucketSize`: in-bucket gaps come from a
    * lead window partitioned by bucket (parallel across buckets), and
    * cross-bucket gaps from a lead over the tiny per-bucket (min, max)
    * frame. The two sets are disjoint (a gap's flanking keys are either
    * in one bucket or astride a boundary — empty buckets fold into the
    * boundary case) and their union is exactly the global-lead answer;
    * SequenceGapsSpec pins the equivalence on randomized key sets. */
  def sequenceGaps(df: DataFrame, keyCol: String,
      bucketSize: Long = 4096): DataFrame = {
    val keys = df.select(col(keyCol).cast("long").as("k")).distinct()
      .withColumn("bucket", floor(col("k") / lit(bucketSize)).cast("long"))
    val inBucket = keys
      .withColumn("nxt", lead(col("k"), 1)
        .over(Window.partitionBy("bucket").orderBy("k")))
      .where(col("nxt") > col("k") + 1)
      .select(col("k"), col("nxt"))
    val crossBucket = keys.groupBy("bucket")
      .agg(min(col("k")).as("bmin"), max(col("k")).as("bmax"))
      .withColumn("next_min", lead(col("bmin"), 1)
        .over(Window.orderBy("bucket")))
      .where(col("next_min") > col("bmax") + 1)
      .select(col("bmax").as("k"), col("next_min").as("nxt"))
    inBucket.unionByName(crossBucket)
      .select((col("k") + 1).as("gap_start"), (col("nxt") - 1).as("gap_end"),
        (col("nxt") - col("k") - 1).as("n_missing"))
  }
}
