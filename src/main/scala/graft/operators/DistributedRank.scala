package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Global row_number WITHOUT a global single-task window — the
  * two-level bucketed rank (the qe_gini/qc_psi_quantile shape, made
  * reusable): range-bucket every row on a monotone double image of the
  * sort key (bounds from a 1-row broadcast aggregate), row_number
  * WITHIN each bucket (a partitioned window — distributed), and add
  * the carry of all lower buckets (a cumulative window over the
  * constant-`nBuckets` count frame, broadcast back). Exactness: the
  * double image only PLACES rows in buckets; the in-bucket sort runs
  * on the original (sort, tie) columns, so monotonicity of the
  * image — not its precision — is all correctness needs, and the
  * composed rank equals row_number() over (sort, tie) exactly.
  *
  * Scale shape: one broadcast bounds pass, one shuffle on the bucket
  * key, one constant-size carry frame. Skew bound: a bucket holds
  * only rows whose sort images collide in one of `nBuckets` equal
  * ranges; heavy ties on ONE value do concentrate (same as any
  * rank's tie group), which is why `tie` must make the order total.
  */
object DistributedRank {

  /** Appends `out` = 1-based global row_number under the total order
    * (sort ASC, tie ASC). For descending rank, pass a negated sort
    * column (and keep `tie` ascending) — note negation keeps NULLS
    * FIRST, whereas a window's `.desc` would be NULLS LAST; callers
    * that need `.desc`-identical NULL placement must coalesce NULLs
    * to a sentinel themselves. `sort` must be numeric (castable to
    * double, cast is monotone); `tie` any orderable.
    *
    * NULL / NaN sort values rank exactly as `row_number() over
    * (order by sort asc, tie asc)` would place them: NULLs first
    * (routed to bucket 0, where the in-bucket `sort.asc` window —
    * NULLS FIRST — puts them ahead of every non-null in that
    * bucket), NaN last (routed to the final bucket, where Spark's
    * NaN-greater-than-everything ordering puts them after every
    * real value). Without the explicit routing a NULL bucket
    * expression would coerce through greatest/least into bucket 0
    * *after* the arithmetic NULLed out — fragile — and NaN
    * arithmetic lands in bucket 0 while sorting last, composing a
    * wrong global rank. */
  def withRowNumber(df: DataFrame, sort: Column, tie: Column,
      out: String, nBuckets: Int = 1024): DataFrame = {
    // Materialize the input ONCE: three consumers read it (the bounds
    // aggregate, the per-bucket carry counts, and the ranked output),
    // and without the checkpoint each re-evaluates the upstream plan —
    // ruinous when the input is itself an aggregation or a previous
    // rank stage (a 3-deep nesting re-computed its base ~27×,
    // measured 0.26 s → 13 s on qe_rfm before this line). The frame is
    // the collapsed rank input, which the rank must shuffle anyway, so
    // distributed materialization adds no new scale constraint; the
    // checkpoint also truncates lineage so stacked rank stages keep
    // constant-size plans (lazy + audit escape hatch: Materialize).
    val in = Materialize.once(df.withColumn("__drk_s", sort.cast("double")))
    // Robust bucket bounds: equal widths between the approximate
    // P0.1/P99.9 — NOT raw min/max, where one extreme outlier would
    // collapse the whole frame into bucket 0 and silently restore the
    // single-task rank this operator exists to avoid. Rows outside
    // the quantile span clamp into the end buckets (≤ ~0.1% of the
    // frame each); placement only needs monotonicity, so the rank
    // stays exact whatever the bounds are. Same lazy 1-row broadcast
    // aggregate as before — no driver-side action at plan build.
    val bounds = broadcast(in.agg(
      // accuracy 100: bucket EDGES only need to be roughly where the
      // mass is — placement precision never affects rank exactness —
      // and the coarse sketch keeps the bounds pass as cheap as the
      // min/max it replaced.
      percentile_approx(col("__drk_s"),
        array(lit(0.001), lit(0.999)), lit(100)).as("__drk_q")))
    val bucketed = in.crossJoin(bounds)
      .withColumn("__drk_min", element_at(col("__drk_q"), 1))
      .withColumn("__drk_max", element_at(col("__drk_q"), 2))
      .withColumn("__drk_b",
        // NULL → first bucket, NaN → last bucket (doc above); the
        // arithmetic branch only ever sees finite non-null doubles.
        when(col("__drk_s").isNull, lit(0))
          .when(isnan(col("__drk_s")), lit(nBuckets - 1))
          .otherwise(least(lit(nBuckets - 1), greatest(lit(0),
            floor((col("__drk_s") - col("__drk_min")) /
              (greatest(col("__drk_max") - col("__drk_min"), lit(1.0))
                / nBuckets)).cast("int")))))
      .drop("__drk_q", "__drk_min", "__drk_max")
    val wIn = Window.partitionBy("__drk_b").orderBy(sort.asc, tie.asc)
    // Carry window: empty partition spec over a frame bounded by the
    // CONSTANT nBuckets — the one global window this operator is
    // allowed (PlanAudit-allowlisted at every call site).
    val wCarry = Window.orderBy("__drk_b")
      .rowsBetween(Window.unboundedPreceding, -1)
    val carries = bucketed.groupBy("__drk_b")
      .agg(count(lit(1)).as("__drk_n"))
      .withColumn("__drk_c", coalesce(sum("__drk_n").over(wCarry), lit(0L)))
      .select("__drk_b", "__drk_c")
    bucketed.join(broadcast(carries), Seq("__drk_b"))
      .withColumn(out, col("__drk_c") + row_number().over(wIn))
      .drop("__drk_s", "__drk_b", "__drk_c")
  }

  /** SQL-standard NTILE(k) from the distributed rank: with n rows,
    * the first n mod k buckets hold ⌈n/k⌉ rows, the rest ⌊n/k⌋ —
    * bit-identical to Spark's and DuckDB's ntile over the same total
    * order. `n` and the rank are exchanged as columns, so the whole
    * expression is row-local integer arithmetic. */
  def ntileFromRank(rank: Column, n: Column, k: Int): Column = {
    // Column `/` is true (double) division — floor() restores the
    // integral quotient (exact for any realistic population: doubles
    // hold integers to 2^53 and the quotient sits ≥ 1/k away from the
    // next integer when not exact).
    val m = n % k                          // buckets of size small + 1
    val small = floor(n / k).cast("long")
    val big = small + 1
    when(rank <= m * big, floor((rank - 1) / big).cast("long") + 1)
      .otherwise(m + floor((rank - m * big - 1) / small).cast("long") + 1)
  }
}
