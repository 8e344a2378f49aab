package graft.rules

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Wald sequential probability-ratio test (SPRT) over period-bucketed
  * defect rates — the monitoring gate that bounds BOTH error rates
  * (α false alarms, β missed shifts) while stopping as early as the
  * evidence allows, vs fixed-horizon χ²/PSI checks that must wait for
  * their window to close. The same statistic the quality-engineering
  * literature runs on production lines, applied to a data pipeline's
  * per-period defect counts (see also the oracle-checked query form,
  * ProfileQueries.qcSprt).
  *
  * Scale shape: ONE conditional-sum pass collapses the fact table to a
  * bounded calendar frame (rows = distinct periods); the cumulative
  * walk windows run over that frame only. The cumulative sum rides
  * DECIMAL(38,12)-quantized terms, so the boundary comparisons are
  * exact-decimal, not float-accumulation-order dependent.
  */
object Sprt {

  /** The per-period walk: period, n_rows, n_defects, llr, cum_llr, and
    * the boundary decision at each period (`accept_h1` = defect rate
    * at p1 or worse, `accept_h0` = at p0 or better, else `continue`).
    * `defect` is any boolean column; `granularity` is a `date_trunc`
    * unit over `timeCol`. α is the two-sided error budget (α = β). */
  def walk(df: DataFrame, timeCol: String, defect: Column,
      granularity: String, p0: Double, p1: Double,
      alpha: Double): DataFrame = {
    requireParams(p0, p1, alpha)
    val lnR1 = math.log(p1 / p0)
    val lnR0 = math.log((1 - p1) / (1 - p0))
    val bound = math.log((1 - alpha) / alpha)
    val periods = df
      .groupBy(date_trunc(granularity, col(timeCol)).as("period"))
      .agg(count(lit(1)).as("n_rows"),
        sum(when(defect, 1L).otherwise(0L)).as("n_defects"))
    val llr = round(col("n_defects").cast("double") * lnR1 +
      (col("n_rows") - col("n_defects")).cast("double") * lnR0, 12)
      .cast("decimal(38,12)")
    val cum = sum(llr).over(Window.orderBy("period")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    val decision = when(cum >= lit(bound).cast("decimal(38,12)"),
        "accept_h1")
      .when(cum <= lit(-bound).cast("decimal(38,12)"), "accept_h0")
      .otherwise("continue")
    periods.select(col("period"), col("n_rows"), col("n_defects"),
      round(llr.cast("double"), 6).as("llr"),
      round(cum.cast("double"), 6).as("cum_llr"),
      decision.as("decision"))
  }

  /** The test's parameters: H0 and H1 rates in (0,1) that differ, and
    * an error budget in (0,0.5). */
  private[graft] def requireParams(p0: Double, p1: Double, alpha: Double): Unit = {
    require(p0 > 0 && p0 < 1 && p1 > 0 && p1 < 1 && p0 != p1,
      s"p0/p1 must be in (0,1) and differ; got p0=$p0 p1=$p1")
    require(alpha > 0 && alpha < 0.5, s"alpha must be in (0,0.5): $alpha")
  }

  /** The walk's STOPPING decision: the decision at the first period
    * that crosses a boundary, or `continue` if none does. A true SPRT
    * halts there; everything after is informational. One 1-row
    * aggregate over the bounded walk frame. */
  def stoppingDecision(walkDf: DataFrame): String = {
    val row = walkDf.where(col("decision") =!= "continue")
      .agg(min(struct(col("period"), col("decision"))).as("s"))
      .head()
    if (row.isNullAt(0)) "continue"
    else row.getStruct(0).getAs[String]("decision")
  }
}
