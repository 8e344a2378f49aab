package graft.engine

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.diff.{DatasetDiff, DiffConfig, DiffSide}
import graft.rules.{Profiler, Rule, RuleRunner}

/** Each one-execution gate against the per-part code path it replaced:
  * per-rule summary scans and `limit(20)` samples, the PSI total summed
  * over the per-bin frame, and one key-validation aggregation per side. */
class GateEquivalenceSpec extends SparkSpec {

  private def invalid(r: Rule): Column =
    !coalesce(expr(r.query).cast("boolean"), lit(false))

  /** 3,000 rows over 5 partitions, no shuffle. */
  private def frame: DataFrame = spark.range(0, 3000, 1, 5).select(
    col("id"),
    (col("id") % 11 - 2).cast("double").as("bal"),
    when(col("id") % 13 === 0, lit(null)).otherwise(concat(lit("t"), col("id")))
      .as("tag"))

  private val rules = Seq(
    Rule("bal >= 0", "non-negative", 0.0,
      features = Map("doubled" -> "bal * 2"),
      summary = Map("min_bal" -> "MIN(bal)", "n" -> "COUNT(*)",
        "spread" -> "MAX(doubled) - MIN(doubled)",
        "filtered" -> "COUNT(*) FILTER (WHERE id > 1500)")),
    // Features that reference the previous rule's feature.
    Rule("quad < 30", "quadrupled small", 0.1,
      features = Map("quad" -> "doubled * 2"),
      // A DISTINCT aggregate is not folded: this summary keeps its pass.
      summary = Map("n_tags" -> "COUNT(DISTINCT tag)")),
    Rule("tag IS NOT NULL", "tag present", 0.0,
      // Not an aggregate: keeps its own pass (first invalid row's id).
      summary = Map("first_id" -> "id")),
    Rule("id >= 0", "never invalid", 0.0, summary = Map("n" -> "COUNT(*)")))

  test("folded summaries and one-execution samples equal the per-rule results") {
    val df = frame
    val got = RuleRunner.reports(df, rules, collectSamples = true)
    val prepared = RuleRunner.withFeatures(df, rules)
    rules.zip(got).foreach { case (r, rep) =>
      val row = prepared.filter(invalid(r))
        .selectExpr(r.summary.map { case (n, e) => s"$e AS $n" }.toSeq: _*)
        .collect()(0)
      val want = r.summary.keys.map(k => k -> row.getAs[Any](k)).toMap
      assert(rep.summaryStats == want, r.description)
      assert(rep.summaryStats.keys.toSeq == want.keys.toSeq, r.description)
      val samples = RuleRunner.samples(prepared, r).collect().toSeq.map(s =>
        s.schema.fieldNames.map(f => f -> String.valueOf(s.getAs[Any](f))).toMap)
      assert(rep.sampleInvalid == (if (rep.numInvalid == 0) Nil else samples),
        r.description)
    }
    assert(got.map(_.sampleInvalid.size) == Seq(20, 20, 20, 0))
  }

  test("samples with fewer than 20 invalid rows, spread over partitions") {
    val df = frame
    val sparse = Seq(Rule("id % 400 <> 7", "sparse", 0.0),
      Rule("id % 1000 <> 999 OR tag IS NULL", "rarer", 0.0))
    val got = RuleRunner.reports(df, sparse, collectSamples = true)
    sparse.zip(got).foreach { case (r, rep) =>
      val want = RuleRunner.samples(df, r).collect().toSeq.map(s =>
        s.schema.fieldNames.map(f => f -> String.valueOf(s.getAs[Any](f))).toMap)
      assert(rep.sampleInvalid == want)
    }
    assert(got.map(_.sampleInvalid.size) == Seq(8, 3))
  }

  /** The total PSI and bin count the drift gate read before: one sum
    * over driftOuter's per-bin frame. */
  private def oldDrift(a: DataFrame, b: DataFrame): (Double, Long) = {
    val row = Profiler.driftOuter(a, b, "v", 10.0)
      .agg(sum("psi"), count(lit(1))).head()
    (if (row.isNullAt(0)) 0.0 else row.getDouble(0), row.getLong(1))
  }

  test("the drift total equals the per-bin frame's sum") {
    val s = spark
    import s.implicits._
    def values(xs: Seq[Option[Double]]) = xs.toDF("v").repartition(3)
    val base = values((1 to 300).map(i => Some((i * 7 % 97).toDouble)))
    val shifted = values((1 to 200).map(i => Some((i * 3 % 131).toDouble)))
    val withNulls = values((1 to 200).map(i =>
      if (i % 9 == 0) None else Some((i % 53).toDouble)))
    val baseNulls = values((1 to 100).map(i =>
      if (i % 4 == 0) None else Some((i % 41).toDouble)))
    val far = values((1 to 50).map(i => Some(1000.0 + i)))
    val empty = values(Nil)
    val cases = Seq(
      "overlapping" -> (base, shifted),
      "null values on both sides" -> (baseNulls, withNulls),
      "null values on one side" -> (base, withNulls),
      "one-sided bins only" -> (base, far),
      "empty current side" -> (base, empty),
      "empty baseline" -> (empty, shifted),
      "both empty" -> (empty, empty),
      "identical" -> (base, base))
    for ((name, (a, b)) <- cases) {
      val (wantTotal, wantBins) = oldDrift(a, b)
      val (total, bins) = Profiler.driftOuterTotal(a, b, "v", 10.0)
      assert(bins == wantBins, name)
      assert(math.abs(total - wantTotal) <= 1e-12, s"$name: $total vs $wantTotal")
    }
  }

  /** Key validation as it ran before: one aggregation per side. */
  private def oldValidate(l: DataFrame, r: DataFrame, cfg: DiffConfig): Unit =
    (DatasetDiff.validationStats(l, cfg.left.joinColumns, cfg.leftName) ++
      DatasetDiff.validationStats(r, cfg.right.joinColumns, cfg.rightName))
      .foreach { case (side, rows, distinct, nulls) =>
        if (nulls > 0) throw new IllegalArgumentException(
          s"The join columns for table $side contain nulls.")
        if (distinct != rows) throw new IllegalArgumentException(
          s"The join columns for table $side do not provide a unique key for every row.")
      }

  private def outcome(f: => Unit): String =
    try { f; "ok" } catch { case e: IllegalArgumentException => e.getMessage }

  test("diff key validation raises the same errors in the same order") {
    val s = spark
    import s.implicits._
    val cfg = DiffConfig(DiffSide(Seq("id", "part"), Seq("v")),
      DiffSide(Seq("key", "p"), Seq("w")), "left", "right")
    def left(ids: Seq[Option[Int]]) =
      ids.map(i => (i, "a", 1.0)).toDF("id", "part", "v").repartition(2)
    def right(ids: Seq[Option[Long]]) =
      ids.map(i => (i, "a", 1.0)).toDF("key", "p", "w").repartition(2)
    val ok = (1 to 20).map(Some(_))
    val okR = (1L to 20L).map(Some(_))
    val cases = Seq(
      "clean" -> (left(ok), right(okR)),
      "left nulls" -> (left(None +: ok), right(okR)),
      "left duplicates" -> (left(Some(1) +: ok), right(okR)),
      "left nulls and duplicates" -> (left(None +: Some(1) +: ok), right(okR)),
      "right nulls" -> (left(ok), right(None +: okR)),
      "right duplicates" -> (left(ok), right(Some(3L) +: okR)),
      "left duplicates, right nulls" -> (left(Some(1) +: ok), right(None +: okR)),
      "empty sides" -> (left(Nil), right(Nil)))
    for ((name, (l, r)) <- cases) {
      val want = outcome(oldValidate(l, r, cfg))
      assert(outcome(DatasetDiff.validate(l, r, cfg)) == want, name)
    }
    assert(outcome(DatasetDiff.validate(left(None +: Some(1) +: ok),
      right(okR), cfg)) == "The join columns for table left contain nulls.")
  }
}
