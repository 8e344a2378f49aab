package graft.rules

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.{FilteredAggregates, FirstRows}

/** Evaluates data-quality rules against a DataFrame.
  *
  * Spark-first redesign of the reference's assertion runner
  * (reference: tnassertion/TnAssertionRunner.scala):
  *
  *  - The reference runs `count` once per rule plus one for the total —
  *    2+N jobs, each a full scan. graft computes every rule's invalid
  *    count in ONE aggregation pass: each rule becomes a conditional-sum
  *    column, so a 20-rule check of a 100 TB table is one scan, fully
  *    inside WholeStageCodegen.
  *  - The reference builds sample context windows by collecting rows to
  *    the driver and creating per-window DataFrames
  *    (TnAssertionRunner.scala:89-108) — impossible at scale. graft keeps
  *    windows distributed: semi-join on the invalid partition keys, then
  *    a Window rank for in-window ordering.
  *  - Rules stay declarative `Column` predicates, so Catalyst pushes
  *    shared filters into the scan and prunes unused columns.
  */
object RuleRunner {
  /** Reason column name; UUID-ish to avoid collisions with data columns
    * (reference: TnAssertionRunner.scala:152). */
  val ReasonCol = "__REASON_INVALID__"
  /** Joiner between descriptions when several rules flag the same row. */
  val ReasonJoiner = " &&& "
  /** Rows sampled per rule for reports. */
  val SampleNum = 20

  /** A row is invalid for a rule unless the predicate evaluates TRUE. */
  private def invalidPred(rule: Rule): Column =
    !coalesce(expr(rule.query).cast("boolean"), lit(false))

  /** Apply every rule's user-defined feature columns (left-to-right, so
    * later rules may reference earlier rules' features). */
  def withFeatures(df: DataFrame, rules: Seq[Rule]): DataFrame =
    rules.flatMap(_.features).foldLeft(df) { case (d, (name, e)) =>
      d.withColumn(name, expr(e))
    }

  /** Add the reason column: concatenated descriptions of failing rules;
    * empty string when the row passes every rule. */
  def markInvalid(df: DataFrame, rules: Seq[Rule]): DataFrame = {
    val reasons = rules.map(r => when(invalidPred(r), r.description))
    withFeatures(df, rules).withColumn(ReasonCol, concat_ws(ReasonJoiner, reasons: _*))
  }

  /** All rows invalid under at least one rule, with the reason column —
    * the reference's assertion-command output DF. */
  def invalidRows(df: DataFrame, rules: Seq[Rule]): DataFrame =
    markInvalid(df, rules).filter(col(ReasonCol) =!= "")

  /** Cross-table referential-integrity stats (beyond the reference's
    * single-table rules): total child rows and rows whose key has no
    * parent — one left join against the DISTINCT parent keys (the
    * distinct pre-aggregation keeps the join side small and, for true
    * dimension parents, broadcastable) and one aggregation, no
    * per-relation count jobs. */
  def referentialStats(child: DataFrame, parent: DataFrame,
      childKey: String, parentKey: String, relationName: String): DataFrame =
    child.select(col(childKey).as("__k"))
      .join(parent.select(col(parentKey).as("__k")).distinct()
        .withColumn("__hit", lit(1)), Seq("__k"), "left")
      .agg(count(lit(1)).as("n_child"),
        sum(when(col("__hit").isNull, 1).otherwise(0)).as("n_orphans"))
      .select(lit(relationName).as("relation"), col("n_child"), col("n_orphans"))

  /** Evaluate every rule in a single aggregation pass: every rule's
    * invalid count and every aggregate `summary` (folded in as
    * `<agg> FILTER (WHERE <invalid>)`) come from ONE job. A summary that
    * is not an aggregate, or is a DISTINCT one, keeps its own pass over
    * the rule's invalid rows.
    * `collectSamples` adds at most one more execution for the samples of
    * every rule with invalid rows, read like `limit(20)` reads (the
    * engine's report path wants them, hot QC loops don't). */
  def reports(df: DataFrame, rules: Seq[Rule],
      collectSamples: Boolean = false): Seq[RuleReport] = {
    val prepared = withFeatures(df, rules)
    val summaries = rules.map { r =>
      if (r.summary.isEmpty) None
      else {
        val over = prepared.filter(invalidPred(r))
          .selectExpr(r.summary.map { case (n, e) => s"$e AS $n" }.toSeq: _*)
        Some(FilteredAggregates.fold(over).toRight(over))
      }
    }
    val aggCols = count(lit(1)).as("__total__") +: (
      rules.zipWithIndex.map { case (r, i) =>
        sum(when(invalidPred(r), 1L).otherwise(0L)).as(s"__inv_$i")
      } ++
      summaries.zipWithIndex.flatMap {
        case (Some(Right(folded)), i) =>
          folded.zipWithIndex.map { case (c, j) => c.as(s"__sum_${i}_$j") }
        case _ => Nil
      })
    val row = prepared.agg(aggCols.head, aggCols.tail: _*).collect()(0)
    val total = row.getAs[Long]("__total__")
    val invalid = rules.indices.map(i => row.getAs[Long](s"__inv_$i"))
    val sampled = rules.indices.filter(i => collectSamples && invalid(i) > 0)
    val samples = sampled.zip(samplesOf(prepared, sampled.map(rules))).toMap
    rules.zipWithIndex.map { case (r, i) =>
      val inv = invalid(i)
      val frac = if (total > 0) inv.toDouble / total.toDouble else 0.0
      val stats = summaries(i) match {
        case None => Map.empty[String, Any]
        case Some(Right(_)) =>
          r.summary.keys.zipWithIndex
            .map { case (k, j) => k -> row.getAs[Any](s"__sum_${i}_$j") }.toMap
        case Some(Left(over)) =>
          val sumRow = over.collect()(0)
          r.summary.keys.map(k => k -> sumRow.getAs[Any](k)).toMap
      }
      RuleReport(r.query, r.description, r.threshold, total, inv, frac,
        failed = frac > r.threshold, summaryStats = stats,
        sampleInvalid = samples.getOrElse(i, Seq.empty))
    }
  }

  /** The first [[SampleNum]] invalid rows of each rule, projected as
    * [[sampleFrom]] projects them, from ONE execution that reads
    * partitions in order the way `limit` does and stops once every rule
    * has its rows ([[FirstRows.perFlag]]): the rows each rule's own
    * `limit(SampleNum)` returns. `prepared` has ALL rules' features
    * applied: a rule whose query or features reference an earlier
    * rule's feature would not resolve against the bare frame. */
  private def samplesOf(prepared: DataFrame,
      rules: Seq[Rule]): Seq[Seq[Map[String, String]]] =
    if (rules.isEmpty) Nil
    else {
      val names = prepared.columns.toIndexedSeq
      // Positions, not names: a frame may carry two columns of one name.
      val projections = rules.map { r =>
        val p = sampleColumns(names, r)
        if (p.nonEmpty) p else names.indices
      }
      val kept = projections.flatten.distinct.sorted
      val flags = rules.indices.map(j => s"__s$j")
      val tagged = prepared
        .select(rules.zip(flags).map { case (r, f) => invalidPred(r).as(f) } :+
          col("*"): _*)
        .toDF(flags ++ names.indices.map(i => s"__c$i"): _*)
        .where(flags.map(col).reduce(_ || _))
        .select(flags.map(col) ++ kept.map(i => col(s"__c$i")): _*)
      FirstRows.perFlag(tagged, rules.size, SampleNum).zip(projections).map {
        case (rows, projection) => rows.map { s =>
          projection.map(p =>
            names(p) -> String.valueOf(s.get(kept.indexOf(p)))).toMap
        }
      }
    }

  /** Report as a DataFrame (rule_id keyed, deterministic order). */
  def reportDF(spark: SparkSession, df: DataFrame, rules: Seq[Rule]): DataFrame = {
    import spark.implicits._
    reports(df, rules).zipWithIndex.map { case (r, i) =>
      (i + 1, r.description, r.threshold, r.totalRows, r.numInvalid,
        r.fractionInvalid, r.failed)
    }.toDF("rule_id", "description", "threshold", "total_rows",
      "num_invalid", "fraction_invalid", "failed")
      .orderBy("rule_id")
  }

  /** Column names referenced by a rule's predicate — the unresolved
    * attributes of Spark's OWN expression parse (the reference walks a
    * Hive AST for the same purpose,
    * TnAssertionReport.scala:114-138). Unknown names (not in the
    * DataFrame) are the analyzer's problem, not ours. */
  def referencedColumns(rule: Rule): Seq[String] = {
    import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
    org.apache.spark.sql.catalyst.parser.CatalystSqlParser
      .parseExpression(rule.query)
      // Both the dotted name and its first part: "meta.bal" must match a
      // struct column "meta", while plain "bal" matches "bal".
      .collect { case a: UnresolvedAttribute => Seq(a.name, a.nameParts.head) }
      .flatten.distinct
  }

  /** Bounded invalid-row sample of an ALREADY-FEATURED frame, projected
    * to the columns the rule references plus its feature columns — full
    * rows of a wide table would bloat every report
    * (reference: TnAssertionReport.scala:104-113). */
  private def sampleFrom(prepared: DataFrame, rule: Rule): DataFrame = {
    val invalid = prepared.filter(invalidPred(rule))
    val columns = invalid.columns.toIndexedSeq
    val present = sampleColumns(columns, rule).map(columns)
    (if (present.nonEmpty) invalid.select(present.map(col): _*)
     else invalid).limit(SampleNum)
  }

  /** Positions of the columns a rule's sample keeps (its referenced
    * columns and features, matched case-insensitively), in frame order;
    * empty means the whole row. */
  private def sampleColumns(columns: Seq[String], rule: Rule): Seq[Int] = {
    val wanted = (referencedColumns(rule) ++ rule.features.keys).distinct
    columns.indices.filter(i => wanted.exists(_.equalsIgnoreCase(columns(i))))
  }

  /** Per-rule sample of invalid rows (bounded, for reports). NOTE: when
    * sampling rules whose features reference OTHER rules' features, go
    * through [[reports]] (which prepares all rules together). */
  def samples(df: DataFrame, rule: Rule): DataFrame =
    sampleFrom(withFeatures(df, Seq(rule)), rule)

  /** Distributed context windows: every row of `df` that shares its
    * window-partition key values with an invalid row, ranked within the
    * window. Replaces the reference's driver-side collect
    * (TnAssertionRunner.scala:89-108).
    *
    * The invalid-key set is usually tiny relative to the table →
    * left-semi join (broadcast by AQE when small), then one Window pass.
    */
  def sampleWindows(df: DataFrame, rule: Rule, params: SampleWindowParams): DataFrame = {
    val prepared = withFeatures(df, Seq(rule))
    val keys = prepared.filter(invalidPred(rule))
      .select(params.partitionBy.map(col): _*).distinct()
    val inWindows = prepared.join(keys, params.partitionBy, "left_semi")
    val w = Window.partitionBy(params.partitionBy.map(col): _*)
      .orderBy(params.orderBy.map(col): _*)
    inWindows.withColumn("window_rank", row_number().over(w))
  }
}
