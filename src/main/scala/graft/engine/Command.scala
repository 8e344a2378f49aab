package graft.engine

import graft.rules.{Profiler, Rule, Sprt}
import graft.diff.{DiffConfig, DiffSide}

/** Reference to one input dataset of a command
  * (reference: tnengine/TnCmd.scala + USER_GUIDE "Input").
  *
  * @param ref       path on storage (when onDisk) or the outputKey of an
  *                  earlier command
  * @param onDisk    true → load from storage; false → lookup table
  * @param format    explicit source format (parquet/csv/tsv/json/orc/
  *                  xml/text/txt/wholetext); when absent, inferred from
  *                  delimiter or file extension
  * @param delimiter for delimited text inputs (header + inferSchema, as in
  *                  the reference)
  * @param rowTag    for XML inputs: the element naming one record
  *                  (Spark default "ROW")
  */
case class InputRef(
    ref: String,
    onDisk: Boolean,
    format: Option[String] = None,
    delimiter: Option[String] = None,
    rowTag: Option[String] = None)

/** Where a command's output goes (reference: tnengine/TnCmd.scala:30-48):
  * stored under `outputKey`, cached when `cache` is set, persisted to
  * `outputPath` (parquet), and mounted as the SQL table `tableName`. */
case class OutputSpec(
    outputKey: String,
    cache: Boolean = false,
    outputPath: Option[String] = None,
    tableName: Option[String] = None)

/** A plan step. Mirrors the reference's command surface
  * (reference: tnengine/TnCmd.scala:30-48). Each command checks its own
  * configuration when it is built, so a plan that parses holds no
  * config error that running it would hit. */
sealed trait Command {
  def output: OutputSpec
  final def outputKey: String = output.outputKey
  final def cache: Boolean = output.cache
  final def outputPath: Option[String] = output.outputPath
  final def tableName: Option[String] = output.tableName
}

case class AssertionCommand(
    input: InputRef,
    rules: Seq[Rule],
    output: OutputSpec) extends Command {
  require(rules.forall(_.query.nonEmpty), "assertion rule needs query")
}

case class DiffCommand(
    input1: InputRef,
    input1Name: String,
    input2: InputRef,
    input2Name: String,
    joinColumns1: Seq[String],
    diffColumns1: Seq[String],
    joinColumns2: Seq[String],
    diffColumns2: Seq[String],
    numericThreshold: Double = 1e-6,
    perColumnThresholds: Option[Seq[Double]] = None,
    filterEqualRows: Boolean = false,
    output: OutputSpec) extends Command {
  val diffConfig: DiffConfig = DiffConfig(
    DiffSide(joinColumns1, diffColumns1), DiffSide(joinColumns2, diffColumns2),
    input1Name, input2Name, numericThreshold, perColumnThresholds,
    filterEqualRows)
}

case class ViewCommand(
    inputs: Seq[InputRef],
    tableAliases: Seq[String],
    query: String,
    output: OutputSpec) extends Command {
  require(inputs.nonEmpty, "view needs inputs")
  require(inputs.size == tableAliases.size,
    s"view needs one tableAlias per input, got ${inputs.size} " +
      s"inputs and ${tableAliases.size} tableAliases")
  require(query.nonEmpty, "view needs query")
}

/** Declared-schema gate ([[graft.rules.SchemaContract]]): verifies the
  * input's schema against the declared columns BEFORE row-level rules
  * run — pure driver-side metadata, zero jobs. A violation counts as a
  * failed check toward the plan's exit status; the per-column report
  * frame stores under `outputKey` like any command output. */
case class SchemaCommand(
    input: InputRef,
    contract: Seq[graft.rules.ColumnContract],
    allowExtra: Boolean = true,
    output: OutputSpec) extends Command

/** Profiling step ([[graft.rules.Profiler]]): per-column rows / nulls /
  * distincts report over the input — the "what does this feed look
  * like" companion to the schema gate's "is its shape right".
  * Informational: never contributes to the exit status. `approx = true`
  * swaps exact COUNT(DISTINCT) for HyperLogLog++ sketches — the one-
  * pass 100 TB path. */
case class ProfileCommand(
    input: InputRef,
    columns: Seq[String],
    approx: Boolean = false,
    output: OutputSpec) extends Command {
  Profiler.requireColumns(columns)
}

/** Dedup step ([[graft.dedup.Dedup.exactGroups]] semantics): keep one
  * canonical row (minimum `idCol`) per distinct `textCol` content hash.
  * Makes the plan engine drive the LLM-pipeline surface, not only QC —
  * a corpus-prep plan is (schema → assertion → dedup → view) in one
  * JSON file. The invalid-row-style complement (`keepDuplicatesReport`)
  * stores the per-group cardinality report instead of the deduped
  * frame. One hash-groupBy shuffle either way. */
case class DedupCommand(
    input: InputRef,
    textCol: String,
    idCol: String,
    keepDuplicatesReport: Boolean = false,
    output: OutputSpec) extends Command {
  require(textCol.nonEmpty, "dedup needs textCol")
  require(idCol.nonEmpty, "dedup needs idCol")
}

/** Deterministic stratified sample step: keep `k` rows per stratum by
  * seeded-md5 election ([[graft.operators.Sampling.stratifiedTopK]]) —
  * the reproducible "pull N examples per segment for review" step a QC
  * plan runs after an assertion flags a segment. */
case class SampleCommand(
    input: InputRef,
    stratumCols: Seq[String],
    idCol: String,
    k: Int,
    seed: String = "sample",
    output: OutputSpec) extends Command {
  require(k > 0, "sample k must be positive")
  require(stratumCols.nonEmpty, "sample needs stratumCols")
  require(idCol.nonEmpty, "sample needs idCol")
}

/** Drift gate between a current input and a baseline input: PSI over
  * fixed-width bins of `valueCol` ([[graft.rules.Profiler.driftOuter]] —
  * the FULL-outer epsilon-smoothed form, so mass in bins the other side
  * never hits scores as large finite drift rather than vanishing).
  * The stored output is the per-bin PSI frame; a rule-report row
  * carries the TOTAL PSI, and when `maxPsi` is set a total above it
  * counts toward the failed-assertion exit status (3) — distribution
  * shift becomes a first-class plan gate, not only a profiling read.
  * Cost: the gate reads the total from ONE aggregation over both sides
  * ([[graft.rules.Profiler.driftOuterTotal]]), not from the per-bin
  * frame, which costs one bin-count aggregation per side when it is
  * read or written. */
case class DriftCommand(
    input: InputRef,
    baseline: InputRef,
    valueCol: String,
    binWidth: Double,
    maxPsi: Option[Double] = None,
    output: OutputSpec) extends Command {
  require(binWidth > 0, "drift binWidth must be positive")
  require(valueCol.nonEmpty, "drift needs valueCol")
}

/** Order-independent table fingerprint as a plan step
  * ([[graft.rules.Fingerprint]]): the stored output is the 1-row
  * (n_rows, checksum) frame; when `expected` is set, a mismatched
  * checksum counts toward the failed-assertion exit status — the
  * release-sign-off gate ("this drop is byte-for-byte the corpus we
  * signed") as a plan primitive. One hash projection + one combinable
  * sum; row-order independent by construction. */
case class ChecksumCommand(
    input: InputRef,
    columns: Seq[String],
    expected: Option[String] = None,
    output: OutputSpec) extends Command {
  require(columns.nonEmpty, "checksum needs columns")
}

/** Sequential (SPRT) defect-rate gate as a plan step
  * ([[graft.rules.Sprt]]): period-bucketed defect counts walk a
  * cumulative log-likelihood ratio between H0 (defect rate p0) and H1
  * (p1); the stored output is the full walk frame, and the plan fails
  * when the walk's STOPPING decision is `accept_h1` — the
  * both-error-rates-bounded alternative to a fixed-threshold rate
  * check, as a plan primitive. */
case class SprtCommand(
    input: InputRef,
    timeCol: String,
    defectExpr: String,
    granularity: String = "month",
    p0: Double,
    p1: Double,
    alpha: Double = 0.05,
    output: OutputSpec) extends Command {
  Sprt.requireParams(p0, p1, alpha)
  require(timeCol.nonEmpty, "sprt needs timeCol")
  require(defectExpr.nonEmpty, "sprt needs defectExpr")
}

/** Per-key top-N retention step: keep the `k` rows per `keyCols` group
  * that sort first by `orderCol` (descending by default), id-tiebroken
  * — runs on the custom sort-free [[org.apache.spark.sql.graft.TopK]]
  * physical operator (§2.38b), so a plan's "N examples per segment /
  * latest row per key" step never full-sorts input partitions. */
case class TopNCommand(
    input: InputRef,
    keyCols: Seq[String],
    orderCol: String,
    tiebreakCol: String,
    k: Int,
    descending: Boolean = true,
    output: OutputSpec) extends Command {
  require(k > 0, "topn k must be positive")
  require(keyCols.nonEmpty, "topn needs keyCols")
  require(orderCol.nonEmpty, "topn needs orderCol")
  require(tiebreakCol.nonEmpty, "topn needs tiebreakCol")
}

/** Nested plan (reference: USER_GUIDE "Nested Plan"). */
case class PlanCommand(plan: Plan) extends Command {
  /** Its commands carry their own outputs. */
  def output: OutputSpec = OutputSpec("")
}

/** An ordered list of commands plus the report destination. */
case class Plan(commands: Seq[Command], reportDest: Option[String] = None)
