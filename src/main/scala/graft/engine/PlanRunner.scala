package graft.engine

import graft.diff.DatasetDiff
import graft.rules.{RuleReport, RuleRunner}
import graft.views.ViewCreator
import java.util.concurrent.{Callable, Executors}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions.input_file_name
import scala.collection.mutable
import scala.util.Try
import scala.util.control.NonFatal

/** Result of running a plan: failed-assertion count (the reference exits
  * 3 when > 0 — reference: tnengine/TnEngine.scala:47-50), all rule
  * reports by command, and the key→DataFrame lookup for downstream use. */
case class PlanResult(
    numFailedAssertions: Int,
    reports: Seq[(String, Seq[RuleReport])],
    outputs: Map[String, DataFrame]) {
  def exitCode: Int = if (numFailedAssertions > 0) 3 else 0
}

/** Executes a [[Plan]], threading command outputs through a
  * key→DataFrame lookup table (reference: tnengine/TnEngine.scala:199-279).
  *
  * A run has two passes:
  *  - the BUILD pass, in plan order on the calling thread, resolves
  *    inputs, builds every command's lazy output and registers its
  *    lookup key, `cache`, temp view and aliases;
  *  - the GATE pass runs every command's eager work — assertion
  *    reports, diff key validation, the drift, checksum, SPRT and schema
  *    gates — on up to `defaultParallelism` threads, since a gate over a
  *    small input is one task and would leave the other slots idle.
  *    Then it writes the `outputPath` of every command before the first
  *    gate that threw, in plan order, and of that command too when it is
  *    a schema, checksum, drift or SPRT command (those write their
  *    output before their gate runs).
  * Reports, exit code, the raised exception and the written outputs
  * are those of running the commands one after another. A command that
  * reads a path an earlier command writes is built after that write.
  * Two things differ when a gate throws: the gates of later commands
  * still run (their results are dropped), and later commands have
  * already registered their lookup key, `cache` and temp view.
  *
  * Spark-first notes:
  *  - outputs stay lazy logical plans unless `cache` is set — a view
  *    feeding one assertion costs nothing extra, Catalyst fuses the
  *    pipeline into one job;
  *  - `outputPath` persists parquet; `tableName` registers a temp view
  *    (the reference mounts an external Hive table; a library should not
  *    mutate the metastore);
  *  - nested plans share the same lookup table, as in the reference, and
  *    their commands join the enclosing plan's gate pass.
  */
class PlanRunner(spark: SparkSession, reportWriter: Option[ReportWriter] = None) {
  private val lookup = mutable.LinkedHashMap.empty[String, DataFrame]

  /** Preload a DataFrame under a key (useful for library callers). */
  def register(key: String, df: DataFrame): PlanRunner = {
    lookup.put(key, df); this
  }

  def resolve(input: InputRef): DataFrame =
    if (!input.onDisk)
      // Catalog-mode input (reference: tnengine/TnEngine.scala:38
      // enableHiveSupport): a non-disk ref not produced by an earlier
      // command resolves through the session catalog — temp views,
      // spark_catalog / warehouse-backed tables, and (when the session
      // was built with enableHiveSupport) Hive-metastore tables, all via
      // the same spark.table() path. Plan keys win on collision so a
      // command output can shadow a catalog name deliberately.
      lookup.getOrElse(input.ref, {
        // tableExists throws ParseException for refs that are not valid
        // SQL identifiers (e.g. a typo'd output key with a space) —
        // treat unparseable as not-a-table so the plan author gets the
        // descriptive missing-input error, not an identifier-parser
        // one. Anything ELSE (e.g. metastore connectivity failure)
        // propagates: reporting it as "input not found" would mask the
        // real error.
        val inCatalog =
          try spark.catalog.tableExists(input.ref)
          catch {
            case _: org.apache.spark.sql.catalyst.parser.ParseException =>
              false
          }
        if (inCatalog) spark.table(input.ref)
        else throw new IllegalArgumentException(
          s"Input ${input.ref} not in lookup table or session catalog.")
      })
    else input.format.orElse {
      input.delimiter.map(_ => "csv").orElse {
        val ext = input.ref.reverse.takeWhile(_ != '.').reverse.toLowerCase
        Some(ext).filter(Set("csv", "tsv", "json", "orc", "txt", "xml"))
      }
    } match {
      case Some("csv") | Some("tsv") =>
        spark.read.format("csv")
          .option("header", "true")
          .option("inferSchema", "true")
          .option("delimiter", input.delimiter.map(_.take(1)).getOrElse(","))
          .load(input.ref)
      case Some("json") => spark.read.json(input.ref)
      case Some("orc") => spark.read.orc(input.ref)
      // XML records (Spark 4 ships the former spark-xml as a built-in
      // source): one row per `rowTag` element, schema inferred.
      case Some("xml") =>
        spark.read.option("rowTag", input.rowTag.getOrElse("ROW"))
          .xml(input.ref)
      // Raw text corpus: one document per line in a `value` column —
      // the native LLM-pipeline ingestion path for crawl/text drops
      // that carry no schema at all.
      case Some("text") | Some("txt") => spark.read.text(input.ref)
      // Whole-file text: one document per FILE (value + the path via
      // input_file_name()) — for corpora where documents span lines.
      case Some("wholetext") =>
        spark.read.option("wholetext", "true").text(input.ref)
          .withColumn("path", input_file_name())
      case _ => spark.read.parquet(input.ref)
    }

  def run(plan: Plan, reportKey: String = "plan"): PlanResult = {
    val reports = mutable.Buffer.empty[(String, Seq[RuleReport])]
    val pending = mutable.Buffer.empty[Step]
    var failed = 0
    def flush(): Unit = {
      val steps = pending.toSeq
      pending.clear()
      failed += GatePass.run(spark, steps, reports)
    }
    try build(plan.commands, pending, flush _)
    catch {
      // The commands before the one that failed to build run first; an
      // earlier gate's failure wins, as it would have run first.
      case NonFatal(e) => flush(); throw e
    }
    flush()
    val writer = reportWriter.orElse(
      plan.reportDest.map(d => new FsReportWriter(spark, d)))
    writer.foreach(_.write(reportKey, reports.toSeq))
    PlanResult(failed, reports.toSeq, lookup.toMap)
  }

  /** The build pass: appends one [[Step]] per command, in plan order. */
  private def build(cmds: Seq[Command], steps: mutable.Buffer[Step],
      flush: () => Unit): Unit = {
    // An on-disk input that an earlier, still pending command writes is
    // read after that write: the pending steps run first.
    def read(input: InputRef): DataFrame = {
      if (input.onDisk &&
          steps.exists(_.write.exists { case (p, _) => overlaps(p, input.ref) }))
        flush()
      resolve(input)
    }
    def gated(c: Command, out: DataFrame, writeFirst: Boolean = false)(
        gate: => Gated): Unit =
      steps += step(c, out, Some(() => gate), writeFirst)
    def plain(c: Command, out: DataFrame): Unit =
      steps += step(c, out, None, writeFirst = false)
    cmds.foreach {
      case c: AssertionCommand =>
        val input = read(c.input)
        // The engine's report path collects per-rule samples (bounded,
        // projected to rule-referenced columns) like the reference's
        // assertion reports do.
        gated(c, RuleRunner.invalidRows(input, c.rules)) {
          val ruleReports =
            RuleRunner.reports(input, c.rules, collectSamples = true)
          Gated(Seq(c.outputKey -> ruleReports), ruleReports.count(_.failed))
        }
      case c: DiffCommand =>
        val (left, right, cfg) = (read(c.input1), read(c.input2), c.diffConfig)
        gated(c, DatasetDiff.diff(left, right, cfg.copy(validateKeys = false))) {
          if (cfg.validateKeys) DatasetDiff.validate(left, right, cfg)
          Gated(Nil, 0)
        }
      case c: ViewCommand =>
        plain(c, ViewCreator.createView(spark,
          c.tableAliases.zip(c.inputs.map(read)), c.query))
      case c: SchemaCommand =>
        val input = read(c.input)
        gated(c, graft.rules.SchemaContract.report(spark, input, c.contract),
            writeFirst = true) {
          Gated(Nil,
            if (graft.rules.SchemaContract.passed(input, c.contract, c.allowExtra)) 0
            else 1)
        }
      case c: ProfileCommand =>
        val input = read(c.input)
        plain(c,
          if (c.approx) graft.rules.Profiler.profileApprox(input, c.columns)
          else graft.rules.Profiler.profile(input, c.columns))
      case c: DedupCommand =>
        val input = read(c.input)
        plain(c,
          if (c.keepDuplicatesReport)
            graft.dedup.Dedup.exactGroups(input, c.textCol, c.idCol)
          else graft.dedup.Dedup.canonicalRows(input, c.textCol, c.idCol))
      case c: SampleCommand =>
        plain(c, graft.operators.Sampling.stratifiedTopK(
          read(c.input), c.stratumCols, c.idCol, c.k, c.seed))
      case c: TopNCommand =>
        val ord = if (c.descending)
          org.apache.spark.sql.functions.col(c.orderCol).desc
        else org.apache.spark.sql.functions.col(c.orderCol).asc
        plain(c, org.apache.spark.sql.graft.TopK.perKey(read(c.input),
          c.keyCols,
          Seq(ord, org.apache.spark.sql.functions.col(c.tiebreakCol).asc),
          c.k))
      case c: ChecksumCommand =>
        val fp = graft.rules.Fingerprint.of(read(c.input), c.columns)
        gated(c, fp, writeFirst = true) {
          val row = fp.head()
          val checksum = row.getAs[String]("checksum")
          verdict(c.outputKey,
            query = s"checksum(${c.columns.mkString(", ")})" +
              c.expected.map(e => s" == $e").getOrElse(""),
            description = "order-independent table fingerprint" +
              (if (c.expected.isDefined) " gate" else ""),
            threshold = 0.0,
            totalRows = row.getAs[Long]("n_rows"),
            failed = c.expected.exists(_ != checksum),
            stats = Map("checksum" -> checksum))
        }
      case c: DriftCommand =>
        val (baseline, input) = (read(c.baseline), read(c.input))
        // driftOuter, not drift: the gate must see bins present on only
        // one side (epsilon-smoothed large finite terms) — an inner
        // join would score a COMPLETE distribution shift as zero. The
        // gate sums the same per-bin terms from one aggregation.
        gated(c, graft.rules.Profiler.driftOuter(
            baseline, input, c.valueCol, c.binWidth), writeFirst = true) {
          val (total, bins) = graft.rules.Profiler.driftOuterTotal(
            baseline, input, c.valueCol, c.binWidth)
          verdict(c.outputKey,
            query = s"psi(${c.valueCol}, binWidth=${c.binWidth})" +
              c.maxPsi.map(m => s" <= $m").getOrElse(""),
            description = s"PSI drift gate on ${c.valueCol} vs baseline",
            // -1 = ungated (informational): a finite sentinel, because
            // Infinity would serialize as a STRING in the JSON report and
            // break numeric consumers.
            threshold = c.maxPsi.getOrElse(-1.0),
            totalRows = bins,
            failed = c.maxPsi.exists(total > _),
            stats = Map("psi_total" -> total))
        }
      case c: SprtCommand =>
        val walk = graft.rules.Sprt.walk(read(c.input), c.timeCol,
          org.apache.spark.sql.functions.expr(c.defectExpr),
          c.granularity, c.p0, c.p1, c.alpha)
        // The gate reads only the STOPPING decision (1-row aggregate
        // over the bounded per-period walk frame).
        gated(c, walk, writeFirst = true) {
          val decision = graft.rules.Sprt.stoppingDecision(walk)
          verdict(c.outputKey,
            query = s"sprt(${c.defectExpr}; p0=${c.p0}, p1=${c.p1}, " +
              s"alpha=${c.alpha}, per ${c.granularity})",
            description = "sequential probability-ratio defect-rate gate",
            threshold = c.p1,
            totalRows = 1,
            failed = decision == "accept_h1",
            stats = Map("decision" -> decision))
        }
      case c: PlanCommand =>
        build(c.plan.commands, steps, flush)
    }
  }

  /** A gate with one pass/fail report, as checksum, drift and SPRT give. */
  private def verdict(key: String, query: String, description: String,
      threshold: Double, totalRows: Long, failed: Boolean,
      stats: Map[String, Any]): Gated =
    Gated(Seq(key -> Seq(RuleReport(query, description, threshold, totalRows,
      numInvalid = if (failed) 1 else 0,
      fractionInvalid = if (failed) 1.0 else 0.0,
      failed = failed, summaryStats = stats))), if (failed) 1 else 0)

  /** Registers a command's output (lookup key, cache, temp view) and
    * returns its step; the `outputPath` write waits for the gate pass. */
  private def step(cmd: Command, df: DataFrame,
      gate: Option[() => Gated], writeFirst: Boolean): Step = {
    val out = if (cmd.cache) df.cache() else df
    lookup.put(cmd.outputKey, out)
    cmd.tableName.foreach(out.createOrReplaceTempView)
    Step(gate, cmd.outputPath.map(p => p -> out), writeFirst)
  }

  /** Whether reading `ref` may see what writing `path` produces: one
    * qualified path is the other or lies under it. */
  private def overlaps(path: String, ref: String): Boolean = {
    val conf = spark.sparkContext.hadoopConfiguration
    def qualified(p: String) = {
      val hp = new Path(p)
      hp.getFileSystem(conf).makeQualified(hp).toString.stripSuffix("/") + "/"
    }
    val (a, b) = (qualified(path), qualified(ref))
    a.startsWith(b) || b.startsWith(a)
  }
}

/** What a command's gate adds to the plan result. */
private final case class Gated(reports: Seq[(String, Seq[RuleReport])],
    failures: Int)

/** A built command: its gate (none for commands without eager work),
  * its `outputPath` write, and whether a one-after-another run writes
  * before the gate runs. */
private final case class Step(gate: Option[() => Gated],
    write: Option[(String, DataFrame)], writeFirst: Boolean)

private object GatePass {
  /** The gate pass over `steps`: every gate, on up to
    * `defaultParallelism` threads, then the writes a one-after-another
    * run makes before the first gate that throws, in order; that gate's
    * exception is rethrown. Appends the gates' reports in step order and
    * returns their failure count. */
  def run(spark: SparkSession, steps: Seq[Step],
      reports: mutable.Buffer[(String, Seq[RuleReport])]): Int = {
    val gates = steps.zipWithIndex.collect { case (Step(Some(g), _, _), i) => (g, i) }
    val threads = math.max(1,
      math.min(gates.size, spark.sparkContext.defaultParallelism))
    val pool = Executors.newFixedThreadPool(threads, (r: Runnable) => {
      val t = new Thread(r, "graft-gate")
      t.setDaemon(true)
      t
    })
    val outcomes: Map[Int, Try[Gated]] =
      try gates.map { case (g, i) =>
          i -> pool.submit(new Callable[Try[Gated]] {
            def call(): Try[Gated] = Try(g())
          })
        }.map { case (i, f) => i -> f.get() }.toMap
      finally pool.shutdown()
    val stop = gates.collectFirst { case (_, i) if outcomes(i).isFailure => i }
      .getOrElse(steps.size)
    steps.zipWithIndex.foreach { case (s, i) =>
      if (i < stop || (i == stop && s.writeFirst)) s.write.foreach {
        case (p, out) => out.write.mode(SaveMode.Overwrite).parquet(p)
      }
    }
    // In step order, so `get` rethrows the first gate's exception.
    val gated = gates.map { case (_, i) => outcomes(i).get }
    gated.foreach(g => reports ++= g.reports)
    gated.map(_.failures).sum
  }
}
