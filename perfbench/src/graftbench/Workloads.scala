package graftbench

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import graft.Tables
import graft.dedup.Dedup
import graft.engine._
import graft.rules.RuleReport
import graft.similarity.Knn
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._

/** One benchmark workload. An op is one plan run or one pipeline pass; its
  * outcome holds the materialised results, which [[check]] compares with
  * the facts the generator planted (outside the op's timing). */
trait Workload {
  type Outcome
  /** Ops in one complete round; timing covers whole rounds so every
    * round has the same mix of op kinds. */
  def round: Int = 1
  /** Seconds of `--seconds` that one timed round stands for: a run times
    * `--seconds / roundSeconds` rounds, rounded, and at least one. It is a
    * constant, so the count does not depend on how fast a run goes. */
  def roundSeconds: Double
  /** Ops run untimed, counting the cold one. */
  def warmups: Int = round
  /** Input rows read by op `i`. */
  def rows(i: Int): Long
  def op(i: Int, t: Tracer): Outcome
  /** Checks the outcome of op `i` against the planted facts. */
  def check(i: Int, o: Outcome): Checked
  /** A deliberately wrong copy of an outcome, for the benchmark's self-test. */
  def corrupt(o: Outcome): Outcome
  /** Trace-only measurements made once, outside the timed ops. */
  def extras(last: Outcome): Map[String, Double] = Map.empty
}

/** Problems found in an op's outcome (empty when it is correct), and
  * per-op counters read from the checked outputs, which the traced run
  * averages into layer metrics. */
final case class Checked(problems: Seq[String], counters: Map[String, Double] = Map.empty)

object Workloads {
  def apply(name: String, spark: SparkSession, data: String, out: String,
      plans: String): Workload = {
    val truth = new ObjectMapper().readTree(new java.io.File(s"$data/truth.json"))
    name match {
      case "qc_plan" => new PlanWorkload(spark, data, out,
        IndexedSeq(PlanChecks.qc(spark, plans, out, truth)), roundSeconds = 6)
      case "small_plans" => new PlanWorkload(spark, data, out,
        PlanChecks.small(spark, plans, out, truth), roundSeconds = 20)
      case "corpus_dedup" => new CorpusWorkload(spark, data, truth)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
  }

  def longs(n: JsonNode): Seq[Long] = n.elements().asScala.map(_.asLong).toSeq

  def expect(what: String, got: Any, want: Any): Seq[String] =
    if (got == want) Nil else Seq(s"$what: got $got, want $want")
}

/** Runner whose on-disk table opens are timed as `tables.open` spans. */
final class TracedRunner(spark: SparkSession, writer: ReportWriter, t: Tracer)
    extends PlanRunner(spark, Some(writer)) {
  override def resolve(input: InputRef): DataFrame =
    if (input.onDisk) t.span("tables.open")(super.resolve(input))
    else super.resolve(input)
}

final case class PlanOutcome(exitCode: Int, reports: Map[String, Seq[RuleReport]],
    outputs: Map[String, DataFrame])

/** A plan shape: its file, the input rows it reads and its checks. */
final case class PlanSpec(name: String, file: String, rows: Long, check: PlanOutcome => Checked)

/** Plans run through `PlanParser.parseFile` + `PlanRunner`, as `RunPlan`
  * does. Untraced, the plan runs whole; traced, one command at a time on a
  * shared runner (its lookup table carries outputs between commands) so
  * each command's time lands in its layer. */
final class PlanWorkload(spark: SparkSession, data: String, out: String,
    specs: IndexedSeq[PlanSpec], val roundSeconds: Double) extends Workload {
  type Outcome = PlanOutcome
  private val vars = Map("data" -> data, "out" -> out)
  private val reports = new FsReportWriter(spark, s"$out/reports")
  private object Discard extends ReportWriter {
    def write(k: String, g: Seq[(String, Seq[RuleReport])]): Unit = ()
  }

  override def round: Int = specs.size
  // Op latency falls by about 10 % a round over the first rounds. After two
  // warm-up rounds the timed ops sit on the flatter part of that slope, and
  // JIT timing moves them less.
  override def warmups: Int = 2 * round
  def rows(i: Int): Long = specs(i % specs.size).rows

  def op(i: Int, t: Tracer): PlanOutcome = {
    val spec = specs(i % specs.size)
    val plan = t.span("engine.parse")(PlanParser.parseFile(spec.file, vars))
    if (!t.enabled) {
      val r = new TracedRunner(spark, reports, t).run(plan, spec.name)
      return PlanOutcome(r.exitCode, r.reports.toMap, r.outputs)
    }
    val runner = new TracedRunner(spark, Discard, t)
    var failed = 0
    val all = Seq.newBuilder[(String, Seq[RuleReport])]
    var outputs = Map.empty[String, DataFrame]
    plan.commands.foreach { c =>
      val r = t.span("cmd." + PlanWorkload.layer(c))(runner.run(Plan(Seq(c)), spec.name))
      failed += r.numFailedAssertions
      all ++= r.reports
      outputs = r.outputs
    }
    val rs = all.result()
    t.span("engine.report")(reports.write(spec.name, rs))
    PlanOutcome(if (failed > 0) 3 else 0, rs.toMap, outputs)
  }

  def check(i: Int, o: PlanOutcome): Checked = specs(i % specs.size).check(o)

  def corrupt(o: PlanOutcome): PlanOutcome = o.copy(exitCode = o.exitCode + 1)
}

object PlanWorkload {
  /** The graft module a plan command's work belongs to. */
  def layer(c: Command): String = c match {
    case _: AssertionCommand | _: SchemaCommand | _: ProfileCommand |
        _: ChecksumCommand | _: DriftCommand | _: SprtCommand => "rules"
    case _: ViewCommand => "views"
    case _: DiffCommand => "diff"
    case _: TopNCommand | _: SampleCommand => "operators"
    case _: DedupCommand => "dedup.exact"
    case _: PlanCommand => "engine"
  }
}

/** Checks of each plan shape against the generator's planted facts. */
object PlanChecks {
  import Workloads.{expect, longs}

  private def invalid(o: PlanOutcome, key: String): Seq[Long] =
    o.reports.get(key).map(_.map(_.numInvalid)).getOrElse(Nil)

  private def keys(df: DataFrame, a: String, b: String): Seq[Long] =
    df.select(coalesce(col(a), col(b))).collect().map(_.getLong(0)).sorted.toSeq

  private def stat(o: PlanOutcome, key: String, s: String): Option[Any] =
    o.reports.get(key).flatMap(_.headOption).flatMap(_.summaryStats.get(s))

  def qc(spark: SparkSession, plans: String, out: String, truth: JsonNode): PlanSpec = {
    val t = truth
    PlanSpec("qc_plan", s"$plans/qc_plan.json",
      t.get("orders_rows").asLong + t.get("lineitem_rows").asLong,
      o => {
        val rules = o.reports.getOrElse("orders_quality", Nil)
        val bound = rules.find(_.summaryStats.nonEmpty)
        val profile = spark.read.parquet(s"$out/orders_profile").collect()
          .map(r => r.getString(0) -> Seq(r.getLong(1), r.getLong(2), r.getLong(3))).toMap
        val wantProfile = t.get("profile").fields().asScala
          .map(e => e.getKey -> longs(e.getValue)).toMap
        val diff = keys(spark.read.parquet(s"$out/reconciliation"), "ord_o_orderkey", "li_l_orderkey")
        Checked(expect("exit code", o.exitCode, 3) ++
          expect("invalid per rule", rules.map(_.numInvalid), longs(t.get("rule_invalid"))) ++
          expect("bound summary n_invalid", bound.map(_.summaryStats("n_invalid")),
            Some(t.get("rule_invalid").get(2).asLong)) ++
          expect("bound summary max_total", bound.map(_.summaryStats("max_total")),
            Some(t.get("over_bound_max").asDouble)) ++
          expect("samples", rules.forall(r => r.numInvalid == 0 || r.sampleInvalid.nonEmpty), true) ++
          expect("invalid rows", spark.read.parquet(s"$out/invalid_orders")
            .select("o_orderkey").collect().map(_.getLong(0)).sorted.toSeq,
            longs(t.get("invalid_keys"))) ++
          expect("diff keys", diff, longs(t.get("diff_keys"))) ++
          expect("profile", profile, wantProfile) ++
          expect("checksum", stat(o, "orders_fingerprint", "checksum"),
            Some(t.get("checksum").asText)),
          Map("diff.rows_out" -> diff.size.toDouble))
      })
  }

  /** The orders QC plan over tiny tables, then the three corpus plan
    * shapes of `examples/`. */
  def small(spark: SparkSession, plans: String, out: String, truth: JsonNode): IndexedSeq[PlanSpec] = {
    val c = truth.get("corpus")
    val docs = c.get("docs_rows").asLong
    val sources = c.get("n_sources").asLong
    IndexedSeq(
      qc(spark, plans, out, truth).copy(name = "orders_qc"),
      PlanSpec("corpus_qc", s"$plans/small_corpus_qc.json", docs, o => {
        val mismatches = o.outputs("metadata_reconciliation").count()
        Checked(expect("exit code", o.exitCode, 0) ++
          expect("invalid per rule", invalid(o, "corpus_quality"),
            Seq(0L, 0L, c.get("short_docs").asLong)) ++
          expect("dup gate", invalid(o, "dup_quality"), Seq(0L)) ++
          expect("deduped rows", o.outputs("deduped_corpus").count(),
            c.get("distinct_texts").asLong) ++
          expect("metadata mismatches", mismatches, c.get("meta_mismatch").asLong),
          Map("diff.rows_out" -> mismatches.toDouble))
      }),
      PlanSpec("corpus_refresh", s"$plans/small_corpus_refresh.json", docs,
        o => Checked(expect("exit code", o.exitCode, 0) ++
          expect("refreshed checksum", stat(o, "refreshed_fingerprint", "checksum"),
            Some(c.get("refreshed_checksum").asText)) ++
          expect("refreshed rows", o.reports.get("refreshed_fingerprint")
            .flatMap(_.headOption).map(_.totalRows), Some(c.get("distinct_texts").asLong)) ++
          expect("review rows", o.outputs("review_largest").count(), 3 * sources))),
      PlanSpec("release_gate", s"$plans/small_release_gate.json", docs,
        o => Checked(expect("exit code", o.exitCode, 0) ++
          expect("corpus checksum", stat(o, "corpus_fingerprint", "checksum"),
            Some(c.get("corpus_checksum").asText)) ++
          expect("sample rows", o.outputs("review_sample").count(), 2 * sources))))
  }
}

final case class CorpusOutcome(exactRows: Long, exactIdSum: Long,
    edges: Seq[(Long, Long)], canonical: Seq[Long], leaks: Seq[Long],
    knn: Seq[(Long, Long, Int)])

/** The LLM-data pipeline through graft's library API: exact dedup,
  * shingle-Jaccard near-dup edges, connected components, held-out
  * decontamination and IVF kNN. Each step materialises its result inside
  * its own span, as a pipeline that persists every stage would. */
final class CorpusWorkload(spark: SparkSession, data: String, truth: JsonNode)
    extends Workload {
  type Outcome = CorpusOutcome
  import Workloads.{expect, longs}

  // Pass latency falls over the first passes of a JVM (about 30 s cold,
  // then 13-17, 12-16 s). Every run times the same pass, the second, so it
  // sits at the same point of that slope. One timed pass per 20 s of
  // `--seconds` is what the time budget of a full comparison allows.
  val roundSeconds = 20.0

  private val inputRows = Seq("docs_rows", "heldout_rows", "vectors_rows", "queries_rows")
    .map(truth.get(_).asLong).sum
  def rows(i: Int): Long = inputRows

  private def load(name: String, t: Tracer) = t.span("tables.open")(Tables.load(spark, data, name))

  private def exactRows(docs: DataFrame) =
    Dedup.canonicalRows(docs, "text", "doc_id").cache()

  private def nearEdges(exact: DataFrame, minJaccard: Double) =
    Dedup.jaccardNeighbors(exact, "text", "doc_id", 3, "lang", minJaccard)

  private def ivf(emb: DataFrame, queries: DataFrame) =
    Knn.ivfTopK(emb, queries, "embedding", "vec_id", k = 10, numCentroids = 16, nprobe = 2)

  def op(i: Int, t: Tracer): CorpusOutcome = {
    val docs = load("documents", t)
    val held = load("heldout", t)
    val emb = load("embeddings", t)
    val queries = load("queries", t)
    val (exact, n, idSum) = t.span("dedup.exact") {
      val e = exactRows(docs)
      val r = e.agg(count(lit(1)), sum(col("doc_id"))).head()
      (e, r.getLong(0), r.getLong(1))
    }
    val (edgeDf, edges) = t.span("dedup.pairs") {
      val e = nearEdges(exact, 0.8).cache()
      (e, e.select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq)
    }
    val canonical = t.span("dedup.cc") {
      Dedup.canonicalize(exact, "doc_id", edgeDf).select("doc_id")
        .collect().map(_.getLong(0)).toSeq
    }
    val leaks = t.span("dedup.decontam") {
      Dedup.incrementalNearDups(exact, held, "text", "doc_id", numPerms = 48, bandSize = 4)
        .select("doc_id").collect().map(_.getLong(0)).toSeq
    }
    val knn = t.span("similarity.knn") {
      ivf(emb, queries).select("q_id", "neighbor_id", "rank").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSeq
    }
    CorpusOutcome(n, idSum, edges, canonical, leaks, knn)
  }

  def check(i: Int, o: CorpusOutcome): Checked = {
    val twins = truth.get("knn_twins").fields().asScala
      .map(e => e.getKey.toLong -> e.getValue.asLong).toMap
    val byQuery = o.knn.groupBy(_._1)
    val knnBad = twins.count { case (q, twin) =>
      val rs = byQuery.getOrElse(q, Nil)
      rs.map(_._3).sorted != (1 to 10) || !rs.exists(r => r._3 == 1 && r._2 == twin)
    }
    Checked(expect("exact rows", o.exactRows, truth.get("exact_kept").asLong) ++
      expect("exact id sum", o.exactIdSum, truth.get("exact_kept_sum").asLong) ++
      expect("near-dup edges", o.edges.map { case (a, b) => Seq(math.min(a, b), math.max(a, b)) }.sortBy(e => (e(0), e(1))),
        truth.get("near_edges").elements().asScala.map(longs).toSeq) ++
      expect("canonical ids", o.canonical.sorted, longs(truth.get("canonical_ids"))) ++
      expect("held-out leaks", o.leaks.sorted, longs(truth.get("leak_ids"))) ++
      expect("queries without their planted top-1 or k rows", knnBad, 0))
  }

  def corrupt(o: CorpusOutcome): CorpusOutcome = o.copy(canonical = o.canonical.drop(1))

  /** Useful-work ratio of the Jaccard step (verified edges over every pair
    * sharing a shingle, the inverted index's candidate set) and kNN
    * recall@10 against the exact scan on a fixed query subset. */
  override def extras(last: CorpusOutcome): Map[String, Double] = {
    val none = new Tracer(false)
    val exact = exactRows(load("documents", none))
    val candidates = nearEdges(exact, Double.MinPositiveValue).count()
    val verified = last.edges.size.toLong
    val queries = load("queries", none).orderBy("vec_id").limit(20)
    val exactTop = Knn.bruteForce(load("embeddings", none), queries, "embedding", "vec_id", 10)
      .select("q_id", "neighbor_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val approx = last.knn.map(r => (r._1, r._2)).toSet
    exact.unpersist()
    Map(
      "dedup.candidate_pairs" -> candidates.toDouble,
      "dedup.verified_pairs" -> verified.toDouble,
      "dedup.useful_ratio" -> (if (candidates == 0) 0.0 else verified.toDouble / candidates),
      "similarity.recall_at_10" -> (exactTop & approx).size.toDouble / math.max(1, exactTop.size))
  }
}
