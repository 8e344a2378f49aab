package graftbench

import java.io.PrintWriter

/** Per-layer metrics of a traced phase, as means per op.
  *
  * A span's self time is its duration minus its child spans and minus the
  * parquet writes (SQL executions that insert files) inside it; writes
  * belong to the `engine` layer. Spark and Catalyst events are attributed
  * to an op, or to a span, by their timestamps. */
object Layers {
  private val MB = 1048576.0

  private def writes(ev: SparkEvents) = ev.writes.map { case (s, e) => (s.toDouble, e.toDouble) }.toSeq

  private def writeMs(writes: Seq[(Double, Double)], s: Span) = Intervals.unionWithin(writes, s.start, s.end)

  /** Self time of every span, by id: its duration minus its child spans
    * and, except for whole ops, minus the parquet writes inside it. */
  private def selfMs(spans: Seq[Span], writes: Seq[(Double, Double)]): Map[Int, Double] = {
    val children = spans.groupBy(_.parent)
    spans.map { s =>
      s.id -> (s.ms - children.getOrElse(s.id, Nil).map(_.ms).sum -
        (if (s.name == "op") 0.0 else writeMs(writes, s)))
    }.toMap
  }

  def metrics(spans: Seq[Span], ev: SparkEvents, ops: Seq[Main.OpRun]): Map[String, Double] = {
    val n = ops.size.toDouble
    val opSpans = spans.filter(_.name == "op")
    val children = spans.groupBy(_.parent)
    val writes = this.writes(ev)
    val self = selfMs(spans, writes)
    val jobs = ev.jobs.map(_.toDouble).toSeq

    def inAnyOp(t: Double) = opSpans.exists(o => Intervals.within(t, o.start, o.end))
    def jobsIn(s: Span) = jobs.count(Intervals.within(_, s.start, s.end))
    def kids(s: Span) = children.getOrElse(s.id, Nil)
    def selfJobs(s: Span) = jobsIn(s) - kids(s).map(jobsIn).sum -
      jobs.count(j => writes.exists { case (a, b) => j >= math.max(a, s.start) && j <= math.min(b, s.end) })
    def named(name: String) = spans.filter(_.name == name)
    def perOp(x: Double) = x / n
    def selfOf(names: String*) = perOp(names.flatMap(named).map(s => self(s.id)).sum)
    def jobsOf(names: String*) = perOp(names.flatMap(named).map(selfJobs).sum.toDouble)

    val tasks = ev.tasks.filter(t => inAnyOp(t.end.toDouble)).toSeq
    val stageIv = ev.stages.map(s => (s.start.toDouble, s.end.toDouble)).toSeq
    val unionS = opSpans.map(o => Intervals.unionWithin(stageIv, o.start, o.end)).sum / 1000.0
    val phases = ev.catalyst.filter(p => inAnyOp(p.at.toDouble)).toSeq
    val commands = spans.count(_.name.startsWith("cmd."))
    val counters = ops.flatMap(_.counters).groupBy(_._1).map { case (k, vs) => k -> perOp(vs.map(_._2).sum) }

    Map(
      "tables.open_ms" -> perOp(named("tables.open").map(_.ms).sum),
      "tables.opens" -> perOp(named("tables.open").size),
      "tables.open_jobs" -> perOp(named("tables.open").map(jobsIn).sum.toDouble),
      "engine.parse_ms" -> perOp(named("engine.parse").map(_.ms).sum),
      "engine.commands" -> perOp(commands),
      "engine.self_ms" -> perOp(opSpans.map(s => self(s.id)).sum),
      "engine.report_ms" -> perOp(named("engine.report").map(_.ms).sum),
      "engine.write_ms" -> perOp(opSpans.map(writeMs(writes, _)).sum),
      "engine.write_mb" -> perOp(tasks.map(_.output).sum / MB),
      "rules.ms" -> selfOf("cmd.rules"),
      "rules.jobs" -> jobsOf("cmd.rules"),
      "views.ms" -> selfOf("cmd.views"),
      "diff.ms" -> selfOf("cmd.diff"),
      "diff.jobs" -> jobsOf("cmd.diff"),
      "diff.rows_out" -> counters.getOrElse("diff.rows_out", 0.0),
      "operators.ms" -> selfOf("cmd.operators"),
      "dedup.exact_ms" -> selfOf("cmd.dedup.exact", "dedup.exact"),
      "dedup.pairs_ms" -> selfOf("dedup.pairs"),
      "dedup.cc_ms" -> selfOf("dedup.cc"),
      "dedup.cc_jobs" -> jobsOf("dedup.cc"),
      "dedup.decontam_ms" -> selfOf("dedup.decontam"),
      "similarity.knn_ms" -> selfOf("similarity.knn"),
      "spark.jobs" -> perOp(jobs.count(inAnyOp).toDouble),
      "spark.stages" -> perOp(ev.stages.count(s => inAnyOp(s.start.toDouble)).toDouble),
      "spark.tasks" -> perOp(tasks.size.toDouble),
      "spark.task_s" -> perOp(tasks.map(_.runMs).sum / 1000.0),
      "spark.stage_union_s" -> perOp(unionS),
      "spark.driver_gap_s" -> perOp(opSpans.map(_.ms).sum / 1000.0 - unionS),
      "spark.shuffle_read_mb" -> perOp(tasks.map(_.shuffleRead).sum / MB),
      "spark.shuffle_write_mb" -> perOp(tasks.map(_.shuffleWrite).sum / MB),
      "spark.spill_mb" -> perOp(tasks.map(_.spill).sum / MB),
      "spark.gc_s" -> perOp(tasks.map(_.gcMs).sum / 1000.0),
      "spark.input_mb" -> perOp(tasks.map(_.input).sum / MB),
      "spark.cache_mb" -> counters.getOrElse("spark.cache_mb", 0.0),
      "catalyst.analysis_ms" -> perOp(phases.map(_.analysis).sum.toDouble),
      "catalyst.optimization_ms" -> perOp(phases.map(_.optimization).sum.toDouble),
      "catalyst.planning_ms" -> perOp(phases.map(_.planning).sum.toDouble),
      // Filled in by the workload's extras when it has that step.
      "dedup.candidate_pairs" -> 0.0, "dedup.verified_pairs" -> 0.0,
      "dedup.useful_ratio" -> 0.0, "similarity.recall_at_10" -> 0.0)
  }

  /** One JSON object per span: name, start, end, self, parent, op. */
  def writeSpans(spans: Seq[Span], ev: SparkEvents, file: String): Unit = {
    val self = selfMs(spans, writes(ev))
    val out = new PrintWriter(file, "UTF-8")
    try spans.sortBy(_.start).foreach { s =>
      out.println(f"""{"id":${s.id},"name":"${s.name}","start_ms":${s.start}%.3f,""" +
        f""""end_ms":${s.end}%.3f,"self_ms":${self(s.id)}%.3f,"parent":${s.parent},"op":${s.op}}""")
    } finally out.close()
  }
}
