package graftbench

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.SparkSession
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

/** The benchmark's JVM side: runs one workload in a closed loop (one client,
  * each op starts when the previous one ends) and prints one JSON line.
  *
  * Run by `perfbench/run.py`, which generates the inputs first:
  * {{{
  *   graftbench.Main --workload qc_plan --data DIR --out DIR --plans DIR
  *     --seconds 10 --trace 0|1 --launch-ms EPOCH_MS [--spans FILE]
  *     [--delay LAYER:MS] [--corrupt]
  * }}}
  * `--launch-ms` is when the launcher started this JVM, so `setup_s`
  * covers JVM start, the SparkSession with `GraftExtensions` and the first,
  * cold op. `--delay` and `--corrupt` exist for the self-test only.
  */
object Main {
  final case class Args(workload: String, data: String, out: String, plans: String,
      seconds: Double, trace: Boolean, launchMs: Long, spans: Option[String],
      delays: Map[String, Long], corrupt: Boolean)

  def parse(args: List[String], a: Args): Args = args match {
    case "--workload" :: v :: rest => parse(rest, a.copy(workload = v))
    case "--data" :: v :: rest => parse(rest, a.copy(data = v))
    case "--out" :: v :: rest => parse(rest, a.copy(out = v))
    case "--plans" :: v :: rest => parse(rest, a.copy(plans = v))
    case "--seconds" :: v :: rest => parse(rest, a.copy(seconds = v.toDouble))
    case "--trace" :: v :: rest => parse(rest, a.copy(trace = v == "1"))
    case "--launch-ms" :: v :: rest => parse(rest, a.copy(launchMs = v.toLong))
    case "--spans" :: v :: rest => parse(rest, a.copy(spans = Some(v)))
    case "--delay" :: v :: rest =>
      val Array(layer, ms) = v.split(":", 2)
      parse(rest, a.copy(delays = a.delays + (layer -> ms.toLong)))
    case "--corrupt" :: rest => parse(rest, a.copy(corrupt = true))
    case Nil => a
    case other :: _ => throw new IllegalArgumentException(s"unknown argument $other")
  }

  /** One timed op; `heapId` is its number in [[HeapPeak]]. */
  final case class OpRun(index: Int, start: Double, end: Double, rows: Long,
      ok: Boolean, counters: Map[String, Double], heapId: Int) {
    def seconds: Double = (end - start) / 1000.0
  }

  /** The timed ops of one window; `rowsPerS` divides by the time spent
    * inside ops, leaving out the GC and output check between them. */
  final case class Phase(ops: Seq[OpRun], heap: HeapPeak) {
    def failed: Int = ops.count(!_.ok)
    def peakHeapMb: Double = heap.peak(ops.map(_.heapId)) / 1048576.0
    def p50: Double = median(ops.map(_.seconds))
    def rowsPerS: Double = ops.map(_.rows).sum / ops.map(_.seconds).sum
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv.toList, Args("", "", "", "", 10, trace = false,
      System.currentTimeMillis(), None, Map.empty, corrupt = false))
    val spark = SparkSession.builder()
      .appName("graft-perfbench")
      .master("local[4]")
      // One shuffle partition per core, as graft.Bench and the test
      // session configure local mode.
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.session.timeZone", "UTC")
      // The status store keeps every job and SQL execution by default, so
      // the Spark driver heap would grow with the number of ops a run fits.
      .config("spark.ui.retainedJobs", "50")
      .config("spark.ui.retainedStages", "50")
      .config("spark.sql.ui.retainedExecutions", "20")
      .config("spark.local.dir", s"${a.out}/spark-local")
      .config("spark.sql.warehouse.dir", s"${a.out}/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val result = try run(spark, a) finally spark.stop()
    println(new ObjectMapper().writeValueAsString(result))
  }

  def run(spark: SparkSession, a: Args): java.util.Map[String, Any] = {
    val w = Workloads(a.workload, spark, a.data, a.out, a.plans)

    val heap = new HeapPeak
    // An op that throws counts as failed; the run goes on.
    def runOp(i: Int, t: Tracer): (OpRun, Option[w.Outcome]) = {
      t.op = i
      val heapId = heap.opCount
      val start = t.nowMs()
      val o = try Some(heap.during(t.span("op")(w.op(i, t)))) catch {
        case NonFatal(e) => System.err.println(s"op $i (${a.workload}) threw: $e"); None
      }
      val end = t.nowMs()
      val cacheMb = if (t.enabled) spark.sparkContext.getRDDStorageInfo
        .map(r => r.memSize + r.diskSize).sum / 1048576.0 else 0.0
      // A clean heap and no cached frames for the next op.
      System.gc()
      spark.catalog.clearCache()
      val checked = o.fold(Checked(Seq("op threw"))) { out =>
        try w.check(i, if (a.corrupt) w.corrupt(out) else out) catch {
          case NonFatal(e) => Checked(Seq(s"check threw $e"))
        }
      }
      checked.problems.foreach(p => System.err.println(s"op $i (${a.workload}) incorrect: $p"))
      val counters = checked.counters + ("spark.cache_mb" -> cacheMb)
      (OpRun(i, start, end, w.rows(i), checked.problems.isEmpty, counters, heapId), o)
    }

    // Cold op: the end of setup. Then a fixed number of untimed warm-up
    // ops, so every op kind has run before timing starts.
    val warm = new Tracer(false, a.delays)
    val (cold, _) = runOp(0, warm)
    val setupS = (System.currentTimeMillis() - a.launchMs) / 1000.0
    val warmups = cold +: (1 until w.warmups).map(i => runOp(i, warm)._1)

    // Whole rounds, a fixed number per `--seconds` for each workload. The
    // count never depends on how fast this run goes, so every run times the
    // same ops at the same point of JIT warm-up.
    val rounds = math.max(1, math.round(a.seconds / w.roundSeconds).toInt)
    def round(r: Int, t: Tracer) = (r * w.round until (r + 1) * w.round).map(runOp(_, t))

    // Untraced, the window is `rounds` plain rounds. Traced, plain and
    // traced rounds alternate, starting and ending with a plain one (P T P
    // for one round), so that the traced rounds sit, on average, at the
    // same point of JIT warm-up as the plain ones and their ratio shows
    // what tracing costs. The listeners only listen to traced rounds.
    val plainT = new Tracer(false, a.delays)
    val tracer = new Tracer(true, a.delays)
    val events = new SparkEvents
    def tracedRound(r: Int) = {
      events.register(spark)
      try round(r, tracer) finally {
        org.apache.spark.graftbench.ListenerBus.drain(spark.sparkContext)
        events.unregister(spark)
      }
    }
    val (plainRuns, tracedRuns) =
      if (!a.trace) ((0 until rounds).flatMap(round(_, plainT)), Nil)
      else {
        val rs = (0 to 2 * rounds).map(r => if (r % 2 == 0) round(r, plainT) else tracedRound(r))
        (rs.indices.filter(_ % 2 == 0).flatMap(rs), rs.indices.filter(_ % 2 == 1).flatMap(rs))
      }

    val plain = Phase(plainRuns.map(_._1), heap)
    val e2e = Map(
      "setup_s" -> setupS,
      "rows_per_s" -> plain.rowsPerS,
      "op_p50_s" -> plain.p50,
      "failed_frac" -> (plain.failed + warmups.count(!_.ok)).toDouble / (plain.ops.size + warmups.size),
      "peak_heap_mb" -> plain.peakHeapMb)
    val traced = Phase(tracedRuns.map(_._1), heap)
    val attempted = warmups.size + plain.ops.size + traced.ops.size
    val failed = warmups.count(!_.ok) + plain.failed + traced.failed
    val layers = if (!a.trace) Map.empty[String, Double] else {
      a.spans.foreach(f => Layers.writeSpans(tracer.spans, events, f))
      Layers.metrics(tracer.spans, events, traced.ops) ++
        tracedRuns.last._2.fold(Map.empty[String, Double])(w.extras) +
        ("trace.overhead_frac" -> (traced.p50 / plain.p50 - 1))
    }
    def jmap(m: Map[String, Double]) =
      new java.util.TreeMap[String, Any](m.map { case (k, v) => k -> (v: Any) }.asJava)
    new java.util.LinkedHashMap[String, Any](Map[String, Any](
      "correct" -> (failed == 0),
      "attempted" -> attempted,
      "failed" -> failed,
      "op_samples" -> plain.ops.size,
      "op_seconds" -> plain.ops.map(_.seconds).asJava,
      "warmup_seconds" -> warmups.map(_.seconds).asJava,
      "end_to_end" -> jmap(e2e),
      "per_layer" -> jmap(layers)).asJava)
  }
}
