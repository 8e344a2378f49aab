package graft
import org.apache.spark.sql.SparkSession

object Bench {

  /** Ambient-load probes — fixed work, zero engine code, so their cost
    * is constant across graft changes and moves ONLY with host load.
    *
    * r13's single CPU probe (64 M xxhash64, run once at suite start +
    * recheck) had two measured blind spots: it is CPU/cache-bound, so
    * a memory-bandwidth/IO burst that slowed the contiguous qd_* bench
    * block 2× read as a quiet host (probe 0.128 s); and it sampled
    * only twice, so a mid-suite burst was invisible by construction
    * (the driver's r13 pass verified 8 phantom dedup regressions that
    * three same-code passes refuted). This version:
    *  - runs TWO probes per reading — a CPU-shaped one (xxhash64) and
    *    a shuffle-shaped one (hash-partitioned exchange + agg) that
    *    moves with memory-bandwidth/IO pressure;
    *  - pins each reading as the MIN-of-n fixed-iteration runs (see
    *    [[readProbes]]), after warm-until-stable unmeasured runs at
    *    suite start (the old probe's 0.128–1.153 s spread on one host
    *    was JIT/frequency state as much as load, and a fixed 2
    *    warm-ups still left the start reading ~3× the steady state);
    *  - is taken at suite start, after every [[ProbeEvery]] queries,
    *    at suite end, and at recheck time, so every query is
    *    normalized by a reading CONTEMPORANEOUS with it.
    */
  private val ProbeEvery = 25
  /** Probe-shape version: readings are comparable only within one
    * version (v2 = 64 M cpu rows + min-of-n pinning). */
  private val ProbeVer = 2

  private[graft] def cpuProbeOnce(spark: SparkSession): Double = {
    import org.apache.spark.sql.functions.{sum, xxhash64, col, lit, pmod}
    val t0 = System.nanoTime()
    // pmod bounds the addends so the sum can't overflow a long under
    // ANSI mode; the hash still dominates the cost. 64 M rows: at 8 M
    // the probe ran ~0.1 s and per-task scheduling jitter was ±2× of
    // the signal, and 32 M was still overhead-dominated (~0.14 s vs
    // 0.10 — measured via ProbeTrace); at 64 M compute dominates and
    // the min-of-n envelope tightens to ~±10%.
    spark.range(0L, 64L * 1000 * 1000, 1L, 32)
      .select(sum(pmod(xxhash64(col("id")), lit(1000000L)))).head()
    (System.nanoTime() - t0) / 1e9
  }

  private[graft] def shuffleProbeOnce(spark: SparkSession): Double = {
    import org.apache.spark.sql.functions.{sum, count, max, xxhash64, col, lit, pmod, lpad, length}
    val t0 = System.nanoTime()
    // A real exchange that MOVES BYTES: 1 M rows carrying a 48-char
    // payload (~48 MB) hashed into 2048 keys, shuffled across the
    // session's partitions, then aggregated. Shuffle write + fetch +
    // agg buffers move with memory bandwidth and disk/page-cache
    // pressure — the dimension the CPU probe is blind to (r13's
    // CPU-only probe read 0.128 s while a bandwidth burst ran the
    // dedup block 2× slow). The payload builds with lpad, not a hash,
    // so the probe's cost is the byte movement, not map-side CPU; and
    // repartition (not groupBy) so map-side partial aggregation can't
    // collapse the exchange to a few KB — every payload row crosses it.
    spark.range(0L, 1000L * 1000, 1L, 32)
      .select(pmod(xxhash64(col("id")), lit(2048L)).as("k"),
        lpad(col("id").cast("string"), 48, "x").as("v"))
      .repartition(col("k"))
      .agg(count(lit(1)), sum(length(col("v"))), max(col("v"))).head()
    (System.nanoTime() - t0) / 1e9
  }

  /** One pinned reading: MIN-of-n of each probe — the estimator for
    * SUSTAINED ambient load. The probe's own scheduling jitter is
    * upward-only noise (measured ±2× single-run spread on a quiet
    * host); a sustained memory-bandwidth or CPU burst elevates every
    * run in the window, so the min carries the load signal while the
    * jitter is filtered — the same discipline as the query timings'
    * min-of-2. The anchor readings (suite start / end / recheck) use
    * n=5; the interleaved mid-suite readings n=3 to keep whole-suite
    * probe overhead down (a run pair costs ~0.75 s). */
  case class Reading(afterIdx: Int, cpu: Double, shuffle: Double)
  private def readProbes(spark: SparkSession, afterIdx: Int,
      n: Int = 5): Reading = {
    def minN(once: () => Double): Double =
      (1 to n).map(_ => once()).min
    Reading(afterIdx, minN(() => cpuProbeOnce(spark)),
      minN(() => shuffleProbeOnce(spark)))
  }

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2.0
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession()
    // Warm the session (scheduler, codegen compiler, parquet footer
    // reader) so the first timed query measures the query, not JVM init.
    spark.range(1000).selectExpr("sum(id)").collect()
    spark.read.parquet(s"$sfDir/region.parquet").count()
    // Warm the probes too — until two consecutive runs of each agree
    // within 25% (cap 10), so the first reading measures load, not JIT
    // compilation of the probe plan. A FIXED 2 warm-ups was measured
    // insufficient: the suite-start reading still came out ~3× the
    // steady mid-suite readings (JIT + frequency ramp on the probe
    // plans), which would inflate calib_ref and deflate the first
    // query block's observed times by up to the 2× clamp.
    def warmStable(once: () => Double): Unit = {
      var prev = once(); var cur = once(); var n = 2
      while (n < 10 && math.abs(cur - prev) > 0.25 * math.min(cur, prev)) {
        prev = cur; cur = once(); n += 1
      }
    }
    warmStable(() => cpuProbeOnce(spark))
    warmStable(() => shuffleProbeOnce(spark))
    // Sorted for run-to-run comparability (Map order is hash-arbitrary).
    // Each query runs twice and reports the faster time: the box shares
    // a host and single runs swing ±5s on whichever query collides with
    // ambient load (measured: the spike moves between runs while
    // steady-state stays put). Min-of-2 measures the query, not the
    // neighbor's noise.
    val iterations = 2
    val failed = Seq.newBuilder[String]
    // Optional name filter (comma-separated, exact names): isolate one
    // query's steady-state time from whole-suite JVM effects (codegen
    // cache pressure, GC inheritance) when bisecting a bench outlier.
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val selected = only match {
      case Some(names) => SparkEntry.queries.filter(kv => names(kv._1))
      case None => SparkEntry.queries
    }
    // Regression-gate self-test knob: "name:millis" injects a sleep
    // into that query's timed path, proving a REAL slowdown still
    // fires through the calibration/attribution machinery (the r13
    // protocol's required negative control). Never set by the driver.
    val injectSleep: Map[String, Long] =
      sys.env.get("SPARK_GRAFT_BENCH_INJECT_SLEEP").map { s =>
        s.split(",").map(_.trim).filter(_.nonEmpty).map { kv =>
          val Array(n, ms) = kv.split(":")
          n -> ms.toLong
        }.toMap
      }.getOrElse(Map.empty)
    // Control / stress-replay runs must not feed the gate references:
    // an inject-sleep pass or a deliberately loaded replay appended to
    // BENCH_HISTORY.jsonl would shift `typical` (median of recent
    // observed passes) and the probe calibration reference toward the
    // abnormal run. Diagnostic runs still print + write BENCH_OUT.
    val diagnostic = injectSleep.nonEmpty ||
      sys.env.contains("SPARK_GRAFT_BENCH_DIAGNOSTIC")
    def timedRun(name: String,
        fn: (SparkSession, String) => org.apache.spark.sql.DataFrame)
        : (Boolean, Double) = {
      val t0 = System.nanoTime()
      val ok =
        try {
          injectSleep.get(name).foreach(Thread.sleep)
          Force.rows(fn(spark, sfDir)); true
        }
        catch { case e: Throwable =>
          System.err.println(s"[bench] $name FAILED: $e")
          false
        }
      (ok, (System.nanoTime() - t0) / 1e9)
    }

    // ---- Prior state: committed records + observed history ----
    case class Prior(queries: Map[String, Double])
    val prior: Prior =
      try {
        val p = java.nio.file.Paths.get("BENCH_QUERIES.json")
        if (!java.nio.file.Files.exists(p)) Prior(Map.empty)
        else {
          val root = new com.fasterxml.jackson.databind.ObjectMapper()
            .readTree(java.nio.file.Files.readString(p))
          val q = root.get("queries")
          // Only a record measured under the SAME forcing is a valid
          // baseline: count()-forced times are up to ~8x faster than
          // full-plan times on queries whose work count() eliminated,
          // so comparing across the transition floods the recheck loop
          // (forward) or masks real regressions (backward).
          val fullForced = root.get("force") != null &&
            root.get("force").asText() == "full"
          // Records are per-(SF, force): a sf0.01 diagnostic run must
          // neither read nor write the committed sf0.1 records.
          val sameSf = root.get("sf") != null &&
            root.get("sf").asText() == sfDir
          if (q == null || !fullForced || !sameSf) Prior(Map.empty)
          else {
            val b = Map.newBuilder[String, Double]
            q.fields().forEachRemaining { e =>
              if (e.getValue.isNumber) b += e.getKey -> e.getValue.asDouble()
            }
            Prior(b.result())
          }
        }
      } catch { case e: Exception =>
        System.err.println(s"[bench] prior record unreadable: $e")
        Prior(Map.empty)
      }
    // Observed history (same SF + forcing): feeds BOTH the robust
    // per-query gate reference ("typical", below) and the probe
    // calibration references. Each full run appends one line.
    val history: Seq[com.fasterxml.jackson.databind.JsonNode] =
      try {
        val p = java.nio.file.Paths.get("BENCH_HISTORY.jsonl")
        if (!java.nio.file.Files.exists(p)) Nil
        else {
          val om = new com.fasterxml.jackson.databind.ObjectMapper()
          scala.jdk.CollectionConverters.ListHasAsScala(
            java.nio.file.Files.readAllLines(p)).asScala.toSeq
            .filter(_.nonEmpty)
            .flatMap(l => try Some(om.readTree(l)) catch { case _: Exception => None })
            .filter { n =>
              n.get("force") != null && n.get("force").asText() == "full" &&
                n.get("sf") != null && n.get("sf").asText() == sfDir &&
                // History lines are observed by construction; the
                // explicit flag arrived mid-r13, so absent means true.
                (n.get("observed") == null || n.get("observed").asBoolean())
            }
        }
      } catch { case e: Exception =>
        System.err.println(s"[bench] history unreadable: $e"); Nil
      }
    // Robust per-query reference ("typical"): the MEDIAN of this
    // query's last ≤5 observed clean-pass times. The min-merged record
    // stays the headline floor, but gating against it made the
    // expected flag rate on a CLEAN pass rise monotonically — after
    // enough passes every record is the luckiest single measurement
    // ever seen. The 1.5×+0.5 s rule now fires on `typical` (falling
    // back to the record for queries with <3 history samples).
    val typical: Map[String, Double] = {
      val b = Map.newBuilder[String, Double]
      val perQuery = scala.collection.mutable.Map
        .empty[String, scala.collection.mutable.ArrayBuffer[Double]]
      history.foreach { n =>
        val q = n.get("queries")
        if (q != null) q.fields().forEachRemaining { e =>
          if (e.getValue.isNumber)
            perQuery.getOrElseUpdate(e.getKey,
              scala.collection.mutable.ArrayBuffer.empty) += e.getValue.asDouble()
        }
      }
      perQuery.foreach { case (k, vs) =>
        if (vs.size >= 3) b += k -> median(vs.takeRight(5).toSeq)
      }
      b.result()
    }

    // ---- First pass over the suite, probes interleaved ----
    val readings = Seq.newBuilder[Reading]
    readings += readProbes(spark, 0)
    val ordered = selected.toSeq.sortBy(_._1)
    val results0 = ordered.zipWithIndex.map { case ((name, fn), idx) =>
      if (idx > 0 && idx % ProbeEvery == 0)
        readings += readProbes(spark, idx, n = 3)
      val base = (1 to iterations).map(_ => timedRun(name, fn))
      // Min-of-2 misses when ambient load (shared host) collides with
      // BOTH runs — measured: an 11s bench outlier on a query whose
      // steady state is 2s. Strongly disagreeing runs mean at least one
      // was noise, so buy one more sample; agreeing runs stop at 2.
      val ts = base.map(_._2)
      val times =
        if (base.forall(_._1) && ts.max > 1.5 * ts.min)
          base :+ timedRun(name, fn)
        else base
      // Min over SUCCESSFUL runs only — a fast failure must not stand in
      // for the query's time. `failed` lists only queries where EVERY
      // iteration failed; a transient single-iteration flake reports its
      // successful time and stays off the list.
      val good = times.collect { case (true, t) => t }
      if (good.isEmpty) failed += name
      // Failed queries report None → JSON null: every numeric `queries`
      // entry denotes a SUCCESSFUL run, and `failed` is the single
      // source of truth. (A time-to-crash value summed into the total
      // would read as an ultra-fast pass to a round-over-round diff.)
      name -> (if (good.nonEmpty) Some(good.min) else None)
    }
    readings += readProbes(spark, ordered.size)
    val allReadings = readings.result()

    // ---- Calibration references: median-merged, never min-merged ----
    // r13 min-merged a single calib_ref forever ("quietest host ever
    // seen"), so one anomalously fast reading (its own end-of-run
    // 0.128 s vs the 0.28 s quiet reference) would permanently deflate
    // every future load reading. The reference is now the MEDIAN of
    // the last ≤7 suite-start readings from history (plus this run's),
    // per probe dimension — robust to both lucky-fast and loaded-slow
    // outliers — and SPARK_GRAFT_BENCH_REBASE=calib (or all) resets it
    // to this run's reading alone.
    val rebase: Set[String] =
      sys.env.get("SPARK_GRAFT_BENCH_REBASE")
        .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
        .getOrElse(Set.empty)
    def rebased(name: String): Boolean =
      rebase.contains("all") || rebase.contains(name)
    val startReading = allReadings.head
    // Only same-version probe readings feed the reference: a probe
    // SHAPE change (work size, min-vs-median pinning) makes prior
    // readings incomparable — bump ProbeVer whenever the probe bodies
    // or the reading estimator change.
    val histStarts: Seq[(Double, Double)] = history.flatMap { n =>
      val ps = n.get("probe_start")
      val ver = Option(n.get("probe_ver")).map(_.asInt()).getOrElse(1)
      if (ver == ProbeVer && ps != null &&
          ps.get("cpu") != null && ps.get("shuffle") != null)
        Some((ps.get("cpu").asDouble(), ps.get("shuffle").asDouble()))
      else None
    }
    val (cpuRef, shuffleRef) =
      if (rebase.contains("calib") || rebase.contains("all") || histStarts.isEmpty)
        (startReading.cpu, startReading.shuffle)
      else {
        val recent = histStarts.takeRight(6)
        (median(recent.map(_._1) :+ startReading.cpu),
          median(recent.map(_._2) :+ startReading.shuffle))
      }
    // Per-reading load: the WORST of the two probe dimensions (a burst
    // that slows either dimension slows real queries), clamped [1, 2]:
    // ≥1 so a quiet host never AMPLIFIES a flag, ≤2 so an unluckily
    // fast reference can never deflate away a real 2× regression (a
    // >2×-loaded host produces unusable numbers regardless — rerun,
    // don't normalize harder).
    def loadOf(r: Reading): Double =
      math.min(2.0, math.max(1.0,
        math.max(r.cpu / cpuRef, r.shuffle / shuffleRef)))
    // A query's contemporaneous load is the worse of its two
    // bracketing readings — a burst inside the block shows in the
    // reading taken right after it.
    def loadAt(idx: Int): Double = {
      val before = allReadings.filter(_.afterIdx <= idx).lastOption
      val after = allReadings.find(_.afterIdx > idx)
      math.max(before.map(loadOf).getOrElse(1.0),
        after.map(loadOf).getOrElse(1.0))
    }

    // ---- Regression adjudication ----
    // Ratio AND absolute floor: at the ~0.3 s per-query fixed-cost
    // floor a +0.15 s ambient swing is 1.5× "regression" — measured:
    // a busier-host full run flagged two untouched sub-second queries
    // and nothing else. A slowdown must clear half a second to mean
    // anything on this suite.
    def regressedAdj(adj: Double, p: Double): Boolean =
      adj > 1.5 * p && adj - p > 0.5
    // Gate reference: typical when the history supports it, else the
    // min-merged record.
    def gateRef(name: String): Option[Double] =
      typical.get(name).orElse(prior.queries.get(name))
    val schedIdx: Map[String, Int] =
      ordered.map(_._1).zipWithIndex.toMap
    // First-pass drift factors (raw observed / gate reference) for the
    // family-uniformity attribution below.
    val drift: Map[String, Double] = results0.collect {
      case (name, Some(t)) if gateRef(name).isDefined =>
        name -> t / gateRef(name).get
    }.toMap
    // Ambient attribution: ≥4 queries adjacent in the execution
    // schedule drifting by a factor within ±20% of each other is a
    // host-level burst by construction (code changes move ONE query's
    // plan; a memory-bandwidth burst inflates the whole block it
    // overlaps — the r13 driver pass's 8 phantom flags were exactly
    // this shape: contiguous qd_* block, near-uniform ~2× drift). A
    // lone drifter (e.g. the INJECT_SLEEP negative control) never
    // matches ≥3 similar neighbors and still verifies as code.
    def ambientShaped(name: String): Boolean = {
      val i = schedIdx(name)
      drift.get(name).exists { d =>
        val names = ordered.map(_._1)
        val lo = math.max(0, i - 4)
        val hi = math.min(names.size - 1, i + 4)
        val similar = (lo to hi).count { j =>
          drift.get(names(j)).exists(dj =>
            dj > 1.3 && dj >= d / 1.2 && dj <= d * 1.2)
        }
        similar >= 4
      }
    }
    val suspects = results0.collect {
      case (name, Some(t)) if !rebased(name) &&
        gateRef(name).exists(regressedAdj(t / loadAt(schedIdx(name)), _)) => name
    }.toSet
    val verifiedRegressions = Seq.newBuilder[String]
    val ambientRegressions = Seq.newBuilder[String]
    var rechecked = 0
    // Fresh probe reading at recheck time: each extra measurement is
    // normalized by the load reading CONTEMPORANEOUS with it.
    val recheckReading =
      if (suspects.nonEmpty) readProbes(spark, ordered.size + 1)
      else allReadings.last
    val loadRecheck = loadOf(recheckReading)
    val results = results0.map {
      case (name, Some(t)) if suspects(name) =>
        rechecked += 1
        // FOUR extra runs, min taken: a patchy ambient collision must
        // now hit six independent runs (2 base + 4 recheck) to survive
        // the gate, while a real slowdown holds every run for free.
        // Measured motivation: on a load-1.4 host the 0.8 s qt_pmi
        // collided through 2+2 runs and produced a lone false
        // verified flag alongside the inject-sleep control.
        val extra = (1 to 4)
          .map(_ => timedRun(name, selected(name)))
          .collect { case (true, tt) => tt }
        val bestAdj =
          (extra.map(_ / loadRecheck) :+ t / loadAt(schedIdx(name))).min
        if (gateRef(name).exists(regressedAdj(bestAdj, _))) {
          // Still over the gate after re-measurement: attribute. A
          // family-uniform block drift is ambient — recorded for the
          // next pass to re-queue, never "verified" as a code
          // regression; a lone drifter is code and deserves review.
          if (ambientShaped(name)) ambientRegressions += name
          else verifiedRegressions += name
        }
        name -> Some((extra :+ t).min)
      case other => other
    }
    // The harness that captures this output keeps only the LAST 2000
    // chars of stdout — measured, not assumed: every committed
    // BENCH_rNN.json has `"tail"` of exactly 2000 chars, and in round 6
    // (the one round that printed the full map) the tail BEGINS
    // mid-queries-map (`":0.149,"q_rollup":0.284,...`) and `parsed` is
    // {} — the full line overran the window and the round recorded no
    // bench at all. ~230 queries × ~22 bytes ≈ 5 KB can never fit, so
    // "put the full map in the snapshot" is not satisfiable from this
    // side of the pipe. What we do instead: the FULL per-query map goes
    // to BENCH_QUERIES.json (committed every round → round-over-round
    // diffable via git) plus an append-only BENCH_HISTORY.jsonl, and
    // the stdout line carries as many slowest-first entries as fit a
    // conservative line budget under the 2000-char window.
    def ms(v: Double): String = JsonFmt.ms(v)
    def qjson(rs: Seq[(String, Option[Double])]): String =
      rs.map { case (k, v) => "\"" + k + "\":" + v.map(ms).getOrElse("null") }
        .mkString("{", ",", "}")
    val failedJson = failed.result().distinct.map("\"" + _ + "\"").mkString("[", ",", "]")
    val vrJson = verifiedRegressions.result().distinct
      .map("\"" + _ + "\"").mkString("[", ",", "]")
    val arJson = ambientRegressions.result().distinct
      .map("\"" + _ + "\"").mkString("[", ",", "]")
    val total = results.flatMap(_._2).sum
    // Committed RECORDS are the min-merge of this run with the prior
    // file (same SF + forcing): best-of-clean-passes by construction —
    // the only way a record moves UP is an explicit rebase. This run's
    // observed times still go verbatim to BENCH_HISTORY.jsonl, so the
    // raw measurement is never lost, only kept out of the headline
    // floor. Queries with no successful run EVER carry no entry (a
    // failed query with a prior record keeps it — the failure is
    // visible in `failed`, and losing the record would reset the floor).
    val records: Seq[(String, Option[Double])] = results.map {
      case (name, Some(t)) =>
        val rec = prior.queries.get(name) match {
          case Some(p) if !rebased(name) => math.min(p, t)
          case _ => t
        }
        name -> Some(rec)
      case (name, None) =>
        name -> prior.queries.get(name)
    }
    val recordsPresent = records.collect { case (k, Some(v)) => (k, Option(v)) }
    // The committed headline value is the RECORD SUM — the same
    // quantity as the map it sits next to (r13 reused the observed
    // total, making the file internally inconsistent).
    val recordTotal = recordsPresent.flatMap(_._2).sum
    // A filtered run is a diagnostic, never the round's record: keep it
    // away from the committed snapshot + history files.
    val benchFile = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT",
      if (only.isDefined) "/tmp/BENCH_FILTERED.json"
      else if (diagnostic) "/tmp/BENCH_DIAGNOSTIC.json"
      else "BENCH_QUERIES.json")
    def rjson(r: Reading): String =
      s"""{"after":${r.afterIdx},"cpu":${ms(r.cpu)},"shuffle":${ms(r.shuffle)},"load":${ms(loadOf(r))}}"""
    val calibJson =
      s""""probe_ver":$ProbeVer,"probe_start":{"cpu":${ms(startReading.cpu)},"shuffle":${ms(startReading.shuffle)}},"calib_ref":{"cpu":${ms(cpuRef)},"shuffle":${ms(shuffleRef)}},"load_start":${ms(loadOf(startReading))},"load_max":${ms(allReadings.map(loadOf).max)}"""
    val typicalJson = typical.toSeq.sorted
      .map { case (k, v) => "\"" + k + "\":" + ms(v) }.mkString("{", ",", "}")
    def line(value: Double, qs: Seq[(String, Option[Double])],
        extraTail: String): String =
      s"""{"metric":"total","value":${ms(value)},"unit":"sec","queries":${qjson(qs)},"failed":$failedJson,"verified_regressions":$vrJson,"ambient_regressions":$arJson,"rechecked":$rechecked,"iterations":$iterations,"force":"full",$calibJson,"records":"min-merge"$extraTail,"sf":"$sfDir"}"""
    // The committed file carries the min-merged RECORDS (the headline
    // floor) plus the robust gate references; the history line carries
    // this run's OBSERVED times plus every interleaved probe reading.
    val recordLine =
      line(recordTotal, recordsPresent, s""","typical":$typicalJson""")
    try java.nio.file.Files.writeString(
      java.nio.file.Paths.get(benchFile), recordLine + "\n")
    catch { case e: Exception => System.err.println(s"[bench] could not write $benchFile: $e") }
    // BENCH_QUERIES.json is min-merged every round; the history file
    // accumulates one timestamped OBSERVED line per run so per-round
    // raw measurements stay diffable after min-merge smooths the
    // committed floor.
    if (only.isEmpty && !diagnostic) {
      try java.nio.file.Files.writeString(
        java.nio.file.Paths.get("BENCH_HISTORY.jsonl"),
        s"""{"at":"${java.time.Instant.now()}","observed":true,""" +
          line(total, results,
            s""","probe_readings":${allReadings.map(rjson).mkString("[", ",", "]")}""").drop(1) + "\n",
        java.nio.file.StandardOpenOption.CREATE,
        java.nio.file.StandardOpenOption.APPEND)
      catch { case e: Exception => System.err.println(s"[bench] history: $e") }
    }
    // Fill the stdout line with slowest-first entries up to a fixed
    // budget: the envelope (metric/failed/counts/calibration/pointer)
    // costs ~400 chars, the capture window is 2000, and a safety
    // margin absorbs any stray log line the session emits after us —
    // so budget the queries map at 1300 chars (~60-80 entries).
    val bySlowest = results.collect { case (k, Some(v)) => (k, v) }.sortBy(-_._2)
    // The failed list rides the same line; charge its actual length
    // against the budget so a mass-failure round (the one whose failed
    // list matters most) cannot push the line past the capture window.
    val budget = math.max(200,
      1300 - failedJson.length - vrJson.length - arJson.length)
    var used = 0
    val kept = bySlowest.takeWhile { case (k, v) =>
      used += k.length + ms(v).length + 4 // "k":v,
      used <= budget
    }.sortBy(_._1).map { case (k, v) => (k, Option(v)) }
    println(line(total, kept,
      s""","n_queries":${results.size},"n_failed":${failed.result().distinct.size},"n_in_line":${kept.size},"all_queries_in":"$benchFile""""))
    spark.stop()
  }
}
