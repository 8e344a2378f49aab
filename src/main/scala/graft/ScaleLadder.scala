package graft

/** Empirical scale ladder: run the heavy operators against a sequence
  * of scale-factor directories (driver sf0.1 plus ScaleGen's sf1/sf4)
  * and record wall time + measured shuffle/spill per (query, SF). The
  * output is the evidence SCALING.md summarizes — time-vs-rows growth
  * measured, not inferred from plan shape.
  *
  * Method notes:
  *  - each (query, SF) runs `iterations` times, min taken — same noise
  *    discipline as Bench (shared host, ±35%% ambient swings measured).
  *  - one SparkSession serves the whole ladder so JVM/codegen warmup
  *    amortizes identically across SFs; queries run in name order
  *    within each SF, SFs smallest-first (warm → the LARGE runs, which
  *    decide the verdict, are the best-measured ones).
  *  - stage metrics come from [[StageMetrics]] windows via [[Ladder]]:
  *    the recorded metrics come from the LAST successful iteration so
  *    cached-relation warmup jobs from iteration 1 don't inflate them.
  *
  * Run: `sbt "runMain graft.ScaleLadder sf0.1=/root/testdata/sf0.1 \
  *   sf1=target/scaledata/sf1 sf4=target/scaledata/sf4"`.
  * Env: SPARK_GRAFT_LADDER_QUERIES (comma list) overrides the default
  * heavy set; SPARK_GRAFT_LADDER_OUT (default SCALING_RAW.jsonl);
  * SPARK_GRAFT_LADDER_ITERS (default 2); SPARK_GRAFT_CPUS (default the
  * machine's cores) sets `local[n]` and the shuffle partitions.
  */
object ScaleLadder {
  /** Heaviest operators by r10 bench + one representative per family
    * whose cost is dominated by a distinct plan shape. */
  val DefaultQueries: Seq[String] = Seq(
    // dedup family: tf-idf rerank, manifest (iterative components),
    // PageRank power iteration, prefix-filter join, minhash-band pairs,
    // k-core peel, simhash Hamming banding, sorted-neighborhood blocking
    "qd_tfidf_pairs", "qd_manifest", "qd_pagerank", "qd_pagerank_auto",
    "qd_prefix_join",
    "qd_minhash_pairs", "qd_kcore", "qd_kcore_auto", "qd_simhash_pairs",
    "qd_sorted_neighbors",
    // pipeline: leakage-safe split, DSIR eval, contamination n-grams,
    // sequence packing
    "qp_split", "qp_dsir_eval", "qp_contamination", "qp_pack",
    // text: DistributedRank consumer, bigram LM, BM25 inverted scoring
    "qt_zipf", "qt_bigram_lm", "qt_bm25",
    // events: bootstrap resampling, RFM/heavytail/LTV (DistributedRank),
    // sessionization, ordered funnel
    "qe_bootstrap", "qe_rfm", "qe_heavytail", "qe_ltv_deciles",
    "qe_sessions", "qe_sessions_stitched", "qe_funnel",
    // multimodal: banded dHash clustering
    "qm_phash_clusters",
    // similarity: MMR diversification, exhaustive-scan kNN baseline,
    // IVF cell-probed kNN (the scale path)
    "qs_mmr", "qs_knn_brute", "qs_knn_ivf",
    // profiling: full-column profile (wide single-pass aggregation)
    "qc_profile",
    // analytics: EB shrinkage (TakeOrdered path), TPC-H Q21 heavy join
    "q_eb_shrinkage", "q21_waiting",
    // operators: TopKPerKey whole-operator, salted skew join
    "qo_topk", "qo_skew_join")

  def main(args: Array[String]): Unit = {
    val ladder = Ladder.rungs(args.toSeq, "ScaleLadder")
    val names = sys.env.get("SPARK_GRAFT_LADDER_QUERIES")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
      .getOrElse(DefaultQueries)
    val missing = names.filterNot(SparkEntry.queries.contains)
    require(missing.isEmpty, s"unknown queries: ${missing.mkString(",")}")

    val spark = GraftSession()
    spark.range(1000).selectExpr("sum(id)").collect()
    val runs = new Ladder(spark, "SCALING_RAW.jsonl")
    def ms(v: Double): String = JsonFmt.ms(v)
    def mb(bytes: Long): String = ms(bytes / 1048576.0)
    try {
      for ((label, dir) <- ladder; name <- names.sorted) {
        val fn = SparkEntry.queries(name)
        runs.record(label, name, runs.best(Force.rows(fn(spark, dir)))) { r =>
          val st = r.stages
          // Per-task run times ride alongside the per-stage totals: the
          // skew rung's verdict is a straggler question.
          s""""sec":${ms(r.sec)},"rows":${r.value},"input_mb":${mb(st.map(_.inputBytes).sum)},"shuffle_write_mb":${mb(st.map(_.shuffleWriteBytes).sum)},"shuffle_read_mb":${mb(st.map(_.shuffleReadBytes).sum)},"spill_mb":${mb(st.map(s => s.memorySpillBytes + s.diskSpillBytes).sum)},"task_ms":${st.map(_.taskMs).sum},${r.taskFields}"""
        }
      }
    } finally runs.close()
    spark.stop()
  }
}
