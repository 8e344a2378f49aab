package graft

/** Plan hygiene sweep (not part of the driver contract): prints, for
  * every contract query, the physical-plan red flags a 100 TB cluster
  * would punish — cartesian products, broadcast nested-loop joins,
  * unpruned scans of wide tables, and non-broadcast joins whose build
  * side is a dimension table. Run:
  * `sbt "runMain graft.PlanAudit [sfDir]"`. */
object PlanAudit {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession(
      // Static audit: with AQE on, executedPlan is an opaque
      // AdaptiveSparkPlanExec leaf (children = Nil) and tree-walks
      // like the global-window sweep silently see NOTHING.
      "spark.sql.adaptive.enabled" -> "false",
      // Expose full lineage: Materialize.once checkpoints (rank
      // inputs, shared rollups, the dedup manifest) would truncate
      // the visible plan at a LogicalRDD, hiding everything upstream
      // from every flag below.
      "spark.graft.materialize" -> "false")
    val dir = args.headOption.getOrElse("/root/testdata/sf0.001")
    // Intentional exceptions, with the reason they're correct at scale:
    //  - brute-force ANN broadcasts the (small) query set against every
    //    corpus row with only a non-equi self-exclusion predicate; BNLJ
    //    over a broadcast side IS the exhaustive-scoring plan (the scale
    //    path is qs_knn_lsh / qs_knn_ivf, which join on bucket keys).
    //  - q11/q22 compare every group row against a broadcast ONE-ROW
    //    re-aggregate (scalar-subquery pattern) under an inequality, so
    //    no hash join is possible; a 1-row broadcast BNLJ is a plain
    //    filter at any scale (q15's scalar compare is an equality and
    //    becomes a BroadcastHashJoin on its own).
    //  - qe_gapfill crosses the generated hour spine with the distinct
    //    event types (constant-folded join key → BNLJ): both sides are
    //    derived frames bounded by hours × types at any data scale.
    //  - qe_decay crosses the fact table with a broadcast ONE-ROW
    //    max-timestamp aggregate (scalar-subquery pattern, same as
    //    q11/q22): a 1-row broadcast BNLJ is a plain per-row anchor
    //    lookup at any scale.
    //  - qt_keywords crosses the candidate frame with a broadcast
    //    ONE-ROW corpus-total aggregate; qe_rfm crosses the fact table
    //    with a broadcast ONE-ROW max-date anchor (same scalar-subquery
    //    pattern as qe_decay).
    //  - qs_recall embeds the qs_knn_brute plan as its ground-truth side
    //    (same broadcast-query exhaustive-scoring BNLJ as above).
    //  - qe_cooccurrence crosses the tiny type-pair frame with a
    //    broadcast ONE-ROW session-total aggregate (scalar-subquery
    //    pattern, same as qe_decay/qt_keywords).
    //  - qp_dataset_card crosses two ONE-ROW aggregates (1×1 broadcast
    //    no-op) before the stack() unpivot.
    //  - qc_psi_quantile crosses the fact table with a broadcast ONE-ROW
    //    quantile-edge array (scalar-subquery pattern, same as qe_decay);
    //    its distributed exact-edge stage adds two more bounded BNLJs
    //    (nBins−1 target ranks × ≤4096 coarse-bucket rows under an
    //    interval predicate, then the ≤nBins−1 located buckets back
    //    against the per-value counts) — both sides provably tiny at any
    //    data scale (bounded by nBins and the coarse-bucket constant).
    //  - qm_modality_mix crosses the tiny per-type frame with a broadcast
    //    ONE-ROW corpus-bytes total (scalar-subquery pattern).
    //  - qp_curriculum crosses the fact table with a broadcast ONE-ROW
    //    quartile-threshold aggregate (scalar-subquery pattern, same as
    //    qc_psi_quantile).
    val intendedBnlj = Set("qs_knn_brute", "qs_knn_filtered",
      "q11_important_stock", "q22_idle_rich", "qe_gapfill",
      "qe_anomaly_hours", "qe_decay", "qt_keywords", "qe_rfm",
      "qs_recall", "qe_cooccurrence", "qp_dataset_card",
      "qc_psi_quantile", "qm_modality_mix", "qp_curriculum",
      // q_basket_lift: crosses the bounded brand-pair frame with a
      // broadcast ONE-ROW basket-total aggregate (scalar-subquery
      // pattern, same as qe_decay/qt_keywords).
      "q_basket_lift",
      // qe_markov_entropy: crosses the ≤|types| per-state frame with a
      // broadcast ONE-ROW marginal-entropy aggregate (scalar-subquery
      // pattern, same as qe_decay/qt_keywords).
      "qe_markov_entropy",
      // qd_cluster_labels: crosses the bounded cluster-token frame with
      // a broadcast ONE-ROW corpus-token-total aggregate (scalar-
      // subquery pattern, same as qt_keywords).
      "qd_cluster_labels",
      // qd_lsh_design: the 5-row config frame crossed with the 201-row
      // generated integration grid — both sides constant-bounded
      // (designs × grid points), no data scan at all.
      "qd_lsh_design",
      // qe_croston: the calendar×priority grid crossed with a broadcast
      // ONE-ROW cutoff-date aggregate (scalar-subquery pattern, same
      // as qe_holt/qe_decay).
      "qe_croston",
      // qd_consistent_hash: generated shard×replica ring frames (≤ 320
      // rows) cross-joined among themselves and broadcast against the
      // per-doc hash frame under the non-equi successor predicate —
      // every non-doc side bounded by shards×32 at any data scale.
      "qd_consistent_hash",
      // qt_bm25: crosses the query-term-matched tf frame with a
      // broadcast ONE-ROW (N, avgdl) corpus-stats aggregate (scalar-
      // subquery pattern, same as qt_keywords/qe_decay).
      "qt_bm25",
      // q_eb_shrinkage: crosses the supplier-collapsed rate frame with
      // a broadcast ONE-ROW moment-matched prior (scalar-subquery
      // pattern, same as qt_keywords/qe_decay), and computes both
      // leaderboard ranks as predecessor counts against the broadcast
      // 15-row top panel (non-equi → BNLJ with a constant-15 build
      // side; the stream side is the collapsed per-supplier frame).
      "q_eb_shrinkage",
      // q_theil: crosses the row and group frames with a broadcast
      // ONE-ROW totals aggregate (scalar-subquery pattern) — the group
      // side itself is a ≤|nations|-row broadcast hash join.
      "q_theil",
      // qe_abc: crosses the per-user frame with a broadcast ONE-ROW
      // min/max/total bounds aggregate (scalar-subquery pattern, the
      // qe_gini bucket-bounds shape).
      "qe_abc",
      // qe_cms: crosses the ≤20-row probe panel with a broadcast
      // ONE-ROW corpus-total aggregate (scalar-subquery pattern).
      "qe_cms",
      // qt_rrf_fusion: inherits qt_bm25's 1-row corpus-stats broadcast
      // (scalar-subquery pattern) in both candidate rankers.
      "qt_rrf_fusion",
      // qe_alert_episodes / qe_conformal: inherit the gapfill-grid
      // spine×types cross (constant-folded join key → BNLJ; both sides
      // derived frames bounded by hours-or-days × types at any scale —
      // same exception as qe_gapfill/qe_anomaly_hours).
      "qe_alert_episodes", "qe_conformal",
      // qc_kmv_setops: the |types|×|types| sketch-pair self-join has no
      // equi-key by construction (every pair compares) — 5 sketch rows
      // of 64 longs each cross 5, constant size at any user count; the
      // per-pair exact audit join IS equi-keyed (user_id).
      "qc_kmv_setops",
      // qe_window_funnel: crosses the 3-row step rollup with a
      // broadcast ONE-ROW entrant-total aggregate (scalar-subquery
      // pattern, same as qe_decay/qt_keywords).
      "qe_window_funnel",
      // qs_hard_negatives: broadcasts the 10-anchor panel against the
      // corpus scan under the non-equi self-exclusion predicate — the
      // exhaustive-scoring plan, same exception as qs_knn_brute (the
      // fleet-scale candidate source is the IVF/LSH bucket join).
      "qs_hard_negatives",
      // qt_nb_quality: crosses the ≤64-row NB model and the scored test
      // frame with a ONE-ROW class-priors/totals broadcast (scalar-
      // subquery pattern, same as qt_keywords/qe_decay).
      "qt_nb_quality",
      // qe_mix_decomposition: crosses the fact table with a broadcast
      // ONE-ROW calendar-midpoint aggregate (scalar-subquery pattern,
      // same as qe_did/qe_decay).
      "qe_mix_decomposition",
      // qe_shapley: the 16-row generated coalition lattice crossed with
      // the ≤16-row exposure-cell aggregate, plus 1-row v_full/v_empty
      // scalar subqueries — every side bounded by 2^k at any data scale.
      "qe_shapley",
      // qs_radius: same broadcast-query exhaustive-scoring BNLJ as
      // qs_knn_brute (documented-intentional range-query scan).
      "qs_radius",
      // qs_quantize_recall: runs the qs_knn_brute plan twice (float and
      // dequantized corpus) as the two ranking sides of its recall eval
      // — both are the same documented broadcast-panel exhaustive scan.
      "qs_quantize_recall",
      // qs_knn_classify: the qs_knn_brute broadcast-panel exhaustive
      // scan feeding the kNN label-vote eval (same documented BNLJ).
      "qs_knn_classify",
      // qo_join_cardinality: the top-5 contributor frame crosses a
      // broadcast ONE-ROW total-estimate aggregate (scalar-subquery
      // pattern, same as qe_decay).
      "qo_join_cardinality",
      // qp_dsir: the 256-row bucket spine crosses a broadcast ONE-ROW
      // token-total aggregate while building the log-ratio model
      // (scalar-subquery pattern; the 100 TB raw side itself joins the
      // finished 256-row model by hash, not BNLJ).
      "qp_dsir",
      // qp_neyman: the ≤|strata| allocation frame crosses broadcast
      // ONE-ROW grand-weight and leftover-slot aggregates (scalar-
      // subquery pattern over a collapsed frame).
      "qp_neyman",
      // qo_join_cardinality_sketch: the 1-row AMS estimate crosses the
      // 1-row exact-count aggregate (1x1 broadcast no-op).
      "qo_join_cardinality_sketch",
      // qe_forecast_eval: the generated day spine crosses the distinct
      // event types (constant-folded key -> BNLJ), both sides bounded
      // by days x types at any data scale (same as qe_gapfill).
      "qe_forecast_eval",
      // qd_lsh_recall: the recall EVAL deliberately materializes the
      // unblocked exact-threshold ground truth (all-pairs under only
      // id_a < id_b -> BNLJ) to score the LSH generator against it --
      // eval-scale by design and documented as such in the query doc;
      // the production form samples the corpus first. The measured
      // path (25n's bucketed generator) joins on the bucket key.
      "qd_lsh_recall",
      // qp_dsir_eval: chains the documented qp_dsir scalar-subquery
      // crosses plus 1-row threshold/KL broadcasts (all 1-row or
      // 256-row bounded sides).
      "qp_dsir_eval",
      // qe_trigrams: the |types|^3-bounded trigram frame crosses 1-row
      // total-count aggregates (scalar-subquery pattern).
      "qe_trigrams",
      // qc_scorecard: the 1-row quality aggregate crosses the 1-row
      // orphan count (1x1 broadcast no-op).
      "qc_scorecard",
      // qp_padding: lengths cross a broadcast ONE-ROW global-max
      // aggregate (scalar-subquery pattern, three strategies share it).
      "qp_padding",
      // qd_modularity: the <=|sources| per-source term frame crosses
      // the 1-row total-modularity aggregate (1xN broadcast no-op).
      "qd_modularity",
      // qt_heaps: the fact scan crosses a broadcast ONE-ROW max-doc-id
      // aggregate to form doc-order buckets (scalar-subquery pattern,
      // same as qe_decay).
      "qt_heaps",
      // qe_holt: the day spine crosses the distinct event types
      // (constant-folded key, bounded by days x types — same as
      // qe_gapfill/qe_forecast_eval) and the grid crosses a broadcast
      // ONE-ROW holdout-cutoff date (scalar-subquery pattern).
      "qe_holt",
      // qe_holt_winters: identical spine/cutoff shape to qe_holt.
      "qe_holt_winters",
      // qe_ewma_chart: the day spine crosses the distinct event types
      // (bounded by days x types, same as qe_gapfill).
      "qe_ewma_chart",
      // qt_burstiness: the per-term frame crosses a broadcast ONE-ROW
      // corpus doc count (scalar-subquery pattern, same as qt_keywords).
      "qt_burstiness",
      // qe_did: the fact table crosses a broadcast ONE-ROW period-cut
      // date (scalar-subquery pattern, same as qe_decay/qe_rfm).
      "qe_did",
      // qe_cuped: same broadcast ONE-ROW period-cut scalar as qe_did.
      "qe_cuped",
      // qt_js_sources: the share frame crosses the broadcast DISTINCT
      // source list under a <> predicate (bounded side = |sources|,
      // same shape as qe_gapfill's spine x types).
      "qt_js_sources",
      // qs_probe_sweep: embeds the qs_knn_brute plan as its recall
      // ground truth (documented broadcast-panel exhaustive scan, same
      // as qs_recall); the measured per-flip candidate frames join on
      // the bucket key.
      "qs_probe_sweep",
      // qp_scd2_asof: the history frame crosses a broadcast ONE-ROW
      // as-of timestamp (scalar-subquery pattern, same as qe_decay).
      "qp_scd2_asof",
      // qo_zone_skipping: the fact table crosses a broadcast ONE-ROW
      // min/max-bounds aggregate to derive bucket ids (scalar-subquery
      // pattern, same as qe_decay/qe_rfm).
      "qo_zone_skipping",
      // qe_mwu: same 1-row broadcast min/max bounds cross as
      // qo_zone_skipping, feeding the fixed-grid bin ids.
      "qe_mwu",
      // qd_lsh_audit: the exact-jaccard ground truth runs over a
      // deterministic 10% md5-coin DOC sample's pairs (the audit's
      // documented fixed-budget knob — same eval-scale exception as
      // qd_lsh_recall); the candidate check joins by key.
      "qd_lsh_audit",
      // qe_event_study: the fact table crosses a broadcast ONE-ROW
      // midpoint-cut date (scalar-subquery pattern, same as qe_did).
      "qe_event_study",
      // qp_split: the |splits|×|sources| rollup crosses a broadcast
      // ONE-ROW straddle-audit count (scalar-subquery pattern).
      "qp_split",
      // qt_zipf / qe_heavytail / qe_ltv_deciles: DistributedRank's
      // 1-row broadcast min/max bounds cross (scalar-subquery pattern,
      // same as qo_zone_skipping); qe_ltv_deciles adds the 1-row
      // population-count cross for the ntile arithmetic. (qe_rfm's
      // identical crosses ride its existing entry above.)
      "qt_zipf", "qe_heavytail", "qe_ltv_deciles")
    // Global (empty-partition) windows allowed ONLY over frames bounded
    // by a constant, the calendar, or an attribute domain — never by
    // the row count. Limit-bounded windows (rank-after-TakeOrdered,
    // rank-predicate WindowGroupLimit pushdown) are auto-exempted by
    // the detector; everything here carries its boundedness argument.
    val intendedGlobalWindow: Set[String] = Set(
      // ── constant-bin histogram / bucket frames ──
      // qc_drift / qc_ks_drift / qc_chi2_drift / qc_wasserstein /
      // qc_drift_timeline: cumulative windows over fixed histogram-bin
      // frames (constant bins; timeline adds calendar months).
      "qc_drift", "qc_ks_drift", "qc_chi2_drift", "qc_wasserstein",
      "qc_drift_timeline",
      // qc_psi_quantile: rank-select windows over the ≤4096-row coarse
      // bucket frame (constant).
      "qc_psi_quantile",
      // qc_benford: the 9-digit frame.
      "qc_benford",
      // qd_dup_spectrum: the fixed duplicate-multiplicity bucket frame.
      "qd_dup_spectrum",
      // qd_lsh_design: the 5-design × 201-point generated grid.
      "qd_lsh_design",
      // qe_abc + the DistributedRank consumers qe_heavytail /
      // qe_ltv_deciles / qe_rfm / qt_zipf: the two-level bucketed rank's
      // CARRY window — a cumulative count over the constant-nBuckets
      // (≤1024) bucket frame; the data-scale rank itself runs
      // partitioned by bucket.
      "qe_abc", "qe_heavytail", "qe_ltv_deciles", "qe_rfm", "qt_zipf",
      // qt_heaps: cumulative vocab-growth over the constant doc-order
      // bucket frame.
      "qt_heaps",
      // ── calendar-bounded frames ──
      // qc_freshness / qc_gaps / qc_sprt: per-day / per-period frames.
      "qc_freshness", "qc_gaps", "qc_sprt",
      // qe_changepoint / qe_hurst / qe_rolling_corr / qe_stl /
      // qe_mix_decomposition: day- or hour-spine windows (the spine is
      // generated from the calendar range, not the row count).
      "qe_changepoint", "qe_hurst", "qe_rolling_corr", "qe_stl",
      "qe_mix_decomposition",
      // qe_survival / qe_hazard / qe_logrank: cumulative risk-set
      // windows over the per-day event-time frame.
      "qe_survival", "qe_hazard", "qe_logrank",
      // ── attribute-domain-bounded frames ──
      // qc_cramers_v / qc_mutual_info: contingency-cell frames bounded
      // by the profiled columns' category domains (flags, priorities).
      "qc_cramers_v", "qc_mutual_info",
      // qe_anova / qe_markov_entropy / qe_markov_stationary: |event
      // types|- or |types|²-bounded group frames.
      "qe_anova", "qe_markov_entropy", "qe_markov_stationary",
      // qp_attrition / qp_epochs / qp_neyman / qp_temperature /
      // qp_token_budget / qp_waterfill: per-source / per-stratum
      // allocation frames bounded by the source/stratum domain.
      "qp_attrition", "qp_epochs", "qp_neyman", "qp_temperature",
      "qp_token_budget", "qp_waterfill",
      // ── broadcast-scale frames (window ≤ what the query already
      //    broadcasts, so the single-task window is never the binding
      //    constraint) ──
      // qt_bigram_lm / qt_kn_bigram / qt_cross_entropy: the total-mass
      // window rides the collapsed unigram/continuation frame that the
      // SAME query broadcasts into its join.
      "qt_bigram_lm", "qt_kn_bigram", "qt_cross_entropy")
    // ── Top-k site adoption audit (r14) ──
    // Every physical top-k site in the suite, with its chosen operator
    // and a one-line justification for NOT using the sort-free heap
    // (TopKPerKeyExec, 38b) where it stays on the window path:
    //   TopKPerKeyExec        — graft's per-key heap: no per-partition
    //                           sort, state bounded by k per key.
    //   WindowGroupLimitExec  — Spark's rank-predicate pushdown
    //                           (InferWindowGroupLimit): each partition
    //                           pre-prunes to k rows per key BEFORE the
    //                           final window, but still sorts each
    //                           group's survivors.
    //   TakeOrderedAndProject — Spark's global top-k heap (sort-free).
    // A WindowGroupLimit site is acceptable when (a) the query needs
    // the RANK VALUE itself (dense_rank ties, rank gaps) or full
    // ordering among survivors downstream — the heap returns rows, not
    // ranks; (b) the group count is bounded by an attribute domain so
    // the sorted data is tiny; or (c) the window carries additional
    // frame aggregates that need the sort anyway. Sites listed in
    // `windowTopKJustified` carry that argument; a WindowGroupLimitExec
    // in a query NOT listed is flagged for adoption review.
    val windowTopKJustified: Map[String, String] = Map(
      "q10_returned" -> "global top-20 (TakeOrdered), no per-key site; the WindowGroupLimit is rank-after-limit on the 20-row result",
      "q2_min_cost_supplier" -> "min-cost-per-part is rank=1 with TIES semantics (all suppliers at the min price survive) — needs rank, not a k-heap",
      "q15_top_supplier" -> "rank=1 with ties over ONE group (the revenue max) — a 1-group window over the collapsed supplier frame",
      "q_top_customers" -> "rank-value itself is projected (position column in the report); heap returns rows, not ranks",
      "q_window_suite" -> "demonstrates the window-function surface (rank/dense_rank/lag/lead in one pass) — the sort is the operator under test",
      "qd_cluster_report" -> "per-cluster exemplar is rank=1 over clusters bounded by the dedup manifest (collapsed frame, not corpus-scale); rides the existing cluster sort",
      "qd_cluster_labels" -> "top labels per cluster need dense_rank tie semantics over the bounded cluster-token frame",
      "qe_latest" -> "ADOPTED TopKPerKeyExec (k=1 per user) — listed here because its oracle twin keeps a WindowGroupLimit reference plan",
      "qt_rake" -> "top keywords per doc need the score rank projected; survivors per doc bounded by phrase count",
      "qt_tfidf" -> "top terms per doc with rank projected; WindowGroupLimit prunes to k per doc before the final window",
      "qs_mmr" -> "iterative re-rank needs full order among the ≤k·probe candidate frame (bounded), not a one-shot top-k",
      // r14 sweep completion — every remaining WindowGroupLimit site,
      // adjudicated. The general mechanism that makes these adequate:
      // InferWindowGroupLimit plants a PARTIAL WindowGroupLimitExec
      // before the exchange, so at most k rows per key per MAP
      // partition ever shuffle (map-side combine for top-k); the
      // residual per-group sort downstream is over ≤ parts×k rows.
      // The heap operator only wins where NO rank value is needed AND
      // per-key input is unbounded at fact scale — that one shape
      // (latest-event-per-user) already adopted TopKPerKeyExec
      // (qe_latest). Per-site reason the window path stays:
      "q_lateral" -> "the LATERAL top-2-orders-per-customer surface IS the operator under demonstration; bounded ≤20-customer probe",
      "q_mode" -> "mode = rank-1-with-deterministic-tiebreak over the COLLAPSED (flag, quantity) frame — domain-bounded, not fact-scale",
      "qc_topvalues" -> "rnk is projected in the output contract (top values per column, position shown)",
      "qe_entry_analysis" -> "first-event-per-session rank over sessionized frame; the sessionization window needs the per-user sort anyway — the rank rides it",
      "qe_markov_eval" -> "rk projected as the prediction rank (top-k transition eval)",
      "qe_paths" -> "rn orders the path CONCATENATION (string_agg ORDER BY rn) — the rank value is consumed, not just filtered",
      "qo_merge" -> "upsert elects rank-1-per-business-key; partial WindowGroupLimit caps the exchange at 1/key/map-partition (residual sort ≤ parts rows/key)",
      "qp_corpus" -> "keep-one-per-content-hash dedup, rank-1 with deterministic doc_id tiebreak; partial WindowGroupLimit caps the exchange",
      "qp_dsir" -> "rank projected (importance-weighted sample position is part of the draw's reproducibility contract)",
      "qp_reservoir" -> "rank projected — the deterministic hash-order rank IS the reservoir draw's reproducibility contract",
      "qp_sample" -> "sample_rank projected (stratified draw position); salted pre-prune bounds each stratum's window input",
      "qs_hard_negatives" -> "near-miss mining needs the rank ORDER among same-label negatives; eval-bounded ≤10-query probe set",
      "qs_incremental" -> "rk projected for the merged-index rank; per-query candidates bucket-bounded",
      "qs_knn_brute" -> "rank projected (neighbor position is the kNN output contract); eval-scale ≤10-query exhaustive oracle, scale path is qs_knn_ivf/lsh",
      "qs_knn_classify" -> "rk selects the k vote set per query over bucket-bounded candidates; majority vote consumes the bounded rank frame",
      "qs_knn_filtered" -> "rank projected; predicate-filtered candidates per query are bucket-bounded",
      "qs_knn_graph" -> "rank projected per expansion round; frontier candidates bounded by degree×beam",
      "qs_knn_ivf" -> "rank projected; candidates per query bounded by nprobe cells (the designed scale path)",
      "qs_knn_lsh" -> "rank projected; candidates per query bounded by band collisions",
      "qs_knn_multiprobe" -> "rank projected; candidates bounded by nflip-expanded buckets",
      "qs_probe_sweep" -> "rank projected at each operating point; the sweep IS 5 bounded kNN evals in one plan",
      "qs_quantize_recall" -> "exact-vs-reconstructed top-k set compare consumes rank≤k on BOTH sides; eval-bounded query set",
      "qs_recall" -> "recall@k ground truth side embeds qs_knn_brute's ranked plan; eval-bounded",
      "qt_keywords" -> "rnk projected (keyword position per source); window input is the collapsed (source, token) frame, vocab-bounded")
    val topkReport = Seq.newBuilder[String]
    var flagged = 0
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      try {
        val executed = fn(spark, dir).queryExecution.executedPlan
        val plan = executed.toString
        // A WindowExec with an EMPTY partition spec funnels its whole
        // input through one task — fatal on any frame that grows with
        // the data. Two shapes are provably bounded from the plan
        // itself and auto-exempt: a limit below the window
        // (rank-the-top-k-after-TakeOrdered), and a WindowGroupLimit
        // below it (Spark's rank-predicate pushdown prunes each
        // partition to k rows before the single-task final window).
        // The walk follows ONLY the unary input spine: a limit inside
        // a JOIN BRANCH bounds that branch, not the window's input
        // cardinality, so stopping at any multi-child node prevents a
        // broadcast top-k panel from masking a data-scale window above
        // the join. Everything else needs an allowlist entry stating
        // WHY its frame is bounded by a constant (or the calendar),
        // not the data. NOTE: foldable partition keys
        // (partitionBy(lit(1))) are optimized away, so they correctly
        // show as empty here.
        def limitBounded(p: org.apache.spark.sql.execution.SparkPlan)
            : Boolean = p match {
          case _: org.apache.spark.sql.execution.window.WindowGroupLimitExec
            => true
          case _: org.apache.spark.sql.execution.GlobalLimitExec => true
          case _: org.apache.spark.sql.execution.TakeOrderedAndProjectExec
            => true
          case u if u.children.size == 1 => limitBounded(u.children.head)
          case _ => false
        }
        val globalWindow = executed.collect {
          case w: org.apache.spark.sql.execution.window.WindowExec
            if w.partitionSpec.isEmpty && !limitBounded(w.child) => w
        }.nonEmpty
        val flags = Seq(
          "GlobalWindow" -> (globalWindow &&
            !intendedGlobalWindow.contains(name)),
          "CartesianProduct" -> plan.contains("CartesianProduct"),
          "BroadcastNestedLoopJoin" -> (plan.contains("BroadcastNestedLoopJoin")
            && !intendedBnlj.contains(name)),
          // A parquet scan reading 8+ columns usually means pruning failed
          // (the widest projection any contract query needs is 7 columns).
          // Fields are counted at NESTING DEPTH 0: a naive regex stops at
          // the first '>' of any array/map/struct column and a naive
          // comma split counts nested struct fields.
          "WideScan" -> plan.linesIterator
            .filter(_.contains("ReadSchema: struct<"))
            .exists { line =>
              val body = line.substring(
                line.indexOf("ReadSchema: struct<") + "ReadSchema: struct<".length)
              var depth = 0
              var fields = if (body.isEmpty || body.startsWith(">")) 0 else 1
              var done = false
              body.foreach {
                case _ if done =>
                case '<' => depth += 1
                case '>' if depth > 0 => depth -= 1
                case '>' => done = true
                case ',' if depth == 0 => fields += 1
                case _ =>
              }
              fields >= 8
            })
          .collect { case (f, true) => f }
        // Top-k site collection. WindowGroupLimitExec typically appears
        // twice per logical site (Partial before the exchange, Final
        // after — same split as HashAggregate), so counts are node
        // counts, not site counts.
        val topkSites = executed.collect {
          case _: org.apache.spark.sql.graft.TopKPerKeyExec => "TopKPerKey"
          case _: org.apache.spark.sql.execution.window.WindowGroupLimitExec
            => "WindowGroupLimit"
          case _: org.apache.spark.sql.execution.TakeOrderedAndProjectExec
            => "TakeOrdered"
        }
        val unjustifiedTopk =
          topkSites.contains("WindowGroupLimit") &&
            !windowTopKJustified.contains(name)
        if (topkSites.nonEmpty) {
          val counts = topkSites.groupBy(identity).view.mapValues(_.size)
            .toSeq.sortBy(_._1).map { case (k, v) => s"$k=$v" }.mkString(" ")
          val just =
            if (topkSites.contains("WindowGroupLimit"))
              windowTopKJustified.getOrElse(name, "UNJUSTIFIED")
            else "heap/global top-k; no window-path site"
          topkReport += f"$name%-26s $counts%-42s $just"
        }
        val allFlags =
          if (unjustifiedTopk) flags :+ "WindowTopKUnjustified" else flags
        if (allFlags.nonEmpty) { flagged += 1; println(s"FLAG $name: ${allFlags.mkString(", ")}") }
        else println(s"ok   $name")
      } catch { case e: Throwable => flagged += 1; println(s"ERR  $name: $e") }
    }
    println("\n── top-k sites (operator + justification) ──")
    topkReport.result().foreach(println)
    println(s"audit done, $flagged flagged")
    spark.stop()
  }
}
