package graft

/** Stage breakdown of qd_tfidf_pairs — the suite's most expensive
  * query (~5% of the whole bench; the only one over 10 s) — at ladder
  * scale, so "is further work worth it" is decided by measurement:
  * which of its three stages grows at ×10?
  *
  *   banding   — minhash band-collision candidate generation
  *               ([[graft.dedup.Dedup.minhashCandidateEdges]]);
  *               measured as the wall of materializing `cand` alone.
  *   assembly  — candidate-pruned tf-idf vector assembly (tf → idf
  *               window → integerized weights → sorted sparse vector
  *               per doc); measured as wall(`vec`) − wall(`cand`):
  *               `vec` embeds the candidate frame via its semi-join
  *               prune, so its run re-executes the banding (the
  *               subtraction removes it; ReuseExchange makes the
  *               embedded copy cost ≈ the standalone run).
  *   scoring   — gate-chosen attach joins + native merge-walk cosine;
  *               wall(full) − wall(`vec`), same reasoning.
  *
  * Each stage wall is min-of-`SPARK_GRAFT_LADDER_ITERS` (default 2).
  * Emits SCALING_RAW-shaped rows (query=tfidf_<stage>) to
  * SPARK_GRAFT_LADDER_OUT (default /tmp/TFIDF_PROFILE.jsonl); a stage
  * none of whose runs succeeded gets the ladder's error line.
  *
  * Run: `sbt "runMain graft.TfidfProfile sf1=target/scaledata/sf1"`.
  */
object TfidfProfile {
  def main(args: Array[String]): Unit = {
    val ladder = Ladder.rungs(args.toSeq, "TfidfProfile")
    val spark = GraftSession()
    spark.range(1000).selectExpr("sum(id)").collect()
    val runs = new Ladder(spark, "/tmp/TFIDF_PROFILE.jsonl")
    def ms(v: Double): String = JsonFmt.ms(v)
    try {
      for ((label, dir) <- ladder) {
        // Fresh frames per timing so Materialize.once caching inside
        // `vec` can't leak one measurement into the next.
        val band = runs.best(
          Force.rows(graft.queries.DedupQueries.tfidfCandVec(spark, dir)._1))
        val vec = runs.best(
          Force.rows(graft.queries.DedupQueries.tfidfCandVec(spark, dir)._2))
        val full = runs.best(
          Force.rows(graft.queries.DedupQueries.qdTfidfPairs(spark, dir)))
        runs.record(label, "tfidf_banding", band) { b =>
          s""""sec":${ms(b.sec)},"rows":${b.value}"""
        }
        runs.record(label, "tfidf_assembly",
            for (b <- band; v <- vec) yield (b, v)) { case (b, v) =>
          s""""sec":${ms(math.max(0.0, v.sec - b.sec))},"vec_wall_sec":${ms(v.sec)},"rows":${v.value}"""
        }
        runs.record(label, "tfidf_scoring",
            for (v <- vec; f <- full) yield (v, f)) { case (v, f) =>
          s""""sec":${ms(math.max(0.0, f.sec - v.sec))},"full_wall_sec":${ms(f.sec)},"rows":${f.value}"""
        }
      }
    } finally runs.close()
    spark.stop()
  }
}
