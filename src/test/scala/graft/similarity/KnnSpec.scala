package graft.similarity

import graft.SparkSpec

class KnnSpec extends SparkSpec {

  private def vecs(rows: (Long, Seq[Double])*) = {
    val s = spark
    import s.implicits._
    rows.toSeq.toDF("vec_id", "embedding")
  }

  test("bruteForce ranks by cosine with deterministic tie-break") {
    // q = (1,0); c1 = (2,0) cos=1; c2 = (1,1) cos≈0.707; c3 = (0,1) cos=0.
    val corpus = vecs(1L -> Seq(2.0, 0.0), 2L -> Seq(1.0, 1.0), 3L -> Seq(0.0, 1.0))
    val queries = vecs(0L -> Seq(1.0, 0.0))
    val out = Knn.bruteForce(corpus, queries, "embedding", "vec_id", 2)
      .orderBy("rank").collect()
    assert(out.map(_.getAs[Long]("neighbor_id")).toSeq == Seq(1L, 2L))
    assert(out(0).getAs[Double]("cosine") == 1.0)
    assert(out(1).getAs[Double]("cosine") == 0.707107) // round(1/sqrt(2), 6)
  }

  test("bruteForce excludes the query vector itself") {
    val corpus = vecs(1L -> Seq(1.0, 0.0), 2L -> Seq(0.9, 0.1))
    val out = Knn.bruteForce(corpus, corpus, "embedding", "vec_id", 5).collect()
    assert(out.forall(r => r.getAs[Long]("q_id") != r.getAs[Long]("neighbor_id")))
  }

  test("lshTopK only pairs vectors within the same bucket") {
    val corpus = vecs(
      1L -> Seq(1.0, 0.0), 2L -> Seq(0.99, 0.01),
      3L -> Seq(-1.0, 0.0), 4L -> Seq(-0.99, -0.01))
    val out = Knn.lshTopK(corpus, "embedding", "vec_id", 4, 2, 3).collect()
    // Opposite-direction vectors land in complementary sign buckets.
    val pairs = out.map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("neighbor_id"))).toSet
    assert(pairs.forall { case (a, b) => (a <= 2) == (b <= 2) })
  }

  test("multi-probe LSH recovers near-boundary neighbors single-probe misses") {
    // Vectors 1 and 2 are crafted against the actual md5 planes for
    // (4 planes, 2 dims): both sit ±0.002 off plane 0's boundary along
    // its null direction, so they land in buckets 1 and 0 with plane 0
    // as the smallest |margin| for BOTH — single-probe can never pair
    // them, and flipping one plane must. nflip=0 degenerates to lshTopK.
    val corpus = vecs(
      1L -> Seq(-0.374134, 0.566254), 2L -> Seq(-0.371866, 0.567746),
      3L -> Seq(-1.0, 0.5), 4L -> Seq(0.3, 1.0))
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("neighbor_id"))).toSet
    val single = pairs(Knn.lshTopK(corpus, "embedding", "vec_id", 4, 2, 3))
    val zeroFlip = pairs(Knn.lshMultiProbeTopK(corpus, "embedding", "vec_id", 4, 2, 3, 0))
    val multi = pairs(Knn.lshMultiProbeTopK(corpus, "embedding", "vec_id", 4, 2, 3, 1))
    assert(zeroFlip == single)
    assert(single.subsetOf(multi))
    assert(!single.contains((1L, 2L)))
    assert(multi.contains((1L, 2L)) && multi.contains((2L, 1L)))
  }

  test("multiProbeCandidates grow monotonically with the probe budget") {
    val corpus = vecs(
      1L -> Seq(-0.374134, 0.566254), 2L -> Seq(-0.371866, 0.567746),
      3L -> Seq(-1.0, 0.5), 4L -> Seq(0.3, 1.0), 5L -> Seq(0.9, -0.4))
    def cands(nf: Int) = Knn
      .multiProbeCandidates(corpus, "embedding", "vec_id", 4, 2, nf)
      .collect()
      .map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("neighbor_id"))).toSet
    val c0 = cands(0); val c1 = cands(1); val c4 = cands(4)
    assert(c0.subsetOf(c1) && c1.subsetOf(c4))
    // Full flip budget on 4 planes probes all 1-bit neighbors, strictly
    // more than the home bucket alone on this crafted corpus.
    assert(c0.size < c4.size)
    // Each candidate pair appears exactly once (probed buckets distinct,
    // corpus vector lives in one bucket).
    val rows = Knn.multiProbeCandidates(corpus, "embedding", "vec_id", 4, 2, 4)
    assert(rows.count() == rows.dropDuplicates("q_id", "neighbor_id").count())
  }

  test("ivfTopK takes each query's norm before the probe explode") {
    import org.apache.spark.sql.catalyst.expressions.Sqrt
    import org.apache.spark.sql.catalyst.plans.logical.{Generate, LogicalPlan}
    val corpus = vecs(
      1L -> Seq(10.0, 0.1), 2L -> Seq(10.0, -0.1), 3L -> Seq(10.2, 0.0),
      4L -> Seq(-10.0, 0.1), 5L -> Seq(-10.0, -0.1), 6L -> Seq(-10.2, 0.0))
    // Not a local relation, which would fold the norm into its rows.
    val queries = vecs(1L -> Seq(10.0, 0.1), 4L -> Seq(-10.0, 0.1)).repartition(1)
    val plan = Knn.ivfTopK(corpus, queries, "embedding", "vec_id",
      k = 2, numCentroids = 2, nprobe = 2, iters = 3).queryExecution.optimizedPlan
    def norms(p: LogicalPlan) =
      p.expressions.flatMap(_.collect { case s: Sqrt => s })
    val probes = plan.collect { case g: Generate => g }
    assert(probes.size == 1)
    // The norm sits below the explode, and no node above it takes one.
    assert(probes.head.child.collect { case p => norms(p) }.flatten.nonEmpty)
    assert(plan.collect {
      case p if p.ne(probes.head) && p.exists(_.eq(probes.head)) => norms(p)
    }.flatten.isEmpty)
  }

  test("ivfTopK finds exact neighbors when clusters are well separated") {
    // Two tight clusters far apart; with nprobe=1 each query stays in
    // its own cluster and must recover the exact in-cluster ranking.
    val corpus = vecs(
      1L -> Seq(10.0, 0.1), 2L -> Seq(10.0, -0.1), 3L -> Seq(10.2, 0.0),
      4L -> Seq(-10.0, 0.1), 5L -> Seq(-10.0, -0.1), 6L -> Seq(-10.2, 0.0))
    val queries = vecs(1L -> Seq(10.0, 0.1), 4L -> Seq(-10.0, 0.1))
    val out = Knn.ivfTopK(corpus, queries, "embedding", "vec_id",
      k = 2, numCentroids = 2, nprobe = 1, iters = 3)
      .orderBy("q_id", "rank").collect()
    val got = out.map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("neighbor_id"))).toSeq
    assert(got.map(_._1).toSet == Set(1L, 4L))
    assert(got.filter(_._1 == 1L).map(_._2).forall(n => n >= 1L && n <= 3L))
    assert(got.filter(_._1 == 4L).map(_._2).forall(n => n >= 4L && n <= 6L))
    // Brute force over the same cluster agrees on the top neighbor.
    val brute = Knn.bruteForce(
      corpus.where(org.apache.spark.sql.functions.col("vec_id") <= 3),
      queries.where(org.apache.spark.sql.functions.col("vec_id") === 1L),
      "embedding", "vec_id", 1).collect()
    assert(brute(0).getAs[Long]("neighbor_id") ==
      got.filter(_._1 == 1L).head._2)
  }

  test("trainCentroids is deterministic across invocations") {
    val corpus = vecs(
      1L -> Seq(1.0, 2.0), 2L -> Seq(1.1, 2.1), 3L -> Seq(8.0, 9.0),
      4L -> Seq(8.1, 9.1), 5L -> Seq(0.9, 1.9))
    val c1 = Knn.trainCentroids(corpus, "embedding", "vec_id", 2, iters = 4)
    val c2 = Knn.trainCentroids(corpus, "embedding", "vec_id", 2, iters = 4)
    assert(c1 == c2)
    assert(c1.length == 2 && c1.forall(_.length == 2))
  }

  test("hyperplanes are deterministic and in [-1, 1]") {
    val p1 = Knn.planes(4, 8)
    val p2 = Knn.planes(4, 8)
    assert(p1 == p2)
    assert(p1.flatten.forall(w => w >= -1.0 && w <= 1.0))
  }

  test("lshBucketStats accounts for every vector and its pair arithmetic") {
    val s = spark
    import s.implicits._
    val rng = new scala.util.Random(3)
    val corpus = (1L to 200L).map(id =>
      id -> Seq.fill(8)(rng.nextDouble() * 2 - 1)).toDF("vec_id", "embedding")
    val stats = Knn.lshBucketStats(corpus, "embedding", "vec_id", 3, 8)
      .collect()
    assert(stats.map(_.getLong(2)).sum == 200L) // n_vectors partitions corpus
    stats.foreach { r =>
      val (sz, nb, nv, np) =
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
      assert(nv == sz * nb)
      assert(np == nb * (sz * (sz - 1) / 2))
    }
    // 3 planes -> at most 8 buckets.
    assert(stats.map(_.getLong(1)).sum <= 8)
  }

  test("top-k entries reject k <= 0 and IVF entries reject nprobe <= 0") {
    // Both used to return an empty frame: slice(..., 1, 0) probes no
    // bucket, and rank <= 0 keeps no row.
    val corpus = vecs(1L -> Seq(1.0, 0.0), 2L -> Seq(0.9, 0.1),
      3L -> Seq(0.0, 1.0), 4L -> Seq(0.1, 0.9))
    val cb = Knn.trainPqCodebooks(corpus, "embedding", "vec_id", 1, 2)
    def rejected(what: String)(call: => Any): Unit = {
      val e = intercept[IllegalArgumentException](call)
      assert(e.getMessage.contains(what), e.getMessage)
    }
    rejected("nprobe (0)")(Knn.ivfTopK(corpus, corpus, "embedding", "vec_id",
      k = 2, numCentroids = 2, nprobe = 0))
    rejected("nprobe (-1)")(Knn.ivfPqTopK(corpus, corpus, "embedding",
      "vec_id", k = 2, numCentroids = 2, nprobe = -1, codebooks = cb))
    rejected("k (0)")(Knn.ivfTopK(corpus, corpus, "embedding", "vec_id",
      k = 0, numCentroids = 2, nprobe = 1))
    rejected("k must be positive")(Knn.bruteForce(corpus, corpus,
      "embedding", "vec_id", 0))
    rejected("k must be positive")(Knn.pqTopK(corpus, corpus, "embedding",
      "vec_id", -1, cb))
    rejected("k must be positive")(Knn.lshTopK(corpus, "embedding",
      "vec_id", 2, 2, 0))
    rejected("k must be positive")(Knn.lshMultiProbeTopK(corpus, "embedding",
      "vec_id", 2, 2, 0, 1))
  }
}
