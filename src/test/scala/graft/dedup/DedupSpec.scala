package graft.dedup

import org.apache.spark.sql.functions._
import graft.SparkSpec

class DedupSpec extends SparkSpec {
  import scala.jdk.CollectionConverters._

  private def docs(rows: (Long, String)*) = {
    val s = spark
    import s.implicits._
    rows.toSeq.toDF("doc_id", "text")
  }

  test("exactGroups elects the minimum id as canonical") {
    val d = docs(5L -> "a b c", 2L -> "a b c", 9L -> "x y")
    val out = Dedup.exactGroups(d, "text", "doc_id")
      .orderBy("canonical_id").collect()
    assert(out.length == 2)
    assert(out(0).getAs[Long]("canonical_id") == 2L)
    assert(out(0).getAs[Long]("n_docs") == 2L)
    assert(out(1).getAs[Long]("canonical_id") == 9L)
  }

  test("minhash signatures are identical for identical token sets") {
    // Same distinct token set in different order/multiplicity.
    val d = docs(1L -> "a b c", 2L -> "c c b a a")
    val sigs = Dedup.withMinhashSignature(d, "text", 8)
      .select((0 until 8).map(k => col(s"sig_$k")): _*).collect()
    assert(sigs(0) == sigs(1))
  }

  test("candidate pairs: identical docs share all bands; cap drops giant buckets") {
    val d = docs(1L -> "a b c d", 2L -> "a b c d", 3L -> "q r s t")
    val pairs = Dedup.minhashCandidatePairs(d, "text", "doc_id", 8, 4)
    val rows = pairs.collect()
    assert(rows.length == 1)
    assert(rows(0).getAs[Long]("id_a") == 1L && rows(0).getAs[Long]("id_b") == 2L)
    assert(rows(0).getAs[Long]("n_shared_bands") == 2L)
    val capped = Dedup.minhashCandidatePairs(d, "text", "doc_id", 8, 4,
      maxBucketSize = Some(1))
    assert(capped.count() == 0L)
  }

  test("minhashCandidateEdges == distinct minhashCandidatePairs, exactly once") {
    val s = spark
    import s.implicits._
    // Pseudo-random corpus with planted near-dup clusters so pairs
    // collide in ONE band, BOTH bands, and (cross-cluster) neither —
    // the three cases the first-collision-band emission must handle.
    val rng = new scala.util.Random(11)
    val vocab = (0 until 40).map(i => s"w$i")
    val base = (1L to 80L).map { id =>
      id -> rng.shuffle(vocab).take(6 + rng.nextInt(8)).mkString(" ") }
    val planted = base.take(25).flatMap { case (id, t) =>
      Seq((id + 1000L) -> t,                                  // exact dup
        (id + 2000L) -> (t.split(" ").drop(1) :+ "wX").mkString(" ")) }
    val d = (base ++ planted).toDF("doc_id", "text")
    for (cap <- Seq(None, Some(3))) {
      val expected = Dedup
        .minhashCandidatePairs(d, "text", "doc_id", 16, 8, cap)
        .select("id_a", "id_b").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      val got = Dedup
        .minhashCandidateEdges(d, "text", "doc_id", 16, 8, cap)
        .collect().map(r => (r.getLong(0), r.getLong(1)))
      assert(got.toSet == expected, s"cap=$cap")
      assert(got.length == got.toSet.size, s"duplicate emission, cap=$cap")
      if (cap.isEmpty) assert(expected.nonEmpty)
    }
  }

  test("jaccardNeighbors equals thresholded all-pairs jaccard") {
    val s = spark
    import s.implicits._
    val d = Seq(
      (1L, "a b c d e f", "s1"), (2L, "a b c d e g", "s1"),
      (3L, "q r s t u v", "s1"), (4L, "a b c d e f", "s2"))
      .toDF("doc_id", "text", "source")
    val dense = Dedup.ngramJaccardPairs(d, "text", "doc_id", 3, "source")
      .where(col("jaccard") >= 0.3).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val sparse = Dedup.jaccardNeighbors(d, "text", "doc_id", 3, "source", 0.3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(sparse == dense)
    assert(sparse.nonEmpty)
  }

  test("connectedComponents propagates min id across multi-hop chains") {
    val s = spark
    import s.implicits._
    // Chain 1-2-3-4 plus isolated 9: one component labeled 1, one labeled 9.
    val vertices = Seq(1L, 2L, 3L, 4L, 9L).toDF("doc_id")
    val edges = Seq((2L, 3L), (1L, 2L), (3L, 4L)).toDF("id_a", "id_b")
    val out = Dedup.connectedComponents(vertices, edges)
      .orderBy("doc_id").collect()
    assert(out.map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("component_id"))).toSeq ==
      Seq(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 9L -> 9L))
  }

  test("ngram jaccard is 1.0 for identical docs and excludes cross-block pairs") {
    val s = spark
    import s.implicits._
    val d = Seq((1L, "a b c d", "s1"), (2L, "a b c d", "s1"), (3L, "a b c d", "s2"))
      .toDF("doc_id", "text", "source")
    val out = Dedup.ngramJaccardPairs(d, "text", "doc_id", 3, "source").collect()
    assert(out.length == 1) // only the s1 pair; doc 3 is in another block
    assert(out(0).getAs[Double]("jaccard") == 1.0)
  }

  test("simhash of identical token sets is equal and fits in 32 bits") {
    val d = docs(1L -> "alpha beta gamma", 2L -> "gamma beta alpha")
    val out = Dedup.simhash32(d, "text", "doc_id").collect()
    val values = out.map(_.getAs[Long]("simhash")).toSet
    assert(values.size == 1)
    assert(values.forall(v => v >= 0 && v < (1L << 32)))
  }

  test("editDistancePairs enforces its small-block contract: oversized blocks drop") {
    val s = spark
    import s.implicits._
    // block A: 2 near-identical docs (1 pair); block B: 3 docs — over
    // the cap of 2, so by contract it contributes NOTHING.
    val d = Seq(
      (1L, "alpha beta gamma", "A"), (2L, "alpha beta gamma!", "A"),
      (3L, "x", "B"), (4L, "x", "B"), (5L, "x", "B"))
      .map { case (id, t, b) => (id, t, b, t.length.toLong) }
      .toDF("doc_id", "text", "block", "n_chars")
    val out = Dedup.editDistancePairs(d, "text", "doc_id", "n_chars",
      "block", prefixLen = 40, maxDist = 4, maxBlockSize = 2).collect()
    assert(out.map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b")))
      .toSeq == Seq((1L, 2L)))
    // raising the cap re-admits block B's grid
    val full = Dedup.editDistancePairs(d, "text", "doc_id", "n_chars",
      "block", prefixLen = 40, maxDist = 4, maxBlockSize = 10).count()
    assert(full == 4) // (1,2) + C(3,2) identical pairs in B
  }

  /** Runs `body` once per band entry point and expects the geometry
    * check's message, which names both values. */
  private def assertBandGeometryRejected(numPerms: Int, bandSize: Int): Unit = {
    import graft.syntax._
    val d = docs(1L -> "a b c d", 2L -> "a b c d")
      .withColumn("label", lit("x"))
    val entries: Seq[(String, () => Any)] = Seq(
      "nearDupCandidates" -> (() => d.nearDupCandidates("text", "doc_id",
        numPerms, bandSize)),
      "incrementalNearDups" -> (() => Dedup.incrementalNearDups(d, d,
        "text", "doc_id", numPerms, bandSize)),
      "bandIndex" -> (() => Dedup.bandIndex(d, "text", "doc_id",
        numPerms, bandSize)),
      "lshLabelPairReport" -> (() => Dedup.lshLabelPairReport(d, "text",
        "doc_id", "label", numPerms, bandSize)))
    for ((name, call) <- entries) {
      val e = intercept[IllegalArgumentException](call())
      assert(e.getMessage.contains(s"numPerms ($numPerms)") &&
        e.getMessage.contains(s"bandSize ($bandSize)"), s"$name: ${e.getMessage}")
    }
  }

  test("band geometry: numPerms not a multiple of bandSize is rejected") {
    // (48, 5) used to band sig_0..sig_44 and ignore three permutations.
    assertBandGeometryRejected(48, 5)
  }

  test("band geometry: a bandSize of zero is rejected") {
    // (16, 0) used to die with an ArithmeticException (/ by zero).
    assertBandGeometryRejected(16, 0)
  }
}
