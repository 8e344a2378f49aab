package graft

import java.sql.Timestamp

import scala.util.Random

import graft.dedup.Dedup
import graft.operators.{AsofJoin, Merge}

/** Randomized (fixed-seed) cross-checks of the distributed operators
  * against naive driver-side reference implementations. */
class PropertySpec extends SparkSpec {

  test("connectedComponents equals driver-side union-find on random graphs") {
    val rnd = new Random(42)
    val extremes = Seq(Long.MinValue, Long.MaxValue)
    for (_ <- 1 to 5) {
      val n = 2 + rnd.nextInt(24)
      // Distinct ids: both Long extremes, negatives, shuffled.
      val ids = rnd.shuffle(
        (extremes ++ Seq.fill(3 * n)(rnd.nextInt(100) - 50L)).distinct.take(n))
      // Vertices from index `linked` on touch no edge: isolated.
      val linked = 1 + rnd.nextInt(n)
      val edges = Seq.fill(rnd.nextInt(40))(
        (ids(rnd.nextInt(linked)), ids(rnd.nextInt(linked))))

      // Reference: union-find over ids in ascending order that always
      // keeps the smaller root, so the final root of every node is its
      // component's minimum id.
      val sorted = ids.sorted.toIndexedSeq
      val index = sorted.zipWithIndex.toMap
      val parent = Array.tabulate(n)(identity)
      def find(x: Int): Int =
        if (parent(x) == x) x else { parent(x) = find(parent(x)); parent(x) }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(index(a)), find(index(b)))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val expected = sorted.indices.map(i => sorted(i) -> sorted(find(i)))

      val s = spark
      import s.implicits._
      // Some ids listed twice: the output still has one row per vertex.
      val vdf = (ids ++ Seq.fill(1 + rnd.nextInt(3))(ids(rnd.nextInt(n))))
        .toDF("id")
      val edf = edges.toDF("id_a", "id_b")
      def rows(out: org.apache.spark.sql.DataFrame) =
        out.collect().map(r => r.getLong(0) -> r.getLong(1)).toSeq.sorted
      // Default (one-task finish) and the distributed rounds.
      assert(rows(Dedup.connectedComponents(vdf, edf)) == expected,
        s"one task: ids=$ids edges=$edges")
      assert(rows(Dedup.connectedComponents(vdf, edf, 25, 0L)) == expected,
        s"rounds: ids=$ids edges=$edges")
    }
  }

  test("partitioned upsert equals a driver-side keyed-map replay on random batches") {
    val rnd = new Random(7)
    val s = spark
    import s.implicits._
    for (round <- 1 to 3) {
      val path = s"/tmp/graft_merge_prop/r$round"
      val nKeys = 12
      // Partition is derived from the key (stable), as the operator's
      // contract requires.
      def partOf(id: Long) = s"p${id % 3}"
      val initial = (0L until nKeys.toLong).map(id =>
        (id, partOf(id), s"v0-$id", 0L))
      initial.toDF("id", "day", "v", "ver")
        .write.mode("overwrite").partitionBy("day").parquet(path)

      // Reference state: key -> (value, version), replayed batch by batch
      // with the operator's rules (higher version wins; batch wins ties;
      // tombstone removes).
      val state = scala.collection.mutable.Map(
        initial.map { case (id, _, v, ver) => id -> (v, ver) }: _*)
      for (b <- 1 to 3) {
        val batch = Seq.fill(6)(rnd.nextInt(nKeys + 3).toLong).distinct.map { id =>
          (id, partOf(id), s"v$b-$id", rnd.nextInt(4).toLong,
            rnd.nextInt(5) == 0)
        }
        batch.foreach { case (id, _, v, ver, del) =>
          val wins = state.get(id).forall { case (_, oldVer) => ver >= oldVer }
          if (wins) { if (del) state.remove(id) else state(id) = (v, ver) }
        }
        Merge.upsertPartitioned(spark, path,
          batch.toDF("id", "day", "v", "ver", "is_deleted"),
          keys = Seq("id"), orderCol = "ver", partCol = "day",
          deleteCol = Some("is_deleted"))
        val got = spark.read.parquet(path)
          .select("id", "v", "ver").as[(Long, String, Long)]
          .collect().map(t => t._1 -> (t._2, t._3)).toMap
        assert(got === state.toMap, s"round=$round batch=$b")
      }
    }
  }

  test("report counts equal the invalid-row filter path on random rules") {
    val rnd = new Random(23)
    import graft.rules.{Rule, RuleRunner}
    for (_ <- 1 to 3) {
      val s = spark
      import s.implicits._
      val df = Seq.fill(40)((rnd.nextInt(100), rnd.nextInt(100) - 50,
        if (rnd.nextBoolean()) "x" else null)).toDF("a", "b", "t")
      val rules = Seq(
        Rule(s"a < ${rnd.nextInt(100)}", "r1", 0.5),
        Rule("b >= 0", "r2", 0.5),
        Rule("t IS NOT NULL AND a % 2 = 0", "r3", 0.5))
      val reps = RuleRunner.reports(df, rules)
      // The one-pass conditional-sum aggregation must agree with the
      // per-rule filter evaluation row for row.
      rules.zip(reps).foreach { case (r, rep) =>
        val filtered = RuleRunner.invalidRows(df, Seq(r)).count()
        assert(rep.numInvalid === filtered, s"rule ${r.query}")
        assert(rep.totalRows === 40)
      }
    }
  }

  test("incrementalNearDups equals the mixed pairs of the full pair set") {
    val rnd = new Random(11)
    val vocab = Vector("aa", "bb", "cc", "dd", "ee", "ff", "gg", "hh")
    for (_ <- 1 to 3) {
      val docs = Seq.tabulate(30) { i =>
        (i.toLong, Seq.fill(4 + rnd.nextInt(8))(vocab(rnd.nextInt(vocab.size)))
          .mkString(" "))
      }
      val s = spark
      import s.implicits._
      val df = docs.toDF("doc_id", "text")
      val existing = df.where($"doc_id" < 20)
      val incoming = df.where($"doc_id" >= 20)

      val got = Dedup.incrementalNearDups(existing, incoming,
        "text", "doc_id", 16, 8)
        .collect().map(r => r.getLong(0)).toSet
      // Reference: incoming ids that appear in any candidate pair with an
      // existing id (the pair set uses the same band-collision criterion).
      val pairs = Dedup.minhashCandidatePairs(df, "text", "doc_id", 16, 8)
        .collect().map(r => (r.getLong(0), r.getLong(1)))
      val expected = pairs.collect {
        case (a, b) if a < 20 && b >= 20 => b
        case (a, b) if b < 20 && a >= 20 => a
      }.toSet
      assert(got == expected, s"docs=$docs")
    }
  }

  test("connectedComponents ignores edges outside the vertex set") {
    val s = spark
    import s.implicits._
    // Components are over the subgraph INDUCED by the vertices: the
    // dangling edge's id 3 must neither label 5 nor appear as a row,
    // and a chain relayed through the non-vertex 7 must NOT connect
    // 1 and 9 (callers pass vertex subsets against wider edge sets).
    val got = Dedup.connectedComponents(
      Seq(5L, 1L, 9L).toDF("id"),
      Seq((3L, 5L), (1L, 7L), (7L, 9L)).toDF("id_a", "id_b"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(5L -> 5L, 1L -> 1L, 9L -> 9L))
  }

  test("lshLabelPairReport equals counting the materialized pair set") {
    val rnd = new Random(31)
    val vocab = Vector("aa", "bb", "cc", "dd", "ee", "ff")
    for (_ <- 1 to 3) {
      val docs = Seq.tabulate(30) { i =>
        (i.toLong, Seq.fill(3 + rnd.nextInt(6))(vocab(rnd.nextInt(vocab.size)))
          .mkString(" "), s"lab${rnd.nextInt(3)}")
      }
      val s = spark
      import s.implicits._
      val df = docs.toDF("doc_id", "text", "lab")
      val got = Dedup.lshLabelPairReport(df, "text", "doc_id", "lab", 16, 8,
        includeSameLabel = true)
        .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2))
        .toMap
      // Reference: materialize the candidate pairs, label them, count.
      val labels = docs.map(d => d._1 -> d._3).toMap
      val expected = Dedup.minhashCandidatePairs(df, "text", "doc_id", 16, 8)
        .collect().map(r => (r.getLong(0), r.getLong(1)))
        .groupBy { case (a, b) =>
          val (la, lb) = (labels(a), labels(b))
          (if (la <= lb) la else lb, if (la <= lb) lb else la)
        }.view.mapValues(_.length.toLong).toMap
      assert(got == expected, s"docs=$docs")
    }
  }

  test("lshLabelPairReport rejects per-document label cardinality") {
    val s = spark
    import s.implicits._
    // A label column with one value per document makes the collected
    // report the pair set itself — the guard must refuse before the
    // 2^bands inclusion-exclusion terms and the driver collect.
    val docs = Seq.tabulate(Dedup.maxReportLabels.toInt + 1)(i =>
      (i.toLong, s"tok$i tok${i + 1}", s"doc$i")).toDF("doc_id", "text", "lab")
    val ex = intercept[IllegalArgumentException] {
      Dedup.lshLabelPairReport(docs, "text", "doc_id", "lab", 4, 4)
    }
    assert(ex.getMessage.contains("distinct 'lab' labels"))
  }

  test("packShards equals the driver-side prefix-sum layout") {
    val rnd = new Random(13)
    for (_ <- 1 to 3) {
      val rows = Seq.tabulate(25)(i =>
        (i.toLong, s"s${rnd.nextInt(3)}", 1L + rnd.nextInt(500)))
      val s = spark
      import s.implicits._
      val got = graft.operators.Sampling
        .packShards(rows.toDF("id", "src", "n"), Seq("src"), "id", "n", 600L)
        .collect().map(r => r.getLong(0) -> r.getLong(3)).toMap
      val expected = rows.groupBy(_._2).flatMap { case (_, rs) =>
        rs.sortBy(_._1).foldLeft((0L, List.empty[(Long, Long)])) {
          case ((acc, out), (id, _, n)) => (acc + n, (id, acc / 600L) :: out)
        }._2
      }
      assert(got == expected.toMap, s"rows=$rows")
    }
  }

  test("asofJoin equals per-row brute-force lookup on random series") {
    val rnd = new Random(7)
    def ts(v: Long) = new Timestamp(1700000000000L + v * 60000L)
    for (_ <- 1 to 5) {
      val lefts = Seq.tabulate(12)(i =>
        (i.toLong, rnd.nextInt(4).toLong, rnd.nextInt(50).toLong))
      val rights = Seq.fill(8)(
        (rnd.nextInt(4).toLong, rnd.nextInt(50).toLong)).distinct

      val s = spark
      import s.implicits._
      val l = lefts.map { case (i, k, t) => (i, k, ts(t)) }.toDF("lid", "k", "t")
      val r = rights.map { case (k, t) => (k, ts(t), k * 1000 + t) }
        .toDF("rk", "rt", "rv")
      val got = AsofJoin.asofJoin(l, r, "k", "rk", "t", "rt", Seq("rv"))
        .collect()
        .map(row => row.getLong(0) ->
          (if (row.isNullAt(3)) None else Some(row.getLong(3)))).toMap
      val expected = lefts.map { case (i, k, t) =>
        val candidates = rights.filter { case (rk, rt) => rk == k && rt <= t }
        i -> (if (candidates.isEmpty) None
          else { val (ck, ct) = candidates.maxBy(_._2); Some(ck * 1000 + ct) })
      }.toMap
      assert(got == expected, s"lefts=$lefts rights=$rights")
    }
  }

  test("lshCosinePairs is a subset of the exact threshold pairs, with " +
      "exactly the same-bucket survivors") {
    val rnd = new Random(11)
    val s = spark
    import s.implicits._
    val dims = 8
    val n = 40
    val vecs = (0 until n).map(i =>
      (i.toLong, Array.fill(dims)(rnd.nextGaussian().toFloat)))
    val df = vecs.toDF("vec_id", "embedding")
    val got = Dedup.lshCosinePairs(df, "embedding", "vec_id",
      numPlanes = 3, dims = dims, minCosine = 0.1)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet

    // Driver reference: same md5 planes, same bucket rule, same cosine.
    val planes = graft.similarity.Knn.planes(3, dims)
    def bucket(v: Array[Float]): Long =
      planes.zipWithIndex.map { case (w, p) =>
        val d = v.zip(w).foldLeft(0.0) { case (acc, (x, ww)) => acc + x * ww }
        if (d >= 0.0) 1L << p else 0L
      }.sum
    def cos(a: Array[Float], b: Array[Float]): Double = {
      def dot(x: Array[Float], y: Array[Float]) =
        x.zip(y).foldLeft(0.0) { case (acc, (p, q)) => acc + p.toDouble * q.toDouble }
      BigDecimal(dot(a, b) / (math.sqrt(dot(a, a)) * math.sqrt(dot(b, b))))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    val expected = (for {
      i <- vecs.indices; j <- vecs.indices if i < j
      if bucket(vecs(i)._2) == bucket(vecs(j)._2)
      if cos(vecs(i)._2, vecs(j)._2) >= 0.1
    } yield (vecs(i)._1, vecs(j)._1)).toSet
    assert(got == expected)
    // And it IS a subset of the unblocked threshold graph.
    val exact = (for {
      i <- vecs.indices; j <- vecs.indices if i < j
      if cos(vecs(i)._2, vecs(j)._2) >= 0.1
    } yield (vecs(i)._1, vecs(j)._1)).toSet
    assert(got.subsetOf(exact))
  }

  test("Neyman allocation always sums exactly to the budget") {
    // The largest-remainder step must absorb floor truncation exactly —
    // across random strata shapes the per-stratum allocs sum to 100.
    val rnd = new Random(23)
    val s = spark
    import s.implicits._
    for (_ <- 1 to 3) {
      val rows = (0 until 200).map { i =>
        (s"src${rnd.nextInt(7)}", i.toLong, (20 + rnd.nextInt(400)).toLong)
      }
      val path = "/tmp/graft_neyman_prop"
      rows.toDF("source", "doc_id", "n_chars").write
        .mode("overwrite").parquet(s"$path/documents.parquet")
      // reuse the real corpus loader contract via a scratch dir
      val out = graft.queries.PipelineQueries.qpNeyman(spark, path)
      val allocs = out.select("source", "alloc").distinct()
        .collect().map(_.getLong(1))
      assert(allocs.sum === 100L, s"allocs=${allocs.toSeq}")
      // the emitted sample honors the per-stratum alloc exactly
      val bySrc = out.groupBy("source").count().collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      val allocBySrc = out.select("source", "alloc").distinct()
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(bySrc == allocBySrc.filter(_._2 > 0))
    }
  }

  test("modularity terms are bounded and the CDC chunking partitions tokens") {
    val s = spark
    import s.implicits._
    // modularity: for any partition, Q ∈ [-1, 1] and Σ e_s ≤ m — run the
    // real query on sf0.001 and check the invariants.
    val q = graft.queries.DedupQueries.qdModularity(spark, "/root/testdata/sf0.001")
      .collect()
    if (q.nonEmpty) {
      val total = q.head.getAs[Double]("modularity_total")
      assert(total >= -1.0 && total <= 1.0)
      assert(q.map(_.getAs[Double]("term")).forall(t => t >= -1.0 && t <= 1.0))
    }
    // CDC: chunks rejoin to the document exactly (token conservation).
    val stats = graft.queries.DedupQueries.qdCdcChunks(spark, "/root/testdata/sf0.001")
      .agg(org.apache.spark.sql.functions.sum("n_chunks")).head().getLong(0)
    assert(stats > 0)
  }

  test("soft-dedup weights: every doc once, cluster mass exactly 1") {
    val out = graft.queries.PipelineQueries
      .qpWeights(spark, "/root/testdata/sf0.001").collect()
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    assert(out.length.toLong == docs.count()) // no doc dropped, none duplicated
    assert(out.map(_.getAs[Long]("doc_id")).distinct.length == out.length)
    out.groupBy(_.getAs[Long]("component_id")).foreach { case (_, rows) =>
      val mass = rows.map(_.getAs[Double]("weight")).sum
      assert(math.abs(mass - 1.0) < 1e-4) // round-6 weights; 1/size each
      assert(rows.forall(_.getAs[Long]("cluster_size") == rows.length.toLong))
    }
  }

  test("qsMmr equals a driver-side greedy MMR walk") {
    import scala.math.BigDecimal.RoundingMode.HALF_UP
    val dir = "/root/testdata/sf0.001"
    // Same primitives as the operator: LEFT-TO-RIGHT fold dot product
    // (Portable.dot's order), HALF_UP rounding (Spark round's rule).
    def dot(a: Array[Double], b: Array[Double]): Double = {
      var acc = 0.0; var i = 0
      while (i < a.length) { acc += a(i) * b(i); i += 1 }
      acc
    }
    def rnd(x: Double, s: Int): Double =
      BigDecimal(x).setScale(s, HALF_UP).toDouble
    val vecs = Tables.load(spark, dir, "embeddings")
      .select("vec_id", "embedding").collect()
      .map(r => r.getAs[Long]("vec_id") ->
        r.getSeq[Float](1).map(_.toDouble).toArray).toMap
    val norms = vecs.map { case (k, v) => k -> math.sqrt(dot(v, v)) }
    def cos(a: Long, b: Long): Double =
      rnd(dot(vecs(a), vecs(b)) / (norms(a) * norms(b)), 6)

    val expected = (for (q <- vecs.keys.filter(_ < 8)) yield {
      val cand = vecs.keys.filter(_ != q).toSeq
        .map(c => (c, cos(q, c)))
        .sortBy { case (id, rel) => (-rel, id) }.take(20)
      var selected = Vector.empty[(Long, Double, Double)] // id, rel, score
      for (_ <- 1 to 5) {
        val rem = cand.filterNot(c => selected.exists(_._1 == c._1))
        val pick = rem.map { case (id, rel) =>
          val ms = if (selected.isEmpty) 0.0
            else selected.map(s => cos(id, s._1)).max
          (id, rel, 0.7 * rel - 0.3 * ms)
        }.minBy { case (id, _, score) => (-score, id) }
        selected :+= pick
      }
      selected.zipWithIndex.map { case ((id, rel, score), i) =>
        (q, i + 1, id, rel, rnd(score, 7)) }
    }).flatten.toSet

    val got = graft.queries.SimilarityQueries.qsMmr(spark, dir).collect()
      .map(r => (r.getAs[Long]("q_id"), r.getAs[Int]("sel_rank"),
        r.getAs[Long]("neighbor_id"), r.getAs[Double]("relevance"),
        r.getAs[Double]("mmr_score"))).toSet
    assert(got == expected)
  }

  test("qeShapley satisfies the efficiency axiom: sum of phi = v(full) - v(empty)") {
    val out = graft.queries.EventQueries
      .qeShapley(spark, "/root/testdata/sf0.001").collect()
    assert(out.length == 4)
    val sumPhi = out.map(_.getAs[Double]("shapley")).sum
    val gap = out.head.getAs[Double]("efficiency_gap")
    // Each phi is independently rounded to 6 dp, so the axiom holds to
    // the accumulated rounding tolerance, not exactly.
    assert(math.abs(sumPhi - gap) < 4e-6, s"sumPhi=$sumPhi gap=$gap")
  }

  test("substringRuns equals diagonal-walk brute force on planted overlaps") {
    val rnd = new Random(1234)
    val s = spark
    import s.implicits._

    // Reference: walk every diagonal of the token-match matrix and
    // collect maximal equal-runs of length >= n (1-based starts).
    def spans(a: IndexedSeq[String], b: IndexedSeq[String], n: Int)
        : Set[(Int, Int, Long)] = {
      val out = scala.collection.mutable.Set[(Int, Int, Long)]()
      for (d <- -(b.length - 1) to (a.length - 1)) {
        var i = math.max(0, d)
        var run = 0
        var runStart = -1
        while (i < a.length && (i - d) < b.length) {
          if (a(i) == b(i - d)) { if (run == 0) runStart = i; run += 1 }
          else { if (run >= n) out += ((runStart + 1, runStart - d + 1, run.toLong)); run = 0 }
          i += 1
        }
        if (run >= n) out += ((runStart + 1, runStart - d + 1, run.toLong))
      }
      out.toSet
    }

    for (trial <- 1 to 3) {
      // Shared segments (8..20 tokens) planted into docs of unique
      // filler; only segments >= 13 can produce spans, and adjacent
      // plants can merge — the reference walk decides, not the builder.
      val segs = Vector.tabulate(4)(k =>
        Vector.tabulate(8 + rnd.nextInt(13))(j => s"seg${trial}_${k}_$j"))
      val docs = (0 until 6).map { id =>
        var toks = Vector.empty[String]
        var f = 0
        def filler(): Unit = { toks ++= Vector.tabulate(1 + rnd.nextInt(3)) {
          _ => f += 1; s"f${trial}_${id}_$f" } }
        filler()
        (0 until 2 + rnd.nextInt(2)).foreach { _ =>
          toks ++= segs(rnd.nextInt(segs.length)); filler()
        }
        id.toLong -> toks
      }
      val df = docs.map { case (id, t) => (id, t.mkString(" ")) }
        .toDF("doc_id", "text")
      val got = graft.dedup.Dedup
        .substringRuns(df, "text", "doc_id", 13, 1000).collect()
        .groupBy(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b")))
        .map { case (k, rs) => k -> rs.map(r => (r.getAs[Int]("start_a"),
          r.getAs[Int]("start_b"), r.getAs[Long]("span_tokens"))).toSet }
      val expected = (for {
        a <- docs; b <- docs if a._1 < b._1
        sp = spans(a._2, b._2, 13) if sp.nonEmpty
      } yield (a._1, b._1) -> sp).toMap
      assert(got == expected, s"trial=$trial")
    }
  }

  test("TopK.perKey equals a driver-side sort-take on random data") {
    import org.apache.spark.sql.functions.col
    val rnd = new Random(13)
    val s = spark
    import s.implicits._
    for (trial <- 1 to 5) {
      val n = 50 + rnd.nextInt(400)
      val nKeys = 1 + rnd.nextInt(12)
      val k = 1 + rnd.nextInt(4)
      // Heavy value ties (mod 5) make the unique-id tie-break load-bearing.
      val rows = Seq.tabulate(n)(i =>
        (rnd.nextInt(nKeys).toLong, rnd.nextInt(5).toLong, i.toLong))
      val df = rows.toDF("key", "v", "id").repartition(7)
      val got = org.apache.spark.sql.graft.TopK
        .perKey(df, Seq("key"), Seq(col("v").desc, col("id").asc), k)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      val expected = rows.groupBy(_._1).valuesIterator.flatMap(g =>
        g.sortBy { case (_, v, id) => (-v, id) }.take(k)).toSet
      assert(got == expected, s"trial=$trial n=$n keys=$nKeys k=$k")
    }
  }
}
