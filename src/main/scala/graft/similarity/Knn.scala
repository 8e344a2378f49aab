package graft.similarity

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.Portable._
import java.nio.charset.StandardCharsets
import java.security.MessageDigest

/** Similarity search over an embedding column — SURVEY.md §2 items 26-27.
  *
  * Seven search entry points, from exact to approximate:
  *  - [[bruteForce]] (top-k) and [[radiusSearch]] (every neighbor above
  *    a cosine): exact, a broadcast (small) query set against every
  *    corpus vector — |Q|×N dot products, fully parallel, no shuffle
  *    besides the final per-query top-k.
  *  - [[ivfTopK]]: a deterministic k-means quantizer buckets the corpus;
  *    each query searches its `nprobe` nearest buckets.
  *  - [[pqTopK]] and [[ivfPqTopK]]: product-quantization codes scored by
  *    asymmetric distance, over the whole corpus or within IVF buckets.
  *  - [[lshMultiProbeTopK]]: random-hyperplane LSH. Every vector gets a
  *    bucket id from the sign pattern of `numPlanes` md5-derived
  *    hyperplane projections (deterministic, reproducible anywhere);
  *    each vector searches its own bucket plus `nflip` neighbouring
  *    ones, so the join shuffles on the bucket id instead of running
  *    O(N²) pairs. [[lshTopK]] is its single-probe case (nflip = 0).
  *
  * All of them score through one core: [[withNorm]] (norms once per
  * row), [[cosine]] or [[adcDistance]], and [[topK]] (one per-query rank
  * window).
  */
object Knn {

  /** Deterministic pseudo-random hyperplanes: component (p, j) is
    * `(md5_32("p_j") % 2001 - 1000) / 1000.0` — reproducible in any
    * engine with md5 (same formula as the DuckDB oracle). */
  def planes(numPlanes: Int, dims: Int): Seq[Seq[Double]] = {
    val md = MessageDigest.getInstance("MD5")
    (0 until numPlanes).map { p =>
      (0 until dims).map { j =>
        md.reset()
        val hex = md.digest(s"${p}_$j".getBytes(StandardCharsets.UTF_8))
          .take(4).map("%02x".format(_)).mkString
        val h = java.lang.Long.parseLong(hex, 16)
        (h % 2001 - 1000) / 1000.0
      }
    }
  }

  /** Bucket id column: bit p set when dot(vec, plane_p) >= 0. */
  def bucketId(vec: Column, planes: Seq[Seq[Double]]): Column =
    planes.zipWithIndex.map { case (w, p) =>
      when(dot(vec, typedLit(w)) >= 0.0, lit(1L << p)).otherwise(0L)
    }.reduce(_ + _)

  /** `df` plus `norm`, the L2 norm of its vector column `vec`. Every
    * search takes its norms from here, ONCE per row, never per pair in
    * the join that follows: the same doubles (sqrt of the same fold),
    * and each pair then costs one dot product instead of three. */
  private[graft] def withNorm(df: DataFrame, vec: String, norm: String): DataFrame =
    df.withColumn(norm, sqrt(dot(col(vec), col(vec))))

  /** `cosine`: the cosine of vectors `a` and `b` from their
    * [[withNorm]] norms, rounded to 6 dp. */
  private[graft] def cosine(a: String, normA: String, b: String,
      normB: String): Column =
    round(dot(col(a), col(b)) / (col(normA) * col(normB)), 6).as("cosine")

  private val qcCosine = cosine("q_vec", "q_norm", "c_vec", "c_norm")

  /** The `k` best rows of each `q_id` by `score`, ties to the lower
    * `neighbor_id`, numbered 1..k in `rank`: one window per query. */
  private[graft] def topK(pairs: DataFrame, k: Int, score: Column): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    pairs.withColumn("rank", row_number().over(
        Window.partitionBy("q_id").orderBy(score, col("neighbor_id"))))
      .where(col("rank") <= k)
  }

  // The query and corpus sides under the names qcCosine, adcDistance
  // and topK read.
  private def queryVecs(queries: DataFrame, vecCol: String, idCol: String) =
    queries.select(col(idCol).as("q_id"), asDoubles(col(vecCol)).as("q_vec"))

  private def corpusVecs(corpus: DataFrame, vecCol: String, idCol: String) =
    corpus.select(col(idCol).as("neighbor_id"), asDoubles(col(vecCol)).as("c_vec"))

  /** Exact cosine top-k of `queries` against `corpus` (both having
    * `idCol` + `vecCol`). Returns (q_id, neighbor_id, cosine, rank). */
  def bruteForce(corpus: DataFrame, queries: DataFrame, vecCol: String,
      idCol: String, k: Int): DataFrame =
    topK(allCosines(corpus, queries, vecCol, idCol), k, col("cosine").desc)

  /** (q_id, neighbor_id, cosine) for every query against every other
    * corpus vector, the query set broadcast. */
  private def allCosines(corpus: DataFrame, queries: DataFrame,
      vecCol: String, idCol: String): DataFrame = {
    val q = withNorm(queryVecs(queries, vecCol, idCol), "q_vec", "q_norm")
    val c = withNorm(corpusVecs(corpus, vecCol, idCol), "c_vec", "c_norm")
    c.join(broadcast(q), col("q_id") =!= col("neighbor_id"))
      .select(col("q_id"), col("neighbor_id"), qcCosine)
  }

  /** Range (radius) search: every corpus vector with cosine ≥
    * `minCosine` of each query — the "all sufficiently-similar
    * neighbors" complement of top-k, used for near-dup sweeps and
    * recall-oriented retrieval where result size is data-dependent.
    * Same broadcast-query exhaustive scan as [[bruteForce]]; the
    * threshold prunes in the same projection, so no rank window runs
    * at all. Returns (q_id, neighbor_id, cosine). */
  def radiusSearch(corpus: DataFrame, queries: DataFrame, vecCol: String,
      idCol: String, minCosine: Double): DataFrame =
    allCosines(corpus, queries, vecCol, idCol).where(col("cosine") >= minCosine)

  /** Deterministic IVF coarse quantizer, trained on a bounded sample —
    * the production IVF recipe: ONE distributed pass takes a
    * deterministic pseudo-random sample (top-`maxSample` by md5 of id —
    * a TakeOrdered job, no full sort, no RNG), then farthest-point
    * seeding and Lloyd's iterations run driver-side on the sample.
    * At 100 TB the index build therefore costs one scan; the trained
    * centroids broadcast as literals into the assignment projection.
    */
  def trainCentroids(corpus: DataFrame, vecCol: String, idCol: String,
      k: Int, iters: Int = 5, maxSample: Int = 10000): Seq[Seq[Double]] = {
    val sample = sampleVectors(corpus, vecCol, idCol, maxSample)
    require(sample.length >= k, s"need at least $k vectors, got ${sample.length}")
    lloydCluster(sample, k, iters)
  }

  /** The shared bounded training sample: deterministic pseudo-random
    * top-`maxSample` by md5 of id — a TakeOrdered job, no full sort,
    * no RNG. */
  private def sampleVectors(corpus: DataFrame, vecCol: String,
      idCol: String, maxSample: Int): Array[Array[Double]] =
    corpus
      .select(col(idCol).as("__id"), asDoubles(col(vecCol)).as("__v"))
      .orderBy(md5Hash32(concat_ws(":", lit("ivf"), col("__id"))), col("__id"))
      .limit(maxSample)
      .collect().map(_.getSeq[Double](1).toArray)

  private def d2(a: Array[Double], b: Array[Double]): Double = {
    var acc = 0.0; var i = 0
    while (i < a.length) { val d = a(i) - b(i); acc += d * d; i += 1 }
    acc
  }

  /** Farthest-point seeding + Lloyd's iterations (driver-side, on the
    * bounded sample). Deterministic: seeding spreads across the data's
    * modes (a fixed-prefix init can collapse into one cluster). */
  private def lloydCluster(sample: Array[Array[Double]], k: Int,
      iters: Int): Seq[Seq[Double]] = {
    val cents = scala.collection.mutable.ArrayBuffer(sample(0))
    while (cents.length < k) {
      cents += sample.maxBy(v => cents.map(c => d2(v, c)).min)
    }
    for (_ <- 1 to iters) {
      val assign = sample.map(v => cents.indices.minBy(i => d2(v, cents(i))))
      for (b <- cents.indices) {
        val members = sample.indices.filter(assign(_) == b)
        if (members.nonEmpty) {
          val mean = new Array[Double](cents(b).length)
          members.foreach { m =>
            var i = 0
            while (i < mean.length) { mean(i) += sample(m)(i); i += 1 }
          }
          cents(b) = mean.map(_ / members.length)
        }
      }
    }
    cents.map(_.toSeq).toSeq
  }

  /** Product-quantization codebooks: the vector splits into `m`
    * contiguous subspaces and each subspace gets its own `ksub`-way
    * k-means codebook, trained on the SAME bounded deterministic
    * sample as [[trainCentroids]]. An encoded vector is `m` small code
    * ints (m·log₂ksub bits instead of dims·32 — at 100 TB the
    * compressed codes fit executor memory where raw vectors never
    * would, which is the entire point of IVF-PQ). Returns
    * m × ksub × (dims/m) centroids. */
  def trainPqCodebooks(corpus: DataFrame, vecCol: String, idCol: String,
      m: Int, ksub: Int, iters: Int = 5,
      maxSample: Int = 10000): Seq[Seq[Seq[Double]]] = {
    val sample = sampleVectors(corpus, vecCol, idCol, maxSample)
    require(sample.length >= ksub,
      s"need at least $ksub vectors, got ${sample.length}")
    val dims = sample(0).length
    require(dims % m == 0, s"dims $dims not divisible by m=$m")
    val dsub = dims / m
    (0 until m).map { j =>
      lloydCluster(sample.map(_.slice(j * dsub, (j + 1) * dsub)), ksub, iters)
    }
  }

  /** PQ encode: per-subspace 0-based nearest-codeword index, as an
    * array<int> column of length m (the compressed representation the
    * corpus stores). Same c·c − 2v·c argmin as [[nearestCentroid]],
    * per subspace over a slice. */
  def pqEncode(vec: Column, codebooks: Seq[Seq[Seq[Double]]]): Column = {
    val dsub = codebooks.head.head.length
    array(codebooks.zipWithIndex.map { case (cb, j) =>
      nearestCentroidOf(slice(vec, j * dsub + 1, dsub), cb)
    }: _*)
  }

  private def nearestCentroidOf(sub: Column, cents: Seq[Seq[Double]]): Column = {
    val dists = cents.map { c =>
      val c2 = c.map(x => x * x).sum
      lit(c2) - lit(2.0) * dot(sub, typedLit(c))
    }
    val arr = array(dists: _*)
    (array_position(arr, array_min(arr)) - 1).cast("int")
  }

  /** PQ approximate top-k by asymmetric distance (ADC): the corpus
    * side carries ONLY its m-int code array; each (query, code) pair
    * scores as Σⱼ ‖q_subⱼ − codebookⱼ[codeⱼ]‖², computed against the
    * broadcast codebook literal — no corpus vector is ever touched at
    * query time. Queries broadcast as in [[bruteForce]]; the scale
    * variant composes with IVF bucketing exactly like [[ivfTopK]].
    * Returns (q_id, neighbor_id, approx_d2, rank). */
  def pqTopK(corpus: DataFrame, queries: DataFrame, vecCol: String,
      idCol: String, k: Int, codebooks: Seq[Seq[Seq[Double]]]): DataFrame = {
    val c = corpus.select(col(idCol).as("neighbor_id"),
      pqEncode(asDoubles(col(vecCol)), codebooks).as("codes"))
    val q = queryVecs(queries, vecCol, idCol)
    topK(c.join(broadcast(q), col("q_id") =!= col("neighbor_id"))
      .select(col("q_id"), col("neighbor_id"), adcDistance(codebooks)),
      k, col("approx_d2").asc)
  }

  /** `approx_d2`: the asymmetric (ADC) distance of `q_vec` to the
    * vector that `codes` encode, Σⱼ ‖q_subⱼ − codebookⱼ[codeⱼ]‖² against
    * the codebook literal, rounded to 6 dp. */
  private[graft] def adcDistance(codebooks: Seq[Seq[Seq[Double]]]): Column = {
    val dsub = codebooks.head.head.length
    val cbLit = typedLit(codebooks)
    val subD2 = (j: Column, code: Column) => {
      val cent = element_at(element_at(cbLit, j + 1), code + 1)
      val qSub = slice(col("q_vec"), j * dsub + 1, lit(dsub))
      aggregate(zip_with(qSub, cent, (x, y) => (x - y) * (x - y)),
        lit(0.0), (acc, v) => acc + v)
    }
    round(aggregate(sequence(lit(0), lit(codebooks.size - 1)), lit(0.0),
      (acc, j) => acc + subD2(j, element_at(col("codes"), j + 1))), 6)
      .as("approx_d2")
  }

  /** 0-based argmin over squared L2 distance to each centroid. Since
    * ||v−c||² = v·v − 2v·c + c·c and v·v is constant per row, the argmin
    * ranks by c·c − 2v·c only. */
  def nearestCentroid(vec: Column, cents: Seq[Seq[Double]]): Column =
    nearestCentroidOf(vec, cents)

  /** The `nprobe` nearest centroid ids, by the same ranking. Struct sort
    * (distance, index) keeps ties deterministic. */
  def probeCentroids(vec: Column, cents: Seq[Seq[Double]], nprobe: Int): Column = {
    val dists = cents.zipWithIndex.map { case (c, i) =>
      val c2 = c.map(x => x * x).sum
      struct((lit(c2) - lit(2.0) * dot(vec, typedLit(c))).as("d"),
        lit(i).as("i"))
    }
    slice(array_sort(array(dists: _*)), 1, nprobe).getField("i")
  }

  /** IVF approximate top-k: corpus vectors live in their nearest-centroid
    * bucket; each query searches only its `nprobe` closest buckets. The
    * scale path for ANN at 100 TB — the join shuffles on bucket id and
    * touches nprobe/k of the corpus per query.
    * Returns (q_id, neighbor_id, cosine, rank). */
  def ivfTopK(corpus: DataFrame, queries: DataFrame, vecCol: String,
      idCol: String, k: Int, numCentroids: Int, nprobe: Int,
      iters: Int = 5): DataFrame = {
    requireProbes(k, nprobe)
    val cents = trainCentroids(corpus, vecCol, idCol, numCentroids, iters)
    val c = withNorm(corpusVecs(corpus, vecCol, idCol)
      .withColumn("bucket", nearestCentroid(col("c_vec"), cents)), "c_vec", "c_norm")
    // The norm is taken per query, before the probe explode repeats the
    // query row once per probed bucket.
    val q = probeRows(withNorm(queryVecs(queries, vecCol, idCol), "q_vec", "q_norm"),
      cents, nprobe)
    topK(c.join(broadcast(q), Seq("bucket")).where(col("q_id") =!= col("neighbor_id"))
      .select(col("q_id"), col("neighbor_id"), qcCosine), k, col("cosine").desc)
  }

  /** Fails before the centroid training job: `nprobe <= 0` probes no
    * bucket and `k <= 0` ranks no neighbor, so either would return an
    * empty frame. */
  private def requireProbes(k: Int, nprobe: Int): Unit =
    require(k > 0 && nprobe > 0, s"k ($k) and nprobe ($nprobe) must be positive")

  /** One row per [[queryVecs]] row and probed bucket, in `bucket`. */
  private def probeRows(queryVecs: DataFrame, cents: Seq[Seq[Double]],
      nprobe: Int): DataFrame =
    queryVecs.withColumn("bucket",
      explode(probeCentroids(col("q_vec"), cents, nprobe)))

  /** The composed IVF-PQ search — the standard billion-scale ANN
    * layout: the coarse quantizer ([[trainCentroids]]) prunes the
    * corpus to `nprobe` buckets per query, and within those buckets
    * candidates score by PQ asymmetric distance over their m-int codes
    * ([[pqTopK]]'s ADC) — the index stores bucket id + codes per
    * vector (a few bytes), never raw vectors. Exactness knobs for
    * validation: nprobe = numCentroids removes the IVF approximation;
    * a saturated codebook removes the PQ approximation. Returns
    * (q_id, neighbor_id, approx_d2, rank). */
  def ivfPqTopK(corpus: DataFrame, queries: DataFrame, vecCol: String,
      idCol: String, k: Int, numCentroids: Int, nprobe: Int,
      codebooks: Seq[Seq[Seq[Double]]], iters: Int = 5): DataFrame = {
    requireProbes(k, nprobe)
    val cents = trainCentroids(corpus, vecCol, idCol, numCentroids, iters)
    val c = corpusVecs(corpus, vecCol, idCol)
      .select(col("neighbor_id"),
        nearestCentroid(col("c_vec"), cents).as("bucket"),
        pqEncode(col("c_vec"), codebooks).as("codes"))
    val q = probeRows(queryVecs(queries, vecCol, idCol), cents, nprobe)
    topK(c.join(broadcast(q), Seq("bucket")).where(col("q_id") =!= col("neighbor_id"))
      .select(col("q_id"), col("neighbor_id"), adcDistance(codebooks)),
      k, col("approx_d2").asc)
  }

  /** Multi-probe LSH top-k (Lv et al., "Multi-Probe LSH"): each query
    * searches its own bucket PLUS the `nflip` buckets reached by
    * flipping the hyperplanes with the smallest |projection| — the
    * planes the vector sits closest to, where a true neighbor most
    * likely landed on the other side. Recall rises toward brute force
    * without more hash tables (memory) or wider buckets (compute):
    * query-side fan-out is nflip+1 exploded probe rows, while the
    * corpus side still stores ONE bucket per vector, so the join stays
    * a bucket-key shuffle and no pair is generated twice. Probe order
    * is deterministic: (|margin|, plane-index) struct sort, bit masks
    * carried as per-plane literals (no variable shifts). Candidates
    * grow with `nflip`; at nflip = 0 each vector searches its own
    * bucket only ([[lshTopK]]).
    * Returns (q_id, neighbor_id, bucket, cosine, rank). */
  def lshMultiProbeTopK(corpus: DataFrame, vecCol: String, idCol: String,
      numPlanes: Int, dims: Int, k: Int, nflip: Int): DataFrame =
    topK(multiProbeCandidates(corpus, vecCol, idCol, numPlanes, dims, nflip),
      k, col("cosine").desc)

  /** The pre-rank candidate frame of [[lshMultiProbeTopK]] — one row per
    * (query, corpus vector sharing any probed bucket), each candidate
    * generated exactly once (probed buckets are distinct, a corpus
    * vector lives in one bucket). Exposed for the probe operating-curve
    * eval, whose scan-cost metric is the size of THIS frame. */
  def multiProbeCandidates(corpus: DataFrame, vecCol: String, idCol: String,
      numPlanes: Int, dims: Int, nflip: Int): DataFrame =
    multiProbeCandidatesPrepared(
      prepareProbeIndex(corpus, vecCol, idCol, numPlanes, dims),
      numPlanes, nflip)

  /** The (id, vector, per-plane projections, bucket, norm) frame every
    * probe budget shares — split out (r14) so a sweep over nflip values
    * ([[graft.queries.SimilarityQueries.qsProbeSweep]]) can materialize
    * the corpus-side index ONCE instead of re-projecting the full
    * corpus per branch (4 budgets × 2 consumers = 8 executions of the
    * plane dots, stage-profiled). Column layout is an internal
    * contract with [[multiProbeCandidatesPrepared]]. */
  def prepareProbeIndex(corpus: DataFrame, vecCol: String, idCol: String,
      numPlanes: Int, dims: Int): DataFrame = {
    val ps = planes(numPlanes, dims)
    withNorm(corpus.select(col(idCol).as("__id"),
      asDoubles(col(vecCol)).as("__v"))
      .withColumn("__projs",
        array(ps.map(w => dot(col("__v"), typedLit(w))): _*))
      .withColumn("bucket",
        (0 until numPlanes).map { p =>
          when(element_at(col("__projs"), p + 1) >= 0.0, lit(1L << p))
            .otherwise(0L)
        }.reduce(_ + _)), "__v", "__norm")
  }

  /** [[multiProbeCandidates]] over an already-built (possibly
    * block-backed) [[prepareProbeIndex]] frame. */
  def multiProbeCandidatesPrepared(prepared: DataFrame,
      numPlanes: Int, nflip: Int): DataFrame = {
    require(nflip >= 0 && nflip <= numPlanes, s"nflip $nflip out of range")
    // The own bucket, then at nflip > 0 one per nearest-margin plane,
    // ties to the lower plane index; masks ride the sort as literals so
    // the flip is bucket XOR mask. At nflip = 0 no sort runs.
    val probe =
      if (nflip == 0) col("bucket")
      else {
        val flipMasks = slice(array_sort(array((0 until numPlanes).map { p =>
          struct(abs(element_at(col("__projs"), p + 1)).as("a"),
            lit(p).as("i"), lit(1L << p).as("m"))
        }: _*)), 1, nflip).getField("m")
        explode(concat(array(col("bucket")),
          transform(flipMasks, m => col("bucket").bitwiseXOR(m))))
      }
    val a = prepared.select(col("__id").as("q_id"), col("__v").as("q_vec"),
      probe.as("bucket"), col("__norm").as("q_norm"))
    val b = prepared.select(col("__id").as("neighbor_id"),
      col("__v").as("c_vec"), col("bucket"), col("__norm").as("c_norm"))
    a.join(b, Seq("bucket")).where(col("q_id") =!= col("neighbor_id"))
      .select(col("q_id"), col("neighbor_id"), col("bucket"), qcCosine)
  }

  /** LSH index-health histogram — the ANN counterpart of the MinHash
    * band-bucket report: bucket-size distribution with, per size
    * class, the bucket count, vectors held, and in-bucket candidate
    * pairs C(size, 2) the search join would generate. Read BEFORE the
    * expensive search runs: a fat head size class means the hyperplane
    * count is too low (buckets collapse and the "approximate" search
    * degenerates toward all-pairs); many size-1 buckets at the tail
    * quantify recall risk (singleton vectors see no candidates). Two
    * combinable aggregations over (bucket) then (size); output is
    * ≤ 2^numPlanes rows collapsed to size classes. */
  def lshBucketStats(corpus: DataFrame, vecCol: String, idCol: String,
      numPlanes: Int, dims: Int): DataFrame = {
    val ps = planes(numPlanes, dims)
    corpus.select(col(idCol).as("__id"), asDoubles(col(vecCol)).as("__v"))
      .withColumn("bucket", bucketId(col("__v"), ps))
      .groupBy("bucket").agg(count(lit(1)).as("__sz"))
      .groupBy(col("__sz").as("bucket_size"))
      .agg(count(lit(1)).as("n_buckets"))
      .select(col("bucket_size"), col("n_buckets"),
        (col("bucket_size") * col("n_buckets")).as("n_vectors"),
        // Integral `div`, not `/`: double division loses exactness past
        // 2^53 candidate pairs — reachable for a degenerate head bucket
        // at corpus scale.
        expr("n_buckets * (bucket_size * (bucket_size - 1) div 2)")
          .as("n_candidate_pairs"))
      .orderBy("bucket_size")
  }

  /** Single-probe LSH top-k: [[lshMultiProbeTopK]] at nflip = 0, each
    * vector ranked against its own bucket only.
    * Returns (q_id, neighbor_id, bucket, cosine, rank). */
  def lshTopK(corpus: DataFrame, vecCol: String, idCol: String,
      numPlanes: Int, dims: Int, k: Int): DataFrame =
    lshMultiProbeTopK(corpus, vecCol, idCol, numPlanes, dims, k, nflip = 0)
}
