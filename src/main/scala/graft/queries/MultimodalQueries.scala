package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.multimodal.Multimodal

/** SURVEY.md §2 item 35 — binary media columns + partition-aware
  * feature extraction, verified against a DuckDB oracle that recomputes
  * the stub decoder's arithmetic over the same bytes (documents are
  * ASCII, so code points == bytes).
  */
object MultimodalQueries {

  def qmBinaryFeatures(spark: SparkSession, dir: String): DataFrame =
    Multimodal.extractFeatures(
      Multimodal.asMedia(Tables.load(spark, dir, "documents")))
      .toDF().orderBy("doc_id")

  val qmBinaryFeaturesSql: String =
    """WITH b AS (
      |  SELECT doc_id, 'blob/' || source AS media_type,
      |    CAST(length(text) AS BIGINT) AS n_bytes,
      |    CAST(list_sum(list_transform(string_split(text, ''),
      |      c -> unicode(c))) AS BIGINT) AS byte_sum,
      |    md5(text) AS content_md5
      |  FROM documents
      |)
      |SELECT doc_id, media_type, n_bytes, byte_sum,
      |  1 + byte_sum % 64 AS width,
      |  1 + n_bytes % 48 AS height,
      |  least(1 + byte_sum % 64, 32) AS resized_w,
      |  least(1 + n_bytes % 48, 32) AS resized_h,
      |  1 + byte_sum % 7 AS n_frames,
      |  content_md5
      |FROM b
      |ORDER BY doc_id""".stripMargin

  /** §2 item 35 (frame sampling) — one-to-many stub decode: each doc
    * expands to 1 + byte_sum%7 frames with per-frame hashes. */
  def qmFrames(spark: SparkSession, dir: String): DataFrame =
    Multimodal.sampleFrames(
      Multimodal.asMedia(Tables.load(spark, dir, "documents")))
      .toDF().orderBy("doc_id", "frame_idx")

  val qmFramesSql: String =
    """WITH b AS (
      |  SELECT doc_id,
      |    CAST(list_sum(list_transform(string_split(text, ''),
      |      c -> unicode(c))) AS BIGINT) AS byte_sum
      |  FROM documents
      |)
      |SELECT doc_id, f.range AS frame_idx,
      |  md5(doc_id || ':' || f.range) AS frame_hash
      |FROM b CROSS JOIN range(0, 7) f
      |WHERE f.range < 1 + byte_sum % 7
      |ORDER BY doc_id, frame_idx""".stripMargin

  /** §2.35h — scene-change (shot-boundary) detection over the sampled
    * frame stream: consecutive frames compare by the hamming distance
    * of their 32-bit signature (derived from the frame hash — the
    * decoder is the documented stub; with a real codec the signature
    * column becomes the frame's dHash and NOTHING downstream changes),
    * a cut is declared at distance ≥ 18/32, and each video reports
    * frame count, scene count, mean scene length, and the sharpest
    * cut. This is the video-pipeline segmentation primitive (sample →
    * per-shot representative frame → embed per shot, not per frame).
    * Scale: one window pass partitioned by doc — the lag/bit_count
    * chain is pure codegen — and one rollup; nothing global. */
  def qmSceneChange(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val frames = Multimodal.sampleFrames(
      Multimodal.asMedia(Tables.load(spark, dir, "documents"))).toDF()
    val w = Window.partitionBy("doc_id").orderBy("frame_idx")
    frames
      .withColumn("__sig",
        conv(substring(col("frame_hash"), 1, 8), 16, 10).cast("long"))
      .withColumn("__prev", lag(col("__sig"), 1).over(w))
      .withColumn("__ham", when(col("__prev").isNotNull,
        bit_count(col("__sig").bitwiseXOR(col("__prev")))).cast("int"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_frames"),
        (sum(when(col("__ham") >= 18, 1L).otherwise(0L)) + lit(1L))
          .as("n_scenes"),
        max(col("__ham")).as("max_cut_hamming"))
      .withColumn("avg_scene_frames", round(
        col("n_frames").cast("double") / col("n_scenes").cast("double"), 6))
      .orderBy("doc_id")
  }

  val qmSceneChangeSql: String =
    """WITH b AS (
      |  SELECT doc_id,
      |    CAST(list_sum(list_transform(string_split(text, ''),
      |      c -> unicode(c))) AS BIGINT) AS byte_sum
      |  FROM documents
      |), fr AS (
      |  SELECT doc_id, f.range AS frame_idx,
      |    ('0x' || substr(md5(doc_id || ':' || f.range), 1, 8))::BIGINT AS sig
      |  FROM b CROSS JOIN range(0, 7) f
      |  WHERE f.range < 1 + byte_sum % 7
      |), d AS (
      |  SELECT doc_id, sig,
      |    lag(sig) OVER (PARTITION BY doc_id ORDER BY frame_idx) AS prev
      |  FROM fr
      |), h AS (
      |  SELECT doc_id,
      |    CASE WHEN prev IS NOT NULL
      |      THEN CAST(bit_count(xor(sig, prev)) AS INT) END AS ham
      |  FROM d
      |)
      |SELECT doc_id, COUNT(*) AS n_frames,
      |  CAST(SUM(CASE WHEN ham >= 18 THEN 1 ELSE 0 END) + 1 AS BIGINT)
      |    AS n_scenes,
      |  MAX(ham) AS max_cut_hamming,
      |  round(CAST(COUNT(*) AS DOUBLE) /
      |    CAST(SUM(CASE WHEN ham >= 18 THEN 1 ELSE 0 END) + 1 AS DOUBLE), 6)
      |    AS avg_scene_frames
      |FROM h GROUP BY doc_id
      |ORDER BY doc_id""".stripMargin

  /** §2 item 35 (fixed-window segmentation) — every doc expands to its
    * ⌈len/256⌉ fixed-size chunks, last one ragged (the audio/waveform
    * batch shape). */
  def qmChunks(spark: SparkSession, dir: String): DataFrame =
    Multimodal.fixedChunks(Tables.load(spark, dir, "documents"),
      "text", "doc_id", 256)
      .orderBy("doc_id", "chunk_idx")

  // LATERAL unnest: the chunk range derives from each row's own length,
  // so no fixed cap can silently diverge from the Spark side on long
  // documents.
  val qmChunksSql: String =
    """SELECT doc_id, t.chunk_idx,
      |  length(substr(text, CAST(t.chunk_idx * 256 + 1 AS INT), 256)) AS chunk_len,
      |  md5(substr(text, CAST(t.chunk_idx * 256 + 1 AS INT), 256)) AS chunk_md5
      |FROM documents, LATERAL (
      |  SELECT unnest(range(0, CAST(ceil(length(text) / 256.0) AS BIGINT))) AS chunk_idx
      |) t
      |ORDER BY doc_id, chunk_idx""".stripMargin

  /** §2 item 35b — modality-mix report: per media type, asset count,
    * total/max bytes, and byte share of the corpus. The storage-planning
    * and mix-monitoring view of a multimodal lake (is video eating the
    * budget? did an ingest drop a modality?). One shuffle: groupBy on
    * the low-cardinality type tag; the corpus total is a 1-row
    * aggregate broadcast back over the tiny per-type frame — never a
    * window over the fact table. */
  def qmModalityMix(spark: SparkSession, dir: String): DataFrame = {
    val media = Multimodal.asMedia(Tables.load(spark, dir, "documents")).toDF()
    val perType = media.groupBy("media_type")
      .agg(count(lit(1)).as("n_assets"),
        sum(col("n_bytes")).as("total_bytes"),
        max(col("n_bytes")).as("max_bytes"))
    val corpus = perType.agg(sum(col("total_bytes")).as("corpus_bytes"))
    perType.crossJoin(broadcast(corpus))
      .select(col("media_type"), col("n_assets"), col("total_bytes"),
        col("max_bytes"),
        round(col("total_bytes").cast("double") / col("corpus_bytes"), 6)
          .as("byte_share"))
      .orderBy("media_type")
  }

  val qmModalityMixSql: String =
    """WITH t AS (
      |  SELECT 'blob/' || source AS media_type,
      |    COUNT(*) AS n_assets,
      |    CAST(SUM(CAST(length(text) AS BIGINT)) AS BIGINT) AS total_bytes,
      |    MAX(CAST(length(text) AS BIGINT)) AS max_bytes
      |  FROM documents GROUP BY 1
      |)
      |SELECT media_type, n_assets, total_bytes, max_bytes,
      |  round(CAST(total_bytes AS DOUBLE) / SUM(total_bytes) OVER (), 6)
      |    AS byte_share
      |FROM t ORDER BY media_type""".stripMargin

  /** §2 item 35c — cross-asset shared segments: fixed windows (the
    * [[Multimodal.fixedChunks]] decode shape) whose content hash occurs
    * in ≥ 2 distinct assets. The segment-level near-dup detector for
    * media (shared intro/outro frames, repeated audio beds, boilerplate
    * page regions) — the binary analogue of qt_passages. One shuffle on
    * chunk_md5 (the 128-bit content key, uniformly distributed so no
    * skew); the quadratic doc×doc pair space is never formed — the
    * report is per shared SEGMENT, linear in corpus chunks. */
  def qmSharedChunks(spark: SparkSession, dir: String): DataFrame =
    Multimodal.fixedChunks(Tables.load(spark, dir, "documents"),
      "text", "doc_id", 256)
      .groupBy("chunk_md5")
      .agg(countDistinct(col("doc_id")).as("n_docs"),
        count(lit(1)).as("n_occurrences"),
        min(col("doc_id")).as("first_doc"))
      .where(col("n_docs") >= 2)
      .orderBy("chunk_md5")

  val qmSharedChunksSql: String =
    """WITH c AS (
      |  SELECT doc_id,
      |    md5(substr(text, CAST(t.chunk_idx * 256 + 1 AS INT), 256)) AS chunk_md5
      |  FROM documents, LATERAL (
      |    SELECT unnest(range(0, CAST(ceil(length(text) / 256.0) AS BIGINT))) AS chunk_idx
      |  ) t
      |)
      |SELECT chunk_md5, COUNT(DISTINCT doc_id) AS n_docs,
      |  COUNT(*) AS n_occurrences, MIN(doc_id) AS first_doc
      |FROM c GROUP BY chunk_md5 HAVING COUNT(DISTINCT doc_id) >= 2
      |ORDER BY chunk_md5""".stripMargin

  /** §2.35d — perceptual-hash near-dup pairs over binary assets
    * ([[Multimodal.dhash64]]): 64-bit difference hash from the stub
    * decoder's byte signal, candidate pairs = Hamming ≤ 16 within a
    * media-type block (random pairs center at ~32 bits, so 16 is a 4σ
    * separation). The hash rides as two sign-safe 32-bit halves; the
    * oracle replays segment sums, gradient bits, and the blocked
    * Hamming join over the same bytes (ASCII: code points == bytes). */
  def qmPhashPairs(spark: SparkSession, dir: String): DataFrame = {
    val h = Multimodal.dhash64(
      Multimodal.asMedia(Tables.load(spark, dir, "documents"))).toDF()
    val a = h.select(col("media_type"), col("doc_id").as("id_a"),
      col("dhash_lo").as("__lo_a"), col("dhash_hi").as("__hi_a"))
    val b = h.select(col("media_type"), col("doc_id").as("id_b"),
      col("dhash_lo").as("__lo_b"), col("dhash_hi").as("__hi_b"))
    a.join(b, "media_type")
      .where(col("id_a") < col("id_b"))
      .withColumn("hamming",
        (bit_count(col("__lo_a").bitwiseXOR(col("__lo_b"))) +
          bit_count(col("__hi_a").bitwiseXOR(col("__hi_b")))).cast("int"))
      .where(col("hamming") <= 16)
      .select("id_a", "id_b", "hamming")
      .orderBy("id_a", "id_b")
  }

  /** The dHash-reconstruction CTEs shared verbatim by the pair and
    * cluster oracles (single source of truth — the two must never
    * drift on the hash definition). */
  private val phashCtes: String =
    """seg AS (
      |  SELECT doc_id, source,
      |    list_transform(range(0, 65), j ->
      |      coalesce(list_sum(list_transform(
      |        range((j * length(text)) // 65 + 1,
      |              ((j + 1) * length(text)) // 65 + 1),
      |        i -> unicode(substr(text, CAST(i AS INT), 1)))), 0)) AS s
      |  FROM documents
      |), h AS (
      |  SELECT doc_id, source,
      |    CAST(coalesce(list_sum(list_transform(range(0, 32), b ->
      |      CASE WHEN s[CAST(b AS INT) + 2] > s[CAST(b AS INT) + 1]
      |           THEN (1::BIGINT << CAST(b AS INT)) ELSE 0 END)), 0)
      |      AS BIGINT) AS dhash_lo,
      |    CAST(coalesce(list_sum(list_transform(range(32, 64), b ->
      |      CASE WHEN s[CAST(b AS INT) + 2] > s[CAST(b AS INT) + 1]
      |           THEN (1::BIGINT << (CAST(b AS INT) - 32)) ELSE 0 END)), 0)
      |      AS BIGINT) AS dhash_hi
      |  FROM seg
      |)""".stripMargin

  val qmPhashPairsSql: String =
    s"""WITH $phashCtes
       |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       |  CAST(bit_count(xor(a.dhash_lo, b.dhash_lo)) +
       |       bit_count(xor(a.dhash_hi, b.dhash_hi)) AS INT) AS hamming
       |FROM h a JOIN h b ON a.source = b.source AND a.doc_id < b.doc_id
       |WHERE bit_count(xor(a.dhash_lo, b.dhash_lo)) +
       |      bit_count(xor(a.dhash_hi, b.dhash_hi)) <= 16
       |ORDER BY id_a, id_b""".stripMargin

  /** §2.35g — BANDED perceptual-hash candidate pairs (the 100 TB path
    * for 35d, which verifies an all-pairs grid within media type):
    * the 64-bit dHash splits into four 16-bit bands; docs sharing ANY
    * band value bucket together, and only bucket-mates pay the
    * hamming verification — the same banding geometry as MinHash-LSH,
    * moved to Hamming space. Pigeonhole guarantee: ≤ 3 differing bits
    * cannot hit all four bands, so every hamming≤3 pair is RECALLED
    * with certainty, and near misses (4–16) are caught whenever a
    * band survives — the right trade for perceptual dedup where true
    * dups differ in a few gradient bits. Work is Σ buckets C(size,2),
    * never C(n,2); shuffles are band-key then pair-key. Output schema
    * matches 35d (id_a, id_b, hamming ≤ 16), so the downstream
    * cluster/savings operators compose unchanged. */
  def qmPhashBanded(spark: SparkSession, dir: String): DataFrame =
    bandedCandidates(spark, dir).orderBy("id_a", "id_b")

  /** The unsorted banded candidate edge set shared by 35g's census and
    * 35f's cluster build — Σ buckets C(size,2) work, never C(n,2).
    * Kept separate from [[qmPhashBanded]] so consumers don't pay the
    * presentation sort. */
  def bandedCandidates(spark: SparkSession, dir: String): DataFrame = {
    val h = Multimodal.dhash64(
      Multimodal.asMedia(Tables.load(spark, dir, "documents"))).toDF()
    val banded = h.select(col("media_type"), col("doc_id"),
      col("dhash_lo"), col("dhash_hi"),
      explode(array(
        struct(lit(0).as("b"),
          col("dhash_lo").bitwiseAND(lit(65535L)).as("v")),
        struct(lit(1).as("b"),
          shiftright(col("dhash_lo"), 16).bitwiseAND(lit(65535L)).as("v")),
        struct(lit(2).as("b"),
          col("dhash_hi").bitwiseAND(lit(65535L)).as("v")),
        struct(lit(3).as("b"),
          shiftright(col("dhash_hi"), 16).bitwiseAND(lit(65535L)).as("v"))))
        .as("band"))
      .select(col("media_type"), col("doc_id"), col("dhash_lo"),
        col("dhash_hi"), col("band.b").as("b"), col("band.v").as("v"))
    val a = banded.select(col("media_type"), col("b"), col("v"),
      col("doc_id").as("id_a"), col("dhash_lo").as("__lo_a"),
      col("dhash_hi").as("__hi_a"))
    val bb = banded.select(col("media_type"), col("b"), col("v"),
      col("doc_id").as("id_b"), col("dhash_lo").as("__lo_b"),
      col("dhash_hi").as("__hi_b"))
    a.join(bb, Seq("media_type", "b", "v"))
      .where(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        (bit_count(col("__lo_a").bitwiseXOR(col("__lo_b"))) +
          bit_count(col("__hi_a").bitwiseXOR(col("__hi_b"))))
          .cast("int").as("hamming"))
      .distinct()
      .where(col("hamming") <= 16)
  }

  /** The banded candidate-pair CTEs (banded explode + bucket join),
    * shared verbatim by the 35g census oracle and the 35f cluster
    * oracle so the two can never drift on the candidate set. Expects
    * `h` from [[phashCtes]] in scope. */
  private val bandedPairCtes: String =
    """banded AS (
      |  SELECT doc_id, source, dhash_lo, dhash_hi, b,
      |    CASE b WHEN 0 THEN dhash_lo & 65535
      |           WHEN 1 THEN (dhash_lo >> 16) & 65535
      |           WHEN 2 THEN dhash_hi & 65535
      |           ELSE (dhash_hi >> 16) & 65535 END AS v
      |  FROM h, (SELECT 0 AS b UNION ALL SELECT 1 UNION ALL SELECT 2
      |    UNION ALL SELECT 3) bands
      |), banded_pairs AS (
      |  SELECT DISTINCT a.doc_id AS id_a, b2.doc_id AS id_b,
      |    CAST(bit_count(xor(a.dhash_lo, b2.dhash_lo)) +
      |         bit_count(xor(a.dhash_hi, b2.dhash_hi)) AS INT) AS hamming
      |  FROM banded a
      |  JOIN banded b2 ON a.source = b2.source AND a.b = b2.b
      |    AND a.v = b2.v AND a.doc_id < b2.doc_id
      |  WHERE bit_count(xor(a.dhash_lo, b2.dhash_lo)) +
      |        bit_count(xor(a.dhash_hi, b2.dhash_hi)) <= 16
      |)""".stripMargin

  val qmPhashBandedSql: String =
    s"""WITH $phashCtes,
       |$bandedPairCtes
       |SELECT id_a, id_b, hamming FROM banded_pairs
       |ORDER BY id_a, id_b""".stripMargin

  /** §2.35f — perceptual-hash near-dup CLUSTERS with storage savings:
    * connected components over the hamming≤16 dHash pair graph
    * (same edge set as 35d), reported per cluster — member count,
    * total bytes, and the bytes a keep-one-representative policy
    * frees (canonical = min doc id, the component id itself). This is
    * the multimodal face of the dedup family's canonical election:
    * pairs say WHAT matches, clusters say what to DELETE. The
    * per-cluster rollup is one aggregate over the component assignment,
    * exact integer byte arithmetic throughout.
    *
    * Edge input is the BANDED candidate generator
    * ([[bandedCandidates]], §2.35g) — Σ buckets C(size,2) work with
    * the pigeonhole recall guarantee — never the all-pairs 35d grid;
    * the oracle replays the identical banded candidate set, so the
    * check stays exact (the same LSH-edge rebase the embedding graph
    * family got in round 9, moved to Hamming space). The all-pairs
    * [[qmPhashPairs]] survives as the small-SF recall cross-check. */
  def qmPhashClusters(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(spark, dir, "documents")
    val edges = bandedCandidates(spark, dir).select("id_a", "id_b")
    graft.dedup.Dedup
      .connectedComponents(docs.select("doc_id"), edges)
      .join(docs.select(col("doc_id"),
        length(col("text").cast("binary")).cast("long").as("__b")),
        Seq("doc_id"))
      .groupBy("component_id")
      .agg(count(lit(1)).as("n_media"),
        sum("__b").as("total_bytes"),
        sum(when(col("doc_id") =!= col("component_id"), col("__b"))
          .otherwise(0L)).as("bytes_saved"))
      .select(col("component_id").as("cluster_id"), col("n_media"),
        col("total_bytes"), col("bytes_saved"))
      .orderBy("cluster_id")
  }

  val qmPhashClustersSql: String =
    s"""WITH RECURSIVE $phashCtes,
       |$bandedPairCtes,
       |pairs AS (
       |  SELECT id_a, id_b FROM banded_pairs
       |), edges AS (
       |  SELECT id_a AS src, id_b AS dst FROM pairs
       |  UNION ALL
       |  SELECT id_b AS src, id_a AS dst FROM pairs
       |), reach AS (
       |  SELECT doc_id AS id, doc_id AS m FROM documents
       |  UNION
       |  SELECT e.dst AS id, r.m FROM reach r JOIN edges e ON e.src = r.id
       |), comp AS (
       |  SELECT id AS doc_id, MIN(m) AS cluster_id FROM reach GROUP BY id
       |)
       |SELECT c.cluster_id, CAST(COUNT(*) AS BIGINT) AS n_media,
       |  CAST(SUM(CAST(length(d.text) AS BIGINT)) AS BIGINT) AS total_bytes,
       |  CAST(SUM(CASE WHEN c.doc_id <> c.cluster_id
       |    THEN CAST(length(d.text) AS BIGINT) ELSE 0 END) AS BIGINT)
       |    AS bytes_saved
       |FROM comp c JOIN documents d ON d.doc_id = c.doc_id
       |GROUP BY c.cluster_id
       |ORDER BY c.cluster_id""".stripMargin

  /** §2.35e — chunk-level storage-dedup savings per media type: what a
    * content-addressed chunk store would save — per type, the chunk
    * count, distinct-chunk count, raw vs unique bytes, and the savings
    * ratio (35c finds WHICH segments repeat; this prices the dedup).
    * Two combinable rollups over the chunk frame: collapse to distinct
    * (type, chunk) with copy counts, then per type — exact integer
    * byte arithmetic until the one final ratio. */
  def qmDedupSavings(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(spark, dir, "documents")
    val chunks = Multimodal.fixedChunks(docs, "text", "doc_id", 256)
      .join(docs.select(col("doc_id"),
        concat(lit("blob/"), col("source")).as("media_type")), "doc_id")
    chunks
      .groupBy("media_type", "chunk_md5")
      .agg(count(lit(1)).as("__copies"), min(col("chunk_len")).as("__len"))
      .groupBy("media_type")
      .agg(sum(col("__copies")).as("n_chunks"),
        count(lit(1)).as("n_distinct_chunks"),
        sum(col("__copies") * col("__len")).as("total_bytes"),
        sum(col("__len")).as("unique_bytes"))
      .withColumn("savings_ratio",
        round(lit(1.0) - col("unique_bytes").cast("double") /
          col("total_bytes").cast("double"), 6))
      .orderBy("media_type")
  }

  val qmDedupSavingsSql: String =
    """WITH ch AS (
      |  SELECT doc_id, 'blob/' || source AS media_type,
      |    length(substr(text, CAST(t.chunk_idx * 256 + 1 AS INT), 256))
      |      AS chunk_len,
      |    md5(substr(text, CAST(t.chunk_idx * 256 + 1 AS INT), 256))
      |      AS chunk_md5
      |  FROM documents, LATERAL (
      |    SELECT unnest(range(0, CAST(ceil(length(text) / 256.0) AS BIGINT)))
      |      AS chunk_idx
      |  ) t
      |), d AS (
      |  SELECT media_type, chunk_md5,
      |    CAST(COUNT(*) AS BIGINT) AS copies,
      |    CAST(MIN(chunk_len) AS BIGINT) AS len
      |  FROM ch GROUP BY media_type, chunk_md5
      |)
      |SELECT media_type,
      |  CAST(SUM(copies) AS BIGINT) AS n_chunks,
      |  CAST(COUNT(*) AS BIGINT) AS n_distinct_chunks,
      |  CAST(SUM(copies * len) AS BIGINT) AS total_bytes,
      |  CAST(SUM(len) AS BIGINT) AS unique_bytes,
      |  round(1.0 - CAST(SUM(len) AS DOUBLE)
      |    / CAST(SUM(copies * len) AS DOUBLE), 6) AS savings_ratio
      |FROM d GROUP BY media_type
      |ORDER BY media_type""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "qm_dedup_savings" -> (qmDedupSavings _),
    "qm_phash_pairs" -> (qmPhashPairs _),
    "qm_phash_clusters" -> (qmPhashClusters _),
    "qm_phash_banded" -> (qmPhashBanded _),
    "qm_binary_features" -> (qmBinaryFeatures _),
    "qm_frames" -> (qmFrames _),
    "qm_scene_change" -> (qmSceneChange _),
    "qm_chunks" -> (qmChunks _),
    "qm_modality_mix" -> (qmModalityMix _),
    "qm_shared_chunks" -> (qmSharedChunks _))

  val oracles: Map[String, String] = Map(
    "qm_phash_pairs" -> qmPhashPairsSql,
    "qm_phash_clusters" -> qmPhashClustersSql,
    "qm_phash_banded" -> qmPhashBandedSql,
    "qm_dedup_savings" -> qmDedupSavingsSql,
    "qm_binary_features" -> qmBinaryFeaturesSql,
    "qm_frames" -> qmFramesSql,
    "qm_scene_change" -> qmSceneChangeSql,
    "qm_chunks" -> qmChunksSql,
    "qm_modality_mix" -> qmModalityMixSql,
    "qm_shared_chunks" -> qmSharedChunksSql)
}
