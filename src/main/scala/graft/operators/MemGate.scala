package graft.operators

import org.apache.spark.sql.SparkSession

/** Executor-heap-aware default for the size gates on hash-relation
  * builds.
  *
  * The tf-idf scorer broadcasts its attach frame when a one-job size
  * probe fits under a byte gate, and the SNM verifier keeps its
  * shuffle-hash attach only while the per-partition build fits the
  * same envelope (`spark.graft.snm.shjMaxBuildBytes`). The gate's
  * envelope measures the frame's DATA (64 B/row + per-term/shingle
  * bytes), but what an executor actually holds is several times that:
  * the deserialized hash relation (UnsafeRow copies + index) for EACH
  * of the two probes, resident simultaneously, plus task scratch.
  * Measured in real executor JVMs (ClusterSmoke, sf4's ~0.5 GB-envelope
  * vector frame): 16 g heap runs the broadcast path comfortably, 10 g
  * dies with a plain `java.lang.OutOfMemoryError: Java heap space` in
  * the scoring stage, 6 g dies faster. A fixed 1 GiB default is
  * therefore correct only for ≥ 16 g executors — on smaller ones the
  * gate must shrink so the shuffle fallback (correct at any heap,
  * disk-bounded) takes over.
  *
  * Default: min(1 GiB, executorHeap / 24) — 16 g → 683 MB (broadcasts
  * the measured frame, as the 16 g ladder always did), 10 g → 427 MB
  * (falls back, avoiding the measured OOM), 6 g → 256 MB (falls back).
  * An explicit gate key (`spark.graft.tfidf.maxBroadcastBytes`,
  * `spark.graft.{tfidf,snm}.shjMaxBuildBytes`) overrides the heuristic
  * entirely — the operator owner knows their executors.
  * Heap source: `spark.executor.memory` when set (bare numbers are
  * MiB, per Spark's convention for this conf); otherwise this JVM's
  * max heap (local mode, where the executor IS the driver).
  */
object MemGate {

  /** Spark memory-conf string → bytes. Bare digits mean MiB
    * (spark.executor.memory's unit convention); suffixed forms go
    * through Spark's own parser ("4g", "512m", "1t"). */
  def parseMemoryString(s: String): Long = {
    val t = s.trim
    if (t.nonEmpty && t.forall(_.isDigit)) t.toLong << 20
    else org.apache.spark.network.util.JavaUtils.byteStringAsBytes(t)
  }

  def executorHeapBytes(spark: SparkSession): Long =
    spark.conf.getOption("spark.executor.memory")
      .map(parseMemoryString)
      .getOrElse(Runtime.getRuntime.maxMemory)

  def defaultMaxBroadcastBytes(heapBytes: Long): Long =
    math.min(1L << 30, heapBytes / 24)

  /** Resolve a gate conf: explicit value wins verbatim (validated as a
    * byte count), absent falls to the heap-aware default. */
  def gateBytes(spark: SparkSession, key: String): Long =
    spark.conf.getOption(key) match {
      case Some(raw) =>
        try raw.toLong catch {
          case _: NumberFormatException => throw new IllegalArgumentException(
            s"$key must be a byte count, got '$raw'")
        }
      case None => defaultMaxBroadcastBytes(executorHeapBytes(spark))
    }
}
