package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.Portable.md5Hash32

/** Deterministic sampling operators for corpus construction.
  *
  * Sampling for a training corpus must be REPRODUCIBLE — the same
  * inputs always elect the same rows, across engines, partitionings and
  * reruns — so selection orders by a seeded md5 of the row id (a
  * deterministic shuffle), never by `rand()`.
  */
object Sampling {

  /** The parameter checks of [[stratifiedTopK]], as the plan's sample
    * command states them. */
  def requireSample(stratumCols: Seq[String], k: Int): Unit = {
    require(stratumCols.nonEmpty, "sample needs stratumCols")
    require(k > 0, s"sample k must be positive, got $k")
  }

  /** Stratified cap: keep at most `k` rows per stratum, chosen by
    * seeded-md5 order, with the selection rank exposed as `sample_rank`
    * (1-based, dense within each stratum).
    *
    * `salts > 1` enables the two-phase plan for skewed strata: rows
    * first rank within (stratum, salt-of-id) partitions — `salts`-way
    * parallel even when one stratum dominates the dataset — and only
    * the ≤ `salts·k` per-stratum survivors enter the final per-stratum
    * ranking window. The pre-filter is lossless (each salt partition
    * keeps k rows, so every global top-k row survives phase 1), so both
    * plans return identical rows; the contract query runs salted and is
    * oracle-checked against the single-window SQL.
    */
  def stratifiedTopK(df: DataFrame, stratumCols: Seq[String], idCol: String,
      k: Int, seed: String = "sample", salts: Int = 1): DataFrame = {
    requireSample(stratumCols, k)
    require(salts > 0, s"sample salts must be positive, got $salts")
    val key = md5(concat_ws(":", lit(seed), col(idCol)))
    val pruned =
      if (salts > 1) {
        val salted = Window
          .partitionBy(stratumCols.map(col) :+
            pmod(md5Hash32(col(idCol).cast("string")), lit(salts)): _*)
          .orderBy(key, col(idCol))
        df.withColumn("__pr", row_number().over(salted))
          .where(col("__pr") <= k).drop("__pr")
      } else df
    val w = Window.partitionBy(stratumCols.map(col): _*).orderBy(key, col(idCol))
    pruned.withColumn("sample_rank", row_number().over(w))
      .where(col("sample_rank") <= k)
  }

  /** Weighted downsampling ("source mixing"): keep each row with
    * probability `weight` (a per-row Column in [0,1], typically a
    * per-source mixing ratio), decided by a seeded md5 bucket of the
    * id — deterministic, reproducible, and a pure scan-level filter
    * (no shuffle; pushes into the scan). Rows with weight ≥ 1 always
    * survive; weight ≤ 0 never. */
  def weightedKeep(df: DataFrame, idCol: String, weight: Column,
      seed: String = "mix"): DataFrame =
    df.where(keepPredicate(col(idCol), weight, seed))

  /** The [[weightedKeep]] decision as a reusable predicate Column —
    * reports aggregating realised-vs-target ratios (qp_mix) MUST share
    * this exact definition, or the report describes a different filter
    * than the operator applies. */
  def keepPredicate(id: Column, weight: Column, seed: String): Column =
    graft.functions.Portable.md5Bucket(seed, id, 1000) <
      (weight * 1000).cast("long")

  /** Contiguous shard packing: within each stratum, rows ordered by id
    * accumulate token counts — the deterministic "pack documents into
    * training shards" layout step. Shard id = exclusive-prefix-sum of
    * `tokenCol` divided by capacity: shards are START-OFFSET buckets, so
    * a document whose start offset lands in shard k stays whole in
    * shard k even when its tokens run past the boundary — a shard's
    * total may exceed `capacity` by up to one document. (Training-shard
    * packing wants whole documents and a soft size target; for a hard
    * cap, switch the window frame to an inclusive prefix sum and accept
    * that a shard then UNDERFILLS by up to one document instead.) One
    * window shuffle on the stratum key; strata are independent, so
    * parallelism is the stratum count. */
  def packShards(df: DataFrame, stratumCols: Seq[String], idCol: String,
      tokenCol: String, capacity: Long): DataFrame = {
    require(capacity > 0, "capacity must be positive")
    val w = Window.partitionBy(stratumCols.map(col): _*).orderBy(col(idCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    df.withColumn("shard_id",
      ((sum(col(tokenCol)).over(w) - col(tokenCol)) / capacity).cast("long"))
  }

  /** Deterministic sharded corpus shuffle: every row gets a `shard`
    * (seeded-md5 bucket) and a `pos` (1-based rank within the shard by
    * the full md5 hex, id tiebreak) — global training order is
    * (shard, pos), a reproducible permutation of the corpus.
    *
    * A single global `row_number` would funnel the whole corpus through
    * one ordered partition; sharding makes each rank window independent,
    * so parallelism is `shards` — callers size it so a shard is one
    * training file (e.g. total_tokens / file_budget), which keeps the
    * per-window row count bounded as data grows. Readers that stripe
    * round-robin across shards still see md5-uniform order. */
  def shuffleShards(df: DataFrame, idCol: String, shards: Int,
      seed: String = "shuffle"): DataFrame = {
    require(shards > 0, "shards must be positive")
    val key = md5(concat_ws(":", lit(seed), col(idCol).cast("string")))
    val w = Window.partitionBy("shard").orderBy(col("__key"), col(idCol))
    df.withColumn("__key", key)
      .withColumn("shard",
        graft.functions.Portable.md5Bucket(seed, col(idCol), shards))
      .withColumn("pos", row_number().over(w).cast("long"))
      .drop("__key")
  }
}
