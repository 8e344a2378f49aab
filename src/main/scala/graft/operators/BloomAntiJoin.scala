package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.BloomFilters

/** Approximate blocklist anti-join: drop every row of `df` whose key
  * appears in `blockList` — decontamination against a benchmark /
  * opt-out / known-bad corpus — WITHOUT joining the 100 TB side.
  *
  * The blocklist aggregates into ONE serialized Bloom filter (a driver
  * collect of megabytes, like Spark's own runtime join filters), which
  * ships to every task as a literal; the big side is then a pure scan +
  * filter, no shuffle, full codegen. Semantics: NO false negatives — a
  * blocked key never survives; false positives drop extra rows at the
  * configured rate (size `numBits` for the target fpp). For exact
  * semantics at the cost of a shuffle, use a left-anti join; the spec
  * cross-checks this operator against it.
  */
object BloomAntiJoin {

  /** Remove rows of `df` whose `keyCol` is possibly in `blockList`'s
    * `blockKeyCol` (false positives ≈ fpp for the chosen sizing;
    * false negatives impossible). NULL keys follow left-anti-join
    * semantics and always survive: NULL equals nothing, and without the
    * explicit guards a NULL on both sides would collide on XxHash64's
    * seed hash and deterministically drop every NULL-keyed row. */
  def antiJoin(df: DataFrame, blockList: DataFrame,
      keyCol: String, blockKeyCol: String,
      expectedItems: Long = 1000000L, numBits: Long = 8388608L): DataFrame = {
    val bloomBytes = blockList
      .where(col(blockKeyCol).isNotNull)
      .agg(BloomFilters.bloomAgg(col(blockKeyCol), expectedItems, numBits)
        .as("bloom"))
      .head().getAs[Array[Byte]]("bloom")
    if (bloomBytes == null) df // empty blocklist blocks nothing
    else df.where(col(keyCol).isNull ||
      !BloomFilters.mightContain(lit(bloomBytes), col(keyCol)))
  }

  /** EXACT anti-join accelerated by the same Bloom literal: rows the
    * filter rules out ("definitely not blocked" — the overwhelming
    * majority against a small blocklist) survive straight off the scan
    * with NO shuffle; only the bloom-POSITIVE suspects (true hits +
    * ~fpp of the rest) pay the real left-anti join. Output semantics
    * are exactly `LEFT ANTI JOIN` — NULL left keys SURVIVE (NULL
    * equals nothing); note this differs from SQL `NOT IN`, which
    * discards every row once the blocklist contains any key at all if
    * the left key is NULL. Correctness is oracle-checkable — the Bloom
    * stage only moves the shuffle volume from |df| down to |suspects|.
    * This is the hand-rolled form of the runtime row-level bloom
    * pruning Spark applies to equi-joins, usable where the planner
    * won't inject it (e.g. the blocklist is built by an upstream plan
    * step). */
  def exactAntiJoin(df: DataFrame, blockList: DataFrame,
      keyCol: String, blockKeyCol: String,
      expectedItems: Long = 1000000L, numBits: Long = 8388608L): DataFrame = {
    // The blocklist is consumed TWICE — once to build the Bloom literal,
    // once as the left-anti probe side. Pin one materialization
    // (blocklists are small by contract): a nondeterministic or
    // recomputed blocklist could otherwise diverge between the two
    // reads, making a key bloom-negative yet present in the join side —
    // wrongly surviving the anti-join.
    val keys = Materialize.now(blockList.select(col(blockKeyCol).as("__bk")))
    val bloomBytes = keys
      .where(col("__bk").isNotNull)
      .agg(BloomFilters.bloomAgg(col("__bk"), expectedItems, numBits)
        .as("bloom"))
      .head().getAs[Array[Byte]]("bloom")
    if (bloomBytes == null) df
    else {
      val might = BloomFilters.mightContain(lit(bloomBytes), col(keyCol))
      val definite = df.where(col(keyCol).isNull || !might)
      val suspects = df.where(col(keyCol).isNotNull && might)
        .join(keys.distinct(), col(keyCol) === col("__bk"), "left_anti")
      definite.unionByName(suspects)
    }
  }
}
