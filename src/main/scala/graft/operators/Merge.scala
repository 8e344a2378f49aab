package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.FooterParquet

import graft.sources.Layout

/** Partition-scoped CDC upsert ("MERGE INTO") for Hive-partitioned
  * parquet datasets — the read-modify-write primitive a lake without a
  * table format still needs. The cost contract at 100 TB: the job
  * touches ONLY the partitions present in the update batch — a day's
  * CDC feed against a years-deep table reads and rewrites one day's
  * directories, never the table.
  *
  * Mechanics: the batch's distinct partition values (bounded: this is
  * layout metadata, |partitions|, not data) scope a pruned read of the
  * target (planning-time PartitionFilters), the union keeps one
  * deterministic latest row per key (greatest `orderCol`, batch wins
  * ties — the qe_latest election), optional tombstones drop deleted
  * keys, and dynamic partition overwrite rewrites exactly the affected
  * directories (untouched partitions' files are never opened —
  * proven by mtime in MergeSpec).
  *
  * Constraint (standard for date-partitioned CDC, and documented
  * rather than silently violated): a key's partition value must be
  * stable across versions. A key that MOVES partitions would leave its
  * stale copy in the old, untouched partition; detecting that requires
  * a full-table key sweep, which is exactly the scan this operator
  * exists to avoid.
  */
object Merge {

  /** Upsert `updates` into the dataset at `targetPath` partitioned by
    * `partCol`. Latest row per `keys` wins by (`orderCol`, isUpdate)
    * — on an exact `orderCol` tie the batch row supersedes the stored
    * row (CDC feeds commonly re-deliver the same-timestamp correction).
    * Rows where `deleteCol` is true are tombstones: their keys vanish
    * from the rewritten partitions and the tombstone itself is not
    * written. Returns the merged frame that was persisted (for
    * caller-side assertions/metrics). */
  def upsertPartitioned(spark: SparkSession, targetPath: String,
      updates: DataFrame, keys: Seq[String], orderCol: String,
      partCol: String, deleteCol: Option[String] = None): DataFrame = {
    require(keys.nonEmpty, "upsertPartitioned needs at least one key column")
    val dataCols = updates.columns.filterNot(deleteCol.contains(_))
    // Bounded driver-side list: the batch's partition values are layout
    // metadata (a day's CDC feed names a handful of partitions).
    val parts = updates.select(col(partCol)).distinct()
      .collect().map(_.get(0)).toSeq
    val existing = FooterParquet.read(spark, targetPath)
      .where(col(partCol).isin(parts: _*))
      .select(dataCols.map(col): _*)
    val merged = resolve(existing, updates, keys, orderCol, deleteCol)
    Layout.overwritePartitions(merged, targetPath, partCol)
    merged
  }

  /** Pure merge election (the IO-free core of [[upsertPartitioned]]):
    * one row per key survives, chosen by greatest `orderCol` with the
    * batch row winning exact ties; `deleteCol`-true batch rows are
    * tombstones that erase their key. One shuffle on the key columns;
    * the ranking window's frame is the per-key version set (bounded by
    * versions-per-key, never the table). */
  def resolve(existing: DataFrame, updates: DataFrame, keys: Seq[String],
      orderCol: String, deleteCol: Option[String] = None): DataFrame = {
    require(keys.nonEmpty, "resolve needs at least one key column")
    val dataCols = updates.columns.filterNot(deleteCol.contains(_))
    val stored = existing
      .select(dataCols.map(col): _*)
      .withColumn("__is_update", lit(0))
      .withColumn("__del", lit(false))
    val incoming = updates
      .withColumn("__is_update", lit(1))
      .withColumn("__del",
        deleteCol.map(c => coalesce(col(c).cast("boolean"), lit(false)))
          .getOrElse(lit(false)))
      .select(stored.columns.map(col): _*)
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy(col(orderCol).desc, col("__is_update").desc)
    stored.unionByName(incoming)
      .withColumn("__rn", row_number().over(w))
      .where(col("__rn") === 1 && !col("__del"))
      .select(dataCols.map(col): _*)
  }
}
