package graft.rules

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Order-independent table fingerprints — the release-sign-off
  * primitive behind the `checksum` plan command (and the qc_checksum
  * contract query, QualityQueries): each row folds to a canonical
  * `|`-joined string over the named columns, hashes through the
  * portable 32-bit md5 prefix, and the fingerprint is the SUM of row
  * hashes as an exact DECIMAL(38,0), rendered as its base-10 string.
  *
  * Properties that make it a gate, not just a stat:
  *  - row-order independent (sum is commutative) — safe across
  *    repartitions, file rewrites, and engine versions;
  *  - distributed: one hash projection + one combinable sum, no
  *    collect, no window — the same cost profile at 100 TB;
  *  - exact: DECIMAL(38,0) accumulation cannot round; the string
  *    render is canonical in every consumer.
  *
  * Caveat (same in both engines — concat_ws SKIPS null arguments
  * rather than rendering them): rows that differ only in WHICH column
  * is NULL can collide, as can values containing the '|' delimiter.
  * Coalesce to an explicit sentinel upstream if those distinctions
  * must gate.
  */
object Fingerprint {

  /** The check of [[of]]'s columns, as the plan's checksum command
    * states it. */
  def requireColumns(columns: Seq[String]): Unit =
    require(columns.nonEmpty, "checksum needs columns")

  /** One-row frame: (n_rows BIGINT, checksum STRING) over `columns`
    * of `df`, in the given column order. */
  def of(df: DataFrame, columns: Seq[String]): DataFrame = {
    requireColumns(columns)
    val canon = concat_ws("|", columns.map(c => col(c).cast("string")): _*)
    df.select(graft.functions.Portable.md5Hash32(canon).as("__h"))
      .agg(count(lit(1)).as("n_rows"),
        sum(col("__h").cast("decimal(38,0)")).as("__sum"))
      .select(col("n_rows"),
        // An empty frame sums to NULL; render the identity (0) so the
        // gate compares a stable value instead of a null.
        coalesce(col("__sum").cast("string"), lit("0")).as("checksum"))
  }
}
