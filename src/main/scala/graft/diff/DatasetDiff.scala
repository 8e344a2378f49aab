package graft.diff

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Column lists for one side of a diff. Join/diff columns pair with the
  * other side's lists by position, so names may differ across sides.
  * (reference: tndiff/TnDiffCmd.scala:47-57) */
case class DiffSide(joinColumns: Seq[String], diffColumns: Seq[String])

/** Configuration of a keyed dataset comparison.
  * (reference: tndiff/TnDiffCmd.scala:10-35)
  *
  * @param perColumnThresholds when set, one numeric-equality threshold per
  *                            diff-column pair, overriding `numericThreshold`
  * @param validateKeys run the key uniqueness / non-null check before
  *                     diffing (one extra aggregation over both sides);
  *                     turn off for production runs on pre-validated keys
  */
case class DiffConfig(
    left: DiffSide,
    right: DiffSide,
    leftName: String,
    rightName: String,
    numericThreshold: Double = 1e-6,
    perColumnThresholds: Option[Seq[Double]] = None,
    filterEqualRows: Boolean = false,
    validateKeys: Boolean = true) {
  require(left.joinColumns.nonEmpty, "joinColumns must be non-empty")
  require(left.joinColumns.length == right.joinColumns.length,
    "joinColumns must be of the same length for both data sets")
  require(left.diffColumns.length == right.diffColumns.length,
    "diffColumns must be of the same length for both data sets")
  perColumnThresholds.foreach(t => require(t.length == left.diffColumns.length,
    s"thresholds must give one value per diff column: got ${t.length} " +
      s"thresholds for ${left.diffColumns.length} diff columns"))
}

/** Keyed comparison of two datasets — the reference's diff command
  * (reference: tndiff/TnDiffCreator.scala), re-expressed declaratively:
  *
  *  - one full-outer shuffle join on the zipped key columns (AQE handles
  *    skew; at 100 TB this is the unavoidable shuffle, everything else is
  *    projection);
  *  - per diff-column pair: both original values, an equality-status
  *    string column, and for numeric pairs a difference column;
  *  - key validation is a single aggregation over both sides instead of
  *    the reference's four full scans (count + dropDuplicates.count +
  *    null-filter count per side).
  */
object DatasetDiff {
  val BothNull = "both null"
  val FirstNull = "only first null"
  val SecondNull = "only second null"
  val DiffType = "different types"
  val Equal = "equal"
  val NotEqual = "both not null, same type, not equal"

  def equalityColName(c1: String, c2: String): String = s"${c1}__equals__${c2}"
  def minusColName(c1: String, c2: String): String = s"${c1}__minus__${c2}"

  /** `<inputName>_<col>` with dots flattened, as in the reference. */
  private def renamed(name: String, c: String): String =
    name + "_" + c.replace('.', '_')

  /** Validate keys on both sides in ONE aggregation over a side-tagged
    * union; throws on null or duplicate join keys (same contract and
    * messages as the reference), checking left nulls, left duplicates,
    * right nulls, right duplicates in that order. */
  def validate(left: DataFrame, right: DataFrame, cfg: DiffConfig): Unit = {
    // Each side's key struct sits in its own column (null on the other
    // side's rows), so the two key types never have to unify.
    def keyed(df: DataFrame, keys: Seq[String]) =
      df.select(struct(keys.map(col): _*).as("k"),
        keys.map(col(_).isNull).reduce(_ || _).as("n"))
    val l = keyed(left, cfg.left.joinColumns)
    val r = keyed(right, cfg.right.joinColumns)
    def nullOf(t: DataType) = lit(null).cast(t)
    val union = l.select(lit(0).as("side"), col("k").as("lk"),
        nullOf(r.schema("k").dataType).as("rk"), col("n"))
      .unionAll(r.select(lit(1).as("side"),
        nullOf(l.schema("k").dataType).as("lk"), col("k").as("rk"), col("n")))
    def onSide(s: Int, c: Column) = sum(when(col("side") === s, c).otherwise(0L))
    val row = union.agg(
      onSide(0, lit(1L)), count_distinct(col("lk")), onSide(0, col("n").cast("long")),
      onSide(1, lit(1L)), count_distinct(col("rk")), onSide(1, col("n").cast("long")))
      .collect()(0)
    Seq(cfg.leftName -> 0, cfg.rightName -> 3).foreach { case (side, o) =>
      def at(i: Int) = if (row.isNullAt(o + i)) 0L else row.getLong(o + i)
      if (at(2) > 0) throw new IllegalArgumentException(
        s"The join columns for table $side contain nulls.")
      if (at(1) != at(0)) throw new IllegalArgumentException(
        s"The join columns for table $side do not provide a unique key for every row.")
    }
  }

  /** (side, totalRows, distinctKeys, rowsWithNullKey) in ONE pass. */
  def validationStats(df: DataFrame, keys: Seq[String], side: String): Seq[(String, Long, Long, Long)] = {
    val anyNull = keys.map(col(_).isNull).reduce(_ || _)
    val row = df.agg(
      count(lit(1)).as("rows"),
      count_distinct(struct(keys.map(col): _*)).as("distinct"),
      sum(when(anyNull, 1L).otherwise(0L)).as("nulls")).collect()(0)
    Seq((side, row.getAs[Long]("rows"), row.getAs[Long]("distinct"),
      Option(row.getAs[Long]("nulls")).getOrElse(0L)))
  }

  def diff(left: DataFrame, right: DataFrame, cfg: DiffConfig): DataFrame = {
    if (cfg.validateKeys) validate(left, right, cfg)

    val l = left.select((cfg.left.joinColumns ++ cfg.left.diffColumns)
      .map(c => col(c).as(renamed(cfg.leftName, c))): _*)
    val r = right.select((cfg.right.joinColumns ++ cfg.right.diffColumns)
      .map(c => col(c).as(renamed(cfg.rightName, c))): _*)

    val lJoin = cfg.left.joinColumns.map(c => col(renamed(cfg.leftName, c)))
    val rJoin = cfg.right.joinColumns.map(c => col(renamed(cfg.rightName, c)))
    val joined = l.join(r, lJoin.zip(rJoin).map { case (a, b) => a === b }
      .reduce(_ && _), "outer")

    if (cfg.left.diffColumns.isEmpty)
      return joined.select(lJoin ++ rJoin: _*).limit(0)

    val thresholds = cfg.perColumnThresholds
      .getOrElse(Seq.fill(cfg.left.diffColumns.length)(cfg.numericThreshold))
    val schema = joined.schema

    val pairs = cfg.left.diffColumns.map(renamed(cfg.leftName, _))
      .zip(cfg.right.diffColumns.map(renamed(cfg.rightName, _)))
      .zip(thresholds)

    val diffCols = pairs.flatMap { case ((n1, n2), thr) =>
      Seq(col(n1), col(n2)) ++
        compareColumns(col(n1), schema(n1), col(n2), schema(n2), thr)
    }
    val out = joined.select(lJoin ++ rJoin ++ diffCols: _*)

    if (!cfg.filterEqualRows) out
    else out.where(pairs.map { case ((n1, n2), thr) =>
      (schema(n1).dataType, schema(n2).dataType) match {
        case (_: NumericType, _: NumericType) =>
          !(col(n1) <=> col(n2)) ||
            (col(n1).isNotNull && col(n2).isNotNull && abs(col(n1) - col(n2)) >= thr)
        case _ => !(col(n1) <=> col(n2))
      }
    }.reduce(_ || _))
  }

  /** Status (+ numeric minus) columns for one compared pair
    * (reference: TnDiffCreator.scala:120-160). */
  private def compareColumns(c1: Column, f1: StructField, c2: Column,
      f2: StructField, thr: Double): Seq[Column] = {
    val nullCheck = when(c1.isNull && c2.isNull, BothNull)
      .when(c1.isNull, FirstNull)
      .when(c2.isNull, SecondNull)
    val status =
      if (f1.dataType != f2.dataType) nullCheck.otherwise(DiffType)
      else (f1.dataType, f2.dataType) match {
        case (_: NumericType, _: NumericType) =>
          nullCheck.otherwise(
            when(abs(c1 - c2) <= thr, Equal).otherwise(NotEqual))
        case _ =>
          nullCheck.when(c1 === c2, Equal).otherwise(NotEqual)
      }
    val statusCol = status.as(equalityColName(f1.name, f2.name))
    (f1.dataType, f2.dataType) match {
      case (t: NumericType, _: NumericType) =>
        Seq(when(c1.isNotNull && c2.isNotNull,
          when(abs(c1 - c2) >= thr, c1 - c2).otherwise(lit(0).cast(t)))
          .otherwise(lit(null))
          .as(minusColName(f1.name, f2.name)), statusCol)
      case _ => Seq(statusCol)
    }
  }
}
