package graft.diff

import graft.SparkSpec
import org.apache.spark.sql.Row

class DatasetDiffSpec extends SparkSpec {
  import spark.implicits._

  private val cfg = DiffConfig(
    left = DiffSide(Seq("id"), Seq("bal")),
    right = DiffSide(Seq("key"), Seq("amount")),
    leftName = "cur", rightName = "old",
    numericThreshold = 0.5)

  private def left = Seq((1, 10.0), (2, 20.0), (3, 30.0)).toDF("id", "bal")
  private def right = Seq((1, 10.2), (2, 25.0), (4, 40.0)).toDF("key", "amount")

  test("outer join keeps unmatched rows from both sides with null-status") {
    val out = DatasetDiff.diff(left, right, cfg)
    assert(out.count() === 4)
    val statuses = out.select("cur_id", "cur_bal__equals__old_amount")
      .collect().map(r => Option(r.get(0)) -> r.getString(1)).toMap
    assert(statuses(Some(1)) === DatasetDiff.Equal)       // |10-10.2| <= 0.5
    assert(statuses(Some(2)) === DatasetDiff.NotEqual)
    assert(statuses(Some(3)) === DatasetDiff.SecondNull)
    assert(statuses(None) === DatasetDiff.FirstNull)      // key 4 only on right
  }

  test("minus column: 0 within threshold, difference beyond, null if either null") {
    val out = DatasetDiff.diff(left, right, cfg)
      .select("cur_id", "cur_bal__minus__old_amount")
      .collect().map(r => Option(r.get(0)) -> Option(r.get(1))).toMap
    assert(out(Some(1)) === Some(0.0))
    assert(out(Some(2)) === Some(-5.0))
    assert(out(Some(3)) === None)
    assert(out(None) === None)
  }

  test("filterEqualRows drops exactly-equal pairs") {
    val r2 = Seq((1, 10.0), (2, 25.0)).toDF("key", "amount")
    val out = DatasetDiff.diff(left, r2, cfg.copy(filterEqualRows = true))
    // id=1 equal exactly → dropped; id=2 differs; id=3 unmatched kept
    assert(out.select("cur_id").collect().flatMap(r => Option(r.get(0))).toSet === Set(2, 3))
  }

  test("string columns compare without minus column") {
    val c = DiffConfig(DiffSide(Seq("id"), Seq("s")), DiffSide(Seq("id"), Seq("s")),
      "a", "b")
    val out = DatasetDiff.diff(
      Seq((1, "x"), (2, "y")).toDF("id", "s"),
      Seq((1, "x"), (2, "z")).toDF("id", "s"), c)
    assert(!out.columns.exists(_.contains("__minus__")))
    val st = out.select("a_id", "a_s__equals__b_s").as[(Int, String)].collect().toMap
    assert(st(1) === DatasetDiff.Equal)
    assert(st(2) === DatasetDiff.NotEqual)
  }

  test("validation rejects duplicate and null keys") {
    val dup = Seq((1, 1.0), (1, 2.0)).toDF("id", "bal")
    intercept[IllegalArgumentException] {
      DatasetDiff.diff(dup, right, cfg)
    }
    val withNull = Seq((Some(1), 1.0), (None, 2.0)).toDF("id", "bal")
    intercept[IllegalArgumentException] {
      DatasetDiff.diff(withNull, right, cfg)
    }
  }

  test("different types produce type-status, no minus") {
    val c = DiffConfig(DiffSide(Seq("id"), Seq("v")), DiffSide(Seq("id"), Seq("v")),
      "a", "b")
    val out = DatasetDiff.diff(
      Seq((1, 1.0)).toDF("id", "v"),
      Seq((1, "1.0")).toDF("id", "v"), c)
    assert(out.select("a_v__equals__b_v").as[String].collect().head === DatasetDiff.DiffType)
  }

  test("per-column thresholds must give one value per diff column") {
    val three = DiffSide(Seq("id"), Seq("a", "b", "c"))
    val err = intercept[IllegalArgumentException] {
      DiffConfig(three, three, "l", "r", perColumnThresholds = Some(Seq(0.5)))
    }
    assert(err.getMessage.contains("got 1 thresholds for 3 diff columns"))
  }
}
