package graft

import org.apache.spark.SparkConf
import org.scalatest.funsuite.AnyFunSuite

class GraftSessionSpec extends AnyFunSuite {
  private def conf(kv: (String, String)*): SparkConf =
    new SparkConf(false).setAll(kv)

  test("master: the passthrough's, else spark-submit's conf, else the fallback") {
    assert(GraftSession.master(conf("spark.master" -> "local[2]"), Nil,
      "local[*]") === "local[2]")
    assert(GraftSession.master(conf(),
      GraftSession.parseConf("spark.master=local[3]"), "local[*]") === "local[3]")
    assert(GraftSession.master(conf("spark.master" -> "local[2]"),
      GraftSession.parseConf("spark.master=local[3]"), "local[*]") === "local[3]")
    assert(GraftSession.master(conf(), Nil, "local[*]") === "local[*]")
  }

  test("tool shuffle partitions follow the master's task slots") {
    def partitions(master: String): String =
      GraftSession.toolDefaults(master).toMap.apply("spark.sql.shuffle.partitions")
    assert(partitions("local-cluster[2,8,4096]") === "16")
    assert(partitions("local-cluster[3, 2, 1024]") === "6")
    assert(partitions("local[6]") === "6")
    assert(partitions("local[2,4]") === "2")
    assert(partitions("yarn") === GraftSession.cpus.toString)
  }

  test("the passthrough overrides every default and caller conf") {
    val extra = GraftSession.parseConf(
      " spark.sql.shuffle.partitions=7;;spark.sql.session.timeZone=Europe/Paris;" +
        "spark.task.maxFailures=5;spark.ui.enabled=true;a.b=x=y ")
    assert(extra === Seq("spark.sql.shuffle.partitions" -> "7",
      "spark.sql.session.timeZone" -> "Europe/Paris",
      "spark.task.maxFailures" -> "5", "spark.ui.enabled" -> "true",
      "a.b" -> "x=y"))
    val applied = GraftSession.settings(conf("spark.master" -> "local[2]"),
      "local[4]", Seq("spark.sql.shuffle.partitions" -> "4",
        "spark.sql.session.timeZone" -> "UTC",
        "spark.task.maxFailures" -> "2"), extra).toMap
    assert(applied("spark.master") === "local[2]")
    assert(applied("spark.sql.shuffle.partitions") === "7")
    assert(applied("spark.sql.session.timeZone") === "Europe/Paris")
    assert(applied("spark.task.maxFailures") === "5")
    assert(applied("spark.ui.enabled") === "true")
    assert(GraftSession.settings(conf(), "local[4]", Nil, Nil).toMap ===
      Map("spark.master" -> "local[4]", "spark.ui.enabled" -> "false"))
  }

  test("a malformed passthrough entry is rejected with its text") {
    for (bad <- Seq("noequals", "=v")) {
      val e = intercept[IllegalArgumentException](
        GraftSession.parseConf(s"spark.a=1;$bad"))
      assert(e.getMessage.contains(s"'$bad'"))
    }
  }
}
