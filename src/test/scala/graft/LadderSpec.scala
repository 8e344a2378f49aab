package graft

import java.nio.file.Files

import scala.jdk.CollectionConverters._

class LadderSpec extends SparkSpec {
  test("rungs parse label=dir and reject anything else with its text") {
    assert(Ladder.rungs(Seq("sf1=/d/sf1", "a=b=c"), "T") ===
      Seq("sf1" -> "/d/sf1", "a" -> "b=c"))
    assert(intercept[IllegalArgumentException](
      Ladder.rungs(Seq("sf1"), "T")).getMessage.contains("'sf1'"))
    assert(intercept[IllegalArgumentException](
      Ladder.rungs(Nil, "T")).getMessage.contains("usage: T"))
  }

  test("a later good run is kept; the error line only when no run succeeds") {
    val out = Files.createTempFile("graft_ladder", ".jsonl")
    val runs = new Ladder(spark, out.toString)
    try {
      var calls = 0
      val flaky = runs.best {
        calls += 1
        if (calls == 1) throw new RuntimeException("transient \"oom\"")
        spark.range(0, 100, 1, 2).repartition(3).count()
      }
      assert(calls === 2)
      assert(flaky.map(_.value) === Right(100L))
      assert(flaky.toOption.get.stages.map(_.numTasks).sum > 0)
      runs.record("sf0", "q_ok", flaky)(r => s""""rows":${r.value}""")
      val broken = runs.best[Long](throw new IllegalStateException("boom"))
      assert(broken.left.toOption.exists(_.contains("boom")))
      runs.record("sf0", "q_bad", broken)(r => s""""rows":${r.value}""")
    } finally runs.close()
    assert(Files.readAllLines(out).asScala.toList === List(
      """{"sf":"sf0","query":"q_ok","rows":100,"force":"full"}""",
      """{"sf":"sf0","query":"q_bad","error":"java.lang.IllegalStateException: boom","force":"full"}"""))
  }
}
