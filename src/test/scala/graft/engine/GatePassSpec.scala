package graft.engine

import java.nio.file.{Files, Path}
import java.util.concurrent.{CountDownLatch, TimeUnit}

import scala.collection.mutable

import org.apache.spark.graft.ListenerBusAccess
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerTaskStart}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.functions.{col, udf}
import org.apache.spark.sql.graft.FirstRows
import org.apache.spark.sql.util.QueryExecutionListener

import graft.SparkSpec
import graft.diff.{DatasetDiff, DiffConfig, DiffSide}
import graft.rules.{Profiler, Rule, RuleRunner}

/** The gate pass: how many Spark executions each gate costs, and that
  * running a plan's gates concurrently keeps the sequential outcome —
  * reports, exit code, raised exception and written outputs. */
class GatePassSpec extends SparkSpec {

  /** SQL executions and tasks started while `body` runs. */
  private def counted[T](body: => T): (T, Int, Int) = {
    val sc = spark.sparkContext
    val seen = new java.util.concurrent.atomic.AtomicInteger()
    val tasks = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case _: SparkListenerSQLExecutionStart => seen.incrementAndGet()
        case _ =>
      }
      override def onTaskStart(e: SparkListenerTaskStart): Unit =
        tasks.incrementAndGet()
    }
    ListenerBusAccess.drain(sc)
    sc.addSparkListener(listener)
    try {
      val out = body
      ListenerBusAccess.drain(sc)
      (out, seen.get, tasks.get)
    } finally sc.removeSparkListener(listener)
  }

  /** SQL executions started while `body` runs. */
  private def executions[T](body: => T): (T, Int) = {
    val (out, n, _) = counted(body)
    (out, n)
  }

  /** 400 rows over 4 partitions; every rule below fails on some. */
  private def frame = {
    val s = spark
    import s.implicits._
    (1 to 400).map(i => (i, i % 7 - 1.0, if (i % 5 == 0) null else s"t$i"))
      .toDF("id", "bal", "tag").repartition(4)
  }

  private val rules = Seq(
    Rule("bal >= 0", "non-negative", 0.0,
      summary = Map("min_bal" -> "MIN(bal)", "n" -> "COUNT(*)")),
    Rule("tag IS NOT NULL", "tag present", 0.0,
      summary = Map("max_id" -> "MAX(id)")),
    Rule("id % 3 <> 0", "not a multiple of three", 0.0))

  test("an assertion's counts and aggregate summaries are one execution") {
    val (reports, n) = executions(RuleRunner.reports(frame, rules))
    assert(n == 1)
    assert(reports.map(_.numInvalid) == Seq(57L, 80L, 133L))
    assert(reports(0).summaryStats == Map("min_bal" -> -1.0, "n" -> 57L))
    assert(reports(1).summaryStats == Map("max_id" -> 400))
  }

  test("the samples of every failing rule are at most one more execution") {
    val (reports, n) = executions(RuleRunner.reports(frame, rules,
      collectSamples = true))
    assert(n == 2)
    assert(reports.forall(_.sampleInvalid.size == RuleRunner.SampleNum))
    // No rule with invalid rows: no sample job at all.
    val (clean, m) = executions(RuleRunner.reports(frame,
      Seq(Rule("id > 0", "positive id", 0.0)), collectSamples = true))
    assert(m == 1 && clean.head.sampleInvalid.isEmpty)
  }

  test("a DISTINCT summary keeps its own pass") {
    val distinct = Seq(Rule("bal >= 0", "non-negative", 0.0,
      summary = Map("tags" -> "COUNT(DISTINCT tag)", "n" -> "COUNT(*)")))
    val (reports, n) = executions(RuleRunner.reports(frame, distinct))
    assert(n == 2)
    assert(reports.head.summaryStats == Map("tags" -> 46L, "n" -> 57L))
  }

  test("samples read partitions like limit: one task when the first has them") {
    val wide = spark.range(0, 6400, 1, 64)
    // Both flags have 20 rows in partition 0: one task, 20 rows each.
    val (dense, n, tasks) = counted(FirstRows.perFlag(wide.select(
      (col("id") >= 0).as("all"), (col("id") % 2 === 0).as("even"),
      col("id")), 2, RuleRunner.SampleNum))
    assert(n == 1 && tasks == 1)
    assert(dense.map(_.map(_.getLong(0))) ==
      Seq((0L until 20L), (0L until 40L by 2)))
    // Flagged rows start in partition 10: rounds of 1, 4 and 16
    // partitions, then stop.
    val (late, m, lateTasks) = counted(FirstRows.perFlag(wide.select(
      (col("id") >= 1000).as("late"), col("id")), 1, RuleRunner.SampleNum))
    assert(m == 1 && lateTasks == 21)
    assert(late == Seq((1000L until 1020L).map(org.apache.spark.sql.Row(_))))
    // Through the rules: the sample job of two dense rules is one task.
    val rules = Seq(Rule("id < 0", "negative", 0.0),
      Rule("id % 2 = 1", "odd", 0.0))
    val (_, _, without) = counted(RuleRunner.reports(wide.toDF(), rules))
    val (reports, _, withSamples) = counted(
      RuleRunner.reports(wide.toDF(), rules, collectSamples = true))
    assert(withSamples - without == 1)
    assert(reports.map(_.sampleInvalid.map(_("id"))) == Seq(
      (0 until 20).map(_.toString), (0 until 40 by 2).map(_.toString)))
  }

  test("diff key validation is one execution") {
    val s = spark
    import s.implicits._
    val cfg = DiffConfig(DiffSide(Seq("id"), Seq("v")),
      DiffSide(Seq("key"), Seq("w")), "l", "r")
    val left = (1 to 50).map(i => (i, i * 1.0)).toDF("id", "v")
    val right = (1 to 50).map(i => (i.toLong, i * 2.0)).toDF("key", "w")
    assert(executions(DatasetDiff.validate(left, right, cfg))._2 == 1)
  }

  test("a drift gate is one execution") {
    val s = spark
    import s.implicits._
    val a = (1 to 60).map(i => (i % 6).toDouble).toDF("v")
    val b = (1 to 60).map(i => (i % 4).toDouble).toDF("v")
    val ((total, bins), n) =
      executions(Profiler.driftOuterTotal(a, b, "v", 1.0))
    assert(n == 1)
    assert(bins == 6L && total > 0.0)
  }

  /** Runs `plan`, returning the exception it raised. */
  private def failure(runner: PlanRunner, plan: Plan): Throwable =
    intercept[IllegalArgumentException](runner.run(plan))

  private def out(dir: Path, name: String) = dir.resolve(name).toString

  private def written(dir: Path): Set[String] =
    Files.list(dir).toArray.map(_.asInstanceOf[Path].getFileName.toString).toSet

  test("a throwing gate: earlier outputs written, none from it on, its exception raised") {
    val s = spark
    import s.implicits._
    val unique = (1 to 30).map(i => (i, i * 1.0)).toDF("id", "v")
    val dupLeft = (Seq(1, 1) ++ (2 to 30)).map(i => (i, i * 1.0)).toDF("id", "v")
    val nullRight = (Seq(Option.empty[Int]) ++ (1 to 30).map(Some(_)))
      .map(i => (i, 1.0)).toDF("id", "v")
    def diff(dir: Path, key: String, l: String, r: String, path: String) =
      s"""{"command": "diff", "input1": {"ref": "$l", "onDisk": false},
         | "input1Name": "$l", "input2": {"ref": "$r", "onDisk": false},
         | "input2Name": "$r", "outputKey": "$key",
         | "outputPath": "${out(dir, path)}",
         | "params": {"input1Columns": {"joinColumns": ["id"], "diffColumns": ["v"]},
         |            "input2Columns": {"joinColumns": ["id"], "diffColumns": ["v"]}}}"""
        .stripMargin
    def plan(dir: Path) = PlanParser.parse(
      s"""{"commands": [
         |  {"command": "view", "inputs": [{"ref": "unique", "onDisk": false}],
         |   "outputKey": "copy", "outputPath": "${out(dir, "c0")}",
         |   "params": {"tableAliases": ["u"], "query": "SELECT * FROM u"}},
         |  {"command": "assertion", "input": {"ref": "unique", "onDisk": false},
         |   "outputKey": "checked", "outputPath": "${out(dir, "c1")}",
         |   "params": {"assertions": [{"query": "v > 10", "description": "big", "threshold": 0.0}]}},
         |  ${diff(dir, "bad", "dupLeft", "unique", "c2")},
         |  {"command": "checksum", "input": {"ref": "unique", "onDisk": false},
         |   "outputKey": "fp", "outputPath": "${out(dir, "c3")}",
         |   "params": {"columns": ["id"]}},
         |  ${diff(dir, "worse", "unique", "nullRight", "c4")}
         |]}""".stripMargin)
    for (_ <- 1 to 3) {
      val dir = Files.createTempDirectory("graft_gates")
      val runner = new PlanRunner(spark).register("unique", unique)
        .register("dupLeft", dupLeft).register("nullRight", nullRight)
      val e = failure(runner, plan(dir))
      // The third command's gate raises, though the fifth also throws.
      assert(e.getMessage ==
        "The join columns for table dupLeft do not provide a unique key for every row.")
      assert(written(dir) == Set("c0", "c1"))
    }
    val dir = Files.createTempDirectory("graft_gates")
    // A command that fails to BUILD: the commands before it still run
    // their gates and writes, then its error is raised.
    val missing = PlanParser.parse(
      s"""{"commands": [
         |  {"command": "checksum", "input": {"ref": "unique", "onDisk": false},
         |   "outputKey": "fp", "outputPath": "${out(dir, "c0")}",
         |   "params": {"columns": ["id"]}},
         |  {"command": "profile", "input": {"ref": "nowhere", "onDisk": false},
         |   "outputKey": "p", "outputPath": "${out(dir, "c1")}",
         |   "params": {"columns": ["id"]}}
         |]}""".stripMargin)
    val e = failure(new PlanRunner(spark).register("unique", unique), missing)
    assert(e.getMessage.contains("nowhere"))
    assert(written(dir) == Set("c0"))
  }

  test("a throwing checksum gate: it writes first, as the sequential run did") {
    val s = spark
    import s.implicits._
    val dir = Files.createTempDirectory("graft_gates")
    val bad = spark.range(0, 30)
      .selectExpr("CASE WHEN id = 17 THEN raise_error('boom') ELSE id END AS id")
    val plan = PlanParser.parse(
      s"""{"commands": [
         |  {"command": "view", "inputs": [{"ref": "unique", "onDisk": false}],
         |   "outputKey": "copy", "outputPath": "${out(dir, "c0")}",
         |   "params": {"tableAliases": ["u"], "query": "SELECT * FROM u"}},
         |  {"command": "checksum", "input": {"ref": "bad", "onDisk": false},
         |   "outputKey": "fp", "outputPath": "${out(dir, "c1")}",
         |   "params": {"columns": ["id"]}},
         |  {"command": "checksum", "input": {"ref": "unique", "onDisk": false},
         |   "outputKey": "fp2", "outputPath": "${out(dir, "c2")}",
         |   "params": {"columns": ["id"]}}
         |]}""".stripMargin)
    val runner = new PlanRunner(spark)
      .register("unique", (1 to 30).toDF("id")).register("bad", bad)
    // Plans of the queries that failed: the sequential run wrote c0,
    // then failed writing c1 before its gate ran.
    val failed = mutable.ArrayBuffer.empty[String]
    val listener = new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = ()
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
        failed.synchronized(failed += qe.logical.toString)
    }
    spark.listenerManager.register(listener)
    val e = try intercept[Exception](runner.run(plan))
    finally {
      ListenerBusAccess.drain(spark.sparkContext)
      spark.listenerManager.unregister(listener)
    }
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(t => String.valueOf(t.getMessage).contains("boom")))
    assert(failed.synchronized(failed.exists(_.contains(out(dir, "c1")))))
    assert(written(dir) == Set("c0"))
  }

  test("a command reading an earlier command's outputPath sees the written rows") {
    val s = spark
    import s.implicits._
    val dir = Files.createTempDirectory("graft_gates")
    val plan = PlanParser.parse(
      s"""{"commands": [
         |  {"command": "view", "inputs": [{"ref": "src", "onDisk": false}],
         |   "outputKey": "evens", "outputPath": "${out(dir, "evens")}",
         |   "params": {"tableAliases": ["s"], "query": "SELECT * FROM s WHERE id % 2 = 0"}},
         |  {"command": "checksum",
         |   "input": {"ref": "${out(dir, "evens")}", "onDisk": true, "format": "parquet"},
         |   "outputKey": "fp", "params": {"columns": ["id"]}}
         |]}""".stripMargin)
    val res = new PlanRunner(spark)
      .register("src", (1 to 10).toDF("id")).run(plan)
    assert(res.reports.head._2.head.totalRows == 5L)
  }

  test("example plans give byte-identical reports, in plan order, over 20 runs") {
    val plans = Seq("corpus_qc_plan", "orders_qc_plan", "corpus_refresh_plan",
      "release_gate_plan")
    for (name <- plans) {
      val plan = PlanParser.parseFile(s"examples/$name.json",
        variables = Map("sfdir" -> "/root/testdata/sf0.001"))
      val runs = (1 to 20).map { _ =>
        try ReportWriter.toJson(new PlanRunner(spark).run(plan).reports)
        finally spark.catalog.clearCache()
      }
      assert(runs.distinct.size == 1, s"$name reports differ across runs")
      // Plan order: one group per reporting command, as listed.
      val keys = plan.commands.collect {
        case c: AssertionCommand => c.outputKey
        case c: ChecksumCommand => c.outputKey
        case c: DriftCommand => c.outputKey
        case c: SprtCommand => c.outputKey
      }
      assert(runs.head.linesIterator.collect {
        case l if l.contains("\"outputKey\"") => l.split('"')(3)
      }.toSeq == keys)
    }
  }

  /** A view command over lookup key or path `in`, writing `path` unless
    * it is empty. */
  private def view(in: String, path: String, onDisk: Boolean = false,
      key: String = ""): String = {
    val format = if (onDisk) ", \"format\": \"parquet\"" else ""
    val outputKey = if (key.isEmpty) path.split('/').last else key
    val write = if (path.isEmpty) "" else ", \"outputPath\": \"" + path + "\""
    s"""{"command": "view", "inputs": [{"ref": "$in", "onDisk": $onDisk$format}],
       | "outputKey": "$outputKey"$write,
       | "params": {"tableAliases": ["t"], "query": "SELECT * FROM t"}}"""
      .stripMargin
  }

  private def ids(path: String): Seq[Long] =
    spark.read.parquet(path).collect().map(_.getLong(0)).toSeq.sorted

  test("the writes of one pass run at the same time") {
    GatePassSpec.latch = new CountDownLatch(2)
    // Each write's one row waits until both writes have started; a
    // one-after-another run times out on the first and reads false.
    val met = udf { (_: Long) =>
      GatePassSpec.latch.countDown()
      GatePassSpec.latch.await(30, TimeUnit.SECONDS)
    }.asNondeterministic()
    val dir = Files.createTempDirectory("graft_gates")
    val plan = PlanParser.parse(s"""{"commands": [
      |${view("a", out(dir, "a"))}, ${view("b", out(dir, "b"))}]}""".stripMargin)
    new PlanRunner(spark)
      .register("a", spark.range(1).select(met(col("id")).as("met")))
      .register("b", spark.range(1).select(met(col("id")).as("met")))
      .run(plan)
    for (name <- Seq("a", "b"))
      assert(spark.read.parquet(out(dir, name)).head().getBoolean(0), name)
  }

  test("two commands writing one path: the later command's rows win") {
    val dir = Files.createTempDirectory("graft_gates")
    val plan = PlanParser.parse(s"""{"commands": [
      |${view("first", out(dir, "o"), key = "one")},
      |${view("second", out(dir, "o"), key = "two")}]}""".stripMargin)
    new PlanRunner(spark)
      .register("first", spark.range(1, 4).toDF())
      .register("second", spark.range(10, 13).toDF())
      .run(plan)
    assert(ids(out(dir, "o")) == Seq(10L, 11L, 12L))
  }

  test("a write over a path an earlier write reads runs after it") {
    val dir = Files.createTempDirectory("graft_gates")
    val (p, q, r) = (out(dir, "p"), out(dir, "q"), out(dir, "r"))
    spark.range(1, 6).write.parquet(p)
    // Command 0 reads p and writes q; command 1 overwrites p.
    val direct = PlanParser.parse(s"""{"commands": [
      |${view(p, q, onDisk = true, key = "q")},
      |${view("fresh", p, key = "p")}]}""".stripMargin)
    new PlanRunner(spark).register("fresh", spark.range(100, 103).toDF())
      .run(direct)
    assert(ids(q) == Seq(1L, 2L, 3L, 4L, 5L))
    assert(ids(p) == Seq(100L, 101L, 102L))
    // The same through a lookup key built in an earlier pass: the write
    // of r reads p by way of "old", so the overwrite of p waits for it.
    val viaKey = PlanParser.parse(s"""{"commands": [
      |${view(p, "", onDisk = true, key = "old")},
      |${view("fresh", out(dir, "x"), key = "x")},
      |${view(out(dir, "x"), "", onDisk = true, key = "xs")},
      |${view("old", r, key = "r")},
      |${view("newer", p, key = "p")}]}""".stripMargin)
    new PlanRunner(spark).register("fresh", spark.range(7, 8).toDF())
      .register("newer", spark.range(200, 202).toDF()).run(viaKey)
    assert(ids(r) == Seq(100L, 101L, 102L))
    assert(ids(p) == Seq(200L, 201L))
  }

  test("two throwing writes: the earlier command's exception is raised") {
    val dir = Files.createTempDirectory("graft_gates")
    // The earlier write fails last: its rows wait before they throw.
    val slow = udf { (i: Long) =>
      Thread.sleep(500)
      if (i >= 0) throw new IllegalStateException("first write failed")
      i
    }
    val plan = PlanParser.parse(s"""{"commands": [
      |${view("ok", out(dir, "c0"))}, ${view("bad1", out(dir, "c1"))},
      |${view("bad2", out(dir, "c2"))}]}""".stripMargin)
    val runner = new PlanRunner(spark)
      .register("ok", spark.range(3).toDF())
      .register("bad1", spark.range(1).select(slow(col("id")).as("id")))
      .register("bad2", spark.range(1)
        .selectExpr("CASE WHEN id >= 0 THEN raise_error('second write failed') END AS id"))
    val e = intercept[Exception](runner.run(plan))
    val messages = Iterator.iterate[Throwable](e)(_.getCause)
      .takeWhile(_ != null).map(t => String.valueOf(t.getMessage)).toSeq
    assert(messages.exists(_.contains("first write failed")), messages)
    assert(!messages.exists(_.contains("second write failed")), messages)
    assert(ids(out(dir, "c0")) == Seq(0L, 1L, 2L))
  }
}

object GatePassSpec {
  /** Shared by the tasks of concurrent writes (one JVM under local[4]). */
  @volatile var latch = new CountDownLatch(0)
}
