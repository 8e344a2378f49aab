package graft.engine

import graft.{RunPlan, SparkSpec}
import java.nio.file.Files

/** Whole-plan pre-validation (reference: tnengine/TnEngine.scala:113-143,
  * `haltIfPotentialErrors` collects a TnErrorCmd per bad command) and the
  * pluggable document loader (reference: tnengine/TnReader.scala:44-73,
  * `TnRESTReader` serves plan JSON from a config server). */
class PlanValidationSpec extends SparkSpec {

  private val twoBadPlan =
    """{
      |  "commands": [
      |    {"command": "bogus_one"},
      |    {"command": "view",
      |     "inputs": [{"ref": "src", "onDisk": false}],
      |     "params": {"tableAliases": ["t"], "query": "SELECT 1 AS x FROM t"},
      |     "outputKey": "ok"},
      |    {"command": "bogus_two"}
      |  ]
      |}""".stripMargin

  test("validate reports ALL bad commands at once, with their paths") {
    val Left(errors) = PlanParser.validate(twoBadPlan): @unchecked
    assert(errors.map(_.path) === Seq("commands[0]", "commands[2]"))
    assert(errors.head.message.contains("bogus_one"))
    assert(errors(1).message.contains("bogus_two"))
  }

  test("validate recurses into nested plans with nested paths") {
    val nested =
      """{
        |  "commands": [
        |    {"command": "plan", "params": {"commands": [
        |      {"command": "broken"},
        |      {"command": "also_broken"}
        |    ]}}
        |  ]
        |}""".stripMargin
    val Left(errors) = PlanParser.validate(nested): @unchecked
    assert(errors.map(_.path) ===
      Seq("commands[0].commands[0]", "commands[0].commands[1]"))
  }

  test("validate returns Right for a well-formed plan") {
    val good =
      """{"commands":[{"command":"view","inputs":[{"ref":"s","onDisk":false}],
        |"params":{"tableAliases":["t"],"query":"SELECT 1"},"outputKey":"o"}]}"""
        .stripMargin
    assert(PlanParser.validate(good).map(_.commands.length) === Right(1))
  }

  test("unreadable or malformed documents are a single root-path error") {
    assert(PlanParser.validateFile("plans/definitely_missing.json").isLeft)
    val Left(errs) = PlanParser.validate("{not json"): @unchecked
    assert(errs.length === 1 && errs.head.path === "")
  }

  test("RunPlan surfaces all validation errors and exits 2, running nothing") {
    val p = Files.createTempFile("graft_badplan", ".json")
    Files.write(p, twoBadPlan.getBytes("UTF-8"))
    val code = RunPlan.run(spark,
      RunPlan.Config(p.toString, Map.empty, "k", None))
    assert(code === 2)
  }

  test("parseFetched loads the plan, nested params, and externalParamsFile through the loader") {
    // A stub config server: every document — the root plan, the
    // command's externalParamsFile — must be fetched by path, with
    // relative refs resolved against the PLAN's prefix, never the
    // filesystem.
    val served = Map(
      "configs/root.json" ->
        """{"commands": [
          |  {"command": "view",
          |   "inputs": [{"ref": "${table}", "onDisk": false}],
          |   "externalParamsFile": "view_params.json",
          |   "outputKey": "out"}
          |]}""".stripMargin,
      "configs/view_params.json" ->
        """{"tableAliases": ["t"], "query": "SELECT 7 AS seven FROM t"}""")
    var fetched = List.empty[String]
    val loader = (path: String) => {
      fetched ::= path
      served.getOrElse(path, throw new NoSuchElementException(path))
    }
    val plan = PlanParser.parseFetched("configs/root.json", loader,
      variables = Map("table" -> "resolved"))
    val view = plan.commands.head.asInstanceOf[ViewCommand]
    assert(view.inputs.head.ref === "resolved")
    assert(view.query === "SELECT 7 AS seven FROM t")
    assert(fetched.reverse ===
      List("configs/root.json", "configs/view_params.json"))
  }

  test("validateFetched propagates loader failures as plan errors") {
    val failing = (_: String) => throw new RuntimeException("server down")
    val Left(errs) =
      PlanParser.validateFetched("x.json", failing): @unchecked
    assert(errs.head.message.contains("server down"))
  }

  test("a field set to JSON null parses as the field left out") {
    // `$f` is where the field goes: `, "<field>": null` or nothing.
    def both(template: String, field: String): (Command, Command) = {
      def one(f: String) = PlanParser.parse(
        s"""{"commands": [${template.replace("$f", f)}]}""").commands.head
      (one(s""", "$field": null"""), one(""))
    }
    val view =
      """{"command": "view", "inputs": [{"ref": "s", "onDisk": false}],
        | "params": {"tableAliases": ["t"], "query": "SELECT 1"},
        | "outputKey": "o"$f}""".stripMargin
    val (noPath, noPath0) = both(view, "outputPath")
    assert(noPath.outputPath === None && noPath === noPath0)
    val (noTable, noTable0) = both(view, "tableName")
    assert(noTable.tableName === None && noTable === noTable0)
    val (csv, csv0) = both(
      """{"command": "view", "inputs": [{"ref": "in.csv", "onDisk": true$f}],
        | "params": {"tableAliases": ["t"], "query": "SELECT 1"},
        | "outputKey": "o"}""".stripMargin, "delimiter")
    assert(csv.asInstanceOf[ViewCommand].inputs.head.delimiter === None &&
      csv === csv0)
    val (sum, sum0) = both(
      """{"command": "checksum", "input": {"ref": "s", "onDisk": false},
        | "params": {"columns": ["id"]$f}, "outputKey": "o"}""".stripMargin,
      "expected")
    assert(sum.asInstanceOf[ChecksumCommand].expected === None && sum === sum0)
    val (drift, drift0) = both(
      """{"command": "drift", "input": {"ref": "s", "onDisk": false},
        | "baseline": {"ref": "b", "onDisk": false},
        | "params": {"valueCol": "v", "binWidth": 1.0$f}, "outputKey": "o"}"""
        .stripMargin, "maxPsi")
    assert(drift.asInstanceOf[DriftCommand].maxPsi === None && drift === drift0)
    val (schema, schema0) = both(
      """{"command": "schema", "input": {"ref": "s", "onDisk": false},
        | "params": {"columns": [{"name": "id", "type": "bigint"$f}]},
        | "outputKey": "o"}""".stripMargin, "nullable")
    assert(schema.asInstanceOf[SchemaCommand].contract.head.nullable &&
      schema === schema0)
  }

  /** Plans whose command 1 a run rejects for a config reason, with a
    * token its diagnostic names. Command 0 writes `$out`. */
  private val runRejects = Seq(
    "sprt alpha" -> ("""{"command": "sprt", "input": {"ref": "copied", "onDisk": false},
      | "params": {"timeCol": "ts", "defectExpr": "id < 0", "p0": 0.01,
      |            "p1": 0.2, "alpha": 0.7}, "outputKey": "s"}""", "alpha"),
    "diff join lists" -> ("""{"command": "diff",
      | "input1": {"ref": "copied", "onDisk": false}, "input1Name": "a",
      | "input2": {"ref": "copied", "onDisk": false}, "input2Name": "b",
      | "params": {"input1Columns": {"joinColumns": ["id"], "diffColumns": ["id"]},
      |            "input2Columns": {"joinColumns": ["id", "id"], "diffColumns": ["id"]}},
      | "outputKey": "d"}""", "joinColumns"),
    "profile columns" -> ("""{"command": "profile",
      | "input": {"ref": "copied", "onDisk": false},
      | "params": {"columns": []}, "outputKey": "p"}""", "at least one column"),
    "diff thresholds" -> ("""{"command": "diff",
      | "input1": {"ref": "copied", "onDisk": false}, "input1Name": "a",
      | "input2": {"ref": "copied", "onDisk": false}, "input2Name": "b",
      | "params": {"input1Columns": {"joinColumns": ["id"], "diffColumns": ["x", "y", "z"]},
      |            "input2Columns": {"joinColumns": ["id"], "diffColumns": ["x", "y", "z"]},
      |            "thresholds": [0.5]},
      | "outputKey": "d"}""", "1 thresholds for 3 diff columns"))

  private def writesThen(out: String, cmd: Option[String]): String = {
    val p = Files.createTempFile("graft_vo", ".json")
    Files.write(p, s"""{"commands": [
      |  {"command": "view", "inputs": [{"ref": "graft_vo_src", "onDisk": false}],
      |   "params": {"tableAliases": ["t"], "query": "SELECT id, id AS x, id AS y, id AS z FROM t"},
      |   "outputKey": "copied", "outputPath": "$out"}${cmd.map("," + _).getOrElse("")}
      |]}""".stripMargin.getBytes("UTF-8"))
    p.toString
  }

  test("validate rejects what the run would; RunPlan exits 2 and writes nothing") {
    spark.range(3).createOrReplaceTempView("graft_vo_src")
    def run(plan: String) =
      RunPlan.run(spark, RunPlan.Config(plan, Map.empty, "k", None))
    // Control: command 0 alone runs and writes its output.
    val written = Files.createTempDirectory("graft_vo").resolve("copied")
    assert(run(writesThen(written.toString, None)) === 0)
    assert(Files.exists(written))
    runRejects.foreach { case (name, (cmd, token)) =>
      val out = Files.createTempDirectory("graft_vo").resolve("copied")
      val plan = writesThen(out.toString, Some(cmd.stripMargin))
      val Left(errs) = PlanParser.validateFile(plan): @unchecked
      assert(errs.map(_.path) === Seq("commands[1]"), name)
      assert(errs.head.message.contains(token), s"$name: ${errs.head.message}")
      assert(run(plan) === 2, name)
      assert(!Files.exists(out), s"$name: the rejected plan wrote $out")
    }
  }
}
