package graft.engine

import org.scalatest.funsuite.AnyFunSuite

import scala.util.Random

/** Generative fuzzing of the plan engine's parse-time validation
  * (reference: tnengine/TnEngine.scala:113-143 halts a bad plan before
  * running anything). tools/fuzz_kernels.py fuzzes expression kernels;
  * this is the same discipline for the config surface: hundreds of
  * random plans — valid ones must validate Right AND parse, broken
  * ones must fail with a diagnostic that NAMES the offending field and
  * locates the offending command, never a stack-trace message from
  * deep inside the node walk (a missing "input" used to surface as a
  * JDK NullPointerException text — exactly the failure class this spec
  * exists to keep out). On every generated plan, `parse` must agree
  * with `validate`.
  *
  * Deterministic seed: a failure reproduces by case index.
  */
class PlanFuzzSpec extends AnyFunSuite {

  private val rng = new Random(0xf022b13L)

  private def ident(): String =
    "c" + (1 to (3 + rng.nextInt(6))).map(_ =>
      ('a' + rng.nextInt(26)).toChar).mkString

  private def in(field: String = "input"): String =
    s""""$field": {"ref": "${ident()}", "onDisk": false}"""

  // --- valid command generators (one per command type) ---------------

  private def vAssertion(): String =
    s"""{"command":"assertion", ${in()}, "outputKey":"${ident()}",
       | "params":{"assertions":[
       |   {"query":"x > ${rng.nextInt(100)}","description":"d",
       |    "threshold":0.${rng.nextInt(9) + 1}}]}}""".stripMargin

  private def vDiff(): String =
    s"""{"command":"diff", ${in("input1")}, ${in("input2")},
       | "input1Name":"a","input2Name":"b","outputKey":"${ident()}",
       | "params":{"input1Columns":{"joinColumns":["k"],"diffColumns":["v"]},
       |           "input2Columns":{"joinColumns":["k"],"diffColumns":["v"]}}}"""
      .stripMargin

  private def vView(nIn: Int): String = {
    val ins = (1 to nIn).map(_ => s"""{"ref":"${ident()}"}""").mkString(",")
    val als = (1 to nIn).map(i => s""""t$i"""").mkString(",")
    s"""{"command":"view","inputs":[$ins],"outputKey":"${ident()}",
       | "params":{"tableAliases":[$als],"query":"SELECT 1 AS x FROM t1"}}"""
      .stripMargin
  }

  private def vSchema(): String =
    s"""{"command":"schema", ${in()}, "outputKey":"${ident()}",
       | "params":{"columns":[{"name":"${ident()}","type":"bigint"}]}}"""
      .stripMargin

  private def vProfile(): String =
    s"""{"command":"profile", ${in()}, "outputKey":"${ident()}",
       | "params":{"columns":["${ident()}"]}}""".stripMargin

  private def vDedup(): String =
    s"""{"command":"dedup", ${in()}, "outputKey":"${ident()}",
       | "params":{"textCol":"${ident()}","idCol":"${ident()}"}}""".stripMargin

  private def vSample(): String =
    s"""{"command":"sample", ${in()}, "outputKey":"${ident()}",
       | "params":{"stratumCols":["${ident()}"],"idCol":"${ident()}",
       |           "k":${rng.nextInt(50) + 1}}}""".stripMargin

  private def vDrift(): String =
    s"""{"command":"drift", ${in()}, ${in("baseline")},
       | "outputKey":"${ident()}",
       | "params":{"valueCol":"${ident()}",
       |           "binWidth":${rng.nextInt(9) + 1}.5}}""".stripMargin

  private def vChecksum(): String =
    s"""{"command":"checksum", ${in()}, "outputKey":"${ident()}",
       | "params":{"columns":["${ident()}","${ident()}"]}}""".stripMargin

  private def vSprt(): String =
    s"""{"command":"sprt", ${in()}, "outputKey":"${ident()}",
       | "params":{"timeCol":"ts","defectExpr":"v < 0",
       |           "p0":0.0${rng.nextInt(9) + 1},"p1":0.${rng.nextInt(4) + 5}}}"""
      .stripMargin

  private def vTopn(): String =
    s"""{"command":"topn", ${in()}, "outputKey":"${ident()}",
       | "params":{"keyCols":["${ident()}"],"orderCol":"${ident()}",
       |           "tiebreakCol":"${ident()}","k":${rng.nextInt(20) + 1}}}"""
      .stripMargin

  private def validCommand(): String = rng.nextInt(11) match {
    case 0 => vAssertion()
    case 1 => vDiff()
    case 2 => vView(rng.nextInt(3) + 1)
    case 3 => vSchema()
    case 4 => vProfile()
    case 5 => vDedup()
    case 6 => vSample()
    case 7 => vDrift()
    case 8 => vChecksum()
    case 9 => vSprt()
    case _ => vTopn()
  }

  private def plan(cmds: Seq[String]): String =
    s"""{"commands":[${cmds.mkString(",")}]}"""

  // --- broken command generators: (json, tokens the diagnostic must name)

  private def broken(): (String, Seq[String]) = rng.nextInt(18) match {
    case 0 =>
      val bogus = "cmd_" + ident()
      (s"""{"command":"$bogus"}""", Seq(bogus))
    case 1 => // assertion without its input
      (s"""{"command":"assertion","outputKey":"o",
          | "params":{"assertions":[{"query":"x > 0","threshold":0.1}]}}"""
        .stripMargin, Seq("input"))
    case 2 => // diff missing the second input
      (s"""{"command":"diff", ${in("input1")}, "outputKey":"o",
          | "params":{"input1Columns":{"joinColumns":["k"],"diffColumns":["v"]},
          |           "input2Columns":{"joinColumns":["k"],"diffColumns":["v"]}}}"""
        .stripMargin, Seq("input2"))
    case 3 => // drift missing baseline
      (s"""{"command":"drift", ${in()}, "outputKey":"o",
          | "params":{"valueCol":"v","binWidth":1.0}}""".stripMargin,
        Seq("baseline"))
    case 4 => // sample with non-positive k
      (s"""{"command":"sample", ${in()}, "outputKey":"o",
          | "params":{"stratumCols":["s"],"idCol":"i","k":${-rng.nextInt(5)}}}"""
        .stripMargin, Seq("sample k"))
    case 5 => // sample without stratumCols
      (s"""{"command":"sample", ${in()}, "outputKey":"o",
          | "params":{"idCol":"i","k":3}}""".stripMargin, Seq("stratumCols"))
    case 6 => // sample without idCol
      (s"""{"command":"sample", ${in()}, "outputKey":"o",
          | "params":{"stratumCols":["s"],"k":3}}""".stripMargin, Seq("idCol"))
    case 7 => // dedup without textCol
      (s"""{"command":"dedup", ${in()}, "outputKey":"o",
          | "params":{"idCol":"i"}}""".stripMargin, Seq("textCol"))
    case 8 => // drift with a non-positive binWidth
      (s"""{"command":"drift", ${in()}, ${in("baseline")}, "outputKey":"o",
          | "params":{"valueCol":"v","binWidth":0}}""".stripMargin,
        Seq("binWidth"))
    case 9 => // drift without valueCol
      (s"""{"command":"drift", ${in()}, ${in("baseline")}, "outputKey":"o",
          | "params":{"binWidth":1.0}}""".stripMargin, Seq("valueCol"))
    case 10 => // checksum without columns
      (s"""{"command":"checksum", ${in()}, "outputKey":"o",
          | "params":{}}""".stripMargin, Seq("checksum needs columns"))
    case 11 => // sprt with p0 out of (0,1)
      (s"""{"command":"sprt", ${in()}, "outputKey":"o",
          | "params":{"timeCol":"ts","defectExpr":"v<0",
          |           "p0":${rng.nextInt(3) + 1},"p1":0.5}}""".stripMargin,
        Seq("p0/p1"))
    case 12 => // sprt without timeCol
      (s"""{"command":"sprt", ${in()}, "outputKey":"o",
          | "params":{"defectExpr":"v<0","p0":0.01,"p1":0.5}}""".stripMargin,
        Seq("timeCol"))
    case 13 => // topn with non-positive k
      (s"""{"command":"topn", ${in()}, "outputKey":"o",
          | "params":{"keyCols":["k"],"orderCol":"v","tiebreakCol":"i","k":0}}"""
        .stripMargin, Seq("topn k"))
    case 14 => // topn without orderCol
      (s"""{"command":"topn", ${in()}, "outputKey":"o",
          | "params":{"keyCols":["k"],"tiebreakCol":"i","k":5}}""".stripMargin,
        Seq("orderCol"))
    case 15 => // view with mismatched alias arity
      (s"""{"command":"view","inputs":[{"ref":"a"},{"ref":"b"}],
          | "outputKey":"o",
          | "params":{"tableAliases":["t"],"query":"SELECT 1"}}""".stripMargin,
        Seq("tableAlias"))
    case 16 => // view without a query
      (s"""{"command":"view","inputs":[{"ref":"a"}],"outputKey":"o",
          | "params":{"tableAliases":["t"]}}""".stripMargin,
        Seq("view needs query"))
    case _ => // assertion rule without a query
      (s"""{"command":"assertion", ${in()}, "outputKey":"o",
          | "params":{"assertions":[{"threshold":0.1}]}}""".stripMargin,
        Seq("assertion rule needs query"))
  }

  /** [[PlanParser.validate]]'s result, after checking that `parse`
    * agrees with it: it returns the same plan when validate is Right,
    * and throws exactly the joined error list when validate is Left. */
  private def validated(doc: String,
      baseDir: Option[java.nio.file.Path] = None)
      : Either[Seq[PlanParser.PlanError], Plan] = {
    val result = PlanParser.validate(doc, baseDir = baseDir)
    result match {
      case Right(p) => assert(PlanParser.parse(doc, baseDir = baseDir) == p)
      case Left(errs) =>
        val e = intercept[IllegalArgumentException] {
          PlanParser.parse(doc, baseDir = baseDir)
        }
        assert(e.getMessage == errs.map(e => s"${e.path}: ${e.message}").mkString("; "))
    }
    result
  }

  /** The property every diagnostic must satisfy: locates the command,
    * names the problem, and is a CONFIG message — never the text of an
    * exception that escaped from deep inside the walk. */
  private def assertDiagnostic(err: PlanParser.PlanError,
      expectPath: String, tokens: Seq[String], context: String): Unit = {
    assert(err.path == expectPath,
      s"$context: error at '${err.path}', expected '$expectPath'")
    val msg = Option(err.message).getOrElse("")
    assert(msg.nonEmpty, s"$context: empty diagnostic")
    tokens.foreach(t => assert(msg.contains(t),
      s"$context: diagnostic '$msg' does not name '$t'"))
    Seq("Cannot invoke", "NullPointerException", "MatchError",
      "ClassCastException", "scala.None", "at graft.").foreach(bad =>
      assert(!msg.contains(bad),
        s"$context: stack-trace-grade diagnostic: '$msg'"))
  }

  test("120 random VALID plans validate Right and parse") {
    for (i <- 1 to 120) {
      val p = plan((1 to (rng.nextInt(4) + 1)).map(_ => validCommand()))
      validated(p) match {
        case Right(parsed) =>
          assert(parsed.commands.nonEmpty)
          // parse must agree with validate (same walk, two surfaces)
          assert(PlanParser.parse(p).commands.length ==
            parsed.commands.length)
        case Left(errs) =>
          fail(s"valid case $i rejected: $errs\n$p")
      }
    }
  }

  test("150 random BROKEN commands each fail with a field-naming diagnostic") {
    for (i <- 1 to 150) {
      // The broken command is planted at a random position among valid
      // ones: the error path must name ITS index, and the valid
      // neighbors must not produce spurious errors.
      val nBefore = rng.nextInt(3)
      val (bad, tokens) = broken()
      val cmds = (1 to nBefore).map(_ => validCommand()) ++ Seq(bad) ++
        (1 to rng.nextInt(2)).map(_ => validCommand())
      val p = plan(cmds)
      validated(p) match {
        case Right(_) => fail(s"broken case $i accepted\n$bad")
        case Left(errs) =>
          assert(errs.length == 1, s"case $i: expected 1 error, got $errs")
          assertDiagnostic(errs.head, s"commands[$nBefore]", tokens,
            s"case $i")
      }
    }
  }

  test("broken commands nested inside plan commands carry nested paths") {
    for (i <- 1 to 30) {
      val (bad, tokens) = broken()
      val inner = plan(Seq(validCommand(), bad))
      val p = s"""{"commands":[{"command":"plan","params":$inner}]}"""
      validated(p) match {
        case Right(_) => fail(s"nested broken case $i accepted\n$bad")
        case Left(errs) =>
          assert(errs.length == 1)
          assertDiagnostic(errs.head, "commands[0].commands[1]", tokens,
            s"nested case $i")
      }
    }
  }

  test("structurally mangled documents fail closed with a root error") {
    val valid = plan(Seq(validCommand(), validCommand()))
    val mangled = Seq(
      valid.dropRight(1 + rng.nextInt(10)), // truncated
      valid.replace("{", "["), // wrong container
      "", // empty
      " garbage", // binary noise
      valid.replace("\"commands\"", "\"commands") // broken key quoting
    )
    mangled.foreach { doc =>
      validated(doc) match {
        case Right(pl) =>
          // An empty/valid-JSON-but-not-a-plan document may parse to a
          // commandless plan; anything else must have been rejected.
          assert(pl.commands.isEmpty, s"mangled doc accepted: $doc")
        case Left(errs) =>
          assert(errs.nonEmpty && errs.head.path == "")
          assert(Option(errs.head.message).exists(_.nonEmpty))
      }
    }
  }

  test("a dangling externalParamsFile names the unresolvable path") {
    val p =
      """{"commands":[{"command":"dedup",
        | "input":{"ref":"x"}, "outputKey":"o",
        | "externalParamsFile":"no/such/params_file.json"}]}""".stripMargin
    val Left(errs) = validated(p,
      baseDir = Some(java.nio.file.Paths.get("/tmp"))): @unchecked
    assert(errs.length == 1 && errs.head.path == "commands[0]")
    assert(errs.head.message.contains("params_file.json"))
  }
}
