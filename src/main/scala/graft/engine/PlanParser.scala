package graft.engine

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import graft.rules.{Rule, SampleWindowParams}
import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** Parses plan JSON into [[Plan]] (reference: tnengine/TnEngine.scala:282-351,
  * tnengine/TnReader.scala).
  *
  * Differences from the reference, by design:
  *  - command parameters may be inlined under `params` OR referenced via
  *    `externalParamsFile` (path relative to the parent plan file);
  *  - `${variable}` substitution happens on the raw JSON text, as in the
  *    reference's TnReader;
  *  - parse errors carry the failing command index instead of a partial
  *    TnErrorCmd list.
  */
object PlanParser {
  private val mapper = new ObjectMapper()

  /** Where a plan document was loaded from. Relative `externalParamsFile`
    * paths resolve against this location — a filesystem plan resolves
    * siblings on the filesystem, a classpath (jar-shipped) plan resolves
    * siblings on the classpath. Without the distinction, a classpath
    * plan's params would probe `$CWD/<dir>/` first (the stale-local-file
    * hazard) and could never find `plans/params.json` shipped beside
    * `plans/plan.json` in the jar. */
  private[engine] sealed trait PlanBase
  private[engine] final case class FsBase(dir: Path) extends PlanBase
  /** `dir` is the resource-path prefix of the plan inside the classpath:
    * "" for a root resource, "plans/" for "plans/foo.json". */
  private[engine] final case class ClasspathBase(dir: String) extends PlanBase
  /** A user-supplied document loader (REST config server, object store,
    * database — anything `String => String`); graft ships no transport
    * client, matching the reference's reader abstraction
    * (tnengine/TnReader.scala:44-73, `TnRESTReader`). Relative
    * `externalParamsFile` refs resolve against the plan's path prefix
    * THROUGH THE SAME LOADER — a REST-served plan must fetch its params
    * from the server, never from the local filesystem. */
  private[engine] final case class LoaderBase(dir: String,
      load: String => String) extends PlanBase

  /** One invalid command, located by its JSON path (e.g.
    * "commands[2]" or "commands[1].commands[0]" inside a nested plan). */
  final case class PlanError(path: String, message: String)

  /** Read a plan/params document from the filesystem, falling back to
    * the classpath — the reference ships plan templates inside
    * application jars and loads them the same way
    * (tnengine/TnReader.scala:92-115). */
  private[engine] def readText(path: String): String =
    if (Files.exists(Paths.get(path)))
      new String(Files.readAllBytes(Paths.get(path)), "UTF-8")
    else readClasspath(path).getOrElse(
      throw new java.nio.file.NoSuchFileException(
        s"$path (not on filesystem or classpath)"))

  private def readClasspath(path: String): Option[String] =
    Option(getClass.getClassLoader.getResourceAsStream(path.stripPrefix("/")))
      .map { stream =>
        try scala.io.Source.fromInputStream(stream, "UTF-8").mkString
        finally stream.close()
      }

  def parseFile(path: String, variables: Map[String, String] = Map.empty): Plan = {
    val p = Paths.get(path)
    if (Files.exists(p))
      parseWithBase(new String(Files.readAllBytes(p), "UTF-8"), variables,
        Some(FsBase(p.toAbsolutePath.getParent)))
    else {
      val resource = path.stripPrefix("/")
      val text = readClasspath(resource).getOrElse(
        throw new java.nio.file.NoSuchFileException(
          s"$path (not on filesystem or classpath)"))
      val dir = resource.lastIndexOf('/') match {
        case -1 => ""
        case i  => resource.substring(0, i + 1)
      }
      parseWithBase(text, variables, Some(ClasspathBase(dir)))
    }
  }

  def parse(json: String, variables: Map[String, String] = Map.empty,
      baseDir: Option[Path] = None): Plan =
    parseWithBase(json, variables, baseDir.map(FsBase.apply))

  /** Parse a plan served by a user-supplied loader (e.g. an HTTP GET
    * against a plan/config server): `load` maps a document path to its
    * text, and ALL document reads — the root plan, every
    * `externalParamsFile`, nested plans' params — go through it. */
  def parseFetched(path: String, load: String => String,
      variables: Map[String, String] = Map.empty): Plan =
    parseWithBase(load(path), variables, Some(LoaderBase(pathDir(path), load)))

  private def pathDir(path: String): String =
    path.lastIndexOf('/') match {
      case -1 => ""
      case i  => path.substring(0, i + 1)
    }

  /** Whole-plan pre-validation (reference: tnengine/TnEngine.scala:113-143,
    * `haltIfPotentialErrors`): walk EVERY command — nested plans
    * included — and return all config errors at once, so a 30-command
    * plan's author fixes them in one round trip instead of one at a
    * time. Right(plan) only when every command parsed. */
  def validate(json: String, variables: Map[String, String] = Map.empty,
      baseDir: Option[Path] = None): Either[Seq[PlanError], Plan] =
    validateWithBase(json, variables, baseDir.map(FsBase.apply))

  /** [[validate]] for a filesystem-or-classpath plan document. */
  def validateFile(path: String, variables: Map[String, String] = Map.empty)
      : Either[Seq[PlanError], Plan] =
    try {
      val p = Paths.get(path)
      if (Files.exists(p))
        validateWithBase(new String(Files.readAllBytes(p), "UTF-8"), variables,
          Some(FsBase(p.toAbsolutePath.getParent)))
      else {
        val resource = path.stripPrefix("/")
        readClasspath(resource) match {
          case Some(text) =>
            validateWithBase(text, variables, Some(ClasspathBase(pathDir(resource))))
          case None => Left(Seq(PlanError("",
            s"$path (not on filesystem or classpath)")))
        }
      }
    } catch {
      case e: Exception => Left(Seq(PlanError("", e.getMessage)))
    }

  /** [[validate]] for a loader-served plan document. */
  def validateFetched(path: String, load: String => String,
      variables: Map[String, String] = Map.empty)
      : Either[Seq[PlanError], Plan] =
    try validateWithBase(load(path), variables,
      Some(LoaderBase(pathDir(path), load)))
    catch { case e: Exception => Left(Seq(PlanError("", e.getMessage))) }

  private def validateWithBase(json: String, variables: Map[String, String],
      base: Option[PlanBase]): Either[Seq[PlanError], Plan] = {
    val substituted = variables.foldLeft(json) { case (s, (k, v)) =>
      s.replace("${" + k + "}", v)
    }
    try planValidated(mapper.readTree(substituted), base, "")
    catch { case e: Exception => Left(Seq(PlanError("", e.getMessage))) }
  }

  private def planValidated(root: JsonNode, base: Option[PlanBase],
      prefix: String): Either[Seq[PlanError], Plan] = {
    val dest = Option(root.path("io").path("dest").asText(null))
    val results: Seq[Either[Seq[PlanError], Command]] =
      root.path("commands").elements().asScala.zipWithIndex.map {
        case (node, i) =>
          val at = s"${prefix}commands[$i]"
          if (node.path("command").asText() == "plan")
            // Recurse so a nested plan reports ALL its bad commands,
            // not just the first, each located by its full path.
            (try planValidated(resolveParams(node, base), base, s"$at.")
             catch { case e: Exception => Left(Seq(PlanError(at, e.getMessage))) })
              .map(PlanCommand.apply)
          else
            try Right(commandFromNode(node, base))
            catch { case e: Exception => Left(Seq(PlanError(at, e.getMessage))) }
      }.toSeq
    val errors = results.collect { case Left(es) => es }.flatten
    if (errors.nonEmpty) Left(errors)
    else Right(Plan(results.collect { case Right(c) => c }, dest))
  }

  private def parseWithBase(json: String, variables: Map[String, String],
      base: Option[PlanBase]): Plan = {
    val substituted = variables.foldLeft(json) { case (s, (k, v)) =>
      s.replace("${" + k + "}", v)
    }
    planFromNode(mapper.readTree(substituted), base)
  }

  // Parse delegates to the SAME walk as validation — one tree walk to
  // maintain, so validate can never accept a plan parse rejects (or
  // vice versa); the throwing surface just folds the error list.
  private def planFromNode(root: JsonNode, baseDir: Option[PlanBase]): Plan =
    planValidated(root, baseDir, "").fold(
      errs => throw new IllegalArgumentException(
        errs.map(e => s"${e.path}: ${e.message}").mkString("; ")),
      identity)

  /** Merge externalParamsFile content under "params" when present. */
  private def resolveParams(node: JsonNode, baseDir: Option[PlanBase]): JsonNode = {
    val ext = Option(node.get("externalParamsFile")).map(_.asText())
    ext match {
      case Some(rel) =>
        // Resolution order: plan-relative (same medium the plan came
        // from), then classpath root, then — only when NO base
        // exists — the raw path. Never fall back to a CWD-relative
        // file when the plan has a base: a stale deploy there must
        // fail loudly, not silently load whatever the launch
        // directory happens to contain. A classpath plan never
        // probes the filesystem at all — absolute refs included: a
        // jar-shipped plan must not read the host filesystem; a
        // loader-served plan likewise fetches ONLY through its loader.
        val text = baseDir match {
          case Some(FsBase(b)) if !rel.startsWith("/") =>
            val resolved = b.resolve(rel)
            if (Files.exists(resolved))
              new String(Files.readAllBytes(resolved), "UTF-8")
            else readClasspath(rel).getOrElse(
              throw new java.nio.file.NoSuchFileException(
                s"$resolved (also tried classpath '$rel')"))
          case Some(ClasspathBase(dir)) =>
            val refs =
              if (rel.startsWith("/")) Seq(rel.stripPrefix("/"))
              else Seq(dir + rel, rel)
            refs.view.flatMap(readClasspath).headOption.getOrElse(
              throw new java.nio.file.NoSuchFileException(
                refs.map(r => s"classpath '$r'").mkString(", ")))
          case Some(LoaderBase(dir, load)) =>
            load(if (rel.startsWith("/")) rel else dir + rel)
          case _ => readText(rel)
        }
        mapper.readTree(text)
      case None => node.path("params")
    }
  }

  /** A required object field, failing with the FIELD NAME: fuzzing
    * found that a missing "input" surfaced as a JDK NullPointerException
    * message from inside the node walk — a stack-trace diagnostic, not
    * a config one. Every required sub-object goes through here so the
    * error names what the plan author must add. */
  private def requiredNode(n: JsonNode, field: String): JsonNode =
    Option(n.get(field)).getOrElse(throw new IllegalArgumentException(
      s"missing required field '$field'"))

  private def commandFromNode(node: JsonNode, baseDir: Option[PlanBase]): Command = {
    val params: JsonNode = resolveParams(node, baseDir)
    node.path("command").asText() match {
      case "assertion" =>
        AssertionCommand(
          input = inputRef(requiredNode(node, "input")),
          rules = params.path("assertions").elements().asScala.map(ruleFromNode).toSeq,
          outputKey = node.path("outputKey").asText(),
          cache = node.path("cache").asBoolean(false),
          outputPath = optText(node, "outputPath"),
          tableName = optText(node, "tableName"))
      case "diff" =>
        val c1 = params.path("input1Columns")
        val c2 = params.path("input2Columns")
        DiffCommand(
          input1 = inputRef(requiredNode(node, "input1")),
          input1Name = node.path("input1Name").asText(),
          input2 = inputRef(requiredNode(node, "input2")),
          input2Name = node.path("input2Name").asText(),
          joinColumns1 = strings(c1.path("joinColumns")),
          diffColumns1 = strings(c1.path("diffColumns")),
          joinColumns2 = strings(c2.path("joinColumns")),
          diffColumns2 = strings(c2.path("diffColumns")),
          numericThreshold =
            if (node.has("threshold")) node.get("threshold").asDouble else 1e-6,
          perColumnThresholds =
            if (params.has("thresholds"))
              Some(params.get("thresholds").elements().asScala.map(_.asDouble).toSeq)
            else None,
          filterEqualRows = node.path("filterEqualRows").asBoolean(false),
          outputKey = node.path("outputKey").asText(),
          cache = node.path("cache").asBoolean(false),
          outputPath = optText(node, "outputPath"),
          tableName = optText(node, "tableName"))
      case "view" =>
        val viewInputs =
          node.path("inputs").elements().asScala.map(inputRef).toSeq
        val aliases = strings(params.path("tableAliases"))
        require(viewInputs.nonEmpty, "view needs inputs")
        require(viewInputs.size == aliases.size,
          s"view needs one tableAlias per input, got ${viewInputs.size} " +
            s"inputs and ${aliases.size} tableAliases")
        require(params.path("query").asText().nonEmpty, "view needs query")
        ViewCommand(
          inputs = viewInputs,
          tableAliases = aliases,
          query = params.path("query").asText(),
          outputKey = node.path("outputKey").asText(),
          cache = node.path("cache").asBoolean(false),
          outputPath = optText(node, "outputPath"),
          tableName = optText(node, "tableName"))
      case "schema" =>
        SchemaCommand(
          input = inputRef(requiredNode(node, "input")),
          contract = params.path("columns").elements().asScala.map { c =>
            graft.rules.ColumnContract(
              name = c.path("name").asText(),
              dataType = c.path("type").asText(),
              nullable = !c.has("nullable") || c.get("nullable").asBoolean())
          }.toSeq,
          allowExtra = node.path("allowExtra").asBoolean(true),
          outputKey = node.path("outputKey").asText(),
          cache = node.path("cache").asBoolean(false),
          outputPath = optText(node, "outputPath"),
          tableName = optText(node, "tableName"))
      case "profile" =>
        ProfileCommand(
          input = inputRef(requiredNode(node, "input")),
          columns = params.path("columns").elements().asScala
            .map(_.asText()).toSeq,
          approx = params.path("approx").asBoolean(false),
          outputKey = node.path("outputKey").asText(),
          cache = node.path("cache").asBoolean(false),
          outputPath = optText(node, "outputPath"),
          tableName = optText(node, "tableName"))
      case "dedup" =>
        require(params.path("textCol").asText().nonEmpty, "dedup needs textCol")
        require(params.path("idCol").asText().nonEmpty, "dedup needs idCol")
        DedupCommand(
          input = inputRef(requiredNode(node, "input")),
          textCol = params.path("textCol").asText(),
          idCol = params.path("idCol").asText(),
          keepDuplicatesReport = params.path("keepDuplicatesReport").asBoolean(false),
          outputKey = node.path("outputKey").asText(),
          cache = node.path("cache").asBoolean(false),
          outputPath = optText(node, "outputPath"),
          tableName = optText(node, "tableName"))
      case "sample" =>
        require(params.path("k").asInt() > 0, "sample k must be positive")
        require(params.path("stratumCols").size() > 0,
          "sample needs stratumCols")
        require(params.path("idCol").asText().nonEmpty, "sample needs idCol")
        SampleCommand(
          input = inputRef(requiredNode(node, "input")),
          stratumCols = strings(params.path("stratumCols")),
          idCol = params.path("idCol").asText(),
          k = params.path("k").asInt(),
          seed = params.path("seed").asText("sample"),
          outputKey = node.path("outputKey").asText(),
          cache = node.path("cache").asBoolean(false),
          outputPath = optText(node, "outputPath"),
          tableName = optText(node, "tableName"))
      case "drift" =>
        require(params.path("binWidth").asDouble() > 0,
          "drift binWidth must be positive")
        require(params.path("valueCol").asText().nonEmpty,
          "drift needs valueCol")
        DriftCommand(
          input = inputRef(requiredNode(node, "input")),
          baseline = inputRef(requiredNode(node, "baseline")),
          valueCol = params.path("valueCol").asText(),
          binWidth = params.path("binWidth").asDouble(),
          maxPsi = if (params.has("maxPsi"))
            Some(params.get("maxPsi").asDouble()) else None,
          outputKey = node.path("outputKey").asText(),
          cache = node.path("cache").asBoolean(false),
          outputPath = optText(node, "outputPath"),
          tableName = optText(node, "tableName"))
      case "checksum" =>
        require(params.path("columns").size() > 0, "checksum needs columns")
        ChecksumCommand(
          input = inputRef(requiredNode(node, "input")),
          columns = strings(params.path("columns")),
          expected = optText(params, "expected"),
          outputKey = node.path("outputKey").asText(),
          cache = node.path("cache").asBoolean(false),
          outputPath = optText(node, "outputPath"),
          tableName = optText(node, "tableName"))
      case "sprt" =>
        val p0 = params.path("p0").asDouble()
        val p1 = params.path("p1").asDouble()
        require(p0 > 0 && p0 < 1 && p1 > 0 && p1 < 1 && p0 != p1,
          "sprt p0/p1 must be in (0,1) and differ")
        require(params.path("timeCol").asText().nonEmpty, "sprt needs timeCol")
        require(params.path("defectExpr").asText().nonEmpty,
          "sprt needs defectExpr")
        SprtCommand(
          input = inputRef(requiredNode(node, "input")),
          timeCol = params.path("timeCol").asText(),
          defectExpr = params.path("defectExpr").asText(),
          granularity = params.path("granularity").asText("month"),
          p0 = p0,
          p1 = p1,
          alpha = if (params.has("alpha"))
            params.get("alpha").asDouble() else 0.05,
          outputKey = node.path("outputKey").asText(),
          cache = node.path("cache").asBoolean(false),
          outputPath = optText(node, "outputPath"),
          tableName = optText(node, "tableName"))
      case "topn" =>
        require(params.path("k").asInt() > 0, "topn k must be positive")
        require(params.path("keyCols").size() > 0, "topn needs keyCols")
        require(params.path("orderCol").asText().nonEmpty,
          "topn needs orderCol")
        require(params.path("tiebreakCol").asText().nonEmpty,
          "topn needs tiebreakCol")
        TopNCommand(
          input = inputRef(requiredNode(node, "input")),
          keyCols = strings(params.path("keyCols")),
          orderCol = params.path("orderCol").asText(),
          tiebreakCol = params.path("tiebreakCol").asText(),
          k = params.path("k").asInt(),
          descending = params.path("descending").asBoolean(true),
          outputKey = node.path("outputKey").asText(),
          cache = node.path("cache").asBoolean(false),
          outputPath = optText(node, "outputPath"),
          tableName = optText(node, "tableName"))
      case other =>
        throw new IllegalArgumentException(
          s"command must be assertion, diff, view, schema, dedup, profile, sample, drift, checksum, sprt, topn, or plan; got '$other'")
    }
  }

  private def ruleFromNode(n: JsonNode): Rule = {
    require(n.path("query").asText().nonEmpty, "assertion rule needs query")
    Rule(
      query = n.path("query").asText(),
      description = n.path("description").asText(),
      threshold = n.path("threshold").asDouble(),
      features = mapOf(n.path("userDefinedFeatures")),
      summary = mapOf(n.path("userDefinedSummaryExpr")),
      sampleWindow =
        if (n.has("sampleWindowParams")) {
          val w = n.get("sampleWindowParams")
          Some(SampleWindowParams(
            strings(w.path("idsForWindowPartitioning")),
            strings(w.path("orderEachWindowBy"))))
        } else None)
  }

  private def inputRef(n: JsonNode): InputRef = InputRef(
    ref = n.path("ref").asText(),
    onDisk = n.path("onDisk").asBoolean(false),
    format = optText(n, "format"),
    delimiter = optText(n, "delimiter"),
    rowTag = optText(n, "rowTag"))

  private def strings(n: JsonNode): Seq[String] =
    n.elements().asScala.map(_.asText()).toSeq

  private def mapOf(n: JsonNode): Map[String, String] =
    n.properties().asScala.map(e => e.getKey -> e.getValue.asText()).toMap

  private def optText(n: JsonNode, field: String): Option[String] =
    Option(n.get(field)).map(_.asText())
}
