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

  /** A plan document's text and the base its relative refs resolve
    * against. */
  private type Doc = (String, Option[PlanBase])

  /** Finds a document on the filesystem at `file`, else on the classpath
    * at `resource` — the reference ships plan templates inside
    * application jars and loads them the same way
    * (tnengine/TnReader.scala:92-115). Throws NoSuchFileException with
    * `missing` when neither has it. */
  private def locate(file: Path, resource: String, missing: => String): Doc =
    if (Files.exists(file))
      (new String(Files.readAllBytes(file), "UTF-8"),
        Some(FsBase(file.toAbsolutePath.getParent)))
    else {
      val r = resource.stripPrefix("/")
      (readClasspath(r).getOrElse(throw new java.nio.file.NoSuchFileException(missing)),
        Some(ClasspathBase(pathDir(r))))
    }

  private def locate(path: String): Doc =
    locate(Paths.get(path), path, s"$path (not on filesystem or classpath)")

  private def readClasspath(path: String): Option[String] =
    Option(getClass.getClassLoader.getResourceAsStream(path.stripPrefix("/")))
      .map { stream =>
        try scala.io.Source.fromInputStream(stream, "UTF-8").mkString
        finally stream.close()
      }

  private def pathDir(path: String): String =
    path.lastIndexOf('/') match {
      case -1 => ""
      case i  => path.substring(0, i + 1)
    }

  // Each parse is its validate twin with the error list folded into one
  // exception, so validate can never accept a plan parse rejects (or
  // vice versa). The plan document itself is read before the walk: a
  // missing plan file throws NoSuchFileException, a failing loader its
  // own exception.

  def parse(json: String, variables: Map[String, String] = Map.empty,
      baseDir: Option[Path] = None): Plan =
    orThrow(validate(json, variables, baseDir))

  def parseFile(path: String, variables: Map[String, String] = Map.empty): Plan = {
    val doc = locate(path)
    orThrow(validated(doc, variables))
  }

  /** Parse a plan served by a user-supplied loader (e.g. an HTTP GET
    * against a plan/config server): `load` maps a document path to its
    * text, and ALL document reads — the root plan, every
    * `externalParamsFile`, nested plans' params — go through it. */
  def parseFetched(path: String, load: String => String,
      variables: Map[String, String] = Map.empty): Plan = {
    val doc = fetch(path, load)
    orThrow(validated(doc, variables))
  }

  /** Whole-plan pre-validation (reference: tnengine/TnEngine.scala:113-143,
    * `haltIfPotentialErrors`): walk EVERY command — nested plans
    * included — and return all config errors at once, so a 30-command
    * plan's author fixes them in one round trip instead of one at a
    * time. Right(plan) only when every command parsed. */
  def validate(json: String, variables: Map[String, String] = Map.empty,
      baseDir: Option[Path] = None): Either[Seq[PlanError], Plan] =
    validated((json, baseDir.map(FsBase.apply)), variables)

  /** [[validate]] for a filesystem-or-classpath plan document. */
  def validateFile(path: String, variables: Map[String, String] = Map.empty)
      : Either[Seq[PlanError], Plan] =
    validated(locate(path), variables)

  /** [[validate]] for a loader-served plan document. */
  def validateFetched(path: String, load: String => String,
      variables: Map[String, String] = Map.empty)
      : Either[Seq[PlanError], Plan] =
    validated(fetch(path, load), variables)

  private def fetch(path: String, load: String => String): Doc =
    (load(path), Some(LoaderBase(pathDir(path), load)))

  /** Substitutes `${variable}`s in the document's text and walks it; an
    * unreadable or malformed document is one error at the root path. */
  private def validated(doc: => Doc, variables: Map[String, String])
      : Either[Seq[PlanError], Plan] =
    try {
      val (json, base) = doc
      val substituted = variables.foldLeft(json) { case (s, (k, v)) =>
        s.replace("${" + k + "}", v)
      }
      planValidated(mapper.readTree(substituted), base, "")
    } catch { case e: Exception => Left(Seq(PlanError("", e.getMessage))) }

  private def orThrow(result: Either[Seq[PlanError], Plan]): Plan =
    result.fold(
      errs => throw new IllegalArgumentException(
        errs.map(e => s"${e.path}: ${e.message}").mkString("; ")),
      identity)

  private def planValidated(root: JsonNode, base: Option[PlanBase],
      prefix: String): Either[Seq[PlanError], Plan] = {
    val dest = optText(root.path("io"), "dest")
    val results: Seq[Either[Seq[PlanError], Command]] =
      root.path("commands").elements().asScala.zipWithIndex.map {
        case (node, i) =>
          val at = s"${prefix}commands[$i]"
          if (text(node, "command") == "plan")
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

  /** Merge externalParamsFile content under "params" when present. */
  private def resolveParams(node: JsonNode, baseDir: Option[PlanBase]): JsonNode = {
    optText(node, "externalParamsFile") match {
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
        val json = baseDir match {
          case Some(FsBase(b)) if !rel.startsWith("/") =>
            val resolved = b.resolve(rel)
            locate(resolved, rel, s"$resolved (also tried classpath '$rel')")._1
          case Some(ClasspathBase(dir)) =>
            val refs =
              if (rel.startsWith("/")) Seq(rel.stripPrefix("/"))
              else Seq(dir + rel, rel)
            refs.view.flatMap(readClasspath).headOption.getOrElse(
              throw new java.nio.file.NoSuchFileException(
                refs.map(r => s"classpath '$r'").mkString(", ")))
          case Some(LoaderBase(dir, load)) =>
            load(if (rel.startsWith("/")) rel else dir + rel)
          case _ => locate(rel)._1
        }
        mapper.readTree(json)
      case None => node.path("params")
    }
  }

  /** A required object field, failing with the FIELD NAME: fuzzing
    * found that a missing "input" surfaced as a JDK NullPointerException
    * message from inside the node walk — a stack-trace diagnostic, not
    * a config one. Every required sub-object goes through here so the
    * error names what the plan author must add. */
  private def requiredNode(n: JsonNode, field: String): JsonNode =
    opt(n, field).getOrElse(throw new IllegalArgumentException(
      s"missing required field '$field'"))

  /** Builds one command; the command's constructor checks its values. */
  private def commandFromNode(node: JsonNode, baseDir: Option[PlanBase]): Command = {
    val params: JsonNode = resolveParams(node, baseDir)
    def input(field: String = "input") = inputRef(requiredNode(node, field))
    val out = OutputSpec(
      outputKey = text(node, "outputKey"),
      cache = node.path("cache").asBoolean(false),
      outputPath = optText(node, "outputPath"),
      tableName = optText(node, "tableName"))
    text(node, "command") match {
      case "assertion" =>
        AssertionCommand(
          input = input(),
          rules = params.path("assertions").elements().asScala.map(ruleFromNode).toSeq,
          output = out)
      case "diff" =>
        val c1 = params.path("input1Columns")
        val c2 = params.path("input2Columns")
        DiffCommand(
          input1 = input("input1"),
          input1Name = text(node, "input1Name"),
          input2 = input("input2"),
          input2Name = text(node, "input2Name"),
          joinColumns1 = strings(c1.path("joinColumns")),
          diffColumns1 = strings(c1.path("diffColumns")),
          joinColumns2 = strings(c2.path("joinColumns")),
          diffColumns2 = strings(c2.path("diffColumns")),
          numericThreshold = opt(node, "threshold").fold(1e-6)(_.asDouble),
          perColumnThresholds = opt(params, "thresholds")
            .map(_.elements().asScala.map(_.asDouble).toSeq),
          filterEqualRows = node.path("filterEqualRows").asBoolean(false),
          output = out)
      case "view" =>
        ViewCommand(
          inputs = node.path("inputs").elements().asScala.map(inputRef).toSeq,
          tableAliases = strings(params.path("tableAliases")),
          query = text(params, "query"),
          output = out)
      case "schema" =>
        SchemaCommand(
          input = input(),
          contract = params.path("columns").elements().asScala.map { c =>
            graft.rules.ColumnContract(
              name = text(c, "name"),
              dataType = text(c, "type"),
              nullable = opt(c, "nullable").forall(_.asBoolean()))
          }.toSeq,
          allowExtra = node.path("allowExtra").asBoolean(true),
          output = out)
      case "profile" =>
        ProfileCommand(
          input = input(),
          columns = strings(params.path("columns")),
          approx = params.path("approx").asBoolean(false),
          output = out)
      case "dedup" =>
        DedupCommand(
          input = input(),
          textCol = text(params, "textCol"),
          idCol = text(params, "idCol"),
          keepDuplicatesReport = params.path("keepDuplicatesReport").asBoolean(false),
          output = out)
      case "sample" =>
        SampleCommand(
          input = input(),
          stratumCols = strings(params.path("stratumCols")),
          idCol = text(params, "idCol"),
          k = params.path("k").asInt(),
          seed = optText(params, "seed").getOrElse("sample"),
          output = out)
      case "drift" =>
        DriftCommand(
          input = input(),
          baseline = input("baseline"),
          valueCol = text(params, "valueCol"),
          binWidth = params.path("binWidth").asDouble(),
          maxPsi = opt(params, "maxPsi").map(_.asDouble()),
          output = out)
      case "checksum" =>
        ChecksumCommand(
          input = input(),
          columns = strings(params.path("columns")),
          expected = optText(params, "expected"),
          output = out)
      case "sprt" =>
        SprtCommand(
          input = input(),
          timeCol = text(params, "timeCol"),
          defectExpr = text(params, "defectExpr"),
          granularity = optText(params, "granularity").getOrElse("month"),
          p0 = params.path("p0").asDouble(),
          p1 = params.path("p1").asDouble(),
          alpha = opt(params, "alpha").fold(0.05)(_.asDouble()),
          output = out)
      case "topn" =>
        TopNCommand(
          input = input(),
          keyCols = strings(params.path("keyCols")),
          orderCol = text(params, "orderCol"),
          tiebreakCol = text(params, "tiebreakCol"),
          k = params.path("k").asInt(),
          descending = params.path("descending").asBoolean(true),
          output = out)
      case other =>
        throw new IllegalArgumentException(
          s"command must be assertion, diff, view, schema, dedup, profile, sample, drift, checksum, sprt, topn, or plan; got '$other'")
    }
  }

  private def ruleFromNode(n: JsonNode): Rule = Rule(
    query = text(n, "query"),
    description = text(n, "description"),
    threshold = n.path("threshold").asDouble(),
    features = mapOf(n.path("userDefinedFeatures")),
    summary = mapOf(n.path("userDefinedSummaryExpr")),
    sampleWindow = opt(n, "sampleWindowParams").map(w =>
      SampleWindowParams(
        strings(w.path("idsForWindowPartitioning")),
        strings(w.path("orderEachWindowBy")))))

  private def inputRef(n: JsonNode): InputRef = InputRef(
    ref = text(n, "ref"),
    onDisk = n.path("onDisk").asBoolean(false),
    format = optText(n, "format"),
    delimiter = optText(n, "delimiter"),
    rowTag = optText(n, "rowTag"))

  private def strings(n: JsonNode): Seq[String] =
    n.elements().asScala.map(_.asText()).toSeq

  private def mapOf(n: JsonNode): Map[String, String] =
    n.properties().asScala.map(e => e.getKey -> e.getValue.asText()).toMap

  /** The one reader of a field's value: an explicit JSON `null` is
    * absent, as an omitted field is (Jackson's `get` returns a
    * `NullNode` that reads as "null", 0 or false). */
  private def opt(n: JsonNode, field: String): Option[JsonNode] =
    Option(n.get(field)).filterNot(_.isNull)

  private def optText(n: JsonNode, field: String): Option[String] =
    opt(n, field).map(_.asText())

  private def text(n: JsonNode, field: String): String =
    optText(n, field).getOrElse("")
}
