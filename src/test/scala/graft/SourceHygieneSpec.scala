package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** Keeps one session builder, one SparkListener, one lineage barrier,
  * one bucket-pair generator, one vector norm, one read of a command's
  * output fields and one plan-document file reader in the program. */
class SourceHygieneSpec extends AnyFunSuite {
  private def sources: Seq[Path] = {
    val walk = Files.walk(Paths.get("src/main"))
    try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
    finally walk.close()
  }

  /** Occurrences of `needle` in the sources under the given
    * `src/main/scala/graft` subdirectories. */
  private def occurrences(needle: String, dirs: String*): Int =
    sources.filter(p => dirs.exists(d =>
      p.startsWith(Paths.get("src/main/scala/graft", d)))).map { p =>
      java.util.regex.Pattern.quote(needle).r
        .findAllMatchIn(Files.readString(p)).size
    }.sum

  private def filesContaining(needles: String*): Set[String] =
    sources.filter { p =>
      val text = Files.readString(p)
      needles.exists(text.contains)
    }.map(_.getFileName.toString).toSet

  test("only GraftSession builds a SparkSession") {
    assert(sources.nonEmpty)
    assert(filesContaining("SparkSession.builder(") === Set("GraftSession.scala"))
  }

  test("only StageMetrics is a SparkListener") {
    assert(filesContaining("extends SparkListener", "new SparkListener") ===
      Set("StageMetrics.scala"))
  }

  test("only Materialize takes a checkpoint") {
    assert(filesContaining("localCheckpoint(", ".checkpoint(") ===
      Set("Materialize.scala"))
  }

  test("only Dedup.bucketPairs explodes bucket-local id pairs") {
    assert(occurrences("explode(slice(", "dedup") === 1)
  }

  test("only Knn.withNorm computes a vector norm") {
    assert(occurrences("sqrt(dot(", "dedup", "similarity") === 1)
  }

  test("the plan parser reads a command's output fields once") {
    assert(occurrences("\"outputPath\"", "engine") === 1)
  }

  test("one function reads plan documents from the filesystem") {
    assert(occurrences("Files.readAllBytes(", "engine/PlanParser.scala") === 1)
  }
}
