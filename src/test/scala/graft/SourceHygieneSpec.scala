package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** Keeps one session builder, one SparkListener and one lineage
  * barrier in the program. */
class SourceHygieneSpec extends AnyFunSuite {
  private def sources: Seq[Path] = {
    val walk = Files.walk(Paths.get("src/main"))
    try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
    finally walk.close()
  }

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
}
