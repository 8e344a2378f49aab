package graft.dedup

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.AttributeReference
import org.apache.spark.sql.catalyst.plans.logical.{Generate, LogicalPlan, RepartitionByExpression}
import graft.SparkSpec
import graft.queries.DedupQueries

/** Every bucket-pair path keeps the hot-bucket barrier: a repartition
  * on id_a between the position explode and the pair explode, so one
  * big bucket's pairs spread over many tasks. */
class HotBucketBarrierSpec extends SparkSpec {
  private def docs: DataFrame = {
    val s = spark
    import s.implicits._
    Seq((1L, "a b c d e f g h", "web"), (2L, "a b c d e f g h", "web"),
      (3L, "a b c d x y z w", "web"), (4L, "q r s t u v w x", "news"))
      .toDF("doc_id", "text", "source")
  }

  /** A Generate above a repartition on id_a above another Generate. */
  private def hasBarrier(plan: LogicalPlan): Boolean =
    plan.collect { case g: Generate => g }.exists { outer =>
      outer.child.collect {
        case r: RepartitionByExpression if r.partitionExpressions.exists {
          case a: AttributeReference => a.name == "id_a"
          case _ => false
        } => r
      }.exists(_.child.collectFirst { case g: Generate => g }.nonEmpty)
    }

  private def assertBarrier(name: String, df: DataFrame): Unit =
    assert(hasBarrier(df.queryExecution.optimizedPlan),
      s"$name lost the id_a repartition:\n${df.queryExecution.optimizedPlan}")

  test("the Dedup pair paths repartition on id_a between their generators") {
    assertBarrier("minhashCandidatePairs",
      Dedup.minhashCandidatePairs(docs, "text", "doc_id", 16, 8))
    assertBarrier("ngramJaccardPairs",
      Dedup.ngramJaccardPairs(docs, "text", "doc_id", 3, "source"))
    assertBarrier("jaccardNeighbors",
      Dedup.jaccardNeighbors(docs, "text", "doc_id", 3, "source", 0.5))
    assertBarrier("containmentNeighbors",
      Dedup.containmentNeighbors(docs, "text", "doc_id", 3, "source", 0.5))
  }

  test("qd_winnow_pairs repartitions on id_a between its generators") {
    val dir = Files.createTempDirectory("graft-winnow")
    try {
      docs.write.parquet(s"$dir/documents.parquet")
      assertBarrier("qd_winnow_pairs",
        DedupQueries.qdWinnowPairs(spark, dir.toString))
    } finally org.apache.commons.io.FileUtils.deleteQuietly(dir.toFile)
  }

  test("the barrier check fails on a plan without the repartition") {
    val d = docs
    import org.apache.spark.sql.functions._
    val noBarrier = d.groupBy("source")
      .agg(sort_array(collect_list(col("doc_id"))).as("__ids"))
      .select(posexplode(col("__ids")).as(Seq("__pos", "id_a")), col("__ids"))
      .select(col("id_a"),
        explode(slice(col("__ids"), col("__pos") + 2, size(col("__ids")))).as("id_b"))
    assert(!hasBarrier(noBarrier.queryExecution.optimizedPlan))
  }
}
