package graft.dedup

import graft.SparkSpec
import scala.util.Random

/** [[Dedup.connectedComponentsStar]] — equivalence to min-label
  * propagation on randomized graphs, on both loops' rounds and their
  * one-task finish, and the log-round advantage on high-diameter chains
  * (the case propagation's round budget can't cover). */
class StarComponentsSpec extends SparkSpec {

  private def labels(out: org.apache.spark.sql.DataFrame): Map[Long, Long] =
    out.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("star CC matches propagation CC on randomized graphs") {
    val s = spark
    import s.implicits._
    val rnd = new Random(7)
    for (trial <- 0 until 2) {
      val n = 24 + trial * 12
      val verts = (1L to n.toLong)
      val edges = Seq.fill(n) {
        (1L + rnd.nextInt(n), 1L + rnd.nextInt(n))
      }.filter { case (a, b) => a != b }
      val vDf = verts.toDF("doc_id")
      val eDf = edges.toDF("id_a", "id_b")
      // Each with its one-task finish (default) and with rounds only.
      val prop = labels(Dedup.connectedComponents(vDf, eDf))
      assert(labels(Dedup.connectedComponents(vDf, eDf, 25, 0L)) == prop,
        s"trial $trial: propagation rounds != one-task finish")
      assert(labels(Dedup.connectedComponentsStar(vDf, eDf)) == prop,
        s"trial $trial: star != propagation")
      assert(labels(Dedup.connectedComponentsStar(vDf, eDf, 20, 0L)) == prop,
        s"trial $trial: star rounds != propagation")
    }
  }

  test("star CC converges on a 60-vertex path where propagation's budget fails") {
    val s = spark
    import s.implicits._
    // Diameter 59: propagation rounds need 59 (8 throws — asserted
    // below); star contraction converges in 7 rounds + 1 detect round.
    // Both loops are forced onto their rounds with a one-task bound of
    // 0; by default the 59-edge path finishes in one task.
    val vDf = (1L to 60L).toDF("doc_id")
    val eDf = (1L until 60L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val allOne = (1L to 60L).map(_ -> 1L).toMap
    assert(labels(Dedup.connectedComponentsStar(vDf, eDf, 20, 0L)) == allOne)
    assertThrows[IllegalStateException] {
      Dedup.connectedComponents(vDf, eDf, 8, 0L).collect()
    }
    assert(labels(Dedup.connectedComponentsStar(vDf, eDf)) == allOne)
    assert(labels(Dedup.connectedComponents(vDf, eDf, maxIter = 8)) == allOne)
  }

  test("star CC labels isolated vertices and empty edge sets") {
    val s = spark
    import s.implicits._
    val vDf = Seq(5L, 7L, 11L).toDF("doc_id")
    val eDf = Seq.empty[(Long, Long)].toDF("id_a", "id_b")
    assert(labels(Dedup.connectedComponentsStar(vDf, eDf)) ==
      Map(5L -> 5L, 7L -> 7L, 11L -> 11L))
  }

  test("star CC induces on the vertex set: edges through outsiders drop") {
    val s = spark
    import s.implicits._
    // 1-99-2: 99 is not a vertex, so 1 and 2 stay separate.
    val vDf = Seq(1L, 2L).toDF("doc_id")
    val eDf = Seq((1L, 99L), (99L, 2L)).toDF("id_a", "id_b")
    assert(labels(Dedup.connectedComponentsStar(vDf, eDf)) ==
      Map(1L -> 1L, 2L -> 2L))
  }
}
