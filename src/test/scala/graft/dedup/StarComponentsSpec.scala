package graft.dedup

import graft.SparkSpec
import scala.util.Random

/** [[Dedup.connectedComponents]]' large-star / small-star rounds —
  * equivalence to the one-task finish on randomized graphs, the
  * log-round advantage on high-diameter chains, the fail-loud round
  * budget, and ids the one-task finish does not take. */
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
      // The default call finishes in one task; a bound of 0 forces the
      // star rounds.
      val oneTask = labels(Dedup.connectedComponents(vDf, eDf))
      assert(labels(Dedup.connectedComponents(vDf, eDf, 25, 0L)) == oneTask,
        s"trial $trial: star rounds != one-task finish")
    }
  }

  test("star CC converges on a 60-vertex path where propagation's budget fails") {
    val s = spark
    import s.implicits._
    // Diameter 59, which min-label propagation would need 59 rounds
    // for; star contraction converges in 7 rounds, counting the one
    // that detects the fixpoint, so a budget of 3 throws and a budget
    // of 8 suffices. The rounds are forced with a one-task bound of 0;
    // by default the 59-edge path finishes in one task.
    val vDf = (1L to 60L).toDF("doc_id")
    val eDf = (1L until 60L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val allOne = (1L to 60L).map(_ -> 1L).toMap
    assert(labels(Dedup.connectedComponents(vDf, eDf, 25, 0L)) == allOne)
    assertThrows[IllegalStateException] {
      Dedup.connectedComponents(vDf, eDf, 3, 0L).collect()
    }
    assert(labels(Dedup.connectedComponents(vDf, eDf, 8, 0L)) == allOne)
    assert(labels(Dedup.connectedComponents(vDf, eDf)) == allOne)
    assert(labels(Dedup.connectedComponents(vDf, eDf, maxIter = 8)) == allOne)
  }

  test("star CC converges on a 1,000-vertex path within the default budget") {
    val s = spark
    import s.implicits._
    // Diameter 999: far past any round budget a diameter-bound loop
    // could be given; star contraction takes 11 rounds.
    val vDf = (1L to 1000L).toDF("doc_id")
    val eDf = (1L until 1000L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    assert(labels(Dedup.connectedComponents(vDf, eDf, 25, 0L)) ==
      (1L to 1000L).map(_ -> 1L).toMap)
  }

  test("star CC on string ids gives the Long-id partition, one row per vertex") {
    val s = spark
    import s.implicits._
    val rnd = new Random(11)
    val n = 40
    val edges = Seq.fill(n) {
      (1L + rnd.nextInt(n), 1L + rnd.nextInt(n))
    }.filter { case (a, b) => a != b }
    // String ids never take the one-task finish. Unpadded, so their
    // lexicographic order differs from the numeric one ("10" < "9"),
    // and vertex 3 listed twice.
    val verts = (1L to n.toLong) :+ 3L
    val byLong = labels(Dedup.connectedComponents(
      verts.toDF("doc_id"), edges.toDF("id_a", "id_b")))
    val rows = Dedup.connectedComponents(
        verts.map(_.toString).toDF("doc_id"),
        edges.map { case (a, b) => (a.toString, b.toString) }.toDF("id_a", "id_b"))
      .collect().map(r => r.getString(0) -> r.getString(1))
    assert(rows.length == n, s"${rows.length} rows for $n distinct vertices")
    val byString = rows.toMap
    def partition[K](m: Map[K, K]): Set[Set[K]] =
      m.groupBy(_._2).values.map(_.keySet).toSet
    assert(partition(byString) ==
      partition(byLong).map(_.map(_.toString)))
    // The label is the component's minimum id in the ids' own order.
    for ((comp, members) <- byString.groupBy(_._2))
      assert(comp == members.keys.min, s"component $comp of ${members.keys}")
  }

  test("star CC labels isolated vertices and empty edge sets") {
    val s = spark
    import s.implicits._
    val vDf = Seq(5L, 7L, 11L).toDF("doc_id")
    val eDf = Seq.empty[(Long, Long)].toDF("id_a", "id_b")
    assert(labels(Dedup.connectedComponents(vDf, eDf)) ==
      Map(5L -> 5L, 7L -> 7L, 11L -> 11L))
    assert(labels(Dedup.connectedComponents(vDf, eDf, 25, 0L)) ==
      Map(5L -> 5L, 7L -> 7L, 11L -> 11L))
  }

  test("star CC induces on the vertex set: edges through outsiders drop") {
    val s = spark
    import s.implicits._
    // 1-99-2: 99 is not a vertex, so 1 and 2 stay separate.
    val vDf = Seq(1L, 2L).toDF("doc_id")
    val eDf = Seq((1L, 99L), (99L, 2L)).toDF("id_a", "id_b")
    assert(labels(Dedup.connectedComponents(vDf, eDf)) ==
      Map(1L -> 1L, 2L -> 2L))
    assert(labels(Dedup.connectedComponents(vDf, eDf, 25, 0L)) ==
      Map(1L -> 1L, 2L -> 2L))
  }
}
