package graft.operators

import org.apache.spark.sql.{DataFrame, Row}

import graft.SparkSpec
import graft.dedup.Dedup

/** `spark.graft.checkpointDir` reaches every barrier: the graph loops'
  * rounds and pinned inputs write reliable checkpoint files, and return
  * the rows they return under the default local checkpoints. */
class ReliableBarriersSpec extends SparkSpec {

  /** 20 clusters of 6, each a clique missing one edge, with a 3-edge
    * tail per cluster so k-core peeling takes several rounds. */
  private def edges: DataFrame = {
    val s = spark
    import s.implicits._
    val cliques = for {
      c <- 0L until 20L
      a <- 0L until 6L
      b <- a + 1 until 6L
      if !(a == 0L && b == 5L)
    } yield (c * 6 + a, c * 6 + b)
    val tails = for {
      c <- 0L until 20L
      (a, b) <- Seq(c * 6 -> (200 + c * 3), (200 + c * 3) -> (201 + c * 3),
        (201 + c * 3) -> (202 + c * 3))
    } yield (a, b)
    (cliques ++ tails).toDF("id_a", "id_b")
  }

  private def vertices: DataFrame = {
    val s = spark
    import s.implicits._
    (0L until 260L).toDF("doc_id")
  }

  private val calls: Seq[(String, () => DataFrame)] = Seq(
    "kCore" -> (() => Dedup.kCore(edges, 2)),
    "pageRank" -> (() => Dedup.pageRank(edges)),
    "trianglesPerVertex" -> (() => Dedup.trianglesPerVertex(edges)),
    "clusteringCoefficient" -> (() => Dedup.clusteringCoefficient(edges)),
    "adamicAdar" -> (() => Dedup.adamicAdar(edges)),
    "connectedComponents rounds" ->
      (() => Dedup.connectedComponents(vertices, edges, 25, 0L)),
    "exactAntiJoin" -> (() => BloomAntiJoin.exactAntiJoin(vertices,
      edges.select("id_b").where("id_b % 4 = 0"), "doc_id", "id_b")))

  private def sorted(rows: Array[Row]): Seq[String] =
    rows.map(_.toString).toSeq.sorted

  for ((name, call) <- calls) {
    test(s"$name writes checkpoint files and returns the default rows") {
      val expected = sorted(call().collect())
      assert(expected.nonEmpty)
      val dir = java.nio.file.Files.createTempDirectory("graft_ckpt").toString
      spark.conf.set("spark.graft.checkpointDir", dir)
      try {
        val before = checkpointFiles()
        val got = sorted(call().collect())
        assert(checkpointFiles() > before, s"$name wrote no checkpoint files")
        assert(got === expected)
      } finally spark.conf.unset("spark.graft.checkpointDir")
    }
  }
}
