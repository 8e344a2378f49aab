package graft.dedup

import graft.{SparkSpec, StageMetrics}

/** What the one-task finish saves and leaves behind: Spark jobs per
  * [[Dedup.connectedComponents]] call on a near-duplicate-shaped graph,
  * and cached frames left in the session. */
class ComponentsJobsSpec extends SparkSpec {

  /** 2,000 vertices in 200 clusters of 10, each a clique missing one
    * edge — the shape near-duplicate blocking produces. */
  private def graph = {
    val s = spark
    import s.implicits._
    val vertices = (0L until 2000L).toDF("doc_id")
    val edges = (for {
      c <- 0L until 200L
      a <- 0L until 10L
      b <- a + 1 until 10L
      if !(a == 0L && b == 9L)
    } yield (c * 10 + a, c * 10 + b)).toDF("id_a", "id_b")
    (vertices, edges)
  }

  private def expected = (0L until 2000L).map(v => v -> (v - v % 10)).toMap

  /** Jobs run by one call plus a collect of its result. */
  private def jobs(oneTaskBelowEdges: Long): Int = {
    val (v, e) = graph
    val metrics = StageMetrics(spark)
    try {
      metrics.start()
      val out = Dedup.connectedComponents(v, e, 25, oneTaskBelowEdges)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val stages = metrics.stop()
      assert(out == expected)
      stages.map(_.jobId).distinct.size
    } finally spark.sparkContext.removeSparkListener(metrics)
  }

  test("the one-task finish runs a bounded number of jobs, fewer than the rounds") {
    val oneTask = jobs(UnionFind.MaxEdges)
    val rounds = jobs(0L)
    // Measured on local[4]: 8 jobs one-task, 31 with the star rounds.
    assert(oneTask <= 8, s"one-task finish ran $oneTask jobs, rounds $rounds")
    assert(oneTask < rounds, s"one task $oneTask jobs, rounds $rounds")
  }

  test("a call leaves at most one cached frame behind, on both paths") {
    for (bound <- Seq(UnionFind.MaxEdges, 0L)) {
      val (v, e) = graph
      val before = spark.sparkContext.getPersistentRDDs.size
      Dedup.connectedComponents(v, e, 25, bound).collect()
      val added = spark.sparkContext.getPersistentRDDs.size - before
      assert(added <= 1, s"bound $bound left $added cached RDDs")
    }
  }
}
