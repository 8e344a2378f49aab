package graft.dedup

import scala.collection.mutable

import org.apache.spark.graft.ListenerBusAccess
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.execution.{LogicalRDD, QueryExecution}
import org.apache.spark.sql.util.QueryExecutionListener
import org.apache.spark.storage.StorageLevel

import graft.{SparkSpec, StageMetrics}

/** What the one-task finish saves and leaves behind: Spark jobs per
  * [[Dedup.connectedComponents]] call on a near-duplicate-shaped graph,
  * and frames holding blocks after a graph-loop call returns. */
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

  /** RDDs still holding blocks after `call`: frames it cached (the
    * CacheManager holds those strongly) plus barrier frames it ran an
    * action on and did not release. Those barrier frames stay strongly
    * reachable from here, so the ContextCleaner cannot drop an
    * unreleased one when the driver GCs: the count does not depend on
    * GC timing. */
  private def leftBehind(call: => Unit): Int = {
    val sc = spark.sparkContext
    val barriers = mutable.ArrayBuffer.empty[RDD[_]]
    val listener = new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        barriers.synchronized {
          barriers ++= qe.analyzed.collect { case r: LogicalRDD => r.rdd }
        }
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    val before = sc.getPersistentRDDs.keySet
    spark.listenerManager.register(listener)
    try { call; ListenerBusAccess.drain(sc) }
    finally spark.listenerManager.unregister(listener)
    val held = barriers.synchronized {
      barriers.filter(_.getStorageLevel != StorageLevel.NONE).map(_.id).toSet
    }
    (held ++ (sc.getPersistentRDDs.keySet -- before)).size
  }

  test("a call leaves at most one cached frame behind, on both paths") {
    for (bound <- Seq(UnionFind.MaxEdges, 0L)) {
      val (v, e) = graph
      val added = leftBehind(
        assert(Dedup.connectedComponents(v, e, 25, bound).collect()
          .map(r => r.getLong(0) -> r.getLong(1)).toMap == expected))
      assert(added <= 1, s"bound $bound left $added frames holding blocks")
    }
  }

  test("kCore leaves at most one round frame behind") {
    val s = spark
    import s.implicits._
    val (_, cliques) = graph
    // A 3-edge tail on every cluster: peeling it takes three rounds.
    val tails = (for {
      c <- 0L until 200L
      (a, b) <- Seq(c * 10 -> (2000 + c * 3), (2000 + c * 3) -> (2001 + c * 3),
        (2001 + c * 3) -> (2002 + c * 3))
    } yield (a, b)).toDF("id_a", "id_b")
    val added = leftBehind {
      val core = Dedup.kCore(cliques.union(tails), 2).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      // Clique minus one edge: the two endpoints of the missing edge
      // keep 8 neighbours, the rest 9.
      assert(core == (0L until 2000L).map(v =>
        v -> (if (v % 10 == 0 || v % 10 == 9) 8L else 9L)).toMap)
    }
    assert(added <= 1, s"kCore left $added frames holding blocks")
  }
}
