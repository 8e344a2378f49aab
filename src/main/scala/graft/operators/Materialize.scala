package graft.operators

import org.apache.spark.sql.DataFrame

/** Distributed one-shot materialization for frames with MULTIPLE
  * consumers: without it, each consumer re-evaluates the whole
  * upstream plan (a per-key rollup, a dedup manifest, a rank stage) —
  * the silent N× re-computation class that turned qe_rfm's 0.26 s
  * into 13 s before round 10 caught it. `localCheckpoint(eager =
  * false)`: blocks persist on executors when the first consuming job
  * computes them (no job at plan-construction time), later consumers
  * read blocks, and lineage truncates so stacked stages keep
  * constant-size plans.
  *
  * The `spark.graft.materialize=false` escape hatch (set ONLY by
  * PlanAudit) skips the checkpoint so the full upstream lineage stays
  * visible to plan inspection — the checkpoint otherwise collapses
  * the visible plan to a LogicalRDD scan. Never unset it for real
  * execution.
  *
  * Reliability: `localCheckpoint` blocks are executor-local and
  * NON-REPLICATED — on a real cluster, losing one executor after
  * materialization kills the job with no recompute path (lineage is
  * truncated). That is the right default for short interactive/bench
  * runs, and the wrong one for multi-hour production jobs: set
  * `spark.graft.checkpointDir` to a fault-tolerant path (HDFS/object
  * store) and `once` switches to a reliable `checkpoint`, whose files
  * survive any executor loss at the cost of one distributed write per
  * materialization. The session's SparkContext checkpoint dir is
  * adopted from the conf on first use; an explicit
  * `sc.setCheckpointDir` made earlier wins.
  */
object Materialize {
  private def enabled(df: DataFrame): Boolean =
    df.sparkSession.conf.get("spark.graft.materialize", "true").toBoolean

  /** [[once]] with SERIALIZED block storage — for WIDE frames (every
    * row of a multi-million-row result) where the default deserialized
    * level was measured pathological: storing qd_minhash_est's 2.3 M
    * scored pairs as object rows cost 60 s of task time (row copy +
    * allocation) where the serialized form is shuffle-shaped bytes.
    * Same lifecycle and same `spark.graft.materialize=false` escape
    * hatch as [[once]]; reliable-checkpoint mode ignores the level
    * (checkpoint files are always serialized). */
  def onceSer(df: DataFrame): DataFrame = {
    val conf = df.sparkSession.conf
    if (!enabled(df)) df
    else if (conf.getOption("spark.graft.checkpointDir")
        .exists(_.trim.nonEmpty)) once(df)
    else df.localCheckpoint(false,
      org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)
  }

  def once(df: DataFrame): DataFrame = {
    val conf = df.sparkSession.conf
    if (!enabled(df)) df
    else conf.getOption("spark.graft.checkpointDir")
        .map(_.trim).filter(_.nonEmpty) match {
      case Some(dir) =>
        val sc = df.sparkSession.sparkContext
        // setCheckpointDir mints a fresh UUID subdir per call — set it
        // once per context, and never override a user's own choice.
        if (sc.getCheckpointDir.isEmpty) sc.setCheckpointDir(dir)
        df.checkpoint(eager = false)
      case None => df.localCheckpoint(eager = false)
    }
  }
}
