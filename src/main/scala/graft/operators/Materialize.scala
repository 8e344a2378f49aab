package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel

/** The one lineage barrier in graft: every checkpoint in the program
  * goes through here, so one policy decides how each is taken.
  *
  *  - [[once]] is the lazy barrier for a frame with MULTIPLE consumers:
  *    without it, each consumer re-evaluates the whole upstream plan
  *    (a per-key rollup, a dedup manifest, a rank stage) — the silent
  *    N× re-computation class that turned qe_rfm's 0.26 s into 13 s
  *    before round 10 caught it. Blocks persist on executors when the
  *    first consuming job computes them (no job at plan-construction
  *    time), later consumers read blocks, and lineage truncates so
  *    stacked stages keep constant-size plans.
  *  - [[now]] is the eager barrier for loop rounds (connected-component
  *    stars, k-core peeling, PageRank) and for inputs that must be
  *    pinned before a driver-side read (a blocklist's Bloom literal).
  *    A loop round's plan references the previous round's frame
  *    several times, so with `cache()` alone the LOGICAL plan grows
  *    geometrically and Catalyst analysis, not the data, becomes the
  *    bottleneck by round 7; the checkpoint materializes AND
  *    truncates, keeping every round's plan constant-size.
  *
  * A checkpoint, not `cache()`: checkpoint blocks belong to the one
  * RDD and the ContextCleaner reclaims them when the frame goes out of
  * scope, where `cache()` pins a CacheManager entry that outlives the
  * call and matches canonicalized plans ACROSS query constructions (a
  * repeated invocation in a long-lived session would silently reuse or
  * accumulate entries). [[release]] drops a superseded round's blocks
  * at once instead of whenever the driver GCs its RDD.
  *
  * Storage level: MEMORY_AND_DISK by default. Frames with every row
  * of a multi-million-row result take MEMORY_AND_DISK_SER: storing
  * qd_minhash_est's 2.3 M scored pairs as deserialized object rows
  * cost 60 s of task time (row copy + allocation) where the
  * serialized form is shuffle-shaped bytes. Loop rounds over an
  * |E|-scale edge set take DISK_ONLY: at the ×160 scale rung the
  * accumulated rounds filled the protected storage region and starved
  * execution memory outright (SparkOutOfMemoryError
  * UNABLE_TO_ACQUIRE_MEMORY); disk blocks pin no memory and a round is
  * re-read at most three times.
  *
  * Audit mode: `spark.graft.materialize=false` (set ONLY by PlanAudit,
  * read only through [[enabled]]) skips [[once]] so the full upstream
  * lineage stays visible to plan inspection — the checkpoint otherwise
  * collapses the visible plan to a LogicalRDD scan — and lets size
  * probes elsewhere stay job-free. [[now]] is never skipped: a loop
  * without it grows its plan every round. Never set the key for real
  * execution.
  *
  * Reliability: local checkpoint blocks are executor-local and
  * NON-REPLICATED — on a real cluster, losing one executor after
  * materialization kills the job with no recompute path (lineage is
  * truncated). That is the right default for short interactive/bench
  * runs, and the wrong one for multi-hour production jobs: set
  * `spark.graft.checkpointDir` to a fault-tolerant path (HDFS/object
  * store) and both entry points take a reliable `checkpoint`, whose
  * files survive any executor loss at the cost of one distributed
  * write per barrier (checkpoint files are always serialized; a lazy
  * barrier also keeps its blocks at the storage level, so the write
  * reads them instead of recomputing the upstream). The session's
  * SparkContext checkpoint dir is adopted from the conf on first use;
  * an explicit `sc.setCheckpointDir` made earlier wins. [[release]]
  * deletes a frame's files; Spark's cleaner settings
  * (`spark.cleaner.referenceTracking.cleanCheckpoints`) decide when
  * the others are deleted.
  */
object Materialize {

  /** False only in audit mode (`spark.graft.materialize=false`). */
  def enabled(spark: SparkSession): Boolean =
    spark.conf.get("spark.graft.materialize", "true").toBoolean

  /** Lazy barrier for a shared frame; the input itself in audit mode. */
  def once(df: DataFrame,
      level: StorageLevel = StorageLevel.MEMORY_AND_DISK): DataFrame =
    if (!enabled(df.sparkSession)) df else barrier(df, eager = false, level)

  /** Eager barrier: runs one job now and returns the materialized
    * frame. Taken in audit mode too. */
  def now(df: DataFrame,
      level: StorageLevel = StorageLevel.MEMORY_AND_DISK): DataFrame =
    barrier(df, eager = true, level)

  /** Drops a barrier frame's blocks now, and its reliable checkpoint
    * files, for a loop round the next one has replaced. */
  def release(df: DataFrame): Unit =
    df.queryExecution.logical match {
      case r: org.apache.spark.sql.execution.LogicalRDD =>
        r.rdd.unpersist(blocking = false)
        r.rdd.getCheckpointFile.foreach { f =>
          val path = new org.apache.hadoop.fs.Path(f)
          path.getFileSystem(df.sparkSession.sparkContext.hadoopConfiguration)
            .delete(path, true)
        }
      case _ =>
    }

  private def barrier(df: DataFrame, eager: Boolean,
      level: StorageLevel): DataFrame =
    df.sparkSession.conf.getOption("spark.graft.checkpointDir")
        .map(_.trim).filter(_.nonEmpty) match {
      case Some(dir) =>
        val sc = df.sparkSession.sparkContext
        // setCheckpointDir mints a fresh UUID subdir per call — set it
        // once per context, and never override a user's own choice.
        if (sc.getCheckpointDir.isEmpty) sc.setCheckpointDir(dir)
        val out = df.checkpoint(eager)
        // A lazy checkpoint writes its files in a job of its own after
        // the first consuming job; persisted, that job reads the blocks
        // the consumer stored instead of recomputing the upstream.
        if (!eager) out.queryExecution.logical match {
          case r: org.apache.spark.sql.execution.LogicalRDD =>
            r.rdd.persist(level)
          case _ =>
        }
        out
      case None => df.localCheckpoint(eager, level)
    }
}
