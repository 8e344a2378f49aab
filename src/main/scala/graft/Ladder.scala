package graft

import org.apache.spark.sql.SparkSession

/** The measurement policy ScaleLadder, SkewProbe and TfidfProfile share:
  * `label=dir` rungs, min-of-N timing with per-run stage metrics, and
  * one JSONL record per (rung, query) appended to
  * `SPARK_GRAFT_LADDER_OUT` (default `defaultOut`).
  *
  * Every record carries `"force":"full"` — error lines too:
  * `tools/scaling_table.py` filters raw records on that field, and an
  * error line without it would be dropped BEFORE last-wins, letting an
  * older success mask the newest run's crash.
  */
final class Ladder(spark: SparkSession, defaultOut: String) {
  import Ladder.Run

  /** Runs per measurement: `SPARK_GRAFT_LADDER_ITERS`, default 2. */
  private val iterations: Int =
    sys.env.getOrElse("SPARK_GRAFT_LADDER_ITERS", "2").toInt
  private val metrics = StageMetrics(spark)
  private val out = new java.io.PrintWriter(new java.io.FileWriter(
    sys.env.getOrElse("SPARK_GRAFT_LADDER_OUT", defaultOut), true))

  /** Min wall time of `iterations` runs of `body`, with the value and
    * stage metrics of the LAST successful run (a first run's
    * cached-relation warm-up jobs must not inflate them). No early
    * break on failure: a transient error (e.g. an ambient OOM on a
    * shared host) must not discard the measurement when a later run
    * succeeds, so the error is returned only if NO run succeeded. */
  def best[T](body: => T): Either[String, Run[T]] = {
    var best: Option[Run[T]] = None
    var error = ""
    for (_ <- 1 to iterations) {
      metrics.start()
      val t0 = System.nanoTime()
      try {
        val value = body
        val sec = (System.nanoTime() - t0) / 1e9
        val stages = metrics.stop()
        best = Some(Run(best.fold(sec)(b => math.min(b.sec, sec)), value,
          stages))
      } catch { case e: Throwable =>
        // No drain here: a drain timeout would replace the body's error.
        metrics.abort()
        error = JsonFmt.err(e)
      }
      // Outside the timed region: drop the previous run's dead
      // localCheckpoint blocks. ContextCleaner frees them only after
      // the driver GCs the owning RDD objects, so without this a
      // spill-heavy query inherits the block-manager pressure of
      // whatever ran before it (measured: +90% wall on qd_tfidf_pairs
      // at sf1 purely from queue position).
      System.gc()
    }
    best.toRight(error)
  }

  private def emit(line: String): Unit = {
    println(line); out.println(line); out.flush()
  }

  /** Appends `{"sf","query",<fields>,"force":"full"}`, or the error line
    * when `result` holds no successful run. */
  def record[T](label: String, query: String, result: Either[String, T])(
      fields: T => String): Unit = emit(result match {
    case Left(msg) =>
      s"""{"sf":"$label","query":"$query","error":"$msg","force":"full"}"""
    case Right(v) =>
      s"""{"sf":"$label","query":"$query",${fields(v)},"force":"full"}"""
  })

  def close(): Unit = {
    out.close()
    spark.sparkContext.removeSparkListener(metrics)
  }
}

object Ladder {
  /** One measurement: best seconds, last successful value and stages. */
  final case class Run[T](sec: Double, value: T, stages: Seq[StageRecord]) {
    /** Task count and max/median task run time — the straggler view:
      * a hot key shows up as max-task >> median-task long before it
      * shows up in wall time (31 other cores hide one straggler on a
      * 32-core box; a real cluster's stage does not). */
    def taskFields: String = {
      val ms = stages.flatMap(_.taskRunMs).sorted
      val max = ms.lastOption.getOrElse(0L)
      val med = if (ms.isEmpty) 0L else ms(ms.size / 2)
      s""""n_tasks":${ms.size},"max_task_ms":$max,"med_task_ms":$med"""
    }
  }

  /** Parses `label=dir` arguments, in order. */
  def rungs(args: Seq[String], tool: String): Seq[(String, String)] = {
    require(args.nonEmpty, s"usage: $tool <label>=<dir> ...")
    args.map { a =>
      a.split("=", 2) match {
        case Array(label, dir) if label.nonEmpty && dir.nonEmpty =>
          (label, dir)
        case _ => throw new IllegalArgumentException(
          s"bad arg (expected label=dir): '$a'")
      }
    }
  }
}
