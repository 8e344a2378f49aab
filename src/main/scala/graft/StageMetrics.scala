package graft

import scala.collection.mutable

import org.apache.spark.graft.ListenerBusAccess
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

/** One completed stage attempt. Bytes are raw bytes; `recordsIn` is
  * file-scan rows OR shuffle-read rows, whichever feeds the stage (both
  * are zero only when it reads a cached/checkpointed RDD); `recordsOut`
  * is sink rows or shuffle-write rows. `jobId` is -1 when the job
  * started before the window opened. */
final case class StageRecord(jobId: Int, stageId: Int, name: String,
    jobDescription: String, wallMs: Long, taskMs: Long, gcMs: Long,
    shuffleReadBytes: Long, shuffleWriteBytes: Long, inputBytes: Long,
    memorySpillBytes: Long, diskSpillBytes: Long, recordsIn: Long,
    recordsOut: Long, numTasks: Int, taskRunMs: Seq[Long])

/** The one SparkListener in graft: per-stage metrics gathered between
  * [[start]] and [[stop]]. Both ends drain the asynchronous listener
  * bus, so a window holds exactly the stages that completed inside it —
  * nothing from an earlier, unmeasured run leaks in. Windows must not
  * overlap; the tools measure one query at a time. */
final class StageMetrics private (spark: SparkSession) extends SparkListener {
  private var capturing = false
  private val jobs = mutable.Map.empty[Int, (Int, String)]
  /** (attempt number, record without task times) per completed stage. */
  private val done = mutable.ArrayBuffer.empty[(Int, StageRecord)]
  private val tasks = mutable.Map.empty[(Int, Int), mutable.ArrayBuffer[Long]]

  def start(): Unit = {
    ListenerBusAccess.drain(spark.sparkContext)
    synchronized {
      jobs.clear(); done.clear(); tasks.clear()
      capturing = true
    }
  }

  /** Closes the window; records are in stage-completion order, each
    * with the run times of its attempt's tasks (including tasks that
    * ended after the stage itself completed). */
  def stop(): Seq[StageRecord] = {
    ListenerBusAccess.drain(spark.sparkContext)
    synchronized {
      capturing = false
      done.toList.map { case (attempt, r) =>
        r.copy(taskRunMs =
          tasks.get((r.stageId, attempt)).map(_.toList).getOrElse(Nil))
      }
    }
  }

  /** Closes the window without draining the bus, for a run that
    * already failed: its records are dropped, and the next [[start]]
    * drains whatever of it is still queued. */
  def abort(): Unit = synchronized { capturing = false }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    if (capturing) {
      val desc = Option(e.properties)
        .flatMap(p => Option(p.getProperty("spark.job.description")))
        .getOrElse("")
      e.stageIds.foreach(sid => jobs(sid) = (e.jobId, desc))
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (capturing && m != null)
      tasks.getOrElseUpdate((e.stageId, e.stageAttemptId),
        mutable.ArrayBuffer.empty) += m.executorRunTime
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized {
      val si = e.stageInfo
      val m = si.taskMetrics
      if (capturing && m != null) {
        val (jobId, desc) = jobs.getOrElse(si.stageId, (-1, ""))
        done += si.attemptNumber() -> StageRecord(
          jobId, si.stageId, si.name.linesIterator.nextOption().getOrElse(""),
          desc,
          (for (a <- si.completionTime; b <- si.submissionTime) yield a - b)
            .getOrElse(-1L),
          m.executorRunTime, m.jvmGCTime,
          m.shuffleReadMetrics.totalBytesRead,
          m.shuffleWriteMetrics.bytesWritten, m.inputMetrics.bytesRead,
          m.memoryBytesSpilled, m.diskBytesSpilled,
          m.inputMetrics.recordsRead max m.shuffleReadMetrics.recordsRead,
          m.outputMetrics.recordsWritten max
            m.shuffleWriteMetrics.recordsWritten,
          si.numTasks, Nil)
      }
    }
}

object StageMetrics {
  /** A new listener registered on the session's context. */
  def apply(spark: SparkSession): StageMetrics = {
    val m = new StageMetrics(spark)
    spark.sparkContext.addSparkListener(m)
    m
  }
}
