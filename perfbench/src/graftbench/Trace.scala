package graftbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.util.QueryExecutionListener
import scala.collection.mutable.ArrayBuffer

/** One timed call into a layer. Times are epoch milliseconds (fractional,
  * from `System.nanoTime` anchored once) so they line up with the
  * millisecond timestamps Spark puts on jobs, stages and tasks. */
final case class Span(id: Int, name: String, start: Double, end: Double,
    parent: Int, op: Int) {
  def ms: Double = end - start
}

/** Span recorder around the benchmark's calls into graft's public API.
  *
  * Disabled, `span` only runs the body (plus an injected delay, when the
  * self-test asks for one), so the untraced run pays one closure call per
  * layer call. Spans stay in memory until [[Tracer.spans]] is read at the
  * end of the run. */
final class Tracer(val enabled: Boolean, delays: Map[String, Long] = Map.empty) {
  private val anchorMs = System.currentTimeMillis().toDouble
  private val anchorNs = System.nanoTime()
  private val recorded = ArrayBuffer.empty[Span]
  private var open = List.empty[Int]
  private var nextId = 0
  var op: Int = -1

  def nowMs(): Double = anchorMs + (System.nanoTime() - anchorNs) / 1e6

  def span[T](name: String)(body: => T): T = {
    if (!enabled) {
      delays.get(name).foreach(Thread.sleep)
      return body
    }
    val id = nextId
    nextId += 1
    val parent = open.headOption.getOrElse(-1)
    open = id :: open
    val start = nowMs()
    try {
      delays.get(name).foreach(Thread.sleep)
      body
    } finally {
      open = open.tail
      recorded += Span(id, name, start, nowMs(), parent, op)
    }
  }

  def spans: Seq[Span] = recorded.toSeq
}

/** Spark-side events of a traced run: jobs, stages, tasks and SQL
  * executions from a [[SparkListener]], Catalyst phase times from a
  * [[QueryExecutionListener]]. Everything is timestamped, so events are
  * attributed to ops and spans by time after the run. */
final class SparkEvents extends SparkListener with QueryExecutionListener {
  final case class Stage(start: Long, end: Long)
  final case class Task(end: Long, runMs: Long, gcMs: Long, shuffleRead: Long,
      shuffleWrite: Long, spill: Long, input: Long, output: Long)
  final case class Phases(at: Long, analysis: Long, optimization: Long, planning: Long)

  val jobs = ArrayBuffer.empty[Long]
  val stages = ArrayBuffer.empty[Stage]
  val tasks = ArrayBuffer.empty[Task]
  val catalyst = ArrayBuffer.empty[Phases]
  /** Intervals of SQL executions that write files (parquet `outputPath`). */
  val writes = ArrayBuffer.empty[(Long, Long)]
  private val writeStarts = scala.collection.mutable.Map.empty[Long, Long]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobs += e.time
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    for (s <- e.stageInfo.submissionTime; c <- e.stageInfo.completionTime)
      stages += Stage(s, c)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) tasks += Task(e.taskInfo.finishTime, m.executorRunTime,
      m.jvmGCTime, m.shuffleReadMetrics.totalBytesRead,
      m.shuffleWriteMetrics.bytesWritten, m.diskBytesSpilled,
      m.inputMetrics.bytesRead, m.outputMetrics.bytesWritten)
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = synchronized {
    e match {
      case s: SparkListenerSQLExecutionStart
          if s.physicalPlanDescription.contains("InsertIntoHadoopFsRelationCommand") =>
        writeStarts(s.executionId) = s.time
      case x: SparkListenerSQLExecutionEnd =>
        writeStarts.remove(x.executionId).foreach(s => writes += ((s, x.time)))
      case _ =>
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    record(qe)

  override def onFailure(funcName: String, qe: QueryExecution, ex: Exception): Unit =
    record(qe)

  private def record(qe: QueryExecution): Unit = synchronized {
    val p = qe.tracker.phases
    def ms(name: String) = p.get(name).map(_.durationMs).getOrElse(0L)
    if (p.nonEmpty) catalyst += Phases(p.values.map(_.startTimeMs).min,
      ms("analysis"), ms("optimization"), ms("planning"))
  }

  def register(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
  }

  def unregister(spark: SparkSession): Unit = {
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(this)
  }
}

/** Interval arithmetic over millisecond intervals. */
object Intervals {
  /** Length of the union of `xs`, each clipped to [lo, hi]. */
  def unionWithin(xs: Seq[(Double, Double)], lo: Double, hi: Double): Double = {
    val clipped = xs.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0.0
    var curA = Double.NaN
    var curB = Double.NaN
    clipped.foreach { case (a, b) =>
      if (curA.isNaN || a > curB) {
        if (!curA.isNaN) total += curB - curA
        curA = a; curB = b
      } else curB = math.max(curB, b)
    }
    if (!curA.isNaN) total += curB - curA
    total
  }

  def within(t: Double, lo: Double, hi: Double): Boolean = t >= lo && t <= hi
}
