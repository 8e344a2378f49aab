package graft

import java.util.concurrent.CountDownLatch
import java.util.concurrent.atomic.AtomicBoolean

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
import org.apache.spark.sql.functions.col

class StageMetricsSpec extends SparkSpec {
  test("a window records shuffle bytes and every task of its stages") {
    val metrics = StageMetrics(spark)
    try {
      metrics.start()
      spark.range(0, 10000, 1, 4).repartition(8).groupBy(col("id") % 10)
        .count().collect()
      val stages = metrics.stop()
      assert(stages.map(_.shuffleWriteBytes).sum > 0)
      assert(stages.map(_.shuffleReadBytes).sum > 0)
      assert(stages.flatMap(_.taskRunMs).size === stages.map(_.numTasks).sum)
      assert(stages.forall(_.jobId >= 0))
    } finally spark.sparkContext.removeSparkListener(metrics)
  }

  test("work that finished before start() never lands in the window") {
    // Holds the listener bus on the next stage completion, so the
    // unmeasured job's events are still queued when start() runs.
    val armed = new AtomicBoolean(false)
    val release = new CountDownLatch(1)
    val gate = new SparkListener {
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        if (armed.getAndSet(false)) release.await()
    }
    spark.sparkContext.addSparkListener(gate)
    val metrics = StageMetrics(spark)
    try {
      armed.set(true)
      spark.range(0, 1000, 1, 4).repartition(3).count()
      // Open the gate once start() is blocked draining the bus (or has
      // returned without draining): the queued events then arrive
      // either before the window opens or, wrongly, inside it.
      val caller = Thread.currentThread()
      @volatile var started = false
      val opener = new Thread(() => {
        while (!started && caller.getState != Thread.State.TIMED_WAITING)
          Thread.onSpinWait()
        release.countDown()
      })
      opener.start()
      metrics.start()
      started = true
      opener.join()
      assert(metrics.stop().isEmpty)
    } finally {
      release.countDown()
      spark.sparkContext.removeSparkListener(gate)
      spark.sparkContext.removeSparkListener(metrics)
    }
  }
}
