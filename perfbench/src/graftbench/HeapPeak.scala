package graftbench

import com.sun.management.GarbageCollectionNotificationInfo
import java.lang.management.{ManagementFactory, MemoryType}
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

/** Peak JVM heap in use while ops run.
  *
  * Heap use only falls at a garbage collection, so an op's peak is the
  * largest heap use right before a collection that starts during the op,
  * or at the op's end. The collectors report the first in their
  * notifications; [[during]] reads the second. Cached frames, spill
  * buffers, collects and broadcast builds all show up. The benchmark's
  * own work between ops (the forced GC, the output check) does not. */
final class HeapPeak {
  private val uptime = ManagementFactory.getRuntimeMXBean
  private val memory = ManagementFactory.getMemoryMXBean
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet
  /** (GC start in ms of JVM uptime, heap in use right before it). */
  private val gcs = ArrayBuffer.empty[(Long, Long)]
  /** (op start, op end, heap in use at its end); times in ms of uptime. */
  private val ops = ArrayBuffer.empty[(Long, Long, Long)]

  private val listener = new NotificationListener {
    def handleNotification(n: Notification, handback: AnyRef): Unit =
      if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val gc = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData]).getGcInfo
        val used = gc.getMemoryUsageBeforeGc.asScala
          .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
        HeapPeak.this.synchronized { gcs += ((gc.getStartTime, used)) }
      }
  }
  ManagementFactory.getGarbageCollectorMXBeans.asScala
    .collect { case e: NotificationEmitter => e }
    .foreach(_.addNotificationListener(listener, null, null))

  /** Runs one op and records its interval; ops are numbered from 0 in the
    * order they run. */
  def during[T](body: => T): T = {
    val from = uptime.getUptime
    try body finally {
      val used = memory.getHeapMemoryUsage.getUsed
      synchronized { ops += ((from, uptime.getUptime, used)) }
    }
  }

  def opCount: Int = synchronized(ops.size)

  /** Peak heap in bytes over the ops numbered `ids`. */
  def peak(ids: Seq[Int]): Long = synchronized {
    ids.map(ops).map { case (from, to, atEnd) =>
      (atEnd +: gcs.collect { case (t, used) if t >= from && t <= to => used }).max
    }.max
  }
}
