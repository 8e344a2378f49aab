package org.apache.spark.graft

import org.apache.spark.SparkEnv
import org.apache.spark.rdd.RDD
import org.apache.spark.storage.{BlockId, RDDBlockId}

/** Private[spark] access shim: which executors the block manager
  * master lists as holding blocks of an RDD (same package-placement
  * precedent as [[ListenerBusAccess]]). */
object BlockLocations {
  def executors(rdd: RDD[_]): Seq[String] = {
    val ids: Array[BlockId] =
      Array.tabulate(rdd.getNumPartitions)(p => RDDBlockId(rdd.id, p))
    SparkEnv.get.blockManager.master.getLocations(ids)
      .flatten.map(_.executorId).filter(_ != "driver").distinct
  }
}
