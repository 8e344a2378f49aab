package org.apache.spark.sql.graft

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.SQLExecution

/** The first rows of a frame under several flags at once, read the way
  * `limit` reads: partitions in order, one partition first, then four
  * times as many per round, until every flag has its rows. All rounds
  * belong to ONE SQL execution (a job over some partitions of a plan
  * needs `private[sql]` API, hence the package). */
object FirstRows {

  /** `df`'s first `k` columns are boolean flags. For each flag, the
    * first `n` rows where it is true, in partition order, without the
    * flag columns: what `df.where(flag).limit(n)` returns for each flag
    * on its own. In a round a partition sends at most the rows each
    * flag still lacks, so a flag whose rows sit in the first partition
    * costs one task and at most `n` rows on the driver. */
  def perFlag(df: DataFrame, k: Int, n: Int): Seq[Seq[Row]] = {
    val found = Array.fill(k)(mutable.ArrayBuffer.empty[Row])
    if (k > 0 && n > 0) {
      val qe = df.queryExecution
      // Built on the driver, so rows get the session's external types
      // (e.g. its java8 datetime setting), as `collect` gives them.
      val toScala = CatalystTypeConverters.createToScalaConverter(df.schema)
      SQLExecution.withNewExecutionId(qe, Some("firstRows")) {
        val rdd = qe.toRdd
        val parts = rdd.partitions.length
        var (scanned, batch) = (0, 1)
        while (scanned < parts && found.exists(_.size < n)) {
          val need = found.map(n - _.size)
          val range = scanned until math.min(scanned + batch, parts)
          val got = df.sparkSession.sparkContext.runJob(rdd,
            (rows: Iterator[InternalRow]) => firsts(rows, need, toScala), range)
          for (part <- got; (j, row) <- part if found(j).size < n) found(j) += row
          scanned = range.end
          batch *= 4
        }
      }
    }
    found.toSeq.map(_.toSeq)
  }

  /** One partition: up to `need(j)` rows flagged by each flag j, tagged
    * with j and stripped of the flags. Stops reading once no flag needs
    * more. */
  private def firsts(rows: Iterator[InternalRow], need: Array[Int],
      toScala: Any => Any): Array[(Int, Row)] = {
    val left = need.clone()
    var open = left.count(_ > 0)
    val out = mutable.ArrayBuffer.empty[(Int, Row)]
    while (open > 0 && rows.hasNext) {
      val r = rows.next()
      var values: Row = null
      for (j <- left.indices if left(j) > 0 && !r.isNullAt(j) && r.getBoolean(j)) {
        if (values == null)
          values = Row.fromSeq(toScala(r).asInstanceOf[Row].toSeq.drop(left.length))
        out += j -> values
        left(j) -= 1
        if (left(j) == 0) open -= 1
      }
    }
    out.toArray
  }
}
