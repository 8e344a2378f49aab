package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for specs. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session

  /** Files under the SparkContext's checkpoint dir; 0 while none is set.
    * The context adopts one dir for its lifetime, so specs count the
    * files a call adds rather than look at the dir they configured. */
  def checkpointFiles(): Long =
    spark.sparkContext.getCheckpointDir.fold(0L) { d =>
      val p = new org.apache.hadoop.fs.Path(d)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (!fs.exists(p)) 0L
      else {
        val it = fs.listFiles(p, true)
        var n = 0L
        while (it.hasNext) { it.next(); n += 1 }
        n
      }
    }

  override def afterAll(): Unit = {
    // session is shared across suites; don't stop it here
    super.afterAll()
  }
}

object SparkSpec {
  lazy val session: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-test")
    .config("spark.sql.shuffle.partitions", 4)
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
}
