package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.SparkSpec

class MaterializeSpec extends SparkSpec {

  /** Storage levels along the lineage of a frame's RDD scan: the
    * barrier RDD sits below the scan. */
  private def levels(df: DataFrame): Seq[String] = {
    def walk(r: org.apache.spark.rdd.RDD[_]): Seq[String] =
      r.getStorageLevel.description +: r.dependencies.flatMap(d => walk(d.rdd))
    walk(df.queryExecution.toRdd)
  }

  test("once() checkpoints lazily; audit knob preserves full lineage") {
    val s = spark
    import s.implicits._
    val base = (1L to 100L).toDF("id").groupBy(col("id") % 10)
      .agg(count(lit(1)).as("c"))
    // Default: the returned frame is checkpoint-backed (plan truncates
    // to an RDD scan) and values are unchanged.
    val m = Materialize.once(base)
    assert(m.queryExecution.analyzed.toString.contains("LogicalRDD")
      || m.queryExecution.analyzed.toString.contains("ExistingRDD"))
    assert(m.collect().map(_.getLong(1)).sum == 100L)
    // Audit mode: no checkpoint — the aggregation stays visible in the
    // plan (this is what lets PlanAudit flag anything upstream).
    spark.conf.set("spark.graft.materialize", "false")
    try {
      val open = Materialize.once(base)
      assert(open.queryExecution.analyzed.toString.contains("Aggregate"))
      assert(open.collect().map(_.getLong(1)).sum == 100L)
    } finally spark.conf.unset("spark.graft.materialize")
  }

  test("once() at MEMORY_AND_DISK_SER: serialized, audit knob, keeps values") {
    val s = spark
    import s.implicits._
    val base = (1L to 100L).toDF("id").groupBy(col("id") % 10)
      .agg(count(lit(1)).as("c"))
    val m = Materialize.once(base, StorageLevel.MEMORY_AND_DISK_SER)
    assert(m.queryExecution.analyzed.toString.contains("LogicalRDD")
      || m.queryExecution.analyzed.toString.contains("ExistingRDD"))
    assert(m.collect().map(_.getLong(1)).sum == 100L)
    // Serialized storage level — the measured fix for wide frames where
    // deserialized block storage cost 4x the compute it saved.
    assert(levels(m).contains(StorageLevel.MEMORY_AND_DISK_SER.description))
    spark.conf.set("spark.graft.materialize", "false")
    try {
      val open = Materialize.once(base, StorageLevel.MEMORY_AND_DISK_SER)
      assert(open.queryExecution.analyzed.toString.contains("Aggregate"))
      assert(open.collect().map(_.getLong(1)).sum == 100L)
    } finally spark.conf.unset("spark.graft.materialize")
  }

  test("now() materializes at the call, also in audit mode, and release() drops its blocks") {
    val s = spark
    import s.implicits._
    val base = (1L to 100L).toDF("id").groupBy(col("id") % 10)
      .agg(count(lit(1)).as("c"))
    spark.conf.set("spark.graft.materialize", "false")
    try {
      val m = Materialize.now(base, StorageLevel.DISK_ONLY)
      // Eager: the blocks exist before any consumer runs.
      val rdd = m.queryExecution.logical
        .asInstanceOf[org.apache.spark.sql.execution.LogicalRDD].rdd
      assert(rdd.getStorageLevel == StorageLevel.DISK_ONLY)
      assert(spark.sparkContext.getRDDStorageInfo.exists(i =>
        i.id == rdd.id && i.numCachedPartitions > 0))
      assert(m.collect().map(_.getLong(1)).sum == 100L)
      Materialize.release(m)
      assert(rdd.getStorageLevel == StorageLevel.NONE)
    } finally spark.conf.unset("spark.graft.materialize")
  }

  test("spark.graft.checkpointDir switches to a reliable checkpoint") {
    val s = spark
    import s.implicits._
    val base = (1L to 100L).toDF("id").groupBy(col("id") % 10)
      .agg(count(lit(1)).as("c"))
    val dir = java.nio.file.Files
      .createTempDirectory("graft_ckpt").toString
    spark.conf.set("spark.graft.checkpointDir", dir)
    try {
      val before = checkpointFiles()
      val m = Materialize.once(base)
      // Same lazy contract: no checkpoint files exist until a job runs.
      assert(checkpointFiles() == before, "checkpoint must stay lazy")
      assert(m.collect().map(_.getLong(1)).sum == 100L)
      // The reliable path wrote recoverable files (what survives an
      // executor loss, unlike localCheckpoint's executor-local blocks).
      assert(checkpointFiles() > before, "reliable checkpoint wrote no files")
      // A second consumer reads the checkpoint, values unchanged.
      assert(m.agg(sum("c")).head.getLong(0) == 100L)
      // now() takes the same reliable checkpoint, at the call.
      val written = checkpointFiles()
      val n = Materialize.now(base, StorageLevel.DISK_ONLY)
      assert(checkpointFiles() > written, "eager reliable checkpoint wrote no files")
      assert(n.agg(sum("c")).head.getLong(0) == 100L)
    } finally spark.conf.unset("spark.graft.checkpointDir")
  }

  test("reliable mode: once() keeps its blocks for the write, release() deletes the files") {
    val s = spark
    import s.implicits._
    val base = (1L to 100L).toDF("id").groupBy(col("id") % 10)
      .agg(count(lit(1)).as("c"))
    val dir = java.nio.file.Files
      .createTempDirectory("graft_ckpt").toString
    def rddOf(df: DataFrame) = df.queryExecution.logical
      .asInstanceOf[org.apache.spark.sql.execution.LogicalRDD].rdd
    def exists(f: String) = {
      val p = new org.apache.hadoop.fs.Path(f)
      p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
    }
    // Counts the rows the upstream evaluates.
    val evaluated = spark.sparkContext.longAccumulator("evaluated")
    val seen = udf { (id: Long) => evaluated.add(1); id }
    spark.conf.set("spark.graft.checkpointDir", dir)
    try {
      // The lazy barrier persists, so the job that writes its files
      // reads the first consumer's blocks instead of the upstream.
      val once = Materialize.once(spark.range(1, 101, 1, 4)
        .select(seen(col("id")).as("id"), lit(1L).as("c")))
      assert(rddOf(once).getStorageLevel == StorageLevel.MEMORY_AND_DISK)
      assert(once.collect().map(_.getLong(1)).sum == 100L)
      assert(evaluated.value == 100L, "the checkpoint write recomputed the upstream")
      val n = Materialize.now(base, StorageLevel.DISK_ONLY)
      for (m <- Seq(once, n)) {
        val file = rddOf(m).getCheckpointFile
        assert(file.exists(exists), "no checkpoint files written")
        Materialize.release(m)
        assert(!exists(file.get), s"${file.get} left behind")
        assert(rddOf(m).getStorageLevel == StorageLevel.NONE)
      }
    } finally spark.conf.unset("spark.graft.checkpointDir")
  }
}
