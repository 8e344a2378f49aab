package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.graft.ListenerBusAccess
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.AnalysisException
import org.apache.spark.sql.graft.FooterParquet
import org.apache.spark.sql.types.TimestampNTZType

/** [[FooterParquet]] opens parquet with the schema `spark.read.parquet`
  * infers, from one footer read on the driver, without a Spark job. */
class FooterParquetSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  private def fresh(): String =
    Files.createTempDirectory("graft_footer").resolve("t").toString

  /** Spark jobs started while `body` runs. */
  private def jobs[T](body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val started = new AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        started.incrementAndGet()
    }
    ListenerBusAccess.drain(sc)
    sc.addSparkListener(listener)
    try {
      val out = body
      ListenerBusAccess.drain(sc)
      (out, started.get)
    } finally sc.removeSparkListener(listener)
  }

  /** Opens `path` both ways: the schemas agree and the open runs no job. */
  private def sameSchema(path: String): Unit = {
    val (schema, opened) = jobs(FooterParquet.read(spark, path).schema)
    assert(schema == spark.read.parquet(path).schema, path)
    assert(opened == 0, s"$path: the open ran $opened jobs")
  }

  test("a generated table file") {
    Seq("lineitem", "orders", "documents", "embeddings")
      .foreach(t => sameSchema(s"$sf/$t.parquet"))
    // The control: Spark's own open runs its inference job.
    assert(jobs(spark.read.parquet(s"$sf/orders.parquet").schema)._2 >= 1)
  }

  test("a Spark-written directory with _SUCCESS") {
    val dir = fresh()
    spark.range(0, 90, 1, 3).selectExpr("id", "CAST(id AS STRING) AS s")
      .write.parquet(dir)
    assert(Files.exists(Paths.get(dir, "_SUCCESS")))
    sameSchema(dir)
  }

  test("a key=value partitioned directory") {
    val dir = fresh()
    spark.range(0, 40).selectExpr("id", "id % 4 AS k", "id * 0.5 AS v")
      .write.partitionBy("k").parquet(dir)
    sameSchema(dir)
    assert(FooterParquet.read(spark, dir).columns.toSeq == Seq("id", "v", "k"))
  }

  test("summary files win over the data files, as in Spark's inference") {
    val dir = fresh()
    spark.range(0, 20, 1, 2).selectExpr("id", "id * 2 AS v")
      .write.option("parquet.summary.metadata.level", "ALL").parquet(dir)
    assert(Files.exists(Paths.get(dir, "_metadata")))
    assert(Files.exists(Paths.get(dir, "_common_metadata")))
    sameSchema(dir)
    // A data file that sorts first and carries one more column: both
    // opens still read the summary's two columns.
    val extra = fresh()
    spark.range(1).selectExpr("id", "id AS v", "id AS w").coalesce(1)
      .write.parquet(extra)
    val part = Files.list(Paths.get(extra)).toArray.map(_.toString)
      .find(_.endsWith(".parquet")).get
    Files.copy(Paths.get(part), Paths.get(dir, "a.parquet"))
    sameSchema(dir)
    assert(FooterParquet.read(spark, dir).columns.toSeq == Seq("id", "v"))
  }

  test("a TIMESTAMP_NTZ column") {
    val dir = fresh()
    spark.range(3).selectExpr("id",
      "CAST(TIMESTAMP '2024-03-01 00:00:00' + make_interval(0, 0, 0, 0, 0, id) " +
        "AS TIMESTAMP_NTZ) AS ts").write.parquet(dir)
    sameSchema(dir)
    assert(FooterParquet.read(spark, dir).schema("ts").dataType == TimestampNTZType)
  }

  test("events.parquet under nanosAsLong") {
    val key = "spark.sql.legacy.parquet.nanosAsLong"
    val before = spark.conf.getOption(key)
    spark.conf.set(key, "true")
    try sameSchema(s"$sf/events.parquet")
    finally before.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  test("an empty directory raises Spark's error") {
    val dir = fresh()
    Files.createDirectories(Paths.get(dir))
    val ours = intercept[AnalysisException](FooterParquet.read(spark, dir))
    val theirs = intercept[AnalysisException](spark.read.parquet(dir))
    assert(ours.getCondition == theirs.getCondition)
    assert(ours.getCondition != null)
  }

  test("mergeSchema still merges files with different columns") {
    val dir = fresh()
    spark.range(3).selectExpr("id", "id AS a").write.parquet(s"$dir/k=1")
    spark.range(3).selectExpr("id", "id AS b").write.parquet(s"$dir/k=2")
    val merged = spark.read.format(classOf[FooterParquet].getName)
      .option("mergeSchema", "true").load(dir).schema
    assert(merged == spark.read.option("mergeSchema", "true").parquet(dir).schema)
    assert(merged.fieldNames.toSet == Set("id", "a", "b", "k"))
  }
}
