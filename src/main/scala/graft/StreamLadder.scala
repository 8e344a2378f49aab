package graft

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.dedup.Dedup
import graft.streaming.EventStreams

/** Streaming throughput ladder: run the stateful streaming operators
  * over a FILE-STREAM of the scale-ladder directories (driver sf0.1
  * plus ScaleGen's sf1/sf4) and record end-to-end micro-batch
  * throughput (rows/s), batch count, and final state-store size per
  * (operator, SF). The batch scale ladder (ScaleLadder → SCALING.md)
  * proves the BATCH plans hold shape ×40; this tool proves the same
  * for the streaming surface — that per-event cost is flat as input
  * scales and that state stays bounded by the operator's contract
  * (open windows / open sessions / dedup horizon), not by history.
  *
  * Method:
  *  - source: `readStream.parquet` over the directory's own files with
  *    `maxFilesPerTrigger` (default 4) so larger SFs process MORE
  *    micro-batches of the same file-sized granularity — exactly how
  *    a production file-drop ingest scales — under
  *    `Trigger.AvailableNow` (bounded run, same watermark semantics
  *    as a live stream).
  *  - the measured span covers query start → terminal idle, i.e. every
  *    micro-batch including state flush; rows/s = input rows / span.
  *  - each (operator, SF) runs `SPARK_GRAFT_STREAM_ITERS` times (min
  *    span taken, fresh checkpoint each time — same noise discipline
  *    as Bench/ScaleLadder on this shared host).
  *  - state rows come from the LAST progress event carrying state
  *    operators (flatMapGroupsWithState/session + agg state).
  *
  * Operators (one per distinct state contract):
  *  - windowed_agg: watermarked tumbling windows — state = open windows.
  *  - topvalues_sketch: Misra–Gries Aggregator inside a windowed agg —
  *    state = O(capacity) per window regardless of value cardinality.
  *  - sessionize: flatMapGroupsWithState event-time sessions — state =
  *    one open session per active user.
  *  - dedup_watermark: dropDuplicatesWithinWatermark — state = ids
  *    within the late-arrival horizon.
  *  - neardup_probe: stateless MinHash band projection joined to the
  *    corpus band index (stream-static) — state = none; measures the
  *    per-row signature + probe cost only.
  *
  * Run: `sbt "runMain graft.StreamLadder sf0.1=/root/testdata/sf0.1 \
  *   sf1=target/scaledata/sf1 sf4=target/scaledata/sf4"`.
  * Output: STREAMING_RAW.jsonl (SPARK_GRAFT_STREAM_OUT to override).
  */
object StreamLadder {

  /** (name, table, builder): builder takes the streaming frame (already
    * ts-normalized), returns the stream to drain. The band index — the
    * persisted static side a production probe would keep — is built
    * from the batch read of the same dir, materialized OUTSIDE the
    * measured span, and unpersisted when the SF's runs finish. */
  private def operators(spark: SparkSession, dir: String)
      : (Seq[(String, String, DataFrame => DataFrame)], () => Unit) = {
    val idx = Dedup.bandIndex(Tables.load(spark, dir, "documents"),
      "text", "doc_id", 64, 4).cache()
    idx.count()
    (Seq(
      ("windowed_agg", "events",
        (s: DataFrame) => EventStreams.windowedAgg(s)),
      ("topvalues_sketch", "events",
        (s: DataFrame) => EventStreams.windowedTopValues(s)),
      ("sessionize", "events",
        (s: DataFrame) => EventStreams.sessionize(
          EventStreams.toSessionEvents(s)).toDF()),
      ("dedup_watermark", "events",
        (s: DataFrame) => EventStreams.dedupWithinWatermark(s)),
      ("neardup_probe", "documents",
        (s: DataFrame) =>
          Dedup.streamingNearDupCollisions(s, idx, "text", "doc_id", 64, 4))
    ), () => { idx.unpersist(); () })
  }

  def main(args: Array[String]): Unit = {
    val ladder = Ladder.rungs(args.toSeq, "StreamLadder")
    val iterations =
      sys.env.getOrElse("SPARK_GRAFT_STREAM_ITERS", "2").toInt
    val filesPerTrigger =
      sys.env.getOrElse("SPARK_GRAFT_STREAM_FILES_PER_TRIGGER", "4").toInt
    val outPath = sys.env.getOrElse("SPARK_GRAFT_STREAM_OUT",
      "STREAMING_RAW.jsonl")
    // State-store provider rung: the default HDFS-backed store keeps
    // every state row on-heap — at 100 TB/day user cardinality that is
    // the wrong store, so the ladder must measure RocksDB (off-heap,
    // disk-backed, the production choice for large state) against it.
    // SPARK_GRAFT_STREAM_STATE_PROVIDER=rocksdb flips it; records carry
    // the provider tag so the two rows never get conflated.
    val providerTag =
      sys.env.getOrElse("SPARK_GRAFT_STREAM_STATE_PROVIDER", "hdfs")
        .toLowerCase(java.util.Locale.ROOT)
    val providerClass = providerTag match {
      case "hdfs" =>
        "org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider"
      case "rocksdb" =>
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
      case other => throw new IllegalArgumentException(
        s"SPARK_GRAFT_STREAM_STATE_PROVIDER must be hdfs|rocksdb, got '$other'")
    }

    // SPARK_GRAFT_MASTER=local-cluster[2,8,4096] runs the streaming
    // ladder under real Worker-launched executor JVMs (ClusterSmoke's
    // pattern — requires SPARK_SCALA_VERSION=2.13 in the environment);
    // executors then need this repo's classes on their classpath.
    val master = GraftSession.master(sys.env.getOrElse("SPARK_GRAFT_MASTER",
      s"local[${GraftSession.cpus}]"))
    // SPARK_GRAFT_EXTRA_CONF (applied by GraftSession) serves provider
    // experiments — e.g. RocksDB changelog checkpointing, the knob that
    // targets the commit-latency premium the telemetry measured. The
    // raw value rides the provider tag in every record via the
    // `extra_conf` field so experimental rows never pollute a
    // provider's baseline.
    val extraConf = sys.env.getOrElse("SPARK_GRAFT_EXTRA_CONF", "")
    val classpath =
      if (master.startsWith("local-cluster"))
        Seq("spark.executor.extraClassPath" ->
          new java.io.File("target/scala-2.13/classes").getAbsolutePath)
      else Nil
    val spark = GraftSession.withMaster(master, Seq(
      "spark.sql.streaming.stateStore.providerClass" -> providerClass,
      // batches/out_rows/state_rows read recentProgress after the run;
      // the default ring buffer keeps 100 progress events, so a
      // >100-micro-batch replay (smaller maxFilesPerTrigger, bigger SF)
      // would silently under-report. 10k covers any run this tool does.
      "spark.sql.streaming.numRecentProgressUpdates" -> "10000"
    ) ++ classpath: _*)

    def ms(v: Double): String = JsonFmt.ms(v)
    val out = new java.io.PrintWriter(new java.io.FileWriter(outPath, true))
    try {
      for ((label, dir) <- ladder) {
        val (ops, cleanup) = operators(spark, dir)
        for ((name, table, build) <- ops) {
          // Batch read pins the source schema (file streams require an
          // explicit schema) and the true input row count.
          val batch = Tables.load(spark, dir, table)
          val inputRows = batch.count()
          val rawSchema = spark.read.parquet(s"$dir/$table.parquet").schema
          // One builder serves the measured iterations AND the restart
          // probe: each call wires a fresh file-stream source through
          // the operator (streams are single-use once started).
          def mkSink(): DataFrame = {
            // normalizeAllTs covers NTZ columns; the events ts can
            // also arrive as raw nanos LONG (TablesNtzSpec's third
            // encoding), which only normalizeTs converts.
            // The driver's tables are SINGLE parquet files (ScaleGen's
            // are directories). FileStreamSource injects
            // `basePath = <path>` whenever the path is NOT a glob
            // (FileStreamSource.scala, optionsForInnerDataSource) —
            // for a single-file table that basePath is a file and
            // every micro-batch dies with "'basePath' must be a
            // directory". A {}-glob path suppresses the injection, and
            // the explicit directory basePath then serves both layouts.
            val raw = spark.readStream.schema(rawSchema)
              .option("maxFilesPerTrigger", filesPerTrigger)
              .option("basePath", dir)
              .parquet(s"$dir/{$table}.parquet")
            val src =
              if (rawSchema.fieldNames.contains("ts"))
                Tables.normalizeTs(Tables.normalizeAllTs(raw), "ts")
              else Tables.normalizeAllTs(raw)
            build(src)
          }
          def dirBytes(path: String): Long = {
            val root = new java.io.File(path)
            if (!root.exists()) 0L
            else {
              def walk(f: java.io.File): Long =
                if (f.isFile) f.length()
                else Option(f.listFiles()).map(_.map(walk).sum).getOrElse(0L)
              walk(root)
            }
          }
          var bestSec = Double.MaxValue
          var batches = 0L
          var stateRows = -1L
          var outRows = 0L
          var lateDropped = 0L
          var stateDirBytes = -1L
          var commitMsAvg = -1.0
          var commitMsMax = -1L
          var error: Option[String] = None
          var it = 0
          // No early break on failure: a transient iteration-1 error
          // must not discard the (operator, SF) cell when iteration 2
          // would succeed; the error line is emitted only if NO
          // iteration measured (same discipline as ScaleLadder).
          while (it < iterations) {
            val ckpt = Files.createTempDirectory(s"streamladder_$name")
              .toString
            try {
              val sink = mkSink()
              val t0 = System.nanoTime()
              val q = sink.writeStream.format("noop")
                .outputMode("append")
                .option("checkpointLocation", ckpt)
                .trigger(Trigger.AvailableNow())
                .start()
              q.awaitTermination()
              val sec = (System.nanoTime() - t0) / 1e9
              if (sec < bestSec) {
                bestSec = sec
                val ps = q.recentProgress
                batches = ps.count(_.numInputRows > 0).toLong
                outRows = ps.map(_.sink.numOutputRows).filter(_ > 0).sum
                stateRows = ps.reverse
                  .flatMap(_.stateOperators.toSeq.map(_.numRowsTotal))
                  .headOption.getOrElse(-1L)
                // The late-DROP side of the watermark contract, summed
                // over the replay — the observability LateDropListener
                // gives a live query, recorded here per (operator, SF).
                lateDropped = ps.map(
                  _.stateOperators.map(_.numRowsDroppedByWatermark).sum).sum
                // Provider-decision telemetry: what the state actually
                // COSTS. Size on the checkpoint filesystem (du of the
                // state/ tree — provider-neutral, includes RocksDB SSTs
                // and HDFS-store deltas/snapshots alike) and the
                // per-batch state-commit latency the operator pays on
                // every trigger.
                stateDirBytes = dirBytes(s"$ckpt/state")
                val commits = ps.flatMap(_.stateOperators.map(_.commitTimeMs))
                if (commits.nonEmpty) {
                  commitMsAvg = commits.sum.toDouble / commits.length
                  commitMsMax = commits.max
                }
              }
            } catch { case e: Throwable =>
              error = Some(JsonFmt.err(e))
            } finally {
              // fresh checkpoint per iteration => full reprocess
              org.apache.commons.io.FileUtils
                .deleteQuietly(new java.io.File(ckpt))
            }
            it += 1
          }
          // Restart-recovery probe: at 100 TB/day the question a
          // provider answer must include is "how long until a restarted
          // query is processing again" — state reload time, not just
          // steady-state throughput. Method: process the FIRST batch,
          // stop cooperatively (a committed checkpoint, exactly what a
          // preempted pod leaves behind), restart on the same
          // checkpoint and time the remainder. Only meaningful when the
          // replay has ≥2 micro-batches (multi-file ScaleGen dirs);
          // single-batch sources record -1.
          var restartSec = -1.0
          var restartBatches = -1L
          if (error.isEmpty && batches >= 2) {
            val ckpt = Files.createTempDirectory(s"streamladder_rs_$name")
              .toString
            try {
              val q1 = mkSink().writeStream.format("noop")
                .outputMode("append")
                .option("checkpointLocation", ckpt)
                .trigger(Trigger.AvailableNow())
                .start()
              val dl = System.nanoTime() + 300e9.toLong
              while (q1.isActive &&
                  q1.recentProgress.count(_.numInputRows > 0) < 1 &&
                  System.nanoTime() < dl)
                Thread.sleep(100)
              q1.stop()
              q1.awaitTermination()
              val t0 = System.nanoTime()
              val q2 = mkSink().writeStream.format("noop")
                .outputMode("append")
                .option("checkpointLocation", ckpt)
                .trigger(Trigger.AvailableNow())
                .start()
              q2.awaitTermination()
              val processed = q2.recentProgress.count(_.numInputRows > 0)
              if (processed > 0) {
                restartSec = (System.nanoTime() - t0) / 1e9
                restartBatches = processed.toLong
              }
            } catch { case _: Throwable => () /* probe is best-effort */ }
            finally org.apache.commons.io.FileUtils
              .deleteQuietly(new java.io.File(ckpt))
          }
          // Emit the error line only when NO iteration measured (a
          // transient later-iteration failure must not discard a good
          // run — Bench's discipline).
          val line = error.filter(_ => bestSec == Double.MaxValue) match {
            case Some(msg) =>
              // provider on the error line too: a crash that only one
              // state store exhibits must be attributable from the raw
              // record alone.
              s"""{"sf":"$label","stream":"$name","error":"$msg","provider":"$providerTag","extra_conf":"$extraConf"}"""
            case None =>
              s"""{"sf":"$label","stream":"$name","sec":${ms(bestSec)},"rows":$inputRows,"rows_per_sec":${ms(inputRows / bestSec)},"batches":$batches,"out_rows":$outRows,"state_rows":$stateRows,"late_dropped":$lateDropped,"state_dir_mb":${ms(stateDirBytes / 1048576.0)},"commit_ms_avg":${ms(commitMsAvg)},"commit_ms_max":$commitMsMax,"restart_sec":${ms(restartSec)},"restart_batches":$restartBatches,"provider":"$providerTag","master":"$master"}"""
          }
          println(line)
          out.println(line)
          out.flush()
        }
        cleanup()
      }
    } finally out.close()
    spark.stop()
  }
}
