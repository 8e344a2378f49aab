package graft

import org.apache.spark.sql.SparkSession

/** Per-query plan and performance inspection (not part of the driver
  * contract): for each named query, three timed runs (run 1 ≈ cold
  * codegen + JIT, runs 2-3 ≈ steady state), then every stage of the
  * last run with its wall time, summed task and GC time, shuffle
  * read/write and input bytes and record counts, grouped by job. This
  * is the "which exchange is the money going to" view the Spark UI
  * would give if it were enabled.
  *
  * Arguments are query names (default q1_pricing) and in-session conf
  * toggles — `conf:key=value` sets, `unset:key` clears — applied in
  * order, so an A/B of two plan shapes runs INTERLEAVED in one JVM
  * (ambient host bursts swing same-code timings up to ~1.7× across
  * sessions, so cross-session comparisons are unusable).
  *
  * Run: `sbt "runMain graft.Profile <query|conf:k=v|unset:k> ..."`.
  * Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1);
  * SPARK_GRAFT_EXPLAIN=1 prints the formatted physical plan;
  * SPARK_GRAFT_EXPLAIN_EXECUTED=1 prints the post-execution plan;
  * SPARK_GRAFT_EXTRA_CONF and SPARK_GRAFT_CPUS as for every tool.
  */
object Profile {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession()
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val tokens = if (args.nonEmpty) args.toSeq else Seq("q1_pricing")
    val metrics = StageMetrics(spark)
    for (token <- tokens) {
      if (token.startsWith("conf:")) {
        val kv = token.stripPrefix("conf:")
        if (!kv.contains("=")) {
          println(s"[profile] bad conf token '$token' (want conf:key=value) — skipped")
        } else {
          val Array(k, v) = kv.split("=", 2)
          spark.conf.set(k, v); println(s"[profile] set $k=$v")
        }
      } else if (token.startsWith("unset:")) {
        spark.conf.unset(token.stripPrefix("unset:"))
        println(s"[profile] unset ${token.stripPrefix("unset:")}")
      } else profile(spark, dir, token, metrics)
    }
    spark.stop()
  }

  private def profile(spark: SparkSession, dir: String,
      name: String, metrics: StageMetrics): Unit = {
    val query = SparkEntry.queries(name)
    if (sys.env.get("SPARK_GRAFT_EXPLAIN").contains("1"))
      query(spark, dir).explain("formatted")
    // Post-execution plan: AQE finalizes reuse/broadcast decisions at
    // runtime, so ReusedExchange/ReusedSubquery only show here.
    if (sys.env.get("SPARK_GRAFT_EXPLAIN_EXECUTED").contains("1")) {
      val df = query(spark, dir)
      // collect(), not count(): count() wraps a NEW QueryExecution,
      // leaving df's own adaptive plan unexecuted (isFinalPlan=false).
      df.collect()
      println(df.queryExecution.executedPlan.toString)
    }
    // Construct INSIDE the timed region (as Bench does): iterative
    // operators (connectedComponents) run their jobs at construction.
    var stages = Seq.empty[StageRecord]
    for (i <- 1 to 3) {
      if (i == 3) metrics.start()
      val t0 = System.nanoTime()
      val n = Force.rows(query(spark, dir))
      val sec = (System.nanoTime() - t0) / 1e9
      if (i == 3) stages = metrics.stop()
      println(f"[profile] $name run $i: $sec%.3fs rows=$n")
    }
    for ((jid, ss) <- stages.groupBy(_.jobId).toSeq.sortBy(_._1)) {
      println(f"-- job $jid%3d  wall=${ss.map(_.wallMs).sum}%6d ms  " +
        f"task=${ss.map(_.taskMs).sum}%7d ms  ${ss.head.jobDescription}")
      def mb(b: Long): Double = b / 1e6
      for (s <- ss.sortBy(-_.taskMs)) {
        println(f"   stage ${s.stageId}%4d task=${s.taskMs}%7d ms " +
          f"gc=${s.gcMs}%6d ms " +
          f"wall=${s.wallMs}%6d ms sr=${mb(s.shuffleReadBytes)}%8.1fMB " +
          f"sw=${mb(s.shuffleWriteBytes)}%8.1fMB in=${mb(s.inputBytes)}%7.1fMB " +
          f"rIn=${s.recordsIn}%9d rOut=${s.recordsOut}%9d t=${s.numTasks}%3d  " +
          s.name.take(90))
      }
    }
  }
}
