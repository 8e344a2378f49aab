package graft

/** Diagnostic for the bench ambient-load probes: print N consecutive
  * runs of each probe from a cold JVM, so the warm-up policy in
  * [[Bench]] is set from measured convergence, not a guess. (The r14
  * first cut used 2 fixed warm-ups; the suite-start reading still came
  * out ~3x the steady mid-suite readings — JIT + frequency ramp —
  * which would inflate calib_ref and deflate the first query block's
  * observed times by up to the 2x clamp.)
  *
  * Run: `sbt "runMain graft.ProbeTrace [n]"` (default 15).
  */
object ProbeTrace {
  def main(args: Array[String]): Unit = {
    val n = args.headOption.map(_.toInt).getOrElse(15)
    val spark = GraftSession()
    // Same generic JVM warm-up the bench does before its probes.
    spark.range(1000).selectExpr("sum(id)").collect()
    val cpu = (1 to n).map(_ => Bench.cpuProbeOnce(spark))
    val shuffle = (1 to n).map(_ => Bench.shuffleProbeOnce(spark))
    def fmt(xs: Seq[Double]) = xs.map(t => f"$t%.3f").mkString(" ")
    println(s"cpu:     ${fmt(cpu)}")
    println(s"shuffle: ${fmt(shuffle)}")
    spark.stop()
  }
}
