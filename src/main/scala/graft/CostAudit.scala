package graft

/** Runtime cost sweep (not part of the driver contract): runs every
  * contract query and reports MEASURED shuffle volume, spill, and task
  * time — the numbers that decide whether a plan survives a 100×
  * scale-up (PlanAudit checks plan SHAPE; this checks what the shapes
  * actually move). A query whose shuffle write exceeds its input scan
  * is repartitioning more than it reads — the first thing to fix
  * before a cluster run.
  *
  * Run: `sbt "runMain graft.CostAudit [sfDir]"`. Prints one line per
  * query (sorted by shuffle write, descending) plus totals; any
  * memory/disk spill at these scale factors is flagged loudly, because
  * spill at sf0.1 means certain spill at sf100, and the main exits 1.
  * `SPARK_GRAFT_CPUS` (default the machine's cores) sets `local[n]`.
  */
object CostAudit {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession()
    val dir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val metrics = StageMetrics(spark)

    def mb(b: Long): String = f"${b / 1048576.0}%9.1f"
    var flagged = 0
    val rows = SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
      metrics.start()
      val t0 = System.nanoTime()
      val n = Force.rows(fn(spark, dir))
      val wallMs = (System.nanoTime() - t0) / 1e6
      val c = metrics.stop()
      val cost = QueryCost(name, n, wallMs,
        c.map(_.shuffleReadBytes).sum, c.map(_.shuffleWriteBytes).sum,
        c.map(_.inputBytes).sum, c.map(_.memorySpillBytes).sum,
        c.map(_.diskSpillBytes).sum, c.map(_.taskMs).sum)
      if (cost.memSpill > 0 || cost.diskSpill > 0) flagged += 1
      cost
    }

    println(f"${"query"}%-22s ${"rows"}%9s ${"input MB"}%9s ${"shufW MB"}%9s ${"shufR MB"}%9s ${"spill MB"}%9s ${"task ms"}%9s")
    rows.sortBy(-_.shuffleWrite).foreach { c =>
      val spill = c.memSpill + c.diskSpill
      val mark = if (spill > 0) "  <-- SPILL" else ""
      println(f"${c.name}%-22s ${c.rows}%9d ${mb(c.input)} ${mb(c.shuffleWrite)} ${mb(c.shuffleRead)} ${mb(spill)} ${c.taskMs}%9d$mark")
    }
    val totShufW = rows.map(_.shuffleWrite).sum
    val totInput = rows.map(_.input).sum
    println(f"TOTAL input ${totInput / 1048576.0}%.1f MB, shuffle write ${totShufW / 1048576.0}%.1f MB " +
      f"(amplification ${totShufW.toDouble / math.max(totInput, 1)}%.3f), $flagged queries spilled")
    spark.stop()
    if (flagged > 0) sys.exit(1)
  }

  private case class QueryCost(name: String, rows: Long, wallMs: Double,
      shuffleRead: Long, shuffleWrite: Long, input: Long,
      memSpill: Long, diskSpill: Long, taskMs: Long)
}
