package graft.dedup

import graft.SparkSpec
import graft.queries.DedupQueries

/** The sorted-neighborhood verifier attaches both docs' shingle arrays
  * to the candidate pairs. Under sort-merge that pairs×arrays
  * intermediate is re-sorted between the two attach joins — the 28 GB
  * spill the ×160 ladder measured. The attach is shuffle-HASH (it
  * exchanges the linear shingle frame but never sorts the fat
  * intermediate — it won every measured size) until the per-partition
  * build outgrows `spark.graft.snm.shjMaxBuildBytes`. This pins the
  * plan shapes, their identical output and the conf validation. */
class SnmJoinPathSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"
  private val key = "spark.graft.snm.shjMaxBuildBytes"

  private def frame() = DedupQueries.qdSortedNeighbors(spark, dir)

  private def rows() = frame().collect()
    .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3)))
    .toSeq

  test("past the gate the attach is hash, never a sort-merge") {
    // The whole point of the default: no sort of the fat pairs×arrays
    // intermediate. A SortMergeJoin anywhere in the physical plan means
    // the hint was dropped and the ×160 spill is back.
    val plan = frame().queryExecution.executedPlan.toString
    assert(plan.contains("ShuffledHashJoin"))
    assert(!plan.contains("SortMergeJoin"),
      "verification attach fell back to sort-merge")
  }

  test("a non-numeric threshold fails loudly with the key in the message") {
    try {
      spark.conf.set(key, "lots")
      val e = intercept[IllegalArgumentException] { frame() }
      assert(e.getMessage.contains(key) && e.getMessage.contains("lots"))
    } finally spark.conf.unset(key)
  }

  test("an oversized per-partition build falls to spill-capable sort-merge") {
    // SHJ's build side cannot spill: when the estimated shingle frame
    // per shuffle partition outgrows the heap-aware gate, the attach
    // must fall to sort-merge (slower, but disk-bounded at any heap)
    // rather than OOM tasks — and produce identical pairs.
    val defaultRows = rows()
    val (smjRows, plan) =
      try {
        spark.conf.set(key, "1") // force: any real corpus exceeds it
        val f = frame()
        (f.collect().map(r =>
          (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3))).toSeq,
          f.queryExecution.executedPlan.toString)
      } finally spark.conf.unset(key)
    assert(plan.contains("SortMergeJoin"),
      "oversized build must fall back to sort-merge")
    assert(!plan.contains("ShuffledHashJoin"))
    assert(smjRows === defaultRows)
  }
}
