package graft.dedup

import org.scalatest.funsuite.AnyFunSuite

/** [[UnionFind.labels]] as a pure function: no Spark involved. */
class UnionFindSpec extends AnyFunSuite {

  private def labels(edges: (Long, Long)*): Seq[(Long, Long)] =
    UnionFind.labels(edges.iterator).toSeq

  test("a chain labels every vertex with its minimum, in id order") {
    // Listed from the far end, so unions meet roots from both sides.
    val chain = (1L until 50L).reverse.map(i => (i + 1, i))
    assert(labels(chain: _*) == (1L to 50L).map(_ -> 1L))
  }

  test("a star labels leaves with the center only when it is the minimum") {
    assert(labels((1L to 9L).map(i => (5L, i * 10)): _*) ==
      ((5L -> 5L) +: (1L to 9L).map(i => i * 10 -> 5L)))
    assert(labels((1L to 4L).map(i => (0L, i)): _*) ==
      (0L to 4L).map(_ -> 0L))
  }

  test("two disjoint cliques keep separate minima") {
    def clique(ids: Seq[Long]) =
      for (a <- ids; b <- ids if a < b) yield (b, a)
    val out = labels(clique(Seq(7L, 3L, 9L, 12L)) ++ clique(Seq(-4L, 20L, 5L)): _*)
    assert(out == Seq(-4L -> -4L, 3L -> 3L, 5L -> -4L, 7L -> 3L, 9L -> 3L,
      12L -> 3L, 20L -> -4L))
  }

  test("repeated and reversed edges, self-loops and extreme ids") {
    val out = labels((2L, 1L), (1L, 2L), (2L, 1L), (3L, 3L),
      (Long.MaxValue, Long.MinValue), (Long.MinValue, Long.MinValue),
      (Long.MaxValue, 4L))
    assert(out == Seq(Long.MinValue -> Long.MinValue, 1L -> 1L, 2L -> 1L,
      3L -> 3L, 4L -> Long.MinValue, Long.MaxValue -> Long.MinValue))
  }

  test("an empty edge iterator yields no labels") {
    assert(labels().isEmpty)
  }

  test("grows past its initial edge buffer") {
    // 5,000 disjoint pairs (10,000 endpoints) outgrow the 1,024 slots.
    val out = labels((0L until 5000L).map(i => (2 * i + 1, 2 * i)): _*)
    assert(out == (0L until 10000L).map(v => v -> (v - v % 2)))
  }
}
