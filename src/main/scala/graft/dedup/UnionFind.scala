package graft.dedup

import java.util.Arrays

/** The single-task finish of both connected-components loops: once an
  * edge set is below [[MaxEdges]], one union-find pass over it inside
  * one task replaces the remaining Spark rounds, each of which costs at
  * least one job no matter how few edges are left (Kiveris et al.,
  * "Connected Components in MapReduce and Beyond": stop distributing
  * once the graph is small).
  *
  * All state is primitive arrays: the edge list, its sorted
  * de-duplicated endpoints (the dense index, probed by binary search)
  * and an `Int` parent array. At the bound that is about 40 MB, so the
  * finish runs on an executor, never on the driver. */
private[dedup] object UnionFind {

  /** Edge count below which both loops finish in one task. */
  val MaxEdges: Long = 1000000L

  /** `(vertex, min id of its component)` for every endpoint of
    * `edges`, undirected — exactly the min-label assignment the
    * distributed rounds converge to. Repeated and reversed edges and
    * self-loops are allowed; vertices come out in ascending order. */
  def labels(edges: Iterator[(Long, Long)]): Iterator[(Long, Long)] = {
    var ends = new Array[Long](1024)
    var n = 0 // endpoints read: edge i is (ends(2i), ends(2i+1))
    edges.foreach { case (a, b) =>
      if (n + 2 > ends.length) ends = Arrays.copyOf(ends, ends.length * 2)
      ends(n) = a
      ends(n + 1) = b
      n += 2
    }
    val verts = Arrays.copyOf(ends, n)
    Arrays.sort(verts)
    var nv = 0
    var i = 0
    while (i < n) {
      if (nv == 0 || verts(nv - 1) != verts(i)) { verts(nv) = verts(i); nv += 1 }
      i += 1
    }
    // Index order is id order, so keeping the smaller index as the root
    // makes every root its component's minimum id.
    val parent = Array.range(0, nv)
    def find(x: Int): Int = {
      var r = x
      while (parent(r) != r) r = parent(r)
      var c = x
      while (parent(c) != r) { val next = parent(c); parent(c) = r; c = next }
      r
    }
    def index(id: Long): Int = Arrays.binarySearch(verts, 0, nv, id)
    i = 0
    while (i < n) {
      val ra = find(index(ends(i)))
      val rb = find(index(ends(i + 1)))
      if (ra < rb) parent(rb) = ra else if (rb < ra) parent(ra) = rb
      i += 2
    }
    Iterator.range(0, nv).map(v => (verts(v), verts(find(v))))
  }
}
