package graft.graph

/** In-memory union-find over long ids, with path compression. A union
  * links the larger root under the smaller, so every set's root is its
  * minimum id: the min-id labeling the graph keys emit. Used where the
  * merge graph fits one JVM: Borůvka's one-task Kruskal fallback
  * (executor-side) and the per-batch component merge of
  * [[PropertyGraph.foldBatchCC]] (driver-side). */
final class UnionFind {
  private val parent = scala.collection.mutable.HashMap.empty[Long, Long]

  def find(x: Long): Long = {
    var r = x
    while (parent.getOrElse(r, r) != r) r = parent(r)
    var c = x
    while (parent.getOrElse(c, c) != c) {
      val n = parent(c); parent(c) = r; c = n
    }
    r
  }

  /** Merge the sets of `a` and `b`; false when they were already one. */
  def union(a: Long, b: Long): Boolean = {
    val (ra, rb) = (find(a), find(b))
    if (ra == rb) false
    else { parent(math.max(ra, rb)) = math.min(ra, rb); true }
  }
}
