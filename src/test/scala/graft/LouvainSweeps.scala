package graft

import scala.collection.mutable

/** Synchronous Louvain sweeps in plain Scala collections: the independent
  * replay that GraphAlgoIndependenceSpec (graph_louvain on the fixture)
  * and LouvainSpec (hand-built weighted graphs) check the Spark sweeps
  * against. No Spark SQL, no shared text with graph/Louvain.scala.
  *
  * Semantics: per sweep t only parity class (id + t) % 2 = 0 evaluates
  * score(i,C) = 2m·k_iC − k_i·(tot_C − [C = own]·k_i) over neighbor
  * communities ∪ own (previous sweep's assignment), moves iff the best
  * strictly beats staying, ties → smallest community id; the other parity
  * keeps its community. */
object LouvainSweeps {

  /** `half` is (i, j, w) in both directions; `deg` is every vertex's
    * strength Σ_j w_ij + 2·w_self (vertices with no half-edge included).
    * Returns the assignment after `sweeps` sweeps. */
  def run(half: Seq[(Long, Long, Long)], deg: Map[Long, Long],
      sweeps: Int): Map[Long, Long] = {
    val adj = half.groupBy(_._1)
    val m2 = BigInt(deg.values.sum)
    var comm: Map[Long, Long] = deg.keys.map(id => id -> id).toMap
    for (t <- 1 to sweeps) {
      val tot = new mutable.HashMap[Long, Long].withDefaultValue(0L)
      for ((id, d) <- deg) tot(comm(id)) += d
      comm = deg.keys.map { i =>
        val own = comm(i)
        if ((i + t) % 2 != 0) i -> own else {
        val kic = new mutable.HashMap[Long, Long].withDefaultValue(0L)
        adj.getOrElse(i, Nil).foreach { case (_, j, w) => kic(comm(j)) += w }
        val cands = (kic.keySet + own).toSeq
        def score(c: Long): BigInt =
          m2 * BigInt(kic(c)) - BigInt(deg(i)) *
            BigInt(tot(c) - (if (c == own) deg(i) else 0L))
        val stay = score(own)
        val best = cands.filter(c => c == own || score(c) > stay)
          .minBy(c => (-score(c), c))
        i -> best
        }
      }.toMap
    }
    comm
  }
}
