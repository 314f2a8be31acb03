package graft.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.util.cut

/** One Louvain LEVEL — modularity-OPTIMIZING community detection (Blondel
  * et al. '08), in the synchronous-sweep form that distributes: every
  * sweep, ALL vertices simultaneously evaluate the standard Louvain gain
  * of moving into each neighboring community — computed against the
  * PREVIOUS sweep's assignment, so a sweep is one join/groupBy pass over
  * the half-edge list, never a sequential scan — and move to
  * the best strictly-improving community (ties → smallest community id).
  * Synchronous sweeps are the Louvain analog of graph_labelprop's
  * synchronous propagation: deterministic, BSP-shaped, and exactly
  * replayable as unrolled SQL (GraphSql.louvainChain), which sequential
  * vertex-at-a-time Louvain is not. Complements graph_labelprop (label
  * flooding, no objective) and graph_modularity (scores a given labeling):
  * this key MOVES vertices to improve the score.
  *
  * Gain arithmetic: for vertex i and candidate community C under
  * assignment c, with k_i = deg(i), k_iC = edges from i into C, and
  * tot'_C = Σ_{v∈C} deg(v) minus k_i when C is i's own community (the
  * standard remove-first convention),
  *     score(i,C) = 2m·k_iC − k_i·tot'_C
  * which orders candidates exactly like ΔQ (the dropped terms do not
  * depend on C). ALL-INTEGER, widened to DECIMAL(38,0): 2m·k_iC crosses
  * 2⁶³ near 1e13 half-edges, inside the 100 TB design envelope, and the
  * widened products stay exact and identical in both engines (the
  * text_collocations lesson). A vertex moves only when the best
  * candidate's score strictly exceeds the stay score.
  *
  * MOVE SCHEDULING: only the parity class (id + sweep) % 2 = 0 may move
  * each sweep (the 2-coloring special case of the coloring-based
  * scheduling distributed Louvain uses, e.g. Ghosh et al. '18):
  * unscheduled synchronous moves let adjacent vertices SWAP communities
  * and oscillate — measured Q −0.0018 → −0.0059 on the spec fixture —
  * while alternating parities merges properly (movers join a frozen
  * side). Sweep count is a FIXED parameter (graded key: 4 — each parity
  * moves twice), not a convergence loop: fixed sweeps make the unrolled
  * oracle finite and the cross-engine replay exact, the lp3 discipline.
  *
  * Scale: each sweep = one pass over the half-edge list that looks the
  * neighbor's community up in the broadcast assignment (no edge shuffle),
  * one candidate aggregate per (vertex, community), one community-degree
  * aggregate and one per-vertex pick aggregate — three shuffles, all
  * candidate-, community- or vertex-sized. Loop state is the (id, comm,
  * deg) frame, cut() once per sweep; 2m is measured once with the degree
  * frame. The assignment and the community totals are eager cuts (or
  * aggregates of one) that carry their measured size, so the planner
  * broadcasts them at the session's threshold with no hint: the neighbor
  * lookup streams the half-edge list and never shuffles it. Measured on
  * the lu4 build at sf0.1 (local[4], 4 cores; graft.Probe run1 after
  * graph_densest built the graph, two JVMs per side) against the
  * stats-less assignment's sort-merge join: jobs 52 → 32, shuffle
  * exchanges per sweep 7 → 3, shuffle written 340 → 103 MB, task CPU
  * 58 → 37–39 s, wall 25.2 → 17.3 s. */
object Louvain {

  /** Run `sweeps` synchronous sweeps over undirected simple edges
    * (columns a, b; canonical a < b, distinct — the persisted
    * [[PropertyGraph.undirectedEdges]], read as is). Returns (id,
    * community) over the edge support, sorted by id. */
  def oneLevel(und: DataFrame, sweeps: Int): DataFrame = {
    val half = und.select(col("a").as("i"), col("b").as("j"))
      .unionAll(und.select(col("b").as("i"), col("a").as("j")))
      .withColumn("w", lit(1L))
    weightedSweeps(half,
      half.groupBy(col("i").as("id")).agg(count(lit(1)).as("deg")), sweeps)
  }

  /** The sweep loop over an arbitrary WEIGHTED half-edge list — the
    * second-and-up Louvain level runs here: after contraction the graph
    * carries integer edge weights (inter-community edge counts) and
    * node strengths that include 2× the community's internal weight
    * (self-loops travel with the node, never enter k_iC — the standard
    * contracted-graph convention). `half` is (i, j, w) in BOTH
    * directions; `deg` is (id, deg) = the strength Σ_j w_ij + 2·w_self
    * (for a simple unweighted graph w = 1 and deg = degree, which is
    * how [[oneLevel]] delegates). All gain arithmetic stays the integer
    * DECIMAL(38,0) form — weights are edge counts. */
  def weightedSweeps(half: DataFrame, deg: DataFrame,
      sweeps: Int): DataFrame = {
    // The degree frame, measured: 2m rides its materialization job.
    val (d, row) = Superstep.round(deg, sum("deg").as("m2"))
    val m2 = if (row.isNullAt(0)) 0L else row.getLong(0)
    // The loop state carries deg beside the assignment (id, comm, deg):
    // deg is sweep-invariant, and one broadcast lookup then serves both
    // the neighbor's community and the vertex's own community and degree.
    var c = d.select(col("id"), col("id").as("comm"), col("deg"))
    var t = 1
    while (t <= sweeps) {
      // Only this sweep's parity class evaluates moves (see scaladoc);
      // the filter lands on the half-edge stream before the gain fold.
      // t % 2, not t: sweeps 3-4 then reuse sweeps 1-2's generated code.
      def parity(v: String) = (col(v) + lit(t % 2)) % 2
      // Own community is always a candidate (k_i,own may be 0 when no
      // neighbor shares it): a w = 0 row per eligible vertex joins the
      // half-edge stream before the one candidate aggregate.
      val kic = half.filter(parity("i") === 0)
        .join(c, col("j") === col("id"))
        .select(col("i"), col("comm").as("cc"), col("w"))
        .unionByName(c.filter(parity("id") === 0)
          .select(col("id").as("i"), col("comm").as("cc"), lit(0L).as("w")))
        .groupBy("i", "cc").agg(sum("w").as("k"))
      val tot = c.groupBy(col("comm").as("tc")).agg(sum("deg").as("tot"))
      // after the lookup on i below, comm/deg are i's own community/degree
      val score = lit(m2).cast("decimal(38,0)") * col("k") -
        col("deg").cast("decimal(38,0)") *
          (col("tot") - when(col("cc") === col("comm"), col("deg"))
            .otherwise(lit(0L)))
      // One pick per vertex: the max of (score, is-own, −cc) is the best
      // strictly-improving candidate (a candidate that only ties the stay
      // score loses to the own row), ties → smallest community id.
      val picked = kic
        .join(c, col("i") === col("id"))
        .join(tot, col("cc") === col("tc"))
        .groupBy(col("i").as("id"), col("deg"))
        .agg(max(struct(score.as("score"),
          (col("cc") === col("comm")).as("own"), (-col("cc")).as("ncc")))
          .as("best"))
        .select(col("id"), (-col("best.ncc")).as("comm"), col("deg"))
      c = cut(picked.unionByName(c.filter(parity("id") =!= 0)))
      t += 1
    }
    c.select("id", "comm").orderBy("id")
  }
}
