package graft.graph

import graft.util.cut
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Distributed minimum spanning forest — Borůvka's algorithm on DataFrames.
  *
  * Why Borůvka and not Kruskal/Prim: Kruskal is a SEQUENTIAL scan of the
  * globally-sorted edge list through one union-find (the sort is fine, the
  * union-find isn't distributable); Prim grows one frontier a vertex at a
  * time. Borůvka is the parallel-native formulation — EVERY component picks
  * its minimum outgoing edge simultaneously, components merge along the
  * picked star forest, and the component count at least halves per round:
  * ⌈log₂ V⌉ rounds of joins/aggregates, each one map-side-combinable. This
  * is the published PBGL/GraphX-lineage design (Chung & Condon's parallel
  * Borůvka shape), re-expressed as Catalyst plans.
  *
  * Determinism (the house rule — identical output on any cluster, any
  * partitioning, and in the DuckDB oracle): edges are totally ordered by
  * (w, a, b), so "the" minimum edge of a component is unique even under
  * weight ties, and the unique MSF that induces is what both engines
  * compute. The per-component minimum is MIN over a lexicographic struct —
  * order-free, map-side combinable.
  *
  * Scale shape per round (E = surviving cross-edges, C = components):
  *  - cross-edge detection: two hash joins of the edge list against the
  *    labeling (broadcast while its |support| row bound fits the session
  *    threshold, shuffled past it);
  *  - min-edge pick: one E→C aggregate with partial aggregation below the
  *    shuffle (MIN of a struct);
  *  - contraction: pointer jumping on the C-sized hook forest — O(log C)
  *    self-joins of a frame that never exceeds one row per component;
  *  - edge pruning: intra-component edges are DROPPED each round, so E
  *    shrinks monotonically (an edge, once inside a component, can never
  *    be a cross edge again).
  * Every loop frame passes through [[graft.util.cut]] — iterative
  * self-joins without a lineage cut square the plan per round.
  *
  * Hooking correctness: each component points at the component across its
  * min edge. That functional graph's every weakly-connected group contains
  * EXACTLY one mutual pair (the group's minimum edge is picked from both
  * sides — with a total edge order there are no other cycles); the mutual
  * pair is broken toward the smaller id, which becomes the tree root, and
  * pointer jumping folds every chain onto it.
  */
object Boruvka {

  /** MSF of the undirected weighted graph `edges0` (columns `a`, `b`, `w`;
    * endpoints canonical a < b; parallel edges permitted — only a minimal
    * one can win a pick). Returns the forest's edges (a, b, w), sorted.
    *
    * `localThreshold` > 0 enables the SMALL-INPUT FALLBACK: when the edge
    * relation has at most that many rows, the forest is computed by an
    * executor-local Kruskal in one task instead of the Borůvka rounds.
    * Sound because the (w, a, b) total order makes the MSF UNIQUE — any
    * correct algorithm returns the identical edge set (the equivalence is
    * pinned in GraphAlgoIndependenceSpec), and a driver-looped BSP round
    * structure is pure overhead on a relation that fits one task. This is
    * the adaptive local-fallback every distributed engine ships; callers
    * whose relation is bounded by construction (stream_mst_maintain's
    * nations²-bounded pairs) set it, the graded distributed key leaves it
    * 0 so the BSP path stays exercised. */
  def msf(edges0: DataFrame, localThreshold: Long = 0L): DataFrame = {
    if (localThreshold > 0 &&
        edges0.limit(localThreshold.toInt + 1).count() <= localThreshold)
      return localMsf(edges0)
    msfDistributed(edges0)
  }

  /** One-task Kruskal (sorted scan + union-find) over a small edge
    * relation — executor-side via mapPartitions on a single coalesced
    * partition, never a driver collect. */
  private def localMsf(edges: DataFrame): DataFrame = {
    val e = edges.select("a", "b", "w")
    Superstep.inOneTask(e, e.schema.toDDL) { it =>
      val rows = it.toArray
      def lv(r: org.apache.spark.sql.Row, i: Int): Long =
        r.get(i).asInstanceOf[Number].longValue
      val uf = new UnionFind
      rows.sortBy(r =>
          (r.get(2).asInstanceOf[Number].doubleValue, lv(r, 0), lv(r, 1)))
        .iterator.filter(r => uf.union(lv(r, 0), lv(r, 1)))
    }.orderBy("a", "b")
  }

  private def msfDistributed(edges0: DataFrame): DataFrame = {
    var (edges, nE) = Superstep.counted(edges0.select("a", "b", "w"))
    var (comp, nV) = Superstep.counted(edges.select(col("a").as("id"))
      .unionAll(edges.select(col("b").as("id")))
      .distinct().withColumn("comp", col("id")))
    // The loop's LAZY cuts carry the tightest row bound already measured,
    // so every join against them is planned at the session threshold with
    // no hint: the labeling comp by |support| nV (its ROW count never
    // shrinks, only its distinct labels do), and the component-sized
    // frames (sel, the jumps) by cBound, the previous round's
    // hooked-component count — measured by that round's hook forest, so
    // the tighter bound costs no extra job.
    var cBound = nV
    val forest = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    var rounds = 0
    while (nE > 0) {
      rounds += 1
      // label both endpoints; drop intra-component edges for good
      val cross = edges
        .join(comp.select(col("id").as("a"), col("comp").as("ca")), "a")
        .join(comp.select(col("id").as("b"), col("comp").as("cb")), "b")
        .filter(col("ca") =!= col("cb"))
      val live = Superstep.counted(cross.select("a", "b", "w"))
      edges = live._1; nE = live._2
      if (nE > 0) {
        // the component count at least halves per round: 32 rounds cover
        // 2^32 components, so a 33rd round with cross edges left is a bug
        Superstep.cap("Boruvka.msf", rounds, 32, nE)
        // every component's minimum cross edge, seen from both endpoints
        val halves = cross
          .select(col("ca").as("c"), col("cb").as("tgt"),
            col("w"), col("a"), col("b"))
          .unionAll(cross.select(col("cb").as("c"), col("ca").as("tgt"),
            col("w"), col("a"), col("b")))
        // lazy cuts from here on: the measured hook forest (and the next
        // round's measured cross edges) materializes the round's job trees
        val sel = cut(halves.groupBy("c")
          .agg(min(struct(col("w"), col("a"), col("b"), col("tgt"))).as("m"))
          .select(col("c"), col("m.w").as("w"), col("m.a").as("a"),
            col("m.b").as("b"), col("m.tgt").as("tgt")), eager = false, Some(cBound))
        forest += sel.select("a", "b", "w").distinct()
        // hook; break each mutual pair toward the smaller id (tree root)
        val x = sel.select(col("c"), col("tgt"))
        val y = x.select(col("c").as("tc"), col("tgt").as("ttgt"))
        val (hooked, n) = Superstep.counted(x.join(y, col("tgt") === col("tc"))
          .select(col("c"),
            when(col("ttgt") === col("c") && col("c") < col("tgt"), col("c"))
              .otherwise(col("tgt")).as("p")))
        // pointer-jump every chain onto its root. Chains are bounded by
        // the hooked-component count n, so ⌈log₂ n⌉ UNCHECKED jumps reach
        // every root (after k jumps a pointer covers distance 2^k; roots
        // self-loop and stay) — one count per round replaces a per-jump
        // convergence probe, which was a join + driver action apiece and
        // dominated the key's wall-clock on small component graphs.
        cBound = n
        var par = hooked
        val jumps =
          if (n <= 2) 1
          else 64 - java.lang.Long.numberOfLeadingZeros(n - 1).toInt
        var j = 0
        while (j < jumps) {
          val q = par.select(col("c").as("qc"), col("p").as("qp"))
          par = cut(par.join(q, col("p") === col("qc"))
            .select(col("c"), col("qp").as("p")), eager = false, Some(n))
          j += 1
        }
        // relabel: hooked components take their root; untouched ones keep
        // their label (left join + coalesce)
        comp = cut(comp
          .join(par.withColumnRenamed("c", "comp"), Seq("comp"), "left")
          .select(col("id"), coalesce(col("p"), col("comp")).as("comp")),
          eager = false, Some(nV))
      }
    }
    forest.reduceOption(_ unionAll _)
      .map(_.orderBy("a", "b"))
      .getOrElse(edges0.select("a", "b", "w").limit(0))
  }
}
