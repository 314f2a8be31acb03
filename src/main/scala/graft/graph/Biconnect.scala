package graft.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Distributed biconnectivity — bridges and articulation points — via the
  * Tarjan–Vishkin reduction (SIAM J. Comput. 14(4), 1985): biconnected
  * components of G are the connected components of an AUXILIARY graph H
  * whose vertices are G's spanning-tree edges. Unlike Hopcroft–Tarjan
  * low-link (which needs a DFS tree — inherently sequential), every piece
  * here is a vertex-sized BSP sweep over an ARBITRARY rooted spanning
  * tree, so a BFS tree (O(diameter) rounds) works:
  *
  *   1. BFS spanning tree from `root` (parent = min reached neighbor —
  *      deterministic), depth ≤ diameter rounds.
  *   2. Subtree sizes: one bottom-up level sweep (sum over children).
  *   3. Preorder numbers WITHOUT a DFS: pre(c) = pre(parent) + 1 +
  *      Σ sz(smaller siblings) — one top-down level sweep with a
  *      per-parent window; subtree(v) is then the interval
  *      [pre(v), pre(v)+sz(v)).
  *   4. low/high: min/max preorder reachable from inside subtree(v) via a
  *      single non-tree edge — contributions pre(y) at x (and pre(x) at y)
  *      per non-tree edge {x,y}, folded up by one more bottom-up sweep.
  *   5. BRIDGES drop out directly: tree edge (p(v),v) is a bridge iff no
  *      non-tree edge leaves subtree(v), i.e. NOT (low(v) < pre(v) ∨
  *      high(v) ≥ pre(v)+sz(v)).
  *   6. H-edges: (R1) for each non-tree edge {x,y} with neither endpoint
  *      an ancestor of the other, connect tree edges e_x,e_y (the cycle
  *      x→…→lca→…→y→x passes both); (R2) connect e_v to e_p(v) (p(v) non
  *      root) iff some non-tree edge escapes subtree(p(v)) from inside
  *      subtree(v): low(v) < pre(p) ∨ high(v) ≥ pre(p)+sz(p). Ancestor
  *      non-tree edges need no rule of their own: their cycle's tree
  *      edges are chained pairwise by R2 (the escape witness is the edge
  *      itself), and R1 bridges the lca for unrelated pairs.
  *   7. CC over H (PairCC hook+jump, log-round) labels each tree edge
  *      with its biconnected component; v is an ARTICULATION POINT iff
  *      (root) ≥ 2 children's tree edges land in distinct components, or
  *      (non-root) some child c has label(e_c) ≠ label(e_v).
  *
  * Work is O((V+E)·depth) with every frame vertex- or edge-sized — at
  * 100 TB the sweeps are plain shuffles on the id key and H is at most
  * edge-sized; nothing is quadratic and nothing walks pairs. [[apply]]
  * takes one connected component and its root; [[forest]] takes an
  * ARBITRARY disconnected graph plus one root per component (from a
  * stored CC labeling) and runs every component in the same batched
  * sweeps — no per-component driver loop.
  */
object Biconnect {

  /** Single-component convenience form: one BFS root, the input must be
    * one connected component reachable from it (checked loudly).
    * @param pairs0 undirected edge list, columns (a, b) with a < b, no
    *               duplicates, all vertices reachable from `root`
    * @param root   BFS root vertex id
    * @param maxDepth loud-failure cap on the BFS depth (tree sweeps are
    *                 O(depth) driver rounds; raise for high-diameter input)
    * @return (bridges (a, b) canonical order, articulation vertex ids (id))
    */
  def apply(pairs0: DataFrame, root: Long, maxDepth: Int = 16)
      : (DataFrame, DataFrame) = {
    val spark = pairs0.sparkSession
    import spark.implicits._
    forest(pairs0, Seq(root).toDF("id"), maxDepth)
  }

  /** Whole-graph form over an ARBITRARY (possibly disconnected) graph:
    * `roots0` names ONE root per connected component (column `id` — the
    * natural source is a stored CC labeling's distinct component labels,
    * which are per-component min ids). All component BFS trees grow in the
    * SAME vertex-sized sweeps — one forest, no per-component driver loop —
    * and every downstream step (subtree sizes, per-tree preorder, low/high,
    * H-edges, auxiliary CC) is per-tree arithmetic that never compares
    * across trees, because non-tree edges cannot cross components. Both
    * preconditions are checked LOUDLY after the BFS: every edge-named
    * vertex must be reached (missing root), and no edge may join two
    * different roots' trees (two roots in one component would silently
    * split its biconnected structure). */
  def forest(pairs0: DataFrame, roots0: DataFrame, maxDepth: Int = 16)
      : (DataFrame, DataFrame) = {
    val cut = graft.util.cut(_: DataFrame)
    val pairs = cut(pairs0.select("a", "b"))
    val und = cut(pairs.unionAll(
      pairs.select(col("b").as("a"), col("a").as("b"))))

    // 1. BFS forest: vis(id, parent, lvl, rt); parent = min lower-level
    // neighbor; rt = owning root, inherited from the claiming parent.
    // every level is a measured cut: its row count is the loop's test
    var (vis, live) = Superstep.counted(roots0.select(col("id"),
      lit(null).cast("long").as("parent"), lit(0).as("lvl"),
      col("id").as("rt")))
    var frontier = vis.select("id", "rt")
    var lvl = 0
    while (live > 0) {
      Superstep.cap("Biconnect.forest BFS (raise maxDepth)", lvl, maxDepth,
        live)
      lvl += 1
      val (nxt, n) = Superstep.counted(und
        .join(frontier.withColumnRenamed("id", "a"), "a")
        .join(vis.select(col("id").as("b")), Seq("b"), "left_anti")
        .groupBy(col("b").as("id"))
        .agg(min("a").as("parent"), min("rt").as("rt"))
        .withColumn("lvl", lit(lvl)))
      frontier = nxt.select("id", "rt")
      live = n
      vis = cut(vis.unionAll(nxt.select("id", "parent", "lvl", "rt")))
    }
    val maxLvl = lvl - 1
    // Preconditions, checked loudly (disconnected-from-roots input or
    // doubled roots would silently misclassify):
    val unreached = pairs.select(col("a").as("id"))
      .unionAll(pairs.select(col("b").as("id"))).distinct()
      .join(vis, Seq("id"), "left_anti").count()
    require(unreached == 0,
      s"$unreached edge vertices unreachable from the given roots — " +
        "pass one root per connected component")
    val crossRoot = pairs
      .join(vis.select(col("id").as("a"), col("rt").as("rta")), "a")
      .join(vis.select(col("id").as("b"), col("rt").as("rtb")), "b")
      .filter(col("rta") =!= col("rtb")).count()
    require(crossRoot == 0,
      s"$crossRoot edges join two different roots' trees — " +
        "roots must be one per component")

    // 2. Subtree sizes: bottom-up level sweep.
    var sz = vis.withColumn("sz", lit(1L))
    for (l <- maxLvl to 1 by -1) {
      val add = sz.filter(col("lvl") === l)
        .groupBy(col("parent").as("id")).agg(sum("sz").as("add"))
      sz = cut(sz.join(add, Seq("id"), "left")
        .withColumn("sz", col("sz") + coalesce(col("add"), lit(0L)))
        .drop("add"))
    }

    // 3. Preorder: top-down level sweep; smaller-id siblings first.
    val sib = Window.partitionBy("parent").orderBy("id")
      .rowsBetween(Window.unboundedPreceding, -1)
    var pre = sz.filter(col("lvl") === 0)
      .select(col("id"), lit(0L).as("pre"))
    for (l <- 1 to maxLvl) {
      val kids = sz.filter(col("lvl") === l)
        .withColumn("off", coalesce(sum("sz").over(sib), lit(0L)))
        .join(pre.select(col("id").as("parent"), col("pre").as("ppre")),
          "parent")
        .select(col("id"), (col("ppre") + 1 + col("off")).as("pre"))
      pre = cut(pre.unionAll(kids))
    }

    // Tree-edge pair set and the non-tree remainder (canonical a < b).
    val treePairs = vis.filter(col("parent").isNotNull)
      .select(least(col("id"), col("parent")).as("a"),
        greatest(col("id"), col("parent")).as("b"))
    val nonTree = cut(pairs.join(treePairs, Seq("a", "b"), "left_anti"))

    // 4. low/high: per-vertex non-tree contributions, folded bottom-up.
    val contrib = nonTree
      .join(pre.select(col("id").as("a"), col("pre").as("pa")), "a")
      .join(pre.select(col("id").as("b"), col("pre").as("pb")), "b")
    val base = contrib.select(col("a").as("id"), col("pb").as("p"))
      .unionAll(contrib.select(col("b").as("id"), col("pa").as("p")))
      .groupBy("id").agg(min("p").as("lo"), max("p").as("hi"))
    var lh = vis.join(base, Seq("id"), "left") // id,parent,lvl,lo,hi
    for (l <- maxLvl to 1 by -1) {
      val up = lh.filter(col("lvl") === l)
        .groupBy(col("parent").as("id"))
        .agg(min("lo").as("clo"), max("hi").as("chi"))
      lh = cut(lh.join(up, Seq("id"), "left")
        .withColumn("lo", least(col("lo"), col("clo")))
        .withColumn("hi", greatest(col("hi"), col("chi")))
        .drop("clo", "chi"))
    }

    // Per non-root vertex v: its tree edge's frame — pre/sz/low/high of v
    // plus pre/sz of the parent (for the R2 escape test).
    val frame = lh.filter(col("parent").isNotNull)
      .join(pre, "id")
      .join(sz.select(col("id"), col("sz")).withColumnRenamed("sz", "szv"),
        "id")
      .join(pre.select(col("id").as("parent"), col("pre").as("ppre")),
        "parent")
      .join(sz.select(col("id").as("parent"), col("sz").as("psz"),
        col("lvl").as("plvl")), "parent")

    // 5. Bridges: nothing escapes subtree(v).
    val escapesOwn = coalesce(col("lo") < col("pre"), lit(false)) ||
      coalesce(col("hi") >= col("pre") + col("szv"), lit(false))
    val bridges = frame.filter(!escapesOwn)
      .select(least(col("id"), col("parent")).as("a"),
        greatest(col("id"), col("parent")).as("b"))

    // 6. H-edges on tree edges ≅ non-root vertices.
    val r2 = frame.filter(col("plvl") > 0 &&
        (coalesce(col("lo") < col("ppre"), lit(false)) ||
          coalesce(col("hi") >= col("ppre") + col("psz"), lit(false))))
      .select(col("id").as("da"), col("parent").as("db"))
    val unrelated = // neither endpoint's preorder interval contains the other
      !(col("pa") <= col("pb") && col("pb") < col("pa") + col("sa")) &&
        !(col("pb") <= col("pa") && col("pa") < col("pb") + col("sb"))
    val r1 = contrib
      .join(sz.select(col("id").as("a"), col("sz").as("sa")), "a")
      .join(sz.select(col("id").as("b"), col("sz").as("sb")), "b")
      .filter(unrelated)
      .select(col("a").as("da"), col("b").as("db"))

    // 7. CC over H, iterated to a FIXPOINT (r10 ADVICE: H's diameter grows
    // with BFS tree depth via R2 chains, so a static round budget would
    // silently split components on deep trees; the hard cap still fails
    // loudly). Isolated tree edges keep their own label.
    val hcc = PairCC.labelsConverged(cut(r1.unionAll(r2)),
      maxRounds = 8 + 2 * (64 - java.lang.Long
        .numberOfLeadingZeros(2L * (maxLvl.max(1)))))
    val lbl = vis.filter(col("parent").isNotNull).select("id", "parent")
      .join(hcc, Seq("id"), "left")
      .select(col("id"), col("parent"),
        coalesce(col("lbl"), col("id")).as("lbl"))

    // Articulation: a root iff ITS children span ≥ 2 H-components;
    // non-root v iff some child's component differs from v's own tree
    // edge's.
    val rootArt = lbl
      .join(vis.filter(col("lvl") === 0)
        .select(col("id").as("parent")), "parent")
      .groupBy("parent").agg(countDistinct("lbl").as("k"))
      .filter(col("k") >= 2).select(col("parent").as("id"))
    val innerArt = lbl.select(col("parent").as("id"), col("lbl").as("clbl"))
      .join(lbl.select(col("id"), col("lbl").as("vlbl")), "id")
      .filter(col("clbl") =!= col("vlbl"))
      .select("id").distinct()
    (bridges, cut(rootArt.unionAll(innerArt)))
  }
}
