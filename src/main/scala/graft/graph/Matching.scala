package graft.graph

import graft.util.cut
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Distributed greedy maximal matching — the locally-heaviest-edge BSP
  * (Preis '99 / Manne–Bisseling's parallel form) on DataFrames.
  *
  * Round: every vertex nominates its best incident edge under the TOTAL
  * order (w DESC, a, b); an edge whose BOTH endpoints nominated it is
  * matched (mutual-best — the distributed handshake); matched vertices and
  * all their edges leave the graph. The globally-best surviving edge is
  * always mutual-best, so every round matches ≥ 1 edge and the loop
  * terminates in ≤ ⌊V/2⌋ rounds (dense small graphs approach that bound;
  * sparse graphs finish in O(log V) expected). The greedy result is the
  * classic ½-approximation of maximum-weight matching, and under a total
  * edge order it is UNIQUE — any engine replaying the rounds gets the
  * identical edge set, which is what makes the unrolled DuckDB oracle an
  * exact replay rather than a property check.
  *
  * Scale shape per round: the nomination is ONE map-side-combinable
  * aggregate (MIN of a (−w, a, b) struct over the doubled edge list); the
  * handshake is a self-join of the V-sized nomination frame; removal is two
  * anti-joins of the shrinking edge list against the matched-vertex set.
  * Every loop frame passes through [[graft.util.cut]] — iterative
  * self-joins without a lineage cut square the plan per round. */
object Matching {

  /** Greedy mutual-best matching over undirected weighted `edges0`
    * (columns a, b, w; canonical a < b, unique (a, b)). Returns
    * (r, a, b, w): the matched edges tagged with the round that matched
    * them, sorted by (r, a, b).
    *
    * `localThreshold` > 0 enables the SMALL-REMAINDER TAIL (the
    * Boruvka.msf hybrid): once the surviving edge relation fits under
    * the threshold, the remaining rounds replay executor-locally in one
    * task — the SAME deterministic round semantics (round tags continue),
    * so BSP-only and hybrid outputs are identical (pinned in
    * MatchingDensestSpec). Maximal matching genuinely needs many rounds
    * on hub-and-chain graphs (the mutual-best handshake matches a hub at
    * most once per round), and the late rounds touch metadata-scale
    * remainders — paying a full distributed barrier apiece for them is
    * pure overhead at any deployment size. */
  def greedy(edges0: DataFrame, localThreshold: Long = 0L): DataFrame = {
    val spark = edges0.sparkSession
    // No cut on round 0: the input is a stored artifact (stats intact for
    // the first round's planning); cut() guards REASSIGNED loop frames,
    // and `e` only needs it from the first shrink on.
    var e = edges0.select("a", "b", "w")
    var cnt = e.count()
    var out = graft.util.empty(spark, "r INT, a BIGINT, b BIGINT, w DOUBLE")
    var r = 1
    // ⌊V/2⌋ bounds the true round count; 64 is a runaway backstop only —
    // but localTail materializes its input in ONE task, so the backstop
    // may only exit once the remainder fits a single task's scan
    // (adversarial monotone path weights need ~E/2 rounds; funneling an
    // O(E) remainder into toArray would be a single-executor OOM). The
    // loop always terminates: the globally max-weight edge is mutual-best
    // every round, so cnt strictly decreases.
    val oneTaskCap = 16000000L
    while (cnt > 0 && cnt > localThreshold && (r <= 64 || cnt > oneTaskCap)) {
      val (m, next, n) = mutualBest(e, cnt)
      out = out.unionByName(m.select(lit(r).as("r"), col("a"), col("b"), col("w")))
      e = next; cnt = n
      r += 1
    }
    if (cnt > 0) out = out.unionByName(localTail(e, r))
    cut(out).orderBy("r", "a", "b")
  }

  /** The matching WITHOUT round tags (a, b, w) — for consumers like the
    * vertex cover that only need the edge set. Same BSP head; the local
    * tail is the SEQUENTIAL greedy scan (edges in (w DESC, a, b) order,
    * take iff both endpoints free), which computes the IDENTICAL edge set
    * to the round loop: locally-greedy = globally-greedy under a total
    * order (Preis '99 — the round algorithm peels successive local
    * minima, the scan takes the same edges in rank order; equivalence
    * pinned in MatchingDensestSpec). One O(E log E) pass instead of
    * per-round O(E) passes — the right tail shape when the remainder
    * still has many rounds left. */
  def maximalMatching(edges0: DataFrame, localThreshold: Long = 0L): DataFrame = {
    val spark = edges0.sparkSession
    var e = edges0.select("a", "b", "w") // cut from the first shrink on
    var cnt = e.count()
    var out = graft.util.empty(spark, "a BIGINT, b BIGINT, w DOUBLE")
    var r = 1
    while (r <= 64 && cnt > 0 && cnt > localThreshold) {
      val (m, next, n) = mutualBest(e, cnt)
      out = out.unionByName(m.select("a", "b", "w"))
      e = next; cnt = n
      r += 1
    }
    if (cnt > 0) {
      // the rank-order stream through one task: one O(E) pass with a
      // free-set (the inherently sequential step of greedy matching)
      out = out.unionByName(Superstep.inOneTask(e.select("a", "b", "w"),
          "a BIGINT, b BIGINT, w DOUBLE", col("w").desc, col("a"), col("b")) { it =>
        val used = new java.util.HashSet[Long]()
        it.filter { row =>
          val a = row.getLong(0); val b = row.getLong(1)
          if (used.contains(a) || used.contains(b)) false
          else { used.add(a); used.add(b); true }
        }
      })
    }
    cut(out)
  }

  /** One mutual-best round over the live edges `e` (a, b, w), `cnt` rows
    * (measured by the round before). Returns the matched edges, the edge
    * list left once matched vertices leave, and its row count.
    *
    * TWO actions per round — the cut of the nomination frame and the
    * measured cut of the shrunken edge list, whose count rides its own
    * job. Everything else (the handshake join, the matched-vertex set, the
    * per-round output slice) stays LAZY over the checkpointed frames:
    * per-round fixed action latency, not data volume, dominates a
    * many-round BSP on a shrinking relation, so the loop's job count is
    * the thing to engineer down. */
  private def mutualBest(e: DataFrame, cnt: Long): (DataFrame, DataFrame, Long) = {
    val half = e.select(col("a").as("v"), col("a"), col("b"), col("w"))
      .unionAll(e.select(col("b").as("v"), col("a"), col("b"), col("w")))
    // CUT the nomination frame before the handshake: both join sides
    // derive from it, and an uncut plan would run the (dominant)
    // min-struct aggregate twice per round.
    val best = cut(half
      .groupBy("v")
      .agg(min(struct((-col("w")).as("nw"), col("a"), col("b"))).as("s"))
      .select(col("v"), col("s.a").as("a"), col("s.b").as("b"),
        (-col("s.nw")).as("w")), eager = false)
    // the matched edges are live edges: the cut carries the round's
    // measured cnt as its row bound, and the matched-vertex set (two rows
    // per matched edge) joins from it at the session threshold, no hint
    val m = cut(best.filter(col("v") === col("a")).drop("v")
      .join(best.filter(col("v") === col("b")).select("a", "b"),
        Seq("a", "b"), "left_semi"), eager = false, Some(cnt))
    val mv = m.select(col("a").as("mid")).unionAll(m.select(col("b").as("mid")))
    // LAZY cuts throughout the round (the hits half-round lesson):
    // nothing consumes best/m until the shrunken list is measured, so the
    // whole round materializes in one job tree instead of one job per cut.
    val (next, n) = Superstep.counted(e.join(mv, e("a") === mv("mid"), "left_anti")
      .join(mv, e("b") === mv("mid"), "left_anti"))
    (m, next, n)
  }

  /** Executor-local continuation: the identical mutual-best round loop
    * over the (threshold-bounded) remainder in one task (Boruvka.localMsf's
    * shape). */
  private def localTail(e: DataFrame, r0: Int): DataFrame =
    Superstep.inOneTask(e.select("a", "b", "w"),
        "r INT, a BIGINT, b BIGINT, w DOUBLE") { it =>
      var es = it.map(row => (row.getLong(0), row.getLong(1),
        row.getDouble(2))).toArray
      val out = scala.collection.mutable.ArrayBuffer
        .empty[org.apache.spark.sql.Row]
      var r = r0
      while (es.nonEmpty) {
        val best = scala.collection.mutable
          .Map.empty[Long, (Double, Long, Long)]
        es.foreach { case (a, b, w) =>
          val k = (-w, a, b)
          Seq(a, b).foreach { v =>
            if (!best.contains(v) ||
              Ordering[(Double, Long, Long)].lt(k, best(v))) best(v) = k
          }
        }
        val m = es.filter { case (a, b, w) =>
          best(a) == ((-w, a, b)) && best(b) == ((-w, a, b)) }
        val mv = m.flatMap(t => Seq(t._1, t._2)).toSet
        m.foreach { case (a, b, w) =>
          out += org.apache.spark.sql.Row(r, a, b, w) }
        es = es.filter(t => !mv(t._1) && !mv(t._2))
        r += 1
      }
      out.iterator
    }
}

/** Distributed densest-subgraph 4-approximation — Charikar's greedy peel in
  * its parallel form (Bahmani–Kumar–Vassilvitskii '12): each round drops
  * EVERY vertex whose degree is at most (1+ε)·average (ε = 1 here, so the
  * integer test is deg·n ≤ 4·e — no rationals cross the engines), and the
  * round whose snapshot maximizes e/n is the answer. With ε = 1 each round
  * keeps < n/2 vertices, so the loop is ⌈log₂ V⌉-bounded — the property
  * that makes the unrolled oracle finite and the 100 TB run O(log V)
  * passes over a monotonically shrinking edge list.
  *
  * Vertex set = the edge support (isolated vertices only dilute density);
  * a vertex that BECOMES isolated mid-peel stays in the snapshot until the
  * rule removes it (deg·n = 0 ≤ 4e always fires next round). */
object Densest {

  /** Peel `und` (columns a, b; canonical a < b, distinct), starting from
    * its degree frame `deg0` (id, d) when the caller stores one (a
    * [[PropertyGraph.undDegrees]] read gives the first round the same plan
    * whether or not that index is cached yet). Returns one row
    * per non-empty round: (r, n_vertices, n_edges, is_best) with is_best
    * marking the density-maximal snapshot (ties → earliest round).
    *
    * Loop state is the DEGREE frame (id, d) — one row per surviving
    * vertex — so each round is: its measured cut (n and Σd = 2e read in
    * the materialization job), a survivor filter, and the edge shrink.
    * The shrink is two SEMI-joins against the survivor set, not anti-joins against the
    * removed set: the ε=1 rule keeps < n/2 vertices per round, so the
    * JOINED side collapses geometrically; it is an eager cut carrying its
    * measured size, so the planner broadcasts it while it fits, making the
    * dominant first rounds map-side over the big edge list with zero edge
    * shuffle. */
  def peel(und0: DataFrame, deg0: Option[DataFrame] = None): DataFrame = {
    val spark = und0.sparkSession
    var e = und0.select("a", "b") // cut from the first shrink on
    def degOf(ed: DataFrame) = ed.select(col("a").as("id"))
      .unionAll(ed.select(col("b").as("id")))
      .groupBy("id").agg(count(lit(1)).as("d"))
    // the degree frame, measured: n and Σd (= 2e) ride its
    // materialization job
    def measured(d: DataFrame) =
      Superstep.round(d, count(lit(1)).as("n"), sum("d").as("sd"))
    var (deg, row) = measured(deg0.getOrElse(degOf(e)))
    val stats = scala.collection.mutable.ArrayBuffer.empty[(Int, Long, Long)]
    var r = 1
    while (row.getLong(0) > 0) {
      val n = row.getLong(0)
      // < n/2 survive each round (ε=1), so ⌈log₂ V⌉ ≤ 64 rounds always
      Superstep.cap("Densest.peel", r, 64, n)
      val ecnt = if (row.isNullAt(1)) 0L else row.getLong(1) / 2
      stats += ((r, n, ecnt))
      val surv = cut(deg
        .filter(col("d") * lit(n) > lit(4L) * lit(ecnt)).select("id"))
      // lazy: the next round's measured degree frame materializes the
      // e/deg pair in one job tree
      e = cut(e.join(surv, e("a") === surv("id"), "left_semi")
        .join(surv, e("b") === surv("id"), "left_semi"), eager = false)
      val next = measured(surv.join(degOf(e), Seq("id"), "left")
        .select(col("id"), coalesce(col("d"), lit(0L)).as("d")))
      deg = next._1; row = next._2
      r += 1
    }
    import spark.implicits._
    // Density compare on the few-row stats frame: one IEEE division of
    // exact integer counts — bit-identical in both engines.
    val df = stats.toSeq.toDF("r", "n_vertices", "n_edges")
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(
        (col("n_edges").cast("double") / col("n_vertices")).desc, col("r"))
    df.withColumn("is_best",
        when(row_number().over(w) === 1, 1).otherwise(0))
      .orderBy("r")
  }
}

/** Deterministic maximal independent set — the id-ordered local-minimum
  * rounds (Luby's algorithm with the vertex id as the fixed priority, so
  * the result is THE lexicographically-greedy MIS — unique, replayable,
  * and equal to the sequential smallest-id-first scan). With canonical
  * (a < b) edges the per-round winner test collapses to set algebra: a
  * vertex has an alive smaller neighbor iff it appears as some edge's `b`,
  * so winners = alive ∖ {b-side of alive edges} — one anti-join, no
  * neighborhood explosion. Winners' neighbors die; edges shrink to the
  * alive×alive rest. Hub-first ids (regions/nations carry the smallest
  * ids in the fixture encoding) collapse the graph in ~3 rounds. */
object Mis {

  /** MIS over the support of `und0` (columns a, b; canonical a < b,
    * distinct). Returns the MIS vertex ids, sorted.
    *
    * `localThreshold` > 0 enables the sequential tail (the family's
    * hybrid): the lexicographic MIS equals the greedy-by-id scan (add v
    * iff no smaller neighbor was added), which is greedy color class 1,
    * so once the remaining edge relation fits one task it takes class 1
    * of [[Coloring]]'s one-task tail. Hybrid ≡ BSP equality pinned in
    * MatchingDensestSpec and ApproxPropSpec. */
  def greedy(und0: DataFrame, localThreshold: Long = 0L): DataFrame = {
    val spark = und0.sparkSession
    var e = und0.select("a", "b") // cut from the first shrink on
    var out = graft.util.empty(spark, "id BIGINT")
    var r = 1
    var eCnt = e.count()
    // `alive` starts as support(e) — built LAZILY (null encodes exactly
    // "alive ≡ support(e)"): when the sequential tail fires immediately
    // (edge count under localThreshold, the common case at moderate SF),
    // the post-loop "isolated alive vertices" anti-join is empty BY
    // CONSTRUCTION and the support distinct+cut (a full shuffle of the
    // doubled edge list) never needs to run at all.
    var alive: DataFrame = null
    var aliveCnt = 0L
    if (eCnt > localThreshold) {
      val (a0, n) = Superstep.counted(e.select(col("a").as("id"))
        .unionAll(e.select(col("b").as("id"))).distinct())
      alive = a0; aliveCnt = n
    }
    while (r <= 64 && aliveCnt > 0 && eCnt > localThreshold) {
      // winners and alive are eager cuts: the planner sees their measured
      // sizes and broadcasts them only while they fit (an adversarial
      // round can have O(V) winners, where the shuffle join is right).
      val losers = e.select(col("b").as("id")).distinct()
      val winners = cut(alive.join(losers, Seq("id"), "left_anti"))
      val dead = e.join(winners, e("a") === winners("id"), "left_semi")
        .select(col("b").as("id")).distinct()
      out = out.unionByName(winners)
      val (a2, nAlive) = Superstep.counted(alive.join(winners, Seq("id"), "left_anti")
        .join(dead, Seq("id"), "left_anti"))
      alive = a2; aliveCnt = nAlive
      val (e2, nE) = Superstep.counted(e.join(alive, e("a") === alive("id"), "left_semi")
        .join(alive, e("b") === alive("id"), "left_semi"))
      e = e2; eCnt = nE
      r += 1
    }
    if (eCnt > 0 && (alive == null || aliveCnt > 0)) {
      // Sequential tail: the lex MIS is exactly greedy color class 1 (a
      // vertex takes color 1 iff no smaller neighbor has it), so the
      // coloring tail's class 1 over the remaining edges IS their MIS.
      out = out.unionByName(Coloring.tail(e, 0)
        .filter(col("color") === 1).select("id"))
      // alive vertices with no remaining edges are trivially in the MIS
      // (when the loop never ran, alive ≡ support(e) and this set is
      // empty — alive == null skips it)
      if (alive != null) {
        val supp = e.select(col("a").as("id"))
          .unionAll(e.select(col("b").as("id"))).distinct()
        out = out.unionByName(alive.join(supp, Seq("id"), "left_anti"))
      }
    } else if (alive != null && aliveCnt > 0) {
      out = out.unionByName(alive) // all isolated ⇒ all in the MIS
    }
    cut(out).orderBy("id")
  }
}

/** Distributed greedy graph coloring — ITERATED lexicographic MIS: color
  * class k is the id-priority MIS of the graph left after classes 1..k−1
  * (each layer delegates to [[Mis]]'s round loop). This equals SEQUENTIAL
  * greedy coloring in ascending id order (class 1 is exactly the lex MIS —
  * a vertex takes color 1 iff no smaller neighbor did — and inductively
  * class k is the lex MIS of the remainder), which is what makes the
  * hybrid sound: above `localThreshold` the layers run as BSP MIS rounds,
  * below it ONE task colors the remainder sequentially (ascending id,
  * smallest color unused by smaller neighbors), with the class↔layer
  * equivalence pinned in MatchingDensestSpec. Colors used ≤ Δ+1; the
  * fixture's layered id encoding (regions < nations < customers < …)
  * converges in 3 colors. */
object Coloring {

  /** Color the support of `und0` (columns a, b; canonical a < b,
    * distinct). Returns (id, color), sorted by id. */
  def greedy(und0: DataFrame, localThreshold: Long = 0L): DataFrame = {
    val spark = und0.sparkSession
    var remE = und0.select("a", "b") // cut from the first shrink on
    var cnt = remE.count()
    var out = graft.util.empty(spark, "id BIGINT, color INT")
    var c = 1
    // remV lazily, like Mis.greedy's `alive`: null encodes
    // "remV ≡ support(remE)", under which the tail's isolated-vertex set
    // is empty by construction and the support distinct+cut is skipped.
    var remV: DataFrame = null
    var nRemV = 0L
    if (cnt > localThreshold)
      remV = cut(remE.select(col("a").as("id"))
        .unionAll(remE.select(col("b").as("id"))).distinct(), eager = false)
    while (c <= 64 && cnt > 0 && cnt > localThreshold) {
      val mis = Mis.greedy(remE).select(col("id"))
      val supp = remE.select(col("a").as("id"))
        .unionAll(remE.select(col("b").as("id"))).distinct()
      val isolated = remV.join(supp, Seq("id"), "left_anti")
      val layer = cut(mis.unionAll(isolated), eager = false)
      out = out.unionByName(layer.select(col("id"), lit(c).as("color")))
      val (v2, nV) = Superstep.counted(remV.join(layer, Seq("id"), "left_anti"))
      remV = v2; nRemV = nV
      // remV shrinks by only ONE MIS layer per iteration and can stay
      // ~|V| for many layers: as an eager cut it carries its measured
      // size, and an O(V) remainder past the threshold takes the shuffle
      // semi-join.
      val (e2, nE) = Superstep.counted(remE.join(remV, remE("a") === remV("id"), "left_semi")
        .join(remV, remE("b") === remV("id"), "left_semi"))
      remE = e2; cnt = nE
      c += 1
    }
    if (cnt > 0) {
      out = out.unionByName(tail(remE, c - 1))
      // remaining vertices with no remaining edges take the first free
      // color (empty by construction when the loop never ran: remV ≡
      // support(remE) then — remV == null skips the two-distinct anti-join)
      if (remV != null) {
        val supp = remE.select(col("a").as("id"))
          .unionAll(remE.select(col("b").as("id"))).distinct()
        val iso = remV.join(supp, Seq("id"), "left_anti")
          .select(col("id"), lit(c).as("color"))
        out = out.unionByName(iso)
      }
    } else if (nRemV > 0) {
      // edges exhausted but vertices remain (all isolated): one layer
      out = out.unionByName(remV.select(col("id"), lit(c).as("color")))
    }
    cut(out).orderBy("id")
  }

  /** Sequential greedy coloring of support(`e`) (a, b; canonical a < b) in
    * ascending id order, colors numbered from `base` + 1 — as a STREAMING
    * mex pass: edges arrive sorted by (b, a), so each vertex's
    * smaller-neighbor group is contiguous and every smaller endpoint is
    * already resolved when its group arrives: a vertex first seen as `a`
    * that was never a `b` has no smaller neighbors (its smaller-edges
    * would have keyed to an earlier group) ⇒ color 1 on sight. One O(E)
    * scan, one color map, no adjacency materialization. Class `base` + 1
    * is the lexicographic MIS of support(`e`) — [[Mis]]'s tail. */
  private[graph] def tail(e: DataFrame, base: Int): DataFrame =
    Superstep.inOneTask(e.select("a", "b"), "id BIGINT, color INT",
        col("b"), col("a")) { it =>
      val color = new java.util.HashMap[Long, Integer]()
      val outRows = scala.collection.mutable.ArrayBuffer
        .empty[org.apache.spark.sql.Row]
      val used = new java.util.HashSet[Int]()
      var curB = Long.MinValue
      var open = false
      def flush(): Unit = if (open) {
        var k = 1
        while (used.contains(k)) k += 1
        color.put(curB, k)
        outRows += org.apache.spark.sql.Row(curB, base + k)
        used.clear()
      }
      it.foreach { row =>
        val a = row.getLong(0); val b = row.getLong(1)
        if (!open || b != curB) { flush(); curB = b; open = true }
        var ca = color.get(a)
        if (ca == null) {
          ca = Integer.valueOf(1)
          color.put(a, ca)
          outRows += org.apache.spark.sql.Row(a, base + 1)
        }
        used.add(ca.intValue())
      }
      flush()
      outRows.iterator
    }
}
