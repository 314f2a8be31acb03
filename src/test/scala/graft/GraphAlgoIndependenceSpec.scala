package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import scala.collection.mutable

/** Independent-algorithm certification for iterative graph keys (VERDICT r7
  * "What's missing #1"): the driver's DuckDB gate proves cross-engine VALUE
  * equality, and for most graph keys the two engines already run genuinely
  * different code (Spark PropertyGraph/GraphX iteration vs an unrolled SQL
  * chain) — but a mirrored pair can still share a design bug. Each test here
  * recomputes the key's semantics from the RAW edge list in plain Scala
  * collections (no Spark SQL, no shared text, no PropertyGraph code) and
  * requires exact equality. Runs at sf0.001 where in-memory is trivial.
  * Together with QualityOpsSpec's betweenness/khop recomputations, every
  * iterative graph family has at least one fully independent check; the
  * audit table lives in SURVEY.md §2.10a. */
class GraphAlgoIndependenceSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val sf = TestSpark.sf

  private lazy val g = graft.graph.GraphFixture(spark, sf)
  /** (src, dst, weight-or-null) rows, duplicates preserved. */
  private lazy val rawEdges: Seq[(Long, Long, Option[Double])] =
    g.edges.select("src", "dst", "weight").collect()
      .map(r => (r.getLong(0), r.getLong(1),
        if (r.isNullAt(2)) None else Some(r.getDouble(2)))).toSeq
  private lazy val vertexIds: Seq[Long] =
    g.vertices.select("id").collect().map(_.getLong(0)).toSeq

  test("graph_labelprop: 3-round deterministic LP recomputed independently") {
    // Semantics under test (PropertyGraph.labelPropagation / lpChain): und
    // is BOTH directions with multiplicity (UNION ALL); per round each
    // vertex adopts the most frequent neighbor label, ties to the SMALLEST
    // label; isolated vertices keep their own.
    val nbrs = new mutable.HashMap[Long, mutable.ArrayBuffer[Long]]
    rawEdges.foreach { case (s, d, _) =>
      nbrs.getOrElseUpdate(s, new mutable.ArrayBuffer) += d
      nbrs.getOrElseUpdate(d, new mutable.ArrayBuffer) += s
    }
    var lbl: Map[Long, Long] = vertexIds.map(v => v -> v).toMap
    for (_ <- 1 to 3) {
      lbl = vertexIds.map { v =>
        val counts = new mutable.HashMap[Long, Int].withDefaultValue(0)
        nbrs.getOrElse(v, Nil).foreach(n => counts(lbl(n)) += 1)
        val next =
          if (counts.isEmpty) lbl(v)
          else counts.toSeq.minBy { case (l, n) => (-n, l) }._1
        v -> next
      }.toMap
    }
    val got = SparkEntry.queries("graph_labelprop")(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.size == lbl.size, s"${got.size} != ${lbl.size}")
    val diff = lbl.collect { case (v, l) if got.get(v) != Some(l) =>
      s"$v: got ${got.get(v)} want $l" }
    assert(diff.isEmpty, diff.take(5).mkString("; "))
    assert(lbl.values.toSet.size > 1, "single community — vacuous")
  }

  test("graph_louvain: 4 parity-scheduled sweeps recomputed independently") {
    // Semantics under test (graph/Louvain.oneLevel / GraphSql.louvainChain):
    // undirected DISTINCT simple edges; per sweep only parity class
    // (id + sweep) % 2 = 0 evaluates score(i,C) = 2m·k_iC − k_i·(tot_C −
    // [C = own]·k_i) over neighbor communities ∪ own (previous sweep's
    // assignment), moves iff the best strictly beats staying, ties →
    // smallest community id; the other parity keeps its community.
    val und = rawEdges.collect { case (s, d, _) if s != d =>
      (math.min(s, d), math.max(s, d)) }.distinct
    val adj = new mutable.HashMap[Long, mutable.ArrayBuffer[Long]]
    und.foreach { case (a, b) =>
      adj.getOrElseUpdate(a, new mutable.ArrayBuffer) += b
      adj.getOrElseUpdate(b, new mutable.ArrayBuffer) += a
    }
    val deg: Map[Long, Long] = adj.view.mapValues(_.size.toLong).toMap
    val comm = LouvainSweeps.run(
      adj.toSeq.flatMap { case (i, js) => js.map(j => (i, j, 1L)) }, deg, 4)
    val got = SparkEntry.queries("graph_louvain")(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == comm, "Spark Louvain diverges from in-memory sweeps")
    // the move rule must actually help: modularity of the swept labeling
    // strictly exceeds the all-singletons start on this fixture
    def q(lbl: Map[Long, Long]): Double = {
      val m = und.size.toDouble
      val intra = und.count { case (a, b) => lbl(a) == lbl(b) }
      val sa2 = lbl.keys.groupBy(lbl).values
        .map(vs => vs.map(deg(_)).sum.toDouble).map(x => x * x).sum
      intra / m - sa2 / (4 * m * m)
    }
    assert(q(comm) > q(deg.keys.map(id => id -> id).toMap),
      "4 scheduled sweeps did not improve modularity over singletons")
  }

  test("graph_leiden_refine: union-find over intra edges recomputed " +
      "independently") {
    // Semantics under test: refined label = min vertex id of the
    // connected piece within the vertex's OWN louvain community (edges
    // crossing communities don't connect pieces); no-intra-edge vertices
    // are singletons. Recomputed with plain union-find from the raw
    // edge list + the graded louvain labeling.
    val comm = SparkEntry.queries("graph_louvain")(spark, sf)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val parent = new mutable.HashMap[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    rawEdges.foreach { case (s, d, _) =>
      if (s != d && comm.get(s) == comm.get(d) && comm.contains(s)) {
        val (rs, rd) = (find(s), find(d))
        if (rs != rd) parent(math.max(rs, rd)) = math.min(rs, rd)
      }
    }
    val want = comm.keys.map { id =>
      // union-find roots are min-id only after full path compression
      // with min-directed unions (done above: larger root points at
      // smaller) — find() yields the piece min
      (id, comm(id), find(id))
    }.toSet
    val got = SparkEntry.queries("graph_leiden_refine")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == want)
    // refinement identities: every piece sits inside one community, and
    // the piece label is a member of the piece
    val byPiece = got.groupBy(_._3)
    byPiece.foreach { case (p, rows) =>
      assert(rows.map(_._2).size >= 1 && rows.map(_._2).toSeq.distinct.size == 1,
        s"piece $p spans communities")
      assert(rows.exists(_._1 == p), s"piece label $p not a member")
      assert(rows.map(_._1).min == p, s"piece label $p is not the min id")
    }
  }

  test("graph_node2vec_walk: biased walks recomputed independently (JDK md5)") {
    // Semantics under test (PropertyGraph.biasedWalks / GraphSql.n2vChain):
    // per step i from v (previous t), candidate x is keyed by
    // h(walk#i#x) DIV w where h = first 15 md5 hex chars as a 60-bit int
    // and w = 500000 if x = t, 1000000 if x ~ t, 2000000 otherwise
    // (step 1: all 1000000); min (key, x) wins. Recomputed here with
    // java.security.MessageDigest — no Spark, no shared SQL text.
    val und = rawEdges.collect { case (s, d, _) if s != d =>
      (math.min(s, d), math.max(s, d)) }.distinct
    val adj = new mutable.HashMap[Long, mutable.ArrayBuffer[Long]]
    und.foreach { case (a, b) =>
      adj.getOrElseUpdate(a, new mutable.ArrayBuffer) += b
      adj.getOrElseUpdate(b, new mutable.ArrayBuffer) += a
    }
    val adjSet: Map[Long, Set[Long]] =
      adj.view.mapValues(_.toSet).toMap.withDefaultValue(Set.empty)
    def h60(s: String): Long = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8"))
      java.lang.Long.parseLong(
        d.map(b => f"$b%02x").mkString.substring(0, 15), 16)
    }
    val seeds = g.vertices
      .filter(col("label") === "customer" && col("id") % 100 === 0)
      .select("id").collect().map(_.getLong(0)).sorted
    val want = seeds.map { s =>
      var walk = Vector(s)
      for (i <- 1 to 4) {
        val v = walk.last
        val t = if (i >= 2) Some(walk(i - 2)) else None
        val next = adjSet(v).toSeq.map { x =>
          val w = t match {
            case None => 1000000L
            case Some(tv) if x == tv => 500000L
            case Some(tv) if adjSet(tv)(x) => 1000000L
            case _ => 2000000L
          }
          (h60(s"$s#$i#$x") / w, x)
        }.min._2
        walk :+= next
      }
      s -> walk
    }.toMap
    val got = SparkEntry.queries("graph_node2vec_walk")(spark, sf).collect()
      .map(r => r.getLong(0) -> (0 to 4).map(j => r.getLong(j + 1)).toVector)
      .toMap
    assert(got == want, "Spark biased walk diverges from JDK-md5 recompute")
    // the bias must bind: with these weights at least one walk differs
    // from the uniform md5-rank walk over the same seeds
    val uniform = SparkEntry.queries("graph_random_walk")(spark, sf).collect()
      .map(r => r.getLong(0) -> (0 to 4).map(j => r.getLong(j + 1)).toVector)
      .toMap
    assert(got != uniform, "p/q bias never changed any step — vacuous")
  }

  test("graph_louvain_hierarchy: weighted second level recomputed " +
      "independently, Q(level2) >= Q(level1)") {
    // Semantics under test (PropertyGraph.louvain2 / GraphSql
    // .louvain2Ctes): contract the graded refined labeling (level1 =
    // graph_leiden_refine's pieces), run 4 parity-scheduled WEIGHTED
    // sweeps — k_iC sums inter-piece edge weights, strength includes
    // 2× the piece's internal edge count, self-loops never enter k_iC.
    val ref = SparkEntry.queries("graph_leiden_refine")(spark, sf)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    val und = rawEdges.collect { case (s, d, _) if s != d =>
      (math.min(s, d), math.max(s, d)) }.distinct
    // contraction: inter-piece weights + self weights
    val interW = new mutable.HashMap[(Long, Long), Long].withDefaultValue(0L)
    val selfW = new mutable.HashMap[Long, Long].withDefaultValue(0L)
    und.foreach { case (a, b) =>
      val (ra, rb) = (ref(a), ref(b))
      if (ra == rb) selfW(ra) += 1L
      else interW((math.min(ra, rb), math.max(ra, rb))) += 1L
    }
    val adjW = new mutable.HashMap[Long, mutable.HashMap[Long, Long]]
    interW.foreach { case ((a, b), w) =>
      adjW.getOrElseUpdate(a, new mutable.HashMap) += (b -> w)
      adjW.getOrElseUpdate(b, new mutable.HashMap) += (a -> w)
    }
    val nodes = ref.values.toSet
    val deg: Map[Long, Long] = nodes.map { n =>
      n -> (adjW.get(n).map(_.values.sum).getOrElse(0L) + 2L * selfW(n))
    }.toMap
    val m2 = BigInt(deg.values.sum)
    var comm: Map[Long, Long] = nodes.map(id => id -> id).toMap
    for (t <- 1 to 4) {
      val tot = new mutable.HashMap[Long, Long].withDefaultValue(0L)
      for ((id, d) <- deg) tot(comm(id)) += d
      comm = nodes.toSeq.map { i =>
        val own = comm(i)
        if ((i + t) % 2 != 0) i -> own else {
          val kic = new mutable.HashMap[Long, Long].withDefaultValue(0L)
          adjW.get(i).foreach(_.foreach { case (j, w) => kic(comm(j)) += w })
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
    val got = SparkEntry.queries("graph_louvain_hierarchy")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    got.foreach { case (id, l1, _) => assert(l1 == ref(id)) }
    val gotL2 = got.map { case (id, _, l2) => id -> l2 }.toMap
    val wantL2 = got.map { case (id, _, _) => id -> comm(ref(id)) }.toMap
    assert(gotL2 == wantL2,
      "Spark weighted second level diverges from in-memory sweeps")
    // the aggregation step must not lose quality: modularity of the
    // level-2 labeling on the ORIGINAL graph is at least level-1's
    // (each accepted contracted move strictly improves Q; parity
    // scheduling makes this an empirical fixture assertion, not a
    // theorem — which is exactly why it is pinned here)
    val vdeg = new mutable.HashMap[Long, Long].withDefaultValue(0L)
    und.foreach { case (a, b) => vdeg(a) += 1L; vdeg(b) += 1L }
    def q(lbl: Long => Long): Double = {
      val m = und.size.toDouble
      val intra = und.count { case (a, b) => lbl(a) == lbl(b) }
      val sa2 = vdeg.keys.groupBy(lbl).values
        .map(vs => vs.map(vdeg(_)).sum.toDouble).map(x => x * x).sum
      intra / m - sa2 / (4 * m * m)
    }
    val q1 = q(id => ref(id))
    val q2 = q(id => gotL2(id))
    assert(q2 >= q1 - 1e-12,
      s"second level lost modularity: Q1=$q1 Q2=$q2")
    assert(gotL2.values.toSet.size < ref.values.toSet.size,
      "second level merged nothing — vacuous hierarchy")
  }

  test("graph_walk_skipgrams: closed-form over the walk matrix") {
    // each 5-position walk yields exactly 14 window-2 ordered pairs
    // (8 at dist 1, 6 at dist 2); the graded counts must equal an
    // in-memory explode of the walks the sibling key emits.
    val walks = SparkEntry.queries("graph_node2vec_walk")(spark, sf)
      .collect().map(r => (0 to 4).map(j => r.getLong(j + 1)).toVector)
    val want = walks.flatMap { w =>
      for {
        i <- 0 to 4; j <- 0 to 4
        if i != j && math.abs(i - j) <= 2
      } yield (w(i), w(j), math.abs(i - j))
    }.groupBy(identity).map { case (k, v) => k -> v.length.toLong }
    val got = SparkEntry.queries("graph_walk_skipgrams")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))
        -> r.getLong(3)).toMap
    assert(got == want)
    assert(got.values.sum == 14L * walks.length)
  }

  test("graph_sssp: reversed BFS to region landmarks recomputed independently") {
    // min hops FOLLOWING OUT-EDGES to the nearest region, bound 8 — i.e.
    // BFS from all region vertices over REVERSED edges.
    val rev = new mutable.HashMap[Long, mutable.ArrayBuffer[Long]]
    rawEdges.foreach { case (s, d, _) =>
      rev.getOrElseUpdate(d, new mutable.ArrayBuffer) += s
    }
    val regions = g.vertices.where(col("label") === "region")
      .select("id").collect().map(_.getLong(0))
    val dist = new mutable.HashMap[Long, Int]
    regions.foreach(r => dist(r) = 0)
    var frontier: Seq[Long] = regions.toSeq
    for (h <- 1 to 8) {
      frontier = frontier.flatMap(v => rev.getOrElse(v, Nil))
        .distinct.filterNot(dist.contains)
      frontier.foreach(v => dist(v) = h)
    }
    val got = SparkEntry.queries("graph_sssp")(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getAs[Number](1).longValue()).toMap
    assert(got == dist.map { case (k, v) => k -> v.toLong }.toMap,
      s"sizes got=${got.size} want=${dist.size}")
    assert(dist.valuesIterator.max >= 2, "BFS never left the landmarks — vacuous")
  }

  test("graph_wsssp: bounded weighted shortest paths recomputed independently") {
    // min path-weight from order #1 following out-edges, ≤6 hops, null
    // weight → 1.0. Layered Bellman-Ford DP: best sum over paths of exactly
    // h hops; every candidate is a left-to-right per-path double sum, the
    // same value set the engines minimize over, so equality is exact.
    val out = new mutable.HashMap[Long, mutable.ArrayBuffer[(Long, Double)]]
    rawEdges.foreach { case (s, d, w) =>
      out.getOrElseUpdate(s, new mutable.ArrayBuffer) += ((d, w.getOrElse(1.0)))
    }
    val src = 6000000000001L
    val best = new mutable.HashMap[Long, Double]
    best(src) = 0.0
    var layer: Map[Long, Double] = Map(src -> 0.0)
    for (_ <- 1 to 6) {
      val next = new mutable.HashMap[Long, Double]
      for ((u, du) <- layer; (v, w) <- out.getOrElse(u, Nil)) {
        val cand = du + w
        if (!next.contains(v) || cand < next(v)) next(v) = cand
      }
      layer = next.toMap
      for ((v, d) <- layer)
        if (!best.contains(v) || d < best(v)) best(v) = d
    }
    val got = SparkEntry.queries("graph_wsssp")(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(got.keySet == best.keySet,
      s"reach sets differ: missing=${(best.keySet -- got.keySet).take(3)} " +
        s"extra=${(got.keySet -- best.keySet).take(3)}")
    val diff = best.collect { case (v, d) if got(v) != d => s"$v: ${got(v)} != $d" }
    assert(diff.isEmpty, diff.take(5).mkString("; "))
    assert(best.size > 1 && best.valuesIterator.max > 1.0, "vacuous")
  }

  /** num.dsum semantics in plain Scala: each double term quantized to
    * DECIMAL(38,10) (HALF_UP — Spark's double→decimal cast), summed
    * exactly, correctly-rounded back to double. */
  private def qsum(terms: Iterable[Double]): Double =
    if (terms.isEmpty) 0.0
    else terms.map(t => new java.math.BigDecimal(t)
        .setScale(10, java.math.RoundingMode.HALF_UP))
      .reduce(_ add _).doubleValue

  test("graph_cc: union-find recomputation matches the GraphX labeling exactly") {
    val parent = new mutable.HashMap[Long, Long]
    def find(x: Long): Long = {
      var r = x
      while (parent.getOrElse(r, r) != r) r = parent(r)
      var c = x
      while (parent.getOrElse(c, c) != c) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    vertexIds.foreach(v => parent(v) = v)
    rawEdges.foreach { case (a, b, _) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    // GraphX labels every component by its minimum member id; path-compress
    // to roots, which ARE the minima because unions always point max→min.
    val want = vertexIds.map(v => v -> find(v)).toMap
    val got = SparkEntry.queries("graph_cc")(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == want,
      s"sizes got=${got.size} want=${want.size}; sample diff=${
        want.collect { case (k, v) if got.get(k) != Some(v) => (k, got.get(k), v) }.take(3)}")
    assert(want.values.toSet.size > 1)
  }

  test("graph_triangles: set-intersection recomputation matches exactly") {
    val adj = new mutable.HashMap[Long, mutable.HashSet[Long]]
    rawEdges.foreach { case (a, b, _) => if (a != b) {
      adj.getOrElseUpdate(a, new mutable.HashSet) += b
      adj.getOrElseUpdate(b, new mutable.HashSet) += a
    }}
    val nTri = new mutable.HashMap[Long, Long].withDefaultValue(0L)
    for ((a, na) <- adj; b <- na if a < b; c <- adj(b) if b < c && na.contains(c)) {
      nTri(a) += 1; nTri(b) += 1; nTri(c) += 1
    }
    val want = nTri.toMap
    val got = SparkEntry.queries("graph_triangles")(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == want, s"got=${got.size} want=${want.size}")
    assert(want.nonEmpty)
  }

  test("graph_kcore: 3-round peel recomputation matches exactly") {
    val und = rawEdges.collect { case (a, b, _) if a != b =>
      (math.min(a, b), math.max(a, b)) }.distinct
    var live: Set[Long] = und.flatMap(e => Seq(e._1, e._2)).toSet
    var deg: Map[Long, Long] = Map.empty
    for (_ <- 1 to 3) {
      val e = und.filter { case (a, b) => live(a) && live(b) }
      deg = e.flatMap(p => Seq(p._1, p._2)).groupBy(identity)
        .map { case (v, o) => v -> o.length.toLong }
      deg = deg.filter(_._2 >= 2)
      live = deg.keySet
    }
    val got = SparkEntry.queries("graph_kcore")(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == deg, s"got=${got.size} want=${deg.size}")
    assert(deg.nonEmpty)
  }

  test("graph_katz: quantized in-degree walk recomputation matches exactly") {
    var katz: Map[Long, Double] = vertexIds.map(_ -> 1.0).toMap
    for (_ <- 1 to 4) {
      val contribs = rawEdges.groupBy(_._2).map { case (dst, es) =>
        dst -> qsum(es.map { case (src, _, _) => katz(src) * 0.25 })
      }
      katz = vertexIds.map(v => v -> (1.0 + contribs.getOrElse(v, 0.0))).toMap
    }
    val got = SparkEntry.queries("graph_katz")(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(got.size == katz.size)
    val diff = katz.collect { case (v, x) if got(v) != x => s"$v: ${got(v)} != $x" }
    assert(diff.isEmpty, diff.take(5).mkString("; "))
  }

  test("graph_hits: quantized hub/authority recomputation matches exactly") {
    // Semantics under test (PropertyGraph.hits / hitsChain): 3 rounds of
    // auth ← in-edge hub sums, hub ← out-edge auth sums, each half-round
    // max-normalized to ~10^6 micro-units via floor division (scale =
    // max(raw) div 10^6, floored, ≥ 1) — all exact BIGINT arithmetic.
    val U = 1000000L
    def norm(raw: Map[Long, Long]): Map[Long, Long] = {
      val scale = math.max(raw.values.max / U, 1L)
      raw.map { case (v, x) => v -> x / scale }
    }
    var hub: Map[Long, Long] = vertexIds.map(_ -> U).toMap
    var auth: Map[Long, Long] = Map.empty
    for (_ <- 1 to 3) {
      val araw = rawEdges.groupBy(_._2).map { case (dst, es) =>
        dst -> es.map { case (src, _, _) => hub(src) }.sum }
      auth = norm(vertexIds.map(v => v -> araw.getOrElse(v, 0L)).toMap)
      val hraw = rawEdges.groupBy(_._1).map { case (src, es) =>
        src -> es.map { case (_, dst, _) => auth(dst) }.sum }
      hub = norm(vertexIds.map(v => v -> hraw.getOrElse(v, 0L)).toMap)
    }
    val got = SparkEntry.queries("graph_hits")(spark, sf).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(got.size == vertexIds.size)
    val diff = vertexIds.collect { case v if got(v) != ((auth(v), hub(v))) =>
      s"$v: got ${got(v)} want (${auth(v)}, ${hub(v)})" }
    assert(diff.isEmpty, diff.take(5).mkString("; "))
    // non-vacuous: both sides populated and the normalizer actually engaged
    assert(auth.values.exists(_ > 0) && hub.values.exists(_ > 0))
    assert(auth.values.max >= U / 2 && hub.values.max >= U / 2)
  }

  test("graph_ppr: quantized personalized-teleport recomputation matches exactly") {
    val seeds = g.vertices.where(col("label") === "customer")
      .select("id").collect().map(_.getLong(0)).toSet
    val n = seeds.size.toDouble
    val outdeg = new mutable.HashMap[Long, Int].withDefaultValue(0)
    rawEdges.foreach { case (s, _, _) => outdeg(s) += 1 }
    val base = vertexIds.map(v => v -> (if (seeds(v)) 0.15 / n else 0.0)).toMap
    var pr: Map[Long, Double] =
      vertexIds.map(v => v -> (if (seeds(v)) 1.0 / n else 0.0)).toMap
    for (_ <- 1 to 4) {
      val contribs = rawEdges.groupBy(_._2).map { case (dst, es) =>
        dst -> qsum(es.map { case (src, _, _) => pr(src) / outdeg(src).toDouble })
      }
      pr = vertexIds.map(v =>
        v -> (base(v) + 0.85 * contribs.getOrElse(v, 0.0))).toMap
    }
    val got = SparkEntry.queries("graph_ppr")(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(got.size == pr.size)
    val diff = pr.collect { case (v, x) if got(v) != x => s"$v: ${got(v)} != $x" }
    assert(diff.isEmpty, diff.take(5).mkString("; "))
  }

  test("graph_harmonic: bounded out-BFS recomputation matches exactly") {
    val out = new mutable.HashMap[Long, mutable.ArrayBuffer[Long]]
    rawEdges.foreach { case (s, d, _) =>
      out.getOrElseUpdate(s, new mutable.ArrayBuffer) += d }
    val roots = g.vertices.where(col("label") === "customer")
      .select("id").collect().map(_.getLong(0))
    val want = roots.flatMap { r =>
      val dist = mutable.HashMap[Long, Int](r -> 0)
      var frontier = Seq(r)
      for (d <- 1 to 3) {
        frontier = frontier.flatMap(v => out.getOrElse(v, Nil))
          .distinct.filterNot(dist.contains)
        frontier.foreach(v => dist(v) = d)
      }
      val reached = dist.toSeq.filter(_._2 > 0)
      if (reached.isEmpty) None
      else Some(r -> ((reached.map(6L / _._2).sum, reached.size.toLong)))
    }.toMap
    val got = SparkEntry.queries("graph_harmonic")(spark, sf).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(got == want, s"got=${got.size} want=${want.size}")
    assert(want.nonEmpty)
  }

  test("graph_coreness: in-memory 4-round h-index recomputation matches exactly") {
    // semantics under test (corenessCtes): distinct undirected pairs, no
    // self-loops; h₀ = degree; hᵣ(v) = h-index of neighbors' h_{r-1}
    // (max h with ≥ h neighbors scoring ≥ h); vertices with no edges = 0.
    val und = rawEdges.filter(e => e._1 != e._2)
      .map { case (s, d, _) => (math.min(s, d), math.max(s, d)) }.distinct
    val adj = new mutable.HashMap[Long, mutable.ArrayBuffer[Long]]
    und.foreach { case (a, b) =>
      adj.getOrElseUpdate(a, new mutable.ArrayBuffer) += b
      adj.getOrElseUpdate(b, new mutable.ArrayBuffer) += a }
    var h: Map[Long, Long] = adj.map { case (v, ns) => v -> ns.size.toLong }.toMap
    for (_ <- 1 to 4)
      h = adj.map { case (v, ns) =>
        val vals = ns.map(h).sortBy(-_)
        v -> vals.zipWithIndex.map { case (hv, i) => math.min(i + 1L, hv) }.max
      }.toMap
    val want = vertexIds.map(v => v -> h.getOrElse(v, 0L).toInt).toMap
    val got = SparkEntry.queries("graph_coreness")(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(got == want)
    // genuine decomposition: a spread of core values, not a saturated cap
    assert(want.values.toSet.size > 3)
  }

  test("graph_reciprocity: in-memory pair recomputation matches exactly") {
    val pairs = rawEdges.filter(e => e._1 != e._2)
      .map { case (s, d, _) => (s, d) }.distinct
    val set = pairs.toSet
    val nRecip = pairs.count { case (s, d) => set((d, s)) }
    val r = SparkEntry.queries("graph_reciprocity")(spark, sf).collect()(0)
    assert(r.getLong(0) == pairs.size.toLong)
    assert(r.getLong(1) == nRecip.toLong)
    assert(r.getDouble(2) == nRecip.toDouble / pairs.size.toDouble)
  }

  test("graph_closeness: bounded out-BFS recomputation matches exactly") {
    // same multi-source BFS as the harmonic test, different fold: the
    // integer-ppm closeness (n_reach·10⁶ div Σd) plus its audit columns.
    val out = new mutable.HashMap[Long, mutable.ArrayBuffer[Long]]
    rawEdges.foreach { case (s, d, _) =>
      out.getOrElseUpdate(s, new mutable.ArrayBuffer) += d }
    val roots = g.vertices.where(col("label") === "customer")
      .select("id").collect().map(_.getLong(0))
    val want = roots.flatMap { r =>
      val dist = mutable.HashMap[Long, Int](r -> 0)
      var frontier = Seq(r)
      for (d <- 1 to 3) {
        frontier = frontier.flatMap(v => out.getOrElse(v, Nil))
          .distinct.filterNot(dist.contains)
        frontier.foreach(v => dist(v) = d)
      }
      val reached = dist.toSeq.filter(_._2 > 0)
      if (reached.isEmpty) None
      else {
        val sumD = reached.map(_._2.toLong).sum
        Some(r -> ((reached.size.toLong * 1000000L / sumD, sumD,
          reached.size.toLong)))
      }
    }.toMap
    val got = SparkEntry.queries("graph_closeness")(spark, sf).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap
    assert(got == want, s"got=${got.size} want=${want.size}")
    assert(want.nonEmpty)
  }

  test("graph_pregel (maxFlood): per-component max recomputation matches exactly") {
    // components via the same union-find as the cc test (independently
    // recomputed here), then max(coalesce(val, 0)) per component — max is
    // order-independent, so doubles compare exactly.
    val parent = new mutable.HashMap[Long, Long]
    def find(x: Long): Long = {
      var r = x; while (parent.getOrElse(r, r) != r) r = parent(r)
      var c = x
      while (parent.getOrElse(c, c) != c) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    vertexIds.foreach(v => parent(v) = v)
    rawEdges.foreach { case (a, b, _) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val vals = g.vertices.select("id", "val").collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) 0.0 else r.getDouble(1))).toMap
    val compMax = vertexIds.groupBy(find).view
      .mapValues(_.map(vals).max).toMap
    val want = vertexIds.map(v => v -> compMax(find(v))).toMap
    val got = SparkEntry.queries("graph_pregel")(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(got == want, s"got=${got.size} want=${want.size}")
  }

  test("graph_var_hop: bounded BFS closure recomputation matches exactly") {
    val out = new mutable.HashMap[Long, mutable.ArrayBuffer[Long]]
    rawEdges.foreach { case (s, d, _) =>
      out.getOrElseUpdate(s, new mutable.ArrayBuffer) += d }
    val dist = mutable.HashMap[Long, Int](6000000000001L -> 0)
    var frontier = Seq(6000000000001L)
    for (h <- 1 to 3) {
      frontier = frontier.flatMap(v => out.getOrElse(v, Nil))
        .distinct.filterNot(dist.contains)
      frontier.foreach(v => dist(v) = h)
    }
    val got = SparkEntry.queries("graph_var_hop")(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getAs[Number](1).intValue()).toMap
    assert(got == dist.toMap, s"got=${got.size} want=${dist.size}")
    assert(dist.valuesIterator.max == 3)
  }

  test("graph_eccentricity: undirected bounded BFS recomputation; fixture ecc is 6") {
    val adj = new mutable.HashMap[Long, mutable.HashSet[Long]]
    rawEdges.foreach { case (a, b, _) => if (a != b) {
      adj.getOrElseUpdate(a, new mutable.HashSet) += b
      adj.getOrElseUpdate(b, new mutable.HashSet) += a
    }}
    val roots = g.vertices.where(col("label") === "region")
      .select("id").collect().map(_.getLong(0))
    val want = roots.map { r =>
      val dist = mutable.HashMap[Long, Int](r -> 0)
      var frontier = Seq(r)
      for (d <- 1 to 8) {
        frontier = frontier.flatMap(v => adj.getOrElse(v, Nil))
          .toSeq.distinct.filterNot(dist.contains)
        frontier.foreach(v => dist(v) = d)
      }
      r -> ((dist.valuesIterator.max.toLong, dist.size.toLong))
    }.toMap
    val got = SparkEntry.queries("graph_eccentricity")(spark, sf).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(got == want, s"got=$got want=$want")
    // the geometry the betweenness k=5 contract documents: region-root
    // eccentricity on the fixture is 6 — beyond the depth-5 unroll
    assert(want.values.forall(_._1 == 6L), s"fixture geometry moved: $want")
  }

  test("graph_hop_hist: multi-source min-hop histogram recomputation matches exactly") {
    val out = new mutable.HashMap[Long, mutable.ArrayBuffer[Long]]
    rawEdges.foreach { case (s, d, _) =>
      out.getOrElseUpdate(s, new mutable.ArrayBuffer) += d }
    val orders = g.vertices.where(col("label") === "order")
      .select("id").collect().map(_.getLong(0))
    val dist = mutable.HashMap[Long, Int](orders.map(_ -> 0): _*)
    var frontier: Seq[Long] = orders.toSeq
    for (h <- 1 to 2) {
      frontier = frontier.flatMap(v => out.getOrElse(v, Nil))
        .distinct.filterNot(dist.contains)
      frontier.foreach(v => dist(v) = h)
    }
    val want = dist.valuesIterator.toSeq.groupBy(identity).view
      .mapValues(_.size.toLong).toMap
    val got = SparkEntry.queries("graph_hop_hist")(spark, sf).collect()
      .map(r => r.getAs[Number](0).intValue() -> r.getLong(1)).toMap
    assert(got == want, s"got=$got want=$want")
    assert(want.keySet == Set(0, 1, 2))
  }

  test("graph_shortest_path: path-enumeration recomputation matches exactly") {
    // nearest region to customer #1 within 4 hops, tie-broken by
    // (hops, path-string) — replicate the walk enumeration and the
    // deterministic minimum from the raw out-adjacency.
    val out = new mutable.HashMap[Long, mutable.ArrayBuffer[Long]]
    rawEdges.foreach { case (s, d, _) =>
      out.getOrElseUpdate(s, new mutable.ArrayBuffer) += d }
    val src = 3000000000001L
    var walks = Seq(Seq(src))
    var all = Seq(Seq(src))
    for (_ <- 1 to 4) {
      walks = walks.flatMap(w => out.getOrElse(w.last, Nil).map(w :+ _))
      all ++= walks
    }
    val best = all
      .filter(w => w.last >= 1000000000000L && w.last < 2000000000000L)
      .map(w => (w.last, (w.length - 1).toLong, w.mkString("->")))
      .sortBy { case (_, h, p) => (h, p) }.headOption
    val got = SparkEntry.queries("graph_shortest_path")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).headOption
    assert(got == best, s"got=$got want=$best")
    assert(best.nonEmpty, "no region reachable — vacuous")
  }

  test("graph_clustering: coefficient recomputation from raw adjacency matches exactly") {
    val adj = new mutable.HashMap[Long, mutable.HashSet[Long]]
    rawEdges.foreach { case (a, b, _) => if (a != b) {
      adj.getOrElseUpdate(a, new mutable.HashSet) += b
      adj.getOrElseUpdate(b, new mutable.HashSet) += a
    }}
    val nTri = new mutable.HashMap[Long, Long].withDefaultValue(0L)
    for ((a, na) <- adj; b <- na if a < b; c <- adj(b) if b < c && na.contains(c)) {
      nTri(a) += 1; nTri(b) += 1; nTri(c) += 1
    }
    val want = adj.collect { case (v, ns) if ns.size >= 2 =>
      val d = ns.size.toLong
      v -> ((d, nTri(v), nTri(v).toDouble * 2 / (d * (d - 1))))
    }.toMap
    val got = SparkEntry.queries("graph_clustering")(spark, sf).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(got == want, s"got=${got.size} want=${want.size}")
    assert(want.values.exists(_._3 > 0))
  }

  test("graph_jaccard: neighbor-overlap recomputation matches exactly") {
    val byPart = rawEdges.collect {
      case (p, s, _) if p >= 5000000000000L && p < 6000000000000L &&
        s >= 4000000000000L && s < 5000000000000L => (p, s)
    }.groupBy(_._1).view.mapValues(_.map(_._2).toSeq).toMap
    val deg = byPart.values.flatten.groupBy(identity).view
      .mapValues(_.size.toLong).toMap
    val common = new mutable.HashMap[(Long, Long), Long].withDefaultValue(0L)
    for (sups <- byPart.values; x <- sups; y <- sups if x < y)
      common((x, y)) += 1
    val want = common.flatMap { case ((s1, s2), c) =>
      val j = c.toDouble / (deg(s1) + deg(s2) - c)
      if (j >= 0.2) Some((s1, s2) -> ((c, j))) else None
    }.toMap
    val got = SparkEntry.queries("graph_jaccard")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> ((r.getLong(2), r.getDouble(3)))).toMap
    assert(got == want, s"got=${got.size} want=${want.size}")
    assert(want.nonEmpty)
  }

  test("graph_motif: triangle-pattern match recomputation matches exactly") {
    // (c)-[:in_nation]->(n); (s)-[:in_nation]->(n); (c)-[:colocated]->(s)
    // with c.val > 5000 — recomputed as nested loops over the typed edge
    // lists, no joins.
    val labeled = g.edges.select("src", "dst", "label").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    val inNation = labeled.collect { case (s, d, "in_nation") => (s, d) }
    val nationOf = inNation.toMap // customer/supplier → unique nation
    val coloc = labeled.collect { case (s, d, "colocated") => (s, d) }
    val vals = g.vertices.select("id", "val").collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) Double.NaN else r.getDouble(1)))
      .toMap
    val want = coloc.collect {
      case (c, sId) if vals(c) > 5000 && nationOf.get(c).exists(n =>
        nationOf.get(sId).contains(n)) => (c, sId, nationOf(c))
    }.toSet
    val got = SparkEntry.queries("graph_motif")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == want, s"got=${got.size} want=${want.size}")
    assert(want.nonEmpty)
  }

  test("graph_modularity: integer-term recomputation matches exactly") {
    // Q from the independently recomputed lp3 labels (certified above),
    // simple-graph edge/degree integer sums, and the same two-division
    // IEEE closing formula.
    val nbrs = new mutable.HashMap[Long, mutable.ArrayBuffer[Long]]
    rawEdges.foreach { case (s, d, _) =>
      nbrs.getOrElseUpdate(s, new mutable.ArrayBuffer) += d
      nbrs.getOrElseUpdate(d, new mutable.ArrayBuffer) += s
    }
    var lbl: Map[Long, Long] = vertexIds.map(v => v -> v).toMap
    for (_ <- 1 to 3) {
      lbl = vertexIds.map { v =>
        val counts = new mutable.HashMap[Long, Int].withDefaultValue(0)
        nbrs.getOrElse(v, Nil).foreach(n => counts(lbl(n)) += 1)
        v -> (if (counts.isEmpty) lbl(v)
              else counts.toSeq.minBy { case (l, n) => (-n, l) }._1)
      }.toMap
    }
    val und = rawEdges.collect { case (a, b, _) if a != b =>
      (math.min(a, b), math.max(a, b)) }.distinct
    val m = und.size.toLong
    val intra = und.count { case (a, b) => lbl(a) == lbl(b) }.toLong
    val deg = und.flatMap(p => Seq(p._1, p._2)).groupBy(identity).view
      .mapValues(_.size.toLong).toMap
    val sa2 = deg.toSeq.groupBy { case (v, _) => lbl(v) }.values
      .map(_.map(_._2).sum).map(ac => ac * ac).sum
    val q = intra.toDouble / m - sa2.toDouble / (4 * m * m)
    val got = SparkEntry.queries("graph_modularity")(spark, sf).collect().head
    assert((got.getLong(0), got.getLong(1), got.getLong(2), got.getDouble(3)) ==
      ((m, intra, sa2, q)), s"got=$got want=($m,$intra,$sa2,$q)")
  }

  test("graph_pagerank: independent double-loop recomputation matches exactly") {
    // 5 rounds, d=0.85, uniform init 1/n; per-destination contribs summed
    // with num.dsum semantics: each double contribution quantized to
    // DECIMAL(38,10) (HALF_UP — Spark's double→decimal cast), summed
    // exactly, cast back to double (correctly rounded), then the
    // fixed-order IEEE base+damping arithmetic.
    val outdeg = new mutable.HashMap[Long, Int].withDefaultValue(0)
    rawEdges.foreach { case (s, _, _) => outdeg(s) += 1 }
    val n = vertexIds.size.toDouble
    var pr: Map[Long, Double] = vertexIds.map(v => v -> (1.0 / n)).toMap
    for (_ <- 1 to 5) {
      val acc = new mutable.HashMap[Long, java.math.BigDecimal]
      rawEdges.foreach { case (s, d, _) =>
        val contrib = new java.math.BigDecimal(pr(s) / outdeg(s).toDouble)
          .setScale(10, java.math.RoundingMode.HALF_UP)
        acc(d) = acc.get(d).map(_.add(contrib)).getOrElse(contrib)
      }
      pr = vertexIds.map { v =>
        v -> (0.15 / n + 0.85 * acc.get(v).map(_.doubleValue).getOrElse(0.0))
      }.toMap
    }
    val got = SparkEntry.queries("graph_pagerank")(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(got.size == pr.size)
    val diff = pr.collect { case (v, p) if got(v) != p => s"$v: ${got(v)} != $p" }
    assert(diff.isEmpty, s"${diff.size} mismatches: ${diff.take(5).mkString("; ")}")
  }

  test("graph_scc: iterative Tarjan recomputed independently") {
    // Semantics under test (PropertyGraph.stronglyConnectedComponents over
    // GraphFixture.sccView): directed SCC with 'colocated' edges expanded
    // to both directions, each vertex labeled by the MINIMUM id in its SCC.
    // Recomputed here with textbook Tarjan (iterative, explicit DFS stack)
    // over the raw symmetrized edge list — no GraphX, no SQL.
    val lab = g.edges.select("src", "dst", "label").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSeq
    val dEdges = lab.map { case (s, d, _) => (s, d) } ++
      lab.collect { case (s, d, "colocated") => (d, s) }
    val adj = dEdges.groupBy(_._1).map { case (k, v) => k -> v.map(_._2).toArray }
    val index = new mutable.HashMap[Long, Int]
    val low = new mutable.HashMap[Long, Int]
    val onStack = new mutable.HashSet[Long]
    val tstack = new mutable.ArrayBuffer[Long]
    var counter = 0
    val comp = new mutable.HashMap[Long, Long]
    for (root <- vertexIds if !index.contains(root)) {
      val work = new mutable.ArrayBuffer[(Long, Int)]
      def open(v: Long): Unit = {
        index(v) = counter; low(v) = counter; counter += 1
        tstack += v; onStack += v; work += ((v, 0)); ()
      }
      open(root)
      while (work.nonEmpty) {
        val (v, i) = work.last
        val ns = adj.getOrElse(v, Array.empty[Long])
        if (i < ns.length) {
          work(work.length - 1) = (v, i + 1)
          val w = ns(i)
          if (!index.contains(w)) open(w)
          else if (onStack(w)) low(v) = math.min(low(v), index(w))
        } else {
          work.remove(work.length - 1)
          if (work.nonEmpty) {
            val (p, _) = work.last
            low(p) = math.min(low(p), low(v))
          }
          if (low(v) == index(v)) {
            val members = new mutable.ArrayBuffer[Long]
            var done = false
            while (!done) {
              val w = tstack.remove(tstack.length - 1)
              onStack -= w; members += w
              if (w == v) done = true
            }
            val m = members.min
            members.foreach(w => comp(w) = m)
          }
        }
      }
    }
    val got = SparkEntry.queries("graph_scc")(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.size == comp.size, s"${got.size} != ${comp.size}")
    val diff = comp.collect { case (v, c) if got.get(v) != Some(c) =>
      s"$v: got ${got.get(v)} want $c" }
    assert(diff.isEmpty, s"${diff.size} mismatches: ${diff.take(5).mkString("; ")}")
    // non-vacuous: the symmetric expansion must yield multi-vertex SCCs
    assert(comp.groupBy(_._2).exists(_._2.size > 1),
      "all SCCs singleton — symmetrized view is degenerate")
  }

  test("graph_ktruss: 3-round edge-peel recomputation matches exactly") {
    // Semantics under test (PropertyGraph.kTruss(3, 3) / ktChain): simple
    // undirected edge set (a<b, dedup, no loops); per round each live edge
    // keeps iff its endpoints share ≥ k−2 = 1 common neighbor WITHIN the
    // live set; survivors carry the final round's qualifying support.
    var live: Set[(Long, Long)] = rawEdges.collect {
      case (s, d, _) if s != d => (math.min(s, d), math.max(s, d))
    }.toSet
    var support: Map[(Long, Long), Long] = Map.empty
    for (_ <- 1 to 3) {
      val adj = new mutable.HashMap[Long, mutable.HashSet[Long]]
      live.foreach { case (a, b) =>
        adj.getOrElseUpdate(a, new mutable.HashSet) += b
        adj.getOrElseUpdate(b, new mutable.HashSet) += a
      }
      support = live.iterator.map { case (a, b) =>
        (a, b) -> (adj(a) & adj(b)).size.toLong
      }.toMap
      live = live.filter(e => support(e) >= 1)
    }
    val got = SparkEntry.queries("graph_ktruss")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    val want = live.map(e => e -> support(e)).toMap
    assert(got.size == want.size, s"${got.size} edges != ${want.size}")
    val diff = want.collect { case (e, s) if got.get(e) != Some(s) =>
      s"$e: got ${got.get(e)} want $s" }
    assert(diff.isEmpty, diff.take(5).mkString("; "))
    assert(want.nonEmpty, "3-truss empty — vacuous")
    // the peel must actually remove something, or the rounds are inert
    val all = rawEdges.collect {
      case (s, d, _) if s != d => (math.min(s, d), math.max(s, d)) }.toSet
    assert(want.size < all.size, "no edge peeled — vacuous rounds")
  }

  test("graph_random_walk: hash-seeded walk recomputation matches exactly") {
    // Semantics under test (PropertyGraph.randomWalks / rwChain): from each
    // seed, 4 steps over the simple undirected adjacency; step i picks the
    // neighbor minimizing (md5("walkId#i#nbr"), nbr). Recomputed here with
    // java.security.MessageDigest — no Spark expressions, no SQL.
    val adj = new mutable.HashMap[Long, mutable.TreeSet[Long]]
    rawEdges.foreach { case (s, d, _) => if (s != d) {
      adj.getOrElseUpdate(s, new mutable.TreeSet) += d
      adj.getOrElseUpdate(d, new mutable.TreeSet) += s
    }}
    def md5hex(s: String): String = {
      val d = java.security.MessageDigest.getInstance("MD5")
      d.digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    }
    val seedIds = g.vertices
      .filter(col("label") === "customer" && col("id") % 100 === 0)
      .select("id").collect().map(_.getLong(0)).sorted
    val want = seedIds.map { s0 =>
      var walk = Vector(s0)
      for (i <- 1 to 4) {
        val cur = walk.last
        val next = adj(cur).minBy(v => (md5hex(s"$s0#$i#$v"), v))
        walk :+= next
      }
      s0 -> walk
    }.toMap
    val got = SparkEntry.queries("graph_random_walk")(spark, sf).collect()
      .map(r => r.getLong(0) -> (1 to 5).map(r.getLong).toVector).toMap
    assert(got.size == want.size, s"${got.size} walks != ${want.size}")
    val diff = want.collect { case (w, vs) if got.get(w) != Some(vs) =>
      s"$w: got ${got.get(w)} want $vs" }
    assert(diff.isEmpty, diff.take(3).mkString("; "))
    // non-vacuous: at least one walk must leave its start's 1-hop ball
    assert(want.values.exists(w => w.toSet.size >= 3),
      "all walks bounce on one edge — degenerate adjacency")
  }

  test("graph_bridges/graph_articulation: Hopcroft–Tarjan recomputation") {
    // Semantics under test (GraphOps.robustPairs + graph/Biconnect.scala's
    // Tarjan–Vishkin pass): the one-region robustness subgraph's cut edges
    // and cut vertices. Recomputed here with the CLASSIC sequential
    // algorithm the distributed side deliberately avoids — an iterative
    // Hopcroft–Tarjan DFS (disc/low arrays) over the subgraph rebuilt from
    // the raw labeled edge rows. Three independent computations must now
    // agree: BFS-tree interval algebra (Spark), per-removal flooding
    // (DuckDB oracle), and DFS low-link (here).
    val root = 1000000000003L // region key 3 (colocated cycles at every SF)
    val labeled = g.edges.select("src", "dst", "label").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSeq
    val nations = labeled.collect {
      case (s, d, "in_region") if d == root => s }.toSet
    val memb = labeled.collect {
      case (s, d, "in_nation") if nations(d) => s }.toSet
    val vs = memb ++ nations + root
    val keep = Set("in_region", "in_nation", "colocated")
    val pairs = labeled.collect {
      case (s, d, l) if keep(l) && vs(s) && vs(d) =>
        (math.min(s, d), math.max(s, d)) }.toSet
    val adj = new mutable.HashMap[Long, mutable.ArrayBuffer[Long]]
    pairs.foreach { case (a, b) =>
      adj.getOrElseUpdate(a, new mutable.ArrayBuffer) += b
      adj.getOrElseUpdate(b, new mutable.ArrayBuffer) += a
    }
    val disc = new mutable.HashMap[Long, Int]
    val low = new mutable.HashMap[Long, Int]
    var timer = 0
    val artic = new mutable.HashSet[Long]
    val bridges = new mutable.HashSet[(Long, Long)]
    var rootChildren = 0
    disc(root) = timer; low(root) = timer; timer += 1
    val stack = new mutable.Stack[(Long, Long, Iterator[Long])]
    stack.push((root, -1L, adj(root).iterator))
    while (stack.nonEmpty) {
      val (v, p, it) = stack.top
      if (it.hasNext) {
        val w = it.next()
        if (w != p) {
          if (disc.contains(w)) low(v) = math.min(low(v), disc(w))
          else {
            disc(w) = timer; low(w) = timer; timer += 1
            if (v == root) rootChildren += 1
            stack.push((w, v, adj(w).iterator))
          }
        }
      } else {
        stack.pop()
        if (p != -1L) {
          low(p) = math.min(low(p), low(v))
          if (low(v) > disc(p))
            bridges += ((math.min(v, p), math.max(v, p)))
          if (p != root && low(v) >= disc(p)) artic += p
        }
      }
    }
    if (rootChildren >= 2) artic += root
    assert(disc.size == vs.size,
      s"subgraph not connected: DFS saw ${disc.size} of ${vs.size}")

    val gotBridges = SparkEntry.queries("graph_bridges")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val gotArtic = SparkEntry.queries("graph_articulation")(spark, sf)
      .collect().map(_.getLong(0)).toSet
    assert(gotBridges == bridges,
      s"bridges differ: extra=${gotBridges -- bridges} missing=${bridges -- gotBridges}")
    assert(gotArtic == artic,
      s"articulation differs: extra=${gotArtic -- artic} missing=${artic -- gotArtic}")
    // non-vacuous: both cut kinds present, and both NON-cut kinds too
    // (some edge on a cycle; some degree-≥2 vertex that isn't a cut)
    assert(bridges.nonEmpty && artic.nonEmpty, "degenerate: no cuts found")
    assert((pairs -- bridges).nonEmpty, "every edge is a bridge — no cycles")
    val deg2NonArt = vs.filter(v => adj(v).size >= 2 && !artic(v))
    assert(deg2NonArt.nonEmpty, "every internal vertex is an articulation")
  }

  test("forest biconnectivity over the FULL fixture graph ≡ per-component Hopcroft–Tarjan") {
    // Semantics under test (Biconnect.forest, the r11 composition): bridges
    // and articulation points of the WHOLE fixture graph — every label,
    // every component (region hierarchies, user/event islands, whatever the
    // SF provides) — batched through one forest pass whose roots come from
    // a CC labeling. Recomputed here with iterative Hopcroft–Tarjan run
    // per component, the classic sequential algorithm the distributed side
    // avoids. (The driver-graded twin keys run the all-regions subgraph,
    // where the per-removal flood oracle stays tractable; this test covers
    // the full graph, where it wouldn't.)
    val pairs = rawEdges.collect { case (s, d, _) if s != d =>
      (math.min(s, d), math.max(s, d)) }.toSet
    val adj = new mutable.HashMap[Long, mutable.ArrayBuffer[Long]]
    pairs.foreach { case (a, b) =>
      adj.getOrElseUpdate(a, new mutable.ArrayBuffer) += b
      adj.getOrElseUpdate(b, new mutable.ArrayBuffer) += a
    }
    // Component roots = min member id: scanning ids ascending, the first
    // unvisited vertex of each component is its minimum.
    val disc = new mutable.HashMap[Long, Int]
    val low = new mutable.HashMap[Long, Int]
    val artic = new mutable.HashSet[Long]
    val bridges = new mutable.HashSet[(Long, Long)]
    val roots = new mutable.ArrayBuffer[Long]
    var timer = 0
    for (root <- adj.keys.toSeq.sorted if !disc.contains(root)) {
      roots += root
      var rootChildren = 0
      disc(root) = timer; low(root) = timer; timer += 1
      val stack = new mutable.Stack[(Long, Long, Iterator[Long])]
      stack.push((root, -1L, adj(root).iterator))
      while (stack.nonEmpty) {
        val (v, p, it) = stack.top
        if (it.hasNext) {
          val w = it.next()
          if (w != p) {
            if (disc.contains(w)) low(v) = math.min(low(v), disc(w))
            else {
              disc(w) = timer; low(w) = timer; timer += 1
              if (v == root) rootChildren += 1
              stack.push((w, v, adj(w).iterator))
            }
          }
        } else {
          stack.pop()
          if (p != -1L) {
            low(p) = math.min(low(p), low(v))
            if (low(v) > disc(p))
              bridges += ((math.min(v, p), math.max(v, p)))
            if (p != root && low(v) >= disc(p)) artic += p
          }
        }
      }
      if (rootChildren >= 2) artic += root
    }
    assert(roots.size >= 2, "fixture graph unexpectedly connected — " +
      "forest test would be vacuous")

    import spark.implicits._
    val pairsDf = pairs.toSeq.toDF("a", "b")
    val rootsDf = roots.toSeq.toDF("id")
    val (gotBridgesDf, gotArticDf) =
      graft.graph.Biconnect.forest(pairsDf, rootsDf, maxDepth = 24)
    val gotBridges = gotBridgesDf.collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val gotArtic = gotArticDf.collect().map(_.getLong(0)).toSet
    assert(gotBridges == bridges,
      s"bridges differ: extra=${gotBridges -- bridges} missing=${bridges -- gotBridges}")
    assert(gotArtic == artic,
      s"articulation differs: extra=${gotArtic -- artic} missing=${artic -- gotArtic}")
    assert(bridges.nonEmpty && artic.nonEmpty, "degenerate: no cuts found")
    assert((pairs -- bridges).nonEmpty, "every edge is a bridge — no cycles")

    // The preconditions fail LOUDLY, not silently: a missing root leaves
    // its component unreached; a doubled root splits one component's tree.
    intercept[IllegalArgumentException] {
      graft.graph.Biconnect.forest(pairsDf,
        rootsDf.limit(1), maxDepth = 24)
    }
    intercept[IllegalArgumentException] {
      val second = adj(roots.head).min // a non-root vertex of component 1
      graft.graph.Biconnect.forest(pairsDf,
        rootsDf.unionAll(Seq(second).toDF("id")), maxDepth = 24)
    }
  }

  test("graph_mst: in-memory Kruskal matches distributed Borůvka exactly") {
    // Kruskal (sorted scan + union-find) is a genuinely different algorithm
    // from the shipped Borůvka rounds; under the (w, a, b) total edge order
    // both must produce the IDENTICAL unique forest.
    def kruskal(edges: Seq[(Long, Long, Double)]): Seq[(Long, Long, Double)] = {
      val parent = new mutable.HashMap[Long, Long]
      def find(x: Long): Long = {
        var r = x
        while (parent.getOrElse(r, r) != r) r = parent(r)
        var c = x
        while (parent.getOrElse(c, c) != c) { val n = parent(c); parent(c) = r; c = n }
        r
      }
      edges.sortBy { case (a, b, w) => (w, a, b) }.flatMap { case (a, b, w) =>
        val (ra, rb) = (find(a), find(b))
        if (ra == rb) None
        else { parent(math.max(ra, rb)) = math.min(ra, rb); Some((a, b, w)) }
      }
    }
    def check(pairs: org.apache.spark.sql.DataFrame): Unit = {
      val input = pairs.collect().map(r =>
        (r.getAs[Number](0).longValue, r.getAs[Number](1).longValue,
          r.getAs[Number](2).doubleValue)).toSeq
      val want = kruskal(input).sorted
      val got = graft.graph.Boruvka.msf(pairs
        .toDF("a", "b", "w")).collect().map(r =>
        (r.getAs[Number](0).longValue, r.getAs[Number](1).longValue,
          r.getAs[Number](2).doubleValue)).toSeq.sorted
      assert(got == want, s"|got|=${got.size} |want|=${want.size}; " +
        s"diff=${(want.toSet -- got.toSet).take(3)}")
      // structural invariant: |MSF| = V − #components
      val verts = input.flatMap(e => Seq(e._1, e._2)).distinct
      val parent2 = new mutable.HashMap[Long, Long]
      def find2(x: Long): Long = {
        var r = x
        while (parent2.getOrElse(r, r) != r) r = parent2(r)
        r
      }
      input.foreach { case (a, b, _) =>
        val (ra, rb) = (find2(a), find2(b))
        if (ra != rb) parent2(math.max(ra, rb)) = math.min(ra, rb)
      }
      val nComp = verts.map(find2).distinct.size
      assert(got.size == verts.size - nComp)
    }
    // instance 1: the graded 25-vertex nation trade graph, rebuilt here
    // with the DataFrame API (the op aggregates the same relation in SQL)
    val l = graft.Tables(spark, sf, "lineitem")
    val o = graft.Tables(spark, sf, "orders")
    val c = graft.Tables(spark, sf, "customer")
    val su = graft.Tables(spark, sf, "supplier")
    check(l.join(o, l("l_orderkey") === o("o_orderkey"))
      .join(c, o("o_custkey") === c("c_custkey"))
      .join(su, l("l_suppkey") === su("s_suppkey"))
      .filter(col("s_nationkey") =!= col("c_nationkey"))
      .groupBy(least(col("s_nationkey"), col("c_nationkey")).as("a"),
        greatest(col("s_nationkey"), col("c_nationkey")).as("b"))
      .agg(sum((col("l_extendedprice") * (lit(1) - col("l_discount")))
        .cast("decimal(38,10)")).cast("double").as("w")))
    // instance 2: the 5k+ edge contains graph — multiple Borůvka rounds,
    // genuinely large components (bipartite order–part chains)
    val contains = g.edges.filter(col("label") === "contains")
      .select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"), col("weight").as("w"))
    check(contains)
    // the small-input executor-local Kruskal fallback returns the
    // IDENTICAL forest (unique under the total order) on both instances
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toString).toSeq
    assert(rows(graft.graph.Boruvka.msf(contains, localThreshold = 100000))
      == rows(graft.graph.Boruvka.msf(contains)))
    // threshold below the input size keeps the distributed path
    assert(rows(graft.graph.Boruvka.msf(contains, localThreshold = 10))
      == rows(graft.graph.Boruvka.msf(contains)))

    // edge cases, both execution paths
    import spark.implicits._
    def msfBoth(es: Seq[(Long, Long, Double)]) = {
      val df = es.toDF("a", "b", "w")
      val d = rows(graft.graph.Boruvka.msf(df))
      assert(d == rows(graft.graph.Boruvka.msf(df, localThreshold = 1000)))
      d
    }
    // empty graph → empty forest
    assert(msfBoth(Seq.empty).isEmpty)
    // single edge → that edge
    assert(msfBoth(Seq((1L, 2L, 5.0))).size == 1)
    // parallel edges: only the lighter one can be picked
    assert(msfBoth(Seq((1L, 2L, 5.0), (1L, 2L, 3.0)))
      == Seq("[1,2,3.0]"))
    // equal weights everywhere: the (w, a, b) tiebreak still yields ONE
    // deterministic spanning tree of the 4-cycle (3 edges, smallest pairs)
    assert(msfBoth(Seq((1L, 2L, 1.0), (2L, 3L, 1.0), (3L, 4L, 1.0),
      (1L, 4L, 1.0))) == Seq("[1,2,1.0]", "[1,4,1.0]", "[2,3,1.0]"))
    // negative weights are legal for MSF (no cycles to relax)
    assert(msfBoth(Seq((1L, 2L, -5.0), (2L, 3L, 4.0), (1L, 3L, -1.0)))
      == Seq("[1,2,-5.0]", "[1,3,-1.0]"))
    // two components → a forest, one tree each
    assert(msfBoth(Seq((1L, 2L, 1.0), (2L, 3L, 2.0), (1L, 3L, 3.0),
      (10L, 11L, 1.0))).size == 3)
  }
}
