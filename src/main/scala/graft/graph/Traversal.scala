package graft.graph

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.plans.logical.statsEstimation.EstimationUtils
import org.apache.spark.sql.functions._

/** Gremlin-style traversal-chain front end — the query language the
  * Blueprints family is actually driven with (`g.V().has(...).out(...).
  * path()`), re-expressed Spark-first: a traversal is a DataFrame whose
  * columns `v0..vK` hold the walk prefix, and every step is one declarative
  * transform — `out`/`in`/`both` are equi-joins against the edge list,
  * `has` is a vertex-attribute join + filter — so Catalyst plans the chain
  * (broadcast/SMJ/AQE, pushdown into the scans) instead of the reference
  * family's element-at-a-time iteration. No driver-side state anywhere:
  * a chain over a 100 TB graph is just a join tree.
  *
  * BULKING (TinkerPop's bulk-traversal optimization): alongside the walk
  * matrix, the chain maintains a vertex-sized `(h, cnt)` frame — walk
  * COUNT per current head — through every multiplicity-preserving step
  * (`out`/`in`/`both` fold counts level by level: cnt'(v) = Σ_{u→v}
  * cnt(u); `has` filters it). Aggregating terminals (`count()`,
  * `groupCount().by()`, `ids()`) read the bulk frame, so a histogram over
  * a 10M-walk chain shuffles vertex-sized count vectors, never the walks.
  * Prefix-dependent steps (`simplePath()`, `dedup()`) drop the bulk frame
  * — their semantics need the walk rows — and the terminals fall back to
  * the walk matrix.
  *
  * BRANCHING (r8): `union`/`choose`/`coalesce` merge parallel sub-chains
  * under one UNION ALL; branches must extend the walk to the SAME depth
  * because the matrix needs uniform columns. Gremlin's heterogeneous-length
  * constructs exist only under the path-erasing fold by design: every
  * until/emit placement of `repeat(b)...times(n)` runs one loop
  * ([[repeatLoop]]) over per-head (h, cnt) bulk frames and hands the
  * folded frame to the aggregating terminals; the walk matrix (and step
  * labels) end at the loop.
  *
  * Two entry points on [[PropertyGraph]]:
  *  - the typed fluent API: `g.V(col("label") === "customer").out("in_nation").path()`
  *  - the string parser: `g.traverse("V(label='customer').out('in_nation').path()")`
  * Both compile to the same plan.
  */
final case class Traversal(g: PropertyGraph, df: DataFrame, depth: Int,
    bulk: Option[DataFrame] = None, labels: Map[String, Int] = Map.empty,
    edgeHead: Boolean = false,
    sideSets: Map[String, DataFrame] = Map.empty) {
  private def head = s"v$depth"
  private def next = s"v${depth + 1}"

  /** Pending-edge columns staged by outE/inE/bothE until a vertex step
    * (inV/outV/otherV) resolves them. `label`/`weight`/`vis` use the raw
    * edge-property names so has() predicates read identically on edge and
    * vertex traversers. */
  private val EdgeCols = Seq("_esrc", "_edst", "label", "weight", "vis")

  private def edgeSet(elabel: Option[String], epred: Option[Column]): DataFrame = {
    val byLabel = elabel.fold(g.edges)(l => g.edges.filter(col("label") === l))
    epred.fold(byLabel)(byLabel.filter)
  }

  /** Edge directions as (from, to) endpoint columns: out walks src→dst,
    * in walks dst→src, both is the union of the two. */
  private val Out = Seq("src" -> "dst")
  private val In = Seq("dst" -> "src")

  /** The vertex step: one equi-join of the walk head against the edge set
    * read in each of `dirs`, and the bulk frame folded over the same
    * edges (cnt'(v) = Σ_{u→v} cnt(u)). */
  private def step(elabel: Option[String], epred: Option[Column],
      dirs: Seq[(String, String)]): Traversal = {
    require(!edgeHead,
      "vertex step on an edge traverser: resolve with inV()/outV()/otherV() first")
    val es = edgeSet(elabel, epred)
    // Sack-armed chains (withSack) ride the just-traversed edge's weight
    // along as _lastw so a following sack(sum).by('weight') can fold it in;
    // an unconsumed _lastw from the previous step is dropped (TinkerPop:
    // an un-sacked step contributes nothing).
    val sacked = df.columns.contains("sack")
    val e = dirs.map { case (from, to) =>
      if (sacked) es.select(col(from).as(head), col(to).as(next),
        org.apache.spark.sql.functions.coalesce(col("weight"), lit(0.0))
          .as("_lastw"))
      else es.select(col(from).as(head), col(to).as(next))
    }.reduce(_ unionAll _)
    val b = bulk.map { bf =>
      // the bulk frame has at most one row per vertex, and the fold joins
      // the EDGE list against it by broadcast while |V| rows fit the
      // session threshold. A frame the planner already sizes within |V|
      // rows (V()'s start, a filter of repeatLoop's bounded level) joins as
      // it is; one it sizes larger (a previous step's fold, estimated
      // edge-sized) is cut lazily with the |V| bound
      val plan = bf.queryExecution.optimizedPlan
      val sized = plan.stats.sizeInBytes <= EstimationUtils.getSizePerRow(plan.output) * g.numVertices
      val eb = dirs.map { case (from, to) =>
        es.select(col(from).as("h"), col(to).as("h2")) }.reduce(_ unionAll _)
      eb.join(if (sized) bf else graft.util.cut(bf, eager = false, Some(g.numVertices)), "h")
        .groupBy("h2").agg(sum("cnt").as("cnt"))
        .withColumnRenamed("h2", "h")
    }
    Traversal(g, df.drop("_lastw").join(e, head), depth + 1, b, labels, sideSets = sideSets)
  }

  /** Follow out-edges labeled `elabel` (Gremlin out(label)). */
  def out(elabel: String): Traversal = step(Some(elabel), None, Out)

  /** Follow out-edges of ANY label (Gremlin's bare out()). */
  def out(): Traversal = step(None, None, Out)

  /** Follow out-edges labeled `elabel` that satisfy an EDGE-property
    * predicate (over `weight`, `vis`) — Gremlin's
    * outE(label).has(...).inV() collapsed into one step: the predicate
    * lands on the edge scan before the join, so a selective edge filter
    * prunes the walk fan-out at the source. */
  def out(elabel: String, epred: Column): Traversal =
    step(Some(elabel), Some(epred), Out)

  /** Follow in-edges labeled `elabel` (Gremlin in(label)). */
  def in(elabel: String): Traversal = step(Some(elabel), None, In)

  /** Follow in-edges of ANY label (Gremlin's bare in()). */
  def in(): Traversal = step(None, None, In)

  /** Edge-predicate in-step — Gremlin inE(label).has(...).outV(). */
  def in(elabel: String, epred: Column): Traversal =
    step(Some(elabel), Some(epred), In)

  /** Follow edges labeled `elabel` in either direction (Gremlin both). */
  def both(elabel: String): Traversal = step(Some(elabel), None, Out ++ In)

  /** Follow edges of ANY label in either direction (Gremlin's bare both()). */
  def both(): Traversal = step(None, None, Out ++ In)

  /** Edge-predicate both-step — bothE(label).has(...).otherV(). */
  def both(elabel: String, epred: Column): Traversal =
    step(Some(elabel), Some(epred), Out ++ In)

  // ——— edge-granular steps (Gremlin outE/inE/bothE + inV/outV/otherV):
  // the EDGE becomes the traverser, so edge-property predicates apply
  // mid-walk and the walk continues from whichever endpoint the user
  // picks. The walk matrix stays the carrier: the edge rides as pending
  // columns (never a new vertex position) until a vertex step resolves
  // it — one equi-join per outE/inE half, a codegen'd filter per has(),
  // a projection per inV/outV/otherV; no new shuffle beyond the join the
  // collapsed out(l, epred) form already pays. Bulk drops (the pending
  // predicate is edge-dependent); sack chains keep working — the
  // resolving vertex step stages the traversed edge's weight as _lastw
  // exactly like out/in/both do.

  /** The edge step: the head joins each edge read in `dirs` at its
    * `from` endpoint, and the edge rides along as pending columns. */
  private def edgeStep(elabel: Option[String],
      dirs: Seq[(String, String)]): Traversal = {
    require(!edgeHead,
      "edge step on an edge traverser: resolve with inV()/outV()/otherV() first")
    val es = edgeSet(elabel, None)
    val e = dirs.map { case (from, _) => es.select(col(from).as(head),
      col("src").as("_esrc"), col("dst").as("_edst"),
      col("label"), col("weight"), col("vis")) }.reduce(_ unionAll _)
    Traversal(g, df.drop("_lastw").join(e, head), depth, None, labels,
      edgeHead = true, sideSets = sideSets)
  }

  /** Gremlin outE(label): walk onto the out-edge itself. */
  def outE(elabel: String): Traversal = edgeStep(Some(elabel), Out)
  def outE(): Traversal = edgeStep(None, Out)

  /** Gremlin inE(label): walk onto the in-edge itself. */
  def inE(elabel: String): Traversal = edgeStep(Some(elabel), In)
  def inE(): Traversal = edgeStep(None, In)

  /** Gremlin bothE(label): the edge traverser from either endpoint —
    * union of the two direction halves (an edge with BOTH endpoints in
    * the walk set is traversed once from each, per TinkerPop). */
  def bothE(elabel: String): Traversal = edgeStep(Some(elabel), Out ++ In)
  def bothE(): Traversal = edgeStep(None, Out ++ In)

  private def resolveEdge(pick: Column): Traversal = {
    require(edgeHead, "inV()/outV()/otherV() need an edge traverser " +
      "(outE/inE/bothE first)")
    val keep = df.columns.filterNot(EdgeCols.contains)
    val sacked = df.columns.contains("sack")
    val withNext = df.withColumn(next, pick)
    val resolved =
      if (sacked) withNext.withColumn("_lastw",
        org.apache.spark.sql.functions.coalesce(col("weight"), lit(0.0)))
        .select((keep :+ next :+ "_lastw").map(col): _*)
      else withNext.select((keep :+ next).map(col): _*)
    Traversal(g, resolved, depth + 1, None, labels, sideSets = sideSets)
  }

  /** The edge's head vertex (Gremlin inV()). */
  def inV(): Traversal = resolveEdge(col("_edst"))

  /** The edge's tail vertex (Gremlin outV()). */
  def outV(): Traversal = resolveEdge(col("_esrc"))

  /** The endpoint NOT walked from (Gremlin otherV()) — the step that
    * makes bothE useful: whichever end matched the previous head, the
    * walk continues at the other one. */
  def otherV(): Traversal = resolveEdge(
    when(col(head) === col("_esrc"), col("_edst")).otherwise(col("_esrc")))

  /** Filter the traversal head by a predicate over the head element's
    * attributes — Gremlin has(). On a VERTEX head (`id`, `label`, `name`,
    * `vis`, `val`): the attributes are joined on, filtered, and dropped,
    * so the walk columns stay the only state the chain carries. On an
    * EDGE head (`label`, `weight`, `vis` after outE/inE/bothE): the
    * pending edge columns are already in the frame, so the predicate is
    * one codegen'd filter — no join at all. */
  def has(pred: Column): Traversal = {
    if (edgeHead) return copy(df = df.filter(pred))
    val keep = df.columns
    val v = g.vertices.withColumnRenamed("id", head)
    val b = bulk.map(bf => bf.join(g.vertices.withColumnRenamed("id", "h"), "h")
      .filter(pred).select("h", "cnt"))
    Traversal(g, df.join(v, head).filter(pred).select(keep.head, keep.tail: _*),
      depth, b, labels, sideSets = sideSets)
  }

  /** Keep only simple walks — no vertex visited twice (Gremlin
    * simplePath()). One conjunctive per-row filter over the walk columns,
    * fully codegen'd; no joins, no state. Drops the bulk frame: counts
    * cannot see which walks revisit a vertex. */
  def simplePath(): Traversal =
    if (depth == 0) this
    else {
      val distinctPairs = (for { i <- 0 until depth; j <- (i + 1) to depth }
        yield col(s"v$i") =!= col(s"v$j")).reduce(_ && _)
      Traversal(g, df.filter(distinctPairs), depth, None, labels, sideSets = sideSets)
    }

  /** Keep only walks that REVISIT a vertex — Gremlin cyclicPath(), the
    * exact complement of [[simplePath]]: one disjunctive per-row filter
    * over the walk columns, fully codegen'd; no joins, no state. A
    * depth-0 walk cannot be cyclic, so the start position filters to
    * empty (TinkerPop agrees: a single-element path has no repeats).
    * Drops the bulk frame for simplePath's reason. */
  def cyclicPath(): Traversal =
    if (depth == 0) Traversal(g, df.limit(0), depth, None, labels, sideSets = sideSets)
    else {
      val anyRepeat = (for { i <- 0 until depth; j <- (i + 1) to depth }
        yield col(s"v$i") === col(s"v$j")).reduce(_ || _)
      Traversal(g, df.filter(anyRepeat), depth, None, labels, sideSets = sideSets)
    }

  /** Collapse duplicate walks (Gremlin dedup() over the current path).
    * Drops the bulk frame: multiplicity is exactly what dedup removes. */
  def dedup(): Traversal = Traversal(g, df.distinct(), depth, None, labels, sideSets = sideSets)

  /** Gremlin sample(n), deterministic: keep the n walks minimizing
    * md5(v0#v1#…#vK) — a hash-seeded uniform sample both engines replay
    * exactly (same trick as PropertyGraph.randomWalks), unlike Gremlin's
    * RNG draw. Plans as TakeOrderedAndProject (per-partition heaps of n,
    * driver-merge of n·p rows — never a global sort), so it is the
    * bounded, scale-safe way to thin a walk stream mid-chain. Drops the
    * bulk frame: sampling is walk-row-dependent by definition. Duplicate
    * walks share a hash; a cut inside such a group keeps copies of the
    * identical row, so the RESULT is deterministic even though the kept
    * row identities are not distinguishable. */
  def sample(n: Int): Traversal = {
    val h = md5(concat_ws("#", (0 to depth).map(i => col(s"v$i")): _*))
    val cols = df.columns.map(col).toIndexedSeq
    val sampled = df
      .orderBy(h +: (0 to depth).map(i => col(s"v$i")): _*)
      .limit(n).select(cols: _*)
    Traversal(g, sampled, depth, None, labels, sideSets = sideSets)
  }

  /** Gremlin aggregate('x') — the eager side-effect collection step: the
    * DISTINCT current heads are remembered under `name` for later
    * `where(within('x'))` / `where(without('x'))` membership filters
    * ("collect the premium set here, test against it there" — the
    * TinkerPop idiom a per-element engine runs as a barrier + HashSet).
    * DF-rendered, the set is a vertex-id frame and each later membership
    * test is one semi/anti join — vertex-bounded state, never walk-sized,
    * and nothing materializes on the driver. Reads the bulk frame when
    * the chain kept one (the set is per-HEAD, exactly what bulk holds). */
  def aggregate(name: String): Traversal = {
    require(!edgeHead, "aggregate() wants a vertex traverser")
    val set = bulk match {
      case Some(b) => b.select(col("h").as("_sideid")).distinct()
      case None    => df.select(col(head).as("_sideid")).distinct()
    }
    copy(sideSets = sideSets + (name -> set))
  }

  /** Gremlin where(P.within('x')) — keep walks whose head is in the
    * aggregate('x') side set: one LEFT SEMI join against the collected
    * vertex-id frame (the bulk frame filters the same way — membership
    * is per-head, which per-head counts CAN see, so bulking survives). */
  def whereWithin(name: String): Traversal = sideFilter(name, "left_semi")

  /** Gremlin where(P.without('x')) — the complement: LEFT ANTI. */
  def whereWithout(name: String): Traversal = sideFilter(name, "left_anti")

  private def sideFilter(name: String, how: String): Traversal = {
    // Same guard as aggregate(): on an edge traverser the head column
    // holds the ANCHOR VERTEX, so a membership test would silently join
    // the side set against the wrong element kind (Gremlin's semantics
    // here are edge membership) — fail loudly instead; step through
    // inV/outV/otherV first.
    require(!edgeHead, "where(within/without(...)) wants a vertex traverser")
    val set = sideSets.getOrElse(name, throw new IllegalArgumentException(
      s"where(within/without('$name')): no aggregate('$name') in this chain"))
    copy(
      df = df.join(set.withColumnRenamed("_sideid", head), Seq(head), how),
      bulk = bulk.map(_.join(set.withColumnRenamed("_sideid", "h"),
        Seq("h"), how)))
  }

  /** Gremlin as('name'): label the CURRENT walk position for later
    * [[select]]/[[where]] steps. Pure bookkeeping — the walk matrix
    * already carries every position as a column, so a step label is just
    * name → column index; nothing executes. */
  def as(name: String): Traversal = copy(labels = labels + (name -> depth))

  private def labelCol(name: String): Column = col(s"v${labels.getOrElse(name,
    throw new IllegalArgumentException(s"no as('$name') step in this chain"))}")

  /** Gremlin where(P.<cmp>('name')): keep walks where the head compares to
    * the vertex at the step labeled `name` — the cross-step pattern
    * predicate (`as('a')...where(neq('a'))`). Compiles to one codegen'd
    * column-vs-column filter over the walk matrix: no join, no state.
    * Drops the bulk frame — the predicate reads the walk prefix, which
    * per-head counts cannot see. */
  def where(cmp: String, name: String): Traversal = {
    val o = labelCol(name)
    val h = col(head)
    val p = cmp match {
      case "eq"  => h === o
      case "neq" => h =!= o
      case "lt"  => h < o
      case "gt"  => h > o
      case "lte" => h <= o
      case "gte" => h >= o
      case other => throw new IllegalArgumentException(s"where: unknown P.$other")
    }
    Traversal(g, df.filter(p), depth, None, labels, sideSets = sideSets)
  }

  /** Gremlin where(P.<cmp>('name')).by('attr') — the ATTRIBUTE-comparing
    * form of [[where]]: keep walks where the head's `attr` compares to
    * the labeled step's `attr` ("colocated suppliers in the SAME
    * visibility class", "orders larger than their customer's balance").
    * Two narrow (id, attr) vertex projections joined on head and on the
    * labeled position — column-pruned scans, broadcast-able at any
    * realistic vertex width — then one codegen'd column-vs-column
    * filter. Drops the bulk frame (reads the walk prefix). */
  def whereBy(cmp: String, name: String, attr: String): Traversal = {
    val oCol = s"v${labels.getOrElse(name, throw new IllegalArgumentException(
      s"no as('$name') step in this chain"))}"
    val j = df
      .join(g.vertices.select(col("id").as(head), col(attr).as("_wbh")), head)
      .join(g.vertices.select(col("id").as(oCol), col(attr).as("_wbo")), oCol)
    val h = col("_wbh"); val o = col("_wbo")
    val p = cmp match {
      case "eq"  => h === o
      case "neq" => h =!= o
      case "lt"  => h < o
      case "gt"  => h > o
      case "lte" => h <= o
      case "gte" => h >= o
      case other => throw new IllegalArgumentException(s"where: unknown P.$other")
    }
    copy(df = j.filter(p).drop("_wbh", "_wbo"), bulk = None)
  }

  /** Gremlin local(out('l').order().by(id).limit(k)) — PER-TRAVERSER
    * bounded expansion: each walk continues along at most k out-edges,
    * chosen deterministically (lowest destination ids; TinkerPop's bare
    * local(out().limit(k)) is order-undefined — the order().by(id) house
    * reading makes it replayable). This is the hub guard a traversal
    * engine needs at scale: a degree-10⁶ vertex contributes k
    * continuations instead of 10⁶. One row_number window over the edge
    * set partitioned by source — edge-relation-sized, never walk×edge —
    * then the same equi-join as a plain step. Drops the bulk frame (the
    * cap is per-walk-position by nature). */
  def outLocal(elabel: String, k: Int): Traversal = {
    require(k >= 1, s"local limit must be >= 1, got $k")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("src")).orderBy(col("dst"))
    val sacked = df.columns.contains("sack")
    val ranked = edgeSet(Some(elabel), None).select("src", "dst", "weight")
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
    val e =
      if (sacked) ranked.select(col("src").as(head), col("dst").as(next),
        org.apache.spark.sql.functions.coalesce(col("weight"), lit(0.0))
          .as("_lastw"))
      else ranked.select(col("src").as(head), col("dst").as(next))
    Traversal(g, df.drop("_lastw").join(e, head), depth + 1, None, labels, sideSets = sideSets)
  }

  /** Gremlin g.withSack(init).V()…: arm the per-traverser accumulator.
    * The sack rides the walk matrix as ONE extra column — each subsequent
    * adjacency step exposes its edge's weight as _lastw, and
    * sack(sum).by('weight') folds it in ([[sackBy]]). Drops the bulk
    * frame (simplePath's rule): per-head counts cannot carry per-walk
    * sacks — the walk matrix is the accumulator's state. */
  def withSack(init: Double): Traversal =
    Traversal(g, df.withColumn("sack", lit(init)), depth, None, labels, sideSets = sideSets)

  /** Gremlin sack(sum).by('weight') directly after an adjacency step: fold
    * the JUST-TRAVERSED edge's weight into the sack. TinkerPop phrases the
    * edge-attribute read as outE().sack(sum).by('weight').inV(); the walk
    * matrix stores vertex positions only, so the collapsed vertex-step
    * form is the native rendering here — the step itself staged the weight
    * (NULL weights count 0, the house rule for unweighted labels). One
    * codegen'd column add: no join, no extra state. */
  def sackBy(attr: String): Traversal = {
    require(attr == "weight",
      s"edges carry one numeric property ('weight'), got: '$attr'")
    require(df.columns.contains("sack"),
      "sack(sum) needs a withSack(init) earlier in the chain")
    require(df.columns.contains("_lastw"),
      "sack(sum).by('weight') must directly follow an adjacency step")
    copy(df = df.withColumn("sack", col("sack") + col("_lastw"))
      .drop("_lastw"))
  }

  /** Terminal sack(): the accumulated values, rendered deterministically as
    * the per-head fold (head id, walk count, total of per-walk sacks). The
    * raw multiset of doubles has no stable row order; the fold is what a
    * pipeline consumes anyway, and its total is decimal-exact over the
    * per-walk sacks (each of which is a fixed-order IEEE sum both engines
    * replay identically). */
  def sackFold(): DataFrame = {
    require(df.columns.contains("sack"), "sack() needs withSack(init)")
    df.groupBy(col(head).as("id"))
      .agg(org.apache.spark.sql.functions.count(lit(1)).as("n_walks"),
        sum(col("sack").cast("decimal(38,10)")).cast("double")
          .as("total_sack"))
      .orderBy("id")
  }

  /** Gremlin select('a', 'b', ...): project the labeled walk positions,
    * one row per surviving walk (stream semantics, like values()), columns
    * named by their step labels. The walk matrix is the join tree Catalyst
    * already planned — select is a projection, not a re-traversal. */
  def select(names: String*): DataFrame = {
    require(names.nonEmpty, "select() needs at least one step label")
    df.select(names.map(n => labelCol(n).as(n)): _*)
  }

  /** Gremlin repeat(body).times(n): apply the sub-traversal n times. The
    * body is a plain function — each application extends the walk matrix
    * with the body's joins, so the whole repetition is still ONE Catalyst
    * join tree (an unrolled BSP level per application, same shape as
    * graph_var_hop's flood but path-tracking). */
  def repeat(body: Traversal => Traversal, times: Int): Traversal = {
    require(times >= 0 && times <= 16, s"times out of range: $times")
    (1 to times).foldLeft(this)((t, _) => body(t))
  }

  /** The per-head walk-count frame at the current position: the bulk frame
    * when the chain preserved it, else a groupBy over the walk matrix. */
  private def headFrame: DataFrame = bulk.getOrElse(
    df.groupBy(col(head).as("h"))
      .agg(org.apache.spark.sql.functions.count(lit(1)).as("cnt")))

  /** Run a repeat body against a bare (h, cnt) frame and return the frame
    * after the body's steps. The body must be BULK-PRESERVING
    * (out/in/both/has — the traversal-extending steps that fold counts);
    * simplePath/dedup/where need walk prefixes the loop fold has erased. */
  private def foldBody(frame: DataFrame, body: Traversal => Traversal): DataFrame =
    body(Traversal(g, frame.select(col("h").as("v0")), 0, Some(frame), Map.empty))
      .bulk.getOrElse(throw new IllegalArgumentException(
        "repeat body must be bulk-preserving (out/in/both/has)"))

  /** Gremlin repeat(body).until(pred).times(maxLoops): walks whose head
    * satisfies `pred` after a body application exit the loop; `maxLoops`
    * is the times() guard. See [[repeatLoop]]. */
  def repeatUntil(body: Traversal => Traversal, pred: Column,
      maxLoops: Int): Traversal =
    repeatLoop(body, maxLoops, Some(pred), None, preEmit = false)

  /** Gremlin repeat(body).emit().times(n): every position at depths 1..n
    * is released. See [[repeatLoop]]. */
  def repeatEmit(body: Traversal => Traversal, times: Int): Traversal =
    repeatLoop(body, times, None, Some(lit(true)), preEmit = false)

  /** Gremlin repeat(body).emit(pred).times(n): depths 1..n-1 release only
    * the walks whose head satisfies `emitPred`; depth n releases every
    * walk (the guard exits before the emit check). See [[repeatLoop]]. */
  def repeatEmit(body: Traversal => Traversal, times: Int,
      emitPred: Column): Traversal =
    repeatLoop(body, times, None, Some(emitPred), preEmit = false)

  /** Gremlin emit().repeat(body).times(n): the pre-emit placement, depths
    * 0..n. See [[repeatLoop]]. */
  def emitRepeat(body: Traversal => Traversal, times: Int): Traversal =
    repeatLoop(body, times, None, Some(lit(true)), preEmit = true)

  /** Gremlin repeat(body).until(pred).emit().times(maxLoops): every level
    * is released, and only the walks `pred` does not stop loop again.
    * See [[repeatLoop]]. */
  def repeatUntilEmit(body: Traversal => Traversal, pred: Column,
      maxLoops: Int): Traversal =
    repeatLoop(body, maxLoops, Some(pred), Some(lit(true)), preEmit = false)

  /** The path-erasing repeat loop behind every until/emit form: one BSP
    * superstep per level over per-head (h, cnt) frames — the body's edge
    * join and combine by head, graph_var_hop's flood shape with walk
    * multiplicities, never a walk matrix. Heterogeneous-length constructs
    * exist only here (the class comment's rule): released walks have
    * different depths, so the walk matrix and step labels end at the loop
    * and the aggregating terminals read the folded frame.
    *
    * RELEASE RULE, at level i of n (after the i-th body application):
    *  - release the walks where
    *    `coalesce(until, false) || coalesce(emit, false) || i == n`
    *  - feed forward the walks where `!coalesce(until, false)`
    *  - under `preEmit` (emit() placed before repeat()) the start frame
    *    is released too
    *  - everything released regroups by head.
    * NULL-predicate heads are neither stopped nor emitted (has()'s
    * three-valued logic); walks cut off by the guard continue downstream
    * (TinkerPop). `emit()` is `emit = lit(true)`. The walk route
    * ([[PropertyGraph.pathsUntil]]) applies the same rule to walk arrays.
    *
    * Placement: a level joins the vertex attributes only when an until or
    * an emit predicate other than `lit(true)` may read them, and keeps
    * only (h, cnt) and the two rule bits. A level that is both released
    * and fed forward is a LAZY cut bounded by |V| (so the body's first
    * step joins its filter as it is, with no second cut): it is
    * vertex-sized, and without lineage truncation level k's plan nests
    * every earlier level while both readers re-execute the join; lazy
    * because nothing reads a level before the terminal fires, so an eager
    * checkpoint per level only adds scheduling round-trips (measured ~15%
    * off the fold family at sf0.1). */
  private def repeatLoop(body: Traversal => Traversal, times: Int,
      until: Option[Column], emit: Option[Column],
      preEmit: Boolean): Traversal = {
    require(times >= 1 && times <= 16, s"times out of range: $times")
    def orFalse(p: Option[Column]) =
      p.fold(lit(false))(org.apache.spark.sql.functions.coalesce(_, lit(false)))
    val (stop, show) = (orFalse(until), orFalse(emit))
    val readsVertices = until.isDefined || emit.exists(_ != lit(true))
    val start = if (preEmit) graft.util.cut(headFrame, eager = false, Some(g.numVertices)) else headFrame
    var active = start
    var released = if (preEmit) List(start) else Nil
    for (i <- 1 to times) {
      val nxt = foldBody(active, body)
      // level n: the guard releases every walk and feeds none forward
      if (i == times) released ::= nxt
      else {
        val level = graft.util.cut(
          (if (readsVertices) g.vertices.withColumnRenamed("id", "h").join(nxt, "h")
          else nxt).select(col("h"), col("cnt"), stop.as("_stop"),
            (stop || show).as("_out")), eager = false, Some(g.numVertices))
        released ::= level.filter(col("_out")).select("h", "cnt")
        active = level.filter(!col("_stop")).select("h", "cnt")
      }
    }
    val folded = released.reduce(_ unionAll _)
      .groupBy("h").agg(sum("cnt").as("cnt"))
    Traversal(g, folded.select(col("h").as("v0")), 0, Some(folded), Map.empty)
  }

  /** Gremlin union(b1, b2, ...): run every branch from the current
    * position and merge the resulting walks — the non-linear step a
    * Gremlin user hits first after as/select. Each branch is a plain
    * function over this traversal; all branches must extend the walk to
    * the SAME depth (the walk matrix needs uniform columns — Gremlin's
    * heterogeneous-length union exists only under a path-erasing fold).
    * Compiles to a UNION ALL of the branch join trees, so Catalyst plans
    * each branch independently (broadcast/SMJ per branch) and the merge
    * is free. The bulk frame survives when every branch preserves it —
    * per-head counts union and re-aggregate. Step labels added INSIDE a
    * branch die with the branch (they are branch-local positions); the
    * parent's labels stay valid. */
  def union(branches: (Traversal => Traversal)*): Traversal = {
    require(branches.nonEmpty, "union() needs at least one branch")
    val rs = branches.map(b => b(this))
    val d = rs.head.depth
    require(rs.forall(_.depth == d),
      s"union branches must reach the same depth, got ${rs.map(_.depth)}")
    val walkCols = (0 to d).map(i => col(s"v$i"))
    val u = rs.map(_.df.select(walkCols: _*)).reduce(_ unionAll _)
    val b =
      if (rs.forall(_.bulk.isDefined))
        Some(rs.flatMap(_.bulk).reduce(_ unionAll _)
          .groupBy("h").agg(sum("cnt").as("cnt")))
      else None
    Traversal(g, u, d, b, labels, sideSets = sideSets)
  }

  /** Gremlin choose(pred, onTrue, onFalse): per-walk if/then/else routed
    * by a HEAD-VERTEX predicate — sugar for
    * union(has(pred).onTrue, has(!pred).onFalse). Walks whose head
    * evaluates the predicate to NULL take neither branch (SQL three-valued
    * logic; both filters reject them), matching has()'s own semantics. */
  def choose(pred: Column, onTrue: Traversal => Traversal,
      onFalse: Traversal => Traversal): Traversal =
    union(t => onTrue(t.has(pred)), t => onFalse(t.has(!pred)))

  /** Gremlin coalesce(b1, b2, ...): per-walk, the results of the FIRST
    * branch that produces anything — the optional-with-fallback step
    * (`coalesce(out('primary'), out('fallback'))`). Branch i's walks are
    * kept only for source walks no earlier branch covered: one LEFT ANTI
    * join per later branch against the covered walk-prefix set, which is
    * walk-bounded (never vertex×vertex). All branches must reach the same
    * depth. Drops the bulk frame — coverage is per-walk-prefix, which
    * per-head counts cannot express. */
  def coalesce(branches: (Traversal => Traversal)*): Traversal = {
    require(branches.nonEmpty, "coalesce() needs at least one branch")
    val parentCols = (0 to depth).map(i => s"v$i")
    val rs = branches.map(b => b(this))
    val d = rs.head.depth
    require(rs.forall(_.depth == d),
      s"coalesce branches must reach the same depth, got ${rs.map(_.depth)}")
    val walkCols = (0 to d).map(i => col(s"v$i"))
    var covered: Option[DataFrame] = None
    var acc: Option[DataFrame] = None
    for (r <- rs) {
      val rdf = r.df.select(walkCols: _*)
      val mine = covered.fold(rdf)(c => rdf.join(c, parentCols, "left_anti"))
      acc = Some(acc.fold(mine)(_ unionAll mine))
      val cov = rdf.select(parentCols.map(col): _*).distinct()
      covered = Some(covered.fold(cov)(_ unionAll cov))
    }
    Traversal(g, acc.get, d, None, labels, sideSets = sideSets)
  }

  /** Gremlin optional(branch): per walk, the branch's continuations when
    * the branch produces any, else the walk itself held at its current
    * position — coalesce(branch, identity), except the identity leg must
    * be PADDED to the branch's depth (the walk matrix needs uniform
    * columns), so an untaken walk repeats its head in the new positions.
    * A stayed traverser's head IS its original vertex, so every downstream
    * head-reading step (has/out/groupCount/values) sees exactly TinkerPop's
    * semantics; only path() shows the repetition — the fixed-width
    * rendering of Gremlin's shorter untaken path. Coverage is one LEFT
    * ANTI join on the walk prefix (walk-bounded, never vertex×vertex).
    * Parent labels survive; branch-local labels die with the branch
    * (same rule as [[union]]). Drops the bulk frame — coverage is
    * per-walk-prefix, which per-head counts cannot express. */
  def optional(branch: Traversal => Traversal): Traversal = {
    val r = branch(this)
    require(r.depth > depth, "optional() branch must extend the walk")
    val parentCols = (0 to depth).map(i => s"v$i")
    val covered = r.df.select(parentCols.map(col): _*).distinct()
    val stayed = (depth + 1 to r.depth).foldLeft(
      df.join(covered, parentCols, "left_anti"))(
      (d, i) => d.withColumn(s"v$i", col(head)))
    val walkCols = (0 to r.depth).map(i => col(s"v$i"))
    Traversal(g, r.df.select(walkCols: _*)
      .unionAll(stayed.select(walkCols: _*)), r.depth, None, labels, sideSets = sideSets)
  }

  /** Gremlin not(branch): keep the walks whose branch produces NO
    * continuation — the negative filter (optional()'s coverage test with
    * the opposite keep rule). One LEFT ANTI join on the walk prefix —
    * walk-bounded, never vertex×vertex; the walk stays at its current
    * position and depth. Branch-local labels die with the branch (the
    * union() rule); drops the bulk frame — coverage is per-walk-prefix,
    * which per-head counts cannot express. */
  def not(branch: Traversal => Traversal): Traversal = {
    val r = branch(this)
    require(r.depth > depth, "not() branch must extend the walk")
    val parentCols = (0 to depth).map(i => s"v$i")
    val covered = r.df.select(parentCols.map(col): _*).distinct()
    Traversal(g, df.join(covered, parentCols, "left_anti"), depth, None,
      labels, sideSets = sideSets)
  }

  /** Gremlin and(b1, b2, …): keep walks covered by EVERY branch — the
    * conjunctive mate of [[not]]: one LEFT SEMI join per branch on the
    * walk prefix (each walk-bounded; Catalyst chains them without
    * re-materializing the walk). Branch-local labels die with their
    * branch; drops the bulk frame (per-walk-prefix coverage). */
  def and(branches: (Traversal => Traversal)*): Traversal = {
    require(branches.nonEmpty, "and() needs at least one branch")
    val parentCols = (0 to depth).map(i => s"v$i")
    val filtered = branches.foldLeft(df) { (d, b) =>
      val r = b(this)
      require(r.depth > depth, "and() branch must extend the walk")
      d.join(r.df.select(parentCols.map(col): _*).distinct(),
        parentCols, "left_semi")
    }
    Traversal(g, filtered, depth, None, labels, sideSets = sideSets)
  }

  /** Gremlin or(b1, b2, …): keep walks covered by AT LEAST ONE branch —
    * the union of the branches' coverage sets, then ONE LEFT SEMI join
    * (unioning coverages first keeps it a single probe instead of a
    * disjunction of joins). */
  def or(branches: (Traversal => Traversal)*): Traversal = {
    require(branches.nonEmpty, "or() needs at least one branch")
    val parentCols = (0 to depth).map(i => s"v$i")
    val covered = branches.map { b =>
      val r = b(this)
      require(r.depth > depth, "or() branch must extend the walk")
      r.df.select(parentCols.map(col): _*)
    }.reduce(_ unionAll _).distinct()
    Traversal(g, df.join(covered, parentCols, "left_semi"), depth, None,
      labels, sideSets = sideSets)
  }

  /** Gremlin coin(p), deterministic: keep a walk iff its hash-seeded
    * uniform draw clears the threshold — p is given in PPM so the gate
    * is an INTEGER compare on a 60-bit md5 of the walk columns reduced
    * mod 10⁶, exactly replayable in the oracle (Gremlin's RNG coin is
    * not). Same per-row codegen'd filter shape as simplePath: no joins,
    * no state, embarrassingly parallel at any scale. Drops the bulk
    * frame (the draw is walk-row-dependent by definition — sample()'s
    * reason). */
  def coin(ppm: Int): Traversal = {
    require(ppm >= 0 && ppm <= 1000000, s"coin ppm out of range: $ppm")
    val h = expr("CAST(conv(substring(md5(concat_ws('#', " +
      (0 to depth).map(i => s"v$i").mkString(", ") +
      ")), 1, 15), 16, 10) AS BIGINT) % 1000000")
    Traversal(g, df.filter(h < lit(ppm.toLong)), depth, None, labels,
      sideSets = sideSets)
  }

  /** The walk matrix: one row per surviving walk, columns v0..vK. */
  def path(): DataFrame = df.select((0 to depth).map(i => col(s"v$i")): _*)

  /** Gremlin path().from('a').to('b'): the SUB-path between two labeled
    * steps (inclusive) — columns p0..p(j−i) = v_i..v_j. Pure column
    * projection over the walk matrix (the labels are column indexes);
    * nothing executes. */
  def pathFromTo(from: String, to: String): DataFrame = {
    def pos(n: String): Int = labels.getOrElse(n,
      throw new IllegalArgumentException(s"no as('$n') step in this chain"))
    val (i, j) = (pos(from), pos(to))
    require(i <= j, s"path().from('$from').to('$to'): '$from' is after '$to'")
    df.select((i to j).zipWithIndex.map { case (k, x) =>
      col(s"v$k").as(s"p$x") }: _*)
  }

  /** Gremlin path().by('attr'): the walk rendered through a by() modulator
    * — position i emits its vertex's `attr` (column p<i>) instead of the
    * id. One narrow vertex projection join per position (depth+1 joins on
    * (id, attr) — column-pruned scans, broadcast-able at any realistic
    * vertex-table width); Catalyst plans each independently. */
  def pathBy(attr: String): DataFrame =
    (0 to depth).foldLeft(df)((d, i) =>
      d.join(g.vertices.select(col("id").as(s"v$i"), col(attr).as(s"p$i")),
        Seq(s"v$i")))
      .select((0 to depth).map(i => col(s"p$i")): _*)

  /** Gremlin project('k1','k2',…).by('a1').by('a2')…: per surviving walk,
    * emit the HEAD vertex's attribute a_i as a column named k_i — the
    * multi-field terminal projection (stream semantics like values(): one
    * row per walk, not deduped). Modulators are the attribute form of
    * by() — the common server-side rendering; a sub-traversal by() is the
    * outer chain's own steps. ONE vertex join feeds every projected
    * column. */
  def project(names: Seq[String], attrs: Seq[String]): DataFrame = {
    require(names.nonEmpty && names.length == attrs.length,
      s"project() wants one by() per key: ${names.length} keys / ${attrs.length} by()s")
    df.join(g.vertices.withColumnRenamed("id", head), head)
      .select(names.zip(attrs).map { case (n, a) => col(a).as(n) }: _*)
  }

  /** Gremlin group().by('kattr').by('vattr'): the grouped fold — per
    * distinct head-vertex `kattr` value, the SORTED multiset of head
    * `vattr` values over surviving walks (walk multiplicities preserved;
    * sorting makes the collection deterministic where Gremlin returns an
    * unordered list). Over the bulk frame this is vertex-sized until the
    * final collect (counts expand via one `sequence` explode); group() is
    * inherently a collect fold, so the per-key collection is the user's
    * own result size — cap upstream with has()/sample() as with any
    * collect_list. */
  def group(kattr: String, vattr: String): DataFrame = {
    val rows = bulk match {
      case Some(b) =>
        b.join(g.vertices.withColumnRenamed("id", "h"), "h")
          .select(col(kattr), col(vattr),
            explode(sequence(lit(1L), col("cnt"))).as("_i"))
          .drop("_i")
      case None =>
        df.join(g.vertices.withColumnRenamed("id", head), head)
          .select(col(kattr), col(vattr))
    }
    rows.groupBy(kattr)
      .agg(sort_array(collect_list(col(vattr))).as("vals"))
      .orderBy(kattr)
  }

  /** Distinct head-vertex ids (Gremlin's terminal id() fold). */
  def ids(): DataFrame = bulk match {
    case Some(b) => b.select(col("h").as("id")).distinct()
    case None    => df.select(col(head).as("id")).distinct()
  }

  /** Head-element attribute per surviving walk (Gremlin values('attr') —
    * one row per walk, not deduped, matching Gremlin's stream semantics).
    * On an edge traverser the attribute is a pending column — no join. */
  def values(attr: String): DataFrame =
    if (edgeHead) df.select(col(attr))
    else df.join(g.vertices.withColumnRenamed("id", head), head).select(col(attr))

  /** Number of surviving walks (Gremlin's terminal count() fold) — reads
    * the vertex-sized bulk frame when the chain preserved it. */
  def count(): DataFrame = bulk match {
    case Some(b) =>
      b.agg(org.apache.spark.sql.functions.coalesce(sum("cnt"), lit(0L))
        .as("n_walks"))
    case None =>
      df.agg(org.apache.spark.sql.functions.count(lit(1)).as("n_walks"))
  }

  /** Gremlin groupCount().by('attr'): walk count per head-vertex attribute
    * value — the histogram fold a traversal engine runs server-side. Over
    * the bulk frame this is one vertex-attribute join + a sum of counts;
    * the walk-matrix fallback counts rows. */
  def groupCount(attr: String): DataFrame = bulk match {
    case Some(b) =>
      b.join(g.vertices.withColumnRenamed("id", "h"), "h")
        .groupBy(col(attr)).agg(sum("cnt").as("n_walks"))
        .orderBy(attr)
    case None =>
      df.join(g.vertices.withColumnRenamed("id", head), head)
        .groupBy(col(attr))
        .agg(org.apache.spark.sql.functions.count(lit(1)).as("n_walks"))
        .orderBy(attr)
  }

  /** Gremlin tree() terminal, DF-rendered: the walk set folded into its
    * prefix tree — one row per (depth, parent, child) tree edge with the
    * number of walks traversing it. TinkerPop's nested-map rendering is a
    * driver-side presentation concern; the weighted edge list is the
    * distributed-native form (and the only one a 100 TB walk set can
    * actually materialize — it is vertex-pair-bounded per level, while
    * the nested map is walk-set-sized on one machine). Walk-matrix only:
    * a bulk'd loop fold has erased the prefixes a tree is made of. */
  def tree(): DataFrame = {
    require(depth >= 1, "tree() needs at least one step")
    (1 to depth).map(i =>
      df.groupBy(col(s"v${i - 1}").as("parent"), col(s"v$i").as("child"))
        .agg(org.apache.spark.sql.functions.count(lit(1)).as("n_walks"))
        .select(lit(i).as("depth"), col("parent"), col("child"),
          col("n_walks")))
      .reduce(_ unionAll _)
  }

  /** Gremlin order().by('attr'[, desc]).limit(n): the n first walks by
    * head-vertex attribute (ascending by default, `desc = true` for the
    * top-N-by-value case), emitted as that attribute. The sort key is
    * extended with the full walk prefix so the SELECTED walk set is
    * deterministic when attribute values tie at the cut — and Catalyst
    * executes the whole fold as one TakeOrderedAndProject (top-n heap per
    * partition + driver merge of n-sized heads), never a global sort. */
  def orderBy(attr: String, n: Int, desc: Boolean = false): DataFrame = {
    val key = if (desc) col(attr).desc else col(attr).asc
    val tieBreak = (0 to depth).map(i => col(s"v$i").asc)
    df.join(g.vertices.withColumnRenamed("id", head), head)
      .orderBy(key +: tieBreak: _*)
      .limit(n)
      .select(col(attr))
  }

  /** Gremlin order().by('attr'[, desc]).range(lo, hi): pagination — the
    * walks at ordered positions [lo, hi), emitted as the attribute. Same
    * deterministic walk-prefix tiebreak as [[orderBy]]; plans as an
    * ordered limit-with-offset (hi-bounded heap per partition + a driver
    * merge that skips lo rows) — page N of a walk stream never pays a
    * global materialized sort. */
  def orderRange(attr: String, lo: Int, hi: Int,
      desc: Boolean = false): DataFrame = {
    require(lo >= 0 && hi > lo, s"range wants 0 <= lo < hi, got ($lo, $hi)")
    val key = if (desc) col(attr).desc else col(attr).asc
    val tieBreak = (0 to depth).map(i => col(s"v$i").asc)
    df.join(g.vertices.withColumnRenamed("id", head), head)
      .orderBy(key +: tieBreak: _*)
      .offset(lo).limit(hi - lo)
      .select(col(attr))
  }

  /** Gremlin valueMap(true) terminal — one row per surviving walk, the
    * head vertex's full property map flattened to columns (id + the four
    * fixture properties; TinkerPop's nested map is schema-free because
    * vertices are, this fixture's vertices share one schema). Sorted by
    * ALL columns: duplicate heads are duplicate rows, so no subset of
    * columns is a total order. */
  def valueMap(): DataFrame =
    graft.util.sortAll(df.select(col(head).as("id"))
      .join(g.vertices, "id")
      .select("id", "label", "name", "vis", "val"))
}

object Traversal {
  // TWO nesting levels in step args: where(neq('a'))-style predicates are
  // one (branch chains, unrolled repeat bodies); an UNTIL-loop body that
  // itself contains such a step — repeat(both().where(neq('a'))).until(…)
  // survives to the parser un-unrolled — is two. The parser's full-text
  // reconstruction check still rejects anything deeper, loudly.
  private val StepPat =
    """(\w+)\(((?:[^()]|\((?:[^()]|\([^()]*\))*\))*)\)""".r
  private val CmpPat = """(\w+)\s*(!=|>=|<=|=|>|<)\s*(.+)""".r

  /** Parse one `attr op value` predicate (value: 'quoted' or numeric)
    * against plain vertex-attribute columns. */
  private def pred(arg: String): Column = arg.trim match {
    case CmpPat(attr, op, raw) =>
      val v0 = raw.trim
      val value: Any =
        if (v0.startsWith("'") && v0.endsWith("'")) v0.substring(1, v0.length - 1)
        else if (v0.matches("-?\\d+")) v0.toLong
        else if (v0.matches("-?\\d*\\.\\d+")) v0.toDouble
        else throw new IllegalArgumentException(s"bad literal: $v0")
      op match {
        case "="  => col(attr) === value
        case "!=" => col(attr) =!= value
        case ">"  => col(attr) > value
        case "<"  => col(attr) < value
        case ">=" => col(attr) >= value
        case "<=" => col(attr) <= value
      }
    case other => throw new IllegalArgumentException(s"bad predicate: $other")
  }

  /** Matches a `<cmp>('label')` where-argument — Gremlin's P predicates
    * (eq/neq/lt/gt/lte/gte) against a step label. */
  private object WherePred {
    private val Pat = """(eq|neq|lt|gt|lte|gte)\(\s*'([^']+)'\s*\)""".r
    def unapply(arg: String): Option[(String, String)] = arg.trim match {
      case Pat(cmp, l) => Some((cmp, l))
      case _ => None
    }
  }

  /** Matches a `within('x')` / `without('x')` where-argument — Gremlin's
    * membership predicates against an aggregate('x') side set. */
  private object WithinPred {
    private val Pat = """(within|without)\(\s*'([^']+)'\s*\)""".r
    def unapply(arg: String): Option[(String, String)] = arg.trim match {
      case Pat(m, nm) => Some((m, nm))
      case _ => None
    }
  }

  /** Matches a `'label', <edge-pred>` step argument — the edge-predicate
    * form of out/in/both (Gremlin's outE(l).has(...).inV() collapsed). */
  private object EdgePred {
    def unapply(arg: String): Option[(String, Column)] = {
      val i = arg.indexOf(',')
      if (i < 0) None
      else Some((label(arg.substring(0, i)), pred(arg.substring(i + 1))))
    }
  }

  private def label(arg: String): String = {
    val a = arg.trim
    require(a.startsWith("'") && a.endsWith("'") && a.length >= 2,
      s"step wants a quoted edge label, got: $a")
    a.substring(1, a.length - 1)
  }

  // Negative lookbehind: `emit().repeat(b).times(n)` is the PRE-emit loop
  // step (handled by the parser's emit/repeat/times case), not a plain
  // unrollable repeat — textual expansion would silently drop the emits.
  // The body is a DOT-CHAIN of steps (each step's argument may nest one
  // paren level, for where(neq('a'))-style predicates), so walk-dependent
  // steps like where()/simplePath() work INSIDE a plain times()-bounded
  // loop: the unroll keeps the walk matrix (and any as() labels set before
  // the loop), which is exactly the state those steps need — the
  // path-erasing folds (repeat...until/emit) still reject them, by design.
  // The until/emit forms never match here: `.times(` must follow
  // `repeat(...)` immediately, and those grammars interpose `.until(p)` /
  // `.emit(...)`.
  private val StepRe = """\w+\((?:[^()]|\([^()]*\))*\)"""
  private val RepeatPat =
    ("""(?<!emit\(\)\.)repeat\((""" + StepRe + """(?:\.""" + StepRe +
      """)*)\)\.times\((\d+)\)""").r

  /** Split a step-argument string at TOP-LEVEL commas (commas inside
    * parentheses or quotes belong to nested steps/predicates) — the
    * argument-list scanner for the branch steps. */
  private def splitTop(arg: String): List[String] = {
    val parts = scala.collection.mutable.ListBuffer[String]()
    val cur = new StringBuilder
    var par = 0
    var quoted = false
    arg.foreach {
      case '\'' => quoted = !quoted; cur += '\''
      case '(' if !quoted => par += 1; cur += '('
      case ')' if !quoted => par -= 1; cur += ')'
      case ',' if !quoted && par == 0 => parts += cur.result(); cur.clear()
      case c => cur += c
    }
    parts += cur.result()
    parts.map(_.trim).filter(_.nonEmpty).toList
  }

  /** Compile a branch chain (`out('by').has(val>9000)`…) into the
    * traversal function the fluent branch steps take. Branch bodies are
    * the traversal-EXTENDING subset — terminals and further branching
    * belong to the outer chain. */
  private def branchFn(chain: String): Traversal => Traversal = { t0 =>
    val steps = StepPat.findAllMatchIn(chain)
      .map(m => (m.group(1), m.group(2).trim)).toList
    val matched = steps.map { case (n, a) => s"$n($a)" }.mkString(".")
    require(steps.nonEmpty &&
      matched.replaceAll("\\s", "") == chain.trim.replaceAll("\\s", ""),
      s"bad branch chain: $chain")
    steps.foldLeft(t0) {
      case (t, ("out", ""))  => t.out()
      case (t, ("in", ""))   => t.in()
      case (t, ("both", "")) => t.both()
      case (t, ("out", EdgePred(l, p)))  => t.out(l, p)
      case (t, ("in", EdgePred(l, p)))   => t.in(l, p)
      case (t, ("both", EdgePred(l, p))) => t.both(l, p)
      case (t, ("out", a))  => t.out(label(a))
      case (t, ("in", a))   => t.in(label(a))
      case (t, ("both", a)) => t.both(label(a))
      case (t, ("outE", ""))  => t.outE()
      case (t, ("inE", ""))   => t.inE()
      case (t, ("bothE", "")) => t.bothE()
      case (t, ("outE", a))  => t.outE(label(a))
      case (t, ("inE", a))   => t.inE(label(a))
      case (t, ("bothE", a)) => t.bothE(label(a))
      case (t, ("inV", ""))    => t.inV()
      case (t, ("outV", ""))   => t.outV()
      case (t, ("otherV", "")) => t.otherV()
      case (t, ("has", a))  => t.has(pred(a))
      case (t, ("simplePath", "")) => t.simplePath()
      case (t, ("dedup", ""))      => t.dedup()
      // where() against a label set OUTSIDE the branch (the parent chain's
      // as() positions stay valid inside union/choose/coalesce branches).
      // Inside a path-erasing fold body the label map is empty and
      // labelCol fails loudly — those loops erase the prefix where() reads.
      case (t, ("where", WherePred(cmp, l))) => t.where(cmp, l)
      case (_, (s, a)) =>
        throw new IllegalArgumentException(s"unsupported step in branch: $s($a)")
    }
  }

  /** `[emit()] repeat(b) [until(p)] [emit([p])] times(n)` at the head of
    * a step list → (pre-emit, body, until, emit argument, n, the rest). */
  private object RepeatSteps {
    def unapply(steps: List[(String, String)]): Option[(Boolean, String,
        Option[String], Option[String], Int, List[(String, String)])] = {
      val (pre, s1) = steps match {
        case ("emit", "") :: tl => (true, tl)
        case tl => (false, tl)
      }
      s1 match {
        case ("repeat", b) :: s2 =>
          val (until, s3) = s2 match {
            case ("until", p) :: tl => (Some(p), tl)
            case tl => (None, tl)
          }
          val (emit, s4) = s3 match {
            case ("emit", p) :: tl => (Some(p), tl)
            case tl => (None, tl)
          }
          s4 match {
            case ("times", n) :: tl if n.matches("\\d+") =>
              Some((pre, b, until, emit, n.toInt, tl))
            case _ => None
          }
        case _ => None
      }
    }
  }

  private val WalkLoopPos =
    "path-tracking loops must start the chain: V(...).repeat(...)" +
      "[.until(...)][.emit()].times(n).path()"

  /** Parse a walk-route loop body: ONE adjacency step, optionally followed
    * by where()/simplePath() steps — those read the walk PREFIX, which the
    * path array carries, so they compile to a per-level codegen'd filter
    * (pathsUntil's stepFilter hook; no join, no extra state). where()
    * labels must point at the chain start — the only position the walk
    * array holds besides loop levels. Returns (adjacency, stepFilter). */
  private def walkBody(g: PropertyGraph, t: Traversal, b: String)
      : (DataFrame, (Column, Column) => Column) = {
    val body = StepPat.findAllMatchIn(b)
      .map(m => (m.group(1), m.group(2).trim)).toList
    require(body.nonEmpty, s"empty repeat body: $b")
    val adj = stepAdj(g, s"${body.head._1}(${body.head._2})")
    val filt = body.tail.foldLeft(
      (_: Column, _: Column) => lit(true)) {
      case (f, ("simplePath", "")) => (path: Column, head: Column) =>
        f(path, head) && !array_contains(path, head)
      case (f, ("where", WherePred(cmp, l))) =>
        val idx = t.labels.getOrElse(l,
          throw new IllegalArgumentException(
            s"no as('$l') step in this chain"))
        require(idx == 0, s"where('$l') inside a path-tracking loop must " +
          "reference the chain start (the walk array's only fixed slot)")
        (path: Column, head: Column) => f(path, head) && (cmp match {
          case "eq"  => head === element_at(path, idx + 1)
          case "neq" => head =!= element_at(path, idx + 1)
          case "lt"  => head < element_at(path, idx + 1)
          case "gt"  => head > element_at(path, idx + 1)
          case "lte" => head <= element_at(path, idx + 1)
          case _     => head >= element_at(path, idx + 1)
        })
      case (_, (s0, a0)) => throw new IllegalArgumentException(
        "path-tracking loop body steps after the adjacency step must be " +
          s"where()/simplePath(), got: $s0($a0)")
    }
    (adj, filt)
  }

  /** Single-step body of a path-tracking loop → its expanded (src, dst)
    * adjacency (out/in/both, optional edge label), duplicates preserved
    * (parallel edges are distinct walks, like the fold's bulk counts). */
  private def stepAdj(g: PropertyGraph, body: String): DataFrame = {
    val StepRe = """(out|in|both)\((?:'([^']*)')?\)""".r
    body.trim match {
      case StepRe(d, l) =>
        val es = Option(l).fold(g.edges)(x =>
          g.edges.filter(col("label") === x)).select("src", "dst")
        d match {
          case "out" => es
          case "in"  => es.select(col("dst").as("src"), col("src").as("dst"))
          case _ => es.unionAll(
            es.select(col("dst").as("src"), col("src").as("dst")))
        }
      case _ => throw new IllegalArgumentException(
        s"path-tracking loop body must be a single out/in/both step: $body")
    }
  }

  /** Expand `repeat(stepChain).times(n)` into n inline copies of the body
    * BEFORE flat parsing — textual unrolling is exactly the fluent
    * [[Traversal.repeat]] semantics. Multi-step bodies unroll too, and
    * because the unroll keeps the walk matrix, where()/has()/simplePath()
    * are legal inside a times()-bounded loop body (VERDICT r11 ask #5 —
    * the walk-matrix fallback for where() inside loops). */
  private def expandRepeats(q: String): String = {
    def pass(s: String): String = RepeatPat.replaceAllIn(s, m => {
      val n = m.group(2).toInt
      require(n >= 1 && n <= 16, s"times out of range: $n")
      scala.util.matching.Regex.quoteReplacement(
        Seq.fill(n)(m.group(1)).mkString("."))
    })
    // Fixpoint, not one pass: an outer repeat body may itself contain a
    // repeat(...).times(k) (the widened multi-step body regex matches the
    // outer loop), and the unrolled copies only become expandable on the
    // NEXT scan — a single pass left them for the parser to reject with a
    // generic "unknown step: repeat(...)". Each level multiplies ≤16×, so
    // 4 levels (65k+ steps) is already absurd for a declarative chain —
    // bound it loudly rather than looping on adversarial input.
    var cur = q
    var next = pass(cur)
    var depth = 1
    while (next != cur) {
      depth += 1
      require(depth <= 4, "repeat(...).times(n) nesting deeper than 4 levels")
      cur = next
      next = pass(cur)
    }
    next
  }

  /** Compile a chain string — `V(<pred>?)` then any of
    * `out('l')/in('l')/both('l')/outE('l')/inE('l')/bothE('l')/
    * inV()/outV()/otherV()/has(<pred>)/simplePath()/dedup()/
    * as('x')/where(neq('x'))/repeat(stepChain).times(n) (unrolled on the
    * walk matrix; where() legal in the body)/
    * repeat(body).until(<pred>)/.emit([<pred>])/.until(<pred>).emit()
    * .times(n) and emit().repeat(body).times(n) (the [[repeatLoop]] forms)/
    * union(b1, b2, ...)/choose(<pred>, b1, b2)/coalesce(b1, b2, ...)/
    * optional(b)` (branch bodies are dot-chains of the
    * traversal-extending steps), optionally terminated by `path()`
    * (default), `path().by('attr')`, `ids()`, `values('attr')`,
    * `count()`, `select('a','b')`, `project('k',…).by('attr')…`,
    * `groupCount().by('attr')`, `group().by('k').by('v')`,
    * `order().by('attr'[, asc|desc]).limit(n)`,
    * `order().by('attr'[, asc|desc]).range(lo, hi)`, `valueMap()` or
    * `sack()` (with `withSack(n)` arming the accumulator and
    * `sack(sum).by('weight')` folding the just-traversed edge's weight) —
    * into the traversal's DataFrame. */
  def parse(g: PropertyGraph, query0: String): DataFrame = {
    val query = expandRepeats(query0)
    val steps = StepPat.findAllMatchIn(query)
      .map(m => (m.group(1), m.group(2).trim)).toList
    require(steps.nonEmpty && steps.head._1 == "V",
      s"traversal must start with V(...): $query")
    val matched = steps.map { case (n, a) => s"$n($a)" }.mkString(".")
    require(matched.replaceAll("\\s", "") == query.replaceAll("\\s", ""),
      s"unparsed trailing syntax in: $query")
    var t = g.V(if (steps.head._2.isEmpty) lit(true) else pred(steps.head._2))
    var result: Option[DataFrame] = None
    // List-walk with lookahead: groupCount()/order() are two- and
    // three-token folds (`.by(...)`, `.limit(n)`) in Gremlin's surface
    // syntax, so the parser consumes their modifier steps together.
    @annotation.tailrec
    def loop(rest: List[(String, String)]): Unit = rest match {
      case Nil => ()
      case ("out", "") :: tl  => t = t.out(); loop(tl)
      case ("in", "") :: tl   => t = t.in(); loop(tl)
      case ("both", "") :: tl => t = t.both(); loop(tl)
      case ("out", EdgePred(l, p)) :: tl  => t = t.out(l, p); loop(tl)
      case ("in", EdgePred(l, p)) :: tl   => t = t.in(l, p); loop(tl)
      case ("both", EdgePred(l, p)) :: tl => t = t.both(l, p); loop(tl)
      case ("out", a) :: tl  => t = t.out(label(a)); loop(tl)
      case ("in", a) :: tl   => t = t.in(label(a)); loop(tl)
      case ("both", a) :: tl => t = t.both(label(a)); loop(tl)
      case ("outE", "") :: tl  => t = t.outE(); loop(tl)
      case ("inE", "") :: tl   => t = t.inE(); loop(tl)
      case ("bothE", "") :: tl => t = t.bothE(); loop(tl)
      case ("outE", a) :: tl  => t = t.outE(label(a)); loop(tl)
      case ("inE", a) :: tl   => t = t.inE(label(a)); loop(tl)
      case ("bothE", a) :: tl => t = t.bothE(label(a)); loop(tl)
      case ("inV", "") :: tl    => t = t.inV(); loop(tl)
      case ("outV", "") :: tl   => t = t.outV(); loop(tl)
      case ("otherV", "") :: tl => t = t.otherV(); loop(tl)
      case ("has", a) :: tl  => t = t.has(pred(a)); loop(tl)
      case ("simplePath", "") :: tl => t = t.simplePath(); loop(tl)
      case ("cyclicPath", "") :: tl => t = t.cyclicPath(); loop(tl)
      case ("dedup", "") :: tl      => t = t.dedup(); loop(tl)
      case ("sample", n) :: tl if n.matches("\\d+") =>
        t = t.sample(n.toInt); loop(tl)
      case ("coin", n) :: tl if n.matches("\\d+") =>
        t = t.coin(n.toInt); loop(tl)
      case ("as", a) :: tl          => t = t.as(label(a)); loop(tl)
      // The until/emit loops, one case for every modulator placement. A
      // chain that ends in path() with until() and/or a bare emit() keeps
      // its walks: PropertyGraph.pathsUntil carries each walk as an array
      // (heterogeneous lengths), so where()/simplePath() in the body read
      // the prefix as a per-level filter. Only valid as the whole chain
      // (the array walk has no prefix to splice). Every other form is the
      // path-erasing fold; a plain repeat(b).times(n) is unrolled before
      // parsing (expandRepeats), so one that reaches here is refused.
      case RepeatSteps(pre, b, until, emit, n, tl) =>
        require(if (pre) until.isEmpty && emit.isEmpty
          else (until.isDefined || emit.isDefined) &&
            !(until.isDefined && emit.exists(_.nonEmpty)),
          "unsupported loop: " + rest.take(rest.length - tl.length)
            .map { case (s0, a0) => s"$s0($a0)" }.mkString("."))
        if (!pre && emit.forall(_.isEmpty) && tl == List(("path", ""))) {
          require(t.depth == 0, WalkLoopPos)
          val (adj, filt) = walkBody(g, t, b)
          result = Some(g.pathsUntil(t.df.select(col("v0").as("id")), adj,
            until.fold(lit(false))(pred), n, stepFilter = filt,
            emitEachLevel = emit.isDefined))
          loop(Nil)
        } else {
          t = t.repeatLoop(branchFn(b), n, until.map(pred),
            if (pre) Some(lit(true))
            else emit.map(e => if (e.isEmpty) lit(true) else pred(e)), pre)
          loop(tl)
        }
      // Gremlin match() — the declarative pattern step: each clause is
      // `as('x').out|in('l').as('y')` (one labeled edge term; in() flips
      // it) or `as('x').has(<pred>)` (a property constraint on a pattern
      // variable). Compiled onto PropertyGraph.find — the motif engine
      // with the stats-greedy join ordering — so match() inherits its
      // plan quality instead of re-deriving joins; the V(...) set binds
      // the first clause's first label (the TinkerPop start-binding
      // rule), has-constraints are id-joins against the filtered vertex
      // set (unique ids ⇒ a join IS the filter). Terminated by
      // select('a','b',…), which projects the bound variable ids.
      case ("match", a) :: tl =>
        require(t.depth == 0,
          "match() must follow the V(...) step directly")
        var terms = List.empty[(String, String, String)]
        var hasFs = List.empty[(String, String)]
        var startVar: Option[String] = None
        splitTop(a).foreach { cl =>
          val cs = StepPat.findAllMatchIn(cl)
            .map(m => (m.group(1), m.group(2).trim)).toList
          val joined = cs.map { case (n0, a0) => s"$n0($a0)" }.mkString(".")
          require(joined.replaceAll("\\s", "") == cl.replaceAll("\\s", ""),
            s"bad match clause: $cl")
          cs match {
            case ("as", x) :: ("out", l) :: ("as", y) :: Nil =>
              terms ::= ((label(x), label(l), label(y)))
              if (startVar.isEmpty) startVar = Some(label(x))
            case ("as", x) :: ("in", l) :: ("as", y) :: Nil =>
              terms ::= ((label(y), label(l), label(x)))
              if (startVar.isEmpty) startVar = Some(label(x))
            case ("as", x) :: ("has", p) :: Nil =>
              hasFs ::= ((label(x), p))
            case _ => throw new IllegalArgumentException(
              "match clause must be as('x').out|in('l').as('y') or " +
                s"as('x').has(pred): $cl")
          }
        }
        require(terms.nonEmpty, "match() needs at least one edge clause")
        val motif = terms.reverse
          .map { case (s0, l0, d0) => s"($s0)-[:$l0]->($d0)" }.mkString("; ")
        var out = g.find(motif)
          .join(t.df.select(col("v0").as(s"${startVar.get}_id")), s"${startVar.get}_id")
        hasFs.foreach { case (v, p) =>
          out = out.join(
            g.vertices.filter(pred(p)).select(col("id").as(s"${v}_id")),
            Seq(s"${v}_id"))
        }
        tl match {
          case ("select", sa) :: Nil =>
            val names = sa.split(",").map(label).toIndexedSeq
            result = Some(out.select(
              names.map(n => col(s"${n}_id").as(n)): _*))
            loop(Nil)
          case other => throw new IllegalArgumentException(
            "match() must be terminated by select('a','b',...), got: " +
              other.map { case (n0, a0) => s"$n0($a0)" }.mkString("."))
        }
      case ("union", a) :: tl =>
        t = t.union(splitTop(a).map(branchFn): _*); loop(tl)
      case ("choose", a) :: tl =>
        splitTop(a) match {
          case p :: tb :: fb :: Nil =>
            t = t.choose(pred(p), branchFn(tb), branchFn(fb)); loop(tl)
          case parts => throw new IllegalArgumentException(
            s"choose wants (predicate, trueBranch, falseBranch), got ${parts.length} args")
        }
      case ("coalesce", a) :: tl =>
        t = t.coalesce(splitTop(a).map(branchFn): _*); loop(tl)
      case ("optional", a) :: tl => t = t.optional(branchFn(a)); loop(tl)
      case ("not", a) :: tl      => t = t.not(branchFn(a)); loop(tl)
      case ("and", a) :: tl =>
        t = t.and(splitTop(a).map(branchFn): _*); loop(tl)
      case ("or", a) :: tl =>
        t = t.or(splitTop(a).map(branchFn): _*); loop(tl)
      case ("where", WherePred(cmp, l)) :: ("by", a) :: tl =>
        t = t.whereBy(cmp, l, label(a)); loop(tl)
      case ("where", WherePred(cmp, l)) :: tl => t = t.where(cmp, l); loop(tl)
      case ("aggregate", a) :: tl => t = t.aggregate(label(a)); loop(tl)
      case ("where", WithinPred(m, nm)) :: tl =>
        t = if (m == "within") t.whereWithin(nm) else t.whereWithout(nm)
        loop(tl)
      case ("select", a) :: tl =>
        result = Some(t.select(a.split(",").map(label).toIndexedSeq: _*)); loop(tl)
      case ("groupCount", "") :: ("by", a) :: tl =>
        result = Some(t.groupCount(label(a))); loop(tl)
      // group().by(k).by(v) — two by() modulators, consumed together
      // (lookahead, like groupCount/order below).
      case ("group", "") :: ("by", k) :: ("by", v) :: tl =>
        result = Some(t.group(label(k), label(v))); loop(tl)
      // project('k1',…).by('a1')… — one by() modulator per key, in order.
      case ("project", ka) :: tl0 =>
        val names = splitTop(ka).map(label)
        val (bys, tl) = tl0.span(_._1 == "by")
        result = Some(t.project(names, bys.map(b => label(b._2)))); loop(tl)
      case ("order", "") :: ("by", a) :: ("limit", n) :: tl
          if n.matches("\\d+") =>
        val (attr, desc) = splitTop(a) match {
          case x :: Nil => (label(x), false)
          case x :: d :: Nil if d == "desc" => (label(x), true)
          case x :: d :: Nil if d == "asc" => (label(x), false)
          case _ => throw new IllegalArgumentException(
            s"order().by wants ('attr'[, asc|desc]), got: $a")
        }
        result = Some(t.orderBy(attr, n.toInt, desc)); loop(tl)
      // order().by(...).range(lo, hi) — the pagination terminal.
      case ("order", "") :: ("by", a) :: ("range", r) :: tl
          if r.matches("\\d+\\s*,\\s*\\d+") =>
        val (attr, desc) = splitTop(a) match {
          case x :: Nil => (label(x), false)
          case x :: d :: Nil if d == "desc" => (label(x), true)
          case x :: d :: Nil if d == "asc" => (label(x), false)
          case _ => throw new IllegalArgumentException(
            s"order().by wants ('attr'[, asc|desc]), got: $a")
        }
        val bounds = r.split(",").map(_.trim.toInt)
        result = Some(t.orderRange(attr, bounds(0), bounds(1), desc))
        loop(tl)
      // withSack(n) arms the accumulator; sack(sum).by('weight') folds the
      // just-traversed edge's weight; bare sack() is the fold terminal.
      case ("withSack", n) :: tl if n.matches("-?\\d+(\\.\\d+)?") =>
        t = t.withSack(n.toDouble); loop(tl)
      // local(out('l').limit(k)) — per-traverser bounded expansion
      case ("local", a) :: tl =>
        val LocalPat = """out\(\s*'([^']+)'\s*\)\.limit\(\s*(\d+)\s*\)""".r
        a.trim match {
          case LocalPat(l, k) => t = t.outLocal(l, k.toInt); loop(tl)
          case other => throw new IllegalArgumentException(
            s"local() supports out('label').limit(k), got: $other")
        }
      case ("sack", "sum") :: ("by", a) :: tl =>
        t = t.sackBy(label(a)); loop(tl)
      case ("sack", "") :: tl => result = Some(t.sackFold()); loop(tl)
      case ("valueMap", "") :: tl => result = Some(t.valueMap()); loop(tl)
      case ("path", "") :: ("by", a) :: tl =>
        result = Some(t.pathBy(label(a))); loop(tl)
      case ("path", "") :: ("from", a) :: ("to", b) :: tl =>
        result = Some(t.pathFromTo(label(a), label(b))); loop(tl)
      case ("path", "") :: tl   => result = Some(t.path()); loop(tl)
      case ("tree", "") :: tl   => result = Some(t.tree()); loop(tl)
      case ("ids", "") :: tl    => result = Some(t.ids()); loop(tl)
      case ("values", a) :: tl  => result = Some(t.values(label(a))); loop(tl)
      case ("count", "") :: tl  => result = Some(t.count()); loop(tl)
      case (s, a) :: _ =>
        throw new IllegalArgumentException(s"unknown step: $s($a)")
    }
    loop(steps.tail)
    result.getOrElse(t.path())
  }
}
