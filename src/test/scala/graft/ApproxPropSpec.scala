package graft

import org.scalacheck.{Gen, Prop}
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.BoundReference
import org.apache.spark.sql.types.LongType

/** Randomized certification of the round-14d approximation family —
  * TopKRowsPropSpec's discipline applied to the new algorithms:
  *
  *  - Count–Min at the aggregate-buffer level (update/merge/serde driven
  *    directly, random partitionings standing in for the shuffle): cells
  *    equal the plain recomputation, estimates are one-sided, and the
  *    merge is exactly elementwise addition.
  *  - Charikar peel against BRUTE FORCE on random small graphs: the
  *    best-round density must be within the proven factor 4 of the true
  *    maximum-density subgraph (exhaustive over all vertex subsets) —
  *    certifying the approximation GUARANTEE itself, not just a replay.
  *  - Greedy matching against brute-force maximum-weight matching
  *    (bitmask DP): valid, maximal, and within the proven factor ½.
  *  - The distributed implementations (Matching/Mis/Coloring/Densest) on
  *    a handful of random graphs, checked for their defining structural
  *    properties — fixture-independent coverage of the BSP loops.
  */
class ApproxPropSpec extends AnyFunSuite {
  import graft.functions.CountMinSketch._
  private lazy val spark = TestSpark.spark

  // ---- Count–Min, buffer level ----

  private def refSketch(keys: Seq[Long]): Array[Long] = {
    val cells = new Array[Long](Cells)
    for (x <- keys; j <- 0 until Rows) cells(Off(j) + bucket(j, x)) += 1
    cells
  }

  test("count_min: random inputs + random shuffles reproduce the reference cells") {
    val gen = for {
      keys <- Gen.listOf(Gen.chooseNum(0L, 500L))
      splits <- Gen.listOf(Gen.chooseNum(0, math.max(1, keys.length)))
    } yield (keys, splits)
    val prop = Prop.forAll(gen) { case (keys, splits) =>
      val agg = graft.functions.CountMinSketch(
        BoundReference(0, LongType, nullable = true))
      val slices =
        if (keys.isEmpty) Seq(keys)
        else (0 +: splits.map(_ % keys.length).sorted :+ keys.length)
          .distinct.sliding(2).map { case Seq(a, b) => keys.slice(a, b) }.toSeq
      val partials = slices.map { sl =>
        val buf = agg.createAggregationBuffer()
        sl.foreach { k => agg.update(buf, InternalRow(k)); () }
        agg.deserialize(agg.serialize(buf))
      }
      val merged = partials.foldLeft(agg.createAggregationBuffer())(agg.merge)
      val ok = merged.sameElements(refSketch(keys))
      val oneSided = keys.distinct.forall { k =>
        val est = (0 until Rows).map(j => merged(Off(j) + bucket(j, k))).min
        est >= keys.count(_ == k)
      }
      ok && oneSided
    }
    assert(org.scalacheck.Test.check(
      org.scalacheck.Test.Parameters.default.withMinSuccessfulTests(100),
      prop).passed)
  }

  // ---- random graph generator (canonical a < b, distinct) ----

  private val graphGen: Gen[Seq[(Long, Long)]] = for {
    n <- Gen.chooseNum(2, 12)
    density <- Gen.chooseNum(1, 6)
    pairs = for (a <- 0L until n; b <- (a + 1) until n) yield (a, b)
    mask <- Gen.listOfN(pairs.size, Gen.chooseNum(0, 9))
  } yield pairs.zip(mask).collect { case (e, m) if m < density => e }

  test("densest peel: best round density >= exact optimum / 4 (brute force)") {
    val prop = Prop.forAll(graphGen) { edges =>
      edges.isEmpty || {
        val verts = edges.flatMap(e => Seq(e._1, e._2)).distinct
        // exhaustive max density over all subsets of the support
        var best = 0.0
        val vs = verts.toArray
        for (m <- 1 until (1 << vs.length)) {
          val in = vs.zipWithIndex.collect {
            case (v, i) if (m & (1 << i)) != 0 => v }.toSet
          val e = edges.count(t => in(t._1) && in(t._2))
          best = math.max(best, e.toDouble / in.size)
        }
        // in-memory ε=1 peel (same rule as graft.graph.Densest)
        val adj = scala.collection.mutable.Map.empty[Long, scala.collection.mutable.Set[Long]]
        for ((a, b) <- edges) {
          adj.getOrElseUpdate(a, scala.collection.mutable.Set.empty) += b
          adj.getOrElseUpdate(b, scala.collection.mutable.Set.empty) += a
        }
        var v = adj.keySet.toSet
        var got = 0.0
        while (v.nonEmpty) {
          val n = v.size.toLong
          val e = v.toSeq.map(x => adj(x).size).sum / 2
          got = math.max(got, e.toDouble / n)
          val rem = v.filter(x => adj(x).size * n <= 4 * e)
          for (x <- rem) { for (u <- adj(x)) adj(u) -= x; adj -= x }
          v --= rem
        }
        got * 4 >= best - 1e-9
      }
    }
    assert(org.scalacheck.Test.check(
      org.scalacheck.Test.Parameters.default.withMinSuccessfulTests(60),
      prop).passed)
  }

  test("greedy matching: valid, maximal, and >= max-weight/2 (bitmask DP)") {
    val gen = for {
      edges <- graphGen
      ws <- Gen.listOfN(edges.size, Gen.chooseNum(1, 100))
    } yield edges.zip(ws).map { case ((a, b), w) => (a, b, w.toDouble) }
    val prop = Prop.forAll(gen) { edges =>
      edges.isEmpty || {
        // greedy = sequential scan under (w DESC, a, b)
        val used = scala.collection.mutable.Set.empty[Long]
        val m = edges.sortBy(t => (-t._3, t._1, t._2)).filter { case (a, b, _) =>
          if (used(a) || used(b)) false else { used += a; used += b; true } }
        val valid = m.flatMap(t => Seq(t._1, t._2)).distinct.size == 2 * m.size
        val maximal = edges.forall(t => used(t._1) || used(t._2))
        // exact max-weight matching: DP over vertex subsets
        val vs = edges.flatMap(t => Seq(t._1, t._2)).distinct.toArray
        val idx = vs.zipWithIndex.toMap
        val full = (1 << vs.length) - 1
        val memo = new Array[Double](full + 1)
        java.util.Arrays.fill(memo, -1.0)
        def dp(mask: Int): Double = {
          if (memo(mask) >= 0) return memo(mask)
          var best = 0.0
          for ((a, b, w) <- edges) {
            val bit = (1 << idx(a)) | (1 << idx(b))
            if ((mask & bit) == bit) best = math.max(best, w + dp(mask & ~bit))
          }
          memo(mask) = best
          best
        }
        val opt = dp(full)
        valid && maximal && m.map(_._3).sum * 2 >= opt - 1e-9
      }
    }
    assert(org.scalacheck.Test.check(
      org.scalacheck.Test.Parameters.default.withMinSuccessfulTests(40),
      prop).passed)
  }

  test("vertex cover <= 2*OPT (exhaustive minimum) and coloring <= maxdeg+1") {
    val prop = Prop.forAll(graphGen) { edges =>
      edges.isEmpty || {
        // greedy maximal matching endpoints = the shipped cover
        val used = scala.collection.mutable.Set.empty[Long]
        edges.sortBy(t => (t._1, t._2)).foreach { case (a, b) =>
          if (!used(a) && !used(b)) { used += a; used += b } }
        // exhaustive minimum vertex cover over the support
        val vs = edges.flatMap(e => Seq(e._1, e._2)).distinct.toArray
        var opt = vs.length
        for (m <- 0 until (1 << vs.length)) {
          val in = vs.zipWithIndex.collect {
            case (v, i) if (m & (1 << i)) != 0 => v }.toSet
          if (edges.forall(e => in(e._1) || in(e._2)))
            opt = math.min(opt, in.size)
        }
        val coverOk = used.size <= 2 * opt
        // greedy-by-id coloring never exceeds Δ+1
        val smaller = edges.groupBy(_._2).view.mapValues(_.map(_._1)).toMap
        val color = scala.collection.mutable.Map.empty[Long, Int]
        for (v <- vs.sorted) {
          val u = smaller.getOrElse(v, Seq.empty).map(color).toSet
          color(v) = Iterator.from(1).find(k => !u(k)).get
        }
        val deg = edges.flatMap(e => Seq(e._1, e._2))
          .groupBy(identity).values.map(_.size).max
        coverOk && color.values.max <= deg + 1
      }
    }
    assert(org.scalacheck.Test.check(
      org.scalacheck.Test.Parameters.default.withMinSuccessfulTests(60),
      prop).passed)
  }

  test("distributed Matching/Mis/Coloring/Densest hold their properties on random graphs") {
    import spark.implicits._
    val graphs = Seq(42, 7, 99, 1234, 31337).map { seed =>
      val rnd = new scala.util.Random(seed)
      val n = 8 + rnd.nextInt(15)
      (for (a <- 0L until n; b <- (a + 1) until n if rnd.nextInt(10) < 3)
        yield (a, b)).toSeq
    }.filter(_.nonEmpty)
    for (edges <- graphs) {
      val df = edges.toDF("a", "b")
      val wdf = df.withColumn("w",
        org.apache.spark.sql.functions.lit(1.0))
      val support = edges.flatMap(e => Seq(e._1, e._2)).toSet
      val adj = edges.flatMap(e => Seq(e._1 -> e._2, e._2 -> e._1))
        .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap

      val m = graph.Matching.greedy(wdf)
        .collect().map(r => (r.getLong(1), r.getLong(2))).toSeq
      val mv = m.flatMap(t => Seq(t._1, t._2))
      assert(mv.distinct.size == mv.size)
      assert(edges.forall(e => mv.contains(e._1) || mv.contains(e._2)))

      val mis = graph.Mis.greedy(df).collect().map(_.getLong(0)).toSet
      assert(edges.forall(e => !(mis(e._1) && mis(e._2))))
      assert((support -- mis).forall(v => adj(v).exists(mis)))

      val col = graph.Coloring.greedy(df)
        .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
      assert(col.keySet == support)
      assert(edges.forall(e => col(e._1) != col(e._2)))

      val peel = graph.Densest.peel(df)
        .collect().map(r => (r.getLong(1), r.getLong(2), r.getInt(3)))
      assert(peel.count(_._3 == 1) == 1)
      assert(peel.head._1 == support.size && peel.head._2 == edges.size)

      // BSP only (threshold 0) and tail only (threshold max) agree
      def ids(t: Long) =
        graph.Mis.greedy(df, localThreshold = t).collect().map(_.getLong(0)).toSeq
      assert(ids(0L) == ids(Long.MaxValue), "Mis: BSP vs tail")
      def colors(t: Long) = graph.Coloring.greedy(df, localThreshold = t)
        .collect().map(r => r.getLong(0) -> r.getInt(1)).toSeq
      assert(colors(0L) == colors(Long.MaxValue), "Coloring: BSP vs tail")
      def cover(t: Long) = graph.Matching.maximalMatching(wdf, localThreshold = t)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val mm = cover(0L)
      assert(mm == cover(Long.MaxValue), "maximalMatching: BSP vs tail")
      assert(mm == m.toSet, "maximalMatching's edge set differs from greedy's")
    }
  }
}
