package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.streaming.Maintain

/** In-memory recomputations for the round-14d relational/sim/text keys
  * (sim_mips, text_collocations, ts_changepoint, agg_hll_merge) — each
  * replayed in plain Scala on collected fixture rows and compared to the
  * distributed output, independent of the DuckDB oracle. */
class Round14dOpsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("sim_mips equals the brute-force weighted-dot replay; prune is selective") {
    val emb = Tables(spark, TestSpark.sf, "embeddings")
      .select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    def dot(a: Array[Float], b: Array[Float]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { s += a(i).toDouble * b(i).toDouble; i += 1 }
      s
    }
    def pw(id: Long): Double = (1 + id % 16).toDouble / 4
    val queries = emb.keys.filter(_ % 100 == 0).toSeq.sorted
    val want = (for (qa <- queries) yield {
      emb.toSeq.filter(_._1 != qa)
        .map { case (vb, e) => (vb, pw(vb) * dot(emb(qa), e)) }
        .sortBy { case (vb, sc) => (-sc, vb) }.take(5).zipWithIndex
        .map { case ((vb, sc), i) => (qa, vb, i + 1, sc) }
    }).flatten
    val got = SparkEntry.queries("sim_mips")(spark, TestSpark.sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3))).toSeq
    assert(got == want)
    // the norm-bound prune must actually skip vectors for at least one
    // query at this weight spread (otherwise the two-phase shape is idle)
    val nrm = emb.map { case (id, e) => id -> math.sqrt(dot(e, e)) }
    val cand = emb.keys.toSeq.sortBy(id => (-pw(id) * nrm(id), id)).take(50)
    val pruned = queries.exists { qa =>
      val tau = cand.filter(_ != qa)
        .map(c => pw(c) * dot(emb(qa), emb(c)))
        .sortBy(-_).take(5).min
      emb.keys.exists(vb => vb != qa && pw(vb) * nrm(vb) * nrm(qa) < tau - 1e-6)
    }
    assert(pruned, "prune never fired — two-phase scan is degenerate")
  }

  test("text_collocations equals the in-memory lift replay") {
    val texts = Tables(spark, TestSpark.sf, "documents")
      .select("text").collect().map(_.getString(0)).toSeq
    val toks = texts.map(_.split(" ", -1).toSeq)
    val uni = toks.flatten.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val nu = uni.values.sum
    val big = toks.flatMap(t => t.zip(t.drop(1)))
      .groupBy(identity).view.mapValues(_.size.toLong).toMap
    val want = big.toSeq.filter(_._2 >= 5)
      .map { case ((x, y), cxy) =>
        (x, y, cxy, 1000000L * cxy * nu / (uni(x) * uni(y))) }
      .sortBy { case (x, y, _, l) => (-l, x, y) }.take(10)
    val got = SparkEntry.queries("text_collocations")(spark, TestSpark.sf)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3))).toSeq
    assert(got == want)
    assert(got.nonEmpty)
  }

  test("ts_changepoint equals the in-memory CUSUM argmax") {
    val ev = Tables(spark, TestSpark.sf, "events")
      .select("event_type", "event_id", "ts", "value").collect()
      .map(r => (r.getString(0), r.getLong(1),
        r.getTimestamp(2).getTime * 1000 + r.getTimestamp(2).getNanos / 1000 % 1000,
        r.getDouble(3)))
    val want = ev.groupBy(_._1).toSeq.map { case (t, rows) =>
      val ordered = rows.sortBy(r => (r._3, r._2))
      val q = ordered.map(r => math.floor(r._4 * 100 + 0.5).toLong)
      val n = q.size.toLong
      val sq = q.sum
      val stats = q.scanLeft(0L)(_ + _).drop(1).zipWithIndex.map {
        case (cum, i0) => (i0 + 1, math.abs(cum * n - (i0 + 1) * sq)) }
      val (bi, bstat) = stats.maxBy { case (i, st) => (st, -i) }
      (t, ordered(bi - 1)._2, bi.toLong, bstat)
    }.sortBy(_._1)
    val got = SparkEntry.queries("ts_changepoint")(spark, TestSpark.sf)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    assert(got == want)
  }

  test("stream_hll_maintain fold == batch report, over >1 micro-batch") {
    val before = Maintain.batches("stream_hll_maintain")
    val streamed = SparkEntry.queries("stream_hll_maintain")(spark, TestSpark.sf)
      .collect().map(_.toSeq).toSeq
    val batch = SparkEntry.queries("agg_hll_merge")(spark, TestSpark.sf)
      .collect().map(_.toSeq).toSeq
    assert(Maintain.batches("stream_hll_maintain") - before >= 2,
      "maintain loop must fold multiple micro-batches")
    assert(streamed == batch)
  }

  test("olap_basket_lift equals the in-memory a-priori pair replay") {
    val items = Tables(spark, TestSpark.sf, "lineitem")
      .select("l_orderkey", "l_partkey").distinct().collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    val nb = items.map(_._1).distinct.size.toLong
    val sup = items.groupBy(_._2).view.mapValues(_.size.toLong).toMap
    val pairs = items.groupBy(_._1).values.toSeq
      .flatMap { basket =>
        val ps = basket.map(_._2).sorted
        for (i <- ps.indices; j <- (i + 1) until ps.size) yield (ps(i), ps(j))
      }
      .groupBy(identity).view.mapValues(_.size.toLong).toMap
    val want = pairs.toSeq.filter(_._2 >= 3)
      .map { case ((pa, pb), cab) =>
        (pa, pb, cab, 1000000L * cab * nb / (sup(pa) * sup(pb))) }
      .sortBy { case (pa, pb, _, l) => (-l, pa, pb) }.take(15)
    val got = SparkEntry.queries("olap_basket_lift")(spark, TestSpark.sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    assert(got == want)
    assert(got.nonEmpty)
  }

  test("multimodal_resample equals the closed-form pair-average replay") {
    val docs = Tables(spark, TestSpark.sf, "documents")
      .where("doc_id % 3 = 1 AND text IS NOT NULL")
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    val want = docs.map { case (id, text) =>
      val b = text.getBytes("UTF-8").map(_ & 0xff)
      val smp = (0 until b.length / 2).map(i => (b(2 * i) + b(2 * i + 1)) / 2)
      (id, 4000L, smp.size.toLong,
        smp.map(_.toLong).sum,
        smp.zipWithIndex.map { case (v, i) => v.toLong * (i + 1) }.sum)
    }.sortBy(_._1)
    val got = SparkEntry.queries("multimodal_resample")(spark, TestSpark.sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSeq
    assert(got == want)
    assert(got.nonEmpty)
    // the emitted container is a VALID half-rate WAV end-to-end
    val (id, text) = docs.head
    val rz = multimodal.Multimodal.resampleWav2x(
      multimodal.MediaCodec.encode("audio", id, text.getBytes("UTF-8")))
    val d = multimodal.MediaCodec.decode("audio", rz)
    assert(d.width == 4000 && d.n_frames == text.getBytes("UTF-8").length / 2)
  }

  test("dq_kanon reports exactly the sub-k equivalence classes") {
    val cust = Tables(spark, TestSpark.sf, "customer")
      .select("c_nationkey", "c_mktsegment", "c_acctbal").collect()
      .map(r => (r.getInt(0), r.getString(1),
        math.floor(r.getDouble(2) / 1000).toLong))
    val want = cust.groupBy(identity).view.mapValues(_.size.toLong).toSeq
      .filter(_._2 < 5)
      .map { case ((n, m, b), c) => (n, m, b, c) }
      .sortBy { case (n, m, b, _) => (n, m, b) }
    val got = SparkEntry.queries("dq_kanon")(spark, TestSpark.sf)
      .collect().map(r => (r.getInt(0), r.getString(1), r.getLong(2), r.getLong(3))).toSeq
    assert(got == want)
    assert(got.nonEmpty, "fixture should have sub-k classes at this banding")
  }

  test("olap_pareto equals the in-memory concentration replay") {
    val rev = Tables(spark, TestSpark.sf, "orders")
      .select("o_custkey", "o_totalprice").collect()
      .map(r => (r.getLong(0), BigDecimal(r.getDouble(1)).setScale(10)))
      .groupBy(_._1).view.mapValues(_.map(_._2).sum).toSeq
      .sortBy { case (k, v) => (-v, k) }
    val total = rev.map(_._2).sum
    var cum = BigDecimal(0)
    var n = 0
    var covered = BigDecimal(0)
    for ((_, v) <- rev) {
      if (cum * 10 < total * 8) { cum += v; n += 1; covered = cum }
      else cum += v
    }
    val row = SparkEntry.queries("olap_pareto")(spark, TestSpark.sf).collect()(0)
    assert(row.getLong(0) == n.toLong)
    assert(row.getLong(1) == rev.size.toLong)
    assert(math.abs(row.getDouble(2) - covered.toDouble) < 1e-6)
    assert(row.getDouble(4) >= 0.8 && row.getDouble(4) <= 1.0)
    assert(n < rev.size, "the 80% prefix should be a strict subset")
  }

  test("olap_rfm equals the in-memory quartile replay") {
    // o_orderdate is TIMESTAMP_NTZ; the ISO string orders chronologically
    val per = Tables(spark, TestSpark.sf, "orders")
      .select(org.apache.spark.sql.functions.col("o_custkey"),
        org.apache.spark.sql.functions.col("o_orderdate").cast("string"),
        org.apache.spark.sql.functions.col("o_totalprice")).collect()
      .map(r => (r.getLong(0), r.getString(1),
        BigDecimal(r.getDouble(2)).setScale(10)))
      .groupBy(_._1).map { case (c, rows) =>
        (c, rows.map(_._2).max, rows.size.toLong, rows.map(_._3).sum) }.toSeq
    def ntile4[K: Ordering](keyed: Seq[(Long, K)]): Map[Long, Int] = {
      val sorted = keyed.sortBy(_._2).map(_._1)
      val n = sorted.size
      val base = n / 4
      val rem = n % 4
      val sizes = (0 until 4).map(i => base + (if (i < rem) 1 else 0))
      val bounds = sizes.scanLeft(0)(_ + _)
      (for (q <- 0 until 4; i <- bounds(q) until bounds(q + 1))
        yield sorted(i) -> (q + 1)).toMap
    }
    val rq = ntile4(per.map(t => t._1 -> ((t._2, t._1))))(
      Ordering.Tuple2(Ordering.String.reverse, Ordering.Long))
    val fq = ntile4(per.map(t => t._1 -> (-t._3, t._1)))
    val mq = ntile4(per.map(t => t._1 -> (-t._4, t._1)))
    val want = per.groupBy(t => (rq(t._1), fq(t._1), mq(t._1))).toSeq
      .map { case ((r, f, m), rows) =>
        (r, f, m, rows.size.toLong, rows.map(_._4).sum.toDouble) }
      .sortBy(t => (t._1, t._2, t._3))
    val got = SparkEntry.queries("olap_rfm")(spark, TestSpark.sf)
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getInt(2),
        r.getLong(3), r.getDouble(4))).toSeq
    assert(got.map(t => (t._1, t._2, t._3, t._4)) ==
      want.map(t => (t._1, t._2, t._3, t._4)))
    got.zip(want).foreach { case (g, w) =>
      assert(math.abs(g._5 - w._5) < 1e-6, s"$g vs $w") }
    assert(got.map(_._4).sum == per.size.toLong)
  }

  test("agg_hll_merge: every bound holds and the panel covers all types + ALL") {
    val rows = SparkEntry.queries("agg_hll_merge")(spark, TestSpark.sf).collect()
    assert(rows.map(_.getString(0)).contains("ALL"))
    assert(rows.length >= 2)
    for (r <- rows) assert(r.getBoolean(2), s"estimate out of ±5%: $r")
    val types = Tables(spark, TestSpark.sf, "events")
      .select("event_type").distinct().count()
    assert(rows.length == types + 1)
  }
}
