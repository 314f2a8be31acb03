package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.streaming.Maintain

/** Semantic invariants for the QualityOps additions (cross-engine value
  * equality is the Verify/DuckDB gate's job; these assert the properties
  * the values must satisfy). */
class QualityOpsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val sf = TestSpark.sf

  test("graph_betweenness: independent textbook-Brandes recomputation matches exactly") {
    import org.apache.spark.sql.functions._
    import scala.collection.mutable
    // The operator and its DuckDB oracle share the generated level-SQL
    // bodies, so the driver's hash gate certifies cross-engine DETERMINISM
    // only. THIS spec certifies the ALGORITHM: an independent in-memory
    // implementation — textbook Brandes (per-root BFS over adjacency sets,
    // σ by predecessor sum, δ accumulated backward), truncated at the
    // key's contractual bound k = BcDepth, same integer micro-unit
    // per-term floor — recomputed from the raw edge list with none of the
    // operator's SQL, joins, or level views. Exact equality required.
    val got = SparkEntry.queries("graph_betweenness")(spark, sf).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap

    val g = graft.graph.GraphFixture(spark, sf)
    val adj = new mutable.HashMap[Long, mutable.HashSet[Long]]
    g.edges.select("src", "dst").where(col("src") =!= col("dst"))
      .collect().foreach { r =>
        val (a, b) = (r.getLong(0), r.getLong(1))
        adj.getOrElseUpdate(a, new mutable.HashSet) += b
        adj.getOrElseUpdate(b, new mutable.HashSet) += a
      }
    val roots = g.vertices.where(col("label") === "region")
      .select("id").collect().map(_.getLong(0))
    assert(roots.length == 5)
    val k = ops.QualityOps.BcDepth
    val bcMicro = new mutable.HashMap[Long, Long].withDefaultValue(0L)
    val nRoots = new mutable.HashMap[Long, Long].withDefaultValue(0L)
    for (root <- roots) {
      val dist = mutable.HashMap(root -> 0)
      val sigma = mutable.HashMap(root -> 1L)
      val levels = mutable.ArrayBuffer(Seq(root))
      for (l <- 1 to k) {
        val next = new mutable.HashMap[Long, Long].withDefaultValue(0L)
        for (u <- levels(l - 1); v <- adj.getOrElse(u, Nil))
          if (!dist.contains(v) || dist(v) == l) {
            dist(v) = l
            next(v) += sigma(u)
          }
        next.foreach { case (v, s) => sigma(v) = s }
        levels += next.keys.toSeq
      }
      val delta = new mutable.HashMap[Long, Long].withDefaultValue(0L)
      for (l <- k - 1 to 1 by -1; v <- levels(l)) {
        var d = 0L
        for (w <- adj(v) if dist.get(w).contains(l + 1))
          d += Math.floorDiv(sigma(v) * (1000000L + delta(w)), sigma(w))
        delta(v) = d
      }
      for (l <- 1 to k; v <- levels(l)) {
        bcMicro(v) += delta(v)
        nRoots(v) += 1
      }
    }
    val want = nRoots.keys.map(v => v -> ((bcMicro(v), nRoots(v)))).toMap
    assert(got.size == want.size,
      s"row count ${got.size} != independent ${want.size}")
    val diff = want.collect { case (v, exp) if got.get(v) != Some(exp) =>
      s"$v: got ${got.get(v)} want $exp" }
    assert(diff.isEmpty, diff.take(5).mkString("; "))
    // sanity on the values themselves
    assert(want.values.forall { case (m, n) => m >= 0 && n >= 1 && n <= 5 })
    assert(want.values.exists(_._1 > 0), "no positive betweenness — vacuous")
  }

  test("root batching: width-2 multi-batch ≡ single-batch for betweenness + ecc") {
    // forces ⌈5/2⌉ = 3 independent bitmap batches on the fixture's 5
    // region roots — the path a >60-root seed set (e.g. a 13×+ replica
    // blow-up) takes for real; δ sums and per-root rows must re-aggregate
    // to exactly the single-batch answer
    def rows(key: String) = SparkEntry.queries(key)(spark, sf)
      .collect().map(_.toSeq).toSeq
    val (bc1, ecc1) = (rows("graph_betweenness"), rows("graph_eccentricity"))
    spark.conf.set("graft.graph.rootBatchBits", "2")
    try {
      assert(rows("graph_betweenness") == bc1, "betweenness diverged")
      assert(rows("graph_eccentricity") == ecc1, "eccentricity diverged")
    } finally spark.conf.unset("graft.graph.rootBatchBits")
  }

  test("dq_referential: fixture FKs clean, fault-injection row catches orphans") {
    val rows = SparkEntry.queries("dq_referential")(spark, sf).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(rows.size == 8)
    rows.foreach { case (fk, (nChild, nOrphans)) =>
      assert(nChild > 0, s"$fk audited zero children")
      assert(nOrphans <= nChild)
      if (fk != "fault_injected->orders")
        assert(nOrphans == 0, s"$fk unexpectedly has $nOrphans orphans")
    }
    // The self-test row must detect every negated key as an orphan.
    val (b, c) = rows("fault_injected->orders")
    val clean = rows("lineitem->orders")._1
    assert(c == b - clean, "fault injection must flag exactly the fuzzed rows")
    assert(c > 0, "the audit never saw a violation — vacuous")
  }

  test("cdc_scd2: per user — versions contiguous, intervals chain, one current") {
    val byUser = SparkEntry.queries("cdc_scd2")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3),
        r.getLong(4), r.getInt(5)))
      .groupBy(_._1)
    assert(byUser.nonEmpty)
    byUser.foreach { case (u, vs) =>
      val sorted = vs.sortBy(_._2)
      assert(sorted.map(_._2).toSeq == (1L to sorted.length), s"user $u versions not contiguous")
      assert(sorted.count(_._6 == 1) == 1, s"user $u must have exactly one current row")
      assert(sorted.last._6 == 1 && sorted.last._5 == -1L)
      sorted.toSeq.sliding(2).foreach {
        case Seq(a, b) =>
          assert(a._5 == b._4, s"user $u: valid_to must equal next valid_from")
          assert(a._3 != b._3, s"user $u: consecutive versions share event_type — runs not collapsed")
        case _ =>
      }
    }
  }

  test("stream_scd2_maintain folds ordered micro-batches to the exact batch SCD2") {
    val before = Maintain.batches("stream_scd2_maintain")
    val maintained = SparkEntry.queries("stream_scd2_maintain")(spark, sf)
      .collect().map(_.toSeq).toSeq
    val nBatches = Maintain.batches("stream_scd2_maintain") - before
    assert(nBatches >= 2, s"expected multiple micro-batches, saw $nBatches")
    val full = SparkEntry.queries("cdc_scd2")(spark, sf)
      .collect().map(_.toSeq).toSeq
    assert(maintained == full, "maintained SCD2 ≠ batch rebuild")
  }

  test("dq_freshness: staleness non-negative, frontier class at zero") {
    val rows = SparkEntry.queries("dq_freshness")(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(rows.nonEmpty)
    rows.foreach { case (_, n, _, stale) =>
      assert(n > 0); assert(stale >= 0)
    }
    assert(rows.count(_._4 == 0) >= 1, "some class must own the frontier")
    assert(rows.map(_._3).max ==
      rows.filter(_._4 == 0).head._3, "zero-staleness class must hold max ts")
  }

  test("olap_mkt_share: shares partition each year exactly") {
    val rows = SparkEntry.queries("olap_mkt_share")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2), r.getDouble(3)))
    assert(rows.nonEmpty)
    rows.groupBy(_._1).foreach { case (yr, rs) =>
      val tot = rs.map(_._4).sum
      assert(math.abs(tot - 1.0) < 1e-9, s"year $yr shares sum to $tot")
      rs.foreach { case (_, _, rev, sh) =>
        assert(rev > 0 && sh > 0 && sh <= 1.0)
      }
    }
  }

  test("text_boilerplate: boiler counts bounded and threshold actually splits") {
    val rows = SparkEntry.queries("text_boilerplate")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(rows.nonEmpty)
    rows.foreach { case (_, nSh, nBoiler, maxDf) =>
      assert(nBoiler <= nSh)
      if (nBoiler == 0) assert(maxDf == 0)
    }
    // The 25% threshold must neither flag everything nor nothing —
    // otherwise the contract is vacuous at this SF.
    assert(rows.exists(_._3 > 0), "no boilerplate found anywhere — vacuous")
    assert(rows.exists(r => r._3 < r._2), "every shingle flagged — vacuous")
  }

  test("ts_ewma: bounded by window max, equals value/2-scaled head for first rows") {
    val rows = SparkEntry.queries("ts_ewma")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(rows.nonEmpty)
    // Weights sum to 255/256 < 1, every term ≥ 0 when values ≥ 0... values
    // may be any sign; assert instead |ewma| ≤ max|value| (convexity bound).
    val maxAbs = Tables(spark, sf, "events")
      .agg(org.apache.spark.sql.functions.max(
        org.apache.spark.sql.functions.abs(org.apache.spark.sql.functions.col("value"))))
      .head.getDouble(0)
    rows.foreach { case (_, _, e) => assert(math.abs(e) <= maxAbs) }
  }

  test("cdc_apply_deletes: no deleted keys survive, one row per key") {
    val rows = SparkEntry.queries("cdc_apply_deletes")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    assert(rows.nonEmpty)
    assert(rows.map(_._1).distinct.length == rows.length, "one row per key")
    assert(rows.forall(_._2 != "D"), "deleted keys must vanish")
    val nKeys = Tables(spark, sf, "events").select("user_id").distinct().count()
    assert(rows.length < nKeys, "some key's last action must be a delete")
  }

  test("stream_quality_gate sums batch audits to the whole-corpus audit") {
    val before = Maintain.batches("stream_quality_gate")
    val gated = SparkEntry.queries("stream_quality_gate")(spark, sf)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    val nBatches = Maintain.batches("stream_quality_gate") - before
    assert(nBatches >= 2, s"expected multiple micro-batches, saw $nBatches")
    import org.apache.spark.sql.functions._
    val full = Tables(spark, sf, "events").groupBy("event_type")
      .agg(count(lit(1)).as("n"), count(when(col("value") < 0.5, 1)).as("nb"))
      .orderBy("event_type")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    assert(gated == full, "gated totals ≠ whole-corpus audit")
    assert(gated.exists(_._3 > 0), "quarantine rule never fired — vacuous")
  }

  test("stream_drift_maintain folds micro-batches to the exact batch drift report") {
    val before = Maintain.batches("stream_drift_maintain")
    val streamed = SparkEntry.queries("stream_drift_maintain")(spark, sf)
      .collect().map(_.toString).toSeq
    val nBatches = Maintain.batches("stream_drift_maintain") - before
    assert(nBatches >= 2, s"expected multiple micro-batches, saw $nBatches")
    val batch = SparkEntry.queries("dq_drift")(spark, sf)
      .collect().map(_.toString).toSeq
    assert(streamed == batch, "folded drift report ≠ batch report")
    assert(batch.nonEmpty)
    // the audit is non-vacuous: some bucket genuinely drifts (nonzero
    // chi-square contribution somewhere)
    assert(SparkEntry.queries("dq_drift")(spark, sf)
      .filter("chi2_contrib > 0").count() > 0)
  }

  test("join_asof_nearest picks the closer of backward/forward candidates") {
    val rows = SparkEntry.queries("join_asof_nearest")(spark, sf).collect()
    assert(rows.nonEmpty)
    // cross-check 20 purchases against a direct per-row computation
    val ev = Tables(spark, sf, "events").collect()
      .map(r => (r.getLong(2), r.getString(3), r.getTimestamp(1)))
    val clicksByUser = ev.filter(_._2 == "click").groupBy(_._1)
    rows.take(20).foreach { r =>
      val (u, ts, got) = (r.getLong(1), r.getTimestamp(2), r.getTimestamp(3))
      val cs = clicksByUser.getOrElse(u, Array.empty).map(_._3)
      if (cs.isEmpty) assert(got == null)
      else {
        val best = cs.minBy(c => (math.abs(c.getTime - ts.getTime),
          if (c.getTime <= ts.getTime) 0 else 1))
        assert(math.abs(got.getTime - ts.getTime) ==
          math.abs(best.getTime - ts.getTime), s"user $u at $ts: $got vs $best")
      }
    }
  }

  test("win_percent_rank: both measures in [0,1], monotone in the order") {
    val rows = SparkEntry.queries("win_percent_rank")(spark, sf).collect()
      .map(r => (r.getString(1), r.getDouble(2), r.getDouble(3)))
    assert(rows.nonEmpty)
    rows.foreach { case (_, pr, cd) =>
      assert(pr >= 0.0 && pr <= 1.0); assert(cd > 0.0 && cd <= 1.0)
    }
    rows.groupBy(_._1).foreach { case (_, rs) =>
      assert(rs.exists(_._2 == 0.0) && rs.exists(_._3 == 1.0))
    }
  }

  test("agg_heavy_hitters: flags only above-mean keys, threshold splits") {
    val total = Tables(spark, sf, "events").count()
    val u = Tables(spark, sf, "events").select("user_id").distinct().count()
    val rows = SparkEntry.queries("agg_heavy_hitters")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(rows.nonEmpty, "threshold flagged nothing — vacuous")
    assert(rows.length < u, "threshold flagged every key — vacuous")
    rows.foreach { case (_, n) => assert(n * u * 5 >= total * 6) }
  }

  test("text_chunk: stride-40 windows tile every doc, full token coverage") {
    val rows = SparkEntry.queries("text_chunk")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(3)))
    val byDoc = rows.groupBy(_._1)
    val nDocs = Tables(spark, sf, "documents").count()
    assert(byDoc.size == nDocs, "every doc must chunk")
    import org.apache.spark.sql.functions._
    val tokCounts = Tables(spark, sf, "documents")
      .select(col("doc_id"), size(split(col("text"), " ")).as("n"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    byDoc.foreach { case (d, cs) =>
      val n = tokCounts(d)
      val expected = if (n <= 50) 1 else (n - 11) / 40 + 1
      assert(cs.length == expected, s"doc $d: ${cs.length} chunks, want $expected")
      val last = cs.maxBy(_._2)
      // last chunk must reach the final token: start + len - 1 == n
      assert(40 * (last._2 - 1) + last._3 == n, s"doc $d tail uncovered")
    }
  }

  test("graph_khop_sample: independent in-memory recomputation matches exactly") {
    import scala.collection.mutable
    // The operator's sampling CTEs are SHARED SQL text across both engines
    // (khopSampleCtes — only the string type name differs), so the driver's
    // hash gate proves determinism, not the sampling semantics. This spec
    // recomputes the GraphSAGE [2,2] fan-out from the raw edge list in
    // plain Scala — adjacency maps, JDK MessageDigest md5, explicit
    // (hash, dst) sort — and requires exact set equality.
    val got = SparkEntry.queries("graph_khop_sample")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet

    val g = graft.graph.GraphFixture(spark, sf)
    val edges = g.edges.select("src", "dst").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val out = edges.groupBy(_._1).view.mapValues(_.map(_._2).toSeq).toMap
    val customers = g.vertices
      .where(org.apache.spark.sql.functions.col("label") === "customer")
      .select("id").collect().map(_.getLong(0)).toSet
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
    // rank src's edge rows by (md5("src_dst"), dst) — mirrors the
    // ROW_NUMBER total order — and keep the first 2 rows; the final
    // DISTINCT is the Set insert below
    def top2(src: Long): Seq[Long] =
      out.getOrElse(src, Nil).sortBy(d => (md5hex(s"${src}_$d"), d)).take(2)
    val want = mutable.Set[(Long, Int, Long)]()
    for (c <- customers if out.contains(c)) {
      val h1 = top2(c)
      h1.foreach(d => want += ((c, 1, d)))
      for (m <- h1; d <- top2(m)) want += ((c, 2, d))
    }
    assert(want.nonEmpty && got == want,
      s"got ${got.size} rows, want ${want.size}; " +
        s"missing=${(want -- got).take(3)} extra=${(got -- want).take(3)}")
  }

  test("graph_harmonic: scores consistent with bounded reach") {
    val rows = SparkEntry.queries("graph_harmonic")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(rows.nonEmpty)
    val custCount = Tables(spark, sf, "customer").count()
    assert(rows.length == custCount,
      "every customer has out-reach (nation at 1 hop) and must appear")
    rows.foreach { case (_, h6, n) =>
      // Each reached vertex contributes 6, 3, or 2; so 2n ≤ h6 ≤ 6n.
      assert(h6 >= 2 * n && h6 <= 6 * n)
      // nation at d=1 (6) and region at d=2 (3) are always reachable.
      assert(h6 >= 9 && n >= 2)
    }
  }
}
