package graft

import org.scalatest.funsuite.AnyFunSuite
import scala.collection.mutable
import graft.streaming.Maintain

/** Independent-algorithm certification for the LLM-pipeline flagship keys
  * (the §2.10a/§2.11 audit extended to the similarity/dedup families):
  * plain-Scala recomputations from the raw tables — JDK md5, explicit
  * left-to-right double folds, Scala collections — matched EXACTLY against
  * the operators, including every double-valued score. The DuckDB gate
  * proves cross-engine equality; these prove the algorithms. */
class LlmIndependenceSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val sf = TestSpark.sf

  private val P = 2147483647L
  private def md5hash(s: String): Long = {
    val hex = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString.substring(0, 15)
    java.lang.Long.parseLong(hex, 16) % P
  }

  test("text_rare_ngrams: in-memory dictionary recomputation matches exactly") {
    // independent replay of the whole pipeline: trigram counts over
    // lower(text), top-256 dictionary with (count DESC, trigram) tie
    // order, per-doc out-of-dictionary mass in integer ppm.
    val docs = Tables(spark, sf, "documents").select("doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getString(1))
    def tris(t: String): Seq[String] = {
      val s = t.toLowerCase
      (0 to s.length - 3).map(i => s.substring(i, i + 3))
    }
    val eligible = docs.filter(_._2.length >= 3)
    val cnt = new mutable.HashMap[String, Long]
    eligible.foreach { case (_, t) =>
      tris(t).foreach(g => cnt(g) = cnt.getOrElse(g, 0L) + 1) }
    val dict = cnt.toSeq.sortBy { case (t, c) => (-c, t) }
      .take(256).map(_._1).toSet
    assert(cnt.size > 256, "fixture must have an out-of-dictionary tail")
    val want = eligible.map { case (id, t) =>
      val ts = tris(t)
      val rare = ts.count(g => !dict(g)).toLong
      id -> ((ts.size.toLong, rare, rare * 1000000L / ts.size))
    }.toMap
    val got = SparkEntry.queries("text_rare_ngrams")(spark, sf).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap
    assert(got == want)
    assert(want.exists(_._2._2 > 0), "scores must not be degenerate-zero")
  }

  test("text_diversity: in-memory Simpson recomputation matches exactly") {
    val docs = Tables(spark, sf, "documents").select("source", "text")
      .collect().map(r => r.getString(0) -> r.getString(1))
    val bySource = docs.groupBy(_._1).map { case (src, ds) =>
      val counts = new mutable.HashMap[String, Long]
      // limit -1: keep trailing empty tokens, matching SQL split semantics
      ds.foreach(_._2.split(" ", -1).foreach(t =>
        counts(t) = counts.getOrElse(t, 0L) + 1))
      val n = counts.values.sum
      val rep2 = counts.values.map(c => c * (c - 1)).sum
      src -> ((n, counts.size.toLong, rep2,
        rep2.toDouble / (n.toDouble * (n - 1).toDouble)))
    }
    val got = SparkEntry.queries("text_diversity")(spark, sf).collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4)))).toMap
    assert(got == bySource)
    // the index is a probability — sane range, and repeats exist
    assert(got.values.forall { case (_, _, rep2, s) =>
      rep2 > 0 && s > 0.0 && s < 1.0 })
  }

  test("embed_quantize: in-memory SQ8 code recomputation matches exactly") {
    val vecs = Tables(spark, sf, "embeddings").select("vec_id", "embedding")
      .collect().map(r => r.getAs[Number](0).longValue() ->
        r.getSeq[Float](1).toArray)
    val dims = vecs.head._2.length
    val mn = Array.tabulate(dims)(d => vecs.map(_._2(d)).min.toDouble)
    val mx = Array.tabulate(dims)(d => vecs.map(_._2(d)).max.toDouble)
    val want = vecs.map { case (id, v) =>
      val codes = Array.tabulate(dims) { d =>
        if (mx(d) == mn(d)) 0L
        else math.floor((v(d).toDouble - mn(d)) * 255.0 / (mx(d) - mn(d))).toLong
      }
      id -> ((dims.toLong, codes.sum,
        codes.zipWithIndex.map { case (c, d) => c * (d + 1) }.sum))
    }.toMap
    val got = SparkEntry.queries("embed_quantize")(spark, sf).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap
    assert(got == want)
    // codes span the SQ8 range: some vector holds a 0 and some a 255
    // (every dim's min codes 0 and its max codes 255 by construction)
    assert(want.values.map(_._2).max > 0)
  }

  test("sim_sq_rerank: in-memory two-stage recomputation matches exactly") {
    val vecs = Tables(spark, sf, "embeddings").select("vec_id", "embedding")
      .collect().map(r => r.getAs[Number](0).longValue() ->
        r.getSeq[Float](1).toArray).sortBy(_._1)
    val dims = vecs.head._2.length
    val mn = Array.tabulate(dims)(d => vecs.map(_._2(d)).min.toDouble)
    val mx = Array.tabulate(dims)(d => vecs.map(_._2(d)).max.toDouble)
    val codes = vecs.map { case (id, v) =>
      id -> Array.tabulate(dims) { d =>
        if (mx(d) == mn(d)) 0L
        else math.floor((v(d).toDouble - mn(d)) * 255.0 / (mx(d) - mn(d))).toLong
      }
    }.toMap
    def dot(a: Array[Float], b: Array[Float]): Double = {
      var acc = 0.0; var i = 0
      while (i < a.length) { acc += a(i).toDouble * b(i).toDouble; i += 1 }
      acc
    }
    val emb = vecs.toMap
    val nrm = vecs.map { case (id, v) => id -> math.sqrt(dot(v, v)) }.toMap
    val want = vecs.map(_._1).filter(_ % 100 == 0).flatMap { qa =>
      val qc = codes(qa)
      // stage 1: integer code dot, top-25 by (appx desc, vb)
      val top = vecs.map(_._1).filter(_ != qa).map { vb =>
        (vb, codes(vb).zip(qc).map { case (a, b) => a * b }.sum)
      }.sortBy { case (vb, a) => (-a, vb) }.take(25)
      // stage 2: exact cosine re-rank of the survivors, top-5
      top.map { case (vb, appx) =>
        (vb, appx, dot(emb(qa), emb(vb)) / (nrm(qa) * nrm(vb)))
      }.sortBy { case (vb, _, c) => (-c, vb) }.take(5).zipWithIndex.map {
        case ((vb, appx, c), i) => (qa, vb, i + 1) -> ((appx, c))
      }
    }.toMap
    val got = SparkEntry.queries("sim_sq_rerank")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2)) ->
        ((r.getLong(3), r.getDouble(4)))).toMap
    assert(got == want)
    assert(want.nonEmpty)
    // the coded pre-rank genuinely reorders vs the exact rank for at least
    // one query (otherwise the rerank stage tests nothing)
    val exact = SparkEntry.queries("sim_topk")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getInt(2)) -> r.getLong(1)).toMap
    assert(want.keys.exists { case (qa, vb, rnk) =>
      exact.get((qa, rnk)).exists(_ != vb) } ||
      want.keySet.map(k => (k._1, k._3)).exists(k => !exact.contains(k)))
  }

  test("sim_hard_negatives: in-memory triplet recomputation matches exactly") {
    val rows = Tables(spark, sf, "embeddings")
      .select("vec_id", "label", "embedding").collect()
      .map(r => (r.getAs[Number](0).longValue(), r.getAs[Number](1).intValue(),
        r.getSeq[Float](2).toArray))
    def dot(a: Array[Float], b: Array[Float]): Double = {
      var acc = 0.0; var i = 0
      while (i < a.length) { acc += a(i).toDouble * b(i).toDouble; i += 1 }
      acc
    }
    val nrm = rows.map { case (id, _, v) => id -> math.sqrt(dot(v, v)) }.toMap
    val want = rows.filter(_._1 % 100 == 0).flatMap { case (qa, ql, eq) =>
      val scored = rows.filter(_._1 != qa).map { case (vb, vl, ev) =>
        (vb, vl, dot(eq, ev) / (nrm(qa) * nrm(vb))) }
      val pos = scored.filter(_._2 == ql)
        .sortBy { case (vb, _, c) => (-c, vb) }.headOption
      pos.toSeq.flatMap { case (_, _, cp) =>
        scored.filter(_._2 != ql).sortBy { case (vb, _, c) => (-c, vb) }
          .take(3).zipWithIndex.map { case ((vb, _, c), i) =>
            (qa, vb, i + 1) -> ((c, cp, cp - c)) }
      }
    }.toMap
    val got = SparkEntry.queries("sim_hard_negatives")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2)) ->
        ((r.getDouble(3), r.getDouble(4), r.getDouble(5)))).toMap
    assert(got == want)
    assert(want.nonEmpty)
    // the mined triplets are genuinely "hard": the rank-1 negative sits
    // close to (or above) the positive for at least one anchor
    assert(want.values.exists(_._3 < 0.5))
  }

  test("sim_topk: brute-force cosine top-5 recomputation matches exactly") {
    val vecs = Tables(spark, sf, "embeddings").select("vec_id", "embedding")
      .collect().map(r => r.getAs[Number](0).longValue() ->
        r.getSeq[Float](1).toArray).toMap
    // the operator's exact fold orders: left-to-right double dot, then
    // sqrt; cos = dot / (nq * nrm)
    def dot(a: Array[Float], b: Array[Float]): Double = {
      var acc = 0.0; var i = 0
      while (i < a.length) { acc += a(i).toDouble * b(i).toDouble; i += 1 }
      acc
    }
    val nrm = vecs.map { case (id, v) => id -> math.sqrt(dot(v, v)) }
    val queries = vecs.keys.filter(_ % 100 == 0).toSeq
    val want = queries.flatMap { qa =>
      vecs.keys.filter(_ != qa).toSeq
        .map(vb => (vb, dot(vecs(qa), vecs(vb)) / (nrm(qa) * nrm(vb))))
        .sortBy { case (vb, cos) => (-cos, vb) }
        .take(5).zipWithIndex
        .map { case ((vb, cos), i) => (qa, vb, (i + 1).toLong, cos) }
    }.toSet
    val got = SparkEntry.queries("sim_topk")(spark, sf).collect()
      .map(r => (r.getAs[Number](0).longValue(), r.getAs[Number](1).longValue(),
        r.getAs[Number](2).longValue(), r.getDouble(3))).toSet
    assert(got == want, s"got=${got.size} want=${want.size}; " +
      s"missing=${(want -- got).take(2)} extra=${(got -- want).take(2)}")
    assert(want.nonEmpty)
  }

  test("dedup_simhash: 32-bit fingerprint recomputation matches exactly") {
    // tokens WITH multiplicity, md5-prefix hash, ±1 per bit, majority sign.
    val docs = Tables(spark, sf, "documents").select("doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getString(1)))
    val want = docs.map { case (id, text) =>
      val hs = text.split(" ", -1).toSeq.map(md5hash)
      val fp = (0 until 32).map { b =>
        val s = hs.map(h => if (((h >> b) & 1L) == 1L) 1 else -1).sum
        if (s > 0) 1L << b else 0L
      }.sum
      id -> fp
    }.toMap
    val got = SparkEntry.queries("dedup_simhash")(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == want, s"got=${got.size} want=${want.size}")
    assert(want.values.toSet.size > 1)
  }

  test("sim_knn_join: sign-LSH bucketed k-NN recomputation matches exactly") {
    val vecs = Tables(spark, sf, "embeddings").select("vec_id", "embedding")
      .collect().map(r => r.getAs[Number](0).longValue() ->
        r.getSeq[Float](1).toArray).toMap
    def dot(a: Array[Float], b: Array[Float]): Double = {
      var acc = 0.0; var i = 0
      while (i < a.length) { acc += a(i).toDouble * b(i).toDouble; i += 1 }
      acc
    }
    val nrm = vecs.map { case (id, v) => id -> math.sqrt(dot(v, v)) }
    def bucket(v: Array[Float]): Long =
      (0 until 8).map(d => if (v(d) > 0) 1L << d else 0L).sum
    val bkt = vecs.map { case (id, v) => id -> bucket(v) }
    val want = vecs.keys.filter(_ % 10 == 0).toSeq.flatMap { va =>
      vecs.keys.filter(vb => vb != va && bkt(vb) == bkt(va)).toSeq
        .map(vb => (vb, dot(vecs(va), vecs(vb)) / (nrm(va) * nrm(vb))))
        .sortBy { case (vb, cos) => (-cos, vb) }
        .take(3).zipWithIndex
        .map { case ((vb, cos), i) => (va, vb, (i + 1).toLong, cos) }
    }.toSet
    val got = SparkEntry.queries("sim_knn_join")(spark, sf).collect()
      .map(r => (r.getAs[Number](0).longValue(), r.getAs[Number](1).longValue(),
        r.getAs[Number](2).longValue(), r.getDouble(3))).toSet
    assert(got == want, s"got=${got.size} want=${want.size}; " +
      s"missing=${(want -- got).take(2)} extra=${(got -- want).take(2)}")
    assert(want.nonEmpty)
  }

  test("text_langid: stopword-vote recomputation matches exactly") {
    val langSets = Seq(
      "de" -> Set("der", "die", "und", "das"),
      "en" -> Set("the", "a", "of", "to"),
      "es" -> Set("el", "los", "y", "una"),
      "fr" -> Set("le", "la", "et", "les"))
    val docs = Tables(spark, sf, "documents").select("doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getString(1)))
    val want = docs.map { case (id, text) =>
      val toks = text.split(" ", -1).toSeq
      val hits = langSets.map { case (l, ws) => l -> toks.count(ws).toLong }
      val hitMap = hits.toMap
      val pred = hits.collectFirst {
        case (l, h) if h > 0 && hits.forall(h >= _._2) => l
      }.getOrElse("unknown")
      id -> ((pred, hitMap("de"), hitMap("en"), hitMap("es"), hitMap("fr")))
    }.toMap
    val got = SparkEntry.queries("text_langid")(spark, sf).collect()
      .map(r => r.getLong(0) ->
        ((r.getString(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))).toMap
    assert(got == want, s"got=${got.size} want=${want.size}")
    assert(want.values.map(_._1).toSet.size > 1, "single language — vacuous")
  }

  test("text_fingerprint: rolling-hash recomputation matches exactly") {
    val docs = Tables(spark, sf, "documents").select("doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getString(1)))
    val want = docs.map { case (id, text) =>
      var acc = 0L
      text.codePoints().forEach(c => acc = (acc * 131 + c) % 1000000007L)
      id -> acc
    }.toMap
    val got = SparkEntry.queries("text_fingerprint")(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == want, s"got=${got.size} want=${want.size}")
    assert(want.values.toSet.size > 1)
  }

  test("dedup_embed: label-blocked sign-LSH cosine pairs recomputed exactly") {
    val rows = Tables(spark, sf, "embeddings").select("vec_id", "label", "embedding")
      .collect().map(r => (r.getAs[Number](0).longValue(), String.valueOf(r.get(1)),
        r.getSeq[Float](2).toArray))
    def dot(a: Array[Float], b: Array[Float]): Double = {
      var acc = 0.0; var i = 0
      while (i < a.length) { acc += a(i).toDouble * b(i).toDouble; i += 1 }
      acc
    }
    def bucket(v: Array[Float]): Long =
      (0 until 6).map(d => if (v(d) > 0) 1L << d else 0L).sum
    val want = (for {
      (va, la, ea) <- rows
      (vb, lb, eb) <- rows
      if va < vb && la == lb && bucket(ea) == bucket(eb)
      cos = dot(ea, eb) / (math.sqrt(dot(ea, ea)) * math.sqrt(dot(eb, eb)))
      if cos >= 0.35
    } yield (va, vb, cos)).toSet
    val got = SparkEntry.queries("dedup_embed")(spark, sf).collect()
      .map(r => (r.getAs[Number](0).longValue(), r.getAs[Number](1).longValue(),
        r.getDouble(2))).toSet
    assert(got == want, s"got=${got.size} want=${want.size}; " +
      s"missing=${(want -- got).take(2)} extra=${(got -- want).take(2)}")
    assert(want.nonEmpty)
  }

  test("dedup_cluster: pairs→components→canonical chain recomputed exactly") {
    // Rebuild the minhash pair set with the SAME recomputation as the
    // dedup_minhash test, then union-find the pairs and label every member
    // doc by its component minimum — the canonical-representative chain.
    val A = Seq(2L, 3L, 5L, 7L, 11L, 13L, 17L, 19L)
    val docs = Tables(spark, sf, "documents").select("doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getString(1)))
    val shingles: Map[Long, Set[String]] = docs.flatMap { case (id, text) =>
      val toks = text.split(" ", -1)
      if (toks.length < 3) None
      else Some(id -> toks.sliding(3).map(_.mkString(" ")).toSet)
    }.toMap
    val bands: Map[Long, (String, String)] = shingles.map { case (id, sh) =>
      val hs = sh.toSeq.map(md5hash)
      val sig = A.zipWithIndex.map { case (a, i) =>
        hs.map(h => (a * h + (i + 1)) % P).min }
      id -> ((sig.take(4).mkString("_"), sig.drop(4).mkString("_")))
    }
    val cand = mutable.Set[(Long, Long)]()
    for (b <- 0 to 1)
      bands.toSeq.groupBy(kv => if (b == 0) kv._2._1 else kv._2._2)
        .values.foreach { grp =>
          val ids = grp.map(_._1).sorted
          for (i <- ids.indices; j <- (i + 1) until ids.length)
            cand += ((ids(i), ids(j)))
        }
    val pairs = cand.toSeq.filter { case (da, db) =>
      val (sa, sb) = (shingles(da), shingles(db))
      val i = (sa & sb).size
      i.toDouble / (sa.size + sb.size - i).toDouble >= 0.5
    }
    val parent = new mutable.HashMap[Long, Long]
    def find(x: Long): Long = {
      var r = x; while (parent.getOrElse(r, r) != r) r = parent(r)
      var c = x
      while (parent.getOrElse(c, c) != c) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val members = pairs.flatMap(p => Seq(p._1, p._2)).distinct
    val byComp = members.groupBy(find)
    val want = byComp.flatMap { case (rep, ms) =>
      ms.map(m => (rep, m, ms.size.toLong))
    }.toSet
    val got = SparkEntry.queries("dedup_cluster")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == want, s"got=${got.size} want=${want.size}; " +
      s"missing=${(want -- got).take(2)} extra=${(got -- want).take(2)}")
    assert(want.nonEmpty)
  }

  test("text_quality: TTR/length-credit recomputation matches exactly") {
    val docs = Tables(spark, sf, "documents").select("doc_id", "text", "n_chars")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    val want = docs.map { case (id, text, nChars) =>
      val toks = text.split(" ", -1)
      val nt = toks.length
      val nd = toks.distinct.length
      val ttr = nd.toDouble / nt.toDouble
      val mtl = (nChars - (nt - 1)).toDouble / nt.toDouble
      val q = 0.5 * ttr + 0.5 * math.min(1.0, nt.toDouble / 200.0)
      id -> ((nt.toLong, ttr, mtl, q))
    }.toMap
    val got = SparkEntry.queries("text_quality")(spark, sf).collect()
      .map(r => r.getLong(0) -> ((r.getAs[Number](1).longValue(),
        r.getDouble(2), r.getDouble(3), r.getDouble(4)))).toMap
    assert(got == want, s"got=${got.size} want=${want.size}")
    assert(want.values.map(_._2).toSet.size > 1)
  }

  test("text_tokens: whitespace + regex token counts recomputed exactly") {
    val docs = Tables(spark, sf, "documents").select("doc_id", "text", "n_chars")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    val re = "[a-z]+|[0-9]+|[^a-z0-9 ]".r
    val want = docs.map { case (id, text, nChars) =>
      val nws = text.split(" ", -1).length
      val nre = re.findAllIn(text).size
      id -> ((nws.toLong, nre.toLong, nChars.toDouble / nws.toDouble))
    }.toMap
    val got = SparkEntry.queries("text_tokens")(spark, sf).collect()
      .map(r => r.getLong(0) -> ((r.getAs[Number](1).longValue(),
        r.getAs[Number](2).longValue(), r.getDouble(3)))).toMap
    assert(got == want, s"got=${got.size} want=${want.size}")
    assert(want.nonEmpty)
  }

  test("dedup_minhash: full LSH pipeline recomputation matches exactly") {
    // shingle → 8-permutation affine minhash → 2×4 bands → candidate
    // pairs → exact Jaccard ≥ 0.5, rebuilt with Scala collections and
    // JDK md5 against the textsql hash family (a_i·h + (i+1) mod P).
    val A = Seq(2L, 3L, 5L, 7L, 11L, 13L, 17L, 19L)
    val docs = Tables(spark, sf, "documents").select("doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getString(1)))
    val shingles: Map[Long, Set[String]] = docs.flatMap { case (id, text) =>
      val toks = text.split(" ", -1)
      if (toks.length < 3) None
      else Some(id -> toks.sliding(3).map(_.mkString(" ")).toSet)
    }.toMap
    val bands: Map[Long, (String, String)] = shingles.map { case (id, sh) =>
      val hs = sh.toSeq.map(md5hash)
      val sig = A.zipWithIndex.map { case (a, i) =>
        hs.map(h => (a * h + (i + 1)) % P).min }
      id -> ((sig.take(4).mkString("_"), sig.drop(4).mkString("_")))
    }
    val cand = mutable.Set[(Long, Long)]()
    for (b <- 0 to 1) {
      bands.toSeq.groupBy(kv => if (b == 0) kv._2._1 else kv._2._2)
        .values.foreach { grp =>
          val ids = grp.map(_._1).sorted
          for (i <- ids.indices; j <- (i + 1) until ids.length)
            cand += ((ids(i), ids(j)))
        }
    }
    val want = cand.toSeq.flatMap { case (da, db) =>
      val (sa, sb) = (shingles(da), shingles(db))
      val i = (sa & sb).size
      val j = i.toDouble / (sa.size + sb.size - i).toDouble
      if (j >= 0.5) Some((da, db, i.toLong, j)) else None
    }.toSet
    val got = SparkEntry.queries("dedup_minhash")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
    assert(got == want, s"got=${got.size} want=${want.size}; " +
      s"missing=${(want -- got).take(2)} extra=${(got -- want).take(2)}")
    assert(want.nonEmpty, "no near-dup pairs at this SF — vacuous")
  }

  test("dedup_cdc: content-defined chunking recomputed exactly; boundaries re-sync") {
    // Semantics under test (DedupOps dedup_cdc): s = first 256 chars of
    // lower(text), docs shorter than 8 dropped; boundary after position i
    // (8 ≤ i ≤ len) iff md5-hash(substr(s, i-7, 8)) ≡ 0 (mod 32) under the
    // textsql 60-bit md5 fold; cut set = {0, boundaries, len}; chunks =
    // substrings between consecutive cuts; summary over md5(chunk) counts.
    val docs = Tables(spark, sf, "documents").select("text").collect()
      .map(_.getString(0)).filter(_.length >= 8)
      .map(_.toLowerCase.take(256))
    def chunks(s: String): Seq[String] = {
      val bs = (8 to s.length).filter { i =>
        md5hash(s.substring(i - 8, i)) % 32 == 0
      }
      val cuts = (Seq(0, s.length) ++ bs).distinct.sorted
      cuts.zip(cuts.tail).collect { case (a, b) if b > a => s.substring(a, b) }
    }
    val all = docs.flatMap(chunks)
    val byContent = all.groupBy(identity).map { case (_, g) => g.size.toLong }
    val want = (byContent.size.toLong, all.size.toLong,
      byContent.count(_ > 1).toLong, byContent.filter(_ > 1).map(_ - 1).sum,
      byContent.max)
    val r = SparkEntry.queries("dedup_cdc")(spark, sf).collect()(0)
    val got = (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))
    assert(got == want, s"got $got want $want")
    // the defining CDC property, proven on real fixture content: chunking
    // a PREFIX-SHIFTED copy re-synchronizes — the shifted doc shares a
    // suffix of chunks with the original (fixed-width chunking shares
    // none). Pick the longest doc so there are interior boundaries.
    val base = docs.maxBy(_.length)
    val shifted = ("zqj7 " + base).take(256)
    val cb = chunks(base)
    val cs = chunks(shifted)
    assert(cb.size >= 3, s"longest doc produced only ${cb.size} chunks")
    val shared = cb.toSet.intersect(cs.toSet)
    assert(shared.nonEmpty,
      s"shifted copy shares no chunks: base ${cb.size} chunks, shifted ${cs.size}")
  }

  test("text_bpe_train: greedy pair-merge recomputation matches exactly") {
    // Semantics under test (TextOps text_bpe_train): symbols = chars of the
    // first 64 chars of lower(text) with ' '→'_' (docs shorter than 2
    // chars dropped); 3 rounds of (count adjacent pairs incl. overlaps,
    // merge the (count DESC, l, r)-first pair greedily left-to-right
    // non-overlapping). Recomputed here on Scala Lists — no string
    // replace, no SQL: the merge walks each token list directly, which
    // also certifies the space-doubling replace trick (TextOps.applyMerge)
    // against a structural greedy implementation — including back-to-back
    // occurrences of the winning pair, which a plain single-space replace
    // would skip every other one of.
    val docs = Tables(spark, sf, "documents").select("text").collect()
      .map(_.getString(0).toLowerCase.replace(' ', '_').take(64))
      .filter(_.length >= 2)
    var toks: Array[List[String]] = docs.map(_.map(_.toString).toList)
    val want = (1 to 3).map { round =>
      val cnt = new mutable.HashMap[(String, String), Long].withDefaultValue(0L)
      toks.foreach { t =>
        t.zip(t.tail).foreach(p => cnt(p) += 1L)
      }
      val ((l, r), c) = cnt.toSeq.minBy { case ((l, r), c) => (-c, l, r) }
      toks = toks.map { t =>
        val out = mutable.ListBuffer[String]()
        var rest = t
        while (rest.nonEmpty) rest match {
          case a :: b :: tl if a == l && b == r => out += (l + r); rest = tl
          case a :: tl => out += a; rest = tl
          case Nil => ()
        }
        out.toList
      }
      (round, l, r, l + r, c)
    }
    val got = SparkEntry.queries("text_bpe_train")(spark, sf).collect()
      .map(row => (row.getInt(0), row.getString(1), row.getString(2),
        row.getString(3), row.getLong(4))).toSeq
    assert(got == want, s"got $got want $want")
    // non-vacuous: round-3's winning pair must involve a round-1/2 merge
    // OR have a strictly smaller count than round 1 (the merges must
    // actually reshape the pair distribution)
    assert(want(2)._5 < want(0)._5 ||
      want(2)._2.length > 1 || want(2)._3.length > 1,
      s"rounds look inert: $want")
  }

  /** Raw-string (no hashing) recomputation of the dedup_substring contract:
    * a W-token window is duplicated iff its exact text occurs in ≥2 docs;
    * per doc, consecutive duplicated positions fold to maximal runs. */
  private def substrRuns(docs: Seq[(Long, String)])
      : Seq[(Long, Long, Long, Long)] = {
    val w = graft.ops.DedupOps.SubstrRunTokens
    val toks = docs.map { case (id, t) => id -> t.split(" ", -1) }
    val byWin = mutable.Map[String, mutable.Set[Long]]()
    for ((id, ts) <- toks; i <- 0 to ts.length - w)
      byWin.getOrElseUpdate(ts.slice(i, i + w).mkString(" "),
        mutable.Set[Long]()) += id
    val dup = byWin.filter(_._2.size >= 2).keySet
    toks.flatMap { case (id, ts) =>
      val pos = (0 to ts.length - w)
        .filter(i => dup(ts.slice(i, i + w).mkString(" "))).map(_ + 1)
      // gaps-and-islands on the sorted duplicated positions
      pos.foldLeft(List.empty[(Long, Long)]) {
        case ((s0, e0) :: tl, p) if p == e0 + 1 => (s0, p.toLong) :: tl
        case (acc, p) => (p.toLong, p.toLong) :: acc
      }.reverse.map { case (s0, e0) =>
        (id, s0, e0 + w - 1, e0 - s0 + w) }
    }.sortBy(r => (r._1, r._2))
  }

  test("dedup_substring: raw-string run recomputation matches exactly (live table)") {
    val docs = Tables(spark, sf, "documents").select("doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    val want = substrRuns(docs)
    val got = SparkEntry.queries("dedup_substring")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSeq
    assert(got == want, s"got ${got.size} runs, want ${want.size}")
    assert(want.nonEmpty, "fixture has no cross-doc repeated passage — vacuous")
  }

  test("dedup_substring: planted repeated passages found, maximal, gapped") {
    val s2 = spark.newSession()
    val passage = (1 to 10).map(i => s"p$i").mkString(" ") // 10 shared tokens
    val second = (1 to 8).map(i => s"q$i").mkString(" ")   // exactly W tokens
    val docs = Seq(
      1L -> s"a1 a2 a3 $passage a4 a5 a6 a7 a8 a9 $second",
      2L -> s"b1 b2 $passage b3 $second b4",
      3L -> (1 to 30).map(i => s"c$i").mkString(" "))      // no shared window
    import s2.implicits._
    docs.toDF("doc_id", "text").createOrReplaceTempView("documents")
    val got = s2.sql(graft.ops.DedupOps.substringRunsSql(
      toks = graft.ops.textsql.sparkToks("text"), len = t => s"size($t)",
      gen = n => s"explode(sequence(1, $n))",
      slice = (t, a, l) => s"slice($t, $a, $l)",
      join = a => s"concat_ws(' ', $a)", hash = graft.ops.textsql.sparkHash60))
      .collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    assert(got == substrRuns(docs), "planted runs disagree with recompute")
    // doc 1: passage run is tokens 4..13 (len 10), q-run 20..27 (len 8)
    assert(got.filter(_._1 == 1L) == Seq((1L, 4L, 13L, 10L), (1L, 20L, 27L, 8L)))
    // doc 2: two separate islands (the gap token b3 splits them)
    assert(got.count(_._1 == 2L) == 2)
    // doc 3 shares nothing
    assert(!got.exists(_._1 == 3L))
  }

  /** Raw-string recomputation of the dedup_substring_strip contract:
    * token (d, p) is dropped iff some W-window covering p has its exact
    * text also present in a doc with a SMALLER id (keep-first — the
    * minimum doc keeps its copy; within-doc repetition never strips). */
  private def substrStrip(docs: Seq[(Long, String)])
      : Seq[(Long, Long, Long, String)] = {
    val w = graft.ops.DedupOps.SubstrRunTokens
    val toks = docs.map { case (id, t) => id -> t.split(" ", -1) }
    val minDoc = mutable.Map[String, Long]()
    for ((id, ts) <- toks; i <- 0 to ts.length - w) {
      val k = ts.slice(i, i + w).mkString(" ")
      minDoc(k) = math.min(minDoc.getOrElse(k, Long.MaxValue), id)
    }
    toks.map { case (id, ts) =>
      val dropped = mutable.Set[Int]()
      for (i <- 0 to ts.length - w
           if minDoc(ts.slice(i, i + w).mkString(" ")) < id;
           p <- i until i + w) dropped += p
      val kept = ts.indices.filterNot(dropped).map(ts)
      (id, ts.length.toLong, dropped.size.toLong, kept.mkString(" "))
    }.sortBy(_._1)
  }

  test("dedup_substring_strip: raw-string recomputation matches exactly (live table)") {
    val docs = Tables(spark, sf, "documents").select("doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    val want = substrStrip(docs)
    val got = SparkEntry.queries("dedup_substring_strip")(spark, sf)
      .collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3))).toSeq
    assert(got == want, s"strip mismatch: got ${got.size} want ${want.size}")
    assert(want.exists(_._3 > 0), "fixture drops nothing — vacuous")
    assert(want.exists(_._3 == 0), "fixture keeps nothing intact — vacuous")
  }

  test("dedup_substring_strip: keep-first, self-repetition kept, full-doc drop") {
    val s2 = spark.newSession()
    val passage = (1 to 10).map(i => s"p$i").mkString(" ")
    val selfRep = (1 to 8).map(i => s"r$i").mkString(" ")
    val copy = (1 to 30).map(i => s"c$i").mkString(" ")
    val docs = Seq(
      1L -> s"a1 a2 $passage a3 $selfRep a4 $selfRep", // canonical + self-rep
      2L -> s"b1 $passage b2",                          // loses the passage
      3L -> copy,                                       // canonical full doc
      4L -> copy)                                       // loses everything
    import s2.implicits._
    docs.toDF("doc_id", "text").createOrReplaceTempView("documents")
    val got = s2.sql(graft.ops.DedupOps.substringStripSql(
      toks = graft.ops.textsql.sparkToks("text"), len = t => s"size($t)",
      gen = n => s"explode(sequence(1, $n))",
      genRange = (a, b) => s"explode(sequence($a, $b))",
      slice = (t, a, l) => s"slice($t, $a, $l)",
      join = a => s"concat_ws(' ', $a)", hash = graft.ops.textsql.sparkHash60,
      orderedConcat = (v, o) => s"concat_ws(' ', transform(" +
        s"array_sort(collect_list(struct($o, $v))), r -> r.$v))"))
      .collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3))).toSeq
    assert(got == substrStrip(docs), "planted strip disagrees with recompute")
    val byId = got.map(r => r._1 -> r).toMap
    // doc 1 is the minimum holder of every window it contains: drops 0,
    // keeps both copies of its self-repeated run
    assert(byId(1L)._3 == 0L && byId(1L)._4 == docs.head._2)
    // doc 2 loses exactly the 10 passage tokens, keeps its frame
    assert(byId(2L)._3 == 10L && byId(2L)._4 == "b1 b2")
    // doc 3 canonical, doc 4 an exact copy: stripped to empty
    assert(byId(3L)._3 == 0L)
    assert(byId(4L)._3 == 30L && byId(4L)._4 == "")
  }

  /** Raw recomputation of text_dedup_report: per source, exact-dup docs
    * (keep-first by doc_id over identical text), docs carrying any
    * cross-doc repeated window, and duplicated-token share counted in
    * EVERY holder (report semantics — the strip op exempts the canonical
    * copy, the report does not). */
  private def dedupReport(docs: Seq[(Long, String, String)])
      : Seq[(String, Long, Long, Long, Long, Long, Double)] = {
    val w = graft.ops.DedupOps.SubstrRunTokens
    val minByText = docs.groupBy(_._2).map { case (t, g) =>
      t -> g.map(_._1).min }
    val toks = docs.map { case (id, t, src) => (id, t.split(" ", -1), src) }
    val byWin = mutable.Map[String, mutable.Set[Long]]()
    for ((id, ts, _) <- toks; i <- 0 to ts.length - w)
      byWin.getOrElseUpdate(ts.slice(i, i + w).mkString(" "),
        mutable.Set[Long]()) += id
    val perDoc = toks.map { case (id, ts, src) =>
      val cov = mutable.Set[Int]()
      for (i <- 0 to ts.length - w
           if byWin(ts.slice(i, i + w).mkString(" ")).size >= 2;
           p <- i until i + w) cov += p
      (src, id, ts.length.toLong, cov.size.toLong)
    }
    perDoc.groupBy(_._1).map { case (src, rows) =>
      val exact = rows.count { case (_, id, _, _) =>
        minByText(docs.find(_._1 == id).get._2) < id }
      val dupToks = rows.map(_._4).sum
      val total = rows.map(_._3).sum
      (src, rows.size.toLong, exact.toLong,
        rows.count(_._4 > 0).toLong, dupToks, total,
        dupToks.toDouble / total.toDouble)
    }.toSeq.sortBy(_._1)
  }

  test("text_curation_funnel: stages compose from graded keys + raw strip") {
    val w = graft.ops.DedupOps.SubstrRunTokens
    val docs = Tables(spark, sf, "documents")
      .select("doc_id", "text", "source")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2)))
      .toSeq
    // stage 1: exact keep-first, recomputed raw
    val s1 = docs.groupBy(_._2).values.map(g => g.minBy(_._1)).toSeq
    // stage 2: drop non-canonical cluster members, taken from the GRADED
    // dedup_cluster key (cluster_rep, doc_id) — cross-key consistency
    val nonCanon = SparkEntry.queries("dedup_cluster")(spark, sf)
      .collect().filter(r => r.getLong(0) != r.getLong(1))
      .map(_.getLong(1)).toSet
    val s2 = s1.filterNot(d => nonCanon(d._1))
    // stage 3/4: keep-first strip over s2 + the ≥W gate, recomputed raw
    val toks = s2.map { case (id, t, src) => (id, t.split(" ", -1), src) }
    val winMin = mutable.Map[String, Long]()
    for ((id, ts, _) <- toks; i <- 0 to ts.length - w) {
      val k = ts.slice(i, i + w).mkString(" ")
      winMin(k) = math.min(winMin.getOrElse(k, Long.MaxValue), id)
    }
    val perDoc = toks.map { case (id, ts, src) =>
      val drop = mutable.Set[Int]()
      for (i <- 0 to ts.length - w
           if winMin(ts.slice(i, i + w).mkString(" ")) < id;
           p <- i until i + w) drop += p
      (src, id, ts.length.toLong - drop.size)
    }
    val want = docs.groupBy(_._3).map { case (src, all) =>
      val rows = perDoc.filter(_._1 == src)
      (src, all.size.toLong, s1.count(_._3 == src).toLong,
        rows.size.toLong, rows.count(_._3 >= w).toLong,
        all.map(_._2.split(" ", -1).length.toLong).sum,
        // shipped mass only: docs the ≥W gate drops contribute nothing
        rows.filter(_._3 >= w).map(_._3).sum)
    }.toSeq.sortBy(_._1)
    val got = SparkEntry.queries("text_curation_funnel")(spark, sf)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6))).toSeq
    assert(got == want, s"funnel mismatch:\n got $got\nwant $want")
    // the funnel must actually funnel somewhere, or the fixture is
    // vacuous (the strip stage always bites on the live table; the exact
    // and near stages bite only where the SF actually contains dups)
    assert(want.exists(r => r._7 < r._6), "no token mass dropped anywhere")
    if (nonCanon.nonEmpty)
      assert(want.exists(r => r._4 < r._3), "clusters exist but no doc dropped")
  }

  test("text_dedup_report: raw recomputation matches exactly (live table)") {
    val docs = Tables(spark, sf, "documents")
      .select("doc_id", "text", "source")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2)))
      .toSeq
    val want = dedupReport(docs)
    val got = SparkEntry.queries("text_dedup_report")(spark, sf)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5), r.getDouble(6))).toSeq
    assert(got == want, s"report mismatch:\n got $got\nwant $want")
    assert(want.exists(_._5 > 0), "no duplicated mass anywhere — vacuous")
  }

  /** Independent dHash: per-cell MEAN comparison through exact BigInt
    * rational cross-multiplication, column-major cell walk — structurally
    * different from the operator's row-major long-arithmetic pass in
    * [[graft.functions.PHash]], same mathematical definition. */
  private def dhashIndependent(w: Int, h: Int, pix: Int => Int): Long = {
    def cell(gx: Int, gy: Int): (BigInt, BigInt) = {
      val (x0, x1) = (gx * w / 9, (gx + 1) * w / 9)
      val (y0, y1) = (gy * h / 8, (gy + 1) * h / 8)
      val s = (for { x <- x0 until x1; y <- y0 until y1 }
        yield BigInt(pix(y * w + x))).sum
      (s, BigInt((x1 - x0).toLong * (y1 - y0)))
    }
    (for { gy <- 0 until 8; gx <- 0 until 8 } yield {
      val (s1, a1) = cell(gx, gy)
      val (s2, a2) = cell(gx + 1, gy)
      // mean1 > mean2 ⟺ s1/a1 > s2/a2 ⟺ s1·a2 > s2·a1 (areas positive)
      if (s1 * a2 > s2 * a1) 1L << (gy * 8 + gx) else 0L
    }).foldLeft(0L)(_ | _)
  }

  /** Independent fingerprint set of the image-asset fixture (originals +
    * perturbed twins) — shared by the dedup_phash and
    * stream_phash_maintain recomputation tests. */
  private def phashFixtureFps(): mutable.Map[Long, Long] = {
    val OFF = graft.functions.PHash.VariantOffset
    val docs = Tables(spark, sf, "documents").select("doc_id", "text")
      .where("doc_id % 3 = 0 AND text IS NOT NULL")
      .collect().map(r => (r.getLong(0), r.getString(1)))
    val fps = mutable.Map[Long, Long]()
    docs.foreach { case (id, text) =>
      val b = text.getBytes("UTF-8").map(_ & 0xff)
      val w = (16 + id % 32).toInt
      val h = (16 + id % 24).toInt
      def base(i: Int) = if (b.isEmpty) 0 else b(i % b.length)
      fps(id) = dhashIndependent(w, h, base)
      fps(id + OFF) = dhashIndependent(w, h,
        i => math.min(255, base(i) + (if (i % 97 < 5) 40 else 0)))
    }
    fps
  }

  test("dedup_phash: full fingerprint+LSH pipeline recomputed exactly") {
    val OFF = graft.functions.PHash.VariantOffset
    val fps = phashFixtureFps()
    // band buckets → two-anchor star cap → exact Hamming verify ≤ 10
    val cands = mutable.Set[(Long, Long)]()
    for (bi <- 0 to 3) {
      fps.toSeq.groupBy { case (_, fp) => (fp >> (bi * 16)) & 0xffffL }
        .values.foreach { bucket =>
          val ids = bucket.map(_._1).sorted
          if (ids.size <= 32)
            for (i <- ids.indices; j <- i + 1 until ids.size)
              cands += ((ids(i), ids(j)))
          else ids.take(2).foreach(a =>
            ids.filter(_ > a).foreach(b2 => cands += ((a, b2))))
        }
    }
    val want = cands.toSeq
      .map { case (a, b2) =>
        (a, b2, java.lang.Long.bitCount(fps(a) ^ fps(b2))) }
      .filter(_._3 <= 10).sorted
    val got = SparkEntry.queries("dedup_phash")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSeq
    assert(got == want, s"got ${got.size} pairs, want ${want.size}; " +
      s"missing=${(want.toSet -- got).take(2)} extra=${(got.toSet -- want).take(2)}")
    assert(want.nonEmpty)
    // the perceptual gate must actually catch perturbed twins — pairs
    // exact binary dedup (multimodal_dedup) provably cannot see
    assert(got.count { case (a, b2, _) => b2 == a + OFF } > 0,
      "no (original, perturbed-twin) pair caught")
  }

  test("stream_phash_maintain: incremental fold equals the uncapped batch pairs") {
    // the maintain key's contract: any slicing of the asset stream folds
    // to the UNCAPPED band-colliding verified pair set (see
    // phashPairsUncappedCtes for why the star cap can't stream) — and the
    // run must actually see multiple micro-batches.
    val fps = phashFixtureFps()
    val cands = mutable.Set[(Long, Long)]()
    for (bi <- 0 to 3)
      fps.toSeq.groupBy { case (_, fp) => (fp >> (bi * 16)) & 0xffffL }
        .values.foreach { bucket =>
          val ids = bucket.map(_._1).sorted
          for (i <- ids.indices; j <- i + 1 until ids.size)
            cands += ((ids(i), ids(j)))
        }
    val want = cands.toSeq
      .map { case (a, b2) =>
        (a, b2, java.lang.Long.bitCount(fps(a) ^ fps(b2))) }
      .filter(_._3 <= 10).sorted
    val before = Maintain.batches("stream_phash_maintain")
    val got = SparkEntry.queries("stream_phash_maintain")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSeq
    assert(Maintain.batches("stream_phash_maintain") >= before + 2,
      "expected the staged source to arrive in multiple micro-batches")
    assert(got == want, s"got ${got.size} pairs, want ${want.size}")
    assert(want.nonEmpty)
  }

  test("dedup_phash: planted near-identical images pair; unrelated do not") {
    import graft.functions.PHash
    import graft.multimodal.MediaCodec
    val s2 = spark.newSession()
    graft.functions.GraftFunctions.register(s2)
    val w = 40; val h = 32
    // base: smooth horizontal ramp + texture (stable cell comparisons)
    val base = Array.tabulate(w * h)(i => ((i % w) * 4 + (i / w) % 7).toByte)
    val basePay = MediaCodec.encodePgm(w, h, base)
    // global brightness +3, no clamping anywhere → EXACT same fingerprint
    // (dHash compares adjacent cell means; a uniform shift cancels)
    val brightPay = MediaCodec.encodePgm(w, h, base.map(v => (v + 3).toByte))
    // sparse speckle noise → small nonzero Hamming distance
    val noisePay = PHash.perturb(basePay)
    // unrelated: vertical ramp — reversed comparison structure
    val otherPay = MediaCodec.encodePgm(w, h,
      Array.tabulate(w * h)(i => (255 - (i % w) * 5 - (i / w)).toByte))
    import s2.implicits._
    Seq((1L, basePay), (2L, brightPay), (3L, noisePay), (4L, otherPay))
      .toDF("asset_id", "payload").createOrReplaceTempView("ph_assets_t")
    s2.sql("SELECT asset_id, phash64(payload) AS fp FROM ph_assets_t")
      .createOrReplaceTempView("phfp_t")
    val got = s2.sql(s"""WITH ${graft.ops.DedupOps.phashPairsCtes(spark = true,
        "phfp_t")}
        SELECT da, db, hamming FROM ph_pairs ORDER BY da, db""")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSeq
    val pairs = got.map(p => (p._1, p._2)).toSet
    assert(pairs.contains((1L, 2L)), s"brightness twin not paired: $got")
    assert(got.find(p => (p._1, p._2) == ((1L, 2L))).get._3 == 0,
      "uniform brightness shift must leave the fingerprint bit-identical")
    assert(pairs.contains((1L, 3L)), s"noise twin not paired: $got")
    assert(!pairs.exists(p => p._1 == 4L || p._2 == 4L),
      s"unrelated image spuriously paired: $got")
    // expression matches the independent recompute on every planted image
    val fpGot = s2.sql("SELECT asset_id, fp FROM phfp_t ORDER BY asset_id")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    def at(p: Array[Byte])(i: Int): Int = {
      val (pw, ph2, off) = MediaCodec.pgmHeader(p); require(pw == w && ph2 == h)
      p(off + i) & 0xff
    }
    Seq(1L -> basePay, 2L -> brightPay, 3L -> noisePay, 4L -> otherPay)
      .foreach { case (id, pay) =>
        assert(fpGot(id) == dhashIndependent(w, h, at(pay)),
          s"fingerprint mismatch for planted asset $id")
      }
    // clamp realism: near-saturated pixels DO shift the fingerprint under
    // a brightness push (the +3 pair above stays identical only because
    // nothing clamps)
    // decreasing ramp: left cells brighter (bits set); the +30 push
    // saturates the left plateau at 255, equalizing adjacent left cells
    // and flipping their strict-greater bits
    val hot = Array.tabulate(w * h)(i =>
      (247 - (i % w) - (i / w) % 9).toByte)
    val hotShift = hot.map(v => math.min(255, (v & 0xff) + 30).toByte)
    assert(PHash.dhash64(MediaCodec.encodePgm(w, h, hot)) !=
      PHash.dhash64(MediaCodec.encodePgm(w, h, hotShift)),
      "clamped brightness push should perturb the fingerprint")
  }

  test("dedup_vhash: keyframe fingerprint+LSH pipeline recomputed exactly") {
    val OFF = graft.functions.PHash.VariantOffset
    val docs = Tables(spark, sf, "documents").select("doc_id", "text")
      .where("doc_id % 3 = 2 AND text IS NOT NULL")
      .collect().map(r => (r.getLong(0), r.getString(1)))
    val fps = mutable.Map[Long, Long]()
    docs.foreach { case (id, text) =>
      val b = text.getBytes("UTF-8").map(_ & 0xff)
      def base(i: Int) = if (b.isEmpty) 0 else b(i % b.length)
      fps(id) = dhashIndependent(16, 16, base)
      fps(id + OFF) = dhashIndependent(16, 16,
        i => math.min(255, base(i) + (if (i % 97 < 5) 40 else 0)))
    }
    val cands = mutable.Set[(Long, Long)]()
    for (bi <- 0 to 3) {
      fps.toSeq.groupBy { case (_, fp) => (fp >> (bi * 16)) & 0xffffL }
        .values.foreach { bucket =>
          val ids = bucket.map(_._1).sorted
          if (ids.size <= 32)
            for (i <- ids.indices; j <- i + 1 until ids.size)
              cands += ((ids(i), ids(j)))
          else ids.take(2).foreach(a =>
            ids.filter(_ > a).foreach(b2 => cands += ((a, b2))))
        }
    }
    val want = cands.toSeq
      .map { case (a, b2) =>
        (a, b2, java.lang.Long.bitCount(fps(a) ^ fps(b2))) }
      .filter(_._3 <= 10).sorted
    val got = SparkEntry.queries("dedup_vhash")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSeq
    assert(got == want, s"got ${got.size} pairs, want ${want.size}; " +
      s"missing=${(want.toSet -- got).take(2)} extra=${(got.toSet -- want).take(2)}")
    assert(want.nonEmpty)
    assert(got.count { case (a, b2, _) => b2 == a + OFF } > 0,
      "no (original, speckled-twin) pair caught")
    // planted sanity through the expression itself: keyframe speckle
    // pairs, uniform brightness is invariant, later frames are ignored
    import graft.functions.VHash
    import graft.multimodal.MediaCodec
    val w = 40; val h = 32
    val ramp = Array.tabulate(w * h)(i => ((i % w) * 4 + (i / w) % 7).toByte)
    val other = Array.tabulate(w * h)(i => (255 - (i % w) * 5 - (i / w)).toByte)
    val basePay = MediaCodec.encodeY4m(w, h, Seq(ramp, other))
    assert(java.lang.Long.bitCount(VHash.khash64(basePay) ^
      VHash.khash64(VHash.perturb(basePay))) <= 10,
      "keyframe speckle must stay inside the Hamming ball")
    assert(VHash.khash64(MediaCodec.encodeY4m(w, h,
        Seq(ramp.map(v => (v + 3).toByte), ramp))) == VHash.khash64(basePay),
      "uniform keyframe brightness shift must be invariant (no clamping)")
    assert(VHash.khash64(MediaCodec.encodeY4m(w, h, Seq(other, ramp))) !=
      VHash.khash64(basePay), "different keyframes must differ")
    assert(VHash.khash64(basePay) == dhashIndependent(w, h,
      i => ramp(i) & 0xff), "keyframe hash must be the grid dHash")
  }

  /** Independent energy-envelope hash: frame means through exact BigInt
    * rational cross-multiplication, functional fold — structurally
    * different from the operator's imperative long-arithmetic pass in
    * [[graft.functions.AHash]], same mathematical definition. */
  private def ehashIndependent(n: Int, sample: Int => Int): Long = {
    def frame(f: Int): (BigInt, BigInt) = {
      val (a, b) = ((f * n.toLong / 65).toInt, ((f + 1) * n.toLong / 65).toInt)
      ((a until b).map(i => BigInt((sample(i) - 128).abs)).sum, BigInt(b - a))
    }
    (0 until 64).foldLeft(0L) { (fp, f) =>
      val ((e1, l1), (e2, l2)) = (frame(f), frame(f + 1))
      if (e1 * l2 > e2 * l1) fp | (1L << f) else fp
    }
  }

  test("dedup_ahash: full fingerprint+LSH pipeline recomputed exactly") {
    val OFF = graft.functions.PHash.VariantOffset
    val docs = Tables(spark, sf, "documents").select("doc_id", "text")
      .where("doc_id % 3 = 1 AND text IS NOT NULL")
      .collect().map(r => (r.getLong(0), r.getString(1)))
    val fps = mutable.Map[Long, Long]()
    docs.foreach { case (id, text) =>
      val b = text.getBytes("UTF-8").map(_ & 0xff)
      def base(i: Int) = b(i)
      fps(id) = ehashIndependent(b.length, base)
      fps(id + OFF) = ehashIndependent(b.length,
        i => math.min(255, base(i) + (if (i % 101 < 7) 25 else 0)))
    }
    val cands = mutable.Set[(Long, Long)]()
    for (bi <- 0 to 3) {
      fps.toSeq.groupBy { case (_, fp) => (fp >> (bi * 16)) & 0xffffL }
        .values.foreach { bucket =>
          val ids = bucket.map(_._1).sorted
          if (ids.size <= 32)
            for (i <- ids.indices; j <- i + 1 until ids.size)
              cands += ((ids(i), ids(j)))
          else ids.take(2).foreach(a =>
            ids.filter(_ > a).foreach(b2 => cands += ((a, b2))))
        }
    }
    val want = cands.toSeq
      .map { case (a, b2) =>
        (a, b2, java.lang.Long.bitCount(fps(a) ^ fps(b2))) }
      .filter(_._3 <= 10).sorted
    val got = SparkEntry.queries("dedup_ahash")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSeq
    assert(got == want, s"got ${got.size} pairs, want ${want.size}; " +
      s"missing=${(want.toSet -- got).take(2)} extra=${(got.toSet -- want).take(2)}")
    assert(want.nonEmpty)
    assert(got.count { case (a, b2, _) => b2 == a + OFF } > 0,
      "no (original, crackle-twin) pair caught")
  }

  test("dedup_ahash: planted near-identical clips pair; unrelated do not") {
    import graft.functions.AHash
    import graft.multimodal.MediaCodec
    val s2 = spark.newSession()
    graft.functions.GraftFunctions.register(s2)
    val n = 6500
    // base: rising loudness staircase + texture. Frame = 100 samples;
    // adjacent frame energies differ by ~500 (step 5 × frame length),
    // while the crackle's worst per-frame energy swing is 7 hits × 25 =
    // 175 per side — comparisons stay stable by construction, and
    // deviations sit well inside u8 so the crackle never clamps.
    val base = Array.tabulate(n)(i =>
      (128 + 5 * ((i / 100) % 13) + i % 7).toByte)
    val basePay = MediaCodec.encodeWav(base, 8000)
    val cracklePay = AHash.perturb(basePay)
    // unrelated: falling loudness — reversed envelope structure
    val otherPay = MediaCodec.encodeWav(Array.tabulate(n)(i =>
      (128 + 5 * (12 - (i / 100) % 13) + i % 7).toByte), 8000)
    import s2.implicits._
    Seq((1L, basePay), (2L, cracklePay), (3L, otherPay))
      .toDF("asset_id", "payload").createOrReplaceTempView("ah_assets_t")
    s2.sql("SELECT asset_id, ahash64(payload) AS fp FROM ah_assets_t")
      .createOrReplaceTempView("ahfp_t")
    val got = s2.sql(s"""WITH ${graft.ops.DedupOps.phashPairsCtes(spark = true,
        "ahfp_t")}
        SELECT da, db, hamming FROM ph_pairs ORDER BY da, db""")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSeq
    val pairs = got.map(p => (p._1, p._2)).toSet
    assert(pairs.contains((1L, 2L)), s"crackle twin not paired: $got")
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L),
      s"unrelated clip spuriously paired: $got")
    // expression matches the independent recompute on every planted clip
    val fpGot = s2.sql("SELECT asset_id, fp FROM ahfp_t ORDER BY asset_id")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    def at(p: Array[Byte])(i: Int): Int = {
      val (_, _, _, off, pn) = MediaCodec.wavHeader(p); require(pn == n)
      p(off + i) & 0xff
    }
    Seq(1L -> basePay, 2L -> cracklePay, 3L -> otherPay)
      .foreach { case (id, pay) =>
        assert(fpGot(id) == ehashIndependent(n, at(pay)),
          s"fingerprint mismatch for planted clip $id")
      }
    // the exact content hash CANNOT pair the crackle twin — the property
    // that makes the perceptual gate necessary
    assert(!java.util.Arrays.equals(basePay, cracklePay))
  }
}
