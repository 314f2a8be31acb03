package graft

import graft.functions.GraftFunctions
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.streaming.Maintain

class LlmOpsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val sf = TestSpark.sf

  test("vec_dot matches the interpreted HOF fold bit-for-bit") {
    GraftFunctions.register(spark)
    val e = Tables(spark, sf, "embeddings").limit(50)
    val both = e.selectExpr(
      "vec_dot(embedding, embedding) AS fast",
      s"${ops.textsql.sparkDot("embedding", "embedding")} AS slow")
    assert(both.filter(col("fast") =!= col("slow")).count() == 0)
  }

  test("BPE applyMerge handles back-to-back pair occurrences (greedy L2R)") {
    // A plain replace(" l r "→" lr ") merges only alternate occurrences of
    // adjacent repeats (the shared boundary space is consumed by the first
    // match). The space-doubling merge must match Sennrich greedy exactly:
    //   "a b a b a b"  + (a,b) → "ab ab ab"   (all three merge)
    //   "a a a a a"    + (a,a) → "aa aa a"    (non-overlapping L2R)
    //   "x a b y"      + (a,b) → "x ab y"     (plain case unchanged)
    import spark.implicits._
    val rows = Seq(
      (" a b a b a b ", "a", "b", " ab ab ab "),
      (" a a a a a ",   "a", "a", " aa aa a "),
      (" a a a a ",     "a", "a", " aa aa "),
      (" x a b y ",     "a", "b", " x ab y "),
      (" b a ",         "a", "b", " b a "))
    rows.foreach { case (in, l, r, want) =>
      val got = Seq(in).toDF("s")
        .select(ops.TextOps.applyMerge(col("s"), l, r).as("m"))
        .head().getString(0)
      assert(got == want, s"merge($in, $l+$r): got '$got' want '$want'")
    }
  }

  test("minhash LSH finds the planted near-duplicate pairs") {
    val pairs = SparkEntry.queries("dedup_minhash")(spark, sf).collect()
    assert(pairs.nonEmpty) // fixture plants ~0.98-Jaccard pairs
    pairs.foreach { r => assert(r.getDouble(r.fieldIndex("jaccard")) >= 0.5) }
  }

  test("minhash candidates approximate exact Jaccard (no false accepts)") {
    // every reported pair must share ≥ half its shingles by construction —
    // verified exactly by the op itself; here we check symmetry/ordering
    val pairs = SparkEntry.queries("dedup_minhash")(spark, sf)
    assert(pairs.filter(col("doc_a") >= col("doc_b")).count() == 0)
  }

  test("simhash: identical texts get identical fingerprints") {
    val fp = SparkEntry.queries("dedup_simhash")(spark, sf)
    assert(fp.count() == Tables(spark, sf, "documents").count())
    // near-dup docs (from minhash) have close fingerprints (hamming ≤ 8)
    val pairs = SparkEntry.queries("dedup_minhash")(spark, sf)
      .select("doc_a", "doc_b")
    val withFp = pairs
      .join(fp.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("simhash", "fa"), "doc_a")
      .join(fp.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("simhash", "fb"), "doc_b")
      .withColumn("hamming", bit_count(col("fa").bitwiseXOR(col("fb"))))
    assert(withFp.filter(col("hamming") > 8).count() == 0)
  }

  test("rolling-hash fingerprint is stable and collision-sparse") {
    val fp = SparkEntry.queries("text_fingerprint")(spark, sf)
    val n = fp.count()
    val distinct = fp.select("fp").distinct().count()
    assert(distinct >= n - 5) // only true dup texts may collide
  }

  test("sim_topk returns k ranked neighbors per query, self excluded") {
    val topk = SparkEntry.queries("sim_topk")(spark, sf)
    assert(topk.filter(col("qa") === col("vb")).count() == 0)
    val perQuery = topk.groupBy("qa").count()
    assert(perQuery.filter(col("count") =!= 5).count() == 0)
    // ranks are dense 1..5 and cosine non-increasing within a query
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("qa").orderBy("rnk")
    val bad = topk.withColumn("prev", lag("cos", 1).over(w))
      .filter(col("prev").isNotNull && col("cos") > col("prev"))
    assert(bad.count() == 0)
  }

  test("text_quality scores are in [0, 1] and ttr sane") {
    val q = SparkEntry.queries("text_quality")(spark, sf)
    assert(q.filter(col("quality") < 0 || col("quality") > 1).count() == 0)
    assert(q.filter(col("ttr") <= 0 || col("ttr") > 1).count() == 0)
  }

  test("band-bucket star cap: planted giant clique stays ONE cluster, linear pairs") {
    // The r10 skew overlay's pathological shape: one LSH band bucket far
    // past DedupOps.BandBucketCap (32). The capped candidate step must
    // (a) keep the clique fully connected through the star pairs, and
    // (b) emit LINEARLY many pairs for it, not C(n,2).
    import spark.implicits._
    val base = Tables(spark, sf, "documents")
    val maxId = base.agg(max("doc_id")).head.getLong(0)
    val dupText = Seq.fill(12)(
      "the quick onyx goblin jumps over the lazy dwarf").mkString(" ")
    val n = 48L
    val planted = spark.range(1, n + 1).select(
      (col("id") + maxId).as("doc_id"), lit(dupText).as("text"),
      lit("en").as("lang"), lit("planted").as("source"),
      lit(dupText.length.toLong).as("n_chars"))
    val dir = graft.Staging.fresh("starcap-docs")
    base.unionByName(planted).write.mode("overwrite")
      .parquet(s"$dir/documents.parquet")
    val clusters = SparkEntry.queries("dedup_cluster")(spark, dir)
      .filter(col("doc_id") > maxId).collect()
    assert(clusters.length == n,
      s"expected all $n planted docs clustered, got ${clusters.length}")
    val labels = clusters.map(_.getLong(0)).toSet // cluster_rep column
    assert(labels.size == 1, s"clique split across clusters: $labels")
    val cliquePairs = SparkEntry.queries("dedup_minhash")(spark, dir)
      .filter(col("doc_a") > maxId && col("doc_b") > maxId).count()
    assert(cliquePairs < 3 * n,
      s"quadratic pair mass survived the cap: $cliquePairs pairs")
  }

  test("dedup_cluster is a fixpoint consistent with the pair graph") {
    val cl = SparkEntry.queries("dedup_cluster")(spark, sf)
      .select(col("doc_id"), col("cluster_rep"))
    val pairs = SparkEntry.queries("dedup_minhash")(spark, sf)
    // every near-dup pair landed in the same cluster (8 unrolled iterations
    // actually converged on this graph)
    val bad = pairs
      .join(cl.withColumnRenamed("doc_id", "doc_a")
        .withColumnRenamed("cluster_rep", "ra"), "doc_a")
      .join(cl.withColumnRenamed("doc_id", "doc_b")
        .withColumnRenamed("cluster_rep", "rb"), "doc_b")
      .filter(col("ra") =!= col("rb"))
    assert(bad.count() == 0)
    // the representative is the minimum member of its own cluster
    val notMin = cl.groupBy("cluster_rep").agg(min("doc_id").as("mn"))
      .filter(col("mn") =!= col("cluster_rep"))
    assert(notMin.count() == 0)
    assert(cl.count() > 0)
  }

  test("clusterLabels: partitioned loop + reliable checkpoint ≡ single-partition path") {
    // Pair set big enough to exercise the partitioned branch under a tiny
    // limit override: 3000 two-node components + a few 8-chains (hook+jump
    // converges a diameter-7 chain well within 4 rounds).
    import spark.implicits._
    val pairs = ((1L to 3000L).map(i => (2 * i, 2 * i + 1)) ++
      (0L until 5L).flatMap(c => (0L until 7L)
        .map(j => (100000L + 10 * c + j, 100000L + 10 * c + j + 1))))
      .toDF("da", "db")
    def labels(df: org.apache.spark.sql.DataFrame) =
      ops.DedupOps.clusterLabels(df, 4).collect()
        .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    val base = labels(pairs) // defaults: single-partition, localCheckpoint
    val before = ops.DedupOps.partitionedClusterRuns.get()
    try {
      spark.conf.set("graft.dedup.singlePartitionPairLimit", "10")
      spark.conf.set("graft.dedup.reliableCheckpoint", "true")
      val part = labels(pairs)
      assert(ops.DedupOps.partitionedClusterRuns.get() > before,
        "partitioned branch did not fire")
      assert(part == base, "partitioned/reliable labels differ from baseline")
    } finally {
      spark.conf.unset("graft.dedup.singlePartitionPairLimit")
      spark.conf.unset("graft.dedup.reliableCheckpoint")
    }
    // and the labeling is a FIXPOINT: every pair connected, labels are
    // component minima
    val lblMap = base.toMap
    pairs.collect().foreach { r =>
      assert(lblMap(r.getLong(0)) == lblMap(r.getLong(1)))
    }
    assert(base.groupBy(_._2).forall { case (l, m) => m.map(_._1).min == l })
  }

  test("text_decontaminate flags only train docs, with verifiable overlap") {
    val hits = SparkEntry.queries("text_decontaminate")(spark, sf).collect()
    assert(hits.nonEmpty) // fixture has cross-holdout 5-gram leakage at every SF
    hits.foreach { r =>
      assert(r.getLong(0) % 17 != 0, s"eval doc ${r.getLong(0)} flagged as train")
      assert(r.getLong(1) >= 1 && r.getLong(2) >= 1)
    }
    // re-derive one flagged doc's overlap directly and match the counts
    val d = hits.head.getLong(0)
    val sh = Tables(spark, sf, "documents")
      .selectExpr("doc_id", s"explode(${ops.textsql.sparkShinglesW(ops.textsql.sparkToks("text"), 5)}) AS s")
      .filter(col("doc_id") % 17 === 0 || col("doc_id") === d).distinct()
    val shared = sh.filter(col("doc_id") === d).select("s")
      .intersect(sh.filter(col("doc_id") % 17 === 0).select("s"))
    assert(shared.count() == hits.head.getLong(1))
  }

  test("stream_minhash_maintain folds corpus slices to the exact batch pair set") {
    val before = Maintain.batches("stream_minhash_maintain")
    val maintained = SparkEntry.queries("stream_minhash_maintain")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    val nBatches = Maintain.batches("stream_minhash_maintain") - before
    assert(nBatches >= 2, s"expected multiple micro-batches, saw $nBatches")
    val full = SparkEntry.queries("dedup_minhash")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(maintained == full, "maintained pair set ≠ batch MinHash pipeline")
  }

  test("stream_substring_maintain folds corpus slices to the exact batch report") {
    val before = Maintain.batches("stream_substring_maintain")
    val maintained = SparkEntry.queries("stream_substring_maintain")(spark, sf)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5), r.getDouble(6))).toSeq
    val nBatches = Maintain.batches("stream_substring_maintain") - before
    assert(nBatches >= 2, s"expected multiple micro-batches, saw $nBatches")
    val full = SparkEntry.queries("text_dedup_report")(spark, sf)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5), r.getDouble(6))).toSeq
    assert(maintained == full,
      "maintained report ≠ batch substring-dedup report")
    // non-vacuous: retroactive flips must actually have occurred — some
    // passage mass spans slices (doc_id-range slicing + cross-doc passages)
    assert(full.exists(_._4 > 0), "no duplicated passage mass — vacuous")
  }

  test("text_filter verdicts partition the corpus with auditable reasons") {
    val f = SparkEntry.queries("text_filter")(spark, sf)
    val verdicts = f.select("verdict").distinct().collect().map(_.getString(0)).toSet
    assert(verdicts.subsetOf(Set("keep", "too_short", "too_long",
      "repetitive", "no_language")))
    assert(f.filter(col("verdict") === "keep").count() > 0)
    // every doc got exactly one verdict
    assert(f.count() == f.select("doc_id").distinct().count())
  }
}
