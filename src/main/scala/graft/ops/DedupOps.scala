package graft.ops

import graft.{Op, OpModule, Tables}
import graft.functions.GraftFunctions
import graft.streaming.Maintain
import org.apache.spark.sql.functions._
import textsql._

/** Deduplication family (SURVEY.md §2.11; driver north star): exact,
  * MinHash+LSH, SimHash, blocked n-gram Jaccard, embedding-cosine near-dup.
  *
  * Scale design: every variant is blocked/bucketed so candidate generation is
  * an EQUI-join (shuffle-hash on the bucket key), never an all-pairs loop:
  *   - minhash: LSH band signature equality (2 bands × 4 rows over an 8-hash
  *     signature) → candidates → exact shingle-Jaccard verify of candidates;
  *   - ngram: shingle-match join blocked by document-length bucket (±1);
  *   - embed: sign-bit LSH bucket (6 bits) + label as the join key.
  * At 100 TB the only change is bucket granularity; no operator here holds
  * more than one bucket's pairs in an executor at a time. */
object DedupOps extends OpModule {

  /** Band signature (doc_id, b0, b1) for the docs in `docsRel` — the
    * per-batch step of the streaming dedup-index maintenance; same hash
    * family and band layout as [[minhashCtes]], Spark dialect only. */
  private def bandsSql(docsRel: String): String = s"""
    WITH sh AS (SELECT doc_id, s FROM (
        SELECT doc_id, explode(${sparkShingles("toks")}) AS s FROM (
          SELECT doc_id, ${sparkToks("text")} AS toks FROM $docsRel
          WHERE size(${sparkToks("text")}) >= 3) t) x),
    hs AS (SELECT doc_id, ${sparkHash("s")} AS h FROM sh),
    -- sh deliberately NOT deduplicated here (unlike minhashCtes, whose sh
    -- feeds set-semantics consumers): sig's per-doc MIN is idempotent
    -- under duplicate shingles, so the DISTINCT exchange the batch
    -- pipeline pays buys nothing on this signature-only path (r17)
    sig AS (SELECT doc_id, $minCols FROM hs GROUP BY doc_id)
    SELECT doc_id,
      concat_ws('_', CAST(m0 AS STRING), CAST(m1 AS STRING), CAST(m2 AS STRING), CAST(m3 AS STRING)) AS b0,
      concat_ws('_', CAST(m4 AS STRING), CAST(m5 AS STRING), CAST(m6 AS STRING), CAST(m7 AS STRING)) AS b1
    FROM sig"""

  /** Candidate-doc shingles: the doc filter sits in the INNERMOST
    * subquery, before tokenization (r16 — the previous form semi-joined
    * the fully-derived corpus shingle set, betting on Catalyst pushing
    * the semi-join below the tokenize projection; written this way the
    * per-batch tokenize+shingle explode is candidate-bounded by
    * construction). Materialized (cut) per batch before [[candVerifySql]]
    * runs, because that query reads the shingle set three times (two
    * intersection legs + sizes) and Spark inlines view references. */
  /** Candidate docs (id, text), the broadcast semi-join probe over the
    * corpus — registered per batch as `mh_cdocs` AFTER a [[graft.util.fan]]
    * so the tokenize+shingle explode of [[candShinglesSql]] runs wide (the
    * semi-join output otherwise stays in the corpus scan's task layout —
    * one task at bench SF). Candidate-bounded by construction, so the fan
    * exchange moves only the batch's candidate texts at any corpus size. */
  private def candDocsSql: String = s"""
    SELECT /*+ BROADCAST(mhc) */ d.doc_id, d.text
    FROM documents d
    LEFT SEMI JOIN (SELECT da AS doc_id FROM mh_cand
      UNION SELECT db FROM mh_cand) mhc ON mhc.doc_id = d.doc_id"""

  private def candShinglesSql: String = s"""
    SELECT doc_id, s FROM (
      SELECT doc_id, explode(${sparkShingles("toks")}) AS s FROM (
        SELECT doc_id, ${sparkToks("text")} AS toks
        FROM mh_cdocs
        WHERE size(${sparkToks("text")}) >= 3) t) x
    GROUP BY doc_id, s"""

  /** Exact shingle-Jaccard verify of the `mh_cand` (da, db) candidates
    * over the materialized `mh_sh` candidate shingles — the tail of
    * [[minhashCtes]] with the candidate set injected; Spark dialect only.
    * Every relation here is a per-batch frame, candidate-bounded by
    * construction (mh_cand is the batch's LSH/star-capped pair set, mh_sh
    * its docs' shingles), so the broadcast hints pin the per-batch
    * broadcast — the same discipline as candOn. */
  private def candVerifySql: String = s"""
    WITH sizes AS (SELECT doc_id, COUNT(*) AS n FROM mh_sh GROUP BY doc_id),
    inter AS (SELECT /*+ BROADCAST(c, sb) */ c.da, c.db, COUNT(*) AS i
      FROM mh_cand c
      JOIN mh_sh sa ON sa.doc_id = c.da
      JOIN mh_sh sb ON sb.doc_id = c.db AND sb.s = sa.s
      GROUP BY c.da, c.db)
    SELECT /*+ BROADCAST(na, nb) */ da, db, i AS n_common,
      CAST(i AS DOUBLE) / CAST(na.n + nb.n - i AS DOUBLE) AS jaccard
    FROM inter JOIN sizes na ON na.doc_id = da
    JOIN sizes nb ON nb.doc_id = db
    WHERE CAST(i AS DOUBLE) / CAST(na.n + nb.n - i AS DOUBLE) >= 0.5"""

  /** Distinct (doc_id, 3-word-shingle) pairs — the unit of minhash/ngram. */
  private def sparkShingleSql: String = sparkShingleSqlFrom("documents")
  private def sparkShingleSqlFrom(rel: String) =
    s"""SELECT DISTINCT doc_id, n_chars, s FROM (
       SELECT doc_id, n_chars, explode(${sparkShingles("toks")}) AS s FROM (
         SELECT doc_id, n_chars, ${sparkToks("text")} AS toks FROM $rel
         WHERE size(${sparkToks("text")}) >= 3) t) x"""
  private def duckShingleSql =
    s"""SELECT DISTINCT doc_id, n_chars, s FROM (
       SELECT doc_id, n_chars, unnest(${duckShingles("toks")}) AS s FROM (
         SELECT doc_id, n_chars, ${duckToks("text")} AS toks FROM documents
         WHERE len(${duckToks("text")}) >= 3) t) x"""

  /** Shingles stay INLINE on the Spark side (re-derived per reference):
    * a materialized shingle view was measured 4× SLOWER for dedup_minhash —
    * the cached relation's accurate ~50 MB size pushes the shingle joins
    * off the broadcast path that Catalyst's optimistic inline estimates
    * allow, and the SMJ sorts cost far more than the repeated explode. */
  private def shingleFrom(s: org.apache.spark.sql.SparkSession, dir: String): String = {
    Tables(s, dir, "documents").createOrReplaceTempView("documents")
    // spread (guide §2.5): the tokenize+shingle explode otherwise runs in
    // the one-task scan of the single-row-group documents file — and
    // dedup_ngram references its shingle CTE twice (both join sides), so
    // BOTH inlined copies were serial. The two copies of the spread
    // exchange dedupe via exchange reuse (identical subplan).
    graft.util.spread(Tables(s, dir, "documents")
        .select("doc_id", "n_chars", "text"), col("doc_id"))
      .createOrReplaceTempView("docs_spread")
    s"(${sparkShingleSqlFrom("docs_spread")}) q"
  }

  /** Giant-band-bucket candidate cap (shared by both SQL dialects; the
    * oracle replays the same rule, so the gate stays exact for ANY input):
    * a band bucket of n docs normally contributes all C(n,2) candidate
    * pairs; past this size it contributes the ≤2(n−1) STAR pairs to its
    * TWO smallest doc_ids instead. Connectivity for clustering is
    * preserved (a true dup clique's star edges all pass the exact-Jaccard
    * verify, so union-find still joins the whole clique); what's bounded
    * is the QUADRATIC candidate mass a pathological bucket would otherwise
    * feed the verify join — the r10 skew overlay's planted 2% clique put
    * one ~4× blowup into the pair-index ingest. Both anchors come from ONE
    * ordered window pass per band (FIRST_VALUE + NTH_VALUE(2) + COUNT over
    * the full-partition frame; doc_id is unique per band row, so the 2nd
    * ordered value IS the second-smallest id) — r12 computed min then
    * second-min in two stacked passes, +~25% on the dedup family's floor
    * key (r12 verdict watch item). TWO anchors, not one
    * (r11 ADVICE): a band bucket can contain an OUTSIDER whose minhash
    * bands collide without real shingle overlap, and if that outsider is
    * the bucket's min doc_id a single-anchor star dies entirely at the
    * exact-Jaccard verify — silent zero recall from that bucket. With
    * independent stars on the two smallest ids, one bad anchor degrades
    * to the other star instead of zeroing the bucket. Still linear in
    * bucket size, loudly logged per build rather than silently quadratic;
    * recall within an oversized bucket remains star-shaped (each true
    * pair still has every OTHER band to collide in). */
  private val BandBucketCap = 32

  /** Band signatures (doc_id, b0, b1) materialized once per (session,
    * dir): the capped candidate step references the band relation six
    * times (two self-join sides + bucket-size windows per band), and
    * Spark inlines CTE references — uncached, each reference would re-run
    * the whole shingle→minhash pipeline. Doc-count-sized (two short
    * strings per doc), so unlike the shingle view (see above) caching it
    * cannot perturb the verify joins' broadcast planning. */
  private def bandsView(s: org.apache.spark.sql.SparkSession, dir: String): String =
    graft.Views.materialize(s, dir, "mhbands",
      s"""WITH ${minhashCtes(spark = true, shingleFrom(s, dir),
          bandsOnly = true)}
        SELECT doc_id, b0, b1 FROM bands""")

  /** The verified near-dup PAIR SET, materialized once per (session, dir)
    * and shared by dedup_minhash and dedup_cluster — the full MinHash
    * pipeline ran twice otherwise (~2.5 s each at sf0.1). Unlike the
    * shingle view (see above), this is the tiny END product (hundreds of
    * rows), so caching it cannot perturb upstream join planning. */
  private def pairsView(s: org.apache.spark.sql.SparkSession, dir: String): String = {
    val bands = bandsView(s, dir)
    // Loud degradation: name the oversized buckets the star cap engages on.
    val giants = s.sql(s"""SELECT n FROM (
        SELECT b0 AS b, COUNT(*) AS n FROM $bands GROUP BY 1
        UNION ALL SELECT b1, COUNT(*) FROM $bands GROUP BY 1) t
      WHERE n > $BandBucketCap""").count()
    if (giants > 0) System.err.println(
      s"[dedup] $giants band buckets exceed $BandBucketCap docs — " +
        "candidate generation star-capped for those buckets")
    graft.Views.materialize(s, dir, "mhpairs",
      s"""WITH ${minhashCtes(spark = true, shingleFrom(s, dir),
          sparkBands = Some(bands))}
        SELECT da, db, n_common, jaccard FROM pairs""")
  }

  /** WITH-clause prefix ending in `pairs(da, db, n_common, jaccard)` — the
    * MinHash→LSH-band→exact-verify near-dup pairs, emitted in either SQL
    * dialect; shared by dedup_minhash (reports the pairs) and dedup_cluster
    * (connects them into components). `shFrom` is the shingle source: the
    * materialized view (Spark) or the inline subquery (DuckDB). */
  /** The 8 affine-minhash aggregate columns (shared by the batch pipeline
    * and the streaming maintenance's per-batch signature step). */
  private val minCols = A.zipWithIndex
    .map { case (a, i) => s"MIN(($a * h + ${i + 1}) % $P) AS m$i" }
    .mkString(", ")

  /** CTE chain of the MinHash pipeline. `bandsOnly` stops after `bands`
    * (for materializing the band view); `sparkBands` splices a
    * pre-materialized band relation in place of recomputing the pipeline
    * per reference (Spark inlines CTEs; DuckDB's MATERIALIZED doesn't
    * need it). Candidate generation is [[BandBucketCap]]-capped in BOTH
    * dialects: small buckets emit all pairs, oversized buckets emit star
    * pairs to the bucket's min doc_id — the self-join sides are filtered
    * to small buckets BEFORE joining, so the quadratic intermediate never
    * materializes. */
  private def minhashCtes(spark: Boolean, shFrom: String,
      sparkBands: Option[String] = None, bandsOnly: Boolean = false): String = {
    val mat = if (spark) "" else "MATERIALIZED "
    val str = if (spark) "STRING" else "VARCHAR"
    val hash = if (spark) sparkHash("s") else duckHash("s")
    val head = s"""sh AS ${mat}(SELECT doc_id, s FROM $shFrom),
      hs AS (SELECT doc_id, $hash AS h FROM sh),
      sig AS ${mat}(SELECT doc_id, $minCols FROM hs GROUP BY doc_id),
      bands AS ${mat}(SELECT doc_id,
        concat_ws('_', CAST(m0 AS $str), CAST(m1 AS $str), CAST(m2 AS $str), CAST(m3 AS $str)) AS b0,
        concat_ws('_', CAST(m4 AS $str), CAST(m5 AS $str), CAST(m6 AS $str), CAST(m7 AS $str)) AS b1
        FROM sig)"""
    if (bandsOnly) return head
    val bsrc = sparkBands.getOrElse("bands")
    val cap = BandBucketCap
    head + s""",
      bstat AS ${mat}(SELECT doc_id, b0, b1,
        COUNT(*) OVER wb0 AS n0,
        FIRST_VALUE(doc_id) OVER wb0 AS a0,
        NTH_VALUE(doc_id, 2) OVER wb0 AS s0,
        COUNT(*) OVER wb1 AS n1,
        FIRST_VALUE(doc_id) OVER wb1 AS a1,
        NTH_VALUE(doc_id, 2) OVER wb1 AS s1
        FROM $bsrc
        WINDOW wb0 AS (PARTITION BY b0 ORDER BY doc_id
          ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING),
        wb1 AS (PARTITION BY b1 ORDER BY doc_id
          ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)),
      cand AS (
        SELECT a.doc_id AS da, b.doc_id AS db FROM bstat a JOIN bstat b
          ON a.b0 = b.b0 AND a.doc_id < b.doc_id WHERE a.n0 <= $cap
        UNION
        SELECT a0, doc_id FROM bstat WHERE n0 > $cap AND doc_id > a0
        UNION
        SELECT s0, doc_id FROM bstat WHERE n0 > $cap AND doc_id > s0
        UNION
        SELECT a.doc_id, b.doc_id FROM bstat a JOIN bstat b
          ON a.b1 = b.b1 AND a.doc_id < b.doc_id WHERE a.n1 <= $cap
        UNION
        SELECT a1, doc_id FROM bstat WHERE n1 > $cap AND doc_id > a1
        UNION
        SELECT s1, doc_id FROM bstat WHERE n1 > $cap AND doc_id > s1),
      sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
      inter AS (SELECT c.da, c.db, COUNT(*) AS i FROM cand c
        JOIN sh sa ON sa.doc_id = c.da
        JOIN sh sb ON sb.doc_id = c.db AND sb.s = sa.s
        GROUP BY c.da, c.db),
      pairs AS (SELECT da, db, i AS n_common,
        CAST(i AS DOUBLE) / CAST(na.n + nb.n - i AS DOUBLE) AS jaccard
        FROM inter JOIN sizes na ON na.doc_id = da
        JOIN sizes nb ON nb.doc_id = db
        WHERE CAST(i AS DOUBLE) / CAST(na.n + nb.n - i AS DOUBLE) >= 0.5)"""
  }

  /** DuckDB oracle chain: `rounds` hook+jump rounds of min-label
    * propagation over the symmetric pair graph — hook adopts the minimum
    * label in the closed neighborhood, jump then follows the label pointer
    * one level (l(x) ← min(l(x), l(l(x)))), so effective reach grows
    * geometrically, not linearly. Each step MUST be MATERIALIZED — steps
    * reference their predecessor twice, and an inlining planner would
    * duplicate the whole upstream MinHash pipeline 2^rounds times. (That is
    * exactly why the SPARK side of dedup_cluster is a DataFrame loop with
    * checkpointed generations, not this SQL: Spark inlines multi-referenced
    * CTEs.) Identical algebra in both engines ⇒ hash-comparable independent
    * of convergence; a fixpoint assertion lives in LlmOpsSpec. */
  private def clusterChain(rounds: Int): String = {
    val und =
      "cund AS MATERIALIZED (SELECT da AS a, db AS b FROM pairs UNION ALL SELECT db, da FROM pairs)"
    val l0 = "cl0 AS MATERIALIZED (SELECT DISTINCT a AS id, a AS lbl FROM cund)"
    val steps = (1 to rounds).flatMap { i =>
      Seq(
        s"""ch$i AS MATERIALIZED (SELECT l.id, LEAST(l.lbl, COALESCE(MIN(p.lbl), l.lbl)) AS lbl
           FROM cl${i - 1} l LEFT JOIN cund u ON u.a = l.id
           LEFT JOIN cl${i - 1} p ON p.id = u.b GROUP BY l.id, l.lbl)""",
        s"""cl$i AS MATERIALIZED (SELECT h.id, LEAST(h.lbl, COALESCE(h2.lbl, h.lbl)) AS lbl
           FROM ch$i h LEFT JOIN ch$i h2 ON h2.id = h.lbl)""")
    }
    (Seq(und, l0) ++ steps).mkString(", ")
  }

  /** The hook+jump pair-CC kernel lives in [[graft.graph.PairCC]] (shared
    * with incremental CC maintenance); these forwarders keep the dedup
    * naming for the op/spec call sites. */
  private[graft] def clusterLabels(pairs: org.apache.spark.sql.DataFrame,
      rounds: Int): org.apache.spark.sql.DataFrame =
    graft.graph.PairCC.labels(pairs, rounds)
  private[graft] def partitionedClusterRuns = graft.graph.PairCC.partitionedRuns

  /** Perceptual image near-dup thresholds (see [[graft.functions.PHash]]
    * and the dedup_phash op): two fingerprints are near-dups within
    * Hamming distance ≤ [[PHashHamming]]; candidates come from equality on
    * any of the 4 × 16-bit fingerprint bands (by pigeonhole, any pair
    * within distance 3 collides on at least one band; pairs up to the full
    * threshold are found whenever their flipped bits leave one band clean
    * — standard Hamming-ball LSH recall semantics, identical both engines). */
  private val PHashHamming = 10

  /** Fingerprints (asset_id, fp) of the image corpus + its deterministic
    * noise-perturbed twin (asset_id + PHash.VariantOffset), materialized
    * once per (session, dir): the band/pair tail references the relation
    * three times and Spark inlines view references — uncached, each
    * reference would re-encode and re-fingerprint the corpus. The corpus
    * mirrors Multimodal.assets' image leg (same deterministic PGM encode
    * of the document bytes) plus the perturbed re-scan a crawler produces
    * — the planted near-identical-image mass the perceptual gate must
    * catch and exact binary dedup (multimodal_dedup) provably cannot. */
  /** The image-asset relation (originals + deterministic perturbed twins)
    * the perceptual keys fingerprint — shared by the batch pipeline
    * (phashFpView) and stream_phash_maintain's staged source. */
  private def phashAssetsDf(s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame = {
    graft.functions.GraftFunctions.register(s)
    import s.implicits._
    Tables(s, dir, "documents")
      .where("doc_id % 3 = 0 AND text IS NOT NULL")
      .select("doc_id", "text").as[(Long, String)]
      .flatMap { case (id, text) =>
        val pay = graft.multimodal.MediaCodec.encode(
          "image", id, text.getBytes("UTF-8"))
        Seq((id, pay),
          (id + graft.functions.PHash.VariantOffset,
            graft.functions.PHash.perturb(pay)))
      }.toDF("asset_id", "payload")
  }

  private def phashFpView(s: org.apache.spark.sql.SparkSession,
      dir: String): String =
    graft.Views.materialize(s, dir, "phfp", {
      phashAssetsDf(s, dir).createOrReplaceTempView("ph_assets")
      "SELECT asset_id, phash64(payload) AS fp FROM ph_assets"
    })

  /** CTE chain `bnd → bstat → cand → ph_pairs` of the perceptual near-dup
    * pipeline over a fingerprint relation `fpRel(asset_id, fp)`, in either
    * SQL dialect. Candidates are an EQUI-join on (band index, 16-bit band
    * value) — never all-pairs; oversized band buckets degrade to the same
    * two-anchor star cap as [[minhashCtes]] (a bucket of k identical
    * images contributes ≤ 2(k−1) star pairs instead of C(k,2), and the
    * oracle replays the identical rule so the gate stays exact for ANY
    * input). Shift-then-mask band extraction is fill-bit-agnostic
    * (& 65535 discards arithmetic/logical shift differences), so the two
    * engines agree on every band of a negative (bit-63-set) fingerprint. */
  private[graft] def phashPairsCtes(spark: Boolean, fpRel: String): String = {
    val bis = if (spark) "(SELECT explode(sequence(0, 3)) AS bi) bis"
              else "generate_series(0, 3) bis(bi)"
    val band = if (spark) "shiftright(fp, CAST(bis.bi * 16 AS INT)) & 65535"
               else "(fp >> CAST(bis.bi * 16 AS INTEGER)) & 65535"
    def ham(a: String, b: String) =
      if (spark) s"bit_count($a ^ $b)" else s"bit_count(xor($a, $b))"
    val cap = BandBucketCap
    s"""bnd AS (SELECT asset_id, bis.bi AS bi, $band AS bv
      FROM $fpRel, $bis),
    bstat AS (SELECT asset_id, bi, bv,
      COUNT(*) OVER w AS nb,
      FIRST_VALUE(asset_id) OVER w AS a1,
      NTH_VALUE(asset_id, 2) OVER w AS a2
      FROM bnd
      WINDOW w AS (PARTITION BY bi, bv ORDER BY asset_id
        ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)),
    cand AS (
      SELECT a.asset_id AS da, b.asset_id AS db FROM bstat a JOIN bstat b
        ON a.bi = b.bi AND a.bv = b.bv AND a.asset_id < b.asset_id
        WHERE a.nb <= $cap
      UNION SELECT a1, asset_id FROM bstat WHERE nb > $cap AND asset_id > a1
      UNION SELECT a2, asset_id FROM bstat WHERE nb > $cap AND asset_id > a2),
    ph_pairs AS (SELECT c.da, c.db,
      CAST(${ham("fa.fp", "fb.fp")} AS INTEGER) AS hamming
      FROM cand c JOIN $fpRel fa ON fa.asset_id = c.da
      JOIN $fpRel fb ON fb.asset_id = c.db
      WHERE ${ham("fa.fp", "fb.fp")} <= $PHashHamming)"""
  }

  /** The UNCAPPED variant of [[phashPairsCtes]] — every band-colliding
    * pair, no star degradation. This is stream_phash_maintain's contract:
    * a pair surfaces exactly once (when its later asset arrives), so any
    * slicing folds to THIS exact set — the batch key's star cap is keyed
    * on FINAL bucket sizes and would be order-dependent under slicing.
    * Giant buckets degrade per-batch probe cost instead (loudly — the
    * audit belongs to the batch report; a deployment caps stored-bucket
    * fan-out at ingest the way the batch key caps candidate generation). */
  private[graft] def phashPairsUncappedCtes(spark: Boolean,
      fpRel: String): String = {
    val bis = if (spark) "(SELECT explode(sequence(0, 3)) AS bi) bis"
              else "generate_series(0, 3) bis(bi)"
    val band = if (spark) "shiftright(fp, CAST(bis.bi * 16 AS INT)) & 65535"
               else "(fp >> CAST(bis.bi * 16 AS INTEGER)) & 65535"
    def ham(a: String, b: String) =
      if (spark) s"bit_count($a ^ $b)" else s"bit_count(xor($a, $b))"
    s"""bnd AS (SELECT asset_id, bis.bi AS bi, $band AS bv
      FROM $fpRel, $bis),
    cand AS (SELECT DISTINCT a.asset_id AS da, b.asset_id AS db
      FROM bnd a JOIN bnd b ON a.bi = b.bi AND a.bv = b.bv
        AND a.asset_id < b.asset_id),
    ph_pairs AS (SELECT c.da, c.db,
      CAST(${ham("fa.fp", "fb.fp")} AS INTEGER) AS hamming
      FROM cand c JOIN $fpRel fa ON fa.asset_id = c.da
      JOIN $fpRel fb ON fb.asset_id = c.db
      WHERE ${ham("fa.fp", "fb.fp")} <= $PHashHamming)"""
  }

  /** DuckDB-only closed-form recompute of the fingerprint relation: the
    * oracle cannot run the JVM decode, so it re-derives every pixel from
    * the documents table and the deterministic encoding parameters
    * (multimodal_decode precedent) — pixel (x, y) of image doc_id is the
    * document's byte ((y·w+x) mod n), the variant adds the sparse-noise
    * term, cell sums come from nested list folds, and the 64 comparison
    * bits assemble through a HUGEINT sum wrapped back to the BIGINT the
    * JVM fingerprint naturally produces when bit 63 is set. */
  private def duckPhashFpCtes: String = s"""
    phpb AS MATERIALIZED (
      SELECT doc_id + CASE WHEN var = 1
          THEN ${graft.functions.PHash.VariantOffset}::BIGINT
          ELSE 0 END AS asset_id,
        CAST(16 + doc_id % 32 AS BIGINT) AS w,
        CAST(16 + doc_id % 24 AS BIGINT) AS h,
        CAST(octet_length(encode(text)) AS BIGINT) AS n,
        list_transform(generate_series(1, length(text)),
          i -> CAST(ascii(substr(text, i, 1)) AS BIGINT)) AS lb,
        var
      FROM documents, generate_series(0, 1) vs(var)
      WHERE doc_id % 3 = 0 AND text IS NOT NULL),
    phcells AS MATERIALIZED (
      SELECT asset_id, gxs.gx AS gx, gys.gy AS gy,
        ((gxs.gx+1)*w//9 - gxs.gx*w//9) * ((gys.gy+1)*h//8 - gys.gy*h//8) AS area,
        list_sum(flatten(list_transform(
          generate_series(gys.gy*h//8, (gys.gy+1)*h//8 - 1),
          y -> list_transform(generate_series(gxs.gx*w//9, (gxs.gx+1)*w//9 - 1),
            x -> least(255, lb[CAST((y*w+x) % n AS INTEGER) + 1] +
              CASE WHEN var = 1 AND (y*w+x) % 97 < 5 THEN 40 ELSE 0 END))))) AS s
      FROM phpb, generate_series(0, 8) gxs(gx), generate_series(0, 7) gys(gy)),
    phfp AS MATERIALIZED (
      SELECT asset_id, CAST(CASE WHEN f >= 9223372036854775808::HUGEINT
          THEN f - 18446744073709551616::HUGEINT ELSE f END AS BIGINT) AS fp
      FROM (
        SELECT a.asset_id,
          COALESCE(SUM(CASE WHEN a.s * b.area > b.s * a.area
            THEN (1::HUGEINT << CAST(a.gy*8 + a.gx AS INTEGER))
            ELSE 0::HUGEINT END), 0::HUGEINT) AS f
        FROM phcells a JOIN phcells b ON b.asset_id = a.asset_id
          AND b.gy = a.gy AND b.gx = a.gx + 1
        GROUP BY a.asset_id) t)"""

  /** Video-fingerprint twin of [[phashFpView]]: (asset_id, fp) of the
    * video corpus (doc_id % 3 = 2 — the third modality slice, disjoint
    * from images and audio) + its deterministic keyframe-speckled twin. */
  private def vhashFpView(s: org.apache.spark.sql.SparkSession,
      dir: String): String =
    graft.Views.materialize(s, dir, "vhfp", {
      graft.functions.GraftFunctions.register(s)
      import s.implicits._
      Tables(s, dir, "documents")
        .where("doc_id % 3 = 2 AND text IS NOT NULL")
        .select("doc_id", "text").as[(Long, String)]
        .flatMap { case (id, text) =>
          val pay = graft.multimodal.MediaCodec.encode(
            "video", id, text.getBytes("UTF-8"))
          Seq((id, pay),
            (id + graft.functions.PHash.VariantOffset,
              graft.functions.VHash.perturb(pay)))
        }.toDF("asset_id", "payload")
        .createOrReplaceTempView("vh_assets")
      "SELECT asset_id, vhash64(payload) AS fp FROM vh_assets"
    })

  /** DuckDB-only closed-form recompute of the keyframe fingerprints: the
    * fixture's video encode is a fixed 16×16 luma with pixel (x, y) =
    * document byte ((y·16+x) mod n) on EVERY frame, so the keyframe dHash
    * is [[duckPhashFpCtes]]'s cell algebra with constant dimensions. */
  private def duckVhashFpCtes: String = s"""
    vhpb AS MATERIALIZED (
      SELECT doc_id + CASE WHEN var = 1
          THEN ${graft.functions.PHash.VariantOffset}::BIGINT
          ELSE 0 END AS asset_id,
        CAST(octet_length(encode(text)) AS BIGINT) AS n,
        list_transform(generate_series(1, length(text)),
          i -> CAST(ascii(substr(text, i, 1)) AS BIGINT)) AS lb,
        var
      FROM documents, generate_series(0, 1) vs(var)
      WHERE doc_id % 3 = 2 AND text IS NOT NULL),
    vhcells AS MATERIALIZED (
      SELECT asset_id, gxs.gx AS gx, gys.gy AS gy,
        ((gxs.gx+1)*16//9 - gxs.gx*16//9) * ((gys.gy+1)*16//8 - gys.gy*16//8) AS area,
        list_sum(flatten(list_transform(
          generate_series(gys.gy*16//8, (gys.gy+1)*16//8 - 1),
          y -> list_transform(generate_series(gxs.gx*16//9, (gxs.gx+1)*16//9 - 1),
            x -> least(255, lb[CAST((y*16+x) % n AS INTEGER) + 1] +
              CASE WHEN var = 1 AND (y*16+x) % 97 < 5 THEN 40 ELSE 0 END))))) AS s
      FROM vhpb, generate_series(0, 8) gxs(gx), generate_series(0, 7) gys(gy)),
    vhfp AS MATERIALIZED (
      SELECT asset_id, CAST(CASE WHEN f >= 9223372036854775808::HUGEINT
          THEN f - 18446744073709551616::HUGEINT ELSE f END AS BIGINT) AS fp
      FROM (
        SELECT a.asset_id,
          COALESCE(SUM(CASE WHEN a.s * b.area > b.s * a.area
            THEN (1::HUGEINT << CAST(a.gy*8 + a.gx AS INTEGER))
            ELSE 0::HUGEINT END), 0::HUGEINT) AS f
        FROM vhcells a JOIN vhcells b ON b.asset_id = a.asset_id
          AND b.gy = a.gy AND b.gx = a.gx + 1
        GROUP BY a.asset_id) t)"""

  /** Audio-fingerprint twin of [[phashFpView]]: (asset_id, fp) of the
    * audio corpus (doc_id % 3 = 1 — disjoint from the image leg's slice)
    * + its deterministic crackle-perturbed twin. */
  private def ahashFpView(s: org.apache.spark.sql.SparkSession,
      dir: String): String =
    graft.Views.materialize(s, dir, "ahfp", {
      graft.functions.GraftFunctions.register(s)
      import s.implicits._
      Tables(s, dir, "documents")
        .where("doc_id % 3 = 1 AND text IS NOT NULL")
        .select("doc_id", "text").as[(Long, String)]
        .flatMap { case (id, text) =>
          val pay = graft.multimodal.MediaCodec.encode(
            "audio", id, text.getBytes("UTF-8"))
          Seq((id, pay),
            (id + graft.functions.PHash.VariantOffset,
              graft.functions.AHash.perturb(pay)))
        }.toDF("asset_id", "payload")
        .createOrReplaceTempView("ah_assets")
      "SELECT asset_id, ahash64(payload) AS fp FROM ah_assets"
    })

  /** DuckDB-only closed-form recompute of the audio fingerprints (the
    * [[duckPhashFpCtes]] pattern): sample i of clip doc_id is byte i of
    * the document text (the fixture's WAV encode stores the content bytes
    * verbatim as PCM-u8), the variant adds the sparse crackle, frame
    * energies are list folds, and the 64 comparison bits assemble through
    * a HUGEINT sum wrapped back to BIGINT. Frames are empty below 65
    * samples (COALESCE 0 — both engines agree). */
  private def duckAhashFpCtes: String = s"""
    ahpb AS MATERIALIZED (
      SELECT doc_id + CASE WHEN var = 1
          THEN ${graft.functions.PHash.VariantOffset}::BIGINT
          ELSE 0 END AS asset_id,
        CAST(octet_length(encode(text)) AS BIGINT) AS n,
        list_transform(generate_series(1, length(text)),
          i -> CAST(ascii(substr(text, i, 1)) AS BIGINT)) AS lb,
        var
      FROM documents, generate_series(0, 1) vs(var)
      WHERE doc_id % 3 = 1 AND text IS NOT NULL),
    ahfr AS MATERIALIZED (
      SELECT asset_id, fs.f AS f,
        ((fs.f + 1) * n // 65 - fs.f * n // 65) AS flen,
        COALESCE(list_sum(list_transform(
          generate_series(fs.f * n // 65 + 1, (fs.f + 1) * n // 65),
          i -> abs(least(255, lb[CAST(i AS INTEGER)] +
            CASE WHEN var = 1 AND (i - 1) % 101 < 7 THEN 25 ELSE 0 END)
            - 128))), 0) AS e
      FROM ahpb, generate_series(0, 64) fs(f)),
    ahfp AS MATERIALIZED (
      SELECT asset_id, CAST(CASE WHEN fsum >= 9223372036854775808::HUGEINT
          THEN fsum - 18446744073709551616::HUGEINT ELSE fsum END AS BIGINT) AS fp
      FROM (
        SELECT a.asset_id,
          COALESCE(SUM(CASE WHEN a.e * b.flen > b.e * a.flen
            THEN (1::HUGEINT << CAST(a.f AS INTEGER))
            ELSE 0::HUGEINT END), 0::HUGEINT) AS fsum
        FROM ahfr a JOIN ahfr b ON b.asset_id = a.asset_id
          AND b.f = a.f + 1
        GROUP BY a.asset_id) t)"""

  def ops: Seq[Op] = Seq(

    // Exact dedup: md5 fingerprint, keep min doc_id per distinct text.
    Op("dedup_exact",
      (s, dir) => Tables(s, dir, "documents")
        .groupBy(md5(col("text")).as("fp"))
        .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))
        .select("keep_id", "n_copies", "fp")
        .orderBy("keep_id"),
      Some("""SELECT MIN(doc_id) AS keep_id, COUNT(*) AS n_copies,
        md5(text) AS fp FROM documents GROUP BY md5(text) ORDER BY keep_id""")),

    // CONTENT-DEFINED CHUNKING dedup (the FastCDC/rsync family): chunk
    // boundaries fall where a w=8-char window hash ≡ 0 (mod 32), so a
    // shifted or locally-edited duplicate re-synchronizes on the same
    // boundaries and its unchanged chunks dedupe — the property
    // fixed-width chunking (text_chunk) fundamentally lacks, and the
    // standard storage/corpus trick for catching INSERTED-prefix
    // duplicates that whole-doc hashing (dedup_exact) misses. Per row:
    // one explode over window positions + a per-doc boundary fold (list
    // ops, no shuffle) → chunks; then ONE map-side-combined count on the
    // chunk hash. Expected chunk ≈ 32 chars (the modulus — the only
    // tuning constant, corpus-size-independent BY CONSTRUCTION, cf. the
    // k=⌈N/53⌉ lesson in SCALE.md). Output: corpus-level chunk-dedup
    // accounting — the report a dedup pipeline publishes before deciding
    // chunk-level vs doc-level removal.
    Op("dedup_cdc",
      (s, dir) => {
        // spread (guide §2.5): the window-hash explode below (one md5 per
        // character position) and the chunk-md5 pass both run in the stage
        // that produces `d` — a one-task scan of the single-row-group
        // documents file (measured: 4 jobs / 4 TASKS total at local[32]).
        // Repartitioning the 256-char prefixes by doc_id parallelizes both
        // heavy stages; the downstream GROUP BY doc_id and the d⋈bnd join
        // reuse the same partitioning, so no additional exchange appears.
        graft.util.spread(Tables(s, dir, "documents")
            .where("length(text) >= 8")
            .selectExpr("doc_id", "substring(lower(text), 1, 256) AS s"),
          col("doc_id")).createOrReplaceTempView("cdc_d")
        s.sql(s"""
          WITH d AS (SELECT doc_id, s FROM cdc_d),
          bnd AS (SELECT doc_id, collect_list(i) AS bs FROM (
              SELECT doc_id, explode(sequence(8, length(s))) AS i, s FROM d) p
            WHERE ${sparkHash("substring(s, i - 7, 8)")} % 32 = 0
            GROUP BY doc_id),
          cuts AS (SELECT d.doc_id, d.s,
              array_sort(array_distinct(concat(array(0, length(d.s)),
                coalesce(bs, array())))) AS ps
            FROM d LEFT JOIN bnd ON bnd.doc_id = d.doc_id),
          ch AS (SELECT doc_id,
              substring(s, p.a + 1, p.b - p.a) AS chunk FROM (
              SELECT doc_id, s, explode(transform(sequence(1, size(ps) - 1),
                i -> named_struct('a', element_at(ps, i),
                  'b', element_at(ps, i + 1)))) AS p FROM cuts) t
            WHERE p.b > p.a),
          h AS (SELECT md5(chunk) AS fp, COUNT(*) AS n FROM ch GROUP BY 1)
          SELECT CAST(COUNT(*) AS BIGINT) AS distinct_chunks,
            CAST(SUM(n) AS BIGINT) AS total_chunks,
            CAST(SUM(CASE WHEN n > 1 THEN 1 ELSE 0 END) AS BIGINT) AS dup_contents,
            CAST(SUM(CASE WHEN n > 1 THEN n - 1 ELSE 0 END) AS BIGINT) AS removable,
            CAST(MAX(n) AS BIGINT) AS max_dup
          FROM h""")
      },
      Some(s"""
        WITH d AS (SELECT doc_id, substr(lower(text), 1, 256) AS s
          FROM documents WHERE length(text) >= 8),
        bnd AS (SELECT doc_id, list(i) AS bs FROM (
            SELECT doc_id, u.i AS i, s FROM d,
              unnest(generate_series(8, length(s))) AS u(i)) p
          WHERE ${duckHash("substr(s, i - 7, 8)")} % 32 = 0
          GROUP BY doc_id),
        cuts AS (SELECT d.doc_id, d.s,
            list_sort(list_distinct(list_concat(
              [CAST(0 AS BIGINT), CAST(length(d.s) AS BIGINT)],
              COALESCE(bs, [])))) AS ps
          FROM d LEFT JOIN bnd ON bnd.doc_id = d.doc_id),
        ch AS (SELECT doc_id,
            substr(s, CAST(a AS INTEGER) + 1, CAST(b - a AS INTEGER)) AS chunk
          FROM (
            SELECT doc_id, s, ps[i] AS a, ps[i + 1] AS b
            FROM cuts, unnest(generate_series(1, len(ps) - 1)) AS u(i)) t
          WHERE b > a),
        h AS (SELECT md5(chunk) AS fp, COUNT(*) AS n FROM ch GROUP BY 1)
        SELECT CAST(COUNT(*) AS BIGINT) AS distinct_chunks,
          CAST(SUM(n) AS BIGINT) AS total_chunks,
          CAST(SUM(CASE WHEN n > 1 THEN 1 ELSE 0 END) AS BIGINT) AS dup_contents,
          CAST(SUM(CASE WHEN n > 1 THEN n - 1 ELSE 0 END) AS BIGINT) AS removable,
          CAST(MAX(n) AS BIGINT) AS max_dup
        FROM h""")),

    // MinHash + LSH near-dup pairs, exact-Jaccard verified ≥ 0.5.
    Op("dedup_minhash",
      (s, dir) => {
        s.sql(s"""SELECT da AS doc_a, db AS doc_b, n_common, jaccard
          FROM ${pairsView(s, dir)} ORDER BY doc_a, doc_b""")
      },
      Some(s"""WITH ${minhashCtes(spark = false, s"($duckShingleSql) q")}
        SELECT da AS doc_a, db AS doc_b, n_common, jaccard FROM pairs
        ORDER BY doc_a, doc_b""")),

    // LSH TUNING CURVE — the s-curve report a dedup pipeline publishes
    // when choosing (bands, rows): for each similarity grid point s,
    // the shipped b=2/r=4 layout's theoretical capture probability
    // 1−(1−s⁴)², next to the OBSERVED verified-pair count in that
    // similarity bucket. Powers are written out as multiplies (no pow —
    // transcendental-free, cross-engine bit-exact); the observed column
    // buckets the memoized pair index, so the report costs a 19-row grid
    // join however large the corpus. The curve is what says "0.5-Jaccard
    // pairs are caught with p≈0.12 — raise b or drop r if you need the
    // gray zone".
    Op("dedup_lsh_curve",
      (s, dir) => {
        s.sql(s"""
          WITH grid AS (SELECT explode(sequence(0, 19)) AS k),
          obs AS (SELECT least(CAST(floor(jaccard * 20) AS INT), 19) AS k,
              COUNT(*) AS n
            FROM ${pairsView(s, dir)} GROUP BY 1),
          c AS (SELECT k, CAST(k AS DOUBLE) / 20 AS s FROM grid),
          c2 AS (SELECT k, s, s * s * s * s AS s4 FROM c)
          SELECT s, s4, 1.0 - (1.0 - s4) * (1.0 - s4) AS p_capture,
            COALESCE(obs.n, CAST(0 AS BIGINT)) AS observed_pairs
          FROM c2 LEFT JOIN obs ON obs.k = c2.k ORDER BY s""")
      },
      Some(s"""
        WITH ${minhashCtes(spark = false, s"($duckShingleSql) q")},
        grid AS (SELECT unnest(generate_series(0, 19)) AS k),
        obs AS (SELECT LEAST(CAST(floor(jaccard * 20) AS INT), 19) AS k,
            COUNT(*) AS n
          FROM pairs GROUP BY 1),
        c AS (SELECT k, CAST(k AS DOUBLE) / 20 AS s FROM grid),
        c2 AS (SELECT k, s, s * s * s * s AS s4 FROM c)
        SELECT s, s4, 1.0 - (1.0 - s4) * (1.0 - s4) AS p_capture,
          COALESCE(obs.n, CAST(0 AS BIGINT)) AS observed_pairs
        FROM c2 LEFT JOIN obs ON obs.k = c2.k ORDER BY s""")),

    // Near-dup CLUSTERING — the full training-data dedup pipeline: LSH
    // pairs → connected components (unrolled min-label propagation) →
    // canonical representative (min doc_id) per cluster. This is the "keep
    // one per duplicate cluster" step a 100 TB corpus pipeline actually
    // ships: pair volume is sparse (LSH-bounded), so the component step
    // joins tables orders of magnitude smaller than the corpus.
    Op("dedup_cluster",
      (s, dir) => {
        // The pair set here is orders of magnitude smaller than the corpus
        // (LSH bounds it), so at bench scale the label loop runs
        // single-partition; clusterLabels holds the scale knobs (pair-count
        // cutover to the partitioned loop, reliable-checkpoint option) and
        // LlmOpsSpec proves both knob settings produce identical labels.
        // (The bigger round-2 win was halving materialization rounds via
        // hook+jump: 12.7 s → ~4 s on the whole key.)
        val pairs = s.sql(s"SELECT da, db FROM ${pairsView(s, dir)}")
        val lbl = clusterLabels(pairs, 4)
        val sizes = lbl.groupBy("lbl").agg(count(lit(1)).as("n"))
        lbl.join(sizes, "lbl")
          .select(col("lbl").as("cluster_rep"), col("id").as("doc_id"),
            col("n").as("cluster_size"))
          .orderBy("cluster_rep", "doc_id")
      },
      Some(s"""WITH ${minhashCtes(spark = false, s"($duckShingleSql) q")}, ${clusterChain(4)}
        SELECT c.lbl AS cluster_rep, c.id AS doc_id, s.n AS cluster_size
        FROM cl4 c JOIN (SELECT lbl, COUNT(*) AS n FROM cl4 GROUP BY lbl) s
          ON s.lbl = c.lbl
        ORDER BY cluster_rep, doc_id""")),

    // STREAMING DEDUP-INDEX MAINTENANCE — the near-dup pair set kept
    // current as corpus slices arrive (the shape a 100 TB/day training-data
    // intake actually runs: nobody re-minhashes the whole corpus per
    // drop). State: the band index (doc_id, b0, b1) of every doc seen +
    // the verified pair set. Per batch: signature/bands for the NEW docs
    // only; candidates = new-bands equi-joined against the full index
    // (two band joins, new side broadcast — the index never shuffles);
    // already-verified pairs are anti-joined away; survivors get the exact
    // shingle-Jaccard verify. Pair discovery is ORDER-FREE (a pair
    // surfaces exactly once, when its later doc arrives), so any slicing
    // folds to the same set — the oracle is the full-corpus batch
    // pipeline, and three folds must land exactly on it. Per-batch cost:
    // batch-sized signature work + index probes; nothing corpus-sized is
    // ever recomputed.
    Op("stream_minhash_maintain",
      (s, dir) => {
        val key = "stream_minhash_maintain"
        val stage = Maintain.stage(key, dir, col("doc_id")) {
          Tables(s, dir, "documents").select("doc_id", "text")
        }
        Tables(s, dir, "documents").createOrReplaceTempView("documents")
        var bands = s.sql(bandsSql("documents")).limit(0)
        var pairs = graft.util.empty(s,
          "da BIGINT, db BIGINT, n_common BIGINT, jaccard DOUBLE")
        Maintain.fold(s, key, stage,
            "doc_id BIGINT, text STRING") { batch =>
          // foreachBatch hands a Dataset on a CLONED session; register
          // and query everything through it (it inherited the
          // `documents` view registered before start()).
          val bs = batch.sparkSession
          // spread (guide §2.5): the batch arrives as a one-file scan
          // (one task), serializing the per-batch tokenize+shingle+
          // 8-hash signature work
          graft.util.spread(batch.toDF(), col("doc_id"))
            .createOrReplaceTempView("mh_batch")
          val nb = graft.util.cut(bs.sql(bandsSql("mh_batch")))
          // bands state is PURE APPEND: union of per-batch checkpoints
          // (r17) — nb is already materialized, so re-cutting the union
          // rewrote the whole doc-count-sized index every batch; the
          // lazy union scans the same bytes with zero per-batch rewrite
          bands = bands.unionAll(nb)
          def candOn(b: String) = broadcast(
            nb.select(col("doc_id").as("nid"), col(b).as("k")))
            .join(bands.select(col("doc_id").as("aid"), col(b).as("k")), "k")
          val cand = candOn("b0").unionAll(candOn("b1"))
            .filter(col("nid") =!= col("aid"))
            .select(least(col("nid"), col("aid")).as("da"),
              greatest(col("nid"), col("aid")).as("db"))
            .distinct()
            .join(pairs.select("da", "db"), Seq("da", "db"), "left_anti")
          // cut BEFORE registering: candVerifySql references mh_cand
          // three times (cids, inter, and via sh's IN-probe) and Spark
          // inlines CTE/view references — un-materialized, the whole
          // band-join + anti-join candidate plan re-executed per
          // reference, tripling the verify step.
          graft.util.cut(cand).createOrReplaceTempView("mh_cand")
          // fan, not spread: the candidate-docs frame carries a
          // broadcast exchange (probing it would execute it); it is
          // candidate-bounded, so core-count width is always enough
          graft.util.fan(bs.sql(candDocsSql), col("doc_id"))
            .createOrReplaceTempView("mh_cdocs")
          val shDf = bs.sql(candShinglesSql)
          graft.util.cut(shDf).createOrReplaceTempView("mh_sh")
          val verDf = bs.sql(candVerifySql)
          // pairs state is pure append too: cut the batch's verified
          // delta only (it is consumed by the next batch's anti-join and
          // the terminal), never the accumulated set
          pairs = pairs.unionAll(graft.util.cut(verDf))
        }
        pairs.select(col("da").as("doc_a"), col("db").as("doc_b"),
          col("n_common"), col("jaccard"))
          .orderBy("doc_a", "doc_b")
      },
      Some(s"""WITH ${minhashCtes(spark = false, s"($duckShingleSql) q")}
        SELECT da AS doc_a, db AS doc_b, n_common, jaccard FROM pairs
        ORDER BY doc_a, doc_b""")),

    // 32-bit SimHash fingerprint over tokens (with multiplicity).
    Op("dedup_simhash",
      (s, dir) => {
        Tables(s, dir, "documents").createOrReplaceTempView("documents")
        val sums = (0 until 32)
          .map(b => s"SUM(CASE WHEN shiftright(h, $b) % 2 = 1 THEN 1 ELSE -1 END) AS s$b")
          .mkString(", ")
        val fp = (0 until 32)
          .map(b => s"(CASE WHEN s$b > 0 THEN ${1L << b} ELSE 0 END)")
          .mkString(" + ")
        s.sql(s"""
          WITH tok AS (SELECT doc_id, explode(${sparkToks("text")}) AS tok FROM documents),
          th AS (SELECT doc_id, ${sparkHash("tok")} AS h FROM tok),
          bits AS (SELECT doc_id, $sums FROM th GROUP BY doc_id)
          SELECT doc_id, CAST($fp AS BIGINT) AS simhash FROM bits ORDER BY doc_id""")
      },
      Some {
        val sums = (0 until 32)
          .map(b => s"SUM(CASE WHEN (h >> $b) & 1 = 1 THEN 1 ELSE -1 END) AS s$b")
          .mkString(", ")
        val fp = (0 until 32)
          .map(b => s"(CASE WHEN s$b > 0 THEN ${1L << b} ELSE 0 END)")
          .mkString(" + ")
        s"""
          WITH tok AS (SELECT doc_id, unnest(${duckToks("text")}) AS tok FROM documents),
          th AS (SELECT doc_id, ${duckHash("tok")} AS h FROM tok),
          bits AS (SELECT doc_id, $sums FROM th GROUP BY doc_id)
          SELECT doc_id, CAST($fp AS BIGINT) AS simhash FROM bits ORDER BY doc_id"""
      }),

    // Exact shingle-Jaccard pairs, blocked by length bucket (same or +1).
    Op("dedup_ngram",
      (s, dir) => {
        s.sql(s"""
          WITH sh AS (SELECT doc_id, n_chars div 20 AS bkt, s FROM ${shingleFrom(s, dir)}),
          sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
          inter AS (SELECT a.doc_id AS da, b.doc_id AS db, COUNT(*) AS i
            FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
              AND b.bkt - a.bkt IN (0, 1)
            GROUP BY a.doc_id, b.doc_id)
          SELECT da AS doc_a, db AS doc_b,
            CAST(i AS DOUBLE) / CAST(na.n + nb.n - i AS DOUBLE) AS jaccard
          FROM inter JOIN sizes na ON na.doc_id = da
          JOIN sizes nb ON nb.doc_id = db
          WHERE CAST(i AS DOUBLE) / CAST(na.n + nb.n - i AS DOUBLE) >= 0.5
          ORDER BY doc_a, doc_b""")
      },
      Some(s"""
        WITH sh AS MATERIALIZED (SELECT doc_id, n_chars // 20 AS bkt, s FROM ($duckShingleSql) q),
        sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
        inter AS (SELECT a.doc_id AS da, b.doc_id AS db, COUNT(*) AS i
          FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
            AND b.bkt - a.bkt IN (0, 1)
          GROUP BY a.doc_id, b.doc_id)
        SELECT da AS doc_a, db AS doc_b,
          CAST(i AS DOUBLE) / CAST(na.n + nb.n - i AS DOUBLE) AS jaccard
        FROM inter JOIN sizes na ON na.doc_id = da
        JOIN sizes nb ON nb.doc_id = db
        WHERE CAST(i AS DOUBLE) / CAST(na.n + nb.n - i AS DOUBLE) >= 0.5
        ORDER BY doc_a, doc_b""")),

    // Embedding-cosine near-dup: sign-bit LSH bucket + label blocking.
    Op("dedup_embed",
      (s, dir) => {
        s.sql(s"""
          WITH n AS (SELECT vec_id, label,
            ${sparkSignBucket("embedding", 6)} AS bkt, embedding, nrm
            FROM ${SimOps.normView(s, dir)})
          SELECT va, vb, cos FROM (
            SELECT a.vec_id AS va, b.vec_id AS vb,
              vec_dot(a.embedding, b.embedding) / (a.nrm * b.nrm) AS cos
            FROM n a JOIN n b ON a.label = b.label AND a.bkt = b.bkt
              AND a.vec_id < b.vec_id) p
          WHERE cos >= 0.35 ORDER BY va, vb""")
      },
      Some(s"""
        WITH n AS MATERIALIZED (SELECT vec_id, label,
          ${duckSignBucket("embedding", 6)} AS bkt, embedding,
          sqrt(${duckDot("embedding", "embedding")}) AS nrm FROM embeddings)
        SELECT va, vb, cos FROM (
          SELECT a.vec_id AS va, b.vec_id AS vb,
            ${duckDot("a.embedding", "b.embedding")} / (a.nrm * b.nrm) AS cos
          FROM n a JOIN n b ON a.label = b.label AND a.bkt = b.bkt
            AND a.vec_id < b.vec_id) p
        WHERE cos >= 0.35 ORDER BY va, vb""")),

    // PERCEPTUAL image near-dup (r13 VERDICT ask #1 — the one north-star
    // dedup modality that had no near-dup path: multimodal_dedup is
    // exact-content-hash only and a one-pixel noise speckle defeats it).
    // dHash 64-bit fingerprints over the decoded PGM luma grid
    // (graft.functions.PHash, a codegen'd expression), candidates via
    // band-of-bits LSH (4 × 16-bit bands, equi-join, two-anchor star cap
    // on oversized buckets — never all-pairs), exact Hamming verify ≤ 10.
    // The corpus is the image assets plus their deterministic sparse-noise
    // perturbed twins; output pairs therefore contain every (original,
    // perturbed-twin) pair the perceptual gate must catch plus the
    // cross-document identical-image pairs binary dedup also sees. The
    // oracle recomputes both fingerprint sets closed-form from documents
    // (no JVM decode) and replays the identical band/cap/verify tail.
    Op("dedup_phash",
      (s, dir) => {
        val fp = phashFpView(s, dir)
        s.sql(s"""WITH ${phashPairsCtes(spark = true, fp)}
          SELECT da, db, hamming FROM ph_pairs ORDER BY da, db""")
      },
      Some(s"""WITH $duckPhashFpCtes,
        ${phashPairsCtes(spark = false, "phfp")}
        SELECT da, db, hamming FROM ph_pairs ORDER BY da, db""")),

    // STREAMING PERCEPTUAL-INDEX MAINTENANCE — the media twin of
    // stream_minhash_maintain: the verified near-dup image pair set kept
    // current as asset slices arrive (an intake fingerprints a drop's
    // images once and probes the stored index; it never re-decodes the
    // archive). State: the band index (asset_id, bi, bv), the fingerprint
    // relation, and the verified pairs. Per batch: phash64 for the NEW
    // payloads only (the only decode work), 4 band rows each, candidates
    // = new bands broadcast-joined against the full index, known pairs
    // anti-joined away, survivors Hamming-verified on the stored
    // fingerprints. Pair discovery is ORDER-FREE against the UNCAPPED
    // pair set (see phashPairsUncappedCtes — the batch key's star cap is
    // final-bucket-size-keyed and can't be folded), so the oracle is the
    // uncapped batch pipeline. Per-batch cost: batch-sized decode +
    // index probes; no stored payload is ever re-read.
    Op("stream_phash_maintain",
      (s, dir) => {
        graft.functions.GraftFunctions.register(s)
        val key = "stream_phash_maintain"
        val stage =
          Maintain.stage(key, dir, col("asset_id"))(phashAssetsDf(s, dir))
        var fps = graft.util.empty(s, "asset_id BIGINT, fp BIGINT")
        var bands = graft.util.empty(s, "asset_id BIGINT, bi INT, bv BIGINT")
        var pairs = graft.util.empty(s, "da BIGINT, db BIGINT, hamming INT")
        Maintain.fold(s, key, stage,
            "asset_id BIGINT, payload BINARY") { batch =>
          val bs = batch.sparkSession
          graft.functions.GraftFunctions.register(bs)
          // NOT spread (r17 negative result): the per-batch phash64 mass
          // is a few thousand 32×32 DCTs (~50 ms) — fanning the batch
          // out propagated a 32-partition layout through every tiny
          // downstream band/verify stage and measured 1.46 → 1.98 s in a
          // paired A/B; the serial decode is cheaper than the task spray.
          batch.createOrReplaceTempView("phm_batch")
          val nfp = graft.util.cut(bs.sql(
            "SELECT asset_id, phash64(payload) AS fp FROM phm_batch"))
          nfp.createOrReplaceTempView("phm_nfp")
          val nbands = graft.util.cut(bs.sql(
            """SELECT asset_id, CAST(bis.bi AS INT) AS bi,
              shiftright(fp, CAST(bis.bi * 16 AS INT)) & 65535 AS bv
            FROM phm_nfp, (SELECT explode(sequence(0, 3)) AS bi) bis"""))
          bands = graft.util.cut(bands.unionAll(nbands))
          fps = graft.util.cut(fps.unionAll(nfp))
          val cand = broadcast(nbands
            .select(col("asset_id").as("nid"), col("bi"), col("bv")))
            .join(bands.select(col("asset_id").as("aid"), col("bi"),
              col("bv")), Seq("bi", "bv"))
            .filter(col("nid") =!= col("aid"))
            .select(least(col("nid"), col("aid")).as("da"),
              greatest(col("nid"), col("aid")).as("db"))
            .distinct()
            .join(pairs.select("da", "db"), Seq("da", "db"), "left_anti")
          val verified = cand
            .join(fps.select(col("asset_id").as("da"), col("fp").as("fpa")), "da")
            .join(fps.select(col("asset_id").as("db"), col("fp").as("fpb")), "db")
            .select(col("da"), col("db"),
              expr("CAST(bit_count(fpa ^ fpb) AS INT)").as("hamming"))
            .filter(col("hamming") <= PHashHamming)
          pairs = graft.util.cut(pairs.unionAll(verified))
        }
        pairs.select("da", "db", "hamming").orderBy("da", "db")
      },
      Some(s"""WITH $duckPhashFpCtes,
        ${phashPairsUncappedCtes(spark = false, "phfp")}
        SELECT da, db, hamming FROM ph_pairs ORDER BY da, db""")),

    // PERCEPTUAL audio near-dup — the audio modality's analog of
    // dedup_phash (with it, every media modality has a near-dup path:
    // text minhash/simhash/ngram/substring, image dHash, audio energy
    // envelope). ahash64 is a 64-bit energy-envelope difference hash over
    // the PCM-u8 sample stream (65 frames, abs-deviation energies,
    // cross-multiplied mean comparisons — integer-exact, one pass);
    // corpus = audio assets + deterministic sparse-crackle twins; the
    // band/cap/Hamming tail is dedup_phash's, reused verbatim. The
    // oracle recomputes every sample closed-form from documents.
    Op("dedup_ahash",
      (s, dir) => {
        val fp = ahashFpView(s, dir)
        s.sql(s"""WITH ${phashPairsCtes(spark = true, fp)}
          SELECT da, db, hamming FROM ph_pairs ORDER BY da, db""")
      },
      Some(s"""WITH $duckAhashFpCtes,
        ${phashPairsCtes(spark = false, "ahfp")}
        SELECT da, db, hamming FROM ph_pairs ORDER BY da, db""")),

    // PERCEPTUAL video near-dup — keyframe dHash (the first frame's luma
    // through PHash's grid core): re-encodes/speckled copies of the same
    // footage share the keyframe contour. Completes the modality triple
    // (image dHash / audio energy envelope / video keyframe); same
    // band/cap/Hamming tail, same closed-form oracle discipline. A
    // shot-level pipeline runs this per multimodal_framesample frame.
    Op("dedup_vhash",
      (s, dir) => {
        val fp = vhashFpView(s, dir)
        s.sql(s"""WITH ${phashPairsCtes(spark = true, fp)}
          SELECT da, db, hamming FROM ph_pairs ORDER BY da, db""")
      },
      Some(s"""WITH $duckVhashFpCtes,
        ${phashPairsCtes(spark = false, "vhfp")}
        SELECT da, db, hamming FROM ph_pairs ORDER BY da, db""")),

    // EXACT SUBSTRING-LEVEL dedup (the Lee et al. 2022 "Deduplicating
    // Training Data Makes Language Models Better" passage family): find
    // maximal runs of ≥ SubstrRunTokens consecutive tokens that appear
    // VERBATIM in at least two documents — the repeated boilerplate /
    // quoted-passage mass that doc-level (dedup_exact) and near-dup
    // (minhash) both miss. Sorted-shingle run detection, never suffix
    // arrays and never all-pairs: every W-token window becomes one
    // (doc, pos, 60-bit window hash) row — corpus-token-sized, like the
    // minhash shingle relation; a window is DUPLICATED iff its hash has
    // ≥2 distinct doc_ids, gated as MIN(doc_id)≠MAX(doc_id) over the hash
    // partition — ONE shuffle of the window relation (8-byte keys) instead
    // of a distinct-aggregate plus a re-join of the same relation onto the
    // duplicated set; per doc, consecutive duplicated positions fold into
    // maximal runs with gaps-and-islands (pos − row_number — one per-doc
    // window pass, doc-bounded state). The window hash is the FULL 60-bit
    // md5 prefix (textsql.sparkHash60/duckHash60 — NOT the mod-P minhash
    // base: 31 bits collide at birthday rate from ~65k distinct windows,
    // i.e. phantom duplicated windows and silent strip corruption at
    // corpus scale; r13 review finding), so the gate is exact
    // cross-engine and a false-duplicate pair is ~2^-60.
    // LlmIndependenceSpec recomputes runs from raw strings (no hashing)
    // over a planted repeated-passage fixture plus the live table.
    Op("dedup_substring",
      (s, dir) => {
        Tables(s, dir, "documents").createOrReplaceTempView("documents")
        s.sql(substringRunsSql(
          toks = sparkToks("text"), len = t => s"size($t)",
          gen = n => s"explode(sequence(1, $n))",
          slice = (t, a, l) => s"slice($t, $a, $l)",
          join = a => s"concat_ws(' ', $a)", hash = sparkHash60))
      },
      Some(substringRunsSql(
        toks = duckToks("text"), len = t => s"len($t)",
        gen = n => s"unnest(generate_series(1, $n))",
        slice = (t, a, l) => s"$t[$a:$a + $l - 1]",
        join = a => s"array_to_string($a, ' ')", hash = duckHash60))),

    // dedup_substring's APPLY step (Lee et al. keep-first): the minimum
    // doc_id sharing a duplicated window keeps its copy; every OTHER doc
    // drops the tokens that window covers, and the cleaned text is
    // rebuilt. Per-token rule: token (d, p) is dropped iff some W-window
    // covering p has MIN(doc_id) over its hash partition < d — `dmin < d`
    // alone already implies a second doc exists, so within-doc repetition
    // never strips and the canonical doc keeps everything. The dropped
    // set is windows×W positions (W constant → corpus-linear), distinct'd
    // on (doc, pos) and anti-joined against the token relation; rebuild
    // is one per-doc ordered aggregation. Shuffles: window hash, dropped
    // positions, anti-join key (doc, pos), doc_id — all bucketed equi
    // operations, never all-pairs.
    Op("dedup_substring_strip",
      (s, dir) => {
        Tables(s, dir, "documents").createOrReplaceTempView("documents")
        s.sql(substringStripSql(
          toks = sparkToks("text"), len = t => s"size($t)",
          gen = n => s"explode(sequence(1, $n))",
          genRange = (a, b) => s"explode(sequence($a, $b))",
          slice = (t, a, l) => s"slice($t, $a, $l)",
          join = a => s"concat_ws(' ', $a)", hash = sparkHash60,
          orderedConcat = (v, o) => s"concat_ws(' ', transform(" +
            s"array_sort(collect_list(struct($o, $v))), r -> r.$v))"))
      },
      Some(substringStripSql(
        toks = duckToks("text"), len = t => s"len($t)",
        gen = n => s"unnest(generate_series(1, $n))",
        genRange = (a, b) => s"unnest(generate_series($a, $b))",
        slice = (t, a, l) => s"$t[$a:$a + $l - 1]",
        join = a => s"array_to_string($a, ' ')", hash = duckHash60,
        orderedConcat = (v, o) => s"string_agg($v, ' ' ORDER BY $o)"))),

    // Corpus curation REPORT: per source, how much duplicate mass the
    // dedup family would act on — exact whole-doc duplicates (keep-first
    // count: docs whose md5(text) already appeared at a smaller doc_id),
    // docs containing at least one cross-doc repeated passage, and the
    // duplicated-token share (tokens covered by a ≥2-doc window, counted
    // in EVERY holder including the canonical one — a report prices the
    // total mass; the strip op is what exempts the kept copy). Integer
    // counts + one fixed-order division per row ⇒ cross-engine exact.
    // This is the first artifact a training-data pipeline looks at before
    // choosing dedup thresholds.
    Op("text_dedup_report",
      (s, dir) => {
        Tables(s, dir, "documents").createOrReplaceTempView("documents")
        s.sql(dedupReportSql(
          toks = sparkToks("text"), len = t => s"size($t)",
          gen = n => s"explode(sequence(1, $n))",
          genRange = (a, b) => s"explode(sequence($a, $b))",
          slice = (t, a, l) => s"slice($t, $a, $l)",
          join = a => s"concat_ws(' ', $a)", hash = sparkHash60))
      },
      Some(dedupReportSql(
        toks = duckToks("text"), len = t => s"len($t)",
        gen = n => s"unnest(generate_series(1, $n))",
        genRange = (a, b) => s"unnest(generate_series($a, $b))",
        slice = (t, a, l) => s"$t[$a:$a + $l - 1]",
        join = a => s"array_to_string($a, ' ')", hash = duckHash60))),

    // The END-TO-END curation funnel — the pipeline a training-data
    // intake actually ships, composed from this family's graded stages
    // and priced per source: (1) exact dedup keep-first (min doc_id per
    // identical text), (2) near-dup cluster canonicals only (the stored
    // LSH pair index → PairCC labels; a doc survives iff it IS its
    // cluster's min-id representative — which is always an exact-stage
    // survivor, since identical texts share a cluster), (3) keep-first
    // substring strip over the survivors (duplicated-passage tokens
    // dropped from every non-canonical holder), (4) a ≥W-tokens-after-
    // strip gate (a plain total-kept-token count — the kept tokens need
    // not be contiguous; W doubles as the minimum useful doc size).
    // Output: the per-source funnel n_docs → n_exact_kept → n_near_kept
    // → n_final plus token mass in/out, where tokens_out counts ONLY the
    // docs the gate ships — integer counts and one fixed-order
    // division, so the DuckDB oracle (which retrains the ENTIRE chain
    // inline: minhash pipeline, hook+jump labels, strip windows) must
    // hash-match exactly. Scale shape: stages (1)/(4) are one window /
    // one aggregate over the corpus; (2) reuses the memoized pair index
    // (LSH-bounded); (3) is the substring machinery's single window
    // shuffle over survivor tokens.
    Op("text_curation_funnel",
      (s, dir) => {
        Tables(s, dir, "documents").createOrReplaceTempView("documents")
        // spread (guide §2.5): the funnel's two compute-heavy per-row
        // stages — ftokall's corpus tokenization and the windowChain
        // tokenize+window-hash over the survivors — otherwise run single-
        // task (one-row-group scan; AQE-coalesced one-partition cut).
        graft.util.spread(Tables(s, dir, "documents")
            .select("doc_id", "source", "text"), col("doc_id"))
          .createOrReplaceTempView("cur_docs")
        val pairs = s.sql(s"SELECT da, db FROM ${pairsView(s, dir)}")
        val lbl = clusterLabels(pairs, 4)
        // cut s1 too: both the s2 build AND the funnel's fc1 read it, and
        // Spark inlines the view plan — uncut, the corpus-wide md5 window
        // ran twice per execution
        val s1 = graft.util.cut(s.sql("""SELECT doc_id, source, text FROM (
          SELECT doc_id, source, text,
            ROW_NUMBER() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
          FROM documents) e WHERE rn = 1"""))
        // cut: the funnel SQL references the survivor set three times
        // (Spark inlines view plans), and s2 carries the label join.
        // spread AFTER the cut (see util.spread's contract — probing the
        // un-cut join would execute it twice): the windowChain
        // tokenize+hash then runs over n tasks instead of the cut's one
        // AQE-coalesced partition, and the three view references share
        // one spread exchange via exchange reuse (same checkpointed RDD).
        val s2 = graft.util.spread(graft.util.cut(
          s1.join(lbl.select(col("id").as("doc_id"), col("lbl")),
              Seq("doc_id"), "left")
            .filter(col("lbl").isNull || col("lbl") === col("doc_id"))
            .select("doc_id", "source", "text")), col("doc_id"))
        s1.createOrReplaceTempView("cur_s1")
        s2.createOrReplaceTempView("cur_s2")
        s.sql("WITH " + curationFunnelSql(
          docsRel = "cur_docs", s1Rel = "cur_s1", s2Rel = "cur_s2",
          toks = sparkToks("text"), len = t => s"size($t)",
          gen = n => s"explode(sequence(1, $n))",
          genRange = (a, b) => s"explode(sequence($a, $b))",
          slice = (t, a, l) => s"slice($t, $a, $l)",
          join = a => s"concat_ws(' ', $a)", hash = sparkHash60))
      },
      Some {
        val tail = curationFunnelSql(
          docsRel = "documents", s1Rel = "cur_s1", s2Rel = "cur_s2",
          toks = duckToks("text"), len = t => s"len($t)",
          gen = n => s"unnest(generate_series(1, $n))",
          genRange = (a, b) => s"unnest(generate_series($a, $b))",
          slice = (t, a, l) => s"$t[$a:$a + $l - 1]",
          join = a => s"array_to_string($a, ' ')", hash = duckHash60)
        s"""WITH cur_ex AS (SELECT doc_id, source, text,
            ROW_NUMBER() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
            FROM documents),
          cur_s1 AS (SELECT doc_id, source, text FROM cur_ex WHERE rn = 1),
          ${minhashCtes(spark = false, s"($duckShingleSql) q")},
          ${clusterChain(4)},
          cur_s2 AS (SELECT cur_s1.doc_id, cur_s1.source, cur_s1.text
            FROM cur_s1 LEFT JOIN cl4 l ON l.id = cur_s1.doc_id
            WHERE l.id IS NULL OR l.lbl = cur_s1.doc_id),
          $tail"""
      }),

    // STREAMING PASSAGE-DEDUP INDEX MAINTENANCE (r13 verdict ask #3) —
    // the substring family's maintain twin: the duplicated-window index
    // and the per-source duplicate-mass report (text_dedup_report's
    // output) kept current as corpus slices arrive. State: the window
    // relation (doc, pos, h) of every doc seen, the per-hash doc-id
    // extremes (h, dmin, dmax), and per-doc stats (source, md5, tokens,
    // covered-token count). Per batch: window/hash work for the NEW docs
    // only; a hash FLIPS to duplicated when the batch widens its doc-id
    // extremes apart — flips are found by joining the batch's per-hash
    // extremes (batch-sized, broadcast) against the stored extremes, and
    // RETROACTIVELY re-cover the old docs holding flipped windows.
    // Coverage is recomputed only for AFFECTED docs (new docs + flipped
    // holders — batch-bounded, broadcast into every probe), then upserted;
    // nothing corpus-sized shuffles per batch. Slicing is order-free by
    // construction (extremes and coverage are slice-order-independent
    // folds), so any arrival order lands exactly on the batch pipeline —
    // the oracle IS text_dedup_report's full-corpus SQL, and the spec
    // folds three slices onto it.
    Op("stream_substring_maintain",
      (s, dir) => {
        val w = SubstrRunTokens
        val key = "stream_substring_maintain"
        val stage = Maintain.stage(key, dir, col("doc_id")) {
          Tables(s, dir, "documents").select("doc_id", "source", "text")
        }
        var wins = graft.util.empty(s, "doc_id BIGINT, pos BIGINT, h BIGINT")
        var hagg = graft.util.empty(s, "h BIGINT, dmin BIGINT, dmax BIGINT")
        var docStats = graft.util.empty(s,
          "doc_id BIGINT, source STRING, fp STRING, ntok BIGINT")
        var dupCnt = graft.util.empty(s, "doc_id BIGINT, dup_toks BIGINT")
        Maintain.fold(s, key, stage,
            "doc_id BIGINT, source STRING, text STRING") { batch =>
          val bs = batch.sparkSession
          // NOT spread (r17 negative result, twice over): fanning the
          // one-task batch scan out for the windowChain hashing measured
          // 3.88 → 4.75 s in a paired A/B (the 32-partition layout
          // propagates through every tiny downstream per-batch stage —
          // this key runs ~13 jobs/batch over the fanned frame, unlike
          // minhash/pq whose batch SQL ends in an AQE-coalescible
          // aggregate), and tapering with a trailing DISTRIBUTE BY made
          // it 9.5 s (the checkpoint path does not coalesce that final
          // exchange). The serial per-batch hash is the cheaper shape.
          batch.createOrReplaceTempView("ss_batch")
          val nw = graft.util.cut(bs.sql(s"""
            WITH ${windowChain("ss_batch", "", "doc_id",
              toks = sparkToks("text"), len = t => s"size($t)",
              gen = n => s"explode(sequence(1, $n))",
              slice = (t, a, l) => s"slice($t, $a, $l)",
              join = a => s"concat_ws(' ', $a)", hash = sparkHash60)}
            SELECT doc_id, pos, h FROM sh"""))
          val nwAgg = nw.groupBy("h")
            .agg(min("doc_id").as("dmin"), max("doc_id").as("dmax"))
          // ONE aggregate computes the folded extremes AND the flip flag
          // (r17, guide §2.4 — was a separate batch-vs-state left join
          // before the fold, scanning the state twice per batch): a hash
          // FLIPS to duplicated when its old extremes were equal or
          // absent (omin <=> omax — null-safe covers the absent case)
          // and the folded extremes are apart. A hash untouched by the
          // batch can never flip: its folded extremes equal its old
          // ones, so the two conditions are mutually exclusive.
          val haggX = graft.util.cut(
            hagg.withColumn("old", lit(true))
              .unionAll(nwAgg.withColumn("old", lit(false)))
              .groupBy("h").agg(
                min("dmin").as("dmin"), max("dmax").as("dmax"),
                min(when(col("old"), col("dmin"))).as("omin"),
                max(when(col("old"), col("dmax"))).as("omax")))
          hagg = haggX.select("h", "dmin", "dmax")
          val flippedH = haggX
            .filter(col("dmin") =!= col("dmax") && col("omin") <=> col("omax"))
            .select("h")
          wins = graft.util.cut(wins.unionAll(nw))
          // affected = batch docs ∪ flipped-window holders. NOT cut: both
          // consumers broadcast the identical subplan, so the broadcast
          // exchange is built once and reused (one state scan), without
          // paying a per-batch materialization job for it.
          val affected = broadcast(
            wins.join(broadcast(flippedH), Seq("h")).select("doc_id")
              .unionAll(nw.select("doc_id")).distinct())
          // re-cover ONLY the affected docs: their windows, gated on the
          // now-duplicated hash set, expanded to covered positions
          // |covered| = Σ min(w, Δpos) over the doc's pos-sorted
          // duplicated windows ((doc_id, pos) is unique in wins) — the
          // dedupReportSql gap form, replacing explode(w)+distinct
          val gw = org.apache.spark.sql.expressions.Window
            .partitionBy("doc_id").orderBy("pos")
          // the affected docs' windows are batch-bounded (affected is);
          // broadcast THAT side of the dup-hash gate — the stored hash
          // extremes stream past it instead of sort-merge-joining (r17
          // batch-plan capture: this was the one SMJ left per batch)
          val cov = broadcast(wins.join(affected, Seq("doc_id")))
            .join(haggX.filter(col("dmin") =!= col("dmax")).select("h"), "h")
            .select(col("doc_id"), col("pos"))
            .withColumn("d", col("pos") - lag("pos", 1).over(gw))
            .groupBy("doc_id")
            .agg(sum(when(col("d").isNull || col("d") >= w, w)
              .otherwise(col("d"))).as("dup_toks"))
          val dupCnt2 = dupCnt.join(affected, Seq("doc_id"), "left_anti")
            .unionAll(cov)
          dupCnt = graft.util.cut(dupCnt2)
          // same union-of-checkpoints shape: cut the BATCH delta only,
          // never the accumulated doc-stats state
          docStats = docStats.unionAll(graft.util.cut(bs.sql(s"""
            SELECT doc_id, source, md5(text) AS fp,
              CAST(size(${sparkToks("text")}) AS BIGINT) AS ntok
            FROM ss_batch WHERE text IS NOT NULL""")))
        }
        val fpmin = docStats.groupBy("fp").agg(min("doc_id").as("m"))
        docStats.join(fpmin, "fp")
          .join(dupCnt, Seq("doc_id"), "left")
          .select(col("source"),
            when(col("doc_id") > col("m"), 1L).otherwise(0L).as("isx"),
            coalesce(col("dup_toks"), lit(0L)).as("dt"), col("ntok"))
          .groupBy("source").agg(
            count(lit(1)).as("n_docs"),
            sum("isx").as("exact_dup_docs"),
            sum(when(col("dt") > 0, 1L).otherwise(0L)).as("passage_docs"),
            sum("dt").as("dup_tokens"),
            sum("ntok").as("total_tokens"))
          .select(col("source"), col("n_docs"), col("exact_dup_docs"),
            col("passage_docs"), col("dup_tokens"), col("total_tokens"),
            (col("dup_tokens").cast("double") /
              col("total_tokens").cast("double")).as("dup_token_share"))
          .orderBy("source")
      },
      Some(dedupReportSql(
        toks = duckToks("text"), len = t => s"len($t)",
        gen = n => s"unnest(generate_series(1, $n))",
        genRange = (a, b) => s"unnest(generate_series($a, $b))",
        slice = (t, a, l) => s"$t[$a:$a + $l - 1]",
        join = a => s"array_to_string($a, ' ')", hash = duckHash60)))
  )

  /** Minimum duplicated-passage length in tokens (= the window width W):
    * a maximal cross-doc repeated run is ≥ W tokens by construction. */
  private[graft] val SubstrRunTokens = 8

  /** Engine-portable SQL for dedup_substring (chunkSql's lambda pattern:
    * one text, two dialects — the oracle cannot drift). */
  /** The shared W-token window derivation (tok → g → sh) all four
    * substring-family generators build on — ONE text so the hash
    * expression, the W plumbing, and the position typing cannot drift
    * between the keys (r13 review finding: four hand-kept copies).
    * `rel` is the document source, `pre` a CTE-name prefix (the funnel
    * splices into a WITH list that already uses the bare names), `cols`
    * the carried identity columns. Emits a CTE-list FRAGMENT (no WITH). */
  private def windowChain(rel: String, pre: String, cols: String,
      toks: String, len: String => String, gen: String => String,
      slice: (String, String, String) => String, join: String => String,
      hash: String => String): String = {
    val w = SubstrRunTokens
    val win = join(slice("t", "i", w.toString))
    // NULL text = absent document for the whole substring family: Spark's
    // legacy size(NULL) = -1 vs DuckDB's len(NULL) = NULL would otherwise
    // diverge the engines on the first dirty row (phantom sequence(1,-1)
    // positions on the Spark side, silently skipped rows on DuckDB's)
    s"""${pre}tok AS (SELECT $cols, $toks AS t FROM $rel
      WHERE text IS NOT NULL),
    ${pre}g AS (SELECT doc_id, t, ${gen(s"${len("t")} - ${w - 1}")} AS i
      FROM ${pre}tok WHERE ${len("t")} >= $w),
    ${pre}sh AS (SELECT doc_id, CAST(i AS BIGINT) AS pos,
      ${hash(win)} AS h FROM ${pre}g)"""
  }

  private[graft] def substringRunsSql(toks: String, len: String => String,
      gen: String => String, slice: (String, String, String) => String,
      join: String => String, hash: String => String): String = {
    val w = SubstrRunTokens
    s"""
    WITH ${windowChain("documents", "", "doc_id",
      toks, len, gen, slice, join, hash)},
    dup AS (SELECT doc_id, pos,
      MIN(doc_id) OVER (PARTITION BY h) AS dmin,
      MAX(doc_id) OVER (PARTITION BY h) AS dmax FROM sh),
    isl AS (SELECT doc_id, pos,
      pos - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
      FROM dup WHERE dmin <> dmax)
    SELECT doc_id, CAST(MIN(pos) AS BIGINT) AS start_tok,
      CAST(MAX(pos) + $w - 1 AS BIGINT) AS end_tok,
      CAST(MAX(pos) - MIN(pos) + $w AS BIGINT) AS run_tokens
    FROM isl GROUP BY doc_id, grp
    ORDER BY doc_id, start_tok"""
  }

  /** Engine-portable SQL for dedup_substring_strip: per doc, the token
    * count, how many tokens the keep-first rule dropped, and the rebuilt
    * clean text. Extra lambdas over [[substringRunsSql]]: `genRange(a,b)`
    * generates the integers a..b (window → covered positions) and
    * `orderedConcat(valCol, ordCol)` is the dialect's order-deterministic
    * string aggregation (Spark: sort-after-collect; DuckDB: ORDER BY
    * inside string_agg). */
  private[graft] def substringStripSql(toks: String, len: String => String,
      gen: String => String, genRange: (String, String) => String,
      slice: (String, String, String) => String, join: String => String,
      hash: String => String,
      orderedConcat: (String, String) => String): String = {
    val w = SubstrRunTokens
    val tokAt = join(slice("t", "i", "1"))
    s"""
    WITH ${windowChain("documents", "", "doc_id",
      toks, len, gen, slice, join, hash)},
    own AS (SELECT doc_id, pos,
      MIN(doc_id) OVER (PARTITION BY h) AS dmin FROM sh),
    dpw AS (SELECT doc_id, ${genRange("pos", s"pos + ${w - 1}")} AS p
      FROM own WHERE dmin < doc_id),
    dp AS (SELECT DISTINCT doc_id, CAST(p AS BIGINT) AS p FROM dpw),
    tp AS (SELECT doc_id, t, ${gen(len("t"))} AS i FROM tok),
    kept AS (SELECT a.doc_id, CAST(a.i AS BIGINT) AS p, $tokAt AS tk
      FROM (SELECT doc_id, t, i FROM tp) a
      WHERE NOT EXISTS (SELECT 1 FROM dp
        WHERE dp.doc_id = a.doc_id AND dp.p = CAST(a.i AS BIGINT))),
    agg AS (SELECT doc_id, COUNT(*) AS n_kept,
      ${orderedConcat("tk", "p")} AS text_clean FROM kept GROUP BY doc_id)
    SELECT tok.doc_id, CAST(${len("t")} AS BIGINT) AS n_tokens,
      CAST(${len("t")} - COALESCE(agg.n_kept, 0) AS BIGINT) AS n_dropped,
      COALESCE(agg.text_clean, '') AS text_clean
    FROM tok LEFT JOIN agg ON agg.doc_id = tok.doc_id
    ORDER BY tok.doc_id"""
  }

  /** Engine-portable SQL for text_dedup_report: per source, exact-dup
    * doc counts (keep-first), passage-carrying doc counts, and the
    * duplicated-token share. Window machinery shared with
    * [[substringRunsSql]]/[[substringStripSql]]. */
  private[graft] def dedupReportSql(toks: String, len: String => String,
      gen: String => String, genRange: (String, String) => String,
      slice: (String, String, String) => String, join: String => String,
      hash: String => String): String = {
    val w = SubstrRunTokens
    s"""
    WITH ${windowChain("documents", "", "doc_id, source",
      toks, len, gen, slice, join, hash)},
    ex AS (SELECT doc_id,
      CASE WHEN ROW_NUMBER() OVER (PARTITION BY md5(text) ORDER BY doc_id)
        > 1 THEN 1 ELSE 0 END AS is_exact_dup FROM documents),
    own AS (SELECT doc_id, pos,
      MIN(doc_id) OVER (PARTITION BY h) AS dmin,
      MAX(doc_id) OVER (PARTITION BY h) AS dmax FROM sh),
    -- |covered| = Σ min(w, Δpos) over pos-sorted duplicated windows
    -- (see curationFunnelSql's fgap note) — replaces explode(w)+DISTINCT
    dgap AS (SELECT doc_id,
      pos - LAG(pos) OVER (PARTITION BY doc_id ORDER BY pos) AS d
      FROM own WHERE dmin <> dmax),
    dtok AS (SELECT doc_id, CAST(SUM(CASE WHEN d IS NULL OR d >= $w
      THEN $w ELSE d END) AS BIGINT) AS dup_toks FROM dgap GROUP BY doc_id)
    SELECT tok.source, CAST(COUNT(*) AS BIGINT) AS n_docs,
      CAST(SUM(ex.is_exact_dup) AS BIGINT) AS exact_dup_docs,
      CAST(SUM(CASE WHEN COALESCE(dtok.dup_toks, 0) > 0 THEN 1 ELSE 0 END)
        AS BIGINT) AS passage_docs,
      CAST(SUM(COALESCE(dtok.dup_toks, 0)) AS BIGINT) AS dup_tokens,
      CAST(SUM(${len("tok.t")}) AS BIGINT) AS total_tokens,
      CAST(SUM(COALESCE(dtok.dup_toks, 0)) AS DOUBLE)
        / CAST(SUM(${len("tok.t")}) AS DOUBLE) AS dup_token_share
    FROM tok
    JOIN ex ON ex.doc_id = tok.doc_id
    LEFT JOIN dtok ON dtok.doc_id = tok.doc_id
    GROUP BY tok.source ORDER BY tok.source"""
  }

  /** Engine-portable CTE fragment + final SELECT for text_curation_funnel
    * (caller supplies the stage relations: `docsRel` = the full corpus,
    * `s1Rel` = exact-dedup survivors, `s2Rel` = cluster-canonical
    * survivors — built in the engine's native idiom, DataFrames on Spark,
    * a WITH prefix in DuckDB). The strip chain is [[substringStripSql]]'s
    * window machinery over the survivor set, f-prefixed so its CTE names
    * cannot collide with [[minhashCtes]]/[[clusterChain]] when spliced
    * into the oracle's WITH list. */
  private[graft] def curationFunnelSql(docsRel: String, s1Rel: String,
      s2Rel: String, toks: String, len: String => String,
      gen: String => String, genRange: (String, String) => String,
      slice: (String, String, String) => String, join: String => String,
      hash: String => String): String = {
    val w = SubstrRunTokens
    s"""
    ftokall AS (SELECT doc_id, source, $toks AS t FROM $docsRel
      WHERE text IS NOT NULL),
    fbase AS (SELECT source, COUNT(*) AS n_docs,
      SUM(${len("t")}) AS tokens_in FROM ftokall GROUP BY source),
    fc1 AS (SELECT source, COUNT(*) AS n FROM $s1Rel
      WHERE text IS NOT NULL GROUP BY source),
    ${windowChain(s2Rel, "f", "doc_id, source",
      toks, len, gen, slice, join, hash)},
    fown AS (SELECT doc_id, pos,
      MIN(doc_id) OVER (PARTITION BY h) AS dmin FROM fsh),
    -- covered tokens WITHOUT the w-fold position explode: duplicated
    -- windows per doc, sorted by pos, cover w new tokens when the gap to
    -- the previous window is ≥ w and exactly gap tokens otherwise, so
    -- |covered| = Σ min(w, Δpos) — one LAG window over window-count rows
    -- replaces explode(w)+DISTINCT+COUNT (and the r15 per-token explode +
    -- NOT EXISTS complement: kept = len − |covered|, since coverage is
    -- ⊆ 1..len(t)). Guide §2.3: shuffle window rows, not token rows.
    fgap AS (SELECT doc_id,
      pos - LAG(pos) OVER (PARTITION BY doc_id ORDER BY pos) AS d
      FROM fown WHERE dmin < doc_id),
    fcov AS (SELECT doc_id, CAST(SUM(CASE WHEN d IS NULL OR d >= $w
      THEN $w ELSE d END) AS BIGINT) AS n_cov FROM fgap GROUP BY doc_id),
    fper AS (SELECT ftok.doc_id, ftok.source,
      ${len("ftok.t")} - COALESCE(fcov.n_cov, 0) AS n_kept
      FROM ftok LEFT JOIN fcov ON fcov.doc_id = ftok.doc_id),
    ffin AS (SELECT source,
      SUM(CASE WHEN n_kept >= $w THEN 1 ELSE 0 END) AS n_final,
      COUNT(*) AS n_near,
      SUM(CASE WHEN n_kept >= $w THEN n_kept ELSE 0 END) AS tokens_out
      FROM fper GROUP BY source)
    SELECT b.source, CAST(b.n_docs AS BIGINT) AS n_docs,
      CAST(COALESCE(fc1.n, 0) AS BIGINT) AS n_exact_kept,
      CAST(COALESCE(ffin.n_near, 0) AS BIGINT) AS n_near_kept,
      CAST(COALESCE(ffin.n_final, 0) AS BIGINT) AS n_final,
      CAST(b.tokens_in AS BIGINT) AS tokens_in,
      CAST(COALESCE(ffin.tokens_out, 0) AS BIGINT) AS tokens_out,
      CAST(COALESCE(ffin.tokens_out, 0) AS DOUBLE)
        / CAST(b.tokens_in AS DOUBLE) AS kept_token_share
    FROM fbase b LEFT JOIN fc1 ON fc1.source = b.source
    LEFT JOIN ffin ON ffin.source = b.source
    ORDER BY b.source"""
  }
}
