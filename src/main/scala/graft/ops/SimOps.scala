package graft.ops

import graft.{Op, OpModule, Tables}
import graft.functions.GraftFunctions
import graft.streaming.Maintain
import org.apache.spark.sql.functions._
import textsql._

/** Similarity search over the embeddings table (SURVEY.md §2.11).
  *
  *  - sim_topk: brute-force cosine top-k — the exact baseline. Queries
  *    broadcast against the corpus; ranking via window. At 100 TB the corpus
  *    side stays partition-parallel; only the (small) query set replicates.
  *  - sim_knn_join: the scale path — sign-bit LSH (8 bits → 256 buckets)
  *    turns the kNN join into an equi-join on the bucket key; recall is
  *    traded for never materializing all pairs. Norms are precomputed once
  *    per vector (shuffle-free scalar column), not per pair.
  *
  * All cosines go through the native vec_dot expression
  * ([[graft.functions.FloatDotProduct]]) — bit-identical to the DuckDB
  * list_reduce fold, ~100× faster than interpreted HOF lambdas. */
object SimOps extends OpModule {

  /** Normalized embeddings (vector + its norm), materialized once per
    * (session, dir) and shared by every similarity/embedding-dedup key —
    * Spark would otherwise inline-recompute the norms per CTE reference. */
  private[ops] def normView(s: org.apache.spark.sql.SparkSession, dir: String): String = {
    GraftFunctions.register(s)
    Tables(s, dir, "embeddings").createOrReplaceTempView("embeddings")
    graft.Views.materialize(s, dir, "embnorm",
      """SELECT vec_id, label, embedding,
         sqrt(vec_dot(embedding, embedding)) AS nrm FROM embeddings""")
  }

  /** Per-dimension unnested embeddings (IVF training/assignment input). */
  private[ops] def unnView(s: org.apache.spark.sql.SparkSession, dir: String): String = {
    Tables(s, dir, "embeddings").createOrReplaceTempView("embeddings")
    graft.Views.materialize(s, dir, "embunn",
      """SELECT vec_id, label, dim, v FROM embeddings
         LATERAL VIEW posexplode(embedding) t AS dim, v""")
  }

  /** DuckDB oracle bodies, named so sim_recall can embed them as
    * subqueries (DuckDB allows WITH inside a FROM subquery). */
  private val knnOracle = s"""
        WITH n AS MATERIALIZED (SELECT vec_id, embedding,
          ${duckSignBucket("embedding", 8)} AS bkt,
          sqrt(${duckDot("embedding", "embedding")}) AS nrm FROM embeddings),
        l AS (SELECT vec_id AS va, embedding AS ea, bkt, nrm AS na FROM n
          WHERE vec_id % 10 = 0),
        scored AS (SELECT l.va, n.vec_id AS vb,
          ${duckDot("l.ea", "n.embedding")} / (l.na * n.nrm) AS cos
          FROM l JOIN n ON n.bkt = l.bkt AND n.vec_id <> l.va),
        ranked AS (SELECT va, vb, cos,
          ROW_NUMBER() OVER (PARTITION BY va ORDER BY cos DESC, vb) AS rnk
          FROM scored)
        SELECT va, vb, rnk, cos FROM ranked WHERE rnk <= 3 ORDER BY va, rnk"""

  /** Multi-table LSH oracle (see the sim_knn_multitable op for design). */
  private val mtOracle = s"""
        WITH n AS MATERIALIZED (SELECT vec_id, embedding,
          sqrt(${duckDot("embedding", "embedding")}) AS nrm FROM embeddings),
        tabs AS MATERIALIZED (SELECT vec_id, t,
          (CASE WHEN embedding[3*t+1] > 0 THEN 1 ELSE 0 END) +
          (CASE WHEN embedding[3*t+2] > 0 THEN 2 ELSE 0 END) +
          (CASE WHEN embedding[3*t+3] > 0 THEN 4 ELSE 0 END) AS bkt
          FROM n, unnest(generate_series(0, 9)) AS g(t)),
        qt AS (SELECT vec_id, t, bkt FROM tabs WHERE vec_id % 100 = 0),
        cand AS (SELECT DISTINCT q.vec_id AS qa, c.vec_id AS vb
          FROM qt q JOIN tabs c ON c.t = q.t AND c.bkt = q.bkt
            AND c.vec_id <> q.vec_id),
        scored AS (SELECT cand.qa, cand.vb,
          ${duckDot("a.embedding", "b.embedding")} / (a.nrm * b.nrm) AS cos
          FROM cand JOIN n a ON a.vec_id = cand.qa
          JOIN n b ON b.vec_id = cand.vb),
        ranked AS (SELECT qa, vb, cos,
          ROW_NUMBER() OVER (PARTITION BY qa ORDER BY cos DESC, vb) AS rnk
          FROM scored)
        SELECT qa, vb, rnk, cos FROM ranked WHERE rnk <= 3 ORDER BY qa, rnk"""

  private val topkOracle = s"""
        WITH n AS MATERIALIZED (SELECT vec_id, embedding,
          sqrt(${duckDot("embedding", "embedding")}) AS nrm FROM embeddings),
        q AS (SELECT vec_id AS qa, embedding AS eq, nrm AS nq FROM n
          WHERE vec_id % 100 = 0),
        scored AS (SELECT q.qa, n.vec_id AS vb,
          ${duckDot("q.eq", "n.embedding")} / (q.nq * n.nrm) AS cos
          FROM q JOIN n ON n.vec_id <> q.qa),
        ranked AS (SELECT qa, vb, cos,
          ROW_NUMBER() OVER (PARTITION BY qa ORDER BY cos DESC, vb) AS rnk
          FROM scored)
        SELECT qa, vb, rnk, cos FROM ranked WHERE rnk <= 5 ORDER BY qa, rnk"""

  /** The four ANN pipeline RESULTS, materialized once per (session, dir)
    * like the graph's stored labelings: each is a few-hundred-row ranked
    * candidate list that its own key AND sim_recall both consume — without
    * the memo, sim_recall's four hit-count actions re-executed every
    * pipeline (the exact brute-force scorer ran 4×). Result-sized persists,
    * corpus-sized nothing. */
  private def topkView(s: org.apache.spark.sql.SparkSession, dir: String): String =
    graft.Views.materialize(s, dir, "simtopk", s"""
      WITH n AS (SELECT vec_id, embedding, nrm FROM ${normView(s, dir)}),
      q AS (SELECT vec_id AS qa, embedding AS eq, nrm AS nq FROM n
        WHERE vec_id % 100 = 0),
      scored AS (SELECT q.qa, n.vec_id AS vb,
        vec_dot(q.eq, n.embedding) / (q.nq * n.nrm) AS cos
        FROM q JOIN n ON n.vec_id <> q.qa),
      ranked AS (SELECT qa, vb, cos,
        ROW_NUMBER() OVER (PARTITION BY qa ORDER BY cos DESC, vb) AS rnk
        FROM scored)
      SELECT qa, vb, rnk, cos FROM ranked WHERE rnk <= 5""")

  private def knnView(s: org.apache.spark.sql.SparkSession, dir: String): String =
    graft.Views.materialize(s, dir, "simknn", s"""
      WITH n AS (SELECT vec_id, embedding,
        ${sparkSignBucket("embedding", 8)} AS bkt, nrm
        FROM ${normView(s, dir)}),
      l AS (SELECT vec_id AS va, embedding AS ea, bkt, nrm AS na FROM n
        WHERE vec_id % 10 = 0),
      scored AS (SELECT l.va, n.vec_id AS vb,
        vec_dot(l.ea, n.embedding) / (l.na * n.nrm) AS cos
        FROM l JOIN n ON n.bkt = l.bkt AND n.vec_id <> l.va),
      ranked AS (SELECT va, vb, cos,
        ROW_NUMBER() OVER (PARTITION BY va ORDER BY cos DESC, vb) AS rnk
        FROM scored)
      SELECT va, vb, rnk, cos FROM ranked WHERE rnk <= 3""")

  private def mtView(s: org.apache.spark.sql.SparkSession, dir: String): String =
    graft.Views.materialize(s, dir, "simmt", s"""
      WITH n AS (SELECT vec_id, embedding, nrm FROM ${normView(s, dir)}),
      tabs AS (SELECT vec_id, t,
        (CASE WHEN element_at(embedding, 3*t+1) > 0 THEN 1 ELSE 0 END) +
        (CASE WHEN element_at(embedding, 3*t+2) > 0 THEN 2 ELSE 0 END) +
        (CASE WHEN element_at(embedding, 3*t+3) > 0 THEN 4 ELSE 0 END) AS bkt
        FROM n LATERAL VIEW explode(sequence(0, 9)) x AS t),
      qt AS (SELECT vec_id, t, bkt FROM tabs WHERE vec_id % 100 = 0),
      cand AS (SELECT DISTINCT q.vec_id AS qa, c.vec_id AS vb
        FROM qt q JOIN tabs c ON c.t = q.t AND c.bkt = q.bkt
          AND c.vec_id <> q.vec_id),
      scored AS (SELECT cand.qa, cand.vb,
        vec_dot(a.embedding, b.embedding) / (a.nrm * b.nrm) AS cos
        FROM cand JOIN n a ON a.vec_id = cand.qa
        JOIN n b ON b.vec_id = cand.vb),
      ranked AS (SELECT qa, vb, cos,
        ROW_NUMBER() OVER (PARTITION BY qa ORDER BY cos DESC, vb) AS rnk
        FROM scored)
      SELECT qa, vb, rnk, cos FROM ranked WHERE rnk <= 3""")

  /** Shared trained-IVF skeleton, one text for BOTH engines with the
    * dialect differences injected: `ds` wraps an expression in the
    * engine's exact decimal sum (graft.num contract), `mat` is DuckDB's
    * CTE materialization hint (empty on Spark), `nRel`/`unnRel` are the
    * normalized / per-dimension source relations, `dot` the native dot
    * product.
    *
    * The coarse quantizer is TRAINED, not taken from the fixture's label
    * column: seeded deterministic k-means — seeds are every stride-th
    * vector by ROW_NUMBER() OVER (ORDER BY vec_id) where
    * stride = ⌈N/⌈√N⌉⌉, giving the canonical IVF cell count k ≈ √N for
    * ANY id distribution (a raw `vec_id % stride` rule would tie the seed
    * count to the id VALUES — offset or sparse ids could train an empty
    * quantizer; rank-based selection is distribution-independent and
    * still deterministic). k MUST NOT grow linearly with N: assign work is
    * N·k distance evaluations, so k ∝ N makes training O(N²·D) — the
    * 10× ScaleBench blow-up measured exactly that (the r8 every-53rd rule
    * turned a 4 s warmup artifact into a 100×, quarter-hour build). With
    * k = √N assign work grows as N^1.5 — the textbook IVF trade. Scoring
    * (r13) is vector-at-a-time, not dim-at-a-time: centroids fold to
    * ordered DOUBLE arrays (one ⌈√N⌉-row broadcast-sized table), and
    * argmax v·c − ‖c‖²/2 evaluates native vec_dot on N×k rows — the
    * corpus joins the centroid table with a broadcast, never reshuffles
    * for scoring, and no N·D·k-row dim-join / decimal shuffle aggregate
    * exists (the pre-r13 shape: a 64×-larger join output feeding a
    * DECIMAL(38,10) hash aggregate — the 465 s `ann_recall_views` stage
    * of the 10× curve, now gone). Lloyd re-estimation (per-dim means)
    * stays decimal-exact over the SAMPLE's dims; the scoring folds are
    * fixed-order double arithmetic, bit-identical to DuckDB's list_reduce
    * (float→double widening is exact), and every comparison breaks ties
    * on the cell id, so train/assign is bit-reproducible cross-engine —
    * the property that makes a TRAINED ANN index oracle-able at all.
    * Queries probe the nprobe = max(2, ⌈√k⌉)
    * nearest final centroids (nprobe must GROW with the cell count or
    * recall decays as 1/k — the fixed nprobe=2 shipped with the r7 4-cell
    * quantizer measured 0.27 recall once k became √N-sized) and
    * exact-rerank inside the probed cells' members; scan fraction is then
    * ~1/√k — the classic IVF recall/latency dial.
    *
    * 100 TB read: training runs on a DETERMINISTIC SAMPLE (r11, the
    * production IVF shape): per 2-hex-digit md5(vec_id) bucket (256
    * uniform shards), the ⌈32·k/256⌉ member vectors with the smallest
    * md5 — a uniform, id-distribution-independent, cross-engine-identical
    * draw (both dialects md5 the same decimal string), selected with a
    * BUCKET-PARTITIONED rank so the whole-corpus pass parallelizes; the
    * only single-partition window left is the seed ordering over the
    * o(√N)-sized sample itself (the first cut ranked the full corpus
    * through one global ROW_NUMBER — a single-task corpus sort, exactly
    * the WindowExec warning Spark emits for it). Training work is
    * O(k²·D) ≈ O(N·D) instead of O(N^1.5·D), while the FINAL assignment
    * step still places every corpus vector into its trained cell (that
    * IS the inverted file — it must be corpus-sized). The stored centroid table
    * stays broadcast-size and the per-vector cell assignment becomes the
    * stored inverted file the probe equi-joins against — exactly the
    * artifact shape these views materialize. Recall is protected by the
    * SimSearchSpec floor (ivf ≥ 0.4) and pinned cross-engine by
    * sim_recall. The pipeline is STAGED into
    * three bodies (assignment → centroids → probe/rerank): Spark
    * materializes each as a persisted view (multi-referenced CTEs would
    * inline-recompute the whole training tree per reference); DuckDB
    * composes the same texts as MATERIALIZED CTEs. */
  private def ivfAssignSql(ds: String => String, mat: String, nRel: String,
      unnRel: String, str: String, arr: (String, String) => String,
      fold: (String, String) => String, mult: Int = 32): String = s"""
      WITH ${ivfTrainCtes(ds, mat, nRel, unnRel, str, arr, fold, mult)},
      -- the centroid self-norm is hoisted to ONE fold per cell (cnrm):
      -- inlined in the scoring select it re-ran per (vector x cell) row,
      -- doubling the assign stage's D-length fold count (r13 review)
      f1 AS (SELECT n.vec_id, c.cell,
          ${fold("n.embedding", "c.carr")} - 0.5 * c.cnrm AS sc
        FROM $nRel n CROSS JOIN c1a c)
      SELECT vec_id, cell FROM (
        SELECT vec_id, cell, ROW_NUMBER() OVER (PARTITION BY vec_id
          ORDER BY sc DESC, cell) AS rn FROM f1) t WHERE rn = 1"""

  /** The TRAINING half of [[ivfAssignSql]] — the CTE chain ending at
    * `c1a`, the trained coarse quantizer as (cell, ordered centroid
    * array, hoisted self-norm). Split out so the quantizer is a named
    * artifact two consumers share: the batch pipeline appends the
    * corpus-wide assignment (above), and stream_ivf_maintain scores
    * arriving vectors against the SAME stored quantizer — the production
    * IVF shape (train offline on a snapshot sample, assign arrivals
    * incrementally, never retrain per drop). */
  private def ivfTrainCtes(ds: String => String, mat: String, nRel: String,
      unnRel: String, str: String, arr: (String, String) => String,
      fold: (String, String) => String, mult: Int = 32): String = s"""
      unn AS $mat(SELECT vec_id, CAST(v AS DOUBLE) AS v, dim
        FROM $unnRel),
      kk AS (SELECT CAST(ceil(sqrt(CAST(COUNT(*) AS DOUBLE))) AS BIGINT) AS k
        FROM $nRel),
      qq AS (SELECT CAST(ceil($mult.0 * k / 256.0) AS BIGINT) AS q FROM kk),
      sb AS (SELECT vec_id, md5(CAST(vec_id AS $str)) AS mk FROM $nRel),
      sr AS (SELECT vec_id, mk, ROW_NUMBER() OVER (
          PARTITION BY substring(mk, 1, 2) ORDER BY mk, vec_id) AS br
        FROM sb),
      samp AS $mat(SELECT vec_id, ROW_NUMBER() OVER (ORDER BY mk, vec_id)
          AS mr
        FROM sr WHERE br <= (SELECT q FROM qq)),
      unns AS $mat(SELECT u.vec_id, u.v, u.dim
        FROM unn u JOIN samp sm ON sm.vec_id = u.vec_id),
      st AS (SELECT GREATEST(1, CAST(ceil(CAST(COUNT(*) AS DOUBLE) /
          (SELECT k FROM kk)) AS BIGINT)) AS stride FROM samp),
      sinit AS (SELECT vec_id, ROW_NUMBER() OVER (ORDER BY mr) - 1 AS cell
        FROM samp WHERE (mr - 1) % (SELECT stride FROM st) = 0),
      c0 AS $mat(SELECT s.cell, u.dim, u.v AS c
        FROM sinit s JOIN unns u ON u.vec_id = s.vec_id),
      c0a AS $mat(SELECT cell, carr, ${fold("carr", "carr")} AS cnrm
        FROM (SELECT cell, ${arr("c", "dim")} AS carr
          FROM c0 GROUP BY cell) z0),
      semb AS $mat(SELECT n.vec_id, n.embedding
        FROM $nRel n JOIN samp sm ON sm.vec_id = n.vec_id),
      s0 AS (SELECT e.vec_id, c.cell,
          ${fold("e.embedding", "c.carr")} - 0.5 * c.cnrm AS sc
        FROM semb e CROSS JOIN c0a c),
      a0 AS $mat(SELECT vec_id, cell FROM (
        SELECT vec_id, cell, ROW_NUMBER() OVER (PARTITION BY vec_id
          ORDER BY sc DESC, cell) AS rn FROM s0) t WHERE rn = 1),
      c1 AS $mat(SELECT a.cell, u.dim, ${ds("u.v")} / COUNT(*) AS c
        FROM a0 a JOIN unns u ON u.vec_id = a.vec_id GROUP BY a.cell, u.dim),
      c1a AS $mat(SELECT cell, carr, ${fold("carr", "carr")} AS cnrm
        FROM (SELECT cell, ${arr("c", "dim")} AS carr
          FROM c1 GROUP BY cell) z1)"""

  private def ivfCentSql(ds: String => String, aRel: String,
      unnRel: String): String = s"""
      SELECT a.cell, u.dim, ${ds("CAST(u.v AS DOUBLE)")} / COUNT(*) AS c
      FROM $aRel a JOIN $unnRel u ON u.vec_id = a.vec_id
      GROUP BY a.cell, u.dim"""

  /** `pre` lets the oracle splice its a1/c2/base CTEs ahead of the probe
    * body's own WITH chain (Spark passes "" and references views). */
  private def ivfProbeSql(ds: String => String, pre: String, nRel: String,
      unnRel: String, aRel: String, cRel: String,
      dot: (String, String) => String): String = s"""
      WITH ${pre}cn2 AS (SELECT cell, sqrt(${ds("c * c")}) AS cn
        FROM $cRel GROUP BY cell),
      np AS (SELECT GREATEST(2, CAST(ceil(sqrt(
          CAST(COUNT(*) AS DOUBLE))) AS BIGINT)) AS v FROM cn2),
      qc AS (SELECT u.vec_id AS qa, ce.cell,
          ${ds("CAST(u.v AS DOUBLE) * ce.c")} AS dot
        FROM $unnRel u JOIN $cRel ce ON ce.dim = u.dim
        WHERE u.vec_id % 100 = 0 GROUP BY u.vec_id, ce.cell),
      probe AS (SELECT qa, cell FROM (
        SELECT qc.qa, qc.cell,
          ROW_NUMBER() OVER (PARTITION BY qc.qa
            ORDER BY qc.dot / cn.cn DESC, qc.cell) AS pr
        FROM qc JOIN cn2 cn ON cn.cell = qc.cell) t
        WHERE pr <= (SELECT v FROM np)),
      q AS (SELECT vec_id AS qa, embedding AS eq, nrm AS nq
        FROM $nRel WHERE vec_id % 100 = 0),
      scored AS (SELECT q.qa, n.vec_id AS vb,
          ${dot("q.eq", "n.embedding")} / (q.nq * n.nrm) AS cos
        FROM probe p JOIN q ON q.qa = p.qa
        JOIN $aRel m ON m.cell = p.cell
        JOIN $nRel n ON n.vec_id = m.vec_id AND n.vec_id <> q.qa),
      ranked AS (SELECT qa, vb, cos,
        ROW_NUMBER() OVER (PARTITION BY qa ORDER BY cos DESC, vb) AS rnk
        FROM scored)
      SELECT qa, vb, rnk, cos FROM ranked WHERE rnk <= 3"""

  /** Probe-cell selection as ONE nested single-SELECT text (qa, cell),
    * shared verbatim by the Spark view and the DuckDB oracle CTE of
    * sim_ivfpq: per query (vec_id % 100 = 0), the nprobe =
    * max(2, ⌈√k⌉) centroids nearest by cosine (exact-decimal dot over
    * the per-dim stream / IEEE sqrt+divide — the same arithmetic
    * [[ivfProbeSql]]'s cn2/np/qc/probe CTEs run for sim_ivf, spelled
    * WITHOUT a WITH chain so the Spark side can materialize it as a
    * view body; Spark 4.1's InlineCTE rule mis-validates WITH chains
    * over unmaterialized persisted views). */
  private def probeSelSql(ds: String => String, unnRel: String,
      cRel: String): String = s"""
      SELECT qa, cell FROM (
        SELECT qc.qa, qc.cell, ROW_NUMBER() OVER (PARTITION BY qc.qa
            ORDER BY qc.dot / cn.cn DESC, qc.cell) AS pr
        FROM (SELECT u.vec_id AS qa, ce.cell,
              ${ds("CAST(u.v AS DOUBLE) * ce.c")} AS dot
            FROM $unnRel u JOIN $cRel ce ON ce.dim = u.dim
            WHERE u.vec_id % 100 = 0 GROUP BY u.vec_id, ce.cell) qc
        JOIN (SELECT cell, sqrt(${ds("c * c")}) AS cn
            FROM $cRel GROUP BY cell) cn ON cn.cell = qc.cell) t
      WHERE pr <= (SELECT GREATEST(2, CAST(ceil(sqrt(CAST(COUNT(*)
          AS DOUBLE))) AS BIGINT))
        FROM (SELECT DISTINCT cell FROM $cRel) dc)"""

  /** The composed IVF-PQ serving query, one nested text both dialects
    * (sim_pq_adc's ADC machinery fronted by the probed-cells
    * restriction): LUT build (query SQ codes × broadcast codebook →
    * 8×16 integer table per query), candidates = the probed cells'
    * inverted-file rows ONLY (probe ⋈ assignment on cell — the
    * FAISS-IVFPQ scan set, ~nprobe/k of the corpus per query), ADC =
    * candidate codes ⋈ LUT summed per (query, candidate), exact
    * re-rank of the 25 ADC survivors. Seams: `div8` integer division,
    * `bi` the engine's BIGINT sum cast, `ri` the rank INT cast, `dot`
    * the native float fold. */
  private def ivfPqTailSql(div8: String, probeRel: String, aRel: String,
      cdRel: String, cbRel: String, asgRel: String, nRel: String,
      dot: (String, String) => String,
      bi: String => String, ri: String => String): String = s"""
      SELECT qa, vb, ${ri("rnk")} AS rnk, appx, cos FROM (
        SELECT qa, vb, appx, cos, ROW_NUMBER() OVER (PARTITION BY qa
            ORDER BY cos DESC, vb) AS rnk
        FROM (
          SELECT t.qa, t.vb, t.appx,
            ${dot("a2.embedding", "b2.embedding")} / (a2.nrm * b2.nrm) AS cos
          FROM (
            SELECT qa, vb, appx FROM (
              SELECT qa, vb, appx, ROW_NUMBER() OVER (PARTITION BY qa
                  ORDER BY appx DESC, vb) AS rn
              FROM (
                SELECT c.qa, c.vb, ${bi("SUM(l.ip)")} AS appx
                FROM (SELECT p.qa, m.vec_id AS vb
                      FROM $probeRel p JOIN $aRel m ON m.cell = p.cell
                      WHERE m.vec_id <> p.qa) c
                JOIN $asgRel a ON a.vec_id = c.vb
                JOIN (SELECT q.vec_id AS qa, q.dim $div8 8 AS s, kb.j,
                        SUM(q.code * kb.code) AS ip
                      FROM (SELECT vec_id, dim, code FROM $cdRel
                        WHERE vec_id % 100 = 0) q
                      JOIN $cbRel kb ON kb.dim = q.dim GROUP BY 1, 2, 3) l
                  ON l.qa = c.qa AND l.s = a.s AND l.j = a.j
                GROUP BY 1, 2) z0) z1
            WHERE rn <= 25) t
          JOIN $nRel a2 ON a2.vec_id = t.qa
          JOIN $nRel b2 ON b2.vec_id = t.vb) z2) z3
      WHERE rnk <= 5 ORDER BY qa, rnk"""

  /** sim_hard_negatives, one body both dialects: `nRel` is the normalized
    * (vec_id, label, embedding, nrm) relation, `dot` the engine's fold. */
  private def hardNegSql(nRel: String,
      dot: (String, String) => String): String = s"""
      WITH n AS (SELECT vec_id, label, embedding, nrm FROM $nRel),
      q AS (SELECT vec_id AS qa, label AS ql, embedding AS eq, nrm AS nq
        FROM n WHERE vec_id % 100 = 0),
      scored AS (SELECT q.qa, q.ql, n.vec_id AS vb, n.label AS vl,
          ${dot("q.eq", "n.embedding")} / (q.nq * n.nrm) AS cos
        FROM q JOIN n ON n.vec_id <> q.qa),
      pos AS (SELECT qa, cos AS cos_pos FROM (
        SELECT qa, cos, ROW_NUMBER() OVER (PARTITION BY qa
          ORDER BY cos DESC, vb) AS rn
        FROM scored WHERE vl = ql) t WHERE rn = 1),
      negs AS (SELECT qa, vb, cos, ROW_NUMBER() OVER (PARTITION BY qa
          ORDER BY cos DESC, vb) AS rnk
        FROM scored WHERE vl <> ql)
      SELECT g.qa, g.vb, g.rnk, g.cos, p.cos_pos,
        p.cos_pos - g.cos AS margin
      FROM negs g JOIN pos p ON p.qa = g.qa WHERE g.rnk <= 3
      ORDER BY g.qa, g.rnk"""

  private val sparkDs: String => String =
    e => s"CAST(SUM(CAST(($e) AS DECIMAL(38,10))) AS DOUBLE)"

  /** Ordered centroid-array aggregation + native fold, per dialect (the
    * r13 vector-at-a-time assign — see ivfAssignSql scaladoc). */
  private val sparkArr: (String, String) => String =
    (v, o) => s"transform(array_sort(collect_list(struct($o, $v))), x -> x.$v)"
  private val duckArr: (String, String) => String =
    (v, o) => s"list($v ORDER BY $o)"
  private val sparkFold: (String, String) => String =
    (a, b) => s"vec_dot($a, $b)"
  private val duckFold: (String, String) => String =
    (a, b) => duckDot(a, b)

  /** The stored TRAINED quantizer (cell, carr, cnrm) — the broadcast-sized
    * artifact both the batch assignment below and stream_ivf_maintain's
    * per-batch scoring read. Checkpointed: the training chain is a deep
    * window/join tree referenced once per consumer. */
  private def quantizerView(s: org.apache.spark.sql.SparkSession, dir: String): String = {
    val n = normView(s, dir)
    val unn = unnView(s, dir)
    graft.Views.checkpointed(s, dir, "simivf_c1a",
      "WITH " + ivfTrainCtes(sparkDs, mat = "", nRel = n,
        unnRel = s"(SELECT vec_id, dim, v FROM $unn) uv", str = "STRING",
        arr = sparkArr, fold = sparkFold) +
        " SELECT cell, carr, cnrm FROM c1a")
  }

  /** The stored inverted file (vec_id → cell), shared by the probe
    * pipeline and the index-health stats key. Scores the corpus against
    * [[quantizerView]] — same f1/rank tail [[ivfAssignSql]] composes
    * inline for the one-shot (and DuckDB) form. */
  private def assignView(s: org.apache.spark.sql.SparkSession, dir: String): String = {
    val n = normView(s, dir)
    val ca = quantizerView(s, dir)
    graft.Views.checkpointed(s, dir, "simivf_a1", s"""
      WITH f1 AS (SELECT n.vec_id, c.cell,
          vec_dot(n.embedding, c.carr) - 0.5 * c.cnrm AS sc
        FROM $n n CROSS JOIN $ca c)
      SELECT vec_id, cell FROM (
        SELECT vec_id, cell, ROW_NUMBER() OVER (PARTITION BY vec_id
          ORDER BY sc DESC, cell) AS rn FROM f1) t WHERE rn = 1""")
  }

  private def ivfView(s: org.apache.spark.sql.SparkSession, dir: String): String = {
    val n = normView(s, dir)
    val unn = unnView(s, dir)
    val a1 = assignView(s, dir)
    val c2 = graft.Views.checkpointed(s, dir, "simivf_c2",
      ivfCentSql(sparkDs, a1, unn))
    graft.Views.materialize(s, dir, "simivf",
      ivfProbeSql(sparkDs, pre = "", nRel = n, unnRel = unn,
        aRel = a1, cRel = c2, dot = sparkFold))
  }

  /** One text, both dialects: occupancy stats over the inverted file.
    * Integer aggregates plus one fixed-order double expression
    * (imbalance = max·cells/total, i.e. max/avg) — cross-engine exact. */
  private def ivfStatsSql(aRel: String): String = s"""
      WITH sz AS (SELECT cell, COUNT(*) AS n FROM $aRel GROUP BY cell)
      ${ivfStatsFromCounts("sz")}"""

  /** The stats fold over an already-aggregated (cell, n) relation —
    * shared by the batch key (counts derived from the inverted file) and
    * stream_ivf_maintain (counts maintained incrementally as state). */
  /** Per-dimension SQ8 min/max (the offline scalar-quantizer model): a
    * D-row broadcast artifact shared by the SQ code builders and the PQ
    * maintain twin (arrivals are coded against the SNAPSHOT model — nobody
    * re-fits min/max per micro-batch). */
  private def sqMmView(s: org.apache.spark.sql.SparkSession, dir: String): String = {
    val unn = unnView(s, dir)
    graft.Views.materialize(s, dir, "sqmm", s"""
      SELECT dim, CAST(MIN(v) AS DOUBLE) AS mn, CAST(MAX(v) AS DOUBLE) AS mx
      FROM $unn GROUP BY dim""")
  }

  /** Long-form SQ8 codes (vec_id, dim, code ∈ [0,255]) — the shared input
    * of the array-form sqcodes view (sim_sq_rerank) and the PQ family.
    * Exactly embed_quantize's arithmetic; see that op's scaladoc for the
    * cross-engine bit-reproducibility argument. */
  private def sqLongView(s: org.apache.spark.sql.SparkSession, dir: String): String = {
    val unn = unnView(s, dir)
    val mm = sqMmView(s, dir)
    graft.Views.materialize(s, dir, "sqlong", s"""
      SELECT u.vec_id, u.dim,
        CASE WHEN m.mx = m.mn THEN CAST(0 AS BIGINT)
          ELSE CAST(floor((CAST(u.v AS DOUBLE) - m.mn) * 255.0
            / (m.mx - m.mn)) AS BIGINT) END AS code
      FROM $unn u JOIN $mm m ON m.dim = u.dim""")
  }

  /** PQ codebook (j ∈ [1,16], dim, code): the sub-codes of the 16 corpus
    * vectors with the smallest 60-bit md5 rank — the deterministic
    * sampled codebook (random-sample codebooks are the classic PQ
    * baseline; k-means refinement would buy distortion, not correctness,
    * and would cost cross-engine reproducibility). ~1k rows, broadcast
    * everywhere it is used. */
  private def pqCbView(s: org.apache.spark.sql.SparkSession, dir: String): String = {
    val sl = sqLongView(s, dir)
    graft.Views.materialize(s, dir, "pqcb", s"""
      WITH rk AS (SELECT vec_id, ROW_NUMBER() OVER (ORDER BY
          ${sparkHash60("CAST(vec_id AS STRING)")}, vec_id) AS j
        FROM (SELECT DISTINCT vec_id FROM $sl) z)
      SELECT rk.j, c.dim, c.code FROM rk JOIN $sl c ON c.vec_id = rk.vec_id
      WHERE rk.j <= 16""")
  }

  /** PQ assignments (vec_id, s ∈ [0,8), j): per 8-dim subspace, the
    * codebook entry minimizing the integer L2 distance over SQ codes,
    * ties to the lowest j — 8 small ints replace 64 floats (32× smaller
    * than fp32; 4× smaller again than SQ8). The distance build is the
    * corpus's (vec_id, dim, code) stream equi-joined to the broadcast
    * codebook on dim — map-side combined into (vec_id, s, j) partials,
    * never an all-pairs shape. */
  private[graft] def pqAsgView(s: org.apache.spark.sql.SparkSession, dir: String): String = {
    val sl = sqLongView(s, dir)
    val cb = pqCbView(s, dir)
    graft.Views.materialize(s, dir, "pqasg", s"""
      WITH dist AS (SELECT v.vec_id, v.dim div 8 AS s, c.j,
          SUM((v.code - c.code) * (v.code - c.code)) AS d
        FROM $sl v JOIN $cb c ON c.dim = v.dim GROUP BY 1, 2, 3)
      SELECT vec_id, s, j FROM (SELECT vec_id, s, j,
        ROW_NUMBER() OVER (PARTITION BY vec_id, s ORDER BY d, j) AS rn
        FROM dist) t WHERE rn = 1""")
  }

  /** DuckDB replay of the whole PQ model chain (codes → codebook →
    * assignments), shared by the sim_pq_adc and stream_pq_maintain
    * oracles. Ends with `asg` (vec_id, s, j) and leaves `cd` (long-form
    * codes) open for the caller. */
  private def duckPqCtes(unnRel: String): String = s"""
    mm AS (SELECT dim, MIN(CAST(v AS DOUBLE)) AS mn,
        MAX(CAST(v AS DOUBLE)) AS mx FROM $unnRel GROUP BY dim),
    cd AS MATERIALIZED (SELECT u.vec_id, u.dim,
        CASE WHEN m.mx = m.mn THEN CAST(0 AS BIGINT)
          ELSE CAST(floor((CAST(u.v AS DOUBLE) - m.mn) * 255.0
            / (m.mx - m.mn)) AS BIGINT) END AS code
      FROM $unnRel u JOIN mm m ON m.dim = u.dim),
    rk AS (SELECT vec_id, ROW_NUMBER() OVER (ORDER BY
        ${duckHash60("CAST(vec_id AS VARCHAR)")}, vec_id) AS j
      FROM (SELECT DISTINCT vec_id FROM cd) z),
    cb AS MATERIALIZED (SELECT rk.j, c.dim, c.code
      FROM rk JOIN cd c ON c.vec_id = rk.vec_id WHERE rk.j <= 16),
    dist AS (SELECT v.vec_id, v.dim // 8 AS s, c.j,
        SUM((v.code - c.code) * (v.code - c.code)) AS d
      FROM cd v JOIN cb c ON c.dim = v.dim GROUP BY 1, 2, 3),
    asg AS MATERIALIZED (SELECT vec_id, s, j FROM (SELECT vec_id, s, j,
        ROW_NUMBER() OVER (PARTITION BY vec_id, s ORDER BY d, j) AS rn
      FROM dist) t WHERE rn = 1)"""

  private val duckPqPre: String = s"""
    unn AS MATERIALIZED (SELECT vec_id, i - 1 AS dim,
        CAST(embedding[i] AS DOUBLE) AS v
      FROM embeddings, unnest(generate_series(1, len(embedding))) AS g(i)),
    ${duckPqCtes("unn")}"""

  private def ivfStatsFromCounts(rel: String): String = s"""
      SELECT CAST(SUM(n) AS BIGINT) AS n_vectors,
        CAST(COUNT(*) AS BIGINT) AS n_cells,
        CAST(MIN(n) AS BIGINT) AS min_cell,
        CAST(MAX(n) AS BIGINT) AS max_cell,
        CAST(MAX(n) AS DOUBLE) * CAST(COUNT(*) AS DOUBLE)
          / CAST(SUM(n) AS DOUBLE) AS imbalance
      FROM $rel"""

  /** Test hook (SimSearchSpec): the same Spark IVF pipeline with a custom
    * sample multiplier, so specs can force the training sample STRICTLY
    * below the fixture corpus (the graded keys' 32·k covers all 500
    * fixture vectors) and assert recall still clears the floor. */
  private[graft] def ivfViewSampled(s: org.apache.spark.sql.SparkSession,
      dir: String, mult: Int): String = {
    val n = normView(s, dir)
    val unn = unnView(s, dir)
    val a1 = graft.Views.checkpointed(s, dir, s"simivf_a1_m$mult",
      ivfAssignSql(sparkDs, mat = "", nRel = n,
        unnRel = s"(SELECT vec_id, dim, v FROM $unn) uv", str = "STRING",
        arr = sparkArr, fold = sparkFold, mult = mult))
    val c2 = graft.Views.checkpointed(s, dir, s"simivf_c2_m$mult",
      ivfCentSql(sparkDs, a1, unn))
    graft.Views.materialize(s, dir, s"simivf_m$mult",
      ivfProbeSql(sparkDs, pre = "", nRel = n, unnRel = unn,
        aRel = a1, cRel = c2, dot = (a, b) => s"vec_dot($a, $b)"))
  }

  /** Test hook (SimSearchSpec): the ACTUAL training-sample size the
    * `samp` CTE draws at multiplier `mult` — per 2-hex md5 bucket,
    * min(bucket size, ⌈mult·k/256⌉) members. The r11 spec asserted
    * strictness from the formulaic 4·⌈√N⌉ bound, but the per-bucket
    * quota floors at 1, so the real draw at small corpora is ~one per
    * nonempty bucket — strictness must be judged on THIS count. */
  private[graft] def ivfSampleCount(s: org.apache.spark.sql.SparkSession,
      dir: String, mult: Int): Long = {
    val n = normView(s, dir)
    s.sql(s"""
      WITH kk AS (SELECT CAST(ceil(sqrt(CAST(COUNT(*) AS DOUBLE)))
          AS BIGINT) AS k FROM $n),
      qq AS (SELECT CAST(ceil($mult.0 * k / 256.0) AS BIGINT) AS q FROM kk),
      b AS (SELECT substring(md5(CAST(vec_id AS STRING)), 1, 2) AS bk,
          COUNT(*) AS c FROM $n GROUP BY 1)
      SELECT CAST(SUM(LEAST(c, (SELECT q FROM qq))) AS BIGINT) FROM b""")
      .collect()(0).getLong(0)
  }

  def ops: Seq[Op] = Seq(

    Op("sim_topk",
      (s, dir) => s.sql(
        s"SELECT qa, vb, rnk, cos FROM ${topkView(s, dir)} ORDER BY qa, rnk"),
      Some(topkOracle)),

    Op("sim_knn_join",
      (s, dir) => s.sql(
        s"SELECT va, vb, rnk, cos FROM ${knnView(s, dir)} ORDER BY va, rnk"),
      Some(knnOracle)),

    // MULTI-TABLE sign-LSH kNN — the standard recall dial a production ANN
    // join ships: L=10 independent hash tables (disjoint 3-dim sign groups)
    // generate candidates as a UNION of per-table bucket equi-joins,
    // dedup'd, then exact-reranked — candidates only, never all pairs.
    // L × bits-per-table trades candidate volume for recall: this fixture's
    // embeddings are weakly structured (top-3 cosines ≈ 0.31-0.45, near
    // random), so hitting the recall-0.9 contract (sim_recall +
    // SimSearchSpec floor) needs coarse tables that admit ~70% of this tiny
    // corpus as candidates; on clustered real data the same L with more
    // bits per table keeps buckets discriminative. The single-table
    // variant (sim_knn_join) stays as the cheap low-recall baseline.
    Op("sim_knn_multitable",
      (s, dir) => s.sql(
        s"SELECT qa, vb, rnk, cos FROM ${mtView(s, dir)} ORDER BY qa, rnk"),
      Some(mtOracle)),

    // True IVF with a TRAINED coarse quantizer: seeded deterministic
    // k-means (k ≈ √N rank-based seeds, two exact-decimal Lloyd rounds —
    // see ivfAssignSql), probe the √k nearest trained centroids per query,
    // exact-rerank inside the probed cells. Centroids live as a relational
    // (cell, dim, val) table, so the train/assign math is decimal-exact and
    // mirrorable in the oracle; the rerank uses native vec_dot. At 100 TB
    // the centroid table stays broadcast-size while the per-vector cell
    // assignment is the stored inverted file the probe equi-joins against.
    Op("sim_ivf",
      (s, dir) => s.sql(
        s"SELECT qa, vb, rnk, cos FROM ${ivfView(s, dir)} ORDER BY qa, rnk"),
      Some(ivfOracle)),

    // ANN recall as a GRADED CONTRACT: recall@3 of the two approximate
    // paths (sign-LSH knn join, IVF) against the exact brute-force top-3
    // (sim_topk's rnk ≤ 3) over the shared query set (vec_id % 100 = 0).
    // Hit counts are integers ⇒ exactly oracle-able; the closing recall
    // division is one fixed-order IEEE op. SimSearchSpec asserts the
    // recall floor; this key pins the exact hit counts cross-engine so a
    // recall regression (bucket-function drift, probe-selection change)
    // breaks the harness, not just a spec heuristic.
    // IVF index health: occupancy of the stored inverted file — the
    // operational check a vector store runs after (re)training (cell
    // count, emptiest/fullest cell, max/avg imbalance). A skewed
    // quantizer silently turns nprobe cells into a corpus scan; this key
    // pins the trained index's balance cross-engine so a training drift
    // that degrades it breaks the harness, not just latency. Reads the
    // memoized assignment artifact — no retraining, metadata-scale
    // aggregate.
    Op("sim_ivf_stats",
      (s, dir) => s.sql(ivfStatsSql(assignView(s, dir))),
      Some(ivfStatsOracle)),

    // STREAMING ANN-INDEX MAINTENANCE — the sim family's maintain twin
    // (minhash/cc/scd2/topk/quality/substring all have one; the vector
    // index is the last stored artifact that didn't): the inverted file's
    // occupancy kept current as embedding slices arrive. Production
    // vector stores train the coarse quantizer OFFLINE on a snapshot
    // sample and assign arrivals incrementally — nobody retrains per
    // drop — so the stored [[quantizerView]] is the fixed model and the
    // STATE is the per-cell occupancy counts: k ≈ √N rows, nothing
    // corpus-sized. Per batch: batch × k vec_dot scores against the
    // broadcast-sized quantizer (the index never shuffles), one k-row
    // count merge. Assignment depends only on (vector, quantizer), so
    // the fold is ORDER-FREE: any slicing lands exactly on the batch
    // pipeline's occupancy — the emitted report equals sim_ivf_stats bit
    // for bit and the oracle IS that key's oracle; SimSearchSpec asserts
    // the fold-vs-batch equality on a different slicing.
    Op("stream_ivf_maintain",
      (s, dir) => {
        GraftFunctions.register(s)
        val key = "stream_ivf_maintain"
        val stage = Maintain.stage(key, dir, col("vec_id")) {
          Tables(s, dir, "embeddings").select("vec_id", "embedding")
        }
        val ca = quantizerView(s, dir)
        var counts = graft.util.empty(s, "cell BIGINT, n BIGINT")
        Maintain.fold(s, key, stage,
            "vec_id BIGINT, embedding ARRAY<FLOAT>") { batch =>
          val bs = batch.sparkSession
          GraftFunctions.register(bs)
          batch.createOrReplaceTempView("ivfm_batch")
          val bc = bs.sql(s"""
            WITH f AS (SELECT b.vec_id, c.cell,
                vec_dot(b.embedding, c.carr) - 0.5 * c.cnrm AS sc
              FROM ivfm_batch b CROSS JOIN $ca c),
            a AS (SELECT vec_id, cell FROM (
              SELECT vec_id, cell, ROW_NUMBER() OVER (PARTITION BY vec_id
                ORDER BY sc DESC, cell) AS rn FROM f) t WHERE rn = 1)
            SELECT cell, COUNT(*) AS n FROM a GROUP BY cell""")
          counts = graft.util.cut(counts.unionAll(bc)
            .groupBy("cell").agg(sum("n").as("n")))
        }
        counts.createOrReplaceTempView("ivfm_counts")
        s.sql(ivfStatsFromCounts("ivfm_counts"))
      },
      Some(ivfStatsOracle)),

    // HARD-NEGATIVE MINING — the contrastive-training export (anchor →
    // most-similar vectors of a DIFFERENT class, with the margin against
    // the anchor's best same-class positive): what an embedding-model
    // trainer pulls from the corpus before each epoch, and the reason a
    // training-data engine keeps cosine machinery at all. ONE scored pass
    // (query set broadcast against the corpus — sim_topk's shape), split
    // into the positive reference (top-1 same-label) and the ranked
    // negatives (top-3 different-label); margin = cos_pos − cos_neg
    // subtracts two already-computed doubles (per-row IEEE, exactly
    // oracle-able). Anchors whose class has no other member are skipped —
    // no positive, no triplet. At 100 TB the scored pass swaps for the
    // IVF/LSH candidate generators (sim_ivf / sim_knn_join); the
    // split/rank/margin tail is identical.
    Op("sim_hard_negatives",
      (s, dir) => s.sql(hardNegSql(
        s"(SELECT vec_id, label, embedding, nrm FROM ${normView(s, dir)}) hn",
        (a, b) => s"vec_dot($a, $b)")),
      Some(hardNegSql(
        s"""(SELECT vec_id, label, embedding,
          sqrt(${duckDot("embedding", "embedding")}) AS nrm
          FROM embeddings) hn""",
        (a, b) => duckDot(a, b))),
    ),

    // TWO-STAGE SQ8 RETRIEVAL — the production ANN serving shape the
    // quantization exists FOR: stage 1 scans compressed codes (integer
    // dot products over uint8 SQ codes — the asymmetric-distance scan a
    // vector store runs against its in-RAM coded index, exact integer
    // arithmetic ⇒ deterministic candidate CUT), stage 2 re-ranks only
    // the 25 survivors per query against full-precision floats (native
    // vec_dot cosine). At 100 TB stage 1 is the memory story — the coded
    // corpus is 4× smaller and scan-parallel per partition, queries
    // broadcast — and stage 2 touches 25 vectors per query however big
    // the corpus. The code arrays build once per (session, dir)
    // (Views.materialize) from the same mn/mx artifact embed_quantize
    // grades; integer stage-1 ranks + bit-identical stage-2 doubles make
    // the whole pipeline exactly oracle-able.
    Op("sim_sq_rerank",
      (s, dir) => {
        val nv = normView(s, dir)
        val codes = graft.Views.materialize(s, dir, "sqcodes", s"""
          SELECT vec_id,
            transform(array_sort(collect_list(struct(dim, code))),
              x -> x.code) AS codes
          FROM ${sqLongView(s, dir)} GROUP BY vec_id""")
        s.sql(s"""
          WITH q AS (SELECT vec_id AS qa, codes AS qc FROM $codes
            WHERE vec_id % 100 = 0),
          s1 AS (SELECT q.qa, c.vec_id AS vb,
              code_dot(q.qc, c.codes) AS appx
            FROM $codes c JOIN q ON c.vec_id <> q.qa),
          cand AS (SELECT qa, vb, appx,
              ROW_NUMBER() OVER (PARTITION BY qa ORDER BY appx DESC, vb)
                AS apprnk
            FROM s1),
          top AS (SELECT qa, vb, appx FROM cand WHERE apprnk <= 25),
          ex AS (SELECT t.qa, t.vb, t.appx,
              vec_dot(a.embedding, b.embedding) / (a.nrm * b.nrm) AS cos
            FROM top t
            JOIN $nv a ON a.vec_id = t.qa
            JOIN $nv b ON b.vec_id = t.vb),
          rr AS (SELECT qa, vb, appx, cos,
              ROW_NUMBER() OVER (PARTITION BY qa ORDER BY cos DESC, vb)
                AS rnk FROM ex)
          SELECT qa, vb, rnk, appx, cos FROM rr WHERE rnk <= 5
          ORDER BY qa, rnk""")
      },
      Some(s"""
        WITH unn AS MATERIALIZED (SELECT vec_id, i - 1 AS dim,
            CAST(embedding[i] AS DOUBLE) AS v
          FROM embeddings, unnest(generate_series(1, len(embedding))) AS g(i)),
        mm AS (SELECT dim, MIN(v) AS mn, MAX(v) AS mx FROM unn GROUP BY dim),
        cd AS MATERIALIZED (SELECT u.vec_id, u.dim,
            CASE WHEN m.mx = m.mn THEN CAST(0 AS BIGINT)
              ELSE CAST(floor((u.v - m.mn) * 255.0 / (m.mx - m.mn))
                AS BIGINT) END AS code
          FROM unn u JOIN mm m ON m.dim = u.dim),
        q AS (SELECT vec_id, dim, code FROM cd WHERE vec_id % 100 = 0),
        s1 AS (SELECT q.vec_id AS qa, c.vec_id AS vb,
            CAST(SUM(q.code * c.code) AS BIGINT) AS appx
          FROM q JOIN cd c ON c.dim = q.dim AND c.vec_id <> q.vec_id
          GROUP BY 1, 2),
        cand AS (SELECT qa, vb, appx,
            ROW_NUMBER() OVER (PARTITION BY qa ORDER BY appx DESC, vb)
              AS apprnk FROM s1),
        top AS (SELECT qa, vb, appx FROM cand WHERE apprnk <= 25),
        n AS MATERIALIZED (SELECT vec_id, embedding,
          sqrt(${duckDot("embedding", "embedding")}) AS nrm FROM embeddings),
        ex AS (SELECT t.qa, t.vb, t.appx,
            ${duckDot("a.embedding", "b.embedding")} / (a.nrm * b.nrm) AS cos
          FROM top t
          JOIN n a ON a.vec_id = t.qa
          JOIN n b ON b.vec_id = t.vb),
        rr AS (SELECT qa, vb, appx, cos,
            ROW_NUMBER() OVER (PARTITION BY qa ORDER BY cos DESC, vb)
              AS rnk FROM ex)
        SELECT qa, vb, rnk, appx, cos FROM rr WHERE rnk <= 5
        ORDER BY qa, rnk""")),

    // SCALAR QUANTIZATION (SQ8) — the memory lever every production
    // vector store pulls before sharding helps: per-dimension min/max
    // over the corpus (a D-row broadcast artifact), each component coded
    // to ⌊(v−mn)·255/(mx−mn)⌋ ∈ [0,255] — 4× smaller than float32, the
    // difference between an in-RAM and a spilling ANN index at 100 TB.
    // Coding is one codegen'd pass over the per-dim stream joined to the
    // broadcast min/max; constant dims code to 0. The graded output is
    // per-vector integer signatures (Σcode and the order-weighted
    // Σcode·(dim+1)) rather than the code arrays themselves — array cells
    // don't sort under the driver's grader (§5 house rule), and the
    // weighted signature pins every code AND its position exactly. The
    // quantization arithmetic is identical literal-for-literal in both
    // engines (float→double widening is exact, one multiply/divide chain,
    // floor) so the codes are bit-reproducible cross-engine.
    Op("embed_quantize",
      (s, dir) => {
        val unn = unnView(s, dir)
        s.sql(s"""
          WITH mm AS (SELECT dim, CAST(MIN(v) AS DOUBLE) AS mn,
              CAST(MAX(v) AS DOUBLE) AS mx
            FROM $unn GROUP BY dim),
          codes AS (SELECT u.vec_id, u.dim,
              CASE WHEN m.mx = m.mn THEN CAST(0 AS BIGINT)
                ELSE CAST(floor((CAST(u.v AS DOUBLE) - m.mn) * 255.0
                  / (m.mx - m.mn)) AS BIGINT) END AS code
            FROM $unn u JOIN mm m ON m.dim = u.dim)
          SELECT vec_id, COUNT(*) AS n_dims,
            SUM(code) AS code_sum,
            SUM(code * (dim + 1)) AS code_sig
          FROM codes GROUP BY vec_id ORDER BY vec_id""")
      },
      Some("""
        WITH unn AS (SELECT vec_id, i - 1 AS dim,
            CAST(embedding[i] AS DOUBLE) AS v
          FROM embeddings, unnest(generate_series(1, len(embedding))) AS g(i)),
        mm AS (SELECT dim, MIN(v) AS mn, MAX(v) AS mx FROM unn GROUP BY dim),
        codes AS (SELECT u.vec_id, u.dim,
            CASE WHEN m.mx = m.mn THEN CAST(0 AS BIGINT)
              ELSE CAST(floor((u.v - m.mn) * 255.0 / (m.mx - m.mn))
                AS BIGINT) END AS code
          FROM unn u JOIN mm m ON m.dim = u.dim)
        SELECT vec_id, COUNT(*) AS n_dims,
          CAST(SUM(code) AS BIGINT) AS code_sum,
          CAST(SUM(code * (dim + 1)) AS BIGINT) AS code_sig
        FROM codes GROUP BY vec_id ORDER BY vec_id""")),

    Op("sim_recall",
      (s, dir) => {
        // one declarative query over the memoized pipeline results
        // (persisted, result-sized views): the hit counts are scalar
        // aggregates of broadcast-joined few-hundred-row inputs, folded in
        // a SINGLE job — the earlier form ran four driver count() actions
        // and paid per-action planning/AQE latency 4× for metadata-scale
        // answers.
        s.sql(s"""
          WITH exact AS (SELECT qa, vb FROM ${topkView(s, dir)} WHERE rnk <= 3),
          nq AS (SELECT COUNT(DISTINCT qa) AS n FROM exact),
          knnh AS (SELECT COUNT(*) AS hits FROM ${knnView(s, dir)} k
            JOIN exact e ON e.qa = k.va AND e.vb = k.vb WHERE k.va % 100 = 0),
          ivfh AS (SELECT COUNT(*) AS hits FROM ${ivfView(s, dir)} i
            JOIN exact e ON e.qa = i.qa AND e.vb = i.vb),
          mth AS (SELECT COUNT(*) AS hits FROM ${mtView(s, dir)} m
            JOIN exact e ON e.qa = m.qa AND e.vb = m.vb)
          SELECT method, n_queries, n_hits,
            CAST(n_hits AS DOUBLE) / CAST(3 * n_queries AS DOUBLE) AS recall
          FROM (
            SELECT 'ivf' AS method, nq.n AS n_queries, ivfh.hits AS n_hits
            FROM nq, ivfh
            UNION ALL
            SELECT 'knn', nq.n, knnh.hits FROM nq, knnh
            UNION ALL
            SELECT 'multitable', nq.n, mth.hits FROM nq, mth) r
          ORDER BY method""")
      },
      Some(s"""
        WITH exact AS (SELECT qa, vb FROM ($topkOracle) t WHERE rnk <= 3),
        nq AS (SELECT COUNT(DISTINCT qa) AS n FROM exact),
        knnh AS (SELECT COUNT(*) AS hits FROM ($knnOracle) k
          JOIN exact e ON e.qa = k.va AND e.vb = k.vb WHERE k.va % 100 = 0),
        ivfh AS (SELECT COUNT(*) AS hits FROM ($ivfOracle) i
          JOIN exact e ON e.qa = i.qa AND e.vb = i.vb),
        mth AS (SELECT COUNT(*) AS hits FROM ($mtOracle) m
          JOIN exact e ON e.qa = m.qa AND e.vb = m.vb)
        SELECT method, n_queries, n_hits,
          CAST(n_hits AS DOUBLE) / CAST(3 * n_queries AS DOUBLE) AS recall
        FROM (
          SELECT 'ivf' AS method, nq.n AS n_queries, ivfh.hits AS n_hits
          FROM nq, ivfh
          UNION ALL
          SELECT 'knn', nq.n, knnh.hits FROM nq, knnh
          UNION ALL
          SELECT 'multitable', nq.n, mth.hits FROM nq, mth) r
        ORDER BY method""")),

    // MAXIMUM-INNER-PRODUCT top-k (the recommender serving shape: score =
    // item prior × relevance — the fixture's unit-norm embeddings make raw
    // MIPS degenerate to cosine, so the graded key carries a deterministic
    // per-item 16-level weight (1 + id%16)/4, exactly the popularity factor real
    // MIPS systems rank by). EXACT result with a NORM-BOUND PRUNE
    // (Cauchy–Schwarz: score ≤ w·‖x‖·‖q‖, so once τ = the kth-best score
    // among the top-50-by-(w·‖x‖) candidates is known, only vectors with
    // w·‖x‖·‖q‖ ≥ τ can enter the final top-k). Phase 2 is a BAND
    // EQUI-JOIN, not a theta probe of the corpus (r14's shape measured
    // 12.2× at 10× — pair-quadratic): every corpus vector is bucketed
    // into one of 64 linear bands over w·‖x‖; each query explodes ONLY
    // the band ids whose UPPER bound clears its (τ−ε)/‖q‖ cutoff (≤64
    // small rows per query), and the join is a hash/SMJ on the band id
    // with the exact bound as a residual filter. Losslessness: a vector
    // with w·‖x‖ ≥ cutoff has band ≥ floor((cutoff−lo)/step), so every
    // survivor of the old theta predicate is in a probed band; the
    // residual filter re-applies the exact predicate inside the band.
    // 64 keys over 32 shuffle partitions is deliberate — AQE's skew
    // split subdivides any fat band at runtime. The 1e-6 absolute slack
    // absorbs float wobble in the bound itself (sign-safe, unlike a
    // relative factor); the BRUTE-FORCE oracle proves the prune lossless
    // at gate SF. At 100 TB the band id is a partition column of the
    // vector layout and probing bands = partition pruning.
    Op("sim_mips",
      (s, dir) => s.sql(s"""
        WITH n AS (SELECT vec_id, embedding, nrm,
          CAST(1 + vec_id % 16 AS DOUBLE) / 4 AS pw FROM ${normView(s, dir)}),
        bnd AS (SELECT MIN(pw * nrm) AS lo,
          (MAX(pw * nrm) - MIN(pw * nrm)) / 64 + 1e-12 AS step FROM n),
        nb AS (SELECT vec_id, embedding, pw, pw * nrm AS pwn,
          CAST(LEAST(63, FLOOR((pw * nrm - lo) / step)) AS INT) AS band
          FROM n CROSS JOIN bnd),
        q AS (SELECT vec_id AS qa, embedding AS eq, nrm AS nq FROM n
          WHERE vec_id % 100 = 0),
        cand AS (SELECT vec_id, embedding, pw FROM n
          ORDER BY pw * nrm DESC, vec_id LIMIT 50),
        tau AS (SELECT qa, MIN(sc) AS tau FROM (
          SELECT q.qa, c.pw * vec_dot(q.eq, c.embedding) AS sc,
            ROW_NUMBER() OVER (PARTITION BY q.qa
              ORDER BY c.pw * vec_dot(q.eq, c.embedding) DESC, c.vec_id) AS rn
          FROM q JOIN cand c ON c.vec_id <> q.qa) z
          WHERE rn <= 5 GROUP BY qa),
        qb AS (SELECT q.qa, q.eq, q.nq, t.tau,
          explode(sequence(CAST(GREATEST(0, LEAST(63,
            FLOOR(((t.tau - 1e-6) / q.nq - lo) / step))) AS INT),
            64 - 1)) AS band
          FROM q JOIN tau t ON t.qa = q.qa CROSS JOIN bnd),
        scored AS (SELECT qb.qa, nb.vec_id AS vb,
            nb.pw * vec_dot(qb.eq, nb.embedding) AS score
          FROM qb JOIN nb ON nb.band = qb.band
            AND nb.vec_id <> qb.qa
            AND nb.pwn * qb.nq >= qb.tau - 1e-6)
        SELECT qa, vb, rnk, score FROM (
          SELECT *, ROW_NUMBER() OVER (PARTITION BY qa
            ORDER BY score DESC, vb) AS rnk FROM scored) z
        WHERE rnk <= 5 ORDER BY qa, rnk"""),
      Some(s"""
        WITH n AS MATERIALIZED (SELECT vec_id, embedding,
          CAST(1 + vec_id % 16 AS DOUBLE) / 4 AS pw FROM embeddings),
        q AS (SELECT vec_id AS qa, embedding AS eq FROM n
          WHERE vec_id % 100 = 0),
        scored AS (SELECT q.qa, n.vec_id AS vb,
            n.pw * ${duckDot("q.eq", "n.embedding")} AS score
          FROM q JOIN n ON n.vec_id <> q.qa)
        SELECT qa, vb, rnk, score FROM (
          SELECT *, ROW_NUMBER() OVER (PARTITION BY qa
            ORDER BY score DESC, vb) AS rnk FROM scored) z
        WHERE rnk <= 5 ORDER BY qa, rnk""")),

    // PRODUCT-QUANTIZATION ADC RETRIEVAL — the compression step past SQ8
    // that production vector indexes (IVF-PQ) actually serve from: each
    // vector is 8 codebook ids (one per 8-dim subspace) — 32× smaller
    // than fp32 — and a query scans the corpus WITHOUT touching vectors
    // at all: it precomputes an 8×16 lookup table of integer inner
    // products (its own SQ sub-codes × every codebook entry), and the
    // approximate score of vector v is 8 LUT lookups summed. Here the
    // LUT-scan is declarative: corpus assignments (vec_id, s, j) equi-
    // join the broadcast LUT on (s, j) and SUM — the corpus side carries
    // 8 small ints per vector, the classic asymmetric-distance scan
    // shape. Stage 2 re-ranks the 25 ADC survivors per query against
    // full-precision floats (sim_sq_rerank's tail — exact per-row IEEE).
    // Everything before the final cosine is BIGINT ⇒ exactly oracle-able;
    // the codebook is md5-sampled (deterministic — see pqCbView). At
    // 100 TB: model (codebook+LUT) broadcasts, codes scan partition-
    // parallel, stage 2 touches 25 vectors per query regardless of
    // corpus size. This key is deliberately the FLAT-ADC baseline (every
    // corpus code row scanned per query batch — exhaustive-PQ recall);
    // the production serving shape that scans only the probed IVF
    // cells' codes is the composed sim_ivfpq below.
    Op("sim_pq_adc",
      (s, dir) => {
        val sl = sqLongView(s, dir)
        val cb = pqCbView(s, dir)
        val asg = pqAsgView(s, dir)
        val nv = normView(s, dir)
        // Nested-subquery form, NOT a WITH chain: when the persisted view
        // artifacts above are still unmaterialized, Spark 4.1's InlineCTE
        // rule fails plan validation on this query's CTE chain
        // (PLAN_VALIDATION_FAILED_RULE_IN_BATCH — resolved plan becomes
        // unresolved after inlining). Subqueries express the identical
        // plan and never enter that rule.
        s.sql(s"""
          SELECT qa, vb, rnk, appx, cos FROM (
            SELECT qa, vb, appx, cos, ROW_NUMBER() OVER (PARTITION BY qa
                ORDER BY cos DESC, vb) AS rnk
            FROM (
              SELECT t.qa, t.vb, t.appx,
                vec_dot(a2.embedding, b2.embedding)
                  / (a2.nrm * b2.nrm) AS cos
              FROM (
                SELECT qa, vb, appx FROM (
                  SELECT qa, vb, appx, ROW_NUMBER() OVER (PARTITION BY qa
                      ORDER BY appx DESC, vb) AS rn
                  FROM (
                    SELECT l.qa, a.vec_id AS vb, SUM(l.ip) AS appx
                    FROM $asg a JOIN (
                      SELECT q.vec_id AS qa, q.dim div 8 AS s, c.j,
                        SUM(q.code * c.code) AS ip
                      FROM (SELECT vec_id, dim, code FROM $sl
                        WHERE vec_id % 100 = 0) q
                      JOIN $cb c ON c.dim = q.dim GROUP BY 1, 2, 3) l
                      ON l.s = a.s AND l.j = a.j
                    WHERE a.vec_id <> l.qa GROUP BY 1, 2) z0) z1
                WHERE rn <= 25) t
              JOIN $nv a2 ON a2.vec_id = t.qa
              JOIN $nv b2 ON b2.vec_id = t.vb) z2) z3
          WHERE rnk <= 5 ORDER BY qa, rnk""")
      },
      Some(s"""
        WITH $duckPqPre,
        q AS (SELECT vec_id, dim, code FROM cd WHERE vec_id % 100 = 0),
        lut AS (SELECT q.vec_id AS qa, q.dim // 8 AS s, c.j,
            SUM(q.code * c.code) AS ip
          FROM q JOIN cb c ON c.dim = q.dim GROUP BY 1, 2, 3),
        appx AS (SELECT l.qa, a.vec_id AS vb,
            CAST(SUM(l.ip) AS BIGINT) AS appx
          FROM asg a JOIN lut l ON l.s = a.s AND l.j = a.j
          WHERE a.vec_id <> l.qa GROUP BY 1, 2),
        top AS (SELECT qa, vb, appx FROM (SELECT qa, vb, appx,
            ROW_NUMBER() OVER (PARTITION BY qa
              ORDER BY appx DESC, vb) AS rn
          FROM appx) t WHERE rn <= 25),
        n AS MATERIALIZED (SELECT vec_id, embedding,
          sqrt(${duckDot("embedding", "embedding")}) AS nrm FROM embeddings),
        ex AS (SELECT t.qa, t.vb, t.appx,
            ${duckDot("a.embedding", "b.embedding")} / (a.nrm * b.nrm) AS cos
          FROM top t JOIN n a ON a.vec_id = t.qa
          JOIN n b ON b.vec_id = t.vb)
        SELECT qa, vb, CAST(rnk AS INTEGER) AS rnk, appx, cos
        FROM (SELECT qa, vb, appx, cos,
            ROW_NUMBER() OVER (PARTITION BY qa
              ORDER BY cos DESC, vb) AS rnk
          FROM ex) t WHERE rnk <= 5 ORDER BY qa, rnk""")),

    // IVF-PQ — the COMPOSED serving key (FAISS-IVFPQ lineage): the two
    // halves that existed separately in this repo, joined the way a
    // production vector index actually serves. sim_ivf's trained coarse
    // quantizer picks nprobe = max(2, ⌈√k⌉) cells per query; ONLY those
    // cells' inverted-file rows are ADC-scanned (codes ⋈ the query's
    // broadcast 8×16 LUT), and the exact re-rank tail touches 25
    // survivors per query. Per-query scan work is ~nprobe/k ≈ 1/√k of
    // the corpus instead of sim_pq_adc's full compressed scan — the fix
    // for that key's measured 5.11× at 10× (queries grow with the
    // corpus; the probed fraction SHRINKS as 1/√k, so the composed scan
    // stays ~linear). All artifacts are the stored views both parent
    // keys already share (quantizer, inverted file, SQ codes, codebook,
    // assignments): warm serving reuses every one. Everything before
    // the final cosine is BIGINT or exact-decimal ⇒ the DuckDB oracle
    // replays the full chain (train + assign + probe + PQ + ADC)
    // bit-for-bit.
    Op("sim_ivfpq",
      (s, dir) => {
        GraftFunctions.register(s)
        val sl = sqLongView(s, dir)
        val cbv = pqCbView(s, dir)
        val asg = pqAsgView(s, dir)
        val nv = normView(s, dir)
        val unn = unnView(s, dir)
        val a1 = assignView(s, dir)
        val c2 = graft.Views.checkpointed(s, dir, "simivf_c2",
          ivfCentSql(sparkDs, a1, unn))
        // Probe set materialized as its own (queries × nprobe)-row view —
        // a single nested SELECT, so the InlineCTE trap never applies,
        // and every query below is WITH-free nested subqueries (the
        // sim_pq_adc discipline).
        val probe = graft.Views.materialize(s, dir, "ivfpqprobe",
          probeSelSql(sparkDs, unn, c2))
        // The STORED IVF-PQ index row — (vec_id, cell, 8 packed
        // sub-codes), literally what a FAISS-IVFPQ inverted list holds.
        // Folding cell + codes into ONE row is the plan-shape fix the
        // first cut of this key missed: a relational (vec_id, s, j)
        // ADC (the sim_pq_adc shape restricted to probed members)
        // shuffled the candidate stream three times (cell join → code
        // join → (qa, vb) aggregate) and measured SLOWER than the flat
        // scan it fronts — the flat scan never shuffles its 8×-wider
        // stream at all. With the packed row, serving is one scan.
        val pqidx = graft.Views.materialize(s, dir, "pqidx", s"""
          SELECT a.vec_id, a.cell, g.jarr FROM $a1 a JOIN (
            SELECT vec_id, transform(array_sort(collect_list(
                struct(CAST(s AS INT) AS s, CAST(j AS INT) AS j))),
              x -> x.j) AS jarr
            FROM $asg GROUP BY vec_id) g ON g.vec_id = a.vec_id""")
        // Per-query LUT as a dense 128-slot array (slot s·16+j, 1-based):
        // the query's integer inner products against every codebook
        // entry, the table ADC looks up instead of touching vectors.
        val lut = graft.Views.materialize(s, dir, "pqlutarr", s"""
          SELECT qa, transform(array_sort(collect_list(struct(
              CAST(s AS INT) * 16 + CAST(j AS INT) AS pos, ip))),
            x -> x.ip) AS iparr
          FROM (SELECT q.vec_id AS qa, q.dim div 8 AS s, c.j,
              SUM(q.code * c.code) AS ip
            FROM (SELECT vec_id, dim, code FROM $sl
              WHERE vec_id % 100 = 0) q
            JOIN $cbv c ON c.dim = q.dim GROUP BY 1, 2, 3) l
          GROUP BY qa""")
        // Serving: ONE pass over the probed cells' index rows (probe and
        // LUT broadcast onto the pqidx scan), appx = an 8-step array
        // fold per row, and the per-query top-25 cut via the bounded
        // topk_rows aggregate (map-side combined — each task reduces to
        // ≤25 rows per query, so the only candidate-stream shuffle
        // carries ≤ 25·tasks·queries tuples, never the candidates).
        // TopKRows' total order (ord DESC, key1 ASC) is exactly the
        // oracle's ROW_NUMBER (appx DESC, vb) — same survivor set.
        // appx ≤ 8·8·255² < 2^53, so the DOUBLE ord round-trips exactly.
        s.sql(s"""
          SELECT qa, vb, rnk, appx, cos FROM (
            SELECT qa, vb, appx, cos, ROW_NUMBER() OVER (PARTITION BY qa
                ORDER BY cos DESC, vb) AS rnk
            FROM (
              SELECT t.qa, t.vb, t.appx,
                vec_dot(a2.embedding, b2.embedding)
                  / (a2.nrm * b2.nrm) AS cos
              FROM (
                SELECT qa, e.key1 AS vb, CAST(e.ord AS BIGINT) AS appx
                FROM (
                  SELECT qa, topk_rows(CAST(appx AS DOUBLE), vb,
                      CAST(0 AS INT), 25) AS top
                  FROM (
                    SELECT p.qa, x.vec_id AS vb,
                      aggregate(zip_with(x.jarr, sequence(1, 8),
                        (jj, ss) -> element_at(l.iparr,
                          CAST((ss - 1) * 16 + jj AS INT))),
                        CAST(0 AS BIGINT), (acc, v) -> acc + v) AS appx
                    FROM $probe p JOIN $pqidx x ON x.cell = p.cell
                    JOIN $lut l ON l.qa = p.qa
                    WHERE x.vec_id <> p.qa) adc
                  GROUP BY qa) tk
                LATERAL VIEW explode(top) t0 AS e) t
              JOIN $nv a2 ON a2.vec_id = t.qa
              JOIN $nv b2 ON b2.vec_id = t.vb) z2) z3
          WHERE rnk <= 5 ORDER BY qa, rnk""")
      },
      Some(ivfPqOracle)),

    // STREAMING PQ-INDEX MAINTENANCE — the PQ family's maintain twin,
    // exactly stream_ivf_maintain's contract at a finer granularity: the
    // codebook and the per-dim SQ min/max are the OFFLINE model (trained
    // on a snapshot; nobody refits per arrival), the STATE is the 8×16
    // occupancy grid of (subspace, codeword) — 128 rows whatever the
    // corpus. Per batch: the batch's dims join the broadcast model, one
    // grid-sized count merge. Assignment depends only on (vector, model)
    // ⇒ the fold is ORDER-FREE and lands bit-for-bit on the batch
    // pipeline's occupancy; the oracle replays the full PQ chain and
    // counts. The grid is what an operator watches for codebook
    // staleness (a drifting corpus concentrates mass on few codewords).
    Op("stream_pq_maintain",
      (s, dir) => {
        val key = "stream_pq_maintain"
        val stage = Maintain.stage(key, dir, col("vec_id")) {
          Tables(s, dir, "embeddings").select("vec_id", "embedding")
        }
        val cb = pqCbView(s, dir)
        val mm = sqMmView(s, dir)
        var counts = graft.util.empty(s, "s BIGINT, j INT, n BIGINT")
        Maintain.fold(s, key, stage,
            "vec_id BIGINT, embedding ARRAY<FLOAT>") { batch =>
          val bs = batch.sparkSession
          // spread (guide §2.5): the per-batch 64-dim posexplode +
          // 16-codeword distance fold ran in the one-task batch scan
          graft.util.spread(batch.toDF(), col("vec_id"))
            .createOrReplaceTempView("pqm_batch")
          val bc = bs.sql(s"""
            WITH u AS (SELECT vec_id, dim, v FROM pqm_batch
              LATERAL VIEW posexplode(embedding) t AS dim, v),
            cdb AS (SELECT u.vec_id, u.dim,
                CASE WHEN m.mx = m.mn THEN CAST(0 AS BIGINT)
                  ELSE CAST(floor((CAST(u.v AS DOUBLE) - m.mn) * 255.0
                    / (m.mx - m.mn)) AS BIGINT) END AS code
              FROM u JOIN $mm m ON m.dim = u.dim),
            dist AS (SELECT v.vec_id, v.dim div 8 AS s, c.j,
                SUM((v.code - c.code) * (v.code - c.code)) AS d
              FROM cdb v JOIN $cb c ON c.dim = v.dim GROUP BY 1, 2, 3),
            -- argmin by (d, j) as a map-side-combined struct-min (r17,
            -- guide §2.3): identical to the ROW_NUMBER(ORDER BY d, j)
            -- rank-1 row this replaces ((d, j) unique per (vec, s)),
            -- without shuffling and sorting the full 16-codeword
            -- distance relation per batch
            a AS (SELECT vec_id, s, m.j AS j FROM (
              SELECT vec_id, s, MIN(struct(d, j)) AS m
              FROM dist GROUP BY 1, 2) t)
            SELECT s, j, COUNT(*) AS n FROM a GROUP BY s, j""")
          counts = graft.util.cut(counts.unionAll(bc)
            .groupBy("s", "j").agg(sum("n").as("n")))
        }
        counts.orderBy("s", "j")
      },
      Some(s"""
        WITH $duckPqPre
        SELECT s, CAST(j AS INTEGER) AS j, COUNT(*) AS n
        FROM asg GROUP BY s, j ORDER BY s, j"""))
  )

  private val duckDds: String => String =
    e => s"CAST(CAST(SUM(CAST(($e) AS DECIMAL(38,10))) AS VARCHAR) AS DOUBLE)"

  /** The oracle's nmat/unnmat/a1 prefix (retrains the quantizer inline —
    * DuckDB has no session artifacts; same texts, MATERIALIZED CTEs). */
  private def duckIvfPre: String = {
    val nRel = s"""(SELECT vec_id, embedding,
      sqrt(${duckDot("embedding", "embedding")}) AS nrm FROM embeddings) nb"""
    val unnRel = """(SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS dim,
      unnest(embedding) AS v FROM embeddings) uv"""
    s"""nmat AS MATERIALIZED (
        SELECT vec_id, embedding, nrm FROM $nRel),
      unnmat AS MATERIALIZED (SELECT vec_id, dim, v FROM $unnRel),
      a1 AS MATERIALIZED (SELECT * FROM (${ivfAssignSql(duckDds,
        mat = "MATERIALIZED ", nRel = "nmat", unnRel = "unnmat",
        str = "VARCHAR", arr = duckArr, fold = duckFold)}) aq),
      """
  }

  private val ivfOracle: String = {
    val pre = duckIvfPre +
      s"""c2 AS MATERIALIZED (${ivfCentSql(duckDds, "a1", "unnmat")}),
      """
    ivfProbeSql(duckDds, pre = pre, nRel = "nmat", unnRel = "unnmat",
      aRel = "a1", cRel = "c2", dot = (a, b) => duckDot(a, b)) +
      " ORDER BY qa, rnk"
  }

  /** sim_ivf_stats oracle: same stats text over the retrained a1. The
    * stats body opens its own WITH, so the pre chain is spliced by
    * rewriting that WITH into a continuation of the prefix. */
  private val ivfStatsOracle: String = {
    val body = ivfStatsSql("a1")
    s"WITH $duckIvfPre ${body.trim.stripPrefix("WITH")}"
  }

  /** sim_ivfpq oracle: the full IVF chain (train + assign + centroids +
    * probe — duckIvfPre's CTEs) spliced with the PQ model chain over the
    * SAME unnested relation, closed by the shared composed tail. */
  private lazy val ivfPqOracle: String = {
    val pre = duckIvfPre +
      s"""c2 AS MATERIALIZED (${ivfCentSql(duckDds, "a1", "unnmat")}),
      probe AS MATERIALIZED (${probeSelSql(duckDds, "unnmat", "c2")}),
      ${duckPqCtes("unnmat")},
      """
    // the trailing comma duckPqCtes does NOT carry is supplied above;
    // strip the duplicate one pre ends with before the tail body
    s"WITH ${pre.trim.stripSuffix(",")} " +
      ivfPqTailSql("//", "probe", "a1", "cd", "cb", "asg", "nmat",
        (a, b) => duckDot(a, b),
        e => s"CAST($e AS BIGINT)", e => s"CAST($e AS INTEGER)")
  }
}
