package graft.graph

import graft.{Tables, num}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deterministic property graph derived from the star-schema fixtures
  * (FIXTURES.md "Derived graph fixture"; SURVEY.md §2.10). Both engines —
  * this Spark builder and the DuckDB oracle CTEs in [[GraphSql]] — construct
  * the IDENTICAL graph from the same parquet tables, so every graph operator
  * is hash-compared end-to-end including construction.
  *
  * Vertex ids are label-tagged longs: tag · 10^12 + natural key. Keys stay
  * < 10^12 at any realistic SF, ids never collide across labels, and the
  * encoding is one multiply-add in both engines.
  *
  * Edge set (see GraphSql.E for the SQL twin):
  *   customer→nation, supplier→nation ('in_nation'); nation→region
  *   ('in_region'); order→customer ('by'); order→part ('contains', weight =
  *   exact Σ l_quantity); part→supplier ('supplied_by', distinct);
  *   customer→supplier ('colocated': same nation AND key ≡ key mod 10 — the
  *   mod keeps the bipartite blowup sparse so triangle wedge counts stay
  *   bounded at bench SF); user→event ('did', weight = value).
  *
  * Visibility (EzBake's cell-visibility tradition, [ezbake-recall]):
  * customers/suppliers with key ≡ 0 (mod 5) are 'secret'; edges with
  * (src+dst) ≡ 0 (mod 7) are 'secret'; everything else 'public'.
  */
object GraphFixture {
  val B = 1000000000000L
  val Tag: Map[String, Int] = Map("region" -> 1, "nation" -> 2,
    "customer" -> 3, "supplier" -> 4, "part" -> 5, "order" -> 6,
    "user" -> 7, "event" -> 8)

  def vid(tag: Int, key: Column): Column = lit(tag * B) + key.cast("long")

  // Graph construction is shared by every graph key; it runs once per
  // (session, dir) (the reference family's analog: the graph is stored, not
  // re-derived per query). The 8-way build is written to staged Parquet and
  // the graph is the columnar cache of that file scan: each task ships a
  // scan's small RDD instead of the whole build lineage, the cached plan
  // pins no build broadcast (the 'colocated' join's hash relation), and a
  // lost cache block recomputes from the staged files, not from the build.
  // The catalog entry (graft.Artifacts.graph) drops when the SparkContext
  // stops, so long-lived processes that cycle sessions don't pin dead
  // sessions + cached plans; its release deletes the staged files.
  def apply(s: SparkSession, dir: String): PropertyGraph =
    graft.Artifacts.graph(s, dir)(build(s, dir))._1

  /** Directed view for SCC analytics: 'colocated' edges expanded to BOTH
    * directions — the label encodes "customer and supplier share a nation
    * (and key mod 10)", an undirected relation the fixture stores
    * single-direction — while every other label keeps its natural
    * direction. This is what makes SCC non-degenerate here: the base edge
    * set is a DAG (order→customer→nation→region, order→part→supplier), so
    * without the symmetric expansion every SCC is a singleton; with it,
    * each colocated customer/supplier cluster becomes one multi-vertex SCC
    * reachable from (but not returning to) the DAG tails. Memoized per
    * (session, dir) like the base graph so the GraphX view is shared
    * across keys. */
  def sccView(s: SparkSession, dir: String): PropertyGraph =
    graft.Artifacts.sccView(s, dir) {
      val g = apply(s, dir)
      val sym = g.edges.filter(col("label") === "colocated")
        .select(col("dst").as("src"), col("src").as("dst"), col("label"),
          col("weight"), col("vis"))
      PropertyGraph(g.vertices, g.edges.unionByName(sym))
    }

  private def build(s: SparkSession, dir: String): (PropertyGraph, String) = {
    def t(n: String) = Tables(s, dir, n)
    val nullD = lit(null).cast("double")
    def vpart(df: DataFrame, tag: Int, key: String, label: String,
        name: Column, vis: Column, value: Column): DataFrame =
      df.select(vid(tag, col(key)).as("id"), lit(label).as("label"),
        name.as("name"), vis.as("vis"), value.as("val"))
    def secretIf(key: String): Column =
      when(col(key) % 5 === 0, "secret").otherwise("public")

    val vertices = Seq(
      vpart(t("region"), 1, "r_regionkey", "region", col("r_name"), lit("public"), nullD),
      vpart(t("nation"), 2, "n_nationkey", "nation", col("n_name"), lit("public"), nullD),
      vpart(t("customer"), 3, "c_custkey", "customer", col("c_name"),
        secretIf("c_custkey"), col("c_acctbal")),
      vpart(t("supplier"), 4, "s_suppkey", "supplier", col("s_name"),
        secretIf("s_suppkey"), col("s_acctbal")),
      vpart(t("part"), 5, "p_partkey", "part", col("p_name"), lit("public"),
        col("p_retailprice")),
      vpart(t("orders"), 6, "o_orderkey", "order", col("o_orderstatus"),
        lit("public"), col("o_totalprice")),
      vpart(t("events").select("user_id").distinct(), 7, "user_id", "user",
        concat(lit("user_"), col("user_id").cast("string")), lit("public"), nullD),
      vpart(t("events"), 8, "event_id", "event", col("event_type"),
        lit("public"), col("value"))
    ).reduce(_ unionAll _)

    def epart(df: DataFrame, st: Int, sk: String, dt: Int, dk: String,
        label: String, weight: Column): DataFrame =
      df.select(vid(st, col(sk)).as("src"), vid(dt, col(dk)).as("dst"),
        lit(label).as("label"), weight.as("weight"))

    val contains = t("lineitem")
      .groupBy(vid(6, col("l_orderkey")).as("src"), vid(5, col("l_partkey")).as("dst"))
      .agg(num.dsum(col("l_quantity")).as("weight"))
      .select(col("src"), col("dst"), lit("contains").as("label"), col("weight"))
    val colocated = t("customer")
      .join(broadcast(t("supplier")),
        col("c_nationkey") === col("s_nationkey") &&
          col("c_custkey") % 10 === col("s_suppkey") % 10)
      .select(vid(3, col("c_custkey")).as("src"), vid(4, col("s_suppkey")).as("dst"),
        lit("colocated").as("label"), nullD.as("weight"))

    val edges = Seq(
      epart(t("customer"), 3, "c_custkey", 2, "c_nationkey", "in_nation", nullD),
      epart(t("supplier"), 4, "s_suppkey", 2, "s_nationkey", "in_nation", nullD),
      epart(t("nation"), 2, "n_nationkey", 1, "n_regionkey", "in_region", nullD),
      epart(t("orders"), 6, "o_orderkey", 3, "o_custkey", "by", nullD),
      contains,
      epart(t("lineitem").select("l_partkey", "l_suppkey").distinct(),
        5, "l_partkey", 4, "l_suppkey", "supplied_by", nullD),
      colocated,
      epart(t("events"), 7, "user_id", 8, "event_id", "did", col("value"))
    ).reduce(_ unionAll _)
      .withColumn("vis",
        when((col("src") + col("dst")) % 7 === 0, "secret").otherwise("public"))

    val stage = graft.Staging.fresh("graph")
    def stored(df: DataFrame, name: String): DataFrame = {
      df.write.parquet(s"$stage/$name")
      graft.util.parquet(s, s"$stage/$name").persist()
    }
    (PropertyGraph(stored(vertices, "vertices"), stored(edges, "edges")), stage)
  }
}

/** DuckDB twins of GraphFixture + the iterative oracles. Kept adjacent to the
  * Spark construction so the two stay in lockstep — any fixture change must
  * touch both. */
object GraphSql {
  val V: String = """
    SELECT 1000000000000 + r_regionkey AS id, 'region' AS label, r_name AS name,
           'public' AS vis, CAST(NULL AS DOUBLE) AS val FROM region
    UNION ALL SELECT 2000000000000 + n_nationkey, 'nation', n_name, 'public',
           CAST(NULL AS DOUBLE) FROM nation
    UNION ALL SELECT 3000000000000 + c_custkey, 'customer', c_name,
           CASE WHEN c_custkey % 5 = 0 THEN 'secret' ELSE 'public' END,
           c_acctbal FROM customer
    UNION ALL SELECT 4000000000000 + s_suppkey, 'supplier', s_name,
           CASE WHEN s_suppkey % 5 = 0 THEN 'secret' ELSE 'public' END,
           s_acctbal FROM supplier
    UNION ALL SELECT 5000000000000 + p_partkey, 'part', p_name, 'public',
           p_retailprice FROM part
    UNION ALL SELECT 6000000000000 + o_orderkey, 'order', o_orderstatus,
           'public', o_totalprice FROM orders
    UNION ALL SELECT 7000000000000 + user_id, 'user',
           'user_' || CAST(user_id AS VARCHAR), 'public', CAST(NULL AS DOUBLE)
           FROM (SELECT DISTINCT user_id FROM events) u
    UNION ALL SELECT 8000000000000 + event_id, 'event', event_type, 'public',
           value FROM events"""

  private val Ebase: String = s"""
    SELECT 3000000000000 + c_custkey AS src, 2000000000000 + c_nationkey AS dst,
           'in_nation' AS label, CAST(NULL AS DOUBLE) AS weight FROM customer
    UNION ALL SELECT 4000000000000 + s_suppkey, 2000000000000 + s_nationkey,
           'in_nation', CAST(NULL AS DOUBLE) FROM supplier
    UNION ALL SELECT 2000000000000 + n_nationkey, 1000000000000 + n_regionkey,
           'in_region', CAST(NULL AS DOUBLE) FROM nation
    UNION ALL SELECT 6000000000000 + o_orderkey, 3000000000000 + o_custkey,
           'by', CAST(NULL AS DOUBLE) FROM orders
    UNION ALL SELECT 6000000000000 + l_orderkey, 5000000000000 + l_partkey,
           'contains', ${num.DSUM("l_quantity")} FROM lineitem GROUP BY 1, 2
    UNION ALL SELECT DISTINCT 5000000000000 + l_partkey,
           4000000000000 + l_suppkey, 'supplied_by', CAST(NULL AS DOUBLE)
           FROM lineitem
    UNION ALL SELECT 3000000000000 + c_custkey, 4000000000000 + s_suppkey,
           'colocated', CAST(NULL AS DOUBLE) FROM customer JOIN supplier
           ON c_nationkey = s_nationkey AND c_custkey % 10 = s_suppkey % 10
    UNION ALL SELECT 7000000000000 + user_id, 8000000000000 + event_id, 'did',
           value FROM events"""

  val E: String = s"""SELECT src, dst, label, weight,
    CASE WHEN (src + dst) % 7 = 0 THEN 'secret' ELSE 'public' END AS vis
    FROM ($Ebase) eb"""

  /** Wrap a query body with the graph CTEs (+ optional extra CTEs). */
  def withGraph(body: String, extra: String = "", recursive: Boolean = false): String = {
    val kw = if (recursive) "WITH RECURSIVE" else "WITH"
    val ex = if (extra.isEmpty) "" else s", $extra"
    s"$kw vertices AS MATERIALIZED ($V), edges AS MATERIALIZED ($E)$ex $body"
  }

  /** Unrolled undirected min-label propagation: l0..l<iters>. Converges to
    * connected components when iters ≥ eccentricity of each component's
    * min-id vertex (≤ ~9 for this fixture at any SF; 16 leaves margin). */
  def ccChain(iters: Int, edgesRel: String = "edges",
      verticesRel: String = "vertices"): String = {
    val und = s"und AS MATERIALIZED (SELECT src AS a, dst AS b FROM $edgesRel UNION SELECT dst, src FROM $edgesRel)"
    val l0 = s"l0 AS MATERIALIZED (SELECT id, id AS lbl FROM $verticesRel)"
    val steps = (1 to iters).map { i =>
      s"""l$i AS MATERIALIZED (SELECT l.id, LEAST(l.lbl, COALESCE(MIN(p.lbl), l.lbl)) AS lbl
         FROM l${i - 1} l LEFT JOIN und u ON u.a = l.id
         LEFT JOIN l${i - 1} p ON p.id = u.b GROUP BY l.id, l.lbl)"""
    }
    (Seq(und, l0) ++ steps).mkString(", ")
  }

  /** Unrolled min-label FLOOD + POINTER-JUMP rounds l0..l<iters> — the
    * doubling variant of [[ccChain]] for SUBGRAPH components whose
    * diameter is NOT bounded by the full graph's (removing
    * inter-community edges can LENGTHEN intra shortest paths, so a fixed
    * flood depth inherited from graph_cc is unsafe there — r15 ADVICE).
    * Each round floods one hop (f_i: min over neighbors) then jumps
    * lbl ← min(lbl, lbl(lbl)) (l_i) — the Shiloach–Vishkin-style
    * hook+jump that PairCC runs to fixpoint on the engine side; label
    * chains collapse geometrically, so 12 rounds converge for any
    * component this harness can hold (bump `iters` here if a fixture
    * ever ships components where a 12-round flood+jump has not
    * converged — the spec's recomputation oracle would catch it). */
  def ccJumpChain(iters: Int, edgesRel: String = "edges",
      verticesRel: String = "vertices"): String = {
    val und = s"und AS MATERIALIZED (SELECT src AS a, dst AS b FROM $edgesRel UNION SELECT dst, src FROM $edgesRel)"
    val l0 = s"l0 AS MATERIALIZED (SELECT id, id AS lbl FROM $verticesRel)"
    val steps = (1 to iters).flatMap { i =>
      Seq(
        s"""f$i AS (SELECT l.id, LEAST(l.lbl, COALESCE(MIN(p.lbl), l.lbl)) AS lbl
           FROM l${i - 1} l LEFT JOIN und u ON u.a = l.id
           LEFT JOIN l${i - 1} p ON p.id = u.b GROUP BY l.id, l.lbl)""",
        s"""l$i AS MATERIALIZED (SELECT f.id, LEAST(f.lbl, COALESCE(j.lbl, f.lbl)) AS lbl
           FROM f$i f LEFT JOIN f$i j ON j.id = f.lbl)""")
    }
    (Seq(und, l0) ++ steps).mkString(", ")
  }

  /** Unrolled deterministic label propagation lp0..lp<iters> mirroring
    * PropertyGraph.labelPropagation: per vertex, adopt the most frequent
    * neighbor label, ties to the smallest label; isolated vertices keep
    * their own. */
  def lpChain(iters: Int): String = {
    val und = "und AS MATERIALIZED (SELECT src AS a, dst AS b FROM edges UNION ALL SELECT dst, src FROM edges)"
    val lp0 = "lp0 AS MATERIALIZED (SELECT id, id AS lbl FROM vertices)"
    val steps = (1 to iters).flatMap { i =>
      Seq(
        s"""c$i AS (SELECT u.a AS id, p.lbl AS l, COUNT(*) AS n
           FROM und u JOIN lp${i - 1} p ON p.id = u.b GROUP BY 1, 2)""",
        s"""w$i AS (SELECT id, l FROM (SELECT id, l,
           ROW_NUMBER() OVER (PARTITION BY id ORDER BY n DESC, l ASC) AS rn
           FROM c$i) t WHERE rn = 1)""",
        s"""lp$i AS MATERIALIZED (SELECT p.id, COALESCE(w.l, p.lbl) AS lbl
           FROM lp${i - 1} p LEFT JOIN w$i w ON w.id = p.id)""")
    }
    (Seq(und, lp0) ++ steps).mkString(", ")
  }

  /** Unrolled synchronous Louvain sweeps lu0..lu<sweeps> mirroring
    * [[Louvain.oneLevel]] exactly: per sweep, only parity class
    * (id + sweep) % 2 = 0 evaluates moves; candidate communities =
    * neighbor communities ∪ own, integer gain score 2m·k_iC − k_i·tot'_C
    * widened to DECIMAL(38,0), move iff strictly better than staying,
    * ties → smallest community id. */
  def louvainChain(sweeps: Int): String = {
    val base = """luund AS MATERIALIZED (SELECT DISTINCT LEAST(src, dst) AS a,
        GREATEST(src, dst) AS b FROM edges WHERE src <> dst),
      luh AS MATERIALIZED (SELECT a AS i, b AS j FROM luund
        UNION ALL SELECT b, a FROM luund),
      ludeg AS MATERIALIZED (SELECT i AS id, COUNT(*) AS deg FROM luh
        GROUP BY 1),
      lum AS (SELECT SUM(deg) AS m2 FROM ludeg),
      lu0 AS MATERIALIZED (SELECT id, id AS comm FROM ludeg)"""
    val steps = (1 to sweeps).map { t =>
      s"""lukic$t AS (SELECT h.i, p.comm AS cc, COUNT(*) AS k
           FROM luh h JOIN lu${t - 1} p ON p.id = h.j GROUP BY 1, 2),
         lutot$t AS (SELECT p.comm AS cc, SUM(d.deg) AS tot
           FROM lu${t - 1} p JOIN ludeg d ON d.id = p.id GROUP BY 1),
         lucand$t AS (SELECT i, cc, MAX(k) AS k FROM (
           SELECT i, cc, k FROM lukic$t WHERE (i + $t) % 2 = 0
           UNION ALL SELECT id, comm, 0 FROM lu${t - 1}
           WHERE (id + $t) % 2 = 0) z GROUP BY 1, 2),
         lusc$t AS (SELECT c.i, c.cc, o.comm AS own,
             CAST(m.m2 AS DECIMAL(38,0)) * c.k
               - CAST(d.deg AS DECIMAL(38,0))
                 * (t.tot - CASE WHEN c.cc = o.comm THEN d.deg ELSE 0 END)
               AS score
           FROM lucand$t c JOIN lu${t - 1} o ON o.id = c.i
           JOIN ludeg d ON d.id = c.i
           JOIN lutot$t t ON t.cc = c.cc CROSS JOIN lum m),
         lu$t AS MATERIALIZED (SELECT i AS id, cc AS comm FROM (
           SELECT s.i, s.cc, ROW_NUMBER() OVER (PARTITION BY s.i
             ORDER BY s.score DESC, s.cc) AS rn
           FROM lusc$t s
           JOIN (SELECT i, score AS stay FROM lusc$t WHERE cc = own) y
             ON y.i = s.i
           WHERE s.cc = s.own OR s.score > y.stay) q WHERE rn = 1
           UNION ALL SELECT id, comm FROM lu${t - 1}
           WHERE (id + $t) % 2 = 1)"""
    }
    (Seq(base) ++ steps).mkString(", ")
  }

  /** Unrolled SECOND Louvain level mirroring [[PropertyGraph.louvain2]]
    * exactly: contraction of the refined labeling (expects `luund` from
    * [[louvainChain]] and `l12` from [[ccJumpChain]] over the intra
    * subset already in scope) into (c2und inter-weights, c2self
    * intra-weights, c2deg strengths with 2·self), then `sweeps` weighted
    * parity-scheduled sweeps v1..v<sweeps> — the same gain/tie/carry
    * text as louvainChain with SUM(w) where it counted. All aggregates
    * CAST back to BIGINT (DuckDB SUMs promote to HUGEINT). */
  def louvain2Ctes(sweeps: Int): String = {
    val base = """c2und AS MATERIALIZED (SELECT LEAST(x.lbl, y.lbl) AS a,
        GREATEST(x.lbl, y.lbl) AS b, CAST(COUNT(*) AS BIGINT) AS w
      FROM luund u JOIN l12 x ON x.id = u.a JOIN l12 y ON y.id = u.b
      WHERE x.lbl <> y.lbl GROUP BY 1, 2),
    c2self AS (SELECT x.lbl AS id, CAST(COUNT(*) AS BIGINT) AS ws
      FROM luund u JOIN l12 x ON x.id = u.a JOIN l12 y ON y.id = u.b
      WHERE x.lbl = y.lbl GROUP BY 1),
    c2half AS MATERIALIZED (SELECT a AS i, b AS j, w FROM c2und
      UNION ALL SELECT b, a, w FROM c2und),
    c2deg AS MATERIALIZED (SELECT n.id,
        CAST(COALESCE(d.dw, 0) + 2 * COALESCE(s.ws, 0) AS BIGINT) AS deg
      FROM (SELECT DISTINCT lbl AS id FROM l12) n
      LEFT JOIN (SELECT i AS id, CAST(SUM(w) AS BIGINT) AS dw FROM c2half
        GROUP BY 1) d ON d.id = n.id
      LEFT JOIN c2self s ON s.id = n.id),
    c2m AS (SELECT CAST(SUM(deg) AS BIGINT) AS m2 FROM c2deg),
    v0 AS MATERIALIZED (SELECT id, id AS comm FROM c2deg)"""
    val steps = (1 to sweeps).map { t =>
      s"""vkic$t AS (SELECT h.i, p.comm AS cc, CAST(SUM(h.w) AS BIGINT) AS k
           FROM c2half h JOIN v${t - 1} p ON p.id = h.j GROUP BY 1, 2),
         vtot$t AS (SELECT p.comm AS cc, CAST(SUM(d.deg) AS BIGINT) AS tot
           FROM v${t - 1} p JOIN c2deg d ON d.id = p.id GROUP BY 1),
         vcand$t AS (SELECT i, cc, MAX(k) AS k FROM (
           SELECT i, cc, k FROM vkic$t WHERE (i + $t) % 2 = 0
           UNION ALL SELECT id, comm, 0 FROM v${t - 1}
           WHERE (id + $t) % 2 = 0) z GROUP BY 1, 2),
         vsc$t AS (SELECT c.i, c.cc, o.comm AS own,
             CAST(m.m2 AS DECIMAL(38,0)) * c.k
               - CAST(d.deg AS DECIMAL(38,0))
                 * (t.tot - CASE WHEN c.cc = o.comm THEN d.deg ELSE 0 END)
               AS score
           FROM vcand$t c JOIN v${t - 1} o ON o.id = c.i
           JOIN c2deg d ON d.id = c.i
           JOIN vtot$t t ON t.cc = c.cc CROSS JOIN c2m m),
         v$t AS MATERIALIZED (SELECT i AS id, cc AS comm FROM (
           SELECT s.i, s.cc, ROW_NUMBER() OVER (PARTITION BY s.i
             ORDER BY s.score DESC, s.cc) AS rn
           FROM vsc$t s
           JOIN (SELECT i, score AS stay FROM vsc$t WHERE cc = own) y
             ON y.i = s.i
           WHERE s.cc = s.own OR s.score > y.stay) q WHERE rn = 1
           UNION ALL SELECT id, comm FROM v${t - 1}
           WHERE (id + $t) % 2 = 1)"""
    }
    (Seq(base) ++ steps).mkString(", ")
  }

  /** Unrolled k-core peel kc1..kc<rounds> mirroring PropertyGraph.kCore:
    * each round keeps vertices whose degree over surviving edges is ≥ k. */
  /** The undirected distinct edge set every peel chain starts from. */
  val UndCte: String =
    "und AS MATERIALIZED (SELECT DISTINCT LEAST(src, dst) AS a," +
      " GREATEST(src, dst) AS b FROM edges WHERE src <> dst)"

  def kcChain(k: Int, rounds: Int): String =
    UndCte + ", " + kcChainBody(k, rounds, "kc")

  /** The peel rounds alone, CTE names prefixed — graph_coreness splices
    * one chain per k over a SHARED `und` (each chain re-emitting its own
    * `und` would collide and re-materialize). */
  def kcChainBody(k: Int, rounds: Int, pfx: String): String = {
    val kc0 = s"${pfx}0 AS (SELECT a AS id FROM und UNION SELECT b FROM und)"
    val steps = (1 to rounds).map { i =>
      s"""${pfx}e$i AS (SELECT u.a, u.b FROM und u
           JOIN $pfx${i - 1} x ON x.id = u.a JOIN $pfx${i - 1} y ON y.id = u.b),
         $pfx$i AS MATERIALIZED (SELECT id, COUNT(*) AS deg FROM (
           SELECT a AS id FROM ${pfx}e$i UNION ALL SELECT b FROM ${pfx}e$i) t
           GROUP BY 1 HAVING COUNT(*) >= $k)"""
    }
    (Seq(kc0) ++ steps).mkString(", ")
  }

  /** Unrolled k-truss peel kt1..kt<rounds>, mirroring PropertyGraph.kTruss
    * round for round: tr_i enumerates each live triangle once (x<y<z — the
    * same value orientation), sp_i counts per-edge support, kt_i keeps
    * edges with support ≥ k−2 carrying that support. */
  def ktChain(k: Int, rounds: Int): String = {
    val und = """und AS MATERIALIZED (SELECT DISTINCT LEAST(src, dst) AS a,
      GREATEST(src, dst) AS b FROM edges WHERE src <> dst)"""
    val kt0 = "kt0 AS (SELECT a, b FROM und)"
    val steps = (1 to rounds).map { i =>
      s"""tr$i AS (SELECT e1.a AS x, e1.b AS y, e2.b AS z
           FROM kt${i - 1} e1 JOIN kt${i - 1} e2 ON e2.a = e1.b
           JOIN kt${i - 1} e3 ON e3.a = e1.a AND e3.b = e2.b),
         sp$i AS (SELECT a, b, COUNT(*) AS support FROM (
           SELECT x AS a, y AS b FROM tr$i
           UNION ALL SELECT y, z FROM tr$i
           UNION ALL SELECT x, z FROM tr$i) t GROUP BY 1, 2),
         kt$i AS MATERIALIZED (SELECT t.a, t.b, s.support FROM kt${i - 1} t
           JOIN sp$i s ON s.a = t.a AND s.b = t.b
           WHERE s.support >= ${k - 2})"""
    }
    (Seq(und, kt0) ++ steps).mkString(", ")
  }

  /** Unrolled deterministic random walks w0..w<len>, mirroring
    * PropertyGraph.randomWalks: at step i pick the neighbor minimizing
    * (md5(walkId#i#nbr), nbr). BIGINT→VARCHAR concat renders identically
    * in both engines, so the md5 ranks agree bit-for-bit. */
  def rwChain(len: Int, seedPred: String): String = {
    val und = """und AS MATERIALIZED (SELECT DISTINCT LEAST(src, dst) AS a,
      GREATEST(src, dst) AS b FROM edges WHERE src <> dst)"""
    val adj = """adj AS MATERIALIZED (SELECT a AS cur, b AS nxt FROM und
      UNION ALL SELECT b, a FROM und)"""
    val w0 = s"w0 AS (SELECT id AS walk_id, id AS v0 FROM vertices WHERE $seedPred)"
    val steps = (1 to len).map { i =>
      val prev = (0 until i).map(j => s"v$j").mkString(", ")
      s"""w$i AS MATERIALIZED (SELECT walk_id, $prev, nxt AS v$i FROM (
           SELECT w.*, a.nxt, ROW_NUMBER() OVER (PARTITION BY w.walk_id
             ORDER BY md5(w.walk_id || '#' || $i || '#' || a.nxt), a.nxt) AS rn
           FROM w${i - 1} w JOIN adj a ON a.cur = w.v${i - 1}) t WHERE rn = 1)"""
    }
    (Seq(und, adj, w0) ++ steps).mkString(", ")
  }

  /** Unrolled node2vec-biased walks nw0..nw<len> mirroring
    * [[PropertyGraph.biasedWalks]] exactly: per step, candidate key =
    * 60-bit md5 integer DIV its quantized node2vec weight (wRet when
    * returning to the previous vertex, wOne when the candidate neighbors
    * it, wFar otherwise; step 1 all-wOne), min (key, nxt) wins. */
  def n2vChain(len: Int, seedPred: String,
      wRet: Long, wOne: Long, wFar: Long): String = {
    val und = """und AS MATERIALIZED (SELECT DISTINCT LEAST(src, dst) AS a,
      GREATEST(src, dst) AS b FROM edges WHERE src <> dst)"""
    val adj = """adj AS MATERIALIZED (SELECT a AS cur, b AS nxt FROM und
      UNION ALL SELECT b, a FROM und)"""
    val w0 = s"nw0 AS (SELECT id AS walk_id, id AS v0 FROM vertices WHERE $seedPred)"
    def hk(i: Int) =
      s"CAST('0x' || substr(md5(w.walk_id || '#' || $i || '#' || a.nxt), 1, 15) AS BIGINT)"
    val steps = (1 to len).map { i =>
      val prev = (0 until i).map(j => s"v$j").mkString(", ")
      val wt =
        if (i == 1) s"$wOne"
        else s"""CASE WHEN a.nxt = w.v${i - 2} THEN $wRet
             WHEN z.cur IS NOT NULL THEN $wOne ELSE $wFar END"""
      val distJoin =
        if (i == 1) ""
        else s"LEFT JOIN adj z ON z.cur = w.v${i - 2} AND z.nxt = a.nxt"
      s"""nw$i AS MATERIALIZED (SELECT walk_id, $prev, nxt AS v$i FROM (
           SELECT w.walk_id, $prev, a.nxt, ROW_NUMBER() OVER (
             PARTITION BY w.walk_id
             ORDER BY ${hk(i)} // ($wt), a.nxt) AS rn
           FROM nw${i - 1} w JOIN adj a ON a.cur = w.v${i - 1} $distJoin) t
           WHERE rn = 1)"""
    }
    (Seq(und, adj, w0) ++ steps).mkString(", ")
  }

  /** Unrolled PageRank p0..p<iters> mirroring PropertyGraph.pageRank
    * bit-for-bit: same double ops per row, same exact decimal sum (num.DSUM)
    * per destination. */
  /** Unrolled personalized-PageRank chain pp0..pp<iters>: teleport only to
    * the `seedLabel` vertices. Must mirror
    * PropertyGraph.personalizedPageRank exactly (base = 0.15/|seeds| on
    * seeds, 0 elsewhere; update = base + 0.85·Σ decimal-exact contribs).
    * Seeds default to 'customer' — a label WITH out-edges (in_nation,
    * colocated), so mass actually propagates customer→nation→region /
    * customer→supplier across the 4 unrolled steps; the earlier 'region'
    * seed set was pure sinks and never exercised propagation. */
  def pprChain(iters: Int, seedLabel: String = "customer"): String = {
    val pre = Seq(
      "odeg AS MATERIALIZED (SELECT src, COUNT(*) AS outdeg FROM edges GROUP BY 1)",
      s"ns AS MATERIALIZED (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM vertices WHERE label = '$seedLabel')",
      s"""pp0 AS MATERIALIZED (SELECT id,
           CASE WHEN label = '$seedLabel' THEN CAST(0.15 AS DOUBLE) / (SELECT n FROM ns)
                ELSE CAST(0 AS DOUBLE) END AS base,
           CASE WHEN label = '$seedLabel' THEN CAST(1.0 AS DOUBLE) / (SELECT n FROM ns)
                ELSE CAST(0 AS DOUBLE) END AS pr
         FROM vertices)""")
    val steps = (1 to iters).map { i =>
      s"""pp$i AS MATERIALIZED (SELECT v.id, v.base,
           v.base + CAST(0.85 AS DOUBLE) * COALESCE(c.s, CAST(0 AS DOUBLE)) AS pr
         FROM pp0 v LEFT JOIN (
           SELECT e.dst, ${num.DSUM("p.pr / CAST(o.outdeg AS DOUBLE)")} AS s
           FROM edges e JOIN pp${i - 1} p ON p.id = e.src
           JOIN odeg o ON o.src = e.src GROUP BY e.dst) c ON c.dst = v.id)"""
    }
    (pre ++ steps).mkString(", ")
  }

  /** Unrolled Katz chain k0..k<iters> mirroring PropertyGraph.katz
    * bit-for-bit: β=1, α=0.25 (exponent-shift-exact per-row multiply),
    * per-destination decimal-exact sum (num.DSUM), one scalar double add. */
  def katzChain(iters: Int): String = {
    val k0 = "k0 AS MATERIALIZED (SELECT id, CAST(1.0 AS DOUBLE) AS katz FROM vertices)"
    val steps = (1 to iters).map { i =>
      s"""k$i AS MATERIALIZED (SELECT v.id,
           CAST(1.0 AS DOUBLE) + COALESCE(c.s, CAST(0 AS DOUBLE)) AS katz
         FROM vertices v LEFT JOIN (
           SELECT e.dst, ${num.DSUM("p.katz * CAST(0.25 AS DOUBLE)")} AS s
           FROM edges e JOIN k${i - 1} p ON p.id = e.src
           GROUP BY e.dst) c ON c.dst = v.id)"""
    }
    (Seq(k0) ++ steps).mkString(", ")
  }

  /** Unrolled HITS chain h0, (ar/a/hr/h)1..<iters> mirroring
    * PropertyGraph.hits bit-for-bit: BIGINT sums (order-free), quantized
    * max-normalization via floor division (DuckDB `//` ≡ Spark `div` on
    * the non-negative scores). SUMs cast back from DuckDB's HUGEINT. */
  def hitsChain(iters: Int): String = {
    val U = 1000000L
    val h0 = s"h0 AS MATERIALIZED (SELECT id, CAST($U AS BIGINT) AS hub FROM vertices)"
    val steps = (1 to iters).flatMap { i =>
      Seq(
        s"""ar$i AS MATERIALIZED (SELECT v.id, CAST(COALESCE(s.s, 0) AS BIGINT) AS raw
           FROM vertices v LEFT JOIN (
             SELECT e.dst, CAST(SUM(h.hub) AS BIGINT) AS s
             FROM edges e JOIN h${i - 1} h ON h.id = e.src GROUP BY e.dst) s
           ON s.dst = v.id)""",
        s"""a$i AS MATERIALIZED (SELECT id, raw // (SELECT
             CAST(GREATEST(MAX(raw) // $U, 1) AS BIGINT) FROM ar$i) AS auth
           FROM ar$i)""",
        s"""hr$i AS MATERIALIZED (SELECT v.id, CAST(COALESCE(s.s, 0) AS BIGINT) AS raw
           FROM vertices v LEFT JOIN (
             SELECT e.src, CAST(SUM(a.auth) AS BIGINT) AS s
             FROM edges e JOIN a$i a ON a.id = e.dst GROUP BY e.src) s
           ON s.src = v.id)""",
        s"""h$i AS MATERIALIZED (SELECT id, raw // (SELECT
             CAST(GREATEST(MAX(raw) // $U, 1) AS BIGINT) FROM hr$i) AS hub
           FROM hr$i)""")
    }
    (Seq(h0) ++ steps).mkString(", ")
  }

  def prChain(iters: Int): String = {
    val pre = Seq(
      "odeg AS MATERIALIZED (SELECT src, COUNT(*) AS outdeg FROM edges GROUP BY 1)",
      "nv AS MATERIALIZED (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM vertices)",
      "p0 AS MATERIALIZED (SELECT id, CAST(1.0 AS DOUBLE) / (SELECT n FROM nv) AS pr FROM vertices)")
    val steps = (1 to iters).map { i =>
      s"""p$i AS MATERIALIZED (SELECT v.id, CAST(0.15 AS DOUBLE) / (SELECT n FROM nv)
           + CAST(0.85 AS DOUBLE) * COALESCE(c.s, CAST(0 AS DOUBLE)) AS pr
         FROM vertices v LEFT JOIN (
           SELECT e.dst, ${num.DSUM("p.pr / CAST(o.outdeg AS DOUBLE)")} AS s
           FROM edges e JOIN p${i - 1} p ON p.id = e.src
           JOIN odeg o ON o.src = e.src GROUP BY e.dst) c ON c.dst = v.id)"""
    }
    (pre ++ steps).mkString(", ")
  }
}
