package graft.ops

import graft.{Op, OpModule, Staging, Tables, num}
import graft.graph.GraphFixture
import org.apache.spark.sql.functions._
import textsql._

/** Round-5 surface widening (SURVEY.md §2 families): bitwise aggregates,
  * ntile bucketing, robust statistics (MAD), printf-style formatting,
  * exact stratified sampling, a salted skew-join (the 100 TB skew
  * mitigation as a graded, result-identical key), small-file compaction,
  * and local clustering coefficients over the property graph.
  *
  * House determinism rules apply (graft.num / textsql scaladocs):
  * integer/decimal-exact cross-row arithmetic, md5-derived hashes,
  * per-row IEEE ops written in identical order in both engines.
  */
object ExtraOps extends OpModule {

  private def view(s: org.apache.spark.sql.SparkSession, dir: String, n: String): Unit =
    Tables(s, dir, n).createOrReplaceTempView(n)

  def ops: Seq[Op] = Seq(

    // Bitwise AND/OR/XOR aggregates — set-membership compaction (bitmap
    // flags ANDed/ORed across rows). Integer-exact, fully map-side
    // combinable (all three are associative+commutative), one shuffle of
    // #groups rows.
    Op("agg_bitwise",
      (s, dir) => {
        view(s, dir, "orders")
        s.sql(BitwiseSql)
      },
      Some(BitwiseSql)),

    // Equi-depth bucketing via NTILE over a UNIQUE total order (o_orderkey
    // — ties would make bucket assignment engine-dependent), folded to a
    // per-bucket profile: both engines implement the SQL-standard sizing
    // (first n mod b buckets get one extra row). The window and the
    // aggregate share the same partition key — one shuffle.
    //
    // SCALE CLASS — report-over-aggregate, by contract: NTILE needs every
    // row's position in the full per-group sort, so with a 3-value
    // partition key the whole input sorts inside 3 reducer partitions.
    // Use on report-sized inputs; for fact-scale equi-depth bucketing use
    // approx-percentile cut points joined back (map-side combinable), or a
    // high-cardinality partition key. win_rank shows the bounded two-phase
    // plan for the top-k case where one exists.
    Op("win_ntile",
      (s, dir) => {
        view(s, dir, "orders")
        s.sql(s"""WITH b AS (SELECT o_orderstatus, o_totalprice,
            NTILE(10) OVER (PARTITION BY o_orderstatus ORDER BY o_orderkey) AS decile
          FROM orders)
          SELECT o_orderstatus, decile, COUNT(*) AS n,
            CAST(SUM(CAST(o_totalprice AS DECIMAL(38,10))) AS DOUBLE) AS sum_price
          FROM b GROUP BY 1, 2 ORDER BY 1, 2""")
      },
      Some(s"""WITH b AS (SELECT o_orderstatus, o_totalprice,
          NTILE(10) OVER (PARTITION BY o_orderstatus ORDER BY o_orderkey) AS decile
        FROM orders)
        SELECT o_orderstatus, decile, COUNT(*) AS n,
          ${num.DSUM("o_totalprice")} AS sum_price
        FROM b GROUP BY 1, 2 ORDER BY 1, 2""")),

    // Median absolute deviation — the robust dispersion statistic. Two
    // exact-percentile passes with the #groups-sized median table joined
    // back (broadcast at any scale); interpolation identity is already
    // certified by agg_percentile, and abs/− are per-row IEEE.
    Op("agg_mad",
      (s, dir) => {
        view(s, dir, "orders")
        s.sql("""WITH med AS (SELECT o_orderstatus,
            percentile(o_totalprice, 0.5) AS m FROM orders GROUP BY 1)
          SELECT o.o_orderstatus,
            percentile(abs(o.o_totalprice - med.m), 0.5) AS mad, COUNT(*) AS n
          FROM orders o JOIN med ON med.o_orderstatus = o.o_orderstatus
          GROUP BY 1 ORDER BY 1""")
      },
      Some("""WITH med AS (SELECT o_orderstatus,
          quantile_cont(o_totalprice, 0.5) AS m FROM orders GROUP BY 1)
        SELECT o.o_orderstatus,
          quantile_cont(abs(o.o_totalprice - med.m), 0.5) AS mad, COUNT(*) AS n
        FROM orders o JOIN med ON med.o_orderstatus = o.o_orderstatus
        GROUP BY 1 ORDER BY 1""")),

    // printf-style formatting (report/export rendering). Integer and
    // string conversions only — Java's Formatter and C printf agree on
    // %s/%0Nd/%x exactly; float rendering (%f rounding mode) differs
    // between the two and is deliberately excluded.
    Op("fn_printf",
      (s, dir) => {
        view(s, dir, "orders")
        s.sql("""SELECT o_orderkey,
          printf('%s-%07d', o_orderstatus, o_custkey) AS tag,
          printf('%x', o_orderkey) AS hexkey
          FROM orders ORDER BY o_orderkey""")
      },
      Some("""SELECT o_orderkey,
        printf('%s-%07d', o_orderstatus, o_custkey) AS tag,
        printf('%x', o_orderkey) AS hexkey
        FROM orders ORDER BY o_orderkey""")),

    // Exact-allocation stratified sampling: per stratum, rank rows by a
    // deterministic md5 hash (a reproducible "random" order) and keep the
    // top ceil(10%) — every stratum is represented at exactly its
    // proportional size, unlike a Bernoulli hash-filter whose per-stratum
    // rate only holds in expectation. One window over the stratum key;
    // embarrassingly parallel across strata at 100 TB.
    Op("sample_stratified",
      (s, dir) => {
        view(s, dir, "events")
        s.sql(s"""WITH r AS (SELECT event_id, user_id, event_type, value,
            ROW_NUMBER() OVER (PARTITION BY event_type
              ORDER BY ${sparkHash("CAST(event_id AS STRING)")}, event_id) AS rn,
            COUNT(*) OVER (PARTITION BY event_type) AS n
          FROM events)
          SELECT event_id, user_id, event_type, value
          FROM r WHERE rn <= CEIL(n * 0.1) ORDER BY event_id""")
      },
      Some(s"""WITH r AS (SELECT event_id, user_id, event_type, value,
          ROW_NUMBER() OVER (PARTITION BY event_type
            ORDER BY ${duckHash("CAST(event_id AS VARCHAR)")}, event_id) AS rn,
          COUNT(*) OVER (PARTITION BY event_type) AS n
        FROM events)
        SELECT event_id, user_id, event_type, value
        FROM r WHERE rn <= CEIL(n * 0.1) ORDER BY event_id""")),

    // Salted skew join — the standard hot-key mitigation, graded by
    // RESULT EQUALITY with the plain join (the oracle is the unsalted
    // SQL): the fact side appends a deterministic per-row salt, the dim
    // side replicates each row across all SALT buckets, and the join key
    // becomes (key, salt) — a hot orderkey's rows now spread over SALT
    // reducers instead of one straggler. Replication cost is |dim|·SALT,
    // paid only when AQE's skew split isn't enough (AQE can't split a
    // single key). The closing aggregate is decimal-exact, so salting
    // (which changes accumulation order) cannot perturb the result.
    Op("join_salted",
      (s, dir) => {
        val salt = 16
        val fact = Tables(s, dir, "lineitem")
          .withColumn("salt",
            pmod(xxhash64(col("l_orderkey"), col("l_linenumber"), col("l_partkey")),
              lit(salt)).cast("int"))
        // merge hint (r16): Catalyst's estimate of the exploded dim stays
        // under the session broadcast threshold, so it built a |dim|·SALT
        // (2.4M-entry) broadcast hash relation — the one plan shape salting
        // exists to avoid (a broadcast join has no skewed reducer to
        // spread). The hint pins the salted SHUFFLE join the op
        // demonstrates; measured ~2× faster than the giant broadcast build
        // at bench SF too.
        val dim = Tables(s, dir, "orders")
          .select("o_orderkey", "o_orderstatus")
          .withColumn("salt", explode(sequence(lit(0), lit(salt - 1))))
          .hint("merge")
        fact.join(dim,
            fact("l_orderkey") === dim("o_orderkey") && fact("salt") === dim("salt"))
          .groupBy("o_orderstatus")
          .agg(count(lit(1)).as("n"), num.dsum(col("l_extendedprice")).as("revenue"))
          .orderBy("o_orderstatus")
      },
      Some(s"""SELECT o_orderstatus, COUNT(*) AS n,
        ${num.DSUM("l_extendedprice")} AS revenue
        FROM lineitem JOIN orders ON o_orderkey = l_orderkey
        GROUP BY 1 ORDER BY 1""")),

    // Small-file compaction — the maintenance job every long-lived 100 TB
    // table needs (streaming ingest leaves thousands of KB-sized files;
    // scan cost is per-file). Stage the table as 64 small files, compact
    // to 4 (repartition, not coalesce: coalesce(4) would also collapse
    // the READ parallelism of the upstream scan into 4 tasks and produces
    // however many partitions the file-packer happened to build; the
    // shuffle buys balanced, deterministic output sizes). The key is
    // graded on the round-trip: the compacted copy must carry exactly the
    // source's rows, and the observed file counts are part of the hashed
    // result.
    Op("sink_compact",
      (s, dir) => {
        val base = Staging.fresh("compact")
        val small = s"$base/small"
        val compact = s"$base/compact"
        Tables(s, dir, "events").repartition(64).write.mode("overwrite").parquet(small)
        graft.util.parquet(s, small).repartition(4).write.mode("overwrite").parquet(compact)
        def nFiles(p: String): Long =
          Option(new java.io.File(p).listFiles).map(_.count(_.getName.endsWith(".parquet")).toLong).getOrElse(0L)
        graft.util.parquet(s, compact)
          .agg(count(lit(1)).as("n_rows"), num.dsum(col("value")).as("sum_value"))
          .withColumn("n_files_small", lit(nFiles(small)))
          .withColumn("n_files_compact", lit(nFiles(compact)))
      },
      Some(s"""SELECT COUNT(*) AS n_rows, ${num.DSUM("value")} AS sum_value,
        CAST(64 AS BIGINT) AS n_files_small, CAST(4 AS BIGINT) AS n_files_compact
        FROM events""")),

    // Local clustering coefficient: 2·tri(v) / (d(v)·(d(v)−1)) over the
    // simple undirected graph — triangle corners come from the stored
    // degree-ordered orientation index (see PropertyGraph.triangleCounts),
    // degrees from the stored undirected-degree index; both joins are
    // vertex-sized. Numerator and denominator are exact integers; the
    // closing division is one per-row IEEE op.
    Op("graph_clustering",
      (s, dir) => {
        val g = GraphFixture(s, dir)
        val tri = g.triangleCounts
        g.undDegrees.filter(col("d") >= 2)
          .join(tri, Seq("id"), "left")
          .select(col("id"), col("d"),
            coalesce(col("n_tri"), lit(0L)).as("n_tri"),
            (coalesce(col("n_tri"), lit(0L)).cast("double") * 2 /
              (col("d") * (col("d") - 1))).as("coeff"))
          .orderBy("id")
      },
      Some(graft.graph.GraphSql.withGraph(
        """SELECT deg.id, deg.d, COALESCE(tc.n_tri, 0) AS n_tri,
          CAST(COALESCE(tc.n_tri, 0) AS DOUBLE) * 2 / (deg.d * (deg.d - 1)) AS coeff
        FROM deg LEFT JOIN tc USING (id) WHERE deg.d >= 2 ORDER BY deg.id""",
        extra = """und AS (SELECT DISTINCT LEAST(src, dst) AS a,
            GREATEST(src, dst) AS b FROM edges WHERE src <> dst),
          tri AS (SELECT e1.a AS x, e1.b AS y, e2.b AS z
            FROM und e1 JOIN und e2 ON e2.a = e1.b
            JOIN und e3 ON e3.a = e1.a AND e3.b = e2.b),
          corners AS (SELECT x AS id FROM tri
            UNION ALL SELECT y FROM tri UNION ALL SELECT z FROM tri),
          tc AS (SELECT id, COUNT(*) AS n_tri FROM corners GROUP BY 1),
          deg AS (SELECT id, COUNT(*) AS d FROM (SELECT a AS id FROM und
            UNION ALL SELECT b FROM und) u GROUP BY 1)""")))
  ) ++ batch2 ++ batch3 ++ batch4 ++ batch10 ++ batch12 ++ batch13 ++ batch14 ++ batch15

  /** Engine-portable SQL shared by both sides of agg_bitwise. */
  private val BitwiseSql = """
    SELECT o_orderstatus,
      bit_and(o_custkey) AS band, bit_or(o_custkey) AS bor,
      bit_xor(o_custkey) AS bxor, COUNT(*) AS n
    FROM orders GROUP BY 1 ORDER BY 1"""

  /** 32-bit Morton (Z-order) interleave of two 16-bit values `x`/`y`,
    * written with only integer divide/modulo/multiply/add so the SAME
    * formula evaluates exactly in both engines — `div` is Spark's integer
    * division operator, `//` DuckDB's. */
  private def morton(div: String): String =
    (0 until 16).flatMap(i => Seq(
      s"((x $div ${1L << i}) % 2) * ${1L << (2 * i)}",
      s"((y $div ${1L << i}) % 2) * ${1L << (2 * i + 1)}")).mkString(" + ")

  private def zorderSql(div: String) = s"""
    WITH k AS (SELECT o_orderkey, o_custkey,
      o_custkey % 65536 AS x, o_orderkey % 65536 AS y FROM orders)
    SELECT o_orderkey, o_custkey, ${morton(div)} AS zval
    FROM k ORDER BY zval, o_orderkey LIMIT 1000"""

  /** Closed-form degree assortativity from exact integer edge sums; shared
    * verbatim by the Spark selectExpr and the DuckDB oracle so the IEEE
    * operation order is identical. */
  private val AssortativityFormula = """
    (CAST(sjk AS DOUBLE)/m - (CAST(ssum AS DOUBLE)/(2*m))*(CAST(ssum AS DOUBLE)/(2*m)))
    / (CAST(ssq AS DOUBLE)/(2*m) - (CAST(ssum AS DOUBLE)/(2*m))*(CAST(ssum AS DOUBLE)/(2*m)))"""

  /** Engine-portable SQL shared by both sides of win_nth. */
  private val NthSql = """
    SELECT o_orderkey, o_orderstatus,
      NTH_VALUE(o_orderkey, 3) OVER (PARTITION BY o_orderstatus
        ORDER BY o_orderkey
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS third_seen
    FROM orders ORDER BY o_orderkey"""

  private def batch2: Seq[Op] = Seq(

    // Z-order (Morton) clustering key — the multi-dimensional data-layout
    // primitive: sorting/range-partitioning on the interleaved key keeps
    // rows close in BOTH dimensions, so parquet min/max zone maps prune
    // scans filtered on either column (a single-column sort order can only
    // serve one dimension). The key is pure integer per-row arithmetic
    // (codegen'd, embarrassingly parallel); at 100 TB the layout job is
    // repartitionByRange(zval) + sortWithinPartitions before the write.
    // Graded on the interleave itself: top-1000 rows by Morton code.
    Op("sort_zorder",
      (s, dir) => {
        view(s, dir, "orders")
        s.sql(zorderSql("div"))
      },
      Some(zorderSql("//"))),

    // Edit distance (classic Wagner–Fischer DP — integer-exact in every
    // engine). The fuzzy-matching scalar the dedup family builds on;
    // per-row cost is |a|·|b|, so pipelines cap operand length (as here)
    // and pre-bucket candidates (dedup_* keys) rather than compare all
    // pairs.
    Op("fn_levenshtein",
      (s, dir) => {
        view(s, dir, "customer")
        s.sql(LevSql)
      },
      Some(LevSql)),

    // Degree assortativity (Newman's r): do high-degree vertices attach to
    // high-degree vertices? Pearson correlation of endpoint degrees over
    // undirected edges — Σjk, Σ(j+k), Σ(j²+k²) stay in exact integer
    // arithmetic (degree products fit long comfortably; a 100 TB deploy
    // widens to DECIMAL(38,0)), then one closed-form evaluation in a fixed
    // IEEE order shared textually with the oracle. Two vertex-sized joins
    // against the stored degree index + one map-side-combined global sum.
    Op("graph_assortativity",
      (s, dir) => {
        val g = GraphFixture(s, dir)
        val deg = g.undDegrees
        g.undirectedEdges
          .join(deg.select(col("id").as("a"), col("d").as("da")), "a")
          .join(deg.select(col("id").as("b"), col("d").as("db")), "b")
          .agg(count(lit(1)).as("m"),
            sum(col("da") * col("db")).as("sjk"),
            sum(col("da") + col("db")).as("ssum"),
            sum(col("da") * col("da") + col("db") * col("db")).as("ssq"))
          .selectExpr("m", s"$AssortativityFormula AS r")
      },
      Some(graft.graph.GraphSql.withGraph(
        s"""SELECT m, $AssortativityFormula AS r FROM s""",
        extra = """und AS (SELECT DISTINCT LEAST(src, dst) AS a,
            GREATEST(src, dst) AS b FROM edges WHERE src <> dst),
          deg AS (SELECT id, COUNT(*) AS d FROM (SELECT a AS id FROM und
            UNION ALL SELECT b FROM und) u GROUP BY 1),
          s AS (SELECT COUNT(*) AS m,
            CAST(SUM(da.d * db.d) AS BIGINT) AS sjk,
            CAST(SUM(da.d + db.d) AS BIGINT) AS ssum,
            CAST(SUM(da.d * da.d + db.d * db.d) AS BIGINT) AS ssq
            FROM und JOIN deg da ON da.id = und.a
            JOIN deg db ON db.id = und.b)"""))),

    // NTH_VALUE over a running frame — "the 3rd order seen so far" per
    // status; NULL until three rows have arrived. The unique o_orderkey
    // ordering makes the frame content deterministic.
    Op("win_nth",
      (s, dir) => {
        view(s, dir, "orders")
        s.sql(NthSql)
      },
      Some(NthSql))
  )

  /** Engine-portable SQL shared by both sides of fn_levenshtein. */
  private val LevSql = """
    SELECT c_custkey,
      levenshtein(c_mktsegment, 'BUILDING') AS d_seg,
      levenshtein(substr(c_name, 1, 12), 'Customer#000') AS d_name
    FROM customer ORDER BY c_custkey"""

  /** Engine-portable SQL shared by both sides of join_correlated: a
    * correlated EXISTS plus a correlated scalar COUNT subquery. */
  private val CorrelatedSql = """
    SELECT o_orderkey,
      (SELECT COUNT(*) FROM lineitem WHERE l_orderkey = o_orderkey) AS n_items
    FROM orders o WHERE EXISTS (SELECT 1 FROM lineitem l
      WHERE l.l_orderkey = o.o_orderkey AND l.l_quantity > 45)
    ORDER BY o_orderkey"""

  private def batch3: Seq[Op] = Seq(

    // Correlated-subquery SURFACE: EXISTS (→ decorrelated to a left-semi
    // hash join by Catalyst, never a per-row probe) and a correlated
    // scalar COUNT (→ left outer join against a pre-aggregated count
    // table). The subquery text is what users write; the plan is the same
    // shuffle-safe join DAG join_semi/agg_group grade directly — asserted
    // in ExtraOpsSpec (no BroadcastNestedLoop / per-row execution).
    // Integer-only outputs, so no float determinism exposure.
    Op("join_correlated",
      (s, dir) => {
        view(s, dir, "orders"); view(s, dir, "lineitem")
        s.sql(CorrelatedSql)
      },
      Some(CorrelatedSql)),

    // Weighted mean — SUM(w·x)/SUM(w) with both sums decimal-exact and
    // order-independent; the closing division is one per-row IEEE op.
    // Fully map-side combinable: one shuffle of #groups rows.
    Op("agg_weighted_avg",
      (s, dir) => {
        view(s, dir, "lineitem")
        s.sql("""SELECT l_returnflag,
          CAST(SUM(CAST(l_quantity * l_extendedprice AS DECIMAL(38,10))) AS DOUBLE)
            / CAST(SUM(CAST(l_quantity AS DECIMAL(38,10))) AS DOUBLE) AS wavg_price,
          COUNT(*) AS n
          FROM lineitem GROUP BY 1 ORDER BY 1""")
      },
      Some(s"""SELECT l_returnflag,
        ${num.DSUM("l_quantity * l_extendedprice")} / ${num.DSUM("l_quantity")} AS wavg_price,
        COUNT(*) AS n
        FROM lineitem GROUP BY 1 ORDER BY 1""")),

    // Ordinal token explosion — posexplode (generator with position), the
    // order-preserving flatten every tokenizer pipeline needs. Spark runs
    // it as a codegen'd Generate (no shuffle before the sort); positions
    // are 1-based to match SQL ordinality convention.
    Op("fn_posexplode",
      (s, dir) => {
        val p = Tables(s, dir, "part")
        p.select(col("p_partkey"),
            posexplode(split(col("p_name"), " ")).as(Seq("pos0", "tok")))
          .select(col("p_partkey"), col("tok"), (col("pos0") + 1).as("pos"))
          .orderBy("p_partkey", "pos")
      },
      Some("""SELECT p_partkey, tok, pos FROM (
          SELECT p_partkey, unnest(string_split(p_name, ' ')) AS tok,
            generate_subscripts(string_split(p_name, ' '), 1) AS pos FROM part) u
        ORDER BY p_partkey, pos"""))
  )

  /** Row-content hash shared by agg_checksum's two sides: 60-bit md5 of a
    * '|'-joined column rendering, summed exactly and folded mod 2^61−1 so
    * the checksum stays a BIGINT in both engines. */
  private def checksumSql(hash: String => String, varchar: String) = s"""
    SELECT COUNT(*) AS n,
      CAST(SUM(CAST(${hash(s"CAST(o_orderkey AS $varchar) || '|' || " +
        s"CAST(o_custkey AS $varchar) || '|' || o_orderstatus")}
        AS DECIMAL(38,0))) % 2305843009213693951 AS BIGINT) AS checksum
    FROM orders"""

  /** Engine-portable SQL shared by both sides of text_normalize. */
  private val NormalizeSql = """
    SELECT doc_id, md5(lower(trim(regexp_replace(text, '  +', ' ')))) AS norm_hash,
      length(text) AS raw_len
    FROM documents ORDER BY doc_id"""

  /** Engine-portable SQL shared by both sides of ts_zscore (the
    * agg_stats_exact decimal-moments pattern, then per-row z). */
  /** One text, both engines (see ts_changepoint's op comment). */
  private val ChangepointSql = """
    WITH s AS (SELECT event_type, event_id, ts,
        CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS q FROM events),
    agg AS (SELECT event_type, COUNT(*) AS n, SUM(q) AS sq
      FROM s GROUP BY 1),
    c AS (SELECT event_type, event_id,
        ROW_NUMBER() OVER (PARTITION BY event_type
          ORDER BY ts, event_id) AS i,
        SUM(q) OVER (PARTITION BY event_type ORDER BY ts, event_id
          ROWS UNBOUNDED PRECEDING) AS cum
      FROM s),
    st AS (SELECT c.event_type, c.event_id, c.i,
        CAST(ABS(CAST(c.cum AS DECIMAL(38,0)) * a.n
          - CAST(c.i AS DECIMAL(38,0)) * a.sq) AS BIGINT) AS stat
      FROM c JOIN agg a ON a.event_type = c.event_type)
    SELECT event_type, event_id AS cp_event_id, CAST(i AS BIGINT) AS cp_idx,
      stat AS cusum_stat
    FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY event_type
        ORDER BY stat DESC, i) AS rn FROM st) z
    WHERE rn = 1 ORDER BY event_type"""

  private val ZscoreSql = """
    WITH m AS (SELECT event_type, COUNT(*) AS n,
        CAST(SUM(CAST(value AS DECIMAL(38,10))) AS DOUBLE) AS sx,
        CAST(SUM(CAST(value * value AS DECIMAL(38,10))) AS DOUBLE) AS sxx
      FROM events GROUP BY 1)
    SELECT e.event_id, e.event_type,
      (e.value - m.sx / m.n) / sqrt((m.sxx - m.sx * m.sx / m.n) / m.n) AS z
    FROM events e JOIN m ON m.event_type = e.event_type
    WHERE abs((e.value - m.sx / m.n)
      / sqrt((m.sxx - m.sx * m.sx / m.n) / m.n)) > 2
    ORDER BY e.event_id"""

  private def batch4: Seq[Op] = Seq(

    // Order-independent table checksum — the data-integrity primitive a
    // 100 TB migration/compaction/replication pipeline runs on both sides
    // of every copy (content-addressed comparison without moving data):
    // per-row 60-bit md5 of the rendered row, summed (addition commutes —
    // partitioning-independent) in exact decimal, folded to 61 bits. One
    // map-side-combined aggregate, no shuffle beyond 1 row per partition.
    Op("agg_checksum",
      (s, dir) => {
        view(s, dir, "orders")
        s.sql(checksumSql(e => s"CAST(conv(substring(md5($e), 1, 15), 16, 10) AS BIGINT)", "STRING"))
      },
      Some(checksumSql(e => s"CAST('0x' || substr(md5($e), 1, 15) AS BIGINT)", "VARCHAR"))),

    // Schema-evolution read — mergeSchema over a partition landscape where
    // newer files carry an added column (how 100 TB tables actually evolve;
    // rewriting history is not an option). Old-file rows surface NULL for
    // the new column; the graded result certifies the union'd row count and
    // both column sums against the source table.
    Op("scan_merge_schema",
      (s, dir) => {
        val base = Staging.fresh("evolve")
        val ev = Tables(s, dir, "events")
        ev.select("event_id", "value").write.mode("overwrite")
          .parquet(s"$base/v1")
        ev.select(col("event_id"), col("value"),
            (col("value") * 2).as("value_doubled"))
          .write.mode("overwrite").parquet(s"$base/v2")
        s.read.option("mergeSchema", "true").parquet(s"$base/v1", s"$base/v2")
          .agg(count(lit(1)).as("n_rows"),
            count(col("value_doubled")).as("n_evolved"),
            num.dsum(col("value")).as("sum_value"),
            num.dsum(col("value_doubled")).as("sum_doubled"))
      },
      Some(s"""SELECT 2 * COUNT(*) AS n_rows, COUNT(*) AS n_evolved,
        CAST(CAST(SUM(CAST(value AS DECIMAL(38,10))) * 2 AS VARCHAR) AS DOUBLE) AS sum_value,
        ${num.DSUM("value * 2")} AS sum_doubled
        FROM events""")),

    // Degree distribution — the first diagnostic run on any large graph
    // (skew planning: how heavy is the heaviest key?). Directed multi-edge
    // degrees from two map-side-combined counts; the histogram aggregate
    // runs over vertex-sized data.
    Op("graph_degree_dist",
      (s, dir) => GraphFixture(s, dir).degrees
        .groupBy("deg").agg(count(lit(1)).as("n_vertices"))
        .orderBy("deg"),
      Some(graft.graph.GraphSql.withGraph(
        """SELECT deg, COUNT(*) AS n_vertices FROM (
          SELECT v.id, COALESCE(o.c, 0) + COALESCE(i.c, 0) AS deg
          FROM vertices v
          LEFT JOIN (SELECT src, COUNT(*) AS c FROM edges GROUP BY 1) o
            ON o.src = v.id
          LEFT JOIN (SELECT dst, COUNT(*) AS c FROM edges GROUP BY 1) i
            ON i.dst = v.id) d
        GROUP BY 1 ORDER BY 1"""))),

    // Canonical text normalization (case-fold, whitespace-collapse, trim)
    // + content hash — the preprocessing step ahead of exact dedup; the
    // hash IS the dedup key, so cross-engine hash equality here certifies
    // the whole normalize→hash path. Pure per-row codegen'd expressions.
    Op("text_normalize",
      (s, dir) => {
        view(s, dir, "documents")
        s.sql(NormalizeSql)
      },
      Some(NormalizeSql)),

    // base64 encode/decode round-trip — binary payloads (the multimodal
    // family's wire format) rendered portably. Spark's base64/unbase64 and
    // DuckDB's to_base64/from_base64 implement the same RFC 4648.
    Op("fn_base64",
      (s, dir) => {
        view(s, dir, "customer")
        s.sql("""SELECT c_custkey, base64(CAST(c_name AS BINARY)) AS b64,
          CAST(unbase64(base64(CAST(c_name AS BINARY))) AS STRING) AS roundtrip
          FROM customer ORDER BY c_custkey""")
      },
      Some("""SELECT c_custkey, to_base64(CAST(c_name AS BLOB)) AS b64,
        CAST(from_base64(to_base64(CAST(c_name AS BLOB))) AS VARCHAR) AS roundtrip
        FROM customer ORDER BY c_custkey""")),

    // Per-series z-score outliers (|z| > 2): decimal-exact group moments
    // (one map-side-combined pass), broadcast #groups-sized moment table,
    // per-row IEEE z in a fixed operation order shared with the oracle.
    Op("ts_zscore",
      (s, dir) => {
        view(s, dir, "events")
        s.sql(ZscoreSql)
      },
      Some(ZscoreSql)),

    // CHANGEPOINT detection — CUSUM argmax per series (Page '54 / the
    // offline single-changepoint form): the time point where the series'
    // cumulative deviation from its own mean peaks. ALL-INTEGER inside:
    // values quantize to cents, and the mean never materializes — the
    // statistic |cum_i·n − i·S| is the ×n-scaled |Σ_{j≤i}(x_j − x̄)|, so
    // cross-engine equality is BIGINT equality, no float accumulation
    // order anywhere (agg_skew's quantization discipline applied to a
    // window). One ordered window pass per series + one broadcast moment
    // row; the argmax is a 1-row-per-series window over the same pass.
    Op("ts_changepoint",
      (s, dir) => {
        view(s, dir, "events")
        s.sql(ChangepointSql)
      },
      Some(ChangepointSql)),

    // BANDED interval-overlap join — how interval joins partition at
    // 100 TB: each interval explodes into the (bounded-count) week bands
    // it covers, turning the non-equi overlap predicate into a plain
    // equi-join/groupBy on the band key — shuffle-partitionable, no
    // broadcast of either side needed. The ORACLE is the unbanded theta
    // join (interval × week-grid with s < w+7d AND e ≥ w), so the grade
    // certifies banding ≡ theta. Synthetic span: l_linenumber % 7 days.
    Op("join_interval_banded",
      (s, dir) => {
        view(s, dir, "lineitem")
        s.sql(s"""WITH iv AS (SELECT l_shipdate AS s,
            timestampadd(DAY, l_linenumber % 7, l_shipdate) AS e,
            l_extendedprice FROM lineitem),
          bands AS (SELECT explode(sequence(date_trunc('week', s),
              date_trunc('week', e), INTERVAL 7 DAY)) AS wstart,
            l_extendedprice FROM iv)
          SELECT wstart, COUNT(*) AS n,
            CAST(SUM(CAST(l_extendedprice AS DECIMAL(38,10))) AS DOUBLE) AS revenue
          FROM bands GROUP BY 1 ORDER BY 1""")
      },
      Some(s"""WITH iv AS (SELECT l_shipdate AS s,
          l_shipdate + ((l_linenumber % 7) * INTERVAL 1 DAY) AS e,
          l_extendedprice FROM lineitem),
        wk AS (SELECT unnest(generate_series(
            date_trunc('week', (SELECT MIN(l_shipdate) FROM lineitem)),
            date_trunc('week', (SELECT MAX(l_shipdate) FROM lineitem)
              + 7 * INTERVAL 1 DAY),
            7 * INTERVAL 1 DAY)) AS wstart)
        SELECT w.wstart, COUNT(*) AS n, ${num.DSUM("iv.l_extendedprice")} AS revenue
        FROM iv JOIN wk w ON iv.s < w.wstart + 7 * INTERVAL 1 DAY
          AND iv.e >= w.wstart
        GROUP BY 1 ORDER BY 1""")),

    // Windowed top-k (top-2 event types per 15-min tumbling window) —
    // the "trending now" aggregation: window bucketing, map-side-combined
    // counts, then a rank over #buckets×#types rows (not the base table).
    // Deterministic tie-break (count DESC, type ASC) in both engines.
    Op("ts_topk_window",
      (s, dir) => {
        view(s, dir, "events")
        s.sql("""WITH c AS (SELECT window(ts, '15 minutes').start AS wstart,
            event_type, COUNT(*) AS n FROM events GROUP BY 1, 2)
          SELECT wstart, event_type, n FROM (SELECT *,
            ROW_NUMBER() OVER (PARTITION BY wstart
              ORDER BY n DESC, event_type) AS rn FROM c)
          WHERE rn <= 2 ORDER BY wstart, event_type""")
      },
      Some("""WITH c AS (SELECT time_bucket(INTERVAL '15 minutes', ts) AS wstart,
          event_type, COUNT(*) AS n FROM events GROUP BY 1, 2)
        SELECT wstart, event_type, n FROM (SELECT *,
          ROW_NUMBER() OVER (PARTITION BY wstart
            ORDER BY n DESC, event_type) AS rn FROM c)
        WHERE rn <= 2 ORDER BY wstart, event_type""")),

    // CDC upsert (latest-wins merge) through a materialized snapshot —
    // the copy-on-write MERGE every lakehouse table needs: the snapshot
    // holds latest-per-key for the even-id half (written + read back
    // through parquet, so the round-trip is part of the grade), odd-id
    // events arrive as updates, and the merge keeps the (ts, event_id)-
    // latest row per (user_id, event_type) key. Merge = one window rank
    // over snapshot ∪ updates, partitioned by the merge key — at 100 TB
    // this shuffles only the affected partitions of a partitioned table
    // (partition-pruned copy-on-write). The oracle computes latest-per-key
    // directly on events: snapshot-then-merge must equal merge-all.
    Op("sink_upsert",
      (s, dir) => {
        val base = Staging.fresh("upsert")
        view(s, dir, "events")
        s.sql("""SELECT * FROM (SELECT event_id, ts, user_id, event_type, value,
            ROW_NUMBER() OVER (PARTITION BY user_id, event_type
              ORDER BY ts DESC, event_id DESC) AS rn
          FROM events WHERE event_id % 2 = 0) WHERE rn = 1""")
          .drop("rn").write.mode("overwrite").parquet(s"$base/snapshot")
        graft.util.parquet(s, s"$base/snapshot")
          .createOrReplaceTempView("upsert_snapshot")
        s.sql("""WITH merged AS (
            SELECT event_id, ts, user_id, event_type, value FROM upsert_snapshot
            UNION ALL
            SELECT event_id, ts, user_id, event_type, value FROM events
            WHERE event_id % 2 = 1),
          r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id, event_type
              ORDER BY ts DESC, event_id DESC) AS rn FROM merged)
          SELECT event_type, COUNT(*) AS n_keys,
            CAST(SUM(CAST(value AS DECIMAL(38,10))) AS DOUBLE) AS sum_latest
          FROM r WHERE rn = 1 GROUP BY 1 ORDER BY 1""")
      },
      Some(s"""WITH r AS (SELECT *, ROW_NUMBER() OVER (
          PARTITION BY user_id, event_type
          ORDER BY ts DESC, event_id DESC) AS rn FROM events)
        SELECT event_type, COUNT(*) AS n_keys,
          ${num.DSUM("value")} AS sum_latest
        FROM r WHERE rn = 1 GROUP BY 1 ORDER BY 1""")),

    // Synthetic range source — spark.range as a first-class generator
    // (backfills, date dimensions, test scaffolding): a partitioned,
    // codegen'd source with no input files at all. Derived columns stay
    // in exact integer arithmetic.
    Op("source_range",
      (s, dir) => s.range(0, 10000, 3)
        .select(col("id"), (col("id") * col("id") % 97).as("sq_mod"),
          (col("id") % 7).as("bucket"))
        .orderBy("id"),
      Some("""SELECT id, id * id % 97 AS sq_mod, id % 7 AS bucket
        FROM (SELECT unnest(generate_series(0, 9999, 3)) AS id) r
        ORDER BY id""")),

    // Binary-payload exact dedup — content-addressed (md5 of the BINARY
    // column, not the text) duplicate grouping with a canonical
    // representative: the first dedup pass every multimodal corpus runs
    // (identical image/audio files under different ids). Map-side-combined
    // hash groupBy; payload bytes never shuffle — only their 128-bit
    // digests do, which is the point at 100 TB. The fixture corpus has no
    // byte-identical texts at any tested SF (r12–r14: 0-row vacuous gate
    // pass), so the graded corpus is documents PLUS a deterministic
    // re-crawl slice (every 97th doc re-ingested under a shifted id) —
    // identical in both engines — so the gate certifies actual duplicate
    // grouping and canonical-id election, not an empty relation.
    Op("multimodal_dedup",
      (s, dir) => {
        view(s, dir, "documents")
        s.sql("""WITH corpus AS (
            SELECT doc_id, text FROM documents
            UNION ALL
            SELECT doc_id + 10000000, text FROM documents
            WHERE doc_id % 97 = 0)
          SELECT md5(encode(text, 'utf-8')) AS checksum,
            COUNT(*) AS n_copies, MIN(doc_id) AS canonical_id
          FROM corpus GROUP BY 1 HAVING COUNT(*) > 1
          ORDER BY checksum""")
      },
      Some("""WITH corpus AS (
          SELECT doc_id, text FROM documents
          UNION ALL
          SELECT doc_id + 10000000, text FROM documents
          WHERE doc_id % 97 = 0)
        SELECT md5(text) AS checksum,
          COUNT(*) AS n_copies, MIN(doc_id) AS canonical_id
        FROM corpus GROUP BY 1 HAVING COUNT(*) > 1
        ORDER BY checksum""")),

    // Time-interval RANGE frame — the rolling-window-by-TIME aggregation
    // (events in the last hour per user), where the frame is defined by
    // the ORDER-BY value, not a row count: peers with equal timestamps all
    // enter the frame (SQL standard), so the result is deterministic even
    // with ts ties. Decimal-exact frame sums; one shuffle on the user key.
    Op("win_time_range",
      (s, dir) => {
        view(s, dir, "events")
        s.sql("""SELECT event_id, user_id,
          COUNT(*) OVER w AS n_1h,
          CAST(SUM(CAST(value AS DECIMAL(38,10))) OVER w AS DOUBLE) AS sum_1h
          FROM events
          WINDOW w AS (PARTITION BY user_id ORDER BY ts
            RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW)
          ORDER BY event_id""")
      },
      Some(s"""SELECT event_id, user_id,
        COUNT(*) OVER w AS n_1h,
        ${num.DSUM_OVER("value", "OVER w")} AS sum_1h
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts
          RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW)
        ORDER BY event_id""")),

    // Per-class embedding centroids — the k-means/IVF building block as a
    // graded key. Cross-row FLOAT sums are the hardest cross-engine case
    // (double→DECIMAL tie-rounding differs; see agg_skew's scaladoc), so
    // components are micro-quantized first: q = ⌊v·10⁶ + 0.5⌋ is exact
    // integer arithmetic on identical doubles in both engines, the sum is
    // a BIGINT, and the closing two divisions are fixed-order IEEE. The
    // centroid of quantized components sits ≈1e-6 from exact — constant,
    // not data-dependent. Shuffle carries (label, dim) partial sums only.
    Op("agg_vector_centroid",
      (s, dir) => {
        view(s, dir, "embeddings")
        s.sql("""WITH x AS (SELECT label, pos + 1 AS dim,
            CAST(FLOOR(CAST(col AS DOUBLE) * 1000000 + 0.5) AS BIGINT) AS q
          FROM embeddings LATERAL VIEW posexplode(embedding) AS pos, col)
          SELECT label, dim,
            CAST(SUM(q) AS DOUBLE) / 1000000.0 / COUNT(*) AS c, COUNT(*) AS n
          FROM x GROUP BY 1, 2 ORDER BY 1, 2""")
      },
      Some("""WITH x AS (SELECT label,
          generate_subscripts(embedding, 1) AS dim,
          CAST(FLOOR(CAST(unnest(embedding) AS DOUBLE) * 1000000 + 0.5) AS BIGINT) AS q
        FROM embeddings)
        SELECT label, dim,
          CAST(SUM(q) AS DOUBLE) / 1000000.0 / COUNT(*) AS c, COUNT(*) AS n
        FROM x GROUP BY 1, 2 ORDER BY 1, 2""")),

    // Windowed exact distinct (unique users per 15-min window) — the
    // streaming-analytics staple, registered as its oracle-checkable batch
    // twin like the rest of the stream family. Spark plans the distinct
    // as a two-level aggregate (partial distinct inside the window key).
    Op("stream_window_distinct",
      (s, dir) => {
        view(s, dir, "events")
        s.sql("""SELECT window(ts, '15 minutes').start AS wstart,
          COUNT(DISTINCT user_id) AS n_users, COUNT(*) AS n_events
          FROM events GROUP BY 1 ORDER BY 1""")
      },
      Some("""SELECT time_bucket(INTERVAL '15 minutes', ts) AS wstart,
        COUNT(DISTINCT user_id) AS n_users, COUNT(*) AS n_events
        FROM events GROUP BY 1 ORDER BY 1""")),

    // NULL-safe equi join (<=> / IS NOT DISTINCT FROM): NULL keys match
    // each other — the semantics MERGE/dedup pipelines need when the join
    // key is itself nullable. Aggregate-then-join keeps the pair blowup
    // at #groups; the null-safe comparison still hash-partitions (NULL is
    // one partition key value, a skew candidate to salt at scale).
    Op("join_null_safe",
      (s, dir) => {
        view(s, dir, "orders")
        s.sql("""WITH a AS (SELECT NULLIF(o_orderstatus, 'P') AS k,
            COUNT(*) AS n_left FROM orders GROUP BY 1),
          b AS (SELECT NULLIF(o_orderstatus, 'O') AS k,
            COUNT(*) AS n_right FROM orders GROUP BY 1)
          SELECT a.k AS k, a.n_left, b.n_right
          FROM a JOIN b ON a.k <=> b.k
          ORDER BY k NULLS FIRST""")
      },
      Some("""WITH a AS (SELECT NULLIF(o_orderstatus, 'P') AS k,
          COUNT(*) AS n_left FROM orders GROUP BY 1),
        b AS (SELECT NULLIF(o_orderstatus, 'O') AS k,
          COUNT(*) AS n_right FROM orders GROUP BY 1)
        SELECT a.k AS k, a.n_left, b.n_right
        FROM a JOIN b ON a.k IS NOT DISTINCT FROM b.k
        ORDER BY k NULLS FIRST""")),

    // Cohort retention matrix — the product-analytics staple: users
    // bucketed by first-seen week (cohort), activity counted per
    // (cohort, week). Two aggregations on the user key + one broadcast
    // join of the user→cohort map (user-sized; at 100 TB it shuffles on
    // user_id, the same key as the first aggregate — one partitioning
    // reused). Both engines' date_trunc('week') is ISO Monday-start.
    Op("agg_cohort_retention",
      (s, dir) => {
        view(s, dir, "events")
        s.sql(CohortSql)
      },
      Some(CohortSql)),

    // Day-of-week × hour-of-day seasonality heatmap. Spark's dayofweek()
    // is 1-based Sunday-first; EXTRACT(DOW) in the oracle is 0-based
    // Sunday-first — the Spark side subtracts 1 so both emit 0=Sunday.
    Op("ts_seasonality",
      (s, dir) => {
        view(s, dir, "events")
        s.sql("""SELECT dayofweek(ts) - 1 AS dow, hour(ts) AS hr,
          COUNT(*) AS n,
          CAST(SUM(CAST(value AS DECIMAL(38,10))) AS DOUBLE) / COUNT(*) AS avg_value
          FROM events GROUP BY 1, 2 ORDER BY 1, 2""")
      },
      Some(s"""SELECT CAST(EXTRACT(DOW FROM ts) AS INTEGER) AS dow,
        CAST(EXTRACT(HOUR FROM ts) AS INTEGER) AS hr,
        COUNT(*) AS n,
        ${num.DSUM("value")} / COUNT(*) AS avg_value
        FROM events GROUP BY 1, 2 ORDER BY 1, 2"""))
  )

  /** Engine-portable SQL shared by both sides of agg_cohort_retention. */
  private val CohortSql = """
    WITH fw AS (SELECT user_id, MIN(date_trunc('week', ts)) AS cohort
      FROM events GROUP BY 1)
    SELECT fw.cohort, date_trunc('week', e.ts) AS wk,
      COUNT(DISTINCT e.user_id) AS active, COUNT(*) AS n_events
    FROM events e JOIN fw ON fw.user_id = e.user_id
    GROUP BY 1, 2 ORDER BY 1, 2"""

  /** Engine-portable SQL shared by both sides of agg_benford. Digit
    * extraction goes through EXACT integer cents → string (integer→string
    * rendering is identical everywhere; double→string is NOT), never
    * through log10 (transcendental, banned by the determinism contract). */
  private val BenfordSql = """
    WITH d AS (SELECT CAST(substr(CAST(
        CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) AS VARCHAR(20)), 1, 1)
      AS INTEGER) AS digit FROM orders WHERE o_totalprice > 0)
    SELECT digit, COUNT(*) AS n FROM d GROUP BY 1 ORDER BY 1"""

  /** Engine-portable SQL shared by both sides of win_compress_runs. */
  private val CompressSql = """
    WITH x AS (SELECT event_id, user_id, event_type,
      LAG(event_type) OVER (PARTITION BY user_id ORDER BY event_id) AS prev
      FROM events)
    SELECT user_id, COUNT(*) AS n_kept
    FROM x WHERE prev IS NULL OR event_type <> prev
    GROUP BY 1 ORDER BY 1"""

  private def batch10: Seq[Op] = Seq(

    // Benford first-digit profile — the data-quality / fraud screen run
    // over financial columns. One codegen'd per-row digit extraction
    // (through exact integer cents, see BenfordSql) + a 9-group aggregate.
    Op("agg_benford",
      (s, dir) => {
        view(s, dir, "orders")
        s.sql(BenfordSql)
      },
      Some(BenfordSql)),

    // Run compression (drop consecutive duplicates per key) — the event-
    // stream compaction that turns raw click logs into transition logs.
    // One lag window over the per-user order, then a map-side-combined
    // count of run starts.
    Op("win_compress_runs",
      (s, dir) => {
        view(s, dir, "events")
        s.sql(CompressSql)
      },
      Some(CompressSql)),

    // LATERAL correlated subquery (top-2 items per order) — the SQL
    // surface for per-row dependent subqueries. Catalyst decorrelates the
    // LIMIT-ed lateral into a window-rank join (never a per-row re-scan);
    // same plan family topk_per_group grades directly, here reached from
    // the user-facing LATERAL syntax.
    Op("join_lateral",
      (s, dir) => {
        view(s, dir, "orders"); view(s, dir, "lineitem")
        s.sql(LateralSql)
      },
      Some(LateralSql)),

    // Multi-column DISTINCT aggregates in one pass: Spark plans the
    // distinct set via one Expand + two-level aggregation instead of
    // N self-joins — the OLAP "count unique per dimension" shape.
    Op("agg_multi_distinct",
      (s, dir) => {
        view(s, dir, "orders")
        s.sql(MultiDistinctSql)
      },
      Some(MultiDistinctSql))
  )

  /** Engine-portable SQL shared by both sides of join_lateral. The inner
    * ORDER BY carries the unique l_partkey tiebreak so the LIMIT 2 picks
    * the same rows in both engines. */
  private val LateralSql = """
    SELECT o.o_orderkey, t.l_partkey, t.l_extendedprice
    FROM orders o, LATERAL (SELECT l_partkey, l_extendedprice FROM lineitem
      WHERE l_orderkey = o.o_orderkey
      ORDER BY l_extendedprice DESC, l_partkey LIMIT 2) t
    WHERE o.o_orderkey < 1000
    ORDER BY o.o_orderkey, t.l_extendedprice DESC, t.l_partkey"""

  /** Engine-portable SQL shared by both sides of agg_multi_distinct. */
  private val MultiDistinctSql = """
    SELECT o_orderstatus,
      COUNT(DISTINCT o_custkey) AS d_cust,
      COUNT(DISTINCT o_orderpriority) AS d_pri,
      COUNT(*) AS n
    FROM orders GROUP BY 1 ORDER BY 1"""

  private def batch12: Seq[Op] = Seq(

    // Error-tolerant ingestion — PERMISSIVE CSV parsing with a corrupt-
    // record column: real 100 TB feeds contain garbage lines, and the
    // job must quarantine them, not die. Stage the table as CSV, inject
    // 3 malformed lines, read back with an explicit schema: good rows
    // round-trip exactly (shortest-roundtrip double rendering), bad rows
    // land in _corrupt_record and are COUNTED as part of the graded
    // result — the quarantine total is the contract.
    Op("source_csv_malformed",
      (s, dir) => {
        val base = Staging.fresh("malcsv")
        Tables(s, dir, "events").select("event_id", "event_type", "value")
          .coalesce(1).write.mode("overwrite").csv(base)
        // a separate bad feed file (appending to Spark's own output would
        // invalidate its Hadoop .crc sidecar)
        java.nio.file.Files.writeString(
          java.nio.file.Paths.get(base, "part-99999-badfeed.csv"),
          "not_a_long,oops,NaN?\ngarbage\n,,,too,many,fields\n")
        import org.apache.spark.sql.types._
        val schema = StructType(Seq(
          StructField("event_id", LongType), StructField("event_type", StringType),
          StructField("value", DoubleType), StructField("_corrupt_record", StringType)))
        val read = s.read.schema(schema)
          .option("mode", "PERMISSIVE")
          .option("columnNameOfCorruptRecord", "_corrupt_record")
          .csv(base).cache()
        read.agg(count(col("event_id")).as("n_good"),
          count(col("_corrupt_record")).as("n_corrupt"),
          num.dsum(col("value")).as("sum_value"))
      },
      Some(s"""SELECT COUNT(*) AS n_good, CAST(3 AS BIGINT) AS n_corrupt,
        ${num.DSUM("value")} AS sum_value FROM events""")),

    // Watermark accounting as an oracle-checkable batch twin: an event is
    // LATE if it arrives (arrival order = event_id) with a timestamp more
    // than 10 minutes behind the maximum timestamp already seen in its
    // user's stream — exactly the rows a 10-minute watermark would drop.
    // One running-max window per user; the lateness profile tells you
    // what watermark the streaming job can afford.
    Op("stream_lateness",
      (s, dir) => {
        view(s, dir, "events")
        s.sql(LatenessSql)
      },
      Some(LatenessSql)),

    // Edge-type matrix (src label × edge label × dst label counts) —
    // graph SCHEMA DISCOVERY, the first query against an unfamiliar
    // property graph. Two joins against the vertex-sized label map
    // (broadcast at bench SF, shuffle at 100 TB), then a tiny aggregate.
    Op("graph_edge_type_matrix",
      (s, dir) => {
        val g = graft.graph.GraphFixture(s, dir)
        val vl = g.vertices.select(col("id"), col("label"))
        g.edges
          .join(vl.select(col("id").as("src"), col("label").as("src_label")), "src")
          .join(vl.select(col("id").as("dst"), col("label").as("dst_label")), "dst")
          .groupBy(col("src_label"), col("label").as("edge_label"), col("dst_label"))
          .agg(count(lit(1)).as("n"))
          .orderBy("src_label", "edge_label", "dst_label")
      },
      Some(graft.graph.GraphSql.withGraph(
        """SELECT sv.label AS src_label, e.label AS edge_label,
          dv.label AS dst_label, COUNT(*) AS n
        FROM edges e JOIN vertices sv ON sv.id = e.src
        JOIN vertices dv ON dv.id = e.dst
        GROUP BY 1, 2, 3 ORDER BY 1, 2, 3"""))),

    // Average degree per vertex label — which entity classes are the
    // hubs. Folds the stored degree view by label; integer-exact sums,
    // one closing division.
    Op("graph_degree_by_label",
      (s, dir) => graft.graph.GraphFixture(s, dir).degrees
        .groupBy("label")
        .agg(count(lit(1)).as("n_vertices"),
          sum("deg").as("sum_deg"))
        .select(col("label"), col("n_vertices"),
          (col("sum_deg").cast("double") / col("n_vertices")).as("avg_deg"))
        .orderBy("label"),
      Some(graft.graph.GraphSql.withGraph(
        """SELECT label, COUNT(*) AS n_vertices,
          CAST(SUM(deg) AS DOUBLE) / COUNT(*) AS avg_deg
        FROM (SELECT v.id, v.label, COALESCE(o.c, 0) + COALESCE(i.c, 0) AS deg
          FROM vertices v
          LEFT JOIN (SELECT src, COUNT(*) AS c FROM edges GROUP BY 1) o
            ON o.src = v.id
          LEFT JOIN (SELECT dst, COUNT(*) AS c FROM edges GROUP BY 1) i
            ON i.dst = v.id) d
        GROUP BY 1 ORDER BY 1""")))
  )

  private def batch13: Seq[Op] = Seq(

    // Range-clustered sorted write + layout VERIFICATION — the data-layout
    // contract zone-map pruning depends on: repartitionByRange(4) +
    // sortWithinPartitions means every output file owns a disjoint
    // o_totalprice range, so a price-filtered scan can skip whole files on
    // parquet footer min/max alone. The key re-reads each file, computes
    // its [min,max], counts overlapping file pairs — graded as ZERO — and
    // round-trips the row count and an exact sum.
    Op("sink_sorted_stats",
      (s, dir) => {
        val base = Staging.fresh("sorted")
        Tables(s, dir, "orders").select("o_orderkey", "o_totalprice")
          .repartitionByRange(4, col("o_totalprice"))
          .sortWithinPartitions("o_totalprice")
          .write.mode("overwrite").parquet(base)
        val files = new java.io.File(base).listFiles()
          .filter(_.getName.endsWith(".parquet")).map(_.toString).sorted
        val ranges = files.map { f =>
          val r = graft.util.parquet(s, f)
            .agg(min("o_totalprice"), max("o_totalprice")).head
          (r.getDouble(0), r.getDouble(1))
        }
        val overlaps = ranges.combinations(2).count {
          case Array((lo1, hi1), (lo2, hi2)) => hi1 >= lo2 && hi2 >= lo1
          case _ => false
        }
        graft.util.parquet(s, base)
          .agg(count(lit(1)).as("n_rows"), num.dsum(col("o_totalprice")).as("sum_price"))
          .withColumn("n_files", lit(files.length.toLong))
          .withColumn("n_overlapping_pairs", lit(overlaps.toLong))
      },
      Some(s"""SELECT COUNT(*) AS n_rows, ${num.DSUM("o_totalprice")} AS sum_price,
        CAST(4 AS BIGINT) AS n_files, CAST(0 AS BIGINT) AS n_overlapping_pairs
        FROM orders""")),

    // Rolling MEDIAN (7-row frame) — the robust twin of win_moving_avg
    // (one outlier can't drag it). Frame content is deterministic under
    // the unique o_orderkey ordering; exact-percentile interpolation
    // identity across engines is already certified by agg_percentile.
    Op("win_rolling_median",
      (s, dir) => {
        view(s, dir, "orders")
        s.sql("""SELECT o_orderkey, o_orderstatus,
          percentile(o_totalprice, 0.5) OVER w AS med7
          FROM orders WINDOW w AS (PARTITION BY o_orderstatus
            ORDER BY o_orderkey ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
          ORDER BY o_orderkey""")
      },
      Some("""SELECT o_orderkey, o_orderstatus,
        quantile_cont(o_totalprice, 0.5) OVER w AS med7
        FROM orders WINDOW w AS (PARTITION BY o_orderstatus
          ORDER BY o_orderkey ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
        ORDER BY o_orderkey""")),

    // Event-transition matrix (prev type → type counts per user journey)
    // — the Markov-chain summary of user behavior; the lag window and the
    // aggregate share the user partitioning.
    Op("ts_transition_matrix",
      (s, dir) => {
        view(s, dir, "events")
        s.sql(TransitionSql)
      },
      Some(TransitionSql))
  )

  /** Engine-portable SQL shared by both sides of ts_transition_matrix. */
  private val TransitionSql = """
    WITH x AS (SELECT event_type,
      LAG(event_type) OVER (PARTITION BY user_id ORDER BY event_id) AS prev
      FROM events)
    SELECT prev, event_type AS cur, COUNT(*) AS n
    FROM x WHERE prev IS NOT NULL
    GROUP BY 1, 2 ORDER BY 1, 2"""

  private def batch14: Seq[Op] = Seq(

    // Composite OLAP flagship #1 — the snowflake rollup (TPC-H Q5 shape):
    // fact ⋈ fact ⋈ three snowflaked dims, revenue rolled up by region ×
    // status. The plan this must produce (asserted in PlanQualitySpec):
    // dims broadcast, ONE shuffle for the fact-fact join, partial
    // aggregation before the final #groups-sized exchange.
    Op("olap_star_rollup",
      (s, dir) => {
        Seq("lineitem", "orders", "customer", "nation", "region")
          .foreach(view(s, dir, _))
        s.sql(s"""SELECT r_name AS region, o_orderstatus AS status,
          COUNT(*) AS n_items,
          CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(38,10)))
            AS DOUBLE) AS revenue
          FROM lineitem JOIN orders ON o_orderkey = l_orderkey
          JOIN customer ON c_custkey = o_custkey
          JOIN nation ON n_nationkey = c_nationkey
          JOIN region ON r_regionkey = n_regionkey
          GROUP BY 1, 2 ORDER BY 1, 2""")
      },
      Some(s"""SELECT r_name AS region, o_orderstatus AS status,
        COUNT(*) AS n_items,
        ${num.DSUM("l_extendedprice * (1 - l_discount)")} AS revenue
        FROM lineitem JOIN orders ON o_orderkey = l_orderkey
        JOIN customer ON c_custkey = o_custkey
        JOIN nation ON n_nationkey = c_nationkey
        JOIN region ON r_regionkey = n_regionkey
        GROUP BY 1, 2 ORDER BY 1, 2""")),

    // Composite OLAP flagship #2 — top-10 orders by revenue within a
    // filtered segment (TPC-H Q3 shape): selective dim filter pushed to
    // the customer scan, fact-fact join, decimal-exact per-order revenue,
    // global top-10 via TakeOrderedAndProject (per-partition heaps +
    // driver merge — never a full sort).
    Op("olap_topk_revenue",
      (s, dir) => {
        Seq("lineitem", "orders", "customer").foreach(view(s, dir, _))
        s.sql(s"""SELECT o_orderkey,
          CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(38,10)))
            AS DOUBLE) AS revenue
          FROM lineitem JOIN orders ON o_orderkey = l_orderkey
          JOIN customer ON c_custkey = o_custkey
          WHERE c_mktsegment = 'BUILDING'
          GROUP BY 1 ORDER BY revenue DESC, o_orderkey LIMIT 10""")
      },
      Some(s"""SELECT o_orderkey,
        ${num.DSUM("l_extendedprice * (1 - l_discount)")} AS revenue
        FROM lineitem JOIN orders ON o_orderkey = l_orderkey
        JOIN customer ON c_custkey = o_custkey
        WHERE c_mktsegment = 'BUILDING'
        GROUP BY 1 ORDER BY revenue DESC, o_orderkey LIMIT 10""")),

    // Composite OLAP flagship #3 — the pricing-summary report (TPC-H Q1
    // shape): one scan, predicate pushed down, eight aggregates in a
    // single map-side-combined pass; every sum/avg decimal-exact.
    Op("olap_pricing_summary",
      (s, dir) => {
        view(s, dir, "lineitem")
        s.sql("""SELECT l_returnflag, l_linestatus,
          CAST(SUM(CAST(l_quantity AS DECIMAL(38,10))) AS DOUBLE) AS sum_qty,
          CAST(SUM(CAST(l_extendedprice AS DECIMAL(38,10))) AS DOUBLE) AS sum_base,
          CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(38,10))) AS DOUBLE) AS sum_disc,
          CAST(SUM(CAST(l_extendedprice * (1 - l_discount) * (1 + l_tax) AS DECIMAL(38,10))) AS DOUBLE) AS sum_charge,
          CAST(SUM(CAST(l_quantity AS DECIMAL(38,10))) AS DOUBLE) / COUNT(*) AS avg_qty,
          CAST(SUM(CAST(l_discount AS DECIMAL(38,10))) AS DOUBLE) / COUNT(*) AS avg_disc,
          COUNT(*) AS n
          FROM lineitem WHERE l_quantity < 50
          GROUP BY 1, 2 ORDER BY 1, 2""")
      },
      Some(s"""SELECT l_returnflag, l_linestatus,
        ${num.DSUM("l_quantity")} AS sum_qty,
        ${num.DSUM("l_extendedprice")} AS sum_base,
        ${num.DSUM("l_extendedprice * (1 - l_discount)")} AS sum_disc,
        ${num.DSUM("l_extendedprice * (1 - l_discount) * (1 + l_tax)")} AS sum_charge,
        ${num.DSUM("l_quantity")} / COUNT(*) AS avg_qty,
        ${num.DSUM("l_discount")} / COUNT(*) AS avg_disc,
        COUNT(*) AS n
        FROM lineitem WHERE l_quantity < 50
        GROUP BY 1, 2 ORDER BY 1, 2""")),

    // Repetition filter — the LLM-data quality signal n-gram dedup can't
    // give you: WITHIN-document repetition (boilerplate, generated spam).
    // Score = 1 − distinct_bigrams/total_bigrams, integer-exact until one
    // division; the key returns the high-repetition quarantine (score >
    // 0.05), like text_filter returns its drop reasons. Pure per-row array
    // work — embarrassingly parallel.
    Op("text_repetition",
      (s, dir) => {
        // spread (guide §2.5): "embarrassingly parallel" only helps if the
        // stage has more than one task — the bigram build ran inside the
        // one-task scan of the single-row-group documents file (measured:
        // 2 jobs / 2 TASKS at local[32]).
        graft.util.spread(Tables(s, dir, "documents")
            .select("doc_id", "text"), col("doc_id"))
          .createOrReplaceTempView("textrep_docs")
        s.sql(s"""WITH b AS (SELECT doc_id,
            size(${sparkToks("text")}) - 1 AS total,
            size(array_distinct(transform(sequence(1, size(${sparkToks("text")}) - 1),
              i -> concat_ws(' ', slice(${sparkToks("text")}, i, 2))))) AS uniq
          FROM textrep_docs WHERE size(${sparkToks("text")}) >= 2)
          SELECT doc_id, total, uniq,
            1 - CAST(uniq AS DOUBLE) / total AS rep_score
          FROM b WHERE 1 - CAST(uniq AS DOUBLE) / total > 0.05
          ORDER BY doc_id""")
      },
      Some(s"""WITH t AS (SELECT doc_id, ${duckToks("text")} AS toks
          FROM documents WHERE len(${duckToks("text")}) >= 2),
        b AS (SELECT doc_id, len(toks) - 1 AS total,
          len(list_distinct([toks[i] || ' ' || toks[i+1]
            FOR i IN range(1, len(toks))])) AS uniq
          FROM t)
        SELECT doc_id, CAST(total AS BIGINT) AS total, CAST(uniq AS BIGINT) AS uniq,
          1 - CAST(uniq AS DOUBLE) / total AS rep_score
        FROM b WHERE 1 - CAST(uniq AS DOUBLE) / total > 0.05
        ORDER BY doc_id""")),

    // FILTER (WHERE …) aggregate modifier — conditional aggregation
    // without self-joins or CASE pyramids; each filtered aggregate stays
    // map-side-combinable in the same single pass.
    Op("agg_filter_clause",
      (s, dir) => {
        view(s, dir, "orders")
        s.sql(FilterClauseSql)
      },
      Some(FilterClauseSql)),

    // TRY_CAST — error-free coercion for dirty feeds: unparseable input
    // yields NULL instead of killing the job (the expression-level
    // counterpart of source_csv_malformed's PERMISSIVE mode).
    Op("fn_try_cast",
      (s, dir) => {
        view(s, dir, "orders")
        s.sql(TryCastSql)
      },
      Some(TryCastSql))
  )

  /** Engine-portable SQL shared by both sides of agg_filter_clause. */
  private val FilterClauseSql = """
    SELECT o_orderstatus,
      COUNT(*) AS n,
      COUNT(*) FILTER (WHERE o_totalprice > 200000) AS n_big,
      CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(38,10)))
        FILTER (WHERE o_orderpriority = '1-URGENT') AS VARCHAR(48)) AS DOUBLE) AS sum_urgent
    FROM orders GROUP BY 1 ORDER BY 1"""

  /** Engine-portable SQL shared by both sides of fn_try_cast. The first
    * character of o_orderpriority is a digit ('1-URGENT'), the full string
    * is not — one succeeding and one NULLing coercion per row. */
  private val TryCastSql = """
    SELECT o_orderkey,
      TRY_CAST(substr(o_orderpriority, 1, 1) AS INTEGER) AS pri_num,
      TRY_CAST(o_orderpriority AS INTEGER) AS pri_raw,
      TRY_CAST(o_orderstatus AS DOUBLE) AS status_num
    FROM orders ORDER BY o_orderkey"""

  /** Engine-portable SQL shared by both sides of dedup_stats. */
  private val DedupStatsSql = """
    WITH g AS (SELECT md5(text) AS ck, COUNT(*) AS n FROM documents GROUP BY 1)
    SELECT CAST(SUM(n) AS BIGINT) AS n_docs, COUNT(*) AS n_unique,
      CAST(SUM(n) - COUNT(*) AS BIGINT) AS n_redundant,
      1 - CAST(COUNT(*) AS DOUBLE) / SUM(n) AS dup_rate,
      CAST(MAX(n) AS BIGINT) AS max_cluster
    FROM g"""

  private def batch15: Seq[Op] = Seq(

    // Corpus dedup report — the summary every dedup pipeline emits before
    // and after its run (how much would exact dedup save?): unique-content
    // counts, redundancy mass, the largest duplicate cluster. One hash
    // groupBy + one 1-row fold; integer-exact until the final rate.
    Op("dedup_stats",
      (s, dir) => {
        view(s, dir, "documents")
        s.sql(DedupStatsSql.replace("md5(text)", "md5(encode(text, 'utf-8'))"))
      },
      Some(DedupStatsSql)),

    // Global graph density (and the simple-graph edge count backing it):
    // m_simple / (n·(n−1)) over the directed simple graph — the first
    // scalar anyone asks of a graph. Integer-exact numerators; one
    // closing division.
    Op("graph_density",
      (s, dir) => {
        val g = GraphFixture(s, dir)
        val n = g.vertices.count()
        val mSimple = g.edges.select("src", "dst").distinct().count()
        import s.implicits._
        Seq((n, mSimple)).toDF("n_vertices", "m_simple")
          .selectExpr("n_vertices", "m_simple",
            "CAST(m_simple AS DOUBLE) / (n_vertices * (n_vertices - 1)) AS density")
      },
      Some(graft.graph.GraphSql.withGraph(
        """SELECT n_vertices, m_simple,
          CAST(m_simple AS DOUBLE) / (n_vertices * (n_vertices - 1)) AS density
        FROM (SELECT (SELECT COUNT(*) FROM vertices) AS n_vertices,
          (SELECT COUNT(*) FROM (SELECT DISTINCT src, dst FROM edges) d)
            AS m_simple) t""")))
  )

  /** Engine-portable SQL shared by both sides of stream_lateness. The
    * frame excludes the current row so an on-time event can't be late
    * relative to itself. */
  private val LatenessSql = """
    WITH x AS (SELECT user_id, event_type, ts,
      MAX(ts) OVER (PARTITION BY user_id ORDER BY event_id
        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS seen
      FROM events)
    SELECT event_type,
      COUNT(*) AS n,
      CAST(count_if(seen IS NOT NULL
        AND ts < seen - INTERVAL 10 MINUTE) AS BIGINT) AS n_late
    FROM x GROUP BY 1 ORDER BY 1"""
}
