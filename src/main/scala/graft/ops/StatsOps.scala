package graft.ops

import graft.{Op, OpModule, Tables, num}
import graft.streaming.Maintain
import org.apache.spark.sql.functions._

/** OLAP statistics operators: exact percentiles, numerically-exact
  * distributed moments (covariance / correlation via decimal sums — the
  * one-pass formula is order-independent, unlike streaming covar updates),
  * and pivot tables. */
object StatsOps extends OpModule {

  def ops: Seq[Op] = Seq(

    // Exact continuous-interpolation percentiles per group. Both engines use
    // the (n-1)p index + linear interpolation definition; interpolation is
    // two IEEE ops on exact inputs.
    Op("agg_percentile",
      (s, dir) => Tables(s, dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(expr("percentile(l_extendedprice, 0.25)").as("p25"),
          expr("percentile(l_extendedprice, 0.5)").as("p50"),
          expr("percentile(l_extendedprice, 0.75)").as("p75"),
          expr("min(l_extendedprice)").as("pmin"),
          expr("max(l_extendedprice)").as("pmax"))
        .orderBy("l_returnflag"),
      Some("""SELECT l_returnflag,
        quantile_cont(l_extendedprice, 0.25) AS p25,
        quantile_cont(l_extendedprice, 0.5) AS p50,
        quantile_cont(l_extendedprice, 0.75) AS p75,
        MIN(l_extendedprice) AS pmin, MAX(l_extendedprice) AS pmax
        FROM lineitem GROUP BY 1 ORDER BY 1""")),

    // Approximate quantile with a HARD correctness contract (same pattern
    // as agg_approx_distinct): approx_percentile at accuracy 100 guarantees
    // rank error ≤ 1/100, so the returned element must lie between the
    // exact 0.45 and 0.55 quantiles (4.5× margin). A drifting sketch fails
    // the hash compare; the oracle computes the exact bounds implicitly by
    // asserting TRUE.
    Op("agg_approx_quantile",
      (s, dir) => Tables(s, dir, "orders")
        .groupBy("o_orderstatus")
        .agg(expr("approx_percentile(o_totalprice, 0.5, 100)").as("approx"),
          expr("percentile(o_totalprice, 0.45)").as("lo"),
          expr("percentile(o_totalprice, 0.55)").as("hi"),
          count(lit(1)).as("n"))
        .select(col("o_orderstatus"), col("n"),
          (col("approx") >= col("lo") && col("approx") <= col("hi")).as("approx_ok"))
        .orderBy("o_orderstatus"),
      Some("""SELECT o_orderstatus, COUNT(*) AS n, TRUE AS approx_ok
        FROM orders GROUP BY 1 ORDER BY 1""")),

    // Exact covariance/correlation: decimal-exact Σx, Σy, Σxy, Σx², Σy²,
    // then the closed-form moments in a FIXED double-op order — identical in
    // both engines, independent of partitioning (a streaming covar would
    // not be). cov = (Σxy − ΣxΣy/n)/n; corr = cov/(σx·σy).
    Op("agg_stats_exact",
      (s, dir) => {
        Tables(s, dir, "lineitem").createOrReplaceTempView("lineitem")
        s.sql(s"""
          WITH m AS (SELECT l_returnflag,
            COUNT(*) AS n,
            CAST(SUM(CAST(l_quantity AS DECIMAL(38,10))) AS DOUBLE) AS sx,
            CAST(SUM(CAST(l_extendedprice AS DECIMAL(38,10))) AS DOUBLE) AS sy,
            CAST(SUM(CAST(l_quantity * l_extendedprice AS DECIMAL(38,10))) AS DOUBLE) AS sxy,
            CAST(SUM(CAST(l_quantity * l_quantity AS DECIMAL(38,10))) AS DOUBLE) AS sxx,
            CAST(SUM(CAST(l_extendedprice * l_extendedprice AS DECIMAL(38,10))) AS DOUBLE) AS syy
            FROM lineitem GROUP BY l_returnflag)
          SELECT l_returnflag, n,
            (sxy - sx * sy / n) / n AS cov_pop,
            ((sxy - sx * sy / n) / n)
              / (sqrt((sxx - sx * sx / n) / n) * sqrt((syy - sy * sy / n) / n)) AS corr
          FROM m ORDER BY l_returnflag""")
      },
      Some(s"""
        WITH m AS (SELECT l_returnflag,
          COUNT(*) AS n,
          ${num.DSUM("l_quantity")} AS sx,
          ${num.DSUM("l_extendedprice")} AS sy,
          ${num.DSUM("l_quantity * l_extendedprice")} AS sxy,
          ${num.DSUM("l_quantity * l_quantity")} AS sxx,
          ${num.DSUM("l_extendedprice * l_extendedprice")} AS syy
          FROM lineitem GROUP BY l_returnflag)
        SELECT l_returnflag, n,
          (sxy - sx * sy / n) / n AS cov_pop,
          ((sxy - sx * sy / n) / n)
            / (sqrt((sxx - sx * sx / n) / n) * sqrt((syy - sy * sy / n) / n)) AS corr
        FROM m ORDER BY l_returnflag""")),

    // Distribution window functions: rank ratios are exact rationals
    // ((rank-1)/(n-1), rank/n) — IEEE division of integers, identical in
    // both engines.
    Op("win_distribution",
      (s, dir) => {
        Tables(s, dir, "orders").createOrReplaceTempView("orders")
        s.sql("""SELECT o_orderkey, o_custkey,
          PERCENT_RANK() OVER w AS pr,
          CUME_DIST() OVER w AS cd,
          NTILE(4) OVER w AS quartile
          FROM orders
          WINDOW w AS (PARTITION BY o_orderstatus
            ORDER BY o_totalprice, o_orderkey)
          ORDER BY o_orderkey""")
      },
      Some("""SELECT o_orderkey, o_custkey,
        PERCENT_RANK() OVER w AS pr,
        CUME_DIST() OVER w AS cd,
        NTILE(4) OVER w AS quartile
        FROM orders
        WINDOW w AS (PARTITION BY o_orderstatus
          ORDER BY o_totalprice, o_orderkey)
        ORDER BY o_orderkey""")),

    // Pivot: order counts + exact price sums per priority, statuses as
    // columns. Spark's relational pivot ≡ conditional aggregation.
    Op("agg_pivot",
      (s, dir) => Tables(s, dir, "orders")
        .groupBy("o_orderpriority")
        .pivot("o_orderstatus", Seq("F", "O", "P"))
        .agg(count(lit(1)).as("n"), num.dsum(col("o_totalprice")).as("total"))
        .na.fill(0L, Seq("F_n", "O_n", "P_n"))
        .orderBy("o_orderpriority"),
      Some(s"""SELECT o_orderpriority,
        COUNT(*) FILTER (WHERE o_orderstatus = 'F') AS F_n,
        ${num.DSUM("CASE WHEN o_orderstatus = 'F' THEN o_totalprice END")} AS F_total,
        COUNT(*) FILTER (WHERE o_orderstatus = 'O') AS O_n,
        ${num.DSUM("CASE WHEN o_orderstatus = 'O' THEN o_totalprice END")} AS O_total,
        COUNT(*) FILTER (WHERE o_orderstatus = 'P') AS P_n,
        ${num.DSUM("CASE WHEN o_orderstatus = 'P' THEN o_totalprice END")} AS P_total
        FROM orders GROUP BY 1 ORDER BY 1""")),

    // Unpivot (melt): the inverse reshaping of agg_pivot — wide metric
    // columns back to (key, metric, value) rows. Spark's native unpivot
    // executes as a single Expand (one pass, no shuffle beyond the
    // feeding aggregate); decimal-exact sums so the melted doubles are
    // partition-order-independent.
    Op("unpivot_melt",
      (s, dir) => Tables(s, dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(num.dsum(col("l_quantity")).as("qty"),
          num.dsum(col("l_extendedprice")).as("price"),
          num.dsum(col("l_discount")).as("disc"))
        .unpivot(Array(col("l_returnflag")),
          Array(col("qty"), col("price"), col("disc")), "metric", "value")
        .orderBy("l_returnflag", "metric"),
      Some(s"""WITH m AS (SELECT l_returnflag,
          ${num.DSUM("l_quantity")} AS qty,
          ${num.DSUM("l_extendedprice")} AS price,
          ${num.DSUM("l_discount")} AS disc
          FROM lineitem GROUP BY 1)
        SELECT l_returnflag, metric, value
        FROM m UNPIVOT (value FOR metric IN (qty, price, disc))
        ORDER BY l_returnflag, metric""")),

    // Deterministic mode per group: the most frequent value, ties broken by
    // the larger value — engines' built-in mode() leaves ties
    // implementation-defined, so both sides rank (count DESC, value DESC)
    // explicitly. Two map-side-combined aggregations; the ranking window
    // runs over group-count-sized data, not the base table.
    Op("agg_mode",
      (s, dir) => {
        Tables(s, dir, "orders").createOrReplaceTempView("orders")
        s.sql("""WITH c AS (SELECT o_orderpriority, o_orderstatus,
            COUNT(*) AS n FROM orders GROUP BY 1, 2)
          SELECT o_orderpriority, o_orderstatus AS mode_status, n
          FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY o_orderpriority
              ORDER BY n DESC, o_orderstatus DESC) AS rn FROM c)
          WHERE rn = 1 ORDER BY o_orderpriority""")
      },
      Some("""WITH c AS (SELECT o_orderpriority, o_orderstatus,
          COUNT(*) AS n FROM orders GROUP BY 1, 2)
        SELECT o_orderpriority, o_orderstatus AS mode_status, n
        FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY o_orderpriority
            ORDER BY n DESC, o_orderstatus DESC) AS rn FROM c)
        WHERE rn = 1 ORDER BY o_orderpriority""")),

    // Boolean aggregates (every/any/conditional count) — predicate results
    // are exact, so these are safely hash-comparable and fully
    // map-side-combinable.
    Op("agg_bool",
      (s, dir) => {
        Tables(s, dir, "events").createOrReplaceTempView("events")
        s.sql("""SELECT event_type,
          bool_and(value > 0) AS all_pos,
          bool_or(value > 100) AS any_large,
          count_if(value > 50) AS n_over50,
          COUNT(*) AS n
          FROM events GROUP BY 1 ORDER BY 1""")
      },
      Some("""SELECT event_type,
        bool_and(value > 0) AS all_pos,
        bool_or(value > 100) AS any_large,
        CAST(count_if(value > 50) AS BIGINT) AS n_over50,
        COUNT(*) AS n
        FROM events GROUP BY 1 ORDER BY 1""")),

    // Ratio-to-report: each order's share of its status group's total. The
    // group total is a windowed DECIMAL-exact sum (partition-order-
    // independent); the final division is one per-row IEEE op identical in
    // both engines.
    Op("win_ratio",
      (s, dir) => {
        Tables(s, dir, "orders").createOrReplaceTempView("orders")
        s.sql("""SELECT o_orderkey, o_orderstatus,
          o_totalprice / CAST(SUM(CAST(o_totalprice AS DECIMAL(38,10)))
            OVER (PARTITION BY o_orderstatus) AS DOUBLE) AS share
          FROM orders ORDER BY o_orderkey""")
      },
      Some(s"""SELECT o_orderkey, o_orderstatus,
        o_totalprice / ${num.DSUM_OVER("o_totalprice",
          "OVER (PARTITION BY o_orderstatus)")} AS share
        FROM orders ORDER BY o_orderkey""")),

    // Column profiler — the data-quality summary a pipeline runs before
    // training: per column count / nulls / distincts / min / max. One
    // SMALL aggregate per column, union'd (numeric and string extrema in
    // typed columns — no double→string casts, whose formatting differs
    // across engines). This was originally one table-wide aggregate with
    // three COUNT(DISTINCT)s: Spark plans that as a single Expand that
    // quadruples the row stream AND emits one enormous whole-stage-codegen
    // class — BENCH_r09 measured its FIRST run at 23.5 s (1.8 s warm) on a
    // loaded host, i.e. ~21 s of Janino compile for a 0.3 s query. Three
    // per-column aggregates read one pruned parquet column each, skip the
    // 4× Expand, and compile three small classes — the better shape at
    // both ends of the scale axis.
    Op("profile_columns",
      (s, dir) => {
        Tables(s, dir, "orders").createOrReplaceTempView("orders")
        s.sql("""WITH pk AS (SELECT COUNT(*) AS n, COUNT(o_custkey) AS nn,
            COUNT(DISTINCT o_custkey) AS nd,
            MIN(o_custkey) AS mn, MAX(o_custkey) AS mx FROM orders),
          pp AS (SELECT COUNT(*) AS n, COUNT(o_totalprice) AS nn,
            COUNT(DISTINCT o_totalprice) AS nd,
            MIN(o_totalprice) AS mn, MAX(o_totalprice) AS mx FROM orders),
          ps AS (SELECT COUNT(*) AS n, COUNT(o_orderstatus) AS nn,
            COUNT(DISTINCT o_orderstatus) AS nd,
            MIN(o_orderstatus) AS mn, MAX(o_orderstatus) AS mx FROM orders)
          SELECT col, n, n_null, n_distinct, min_num, max_num, min_str, max_str
          FROM (
            SELECT 'o_custkey' AS col, n, n - nn AS n_null, nd AS n_distinct,
              CAST(mn AS DOUBLE) AS min_num, CAST(mx AS DOUBLE) AS max_num,
              CAST(NULL AS STRING) AS min_str, CAST(NULL AS STRING) AS max_str
            FROM pk
            UNION ALL SELECT 'o_totalprice', n, n - nn, nd, mn, mx,
              CAST(NULL AS STRING), CAST(NULL AS STRING) FROM pp
            UNION ALL SELECT 'o_orderstatus', n, n - nn, nd,
              CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE), mn, mx FROM ps)
          ORDER BY col""")
      },
      Some("""WITH pk AS (SELECT COUNT(*) AS n, COUNT(o_custkey) AS nn,
          COUNT(DISTINCT o_custkey) AS nd,
          MIN(o_custkey) AS mn, MAX(o_custkey) AS mx FROM orders),
        pp AS (SELECT COUNT(*) AS n, COUNT(o_totalprice) AS nn,
          COUNT(DISTINCT o_totalprice) AS nd,
          MIN(o_totalprice) AS mn, MAX(o_totalprice) AS mx FROM orders),
        ps AS (SELECT COUNT(*) AS n, COUNT(o_orderstatus) AS nn,
          COUNT(DISTINCT o_orderstatus) AS nd,
          MIN(o_orderstatus) AS mn, MAX(o_orderstatus) AS mx FROM orders)
        SELECT col, n, n_null, n_distinct, min_num, max_num, min_str, max_str
        FROM (
          SELECT 'o_custkey' AS col, n, n - nn AS n_null, nd AS n_distinct,
            CAST(mn AS DOUBLE) AS min_num, CAST(mx AS DOUBLE) AS max_num,
            CAST(NULL AS VARCHAR) AS min_str, CAST(NULL AS VARCHAR) AS max_str
          FROM pk
          UNION ALL SELECT 'o_totalprice', n, n - nn, nd, mn, mx,
            CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR) FROM pp
          UNION ALL SELECT 'o_orderstatus', n, n - nn, nd,
            CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE), mn, mx FROM ps)
        ORDER BY col""")),

    // Rolling mean over a 7-row frame: the windowed sum goes through
    // DECIMAL (frame content is deterministic given the unique o_orderkey
    // ordering, and the decimal sum is order-independent within it); the
    // closing division is one per-row IEEE op.
    Op("win_moving_avg",
      (s, dir) => {
        Tables(s, dir, "orders").createOrReplaceTempView("orders")
        s.sql("""SELECT o_orderkey, o_orderstatus,
          CAST(SUM(CAST(o_totalprice AS DECIMAL(38,10))) OVER w AS DOUBLE)
            / COUNT(*) OVER w AS mavg
          FROM orders WINDOW w AS (PARTITION BY o_orderstatus
            ORDER BY o_orderkey ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
          ORDER BY o_orderkey""")
      },
      Some(s"""SELECT o_orderkey, o_orderstatus,
        ${num.DSUM_OVER("o_totalprice", "OVER w")} / COUNT(*) OVER w AS mavg
        FROM orders WINDOW w AS (PARTITION BY o_orderstatus
          ORDER BY o_orderkey ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
        ORDER BY o_orderkey""")),

    // Exact skewness (third standardized moment), TWO-PASS over CENT-
    // QUANTIZED deviations. Two measured failure modes shaped this form:
    // (1) the one-pass raw-moment formula cancels ~12 significant digits
    // on this data (Σx³ ≈ 1e21 vs the 1e9-scale central moment) — engines
    // disagreed in the 11th digit; (2) even central moments diverge by a
    // few ulps because double→DECIMAL rounding of full-precision fractions
    // differs between Spark (exact-binary-expansion HALF_UP) and DuckDB.
    // So deviations are quantized to integer cents with FLOOR (exact on
    // identical doubles) and the squares/cubes are computed in EXACT
    // INTEGER arithmetic — Spark DECIMAL(12,0) products (which widen),
    // DuckDB HUGEINT (a third measured trap: cubing in double rounds each
    // term to its 3e7-size ulp, and DuckDB's double→DECIMAL conversion of
    // >2^63 values drops low digits — both engines were "deterministic"
    // but summing different numbers). The statistic is the skewness of
    // cent-rounded deviations (≈1e-9 relative from exact — asserted
    // within 1e-6 of Spark's builtin in Round5OpsSpec); scale cancels in
    // the ratio. σ³ is sq·sq·sq (no pow — library pow may differ in the
    // last ulp). At 100 TB the broadcast-joined mean table is
    // #groups-sized and each pass is one map-side-combined aggregate.
    // PEARSON CORRELATION — the bivariate companion of the exact
    // skew/kurtosis family, over the derived per-order pair (item count,
    // total quantity): the fixture generator draws raw columns
    // independently (measured ~0 for every raw pair), so the graded
    // statistic is the structural do-bigger-orders-carry-more-volume
    // correlation (≈0.87). Built from the five raw decimal-exact sums
    // (Σx, Σy, Σxy, Σx², Σy² — each per-row product is one IEEE multiply
    // cast to DECIMAL(38,10) before the commutative sum), closed by ONE
    // fixed-parse-order expression with sqrt (correctly-rounded IEEE).
    // Never the builtin corr(): its streaming co-moment accumulation is
    // order-dependent across partitions. Two map-side-combined
    // aggregates (per-order, then the scalar); nothing wider than the
    // orderkey shuffle.
    Op("agg_corr",
      (s, dir) => {
        Tables(s, dir, "lineitem").createOrReplaceTempView("lineitem")
        s.sql(corrSql(e => s"CAST($e AS DOUBLE)"))
      },
      Some(corrSql(e => s"CAST(CAST($e AS VARCHAR) AS DOUBLE)"))),

    // HLL SKETCH RE-AGGREGATION — the property that makes approx-distinct
    // usable at 100 TB: per-group DataSketches HLL sketches (Spark's
    // hll_sketch_agg, lgK=12) MERGE into a global sketch via
    // hll_union_agg without touching rows again — the rollup never
    // rescans the fact table. Graded with the hard-contract pattern
    // (agg_approx_distinct / agg_approx_quantile family): every per-group
    // estimate AND the merged global estimate must land within ±5% of
    // the exact count (lgK=12's σ≈0.8%, so the bound is ~6σ — a drifted
    // sketch or a broken merge fails the hash compare), and the exact
    // counts themselves are graded verbatim.
    Op("agg_hll_merge",
      (s, dir) => {
        Tables(s, dir, "events").createOrReplaceTempView("events")
        s.sql("""
          WITH g AS (SELECT event_type,
            hll_sketch_agg(user_id, 12) AS sk,
            COUNT(DISTINCT user_id) AS exact_n FROM events GROUP BY 1),
          per AS (SELECT event_type, exact_n,
            (hll_sketch_estimate(sk) >= CAST(0.95 * exact_n AS BIGINT)
             AND hll_sketch_estimate(sk) <= CAST(1.05 * exact_n AS BIGINT))
              AS est_ok FROM g),
          tot AS (SELECT COUNT(DISTINCT user_id) AS exact_n FROM events),
          m AS (SELECT hll_sketch_estimate(hll_union_agg(sk)) AS est FROM g)
          SELECT event_type, exact_n, est_ok FROM per
          UNION ALL
          SELECT 'ALL', tot.exact_n,
            (m.est >= CAST(0.95 * tot.exact_n AS BIGINT)
             AND m.est <= CAST(1.05 * tot.exact_n AS BIGINT))
          FROM tot, m
          ORDER BY event_type""")
      },
      Some("""
        SELECT event_type, COUNT(DISTINCT user_id) AS exact_n, TRUE AS est_ok
        FROM events GROUP BY 1
        UNION ALL
        SELECT 'ALL', COUNT(DISTINCT user_id), TRUE FROM events
        ORDER BY event_type""")),

    // STREAMING HLL MAINTENANCE — agg_hll_merge's maintain twin, closing
    // the sketch-maintain family (minhash/phash/countmin/ivf/…): per
    // micro-batch ONE hll_sketch_agg pass over the arrivals, folded into
    // the per-group sketch state via hll_union_agg (register max is
    // ORDER-FREE, so incremental unions see the same registers as the
    // one-shot sketch and the batch key's oracle is this key's oracle).
    // The exact-count side folds as the distinct (group, key) pair state —
    // cardinality-bounded, the standard streaming-dedup state shape. The
    // report tail is agg_hll_merge's: per-group and merged-global
    // estimates against their ±5% hard contracts.
    Op("stream_hll_maintain",
      (s, dir) => {
        val key = "stream_hll_maintain"
        val stage = Maintain.stage(key, dir, col("event_id")) {
          Tables(s, dir, "events").createOrReplaceTempView("events")
          s.sql("SELECT event_id, event_type, user_id FROM events")
        }
        var sk = graft.util.empty(s, "event_type STRING, sk BINARY")
        var pairs = graft.util.empty(s, "event_type STRING, user_id BIGINT")
        Maintain.fold(s, key, stage,
            "event_id BIGINT, event_type STRING, user_id BIGINT") { batch =>
          val bs = batch.groupBy("event_type")
            .agg(expr("hll_sketch_agg(user_id, 12)").as("sk"))
          sk = graft.util.cut(sk.unionByName(bs)
            .groupBy("event_type")
            .agg(expr("hll_union_agg(sk)").as("sk")))
          pairs = graft.util.cut(pairs.unionByName(
            batch.select("event_type", "user_id")).distinct())
        }
        sk.createOrReplaceTempView("hll_state")
        pairs.createOrReplaceTempView("hll_pairs")
        // Per group, the two states meet in one aggregate over their
        // union, not in a join: a hash join on event_type built a 64 MB
        // BytesToBytesMap page per run for five rows. A group's exact
        // count is its pair rows (the state rows carry no user_id), its
        // estimate the union of its one sketch row. The global row keeps
        // its two one-row aggregates apart: a DISTINCT next to
        // hll_union_agg in one aggregate plans an Expand whose extra
        // generated classes cost more than the join did.
        s.sql("""
          WITH u AS (SELECT event_type, sk, CAST(NULL AS BIGINT) AS user_id
              FROM hll_state
            UNION ALL
            SELECT event_type, CAST(NULL AS BINARY), user_id FROM hll_pairs),
          per AS (SELECT event_type, COUNT(user_id) AS exact_n,
            hll_sketch_estimate(hll_union_agg(sk)) AS est FROM u GROUP BY 1),
          tot AS (SELECT COUNT(DISTINCT user_id) AS exact_n FROM hll_pairs),
          m AS (SELECT hll_sketch_estimate(hll_union_agg(sk)) AS est
            FROM hll_state)
          SELECT event_type, exact_n,
            (est >= CAST(0.95 * exact_n AS BIGINT)
             AND est <= CAST(1.05 * exact_n AS BIGINT)) AS est_ok
          FROM per
          UNION ALL
          SELECT 'ALL', tot.exact_n,
            (m.est >= CAST(0.95 * tot.exact_n AS BIGINT)
             AND m.est <= CAST(1.05 * tot.exact_n AS BIGINT))
          FROM tot, m
          ORDER BY event_type""")
      },
      Some("""
        SELECT event_type, COUNT(DISTINCT user_id) AS exact_n, TRUE AS est_ok
        FROM events GROUP BY 1
        UNION ALL
        SELECT 'ALL', COUNT(DISTINCT user_id), TRUE FROM events
        ORDER BY event_type""")),

    Op("agg_skew",
      (s, dir) => {
        Tables(s, dir, "orders").createOrReplaceTempView("orders")
        s.sql("""WITH mu AS (SELECT o_orderstatus, COUNT(*) AS n,
            CAST(SUM(CAST(o_totalprice AS DECIMAL(38,10))) AS DOUBLE)
              / COUNT(*) AS mean
            FROM orders GROUP BY 1),
          d AS (SELECT o.o_orderstatus, mu.n,
            CAST(FLOOR((o.o_totalprice - mu.mean) * 100 + 0.5) AS DECIMAL(12,0)) AS dvq
            FROM orders o JOIN mu ON mu.o_orderstatus = o.o_orderstatus),
          m AS (SELECT o_orderstatus, n,
            CAST(SUM(dvq * dvq) AS DOUBLE) AS sd2,
            CAST(SUM(dvq * dvq * dvq) AS DOUBLE) AS sd3
            FROM d GROUP BY 1, 2)
          SELECT o_orderstatus, n,
            (sd3 / n) / (sqrt(sd2 / n) * sqrt(sd2 / n) * sqrt(sd2 / n)) AS skew
          FROM m ORDER BY 1""")
      },
      Some(s"""WITH mu AS (SELECT o_orderstatus, COUNT(*) AS n,
          ${num.DSUM("o_totalprice")} / COUNT(*) AS mean
          FROM orders GROUP BY 1),
        d AS (SELECT o.o_orderstatus, mu.n,
          CAST(FLOOR((o.o_totalprice - mu.mean) * 100 + 0.5) AS HUGEINT) AS dvq
          FROM orders o JOIN mu ON mu.o_orderstatus = o.o_orderstatus),
        m AS (SELECT o_orderstatus, n,
          CAST(CAST(SUM(dvq * dvq) AS VARCHAR) AS DOUBLE) AS sd2,
          CAST(CAST(SUM(dvq * dvq * dvq) AS VARCHAR) AS DOUBLE) AS sd3
          FROM d GROUP BY 1, 2)
        SELECT o_orderstatus, n,
          (sd3 / n) / (sqrt(sd2 / n) * sqrt(sd2 / n) * sqrt(sd2 / n)) AS skew
        FROM m ORDER BY 1""")),

    // Excess kurtosis — agg_skew's machinery one moment higher (see that
    // op's scaladoc for why cent-quantization + exact integer powers are
    // required). dvq⁴ ≤ ~1.3e31 and its 150k-row sum ≤ ~2e36 stay inside
    // both DECIMAL(38,0) (Spark caps product precision at 38 — values
    // fit) and HUGEINT (1.7e38). kurt = m4/m2² − 3, per-group IEEE.
    Op("agg_kurtosis",
      (s, dir) => {
        Tables(s, dir, "orders").createOrReplaceTempView("orders")
        s.sql("""WITH mu AS (SELECT o_orderstatus, COUNT(*) AS n,
            CAST(SUM(CAST(o_totalprice AS DECIMAL(38,10))) AS DOUBLE)
              / COUNT(*) AS mean
            FROM orders GROUP BY 1),
          d AS (SELECT o.o_orderstatus, mu.n,
            CAST(FLOOR((o.o_totalprice - mu.mean) * 100 + 0.5) AS DECIMAL(12,0)) AS dvq
            FROM orders o JOIN mu ON mu.o_orderstatus = o.o_orderstatus),
          m AS (SELECT o_orderstatus, n,
            CAST(SUM(dvq * dvq) AS DOUBLE) AS sd2,
            CAST(SUM(dvq * dvq * dvq * dvq) AS DOUBLE) AS sd4
            FROM d GROUP BY 1, 2)
          SELECT o_orderstatus, n,
            (sd4 / n) / ((sd2 / n) * (sd2 / n)) - 3 AS kurt
          FROM m ORDER BY 1""")
      },
      Some(s"""WITH mu AS (SELECT o_orderstatus, COUNT(*) AS n,
          ${num.DSUM("o_totalprice")} / COUNT(*) AS mean
          FROM orders GROUP BY 1),
        d AS (SELECT o.o_orderstatus, mu.n,
          CAST(FLOOR((o.o_totalprice - mu.mean) * 100 + 0.5) AS HUGEINT) AS dvq
          FROM orders o JOIN mu ON mu.o_orderstatus = o.o_orderstatus),
        m AS (SELECT o_orderstatus, n,
          CAST(CAST(SUM(dvq * dvq) AS VARCHAR) AS DOUBLE) AS sd2,
          CAST(CAST(SUM(dvq * dvq * dvq * dvq) AS VARCHAR) AS DOUBLE) AS sd4
          FROM d GROUP BY 1, 2)
        SELECT o_orderstatus, n,
          (sd4 / n) / ((sd2 / n) * (sd2 / n)) - 3 AS kurt
        FROM m ORDER BY 1""")),

    // GROUPING() disambiguation over ROLLUP — what makes subtotal rows
    // machine-readable (a NULL group key is otherwise ambiguous between
    // "subtotal" and "the NULL value"). Same Expand-based plan as
    // agg_rollup.
    Op("agg_grouping_id",
      (s, dir) => {
        Tables(s, dir, "orders").createOrReplaceTempView("orders")
        s.sql(GroupingSql)
      },
      Some(GroupingSql)),

    // Gaps-and-islands (longest streak): consecutive same-type runs per
    // user via the classic row_number difference, then per-user longest
    // run + island count. Two window passes over the SAME (user) ordering
    // — one shuffle; the island aggregation is map-side combinable.
    Op("win_islands",
      (s, dir) => {
        Tables(s, dir, "events").createOrReplaceTempView("events")
        s.sql(IslandsSql)
      },
      Some(IslandsSql)),

    // Per-user behavioral diversity (Gini impurity of the event-type mix)
    // — see GiniSql for why Gini rather than entropy. Two stacked
    // map-side-combined aggregations on the same user key: one shuffle.
    Op("agg_gini",
      (s, dir) => {
        Tables(s, dir, "events").createOrReplaceTempView("events")
        s.sql(GiniSql)
      },
      Some(GiniSql))
  )

  /** Engine-portable SQL shared by both sides of agg_grouping_id.
    * Subtotal keys are COALESCEd ('(all)') — NULL group keys would sort
    * first in Spark and last in DuckDB, breaking the ordered compare —
    * and GROUPING() is cast to BIGINT (Spark returns TINYINT, DuckDB
    * BIGINT). */
  private val GroupingSql = """
    SELECT COALESCE(o_orderstatus, '(all)') AS st,
      COALESCE(o_orderpriority, '(all)') AS pr,
      CAST(GROUPING(o_orderstatus) AS BIGINT) AS g_st,
      CAST(GROUPING(o_orderpriority) AS BIGINT) AS g_pr,
      COUNT(*) AS n
    FROM orders GROUP BY ROLLUP(o_orderstatus, o_orderpriority)
    ORDER BY g_st, g_pr, st, pr"""

  /** Engine-portable SQL shared by both sides of agg_gini. Gini impurity
    * 1 − Σpᵢ² per user over their event-type mix. Shannon entropy is the
    * usual diversity score but needs log() — a transcendental the
    * determinism contract bans (graft.num) — while Gini's numerators stay
    * in EXACT integer arithmetic (Σnᵢ², n) until one final division. */
  private val GiniSql = """
    WITH c AS (SELECT user_id, event_type, COUNT(*) AS ni
      FROM events GROUP BY 1, 2),
    u AS (SELECT user_id, SUM(ni) AS n, SUM(ni * ni) AS s2
      FROM c GROUP BY 1)
    SELECT user_id, CAST(n AS BIGINT) AS n,
      1 - CAST(s2 AS DOUBLE) / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)) AS gini
    FROM u ORDER BY 1"""

  /** Engine-portable SQL shared by both sides of win_islands. */
  private val IslandsSql = """
    WITH r1 AS (SELECT user_id, event_type,
      ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY event_id) AS rn,
      ROW_NUMBER() OVER (PARTITION BY user_id, event_type
        ORDER BY event_id) AS rnt
      FROM events),
    isl AS (SELECT user_id, event_type, rn - rnt AS grp, COUNT(*) AS len
      FROM r1 GROUP BY 1, 2, 3)
    SELECT user_id, MAX(len) AS max_streak, COUNT(*) AS n_islands
    FROM isl GROUP BY 1 ORDER BY 1"""

  /** Pearson correlation from raw decimal-exact sums over the derived
    * per-order (item count, total quantity) pair; `d` renders the
    * engine's correctly-rounded DECIMAL→DOUBLE cast. */
  private def corrSql(d: String => String): String = s"""
    WITH ord AS (SELECT l_orderkey,
      CAST(COUNT(*) AS DOUBLE) AS x,
      ${d("SUM(CAST(l_quantity AS DECIMAL(38,10)))")} AS y
      FROM lineitem GROUP BY 1),
    a AS (SELECT COUNT(*) AS n,
      ${d("SUM(CAST(x AS DECIMAL(38,10)))")} AS sx,
      ${d("SUM(CAST(y AS DECIMAL(38,10)))")} AS sy,
      ${d("SUM(CAST(x * y AS DECIMAL(38,10)))")} AS sxy,
      ${d("SUM(CAST(x * x AS DECIMAL(38,10)))")} AS sxx,
      ${d("SUM(CAST(y * y AS DECIMAL(38,10)))")} AS syy
      FROM ord)
    SELECT n, sx, sy,
      (CAST(n AS DOUBLE) * sxy - sx * sy)
      / (sqrt(CAST(n AS DOUBLE) * sxx - sx * sx)
         * sqrt(CAST(n AS DOUBLE) * syy - sy * sy)) AS corr_items_qty
    FROM a"""
}
