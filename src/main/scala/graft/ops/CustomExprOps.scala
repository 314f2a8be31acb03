package graft.ops

import graft.{Op, OpModule, Tables, num}
import graft.functions.GraftFunctions
import graft.streaming.Maintain
import org.apache.spark.sql.functions._

/** The custom-Catalyst operator keys (SURVEY.md §2.9) plus secondary source
  * formats (§2.1): each key drives one extension surface end-to-end through
  * the oracle —
  *   udf_expr_hash    → codegen'd UnaryExpression (StableHash64)
  *   udaf_sketch      → TypedImperativeAggregate (ThresholdDistinct)
  *   udtf_tokenize    → Generator (TokenizeGenerator)
  *   join_asof_exec   → custom SparkPlan (AsOfJoinExec ladder)
  *   source_csv_json  → csv + json sinks/sources round-trip
  *   sink_partitioned → partitionBy parquet write + pruned read-back */
object CustomExprOps extends OpModule {

  def ops: Seq[Op] = Seq(

    // Native expression inside whole-stage codegen; same rolling-hash value
    // as the SQL char fold (ASCII corpus ⇒ byte fold ≡ char fold).
    Op("udf_expr_hash",
      (s, dir) => {
        GraftFunctions.register(s)
        Tables(s, dir, "part").createOrReplaceTempView("part")
        s.sql("""SELECT p_partkey, stable_hash64(p_name) AS name_hash,
          stable_hash64(p_type) AS type_hash FROM part ORDER BY p_partkey""")
      },
      Some(s"""SELECT p_partkey, ${textsql.duckRollHash("p_name")} AS name_hash,
        ${textsql.duckRollHash("p_type")} AS type_hash
        FROM part ORDER BY p_partkey""")),

    // Threshold'd exact-distinct sketch: exact below k, -1 (saturated) above.
    // k=80 straddles the fixture's per-group supplier cardinality, so both
    // branches are exercised at every SF.
    Op("udaf_sketch",
      (s, dir) => {
        GraftFunctions.register(s)
        Tables(s, dir, "lineitem").createOrReplaceTempView("lineitem")
        s.sql("""SELECT l_returnflag, l_linestatus,
          threshold_distinct(l_suppkey, 80) AS supp_sketch,
          threshold_distinct(l_orderkey, 80) AS order_sketch
          FROM lineitem GROUP BY l_returnflag, l_linestatus
          ORDER BY l_returnflag, l_linestatus""")
      },
      Some("""SELECT l_returnflag, l_linestatus,
        CASE WHEN COUNT(DISTINCT l_suppkey) <= 80
          THEN COUNT(DISTINCT l_suppkey) ELSE -1 END AS supp_sketch,
        CASE WHEN COUNT(DISTINCT l_orderkey) <= 80
          THEN COUNT(DISTINCT l_orderkey) ELSE -1 END AS order_sketch
        FROM lineitem GROUP BY l_returnflag, l_linestatus
        ORDER BY l_returnflag, l_linestatus""")),

    // True Generator UDTF: text → (pos, token) rows, 1-based positions.
    Op("udtf_tokenize",
      (s, dir) => {
        GraftFunctions.register(s)
        Tables(s, dir, "documents").createOrReplaceTempView("documents")
        s.sql("""SELECT doc_id, pos, token
          FROM documents LATERAL VIEW tokenize(text) t AS pos, token
          WHERE doc_id % 50 = 0 ORDER BY doc_id, pos""")
      },
      Some(s"""SELECT doc_id, pos, token FROM (
        SELECT doc_id, generate_subscripts(${textsql.duckToks("text")}, 1) AS pos,
          unnest(${textsql.duckToks("text")}) AS token
        FROM documents WHERE doc_id % 50 = 0) t ORDER BY doc_id, pos""")),

    // The custom-SparkPlan rung of the ladder: merge-scan as-of join
    // (graft.plans.AsOfJoinExec) — same semantics and oracle as the
    // window-rewrite join_asof, different physical algorithm (O(1)-state
    // merge over co-partitioned sorted children vs shuffle + running-max).
    Op("join_asof_exec",
      (s, dir) => {
        val ev = Tables(s, dir, "events")
        val purchases = ev.filter(col("event_type") === "purchase")
          .select(col("event_id"), col("user_id"), col("ts"))
        val clicks = ev.filter(col("event_type") === "click")
          .select(col("user_id").as("c_user"), col("ts").as("c_ts"))
        graft.plans.AsOf.join(purchases, clicks,
            "user_id", "c_user", "ts", "c_ts")
          .select(col("event_id"), col("user_id"), col("ts"),
            col("c_ts").as("last_click_ts"))
          .orderBy("event_id")
      },
      Some("""SELECT p.event_id, p.user_id, p.ts,
        (SELECT max(c.ts) FROM events c WHERE c.event_type = 'click'
          AND c.user_id = p.user_id AND c.ts <= p.ts) AS last_click_ts
        FROM events p WHERE p.event_type = 'purchase' ORDER BY p.event_id""")),

    // Secondary formats: region → csv → read, nation → json → read, join.
    // Lossless for these all-primitive schemas; oracle reads the original
    // parquet — the round-trip is what's being verified.
    Op("source_csv_json",
      (s, dir) => {
        val tmp = graft.Staging.fresh("fmt")
        Tables(s, dir, "region").write.mode("overwrite")
          .option("header", "true").csv(s"$tmp/region_csv")
        Tables(s, dir, "nation").write.mode("overwrite").json(s"$tmp/nation_json")
        val r = s.read.option("header", "true")
          .schema("r_regionkey INT, r_name STRING").csv(s"$tmp/region_csv")
        val n = s.read
          .schema("n_nationkey INT, n_name STRING, n_regionkey INT")
          .json(s"$tmp/nation_json")
        n.join(r, n("n_regionkey") === r("r_regionkey"))
          .select("n_nationkey", "n_name", "r_name")
          .orderBy("n_nationkey")
      },
      Some("""SELECT n_nationkey, n_name, r_name FROM nation
        JOIN region ON n_regionkey = r_regionkey ORDER BY n_nationkey""")),

    // Partitioned parquet SINK — the scale-relevant write path: data laid
    // out by a partition column so downstream readers get partition pruning
    // for free. Writes orders partitioned by status, reads back ONE
    // partition (the scan lists only that directory — pruning happens at
    // file listing, before any row is read), aggregates it. The oracle
    // reads the original table, so layout + round-trip fidelity are both
    // checked.
    Op("sink_partitioned",
      (s, dir) => {
        val tmp = graft.Staging.fresh("sink")
        graft.Sink.partitionedWrite(Tables(s, dir, "orders"),
          "o_orderstatus", "o_orderkey", s"$tmp/orders_by_status")
        s.read.parquet(s"$tmp/orders_by_status")
          .filter(col("o_orderstatus") === "F")
          .groupBy("o_orderstatus")
          .agg(count(lit(1)).as("n"), num.dsum(col("o_totalprice")).as("total"))
          .orderBy("o_orderstatus")
      },
      Some(s"""SELECT o_orderstatus, COUNT(*) AS n,
        ${num.DSUM("o_totalprice")} AS total
        FROM orders WHERE o_orderstatus = 'F' GROUP BY 1 ORDER BY 1""")),

    // COUNT–MIN SKETCH frequency estimation (graft.functions.CountMinSketch
    // — d=3 prime-width rows, order-free merge). The report: for each probe
    // key (user_id % 13 = 0 — a fixed auditable panel), the exact count
    // next to the sketch estimate. The Spark side goes THROUGH the UDAF
    // (build per-group sketches, then pure array lookups); the DuckDB
    // oracle replays every consulted CELL as a GROUP BY count over the
    // public hash family and takes the same LEAST — an exact cross-engine
    // replay of the estimator, not a tolerance check. With 150 users over
    // 61/67/71-wide rows the fixture genuinely collides (est > exact on
    // some probes), so the min-of-rows estimator is exercised, not idle.
    Op("agg_countmin",
      (s, dir) => {
        GraftFunctions.register(s)
        Tables(s, dir, "events").createOrReplaceTempView("events")
        s.sql(s"""
          WITH sk AS (SELECT event_type, count_min(user_id) AS sk
            FROM events GROUP BY 1),
          p AS (SELECT event_type, user_id, COUNT(*) AS exact_n FROM events
            WHERE user_id % 13 = 0 GROUP BY 1, 2)
          SELECT p.event_type, p.user_id, p.exact_n,
            LEAST(
              element_at(sk.sk, CAST(${cmBucket(0, "p.user_id")} AS INT) + 1),
              element_at(sk.sk, 61 + CAST(${cmBucket(1, "p.user_id")} AS INT) + 1),
              element_at(sk.sk, 128 + CAST(${cmBucket(2, "p.user_id")} AS INT) + 1)
            ) AS est_n
          FROM p JOIN sk ON sk.event_type = p.event_type
          ORDER BY p.event_type, p.user_id""")
      },
      Some(countMinOracleSql)),

    // STREAMING MAINTENANCE twin: the sketch kept current across
    // micro-batches. State = the (event_type, cell, count) table plus the
    // probe panel's exact counts; per batch ONE map-side-combined UDAF
    // pass sketches the new arrivals and the fold is an integer cell add —
    // ORDER-FREE, so the batch key's oracle is this key's oracle verbatim
    // (the defining property of a mergeable sketch: fold ≡ batch exactly,
    // not approximately). The report tail renders from folded state by
    // joining each probe to its three cells.
    Op("stream_countmin_maintain",
      (s, dir) => {
        GraftFunctions.register(s)
        val key = "stream_countmin_maintain"
        val stage = Maintain.stage(key, dir, col("event_id")) {
          Tables(s, dir, "events").createOrReplaceTempView("events")
          s.sql("SELECT event_id, event_type, user_id FROM events")
        }
        // ONE tagged state frame (kind 'c' → sketch cell at index k,
        // kind 'p' → probe key k's exact count): both halves fold with
        // the same order-free integer sum, so merging them costs one
        // lineage cut per batch instead of two — per-batch fixed action
        // latency is the maintain family's dominant cost at bench SF.
        var state = graft.util.empty(s,
          "kind STRING, event_type STRING, k BIGINT, n BIGINT")
        Maintain.fold(s, key, stage,
            "event_id BIGINT, event_type STRING, user_id BIGINT") { batch =>
          val bc = batch.groupBy("event_type")
            .agg(expr("count_min(user_id)").as("sk"))
            .select(lit("c").as("kind"), col("event_type"),
              posexplode(col("sk")).as(Seq("k", "n")))
            .select(col("kind"), col("event_type"),
              col("k").cast("long").as("k"), col("n"))
          val bp = batch.filter(col("user_id") % 13 === 0)
            .groupBy("event_type", "user_id")
            .agg(count(lit(1)).as("n"))
            .select(lit("p").as("kind"), col("event_type"),
              col("user_id").as("k"), col("n"))
          state = graft.util.cut(state.unionByName(bc).unionByName(bp)
            .groupBy("kind", "event_type", "k").agg(sum("n").as("n")))
        }
        state.filter(col("kind") === "c")
          .select(col("event_type"), col("k").cast("int").as("i"), col("n"))
          .createOrReplaceTempView("cm_cells")
        state.filter(col("kind") === "p")
          .select(col("event_type"), col("k").as("user_id"),
            col("n").as("exact_n"))
          .createOrReplaceTempView("cm_probes")
        s.sql(s"""
          SELECT p.event_type, p.user_id, p.exact_n,
            LEAST(c0.n, c1.n, c2.n) AS est_n
          FROM cm_probes p
          JOIN cm_cells c0 ON c0.event_type = p.event_type
            AND c0.i = CAST(${cmBucket(0, "p.user_id")} AS INT)
          JOIN cm_cells c1 ON c1.event_type = p.event_type
            AND c1.i = 61 + CAST(${cmBucket(1, "p.user_id")} AS INT)
          JOIN cm_cells c2 ON c2.event_type = p.event_type
            AND c2.i = 128 + CAST(${cmBucket(2, "p.user_id")} AS INT)
          ORDER BY p.event_type, p.user_id""")
      },
      Some(countMinOracleSql))
  )

  /** Row-j Count–Min bucket of `x` — the SAME arithmetic in Spark SQL,
    * DuckDB SQL, and [[graft.functions.CountMinSketch.bucket]]. */
  private def cmBucket(j: Int, x: String): String = {
    val (a, b, w) = (graft.functions.CountMinSketch.A(j),
      graft.functions.CountMinSketch.B(j),
      graft.functions.CountMinSketch.W(j))
    // Floor-mod spelled portably (Spark AND DuckDB % are dividend-signed):
    // ((t % m) + m) % m. Mirrors CountMinSketch.bucket's Math.floorMod so
    // negative keys replay to the same cell in all three places. The inner
    // x % P may stay signed — congruent values mod P floor-mod equal.
    s"((((($a * ($x % 1000000007) + $b) % 1000000007) + 1000000007) " +
      s"% 1000000007 % $w) + $w) % $w"
  }

  /** The estimator replayed cell-by-cell from raw events (no sketch): what
    * Count–Min MUST equal by construction. */
  private def countMinOracleSql: String = s"""
    WITH base AS (SELECT event_type, user_id,
        ${cmBucket(0, "user_id")} AS b0,
        ${cmBucket(1, "user_id")} AS b1,
        ${cmBucket(2, "user_id")} AS b2
      FROM events),
    c0 AS (SELECT event_type, b0, COUNT(*) AS n FROM base GROUP BY 1, 2),
    c1 AS (SELECT event_type, b1, COUNT(*) AS n FROM base GROUP BY 1, 2),
    c2 AS (SELECT event_type, b2, COUNT(*) AS n FROM base GROUP BY 1, 2),
    p AS (SELECT event_type, user_id, b0, b1, b2, COUNT(*) AS exact_n
      FROM base WHERE user_id % 13 = 0 GROUP BY 1, 2, 3, 4, 5)
    SELECT p.event_type, p.user_id, p.exact_n,
      LEAST(c0.n, c1.n, c2.n) AS est_n
    FROM p JOIN c0 ON c0.event_type = p.event_type AND c0.b0 = p.b0
    JOIN c1 ON c1.event_type = p.event_type AND c1.b1 = p.b1
    JOIN c2 ON c2.event_type = p.event_type AND c2.b2 = p.b2
    ORDER BY p.event_type, p.user_id"""
}
