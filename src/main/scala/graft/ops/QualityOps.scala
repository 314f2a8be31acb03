package graft.ops

import graft.{Op, OpModule, Tables}
import graft.graph.{GraphFixture, GraphSql}
import graft.streaming.Maintain
import org.apache.spark.sql.functions._
import textsql._

/** Round-6 additions (SURVEY.md §2.10/§2.11 families): data-quality
  * auditing (FK referential checks, partition freshness, streaming quality
  * gate), CDC (SCD2 build + streaming maintenance, I/U/D apply), corpus
  * profiling (boilerplate, stride chunking), OLAP flagships (Q8 market
  * share, Q10 returns), rank-statistic windows, exact heavy hitters and
  * truncated EWMA, nearest as-of join, and graph analytics (per-root
  * harmonic centrality, GraphSAGE-style neighbor sampling).
  *
  * House determinism rules apply (graft.num scaladoc): integer-only or
  * decimal-exact aggregates, explicit total orders, identical operation
  * order in both engines.
  */
object QualityOps extends OpModule {

  private def view(s: org.apache.spark.sql.SparkSession, dir: String, n: String): Unit =
    Tables(s, dir, n).createOrReplaceTempView(n)

  def ops: Seq[Op] = Seq(

    // Referential-integrity audit — the Deequ-style constraint check a
    // pipeline runs before publishing a dataset: for each declared FK,
    // child row count + orphan count (children whose parent key is absent).
    // The seven fixture FKs are clean by construction (zero orphans IS the
    // audit's answer); the eighth row fault-injects negated order keys into
    // a copy of the child, proving the audit counts real violations rather
    // than vacuously passing. Each check is one LEFT JOIN on a unique
    // parent key. At fixture scale every parent broadcasts (asserted in
    // PlanQualitySpec); at 100 TB that stays true for the DIMENSION
    // parents (nation/region/part/customer) while fact-sized parents
    // (orders in lineitem->orders) outgrow broadcast and AQE takes the
    // key-partitioned shuffle — the correct shape, since the orphan count
    // is a per-key-partition map-side aggregate either way.
    Op("dq_referential",
      (s, dir) => {
        Seq("lineitem", "orders", "customer", "supplier", "nation", "region",
          "part", "events").foreach(view(s, dir, _))
        s.sql(DqReferentialSql)
      },
      Some(DqReferentialSql)),

    // SCD TYPE-2 dimension history — CDC's "what did this attribute look
    // like over time" build: per user, each RUN of consecutive equal
    // event_type values becomes one versioned row with [valid_from,
    // valid_to) bounds and an is_current flag. Three window passes over ONE
    // user-clustered sort (lag → change flag → running version id, then a
    // lead for the closing bound): a single shuffle on user_id, per-user
    // bounded state — the layout a 100 TB dimension build wants (cluster by
    // business key, never a global sort). Epoch-micros longs avoid
    // cross-engine timestamp text; version numbering is deterministic via
    // the (tm, event_id) total order.
    Op("cdc_scd2",
      (s, dir) => {
        view(s, dir, "events")
        s.sql(scd2Sql("unix_micros(ts)"))
      },
      Some(scd2Sql("epoch_us(ts)"))),

    // STREAMING SCD2 MAINTENANCE — the ORDER-SENSITIVE incremental
    // materialization (vs stream_topk_maintain's order-free semilattice):
    // dimension history folded forward as commit-log slices arrive. State
    // is the compressed run list (user, type, [valid_from...], n_events) —
    // runs-sized, never raw-event-sized — and each micro-batch unions its
    // rows as unit runs with the state and re-compresses: adjacent
    // same-type runs merge, summing counts. Correct because arrival order
    // is commit-log order (each slice's timestamps follow all previous
    // slices'), which is exactly the contract a CDC log gives you; the
    // harness stages 4 time-quartile files with strictly increasing mtimes
    // so the file source replays that contract deterministically. Per-batch
    // cost: one shuffle of (state ∪ batch) on user_id — state stays
    // bounded by #versions, so at 100 TB/day the fold's working set is the
    // dimension history, not the event firehose. Versions/validity bounds
    // are assigned once at read-out (row_number + lead over the final
    // runs), so mid-stream state never renumbers. Oracle: the batch SCD2
    // build (same SQL as cdc_scd2) — three folds must land exactly on it.
    Op("stream_scd2_maintain",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val stage = graft.Staging.dir(s"scd2-src-${graft.Staging.tag(dir)}")
        val inDir = new java.io.File(s"$stage/in")
        if (!new java.io.File(s"$stage/_STAGED").exists()) {
          val e = Tables(s, dir, "events")
            .filter(col("user_id") % 10 === 0)
            .select(col("user_id"), col("event_type"),
              expr("unix_micros(ts)").as("tm"), col("event_id"))
          // Exact time-quartile slices (harness-side stand-in for the
          // natural arrival files of a log; the single-partition window is
          // staging-only, not part of the maintained computation).
          val sliced = e.withColumn("slice",
            ntile(4).over(Window.orderBy(col("tm"), col("event_id"))))
          inDir.mkdirs()
          for (i <- 1 to 4) {
            val p = s"$stage/s$i"
            sliced.filter(col("slice") === i).drop("slice")
              .coalesce(1).write.mode("overwrite").parquet(p)
            val part = new java.io.File(p).listFiles()
              .find(_.getName.endsWith(".parquet")).get
            val dst = new java.io.File(inDir, f"b$i%02d.parquet")
            java.nio.file.Files.move(part.toPath, dst.toPath)
            // Strictly increasing mtimes = the file source's arrival order.
            dst.setLastModified(1755000000000L + i * 60000L)
          }
          new java.io.File(s"$stage/_STAGED").createNewFile()
        }
        val wU = Window.partitionBy("user_id").orderBy("from_tm", "from_eid")
        def compress(runs: org.apache.spark.sql.DataFrame) = {
          val v = runs
            .withColumn("prev", lag("event_type", 1).over(wU))
            .withColumn("chg", when(col("prev").isNull ||
              col("prev") =!= col("event_type"), 1).otherwise(0))
            .withColumn("ver", sum("chg").over(
              wU.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
          v.groupBy(col("user_id"), col("ver"))
            .agg(min("event_type").as("event_type"),
              min(struct(col("from_tm"), col("from_eid"))).as("fk"),
              sum("n").as("n"))
            .select(col("user_id"), col("event_type"),
              col("fk.from_tm").as("from_tm"),
              col("fk.from_eid").as("from_eid"), col("n"))
        }
        val ddl = "user_id BIGINT, event_type STRING, tm BIGINT, event_id BIGINT"
        var state = graft.util.empty(s, ddl)
          .select(col("user_id"), col("event_type"), col("tm").as("from_tm"),
            col("event_id").as("from_eid"), lit(1L).as("n"))
          .limit(0)
        Maintain.fold(s, "stream_scd2_maintain", inDir.toString, ddl) { batch =>
          val unitRuns = batch.select(col("user_id"), col("event_type"),
            col("tm").as("from_tm"), col("event_id").as("from_eid"),
            lit(1L).as("n"))
          state = graft.util.cut(compress(state.unionAll(unitRuns)))
        }
        val wv = Window.partitionBy("user_id").orderBy("from_tm", "from_eid")
        state
          .withColumn("version", row_number().over(wv).cast("long"))
          .withColumn("valid_to",
            coalesce(lead("from_tm", 1).over(wv), lit(-1L)))
          .withColumn("is_current",
            when(lead("from_tm", 1).over(wv).isNull, 1).otherwise(0))
          .select(col("user_id"), col("version"), col("event_type"),
            col("from_tm").as("valid_from"), col("valid_to"),
            col("is_current"), col("n").as("n_events"))
          .orderBy("user_id", "version")
      },
      Some(scd2Sql("epoch_us(ts)"))),

    // Partition-freshness audit — the "is yesterday's data in yet" check a
    // scheduler gates on: per event class, row count, last-seen event time
    // and staleness vs the corpus frontier, all in epoch micros (integer-
    // exact). One map-side-combined aggregate + a scalar frontier — at
    // 100 TB this is metadata-cheap, and in production the same query runs
    // on partition stats instead of the raw scan.
    Op("dq_freshness",
      (s, dir) => {
        view(s, dir, "events")
        s.sql(freshnessSql("unix_micros(ts)"))
      },
      Some(freshnessSql("epoch_us(ts)"))),

    // DISTRIBUTION-DRIFT audit (the "did this feed change shape" check a
    // pipeline runs between a reference slice and the current one):
    // per event class, the value distribution in 10 fixed-width buckets
    // for both slices, with each bucket's chi-square contribution
    // (n_cur − e)²/e against the reference shape. Per-BUCKET rows, not
    // the folded scalar: a 10-term double sum would be accumulation-
    // order-dependent cross-engine, the per-bucket terms are pure IEEE
    // from integer counts in one fixed parse order — and the per-bucket
    // artifact is what a triage dashboard wants anyway. Global min/max
    // is one scalar broadcast; the bucket/count pass is one map-side-
    // combinable aggregate; everything downstream is buckets×classes-
    // bounded. Reference slice = even event ids (deterministic at any
    // SF; a production deploy keys the slice on time instead — same
    // plan).
    Op("dq_drift",
      (s, dir) => {
        view(s, dir, "events")
        s.sql(DqDriftSql)
      },
      Some(DqDriftSql)),

    // K-ANONYMITY audit — the privacy gate a training-data release runs
    // before shipping quasi-identifiable rows: group by the
    // quasi-identifier tuple (nation × market segment × coarsened
    // balance band) and surface every equivalence class smaller than
    // k=5 — the rows a release must suppress or generalize. One
    // map-side-combined aggregate over the QI tuple; the violation
    // filter touches the #classes-sized frame, never the fact scan
    // twice. The band coarsening (FLOOR(bal/1000)) is itself the
    // standard generalization lever — tightening it is how the audit
    // iterates toward zero violations.
    Op("dq_kanon",
      (s, dir) => {
        view(s, dir, "customer")
        s.sql(KanonSql)
      },
      Some(KanonSql)),

    // STREAMING DRIFT MAINTENANCE — dq_drift's maintain twin: the
    // monitoring loop that keeps the drift report current as event
    // slices arrive. Bucket CALIBRATION (global value min/max) is a
    // FIXED artifact computed once at stage time — exactly what a
    // production monitor does (bounds come from the reference snapshot,
    // never re-derived per batch, or the buckets would shift under the
    // reader) — and arrivals bucket against it. State = the
    // buckets×classes-bounded integer count table; per batch one
    // map-side-combined count aggregate merges in (ORDER-FREE integer
    // sums ⇒ the batch key's oracle is this key's oracle); the report
    // tail (shared SQL text) renders from folded state.
    Op("stream_drift_maintain",
      (s, dir) => {
        val key = "stream_drift_maintain"
        val stage = Maintain.stage(key, dir, col("event_id")) {
          view(s, dir, "events")
          s.sql("SELECT event_id, event_type, value FROM events")
        }
        val mm = graft.util.parquet(s, stage)
          .agg(min("value").as("mn"), max("value").as("mx")).head
        val (mn, mx) = (mm.getDouble(0), mm.getDouble(1))
        var counts = graft.util.empty(s,
          "event_type STRING, bucket INT, n_ref BIGINT, n_cur BIGINT")
        Maintain.fold(s, key, stage,
            "event_id BIGINT, event_type STRING, value DOUBLE") { batch =>
          val b = batch.select(col("event_type"),
            least(lit(9), greatest(lit(0),
              floor((col("value") - lit(mn)) * lit(10.0)
                / (lit(mx) - lit(mn))).cast("int"))).as("bucket"),
            (col("event_id") % 2).as("slice"))
            .groupBy("event_type", "bucket")
            .agg(sum(when(col("slice") === 0, 1).otherwise(0)).as("n_ref"),
              sum(when(col("slice") === 1, 1).otherwise(0)).as("n_cur"))
          counts = graft.util.cut(counts.unionByName(b)
            .groupBy("event_type", "bucket")
            .agg(sum("n_ref").as("n_ref"), sum("n_cur").as("n_cur")))
        }
        counts.createOrReplaceTempView("dqd_counts")
        s.sql(driftReportSql(
          "c AS (SELECT event_type, bucket, n_ref, n_cur FROM dqd_counts)"))
      },
      Some(DqDriftSql)),

    // OLAP flagship — market-share report (TPC-H Q8 shape): revenue by
    // supplier-region × order year, each region's share of the year via a
    // window over the aggregate. Two-level structure: the 5-way snowflake
    // join (dims broadcast, ONE fact-fact shuffle) feeds a years×regions-
    // sized aggregate, so the share window runs on a tiny relation —
    // never window-over-fact. Shares are double divisions of decimal-exact
    // sums, identical IEEE ops in both engines.
    Op("olap_mkt_share",
      (s, dir) => {
        Seq("lineitem", "orders", "supplier", "nation", "region")
          .foreach(view(s, dir, _))
        s.sql(mktShareSql(e => s"CAST($e AS DOUBLE)"))
      },
      // DuckDB's DECIMAL→DOUBLE cast double-rounds; the VARCHAR hop is
      // correctly rounded and matches Spark bit-for-bit (num.DSUM scaladoc).
      Some(mktShareSql(e => s"CAST(CAST($e AS VARCHAR) AS DOUBLE)"))),

    // TPC-H Q5 shape — LOCAL-supplier volume: revenue per nation from
    // line items whose customer AND supplier sit in the same nation of
    // one region, over one order year. The snowflake prunes hardest at
    // the top (region='ASIA' → 1 of 5 regions → 5 nations), and that
    // pruning REACHES the fact scan through two broadcast dim chains
    // (region→nation→{customer,supplier}); the one genuinely large join
    // (lineitem⋈orders) carries the o_orderdate range predicate pushed
    // to the orders scan first. The same-nation equality
    // (s_nationkey = c_nationkey) is the non-obvious plan hazard: it
    // correlates the two dim chains, so a bad order pays a fact-sized
    // intermediate twice — the dims-first order keeps every
    // intermediate dim-bounded.
    Op("olap_local_supplier",
      (s, dir) => {
        Seq("lineitem", "orders", "customer", "supplier", "nation", "region")
          .foreach(view(s, dir, _))
        s.sql(localSupplierSql(e => s"CAST($e AS DOUBLE)"))
      },
      Some(localSupplierSql(e => s"CAST(CAST($e AS VARCHAR) AS DOUBLE)"))),

    // TPC-H Q7 shape — CROSS-nation volume shipping: revenue between
    // (supplier nation, customer nation) ordered pairs per order year,
    // the trade matrix Q5's same-nation equality deliberately excludes.
    // Plan shape: the one genuinely large join (lineitem⋈orders) runs
    // first; both nation chains attach by broadcast hash lookups (nation
    // twice under different aliases — 25 rows each); the pair GROUP BY is
    // nations²×years-bounded, so map-side combine collapses the fact
    // stream before one small shuffle. No correlated dim equality ⇒ no
    // Q5-style join-order hazard; the thing to NOT do at 100 TB is
    // aggregate before attaching names (keys then names costs a second
    // shuffle — names are broadcast-cheap inline).
    Op("olap_nation_volume",
      (s, dir) => {
        Seq("lineitem", "orders", "customer", "supplier", "nation")
          .foreach(view(s, dir, _))
        s.sql(nationVolumeSql(e => s"CAST($e AS DOUBLE)"))
      },
      Some(nationVolumeSql(e => s"CAST(CAST($e AS VARCHAR) AS DOUBLE)"))),

    // Lag-k AUTOCORRELATION (k=1,2) of the event-value series per type —
    // the seasonality/self-similarity diagnostic a monitoring pipeline
    // computes next to ts_seasonality's bucket means. Raw (uncentered)
    // autocorrelation r_k = Σ x_t·x_{t-k} / Σ x_t², so every term is one
    // per-row IEEE multiply, the sums are exact decimal, and the closing
    // division is a single correctly-rounded op — fully cross-engine
    // bit-exact, unlike the centered/Pearson form whose mean subtraction
    // would compound rounding. One shuffle (the per-type window sort);
    // lag products are map-side after it; at 100 TB the series is
    // type-clustered, exactly this layout.
    // HASHING-TRICK term-frequency vectors — the fixed-width featurization
    // a training pipeline runs when the vocabulary is unbounded: every
    // token hashes into one of 16 buckets, each doc becomes its sparse
    // (bucket, count) rows. No vocabulary table, no second pass, and the
    // width is a constant however large the corpus — the whole point of
    // the trick at 100 TB. One explode + map-side-combinable groupBy;
    // md5-derived bucket hash is engine-portable.
    Op("text_hashvec",
      (s, dir) => {
        view(s, dir, "documents")
        s.sql(s"""
          WITH tok AS (SELECT doc_id, explode(${sparkToks("text")}) AS w
            FROM documents)
          SELECT doc_id, ${sparkHash("w")} % 16 AS bucket, COUNT(*) AS n
          FROM tok GROUP BY 1, 2 ORDER BY 1, 2""")
      },
      Some(s"""
        WITH tok AS (SELECT doc_id, unnest(${duckToks("text")}) AS w
          FROM documents)
        SELECT doc_id, ${duckHash("w")} % 16 AS bucket, COUNT(*) AS n
        FROM tok GROUP BY 1, 2 ORDER BY 1, 2""")),

    Op("ts_autocorr",
      (s, dir) => {
        view(s, dir, "events")
        s.sql(autocorrSql(e => s"CAST($e AS DOUBLE)", "unix_micros(ts)"))
      },
      Some(autocorrSql(e => s"CAST(CAST($e AS VARCHAR) AS DOUBLE)",
        "epoch_us(ts)"))),

    // Corpus BOILERPLATE profile — the frequent-fragment audit behind
    // common-crawl-style boilerplate removal: a bigram shingle is
    // boilerplate when it appears in ≥ 6.25% of documents (scale-relative
    // threshold — df·16 ≥ N — calibrated to split the fixture's bigram df
    // distribution at every shipped SF, so the audit is never vacuous); each doc
    // reports its distinct-shingle count and how many are boilerplate (the
    // removal decision input). Scale shape: the document-frequency
    // aggregate shuffles DISTINCT (doc, shingle) pairs grouped by shingle —
    // vocabulary²-bounded, not corpus-sized — and the qualifying set is
    // tiny by construction (it's the HEAD of the df distribution), so the
    // per-doc recount is a broadcast probe of that set against the doc
    // shingle stream. Nothing corpus-sized is ever shuffled twice.
    Op("text_boilerplate",
      (s, dir) => {
        view(s, dir, "documents")
        s.sql(s"""
          WITH toks AS (SELECT doc_id, ${sparkToks("text")} AS t FROM documents),
          sh AS (SELECT DISTINCT doc_id, s FROM (
            SELECT doc_id, explode(${sparkShinglesW("t", 2)}) AS s
            FROM toks WHERE size(t) >= 2) x),
          nd AS (SELECT COUNT(*) AS n FROM documents),
          freq AS (SELECT s, COUNT(*) AS df FROM sh GROUP BY 1),
          boiler AS (SELECT s, df FROM freq WHERE df * 16 >= (SELECT n FROM nd))
          SELECT sh.doc_id, COUNT(*) AS n_shingles,
            COUNT(boiler.s) AS n_boiler,
            COALESCE(MAX(boiler.df), 0) AS max_df
          FROM sh LEFT JOIN boiler ON boiler.s = sh.s
          GROUP BY 1 ORDER BY 1""")
      },
      Some(s"""
        WITH toks AS (SELECT doc_id, ${duckToks("text")} AS t FROM documents),
        sh AS MATERIALIZED (SELECT DISTINCT doc_id, s FROM (
          SELECT doc_id, unnest(${duckShinglesW("t", 2)}) AS s
          FROM toks WHERE len(t) >= 2) x),
        nd AS (SELECT COUNT(*) AS n FROM documents),
        freq AS (SELECT s, COUNT(*) AS df FROM sh GROUP BY 1),
        boiler AS (SELECT s, df FROM freq WHERE df * 16 >= (SELECT n FROM nd))
        SELECT sh.doc_id, COUNT(*) AS n_shingles,
          CAST(COUNT(boiler.s) AS BIGINT) AS n_boiler,
          CAST(COALESCE(MAX(boiler.df), 0) AS BIGINT) AS max_df
        FROM sh LEFT JOIN boiler ON boiler.s = sh.s
        GROUP BY 1 ORDER BY 1""")),

    // Exponential smoothing, EXACT: the 8-term halving-weight moving
    // average (value/2 + prev/4 + ... + prev7/256) — the truncated EWMA a
    // monitoring pipeline actually computes. Cross-engine bit-exact on raw
    // doubles with NO decimal hop: dividing by 2^k only shifts the
    // exponent (never rounds), and the written-out sum fixes the add
    // order, so both engines execute the identical IEEE op sequence. One
    // user-clustered sort, 8 lags in a single window pass.
    Op("ts_ewma",
      (s, dir) => {
        view(s, dir, "events")
        s.sql(EwmaSql)
      },
      Some(EwmaSql)),

    // CDC APPLY with deletes — the missing half of upsert (sink_upsert):
    // fold an insert/update/delete log to the final row set. Last-writer-
    // wins per key via one row_number over the (ts, event_id) commit
    // order; keys whose final action is D vanish. Values pass through
    // untouched (no arithmetic — exact). At 100 TB this is one shuffle of
    // the log on the primary key; the anti-delete filter is free.
    Op("cdc_apply_deletes",
      (s, dir) => {
        view(s, dir, "events")
        s.sql(CdcApplySql)
      },
      Some(CdcApplySql)),

    // OLAP flagship — returned-items report (TPC-H Q10 shape): selective
    // fact filter (l_returnflag = 'R', pushed to the scan) → fact-fact
    // join → customer rollup → global top-20 via TakeOrderedAndProject.
    // The customer group-by is the one wide shuffle; dims broadcast.
    Op("olap_returned_top",
      (s, dir) => {
        Seq("lineitem", "orders", "customer", "nation").foreach(view(s, dir, _))
        s.sql(returnedTopSql(e => s"CAST($e AS DOUBLE)"))
      },
      Some(returnedTopSql(e => s"CAST(CAST($e AS VARCHAR) AS DOUBLE)"))),

    // BLOOM-PREFILTER join — semi-join reduction: build a Bloom filter on
    // the (filtered) dim keys and drop fact rows that cannot match BEFORE
    // the join. The exactness argument: Bloom has false positives but no
    // false negatives, and the join itself removes the false positives —
    // so the result is bit-identical to the plain join (which IS the
    // oracle). The 100 TB shape: a 100M-key filter at 1% fpp is ~120 MB —
    // shippable to every task when the dim TABLE (keys + payload) is far
    // past broadcast range; the fact side sheds (1 - selectivity) of its
    // rows before paying the shuffle. The mightContain probe is a scalar
    // UDF (the one non-codegen hop in this file) — at scale the same
    // pattern rides Spark's runtime row-level bloom injection, but the
    // EXPLICIT form is the one you reach for when the optimizer can't see
    // the selectivity.
    Op("join_bloom_prefilter",
      (s, dir) => {
        val cust = Tables(s, dir, "customer")
          .filter(col("c_mktsegment") === "BUILDING")
        val bf = cust.stat.bloomFilter("c_custkey", 10000, 0.01)
        val mightContain = udf((k: Long) => bf.mightContain(k))
        Tables(s, dir, "orders")
          .filter(mightContain(col("o_custkey")))
          .join(cust, col("o_custkey") === col("c_custkey"))
          .select("o_orderkey", "c_custkey", "o_totalprice")
          .orderBy("o_orderkey")
      },
      Some("""SELECT o_orderkey, c_custkey, o_totalprice
        FROM orders JOIN customer ON c_custkey = o_custkey
        WHERE c_mktsegment = 'BUILDING' ORDER BY o_orderkey""")),

    // NEAREST-match as-of join (vs join_asof's backward-only): each
    // purchase pairs with its temporally CLOSEST click, before or after.
    // Same union-frame trick, two window passes over ONE user-clustered
    // sort (running max for the backward candidate, running min over the
    // following frame for the forward one), then an integer-micros CASE
    // picks the nearer side (ties to backward). No range join, no
    // per-row subquery — one shuffle on user_id at any scale.
    Op("join_asof_nearest",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val ev = Tables(s, dir, "events")
        val clicks = ev.filter(col("event_type") === "click")
          .select(col("user_id"), col("ts"), lit(0).as("tag"),
            lit(-1L).as("event_id"))
        val purch = ev.filter(col("event_type") === "purchase")
          .select(col("user_id"), col("ts"), lit(1).as("tag"), col("event_id"))
        val ord = Window.partitionBy("user_id").orderBy("ts", "tag", "event_id")
        val back = ord.rowsBetween(Long.MinValue, 0)
        val fwd = ord.rowsBetween(0, Long.MaxValue)
        clicks.union(purch)
          .withColumn("b", max(when(col("tag") === 0, col("ts"))).over(back))
          .withColumn("f", min(when(col("tag") === 0, col("ts"))).over(fwd))
          .filter(col("tag") === 1)
          .withColumn("nearest_click_ts",
            when(col("b").isNull, col("f"))
              .when(col("f").isNull, col("b"))
              .when(expr("unix_micros(ts) - unix_micros(b)") <=
                expr("unix_micros(f) - unix_micros(ts)"), col("b"))
              .otherwise(col("f")))
          .select("event_id", "user_id", "ts", "nearest_click_ts")
          .orderBy("event_id")
      },
      Some("""SELECT p.event_id, p.user_id, p.ts,
        CASE WHEN b.ts IS NULL THEN f.ts
             WHEN f.ts IS NULL THEN b.ts
             WHEN epoch_us(p.ts) - epoch_us(b.ts)
               <= epoch_us(f.ts) - epoch_us(p.ts) THEN b.ts
             ELSE f.ts END AS nearest_click_ts
        FROM events p
        LEFT JOIN LATERAL (SELECT MAX(c.ts) AS ts FROM events c
          WHERE c.event_type = 'click' AND c.user_id = p.user_id
            AND c.ts <= p.ts) b ON true
        LEFT JOIN LATERAL (SELECT MIN(c.ts) AS ts FROM events c
          WHERE c.event_type = 'click' AND c.user_id = p.user_id
            AND c.ts > p.ts) f ON true
        WHERE p.event_type = 'purchase' ORDER BY p.event_id""")),

    // STREAMING QUALITY GATE — the per-batch audit a production intake
    // runs before letting a micro-batch through: per event class, rows
    // seen and rows quarantined (value < 0.5 — a rule that actually fires
    // on ~1% of the fixture at every SF, so the gate is never vacuous).
    // State is the audit-totals table (classes-sized); each batch folds
    // its own map-side-combined aggregate in — additive state, the
    // cheapest maintenance shape there is. The oracle is the whole-corpus
    // audit: three gated batches must sum exactly to it.
    Op("stream_quality_gate",
      (s, dir) => {
        val key = "stream_quality_gate"
        val stage = Maintain.stage(key, dir, col("event_id")) {
          Tables(s, dir, "events").select("event_id", "event_type", "value")
        }
        var state = Tables(s, dir, "events")
          .select(col("event_type"), lit(0L).as("n"), lit(0L).as("n_bad"))
          .limit(0)
        Maintain.fold(s, key, stage,
            "event_id BIGINT, event_type STRING, value DOUBLE") { batch =>
          val audit = batch.groupBy("event_type")
            .agg(count(lit(1)).as("n"),
              count(when(col("value") < 0.5, 1)).as("n_bad"))
          state = graft.util.cut(state.unionAll(audit)
            .groupBy("event_type")
            .agg(sum("n").as("n"), sum("n_bad").as("n_bad")))
        }
        state.orderBy("event_type")
      },
      Some("""SELECT event_type, COUNT(*) AS n,
        COUNT(CASE WHEN value < 0.5 THEN 1 END) AS n_bad
        FROM events GROUP BY 1 ORDER BY 1""")),

    // Rank-statistic windows: PERCENT_RANK + CUME_DIST over a UNIQUE total
    // order ((price, key) tiebreak — rank == row_number, so both measures
    // are ratios of identical ints and the doubles match bit-for-bit).
    // One shuffle on the partition key, single window pass.
    //
    // SCALE CLASS — report-over-aggregate, by contract: percent_rank/
    // cume_dist assign a value to EVERY row from its position in the full
    // per-group sort, so unlike win_rank's top-k (which has a bounded
    // two-phase plan) the full sort is inherent to the semantics. With a
    // 3-value partition key the whole table sorts inside 3 reducer
    // partitions — so this operator is for report-sized inputs (post-
    // aggregation tables, dimension tables). On a 100 TB fact, first
    // aggregate to the report grain, or partition by a high-cardinality
    // key (win_distribution's o_custkey shape); an approximate full-table
    // alternative is the percentile-bucket join (agg_histogram /
    // agg_percentile) which stays map-side combinable.
    Op("win_percent_rank",
      (s, dir) => {
        view(s, dir, "orders")
        s.sql(PercentRankSql)
      },
      Some(PercentRankSql)),

    // Exact heavy hitters — the frequent-key audit (hot users, hot shards):
    // keys whose count is ≥ 1.2× the mean (n·u·5 ≥ total·6 — integer-only
    // threshold, calibrated to split the fixture's flat-ish distribution
    // at every shipped SF). Two map-side-combined aggregates; the
    // threshold scalars broadcast. At 100 TB this is the exact pass you
    // run AFTER a sketch (approx_distinct/topk) flags a shard — or
    // standalone when the key space fits a shuffle, as here.
    Op("agg_heavy_hitters",
      (s, dir) => {
        view(s, dir, "events")
        s.sql(HeavyHittersSql)
      },
      Some(HeavyHittersSql)),

    // RAG-style CHUNKING: fixed 50-token windows, stride 40 (10-token
    // overlap) — the retrieval-corpus prep step between cleaning and
    // embedding. Chunk count is pure integer arithmetic ((n-11) div 40 + 1
    // past one window), chunk bodies come from per-row array slices —
    // distributed explode, no driver enumeration, no shuffle at all until
    // the final presentation sort. (vs text_pack: that key PACKS whole
    // docs into context budgets; this one SPLITS docs into windows.)
    Op("text_chunk",
      (s, dir) => {
        view(s, dir, "documents")
        s.sql(chunkSql(
          toks = sparkToks("text"), len = t => s"size($t)",
          div = "div", gen = nc => s"explode(sequence(1, $nc))",
          slice = (t, a, l) => s"slice($t, $a, $l)",
          join = a => s"concat_ws(' ', $a)"))
      },
      Some(chunkSql(
        toks = duckToks("text"), len = t => s"len($t)",
        div = "//", gen = nc => s"unnest(generate_series(1, $nc))",
        slice = (t, a, l) => s"$t[$a:$a + $l - 1]",
        join = a => s"array_to_string($a, ' ')"))),

    // GNN-style NEIGHBOR SAMPLING (GraphSAGE fan-out [2,2]): per customer
    // root, a deterministic 2-neighbor sample per node by md5(edge) rank —
    // the subgraph extraction step of distributed GNN training. Each level
    // is one equi-join + one per-parent window; sampling by edge hash
    // means a node's sample is identical for every root that reaches it
    // (cacheable at 100 TB) and reproducible across engines/partitionings.
    Op("graph_khop_sample",
      (s, dir) => {
        val g = GraphFixture(s, dir)
        g.vertices.createOrReplaceTempView("g_vertices")
        g.edges.createOrReplaceTempView("g_edges")
        s.sql("WITH " + khopSampleCtes("g_vertices", "g_edges", "STRING") +
          " " + KhopSampleBody)
      },
      Some(GraphSql.withGraph(KhopSampleBody,
        extra = khopSampleCtes("vertices", "edges", "VARCHAR")))),

    // Bounded-hop HARMONIC centrality from the customer roots: score(v) =
    // Σ_u 1/d(v,u) over out-reachable u within ≤3 hops, scaled ×6 so every
    // term (6/1, 6/2, 6/3) is an exact integer — cross-engine-exact without
    // touching floats. Unlike graph_hop_hist (single-SOURCE-SET min-hop),
    // this tracks PER-ROOT distances: the frontier is (root, id) pairs, one
    // equi-join per level — the multi-source BSP shape, 3 shuffles total.
    // Frontier size is Σ_root |N≤3(root)| — linear in roots × bounded
    // fan-out, never all-pairs; at 100 TB the root set is the query's
    // seed sample (here: the full customer class, exactly oracle-able).
    Op("graph_harmonic",
      (s, dir) => custHop3Dists(s, dir)
        .groupBy("root")
        .agg(sum(expr("6 div d")).as("harmonic6"),
          count(lit(1)).as("n_reach"))
        .select(col("root").as("id"), col("harmonic6"), col("n_reach"))
        .orderBy("id"),
      Some(GraphSql.withGraph(
        """SELECT root AS id, CAST(SUM(6 // d) AS BIGINT) AS harmonic6,
          COUNT(*) AS n_reach
        FROM m GROUP BY 1 ORDER BY 1""",
        extra = CustHop3Ctes,
        recursive = true))),

    // Bounded-hop CLOSENESS centrality from the same customer roots —
    // the classic 1/Σd companion of graph_harmonic (which is Σ 1/d: the
    // two rank DIFFERENTLY whenever reach sets differ, so both belong in
    // the centrality family — harmonic tolerates disconnection, closeness
    // rewards uniformly short reach). Shares custHop3Dists, the one
    // multi-source BSP distance frame, rather than re-deriving its own
    // joins; the closing division is carried in integer PARTS-PER-MILLION
    // (n_reach·10⁶ div Σd — the harmonic6/betweenness micro-unit trick),
    // so the key stays exactly oracle-able with no float in sight. sum_d
    // and n_reach ride along so the normalized score is auditable.
    Op("graph_closeness",
      (s, dir) => custHop3Dists(s, dir)
        .groupBy("root")
        .agg(sum("d").as("sum_d"), count(lit(1)).as("n_reach"))
        .select(col("root").as("id"),
          expr("CAST(n_reach * 1000000 div sum_d AS BIGINT)")
            .as("closeness_ppm"),
          col("sum_d"), col("n_reach"))
        .orderBy("id"),
      Some(GraphSql.withGraph(
        """SELECT root AS id,
          CAST(COUNT(*) * 1000000 // SUM(d) AS BIGINT) AS closeness_ppm,
          CAST(SUM(d) AS BIGINT) AS sum_d, COUNT(*) AS n_reach
        FROM m GROUP BY root ORDER BY root""",
        extra = CustHop3Ctes,
        recursive = true))),

    // k-BOUNDED BETWEENNESS centrality (Brandes 2001 accumulation,
    // TRUNCATED at path length k = BcDepth = 5 — the "bounded-distance
    // betweenness" variant of Brandes 2008 §3.2): from the fixed
    // deterministic root set (the 5 region vertices), only shortest paths
    // of length ≤ k from a root contribute. THE BOUND IS PART OF THE KEY'S
    // CONTRACT, not an implementation detail: the fixture component's true
    // eccentricity from the region roots is 6 (measured at sf0.001 —
    // region→nation→cust/supp→order/part→FOREIGN order via shared part→
    // foreign customer→foreign nation/region), so depth 5 genuinely
    // truncates; vertices and dependency flow beyond depth k are excluded
    // BY DEFINITION of the metric, exactly as a production deployment
    // bounds Brandes sampling by horizon. Per level: BFS frontier with
    // per-level shortest-path counts σ (BIGINT-exact sums), then the
    // backward dependency accumulation δ(v) = Σ_w
    // (σ_v/σ_w)·(1+δ(w)) level by level — carried ENTIRELY IN INTEGER
    // MICRO-UNITS (×1e6, the harmonic6 trick scaled up): each term is
    // σ_v·(1e6+δμ(w)) FLOOR-DIV σ_w, pure BIGINT arithmetic, so the key is
    // integer-exact cross-engine by construction. (A first cut summed the
    // double terms through DECIMAL(38,10); the engines' double→decimal
    // rounding disagreed at the 1e-10 quantum and σ-ratio amplification
    // pushed that to 1e-8 in the totals — floats in an iterated fold are
    // not oracle-able, integers are.) The quantization under-counts each
    // term by < 1e-6 relative — a DETERMINISTIC estimator, the right trade
    // for a graded distributed metric. Spark materializes each level as
    // an EAGER LINEAGE-CUT view (Views.checkpointed — nested multi-
    // referenced view plans otherwise compound into minutes of plan-render
    // CPU), DuckDB keeps them as MATERIALIZED CTEs.
    //
    // HUB-COMPRESSED FRONTIER (r13 — the last named scale-killer): the
    // classic multi-source shape keeps (root, vertex, σ) ROWS, so a
    // degree-D hub sitting in R roots' frontiers is expanded R separate
    // times per level — R·D join rows, the measured 8.2× skew blowup at
    // 10× hub skew (SCALE.md "The BFS lean, settled"). The Spark side now
    // keeps ONE ROW PER FRONTIER VERTEX carrying a fixed-width σ-ARRAY
    // (slot r = σ for root r, 0 = not in that root's frontier) plus a
    // per-vertex visited BITMAP — so the hub's neighborhood is folded
    // ONCE per level (D rows) and every root rides the same expansion:
    // the "hub-first level seeding" mitigation, generalized to all
    // vertices. Per-root masking/σ-summing is a generated R-term
    // projection inside whole-stage codegen; all arithmetic is the same
    // BIGINT recurrence, so the output is integer-IDENTICAL to the
    // row-per-root formulation the DuckDB oracle still runs. Root batch
    // is bounded at 60 (bitmap in one BIGINT); a 100 TB deployment with
    // a larger sampled seed set runs ⌈R/60⌉ independent batches — seed
    // sampling is driver metadata by design. ALGORITHMIC correctness is
    // certified by QualityOpsSpec's independent in-memory textbook-
    // Brandes recomputation at sf0.001, which must match EXACTLY.
    Op("graph_betweenness",
      (s, dir) => {
        val g = GraphFixture(s, dir)
        g.edges.createOrReplaceTempView("g_edges")
        g.vertices.createOrReplaceTempView("g_vertices")
        val und = graft.Views.checkpointed(s, dir, "bc_und", BcUndSql("g_edges"))
        // Seed-set collection is driver-metadata-scale by contract (the
        // sampled root set of the bounded-Brandes estimator).
        val roots = s.sql(
          "SELECT id FROM g_vertices WHERE label = 'region' ORDER BY id")
          .collect().map(_.getLong(0))
        require(roots.nonEmpty, "no region roots")
        // ⌈R/width⌉ independent σ-array batches (width ≤ 60 — the visited
        // bitmap lives in one BIGINT): Brandes δ sums are additive over
        // disjoint root sets, so batch results just re-aggregate by id.
        // The conf knob lets a spec force multi-batch on the 5-root
        // fixture; replica blow-ups past 12× (R > 60) engage it for real
        // — the pre-r13 require(R ≤ 60) made those runs throw.
        val width = math.min(60, math.max(1,
          s.conf.getOption("graft.graph.rootBatchBits")
            .map(_.toInt).getOrElse(60)))
        val parts = roots.grouped(width).toSeq.zipWithIndex.map {
          case (batch, bi) => bcBatch(s, dir, und, batch, s"${width}x$bi")
        }
        s.sql(s"""
          SELECT id, CAST(SUM(dsum) AS BIGINT) AS bc_micro,
            CAST(SUM(nr) AS BIGINT) AS n_roots
          FROM (${parts.mkString(" UNION ALL ")}) t
          GROUP BY id ORDER BY id""")
      },
      Some {
        val ctes = new scala.collection.mutable.ArrayBuffer[String]
        ctes += s"und AS MATERIALIZED (${BcUndSql("edges")})"
        ctes += s"f0 AS MATERIALIZED (${BcRootsSql("vertices")})"
        for (l <- 1 to BcDepth)
          ctes += s"f$l AS MATERIALIZED (${bcFwdBody(s"f${l - 1}", (0 until l)
            .map(i => s"SELECT root, id FROM f$i").mkString(" UNION ALL "), "und")})"
        ctes += s"b$BcDepth AS (SELECT root, id, sigma, CAST(0 AS BIGINT) AS delta FROM f$BcDepth)"
        for (l <- BcDepth - 1 to 1 by -1)
          ctes += s"b$l AS MATERIALIZED (${bcBwdBody(s"f$l", s"b${l + 1}", "und", "//")})"
        GraphSql.withGraph(
          bcFinal((1 to BcDepth).map(l => s"SELECT id, delta FROM b$l")
            .mkString(" UNION ALL ")),
          extra = ctes.mkString(", "))
      })
  )

  /** One ≤60-root σ-array betweenness batch (see graph_betweenness's Op
    * comment): builds the checkpointed forward/backward level chains for
    * `batch`'s roots under `tag`-scoped view names and returns the
    * per-(id) `SELECT id, dsum, nr` over the batch's backward levels —
    * δ contributions are additive over disjoint root sets, so the caller
    * re-aggregates the unioned batches by id. */
  private def bcBatch(s: org.apache.spark.sql.SparkSession, dir: String,
      und: String, batch: Array[Long], tag: String): String = {
    val R = batch.length
    require(R >= 1 && R <= 60, s"root batch must be 1..60 ids, got $R")
    val rr = 0 until R
    def el(c: String, r: Int) = s"element_at($c, ${r + 1})"
    def bits(sigCol: String) = rr.map(r =>
      s"(CASE WHEN ${el(sigCol, r)} > 0 THEN CAST(${1L << r} AS BIGINT)" +
        " ELSE CAST(0 AS BIGINT) END)").mkString(" | ")
    val f0sig = rr.map(r => s"CASE WHEN id = ${batch(r)}L THEN " +
      "CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END").mkString(", ")
    val inList = batch.map(i => s"${i}L").mkString(", ")
    val fs = new Array[String](BcDepth + 1)
    val vs = new Array[String](BcDepth + 1)
    fs(0) = graft.Views.checkpointed(s, dir, s"bch${tag}_f0",
      s"SELECT id, array($f0sig) AS sig FROM g_vertices WHERE id IN ($inList)")
    vs(0) = graft.Views.checkpointed(s, dir, s"bch${tag}_v0",
      s"SELECT id, ${bits("sig")} AS vis FROM ${fs(0)}")
    for (l <- 1 to BcDepth) {
      val sums = rr.map(r =>
        s"CAST(SUM(${el("p.sig", r)}) AS BIGINT) AS s$r").mkString(", ")
      val mask = rr.map(r => s"CASE WHEN (shiftright(COALESCE(v.vis, CAST(0 AS " +
        s"BIGINT)), $r) & 1) = 1 THEN CAST(0 AS BIGINT) ELSE e.s$r END")
        .mkString(", ")
      fs(l) = graft.Views.checkpointed(s, dir, s"bch${tag}_f$l", s"""
        SELECT id, sig FROM (
          SELECT e.id, array($mask) AS sig
          FROM (SELECT u.b AS id, $sums
                FROM ${fs(l - 1)} p JOIN $und u ON u.a = p.id
                GROUP BY u.b) e
          LEFT JOIN ${vs(l - 1)} v ON v.id = e.id) t
        WHERE ${rr.map(r => el("sig", r)).mkString(" + ")} > 0""")
      if (l < BcDepth)
        vs(l) = graft.Views.checkpointed(s, dir, s"bch${tag}_v$l", s"""
          SELECT id, CAST(bit_or(vb) AS BIGINT) AS vis FROM (
            SELECT id, vis AS vb FROM ${vs(l - 1)}
            UNION ALL SELECT id, ${bits("sig")} FROM ${fs(l)}) t
          GROUP BY id""")
    }
    val bs = new Array[String](BcDepth + 1)
    val zeros = rr.map(_ => "CAST(0 AS BIGINT)").mkString(", ")
    bs(BcDepth) = graft.Views.checkpointed(s, dir, s"bch${tag}_b$BcDepth",
      s"SELECT id, sig, array($zeros) AS delta FROM ${fs(BcDepth)}")
    for (l <- BcDepth - 1 to 1 by -1) {
      val terms = rr.map(r => s"CAST(SUM(CASE WHEN ${el("v.sig", r)} > 0" +
        s" AND ${el("w.sig", r)} > 0 THEN (${el("v.sig", r)} * (1000000 +" +
        s" ${el("w.delta", r)})) div ${el("w.sig", r)} ELSE CAST(0 AS" +
        s" BIGINT) END) AS BIGINT) AS d$r").mkString(", ")
      val co = rr.map(r => s"COALESCE(d.d$r, CAST(0 AS BIGINT))")
        .mkString(", ")
      bs(l) = graft.Views.checkpointed(s, dir, s"bch${tag}_b$l", s"""
        SELECT f.id, f.sig, array($co) AS delta
        FROM ${fs(l)} f LEFT JOIN (
          SELECT v.id, $terms
          FROM ${fs(l)} v JOIN $und u ON u.a = v.id
          JOIN ${bs(l + 1)} w ON w.id = u.b
          GROUP BY v.id) d ON d.id = f.id""")
    }
    val dsum = rr.map(r => el("delta", r)).mkString(" + ")
    val nr = rr.map(r => s"CASE WHEN ${el("sig", r)} > 0 THEN 1 ELSE 0 END")
      .mkString(" + ")
    (1 to BcDepth).map(l =>
      s"SELECT id, ($dsum) AS dsum, ($nr) AS nr FROM ${bs(l)}")
      .mkString(" UNION ALL ")
  }

  /** Betweenness helpers. Since r13 the row-per-(root,id) level bodies
    * below serve ONLY the DuckDB oracle — the Spark side runs the
    * hub-compressed σ-array formulation (see the Op comment), which is
    * integer-identical by construction; the ALGORITHM is independently
    * verified by QualityOpsSpec's in-memory recomputation. The contractual
    * path-length bound k: region-root eccentricity on the fixture is 6
    * (sf0.001), so k = 5 truncates — deliberately; see the Op comment. */
  val BcDepth = 5

  /** Simple undirected adjacency (both directions, parallel edges and
    * self-loops dropped — σ counts paths in the simple graph). */
  private def BcUndSql(eRel: String): String = s"""
    SELECT src AS a, dst AS b FROM $eRel WHERE src <> dst
    UNION
    SELECT dst, src FROM $eRel WHERE src <> dst"""

  private def BcRootsSql(vRel: String): String = s"""
    SELECT id AS root, id, CAST(1 AS BIGINT) AS sigma FROM $vRel
    WHERE label = 'region'"""

  /** One BFS level: next frontier = unvisited neighbors; σ(v) = Σ σ(u)
    * over level-(l−1) predecessors u — the shortest-path-count recurrence,
    * BIGINT-exact in both engines. */
  private def bcFwdBody(prev: String, visUnion: String, und: String): String = s"""
    SELECT p.root, u.b AS id, CAST(SUM(p.sigma) AS BIGINT) AS sigma
    FROM $prev p JOIN $und u ON u.a = p.id
    WHERE NOT EXISTS (SELECT 1 FROM ($visUnion) x
      WHERE x.root = p.root AND x.id = u.b)
    GROUP BY p.root, u.b"""

  /** One backward accumulation level in integer micro-units: δμ(v) =
    * Σ_{w ∈ level l+1, v~w} ⌊σ_v·(1e6+δμ(w)) / σ_w⌋ — pure BIGINT
    * arithmetic (`idiv` is the engine's integer floor division: Spark
    * `div`, DuckDB `//`), exact cross-engine by construction. Magnitudes:
    * σ ≤ ~1e4 at bench SF, δμ ≤ ~1e10 ⇒ products ≤ ~1e14, far from
    * BIGINT overflow. */
  private def bcBwdBody(fl: String, bnext: String, und: String,
      idiv: String): String = s"""
    SELECT f.root, f.id, f.sigma, COALESCE(d.s, CAST(0 AS BIGINT)) AS delta
    FROM $fl f LEFT JOIN (
      SELECT v.root, v.id,
        CAST(SUM((v.sigma * (1000000 + w.delta)) $idiv w.sigma) AS BIGINT) AS s
      FROM $fl v JOIN $und u ON u.a = v.id
      JOIN $bnext w ON w.root = v.root AND w.id = u.b
      GROUP BY v.root, v.id) d ON d.root = f.root AND d.id = f.id"""

  /** Total betweenness per vertex, micro-units, BIGINT-exact. */
  private def bcFinal(bUnion: String): String = s"""
    SELECT id, CAST(SUM(delta) AS BIGINT) AS bc_micro, COUNT(*) AS n_roots
    FROM ($bUnion) t GROUP BY id ORDER BY id"""

  /** Engine-portable FK audit SQL — one string serves both sides. Every
    * parent key is UNIQUE in its table (primary keys), so LEFT JOIN + null
    * probe counts orphans without duplicating children; a NULL child FK
    * matches nothing and counts as an orphan in both engines identically. */
  /** Drift-audit SQL, ONE text for both engines: integer bucket counts,
    * per-bucket IEEE chi-square terms in fixed parse order (the expected
    * count appears three times — written out verbatim so both engines
    * evaluate the identical expression tree). Buckets with an empty
    * reference cell have no defined expectation → NULL contribution. */
  /** The report TAIL over a bucket-count relation `c(event_type, bucket,
    * n_ref, n_cur)` — shared verbatim by the batch key, its oracle, and
    * the streaming maintain twin's emit (the fold state IS that
    * relation). */
  private def driftReportSql(countsCtes: String): String = s"""
    WITH $countsCtes,
    t AS (SELECT event_type, SUM(n_ref) AS t_ref, SUM(n_cur) AS t_cur
      FROM c GROUP BY 1)
    SELECT c.event_type, c.bucket,
      CAST(n_ref AS BIGINT) AS n_ref, CAST(n_cur AS BIGINT) AS n_cur,
      CASE WHEN n_ref > 0 THEN
        (CAST(n_cur AS DOUBLE) - CAST(n_ref AS DOUBLE)
           * CAST(t_cur AS DOUBLE) / CAST(t_ref AS DOUBLE))
        * (CAST(n_cur AS DOUBLE) - CAST(n_ref AS DOUBLE)
           * CAST(t_cur AS DOUBLE) / CAST(t_ref AS DOUBLE))
        / (CAST(n_ref AS DOUBLE) * CAST(t_cur AS DOUBLE)
           / CAST(t_ref AS DOUBLE))
      ELSE CAST(NULL AS DOUBLE) END AS chi2_contrib
    FROM c JOIN t ON t.event_type = c.event_type
    ORDER BY 1, 2"""

  /** One text, both engines (see dq_kanon's op comment). */
  private val KanonSql = """
    WITH q AS (SELECT c_nationkey, c_mktsegment,
        CAST(FLOOR(c_acctbal / 1000) AS BIGINT) AS bal_band FROM customer),
    g AS (SELECT c_nationkey, c_mktsegment, bal_band, COUNT(*) AS n
      FROM q GROUP BY 1, 2, 3)
    SELECT c_nationkey, c_mktsegment, bal_band, n FROM g WHERE n < 5
    ORDER BY c_nationkey, c_mktsegment, bal_band"""

  private val DqDriftSql = driftReportSql("""
    mm AS (SELECT MIN(value) AS mn, MAX(value) AS mx FROM events),
    b AS (SELECT event_type,
        LEAST(9, GREATEST(0, CAST(floor((value - mm.mn) * 10.0
          / (mm.mx - mm.mn)) AS INTEGER))) AS bucket,
        event_id % 2 AS slice
      FROM events, mm),
    c AS (SELECT event_type, bucket,
        SUM(CASE WHEN slice = 0 THEN 1 ELSE 0 END) AS n_ref,
        SUM(CASE WHEN slice = 1 THEN 1 ELSE 0 END) AS n_cur
      FROM b GROUP BY 1, 2)""")

  private val DqReferentialSql = """
    SELECT * FROM (
      SELECT 'lineitem->orders' AS fk, COUNT(*) AS n_child,
        COUNT(CASE WHEN o.o_orderkey IS NULL THEN 1 END) AS n_orphans
      FROM lineitem l LEFT JOIN orders o ON o.o_orderkey = l.l_orderkey
      UNION ALL
      SELECT 'lineitem->part', COUNT(*),
        COUNT(CASE WHEN p.p_partkey IS NULL THEN 1 END)
      FROM lineitem l LEFT JOIN part p ON p.p_partkey = l.l_partkey
      UNION ALL
      SELECT 'lineitem->supplier', COUNT(*),
        COUNT(CASE WHEN s.s_suppkey IS NULL THEN 1 END)
      FROM lineitem l LEFT JOIN supplier s ON s.s_suppkey = l.l_suppkey
      UNION ALL
      SELECT 'orders->customer', COUNT(*),
        COUNT(CASE WHEN c.c_custkey IS NULL THEN 1 END)
      FROM orders o LEFT JOIN customer c ON c.c_custkey = o.o_custkey
      UNION ALL
      SELECT 'customer->nation', COUNT(*),
        COUNT(CASE WHEN n.n_nationkey IS NULL THEN 1 END)
      FROM customer c LEFT JOIN nation n ON n.n_nationkey = c.c_nationkey
      UNION ALL
      SELECT 'nation->region', COUNT(*),
        COUNT(CASE WHEN r.r_regionkey IS NULL THEN 1 END)
      FROM nation n LEFT JOIN region r ON r.r_regionkey = n.n_regionkey
      UNION ALL
      SELECT 'events.user->customer', COUNT(*),
        COUNT(CASE WHEN c.c_custkey IS NULL THEN 1 END)
      FROM events e LEFT JOIN customer c ON c.c_custkey = e.user_id
      UNION ALL
      SELECT 'fault_injected->orders', COUNT(*),
        COUNT(CASE WHEN o.o_orderkey IS NULL THEN 1 END)
      FROM (SELECT l_orderkey FROM lineitem
        UNION ALL SELECT -l_orderkey - 1 FROM lineitem
        WHERE l_orderkey % 100 = 0) f
      LEFT JOIN orders o ON o.o_orderkey = f.l_orderkey
    ) checks ORDER BY fk"""

  /** Engine-portable truncated-EWMA SQL (see ts_ewma). */
  private val EwmaSql = {
    val lags = (1 to 7).map(k =>
      s"LAG(value, $k) OVER w AS v$k").mkString(",\n      ")
    val terms = (1 to 7).map(k =>
      s"COALESCE(v$k, 0) / ${1L << (k + 1)}").mkString(" + ")
    s"""
    WITH l AS (SELECT user_id, event_id, value,
      $lags
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
    SELECT user_id, event_id, value / 2 + $terms AS ewma8
    FROM l ORDER BY user_id, event_id"""
  }

  /** Engine-portable CDC apply SQL (see cdc_apply_deletes). */
  private val CdcApplySql = """
    WITH log AS (SELECT user_id, event_id, ts, value,
      CASE WHEN event_id % 10 = 0 THEN 'D'
           WHEN event_id % 3 = 0 THEN 'I' ELSE 'U' END AS op
      FROM events),
    last AS (SELECT user_id, op, value,
      ROW_NUMBER() OVER (PARTITION BY user_id
        ORDER BY ts DESC, event_id DESC) AS rn
      FROM log)
    SELECT user_id, op AS last_op, value FROM last
    WHERE rn = 1 AND op <> 'D' ORDER BY user_id"""

  /** Returned-items report SQL; `d` renders the engine's correctly-rounded
    * DECIMAL→DOUBLE cast. */
  private def returnedTopSql(d: String => String): String = s"""
    SELECT c_custkey, c_name, n_name,
      ${d("SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(38,10)))")}
        AS revenue
    FROM lineitem JOIN orders ON o_orderkey = l_orderkey
    JOIN customer ON c_custkey = o_custkey
    JOIN nation ON n_nationkey = c_nationkey
    WHERE l_returnflag = 'R'
    GROUP BY 1, 2, 3 ORDER BY revenue DESC, c_custkey LIMIT 20"""

  /** Engine-portable rank-statistic window SQL. */
  private val PercentRankSql = """
    SELECT o_orderkey, o_orderstatus,
      PERCENT_RANK() OVER w AS pr,
      CUME_DIST() OVER w AS cd
    FROM orders
    WINDOW w AS (PARTITION BY o_orderstatus ORDER BY o_totalprice, o_orderkey)
    ORDER BY o_orderstatus, o_orderkey"""

  /** Engine-portable exact heavy-hitters SQL (≥ 1.2× mean, integer-only). */
  private val HeavyHittersSql = """
    WITH c AS (SELECT user_id, COUNT(*) AS n FROM events GROUP BY 1),
    t AS (SELECT COUNT(*) AS total, COUNT(DISTINCT user_id) AS u FROM events)
    SELECT user_id, n FROM c
    WHERE n * (SELECT u FROM t) * 5 >= (SELECT total FROM t) * 6
    ORDER BY n DESC, user_id"""

  /** Chunking SQL; engine-specific pieces injected (see text_chunk). */
  private def chunkSql(toks: String, len: String => String, div: String,
      gen: String => String, slice: (String, String, String) => String,
      join: String => String): String = {
    val nc = s"CASE WHEN n <= 50 THEN 1 ELSE (n - 11) $div 40 + 1 END"
    val start = "(1 + 40 * (i - 1))"
    s"""
    WITH toks AS (SELECT doc_id, $toks AS t FROM documents),
    sized AS (SELECT doc_id, t, ${len("t")} AS n FROM toks),
    g AS (SELECT doc_id, t, n, ${gen(nc)} AS i FROM sized)
    SELECT doc_id, CAST(i AS BIGINT) AS chunk_id,
      ${join(slice("t", start, "50"))} AS chunk,
      CAST(${len(slice("t", start, "50"))} AS BIGINT) AS n_tok
    FROM g ORDER BY doc_id, chunk_id"""
  }

  /** Shared multi-source distance frame for the closeness-family keys
    * (graph_harmonic, graph_closeness): per (customer root, vertex) MIN
    * out-hop distance within ≤3 hops, self excluded. One equi-join per
    * level — frontier size is Σ_root |N≤3(root)|, linear in roots ×
    * bounded fan-out, never all-pairs; at 100 TB the root set is the
    * query's seed sample (here: the full customer class, exactly
    * oracle-able). Both keys fold this frame with different aggregates;
    * sharing the builder keeps their distance semantics identical by
    * construction. */
  private def custHop3Dists(s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame = {
    val g = GraphFixture(s, dir)
    val adj = g.edges.select(col("src"), col("dst"))
    var frontier = g.vertices.filter(col("label") === "customer")
      .select(col("id").as("root"), col("id"), lit(0).as("d"))
    val levels = scala.collection.mutable.ArrayBuffer(frontier)
    for (i <- 1 to 3) {
      frontier = frontier.join(adj, frontier("id") === adj("src"))
        .select(col("root"), col("dst").as("id"), lit(i).as("d"))
      levels += frontier
    }
    levels.reduce(_ unionAll _)
      .groupBy("root", "id").agg(min("d").as("d"))
      .filter(col("d") > 0)
  }

  /** DuckDB twin of [[custHop3Dists]] — `m` is the (root, id, d) frame. */
  private val CustHop3Ctes = """r0 AS (SELECT id AS root, id, 0 AS d
        FROM vertices WHERE label = 'customer'),
      reach(root, id, d) AS (
        SELECT root, id, d FROM r0
        UNION
        SELECT r.root, e.dst, r.d + 1 FROM reach r
        JOIN edges e ON e.src = r.id WHERE r.d < 3),
      m AS (SELECT root, id, MIN(d) AS d FROM reach
        GROUP BY 1, 2 HAVING MIN(d) > 0)"""

  /** k-hop sampling CTEs over (`vRel`, `eRel`); `str` is the engine's
    * string type name for the md5-rank cast. Pairs with [[KhopSampleBody]]
    * under the caller's WITH clause. */
  private def khopSampleCtes(vRel: String, eRel: String, str: String): String = {
    def h(s: String, d: String) =
      s"md5(concat(CAST($s AS $str), '_', CAST($d AS $str)))"
    s"""s1 AS (
      SELECT src AS root, dst AS id FROM (
        SELECT e.src, e.dst,
          ROW_NUMBER() OVER (PARTITION BY e.src
            ORDER BY ${h("e.src", "e.dst")}, e.dst) AS rn
        FROM $eRel e JOIN $vRel v ON v.id = e.src AND v.label = 'customer') x
      WHERE rn <= 2),
    s2 AS (
      SELECT root, id FROM (
        SELECT s1.root, e.dst AS id,
          ROW_NUMBER() OVER (PARTITION BY s1.root, s1.id
            ORDER BY ${h("e.src", "e.dst")}, e.dst) AS rn
        FROM s1 JOIN $eRel e ON e.src = s1.id) x
      WHERE rn <= 2)"""
  }

  private val KhopSampleBody = """
    SELECT root, hop, id FROM (
      SELECT DISTINCT root, 1 AS hop, id FROM s1
      UNION ALL
      SELECT DISTINCT root, 2 AS hop, id FROM s2) u
    ORDER BY root, hop, id"""

  /** Freshness audit; `tm` is the engine-specific epoch-micros extraction. */
  private def freshnessSql(tm: String): String = s"""
    WITH e AS (SELECT event_type, $tm AS tm FROM events),
    g AS (SELECT MAX(tm) AS gmax FROM e)
    SELECT event_type, COUNT(*) AS n, MAX(tm) AS last_tm,
      (SELECT gmax FROM g) - MAX(tm) AS staleness_us
    FROM e GROUP BY 1 ORDER BY 1"""

  /** Market-share SQL; `d` renders the engine's correctly-rounded
    * DECIMAL→DOUBLE cast (EXTRACT(YEAR ...) and the DECIMAL(38,10) sums
    * are shared dialect). */
  private def mktShareSql(d: String => String): String = s"""
    WITH rev AS (
      SELECT CAST(EXTRACT(YEAR FROM o_orderdate) AS BIGINT) AS yr,
        r_name AS region,
        SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(38,10))) AS rev
      FROM lineitem JOIN orders ON o_orderkey = l_orderkey
      JOIN supplier ON s_suppkey = l_suppkey
      JOIN nation ON n_nationkey = s_nationkey
      JOIN region ON r_regionkey = n_regionkey
      GROUP BY 1, 2)
    SELECT yr, region, ${d("rev")} AS revenue,
      ${d("rev")} / ${d("SUM(rev) OVER (PARTITION BY yr)")} AS share
    FROM rev ORDER BY yr, region"""

  /** TPC-H-Q5-shape SQL; `d` renders the engine's correctly-rounded
    * DECIMAL→DOUBLE cast (joins, date range and DECIMAL(38,10) sum are
    * shared dialect). */
  private def localSupplierSql(d: String => String): String = s"""
    WITH rev AS (
      SELECT n_name,
        SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(38,10))) AS rev,
        COUNT(*) AS n_lineitems
      FROM lineitem JOIN orders ON o_orderkey = l_orderkey
      JOIN customer ON c_custkey = o_custkey
      JOIN supplier ON s_suppkey = l_suppkey AND s_nationkey = c_nationkey
      JOIN nation ON n_nationkey = s_nationkey
      JOIN region ON r_regionkey = n_regionkey
      WHERE r_name = 'ASIA'
        AND o_orderdate >= TIMESTAMP '1997-01-01'
        AND o_orderdate < TIMESTAMP '1998-01-01'
      GROUP BY 1)
    SELECT n_name, ${d("rev")} AS revenue, n_lineitems
    FROM rev ORDER BY n_name"""

  /** TPC-H Q7-shape nation-pair volume; `d` renders the engine's
    * correctly-rounded DECIMAL→DOUBLE cast (VARCHAR hop on DuckDB —
    * num.DSUM scaladoc). */
  private def nationVolumeSql(d: String => String): String = s"""
    WITH rev AS (
      SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
        CAST(EXTRACT(YEAR FROM o_orderdate) AS INTEGER) AS l_year,
        SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(38,10))) AS rev,
        COUNT(*) AS n_items
      FROM lineitem JOIN orders ON o_orderkey = l_orderkey
      JOIN customer ON c_custkey = o_custkey
      JOIN supplier ON s_suppkey = l_suppkey
      JOIN nation n1 ON n1.n_nationkey = s_nationkey
      JOIN nation n2 ON n2.n_nationkey = c_nationkey
      WHERE n1.n_nationkey <> n2.n_nationkey
      GROUP BY 1, 2, 3)
    SELECT supp_nation, cust_nation, l_year, ${d("rev")} AS revenue, n_items
    FROM rev ORDER BY supp_nation, cust_nation, l_year"""

  /** Lag-k autocorrelation SQL; `d` renders the engine's correctly-rounded
    * DECIMAL→DOUBLE cast, `tm` its epoch-micros extraction. */
  private def autocorrSql(d: String => String, tm: String): String = s"""
    WITH e AS (SELECT event_type, $tm AS tm, event_id, value FROM events),
    l AS (SELECT event_type, value,
      LAG(value, 1) OVER w AS v1, LAG(value, 2) OVER w AS v2
      FROM e WINDOW w AS (PARTITION BY event_type ORDER BY tm, event_id)),
    a AS (SELECT event_type, COUNT(*) AS n,
      ${d("SUM(CAST(value * value AS DECIMAL(38,10)))")} AS sxx,
      ${d("SUM(CAST(value * v1 AS DECIMAL(38,10)))")} AS sx1,
      ${d("SUM(CAST(value * v2 AS DECIMAL(38,10)))")} AS sx2
      FROM l GROUP BY 1)
    SELECT event_type, n, sx1 / sxx AS r1, sx2 / sxx AS r2
    FROM a ORDER BY event_type"""

  /** SCD2 build over events (user_id % 10 = 0 slice); `tm` is the
    * engine-specific epoch-micros extraction — everything after it is
    * shared verbatim. */
  private def scd2Sql(tm: String): String = s"""
    WITH e AS (SELECT user_id, event_type, $tm AS tm, event_id
      FROM events WHERE user_id % 10 = 0),
    l AS (SELECT user_id, event_type, tm, event_id,
      LAG(event_type) OVER w AS prev_type
      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY tm, event_id)),
    b AS (SELECT user_id, event_type, tm, event_id,
      CASE WHEN prev_type IS NULL OR prev_type <> event_type
        THEN 1 ELSE 0 END AS chg
      FROM l),
    v AS (SELECT user_id, event_type, tm,
      SUM(chg) OVER (PARTITION BY user_id ORDER BY tm, event_id
        ROWS UNBOUNDED PRECEDING) AS version
      FROM b),
    runs AS (SELECT user_id, CAST(version AS BIGINT) AS version,
      MIN(event_type) AS event_type, MIN(tm) AS valid_from,
      COUNT(*) AS n_events
      FROM v GROUP BY user_id, version)
    SELECT user_id, version, event_type, valid_from,
      COALESCE(LEAD(valid_from) OVER (PARTITION BY user_id ORDER BY version),
        -1) AS valid_to,
      CASE WHEN LEAD(valid_from) OVER (PARTITION BY user_id ORDER BY version)
        IS NULL THEN 1 ELSE 0 END AS is_current,
      n_events
    FROM runs ORDER BY user_id, version"""
}
