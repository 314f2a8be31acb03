package graft.streaming

import graft.{Op, OpModule, Tables, num}
import org.apache.spark.sql.functions._

/** Streaming operator family over `events` (SURVEY.md §2.8).
  *
  * Structured Streaming's windowed operators are incremental versions of the
  * SAME logical plans as their batch forms — so each key here registers the
  * batch-window variant (DuckDB-oracle-able), and the true `readStream`
  * micro-batch execution of the identical plan is exercised in
  * StreamingSpec via the memory sink + processAllAvailable
  * (spark_guide §Structured Streaming).
  *
  * Watermark/late-data semantics (drop state older than watermark) only
  * exist under a streaming execution; they're covered by the spec, not the
  * oracle.
  *
  * Scale notes: all keys group by (time bucket × low-cardinality key) —
  * state per window is bounded; watermarks bound total state. The
  * stateful-typed op uses a secondary sort (repartition by user +
  * sortWithinPartitions + constant-memory partition scan) so a hot user
  * spills in the external sort instead of buffering on a task heap. */
object StreamOps extends OpModule {

  def ops: Seq[Op] = Seq(

    // True streaming source inside the harness (§2.1 source_stream_events):
    // stage the events parquet as a file-source directory, run the
    // micro-batch engine to completion on a memory sink, return the sink
    // table. Oracle-checkable because the drained stream ≡ the batch query.
    Op("source_stream_events",
      (s, dir) => {
        val stage = graft.Staging.dir(s"events-src-${graft.Staging.tag(dir)}")
        val dst = java.nio.file.Paths.get(s"$stage/events.parquet")
        if (!java.nio.file.Files.exists(dst))
          try java.nio.file.Files.copy(
            java.nio.file.Paths.get(s"$dir/events.parquet"), dst)
          catch { // concurrent invocation staged it first — identical bytes
            case _: java.nio.file.FileAlreadyExistsException => ()
          }
        val name = "src_stream_events_sink"
        val q = Streams.tumblingCounts(Streams.readEvents(s, stage))
          .writeStream.format("memory").queryName(name)
          .outputMode("complete").start()
        q.processAllAvailable()
        q.stop()
        s.table(name).orderBy("wstart", "event_type")
      },
      Some("""SELECT time_bucket(INTERVAL '5 minutes', ts) AS wstart,
        event_type, COUNT(*) AS n FROM events GROUP BY 1, 2 ORDER BY 1, 2""")),

    // Tumbling 5-minute windows per event_type.
    Op("stream_tumbling",
      (s, dir) => Tables(s, dir, "events")
        .groupBy(window(col("ts"), "5 minutes").as("w"), col("event_type"))
        .agg(count(lit(1)).as("n"), num.dsum(col("value")).as("sum_value"))
        .select(col("w.start").as("wstart"), col("event_type"), col("n"),
          col("sum_value"))
        .orderBy("wstart", "event_type"),
      Some(s"""SELECT time_bucket(INTERVAL '5 minutes', ts) AS wstart,
        event_type, COUNT(*) AS n, ${num.DSUM("value")} AS sum_value
        FROM events GROUP BY 1, 2 ORDER BY 1, 2""")),

    // Sliding 10-minute windows every 2 minutes.
    Op("stream_sliding",
      (s, dir) => Tables(s, dir, "events")
        .groupBy(window(col("ts"), "10 minutes", "2 minutes").as("w"))
        .agg(count(lit(1)).as("n"))
        .select(col("w.start").as("wstart"), col("n"))
        .orderBy("wstart"),
      Some("""SELECT wstart, COUNT(*) AS n FROM (
        SELECT time_bucket(INTERVAL '2 minutes', ts)
          - k * INTERVAL '2 minutes' AS wstart
        FROM events, unnest(generate_series(0, 4)) AS g(k)) t
        GROUP BY 1 ORDER BY 1""")),

    // Gap-based session windows (30 min) per user.
    Op("stream_session",
      (s, dir) => Tables(s, dir, "events")
        .groupBy(session_window(col("ts"), "30 minutes").as("w"), col("user_id"))
        .agg(count(lit(1)).as("n_events"), num.dsum(col("value")).as("sum_value"))
        .select(col("user_id"), col("w.start").as("wstart"),
          col("w.end").as("wend"), col("n_events"), col("sum_value"))
        .orderBy("user_id", "wstart"),
      Some(s"""WITH marked AS (SELECT user_id, ts, value,
          CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts)
            > INTERVAL '30 minutes' OR LAG(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
            THEN 1 ELSE 0 END AS new_session
        FROM events),
        sess AS (SELECT user_id, ts, value,
          SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
            ROWS UNBOUNDED PRECEDING) AS sid
        FROM marked)
        SELECT user_id, MIN(ts) AS wstart,
          MAX(ts) + INTERVAL '30 minutes' AS wend,
          COUNT(*) AS n_events, ${num.DSUM("value")} AS sum_value
        FROM sess GROUP BY user_id, sid ORDER BY user_id, wstart""")),

    // Dedup: first event per (user, type, 5-min bucket) — the batch form of
    // dropDuplicatesWithinWatermark keyed on a bucketed time.
    Op("stream_dedup",
      (s, dir) => Tables(s, dir, "events")
        .groupBy(window(col("ts"), "5 minutes").as("w"), col("user_id"),
          col("event_type"))
        .agg(min(col("event_id")).as("first_event"), count(lit(1)).as("n_dups"))
        .select(col("w.start").as("wstart"), col("user_id"), col("event_type"),
          col("first_event"), col("n_dups"))
        .orderBy("wstart", "user_id", "event_type"),
      Some("""SELECT time_bucket(INTERVAL '5 minutes', ts) AS wstart, user_id,
        event_type, MIN(event_id) AS first_event, COUNT(*) AS n_dups
        FROM events GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""")),

    // CONTINUOUS GRAPH INGEST: the streaming path a live property graph is
    // actually fed by — events arrive as a stream and append 'did' edges
    // (user→event, same id-tagging as GraphFixture) through the
    // exactly-once parquet file sink; the drained edge table must equal the
    // batch-built edge set. At scale this is the standing micro-batch
    // ingest job; checkpointing makes restarts idempotent (asserted in
    // StreamingSpec's file-sink test).
    Op("stream_graph_ingest",
      (s, dir) => {
        val stage = graft.Staging.dir(s"events-src-${graft.Staging.tag(dir)}")
        val src = java.nio.file.Paths.get(s"$dir/events.parquet")
        val dst = java.nio.file.Paths.get(s"$stage/events.parquet")
        if (!java.nio.file.Files.exists(dst))
          try java.nio.file.Files.copy(src, dst)
          catch { case _: java.nio.file.FileAlreadyExistsException => () }
        val out = graft.Staging.fresh("graph-ingest")
        val B = graft.graph.GraphFixture.B
        val q = Streams.readEvents(s, stage)
          .select((lit(7 * B) + col("user_id")).as("src"),
            (lit(8 * B) + col("event_id")).as("dst"),
            lit("did").as("label"), col("value").as("weight"))
          .writeStream.format("parquet")
          .option("path", s"$out/edges")
          .option("checkpointLocation", s"$out/chk")
          .outputMode("append").start()
        q.processAllAvailable()
        q.stop()
        s.read.parquet(s"$out/edges")
          .groupBy("label")
          .agg(count(lit(1)).as("n_edges"),
            countDistinct(col("src")).as("n_users"),
            num.dsum(col("weight")).as("sum_weight"))
          .orderBy("label")
      },
      Some(s"""SELECT 'did' AS label, COUNT(*) AS n_edges,
        COUNT(DISTINCT 7000000000000 + user_id) AS n_users,
        ${num.DSUM("value")} AS sum_weight
        FROM events GROUP BY 1 ORDER BY 1""")),

    // STREAMING ANALYTICS MAINTENANCE: connected components kept current
    // across micro-batches. The 'did' edges arrive as a 3-file stream
    // (maxFilesPerTrigger=1 → 3 real micro-batches); foreachBatch folds
    // each batch into the maintained labeling via the same delta-bounded
    // component merge incrementalCC uses (PropertyGraph.foldBatchCC —
    // min-id labels make folds COMPOSE, so batch-at-a-time ≡ one-shot).
    // The oracle is the full-graph CC chain: the green row certifies that
    // three sequential incremental folds land bit-identical to a full
    // recompute over everything. Per-batch work is delta-sized (batch
    // edges → component pairs → hook+jump merge); the labeling is the only
    // cross-batch state, localCheckpoint'ed each fold so lineage stays
    // constant (at 100 TB: a stored table updated per batch).
    Op("stream_cc_maintain",
      (s, dir) => {
        val g = graft.graph.GraphFixture(s, dir)
        val B = graft.graph.GraphFixture.B
        val key = "stream_cc_maintain"
        val stage = Maintain.stage(key, dir, col("event_id")) {
          Tables(s, dir, "events").select("user_id", "event_id")
        }
        var lbl = g.storedBaseCC(col("label") === "did")
        Maintain.fold(s, key, stage,
            "user_id BIGINT, event_id BIGINT") { batch =>
          lbl = graft.util.cut(g.foldBatchCC(lbl,
            batch.select((lit(7 * B) + col("user_id")).as("src"),
              (lit(8 * B) + col("event_id")).as("dst"))))
        }
        lbl.orderBy("id")
      },
      Some(graft.graph.GraphSql.withGraph(
        "SELECT id, lbl AS component FROM l16 ORDER BY id",
        extra = graft.graph.GraphSql.ccChain(16)))),

    // STREAM-STATIC ENRICHMENT: the other half of streaming joins
    // (stream_stream_join covers stream⋈stream) — a live event stream
    // joined against a static dimension. The static side is
    // dimension-sized, so Spark broadcasts it once and every micro-batch
    // probes the same hash table — no per-batch shuffle, no streaming
    // state. At 100 TB/day of events this is THE enrichment shape: the
    // stream never repartitions; only the final windowless aggregate
    // shuffles its (25-row) group set.
    Op("stream_static_enrich",
      (s, dir) => {
        val stage = graft.Staging.dir(s"events-src-${graft.Staging.tag(dir)}")
        val dst = java.nio.file.Paths.get(s"$stage/events.parquet")
        if (!java.nio.file.Files.exists(dst))
          try java.nio.file.Files.copy(
            java.nio.file.Paths.get(s"$dir/events.parquet"), dst)
          catch { case _: java.nio.file.FileAlreadyExistsException => () }
        val nation = broadcast(Tables(s, dir, "nation"))
        val name = "stream_static_enrich_sink"
        val q = Streams.readEvents(s, stage)
          .join(nation, col("user_id") % 25 === col("n_nationkey"))
          .groupBy("n_name")
          .agg(count(lit(1)).as("n"), num.dsum(col("value")).as("sum_value"))
          .writeStream.format("memory").queryName(name)
          .outputMode("complete").start()
        q.processAllAvailable()
        q.stop()
        s.table(name).orderBy("n_name")
      },
      Some(s"""SELECT n_name, COUNT(*) AS n, ${num.DSUM("value")} AS sum_value
        FROM events JOIN nation ON user_id % 25 = n_nationkey
        GROUP BY 1 ORDER BY 1""")),

    // STREAMING TOP-K MAINTENANCE: the leaderboard kept current across
    // micro-batches. Top-k under a total order is a SEMILATTICE merge
    // (top3(top3(A) ∪ top3(B)) = top3(A ∪ B)), so foreachBatch ranks each
    // batch down to k rows per key, merges with the k-row maintained state,
    // and re-ranks — per-batch work is batch-sized, cross-batch state is
    // k·|keys| rows. The oracle is the full-data top-3: three sequential
    // folds must land exactly on it. Ties break on event_id, so the
    // maintained rows are deterministic. (vs ts_topk_window: that key is
    // per-window batch top-k; this one maintains a global leaderboard.)
    Op("stream_topk_maintain",
      (s, dir) => {
        val key = "stream_topk_maintain"
        val stage = Maintain.stage(key, dir, col("event_id")) {
          Tables(s, dir, "events").select("event_type", "event_id", "value")
        }
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("event_type")
          .orderBy(col("value").desc, col("event_id").desc)
        def top3(df: org.apache.spark.sql.DataFrame) = df
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") <= 3)
        var state = Tables(s, dir, "events")
          .select("event_type", "event_id", "value").limit(0)
        Maintain.fold(s, key, stage,
            "event_type STRING, event_id BIGINT, value DOUBLE") { batch =>
          state = graft.util.cut(
            top3(state.unionAll(top3(batch).drop("rn"))).drop("rn"))
        }
        top3(state).select("event_type", "rn", "event_id", "value")
          .orderBy("event_type", "rn")
      },
      Some("""SELECT event_type, CAST(rn AS INTEGER) AS rn, event_id, value
        FROM (SELECT event_type, event_id, value,
          ROW_NUMBER() OVER (PARTITION BY event_type
            ORDER BY value DESC, event_id DESC) AS rn FROM events) t
        WHERE rn <= 3 ORDER BY event_type, rn""")),

    // Time-series gap-fill: per-user 5-minute grid from first to last
    // active bucket (sequence + explode — distributed, no driver
    // enumeration), empty buckets filled with n=0, cumulative value carried
    // forward by the running window sum. The resample/gap-fill shape every
    // time-series consumer needs before training on regular intervals.
    // Scale: grid generation is per-user-bounded; the window partitions by
    // user — same state bound as sessionization.
    Op("ts_gapfill",
      (s, dir) => {
        val ev = Tables(s, dir, "events").filter(col("user_id") % 50 === 0)
        val b = ev.groupBy(col("user_id"), window(col("ts"), "5 minutes").as("w"))
          .agg(count(lit(1)).as("n_events"), num.dsum(col("value")).as("sum_value"))
          .select(col("user_id"), col("w.start").as("bstart"),
            col("n_events"), col("sum_value"))
        val spans = b.groupBy("user_id")
          .agg(min("bstart").as("mn"), max("bstart").as("mx"))
        val grid = spans.select(col("user_id"),
          explode(expr("sequence(mn, mx, interval 5 minutes)")).as("bstart"))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("user_id").orderBy("bstart")
          .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
        grid.join(b, Seq("user_id", "bstart"), "left")
          .select(col("user_id"), col("bstart"),
            coalesce(col("n_events"), lit(0L)).as("n_events"),
            sum(col("sum_value").cast("decimal(38,10)")).over(w)
              .cast("double").as("cum_value"))
          .orderBy("user_id", "bstart")
      },
      Some(s"""WITH b AS (SELECT user_id,
          time_bucket(INTERVAL '5 minutes', ts) AS bstart,
          COUNT(*) AS n_events, ${num.DSUM("value")} AS sum_value
        FROM events WHERE user_id % 50 = 0 GROUP BY 1, 2),
        spans AS (SELECT user_id, MIN(bstart) AS mn, MAX(bstart) AS mx
          FROM b GROUP BY 1),
        grid AS (SELECT user_id,
          unnest(generate_series(mn, mx, INTERVAL '5 minutes')) AS bstart
          FROM spans)
        SELECT g.user_id, g.bstart, COALESCE(b.n_events, 0) AS n_events,
          ${num.DSUM_OVER("b.sum_value",
            "OVER (PARTITION BY g.user_id ORDER BY g.bstart ROWS UNBOUNDED PRECEDING)")} AS cum_value
        FROM grid g LEFT JOIN b ON b.user_id = g.user_id AND b.bstart = g.bstart
        ORDER BY 1, 2""")),

    // Stream-stream join, batch twin (the true interval-join execution —
    // purchase ⋈ clicks within the prior 30 min per user, watermarked both
    // sides — runs in StreamingSpec): per purchase, how many prior clicks.
    // At scale both forms shuffle once on user_id and the time bound caps
    // join state (streaming: watermark evicts; batch: range predicate
    // prunes inside the sort-merge join).
    Op("stream_stream_join",
      (s, dir) => {
        val ev = Tables(s, dir, "events")
        val purchases = ev.filter(col("event_type") === "purchase")
          .select(col("event_id").as("p_id"), col("user_id"), col("ts").as("p_ts"))
        val clicks = ev.filter(col("event_type") === "click")
          .select(col("user_id"), col("ts").as("c_ts"))
        purchases.join(clicks,
            Seq("user_id"))
          .filter(col("c_ts") <= col("p_ts") &&
            col("c_ts") >= col("p_ts") - expr("INTERVAL 30 MINUTES"))
          .groupBy("p_id", "user_id")
          .agg(count(lit(1)).as("n_prior_clicks"))
          .orderBy("p_id")
      },
      Some("""SELECT p.event_id AS p_id, p.user_id,
        COUNT(*) AS n_prior_clicks
        FROM events p JOIN events c ON c.user_id = p.user_id
          AND c.event_type = 'click'
          AND c.ts <= p.ts AND c.ts >= p.ts - INTERVAL '30 minutes'
        WHERE p.event_type = 'purchase'
        GROUP BY 1, 2 ORDER BY 1""")),

    // LEFT OUTER stream-stream join, batch twin — the semantics delta
    // from stream_stream_join is the NULL-PADDED row: a purchase with no
    // prior click still emits (n_prior_clicks = 0). In the true streaming
    // execution (StreamingSpec "left-outer stream-stream join") that row
    // can only emit once BOTH watermarks pass the purchase's join window
    // — the engine must prove no future click can match before padding —
    // so the spec drives the watermark past end-of-data with a sentinel
    // and asserts the zero-click purchases actually appear. Same
    // one-shuffle-per-side, state-bounded-by-watermark shape as the
    // inner form.
    Op("stream_stream_left_join",
      (s, dir) => {
        val ev = Tables(s, dir, "events")
        val purchases = ev.filter(col("event_type") === "purchase")
          .select(col("event_id").as("p_id"), col("user_id"), col("ts").as("p_ts"))
        val clicks = ev.filter(col("event_type") === "click")
          .select(col("user_id").as("c_user"), col("ts").as("c_ts"))
        purchases.join(clicks,
            col("user_id") === col("c_user") &&
              col("c_ts") <= col("p_ts") &&
              col("c_ts") >= col("p_ts") - expr("INTERVAL 30 MINUTES"),
            "left_outer")
          .groupBy("p_id", "user_id")
          .agg(count(col("c_ts")).as("n_prior_clicks"))
          .orderBy("p_id")
      },
      Some("""SELECT p.event_id AS p_id, p.user_id,
        COUNT(c.ts) AS n_prior_clicks
        FROM events p LEFT JOIN events c ON c.user_id = p.user_id
          AND c.event_type = 'click'
          AND c.ts <= p.ts AND c.ts >= p.ts - INTERVAL '30 minutes'
        WHERE p.event_type = 'purchase'
        GROUP BY 1, 2 ORDER BY 1""")),

    // FULL OUTER stream-stream join, batch twin — completes the join-mode
    // ladder (inner → left → full): BOTH sides pad. A purchase with no
    // prior click emits with n = 0 (the left leg), and a click that no
    // purchase's 30-minute window ever covered emits from the RIGHT side
    // — in the true streaming execution (StreamingSpec "full-outer
    // stream-stream join") each padded row may only emit once BOTH
    // watermarks prove no future match can arrive, which is exactly the
    // dual-watermark eviction contract the spec drives past end-of-data
    // with two-sided sentinels. The graded batch form summarizes the
    // same semantics deterministically: per-purchase matched-click
    // counts (zeros included) plus per-user unmatched-click counts, one
    // unified (side, key_id, user_id, n) schema. One shuffle per side on
    // user_id; the interval predicate bounds join state (streaming:
    // watermark evicts; batch: the range residual prunes in the join).
    Op("stream_stream_full_join",
      (s, dir) => {
        val ev = Tables(s, dir, "events")
        val purchases = ev.filter(col("event_type") === "purchase")
          .select(col("event_id").as("p_id"), col("user_id").as("p_user"),
            col("ts").as("p_ts"))
        val clicks = ev.filter(col("event_type") === "click")
          .select(col("event_id").as("c_id"), col("user_id").as("c_user"),
            col("ts").as("c_ts"))
        // SALTED two-sided join: full outer is the ONE join mode AQE's
        // skew split cannot touch (neither side may be duplicated for
        // padding correctness), so a hub user's pair mass lands in a
        // single hash(user) partition — measured 13.9× under the 3×
        // hub-skew overlay for the unsalted form (inner read 7.5×; AQE
        // left both alone below its 256 MB skew floor, and could not
        // have split this mode at any size). The deterministic fix:
        // clicks salt by hash(event_id) into 8 buckets, purchases
        // replicate across all 8, and the join key becomes (user, salt)
        // — the hot user's pairs spread over 8 partitions. The
        // AGGREGATED contract absorbs the replication exactly: a
        // purchase's 8 rows sum their per-bucket match counts (all-
        // padded ⇒ the group still exists with n = 0), and each padded
        // click appears once, in its own salt bucket.
        val S = 8
        val pSalt = purchases.withColumn("salt",
          explode(expr(s"sequence(0, ${S - 1})")))
        val cSalt = clicks.withColumn("c_salt",
          pmod(hash(col("c_id")), lit(S)))
        val j = pSalt.join(cSalt,
          col("p_user") === col("c_user") &&
            col("salt") === col("c_salt") &&
            col("c_ts") <= col("p_ts") &&
            col("c_ts") >= col("p_ts") - expr("INTERVAL 30 MINUTES"),
          "full_outer")
        // ONE pass over ONE join execution: an earlier cut split j into
        // a purchase branch and a click branch — Spark INLINES the
        // twice-referenced subplan (the Louvain stay-score lesson), so
        // the full outer join ran twice AND the matched-pair stream
        // materialized past the join before either branch aggregated.
        // The conditional-aggregate form streams each joined row
        // straight into a partial aggregate: purchase rows count their
        // non-null click matches, padded click rows count themselves.
        val side = when(col("p_id").isNotNull, lit("purchase"))
          .otherwise(lit("click"))
        j.groupBy(side.as("side"),
            when(col("p_id").isNotNull, col("p_id")).otherwise(col("c_user"))
              .as("key_id"),
            when(col("p_id").isNotNull, col("p_user")).otherwise(col("c_user"))
              .as("user_id"))
          .agg(sum(when(col("p_id").isNotNull,
              when(col("c_id").isNotNull, 1L).otherwise(0L))
            .otherwise(1L)).as("n"))
          .orderBy("side", "key_id")
      },
      Some("""
        WITH p AS (SELECT event_id AS p_id, user_id AS p_user, ts AS p_ts
          FROM events WHERE event_type = 'purchase'),
        c AS (SELECT event_id AS c_id, user_id AS c_user, ts AS c_ts
          FROM events WHERE event_type = 'click'),
        j AS (SELECT p.p_id, p.p_user, c.c_id, c.c_user
          FROM p FULL JOIN c ON c.c_user = p.p_user
            AND c.c_ts <= p.p_ts
            AND c.c_ts >= p.p_ts - INTERVAL '30 minutes')
        SELECT side, key_id, user_id, n FROM (
          SELECT 'purchase' AS side, p_id AS key_id, p_user AS user_id,
            COUNT(c_id) AS n
          FROM j WHERE p_id IS NOT NULL GROUP BY 2, 3
          UNION ALL
          SELECT 'click', c_user, c_user, COUNT(*)
          FROM j WHERE p_id IS NULL GROUP BY 2, 3) u
        ORDER BY side, key_id""")),

    // Typed stateful path: per-user running purchase count over the ordered
    // timeline. Secondary sort — repartition by user, sort WITHIN partitions
    // by (user, ts, id), then a constant-memory scan per partition. Unlike a
    // groupByKey + in-memory sort, one hot user never buffers on the heap:
    // the sort is Spark's spillable external sort, and the scan holds two
    // longs of state. (The incremental flatMapGroupsWithState twin lives in
    // Streams.statefulPurchaseCounts + StreamingSpec.)
    Op("stream_stateful",
      (s, dir) => {
        val spark = s
        import spark.implicits._
        Tables(spark, dir, "events")
          .select(col("event_id"), col("user_id"), col("ts"), col("event_type"))
          .repartition(col("user_id"))
          .sortWithinPartitions(col("user_id"), col("ts"), col("event_id"))
          .as[(Long, Long, java.sql.Timestamp, String)]
          .mapPartitions { it =>
            var cur = Long.MinValue
            var purchases = 0L
            it.map { case (eid, uid, _, typ) =>
              if (uid != cur) { cur = uid; purchases = 0L }
              if (typ == "purchase") purchases += 1
              (eid, uid, purchases)
            }
          }
          .toDF("event_id", "user_id", "purchases_so_far")
          .orderBy("event_id")
      },
      Some("""SELECT event_id, user_id,
        CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
          OVER (PARTITION BY user_id ORDER BY ts, event_id
            ROWS UNBOUNDED PRECEDING) AS BIGINT) AS purchases_so_far
        FROM events ORDER BY event_id"""))
  )
}
