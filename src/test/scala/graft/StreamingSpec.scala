package graft

import graft.streaming.{Maintain, Streams}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** True Structured Streaming executions: file source → memory sink,
  * processAllAvailable, then compare with the batch twin (stream/batch
  * parity is the core guarantee of the incremental plans). */
class StreamingSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  // Stream source dir: events parquet copied under a directory (the file
  // source reads directories, not single files).
  private lazy val srcDir: String = {
    val dir = java.nio.file.Files.createTempDirectory("graft-stream").toString
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"${TestSpark.sf}/events.parquet"),
      java.nio.file.Paths.get(s"$dir/events.parquet"))
    dir
  }

  private def runToMemory(df: org.apache.spark.sql.DataFrame, name: String,
      mode: String = "complete"): org.apache.spark.sql.DataFrame = {
    val q = df.writeStream.format("memory").queryName(name).outputMode(mode).start()
    q.processAllAvailable()
    q.stop()
    spark.table(name)
  }

  test("tumbling window counts: streaming == batch") {
    val got = runToMemory(Streams.tumblingCounts(
      Streams.readEvents(spark, srcDir)), "t_tumbling")
    val want = Tables(spark, TestSpark.sf, "events")
      .groupBy(window(col("ts"), "5 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("wstart"), col("event_type"), col("n"))
    assert(got.count() == want.count())
    assert(got.exceptAll(want).count() == 0)
  }

  test("session windows: streaming produces per-user sessions") {
    val got = runToMemory(Streams.sessionCounts(
      Streams.readEvents(spark, srcDir)), "t_session")
    assert(got.count() > 0)
    val users = Tables(spark, TestSpark.sf, "events")
      .select("user_id").distinct().count()
    assert(got.select("user_id").distinct().count() == users)
  }

  test("dropDuplicatesWithinWatermark keeps each event_id once") {
    val got = runToMemory(Streams.dedupEvents(
      Streams.readEvents(spark, srcDir)), "t_dedup", mode = "append")
    val n = Tables(spark, TestSpark.sf, "events")
      .select("event_id").distinct().count()
    assert(got.count() == n)
  }

  test("stream-stream interval join: purchase ⋈ prior click per user") {
    val ev = Streams.readEvents(spark, srcDir)
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("ts").as("c_ts"))
      .withWatermark("c_ts", "10 minutes")
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("ts").as("p_ts"),
        col("event_id").as("p_id"))
      .withWatermark("p_ts", "10 minutes")
    val joined = purchases.join(clicks,
      expr("""p_user = c_user AND c_ts <= p_ts
        AND c_ts >= p_ts - INTERVAL 30 MINUTES"""))
    val got = runToMemory(joined, "t_ssjoin", mode = "append")
    // batch twin over the same data
    val bev = Tables(spark, TestSpark.sf, "events")
    val want = bev.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("ts").as("p_ts"), col("event_id").as("p_id"))
      .join(bev.filter(col("event_type") === "click")
        .select(col("user_id").as("c_user"), col("ts").as("c_ts")),
        expr("""p_user = c_user AND c_ts <= p_ts
          AND c_ts >= p_ts - INTERVAL 30 MINUTES"""))
    assert(got.count() == want.count())
    assert(got.count() > 0)
  }

  test("left-outer stream-stream join: zero-click purchases emit after the watermark passes") {
    // Own source dir: the watermark must be driven PAST end-of-data for
    // the engine to prove no future click can match and emit the
    // null-padded rows — a far-future sentinel click (user −1, matches
    // nothing) does that.
    val dir = java.nio.file.Files.createTempDirectory("graft-lojoin").toString
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"${TestSpark.sf}/events.parquet"),
      java.nio.file.Paths.get(s"$dir/events.parquet"))
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val maxTs = Tables(spark, TestSpark.sf, "events")
      .agg(max(col("ts"))).collect()(0).getTimestamp(0)
    val sentinel = new java.sql.Timestamp(maxTs.getTime + 6 * 3600 * 1000L)
    val schema = Tables(spark, TestSpark.sf, "events").schema
    // BOTH sides need a sentinel: the global watermark is the MIN of the
    // two sides' watermarks, and a null-padded purchase can only emit
    // once that global mark passes its whole join window — without the
    // purchase sentinel the latest real purchase stays withheld forever.
    spark.createDataFrame(
      java.util.Arrays.asList(
        Row(-1L, sentinel, -1L, "click", 0.0, "{}"),
        Row(-2L, sentinel, -1L, "purchase", 0.0, "{}")),
      schema).write.mode("append").parquet(dir)
    val ev = Streams.readEvents(spark, dir)
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("p_id"), col("user_id").as("p_user"),
        col("ts").as("p_ts"))
      .withWatermark("p_ts", "10 minutes")
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("ts").as("c_ts"))
      .withWatermark("c_ts", "10 minutes")
    val joined = purchases.join(clicks,
      expr("""p_user = c_user AND c_ts <= p_ts
        AND c_ts >= p_ts - INTERVAL 30 MINUTES"""), "left_outer")
    val got = runToMemory(joined, "t_lojoin", mode = "append")
      .filter(col("p_user") >= 0)
    val bev = Tables(spark, TestSpark.sf, "events")
    val want = bev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("p_id"), col("user_id").as("p_user"),
        col("ts").as("p_ts"))
      .join(bev.filter(col("event_type") === "click")
        .select(col("user_id").as("c_user"), col("ts").as("c_ts")),
        expr("""p_user = c_user AND c_ts <= p_ts
          AND c_ts >= p_ts - INTERVAL 30 MINUTES"""), "left_outer")
    assert(got.count() == want.count())
    val zerosGot = got.filter(col("c_ts").isNull).count()
    val zerosWant = want.filter(col("c_ts").isNull).count()
    assert(zerosGot == zerosWant)
    assert(zerosGot > 0, "fixture should have clickless purchases")
  }

  test("full-outer stream-stream join: both sides pad once both watermarks pass") {
    // The left-outer test's discipline, completed: the engine must prove
    // BOTH "no future click can match this purchase" (left padding) and
    // "no future purchase's window can cover this click" (right padding)
    // before emitting — two-sided far-future sentinels drive the dual
    // watermark past end-of-data. Sentinel rows (user −1) match nothing
    // and are excluded from the assertion set.
    val dir = java.nio.file.Files.createTempDirectory("graft-fojoin").toString
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"${TestSpark.sf}/events.parquet"),
      java.nio.file.Paths.get(s"$dir/events.parquet"))
    import org.apache.spark.sql.Row
    val maxTs = Tables(spark, TestSpark.sf, "events")
      .agg(max(col("ts"))).collect()(0).getTimestamp(0)
    val sentinel = new java.sql.Timestamp(maxTs.getTime + 6 * 3600 * 1000L)
    val schema = Tables(spark, TestSpark.sf, "events").schema
    spark.createDataFrame(
      java.util.Arrays.asList(
        Row(-1L, sentinel, -1L, "click", 0.0, "{}"),
        Row(-2L, sentinel, -1L, "purchase", 0.0, "{}")),
      schema).write.mode("append").parquet(dir)
    val ev = Streams.readEvents(spark, dir)
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("p_id"), col("user_id").as("p_user"),
        col("ts").as("p_ts"))
      .withWatermark("p_ts", "10 minutes")
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("ts").as("c_ts"))
      .withWatermark("c_ts", "10 minutes")
    val joined = purchases.join(clicks,
      expr("""p_user = c_user AND c_ts <= p_ts
        AND c_ts >= p_ts - INTERVAL 30 MINUTES"""), "full_outer")
    val got = runToMemory(joined, "t_fojoin", mode = "append")
      .filter(coalesce(col("p_user"), col("c_user")) >= 0)
    val bev = Tables(spark, TestSpark.sf, "events")
    val want = bev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("p_id"), col("user_id").as("p_user"),
        col("ts").as("p_ts"))
      .join(bev.filter(col("event_type") === "click")
        .select(col("user_id").as("c_user"), col("ts").as("c_ts")),
        expr("""p_user = c_user AND c_ts <= p_ts
          AND c_ts >= p_ts - INTERVAL 30 MINUTES"""), "full_outer")
    assert(got.count() == want.count())
    val leftPadGot = got.filter(col("c_ts").isNull).count()
    val rightPadGot = got.filter(col("p_id").isNull).count()
    assert(leftPadGot == want.filter(col("c_ts").isNull).count())
    assert(rightPadGot == want.filter(col("p_id").isNull).count())
    assert(leftPadGot > 0, "fixture should have clickless purchases")
    assert(rightPadGot > 0, "fixture should have purchase-less clicks")
  }

  test("streaming file sink: parquet sink + checkpoint, read-back == batch") {
    val outDir = java.nio.file.Files.createTempDirectory("graft-fsink").toString
    val q = Streams.dedupEvents(Streams.readEvents(spark, srcDir))
      .writeStream.format("parquet")
      .option("path", s"$outDir/data")
      .option("checkpointLocation", s"$outDir/chk")
      .outputMode("append")
      .start()
    q.processAllAvailable()
    q.stop()
    val back = spark.read.parquet(s"$outDir/data")
    val n = Tables(spark, TestSpark.sf, "events")
      .select("event_id").distinct().count()
    assert(back.count() == n)
    // exactly-once: restart over the same source adds nothing new
    val q2 = Streams.dedupEvents(Streams.readEvents(spark, srcDir))
      .writeStream.format("parquet")
      .option("path", s"$outDir/data")
      .option("checkpointLocation", s"$outDir/chk")
      .outputMode("append")
      .start()
    q2.processAllAvailable()
    q2.stop()
    assert(spark.read.parquet(s"$outDir/data").count() == n)
  }

  test("RocksDB state store: stateful ops produce identical results to default") {
    def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.collect().map(_.toString).sorted.toSeq
    def runStateful(tag: String): (Seq[String], Seq[String]) = (
      rows(runToMemory(Streams.sessionCounts(
        Streams.readEvents(spark, srcDir)), s"t_sess_$tag")),
      rows(runToMemory(Streams.statefulPurchaseCounts(spark,
        Streams.readEvents(spark, srcDir)).toDF(), s"t_stat_$tag", mode = "append")))
    val (sessDefault, statDefault) = runStateful("default")
    try {
      spark.conf.set("graft.streaming.stateStore", "rocksdb")
      val (sessRocks, statRocks) = runStateful("rocks")
      // the flag actually selected the RocksDB provider…
      assert(spark.conf.get("spark.sql.streaming.stateStore.providerClass")
        .contains("RocksDB"))
      // …and state semantics are provider-independent
      assert(sessRocks == sessDefault, "session windows differ under RocksDB")
      assert(statRocks == statDefault, "stateful counts differ under RocksDB")
      assert(sessDefault.nonEmpty && statDefault.nonEmpty)
    } finally {
      spark.conf.unset("graft.streaming.stateStore")
      Streams.configureStateStore(spark) // restore the default provider
    }
  }

  test("stream_cc_maintain folds multiple real micro-batches to the full-CC fixpoint") {
    val before = Maintain.batches("stream_cc_maintain")
    val maintained = SparkEntry.queries("stream_cc_maintain")(spark, TestSpark.sf)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    val nBatches = Maintain.batches("stream_cc_maintain") - before
    assert(nBatches >= 2, s"expected multiple micro-batches, saw $nBatches")
    val full = graft.graph.GraphFixture(spark, TestSpark.sf).connectedComponents
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    assert(maintained == full, "streamed incremental labeling ≠ full recompute")
  }

  test("stream_topk_maintain folds micro-batches to the exact full-data top-3") {
    val before = Maintain.batches("stream_topk_maintain")
    val maintained = SparkEntry.queries("stream_topk_maintain")(spark, TestSpark.sf)
      .collect().map(r => (r.getString(0), r.getInt(1), r.getLong(2))).toSeq
    val nBatches = Maintain.batches("stream_topk_maintain") - before
    assert(nBatches >= 2, s"expected multiple micro-batches, saw $nBatches")
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    val full = Tables(spark, TestSpark.sf, "events")
      .withColumn("rn", row_number().over(Window.partitionBy("event_type")
        .orderBy(col("value").desc, col("event_id").desc)))
      .filter(col("rn") <= 3)
      .select("event_type", "rn", "event_id")
      .orderBy("event_type", "rn")
      .collect().map(r => (r.getString(0), r.getInt(1), r.getLong(2))).toSeq
    assert(maintained == full, "maintained leaderboard ≠ full-data top-3")
  }

  test("Maintain.fold: a fold that throws fails the op and leaves no query running") {
    val key = "spec_failing_maintain"
    val op = Op(key, (s, dir) => {
      val stage = Maintain.stage(key, dir, col("event_id")) {
        Tables(s, dir, "events").select("event_id", "value")
      }
      var seen = 0
      Maintain.fold(s, key, stage, "event_id BIGINT, value DOUBLE") { batch =>
        seen += 1
        if (seen == 2) throw new IllegalStateException("fold failed on batch 2")
        batch.count()
      }
      s.range(1).toDF()
    }, None)
    val before = Maintain.batches(key)
    val err = intercept[Exception](op.fn(spark, TestSpark.sf).collect())
    val chain = Iterator.iterate[Throwable](err)(_.getCause)
      .takeWhile(_ != null).toSeq
    assert(chain.exists(_.getMessage == "fold failed on batch 2"),
      s"fold error not in the cause chain: ${chain.map(_.toString)}")
    assert(spark.streams.active.isEmpty, "the failed fold left its query running")
    assert(Maintain.batches(key) - before == 2)
  }

  test("ts_gapfill grid is complete: consecutive 5-min buckets, no holes") {
    val f = SparkEntry.queries("ts_gapfill")(spark, TestSpark.sf)
    // within each user, every step between consecutive grid rows is exactly
    // 300 s — i.e. the resample grid has no gaps and no duplicates
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy("bstart")
    val steps = f.withColumn("prev", lag(col("bstart"), 1).over(w))
      .filter(col("prev").isNotNull)
      .select((col("bstart").cast("long") - col("prev").cast("long")).as("d"))
    assert(steps.filter(col("d") =!= 300L).count() == 0)
    // filled rows exist (the fixture has inactive buckets) and counts agree
    assert(f.filter(col("n_events") === 0).count() > 0)
    assert(f.filter(col("n_events") > 0).count() > 0)
  }

  test("flatMapGroupsWithState purchase counter matches batch twin") {
    val got = runToMemory(Streams.statefulPurchaseCounts(spark,
      Streams.readEvents(spark, srcDir)).toDF(), "t_stateful", mode = "append")
    val batch = SparkEntry.queries("stream_stateful")(spark, TestSpark.sf)
      .filter(col("purchases_so_far") > 0)
    // the streaming variant emits one row per purchase event; its final
    // per-user max equals the batch running count's max
    val gotMax = got.groupBy("user_id").agg(max("purchases").as("m"))
    val wantMax = Tables(spark, TestSpark.sf, "events")
      .filter(col("event_type") === "purchase")
      .groupBy("user_id").agg(count(lit(1)).as("m"))
    assert(gotMax.exceptAll(wantMax).count() == 0)
    assert(batch.count() > 0)
  }
}
