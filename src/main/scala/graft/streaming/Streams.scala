package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types._

/** True Structured Streaming constructors — the incremental executions of the
  * StreamOps plans. Tests drive them with a file source + memory sink and
  * processAllAvailable; production use is readStream from any source with
  * the same transform. */
object Streams {

  /** Events schema as Spark reads it post ns→µs conversion (FIXTURES.md). */
  val eventsSchema: StructType = StructType(Seq(
    StructField("event_id", LongType), StructField("ts", LongType),
    StructField("user_id", LongType), StructField("event_type", StringType),
    StructField("value", DoubleType), StructField("props", StringType)))

  /** State-store provider selection via the `graft.streaming.stateStore`
    * flag ('rocksdb' | 'memory'; default memory = HDFS-backed provider).
    * The default keeps ALL keyed state (sessions, dedup horizon, custom
    * state machines) on executor heaps — fine at fixture scale, the first
    * thing to change at 100 TB where per-executor state outgrows memory:
    * RocksDB spills state to local disk with an in-heap block cache and
    * makes snapshot/restore incremental. Applied at [[readEvents]] so every
    * stream constructed here honors the flag; StreamingSpec asserts the
    * two providers produce identical results on the stateful ops. */
  def configureStateStore(spark: SparkSession): Unit = {
    val provider =
      spark.conf.getOption("graft.streaming.stateStore").getOrElse("memory") match {
        case "rocksdb" =>
          "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
        case _ =>
          "org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider"
      }
    spark.conf.set("spark.sql.streaming.stateStore.providerClass", provider)
  }

  /** Streaming read of an events parquet directory. The declared schema
    * adapts to the file's ts vintage (see [[graft.Tables]]): TIMESTAMP
    * (MICROS) files stream with a timestamp schema directly; TIMESTAMP
    * (NANOS) files stream as long nanos (nanosAsLong) truncated to µs.
    * Self-contained: sets nanosAsLong itself (mirroring Tables.load) so
    * callers outside the harness mains don't need the session builder to
    * have preset it, and memoizes the vintage sniff per (session, dir). */
  def readEvents(spark: SparkSession, dir: String): DataFrame = {
    configureStateStore(spark)
    // stored per (session, dir): one footer-schema read per directory
    // instead of a full batch read on every stream construction
    val tsIsLong = graft.Artifacts.tsVintage(spark, dir) {
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      graft.util.parquet(spark, dir).schema("ts").dataType == LongType
    }
    if (tsIsLong)
      spark.readStream.schema(eventsSchema).parquet(dir)
        .withColumn("ts", expr("timestamp_micros(ts div 1000)"))
    else
      spark.readStream.schema(StructType(eventsSchema.map(f =>
        if (f.name == "ts") f.copy(dataType = TimestampType) else f)))
        .parquet(dir)
  }

  /** Tumbling-window counts with a 10-minute watermark (late rows beyond the
    * watermark are dropped from state — asserted in StreamingSpec). */
  def tumblingCounts(events: DataFrame): DataFrame =
    events.withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "5 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("wstart"), col("event_type"), col("n"))

  /** Sliding-window counts. */
  def slidingCounts(events: DataFrame): DataFrame =
    events.withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "10 minutes", "2 minutes"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("wstart"), col("n"))

  /** Session windows per user (30-minute gap). */
  def sessionCounts(events: DataFrame): DataFrame =
    events.withWatermark("ts", "10 minutes")
      .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("session_window.start").as("wstart"), col("user_id"),
        col("n_events"))

  /** Exactly-once-per-id dedup within the watermark horizon. */
  def dedupEvents(events: DataFrame): DataFrame =
    events.withWatermark("ts", "10 minutes")
      .dropDuplicatesWithinWatermark("event_id")

  final case class Ev(event_id: Long, user_id: Long, ts: java.sql.Timestamp,
    event_type: String)
  final case class PurchaseCount(user_id: Long, event_id: Long, purchases: Long)

  /** Custom state machine: per-user running purchase count emitted on every
    * purchase — flatMapGroupsWithState with event-time timeout, the
    * incremental twin of StreamOps' stream_stateful mapGroups. */
  def statefulPurchaseCounts(spark: SparkSession, events: DataFrame): Dataset[PurchaseCount] = {
    import spark.implicits._
    events.withWatermark("ts", "10 minutes")
      .select(col("event_id"), col("user_id"), col("ts"), col("event_type"))
      .as[Ev]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[Long, PurchaseCount](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (uid: Long, rows: Iterator[Ev], state: GroupState[Long]) =>
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else {
            var n = state.getOption.getOrElse(0L)
            // Within a micro-batch, order by event time then id so replays
            // of the same data produce identical emissions.
            val out = rows.toSeq.sortBy(e => (e.ts.getTime, e.event_id))
              .filter(_.event_type == "purchase")
              .map { e => n += 1; PurchaseCount(uid, e.event_id, n) }
            state.update(n)
            out.iterator
          }
      }
  }
}
