package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.types.StructType

/** The micro-batch fold driver shared by the streaming maintain keys (the
  * incremental-maintenance twins: state folded one micro-batch at a time
  * must land exactly on the batch key's answer).
  *
  * A maintain key is a staging query, its state, a per-batch fold body and
  * a report tail; this object owns everything else. [[stage]] writes the
  * source once as a 3-file, range-partitioned parquet directory (the
  * `_SUCCESS` marker guards re-runs); [[fold]] streams that directory back
  * one file per trigger, so the body sees 3 real micro-batches, on a fresh
  * checkpoint, drains it, and stops the query on every exit path. */
object Maintain {
  private val counters =
    scala.collection.concurrent.TrieMap.empty[String, java.util.concurrent.atomic.AtomicLong]

  /** Micro-batches `key` has handed to its fold body in this JVM, counted
    * before the body runs (test observability: a single-batch run would
    * trivially equal the batch pipeline). */
  def batches(key: String): Long = counters.get(key).fold(0L)(_.get)

  /** Stage `src` once for (`key`, `dir`), range-partitioned on `by` into 3
    * files; returns the directory. */
  def stage(key: String, dir: String, by: Column*)(src: => DataFrame): String = {
    val out = graft.Staging.dir(s"$key-src-${graft.Staging.tag(dir)}")
    if (!new java.io.File(s"$out/_SUCCESS").exists())
      src.repartitionByRange(3, by: _*).write.mode("overwrite").parquet(out)
    out
  }

  /** Fold every parquet file under `in` (schema `ddl`) into the caller's
    * state through `body`, one file per micro-batch, and block until the
    * stream is drained. A body that throws fails the call with Spark's
    * StreamingQueryException (the body's error is in its cause chain). */
  def fold(s: SparkSession, key: String, in: String, ddl: String)(
      body: DataFrame => Unit): Unit = {
    val n = counters.getOrElseUpdate(key, new java.util.concurrent.atomic.AtomicLong(0))
    val q = s.readStream.schema(StructType.fromDDL(ddl))
      .option("maxFilesPerTrigger", 1).parquet(in)
      .writeStream
      .option("checkpointLocation", graft.Staging.fresh(s"$key-chk"))
      .foreachBatch { (batch: Dataset[Row], _: Long) =>
        n.incrementAndGet()
        body(batch)
      }
      .start()
    try q.processAllAvailable() finally q.stop()
  }
}
