package graft.graph

import graft.util.cut
import org.apache.spark.sql.{Column, DataFrame, Observation, Row}
import org.apache.spark.sql.functions.{broadcast, count, lit}
import org.apache.spark.sql.types.StructType

/** The four decisions every data-dependent graph loop makes, made once.
  *
  * A superstep here is a relational plan over the live set (Pregelix's
  * shape): a loop of such plans, where each round needs (1) the live set
  * materialized with the scalar that decides the next round, (2) a join
  * strategy for frames whose size the round just measured, (3) a policy at
  * the round cap, and (4) a way to finish a small remainder in one task.
  *
  *  - [[round]]: an eager [[graft.util.cut]] whose `observe()` reads the
  *    round's statistics inside the materialization job itself — one job
  *    per measured frame, never a cut plus a separate `count()`.
  *  - [[small]]: the broadcast bound for a cut frame (cut frames carry no
  *    statistics, so AQE cannot see that they are small; the round's
  *    measured row count can).
  *  - [[cap]]: a loop that outruns its round budget fails loudly with
  *    context instead of returning a partial result.
  *  - [[inOneTask]]: the executor-local tail — one coalesced partition,
  *    never a collect. */
object Superstep {

  /** Rows at or under which a measured frame is broadcast. */
  private val broadcastRows = 4000000L

  /** Materialize `df` (eager, stats-less cut) and read `stats` — aggregate
    * columns with names, e.g. `count(lit(1)).as("n")` — in the same job.
    * Returns the cut frame and the observed row (`stats` in order; an
    * aggregate over zero rows reads as SQL does: count 0, max/sum null).
    *
    * Eager on purpose: the observation completes when the action that
    * materializes the frame completes, and only the eager cut runs that
    * action before returning. */
  def round(df: DataFrame, stats: Column*): (DataFrame, Row) = {
    val obs = Observation()
    val out = cut(df.observe(obs, stats.head, stats.tail: _*), eager = true)
    (out, scala.concurrent.Await.result(obs.future,
      scala.concurrent.duration.Duration.Inf))
  }

  /** [[round]] reading the row count alone. */
  def counted(df: DataFrame): (DataFrame, Long) = {
    val (out, row) = round(df, count(lit(1)).as("n"))
    (out, row.getLong(0))
  }

  /** `df` with a broadcast hint when its measured `rows` fit the bound;
    * past it, `df` unchanged (the shuffle join is the right plan there). */
  def small(df: DataFrame, rows: Long): DataFrame =
    if (rows <= broadcastRows) broadcast(df) else df

  /** Fail loop `what` when `round` exceeds `max`, naming the round and the
    * `live` rows still left. Same exception type as `require`. */
  def cap(what: String, round: Int, max: Int, live: Long): Unit =
    if (round > max) throw new IllegalArgumentException(
      s"$what: round cap $max exceeded at round $round with $live live " +
        "rows; the input needs more rounds than the cap allows")

  /** Run `f` over all of `df` in ONE task and rebuild a frame of schema
    * `ddl` from its rows. With `order`, the rows arrive globally sorted:
    * sort DISTRIBUTEDLY (range sort), CUT, then coalesce. The cut between
    * sort and coalesce is load-bearing twice over: (a)
    * `orderBy(...).coalesce(1)` collapses the whole sort into ONE
    * partition (measured 33–80 s at the 10× probe vs ~3 s distributed);
    * (b) localCheckpoint freezes partition order, and coalesce(1) without
    * shuffle concatenates the range-sorted partitions in index order. */
  def inOneTask(df: DataFrame, ddl: String, order: Column*)(
      f: Iterator[Row] => Iterator[Row]): DataFrame = {
    val in = if (order.isEmpty) df else cut(df.orderBy(order: _*))
    df.sparkSession.createDataFrame(in.coalesce(1).rdd.mapPartitions(f),
      StructType.fromDDL(ddl))
  }
}
