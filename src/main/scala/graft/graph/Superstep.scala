package graft.graph

import graft.util.cut
import org.apache.spark.sql.{Column, DataFrame, GraftBridge, Observation, Row}
import org.apache.spark.sql.functions.{broadcast, count, lit}
import org.apache.spark.sql.types.StructType
import scala.concurrent.Await
import scala.concurrent.duration.Duration

/** The four decisions every data-dependent graph loop makes, made once.
  *
  * A superstep here is a relational plan over the live set (Pregelix's
  * shape): a loop of such plans, where each round needs (1) the live set
  * materialized with the scalar that decides the next round, (2) a join
  * strategy for the frames it just measured, (3) a policy at the round
  * cap, and (4) a way to finish a small remainder in one task.
  *
  *  - [[round]]: an eager [[graft.util.cut]] whose `observe()` reads the
  *    round's statistics inside the materialization job itself — one job
  *    per measured frame, never a cut plus a separate `count()`. The cut
  *    carries its measured stored size (and [[counted]]'s row count), so
  *    Catalyst and AQE choose broadcast or shuffle for joins against it
  *    with no hint.
  *  - [[small]]: the broadcast bound for a LAZY frame whose row bound
  *    another round measured (a lazy cut has no stats of its own).
  *  - [[cap]]: a loop that outruns its round budget fails loudly with
  *    context instead of returning a partial result.
  *  - [[inOneTask]]: the executor-local tail — one coalesced partition,
  *    never a collect. */
object Superstep {

  /** Measured row bound at or under which [[small]] broadcasts a frame. */
  private val broadcastRows = 4000000L

  /** Materialize `df` (eager, measured cut) and read `stats` — aggregate
    * columns with names, e.g. `count(lit(1)).as("n")` — in the same job.
    * Returns the cut frame and the observed row (`stats` in order; an
    * aggregate over zero rows reads as SQL does: count 0, max/sum null).
    *
    * Eager on purpose: the observation completes when the action that
    * materializes the frame completes, and only the eager cut runs that
    * action before returning. */
  def round(df: DataFrame, stats: Column*): (DataFrame, Row) =
    measure(df, stats, rows = false)

  /** [[round]] reading the row count alone; the cut's stats carry it. */
  def counted(df: DataFrame): (DataFrame, Long) = {
    val (out, row) = measure(df, Seq(count(lit(1)).as("n")), rows = true)
    (out, row.getLong(0))
  }

  private def measure(df: DataFrame, stats: Seq[Column], rows: Boolean) = {
    val obs = Observation()
    lazy val row = Await.result(obs.future, Duration.Inf)
    (GraftBridge.cut(df.observe(obs, stats.head, stats.tail: _*), eager = true,
      Option.when(rows)(row.getLong(0))), row)
  }

  /** `df` with a broadcast hint when `rows`, a row bound another round
    * measured, fits the bound; past it, `df` unchanged (the shuffle join is
    * the right plan there). Only for LAZY frames: an eager cut carries its
    * measured size, and the planner decides for it. */
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
