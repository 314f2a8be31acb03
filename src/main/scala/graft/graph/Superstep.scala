package graft.graph

import graft.util.cut
import org.apache.spark.sql.{Column, DataFrame, Observation, Row}
import org.apache.spark.sql.functions.{col, count, lit}
import org.apache.spark.sql.types.StructType
import scala.concurrent.Await
import scala.concurrent.duration.Duration

/** The decisions every graph loop makes, made once.
  *
  * A superstep here is a relational plan over the live set (Pregelix's
  * shape): a loop of such plans, where each round needs (1) the live set
  * materialized with the scalar that decides the next round, (2) a join
  * strategy for its frames, (3) a policy at the round cap, and (4) a way
  * to finish a small remainder in one task. A loop with a fixed round
  * count needs none of the scalars, only (5) the message-passing round
  * itself.
  *
  *  - [[round]]: an eager [[graft.util.cut]] whose `observe()` reads the
  *    round's statistics inside the materialization job itself — one job
  *    per measured frame, never a cut plus a separate `count()`. The cut
  *    carries its measured stored size (and [[counted]]'s row count).
  *  - the join strategy has one rule: no hint. A measured cut carries its
  *    size, and a LAZY cut carries the tightest row bound the loop already
  *    measured (`graft.util.cut(df, eager = false, Some(rows))`), so
  *    Catalyst and AQE broadcast under the session's
  *    autoBroadcastJoinThreshold and shuffle past it.
  *  - [[cap]]: a loop that outruns its round budget fails loudly with
  *    context instead of returning a partial result.
  *  - [[inOneTask]]: the executor-local tail — one coalesced partition,
  *    never a collect.
  *  - [[propagate]]: a fixed count of message-passing rounds,
  *    `state ⋈ edges → combine by receiver`, with the cut, the state joins
  *    and the carry-over of unreached vertices decided in one place. */
object Superstep {

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
    (cut(df.observe(obs, stats.head, stats.tail: _*), eager = true,
      Option.when(rows)(row.getLong(0))), row)
  }

  /** `iters` fixed-count message-passing rounds from `state`: one row per
    * vertex keyed `id`, never more than `rows` rows (|V|, measured once per
    * graph, for a per-vertex state). A round sends along `edges` (`src` →
    * `dst`) — see [[messages]] — and `combine` folds the messages into the
    * next row of each receiver `id`, with the state's columns. It decides,
    * for every such loop:
    *
    *  - the cut: the state and each round's rows but the last are a LAZY
    *    cut carrying the bound `rows` ([[graft.util.cut]]), so the plan
    *    stays one round deep, and the joins against the state plan from the
    *    bound (broadcast under the session threshold, shuffle past it) with
    *    no hint. The last round is returned uncut: the caller's action runs
    *    it;
    *  - the state joins: sender and receiver are kept to the state, each
    *    by one join on the state that brings the columns the round reads
    *    (`send`, `recv`), or by a semi join where it reads none. With
    *    `closed` (only with `unreached`, which keeps every id of `state` in
    *    it: every `dst` of `edges` is such an id) a receiver that brings no column is
    *    in the state by construction, and a round joins the state once: one
    *    broadcast of it, not two. (Two ends that read different columns
    *    never share one broadcast: Catalyst narrows a shared projection of
    *    the state to the columns each end reads.);
    *  - no join back to the vertex set. With `unreached`, every vertex
    *    stays in the state, so the senders, and with them the vertices no
    *    edge reaches, are the same every round: those are cut once after
    *    round 1, as `unreached` of their current row, and every later state
    *    is the round's receivers plus that fixed carry. Without it a vertex
    *    no edge reaches drops out of the state (a peel). */
  def propagate(state: DataFrame, edges: DataFrame, rows: Long, iters: Int,
      send: Seq[String], recv: Seq[String] = Nil,
      unreached: Option[DataFrame => DataFrame] = None, closed: Boolean = false)(
      combine: DataFrame => DataFrame): DataFrame = {
    def bounded(df: DataFrame) = cut(df, eager = false, Some(rows))
    var (s, carry) = (bounded(state), Option.empty[DataFrame])
    for (i <- 1 to iters) {
      val next = combine(messages(s, edges, send, recv, closed))
      // round 1 is cut when it fixes the carry; else the last round is not
      val got = if (i < iters || (i == 1 && unreached.nonEmpty)) bounded(next) else next
      carry = carry.orElse(unreached.map(f =>
        bounded(f(s.join(got.select("id"), Seq("id"), "left_anti")))))
      s = carry.fold(got)(got.unionByName(_))
    }
    s
  }

  /** One round's messages, not cut: the `edges` (`src`, `dst`) whose sender
    * and receiver are both in `state`, with the sender's `send` columns and
    * the receiver's `recv` columns as `dst_<c>`. An end that brings no
    * column is a semi join, which Catalyst can push below a union; with
    * `closed` (every `dst` is in `state`) a receiver end that brings no
    * column is not joined at all. */
  def messages(state: DataFrame, edges: DataFrame, send: Seq[String],
      recv: Seq[String] = Nil, closed: Boolean = false): DataFrame = {
    def end(m: DataFrame, key: String, cols: Seq[Column]) =
      m.join(state.select(col("id").as(key) +: cols: _*), Seq(key),
        if (cols.isEmpty) "left_semi" else "inner")
    val sent = end(edges.select("src", "dst"), "src", send.map(col))
    if (closed && recv.isEmpty) sent else end(sent, "dst", recv.map(c => col(c).as(s"dst_$c")))
  }

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
