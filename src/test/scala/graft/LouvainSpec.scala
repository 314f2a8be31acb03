package graft

import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, GraftBridge}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite

import graft.graph.Louvain

/** `Louvain.weightedSweeps` on small hand-built weighted graphs, each
  * built so one clause of the pick rule decides a vertex, checked
  * against the in-memory replay ([[LouvainSweeps]]) and against the
  * assignment worked out by hand. */
class LouvainSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  /** Undirected weighted `edges` (a, b, w) and self-loop weights `self`
    * as the sweep loop's inputs: half-edges in both directions, and the
    * strength Σ w + 2·w_self of every vertex in `ids`. */
  private def graph(ids: Seq[Long], edges: Seq[(Long, Long, Long)],
      self: Map[Long, Long] = Map.empty)
      : (Seq[(Long, Long, Long)], Map[Long, Long]) = {
    val half = edges.flatMap { case (a, b, w) => Seq((a, b, w), (b, a, w)) }
    val deg = ids.map { v =>
      v -> (half.filter(_._1 == v).map(_._3).sum + 2 * self.getOrElse(v, 0L))
    }.toMap
    (half, deg)
  }

  private def sweeps(half: Seq[(Long, Long, Long)], deg: Map[Long, Long],
      n: Int): Map[Long, Long] = {
    import spark.implicits._
    val h: DataFrame = half.toDF("i", "j", "w")
    Louvain.weightedSweeps(h, deg.toSeq.toDF("id", "deg"), n).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
  }

  /** Spark and the replay agree after `n` sweeps; returns the assignment. */
  private def checked(half: Seq[(Long, Long, Long)], deg: Map[Long, Long],
      n: Int): Map[Long, Long] = {
    val got = sweeps(half, deg, n)
    assert(got == LouvainSweeps.run(half, deg, n), "diverges from the replay")
    got
  }

  test("a candidate that only ties the stay score does not move the vertex") {
    // 2 and 3 joined by w = 2, one self-loop each: strengths 4 and 4,
    // 2m = 8. Sweep 1 moves odd ids: score(3, {2}) = 8·2 − 4·4 = 0 and
    // the stay score is 8·0 − 4·(4 − 4) = 0. A tie is not a gain, so 3
    // stays, although the tied candidate has the smaller id.
    val (half, deg) = graph(Seq(2L, 3L), Seq((2L, 3L, 2L)), Map(2L -> 1L, 3L -> 1L))
    assert(checked(half, deg, 1) == Map(2L -> 2L, 3L -> 3L))
    assert(checked(half, deg, 4) == Map(2L -> 2L, 3L -> 3L))
  }

  test("two non-own candidates that tie go to the smaller community id") {
    // path 2 - 3 - 4, unit weights: 2m = 4; sweep 1 scores 3's two
    // neighbors 4·1 − 2·1 = 2 each, stay 0 -> 3 joins 2, not 4
    val (half, deg) = graph(Seq(2L, 3L, 4L), Seq((2L, 3L, 1L), (3L, 4L, 1L)))
    assert(checked(half, deg, 1) == Map(2L -> 2L, 3L -> 2L, 4L -> 4L))
    // sweep 2: 4 scores {2, 3} at 4·1 − 1·3 = 1 > 0 and follows
    assert(checked(half, deg, 4) == Map(2L -> 2L, 3L -> 2L, 4L -> 2L))
  }

  test("a vertex whose own community has k = 0 stays when no neighbor gains") {
    // 5: no edge at all, only self-loop strength — its own row is its
    // only candidate, and it must keep a row. 7 - 9 by w = 1 under heavy
    // self-loops: strengths 21 and 21, 2m = 48; score(7, {9}) =
    // 48·1 − 21·21 < 0 = the k = 0 stay score.
    val (half, deg) = graph(Seq(5L, 7L, 9L), Seq((7L, 9L, 1L)),
      Map(5L -> 3L, 7L -> 10L, 9L -> 10L))
    val ident = Map(5L -> 5L, 7L -> 7L, 9L -> 9L)
    assert(checked(half, deg, 1) == ident)
    assert(checked(half, deg, 4) == ident)
  }

  test("weighted half-edges with self-loop strength match the replay") {
    val rnd = new scala.util.Random(7)
    for (_ <- 1 to 3) {
      val ids = (1L to 14L).toSeq
      val edges = for {
        a <- ids; b <- ids if a < b && rnd.nextInt(4) == 0
      } yield (a, b, 1L + rnd.nextInt(4))
      val self = ids.filter(_ => rnd.nextInt(3) == 0)
        .map(_ -> (1L + rnd.nextInt(3))).toMap
      val (half, deg) = graph(ids, edges, self)
      val got = checked(half, deg, 4)
      assert(got.keySet == ids.toSet)
      assert(got.exists { case (v, c) => v != c }, "no vertex moved — vacuous")
    }
  }

  test("no sweep shuffles the half-edge list: three exchanges, no sort-merge join") {
    val execs = new ConcurrentLinkedQueue[(String, QueryExecution)]()
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = {
        execs.add(f -> qe); ()
      }
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    val (half, deg) = graph(Seq(2L, 3L, 4L), Seq((2L, 3L, 1L), (3L, 4L, 1L)))
    spark.listenerManager.register(listener)
    try {
      sweeps(half, deg, 4)
      GraftBridge.drain(spark)
    } finally spark.listenerManager.unregister(listener)
    // each sweep's cut of the (id, comm, deg) loop state
    val cuts = execs.asScala.toSeq.collect {
      case ("localCheckpoint", qe) if qe.analyzed.output.map(_.name) ==
        Seq("id", "comm", "deg") => Probe.opsOf(qe.executedPlan)
    }
    assert(cuts.size == 4, s"${cuts.size} sweep cuts")
    // the candidate, community-degree and pick aggregates; the
    // half-edges reach the candidate aggregate through a broadcast join
    for (ops <- cuts) {
      assert(ops.count(_ == "exchange") == 3, ops)
      assert(!ops.contains("smj"), ops)
      assert(ops.count(_ == "bhj") == 3, ops)
    }
  }
}
