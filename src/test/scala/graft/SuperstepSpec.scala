package graft

import org.apache.spark.sql.catalyst.plans.logical.ResolvedHint
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** graph.Superstep's loop decisions: a measured round is one job and
  * reads what separate actions would, the loops' lazy frames join by their
  * row bounds at the session threshold with no hint, a fixed-count
  * propagation plans its state joins from its row bound, and the round cap
  * fails loudly with context. */
class SuperstepSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import graph.Superstep

  test("round: observed stats equal separate count()/max, in exactly one job") {
    val df = spark.range(0, 1000, 1, 4).filter(col("id") % 3 =!= 0)
      .select(col("id").as("v"))
    val wantN = df.count()
    val wantMax = df.agg(max("v")).head.getLong(0)

    val group = "superstep-round-spec"
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val sc = spark.sparkContext
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (Option(j.properties).exists(
            _.getProperty("spark.jobGroup.id") == group)) jobs.incrementAndGet()
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "Superstep.round")
      val (cutDf, row) = try Superstep.round(df,
          count(lit(1)).as("n"), max(col("v")).as("mx"))
        finally sc.clearJobGroup()
      assert(row.getLong(0) == wantN)
      assert(row.getLong(1) == wantMax)
      assert(cutDf.count() == wantN)
      // listener events are async: wait until the bus has delivered them
      org.apache.spark.sql.GraftBridge.drain(spark)
      assert(jobs.get() == 1, s"round ran ${jobs.get()} jobs")
    } finally sc.removeSparkListener(listener)

    // an empty frame: count 0, max null
    val (_, empty) = Superstep.round(df.filter(lit(false)),
      count(lit(1)).as("n"), max(col("v")).as("mx"))
    assert(empty.getLong(0) == 0L && empty.isNullAt(1))
  }

  test("no hint on the bounded loop frames: with no broadcast by size every join shuffles, same rows") {
    // the loops' lazy frames carry row bounds, not hints: with the session
    // threshold at -1 nothing may broadcast (a BroadcastHashJoin left
    // would be a hint), and every key still returns what it returns at the
    // default threshold
    val keys = Seq("graph_topo_layers", "graph_mst", "graph_matching",
      "graph_traversal_until")
    def rows(k: String) = SparkEntry.queries(k)(spark, TestSpark.sf).collect().toSeq
    val want = keys.map(k => k -> rows(k)).toMap
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val old = spark.conf.get(key)
    spark.conf.set(key, "-1")
    try keys.foreach { k =>
      var got = Seq.empty[org.apache.spark.sql.Row]
      val ops = CutStatsSpec.executions(spark) { got = rows(k) }
        .flatMap { case (_, qe) => Probe.opsOf(qe.executedPlan) }
      assert(got == want(k), k)
      assert(ops.contains("smj") && !ops.contains("bhj"), s"$k: $ops")
    } finally spark.conf.set(key, old)
  }

  test("propagate: the state join broadcasts from the cut's row bound with no hint, and shuffles past the threshold") {
    val n = 20000L
    val state = spark.range(0, n, 1, 4).select(col("id"), col("id").as("x"))
    // the edge side: a lazy cut with no bound, never broadcast by size
    val edges = util.cut(spark.range(0, 4 * n, 1, 4)
      .select((col("id") % n).as("src"), (col("id") * 7 % n).as("dst")),
      eager = false)
    def run() = CutStatsSpec.executions(spark) {
      Superstep.propagate(state, edges, n, 2, Seq("x"), unreached = Some(identity)) {
        _.groupBy(col("dst").as("id")).agg(min("x").as("x"))
      }.collect()
    }
    def hints(qe: org.apache.spark.sql.execution.QueryExecution) =
      qe.analyzed.collect { case h: ResolvedHint => h }
    val small = run()
    assert(small.forall { case (_, qe) => hints(qe).isEmpty })
    val ops = small.flatMap { case (_, qe) => Probe.opsOf(qe.executedPlan) }
    assert(ops.count(_ == "bhj") >= 4 && !ops.contains("smj"), ops)

    // the bound reads as n × 24 bytes ((id, x) rows); 1 KB is far below it,
    // and below any shuffled side AQE could still convert at run time
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val old = spark.conf.get(key)
    spark.conf.set(key, "1024")
    try {
      val ops = run().flatMap { case (_, qe) => Probe.opsOf(qe.executedPlan) }
      assert(ops.contains("smj") && !ops.contains("bhj"), ops)
    } finally spark.conf.set(key, old)
  }

  test("cap: throws IllegalArgumentException naming the loop, round and live rows") {
    Superstep.cap("Spec.loop", 32, 32, 7L) // at the cap: no throw
    val e = intercept[IllegalArgumentException](
      Superstep.cap("Spec.loop", 33, 32, 12345L))
    assert(e.getMessage.contains("Spec.loop"))
    assert(e.getMessage.contains("33"))
    assert(e.getMessage.contains("12345"))
  }
}
