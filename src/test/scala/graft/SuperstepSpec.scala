package graft

import org.apache.spark.sql.catalyst.plans.logical.ResolvedHint
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** graph.Superstep's four loop decisions: a measured round is one job and
  * reads what separate actions would, the broadcast bound sits exactly at
  * 4M rows, and the round cap fails loudly with context. */
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

  test("small: broadcast hint at 4000000 rows, none at 4000001") {
    val df = spark.range(10).toDF("id")
    def hinted(rows: Long): Boolean =
      Superstep.small(df, rows).queryExecution.analyzed.collectFirst {
        case h: ResolvedHint if h.hints.strategy.nonEmpty => h
      }.nonEmpty
    assert(hinted(4000000L))
    assert(!hinted(4000001L))
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
