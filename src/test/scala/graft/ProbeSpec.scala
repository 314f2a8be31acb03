package graft

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** graft.Probe's per-key measurement: stable listener counts, the key's
  * real row count, every query execution of the collect pass (loop
  * checkpoints, streaming micro-batch frames and the result's own plan),
  * and no listener left behind. */
class ProbeSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val sf = TestSpark.sf

  /** Probe's listeners still registered with the session. Spark's listener
    * lists are package-private in Scala and public in bytecode. */
  private def probeListeners: Seq[String] = {
    val sc = spark.sparkContext
    val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
    val sched = bus.getClass.getMethod("listeners").invoke(bus)
      .asInstanceOf[java.util.List[AnyRef]].asScala.toSeq
    val lm = spark.listenerManager
    val qe = lm.getClass.getMethod("listListeners").invoke(lm)
      .asInstanceOf[Array[AnyRef]].toSeq
    (sched ++ qe).map(_.getClass.getName).filter(_.startsWith("graft.Probe"))
  }

  test("graph_hits: run2 counts repeat, rows match, each half-round checkpoint and the result's plan are captured") {
    val a = Probe.measure(spark, "graph_hits", sf)
    val b = Probe.measure(spark, "graph_hits", sf)
    def counts(r: Probe.Run) = (r.jobs, r.stages, r.tasks)
    assert(counts(a.run2) == counts(b.run2))
    assert(a.run2.jobs > 0)
    val frame = SparkEntry.queries("graph_hits")(spark, sf)
    assert(a.rows == frame.count())
    // HITS runs >= 6 half-rounds through Superstep.round (an eager cut)
    val checkpoints = a.plans.count(_.action == "localCheckpoint")
    assert(checkpoints >= 6, s"$checkpoints checkpoint executions")
    // the last execution is the key's own result, collected, not count()'s
    // pruned aggregate
    assert(a.plans.last.action == "collect")
    assert(a.plans.last.columns == frame.columns.toSeq)
    assert(a.plans.forall(_.plan.contains("Physical Plan")))
    assert(probeListeners.isEmpty, probeListeners)
  }

  test("stream_minhash_maintain: every micro-batch's verify cut is captured") {
    val key = "stream_minhash_maintain"
    val before = streaming.Maintain.batches(key)
    val rows = SparkEntry.queries(key)(spark, sf).count()
    val perRun = streaming.Maintain.batches(key) - before
    assert(perRun >= 2, s"one run folded $perRun batches")
    val r = Probe.measure(spark, key, sf)
    // the verified delta each batch cuts (the frame the old per-batch
    // plan dump tagged mhm_verify)
    val verify = r.plans.count(e => e.action == "localCheckpoint" &&
      e.columns == Seq("da", "db", "n_common", "jaccard"))
    assert(verify == perRun, s"$verify verify cuts for $perRun batches")
    assert(r.rows == rows)
  }
}
