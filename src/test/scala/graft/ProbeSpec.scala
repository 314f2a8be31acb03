package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** graft.Probe's per-key measurement: stable listener counts, the key's
  * real row count, every query execution of run1 and of the collect pass
  * (loop checkpoints, a lazily built artifact's cuts, streaming
  * micro-batch frames and the result's own plan) with their operator
  * counts, and no listener left behind. */
class ProbeSpec extends AnyFunSuite with BeforeAndAfterAll {
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
    val checkpoints = a.collect.plans.count(_.action == "localCheckpoint")
    assert(checkpoints >= 6, s"$checkpoints checkpoint executions")
    // the last execution is the key's own result, collected, not count()'s
    // pruned aggregate
    assert(a.collect.plans.last.action == "collect")
    assert(a.collect.plans.last.columns == frame.columns.toSeq)
    assert(a.collect.plans.forall(_.plan.contains("Physical Plan")))
    // run1's executions are kept and counted too: its half-round cuts,
    // each an aggregate behind a shuffle exchange
    assert(a.run1.plans.count(_.action == "localCheckpoint") >= 6)
    val ops1 = a.run1.ops.toMap
    assert(ops1("exchange") >= 6, ops1)
    assert(a.collect.ops.map(_._1) == a.run1.ops.map(_._1))
    assert(a.collect.ops.map(_._1).containsSlice(Seq("exchange", "sort")))
    assert(probeListeners.isEmpty, probeListeners)
  }

  test("each run records task deserialization CPU, GC time and compiled classes") {
    val r = Probe.measure(spark, "graph_pagerank", sf)
    for (x <- Seq(r.run1, r.run2)) {
      val seen = (x.sec, x.deserCpuSec, x.gcSec, x.compiles)
      assert(x.deserCpuSec >= 0 && x.gcSec >= 0 && x.compiles >= 0, seen)
      assert(x.deserCpuSec <= x.sec * spark.sparkContext.defaultParallelism, seen)
    }
    val line = Probe.json(r)
    for (run <- Seq("run1", "run2"); f <- Seq("deser_cpu_s", "gc_s", "compiles")) {
      val v = raw"""("$run":\{[^{]*"$f":)(-?[0-9.]+)""".r
        .findFirstMatchIn(line).map(_.group(2).toDouble)
      assert(v.exists(_ >= 0), s"$run.$f in $line")
    }
  }

  test("each pass records the JVM's GC seconds within the run, shuffle bytes read and bytes spilled") {
    val r = Probe.measure(spark, "graph_katz", sf)
    for (x <- Seq(r.run1, r.run2, r.collect)) {
      val seen = (x.sec, x.gcSec, x.shuffleReadBytes, x.spillBytes)
      assert(x.gcSec >= 0 && x.gcSec <= x.sec, seen)
      assert(x.shuffleReadBytes >= 0 && x.spillBytes >= 0, seen)
    }
    assert(r.collect.jobs > 0 && r.collect.plans.last.action == "collect")
    val line = Probe.json(r)
    for (run <- Seq("run1", "run2", "collect");
         f <- Seq("gc_s", "shuffle_read_mb", "spill_mb")) {
      val v = raw"""("$run":\{[^{]*"$f":)(-?[0-9.]+)""".r
        .findFirstMatchIn(line).map(_.group(2).toDouble)
      assert(v.exists(_ >= 0), s"$run.$f in $line")
    }
  }

  private val copies = scala.collection.mutable.ArrayBuffer.empty[Path]

  /** A fresh copy of the fixture directory: the memoized graph and its
    * lazily built artifacts are per directory, so a copy starts cold. */
  private def freshCopy(): String = {
    val src = Paths.get(sf)
    val out = Files.createTempDirectory("probe-sf")
    copies += out
    Files.walk(src).iterator().asScala.foreach { p =>
      val to = out.resolve(src.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(to)
      else Files.copy(p, to)
    }
    out.toString
  }

  override def afterAll(): Unit = {
    copies.foreach { d =>
      graph.GraphFixture(spark, d.toString).uncache()
      Files.walk(d).iterator().asScala.toSeq.reverse.foreach(Files.delete)
    }
    super.afterAll()
  }

  test("graph_louvain: run1 shows the lazy lu4 build the collect pass no longer runs") {
    val r = Probe.measure(spark, "graph_louvain", freshCopy())
    // 4 sweeps, each cutting the (id, comm, deg) loop state
    def sweeps(plans: Seq[Probe.Exec]) = plans.count(e =>
      e.action == "localCheckpoint" && e.columns == Seq("id", "comm", "deg"))
    assert(sweeps(r.run1.plans) == 4, r.run1.plans.map(_.action))
    assert(sweeps(r.collect.plans) == 0 && sweeps(r.run2.plans) == 0)
    val ops1 = r.run1.ops.toMap
    assert(ops1("exchange") >= 12 && ops1("smj") == 0, ops1)
    assert(r.run1.jobs > r.run2.jobs)
    assert(r.run1.cpuSec > 0 && r.run1.shuffleBytes > 0)
  }

  test("graph_densest: run2 counts do not depend on a prior undDegrees build") {
    def counts(r: Probe.Run) = (r.jobs, r.stages, r.tasks)
    val cold = Probe.measure(spark, "graph_densest", freshCopy())
    val dir = freshCopy()
    graph.GraphFixture(spark, dir).undDegrees.count()
    val warm = Probe.measure(spark, "graph_densest", dir)
    assert(counts(cold.run2) == counts(warm.run2))
    assert(cold.rows == warm.rows)
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
    val verify = r.collect.plans.count(e => e.action == "localCheckpoint" &&
      e.columns == Seq("da", "db", "n_common", "jaccard"))
    assert(verify == perRun, s"$verify verify cuts for $perRun batches")
    assert(r.rows == rows)
  }
}
