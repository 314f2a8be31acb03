package perfbench

import java.lang.management.ManagementFactory
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** One benchmark run in one JVM: a single closed-loop client (this thread)
  * runs the workload's ordered key list through `SparkEntry.queries(key)`
  * and collects each returned frame, once cold and then in warm passes.
  *
  * Usage: perfbench.Runner --input DIR --keys k1,k2,.. --seconds S
  *          --trace 0|1 --out DIR [--fault throw:KEY|corrupt:KEY]...
  *
  * Writes `result.json` with the raw measurements (run.py turns them into
  * metrics), `dump/<key>/` with each key's cold result as parquet and
  * `dump/oracle_sql.json` with the keys' DuckDB oracle SQL. */
object Runner {
  /** One execution of one key. `cpuS` is the process CPU time it took and
    * `jitCpuS` the part of it the JIT compiler threads used. `digest` is an
    * order-sensitive hash of the collected rows; a warm execution whose
    * digest differs from the cold one counts as failed. */
  final case class Exec(key: String, constructS: Double, executeS: Double,
      cpuS: Double, jitCpuS: Double, error: Option[String], digest: Long)

  final case class Pass(phase: String, index: Int, traced: Boolean,
      wallS: Double, cpuS: Double, jitCpuS: Double, execs: Seq[Exec],
      jvm: Map[String, Double], startMs: Long, endMs: Long)

  def main(argv: Array[String]): Unit = {
    val t0 = System.nanoTime()
    val opts = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }
      .toSeq.groupMap(_._1)(_._2)
    def opt(k: String): String = opts.get(k).map(_.last)
      .getOrElse(throw new IllegalArgumentException(s"missing --$k"))
    val input = opt("input")
    val keys = opt("keys").split(",").toSeq
    val seconds = opt("seconds").toDouble
    val traced = opt("trace") == "1"
    val out = opt("out")
    val setups = 3 // setup_s is their median
    val cpus = Runtime.getRuntime.availableProcessors.toString // local[nproc]
    val faults = opts.getOrElse("fault", Nil).map { f =>
      val Array(kind, key) = f.split(":", 2); key -> kind }.toMap

    // Set-up, repeated: session build plus the inputs' table registration.
    // The first one starts at main entry and so carries JVM class loading.
    val setupS = mutable.ArrayBuffer.empty[Double]
    val sessionS = mutable.ArrayBuffer.empty[Double]
    var spark: SparkSession = null
    for (i <- 0 until setups) {
      if (spark != null) spark.stop()
      val s0 = if (i == 0) t0 else System.nanoTime()
      spark = graft.Bench.session(cpus)
      val s1 = System.nanoTime()
      graft.Tables.names.foreach(n => graft.Tables(spark, input, n))
      val s2 = System.nanoTime()
      sessionS += (s1 - s0) / 1e9
      setupS += (s2 - s0) / 1e9
    }

    val fns = keys.map(k => k -> graft.SparkEntry.queries(k)).toMap
    val trace = if (traced) Some(new Trace(spark)) else None
    trace.foreach(_.start())
    val sc = spark.sparkContext
    val os = ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    val coldRows = mutable.LinkedHashMap.empty[String, (Array[Row], DataFrame)]

    def runPass(phase: String, index: Int, tracedPass: Boolean): Pass = {
      val jvm0 = Jvm.snapshot()
      val cpu0 = os.getProcessCpuTime
      val jit0 = Jvm.jitCpuS()
      val w0 = System.nanoTime()
      val m0 = System.currentTimeMillis()
      val raw = keys.map { key =>
        def step[A](part: String)(body: => A): (A, Double) = {
          val span = s"$phase|$index|$key|$part"
          val open = if (tracedPass) trace.map(_.open(span)) else None
          if (tracedPass) sc.setLocalProperty(Trace.SpanProp, span)
          val a = System.nanoTime()
          try (body, (System.nanoTime() - a) / 1e9)
          finally {
            open.foreach(_.endMs = System.currentTimeMillis())
            sc.setLocalProperty(Trace.SpanProp, null)
          }
        }
        var cS, eS = 0.0
        val (kCpu0, kJit0) = (os.getProcessCpuTime, Jvm.jitCpuS())
        val res = try {
          val (df, c) = step("construct")(fns(key)(spark, input))
          cS = c
          val (rows, e) = step("execute") {
            if (faults.get(key).contains("throw"))
              throw new IllegalStateException("injected fault")
            df.collect()
          }
          eS = e
          Right((rows, df))
        } catch { case NonFatal(t) => Left(s"${t.getClass.getSimpleName}: ${t.getMessage}") }
        (key, cS, eS, (os.getProcessCpuTime - kCpu0) / 1e9, Jvm.jitCpuS() - kJit0, res)
      }
      val wallS = (System.nanoTime() - w0) / 1e9
      val cpuS = (os.getProcessCpuTime - cpu0) / 1e9
      val jitCpuS = Jvm.jitCpuS() - jit0
      val m1 = System.currentTimeMillis()
      val jvm = Jvm.delta(jvm0)
      // digests and the cold dump are made after the pass's clock stopped
      val execs = raw.map { case (key, cS, eS, kCpu, kJit, res) =>
        res match {
          case Left(err) => Exec(key, cS, eS, kCpu, kJit, Some(err), 0L)
          case Right((rows0, df)) =>
            val rows = if (faults.get(key).contains("corrupt")) rows0.dropRight(1) else rows0
            if (phase == "cold") coldRows(key) = (rows, df)
            Exec(key, cS, eS, kCpu, kJit, None, Digest.rows(rows))
        }
      }
      Pass(phase, index, tracedPass, wallS, cpuS, jitCpuS, execs, jvm, m0, m1)
    }

    val passes = mutable.ArrayBuffer.empty[Pass]
    passes += runPass("cold", 0, traced)
    trace.foreach(_.drain(0))
    val storeAfterCold = Store.snapshot(spark)
    // The cold results, written as graft.Verify writes a key's frame.
    val dump = s"$out/dump"
    coldRows.foreach { case (key, (rows, df)) =>
      spark.createDataFrame(rows.toSeq.asJava, df.schema).coalesce(1)
        .write.mode("overwrite").parquet(s"$dump/$key")
    }
    coldRows.clear()
    Json.write(s"$dump/oracle_sql.json",
      Json.obj(keys.flatMap(k => graft.SparkEntry.oracleSql.get(k).map(k -> Json.str(_)))))

    // Warm passes: at least `minPasses`, and until `seconds` of warm wall
    // time. run.py reports medians over all the untraced ones: a fresh JVM
    // is still compiling the planner and the generated code over these
    // passes, and the pass at which a hot method is recompiled varies from
    // run to run, so a median over the whole run is steadier than one over
    // a later window of a few. A traced run alternates untraced and traced
    // passes, so their difference is the tracing cost.
    val minPasses = 6
    // Retained heap is taken after a fixed number of warm passes, so that
    // what warm passes accumulate is in it and the work done before it does
    // not depend on how fast the host was.
    val retainedAfter = 3
    var retainedMb = Double.NaN
    var warmS = 0.0
    var i = 0
    while (i < minPasses || warmS < seconds) {
      val tracedPass = traced && i % 2 == 1
      val p = runPass("warm", i, tracedPass)
      if (tracedPass) trace.foreach(_.drain(i + 1))
      passes += p
      warmS += p.wallS
      i += 1
      if (i == retainedAfter) retainedMb = Jvm.retainedMb()
    }
    val storeAfterWarm = Store.snapshot(spark)

    val result = Json.obj(Seq(
      "keys" -> Json.arr(keys.map(Json.str)),
      "cpus" -> Json.str(cpus),
      "setup_s" -> Json.arr(setupS.map(Json.num).toSeq),
      "session_s" -> Json.arr(sessionS.map(Json.num).toSeq),
      "retained_mb" -> Json.num(retainedMb),
      "store" -> Json.obj(Seq("cold" -> storeAfterCold, "warm" -> storeAfterWarm)),
      "modules" -> Json.obj(keys.map(k => k -> Json.str(Modules.of(k)))),
      "passes" -> Json.arr(passes.toSeq.map { p =>
        Json.obj(Seq(
          "phase" -> Json.str(p.phase), "index" -> Json.num(p.index),
          "traced" -> Json.bool(p.traced), "wall_s" -> Json.num(p.wallS),
          "cpu_s" -> Json.num(p.cpuS), "jit_cpu_s" -> Json.num(p.jitCpuS),
          "start_ms" -> Json.num(p.startMs),
          "end_ms" -> Json.num(p.endMs),
          "jvm" -> Json.obj(p.jvm.toSeq.map { case (k, v) => k -> Json.num(v) }),
          "execs" -> Json.arr(p.execs.map { e =>
            Json.obj(Seq("key" -> Json.str(e.key),
              "construct_s" -> Json.num(e.constructS),
              "execute_s" -> Json.num(e.executeS),
              "cpu_s" -> Json.num(e.cpuS), "jit_cpu_s" -> Json.num(e.jitCpuS),
              "error" -> e.error.map(Json.str).getOrElse("null"),
              "digest" -> Json.str(e.digest.toHexString)))
          })))
      }),
      "trace" -> trace.map { t =>
        Json.obj(Seq(
          "spans" -> Json.obj(t.allCounts.toSeq.sortBy(_._1).map { case (s, c) =>
            s -> c.synchronized(Json.obj(
              c.c.toSeq.map { case (k, v) => k -> Json.num(v) } :+
                ("batch_ms" -> Json.arr(c.batchMs.toSeq.map(Json.num)))))
          }),
          "jobs" -> Json.arr(t.jobs.asScala.toSeq.map { case (a, b, attributed) =>
            Json.arr(Seq(Json.num(a), Json.num(b), Json.bool(attributed))) })))
      }.getOrElse("null")))
    Json.write(s"$out/result.json", result)
    spark.stop()
  }
}

/** The op module that registers a key, for the per-module time split.
  * SparkEntry keeps its module list private, so it is repeated here; a key
  * of a module missing from this list is reported as "other". */
object Modules {
  private lazy val byKey: Map[String, String] = Seq(
    graft.ops.RelationalOps, graft.ops.AggWindowOps, graft.ops.ScalarFnOps,
    graft.ops.GraphOps, graft.ops.DedupOps, graft.ops.SimOps, graft.ops.TextOps,
    graft.ops.CustomExprOps, graft.ops.StatsOps, graft.ops.PipelineOps,
    graft.ops.ExtraOps, graft.ops.QualityOps, graft.ops.OlapOps,
    graft.streaming.StreamOps
  ).flatMap(m => m.ops.map(_.key -> m.getClass.getSimpleName.stripSuffix("$"))).toMap
  def of(key: String): String = byKey.getOrElse(key, "other")
}

/** Order-sensitive digest of collected rows; arrays hash by content. */
object Digest {
  import scala.util.hashing.MurmurHash3
  def value(v: Any): Int = v match {
    case null => 0
    case b: Array[Byte] => java.util.Arrays.hashCode(b)
    case r: Row => MurmurHash3.orderedHash(r.toSeq.map(value))
    case m: scala.collection.Map[_, _] =>
      MurmurHash3.unorderedHash(m.map { case (k, x) => (value(k), value(x)) })
    case s: scala.collection.Seq[_] => MurmurHash3.orderedHash(s.map(value))
    case d: Double => java.lang.Double.hashCode(d)
    case f: Float => java.lang.Float.hashCode(f)
    case x => x.##
  }
  def rows(rs: Array[Row]): Long = {
    val h = MurmurHash3.orderedHash(rs.iterator.map(value))
    (h.toLong << 32) | (rs.length.toLong & 0xffffffffL)
  }
}

/** JVM-level counters: collector time and count, JIT time, heap peak. */
object Jvm {
  private def gcs = ManagementFactory.getGarbageCollectorMXBeans.asScala
  private def heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP)

  def snapshot(): Map[String, Double] = {
    heapPools.foreach(_.resetPeakUsage())
    Map(
      "gc_ms" -> gcs.map(_.getCollectionTime.toDouble).sum,
      "gc_count" -> gcs.map(_.getCollectionCount.toDouble).sum,
      "jit_ms" -> ManagementFactory.getCompilationMXBean.getTotalCompilationTime.toDouble)
  }

  def delta(before: Map[String, Double]): Map[String, Double] = {
    val now = snapshot()
    before.map { case (k, v) => k -> (now(k) - v) } +
      ("heap_peak_mb" -> heapPools.map(_.getPeakUsage.getUsed.toDouble).sum / 1048576.0)
  }

  /** CPU seconds the JIT compiler threads have used so far, from
    * /proc/self/task (Linux; 0 where it is missing). Compiler threads are
    * hidden from ThreadMXBean. run.py starts the JVM with a fixed set of
    * compiler threads, so none ends and takes its count with it. */
  def jitCpuS(): Double = {
    val ticksPerS = 100.0 // USER_HZ
    Option(new java.io.File("/proc/self/task").listFiles).getOrElse(Array.empty).iterator
      .map { t =>
        try {
          val s = new String(java.nio.file.Files.readAllBytes(new java.io.File(t, "stat").toPath))
          val comm = s.substring(s.indexOf('(') + 1, s.lastIndexOf(')'))
          if (!comm.contains("CompilerThre")) 0L
          else {
            // fields after "(comm) ": state is the first, utime the 12th, stime the 13th
            val f = s.substring(s.lastIndexOf(')') + 2).split(' ')
            f(11).toLong + f(12).toLong
          }
        } catch { case _: java.io.IOException => 0L } // the thread has ended
      }.sum / ticksPerS
  }

  /** Heap in use after full collections: what the run's stored artifacts
    * and session memos keep alive. Spark's ContextCleaner drops blocks of
    * unreferenced broadcasts and RDDs only after a collection has found
    * them, so collect again once it has had time to run. */
  def retainedMb(): Double = {
    for (_ <- 0 until 3) { System.gc(); Thread.sleep(200) }
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }
}

/** Spark storage: cached RDD blocks (persisted frames and graph views). */
object Store {
  def snapshot(spark: SparkSession): String = {
    val infos = spark.sparkContext.getRDDStorageInfo.filter(_.numCachedPartitions > 0)
    Json.obj(Seq(
      "cached_mb" -> Json.num(infos.map(i => i.memSize + i.diskSize).sum / 1048576.0),
      "cached_rdds" -> Json.num(infos.length)))
  }
}

/** Just enough JSON writing for the result file. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else d.toString
  def num(l: Long): String = l.toString
  def num(i: Int): String = i.toString
  def bool(b: Boolean): String = b.toString
  def arr(xs: Seq[String]): String = xs.mkString("[", ",", "]")
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
  def write(path: String, s: String): Unit = {
    val p = java.nio.file.Paths.get(path)
    java.nio.file.Files.createDirectories(p.getParent)
    java.nio.file.Files.writeString(p, s)
  }
}
