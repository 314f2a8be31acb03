package graft

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import scala.jdk.CollectionConverters._

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.{GraftBridge, SparkSession}
import org.apache.spark.sql.execution.{FormattedMode, QueryExecution, SortExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{ReusedExchangeExec, ShuffleExchangeExec}
import org.apache.spark.sql.execution.joins._
import org.apache.spark.sql.util.QueryExecutionListener

/** Dev runner: how many jobs, which joins and which plans a registered key
  * runs. Usage: `runMain graft.Probe <sfDir> <key>[,key...] [K]`.
  *
  * Runs under [[Bench.session]] WITHOUT [[Bench.warmup]]. Each key runs
  * twice with `count()`, the action the recorded job tables counted, and
  * then once more with `collect()` of the key's own frame — the action the
  * benchmark runs. `count()` may prune a key's work away (a left join
  * whose right side is unique and unread is dropped), so the collect pass
  * is measured too. Per key and directory it prints one JSON line to
  * stdout: each pass's seconds, jobs, stages, tasks, query executions,
  * task CPU, task deserialization CPU, JVM GC time, generated classes
  * compiled, shuffle bytes written and read and bytes spilled, the result
  * rows, and the operator counts (joins by strategy, shuffle exchanges,
  * sorts) summed over every query execution of the pass (cuts,
  * checkpoints and streaming micro-batch frames included, and the
  * terminal plan of the key's result). The executed plans of run1 and of
  * the collect pass go to stderr in formatted mode, one header per
  * execution: run1's are the only ones that show a lazily built
  * artifact's plans (by the collect pass it is cached), the collect
  * pass's are the plans the benchmark runs.
  * With K it also writes the K× blow-up ([[ScaleBench.build]]) and repeats
  * the lines for it.
  *
  * run1 is the cold cost, lazy artifact builds included, only for the
  * first key on the base directory: later keys and the K× pass reuse the
  * artifacts and cached frames built before them in the session, so run2
  * can depend on the keys listed before it. To compare counts across
  * commits, probe one key per JVM. */
object Probe {

  /** One query execution: its action (`count`, `collect`,
    * `localCheckpoint`, ...), the output columns, the formatted plan and
    * the counted operators of the executed plan. */
  final case class Exec(action: String, columns: Seq[String], plan: String,
      ops: Seq[String])

  /** One run of a key: wall seconds, the Spark jobs started, the stages
    * completed and their tasks, the completed stages' executor CPU
    * seconds, task deserialization CPU seconds (the task binary: closure
    * and RDD lineage), shuffle bytes written and read and bytes spilled
    * (memory plus disk), the JVM's GC seconds over the run (read from its
    * collector beans: in local mode the tasks share one JVM, so the tasks'
    * own GC times count one pause once per running task), the generated
    * classes compiled, and the query executions it made. */
  final case class Run(sec: Double, jobs: Long, stages: Long, tasks: Long,
      cpuSec: Double, deserCpuSec: Double, gcSec: Double, compiles: Long,
      shuffleBytes: Long, shuffleReadBytes: Long, spillBytes: Long, plans: Seq[Exec]) {
    def execs: Int = plans.size
    def ops: Seq[(String, Int)] = opCounts(plans)
  }

  /** One measured key: both count runs, run2's result rows, and the
    * collect pass. */
  final case class Record(key: String, dir: String, run1: Run, run2: Run,
      rows: Long, collect: Run)

  /** Counted operators: joins by strategy, shuffle exchanges (broadcast
    * exchanges are not counted) and sorts. */
  private val OpNames =
    Seq("bhj", "smj", "shj", "bnlj", "cartesian", "exchange", "sort")

  /** Counted operators of an executed plan, following adaptive query
    * stages and subqueries; a reused exchange is counted once, where it
    * was built. */
  private[graft] def opsOf(p: SparkPlan): Seq[String] = p match {
    case a: AdaptiveSparkPlanExec => opsOf(a.executedPlan)
    case q: QueryStageExec => opsOf(q.plan)
    case _: ReusedExchangeExec => Nil
    case _ =>
      val here = p match {
        case _: BroadcastHashJoinExec => Seq("bhj")
        case _: SortMergeJoinExec => Seq("smj")
        case _: ShuffledHashJoinExec => Seq("shj")
        case _: BroadcastNestedLoopJoinExec => Seq("bnlj")
        case _: CartesianProductExec => Seq("cartesian")
        case _: ShuffleExchangeExec => Seq("exchange")
        case _: SortExec => Seq("sort")
        case _ => Nil
      }
      here ++ (p.children ++ p.subqueries).flatMap(opsOf)
  }

  /** Each counted operator's total over `plans`. */
  def opCounts(plans: Seq[Exec]): Seq[(String, Int)] = {
    val all = plans.flatMap(_.ops)
    OpNames.map(o => o -> all.count(_ == o))
  }

  /** Runs `key` on `dir` twice with `count()` and once with `collect()`,
    * with one SparkListener and one QueryExecutionListener registered, and
    * unregisters both before it returns. Query executions of a streaming
    * key's micro-batches are seen too: a stream's session is cloned with
    * the listeners registered at its start. */
  def measure(spark: SparkSession, key: String, dir: String): Record = {
    val jobs, stages, tasks, cpuNs, deserNs, shuffled, read, spilled = new AtomicLong(0)
    val execs = new ConcurrentLinkedQueue[(String, QueryExecution)]()
    val sched = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
        stages.incrementAndGet()
        tasks.addAndGet(s.stageInfo.numTasks.toLong)
        val m = s.stageInfo.taskMetrics
        if (m != null) {
          cpuNs.addAndGet(m.executorCpuTime)
          deserNs.addAndGet(m.executorDeserializeCpuTime)
          shuffled.addAndGet(m.shuffleWriteMetrics.bytesWritten)
          read.addAndGet(m.shuffleReadMetrics.totalBytesRead)
          spilled.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
        }
        ()
      }
    }
    val queries = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = {
        execs.add(f -> qe); ()
      }
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = {
        execs.add(f -> qe); ()
      }
    }
    spark.sparkContext.addSparkListener(sched)
    spark.listenerManager.register(queries)
    // generated classes compiled in this JVM so far (driver and executors
    // share it in local mode)
    def compiled(): Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    // collection milliseconds of the JVM's collectors so far
    def gcMs(): Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(b.getCollectionTime, 0L)).sum
    // the executions seen since the last call, in order
    def drained(): Vector[Exec] = {
      GraftBridge.drain(spark)
      val out = execs.asScala.toVector.map { case (f, qe) =>
        Exec(f, qe.analyzed.output.map(_.name),
          qe.explainString(FormattedMode), opsOf(qe.executedPlan))
      }
      execs.clear()
      out
    }
    try {
      def run(action: org.apache.spark.sql.DataFrame => Long): (Run, Long) = {
        Seq(jobs, stages, tasks, cpuNs, deserNs, shuffled, read, spilled).foreach(_.set(0))
        val (c0, g0) = (compiled(), gcMs())
        val t0 = System.nanoTime()
        val rows = action(SparkEntry.queries(key)(spark, dir))
        val sec = (System.nanoTime() - t0) / 1e9
        val plans = drained()
        (Run(sec, jobs.get(), stages.get(), tasks.get(), cpuNs.get() / 1e9,
          deserNs.get() / 1e9, (gcMs() - g0) / 1e3, compiled() - c0,
          shuffled.get(), read.get(), spilled.get(), plans), rows)
      }
      val (run1, _) = run(_.count())
      val (run2, rows) = run(_.count())
      // count() plans a pruned aggregate over the key's frame (empty scan
      // schemas, no final sort, other join sizes); the plans of its result
      // are those of collect()
      val (collect, _) = run(_.collect().length.toLong)
      Record(key, dir, run1, run2, rows, collect)
    } finally {
      spark.sparkContext.removeSparkListener(sched)
      spark.listenerManager.unregister(queries)
    }
  }

  private[graft] def json(r: Record): String = {
    def ops(o: Seq[(String, Int)]) =
      o.map { case (j, n) => s""""$j":$n""" }.mkString("{", ",", "}")
    def run(x: Run) = f"""{"s":${x.sec}%.3f,"jobs":${x.jobs},""" +
      s""""stages":${x.stages},"tasks":${x.tasks},"execs":${x.execs},""" +
      f""""cpu_s":${x.cpuSec}%.3f,"deser_cpu_s":${x.deserCpuSec}%.3f,""" +
      f""""gc_s":${x.gcSec}%.3f,"compiles":${x.compiles},""" +
      f""""shuffle_mb":${x.shuffleBytes / 1e6}%.3f,""" +
      f""""shuffle_read_mb":${x.shuffleReadBytes / 1e6}%.3f,""" +
      f""""spill_mb":${x.spillBytes / 1e6}%.3f,""" +
      s""""ops":${ops(x.ops)}}"""
    s"""{"key":"${r.key}","dir":"${r.dir}","rows":${r.rows},""" +
      s""""run1":${run(r.run1)},"run2":${run(r.run2)},"collect":${run(r.collect)}}"""
  }

  def main(args: Array[String]): Unit = {
    val base = args(0)
    val keys = args(1).split(",").toSeq
    val spark = Bench.session(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
    val dirs = base +: args.lift(2).map(_.toInt).toSeq.map { k =>
      val out = Staging.dir(s"scale-x$k")
      ScaleBench.build(spark, base, out, k)
      out
    }
    for (key <- keys; dir <- dirs) {
      val r = measure(spark, key, dir)
      for ((pass, plans) <- Seq("run1" -> r.run1.plans, "collect" -> r.collect.plans);
           (e, i) <- plans.zipWithIndex)
        System.err.println(s"==== $key $dir $pass execution ${i + 1}/" +
          s"${plans.size}: ${e.action} [${e.columns.mkString(", ")}] ====\n${e.plan}")
      println(json(r))
      System.out.flush()
    }
    spark.stop()
  }
}
