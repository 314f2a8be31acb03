package graft

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.{GraftBridge, SparkSession}
import org.apache.spark.sql.execution.{FormattedMode, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.execution.joins._
import org.apache.spark.sql.util.QueryExecutionListener

/** Dev runner: how many jobs, which joins and which plans a registered key
  * runs. Usage: `runMain graft.Probe <sfDir> <key>[,key...] [K]`.
  *
  * Runs under [[Bench.session]] WITHOUT [[Bench.warmup]]. Each key runs
  * twice with `count()`, the action the recorded job tables counted, and
  * then once more with `collect()` of the key's own frame — the action the
  * benchmark runs — whose plans are printed and whose jobs are not
  * counted. Per key and directory it prints one JSON line to stdout: both
  * count runs' seconds, jobs, stages, tasks and query executions, the
  * result rows, and the join operators summed over every query execution
  * of the collect pass (cuts, checkpoints and streaming micro-batch frames
  * included, and the terminal plan of the key's result). Those executed
  * plans go to stderr in formatted mode, one header per execution.
  * With K it also writes the K× blow-up ([[ScaleBench.build]]) and repeats
  * the lines for it.
  *
  * run1 is the cold cost, lazy artifact builds included, only for the
  * first key on the base directory: later keys and the K× pass reuse the
  * artifacts and cached frames built before them in the session, so run2
  * can depend on the keys listed before it (graph_densest reads 18 jobs
  * alone and 17 once `undDegrees` is cached). To compare counts across
  * commits, probe one key per JVM. */
object Probe {

  /** One run of a key: wall seconds, the Spark jobs started, the stages
    * completed and their tasks, and the query executions it made. */
  final case class Run(sec: Double, jobs: Long, stages: Long, tasks: Long,
      execs: Int)

  /** One query execution: its action (`count`, `collect`,
    * `localCheckpoint`, ...), the output columns and the formatted plan. */
  final case class Exec(action: String, columns: Seq[String], plan: String)

  /** One measured key: both count runs, run2's result rows, and the join
    * operators and executions of the collect pass. */
  final case class Record(key: String, dir: String, run1: Run, run2: Run,
      rows: Long, joins: Seq[(String, Int)], plans: Seq[Exec])

  private val JoinNames = Seq("bhj", "smj", "shj", "bnlj", "cartesian")

  /** Join operators of an executed plan, following adaptive query stages
    * and subqueries; a reused exchange is counted once, where it was built. */
  private def joinsOf(p: SparkPlan): Seq[String] = p match {
    case a: AdaptiveSparkPlanExec => joinsOf(a.executedPlan)
    case q: QueryStageExec => joinsOf(q.plan)
    case _: ReusedExchangeExec => Nil
    case _ =>
      val here = p match {
        case _: BroadcastHashJoinExec => Seq("bhj")
        case _: SortMergeJoinExec => Seq("smj")
        case _: ShuffledHashJoinExec => Seq("shj")
        case _: BroadcastNestedLoopJoinExec => Seq("bnlj")
        case _: CartesianProductExec => Seq("cartesian")
        case _ => Nil
      }
      here ++ (p.children ++ p.subqueries).flatMap(joinsOf)
  }

  /** Runs `key` on `dir` twice with `count()` and once with `collect()`,
    * with one SparkListener and one QueryExecutionListener registered, and
    * unregisters both before it returns. Query executions of a streaming
    * key's micro-batches are seen too: a stream's session is cloned with
    * the listeners registered at its start. */
  def measure(spark: SparkSession, key: String, dir: String): Record = {
    val jobs, stages, tasks = new AtomicLong(0)
    val execs = new ConcurrentLinkedQueue[(String, QueryExecution)]()
    val sched = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
        stages.incrementAndGet()
        tasks.addAndGet(s.stageInfo.numTasks.toLong); ()
      }
    }
    val plans = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = {
        execs.add(f -> qe); ()
      }
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = {
        execs.add(f -> qe); ()
      }
    }
    spark.sparkContext.addSparkListener(sched)
    spark.listenerManager.register(plans)
    try {
      def run(): (Run, Long) = {
        jobs.set(0); stages.set(0); tasks.set(0); execs.clear()
        val t0 = System.nanoTime()
        val rows = SparkEntry.queries(key)(spark, dir).count()
        val sec = (System.nanoTime() - t0) / 1e9
        GraftBridge.drain(spark)
        (Run(sec, jobs.get(), stages.get(), tasks.get(), execs.size), rows)
      }
      val (run1, _) = run()
      val (run2, rows) = run()
      // count() plans a pruned aggregate over the key's frame (empty scan
      // schemas, no final sort, other join sizes); the plans of its result
      // are those of collect()
      execs.clear()
      SparkEntry.queries(key)(spark, dir).collect()
      GraftBridge.drain(spark)
      val qes = execs.asScala.toVector
      val all = qes.flatMap { case (_, qe) => joinsOf(qe.executedPlan) }
      Record(key, dir, run1, run2, rows,
        JoinNames.map(j => j -> all.count(_ == j)),
        qes.map { case (f, qe) =>
          Exec(f, qe.analyzed.output.map(_.name), qe.explainString(FormattedMode))
        })
    } finally {
      spark.sparkContext.removeSparkListener(sched)
      spark.listenerManager.unregister(plans)
    }
  }

  private def json(r: Record): String = {
    def run(x: Run) = f"""{"s":${x.sec}%.3f,"jobs":${x.jobs},""" +
      s""""stages":${x.stages},"tasks":${x.tasks},"execs":${x.execs}}"""
    s"""{"key":"${r.key}","dir":"${r.dir}","rows":${r.rows},""" +
      s""""run1":${run(r.run1)},"run2":${run(r.run2)},"joins":""" +
      r.joins.map { case (j, n) => s""""$j":$n""" }.mkString("{", ",", "}}")
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
      r.plans.zipWithIndex.foreach { case (e, i) =>
        System.err.println(s"==== $key $dir execution ${i + 1}/${r.plans.size}: " +
          s"${e.action} [${e.columns.mkString(", ")}] ====\n${e.plan}")
      }
      println(json(r))
      System.out.flush()
    }
    spark.stop()
  }
}
