package perfbench

import java.util.Properties
import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ReusedExchangeExec}
import org.apache.spark.sql.execution.joins._
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Counters of one span (a key's construct or execute step in one pass).
  * Updated from Spark's listener threads, read by the client after a drain. */
final class Counts {
  val c: mutable.Map[String, Double] = mutable.LinkedHashMap.empty
  val batchMs: mutable.ArrayBuffer[Double] = mutable.ArrayBuffer.empty
  def add(name: String, v: Double): Unit = synchronized {
    c(name) = c.getOrElse(name, 0.0) + v
  }
  def addBatch(ms: Double): Unit = synchronized { batchMs += ms }
}

/** One timed step of the client: `name` is "phase|pass|key|part". Wall-clock
  * milliseconds let events that carry no local property (query planning,
  * streaming progress) be placed in the step that was running. */
final case class Span(name: String, startMs: Long, var endMs: Long)

/** The traced run's instrumentation, all through Spark's public listener
  * APIs: a SparkListener for jobs, stages and task metrics, a
  * QueryExecutionListener for Catalyst phase times and executed-plan join
  * strategies, and a StreamingQueryListener for micro-batch progress.
  *
  * Jobs and stages are tied to a span through the local property
  * [[Trace.SpanProp]] that the client sets on its own thread; Spark copies
  * local properties into the threads it starts for a query (broadcasts,
  * adaptive stages, streaming executions). Query executions and streaming
  * batches are placed by the wall-clock time at which they started. */
final class Trace(spark: SparkSession) {
  private val byName = new ConcurrentHashMap[String, Counts]()
  private val spans = new java.util.concurrent.ConcurrentLinkedDeque[Span]()
  private val stageSpan = new ConcurrentHashMap[Int, String]()
  private val markerJobs = new ConcurrentHashMap[Int, String]()
  private val jobStarts = new ConcurrentHashMap[Int, (Long, Boolean)]()
  /** (start ms, end ms, attributed) of every finished job but the drain
    * markers'. A job is attributed when it carried the span that was
    * running when it started; one that carried no span, or a stale one
    * (say, from a thread started in an earlier step), is not. */
  val jobs = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long, Boolean)]()
  @volatile private var markersSeen = Set.empty[String]
  @volatile private var markerJobsSeen = Set.empty[String]

  def counts(span: String): Counts = byName.computeIfAbsent(span, _ => new Counts)
  def allCounts: Map[String, Counts] = byName.asScala.toMap

  def open(name: String): Span = {
    val s = Span(name, System.currentTimeMillis(), Long.MaxValue)
    spans.addLast(s); s
  }

  /** The latest-started span that was running at wall-clock `ms`. */
  private def spanAt(ms: Long): Option[String] =
    spans.descendingIterator().asScala
      .find(s => s.startMs <= ms && ms <= s.endMs).map(_.name)

  private def spanOf(p: Properties): Option[String] =
    Option(p).flatMap(pp => Option(pp.getProperty(Trace.SpanProp)))

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = spanOf(e.properties) match {
      case Some(m) if m.startsWith(Trace.Marker) => markerJobs.put(e.jobId, m)
      case span =>
        jobStarts.put(e.jobId, (e.time, span.isDefined && span == spanAt(e.time)))
        span.foreach { s =>
          e.stageIds.foreach(id => stageSpan.put(id, s))
          counts(s).add("jobs", 1)
        }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      Option(markerJobs.remove(e.jobId)).foreach(m => markerJobsSeen += m)
      Option(jobStarts.remove(e.jobId)).foreach { case (t0, attributed) =>
        jobs.add((t0, e.time, attributed)) }
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      spanOf(e.properties).filterNot(_.startsWith(Trace.Marker)).foreach { s =>
        stageSpan.put(e.stageInfo.stageId, s)
        counts(s).add("stages", 1)
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(stageSpan.get(e.stageId)).foreach { s =>
        val c = counts(s)
        c.add("tasks", 1)
        val m = e.taskMetrics
        val i = e.taskInfo
        if (m != null) {
          c.add("task_cpu_ns", m.executorCpuTime.toDouble)
          c.add("task_run_ms", m.executorRunTime.toDouble)
          c.add("shuffle_write_b", m.shuffleWriteMetrics.bytesWritten.toDouble)
          c.add("shuffle_read_b", (m.shuffleReadMetrics.remoteBytesRead +
            m.shuffleReadMetrics.localBytesRead).toDouble)
          c.add("fetch_wait_ms", m.shuffleReadMetrics.fetchWaitTime.toDouble)
          c.add("spill_b", (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
          // scheduler delay as the Spark UI computes it
          val overhead = m.executorDeserializeTime + m.resultSerializationTime
          c.add("sched_delay_ms", math.max(0L, i.duration - m.executorRunTime -
            overhead - i.gettingResultTime).toDouble)
        }
      }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = record(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = record(qe)
  }

  private def record(qe: QueryExecution): Unit = {
    val first = qe.analyzed.output.headOption.map(_.name).getOrElse("")
    if (first.startsWith(Trace.Marker)) { markersSeen += first; return }
    val phases = qe.tracker.phases
    if (phases.isEmpty) return
    val startMs = phases.values.map(_.startTimeMs).min
    spanAt(startMs).foreach { s =>
      val c = counts(s)
      c.add("executions", 1)
      // each Catalyst phase lands where it ran: analysis usually inside the
      // op call, optimization and physical planning at the action
      for ((phase, metric) <- Seq("analysis" -> "analysis_ms",
          "optimization" -> "optimizer_ms", "planning" -> "physical_ms");
          p <- phases.get(phase)) {
        val target = spanAt(p.startTimeMs).getOrElse(s)
        counts(target).add(metric, p.durationMs.toDouble)
      }
      joins(qe.executedPlan, c)
    }
  }

  /** Join strategies and broadcast bytes of an executed plan, following
    * adaptive query stages and subqueries; a reused exchange is counted
    * once, where it was built. */
  private def joins(p: SparkPlan, c: Counts): Unit = {
    p match {
      case a: AdaptiveSparkPlanExec => joins(a.executedPlan, c); return
      case q: QueryStageExec => joins(q.plan, c); return
      case _: ReusedExchangeExec => return
      case _: BroadcastHashJoinExec => c.add("bhj", 1)
      case _: SortMergeJoinExec => c.add("smj", 1)
      case _: ShuffledHashJoinExec => c.add("shj", 1)
      case _: BroadcastNestedLoopJoinExec => c.add("bnlj", 1)
      case b: BroadcastExchangeExec =>
        c.add("broadcast_b", b.metrics.get("dataSize").map(_.value.toDouble).getOrElse(0.0))
      case _ =>
    }
    p.children.foreach(joins(_, c))
    p.subqueries.foreach(joins(_, c))
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val startMs = java.time.Instant.parse(p.timestamp).toEpochMilli
      spanAt(startMs).foreach { s =>
        val c = counts(s)
        val d = p.durationMs.asScala.map { case (k, v) => k -> v.toDouble }
        c.add("batches", 1)
        c.addBatch(d.getOrElse("triggerExecution", p.batchDuration.toDouble))
        c.add("add_batch_ms", d.getOrElse("addBatch", 0.0))
        c.add("planning_ms", d.getOrElse("queryPlanning", 0.0))
        c.add("commit_ms", d.getOrElse("walCommit", 0.0) + d.getOrElse("commitOffsets", 0.0))
        c.add("input_rows", p.numInputRows.toDouble)
      }
    }
  }

  def start(): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
    spark.streams.addListener(streamListener)
  }

  /** Waits until every listener has handled the events posted so far: runs
    * a marker query and returns once its job and its query execution have
    * been seen (events of one queue arrive in order). */
  def drain(n: Int): Unit = {
    val name = s"${Trace.Marker}$n"
    val sc = spark.sparkContext
    sc.setLocalProperty(Trace.SpanProp, name)
    spark.range(1).toDF(name).collect()
    sc.setLocalProperty(Trace.SpanProp, null)
    val deadline = System.currentTimeMillis() + 30000
    while (!(markerJobsSeen(name) && markersSeen(name)) &&
        System.currentTimeMillis() < deadline)
      Thread.sleep(5)
    // streaming progress travels through its own queue; give it a beat
    Thread.sleep(50)
  }
}

object Trace {
  val SpanProp = "perfbench.span"
  val Marker = "perfbench_marker_"
}
