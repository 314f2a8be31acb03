package graft

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, GraftBridge}
import org.apache.spark.sql.catalyst.expressions.UnsafeRow
import org.apache.spark.sql.catalyst.plans.logical.statsEstimation.EstimationUtils
import org.apache.spark.sql.execution.{LogicalRDD, RDDScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, SortMergeJoinExec}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener
import org.apache.spark.storage.StorageLevel
import org.scalatest.funsuite.AnyFunSuite

/** util.cut's statistics: an eager cut carries the bytes its checkpointed
  * blocks store (so the planner, not a hint, picks broadcast or shuffle at
  * the session threshold), a lazy cut stays stats-less, and measured
  * stats never compound across self-joining rounds. */
class CutStatsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import CutStatsSpec._

  private def size(df: DataFrame): BigInt =
    df.queryExecution.optimizedPlan.stats.sizeInBytes

  /** Memory plus disk bytes of the persisted RDD under `df`'s leaf, read
    * from the application status store (the listener path, not the block
    * manager master the cut reads). */
  private def storedBytes(df: DataFrame): Long = {
    def persisted(r: RDD[_]): RDD[_] =
      if (r.getStorageLevel != StorageLevel.NONE) r
      else persisted(r.dependencies.head.rdd)
    val rdd = persisted(df.queryExecution.analyzed.collectFirst {
      case r: LogicalRDD => r.rdd }.get)
    GraftBridge.drain(spark)
    val info = spark.sparkContext.getRDDStorageInfo.filter(_.id == rdd.id)
    assert(info.length == 1, s"rdd ${rdd.id} not in storage")
    info.head.memSize + info.head.diskSize
  }

  test("an eager cut's sizeInBytes is the stored bytes of its blocks; an array-column frame is not under-estimated") {
    val paths = spark.range(0, 20000, 1, 4)
      .select(col("id"), sequence(lit(0L), col("id") % 64).as("path"))
    val c = util.cut(paths)
    assert(size(c) == BigInt(storedBytes(c)))
    // rows × Catalyst's per-row default (one array element) and the
    // rows' actual UnsafeRow bytes both read below what is stored
    val perRow = EstimationUtils.getSizePerRow(paths.queryExecution.analyzed.output)
    assert(size(c) > perRow * 20000, s"${size(c)} vs $perRow B/row")
    val unsafe = paths.queryExecution.toRdd
      .map(_.asInstanceOf[UnsafeRow].getSizeInBytes.toLong).sum().toLong
    assert(size(c) >= unsafe, s"${size(c)} < $unsafe UnsafeRow bytes")
  }

  test("a hint-free join against a small eager cut broadcasts it, and shuffles past the threshold") {
    // the large side: a lazy cut, which carries no stats
    val edges = util.cut(spark.range(0, 2000000, 1, 4)
      .select(col("id").as("src"), (col("id") % 50000).as("dst")), eager = false)
    val small = util.cut(spark.range(0, 50000, 1, 4)
      .select(col("id").as("v"), (col("id") * 2).as("x")))
    def joined() = edges.join(small, col("dst") === col("v"))
    val bhj = finalPlan(joined())
    assert(bhj.collect { case j: BroadcastHashJoinExec => j }.size == 1, bhj)
    assert(shuffles(bhj) == 0, bhj)

    val key = "spark.sql.autoBroadcastJoinThreshold"
    val old = spark.conf.get(key)
    spark.conf.set(key, (size(small) / 2).toString)
    try {
      val smj = finalPlan(joined())
      assert(smj.collect { case j: BroadcastHashJoinExec => j }.isEmpty, smj)
      assert(smj.collect { case j: SortMergeJoinExec => j }.size == 1, smj)
    } finally spark.conf.set(key, old)
  }

  test("a lazy cut stays stats-less") {
    val c = util.cut(spark.range(100).toDF("id"), eager = false)
    assert(size(c) == BigInt(spark.sessionState.conf.defaultSizeInBytes))
  }

  test("32 self-joining measured rounds: sizeInBytes constant, planning flat") {
    var x = util.cut(spark.range(0, 5000, 1, 4)
      .select(col("id"), (col("id") % 97).as("v")))
    val sizes = scala.collection.mutable.ArrayBuffer(size(x))
    val planMs = scala.collection.mutable.ArrayBuffer.empty[Double]
    for (_ <- 1 to 32) {
      val r = x.select(col("id").as("rid"), col("v").as("rv"))
      val next = x.join(r, col("id") === col("rid")).select(col("id"), col("rv").as("v"))
      val t0 = System.nanoTime()
      next.queryExecution.executedPlan
      planMs += (System.nanoTime() - t0) / 1e6
      x = util.cut(next)
      sizes += size(x)
    }
    assert(sizes.distinct.size == 1, sizes)
    // rounds 2-4 against rounds 30-32: round 1 pays warm-up
    def median(s: Seq[Double]) = s.sorted.apply(s.size / 2)
    val early = median(planMs.slice(1, 4).toSeq)
    val late = median(planMs.takeRight(3).toSeq)
    assert(late <= 5 * early + 50, s"planning ms: $planMs")
  }
}

object CutStatsSpec {
  /** `plan` with adaptive stages unwrapped into their final plans. */
  def flat(p: SparkPlan): SparkPlan = p.transformUp {
    case a: AdaptiveSparkPlanExec => flat(a.executedPlan)
    case q: QueryStageExec => flat(q.plan)
  }

  def finalPlan(df: DataFrame): SparkPlan = {
    df.count()
    flat(df.queryExecution.executedPlan)
  }

  def shuffles(p: SparkPlan): Int =
    p.collect { case s: ShuffleExchangeExec => s }.size

  /** Shuffle exchanges whose input is a bare scan of a cut frame with
    * output `cols` (through filters, projections and codegen wrappers
    * only): the frame itself moved for a join. */
  def shuffledScans(p: SparkPlan, cols: Seq[String]): Int = {
    def bareScan(q: SparkPlan): Boolean = q match {
      case r: RDDScanExec => r.output.map(_.name) == cols
      case _ if q.children.size == 1 && !q.isInstanceOf[ShuffleExchangeExec] &&
          !q.nodeName.contains("Aggregate") && !q.nodeName.contains("Join") =>
        bareScan(q.children.head)
      case _ => false
    }
    flat(p).collect { case s: ShuffleExchangeExec if bareScan(s.child) => s }.size
  }

  /** The (action, plan) of every query execution `body` runs. */
  def executions(spark: org.apache.spark.sql.SparkSession)(body: => Unit)
      : Seq[(String, org.apache.spark.sql.execution.QueryExecution)] = {
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[
      (String, org.apache.spark.sql.execution.QueryExecution)]()
    val l = new QueryExecutionListener {
      override def onSuccess(f: String,
          qe: org.apache.spark.sql.execution.QueryExecution, ns: Long): Unit = {
        seen.add(f -> qe); ()
      }
      override def onFailure(f: String,
          qe: org.apache.spark.sql.execution.QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(l)
    try { body; GraftBridge.drain(spark) }
    finally spark.listenerManager.unregister(l)
    import scala.jdk.CollectionConverters._
    seen.asScala.toSeq
  }
}
