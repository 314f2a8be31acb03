package org.apache.spark.sql

import org.apache.spark.{SparkContext, SparkEnv}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Statistics}
import org.apache.spark.sql.catalyst.plans.logical.statsEstimation.EstimationUtils
import org.apache.spark.storage.RDDBlockId

/** Bridge into the one private[sql] entry point a planner extension needs:
  * turning a custom LogicalPlan into a DataFrame. Standard technique for
  * Spark extension libraries (the SparkSessionExtensions API injects rules
  * and strategies but offers no public plan→DataFrame constructor). */
object GraftBridge {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** localCheckpoint as a fresh LogicalRDD leaf whose statistics are what
    * the checkpoint MEASURED, never the planner's pre-cut estimate.
    *
    * graft.util.cut's contract (see its scaladoc): `Dataset.localCheckpoint`
    * keeps `originStats`, the full pre-cut plan estimate, which squares in a
    * self-joining loop; this leaf drops it. An eager cut instead carries
    * `Statistics(sizeInBytes = bytes the block managers store for the
    * checkpointed blocks)`, at least 1, plus `rowCount` when the caller
    * observed it in the same job — a constant per round that never
    * compounds, and that lets Catalyst and AQE choose broadcast or shuffle
    * at the session's threshold. A lazy cut has nothing stored yet: with a
    * `rowCount` — a row bound the loop already measured, e.g. |V| for a
    * per-vertex state or a round's count for a frame drawn from that round
    * (`graft.util.cut`'s `rows`) — it carries `rows × the output's per-row
    * size estimate` (Catalyst's own `getSizePerRow`), so the planner and AQE
    * broadcast it under the same threshold and shuffle past it; without one
    * it stays stats-less (Catalyst's default size: never broadcast by size).
    * The leaf wraps the checkpointed INTERNAL rows (no external-row
    * round-trip); LogicalRDD is a MultiInstanceRelation, so self-joins of a
    * cut frame deduplicate attribute ids and keep the stats.
    *
    * The cut registers [[uncut]] of its checkpoint with the artifact build
    * in progress, if any (`graft.Artifacts.onRelease`), so a stored
    * artifact's release frees the blocks of every cut its build made. */
  def cut(df: DataFrame, eager: Boolean,
      rowCount: => Option[Long] = None): DataFrame = {
    val ck = df.localCheckpoint(eager).asInstanceOf[classic.Dataset[Row]]
    val qe = ck.queryExecution
    val sc = ck.sparkSession.sparkContext
    val id = qe.analyzed.collectFirst { case r: execution.LogicalRDD => r.rdd.id }.get
    graft.Artifacts.onRelease(uncut(sc, id))
    val stats = Option.when(eager || rowCount.isDefined)(Statistics(
      if (eager) BigInt(math.max(storedBytes(id), 1L))
      else EstimationUtils.getSizePerRow(qe.analyzed.output) * math.max(rowCount.get, 1L),
      rowCount.map(BigInt(_))))
    classic.Dataset.ofRows(ck.sparkSession, execution.LogicalRDD(
      qe.analyzed.output, qe.toRdd)(ck.sparkSession, stats))
  }

  /** Unpersists the checkpointed RDD `id` under a cut's LogicalRDD: its
    * blocks are dropped, and a frame still reading the cut fails. A no-op
    * once the RDD was collected (the context cleaner dropped its blocks). */
  private def uncut(sc: SparkContext, id: Int): Unit =
    sc.getPersistentRDDs.get(id).foreach(_.unpersist(blocking = false))

  /** Memory plus disk bytes the block managers hold for the checkpointed
    * RDD `id` (read from the master after the eager job). */
  private def storedBytes(id: Int): Long =
    SparkEnv.get.blockManager.master.getStorageStatus.iterator.flatMap(_.rddBlocks)
      .collect { case (RDDBlockId(`id`, _), s) => s.memSize + s.diskSize }.sum

  /** Blocks until every listener has handled the events posted so far
    * (`waitUntilEmpty` is private[spark]): read listener counts after this,
    * never after a sleep. */
  def drain(spark: SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty()
}
