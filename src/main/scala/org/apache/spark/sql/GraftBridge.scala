package org.apache.spark.sql

import org.apache.spark.SparkEnv
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
    * `rowCount` — a row bound the caller knows by construction, e.g. |V|
    * for a per-vertex state — it carries `rows × the output's per-row size
    * estimate` (Catalyst's own `getSizePerRow`), so the planner and AQE
    * broadcast it under the threshold and shuffle past it; without one it
    * stays stats-less (Catalyst's default size: never broadcast by size).
    * The leaf wraps the checkpointed INTERNAL rows (no external-row
    * round-trip); LogicalRDD is a MultiInstanceRelation, so self-joins of a
    * cut frame deduplicate attribute ids and keep the stats. */
  def cut(df: DataFrame, eager: Boolean,
      rowCount: => Option[Long] = None): DataFrame = {
    val ck = df.localCheckpoint(eager).asInstanceOf[classic.Dataset[Row]]
    val qe = ck.queryExecution
    val stats = Option.when(eager || rowCount.isDefined)(Statistics(
      if (eager) BigInt(math.max(storedBytes(qe.analyzed), 1L))
      else EstimationUtils.getSizePerRow(qe.analyzed.output) * math.max(rowCount.get, 1L),
      rowCount.map(BigInt(_))))
    classic.Dataset.ofRows(ck.sparkSession, execution.LogicalRDD(
      qe.analyzed.output, qe.toRdd)(ck.sparkSession, stats))
  }

  /** Memory plus disk bytes the block managers hold for the checkpointed
    * RDD under `plan` (read from the master after the eager job). */
  private def storedBytes(plan: LogicalPlan): Long = {
    val id = plan.collectFirst { case r: execution.LogicalRDD => r.rdd.id }.get
    SparkEnv.get.blockManager.master.getStorageStatus.iterator.flatMap(_.rddBlocks)
      .collect { case (RDDBlockId(`id`, _), s) => s.memSize + s.diskSize }.sum
  }

  /** Blocks until every listener has handled the events posted so far
    * (`waitUntilEmpty` is private[spark]): read listener counts after this,
    * never after a sleep. */
  def drain(spark: SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty()
}
