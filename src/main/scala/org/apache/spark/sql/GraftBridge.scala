package org.apache.spark.sql

import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** Bridge into the one private[sql] entry point a planner extension needs:
  * turning a custom LogicalPlan into a DataFrame. Standard technique for
  * Spark extension libraries (the SparkSessionExtensions API injects rules
  * and strategies but offers no public plan→DataFrame constructor). */
object GraftBridge {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** localCheckpoint + stats reset WITHOUT the external-row round-trip.
    *
    * graft.util.cut's contract is "a fresh stats-less leaf per loop round"
    * (see its scaladoc for why originStats must go). The public route there
    * — `createDataFrame(df.localCheckpoint.rdd, schema)` — pays TWO full
    * row conversions per cut (internal→external in `.rdd`, external→internal
    * in `createDataFrame`), charged on every round of every iterative loop.
    * This bridge keeps the checkpointed INTERNAL rows and wraps them in a
    * LogicalRDD built without originStats: identical planner behavior
    * (stats-less leaf ⇒ same join planning as before), zero conversion.
    * LogicalRDD is a MultiInstanceRelation, so self-joins of a cut frame
    * still deduplicate attribute ids exactly as the public path did. */
  def statlessCut(df: DataFrame, eager: Boolean): DataFrame = {
    val ck = df.localCheckpoint(eager).asInstanceOf[classic.Dataset[Row]]
    val qe = ck.queryExecution
    val plan = execution.LogicalRDD(qe.analyzed.output, qe.toRdd)(
      ck.sparkSession)
    classic.Dataset.ofRows(ck.sparkSession, plan)
  }

  /** Blocks until every listener has handled the events posted so far
    * (`waitUntilEmpty` is private[spark]): read listener counts after this,
    * never after a sleep. */
  def drain(spark: SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty()
}
