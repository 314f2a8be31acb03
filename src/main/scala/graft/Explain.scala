package graft

/** Dev utility: print the FINAL (post-AQE) formatted physical plan of one or
  * more registered keys under the bench session config. Usage:
  * `runMain graft.Explain <sfDir> <key>[,key...]`. Complements [[Jobs]]
  * (which times keys and counts their jobs) and [[Plans]] (which snapshots
  * the showcase list into PLANS.md at sf0.001) — this one is for diagnosing
  * plan instability at the bench SF without touching PLANS.md. */
object Explain {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, keys) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = GraftSession.builder(s"local[$cpus]", cpus.toInt)
      .config("spark.sql.warehouse.dir", Staging.dir("warehouse"))
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    keys.split(",").foreach { k =>
      val df = SparkEntry.queries(k)(spark, sfDir)
      df.collect() // drive AQE to the final plan
      println(s"==== $k ====")
      println(df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode).take(14000))
    }
    spark.stop()
  }
}
