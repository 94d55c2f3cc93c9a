package graft

import org.apache.spark.sql.SparkSession

/** The one session factory behind the entry points (Bench, Verify,
  * Explain, PlanProbe, ScaleData, ScaleExperiment) and the test suites.
  * Each caller picks its master and shuffle partition count; every session
  * shares UTC session time, no UI, and the engine's optimizer rules, SQL
  * functions and planner strategy (`GraftExtensions`).
  */
object GraftSession {
  def apply(master: String, partitions: Int, logLevel: String = "ERROR"): SparkSession = {
    val spark = SparkSession.builder()
      .master(master)
      .config("spark.sql.shuffle.partitions", partitions.toLong)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .getOrCreate()
    spark.sparkContext.setLogLevel(logLevel)
    spark
  }
}
