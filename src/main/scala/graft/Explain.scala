package graft

/** Dev tool: print the executed physical plan of named queries (all of
  * them with no args) — the `.explain`-driven iteration loop for plan
  * tuning. `runMain graft.Explain q1 q2 …`; SPARK_GRAFT_SF_DIR selects
  * the data (default sf0.001 — plan SHAPE is scale-invariant, which is
  * the point of reading it).
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    // the factory's injected rules shape the plans being read, so the
    // printed plan is the plan Bench/Verify execute (r16: plan evidence for
    // the optimizer-rule rewrites depends on it).
    // SPARK_GRAFT_EXPLAIN_EXCLUDE (comma-separated rule names) feeds
    // spark.sql.optimizer.excludedRules for before/after captures.
    val spark = GraftSession("local[8]", 8)
    sys.env.get("SPARK_GRAFT_EXPLAIN_EXCLUDE").foreach { ex =>
      spark.conf.set("spark.sql.optimizer.excludedRules", ex)
    }
    val names = if (args.nonEmpty) args.toSeq else SparkEntry.queries.keys.toSeq.sorted
    names.foreach { name =>
      println(s"\n===== $name =====")
      SparkEntry.queries(name)(spark, sfDir).explain("formatted")
    }
    spark.stop()
  }
}
