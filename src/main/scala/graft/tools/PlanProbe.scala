package graft.tools

import graft.SparkEntry

/** Dev-only measurement harness (guide §1: measure first): splits each
  * declared query's wall time into the driver-side phases the bench's
  * single `toRdd.count()` lumps together —
  *
  *   construct  fn(spark, dir): DataFrame construction, which in Spark
  *              eagerly runs the ANALYZER once per transformation
  *   optimize   queryExecution.optimizedPlan (Catalyst optimizer)
  *   plan       queryExecution.executedPlan (physical planning; with AQE
  *              this is the initial AdaptiveSparkPlan)
  *   execute    toRdd.count() (codegen + scheduling + the actual work;
  *              AQE re-optimization lands here)
  *
  * Same session shape as Bench (master/local partitions/extensions), one
  * untimed warm-up, min of SPARK_GRAFT_BENCH_REPS (default 3). Output:
  * one CSV line per query on stdout — name,construct,optimize,plan,exec.
  * Not part of any driver contract; tuning instrumentation only.
  */
object PlanProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = graft.GraftSession(s"local[$cpus]", cpus.toInt)
    val reps = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "3").toInt
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY").map(_.split(",").map(_.trim).toSet)
    val selected = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.contains(n)) }
    println("query,construct_s,optimize_s,plan_s,exec_s,total_s")
    selected.foreach { case (name, fn) =>
      try {
        fn(spark, sfDir).queryExecution.toRdd.count() // warm-up
        val m = (1 to reps).map { _ =>
          val t0 = System.nanoTime()
          val df = fn(spark, sfDir)
          val t1 = System.nanoTime()
          df.queryExecution.optimizedPlan
          val t2 = System.nanoTime()
          df.queryExecution.executedPlan
          val t3 = System.nanoTime()
          df.queryExecution.toRdd.count()
          val t4 = System.nanoTime()
          (t1 - t0, t2 - t1, t3 - t2, t4 - t3, t4 - t0)
        }
        def mn(f: ((Long, Long, Long, Long, Long)) => Long): Double =
          m.map(f).min / 1e9
        println(f"$name,${mn(_._1)}%.4f,${mn(_._2)}%.4f,${mn(_._3)}%.4f,${mn(_._4)}%.4f,${mn(_._5)}%.4f")
      } catch {
        case e: Throwable =>
          System.err.println(s"[probe] $name failed: ${e.getMessage}")
      }
    }
    spark.stop()
  }
}
