package graft
import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}

import java.util.concurrent.atomic.AtomicLong

/** Task-metric accumulator for the instrumented bench mode
  * (SPARK_GRAFT_BENCH_METRICS): per-query shuffle read/write and spill
  * bytes, the signals that separate "the plan shuffles too much" from
  * "the sandbox sort spilled" when a query scales badly (VERDICT r9's
  * sf1-tail triage ask). Attribution is deterministic: before every
  * reset/snapshot the listener bus is DRAINED (waitUntilEmpty via the
  * graftbench bridge), so no TaskEnd event from the previous query can
  * bleed into the next query's numbers — the 300 ms settle-sleep this
  * replaces silently mis-attributed under a loaded bus (ADVICE r10).
  * Totals are diagnostic (summed over warm-up + all reps of ONE query in
  * a sequential bench), not part of the timing contract.
  */
private class TaskMetricsAcc(sc: org.apache.spark.SparkContext) extends SparkListener {
  val shuffleRead = new AtomicLong
  val shuffleWrite = new AtomicLong
  val memSpill = new AtomicLong
  val diskSpill = new AtomicLong
  override def onTaskEnd(te: SparkListenerTaskEnd): Unit = {
    val m = te.taskMetrics
    if (m != null) {
      shuffleRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
      shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      memSpill.addAndGet(m.memoryBytesSpilled)
      diskSpill.addAndGet(m.diskBytesSpilled)
    }
  }
  def reset(): Unit = {
    org.apache.spark.graftbench.ListenerDrain.drain(sc)
    shuffleRead.set(0); shuffleWrite.set(0); memSpill.set(0); diskSpill.set(0)
  }
  def json: String = {
    org.apache.spark.graftbench.ListenerDrain.drain(sc)
    s"""{"shuffle_read":${shuffleRead.get},"shuffle_write":${shuffleWrite.get},""" +
      s""""mem_spill":${memSpill.get},"disk_spill":${diskSpill.get}}"""
  }
}

/** Per-round benchmark: runs every declared query on SPARK_GRAFT_SF_DIR.
  * Each query runs one untimed warm-up rep then `SPARK_GRAFT_BENCH_REPS`×
  * (default 3) timed, reporting the MIN (single iterations were too jittery
  * to detect real regressions — VERDICT r3 — and the median of 3 still
  * caught first-touch JIT spikes in a fresh JVM — VERDICT r8).
  * The timed action is `queryExecution.toRdd.count()`,
  * which executes the full physical plan including final sorts and all
  * projected columns — `df.count()` would let Catalyst prune exactly the
  * operators the queries exist to demonstrate.
  *
  * Output contract: stdout carries ONE SHORT JSON line (total + failures +
  * pointer to the detail file) — the per-query map grew past the driver's
  * stdout-tail capture at 80 queries (BENCH_r04 "parsed": null), so the
  * full per-query JSON goes to `SPARK_GRAFT_BENCH_OUT` (default
  * `/root/repo/bench_queries.json`) instead.
  *
  * A query that throws is recorded as -1 in the per-query map and listed
  * in "failed" — never silently summed into the total as if it ran.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val outFile = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "/root/repo/bench_queries.json")
    val spark = GraftSession(s"local[$cpus]", cpus.toInt, logLevel = "WARN")
    val reps = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "3").toInt
    // comma-separated query-id filter for focused reruns while tuning
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).toSet)
    val selected = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.contains(n)) }
    val verbose = sys.env.contains("SPARK_GRAFT_BENCH_VERBOSE")
    // One untimed warm-up rep before the timed ones: first-touch JIT of a
    // query's unique codepaths (variant parse, codegen'd expressions) showed
    // up INSIDE the timed reps in a fresh JVM — e.g. json_variant_get's
    // per-rep profile was 1.40/0.79/1.96 s with the C2 compile landing on
    // rep 3, so even the median of 3 was 2.6× the steady state (VERDICT r8
    // driver-context outliers). The warm-up rep never enters the median.
    val warmup = sys.env.getOrElse("SPARK_GRAFT_BENCH_WARMUP", "1").toInt
    val metricsAcc = if (sys.env.contains("SPARK_GRAFT_BENCH_METRICS")) {
      val a = new TaskMetricsAcc(spark.sparkContext)
      spark.sparkContext.addSparkListener(a)
      Some(a)
    } else None
    val taskMetrics = scala.collection.mutable.LinkedHashMap.empty[String, String]
    val results = selected.map { case (name, fn) =>
      metricsAcc.foreach(_.reset())
      var failed = false
      (1 to warmup).foreach { _ =>
        try { fn(spark, sfDir).queryExecution.toRdd.count() }
        catch { case _: Throwable => () } // failures surface in timed reps
      }
      val raw = (1 to reps).map { _ =>
        val t0 = System.nanoTime()
        try { fn(spark, sfDir).queryExecution.toRdd.count() }
        catch { case e: Throwable =>
          failed = true
          System.err.println(s"[bench] $name failed: ${e.getMessage}") }
        (System.nanoTime() - t0) / 1e9
      }
      if (verbose)
        System.err.println(s"[bench] $name reps: " +
          raw.map(t => f"$t%.3f").mkString(" "))
      metricsAcc.foreach { a =>
        val j = a.json
        taskMetrics(name) = j
        if (verbose) System.err.println(s"[bench] $name metrics: $j")
      }
      // MIN of the timed reps, not median: timing noise is strictly upward
      // (GC pause, late C2 compile, scheduler contention — nothing ever makes
      // a query run FASTER than its steady state), and r8 showed the JIT
      // spike can land on rep 2-3 where it contaminates even a median of 3.
      (name, if (failed) -1.0 else raw.min)
    }
    val ok = results.filter(_._2 >= 0)
    val failed = results.collect { case (n, t) if t < 0 => n }
    val qs = results.map { case (k, v) => "\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val total = ok.map(_._2).sum
    val failedJson = failed.map("\"" + _ + "\"").mkString("[", ",", "]")
    // Storage-residency report: after the round-6 leaked-persist regression
    // (VERDICT r6 — bench times depended on block-manager residency), the
    // bench asserts its own hygiene. With shared subplans materialized to
    // scratch parquet (graft.ops.Scratch) this should be ~zero; a nonzero
    // value here makes any future residency regression attributable.
    val storage = spark.sparkContext.getRDDStorageInfo
    val cachedRdds = storage.length
    val cachedMem = storage.map(_.memSize).sum
    val cachedDisk = storage.map(_.diskSize).sum
    // task_metrics only appears in instrumented runs — the driver's
    // bench_queries.json shape stays exactly as before
    val tmJson = if (taskMetrics.isEmpty) ""
      else s""","task_metrics":${taskMetrics.map { case (k, v) => "\"" + k + "\":" + v }
        .mkString("{", ",", "}")}"""
    val detail =
      s"""{"metric":"total","value":$total,"unit":"sec","n_queries":${results.length},"n_failed":${failed.length},"queries":$qs,"failed":$failedJson,"cached_rdds":$cachedRdds,"cached_mem_bytes":$cachedMem,"cached_disk_bytes":$cachedDisk,"sf":"$sfDir"$tmJson}"""
    // Recorder contract (ADVICE r7): a run with ANY failed query must never
    // replace the last known-good snapshot — round 7 overwrote a clean
    // 264-query baseline with a 38-failure run and the harness's rc:0 let
    // it through. Failed runs go to a sibling `.failed.json` for forensics
    // and the process exits non-zero so no gate keyed on exit code passes.
    val target =
      if (failed.isEmpty) outFile
      else outFile.stripSuffix(".json") + ".failed.json"
    java.nio.file.Files.writeString(java.nio.file.Paths.get(target), detail + "\n")
    println(s"""{"metric":"total","value":$total,"unit":"sec","n_queries":${results.length},"n_failed":${failed.length},"failed":$failedJson,"cached_rdds":$cachedRdds,"cached_mem_bytes":$cachedMem,"queries_file":"$target","sf":"$sfDir"}""")
    spark.stop()
    if (failed.nonEmpty) sys.exit(1)
  }
}
