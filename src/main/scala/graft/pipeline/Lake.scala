package graft.pipeline

import graft.ops.{Conform, Schemas, Sinks}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, GraftSqlBridge, SparkSession}

import java.util.concurrent.{CompletableFuture, CompletionException, ConcurrentLinkedQueue,
  LinkedBlockingQueue, ThreadPoolExecutor, TimeUnit}
import scala.util.{Failure, Success, Try}

/** End-to-end lake build (`/root/reference/scripts/pyspark.py:432-475`):
  * parse the four sources, derive time + fact, quality-gate each of the six
  * outputs, drop staging columns, and write partitioned parquet.
  *
  * The reference runs one output after another; at lake scale each step
  * is a short job, so that chain leaves most cores idle. Here the build is
  * a small dataflow:
  *   - the four parses run at the same time, and `extractTimeAndFact`
  *     runs once asylum, visitor and worker are built;
  *   - asylum, visitor and worker each feed three writes (their own, time
  *     and fact), so each is stored by an eager `localCheckpoint` before
  *     any write reads it. Each source's scans, dedupe shuffle and
  *     code-table broadcasts run once per build, not three times, and no
  *     write's task waits on a block that another write's task is still
  *     computing: what a write runs does not depend on which write reaches
  *     a partition first. Once every write has settled, on success and on
  *     failure, `build` unpersists those RDDs itself (the `GraphOps` idiom)
  *     and waits for the blocks to go, so none outlives the call;
  *   - each output's write starts as soon as its frame exists. It is ONE
  *     job: the gate ([[Conform.quality]]: column order, non-empty) is
  *     observed during the write, and the reported row count is the
  *     observed one. The write lands in a `_<table>` staging directory;
  *   - publishing is all or nothing: once every write has settled, and
  *     only if all six gates passed, each old table is deleted and its
  *     staging directory renamed into place. On any failure every staging
  *     directory is deleted, every table stays as it was, and the first
  *     failure in output order is thrown.
  *
  * The work runs on a pool made for each call, sized to the output list;
  * its threads are all started on entry and shut down before `build`
  * returns. A new thread inherits its creator's active session and Spark
  * local properties (job group, and whatever else the caller set), so
  * these threads carry the caller's values as they are at the call. A
  * shared pool would carry those of whichever call made its threads, and
  * a pool never shut down keeps the JVM alive.
  *
  * The gate checks the frame BEFORE the staging-column drop, like the
  * reference, but against the registry schema so a positionally-corrupted
  * union cannot reach storage.
  */
object Lake {

  /** Staging columns dropped after gating, per output (pyspark.py:450-474). */
  private val stagingDrops: Map[String, Seq[String]] = {
    val dateParts = Seq("arrival_year", "arrival_month", "arrival_day", "arrival_weekday",
      "expiry_year", "expiry_month", "expiry_day", "expiry_weekday")
    Map(
      "country" -> Seq.empty,
      "asylum" -> Seq("year"),
      "visitor" -> dateParts,
      "worker" -> dateParts,
      "time" -> Seq.empty,
      "fact" -> Seq.empty)
  }

  /** Output directory name per schema key (pyspark.py:462-468). */
  val outputDirs: Map[String, String] = Map(
    "country" -> "temperatures", "asylum" -> "asylum", "visitor" -> "visitors",
    "worker" -> "workers", "time" -> "time", "fact" -> "immigration_facts")

  /** Build the full lake; returns per-table row counts as each gate observed them. */
  def build(spark: SparkSession, inputPath: String, outputPath: String): Map[String, Long] = {
    val pool = new ThreadPoolExecutor(outputDirs.size, outputDirs.size, 0L,
      TimeUnit.MILLISECONDS, new LinkedBlockingQueue[Runnable]())
    pool.prestartAllCoreThreads()
    // a CompletableFuture fails on any Throwable; a Scala Future stays
    // uncompleted on a fatal one (StackOverflowError), and the wait below
    // would never return
    def async[T](body: => T) = CompletableFuture.supplyAsync[T](() => body, pool)
    // asylum, visitor and worker each feed three writes: stored once, in
    // one job, before any of the three starts; read thrice
    val checkpoints = new ConcurrentLinkedQueue[DataFrame]()
    def shared(parse: (SparkSession, String) => DataFrame) = async {
      val stored = parse(spark, inputPath).localCheckpoint(eager = true)
      checkpoints.add(stored)
      stored
    }
    try {
      val country = async(Pipelines.parseClimate(spark, inputPath))
      val asylum = shared(Pipelines.parseAsylum)
      val visitor = shared(Pipelines.parseVisitor)
      val worker = shared(Pipelines.parseWorker)
      val timeFact = CompletableFuture.allOf(asylum, visitor, worker).thenApplyAsync(
        (_: Void) => Pipelines.extractTimeAndFact(asylum.join(), visitor.join(), worker.join()),
        pool)
      val outputs: Seq[(String, CompletableFuture[DataFrame])] = Seq(
        "country" -> country, "asylum" -> asylum, "visitor" -> visitor, "worker" -> worker,
        "time" -> timeFact.thenApply(_._1), "fact" -> timeFact.thenApply(_._2))

      val fs = new Path(outputPath).getFileSystem(spark.sparkContext.hadoopConfiguration)
      def staging(key: String) = new Path(outputPath, s"_${outputDirs(key)}")
      val writes = outputs.map { case (key, frame) =>
        key -> frame.thenApplyAsync((df: DataFrame) =>
          Conform.gate(df, Schemas.all(key), key, Conform.quality) { gated =>
            Sinks.writePartitionedParquet(gated.drop(stagingDrops(key): _*),
              staging(key).toString, Schemas.partitioning(key))
          }("n_rows"), pool)
      }
      // every write settles before anything is published or deleted
      val settled = writes.map { case (key, w) => key -> Try(w.join()) }
      try {
        val counts = settled.map {
          case (key, Success(n)) => key -> n
          case (_, Failure(e: CompletionException)) => throw e.getCause
          case (_, Failure(e)) => throw e
        }
        counts.foreach { case (key, _) =>
          val table = new Path(outputPath, outputDirs(key))
          fs.delete(table, true)
          require(fs.rename(staging(key), table),
            s"lake [$key]: could not promote ${staging(key)} to $table")
        }
        counts.toMap
      } finally outputs.foreach { case (key, _) => fs.delete(staging(key), true) }
    } finally {
      pool.shutdown()
      pool.awaitTermination(Long.MaxValue, TimeUnit.NANOSECONDS)
      // no write reads them any more: release the stored blocks now, not
      // whenever a GC lets the ContextCleaner find them, and before the
      // call returns, not while the caller's next job runs
      checkpoints.forEach { stored =>
        GraftSqlBridge.checkpointRdd(stored).foreach(_.unpersist(blocking = true))
      }
    }
  }
}
