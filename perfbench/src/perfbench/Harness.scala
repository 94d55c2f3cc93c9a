package perfbench

import graft.SparkEntry
import graft.ops.Scratch
import graft.pipeline.LakeMain
import org.apache.spark.graftbench.ListenerDrain
import org.apache.spark.sql.{DataFrame, SparkSession}

import java.io.File
import java.nio.file.{Files, Paths}
import scala.collection.mutable

/** One benchmark run in a fresh JVM: builds the session the way
  * `graft.Bench` does, runs one workload closed-loop from a single client
  * (a cold pass, then steady passes until `--seconds` have passed and
  * `--min-passes` steady passes are done), and writes every measurement to
  * `--out` as JSON. With `--queries` a pass runs those queries in an order
  * drawn from `--seed`; without, a pass is one `LakeMain.run` into a fresh
  * output directory. The line `PERFBENCH READY` on stdout marks the moment
  * the session is ready, which the caller times as set-up.
  *
  * Everything is observed from outside the program: calls into public
  * functions are timed here, Spark work is seen through listeners, and
  * scratch and txlog artifacts are counted on the filesystem.
  */
object Harness {
  val CtxKey = "perfbench.ctx"
  private val HardStopS = 120.0

  type Q = (SparkSession, String) => DataFrame

  private val nanoAt0 = System.nanoTime()
  private val epochAt0 = System.currentTimeMillis()
  def epochMs(nano: Long): Double = epochAt0 + (nano - nanoAt0) / 1e6

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val cores = opt("cores").toInt
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark.sql("SELECT 1") // session state built: the extensions' parser is in place
    println("PERFBENCH READY")
    System.out.flush()
    try new Harness(spark, opt, cores).run()
    finally spark.stop()
  }
}

final class Harness(spark: SparkSession, opt: Map[String, String], cores: Int) {
  import Harness._

  private val sc = spark.sparkContext
  private val seed = opt("seed").toLong
  private val seconds = opt("seconds").toDouble
  private val traced = opt("trace") == "1"
  private val minSteady = opt("min-passes").toInt
  private val written = new WrittenBytes
  private val tracer = if (traced) Some(new Tracer) else None

  private val spans = mutable.ArrayBuffer.empty[Map[String, Any]]
  private val passes = mutable.ArrayBuffer.empty[Map[String, Any]]
  private val records = mutable.ArrayBuffer.empty[Map[String, Any]]

  private def span(level: String, name: String, pass: Int, query: String,
                   t0: Long, t1: Long): Unit =
    if (traced) spans += Json.obj("level" -> level, "name" -> name, "pass" -> pass,
      "query" -> query, "start_ms" -> epochMs(t0), "end_ms" -> epochMs(t1))

  private def setCtx(pass: Int, query: String, phase: String): Unit =
    sc.setLocalProperty(CtxKey, s"$pass\t$query\t$phase")

  /** Times `body` as one phase span of `query` in `pass`. */
  private def phase[T](pass: Int, query: String, name: String)(body: => T): (T, Double) = {
    setCtx(pass, query, name)
    val t0 = System.nanoTime()
    val r = body
    val t1 = System.nanoTime()
    span("phase", name, pass, query, t0, t1)
    (r, (t1 - t0) / 1e9)
  }

  def run(): Unit = {
    HeapPeak.install()
    sc.addSparkListener(written)
    tracer.foreach { t => sc.addSparkListener(t); spark.listenerManager.register(t) }
    val started = System.nanoTime()
    val tmpdir = sys.props("java.io.tmpdir")
    def elapsedS = (System.nanoTime() - started) / 1e9

    val runPass: Int => Unit = opt.get("queries") match {
      case None => lakePass
      case Some(names) =>
        val all = SparkEntry.queries
        val family = names.split(',').toSeq.sorted.map(n => n -> all(n))
        val rng = new scala.util.Random(seed)
        p => queryPass(p, rng.shuffle(family))
    }
    runPass(0)
    val fsCold = ArtifactCounts.of(tmpdir)
    val steadyStart = System.nanoTime()
    var p = 1
    // at least one steady pass; then until --min-passes steady passes are
    // done and --seconds have passed, unless the hard stop comes first
    while (p == 1 || ((p - 1 < minSteady || (System.nanoTime() - steadyStart) / 1e9 < seconds) &&
      elapsedS < HardStopS)) {
      runPass(p)
      p += 1
    }
    val fsEnd = ArtifactCounts.of(tmpdir)
    ListenerDrain.drain(sc)
    val out = Json.obj(
      "env" -> Json.obj("cores" -> cores, "master" -> sc.master,
        "spark" -> spark.version, "java" -> sys.props("java.version"),
        "max_heap_mb" -> Runtime.getRuntime.maxMemory / 1048576.0,
        "scratch_base" -> Scratch.base, "seed" -> seed, "seconds" -> seconds,
        "min_steady_passes" -> minSteady),
      "passes" -> passes,
      "queries" -> records,
      "fs_cold" -> fsCold,
      "fs_end" -> fsEnd,
      "heap_peak_mb" -> HeapPeak.bytes / 1048576.0,
      "trace" -> tracer.map(t => t.json + ("spans" -> spans)))
    Files.writeString(Paths.get(opt("out")), Json(out))
  }

  /** Brackets one pass: wall time, and the bytes its tasks wrote. */
  private def passSpan(p: Int)(body: => Map[String, Any]): Unit = {
    ListenerDrain.drain(sc)
    val w0 = written.bytes.get
    setCtx(p, "", "pass")
    val t0 = System.nanoTime()
    val extra = body
    val t1 = System.nanoTime()
    sc.setLocalProperty(CtxKey, null)
    ListenerDrain.drain(sc)
    span("pass", s"pass$p", p, "", t0, t1)
    passes += Json.obj("pass" -> p, "start_ms" -> epochMs(t0), "end_ms" -> epochMs(t1),
      "wall_s" -> (t1 - t0) / 1e9, "written_bytes" -> (written.bytes.get - w0)) ++ extra
  }

  private def queryPass(p: Int, order: Seq[(String, Q)]): Unit = passSpan(p) {
    val dir = opt("data")
    order.foreach { case (name, fn) =>
      val t0 = System.nanoTime()
      val rec = try {
        val (df, construct) = phase(p, name, "construct")(fn(spark, dir))
        val qe = df.queryExecution
        val analysis = qe.tracker.phases.get("analysis").map(_.durationMs / 1e3).getOrElse(0.0)
        val (_, optimize) = phase(p, name, "optimize")(qe.optimizedPlan)
        val (_, physical) = phase(p, name, "physical")(qe.executedPlan)
        val ((rows, digest), execute) = phase(p, name, "execute")(Digest.of(qe))
        Json.obj("construct_s" -> construct, "analysis_s" -> analysis,
          "optimize_s" -> optimize, "physical_s" -> physical, "execute_s" -> execute,
          "rows" -> rows, "digest" -> digest)
      } catch {
        case e: Throwable =>
          System.err.println(s"[perfbench] $name failed: $e")
          Json.obj("error" -> String.valueOf(e))
      }
      val t1 = System.nanoTime()
      span("query", name, p, name, t0, t1)
      records += Json.obj("pass" -> p, "query" -> name, "total_s" -> (t1 - t0) / 1e9) ++ rec
    }
    Map.empty
  }

  private def lakePass(p: Int): Unit = {
    val out = s"${opt("lake-out")}/pass$p"
    var rec: Map[String, Any] = Map.empty
    passSpan(p) {
      val t0 = System.nanoTime()
      rec = try {
        val (counts, _) = phase(p, "lake", "run")(LakeMain.run(spark, opt("lake-in"), out))
        Json.obj("counts" -> counts)
      } catch {
        case e: Throwable =>
          System.err.println(s"[perfbench] lake pass $p failed: $e")
          Json.obj("error" -> String.valueOf(e))
      }
      val t1 = System.nanoTime()
      span("query", "lake_build", p, "lake", t0, t1)
      records += Json.obj("pass" -> p, "query" -> "lake_build", "total_s" -> (t1 - t0) / 1e9) ++ rec
      Json.obj("out" -> out, "files" -> ArtifactCounts.parquetFiles(new File(out)))
    }
  }
}

/** Filesystem view of what a run left behind: scratch artifacts and txlog
  * tables under the scratch roots, parquet part files under a lake output.
  */
object ArtifactCounts {
  private def walk(f: File): Iterator[File] =
    if (f.isDirectory) Option(f.listFiles).iterator.flatten.flatMap(walk) else Iterator(f)

  def of(tmpdir: String): Map[String, Any] = {
    val roots = Option(new File(tmpdir).listFiles).toSeq.flatten
      .filter(f => f.isDirectory && f.getName.startsWith("graft-scratch"))
    val entries = roots.flatMap(r => Option(r.listFiles).toSeq.flatten)
    val (txlog, scratch) = entries.partition(e => walk(e).exists(_.getParentFile.getName == "_txlog"))
    val txFiles = txlog.flatMap(walk)
    val scFiles = scratch.flatMap(walk)
    Json.obj(
      "scratch_builds" -> scratch.size,
      "scratch_bytes" -> scFiles.map(_.length).sum,
      "txlog_tables" -> txlog.size,
      "txlog_commits" -> txFiles.count(f => f.getParentFile.getName == "_txlog" &&
        f.getName.matches("\\d{20}\\.json")),
      "txlog_files" -> txFiles.size,
      "txlog_bytes" -> txFiles.map(_.length).sum)
  }

  def parquetFiles(dir: File): Map[String, Any] = {
    val files = walk(dir).filter(_.getName.endsWith(".parquet")).toSeq
    Json.obj("count" -> files.size, "bytes" -> files.map(_.length).sum)
  }
}
