package perfbench

import com.sun.management.GarbageCollectionNotificationInfo
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.util.QueryExecutionListener

import java.lang.management.ManagementFactory
import java.util.concurrent.atomic.AtomicLong
import javax.management.openmbean.CompositeData
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Always-on counter for the untraced run: bytes that tasks write (files
  * plus shuffle files), `query_mix`'s stand-in numerator of `write_amp`.
  */
final class WrittenBytes extends SparkListener {
  val bytes = new AtomicLong
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) bytes.addAndGet(m.outputMetrics.bytesWritten + m.shuffleWriteMetrics.bytesWritten)
  }
}

/** Peak old-generation heap after any garbage collection, in bytes. */
object HeapPeak {
  private val peak = new AtomicLong
  private def isOld(pool: String) = pool.contains("Old") || pool.contains("Tenured")

  def install(): Unit = {
    val listener = new NotificationListener {
      def handleNotification(n: Notification, hb: Any): Unit =
        if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
          val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
          info.getGcInfo.getMemoryUsageAfterGc.asScala.foreach { case (pool, u) =>
            if (isOld(pool)) peak.accumulateAndGet(u.getUsed, math.max)
          }
        }
    }
    ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
      case e: NotificationEmitter => e.addNotificationListener(listener, null, null)
      case _ =>
    }
  }

  def bytes: Long = {
    val last = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(p => isOld(p.getName)).flatMap(p => Option(p.getCollectionUsage)).map(_.getUsed)
    (last :+ peak.get).max
  }
}

/** Traced run only: one record per job and per stage, with the task
  * metrics of each stage summed, the call site of every SQL execution, and
  * every SQL action the program runs. Events arrive on Spark's listener
  * bus; the harness drains the bus before reading.
  */
final class Tracer extends SparkListener with QueryExecutionListener {
  final class Stage(val id: Int, val job: Int) {
    var name = ""
    var start = 0L
    var end = 0L
    var tasks = 0L
    var runMs = 0L
    var cpuNs = 0L
    var gcMs = 0L
    var inBytes = 0L
    var inRows = 0L
    var shWrite = 0L
    var shRead = 0L
    var fetchWaitMs = 0L
    var spill = 0L
    var resultBytes = 0L
  }
  final class Job(val id: Int, val start: Long, val ctx: String, val sqlExec: String,
                  val callSite: String, val module: Option[String], val stages: Seq[Int]) {
    var end = 0L
  }

  val jobs = mutable.LinkedHashMap.empty[Int, Job]
  val stages = mutable.LinkedHashMap.empty[Int, Stage]
  val actions = mutable.ArrayBuffer.empty[(Long, Double, String)]
  // SQL execution id -> (module of the thread that started it, root execution)
  val execs = mutable.LinkedHashMap.empty[Long, (Option[String], Option[Long])]

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart =>
      synchronized { execs(s.executionId) = (Modules.of(s.details), s.rootExecutionId) }
    case _ =>
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val props = Option(e.properties)
    def prop(k: String) = props.flatMap(p => Option(p.getProperty(k))).orNull
    val last = if (e.stageInfos.isEmpty) None else Some(e.stageInfos.maxBy(_.stageId))
    val site = last.map(_.details).getOrElse("")
    jobs(e.jobId) = new Job(e.jobId, e.time, prop(Harness.CtxKey), prop("spark.sql.execution.id"),
      last.map(_.name).getOrElse(""), Modules.of(site), e.stageIds)
    e.stageIds.foreach(s => stages.getOrElseUpdate(s, new Stage(s, e.jobId)))
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.end = e.time)
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    stages.get(i.stageId).foreach { s =>
      s.name = i.name
      s.start = i.submissionTime.getOrElse(0L)
      s.end = i.completionTime.getOrElse(0L)
    }
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    stages.get(e.stageId).foreach { s =>
      s.tasks += 1
      if (m != null) {
        s.runMs += m.executorRunTime
        s.cpuNs += m.executorCpuTime
        s.gcMs += m.jvmGCTime
        s.inBytes += m.inputMetrics.bytesRead
        s.inRows += m.inputMetrics.recordsRead
        s.shWrite += m.shuffleWriteMetrics.bytesWritten
        s.shRead += m.shuffleReadMetrics.totalBytesRead
        s.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
        s.spill += m.diskBytesSpilled
        s.resultBytes += m.resultSize
      }
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    synchronized { actions += ((System.currentTimeMillis(), durationNs / 1e9, funcName)) }
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    synchronized { actions += ((System.currentTimeMillis(), 0.0, funcName + ":failed")) }

  def json: Map[String, Any] = synchronized {
    Map(
      "jobs" -> jobs.values.map { j =>
        Json.obj("id" -> j.id, "start_ms" -> j.start, "end_ms" -> j.end,
          "ctx" -> j.ctx, "sql_exec" -> j.sqlExec, "call_site" -> j.callSite,
          "module" -> j.module, "stages" -> j.stages)
      }.toSeq,
      "stages" -> stages.values.filter(_.tasks > 0).map { s =>
        Json.obj("id" -> s.id, "job" -> s.job, "name" -> s.name, "start_ms" -> s.start,
          "end_ms" -> s.end, "tasks" -> s.tasks, "run_ms" -> s.runMs, "cpu_ns" -> s.cpuNs,
          "gc_ms" -> s.gcMs, "in_bytes" -> s.inBytes, "in_rows" -> s.inRows,
          "shuffle_write" -> s.shWrite, "shuffle_read" -> s.shRead,
          "fetch_wait_ms" -> s.fetchWaitMs, "spill" -> s.spill, "result_bytes" -> s.resultBytes)
      }.toSeq,
      "sql_execs" -> execs.map { case (id, (m, root)) =>
        Json.obj("id" -> id, "module" -> m, "root" -> root)
      }.toSeq,
      "sql_actions" -> actions.map { case (t, d, f) =>
        Json.obj("end_ms" -> t, "duration_s" -> d, "func" -> f)
      }.toSeq)
  }
}

/** Assigns a Spark job to a repo module from its call site: the first
  * stack frame in program code (`graft.*`) names the module, and a first
  * frame in the benchmark itself means the benchmark's own terminal action,
  * which is plain plan execution (`exec`).
  */
object Modules {
  def of(callStack: String): Option[String] =
    callStack.split('\n').iterator.map(_.trim).map(l => l.takeWhile(_ != '(')).collectFirst {
      case f if f.startsWith("perfbench.") => "exec"
      case f if f.startsWith("graft.") => module(f.split('.').toSeq.drop(1))
    }

  private def module(path: Seq[String]): String = {
    def name(s: String) = s.takeWhile(_ != '$')
    path match {
      case Seq(pkg @ ("ops" | "pipeline"), cls, _*) => s"$pkg.${name(cls)}"
      case Seq("queries", _*) => "queries"
      case Seq("plans" | "functions", _*) => "plans"
      case Seq("sources", _*) => "sources"
      case Seq(cls, _*) if name(cls) == "Tables" => "sources"
      case Seq(cls, _*) if name(cls) == "SparkEntry" => "queries"
      case Seq(pkg, _*) => name(pkg)
      case _ => "graft"
    }
  }
}
