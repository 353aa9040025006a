package perfbench

import scala.collection.mutable

import org.apache.spark.SparkConf
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Per-layer counters of one window of a traced run (the last set-up,
  * or all counted passes together). Filled on the listener thread and
  * by the driver's spans; read by the driver only after a drain. */
final class Acc {
  val count = mutable.LinkedHashMap.empty[String, Double].withDefaultValue(0.0)
  /** jobs per op, and shuffle records written per (op, SQL execution
    * run by the op's builder) in the order the executions started — one
    * entry per convergence action of an iterative operator */
  val opJobs = mutable.Map.empty[String, Long].withDefaultValue(0L)
  val execRecords = mutable.LinkedHashMap.empty[(String, String), Long]

  def add(k: String, v: Double): Unit = count(k) += v
}

/** The benchmark's tracing: a SparkListener and a
  * QueryExecutionListener (registered through the session config only
  * when tracing), plus driver-side spans around the calls into the
  * engine. Jobs are attributed to a phase (load / build / action) and
  * an op by the local properties the driver sets before each call —
  * not by call site, since AQE's stage jobs all carry
  * CompletableFuture call sites. */
object Trace {
  val PhaseKey = "perfbench.phase"
  val OpKey = "perfbench.op"

  @volatile var enabled = false
  private val windows = mutable.Map.empty[String, Acc]
  /** Changed by the driver only right after a drain, so every event
    * handled under a window was raised during it. */
  @volatile private var current = "none"

  private final case class JobTag(acc: Acc, phase: String, op: String,
                                  exec: String, sources: Boolean, start: Long)
  private val jobs = mutable.Map.empty[Int, JobTag]
  private val stageJob = mutable.Map.empty[Int, Int]

  def begin(window: String, reset: Boolean): Unit = synchronized {
    if (reset) windows.remove(window)
    current = window
  }

  def acc(window: String): Acc = synchronized(windows.getOrElseUpdate(window, new Acc))
  private def cur: Acc = acc(current)

  /** A driver-side span: `phase` time of the current window. */
  def span(phase: String, ms: Double): Unit =
    if (enabled) synchronized(cur.add(s"span.$phase", ms))

  private[perfbench] def jobStart(e: SparkListenerJobStart): Unit = synchronized {
    def prop(k: String) = Option(e.properties).flatMap(p => Option(p.getProperty(k))).getOrElse("")
    val phase = prop(PhaseKey)
    // a schema-inference or footer job launched inside the engine's
    // source layer (e.g. Tables.load called from a query builder)
    val sources = e.stageInfos.exists(s =>
      s.name.contains("Tables.scala") || s.details.contains("graft.sources.Tables"))
    val a = cur
    val tag = JobTag(a, phase, prop(OpKey), prop("spark.sql.execution.id"), sources, e.time)
    jobs(e.jobId) = tag
    e.stageIds.foreach(stageJob(_) = e.jobId)
    a.add("jobs", 1)
    if (phase == "build" && !sources) a.add("build_jobs", 1)
    if (phase == "load" || sources) a.add("load_jobs", 1)
    if (tag.op.nonEmpty) a.opJobs(tag.op) += 1
  }

  private[perfbench] def jobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.remove(e.jobId).foreach { t =>
      // load-phase jobs are inside the load span already; those run
      // inside a builder are inside the build span too
      if (t.sources && t.phase != "load") t.acc.add("load_job_ms", e.time - t.start)
      if (t.sources && t.phase == "build") t.acc.add("build_load_job_ms", e.time - t.start)
    }
  }

  private[perfbench] def stageDone(e: SparkListenerStageCompleted): Unit =
    synchronized(cur.add("stages", 1))

  private[perfbench] def taskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    val a = cur
    a.add("tasks", 1)
    if (m != null) {
      a.add("task_deser_ms", m.executorDeserializeTime)
      a.add("task_cpu_ms", m.executorCpuTime / 1e6)
      a.add("gc_ms", m.jvmGCTime)
      a.add("shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten)
      a.add("shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead)
      for (j <- stageJob.get(e.stageId); t <- jobs.get(j)
           if t.phase == "build" && t.op.nonEmpty && t.exec.nonEmpty) {
        val k = (t.op, t.exec)
        t.acc.execRecords(k) = t.acc.execRecords.getOrElse(k, 0L) +
          m.shuffleWriteMetrics.recordsWritten
      }
    }
  }

  private[perfbench] def planned(qe: QueryExecution): Unit = synchronized {
    val a = cur
    qe.tracker.phases.foreach { case (phase, s) => a.add(s"plan_${phase}_ms", s.durationMs) }
  }
}

/** Registered with `spark.extraListeners` in traced runs. */
class TraceListener(conf: SparkConf) extends SparkListener {
  override def onJobStart(e: SparkListenerJobStart): Unit = Trace.jobStart(e)
  override def onJobEnd(e: SparkListenerJobEnd): Unit = Trace.jobEnd(e)
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = Trace.stageDone(e)
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Trace.taskEnd(e)
}

/** Registered with `spark.sql.queryExecutionListeners` in traced runs:
  * Catalyst's optimization and planning phase times of every
  * executed query. */
class PlanListener extends QueryExecutionListener {
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    Trace.planned(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    Trace.planned(qe)
}
