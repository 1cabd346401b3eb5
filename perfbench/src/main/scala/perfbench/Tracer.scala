package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.util.QueryExecutionListener

/** Wall clock in epoch milliseconds with sub-millisecond resolution, on the
  * same base as the engine's own event times (`System.currentTimeMillis`). */
object Clock {
  private val baseMs = System.currentTimeMillis().toDouble
  private val baseNs = System.nanoTime()
  def nowMs: Double = baseMs + (System.nanoTime() - baseNs) / 1e6
}

/** One recorded interval. `op` is the id of the root span (one export
  * request or one registry row) it belongs to, or -1 when the benchmark
  * attaches it later by time. */
final case class Span(
    kind: String,
    name: String,
    op: Int,
    startMs: Double,
    endMs: Double,
    attrs: Map[String, Any] = Map.empty)

/** Keeps the spans of one run in memory and writes them out at the end.
  *
  * Op and layer spans come from the client thread around the calls into
  * the program. Engine spans come from two public listener APIs: a
  * SparkListener (jobs, stages, tasks, SQL executions) and a
  * QueryExecutionListener (plan phases). The op id travels to jobs as a
  * Spark local property; plan phases carry no properties and are attached
  * to the op whose interval contains them. */
final class Tracer(spark: SparkSession) extends Trace {
  import Tracer._

  private val spans = new ConcurrentLinkedQueue[Span]()

  def record(s: Span): Unit = spans.add(s)

  /** Runs `body` as the root span of op `id`. */
  def op[T](id: Int, name: String)(body: => T): T = {
    spark.sparkContext.setLocalProperty(OpProperty, id.toString)
    try layer(id, "op", name)(body)
    finally spark.sparkContext.setLocalProperty(OpProperty, null)
  }

  /** Runs `body` as a span of kind `kind` under op `id`. */
  def layer[T](id: Int, kind: String, name: String)(body: => T): T = {
    val t0 = Clock.nowMs
    try body
    finally record(Span(kind, name, id, t0, Clock.nowMs))
  }

  // listener-bus state: touched only from the bus thread, read after drain
  private final class JobAcc(val id: Int, val op: Int, val execId: Long, val startMs: Double) {
    var endMs = 0.0
    var stages = 0
    var tasks = 0L
    var runMs = 0L
    var cpuNs = 0L
    var gcMs = 0L
    var durationMs = 0L
    var shuffleWriteB = 0L
    var shuffleReadB = 0L
    var spillB = 0L
    var peakExecMemB = 0L
    var inRows = 0L
    var inBytes = 0L
    var outRows = 0L
    var outBytes = 0L
    var lastTaskEndMs = 0.0
  }
  private val jobs = mutable.LinkedHashMap.empty[Int, JobAcc]
  private val stageToJob = mutable.HashMap.empty[Int, Int]
  private val execStart = mutable.HashMap.empty[Long, Double]

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val props = Option(e.properties)
      val op = props.flatMap(p => Option(p.getProperty(OpProperty))).map(_.toInt).getOrElse(-1)
      val exec = props.flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
        .map(_.toLong).getOrElse(-1L)
      jobs(e.jobId) = new JobAcc(e.jobId, op, exec, e.time.toDouble)
      e.stageIds.foreach(s => stageToJob.getOrElseUpdate(s, e.jobId))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      jobs.get(e.jobId).foreach(_.endMs = e.time.toDouble)
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      stageToJob.get(e.stageInfo.stageId).flatMap(jobs.get).foreach(_.stages += 1)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      stageToJob.get(e.stageId).flatMap(jobs.get).foreach { j =>
        j.tasks += 1
        j.durationMs += e.taskInfo.finishTime - e.taskInfo.launchTime
        j.lastTaskEndMs = math.max(j.lastTaskEndMs, e.taskInfo.finishTime.toDouble)
        val m = e.taskMetrics
        if (m != null) {
          j.runMs += m.executorRunTime
          j.cpuNs += m.executorCpuTime
          j.gcMs += m.jvmGCTime
          j.shuffleWriteB += m.shuffleWriteMetrics.bytesWritten
          j.shuffleReadB += m.shuffleReadMetrics.totalBytesRead
          j.spillB += m.memoryBytesSpilled + m.diskBytesSpilled
          j.peakExecMemB = math.max(j.peakExecMemB, m.peakExecutionMemory)
          j.inRows += m.inputMetrics.recordsRead
          j.inBytes += m.inputMetrics.bytesRead
          j.outRows += m.outputMetrics.recordsWritten
          j.outBytes += m.outputMetrics.bytesWritten
        }
      }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart => execStart(s.executionId) = s.time.toDouble
      case s: SparkListenerSQLExecutionEnd =>
        execStart.remove(s.executionId).foreach { t0 =>
          record(Span("sql", "execution", -1, t0, s.time.toDouble, Map("exec" -> s.executionId)))
        }
      case _ =>
    }
  }

  private val planListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      plan(funcName, qe, durationNs)
    override def onFailure(funcName: String, qe: QueryExecution, error: Exception): Unit =
      plan(funcName, qe, 0L)
    private def plan(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val phases = qe.tracker.phases
      PlanPhases.foreach { p =>
        phases.get(p).foreach { s =>
          record(Span("plan", p, -1, s.startTimeMs.toDouble, s.endTimeMs.toDouble))
        }
      }
      val t0 = phases.values.map(_.startTimeMs).minOption.map(_.toDouble).getOrElse(Clock.nowMs)
      record(Span("execution", funcName, -1, t0, t0 + durationNs / 1e6))
    }
  }

  spark.sparkContext.addSparkListener(sparkListener)
  spark.listenerManager.register(planListener)

  /** Drains the listener bus and returns every span recorded so far. */
  def finish(): Seq[Span] = {
    org.apache.spark.PerfbenchBridge.drainListenerBus(spark.sparkContext)
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(planListener)
    val jobSpans = jobs.values.filter(_.endMs > 0).map { j =>
      Span("job", s"job-${j.id}", j.op, j.startMs, j.endMs, Map(
        "exec" -> j.execId, "stages" -> j.stages, "tasks" -> j.tasks,
        "run_ms" -> j.runMs, "cpu_ns" -> j.cpuNs, "gc_ms" -> j.gcMs,
        "task_ms" -> j.durationMs, "shuffle_write_b" -> j.shuffleWriteB,
        "shuffle_read_b" -> j.shuffleReadB, "spill_b" -> j.spillB,
        "peak_exec_mem_b" -> j.peakExecMemB, "in_rows" -> j.inRows,
        "in_bytes" -> j.inBytes, "out_rows" -> j.outRows,
        "out_bytes" -> j.outBytes, "last_task_end_ms" -> j.lastTaskEndMs))
    }
    spans.asScala.toSeq ++ jobSpans ++ CountingFileSystem.drain()
  }
}

object Tracer {
  val OpProperty = "perfbench.op"
  val PlanPhases: Seq[String] = Seq("analysis", "optimization", "planning")
}
