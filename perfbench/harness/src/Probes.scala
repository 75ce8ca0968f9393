package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.logging.log4j.core.{Appender, LogEvent, LoggerContext}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.Property
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.util.QueryExecutionListener

/** A span of the traced run: `kind` is run, pass, op, build, action, job or
  * stage; times are epoch microseconds. */
final case class Span(id: Long, parent: Long, kind: String, name: String,
                      startUs: Long, endUs: Long, attrs: Map[String, String] = Map.empty)

object Clock {
  private val baseMs = System.currentTimeMillis()
  private val baseNs = System.nanoTime()
  def nowUs: Long = baseMs * 1000L + (System.nanoTime() - baseNs) / 1000L
}

/** Scheduler, execution and data-movement counters, attributed to the op
  * (and its build or action phase) through the job's local properties. */
final class JobProbe(cores: Int, spans: ConcurrentLinkedQueue[Span], nextId: () => Long)
    extends SparkListener {
  final class Counters {
    var jobs, stages, tasks = 0L
    var delayMs, runMs, cpuNs, gcMs, peakMem = 0L
    var shuffleWrite, shuffleRead, fetchWaitMs, spill, input = 0L
    var idleSlotMs = 0L
  }
  val byOp = mutable.Map.empty[String, Counters]
  val buildJobs = mutable.Map.empty[String, Long]
  private val stageOwner = mutable.Map.empty[Int, (String, Long)]
  private val jobOwner = mutable.Map.empty[Int, (String, Long, Long, Seq[Int], Long)]
  private val jobTaskMs = mutable.Map.empty[Int, Long]

  private def counters(op: String) = byOp.getOrElseUpdate(op, new Counters)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val props = Option(e.properties)
    val op = props.flatMap(p => Option(p.getProperty("perfbench.op"))).getOrElse("-")
    val parent = props.flatMap(p => Option(p.getProperty("perfbench.span"))).map(_.toLong).getOrElse(0L)
    if (props.flatMap(p => Option(p.getProperty("perfbench.phase"))).contains("build"))
      buildJobs(op) = buildJobs.getOrElse(op, 0L) + 1
    val span = nextId()
    jobOwner(e.jobId) = (op, span, parent, e.stageIds, e.time)
    e.stageIds.foreach(s => stageOwner.getOrElseUpdate(s, (op, span)))
    jobTaskMs(e.jobId) = 0L
    counters(op).jobs += 1
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobOwner.remove(e.jobId).foreach { case (op, span, parent, _, startMs) =>
      spans.add(Span(span, parent, "job", s"job ${e.jobId}", startMs * 1000L, e.time * 1000L))
      counters(op).idleSlotMs +=
        math.max(0L, (e.time - startMs) * cores - jobTaskMs.getOrElse(e.jobId, 0L))
      jobTaskMs.remove(e.jobId)
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val info = e.stageInfo
    val (op, jobSpan) = stageOwner.getOrElse(info.stageId, ("-", 0L))
    counters(op).stages += 1
    for (s <- info.submissionTime; c <- info.completionTime)
      spans.add(Span(nextId(), jobSpan, "stage", s"stage ${info.stageId}", s * 1000L, c * 1000L,
        Map("tasks" -> info.numTasks.toString)))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val (op, _) = stageOwner.getOrElse(e.stageId, ("-", 0L))
    val c = counters(op)
    c.tasks += 1
    val ti = e.taskInfo
    jobOwner.collectFirst { case (j, (_, _, _, st, _)) if st.contains(e.stageId) => j }
      .foreach(j => jobTaskMs(j) = jobTaskMs.getOrElse(j, 0L) + ti.duration)
    Option(e.taskMetrics).foreach { m =>
      c.runMs += m.executorRunTime
      c.cpuNs += m.executorCpuTime
      c.gcMs += m.jvmGCTime
      c.peakMem = math.max(c.peakMem, m.peakExecutionMemory)
      c.delayMs += math.max(0L, ti.duration - m.executorRunTime - m.executorDeserializeTime -
        m.resultSerializationTime - (if (ti.gettingResult) ti.finishTime - ti.gettingResultTime else 0L))
      c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      c.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
      c.spill += m.diskBytesSpilled
      c.input += m.inputMetrics.bytesRead
    }
  }
}

/** Catalyst phase times and join output rows of every finished query
  * execution, keyed by the epoch-ms at which its analysis started. */
final class PlanProbe extends QueryExecutionListener {
  final case class Exec(startMs: Long, analysisMs: Long, optimizationMs: Long,
                        planningMs: Long, joinRows: Long)
  val execs = new ConcurrentLinkedQueue[Exec]()

  private def joinRows(plan: SparkPlan): Long = {
    val own = if (plan.nodeName.contains("Join") || plan.nodeName.contains("CartesianProduct"))
      plan.metrics.get("numOutputRows").map(_.value).getOrElse(0L) else 0L
    val inner = plan match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec => Seq(q.plan)
      case p => p.children ++ p.subqueries
    }
    own + inner.map(joinRows).sum
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val ph = qe.tracker.phases
    def ms(k: String) = ph.get(k).map(_.durationMs).getOrElse(0L)
    val start = if (ph.isEmpty) System.currentTimeMillis() else ph.values.map(_.startTimeMs).min
    execs.add(Exec(start, ms("analysis"), ms("optimization"), ms("planning"),
      scala.util.Try(joinRows(qe.executedPlan)).getOrElse(0L)))
  }
  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
}

/** Counts the cache-hygiene warnings ("already cached" data and blocks that
  * "already exist") per op. The events still reach the log file. */
final class CacheWarnings extends AbstractAppender("perfbench-cache-warnings", null, null,
    true, Property.EMPTY_ARRAY) {
  @volatile var currentOp: String = "-"
  val byOp = new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()
  override def append(e: LogEvent): Unit = {
    val m = e.getMessage.getFormattedMessage
    if (m.contains("already cached") || m.contains("already exists"))
      byOp.merge(currentOp, 1L, (a: java.lang.Long, b: java.lang.Long) => a + b)
  }
  def install(): Unit = {
    val ctx = org.apache.logging.log4j.LogManager.getContext(false).asInstanceOf[LoggerContext]
    start()
    ctx.getConfiguration.addAppender(this)
    ctx.getConfiguration.getRootLogger.addAppender(this: Appender,
      org.apache.logging.log4j.Level.WARN, null)
    ctx.updateLoggers()
  }
}
