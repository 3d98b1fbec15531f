package perfbench

import scala.collection.mutable

import org.apache.logging.log4j.{Level, LogManager}
import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.{LoggerConfig, Property}
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.util.QueryExecutionListener

/** Per-job totals folded from task-end events. */
final class JobRec(val id: Int, val startMs: Long) {
  var endMs: Long = -1L
  var stages = 0
  var tasks = 0
  var failedTasks = 0
  var emptyTasks = 0
  var cpuNs = 0L
  var waitMs = 0L
  var shuffleReadB = 0L
  var shuffleWriteB = 0L
  var spillB = 0L
  var inputB = 0L
  var outputB = 0L
}

/** One observed action: its planning phases (epoch ms) and the largest
  * `numOutputRows` of any node of its executed plan. */
final case class ActionRec(func: String, phases: Map[String, (Long, Long)],
                           peakRows: Long, ok: Boolean)

/** Everything the traced passes observe from outside the program: a
  * SparkListener for jobs, stages and tasks, a QueryExecutionListener for
  * the planning phases and plan row counts of each action, and a log
  * appender on Spark's code generator for the Janino compile intervals.
  * Attach and detach bracket the traced passes; events are only kept in
  * memory. */
final class Recorder(spark: SparkSession) {
  val jobs = mutable.ArrayBuffer.empty[JobRec]
  val actions = mutable.ArrayBuffer.empty[ActionRec]
  val compiles = mutable.ArrayBuffer.empty[(Double, Double)] // (end ms, dur ms)
  private val stageJob = mutable.Map.empty[Int, JobRec]
  private val byId = mutable.Map.empty[Int, JobRec]

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val j = new JobRec(e.jobId, e.time)
      jobs += j
      byId(e.jobId) = j
      e.stageIds.foreach(s => stageJob(s) = j)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      byId.get(e.jobId).foreach(_.endMs = e.time)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      synchronized { stageJob.get(e.stageInfo.stageId).foreach(_.stages += 1) }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      stageJob.get(e.stageId).foreach { j =>
        j.tasks += 1
        if (!e.taskInfo.successful) j.failedTasks += 1
        val m = e.taskMetrics
        if (m != null) {
          val recIn = m.inputMetrics.recordsRead +
            m.shuffleReadMetrics.recordsRead
          val recOut = m.shuffleWriteMetrics.recordsWritten +
            m.outputMetrics.recordsWritten
          if (recIn == 0 && recOut == 0) j.emptyTasks += 1
          j.cpuNs += m.executorCpuTime
          // scheduler delay, as the Spark UI derives it
          val ti = e.taskInfo
          val fetch =
            if (ti.gettingResultTime > 0) ti.finishTime - ti.gettingResultTime
            else 0L
          j.waitMs += math.max(0L, (ti.finishTime - ti.launchTime) -
            m.executorRunTime - m.executorDeserializeTime -
            m.resultSerializationTime - fetch)
          j.shuffleReadB += m.shuffleReadMetrics.totalBytesRead
          j.shuffleWriteB += m.shuffleWriteMetrics.bytesWritten
          j.spillB += m.diskBytesSpilled
          j.inputB += m.inputMetrics.bytesRead
          j.outputB += m.outputMetrics.bytesWritten
        }
      }
    }
  }

  private def planNodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => planNodes(a.executedPlan)
    case s: QueryStageExec => s +: planNodes(s.plan)
    case _ => p +: (p.children ++ p.subqueries).flatMap(planNodes)
  }

  private def record(func: String, qe: QueryExecution, ok: Boolean): Unit = {
    val phases = qe.tracker.phases.map { case (k, v) =>
      k -> (v.startTimeMs, v.endTimeMs) }
    val peak = if (!ok) 0L else try {
      planNodes(qe.executedPlan).flatMap(_.metrics.get("numOutputRows"))
        .map(_.value).foldLeft(0L)(math.max)
    } catch { case _: Throwable => 0L }
    synchronized { actions += ActionRec(func, phases, peak, ok) }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, d: Long): Unit =
      record(f, qe, ok = true)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
      record(f, qe, ok = false)
  }

  private val codegenLogger =
    "org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator"
  private val Generated = """Code generated in ([0-9.]+) ms""".r.unanchored
  private val appender = new AbstractAppender("perfbench-codegen", null, null,
      true, Property.EMPTY_ARRAY) {
    override def append(e: LogEvent): Unit =
      e.getMessage.getFormattedMessage match {
        case Generated(ms) =>
          val end = e.getInstant.getEpochMillisecond +
            e.getInstant.getNanoOfMillisecond / 1e6
          Recorder.this.synchronized { compiles += ((end, ms.toDouble)) }
        case _ =>
      }
  }
  appender.start()

  private def setCodegenLogging(on: Boolean): Unit = {
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    val cfg = ctx.getConfiguration
    if (on) {
      val lc = new LoggerConfig(codegenLogger, Level.INFO, false)
      lc.addAppender(appender, Level.INFO, null)
      cfg.addLogger(codegenLogger, lc)
    } else cfg.removeLogger(codegenLogger)
    ctx.updateLoggers()
  }

  def attach(): Unit = {
    spark.sparkContext.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
    setCodegenLogging(on = true)
  }

  def detach(): Unit = {
    org.apache.spark.perfbench.Bus.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
    setCodegenLogging(on = false)
  }
}
