package perfbench

import java.util.Properties
import scala.collection.mutable
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{CommandResultExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.metric.SQLMetric
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.util.QueryExecutionListener

/** Epoch microseconds from one clock, shared by every timestamp the
  * benchmark writes (Spark's own event times are epoch milliseconds). */
object Clock {
  def us(): Long = {
    val i = java.time.Instant.now()
    i.getEpochSecond * 1000000L + i.getNano / 1000
  }
}

/** Counters of one op (or of one stream, for `ingest`). */
final class OpStats {
  var jobs, stages, tasks, pins, actions = 0L
  var taskMs, cpuNs, gcMs, schedMs, pinMs = 0L
  var inBytes, shuffleRead, shuffleWrite, spill = 0L
  var analysisMs, optimizationMs, planningMs = 0L
  var filesWritten, bytesWritten = 0L
}

/** Traced-run recorder: Spark's public listener interfaces only.
  *
  * Jobs, stages and tasks are attributed through the `perfbench.op` local
  * property the job was submitted under, so an event delivered late can
  * never land on the next op. Plan phases carry no job properties; they are
  * attributed to `current`, which the closed loops change only after
  * [[drain]] has delivered every event of the previous op. A pin is a job
  * whose call site is `core.Checkpoints` (the engine's one pin point). */
final class Recorder(spark: SparkSession) extends SparkListener with QueryExecutionListener
    with AdaptiveSparkPlanHelper {
  @volatile var current: String = "setup"
  val stats = mutable.LinkedHashMap.empty[String, OpStats]
  /** (op, start ms, end ms, is pin) per job, for span self time. */
  val jobSpans = mutable.ArrayBuffer.empty[(String, Long, Long, Boolean)]
  /** (op, phase, start ms, end ms) per planning phase. */
  val planSpans = mutable.ArrayBuffer.empty[(String, String, Long, Long)]
  private val jobInfo = mutable.HashMap.empty[Int, (String, Long, Boolean)]
  private val stageOp = mutable.HashMap.empty[Int, String]
  /** Time spent inside this recorder's callbacks. */
  @volatile var callbackNs = 0L

  private def timed(body: => Unit): Unit = synchronized {
    val t = System.nanoTime()
    body
    callbackNs += System.nanoTime() - t
  }
  private def of(op: String) = stats.getOrElseUpdate(op, new OpStats)

  private def opOf(p: Properties): String =
    Option(p).flatMap(p => Option(p.getProperty(Recorder.OpKey)))
      .orElse(Option(p).flatMap(p => Option(p.getProperty("sql.streaming.queryId"))).map(_ => "stream"))
      .getOrElse("other")

  override def onJobStart(e: SparkListenerJobStart): Unit = timed {
    val op = opOf(e.properties)
    // the result stage carries the job's call site as its name
    val pin = e.stageInfos.nonEmpty &&
      e.stageInfos.maxBy(_.stageId).name.contains("Checkpoints.scala")
    jobInfo(e.jobId) = (op, e.time, pin)
    e.stageIds.foreach(stageOp(_) = op)
    val s = of(op)
    s.jobs += 1
    if (pin) s.pins += 1
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = timed {
    jobInfo.remove(e.jobId).foreach { case (op, t0, pin) =>
      jobSpans += ((op, t0, e.time, pin))
      if (pin) of(op).pinMs += e.time - t0
    }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = timed {
    of(stageOp.getOrElse(e.stageInfo.stageId, opOf(e.properties))).stages += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = timed {
    val s = of(stageOp.getOrElse(e.stageId, "other"))
    s.tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      s.taskMs += m.executorRunTime
      s.cpuNs += m.executorCpuTime
      s.gcMs += m.jvmGCTime
      s.inBytes += m.inputMetrics.bytesRead
      s.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      s.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      // Spark UI's scheduler delay: task wall minus everything the
      // executor accounts for
      val info = e.taskInfo
      s.schedMs += math.max(0L, info.duration - m.executorRunTime -
        m.executorDeserializeTime - m.resultSerializationTime - info.gettingResultTime)
    }
  }

  private def onQuery(qe: QueryExecution): Unit = timed {
    val s = of(current)
    s.actions += 1
    qe.tracker.phases.foreach { case (phase, p) =>
      phase match {
        case "analysis" => s.analysisMs += p.durationMs
        case "optimization" => s.optimizationMs += p.durationMs
        case "planning" => s.planningMs += p.durationMs
        case _ =>
      }
      planSpans += ((current, phase, p.startTimeMs, p.endTimeMs))
    }
    // file writes, from the write command's own metrics
    def writes(p: SparkPlan): Seq[Map[String, SQLMetric]] = collect(p) {
      case w: DataWritingCommandExec => Seq(w.cmd.metrics)
      case c: CommandResultExec => writes(c.commandPhysicalPlan)
    }.flatten
    writes(qe.executedPlan).foreach { m =>
      m.get("numFiles").foreach(x => s.filesWritten += x.value)
      m.get("numOutputBytes").foreach(x => s.bytesWritten += x.value)
    }
  }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = onQuery(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = onQuery(qe)

  def attach(): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
  }

  def detach(): Unit = {
    drain()
    spark.listenerManager.unregister(this)
    spark.sparkContext.removeSparkListener(this)
  }

  /** Block until the listener bus has delivered every posted event. */
  def drain(): Unit = org.apache.spark.BenchBus.drain(spark.sparkContext)
}

object Recorder {
  val OpKey = "perfbench.op"
}
