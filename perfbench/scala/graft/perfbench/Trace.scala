package graft.perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanLike, QueryExecution}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

import scala.collection.mutable.ArrayBuffer

/** Wall clock in epoch milliseconds with nanoTime resolution, so spans
  * from the benchmark's timers and Spark's event times share one axis. */
object Clock {
  private val baseMs = System.currentTimeMillis().toDouble
  private val baseNs = System.nanoTime()
  def nowMs: Double = baseMs + (System.nanoTime() - baseNs) / 1e6
}

final case class TaskRec(stage: Int, launchMs: Long, finishMs: Long,
  runMs: Long, cpuNs: Long, gcMs: Long, spillBytes: Long,
  peakExecMem: Long, inBytes: Long, inRecords: Long, outBytes: Long,
  shuffleReadBytes: Long, shuffleReadRecords: Long, shuffleWriteBytes: Long)

final case class JobRec(id: Int, submitMs: Long, var endMs: Long, stages: Seq[Int])

final case class StageRec(id: Int, attempt: Int, submitMs: Long, endMs: Long)

final case class QueryRec(phases: Seq[(String, Long, Long)], filesWritten: Long,
  scanRoots: Seq[String])

/** Listener state. Events land on the listener-bus thread; the harness
  * reads only after [[org.apache.spark.graftbench.Bus.drain]]. The query
  * listener (scan roots, for run isolation) is always attached; the job,
  * task and streaming listeners only while an op is traced. */
final class Recorder(spark: SparkSession) extends AdaptiveSparkPlanHelper {
  val jobs = ArrayBuffer.empty[JobRec]
  val stages = ArrayBuffer.empty[StageRec]
  val tasks = ArrayBuffer.empty[TaskRec]
  val queries = ArrayBuffer.empty[QueryRec]
  val progress = ArrayBuffer.empty[Map[String, Long]]

  /** Drops the job, stage, task and progress events; query records are
    * consumed by the run-isolation audit. */
  def clear(): Unit = synchronized {
    jobs.clear(); stages.clear(); tasks.clear(); progress.clear()
  }

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Recorder.this.synchronized {
      jobs += JobRec(e.jobId, e.time, -1L, e.stageIds)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Recorder.this.synchronized {
      jobs.find(_.id == e.jobId).foreach(_.endMs = e.time)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Recorder.this.synchronized {
        val s = e.stageInfo
        stages += StageRec(s.stageId, s.attemptNumber(),
          s.submissionTime.getOrElse(-1L), s.completionTime.getOrElse(-1L))
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Recorder.this.synchronized {
      val m = e.taskMetrics
      if (m != null) tasks += TaskRec(e.stageId, e.taskInfo.launchTime,
        e.taskInfo.finishTime, m.executorRunTime, m.executorCpuTime,
        m.jvmGCTime, m.diskBytesSpilled, m.peakExecutionMemory,
        m.inputMetrics.bytesRead, m.inputMetrics.recordsRead,
        m.outputMetrics.bytesWritten, m.shuffleReadMetrics.totalBytesRead,
        m.shuffleReadMetrics.recordsRead, m.shuffleWriteMetrics.bytesWritten)
    }
  }

  @volatile private var detailed = false
  private val queryListener = new QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = record(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = record(qe)
    private def record(qe: QueryExecution): Unit = {
      val plan = try Some(qe.executedPlan) catch { case _: Throwable => None }
      val roots = plan.toSeq.flatMap(p => collectWithSubqueries(p) {
        case s: FileSourceScanLike => s.relation.location.rootPaths.map(_.toString)
      }.flatten).distinct
      val files = if (!detailed) 0L else plan.toSeq.flatMap(p => collect(p) {
        case w: DataWritingCommandExec =>
          w.cmd.metrics.get("numFiles").map(_.value).getOrElse(0L)
      }).sum
      val phases = if (!detailed) Nil else qe.tracker.phases.toSeq.map {
        case (k, p) => (k, p.startTimeMs, p.endTimeMs)
      }
      Recorder.this.synchronized { queries += QueryRec(phases, files, roots) }
    }
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val d = e.progress.durationMs
      val m = d.keySet.toArray.map(k => k.toString -> d.get(k).longValue()).toMap +
        ("numInputRows" -> e.progress.numInputRows)
      Recorder.this.synchronized { progress += m }
    }
  }

  spark.listenerManager.register(queryListener)

  def setDetailed(on: Boolean): Unit = if (on != detailed) {
    detailed = on
    if (on) {
      spark.sparkContext.addSparkListener(sparkListener)
      spark.streams.addListener(streamListener)
    } else {
      spark.sparkContext.removeSparkListener(sparkListener)
      spark.streams.removeListener(streamListener)
    }
  }
}
