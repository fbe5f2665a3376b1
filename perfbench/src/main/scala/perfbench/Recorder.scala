package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.util.QueryExecutionListener

/** Per-layer counters for the traced run, fed by Spark's own listener
  * buses. The benchmark tags every operation it submits with the local
  * property [[Recorder.OpKey]]; jobs, stages and tasks inherit that tag,
  * so every counter lands on the operation that caused it. Query
  * executions carry no tag and are matched to operations by time
  * afterwards (one client, closed loop: operations never overlap).
  */
class Recorder extends SparkListener with QueryExecutionListener
    with AdaptiveSparkPlanHelper {
  import Recorder._

  val jobs = new ConcurrentHashMap[Int, Job]()
  private val stageJob = new ConcurrentHashMap[Int, Job]()
  val queries = new ConcurrentLinkedQueue[Query]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val tag = Option(e.properties).flatMap(p => Option(p.getProperty(OpKey))).getOrElse("")
    val j = new Job(e.jobId, tag, e.time)
    jobs.put(e.jobId, j)
    e.stageInfos.foreach(s => stageJob.put(s.stageId, j))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach { j =>
      j.endMs = e.time
      j.failed = e.jobResult != JobSucceeded
    }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    Option(stageJob.get(e.stageInfo.stageId)).foreach(j => j.synchronized(j.stages += 1))

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(stageJob.get(e.stageId)).foreach { j =>
      j.synchronized {
        val m = e.taskMetrics
        j.tasks += 1
        if (!e.taskInfo.successful) j.failedTasks += 1
        if (m != null) {
          j.runMs += m.executorRunTime
          j.cpuNs += m.executorCpuTime
          j.gcMs += m.jvmGCTime
          j.overheadMs += math.max(0L, e.taskInfo.duration - m.executorRunTime)
          j.inputBytes += m.inputMetrics.bytesRead
          j.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
          j.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
          j.spillBytes += m.diskBytesSpilled
          j.stageReads.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty[Long]) +=
            m.shuffleReadMetrics.totalBytesRead
        }
      }
    }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    record(qe)

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    record(qe)

  private def record(qe: QueryExecution): Unit = {
    val phases = qe.tracker.phases.map { case (k, p) => k -> (p.startTimeMs, p.endTimeMs) }
    val scans = try collectWithSubqueries(qe.executedPlan) {
      case s: FileSourceScanExec => (metric(s, "numFiles"), metric(s, "filesSize"))
    } catch { case _: Exception => Nil }
    queries.add(Query(phases, scans.map(_._1).sum, scans.map(_._2).sum))
  }

  private def metric(s: FileSourceScanExec, k: String): Long =
    s.metrics.get(k).map(_.value).getOrElse(0L)
}

object Recorder {
  /** Local property naming the benchmark operation a job belongs to. */
  val OpKey = "perfbench.op"

  final class Job(val id: Int, val tag: String, val startMs: Long) {
    var endMs: Long = startMs
    var failed = false
    var stages = 0L
    var tasks = 0L
    var failedTasks = 0L
    var runMs = 0L
    var cpuNs = 0L
    var gcMs = 0L
    var overheadMs = 0L
    var inputBytes = 0L
    var shuffleReadBytes = 0L
    var shuffleWriteBytes = 0L
    var spillBytes = 0L
    val stageReads = mutable.Map.empty[Int, mutable.ArrayBuffer[Long]]
  }

  /** One finished query execution: its planning phases as epoch-ms
    * intervals, and what its file scans read.
    */
  final case class Query(phases: Map[String, (Long, Long)], scanFiles: Long, scanBytes: Long)
}
