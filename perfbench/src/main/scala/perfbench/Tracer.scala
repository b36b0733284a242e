package perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

import graft.lake.LakeFileIndex

/** Records raw events at the Spark layer boundaries while `enabled`:
  * jobs with their task totals, query executions with their planning
  * phases and lake scan counts, and streaming micro-batch progress. Events
  * carry wall-clock times; the summarizer assigns each to the op whose
  * interval contains it. Everything stays in memory until [[toJson]]. */
final class Tracer {
  @volatile var enabled = false

  final class JobRec(val id: Int, val start: Long) {
    var end = -1L
    var stages, tasks, failedTasks = 0L
    var runMs, schedMs = 0L
    var shuffleRead, shuffleWrite, spill, input, output = 0L
  }

  private val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  private val stageJob = mutable.HashMap.empty[Int, JobRec]
  private val plans = mutable.ArrayBuffer.empty[Map[String, Any]]
  private val batches = mutable.ArrayBuffer.empty[Map[String, Any]]

  val sparkListener: SparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      if (enabled) jobs.synchronized {
        val r = new JobRec(e.jobId, e.time)
        jobs(e.jobId) = r
        e.stageIds.foreach(stageJob(_) = r)
      }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = jobs.synchronized {
      jobs.get(e.jobId).foreach(_.end = e.time)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      jobs.synchronized {
        stageJob.get(e.stageInfo.stageId).foreach(_.stages += 1)
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = jobs.synchronized {
      stageJob.get(e.stageId).foreach { r =>
        val info = e.taskInfo
        r.tasks += 1
        if (info.failed || info.killed) r.failedTasks += 1
        val m = e.taskMetrics
        if (m != null) {
          r.runMs += m.executorRunTime
          val overhead = m.executorRunTime + m.executorDeserializeTime +
            m.resultSerializationTime +
            (if (info.gettingResultTime > 0)
              info.finishTime - info.gettingResultTime else 0L)
          r.schedMs += math.max(0L, info.duration - overhead)
          r.shuffleRead += m.shuffleReadMetrics.remoteBytesRead +
            m.shuffleReadMetrics.localBytesRead
          r.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          r.spill += m.memoryBytesSpilled + m.diskBytesSpilled
          r.input += m.inputMetrics.bytesRead
          r.output += m.outputMetrics.bytesWritten
        }
      }
    }
  }

  /** Every file scan, through AQE stages, as graft.Metrics walks them. */
  private def scans(p: SparkPlan): Seq[FileSourceScanExec] = p match {
    case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
    case q: QueryStageExec => scans(q.plan)
    case f: FileSourceScanExec => Seq(f)
    case other => other.children.flatMap(scans)
  }

  private def recordPlan(qe: QueryExecution, ok: Boolean): Unit =
    if (enabled) {
      val phases = qe.tracker.phases.map { case (k, v) =>
        k -> Seq(v.startTimeMs, v.endTimeMs)
      }
      var scanned, pruned, bytes = 0L
      try scans(qe.executedPlan).foreach { s =>
        s.relation.location match {
          case idx: LakeFileIndex =>
            val n = s.metrics.get("numFiles").map(_.value).getOrElse(0L)
            scanned += n
            pruned += math.max(0L, idx.totalFileCount - n)
            bytes += s.metrics.get("filesSize").map(_.value).getOrElse(0L)
          case _ =>
        }
      } catch { case scala.util.control.NonFatal(_) => }
      plans.synchronized {
        plans += Map("end" -> System.currentTimeMillis(), "ok" -> ok,
          "phases" -> phases, "lake_files_scanned" -> scanned,
          "lake_files_pruned" -> pruned, "lake_bytes_scanned" -> bytes)
      }
    }

  val queryListener: QueryExecutionListener = new QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
      recordPlan(qe, ok = true)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
      recordPlan(qe, ok = false)
  }

  val streamListener: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      if (enabled) {
        val p = e.progress
        val start = java.time.Instant.parse(p.timestamp).toEpochMilli
        val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }
        batches.synchronized {
          batches += Map("start" -> start,
            "end" -> (start + d.getOrElse("triggerExecution", 0L)),
            "batch_id" -> p.batchId, "input_rows" -> p.numInputRows,
            "durations" -> d.toMap,
            "state_rows" -> p.stateOperators.map(_.numRowsTotal).sum,
            "state_bytes" -> p.stateOperators.map(_.memoryUsedBytes).sum)
        }
      }
  }

  def toJson: Map[String, Any] = {
    val js = jobs.synchronized(jobs.values.toSeq.map { r =>
      Map("id" -> r.id, "start" -> r.start, "end" -> r.end,
        "stages" -> r.stages, "tasks" -> r.tasks,
        "failed_tasks" -> r.failedTasks, "task_run_ms" -> r.runMs,
        "sched_delay_ms" -> r.schedMs, "shuffle_read_bytes" -> r.shuffleRead,
        "shuffle_write_bytes" -> r.shuffleWrite, "spill_bytes" -> r.spill,
        "input_bytes" -> r.input, "output_bytes" -> r.output)
    })
    Map("jobs" -> js, "plans" -> plans.synchronized(plans.toSeq),
      "batches" -> batches.synchronized(batches.toSeq))
  }
}
