package graft.perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Counters of one Spark job, filled from listener events. */
final class JobStats(val id: Int, val group: Option[String], val startMs: Long) {
  var endMs: Long = -1L
  var stages = 0
  var tasks = 0
  var tasksFailed = 0
  var taskCpuNs = 0L
  var taskRunMs = 0L
  var shuffleWriteBytes = 0L
  var shuffleReadBytes = 0L
  var spillBytes = 0L
  var inputBytes = 0L
  var outputBytes = 0L
  var outputRecords = 0L
}

/** The traced run's only view into Spark: a `SparkListener` for jobs,
  * stages and tasks, and a `QueryExecutionListener` for Catalyst's
  * planning phases. Events arrive on the listener bus threads; the
  * harness drains the bus after every query before it reads anything, so
  * the maps below are only read when no event is in flight. */
final class LayerCollector extends SparkListener with QueryExecutionListener {
  private val jobs = mutable.LinkedHashMap.empty[Int, JobStats]
  private val stageToJob = mutable.Map.empty[Int, Int]
  // Planning time and QueryExecution count since the last `takePlans`.
  private var planMs = 0L
  private var qeCount = 0

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val group = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
    jobs(e.jobId) = new JobStats(e.jobId, group, e.time)
    // A stage shared with an earlier job runs its tasks in the newest job
    // that needs it; a skipped stage runs none.
    e.stageIds.foreach(stageToJob(_) = e.jobId)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stageToJob.get(e.stageInfo.stageId).flatMap(jobs.get).foreach(_.stages += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageToJob.get(e.stageId).flatMap(jobs.get).foreach { j =>
      j.tasks += 1
      if (!e.taskInfo.successful) j.tasksFailed += 1
      val m = e.taskMetrics
      if (m != null) {
        j.taskCpuNs += m.executorCpuTime
        j.taskRunMs += m.executorRunTime
        j.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        j.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
        j.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        j.inputBytes += m.inputMetrics.bytesRead
        j.outputBytes += m.outputMetrics.bytesWritten
        j.outputRecords += m.outputMetrics.recordsWritten
      }
    }
  }

  private def planned(qe: QueryExecution): Unit = synchronized {
    qeCount += 1
    planMs += Seq("analysis", "optimization", "planning")
      .flatMap(qe.tracker.phases.get).map(_.durationMs).sum
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = planned(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = planned(qe)

  /** Removes and returns the jobs that belong to a query: those carrying
    * its job group, plus ungrouped jobs that started inside its window
    * (jobs submitted from other threads, such as overlapping index
    * builds, do not inherit the group). */
  def takeJobs(group: String, fromMs: Double, toMs: Double): Seq[JobStats] = synchronized {
    val mine = jobs.values.filter { j =>
      j.group.contains(group) || (j.group.isEmpty && j.startMs >= fromMs && j.startMs <= toMs)
    }.toSeq
    mine.foreach(j => jobs.remove(j.id))
    mine
  }

  /** Planning ms and QueryExecution count since the previous call. */
  def takePlans(): (Long, Int) = synchronized {
    val r = (planMs, qeCount)
    planMs = 0L; qeCount = 0
    r
  }

  /** Forgets everything collected so far (events of untraced work). */
  def reset(): Unit = synchronized {
    jobs.clear(); stageToJob.clear(); planMs = 0L; qeCount = 0
  }
}
