package org.apache.spark

import org.apache.spark.scheduler._

import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._

/** Task and job metrics of the stages a benchmark pass runs. It lives in the
  * `org.apache.spark` package only to reach the listener bus's drain, so a
  * pass's counts are complete before they are read.
  */
final class PerfbenchStats extends SparkListener {
  import PerfbenchStats._

  val tasks = new ConcurrentLinkedQueue[TaskRec]()
  val jobs = new java.util.concurrent.ConcurrentHashMap[Int, JobRec]()

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    val info = e.taskInfo
    tasks.add(if (m == null) TaskRec(e.stageId, info.duration, 0, 0, 0, 0, 0, 0, 0, info.failed)
      else TaskRec(e.stageId, info.duration, m.executorRunTime, m.executorCpuTime, m.jvmGCTime,
        m.shuffleWriteMetrics.bytesWritten, m.memoryBytesSpilled + m.diskBytesSpilled,
        m.inputMetrics.bytesRead, m.outputMetrics.bytesWritten, info.failed))
  }
  override def onJobStart(e: SparkListenerJobStart): Unit =
    jobs.put(e.jobId, JobRec(e.jobId, e.stageIds, e.time, e.time))
  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)

  def reset(): Unit = { tasks.clear(); jobs.clear() }
  def taskList: Seq[TaskRec] = tasks.asScala.toSeq
  def jobList: Seq[JobRec] = jobs.values.asScala.toSeq.sortBy(_.jobId)
}

object PerfbenchStats {
  final case class TaskRec(stageId: Int, durationMs: Long, runMs: Long, cpuNs: Long, gcMs: Long,
      shuffleWriteBytes: Long, spillBytes: Long, inputBytes: Long, outputBytes: Long, failed: Boolean)
  final case class JobRec(jobId: Int, stageIds: Seq[Int], startMs: Long, var endMs: Long)

  /** Wait until every posted listener event has been delivered. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
