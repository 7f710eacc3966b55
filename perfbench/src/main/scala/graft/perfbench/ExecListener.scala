package graft.perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Execution accounting for one operation, read from Spark's listener
  * events. Times in ms; spans are epoch-ms intervals as Spark stamps them. */
final class ExecAcc {
  var opStartMs = 0L
  var opEndMs = 0L
  var jobs = 0
  var stages = 0
  var tasks = 0
  var taskRunMs = 0L
  var taskCpuNs = 0L
  var gcMs = 0L
  var shuffleWriteBytes = 0L
  var shuffleReadBytes = 0L
  var spillBytes = 0L
  var bytesRead = 0L
  var recordsRead = 0L
  var bytesWritten = 0L
  val stageSpans = mutable.ArrayBuffer.empty[(Long, Long)]
  val jobSpans = mutable.ArrayBuffer.empty[(Long, Long)]

  /** Wall time of the operation not covered by any stage: job submission,
    * scheduling and driver work between jobs (the per-job floor). */
  def scheduleMs(opStartMs: Long, opEndMs: Long): Long =
    (opEndMs - opStartMs) - Stats.unionLength(stageSpans.toSeq.map { case (a, b) =>
      (math.max(a, opStartMs), math.min(b, opEndMs)) })
}

/** A SparkListener registered by the benchmark in the traced run only.
  * The benchmark drives one client thread, so every job between two
  * `take` calls belongs to the operation in between. */
final class ExecListener extends SparkListener {
  private var acc = new ExecAcc
  private val jobStart = mutable.Map.empty[Int, Long]

  /** Close the current operation's accounting and start a new one. */
  def take(sc: SparkContext): ExecAcc = {
    org.apache.spark.PerfbenchBus.drain(sc)
    synchronized { val a = acc; acc = new ExecAcc; a }
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    acc.jobs += 1
    jobStart(e.jobId) = e.time
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(e.jobId).foreach(s => acc.jobSpans += ((s, e.time)))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    acc.stages += 1
    for (s <- e.stageInfo.submissionTime; c <- e.stageInfo.completionTime)
      acc.stageSpans += ((s, c))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    acc.tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      acc.taskRunMs += m.executorRunTime
      acc.taskCpuNs += m.executorCpuTime
      acc.gcMs += m.jvmGCTime
      acc.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      acc.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
      acc.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      acc.bytesRead += m.inputMetrics.bytesRead
      acc.recordsRead += m.inputMetrics.recordsRead
      acc.bytesWritten += m.outputMetrics.bytesWritten
    }
  }
}
