package perfbench

import org.apache.spark.scheduler._
import scala.collection.mutable

/** Per-job execution record, filled from Spark's listener events. Times are
  * converted to the `System.nanoTime` clock of the spans. */
final class JobRecord(val jobId: Int, val stmtProperty: Option[Int], val submitted: Long) {
  var ended: Long = submitted
  var tasks = 0
  var cpuNanos = 0L
  var gcMs = 0L
  var inputBytes = 0L
  var shuffleReadBytes = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  var outputBytes = 0L
  val taskWaitMs = mutable.ArrayBuffer[Double]()
}

/** Collects job and task metrics for the harness. Registered on the
  * engine's SparkContext by the benchmark; the statement id travels as the
  * local property [[BenchListener.StmtProperty]] set on the calling thread. */
final class BenchListener extends SparkListener {
  import BenchListener._

  private val jobs = mutable.LinkedHashMap[Int, JobRecord]()
  private val stageToJob = mutable.Map[Int, Int]()
  private val stageSubmitted = mutable.Map[Int, Long]()

  /** Offset that maps listener wall-clock milliseconds onto nanoTime. */
  private val offsetNanos = System.nanoTime() - System.currentTimeMillis() * 1000000L
  private def toNano(ms: Long): Long = ms * 1000000L + offsetNanos

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val prop = Option(e.properties).flatMap(p => Option(p.getProperty(StmtProperty)))
      .map(_.toInt)
    jobs(e.jobId) = new JobRecord(e.jobId, prop, toNano(e.time))
    e.stageIds.foreach(s => stageToJob(s) = e.jobId)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.ended = toNano(e.time))
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    e.stageInfo.submissionTime.foreach(t => stageSubmitted(e.stageInfo.stageId) = t)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    for (jobId <- stageToJob.get(e.stageId); j <- jobs.get(jobId)) {
      j.tasks += 1
      stageSubmitted.get(e.stageId).foreach { s =>
        j.taskWaitMs += math.max(0L, e.taskInfo.launchTime - s).toDouble
      }
      val m = e.taskMetrics
      if (m != null) {
        j.cpuNanos += m.executorCpuTime
        j.gcMs += m.jvmGCTime
        j.inputBytes += m.inputMetrics.bytesRead
        j.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
        j.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        j.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        j.outputBytes += m.outputMetrics.bytesWritten
      }
    }
  }

  /** Jobs recorded so far, after waiting for queued events to be delivered. */
  def drain(sc: org.apache.spark.SparkContext): Seq[JobRecord] = {
    org.apache.spark.perfbenchbridge.Bus.waitUntilEmpty(sc)
    synchronized(jobs.values.toSeq)
  }

  def clear(): Unit = synchronized {
    jobs.clear(); stageToJob.clear(); stageSubmitted.clear()
  }
}

object BenchListener {
  val StmtProperty = "perfbench.stmt"
  /** Statement id of the jobs the traced run's rewrite probe starts: no
    * statement execution has it, so their work is counted in no layer. */
  val ProbeStmt: Int = -1
}
