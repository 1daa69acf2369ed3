package perfbench

import scala.collection.mutable

/** What one Spark job did, summed over its tasks. Times are epoch ms as
  * Spark reports them. */
final class JobAgg(val jobId: Int, val owner: Long, val startMs: Long) {
  var endMs: Long = startMs
  var stages = 0
  var tasks = 0L
  var taskRunMs = 0L
  var taskCpuNs = 0L
  var taskWaitMs = 0L
  var taskGcMs = 0L
  var shuffleWriteBytes = 0L
  var shuffleReadBytes = 0L
  var spillBytes = 0L
  var inputRecords = 0L
  var outputRecords = 0L
  var taskFailures = 0L
}

/** One finished task, as the listener hands it to [[JobBook.task]]. */
final case class TaskSample(
    stageId: Int, launchMs: Long, runMs: Long, cpuNs: Long, gcMs: Long,
    shuffleWriteBytes: Long, shuffleReadBytes: Long, spillBytes: Long,
    inputRecords: Long, outputRecords: Long, failed: Boolean)

/** Attributes stages and tasks to the job that submitted them.
  *
  * A stage is mapped to its job when the job starts and the mapping is
  * dropped when the job ends, so the maps stay as small as the set of
  * running jobs. A task whose stage is not mapped (a late task of a
  * finished job, or a job that started before tracing) is counted in
  * [[unattributedTasks]] and never charged to any job. */
final class JobBook {
  private val stageToJob = mutable.HashMap.empty[Int, Int]
  private val stageSubmitMs = mutable.HashMap.empty[Int, Long]
  private val running = mutable.HashMap.empty[Int, JobAgg]
  private val finished = mutable.ArrayBuffer.empty[JobAgg]
  private var unattributed = 0L

  def jobStart(jobId: Int, stageIds: Seq[Int], owner: Long, timeMs: Long)
      : Unit = synchronized {
    running(jobId) = new JobAgg(jobId, owner, timeMs)
    stageIds.foreach(stageToJob(_) = jobId)
  }

  def stageSubmitted(stageId: Int, submitMs: Long): Unit = synchronized {
    stageToJob.get(stageId).flatMap(running.get).foreach { j =>
      j.stages += 1
      stageSubmitMs(stageId) = submitMs
    }
  }

  /** Charges a finished task to its job; returns that job's id. */
  def task(t: TaskSample): Option[Int] = synchronized {
    stageToJob.get(t.stageId).flatMap(running.get) match {
      case Some(j) =>
        j.tasks += 1
        j.taskRunMs += t.runMs
        j.taskCpuNs += t.cpuNs
        j.taskGcMs += t.gcMs
        stageSubmitMs.get(t.stageId).foreach(s =>
          j.taskWaitMs += math.max(0L, t.launchMs - s))
        j.shuffleWriteBytes += t.shuffleWriteBytes
        j.shuffleReadBytes += t.shuffleReadBytes
        j.spillBytes += t.spillBytes
        j.inputRecords += t.inputRecords
        j.outputRecords += t.outputRecords
        if (t.failed) j.taskFailures += 1
        Some(j.jobId)
      case None =>
        unattributed += 1
        None
    }
  }

  def jobEnd(jobId: Int, timeMs: Long): Unit = synchronized {
    running.remove(jobId).foreach { j =>
      j.endMs = timeMs
      finished += j
    }
    val stages = stageToJob.collect { case (s, j) if j == jobId => s }
    stages.foreach { s => stageToJob.remove(s); stageSubmitMs.remove(s) }
  }

  def unattributedTasks: Long = synchronized(unattributed)
  def runningJobs: Int = synchronized(running.size)
  def mappedStages: Int = synchronized(stageToJob.size)
  def finishedJobs: Seq[JobAgg] = synchronized(finished.toList)
}
