package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{CommandResultExec, DataSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.datasources.v2.{DataSourceV2ScanExecBase, V2TableWriteExec}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One finished query execution as the session's
  * `QueryExecutionListener` reported it. Times are epoch ms. */
final case class ExecRecord(
    func: String, endMs: Long, durationNs: Long, failed: Boolean,
    phases: Seq[(String, Long, Long)], scans: Int, scanPartitions: Long,
    rowsRead: Long, bytesRead: Long, writes: Int) {
  /** When the execution began: its first Catalyst phase, else its end
    * minus its duration. */
  def startMs: Long =
    if (phases.nonEmpty) phases.map(_._2).min else endMs - durationNs / 1000000

  /** When the plan started to run: the end of its last Catalyst phase
    * (planning ends as execution starts), else [[startMs]]. A planning
    * tracker that measures a phase again keeps the first start and the
    * last end, so a plan analysed in an earlier query starts early; the
    * end of its last phase still falls in the query that ran it. */
  def runMs: Long = if (phases.nonEmpty) phases.map(_._3).max else startMs
}

/** One micro-batch of a streaming query. */
final case class BatchRecord(
    runId: String, batchId: Long, startMs: Long, durations: Map[String, Long],
    inputRows: Long, stateCommitMs: Long, stateRows: Long)

/** One streaming query run, from its start event. */
final case class StreamRecord(runId: String, owner: Long, startMs: Long)

/** Records what Spark reports at each layer boundary while attached.
  *
  * Only public hooks are used: a `SparkListener` for jobs, stages and
  * tasks, a `QueryExecutionListener` for Catalyst phases and executed
  * plans, and a `StreamingQueryListener` for micro-batches. Jobs and
  * streams are tied to the benchmark span that caused them through a job
  * tag ([[tagOf]]) the main thread sets; stream threads inherit it
  * because Spark's local properties are inherited by threads created
  * while the tag is set. Executions carry no tag, so they are placed by
  * time in [[Report]]; the main thread runs one query at a time. */
final class Tracer(spark: SparkSession) {
  val jobs = new JobBook
  val execs = new ConcurrentLinkedQueue[ExecRecord]()
  val batches = new ConcurrentLinkedQueue[BatchRecord]()
  val streams = new ConcurrentLinkedQueue[StreamRecord]()
  private val lastEventNs = new AtomicLong(System.nanoTime())
  private val openStreams = new AtomicLong(0)
  private def seen(): Unit = lastEventNs.set(System.nanoTime())

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val owner = Option(e.properties)
        .flatMap(p => Option(p.getProperty(Tracer.TagsKey)))
        .flatMap(Tracer.ownerOf).getOrElse(-1L)
      jobs.jobStart(e.jobId, e.stageIds, owner, e.time)
      seen()
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
      jobs.stageSubmitted(e.stageInfo.stageId,
        e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis()))
      seen()
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = Option(e.taskMetrics)
      val info = e.taskInfo
      jobs.task(TaskSample(
        stageId = e.stageId,
        launchMs = if (info != null) info.launchTime else 0L,
        runMs = m.map(_.executorRunTime).getOrElse(0L),
        cpuNs = m.map(_.executorCpuTime).getOrElse(0L),
        gcMs = m.map(_.jvmGCTime).getOrElse(0L),
        shuffleWriteBytes = m.map(_.shuffleWriteMetrics.bytesWritten).getOrElse(0L),
        shuffleReadBytes = m.map(_.shuffleReadMetrics.totalBytesRead).getOrElse(0L),
        spillBytes = m.map(_.diskBytesSpilled).getOrElse(0L),
        inputRecords = m.map(_.inputMetrics.recordsRead).getOrElse(0L),
        outputRecords = m.map(_.outputMetrics.recordsWritten).getOrElse(0L),
        failed = info != null && info.failed))
      seen()
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      jobs.jobEnd(e.jobId, e.time)
      seen()
    }
  }

  private val execListener = new QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
      record(f, qe, ns, failed = false)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
      record(f, qe, 0L, failed = true)
  }

  private def record(f: String, qe: QueryExecution, ns: Long,
      failed: Boolean): Unit = {
    val now = System.currentTimeMillis()
    val phases = qe.tracker.phases.toSeq
      .map { case (k, p) => (k, p.startTimeMs, p.endTimeMs) }
    val nodes =
      try Tracer.nodes(qe.executedPlan) catch { case _: Exception => Nil }
    var scans, writes = 0
    var parts, read, bytes = 0L
    def metric(p: SparkPlan, k: String): Long =
      p.metrics.get(k).map(_.value).getOrElse(0L)
    nodes.foreach {
      case s: DataSourceScanExec =>
        scans += 1
        parts += s.inputRDDs().map(_.getNumPartitions.toLong).sum
        read += metric(s, "numOutputRows")
        bytes += metric(s, "filesSize")
      case s: DataSourceV2ScanExecBase =>
        scans += 1
        parts += s.inputRDDs().map(_.getNumPartitions.toLong).sum
        read += metric(s, "numOutputRows")
      case _: V2TableWriteExec | _: DataWritingCommandExec => writes += 1
      case _ =>
    }
    execs.add(ExecRecord(f, now, ns, failed, phases, scans, parts, read,
      bytes, writes))
    seen()
  }

  private val streamListener = new StreamingQueryListener {
    import StreamingQueryListener._
    // Delivered synchronously on the stream's own thread, so the job tag
    // it inherited from the main thread is visible here.
    override def onQueryStarted(e: QueryStartedEvent): Unit = {
      val owner = Tracer.ownerOf(spark.sparkContext.getJobTags().mkString(","))
        .getOrElse(-1L)
      streams.add(StreamRecord(e.runId.toString, owner,
        java.time.Instant.parse(e.timestamp).toEpochMilli))
      openStreams.incrementAndGet()
      seen()
    }
    override def onQueryProgress(e: QueryProgressEvent): Unit = {
      val p = e.progress
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
      batches.add(BatchRecord(p.runId.toString, p.batchId,
        java.time.Instant.parse(p.timestamp).toEpochMilli, d, p.numInputRows,
        p.stateOperators.map(_.commitTimeMs).sum,
        p.stateOperators.map(_.numRowsTotal).sum))
      seen()
    }
    override def onQueryTerminated(e: QueryTerminatedEvent): Unit = {
      openStreams.decrementAndGet()
      seen()
    }
  }

  def attach(): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(execListener)
    spark.streams.addListener(streamListener)
  }

  /** Waits until the asynchronous listener queues have delivered what the
    * last pass caused (no running job, no open stream, and a quiet
    * interval), then removes the listeners. */
  def detach(): Unit = {
    drain()
    spark.streams.removeListener(streamListener)
    spark.listenerManager.unregister(execListener)
    spark.sparkContext.removeSparkListener(sparkListener)
  }

  def drain(): Unit = {
    val deadline = System.nanoTime() + 10L * 1000000000L
    def quiet = System.nanoTime() - lastEventNs.get() > 300L * 1000000L
    while (System.nanoTime() < deadline &&
        !(jobs.runningJobs == 0 && openStreams.get() <= 0 && quiet))
      Thread.sleep(20)
  }
}

object Tracer {
  /** The local property under which Spark keeps a thread's job tags. */
  val TagsKey = "spark.job.tags"
  private val Prefix = "perfbench-span-"

  def tagOf(spanId: Long): String = Prefix + spanId

  /** The benchmark span named by a comma-separated job-tag list. */
  def ownerOf(tags: String): Option[Long] =
    tags.split(',').collectFirst {
      case t if t.startsWith(Prefix) => t.drop(Prefix.length).toLong
    }

  /** Every node of an executed plan, looking through adaptive wrappers,
    * query stages, command results and subqueries. */
  def nodes(p: SparkPlan): Seq[SparkPlan] = {
    val inner: Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec => Seq(q.plan)
      case c: CommandResultExec => Seq(c.commandPhysicalPlan)
      case _ => p.children ++ p.subqueries
    }
    p +: inner.flatMap(nodes)
  }
}
