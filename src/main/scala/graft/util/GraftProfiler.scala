package graft.util

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener
import scala.collection.concurrent.TrieMap

/** `--mrs-profile` parity [mrs: mrs/main.py]: the reference flag writes
  * a per-task profile dump; Spark already collects per-task metrics in
  * the UI/event log, so the graft switch surfaces the per-query roll-up.
  * With `graft.profile=true` (read once, when the session is built),
  * stderr gets:
  *   - `[profile]` per completed query action: action name, wall
  *     seconds, the Catalyst phase durations (parsing/analysis/
  *     optimization/planning — driver-side plan work that task metrics
  *     never see) with the top rules by time, and the executed physical
  *     plan's node census (e.g. `HashAggregate x2, Exchange x1` — enough
  *     to spot an unexpected shuffle or a missing broadcast);
  *   - `[jobs]` per Spark job: task count, summed task time and the
  *     job's wall time. Wall ≫ summed-task-time/cores means the cost is
  *     DRIVER-side (scheduling, AQE replanning, commit), not executor
  *     work;
  *   - `[stream]` per streaming micro-batch: its phase durations
  *     (queryPlanning/getBatch/addBatch/walCommit) and, per stateful
  *     operator, the state-store commit time.
  * Zero overhead when the switch is off: nothing is registered.
  */
object GraftProfiler {
  /** Label for attribution, set by the harness around each timed query.
    * A plain volatile rather than the job description: the listeners
    * fire on the ASYNC listener bus, so the submitting thread's local
    * properties are not visible there. The bus drains within the same
    * query in practice; a late event can at worst carry the next
    * query's label (attribution aid, not a measurement).
    */
  @volatile var label: String = "-"

  def install(s: SparkSession): Unit =
    if (s.conf.getOption("graft.profile").contains("true")) {
      s.listenerManager.register(new QueryExecutionListener {
        override def onSuccess(
            funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
          val phases = qe.tracker.phases.toSeq.sortBy(_._2.startTimeMs)
            .map { case (k, v) => s"$k=${v.durationMs}" }.mkString(" ")
          val rules = qe.tracker.topRulesByTime(3).map { case (r, t) =>
            s"${r.substring(r.lastIndexOf('.') + 1)}=${(t.totalTimeNs / 1e6).round}"
          }.mkString(" ")
          // Unwrap AdaptiveSparkPlanExec: its final physical plan is a
          // FIELD, not a child, so a plain collect would census the
          // wrapper alone ("AdaptiveSparkPlan x1") and hide every
          // Exchange/join the query actually ran.
          import org.apache.spark.sql.execution.SparkPlan
          import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
          def nodes(p: SparkPlan): Seq[String] = p.collect {
            case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
            case q: QueryStageExec => q.nodeName +: nodes(q.plan)
            case n => Seq(n.nodeName)
          }.flatten
          val census = nodes(qe.executedPlan)
            .groupBy(identity).map { case (k, v) => s"$k x${v.size}" }
            .toSeq.sorted.mkString(", ")
          System.err.println(
            f"[profile] $label | $funcName ${durationNs / 1e9}%.3f s | $phases | top: $rules | $census")
        }
        override def onFailure(
            funcName: String, qe: QueryExecution, error: Exception): Unit =
          System.err.println(s"[profile] $funcName FAILED: ${error.getMessage}")
      })
      s.sparkContext.addSparkListener(new JobProfiler)
      s.streams.addListener(new StreamingQueryListener {
        import StreamingQueryListener._
        override def onQueryStarted(e: QueryStartedEvent): Unit = ()
        override def onQueryProgress(e: QueryProgressEvent): Unit = {
          val p = e.progress
          val state = p.stateOperators.map(so =>
            s"${so.operatorName}:commitMs=${so.commitTimeMs}").mkString(" ")
          System.err.println(s"[stream] $label | ${p.name} batch=${p.batchId} " +
            s"rows=${p.numInputRows} durMs=${p.durationMs} $state")
        }
        override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
      })
    }

  /** The `[jobs]` listener. A task is charged to the job that submitted
    * its stage; a task whose stage no running job owns is charged to
    * none, and a job's stage entries leave with the job, so the maps
    * hold only running jobs.
    */
  private[graft] final class JobProfiler extends SparkListener {
    private[graft] final class Job(val startNs: Long, val label: String,
        val stages: Seq[Int]) {
      var tasks = 0L
      var taskMs = 0L
    }
    private[graft] val jobs = TrieMap.empty[Int, Job]
    private[graft] val stageToJob = TrieMap.empty[Int, Int]

    override def onJobStart(e: SparkListenerJobStart): Unit = {
      jobs.put(e.jobId, new Job(System.nanoTime(), label, e.stageIds))
      e.stageIds.foreach(stageToJob.put(_, e.jobId))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      for (j <- stageToJob.get(e.stageId); job <- jobs.get(j)
           if e.taskInfo != null) {
        job.tasks += 1
        job.taskMs += e.taskInfo.duration
      }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      jobs.remove(e.jobId).foreach { job =>
        job.stages.foreach(stageToJob.remove)
        System.err.println(
          f"[jobs] ${job.label} | job=${e.jobId} wall=${(System.nanoTime() - job.startNs) / 1e6}%.0fms tasks=${job.tasks} taskTimeSum=${job.taskMs}ms")
      }
  }
}
