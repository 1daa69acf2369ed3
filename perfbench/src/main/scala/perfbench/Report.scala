package perfbench

/** Per-layer metrics of one pass, computed from the main thread's spans and
  * what the [[Tracer]] recorded while the pass ran.
  *
  * Attribution: a job or stream belongs to the fn/action span named by
  * its job tag. An execution belongs to the fn/action span whose interval
  * holds the moment its plan started to run, since executions carry no
  * tag and the main thread runs one query at a time. Its Catalyst phases
  * count only inside the query that ran it. */
object Report {
  /** Counters the main thread samples around each pass. */
  final case class JvmDelta(codegenCompiles: Long, codegenMeanMs: Double,
      jitMs: Long, gcMs: Long, classesLoaded: Long)

  private def ms(x: Long): Double = x / 1e3
  private def mb(x: Long): Double = x / 1e6

  /** Query spans of a pass with the fn/action spans under each. */
  final case class QuerySpans(query: Span, parts: Seq[Span])

  def queriesOf(spans: Seq[Span], passId: Long): Seq[QuerySpans] = {
    val byParent = spans.groupBy(_.parent)
    byParent.getOrElse(passId, Nil).filter(_.kind == "query")
      .map(q => QuerySpans(q, byParent.getOrElse(q.id, Nil)))
  }

  /** Each execution with the fn/action span in which its plan started to
    * run. */
  def place(execs: Seq[ExecRecord], parts: Seq[Span]): Seq[(ExecRecord, Span)] =
    execs.flatMap { e =>
      val us = e.runMs * 1000
      parts.find(p => p.startUs <= us && us < p.endUs).map(e -> _)
    }

  def pass(queries: Seq[QuerySpans], jobs: Seq[JobAgg],
      execs: Seq[ExecRecord], streams: Seq[StreamRecord],
      batches: Seq[BatchRecord], jvm: JvmDelta, cores: Int)
      : Seq[(String, Double, String)] = {
    val parts = queries.flatMap(_.parts)
    val owners = parts.map(_.id).toSet
    val passJobs = jobs.filter(j => owners(j.owner))
    val owned = place(execs, parts)
    val passExecs = owned.map(_._1)
    val passStreams = streams.filter(s => owners(s.owner))
    val runIds = passStreams.map(_.runId).toSet
    val passBatches = batches.filter(b => runIds(b.runId))

    val queryOf = queries.flatMap(q => q.parts.map(_.id -> q.query)).toMap
    // Each execution's phases as (name, start µs, end µs), clipped to the
    // query that ran it.
    val phases = owned.map { case (e, part) =>
      val (lo, hi) = queryOf(part.id).interval
      part.id -> e.phases.map { case (k, s, t) =>
        val a = (s * 1000) max lo
        (k, a, (t * 1000) min hi max a)
      }
    }
    def phaseS(name: String) = phases.flatMap(_._2)
      .collect { case (`name`, s, e) => e - s }.sum / 1e6
    val gapUs = queries.map { q =>
      val own = q.parts.map(_.id).toSet
      val children =
        passJobs.filter(j => own(j.owner))
          .map(j => (j.startMs * 1000, j.endMs * 1000)) ++
        phases.collect { case (p, ps) if own(p) => ps.map(x => (x._2, x._3)) }
          .flatten
      Stats.selfTime(q.query.interval, children)
    }.sum
    val jobWallMs = Stats.unionLength(passJobs.map(j => (j.startMs, j.endMs)))
    val taskRunMs = passJobs.map(_.taskRunMs).sum
    def dur(k: String) = passBatches.map(_.durations.getOrElse(k, 0L)).sum
    val firstBatchEnd = passBatches.groupBy(_.runId).map { case (r, bs) =>
      r -> bs.map(b =>
        b.startMs + b.durations.getOrElse("triggerExecution", 0L)).min
    }
    val lastBatch = passBatches.groupBy(_.runId).values.map(_.maxBy(_.batchId))

    Seq(
      ("operators.queries", queries.size.toDouble, "count"),
      ("operators.build_s",
        parts.filter(_.kind == "fn").map(_.seconds).sum, "s"),
      ("operators.action_s",
        parts.filter(_.kind == "action").map(_.seconds).sum, "s"),
      ("plans.executions", passExecs.size.toDouble, "count"),
      ("plans.analysis_s", phaseS("analysis"), "s"),
      ("plans.optimization_s", phaseS("optimization"), "s"),
      ("plans.planning_s", phaseS("planning"), "s"),
      ("driver.gap_s", gapUs / 1e6, "s"),
      ("exec.jobs", passJobs.size.toDouble, "count"),
      ("exec.stages", passJobs.map(_.stages).sum.toDouble, "count"),
      ("exec.tasks", passJobs.map(_.tasks).sum.toDouble, "count"),
      ("exec.single_task_jobs",
        passJobs.count(_.tasks == 1).toDouble, "count"),
      ("exec.job_wall_s", ms(jobWallMs), "s"),
      ("exec.task_run_s", ms(taskRunMs), "s"),
      ("exec.task_cpu_s", passJobs.map(_.taskCpuNs).sum / 1e9, "s"),
      ("exec.task_wait_s", ms(passJobs.map(_.taskWaitMs).sum), "s"),
      ("exec.task_gc_s", ms(passJobs.map(_.taskGcMs).sum), "s"),
      ("exec.slot_busy_frac", if (jobWallMs == 0) 0.0
        else taskRunMs.toDouble / (jobWallMs * cores), "ratio"),
      ("exec.shuffle_write_mb",
        mb(passJobs.map(_.shuffleWriteBytes).sum), "MB"),
      ("exec.shuffle_read_mb", mb(passJobs.map(_.shuffleReadBytes).sum), "MB"),
      ("exec.spill_mb", mb(passJobs.map(_.spillBytes).sum), "MB"),
      ("exec.input_records",
        passJobs.map(_.inputRecords).sum.toDouble, "rows"),
      ("exec.task_failures",
        passJobs.map(_.taskFailures).sum.toDouble, "count"),
      ("sources.scans", passExecs.map(_.scans).sum.toDouble, "count"),
      ("sources.scan_partitions",
        passExecs.map(_.scanPartitions).sum.toDouble, "count"),
      ("sources.rows_read", passExecs.map(_.rowsRead).sum.toDouble, "rows"),
      ("sources.bytes_read_mb", mb(passExecs.map(_.bytesRead).sum), "MB"),
      ("sources.writes", passExecs.map(_.writes).sum.toDouble, "count"),
      ("sources.write_s",
        passExecs.filter(_.writes > 0).map(_.durationNs).sum / 1e9, "s"),
      ("sources.rows_written",
        passJobs.map(_.outputRecords).sum.toDouble, "rows"),
      ("streaming.queries", passStreams.size.toDouble, "count"),
      ("streaming.batches", passBatches.size.toDouble, "count"),
      ("streaming.start_s", ms(passStreams.flatMap(s =>
        firstBatchEnd.get(s.runId).map(_ - s.startMs)).sum), "s"),
      ("streaming.trigger_s", ms(dur("triggerExecution")), "s"),
      ("streaming.plan_s", ms(dur("queryPlanning")), "s"),
      ("streaming.get_batch_s",
        ms(dur("latestOffset") + dur("getBatch")), "s"),
      ("streaming.add_batch_s", ms(dur("addBatch")), "s"),
      ("streaming.wal_s", ms(dur("walCommit") + dur("commitOffsets")), "s"),
      ("streaming.state_commit_s",
        ms(passBatches.map(_.stateCommitMs).sum), "s"),
      ("streaming.state_rows",
        lastBatch.map(_.stateRows).sum.toDouble, "rows"),
      ("streaming.input_rows",
        passBatches.map(_.inputRows).sum.toDouble, "rows"),
      ("codegen.compiles", jvm.codegenCompiles.toDouble, "count"),
      ("codegen.compile_s", jvm.codegenCompiles * jvm.codegenMeanMs / 1e3, "s"),
      ("jvm.jit_s", ms(jvm.jitMs), "s"),
      ("jvm.gc_s", ms(jvm.gcMs), "s"),
      ("jvm.classes_loaded", jvm.classesLoaded.toDouble, "count"))
  }
}
