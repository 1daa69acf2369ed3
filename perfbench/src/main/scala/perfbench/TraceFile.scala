package perfbench

import java.nio.file.{Files, Path}

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.ObjectNode

/** Writes a traced run's spans as one JSON document:
  * run → pass → query → {fn, action} → execution / job / stream batch.
  * Every span has an id, its parent's id, a kind, a name, and start and
  * end in epoch microseconds. */
object TraceFile {
  def write(path: Path, spans: Seq[Span], jobs: Seq[JobAgg],
      execs: Seq[ExecRecord], streams: Seq[StreamRecord],
      batches: Seq[BatchRecord], unattributedTasks: Long): Unit = {
    val mapper = new ObjectMapper
    val root = mapper.createObjectNode()
    root.put("unattributed_tasks", unattributedTasks)
    val out = root.putArray("spans")
    var nextId = spans.map(_.id).maxOption.getOrElse(0L)
    def span(id: Long, parent: Long, kind: String, name: String, s: Long,
        e: Long): ObjectNode = out.addObject().put("id", id)
      .put("parent", parent).put("kind", kind).put("name", name)
      .put("start_us", s).put("end_us", e)
    def child(parent: Long, kind: String, name: String, s: Long, e: Long) = {
      nextId += 1
      span(nextId, parent, kind, name, s, e)
    }

    spans.foreach(s => span(s.id, s.parent, s.kind, s.name, s.startUs, s.endUs))
    val parts = spans.filter(s => s.kind == "fn" || s.kind == "action")
    val owners = parts.map(_.id).toSet
    Report.place(execs, parts).foreach { case (e, p) =>
      val n = child(p.id, "execution", e.func,
        (e.startMs * 1000) max p.startUs, e.endMs * 1000)
        .put("failed", e.failed).put("scans", e.scans).put("writes", e.writes)
      val phases = n.putObject("phases_ms")
      e.phases.foreach { case (k, a, b) => phases.put(k, b - a) }
    }
    jobs.filter(j => owners(j.owner)).foreach { j =>
      child(j.owner, "job", j.jobId.toString, j.startMs * 1000, j.endMs * 1000)
        .put("stages", j.stages).put("tasks", j.tasks)
        .put("task_run_ms", j.taskRunMs)
    }
    val streamOwner = streams.map(s => s.runId -> s.owner).toMap
    batches.foreach { b =>
      streamOwner.get(b.runId).filter(owners).foreach { o =>
        val trigger = b.durations.getOrElse("triggerExecution", 0L)
        val n = child(o, "batch", s"${b.runId}#${b.batchId}", b.startMs * 1000,
          (b.startMs + trigger) * 1000).put("input_rows", b.inputRows)
        val d = n.putObject("durations_ms")
        b.durations.toSeq.sortBy(_._1).foreach { case (k, v) => d.put(k, v) }
      }
    }
    Files.createDirectories(path.getParent)
    Files.writeString(path, mapper.writeValueAsString(root))
  }
}
