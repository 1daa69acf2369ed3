package perfbench

import scala.collection.mutable

/** A timed interval in the run → pass → query → {fn, action} hierarchy.
  * Times are epoch microseconds; `parent` is 0 for the root. */
final case class Span(id: Long, parent: Long, kind: String, name: String,
    startUs: Long, endUs: Long) {
  def interval: (Long, Long) = (startUs, endUs)
  def seconds: Double = (endUs - startUs) / 1e6
}

/** The main thread's spans, kept in memory until the run ends. The
  * clock is the monotonic `nanoTime` anchored once to the epoch, so span
  * lengths are exact and starts line up with Spark's epoch-ms events. */
final class Spans {
  private val baseUs = System.currentTimeMillis() * 1000L
  private val baseNs = System.nanoTime()
  def nowUs: Long = baseUs + (System.nanoTime() - baseNs) / 1000L

  private var nextId = 1L
  private val open = mutable.HashMap.empty[Long, (Long, String, String, Long)]
  private val done = mutable.ArrayBuffer.empty[Span]

  def start(parent: Long, kind: String, name: String): Long = {
    val id = nextId
    nextId += 1
    open(id) = (parent, kind, name, nowUs)
    id
  }

  def end(id: Long): Span = {
    val (parent, kind, name, s) = open.remove(id).getOrElse(
      throw new IllegalStateException(s"span $id is not open"))
    val span = Span(id, parent, kind, name, s, nowUs)
    done += span
    span
  }

  def finished: Seq[Span] = done.toList
}
