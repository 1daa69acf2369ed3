package graft.util

import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import scala.jdk.CollectionConverters._
import scala.util.Try

/** The plans a body runs: every action and command it executes on the
  * session (a MERGE, a CTAS, a `localCheckpoint`, a `collect`), not
  * only the plan of the DataFrame it returns. The one place outside
  * [[GraftProfiler]] that listens to query executions, so `graft.Dev
  * explain` and the test census see the same plans.
  */
object PlanCapture {

  /** Run `body` and return its result with `f(funcName, qe)` of every
    * query execution it ran to success, in the order they finished.
    * `f` runs on the listener thread, as each execution reports; an
    * exception it throws is rethrown here. Listeners report on the
    * async listener bus, which can still be delivering executions that
    * finished before `body` began; so a sentinel action run before
    * `body` marks where its executions start, and one run after marks
    * the bus as drained past it. The listener is unregistered also
    * when `body` throws.
    */
  def apply[A, B](spark: SparkSession)(f: (String, QueryExecution) => B)(
      body: => A): (A, Seq[B]) = {
    val seen = new ConcurrentLinkedQueue[Try[B]]()
    val started, drained = new CountDownLatch(1)
    val start = spark.range(1)
    @volatile var sentinel = Long.MinValue
    val listener = new QueryExecutionListener {
      override def onSuccess(
          funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        if (qe.id == start.queryExecution.id) started.countDown()
        else if (qe.id == sentinel) drained.countDown()
        else if (started.getCount == 0) seen.add(Try(f(funcName, qe)))
      override def onFailure(
          funcName: String, qe: QueryExecution, error: Exception): Unit = ()
    }
    def await(latch: CountDownLatch): Unit =
      if (!latch.await(60, TimeUnit.SECONDS))
        throw new IllegalStateException("the listener bus did not drain")
    spark.listenerManager.register(listener)
    try {
      start.collect()
      await(started)
      val result = body
      val mark = spark.range(1)
      sentinel = mark.queryExecution.id
      mark.collect()
      await(drained)
      (result, seen.asScala.toSeq.map(_.get))
    } finally spark.listenerManager.unregister(listener)
  }
}
