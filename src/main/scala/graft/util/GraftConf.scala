package graft.util

import org.apache.spark.sql.SparkSession

/** Session-state helpers. The reference's `mrs.param` options
  * [mrs: mrs/param.py] have no session knobs here: each operator
  * parameter is a named constant next to the query that uses it, since
  * every DuckDB oracle hard-codes that one value. `--mrs-reduce-tasks`
  * ⇔ `spark.sql.shuffle.partitions` (stock conf); `graft.profile` is
  * the one `graft.*` session conf graft reads.
  */
object GraftConf {
  /** Run `body` with `kvs` set on the session, then put every key back:
    * a key that had a value gets it again, an absent key is unset —
    * also when `body` throws. Scopes nest and unwind innermost first.
    * The one way query code changes shared session state, so a planner
    * flag one query needs can never leak into the next.
    */
  def withConf[A](s: SparkSession, kvs: (String, String)*)(body: => A): A = {
    val prev = kvs.map { case (k, _) => k -> s.conf.getOption(k) }
    try {
      kvs.foreach { case (k, v) => s.conf.set(k, v) }
      body
    } finally prev.reverseIterator.foreach {
      case (k, Some(v)) => s.conf.set(k, v)
      case (k, None)    => s.conf.unset(k)
    }
  }

  /** Scale-adaptive `spark.sql.files.maxPartitionBytes` (r13, guide
    * §2.2/§6): corpus bytes ÷ (2 × cores), clamped to [16 MB, 128 MB].
    * Replaces the former hard-coded 16 MB — a constant tuned for the
    * local single-file corpus that would shatter a petabyte scan into
    * ~60× too many map tasks (M×R shuffle-block blowup, §2.2). Every
    * local test SF sits on the 16 MB floor, so local numbers are
    * unchanged by construction; the cap is Spark's stock 128 MB. A
    * non-numeric core count (e.g. `local[*]`) falls back to the host's
    * processor count; an unreadable dir yields the floor.
    */
  def adaptiveSplitBytes(sfDir: String, cpus: String): Long = {
    val cores = scala.util.Try(cpus.toInt).getOrElse(
      Runtime.getRuntime.availableProcessors())
    val bytes = try {
      val p = java.nio.file.Paths.get(sfDir)
      val s = java.nio.file.Files.walk(p)
      try s.filter(java.nio.file.Files.isRegularFile(_))
        .mapToLong(java.nio.file.Files.size(_)).sum()
      finally s.close()
    } catch { case _: Throwable => 0L }
    math.max(16L << 20,
      math.min(128L << 20, bytes / math.max(1L, 2L * cores)))
  }
}
