package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.FormattedMode

/** Developer main on the bench's session ([[GraftSession]];
  * `SPARK_GRAFT_SF_DIR` picks the corpus, `SPARK_GRAFT_CPUS` the cores,
  * `SPARK_GRAFT_CONF="k=v;k=v"` overrides confs, `graft.profile=true`
  * adds the profiler's stderr lines):
  *
  *   - `time <name>...`: three runs of each declared query after
  *     Bench's warm-ups, so single-query A/B numbers transfer to the
  *     bench (the first run includes JIT/page-cache warmup — use the
  *     later ones);
  *   - `explain <name>...`: the formatted plan of each query's returned
  *     DataFrame, plus the executed plan of every command and action the
  *     query runs inside its function (e.g. b75's MERGE plans
  *     ReplaceData, b80's WriteDelta), so pushdown/broadcast/join claims
  *     can be checked against the real plans.
  */
object Dev {
  def main(args: Array[String]): Unit = args.toList match {
    case "time" :: names if names.nonEmpty => session(time(_, _, names))
    case "explain" :: names if names.nonEmpty => session(explain(_, _, names))
    case _ =>
      System.err.println("usage: graft.Dev time|explain <query name>...")
      sys.exit(2)
  }

  private def session(run: (SparkSession, String) => Unit): Unit = {
    val sfDir = GraftSession.envSfDir
    run(GraftSession(sfDir, GraftSession.envCpus), sfDir)
  }

  private def time(spark: SparkSession, sfDir: String,
      names: Seq[String]): Unit = {
    Bench.warmUp(spark)
    for (name <- names; i <- 1 to 3) {
      spark.sparkContext.setJobDescription(s"$name#$i")
      graft.util.GraftProfiler.label = s"$name#$i"
      val t0 = System.nanoTime()
      SparkEntry.queries(name)(spark, sfDir).count()
      spark.sparkContext.setJobDescription(null)
      println(f"[dev] $name run$i ${(System.nanoTime() - t0) / 1e9}%.2f s")
    }
    spark.stop()
  }

  private def explain(spark: SparkSession, sfDir: String,
      names: Seq[String]): Unit = {
    for (name <- names) {
      val (plan, commands) = graft.util.PlanCapture(spark)(
          (funcName, qe) => (funcName, qe.explainString(FormattedMode))) {
        SparkEntry.queries(name)(spark, sfDir).queryExecution
          .explainString(FormattedMode)
      }
      println(s"########## $name: returned DataFrame ##########")
      println(plan)
      commands.zipWithIndex.foreach { case ((funcName, cmd), i) =>
        println(s"########## $name: command ${i + 1} ($funcName) ##########")
        println(cmd)
      }
    }
    spark.stop()
  }
}
