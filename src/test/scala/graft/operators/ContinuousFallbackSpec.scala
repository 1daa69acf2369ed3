package graft.operators

import graft.{GraftSession, SparkEntry, SparkSpec}
import scala.jdk.CollectionConverters._

/** Child-JVM main for [[ContinuousFallbackSpec]]: runs d28 on a session
  * of `SPARK_GRAFT_CPUS` cores over the corpus `args(0)` and prints the
  * session's parallelism and d28's rows, one tab-separated line each.
  */
object ContinuousFallbackMain {
  def main(args: Array[String]): Unit = {
    val s = GraftSession(args(0), GraftSession.envCpus)
    val code =
      try {
        println(s"parallelism\t${s.sparkContext.defaultParallelism}")
        SparkEntry.queries("d28_stream_continuous")(s, args(0)).collect()
          .foreach(r => println("row\t" + r.toSeq.mkString("\t")))
        0
      } catch { case e: Throwable => e.printStackTrace(); 1 }
      finally s.stop()
    sys.exit(code)
  }
}

/** d28 below 2 cores: the shared fixture's SparkContext is fixed at 4
  * cores, so the microbatch fallback (`continuousOk = false`) runs in
  * ONE child JVM on a 1-core session, started with this forked test
  * JVM's class path and JVM options (build.sbt's `--add-opens`).
  */
class ContinuousFallbackSpec extends SparkSpec {

  test("d28 on 1 core falls back to microbatches and returns the 4-core rows") {
    val dir = new java.io.File(graft.util.TmpDir.fresh("d28-child"))
    assert(dir.mkdirs())
    val (out, err) = (new java.io.File(dir, "stdout"), new java.io.File(dir, "stderr"))
    val jvmOpts = java.lang.management.ManagementFactory.getRuntimeMXBean
      .getInputArguments.asScala.toSeq
      .filter(a => a.startsWith("--add-opens") || a.startsWith("-D"))
    val pb = new ProcessBuilder((Seq(s"${sys.props("java.home")}/bin/java",
      "-cp", sys.props("java.class.path"), "-Xmx1g") ++ jvmOpts ++
      Seq(ContinuousFallbackMain.getClass.getName.stripSuffix("$"), sf0001)): _*)
    pb.environment().put("SPARK_GRAFT_CPUS", "1")
    pb.redirectOutput(out).redirectError(err)
    val child = pb.start()
    val exited = child.waitFor(300, java.util.concurrent.TimeUnit.SECONDS)
    if (!exited) child.destroyForcibly().waitFor()
    assert(exited && child.exitValue() == 0,
      s"the 1-core d28 run failed or timed out; its stderr is $err")
    val lines = java.nio.file.Files.readAllLines(out.toPath).asScala.toList
    assert(lines.contains("parallelism\t1"), lines)
    val got = lines.filter(_.startsWith("row\t")).map(_.stripPrefix("row\t"))
    val want = SparkEntry.queries("d28_stream_continuous")(spark, sf0001)
      .collect().map(_.toSeq.mkString("\t")).toList
    assert(want.nonEmpty)
    assert(got == want)
  }
}
