package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = args(1)
    // Optional extra args: run only the named queries (dev fast path).
    val only: Set[String] = args.drop(2).toSet
    val spark = GraftSession(sfDir, GraftSession.envCpus)
    new java.io.File(outDir).mkdirs()
    // No base-table cache: the oracle checks the same uncached plans
    // Bench times.
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    // A crashed query must be VISIBLE in the round's artifacts, not
    // silently absent from CORRECTNESS (round 6: 20 analysis-time
    // crashes simply had no row, hiding a single-cause 27-query break
    // for two rounds). errors.json maps name → exception summary and is
    // REWRITTEN after every failure (tiny file), so a mid-run JVM death
    // still leaves the errors accumulated up to that point on disk
    // instead of reproducing the invisible-absence mode it exists to
    // fix. An all-green run leaves it "{}".
    val errors = scala.collection.mutable.LinkedHashMap.empty[String, String]
    def flushErrors(): Unit = Files.writeString(
      Paths.get(s"$outDir/errors.json"),
      errors.map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}"))
    flushErrors()
    SparkEntry.queries
      .filter { case (name, _) => only.isEmpty || only(name) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        val msg = s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").take(800)}"
        System.err.println(s"[verify] $name failed: $msg")
        errors(name) = msg
        flushErrors()
      }
    }
    val json = SparkEntry.oracleSql
      .filter { case (k, _) => only.isEmpty || only(k) }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
