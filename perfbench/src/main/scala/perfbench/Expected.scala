package perfbench

import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Expected result digests, one `corpus<TAB>query<TAB>digest` line per
  * query and corpus. */
object Expected {
  private def lines(p: Path): Seq[Array[String]] =
    Files.readAllLines(p).asScala.toSeq.map(_.trim)
      .filter(l => l.nonEmpty && !l.startsWith("#")).map(_.split('\t'))

  def read(p: Path, corpus: String): Map[String, String] =
    lines(p).collect { case Array(`corpus`, q, d) => q -> d }.toMap

  /** Writes the digests of a `graft.Verify` dump (one parquet directory
    * per query) for the named queries over one corpus, replacing that
    * corpus's earlier lines.
    *
    * Usage: `perfbench.Expected <verify-dump-dir> <corpus> <file> <name>...` */
  def main(args: Array[String]): Unit = {
    val Array(dump, corpus, out) = args.take(3)
    val spark = SparkSession.builder().master("local[2]")
      .config("spark.ui.enabled", "false").getOrCreate()
    val fresh = args.drop(3).map { name =>
      Array(corpus, name, Fingerprint.of(spark.read.parquet(s"$dump/$name")).show)
    }
    val path = Path.of(out)
    val kept = if (Files.exists(path)) lines(path).filterNot(_(0) == corpus)
      else Nil
    Files.write(path, (Seq(
      "# Result digests of the benchmark's queries per corpus, computed from",
      "# graft.Verify dumps that tools/compare.py found equal to DuckDB.") ++
      (kept ++ fresh).sortBy(l => (l(0), l(1))).map(_.mkString("\t"))).asJava)
    spark.stop()
  }
}
