package perfbench

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, lit}

/** Makes the `bulk` corpus: `factor` key-offset replicas of the base
  * corpus. Replica `r` adds `r × stride` to every key, where a key domain
  * is a primary key with the foreign keys that refer to it and its stride
  * is one more than the largest value of the domain in the base. Every
  * foreign key then matches its key inside the same replica, so the join
  * fan-out per key stays that of the base while the row counts grow by
  * `factor`. Tables without keys in a domain are copied as they are.
  * The output depends only on the base corpus and the factor, not on the
  * benchmark's seed.
  *
  * Usage: `perfbench.Generate <base-dir> <out-dir> <factor>` */
object Generate {
  val domains: Seq[Seq[(String, String)]] = Seq(
    Seq("customer" -> "c_custkey", "orders" -> "o_custkey"),
    Seq("orders" -> "o_orderkey", "lineitem" -> "l_orderkey"),
    Seq("part" -> "p_partkey", "lineitem" -> "l_partkey"),
    Seq("supplier" -> "s_suppkey", "lineitem" -> "l_suppkey"),
    Seq("events" -> "event_id"),
    Seq("events" -> "user_id"))

  val replicated: Seq[String] = domains.flatten.map(_._1).distinct

  /** Row-group size of the written tables. Spark splits a scan at
    * row-group boundaries only, so a table written as one row group is
    * always read by one task; at 25× `lineitem` is larger than the split
    * size and its scans split. */
  val RowGroupBytes: Long = 4L << 20

  /** The stride of every (table, column) in a domain. */
  def strides(tables: Map[String, DataFrame]): Map[(String, String), Long] =
    domains.flatMap { d =>
      val max = d.map { case (t, c) =>
        tables(t).agg(org.apache.spark.sql.functions.max(col(c)))
          .head().getAs[Number](0).longValue
      }.max
      d.map(_ -> (max + 1))
    }.toMap

  /** `factor` replicas of one table, replica by replica. */
  def replicate(df: DataFrame, table: String, factor: Int,
      stride: Map[(String, String), Long]): DataFrame =
    (0 until factor).map { r =>
      df.select(df.columns.map { c =>
        stride.get(table -> c) match {
          case Some(k) =>
            (col(c) + lit(r.toLong * k)).cast(df.schema(c).dataType).as(c)
          case None => col(c)
        }
      }: _*)
    }.reduce(_ union _)

  def main(args: Array[String]): Unit = {
    val Array(base, out, factorArg) = args
    val factor = factorArg.toInt
    val spark = SparkSession.builder().master("local[2]")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.parquet.compression.codec", "snappy")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val outDir = Paths.get(out)
    Files.createDirectories(outDir)
    val tables = replicated.map(t =>
      t -> spark.read.parquet(s"$base/$t.parquet")).toMap
    val stride = strides(tables)
    Files.list(Paths.get(base)).toArray.map(_.asInstanceOf[Path]).sorted
      .foreach { f =>
        val t = f.getFileName.toString.stripSuffix(".parquet")
        val target = outDir.resolve(f.getFileName)
        if (!replicated.contains(t)) Files.copy(f, target)
        else {
          val tmp = outDir.resolve(s".$t.tmp")
          replicate(tables(t), t, factor, stride).coalesce(1).write
            .option("parquet.block.size", RowGroupBytes.toString)
            .parquet(tmp.toString)
          val part = Files.list(tmp).toArray.map(_.asInstanceOf[Path])
            .filter(_.getFileName.toString.endsWith(".parquet")).head
          Files.move(part, target, StandardCopyOption.ATOMIC_MOVE)
          deleteTree(tmp)
        }
      }
    spark.stop()
  }

  private def deleteTree(p: Path): Unit = {
    if (Files.isDirectory(p)) Files.list(p).toArray.map(_.asInstanceOf[Path])
      .foreach(deleteTree)
    Files.delete(p)
  }
}
