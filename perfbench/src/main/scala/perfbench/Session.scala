package perfbench

import org.apache.spark.sql.SparkSession

/** The session the benchmark measures. The conf is a copy of the set
  * `graft.Bench` applies (its `SPARK_GRAFT_CONF` developer override
  * excepted), so the two time the same plans. When the library gains a
  * single session builder this copy should call it instead. */
object Session {
  def build(dataDir: String, cores: Int): SparkSession = {
    val cpus = cores.toString
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.files.maxPartitionBytes",
        graft.util.GraftConf.adaptiveSplitBytes(dataDir, cpus).toString)
      .config("spark.serializer", "org.apache.spark.serializer.KryoSerializer")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold",
        "1000000")
      .config("spark.sql.join.preferSortMergeJoin", "false")
      .config("spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold", "64m")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** The trivial action that ends set-up: the codegen warm-up `graft.Bench`
    * runs before its first timed query. `graft.Bench`'s streaming warm-up
    * is left out, since no user pays it; a stream's first run pays that
    * class loading in the cold pass instead. */
  def firstAction(spark: SparkSession): Unit =
    spark.range(100000).selectExpr("sum(id * 2)").collect(): Unit

  /** Epoch ms at which the launcher started the JVM, else the JVM's own
    * start time. */
  def launchedMs: Long = sys.props.get("perfbench.launchedMs").map(_.toLong)
    .getOrElse(java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime)

  /** Every conf the session holds that differs from Spark's defaults,
    * plus the JVM's system properties that configure Spark. */
  def effectiveConf(spark: SparkSession): Seq[(String, String)] =
    (spark.sparkContext.getConf.getAll.toSeq ++
      spark.conf.getAll.toSeq)
      .filterNot { case (k, _) =>
        k.startsWith("spark.app.") || k == "spark.driver.port" ||
          k == "spark.executor.id" || k.startsWith("spark.sql.warehouse") ||
          k == "spark.local.dir"
      }
      .distinct.sortBy(_._1)
}
