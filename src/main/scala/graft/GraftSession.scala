package graft

import org.apache.spark.sql.SparkSession

/** The one session graft runs on — the `mrs.main` entry point's runtime
  * flags [mrs: mrs/main.py] as a single builder. Bench, Verify, Dev and
  * the test fixture all build through here, so the oracle checks, the
  * tests assert and the bench times the same plans.
  *
  * `SPARK_GRAFT_CONF="k=v;k=v"` overrides any conf (dev experiments);
  * `graft.profile=true` turns on [[graft.util.GraftProfiler]].
  */
object GraftSession {
  /** Core count for the `local[n]` master (4 is the bench's config). */
  def envCpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")

  /** Corpus directory for Bench and Dev. */
  def envSfDir: String =
    sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

  def apply(sfDir: String, cpus: String): SparkSession = {
    val builder = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // Scale-adaptive scan splits (r13, guide §2.2/§6): derive the
      // split size from corpus bytes ÷ 2·cores instead of the previous
      // 16 MB constant (a local-mode tuning). The 16 MB FLOOR keeps the
      // single-file toy corpus fanned out across local cores — every SF
      // here lands on it, so bench numbers stay comparable — while a
      // production-sized input walks up to the stock 128 MB cap (large
      // sequential reads, bounded map-task count feeding each shuffle).
      .config("spark.sql.files.maxPartitionBytes",
        graft.util.GraftConf.adaptiveSplitBytes(sfDir, cpus).toString)
      // RDD-path demos (CoreMR) shuffle case classes; Kryo beats Java
      // serialization 2-5x there. SQL rows use Tungsten either way.
      .config("spark.serializer", "org.apache.spark.serializer.KryoSerializer")
      .config("spark.ui.enabled", "false")
      // Spark's ObjectHashAggregate silently falls back to SORT-based
      // aggregation after 128 distinct keys per partition (the default
      // fallbackThreshold) — which re-introduces, at runtime and
      // invisibly to the plan, exactly the per-partition sort the object
      // aggregates (b33 KMV, b46 top-k) exist to avoid. 1M entries of
      // small bounded buffers is ~100-200 MB per task worst-case; at
      // 100 TB size this knob to the executor heap the same way
      // shuffle.partitions is sized.
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold",
        "1000000")
      // Joins (guide §3.1; §9 "starting configuration"): prefer shuffled-hash over sort-merge
      // when a build side fits per-partition memory, and let AQE
      // convert an already-planned SMJ whose runtime map output is
      // small. The r13 census measured 32 queries executing
      // SortMergeJoins — almost all of them the row-level MERGE
      // machinery, whose target side may not broadcast — and each
      // conversion deletes two Sort passes. Scale note (two distinct
      // paths, r13-ADVICE): the 64 MB threshold bounds ONLY the AQE
      // SMJ→SHJ conversion, which sees real runtime map sizes;
      // preferSortMergeJoin=false ALSO lets the STATIC planner pick
      // SHJ from plan-time size ESTIMATES, a path with no runtime
      // fallback (a misestimated build side OOMs where SMJ would
      // spill). Most statically-SHJ-planned build sides are graftmem
      // tables reporting EXACT SupportsReportStatistics row counts (no
      // estimate risk), but not all: at sf0.001 b39 asks for SHJ by
      // hint, and b45, c18, c33, c65, c70 and c80 get a static SHJ over
      // a parquet or RDD size estimate. Round14OptSpec's census pins
      // that set, so a new estimated build side fails loudly.
      .config("spark.sql.join.preferSortMergeJoin", "false")
      .config("spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold",
        "64m")
    sys.env.get("SPARK_GRAFT_CONF").foreach(_.split(';').filter(_.contains('='))
      .foreach { kv =>
        val Array(k, v) = kv.split("=", 2); builder.config(k, v)
      })
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.util.GraftProfiler.install(spark)
    spark
  }
}
