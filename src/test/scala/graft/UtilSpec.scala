package graft

import graft.util.{GraftProfiler, TmpDir}

/** Unit coverage for the round-2 util additions. */
class UtilSpec extends SparkSpec {

  test("normalizeEventTs: all three corpus encodings land on the same instant") {
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.types._
    // 2024-01-15T12:00:00.123456Z in the three encodings the driver has
    // shipped (or could): long nanos, TIMESTAMP_NTZ µs, TIMESTAMP µs.
    val us = 1705320000123456L
    val rowsNs = java.util.Arrays.asList(org.apache.spark.sql.Row(us * 1000L))
    val rowsTs = java.util.Arrays.asList(
      org.apache.spark.sql.Row(java.time.LocalDateTime
        .ofEpochSecond(us / 1000000L, (us % 1000000L).toInt * 1000,
          java.time.ZoneOffset.UTC)))
    def one(df: org.apache.spark.sql.DataFrame): (String, Long) = {
      val out = graft.util.Tables.normalizeEventTs(df)
      (out.schema("ts").dataType.typeName,
        out.select(org.apache.spark.sql.functions.unix_micros(col("ts")))
          .head.getLong(0))
    }
    val asNs = one(spark.createDataFrame(rowsNs,
      StructType(Seq(StructField("ts", LongType)))))
    val asNtz = one(spark.createDataFrame(rowsTs,
      StructType(Seq(StructField("ts", TimestampNTZType)))))
    assert(asNs == ("timestamp", us))
    assert(asNtz == ("timestamp", us))
    // already-normalized input passes through untouched
    val tsDf = graft.util.Tables.normalizeEventTs(
      spark.sql(s"SELECT timestamp_micros(${us}L) AS ts"))
    assert(one(tsDf) == ("timestamp", us))
    // an unknown encoding must fail loudly, not mis-normalize
    intercept[IllegalStateException] {
      graft.util.Tables.normalizeEventTs(
        spark.sql("SELECT 'oops' AS ts"))
    }
  }

  test("withConf: an absent key is unset afterwards, a present key gets its old value back") {
    import graft.util.GraftConf.withConf
    val (absent, present) = ("graft.test.absent", "graft.test.present")
    spark.conf.set(present, "old")
    try {
      val seen = withConf(spark, absent -> "a", present -> "new") {
        (spark.conf.get(absent), spark.conf.get(present))
      }
      assert(seen == ("a", "new"))
      assert(spark.conf.getOption(absent).isEmpty)
      assert(spark.conf.get(present) == "old")
    } finally spark.conf.unset(present)
  }

  test("withConf: restores when the body throws") {
    import graft.util.GraftConf.withConf
    val (absent, present) = ("graft.test.absent", "graft.test.present")
    spark.conf.set(present, "old")
    try {
      val e = intercept[IllegalStateException] {
        withConf(spark, absent -> "a", present -> "new") {
          throw new IllegalStateException("boom")
        }
      }
      assert(e.getMessage == "boom")
      assert(spark.conf.getOption(absent).isEmpty)
      assert(spark.conf.get(present) == "old")
    } finally spark.conf.unset(present)
  }

  test("withConf: nested scopes unwind innermost first") {
    import graft.util.GraftConf.withConf
    val k = "graft.test.nested"
    val trail = scala.collection.mutable.Buffer[Option[String]]()
    withConf(spark, k -> "outer") {
      withConf(spark, k -> "inner") {
        trail += spark.conf.getOption(k)
      }
      trail += spark.conf.getOption(k)
      // an inner scope that throws still hands the outer value back
      intercept[RuntimeException] {
        withConf(spark, k -> "inner2") { throw new RuntimeException("x") }
      }
      trail += spark.conf.getOption(k)
    }
    trail += spark.conf.getOption(k)
    assert(trail == Seq(Some("inner"), Some("outer"), Some("outer"), None))
  }

  test("TmpDir paths are under a per-JVM unique base; fresh never repeats") {
    val p1 = TmpDir.path("x")
    val p2 = TmpDir.path("x")
    assert(p1 == p2) // stable within the JVM
    assert(TmpDir.fresh("y") != TmpDir.fresh("y"))
    assert(p1.startsWith(TmpDir.base))
  }

  test("portableHash evaluates on a session that is not the active one") {
    import org.apache.spark.sql.functions._
    // a query may run on any session: the hash must not depend on a
    // function registered on the active or default one
    val other = spark.newSession()
    val rows = other.range(200).select(col("id").cast("string").as("x"))
      .select(graft.util.Tables.portableHash(col("x")),
        conv(substring(md5(col("x")), 1, 15), 16, 10).cast("long"))
      .collect()
    assert(rows.length == 200)
    rows.foreach(r => assert(r.getLong(0) == r.getLong(1), r.toString))
  }

  test("GraftProfiler installs only when graft.profile=true and query still runs") {
    GraftProfiler.install(spark) // knob off: no-op
    spark.conf.set("graft.profile", "true")
    try {
      GraftProfiler.install(spark)
      // listener fires on action; query must complete unperturbed
      assert(spark.range(100).selectExpr("sum(id)").head().getLong(0) == 4950L)
    } finally spark.conf.set("graft.profile", "false")
  }

  test("GraftProfiler jobs: an unknown stage charges no job; job end clears its stages") {
    import org.apache.spark.scheduler._
    val p = new GraftProfiler.JobProfiler
    def stage(id: Int) = new StageInfo(id, 0, s"s$id", 1, Seq.empty, Seq.empty,
      "", resourceProfileId = 0)
    def taskEnd(stageId: Int) = {
      val info = new TaskInfo(1L, 0, 0, 0, 100L, "driver", "localhost",
        TaskLocality.PROCESS_LOCAL, false)
      info.finishTime = 130L
      SparkListenerTaskEnd(stageId, 0, "ResultTask", org.apache.spark.Success,
        info, null, null)
    }
    // job 0 owns stage 5: before the fix an unknown stage unboxed to
    // job 0 and was charged there
    p.onJobStart(SparkListenerJobStart(0, 0L, Seq(stage(5), stage(6))))
    p.onTaskEnd(taskEnd(99))
    assert(p.jobs(0).tasks == 0L)
    p.onTaskEnd(taskEnd(6))
    assert(p.jobs(0).tasks == 1L && p.jobs(0).taskMs == 30L)
    p.onJobEnd(SparkListenerJobEnd(0, 1L, JobSucceeded))
    assert(p.jobs.isEmpty && p.stageToJob.isEmpty)
    // a straggler after the job ended is charged to nothing
    p.onTaskEnd(taskEnd(6))
    assert(p.jobs.isEmpty)
  }
}
