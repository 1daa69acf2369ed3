package perfbench

import java.nio.file.{Files, Path, Paths}
import java.util.Locale
import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** The benchmark's self-tests, run by `python3 perfbench/run.py
  * --self-test`. A minimal runner keeps the benchmark free of test
  * libraries outside the Spark jars: each `test` runs its body, and the
  * process exits non-zero when any body throws.
  *
  * Usage: `perfbench.SelfTest <checkout-root>` */
object SelfTest {
  private val failed = mutable.ArrayBuffer.empty[String]
  private var passed = 0

  private def test(name: String)(body: => Unit): Unit =
    try { body; passed += 1; println(s"PASS $name") }
    catch { case e: Throwable =>
      failed += name
      println(s"FAIL $name: $e")
      e.getStackTrace.take(4).foreach(f => println(s"    at $f"))
    }

  def main(args: Array[String]): Unit = {
    val root = Paths.get(args(0))
    stats()
    jobBook()
    report()
    workloads(root)
    resultLine()
    jvmOptions(root)
    val spark = SparkSession.builder().master("local[2]")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.shuffle.partitions", "3").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try {
      fingerprint(spark)
      generator(spark, root)
    } finally spark.stop()
    println(s"$passed passed, ${failed.size} failed")
    sys.exit(if (failed.isEmpty) 0 else 1)
  }

  private def stats(): Unit = {
    test("interval union counts overlapping and nested parts once") {
      assert(Stats.unionLength(Nil) == 0)
      assert(Stats.unionLength(Seq((0L, 10L), (20L, 25L))) == 15)
      assert(Stats.unionLength(Seq((0L, 10L), (5L, 15L))) == 15)
      assert(Stats.unionLength(Seq((0L, 10L), (2L, 3L), (10L, 12L))) == 12)
      assert(Stats.unionLength(Seq((30L, 40L), (0L, 5L), (4L, 6L))) == 16)
      assert(Stats.unionLength(Seq((5L, 5L), (7L, 3L))) == 0)
    }

    test("self time is the span minus the union of its children, clipped") {
      assert(Stats.selfTime((0L, 100L), Nil) == 100)
      assert(Stats.selfTime((0L, 100L), Seq((10L, 20L), (15L, 30L))) == 80)
      // children sticking out of the span only count inside it
      assert(Stats.selfTime((10L, 20L), Seq((0L, 12L), (18L, 40L))) == 6)
      assert(Stats.selfTime((10L, 20L), Seq((30L, 40L))) == 10)
      assert(Stats.selfTime((0L, 10L), Seq((0L, 10L))) == 0)
    }

    test("median of odd and even sample counts") {
      assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
      assert(Stats.median(Seq(4.0, 1.0, 2.0, 3.0)) == 2.5)
    }

    test("tail is the highest percentile with at least ten samples beyond it") {
      assert(Stats.tail((1 to 100).map(_.toDouble)) == Some((90, 90.0)))
      assert(Stats.tail((1 to 20).map(_.toDouble)) == Some((50, 10.0)))
      assert(Stats.tail((1 to 11).map(_.toDouble)) == Some((9, 1.0)))
      assert(Stats.tail((1 to 10).map(_.toDouble)).isEmpty)
      for (n <- 11 to 400) {
        val s = (1 to n).map(_.toDouble)
        val Some((p, v)) = Stats.tail(s)
        assert(s.count(_ > v) >= 10, s"n=$n p=$p")
        // one percentile higher would leave fewer than ten beyond
        if (p < 99) assert(n - math.ceil((p + 1) * n / 100.0).toInt < 10,
          s"n=$n p=$p")
      }
    }
  }

  private def task(stage: Int, runMs: Long = 10) = TaskSample(stage,
    launchMs = 0, runMs = runMs, cpuNs = 0, gcMs = 0,
    shuffleWriteBytes = 0, shuffleReadBytes = 0, spillBytes = 0,
    inputRecords = 0, outputRecords = 0, failed = false)

  private def jobBook(): Unit = {
    test("a task of an unknown stage is never charged to job 0") {
      val b = new JobBook
      b.jobStart(0, Seq(0, 1), owner = 7, timeMs = 100)
      assert(b.task(task(0)) == Some(0))
      assert(b.task(task(42)).isEmpty)
      b.jobEnd(0, 200)
      val Seq(j) = b.finishedJobs
      assert(j.jobId == 0 && j.tasks == 1 && j.taskRunMs == 10)
      assert(b.unattributedTasks == 1)
    }

    test("stage mappings are dropped when their job ends") {
      val b = new JobBook
      b.jobStart(3, Seq(5, 6), owner = 1, timeMs = 0)
      b.jobStart(4, Seq(7), owner = 2, timeMs = 0)
      assert(b.mappedStages == 3)
      b.jobEnd(3, 10)
      assert(b.mappedStages == 1)
      // a late task of the finished job is counted apart, not misattributed
      assert(b.task(task(5)).isEmpty)
      assert(b.task(task(7)) == Some(4))
      b.jobEnd(4, 20)
      assert(b.mappedStages == 0 && b.runningJobs == 0)
      assert(b.finishedJobs.map(j => j.jobId -> j.tasks) ==
        Seq(3 -> 0L, 4 -> 1L))
    }

    test("task wait is launch time minus its stage's submission") {
      val b = new JobBook
      b.jobStart(0, Seq(0), owner = 1, timeMs = 0)
      b.stageSubmitted(0, submitMs = 100)
      b.task(task(0).copy(launchMs = 130))
      b.task(task(0).copy(launchMs = 100))
      b.jobEnd(0, 200)
      assert(b.finishedJobs.head.taskWaitMs == 30)
      assert(b.finishedJobs.head.stages == 1)
    }
  }

  private def report(): Unit = {
    // One query (span 2) of a pass (span 1), with fn (3) at 10–20 s and
    // action (4) at 20–30 s; span times are µs, record times ms.
    val query = Report.QuerySpans(Span(2, 1, "query", "q", 10000000L,
      30000000L), Seq(Span(3, 2, "fn", "q", 10000000L, 20000000L),
      Span(4, 2, "action", "q", 20000000L, 30000000L)))
    def metrics(execs: Seq[ExecRecord]) = Report.pass(Seq(query), Nil,
      execs, Nil, Nil, Report.JvmDelta(0, 0.0, 0, 0, 0), cores = 4)
      .map { case (k, v, _) => k -> v }.toMap

    test("a phase measured before its query is counted only inside it") {
      // Analysed at 1 s by an earlier query, re-analysed and planned in
      // the action: the tracker keeps analysis as 1 s – 21 s.
      val e = ExecRecord("collect", endMs = 25000, durationNs = 0L,
        failed = false, phases = Seq(("analysis", 1000L, 21000L),
          ("planning", 21000L, 22000L)), scans = 0, scanPartitions = 0,
        rowsRead = 0, bytesRead = 0, writes = 0)
      assert(e.runMs == 22000)
      val m = metrics(Seq(e))
      assert(m("plans.executions") == 1)
      assert(m("plans.analysis_s") == 11.0)
      assert(m("plans.planning_s") == 1.0)
      // no jobs: the query's self time is its 20 s minus 12 s of phases
      assert(m("driver.gap_s") == 8.0)
    }

    test("an execution whose plan ran outside the pass is not counted") {
      val e = ExecRecord("collect", endMs = 40000, durationNs = 0L,
        failed = false, phases = Seq(("planning", 12000L, 35000L)), scans = 0,
        scanPartitions = 0, rowsRead = 0, bytesRead = 0, writes = 0)
      assert(metrics(Seq(e))("plans.executions") == 0)
    }
  }

  private def workloads(root: Path): Unit = {
    test("the cold pass runs the declared order, warm passes seeded " +
        "consecutive rotations of it") {
      for (w <- Workloads.all; seed <- 1 to 3) {
        assert(w.order(seed, pass = 0) == w.queries)
        val o = w.order(seed, pass = 1)
        assert((w.queries ++ w.queries).containsSlice(o) &&
          o.size == w.queries.size)
        assert(w.order(seed, 1) == o, "same seed and pass, same order")
        assert(w.order(seed, 2) == o.tail :+ o.head, "steps by one query")
        assert((1 to w.queries.size).map(w.order(seed, _)).toSet.size ==
          w.queries.size, "as many passes as queries cover every rotation")
      }
      for (w <- Workloads.all)
        assert((101 to 110).map(w.order(_, 1)).toSet.size > 1,
          s"consecutive seeds draw different orders on ${w.name}")
    }

    test("every listed name is declared, expected for its corpus, and on " +
        "the right side of the streaming split") {
      val file = root.resolve("perfbench/expected.tsv")
      for (w <- Workloads.all)
        assert(w.validate(graft.SparkEntry.queries.keySet,
          graft.operators.TierD.streamingNames,
          Expected.read(file, w.corpus).keySet).isEmpty, w.name)
      assert(Workloads.short.streams.nonEmpty)
      assert(Workloads.bulk.queries.forall(q =>
        !graft.operators.TierD.streamingNames(q)))
    }

    test("validation names missing, misplaced and duplicated queries") {
      val w = Workloads.Workload("t", 1, Seq("q1", "s1", "gone", "q1"),
        streams = Set("q1", "s2"))
      val problems = w.validate(Set("q1", "s1"), Set("s1"), Set("q1", "s1"))
      assert(problems.toSet == Set("gone" -> "MissingQuery",
        "gone" -> "MissingExpectedDigest", "s1" -> "StreamingSplitMismatch",
        "q1" -> "StreamingSplitMismatch", "q1" -> "DuplicateQuery",
        "s2" -> "StreamNotListed"))
    }

    test("the cold and settling passes give no warm samples") {
      assert((0 to Workloads.SettlePasses).forall(!Workloads.measured(_)))
      assert(Workloads.measured(Workloads.SettlePasses + 1))
      assert(Workloads.short.warmPasses(1) == 3)
    }
  }

  private def resultLine(): Unit =
    test("the result line parses under a comma-decimal default locale") {
      val saved = Locale.getDefault
      Locale.setDefault(Locale.GERMANY)
      try {
        // the formatting this guards against: a locale-sensitive %.4f
        assert(f"${1.5}%.4f" == "1,5000")
        val line = Main.resultLine(correct = true, attempted = 1234567,
          failed = 0, Seq(("x_s", 1234.5678, "s"), ("tiny_s", 1.5e-7, "s"),
            ("lost_s", Double.NaN, "s")))
        val tree =
          new com.fasterxml.jackson.databind.ObjectMapper().readTree(line)
        assert(tree.get("correct").asBoolean)
        assert(tree.get("attempted").asLong == 1234567L)
        val m = tree.get("metrics")
        assert(m.get("x_s").get("value").asDouble == 1234.5678)
        assert(m.get("x_s").get("unit").asText == "s")
        assert(m.get("tiny_s").get("value").asDouble == 1.5e-7)
        assert(m.get("lost_s").get("value").isNull)
        assert(!line.contains('\n'))
      } finally Locale.setDefault(saved)
    }

  private def jvmOptions(root: Path): Unit =
    test("run.py's copy of the JVM options matches build.sbt") {
      def read(f: String) = new String(Files.readAllBytes(root.resolve(f)))
      def block(s: String, start: String, end: String) = {
        val i = s.indexOf(start)
        assert(i >= 0, s"no $start")
        s.substring(i, s.indexOf(end, i))
      }
      val sbtText = read("build.sbt")
      val pyText = read("perfbench/run.py")
      val sbt = block(sbtText, "val jdk17AddOpens", ".flatMap") +
        block(sbtText, "javaOptions ++=", "\n)")
      val py = block(pyText, "ADD_OPENS = (", "\n)") +
        block(pyText, "SYSTEM_PROPS = (", ")") +
        block(pyText, "DEFAULT_HEAP =", "\n")
      def opens(s: String) =
        "\"(java\\.base/[\\w./]+)\"".r.findAllMatchIn(s).map(_.group(1)).toSet
      assert(opens(sbt).nonEmpty && opens(sbt) == opens(py),
        s"add-opens: build.sbt ${opens(sbt)} vs run.py ${opens(py)}")
      def props(s: String) = "\"(-D[\\w.]+=[^\"$]+)\"".r.findAllMatchIn(s)
        .map(_.group(1)).toSet
      assert(props(sbt) == props(py),
        s"system properties: build.sbt ${props(sbt)} vs run.py ${props(py)}")
      val heap = "SPARK_DRIVER_MEM\", \"(\\w+)\"".r
      val sbtHeap = heap.findFirstMatchIn(sbt).map(_.group(1))
      val pyHeap = "DEFAULT_HEAP = \"(\\w+)\"".r.findFirstMatchIn(py)
        .map(_.group(1))
      assert(sbtHeap.isDefined && sbtHeap == pyHeap,
        s"heap: build.sbt $sbtHeap vs run.py $pyHeap")
    }

  private def fingerprint(spark: SparkSession): Unit = {
    def sample = spark.range(0, 500).selectExpr(
      "id", "cast(id % 7 as string) as s", "id / 3.0d as d",
      "cast(id as decimal(20, 4)) as m", "timestamp_seconds(id * 1000) as ts",
      "date_add(date'2020-01-01', cast(id as int)) as dt",
      "if(id % 5 = 0, null, id) as n", "cast(id % 2 = 0 as boolean) as b")

    test("digest ignores row order and partitioning") {
      val df = sample
      val base = Fingerprint.of(df)
      assert(base.rows == 500)
      assert(Fingerprint.of(df.repartition(4)) == base)
      assert(Fingerprint.of(df.orderBy(df("d").desc)) == base)
      assert(Fingerprint.of(df.coalesce(1)) == base)
      assert(Fingerprint.of(df.columns.toSeq,
        scala.util.Random.shuffle(df.collect().toSeq).iterator) == base)
    }

    test("digest changes with any value, a duplicated row or a column name") {
      val df = sample
      val base = Fingerprint.of(df)
      assert(Fingerprint.of(df.where("id <> 7")) != base)
      assert(Fingerprint.of(df.union(df.limit(1))) != base)
      assert(Fingerprint.of(df.withColumnRenamed("s", "t")) != base)
      assert(Fingerprint.of(df.selectExpr("id", "s", "d", "m", "ts", "dt",
        "if(id = 3, n + 1, n) as n", "b")) != base)
    }

    test("adjacent columns cannot run together") {
      assert(Fingerprint.rowHash(Row("ab", "c")) !=
        Fingerprint.rowHash(Row("a", "bc")))
      assert(Fingerprint.rowHash(Row(null, "x")) !=
        Fingerprint.rowHash(Row("x", null)))
    }
  }

  private def generator(spark: SparkSession, root: Path): Unit =
    test("the replica keeps every foreign key matched and every key unique") {
      val base = root.resolve("perfbench/data/sf0.01").toString
      val factor = 3
      val tables = Generate.replicated.map(t =>
        t -> spark.read.parquet(s"$base/$t.parquet")).toMap
      val stride = Generate.strides(tables)
      val copies: Map[String, DataFrame] = tables.map { case (t, df) =>
        t -> Generate.replicate(df, t, factor, stride) }
      for ((t, df) <- tables)
        assert(copies(t).count() == factor * df.count(), t)
      for (domain <- Generate.domains) {
        val (keyTable, key) = domain.head
        val keys = copies(keyTable).select(key)
        if (keyTable != "events" || key == "event_id")
          assert(keys.distinct().count() == keys.count(), s"$key is unique")
        for ((t, fk) <- domain.tail) {
          val orphans = copies(t).select(fk).distinct()
            .join(keys.distinct(), copies(t)(fk) === keys(key), "left_anti")
          assert(orphans.count() == 0, s"$t.$fk has keys missing from $key")
          // fan-out per key is that of the base
          def fanOut(df: DataFrame) = df.groupBy(fk).count()
            .selectExpr("max(count)").head().getLong(0)
          assert(fanOut(copies(t)) == fanOut(tables(t)), s"$t.$fk fan-out")
        }
      }
    }
}
