package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Path, Paths}
import java.util.concurrent.{Executors, TimeUnit}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** The benchmark's main program: one JVM, one client in a closed loop.
  * The main thread runs one declared query at a time, in a seeded order per pass,
  * times its own calls into `QueryDef.fn` and into the action that reads
  * the result, and checks every result against its expected digest.
  *
  * Usage: `perfbench.Main --workload W --seed N --seconds S --trace 0|1
  * --data DIR --corpus NAME --expected FILE --out DIR` (run.py supplies
  * the paths). */
object Main {
  /** A query slower than this is stopped and counted as failed. */
  val QueryLimitSeconds = 60.0

  final case class Failure(pass: Int, position: Int, query: String,
      kind: String, message: String)
  final case class Sample(pass: Int, query: String, seconds: Double)
  final case class PassStat(pass: Int, spanId: Long, wallS: Double,
      cpuS: Double, jvm: Report.JvmDelta, traced: Boolean)

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k -> v }.toMap
    def opt(k: String) = opts.getOrElse(k, sys.error(s"missing $k"))
    val workload = Workloads.byName.getOrElse(opt("--workload"),
      sys.error(s"unknown workload ${opt("--workload")}; one of " +
        Workloads.all.map(_.name).mkString(", ")))
    val seed = opt("--seed").toLong
    val seconds = opt("--seconds").toDouble
    val trace = opt("--trace") == "1"
    val dataDir = opt("--data")
    val corpus = opt("--corpus")
    val expected = Expected.read(Paths.get(opt("--expected")), corpus)
    val outDir = Paths.get(opt("--out"))
    sys.exit(run(workload, seed, seconds, trace, dataDir, corpus, expected,
      outDir))
  }

  private def log(s: String): Unit = println(s"[perfbench] $s")

  private val cpuBean = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private def cpuS: Double = cpuBean.getProcessCpuTime / 1e9
  private[perfbench] def jvmCounters: Report.JvmDelta = {
    val codegen =
      org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
    Report.JvmDelta(codegen.getCount, codegen.getSnapshot.getMean,
      ManagementFactory.getCompilationMXBean.getTotalCompilationTime,
      ManagementFactory.getGarbageCollectorMXBeans.asScala
        .map(_.getCollectionTime).sum,
      ManagementFactory.getClassLoadingMXBean.getTotalLoadedClassCount)
  }
  /** Counter changes over a pass. Spark keeps codegen compile times only
    * as a sampled histogram, so a pass's compile time is its compile count
    * times the histogram's mean at the pass's end. */
  private[perfbench] def minus(a: Report.JvmDelta, b: Report.JvmDelta) =
    Report.JvmDelta(a.codegenCompiles - b.codegenCompiles, a.codegenMeanMs,
      a.jitMs - b.jitMs, a.gcMs - b.gcMs, a.classesLoaded - b.classesLoaded)

  def run(workload: Workloads.Workload, seed: Long, seconds: Double,
      trace: Boolean, dataDir: String, corpus: String,
      expected: Map[String, String], outDir: Path): Int = {
    val launchedMs = Session.launchedMs
    val cores = Runtime.getRuntime.availableProcessors()
    val spark = Session.build(dataDir, cores)
    val sessionS = (System.currentTimeMillis() - launchedMs) / 1e3
    Session.firstAction(spark)
    val setupS = (System.currentTimeMillis() - launchedMs) / 1e3
    val firstActionS = setupS - sessionS

    val failures = mutable.ArrayBuffer.empty[Failure]
    val problems = workload.validate(graft.SparkEntry.queries.keySet,
      graft.operators.TierD.streamingNames, expected.keySet) ++
      (if (corpus == workload.corpus) Nil
       else Seq(corpus -> s"WrongCorpus(wants ${workload.corpus})"))
    problems.foreach { case (q, why) => failures += Failure(-1, -1, q, why, "") }
    val spans = new Spans
    val runSpan = spans.start(0, "run", workload.name)
    val tracer = if (trace) Some(new Tracer(spark)) else None
    val warmPasses = workload.warmPasses(seconds)
    // Traced runs trace the cold pass and every other measured warm pass
    // (traced, untraced, traced, ...), so the listeners' cost shows as the
    // difference between the two sets, and a steady JIT speed-up over the
    // passes falls on both sets alike.
    def traced(pass: Int) = trace && (pass == 0 ||
      (Workloads.measured(pass) && (pass - Workloads.SettlePasses) % 2 == 1))
    val watchdog = Executors.newSingleThreadScheduledExecutor { r =>
      val t = new Thread(r, "perfbench-watchdog"); t.setDaemon(true); t
    }
    val samples = mutable.ArrayBuffer.empty[Sample]
    val passStats = mutable.ArrayBuffer.empty[PassStat]
    var attempted = 0L

    log(s"workload=${workload.name} seed=$seed seconds=$seconds " +
      s"trace=${if (trace) 1 else 0} cores=$cores corpus=$corpus " +
      s"settle_passes=${Workloads.SettlePasses} warm_passes=$warmPasses " +
      s"queries=${workload.queries.size}")
    log("conf " + Session.effectiveConf(spark).map { case (k, v) => s"$k=$v" }
      .mkString(" "))
    for (pass <- 0 to Workloads.SettlePasses + warmPasses) {
      val order = workload.order(seed, pass)
      log(s"order pass=$pass ${order.mkString(",")}")
      if (traced(pass)) tracer.foreach(_.attach())
      val passSpan = spans.start(runSpan, "pass", pass.toString)
      val jvm0 = jvmCounters
      val cpu0 = cpuS
      for ((name, position) <- order.zipWithIndex) {
        attempted += 1
        val fail = (kind: String, msg: String) =>
          failures += Failure(pass, position, name, kind, msg)
        graft.SparkEntry.queries.get(name) match {
          case None => fail("MissingQuery", "not in SparkEntry.queries")
          case Some(fn) =>
            runQuery(spark, spans, passSpan, name, fn, dataDir, watchdog) match {
              case Left((kind, msg)) => fail(kind, msg)
              case Right((s, digest)) =>
                if (s > QueryLimitSeconds)
                  fail("QueryTimeLimit", s"took $s s")
                else if (!expected.get(name).contains(digest.show))
                  fail("FingerprintMismatch", s"got ${digest.show}, " +
                    s"expected ${expected.getOrElse(name, "none")}")
                else samples += Sample(pass, name, s)
            }
        }
      }
      val cpu1 = cpuS
      val jvm1 = jvmCounters
      val passS = spans.end(passSpan).seconds
      passStats += PassStat(pass, passSpan, passS, cpu1 - cpu0,
        minus(jvm1, jvm0), traced(pass))
      if (traced(pass)) tracer.foreach(_.detach())
      log(s"pass=$pass wall_s=$passS cpu_s=${cpu1 - cpu0}")
    }
    watchdog.shutdownNow()
    spans.end(runSpan)
    // Spark's ContextCleaner frees shuffle and broadcast state only after
    // a GC has cleared the references, so collect, let it run, collect.
    System.gc(); Thread.sleep(1000); System.gc(); Thread.sleep(200); System.gc()
    val heapLiveMb =
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1e6
    spark.streams.active.foreach(q => try q.stop() catch { case _: Exception => })

    failures.foreach(f => log(s"FAILED pass=${f.pass} position=${f.position} " +
      s"query=${f.query} kind=${f.kind} ${f.message}"))
    val failedN = failures.size.toLong
    log(s"metric fail_frac = ${failedN.toDouble / math.max(attempted, 1)} " +
      s"ratio (failed $failedN of $attempted attempted)")

    samples.groupBy(_.query).toSeq.sortBy(_._1).foreach { case (q, ss) =>
      val cold = ss.filter(_.pass == 0)
      val later = ss.filter(s => Workloads.measured(s.pass))
      log(s"query $q cold_s=${cold.map(_.seconds).mkString} warm_median_s=" +
        (if (later.isEmpty) "-" else Stats.median(later.map(_.seconds).toSeq)))
    }
    val warm = passStats.filter(p => Workloads.measured(p.pass))
    val untracedWarm = warm.filterNot(_.traced)
    val warmSamples = samples.filter(s => Workloads.measured(s.pass))
      .map(_.seconds).toSeq
    val metrics: Seq[(String, Double, String)] =
      if (!trace) {
        val tail = Stats.tail(warmSamples)
        tail.foreach { case (p, v) =>
          log(s"query_tail_s is p$p of ${warmSamples.size} warm samples: $v") }
        Seq(
          ("setup_s", setupS, "s"),
          ("cold_pass_s", passStats.head.wallS, "s"),
          ("warm_pass_s", Stats.median(untracedWarm.map(_.wallS).toSeq), "s"),
          ("query_p50_s",
            if (warmSamples.isEmpty) Double.NaN else Stats.median(warmSamples), "s"),
          ("query_tail_s", tail.map(_._2).getOrElse(Double.NaN), "s"),
          ("cpu_s", Stats.median(untracedWarm.map(_.cpuS).toSeq), "s"),
          ("heap_live_mb", heapLiveMb, "MB"))
      } else {
        val t = tracer.get
        t.drain()
        val all = spans.finished
        val jobs = t.jobs.finishedJobs
        val execs = t.execs.asScala.toSeq
        val streams = t.streams.asScala.toSeq
        val batches = t.batches.asScala.toSeq
        def layers(p: PassStat) = Report.pass(Report.queriesOf(all, p.spanId),
          jobs, execs, streams, batches, p.jvm, cores)
        val cold = layers(passStats.head)
        val tracedWarm = warm.filter(_.traced).map(layers).toSeq
        val tracedWall = Stats.median(warm.filter(_.traced).map(_.wallS).toSeq)
        val untracedWall = Stats.median(untracedWarm.map(_.wallS).toSeq)
        TraceFile.write(outDir.resolve(
          s"trace-${workload.name}-seed$seed.json"), all, jobs, execs,
          streams, batches, t.jobs.unattributedTasks)
        Seq(
          ("setup.session_s", sessionS, "s"),
          ("setup.first_action_s", firstActionS, "s")) ++
          cold.zipWithIndex.flatMap { case ((k, v, unit), i) =>
            Seq((s"cold.$k", v, unit),
              (s"warm.$k", Stats.median(tracedWarm.map(_(i)._2)), unit))
          } ++ Seq(
          ("trace.overhead_s", tracedWall - untracedWall, "s"),
          ("trace.overhead_frac", (tracedWall - untracedWall) / untracedWall,
            "ratio"),
          ("trace.unattributed_tasks", t.jobs.unattributedTasks.toDouble,
            "count"))
      }
    metrics.foreach { case (k, v, u) => log(s"metric $k = $v $u") }
    spark.stop()

    val ok = failures.isEmpty && metrics.forall { case (_, v, _) => !v.isNaN }
    println(resultLine(ok, attempted, failedN, metrics))
    if (ok) 0 else 1
  }

  /** The run's result as one JSON line; a metric that could not be
    * measured is written as null. Jackson writes numbers without the
    * default `Locale`, so the line parses under a comma-decimal locale. */
  def resultLine(correct: Boolean, attempted: Long, failed: Long,
      metrics: Seq[(String, Double, String)]): String = {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper
    val root = mapper.createObjectNode().put("correct", correct)
      .put("attempted", attempted).put("failed", failed)
    val ms = root.putObject("metrics")
    metrics.foreach { case (k, v, u) =>
      val m = ms.putObject(k)
      if (v.isNaN) m.putNull("value") else m.put("value", v)
      m.put("unit", u)
    }
    mapper.writeValueAsString(root)
  }

  /** Runs one query: `fn` under one job tag, then `collect()` under
    * another. Returns the seconds both took and the digest of the rows,
    * made after the timing ends, or
    * the failure's exception class and message. A watchdog cancels the
    * query's jobs and streams once it exceeds [[QueryLimitSeconds]]. */
  private[perfbench] def runQuery(spark: SparkSession, spans: Spans,
      passSpan: Long, name: String,
      fn: (SparkSession, String) => org.apache.spark.sql.DataFrame,
      dataDir: String, watchdog: java.util.concurrent.ScheduledExecutorService)
      : Either[(String, String), (Double, Digest)] = {
    val sc = spark.sparkContext
    val q = spans.start(passSpan, "query", name)
    var part = spans.start(q, "fn", name)
    sc.addJobTag(Tracer.tagOf(part))
    val stop = watchdog.schedule(new Runnable {
      def run(): Unit = {
        sc.cancelAllJobs()
        spark.streams.active.foreach(s =>
          try s.stop() catch { case _: Exception => })
      }
    }, (QueryLimitSeconds * 1000).toLong, TimeUnit.MILLISECONDS)
    try {
      val df = fn(spark, dataDir)
      spans.end(part)
      sc.clearJobTags()
      part = spans.start(q, "action", name)
      sc.addJobTag(Tracer.tagOf(part))
      val rows = df.collect()
      spans.end(part)
      val seconds = spans.end(q).seconds
      // The digest is the harness's own work, so it is made untimed.
      Right((seconds, Fingerprint.of(df.columns.toSeq, rows.iterator)))
    } catch {
      case e: Exception =>
        spans.end(part)
        spans.end(q)
        spark.streams.active.foreach(s =>
          try s.stop() catch { case _: Exception => })
        Left((e.getClass.getName, String.valueOf(e.getMessage).take(300)))
    } finally {
      stop.cancel(false)
      sc.clearJobTags()
    }
  }
}
