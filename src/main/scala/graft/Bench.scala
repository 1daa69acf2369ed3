package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}

/** Benchmark main. Times every declared query twice (per-query MIN) and
  * emits two `"metric":"total"` JSON lines on stdout:
  *   1. FIRST, the full line: per-query minima, raw per-pass samples,
  *      failures and the measurement config (for tools/bench_fold.py and
  *      humans; also written to `target/bench.json` and the committed
  *      artifact path, since a caller that keeps only the last 2000
  *      chars of stdout loses this several-KB line);
  *   2. LAST, a compact total line that fits that tail.
  * A query that throws is kept out of the total, named under `failed`
  * (with `n_failed`) and makes the main exit non-zero.
  */
object Bench {
  /** JVM/codegen warm-up so the first timed query doesn't absorb
    * whole-stage-codegen compiler startup (~3-4 s once per JVM), then
    * the streaming-engine warm-up (microbatch planner, state stores incl.
    * RocksDB + transformWithState, file source/sink commit-log classes
    * load once per JVM), mirroring the d5-d17 query classes. A failed
    * streaming warm-up only shifts that cost into the first stream's
    * timing, so it is logged, not fatal.
    */
  def warmUp(spark: SparkSession): Unit = {
    spark.range(100000).selectExpr("sum(id * 2)").collect()
    try graft.streaming.StreamingDemo.warmStreaming(spark)
    catch { case e: Throwable =>
      System.err.println(s"[bench] streaming warm-up failed: $e")
      e.printStackTrace()
    }
  }

  /** The two stdout lines (full first, compact total last) for per-query
    * minima `results`, raw samples `runs` and the `failed` names. Numbers
    * go through Double.toString, which ignores the default Locale, so
    * both lines stay valid JSON under a comma-decimal locale.
    */
  def emit(results: Seq[(String, Double)], runs: Seq[(String, Seq[Double])],
      failed: Seq[String], config: String, sfDir: String): (String, String) = {
    def str(s: String) = "\"" + s + "\""
    val total = results.map(_._2).sum
    // Split the true-streaming engine floor (state store + checkpoint +
    // microbatch setup per query — swings 2-6× under host load) from
    // the batch-query cost, so the graded tail-parse can tell engine
    // floor from query regression.
    val streaming = results
      .filter { case (k, _) => operators.TierD.streamingNames(k) }
    val head = s""""metric":"total","value":$total,"unit":"sec",""" +
      s""""streaming_sec":${streaming.map(_._2).sum},"streaming_n":${streaming.size},""" +
      s""""n_queries":${results.size},"n_failed":${failed.size},""" +
      s""""failed":${failed.map(str).mkString("[", ",", "]")}"""
    // the authoritative classification, embedded so tools/bench_fold.py
    // never re-derives it from a name heuristic that can drift
    val streamNames = operators.TierD.streamingNames.toSeq.sorted
      .map(str).mkString("[", ",", "]")
    val qs = results.map { case (k, v) => s"${str(k)}:$v" }
      .mkString("{", ",", "}")
    // Raw per-pass samples, so tools/bench_fold.py can compute exact
    // cross-invocation MEDIANS (robust center) alongside the minima
    // (noise floor) when folding several runs into the committed
    // bench_full_r<N>.json artifact.
    val rs = runs.map { case (k, v) => s"${str(k)}:${v.mkString("[", ",", "]")}" }
      .mkString("{", ",", "}")
    val full = s"""{$head,"streaming_names":$streamNames,$config,""" +
      s""""queries":$qs,"queries_runs":$rs,"sf":"$sfDir"}"""
    (full, s"""{$head,"sf":"$sfDir"}""")
  }

  def main(args: Array[String]): Unit = {
    val sfDir = GraftSession.envSfDir
    val cpus = GraftSession.envCpus
    val spark = GraftSession(sfDir, cpus)
    warmUp(spark)
    // NO base-table cache (round-13 optimization rules): every timed
    // query computes from the parquet inputs, paying its own scan.
    // Earlier rounds cached the ten shared scans here; that hid the
    // per-query scan cost from the timed region and is disallowed as
    // of the optimization rounds (OPTIMIZATION_r13.md declares the
    // methodology change; bench_full_r12/r13 carry the old series).
    // The analyzed-DataFrame memo in Tables.table (file listing +
    // footer schema + analysis, never rows) is unaffected.
    // Per-query MIN over two passes: this host's timing noise band is
    // ±50%+ (consecutive identical runs measured 47 s vs 100 s), and a
    // single sample turns one GC/compile hiccup into the recorded grade.
    // The min of two runs estimates the query's actual cost — the noise
    // is strictly additive (no mechanism makes a query run too fast).
    // A pass returns None for a query that threw.
    def pass(): Seq[(String, Option[Double])] =
      SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
        // Label every job with its query name (guide §1.5) so the UI,
        // event log and [profile] lines attribute work to queries.
        spark.sparkContext.setJobDescription(name)
        graft.util.GraftProfiler.label = name
        val t0 = System.nanoTime()
        val ok = try { fn(spark, sfDir).count(); true } catch { case e: Throwable =>
          System.err.println(s"[bench] $name failed: $e")
          false
        }
        spark.sparkContext.setJobDescription(null)
        name -> Option.when(ok)((System.nanoTime() - t0) / 1e9)
      }
    val p1 = pass()
    val p2 = pass().toMap
    val runs = p1.flatMap { case (name, t1) =>
      for (a <- t1; b <- p2(name)) yield name -> Seq(a, b)
    }
    val results = runs.map { case (name, ts) => name -> ts.min }
    val failed = p1.map(_._1).filterNot(runs.map(_._1).toSet)
    // Measurement config, embedded so tools/bench_diff.py can refuse
    // apples-to-oranges comparisons (the repo documents ±50% cross-host
    // noise; a diff between different cpu counts is meaningless).
    val config = s""""config":{"cpus":"$cpus","shuffle_partitions":"${spark.conf.get("spark.sql.shuffle.partitions")}","max_partition_bytes":"${spark.conf.get("spark.sql.files.maxPartitionBytes")}","host_processors":${Runtime.getRuntime.availableProcessors()},"spark_version":"${spark.version}","sf_dir":"$sfDir"}"""
    val (full, compact) = emit(results, runs, failed, config, sfDir)
    println(full)
    try {
      Files.createDirectories(Paths.get("target"))
      Files.writeString(Paths.get("target/bench.json"), full + "\n")
      // Repo-root copy: the driver's BENCH_r0N.json keeps only a
      // 2000-char stdout tail, which truncates the a/b-tier per-query
      // times and blinds round-over-round regression tracking. This
      // file is committed each round (bench_full_r<N>.json) so the
      // FULL {query: seconds} map survives as an artifact.
      val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT",
        "bench_full_latest.json")
      Files.writeString(Paths.get(outPath), full + "\n")
    } catch { case e: Throwable =>
      System.err.println(s"[bench] could not write the full result: $e")
    }
    spark.stop()
    // LAST line: compact, survives a 2000-char stdout tail.
    println(compact)
    if (failed.nonEmpty) sys.exit(1)
  }
}
