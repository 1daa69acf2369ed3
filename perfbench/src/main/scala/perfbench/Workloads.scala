package perfbench

/** The benchmark's workloads. Each is an explicit list of declared query
  * names, so a new query never joins a workload silently. README.md
  * gives the reason for every list. `run.py` reads the workload names and
  * corpus factors from [[main]], so they are decided here only. */
object Workloads {
  /** Warm passes run after the cold one and before the measured ones. The
    * first warm passes run up to twice as long as the later ones while the
    * JIT compiler catches up, and a pass measured on that ramp reacts more
    * to the host's speed; four settling passes fit the run budget. A settling pass is checked and counted like any
    * other, but gives no timing sample. */
  val SettlePasses = 4

  /** Warm seconds budgeted per pass. `--seconds` fixes the number of
    * measured warm passes through it, so every run of a workload does the
    * same work whatever the host's speed. */
  val PassBudgetS = 5.0

  /** The committed corpus every workload's input is made from. */
  val BaseCorpus = "sf0.01"

  /** Whether a pass's timings are warm samples. */
  def measured(pass: Int): Boolean = pass > SettlePasses

  /** @param factor how many key-offset replicas of the base corpus the
    *   workload reads (`Generate`); 1 reads the base corpus itself.
    * @param streams the listed queries that are Structured Streaming
    *   runs; checked against `TierD.streamingNames`. */
  final case class Workload(name: String, factor: Int,
      queries: Seq[String], streams: Set[String] = Set.empty) {
    /** The name of the input corpus the run must be given. */
    def corpus: String =
      if (factor == 1) BaseCorpus else s"${BaseCorpus}x$factor"

    def warmPasses(seconds: Double): Int =
      math.max(3, math.round(seconds / PassBudgetS).toInt)

    /** The query order of one pass. The cold pass runs the declared order:
      * which query pays the JVM's first-use costs moved the cold pass by
      * up to a third between seeds, so a seeded cold order would swamp
      * `cold_pass_s` with seed noise. Warm passes run the declared cycle
      * from a start that steps by one query per pass, from an offset drawn
      * from the seed, so a run's passes cover consecutive rotations.
      * Which query follows which stays fixed: full seeded permutations
      * moved `warm_pass_s` on `bulk` by a quarter between seeds, and the
      * same seed repeated within a twentieth. */
    def order(seed: Long, pass: Int): Seq[String] =
      if (pass == 0) queries
      else {
        // SplittableRandom mixes its seed, so consecutive seeds draw
        // unrelated offsets; java.util.Random's first draw for small
        // consecutive seeds is the same.
        val start = (new java.util.SplittableRandom(seed)
          .nextInt(queries.size) + pass) % queries.size
        queries.drop(start) ++ queries.take(start)
      }

    /** Problems with the list itself, as (query, failure kind): a name
      * the library does not declare, a name without an expected digest,
      * a duplicate, or a query on the wrong side of the streaming split. */
    def validate(declared: collection.Set[String],
        streamingNames: collection.Set[String],
        expected: collection.Set[String]): Seq[(String, String)] =
      queries.distinct.flatMap { q =>
        Seq(
          (!declared(q)) -> "MissingQuery",
          (!expected(q)) -> "MissingExpectedDigest",
          (streamingNames(q) != streams(q)) -> "StreamingSplitMismatch")
          .collect { case (true, why) => q -> why }
      } ++ queries.diff(queries.distinct).map(_ -> "DuplicateQuery") ++
        streams.diff(queries.toSet).toSeq.map(_ -> "StreamNotListed")
  }

  private val shortStreams = Seq("d5_stream_tumbling",
    "d10_stream_transform_state")

  /** Per-query fixed cost over the base corpus: reads (the Mrs programs
    * wordcount a16 and PSO a25, the Q3 join), a graftmem MERGE, and
    * Structured Streaming runs with HDFS (d5) and RocksDB (d10) state
    * stores. */
  val short: Workload = Workload("short", 1, Seq(
    "a16_wordcount", "a25_pso_iterative", "b52_flagship_q3",
    "b75_merge_into") ++ shortStreams,
    streams = shortStreams.toSet)

  /** Per-row cost over 25 key-offset replicas of the base corpus, where
    * `lineitem` passes the 16 MB split floor so its scans split: a
    * `CoreMR` RDD primitive (sort in reduce), a `graft.functions`
    * aggregate (top-k), the Q3 join and MERGE. */
  val bulk: Workload = Workload("bulk", 25, Seq(
    "a8_sort_in_reduce", "b46_topk_agg", "b52_flagship_q3", "b75_merge_into"))

  val all: Seq[Workload] = Seq(short, bulk)
  val byName: Map[String, Workload] = all.map(w => w.name -> w).toMap

  /** Prints one `<name> <base corpus> <factor>` line per workload. */
  def main(args: Array[String]): Unit =
    all.foreach(w => println(s"${w.name} $BaseCorpus ${w.factor}"))
}
