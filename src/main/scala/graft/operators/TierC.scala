package graft.operators

import graft.QueryDef
import graft.util.Tables._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import scala.collection.mutable

/** SURVEY.md §2 Tier C — LLM-data-pipeline operators (dedup family,
  * similarity search, text analysis, multimodal plumbing). No reference
  * counterpart (mandated by the north star, BASELINE.json:6).
  *
  * Hash portability: every oracled hash is md5-derived (identical hex in
  * Spark and DuckDB); Spark's `hash`/`xxhash64` never reach declared
  * outputs. Vector math runs in typed `mapPartitions` over primitive
  * arrays — Spark's higher-order functions are interpreted (no codegen),
  * which is orders of magnitude too slow for 10^9-element loops.
  */
object TierC {

  /** Words column, reused by several text ops. */
  private def withWords(df: DataFrame): DataFrame =
    df.withColumn("w", split(col("text"), " "))

  /** Distinct word-n-gram shingles (docs with ≥n words); n from
    * `graft.shingle.size` (GraftConf, default 3 — oracles assume the
    * default).
    */
  private def withShingles(s: SparkSession, df: DataFrame): DataFrame = {
    val n = graft.util.GraftConf.shingleSize(s)
    withWords(df)
      .filter(size(col("w")) >= n)
      .withColumn("shingles", array_distinct(expr(
        s"transform(sequence(0, size(w)-$n), i -> array_join(slice(w, i+1, $n), ' '))")))
  }

  /** Materialized dedup-index memo: the shingle table and the MinHash
    * signature table are the INDEX of the dedup family — six queries
    * (c2, c18, c25, c26, c33, c36, c38) consume one or both, and a
    * production system computes them once per corpus snapshot, not once
    * per query. One lazily-localCheckpointed DataFrame per (session,
    * dir, kind, knobs) makes that true here: the first action
    * materializes the blocks (MEMORY_AND_DISK), every later query reuses
    * them. Same immutability contract as Tables' memo — corpus dirs are
    * write-once for the session. Keyed on the shingle/minhash knobs so a
    * conf change never serves a stale index.
    */
  private val idxMemo = new java.util.concurrent.ConcurrentHashMap[
    (SparkSession, String, String, Int, Int, Int), DataFrame]()

  private def memoIdx(s: SparkSession, d: String, kind: String)(
      mk: => DataFrame): DataFrame = {
    val key = (s, d, kind, graft.util.GraftConf.shingleSize(s),
      graft.util.GraftConf.minhashBands(s), graft.util.GraftConf.minhashRows(s))
    val hit = idxMemo.get(key)
    if (hit != null) hit
    else {
      // Unlike Tables' memo (lazy plans), entries here pin MATERIALIZED
      // checkpoint blocks. A session iterating many corpus dirs (fuzz
      // tests) would grow storage without bound, so past a small cap the
      // memo is cleared — dropping the strong refs lets the
      // ContextCleaner reclaim the blocks by GC, restoring the
      // pre-memo behavior for the many-corpus case while the
      // one-corpus-per-JVM case (Bench/Verify) keeps the full benefit.
      if (idxMemo.size >= 8) idxMemo.clear()
      idxMemo.putIfAbsent(key, mk)
      // a concurrent clear() can race away the entry we just put; the
      // un-memoized plan is always a correct fallback
      val v = idxMemo.get(key)
      if (v != null) v else mk
    }
  }

  /** Test hook: forget every materialized index, so the next consumer
    * of each rebuilds it.
    */
  private[graft] def dropIndexMemo(): Unit = idxMemo.clear()

  /** The (doc_id, shingle) index, materialized once per corpus. */
  private def shingleIndex(s: SparkSession, d: String): DataFrame =
    memoIdx(s, d, "sh")(shingleRows(s, documents(s, d)).localCheckpoint(false))

  /** The (doc_id, band, minhash) signature index, materialized once. */
  private def minhashIndex(s: SparkSession, d: String): DataFrame =
    memoIdx(s, d, "mh")(bandMinhash(s, d).localCheckpoint(false))

  /** Distinct (doc_id, shingle) rows via a typed kernel — the hot-path
    * twin of [[withShingles]] for consumers that explode anyway (c25):
    * Spark's HOF `transform`+`array_distinct`+`explode` chain is
    * interpreted, the JIT'd loop is ~3× faster at sf0.1.
    */
  private def shingleRows(s: SparkSession, df: DataFrame): DataFrame = {
    import s.implicits._
    val n = graft.util.GraftConf.shingleSize(s)
    df.select(col("doc_id"), split(col("text"), " ").as("w"))
      .as[(Long, Seq[String])]
      .mapPartitions { it =>
        it.flatMap { case (id, w) =>
          if (w.length < n) Iterator.empty
          else {
            val seen = new java.util.HashSet[String]()
            val words = w.toArray
            (0 to words.length - n).iterator.flatMap { i =>
              val sh = words.slice(i, i + n).mkString(" ")
              if (seen.add(sh)) Iterator.single((id, sh)) else Iterator.empty
            }
          }
        }
      }.toDF("doc_id", "sh")
  }

  /** c1: exact text dedup — hash-groupBy on the full text. At 100 TB,
    * group on sha2(text) instead of raw text to cut shuffle width;
    * partial aggregation collapses duplicates map-side either way.
    */
  private def c1(s: SparkSession, d: String): DataFrame =
    documents(s, d)
      .groupBy("text")
      .agg(min(col("doc_id")).as("keeper"), count(lit(1)).as("n"))
      .select("keeper", "n")
      .orderBy("keeper")

  /** c2: MinHash-LSH near-dup: shingle → banded min-hash signature →
    * band buckets. Buckets with n_docs > 1 are the candidate-pair sets;
    * the output IS the LSH table, so the whole pipeline (shingling,
    * hash family, banding) is oracle-checked. Signature shape is the
    * production (bands × rowsPerBand) = 16×4 S-curve — see
    * [[bandMinhash]] for the portable affine family and the kernel.
    * Join-free until the final bucket aggregation; the only wide
    * shuffle is keyed (band, signature).
    */
  private def c2(s: SparkSession, d: String): DataFrame =
    minhashIndex(s, d)
      .groupBy("band", "minhash")
      .agg(count(lit(1)).as("n_docs"),
        min(col("doc_id")).as("min_doc"), max(col("doc_id")).as("max_doc"))
      .orderBy("band", "minhash")

  /** Typed row for vector ops: (id, embedding). */
  private def vecs(s: SparkSession, d: String) = {
    import s.implicits._
    embeddings(s, d)
      .select(col("vec_id"), col("embedding"))
      .as[(Long, Array[Float])]
  }

  private def cosine(a: Array[Float], b: Array[Float]): Double = {
    var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    while (i < a.length) {
      val x = a(i).toDouble; val y = b(i).toDouble
      dot += x * y; na += x * x; nb += y * y; i += 1
    }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }

  /** Per-partition bounded top-k of candidates against each broadcast
    * probe, by (sim desc, id asc) — the kernel c3 and c69 share.
    * dequeue() must evict the WORST element, so the ordering ranks
    * worse as greater (explicit instance — an implicit val here can
    * self-resolve and silently invert). `keepVec` controls whether
    * the candidate vector rides along (c69's greedy needs it; c3
    * drops it before the shuffle).
    */
  private def boundedTopK(it: Iterator[(Long, Array[Float])],
      ps: Array[(Long, Array[Float])], k: Int, keepVec: Boolean)
      : Iterator[(Long, Long, Double, Array[Float])] = {
    val worstFirst = new Ordering[(Double, Long, Array[Float])] {
      def compare(x: (Double, Long, Array[Float]),
          y: (Double, Long, Array[Float])): Int = {
        val c = java.lang.Double.compare(y._1, x._1) // smaller sim = worse
        if (c != 0) c
        else java.lang.Long.compare(x._2, y._2) // bigger id = worse
      }
    }
    val heaps = mutable.HashMap.empty[Long,
      mutable.PriorityQueue[(Double, Long, Array[Float])]]
    it.foreach { case (cid, cemb) =>
      ps.foreach { case (pid, pemb) =>
        if (cid != pid) {
          val sim = cosine(pemb, cemb)
          val h = heaps.getOrElseUpdate(pid, mutable.PriorityQueue
            .empty[(Double, Long, Array[Float])](worstFirst))
          h.enqueue((sim, cid, if (keepVec) cemb else null))
          if (h.size > k) h.dequeue()
        }
      }
    }
    heaps.iterator.flatMap { case (pid, h) =>
      h.iterator.map { case (sim, cid, v) => (pid, cid, sim, v) }
    }
  }

  /** c69: MMR-DIVERSIFIED top-k — the curation twin of c3's raw
    * similarity retrieval: pure nearest-neighbor selection returns
    * near-duplicates of each other (the top of a dense cluster), and
    * a training-data pipeline picking examples per query wants
    * COVERAGE, not five copies of the same passage. Maximal Marginal
    * Relevance (Carbonell & Goldstein 1998) greedily selects
    * `argmax λ·rel(c) − (1−λ)·max_{s∈selected} sim(c, s)` — relevance
    * penalized by similarity to what's already chosen (λ = 0.7,
    * K = 4 picks from the top-12 candidate pool, ties to the smaller
    * id; the first pick's penalty term is empty, score = λ·rel).
    *
    * Scale shape: identical to c3 up to the candidate pool —
    * broadcast probes, per-partition bounded heaps (now carrying the
    * candidate VECTORS), one window re-rank to the global top-12 —
    * then the greedy runs per probe over ≤ 12 candidates inside
    * `flatMapGroups`: O(probes × N² × dim) map-side work with N a
    * constant, never a crossJoin, never an unbounded group. The
    * oracle replays the greedy as three chained argmax CTEs over the
    * same candidate pool (double cosine matches bit-for-bit, c3's
    * established contract).
    */
  private def c69(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val maxProbes = graft.util.GraftConf.similarityProbes(s)
    val poolN = 12
    val k = 4
    val probes = vecs(s, d).filter(_._1 % 50 == 0)
      .orderBy(col("vec_id")).limit(maxProbes)
      .as[(Long, Array[Float])].collect()
    val bc = s.sparkContext.broadcast(probes)
    val partials = vecs(s, d)
      .mapPartitions(it =>
        boundedTopK(it, bc.value, poolN, keepVec = true))
      .toDF("probe_id", "neighbor_id", "rel", "vec")
    val w = Window.partitionBy("probe_id")
      .orderBy(col("rel").desc, col("neighbor_id").asc)
    partials
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= poolN)
      .as[(Long, Long, Double, Array[Float], Int)]
      .groupByKey(_._1)
      .flatMapGroups { (pid, it) =>
        val cands = it.toArray.sortBy(c => (-c._3, c._2))
        val selected = mutable.ArrayBuffer.empty[(Long, Array[Float])]
        val out = mutable.ArrayBuffer.empty[(Long, Long, Long, Double,
          Double)]
        val remaining = mutable.ArrayBuffer.from(cands)
        var rank = 1L
        while (rank <= k && remaining.nonEmpty) {
          var bestIdx = -1
          var bestScore = Double.NegativeInfinity
          var bestId = Long.MaxValue
          var i = 0
          while (i < remaining.length) {
            val c = remaining(i)
            val pen =
              if (selected.isEmpty) 0.0
              else selected.iterator.map(sv => cosine(c._4, sv._2)).max
            val score = 0.7 * c._3 - 0.3 * pen
            if (score > bestScore ||
                (score == bestScore && c._2 < bestId)) {
              bestScore = score; bestIdx = i; bestId = c._2
            }
            i += 1
          }
          val pick = remaining.remove(bestIdx)
          selected += ((pick._2, pick._4))
          out += ((pid, rank, pick._2, bestScore, pick._3))
          rank += 1
        }
        out.iterator
      }
      .toDF("probe_id", "mmr_rank", "neighbor_id", "score", "rel")
      .select(col("probe_id"), col("mmr_rank"), col("neighbor_id"),
        round(col("score"), 4).as("score"),
        round(col("rel"), 4).as("rel"))
      .orderBy("probe_id", "mmr_rank")
  }

  /** c3: brute-force cosine top-k — THE distributed kNN baseline shape:
    * broadcast the (small, bounded) probe set, stream candidates once,
    * keep a bounded per-partition top-k, then a tiny global re-rank.
    * No crossJoin materialization, no full-sim shuffle: shuffle volume
    * is #partitions × #probes × k rows. The 100 TB upgrade is c15's LSH
    * bucketing (prune candidates), same inner loop.
    */
  private def c3(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val k = graft.util.GraftConf.similarityK(s)
    val maxProbes = graft.util.GraftConf.similarityProbes(s)
    // Deterministic probe cap (lowest ids win): broadcast size is O(cap)
    // no matter how large the corpus grows.
    val probes = vecs(s, d).filter(_._1 % 50 == 0)
      .orderBy(col("vec_id")).limit(maxProbes)
      .as[(Long, Array[Float])].collect()
    val bc = s.sparkContext.broadcast(probes)
    val partials = vecs(s, d)
      .mapPartitions(it =>
        boundedTopK(it, bc.value, k, keepVec = false)
          .map { case (pid, cid, sim, _) => (pid, cid, sim) })
      .toDF("probe_id", "neighbor_id", "sim_raw")
    val w = Window.partitionBy("probe_id")
      .orderBy(col("sim_raw").desc, col("neighbor_id").asc)
    partials
      .select(col("probe_id"), col("neighbor_id"), col("sim_raw"),
        row_number().over(w).cast("long").as("rank"))
      .filter(col("rank") <= k)
      .select(col("probe_id"), col("rank"), col("neighbor_id"),
        round(col("sim_raw"), 4).as("sim"))
      .orderBy("probe_id", "rank")
  }

  /** c4: tokenize + bigrams + counts (generator + agg; vocabulary-sized
    * result after map-side partial agg).
    */
  private def c4(s: SparkSession, d: String): DataFrame =
    withWords(documents(s, d))
      .filter(size(col("w")) >= 2)
      .select(explode(expr(
        "transform(sequence(0, size(w)-2), i -> concat(w[i], ' ', w[i+1]))"))
        .as("bigram"))
      .groupBy("bigram")
      .agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("bigram"))

  /** c5: TF-IDF — two aggregations + a join; df side is
    * vocabulary-sized, so it broadcasts at any corpus scale.
    */
  private def c5(s: SparkSession, d: String): DataFrame = {
    val tok = withWords(documents(s, d))
      .select(col("doc_id"), explode(col("w")).as("term"))
    val tf = tok.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    // document frequency: dedup WITHIN each doc map-side, then ONE
    // partial-agg'd term-keyed Exchange — replaces countDistinct's
    // two-phase (term,doc)-then-(term) Exchange pair over the full
    // token stream (guide §2.3; same fix as bm25Scored; r13 plan
    // diff: 2 Exchanges → 1). Identical values: after array_distinct
    // each (doc, term) reaches the count exactly once.
    val df = withWords(documents(s, d))
      .select(explode(array_distinct(col("w"))).as("term"))
      .groupBy("term").agg(count(lit(1)).as("df"))
    val n = documents(s, d).count().toDouble
    tf.join(broadcast(df), "term")
      .select(col("doc_id"), col("term"),
        round(col("tf") * log(lit(n) / col("df")), 6).as("tfidf"))
      .orderBy("doc_id", "term")
  }

  /** c6: per-(lang, source) corpus profile; exact interpolated median
    * (Spark `percentile` ≡ DuckDB `quantile_cont`).
    */
  private def c6(s: SparkSession, d: String): DataFrame =
    documents(s, d)
      .groupBy("lang", "source")
      .agg(
        count(lit(1)).as("cnt"),
        avg(col("n_chars")).as("avg_chars"),
        min(col("n_chars")).as("min_chars"),
        max(col("n_chars")).as("max_chars"),
        percentile(col("n_chars"), lit(0.5)).as("med_chars"))
      .orderBy("lang", "source")

  /** c7: multimodal join — text row ⋈ vector row, the array<float>
    * column carried through the shuffle intact.
    */
  private def c7(s: SparkSession, d: String): DataFrame =
    documents(s, d)
      .join(embeddings(s, d), col("doc_id") === col("vec_id"))
      .select(col("doc_id"), col("lang"), col("label"),
        size(col("embedding")).cast("long").as("dim"),
        element_at(col("embedding"), 1).cast("double").as("e0"))
      .orderBy("doc_id")

  /** c8: SimHash (16-bit here; 64-bit at scale is the same plan) over
    * distinct words: portable word hash → per-bit ±1 votes → sign bits
    * recombined. Two shuffles on (doc, bit) then (doc) — both partial-
    * aggregated. Near-dup docs are equal/close simhash values.
    */
  private def c8(s: SparkSession, d: String): DataFrame =
    withWords(documents(s, d))
      .select(col("doc_id"), explode(array_distinct(col("w"))).as("word"))
      .withColumn("h", portableHash(col("word")))
      .select(col("doc_id"), col("h"), explode(expr("sequence(0, 15)")).as("j"))
      .groupBy("doc_id", "j")
      .agg(sum(when(expr("(h >> j) & 1 = 1"), 1).otherwise(-1)).as("s"))
      .groupBy("doc_id")
      .agg(sum(expr("CASE WHEN s >= 0 THEN shiftleft(1L, cast(j AS int)) ELSE 0L END"))
        .cast("long").as("simhash"))
      .orderBy("doc_id")

  /** c9: n-gram Jaccard scoring on candidate pairs (adjacent doc ids
    * here; in production the pairs come from c2's LSH buckets — scoring
    * shape is identical): |A∩B| / |A∪B| over distinct shingle sets.
    */
  private def c9(s: SparkSession, d: String): DataFrame = {
    val sh = withShingles(s, documents(s, d)).select(col("doc_id"), col("shingles"))
    val a = sh.select(col("doc_id").as("doc_a"), col("shingles").as("sa"))
    val b = sh.select(col("doc_id").as("doc_b"), col("shingles").as("sb"))
    a.join(b, col("doc_b") === col("doc_a") + 1)
      .select(col("doc_a"), col("doc_b"),
        round(
          size(array_intersect(col("sa"), col("sb"))).cast("double") /
            size(array_union(col("sa"), col("sb"))).cast("double"), 6)
          .as("jaccard"))
      .orderBy("doc_a")
  }

  /** c10: embedding-cosine near-dup, bucket-blocked (vec_id div 100):
    * groupByKey on the block, all-pairs inside each ~100-vector block in
    * primitive loops. At 100 TB the block key becomes an LSH bucket
    * (c15) — same group-local all-pairs kernel.
    */
  private def c10(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val thr = 0.3
    vecs(s, d)
      .groupByKey { case (id, _) => id / 100 }
      .flatMapGroups { (_, it) =>
        val grp = it.toArray.sortBy(_._1)
        for {
          i <- grp.indices.iterator
          j <- (i + 1) until grp.length
          sim = cosine(grp(i)._2, grp(j)._2)
          if sim > thr
        } yield (grp(i)._1, grp(j)._1, sim)
      }
      .toDF("vec_a", "vec_b", "sim_raw")
      .select(col("vec_a"), col("vec_b"), round(col("sim_raw"), 4).as("sim"))
      .orderBy("vec_a", "vec_b")
  }

  /** c11: language-ID heuristic — marker-word ratios (function words vs
    * query-vocab words), pure codegen'd expressions.
    */
  private def c11(s: SparkSession, d: String): DataFrame =
    withWords(documents(s, d))
      .withColumn("n", size(col("w")))
      .withColumn("en_cnt",
        size(expr("filter(w, x -> x IN ('the','a','of','and','to'))")))
      .withColumn("q_cnt",
        size(expr("filter(w, x -> x IN ('scan','join','filter','group','sort'))")))
      .select(col("doc_id"),
        when(col("en_cnt") * 10 >= col("n"), "en")
          .when(col("q_cnt") * 4 >= col("n"), "tech")
          .otherwise("unk").as("pred"),
        col("lang").as("labeled"))
      .orderBy("doc_id")

  /** c12: quality scoring — length/stopword features and a bounded
    * score. Ratio outputs are floor'd basis points, not round(): the
    * raw doubles are bit-identical across engines (same IEEE ops on
    * same inputs) but round() at an exactly-representable half (e.g.
    * score = 0.83725) resolves differently in Spark vs DuckDB —
    * observed live at sf0.001, doc 275. floor has no half case.
    */
  private def c12(s: SparkSession, d: String): DataFrame = {
    def bp(c: org.apache.spark.sql.Column) =
      floor(c * 10000.0).cast("long")
    withWords(documents(s, d))
      .withColumn("n_words", size(col("w")).cast("long"))
      .withColumn("stop_cnt",
        size(expr("filter(w, x -> x IN ('the','a','of','and','to'))")).cast("long"))
      .select(
        col("doc_id"), col("n_words"), col("n_chars"),
        bp(col("n_chars").cast("double") / col("n_words")).as("avg_wlen_bp"),
        bp(col("stop_cnt").cast("double") / col("n_words")).as("stop_ratio_bp"),
        bp(
          least(col("n_words").cast("double") / 100.0, lit(1.0)) * 0.4 +
            (lit(1.0) - col("stop_cnt").cast("double") / col("n_words")) * 0.6)
          .as("score_bp"))
      .orderBy("doc_id")
  }

  /** c13: token counting — whitespace tokens, distinct tokens, and a
    * BPE-ish estimate (chars/4, the standard byte-pair heuristic).
    */
  private def c13(s: SparkSession, d: String): DataFrame =
    withWords(documents(s, d))
      .select(
        col("doc_id"),
        size(col("w")).cast("long").as("ws_tokens"),
        size(array_distinct(col("w"))).cast("long").as("distinct_tokens"),
        ceil(col("n_chars").cast("double") / 4.0).cast("long").as("bpe_est"))
      .orderBy("doc_id")

  /** c14: document fingerprinting — whole-content md5 plus a min-word
    * hash (winnowing-style selective fingerprint, portable).
    */
  private def c14(s: SparkSession, d: String): DataFrame =
    withWords(documents(s, d))
      .select(col("doc_id"), md5(col("text")).as("fp"),
        array_min(expr("transform(w, x -> md5(x))")).as("min_word_fp"))
      .orderBy("doc_id")

  /** c15: sign-random-projection LSH over embeddings — the ANN scale
    * path: 8 deterministic hyperplanes → 8-bit bucket; candidates are
    * then searched per-bucket (c10's kernel). The planes are md5-derived
    * integer weights (b33's determinism trick) and the embedding is
    * quantized to a 2^-10 grid, so every dot product is EXACT integer
    * arithmetic — bit-identical in any engine, which is what makes this
    * sketch oracle-able (round 1's `scala.util.Random` Gaussians were
    * JVM-only and forced a rows-only check). Uniform ±8 integer weights
    * are a symmetric projection family: for sign-LSH any symmetric
    * distribution preserves the collision-probability ∝ angle property.
    */
  private[operators] def lshPlanes(nPlanes: Int, dim: Int): Array[Array[Long]] = {
    val mdig = java.security.MessageDigest.getInstance("MD5")
    Array.tabulate(nPlanes, dim) { (p, i) =>
      val hex = mdig.digest(s"$p:$i".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
      (java.lang.Long.parseLong(hex.substring(0, 15), 16) % 17L) - 8L
    }
  }

  /** The sign-LSH kernel under c15, c51, c54 and c65: one sign bit per
    * plane of `planes` over the 2^-10-quantized embedding. Quantize
    * once per vector: floor(v * 1024) — float→double is exact, ×2^10
    * is exact, floor is exact — so every dot product is exact integer
    * arithmetic, bit-identical in DuckDB ([[lshBucketCtes]] renders the
    * same family).
    */
  private def lshBucket(planes: Array[Array[Long]], emb: Array[Float]): Long = {
    val q = new Array[Long](emb.length)
    var i = 0
    while (i < emb.length) {
      q(i) = math.floor(emb(i).toDouble * 1024.0).toLong; i += 1
    }
    var bucket = 0L
    var p = 0
    while (p < planes.length) {
      var dot = 0L; var j = 0
      while (j < q.length) { dot += planes(p)(j) * q(j); j += 1 }
      if (dot >= 0L) bucket |= (1L << p)
      p += 1
    }
    bucket
  }

  /** Per-vector sign-LSH bucket assignment — c15 (bucket census) and
    * c65 (recall eval): [[lshBucket]] over 8 md5-derived integer
    * hyperplanes.
    */
  private def lshBucketsDf(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val bc = s.sparkContext.broadcast(lshPlanes(8, 64))
    vecs(s, d)
      .mapPartitions { it =>
        val ps = bc.value
        it.map { case (id, emb) => (lshBucket(ps, emb), id) }
      }
      .toDF("bucket", "vec_id")
  }

  private def c15(s: SparkSession, d: String): DataFrame =
    lshBucketsDf(s, d)
      .groupBy("bucket")
      .agg(count(lit(1)).as("n_vecs"),
        min(col("vec_id")).as("min_vec"), max(col("vec_id")).as("max_vec"))
      .orderBy("bucket")

  /** c16: multimodal binary plumbing — media as opaque binary columns
    * with typed metadata. The Spark-side plumbing is real: binary
    * column through a typed mapPartitions batch kernel (the Scala
    * analogue of mapInPandas), emitting schema'd features. The decode
    * step is a REAL codec here — UTF-8 — standing in for image/audio
    * decoders (those libs aren't in this container — build brief);
    * features are computed on the DECODED codepoint stream, so they
    * are independent of the corpus byte encoding (the char-based
    * DuckDB oracle agrees on any Unicode text, not just ASCII — the
    * round-7 byte-vs-char coupling is gone).
    */
  private def c16(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    documents(s, d)
      .select(col("doc_id"), col("text").cast("binary").as("media"))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.map { case (id, bytes) =>
          // decode: opaque bytes → codepoint stream (the codec step)
          val cps = new String(bytes,
            java.nio.charset.StandardCharsets.UTF_8).codePoints().toArray
          val cp0 = if (cps.nonEmpty) cps(0) else -1
          var headSum = 0L
          var i = 0
          while (i < math.min(16, cps.length)) { headSum += cps(i); i += 1 }
          (id, bytes.length.toLong, cp0, headSum)
        }
      }
      .toDF("doc_id", "n_bytes", "cp0", "head_sum")
      .orderBy("doc_id")
  }

  /** c17: the custom-Expression extension point (SURVEY §7.3) in a
    * declared query: native codegen'd `cosine_sim` (graft.functions)
    * scoring adjacent-id vector pairs inside whole-stage codegen — no
    * UDF serialization, no interpreted HOF.
    */
  private def c17(s: SparkSession, d: String): DataFrame = {
    graft.functions.GraftFunctions.register(s)
    val a = embeddings(s, d)
      .select(col("vec_id").as("vec_a"), col("embedding").as("ea"))
    val b = embeddings(s, d)
      .select(col("vec_id").as("vec_b"), col("embedding").as("eb"))
    a.join(b, col("vec_b") === col("vec_a") + 1)
      .selectExpr("vec_a", "vec_b", "round(cosine_sim(ea, eb), 4) AS sim")
      .orderBy("vec_a")
  }

  /** c20: text normalization/cleaning — trim, digit redaction, space
    * collapse (the standard pre-dedup cleanup pass); declared output is
    * the normalized-content fingerprint + length so the full normalized
    * string is checked without shipping it.
    */
  private def c20(s: SparkSession, d: String): DataFrame = {
    val norm = regexp_replace(
      regexp_replace(trim(col("text")), "[0-9]+", "#"), " +", " ")
    documents(s, d)
      .select(col("doc_id"), md5(norm).as("norm_fp"),
        length(norm).cast("long").as("norm_len"))
      .orderBy("doc_id")
  }

  /** c24: repetition scoring (Gopher-style quality signal): fraction of
    * repeated words and bigrams per doc — high repetition flags
    * low-quality/generated text. Exact integer ratios as floor'd basis
    * points.
    */
  private def c24(s: SparkSession, d: String): DataFrame =
    withWords(documents(s, d))
      .filter(size(col("w")) >= 2)
      .withColumn("bigrams", expr(
        "transform(sequence(0, size(w)-2), i -> concat(w[i], ' ', w[i+1]))"))
      .select(
        col("doc_id"),
        floor((lit(1.0) - size(array_distinct(col("w"))).cast("double") /
          size(col("w"))) * 10000).cast("long").as("rep_word_bp"),
        floor((lit(1.0) - size(array_distinct(col("bigrams"))).cast("double") /
          size(col("bigrams"))) * 10000).cast("long").as("rep_bigram_bp"))
      .orderBy("doc_id")

  /** c25: benchmark decontamination — n-gram overlap of each train doc
    * against the eval set's shingles (docs 0-9 stand in for an eval
    * benchmark). The eval n-gram set is vocabulary-sized, so it
    * broadcasts at any corpus scale; the overlap count is an exact
    * semi-join aggregate per doc. Docs above a threshold would be
    * dropped before training.
    */
  private def c25(s: SparkSession, d: String): DataFrame = {
    // checkpointed: the eval-set branch and the train branch both read it
    val sh = shingleIndex(s, d)
    val evalSet = sh.filter(col("doc_id") < 10)
      .select(col("sh")).distinct()
    val train = sh.filter(col("doc_id") >= 10)
    train
      .join(broadcast(evalSet.withColumn("hit", lit(1))), Seq("sh"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_shingles"),
        sum(coalesce(col("hit"), lit(0))).cast("long").as("overlap"))
      .withColumn("overlap_bp",
        floor(col("overlap").cast("double") / col("n_shingles") * 10000)
          .cast("long"))
      .orderBy("doc_id")
  }

  /** c23: data profiling — per-column null/distinct/min/max stats, the
    * validation pass every ingest pipeline runs before training. One
    * aggregation over the table; each stat is a partial-aggregating
    * built-in, so the pass is a single scan at any scale.
    */
  private def c23(s: SparkSession, d: String): DataFrame = {
    val doc = documents(s, d)
    val stats = doc.agg(
      count(lit(1)).as("rows"),
      sum(when(col("text").isNull, 1L).otherwise(0L)).as("null_text"),
      countDistinct(col("lang")).as("d_lang"),
      countDistinct(col("source")).as("d_source"),
      min(col("n_chars")).as("min_chars"),
      max(col("n_chars")).as("max_chars"),
      min(col("doc_id")).as("min_id"),
      max(col("doc_id")).as("max_id"))
    stats.selectExpr(
      "stack(8, 'rows', rows, 'null_text', null_text, 'd_lang', d_lang, " +
        "'d_source', d_source, 'min_chars', min_chars, 'max_chars', max_chars, " +
        "'min_id', min_id, 'max_id', max_id) AS (stat, value)")
      .orderBy("stat")
  }

  /** c21: deterministic stratified sampling — hash-based (md5 mod 100),
    * NOT rand(): reproducible across runs/engines/cluster sizes, which
    * is what a training-data pipeline actually needs. Per-stratum rates
    * (en 50%, others 20%) via CASE on the hash bucket.
    */
  private def c21(s: SparkSession, d: String): DataFrame = {
    val bucket = pmod(portableHash(col("doc_id")), lit(100))
    documents(s, d)
      .withColumn("bucket", bucket)
      .filter(
        (col("lang") === "en" && col("bucket") < 50) ||
          (col("lang") =!= "en" && col("bucket") < 20))
      .select("doc_id", "lang", "bucket")
      .orderBy("doc_id")
  }

  /** c22: train/val/test split assignment — hash ranges 80/10/10 on the
    * doc id; the declared output is the per-(lang, split) contingency
    * table, which pins every row's assignment.
    */
  private def c22(s: SparkSession, d: String): DataFrame = {
    val bucket = pmod(portableHash(col("doc_id")), lit(100))
    documents(s, d)
      .withColumn("split",
        when(bucket < 80, "train").when(bucket < 90, "val").otherwise("test"))
      .groupBy("lang", "split")
      .agg(count(lit(1)).as("cnt"), min(col("doc_id")).as("min_doc"))
      .orderBy("lang", "split")
  }

  /** Per-doc (band, minhash-signature) rows — c2's LSH table, shared by
    * c18's candidate-pair generation. Production-shape signature:
    * bands × rowsPerBand (default 16×4 = 64) hash functions from a
    * portable affine family over the shingle's 32-bit md5 prefix:
    * `h_j(x) = (a_j * base(x) + b_j) mod 2^32`, with odd 31-bit `a_j`
    * and 32-bit `b_j` themselves md5-derived — all exact BIGINT
    * arithmetic, so DuckDB reproduces every signature bit-for-bit.
    * A pair is a candidate iff some band's full row-vector matches
    * (the classic (16,4) S-curve), instead of round 1's 4×1 toy.
    * One md5 per shingle; the 64 affine taps are JIT'd integer ops in a
    * typed mapPartitions kernel (HOFs are interpreted — 4-5× slower);
    * each partition emits `bands` rows per doc, so the only wide
    * shuffle stays (band, signature)-keyed.
    */
  private def bandMinhash(s: SparkSession, d: String): DataFrame =
    minhashSignatures(s, documents(s, d))

  /** The band-signature kernel of [[bandMinhash]], factored over an
    * arbitrary `(doc_id, text, …)` DataFrame so the SAME bit-exact
    * family serves the batch index (c2/c18/c26/c33) and the streaming
    * dedup (d21 — a typed mapPartitions is incremental-execution-safe,
    * so the kernel runs unchanged inside a microbatch).
    */
  private[graft] def minhashSignatures(s: SparkSession, docs: DataFrame): DataFrame = {
    import s.implicits._
    val n = graft.util.GraftConf.shingleSize(s)
    val bands = graft.util.GraftConf.minhashBands(s)
    val rowsPerBand = graft.util.GraftConf.minhashRows(s)
    val nHash = bands * rowsPerBand
    val mdig = java.security.MessageDigest.getInstance("MD5")
    def hex8(sv: String): Long = java.lang.Long.parseLong(
      mdig.digest(sv.getBytes("UTF-8")).take(4).map("%02x".format(_)).mkString, 16)
    val as = Array.tabulate(nHash)(j => (hex8(s"a:$j") % 2147483648L) | 1L)
    val bs = Array.tabulate(nHash)(j => hex8(s"b:$j"))
    docs
      .select(col("doc_id"), split(col("text"), " ").as("w"))
      .as[(Long, Seq[String])]
      .mapPartitions { it =>
        val md = java.security.MessageDigest.getInstance("MD5")
        it.flatMap { case (id, w) =>
          if (w.length < n) Iterator.empty
          else {
            val words = w.toArray
            val mins = Array.fill(nHash)(Long.MaxValue)
            var i = 0
            while (i <= words.length - n) {
              val sh = words.slice(i, i + n).mkString(" ")
              val dig = md.digest(sh.getBytes("UTF-8"))
              var base = 0L; var bi = 0
              while (bi < 4) { base = (base << 8) | (dig(bi) & 0xffL); bi += 1 }
              var j = 0
              while (j < nHash) {
                val h = (as(j) * base + bs(j)) & 0xFFFFFFFFL
                if (h < mins(j)) mins(j) = h
                j += 1
              }
              i += 1
            }
            (0 until bands).iterator.map { b =>
              val sig = (0 until rowsPerBand)
                .map(r => mins(b * rowsPerBand + r)).mkString(",")
              (id, b.toLong, sig)
            }
          }
        }
      }
      .toDF("doc_id", "band", "minhash")
  }

  /** c18: duplicate-cluster resolution — the dedup endgame: LSH
    * candidate pairs → connected components → canonical doc (min id)
    * per cluster. Components via iterative min-label propagation
    * (driver loop, converges in O(component diameter) rounds; the
    * monotone label-sum is the convergence test, so no extra join to
    * detect change). At 100 TB this is the standard large-graph CC
    * pattern: edges stay partitioned, each round is one join + one agg.
    */
  /** LSH candidate pairs (u < v) from [[bandMinhash]] bucket collisions —
    * shared by c18 (clustering) and c26 (verification pipeline).
    */
  private def candidatePairs(s: SparkSession, d: String): DataFrame = {
    // the memoized index runs the signature kernel (one md5 per
    // shingle) ONCE, not once per self-join branch or per query
    val mh = minhashIndex(s, d)
    val a = mh.select(col("band").as("ba"), col("minhash").as("ha"), col("doc_id").as("u"))
    val b = mh.select(col("band").as("bb"), col("minhash").as("hb"), col("doc_id").as("v"))
    // NOT checkpointed: consumers reference this multiple times, but the
    // expensive kernel (mh) is block-backed above, so re-running the
    // cheap pair join beats paying a materialization barrier (measured).
    a.join(b,
        col("ba") === col("bb") && col("ha") === col("hb") && col("u") < col("v"))
      .select("u", "v").distinct()
  }

  /** How many times the CC label-propagation loop actually ran — test
    * hook for the memo below (a second consumer must cache-hit).
    */
  private[graft] val ccLoopRuns = new java.util.concurrent.atomic.AtomicLong(0)

  /** The resolved cluster assignment (doc_id, cluster_id), materialized
    * ONCE per corpus and shared by every consumer (c18's declared
    * output, c44's canonical-survivor pass) — the production "write
    * clusters once, read them everywhere" shape. Round 4 re-ran the
    * whole iterative CC loop inside c44 (~1.5 s of duplicated work per
    * bench pass, and a full duplicate computation at any scale).
    */
  private def clusterAssignment(s: SparkSession, d: String): DataFrame =
    memoIdx(s, d, "cc") {
      ccLoopRuns.incrementAndGet(): Unit
      clusterAssignmentPlan(s, d).localCheckpoint(false)
    }

  private def clusterAssignmentPlan(s: SparkSession, d: String): DataFrame = {
    val pairs = candidatePairs(s, d)
    // localCheckpoint (not cache): each round's plan must NOT chain on
    // the previous round's, or the lineage doubles per iteration and
    // planning itself OOMs the driver — the classic iterative-Spark trap.
    // LAZY checkpoints: the convergence agg right after is the action
    // that materializes them, so each round costs ONE job, not two.
    val edges = pairs.union(pairs.select(col("v").as("u"), col("u").as("v")))
      .localCheckpoint(false)
    // Only edge-incident vertices iterate: singletons (the overwhelming
    // majority of a deduped corpus — think 5B docs, thousands of dup
    // pairs at 100 TB) never change label, so they are joined back once
    // at the end instead of riding through every propagation round.
    var labels = edges.select(col("u").as("doc_id")).distinct()
      .select(col("doc_id"), col("doc_id").as("label")).localCheckpoint(false)
    // sum() over zero rows is NULL — a clean corpus with no LSH bucket
    // collisions has no edge-incident vertices at all, and the loop
    // must fall straight through to the identity join below.
    def labelSum(df: DataFrame): Long =
      df.agg(coalesce(sum("label"), lit(0L))).head().getLong(0)
    val initSum = labelSum(labels)
    if (initSum > 0) {
      // CoreMR.iterate drives min-label propagation to its fixpoint:
      // the label-sum scalar is both the convergence test and the
      // action that materializes each round's lazy checkpoint.
      val (fin, _, _) = CoreMR.iterate((labels, Long.MaxValue, initSum), 50) {
        case ((cur, _, curSum), _) =>
          val prop = edges.join(cur, edges("v") === cur("doc_id"))
            .select(col("u").as("pid"), col("label").as("nlabel"))
            .groupBy("pid").agg(min("nlabel").as("minn"))
          val next = cur.join(prop, cur("doc_id") === prop("pid"), "left")
            .select(col("doc_id"),
              least(col("label"), coalesce(col("minn"), col("label"))).as("label"))
            .localCheckpoint(false)
          (next, curSum, labelSum(next))
      } { case ((_, prevSum, curSum), _) => curSum < prevSum }
      labels = fin
    }
    // plain left join (no broadcast hint): the resolved-label side is
    // dup-pair-sized — usually tiny, but at a high dup rate it isn't,
    // and AQE picks broadcast exactly when it fits.
    documents(s, d).select(col("doc_id"))
      .join(labels, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("label"), col("doc_id")).as("cluster_id"))
  }

  private def c18(s: SparkSession, d: String): DataFrame =
    clusterAssignment(s, d).orderBy("doc_id")

  /** c19: IVF-style ANN — the other scale path next to c15's LSH: a
    * TRAINED coarse codebook partitions the corpus into cells; probes
    * search only their own cell. Training = 2 Lloyd rounds of a23's
    * integer-lattice k-means (vectors on the 2^-10 grid, exact BIGINT
    * distances, floor(sum/cnt) centroid update) seeded from the first 8
    * vectors — every round bit-reproducible in DuckDB, so the trained
    * codebook itself is part of the oracle. Assignment is a
    * broadcast-codebook map pass in exact integer space; per-cell
    * search is a group-local primitive loop (c10's kernel).
    */
  /** The trained coarse codebook (c19's recurrence, shared with c72's
    * search): k seed vectors (vec_id 0..k-1), `rounds` distributed
    * Lloyd rounds on the integer lattice — ONE copy of the
    * oracle-sensitive seed/tie/floor/empty-cluster rules.
    */
  private def trainCoarse(
      q: org.apache.spark.sql.Dataset[(Long, Array[Long])], kc: Int,
      rounds: Int, dim: Int): Array[Array[Long]] = {
    val seeds = q.filter(_._1 < kc).collect().sortBy(_._1).map(_._2)
    require(seeds.length == kc,
      s"expected seed vectors with vec_id 0..${kc - 1}; found ${seeds.length}")
    CoreMR.iterate(seeds, rounds) { (cur, _) =>
      IntLattice.update(cur, IntLattice.round(q, cur, dim), dim)
    } { (_, _) => true }
  }

  private def c19(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val kc = 8; val trainRounds = 2; val dim = 64
    val all = vecs(s, d)
    // checkpointed: the scan+quantize kernel feeds the seed collect plus
    // one IntLattice.round per training iteration
    val q = all.map { case (id, e) => (id, IntLattice.quantize(e)) }
      .localCheckpoint(false)
    // a23's Lloyd recurrence, shared via IntLattice (one copy of the
    // oracle-sensitive tie/floor/empty-cluster rules)
    val cents = trainCoarse(q, kc, trainRounds, dim)
    val bc = s.sparkContext.broadcast(cents)
    val assigned = all.filter(_._1 >= kc)
      .mapPartitions { it =>
        val cs = bc.value
        it.map { case (id, emb) =>
          val (best, _) = IntLattice.assign(IntLattice.quantize(emb), cs, dim)
          (best.toLong, id, emb)
        }
      }
    assigned.groupByKey(_._1)
      .flatMapGroups { (cell, it) =>
        val members = it.toArray
        members.iterator
          .filter(_._2 % 100 == 0)
          .flatMap { case (_, pid, pemb) =>
            var bestId = -1L; var bestSim = -2.0
            members.foreach { case (_, mid, memb) =>
              if (mid != pid) {
                val sim = cosine(pemb, memb)
                if (sim > bestSim || (sim == bestSim && mid < bestId)) {
                  bestSim = sim; bestId = mid
                }
              }
            }
            if (bestId >= 0) Iterator.single((pid, cell, bestId, bestSim))
            else Iterator.empty
          }
      }
      .toDF("probe_id", "cell", "neighbor_id", "sim_raw")
      .select(col("probe_id"), col("cell"), col("neighbor_id"),
        round(col("sim_raw"), 4).as("sim"))
      .orderBy("probe_id")
  }

  /** c72: IVF-PQ SEARCH — the ANN loop closed: c19 trained the coarse
    * quantizer and c43 the product-quantization codebooks as separate
    * artifacts; this is the actual SEARCH every production vector
    * index (FAISS IVFPQ, Milvus, Vespa) runs over them, end-to-end and
    * integer-exact so the whole chain — both trainings, the index
    * build, the probe routing, the asymmetric distances, the shortlist
    * — is oracle-checked bit-for-bit, with the float cosine appearing
    * only in the final exact re-rank (c3's established bit-match
    * contract):
    *
    *   1. INDEX BUILD (one map pass, vectors never shuffle): each
    *      vector (vec_id ≥ 8, c19's index universe) stores its coarse
    *      cell + 4 PQ codes — 5 small ints instead of 64 floats, the
    *      compression that makes 100 TB of embeddings searchable.
    *   2. PROBE ROUTING: each probe (capped deterministic set) visits
    *      its nprobe = 4 nearest cells and precomputes the 4×4
    *      ASYMMETRIC DISTANCE TABLE (probe subvector ↔ PQ centroids,
    *      exact integer L2) — per-candidate cost collapses to 4 table
    *      lookups.
    *   3. ADC SCAN: in-cell candidates score by table-lookup sum into
    *      per-partition bounded heaps (top-48 by (adc, id)) — work is
    *      cell occupancy × probes, never corpus size.
    *   4. EXACT RE-RANK: the ≤48-row shortlist joins its true vectors
    *      back (broadcast) and the final top-5 ranks by true cosine.
    *   5. RECALL: ground truth = brute-force top-5 over the same index
    *      universe (c65's harness); every output row carries its
    *      probe's recall@5 in basis points — the metric that decides
    *      whether this index may replace c3 in a pipeline.
    */
  private def c72(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val P = IvfParams
    val k = graft.util.GraftConf.similarityK(s)
    require(k == 5,
      s"c72's oracle assumes graft.similarity.k=5; got $k")
    val q = vecs(s, d).map { case (id, e) => (id, IntLattice.quantize(e)) }
      .localCheckpoint(false)
    val kc = P.kc // primitive localized: closures must not ship P
    val cents = trainCoarse(q, kc, 2, P.dim) // c19's codebook, verbatim
    val books = trainPqBooks(s, q, P.nSub, P.subDim, P.pqK, 2) // c43's
    // (1) the index: (cell, id, codes) — one stateless map pass
    val index = ivfEncode(s, q.filter(_._1 >= kc), cents, books)
      .as[(Long, Long, Long, Long, Long, Long)]
    // (2)-(4): the shared search chain (routing → ADC → exact re-rank)
    val probesRaw = ivfProbeSet(s, d)
    val ann = ivfSearchChain(s, d, index, probesRaw, cents, books, k)
      .localCheckpoint(false) // feeds the output AND the recall join
    // (5) recall@k vs brute force over the same index universe
    ivfRecallEval(s, d, ann, probesRaw, k)
  }

  /** Shared c72/c74 IVF-PQ geometry (ONE copy of the dimensioning the
    * oracle hard-codes).
    */
  private object IvfParams {
    val kc = 8; val dim = 64; val nSub = 4; val subDim = 16; val pqK = 4
    val nprobe = 4; val shortN = 48
  }

  /** Encode a quantized slice against (cents, books): (cell, id,
    * codes) as LONGs — one stateless map pass, vectors never shuffle.
    * Shared by c72's in-query build, c74's initial build AND c74's
    * incremental maintenance (which feeds it the PERSISTED model).
    */
  private def ivfEncode(s: SparkSession,
      slice: org.apache.spark.sql.Dataset[(Long, Array[Long])],
      cents: Array[Array[Long]],
      books: Array[Array[Array[Long]]]): DataFrame = {
    import s.implicits._
    // primitives localized: the singleton itself must not ship
    val dim = IvfParams.dim; val nSub = IvfParams.nSub
    val subDim = IvfParams.subDim
    val bcC = s.sparkContext.broadcast(cents)
    val bcB = s.sparkContext.broadcast(books)
    slice.mapPartitions { it =>
      val cs = bcC.value; val bs = bcB.value
      it.map { case (id, qv) =>
        val cell = IntLattice.assign(qv, cs, dim)._1.toLong
        val codes = new Array[Long](nSub)
        var m = 0
        while (m < nSub) {
          val sv = java.util.Arrays.copyOfRange(qv, m * subDim,
            (m + 1) * subDim)
          codes(m) = IntLattice.assign(sv, bs(m), subDim)._1.toLong
          m += 1
        }
        (cell, id, codes(0), codes(1), codes(2), codes(3))
      }
    }.toDF("cell", "vec_id", "c0", "c1", "c2", "c3")
  }

  /** The capped deterministic probe set (vec_id ≥ kc, ≡0 mod 100). */
  private def ivfProbeSet(s: SparkSession, d: String)
      : Array[(Long, Array[Float])] = {
    import s.implicits._
    val kc = IvfParams.kc // localized for the closure
    vecs(s, d).filter(t => t._1 >= kc && t._1 % 100 == 0)
      .orderBy(col("vec_id"))
      .limit(graft.util.GraftConf.similarityProbes(s))
      .as[(Long, Array[Float])].collect()
  }

  /** Steps (2)-(4) of the IVF-PQ search, shared by c72 (in-query
    * index) and c74 (persisted index): probe routing to the nprobe
    * nearest cells + 4×4 integer ADC tables, the bounded-heap ADC
    * scan (work = cell occupancy × probes, never corpus), and the
    * exact cosine re-rank of the ≤shortN broadcast shortlist.
    * Returns the pre-checkpoint top-k (probe_id, neighbor_id, adc,
    * sim_raw, rank).
    */
  private def ivfSearchChain(s: SparkSession, d: String,
      index: org.apache.spark.sql.Dataset[(Long, Long, Long, Long, Long, Long)],
      probesRaw: Array[(Long, Array[Float])],
      cents: Array[Array[Long]], books: Array[Array[Array[Long]]],
      k: Int): DataFrame = {
    import s.implicits._
    val P = IvfParams
    // (2) routing: per probe the nprobe nearest cells (tie: smaller c)
    // + the ADC table — exact integer L2 against the codebooks
    val probes = probesRaw.map { case (pid, emb) =>
      val qv = IntLattice.quantize(emb)
      val byDist = cents.indices.map { c =>
        var dist = 0L; var i = 0
        while (i < P.dim) {
          val df = qv(i) - cents(c)(i); dist += df * df; i += 1
        }
        (dist, c)
      }.sorted
      val cells = byDist.take(P.nprobe).map(_._2.toLong).toArray
      val dtab = Array.tabulate(P.nSub) { m =>
        Array.tabulate(P.pqK) { c =>
          var dist = 0L; var i = 0
          while (i < P.subDim) {
            val df = qv(m * P.subDim + i) - books(m)(c)(i)
            dist += df * df; i += 1
          }
          dist
        }
      }
      (pid, cells, dtab)
    }
    val bcP = s.sparkContext.broadcast(probes)
    val shortN = P.shortN // primitive localized: P must not ship
    // (3) ADC scan with bounded per-partition heaps — the natural
    // (adc, id) ordering ranks worse as greater, so dequeue evicts
    // the worst (c3's boundedTopK discipline in integer space)
    val partials = index.mapPartitions { it =>
      val ps = bcP.value
      val heaps = mutable.HashMap.empty[Long,
        mutable.PriorityQueue[(Long, Long)]]
      it.foreach { case (cell, id, c0, c1, c2, c3) =>
        var p = 0
        while (p < ps.length) {
          val (pid, cells, dtab) = ps(p)
          if (id != pid && cells.contains(cell)) {
            val adc = dtab(0)(c0.toInt) + dtab(1)(c1.toInt) +
              dtab(2)(c2.toInt) + dtab(3)(c3.toInt)
            val h = heaps.getOrElseUpdate(pid,
              mutable.PriorityQueue.empty[(Long, Long)])
            h.enqueue((adc, id))
            if (h.size > shortN) h.dequeue(): Unit
          }
          p += 1
        }
      }
      heaps.iterator.flatMap { case (pid, h) =>
        h.iterator.map { case (adc, id) => (pid, id, adc) }
      }
    }.toDF("probe_id", "cand_id", "adc")
    val wAdc = Window.partitionBy("probe_id")
      .orderBy(col("adc"), col("cand_id"))
    val short = partials
      .withColumn("rn", row_number().over(wAdc))
      .filter(col("rn") <= P.shortN)
      .select("probe_id", "cand_id", "adc")
    // (4) exact re-rank of the ≤shortN shortlist: candidate vectors
    // fetched by broadcast join, probe vectors from the probe set
    val bcPE = s.sparkContext.broadcast(
      probesRaw.map(p => (p._1, p._2)).toMap)
    val reranked = broadcast(short)
      .join(embeddings(s, d), col("cand_id") === col("vec_id"))
      .select(col("probe_id"), col("cand_id"), col("adc"), col("embedding"))
      .as[(Long, Long, Long, Array[Float])]
      .map { case (pid, cid, adc, ce) =>
        (pid, cid, adc, cosine(bcPE.value(pid), ce))
      }
      .toDF("probe_id", "neighbor_id", "adc", "sim_raw")
    val wSim = Window.partitionBy("probe_id")
      .orderBy(col("sim_raw").desc, col("neighbor_id"))
    reranked
      .withColumn("rank", row_number().over(wSim).cast("long"))
      .filter(col("rank") <= k)
  }

  /** Step (5): recall@k vs brute force over the index universe (c65's
    * harness) joined onto the checkpointed top-k — the declared
    * output c72, c74 and c77 share. `surviving` narrows the ground
    * truth to the post-delete universe (c77): recall is only honest
    * against neighbors that still EXIST — a deleted vector is not a
    * miss, it is gone.
    */
  private def ivfRecallEval(s: SparkSession, d: String, ann: DataFrame,
      probesRaw: Array[(Long, Array[Float])], k: Int,
      surviving: Long => Boolean = _ => true): DataFrame = {
    import s.implicits._
    val bcPr = s.sparkContext.broadcast(probesRaw)
    val kc = IvfParams.kc // localized for the closure
    val gt = vecs(s, d).filter(t => t._1 >= kc && surviving(t._1))
      .mapPartitions(it => boundedTopK(it, bcPr.value, k, keepVec = false)
        .map { case (pid, cid, sim, _) => (pid, cid, sim) })
      .toDF("probe_id", "neighbor_id", "gsim")
      .withColumn("rn", row_number().over(Window.partitionBy("probe_id")
        .orderBy(col("gsim").desc, col("neighbor_id"))))
      .filter(col("rn") <= k)
      .select("probe_id", "neighbor_id")
    val nHit = ann.select("probe_id", "neighbor_id").join(gt,
        Seq("probe_id", "neighbor_id"))
      .groupBy("probe_id").agg(count(lit(1)).as("n_hit"))
    ann.join(nHit, Seq("probe_id"), "left")
      .select(col("probe_id"), col("rank"), col("neighbor_id"), col("adc"),
        round(col("sim_raw"), 4).as("sim"),
        (coalesce(col("n_hit"), lit(0L)) * 2000L).as("recall_bp"))
      .orderBy("probe_id", "rank")
  }

  /** c74: PERSISTED ANN INDEX, SEARCHED COLD — the difference between
    * c72's "ANN demo" (which retrains + re-encodes inside every
    * query) and ANN INFRASTRUCTURE: a real vector store builds its
    * index ONCE, maintains it incrementally on append, and serves
    * many searches that never touch the training path or the raw
    * corpus. Here the index lives in TWO graftmem tables:
    *
    *   - `annmodel` — the codebooks (coarse centroids + 4 PQ books)
    *     as (part, c, i, v) rows: 768 rows, the model artifact.
    *   - `annidx` — (cell, vec_id, c0..c3), 5 small ints per vector,
    *     written with `graft.write_layout = 'cell'` so the ENGINE
    *     clusters and sorts the index by cell at write time (A40's
    *     RequiresDistributionAndOrdering — the cell-local layout a
    *     real IVF store keeps so a probe's cells are contiguous).
    *
    *   BUILD (memoized once per corpus): train (c19/c43 verbatim),
    *   persist the model, encode the ≢7 (mod 10) slice, append.
    *   MAINTAIN: the ≡7 slice arrives LATE and is encoded with the
    *   PERSISTED model read back from `annmodel` — the incremental
    *   job needs no training path at all (c33's new-rows-only
    *   discipline); one more append commit, never a rebuild.
    *   SEARCH (every query): read the model (768-row bounded collect,
    *   the A9 class), route probes, ADC-scan the INDEX TABLE, re-rank
    *   the ≤48-row shortlist against true vectors — the only touch of
    *   raw embeddings in the whole search. Spec-asserted: the search
    *   plan reads the graftmem index and exactly ONE parquet scan
    *   (the re-rank fetch); no k-means/PQ training anywhere in it.
    *
    * The two slices reunite to exactly c72's index universe and the
    * model is trained identically — so the declared output equals
    * c72's and the ORACLE IS c72's VERBATIM: same answer through the
    * persisted-index path, the b75/b80/b91 cross-check discipline
    * applied to ANN. Recall floor and the declared recall_bp column
    * carry over unchanged. At 100 TB: build cost amortizes across
    * every search, maintenance is O(new vectors), and a search moves
    * O(probes × cell occupancy) index rows + a k-bounded re-rank.
    */
  private val c74Memo =
    new graft.util.BoundedMemo[(SparkSession, String), (String, String)]()

  private[graft] def c74Build(s: SparkSession, d: String)
      : (String, String) = c74Memo.get((s, d)) {
    import s.implicits._
    val P = IvfParams
    val q = vecs(s, d).map { case (id, e) => (id, IntLattice.quantize(e)) }
      .localCheckpoint(false)
    val kc = P.kc // primitive localized: closures must not ship P
    val cents = trainCoarse(q, kc, 2, P.dim)
    val books = trainPqBooks(s, q, P.nSub, P.subDim, P.pqK, 2)
    val modelTbl = graft.util.DemoTables.freshGraftmem(s, d, "annmodel",
      "(part BIGINT, c BIGINT, i BIGINT, v BIGINT)")
    val modelRows =
      (for { c <- cents.indices; i <- 0 until P.dim }
        yield (-1L, c.toLong, i.toLong, cents(c)(i))) ++
        (for { m <- 0 until P.nSub; c <- 0 until P.pqK;
               i <- 0 until P.subDim }
          yield (m.toLong, c.toLong, i.toLong, books(m)(c)(i)))
    modelRows.toDF("part", "c", "i", "v").coalesce(1)
      .writeTo(modelTbl).append()
    val indexTbl = graft.util.DemoTables.freshGraftmem(s, d, "annidx",
      "(cell BIGINT, vec_id BIGINT, c0 BIGINT, c1 BIGINT, c2 BIGINT, " +
        "c3 BIGINT) TBLPROPERTIES ('graft.write_layout' = 'cell')")
    // initial build: everything that existed at index-creation time
    ivfEncode(s, q.filter(t => t._1 >= kc && t._1 % 10 != 7),
      cents, books).writeTo(indexTbl).append()
    // incremental maintenance: the late-arriving slice encodes with
    // the PERSISTED model — no training path in the maintenance job
    val (cents2, books2) = c74ReadModel(s, modelTbl)
    ivfEncode(s, q.filter(t => t._1 >= kc && t._1 % 10 == 7),
      cents2, books2).writeTo(indexTbl).append()
    (indexTbl, modelTbl)
  }

  /** The persisted model, read back: a 768-row bounded collect (model
    * size, never data size — the A9 class).
    */
  private def c74ReadModel(s: SparkSession, modelTbl: String)
      : (Array[Array[Long]], Array[Array[Array[Long]]]) = {
    val P = IvfParams
    val cents = Array.ofDim[Long](P.kc, P.dim)
    val books = Array.ofDim[Long](P.nSub, P.pqK, P.subDim)
    s.table(modelTbl).collect().foreach { r =>
      val p = r.getLong(0); val c = r.getLong(1).toInt
      val i = r.getLong(2).toInt; val v = r.getLong(3)
      if (p < 0L) cents(c)(i) = v else books(p.toInt)(c)(i) = v
    }
    (cents, books)
  }

  /** The cold search over the persisted tables — model read + shared
    * chain, NO training, no corpus scan beyond the re-rank fetch
    * (spec plan-asserts both).
    */
  private[graft] def c74Search(s: SparkSession, d: String,
      indexTbl: String, modelTbl: String, k: Int): DataFrame = {
    import s.implicits._
    val (cents, books) = c74ReadModel(s, modelTbl)
    val index = s.table(indexTbl)
      .as[(Long, Long, Long, Long, Long, Long)]
    ivfSearchChain(s, d, index, ivfProbeSet(s, d), cents, books, k)
  }

  private def c74(s: SparkSession, d: String): DataFrame = {
    val k = graft.util.GraftConf.similarityK(s)
    require(k == 5,
      s"c74's oracle assumes graft.similarity.k=5; got $k")
    val (indexTbl, modelTbl) = c74Build(s, d)
    val ann = c74Search(s, d, indexTbl, modelTbl, k)
      .localCheckpoint(false) // feeds the output AND the recall join
    ivfRecallEval(s, d, ann, ivfProbeSet(s, d), k)
  }

  /** c77: ANN INDEX DELETE-MAINTENANCE — the closure of c74's one
    * declared edge: c74 maintains on APPEND only, so a vector deleted
    * from the corpus stayed retrievable forever (a correctness AND
    * compliance hole — a right-to-be-forgotten delete that search
    * keeps serving never happened). Here the index lives on the
    * MERGE-ON-READ flavor keyed by vec_id with EQUALITY DELETES
    * (b91's machinery applied to index maintenance): the corpus
    * delete (ids ≡3 mod 10 retire) propagates as one `DELETE FROM
    * idx WHERE vec_id % 10 = 3` — a WriteDelta commit of key-addressed
    * tombstones, O(deleted), no index rebuild, NO TRAINING PATH
    * (spec-asserted: the maintenance plan never touches the model or
    * the training corpus) — and every subsequent search's ADC scan
    * reads the post-delete live set through the read-time merge, so
    * deleted ids are structurally absent from the shortlist (never
    * filtered post-hoc). Ground truth moves to the SURVIVING universe
    * — recall is only honest against neighbors that still exist; the
    * oracle recomputes the whole IVF-PQ search with candidates and
    * ground truth restricted to survivors, so hash equality proves
    * both claims at once (deleted ids gone, recall floor held). The
    * build INSERT-SELECTs c74's persisted index (maintenance reuses
    * the artifact, never retrains). At 100 TB: a corpus delete is one
    * equality-delete commit against the index table; compaction folds
    * tombstones on its own schedule (b82), searches pay one per-split
    * key-boundary filter until then.
    */
  private val c77Memo =
    new graft.util.BoundedMemo[(SparkSession, String), String]()

  private[graft] def c77Build(s: SparkSession, d: String): String =
    c77Memo.get((s, d)) {
      val (indexTbl, _) = c74Build(s, d)
      val idx2 = graft.util.DemoTables.freshGraftmem(s, d, "annidx2",
        "(vec_id BIGINT NOT NULL, cell BIGINT, c0 BIGINT, c1 BIGINT, " +
          "c2 BIGINT, c3 BIGINT) TBLPROPERTIES " +
          "('graft.row_level' = 'merge-on-read', " +
          "'graft.mor.deletes' = 'equality')")
      s.sql(s"INSERT INTO $idx2 SELECT vec_id, cell, c0, c1, c2, c3 " +
        s"FROM $indexTbl")
      // the corpus delete lands: propagate to the index as equality
      // deletes keyed by vec_id — no rebuild, no training, O(deleted)
      s.sql(s"DELETE FROM $idx2 WHERE vec_id % 10 = 3")
      idx2
    }

  /** c79: ANN INDEX COMPACTION — the maintenance step that completes
    * the c74→c77 lifecycle: after c77's equality-delete commits, the
    * index table carries TOMBSTONES every search pays a read-time
    * merge for (one per-split key-boundary filter — cheap, but not
    * free, and it grows with delete volume). `CALL graftmem.system
    * .compact` folds the delta log into a single fully-live base
    * (b82's governed maintenance action applied to the INDEX), and
    * the declared output is the SAME recall-evaluated search run
    * BEFORE (phase 0) and AFTER (phase 1) the compaction — the two
    * phases must be IDENTICAL row for row, which is the whole
    * contract: maintenance moves bytes, never truth (b82's invariant,
    * here proven through the full IVF-PQ search chain rather than a
    * census). The spec additionally pins the ledger mechanics: the
    * folded table is one fully-live file, zero deleted rows, and the
    * searches are byte-equal. Builds its OWN MoR copy of c74's
    * persisted index (c77's memoized table must not be mutated by
    * this query's maintenance — bench runs every query in one
    * session). At 100 TB index compaction is scheduled off-peak
    * exactly like data compaction: O(live index) I/O, amortized
    * across every search that stops paying the merge.
    */
  private def c79(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val k = graft.util.GraftConf.similarityK(s)
    require(k == 5,
      s"c79's oracle assumes graft.similarity.k=5; got $k")
    val (indexTbl, modelTbl) = c74Build(s, d)
    // this query's OWN deleted index (c77's shape): compacting the
    // shared memoized table would mutate what c77 declares
    val idx3 = graft.util.DemoTables.freshGraftmem(s, d, "annidx3",
      "(vec_id BIGINT NOT NULL, cell BIGINT, c0 BIGINT, c1 BIGINT, " +
        "c2 BIGINT, c3 BIGINT) TBLPROPERTIES " +
        "('graft.row_level' = 'merge-on-read', " +
        "'graft.mor.deletes' = 'equality')")
    s.sql(s"INSERT INTO $idx3 SELECT vec_id, cell, c0, c1, c2, c3 " +
      s"FROM $indexTbl")
    s.sql(s"DELETE FROM $idx3 WHERE vec_id % 10 = 3")
    val (cents, books) = c74ReadModel(s, modelTbl)
    val probes = ivfProbeSet(s, d)
    def searchEval(phase: Long): DataFrame = {
      val index = s.table(idx3)
        .select("cell", "vec_id", "c0", "c1", "c2", "c3")
        .as[(Long, Long, Long, Long, Long, Long)]
      val ann = ivfSearchChain(s, d, index, probes, cents, books, k)
        .localCheckpoint(false)
      // materialize BEFORE the table mutates: phase 0's rows must be
      // the pre-compaction answer, not a lazy re-read
      ivfRecallEval(s, d, ann, probes, k,
        surviving = (id: Long) => id % 10 != 3)
        .select(lit(phase).as("phase"), col("probe_id"), col("rank"),
          col("neighbor_id"), col("adc"), col("sim"), col("recall_bp"))
        .localCheckpoint(false)
    }
    val pre = searchEval(0L)
    s.sql(s"CALL graftmem.system.compact(" +
      s"'${idx3.stripPrefix("graftmem.")}')").collect()
    val post = searchEval(1L)
    pre.unionAll(post).orderBy("phase", "probe_id", "rank")
  }

  private def c77(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val k = graft.util.GraftConf.similarityK(s)
    require(k == 5,
      s"c77's oracle assumes graft.similarity.k=5; got $k")
    val (_, modelTbl) = c74Build(s, d)
    val idx2 = c77Build(s, d)
    val (cents, books) = c74ReadModel(s, modelTbl)
    // the search sees the post-delete live set through the MoR
    // read-time merge — deleted ids never reach the ADC scan
    val index = s.table(idx2)
      .select("cell", "vec_id", "c0", "c1", "c2", "c3")
      .as[(Long, Long, Long, Long, Long, Long)]
    val probes = ivfProbeSet(s, d)
    val ann = ivfSearchChain(s, d, index, probes, cents, books, k)
      .localCheckpoint(false)
    ivfRecallEval(s, d, ann, probes, k,
      surviving = (id: Long) => id % 10 != 3)
  }

  /** c75: CALIBRATED CURATION ENSEMBLE — c12's heuristics, c55's
    * perplexity bucket and c63's classifier each gate ALONE; a
    * production curation stack combines them, because the members
    * fail differently (heuristics miss fluent spam, the classifier
    * inherits its training skew, perplexity punishes rare-domain
    * text) and a single gate's mistakes are unrecoverable downstream.
    * One integer-exact keep-score over three calibrated members:
    *
    *   - h_bp: c12's heuristic score (already 0..10000 basis points);
    *   - p_bp: c55's per-language perplexity tertile mapped to
    *     fluency points (3−tertile)·5000 ∈ {0, 5000, 10000} — rank
    *     calibration, the CCNet head/middle/tail read as a score;
    *   - c_bp: c63's classifier weight-sum calibrated by offset+clamp
    *     into [0, 10000] (min/max/shift only — no negative division,
    *     the c49 cross-engine hazard);
    *
    *   ens_bp = (4·h + 3·p + 3·c) div 10 ∈ [0, 10000].
    *
    * The threshold is PER-SOURCE and driven by c61's mixture table:
    * thr_s = max(3000, 5000 + share_bp − weight_bp) — a source
    * OVER-represented relative to its temperature weight (share >
    * weight: the crawl) must clear a higher bar, an under-represented
    * source (the tail c73 up-weights) keeps its floor. Quality
    * gating and mixture shaping become ONE auditable table instead
    * of a config file.
    *
    * Scale shape: each member is its own partial-agg'd doc-keyed
    * pass (exactly its standalone query's plan); the ensemble is two
    * doc-keyed joins sharing one shuffle key plus a BROADCAST of the
    * #sources-bounded threshold table; no new shuffle class appears.
    * The oracle recomputes all three members, the mixture thresholds
    * and the combination — the whole ensemble, bit-for-bit.
    */
  private def c75(s: SparkSession, d: String): DataFrame =
    ensembleScores(s, d)
      .select(col("doc_id"), col("source"), col("h_bp"), col("p_bp"),
        col("c_bp"), col("ens_bp"), col("thr_bp"),
        (col("ens_bp") >= col("thr_bp")).as("kept"))
      .orderBy("doc_id")

  /** The ensemble's per-doc scores + per-source thresholds — ONE copy
    * of the calibration rules, shared by c75 (the gate) and c76 (the
    * quality-weighted sampler).
    */
  private def ensembleScores(s: SparkSession, d: String): DataFrame = {
    // member 1 — c12's heuristic score
    val h = withWords(documents(s, d))
      .withColumn("n_words", size(col("w")).cast("long"))
      .withColumn("stop_cnt",
        size(expr("filter(w, x -> x IN ('the','a','of','and','to'))"))
          .cast("long"))
      .select(col("doc_id"),
        floor((least(col("n_words").cast("double") / 100.0, lit(1.0)) * 0.4 +
          (lit(1.0) - col("stop_cnt").cast("double") / col("n_words")) * 0.6)
          * 10000.0).cast("long").as("h_bp"))
    // member 2 — c55's tertile as fluency points
    val docsMeta = documents(s, d).select(col("doc_id"), col("lang"),
      col("source"))
    val p = unigramSurprisal(s, d).join(docsMeta, Seq("doc_id"))
      .withColumn("tertile", ntile(3).over(
        Window.partitionBy("lang").orderBy("avg_sur_bp", "doc_id")))
      .select(col("doc_id"),
        ((lit(3) - col("tertile")) * 5000L).cast("long").as("p_bp"))
    // member 3 — c63's classifier, offset+clamp calibrated
    val weights = s.range(64).select(col("id").as("fh"),
      (pmod(portableHash(concat(lit("w:"), col("id").cast("string"))),
        lit(2001)) - 1000).as("wt"))
    val c = withWords(documents(s, d))
      .select(col("doc_id"), explode(col("w")).as("word"))
      .withColumn("fh",
        pmod(portableHash(concat(lit("feat:"), col("word"))), lit(64)))
      .join(broadcast(weights), Seq("fh"))
      .groupBy("doc_id").agg(sum("wt").cast("long").as("score"))
      .select(col("doc_id"),
        greatest(lit(0L), least(lit(10000L), lit(5000L) + col("score")))
          .as("c_bp"))
    // per-source thresholds from c61's mixture table (window form —
    // #sources-bounded single partition, then broadcast)
    val thr = documents(s, d).groupBy("source")
      .agg(sum(size(split(col("text"), " ")).cast("long")).cast("long")
        .as("n_tokens"))
      .withColumn("tot", sum("n_tokens").over(Window.partitionBy()))
      .withColumn("tot_sq",
        sum(sqrt(col("n_tokens").cast("double")).cast("decimal(28,12)"))
          .over(Window.partitionBy()))
      .select(col("source"),
        greatest(lit(3000L), lit(5000L) +
          expr("10000L * n_tokens div tot") -
          floor(lit(10000d) * sqrt(col("n_tokens").cast("double")) /
            col("tot_sq").cast("double")).cast("long")).as("thr_bp"))
    docsMeta.select(col("doc_id"), col("source"))
      .join(h, Seq("doc_id")).join(p, Seq("doc_id")).join(c, Seq("doc_id"))
      .join(broadcast(thr), Seq("source"))
      .withColumn("ens_bp",
        expr("(4 * h_bp + 3 * p_bp + 3 * c_bp) div 10"))
  }

  /** c76: QUALITY-WEIGHTED MIXTURE SAMPLING — c73's temperature
    * quotas FILLED BY QUALITY instead of by hash: per-source budgets
    * k_s = ⌊N·isqrt(n_s)/Σ⌋ (c73's exact-integer recipe, one shared
    * helper) and the k_s picks per source are the TOP documents by
    * c75's calibrated ensemble score (tie: smaller doc_id) — the
    * FineWeb/DCLM-shaped stage a production pipeline actually runs:
    * the mixture decides HOW MUCH of each source, the quality score
    * decides WHICH documents fill the budget. Both halves are already
    * oracle-pinned operators; the composition is one broadcast join +
    * b15's top-k-per-group window — no new shuffle class, and the
    * recipe (weights, quotas, scores, picks) is one auditable table.
    * Scale: the score side is c75's plan verbatim, the quota table is
    * #sources-bounded and broadcasts, the pick is a WindowGroupLimit.
    */
  private def c76(s: SparkSession, d: String): DataFrame = {
    val quotas = temperatureQuotas(
      documents(s, d).select(col("doc_id"), col("source")), 200L)
    val byQ = Window.partitionBy("source")
      .orderBy(col("ens_bp").desc, col("doc_id"))
    ensembleScores(s, d).select("doc_id", "source", "ens_bp")
      .join(broadcast(quotas), Seq("source"))
      .withColumn("rk", row_number().over(byQ).cast("long"))
      .filter(col("rk") <= col("k"))
      .select(col("source"), col("rk"), col("doc_id"), col("ens_bp"),
        col("w").as("weight"))
      .orderBy("source", "rk")
  }

  /** c73's exact-integer temperature quotas — (source, w = isqrt(n_s),
    * k = min(n_s, ⌊total·w/Σw⌋)). ONE copy of the isqrt/quota rules,
    * shared by c73 (hash-ranked picks) and c76 (quality-ranked picks).
    */
  private def temperatureQuotas(
      docs: DataFrame, total: Long): DataFrame =
    docs.groupBy("source").agg(count(lit(1)).as("n_s"))
      .withColumn("r0", floor(sqrt(col("n_s").cast("double"))).cast("long"))
      // exact isqrt: correct the float sqrt by one in either direction
      .withColumn("w", col("r0")
        - when(col("r0") * col("r0") > col("n_s"), 1L).otherwise(0L)
        + when((col("r0") + 1) * (col("r0") + 1) <= col("n_s"), 1L)
          .otherwise(0L))
      // Σw over the #sources-bounded table (c41's all-rows window —
      // bounded single partition, never a data-sized funnel)
      .withColumn("wsum", sum("w").over(Window.partitionBy()))
      .withColumn("k", least(col("n_s"), expr(s"($total * w) div wsum")))
      .select("source", "w", "k")

  /** c73: TEMPERATURE-WEIGHTED MIXTURE SAMPLING — the data-mix recipe
    * LM training actually runs (the Pile / multilingual-LM shape):
    * sampling sources proportionally to their SIZE drowns small
    * high-quality feeds under the crawl, so the mix weights are
    * n_s^α with α = 0.5 — the square root compresses the size range
    * and up-weights the tail. Everything is exact-integer so the
    * recipe itself is oracle-checked: w_s = isqrt(n_s) (floor(sqrt)
    * with an explicit ±1 integer correction, so the value is the true
    * integer square root on BOTH engines regardless of float
    * rounding), per-source quota k_s = ⌊N·w_s / Σw⌋ capped at n_s,
    * and the k_s picks per source are the hash-ranked head (c42's
    * fixed-count without-replacement idiom — reproducible across
    * engines, reruns and cluster layouts). Declared output = the full
    * picked mixture with each source's weight.
    *
    * Scale shape: per-source counts are one partial-agg'd pass over a
    * #sources-bounded table; the quota table broadcasts; the
    * selection is b15's top-k-per-group window — at 100 TB this is a
    * wordcount plus one bounded window pass, and the mixture spec
    * (weights, quotas) is an auditable table, not a config file.
    */
  private def c73(s: SparkSession, d: String): DataFrame = {
    val docs = documents(s, d).select(col("doc_id"), col("source"))
    val quotas = temperatureQuotas(docs, 200L)
    val byPick = Window.partitionBy("source")
      .orderBy(col("pick"), col("doc_id"))
    docs
      .withColumn("pick",
        md5(concat(lit("mix:"), col("doc_id").cast("string"))))
      .join(broadcast(quotas), "source")
      .withColumn("rk", row_number().over(byPick).cast("long"))
      .filter(col("rk") <= col("k"))
      .select(col("source"), col("rk"), col("doc_id"),
        col("w").as("weight"))
      .orderBy("source", "rk")
  }

  /** c29: deterministic epoch shuffle + sharding — the reproducible
    * "new data order each epoch" pass a training job runs: shard =
    * md5(seed:doc_id) % nShards routes docs, within-shard position
    * ranks by the same hash (tie: doc_id). Seed knob
    * `graft.shuffle.seed` (oracle assumes default "epoch0"). One
    * shuffle; each shard's sort sees corpus/nShards rows, so at 100 TB
    * raise nShards until a shard fits an executor's sort budget — the
    * order is hash-determined, so resharding never changes it.
    */
  private def c29(s: SparkSession, d: String): DataFrame = {
    val seed = graft.util.GraftConf.shuffleSeed(s)
    val nShards = 8
    val w = Window.partitionBy("shard").orderBy("h", "doc_id")
    documents(s, d)
      .select(col("doc_id"),
        portableHash(concat(lit(seed), lit(":"), col("doc_id").cast("string")))
          .as("h"))
      .withColumn("shard", pmod(col("h"), lit(nShards)))
      .select(col("doc_id"), col("shard"),
        (row_number().over(w) - 1).cast("long").as("pos"))
      .orderBy("doc_id")
  }

  /** c30: corpus-adaptive stopword filtering — drop the corpus's own
    * glue words: global top-20 terms by frequency (tie: term) form the
    * stop list; per doc, kept-vs-total token counts. The stop list is
    * top-k-sized at any corpus scale → broadcast into the probe side;
    * both aggregations are partial (map-side) first.
    */
  private def c30(s: SparkSession, d: String): DataFrame = {
    val tok = withWords(documents(s, d))
      .select(col("doc_id"), explode(col("w")).as("term"))
    val top = tok.groupBy("term").agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("term")).limit(20)
      .select(col("term"), lit(1L).as("is_stop"))
    tok.join(broadcast(top), Seq("term"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"),
        sum(when(col("is_stop").isNull, 1L).otherwise(0L)).as("n_kept"))
      .orderBy("doc_id")
  }

  /** c31: source-weighted data mixing — the mixture-sampling pass that
    * up/down-weights sources before training. Keep rate is derived
    * from the source name (rate_bp = 9500 − 450·srcnum), the keep
    * decision is a deterministic md5 bucket per doc, and the output is
    * the per-source audit (total, kept, rate). One scan + partial agg;
    * no side table to join at all.
    */
  private def c31(s: SparkSession, d: String): DataFrame = {
    val srcnum = substring(col("source"), 4, 10).cast("long")
    val rate = (lit(9500L) - lit(450L) * srcnum).as("rate_bp")
    val bucket =
      pmod(portableHash(concat(lit("mix:"), col("doc_id").cast("string"))),
        lit(10000))
    documents(s, d)
      .select(col("source"), rate, bucket.as("b"))
      .groupBy("source", "rate_bp")
      .agg(count(lit(1)).as("n_total"),
        sum(when(col("b") < col("rate_bp"), 1L).otherwise(0L)).as("n_kept"))
      .orderBy("source")
  }

  /** c32: multi-rule curation gate — the Gopher/C4-style quality gate:
    * per-doc integer stats (token count, mean token length ×100,
    * top-term share in bp) gate each doc with the FIRST failing rule
    * as the verdict. All stats are exact integer arithmetic (`div`),
    * so verdicts are bit-identical across engines; one scan, two
    * partial aggregations, no joins.
    */
  private def c32(s: SparkSession, d: String): DataFrame =
    withWords(documents(s, d))
      .select(col("doc_id"), explode(col("w")).as("term"))
      .groupBy("doc_id", "term").agg(count(lit(1)).as("c"))
      .groupBy("doc_id")
      .agg(sum("c").as("n_tokens"),
        sum(length(col("term")).cast("long") * col("c")).as("sum_len"),
        max("c").as("max_c"))
      .select(col("doc_id"), col("n_tokens"),
        expr("(100 * sum_len) div n_tokens").as("len_bp"),
        expr("(10000 * max_c) div n_tokens").as("rep_bp"))
      .withColumn("verdict",
        when(col("n_tokens") < 20, "too_short")
          .when(col("n_tokens") > 90, "too_long")
          .when(col("len_bp") < 350 || col("len_bp") > 700, "word_len")
          .when(col("rep_bp") > 1500, "repetitive")
          .otherwise("keep"))
      .orderBy("doc_id")

  /** c33: INCREMENTAL dedup — a new batch (doc_id ∈ [400, 500)) merged
    * against the existing index (every other doc): the daily-ingest
    * shape next to c26's full-corpus pipeline. New docs LSH-bucket with
    * the same 16×4 signatures and join against the INDEX side's buckets
    * only — candidate traffic is new×collisions, never index×index —
    * then exact shingle-Jaccard scores each candidate and every new doc
    * reports its candidate count, best index match (tie: smaller id)
    * and verdict. New docs with no collision (or too short to shingle)
    * still report, with no match. At 100 TB the index's bucket table is
    * a materialized artifact the ingest job probes (b25's bucketed
    * layout); here both sides derive from one corpus scan.
    */
  /** c80: PERSISTED DEDUP INDEX, PROBED COLD — c74's
    * index-as-infrastructure discipline applied to MinHash-LSH dedup
    * (c33 is the in-query demo: it recomputes the corpus signatures
    * every run; a production dedup service builds the signature index
    * ONCE, probes each arriving batch against it COLD, and appends
    * the batch's signatures as maintenance). The index lives in ONE
    * graftmem table `(band, minhash, doc_id)` written with
    * `graft.write_layout = 'band'` — the engine clusters and sorts
    * the signatures by band at write time (a40), the layout an LSH
    * store keeps so one band's bucket probes are contiguous. BUILD
    * (memoized once per corpus): everything outside the new batch.
    * PROBE (every query): the NEW batch's signatures computed fresh
    * (O(batch) — the only corpus touch besides the verify step),
    * joined against the PERSISTED index read cold, collisions
    * verified with exact shingle Jaccard (c33's verify, the re-rank
    * analogue). MAINTAIN: the batch's signatures append — one
    * commit, no rebuild; the probe reads exclude the batch's own id
    * range so re-runs are idempotent (a batch never matches itself).
    * The declared output IS c33's, and the ORACLE IS c33's VERBATIM —
    * the same-answer-through-the-persisted-path cross-check (the
    * c72/c74 discipline applied to dedup). At 100 TB: the index holds
    * bands × corpus signatures (tiny longs, not text); a batch probe
    * moves O(batch × collision) rows; the corpus is never re-hashed.
    */
  private val c80Memo =
    new graft.util.BoundedMemo[(SparkSession, String), String]()

  /** The signature decomposed to its EXACT per-row LONG components
    * (the CoW demo tables are LONG-only; hashing the signature string
    * instead would let a hash collision invent a candidate the
    * string-equality oracle never sees).
    */
  private def sigCols(df: DataFrame): DataFrame = {
    val parts = (0 until 4).map(i =>
      split(col("minhash"), ",").getItem(i).cast("long").as(s"m$i"))
    df.select(col("doc_id") +: col("band").cast("long").as("band") +:
      parts: _*)
  }

  private[graft] def c80Build(s: SparkSession, d: String): String =
    c80Memo.get((s, d)) {
      require(graft.util.GraftConf.minhashRows(s) == 4,
        "c80's index schema stores 4 signature components per band")
      val tbl = graft.util.DemoTables.freshGraftmem(s, d, "dedupidx",
        "(band BIGINT, m0 BIGINT, m1 BIGINT, m2 BIGINT, m3 BIGINT, " +
          "doc_id BIGINT) TBLPROPERTIES ('graft.write_layout' = 'band')")
      sigCols(minhashIndex(s, d)
          .filter(!(col("doc_id") >= 400 && col("doc_id") < 500)))
        .select("band", "m0", "m1", "m2", "m3", "doc_id")
        .writeTo(tbl).append()
      tbl
    }

  private def c80(s: SparkSession, d: String): DataFrame = {
    val thrBp = s.conf.getOption("graft.dedup.jaccard.bp")
      .map(_.toLong).getOrElse(8000L)
    val isNew = col("doc_id") >= 400 && col("doc_id") < 500
    val tbl = c80Build(s, d)
    // the arriving batch: signatures computed fresh, O(batch)
    val newB = sigCols(minhashIndex(s, d).filter(isNew))
      .withColumnRenamed("doc_id", "u")
    // the persisted index, read COLD; the batch's own range is
    // excluded so post-maintenance re-runs stay idempotent (a batch
    // never collides with itself)
    val idxB = s.table(tbl)
      .filter(col("doc_id") < 400 || col("doc_id") >= 500)
      .select(col("band").as("ib"), col("m0").as("i0"),
        col("m1").as("i1"), col("m2").as("i2"), col("m3").as("i3"),
        col("doc_id").as("v"))
    val pairs = newB.join(idxB,
        col("band") === col("ib") && col("m0") === col("i0") &&
          col("m1") === col("i1") && col("m2") === col("i2") &&
          col("m3") === col("i3"))
      .select("u", "v").distinct().localCheckpoint(false)
    val best = jaccardBp(pairs, shingleIndex(s, d))
      .withColumn("rn", row_number().over(
        Window.partitionBy("u").orderBy(col("bp").desc, col("v"))))
      .withColumn("cand", count(lit(1)).over(Window.partitionBy("u")))
      .filter(col("rn") === 1)
      .select(col("u").as("bu"), col("v").as("best_match"), col("bp"),
        col("cand"))
    val out = documents(s, d).filter(isNew)
      .select(col("doc_id").as("new_id"))
      .join(best, col("new_id") === col("bu"), "left")
      .select(col("new_id"),
        coalesce(col("cand"), lit(0L)).as("n_cand"),
        col("best_match"),
        coalesce(col("bp"), lit(0L)).as("best_bp"))
      .withColumn("is_dup", col("best_bp") >= thrBp)
      .orderBy("new_id")
      .localCheckpoint(false) // pin the probe BEFORE maintenance lands
    // MAINTENANCE: the batch's signatures join the index — one append
    // commit, no rebuild (guarded for idempotence across re-runs)
    val already = s.table(tbl).filter(isNew).limit(1).count() > 0
    if (!already)
      sigCols(minhashIndex(s, d).filter(isNew))
        .select("band", "m0", "m1", "m2", "m3", "doc_id")
        .writeTo(tbl).append()
    out
  }

  private def c33(s: SparkSession, d: String): DataFrame = {
    val thrBp = s.conf.getOption("graft.dedup.jaccard.bp")
      .map(_.toLong).getOrElse(8000L)
    val isNew = col("doc_id") >= 400 && col("doc_id") < 500
    val mh = minhashIndex(s, d)
    val newB = mh.filter(isNew)
      .select(col("band").as("ba"), col("minhash").as("ha"), col("doc_id").as("u"))
    val idxB = mh.filter(!isNew)
      .select(col("band").as("bb"), col("minhash").as("hb"), col("doc_id").as("v"))
    val pairs = newB.join(idxB,
        col("ba") === col("bb") && col("ha") === col("hb"))
      .select("u", "v").distinct().localCheckpoint(false)
    val sh = shingleIndex(s, d)
    // ONE pass over the scored pairs: best match (row_number) and the
    // candidate count (count over the same u-partition) share a single
    // u-keyed shuffle — round 3 scanned the whole jaccard join tree
    // twice and joined the two aggregates back together
    val best = jaccardBp(pairs, sh)
      .withColumn("rn", row_number().over(
        Window.partitionBy("u").orderBy(col("bp").desc, col("v"))))
      .withColumn("cand", count(lit(1)).over(Window.partitionBy("u")))
      .filter(col("rn") === 1)
      .select(col("u").as("bu"), col("v").as("best_match"), col("bp"),
        col("cand"))
    documents(s, d).filter(isNew).select(col("doc_id").as("new_id"))
      .join(best, col("new_id") === col("bu"), "left")
      .select(col("new_id"),
        coalesce(col("cand"), lit(0L)).as("n_cand"),
        col("best_match"),
        coalesce(col("bp"), lit(0L)).as("best_bp"))
      .withColumn("is_dup", col("best_bp") >= thrBp)
      .orderBy("new_id")
  }

  /** DuckDB mirror of c19: unrolls the 2 integer-lattice training
    * rounds (a23's recurrence, k=8, dim=64), then the exact-integer
    * cell assignment and the per-cell cosine top-1.
    */
  private val ivfOracleSql: String = {
    def round(n: Int, prev: String): String =
      s"a$n AS (SELECT q0.vec_id, p.c, sum((q0.q - p.m)*(q0.q - p.m))::BIGINT AS dist FROM q0 JOIN $prev p USING (i) GROUP BY 1, 2), " +
        s"b$n AS (SELECT vec_id, c, dist FROM a$n QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY dist, c) = 1), " +
        s"u$n AS (SELECT b$n.c, q0.i, floor(sum(q0.q)::DOUBLE / count(*))::BIGINT AS m FROM b$n JOIN q0 USING (vec_id) GROUP BY 1, 2), " +
        s"c$n AS (SELECT p.c, p.i, coalesce(u$n.m, p.m) AS m FROM $prev p LEFT JOIN u$n ON u$n.c = p.c AND u$n.i = p.i)"
    "WITH q0 AS (SELECT vec_id, i.i AS i, floor(embedding[i.i+1]::DOUBLE * 1024)::BIGINT AS q FROM embeddings, range(64) i(i)), " +
      "c0 AS (SELECT vec_id AS c, i, q AS m FROM q0 WHERE vec_id < 8), " +
      (1 to 2).map(n => round(n, if (n == 1) "c0" else s"c${n - 1}"))
        .mkString(", ") +
      ", asg AS (SELECT t.vec_id, t.c AS cell FROM (SELECT q0.vec_id, p.c, sum((q0.q - p.m)*(q0.q - p.m))::BIGINT AS dist FROM q0 JOIN c2 p USING (i) WHERE q0.vec_id >= 8 GROUP BY 1, 2) t QUALIFY row_number() OVER (PARTITION BY t.vec_id ORDER BY t.dist, t.c) = 1)" +
      ", probes AS (SELECT vec_id AS probe_id, cell FROM asg WHERE vec_id % 100 = 0)" +
      ", ranked AS (SELECT p.probe_id, p.cell, m.vec_id AS neighbor_id, list_cosine_similarity(pe.embedding::DOUBLE[], me.embedding::DOUBLE[]) AS sim, row_number() OVER (PARTITION BY p.probe_id ORDER BY list_cosine_similarity(pe.embedding::DOUBLE[], me.embedding::DOUBLE[]) DESC, m.vec_id) AS rn FROM probes p JOIN asg m ON m.cell = p.cell AND m.vec_id != p.probe_id JOIN embeddings pe ON pe.vec_id = p.probe_id JOIN embeddings me ON me.vec_id = m.vec_id) " +
      "SELECT probe_id, cell, neighbor_id, round(sim, 4) AS sim FROM ranked WHERE rn = 1 ORDER BY probe_id"
  }

  /** c28: sequence packing — assign each doc its start position in the
    * concatenated fixed-capacity training sequences (capacity
    * `graft.pack.capacity` tokens, default 256): the pass that turns a
    * deduped corpus into packed LM training rows. The global running
    * token offset is a DISTRIBUTED TWO-LEVEL PREFIX SUM, not a global
    * single-partition window: per-block totals (one partial-agg pass) →
    * driver cumsum over the block-offset table (N/blockSize rows) →
    * broadcast-joined back, plus a within-block window whose partitions
    * are bounded by blockSize. `graft.pack.block` (default 1e6) balances
    * the two levels at ~O(√N) each — 5B docs ⇒ 5 000 driver rows and
    * 1M-row block windows. All integer arithmetic, so the result is
    * identical under ANY block size (property-tested).
    */
  private def c28(s: SparkSession, d: String): DataFrame = {
    val cap = graft.util.GraftConf.packCapacity(s)
    val blockSize = graft.util.GraftConf.packBlock(s)
    val toks = withWords(documents(s, d))
      .select(col("doc_id"), size(col("w")).cast("long").as("n_tok"),
        expr(s"doc_id div $blockSize").as("blk"))
    val blockTotals = toks.groupBy("blk").agg(sum("n_tok").as("tot"))
      .orderBy("blk").collect()
    var acc = 0L
    val offsets = blockTotals.map { r =>
      val o = (r.getAs[Long]("blk"), acc); acc += r.getAs[Long]("tot"); o
    }
    val offDf = s.createDataFrame(offsets.toSeq).toDF("blk", "blk_off")
    val w = Window.partitionBy("blk").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    toks
      .withColumn("local_before", coalesce(sum("n_tok").over(w), lit(0L)))
      .join(broadcast(offDf), Seq("blk"))
      .withColumn("before", col("local_before") + col("blk_off"))
      .select(col("doc_id"),
        expr(s"before div $cap").as("start_bin"),
        pmod(col("before"), lit(cap)).cast("long").as("start_offset"))
      .orderBy("doc_id")
  }

  /** c27: int8 embedding quantization — the storage-compression pass a
    * 100 TB embedding store runs before indexing (4× smaller than f32,
    * recall barely moves): per-vector absmax scale, q_i = floor(v_i /
    * scale · 127) ∈ [-127, 127]. Declared output pins every quantized
    * byte via exact integer aggregates (sum/min/max) plus the scale in
    * basis points. Division by an arbitrary float is IEEE-deterministic,
    * and floor makes the grid landing identical on both engines; zero
    * vectors are guarded to q = 0.
    */
  private def c27(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    vecs(s, d)
      .map { case (id, e) =>
        var scale = 0.0
        var i = 0
        while (i < e.length) {
          val a = math.abs(e(i).toDouble); if (a > scale) scale = a; i += 1
        }
        var qsum = 0L; var qmin = Long.MaxValue; var qmax = Long.MinValue
        i = 0
        while (i < e.length) {
          val q = if (scale == 0.0) 0L
            else math.floor(e(i).toDouble / scale * 127.0).toLong
          qsum += q; if (q < qmin) qmin = q; if (q > qmax) qmax = q
          i += 1
        }
        (id, math.floor(scale * 10000.0).toLong, qsum, qmin, qmax)
      }
      .toDF("vec_id", "scale_bp", "qsum", "qmin", "qmax")
      .orderBy("vec_id")
  }

  /** c26: the near-dup pipeline END-TO-END — LSH candidate generation
    * (c2's buckets) → exact n-gram Jaccard verification (c9's scoring,
    * but over the REAL candidate pairs, not a stand-in) → duplicate
    * verdict at `graft.dedup.jaccard.bp` (default 0.8). All integer
    * arithmetic: |A∩B| via a shingle equi-join restricted to candidate
    * pairs, jaccard_bp = 10000·inter ÷ (|A|+|B|−inter) integer-divided.
    * Scale shape: the candidate set is LSH-bounded (never all-pairs),
    * the intersection join is keyed on (doc, shingle), and sizes come
    * from one partial-aggregated pass over the shingle table.
    */
  /** Per-candidate-pair shingle overlap counts (u, v, na, nb, inter) —
    * the shared substrate under Jaccard (c26/c33) and containment (c38)
    * scoring: sizes from one partial-agg pass, |A∩B| via the keyed
    * (doc, shingle) equi-join restricted to the pairs, coalesced to 0
    * for disjoint pairs. `pairs` has columns (u, v); `sh` is (doc_id,
    * sh) distinct shingle rows.
    */
  private def pairOverlap(pairs: DataFrame, sh: DataFrame): DataFrame = {
    val sizes = sh.groupBy("doc_id").agg(count(lit(1)).as("nsh"))
    val inter = pairs
      .join(sh.select(col("doc_id").as("ud"), col("sh").as("shu")),
        col("u") === col("ud"))
      .join(sh.select(col("doc_id").as("vd"), col("sh").as("shv")),
        col("v") === col("vd") && col("shu") === col("shv"))
      .groupBy("u", "v").agg(count(lit(1)).as("inter"))
    pairs
      .join(sizes.select(col("doc_id").as("sad"), col("nsh").as("na")),
        col("u") === col("sad"))
      .join(sizes.select(col("doc_id").as("sbd"), col("nsh").as("nb")),
        col("v") === col("sbd"))
      .join(inter, Seq("u", "v"), "left")
      .select(col("u"), col("v"), col("na"), col("nb"),
        coalesce(col("inter"), lit(0L)).as("inter"))
  }

  /** Exact integer shingle-Jaccard over candidate pairs — ONE copy of
    * the oracle-sensitive scoring rule (|A|+|B|−|A∩B| denominator,
    * 10000-bp floor division), shared by the full-corpus pipeline (c26)
    * and the incremental merge (c33). Returns (u, v, bp).
    */
  private def jaccardBp(pairs: DataFrame, sh: DataFrame): DataFrame =
    pairOverlap(pairs, sh)
      .select(col("u"), col("v"),
        expr("(10000 * inter) div (na + nb - inter)").as("bp"))

  private def c26(s: SparkSession, d: String): DataFrame = {
    val thrBp = s.conf.getOption("graft.dedup.jaccard.bp")
      .map(_.toLong).getOrElse(8000L)
    val pairs = candidatePairs(s, d)
    val sh = shingleIndex(s, d)
    jaccardBp(pairs, sh)
      .select(col("u").as("doc_a"), col("v").as("doc_b"),
        col("bp").as("jaccard_bp"))
      .withColumn("is_dup", col("jaccard_bp") >= thrBp)
      .orderBy("doc_a", "doc_b")
  }

  /** c34: context-window chunking — every doc becomes overlapping
    * fixed-capacity token chunks (capacity 64, stride 48 ⇒ 16-token
    * overlap), the pass that turns a raw corpus into training-context
    * rows. Pure map-side: `sequence` generates the chunk starts,
    * `explode` fans out, `slice` cuts the window — no shuffle at all
    * until the declared ORDER BY, and none in production (chunks stream
    * straight to the sink). Declared output pins each chunk by md5, so
    * the oracle verifies the exact slicing/stride arithmetic.
    */
  private def c34(s: SparkSession, d: String): DataFrame = {
    val cap = 64; val stride = 48L
    documents(s, d)
      .select(col("doc_id"), split(col("text"), " ").as("w"))
      // split never yields an empty array (worst case [""]), so the
      // sequence stop `size-1` is always >= 0
      .select(col("doc_id"), col("w"),
        explode(sequence(lit(0L), size(col("w")).cast("long") - 1,
          lit(stride))).as("st"))
      .select(col("doc_id"),
        expr(s"st div $stride").as("chunk_idx"),
        col("st").as("start_tok"),
        slice(col("w"), (col("st") + 1).cast("int"), lit(cap)).as("chunk"))
      .select(col("doc_id"), col("chunk_idx"), col("start_tok"),
        size(col("chunk")).cast("long").as("n_tok"),
        md5(concat_ws(" ", col("chunk"))).as("chunk_fp"))
      .orderBy("doc_id", "chunk_idx")
  }

  /** c35: PII redaction — the scrubbing pass every training corpus gets
    * before release: emails → `<EMAIL>`, long digit runs (ids, phones)
    * → `<ID>`, with per-doc match counts for audit. The synthetic corpus
    * carries no PII, so the op first injects a deterministic email +
    * numeric id derived from doc_id (making every count non-trivial),
    * then redacts. Patterns are RE2-safe (no backtracking constructs) so
    * Spark's Java regex and DuckDB's RE2 agree byte-for-byte; redaction
    * order is oracled via the md5 of the fully-redacted text. Pure
    * map-side — codegen'd `regexp_replace`, no shuffle.
    */
  private def c35(s: SparkSession, d: String): DataFrame = {
    val emailPat = "[a-z0-9.]+@[a-z0-9.]+"
    val idPat = "[0-9][0-9][0-9]+"
    documents(s, d)
      .select(col("doc_id"),
        concat(col("text"), lit(" contact user"),
          col("doc_id").cast("string"), lit("@mail.example id "),
          (col("doc_id") * 7919 + 100003).cast("string")).as("t"))
      .select(col("doc_id"),
        size(regexp_extract_all(col("t"), lit(emailPat), lit(0)))
          .cast("long").as("n_email"),
        regexp_replace(col("t"), emailPat, "<EMAIL>").as("t1"))
      .select(col("doc_id"), col("n_email"),
        size(regexp_extract_all(col("t1"), lit(idPat), lit(0)))
          .cast("long").as("n_id"),
        regexp_replace(col("t1"), idPat, "<ID>").as("red"))
      .select(col("doc_id"), col("n_email"), col("n_id"),
        md5(col("red")).as("red_fp"),
        length(col("red")).cast("long").as("red_len"))
      .orderBy("doc_id")
  }

  /** c36: Bloom-filter decontamination — c25's exact broadcast-set
    * overlap is the small-eval-set shape; when the eval suite is huge
    * (or there are hundreds of them), the 100 TB shape is a BLOOM of the
    * eval shingles broadcast to executors and probed map-side. Build:
    * b38's deterministic md5 bloom (4 hashes, 4032 bits folded into 64
    * 63-bit words) over the eval shingle set; the word table is
    * filter-sized (64 rows — the bounded-collect discipline, SCALE.md
    * §4), inlined as a literal array so probing is pure codegen'd
    * map-side work with ZERO extra shuffles. Declared output carries the
    * exact twin (c25's semi-join) and the no-false-negative invariant
    * `flagged >= overlap` per doc; false positives are md5-determined,
    * so the oracle reproduces them bit-for-bit.
    */
  private def c36(s: SparkSession, d: String): DataFrame = {
    import graft.util.BloomLit
    val hashes = 4
    val sh = shingleIndex(s, d)
    // checkpointed: feeds the bloom build AND the exact-twin join
    val evalSh = sh.filter(col("doc_id") < 10)
      .select(col("sh")).distinct().localCheckpoint(false)
    val wordArr = BloomLit.wordsArray(evalSh, col("sh"), "bf", hashes)
    BloomLit.withMight(
        sh.filter(col("doc_id") >= 10)
          .join(broadcast(evalSh.withColumn("hit", lit(1))), Seq("sh"), "left"),
        col("sh"), wordArr, "bf", hashes, "might")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_shingles"),
        sum(col("might").cast("int")).cast("long").as("flagged"),
        sum(coalesce(col("hit"), lit(0))).cast("long").as("overlap"))
      .withColumn("bloom_ok", col("flagged") >= col("overlap"))
      .orderBy("doc_id")
  }

  /** c38: near-CONTAINMENT detection — the dedup-family case Jaccard
    * misses: a short doc quoted wholesale inside a long one scores low
    * Jaccard (the union is large) but containment |A∩B|/min(|A|,|B|)
    * ≈ 1. Same LSH-bounded candidate pairs and keyed overlap substrate
    * as c26; only the denominator changes. Verdict at 90% containment.
    */
  private def c38(s: SparkSession, d: String): DataFrame = {
    val pairs = candidatePairs(s, d)
    val sh = shingleIndex(s, d)
    pairOverlap(pairs, sh)
      .select(col("u").as("doc_a"), col("v").as("doc_b"),
        expr("(10000 * inter) div least(na, nb)").as("containment_bp"))
      .withColumn("is_contained", col("containment_bp") >= 9000)
      .orderBy("doc_a", "doc_b")
  }

  /** c37: per-label embedding centroids — the mean-pooled class
    * prototype pass (classifier init, cluster summaries, dataset
    * cartography). Fully relational: `posexplode` fans each vector into
    * (pos, component) rows, one partial-aggregated shuffle keyed
    * (label, pos) sums them — at 100 TB that is 64·|labels| reduce rows
    * regardless of corpus size, the same shape as a 64-column groupBy.
    * Components quantized to the 2^-10 grid (a23/c19's IntLattice trick)
    * and centroid = floor(sum/cnt), so every value is exact cross-engine.
    */
  private def c37(s: SparkSession, d: String): DataFrame =
    embeddings(s, d)
      .select(col("label"), posexplode(col("embedding")))
      .groupBy("label", "pos")
      .agg(count(lit(1)).as("n"),
        sum(floor(col("col").cast("double") * 1024.0)).as("qsum"))
      .select(col("label").cast("long").as("label"),
        col("pos").cast("long").as("pos"), col("n"), col("qsum"),
        floor(col("qsum").cast("double") / col("n")).as("centroid_q"))
      .orderBy("label", "pos")

  /** c39: duplicated-PASSAGE detection — the exact-substring-dedup
    * statistic (Lee et al. 2021, "Deduplicating Training Data Makes
    * Language Models Better"): for every word position, is the 5-gram
    * starting there shared with ANY other document? Per-doc fraction of
    * such positions is the span-level dup signal that document-level
    * Jaccard (c9/c26) misses — boilerplate headers, quoted passages.
    * Shape at 100 TB: positional grams are map-side generated; the
    * shared-gram set is one distinct + partial-agg'd count keyed on the
    * gram; the verdict join ships one BOOLEAN per distinct gram (never
    * the posting list), so a boilerplate gram in 10^8 docs still joins
    * as a single row. (The suffix-array formulation is only needed for
    * arbitrary-length match discovery; fixed-n span coverage is pure
    * shuffle-parallel.)
    */
  private def c39(s: SparkSession, d: String): DataFrame = {
    val n = 5
    // positional (NON-distinct) grams: one row per word offset
    val pos = documents(s, d)
      .select(col("doc_id"), split(col("text"), " ").as("w"))
      .filter(size(col("w")) >= n)
      .select(col("doc_id"), explode(expr(
        s"transform(sequence(0, size(w)-$n), i -> array_join(slice(w, i+1, $n), ' '))"))
        .as("gram"))
    // grams appearing in >= 2 distinct docs, reduced to one flag row
    // each. "≥2 distinct docs" ⟺ min(doc_id) ≠ max(doc_id), so ONE
    // partial-agg'd gram-keyed Exchange replaces the previous
    // distinct-(gram,doc) Exchange + second gram Exchange (guide §2.3:
    // map-side aggregation shrinks the shuffle to one row per gram
    // per map partition; r13 plan diff: 2 Exchanges → 1).
    // PRECONDITION (r13-ADVICE): the identity holds for NON-NULL
    // doc_id only (min/max skip nulls; the old distinct form counted a
    // null doc as a member). documents.doc_id is non-null and unique
    // by fixture contract — pinned by Round14OptSpec's
    // "documents.doc_id is non-null and unique" invariant test, which
    // c5/c50/bm25's df rewrites also rely on (dup doc_id would inflate
    // df there).
    val dup = pos.groupBy("gram")
      .agg(min("doc_id").as("mnd"), max("doc_id").as("mxd"))
      .filter(col("mnd") =!= col("mxd"))
      .select(col("gram"), lit(1).as("is_dup"))
    pos.join(dup, Seq("gram"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_pos"),
        sum(coalesce(col("is_dup"), lit(0))).cast("long").as("dup_pos"))
      .withColumn("dup_bp",
        floor(col("dup_pos") * lit(10000.0) / col("n_pos")).cast("long"))
      .orderBy("doc_id")
  }

  /** c40: tokenizer-vocabulary induction statistics — the two counts a
    * BPE trainer needs: the word-level vocabulary with frequencies
    * (top-k declared) and the adjacent character-pair counts WEIGHTED by
    * word frequency (the argmax of round 1 of BPE merge training).
    * The classic BPE trick is load-bearing for scale: pair counts are
    * computed over the DISTINCT-word table (vocabulary-sized) with each
    * word's corpus count as the weight — the token stream is touched
    * exactly once, by the word-count partial agg; the expensive
    * char-pair fan-out runs on |vocab| rows, not |corpus| tokens.
    */
  private def c40(s: SparkSession, d: String): DataFrame = {
    val wc = documents(s, d)
      .select(explode(split(col("text"), " ")).as("w"))
      .groupBy("w").agg(count(lit(1)).as("cnt"))
      .localCheckpoint(false) // feeds both the top-k and the pair fan-out
    val topWords = wc
      .orderBy(col("cnt").desc, col("w")).limit(25)
      .select(lit("word").as("kind"), col("w").as("sym"), col("cnt"))
    val topPairs = wc
      .filter(length(col("w")) >= 2)
      .select(col("cnt"), explode(expr(
        "transform(sequence(1, length(w)-1), i -> substring(w, i, 2))")).as("pair"))
      .groupBy("pair").agg(sum(col("cnt")).as("cnt"))
      .orderBy(col("cnt").desc, col("pair")).limit(25)
      .select(lit("pair").as("kind"), col("pair").as("sym"), col("cnt"))
    topWords.union(topPairs).orderBy(col("kind"), col("cnt").desc, col("sym"))
  }

  /** c41: unigram-LM surprisal scoring — the CCNet/perplexity-filter
    * shape: train a unigram LM on the corpus itself (one word-count
    * agg), score every doc by its mean per-token surprisal, flag
    * outliers. Cross-engine hazard: -log2(p) is transcendental and NOT
    * bit-stable across engines, so surprisal is the exact INTEGER floor
    * ⌊log2(total/cnt)⌋ computed as `length(bin(total div cnt)) - 1` —
    * bit-length arithmetic both engines reproduce exactly. Scale shape:
    * the LM is vocabulary-sized and broadcast; the scoring join never
    * shuffles the corpus.
    */
  /** Per-doc unigram surprisal under the corpus LM — c41's body, shared
    * with c55's quality bucketing. Columns: doc_id, n_words, sur_sum,
    * avg_sur_bp (unordered; consumers add their ORDER BY).
    */
  private def unigramSurprisal(s: SparkSession, d: String): DataFrame = {
    val tok = documents(s, d)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
    val wc = tok.groupBy("w").agg(count(lit(1)).as("cnt"))
    // corpus total Σcnt = the token count, one row collected as a
    // literal: a window over the vocabulary-sized count table would
    // move it into one task, and a 1-row cross join would plan the
    // NestedLoopJoin the blanket plan audit bans
    val n = tok.count()
    val lm = wc.select(col("w"),
      (length(bin(expr(s"${n}L div cnt"))) - 1).cast("long").as("bits"))
    tok.join(broadcast(lm), Seq("w"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_words"), sum("bits").as("sur_sum"))
      .select(col("doc_id"), col("n_words"), col("sur_sum"),
        expr("sur_sum * 10000 div n_words").as("avg_sur_bp"))
  }

  private def c41(s: SparkSession, d: String): DataFrame =
    unigramSurprisal(s, d).orderBy("doc_id")

  /** c55: perplexity-bucket quality split (the CCNet head/middle/tail
    * partition, Wenzek et al. 2020): per LANGUAGE, docs ranked by c41's
    * integer unigram surprisal and cut into tertiles — the bucketing a
    * curation pipeline uses to keep the fluent head and drop (or
    * down-sample) the noisy tail. Surprisal is already the exact
    * integer bit-length form, and the rank key (avg_sur_bp, doc_id) is
    * a total order, so `ntile` is engine-reproducible. Scale shape:
    * surprisal's own passes plus ONE lang-keyed window shuffle;
    * languages are few, so per-partition state is a counter (ntile
    * streams — no buffering).
    */
  private def c55(s: SparkSession, d: String): DataFrame = {
    val sur = unigramSurprisal(s, d)
    val docs = documents(s, d).select(col("doc_id"), col("lang"))
    sur.join(docs, Seq("doc_id"))
      .withColumn("tertile", ntile(3).over(
        Window.partitionBy("lang").orderBy("avg_sur_bp", "doc_id")))
      .select(col("doc_id"), col("lang"), col("avg_sur_bp"),
        col("tertile").cast("long").as("tertile"))
      .orderBy("doc_id")
  }

  /** c54: LSH-bounded kNN GRAPH — every vector's top-3 in-bucket
    * neighbors by cosine, the substrate graph-based dedup/clustering
    * (and c18-style CC over semantic edges) consumes. c3 answers "k
    * nearest to THESE probes" (broadcast probe set); this materializes
    * the whole graph, which is only scale-safe because candidates are
    * LSH-bucket-bounded (c15's cells): per-vector work is bucket
    * occupancy, never corpus size, and no pair leaves its bucket's
    * `flatMapGroups` task — the shuffle is the bucket grouping itself.
    * Singleton-bucket vectors emit no edges (matching the oracle's
    * inner bucket self-join).
    */
  private def c54(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val k = 3
    val bc = s.sparkContext.broadcast(lshPlanes(8, 64))
    vecs(s, d)
      .mapPartitions { it =>
        val ps = bc.value
        it.map { case (id, emb) => (lshBucket(ps, emb), id, emb) }
      }
      .groupByKey(_._1)
      .flatMapGroups { (_, it) =>
        val grp = it.toArray.sortBy(_._2)
        grp.indices.iterator.flatMap { i =>
          val (_, vid, ve) = grp(i)
          val cands = new mutable.ArrayBuffer[(Double, Long)](grp.length - 1)
          var j = 0
          while (j < grp.length) {
            if (j != i) {
              val (_, uid, ue) = grp(j)
              cands += ((cosine(ue, ve), uid))
            }
            j += 1
          }
          cands.sortBy { case (sim, uid) => (-sim, uid) }.take(k)
            .iterator.zipWithIndex.map { case ((sim, uid), r) =>
              (vid, (r + 1).toLong, uid, sim)
            }
        }
      }
      .toDF("vec_id", "rank", "nb_id", "sim_raw")
      .select(col("vec_id"), col("rank"), col("nb_id"),
        round(col("sim_raw"), 4).as("sim"))
      .orderBy("vec_id", "rank")
  }

  /** c42: fixed-size eval holdout — exactly min(k, |stratum|) docs per
    * source, selected by ranking on the portable md5 hash (a
    * deterministic without-replacement sample: hash order is
    * indistinguishable from random but reproducible across engines,
    * cluster layouts and reruns — same rationale as c21/c22, which
    * sample by RATE; the fixed-COUNT form is what an eval-set builder
    * needs). One window pass per stratum: at 100 TB this is a standard
    * top-k-per-group shuffle (b15's shape), never a global sort; k rows
    * per stratum is all that survives the filter.
    */
  private def c42(s: SparkSession, d: String): DataFrame = {
    val k = 20
    val w = Window.partitionBy("source")
      .orderBy(col("pick"), col("doc_id"))
    documents(s, d)
      .select(col("doc_id"), col("source"),
        md5(concat(lit("hold:"), col("doc_id").cast("string"))).as("pick"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select(col("doc_id"), col("source"), col("rk").cast("long").as("rk"))
      .orderBy("source", "rk")
  }

  /** c43: product-quantization encode — the compression half of IVF-PQ
    * next to c19's coarse quantizer and c27's scalar int8: the 64-dim
    * vector splits into 4 subspaces of 16 dims; each subspace trains
    * its own 4-centroid codebook (2 Lloyd rounds on c15's integer
    * lattice, seeds = vec_id 0..3's subvectors — the a23/c19
    * recurrence, so every trained centroid is bit-reproducible in the
    * oracle); a vector then stores 4 small codes instead of 64 floats
    * (production: 8 bits × 8..16 subspaces). All 4 subspaces train in
    * ONE combine-style pass per round (per-partition counts+sums for
    * every (subspace, centroid) together, one reduceByKey on 16 keys),
    * and encode is a stateless broadcast map — the vectors themselves
    * never shuffle, at any corpus size. Declared output = the full
    * code table plus the exact integer quantization error, which pins
    * every centroid of every codebook.
    */
  /** The trained per-subspace PQ codebooks (c43's recurrence, shared
    * with c72's search): all `nSub` subspaces train in ONE
    * combine-style pass per round. ONE copy of the oracle-sensitive
    * seed/tie/floor/empty-cluster rules.
    */
  private def trainPqBooks(s: SparkSession,
      q: org.apache.spark.sql.Dataset[(Long, Array[Long])], nSub: Int,
      subDim: Int, kc: Int, rounds: Int): Array[Array[Array[Long]]] = {
    val seeds = q.filter(_._1 < kc).collect().sortBy(_._1).map(_._2)
    require(seeds.length == kc,
      s"expected seed vectors with vec_id 0..${kc - 1}; found ${seeds.length}")
    var books: Array[Array[Array[Long]]] = Array.tabulate(nSub)(m =>
      seeds.map(v => v.slice(m * subDim, (m + 1) * subDim)))
    for (_ <- 1 to rounds) {
      val bc = s.sparkContext.broadcast(books)
      val agg = q.rdd.mapPartitions { it =>
        val bs = bc.value
        val cnt = Array.ofDim[Long](nSub, kc)
        val sums = Array.ofDim[Long](nSub, kc, subDim)
        it.foreach { case (_, qv) =>
          var m = 0
          while (m < nSub) {
            val sv = java.util.Arrays.copyOfRange(qv, m * subDim, (m + 1) * subDim)
            val (best, _) = IntLattice.assign(sv, bs(m), subDim)
            cnt(m)(best) += 1
            var i = 0
            while (i < subDim) { sums(m)(best)(i) += sv(i); i += 1 }
            m += 1
          }
        }
        for { m <- (0 until nSub).iterator; c <- (0 until kc).iterator }
          yield ((m, c), (cnt(m)(c), sums(m)(c)))
      }.reduceByKey { (x, y) =>
        (x._1 + y._1, Array.tabulate(subDim)(i => x._2(i) + y._2(i)))
      }.collect().toMap
      books = Array.tabulate(nSub) { m =>
        Array.tabulate(kc) { c =>
          agg.get((m, c)) match {
            case Some((cn, ss)) if cn > 0 =>
              // floor(sum/cnt), same empty-cluster keep rule as IntLattice
              Array.tabulate(subDim)(i => math.floor(ss(i).toDouble / cn).toLong)
            case _ => books(m)(c)
          }
        }
      }
    }
    books
  }

  private def c43(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val nSub = 4; val subDim = 16; val kc = 4; val rounds = 2
    val q = vecs(s, d).map { case (id, e) => (id, IntLattice.quantize(e)) }
      .localCheckpoint(false)
    val books = trainPqBooks(s, q, nSub, subDim, kc, rounds)
    val bcF = s.sparkContext.broadcast(books)
    q.mapPartitions { it =>
      val bs = bcF.value
      it.map { case (id, qv) =>
        var err = 0L
        val codes = new Array[Long](nSub)
        var m = 0
        while (m < nSub) {
          val sv = java.util.Arrays.copyOfRange(qv, m * subDim, (m + 1) * subDim)
          val (best, bd) = IntLattice.assign(sv, bs(m), subDim)
          codes(m) = best.toLong; err += bd
          m += 1
        }
        (id, codes(0), codes(1), codes(2), codes(3), err)
      }
    }.toDF("vec_id", "c0", "c1", "c2", "c3", "err")
      .orderBy("vec_id")
  }

  /** c45: train-vs-holdout decontamination — eval hygiene for the
    * pipeline's OWN split: c42's holdout docs must not leak into the
    * training side via shared passages. Probe unit = distinct 5-gram
    * overlap (Lee et al.'s exact-substring contamination signal, c39's
    * kernel). The holdout is k·|sources| docs BY CONSTRUCTION, so its
    * distinct-gram set is bounded and broadcast to both the train-side
    * anti join (holdout docs excluded from train) and the gram probe.
    * Grams are reduced to their 60-bit md5 fingerprint AT THE SCAN
    * (c58's discipline: 8-byte dedup keys and broadcast entries
    * instead of ~40-byte strings — same family in the oracle, so the
    * negligible collision probability cannot cause a cross-engine
    * diff); the distinct fingerprint stream pays ONE dedup shuffle and
    * is then localCheckpointed — both consumers (holdout-gram set,
    * train probe) read the materialized blocks instead of
    * re-exploding the corpus. Distinct from c25, which probes an
    * EXTERNAL benchmark list; this closes the train/eval loop against
    * the split the pipeline itself made.
    */
  private def c45(s: SparkSession, d: String): DataFrame = {
    val n = 5
    val hold = c42(s, d).select("doc_id").localCheckpoint(false)
    val grams = documents(s, d)
      .select(col("doc_id"), split(col("text"), " ").as("w"))
      .filter(size(col("w")) >= n)
      // dedup the gram STRINGS within each doc map-side before hashing:
      // repeated passages inside one doc pay one md5 instead of one per
      // position, and the distinct-(doc,g) Exchange below ships the
      // already-deduped rows (guide §2.3: shuffle fewer bytes). The
      // trailing .distinct() stays — it is what the declared output
      // (and oracle) define n_grams over, and it still collapses the
      // astronomically-unlikely two-strings-one-hash collision the
      // map-side string dedup cannot see.
      .select(col("doc_id"), explode(expr(
        s"array_distinct(transform(sequence(0, size(w)-$n), " +
          s"i -> array_join(slice(w, i+1, $n), ' ')))"))
        .as("gram"))
      .select(col("doc_id"), portableHash(col("gram")).as("g"))
      .distinct()
      .localCheckpoint(false)
    val hg = grams.join(broadcast(hold), Seq("doc_id"))
      .select("g").distinct()
      .select(col("g"), lit(1).as("hit"))
    grams
      .join(broadcast(hold), Seq("doc_id"), "left_anti")
      .join(broadcast(hg), Seq("g"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_grams"),
        sum(coalesce(col("hit"), lit(0))).cast("long").as("n_hit"))
      .withColumn("contaminated", col("n_hit") > 0)
      .orderBy("doc_id")
  }

  /** c44: canonical-document selection — the dedup ENDGAME policy c18
    * stops short of: inside every duplicate cluster, choose the one
    * document that survives (longest n_chars, tie → smallest doc_id —
    * the usual keep-the-longest-member policy) and emit the audit a
    * production dedup job reports (cluster size + keeper). Reuses
    * c18's cluster assignment; the rank window and the audit aggregate
    * are BOTH keyed by cluster_id, so the aggregate rides the window's
    * exchange — and cluster cardinality is duplicate-sized (tiny),
    * however large the corpus.
    */
  private def c44(s: SparkSession, d: String): DataFrame = {
    // reads the memoized materialized assignment — does NOT re-run the
    // CC loop (round-4 judge nit #3)
    val clusters = clusterAssignment(s, d)
    val len = documents(s, d).select(col("doc_id"), col("n_chars"))
    val w = Window.partitionBy("cluster_id")
      .orderBy(col("n_chars").desc, col("doc_id").asc)
    clusters.join(len, Seq("doc_id"))
      .withColumn("rk", row_number().over(w))
      .groupBy("cluster_id")
      .agg(count(lit(1)).as("n_members"),
        max(when(col("rk") === 1, col("doc_id"))).as("kept_doc_id"),
        max(when(col("rk") === 1, col("n_chars"))).as("kept_n_chars"))
      .filter(col("n_members") >= 2)
      .orderBy("cluster_id")
  }

  /** c46: URL canonicalization + dedup — the web-crawl dedup pass that
    * runs BEFORE any content hashing: the same page arrives under
    * `HTTPS://WWW.Host/path/?id=3&utm_source=feed`,
    * `https://host/path?id=3`, … and exact-text dedup never sees them
    * as one. The corpus has no URL column, so a deterministic messy URL
    * is synthesized per doc (case noise, www, utm_* tracking params,
    * trailing slash — all keyed on doc_id so both engines rebuild the
    * identical string), then canonicalized by the standard rule chain
    * (lowercase, strip www., strip utm_* params, strip trailing slash)
    * and grouped. Shape at 100 TB: the whole chain is map-side
    * codegen'd `regexp_replace`; the dedup is one canonical-url-keyed
    * partial agg — c1's shape on a narrower key.
    */
  private def c46(s: SparkSession, d: String): DataFrame = {
    val id = col("doc_id")
    val url = concat(
      lit("HTTPS://"),
      when(id % 2 === 0, lit("WWW.")).otherwise(lit("")),
      col("source"), lit(".Example.COM/"), col("lang"), lit("/page"),
      (id % 25).cast("string"),
      when(id % 5 === 0, lit("/")).otherwise(lit("")),
      when(id % 3 === 0, concat(lit("?id="), (id % 25).cast("string"),
        lit("&utm_source=feed&utm_campaign=x")))
        .when(id % 3 === 1, concat(lit("?id="), (id % 25).cast("string")))
        .otherwise(lit("")))
    val canon =
      regexp_replace(
        regexp_replace(
          regexp_replace(
            regexp_replace(lower(col("url")), "://www\\.", "://"),
            "&utm_[a-z_]+=[^&]*", ""),
          "/\\?", "?"),
        "/$", "")
    documents(s, d)
      .select(id, url.as("url"))
      .select(col("doc_id"), col("url"), canon.as("canon_url"))
      .groupBy("canon_url")
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("url")).as("n_variants"),
        min(col("doc_id")).as("keeper"))
      .orderBy("canon_url")
  }

  /** c47: BPE merge application — the "train then ENCODE" half c40's
    * merge-argmax statistics stop short of: pick merge 1 from the
    * weighted char-pair counts, apply it to the vocabulary, recount
    * pairs over the MERGED token sequences (true BPE round 2 — the
    * pair table changes after every merge), pick and apply merge 2,
    * and report per-word token counts before/after. Application is a
    * boundary-safe single left-to-right scan: the char-spaced word is
    * padded with spaces and the pair pattern ` a b ` is replaced by
    * ` ab ` — `replace` has identical non-overlapping left-to-right
    * semantics in Spark and DuckDB, so the encoding is bit-portable.
    * Scale shape (the classic BPE trick, same as c40): every merge
    * selection and application runs on the DISTINCT-word table
    * (vocabulary-sized, weighted by corpus counts); the token stream
    * is touched exactly once, by the word-count partial agg. The two
    * 1-row merge-argmax collects are algorithm state, bounded like
    * a23/c19's seeds (and null-guarded for the empty corpus).
    */
  private def c47(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val wc = documents(s, d)
      .select(explode(split(col("text"), " ")).as("w"))
      .groupBy("w").agg(count(lit(1)).as("cnt"))
      .localCheckpoint(false) // feeds both merge rounds + the output
    // char-spaced rendering: "word" -> "w o r d"
    val cs0 = wc.withColumn("cs", expr(
      "array_join(transform(sequence(1, length(w)), i -> substring(w, i, 1)), ' ')"))
    // merge 1 = argmax over char pairs weighted by word count
    val m1 = cs0.filter(length(col("w")) >= 2)
      .select(col("cnt"), explode(expr(
        "transform(sequence(1, length(w)-1), i -> substring(w, i, 2))")).as("pair"))
      .groupBy("pair").agg(sum(col("cnt")).as("c"))
      .orderBy(col("c").desc, col("pair")).limit(1)
      .select(col("pair")).as[String].collect().headOption
    // pattern " a b " -> " ab "; the \u0000 sentinel never occurs in words
    def merged(csCol: org.apache.spark.sql.Column, pat: String,
        rep: String): org.apache.spark.sql.Column =
      trim(call_function("replace",
        concat(lit(" "), csCol, lit(" ")), lit(pat), lit(rep)))
    val (p1pat, p1rep) = m1 match {
      case Some(p) => (s" ${p.charAt(0)} ${p.charAt(1)} ", s" $p ")
      case None => ("\u0000", "\u0000")
    }
    val cs1 = cs0.withColumn("cs", merged(col("cs"), p1pat, p1rep))
    // merge 2 = argmax over ADJACENT TOKEN pairs of the merged rendering
    val m2 = cs1.withColumn("t", split(col("cs"), " "))
      .filter(size(col("t")) >= 2)
      .select(col("cnt"), explode(expr(
        "transform(sequence(1, size(t)-1), i -> concat(element_at(t, i), ' ', element_at(t, i+1)))"))
        .as("pair"))
      .groupBy("pair").agg(sum(col("cnt")).as("c"))
      .orderBy(col("c").desc, col("pair")).limit(1)
      .select(col("pair")).as[String].collect().headOption
    val (p2pat, p2rep, m2sym) = m2 match {
      case Some(p) => (s" $p ", s" ${p.replace(" ", "")} ", p)
      case None => ("\u0000", "\u0000", "")
    }
    val cs2 = cs1.withColumn("cs", merged(col("cs"), p2pat, p2rep))
    cs2
      .select(col("w"), col("cnt"),
        length(col("w")).cast("long").as("tok0"),
        size(split(col("cs"), " ")).cast("long").as("tok2"),
        lit(m1.getOrElse("")).as("merge1"), lit(m2sym).as("merge2"))
      .orderBy(col("cnt").desc, col("w")).limit(25)
  }

  /** c48: weighted sampling without replacement — Efraimidis–Spirakis
    * priority sampling with EXACT integer keys: a doc of integer
    * weight w draws w independent md5 uniforms and its priority is
    * their MAX (distribution-identical to the classic u^(1/w) key —
    * max of w uniforms — so P(doc in sample) is exactly
    * weight-proportional), and the sample is the global top-k by
    * priority. No transcendental pow/log reaches the output, so the
    * sample is bit-reproducible across engines, cluster layouts and
    * reruns — same rationale as c21/c22/c42's unweighted hash
    * sampling, upgraded to weights. Weight here = source priority
    * (1 + srcnum % 4). Shape at 100 TB: the draw fan-out is bounded
    * by max weight (4), the per-doc max is a map-side partial agg,
    * and the top-k is TakeOrderedAndProject (b14's shape) — the
    * final rank window touches k=100 rows only.
    */
  private def c48(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val k = 100
    val keyed = documents(s, d)
      .select(col("doc_id"), col("source"),
        (lit(1) + substring(col("source"), 4, 10).cast("long") % 4).as("wt"))
      .select(col("doc_id"), col("source"), col("wt"),
        explode(expr("sequence(1, wt)")).as("j"))
      .select(col("doc_id"), col("source"), col("wt"),
        graft.util.Tables.portableHash(concat(lit("ws:"),
          col("doc_id").cast("string"), lit(":"), col("j").cast("string")))
          .as("key"))
      .groupBy("doc_id", "source", "wt")
      .agg(max(col("key")).as("sample_key"))
      .orderBy(col("sample_key").desc, col("doc_id")).limit(k)
    // rank the k survivors: bounded single partition (k=100 rows after
    // TakeOrderedAndProject — NOT a global window over the corpus)
    keyed
      .coalesce(1)
      .sortWithinPartitions(col("sample_key").desc, col("doc_id"))
      .as[(Long, String, Long, Long)]
      .mapPartitions { it =>
        var r = 0L
        it.map { case (id, src, wt, key) => r += 1; (r, id, src, wt, key) }
      }
      .toDF("rk", "doc_id", "source", "wt", "sample_key")
      .orderBy("rk")
  }

  /** c50: boilerplate-block removal — the RefinedWeb/CCNet line-dedup
    * cleaning pass: chunk every doc into fixed 8-word blocks (the
    * corpus has no newlines, so blocks stand in for lines), count each
    * distinct block's DOCUMENT frequency, flag blocks appearing in ≥ 3
    * distinct docs as boilerplate (headers, footers, nav chrome), and
    * emit per-doc audit counts plus the md5 fingerprint of the CLEANED
    * text (kept blocks re-joined in order) — c39 measures span-level
    * duplication, this op REMOVES it. Shape at 100 TB: block rows are
    * map-side generated; document frequency is one block-keyed partial
    * agg; the flag join ships one boolean per DISTINCT block (never a
    * posting list); reassembly rides one doc-keyed exchange.
    */
  private def c50(s: SparkSession, d: String): DataFrame = {
    val B = 8
    val blocks = documents(s, d)
      .select(col("doc_id"), split(col("text"), " ").as("w"))
      .select(col("doc_id"), explode(expr(
        s"transform(sequence(0, (size(w)-1) div $B), i -> struct(i AS idx, array_join(slice(w, i*$B+1, $B), ' ') AS line))"))
        .as("b"))
      .select(col("doc_id"), col("b.idx").as("idx"), col("b.line").as("line"))
    // document frequency per line: dedup WITHIN each doc map-side
    // (array_distinct over the doc's own block lines), so each (doc,
    // line) pair reaches the shuffle once and a single partial-agg'd
    // line-keyed Exchange counts distinct docs exactly — replaces the
    // previous distinct-(line,doc) Exchange + second line Exchange
    // (guide §2.3; r13 plan diff: 2 Exchanges → 1).
    val boiler = documents(s, d)
      .select(col("doc_id"), split(col("text"), " ").as("w"))
      .select(col("doc_id"), explode(expr(
        s"array_distinct(transform(sequence(0, (size(w)-1) div $B), " +
          s"i -> array_join(slice(w, i*$B+1, $B), ' ')))")).as("line"))
      .groupBy("line").agg(count(lit(1)).as("df"))
      .filter(col("df") >= 3)
      .select(col("line"), lit(1).as("boiler"))
    blocks.join(boiler, Seq("line"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_blocks"),
        sum(coalesce(col("boiler"), lit(0))).cast("long").as("n_boiler"),
        // collect_list skips the NULLs the CASE leaves on boilerplate
        // rows; array_sort restores document order by idx
        collect_list(when(col("boiler").isNull,
          struct(col("idx"), col("line")))).as("kept"))
      .select(col("doc_id"), col("n_blocks"), col("n_boiler"),
        md5(array_join(expr("transform(array_sort(kept), x -> x.line)"), " "))
          .as("clean_fp"))
      .orderBy("doc_id")
  }

  /** c51: semantic dedup (SemDeDup, Abbas et al. 2023) — drop documents
    * whose EMBEDDINGS are near-duplicates even when their text differs:
    * vectors are blocked into c15's 256 sign-LSH buckets (the coarse
    * semantic cells; exact integer plane dots, so the blocking is
    * bit-portable), and inside each bucket a vector survives iff no
    * EARLIER vector (smaller vec_id) lies within cosine > 0.3 — the
    * deterministic pairwise-precedence variant of SemDeDup's
    * keep-one-per-neighborhood rule (greedy-by-id, so the kept set
    * needs no sequential scan of the cluster). Declared output: every
    * vector with its bucket, how many earlier in-bucket near-dups it
    * has, the smallest blocking id, and the keep verdict. Shape at
    * 100 TB: pairs exist only INSIDE a bucket (the all-pairs kernel is
    * c10's, group-local), never across; more planes shrink buckets
    * geometrically, so bucket occupancy — not corpus size — bounds the
    * quadratic term.
    */
  private def c51(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val thr = 0.3
    val bc = s.sparkContext.broadcast(lshPlanes(8, 64))
    vecs(s, d)
      .mapPartitions { it =>
        val ps = bc.value
        it.map { case (id, emb) => (lshBucket(ps, emb), id, emb) }
      }
      .groupByKey(_._1)
      .flatMapGroups { (bucket, it) =>
        val grp = it.toArray.sortBy(_._2)
        grp.indices.iterator.map { i =>
          val (_, vid, ve) = grp(i)
          var nEarly = 0L
          var blocker = -1L
          var k = 0
          while (k < i) {
            val (_, uid, ue) = grp(k)
            if (cosine(ue, ve) > thr) {
              nEarly += 1
              if (blocker < 0) blocker = uid // grp sorted ⇒ min id first
            }
            k += 1
          }
          (vid, bucket, nEarly, blocker, nEarly == 0L)
        }
      }
      .toDF("vec_id", "bucket", "n_early_dups", "blocker", "kept")
      .orderBy("vec_id")
  }

  /** c49: DSIR-style importance scoring (Xie et al. 2023, "Data
    * Selection for Language Models via Importance Resampling"): score
    * every doc by how much more likely its tokens are under a TARGET
    * domain's unigram LM than under the corpus LM — the data-selection
    * pass that upweights target-like documents. Target here = the
    * `src1` slice. Cross-engine hazard (same as c41): log-probabilities
    * are transcendental, so both LMs use the exact integer bit-length
    * ⌊log2⌋, and the unseen-word penalty is add-half smoothing kept in
    * integers: bits_t = ⌊log2((2·tot_t + |V|) div (2·cnt_t + 1))⌋.
    * Output is the raw integer importance sum (a ratio would need
    * cross-engine floor-vs-truncate division on NEGATIVE sums — so the
    * declared columns stay in sum space). Scale shape: both LMs are
    * vocabulary-sized, counted by one aggregate, broadcast to the
    * scoring pass; the corpus is scanned once for counts and once for
    * scoring, never shuffled on anything wider than the vocab.
    */
  private def c49(s: SparkSession, d: String): DataFrame = {
    val tok = documents(s, d)
      .select(col("doc_id"), col("source"),
        explode(split(col("text"), " ")).as("w"))
    // both LMs' counts in one vocabulary-sized aggregate (cnt_t is 0
    // for a word the target never uses)
    val vocab = tok.groupBy("w").agg(count(lit(1)).as("cnt_all"),
        count(when(col("source") === "src1", 1)).as("cnt_t"))
      .localCheckpoint(false) // feeds the totals AND the LM
    // vocabulary totals as one-row aggregates collected as literals
    // (same discipline as c41: a window would move the vocabulary into
    // one task; a 1-row cross join would plan the banned NestedLoopJoin)
    val tots = vocab.agg(coalesce(sum("cnt_all"), lit(0L)),
      coalesce(sum("cnt_t"), lit(0L)), count(lit(1))).head()
    val (totAll, totT, nv) =
      (tots.getLong(0), tots.getLong(1), tots.getLong(2))
    val lm = vocab.select(col("w"), col("cnt_all"),
      ((length(bin(expr(s"${totAll}L div cnt_all"))) - 1) -
        (length(bin(expr(
          s"(2 * ${totT}L + ${nv}L) div (2 * cnt_t + 1)"))) - 1))
        .cast("long").as("imp"))
    // corpus-mean importance numerator: Σ_vocab imp·cnt — the exact
    // token-weighted mean is gm/totAll, kept as an integer pair so
    // the per-doc flag below is an exact cross-multiplication
    val gm = lm.agg(coalesce(sum(col("imp") * col("cnt_all")), lit(0L)))
      .head().getLong(0)
    tok.join(broadcast(lm.select("w", "imp")), Seq("w"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_words"), sum("imp").as("imp_sum"))
      // doc mean > corpus mean, exactly: imp_sum/n > gm/totAll
      .select(col("doc_id"), col("n_words"), col("imp_sum"),
        (col("imp_sum") * lit(totAll) > lit(gm) * col("n_words"))
          .as("above_corpus_mean"))
      .orderBy("doc_id")
  }

  /** DuckDB twin of c43's per-subspace Lloyd recurrence — ivfOracleSql's
    * CTE chain with a `sub = i // 16` key threaded through, so all 4
    * codebooks train in the same SQL pass. Centroids are keyed (c, i):
    * the subspace is determined by i, so codes from different
    * subspaces never collide on an i.
    */
  private val pqOracleSql: String = {
    def round(n: Int, prev: String): String =
      s"a$n AS (SELECT q0.vec_id, q0.sub, p.c, sum((q0.q - p.m)*(q0.q - p.m))::BIGINT AS dist FROM q0 JOIN $prev p USING (i) GROUP BY 1, 2, 3), " +
        s"b$n AS (SELECT vec_id, sub, c, dist FROM a$n QUALIFY row_number() OVER (PARTITION BY vec_id, sub ORDER BY dist, c) = 1), " +
        s"u$n AS (SELECT b$n.c, q0.i, floor(sum(q0.q)::DOUBLE / count(*))::BIGINT AS m FROM b$n JOIN q0 ON q0.vec_id = b$n.vec_id AND q0.sub = b$n.sub GROUP BY 1, 2), " +
        s"c$n AS (SELECT p.c, p.i, coalesce(u$n.m, p.m) AS m FROM $prev p LEFT JOIN u$n ON u$n.c = p.c AND u$n.i = p.i)"
    "WITH q0 AS (SELECT vec_id, i.i AS i, (i.i // 16)::BIGINT AS sub, floor(embedding[i.i+1]::DOUBLE * 1024)::BIGINT AS q FROM embeddings, range(64) i(i)), " +
      "c0 AS (SELECT vec_id AS c, i, q AS m FROM q0 WHERE vec_id < 4), " +
      (1 to 2).map(n => round(n, if (n == 1) "c0" else s"c${n - 1}"))
        .mkString(", ") +
      ", asg AS (SELECT t.vec_id, t.sub, t.c, t.dist FROM (SELECT q0.vec_id, q0.sub, p.c, sum((q0.q - p.m)*(q0.q - p.m))::BIGINT AS dist FROM q0 JOIN c2 p USING (i) GROUP BY 1, 2, 3) t QUALIFY row_number() OVER (PARTITION BY t.vec_id, t.sub ORDER BY t.dist, t.c) = 1) " +
      "SELECT vec_id, max(CASE WHEN sub = 0 THEN c END)::BIGINT AS c0, max(CASE WHEN sub = 1 THEN c END)::BIGINT AS c1, max(CASE WHEN sub = 2 THEN c END)::BIGINT AS c2, max(CASE WHEN sub = 3 THEN c END)::BIGINT AS c3, sum(dist)::BIGINT AS err FROM asg GROUP BY vec_id ORDER BY vec_id"
  }

  /** DuckDB twin of the c75/c76 calibrated ensemble: the three member
    * scores (c12's heuristic, c55's tertile as fluency points, c63's
    * clamped classifier), c61's mixture thresholds and the combined
    * `ens` CTE — ONE copy of the calibration rules on the oracle side
    * too, composed by both queries' final SELECTs.
    */
  private val ensembleOracleCtes: String =
    s"tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents), h AS (SELECT doc_id, floor((least(len(w)::DOUBLE / 100.0, 1.0) * 0.4 + (1.0 - sc::DOUBLE / len(w)) * 0.6) * 10000)::BIGINT AS h_bp FROM (SELECT doc_id, w, len(list_filter(w, x -> x IN ('the','a','of','and','to'))) AS sc FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents))), wc AS (SELECT w, count(*) AS cnt FROM tok GROUP BY w), tot AS (SELECT count(*) AS n FROM tok), sur AS (SELECT w, (length(bin((n // cnt)::BIGINT)) - 1)::BIGINT AS bits FROM wc, tot), pd AS (SELECT t.doc_id, (sum(s.bits) * 10000 // count(*))::BIGINT AS avg_sur_bp FROM tok t JOIN sur s ON t.w = s.w GROUP BY t.doc_id), p AS (SELECT d.doc_id, ((3 - ntile(3) OVER (PARTITION BY d.lang ORDER BY pd.avg_sur_bp, d.doc_id)) * 5000)::BIGINT AS p_bp FROM pd JOIN documents d USING (doc_id)), f AS (SELECT doc_id, (${graft.util.Tables.duckHash("'feat:' || w")} % 64) AS fh FROM tok), c AS (SELECT doc_id, greatest(0, least(10000, 5000 + sum(${graft.util.Tables.duckHash("'w:' || fh::VARCHAR")} % 2001 - 1000)))::BIGINT AS c_bp FROM f GROUP BY doc_id), mixt AS (SELECT source, sum(len(string_split(text, ' ')))::BIGINT AS n_tokens FROM documents GROUP BY 1), g AS (SELECT sum(n_tokens)::BIGINT AS tot, sum(sqrt(n_tokens::DOUBLE)::DECIMAL(28,12)) AS tot_sq FROM mixt), thr AS (SELECT source, greatest(3000, 5000 + (10000 * n_tokens // tot) - floor(10000 * sqrt(n_tokens::DOUBLE) / tot_sq::DOUBLE)::BIGINT)::BIGINT AS thr_bp FROM mixt, g), ens AS (SELECT d.doc_id, d.source, h.h_bp, p.p_bp, c.c_bp, ((4 * h.h_bp + 3 * p.p_bp + 3 * c.c_bp) // 10)::BIGINT AS ens_bp, thr.thr_bp FROM documents d JOIN h USING (doc_id) JOIN p USING (doc_id) JOIN c USING (doc_id) JOIN thr ON thr.source = d.source)"

  /** DuckDB twin of c72's FULL search chain: the coarse training
    * rounds (ivfOracleSql's recurrence, `k*` prefixes) and the PQ
    * training rounds (pqOracleSql's, `p*` prefixes) share one
    * quantized q0, then cell assignment + PQ codes build the index,
    * probes route to their 4 nearest cells with a per-probe ADC
    * table, candidates score by table-lookup sum, the top-48
    * shortlist re-ranks by true cosine, and ground truth/recall
    * replay c65's harness — every integer of the chain recomputed.
    */
  /** The IVF-PQ search recomputed wholesale in DuckDB, shared by c72
    * and c74 (identical index universe) and, with `surviveSql`
    * narrowing candidates AND ground truth to the post-delete
    * survivors, by c77 — the model training stays identical in all
    * three (c77 searches with the PERSISTED pre-delete model; only
    * the index content shrank).
    */
  private def ivfPqOracle(survive: String => String): String = {
    def coarseRound(n: Int, prev: String): String =
      s"ka$n AS (SELECT q0.vec_id, p.c, sum((q0.q - p.m)*(q0.q - p.m))::BIGINT AS dist FROM q0 JOIN $prev p USING (i) GROUP BY 1, 2), " +
        s"kb$n AS (SELECT vec_id, c, dist FROM ka$n QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY dist, c) = 1), " +
        s"ku$n AS (SELECT kb$n.c, q0.i, floor(sum(q0.q)::DOUBLE / count(*))::BIGINT AS m FROM kb$n JOIN q0 USING (vec_id) GROUP BY 1, 2), " +
        s"kc$n AS (SELECT p.c, p.i, coalesce(ku$n.m, p.m) AS m FROM $prev p LEFT JOIN ku$n ON ku$n.c = p.c AND ku$n.i = p.i)"
    def pqRound(n: Int, prev: String): String =
      s"pa$n AS (SELECT q0.vec_id, q0.sub, p.c, sum((q0.q - p.m)*(q0.q - p.m))::BIGINT AS dist FROM q0 JOIN $prev p USING (i) GROUP BY 1, 2, 3), " +
        s"pb$n AS (SELECT vec_id, sub, c, dist FROM pa$n QUALIFY row_number() OVER (PARTITION BY vec_id, sub ORDER BY dist, c) = 1), " +
        s"pu$n AS (SELECT pb$n.c, q0.i, floor(sum(q0.q)::DOUBLE / count(*))::BIGINT AS m FROM pb$n JOIN q0 ON q0.vec_id = pb$n.vec_id AND q0.sub = pb$n.sub GROUP BY 1, 2), " +
        s"pc$n AS (SELECT p.c, p.i, coalesce(pu$n.m, p.m) AS m FROM $prev p LEFT JOIN pu$n ON pu$n.c = p.c AND pu$n.i = p.i)"
    "WITH q0 AS (SELECT vec_id, i.i AS i, (i.i // 16)::BIGINT AS sub, floor(embedding[i.i+1]::DOUBLE * 1024)::BIGINT AS q FROM embeddings, range(64) i(i)), " +
      "kc0 AS (SELECT vec_id AS c, i, q AS m FROM q0 WHERE vec_id < 8), " +
      (1 to 2).map(n => coarseRound(n, if (n == 1) "kc0" else s"kc${n - 1}"))
        .mkString(", ") + ", " +
      "pc0 AS (SELECT vec_id AS c, i, q AS m FROM q0 WHERE vec_id < 4), " +
      (1 to 2).map(n => pqRound(n, if (n == 1) "pc0" else s"pc${n - 1}"))
        .mkString(", ") +
      ", asgc AS (SELECT t.vec_id, t.c AS cell FROM (SELECT q0.vec_id, p.c, sum((q0.q - p.m)*(q0.q - p.m))::BIGINT AS dist FROM q0 JOIN kc2 p USING (i) WHERE q0.vec_id >= 8 GROUP BY 1, 2) t QUALIFY row_number() OVER (PARTITION BY t.vec_id ORDER BY t.dist, t.c) = 1)" +
      ", codes AS (SELECT t.vec_id, t.sub, t.c FROM (SELECT q0.vec_id, q0.sub, p.c, sum((q0.q - p.m)*(q0.q - p.m))::BIGINT AS dist FROM q0 JOIN pc2 p USING (i) WHERE q0.vec_id >= 8 GROUP BY 1, 2, 3) t QUALIFY row_number() OVER (PARTITION BY t.vec_id, t.sub ORDER BY t.dist, t.c) = 1)" +
      ", probes AS (SELECT vec_id AS probe_id FROM embeddings WHERE vec_id % 100 = 0 AND vec_id >= 8 ORDER BY vec_id LIMIT 32)" +
      ", pcell AS (SELECT t.probe_id, t.c AS cell FROM (SELECT pr.probe_id, p.c, sum((q0.q - p.m)*(q0.q - p.m))::BIGINT AS dist FROM probes pr JOIN q0 ON q0.vec_id = pr.probe_id JOIN kc2 p USING (i) GROUP BY 1, 2) t QUALIFY row_number() OVER (PARTITION BY t.probe_id ORDER BY t.dist, t.c) <= 4)" +
      ", dtab AS (SELECT pr.probe_id, q0.sub, p.c, sum((q0.q - p.m)*(q0.q - p.m))::BIGINT AS dist FROM probes pr JOIN q0 ON q0.vec_id = pr.probe_id JOIN pc2 p USING (i) GROUP BY 1, 2, 3)" +
      s", cand AS (SELECT pc.probe_id, a.vec_id AS cand_id FROM pcell pc JOIN asgc a ON a.cell = pc.cell AND a.vec_id != pc.probe_id AND (${survive("a.vec_id")}))" +
      ", adc AS (SELECT c.probe_id, c.cand_id, sum(d.dist)::BIGINT AS adc FROM cand c JOIN codes k ON k.vec_id = c.cand_id JOIN dtab d ON d.probe_id = c.probe_id AND d.sub = k.sub AND d.c = k.c GROUP BY 1, 2)" +
      ", short AS (SELECT probe_id, cand_id, adc FROM adc QUALIFY row_number() OVER (PARTITION BY probe_id ORDER BY adc, cand_id) <= 48)" +
      ", rer AS (SELECT s.probe_id, s.cand_id, s.adc, list_cosine_similarity(pe.embedding::DOUBLE[], ce.embedding::DOUBLE[]) AS sim FROM short s JOIN embeddings pe ON pe.vec_id = s.probe_id JOIN embeddings ce ON ce.vec_id = s.cand_id)" +
      ", ann AS (SELECT * FROM (SELECT probe_id, cand_id, adc, sim, row_number() OVER (PARTITION BY probe_id ORDER BY sim DESC, cand_id) AS rnk FROM rer) WHERE rnk <= 5)" +
      s", gt AS (SELECT probe_id, vec_id FROM (SELECT pr.probe_id, e.vec_id, row_number() OVER (PARTITION BY pr.probe_id ORDER BY list_cosine_similarity(pe.embedding::DOUBLE[], e.embedding::DOUBLE[]) DESC, e.vec_id) AS rn FROM probes pr JOIN embeddings pe ON pe.vec_id = pr.probe_id JOIN embeddings e ON e.vec_id >= 8 AND e.vec_id != pr.probe_id AND (${survive("e.vec_id")})) WHERE rn <= 5)" +
      ", nh AS (SELECT a.probe_id, count(*)::BIGINT AS n_hit FROM ann a JOIN gt ON gt.probe_id = a.probe_id AND gt.vec_id = a.cand_id GROUP BY 1) " +
      "SELECT a.probe_id, a.rnk::BIGINT AS rank, a.cand_id AS neighbor_id, a.adc, round(a.sim, 4) AS sim, (coalesce(nh.n_hit, 0) * 2000)::BIGINT AS recall_bp FROM ann a LEFT JOIN nh ON nh.probe_id = a.probe_id ORDER BY a.probe_id, rank"
  }

  private val ivfPqSearchOracleSql: String = ivfPqOracle(_ => "TRUE")

  /** c77's oracle: the same recomputation with candidates and ground
    * truth restricted to the post-delete survivors (≢3 mod 10).
    */
  private val ivfPqDeleteOracleSql: String =
    ivfPqOracle(c => s"$c % 10 != 3")

  /** c79's oracle: c77's post-delete recomputation, declared TWICE —
    * the pre- and post-compaction searches must both equal it, which
    * is the maintenance-invariance claim in oracle form.
    */
  private val ivfPqCompactOracleSql: String =
    "SELECT ph.phase::BIGINT AS phase, o.* FROM " +
      s"($ivfPqDeleteOracleSql) o CROSS JOIN (VALUES (0), (1)) " +
      "ph(phase) ORDER BY phase, o.probe_id, o.rank"

  /** DuckDB rendering of the c15/c51 sign-LSH bucket assignment: CTE
    * chain ending in `buckets(vec_id, bucket)`. Exact integer plane
    * dots on the 2^-10 grid — mirrors the Scala kernel bit-for-bit.
    */
  private val lshBucketCtes =
    "planes AS (SELECT p.p, i.i, ((('0x'||substr(md5(p.p::VARCHAR || ':' || i.i::VARCHAR),1,15))::BIGINT % 17) - 8) AS w FROM range(8) p(p), range(64) i(i)), " +
      "q AS (SELECT vec_id, i.i, floor(embedding[i.i+1]::DOUBLE * 1024)::BIGINT AS qv FROM embeddings, range(64) i(i)), " +
      "dots AS (SELECT q.vec_id, planes.p, sum(planes.w * q.qv)::BIGINT AS dot FROM q JOIN planes ON q.i = planes.i GROUP BY 1, 2), " +
      "buckets AS (SELECT vec_id, sum(CASE WHEN dot >= 0 THEN (1::BIGINT << p) ELSE 0 END)::BIGINT AS bucket FROM dots GROUP BY 1)"

  private val shinglesSql =
    "SELECT doc_id, list_distinct(list_transform(generate_series(1, len(w)-2), i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS s FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents) WHERE len(w) >= 3"

  /** DuckDB rendering of [[bandMinhash]] (defaults 16×4): CTE chain
    * ending in `sig(doc_id, band, minhash)`. Exact BIGINT arithmetic
    * throughout — mirrors the Scala kernel bit-for-bit.
    */
  private[operators] val minhashCtes =
    s"sh AS (SELECT doc_id, unnest(s) AS sh FROM ($shinglesSql)), " +
      "coef AS (SELECT t.j, ((('0x'||substr(md5('a:'||t.j::VARCHAR),1,8))::BIGINT % 2147483648) | 1) AS a, ('0x'||substr(md5('b:'||t.j::VARCHAR),1,8))::BIGINT AS b FROM range(64) t(j)), " +
      "mbase AS (SELECT doc_id, ('0x'||substr(md5(sh),1,8))::BIGINT AS h FROM sh), " +
      "mh AS (SELECT mbase.doc_id, coef.j, min((coef.a * mbase.h + coef.b) & 4294967295) AS m FROM mbase, coef GROUP BY 1, 2), " +
      "sig AS (SELECT doc_id, (j // 4)::BIGINT AS band, string_agg(m::VARCHAR, ',' ORDER BY j) AS minhash FROM mh GROUP BY 1, 2)"

  /** Shared c33/c80 oracle: the incremental batch probe (new ×
    * index-only LSH collisions, exact Jaccard verify, best match per
    * new doc). c33 computes it in-query; c80 computes it through the
    * PERSISTED signature index — one oracle, two paths, equality is
    * the cross-check.
    */
  private val incrementalDedupOracleSql =
    s"WITH $minhashCtes, newb AS (SELECT * FROM sig WHERE doc_id >= 400 AND doc_id < 500), idxb AS (SELECT * FROM sig WHERE doc_id < 400 OR doc_id >= 500), pairs AS (SELECT DISTINCT n.doc_id AS u, i.doc_id AS v FROM newb n JOIN idxb i ON n.band = i.band AND n.minhash = i.minhash), sizes AS (SELECT doc_id, count(*)::BIGINT AS nsh FROM sh GROUP BY 1), inter AS (SELECT p.u, p.v, count(*)::BIGINT AS inter FROM pairs p JOIN sh a ON a.doc_id = p.u JOIN sh b ON b.doc_id = p.v AND b.sh = a.sh GROUP BY 1, 2), scored AS (SELECT p.u, p.v, ((10000 * coalesce(i.inter, 0)) // (sa.nsh + sb.nsh - coalesce(i.inter, 0)))::BIGINT AS bp FROM pairs p JOIN sizes sa ON sa.doc_id = p.u JOIN sizes sb ON sb.doc_id = p.v LEFT JOIN inter i ON i.u = p.u AND i.v = p.v), best AS (SELECT u, v, bp, row_number() OVER (PARTITION BY u ORDER BY bp DESC, v) AS rn FROM scored), agg AS (SELECT u, count(*)::BIGINT AS n_cand FROM scored GROUP BY 1) SELECT doc.doc_id AS new_id, coalesce(a.n_cand, 0)::BIGINT AS n_cand, b.v AS best_match, coalesce(b.bp, 0)::BIGINT AS best_bp, coalesce(b.bp, 0) >= 8000 AS is_dup FROM documents doc LEFT JOIN agg a ON a.u = doc.doc_id LEFT JOIN best b ON b.u = doc.doc_id AND b.rn = 1 WHERE doc.doc_id >= 400 AND doc.doc_id < 500 ORDER BY new_id"

  /** Shared c18/c44 CTE chain: LSH candidate pairs → symmetric edge set
    * → recursive reachability (connected components by min label).
    */
  private val clusterCtes =
    s"$minhashCtes, pairs AS (SELECT DISTINCT a.doc_id AS u, b.doc_id AS v FROM sig a JOIN sig b ON a.band = b.band AND a.minhash = b.minhash AND a.doc_id < b.doc_id), edges AS (SELECT u, v FROM pairs UNION SELECT v, u FROM pairs), reach(u, r) AS (SELECT doc_id, doc_id FROM documents UNION SELECT e.u, reach.r FROM edges e JOIN reach ON e.v = reach.u)"

  /** c52: corpus token-distribution statistics — the Zipf diagnostic a
    * curation pipeline runs per source to spot degenerate shards
    * (boilerplate floods show as a heavy head / steep slope, spam as a
    * flat one). Per source: distinct tokens, total tokens, head share,
    * and the least-squares slope of ln(count) on ln(rank) over the
    * top-100 tokens. Scale shape: one (source, token) partial-agg'd
    * count shuffle; the top-100 head rides b15's WindowGroupLimit
    * pattern (map-side bound, plan-asserted) so only ~100 rows per
    * source reach the regression; the regression sums go through exact
    * DECIMAL so the hash compare cannot flake on float-sum order.
    * Count table feeds two consumers (totals + head) — materialized
    * once, the c45 pattern.
    */
  private def c52(s: SparkSession, d: String): DataFrame = {
    val wc = documents(s, d)
      .select(col("source"), explode(split(col("text"), " ")).as("w"))
      .groupBy("source", "w").agg(count(lit(1)).as("cnt"))
      .localCheckpoint(false)
    val totals = wc.groupBy("source").agg(
      count(lit(1)).as("n_distinct"), sum("cnt").as("n_total"),
      max("cnt").as("max_cnt"))
    val head = wc
      .withColumn("rk", row_number().over(
        Window.partitionBy("source").orderBy(col("cnt").desc, col("w"))))
      .filter(col("rk") <= 100)
    val sl = head
      .select(col("source"),
        log(col("rk").cast("double")).as("x"),
        log(col("cnt").cast("double")).as("y"))
      .groupBy("source")
      .agg(count(lit(1)).cast("double").as("n"),
        sum(col("x").cast("decimal(28,12)")).cast("double").as("sx"),
        sum(col("y").cast("decimal(28,12)")).cast("double").as("sy"),
        sum((col("x") * col("y")).cast("decimal(28,12)")).cast("double")
          .as("sxy"),
        sum((col("x") * col("x")).cast("decimal(28,12)")).cast("double")
          .as("sxx"))
      .select(col("source"),
        when(col("n") * col("sxx") - col("sx") * col("sx") =!= 0.0,
          round((col("n") * col("sxy") - col("sx") * col("sy")) /
            (col("n") * col("sxx") - col("sx") * col("sx")), 4))
          .as("zipf_slope"))
    totals.join(sl, Seq("source"))
      .select(col("source"), col("n_distinct"), col("n_total"),
        expr("max_cnt * 10000 div n_total").as("top1_bp"),
        col("zipf_slope"))
      .orderBy("source")
  }

  /** c53: bigram LM scoring — c41's unigram surprisal upgraded to
    * conditional P(w2|w1): per-doc bigram count and integer-log2
    * surprisal bits under a bigram LM trained on the corpus itself
    * (bits = ⌊log2(ctx/pair)⌋ via bit length, c41's engine-portable
    * convention — no floats anywhere). Scale shape: the bigram stream
    * is materialized ONCE (c45's localCheckpoint pattern) and feeds
    * both the LM build and the scoring join; the LM is bigram-vocab-
    * sized so the scoring join shuffles on the (w1,w2) key rather than
    * assuming the LM broadcasts — at 100 TB the bigram vocabulary does
    * NOT fit a broadcast, unlike c41's unigram table.
    */
  private def c53(s: SparkSession, d: String): DataFrame = {
    val bg = documents(s, d)
      .select(col("doc_id"), split(col("text"), " ").as("w"))
      .select(col("doc_id"), explode(expr(
        "zip_with(slice(w, 1, size(w) - 1), slice(w, 2, size(w) - 1), " +
          "(a, b) -> struct(a AS w1, b AS w2))")).as("p"))
      .select(col("doc_id"), col("p.w1"), col("p.w2"))
      .localCheckpoint(false)
    val pc = bg.groupBy("w1", "w2").agg(count(lit(1)).as("pcnt"))
    val ctx = pc.groupBy("w1").agg(sum("pcnt").as("ccnt"))
    val lm = pc.join(ctx, "w1")
      .select(col("w1"), col("w2"),
        (length(bin(expr("ccnt div pcnt"))) - 1).cast("long").as("bits"))
    bg.join(lm, Seq("w1", "w2"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"), sum("bits").as("bits_sum"))
      .select(col("doc_id"), col("n_bigrams"), col("bits_sum"),
        expr("bits_sum * 10000 div n_bigrams").as("avg_bits_bp"))
      .orderBy("doc_id")
  }

  /** c56: multimodal FRAME SAMPLING — the 1→N batch shape video/audio
    * feature extraction needs (c16 is 1→1): each media blob yields up
    * to 4 evenly-strided "frames", each summarized by offset, length
    * and two stub features (first byte, byte-sum of an 8-byte head).
    * The decode is a STUB standing in for a real codec (the container
    * ships no image/audio libs — build brief); everything Spark-side is
    * the real production plumbing: an opaque `binary` column into a
    * typed mapPartitions kernel (the Scala analogue of `mapInPandas`)
    * that flatMaps an ITERATOR — one frame row at a time, never a
    * per-partition buffer, so executor memory is bounded by one blob
    * regardless of fan-out. At 100 TB: stateless per-row compute, zero
    * shuffles before the declared ORDER BY; a real decoder drops in by
    * replacing the slice-summary with codec calls, same schema and
    * batch shape. The decode here is a REAL codec — UTF-8 bytes →
    * codepoints — and all frame arithmetic (offsets, lengths,
    * features) runs on the DECODED stream, so the char-based DuckDB
    * oracle agrees on any Unicode corpus, not just ASCII.
    */
  private def c56(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val nFrames = 4
    val headLen = 8
    documents(s, d)
      .select(col("doc_id"), col("text").cast("binary").as("media"))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.flatMap { case (id, bytes) =>
          // decode: opaque bytes → codepoints (a real impl would
          // demux/decode media frames here, same shape).
          val cps = new String(bytes,
            java.nio.charset.StandardCharsets.UTF_8).codePoints().toArray
          val n = cps.length
          val stride = math.max(1, n / nFrames)
          (0 until nFrames).iterator
            .filter(k => k * stride < n)
            .map { k =>
              val off = k * stride
              val len = math.min(headLen, n - off)
              var sum = 0L
              var i = off
              while (i < off + len) { sum += cps(i); i += 1 }
              (id, k.toLong, off.toLong, len.toLong, cps(off), sum)
            }
        }
      }
      .toDF("doc_id", "frame_idx", "frame_off", "frame_len", "feat0", "feat_sum")
      .orderBy("doc_id", "frame_idx")
  }

  /** c57: COMPACTION PLANNING — the small-files layout pass every
    * long-running 100 TB pipeline schedules (streaming sinks and
    * incremental ingest fragment a table into thousands of undersized
    * files; reads then pay per-file open/footer cost). Each doc stands
    * in for a data file (size = n_chars); within each source partition
    * the plan greedily packs files in id order into ~8 KiB target
    * groups via a running-sum bucket: group = ⌊cumulative-size-before ÷
    * target⌋. Declared output is the compaction MANIFEST (per group:
    * file count, bytes, id range) — the job that would execute it is a
    * partitioned rewrite driven by exactly this table. Scale shape:
    * planning is METADATA-ONLY — one window pass over the file
    * manifest (partition-local sort, no data bytes touched), then the
    * same partial-agg'd group-by; manifest rows are O(#files), never
    * O(data).
    */
  private def c57(s: SparkSession, d: String): DataFrame = {
    val target = 8192L
    val w = Window.partitionBy("source").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    documents(s, d)
      .select(col("source"), col("doc_id"), col("n_chars"))
      .withColumn("cum_before", coalesce(sum("n_chars").over(w), lit(0L)))
      .withColumn("grp", expr(s"cum_before div $target"))
      .groupBy("source", "grp")
      .agg(count(lit(1)).as("n_files"),
        sum("n_chars").cast("long").as("bytes"),
        min("doc_id").as("first_doc"), max("doc_id").as("last_doc"))
      .orderBy("source", "grp")
  }

  /** c58: maximal duplicated-SPAN extraction — the step beyond c39's
    * per-position flagging: c39 reports the FRACTION of duplicated
    * 5-gram positions per doc; c58 extracts the actual maximal spans
    * (start/end word offsets) a dedup pass would cut, the output shape
    * of Lee et al. 2021's suffix-array pipeline. Method: positions
    * whose 5-gram occurs in ≥2 distinct docs are seed intervals
    * [p, p+4]; the maximal spans are the connected components of their
    * union — two seeds merge iff the next starts within n words of the
    * previous (q − p ≤ n covers overlap AND touching), which is the
    * session-window pattern (lag + gap flag + running sum, same shape
    * as d3) with gap n, NOT the gap-1 `p − row_number` trick (that one
    * would emit OVERLAPPING spans whenever two seeds sit 2..n words
    * apart with a non-duplicated gram between them). This recovers
    * every maximal cross-doc duplicated word run coverable by ≥5-word
    * repeats, with k-gram resolution at the ends (the standard
    * distributed approximation of the suffix-array formulation; a full
    * SA is only needed when the seed length must be 1). Shape at
    * 100 TB: gram occurrences shuffle ONCE, keyed by a 60-bit md5
    * fingerprint of the gram (8-byte shuffle keys instead of ~40-byte
    * strings; the SAME family on both engines, so the negligible
    * collision probability cannot cause a cross-engine diff), and the
    * ≥2-distinct-docs flag is computed INSIDE that one partitioning
    * with the b58 dense_rank/max composition — the
    * distinct+aggregate+join formulation this replaced paid two more
    * exchanges of the position table (measured 1.6 → 1.1 s at sf0.1);
    * then ONE shuffle by doc_id shared by both window passes; span
    * rows are bounded by duplicated positions, never corpus size.
    */
  /** c78: EXACT-SUBSTRING DEDUP SCRUB — the REMOVAL half of the
    * substring-duplication story (c58 DETECTS cross-document
    * duplicated spans; this SCRUBS them — the "deduplicating training
    * data" recipe: cut every duplicated occurrence, keep exactly one
    * canonical copy in the corpus). Rules, all integer-exact: a
    * 5-gram is DUPLICATED iff it occurs in ≥2 distinct docs; its
    * CANONICAL holder is the min doc_id containing it; every
    * NON-canonical occurrence covers its 5 token positions; a doc's
    * scrubbed text is its tokens with covered positions removed,
    * order preserved. Declared output per doc: token count, removed
    * count, and the md5 fingerprint of the scrubbed text — the oracle
    * recomputes the whole pipeline INCLUDING the rebuilt strings, so
    * a single mis-kept token anywhere in the corpus breaks the hash.
    * Shape at 100 TB: gram occurrences shuffle ONCE keyed by the
    * 60-bit portable gram fingerprint (c58's 8-byte-key discipline);
    * duplicated grams + canonical holders come out of that one
    * aggregation; coverage explodes only DUPLICATED occurrences
    * (bounded by dup volume, never corpus size); the rebuild is one
    * shuffle by doc_id. No all-pairs term anywhere — the quadratic
    * lives inside gram groups, exactly like LSH buckets.
    */
  private def c78(s: SparkSession, d: String): DataFrame = {
    val n = 5
    val toks = documents(s, d)
      .select(col("doc_id"), split(col("text"), " ").as("w"))
    val grams = toks
      .filter(size(col("w")) >= n)
      .select(col("doc_id"), posexplode(expr(
        s"transform(sequence(0, size(w)-$n), i -> array_join(slice(w, i+1, $n), ' '))")))
      .toDF("doc_id", "p", "gram")
      .select(col("doc_id"), col("p"), portableHash(col("gram")).as("g"))
    // duplicated grams and their canonical holder, one shuffle on g
    val dup = grams.groupBy("g")
      .agg(countDistinct(col("doc_id")).as("nd"),
        min(col("doc_id")).as("canon"))
      .filter(col("nd") >= 2)
      .select("g", "canon")
    // covered positions: each non-canonical occurrence covers [p, p+4]
    val covered = grams.join(dup, "g")
      .filter(col("doc_id") =!= col("canon"))
      .select(col("doc_id"),
        explode(expr(s"sequence(p, p + ${n - 1})")).as("t"))
      .distinct()
    val tokens = toks
      .select(col("doc_id"), posexplode(col("w"))).toDF("doc_id", "t", "tok")
    val kept = tokens
      .join(covered, Seq("doc_id", "t"), "left_anti")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_kept"),
        md5(expr(
          "array_join(transform(array_sort(collect_list(struct(t, tok)))," +
            " x -> x.tok), ' ')")).as("fp"))
    toks.select(col("doc_id"), size(col("w")).cast("long").as("n_tok"))
      .join(kept, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tok"),
        (col("n_tok") - coalesce(col("n_kept"), lit(0L)))
          .cast("long").as("n_removed"),
        coalesce(col("fp"), md5(lit(""))).as("kept_fp"))
      .orderBy("doc_id")
  }

  private def c58(s: SparkSession, d: String): DataFrame = {
    val n = 5
    val pos = documents(s, d)
      .select(col("doc_id"), split(col("text"), " ").as("w"))
      .filter(size(col("w")) >= n)
      .select(col("doc_id"), posexplode(expr(
        s"transform(sequence(0, size(w)-$n), i -> array_join(slice(w, i+1, $n), ' '))")))
      .toDF("doc_id", "p", "gram")
      .select(col("doc_id"), col("p"), portableHash(col("gram")).as("g"))
    val byGram = Window.partitionBy("g")
    val byDoc = Window.partitionBy("doc_id").orderBy("p")
    pos
      // "gram appears in ≥2 distinct docs" ⟺ min(doc_id) ≠ max(doc_id)
      // within the gram partition: one unordered-frame Window (sorted
      // by g alone) instead of the previous dense_rank-over-(g,doc_id)
      // + max pair, which cost a second Window pass and a wider sort
      // key for the same predicate (guide §2.4 — fewer passes over the
      // exchanged data; r13 plan diff: 2 Window nodes → 1).
      .withColumn("mnd", min("doc_id").over(byGram))
      .withColumn("mxd", max("doc_id").over(byGram))
      .filter(col("mnd") =!= col("mxd"))
      .select("doc_id", "p")
      .withColumn("prev", lag(col("p"), 1).over(byDoc))
      .withColumn("is_new",
        when(col("prev").isNull || col("p") - col("prev") > n, 1).otherwise(0))
      .withColumn("isl", sum(col("is_new")).over(
        byDoc.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy("doc_id", "isl")
      .agg(min(col("p")).cast("long").as("span_start"),
        (max(col("p")) + lit(n - 1)).cast("long").as("span_end"),
        (max(col("p")) - min(col("p")) + lit(n)).cast("long").as("span_words"))
      .select("doc_id", "span_start", "span_end", "span_words")
      .orderBy("doc_id", "span_start")
  }

  /** c59: compaction EXECUTION — completes c57's story: c57 plans the
    * small-file rewrite (metadata-only); c59 executes it. The planned
    * group id is computed with c57's exact running-sum bucketing, the
    * rows are rewritten `partitionBy(source, grp)` after ONE shuffle
    * on exactly the plan's keys (repartition by (source, grp) ⇒ each
    * group lands wholly in one task ⇒ exactly one output file per
    * group — the small-files fix, proven per-row by `files_out`). The
    * declared output is the post-rewrite manifest computed FROM THE
    * REWRITTEN FILES (read-back, not the plan), so correctness covers
    * the full write→read cycle; Round8PropsSpec additionally proves
    * byte-level read-back parity (rewritten rows == source rows) and
    * on-disk file count == #groups. At 100 TB this runs incrementally
    * per source partition — the shuffle moves only the partitions
    * being compacted, never the table.
    */
  private def c59(s: SparkSession, d: String): DataFrame = {
    // 8× c57's planning target: the EXECUTION demo actually creates a
    // dir + file per group, so the target is sized to keep the output
    // file count bounded across SFs (sf0.1 would write ~2 300 dirs at
    // 8 KiB — the opposite of compaction); production uses the same
    // code with a ~128 MB target.
    val target = 65536L
    val w = Window.partitionBy("source").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    val planned = documents(s, d)
      .withColumn("cum_before", coalesce(sum("n_chars").over(w), lit(0L)))
      .withColumn("grp", expr(s"cum_before div $target"))
      .drop("cum_before")
    val out = graft.util.TmpDir.path("c59_compacted")
    planned
      .repartition(col("source"), col("grp"))
      .write.mode("overwrite").partitionBy("source", "grp").parquet(out)
    // Explicit read schema: an EMPTY compaction run writes zero part
    // files and schema inference would die; the rewrite's schema is
    // the planned frame's by construction either way.
    s.read.schema(planned.schema).parquet(out)
      .withColumn("fname", input_file_name())
      .groupBy(col("source"), col("grp").cast("long").as("grp"))
      .agg(count(lit(1)).as("n_rows"),
        sum("n_chars").cast("long").as("bytes"),
        min("doc_id").as("first_doc"), max("doc_id").as("last_doc"),
        countDistinct(col("fname")).as("files_out"))
      .orderBy("source", "grp")
  }

  /** c60: curation-funnel ATTRITION report — the observability twin of
    * c32's gate: a production filter cascade is only debuggable if every
    * stage reports how much it cut, per source (the per-rule attrition
    * tables in Gopher/RefinedWeb-style pipeline papers). Four ordered
    * rules (min chars, min words, bounded avg word length, min distinct-
    * word ratio — all integer arithmetic, no float thresholds to drift
    * cross-engine) are evaluated as booleans in ONE scan; survivors of
    * every rule PREFIX are folded into the same hash-agg buffer as
    * conditional sums (the b54 FILTER-clause shape), then the per-source
    * wide row unpivots via `stack` into (stage, rule, n_pass, n_drop)
    * rows. Cost at 100 TB: one scan + one partial-agg'd shuffle keyed
    * by source, output O(#sources × #rules) — adding a rule costs zero
    * extra I/O. The unpivot runs AFTER aggregation (5 rows per source),
    * never on raw documents.
    */
  private def c60(s: SparkSession, d: String): DataFrame = {
    val base = withWords(documents(s, d))
      .select(col("source"), col("n_chars"),
        size(col("w")).cast("long").as("nw"),
        size(array_distinct(col("w"))).cast("long").as("ndw"))
      .withColumn("r1", col("n_chars") >= 100)
      .withColumn("r2", col("nw") >= 20)
      .withColumn("r3", col("n_chars") <= col("nw") * 12)
      .withColumn("r4", col("ndw") * 10 >= col("nw") * 3)
    val one = (c: Column) => sum(when(c, 1L).otherwise(0L))
    base.groupBy("source")
      .agg(count(lit(1)).as("s0"),
        one(col("r1")).as("s1"),
        one(col("r1") && col("r2")).as("s2"),
        one(col("r1") && col("r2") && col("r3")).as("s3"),
        one(col("r1") && col("r2") && col("r3") && col("r4")).as("s4"))
      .select(col("source"), expr(
        """stack(5,
          |  0L, 'all',            s0, 0L,
          |  1L, 'min_chars',      s1, s0 - s1,
          |  2L, 'min_words',      s2, s1 - s2,
          |  3L, 'avg_word_len',   s3, s2 - s3,
          |  4L, 'distinct_ratio', s4, s3 - s4)
          |  AS (stage, rule, n_pass, n_drop)""".stripMargin))
      .orderBy("source", "stage")
  }

  /** c61: domain-MIXTURE weights — temperature-scaled (α = 0.5)
    * multinomial sampling weights over sources, the standard
    * low-resource-upweighting scheme of multilingual pretraining
    * (p_s ∝ n_s^α): per-source token counts from one scan + one tiny
    * groupBy, then a 1-row global reduce (total tokens exact BIGINT;
    * Σ√n summed in DECIMAL(28,12) so the 20-term sum is
    * order-independent — the c52 discipline — before one final double
    * division). The global row is a bounded O(1) driver scalar (the c5
    * precedent); everything data-sized stays distributed. Output
    * contrasts the natural share (share_bp) with the tempered sampling
    * weight (weight_bp) — small sources up, large sources down.
    */
  private def c61(s: SparkSession, d: String): DataFrame = {
    val t = documents(s, d)
      .groupBy("source")
      .agg(sum(size(split(col("text"), " ")).cast("long"))
        .cast("long").as("n_tokens"))
    val g = t.agg(sum("n_tokens").cast("long"),
      sum(sqrt(col("n_tokens").cast("double")).cast("decimal(28,12)")))
      .head()
    // Empty corpus ⇒ NULL sums; the projection below then runs over
    // zero rows, so any non-zero divisors keep the plan analyzable.
    val tot = if (g.isNullAt(0)) 1L else g.getLong(0)
    val totSq = if (g.isNullAt(1)) 1d else g.getDecimal(1).doubleValue()
    t.select(col("source"), col("n_tokens"),
      expr(s"10000L * n_tokens div ${tot}L").as("share_bp"),
      floor(lit(10000d) * sqrt(col("n_tokens").cast("double")) / lit(totSq))
        .cast("long").as("weight_bp"))
      .orderBy("source")
  }

  /** c62: INVERTED INDEX build — the IR primitive under c25/c45-style
    * decontamination and any "which docs contain term X" audit: per
    * term its document frequency and a CAPPED, sorted posting list.
    * The cap is enforced BEFORE materialization — `row_number() OVER
    * (PARTITION BY term ORDER BY doc_id) <= 8` triggers Spark's
    * WindowGroupLimit pushdown (the b15 top-k machinery), so a
    * stopword's millions of postings at 100 TB are pruned to 8 per
    * task-partition before the final per-term sort-merge — the
    * `collect_list`-then-`slice` alternative would buffer the full
    * posting list per term in one task. The df branch and the capped
    * posting branch both shuffle on term, and the final join reuses
    * that partitioning (no third exchange). Postings are emitted as a
    * comma-joined string, not an array — the declared-output
    * discipline (scalar columns only) that keeps the oracle hash
    * byte-stable. Real engines shard postings per segment; the
    * per-term cap is this demo's segment bound.
    */
  private def c62(s: SparkSession, d: String): DataFrame = {
    val tok = withWords(documents(s, d))
      .select(col("doc_id"), explode(col("w")).as("term"))
      .distinct()
    val dfreq = tok.groupBy("term").agg(count(lit(1)).as("df"))
    val capped = tok
      .withColumn("rn", row_number().over(
        Window.partitionBy("term").orderBy("doc_id")))
      .filter(col("rn") <= 8)
      .groupBy("term")
      .agg(concat_ws(",", sort_array(collect_list(col("doc_id"))))
        .as("postings"))
    dfreq.join(capped, "term").orderBy("term")
  }

  /** c63: quality-classifier APPLICATION — serving a trained
    * fasttext-style hashed-bag-of-words linear model over the corpus,
    * the step that follows c12's hand-written heuristics in a real
    * curation stack: tokens hash into a fixed feature space (64
    * buckets here), each bucket carries a learned weight, the doc
    * score is the weight sum and the keep decision a threshold. The
    * model IS data: a 64-row weight table broadcast to every executor
    * (at production scale a 2M-bucket table is still MBs — the
    * broadcast-model serving shape), the corpus side never shuffles
    * until the final doc-keyed partial-aggregated sum. Weights and
    * the feature hash are md5-derived (portable integer family), so
    * scores are exact BIGINTs and the full model application — hash,
    * lookup, sum, threshold — is oracle-checked bit-for-bit.
    */
  private def c63(s: SparkSession, d: String): DataFrame = {
    val weights = s.range(64).select(col("id").as("fh"),
      (pmod(portableHash(concat(lit("w:"), col("id").cast("string"))),
        lit(2001)) - 1000).as("wt"))
    withWords(documents(s, d))
      .select(col("doc_id"), explode(col("w")).as("word"))
      .withColumn("fh",
        pmod(portableHash(concat(lit("feat:"), col("word"))), lit(64)))
      .join(broadcast(weights), Seq("fh"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tok"), sum("wt").cast("long").as("score"))
      .withColumn("kept", col("score") > 0)
      .orderBy("doc_id")
  }

  /** c71: QUALITY-CLASSIFIER TRAINING — the train half of the
    * train/serve loop c63 only serves: a multinomial Naive Bayes
    * (log-odds) text classifier trained DISTRIBUTED over a
    * deterministic weak-label split, entirely in exact integer
    * arithmetic so the trained model itself is bit-reproducible in
    * the oracle. The pipeline is the real curation bootstrap shape
    * (fastText-style quality models are trained on exactly this kind
    * of weak supervision): (1) split by portable hash — ~1/5 of docs
    * held out for application, the rest train; (2) weak labels from
    * d20's heuristic gate (≥10 words and ≥2% stopwords = good) — the
    * teacher no model needs; (3) per-token class counts in ONE
    * token-keyed partial-agg'd shuffle; (4) per-token integer
    * log-odds weights via the bit-length floor-log2 idiom (c41):
    * w(t) = ⌊log₂((cg+1)·(Tb+V))⌋ − ⌊log₂((cb+1)·(Tg+V))⌋ — Laplace
    * smoothing and the class-size normalization folded into one
    * integer expression; (5) apply to the held-out docs: token-weight
    * broadcast join (the c63 serving shape — the model IS data),
    * unseen tokens get the smoothed zero-count weight, plus the doc
    * prior ⌊log₂(Ng+1)⌋ − ⌊log₂(Nb+1)⌋. Declared output = per
    * held-out doc (n_tok, score, pred_good). Scale shape: counts are
    * one vocabulary-bounded shuffle; the weight table is
    * vocabulary-sized (broadcast at any corpus scale — production
    * hashes it into a fixed feature space first, c63's layout); the
    * only driver-side values are five bounded class scalars (the c67
    * class). At 100 TB training cost ≈ one wordcount.
    */
  private def c71(s: SparkSession, d: String): DataFrame = {
    // floor-log2 via bit length, matching length(bin(x))-1 on both
    // engines for x >= 1 (and 0 for x = 0, where bin renders "0")
    def bitsL(x: Long): Long =
      if (x <= 0L) 0L else 63L - java.lang.Long.numberOfLeadingZeros(x)
    val labeled = withWords(documents(s, d))
      .select(col("doc_id"), col("w"),
        (pmod(portableHash(concat(lit("c71:"), col("doc_id").cast("string"))),
          lit(5)) === 0).as("is_apply"))
      .withColumn("n_words", size(col("w")).cast("long"))
      .withColumn("stop_cnt",
        size(expr("filter(w, x -> x IN ('the','a','of','and','to'))"))
          .cast("long"))
      .withColumn("good", col("n_words") >= 10 &&
        expr("stop_cnt * 10000 div n_words") >= 200)
    val tok = labeled
      .select(col("doc_id"), col("is_apply"), col("good"),
        explode(col("w")).as("t"))
    // (3) per-token class counts — vocabulary-sized after partial agg
    val counts = tok.filter(!col("is_apply")).groupBy("t").agg(
      sum(when(col("good"), 1L).otherwise(0L)).as("cg"),
      sum(when(col("good"), 0L).otherwise(1L)).as("cb"))
      .localCheckpoint(false) // feeds the scalar agg AND the weights
    // bounded class scalars (one 3-column head, the c67 discipline)
    val totRow = counts.agg(sum("cg"), sum("cb"), count(lit(1))).head()
    val tg = if (totRow.isNullAt(0)) 0L else totRow.getLong(0)
    val tb = if (totRow.isNullAt(1)) 0L else totRow.getLong(1)
    val v = totRow.getLong(2)
    val docRow = labeled.filter(!col("is_apply"))
      .agg(sum(when(col("good"), 1L).otherwise(0L)), count(lit(1))).head()
    val ng = if (docRow.isNullAt(0)) 0L else docRow.getLong(0)
    val nAll = docRow.getLong(1)
    val prior = bitsL(ng + 1L) - bitsL(nAll - ng + 1L)
    val unseenW = bitsL(tb + v) - bitsL(tg + v)
    // (4) the trained model: one integer weight per vocabulary token
    val weights = counts.select(col("t").as("wt_t"),
      ((length(bin(expr(s"(cg + 1) * ${tb + v}"))) - 1) -
        (length(bin(expr(s"(cb + 1) * ${tg + v}"))) - 1))
        .cast("long").as("wt"))
    // (5) serve it over the held-out split — c63's broadcast shape
    tok.filter(col("is_apply"))
      .join(broadcast(weights), col("t") === col("wt_t"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tok"),
        sum(coalesce(col("wt"), lit(unseenW))).as("tok_score"))
      .select(col("doc_id"), col("n_tok"),
        (col("tok_score") + prior).cast("long").as("score"))
      .withColumn("pred_good", col("score") > 0)
      .orderBy("doc_id")
  }

  /** c64: CROSS-SOURCE duplication matrix — which feeds copy from
    * which: docs sharing a head fingerprint (md5 of the first 200
    * chars — the syndicated-article/boilerplate-head signal; whole-text
    * equality is too strict once feeds append trailing boilerplate)
    * across two different sources contribute to that source pair's
    * cell. The shape is dedup-group introspection, not pairwise doc
    * comparison: distinct (fp, source) first — so a fingerprint's
    * contribution is bounded by #sources (20), never by its document
    * count — then a self-join keyed on fp whose per-key fan-out is
    * that bounded source list. At 100 TB the matrix is #sources² max,
    * and the only data-sized work is the initial fingerprint scan +
    * one distinct. Drives crawl-dedup priority and licensing audits.
    */
  private def c64(s: SparkSession, d: String): DataFrame = {
    val fp = documents(s, d)
      .select(md5(substring(col("text"), 1, 200)).as("fp"), col("source"))
      .distinct()
    fp.select(col("fp"), col("source").as("source_a"))
      .join(fp.select(col("fp"), col("source").as("source_b")), "fp")
      .filter(col("source_a") < col("source_b"))
      .groupBy("source_a", "source_b")
      .agg(count(lit(1)).as("n_shared"))
      .orderBy("source_a", "source_b")
  }

  /** c65: ANN RECALL evaluation — the metric that decides whether an
    * ANN index (c15/c19/c43) is allowed to replace brute force in a
    * pipeline: candidate recall@k per probe, |exact-top-k ∩ LSH-bucket
    * candidates| / k. Ground truth is c3's bounded brute-force top-k
    * over the same 32-probe set (the eval is SAMPLED by construction —
    * at 100 TB nobody brute-forces the full corpus; GT cost is
    * O(probes × corpus), one pass); the index side reuses c15's exact
    * sign-LSH kernel, so candidate sets are bit-reproducible. Probe
    * rows join buckets broadcast (32 rows), candidate fan-out is
    * bucket occupancy — the same bound that makes the index itself
    * scale. Output: per-probe candidate count, hits, recall in basis
    * points; the aggregate over probes is the index's grade.
    */
  private def c65(s: SparkSession, d: String): DataFrame = {
    val k = graft.util.GraftConf.similarityK(s)
    val probes = graft.util.GraftConf.similarityProbes(s)
    // The DuckDB oracle hardcodes k=5 / probes=32 (rank<=5, LIMIT 32,
    // *2000 = 10000/5); a non-default conf would silently diverge from
    // it, so fail loudly instead (GraftConf's "oracles assume the
    // defaults" convention, enforced rather than assumed here).
    require(k == 5 && probes == 32,
      s"c65's oracle assumes graft.similarity.k=5 and .probes=32; got k=$k probes=$probes")
    val gt = c3(s, d).select(col("probe_id"), col("neighbor_id"))
    // materialized once: the probe branch and the candidate join side
    // would otherwise each re-run the hyperplane kernel over the full
    // embeddings scan (the minhashIndex/c45 discipline)
    val bk = lshBucketsDf(s, d).localCheckpoint(false)
    val probeBk = bk
      .filter(pmod(col("vec_id"), lit(50)) === 0)
      .orderBy("vec_id").limit(probes)
      .select(col("vec_id").as("probe_id"), col("bucket"))
    val cand = broadcast(probeBk).join(bk, "bucket")
      .filter(col("vec_id") =!= col("probe_id"))
      .select(col("probe_id"), col("vec_id").as("cand_id"))
    val nCand = cand.groupBy("probe_id").agg(count(lit(1)).as("n_cand"))
    val nHit = gt.join(cand,
        gt("probe_id") === cand("probe_id") &&
          gt("neighbor_id") === cand("cand_id"))
      .groupBy(gt("probe_id")).agg(count(lit(1)).as("n_hit"))
    probeBk.select("probe_id")
      .join(nCand, Seq("probe_id"), "left")
      .join(nHit, Seq("probe_id"), "left")
      .select(col("probe_id"),
        coalesce(col("n_cand"), lit(0L)).as("n_cand"),
        coalesce(col("n_hit"), lit(0L)).as("n_hit"),
        ((coalesce(col("n_hit"), lit(0L)) * 10000) / k).cast("long")
          .as("recall_bp"))
      .orderBy("probe_id")
  }

  /** c66: SHARD MANIFEST — the audit artifact a training data-loader
    * verifies before reading a shard (and the lineage record a 100 TB
    * pipeline publishes with every materialization): docs route to 8
    * shards by portable hash (c29's family), and each shard's row is
    * (count, bytes, id range, content fingerprint). The fingerprint is
    * a bit_xor FOLD of per-doc content hashes — XOR is commutative/
    * associative, so the manifest is independent of row order, task
    * count, and write parallelism: any two materializations of the
    * same logical shard agree bit-for-bit, and one flipped/missing/
    * duplicated doc flips the fingerprint. One scan, one 8-group
    * partial-aggregated shuffle; at 100 TB the manifest costs what a
    * count(*) costs.
    */
  private def c66(s: SparkSession, d: String): DataFrame =
    documents(s, d)
      .select(
        pmod(portableHash(concat(lit("shard:"), col("doc_id").cast("string"))),
          lit(8)).as("shard"),
        col("doc_id"), col("n_chars"),
        portableHash(concat(lit("doc:"), md5(col("text")))).as("ch"))
      .groupBy("shard")
      .agg(count(lit(1)).as("n_docs"),
        sum("n_chars").cast("long").as("bytes"),
        min("doc_id").as("min_doc"), max("doc_id").as("max_doc"),
        expr("bit_xor(ch)").as("content_fp"))
      .orderBy("shard")

  /** c67: BM25 RETRIEVAL — ranked lexical search over the corpus, the
    * workhorse behind decontamination probes, eval-set leakage hunts
    * and targeted curation ("pull the docs most about X"), and the
    * retrieval layer c62's inverted index exists to serve. Okapi BM25
    * (k1=1.2, b=0.75) re-derived in EXACT INTEGER arithmetic so the
    * DuckDB oracle reproduces every score bit: idf as the bit-length
    * floor-log2 of N/df (c41's surprisal idiom), the length
    * normalization as basis points against avgdl scaled ×10 000, and
    * the tf saturation as one integer division per (doc, term) —
    * constants folded so k1/b never appear as floats
    * (num = 22000·tf·10000, den = 10000·tf + 3000 + ⌊9000·10000·dl ÷
    * avgdl₁₀ₖ⌋). The query is self-derived for corpus-portability:
    * the tokens df-ranked 11-13 (just below the stopword head — the
    * discriminative band). Scale shape: df/tf are partially-aggregated
    * one-pass counts; the 3-term query set broadcasts; the ranking is
    * TakeOrdered top-10, never a global sort; the only driver-side
    * values are two corpus scalars (N docs, total tokens — one
    * 2-column head(), k-bounded by construction). Magnitudes stay
    * inside LONG because avgdl enters only through the pre-divided
    * ×10 000 ratio — no tf·S or dl·N cross products (the b60 ANSI
    * discipline applied at design time rather than patched after).
    */
  private def c67(s: SparkSession, d: String): DataFrame =
    bm25Scored(s, d)
      .orderBy(col("score_bp").desc, col("doc_id")).limit(10)

  /** The shared BM25 scorer (doc_id, n_hit, score_bp) — c67 declares
    * its top-10; c70 rank-fuses its top-20 with the dense arm. ONE
    * definition so the two retrieval surfaces can never drift.
    */
  private def bm25Scored(s: SparkSession, d: String): DataFrame = {
    val tok = documents(s, d)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
    // doc length = size of the split array: a pure map-side projection.
    // (Was tok.groupBy(doc_id).count() — a full token-stream Exchange
    // for a number the row itself already knows; guide §2.4. Same
    // values: explode emits exactly size(w) rows per doc.)
    val dl = documents(s, d)
      .select(col("doc_id"), size(split(col("text"), " ")).cast("long").as("dl"))
    // two corpus scalars (bounded: one row, two longs; sum is NULL on
    // an empty corpus — guard keeps the query total-function), computed
    // off the dl projection so the text is split once, not twice
    val totRow = dl.agg(count(lit(1)), sum(col("dl"))).head()
    val nDocs = totRow.getLong(0)
    val totTok = if (totRow.isNullAt(1)) 0L else totRow.getLong(1)
    val avgdl10k = math.max(1L, 10000L * totTok / math.max(1L, nDocs))
    // document frequency: dedup WITHIN each doc map-side via
    // array_distinct, THEN explode — one partial-agg'd Exchange of the
    // already-deduped tokens instead of tok.distinct()'s full
    // token-stream Exchange followed by a second per-word Exchange
    // (guide §2.3: shuffle fewer bytes; r13 plan diff: 2 Exchanges → 1)
    val dfT = documents(s, d)
      .select(col("doc_id"),
        explode(array_distinct(split(col("text"), " "))).as("w"))
      .groupBy("w").agg(count(lit(1)).as("df"))
    // query = the df-ranked 11-13 tokens; 13 rows survive the limit, so
    // the rank window runs on a k-bounded SINGLE partition (c41's
    // Window.partitionBy() idiom — bounded by the limit, never a
    // global-order funnel over an unbounded frame)
    val qterms = dfT.orderBy(col("df").desc, col("w")).limit(13)
      .withColumn("rk", row_number().over(
        Window.partitionBy().orderBy(col("df").desc, col("w"))))
      .filter(col("rk") >= 11)
      .select(col("w"), col("df"))
    val tf = tok.join(broadcast(qterms), Seq("w"))
      .groupBy("doc_id", "w", "df").agg(count(lit(1)).as("tf"))
    tf.join(dl, Seq("doc_id"))
      .withColumn("idf_bits",
        (length(bin(expr(s"$nDocs div df"))) - 1).cast("long"))
      .withColumn("sbp", expr(
        s"(idf_bits * 220000000 * tf) div " +
          s"(10000 * tf + 3000 + (90000000 * dl) div $avgdl10k)"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_hit"), sum("sbp").as("score_bp"))
  }

  /** c70: HYBRID RETRIEVAL via RECIPROCAL-RANK FUSION — the standard
    * two-arm search shape production retrieval (and RAG-style
    * training-data mining) runs: a LEXICAL arm (c67's integer-exact
    * BM25) and a DENSE arm (cosine against a probe embedding, c3's
    * kernel) each rank the corpus independently, and RRF fuses the
    * rankings without comparing incommensurable scores:
    * score(d) = Σ_arms 1/(60 + rank_arm(d)) (Cormack et al. 2009,
    * k = 60), computed here as ⌊10⁹/(60+rank)⌋ integer terms so the
    * oracle reproduces every fused score exactly. Rank, not score,
    * is what crosses arms — which is why the float cosine and the
    * integer BM25 compose at all. Probe = the smallest-id embedding;
    * each arm contributes its top-20; declared output = fused top-10
    * with both per-arm ranks (NULL where an arm missed the doc —
    * the full-outer shape of real hybrid search).
    *
    * Scale shape: the lexical arm is c67's (partial-agg'd counts,
    * broadcast 3-term query, TakeOrdered); the dense arm is c3's
    * (broadcast probe, per-partition bounded heaps, window re-rank
    * over partitions×20 partials); the fusion is a full outer join of
    * two ≤20-row sides — driver-free, and the rank windows run on
    * limit-bounded single partitions (the c41 idiom).
    */
  private def c70(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val n = 20
    val wLex = Window.partitionBy()
      .orderBy(col("score_bp").desc, col("doc_id"))
    val lex = bm25Scored(s, d)
      .orderBy(col("score_bp").desc, col("doc_id")).limit(n)
      .withColumn("lex_rank", row_number().over(wLex).cast("long"))
      .select(col("doc_id"), col("lex_rank"))
    // dense arm: ≤1-row probe collect (bounded by construction; the
    // empty corpus yields an empty arm and the fusion stays total)
    val probe = vecs(s, d).orderBy(col("vec_id")).limit(1).collect()
    val dense = probe.headOption match {
      case None =>
        s.emptyDataset[(Long, Long)].toDF("doc_id", "dense_rank")
      case Some((pid, _)) =>
        val bc = s.sparkContext.broadcast(probe)
        val wDense = Window.partitionBy("probe_id")
          .orderBy(col("sim").desc, col("doc_id"))
        vecs(s, d)
          .mapPartitions(it =>
            boundedTopK(it, bc.value, n, keepVec = false)
              .map { case (p, c, sim, _) => (p, c, sim) })
          .toDF("probe_id", "doc_id", "sim")
          .withColumn("rn", row_number().over(wDense))
          .filter(col("rn") <= n)
          .select(col("doc_id"), col("rn").cast("long").as("dense_rank"))
    }
    lex.join(dense, Seq("doc_id"), "full_outer")
      .withColumn("rrf",
        coalesce(expr("1000000000 div (60 + lex_rank)"), lit(0L)) +
          coalesce(expr("1000000000 div (60 + dense_rank)"), lit(0L)))
      .orderBy(col("rrf").desc, col("doc_id")).limit(10)
      .select("doc_id", "lex_rank", "dense_rank", "rrf")
  }

  /** c68: UNICODE-NORMALIZATION-INSENSITIVE DEDUP — the canonical-
    * equivalence gap every byte-level dedup pass (c1, c2, c46's URL
    * canon) silently has on real multilingual crawl data: precomposed
    * `é` (U+00E9) and decomposed `e`+U+0301 are the SAME text to a
    * reader and DIFFERENT bytes to md5, so near-identical documents
    * split across canonicalization forms survive exact dedup. The
    * kernel applies Unicode NFC (java.text.Normalizer — the same
    * standard normalization DuckDB's `nfc_normalize` implements)
    * before fingerprinting, inside a typed mapPartitions kernel
    * (c16's shape: no built-in Spark function exposes NFC, and a
    * catalyst-side kernel beats a per-row UDF closure). The demo
    * synthesizes both forms per document (the corpus itself is ASCII —
    * the round-9 multi-byte fuzz made that assumption explicit) and
    * the declared output proves raw fingerprints split (n_raw = 2)
    * while normalized ones agree (n_norm = 1). Scale shape: pure
    * map-side kernel + ONE doc-keyed partial-agg'd exchange; at 100 TB
    * this is the same pass c20 (normalize) already budgets, NFC
    * folded into it for free.
    */
  private def c68(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    documents(s, d)
      .select(col("doc_id"), explode(array(
        // precomposed U+00E9 vs decomposed e + U+0301 — same text,
        // different bytes (written as escapes so no tool touching this
        // source file can re-normalize and silently collapse the forms)
        concat(lit("caf\u00e9 "), col("text")),
        concat(lit("cafe\u0301 "), col("text")))).as("raw"))
      .as[(Long, String)]
      .mapPartitions(_.map { case (id, raw) =>
        (id, raw,
          java.text.Normalizer.normalize(raw, java.text.Normalizer.Form.NFC))
      })
      .toDF("doc_id", "raw", "norm")
      .groupBy("doc_id")
      .agg(countDistinct(md5(col("raw"))).as("n_raw"),
        countDistinct(md5(col("norm"))).as("n_norm"),
        min(md5(col("norm"))).as("norm_fp"))
      .orderBy("doc_id")
  }

  val defs: Seq[QueryDef] = Seq(
    // NFC vs NFD spelled as chr() codepoints (233 = U+00E9 'é'; 769 =
    // U+0301 combining acute), never as raw literals: two visually
    // identical 'café ' strings differing only in normalization form
    // are one editor/formatter Unicode-normalization away from silently
    // collapsing the contrast this oracle depends on. (The Scala kernel
    // side uses \u escapes for the same reason.)
    QueryDef("c68_dedup_nfc", c68 _, Some(
      "WITH v AS (SELECT doc_id, 'caf' || chr(233) || ' ' || text AS raw FROM documents UNION ALL SELECT doc_id, 'cafe' || chr(769) || ' ' || text FROM documents) SELECT doc_id, count(DISTINCT md5(raw))::BIGINT AS n_raw, count(DISTINCT md5(nfc_normalize(raw)))::BIGINT AS n_norm, min(md5(nfc_normalize(raw))) AS norm_fp FROM v GROUP BY 1 ORDER BY 1")),
    // the oracle replays BOTH arms (c67's integer BM25 CTEs, the
    // dense cosine ranking with c3's double contract) and fuses by
    // integer RRF terms — every fused score matches exactly
    QueryDef("c70_hybrid_rrf", c70 _, Some(
      "WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents), dl AS (SELECT doc_id, count(*)::BIGINT AS dl FROM tok GROUP BY 1), tot AS (SELECT (SELECT count(*) FROM documents)::BIGINT AS n, count(*)::BIGINT AS s FROM tok), a AS (SELECT greatest(1, (10000 * s) // greatest(1, n)) AS a10k, n FROM tot), dfx AS (SELECT w, count(DISTINCT doc_id)::BIGINT AS df FROM tok GROUP BY 1), terms AS (SELECT w, df FROM (SELECT w, df, row_number() OVER (ORDER BY df DESC, w) AS rk FROM dfx) WHERE rk BETWEEN 11 AND 13), tf AS (SELECT t.doc_id, t.w, count(*)::BIGINT AS tf FROM tok t JOIN terms q ON t.w = q.w GROUP BY 1, 2), sc AS (SELECT tf.doc_id, ((length(bin((a.n // q.df))) - 1) * 220000000 * tf.tf) // (10000 * tf.tf + 3000 + (90000000 * d.dl) // a.a10k) AS sbp FROM tf JOIN terms q ON tf.w = q.w JOIN dl d ON tf.doc_id = d.doc_id, a), lexall AS (SELECT doc_id, sum(sbp)::BIGINT AS score_bp FROM sc GROUP BY 1), lex AS (SELECT doc_id, row_number() OVER (ORDER BY score_bp DESC, doc_id)::BIGINT AS lex_rank FROM (SELECT doc_id, score_bp FROM lexall ORDER BY score_bp DESC, doc_id LIMIT 20)), probe AS (SELECT vec_id, embedding FROM embeddings ORDER BY vec_id LIMIT 1), densetop AS (SELECT e.vec_id AS doc_id, list_cosine_similarity(e.embedding::DOUBLE[], (SELECT embedding::DOUBLE[] FROM probe)) AS sim FROM embeddings e WHERE e.vec_id <> (SELECT vec_id FROM probe) ORDER BY sim DESC, e.vec_id LIMIT 20), dense AS (SELECT doc_id, row_number() OVER (ORDER BY sim DESC, doc_id)::BIGINT AS dense_rank FROM densetop), f AS (SELECT coalesce(l.doc_id, dn.doc_id) AS doc_id, l.lex_rank, dn.dense_rank, (coalesce(1000000000 // (60 + l.lex_rank), 0) + coalesce(1000000000 // (60 + dn.dense_rank), 0))::BIGINT AS rrf FROM lex l FULL JOIN dense dn ON l.doc_id = dn.doc_id) SELECT doc_id, lex_rank, dense_rank, rrf FROM f ORDER BY rrf DESC, doc_id LIMIT 10")),
    QueryDef("c67_bm25", c67 _, Some(
      "WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents), dl AS (SELECT doc_id, count(*)::BIGINT AS dl FROM tok GROUP BY 1), tot AS (SELECT (SELECT count(*) FROM documents)::BIGINT AS n, count(*)::BIGINT AS s FROM tok), a AS (SELECT greatest(1, (10000 * s) // greatest(1, n)) AS a10k, n FROM tot), dfx AS (SELECT w, count(DISTINCT doc_id)::BIGINT AS df FROM tok GROUP BY 1), terms AS (SELECT w, df FROM (SELECT w, df, row_number() OVER (ORDER BY df DESC, w) AS rk FROM dfx) WHERE rk BETWEEN 11 AND 13), tf AS (SELECT t.doc_id, t.w, count(*)::BIGINT AS tf FROM tok t JOIN terms q ON t.w = q.w GROUP BY 1, 2), sc AS (SELECT tf.doc_id, ((length(bin((a.n // q.df))) - 1) * 220000000 * tf.tf) // (10000 * tf.tf + 3000 + (90000000 * d.dl) // a.a10k) AS sbp FROM tf JOIN terms q ON tf.w = q.w JOIN dl d ON tf.doc_id = d.doc_id, a) SELECT doc_id, count(*)::BIGINT AS n_hit, sum(sbp)::BIGINT AS score_bp FROM sc GROUP BY 1 ORDER BY score_bp DESC, doc_id LIMIT 10")),
    QueryDef("c66_shard_manifest", c66 _, Some(
      s"WITH b AS (SELECT (${duckHash("'shard:' || doc_id::VARCHAR")} % 8) AS shard, doc_id, n_chars, ${duckHash("'doc:' || md5(text)")} AS ch FROM documents) SELECT shard, count(*)::BIGINT AS n_docs, sum(n_chars)::BIGINT AS bytes, min(doc_id) AS min_doc, max(doc_id) AS max_doc, bit_xor(ch) AS content_fp FROM b GROUP BY 1 ORDER BY 1")),
    QueryDef("c65_ann_recall_eval", c65 _, Some(
      s"WITH $lshBucketCtes, probes AS (SELECT vec_id AS probe_id, embedding::DOUBLE[] AS pe FROM embeddings WHERE vec_id % 50 = 0 ORDER BY vec_id LIMIT 32), sims AS (SELECT probe_id, vec_id, list_cosine_similarity(pe, ce) AS sim FROM probes, (SELECT vec_id, embedding::DOUBLE[] AS ce FROM embeddings) WHERE vec_id != probe_id), gt AS (SELECT probe_id, vec_id FROM (SELECT probe_id, vec_id, row_number() OVER (PARTITION BY probe_id ORDER BY sim DESC, vec_id) AS rank FROM sims) WHERE rank <= 5), pb AS (SELECT p.probe_id, b.bucket FROM probes p JOIN buckets b ON b.vec_id = p.probe_id), cd AS (SELECT pb.probe_id, b.vec_id AS cand_id FROM pb JOIN buckets b ON b.bucket = pb.bucket AND b.vec_id <> pb.probe_id), nc AS (SELECT probe_id, count(*)::BIGINT AS n_cand FROM cd GROUP BY 1), nh AS (SELECT gt.probe_id, count(*)::BIGINT AS n_hit FROM gt JOIN cd ON cd.probe_id = gt.probe_id AND cd.cand_id = gt.vec_id GROUP BY 1) SELECT p.probe_id, coalesce(nc.n_cand, 0)::BIGINT AS n_cand, coalesce(nh.n_hit, 0)::BIGINT AS n_hit, (coalesce(nh.n_hit, 0) * 2000)::BIGINT AS recall_bp FROM probes p LEFT JOIN nc USING (probe_id) LEFT JOIN nh USING (probe_id) ORDER BY probe_id")),
    QueryDef("c63_quality_classifier", c63 _, Some(
      s"WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents), f AS (SELECT doc_id, (${duckHash("'feat:' || word")} % 64) AS fh FROM tok) SELECT doc_id, count(*)::BIGINT AS n_tok, sum(${duckHash("'w:' || fh::VARCHAR")} % 2001 - 1000)::BIGINT AS score, (sum(${duckHash("'w:' || fh::VARCHAR")} % 2001 - 1000) > 0) AS kept FROM f GROUP BY doc_id ORDER BY doc_id")),
    // c71's oracle retrains the whole model: same split, same weak
    // labels, same integer log-odds — the trained weights are part of
    // what the hash compare pins.
    QueryDef("c71_classifier_train", c71 _, Some(
      s"WITH w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents), lab AS (SELECT doc_id, w, (${duckHash("'c71:' || doc_id::VARCHAR")} % 5 = 0) AS is_apply, len(w)::BIGINT AS n_words, len(list_filter(w, x -> x IN ('the','a','of','and','to')))::BIGINT AS stop_cnt FROM w), lab2 AS (SELECT doc_id, w, is_apply, (n_words >= 10 AND stop_cnt * 10000 // n_words >= 200) AS good FROM lab), tok AS (SELECT doc_id, is_apply, good, unnest(w) AS t FROM lab2), counts AS (SELECT t, sum(CASE WHEN good THEN 1 ELSE 0 END)::BIGINT AS cg, sum(CASE WHEN good THEN 0 ELSE 1 END)::BIGINT AS cb FROM tok WHERE NOT is_apply GROUP BY t), tot AS (SELECT coalesce(sum(cg), 0)::BIGINT AS tg, coalesce(sum(cb), 0)::BIGINT AS tb, count(*)::BIGINT AS v FROM counts), dc AS (SELECT coalesce(sum(CASE WHEN good THEN 1 ELSE 0 END), 0)::BIGINT AS ng, count(*)::BIGINT AS n FROM lab2 WHERE NOT is_apply), wt AS (SELECT t, ((length(bin((cg + 1) * (tb + v))) - 1) - (length(bin((cb + 1) * (tg + v))) - 1))::BIGINT AS wt FROM counts, tot), prior AS (SELECT ((length(bin(ng + 1)) - 1) - (length(bin(n - ng + 1)) - 1))::BIGINT AS p FROM dc), unseen AS (SELECT ((length(bin(tb + v)) - 1) - (length(bin(tg + v)) - 1))::BIGINT AS uw FROM tot) SELECT tok.doc_id, count(*)::BIGINT AS n_tok, (sum(coalesce(wt.wt, (SELECT uw FROM unseen))) + (SELECT p FROM prior))::BIGINT AS score, ((sum(coalesce(wt.wt, (SELECT uw FROM unseen))) + (SELECT p FROM prior)) > 0) AS pred_good FROM tok LEFT JOIN wt ON tok.t = wt.t WHERE tok.is_apply GROUP BY tok.doc_id ORDER BY tok.doc_id")),
    QueryDef("c64_cross_source_dup", c64 _, Some(
      "WITH fp AS (SELECT DISTINCT md5(substr(text, 1, 200)) AS fp, source FROM documents) SELECT a.source AS source_a, b.source AS source_b, count(*)::BIGINT AS n_shared FROM fp a JOIN fp b ON a.fp = b.fp AND a.source < b.source GROUP BY 1, 2 ORDER BY 1, 2")),
    QueryDef("c62_inverted_index", c62 _, Some(
      "WITH tok AS (SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS term FROM documents), agg AS (SELECT term, count(*)::BIGINT AS df FROM tok GROUP BY 1), post AS (SELECT term, array_to_string(list_sort(list(doc_id)), ',') AS postings FROM (SELECT term, doc_id, row_number() OVER (PARTITION BY term ORDER BY doc_id) AS rn FROM tok) WHERE rn <= 8 GROUP BY term) SELECT term, df, postings FROM agg JOIN post USING (term) ORDER BY term")),
    QueryDef("c60_filter_attrition", c60 _, Some(
      "WITH b AS (SELECT source, n_chars, string_split(text, ' ') AS w FROM documents), f AS (SELECT source, (n_chars >= 100) AS r1, (len(w) >= 20) AS r2, (n_chars <= len(w) * 12) AS r3, (len(list_distinct(w)) * 10 >= len(w) * 3) AS r4 FROM b), a AS (SELECT source, count(*)::BIGINT AS s0, sum(CASE WHEN r1 THEN 1 ELSE 0 END)::BIGINT AS s1, sum(CASE WHEN r1 AND r2 THEN 1 ELSE 0 END)::BIGINT AS s2, sum(CASE WHEN r1 AND r2 AND r3 THEN 1 ELSE 0 END)::BIGINT AS s3, sum(CASE WHEN r1 AND r2 AND r3 AND r4 THEN 1 ELSE 0 END)::BIGINT AS s4 FROM f GROUP BY 1) SELECT source, t.stage, t.rule, t.n_pass, t.n_drop FROM a, LATERAL (VALUES (0::BIGINT, 'all', s0, 0::BIGINT), (1, 'min_chars', s1, s0 - s1), (2, 'min_words', s2, s1 - s2), (3, 'avg_word_len', s3, s2 - s3), (4, 'distinct_ratio', s4, s3 - s4)) t(stage, rule, n_pass, n_drop) ORDER BY source, stage")),
    QueryDef("c61_domain_mixture", c61 _, Some(
      "WITH t AS (SELECT source, sum(len(string_split(text, ' ')))::BIGINT AS n_tokens FROM documents GROUP BY 1), g AS (SELECT sum(n_tokens)::BIGINT AS tot, sum(sqrt(n_tokens::DOUBLE)::DECIMAL(28,12)) AS tot_sq FROM t) SELECT source, n_tokens, (10000 * n_tokens // tot)::BIGINT AS share_bp, floor(10000 * sqrt(n_tokens::DOUBLE) / tot_sq::DOUBLE)::BIGINT AS weight_bp FROM t, g ORDER BY source")),
    QueryDef("c57_compaction_plan", c57 _, Some(
      "WITH m AS (SELECT source, doc_id, n_chars, coalesce(sum(n_chars) OVER (PARTITION BY source ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cb FROM documents) SELECT source, (cb // 8192)::BIGINT AS grp, count(*)::BIGINT AS n_files, sum(n_chars)::BIGINT AS bytes, min(doc_id) AS first_doc, max(doc_id) AS last_doc FROM m GROUP BY 1, 2 ORDER BY 1, 2")),
    // c78's oracle recomputes the full scrub INCLUDING every rebuilt
    // string: duplicated 5-grams (≥2 distinct docs), min-doc canonical
    // holders, covered positions from non-canonical occurrences, and
    // the md5 of each doc's surviving tokens in order.
    QueryDef("c78_span_scrub", c78 _, Some(
      s"WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents), pos AS (SELECT doc_id, i - 1 AS p, ${duckHash("array_to_string(list_slice(ws, i, i + 4), ' ')")} AS g FROM w, LATERAL (SELECT unnest(generate_series(1, len(ws) - 4)) AS i) t WHERE len(ws) >= 5), dup AS (SELECT g, min(doc_id) AS canon FROM (SELECT DISTINCT g, doc_id FROM pos) GROUP BY g HAVING count(*) >= 2), cov AS (SELECT DISTINCT pos.doc_id, p + k AS t FROM pos JOIN dup USING (g), LATERAL (SELECT unnest(generate_series(0, 4)) AS k) kk WHERE pos.doc_id <> dup.canon), tok AS (SELECT doc_id, i - 1 AS t, ws[i] AS tok FROM w, LATERAL (SELECT unnest(generate_series(1, len(ws))) AS i) tt), kept AS (SELECT tok.doc_id, count(*)::BIGINT AS n_kept, md5(string_agg(tok.tok, ' ' ORDER BY tok.t)) AS fp FROM tok LEFT JOIN cov ON tok.doc_id = cov.doc_id AND tok.t = cov.t WHERE cov.t IS NULL GROUP BY 1), base AS (SELECT doc_id, len(ws)::BIGINT AS n_tok FROM w) SELECT b.doc_id, b.n_tok, (b.n_tok - coalesce(k.n_kept, 0))::BIGINT AS n_removed, coalesce(k.fp, md5('')) AS kept_fp FROM base b LEFT JOIN kept k USING (doc_id) ORDER BY doc_id")),
    QueryDef("c58_dup_spans", c58 _, Some(
      s"WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents), pos AS (SELECT doc_id, i - 1 AS p, ${duckHash("array_to_string(list_slice(ws, i, i + 4), ' ')")} AS gh FROM w, LATERAL (SELECT unnest(generate_series(1, len(ws) - 4)) AS i) t WHERE len(ws) >= 5), dup AS (SELECT gh FROM (SELECT gh, count(DISTINCT doc_id) AS nd FROM pos GROUP BY gh) WHERE nd >= 2), dp AS (SELECT pos.doc_id, pos.p FROM pos JOIN dup USING (gh)), lg AS (SELECT doc_id, p, lag(p) OVER (PARTITION BY doc_id ORDER BY p) AS prev FROM dp), isl AS (SELECT doc_id, p, sum(CASE WHEN prev IS NULL OR p - prev > 5 THEN 1 ELSE 0 END) OVER (PARTITION BY doc_id ORDER BY p ROWS UNBOUNDED PRECEDING) AS g FROM lg) SELECT doc_id, min(p)::BIGINT AS span_start, (max(p) + 4)::BIGINT AS span_end, (max(p) - min(p) + 5)::BIGINT AS span_words FROM isl GROUP BY doc_id, g ORDER BY doc_id, span_start")),
    QueryDef("c59_compaction_exec", c59 _, Some(
      "WITH m AS (SELECT source, doc_id, n_chars, coalesce(sum(n_chars) OVER (PARTITION BY source ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cb FROM documents) SELECT source, (cb // 65536)::BIGINT AS grp, count(*)::BIGINT AS n_rows, sum(n_chars)::BIGINT AS bytes, min(doc_id) AS first_doc, max(doc_id) AS last_doc, 1::BIGINT AS files_out FROM m GROUP BY 1, 2 ORDER BY 1, 2")),
    QueryDef("c56_frame_sample", c56 _, Some(
      "WITH d AS (SELECT doc_id, text, length(text) AS n FROM documents), f AS (SELECT doc_id, k, k * greatest(1, n // 4) AS off, n, text FROM d, generate_series(0, 3) t(k) WHERE k * greatest(1, n // 4) < n) SELECT doc_id, k::BIGINT AS frame_idx, off::BIGINT AS frame_off, least(8, n - off)::BIGINT AS frame_len, ascii(substr(text, (off + 1)::INT, 1)) AS feat0, list_sum(list_transform(generate_series(1, least(8, n - off)::INT), i -> ascii(substr(text, (off + i)::INT, 1))))::BIGINT AS feat_sum FROM f ORDER BY doc_id, frame_idx")),
    QueryDef("c54_knn_graph", c54 _, Some(
      s"WITH $lshBucketCtes, nbp AS (SELECT a.vec_id AS v, b.vec_id AS u FROM buckets a JOIN buckets b ON a.bucket = b.bucket AND b.vec_id <> a.vec_id), sims AS (SELECT nbp.v, nbp.u, list_cosine_similarity(ea.embedding::DOUBLE[], eb.embedding::DOUBLE[]) AS sim FROM nbp JOIN embeddings ea ON ea.vec_id = nbp.v JOIN embeddings eb ON eb.vec_id = nbp.u), ranked AS (SELECT v, u, sim, row_number() OVER (PARTITION BY v ORDER BY sim DESC, u) AS rank FROM sims) SELECT v AS vec_id, rank::BIGINT AS rank, u AS nb_id, round(sim, 4) AS sim FROM ranked WHERE rank <= 3 ORDER BY vec_id, rank")),
    QueryDef("c55_perplexity_bucket", c55 _, Some(
      "WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents), wc AS (SELECT w, count(*) AS cnt FROM tok GROUP BY w), tot AS (SELECT count(*) AS n FROM tok), sur AS (SELECT w, (length(bin((n // cnt)::BIGINT)) - 1)::BIGINT AS bits FROM wc, tot), pd AS (SELECT t.doc_id, (sum(s.bits) * 10000 // count(*))::BIGINT AS avg_sur_bp FROM tok t JOIN sur s ON t.w = s.w GROUP BY t.doc_id) SELECT d.doc_id, d.lang, pd.avg_sur_bp, ntile(3) OVER (PARTITION BY d.lang ORDER BY pd.avg_sur_bp, d.doc_id)::BIGINT AS tertile FROM pd JOIN documents d USING (doc_id) ORDER BY doc_id")),
    QueryDef("c52_zipf_stats", c52 _, Some(
      "WITH tok AS (SELECT source, unnest(string_split(text, ' ')) AS w FROM documents), wc AS (SELECT source, w, count(*) AS cnt FROM tok GROUP BY 1, 2), tot AS (SELECT source, count(*)::BIGINT AS n_distinct, sum(cnt)::BIGINT AS n_total, max(cnt) AS max_cnt FROM wc GROUP BY 1), rkd AS (SELECT source, w, cnt, row_number() OVER (PARTITION BY source ORDER BY cnt DESC, w) AS rk FROM wc QUALIFY rk <= 100), sl AS (SELECT source, count(*)::DOUBLE AS n, sum(ln(rk::DOUBLE)::DECIMAL(28,12))::DOUBLE AS sx, sum(ln(cnt::DOUBLE)::DECIMAL(28,12))::DOUBLE AS sy, sum((ln(rk::DOUBLE) * ln(cnt::DOUBLE))::DECIMAL(28,12))::DOUBLE AS sxy, sum((ln(rk::DOUBLE) * ln(rk::DOUBLE))::DECIMAL(28,12))::DOUBLE AS sxx FROM rkd GROUP BY 1) SELECT t.source, t.n_distinct, t.n_total, (t.max_cnt * 10000 // t.n_total)::BIGINT AS top1_bp, CASE WHEN sl.n * sl.sxx - sl.sx * sl.sx <> 0 THEN round((sl.n * sl.sxy - sl.sx * sl.sy) / (sl.n * sl.sxx - sl.sx * sl.sx), 4) END AS zipf_slope FROM tot t JOIN sl USING (source) ORDER BY source")),
    QueryDef("c53_lm_bigram", c53 _, Some(
      "WITH wl AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents), bg AS (SELECT doc_id, w[i] AS w1, w[i + 1] AS w2 FROM wl, LATERAL (SELECT unnest(range(1, len(w))) AS i) t), pc AS (SELECT w1, w2, count(*) AS pcnt FROM bg GROUP BY 1, 2), ctx AS (SELECT w1, sum(pcnt) AS ccnt FROM pc GROUP BY 1), lm AS (SELECT pc.w1, pc.w2, (length(bin((ctx.ccnt // pc.pcnt)::BIGINT)) - 1)::BIGINT AS bits FROM pc JOIN ctx USING (w1)), j AS (SELECT b.doc_id, l.bits FROM bg b JOIN lm l ON b.w1 = l.w1 AND b.w2 = l.w2) SELECT doc_id, count(*)::BIGINT AS n_bigrams, sum(bits)::BIGINT AS bits_sum, (sum(bits) * 10000 // count(*))::BIGINT AS avg_bits_bp FROM j GROUP BY 1 ORDER BY 1")),
    QueryDef("c38_dedup_containment", c38 _, Some(
      s"WITH $minhashCtes, pairs AS (SELECT DISTINCT a.doc_id AS u, b.doc_id AS v FROM sig a JOIN sig b ON a.band = b.band AND a.minhash = b.minhash AND a.doc_id < b.doc_id), sizes AS (SELECT doc_id, count(*)::BIGINT AS nsh FROM sh GROUP BY 1), inter AS (SELECT p.u, p.v, count(*)::BIGINT AS inter FROM pairs p JOIN sh a ON a.doc_id = p.u JOIN sh b ON b.doc_id = p.v AND b.sh = a.sh GROUP BY 1, 2) SELECT p.u AS doc_a, p.v AS doc_b, ((10000 * coalesce(i.inter, 0)) // least(sa.nsh, sb.nsh))::BIGINT AS containment_bp, ((10000 * coalesce(i.inter, 0)) // least(sa.nsh, sb.nsh)) >= 9000 AS is_contained FROM pairs p JOIN sizes sa ON sa.doc_id = p.u JOIN sizes sb ON sb.doc_id = p.v LEFT JOIN inter i ON i.u = p.u AND i.v = p.v ORDER BY doc_a, doc_b")),
    QueryDef("c37_embedding_centroid", c37 _, Some(
      "SELECT label::BIGINT AS label, i.i::BIGINT AS pos, count(*)::BIGINT AS n, sum(floor(embedding[i.i+1]::DOUBLE * 1024))::BIGINT AS qsum, floor(sum(floor(embedding[i.i+1]::DOUBLE * 1024))::DOUBLE / count(*))::BIGINT AS centroid_q FROM embeddings, range(64) i(i) GROUP BY 1, 2 ORDER BY 1, 2")),
    QueryDef("c34_doc_chunk", c34 _, Some(
      "WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents), st AS (SELECT doc_id, w, unnest(range(0, len(w), 48)) AS s FROM t) SELECT doc_id, (s // 48)::BIGINT AS chunk_idx, s::BIGINT AS start_tok, len(w[(s+1)::INT:(s+64)::INT])::BIGINT AS n_tok, md5(array_to_string(w[(s+1)::INT:(s+64)::INT], ' ')) AS chunk_fp FROM st ORDER BY doc_id, chunk_idx")),
    QueryDef("c35_pii_redact", c35 _, Some(
      "WITH p AS (SELECT doc_id, text || ' contact user' || doc_id::VARCHAR || '@mail.example id ' || (doc_id * 7919 + 100003)::VARCHAR AS t FROM documents), e AS (SELECT doc_id, len(regexp_extract_all(t, '[a-z0-9.]+@[a-z0-9.]+'))::BIGINT AS n_email, regexp_replace(t, '[a-z0-9.]+@[a-z0-9.]+', '<EMAIL>', 'g') AS t1 FROM p) SELECT doc_id, n_email, len(regexp_extract_all(t1, '[0-9][0-9][0-9]+'))::BIGINT AS n_id, md5(regexp_replace(t1, '[0-9][0-9][0-9]+', '<ID>', 'g')) AS red_fp, length(regexp_replace(t1, '[0-9][0-9][0-9]+', '<ID>', 'g'))::BIGINT AS red_len FROM e ORDER BY doc_id")),
    QueryDef("c36_decontaminate_bloom", c36 _, Some(
      s"WITH sh AS (SELECT doc_id, unnest(s) AS sh FROM ($shinglesSql)), ev AS (SELECT DISTINCT sh FROM sh WHERE doc_id < 10), bits AS (SELECT (${duckHash("'bf:'||j.j::VARCHAR||':'||sh")} % 4032) AS b FROM ev, range(4) j(j)), words AS (SELECT b // 63 AS w, bit_or(1::BIGINT << (b % 63)::INT) AS word FROM bits GROUP BY 1), tr AS (SELECT doc_id, sh FROM sh WHERE doc_id >= 10), pb AS (SELECT doc_id, sh, (${duckHash("'bf:'||j.j::VARCHAR||':'||sh")} % 4032) AS b FROM tr, range(4) j(j)), chk AS (SELECT doc_id, sh, bool_and((coalesce(w.word, 0) & (1::BIGINT << (pb.b % 63)::INT)) != 0) AS might FROM pb LEFT JOIN words w ON w.w = pb.b // 63 GROUP BY 1, 2), ex AS (SELECT t.doc_id, t.sh, (ev.sh IS NOT NULL) AS hit FROM tr t LEFT JOIN ev ON ev.sh = t.sh) SELECT c.doc_id, count(*)::BIGINT AS n_shingles, sum(CASE WHEN c.might THEN 1 ELSE 0 END)::BIGINT AS flagged, sum(CASE WHEN e.hit THEN 1 ELSE 0 END)::BIGINT AS overlap, (sum(CASE WHEN c.might THEN 1 ELSE 0 END) >= sum(CASE WHEN e.hit THEN 1 ELSE 0 END)) AS bloom_ok FROM chk c JOIN ex e ON e.doc_id = c.doc_id AND e.sh = c.sh GROUP BY 1 ORDER BY 1")),
    QueryDef("c1_dedup_exact_text", c1 _, Some(
      "SELECT min(doc_id) AS keeper, count(*)::BIGINT AS n FROM documents GROUP BY text ORDER BY keeper")),
    QueryDef("c2_dedup_near_minhash", c2 _, Some(
      s"WITH $minhashCtes SELECT band, minhash, count(*)::BIGINT AS n_docs, min(doc_id) AS min_doc, max(doc_id) AS max_doc FROM sig GROUP BY 1, 2 ORDER BY 1, 2")),
    QueryDef("c69_mmr_diversify", c69 _, Some(
      "WITH probes AS (SELECT vec_id AS probe_id, embedding::DOUBLE[] AS pe FROM embeddings WHERE vec_id % 50 = 0 ORDER BY vec_id LIMIT 32), allc AS (SELECT vec_id, embedding::DOUBLE[] AS ce FROM embeddings), sims AS (SELECT probe_id, vec_id, list_cosine_similarity(pe, ce) AS rel, ce FROM probes, allc WHERE vec_id != probe_id), cand AS (SELECT * FROM (SELECT probe_id, vec_id, rel, ce, row_number() OVER (PARTITION BY probe_id ORDER BY rel DESC, vec_id) AS rn FROM sims) WHERE rn <= 12), pair AS (SELECT a.probe_id, a.vec_id AS ca, b.vec_id AS cb, list_cosine_similarity(a.ce, b.ce) AS s FROM cand a JOIN cand b ON a.probe_id = b.probe_id AND a.vec_id != b.vec_id), sel1 AS (SELECT probe_id, vec_id, 0.7 * rel AS score, rel FROM cand WHERE rn = 1), u1 AS (SELECT probe_id, vec_id FROM sel1), sc2 AS (SELECT c.probe_id, c.vec_id, c.rel, 0.7 * c.rel - 0.3 * max(p.s) AS score FROM cand c JOIN u1 u ON c.probe_id = u.probe_id JOIN pair p ON p.probe_id = c.probe_id AND p.ca = c.vec_id AND p.cb = u.vec_id WHERE NOT EXISTS (SELECT 1 FROM u1 x WHERE x.probe_id = c.probe_id AND x.vec_id = c.vec_id) GROUP BY 1, 2, 3), sel2 AS (SELECT probe_id, vec_id, score, rel FROM (SELECT *, row_number() OVER (PARTITION BY probe_id ORDER BY score DESC, vec_id) AS r FROM sc2) WHERE r = 1), u2 AS (SELECT probe_id, vec_id FROM u1 UNION ALL SELECT probe_id, vec_id FROM sel2), sc3 AS (SELECT c.probe_id, c.vec_id, c.rel, 0.7 * c.rel - 0.3 * max(p.s) AS score FROM cand c JOIN u2 u ON c.probe_id = u.probe_id JOIN pair p ON p.probe_id = c.probe_id AND p.ca = c.vec_id AND p.cb = u.vec_id WHERE NOT EXISTS (SELECT 1 FROM u2 x WHERE x.probe_id = c.probe_id AND x.vec_id = c.vec_id) GROUP BY 1, 2, 3), sel3 AS (SELECT probe_id, vec_id, score, rel FROM (SELECT *, row_number() OVER (PARTITION BY probe_id ORDER BY score DESC, vec_id) AS r FROM sc3) WHERE r = 1), u3 AS (SELECT probe_id, vec_id FROM u2 UNION ALL SELECT probe_id, vec_id FROM sel3), sc4 AS (SELECT c.probe_id, c.vec_id, c.rel, 0.7 * c.rel - 0.3 * max(p.s) AS score FROM cand c JOIN u3 u ON c.probe_id = u.probe_id JOIN pair p ON p.probe_id = c.probe_id AND p.ca = c.vec_id AND p.cb = u.vec_id WHERE NOT EXISTS (SELECT 1 FROM u3 x WHERE x.probe_id = c.probe_id AND x.vec_id = c.vec_id) GROUP BY 1, 2, 3), sel4 AS (SELECT probe_id, vec_id, score, rel FROM (SELECT *, row_number() OVER (PARTITION BY probe_id ORDER BY score DESC, vec_id) AS r FROM sc4) WHERE r = 1), outq AS (SELECT probe_id, 1 AS mmr_rank, vec_id, score, rel FROM sel1 UNION ALL SELECT probe_id, 2, vec_id, score, rel FROM sel2 UNION ALL SELECT probe_id, 3, vec_id, score, rel FROM sel3 UNION ALL SELECT probe_id, 4, vec_id, score, rel FROM sel4) SELECT probe_id, mmr_rank::BIGINT AS mmr_rank, vec_id AS neighbor_id, round(score, 4) AS score, round(rel, 4) AS rel FROM outq ORDER BY probe_id, mmr_rank")),
    QueryDef("c3_similarity_topk", c3 _, Some(
      "WITH probes AS (SELECT vec_id AS probe_id, embedding::DOUBLE[] AS pe FROM embeddings WHERE vec_id % 50 = 0 ORDER BY vec_id LIMIT 32), cand AS (SELECT vec_id, embedding::DOUBLE[] AS ce FROM embeddings), sims AS (SELECT probe_id, vec_id, list_cosine_similarity(pe, ce) AS sim FROM probes, cand WHERE vec_id != probe_id), ranked AS (SELECT probe_id, vec_id, sim, row_number() OVER (PARTITION BY probe_id ORDER BY sim DESC, vec_id) AS rank FROM sims) SELECT probe_id, rank::BIGINT AS rank, vec_id AS neighbor_id, round(sim, 4) AS sim FROM ranked WHERE rank <= 5 ORDER BY probe_id, rank")),
    QueryDef("c4_text_tokenize_ngram", c4 _, Some(
      "SELECT bigram, count(*)::BIGINT AS cnt FROM (SELECT unnest(list_transform(generate_series(1, len(w)-1), i -> w[i] || ' ' || w[i+1])) AS bigram FROM (SELECT string_split(text, ' ') AS w FROM documents) WHERE len(w) >= 2) GROUP BY bigram ORDER BY cnt DESC, bigram")),
    QueryDef("c5_text_tfidf", c5 _, Some(
      "WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents), tf AS (SELECT doc_id, term, count(*)::BIGINT AS tf FROM tok GROUP BY 1, 2), df AS (SELECT term, count(DISTINCT doc_id)::BIGINT AS df FROM tok GROUP BY 1), n AS (SELECT count(*)::DOUBLE AS n FROM documents) SELECT tf.doc_id, tf.term, round(tf.tf * ln(n.n / df.df), 6) AS tfidf FROM tf JOIN df USING (term), n ORDER BY doc_id, term")),
    QueryDef("c6_text_lang_stats", c6 _, Some(
      "SELECT lang, source, count(*)::BIGINT AS cnt, avg(n_chars) AS avg_chars, min(n_chars) AS min_chars, max(n_chars) AS max_chars, quantile_cont(n_chars, 0.5) AS med_chars FROM documents GROUP BY 1, 2 ORDER BY 1, 2")),
    QueryDef("c7_multimodal_join", c7 _, Some(
      "SELECT doc_id, lang, label, len(embedding)::BIGINT AS dim, embedding[1]::DOUBLE AS e0 FROM documents JOIN embeddings ON doc_id = vec_id ORDER BY doc_id")),
    QueryDef("c8_dedup_simhash", c8 _, Some(
      s"WITH words AS (SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS word FROM documents), wh AS (SELECT doc_id, ${duckHash("word")} AS h FROM words), bits AS (SELECT doc_id, j, sum(CASE WHEN (h >> j) & 1 = 1 THEN 1 ELSE -1 END) AS s FROM wh, (SELECT unnest(generate_series(0, 15)) AS j) GROUP BY doc_id, j) SELECT doc_id, sum(CASE WHEN s >= 0 THEN 1::BIGINT << j ELSE 0 END)::BIGINT AS simhash FROM bits GROUP BY doc_id ORDER BY doc_id")),
    QueryDef("c9_dedup_ngram_jaccard", c9 _, Some(
      s"WITH sh AS ($shinglesSql) SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, round(len(list_intersect(a.s, b.s))::DOUBLE / len(list_distinct(a.s || b.s))::DOUBLE, 6) AS jaccard FROM sh a JOIN sh b ON b.doc_id = a.doc_id + 1 ORDER BY doc_a")),
    QueryDef("c10_dedup_embedding", c10 _, Some(
      "SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, round(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 4) AS sim FROM embeddings a JOIN embeddings b ON (a.vec_id // 100) = (b.vec_id // 100) AND a.vec_id < b.vec_id WHERE list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) > 0.3 ORDER BY vec_a, vec_b")),
    QueryDef("c11_text_lang_id", c11 _, Some(
      "SELECT doc_id, CASE WHEN len(list_filter(w, x -> x IN ('the','a','of','and','to'))) * 10 >= len(w) THEN 'en' WHEN len(list_filter(w, x -> x IN ('scan','join','filter','group','sort'))) * 4 >= len(w) THEN 'tech' ELSE 'unk' END AS pred, lang AS labeled FROM (SELECT doc_id, lang, string_split(text, ' ') AS w FROM documents) ORDER BY doc_id")),
    QueryDef("c12_text_quality", c12 _, Some(
      "SELECT doc_id, len(w)::BIGINT AS n_words, n_chars, floor(n_chars::DOUBLE / len(w) * 10000)::BIGINT AS avg_wlen_bp, floor(sc::DOUBLE / len(w) * 10000)::BIGINT AS stop_ratio_bp, floor((least(len(w)::DOUBLE / 100.0, 1.0) * 0.4 + (1.0 - sc::DOUBLE / len(w)) * 0.6) * 10000)::BIGINT AS score_bp FROM (SELECT doc_id, n_chars, w, len(list_filter(w, x -> x IN ('the','a','of','and','to'))) AS sc FROM (SELECT doc_id, n_chars, string_split(text, ' ') AS w FROM documents)) ORDER BY doc_id")),
    QueryDef("c13_token_count", c13 _, Some(
      "SELECT doc_id, len(w)::BIGINT AS ws_tokens, len(list_distinct(w))::BIGINT AS distinct_tokens, ceil(n_chars::DOUBLE / 4.0)::BIGINT AS bpe_est FROM (SELECT doc_id, n_chars, string_split(text, ' ') AS w FROM documents) ORDER BY doc_id")),
    QueryDef("c14_fingerprint", c14 _, Some(
      "SELECT doc_id, md5(text) AS fp, list_min(list_transform(string_split(text, ' '), x -> md5(x))) AS min_word_fp FROM documents ORDER BY doc_id")),
    QueryDef("c15_ann_lsh", c15 _, Some(
      s"WITH $lshBucketCtes SELECT bucket, count(*)::BIGINT AS n_vecs, min(vec_id) AS min_vec, max(vec_id) AS max_vec FROM buckets GROUP BY 1 ORDER BY 1")),
    QueryDef("c50_boilerplate_blocks", c50 _, Some(
      "WITH w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents), b AS (SELECT doc_id, i AS idx, array_to_string(w[(i*8+1):(i*8+8)], ' ') AS line FROM w, LATERAL (SELECT unnest(range(0, ((len(w)-1)//8)+1)) AS i) t), df AS (SELECT line, count(DISTINCT doc_id) AS df FROM b GROUP BY 1), fl AS (SELECT b.doc_id, b.idx, b.line, (df.df >= 3) AS boiler FROM b JOIN df USING (line)) SELECT doc_id, count(*)::BIGINT AS n_blocks, sum(CASE WHEN boiler THEN 1 ELSE 0 END)::BIGINT AS n_boiler, md5(coalesce(string_agg(CASE WHEN NOT boiler THEN line END, ' ' ORDER BY idx), '')) AS clean_fp FROM fl GROUP BY 1 ORDER BY 1")),
    QueryDef("c51_semantic_dedup", c51 _, Some(
      s"WITH $lshBucketCtes, pr AS (SELECT a.vec_id AS v, b.vec_id AS u FROM buckets a JOIN buckets b ON a.bucket = b.bucket AND b.vec_id < a.vec_id), hits AS (SELECT p.v, p.u FROM pr p JOIN embeddings ea ON ea.vec_id = p.v JOIN embeddings eb ON eb.vec_id = p.u WHERE list_cosine_similarity(ea.embedding::DOUBLE[], eb.embedding::DOUBLE[]) > 0.3), agg AS (SELECT v, count(*)::BIGINT AS n_early, min(u) AS blocker FROM hits GROUP BY 1) SELECT bk.vec_id, bk.bucket, coalesce(a.n_early, 0)::BIGINT AS n_early_dups, coalesce(a.blocker, -1)::BIGINT AS blocker, (a.v IS NULL) AS kept FROM buckets bk LEFT JOIN agg a ON a.v = bk.vec_id ORDER BY bk.vec_id")),
    QueryDef("c24_text_repetition", c24 _, Some(
      "SELECT doc_id, floor((1.0 - len(list_distinct(w))::DOUBLE / len(w)) * 10000)::BIGINT AS rep_word_bp, floor((1.0 - len(list_distinct(bg))::DOUBLE / len(bg)) * 10000)::BIGINT AS rep_bigram_bp FROM (SELECT doc_id, w, list_transform(generate_series(1, len(w)-1), i -> w[i] || ' ' || w[i+1]) AS bg FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents) WHERE len(w) >= 2) ORDER BY doc_id")),
    QueryDef("c25_decontaminate", c25 _, Some(
      s"WITH sh AS (SELECT doc_id, unnest(s) AS sh FROM ($shinglesSql)), ev AS (SELECT DISTINCT sh FROM sh WHERE doc_id < 10), tr AS (SELECT s.doc_id, s.sh, CASE WHEN ev.sh IS NULL THEN 0 ELSE 1 END AS hit FROM sh s LEFT JOIN ev ON s.sh = ev.sh WHERE s.doc_id >= 10) SELECT doc_id, count(*)::BIGINT AS n_shingles, sum(hit)::BIGINT AS overlap, floor(sum(hit)::DOUBLE / count(*) * 10000)::BIGINT AS overlap_bp FROM tr GROUP BY doc_id ORDER BY doc_id")),
    QueryDef("c23_profile", c23 _, Some(
      "SELECT stat, value FROM (SELECT count(*)::BIGINT AS rows, sum(CASE WHEN text IS NULL THEN 1 ELSE 0 END)::BIGINT AS null_text, count(DISTINCT lang)::BIGINT AS d_lang, count(DISTINCT source)::BIGINT AS d_source, min(n_chars)::BIGINT AS min_chars, max(n_chars)::BIGINT AS max_chars, min(doc_id)::BIGINT AS min_id, max(doc_id)::BIGINT AS max_id FROM documents) UNPIVOT (value FOR stat IN (rows, null_text, d_lang, d_source, min_chars, max_chars, min_id, max_id)) ORDER BY stat")),
    QueryDef("c21_sample_stratified", c21 _, Some(
      s"SELECT doc_id, lang, ${duckHash("doc_id")} % 100 AS bucket FROM documents WHERE (lang = 'en' AND ${duckHash("doc_id")} % 100 < 50) OR (lang != 'en' AND ${duckHash("doc_id")} % 100 < 20) ORDER BY doc_id")),
    QueryDef("c22_train_split", c22 _, Some(
      s"SELECT lang, CASE WHEN ${duckHash("doc_id")} % 100 < 80 THEN 'train' WHEN ${duckHash("doc_id")} % 100 < 90 THEN 'val' ELSE 'test' END AS split, count(*)::BIGINT AS cnt, min(doc_id) AS min_doc FROM documents GROUP BY 1, 2 ORDER BY 1, 2")),
    QueryDef("c20_text_normalize", c20 _, Some(
      "SELECT doc_id, md5(regexp_replace(regexp_replace(trim(text), '[0-9]+', '#', 'g'), ' +', ' ', 'g')) AS norm_fp, length(regexp_replace(regexp_replace(trim(text), '[0-9]+', '#', 'g'), ' +', ' ', 'g'))::BIGINT AS norm_len FROM documents ORDER BY doc_id")),
    QueryDef("c18_dedup_cluster", c18 _, Some(
      s"WITH RECURSIVE $clusterCtes SELECT u AS doc_id, min(r) AS cluster_id FROM reach GROUP BY u ORDER BY doc_id")),
    QueryDef("c45_holdout_decontaminate", c45 _, Some(
      s"WITH hold AS (SELECT doc_id FROM (SELECT doc_id, row_number() OVER (PARTITION BY source ORDER BY md5('hold:' || doc_id::VARCHAR), doc_id) AS rk FROM documents) WHERE rk <= 20), w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents), pos AS (SELECT DISTINCT doc_id, ${duckHash("array_to_string(ws[i+1:i+5], ' ')")} AS gh FROM w, LATERAL (SELECT unnest(range(0, len(ws)-4)) AS i) t WHERE len(ws) >= 5), hg AS (SELECT DISTINCT gh FROM pos JOIN hold USING (doc_id)), tr AS (SELECT p.doc_id, count(*)::BIGINT AS n_grams, count(hg.gh)::BIGINT AS n_hit FROM pos p LEFT JOIN hg ON hg.gh = p.gh WHERE p.doc_id NOT IN (SELECT doc_id FROM hold) GROUP BY 1) SELECT doc_id, n_grams, n_hit, n_hit > 0 AS contaminated FROM tr ORDER BY doc_id")),
    QueryDef("c44_dedup_canonical", c44 _, Some(
      s"WITH RECURSIVE $clusterCtes, cl AS (SELECT u AS doc_id, min(r) AS cluster_id FROM reach GROUP BY u), j AS (SELECT cl.cluster_id, cl.doc_id, d.n_chars, row_number() OVER (PARTITION BY cl.cluster_id ORDER BY d.n_chars DESC, cl.doc_id) AS rk FROM cl JOIN documents d ON d.doc_id = cl.doc_id) SELECT cluster_id, count(*)::BIGINT AS n_members, max(CASE WHEN rk = 1 THEN doc_id END)::BIGINT AS kept_doc_id, max(CASE WHEN rk = 1 THEN n_chars END)::BIGINT AS kept_n_chars FROM j GROUP BY cluster_id HAVING count(*) >= 2 ORDER BY cluster_id")),
    QueryDef("c28_sequence_packing", c28 _, Some(
      "WITH toks AS (SELECT doc_id, len(string_split(text, ' '))::BIGINT AS n_tok FROM documents), c AS (SELECT doc_id, coalesce(sum(n_tok) OVER (ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT AS before FROM toks) SELECT doc_id, (before // 256)::BIGINT AS start_bin, (before % 256)::BIGINT AS start_offset FROM c ORDER BY doc_id")),
    QueryDef("c27_embedding_quantize", c27 _, Some(
      "WITH v AS (SELECT vec_id, i.i, embedding[i.i+1]::DOUBLE AS x FROM embeddings, range(64) i(i)), sc AS (SELECT vec_id, max(abs(x)) AS scale FROM v GROUP BY 1), q AS (SELECT v.vec_id, CASE WHEN sc.scale = 0 THEN 0 ELSE floor(v.x / sc.scale * 127)::BIGINT END AS q, sc.scale FROM v JOIN sc ON sc.vec_id = v.vec_id) SELECT vec_id, floor(any_value(scale) * 10000)::BIGINT AS scale_bp, sum(q)::BIGINT AS qsum, min(q)::BIGINT AS qmin, max(q)::BIGINT AS qmax FROM q GROUP BY vec_id ORDER BY vec_id")),
    QueryDef("c26_dedup_pipeline", c26 _, Some(
      s"WITH $minhashCtes, pairs AS (SELECT DISTINCT a.doc_id AS u, b.doc_id AS v FROM sig a JOIN sig b ON a.band = b.band AND a.minhash = b.minhash AND a.doc_id < b.doc_id), sizes AS (SELECT doc_id, count(*)::BIGINT AS nsh FROM sh GROUP BY 1), inter AS (SELECT p.u, p.v, count(*)::BIGINT AS inter FROM pairs p JOIN sh a ON a.doc_id = p.u JOIN sh b ON b.doc_id = p.v AND b.sh = a.sh GROUP BY 1, 2) SELECT p.u AS doc_a, p.v AS doc_b, ((10000 * coalesce(i.inter, 0)) // (sa.nsh + sb.nsh - coalesce(i.inter, 0)))::BIGINT AS jaccard_bp, ((10000 * coalesce(i.inter, 0)) // (sa.nsh + sb.nsh - coalesce(i.inter, 0))) >= 8000 AS is_dup FROM pairs p JOIN sizes sa ON sa.doc_id = p.u JOIN sizes sb ON sb.doc_id = p.v LEFT JOIN inter i ON i.u = p.u AND i.v = p.v ORDER BY doc_a, doc_b")),
    QueryDef("c33_dedup_incremental", c33 _, Some(
      incrementalDedupOracleSql)),
    // c80 computes the SAME probe through the PERSISTED signature
    // index read cold — one oracle, two paths, equality is the
    // cross-check (the c72/c74 discipline applied to dedup).
    QueryDef("c80_dedup_index_persisted", c80 _, Some(
      incrementalDedupOracleSql)),
    QueryDef("c19_ann_ivf", c19 _, Some(ivfOracleSql)),
    QueryDef("c43_ann_pq", c43 _, Some(pqOracleSql)),
    QueryDef("c72_ivf_pq_search", c72 _, Some(ivfPqSearchOracleSql)),
    // c74 = the SAME search served from a PERSISTED, incrementally
    // maintained index — identical declared output, c72's oracle
    // VERBATIM: same answer through the infrastructure path is the
    // cross-check (the b75/b80/b91 discipline applied to ANN).
    QueryDef("c74_index_search", c74 _, Some(ivfPqSearchOracleSql)),
    // c77 recomputes the SAME search with candidates + ground truth
    // narrowed to the post-delete survivors — hash equality proves
    // deleted ids are gone AND recall holds over what still exists.
    QueryDef("c77_index_delete_maintenance", c77 _,
      Some(ivfPqDeleteOracleSql)),
    // c79 declares the SAME post-delete search before and after index
    // compaction — both phases must equal c77's recomputation.
    QueryDef("c79_index_compaction", c79 _, Some(ivfPqCompactOracleSql)),
    // c75's oracle recomputes all three member scores, the mixture
    // thresholds and the combination — the whole ensemble bit-for-bit.
    QueryDef("c75_curation_ensemble", c75 _, Some(
      s"WITH $ensembleOracleCtes SELECT doc_id, source, h_bp, p_bp, c_bp, ens_bp, thr_bp, (ens_bp >= thr_bp) AS kept FROM ens ORDER BY doc_id")),
    // c76's oracle composes the ensemble CTEs with c73's quota recipe
    // (q-prefixed to avoid CTE-name collisions) and ranks by quality.
    QueryDef("c76_quality_mixture", c76 _, Some(
      s"WITH $ensembleOracleCtes, qcounts AS (SELECT source, count(*)::BIGINT AS n_s FROM documents GROUP BY 1), qw0 AS (SELECT source, n_s, floor(sqrt(n_s::DOUBLE))::BIGINT AS r0 FROM qcounts), qwts AS (SELECT source, n_s, (r0 - CASE WHEN r0 * r0 > n_s THEN 1 ELSE 0 END + CASE WHEN (r0 + 1) * (r0 + 1) <= n_s THEN 1 ELSE 0 END)::BIGINT AS w FROM qw0), qtot AS (SELECT sum(w)::BIGINT AS wsum FROM qwts), qks AS (SELECT source, w, CASE WHEN n_s < (200 * w) // wsum THEN n_s ELSE (200 * w) // wsum END AS k FROM qwts, qtot), ranked AS (SELECT e.source, e.doc_id, e.ens_bp, row_number() OVER (PARTITION BY e.source ORDER BY e.ens_bp DESC, e.doc_id) AS rk FROM ens e) SELECT r.source, r.rk::BIGINT AS rk, r.doc_id, r.ens_bp, qks.w AS weight FROM ranked r JOIN qks ON qks.source = r.source WHERE r.rk <= qks.k ORDER BY 1, 2")),
    // c73's oracle recomputes the whole recipe — exact isqrt weights,
    // quotas, hash-ranked picks — so the mixture spec itself is
    // hash-pinned, not just the row count.
    QueryDef("c73_mixture_sample", c73 _, Some(
      "WITH counts AS (SELECT source, count(*)::BIGINT AS n_s FROM documents GROUP BY 1), w0 AS (SELECT source, n_s, floor(sqrt(n_s::DOUBLE))::BIGINT AS r0 FROM counts), wts AS (SELECT source, n_s, (r0 - CASE WHEN r0 * r0 > n_s THEN 1 ELSE 0 END + CASE WHEN (r0 + 1) * (r0 + 1) <= n_s THEN 1 ELSE 0 END)::BIGINT AS w FROM w0), tot AS (SELECT sum(w)::BIGINT AS wsum FROM wts), ks AS (SELECT source, w, CASE WHEN n_s < (200 * w) // wsum THEN n_s ELSE (200 * w) // wsum END AS k FROM wts, tot), ranked AS (SELECT d.source, d.doc_id, row_number() OVER (PARTITION BY d.source ORDER BY md5('mix:' || d.doc_id::VARCHAR), d.doc_id) AS rk FROM documents d) SELECT r.source, r.rk::BIGINT AS rk, r.doc_id, ks.w AS weight FROM ranked r JOIN ks ON ks.source = r.source WHERE r.rk <= ks.k ORDER BY 1, 2")),
    QueryDef("c17_similarity_native_expr", c17 _, Some(
      "SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, round(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 4) AS sim FROM embeddings a JOIN embeddings b ON b.vec_id = a.vec_id + 1 ORDER BY vec_a")),
    QueryDef("c16_multimodal_binary", c16 _, Some(
      "SELECT doc_id, strlen(text)::BIGINT AS n_bytes, CASE WHEN length(text) = 0 THEN -1 ELSE ascii(substr(text, 1, 1)) END AS cp0, coalesce(list_sum(list_transform(generate_series(1, least(16, length(text))), i -> ascii(substr(text, i, 1)))), 0)::BIGINT AS head_sum FROM documents ORDER BY doc_id")),
    QueryDef("c29_epoch_shuffle", c29 _, Some(
      s"WITH h AS (SELECT doc_id, ${duckHash("'epoch0:'||doc_id::VARCHAR")} AS h FROM documents) SELECT doc_id, h % 8 AS shard, (row_number() OVER (PARTITION BY h % 8 ORDER BY h, doc_id) - 1)::BIGINT AS pos FROM h ORDER BY doc_id")),
    QueryDef("c30_stopword_filter", c30 _, Some(
      "WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents), top AS (SELECT term FROM tok GROUP BY term ORDER BY count(*) DESC, term LIMIT 20) SELECT doc_id, count(*)::BIGINT AS n_tokens, sum(CASE WHEN term IN (SELECT term FROM top) THEN 0 ELSE 1 END)::BIGINT AS n_kept FROM tok GROUP BY 1 ORDER BY 1")),
    QueryDef("c31_source_mix", c31 _, Some(
      s"SELECT source, 9500 - 450 * substr(source, 4)::BIGINT AS rate_bp, count(*)::BIGINT AS n_total, sum(CASE WHEN ${duckHash("'mix:'||doc_id::VARCHAR")} % 10000 < 9500 - 450 * substr(source, 4)::BIGINT THEN 1 ELSE 0 END)::BIGINT AS n_kept FROM documents GROUP BY 1, 2 ORDER BY 1")),
    QueryDef("c42_eval_holdout", c42 _, Some(
      "WITH r AS (SELECT doc_id, source, row_number() OVER (PARTITION BY source ORDER BY md5('hold:' || doc_id::VARCHAR), doc_id) AS rk FROM documents) SELECT doc_id, source, rk::BIGINT AS rk FROM r WHERE rk <= 20 ORDER BY source, rk")),
    QueryDef("c39_dup_passage", c39 _, Some(
      "WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents), pos AS (SELECT doc_id, array_to_string(ws[i+1:i+5], ' ') AS gram FROM w, LATERAL (SELECT unnest(range(0, len(ws)-4)) AS i) t WHERE len(ws) >= 5), dup AS (SELECT gram FROM pos GROUP BY gram HAVING count(DISTINCT doc_id) >= 2) SELECT p.doc_id, count(*)::BIGINT AS n_pos, count(d.gram)::BIGINT AS dup_pos, floor(count(d.gram) * 10000.0 / count(*))::BIGINT AS dup_bp FROM pos p LEFT JOIN dup d ON p.gram = d.gram GROUP BY p.doc_id ORDER BY p.doc_id")),
    QueryDef("c40_vocab_bpe", c40 _, Some(
      "WITH wc AS (SELECT w, count(*)::BIGINT AS cnt FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents) GROUP BY w), pc AS (SELECT substr(w, i, 2) AS pair, sum(cnt)::BIGINT AS cnt FROM wc, LATERAL (SELECT unnest(range(1, length(w))) AS i) t WHERE length(w) >= 2 GROUP BY 1), topw AS (SELECT 'word' AS kind, w AS sym, cnt FROM wc ORDER BY cnt DESC, w LIMIT 25), topp AS (SELECT 'pair' AS kind, pair AS sym, cnt FROM pc ORDER BY cnt DESC, pair LIMIT 25) SELECT kind, sym, cnt FROM (SELECT * FROM topw UNION ALL SELECT * FROM topp) ORDER BY kind, cnt DESC, sym")),
    QueryDef("c41_lm_surprisal", c41 _, Some(
      "WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents), wc AS (SELECT w, count(*) AS cnt FROM tok GROUP BY w), tot AS (SELECT count(*) AS n FROM tok), sur AS (SELECT w, (length(bin((n // cnt)::BIGINT)) - 1)::BIGINT AS bits FROM wc, tot) SELECT t.doc_id, count(*)::BIGINT AS n_words, sum(s.bits)::BIGINT AS sur_sum, (sum(s.bits) * 10000 // count(*))::BIGINT AS avg_sur_bp FROM tok t JOIN sur s ON t.w = s.w GROUP BY t.doc_id ORDER BY t.doc_id")),
    QueryDef("c46_dedup_url", c46 _, Some(
      "WITH u AS (SELECT doc_id, 'HTTPS://' || CASE WHEN doc_id % 2 = 0 THEN 'WWW.' ELSE '' END || source || '.Example.COM/' || lang || '/page' || (doc_id % 25)::VARCHAR || CASE WHEN doc_id % 5 = 0 THEN '/' ELSE '' END || CASE WHEN doc_id % 3 = 0 THEN '?id=' || (doc_id % 25)::VARCHAR || '&utm_source=feed&utm_campaign=x' WHEN doc_id % 3 = 1 THEN '?id=' || (doc_id % 25)::VARCHAR ELSE '' END AS url FROM documents), c AS (SELECT doc_id, url, regexp_replace(regexp_replace(regexp_replace(regexp_replace(lower(url), '://www\\.', '://'), '&utm_[a-z_]+=[^&]*', '', 'g'), '/\\?', '?'), '/$', '') AS canon_url FROM u) SELECT canon_url, count(*)::BIGINT AS n_docs, count(DISTINCT url)::BIGINT AS n_variants, min(doc_id) AS keeper FROM c GROUP BY 1 ORDER BY 1")),
    QueryDef("c47_tokenizer_apply", c47 _, Some(
      "WITH wc AS (SELECT w, count(*)::BIGINT AS cnt FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents) GROUP BY w), pc AS (SELECT substr(w, i, 2) AS pair, sum(cnt)::BIGINT AS c FROM wc, LATERAL (SELECT unnest(range(1, length(w))) AS i) t WHERE length(w) >= 2 GROUP BY 1), m1 AS (SELECT pair, ' ' || substr(pair, 1, 1) || ' ' || substr(pair, 2, 1) || ' ' AS pat, ' ' || pair || ' ' AS rep FROM pc ORDER BY c DESC, pair LIMIT 1), cs0 AS (SELECT w, cnt, array_to_string(list_transform(generate_series(1, length(w)), i -> substr(w, i, 1)), ' ') AS cs FROM wc), cs1 AS (SELECT w, cnt, trim(replace(' ' || cs || ' ', (SELECT pat FROM m1), (SELECT rep FROM m1))) AS cs FROM cs0), tp AS (SELECT t[i] || ' ' || t[i + 1] AS pair, sum(cnt)::BIGINT AS c FROM (SELECT cnt, string_split(cs, ' ') AS t FROM cs1), LATERAL (SELECT unnest(range(1, len(t))) AS i) x GROUP BY 1), m2 AS (SELECT pair, ' ' || pair || ' ' AS pat, ' ' || replace(pair, ' ', '') || ' ' AS rep FROM tp ORDER BY c DESC, pair LIMIT 1), cs2 AS (SELECT w, cnt, trim(replace(' ' || cs || ' ', (SELECT pat FROM m2), (SELECT rep FROM m2))) AS cs FROM cs1) SELECT w, cnt, length(w)::BIGINT AS tok0, len(string_split(cs, ' '))::BIGINT AS tok2, (SELECT pair FROM m1) AS merge1, (SELECT pair FROM m2) AS merge2 FROM cs2 ORDER BY cnt DESC, w LIMIT 25")),
    QueryDef("c48_sample_weighted", c48 _, Some(
      s"WITH w AS (SELECT doc_id, source, 1 + (substr(source, 4)::BIGINT % 4) AS wt FROM documents), d AS (SELECT doc_id, source, wt, unnest(range(1, wt + 1)) AS j FROM w), k AS (SELECT doc_id, source, wt, max(${duckHash("'ws:' || doc_id::VARCHAR || ':' || j::VARCHAR")}) AS sample_key FROM d GROUP BY 1, 2, 3), t AS (SELECT * FROM k ORDER BY sample_key DESC, doc_id LIMIT 100) SELECT row_number() OVER (ORDER BY sample_key DESC, doc_id)::BIGINT AS rk, doc_id, source, wt::BIGINT AS wt, sample_key FROM t ORDER BY rk")),
    QueryDef("c49_dsir_importance", c49 _, Some(
      "WITH tok AS (SELECT doc_id, source, unnest(string_split(text, ' ')) AS w FROM documents), wa AS (SELECT w, count(*)::BIGINT AS cnt_all FROM tok GROUP BY w), wt AS (SELECT w, count(*)::BIGINT AS cnt_t FROM tok WHERE source = 'src1' GROUP BY w), lm AS (SELECT wa.w, wa.cnt_all, coalesce(wt.cnt_t, 0)::BIGINT AS cnt_t, sum(wa.cnt_all) OVER ()::BIGINT AS tot_all, sum(coalesce(wt.cnt_t, 0)) OVER ()::BIGINT AS tot_t, count(*) OVER ()::BIGINT AS nv FROM wa LEFT JOIN wt ON wa.w = wt.w), sc0 AS (SELECT w, cnt_all, tot_all, ((length(bin((tot_all // cnt_all)::BIGINT)) - 1) - (length(bin(((2 * tot_t + nv) // (2 * cnt_t + 1))::BIGINT)) - 1))::BIGINT AS imp FROM lm), sc AS (SELECT w, imp, sum(imp * cnt_all) OVER ()::BIGINT AS gm, tot_all FROM sc0) SELECT t.doc_id, count(*)::BIGINT AS n_words, sum(s.imp)::BIGINT AS imp_sum, (sum(s.imp) * max(s.tot_all) > max(s.gm) * count(*)) AS above_corpus_mean FROM tok t JOIN sc s ON t.w = s.w GROUP BY 1 ORDER BY 1")),
    QueryDef("c32_curation_gate", c32 _, Some(
      "WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents), tc AS (SELECT doc_id, term, count(*)::BIGINT AS c FROM tok GROUP BY 1, 2), st AS (SELECT doc_id, sum(c)::BIGINT AS n_tokens, sum(length(term) * c)::BIGINT AS sum_len, max(c)::BIGINT AS max_c FROM tc GROUP BY 1), g AS (SELECT doc_id, n_tokens, (100 * sum_len) // n_tokens AS len_bp, (10000 * max_c) // n_tokens AS rep_bp FROM st) SELECT doc_id, n_tokens, len_bp, rep_bp, CASE WHEN n_tokens < 20 THEN 'too_short' WHEN n_tokens > 90 THEN 'too_long' WHEN len_bp < 350 OR len_bp > 700 THEN 'word_len' WHEN rep_bp > 1500 THEN 'repetitive' ELSE 'keep' END AS verdict FROM g ORDER BY doc_id")),
  )
}
