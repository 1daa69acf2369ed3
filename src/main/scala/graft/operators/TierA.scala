package graft.operators

import graft.QueryDef
import graft.util.Tables._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import scala.collection.mutable

/** Typed row for the a12 serializer/Encoder round-trip — public because
  * Catalyst's generated code instantiates it.
  */
case class OrderRow(
    o_orderkey: Long, o_custkey: Long, o_orderstatus: String,
    o_totalprice: Double, o_orderdate: java.sql.Timestamp,
    o_orderpriority: String)

/** SURVEY.md §2 Tier A — the reference's own operator surface
  * (sources, map, reduce, reducemap, parters, sorted reduce input,
  * collect, sinks, serializers, iteration, wordcount), re-expressed
  * Spark-first. Each entry is a declared query with a DuckDB oracle.
  */
object TierA {

  /** a16 / flagship: the canonical Mrs program [mrs: examples/wordcount.py].
    * Relational form so Catalyst plans it: scan → generate(explode) →
    * partial agg → shuffle on word → final agg → sort. At 100 TB the
    * map-side partial aggregation bounds shuffle volume by vocabulary
    * size per partition — the thing Mrs (no combiner) could never do.
    */
  def wordcount(spark: SparkSession, d: String): DataFrame =
    documents(spark, d)
      .select(explode(split(col("text"), " ")).as("word"))
      .groupBy("word")
      .agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("word"))

  private def a1(spark: SparkSession, d: String): DataFrame =
    // Mrs job.file_data + TextReader: a source of (position, line) pairs
    // [mrs: mrs/fileformats.py]. Here: columnar parquet scan instead of
    // line-splitting — the scan parallelizes by row-group at any scale.
    documents(spark, d).select(col("doc_id"), col("text")).orderBy("doc_id")

  private def a2(spark: SparkSession, d: String): DataFrame = {
    // Mrs job.local_data(pairs): driver-literal pairs become a dataset
    // [mrs: mrs/datasets.py LocalData].
    import spark.implicits._
    Seq((1, "alpha"), (2, "beta"), (3, "gamma"), (4, "delta"))
      .toDF("k", "v").orderBy("k")
  }

  private def a3(spark: SparkSession, d: String): DataFrame = {
    // Mrs map stage via the generic helper: one pair in, 0..n out.
    import spark.implicits._
    val src = documents(spark, d)
      .select(col("doc_id"), col("text")).as[(Long, String)]
    CoreMR.mapData[Long, String, Long, String](
      src, (id, text) => text.split(" ").iterator.map(w => (id, w)))
      .toDF("doc_id", "word").orderBy("doc_id", "word")
  }

  private def a4(spark: SparkSession, d: String): DataFrame = {
    // Mrs reduce stage: reducer sees (key, all values). Counts + an
    // exact integral sum (l_quantity is integral — FIXTURES.md).
    import spark.implicits._
    val src = lineitem(spark, d)
      .select(col("l_returnflag"), col("l_quantity")).as[(String, Double)]
    CoreMR.reduceData[String, Double, (Long, Long)](
      src,
      (_, vs) => {
        var cnt = 0L; var qty = 0L
        vs.foreach { v => cnt += 1; qty += v.toLong }
        Iterator.single((cnt, qty))
      })
      .map { case (k, (cnt, qty)) => (k, cnt, qty) }
      .toDF("key", "cnt", "qty_total").orderBy("key")
  }

  private def a5(spark: SparkSession, d: String): DataFrame = {
    // Mrs reducemap: fused reduce→map, one shuffle [mrs: mrs/task.py].
    import spark.implicits._
    val src = lineitem(spark, d)
      .select(col("l_returnflag"), col("l_linenumber")).as[(String, Int)]
    CoreMR.reduceMapData[String, Int, Long, String, Long](
      src,
      (_, vs) => Iterator.single(vs.size.toLong),
      (k, cnt) => Iterator.single((s"f_${k.toLowerCase}", cnt)))
      .toDF("key", "cnt").orderBy("key")
  }

  private def a6(spark: SparkSession, d: String): DataFrame =
    // Mrs hash_partition. Declared output uses the md5-derived portable
    // hash so DuckDB reproduces the routing exactly; the real Spark
    // HashPartitioner is exercised in CoreMRSpec (engine-internal hash
    // must never reach an oracled output — SURVEY §7.4 #4).
    // Hash per row, ONE partial-agg'd shuffle of <= 8 pid rows per map
    // partition. (A count-per-key-first rewrite to save md5 calls was
    // tried and reverted: it adds a full-width l_orderkey exchange —
    // ~n shuffled rows to save ~n cheap map-side hashes, a net loss at
    // any scale. Hash-the-vocabulary only pays when the per-item work
    // being saved is a fan-out, as in b35/c40, not a single hash.)
    lineitem(spark, d)
      .select(pmod(portableHash(col("l_orderkey")), lit(8)).as("pid"))
      .groupBy("pid").agg(count(lit(1)).as("cnt"))
      .orderBy("pid")

  private def a7(spark: SparkSession, d: String): DataFrame =
    // Mrs mod_partition: int(key) % n — portable as-is.
    lineitem(spark, d)
      .select(CoreMR.modPartitionId(col("l_orderkey"), 8).as("pid"))
      .groupBy("pid").agg(count(lit(1)).as("cnt"))
      .orderBy("pid")

  private def a8(spark: SparkSession, d: String): DataFrame = {
    // Mrs sorted reduce input: buckets are sorted, then equal keys are
    // grouped by scanning runs [mrs: mrs/bucket.py, mrs/task.py]. Spark
    // native: repartition on the key + sortWithinPartitions, then a
    // single streaming pass groups consecutive runs — no hash table,
    // spill-free, the exact shape of Spark's own sort-based aggregate.
    import spark.implicits._
    val ev = events(spark, d)
      .select(col("user_id"), unix_micros(col("ts")).as("ts_us"))
      .as[(Long, Long)]
    ev.repartition(8, col("user_id"))
      .sortWithinPartitions("user_id", "ts_us")
      .mapPartitions { it =>
        val buf = it.buffered
        new Iterator[(Long, Long, Long, Long)] {
          def hasNext: Boolean = buf.hasNext
          def next(): (Long, Long, Long, Long) = {
            val (u, first) = buf.head
            var cnt = 0L; var last = first
            while (buf.hasNext && buf.head._1 == u) {
              last = buf.next()._2; cnt += 1
            }
            (u, cnt, first / 1000000L, last / 1000000L)
          }
        }
      }
      .toDF("user_id", "cnt", "first_s", "last_s").orderBy("user_id")
  }

  private def a9(spark: SparkSession, d: String): DataFrame = {
    // Mrs ds.fetchall(): pull a *small* dataset to the driver
    // [mrs: mrs/datasets.py]. Only ever legal for dimension-sized data —
    // region is 5 rows at any scale factor.
    val rows = region(spark, d).collect().toIndexedSeq
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows), region(spark, d).schema)
      .orderBy("r_regionkey")
  }

  private def a10(spark: SparkSession, d: String): DataFrame = {
    // Mrs TextWriter/TextReader round-trip: key<TAB>value lines via the
    // library API [mrs: mrs/fileformats.py].
    val out = graft.util.TmpDir.path("a10_sink_text")
    graft.sources.PairFiles.writeText(
      nation(spark, d).select(
        col("n_nationkey").cast("string").as("key"), col("n_name").as("value")),
      out)
    graft.sources.PairFiles.readText(spark, out)
      .select(col("key").cast("int").as("n_nationkey"),
        col("value").as("n_name"))
      .orderBy("n_nationkey")
  }

  private def a11(spark: SparkSession, d: String): DataFrame = {
    // Mrs BinWriter/BinReader: lossless typed round-trip — here parquet,
    // carrying an array<float> column through intact.
    val out = graft.util.TmpDir.path("a11_sink_binary")
    graft.sources.PairFiles.writeBin(embeddings(spark, d), out)
    graft.sources.PairFiles.readBin(spark, out)
      .select(
        col("vec_id"), col("label"),
        size(col("embedding")).cast("long").as("dim"),
        element_at(col("embedding"), 1).cast("double").as("e0"))
      .orderBy("vec_id")
  }

  private def a12(spark: SparkSession, d: String): DataFrame = {
    // Mrs pluggable serializers ⇒ Spark Encoders: a typed
    // Dataset[case class] pass keeps Tungsten's binary format end-to-end
    // [mrs: mrs/serializers.py].
    import spark.implicits._
    orders(spark, d).as[OrderRow]
      .filter(_.o_totalprice > 100000.0)
      .map(o => (o.o_orderkey, o.o_orderstatus, o.o_totalprice))
      .toDF("o_orderkey", "o_orderstatus", "o_totalprice")
      .orderBy("o_orderkey")
  }

  private def a13(spark: SparkSession, d: String): DataFrame = {
    // Mrs IterativeMR via CoreMR.iterate [mrs: mrs/mapreduce.py]:
    // driver-controlled loop to a fixpoint. Hierarchical aggregation:
    // per-partition partial counts, then rounds of halving
    // repartition+merge until one partition remains — the producer
    // submits each round, the consumer is the convergence test.
    import spark.implicits._
    val init = lineitem(spark, d)
      .select(col("l_returnflag")).as[String]
      .repartition(8)
      .mapPartitions { it =>
        val m = mutable.HashMap.empty[String, Long]
        it.foreach(k => m.update(k, m.getOrElse(k, 0L) + 1L))
        m.iterator
      }
    val (fin, _) = CoreMR.iterate((init, 8)) { case ((ds, parts), _) =>
      val np = (parts + 1) / 2
      val merged = ds.repartition(np, col("_1"))
        .mapPartitions { it =>
          val m = mutable.HashMap.empty[String, Long]
          it.foreach { case (k, c) => m.update(k, m.getOrElse(k, 0L) + c) }
          m.iterator
        }
      (merged, np)
    } { case ((_, parts), _) => parts > 1 }
    fin.toDF("key", "cnt").orderBy("key")
  }

  /** a23: Mrs examples parity — k-means on the embeddings table in the
    * IterativeMR shape [mrs: examples/, mrs/mapreduce.py]: driver loop,
    * one distributed assign+partial-sum pass per round (mapPartitions
    * kernel emits per-cluster partials; an RDD reduceByKey merges them —
    * classic MR combine), centroids re-broadcast each round. Integer-
    * lattice variant for engine portability: vectors quantized to the
    * 2^-10 grid (c15's trick), distances exact BIGINT, centroid update
    * floor(sum/cnt) — every round is bit-reproducible in DuckDB, so the
    * full 3-round trajectory is oracled (assignment counts + inertia
    * against pre-update centroids + post-update centroid sums). Empty
    * clusters keep their previous centroid. Knobs: `graft.kmeans.k`,
    * `graft.kmeans.iters` (oracle assumes defaults 4 and 3).
    */
  private def a23(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    val k = spark.conf.getOption("graft.kmeans.k").map(_.toInt).getOrElse(4)
    val iters =
      spark.conf.getOption("graft.kmeans.iters").map(_.toInt).getOrElse(3)
    require(iters >= 1, s"a23 needs graft.kmeans.iters >= 1 (got $iters)")
    val dim = 64
    // checkpointed: the scan+quantize kernel feeds the seed collect plus
    // one IntLattice.round per training iteration
    val q = embeddings(spark, d).select(col("vec_id"), col("embedding"))
      .as[(Long, Array[Float])]
      .map { case (id, e) => (id, IntLattice.quantize(e)) }
      .localCheckpoint(false)
    val cents: Array[Array[Long]] =
      q.filter(_._1 < k).collect().sortBy(_._1).map(_._2)
    // Cluster index = seed array position, and the oracle keys clusters
    // by vec_id — a gap in vec_ids 0..k-1 would silently misalign them
    // (or throw ArrayIndexOutOfBounds below). Fail fast instead.
    require(cents.length == k,
      s"a23 expects seed vectors with vec_id 0..${k - 1}; found ${cents.length}")
    // per cluster: (members, inertia vs pre-update centroid, new centroid)
    // CoreMR.iterate drives the rounds; the producer is one distributed
    // IntLattice.round pass (state stays O(k·dim) on the driver; the
    // oracle-sensitive tie/floor/empty-cluster rules live in IntLattice,
    // shared with c19's codebook training).
    val (_, stats) = CoreMR.iterate(
      (cents, null: Array[(Long, Long, Array[Long])]), iters) {
      case ((cur, _), _) =>
        val agg = IntLattice.round(q, cur, dim)
        val newCents = IntLattice.update(cur, agg, dim)
        val roundStats = Array.tabulate(k) { c =>
          val (cn, ir, _) = agg.getOrElse(c, (0L, 0L, null))
          (cn, ir, newCents(c))
        }
        (newCents, roundStats)
    } { (_, _) => true }
    stats.zipWithIndex
      .map { case ((cn, ir, ct), c) => (c.toLong, cn, ir, ct.sum) }
      .toSeq.toDF("cluster", "n_members", "inertia", "cent_sum")
      .orderBy("cluster")
  }

  /** a26: custom DataSource V2 in a declared query — the generated
    * (id, md5(id)) pair table with the `id >= 9000` bound PUSHED into
    * the source (it narrows the generated range itself; no post-scan
    * filter remains — plan-asserted in PairGenSourceSpec). See
    * [[graft.sources.PairGenSource]].
    */
  private def a26(spark: SparkSession, d: String): DataFrame =
    spark.read.format("pairgen")
      .option("rows", "10000").option("slices", "8").load()
      .filter(col("id") >= lit(9000L))
      .orderBy("id")

  /** a27: custom DataSource V2 WRITE path in a declared query — nation
    * written through the `pairsink` V2 table (the reference's TextWriter
    * `key<TAB>value` format [mrs: mrs/fileformats.py] with a real
    * task→driver two-phase commit; see
    * [[graft.sources.PairSinkSource]]), read back with the Mrs
    * TextReader ([[graft.sources.PairFiles.readText]]).
    */
  private def a27(spark: SparkSession, d: String): DataFrame = {
    val out = graft.util.TmpDir.path("a27_sink_custom")
    nation(spark, d)
      .select(col("n_nationkey").cast("string"), col("n_name"))
      .write.format("pairsink").mode("overwrite")
      .option("path", out).save()
    graft.sources.PairFiles.readText(spark, out)
      .select(col("key").cast("int").as("n_nationkey"),
        col("value").as("n_name"))
      .orderBy("n_nationkey")
  }

  /** a25: Mrs examples parity — particle swarm optimization, THE
    * workload Mrs was built for (McNabb/Lund/Seppi, PyHPC@SC12 ran PSO
    * on Mrs) [mrs: examples/], in the IterativeMR shape: particles live
    * distributed, each round is one map pass (velocity/position/pbest
    * update) plus one tiny collect for the global best, which is
    * re-broadcast. Sphere objective f(x)=Σx², 32 particles × 4 dims ×
    * 3 rounds. Integer-lattice dynamics for portability: positions on
    * the 1/1024 grid, md5-derived init and per-round r1/r2, every
    * update term an exact `floor(int/2^k)` — DuckDB replays the entire
    * swarm trajectory bit-for-bit (velocity, pbest carry, gbest argmin
    * with (f, pid) tie-break).
    */
  private def a25(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    val nP = 32; val dim = 4; val iters = 3
    val md = java.security.MessageDigest.getInstance("MD5")
    def h13(sv: String): Long = java.lang.Long.parseLong(
      md.digest(sv.getBytes("UTF-8")).take(7)
        .map("%02x".format(_)).mkString.take(13), 16)
    // r1/r2 are data-independent — derived on the driver, shipped in the
    // closure (Mrs would ship them in the job params).
    val r1s = Array.tabulate(iters + 1, nP)((t, p) => h13(s"r1:$t:$p") % 1025L)
    val r2s = Array.tabulate(iters + 1, nP)((t, p) => h13(s"r2:$t:$p") % 1025L)
    // Swarm init is driver-side (hash constants, MessageDigest isn't
    // serializable) then distributed; Mrs likewise seeds in the master.
    val init = (0 until nP).map { p =>
      val x = Array.tabulate(dim)(i => h13(s"x:$p:$i") % 16384L - 8192L)
      val f = x.map(q => q * q).sum
      (p.toLong, x, Array.fill(dim)(0L), x.clone(), f)
    }
    val parts = CoreMR.iterate(
      init.toDS().repartition(4).localCheckpoint(false), iters) { (cur, t) =>
      // gbest via aggregation, NOT a swarm collect: min_by over the
      // (f_pbest, pid) struct returns ONE row (the argmin's pbest
      // position) regardless of swarm size.
      val g = cur.select(min_by(col("_4"), struct(col("_5"), col("_1"))))
        .head().getAs[scala.collection.Seq[Long]](0).toArray
      val r1t = r1s(t); val r2t = r2s(t)
      cur.map { case (pid, x, v, px, fp) =>
        val r1 = r1t(pid.toInt); val r2 = r2t(pid.toInt)
        val nv = Array.tabulate(dim) { i =>
          math.floor(v(i) / 2.0).toLong +
            math.floor(r1 * (px(i) - x(i)) / 1024.0).toLong +
            math.floor(r2 * (g(i) - x(i)) / 1024.0).toLong
        }
        val nx = Array.tabulate(dim)(i => x(i) + nv(i))
        val nf = nx.map(q => q * q).sum
        if (nf < fp) (pid, nx, nv, nx.clone(), nf)
        else (pid, nx, nv, px, fp)
      }.localCheckpoint(false)
    } { (_, _) => true }
    val fin = parts.map { case (pid, _, _, px, fp) => (pid, fp, px.sum) }
      .collect().sortBy(_._1)
    val gb = fin.minBy(r => (r._2, r._1))._1
    fin.map { case (pid, fp, ps) => (pid, fp, ps, pid == gb) }
      .toSeq.toDF("pid", "f_pbest", "pbest_sum", "is_gbest")
      .orderBy("pid")
  }

  /** DuckDB unrolling of a25's 3 swarm rounds — same integer lattice. */
  private val psoOracleSql: String = {
    def h13(sv: String) = s"(('0x'||substr(md5($sv),1,13))::BIGINT"
    def rnd(t: Int): String = {
      val p = t - 1
      s"r$t AS (SELECT pr.p AS pid, ${h13(s"'r1:$t:'||pr.p::VARCHAR")} % 1025) AS r1, ${h13(s"'r2:$t:'||pr.p::VARCHAR")} % 1025) AS r2 FROM range(32) pr(p)), " +
        s"v$t AS (SELECT x.pid, x.i, (floor(v.v/2.0) + floor(r.r1*(pb.px - x.x)/1024.0) + floor(r.r2*(g.g - x.x)/1024.0))::BIGINT AS v FROM x$p x JOIN v$p v ON v.pid = x.pid AND v.i = x.i JOIN pb$p pb ON pb.pid = x.pid AND pb.i = x.i JOIN g$p g ON g.i = x.i JOIN r$t r ON r.pid = x.pid), " +
        s"x$t AS (SELECT x.pid, x.i, (x.x + nv.v)::BIGINT AS x FROM x$p x JOIN v$t nv ON nv.pid = x.pid AND nv.i = x.i), " +
        s"f$t AS (SELECT pid, sum(x*x)::BIGINT AS f FROM x$t GROUP BY 1), " +
        s"bet$t AS (SELECT f$t.pid, f$t.f < fpb$p.f AS b, f$t.f AS fn, fpb$p.f AS fo FROM f$t JOIN fpb$p ON fpb$p.pid = f$t.pid), " +
        s"pb$t AS (SELECT pb.pid, pb.i, CASE WHEN b.b THEN xt.x ELSE pb.px END AS px FROM pb$p pb JOIN x$t xt ON xt.pid = pb.pid AND xt.i = pb.i JOIN bet$t b ON b.pid = pb.pid), " +
        s"fpb$t AS (SELECT pid, CASE WHEN b THEN fn ELSE fo END AS f FROM bet$t), " +
        s"g$t AS (SELECT i, px AS g FROM pb$t WHERE pid = (SELECT pid FROM fpb$t ORDER BY f, pid LIMIT 1))"
    }
    s"WITH x0 AS (SELECT pr.p AS pid, i.i AS i, (${h13("'x:'||pr.p::VARCHAR||':'||i.i::VARCHAR")} % 16384) - 8192) AS x FROM range(32) pr(p), range(4) i(i)), " +
      "v0 AS (SELECT pid, i, 0::BIGINT AS v FROM x0), " +
      "pb0 AS (SELECT pid, i, x AS px FROM x0), " +
      "fpb0 AS (SELECT pid, sum(x*x)::BIGINT AS f FROM x0 GROUP BY 1), " +
      "g0 AS (SELECT i, px AS g FROM pb0 WHERE pid = (SELECT pid FROM fpb0 ORDER BY f, pid LIMIT 1)), " +
      (1 to 3).map(rnd).mkString(", ") +
      " SELECT f.pid, f.f AS f_pbest, s.ps AS pbest_sum, (row_number() OVER (ORDER BY f.f, f.pid)) = 1 AS is_gbest FROM fpb3 f JOIN (SELECT pid, sum(px)::BIGINT AS ps FROM pb3 GROUP BY 1) s ON s.pid = f.pid ORDER BY f.pid"
  }

  /** DuckDB unrolling of a23's 3 rounds — same integer arithmetic. */
  private val kmeansOracleSql: String = {
    def round(n: Int, prev: String): String =
      s"a$n AS (SELECT q0.vec_id, p.c, sum((q0.q - p.m)*(q0.q - p.m))::BIGINT AS dist FROM q0 JOIN $prev p USING (i) GROUP BY 1, 2), " +
        s"b$n AS (SELECT vec_id, c, dist FROM a$n QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY dist, c) = 1), " +
        s"u$n AS (SELECT b$n.c, q0.i, floor(sum(q0.q)::DOUBLE / count(*))::BIGINT AS m FROM b$n JOIN q0 USING (vec_id) GROUP BY 1, 2), " +
        s"c$n AS (SELECT p.c, p.i, coalesce(u$n.m, p.m) AS m FROM $prev p LEFT JOIN u$n ON u$n.c = p.c AND u$n.i = p.i)"
    "WITH q0 AS (SELECT vec_id, i.i AS i, floor(embedding[i.i+1]::DOUBLE * 1024)::BIGINT AS q FROM embeddings, range(64) i(i)), " +
      "c0 AS (SELECT vec_id AS c, i, q AS m FROM q0 WHERE vec_id < 4), " +
      (1 to 3).map(n => round(n, if (n == 1) "c0" else s"c${n - 1}"))
        .mkString(", ") +
      ", n AS (SELECT c, count(*)::BIGINT AS n_members, sum(dist)::BIGINT AS inertia FROM b3 GROUP BY 1)" +
      ", s AS (SELECT c, sum(m)::BIGINT AS cent_sum FROM c3 GROUP BY 1) " +
      "SELECT s.c AS cluster, coalesce(n.n_members, 0)::BIGINT AS n_members, coalesce(n.inertia, 0)::BIGINT AS inertia, s.cent_sum FROM s LEFT JOIN n USING (c) ORDER BY cluster"
  }

  /** a22: Mrs examples parity — iterative Monte-Carlo pi estimation in
    * the GeneratorCallbackMR shape [mrs: examples/pi/, mrs/mapreduce.py]:
    * a generator schedules batch N+1's Spark job BEFORE consuming batch
    * N's result (async submission on a Future = Mrs's overlapped
    * iteration), the driver folds each batch into the running estimate
    * and applies the convergence test (`graft.pi.tol.bp`; default 0 runs
    * all rounds, keeping the trajectory deterministic for the oracle).
    * Points are md5-derived — 13 hex chars / 2^52 is an exact double in
    * [0,1) on any engine — rand() would differ per engine/partitioning.
    * Output is the per-round cumulative state (last row = converged
    * estimate); pi_bp is exact integer arithmetic (40000·inside ÷ pts).
    */
  private def a22(spark: SparkSession, d: String): DataFrame = {
    import scala.concurrent.Future
    import scala.concurrent.ExecutionContext.Implicits.global
    import spark.implicits._
    val nBatches = 10
    val batchSize = 10000L
    val tolBp = spark.conf.getOption("graft.pi.tol.bp").map(_.toLong).getOrElse(0L)
    def coord(axis: String) =
      conv(substring(md5(concat(lit(axis + ":"), col("id").cast("string"))),
        1, 13), 16, 10).cast("long").cast("double") / lit(4503599627370496.0)
    def insideCount(b: Int): Future[Long] = Future {
      val x = coord("x"); val y = coord("y")
      // 4 slices per 10k-point batch: a 32-task stage for a tiny batch
      // is pure scheduler overhead (size slices to the cluster at scale).
      spark.range(b * batchSize, (b + 1) * batchSize, 1, 4)
        .select((x * x + y * y < 1.0).cast("long").as("in"))
        .agg(sum("in")).head().getLong(0)
    }
    // CoreMR.generate schedules every batch up-front (overlapped
    // iteration — Mrs's generator yields every job; callbacks fold
    // results in batch order as they land).
    final case class Pi(rows: Vector[(Long, Long, Long, Long)],
      pts: Long, ins: Long, prevBp: Long)
    val st = CoreMR.generate(Pi(Vector.empty, 0L, 0L, -1L), nBatches)(
      insideCount) { (s, inside, b) =>
      val pts = s.pts + batchSize
      val ins = s.ins + inside
      val bp = 40000L * ins / pts
      val stop = tolBp > 0 && s.prevBp >= 0 && math.abs(bp - s.prevBp) <= tolBp
      (Pi(s.rows :+ ((b.toLong, pts, ins, bp)), pts, ins, bp), !stop)
    }
    st.rows.toDF("batch", "points_cum", "inside_cum", "pi_bp")
      .orderBy("batch")
  }

  /** a17: CSV sink/source round-trip (the reference's extension-driven
    * writer selection [mrs: mrs/fileformats.py]; CSV is the delimited
    * sibling of TextWriter).
    */
  private def a17(spark: SparkSession, d: String): DataFrame = {
    val out = graft.util.TmpDir.path("a17_sink_csv")
    nation(spark, d).write.mode("overwrite")
      .option("header", "true").csv(out)
    spark.read
      .schema("n_nationkey INT, n_name STRING, n_regionkey INT")
      .option("header", "true").csv(out)
      .select("n_nationkey", "n_name")
      .orderBy("n_nationkey")
  }

  /** a24: ORC sink/source round-trip — the columnar sibling of a10/a17
    * (extension-selected writer parity [mrs: mrs/fileformats.py]); ORC
    * preserves the typed schema exactly, so no explicit read schema is
    * needed (unlike csv/json).
    */
  private def a24(spark: SparkSession, d: String): DataFrame = {
    val out = graft.util.TmpDir.path("a24_sink_orc")
    supplier(spark, d).write.mode("overwrite").orc(out)
    spark.read.orc(out)
      .select("s_suppkey", "s_name", "s_nationkey")
      .orderBy("s_suppkey")
  }

  /** a18: JSON-lines sink/source round-trip. Explicit read schema: JSON
    * inference would widen int32 to long and break schema parity.
    */
  private def a18(spark: SparkSession, d: String): DataFrame = {
    val out = graft.util.TmpDir.path("a18_sink_json")
    region(spark, d).write.mode("overwrite").json(out)
    spark.read
      .schema("r_regionkey INT, r_name STRING")
      .json(out)
      .orderBy("r_regionkey")
  }

  /** a19: HexWriter/HexReader analogue [mrs: mrs/fileformats.py] —
    * serialized rows as hex text lines, losslessly round-tripped:
    * key<TAB>hex(value) out, unhex back in.
    */
  private def a19(spark: SparkSession, d: String): DataFrame = {
    val out = graft.util.TmpDir.path("a19_sink_hex")
    graft.sources.PairFiles.writeHex(
      nation(spark, d).select(
        col("n_nationkey").cast("string").as("key"), col("n_name").as("value")),
      out)
    graft.sources.PairFiles.readHex(spark, out)
      .select(col("key").cast("int").as("n_nationkey"),
        col("value").as("n_name"))
      .orderBy("n_nationkey")
  }

  /** a20: hive-style partitioned sink + partition-pruned source — the
    * layout that makes 100 TB scans cheap: `partitionBy(lang)` writes
    * one directory per value; the read-back filter becomes a
    * PartitionFilter (whole directories skipped, verified in
    * RelationalPlanSpec), not a data filter.
    */
  private def a20(spark: SparkSession, d: String): DataFrame = {
    val out = graft.util.TmpDir.path("a20_partitioned")
    documents(spark, d).write.mode("overwrite")
      .partitionBy("lang").parquet(out)
    // explicit schema (partition column last, like the layout): an
    // EMPTY partitioned write leaves nothing to infer from, and an
    // empty corpus must read back as an empty frame, not fail
    spark.read
      .schema("doc_id BIGINT, text STRING, source STRING, n_chars BIGINT, lang STRING")
      .parquet(out)
      .filter(col("lang") === "en")
      .select(col("doc_id"), col("lang"), col("n_chars"))
      .orderBy("doc_id")
  }

  /** a21: the custom Mrs `mod_partition` Partitioner in a real RDD
    * shuffle — `reduceByKey(new ModParter(8), ...)`, then each task
    * reports its actual partition id; the invariant pid == key % 8 is
    * what the oracle checks for every key.
    */
  private def a21(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    lineitem(spark, d)
      // typed extraction: Dataset[Long].rdd deserializes the primitive
      // directly, skipping the per-row GenericRow allocation the
      // untyped .rdd path pays before the shuffle (guide §2.3: narrow
      // the rows entering an exchange — here to the 8-byte key itself)
      .select(col("l_orderkey")).as[Long].rdd.map(k => (k, 1L))
      .reduceByKey(new CoreMR.ModParter(8), _ + _)
      .mapPartitionsWithIndex { (pid, it) =>
        it.map { case (k, cnt) => (pid, k, cnt) }
      }
      .toDF("pid", "l_orderkey", "cnt")
      .orderBy("l_orderkey")
  }

  /** a28: SCHEMA-EVOLUTION source — the long-lived-dataset reality the
    * reference handles through versioned serializers [mrs:
    * mrs/serializers.py, mrs/fileformats.py — format selection per
    * dataset, old data readable after the value type grows fields]:
    * an early writer emits (doc_id, lang), a later writer appends
    * (doc_id, lang, n_chars) to the SAME dataset directory, and a
    * `mergeSchema` read reconciles both footer generations into one
    * frame — old rows null-filled on the new column, no rewrite of old
    * files. At 100 TB this is the only viable evolution path (a
    * rewrite-on-evolve of a petabyte table is not): schema merge is a
    * FOOTER-level operation, per-file pruning/pushdown still applies,
    * and old partitions stay byte-identical. Split here is by doc_id
    * parity so both generations scale with the corpus.
    */
  private def a28(spark: SparkSession, d: String): DataFrame = {
    val out = graft.util.TmpDir.fresh("a28_source_evolving")
    val docs = documents(spark, d)
    docs.filter(col("doc_id") % 2 === 0)
      .select(col("doc_id"), col("lang"))
      .write.mode("append").parquet(out)
    docs.filter(col("doc_id") % 2 === 1)
      .select(col("doc_id"), col("lang"), col("n_chars"))
      .write.mode("append").parquet(out)
    spark.read.option("mergeSchema", "true").parquet(out)
      .select("doc_id", "lang", "n_chars")
      .orderBy("doc_id")
  }

  /** a29: MALFORMED-RECORD ingestion — the dirty-input reality every
    * production reader faces (the reference's readers parse line-wise
    * and a bad line kills the task [mrs: mrs/fileformats.py]; Spark
    * makes the policy declarative via parse modes). A text sink is
    * seeded with one deliberately corrupt variant per 5 nations (wrong
    * arity / non-numeric key), then read back as schema'd CSV under
    * `DROPMALFORMED`: bad lines are discarded by the PARSER, per task,
    * with no job failure and no driver round-trip — at 100 TB a 0.01 %
    * corruption rate is a certainty, and fail-the-job (FAILFAST) or
    * null-flood (PERMISSIVE misuse) are both wrong defaults for bulk
    * ingest. The declared output is exactly the clean rows; the spec
    * additionally asserts the corrupt lines really were present and
    * that PERMISSIVE sees them (so the drop is proven, not vacuous).
    */
  private def a29(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    val out = graft.util.TmpDir.fresh("a29_source_malformed")
    nation(spark, d)
      .select(col("n_nationkey"), col("n_name"), col("n_regionkey"))
      .as[(Int, String, Int)]
      .flatMap { case (k, n, r) =>
        val good = s"$k,$n,$r"
        // every 5th nation also emits a corrupt sibling. NOTE: Spark's
        // CSV parser does NOT treat token-count mismatch as malformed
        // (short rows are null-padded, long rows truncated) — it is
        // solely the unparseable INT key ("key-$k") that fails the
        // schema'd conversion and triggers the DROPMALFORMED discard.
        // Round7PropsSpec pins that property (corrupt key stays
        // non-numeric) so an edit can't silently stop dropping the row.
        if (k % 5 == 0) Seq(good, s"key-$k,$n") else Seq(good)
      }
      .write.mode("overwrite").text(out)
    spark.read
      .schema("n_nationkey INT, n_name STRING, n_regionkey INT")
      .option("mode", "DROPMALFORMED")
      .csv(out)
      .orderBy("n_nationkey")
  }

  /** a30: compression-CODEC control on the columnar sink — the storage
    * knob the reference's extension-selected writers never had [mrs:
    * mrs/fileformats.py picks a FORMAT by extension; codec is not a
    * concept]. At 100 TB the parquet codec is a first-order cost axis
    * (zstd trades ~1.3-1.5× better ratio than snappy for similar decode
    * throughput — scan-bound jobs read fewer bytes, storage bills
    * shrink), and in Spark it is one declarative per-write option, no
    * reader change (each file self-describes its codec in the footer;
    * a directory may even mix codecs across files). Declared output =
    * the zstd read-back (lossless by construction); the spec pins the
    * codec actually landed (file names carry `.zstd`) and snappy-twin
    * row parity.
    */
  private def a30(spark: SparkSession, d: String): DataFrame = {
    val out = graft.util.TmpDir.path("a30_sink_zstd")
    part(spark, d).write.mode("overwrite")
      .option("compression", "zstd").parquet(out)
    spark.read.parquet(out)
      .select("p_partkey", "p_name", "p_retailprice")
      .orderBy("p_partkey")
  }

  /** a31: NESTED-schema source with SCHEMA PRUNING + nested predicate
    * pushdown — the columnar-storage axis the reference's flat
    * key/value readers never meet [mrs: mrs/fileformats.py]: real
    * lake tables nest metadata/content structs, and at 100 TB the
    * difference between reading `meta.lang` (one leaf column chunk)
    * and decoding every struct leaf is the whole game. The demo
    * round-trips documents through a nested layout
    * (meta STRUCT<lang, source, n_chars>, content STRUCT<text>), then
    * reads back ONLY doc_id + two meta leaves under a nested filter —
    * Catalyst's nestedSchemaPruning rewrites the ReadSchema to
    * struct<lang, n_chars> (content never decoded; plan-asserted in
    * the spec) and the `meta.lang = 'en'` predicate pushes to the
    * parquet reader as a nested-field filter.
    */
  private def a31(spark: SparkSession, d: String): DataFrame = {
    val out = graft.util.TmpDir.path("a31_nested")
    documents(spark, d)
      .select(col("doc_id"),
        struct(col("lang"), col("source"), col("n_chars")).as("meta"),
        struct(col("text")).as("content"))
      .write.mode("overwrite").parquet(out)
    spark.read.parquet(out)
      .filter(col("meta.lang") === "en")
      .select(col("doc_id"), col("meta.lang").as("lang"),
        col("meta.n_chars").as("n_chars"))
      .orderBy("doc_id")
  }

  /** a32: XML sink/source round-trip — the one self-describing text
    * format the extension-selected writer family [mrs: mrs/
    * fileformats.py] still lacked here; built into Spark since 4.0
    * (the former spark-xml package), so enterprise feeds (the last
    * major XML producers) read as first-class tables with rowTag
    * record framing, explicit schema (inference would widen INT →
    * BIGINT, the a18 JSON lesson), and the same malformed-record
    * policy surface as CSV/JSON (a29). Declared output = the
    * read-back; the spec pins that real `<nation>` row tags landed
    * on disk.
    */
  private def a32(spark: SparkSession, d: String): DataFrame = {
    val out = graft.util.TmpDir.path("a32_sink_xml")
    nation(spark, d)
      .select("n_nationkey", "n_name", "n_regionkey")
      .write.mode("overwrite").format("xml")
      .option("rowTag", "nation").save(out)
    spark.read.format("xml").option("rowTag", "nation")
      .schema("n_nationkey INT, n_name STRING, n_regionkey INT")
      .load(out)
      .orderBy("n_nationkey")
  }

  /** a33: `binaryFile` source — THE multimodal ingestion entry point
    * (how raw images/audio reach c16/c56's kernels): a directory of
    * opaque files becomes a table of (path, modificationTime, length,
    * content BINARY) with pathGlobFilter/recursiveFileLookup pruning
    * and no decode until the kernel asks. The fixture writes one
    * .bin per nation on the driver (25 files — bounded by the
    * dimension, the a9 `fetchall` class; a real corpus lands files
    * from the crawler, not the driver), reads them back through
    * binaryFile, and declares (key parsed from the filename, byte
    * length, md5 of the raw content) — so the path metadata, the
    * length column, and the binary payload are each pinned.
    */
  private def a33(spark: SparkSession, d: String): DataFrame = {
    val out = graft.util.TmpDir.path("a33_bin_src")
    new java.io.File(out).mkdirs()
    nation(spark, d).select("n_nationkey", "n_name").collect().foreach { r =>
      java.nio.file.Files.write(
        java.nio.file.Paths.get(out, f"n_${r.getInt(0)}%05d.bin"),
        r.getString(1).getBytes("UTF-8"))
    }
    spark.read.format("binaryFile")
      .option("pathGlobFilter", "*.bin").load(out)
      .select(
        regexp_extract(col("path"), "n_(\\d+)\\.bin$", 1).cast("int")
          .as("n_nationkey"),
        col("length"),
        md5(col("content")).as("content_fp"))
      .orderBy("n_nationkey")
  }

  /** a34: STORAGE-PARTITIONED JOIN on the custom DSv2 source — the
    * Iceberg-bucket-join shape, unavailable offline any other way: two
    * pairgen tables declared with the same `buckets=8` key-grouped
    * layout (`KeyGroupedPartitioning(identity(grp))`, one
    * [[graft.sources.PairGenBucketPartition]] per grp value) join on
    * (grp, id) with ZERO exchange on either side — EnsureRequirements
    * aligns the reported layouts instead of shuffling, and the
    * downstream per-grp aggregate rides the same partitioning. This is
    * b25's pay-once bucketing story moved INTO the connector: at
    * 100 TB the table's physical layout (Iceberg/Delta bucket
    * transform) replaces the join shuffle entirely, fact-to-fact.
    *
    * Conf scope (b71's eager pattern — AQE/planner read these at
    * execution, so the query runs eagerly inside the scope and
    * materializes only the 8-row aggregate):
    * `v2.bucketing.enabled` turns key-grouped reporting on;
    * `requireAllClusterKeysForCoPartition=false` accepts partition
    * keys that are a SUBSET of the join keys ({grp} ⊂ {grp, id} —
    * the normal bucketed-table case); broadcast thresholds off so the
    * 5k-row side can't dodge into BHJ and hide the demonstration.
    * n_value_eq joins the two sides' GENERATED payloads — it proves
    * the stride readers of both tables emit identical values for the
    * same id, not just aligned partition metadata.
    */
  private val a34Confs = Seq(
    "spark.sql.sources.v2.bucketing.enabled" -> "true",
    "spark.sql.requireAllClusterKeysForCoPartition" -> "false",
    "spark.sql.autoBroadcastJoinThreshold" -> "-1",
    "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1")

  private[operators] def a34Exec(s: SparkSession, d: String)
      : (DataFrame, String) = {
    graft.util.GraftConf.withConf(s, a34Confs: _*) {
      def gen(rows: Int) = s.read.format("pairgen")
        .option("rows", rows.toString).option("buckets", "8").load()
      val joined = gen(10000).as("l")
        .join(gen(5000).hint("merge").as("r"),
          col("l.grp") === col("r.grp") && col("l.id") === col("r.id"))
        .groupBy(col("l.grp").as("grp"))
        .agg(count(lit(1)).as("n_pairs"),
          min(col("l.id")).as("min_id"), max(col("l.id")).as("max_id"),
          count(when(col("l.value") === col("r.value"), 1)).as("n_value_eq"))
        .orderBy("grp")
      val out = joined.localCheckpoint()
      (out, joined.queryExecution.executedPlan.toString)
    }
  }

  private def a34(s: SparkSession, d: String): DataFrame = a34Exec(s, d)._1

  /** a39: ORDERING-REPORTED MERGE JOIN — a34's co-bucketed
    * storage-partitioned join completed by `SupportsReportOrdering`:
    * each bucket partition provably emits (grp constant, id
    * ascending), the scan now DECLARES that ordering, and
    * EnsureRequirements drops the per-partition Sort below the
    * sort-merge join as well as the exchange — the fully realized
    * sorted-bucketed-layout ideal (Hive SMB tables, Iceberg sorted
    * write order): join cost collapses to a streaming merge of
    * co-located, pre-sorted runs. The spec proves ZERO SortExec
    * below the join and zero hash exchanges in the same plan; at
    * 100 TB the eliminated sort is O(fact log fact) per query,
    * amortized once into the write layout. Filters compose: the
    * range predicate narrows the generated span before the join.
    */
  private[operators] def a39Exec(s: SparkSession, d: String)
      : (DataFrame, String) = {
    graft.util.GraftConf.withConf(s, a34Confs: _*) {
      def gen(rows: Int) = s.read.format("pairgen")
        .option("rows", rows.toString).option("buckets", "8").load()
      val joined = gen(12000).filter(col("id") >= 400).as("l")
        .join(gen(6000).hint("merge").as("r"),
          col("l.grp") === col("r.grp") && col("l.id") === col("r.id"))
        .groupBy(col("l.grp").as("grp"))
        .agg(count(lit(1)).as("n_pairs"),
          min(col("l.id")).as("min_id"), max(col("l.id")).as("max_id"))
        .orderBy("grp")
      val out = joined.localCheckpoint()
      (out, joined.queryExecution.executedPlan.toString)
    }
  }

  private def a39(s: SparkSession, d: String): DataFrame = a39Exec(s, d)._1

  /** a40: WRITE-SIDE LAYOUT CONTRACT
    * (`RequiresDistributionAndOrdering`) — the missing half of the
    * layout story: a34/a39 demonstrated READS exploiting a clustered,
    * sorted layout; this is how the layout comes to EXIST. The
    * graftmem table is created with `graft.write_layout = 'k,v'`, so
    * its Write DEMANDS clustering by k and per-task (k, v) ordering
    * from the engine — Spark inserts the exchange and sort below the
    * write (`DistributionAndOrderingUtils`, the Iceberg
    * write-distribution-mode shape) with NO layout code in the query:
    * the append below hands over a deliberately round-robin-scrambled
    * frame. The connector VERIFIES the contract with data, not trust:
    * every writer task throws on the first out-of-order row and the
    * commit rejects a cluster split across tasks — so this query
    * SUCCEEDING is the proof the engine delivered the layout. At
    * 100 TB this is the pay-once sort/shuffle that makes a34/a39's
    * exchange-free, sort-free reads possible, demanded by the table
    * instead of remembered by every writing job.
    */
  private def a40(s: SparkSession, d: String): DataFrame = {
    val tbl = graft.util.DemoTables.freshGraftmem(s, d, "clust",
      "(k BIGINT, v BIGINT) TBLPROPERTIES ('graft.write_layout' = 'k,v')")
    orders(s, d)
      .selectExpr("o_custkey % 100 AS k",
        "CAST(floor(o_totalprice * 100) AS BIGINT) AS v")
      .repartition(8) // scramble: the ENGINE must restore the layout
      .writeTo(tbl).append()
    s.sql(
      s"""SELECT k % 10 AS k_mod, count(*) AS n,
         |  count(DISTINCT k) AS n_k,
         |  CAST(sum(CAST(v AS DECIMAL(38,0))) AS BIGINT) AS v_sum
         |FROM $tbl GROUP BY k % 10 ORDER BY k_mod""".stripMargin)
  }

  /** a35: AGGREGATE PUSHDOWN into the custom DSv2 source
    * (`SupportsPushDownAggregates`, complete pushdown) — COUNT/MIN/MAX
    * grouped by the bucket key are answered CLOSED-FORM by the
    * connector from the (filter-narrowed) id range, the generator's
    * analogue of parquet footer statistics / Iceberg manifest
    * aggregates: the scan emits one final row per bucket and the plan
    * contains NO aggregation operator at all (spec-asserted, along
    * with the fallback: an unsupported SUM still plans the ordinary
    * row scan + hash aggregate). At 100 TB this is the difference
    * between a metadata read and a full-table scan for the
    * count/min/max class of audit queries. Filter pushdown composes:
    * Spark narrows [lo, hi) before the aggregate arrives.
    */
  private def a35(s: SparkSession, d: String): DataFrame =
    s.read.format("pairgen")
      .option("rows", "100000").option("buckets", "8").load()
      .filter(col("id") >= 1000 && col("id") < 90000)
      .groupBy("grp")
      .agg(count(lit(1)).as("n_ids"),
        min(col("id")).as("min_id"), max(col("id")).as("max_id"))
      .orderBy("grp")

  /** a36: TOP-N PUSHDOWN into the custom DSv2 source
    * (`SupportsPushDownTopN`, plus `SupportsPushDownLimit` for the
    * unordered case): `ORDER BY id DESC LIMIT n` over the
    * deterministic generator is pure range narrowing — the connector
    * clamps to the last n ids of the (filter-narrowed) range and
    * emits them in order from ONE partition, so Spark drops its own
    * Sort+Limit entirely (`isPartiallyPushed = false`; the plan
    * carries no TakeOrdered — spec-asserted). The file-source
    * analogue is serving top-N from a sorted/indexed layout instead
    * of scanning and sorting; at 100 TB that turns an O(table) sort
    * into an O(n) metadata-guided read. A bare LIMIT narrows the
    * range too but conservatively leaves Spark's limit operator in
    * place (partially-pushed contract).
    */
  private def a36(s: SparkSession, d: String): DataFrame =
    s.read.format("pairgen").option("rows", "100000").load()
      .filter(col("id") >= 500)
      .orderBy(col("id").desc).limit(7)

  /** a37: RUNTIME FILTERING on the custom DSv2 source
    * (`SupportsRuntimeV2Filtering`) — dynamic partition pruning for
    * connectors, b55's parquet DPP re-expressed at the DSv2 extension
    * point (the Iceberg manifest-pruning shape): Spark evaluates the
    * broadcast dim side FIRST (region filtered to two names), hands
    * the surviving join keys to the scan as a runtime `IN(grp, …)`
    * predicate, and the scan SKIPS whole bucket partitions before a
    * single row is generated — the spec proves it by the scan's
    * numOutputRows metric (2 buckets' worth, not 8). Runtime filters
    * are an optimization contract, never correctness: the join above
    * re-applies the condition, so an ignored or partial filter only
    * costs time. At 100 TB this is the difference between generating
    * (reading) 8/8 and 2/8 of a table to serve a selective
    * dim-filtered join.
    */
  private def a37(s: SparkSession, d: String): DataFrame =
    s.read.format("pairgen")
      .option("rows", "100000").option("buckets", "8").load()
      .join(region(s, d).filter(col("r_name").isin("ASIA", "AMERICA")),
        col("grp") === col("r_regionkey"))
      .groupBy("grp")
      .agg(count(lit(1)).as("n_ids"), min(col("id")).as("min_id"),
        max(col("id")).as("max_id"))
      .orderBy("grp")

  /** a38: CONNECTOR STATISTICS (`SupportsReportStatistics`) — the
    * scan reports exact row count and bytes for its (filter-narrowed,
    * column-pruned) range, and the PLANNER consumes them: a side whose
    * reported size clears `autoBroadcastJoinThreshold` is chosen for
    * broadcast at PLAN TIME — no hint, no AQE runtime probe (the spec
    * pins this with AQE off, plus the contrast: an over-threshold
    * side shuffles). Without the report a DSv2 relation defaults to
    * `spark.sql.defaultSizeInBytes` = Long.Max — never
    * broadcast-able at plan time — so stats are what turn the first
    * execution's shuffle into a broadcast; at 100 TB that is the
    * entire first-run cost of every dim join in a fact pipeline
    * (AQE can only fix it AFTER materializing the shuffle). Bonus
    * visible in the plan: the small side's pushed `id >= 1000` bound
    * propagates to the BIG side through join-key equivalence, so both
    * generated ranges narrow before a row exists.
    */
  private def a38(s: SparkSession, d: String): DataFrame = {
    val big = s.read.format("pairgen").option("rows", "200000").load()
    val small = s.read.format("pairgen").option("rows", "2000").load()
      .filter(col("id") >= 1000)
      .withColumnRenamed("value", "v2")
    big.join(small, Seq("id"))
      .agg(count(lit(1)).as("n_pairs"),
        min(col("id")).as("min_id"), max(col("id")).as("max_id"),
        count(when(col("value") === col("v2"), 1)).as("n_value_eq"))
  }

  /** a41: CONNECTOR COLUMN STATISTICS drive JOIN REORDER with no
    * ANALYZE — the statistics story's last mile: a38 proved
    * connector row/byte counts flip a join to broadcast, b81 proved
    * ANALYZE'd column NDVs reorder a multi-join; a41 proves the NDVs
    * can come FROM THE CONNECTOR ITSELF (`Statistics.columnStats`,
    * the Iceberg-NDV-sketch / Delta-column-stats shape — pairgen
    * knows its NDVs exactly by construction). Three pairgen
    * relations: fact (100k rows, grp over 64 values), a 1:1 big
    * dim on id (no reduction), a 2-value dim on grp (cuts the fact
    * 32×). The syntactic order joins the big dim first; with CBO +
    * joinReorder on, `JoinEstimation` sizes both orders from the
    * REPORTED NDVs and commutes the selective dim below — zero
    * ANALYZE, zero hints (spec asserts the innermost join is the grp
    * join under CBO and the id join without). At 100 TB table-format
    * metadata is exactly this interface: the plan is right on the
    * FIRST run, before any stats job ever executed.
    */
  private val a41Confs = Seq(
    "spark.sql.cbo.enabled" -> "true",
    "spark.sql.cbo.joinReorder.enabled" -> "true")

  private[operators] def a41Exec(s: SparkSession, cbo: Boolean = true)
      : (DataFrame, org.apache.spark.sql.catalyst.plans.logical
        .LogicalPlan) = {
    // buckets=64, not 1000: the bucketed layout plans ONE partition
    // per grp value, and a thousand 80-row tasks would be pure
    // scheduler overhead — the demo needs the NDV CONTRAST (64 vs 2),
    // not a thousand physical buckets
    s.read.format("pairgen").option("rows", "100000")
      .option("buckets", "64").load()
      .createOrReplaceTempView("g_a41_fact")
    s.read.format("pairgen").option("rows", "100000").load()
      .createOrReplaceTempView("g_a41_dimb")
    s.read.format("pairgen").option("rows", "2")
      .option("buckets", "64").load()
      .createOrReplaceTempView("g_a41_dims")
    graft.util.GraftConf.withConf(s, (if (cbo) a41Confs else Nil): _*) {
      val q = s.sql(
        """SELECT count(*) AS n_pairs, min(f.id) AS min_id,
          |  max(f.id) AS max_id
          |FROM g_a41_fact f
          |JOIN g_a41_dimb b ON f.id = b.id
          |JOIN g_a41_dims t ON f.grp = t.grp""".stripMargin)
      // optimize INSIDE the conf scope (CBO flags are read at
      // optimization time); expose the optimized plan for the spec's
      // innermost-join assertion
      val plan = q.queryExecution.optimizedPlan
      (q.localCheckpoint(), plan)
    }
  }

  private def a41(s: SparkSession, d: String): DataFrame =
    a41Exec(s)._1

  /** a42: JOIN PUSHDOWN (`SupportsPushDownJoin`,
    * `spark.sql.optimizer.datasourceV2JoinPushdown`) — the newest
    * DSv2 planner face, with JDBC as Spark's reference
    * implementation (ship the JOIN to the database): the planner
    * offers a join of two compatible scans to the connector, and a
    * connector that can answer it absorbs BOTH relations — the plan
    * contains NO join operator at all. For pairgen the inner
    * equi-join on `id` is closed-form (both sides generate identical
    * rows per id, so the join IS the range intersection), and
    * pushed filters compose for free: the right side's `id >= 1000`
    * narrowed its range before the intersection. The aggregate here
    * deliberately includes a value comparison the source can't
    * answer, so the JOINED ROW SCAN executes (the spec's twin
    * asserts the fully-collapsed join+aggregate case too). At 100 TB
    * this face is how a federated fact-dim join runs IN the remote
    * store instead of shipping both tables through the cluster.
    * Unsupported shapes (outer joins, non-id conditions, bucketed
    * sides) return false and Spark keeps its own join — pushdown is
    * an optimization contract, never a semantics change.
    */
  private val a42Conf = "spark.sql.optimizer.datasourceV2JoinPushdown"

  private[operators] def a42Exec(s: SparkSession, push: Boolean = true)
      : (DataFrame, String) = {
    graft.util.GraftConf.withConf(s, a42Conf -> push.toString) {
      val l = s.read.format("pairgen").option("rows", "100000").load()
      val r = s.read.format("pairgen").option("rows", "30000").load()
        .where(col("id") >= 1000)
      val q = l.join(r, l("id") === r("id"))
        .agg(count(lit(1)).as("n_pairs"),
          min(l("id")).as("min_id"), max(l("id")).as("max_id"),
          count(when(l("value") === r("value"), 1)).as("n_value_eq"))
      val plan = q.queryExecution.executedPlan.toString
      (q.localCheckpoint(), plan)
    }
  }

  private def a42(s: SparkSession, d: String): DataFrame =
    a42Exec(s)._1

  /** a43: VARIANT-EXTRACTION PUSHDOWN
    * (`SupportsPushDownVariantExtractions`,
    * `spark.sql.variant.pushVariantIntoScan`) — the connector face of
    * Spark-4 semi-structured data, with parquet's shredded-variant
    * reader as the engine's reference impl: the planner collects the
    * `variant_get` paths a query actually extracts and OFFERS them to
    * the source; on acceptance the scan reports the variant column as
    * a STRUCT of the accepted extractions (array order = ordinal
    * contract — the engine rewrites each variant_get into an ordinal
    * struct access), and the variant BINARY is never built at all.
    * pairgen's `variant=true` column is
    * meta = {"k": id % 8, "tag": "t" + (id % 3)}; both paths are
    * closed-form, so the pushed plan generates two typed columns
    * straight from arithmetic. Unsupported paths decline
    * all-or-nothing and the full variant materializes for Spark to
    * extract from (spec covers pushed, declined, and
    * pushdown-off — all result-identical). At 100 TB this is reading
    * two shredded columns instead of decoding every row's variant
    * blob: the difference between a columnar scan and a JSON parse
    * of the corpus.
    */
  private val a43Conf = "spark.sql.variant.pushVariantIntoScan"

  private[operators] def a43Exec(s: SparkSession, push: Boolean = true)
      : (DataFrame, String) = {
    graft.util.GraftConf.withConf(s, a43Conf -> push.toString) {
      s.read.format("pairgen").option("rows", "100000")
        .option("variant", "true").load()
        .createOrReplaceTempView("g_a43_vt")
      val q = s.sql(
        """SELECT variant_get(meta, '$.k', 'long') AS k,
          |  variant_get(meta, '$.tag', 'string') AS tag,
          |  count(*) AS n, min(id) AS min_id, max(id) AS max_id
          |FROM g_a43_vt GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)
      val plan = q.queryExecution.executedPlan.toString
      (q.localCheckpoint(), plan)
    }
  }

  private def a43(s: SparkSession, d: String): DataFrame =
    a43Exec(s)._1

  /** a44: COLUMNAR (VECTORIZED) SOURCE READS — the batch-at-a-time
    * scan shape every columnar format reader uses (parquet's
    * vectorized reader is the canonical one), at the DSv2 extension
    * point: the pairgen factory reports `supportColumnarReads` for
    * plain id/value partitions and serves 4096-row `ColumnarBatch`es
    * into on-heap vectors; Spark plans the scan COLUMNAR and inserts
    * the `ColumnarToRow` transition that feeds whole-stage codegen
    * (spec-asserted, plus bit-equality of the columnar and row
    * generators). The query aggregates on the VALUE column
    * (first-hex-char histogram + per-bucket min/max md5), which no
    * pushdown face absorbs — so the scan really streams 100k
    * generated rows through the vectorized path. At 100 TB columnar
    * batches are the difference between per-row iterator virtual
    * calls and tight per-column loops — the same reason the parquet
    * reader vectorizes.
    */
  /** a45: METADATA COLUMNS on the custom DSv2 source
    * (`SupportsMetadataColumns`) — row PROVENANCE at the storage
    * grain, the connector face of `_metadata.file_path` on file
    * sources: `_split_id` names the planned split that generated each
    * row, hidden from `SELECT *` (the engine's metadata-column
    * contract) and materialized only when a query names it — the
    * engine appends it to the pruned read schema and the source's row
    * reader emits it per partition. The declared query proves the
    * planner's actual split geometry: a pushed filter narrows the
    * range FIRST (a26's composition), the 8 splits then partition the
    * NARROWED range, and the per-split (count, min, max) census is
    * closed-form from splitRange's arithmetic — the oracle recomputes
    * the exact boundaries. min(value) per split additionally proves
    * real rows flowed through the row path (no pushdown face absorbs
    * it). At 100 TB metadata columns are how audits attribute rows to
    * files/splits without a side channel — debugging skew, locating
    * corruption, building file-grain lineage.
    */
  private def a45(s: SparkSession, d: String): DataFrame =
    s.read.format("pairgen").option("rows", "100000")
      .option("slices", "8").load()
      .filter(col("id") >= 1000L)
      .groupBy(col("_split_id"))
      .agg(count(lit(1)).as("n_ids"), min("id").as("min_id"),
        max("id").as("max_id"), min("value").as("min_md5"))
      .orderBy("_split_id")

  private def a44(s: SparkSession, d: String): DataFrame =
    s.read.format("pairgen").option("rows", "200000")
      .option("slices", "8").load()
      .filter(col("id") >= 50000L && col("id") < 150000L)
      .groupBy(substring(col("value"), 1, 1).as("b"))
      .agg(count(lit(1)).as("n"), min("value").as("min_md5"),
        max("value").as("max_md5"))
      .orderBy("b")

  val defs: Seq[QueryDef] = Seq(
    // a45's oracle recomputes splitRange's exact boundary arithmetic
    // over the filter-narrowed range — the split census is the
    // planner's geometry, not a black box.
    QueryDef("a45_source_metadata_columns", a45 _, Some(
      "WITH s AS (SELECT i AS sp, 1000 + (99000 * i) // 8 AS lo, 1000 + (99000 * (i + 1)) // 8 AS hi FROM range(8) t(i)), g AS (SELECT t.i AS id, md5(t.i::VARCHAR) AS value FROM range(100000) t(i) WHERE t.i >= 1000) SELECT s.sp::BIGINT AS _split_id, count(*)::BIGINT AS n_ids, min(g.id)::BIGINT AS min_id, max(g.id)::BIGINT AS max_id, min(value) AS min_md5 FROM g JOIN s ON g.id >= s.lo AND g.id < s.hi GROUP BY 1 ORDER BY 1")),
    QueryDef("a44_source_columnar", a44 _, Some(
      "WITH g AS (SELECT t.i AS id, md5(t.i::VARCHAR) AS value FROM range(200000) t(i) WHERE t.i >= 50000 AND t.i < 150000) SELECT substr(value, 1, 1) AS b, count(*)::BIGINT AS n, min(value) AS min_md5, max(value) AS max_md5 FROM g GROUP BY 1 ORDER BY 1")),
    QueryDef("a43_source_variant_pushdown", a43 _, Some(
      "SELECT (t.i % 8)::BIGINT AS k, 't' || (t.i % 3) AS tag, count(*)::BIGINT AS n, min(t.i)::BIGINT AS min_id, max(t.i)::BIGINT AS max_id FROM range(100000) t(i) GROUP BY 1, 2 ORDER BY 1, 2")),
    QueryDef("a42_source_join_pushdown", a42 _, Some(
      "WITH l AS (SELECT t.i AS id, md5(t.i::VARCHAR) AS value FROM range(100000) t(i)), r AS (SELECT t.i AS id, md5(t.i::VARCHAR) AS v2 FROM range(30000) t(i) WHERE t.i >= 1000) SELECT count(*)::BIGINT AS n_pairs, min(l.id)::BIGINT AS min_id, max(l.id)::BIGINT AS max_id, sum(CASE WHEN value = v2 THEN 1 ELSE 0 END)::BIGINT AS n_value_eq FROM l JOIN r USING (id)")),
    QueryDef("a41_source_column_stats", a41 _, Some(
      "WITH f AS (SELECT t.i AS id, (t.i % 64) AS grp FROM range(100000) t(i)), b AS (SELECT t.i AS id FROM range(100000) t(i)), s AS (SELECT (t.i % 64) AS grp FROM range(2) t(i)) SELECT count(*)::BIGINT AS n_pairs, min(f.id)::BIGINT AS min_id, max(f.id)::BIGINT AS max_id FROM f JOIN b ON f.id = b.id JOIN s ON f.grp = s.grp")),
    QueryDef("a38_source_stats_broadcast", a38 _, Some(
      "WITH big AS (SELECT t.i AS id, md5(t.i::VARCHAR) AS value FROM range(200000) t(i)), small AS (SELECT t.i AS id, md5(t.i::VARCHAR) AS v2 FROM range(2000) t(i) WHERE t.i >= 1000) SELECT count(*)::BIGINT AS n_pairs, min(big.id)::BIGINT AS min_id, max(big.id)::BIGINT AS max_id, sum(CASE WHEN value = v2 THEN 1 ELSE 0 END)::BIGINT AS n_value_eq FROM big JOIN small USING (id)")),
    QueryDef("a37_source_runtime_filter", a37 _, Some(
      "SELECT (t.i % 8)::BIGINT AS grp, count(*)::BIGINT AS n_ids, min(t.i)::BIGINT AS min_id, max(t.i)::BIGINT AS max_id FROM range(100000) t(i) JOIN region ON (t.i % 8) = r_regionkey WHERE r_name IN ('ASIA', 'AMERICA') GROUP BY 1 ORDER BY 1")),
    QueryDef("a36_source_topn_pushdown", a36 _, Some(
      "SELECT t.i AS id, md5(t.i::VARCHAR) AS value FROM range(100000) t(i) WHERE t.i >= 500 ORDER BY id DESC LIMIT 7")),
    QueryDef("a35_source_agg_pushdown", a35 _, Some(
      "SELECT (t.i % 8)::BIGINT AS grp, count(*)::BIGINT AS n_ids, min(t.i)::BIGINT AS min_id, max(t.i)::BIGINT AS max_id FROM range(100000) t(i) WHERE t.i >= 1000 AND t.i < 90000 GROUP BY 1 ORDER BY 1")),
    QueryDef("a40_sink_clustered_write", a40 _, Some(
      "SELECT (o_custkey % 100) % 10 AS k_mod, count(*)::BIGINT AS n, count(DISTINCT o_custkey % 100)::BIGINT AS n_k, sum(floor(o_totalprice * 100)::BIGINT)::BIGINT AS v_sum FROM orders GROUP BY 1 ORDER BY 1")),
    QueryDef("a39_join_ordered_scan", a39 _, Some(
      "WITH l AS (SELECT t.i AS id, t.i % 8 AS grp FROM range(12000) t(i) WHERE t.i >= 400), r AS (SELECT t.i AS id, t.i % 8 AS grp FROM range(6000) t(i)) SELECT l.grp::BIGINT AS grp, count(*)::BIGINT AS n_pairs, min(l.id)::BIGINT AS min_id, max(l.id)::BIGINT AS max_id FROM l JOIN r ON l.grp = r.grp AND l.id = r.id GROUP BY 1 ORDER BY 1")),
    QueryDef("a34_join_storage_partitioned", a34 _, Some(
      "WITH l AS (SELECT t.i AS id, md5(t.i::VARCHAR) AS value, t.i % 8 AS grp FROM range(10000) t(i)), r AS (SELECT t.i AS id, md5(t.i::VARCHAR) AS value, t.i % 8 AS grp FROM range(5000) t(i)) SELECT l.grp::BIGINT AS grp, count(*)::BIGINT AS n_pairs, min(l.id)::BIGINT AS min_id, max(l.id)::BIGINT AS max_id, sum(CASE WHEN l.value = r.value THEN 1 ELSE 0 END)::BIGINT AS n_value_eq FROM l JOIN r ON l.grp = r.grp AND l.id = r.id GROUP BY 1 ORDER BY 1")),
    QueryDef("a33_source_binary_files", a33 _, Some(
      "SELECT n_nationkey, length(n_name)::BIGINT AS length, md5(n_name) AS content_fp FROM nation ORDER BY n_nationkey")),
    QueryDef("a32_source_xml", a32 _, Some(
      "SELECT n_nationkey, n_name, n_regionkey FROM nation ORDER BY n_nationkey")),
    QueryDef("a31_source_nested", a31 _, Some(
      "SELECT doc_id, lang, n_chars FROM documents WHERE lang = 'en' ORDER BY doc_id")),
    QueryDef("a30_sink_compressed", a30 _, Some(
      "SELECT p_partkey, p_name, p_retailprice FROM part ORDER BY p_partkey")),
    QueryDef("a29_source_malformed", a29 _, Some(
      "SELECT n_nationkey, n_name, n_regionkey FROM nation ORDER BY n_nationkey")),
    QueryDef("a28_source_evolving", a28 _, Some(
      "SELECT doc_id, lang, CASE WHEN doc_id % 2 = 1 THEN n_chars END AS n_chars FROM documents ORDER BY doc_id")),
    QueryDef("a21_rdd_partitioner", a21 _, Some(
      "SELECT (l_orderkey % 8)::INTEGER AS pid, l_orderkey, count(*)::BIGINT AS cnt FROM lineitem GROUP BY 1, 2 ORDER BY l_orderkey")),
    QueryDef("a20_sink_partitioned", a20 _, Some(
      "SELECT doc_id, lang, n_chars FROM documents WHERE lang = 'en' ORDER BY doc_id")),
    QueryDef("a19_sink_hex", a19 _, Some(
      "SELECT n_nationkey, n_name FROM nation ORDER BY n_nationkey")),
    QueryDef("a24_sink_orc", a24 _, Some(
      "SELECT s_suppkey, s_name, s_nationkey FROM supplier ORDER BY s_suppkey")),
    QueryDef("a17_sink_csv", a17 _, Some(
      "SELECT n_nationkey, n_name FROM nation ORDER BY n_nationkey")),
    QueryDef("a18_sink_json", a18 _, Some(
      "SELECT r_regionkey, r_name FROM region ORDER BY r_regionkey")),
    QueryDef("a1_source_text", a1 _, Some(
      "SELECT doc_id, text FROM documents ORDER BY doc_id")),
    QueryDef("a2_source_local", a2 _, Some(
      "SELECT * FROM (VALUES (1,'alpha'),(2,'beta'),(3,'gamma'),(4,'delta')) t(k, v) ORDER BY k")),
    QueryDef("a3_map", a3 _, Some(
      "SELECT doc_id, word FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents) ORDER BY doc_id, word")),
    QueryDef("a4_reduce", a4 _, Some(
      "SELECT l_returnflag AS key, count(*)::BIGINT AS cnt, sum(l_quantity::BIGINT)::BIGINT AS qty_total FROM lineitem GROUP BY 1 ORDER BY 1")),
    QueryDef("a5_reducemap", a5 _, Some(
      "SELECT 'f_' || lower(l_returnflag) AS key, count(*)::BIGINT AS cnt FROM lineitem GROUP BY 1 ORDER BY 1")),
    QueryDef("a6_partition_hash", a6 _, Some(
      s"SELECT ${duckHash("l_orderkey")} % 8 AS pid, count(*)::BIGINT AS cnt FROM lineitem GROUP BY 1 ORDER BY 1")),
    QueryDef("a7_partition_mod", a7 _, Some(
      "SELECT l_orderkey % 8 AS pid, count(*)::BIGINT AS cnt FROM lineitem GROUP BY 1 ORDER BY 1")),
    QueryDef("a8_sort_in_reduce", a8 _, Some(
      "SELECT user_id, count(*)::BIGINT AS cnt, floor(epoch(min(ts)))::BIGINT AS first_s, floor(epoch(max(ts)))::BIGINT AS last_s FROM events GROUP BY 1 ORDER BY 1")),
    QueryDef("a9_collect", a9 _, Some(
      "SELECT r_regionkey, r_name FROM region ORDER BY r_regionkey")),
    QueryDef("a10_sink_text", a10 _, Some(
      "SELECT n_nationkey, n_name FROM nation ORDER BY n_nationkey")),
    QueryDef("a11_sink_binary", a11 _, Some(
      "SELECT vec_id, label, len(embedding)::BIGINT AS dim, embedding[1]::DOUBLE AS e0 FROM embeddings ORDER BY vec_id")),
    QueryDef("a12_serializers", a12 _, Some(
      "SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders WHERE o_totalprice > 100000 ORDER BY o_orderkey")),
    QueryDef("a13_iterative", a13 _, Some(
      "SELECT l_returnflag AS key, count(*)::BIGINT AS cnt FROM lineitem GROUP BY 1 ORDER BY 1")),
    QueryDef("a23_kmeans_iterative", a23 _, Some(kmeansOracleSql)),
    QueryDef("a25_pso_iterative", a25 _, Some(psoOracleSql)),
    QueryDef("a26_source_custom", a26 _, Some(
      "SELECT t.i AS id, md5(t.i::VARCHAR) AS value FROM range(10000) t(i) WHERE t.i >= 9000 ORDER BY id")),
    QueryDef("a27_sink_custom", a27 _, Some(
      "SELECT n_nationkey, n_name FROM nation ORDER BY n_nationkey")),
    QueryDef("a22_pi_iterative", a22 _, Some(
      "WITH pts AS (SELECT t.i AS id, (t.i // 10000)::BIGINT AS batch, ('0x'||substr(md5('x:'||t.i::VARCHAR),1,13))::BIGINT / 4503599627370496.0 AS x, ('0x'||substr(md5('y:'||t.i::VARCHAR),1,13))::BIGINT / 4503599627370496.0 AS y FROM range(100000) t(i)), per AS (SELECT batch, count(*)::BIGINT AS pts, sum(CASE WHEN x*x + y*y < 1.0 THEN 1 ELSE 0 END)::BIGINT AS inside FROM pts GROUP BY 1), cum AS (SELECT batch, sum(pts) OVER (ORDER BY batch)::BIGINT AS points_cum, sum(inside) OVER (ORDER BY batch)::BIGINT AS inside_cum FROM per) SELECT batch, points_cum, inside_cum, ((40000 * inside_cum) // points_cum)::BIGINT AS pi_bp FROM cum ORDER BY batch")),
    QueryDef("a16_wordcount", (s, d) => wordcount(s, d), Some(
      "SELECT word, count(*)::BIGINT AS cnt FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents) GROUP BY word ORDER BY cnt DESC, word")),
  )
}
