package graft.operators

import graft.{SparkEntry, SparkSpec}
import org.apache.spark.sql.functions._

/** Semantic invariants of the round-3 changes (the oracle checks
  * equality with DuckDB; these check the MATH).
  */
class Round3PropsSpec extends SparkSpec {

  private def q(name: String) = SparkEntry.queries(name)(spark, sf0001)

  /** Independent driver-side replay of c19's training recurrence on the
    * tiny corpus: 2 Lloyd rounds on the 2^-10 integer lattice from the
    * first-8 seeds must (a) not increase total quantization error and
    * (b) not increase cell-size skew versus the untrained stand-in.
    */
  test("c19: trained codebook beats the raw-seed stand-in (inertia and skew)") {
    import spark.implicits._
    val vecs = graft.util.Tables.embeddings(spark, sf0001)
      .select(col("vec_id"), col("embedding"))
      .as[(Long, Array[Float])].collect()
    val qv = vecs.map { case (id, e) =>
      (id, e.map(v => math.floor(v.toDouble * 1024.0).toLong))
    }
    val dim = 64
    def dist(a: Array[Long], b: Array[Long]): Long = {
      var acc = 0L; var i = 0
      while (i < dim) { val d = a(i) - b(i); acc += d * d; i += 1 }
      acc
    }
    def assign(cents: Array[Array[Long]]): Array[(Int, Long)] =
      qv.map { case (_, v) =>
        var best = 0; var bd = Long.MaxValue
        cents.indices.foreach { c =>
          val dd = dist(v, cents(c)); if (dd < bd) { bd = dd; best = c }
        }
        (best, bd)
      }
    def lloyd(cents: Array[Array[Long]]): Array[Array[Long]] = {
      val asg = assign(cents).map(_._1)
      Array.tabulate(cents.length) { c =>
        val mem = qv.indices.filter(asg(_) == c)
        if (mem.isEmpty) cents(c)
        else Array.tabulate(dim)(i =>
          math.floor(mem.map(qv(_)._2(i)).sum.toDouble / mem.size).toLong)
      }
    }
    val seeds = qv.filter(_._1 < 8).sortBy(_._1).map(_._2)
    val trained = lloyd(lloyd(seeds))
    val before = assign(seeds)
    val after = assign(trained)
    // Lloyd's guarantee is on the OBJECTIVE: total quantization error
    // never increases (and on real clustered data strictly drops; this
    // synthetic corpus is near-uniform, so cell-size balance is already
    // optimal before training and only inertia is a lawful invariant).
    assert(after.map(_._2).sum < before.map(_._2).sum,
      "training did not reduce quantization inertia")
    def sizes(a: Array[(Int, Long)]): Array[Long] =
      Array.tabulate(8)(c => a.count(_._1 == c).toLong)
    def spread(sz: Array[Long]): Long = sz.max - sz.min
    // balance sanity bound: training must not concentrate the corpus
    // (spread may wobble on uniform data but not blow up)
    assert(spread(sizes(after)) <= spread(sizes(before)) * 2,
      s"training concentrated cells: ${sizes(before).toSeq} -> ${sizes(after).toSeq}")
    // and the declared query's cells agree with the replay (non-seeds)
    val cells = q("c19_ann_ivf").select("probe_id", "cell").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val byId = qv.map(_._1).zip(after.map(_._1.toLong)).toMap
    cells.foreach { case (pid, cell) =>
      assert(byId(pid) == cell, s"probe $pid: query cell $cell != replay ${byId(pid)}")
    }
  }

  test("c29: shuffle is a permutation — dense 0..n-1 positions per shard, every doc once") {
    val rows = q("c29_epoch_shuffle").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val total = graft.util.Tables.documents(spark, sf0001).count()
    assert(rows.length.toLong == total)
    assert(rows.map(_._1).distinct.length == rows.length, "doc duplicated")
    rows.groupBy(_._2).foreach { case (shard, mem) =>
      val pos = mem.map(_._3).sorted
      assert(pos.sameElements(0L until pos.length), s"shard $shard not dense")
    }
    // a different seed produces a different order (the seed works)
    val other = TierC.c29(spark, sf0001, seed = "epoch1").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(!rows.sameElements(other), "seed did not change the order")
  }

  test("b38: bloom filter has no false negatives (member ⇒ might_contain)") {
    val rows = q("b38_agg_bloom").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val might = r.getBoolean(1); val truly = r.getBoolean(2)
      assert(!truly || might, s"false negative at ${r.getLong(0)}")
    }
  }

  test("b38: probes hitting words no build key touched still report (regression)") {
    import spark.implicits._
    // ONE build key ⇒ ≤4 of the 5 words populated: with the old inner
    // join, probes whose bits land in an absent word were dropped or
    // misreported; the left join must emit all 50 probes with the
    // exact bloom verdict.
    val dir = graft.util.TmpDir.fresh("bloom-tiny")
    Seq((1L, 7L, "R")).toDF("l_orderkey", "l_partkey", "l_returnflag")
      .write.parquet(s"$dir/lineitem.parquet")
    (0L until 50L).toDF("p_partkey").write.parquet(s"$dir/part.parquet")
    val rows = SparkEntry.queries("b38_agg_bloom")(spark, dir).collect()
    assert(rows.length == 50, s"probes dropped: ${rows.length}")
    // independent bloom replay
    val md = java.security.MessageDigest.getInstance("MD5")
    def h(sv: String): Long = java.lang.Long.parseLong(
      md.digest(sv.getBytes("UTF-8")).take(8)
        .map("%02x".format(_)).mkString.take(15), 16)
    def bits(k: Long): Seq[Long] = (0 until 4).map(j => h(s"bloom:$j:$k") % 256)
    val set = bits(7L).toSet
    rows.foreach { r =>
      val k = r.getLong(0)
      val expectMight = bits(k).forall(set.contains)
      assert(r.getBoolean(1) == expectMight, s"probe $k")
      assert(r.getBoolean(2) == (k == 7L), s"probe $k membership")
    }
  }

  test("b6: window-count result equals the naive self-join on the tiny SF") {
    val fast = q("b6_join_theta_range").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val e = graft.util.Tables.events(spark, sf0001)
      .select(col("user_id"), col("ts"))
    val a = e.select(col("user_id"), col("ts").as("ts_a"))
    val b = e.select(col("user_id").as("ub"), col("ts").as("ts_b"))
    val naive = a.join(b,
        col("user_id") === col("ub") && col("ts_b") > col("ts_a") &&
          col("ts_b") <= col("ts_a") + expr("INTERVAL 1 HOUR"))
      .groupBy("user_id").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fast == naive)
  }
}
