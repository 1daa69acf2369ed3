package graft.operators

import graft.{SparkEntry, SparkSpec}
import org.apache.spark.sql.functions._

/** Semantic invariants of the round-2 operators — properties that hold
  * by construction and must survive refactors (the oracle checks
  * equality with DuckDB; these check the MATH).
  */
class Round2PropsSpec extends SparkSpec {

  private def q(name: String) = SparkEntry.queries(name)(spark, sf0001)

  test("b35: a Count-Min sketch never underestimates a frequency") {
    val rows = q("b35_agg_countmin").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val t = r.getAs[Long]("true_cnt"); val c = r.getAs[Long]("cms_cnt")
      assert(c >= t, s"CMS underestimated: $r")
    }
  }

  test("a22: converged Monte-Carlo estimate lands near pi") {
    val last = q("a22_pi_iterative").orderBy(col("batch").desc).head()
    val bp = last.getAs[Long]("pi_bp")
    assert(bp > 31000 && bp < 32000, s"pi_bp=$bp")
  }

  test("a23: k-means clusters partition the whole corpus") {
    val rows = q("a23_kmeans_iterative").collect()
    val members = rows.map(_.getAs[Long]("n_members")).sum
    val total = graft.util.Tables.embeddings(spark, sf0001).count()
    assert(members == total, s"$members != $total")
    rows.foreach(r => assert(r.getAs[Long]("inertia") >= 0L))
  }

  test("c26: jaccard scores are valid bp and the verdict matches the threshold") {
    val rows = q("c26_dedup_pipeline").collect()
    rows.foreach { r =>
      val bp = r.getAs[Long]("jaccard_bp")
      assert(bp >= 0L && bp <= 10000L, r.toString)
      assert(r.getAs[Boolean]("is_dup") == (bp >= 8000L), r.toString)
    }
  }

  test("d9: the bounded stream-stream join equals the batch join") {
    val streamed = q("d9_stream_join")
    val e = graft.util.Tables.events(spark, sf0001)
    val c = e.filter(col("event_type") === "click")
      .select(col("user_id"), col("ts").as("cts"), col("event_id").as("click_id"))
    val p = e.filter(col("event_type") === "purchase")
      .select(col("user_id").as("pu"), col("ts").as("pts"),
        col("event_id").as("purchase_id"))
    val batch = c.join(p,
      col("user_id") === col("pu") && col("pts") >= col("cts") &&
        col("pts") <= col("cts") + expr("INTERVAL 1 HOUR"))
      .select("user_id", "click_id", "purchase_id")
    assert(streamed.count() == batch.count())
    assert(streamed.exceptAll(batch).isEmpty && batch.exceptAll(
      streamed.select("user_id", "click_id", "purchase_id")).isEmpty)
  }

  test("c27: quantized values stay in the int8 envelope") {
    q("c27_embedding_quantize").collect().foreach { r =>
      val qmin = r.getAs[Long]("qmin"); val qmax = r.getAs[Long]("qmax")
      assert(qmin >= -127L && qmax <= 127L && qmin <= qmax, r.toString)
      assert(r.getAs[Long]("scale_bp") >= 0L)
    }
  }

  test("c28: packing offsets are a contiguous token layout") {
    val rows = q("c28_sequence_packing")
      .orderBy(col("doc_id")).collect()
    val cap = 256L
    // global positions strictly increase doc over doc and bins never skip
    var last = -1L
    rows.foreach { r =>
      val pos = r.getAs[Long]("start_bin") * cap + r.getAs[Long]("start_offset")
      assert(pos > last, s"non-monotone at $r")
      assert(r.getAs[Long]("start_offset") < cap, r.toString)
      last = pos
    }
  }

  test("c28: layout is dense+gapless and identical under a non-default block size") {
    val base = q("c28_sequence_packing").orderBy("doc_id").collect()
    // Shrink the block size to force many blocks (the 1e6 default gives
    // one block at test scale): the two-level prefix sum must produce
    // the exact same global layout regardless of how it is blocked.
    val blocked = TierC.c28(spark, sf0001, blockSize = 7L)
      .orderBy("doc_id").collect()
    assert(base.sameElements(blocked), "layout changed under blockSize=7")
    // dense: consecutive docs' global positions differ by exactly the
    // previous doc's token count (no gap, no overlap)
    val toks = graft.util.Tables.documents(spark, sf0001)
      .select(col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("n"))
      .orderBy("doc_id").collect().map(_.getAs[Long]("n"))
    val cap = 256L
    var expectPos = 0L
    base.zipWithIndex.foreach { case (r, i) =>
      val pos = r.getAs[Long]("start_bin") * cap + r.getAs[Long]("start_offset")
      assert(pos == expectPos, s"gap at doc $i: $pos != $expectPos")
      expectPos += toks(i)
    }
  }

  test("c15: every vector lands in exactly one of <=256 buckets") {
    val rows = q("c15_ann_lsh").collect()
    assert(rows.length <= 256)
    val n = rows.map(_.getAs[Long]("n_vecs")).sum
    assert(n == graft.util.Tables.embeddings(spark, sf0001).count())
  }
}
