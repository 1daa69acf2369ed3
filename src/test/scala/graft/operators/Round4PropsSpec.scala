package graft.operators

import graft.{SparkEntry, SparkSpec}
import org.apache.spark.sql.functions._

/** Round-4 operators: salted skew join (b39), full-SQL star join (b40),
  * context-window chunking (c34), PII redaction (c35), Bloom
  * decontamination (c36), foreachBatch merge (d13). Properties over the
  * real sf0.001 fixtures — result parity, plan shape, and the invariants
  * each Scaladoc claims.
  */
class Round4PropsSpec extends SparkSpec {

  private def q(name: String) = SparkEntry.queries(name)(spark, sf0001)

  private def plan(name: String): String =
    q(name).queryExecution.executedPlan.toString

  test("b39: salted join result equals the plain unsalted join") {
    import graft.util.Tables._
    val salted = q("b39_join_skew_salted").collect()
    val plain = lineitem(spark, sf0001)
      .join(supplier(spark, sf0001),
        col("l_suppkey") === col("s_suppkey"))
      .groupBy("s_suppkey", "s_name")
      .agg(count(lit(1)).as("cnt"),
        moneySum4(col("l_extendedprice") * (lit(1.0) - col("l_discount")))
          .as("revenue"))
      .orderBy("s_suppkey").collect()
    assert(salted.toSeq == plain.toSeq)
  }

  test("b39: plan is a shuffled hash join keyed on (suppkey, salt), not broadcast") {
    val p = plan("b39_join_skew_salted")
    assert(p.contains("ShuffledHashJoin"), p)
    assert(p.contains("salt"), p)
    assert(!p.contains("BroadcastHashJoin"), p)
  }

  test("b40: every dimension joins by broadcast; fact filter is pushed to the scan") {
    val p = plan("b40_sql_star_join")
    // orders/customer/nation/region all « the broadcast threshold
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 3, p)
    assert(!p.contains("SortMergeJoin"), p)
    assert(p.contains("EqualTo(o_orderstatus,F)"), p)
    assert(p.contains("EqualTo(r_name,ASIA)"), p)
  }

  test("c34: chunks tile each doc — contiguous indexes, stride starts, full coverage") {
    import spark.implicits._
    val nTok = graft.util.Tables.documents(spark, sf0001)
      .select(col("doc_id"), size(split(col("text"), " ")).cast("long").as("n"))
      .as[(Long, Long)].collect().toMap
    val rows = q("c34_doc_chunk")
      .select("doc_id", "chunk_idx", "start_tok", "n_tok")
      .as[(Long, Long, Long, Long)].collect()
    val byDoc = rows.groupBy(_._1)
    assert(byDoc.keySet == nTok.keySet)
    byDoc.foreach { case (doc, ch) =>
      val n = nTok(doc)
      val sorted = ch.sortBy(_._2)
      // chunk_idx contiguous from 0, start = idx * stride
      assert(sorted.map(_._2).toSeq == (0L until sorted.length.toLong))
      sorted.foreach { case (_, idx, start, tok) =>
        assert(start == idx * 48)
        assert(tok == math.min(64L, n - start))
      }
      // the final chunk reaches the end of the doc; with stride < cap
      // every token is covered
      assert(sorted.last._3 + sorted.last._4 == n)
    }
  }

  test("c35: exactly one injected email and id per doc; redacted length is n_chars + 24") {
    import spark.implicits._
    val rows = q("c35_pii_redact")
      .join(graft.util.Tables.documents(spark, sf0001), Seq("doc_id"))
      .select(col("n_email"), col("n_id"),
        (col("red_len") - col("n_chars")).as("delta"))
      .as[(Long, Long, Long)].collect()
    assert(rows.nonEmpty)
    // corpus text carries no PII of its own, so the deterministic
    // injection is the only match: " contact <EMAIL> id <ID>" = 24 chars
    assert(rows.forall { case (e, i, d) => e == 1L && i == 1L && d == 24L })
  }

  test("c34/c35 are map-side — no hash exchange before the declared sort") {
    for (n <- Seq("c34_doc_chunk", "c35_pii_redact")) {
      val p = plan(n)
      assert(!p.contains("Exchange hashpartitioning"), s"$n:\n$p")
    }
  }

  test("c36: no false negatives, real false positives, exact twin matches c25") {
    import spark.implicits._
    val rows = q("c36_decontaminate_bloom")
      .select("doc_id", "flagged", "overlap", "bloom_ok")
      .as[(Long, Long, Long, Boolean)].collect()
    assert(rows.forall(_._4))                       // flagged >= overlap per doc
    assert(rows.forall(r => r._2 >= r._3))
    assert(rows.exists(r => r._2 > r._3))           // the bloom is approximate
    val c25 = SparkEntry.queries("c25_decontaminate")(spark, sf0001)
      .select("doc_id", "overlap").as[(Long, Long)].collect().toMap
    rows.foreach { case (doc, _, ov, _) => assert(c25(doc) == ov) }
  }

  test("c36: probe is map-side — no shuffle between the shingle rows and the per-doc agg") {
    val p = plan("c36_decontaminate_bloom")
    // the eval-set twin joins by broadcast; the bloom probe adds no join
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("b41: bloom-pruned join equals the plain join; prune sits below the exchange") {
    import graft.util.Tables._
    val got = q("b41_join_bloom_pruned").collect()
    val plain = lineitem(spark, sf0001)
      .join(part(spark, sf0001).filter(col("p_brand") === "Brand#13"),
        col("l_partkey") === col("p_partkey"))
      .groupBy("p_type")
      .agg(count(lit(1)).as("cnt"),
        moneySum4(col("l_extendedprice") * (lit(1.0) - col("l_discount")))
          .as("revenue"))
      .orderBy("p_type").collect()
    assert(got.toSeq == plain.toSeq)
    val p = plan("b41_join_bloom_pruned")
    assert(p.contains("SortMergeJoin"), p)
    // the might-contain conjunction is a Filter on the fact scan side,
    // i.e. evaluated before the join's exchange
    assert(p.contains("element_at"), p)
    assert(p.indexOf("element_at") > p.indexOf("SortMergeJoin"), p)
  }

  test("c37: centroids match a direct driver-side recompute on the quantized grid") {
    import spark.implicits._
    val vecs = graft.util.Tables.embeddings(spark, sf0001)
      .select(col("label").cast("long"), col("embedding"))
      .as[(Long, Array[Float])].collect()
    val expect = vecs.groupBy(_._1).flatMap { case (label, vs) =>
      (0 until 64).map { pos =>
        val qs = vs.map(v => math.floor(v._2(pos).toDouble * 1024.0).toLong)
        val qsum = qs.sum
        (label, pos.toLong) ->
          (vs.length.toLong, qsum, math.floor(qsum.toDouble / vs.length).toLong)
      }
    }
    val got = q("c37_embedding_centroid")
      .as[(Long, Long, Long, Long, Long)].collect()
    assert(got.length == expect.size)
    got.foreach { case (label, pos, n, qsum, cq) =>
      assert(expect((label, pos)) == ((n, qsum, cq)))
    }
  }

  test("d14: append mode emits exactly the windows the watermark closed") {
    import spark.implicits._
    val ev = graft.util.Tables.events(spark, sf0001)
    val mx = ev.agg(max(unix_micros(col("ts")))).head().getLong(0)
    val expect = ev
      .groupBy(expr("unix_micros(date_trunc('hour', ts)) div 1000000")
        .as("start_s"), col("event_type"))
      .agg(count(lit(1)).as("cnt"))
      // window end <= watermark = max event time - 1h (inclusive)
      .filter((col("start_s") + 7200) * 1000000L <= mx)
      .orderBy("start_s", "event_type")
      .as[(Long, String, Long)].collect()
    val got = q("d14_stream_watermark_append")
      .as[(Long, String, Long)].collect()
    assert(got.toSeq == expect.toSeq)
    // the open tail (last hour of the stream) is really absent
    assert(got.map(_._1).max < mx / 1000000L - 3600)
  }

  test("c38: containment dominates jaccard on the same candidate pairs") {
    import spark.implicits._
    val jac = SparkEntry.queries("c26_dedup_pipeline")(spark, sf0001)
      .select("doc_a", "doc_b", "jaccard_bp")
      .as[(Long, Long, Long)].collect().map(r => (r._1, r._2) -> r._3).toMap
    val con = q("c38_dedup_containment")
      .select("doc_a", "doc_b", "containment_bp")
      .as[(Long, Long, Long)].collect().map(r => (r._1, r._2) -> r._3).toMap
    assert(con.keySet == jac.keySet)        // same LSH candidate set
    // |A∩B|/min ≥ |A∩B|/|A∪B| always
    con.foreach { case (k, c) => assert(c >= jac(k), s"$k: $c < ${jac(k)}") }
  }

  test("d13: merged foreachBatch state equals the one-shot batch aggregate") {
    val merged = q("d13_stream_foreach_batch").collect()
    val batch = graft.util.Tables.events(spark, sf0001)
      .groupBy("user_id")
      .agg(count(lit(1)).as("cnt"),
        sum(round(col("value") * 100).cast("long")).as("val_cents"))
      .orderBy("user_id").collect()
    assert(merged.toSeq == batch.toSeq)
  }

  test("d13: the merge really ran across multiple microbatches") {
    // the state dir holds one version per batch; maxFilesPerTrigger=1
    // over a 2-file source must produce >= 2 versions
    q("d13_stream_foreach_batch").count()
    val base = new java.io.File(graft.util.TmpDir.base)
    val states = base.listFiles().filter(_.getName.startsWith("d13-state"))
    assert(states.nonEmpty)
    val versions = states.map(_.listFiles().count(_.getName.startsWith("v"))).max
    assert(versions >= 2, s"expected >=2 merge versions, saw $versions")
  }
}
