package graft.operators

import graft.{SparkEntry, SparkSpec}

/** Physical-plan assertions (SURVEY §4.2): the scale claims in the
  * Scaladoc are checked against the actual executed plans, not taken on
  * faith.
  */
class RelationalPlanSpec extends SparkSpec {

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, sf0001)
      .queryExecution.executedPlan.toString

  test("b1: filters and projection are pushed into the parquet scan") {
    val p = plan("b1_scan_filter_project")
    assert(p.contains("PushedFilters: ["), p)
    assert(p.contains("GreaterThanOrEqual(l_discount,0.05)"), p)
    // pruned read schema: no l_partkey/l_shipdate in the scan
    assert(!p.contains("l_shipdate"), p)
  }

  test("b3: dimension join is a BroadcastHashJoin") {
    val p = plan("b3_join_broadcast")
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("b25: bucketed join has no shuffle (no Exchange hashpartitioning)") {
    val p = plan("b25_join_bucketed")
    assert(p.contains("SortMergeJoin"), p)
    assert(!p.contains("Exchange hashpartitioning"), p)
  }

  test("a20: partitioned read prunes partitions (filter becomes PartitionFilter)") {
    val p = plan("a20_sink_partitioned")
    assert(p.contains("PartitionFilters: [isnotnull(lang"), p)
    // the lang predicate must NOT appear as a data filter on the scan
    assert(!p.contains("PushedFilters: [IsNotNull(lang)"), p)
  }

  test("b55: fact scan carries a dynamic partition pruning filter") {
    val p = plan("b55_join_dpp")
    // the dim-side predicate reaches the fact scan BOTH statically
    // (join-inferred lang < m) and dynamically (broadcast-result
    // pruning) — whole partitions skipped at file-listing time
    assert(p.toLowerCase.contains("dynamicpruningexpression"), p)
    assert(p.contains("PartitionFilters: [(lang"), p)
  }

  test("a34: storage-partitioned join has zero hash exchanges end-to-end") {
    val (out, p) = TierA.a34Exec(spark, sf0001)
    // both scans report KeyGroupedPartitioning(identity(grp)) and the
    // join + per-grp aggregate ride it — the only exchange allowed is
    // the presentation orderBy's range partitioning
    assert(p.contains("SortMergeJoin"), p)
    assert(p.contains("BatchScan"), p)
    assert(!p.contains("Exchange hashpartitioning"), p)
    // round 12: the bucketed layout reads COLUMNAR too — vectorized
    // scans AND an exchange-free join in the SAME plan (the Iceberg
    // bucketed-parquet ideal)
    assert(p.contains("ColumnarToRow"),
      s"bucketed scans must plan columnar:\n$p")
    val rows = out.collect()
    assert(rows.length == 8, rows.mkString(","))
    // every grp: 625 right-side ids, all with matching generated values
    rows.foreach { r =>
      assert(r.getLong(1) == 625 && r.getLong(4) == 625, r.toString)
    }
  }

  test("a39: ordering-reported scan drops the sorts under the " +
      "storage-partitioned merge join") {
    val (out, p) = TierA.a39Exec(spark, sf0001)
    assert(p.contains("SortMergeJoin"), p)
    assert(!p.contains("Exchange hashpartitioning"), p)
    // the SMJ's requirement — (grp, id) per-partition order — is
    // satisfied by the connector-reported ordering, so NO Sort on the
    // join keys exists anywhere in the plan; the only Sort allowed is
    // the presentation orderBy on grp alone (never mentions id).
    assert(!p.linesIterator.exists(l =>
      l.contains("Sort [") && l.contains("id#")),
      s"a Sort on the join keys survived the ordering report:\n$p")
    val rows = out.collect()
    assert(rows.length == 8)
    // per grp: ids in [400, 6000) with id % 8 == grp → 700 pairs each
    rows.foreach { r => assert(r.getLong(1) == 700, r.toString) }
  }

  test("b71: AQE actually split the skewed join partition (skew=true SMJ)") {
    val (out, p) = TierB.b71Exec(spark, sf0001)
    // the executed adaptive plan must carry a skew-marked sort-merge
    // join — OptimizeSkewedJoin fired on the hot partition — and the
    // result must still be one dimension-bounded row per supplier.
    assert(p.contains("SortMergeJoin"), p)
    assert(p.toLowerCase.contains("skew=true"), p)
    assert(p.contains("isFinalPlan=true"), p)
    val rows = out.collect()
    assert(rows.nonEmpty)
    assert(rows.map(_.getLong(0)).distinct.length == rows.length)
  }

  test("b81: CBO reorders the join — selective tiny dim joins first") {
    // With cbo+joinReorder the optimizer must commute the 25-key dim
    // (cuts the fact ~40×) BELOW the 1:1 big dim; without, the
    // syntactic left-deep order stands. Pre-order plan print ⇒ the
    // deeper join's relations appear earlier in the string.
    val (outCbo, pCbo) = TierB.b81Exec(spark, sf0001, cbo = true)
    val (outNo, pNo) = TierB.b81Exec(spark, sf0001, cbo = false)
    def pos(p: String) = (p.indexOf("g_b81_dims"), p.indexOf("g_b81_dimb"))
    val (tiny1, big1) = pos(pCbo)
    val (tiny0, big0) = pos(pNo)
    assert(tiny1 >= 0 && big1 >= 0 && tiny0 >= 0 && big0 >= 0,
      s"expected both dims in both plans:\n$pCbo\n$pNo")
    assert(tiny1 < big1, s"CBO did not reorder the join tree:\n$pCbo")
    assert(big0 < tiny0,
      s"syntactic plan reordered without CBO (test premise broke):\n$pNo")
    // reorder is a pure plan change: identical results either way
    assert(outCbo.collect().toSeq == outNo.collect().toSeq)
  }

  test("a41: connector-reported column NDVs reorder the join — no " +
      "ANALYZE involved") {
    // Same premise as b81 but the NDVs come from the SOURCE
    // (Statistics.columnStats), not an ANALYZE'd catalog entry: with
    // CBO on, the innermost join must be the selective grp join;
    // without, the syntactic id join stays innermost.
    import org.apache.spark.sql.catalyst.plans.logical.Join
    def innermostCond(
        p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
        : String = {
      val joins = p.collect { case j: Join => j }
      assert(joins.length == 2, s"expected 2 joins:\n$p")
      joins.filter(j => j.children.forall(
          _.collect { case jj: Join => jj }.isEmpty))
        .flatMap(_.condition).map(_.toString)
        .headOption.getOrElse(sys.error(s"no innermost join:\n$p"))
    }
    val (outCbo, pCbo) = TierA.a41Exec(spark, cbo = true)
    val (outNo, pNo) = TierA.a41Exec(spark, cbo = false)
    assert(innermostCond(pCbo).contains("grp"),
      s"connector NDVs did not reorder the join:\n$pCbo")
    assert(innermostCond(pNo).contains("id"),
      s"syntactic plan reordered without CBO (premise broke):\n$pNo")
    assert(outCbo.collect().toSeq == outNo.collect().toSeq)
  }

  test("a42: the connector absorbs the join — no join operator with " +
      "pushdown on, a real join without; results identical") {
    def hasJoinOp(p: String) = p.contains("SortMergeJoin") ||
      p.contains("HashJoin") || p.contains("NestedLoop")
    val (outP, pP) = TierA.a42Exec(spark, push = true)
    val (outN, pN) = TierA.a42Exec(spark, push = false)
    assert(!hasJoinOp(pP) && pP.contains("pushedJoin"),
      s"join was not absorbed by the source:\n$pP")
    assert(hasJoinOp(pN),
      s"premise broke — no join operator even without pushdown:\n$pN")
    assert(outP.collect().toSeq == outN.collect().toSeq)
    // the fully-collapsed twin: when the aggregate over the joined
    // relation is itself answerable, join pushdown + complete
    // aggregate pushdown leave a SINGLE closed-form scan — no join
    // operator, no aggregate operator
    graft.util.GraftConf.withConf(spark,
        "spark.sql.optimizer.datasourceV2JoinPushdown" -> "true") {
      import org.apache.spark.sql.functions._
      val l = spark.read.format("pairgen").option("rows", "9000").load()
      val r = spark.read.format("pairgen").option("rows", "5000").load()
        .where(col("id") >= 200)
      val q = l.join(r, l("id") === r("id"))
        .agg(count(lit(1)).as("n"), min(l("id")).as("mn"),
          max(l("id")).as("mx"))
      val plan = q.queryExecution.executedPlan.toString
      assert(!hasJoinOp(plan) && !plan.contains("HashAggregate") &&
        plan.contains("PairGenAggScan"),
        s"join+aggregate did not fully collapse:\n$plan")
      assert(q.collect().toSeq.map(r0 =>
        (r0.getLong(0), r0.getLong(1), r0.getLong(2)))
        == Seq((4800L, 200L, 4999L)))
    }
  }

  test("a43: variant extractions push into the scan — no variant_get " +
      "with pushdown on, full-variant evaluation without; identical " +
      "results; unsupported paths decline") {
    val (outP, pP) = TierA.a43Exec(spark, push = true)
    val (outN, pN) = TierA.a43Exec(spark, push = false)
    assert(!pP.contains("variant_get"),
      s"extractions were not absorbed by the source:\n$pP")
    assert(pN.contains("variant_get"),
      s"premise broke — no variant_get even without pushdown:\n$pN")
    assert(outP.collect().toSeq == outN.collect().toSeq)
    // an unsupported path declines all-or-nothing: the full variant
    // materializes, Spark extracts (and finds nothing at $.nope)
    graft.util.GraftConf.withConf(spark,
        "spark.sql.variant.pushVariantIntoScan" -> "true") {
      spark.read.format("pairgen").option("rows", "50")
        .option("variant", "true").load()
        .createOrReplaceTempView("g_a43_declined")
      val q = spark.sql("SELECT variant_get(meta, '$.nope', 'long') " +
        "AS x FROM g_a43_declined WHERE id = 7")
      assert(q.queryExecution.executedPlan.toString
        .contains("variant_get"))
      assert(q.collect().map(r => r.isNullAt(0)).toSeq == Seq(true))
    }
  }

  test("b7: aggregation is partial (map-side) before the exchange") {
    val p = plan("b7_agg_hash")
    assert(p.contains("partial_sum") || p.contains("partial_count"), p)
  }

  test("b14: global sort+limit plans TakeOrderedAndProject, not full sort") {
    val p = plan("b14_sort_limit")
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("c26: dedup pipeline never plans a cartesian product") {
    val p = plan("c26_dedup_pipeline")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("c25: eval n-gram set is broadcast, not shuffled, into the probe join") {
    val p = plan("c25_decontaminate")
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("c30: the top-k stop list is broadcast, not shuffled, into the token join") {
    val p = plan("c30_stopword_filter")
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("b6: range-pair count is join-free (window frame, no per-key quadratic SMJ)") {
    val p = plan("b6_join_theta_range")
    assert(!p.contains("Join"), p)
    assert(p.contains("Window"), p)
  }

  test("b37: interval join runs as a bucketed EQUI join (no cartesian/nested-loop)") {
    val p = plan("b37_join_interval_bucketed")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    // the bucket column is part of the equi key
    assert(p.contains("bkt"), p)
  }

  test("b45: CDC merge is one key-keyed FULL OUTER equi join, never broadcast/nested-loop") {
    val p = plan("b45_merge_cdc")
    assert(p.contains("FullOuter"), p)
    // full-outer cannot broadcast; the plan must be a hash/merge equi join
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("c42: holdout ranks with ONE source-keyed exchange, partial-agg free") {
    val p = plan("c42_eval_holdout")
    // one hash exchange for the stratum window (+ the presentation range
    // exchange); no join, no extra shuffles
    assert(p.split("Exchange hashpartitioning").length - 1 == 1, p)
    assert(!p.contains("Join"), p)
    // Spark's rank-limit pre-filter bounds the per-partition state
    assert(p.contains("WindowGroupLimit"), p)
  }

  test("c44: the audit aggregate rides the rank window's cluster exchange") {
    val p = plan("c44_dedup_canonical")
    // the window and the groupBy share the cluster_id partitioning: the
    // aggregate must NOT introduce its own hash exchange on cluster_id
    // beyond the window's single one (plus c18's internal joins)
    val winIdx = p.indexOf("Window ")
    assert(winIdx >= 0, p.take(800))
    // tree prints top-down: an aggregate-owned exchange would sit ABOVE
    // the Window node (between HashAggregate and Window in the string);
    // the only cluster_id exchange allowed is the window's own, below it
    val above = p.substring(0, winIdx)
    assert(!above.contains("Exchange hashpartitioning(cluster_id"),
      above.take(800))
  }
}
