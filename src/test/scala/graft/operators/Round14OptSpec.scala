package graft.operators

import graft.{SparkEntry, SparkSpec}
import org.apache.spark.sql.catalyst.optimizer.{BuildLeft, BuildRight}
import org.apache.spark.sql.connector.read.SupportsReportStatistics
import org.apache.spark.sql.execution.{LocalTableScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.execution.joins.ShuffledHashJoinExec
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.util.QueryExecutionListener
import scala.jdk.CollectionConverters._

/** Round-14 OPTIMIZATION pins: the invariants the round-14 rewrites
  * rest on, which comments in GraftMemCatalog (single-group scans
  * advertise no runtime group filter), TierC (c39's min≠max identity
  * needs a non-null unique doc_id) and GraftSession (which statically
  * planned shuffled hash joins build over an estimated size) cite.
  */
class Round14OptSpec extends SparkSpec {

  /** `f` of every action and command `body` runs. Query-execution
    * listeners report on the async listener bus, so a sentinel action
    * run after `body` marks the bus as drained past it.
    */
  private def captured[A](f: QueryExecution => A)(body: => Unit): Seq[A] = {
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[A]()
    val drained = new java.util.concurrent.CountDownLatch(1)
    @volatile var sentinel = Long.MinValue
    val listener = new QueryExecutionListener {
      override def onSuccess(
          funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        if (qe.id == sentinel) drained.countDown() else seen.add(f(qe))
      override def onFailure(
          funcName: String, qe: QueryExecution, error: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      body
      val mark = spark.range(1)
      sentinel = mark.queryExecution.id
      mark.collect()
      assert(drained.await(60, java.util.concurrent.TimeUnit.SECONDS),
        "the listener bus did not drain")
    } finally spark.listenerManager.unregister(listener)
    seen.asScala.toSeq
  }

  private def mergePlans(name: String): Seq[String] =
    captured(qe => qe.executedPlan.toString) {
      SparkEntry.queries(name)(spark, sf0001): Unit
    }.filter(_.contains("MergeRows"))

  test("single-group MERGE (b75) has no runtime group filter; partitioned b77 keeps it") {
    val single = mergePlans("b75_merge_into")
    assert(single.size == 1, single)
    assert(!single.head.contains("dynamicpruning"), single.head)
    val multi = mergePlans("b77_merge_group_pruned")
    assert(multi.size == 1, multi)
    assert(multi.head.contains("dynamicpruning"), multi.head)
  }

  test("documents.doc_id is non-null and unique on every corpus") {
    val corpora = new java.io.File(sf0001).getParent
    for (sf <- Seq("sf0.001", "sf0.01", "sf0.1")) {
      val docs = graft.util.Tables.documents(spark, s"$corpora/$sf")
      val r = docs.selectExpr("count(*)", "count(doc_id)",
        "count(DISTINCT doc_id)").head()
      assert(r.getLong(0) > 0, sf)
      assert(r.getLong(1) == r.getLong(0), s"$sf: null doc_id")
      assert(r.getLong(2) == r.getLong(0), s"$sf: duplicate doc_id")
    }
  }

  /** Shuffled hash joins the STATIC planner chose: inside an adaptive
    * plan those are in its input plan (the final plan also holds AQE's
    * runtime SMJ→SHJ conversions, which see real map-output sizes).
    */
  private def staticShj(p: SparkPlan): Seq[ShuffledHashJoinExec] =
    p.collectWithSubqueries {
      case a: AdaptiveSparkPlanExec => staticShj(a.inputPlan)
      case j: ShuffledHashJoinExec => Seq(j)
    }.flatten

  /** A build-side leaf whose size is exact: a graft connector scan
    * reporting its own row counts (graftmem copy-on-write and
    * merge-on-read tables) or local rows.
    */
  private def exactLeaf(p: SparkPlan): Boolean = p match {
    case r: ReusedExchangeExec => r.child.collectLeaves().forall(exactLeaf)
    case b: BatchScanExec =>
      b.scan.getClass.getName.startsWith("graft.sources.") &&
        b.scan.isInstanceOf[SupportsReportStatistics]
    case _: LocalTableScanExec => true
    case _ => false
  }

  private def estimatedBuilds(p: SparkPlan): Seq[String] =
    staticShj(p).flatMap { j =>
      val build = j.buildSide match {
        case BuildLeft => j.left
        case BuildRight => j.right
      }
      build.collectLeaves().filterNot(exactLeaf).map(_.nodeName)
    }

  /** The queries whose static plan (at sf0.001) builds a shuffled hash
    * join over an ESTIMATED size — parquet file bytes or an RDD's
    * inherited stats. b39 asks for it by hint; the others are
    * preferSortMergeJoin=false letting the planner pick SHJ because the
    * estimate fits 4 partitions × the broadcast threshold, a path with
    * no runtime fallback if the estimate is low.
    */
  private val knownEstimatedShj = Set("b39_join_skew_salted",
    "b45_merge_cdc", "c18_dedup_cluster", "c33_dedup_incremental",
    "c65_ann_recall_eval", "c70_hybrid_rrf", "c80_dedup_index_persisted")

  /** Global windows: a `WindowExec` with no partition keys moves its
    * whole input into one task, named here by its window expressions.
    */
  private def globalWindows(p: SparkPlan): Seq[String] =
    p.collectWithSubqueries {
      case a: AdaptiveSparkPlanExec => globalWindows(a.inputPlan)
      case w: WindowExec if w.partitionSpec.isEmpty =>
        Seq(w.windowExpression.map(_.sql).mkString(", "))
    }.flatten

  /** One pass over every declared query at sf0.001: per query, the
    * estimated SHJ build leaves and the global windows of its returned
    * plan and of every command plan it runs.
    */
  private lazy val census: Seq[(String, Seq[String], Seq[String])] =
    SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
      var returned: Seq[(Seq[String], Seq[String])] = Nil
      val inner = captured(qe =>
        (estimatedBuilds(qe.executedPlan), globalWindows(qe.executedPlan))) {
        val p = fn(spark, sf0001).queryExecution.executedPlan
        returned = Seq((estimatedBuilds(p), globalWindows(p)))
      }
      val all = returned ++ inner
      (name, all.flatMap(_._1).distinct, all.flatMap(_._2).distinct)
    }

  test("census: statically planned SHJs over an estimated build side are the known set") {
    val found = census.flatMap { case (name, leaves, _) => leaves.map(name -> _) }
    assert(found.map(_._1).toSet == knownEstimatedShj,
      "the set of queries that statically plan a shuffled hash join over " +
        "an estimated build side changed; check the new ones can't " +
        s"overflow a task's memory at scale, then update the set:\n" +
        found.map { case (n, l) => s"$n: $l" }.mkString("\n"))
  }

  /** The queries that run a global window (no PARTITION BY), and what
    * bounds the input each funnels through one task:
    *  - c67_bm25: the rank over the df-ordered LIMIT 13 query terms.
    *  - c70_hybrid_rrf: the lexical arm's rank over a LIMIT 20, plus
    *    c67's LIMIT 13 term rank. Bounded by the limits.
    *  - c73_mixture_sample: Σw over the per-source table. Bounded by the
    *    source count.
    *  - b95_row_lineage: `row_number() OVER (ORDER BY c_custkey)` over
    *    the whole customer table. GROWS with the corpus.
    *  - c41_lm_surprisal and c55_perplexity_bucket: the corpus total over
    *    the word-count table (TierC's `unigramSurprisal`). Vocabulary-
    *    sized, so it GROWS with the corpus (sublinearly).
    *  - c49_dsir_importance: four totals over the joined word-count
    *    tables. Vocabulary-sized: GROWS with the corpus.
    *  - c75_curation_ensemble and c76_quality_mixture: the per-source
    *    thresholds or Σw (bounded by the source count), plus
    *    `unigramSurprisal`'s vocabulary total, which GROWS.
    */
  private val knownGlobalWindows = Set("b95_row_lineage", "c41_lm_surprisal",
    "c49_dsir_importance", "c55_perplexity_bucket", "c67_bm25",
    "c70_hybrid_rrf", "c73_mixture_sample", "c75_curation_ensemble",
    "c76_quality_mixture")

  test("census: queries running a global window (no partition keys) are the known set") {
    val found = census.flatMap { case (name, _, ws) => ws.map(name -> _) }
    assert(found.map(_._1).toSet == knownGlobalWindows,
      "the set of queries that run a window with no partition keys " +
        "changed; such a window moves its whole input into one task, so " +
        "check the new ones only see bounded input, then update the set:\n" +
        found.map { case (n, w) => s"$n: $w" }.mkString("\n"))
  }
}
