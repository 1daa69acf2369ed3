package graft

import org.apache.spark.sql.catalyst.optimizer.{BuildLeft, BuildRight}
import org.apache.spark.sql.catalyst.trees.TreeNode
import org.apache.spark.sql.connector.read.SupportsReportStatistics
import org.apache.spark.sql.execution.{LocalTableScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.execution.joins.{BroadcastNestedLoopJoinExec, CartesianProductExec, ShuffledHashJoinExec}
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.functions.col

/** Query-contract smoke and the plan census (SURVEY §5.2 #1/#4): every
  * declared query runs once at sf0.001 and returns rows with a stable
  * schema, and every plan it runs — its returned DataFrame's and each
  * action or command inside its function (MERGE, CTAS, checkpoints) —
  * passes the plan audit: no all-pairs join, and the estimated-size
  * shuffled-hash-join builds and global windows stay the known sets.
  * Oracle keys are a subset of query names; entry() is non-empty.
  */
class QueriesSmokeSpec extends SparkSpec {

  test("oracleSql keys ⊆ queries keys (driver contract)") {
    val extra = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(extra.isEmpty, s"oracle entries without queries: $extra")
  }

  test("entry returns rows > 0 (t1 smoke)") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  /** Per query: the estimated SHJ build leaves and the global windows
    * of every plan it ran, filled by the per-query tests and read by
    * the known-set tests registered after them.
    */
  private val census =
    scala.collection.mutable.Map.empty[String, (Seq[String], Seq[String])]

  for ((name, fn) <- SparkEntry.queries.toSeq.sortBy(_._1)) {
    test(s"$name runs at sf0.001, rows > 0, distinct column names, sane plan") {
      // the dedup family's materialized index (c18's cluster assignment
      // included) is built by its first consumer only; start it cold so
      // the census audits the plans that build it whatever ran earlier
      // on this session
      if (census.isEmpty) graft.operators.TierC.dropIndexMemo()
      val (df, inner) = graft.util.PlanCapture(spark)((_, qe) =>
        qe.executedPlan)(fn(spark, sf0001))
      val plans = df.queryExecution.executedPlan +: inner
      census(name) = (plans.flatMap(estimatedBuilds).distinct,
        plans.flatMap(globalWindows).distinct)
      // blanket scale audit: NO declared query may run an all-pairs
      // join — the two shapes that silently explode at 100 TB
      for (p <- plans)
        assert(allPairs(p).isEmpty, s"$name plans ${allPairs(p)}:\n$p")
      val cols = df.columns.toSeq
      assert(cols.distinct == cols, s"duplicate output columns: $cols")
      assert(df.count() > 0, s"$name returned no rows")
    }
  }

  test("a16_wordcount top word matches independent RDD count") {
    val df = SparkEntry.queries("a16_wordcount")(spark, sf0001)
    val top = df.limit(1).collect()(0)
    val rdd = spark.read.parquet(s"$sf0001/documents.parquet")
      .select(col("text")).rdd
      .flatMap(_.getString(0).split(" "))
      .map(_ -> 1L).reduceByKey(_ + _)
      .collect().toMap
    assert(rdd(top.getString(0)) == top.getLong(1))
    assert(top.getLong(1) == rdd.values.max)
  }

  /** Every physical node `p`'s explain string shows — children,
    * subqueries, query stages, cached plans — plus both the initial and
    * the current plan of an adaptive node.
    */
  private def nodes(n: TreeNode[_]): Seq[SparkPlan] = {
    val below = n match {
      case a: AdaptiveSparkPlanExec => Seq(a.initialPlan, a.executedPlan)
      case _ => n.children ++ n.innerChildren
    }
    (n match {
      case p: SparkPlan => Seq(p)
      case _ => Nil
    }) ++ below.flatMap(c => nodes(c.asInstanceOf[TreeNode[_]]))
  }

  private def allPairs(p: SparkPlan): Seq[String] =
    nodes(p).collect {
      case j @ (_: CartesianProductExec | _: BroadcastNestedLoopJoinExec) =>
        j.nodeName
    }.distinct

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

  /** Global windows: a `WindowExec` with no partition keys moves its
    * whole input into one task, named here by its window expressions.
    */
  private def globalWindows(p: SparkPlan): Seq[String] =
    p.collectWithSubqueries {
      case a: AdaptiveSparkPlanExec => globalWindows(a.inputPlan)
      case w: WindowExec if w.partitionSpec.isEmpty =>
        Seq(w.windowExpression.map(_.sql).mkString(", "))
    }.flatten

  /** `(query, item)` for every item `pick` finds in a query's census
    * entry; fails if a query has no entry (its test did not run).
    */
  private def censusFound(
      pick: ((Seq[String], Seq[String])) => Seq[String]): Seq[(String, String)] = {
    val missing = SparkEntry.queries.keySet -- census.keySet
    assert(missing.isEmpty,
      s"the census has no plans of: ${missing.toSeq.sorted.mkString(", ")}")
    census.toSeq.sortBy(_._1).flatMap { case (n, e) => pick(e).map(n -> _) }
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

  test("census: estimated-size SHJ builds are the known set") {
    val found = censusFound(_._1)
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
    *  - c75_curation_ensemble and c76_quality_mixture: the per-source
    *    thresholds or Σw. Bounded by the source count.
    * The vocabulary totals of c41, c49, c55, c75 and c76 are one-row
    * aggregates collected as literals, so they run no window.
    */
  private val knownGlobalWindows = Set("c67_bm25", "c70_hybrid_rrf",
    "c73_mixture_sample", "c75_curation_ensemble", "c76_quality_mixture")

  test("census: global windows (no partition keys) are the known set") {
    val found = censusFound(_._2)
    assert(found.map(_._1).toSet == knownGlobalWindows,
      "the set of queries that run a window with no partition keys " +
        "changed; such a window moves its whole input into one task, so " +
        "check the new ones only see bounded input, then update the set:\n" +
        found.map { case (n, w) => s"$n: $w" }.mkString("\n"))
  }
}
