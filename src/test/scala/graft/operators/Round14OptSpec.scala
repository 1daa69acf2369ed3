package graft.operators

import graft.{SparkEntry, SparkSpec}

/** Round-14 OPTIMIZATION pins: the invariants the round-14 rewrites
  * rest on, which comments in GraftMemCatalog (single-group scans
  * advertise no runtime group filter) and TierC (c39's min≠max identity
  * needs a non-null unique doc_id) cite. The census of statically
  * planned shuffled hash joins that GraftSession cites is in
  * QueriesSmokeSpec.
  */
class Round14OptSpec extends SparkSpec {

  private def mergePlans(name: String): Seq[String] =
    graft.util.PlanCapture(spark)((_, qe) => qe.executedPlan.toString) {
      SparkEntry.queries(name)(spark, sf0001): Unit
    }._2.filter(_.contains("MergeRows"))

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
}
