package graft.operators

import graft.QueryDef
import graft.util.Tables._
import org.apache.spark.sql.{Column, DataFrame, Encoder, Encoders, SparkSession}
import org.apache.spark.sql.expressions.{Aggregator, Window}
import org.apache.spark.sql.functions._

/** Mutable accumulator for [[QtyFloorAvg]] — top-level public for
  * Catalyst codegen + Encoder derivation.
  */
case class QtyAcc(var cnt: Long, var sum: Long)

/** b24: a typed UDAF (`Aggregator`) — exact integer floor-average of an
  * integral-valued double column. Mrs's whole premise is user code as
  * operator [mrs: mrs/mapreduce.py]; this is the Spark-native typed
  * extension point (partial-aggregating, codegen-compatible — unlike
  * anything Mrs could do).
  */
object QtyFloorAvg extends Aggregator[Double, QtyAcc, Long] {
  override def zero: QtyAcc = QtyAcc(0L, 0L)
  override def reduce(b: QtyAcc, a: Double): QtyAcc = {
    b.cnt += 1; b.sum += a.toLong; b
  }
  override def merge(x: QtyAcc, y: QtyAcc): QtyAcc =
    QtyAcc(x.cnt + y.cnt, x.sum + y.sum)
  override def finish(b: QtyAcc): Long = if (b.cnt == 0) 0L else b.sum / b.cnt
  override def bufferEncoder: Encoder[QtyAcc] = Encoders.product[QtyAcc]
  override def outputEncoder: Encoder[Long] = Encoders.scalaLong
}

/** SURVEY.md §2 Tier B — relational operator coverage. In the reference
  * these exist only as user-space MR patterns (reduce-side join, map-side
  * join, per-key heaps...); here they are declarative Spark SQL so
  * Catalyst supplies pushdown, pruning, join selection, partial
  * aggregation and AQE. Scaladoc on each op names the MR pattern it
  * replaces and the 100 TB consideration.
  */
object TierB {

  /** Click→purchase pairs within [click, click+1h] — ONE copy of the
    * interval semantics, asserted by both the batch bucketed join (b37)
    * and the streaming stream-stream join (d9).
    */
  private[operators] val intervalJoinOracleSql: String =
    "SELECT c.user_id, c.event_id AS click_id, p.event_id AS purchase_id FROM events c JOIN events p ON p.user_id = c.user_id AND c.event_type = 'click' AND p.event_type = 'purchase' AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 1 HOUR ORDER BY 1, 2, 3"

  /** b1: scan+filter+project — the "map that drops/keeps pairs" pattern.
    * Both the predicate and the 3-column projection reach the parquet
    * reader (PushedFilters/ReadSchema), so a 100 TB scan reads only the
    * needed column chunks and skips row groups by min/max stats.
    */
  private def b1(s: SparkSession, d: String): DataFrame =
    lineitem(s, d)
      .filter(col("l_discount").between(0.05, 0.07) && col("l_quantity") < 24)
      .select("l_orderkey", "l_linenumber", "l_extendedprice")
      .orderBy("l_orderkey", "l_linenumber")

  /** b2: reduce-side equi join ⇒ shuffled join on the key; Catalyst/AQE
    * pick SMJ vs shuffled-hash by size, and AQE splits skewed partitions.
    */
  private def b2(s: SparkSession, d: String): DataFrame =
    orders(s, d)
      .join(customer(s, d), col("o_custkey") === col("c_custkey"))
      .select("o_orderkey", "c_name", "o_totalprice")
      .orderBy("o_orderkey")

  /** b3: map-side join ⇒ explicit `broadcast()` of the small dimension —
    * at 100 TB the fact side never shuffles; part ships to every executor.
    */
  private def b3(s: SparkSession, d: String): DataFrame =
    lineitem(s, d)
      .join(broadcast(part(s, d).filter(col("p_size") < 10)),
        col("l_partkey") === col("p_partkey"))
      .select("l_orderkey", "l_linenumber", "p_brand", "p_type")
      .orderBy("l_orderkey", "l_linenumber")

  /** b4: existence joins — left semi + left anti (no payload from the
    * right side ⇒ no row multiplication, broadcastable when small).
    */
  private def b4(s: SparkSession, d: String): DataFrame = {
    val c = customer(s, d).select("c_custkey")
    val o = orders(s, d).select("o_custkey")
    val semi = c.join(o, col("c_custkey") === col("o_custkey"), "left_semi")
      .select(col("c_custkey"), lit("has").as("tag"))
    val anti = c.join(o, col("c_custkey") === col("o_custkey"), "left_anti")
      .select(col("c_custkey"), lit("none").as("tag"))
    semi.union(anti).orderBy("c_custkey", "tag")
  }

  /** b5: left outer join — reduce emits null-padded rows for missing
    * side. NULLS FIRST pinned on both engines (defaults differ).
    */
  private def b5(s: SparkSession, d: String): DataFrame =
    customer(s, d)
      .join(orders(s, d), col("c_custkey") === col("o_custkey"), "left_outer")
      .select("c_custkey", "o_orderkey")
      .orderBy(col("c_custkey").asc, col("o_orderkey").asc_nulls_first)

  /** b6: non-equi (range) "join" semantics — per-user count of event
    * pairs (a,b) with ts_b in (ts_a, ts_a+1h] — computed with ZERO
    * joins. A self-join with a range residual keeps the equi key (so
    * never cartesian), but Spark's SMJ evaluates the residual per
    * buffered pair: O(events-per-key²) per key, the classic skew
    * scale-killer on a hot user. Instead: one shuffle on user_id, sort
    * by time, and a forward RANGE frame (exact integer µs, value-based
    * so equal-ts peers are excluded just like `ts_b > ts_a`) counts
    * each event's partners; summing per user gives the pair count in
    * O(n log n) per key. Users with no in-window pair are filtered to
    * match the inner-join's output.
    */
  private def b6(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("us")
      .rangeBetween(1L, 3600L * 1000000L)
    events(s, d)
      // the join this replaces was an equi join on user_id, which drops
      // NULL keys; a window PARTITION BY would group them instead
      .filter(col("user_id").isNotNull)
      .select(col("user_id"), unix_micros(col("ts")).as("us"))
      .select(col("user_id"), count(lit(1)).over(w).as("fwd"))
      .groupBy("user_id").agg(sum("fwd").as("pairs"))
      .filter(col("pairs") > 0)
      .orderBy("user_id")
  }

  /** b7: TPC-H Q1-shape hash aggregation. Money sums go through exact
    * DECIMAL (order-independent ⇒ bit-identical to DuckDB); Spark plans
    * partial + final agg, so shuffle volume is #groups, not #rows.
    */
  private def b7(s: SparkSession, d: String): DataFrame =
    lineitem(s, d)
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        count(lit(1)).as("cnt"),
        moneySum(col("l_quantity")).as("sum_qty"),
        moneySum(col("l_extendedprice")).as("sum_base"),
        moneySum4(col("l_extendedprice") * (lit(1.0) - col("l_discount")))
          .as("sum_disc_price"),
      )
      .withColumn("avg_qty", col("sum_qty") / col("cnt"))
      .orderBy("l_returnflag", "l_linestatus")

  /** b8: exact distinct aggregation — Spark expands to a two-phase
    * partial-distinct plan; at scale prefer b9's sketch when exactness
    * isn't required.
    */
  private def b8(s: SparkSession, d: String): DataFrame =
    lineitem(s, d)
      .groupBy("l_returnflag")
      .agg(
        countDistinct(col("l_partkey")).as("dparts"),
        countDistinct(col("l_suppkey")).as("dsupps"))
      .orderBy("l_returnflag")

  /** b9: HLL++ sketch distinct — constant memory per group at any
    * scale. The sketch itself is engine-internal, so the declared output
    * is the b33 est-vs-true pattern: the exact twin column plus the
    * sketch-within-rsd invariant (rsd 0.02, asserted at 5× slack). The
    * oracle states the invariant as TRUE — if the HLL ever drifts out of
    * bound, the hash compare fails loudly instead of going unchecked.
    */
  private def b9(s: SparkSession, d: String): DataFrame =
    lineitem(s, d)
      .groupBy("l_returnflag")
      .agg(
        countDistinct(col("l_partkey")).as("exact_dparts"),
        approx_count_distinct(col("l_partkey"), 0.02).as("hll"))
      .select(col("l_returnflag"), col("exact_dparts"),
        (abs(col("hll") - col("exact_dparts")) <=
          col("exact_dparts") * 0.10 + 1).as("hll_ok"))
      .orderBy("l_returnflag")

  /** b10: rollup (grouping sets) — one shuffle computes all grouping
    * levels; Mrs would run one reduce pass per level.
    */
  private def b10(s: SparkSession, d: String): DataFrame =
    lineitem(s, d)
      .rollup("l_returnflag", "l_linestatus")
      .agg(count(lit(1)).as("cnt"), moneySum(col("l_quantity")).as("sum_qty"))
      .select(
        coalesce(col("l_returnflag"), lit("ALL")).as("flag"),
        coalesce(col("l_linestatus"), lit("ALL")).as("status"),
        col("cnt"), col("sum_qty"))
      .orderBy("flag", "status")

  /** b11: ranking window — sort within key partitions only (no global
    * sort); deterministic via the o_orderkey tiebreaker.
    */
  private def b11(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy("o_custkey")
      .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
    orders(s, d)
      .select(col("o_custkey"), col("o_orderkey"),
        row_number().over(w).cast("long").as("rn"))
      .orderBy("o_custkey", "rn")
  }

  /** b12: analytic frame — 3-row sliding sum per user ordered by time.
    * Rounded to the 2dp grid the true value lies on, so engine-internal
    * summation order (Spark running frame vs DuckDB segment tree) can't
    * flip the hash.
    */
  private def b12(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy("user_id")
      .orderBy(col("ts").asc, col("event_id").asc)
      .rowsBetween(-2, Window.currentRow)
    events(s, d)
      .select(col("event_id"), col("user_id"),
        round(sum(col("value")).over(w), 2).as("run_sum"))
      .orderBy("event_id")
  }

  /** b13: lead/lag — adjacent-value pairing the MR way needs a sorted
    * reduce and manual state; here a single window pass.
    */
  private def b13(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy("user_id")
      .orderBy(col("ts").asc, col("event_id").asc)
    events(s, d)
      .select(col("event_id"), col("user_id"), col("value"),
        lag(col("value"), 1).over(w).as("prev_value"))
      .orderBy("event_id")
  }

  /** b14: global sort + limit — Spark plans TakeOrderedAndProject:
    * per-partition top-k then a k-sized driver merge, never a full global
    * sort. The Mrs equivalent forced everything through one reducer.
    */
  private def b14(s: SparkSession, d: String): DataFrame =
    orders(s, d)
      .select("o_orderkey", "o_totalprice")
      .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
      .limit(100)

  /** b15: top-k per group — window rank then filter; AQE handles group
    * skew. (A bounded-heap Aggregator is the 100 TB alternative if the
    * per-group row count is huge; see SURVEY §4.2.)
    */
  private def b15(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy("o_custkey")
      .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
    orders(s, d)
      .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"),
        row_number().over(w).cast("long").as("rn"))
      .filter(col("rn") <= 3)
      .orderBy("o_custkey", "rn")
  }

  /** b16: set operations (distinct semantics, like SQL). */
  private def b16(s: SparkSession, d: String): DataFrame = {
    val o = orders(s, d).select(col("o_custkey").as("k"))
    val c = customer(s, d).select(col("c_custkey").as("k"))
    def cnt(df: DataFrame, tag: String): DataFrame =
      df.agg(count(lit(1)).as("cnt")).select(lit(tag).as("op"), col("cnt"))
    cnt(o.union(c).distinct(), "union_distinct")
      .union(cnt(o.intersect(c), "intersect"))
      .union(cnt(o.except(c), "except"))
      .orderBy("op")
  }

  /** b17: exact row dedup — `dropDuplicates` ⇒ hash aggregate on all
    * columns (partial+final, so duplicate-heavy data collapses map-side).
    */
  private def b17(s: SparkSession, d: String): DataFrame =
    lineitem(s, d)
      .select("l_returnflag", "l_linestatus")
      .dropDuplicates()
      .orderBy("l_returnflag", "l_linestatus")

  /** b18: string scalar functions — all codegen'd built-ins, no UDFs. */
  private def b18(s: SparkSession, d: String): DataFrame =
    part(s, d)
      .select(
        col("p_partkey"),
        lower(col("p_name")).as("lname"),
        upper(col("p_brand")).as("ubrand"),
        substring(col("p_type"), 1, 4).as("t4"),
        length(col("p_name")).as("len"),
        concat(col("p_brand"), lit(":"), col("p_type")).as("bt"),
        col("p_name").like("%bolt%").as("has_bolt"),
        regexp_extract(col("p_brand"), "([0-9]+)", 1).as("brandnum"))
      .orderBy("p_partkey")

  /** b19: date/time scalar functions (UTC-pinned on both engines). */
  private def b19(s: SparkSession, d: String): DataFrame =
    orders(s, d)
      .select(
        col("o_orderkey"),
        year(col("o_orderdate")).as("y"),
        month(col("o_orderdate")).as("m"),
        quarter(col("o_orderdate")).as("q"),
        date_trunc("month", col("o_orderdate")).as("mon"),
        datediff(col("o_orderdate"), to_date(lit("1995-01-01"))).as("days_since"))
      .orderBy("o_orderkey")

  /** b20: math scalar functions; 6dp rounding absorbs libm last-ulp
    * differences between JVM and C implementations.
    */
  private def b20(s: SparkSession, d: String): DataFrame =
    part(s, d)
      .select(
        col("p_partkey"),
        round(sqrt(col("p_retailprice")), 6).as("sq"),
        round(log(col("p_retailprice")), 6).as("lnp"),
        abs(col("p_size") - 10).as("ab"),
        pow(col("p_size"), 2).as("pw"))
      .orderBy("p_partkey")

  /** b21: array functions over `array<float>` — exact-only ops (size,
    * first element, sign count); float comparisons are exact, no fp
    * arithmetic reaches the output.
    */
  private def b21(s: SparkSession, d: String): DataFrame =
    embeddings(s, d)
      .select(
        col("vec_id"),
        size(col("embedding")).cast("long").as("dim"),
        element_at(col("embedding"), 1).cast("double").as("e0"),
        size(filter(col("embedding"), x => x > lit(0.0f))).cast("long").as("n_pos"))
      .orderBy("vec_id")

  /** b22: JSON extraction from the `events.props` string column. */
  private def b22(s: SparkSession, d: String): DataFrame =
    events(s, d)
      .select(
        col("event_id"),
        get_json_object(col("props"), "$.k").cast("int").as("k_val"))
      .orderBy("event_id")

  /** b23: scalar + IN subqueries via spark.sql — Catalyst decorrelates;
    * the scalar subquery materializes once as a broadcast value.
    */
  private def b23(s: SparkSession, d: String): DataFrame = {
    orders(s, d).createOrReplaceTempView("g_orders")
    customer(s, d).createOrReplaceTempView("g_customer")
    s.sql(
      """SELECT o_orderkey, o_totalprice FROM g_orders
        |WHERE o_totalprice > (SELECT avg(o_totalprice) FROM g_orders)
        |  AND o_custkey IN (SELECT c_custkey FROM g_customer
        |                    WHERE c_mktsegment = 'BUILDING')
        |ORDER BY o_orderkey""".stripMargin)
  }

  /** b24: the UDF/UDAF surface — scalar Scala UDF + typed Aggregator
    * registered via functions.udaf (generator-style UDTFs are a3/a16's
    * explode). UDFs break codegen fusion, so the rest of this library
    * uses them only where built-ins genuinely can't express the logic.
    */
  private def b24(s: SparkSession, d: String): DataFrame = {
    val tag = udf((flag: String) => "f_" + flag.toLowerCase)
    val floorAvg = udaf(QtyFloorAvg)
    lineitem(s, d)
      .groupBy(tag(col("l_returnflag")).as("key"))
      .agg(floorAvg(col("l_quantity")).as("qty_floor_avg"),
        count(lit(1)).as("cnt"))
      .orderBy("key")
  }

  /** b25: bucketed co-located join — both sides written bucketed+sorted
    * on the join key (8 buckets), so the sort-merge join reads bucket i
    * against bucket i with NO shuffle of either side (no
    * `Exchange hashpartitioning` in the plan; asserted in
    * RelationalPlanSpec). This is THE 100 TB fact-to-fact join answer
    * when neither side broadcasts: pay the partitioning once at write
    * time, join for free forever after. merge hint pins SMJ so the
    * small test dim doesn't get broadcast and hide the demonstration.
    */
  /** b25's bucketed layout is the PAY-ONCE cost its Scaladoc claims —
    * built once per corpus dir and reused by later invocations (Bench's
    * two passes, Verify after tests). Table names and TmpDir paths are
    * KEYED BY the corpus dir (an md5 suffix), so two dirs never share
    * catalog entries or files: a concurrent caller on dir B can never
    * overwrite the tables a dir-A plan (lazy until its collect) is
    * about to read. The JVM-global lock only serializes builds; reads
    * of an already-built dir proceed without it. A session with a
    * genuinely separate catalog fails LOUDLY on `s.table`.
    */
  private val b25Lock = new Object
  private val b25Built = scala.collection.mutable.Set[String]()

  private def b25(s: SparkSession, d: String): DataFrame = {
    val tag = org.apache.commons.codec.digest.DigestUtils.md5Hex(d).take(8)
    val base = graft.util.TmpDir.path(s"b25_$tag")
    b25Lock.synchronized {
      if (!b25Built.contains(d)) {
        orders(s, d).select("o_orderkey", "o_custkey", "o_totalprice")
          .write.mode("overwrite").format("parquet")
          .bucketBy(8, "o_custkey").sortBy("o_custkey")
          .option("path", s"$base/orders").saveAsTable(s"b25_orders_$tag")
        customer(s, d).select("c_custkey", "c_name")
          .write.mode("overwrite").format("parquet")
          .bucketBy(8, "c_custkey").sortBy("c_custkey")
          .option("path", s"$base/customer").saveAsTable(s"b25_customer_$tag")
        b25Built += d
      }
    }
    s.table(s"b25_orders_$tag").hint("merge")
      .join(s.table(s"b25_customer_$tag"), col("o_custkey") === col("c_custkey"))
      .groupBy("c_custkey")
      .agg(count(lit(1)).as("n_orders"), moneySum(col("o_totalprice")).as("total"))
      .orderBy("c_custkey")
  }

  /** b26's salt fan-out: sub-keys per hot key. */
  private final val SaltBuckets = 16

  /** b26: salted skew-safe aggregation — two-phase: spread each hot key
    * over 16 salt sub-keys (first shuffle distributes the skew), then
    * merge the 16 partials (second shuffle is #keys × 16 rows, tiny).
    * Result is identical to the direct agg (sums are exact DECIMAL, so
    * re-association is lossless) — which is exactly why it oracles
    * against the plain GROUP BY.
    */
  private def b26(s: SparkSession, d: String): DataFrame =
    lineitem(s, d)
      .withColumn("salt",
        pmod(col("l_orderkey"), lit(SaltBuckets)))
      .groupBy("l_returnflag", "salt")
      .agg(count(lit(1)).as("pc"),
        sum(col("l_quantity").cast("decimal(18,2)")).as("pq"))
      .groupBy("l_returnflag")
      .agg(sum(col("pc")).as("cnt"), sum(col("pq")).cast("double").as("sum_qty"))
      .orderBy("l_returnflag")

  /** b27: approximate quantile sketch — constant-memory per group at
    * any scale (the quantile sibling of b9's HLL). Three portable
    * declarations around the engine-internal sketch: the exact
    * interpolated median (prices as integer cents, so interpolation is
    * the c6-proven int midpoint on both engines), a deterministic
    * 10%-hash-sample median (a real sampling sketch DuckDB reproduces
    * bit-for-bit), and the percentile_approx-within-1% invariant
    * (accuracy 10000 ⇒ rank error ≤ 0.01%), oracled as TRUE.
    */
  private def b27(s: SparkSession, d: String): DataFrame = {
    val cents = round(col("l_extendedprice") * 100).cast("long")
    val keyHash = portableHash(
      concat_ws(":", col("l_orderkey"), col("l_linenumber")))
    lineitem(s, d)
      .withColumn("cents", cents)
      .withColumn("in_sample", pmod(keyHash, lit(10)) === 0)
      .groupBy("l_returnflag")
      .agg(
        percentile(col("cents"), lit(0.5)).as("p50_exact"),
        percentile(when(col("in_sample"), col("cents")), lit(0.5))
          .as("p50_sample"),
        percentile_approx(col("cents"), lit(0.5), lit(10000)).as("pa"))
      .select(col("l_returnflag"), col("p50_exact"), col("p50_sample"),
        (abs(col("pa") - col("p50_exact")) <= col("p50_exact") * 0.01)
          .as("approx_ok"))
      .orderBy("l_returnflag")
  }

  /** b28: distribution window functions — ntile/percent_rank/cume_dist/
    * first_value. Raw doubles are exact integer ratios computed
    * identically on both engines; no rounding needed.
    */
  private def b28(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy("o_orderstatus")
      .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
    orders(s, d)
      .select(col("o_orderkey"),
        ntile(4).over(w).cast("long").as("nt"),
        percent_rank().over(w).as("pr"),
        cume_dist().over(w).as("cd"),
        first_value(col("o_orderkey")).over(w).as("fv"))
      .orderBy("o_orderkey")
  }

  /** b29: pivot — one shuffle computes the cross-tab; value list pinned
    * explicitly so the output schema is deterministic.
    */
  private def b29(s: SparkSession, d: String): DataFrame =
    lineitem(s, d)
      .groupBy("l_returnflag")
      .pivot("l_linestatus", Seq("F", "O"))
      .agg(count(lit(1)))
      .orderBy("l_returnflag")

  /** b30: unpivot (melt) — wide→long reshape, a Generate (no shuffle). */
  private def b30(s: SparkSession, d: String): DataFrame =
    part(s, d)
      .select(col("p_partkey"), col("p_retailprice").as("price"),
        col("p_size").cast("double").as("size"))
      .unpivot(Array(col("p_partkey")),
        Array(col("price"), col("size")), "name", "value")
      .orderBy("p_partkey", "name")

  /** b34: cube — all 2^n grouping combinations in one shuffle
    * (completes the grouping-sets family next to b10's rollup).
    */
  private def b34(s: SparkSession, d: String): DataFrame =
    lineitem(s, d)
      .cube("l_returnflag", "l_linestatus")
      .agg(count(lit(1)).as("cnt"), moneySum(col("l_quantity")).as("sum_qty"))
      .select(
        coalesce(col("l_returnflag"), lit("ALL")).as("flag"),
        coalesce(col("l_linestatus"), lit("ALL")).as("status"),
        col("cnt"), col("sum_qty"))
      .orderBy("flag", "status")

  /** b35: Count-Min sketch — the frequency sibling of b9's HLL and
    * b27's quantile sketch, built by COMPOSITION (no engine internals):
    * depth 3 × width 64 counters, md5-derived bucket hashes, estimate =
    * min over rows. Everything is deterministic integer arithmetic, so
    * unlike the engine sketches the CMS estimate itself is reproduced
    * bit-for-bit by DuckDB — no invariant flag needed. Scale shape: the
    * sketch is a 192-cell partial-aggregated table (broadcastable at any
    * corpus size); true counts join it only for the declared est-vs-true
    * output.
    */
  private def b35(s: SparkSession, d: String): DataFrame = {
    val keys = lineitem(s, d).select(col("l_suppkey").cast("long").as("key"))
    def bucketOf(j: org.apache.spark.sql.Column, k: org.apache.spark.sql.Column) =
      pmod(portableHash(concat_ws(":", j, k)), lit(64))
    // Pre-aggregate counts per key BEFORE hashing (map-side partial agg
    // collapses the stream; one md5 per distinct key × depth, not per
    // row — cell values are identical: Σ count(key) over keys in cell).
    val tru = keys.groupBy("key").agg(count(lit(1)).as("true_cnt"))
      .localCheckpoint(false)
    val cms = tru
      .select(col("key"), col("true_cnt"), explode(expr("sequence(0, 2)")).as("j"))
      .withColumn("bucket", bucketOf(col("j"), col("key")))
      .groupBy("j", "bucket").agg(sum(col("true_cnt")).as("c"))
    tru
      .select(col("key"), col("true_cnt"), explode(expr("sequence(0, 2)")).as("j"))
      .withColumn("bucket", bucketOf(col("j"), col("key")))
      .join(broadcast(cms), Seq("j", "bucket"))
      .groupBy("key", "true_cnt").agg(min(col("c")).as("cms_cnt"))
      .orderBy(col("true_cnt").desc, col("key")).limit(10)
  }

  /** b36: RANGE window frame over event time — trailing-1h event count
    * per user. The frame bound is exact integer µs on both engines
    * (fractional epoch doubles would disagree at the boundary); RANGE
    * includes ts peers, so the result is order-independent within ties.
    */
  private def b36(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("us")
      .rangeBetween(-3600L * 1000000L, 0)
    events(s, d)
      .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("us"))
      .select(col("user_id"), col("event_id"),
        count(lit(1)).over(w).as("trailing_1h"))
      .orderBy("user_id", "event_id")
  }

  /** b38: Bloom filter by composition — the join-pruning sketch next to
    * b35's Count-Min: the distinct returned-part key set is folded into
    * a 256-bit / 4-hash bloom (five 63-bit words via `bit_or` of shifted
    * md5-derived bits — partial-agg'd, so the build shuffles 5 words
    * however large the key set), then a 50-key probe set is checked
    * with a broadcast join against the words. Declared output pairs
    * `might_contain` with the exact membership: no false negatives by
    * construction, and the md5-derived bits make the false POSITIVES
    * identical on both engines, so the sketch itself is oracled
    * bit-for-bit. At 100 TB this is the semi-join pre-filter that
    * skips shuffling probe-side rows that cannot match.
    */
  private def b38(s: SparkSession, d: String): DataFrame = {
    val hashes = 4
    def bit(key: Column, j: Int): Column =
      pmod(portableHash(concat(lit(s"bloom:$j:"), key.cast("string"))),
        lit(256L))
    // checkpointed: the distinct over the filtered scan feeds BOTH the
    // words build and the exact-membership twin below
    val keys = lineitem(s, d).filter(col("l_returnflag") === "R")
      .select(col("l_partkey")).distinct().localCheckpoint(false)
    val words = keys
      .select(explode(array((0 until hashes).map(j =>
        bit(col("l_partkey"), j)): _*)).as("b"))
      .select(expr("b div 63").as("w"),
        expr("shiftleft(1L, cast(b % 63 as int))").as("m"))
      .groupBy("w").agg(expr("bit_or(m)").as("word"))
    val probes = part(s, d).filter(col("p_partkey") < 50)
      .select(col("p_partkey")).localCheckpoint(false)
    val probeBits = probes
      .select(col("p_partkey"), explode(array((0 until hashes).map(j =>
        bit(col("p_partkey"), j)): _*)).as("b"))
      .select(col("p_partkey"), expr("b div 63").as("w"),
        expr("shiftleft(1L, cast(b % 63 as int))").as("m"))
    // LEFT join: a word no build key hashed into has no row, and its
    // bits are definitionally UNSET (coalesce to 0) — an inner join
    // would drop the probe's row and report a definite-no as maybe
    val might = probeBits.join(broadcast(words), Seq("w"), "left")
      .groupBy("p_partkey")
      .agg(expr("bool_and((coalesce(word, 0L) & m) != 0)").as("might_contain"))
    val actual = probes.join(keys,
        probes("p_partkey") === keys("l_partkey"), "left")
      .select(col("p_partkey"), col("l_partkey").isNotNull.as("truly_contains"))
    might.join(actual, Seq("p_partkey"))
      .select("p_partkey", "might_contain", "truly_contains")
      .orderBy("p_partkey")
  }

  /** b37: generalized TWO-TABLE interval join at scale — click→purchase
    * pairs of the same user within [click, click+1h]. b6's window trick
    * needs both sides in one sorted stream; across two tables the
    * scalable form is TIME-BUCKETING: each click replicates to its
    * window's (at most) two 1h buckets, purchases carry their own
    * bucket, and the join becomes a pure EQUI join on (user, bucket)
    * with the exact interval as a cheap residual — per-key groups are
    * bounded by one user-hour of traffic, never a user's whole history
    * (the SMJ-residual blowup b6 had). Each matching pair appears in
    * exactly one bucket (the purchase's own), so no dedup pass.
    */
  private def b37(s: SparkSession, d: String): DataFrame = {
    val e = events(s, d)
    val hourUs = 3600L * 1000000L
    val clicks = e.filter(col("event_type") === "click")
      .select(col("user_id"), unix_micros(col("ts")).as("cus"),
        col("event_id").as("click_id"))
      .withColumn("bkt",
        explode(array(expr(s"cus div $hourUs"), expr(s"cus div $hourUs") + 1)))
    val purch = e.filter(col("event_type") === "purchase")
      .select(col("user_id").as("pu"), unix_micros(col("ts")).as("pus"),
        col("event_id").as("purchase_id"),
        expr(s"unix_micros(ts) div $hourUs").as("pbkt"))
    clicks.join(purch,
        col("user_id") === col("pu") && col("bkt") === col("pbkt") &&
          col("pus") >= col("cus") && col("pus") <= col("cus") + hourUs)
      .select("user_id", "click_id", "purchase_id")
      .orderBy("user_id", "click_id", "purchase_id")
  }

  /** b31: AS-OF join — each purchase matched to the same user's latest
    * click at-or-before it. Spark has no asof join operator; the
    * Spark-native plan is union-tag + sort-within-key +
    * `last(_, ignoreNulls)` carry-forward: ONE shuffle on the key, one
    * window pass — strictly better than the naive range-join + argmax
    * (which materializes every candidate pair). Clicks sort before
    * purchases at equal ts (side 0 < 1), giving at-or-before (>=)
    * semantics, matching DuckDB's `ASOF JOIN ... ON p.ts >= c.ts`.
    * Gap computed in exact integer µs (floor of double epoch diff can
    * flip at integer-second boundaries).
    */
  private def b31(s: SparkSession, d: String): DataFrame = {
    val ev = events(s, d)
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id"), unix_micros(col("ts")).as("ts_us"),
        col("event_id"), lit(0).as("side"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), unix_micros(col("ts")).as("ts_us"),
        col("event_id"), lit(1).as("side"))
    val w = Window.partitionBy("user_id")
      .orderBy("ts_us", "side", "event_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    clicks.union(purchases)
      .withColumn("click_id",
        last(when(col("side") === 0, col("event_id")), ignoreNulls = true).over(w))
      .withColumn("click_us",
        last(when(col("side") === 0, col("ts_us")), ignoreNulls = true).over(w))
      .filter(col("side") === 1)
      .select(
        col("event_id").as("purchase_id"), col("user_id"), col("click_id"),
        expr("(ts_us - click_us) div 1000000").as("gap_s"))
      .orderBy("purchase_id")
  }

  /** b32: the SAME as-of semantics as b31 but through the full custom
    * operator stack — graft.plans.AsOfJoinPlan/Strategy/Exec (custom
    * LogicalPlan + SparkStrategy + sort-merge SparkPlan). b31, b32 and
    * DuckDB's native ASOF JOIN triangulate each other.
    */
  private def b32(s: SparkSession, d: String): DataFrame = {
    val ev = events(s, d)
    val p = ev.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), unix_micros(col("ts")).as("p_us"),
        col("event_id").as("purchase_id"))
    val c = ev.filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), unix_micros(col("ts")).as("c_us"),
        col("event_id").as("click_id"))
    graft.plans.AsOfJoin.join(p, c, "p_user", "p_us", "c_user", "c_us")
      .select(col("purchase_id"), col("p_user").as("user_id"), col("click_id"),
        expr("(p_us - c_us) div 1000000").as("gap_s"))
      .orderBy("purchase_id")
  }

  /** b33: the KMV sketch (custom TypedImperativeAggregate,
    * graft.functions.KmvDistinct) — a deterministic, portable
    * approximate-distinct that the oracle reproduces EXACTLY (unlike
    * b9's HLL). Constant 64×8 bytes of state per group.
    */
  private def b33(s: SparkSession, d: String): DataFrame = {
    graft.functions.GraftFunctions.register(s)
    lineitem(s, d)
      .groupBy("l_returnflag")
      .agg(expr("kmv_distinct(l_partkey)").as("est_dparts"),
        countDistinct(col("l_partkey")).as("true_dparts"))
      .orderBy("l_returnflag")
  }

  /** b39: salted SKEW join — the join sibling of b26's salted
    * aggregation. When one probe-side key is hot (think one supplier
    * carrying 10% of a 100 TB lineitem), a plain shuffled join lands the
    * whole key on one task. Salting spreads it: replicate the SMALL side
    * ×S with an explicit salt column, give each probe row a deterministic
    * salt in [0, S), and join on (key, salt) — the hot key now occupies S
    * tasks. The result is salt-invariant, so the oracle is the plain
    * join. `shuffle_hash` hint keeps the demo honest (AQE would otherwise
    * broadcast the 10-row supplier side and trivially dodge the skew).
    * This is exactly what AQE skew-join does adaptively; the manual form
    * works when AQE can't see the skew (e.g. skew introduced by an
    * upstream operator in the same stage).
    */
  private def b39(s: SparkSession, d: String): DataFrame = {
    val salts = 16
    val sup = supplier(s, d)
      .select(col("s_suppkey"), col("s_name"),
        explode(sequence(lit(0L), lit(salts - 1L))).as("s_salt"))
    // the salt never reaches the declared output, so it needs no md5
    // portability — any deterministic spread works, and pmod on the key
    // is free where portableHash would md5 every fact row
    val li = lineitem(s, d)
      .select(col("l_suppkey"), col("l_extendedprice"), col("l_discount"),
        pmod(col("l_orderkey"), lit(salts.toLong)).as("salt"))
    li.join(sup.hint("shuffle_hash"),
        li("l_suppkey") === sup("s_suppkey") && li("salt") === sup("s_salt"))
      .groupBy("s_suppkey", "s_name")
      .agg(count(lit(1)).as("cnt"),
        moneySum4(col("l_extendedprice") * (lit(1.0) - col("l_discount")))
          .as("revenue"))
      .orderBy("s_suppkey")
  }

  /** b40: the full-SQL star join — a 5-table TPC-H-Q5-shaped query
    * through `spark.sql`, end-to-end Catalyst: filter pushdown into both
    * fact scans, join reordering, broadcast of every dimension
    * (region/nation/customer all « the 10 MB threshold), partial
    * aggregation before the final 1-row-per-nation shuffle. This is the
    * query shape the whole Tier B exists for; at 100 TB the plan is
    * scan-local except one nation-keyed exchange.
    */
  private def b40(s: SparkSession, d: String): DataFrame = {
    lineitem(s, d).createOrReplaceTempView("g_lineitem")
    orders(s, d).createOrReplaceTempView("g_orders")
    customer(s, d).createOrReplaceTempView("g_customer")
    nation(s, d).createOrReplaceTempView("g_nation")
    region(s, d).createOrReplaceTempView("g_region")
    s.sql(
      """SELECT n_name, count(*) AS cnt,
        |  CAST(sum(CAST(l_extendedprice * (1 - l_discount)
        |                AS DECIMAL(18,4))) AS DOUBLE) AS revenue
        |FROM g_lineitem
        |JOIN g_orders   ON l_orderkey = o_orderkey
        |JOIN g_customer ON o_custkey = c_custkey
        |JOIN g_nation   ON c_nationkey = n_nationkey
        |JOIN g_region   ON n_regionkey = r_regionkey
        |WHERE r_name = 'ASIA' AND o_orderstatus = 'F'
        |GROUP BY n_name
        |ORDER BY revenue DESC, n_name""".stripMargin)
  }

  /** b41: bloom-PRUNED join — the runtime-filter pattern: build a
    * deterministic md5 bloom over the selective (filtered dimension)
    * side's join keys, inline it as a literal array (BloomLit, the c36
    * machinery), and prune the fact side MAP-SIDE before its exchange.
    * At 100 TB this is the difference between shuffling 6 B lineitem
    * rows and shuffling the ~5% that can possibly match — exactly what
    * Spark's own runtime bloom filters / DPP do when thresholds let
    * them; the manual form is explicit and always on. The join result
    * is bloom-invariant (no false negatives; false positives die in the
    * join), so the oracle is the plain join. SMJ-hinted: against a
    * dimension this size Spark would broadcast and there'd be no
    * exchange to prune — the hint models the large-dimension case the
    * pattern exists for.
    */
  private def b41(s: SparkSession, d: String): DataFrame = {
    import graft.util.BloomLit
    val hashes = 4
    // 64512 bits (1024 words, an 8 KB literal) holds the one-brand key
    // set at ~10 bits/key up to ~6k keys — FP well under 1%, so the
    // prune passes ~the matching 4% of the fact table, not all of it.
    // portable=false: the FPs never reach the declared output, so the
    // probe uses codegen'd xxhash64 instead of md5 — the probe side is
    // the fact table, and per-row hash cost is the whole bill.
    val bloomBits = 63L * 1024
    // checkpointed: the filtered dim feeds the bloom build + the join
    val dim = part(s, d).filter(col("p_brand") === "Brand#13")
      .select(col("p_partkey"), col("p_type")).localCheckpoint(false)
    val wordArr = BloomLit.wordsArray(dim, col("p_partkey"), "jb", hashes,
      bloomBits, portable = false)
    val pruned = BloomLit.withMight(
        lineitem(s, d).select(col("l_partkey"), col("l_extendedprice"),
          col("l_discount")),
        col("l_partkey"), wordArr, "jb", hashes, "bf_keep",
        bloomBits, portable = false)
      .filter(col("bf_keep")).drop("bf_keep")
    pruned.join(dim.hint("merge"), col("l_partkey") === col("p_partkey"))
      .groupBy("p_type")
      .agg(count(lit(1)).as("cnt"),
        moneySum4(col("l_extendedprice") * (lit(1.0) - col("l_discount")))
          .as("revenue"))
      .orderBy("p_type")
  }

  /** b42: heavy hitters at bounded memory — Misra-Gries summaries per
    * partition (capacity k ⇒ O(k) state however long the stream), union
    * of survivors as the candidate set, then ONE exact recount
    * restricted to candidates via broadcast semi-join, thresholded at
    * φ = 1/40 of the stream. The MG guarantee — any item with global
    * count > n/(k+1) survives at least one partition's summary, and
    * per-partition summaries inherit it — means k ≥ 1/φ gives NO false
    * negatives from pass 1, and the exact recount kills all false
    * positives, so the declared output equals the plain
    * GROUP BY … HAVING (the oracle). At 100 TB the full histogram is
    * vocabulary-wide (billions of keys); this plan shuffles only the
    * bounded candidate set (≤ k·partitions rows — here lossless since
    * the synthetic vocab < k, but the state bound is what ships). The
    * stream length rides the SAME pass as the summaries (one count row
    * per partition), so the corpus is scanned exactly twice — the MG
    * algorithm's inherent minimum (sketch pass + exact recount pass).
    */
  private def b42(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val phi = 40L
    val cap = 64 // ≥ 1/φ ⇒ Misra-Gries no-false-negative guarantee
    val tok = documents(s, d)
      .select(explode(split(col("text"), " ")).as("w"))
    // ONE pass emits the MG survivors AND the per-partition token count
    // (null word marks a count row) — round 4 paid a separate
    // tok.count(), a second full scan + re-tokenization of the corpus.
    // The summary is ≤ (cap+1)·partitions rows; localCheckpoint so the
    // candidate branch and the length branch don't each re-tokenize.
    val summary = tok.as[String].mapPartitions { it =>
      val m = scala.collection.mutable.HashMap.empty[String, Long]
      var n = 0L
      it.foreach { w =>
        n += 1L
        if (m.contains(w)) m(w) += 1L
        else if (m.size < cap) m(w) = 1L
        else { // MG eviction: decrement every counter, drop zeros
          m.mapValuesInPlace((_, v) => v - 1L)
          m.filterInPlace((_, v) => v > 0L)
        }
      }
      m.keysIterator.map(w => (w, 0L)) ++ Iterator.single((null: String, n))
    }.toDF("w", "pn").localCheckpoint(false)
    val cands = summary.filter(col("w").isNotNull).select("w").distinct()
    // stream length as a driver scalar — the sum of the bounded
    // per-partition count rows (SCALE.md §4 bounded-collect
    // discipline); joining a 1-row total instead would plan the
    // NestedLoopJoin the blanket plan audit bans
    val nRow = summary.filter(col("w").isNull)
      .agg(coalesce(sum("pn"), lit(0L))).head()
    val n = nRow.getLong(0)
    // pass 2 (the MG algorithm's inherent exact-recount scan) is the
    // ONLY other read of the corpus
    tok.join(broadcast(cands), Seq("w"), "left_semi")
      .groupBy("w").agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") * phi >= n)
      .select(col("w").as("token"), col("cnt"))
      .orderBy("token")
  }

  /** Arithmetic-only 16-bit interleave of two masked columns — div/mod
    * renders identically in Spark SQL (`div`) and DuckDB (`//`), so ONE
    * generator yields both the operator expression and its oracle.
    */
  private def zWeave(x: String, y: String, intDiv: String): String =
    (0 until 16).map { i =>
      s"(($x $intDiv ${1L << i}) % 2) * ${1L << (2 * i)} + " +
        s"(($y $intDiv ${1L << i}) % 2) * ${1L << (2 * i + 1)}"
    }.mkString(" + ")

  /** b43: Z-ORDER layout clustering — the multi-dimensional data-layout
    * operator behind file skipping: interleave the bits of two filter
    * dimensions into one sort key, cluster storage by it, and scans
    * filtering on EITHER dimension skip most files via min/max stats —
    * what a 1-D sort only gives its leading column. Declared output is
    * the per-bucket (zkey high bits) count + min/max rectangle of both
    * dims: tight rectangles ARE the prune-ability, and they're
    * deterministic (no sampling), hence oracle-able. Production write:
    * `repartitionByRange($"zkey").sortWithinPartitions($"zkey")` →
    * parquet row-group stats — the range partitioner's sampled split
    * points don't change WHAT is clustered, only file boundaries. The
    * stats query is one partial-agg'd groupBy: scan-local at any scale.
    */
  private def b43(s: SparkSession, d: String): DataFrame =
    lineitem(s, d)
      .select((col("l_partkey") % 65536).as("px"),
        (col("l_suppkey") % 65536).as("sx"))
      .withColumn("zkey", expr(zWeave("px", "sx", "div")))
      .groupBy(expr("zkey div 1048576").as("bucket"))
      .agg(count(lit(1)).as("cnt"),
        min("px").as("min_pk"), max("px").as("max_pk"),
        min("sx").as("min_sk"), max("sx").as("max_sk"))
      .orderBy("bucket")

  /** b44: funnel / sequence-pattern detection (MATCH_RECOGNIZE-lite) —
    * per user, the earliest view→click→purchase chain with each step
    * within 24 h of the previous, plus the count of converting
    * purchases. The scalable shape is b31's carry-forward trick twice
    * over ONE user-keyed sort: last qualifying view under each row,
    * then last qualifying click (a click is qualifying iff a view
    * precedes it within the step window), then purchases test the
    * carried click — no self-joins, no per-key quadratic blowup (the
    * naive 3-way range join is exactly b6's scale-killer squared). Both
    * window passes share partitioning+ordering ⇒ one Exchange+Sort.
    */
  private def b44(s: SparkSession, d: String): DataFrame = {
    val stepUs = 86400L * 1000000L
    val w = Window.partitionBy("user_id").orderBy("us", "event_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    events(s, d)
      .filter(col("event_type").isin("view", "click", "purchase"))
      .select(col("user_id"), col("event_type"),
        unix_micros(col("ts")).as("us"), col("event_id"))
      .withColumn("last_view",
        last(when(col("event_type") === "view", col("us")),
          ignoreNulls = true).over(w))
      .withColumn("last_ck",
        last(when(col("event_type") === "click" &&
          col("last_view").isNotNull &&
          col("us") - col("last_view") <= stepUs, col("us")),
          ignoreNulls = true).over(w))
      .filter(col("event_type") === "purchase" && col("last_ck").isNotNull &&
        col("us") - col("last_ck") <= stepUs)
      .groupBy("user_id")
      .agg(min("us").as("funnel_us"), count(lit(1)).as("n_conversions"))
      .orderBy("user_id")
  }

  /** b45: batch CDC merge — the MERGE INTO / upsert pattern as a plain
    * FULL OUTER join of the current snapshot against a change batch
    * (updates / deletes / inserts), the batch twin of d13's
    * foreachBatch streaming merge. The change batch is derived
    * deterministically from the snapshot itself (keys %10==3 update,
    * %10==7 delete, %100==0 spawn an insert above the key space) so the
    * op needs no side table. Declared output is the per-change-kind
    * audit (count + exact cents sum over the NEXT snapshot) a
    * production merge job emits alongside its write. One key-keyed
    * shuffle at any scale; balances in integer cents (floor(×100) is
    * the same IEEE double op on both engines).
    */
  private def b45(s: SparkSession, d: String): DataFrame = {
    val snap = customer(s, d).select(col("c_custkey").as("key"),
      floor(col("c_acctbal") * 100).cast("long").as("bal_cents"))
    // insert keys must land ABOVE the live key space at ANY scale
    // factor — a fixed +1e6 offset collides with real custkeys past
    // sf~6.7, making the change batch hold two rows for one key (not a
    // valid MERGE batch). Bounded driver scalar (one row).
    // (null max == empty snapshot: the batch is empty too, any offset
    // is vacuously collision-free)
    val offRow = customer(s, d).agg(max("c_custkey")).head()
    val insOff = if (offRow.isNullAt(0)) 1L else offRow.getLong(0) + 1L
    val upd = snap.filter(col("key") % 10 === 3)
      .select(col("key"), (col("bal_cents") + 10000).as("new_bal"),
        lit("U").as("op"))
    val del = snap.filter(col("key") % 10 === 7)
      .select(col("key"), lit(0L).as("new_bal"), lit("D").as("op"))
    val ins = snap.filter(col("key") % 100 === 0)
      .select((col("key") + insOff).as("key"), col("bal_cents").as("new_bal"),
        lit("I").as("op"))
    snap.join(upd.union(del).union(ins), Seq("key"), "full_outer")
      .select(
        when(col("op").isNull, "unchanged").when(col("op") === "U", "updated")
          .when(col("op") === "D", "deleted").otherwise("inserted")
          .as("change"),
        when(col("op") === "D", lit(null).cast("long"))
          .when(col("op").isNull, col("bal_cents"))
          .otherwise(col("new_bal")).as("bal"))
      .groupBy("change")
      .agg(count(lit(1)).as("cnt"), sum("bal").as("bal_cents_sum"))
      .orderBy("change")
  }

  /** b46: bounded top-k per group via the typed `Aggregator` extension
    * point ([[graft.functions.TopKByScore]]) — the sort-free twin of
    * b15's window form. Spark ≥ 3.5 already bounds b15's shuffle
    * (Partial `WindowGroupLimit` below the exchange), but that plan
    * still fully SORTS every scanned partition map-side and re-sorts
    * reduce-side; the aggregator form replaces both sorts with
    * ObjectHashAggregate partial → final (plan-asserted: no sort below
    * the presentation ORDER BY), streaming O(n·k) updates into ≤ k-row
    * buffers. Same declared total order (price DESC, orderkey ASC) ⇒
    * b15's oracle verbatim — the two plans are provably
    * result-identical.
    */
  private def b46(s: SparkSession, d: String): DataFrame = {
    val topk = udaf(graft.functions.TopKByScore(3))
    orders(s, d)
      .groupBy(col("o_custkey"))
      .agg(topk(col("o_orderkey"), col("o_totalprice")).as("top"))
      .select(col("o_custkey"), posexplode(col("top")))
      .select(col("o_custkey"), col("col._1").as("o_orderkey"),
        col("col._2").as("o_totalprice"),
        (col("pos") + 1).cast("long").as("rn"))
      .orderBy("o_custkey", "rn")
  }

  /** b47: deterministic ordered list aggregation — the export/render
    * surface: `collect_list` is EXPLICITLY unordered in Spark (values
    * arrive in partition race order), so the portable form collects
    * structs, `array_sort`s them (price DESC via negation, orderkey
    * tiebreak), and renders CSV. Partial-aggregates map-side like any
    * agg; per-group state is the group itself — the ONE declared op
    * with O(group) state, included because ordered rendering is a real
    * export need; the bounded-k alternative is b46. Deliberately
    * deterministic: an unordered collect_list can never be oracled.
    */
  private def b47(s: SparkSession, d: String): DataFrame =
    orders(s, d)
      .groupBy(col("o_custkey"))
      .agg(
        concat_ws(",",
          transform(
            array_sort(collect_list(struct(
              (col("o_totalprice") * -1).as("np"),
              col("o_orderkey").as("k")))),
            x => x.getField("k").cast("string"))).as("orders_csv"),
        count(lit(1)).as("n_orders"))
      .orderBy("o_custkey")

  /** b48: correlated EXISTS / NOT EXISTS — the decorrelation surface
    * b23's scalar/IN subqueries don't touch. A Mrs user would write two
    * reduce-side membership passes; Catalyst rewrites both predicates
    * into one LeftSemi and one LeftAnti join against the same fact
    * table (plan-asserted in Round5PlanSpec — NOT a per-row re-scan of
    * lineitem, which is what the naive MR translation and a
    * NestedLoopJoin would both do). At 100 TB the semi/anti sides
    * partial-aggregate to distinct suppkeys before shuffling.
    */
  private def b48(s: SparkSession, d: String): DataFrame = {
    supplier(s, d).createOrReplaceTempView("g_supplier")
    lineitem(s, d).createOrReplaceTempView("g_lineitem")
    s.sql(
      """SELECT s_suppkey, s_name FROM g_supplier
        |WHERE EXISTS (SELECT 1 FROM g_lineitem
        |              WHERE l_suppkey = s_suppkey AND l_returnflag = 'R')
        |  AND NOT EXISTS (SELECT 1 FROM g_lineitem
        |                  WHERE l_suppkey = s_suppkey
        |                    AND l_quantity >= 49 AND l_discount >= 0.10)
        |ORDER BY s_suppkey""".stripMargin)
  }

  /** b49: LATERAL correlated subquery — the "for each outer row, run a
    * parameterized subquery" surface (SQL:1999 LATERAL; Spark ≥ 3.2).
    * Per nation: that nation's customer count and max/total account
    * balance. Catalyst decorrelates the lateral aggregate into a
    * pre-aggregated join keyed on c_nationkey (plan-asserted: no
    * nested-loop, aggregation BELOW the join), so the 100 TB shape is
    * one partial-agg'd shuffle of the customer table, not |nation|
    * re-scans.
    */
  private def b49(s: SparkSession, d: String): DataFrame = {
    nation(s, d).createOrReplaceTempView("g_nation")
    customer(s, d).createOrReplaceTempView("g_customer")
    s.sql(
      """SELECT n_nationkey, n_name, c.n_cust, c.max_bal, c.sum_bal
        |FROM g_nation, LATERAL (
        |  SELECT count(*) AS n_cust,
        |         max(c_acctbal) AS max_bal,
        |         CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS sum_bal
        |  FROM g_customer WHERE c_nationkey = n_nationkey
        |) c
        |ORDER BY n_nationkey""".stripMargin)
  }

  /** b50: iterative multi-hop graph traversal (BFS distance) — the
    * driver-loop pattern a13/c18 use, on the bipartite supplier↔part
    * graph lineitem induces (supplier node = −(suppkey+1) — the corpus
    * keys are 0-based, so the shift keeps the two id spaces disjoint —
    * part node = +partkey; distinct edges only). BFS from supplier 1
    * (node −2) to depth 4,
    * declared output = per-level node census. Each round is one
    * edge-keyed equi join + a min-distance partial agg — the scale
    * shape of every production graph pass (label propagation, CC,
    * shortest path): state is O(nodes), work per round is O(edges),
    * nothing quadratic. (A frontier-delta refinement would cut
    * re-expansion of settled nodes; the full-relabel form is c18's,
    * kept for one shared idiom.) DuckDB oracles it with a recursive
    * CTE whose UNION-dedup bounds states to (node, depth) pairs.
    */
  /** b50's mirrored+partitioned edge list, memoized per (session,
    * sfDir): the traversal's one-time INDEX (the c18 minhashIndex
    * precedent — a production graph system builds the partitioned
    * adjacency once per snapshot, not once per traversal). Evicted
    * entries are UNPERSISTED so their checkpoint blocks release
    * deterministically instead of waiting for GC + ContextCleaner.
    * localCheckpoint caveat (inherent, predates the memo): blocks are
    * non-reliable — on a real cluster an executor loss invalidates
    * them, and the production form is `checkpoint` to durable storage.
    * Eviction failure mode: unpersist drops blocks immediately, so an
    * in-flight traversal on ANOTHER thread still holding an evicted
    * entry fails LOUDLY with missing-block errors (lineage was
    * truncated; no silent wrong answer). Reachable only in a >8-key
    * concurrent multi-corpus JVM — outside the supported profile.
    */
  private val bfsEdgeMemo =
    new graft.util.BoundedMemo[(SparkSession, String), DataFrame](
      onEvict = df => try {
        // Dataset.unpersist only talks to the CacheManager and is a
        // no-op for localCheckpoint blocks; the persisted RDD sits
        // inside the checkpointed Dataset's LogicalRDD
        df.queryExecution.analyzed.collectFirst {
          case lr: org.apache.spark.sql.execution.LogicalRDD =>
            lr.rdd.unpersist(false)
        }: Unit
      } catch { case _: Throwable => () })

  private def bfsEdges(s: SparkSession, d: String): DataFrame =
    bfsEdgeMemo.get((s, d)) {
      // distinct BEFORE mirroring: supplier nodes are negative and part
      // nodes positive, so the two orientations can never collide — the
      // mirror of a distinct edge set is already distinct, and the
      // distinct shuffle moves half the rows of the mirrored union.
      val fwd = lineitem(s, d)
        .select((-(col("l_suppkey") + 1)).as("u"), col("l_partkey").as("v"))
        .distinct()
      // Pre-partition on the join key BEFORE checkpointing: localCheckpoint
      // pins outputPartitioning in the LogicalRDD, so every round's
      // frontier⋈edges join reuses it and EnsureRequirements exchanges
      // only the (small) frontier — the edge table, the loop's largest
      // input, is shuffled ONCE for the whole traversal instead of once
      // per hop. At 100 TB this is the difference between O(1) and
      // O(depth) scans' worth of shuffle traffic on the edge list.
      fwd.union(fwd.select(col("v").as("u"), col("u").as("v")))
        .repartition(col("u"))
        .localCheckpoint(false)
    }

  private def b50(s: SparkSession, d: String): DataFrame = {
    val maxHops = 4
    val li = lineitem(s, d)
    val edges = bfsEdges(s, d) // reused every round AND every invocation
    // Seed the source node from range's `id` (0 − 2), NOT as lit(−2):
    // a literal column constant-folds out of the round-1 join
    // conditions, ExtractEquiJoinKeys then finds no key from the
    // frontier side, and BOTH round-1 joins (expand + settled
    // anti-join) silently plan as BroadcastNestedLoopJoin — the node
    // class the repo's plan audits ban (r13 census caught 2 BNLJs per
    // pass here). An id-derived key keeps them hash joins.
    val src = li.sparkSession.range(1)
      .select((col("id") - 2L).as("node"), lit(0).as("d"))
    // Frontier-delta BFS: each round expands ONLY the nodes discovered
    // last round (d = i−1) and anti-joins the settled set, instead of
    // re-joining every discovered node against the edge list and
    // re-aggregating all labels (the full-relabel form c18 keeps for
    // its min-label CC, where labels genuinely change). Work per round
    // is O(edges incident to the frontier) — on a near-saturated graph
    // the last rounds stop re-expanding the whole reachable set.
    val dist = CoreMR.iterate(src, maxHops) { (cur, i) =>
      val frontier = cur.filter(col("d") === (i - 1))
      val next = frontier.join(edges, frontier("node") === edges("u"))
        .select(col("v").as("node")).distinct()
        .join(cur, Seq("node"), "left_anti")
        .select(col("node"), lit(i).as("d"))
      cur.union(next).localCheckpoint(false)
    } { (_, _) => true }
    dist.groupBy("d")
      .agg(count(lit(1)).as("n_nodes"),
        min("node").as("min_node"), max("node").as("max_node"))
      .select(col("d").cast("long").as("dist"), col("n_nodes"),
        col("min_node"), col("max_node"))
      .orderBy("dist")
  }

  /** b51: time-series gap-fill by linear interpolation — the resample/
    * impute pass every sensor/metrics pipeline runs before analysis.
    * `error` rows are treated as dropped readings and reconstructed
    * from the nearest non-error neighbors on each side:
    * pv + (nv−pv)·(t−tp)/(tn−tp), falling back to the one-sided
    * neighbor at series edges. Unlike b44's backward-only IGNORE NULLS
    * carry, this needs BOTH directions — four ignore-nulls navigations
    * over the same (user, time) order, which Spark plans as ONE
    * Exchange + ONE Sort feeding two Window nodes (frame direction
    * differs, sort order doesn't — plan-asserted). At 100 TB this is a
    * single user-keyed shuffle; the interpolation arithmetic is
    * per-row IEEE double ops (sub/div/mul/add are correctly rounded,
    * so DuckDB reproduces them bit-for-bit — no float-sum ordering
    * anywhere).
    */
  private def b51(s: SparkSession, d: String): DataFrame = {
    val ord = Window.partitionBy("user_id").orderBy("us", "event_id")
    val wPrev = ord.rowsBetween(Window.unboundedPreceding, -1)
    val wNext = ord.rowsBetween(1, Window.unboundedFollowing)
    events(s, d)
      .select(col("event_id"), col("user_id"), col("event_type"),
        unix_micros(col("ts")).as("us"), col("value"))
      .withColumn("obs", when(col("event_type") =!= "error", col("value")))
      .withColumn("obs_us", when(col("event_type") =!= "error", col("us")))
      .withColumn("pv", last("obs", ignoreNulls = true).over(wPrev))
      .withColumn("pus", last("obs_us", ignoreNulls = true).over(wPrev))
      .withColumn("nv", first("obs", ignoreNulls = true).over(wNext))
      .withColumn("nus", first("obs_us", ignoreNulls = true).over(wNext))
      .withColumn("filled",
        when(col("obs").isNotNull, col("obs"))
          .when(col("pv").isNotNull && col("nv").isNotNull &&
            col("nus") =!= col("pus"),
            col("pv") + (col("nv") - col("pv")) *
              ((col("us") - col("pus")).cast("double") /
                (col("nus") - col("pus")).cast("double")))
          .otherwise(coalesce(col("pv"), col("nv"), lit(-1.0))))
      .select(col("event_id"), col("user_id"),
        (col("event_type") === "error").as("was_gap"), col("filled"))
      .orderBy("event_id")
  }

  /** b52: the flagship relational composite (TPC-H Q3 shape) — segment
    * filter × date-bounded orders × shipped-after lineitem, revenue per
    * order, top 10. One query exercising the whole relational stack:
    * three pushed filters (plan-asserted on the lineitem scan), two
    * joins Catalyst/AQE is free to order and broadcast, an exact
    * DECIMAL revenue aggregate, and a TakeOrderedAndProject instead of
    * a global sort (only 10 rows ever reach the driver — asserted). At
    * 100 TB: lineitem⋈orders shuffles on orderkey, the segment-filtered
    * customer side broadcasts if it fits and AQE decides at runtime;
    * nothing in the declaration forces either strategy.
    */
  private def b52(s: SparkSession, d: String): DataFrame = {
    val cutoff = lit("1998-06-01 00:00:00").cast("timestamp")
    val cust = customer(s, d)
      .filter(col("c_mktsegment") === "BUILDING").select("c_custkey")
    val ord = orders(s, d).filter(col("o_orderdate") < cutoff)
      .select("o_orderkey", "o_custkey", "o_orderdate")
    val li = lineitem(s, d).filter(col("l_shipdate") > cutoff)
      .select("l_orderkey", "l_extendedprice", "l_discount")
    li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(cust, col("o_custkey") === col("c_custkey"))
      .groupBy("o_orderkey", "o_orderdate")
      .agg(moneySum4(col("l_extendedprice") * (lit(1.0) - col("l_discount")))
        .as("revenue"))
      .orderBy(col("revenue").desc, col("o_orderkey"))
      .limit(10)
  }

  /** b53: EXACT grouped percentiles — the complement of b27's
    * approx-quantile scale path. Spark's `percentile` is a
    * TypedImperativeAggregate over a value→count histogram, so for
    * LOW-CARDINALITY measures (l_quantity has 50 distinct values) the
    * partial buffers are bounded maps that merge map-side — exact
    * quartiles at 100 TB with one partial-agg'd shuffle, no global
    * sort. (For unbounded-cardinality measures the histogram grows with
    * the data — that is when b27's t-digest is the right tool; this op
    * documents the boundary.) Interpolation a + f·(b−a) at quarter
    * fractions over integer-valued doubles is exact binary arithmetic,
    * so DuckDB's quantile_cont reproduces it bit-for-bit.
    *
    * Output is three SCALAR double columns, not one array<double>:
    * declared outputs must be scalar-only (QueryDef determinism
    * contract) — the driver's pandas-based compare sorts rows by every
    * column and dies on unhashable ndarray cells. The aggregation
    * still runs ONE shared histogram buffer: Spark dedups only
    * semantically-equal aggregate expressions, so three separate
    * `percentile(x, p)` calls would build three buffers — instead the
    * single array-form aggregate computes all quartiles and a post-agg
    * projection splits them into scalars.
    */
  private def b53(s: SparkSession, d: String): DataFrame =
    lineitem(s, d)
      .groupBy("l_returnflag")
      .agg(count(lit(1)).as("n"),
        expr("percentile(l_quantity, array(0.25D, 0.5D, 0.75D))")
          .as("qs"))
      .select(col("l_returnflag"), col("n"),
        col("qs").getItem(0).as("q1"),
        col("qs").getItem(1).as("q2"),
        col("qs").getItem(2).as("q3"))
      .orderBy("l_returnflag")

  /** b54: FILTER-clause conditional aggregation — N predicates, ONE
    * scan, one partial-agg'd shuffle. The MR translation is N filtered
    * map passes (or a tagged-union fan-out); SQL's `FILTER (WHERE …)`
    * folds every predicate into the same hash-agg buffer update, so
    * adding a metric costs zero extra I/O at 100 TB (plan-asserted:
    * exactly one lineitem scan, partial_count below the exchange).
    * Money stays in exact DECIMAL until the final cast; an
    * all-rows-filtered-out group yields NULL in both engines.
    */
  private def b54(s: SparkSession, d: String): DataFrame = {
    lineitem(s, d).createOrReplaceTempView("g_lineitem")
    s.sql(
      """SELECT l_returnflag,
        |  count(*) AS n,
        |  count(*) FILTER (WHERE l_quantity >= 25) AS n_heavy,
        |  count(*) FILTER (WHERE l_discount = 0.0) AS n_undiscounted,
        |  CAST(sum(CAST(l_extendedprice * (1 - l_discount)
        |        AS DECIMAL(18,4)))
        |    FILTER (WHERE l_shipdate >= TIMESTAMP '1998-01-01')
        |    AS DOUBLE) AS rev_recent
        |FROM g_lineitem GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin)
  }

  /** b55: DYNAMIC partition pruning — the runtime analogue of a20's
    * static pruning and the single biggest scan-cost lever in a
    * star-join at 100 TB: the fact table is lang-partitioned on disk,
    * the dim-side predicate (`lang < 'm'`) is only known after the
    * dim scan, and Catalyst injects the broadcast result as a
    * dynamicpruningexpression into the fact scan's PartitionFilters —
    * whole fact partitions are skipped at FILE LISTING time, never
    * read, decompressed, or filtered row-wise. Plan-asserted in
    * RelationalPlanSpec (executed plan must carry the dynamic pruning
    * filter on the fact scan). The dim here derives from the same
    * corpus (distinct langs — bounded by language inventory) to stay
    * regeneration-proof; any real dim table joins identically.
    */
  private def b55(s: SparkSession, d: String): DataFrame = {
    val out = graft.util.TmpDir.path("b55_dpp_fact")
    documents(s, d).write.mode("overwrite").partitionBy("lang").parquet(out)
    val fact = s.read
      .schema("doc_id BIGINT, text STRING, source STRING, n_chars BIGINT, lang STRING")
      .parquet(out)
    val dim = documents(s, d).select("lang").distinct()
      .filter(col("lang") < lit("m"))
    fact.join(broadcast(dim), Seq("lang"))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        sum("n_chars").cast("long").as("chars"))
      .orderBy("lang")
  }

  /** b56: NULL-SAFE equi-join (`<=>` / `IS NOT DISTINCT FROM`) — the
    * semantic corner every hand-rolled MR join gets wrong by accident:
    * under standard SQL equality a NULL key matches nothing, so the
    * "unknown" bucket silently vanishes from the join output; `<=>`
    * makes NULL a first-class key value that matches exactly the other
    * side's NULL bucket. Crucially Spark still treats `<=>` as an
    * EQUI-join key (hash-partitionable — SortMergeJoin/ShuffledHashJoin,
    * with NULLs routed to one partition like any other key value),
    * unlike the `a = b OR (a IS NULL AND b IS NULL)` rewrite, which
    * falls off the equi-join path into BroadcastNestedLoopJoin and
    * dies at 100 TB. Both sides are pre-aggregated per key BEFORE the
    * null-safe join — the many-to-many blowup a raw row-level
    * null-bucket join would produce (every "unknown" row × every
    * "unknown" row) collapses to one row per key per side first, so
    * the join input is bounded by key cardinality, not corpus size.
    * NULLs here derive from `nullif(lang, 'zh')` — modeling a feed
    * whose extractor emits NULL for a language it cannot identify.
    */
  private def b56(s: SparkSession, d: String): DataFrame = {
    val keyed = documents(s, d)
      .withColumn("lang_k", expr("nullif(lang, 'zh')"))
    val all = keyed.groupBy("lang_k")
      .agg(count(lit(1)).as("n_all"))
    val sub = keyed
      .filter(col("source").isin("src1", "src2", "src3"))
      .groupBy(col("lang_k").as("lang_r"))
      .agg(count(lit(1)).as("n_sub"))
    all.join(sub, all("lang_k") <=> sub("lang_r"))
      .select(col("lang_k"), col("n_all"), col("n_sub"))
      .orderBy(col("lang_k").asc_nulls_first)
  }

  /** b57: BAG-semantics set operations (`UNION ALL` / `INTERSECT ALL`
    * / `EXCEPT ALL`, SQL:1999 multiset semantics) — b16's trio keeps
    * only DISTINCT semantics, but pipeline math usually needs
    * multiplicities: "orders minus one per matching customer" is
    * EXCEPT ALL, not EXCEPT. Catalyst rewrites both ALL variants into
    * a count-aggregate + `Generate` replication (RewriteIntersectAll /
    * RewriteExceptAll): per key compute the two multiplicities, emit
    * min(c1,c2) (intersect) or c1−c2 (except) replicas — ONE shuffle
    * per operand pair on the value key, never a join blowup, and
    * duplicate-heavy inputs collapse map-side in the partial count.
    * UNION ALL is a zero-shuffle concatenation. The declared output
    * folds each multiset to its cardinality so the oracle pins the
    * multiplicity arithmetic exactly.
    */
  private def b57(s: SparkSession, d: String): DataFrame = {
    val o = orders(s, d).select(col("o_custkey").as("k"))
    val c = customer(s, d).select(col("c_custkey").as("k"))
    def cnt(df: DataFrame, tag: String): DataFrame =
      df.agg(count(lit(1)).as("cnt")).select(lit(tag).as("op"), col("cnt"))
    cnt(o.exceptAll(c), "except_all")
      .union(cnt(o.intersectAll(c), "intersect_all"))
      .union(cnt(o.unionAll(c), "union_all"))
      .orderBy("op")
  }

  /** b58: windowed COUNT(DISTINCT) — an aggregate Spark (and DuckDB)
    * refuse inside OVER(): attach to every lineitem row the number of
    * DISTINCT suppliers serving its order, without collapsing the
    * rows. Composed from existing window ops instead of a custom
    * Expression (the preference order SURVEY §7.3 mandates):
    * `dense_rank() OVER (PARTITION BY key ORDER BY x)` numbers the
    * distinct x values 1..n, and `max(rank) OVER (PARTITION BY key)`
    * broadcasts n back to every row. Both windows share the SAME
    * partitioning key ⇒ ONE Exchange + one Sort in the physical plan
    * (plan-asserted in Round8PropsSpec) — the naive alternative, a
    * self-join against a groupBy-distinct, pays a second shuffle and
    * a join. Caveat encoded here: dense_rank counts NULL as a value,
    * so a nullable x needs a null-guard; l_suppkey is non-null.
    */
  private def b58(s: SparkSession, d: String): DataFrame = {
    val part = Window.partitionBy("l_orderkey")
    lineitem(s, d)
      .select(col("l_orderkey"), col("l_linenumber"),
        dense_rank().over(part.orderBy("l_suppkey")).as("dr"))
      .withColumn("nd_supp", max("dr").over(part).cast("long"))
      .drop("dr")
      .orderBy("l_orderkey", "l_linenumber")
  }

  /** b59: NULL-AWARE anti join — `NOT IN (subquery)` with a nullable
    * subquery column, b56's evil twin and the single most-misread SQL
    * semantic in migration work: three-valued logic makes `x NOT IN
    * (…, NULL)` UNKNOWN for every x, so ONE NULL in the subquery
    * empties the whole result — which is correct SQL, not a bug, and
    * any engine that "fixes" it by treating NOT IN as anti-join-on-
    * equality silently diverges. Both branches run here: a clean
    * NOT IN (ordinary left-anti plan) and a poisoned one (the
    * subquery's min-orderkey row nulled via CASE, forcing the
    * null-aware path to return 0 rows). Spark plans single-column
    * NOT IN as a null-aware anti join, which REQUIRES broadcasting
    * the subquery side — fine here (subquery is an order-key
    * projection); at 100 TB with a fact-sized subquery the scalable
    * rewrite is an explicit `IS NULL` existence check + ordinary
    * anti join, which is exactly what a user of this op should be
    * steered to (Scaladoc is that steer).
    */
  private def b59(s: SparkSession, d: String): DataFrame = {
    orders(s, d).createOrReplaceTempView("g_orders")
    customer(s, d).createOrReplaceTempView("g_customer")
    s.sql(
      """SELECT op, cnt FROM (
        |  SELECT 'clean' AS op, count(*) AS cnt FROM g_customer
        |    WHERE c_custkey NOT IN (SELECT o_custkey FROM g_orders
        |      WHERE o_orderdate >= TIMESTAMP '1998-06-01')
        |  UNION ALL
        |  SELECT 'poisoned', count(*) FROM g_customer
        |    WHERE c_custkey NOT IN (
        |      SELECT CASE WHEN o_orderkey =
        |          (SELECT min(o_orderkey) FROM g_orders)
        |        THEN NULL ELSE o_custkey END FROM g_orders)
        |) ORDER BY op""".stripMargin)
  }

  /** b60: statistical aggregate surface — `stddev_samp` / `corr` (the
    * moments Mrs users hand-roll as sum/sum-of-squares reduces) next to
    * the existing sum/avg/count (b7). Float moments are the classic
    * cross-engine trap: Spark's builtins are merge-order-dependent
    * streaming algorithms, so their low bits are not portable. The
    * declared values are therefore computed FROM EXACT INTEGER MOMENTS
    * (quantity as BIGINT, price as floor-cents; sums of squares and
    * cross-products in DECIMAL(38,0) so a 100 TB group cannot overflow),
    * with one shared final-double formula both engines evaluate on the
    * same exact integers — bit-equal by IEEE determinism. Spark's
    * builtin `stddev_samp`/`corr` run alongside and are asserted within
    * 1e-9 of the exact values (b9/b27 est-vs-true pattern), so the
    * builtin surface is exercised AND the oracle stays exact. One
    * shuffle; all six moments partial-aggregate map-side.
    */
  private def b60(s: SparkSession, d: String): DataFrame = {
    val base = lineitem(s, d).select(col("l_returnflag"),
      col("l_quantity").cast("long").as("xi"),
      floor(col("l_extendedprice") * 100).cast("long").as("yc"))
    val dec = (c: Column) => c.cast("decimal(38,0)")
    // EVERY moment sums in DECIMAL(38,0) — under ANSI (the Spark 4
    // default this repo keeps) a LONG sum that overflows fails the
    // job, and sum(yc) alone crosses Long.Max within reach of a
    // skewed 100 TB group (~9e11 rows at ~1e7 cents).
    val m = base.groupBy("l_returnflag").agg(
      count(lit(1)).as("n"),
      sum(dec(col("xi"))).as("sx"),
      sum(dec(col("xi")) * col("xi")).as("sxx"),
      sum(dec(col("yc"))).as("sy"),
      sum(dec(col("yc")) * col("yc")).as("syy"),
      sum(dec(col("xi")) * col("yc")).as("sxy"),
      stddev_samp(col("xi")).as("sd_b"),
      corr(col("xi"), col("yc")).as("corr_b"))
    val nD = dec(col("n"))
    val varNumQ = (nD * col("sxx") - dec(col("sx")) * col("sx")).cast("double")
    val varNumP = (nD * col("syy") - dec(col("sy")) * col("sy")).cast("double")
    val covNum = (nD * col("sxy") - dec(col("sx")) * col("sy")).cast("double")
    val sdQty = sqrt(varNumQ / (nD * (nD - 1)).cast("double"))
    val corrQp = covNum / (sqrt(varNumQ) * sqrt(varNumP))
    m.select(col("l_returnflag"), col("n"),
        sdQty.as("sd_qty"), corrQp.as("corr_qp"),
        (abs(col("sd_b") - sdQty) < 1e-9).as("ok_sd"),
        (abs(col("corr_b") - corrQp) < 1e-9).as("ok_corr"))
      .orderBy("l_returnflag")
  }

  /** b61: SCD TYPE-2 dimension build — turn a change log into a
    * versioned dimension with [valid_from, valid_to] ranges and an
    * is_current flag, THE canonical warehouse temporal pattern (in Mrs:
    * per-key sorted reduce carrying the previous version). Spark shape:
    * one window `lead(seq)` per business key closes each version at the
    * next version's start — a single hash-partitioned exchange on the
    * key, no self-join (the naive "join each version to its successor"
    * pays a second shuffle and a range predicate). At 100 TB the change
    * log is append-only and the rebuild is incremental per touched key
    * (b45's merge-CDC shape feeds this). The log here is synthesized
    * deterministically from `customer`: every key has a v1, keys ≡2
    * (mod 5) gained a v2, keys ≡2 (mod 20) a v3 — so 1/5 of keys have
    * two versions and 1/20 three, exercising 1..3-row windows.
    * Open versions close at sentinel 9999 (NULL-free range predicates
    * stay sargable).
    */
  private def b61(s: SparkSession, d: String): DataFrame = {
    val snap = customer(s, d).select(col("c_custkey").as("key"),
      floor(col("c_acctbal") * 100).cast("long").as("bal"))
    val log = snap.withColumn("seq", lit(1L))
      .unionByName(snap.filter(pmod(col("key"), lit(5)) === 2)
        .withColumn("bal", col("bal") + 5000).withColumn("seq", lit(2L)))
      .unionByName(snap.filter(pmod(col("key"), lit(20)) === 2)
        .withColumn("bal", col("bal") + 12000).withColumn("seq", lit(3L)))
    val w = Window.partitionBy("key").orderBy("seq")
    log.select(col("key"), col("bal"), col("seq").as("valid_from"),
        lead("seq", 1).over(w).as("nxt"))
      .select(col("key"), col("bal"), col("valid_from"),
        coalesce(col("nxt") - 1, lit(9999L)).as("valid_to"),
        col("nxt").isNull.as("is_current"))
      .orderBy("key", "valid_from")
  }

  /** b62: equi-width histogram — fixed-range binning of price cents
    * into 21 buckets of 500 000 cents (the profiling primitive behind
    * NDV/selectivity estimation and data-quality dashboards; in Mrs: a
    * map emitting bucket ids + a count reduce). The bucket key is PURE
    * INTEGER division (cents div 500000) — zero float in the group key,
    * so the layout is portable and, at 100 TB, the aggregate
    * partial-combines map-side into at most 21 groups (the shuffle
    * carries ~21 rows per task regardless of input size). Spark's
    * `width_bucket` builtin runs alongside, folded into a per-bucket
    * bool_and asserting it agrees with the integer bucket+1 everywhere
    * — the oracle re-derives the same check from width_bucket's
    * documented floor formula (this DuckDB build lacks the builtin),
    * so a semantic drift in EITHER engine's binning flips the flag.
    */
  private def b62(s: SparkSession, d: String): DataFrame = {
    val cents = floor(col("l_extendedprice") * 100).cast("long")
    lineitem(s, d)
      .select(cents.as("yc"),
        expr("width_bucket(floor(l_extendedprice * 100), 0, 10500000, 21)")
          .as("wb"))
      .withColumn("bucket", expr("yc div 500000"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("cnt"),
        // DECIMAL accumulator: a 100 TB bucket's cents sum crosses
        // Long.Max and an ANSI LONG sum would fail the job (b60's
        // discipline); the declared output casts back to BIGINT
        sum(col("yc").cast("decimal(38,0)")).cast("long").as("sum_cents"),
        min("yc").as("min_cents"),
        max("yc").as("max_cents"),
        bool_and(col("wb") === col("bucket") + 1).as("wb_ok"))
      .orderBy("bucket")
  }

  /** b63: RECURSIVE CTE (`WITH RECURSIVE`, SQL:1999; Spark ≥ 4.0
    * UnionLoop execution) — the declarative form of the driver-loop
    * iteration family (a13/b50/c18): a hierarchy walk from every
    * customer key to the root of the implicit binary tree parent(k) =
    * k div 2 (the BOM/org-chart explosion shape, synthesized
    * deterministically so no new fixture is needed). Each recursion
    * level here is embarrassingly parallel — the step relation maps
    * rows independently (`anc div 2`), no per-level shuffle; the
    * engine unions ⌈log₂ maxkey⌉ ≈ 17 levels and aggregates once at
    * the end. Contrast with b50, which keeps the HAND-ROLLED loop
    * because its step is a JOIN against an edge table and needs the
    * frontier-delta + settled-set pruning a blind UNION ALL recursion
    * cannot express (a recursive CTE re-expands every path; b50's
    * anti-join is what bounds work on cyclic graphs). Guard rails at
    * scale: Spark caps levels via spark.sql.cteRecursionLevelLimit
    * (default 100) — arithmetic-convergent recursions like this one
    * stay far under it.
    */
  private def b63(s: SparkSession, d: String): DataFrame = {
    customer(s, d).createOrReplaceTempView("g_customer")
    s.sql(
      """WITH RECURSIVE up(k, anc, depth) AS (
        |  SELECT c_custkey, c_custkey, CAST(0 AS BIGINT) FROM g_customer
        |  UNION ALL
        |  SELECT k, anc DIV 2, depth + 1 FROM up WHERE anc > 1
        |)
        |SELECT k AS key, max(depth) AS depth_to_root,
        |       sum(anc) AS anc_sum, count(*) AS n_levels
        |FROM up GROUP BY k ORDER BY k""".stripMargin)
  }

  /** b64: ARGMIN/ARGMAX aggregates (`min_by`/`max_by`, SQL:2023
    * ARG_MIN/ARG_MAX) — "which row attains the extreme", the lookup
    * every top-1 window query (b11) over-pays for: one partial-
    * aggregating shuffle instead of a full partition sort. The
    * portability trap is TIES — both engines document an arbitrary
    * winner, so the ordering value is the composite (cents × 2⁵⁰ +
    * unique row id), exact and overflow-proof at any scale because it
    * lives in DECIMAL(38,0) on the Spark side and HUGEINT in the
    * oracle (a single-long composite silently corrupts once row ids
    * pass 2³³ — the 100 TB orderkey domain). The extreme CENTS need
    * no decode: cents is the composite's primary key, so the argmin
    * row's cents == the group's plain min(cents) (same for max). At
    * 100 TB this is a 21-row answer per group from a map-side-combined
    * aggregate — no window, no sort.
    */
  private def b64(s: SparkSession, d: String): DataFrame = {
    val rid = col("l_orderkey") * 8 + col("l_linenumber")
    val cents = floor(col("l_extendedprice") * 100).cast("long")
    val v = cents.cast("decimal(38,0)") * lit(1125899906842624L) + rid // 2^50
    lineitem(s, d)
      .select(col("l_returnflag"), rid.as("rid"), cents.as("cents"), v.as("v"))
      .groupBy("l_returnflag")
      .agg(min_by(col("rid"), col("v")).as("cheap_rid"),
        min("cents").as("cheap_cents"),
        max_by(col("rid"), col("v")).as("dear_rid"),
        max("cents").as("dear_cents"))
      .select(col("l_returnflag"),
        expr("cheap_rid div 8").as("cheap_ok"),
        expr("cheap_rid % 8").as("cheap_ln"),
        col("cheap_cents"),
        expr("dear_rid div 8").as("dear_ok"),
        expr("dear_rid % 8").as("dear_ln"),
        col("dear_cents"))
      .orderBy("l_returnflag")
  }

  /** b65: OBSERVED METRICS (`Dataset.observe` / CollectMetrics) — job
    * telemetry computed IN-FLIGHT while the real job runs, not by a
    * second scan: the demo writes a filtered extract to parquet and
    * collects row count / revenue / max-price metrics from the very
    * rows that passed through the writer. At 100 TB this is the only
    * affordable shape for per-job data-quality counters (a follow-up
    * `SELECT count(*)` re-reads the output; a cached input is a
    * 100 TB cache) — CollectMetrics folds the aggregates into each
    * task and merges per-partition partials on the driver, zero extra
    * I/O and no shuffle. Restrictions encoded here: metrics must be
    * driver-sized and distinct-free (Catalyst rejects distinct
    * aggregates inside observe). Declared output = the metrics row;
    * the spec additionally pins that the sink actually landed and the
    * metrics equal an independent aggregate of it.
    */
  private def b65(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val obs = new org.apache.spark.sql.Observation("b65_metrics")
    val out = graft.util.TmpDir.path("b65_observed_sink")
    lineitem(s, d)
      .filter(col("l_shipdate") >= lit("1998-01-01").cast("timestamp"))
      .select(col("l_orderkey"), col("l_linenumber"),
        floor(col("l_extendedprice") * 100).cast("long").as("cents"))
      .observe(obs,
        count(lit(1)).as("n_rows"),
        sum(col("cents")).as("rev_cents"),
        max(col("cents")).as("max_cents"))
      .write.mode("overwrite").parquet(out)
    val m = obs.get
    def metric(k: String): Long = Option(m(k)).fold(0L)(_.asInstanceOf[Long])
    Seq((metric("n_rows"), metric("rev_cents"), metric("max_cents")))
      .toDF("n_rows", "rev_cents", "max_cents")
  }

  /** b66: ANSI-mode SAFE ARITHMETIC (`try_divide`/`try_cast`/`try_add`)
    * — the migration corner Spark 4 flipped under everyone: ANSI mode
    * is now the DEFAULT, so division by zero, numeric overflow, and
    * bad casts FAIL THE JOB where Spark 3 silently returned NULL. At
    * 100 TB that difference is "one dirty row kills a 6-hour job" vs
    * "one NULL in the output" — and the `try_*` family is the
    * declarative, per-expression opt-out (keep strictness everywhere
    * except the expressions you have evidence are dirty; a global
    * ansi=false throws away overflow protection wholesale). All three
    * are exercised on deterministic dirt: zero discounts (÷0), a
    * poisoned numeric string on line 1 of each order (cast), and a
    * MaxValue addition that overflows for every key but 0. Per-row
    * results fold to exact integer/count aggregates so the oracle pins
    * the NULL semantics, not just the happy path.
    */
  private def b66(s: SparkSession, d: String): DataFrame =
    lineitem(s, d)
      .select(col("l_returnflag"),
        expr("try_divide(floor(l_extendedprice * 100), floor(l_discount * 100))")
          .as("ratio"),
        expr("try_cast(CASE WHEN l_linenumber = 1 THEN 'x' || l_orderkey " +
          "ELSE CAST(l_orderkey AS STRING) END AS BIGINT)").as("parsed"),
        expr("try_add(9223372036854775807L, l_orderkey)").as("ofl"))
      .groupBy("l_returnflag")
      .agg(count(lit(1)).as("n_rows"),
        count(col("ratio")).as("n_div_ok"),
        // DECIMAL accumulators (b60's discipline) — LONG sums of these
        // columns overflow under ANSI at 100 TB group sizes, the very
        // failure mode this operator exists to tame
        sum(floor(col("ratio")).cast("decimal(38,0)")).cast("long")
          .as("sum_ratio_floor"),
        count(col("parsed")).as("n_parsed"),
        sum(col("parsed").cast("decimal(38,0)")).cast("long")
          .as("parsed_sum"),
        count(col("ofl")).as("n_no_overflow"))
      .orderBy("l_returnflag")

  /** b67: VARIANT semi-structured type (Spark 4.0) — the successor to
    * b22's per-access JSON string parsing: `parse_json` decodes the
    * text ONCE into a binary-encoded variant and every `variant_get`
    * is a typed path read, not a re-parse (at 100 TB, parsing each
    * JSON blob once per accessed field is the dominant CPU of log
    * analytics; variant also columnar-shreds under parquet). Dirty
    * input goes through `try_parse_json` → NULL variant instead of a
    * failed job (b66's discipline applied to decode): a third of the
    * rows are deterministically poisoned and counted. Declared output
    * folds typed extractions to exact integer aggregates per
    * event_type.
    */
  private def b67(s: SparkSession, d: String): DataFrame =
    events(s, d)
      .select(col("event_type"),
        expr("try_parse_json(CASE WHEN event_id % 3 = 0 THEN 'not json' " +
          "ELSE props END)").as("v"))
      .select(col("event_type"),
        expr("variant_get(v, '$.k', 'bigint')").as("k"),
        col("v").isNull.as("bad"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_rows"),
        sum(when(col("bad"), 1L).otherwise(0L)).as("n_unparsed"),
        count(col("k")).as("n_k"),
        sum("k").cast("long").as("k_sum"),
        min("k").as("k_min"), max("k").as("k_max"))
      .orderBy("event_type")

  /** b68: COLLATED join keys (Spark 4.0 string collations) — a
    * case-insensitive equi join expressed AS A PROPERTY OF THE TYPE
    * (`COLLATE UTF8_LCASE`), not a `lower()` rewrite on every
    * reference: the collation participates in hashing/comparison, so
    * the join stays on the hash-partitionable equi path and any
    * future index/bucket layout keyed on the column inherits the
    * semantics — where the lower() form must be re-applied (and
    * re-materialized) at every use site, and silently diverges the
    * moment one site forgets. Case dirt is synthesized
    * deterministically (doc_id mod 3 picks lower/UPPER/Capitalized),
    * joined against the lowercase language dimension on collated
    * equality; declared output = per-language match counts, which
    * equal the lower()-rewrite oracle exactly.
    */
  private def b68(s: SparkSession, d: String): DataFrame = {
    val docs = documents(s, d)
      .select(col("doc_id"), expr(
        """CASE WHEN doc_id % 3 = 0 THEN upper(lang)
          |     WHEN doc_id % 3 = 1
          |       THEN concat(upper(substring(lang, 1, 1)), substring(lang, 2))
          |     ELSE lang END""".stripMargin).as("mixed"))
    val dim = documents(s, d).select(col("lang")).distinct()
    docs.join(dim,
        expr("collate(mixed, 'UTF8_LCASE') = collate(lang, 'UTF8_LCASE')"))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_matched"),
        countDistinct(col("mixed")).as("n_casings"))
      .orderBy("lang")
  }

  /** b69: PARAMETERIZED SQL (named parameter markers, Spark ≥ 3.4) —
    * the query-level sibling of A15's option system and the
    * injection-safe form of every templated report: parameters bind
    * as TYPED LITERALS through the analyzer (`:minPrice` can never
    * splice syntax), so one prepared text serves every parameter set
    * while Catalyst still constant-folds and PUSHES the bound
    * predicate to the scan like a hand-inlined literal. The 100 TB
    * relevance is operational: templated pipelines that string-concat
    * their thresholds are both an injection surface and a plan-cache
    * miss per variation; marker binding is neither.
    */
  private def b69(s: SparkSession, d: String): DataFrame = {
    orders(s, d).createOrReplaceTempView("g_orders")
    s.sql(
      """SELECT o_orderpriority, count(*) AS n,
        |       CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT)
        |         AS cents
        |FROM g_orders
        |WHERE o_totalprice >= :minPrice AND o_orderdate < :cutoff
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
      Map("minPrice" -> 50000, "cutoff" -> "1998-06-01"))
  }

  /** b70: DYNAMIC-GAP session windows — `session_window` with a
    * per-ROW gap expression (Spark ≥ 3.2), the upgrade over d3/d7's
    * fixed 30 minutes that real sessionization usually needs: here an
    * `error` event closes its session after 5 minutes while normal
    * activity keeps the 30-minute patience. Merge semantics are the
    * union of per-event windows [ts, ts+gap(row)) — a session's end
    * is max(ts+gap) over its members, and a new session starts exactly
    * when an event's ts EXCEEDS the running max end — touching
    * windows MERGE (Spark's merging iterator is inclusive at the
    * boundary, a corner the µs-jittered corpus can never hit and the
    * 300 s-grid fuzz spec pins explicitly; the oracle reproduces the
    * rule with one running-max window in exact integer µs — no
    * float, no timezone). Same scale shape as every session op:
    * ONE user-keyed exchange, merge logic inside the aggregate.
    */
  /** b70's core over an arbitrary (user_id, ts, event_type) frame —
    * factored so the fuzz spec drives the REAL operator with
    * generated event sets (exact-boundary gaps, equal timestamps),
    * not a copy of its logic.
    */
  private[operators] def dynamicGapSessions(ev: DataFrame): DataFrame = {
    val gap = when(col("event_type") === "error", "5 minutes")
      .otherwise("30 minutes")
    ev
      .groupBy(col("user_id"), session_window(col("ts"), gap).as("w"))
      .agg(count(lit(1)).as("cnt"),
        sum(when(col("event_type") === "error", 1L).otherwise(0L))
          .as("n_errors"))
      .select(col("user_id"),
        expr("unix_micros(w.start) div 1000000").as("start_s"),
        expr("unix_micros(w.end) div 1000000").as("end_s"),
        col("cnt"), col("n_errors"))
      .orderBy("user_id", "start_s")
  }

  private def b70(s: SparkSession, d: String): DataFrame =
    dynamicGapSessions(events(s, d))

  /** b71: AQE SKEW-JOIN SPLIT — the automatic half of b39's manual
    * salting, and what a 100 TB user reaches FIRST: a deterministically
    * hot key (every even order re-keyed to supplier 1, ~50% of the
    * fact) joins the supplier dim under a pinned SMJ, and Spark's own
    * `OptimizeSkewedJoin` carves the hot shuffle partition into
    * advisory-sized splits at runtime, replicating the matching dim
    * partition — no salt column, no code change, skew discovered from
    * actual map-output sizes. The skew thresholds are scoped DOWN so
    * toy data exhibits the 256 MB-default behavior; the query runs
    * EAGERLY inside that scope (localCheckpoint) because AQE reads
    * them at execution, and a lazily-returned frame would escape the
    * scope. The materialization is the dimension-bounded aggregate
    * (one row per supplier), never fact-sized. Output is
    * split-invariant (partial sums are exact DECIMAL), so the oracle
    * is the plain join — b39's pattern. The executed plan is exposed
    * for the spec, which asserts the SMJ actually carries skew=true
    * (the demonstration, not goodwill).
    */
  private val b71Confs = Seq(
    // hot partition qualifies: >2× median AND >1 KB (defaults 5× / 256 MB)
    "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2",
    "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "1k",
    "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "1k",
    // the dim must stay on the shuffle path for SMJ skew handling to
    // exist at all (the merge hint pins the strategy; the thresholds
    // stop AQE's runtime broadcast demotion from dodging the skew)
    "spark.sql.autoBroadcastJoinThreshold" -> "-1",
    "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1",
    // the downstream aggregate RIDES the join's partitioning (k ≡
    // s_suppkey by join equivalence, so no exchange separates them),
    // and OptimizeSkewedJoin backs off rather than break a consumed
    // distribution. `force` accepts the trade: split the hot
    // partition, let EnsureRequirements re-shuffle the aggregate —
    // which partial aggregation has already shrunk to group-bounded
    // rows. At 100 TB that group-sized reshuffle is noise next to the
    // hot task's wall-clock; force is the right call whenever the
    // consumer below the join is an aggregation.
    "spark.sql.adaptive.forceOptimizeSkewedJoin" -> "true")

  private[operators] def b71Exec(s: SparkSession, d: String)
      : (DataFrame, String) = {
    graft.util.GraftConf.withConf(s, b71Confs: _*) {
      // The hot reduce partition can only be split at MAPPER-chunk
      // granularity (PartialReducerPartitionSpec is a map-index range),
      // and a toy-SF parquet scan is ONE map task — so force several
      // mappers into the join shuffle, the shape a real cluster has for
      // free (thousands of scan tasks). User-specified repartition, so
      // AQE won't coalesce it away.
      val fact = lineitem(s, d)
        .select(
          when(col("l_orderkey") % 2 === 0, 1L).otherwise(col("l_suppkey"))
            .as("k"),
          col("l_extendedprice"), col("l_discount"))
        .repartition(8)
      val dim = supplier(s, d).select(col("s_suppkey"), col("s_name"))
      val joined = fact.join(dim.hint("merge"), col("k") === col("s_suppkey"))
        .groupBy("s_suppkey", "s_name")
        .agg(count(lit(1)).as("cnt"),
          moneySum4(col("l_extendedprice") * (lit(1.0) - col("l_discount")))
            .as("revenue"))
        .orderBy("s_suppkey")
      val out = joined.localCheckpoint()
      (out, joined.queryExecution.executedPlan.toString)
    }
  }

  private def b71(s: SparkSession, d: String): DataFrame = b71Exec(s, d)._1

  /** b72: SQL SCRIPTING (Spark ≥ 4.0) — procedural control flow
    * (`BEGIN … DECLARE … WHILE … END`) executed BY the engine, the
    * declarative twin of the a13/a22 iterate-until-converged drivers:
    * each loop iteration is a full distributed query (here a pushed-
    * down count against orders), the loop variable lives in the
    * script frame on the driver, and no client round-trip glue code
    * exists to drift. The script doubles a price threshold until
    * fewer than 1 000 orders clear it — an exponential-search probe
    * whose trace (start 100, ×2 each round) is pure integer
    * arithmetic, so the DuckDB oracle replays it as a doubling-grid
    * scan and picks the first level that breaks the invariant
    * (the search starts at the coarse floor 6 400 — exponential
    * search's point is the loop mechanics, and a production probe
    * starts from a cheap prior, not from 1; each skipped level is one
    * whole distributed count)
    * (counts are monotone nonincreasing in the threshold, which is
    * what makes first-failure == loop-exit). 100 TB shape: every
    * iteration is one scan-side-counted aggregate with the predicate
    * pushed to parquet; the script itself holds two BIGINTs.
    */
  private def b72(s: SparkSession, d: String): DataFrame = {
    orders(s, d).createOrReplaceTempView("g_orders_b72")
    s.sql(
      """BEGIN
        |  DECLARE th BIGINT DEFAULT 6400;
        |  WHILE (SELECT count(*) FROM g_orders_b72
        |         WHERE o_totalprice >= th) >= 1000 DO
        |    SET th = th * 2;
        |  END WHILE;
        |  SELECT th AS threshold,
        |         CAST((SELECT count(*) FROM g_orders_b72
        |               WHERE o_totalprice >= th) AS BIGINT) AS n_above;
        |END""".stripMargin)
  }

  /** b73: SQL UDFs (Spark ≥ 4.1) — `CREATE FUNCTION … RETURNS …
    * RETURN expr` scalar and `RETURNS TABLE` table functions, the
    * governed replacement for JVM closures: a SQL UDF is INLINED by the
    * analyzer (the b73 spec asserts the physical plan carries no UDF
    * node and the predicate built from one reaches the scan's
    * pushed filters), so it keeps whole-stage codegen, constant
    * folding and pushdown that a black-box Scala UDF forfeits —
    * at 100 TB the difference between a codegen'd column expression
    * and a per-row serialization boundary. The scalar UDF is the
    * revenue formula every pricing query repeats; the table UDF
    * parameterizes a filtered projection (the reusable-view-with-
    * arguments shape) and composes with the scalar one inside its
    * body.
    */
  private def b73(s: SparkSession, d: String): DataFrame = {
    lineitem(s, d).createOrReplaceTempView("g_lineitem_b73")
    s.sql(
      """CREATE OR REPLACE TEMPORARY FUNCTION g_rev(p DOUBLE, disc DOUBLE)
        |RETURNS DOUBLE RETURN p * (1.0 - disc)""".stripMargin)
    s.sql(
      """CREATE OR REPLACE TEMPORARY FUNCTION g_flag_items(flag STRING)
        |RETURNS TABLE (l_returnflag STRING, cents BIGINT)
        |RETURN SELECT l_returnflag,
        |  CAST(floor(g_rev(l_extendedprice, l_discount) * 100) AS BIGINT)
        |    AS cents
        |FROM g_lineitem_b73 WHERE l_returnflag = flag""".stripMargin)
    s.sql(
      """SELECT l_returnflag, count(*) AS n,
        |       CAST(sum(CAST(cents AS DECIMAL(38,0))) AS BIGINT)
        |         AS rev_cents
        |FROM (SELECT * FROM g_flag_items('R')
        |      UNION ALL SELECT * FROM g_flag_items('A'))
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)
  }

  /** b74: SQL PIPE SYNTAX (Spark ≥ 4.0) — the linear `FROM … |>
    * WHERE … |> EXTEND … |> AGGREGATE … |> ORDER BY` form of b1's
    * scan-filter-project-aggregate. Pipes are pure SURFACE syntax:
    * each operator feeds the next exactly like DataFrame method
    * chaining, the analyzer resolves the chain to the SAME logical
    * plan as the nested-SELECT form, and Catalyst still pushes the
    * filter below the EXTEND into the scan — which is the point
    * demonstrated: adopting the readable form costs zero plan
    * quality. Revenue sums route through exact DECIMAL before the
    * final DOUBLE cast (the repo-wide float-determinism contract).
    */
  private def b74(s: SparkSession, d: String): DataFrame = {
    lineitem(s, d).createOrReplaceTempView("g_lineitem_b74")
    s.sql(
      """FROM g_lineitem_b74
        ||> WHERE l_shipdate >= TIMESTAMP '1998-01-01'
        ||> EXTEND l_extendedprice * (1 - l_discount) AS disc_price
        ||> AGGREGATE count(*) AS n,
        |     CAST(sum(CAST(disc_price AS DECIMAL(18,4))) AS DOUBLE)
        |       AS revenue
        |     GROUP BY l_returnflag, l_linestatus
        ||> ORDER BY l_returnflag, l_linestatus""".stripMargin)
  }

  /** b75: REAL SQL `MERGE INTO` against a DSv2 connector — b45
    * computes CDC-merge semantics with explicit joins; here the ENGINE
    * derives that plan from the declarative command, through the
    * group-based row-level-operation machinery a lakehouse connector
    * implements ([[graft.sources.GraftMemCatalog]]): Spark rewrites
    * the MERGE into scan-affected-groups → MergeRows (copied /
    * updated / inserted, deletes dropped) → a write whose commit
    * REPLACES the groups atomically (copy-on-write). Same batch
    * construction as b45 (update ≡3 mod 10, delete ≡7 mod 10, insert
    * ≡0 mod 100 re-keyed past max), so the post-merge state is exactly
    * recomputable; declared output = the post-merge account summary by
    * key mod 10 (deleted residue empty, updated residue +10000 each).
    * Table name is corpus-keyed (b25's lesson) and dropped first, so
    * repeated runs and concurrent corpora never collide; the summary
    * sum accumulates in DECIMAL (b60 discipline).
    */
  private def b75(s: SparkSession, d: String): DataFrame = {
    val tbl = graft.util.DemoTables.freshGraftmem(s, d, "acct",
      "(key BIGINT, bal_cents BIGINT)")
    accounts(s, d).writeTo(tbl).append()
    runCdcMergeRound(s, d, "b75", tbl)
    keyModSummary(s, tbl)
  }

  /** b80: MERGE-ON-READ MERGE — b75's CDC batch against the
    * `SupportsDelta` table flavor ([[graft.sources.GraftMemMorTable]],
    * `TBLPROPERTIES ('graft.row_level' = 'merge-on-read')`): Spark
    * plans `WriteDelta` instead of `ReplaceData`, MergeRows tags each
    * output row INSERT/UPDATE/DELETE, and the connector's DeltaWriter
    * receives per-row deltas addressed by the `_pos` row id —
    * positional tombstones + inserted rows, base rows NEVER rewritten
    * (the spec proves base object identity across the MERGE). This is
    * the row-level path update-heavy CDC uses at 100 TB: commit cost
    * O(changed rows) + a metadata append, vs copy-on-write's rewrite
    * of every touched group, traded against a per-scan merge of
    * tombstones (shipped per split like position-delete files).
    * Identical batch construction and post-merge summary as b75, so
    * b75's oracle serves verbatim — same answer through the OTHER
    * lakehouse write path is itself the cross-check.
    */
  private def b80(s: SparkSession, d: String): DataFrame = {
    val tbl = graft.util.DemoTables.freshGraftmem(s, d, "mor",
      "(key BIGINT, bal_cents BIGINT) " +
      "TBLPROPERTIES ('graft.row_level' = 'merge-on-read')")
    accounts(s, d).writeTo(tbl).append()
    runCdcMergeRound(s, d, "b80", tbl)
    keyModSummary(s, tbl)
  }

  /** b91: EQUALITY DELETES on the merge-on-read flavor — b80's CDC
    * batch against `TBLPROPERTIES ('graft.row_level' =
    * 'merge-on-read', 'graft.mor.deletes' = 'equality')`: the
    * `SupportsDelta` operation's rowId is the KEY COLUMN itself (not
    * the `_pos` metadata column), so the engine's WriteDelta plan
    * addresses every delete/update by key and never materializes a
    * row position — the Iceberg-v2 equality-delete shape streaming
    * CDC prefers, because the writer needs no read-before-write to
    * find positions. Each committed delete is scoped by a position
    * BOUNDARY (the table's next-position at its commit, the
    * sequence-number rule): it kills exactly the key's rows written
    * before it, so the MERGE's own update re-inserts land unharmed in
    * the same commit. Read-time merge filters (key, boundary) per
    * split; commit validation pins the scan version and rejects
    * conflicting equality deletes of the same key (spec-interleaved),
    * and the spec proves base-row object identity across the MERGE
    * plus the absence of `_pos` from the delta plan. Identical batch
    * and summary as b75/b80 — one oracle, now THREE lakehouse write
    * paths (ReplaceData, positional WriteDelta, equality WriteDelta),
    * equality of all three being the cross-check.
    */
  private def b91(s: SparkSession, d: String): DataFrame = {
    val tbl = graft.util.DemoTables.freshGraftmem(s, d, "moreq",
      "(key BIGINT NOT NULL, bal_cents BIGINT) " +
      "TBLPROPERTIES ('graft.row_level' = 'merge-on-read', " +
      "'graft.mor.deletes' = 'equality')")
    accounts(s, d).writeTo(tbl).append()
    runCdcMergeRound(s, d, "b91", tbl)
    keyModSummary(s, tbl)
  }

  /** b82: MoR COMPACTION via a DSv2 STORED PROCEDURE — `CALL
    * graftmem.system.compact('db.tbl')` (Spark ≥ 4.0 `ProcedureCatalog`
    * face, the Iceberg `rewrite_data_files` shape): after b80's CDC
    * MERGE leaves the merge-on-read table with tombstones + delta
    * inserts, the catalog-governed procedure folds the delta log into
    * the base (content-invariant; read cost drops back to zero
    * tombstone filtering), and a SECOND MERGE then runs against the
    * compacted table — proving maintenance is invisible to readers
    * AND to subsequent row-level writers (row positions are
    * preserved, so delta addressing keeps working). Declared output =
    * the post-both-merges summary; the oracle replays both CDC rounds
    * with joins and never mentions compaction — that absence IS the
    * invariance check. At 100 TB: compaction is the amortized
    * maintenance that keeps MoR read cost bounded, scheduled as a
    * governed CALL, not client glue.
    */
  private def b82(s: SparkSession, d: String): DataFrame = {
    val tbl = graft.util.DemoTables.freshGraftmem(s, d, "morc",
      "(key BIGINT, bal_cents BIGINT) " +
      "TBLPROPERTIES ('graft.row_level' = 'merge-on-read')")
    accounts(s, d).writeTo(tbl).append()
    runCdcMergeRound(s, d, "b82", tbl)
    // governed maintenance between the two CDC rounds
    s.sql(s"CALL graftmem.system.compact('${tbl.stripPrefix("graftmem.")}')")
      .collect()
    runFollowupMergeRound(s, tbl)
    keyModSummary(s, tbl)
  }

  /** b83: CDC CHANGE-FEED READ — the INCREMENTAL-CONSUMPTION face of
    * the merge-on-read stack (`db.tbl__changes`, the Iceberg
    * `db.tbl.changes` / Delta `table_changes()` shape): every commit
    * stamps its row changes into the table's change log, and a
    * downstream consumer reads ONLY `_commit_version >= v` — a CDC
    * hop instead of a full-table diff, which at 100 TB is the entire
    * point of keeping a change feed. The demo replays b82's history
    * (append → CDC MERGE → compact → second MERGE) and declares the
    * per-(version, change_type) summary SINCE version 2: the append
    * (v1) is excluded by the predicate, the COMPACTION (v3) is
    * provably absent from the feed (it moves bytes, not content —
    * change feeds carry logical changes only), and the updates
    * surface as their delete+insert pairs with the OLD row content on
    * the delete (position-delta semantics, the content looked up at
    * commit time exactly like a CDC reader joining position-delete
    * files against data files). Oracle recomputes both change sets
    * from the batch definitions with joins — no connector involved.
    */
  private def b83(s: SparkSession, d: String): DataFrame = {
    val tbl = graft.util.DemoTables.freshGraftmem(s, d, "morl",
      "(key BIGINT, bal_cents BIGINT) " +
      "TBLPROPERTIES ('graft.row_level' = 'merge-on-read')")
    accounts(s, d).writeTo(tbl).append() // version 1
    runCdcMergeRound(s, d, "b83", tbl) // version 2
    s.sql(s"CALL graftmem.system.compact('${tbl.stripPrefix("graftmem.")}')")
      .collect() // version 3 — must NOT appear in the feed
    runFollowupMergeRound(s, tbl) // version 4
    s.sql(
      s"""SELECT _commit_version, _change_type, count(*) AS n,
         |  CAST(sum(CAST(bal_cents AS DECIMAL(38,0))) AS BIGINT)
         |    AS bal_cents_sum
         |FROM ${tbl}__changes WHERE _commit_version >= 2
         |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)
  }

  /** b84: TIME TRAVEL — the SNAPSHOT-READ face of the lakehouse stack
    * (`VERSION AS OF` / `TIMESTAMP AS OF`, Spark's `TimeTravelSpec`
    * resolving through the catalog's versioned `loadTable`): every
    * graftmem commit records an O(1) snapshot reference (the
    * manifest-pointer shape — never a data copy), and a historical
    * read loads one committed version as a read-only table. The demo
    * runs b75's history (append → CDC MERGE → follow-up MERGE) and
    * declares the SNAPSHOT DIFF between version 1 (the original
    * append) and the current table — per key_mod: rows added, rows
    * removed, rows changed, and the net balance delta — the
    * "what changed since yesterday's snapshot" query that at 100 TB
    * runs as two manifest-pinned scans + one join instead of
    * restoring a backup. History retention is governed
    * (`CALL graftmem.system.expire_snapshots`, spec-proven); the
    * oracle recomputes both states from the batch definitions and
    * diffs them with the same full outer join — no connector
    * involved.
    */
  private def b84(s: SparkSession, d: String): DataFrame = {
    val tbl = graft.util.DemoTables.freshGraftmem(s, d, "ttc",
      "(key BIGINT, bal_cents BIGINT)")
    accounts(s, d).writeTo(tbl).append() // version 1 — the diff's left side
    runCdcMergeRound(s, d, "b84", tbl) // version 2
    runFollowupMergeRound(s, tbl) // version 3 — current
    s.sql(
      s"""SELECT coalesce(v1.key, now.key) % 10 AS key_mod,
         |  CAST(count(*) FILTER (WHERE v1.key IS NULL) AS BIGINT)
         |    AS n_added,
         |  CAST(count(*) FILTER (WHERE now.key IS NULL) AS BIGINT)
         |    AS n_removed,
         |  CAST(count(*) FILTER (WHERE v1.key IS NOT NULL
         |    AND now.key IS NOT NULL
         |    AND v1.bal_cents <> now.bal_cents) AS BIGINT) AS n_changed,
         |  CAST(sum(coalesce(now.bal_cents, 0)
         |    - coalesce(v1.bal_cents, 0)) AS BIGINT) AS delta_cents
         |FROM (SELECT * FROM $tbl VERSION AS OF 1) v1
         |FULL OUTER JOIN (SELECT * FROM $tbl) now ON v1.key = now.key
         |GROUP BY 1 ORDER BY 1""".stripMargin)
  }

  /** b85: SCHEMA EVOLUTION with TYPED LITERAL DEFAULTS —
    * `ALTER TABLE ... ADD COLUMNS (c <type> DEFAULT <literal>)` as a
    * METADATA-ONLY commit (the Iceberg-v3 initial-default / Delta
    * column-mapping shape, generalized in round 11 from BIGINT/0 to
    * BIGINT, INT, STRING, BOOLEAN and DECIMAL literals): pre-ALTER
    * rows are never rewritten — they stay physically narrower, and
    * every reader (live scan, snapshot scan, change feed, MoR merge)
    * surfaces each missing column as ITS OWN captured default. At
    * 100 TB this is the difference between an ALTER that finishes in
    * a metadata transaction and one that rewrites the table. The demo
    * appends customer under the 2-column schema, widens with THREE
    * typed columns (`bonus_cents BIGINT DEFAULT 250`,
    * `tier STRING DEFAULT 'basic'`, `vip BOOLEAN DEFAULT false`),
    * appends a re-keyed second batch that POPULATES them, then runs a
    * row-level UPDATE touching BOTH generations and BOTH typed
    * columns (old rows enter the rewrite as their defaults and come
    * out materialized), and declares per-(key_mod, tier) totals over
    * every column — the STRING default flowing through a group-by is
    * itself part of the check. The oracle recomputes both generations
    * + the update with the typed defaults inline. The ALTER bumps the
    * table version per column, so history keeps the pre-ALTER schema
    * (`VERSION AS OF`, spec-asserted) and any in-flight rewrite
    * scanned under the old schema is a loud commit conflict.
    */
  private def b85(s: SparkSession, d: String): DataFrame = {
    val tbl = graft.util.DemoTables.freshGraftmem(s, d, "sec",
      "(key BIGINT, bal_cents BIGINT)")
    val snap = accounts(s, d)
    snap.writeTo(tbl).append() // v1 — 2-col generation
    s.sql(s"ALTER TABLE $tbl ADD COLUMNS (" +
      "bonus_cents BIGINT DEFAULT 250, tier STRING DEFAULT 'basic', " +
      "vip BOOLEAN DEFAULT false)") // v2-v4 (one metadata commit each)
    customer(s, d).createOrReplaceTempView("g_cust_b85")
    s.sql(
      """SELECT c_custkey
        |    + (SELECT max(c_custkey) + 1 FROM g_cust_b85) AS key,
        |  CAST(floor(c_acctbal * 100) AS BIGINT) AS bal_cents,
        |  c_custkey % 97 AS bonus_cents,
        |  CASE WHEN c_custkey % 3 = 0 THEN 'gold' ELSE 'basic' END
        |    AS tier,
        |  c_custkey % 5 = 0 AS vip
        |FROM g_cust_b85""".stripMargin)
      .writeTo(tbl).append() // v5 — 5-col generation
    // row-level UPDATE across BOTH generations through the widened
    // schema (old rows enter the rewrite as their typed defaults and
    // come out materialized)
    s.sql(s"UPDATE $tbl SET bonus_cents = bonus_cents + 500, " +
      "tier = 'plus' WHERE key % 10 = 2") // v6
    s.sql(
      s"""SELECT key % 10 AS key_mod, tier, count(*) AS n,
         |  CAST(sum(CAST(bal_cents AS DECIMAL(38,0))) AS BIGINT)
         |    AS bal_cents_sum,
         |  CAST(sum(CAST(bonus_cents AS DECIMAL(38,0))) AS BIGINT)
         |    AS bonus_cents_sum,
         |  CAST(count_if(vip) AS BIGINT) AS n_vip
         |FROM $tbl GROUP BY key % 10, tier
         |ORDER BY key_mod, tier""".stripMargin)
  }

  /** b86: OVERWRITE WRITE FACES — the two overwrite modes every batch
    * pipeline's idempotent reload runs on, at the DSv2 extension
    * point: DYNAMIC PARTITION OVERWRITE (`SupportsDynamicOverwrite`,
    * `df.writeTo(t).overwritePartitions()`) replaces EXACTLY the
    * groups the new rows land in — re-running a day's corrected load
    * swaps that day's partitions and never touches the rest (spec
    * proves untouched groups keep their row objects) — and FILTER
    * OVERWRITE (`SupportsOverwriteV2`, the replaceWhere shape /
    * static `INSERT OVERWRITE ... PARTITION`): delete the rows
    * matching the plan-time predicate, append the new. The connector
    * compiles the predicate algebra itself and REJECTS anything it
    * can't honor exactly at plan time — silently widening an
    * overwrite filter would delete rows the user scoped out. At
    * 100 TB dynamic overwrite is the idempotent-reload primitive
    * (same job re-run = same final state, no double data), and the
    * group narrowing is what keeps it O(reloaded partitions).
    */
  private def b86(s: SparkSession, d: String): DataFrame = {
    val tbl = graft.util.DemoTables.freshGraftmem(s, d, "owc",
      "(key BIGINT, g BIGINT, bal_cents BIGINT) PARTITIONED BY (g)")
    accounts(s, d, "c_custkey % 5 AS g")
      .writeTo(tbl).append() // the original load
    // corrected reload of partitions 1 and 3 (dynamic: the groups
    // present in the frame are the groups replaced)
    customer(s, d)
      .selectExpr("c_custkey AS key", "c_custkey % 5 AS g",
        "CAST(floor(c_acctbal * 100) AS BIGINT) + 10000 AS bal_cents")
      .where("c_custkey % 5 IN (1, 3)")
      .writeTo(tbl).overwritePartitions()
    // replaceWhere on partition 0
    customer(s, d)
      .selectExpr("c_custkey AS key", "CAST(0 AS BIGINT) AS g",
        "CAST(floor(c_acctbal * 100) AS BIGINT) + 77 AS bal_cents")
      .where("c_custkey % 5 = 0")
      .writeTo(tbl)
      .overwrite(org.apache.spark.sql.functions.col("g") ===
        org.apache.spark.sql.functions.lit(0L))
    s.sql(
      s"""SELECT g, count(*) AS n,
         |  CAST(sum(CAST(bal_cents AS DECIMAL(38,0))) AS BIGINT)
         |    AS bal_cents_sum
         |FROM $tbl GROUP BY g ORDER BY g""".stripMargin)
  }

  /** b87: TABLE CHECK CONSTRAINTS — engine-enforced data-quality
    * gates at the table boundary (Spark ≥ 4.1 constraint DDL +
    * `Table.constraints()`): the table DECLARES
    * `CONSTRAINT ... CHECK (...)` at CREATE, the connector stores and
    * reports it, and the ENGINE injects the validation into every
    * write plan — appends, MERGE rewrites, delta writes — so a
    * violating row fails the write BEFORE the commit and the table is
    * untouched (spec proves both the rejection and the no-trace
    * property; the connector never re-implements the check). The
    * demo runs the full CDC history (append → CDC MERGE → follow-up
    * MERGE) against a constrained table — every write passes through
    * the gate — and declares the post-history summary. At 100 TB
    * this replaces the per-pipeline "validate then write" double
    * pass: the contract lives ON the table, every writer inherits
    * it, and enforcement is plan-level codegen, not a quality job.
    */
  private def b87(s: SparkSession, d: String): DataFrame = {
    val tbl = graft.util.DemoTables.freshGraftmem(s, d, "ckc",
      "(key BIGINT, bal_cents BIGINT, CONSTRAINT bal_range CHECK " +
        "(bal_cents >= -200000 AND bal_cents < 100000000))")
    accounts(s, d).writeTo(tbl).append()
    runCdcMergeRound(s, d, "b87", tbl)
    runFollowupMergeRound(s, tbl)
    keyModSummary(s, tbl)
  }

  /** b81: COST-BASED JOIN REORDER — a38 proved connector statistics
    * drive plan-time broadcast; this proves they drive JOIN ORDER,
    * the other decision that separates a 100 TB plan from a timeout.
    * Three catalog tables with ANALYZE'd stats (rowCount + column
    * NDVs): fact (orders-derived, k2 spread over 1 000 values), a
    * big dim on k1 (customer-sized, joins 1:1 — no reduction) and a
    * tiny dim on k2 covering only 25 of the 1 000 k2 values (cuts the
    * fact to ~2.5%). The SYNTACTIC order joins the big dim first —
    * carrying the full fact through both joins; with
    * `spark.sql.cbo.enabled` + `joinReorder.enabled`,
    * `CostBasedJoinReorder` estimates both orders from the column
    * stats (equi-join cardinality ≈ n₁·n₂ / max(ndv)) and commutes
    * the TINY dim below — the intermediate shrinks 40× before the
    * expensive join runs. Same declarative SQL, better plan, zero
    * hints: the spec asserts the reordered shape (and the syntactic
    * shape with CBO off). Output is order-invariant (exact integer
    * sums), so the oracle is the plain 3-table join. At 100 TB the
    * stats come from the table format's metadata (a38's
    * SupportsReportStatistics face) or ANALYZE, and this rule is the
    * difference between shuffling 100 TB twice and once.
    */
  private val b81Confs = Seq(
    "spark.sql.cbo.enabled" -> "true",
    "spark.sql.cbo.joinReorder.enabled" -> "true")

  /** The ANALYZE'd stats tables are a LAYOUT artifact of the corpus —
    * built once per (session, corpus) like the dedup index and d13's
    * split source, not once per query run. A lakehouse table's stats
    * are maintained by the format; the demo's pay-once CREATE +
    * ANALYZE is the same amortization.
    */
  private val b81TablesMemo =
    new graft.util.BoundedMemo[(SparkSession, String),
      (String, String, String)]()

  private[operators] def b81Exec(s: SparkSession, d: String,
      cbo: Boolean = true): (DataFrame, String) = {
    // catalog tables: ANALYZE needs a catalog entry to hang rowCount +
    // column stats on (the v1 face of a38's connector stats). Built
    // from the fixture corpus as EXTERNAL tables on fresh tmp
    // locations — a managed table's warehouse dir outlives the
    // in-memory catalog across JVMs and CREATE then dies on
    // LOCATION_ALREADY_EXISTS.
    val (fact, dimb, dims) = b81TablesMemo.get((s, d)) {
      val suf = graft.util.DemoTables.corpusSuffix(d)
      def mkStats(name: String, df: DataFrame): String = {
        s.sql(s"DROP TABLE IF EXISTS $name")
        df.write.option("path", graft.util.TmpDir.fresh(name))
          .saveAsTable(name)
        s.sql(s"ANALYZE TABLE $name COMPUTE STATISTICS FOR ALL COLUMNS")
        name
      }
      (mkStats(s"g_b81_fact_$suf",
        orders(s, d).selectExpr("o_custkey AS k1",
          "o_orderkey % 1000 AS k2",
          "CAST(floor(o_totalprice * 100) AS BIGINT) AS cents")),
        mkStats(s"g_b81_dimb_$suf",
          customer(s, d).selectExpr("c_custkey AS k1",
            "CAST(c_nationkey AS BIGINT) AS nat")),
        mkStats(s"g_b81_dims_$suf",
          nation(s, d).selectExpr("CAST(n_nationkey AS BIGINT) AS k2")))
    }
    graft.util.GraftConf.withConf(s, (if (cbo) b81Confs else Nil): _*) {
      val q = s.sql(
        s"""SELECT b.nat AS nat, count(*) AS n,
           |  CAST(sum(CAST(f.cents AS DECIMAL(38,0))) AS BIGINT)
           |    AS cents_sum
           |FROM $fact f
           |JOIN $dimb b ON f.k1 = b.k1
           |JOIN $dims t ON f.k2 = t.k2
           |GROUP BY b.nat ORDER BY nat""".stripMargin)
      // materialize INSIDE the conf scope (CBO reads the flags when
      // the plan is optimized; a lazily-returned frame would escape);
      // expose the optimized plan for the spec's join-shape assertion
      val plan = q.queryExecution.optimizedPlan.toString
      (q.localCheckpoint(), plan)
    }
  }

  private def b81(s: SparkSession, d: String): DataFrame = b81Exec(s, d)._1

  /** b76: DSv2 FUNCTION CATALOG — the governed-function face next to
    * c17's session-registry Expression: `graftmem.db.cosine_sim` is
    * resolved by name THROUGH THE CATALOG (one definition every
    * session sees; a per-session `functionRegistry.registerFunction`
    * can silently drift between jobs), and its MAGIC METHOD binds as
    * a direct codegen'd call — the plan shows
    * `invoke(CosineSimV2.invoke(a, b))`, no UDF boundary, no
    * per-row InternalRow boxing (spec-asserted). The kernel IS the
    * native Expression's (`CosineSim.compute` shared), so the two
    * surfaces are bit-identical by construction and c17's oracle
    * serves verbatim.
    */
  private def b76(s: SparkSession, d: String): DataFrame = {
    graft.util.DemoTables.registerGraftmem(s)
    graft.util.Tables.table(s, d, "embeddings")
      .createOrReplaceTempView("g_emb_b76")
    s.sql(
      """SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
        |  round(graftmem.db.cosine_sim(a.embedding, b.embedding), 4)
        |    AS sim
        |FROM g_emb_b76 a JOIN g_emb_b76 b ON b.vec_id = a.vec_id + 1
        |ORDER BY vec_a""".stripMargin)
  }

  /** b77: GROUP-PRUNED MERGE — b75 at the scale shape that makes
    * copy-on-write viable at 100 TB: the table is PARTITIONED (one
    * rewrite group per `g = key % 5` value), the MERGE touches only
    * group 2, and Spark's runtime row-level GROUP FILTER
    * (`RowLevelOperationRuntimeGroupFiltering` + the op scan's
    * `SupportsRuntimeV2Filtering` on `_group`) prunes the rewrite to
    * exactly that group: untouched groups are never read, never
    * recomputed, never rewritten — the spec proves it by OBJECT
    * IDENTITY (untouched groups keep their existing row instances
    * across the commit) plus the dynamic-pruning expression on the op
    * scan. Same machinery as a37's DPP, pointed at the write path —
    * which is the difference between rewriting 1/N and N/N of a table
    * per merge.
    */
  private def b77(s: SparkSession, d: String): DataFrame = {
    val tbl = graft.util.DemoTables.freshGraftmem(s, d, "acctp",
      "(key BIGINT, g BIGINT, bal_cents BIGINT) PARTITIONED BY (g)")
    accounts(s, d, "c_custkey % 5 AS g").writeTo(tbl).append()
    customer(s, d)
      .filter(col("c_custkey") % 50 === 2)
      .selectExpr("c_custkey AS key")
      .createOrReplaceTempView("g_batch_b77")
    s.sql(
      s"""MERGE INTO $tbl t USING g_batch_b77 b ON t.key = b.key
         |WHEN MATCHED THEN UPDATE SET bal_cents = bal_cents + 10000
         |""".stripMargin)
    s.sql(
      s"""SELECT g, count(*) AS n,
         |  CAST(sum(CAST(bal_cents AS DECIMAL(38,0))) AS BIGINT)
         |    AS bal_cents_sum
         |FROM $tbl GROUP BY g ORDER BY g""".stripMargin)
  }

  /** b78: REBALANCE hint — the pre-write LAYOUT-SHAPING pass
    * (`/*+ REBALANCE(col) */` → `RebalancePartitions` →
    * a `REBALANCE_PARTITIONS_BY_COL` exchange that AQE splits AND
    * coalesces to advisory-sized output partitions): the production
    * answer to both small-files (thousands of tiny tasks each writing
    * a file) and giant-file skew (one hot partition writing one huge
    * file) when materializing a keyed layout. Unlike `repartition(n,
    * col)` the target count is not guessed — AQE sizes partitions
    * from actual map output; unlike `coalesce` it can SPLIT a hot
    * key's partition (REBALANCE tolerates rows of one key landing in
    * multiple files — it shapes size, not co-location; B25/A34 are
    * the co-location tools). The demo rebalances lineitem by
    * returnflag into a parquet sink and declares the read-back
    * per-flag summary — content is layout-invariant, which is the
    * point; the spec asserts the rebalance exchange and that every
    * sink file is non-trivially sized.
    */
  private def b78(s: SparkSession, d: String): DataFrame = {
    val sink = graft.util.TmpDir.fresh("b78-sink")
    lineitem(s, d)
      .select(col("l_returnflag"), col("l_orderkey"),
        floor(col("l_extendedprice") * 100).cast("long").as("cents"))
      .hint("rebalance", col("l_returnflag"))
      .write.parquet(sink)
    s.read.parquet(sink)
      .groupBy("l_returnflag")
      .agg(count(lit(1)).as("n"),
        sum(col("cents").cast("decimal(38,0)")).cast("long")
          .as("cents_sum"))
      .orderBy("l_returnflag")
  }

  /** b79: DSv2 catalog AGGREGATE function — b76's aggregate sibling
    * and b33's catalog twin: the SAME KMV sketch kernel
    * ([[graft.functions.KmvDistinctV2]] shares `KmvDistinct`'s hash
    * family and estimator) resolved through the FunctionCatalog and
    * executed by Spark's `V2Aggregator` bridge with full distributed
    * partial aggregation (partial update on executors, serialized
    * KmvBuffer states merged across the exchange — visible as
    * partial_/merge_v2aggregator in the plan). One sketch definition
    * per catalog instead of per session registry; bit-identical to
    * b33 by construction, so b33's oracle serves verbatim.
    */
  private def b79(s: SparkSession, d: String): DataFrame = {
    graft.util.DemoTables.registerGraftmem(s)
    lineitem(s, d).createOrReplaceTempView("g_lineitem_b79")
    s.sql(
      """SELECT l_returnflag,
        |  graftmem.db.kmv_distinct(l_partkey) AS est_dparts,
        |  count(DISTINCT l_partkey) AS true_dparts
        |FROM g_lineitem_b79 GROUP BY 1 ORDER BY 1""".stripMargin)
  }

  /** b88: PARTITION MANAGEMENT — explicit partition DDL at the DSv2
    * extension point (`SupportsAtomicPartitionManagement`): `ALTER
    * TABLE ... ADD/DROP PARTITION`, `TRUNCATE TABLE ... PARTITION`,
    * `SHOW PARTITIONS` — the lifecycle operations every
    * retention/reload pipeline runs against partitioned tables. The
    * demo loads customer across 5 partitions, DECLARES an empty one
    * (ADD — the pre-registered landing partition pattern), DROPS one
    * (data + declaration, one versioned commit: time travel keeps the
    * dropped data, an in-flight rewrite that scanned it conflicts),
    * and TRUNCATES another (emptied but still LISTED — the Hive/DSv2
    * contract that distinguishes retention-truncate from drop).
    * Declared output joins SHOW PARTITIONS against the per-partition
    * totals, so all three DDL semantics are visible in one result:
    * the dropped partition is ABSENT, the truncated and the declared
    * ones are present with zero rows. At 100 TB partition drop/
    * truncate is the O(metadata) retention primitive — age-out never
    * rewrites surviving data — and the atomic multi-partition
    * contract is what keeps a failed retention batch all-or-nothing.
    */
  private def b88(s: SparkSession, d: String): DataFrame = {
    val tbl = graft.util.DemoTables.freshGraftmem(s, d, "pmg",
      "(key BIGINT, g BIGINT, bal_cents BIGINT) PARTITIONED BY (g)")
    accounts(s, d, "c_custkey % 5 AS g").writeTo(tbl).append()
    s.sql(s"ALTER TABLE $tbl ADD PARTITION (g = 9)")
    // IF NOT EXISTS / IF EXISTS keep the DDL total on an empty load
    // (no data ⇒ no data-implied partitions): 4 is declared before
    // its truncation, 2's drop absorbs absence — same end state
    // either way, and the empty-corpus contract holds
    s.sql(s"ALTER TABLE $tbl ADD IF NOT EXISTS PARTITION (g = 4)")
    s.sql(s"ALTER TABLE $tbl DROP IF EXISTS PARTITION (g = 2)")
    s.sql(s"TRUNCATE TABLE $tbl PARTITION (g = 4)")
    val listed = s.sql(s"SHOW PARTITIONS $tbl")
      .selectExpr("CAST(split(partition, '=')[1] AS BIGINT) AS g")
    val data = s.sql(
      s"""SELECT g, count(*) AS n,
         |  CAST(sum(CAST(bal_cents AS DECIMAL(38,0))) AS BIGINT)
         |    AS bal_cents_sum
         |FROM $tbl GROUP BY g""".stripMargin)
    listed.join(data, Seq("g"), "left_outer")
      .selectExpr("g", "coalesce(n, CAST(0 AS BIGINT)) AS n",
        "bal_cents_sum")
      .orderBy("g")
  }

  /** b90: the `IDENTIFIER()` clause (Spark ≥ 4.0) — SQL-injection-safe
    * NAME templating, the other half of parameterized SQL: b69 binds
    * VALUES through typed named parameters; IDENTIFIER binds NAMES
    * (tables, columns) from constant expressions, so one statement
    * template serves many tables/columns with the parser — not string
    * concatenation — enforcing that the parameter is exactly one
    * identifier. The demo resolves BOTH the table and the group-by
    * column through IDENTIFIER(:param) and the measure threshold
    * through a value parameter — the multi-tenant/multi-partition
    * job-template shape (same query text per tenant, never a SQL
    * string built by hand). The resolved plan is identical to the
    * literal query's, so pushdown/pruning are untouched (the clause
    * is purely a binding-time construct).
    */
  private def b90(s: SparkSession, d: String): DataFrame = {
    lineitem(s, d).createOrReplaceTempView("g_b90_li")
    s.sql(
      """SELECT IDENTIFIER(:grpCol) AS flag, count(*) AS n,
        |  CAST(sum(CAST(floor(l_extendedprice * 100) AS BIGINT))
        |    AS BIGINT) AS cents
        |FROM IDENTIFIER(:tbl)
        |WHERE l_quantity >= :minQty
        |GROUP BY IDENTIFIER(:grpCol)
        |ORDER BY flag""".stripMargin,
      Map("tbl" -> "g_b90_li", "grpCol" -> "l_returnflag",
        "minQty" -> 25))
  }

  /** b89: SNAPSHOT TAGS — named retention roots over b84's history
    * (the Iceberg tag shape): `CALL graftmem.system.create_tag(tbl,
    * 'baseline', v)` names a snapshot, `VERSION AS OF 'baseline'`
    * resolves it, and every retention pass — the automatic
    * per-commit cap AND an explicit expire_snapshots — PINS tagged
    * versions. The demo makes the pin indispensable: append (v1),
    * tag it, run both CDC rounds (v2, v3), then
    * `expire_snapshots(keep_last = 1)` — which expires the UNTAGGED
    * v2 but must keep the tagged v1 — and declares the summary read
    * through the tag. Without the pin the read would fail loudly
    * (spec asserts v2 IS gone); the oracle recomputes the original
    * append and never mentions history at all. At 100 TB tags are
    * how "the snapshot we trained run X on" stays readable across
    * months of retention — a name with a lifetime, not a version
    * number in a wiki.
    */
  private def b89(s: SparkSession, d: String): DataFrame = {
    val tbl = graft.util.DemoTables.freshGraftmem(s, d, "tagd",
      "(key BIGINT, bal_cents BIGINT)")
    accounts(s, d).writeTo(tbl).append() // v1 — the tagged baseline
    s.sql(s"CALL graftmem.system.create_tag(" +
      s"'${tbl.stripPrefix("graftmem.")}', 'baseline', 1L)").collect()
    runCdcMergeRound(s, d, "b89", tbl) // v2
    runFollowupMergeRound(s, tbl) // v3
    // retention keeps the newest 1 + every tagged version: v2 expires,
    // the tagged v1 survives — the read below depends on the pin
    s.sql(s"CALL graftmem.system.expire_snapshots(" +
      s"'${tbl.stripPrefix("graftmem.")}', 1)").collect()
    keyModSummary(s, s"$tbl VERSION AS OF 'baseline'")
  }

  /** b92: WRITE-AUDIT-PUBLISH via SNAPSHOT BRANCHES — the governance
    * gate a 100 TB ingest runs instead of writing straight into the
    * serving table: `CALL graftmem.system.create_branch(tbl, 'ingest')`
    * forks main's content by REFERENCE (O(1), b84's manifest-pointer
    * shape), the producer stages its generation with plain appends to
    * `tbl__branch_ingest` — where the parent's b87 CHECK constraints
    * gate every write at the ENGINE level (the audit that needs no
    * separate quality job) — an explicit audit query inspects the
    * staged state, and `CALL ... fast_forward(tbl, 'main', 'ingest')`
    * publishes atomically, REQUIRING main unchanged since the fork
    * (a diverged main rejects loudly; spec-interleaved). Until that
    * one commit, main's content, version and history are untouched —
    * a failed audit simply never publishes, and nothing needs rolling
    * back. Declared output = the published main; the oracle recomputes
    * snapshot + staged generation and never mentions branches — their
    * absence from the math IS the publish-exactness check.
    */
  private def b92(s: SparkSession, d: String): DataFrame = {
    val tbl = graft.util.DemoTables.freshGraftmem(s, d, "wap",
      "(key BIGINT, bal_cents BIGINT, CONSTRAINT wap_box CHECK " +
        "(bal_cents >= -200000 AND bal_cents < 100000000))")
    accounts(s, d).writeTo(tbl).append() // v1 — main's serving content
    s.sql(s"CALL graftmem.system.create_branch(" +
      s"'${tbl.stripPrefix("graftmem.")}', 'ingest')").collect()
    // stage the new generation ON THE BRANCH (re-keyed past max, +777
    // cents) — every row passes the engine-enforced CHECK gate
    customer(s, d).createOrReplaceTempView("g_cust_b92")
    s.sql(
      """SELECT c_custkey
        |    + (SELECT max(c_custkey) + 1 FROM g_cust_b92) AS key,
        |  CAST(floor(c_acctbal * 100) AS BIGINT) + 777 AS bal_cents
        |FROM g_cust_b92""".stripMargin)
      .writeTo(s"${tbl}__branch_ingest").append()
    // the AUDIT: inspect the staged state before anything reaches main
    // (1-row bounded aggregate — the A9 driver-check class)
    val audit = s.sql(
      s"""SELECT count(*) AS staged,
         |  count(CASE WHEN bal_cents IS NULL THEN 1 END) AS bad
         |FROM ${tbl}__branch_ingest""".stripMargin).head()
    require(audit.getLong(1) == 0L,
      s"b92 audit failed: ${audit.getLong(1)} bad staged rows")
    s.sql(s"CALL graftmem.system.fast_forward(" +
      s"'${tbl.stripPrefix("graftmem.")}', 'main', 'ingest')").collect()
    keyModSummary(s, tbl)
  }

  /** b93: SNAPSHOT-HISTORY METADATA TABLE — `db.tbl__history`, the
    * Iceberg `db.tbl.snapshots` / Delta `DESCRIBE HISTORY` face over
    * b84's retained versions: one row per snapshot with its visible
    * row count, schema width, pinning tag count and a current marker
    * — the operational "what happened to this table" read an operator
    * runs BEFORE picking a `VERSION AS OF` target or a retention
    * cutoff (the enumeration-before-address pattern d29 applies to
    * streaming state, here applied to table history). The demo runs
    * the standard lifecycle — append (v1, tagged 'baseline'), CDC
    * MERGE (v2), follow-up MERGE (v3) — and declares the full history:
    * the row-count TRAJECTORY (v1 = the snapshot, v2 = −deletes
    * +inserts, v3 unchanged — updates move balances, not counts) is
    * what the oracle recomputes from the batch definitions. Scan cost
    * is bounded by the snapshot-retention cap — a metadata read,
    * never a data read; wall-clock commit times are deliberately not
    * declared (determinism contract), `TIMESTAMP AS OF` stays the
    * time-addressed face.
    */
  private def b93(s: SparkSession, d: String): DataFrame = {
    val tbl = graft.util.DemoTables.freshGraftmem(s, d, "hist",
      "(key BIGINT, bal_cents BIGINT)")
    accounts(s, d).writeTo(tbl).append() // v1
    s.sql(s"CALL graftmem.system.create_tag(" +
      s"'${tbl.stripPrefix("graftmem.")}', 'baseline', 1L)").collect()
    runCdcMergeRound(s, d, "b93", tbl) // v2
    runFollowupMergeRound(s, tbl) // v3 — current
    s.sql(
      s"""SELECT version, live_rows, n_columns, n_tags, is_current
         |FROM ${tbl}__history ORDER BY version""".stripMargin)
  }

  /** b94: FILE-LEVEL METADATA TABLE — `db.tbl__files`, the Iceberg
    * `db.tbl.files` / Delta file-manifest face over the merge-on-read
    * flavor ([[graft.sources.GraftMemMorTable#filesFace]]): one row per live
    * ledger file with write-time stats (position range, rows written,
    * min/max key — fixed at commit, the manifest discipline) plus
    * derived liveness (live vs deleted rows against the current
    * tombstone state) — the FILE-GRAIN forensics read that compaction
    * planning actually consumes (c57 derives the same facts from a
    * data scan because parquet keeps no live manifest; a lakehouse
    * table keeps one, and this is that read). The demo runs append
    * (v1 → file 1) and the CDC MERGE (v2 → file 2 + tombstones into
    * file 1), declares `__files` BEFORE compaction (phase 0: file 1
    * carries the update+delete tombstones, file 2 the re-inserts +
    * inserts), compacts (`CALL graftmem.system.compact` — the
    * rewrite_data_files shape), and declares `__files` AFTER
    * (phase 1: ONE spanning file, zero deleted rows) — the metadata
    * trajectory of maintenance, while b82 proves the DATA summary is
    * compaction-invariant. Both reads are metadata-sized (ledger
    * rows, the A9 bounded-collect class); the oracle recomputes every
    * stat from the batch definitions.
    */
  private def b94(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    val tbl = graft.util.DemoTables.freshGraftmem(s, d, "fmeta",
      "(key BIGINT, bal_cents BIGINT) " +
        "TBLPROPERTIES ('graft.row_level' = 'merge-on-read')")
    accounts(s, d).writeTo(tbl).append() // v1 → file 1
    runCdcMergeRound(s, d, "b94", tbl) // v2 → file 2 + tombstones
    val cols = Seq("file_id", "commit_version", "pos_min", "pos_max",
      "rows_written", "live_rows", "deleted_rows", "min_key", "max_key")
    // materialize each phase eagerly (DSv2 scans pin state at physical
    // planning — a lazy union would read both phases post-compaction)
    def grab(phase: Long): Seq[org.apache.spark.sql.Row] =
      s.table(s"${tbl}__files")
        .select(lit(phase).as("phase") +: cols.map(col): _*)
        .collect().toSeq
    val pre = grab(0L)
    s.sql(s"CALL graftmem.system.compact('${tbl.stripPrefix("graftmem.")}')")
      .collect()
    val post = grab(1L)
    val schema = StructType(
      StructField("phase", LongType, nullable = false) +:
        cols.map(StructField(_, LongType, nullable = false)))
    import scala.jdk.CollectionConverters._
    s.createDataFrame((pre ++ post).asJava, schema)
      .orderBy("phase", "file_id")
  }

  /** b95: ROW LINEAGE — stable `_row_id` / `_last_updated_version`
    * metadata columns on the merge-on-read flavor (the Iceberg-v3
    * row-lineage shape): a row's id is assigned at its FIRST commit
    * and PRESERVED through b91's equality-delete UPDATE path (the
    * delta writer's update() carries the victim→re-insert pairing, so
    * the new row inherits the victim's identity) and through b82's
    * compaction — the identity layer that lets an incremental
    * consumer treat an update AS an update instead of an unrelated
    * delete+insert pair. The demo appends the customer snapshot as
    * ONE sorted write task (so v1's `_row_id` = rank(key)−1, an
    * oracle-recomputable identity map; production writers don't need
    * this — ids are stable whatever the landing order), runs the CDC
    * MERGE (v2), compacts (v3 — identity must survive the rewrite),
    * runs the follow-up MERGE (v4), and declares per update-class:
    * row count, how many rows kept their original identity (all —
    * THE claim), the class's uniform last-updated version (min = max
    * declared to pin uniformity), and the balance sum. Inserted rows'
    * identity check is range-scoped (ids minted by v2's landing) —
    * their exact ids depend on distributed landing order, which is
    * the honest contract. Scale: lineage adds two BIGINTs per row
    * carried in rewritten files (a real format materializes them at
    * rewrite; nothing global ships), and update-aware downstream
    * consumers (d26's shape) stop re-keying on delete+insert pairs.
    */
  private def b95(s: SparkSession, d: String): DataFrame = {
    val tbl = graft.util.DemoTables.freshGraftmem(s, d, "rlin",
      "(key BIGINT NOT NULL, bal_cents BIGINT) " +
        "TBLPROPERTIES ('graft.row_level' = 'merge-on-read', " +
        "'graft.mor.deletes' = 'equality')")
    accounts(s, d)
      .repartition(1).sortWithinPartitions("key")
      .writeTo(tbl).append() // v1: _row_id = rank(key) - 1
    runCdcMergeRound(s, d, "b95", tbl) // v2
    s.sql(s"CALL graftmem.system.compact('${tbl.stripPrefix("graftmem.")}')")
      .collect() // v3: identity survives the rewrite
    runFollowupMergeRound(s, tbl) // v4: +5000 on keys ≡1 (mod 10)
    customer(s, d).createOrReplaceTempView("g_cust_b95r")
    // orig_id = rank(key) - 1 without a one-task window: a range-
    // partitioned sort, then each key's index in that global order
    val keys = customer(s, d).selectExpr("CAST(c_custkey AS BIGINT) AS key")
      .orderBy("key")
    s.createDataFrame(keys.rdd.zipWithIndex().map { case (r, i) =>
      (r.getLong(0), i) }).toDF("key", "orig_id")
      .createOrReplaceTempView("g_cust_b95rk")
    s.sql(
      s"""WITH sc AS (SELECT count(*) AS n1,
         |    count(CASE WHEN c_custkey % 10 = 3 THEN 1 END) AS nu,
         |    count(CASE WHEN c_custkey % 100 = 0 THEN 1 END) AS ni
         |  FROM g_cust_b95r),
         |rk AS (SELECT key, orig_id FROM g_cust_b95rk),
         |cur AS (SELECT key, bal_cents, _row_id AS rid,
         |    _last_updated_version AS luv FROM $tbl)
         |SELECT
         |  CASE WHEN rk.key IS NULL THEN
         |         CASE WHEN cur.key % 10 = 1 THEN 'ins1' ELSE 'ins' END
         |       WHEN cur.key % 10 = 3 THEN 'upd3'
         |       WHEN cur.key % 10 = 1 THEN 'upd1'
         |       ELSE 'kept' END AS cls,
         |  count(*) AS n,
         |  count(CASE WHEN (rk.key IS NOT NULL AND rid = rk.orig_id)
         |    OR (rk.key IS NULL AND rid >= (SELECT n1 FROM sc)
         |        AND rid < (SELECT n1 + nu + ni FROM sc)) THEN 1 END)
         |    AS n_id_stable,
         |  min(luv) AS luv_min, max(luv) AS luv_max,
         |  CAST(sum(CAST(bal_cents AS DECIMAL(38,0))) AS BIGINT)
         |    AS bal_cents_sum
         |FROM cur LEFT JOIN rk ON cur.key = rk.key
         |GROUP BY 1 ORDER BY cls""".stripMargin)
  }

  /** b96: METADATA-DRIVEN SELECTIVE FILE REWRITE — the c57→b94→action
    * loop closed: `CALL graftmem.system.rewrite_files(tbl,
    * min_dead_bp)` folds ONLY the files whose dead fraction clears
    * the threshold (planned from the ledger b94 serves — never a data
    * scan), the real Iceberg `rewrite_data_files` economics where b82's
    * full compaction is the blunt instrument: at 100 TB you pay
    * rewrite I/O for exactly the files that earn it, on a schedule
    * driven by the same `__files` read an operator audits. Victims'
    * live rows move to ONE new file with NEW positions — the honest
    * contract (positions are file-physical and change under rewrite;
    * b95's `_row_id` is the stable identity, carried over with its
    * last-updated version untouched: maintenance is not an update) —
    * while healthy files, their stats and their remaining tombstones
    * are untouched byte-for-byte. The demo appends the snapshot
    * (file 1), deletes 2-in-10 keys (20% dead), appends a re-keyed
    * clean generation (file 2, 0% dead), rewrites at a 10% threshold,
    * and declares the `__files` trajectory: phase 0 shows the skewed
    * dead ratios, phase 1 shows file 2 IDENTICAL and file 1 replaced
    * by a fully-live rewrite. Content invariance and lineage
    * preservation are spec-proven; the feed never sees the rewrite
    * (maintenance is invisible to history).
    */
  private def b96(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    val tbl = graft.util.DemoTables.freshGraftmem(s, d, "rwf",
      "(key BIGINT, bal_cents BIGINT) " +
        "TBLPROPERTIES ('graft.row_level' = 'merge-on-read')")
    accounts(s, d).writeTo(tbl).append() // v1 → file 1
    s.sql(s"DELETE FROM $tbl WHERE key % 10 IN (3, 7)") // v2: 20% dead
    customer(s, d).createOrReplaceTempView("g_cust_b96")
    s.sql(
      """SELECT c_custkey
        |    + (SELECT max(c_custkey) + 1 FROM g_cust_b96) AS key,
        |  CAST(floor(c_acctbal * 100) AS BIGINT) + 777 AS bal_cents
        |FROM g_cust_b96""".stripMargin)
      .writeTo(tbl).append() // v3 → file 2, fully live
    val cols = Seq("file_id", "commit_version", "pos_min", "pos_max",
      "rows_written", "live_rows", "deleted_rows", "min_key", "max_key")
    def grab(phase: Long): Seq[org.apache.spark.sql.Row] =
      s.table(s"${tbl}__files")
        .select(lit(phase).as("phase") +: cols.map(col): _*)
        .collect().toSeq // ledger-sized, the A9 class
    val pre = grab(0L)
    s.sql(s"CALL graftmem.system.rewrite_files(" +
      s"'${tbl.stripPrefix("graftmem.")}', 1000L)").collect()
    val post = grab(1L)
    val schema = StructType(
      StructField("phase", LongType, nullable = false) +:
        cols.map(StructField(_, LongType, nullable = false)))
    import scala.jdk.CollectionConverters._
    s.createDataFrame((pre ++ post).asJava, schema)
      .orderBy("phase", "file_id")
  }

  /** b97: METADATA-ONLY DELETE — `SupportsDeleteV2`, the last cell of
    * the row-level matrix: a `DELETE WHERE` constraining ONLY the
    * partition column executes as a GROUP DROP through
    * `DeleteFromTableExec` (Spark's
    * `OptimizeMetadataOnlyDeleteFromTable` converts the analyzed
    * row-level plan back once the connector accepts) — no scan, no
    * rewrite, no row moves: the Iceberg partition-predicate metadata
    * delete, which at 100 TB is the difference between dropping a
    * day's partition in milliseconds of manifest work and rewriting a
    * terabyte to remove it. A predicate touching a DATA column
    * declines and the engine keeps the copy-on-write ReplaceData
    * rewrite — both paths run in this demo: `DELETE WHERE g IN (2, 4)`
    * drops two groups by metadata, `DELETE WHERE bal_cents < 0`
    * rewrites the survivors row-level (the spec plan-asserts each
    * path and the unpartitioned/declined contrast). Both are
    * versioned commits: the drop stamps its groups (in-flight
    * rewrites conflict loudly) and stays time-travelable.
    */
  private def b97(s: SparkSession, d: String): DataFrame = {
    val tbl = graft.util.DemoTables.freshGraftmem(s, d, "mdel",
      "(key BIGINT, g BIGINT, bal_cents BIGINT) PARTITIONED BY (g)")
    accounts(s, d, "c_custkey % 8 AS g").writeTo(tbl).append() // v1
    s.sql(s"DELETE FROM $tbl WHERE g IN (2, 4)") // v2: metadata-only
    s.sql(s"DELETE FROM $tbl WHERE bal_cents < 0") // v3: row-level
    s.sql(
      s"""SELECT g, count(*) AS n,
         |  CAST(sum(CAST(bal_cents AS DECIMAL(38,0))) AS BIGINT)
         |    AS bal_cents_sum
         |FROM $tbl GROUP BY g ORDER BY g""".stripMargin)
  }

  /** b98: CHANGE-LOG RETENTION — `CALL graftmem.system
    * .expire_changelog(tbl, from_version)`, the governed bound on
    * b83's documented demo limitation ("the log grows with total
    * changes over the table's lifetime"): feed history below the
    * version prunes away, LOGICAL stream offsets stay stable (the
    * retained log keeps a pruned-prefix base, so a checkpointed
    * consumer ahead of the cut resumes untouched — the offsets are
    * positions in the ORIGINAL log, never re-meanings), and any read
    * reaching below the floor fails LOUDLY instead of silently
    * serving partial history (the Delta log-retention / expired-
    * incremental-read contract; a consumer retention outran must
    * reprocess from a snapshot). The demo runs the standard lifecycle
    * (append v1 → CDC MERGE v2 → follow-up v3), expires history below
    * v3, and declares the feed read at `startingVersion = 3` — d27's
    * oracle VERBATIM: d27 surfaces exactly the v3 change set by
    * CHOOSING not to read below the boundary, b98 because the history
    * below it NO LONGER EXISTS — same answer through both paths is
    * the cross-check. Table content, version and snapshots are
    * untouched (retention is feed maintenance, not a commit —
    * spec-proven), and at 100 TB this is what keeps a year-old CDC
    * table's log O(retention window), not O(lifetime).
    */
  private def b98(s: SparkSession, d: String): DataFrame = {
    val tbl = graft.util.DemoTables.freshGraftmem(s, d, "morret",
      "(key BIGINT, bal_cents BIGINT) " +
        "TBLPROPERTIES ('graft.row_level' = 'merge-on-read')")
    accounts(s, d).writeTo(tbl).append() // v1
    runCdcMergeRound(s, d, "b98", tbl) // v2
    runFollowupMergeRound(s, tbl) // v3
    s.sql(s"CALL graftmem.system.expire_changelog(" +
      s"'${tbl.stripPrefix("graftmem.")}', 3L)").collect()
    s.read.option("startingVersion", "3").table(s"${tbl}__changes")
      .groupBy(col("_commit_version"), col("_change_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("bal_cents").cast("decimal(38,0)")).cast("long")
          .as("bal_cents_sum"))
      .orderBy("_commit_version", "_change_type")
  }

  /** b99: CONNECTOR STATISTICS ON THE LAKEHOUSE TABLES —
    * `SupportsReportStatistics` on both graftmem scan flavors (exact
    * live row counts from the pinned snapshot; a real format serves
    * them from manifest row counts minus delete-file counts): without
    * the report a DSv2 relation defaults to sizeInBytes = Long.Max —
    * "never broadcast-able at PLAN time" — so a 25-row catalog
    * dimension joined against a parquet fact plans a full SHUFFLE
    * join until AQE rescues it at runtime; with it the planner picks
    * the broadcast on the FIRST execution, no hint, no runtime probe
    * (a38/a41 proved this contract on the read-only generator; b99
    * puts it on the WRITABLE catalog tables, where every lakehouse
    * dim lives). The demo loads nation into a graftmem dimension and
    * joins the customer parquet fact against it — the spec asserts
    * the pre-AQE plan is a hint-free BroadcastHashJoin and that both
    * flavors' scans report exact live counts (MoR: after deltas).
    * At 100 TB stats ARE the broadcast-vs-shuffle decision: a missed
    * 25-row broadcast shuffles the whole fact.
    */
  private def b99(s: SparkSession, d: String): DataFrame = {
    val tbl = graft.util.DemoTables.freshGraftmem(s, d, "dimstat",
      "(nkey BIGINT, rkey BIGINT)")
    nation(s, d)
      .selectExpr("CAST(n_nationkey AS BIGINT) AS nkey",
        "CAST(n_regionkey AS BIGINT) AS rkey")
      .writeTo(tbl).append()
    customer(s, d)
      .join(s.table(tbl), col("c_nationkey") === col("nkey"))
      .groupBy("rkey")
      .agg(count(lit(1)).as("n"),
        sum(floor(col("c_acctbal") * 100).cast("long")
          .cast("decimal(38,0)")).cast("long").as("bal_cents_sum"))
      .orderBy("rkey")
  }

  /** b100: MERGE `WHEN NOT MATCHED BY SOURCE` — the full-table-SYNC
    * face that completes the MERGE matrix (b75 covered MATCHED
    * UPDATE/DELETE + NOT MATCHED INSERT): rows present in the TARGET
    * but absent from the SOURCE are retired (DELETE) or marked
    * (UPDATE) in the SAME atomic commit as the upserts — the shape
    * every CDC pipeline needs once sources can SHRINK (a vanished
    * source row must retire its target row; without the clause that
    * is a second, non-atomic anti-join DELETE commit, and a reader
    * between the two commits sees a state that never existed
    * upstream). Spark plans the three-way row census with a FULL
    * OUTER join feeding the same MergeRows + group-replacing
    * ReplaceData write as b75 — no new write machinery, the clause is
    * pure plan surface (spec-asserted: ReplaceData executes and the
    * connector sees one commit). Demo: target = the customer
    * snapshot; source = the "current upstream" where residues 0–4
    * survive with +10000 balances and fresh keys arrive past max —
    * so residues 5–9 are NOT MATCHED BY SOURCE: 7s retire (DELETE),
    * the rest are stamped +1 (UPDATE), both conditions evaluated in
    * clause order. Declared output: the post-sync census by key
    * mod 10 (residue 7 absent — the retired class), recomputed by the
    * oracle with an explicit FULL OUTER join. At 100 TB the sync is
    * one shuffle-join pass + a rewrite of touched groups, vs two full
    * passes and a consistency window for the two-commit workaround.
    */
  private def b100(s: SparkSession, d: String): DataFrame = {
    val tbl = graft.util.DemoTables.freshGraftmem(s, d, "sync",
      "(key BIGINT, bal_cents BIGINT)")
    accounts(s, d).writeTo(tbl).append()
    customer(s, d).createOrReplaceTempView("g_cust_b100")
    s.sql(
      """SELECT key, bal_cents + 10000 AS nb
        |FROM (SELECT c_custkey AS key,
        |        CAST(floor(c_acctbal * 100) AS BIGINT) AS bal_cents
        |      FROM g_cust_b100) WHERE key % 10 <= 4
        |UNION ALL
        |SELECT c_custkey + (SELECT max(c_custkey) + 1 FROM g_cust_b100),
        |       CAST(floor(c_acctbal * 100) AS BIGINT)
        |FROM g_cust_b100 WHERE c_custkey % 100 = 0""".stripMargin)
      .createOrReplaceTempView("g_src_b100")
    s.sql(
      s"""MERGE INTO $tbl t USING g_src_b100 b ON t.key = b.key
         |WHEN MATCHED THEN UPDATE SET bal_cents = b.nb
         |WHEN NOT MATCHED THEN INSERT (key, bal_cents)
         |  VALUES (b.key, b.nb)
         |WHEN NOT MATCHED BY SOURCE AND t.key % 10 = 7 THEN DELETE
         |WHEN NOT MATCHED BY SOURCE THEN UPDATE
         |  SET bal_cents = bal_cents + 1""".stripMargin)
    keyModSummary(s, tbl)
  }

  /** b101: SCHEMA EVOLUTION BEYOND ADD — RENAME COLUMN, DROP COLUMN
    * and INT→BIGINT TYPE WIDENING as METADATA-ONLY commits on the
    * copy-on-write flavor, through a stable physical-slot column map
    * ([[graft.sources.GraftColMap]] — the Iceberg field-id / Delta
    * column-mapping shape in miniature): a rename moves no slot, a
    * drop orphans its slot FOREVER (a later ADD gets a fresh one, so
    * dropped data can never resurrect under a new column — the
    * classic slot-reuse corruption), and a widen leaves old narrow
    * cells in place with reads coercing up through the widened-slot
    * set. Zero data passes across the whole lifecycle (spec-proven by
    * row-vector object identity across each DDL). The demo runs the
    * full gauntlet: append the customer snapshot → ADD (cnt INT
    * DEFAULT 7, scratch BIGINT DEFAULT 1) → append generation 1 with
    * INT counts → WIDEN cnt to BIGINT → append generation 2 with
    * counts beyond Int range (storable only because the widen landed)
    * → RENAME bal→balance → DROP scratch → append generation 3
    * through the final shape. Declared output: the per-generation
    * census at TWO points — `VERSION AS OF` the pre-evolution commit
    * (old names, INT cnt, scratch alive: time travel serves the OLD
    * shape) and the current table (balance/cnt-as-long, scratch gone,
    * declared -1) — every generation's rows served through whatever
    * projection their write-time shape needs. At 100 TB each DDL here
    * is one metadata commit where a naive engine rewrites the table;
    * old files are never touched, exactly Iceberg's contract.
    */
  private def b101(s: SparkSession, d: String): DataFrame = {
    val tbl = graft.util.DemoTables.freshGraftmem(s, d, "sevol",
      "(key BIGINT, bal BIGINT)")
    val cust = customer(s, d)
      .selectExpr("c_custkey AS key",
        "CAST(floor(c_acctbal * 100) AS BIGINT) AS bal")
    cust.writeTo(tbl).append() // v1: 2-col rows
    // bounded 1-row agg (the A9 class): the re-keying offset (empty
    // corpus → 1, every generation filter then selects nothing)
    val off = cust.agg(coalesce(max(col("key")), lit(0L)))
      .head().getLong(0) + 1L
    s.sql(s"ALTER TABLE $tbl ADD COLUMNS (" +
      "cnt INT DEFAULT 7, scratch BIGINT DEFAULT 1)") // v2, v3
    cust.filter(col("key") % 10 === 0)
      .select((col("key") + off).as("key"), col("bal"),
        (col("key") % 100).cast("int").as("cnt"),
        lit(2L).as("scratch"))
      .writeTo(tbl).append() // v4: gen 1, INT counts
    s.sql(s"ALTER TABLE $tbl ALTER COLUMN cnt TYPE BIGINT") // v5
    cust.filter(col("key") % 100 === 0)
      .select((col("key") + 2L * off).as("key"), col("bal"),
        (lit(1L << 40) + col("key") % 7).as("cnt"),
        lit(3L).as("scratch"))
      .writeTo(tbl).append() // v6: gen 2, counts beyond Int range
    s.sql(s"ALTER TABLE $tbl RENAME COLUMN bal TO balance") // v7
    s.sql(s"ALTER TABLE $tbl DROP COLUMN scratch") // v8
    cust.filter(col("key") % 100 === 50)
      .select((col("key") + 3L * off).as("key"),
        col("bal").as("balance"), lit(5L).as("cnt"))
      .writeTo(tbl).append() // v9: gen 3, through the final shape
    // phase 0: time travel to v4 — the OLD shape (bal/INT cnt/scratch)
    val past = s.sql(
      s"""SELECT 0L AS phase, key DIV ${off}L AS gen, count(*) AS n,
         |  CAST(sum(CAST(bal AS DECIMAL(38,0))) AS BIGINT) AS bal_sum,
         |  CAST(sum(CAST(cnt AS DECIMAL(38,0))) AS BIGINT) AS cnt_sum,
         |  CAST(sum(CAST(scratch AS DECIMAL(38,0))) AS BIGINT)
         |    AS scratch_sum
         |FROM $tbl VERSION AS OF 4 GROUP BY gen""".stripMargin)
    // phase 1: the current shape (balance/cnt-as-long; scratch is
    // GONE — declared as the -1 sentinel, the drop is the claim)
    val now = s.sql(
      s"""SELECT 1L AS phase, key DIV ${off}L AS gen, count(*) AS n,
         |  CAST(sum(CAST(balance AS DECIMAL(38,0))) AS BIGINT) AS bal_sum,
         |  CAST(sum(CAST(cnt AS DECIMAL(38,0))) AS BIGINT) AS cnt_sum,
         |  -1L AS scratch_sum
         |FROM $tbl GROUP BY gen""".stripMargin)
    past.unionAll(now).orderBy("phase", "gen")
  }

  /** b102: SORT-STRATEGY REWRITE — `CALL graftmem.system.rewrite_sort
    * (tbl, n_files)`, the Iceberg sort/z-order `rewrite_data_files`
    * strategy next to b96's dead-ratio bin-pack: b96 reclaims space
    * (victims by dead fraction), this restores LAYOUT — the live set
    * re-sorted by the lead column lands as n_files files whose
    * write-time (min_key, max_key) stats are TIGHT and DISJOINT. The
    * demo constructs the pathological layout interleaved ingestion
    * always produces: four appends, one per key residue class mod 4,
    * so every ledger file spans the ENTIRE key domain (every file
    * overlaps every other — min/max skipping prunes nothing), then
    * rewrites sorted into four files that each own one contiguous key
    * slice. Declared output: the full `__files` trajectory, phase 0
    * (wide overlapping ranges) → phase 1 (tight disjoint ranges) —
    * the b94 metadata read showing the maintenance action did exactly
    * what the a34/a39/a44 range-skipping layer needs. Content
    * invariance and b95 lineage preservation are spec-asserted (the
    * same contracts as b96: maintenance moves bytes, never truth).
    * At 100 TB this is the scheduled re-cluster that keeps scan
    * pruning effective as interleaved ingest fragments the key space
    * — I/O proportional to the files rewritten, planned FROM the
    * ledger's overlap statistics, never a data scan.
    */
  private def b102(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    val tbl = graft.util.DemoTables.freshGraftmem(s, d, "sortrw",
      "(key BIGINT, bal_cents BIGINT) " +
        "TBLPROPERTIES ('graft.row_level' = 'merge-on-read')")
    val cust = accounts(s, d)
    // interleaved ingestion: one append per residue class — every
    // file spans the whole key domain (v1..v4, files 1..4)
    (0 until 4).foreach(i =>
      cust.filter(col("key") % 4 === i).writeTo(tbl).append())
    val cols = Seq("file_id", "commit_version", "pos_min", "pos_max",
      "rows_written", "live_rows", "min_key", "max_key")
    // materialize each phase eagerly (DSv2 scans pin state at
    // physical planning — b94's discipline)
    def grab(phase: Long): Seq[org.apache.spark.sql.Row] =
      s.table(s"${tbl}__files")
        .select(lit(phase).as("phase") +: cols.map(col): _*)
        .collect().toSeq
    val pre = grab(0L)
    s.sql(s"CALL graftmem.system.rewrite_sort(" +
      s"'${tbl.stripPrefix("graftmem.")}', 4)").collect()
    val post = grab(1L)
    val schema = StructType(
      StructField("phase", LongType, nullable = false) +:
        cols.map(StructField(_, LongType, nullable = false)))
    import scala.jdk.CollectionConverters._
    s.createDataFrame((pre ++ post).asJava, schema)
      .orderBy("phase", "file_id")
  }

  /** b103: PARTITION EVOLUTION — `CALL graftmem.system.set_partition
    * (tbl, col)` evolves an UNPARTITIONED table to identity
    * partitioning as ONE metadata commit (the Iceberg
    * partition-evolution contract): rows written before keep their
    * LEGACY (unpartitioned) generation — nothing is rewritten, the
    * spec-tag move is per-file metadata — while new writes land under
    * the new transform, and ONE scan serves both generations (each
    * group its own split, the legacy generation one split). The
    * engine's partition surfaces follow the current spec (SHOW
    * PARTITIONS lists only current-spec groups — legacy rows have no
    * partition identifier, exactly Iceberg's old-spec files), the
    * `__partitions` operational read reports BOTH (an operator must
    * see the legacy generation to know migration is pending), and
    * b97's metadata-only DELETE DECLINES while legacy rows exist (a
    * partition predicate says nothing about them by metadata —
    * pushback, never a semantics change). MIGRATION IS A REWRITE: a
    * row-level operation that touches the legacy generation re-lands
    * its rows under the current spec (rewritten files get the new
    * spec — Iceberg's rule), so ordinary table maintenance gradually
    * migrates old data with zero dedicated jobs. Demo: gen 0 (the
    * customer snapshot, unpartitioned) → evolve on g = key mod 5 →
    * gen 1 lands partitioned → UPDATE WHERE g = 2 touches gen 1's
    * group 2 AND the legacy generation (its g=2 rows match), which
    * migrates ALL legacy rows into g-groups. Declared output: the
    * `__partitions` trajectory (phase 0: five gen-1 groups + the
    * legacy generation under its sentinel key; phase 1: five merged
    * groups, legacy gone) plus the final per-g census. At 100 TB
    * partition evolution is the difference between re-partitioning a
    * year of data and a metadata commit that only future writes obey.
    */
  private def b103(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    val tbl = graft.util.DemoTables.freshGraftmem(s, d, "pevol",
      "(key BIGINT, g BIGINT, bal_cents BIGINT)")
    val cust = accounts(s, d, "c_custkey % 5 AS g")
    cust.writeTo(tbl).append() // v1: the legacy (unpartitioned) gen
    val off = cust.agg(coalesce(max(col("key")), lit(0L)))
      .head().getLong(0) + 1L
    s.sql(s"CALL graftmem.system.set_partition(" +
      s"'${tbl.stripPrefix("graftmem.")}', 'g')").collect() // v2
    cust.select((col("key") + off).as("key"), col("g"),
      (col("bal_cents") + 100000L).as("bal_cents"))
      .writeTo(tbl).append() // v3: gen 1, lands under identity(g)
    val cols = Seq("phase", "g", "n", "ver", "bal_sum")
    def parts(phase: Long): Seq[org.apache.spark.sql.Row] =
      s.table(s"${tbl}__partitions")
        .select(lit(phase).as("phase"), col("group_key").as("g"),
          col("row_count").as("n"),
          col("last_modified_version").as("ver"),
          lit(-1L).as("bal_sum"))
        .collect().toSeq
    val p0 = parts(0L) // legacy + the five gen-1 groups
    s.sql(s"UPDATE $tbl SET bal_cents = bal_cents + 7 WHERE g = 2") // v4
    val p1 = parts(1L) // legacy migrated: five merged groups
    val census = s.sql(
      s"""SELECT 2L AS phase, g, count(*) AS n, -1L AS ver,
         |  CAST(sum(CAST(bal_cents AS DECIMAL(38,0))) AS BIGINT)
         |    AS bal_sum
         |FROM $tbl GROUP BY g""".stripMargin).collect().toSeq
    val schema = StructType(
      cols.map(StructField(_, LongType, nullable = false)))
    import scala.jdk.CollectionConverters._
    s.createDataFrame((p0 ++ p1 ++ census).asJava, schema)
      .orderBy("phase", "g")
  }

  /** b104: ROLLBACK / RESTORE — `CALL graftmem.system.rollback(tbl,
    * v)`, the Delta `RESTORE TABLE ... VERSION AS OF` / Iceberg
    * `rollback_to_snapshot` face: the ops answer to a bad batch. The
    * table's CURRENT state moves back to a retained snapshot's —
    * rows, schema, defaults, column map, everything the snapshot pins
    * — as ONE NEW COMMIT, and history is PRESERVED: the bad commits
    * stay time-travelable, the restore is a version in `__history`,
    * never an erasure (auditability is the difference between RESTORE
    * and a table rewrite). O(1) data movement — the snapshot's
    * immutable row vector swaps in by reference, exactly as a real
    * format's restore commits a new manifest list pointing at the OLD
    * data files (spec-proven by object identity). Demo: v1 = the
    * customer snapshot (good) → v2 = the CDC round (the "bad batch")
    * → v3 = a DELETE making it worse → rollback to 1 (= v4).
    * Declared output: phase 0 = the current head (must equal the v1
    * snapshot exactly — the restore's claim), phase 1 = `VERSION AS
    * OF 3` (the bad state, still readable — the preservation claim).
    * At 100 TB a restore is one metadata commit vs re-ingesting the
    * good state; the expired-version and cross-partition-evolution
    * refusals are loud (spec-pinned).
    */
  private def b104(s: SparkSession, d: String): DataFrame = {
    val tbl = graft.util.DemoTables.freshGraftmem(s, d, "restore",
      "(key BIGINT, bal_cents BIGINT)")
    accounts(s, d).writeTo(tbl).append() // v1: the good snapshot
    runCdcMergeRound(s, d, "b104", tbl) // v2: the bad batch
    s.sql(s"DELETE FROM $tbl WHERE key % 10 = 1") // v3: worse
    s.sql(s"CALL graftmem.system.rollback(" +
      s"'${tbl.stripPrefix("graftmem.")}', 1)").collect() // v4 = v1
    val now = s.sql(
      s"""SELECT 0L AS phase, key % 10 AS key_mod, count(*) AS n,
         |  CAST(sum(CAST(bal_cents AS DECIMAL(38,0))) AS BIGINT)
         |    AS bal_cents_sum
         |FROM $tbl GROUP BY key % 10""".stripMargin)
    val past = s.sql(
      s"""SELECT 1L AS phase, key % 10 AS key_mod, count(*) AS n,
         |  CAST(sum(CAST(bal_cents AS DECIMAL(38,0))) AS BIGINT)
         |    AS bal_cents_sum
         |FROM $tbl VERSION AS OF 3 GROUP BY key % 10""".stripMargin)
    now.unionAll(past).orderBy("phase", "key_mod")
  }

  /** b105: SHALLOW CLONE — `CALL graftmem.system.clone_table(src,
    * dst)`, the Delta `CREATE TABLE ... CLONE` face: a NEW table
    * whose version-1 content is the source's current snapshot BY
    * REFERENCE — ZERO data copied (shared immutable vectors, the
    * in-memory analogue of a fresh transaction log whose manifests
    * point at the source's existing data files; spec-proven by object
    * identity) — after which the two tables evolve INDEPENDENTLY:
    * that independence is the product (dev/test forks of production
    * data, stable reporting snapshots, migration staging — all
    * without 2× storage). Demo: clone the customer snapshot, then
    * diverge BOTH ways — the CDC round lands on the CLONE only, a
    * re-keyed append lands on the SOURCE only. Declared output:
    * phase 0 = the source census (snapshot + the source-only append,
    * NO trace of the clone's merge), phase 1 = the clone census (the
    * post-merge state, NO trace of the source's append) — divergence
    * proven in both directions from one result set. At 100 TB a
    * clone is one metadata commit; storage grows only with the
    * DELTA either side writes after it.
    */
  private def b105(s: SparkSession, d: String): DataFrame = {
    val src = graft.util.DemoTables.freshGraftmem(s, d, "clsrc",
      "(key BIGINT, bal_cents BIGINT)")
    val dst = src.replace("clsrc_", "cldst_")
    s.sql(s"DROP TABLE IF EXISTS $dst")
    val cust = accounts(s, d)
    cust.writeTo(src).append() // src v1
    s.sql(s"CALL graftmem.system.clone_table(" +
      s"'${src.stripPrefix("graftmem.")}', " +
      s"'${dst.stripPrefix("graftmem.")}')").collect()
    // diverge: the CDC round lands on the CLONE only…
    runCdcMergeRound(s, d, "b105", dst)
    // …and a re-keyed append lands on the SOURCE only
    val off = cust.agg(coalesce(max(col("key")), lit(0L)))
      .head().getLong(0) + 1L
    cust.filter(col("key") % 100 === 50)
      .select((col("key") + off).as("key"),
        (col("bal_cents") + 123L).as("bal_cents"))
      .writeTo(src).append()
    // phase 2: a VERSIONED clone (the `CLONE ... VERSION AS OF`
    // face) — src at version 1, BEFORE its own append: the clone's
    // content is the plain snapshot, untouched by either divergence
    val dstV = src.replace("clsrc_", "clver_")
    s.sql(s"DROP TABLE IF EXISTS $dstV")
    s.sql(s"CALL graftmem.system.clone_table(" +
      s"'${src.stripPrefix("graftmem.")}', " +
      s"'${dstV.stripPrefix("graftmem.")}', 1)").collect()
    val srcNow = s.sql(
      s"""SELECT 0L AS phase, key % 10 AS key_mod, count(*) AS n,
         |  CAST(sum(CAST(bal_cents AS DECIMAL(38,0))) AS BIGINT)
         |    AS bal_cents_sum
         |FROM $src GROUP BY key % 10""".stripMargin)
    val dstNow = s.sql(
      s"""SELECT 1L AS phase, key % 10 AS key_mod, count(*) AS n,
         |  CAST(sum(CAST(bal_cents AS DECIMAL(38,0))) AS BIGINT)
         |    AS bal_cents_sum
         |FROM $dst GROUP BY key % 10""".stripMargin)
    val dstVer = s.sql(
      s"""SELECT 2L AS phase, key % 10 AS key_mod, count(*) AS n,
         |  CAST(sum(CAST(bal_cents AS DECIMAL(38,0))) AS BIGINT)
         |    AS bal_cents_sum
         |FROM $dstV GROUP BY key % 10""".stripMargin)
    srcNow.unionAll(dstNow).unionAll(dstVer)
      .orderBy("phase", "key_mod")
  }

  /** b106: MERGE WITH SCHEMA EVOLUTION — the auto-evolving upsert
    * (Delta's `withSchemaEvolution` contract, Spark-4 native syntax):
    * the SOURCE carries a column the TARGET lacks (`seg`), and the
    * ENGINE evolves the target mid-statement — the analyzer computes
    * the missing columns (`MergeIntoTable.changesForSchemaEvolution`),
    * calls the catalog's `alterTable` with the AddColumn changes
    * (b85's metadata-only commit — zero data movement), reloads the
    * relation and plans the MERGE against the evolved shape; UPDATE
    * SET * / INSERT * then cover the new column. Pre-merge rows that
    * the MERGE never touches surface `seg` as its initial default
    * (0 — b85's typed-zero contract), matched rows take the source's
    * value, inserts land complete. One statement, two commits (the
    * DDL, then the atomic rewrite), no pipeline changes when an
    * upstream producer adds a field — THE schema-drift story every
    * long-lived ingest pipeline needs. Declared output: the per-seg
    * census (untouched rows under seg 0 with their original balances,
    * the +10000 updates and the re-keyed inserts under their source
    * segs). At 100 TB the alternative is a coordinated stop-the-world
    * ALTER across every writer; here drift is absorbed per statement.
    */
  private def b106(s: SparkSession, d: String): DataFrame = {
    val tbl = graft.util.DemoTables.freshGraftmem(s, d, "mevol",
      "(key BIGINT, bal_cents BIGINT)")
    accounts(s, d).writeTo(tbl).append()
    customer(s, d).createOrReplaceTempView("g_cust_b106")
    // the source's shape DRIFTED: it now carries seg
    s.sql(
      """SELECT c_custkey AS key,
        |  CAST(floor(c_acctbal * 100) AS BIGINT) + 10000 AS bal_cents,
        |  CAST(c_nationkey % 4 AS BIGINT) AS seg
        |FROM g_cust_b106 WHERE c_custkey % 10 = 3
        |UNION ALL
        |SELECT c_custkey + (SELECT max(c_custkey) + 1 FROM g_cust_b106),
        |  CAST(floor(c_acctbal * 100) AS BIGINT),
        |  CAST(c_nationkey % 4 AS BIGINT)
        |FROM g_cust_b106 WHERE c_custkey % 100 = 0""".stripMargin)
      .createOrReplaceTempView("g_src_b106")
    s.sql(
      s"""MERGE WITH SCHEMA EVOLUTION INTO $tbl t
         |USING g_src_b106 b ON t.key = b.key
         |WHEN MATCHED THEN UPDATE SET *
         |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    s.sql(
      s"""SELECT seg, count(*) AS n,
         |  CAST(sum(CAST(bal_cents AS DECIMAL(38,0))) AS BIGINT)
         |    AS bal_cents_sum
         |FROM $tbl GROUP BY seg ORDER BY seg""".stripMargin)
  }

  /** b107: EXECUTE IMMEDIATE + PARAMETERIZED SQL — dynamic SQL as a
    * first-class, INJECTION-SAFE surface (Spark 4 native): query text
    * composed at runtime executes with its parameters BOUND, never
    * string-spliced — `EXECUTE IMMEDIATE '<text>' USING <v> AS name`
    * (the SQL-scripting face, b72's interpreter sibling) and the
    * session API `spark.sql(text, args)` (named parameter markers,
    * the programmatic face). Both paths plan the SAME declarative
    * query — parameters reach Catalyst as literals BEFORE
    * optimization, so pushdown/pruning/constant folding all see them
    * (a spliced string would too, but un-escaped; a PreparedStatement
    * analogue that hid the literal from the optimizer would lose the
    * pushdown — this surface gives both safety AND the plan).
    * Declared output: the same flag census under two different bound
    * thresholds, one per path — phase 0 via EXECUTE IMMEDIATE, phase
    * 1 via sql(text, args). At 100 TB parameterized dynamic SQL is
    * how orchestration composes per-partition/per-tenant queries
    * without one bespoke string build per run.
    */
  private def b107(s: SparkSession, d: String): DataFrame = {
    lineitem(s, d).createOrReplaceTempView("g_li_b107")
    // runtime-composed text; no quotes inside, so it embeds verbatim
    val text = "SELECT l_returnflag AS flag, count(*) AS n, " +
      "CAST(sum(CAST(floor(l_extendedprice * 100) AS BIGINT)) " +
      "AS DECIMAL(38,0)) AS cents FROM g_li_b107 " +
      "WHERE l_quantity >= :qmin GROUP BY l_returnflag"
    val p0 = s.sql(s"EXECUTE IMMEDIATE '$text' USING 25 AS qmin")
      .selectExpr("0L AS phase", "flag",
        "n", "CAST(cents AS BIGINT) AS cents_sum")
    val p1 = s.sql(text, Map("qmin" -> 40))
      .selectExpr("1L AS phase", "flag",
        "n", "CAST(cents AS BIGINT) AS cents_sum")
    p0.unionAll(p1).orderBy("phase", "flag")
  }

  /** b108: TABLE-VALUED FUNCTION — `SELECT ... FROM graft_pairs(n)`,
    * a SQL function that RETURNS A RELATION, resolved through the
    * session TableFunctionRegistry / `injectTableFunction` (the last
    * cell of the custom-Catalyst matrix, §7.3: scalar Expression,
    * Aggregate, Plan+Strategy+Rule, DSv2 source+sink — and now a
    * relation-producing function). The expansion is a LOGICAL PLAN
    * (catalyst Range + a Project of built-in expressions computing
    * the pairgen content contract), NOT a table-returning UDF — so
    * the optimizer sees through it: the query's id filter lands ON
    * the Range, the md5 projection rides whole-stage codegen, and
    * EXPLAIN shows ordinary operators end to end (spec-asserted: no
    * UDF node, Range in the plan, non-literal arguments rejected
    * loudly at resolution). Declared output: the first-hex-char
    * census of the generated pairs under a WHERE — a44's shape
    * through the TVF surface, so the oracle twin is the same
    * range()+md5 recompute. At 100 TB a TVF is how parameterized
    * synthetic relations (calendars, number spines, test harnesses)
    * stay inside the optimizer instead of becoming opaque UDF scans.
    */
  private def b108(s: SparkSession, d: String): DataFrame = {
    graft.functions.GraftFunctions.register(s)
    s.sql(
      """SELECT substr(value, 1, 1) AS b, count(*) AS n,
        |  min(id) AS min_id, max(id) AS max_id, min(value) AS min_md5
        |FROM graft_pairs(100000) WHERE id >= 1000
        |GROUP BY substr(value, 1, 1) ORDER BY b""".stripMargin)
  }

  /** b109: INCREMENTAL AGGREGATE MAINTENANCE (IVM) — a downstream
    * aggregate kept current from the CHANGE FEED instead of
    * recomputed from the table: the materialized-view story every
    * warehouse eventually needs, built from pieces this engine
    * already ships (b83's `__changes` with preimage deletes, d27's
    * `startingVersion`, b75's MERGE). One full pass SEEDS the
    * per-group (n, bal_sum) aggregate; after that, each maintenance
    * step reads ONLY the commits since its last checkpoint
    * (`startingVersion` = lastApplied+1 — O(changes), never O(table)),
    * folds them to one signed delta row per group (insert → +bal/+1,
    * delete → −bal/−1; an update's delete+insert pair cancels to its
    * true delta BEFORE the merge — the feed's preimages are what make
    * decrements possible at all), and lands it as ONE arithmetic
    * MERGE: matched groups add the delta, a group counting down to
    * zero is DELETED (never left as a ghost row), unseen groups
    * insert. Declared output: the maintained aggregate after each of
    * two maintenance rounds — and the oracle recomputes BOTH censuses
    * from scratch, so the incremental path must equal the full
    * recompute at every step, including the retired residue-7 class.
    * At 100 TB this is the difference between an hourly full
    * aggregation of the table and a MERGE of one delta row per
    * touched group per hop.
    */
  private def b109(s: SparkSession, d: String): DataFrame = {
    val base = graft.util.DemoTables.freshGraftmem(s, d, "ivmbase",
      "(key BIGINT, bal_cents BIGINT) " +
        "TBLPROPERTIES ('graft.row_level' = 'merge-on-read')")
    val agg = graft.util.DemoTables.freshGraftmem(s, d, "ivmagg",
      "(grp BIGINT, n BIGINT, bal_sum BIGINT)")
    accounts(s, d).writeTo(base).append() // v1: the seed snapshot
    // the ONE full pass: seed the aggregate from the v1 state
    s.sql(s"INSERT INTO $agg SELECT key % 10, count(*), " +
      s"CAST(sum(CAST(bal_cents AS DECIMAL(38,0))) AS BIGINT) " +
      s"FROM $base GROUP BY key % 10")
    def maintain(fromVersion: Long): Unit = {
      s.read.option("startingVersion", fromVersion.toString)
        .table(s"${base}__changes")
        .createOrReplaceTempView("g_delta_b109")
      s.sql(
        s"""MERGE INTO $agg t USING (
           |  SELECT key % 10 AS grp,
           |    SUM(CASE WHEN _change_type = 'insert' THEN 1L
           |        ELSE -1L END) AS dn,
           |    SUM(CASE WHEN _change_type = 'insert' THEN bal_cents
           |        ELSE -bal_cents END) AS dbal
           |  FROM g_delta_b109 GROUP BY key % 10) c
           |ON t.grp = c.grp
           |WHEN MATCHED AND t.n + c.dn = 0L THEN DELETE
           |WHEN MATCHED THEN UPDATE
           |  SET n = t.n + c.dn, bal_sum = t.bal_sum + c.dbal
           |WHEN NOT MATCHED THEN INSERT (grp, n, bal_sum)
           |  VALUES (c.grp, c.dn, c.dbal)""".stripMargin)
      ()
    }
    def census(phase: Long): DataFrame =
      s.sql(s"SELECT ${phase}L AS phase, grp AS key_mod, n, " +
        s"bal_sum AS bal_cents_sum FROM $agg")
        .localCheckpoint(false) // pin this round's state eagerly
    runCdcMergeRound(s, d, "b109", base) // v2: the CDC batch
    maintain(2L)
    val p0 = census(0L)
    runFollowupMergeRound(s, base) // v3: the +5000 follow-up
    maintain(3L)
    val p1 = census(1L)
    p0.unionAll(p1).orderBy("phase", "key_mod")
  }

  /** The account seed of the graftmem lakehouse queries (b75–b109,
    * d26): one row per customer, `key` then any `extra` columns then
    * the balance in integer cents.
    */
  private[graft] def accounts(s: SparkSession, d: String,
      extra: String*): DataFrame =
    customer(s, d).selectExpr(("c_custkey AS key" +: extra) :+
      "CAST(floor(c_acctbal * 100) AS BIGINT) AS bal_cents": _*)

  /** The post-merge account summary by key mod 10 over `rel` (a table
    * name or a time-travel read); the sum accumulates in DECIMAL (b60
    * discipline).
    */
  private def keyModSummary(s: SparkSession, rel: String): DataFrame =
    s.sql(
      s"""SELECT key % 10 AS key_mod, count(*) AS n,
         |  CAST(sum(CAST(bal_cents AS DECIMAL(38,0))) AS BIGINT)
         |    AS bal_cents_sum
         |FROM $rel GROUP BY key % 10 ORDER BY key_mod""".stripMargin)

  /** THE CDC round every row-level demo shares (b75 CoW, b80 MoR, b82
    * compaction, b83 change feed, d26 streaming CDC): update keys ≡3
    * (mod 10) to bal+10000, delete keys ≡7, insert keys ≡0 (mod 100)
    * re-keyed past max. ONE definition — the queries exist to prove
    * the SAME change set lands identically through every write path,
    * and a drifted copy would silently break that cross-check (the
    * oracle side was already shared as [[mergeOracleSql]]).
    */
  private[graft] def runCdcMergeRound(s: SparkSession, d: String,
      tag: String, tbl: String): Unit = {
    customer(s, d).createOrReplaceTempView(s"g_cust_$tag")
    s.sql(
      s"""SELECT key, bal_cents + 10000 AS nb, 'U' AS op
         |FROM (SELECT c_custkey AS key,
         |        CAST(floor(c_acctbal * 100) AS BIGINT) AS bal_cents
         |      FROM g_cust_$tag) WHERE key % 10 = 3
         |UNION ALL
         |SELECT c_custkey, 0L, 'D' FROM g_cust_$tag
         |WHERE c_custkey % 10 = 7
         |UNION ALL
         |SELECT c_custkey + (SELECT max(c_custkey) + 1 FROM g_cust_$tag),
         |       CAST(floor(c_acctbal * 100) AS BIGINT), 'I'
         |FROM g_cust_$tag WHERE c_custkey % 100 = 0""".stripMargin)
      .createOrReplaceTempView(s"g_batch_$tag")
    s.sql(
      s"""MERGE INTO $tbl t USING g_batch_$tag b ON t.key = b.key
         |WHEN MATCHED AND b.op = 'U' THEN UPDATE SET bal_cents = b.nb
         |WHEN MATCHED AND b.op = 'D' THEN DELETE
         |WHEN NOT MATCHED THEN INSERT (key, bal_cents)
         |  VALUES (b.key, b.nb)""".stripMargin)
    ()
  }

  /** The shared SECOND round (b82, b83, d26): +5000 on the post-merge
    * keys ≡1 (mod 10), sourced from the table itself.
    */
  private[graft] def runFollowupMergeRound(
      s: SparkSession, tbl: String): Unit = {
    s.sql(
      s"""MERGE INTO $tbl t
         |USING (SELECT key FROM $tbl WHERE key % 10 = 1) b
         |ON t.key = b.key
         |WHEN MATCHED THEN UPDATE SET bal_cents = bal_cents + 5000
         |""".stripMargin)
    ()
  }

  /** Shared b82/b87 oracle: BOTH CDC rounds replayed (append → CDC
    * batch → +5000 follow-up) — b82 proves compaction invisible
    * between the rounds, b87 proves an engine-enforced CHECK gate
    * invisible around them.
    */
  private val twoRoundMergeOracleSql =
    "WITH snap AS (SELECT c_custkey AS key, floor(c_acctbal * 100)::BIGINT AS bal FROM customer), off AS (SELECT max(c_custkey) + 1 AS o FROM customer), batch AS (SELECT key, bal + 10000 AS nb, 'U' AS op FROM snap WHERE key % 10 = 3 UNION ALL SELECT key, 0, 'D' FROM snap WHERE key % 10 = 7 UNION ALL SELECT key + (SELECT o FROM off), bal, 'I' FROM snap WHERE key % 100 = 0), post AS (SELECT s.key, coalesce(CASE WHEN b.op = 'U' THEN b.nb END, s.bal) AS bal FROM snap s LEFT JOIN batch b ON s.key = b.key WHERE b.op IS NULL OR b.op <> 'D' UNION ALL SELECT key, nb FROM batch WHERE op = 'I'), post2 AS (SELECT key, bal + CASE WHEN key % 10 = 1 THEN 5000 ELSE 0 END AS bal FROM post) SELECT (key % 10)::BIGINT AS key_mod, count(*)::BIGINT AS n, sum(bal)::BIGINT AS bal_cents_sum FROM post2 GROUP BY 1 ORDER BY 1"

  /** Shared b75/b80 oracle: post-merge state recomputed with explicit
    * joins (b45's pattern). Both queries build the identical CDC batch
    * over customer, so the summary is write-path-invariant.
    */
  private val mergeOracleSql =
    "WITH snap AS (SELECT c_custkey AS key, floor(c_acctbal * 100)::BIGINT AS bal FROM customer), off AS (SELECT max(c_custkey) + 1 AS o FROM customer), batch AS (SELECT key, bal + 10000 AS nb, 'U' AS op FROM snap WHERE key % 10 = 3 UNION ALL SELECT key, 0, 'D' FROM snap WHERE key % 10 = 7 UNION ALL SELECT key + (SELECT o FROM off), bal, 'I' FROM snap WHERE key % 100 = 0), post AS (SELECT s.key, coalesce(CASE WHEN b.op = 'U' THEN b.nb END, s.bal) AS bal FROM snap s LEFT JOIN batch b ON s.key = b.key WHERE b.op IS NULL OR b.op <> 'D' UNION ALL SELECT key, nb FROM batch WHERE op = 'I') SELECT (key % 10)::BIGINT AS key_mod, count(*)::BIGINT AS n, sum(bal)::BIGINT AS bal_cents_sum FROM post GROUP BY 1 ORDER BY 1"

  val defs: Seq[QueryDef] = Seq(
    QueryDef("b79_catalog_aggregate", b79 _, Some(
      "WITH h AS (SELECT DISTINCT l_returnflag AS flag, ('0x' || substr(md5(l_partkey::VARCHAR), 1, 15))::BIGINT AS hv FROM lineitem), r AS (SELECT flag, hv, row_number() OVER (PARTITION BY flag ORDER BY hv) AS rn FROM h), e AS (SELECT flag, CASE WHEN max(rn) < 64 THEN max(rn) ELSE floor(63.0 * 1152921504606846976.0 / max(CASE WHEN rn = 64 THEN hv END))::BIGINT END AS est_dparts FROM r GROUP BY flag) SELECT e.flag AS l_returnflag, e.est_dparts, t.true_dparts FROM e JOIN (SELECT l_returnflag AS flag, count(DISTINCT l_partkey)::BIGINT AS true_dparts FROM lineitem GROUP BY 1) t ON e.flag = t.flag ORDER BY l_returnflag")),
    QueryDef("b78_hint_rebalance", b78 _, Some(
      "SELECT l_returnflag, count(*)::BIGINT AS n, sum(floor(l_extendedprice * 100)::BIGINT)::BIGINT AS cents_sum FROM lineitem GROUP BY 1 ORDER BY 1")),
    QueryDef("b77_merge_group_pruned", b77 _, Some(
      "WITH snap AS (SELECT c_custkey AS key, c_custkey % 5 AS g, floor(c_acctbal * 100)::BIGINT AS bal FROM customer), post AS (SELECT key, g, bal + CASE WHEN key % 50 = 2 THEN 10000 ELSE 0 END AS bal FROM snap) SELECT g::BIGINT AS g, count(*)::BIGINT AS n, sum(bal)::BIGINT AS bal_cents_sum FROM post GROUP BY 1 ORDER BY 1")),
    QueryDef("b76_function_catalog", b76 _, Some(
      "SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, round(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 4) AS sim FROM embeddings a JOIN embeddings b ON b.vec_id = a.vec_id + 1 ORDER BY vec_a")),
    QueryDef("b75_merge_into", b75 _, Some(mergeOracleSql)),
    // b80 recomputes the SAME post-merge state through the OTHER
    // row-level write path (WriteDelta vs ReplaceData) — one oracle,
    // two lakehouse write paths, equality is the cross-check.
    QueryDef("b80_merge_on_read", b80 _, Some(mergeOracleSql)),
    // b91 recomputes the SAME post-merge state through the THIRD
    // row-level write path (equality-delete WriteDelta) — one oracle,
    // three write paths, equality is the cross-check.
    QueryDef("b91_equality_delete", b91 _, Some(mergeOracleSql)),
    // b100's oracle recomputes the post-sync state with an explicit
    // FULL OUTER join — matched rows take the source balance,
    // source-only rows insert, target-only rows retire (residue 7) or
    // stamp +1; the retired class's ABSENCE from the census is the
    // point of the clause.
    // b101's oracle replays the whole evolution lifecycle as plain
    // relational math: phase 0 = the pre-evolution census (INT cnt,
    // scratch alive), phase 1 = the final census with the INT-era
    // cells upcast and generation 2's beyond-Int counts — values only
    // the widen makes storable; scratch's -1 marks the drop.
    QueryDef("b101_schema_evolution_rename_widen", b101 _, Some(
      "WITH snap AS (SELECT c_custkey AS key, floor(c_acctbal * 100)::BIGINT AS bal FROM customer), off AS (SELECT max(key) + 1 AS o FROM snap), g0 AS (SELECT key, bal, 7::BIGINT AS cnt, 1::BIGINT AS scratch FROM snap), g1 AS (SELECT key + (SELECT o FROM off) AS key, bal, (key % 100)::BIGINT AS cnt, 2::BIGINT AS scratch FROM snap WHERE key % 10 = 0), g2 AS (SELECT key + 2 * (SELECT o FROM off) AS key, bal, (1099511627776 + key % 7)::BIGINT AS cnt, 3::BIGINT AS scratch FROM snap WHERE key % 100 = 0), g3 AS (SELECT key + 3 * (SELECT o FROM off) AS key, bal, 5::BIGINT AS cnt FROM snap WHERE key % 100 = 50), past AS (SELECT * FROM g0 UNION ALL SELECT * FROM g1), cur AS (SELECT key, bal, cnt FROM past UNION ALL SELECT key, bal, cnt FROM g2 UNION ALL SELECT key, bal, cnt FROM g3) SELECT 0::BIGINT AS phase, key // (SELECT o FROM off) AS gen, count(*)::BIGINT AS n, sum(bal)::BIGINT AS bal_sum, sum(cnt)::BIGINT AS cnt_sum, sum(scratch)::BIGINT AS scratch_sum FROM past GROUP BY 2 UNION ALL SELECT 1::BIGINT, key // (SELECT o FROM off), count(*)::BIGINT, sum(bal)::BIGINT, sum(cnt)::BIGINT, -1::BIGINT FROM cur GROUP BY 2 ORDER BY phase, gen")),
    // b102's oracle recomputes the two-phase ledger trajectory: phase
    // 0 from the residue-class append definitions (overlapping
    // whole-domain ranges), phase 1 from the sorted-chunk boundaries
    // (tight disjoint ranges with fresh contiguous positions).
    QueryDef("b102_rewrite_sort_strategy", b102 _, Some(
      "WITH snap AS (SELECT c_custkey AS key FROM customer), n AS (SELECT count(*)::BIGINT AS cnt FROM snap), res AS (SELECT (key % 4)::BIGINT AS r, count(*)::BIGINT AS ni, min(key)::BIGINT AS mn, max(key)::BIGINT AS mx FROM snap GROUP BY 1), f0 AS (SELECT 0::BIGINT AS phase, r + 1 AS file_id, r + 1 AS commit_version, (sum(ni) OVER (ORDER BY r) - ni)::BIGINT AS pos_min, (sum(ni) OVER (ORDER BY r))::BIGINT AS pos_max, ni AS rows_written, ni AS live_rows, mn AS min_key, mx AS max_key FROM res), c AS (SELECT ((cnt + 3) // 4)::BIGINT AS c FROM n), rk AS (SELECT key, (row_number() OVER (ORDER BY key) - 1) AS rk FROM snap), g AS (SELECT rk // (SELECT c FROM c) AS grp, count(*)::BIGINT AS ni, min(key)::BIGINT AS mn, max(key)::BIGINT AS mx FROM rk GROUP BY 1), f1 AS (SELECT 1::BIGINT AS phase, 5 + grp AS file_id, 5::BIGINT AS commit_version, ((SELECT cnt FROM n) + grp * (SELECT c FROM c))::BIGINT AS pos_min, ((SELECT cnt FROM n) + grp * (SELECT c FROM c) + ni)::BIGINT AS pos_max, ni, ni, mn, mx FROM g) SELECT * FROM (SELECT * FROM f0 UNION ALL SELECT * FROM f1) ORDER BY phase, file_id")),
    // b103's oracle replays the evolution lifecycle: phase 0 = five
    // gen-1 groups (stamped by the gen-1 append, v3) + the legacy
    // generation under the sentinel key (stamped by the evolution
    // commit, v2); phase 1 = the merged groups after the UPDATE
    // migrated the legacy generation (all stamped v4); phase 2 = the
    // per-g census with +7 on the g=2 rows of BOTH generations.
    QueryDef("b103_partition_evolution", b103 _, Some(
      "WITH snap AS (SELECT c_custkey AS key, (c_custkey % 5)::BIGINT AS g, floor(c_acctbal * 100)::BIGINT AS bal FROM customer), per AS (SELECT g, count(*)::BIGINT AS n, sum(bal)::BIGINT AS balsum FROM snap GROUP BY 1), tot AS (SELECT count(*)::BIGINT AS n FROM snap) SELECT * FROM (SELECT 0::BIGINT AS phase, (-9223372036854775807 - 1)::BIGINT AS g, n, 2::BIGINT AS ver, -1::BIGINT AS bal_sum FROM tot UNION ALL SELECT 0, g, n, 3, -1 FROM per UNION ALL SELECT 1, g, 2 * n, 4, -1 FROM per UNION ALL SELECT 2, g, 2 * n, -1, 2 * balsum + n * 100000 + CASE WHEN g = 2 THEN 2 * n * 7 ELSE 0 END FROM per) ORDER BY phase, g")),
    // b104's oracle replays both phases as plain relational math:
    // phase 0 = the v1 snapshot (what the restore must bring back,
    // byte-exact), phase 1 = the bad state at v3 (CDC round, then the
    // %10=1 delete) — still served by time travel AFTER the restore.
    QueryDef("b104_rollback_restore", b104 _, Some(
      "WITH snap AS (SELECT c_custkey AS key, floor(c_acctbal * 100)::BIGINT AS bal FROM customer), off AS (SELECT max(c_custkey) + 1 AS o FROM customer), batch AS (SELECT key, bal + 10000 AS nb, 'U' AS op FROM snap WHERE key % 10 = 3 UNION ALL SELECT key, 0, 'D' FROM snap WHERE key % 10 = 7 UNION ALL SELECT key + (SELECT o FROM off), bal, 'I' FROM snap WHERE key % 100 = 0), post AS (SELECT s.key, coalesce(CASE WHEN b.op = 'U' THEN b.nb END, s.bal) AS bal FROM snap s LEFT JOIN batch b ON s.key = b.key WHERE b.op IS NULL OR b.op <> 'D' UNION ALL SELECT key, nb FROM batch WHERE op = 'I'), bad AS (SELECT key, bal FROM post WHERE key % 10 <> 1) SELECT * FROM (SELECT 0::BIGINT AS phase, (key % 10)::BIGINT AS key_mod, count(*)::BIGINT AS n, sum(bal)::BIGINT AS bal_cents_sum FROM snap GROUP BY 2 UNION ALL SELECT 1::BIGINT, (key % 10)::BIGINT, count(*)::BIGINT, sum(bal)::BIGINT FROM bad GROUP BY 2) ORDER BY phase, key_mod")),
    // b105's oracle recomputes all three histories from their
    // definitions: the source (snapshot + re-keyed +123 append, no
    // merge), the head clone (the CDC post-state, no append), and the
    // VERSIONED clone (the plain v1 snapshot, untouched by either
    // divergence) — each census must show ONLY its own commits.
    QueryDef("b105_table_clone", b105 _, Some(
      "WITH snap AS (SELECT c_custkey AS key, floor(c_acctbal * 100)::BIGINT AS bal FROM customer), off AS (SELECT max(c_custkey) + 1 AS o FROM customer), srcside AS (SELECT key, bal FROM snap UNION ALL SELECT key + (SELECT o FROM off), bal + 123 FROM snap WHERE key % 100 = 50), batch AS (SELECT key, bal + 10000 AS nb, 'U' AS op FROM snap WHERE key % 10 = 3 UNION ALL SELECT key, 0, 'D' FROM snap WHERE key % 10 = 7 UNION ALL SELECT key + (SELECT o FROM off), bal, 'I' FROM snap WHERE key % 100 = 0), post AS (SELECT s.key, coalesce(CASE WHEN b.op = 'U' THEN b.nb END, s.bal) AS bal FROM snap s LEFT JOIN batch b ON s.key = b.key WHERE b.op IS NULL OR b.op <> 'D' UNION ALL SELECT key, nb FROM batch WHERE op = 'I') SELECT * FROM (SELECT 0::BIGINT AS phase, (key % 10)::BIGINT AS key_mod, count(*)::BIGINT AS n, sum(bal)::BIGINT AS bal_cents_sum FROM srcside GROUP BY 2 UNION ALL SELECT 1::BIGINT, (key % 10)::BIGINT, count(*)::BIGINT, sum(bal)::BIGINT FROM post GROUP BY 2 UNION ALL SELECT 2::BIGINT, (key % 10)::BIGINT, count(*)::BIGINT, sum(bal)::BIGINT FROM snap GROUP BY 2) ORDER BY phase, key_mod")),
    // b106's oracle recomputes the evolved table from the drift
    // definition: untouched rows under seg 0 (the typed default),
    // matched rows re-segmented with +10000, inserts complete.
    QueryDef("b106_merge_schema_evolution", b106 _, Some(
      "WITH snap AS (SELECT c_custkey AS key, c_nationkey AS nk, floor(c_acctbal * 100)::BIGINT AS bal FROM customer), off AS (SELECT max(c_custkey) + 1 AS o FROM customer), upd AS (SELECT key, bal + 10000 AS bal, (nk % 4)::BIGINT AS seg FROM snap WHERE key % 10 = 3), ins AS (SELECT key + (SELECT o FROM off) AS key, bal, (nk % 4)::BIGINT AS seg FROM snap WHERE key % 100 = 0), post AS (SELECT s.key, coalesce(u.bal, s.bal) AS bal, coalesce(u.seg, 0) AS seg FROM snap s LEFT JOIN upd u ON s.key = u.key UNION ALL SELECT key, bal, seg FROM ins) SELECT seg, count(*)::BIGINT AS n, sum(bal)::BIGINT AS bal_cents_sum FROM post GROUP BY 1 ORDER BY 1")),
    // b107's oracle replays both bound thresholds as plain filters —
    // the dynamic path must compute exactly what the static SQL does.
    QueryDef("b107_execute_immediate", b107 _, Some(
      "SELECT * FROM (SELECT 0::BIGINT AS phase, l_returnflag AS flag, count(*)::BIGINT AS n, sum(floor(l_extendedprice * 100)::BIGINT)::BIGINT AS cents_sum FROM lineitem WHERE l_quantity >= 25 GROUP BY 2 UNION ALL SELECT 1::BIGINT, l_returnflag, count(*)::BIGINT, sum(floor(l_extendedprice * 100)::BIGINT)::BIGINT FROM lineitem WHERE l_quantity >= 40 GROUP BY 2) ORDER BY phase, flag")),
    // b109's oracle recomputes BOTH maintained censuses from scratch
    // (round 1 = the shared CDC oracle, round 2 = the two-round
    // oracle): the incremental path must equal the full recompute at
    // every step, including the retired residue-7 class's absence.
    QueryDef("b109_incremental_agg", b109 _, Some(
      s"SELECT * FROM (SELECT 0::BIGINT AS phase, t1.* FROM ($mergeOracleSql) t1 UNION ALL SELECT 1::BIGINT, t2.* FROM ($twoRoundMergeOracleSql) t2) ORDER BY phase, key_mod")),
    QueryDef("b108_table_function", b108 _, Some(
      "WITH g AS (SELECT t.i AS id, md5(t.i::VARCHAR) AS value FROM range(100000) t(i) WHERE t.i >= 1000) SELECT substr(value, 1, 1) AS b, count(*)::BIGINT AS n, min(id)::BIGINT AS min_id, max(id)::BIGINT AS max_id, min(value) AS min_md5 FROM g GROUP BY 1 ORDER BY 1")),
    QueryDef("b100_merge_not_matched_by_source", b100 _, Some(
      "WITH snap AS (SELECT c_custkey AS key, floor(c_acctbal * 100)::BIGINT AS bal FROM customer), off AS (SELECT max(c_custkey) + 1 AS o FROM customer), src AS (SELECT key, bal + 10000 AS nb FROM snap WHERE key % 10 <= 4 UNION ALL SELECT key + (SELECT o FROM off), bal FROM snap WHERE key % 100 = 0), post AS (SELECT coalesce(t.key, b.key) AS key, CASE WHEN b.key IS NOT NULL THEN b.nb ELSE t.bal + 1 END AS bal, (t.key IS NOT NULL AND b.key IS NULL AND t.key % 10 = 7) AS retired FROM snap t FULL OUTER JOIN src b ON t.key = b.key) SELECT (key % 10)::BIGINT AS key_mod, count(*)::BIGINT AS n, sum(bal)::BIGINT AS bal_cents_sum FROM post WHERE NOT retired GROUP BY 1 ORDER BY 1")),
    // b92's oracle recomputes snapshot + staged generation and never
    // mentions branches — their absence from the math IS the
    // publish-exactness check (main must equal exactly what was
    // staged, nothing more, nothing sooner).
    // b93's oracle recomputes the row-count TRAJECTORY from the batch
    // definitions — the history table must agree with what the
    // lifecycle actually did at every version, not just at the head.
    QueryDef("b93_table_history", b93 _, Some(
      "WITH snap AS (SELECT c_custkey AS key FROM customer), n AS (SELECT count(*)::BIGINT AS n1 FROM snap), dd AS (SELECT count(*)::BIGINT AS nd FROM snap WHERE key % 10 = 7), ii AS (SELECT count(*)::BIGINT AS ni FROM snap WHERE key % 100 = 0) SELECT * FROM (SELECT 0::BIGINT AS version, 0::BIGINT AS live_rows, 2 AS n_columns, 0 AS n_tags, false AS is_current UNION ALL SELECT 1, n1, 2, 1, false FROM n UNION ALL SELECT 2, n1 - nd + ni, 2, 0, false FROM n, dd, ii UNION ALL SELECT 3, n1 - nd + ni, 2, 0, true FROM n, dd, ii) ORDER BY version")),
    // b94's oracle recomputes the file ledger's full trajectory —
    // write-time stats from the batch definitions, liveness from the
    // CDC round's victim classes, the compacted spanning file from
    // the post-merge state.
    QueryDef("b94_files_metadata", b94 _, Some(
      "WITH snap AS (SELECT c_custkey AS key FROM customer), agg AS (SELECT count(*)::BIGINT AS n1, min(key)::BIGINT AS k1min, max(key)::BIGINT AS k1max, (max(key) + 1)::BIGINT AS o FROM snap), cd AS (SELECT count(*)::BIGINT AS nd FROM snap WHERE key % 10 = 7), cu AS (SELECT count(*)::BIGINT AS nu, min(key)::BIGINT AS kumin FROM snap WHERE key % 10 = 3), ci AS (SELECT count(*)::BIGINT AS ni, max(key)::BIGINT AS kimax FROM snap WHERE key % 100 = 0), lv AS (SELECT min(key)::BIGINT AS klmin FROM snap WHERE key % 10 <> 7) SELECT * FROM (SELECT 0::BIGINT AS phase, 1::BIGINT AS file_id, 1::BIGINT AS commit_version, 0::BIGINT AS pos_min, n1 AS pos_max, n1 AS rows_written, n1 - nd - nu AS live_rows, nd + nu AS deleted_rows, k1min AS min_key, k1max AS max_key FROM agg, cd, cu UNION ALL SELECT 0, 2, 2, n1, n1 + nu + ni, nu + ni, nu + ni, 0, kumin, kimax + o FROM agg, cu, ci UNION ALL SELECT 1, 3, 3, 0, n1 + nu + ni, n1 - nd + ni, n1 - nd + ni, 0, klmin, kimax + o FROM agg, cd, cu, ci, lv) ORDER BY phase, file_id")),
    // b95's oracle recomputes the post-lifecycle state per update
    // class with n_id_stable = n — the engine must prove EVERY row
    // kept its identity through update, compaction and re-update.
    QueryDef("b95_row_lineage", b95 _, Some(
      "WITH snap AS (SELECT c_custkey AS key, floor(c_acctbal * 100)::BIGINT AS bal FROM customer), off AS (SELECT max(key) + 1 AS o FROM snap), orig AS (SELECT key, bal FROM snap WHERE key % 10 <> 7), cl AS (SELECT CASE WHEN key % 10 = 3 THEN 'upd3' WHEN key % 10 = 1 THEN 'upd1' ELSE 'kept' END AS cls, CASE WHEN key % 10 = 3 THEN bal + 10000 WHEN key % 10 = 1 THEN bal + 5000 ELSE bal END AS bal, CASE WHEN key % 10 = 3 THEN 2 WHEN key % 10 = 1 THEN 4 ELSE 1 END AS luv FROM orig UNION ALL SELECT CASE WHEN (key + (SELECT o FROM off)) % 10 = 1 THEN 'ins1' ELSE 'ins' END, CASE WHEN (key + (SELECT o FROM off)) % 10 = 1 THEN bal + 5000 ELSE bal END, CASE WHEN (key + (SELECT o FROM off)) % 10 = 1 THEN 4 ELSE 2 END FROM snap WHERE key % 100 = 0) SELECT cls, count(*)::BIGINT AS n, count(*)::BIGINT AS n_id_stable, min(luv)::BIGINT AS luv_min, max(luv)::BIGINT AS luv_max, sum(bal)::BIGINT AS bal_cents_sum FROM cl GROUP BY 1 ORDER BY cls")),
    // b96's oracle recomputes the selective-rewrite ledger trajectory:
    // the kept file byte-identical across phases, the victim replaced
    // by a fully-live rewrite whose stats derive from the survivors.
    QueryDef("b96_rewrite_files", b96 _, Some(
      "WITH snap AS (SELECT c_custkey AS key FROM customer), agg AS (SELECT count(*)::BIGINT AS n1, min(key)::BIGINT AS kmin, max(key)::BIGINT AS kmax, (max(key) + 1)::BIGINT AS o FROM snap), dd AS (SELECT count(*)::BIGINT AS nd FROM snap WHERE key % 10 IN (3, 7)), sv AS (SELECT min(key)::BIGINT AS smin, max(key)::BIGINT AS smax FROM snap WHERE key % 10 NOT IN (3, 7)) SELECT * FROM (SELECT 0::BIGINT AS phase, 1::BIGINT AS file_id, 1::BIGINT AS commit_version, 0::BIGINT AS pos_min, n1 AS pos_max, n1 AS rows_written, n1 - nd AS live_rows, nd AS deleted_rows, kmin AS min_key, kmax AS max_key FROM agg, dd UNION ALL SELECT 0, 2, 3, n1, 2 * n1, n1, n1, 0, kmin + o, kmax + o FROM agg UNION ALL SELECT 1, 2, 3, n1, 2 * n1, n1, n1, 0, kmin + o, kmax + o FROM agg UNION ALL SELECT 1, 3, 4, 2 * n1, 3 * n1 - nd, n1 - nd, n1 - nd, 0, smin, smax FROM agg, dd, sv) ORDER BY phase, file_id")),
    // b97's oracle recomputes the post-delete state from the two
    // predicates — the metadata path and the row-level path must
    // compose to exactly the filtered snapshot.
    QueryDef("b97_metadata_delete", b97 _, Some(
      "SELECT (c_custkey % 8)::BIGINT AS g, count(*)::BIGINT AS n, sum(floor(c_acctbal * 100)::BIGINT)::BIGINT AS bal_cents_sum FROM customer WHERE c_custkey % 8 NOT IN (2, 4) AND floor(c_acctbal * 100) >= 0 GROUP BY 1 ORDER BY g")),
    // b98 shares d27's oracle VERBATIM: the post-boundary change set
    // surfaced by retention (the history no longer exists) must equal
    // the one surfaced by subscription choice (startingVersion).
    QueryDef("b98_changelog_retention", b98 _, Some(TierD.cdcV3OracleSql)),
    // b99's oracle recomputes the fact-dim join from the parquet
    // sources the graftmem dimension was loaded from.
    QueryDef("b99_stats_broadcast", b99 _, Some(
      "SELECT n.n_regionkey::BIGINT AS rkey, count(*)::BIGINT AS n, sum(floor(c_acctbal * 100)::BIGINT)::BIGINT AS bal_cents_sum FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey GROUP BY 1 ORDER BY 1")),
    QueryDef("b92_branch_wap", b92 _, Some(
      "WITH snap AS (SELECT c_custkey AS key, floor(c_acctbal * 100)::BIGINT AS bal FROM customer), off AS (SELECT max(c_custkey) + 1 AS o FROM customer), gen2 AS (SELECT key + (SELECT o FROM off) AS key, bal + 777 AS bal FROM snap), allr AS (SELECT * FROM snap UNION ALL SELECT * FROM gen2) SELECT (key % 10)::BIGINT AS key_mod, count(*)::BIGINT AS n, sum(bal)::BIGINT AS bal_cents_sum FROM allr GROUP BY 1 ORDER BY 1")),
    // b82 replays BOTH CDC rounds in the oracle and never mentions
    // the compaction between them — that absence IS the invariance
    // check (maintenance must be invisible to readers and writers).
    QueryDef("b83_changelog_read", b83 _, Some(
      "WITH snap AS (SELECT c_custkey AS key, floor(c_acctbal * 100)::BIGINT AS bal FROM customer), off AS (SELECT max(c_custkey) + 1 AS o FROM customer), batch AS (SELECT key, bal + 10000 AS nb, 'U' AS op FROM snap WHERE key % 10 = 3 UNION ALL SELECT key, 0, 'D' FROM snap WHERE key % 10 = 7 UNION ALL SELECT key + (SELECT o FROM off), bal, 'I' FROM snap WHERE key % 100 = 0), post AS (SELECT s.key, coalesce(CASE WHEN b.op = 'U' THEN b.nb END, s.bal) AS bal FROM snap s LEFT JOIN batch b ON s.key = b.key WHERE b.op IS NULL OR b.op <> 'D' UNION ALL SELECT key, nb FROM batch WHERE op = 'I'), v2 AS (SELECT 'delete' AS ct, bal FROM snap WHERE key % 10 = 7 UNION ALL SELECT 'delete', bal FROM snap WHERE key % 10 = 3 UNION ALL SELECT 'insert', bal + 10000 FROM snap WHERE key % 10 = 3 UNION ALL SELECT 'insert', bal FROM snap WHERE key % 100 = 0), v4 AS (SELECT 'delete' AS ct, bal FROM post WHERE key % 10 = 1 UNION ALL SELECT 'insert', bal + 5000 FROM post WHERE key % 10 = 1) SELECT * FROM (SELECT 2::BIGINT AS _commit_version, ct AS _change_type, count(*)::BIGINT AS n, sum(bal)::BIGINT AS bal_cents_sum FROM v2 GROUP BY 2 UNION ALL SELECT 4::BIGINT, ct, count(*)::BIGINT, sum(bal)::BIGINT FROM v4 GROUP BY 2) ORDER BY 1, 2")),
    QueryDef("b82_mor_compaction", b82 _, Some(twoRoundMergeOracleSql)),
    // b87 runs the SAME two CDC rounds through an engine-enforced
    // CHECK gate on a constrained table — the summary is
    // constraint-invariant (every write conforms), so the oracle is
    // b82's verbatim; the spec proves violating writes fail loudly.
    QueryDef("b87_check_constraint", b87 _,
      Some(twoRoundMergeOracleSql)),
    // the dropped partition (2) is absent, the truncated (4) and the
    // declared-empty (9) surface with zero rows — the oracle encodes
    // exactly that three-way DDL semantics over the recomputed load
    QueryDef("b90_sql_identifier", b90 _, Some(
      "SELECT l_returnflag AS flag, count(*)::BIGINT AS n, sum(floor(l_extendedprice * 100)::BIGINT)::BIGINT AS cents FROM lineitem WHERE l_quantity >= 25 GROUP BY 1 ORDER BY 1")),
    // the oracle is the ORIGINAL append's summary — the query reads
    // it back through a tag that survived a retention pass that
    // provably expired its untagged sibling
    QueryDef("b89_snapshot_tag", b89 _, Some(
      "SELECT (c_custkey % 10)::BIGINT AS key_mod, count(*)::BIGINT AS n, sum(floor(c_acctbal * 100)::BIGINT)::BIGINT AS bal_cents_sum FROM customer GROUP BY 1 ORDER BY 1")),
    QueryDef("b88_partition_management", b88 _, Some(
      "WITH snap AS (SELECT (c_custkey % 5)::BIGINT AS g, floor(c_acctbal * 100)::BIGINT AS bal FROM customer), data AS (SELECT g, count(*)::BIGINT AS n, sum(bal)::BIGINT AS bal_cents_sum FROM snap WHERE g NOT IN (2, 4) GROUP BY g), decl AS (SELECT unnest([4, 9]::BIGINT[]) AS g) SELECT g, n, bal_cents_sum FROM data UNION ALL SELECT g, 0::BIGINT, NULL::BIGINT FROM decl ORDER BY g")),
    QueryDef("b86_overwrite_partitions", b86 _, Some(
      "WITH snap AS (SELECT c_custkey AS key, (c_custkey % 5)::BIGINT AS g, floor(c_acctbal * 100)::BIGINT AS bal FROM customer), fin AS (SELECT key, g, bal + CASE WHEN g IN (1, 3) THEN 10000 WHEN g = 0 THEN 77 ELSE 0 END AS bal FROM snap) SELECT g, count(*)::BIGINT AS n, sum(bal)::BIGINT AS bal_cents_sum FROM fin GROUP BY 1 ORDER BY 1")),
    QueryDef("b85_schema_evolution", b85 _, Some(
      "WITH snap AS (SELECT c_custkey AS key, floor(c_acctbal * 100)::BIGINT AS bal FROM customer), off AS (SELECT max(c_custkey) + 1 AS o FROM customer), gen1 AS (SELECT key, bal, 250::BIGINT AS bonus, 'basic' AS tier, false AS vip FROM snap), gen2 AS (SELECT key + (SELECT o FROM off) AS key, bal, (key % 97)::BIGINT AS bonus, CASE WHEN key % 3 = 0 THEN 'gold' ELSE 'basic' END AS tier, (key % 5 = 0) AS vip FROM snap), allr AS (SELECT * FROM gen1 UNION ALL SELECT * FROM gen2), upd AS (SELECT key, bal, bonus + CASE WHEN key % 10 = 2 THEN 500 ELSE 0 END AS bonus, CASE WHEN key % 10 = 2 THEN 'plus' ELSE tier END AS tier, vip FROM allr) SELECT (key % 10)::BIGINT AS key_mod, tier, count(*)::BIGINT AS n, sum(bal)::BIGINT AS bal_cents_sum, sum(bonus)::BIGINT AS bonus_cents_sum, sum(CASE WHEN vip THEN 1 ELSE 0 END)::BIGINT AS n_vip FROM upd GROUP BY 1, 2 ORDER BY 1, 2")),
    QueryDef("b84_time_travel", b84 _, Some(
      "WITH snap AS (SELECT c_custkey AS key, floor(c_acctbal * 100)::BIGINT AS bal FROM customer), off AS (SELECT max(c_custkey) + 1 AS o FROM customer), batch AS (SELECT key, bal + 10000 AS nb, 'U' AS op FROM snap WHERE key % 10 = 3 UNION ALL SELECT key, 0, 'D' FROM snap WHERE key % 10 = 7 UNION ALL SELECT key + (SELECT o FROM off), bal, 'I' FROM snap WHERE key % 100 = 0), post AS (SELECT s.key, coalesce(CASE WHEN b.op = 'U' THEN b.nb END, s.bal) AS bal FROM snap s LEFT JOIN batch b ON s.key = b.key WHERE b.op IS NULL OR b.op <> 'D' UNION ALL SELECT key, nb FROM batch WHERE op = 'I'), post2 AS (SELECT key, bal + CASE WHEN key % 10 = 1 THEN 5000 ELSE 0 END AS bal FROM post) SELECT (coalesce(v1.key, now.key) % 10)::BIGINT AS key_mod, (count(*) FILTER (WHERE v1.key IS NULL))::BIGINT AS n_added, (count(*) FILTER (WHERE now.key IS NULL))::BIGINT AS n_removed, (count(*) FILTER (WHERE v1.key IS NOT NULL AND now.key IS NOT NULL AND v1.bal <> now.bal))::BIGINT AS n_changed, sum(coalesce(now.bal, 0) - coalesce(v1.bal, 0))::BIGINT AS delta_cents FROM snap v1 FULL JOIN post2 now ON v1.key = now.key GROUP BY 1 ORDER BY 1")),
    QueryDef("b81_cbo_join_reorder", b81 _, Some(
      "WITH fact AS (SELECT o_custkey AS k1, o_orderkey % 1000 AS k2, floor(o_totalprice * 100)::BIGINT AS cents FROM orders), dimb AS (SELECT c_custkey AS k1, c_nationkey::BIGINT AS nat FROM customer), dims AS (SELECT n_nationkey::BIGINT AS k2 FROM nation) SELECT b.nat AS nat, count(*)::BIGINT AS n, sum(f.cents)::BIGINT AS cents_sum FROM fact f JOIN dimb b ON f.k1 = b.k1 JOIN dims t ON f.k2 = t.k2 GROUP BY 1 ORDER BY 1")),
    QueryDef("b72_sql_scripting", b72 _, Some(
      "WITH ks AS (SELECT (6400::BIGINT * (1::BIGINT << k.k)) AS t FROM range(40) k(k)), c AS (SELECT t, (SELECT count(*) FROM orders WHERE o_totalprice >= t)::BIGINT AS n FROM ks) SELECT t AS threshold, n AS n_above FROM c WHERE n < 1000 ORDER BY t LIMIT 1")),
    QueryDef("b73_sql_udf", b73 _, Some(
      "WITH f AS (SELECT l_returnflag, floor((l_extendedprice * (1 - l_discount)) * 100)::BIGINT AS cents FROM lineitem WHERE l_returnflag IN ('R', 'A')) SELECT l_returnflag, count(*)::BIGINT AS n, sum(cents)::BIGINT AS rev_cents FROM f GROUP BY 1 ORDER BY 1")),
    QueryDef("b74_sql_pipe", b74 _, Some(
      "SELECT l_returnflag, l_linestatus, count(*)::BIGINT AS n, sum((l_extendedprice * (1 - l_discount))::DECIMAL(18,4))::DOUBLE AS revenue FROM lineitem WHERE l_shipdate >= TIMESTAMP '1998-01-01' GROUP BY 1, 2 ORDER BY 1, 2")),
    QueryDef("b71_join_skew_aqe", b71 _, Some(
      "SELECT s_suppkey, s_name, count(*)::BIGINT AS cnt, sum((l_extendedprice * (1 - l_discount))::DECIMAL(18,4))::DOUBLE AS revenue FROM (SELECT CASE WHEN l_orderkey % 2 = 0 THEN 1 ELSE l_suppkey END AS k, l_extendedprice, l_discount FROM lineitem) f JOIN supplier ON f.k = s_suppkey GROUP BY 1, 2 ORDER BY 1")),
    QueryDef("b70_session_dynamic_gap", b70 _, Some(
      "WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS us, event_id, CASE WHEN event_type = 'error' THEN 300000000 ELSE 1800000000 END AS gap FROM events), m AS (SELECT *, max(us + gap) OVER (PARTITION BY user_id ORDER BY us, event_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS maxend FROM e), f AS (SELECT *, CASE WHEN maxend IS NULL OR us > maxend THEN 1 ELSE 0 END AS is_new FROM m), s AS (SELECT *, sum(is_new) OVER (PARTITION BY user_id ORDER BY us, event_id ROWS UNBOUNDED PRECEDING) AS sid FROM f) SELECT user_id, (min(us) // 1000000)::BIGINT AS start_s, (max(us + gap) // 1000000)::BIGINT AS end_s, count(*)::BIGINT AS cnt, sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)::BIGINT AS n_errors FROM s GROUP BY user_id, sid ORDER BY user_id, start_s")),
    QueryDef("b69_sql_parameterized", b69 _, Some(
      "SELECT o_orderpriority, count(*)::BIGINT AS n, sum(floor(o_totalprice * 100)::BIGINT)::BIGINT AS cents FROM orders WHERE o_totalprice >= 50000 AND o_orderdate < TIMESTAMP '1998-06-01' GROUP BY 1 ORDER BY 1")),
    QueryDef("b67_variant_json", b67 _, Some(
      "WITH b AS (SELECT event_type, CASE WHEN event_id % 3 = 0 THEN NULL ELSE json_extract(props, '$.k')::BIGINT END AS k, (event_id % 3 = 0) AS bad FROM events) SELECT event_type, count(*)::BIGINT AS n_rows, sum(CASE WHEN bad THEN 1 ELSE 0 END)::BIGINT AS n_unparsed, count(k)::BIGINT AS n_k, sum(k)::BIGINT AS k_sum, min(k) AS k_min, max(k) AS k_max FROM b GROUP BY 1 ORDER BY 1")),
    QueryDef("b68_collation_join", b68 _, Some(
      "WITH docs AS (SELECT doc_id, CASE WHEN doc_id % 3 = 0 THEN upper(lang) WHEN doc_id % 3 = 1 THEN upper(substr(lang, 1, 1)) || substr(lang, 2) ELSE lang END AS mixed, lang AS orig FROM documents), dim AS (SELECT DISTINCT lang FROM documents) SELECT d.lang, count(*)::BIGINT AS n_matched, count(DISTINCT docs.mixed)::BIGINT AS n_casings FROM docs JOIN dim d ON lower(docs.mixed) = d.lang GROUP BY 1 ORDER BY 1")),
    QueryDef("b66_ansi_try", b66 _, Some(
      "WITH b AS (SELECT l_returnflag, CASE WHEN floor(l_discount * 100) = 0 THEN NULL ELSE floor(l_extendedprice * 100)::DOUBLE / floor(l_discount * 100) END AS ratio, try_cast(CASE WHEN l_linenumber = 1 THEN 'x' || l_orderkey::VARCHAR ELSE l_orderkey::VARCHAR END AS BIGINT) AS parsed, CASE WHEN l_orderkey = 0 THEN 9223372036854775807 END AS ofl FROM lineitem) SELECT l_returnflag, count(*)::BIGINT AS n_rows, count(ratio)::BIGINT AS n_div_ok, sum(floor(ratio)::BIGINT)::BIGINT AS sum_ratio_floor, count(parsed)::BIGINT AS n_parsed, sum(parsed)::BIGINT AS parsed_sum, count(ofl)::BIGINT AS n_no_overflow FROM b GROUP BY 1 ORDER BY 1")),
    QueryDef("b65_observe_metrics", b65 _, Some(
      "SELECT count(*)::BIGINT AS n_rows, coalesce(sum(floor(l_extendedprice * 100)::BIGINT), 0)::BIGINT AS rev_cents, coalesce(max(floor(l_extendedprice * 100)::BIGINT), 0) AS max_cents FROM lineitem WHERE l_shipdate >= TIMESTAMP '1998-01-01'")),
    QueryDef("b64_agg_argminmax", b64 _, Some(
      "WITH b AS (SELECT l_returnflag, l_orderkey * 8 + l_linenumber AS rid, floor(l_extendedprice * 100)::BIGINT AS cents, floor(l_extendedprice * 100)::HUGEINT * 1125899906842624 + (l_orderkey * 8 + l_linenumber) AS v FROM lineitem), m AS (SELECT l_returnflag, arg_min(rid, v) AS cheap_rid, min(cents) AS cheap_cents, arg_max(rid, v) AS dear_rid, max(cents) AS dear_cents FROM b GROUP BY 1) SELECT l_returnflag, cheap_rid // 8 AS cheap_ok, cheap_rid % 8 AS cheap_ln, cheap_cents, dear_rid // 8 AS dear_ok, dear_rid % 8 AS dear_ln, dear_cents FROM m ORDER BY l_returnflag")),
    QueryDef("b63_recursive_cte", b63 _, Some(
      "WITH RECURSIVE up(k, anc, depth) AS (SELECT c_custkey, c_custkey, 0::BIGINT FROM customer UNION ALL SELECT k, anc // 2, depth + 1 FROM up WHERE anc > 1) SELECT k AS key, max(depth)::BIGINT AS depth_to_root, sum(anc)::BIGINT AS anc_sum, count(*)::BIGINT AS n_levels FROM up GROUP BY k ORDER BY k")),
    QueryDef("b60_agg_stats", b60 _, Some(
      "WITH b AS (SELECT l_returnflag, l_quantity::BIGINT AS xi, floor(l_extendedprice * 100)::BIGINT AS yc FROM lineitem), m AS (SELECT l_returnflag, count(*)::BIGINT AS n, sum(xi)::HUGEINT AS sx, sum(xi * xi)::HUGEINT AS sxx, sum(yc)::HUGEINT AS sy, sum(yc::HUGEINT * yc) AS syy, sum(xi::HUGEINT * yc) AS sxy FROM b GROUP BY 1) SELECT l_returnflag, n, sqrt((n::HUGEINT * sxx - sx * sx)::DOUBLE / (n * (n - 1))::DOUBLE) AS sd_qty, (n::HUGEINT * sxy - sx * sy)::DOUBLE / (sqrt((n::HUGEINT * sxx - sx * sx)::DOUBLE) * sqrt((n::HUGEINT * syy - sy * sy)::DOUBLE)) AS corr_qp, TRUE AS ok_sd, TRUE AS ok_corr FROM m ORDER BY l_returnflag")),
    QueryDef("b61_scd2_dimension", b61 _, Some(
      "WITH snap AS (SELECT c_custkey AS key, floor(c_acctbal * 100)::BIGINT AS bal FROM customer), chlog AS (SELECT key, bal, 1::BIGINT AS seq FROM snap UNION ALL SELECT key, bal + 5000, 2::BIGINT FROM snap WHERE key % 5 = 2 UNION ALL SELECT key, bal + 12000, 3::BIGINT FROM snap WHERE key % 20 = 2), v AS (SELECT key, bal, seq AS valid_from, lead(seq) OVER (PARTITION BY key ORDER BY seq) AS nxt FROM chlog) SELECT key, bal, valid_from, coalesce(nxt - 1, 9999)::BIGINT AS valid_to, (nxt IS NULL) AS is_current FROM v ORDER BY key, valid_from")),
    QueryDef("b62_histogram", b62 _, Some(
      "WITH b AS (SELECT floor(l_extendedprice * 100)::BIGINT AS yc FROM lineitem) SELECT yc // 500000 AS bucket, count(*)::BIGINT AS cnt, sum(yc)::BIGINT AS sum_cents, min(yc) AS min_cents, max(yc) AS max_cents, bool_and((floor(21.0 * yc / 10500000.0)::BIGINT + 1) = (yc // 500000 + 1)) AS wb_ok FROM b GROUP BY 1 ORDER BY 1")),
    QueryDef("b59_not_in_null_aware", b59 _, Some(
      "SELECT op, cnt FROM (SELECT 'clean' AS op, count(*)::BIGINT AS cnt FROM customer WHERE c_custkey NOT IN (SELECT o_custkey FROM orders WHERE o_orderdate >= TIMESTAMP '1998-06-01') UNION ALL SELECT 'poisoned', count(*)::BIGINT FROM customer WHERE c_custkey NOT IN (SELECT CASE WHEN o_orderkey = (SELECT min(o_orderkey) FROM orders) THEN NULL ELSE o_custkey END FROM orders)) ORDER BY op")),
    QueryDef("b57_set_ops_all", b57 _, Some(
      "WITH o AS (SELECT o_custkey AS k FROM orders), c AS (SELECT c_custkey AS k FROM customer) SELECT 'except_all' AS op, count(*)::BIGINT AS cnt FROM (SELECT k FROM o EXCEPT ALL SELECT k FROM c) UNION ALL SELECT 'intersect_all', count(*)::BIGINT FROM (SELECT k FROM o INTERSECT ALL SELECT k FROM c) UNION ALL SELECT 'union_all', count(*)::BIGINT FROM (SELECT k FROM o UNION ALL SELECT k FROM c) ORDER BY op")),
    QueryDef("b58_window_count_distinct", b58 _, Some(
      "SELECT l.l_orderkey, l.l_linenumber, d.nd_supp FROM lineitem l JOIN (SELECT l_orderkey, count(DISTINCT l_suppkey)::BIGINT AS nd_supp FROM lineitem GROUP BY 1) d USING (l_orderkey) ORDER BY l_orderkey, l_linenumber")),
    QueryDef("b56_join_null_safe", b56 _, Some(
      "WITH l AS (SELECT nullif(lang, 'zh') AS lang_k, count(*)::BIGINT AS n_all FROM documents GROUP BY 1), r AS (SELECT nullif(lang, 'zh') AS lang_k, count(*)::BIGINT AS n_sub FROM documents WHERE source IN ('src1', 'src2', 'src3') GROUP BY 1) SELECT l.lang_k, l.n_all, r.n_sub FROM l JOIN r ON l.lang_k IS NOT DISTINCT FROM r.lang_k ORDER BY l.lang_k NULLS FIRST")),
    QueryDef("b55_join_dpp", b55 _, Some(
      "SELECT lang, count(*)::BIGINT AS n_docs, sum(n_chars)::BIGINT AS chars FROM documents WHERE lang < 'm' GROUP BY lang ORDER BY lang")),
    QueryDef("b54_agg_filter", b54 _, Some(
      "SELECT l_returnflag, count(*)::BIGINT AS n, (count(*) FILTER (WHERE l_quantity >= 25))::BIGINT AS n_heavy, (count(*) FILTER (WHERE l_discount = 0.0))::BIGINT AS n_undiscounted, (sum((l_extendedprice * (1 - l_discount))::DECIMAL(18,4)) FILTER (WHERE l_shipdate >= TIMESTAMP '1998-01-01'))::DOUBLE AS rev_recent FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag")),
    QueryDef("b51_gap_fill", b51 _, Some(
      "WITH e AS (SELECT event_id, user_id, event_type, epoch_us(ts) AS us, value FROM events), m AS (SELECT *, CASE WHEN event_type <> 'error' THEN value END AS obs, CASE WHEN event_type <> 'error' THEN us END AS obs_us FROM e), f AS (SELECT event_id, user_id, event_type, us, obs, last_value(obs IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY us, event_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pv, last_value(obs_us IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY us, event_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pus, first_value(obs IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY us, event_id ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS nv, first_value(obs_us IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY us, event_id ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS nus FROM m) SELECT event_id, user_id, (event_type = 'error') AS was_gap, CASE WHEN obs IS NOT NULL THEN obs WHEN pv IS NOT NULL AND nv IS NOT NULL AND nus <> pus THEN pv + (nv - pv) * ((us - pus)::DOUBLE / (nus - pus)::DOUBLE) ELSE coalesce(pv, nv, -1.0) END AS filled FROM f ORDER BY event_id")),
    QueryDef("b52_flagship_q3", b52 _, Some(
      "SELECT o_orderkey, o_orderdate, sum((l_extendedprice * (1 - l_discount))::DECIMAL(18,4))::DOUBLE AS revenue FROM customer JOIN orders ON c_custkey = o_custkey JOIN lineitem ON l_orderkey = o_orderkey WHERE c_mktsegment = 'BUILDING' AND o_orderdate < TIMESTAMP '1998-06-01' AND l_shipdate > TIMESTAMP '1998-06-01' GROUP BY 1, 2 ORDER BY revenue DESC, o_orderkey LIMIT 10")),
    QueryDef("b53_percentile_exact", b53 _, Some(
      "SELECT l_returnflag, count(*)::BIGINT AS n, quantile_cont(l_quantity, 0.25) AS q1, quantile_cont(l_quantity, 0.5) AS q2, quantile_cont(l_quantity, 0.75) AS q3 FROM lineitem GROUP BY 1 ORDER BY 1")),
    QueryDef("b48_subquery_exists", b48 _, Some(
      "SELECT s_suppkey, s_name FROM supplier WHERE EXISTS (SELECT 1 FROM lineitem WHERE l_suppkey = s_suppkey AND l_returnflag = 'R') AND NOT EXISTS (SELECT 1 FROM lineitem WHERE l_suppkey = s_suppkey AND l_quantity >= 49 AND l_discount >= 0.10) ORDER BY s_suppkey")),
    QueryDef("b49_join_lateral", b49 _, Some(
      "SELECT n_nationkey, n_name, c.n_cust, c.max_bal, c.sum_bal FROM nation, LATERAL (SELECT count(*)::BIGINT AS n_cust, max(c_acctbal) AS max_bal, sum(c_acctbal::DECIMAL(18,2))::DOUBLE AS sum_bal FROM customer WHERE c_nationkey = n_nationkey) c ORDER BY n_nationkey")),
    QueryDef("b50_graph_bfs", b50 _, Some(
      "WITH RECURSIVE e AS (SELECT DISTINCT -(l_suppkey + 1) AS u, l_partkey AS v FROM lineitem UNION SELECT DISTINCT l_partkey, -(l_suppkey + 1) FROM lineitem), bfs(node, d) AS (SELECT (-2)::BIGINT, 0 UNION SELECT e.v, bfs.d + 1 FROM e JOIN bfs ON e.u = bfs.node WHERE bfs.d < 4), md AS (SELECT node, min(d) AS d FROM bfs GROUP BY 1) SELECT d::BIGINT AS dist, count(*)::BIGINT AS n_nodes, min(node) AS min_node, max(node) AS max_node FROM md GROUP BY 1 ORDER BY 1")),
    QueryDef("b47_agg_ordered_list", b47 _, Some(
      "SELECT o_custkey, string_agg(o_orderkey::VARCHAR, ',' ORDER BY o_totalprice DESC, o_orderkey) AS orders_csv, count(*)::BIGINT AS n_orders FROM orders GROUP BY o_custkey ORDER BY o_custkey")),
    QueryDef("b46_topk_agg", b46 _, Some(
      "SELECT * FROM (SELECT o_custkey, o_orderkey, o_totalprice, row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rn FROM orders) WHERE rn <= 3 ORDER BY o_custkey, rn")),
    QueryDef("b45_merge_cdc", b45 _, Some(
      "WITH snap AS (SELECT c_custkey AS key, floor(c_acctbal * 100)::BIGINT AS bal_cents FROM customer), off AS (SELECT max(c_custkey) + 1 AS o FROM customer), batch AS (SELECT key, bal_cents + 10000 AS new_bal, 'U' AS op FROM snap WHERE key % 10 = 3 UNION ALL SELECT key, 0, 'D' FROM snap WHERE key % 10 = 7 UNION ALL SELECT key + (SELECT o FROM off), bal_cents, 'I' FROM snap WHERE key % 100 = 0), m AS (SELECT CASE WHEN b.op IS NULL THEN 'unchanged' WHEN b.op = 'U' THEN 'updated' WHEN b.op = 'D' THEN 'deleted' ELSE 'inserted' END AS change, CASE WHEN b.op = 'D' THEN NULL WHEN b.op IS NULL THEN s.bal_cents ELSE b.new_bal END AS bal FROM snap s FULL OUTER JOIN batch b USING (key)) SELECT change, count(*)::BIGINT AS cnt, sum(bal)::BIGINT AS bal_cents_sum FROM m GROUP BY 1 ORDER BY 1")),
    QueryDef("b42_heavy_hitters", b42 _, Some(
      "WITH tok AS (SELECT unnest(string_split(text, ' ')) AS w FROM documents) SELECT w AS token, count(*)::BIGINT AS cnt FROM tok GROUP BY w HAVING count(*) * 40 >= (SELECT count(*) FROM tok) ORDER BY token")),
    QueryDef("b43_zorder_layout", b43 _, Some(
      s"WITH b AS (SELECT l_partkey % 65536 AS px, l_suppkey % 65536 AS sx FROM lineitem), z AS (SELECT px, sx, (${zWeave("px", "sx", "//")}) AS zkey FROM b) SELECT (zkey // 1048576)::BIGINT AS bucket, count(*)::BIGINT AS cnt, min(px)::BIGINT AS min_pk, max(px)::BIGINT AS max_pk, min(sx)::BIGINT AS min_sk, max(sx)::BIGINT AS max_sk FROM z GROUP BY 1 ORDER BY 1")),
    QueryDef("b44_funnel_pattern", b44 _, Some(
      "WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS us, event_id FROM events WHERE event_type IN ('view','click','purchase')), st AS (SELECT user_id, event_type, us, event_id, last_value(CASE WHEN event_type='view' THEN us END IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY us, event_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS last_view FROM e), ck AS (SELECT user_id, event_type, us, event_id, last_value(CASE WHEN event_type='click' AND last_view IS NOT NULL AND us - last_view <= 86400000000 THEN us END IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY us, event_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS last_ck FROM st) SELECT user_id, min(us) AS funnel_us, count(*)::BIGINT AS n_conversions FROM ck WHERE event_type='purchase' AND last_ck IS NOT NULL AND us - last_ck <= 86400000000 GROUP BY user_id ORDER BY user_id")),
    QueryDef("b41_join_bloom_pruned", b41 _, Some(
      "SELECT p_type, count(*)::BIGINT AS cnt, sum((l_extendedprice * (1 - l_discount))::DECIMAL(18,4))::DOUBLE AS revenue FROM lineitem JOIN part ON l_partkey = p_partkey WHERE p_brand = 'Brand#13' GROUP BY 1 ORDER BY 1")),
    QueryDef("b39_join_skew_salted", b39 _, Some(
      "SELECT s_suppkey, s_name, count(*)::BIGINT AS cnt, sum((l_extendedprice * (1 - l_discount))::DECIMAL(18,4))::DOUBLE AS revenue FROM lineitem JOIN supplier ON l_suppkey = s_suppkey GROUP BY 1, 2 ORDER BY 1")),
    QueryDef("b40_sql_star_join", b40 _, Some(
      "SELECT n_name, count(*)::BIGINT AS cnt, sum((l_extendedprice * (1 - l_discount))::DECIMAL(18,4))::DOUBLE AS revenue FROM lineitem JOIN orders ON l_orderkey = o_orderkey JOIN customer ON o_custkey = c_custkey JOIN nation ON c_nationkey = n_nationkey JOIN region ON n_regionkey = r_regionkey WHERE r_name = 'ASIA' AND o_orderstatus = 'F' GROUP BY n_name ORDER BY revenue DESC, n_name")),
    QueryDef("b35_agg_countmin", b35 _, Some(
      s"WITH k AS (SELECT l_suppkey::BIGINT AS key FROM lineitem), cms AS (SELECT j.j, ${duckHash("j.j::VARCHAR || ':' || k.key::VARCHAR")} % 64 AS bucket, count(*)::BIGINT AS c FROM k, range(3) j(j) GROUP BY 1, 2), tru AS (SELECT key, count(*)::BIGINT AS true_cnt FROM k GROUP BY 1) SELECT t.key, t.true_cnt, min(c.c) AS cms_cnt FROM tru t JOIN cms c ON c.bucket = ${duckHash("c.j::VARCHAR || ':' || t.key::VARCHAR")} % 64 GROUP BY 1, 2 ORDER BY true_cnt DESC, key LIMIT 10")),
    QueryDef("b36_window_range_interval", b36 _, Some(
      "SELECT user_id, event_id, (count(*) OVER (PARTITION BY user_id ORDER BY epoch_us(ts) RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW))::BIGINT AS trailing_1h FROM events ORDER BY user_id, event_id")),
    QueryDef("b38_agg_bloom", b38 _, Some(
      s"WITH keys AS (SELECT DISTINCT l_partkey FROM lineitem WHERE l_returnflag = 'R'), bits AS (SELECT (${duckHash("'bloom:'||j.j::VARCHAR||':'||l_partkey::VARCHAR")} % 256) AS b FROM keys, range(4) j(j)), words AS (SELECT b // 63 AS w, bit_or(1::BIGINT << (b % 63)::INT) AS word FROM bits GROUP BY 1), probes AS (SELECT p_partkey FROM part WHERE p_partkey < 50), pb AS (SELECT p_partkey, (${duckHash("'bloom:'||j.j::VARCHAR||':'||p_partkey::VARCHAR")} % 256) AS b FROM probes, range(4) j(j)), chk AS (SELECT p.p_partkey, bool_and((coalesce(w.word, 0) & (1::BIGINT << (p.b % 63)::INT)) != 0) AS might_contain FROM pb p LEFT JOIN words w ON w.w = p.b // 63 GROUP BY 1) SELECT c.p_partkey, c.might_contain, (t.p_partkey IN (SELECT l_partkey FROM keys)) AS truly_contains FROM chk c JOIN probes t ON t.p_partkey = c.p_partkey ORDER BY 1")),
    QueryDef("b37_join_interval_bucketed", b37 _, Some(
      TierB.intervalJoinOracleSql)),
    QueryDef("b34_cube", b34 _, Some(
      "SELECT coalesce(l_returnflag, 'ALL') AS flag, coalesce(l_linestatus, 'ALL') AS status, count(*)::BIGINT AS cnt, sum(l_quantity::DECIMAL(18,2))::DOUBLE AS sum_qty FROM lineitem GROUP BY CUBE(l_returnflag, l_linestatus) ORDER BY 1, 2")),
    QueryDef("b33_agg_kmv_sketch", b33 _, Some(
      "WITH h AS (SELECT DISTINCT l_returnflag AS flag, ('0x' || substr(md5(l_partkey::VARCHAR), 1, 15))::BIGINT AS hv FROM lineitem), r AS (SELECT flag, hv, row_number() OVER (PARTITION BY flag ORDER BY hv) AS rn FROM h), e AS (SELECT flag, CASE WHEN max(rn) < 64 THEN max(rn) ELSE floor(63.0 * 1152921504606846976.0 / max(CASE WHEN rn = 64 THEN hv END))::BIGINT END AS est_dparts FROM r GROUP BY flag) SELECT e.flag AS l_returnflag, e.est_dparts, t.true_dparts FROM e JOIN (SELECT l_returnflag AS flag, count(DISTINCT l_partkey)::BIGINT AS true_dparts FROM lineitem GROUP BY 1) t ON e.flag = t.flag ORDER BY l_returnflag")),
    QueryDef("b32_join_asof_native", b32 _, Some(
      "SELECT p.event_id AS purchase_id, p.user_id, c.event_id AS click_id, (date_diff('microsecond', c.ts, p.ts) // 1000000)::BIGINT AS gap_s FROM (SELECT * FROM events WHERE event_type = 'purchase') p ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c ON p.user_id = c.user_id AND p.ts >= c.ts ORDER BY purchase_id")),
    QueryDef("b31_join_asof", b31 _, Some(
      "SELECT p.event_id AS purchase_id, p.user_id, c.event_id AS click_id, (date_diff('microsecond', c.ts, p.ts) // 1000000)::BIGINT AS gap_s FROM (SELECT * FROM events WHERE event_type = 'purchase') p ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c ON p.user_id = c.user_id AND p.ts >= c.ts ORDER BY purchase_id")),
    QueryDef("b27_agg_approx_quantile", b27 _, Some(
      s"WITH li AS (SELECT l_returnflag, round(l_extendedprice * 100)::BIGINT AS cents, (${duckHash("l_orderkey::VARCHAR || ':' || l_linenumber::VARCHAR")} % 10 = 0) AS in_sample FROM lineitem) SELECT l_returnflag, quantile_cont(cents, 0.5) AS p50_exact, quantile_cont(cents, 0.5) FILTER (WHERE in_sample) AS p50_sample, TRUE AS approx_ok FROM li GROUP BY 1 ORDER BY 1")),
    QueryDef("b28_window_distribution", b28 _, Some(
      "SELECT o_orderkey, ntile(4) OVER w AS nt, percent_rank() OVER w AS pr, cume_dist() OVER w AS cd, first_value(o_orderkey) OVER w AS fv FROM orders WINDOW w AS (PARTITION BY o_orderstatus ORDER BY o_totalprice DESC, o_orderkey) ORDER BY o_orderkey")),
    QueryDef("b29_pivot", b29 _, Some(
      "SELECT * FROM (PIVOT lineitem ON l_linestatus USING count(*) GROUP BY l_returnflag) ORDER BY l_returnflag")),
    QueryDef("b30_unpivot", b30 _, Some(
      "SELECT p_partkey, name, value FROM (UNPIVOT (SELECT p_partkey, p_retailprice AS price, p_size::DOUBLE AS size FROM part) ON price, size INTO NAME name VALUE value) ORDER BY p_partkey, name")),
    QueryDef("b1_scan_filter_project", b1 _, Some(
      "SELECT l_orderkey, l_linenumber, l_extendedprice FROM lineitem WHERE l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24 ORDER BY l_orderkey, l_linenumber")),
    QueryDef("b2_join_inner_hash", b2 _, Some(
      "SELECT o_orderkey, c_name, o_totalprice FROM orders JOIN customer ON o_custkey = c_custkey ORDER BY o_orderkey")),
    QueryDef("b3_join_broadcast", b3 _, Some(
      "SELECT l_orderkey, l_linenumber, p_brand, p_type FROM lineitem JOIN part ON l_partkey = p_partkey WHERE p_size < 10 ORDER BY l_orderkey, l_linenumber")),
    QueryDef("b4_join_semi_anti", b4 _, Some(
      "SELECT c_custkey, 'has' AS tag FROM customer WHERE c_custkey IN (SELECT o_custkey FROM orders) UNION ALL SELECT c_custkey, 'none' AS tag FROM customer WHERE c_custkey NOT IN (SELECT o_custkey FROM orders) ORDER BY c_custkey, tag")),
    QueryDef("b5_join_outer", b5 _, Some(
      "SELECT c_custkey, o_orderkey FROM customer LEFT JOIN orders ON c_custkey = o_custkey ORDER BY c_custkey, o_orderkey NULLS FIRST")),
    QueryDef("b6_join_theta_range", b6 _, Some(
      "SELECT a.user_id, count(*)::BIGINT AS pairs FROM events a JOIN events b ON a.user_id = b.user_id AND b.ts > a.ts AND b.ts <= a.ts + INTERVAL 1 HOUR GROUP BY 1 ORDER BY 1")),
    QueryDef("b7_agg_hash", b7 _, Some(
      "SELECT l_returnflag, l_linestatus, count(*)::BIGINT AS cnt, sum(l_quantity::DECIMAL(18,2))::DOUBLE AS sum_qty, sum(l_extendedprice::DECIMAL(18,2))::DOUBLE AS sum_base, sum((l_extendedprice * (1.0 - l_discount))::DECIMAL(18,4))::DOUBLE AS sum_disc_price, sum(l_quantity::DECIMAL(18,2))::DOUBLE / count(*) AS avg_qty FROM lineitem GROUP BY 1, 2 ORDER BY 1, 2")),
    QueryDef("b8_agg_distinct", b8 _, Some(
      "SELECT l_returnflag, count(DISTINCT l_partkey)::BIGINT AS dparts, count(DISTINCT l_suppkey)::BIGINT AS dsupps FROM lineitem GROUP BY 1 ORDER BY 1")),
    QueryDef("b9_agg_approx_distinct", b9 _, Some(
      "SELECT l_returnflag, count(DISTINCT l_partkey)::BIGINT AS exact_dparts, TRUE AS hll_ok FROM lineitem GROUP BY 1 ORDER BY 1")),
    QueryDef("b10_grouping_sets", b10 _, Some(
      "SELECT coalesce(l_returnflag, 'ALL') AS flag, coalesce(l_linestatus, 'ALL') AS status, count(*)::BIGINT AS cnt, sum(l_quantity::DECIMAL(18,2))::DOUBLE AS sum_qty FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus) ORDER BY 1, 2")),
    QueryDef("b11_window_rank", b11 _, Some(
      "SELECT o_custkey, o_orderkey, row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rn FROM orders ORDER BY o_custkey, rn")),
    QueryDef("b12_window_frame", b12 _, Some(
      "SELECT event_id, user_id, round(sum(value) OVER (PARTITION BY user_id ORDER BY ts, event_id ROWS BETWEEN 2 PRECEDING AND CURRENT ROW), 2) AS run_sum FROM events ORDER BY event_id")),
    QueryDef("b13_window_lead_lag", b13 _, Some(
      "SELECT event_id, user_id, value, lag(value, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_value FROM events ORDER BY event_id")),
    QueryDef("b14_sort_limit", b14 _, Some(
      "SELECT o_orderkey, o_totalprice FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 100")),
    QueryDef("b15_topk_per_group", b15 _, Some(
      "SELECT * FROM (SELECT o_custkey, o_orderkey, o_totalprice, row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rn FROM orders) WHERE rn <= 3 ORDER BY o_custkey, rn")),
    QueryDef("b16_set_ops", b16 _, Some(
      "SELECT 'union_distinct' AS op, count(*)::BIGINT AS cnt FROM (SELECT o_custkey AS k FROM orders UNION SELECT c_custkey FROM customer) UNION ALL SELECT 'intersect', count(*)::BIGINT FROM (SELECT o_custkey AS k FROM orders INTERSECT SELECT c_custkey FROM customer) UNION ALL SELECT 'except', count(*)::BIGINT FROM (SELECT o_custkey AS k FROM orders EXCEPT SELECT c_custkey FROM customer) ORDER BY op")),
    QueryDef("b17_dedup_exact", b17 _, Some(
      "SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem ORDER BY 1, 2")),
    QueryDef("b18_scalar_string", b18 _, Some(
      "SELECT p_partkey, lower(p_name) AS lname, upper(p_brand) AS ubrand, substr(p_type, 1, 4) AS t4, length(p_name)::INTEGER AS len, p_brand || ':' || p_type AS bt, (p_name LIKE '%bolt%') AS has_bolt, regexp_extract(p_brand, '[0-9]+') AS brandnum FROM part ORDER BY p_partkey")),
    QueryDef("b19_scalar_date", b19 _, Some(
      "SELECT o_orderkey, year(o_orderdate)::INTEGER AS y, month(o_orderdate)::INTEGER AS m, quarter(o_orderdate)::INTEGER AS q, date_trunc('month', o_orderdate)::TIMESTAMP AS mon, datediff('day', DATE '1995-01-01', o_orderdate::DATE)::INTEGER AS days_since FROM orders ORDER BY o_orderkey")),
    QueryDef("b20_scalar_math", b20 _, Some(
      "SELECT p_partkey, round(sqrt(p_retailprice), 6) AS sq, round(ln(p_retailprice), 6) AS lnp, abs(p_size - 10)::INTEGER AS ab, pow(p_size, 2) AS pw FROM part ORDER BY p_partkey")),
    QueryDef("b21_scalar_array", b21 _, Some(
      "SELECT vec_id, len(embedding)::BIGINT AS dim, embedding[1]::DOUBLE AS e0, len(list_filter(embedding, x -> x > 0))::BIGINT AS n_pos FROM embeddings ORDER BY vec_id")),
    QueryDef("b22_scalar_map_json", b22 _, Some(
      "SELECT event_id, json_extract_string(props, '$.k')::INTEGER AS k_val FROM events ORDER BY event_id")),
    QueryDef("b23_subquery", b23 _, Some(
      "SELECT o_orderkey, o_totalprice FROM orders WHERE o_totalprice > (SELECT avg(o_totalprice) FROM orders) AND o_custkey IN (SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING') ORDER BY o_orderkey")),
    QueryDef("b25_join_bucketed", b25 _, Some(
      "SELECT c_custkey, count(*)::BIGINT AS n_orders, sum(o_totalprice::DECIMAL(18,2))::DOUBLE AS total FROM orders JOIN customer ON o_custkey = c_custkey GROUP BY 1 ORDER BY 1")),
    QueryDef("b26_agg_salted", b26 _, Some(
      "SELECT l_returnflag, count(*)::BIGINT AS cnt, sum(l_quantity::DECIMAL(18,2))::DOUBLE AS sum_qty FROM lineitem GROUP BY 1 ORDER BY 1")),
    QueryDef("b24_udf_surface", b24 _, Some(
      "SELECT 'f_' || lower(l_returnflag) AS key, (sum(l_quantity::BIGINT) // count(*))::BIGINT AS qty_floor_avg, count(*)::BIGINT AS cnt FROM lineitem GROUP BY 1 ORDER BY 1")),
  )
}
