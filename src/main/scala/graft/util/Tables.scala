package graft.util

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Bridge

/** Schema-typed loaders for the driver-generated parquet corpus
  * (FIXTURES.md) plus shared oracle-parity helpers.
  *
  * Scale notes: every loader is a plain parquet scan, so Catalyst
  * pushes filters and prunes columns down to the file reader
  * (`PushedFilters`/`ReadSchema` in `.explain`). On a real cluster the
  * same code reads a partitioned table; nothing here assumes a single
  * file.
  */
object Tables {
  /** Analyzed-DataFrame memo: a benchmark/verify run reads the same ten
    * tables across ~100 queries, and `spark.read.parquet` pays file
    * listing + footer schema read + analysis EVERY call even when the
    * data itself is cached (the CacheManager dedups the scan, not the
    * plan work). One DataFrame per (session, dir, table) removes that
    * fixed per-query cost; entries die with the JVM (sessions here are
    * process-scoped).
    *
    * CONTRACT: table dirs are IMMUTABLE for the session (true for the
    * read-only testdata corpus these loaders serve). The memo pins the
    * first read's file listing, so an in-place rewrite of a memoized
    * path would read stale files — never route mutable sink dirs
    * through these loaders (sinks use TmpDir + direct spark.read).
    */
  private val memo =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String, String), DataFrame]()

  /** get/putIfAbsent rather than computeIfAbsent: `events` composes on
    * `table`, and a nested computeIfAbsent on the same map throws
    * "Recursive update". A racing duplicate build is harmless (both
    * DataFrames are equivalent; one wins the putIfAbsent).
    */
  private def memoized(key: (SparkSession, String, String))(
      mk: => DataFrame): DataFrame = {
    val hit = memo.get(key)
    if (hit != null) hit
    else {
      memo.putIfAbsent(key, mk)
      memo.get(key)
    }
  }

  def table(spark: SparkSession, sfDir: String, name: String): DataFrame =
    memoized((spark, sfDir, name)) {
      spark.read.parquet(s"$sfDir/$name.parquet")
    }

  def region(s: SparkSession, d: String): DataFrame    = table(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame    = table(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame  = table(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = table(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = table(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame    = table(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame  = table(s, d, "lineitem")
  /** Physical `events` file schema AS SPARK READS IT for this corpus —
    * probed from the parquet footer once per (session, dir), shared
    * with the streaming file source (StreamingDemo) so the two read
    * paths cannot drift, and so a driver-side corpus regeneration
    * (which has happened: TIMESTAMP(NANOS) → TIMESTAMP(MICROS,ntz)
    * between rounds 4 and 5) changes behavior instead of breaking it.
    * The probe relies on `spark.sql.legacy.parquet.nanosAsLong=true`,
    * which [[graft.GraftSession]] (and perfbench's session) set at build
    * time: a no-op for µs files and the only way a NANOS footer is
    * readable at all on Spark 4.
    */
  def eventsFileSchema(s: SparkSession,
      d: String): org.apache.spark.sql.types.StructType =
    table(s, d, "events").schema

  /** Normalize `events.ts` to a session-zoned TimestampType column,
    * branching on the type the reader actually produced:
    *   - LongType — parquet TIMESTAMP(NANOS) read via `nanosAsLong`:
    *     integer-divide to µs (`div`, not `/` — ns epochs exceed 2^53,
    *     double division would lose precision) and rebuild a timestamp.
    *     Lossless because the corpus has no sub-µs components.
    *   - TimestampNTZType — parquet TIMESTAMP(MICROS, isAdjustedToUTC
    *     =false), the current corpus: a plain cast. The graft session
    *     timezone is pinned to UTC (Bench/Verify/specs), so ntz≡ltz and
    *     the cast relabels without shifting the instant — matching
    *     DuckDB's view of the same file exactly.
    *   - TimestampType — already what every consumer wants.
    * Anything else fails loudly: a silent mis-normalization here cost
    * 27 queries across two rounds when the corpus changed underneath a
    * hardwired ns→µs divide.
    */
  def normalizeEventTs(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    df.schema("ts").dataType match {
      case LongType         => df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampNTZType => df.withColumn("ts", col("ts").cast("timestamp"))
      case TimestampType    => df
      case other => throw new IllegalStateException(
        s"events.ts: unexpected parquet-read type $other — corpus changed again? " +
          "Extend Tables.normalizeEventTs (and FIXTURES.md) for the new encoding.")
    }
  }

  /** Events table with `ts` normalized per [[normalizeEventTs]]. */
  def events(s: SparkSession, d: String): DataFrame =
    memoized((s, d, "events#ts")) {
      normalizeEventTs(table(s, d, "events"))
    }
  def documents(s: SparkSession, d: String): DataFrame = table(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = table(s, d, "embeddings")

  /** Portable 60-bit hash: identical in Spark and DuckDB.
    * Spark: the native codegen'd [[graft.functions.Md5Long]] (top 60
    * bits of the md5 as a long — no hex-string materialization),
    * bit-identical to the composed `conv(substr(md5(x),1,15),16,10)`;
    * DuckDB: `('0x'||substr(md5(x),1,15))::BIGINT`. The column holds
    * the expression itself, so it evaluates on any session. Never use
    * Spark's `hash`/`xxhash64` in an oracled output (SURVEY.md §7.4 #4).
    */
  def portableHash(c: Column): Column =
    Bridge.column(graft.functions.Md5Long(Bridge.expression(c.cast("string"))))

  /** DuckDB-side rendering of [[portableHash]] for oracle strings. */
  def duckHash(expr: String): String =
    s"('0x' || substr(md5(($expr)::VARCHAR), 1, 15))::BIGINT"

  /** Exact, order-independent sum of a 2-decimal money column: cast to
    * DECIMAL first (exact integer arithmetic under the hood), sum, then
    * cast the final value to DOUBLE. Both engines produce the identical
    * IEEE double because they convert the same exact decimal value.
    */
  def moneySum(c: Column): Column = sum(c.cast("decimal(18,2)")).cast("double")

  /** Same idea for 4-decimal derived money (e.g. price*(1-discount)):
    * the true product of two 2dp values is exactly on the 4dp grid, so
    * the double→decimal(18,4) rounding is unambiguous on both engines.
    */
  def moneySum4(c: Column): Column = sum(c.cast("decimal(18,4)")).cast("double")
}
