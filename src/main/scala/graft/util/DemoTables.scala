package graft.util

import org.apache.spark.sql.SparkSession

/** Shared graftmem demo-table setup for every query that writes a
  * graftmem table or calls a graftmem function: register the catalog,
  * derive the per-corpus table name (md5 suffix keeps cross-corpus
  * runs disjoint), recreate fresh. ONE definition, in a tier-neutral
  * module — a drifted suffix scheme or catalog registration would
  * surface as cross-corpus table collisions, and the operator and
  * streaming tiers both need it without importing each other.
  * Registration stays on the query path, not in the session builder,
  * so every session a query runs on (a stream's cloned micro-batch
  * session included) resolves `graftmem.*`.
  */
object DemoTables {
  /** Register the graftmem catalog on `s`; idempotent. */
  def registerGraftmem(s: SparkSession): Unit =
    s.conf.set("spark.sql.catalog.graftmem", "graft.sources.GraftMemCatalog")

  /** First 8 hex digits of the corpus dir's md5: the per-corpus suffix
    * of every demo table and view name.
    */
  def corpusSuffix(d: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(d.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(8)

  /** Drop and recreate `graftmem.db.<prefix>_<suffix>`; `ddl` is
    * everything after the table name in CREATE TABLE.
    */
  def freshGraftmem(s: SparkSession, d: String,
      prefix: String, ddl: String): String = {
    registerGraftmem(s)
    val tbl = s"graftmem.db.${prefix}_${corpusSuffix(d)}"
    s.sql(s"DROP TABLE IF EXISTS $tbl")
    s.sql(s"CREATE TABLE $tbl $ddl")
    tbl
  }
}
