package graft.sources

import graft.SparkSpec
import org.apache.spark.sql.catalyst.analysis.NoSuchTableException
import org.apache.spark.sql.connector.catalog.{Identifier, TableCatalog}
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation

/** How `GraftMemCatalog.loadTable` resolves a name to a table face:
  * a stored table of the full name wins; `__changes` and `__files`
  * resolve over a merge-on-read parent, `__partitions` and
  * `__branch_<b>` over a copy-on-write parent, `__history` over both;
  * branches split at the last `__branch_`; anything else is
  * `NoSuchTableException`. Every read-only face serves a one-column
  * select equal to that column of its full select.
  */
class GraftMemFacesSpec extends SparkSpec {

  private def catalog(): TableCatalog = {
    spark.conf.set("spark.sql.catalog.graftmem",
      "graft.sources.GraftMemCatalog")
    spark.sessionState.catalogManager.catalog("graftmem")
      .asInstanceOf[TableCatalog]
  }

  private def load(name: String) =
    catalog().loadTable(Identifier.of(Array("db"), name))

  private def fresh(name: String, ddl: String): String = {
    catalog()
    val tbl = s"graftmem.db.$name"
    spark.sql(s"DROP TABLE IF EXISTS $tbl")
    spark.sql(s"CREATE TABLE $tbl $ddl")
    tbl
  }

  /** A copy-on-write table partitioned by `g` (two versions, a
    * branch `stage__files`) and a merge-on-read table (two versions,
    * one delete), the parents every face below resolves over.
    */
  private lazy val parents: (String, String) = {
    val cow = fresh("face_cow", "(key BIGINT, g BIGINT) PARTITIONED BY (g)")
    spark.range(6).selectExpr("id AS key", "id % 2 AS g")
      .writeTo(cow).append()
    spark.range(6, 9).selectExpr("id AS key", "id % 3 AS g")
      .writeTo(cow).append()
    spark.sql("CALL graftmem.system.create_branch('db.face_cow', " +
      "'stage__files')").collect()
    spark.sql("CALL graftmem.system.create_branch('db.face_cow', 'b')")
      .collect()
    spark.range(100, 102).selectExpr("id AS key", "1L AS g")
      .writeTo(s"${cow}__branch_b").append()
    val mor = fresh("face_mor", "(key BIGINT, bal BIGINT) " +
      "TBLPROPERTIES ('graft.row_level' = 'merge-on-read')")
    spark.range(8).selectExpr("id AS key", "id * 10 AS bal")
      .writeTo(mor).append()
    spark.sql(s"DELETE FROM $mor WHERE key < 2")
    spark.range(20, 23).selectExpr("id AS key", "id AS bal")
      .writeTo(mor).append()
    (cow, mor)
  }

  private def noSuchTable(name: String): Unit = {
    parents
    intercept[NoSuchTableException](load(name))
  }

  test("each face resolves over the parent flavour it serves") {
    parents
    val resolved = Seq(
      "face_mor__changes" -> Seq("key", "bal", "_change_type",
        "_commit_version", "_pos", "_row_id"),
      "face_mor__files" -> Seq("file_id", "commit_version", "pos_min",
        "pos_max", "rows_written", "live_rows", "deleted_rows", "min_key",
        "max_key"),
      "face_cow__partitions" -> Seq("group_key", "row_count",
        "last_modified_version"),
      "face_cow__branch_b" -> Seq("key", "g"),
      "face_cow__history" -> Seq("version", "live_rows", "n_columns",
        "n_tags", "is_current"),
      "face_mor__history" -> Seq("version", "live_rows", "n_columns",
        "n_tags", "is_current"))
    for ((name, cols) <- resolved) {
      val t = load(name)
      assert(t.name() == s"db.$name", name)
      assert(t.columns().map(_.name()).toSeq == cols, name)
    }
    assert(catalog().loadTable(Identifier.of(Array("db"), "face_cow"), "1")
      .name() == "db.face_cow VERSION AS OF 1")
    assert(catalog().loadTable(Identifier.of(Array("db"), "face_mor"), "2")
      .name() == "db.face_mor VERSION AS OF 2")
  }

  test("a face over the other flavour, a missing parent or a missing " +
      "branch is NoSuchTableException") {
    Seq("face_cow__changes", "face_cow__files", "face_mor__partitions",
      "face_mor__branch_b", "nope__changes", "nope__files",
      "nope__partitions", "nope__history", "nope__branch_b",
      "face_cow__branch_nope", "face_cow__branch_", "nope",
      "__history", "__branch_b").foreach(noSuchTable)
  }

  test("a branch whose name contains __ resolves at the last __branch_") {
    parents
    val t = load("face_cow__branch_stage__files")
    assert(t.isInstanceOf[GraftMemBranchTable])
    assert(t.name() == "db.face_cow__branch_stage__files")
    assert(spark.table("graftmem.db.face_cow__branch_stage__files").count()
      == 9L)
  }

  test("a stored table whose own name ends in a face suffix is itself") {
    // created while no `face_own` exists, so no face shadows the name
    catalog()
    spark.sql("DROP TABLE IF EXISTS graftmem.db.face_own")
    val own = fresh("face_own__files", "(key BIGINT)")
    spark.range(3).selectExpr("id AS key").writeTo(own).append()
    fresh("face_own", "(key BIGINT, bal BIGINT) " +
      "TBLPROPERTIES ('graft.row_level' = 'merge-on-read')")
    val t = load("face_own__files")
    assert(t.isInstanceOf[GraftMemTable])
    assert(t.name() == "db.face_own__files")
    assert(spark.table(own).count() == 3L)
    spark.sql(s"DROP TABLE $own")
    assert(load("face_own__files").name() == "db.face_own__files")
    assert(!load("face_own__files").isInstanceOf[GraftMemTable])
  }

  test("the read-only faces read only the selected column") {
    val (cow, mor) = parents
    for (face <- Seq(s"$cow VERSION AS OF 1", s"${cow}__history",
        s"${mor}__files", s"${cow}__partitions", s"${cow}__branch_b")) {
      val c = spark.sql(s"SELECT * FROM $face").columns.last
      val read = spark.sql(s"SELECT $c FROM $face").queryExecution
        .optimizedPlan.collect { case r: DataSourceV2ScanRelation =>
          r.scan.readSchema().fieldNames.toSeq }
      assert(read == Seq(Seq(c)), face)
    }
  }

  test("every read-only face serves one column as its full select does") {
    val (cow, mor) = parents
    val faces = Seq(s"$cow VERSION AS OF 1", s"$cow VERSION AS OF 2",
      s"$mor VERSION AS OF 2", s"${cow}__history", s"${mor}__history",
      s"${mor}__files", s"${cow}__partitions", s"${mor}__changes",
      s"${cow}__branch_b")
    for (face <- faces) {
      val all = spark.sql(s"SELECT * FROM $face")
      val full = all.collect()
      assert(full.nonEmpty, face)
      all.columns.zipWithIndex.foreach { case (c, i) =>
        val one = spark.sql(s"SELECT $c FROM $face").collect()
          .map(_.get(0).toString).sorted.toSeq
        assert(one == full.map(_.get(i).toString).sorted.toSeq, s"$face.$c")
      }
    }
  }
}
