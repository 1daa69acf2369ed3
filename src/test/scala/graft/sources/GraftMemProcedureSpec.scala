package graft.sources

import graft.SparkSpec
import org.apache.spark.sql.connector.catalog.{Identifier, ProcedureCatalog, Table, TableCapability}
import org.apache.spark.sql.types.{DataType, IntegerType, LongType, StringType, StructField, StructType}

/** The `CALL graftmem.system.*` contract, one row per procedure: bound
  * parameter names and types, the result set's schema (names, types,
  * non-null), the missing-table and wrong-flavour failures (exception
  * type and message), the argument checks that run before the table
  * lookup, and the unknown-name failure. Everything runs in the shared
  * session.
  */
class GraftMemProcedureSpec extends SparkSpec {

  /** One procedure's contract. `flavour` is the table kind the call
    * succeeds on ("cow" / "mor"); `args` follows the table argument;
    * `setup` runs against the fresh table before the successful call;
    * `wrong` is the table kind it refuses, with the exception it throws.
    */
  private case class Proc(name: String, flavour: String, args: String,
      params: Seq[(String, DataType)], out: Seq[(String, DataType)],
      wrong: String, wrongErr: Class[_ <: Exception], wrongMsg: String,
      setup: String => Unit = _ => ())

  private val S = StringType
  private val L = LongType
  private val IAE = classOf[IllegalArgumentException]
  private val UOE = classOf[UnsupportedOperationException]
  private def call(name: String, tbl: String, args: String) =
    spark.sql(s"CALL graftmem.system.$name('$tbl'$args)").collect()

  private val procs = Seq(
    Proc("compact", "mor", "", Seq("table" -> S),
      Seq("tombstones_dropped" -> L, "inserts_folded" -> L, "live_rows" -> L),
      "cow", IAE, "is copy-on-write"),
    Proc("create_tag", "cow", ", 't1', 1", Seq("table" -> S, "tag" -> S,
      "version" -> L), Seq("tag" -> S, "version" -> L),
      "plain", IAE, "keeps no snapshot history"),
    Proc("create_branch", "cow", ", 'b'", Seq("table" -> S, "branch" -> S),
      Seq("branch" -> S, "base_version" -> L),
      "mor", IAE, "is merge-on-read"),
    Proc("fast_forward", "cow", ", 'main', 'b'", Seq("table" -> S,
      "to" -> S, "from" -> S),
      Seq("published_rows" -> L, "branch_commits" -> L, "new_version" -> L),
      "mor", IAE, "keeps no branches",
      t => call("create_branch", t, ", 'b'")),
    Proc("drop_branch", "cow", ", 'b'", Seq("table" -> S, "branch" -> S),
      Seq("branch" -> S, "staged_commits" -> L),
      "mor", IAE, "keeps no branches",
      t => call("create_branch", t, ", 'b'")),
    Proc("rewrite_files", "mor", ", 0", Seq("table" -> S, "min_dead_bp" -> L),
      Seq("files_rewritten" -> L, "rows_moved" -> L, "files_kept" -> L),
      "cow", IAE, "is copy-on-write"),
    Proc("rewrite_sort", "mor", ", 1", Seq("table" -> S,
      "n_files" -> IntegerType),
      Seq("files_before" -> L, "rows_sorted" -> L, "files_after" -> L),
      "cow", IAE, "is copy-on-write"),
    Proc("set_partition", "cow", ", 'g'", Seq("table" -> S, "col" -> S),
      Seq("partition_col" -> S, "legacy_rows" -> L, "version" -> L),
      "mor", IAE, "is merge-on-read"),
    Proc("expire_changelog", "mor", ", 1", Seq("table" -> S,
      "from_version" -> L),
      Seq("pruned_entries" -> L, "retained_entries" -> L,
        "floor_version" -> L),
      "cow", IAE, "keeps no change log"),
    Proc("expire_snapshots", "cow", ", 1", Seq("table" -> S,
      "keep_last" -> IntegerType),
      Seq("expired" -> L, "retained" -> L, "current_version" -> L),
      "plain", IAE, "keeps no snapshot history"),
    Proc("rollback", "cow", ", 1", Seq("table" -> S, "version" -> L),
      Seq("restored_version" -> L, "live_rows" -> L, "current_version" -> L),
      "mor", UOE, "is not a copy-on-write graftmem table",
      t => spark.range(4, 6).selectExpr("id AS key", "id % 2 AS g")
        .writeTo(s"graftmem.$t").append()),
    Proc("clone_table", "cow", ", 'db.pc_clone_dst'",
      Seq("src" -> S, "dst" -> S),
      Seq("cloned_rows" -> L, "src_version" -> L),
      "mor", UOE, "is not a copy-on-write graftmem table",
      _ => spark.sql("DROP TABLE IF EXISTS graftmem.db.pc_clone_dst")))

  private def catalog(): ProcedureCatalog = {
    spark.conf.set("spark.sql.catalog.graftmem",
      "graft.sources.GraftMemCatalog")
    spark.sessionState.catalogManager.catalog("graftmem")
      .asInstanceOf[ProcedureCatalog]
  }

  /** A fresh graftmem table of the given kind with one committed
    * version; "plain" is a registered table of neither flavour.
    */
  private def fresh(kind: String, name: String): String = {
    catalog()
    val tbl = s"db.$name"
    kind match {
      case "plain" =>
        if (GraftMemCatalog.lookup(tbl) == null)
          GraftMemCatalog.register(tbl, new Table {
            override def name(): String = tbl
            override def capabilities(): java.util.Set[TableCapability] =
              java.util.Collections.emptySet()
          })
      case _ =>
        spark.sql(s"DROP TABLE IF EXISTS graftmem.$tbl")
        spark.sql(s"CREATE TABLE graftmem.$tbl (key BIGINT, g BIGINT)" +
          (if (kind == "mor")
            " TBLPROPERTIES ('graft.row_level' = 'merge-on-read')"
          else ""))
        spark.range(4).selectExpr("id AS key", "id % 2 AS g")
          .writeTo(s"graftmem.$tbl").append()
    }
    tbl
  }

  private def fails(err: Class[_ <: Exception], msg: String)(
      body: => Any): Unit = {
    val e = intercept[Exception](body)
    assert(e.getClass == err, s"${e.getClass.getName}: ${e.getMessage}")
    assert(e.getMessage.contains(msg), e.getMessage)
  }

  test("the procedure list is the twelve procedures") {
    assert(catalog().listProcedures(Array("system")).map(_.name()).toSet ==
      procs.map(_.name).toSet)
  }

  for (p <- procs) {
    test(s"CALL ${p.name}: parameters, result schema, missing table, " +
        "wrong flavour") {
      val proc = catalog().loadProcedure(Identifier.of(Array("system"), p.name))
      assert(proc.name() == p.name)
      val bound = proc.bind(StructType(p.params.map { case (n, t) =>
        StructField(n, t) }))
      assert(bound.name() == p.name && !bound.isDeterministic)
      assert(bound.parameters().map(q => q.name() -> q.dataType()).toSeq ==
        p.params)

      val tbl = fresh(p.flavour, s"pc_${p.name}")
      p.setup(tbl)
      val res = spark.sql(s"CALL graftmem.system.${p.name}('$tbl'${p.args})")
      assert(res.schema == StructType(p.out.map { case (n, t) =>
        StructField(n, t, nullable = false) }), res.schema.treeString)
      assert(res.collect().length == 1)

      fails(IAE, s"${p.name}: no graftmem table named 'db.pc_nope'") {
        call(p.name, "db.pc_nope", p.args)
      }
      val other = fresh(p.wrong, s"pc_${p.name}_${p.wrong}")
      fails(p.wrongErr, s"${p.name}: '$other' ${p.wrongMsg}") {
        call(p.name, other, p.args)
      }
    }
  }

  test("clone_table binds (src, dst) and (src, dst, version)") {
    val proc = catalog().loadProcedure(
      Identifier.of(Array("system"), "clone_table"))
    val three = Seq("src" -> S, "dst" -> S, "version" -> L)
    assert(proc.bind(StructType(three.map { case (n, t) => StructField(n, t) }))
      .parameters().map(q => q.name() -> q.dataType()).toSeq == three)
    val tbl = fresh("cow", "pc_clone_v")
    spark.sql("DROP TABLE IF EXISTS graftmem.db.pc_clone_v1")
    val res = spark.sql(
      s"CALL graftmem.system.clone_table('$tbl', 'db.pc_clone_v1', 1)")
    assert(res.schema.map(f => (f.name, f.dataType, f.nullable)) ==
      Seq(("cloned_rows", L, false), ("src_version", L, false)))
    assert(res.collect().toSeq.map(r => (r.getLong(0), r.getLong(1))) ==
      Seq((4L, 1L)))
  }

  test("argument checks run before the table lookup") {
    val checks = Seq(
      ("rewrite_files", ", -1", "min_dead_bp is basis points in [0, 10000]"),
      ("rewrite_files", ", 10001", "min_dead_bp is basis points in [0, 10000]"),
      ("rewrite_sort", ", 0", "n_files must be >= 1, got 0"),
      ("expire_changelog", ", 0", "from_version must be >= 1, got 0"),
      ("expire_snapshots", ", 0", "keep_last must be >= 1, got 0"),
      ("fast_forward", ", 'dev', 'b'", "the publish target is 'main'"))
    for ((name, args, msg) <- checks)
      fails(IAE, s"$name: $msg")(call(name, "db.pc_nope", args))
  }

  test("an unknown procedure name fails loudly") {
    val msg = "graftmem: no procedure named 'nope'"
    fails(classOf[RuntimeException], msg) {
      catalog().loadProcedure(Identifier.of(Array("system"), "nope"))
    }
    // Spark reports it as FAILED_TO_LOAD_ROUTINE, caused by the above
    val e = intercept[Exception] {
      spark.sql("CALL graftmem.system.nope('db.pc_nope')").collect()
    }
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(_.getMessage.contains(msg)), e.getMessage)
  }
}
