package graft.sources

import java.util
import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog._
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder, SupportsPushDownRequiredColumns}
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.types.{LongType, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** In-memory `TableCatalog` whose tables support GROUP-BASED ROW-LEVEL
  * OPERATIONS (`SupportsRowLevelOperations`) — the DSv2 face behind
  * real SQL `MERGE INTO` / `UPDATE` / `DELETE` (b75): Spark's
  * `RewriteMergeIntoTable` rewrites the command into a `ReplaceData`
  * plan that (1) SCANS the affected groups through the operation's own
  * scan builder, (2) computes the surviving row set (copied + updated +
  * inserted) as an ordinary distributed query, and (3) hands it to the
  * operation's write builder, whose commit REPLACES those groups
  * atomically — the copy-on-write lakehouse shape (Iceberg/Delta
  * group-based MERGE) at the connector extension point. b45 computes
  * the same CDC semantics with explicit joins; b75 lets the ENGINE
  * derive that plan from declarative SQL against this catalog.
  *
  * Scale notes, and what is demo-sized here: the table body lives
  * in a JVM-global map and each scan ships a group's rows inside one
  * InputPartition, so this catalog is a row-level-operation
  * DEMONSTRATION, not a storage engine — but the extension-point
  * mechanics (rewrite, scan, replace-commit, capability wiring,
  * runtime group filtering) are exactly what a real connector
  * implements, with groups = files and the commit an atomic manifest
  * swap. An unpartitioned table has a single group (every MERGE is a
  * full rewrite, b75); a `PARTITIONED BY (col)` table has one rewrite
  * group per value, and Spark's runtime row-level group filter + this
  * scan's `SupportsRuntimeV2Filtering` on `_group` narrow the rewrite
  * to TOUCHED groups only — b77 proves the narrowing by object
  * identity. That narrowing is the entire scale story of
  * copy-on-write.
  *
  * Registration: `spark.sql.catalog.graftmem = graft.sources
  * .GraftMemCatalog` (set lazily per session; the backing store is
  * JVM-global so every session sees the same tables).
  *
  * Concurrency contract: OPTIMISTIC, validated at commit — the
  * lakehouse shape. Every commit bumps the table version and records
  * it per touched rewrite group; a row-level operation's scan pins
  * the version it read, and its commit REJECTS (throws
  * [[GraftMemCommitConflictException]]) if any group it scanned was
  * modified by a commit with a later version — the lost update b75's
  * earlier rounds documented as a demo limitation is now impossible:
  * two MERGEs into DISJOINT groups both land, overlapping groups get
  * one success and one loud rejection (a real catalog retries the
  * loser from a fresh snapshot; the demo surfaces the conflict).
  * d23's streaming epoch ledger holds one max-epoch long per writing
  * query (epochs are monotone per run), so a long-lived table under a
  * continuous stream stays O(queries), not O(batches).
  */
class GraftMemCatalog extends TableCatalog with FunctionCatalog
    with ProcedureCatalog with SupportsNamespaces {
  import GraftMemCatalog._
  private var catalogName: String = "graftmem"
  override def initialize(
      name: String, options: CaseInsensitiveStringMap): Unit =
    catalogName = name
  override def name(): String = catalogName

  /** b87: the catalog accepts `CONSTRAINT ... CHECK (...)` at CREATE
    * (the planner gates constraint DDL on this capability).
    */
  override def capabilities(): java.util.Set[TableCatalogCapability] =
    util.EnumSet.of(TableCatalogCapability.SUPPORT_TABLE_CONSTRAINT,
      // b85: ALTER TABLE ... ADD COLUMNS (c <type> DEFAULT <literal>)
      // — the analyzer folds the default and hands it to alterTable
      TableCatalogCapability.SUPPORT_COLUMN_DEFAULT_VALUE)

  override def listTables(namespace: Array[String]): Array[Identifier] = {
    val ns = namespace.mkString(".")
    tables.keySet().toArray(Array.empty[String])
      .filter(_.startsWith(ns + "."))
      .map(k => Identifier.of(namespace, k.substring(ns.length + 1)))
  }
  override def loadTable(ident: Identifier): Table = {
    val t = tables.get(key(ident))
    if (t != null) return t
    // `<name>__changes` resolves to the CDC change-feed metadata
    // table over a merge-on-read parent (b83) — the Iceberg
    // `db.tbl.changes` convention with a suffix the identifier
    // grammar accepts verbatim.
    if (ident.name().endsWith("__changes")) {
      val parent = tables.get(key(Identifier.of(ident.namespace(),
        ident.name().stripSuffix("__changes"))))
      parent match {
        case m: GraftMemMorTable => return new MorChangesTable(m)
        case _                   => ()
      }
    }
    // `<name>__history` resolves to the snapshot-history metadata
    // table (b93) over either flavor — the Iceberg `db.tbl.snapshots`
    // convention with the suffix grammar the feed already uses.
    if (ident.name().endsWith("__history")) {
      val parent = tables.get(key(Identifier.of(ident.namespace(),
        ident.name().stripSuffix("__history"))))
      parent match {
        case h: GraftSnapshotHistory =>
          return new GraftHistoryTable(
            h.asInstanceOf[Table with GraftSnapshotHistory])
        case _ => ()
      }
    }
    // `<name>__files` / `<name>__partitions` resolve to the
    // file/partition-grain metadata tables (b94) — the Iceberg
    // `db.tbl.files` / `db.tbl.partitions` convention on the suffix
    // grammar: file ledger over merge-on-read, partition stats over
    // the partitioned copy-on-write flavor.
    if (ident.name().endsWith("__files")) {
      tables.get(key(Identifier.of(ident.namespace(),
        ident.name().stripSuffix("__files")))) match {
        case m: GraftMemMorTable => return new GraftFilesTable(m)
        case _                   => ()
      }
    }
    if (ident.name().endsWith("__partitions")) {
      tables.get(key(Identifier.of(ident.namespace(),
        ident.name().stripSuffix("__partitions")))) match {
        case g: GraftMemTable => return new GraftPartitionsTable(g)
        case _                => ()
      }
    }
    // `<name>__branch_<b>` resolves to a write-audit-publish branch
    // of a copy-on-write parent (b92) — same suffix grammar as the
    // change feed.
    val bi = ident.name().lastIndexOf("__branch_")
    if (bi > 0) {
      val parentName = ident.name().substring(0, bi)
      val branch = ident.name().substring(bi + "__branch_".length)
      tables.get(key(Identifier.of(ident.namespace(), parentName))) match {
        case g: GraftMemTable =>
          g.synchronized(g.branches.get(branch)) match {
            case Some(br) => return new GraftMemBranchTable(g, br)
            case None     => ()
          }
        case _ => ()
      }
    }
    throw new org.apache.spark.sql.catalyst.analysis
      .NoSuchTableException(ident)
  }

  /** TIME TRAVEL (b84): SQL `VERSION AS OF v` routes here via Spark's
    * `TimeTravelSpec`; both table flavors keep snapshot history (see
    * [[GraftSnapshotHistory]]).
    */
  override def loadTable(ident: Identifier, version: String): Table =
    loadTable(ident) match {
      case h: GraftSnapshotHistory => h.travelToVersion(version)
      case t => throw new UnsupportedOperationException(
        s"graftmem: table ${t.name()} keeps no snapshot history")
    }

  /** `TIMESTAMP AS OF ts` — `timestamp` is micros since epoch;
    * resolves to the latest snapshot committed at or before it.
    */
  override def loadTable(ident: Identifier, timestamp: Long): Table =
    loadTable(ident) match {
      case h: GraftSnapshotHistory => h.travelToTimestamp(timestamp)
      case t => throw new UnsupportedOperationException(
        s"graftmem: table ${t.name()} keeps no snapshot history")
    }
  /** CREATE with TABLE CONSTRAINTS (b87, Spark ≥ 4.1 TableInfo path):
    * `CONSTRAINT c CHECK (expr)` declarations arrive here; the table
    * STORES and REPORTS them (`Table.constraints()`), and the ENGINE
    * enforces enforced-CHECKs on every write plan
    * (ResolveTableConstraints injects the validation — a violating
    * row fails the write, no connector code in the hot path).
    */
  override def createTable(
      ident: Identifier,
      info: org.apache.spark.sql.connector.catalog.TableInfo): Table =
    createTableWithConstraints(ident, info.schema(), info.partitions(),
      info.properties(), info.constraints())

  override def createTable(
      ident: Identifier, schema: StructType,
      partitions: Array[Transform],
      properties: util.Map[String, String]): Table =
    createTableWithConstraints(ident, schema, partitions, properties,
      Array.empty)

  private def createTableWithConstraints(
      ident: Identifier, schema: StructType,
      partitions: Array[Transform],
      properties: util.Map[String, String],
      constraints: Array[org.apache.spark.sql.connector.catalog
        .constraints.Constraint]): Table = {
    // a namespace-less identifier would store a dot-free key that the
    // namespace listing cannot decompose
    require(ident.namespace().nonEmpty,
      s"graftmem tables live under a namespace (db.tbl), got " +
        s"'${ident.name()}'")
    // unpartitioned (one rewrite group) or PARTITIONED BY (col) — one
    // identity transform on a LONG column, one rewrite group per value
    val partCol = partitions match {
      case Array() => None
      case Array(t) if t.name() == "identity" &&
          t.references().length == 1 =>
        val col = t.references()(0).fieldNames().mkString(".")
        require(schema.fieldNames.contains(col),
          s"partition column $col not in schema")
        Some(col)
      case other => throw new UnsupportedOperationException(
        s"graftmem supports at most one identity partition, got " +
          other.mkString(", "))
    }
    // Row-level flavor is a TABLE PROPERTY, the way real lakehouse
    // formats pick it (`write.merge.mode = merge-on-read`): default is
    // copy-on-write (GraftMemTable, ReplaceData); 'merge-on-read'
    // creates the SupportsDelta flavor (GraftMemMorTable, WriteDelta).
    // WRITE LAYOUT property (a40): `graft.write_layout = 'c1,c2'`
    // makes every append DEMAND clustering by c1 and per-partition
    // ordering by (c1, c2, …) from the engine
    // (RequiresDistributionAndOrdering) — the Iceberg
    // write-distribution-mode shape.
    val layout = Option(properties.get("graft.write_layout"))
      .map(_.split(',').map(_.trim).filter(_.nonEmpty).toSeq)
      .getOrElse(Nil)
    // snapshot retention cap (b84): a bounded default so long-running
    // writers (one version per streaming epoch) hold O(keep) history
    val keep = Option(properties.get("graft.snapshot_keep"))
      .map(_.toInt).getOrElse(128)
    require(keep >= 1,
      s"graft.snapshot_keep must be >= 1, got $keep")
    val t: Table = properties.get("graft.row_level") match {
      case null | "copy-on-write" =>
        new GraftMemTable(key(ident), schema, partCol, layout,
          constraints, keep)
      case "merge-on-read" =>
        require(partCol.isEmpty,
          "graftmem merge-on-read flavor is unpartitioned (deltas " +
            "address rows by position, not by rewrite group)")
        require(layout.isEmpty,
          "graft.write_layout applies to the copy-on-write flavor; " +
            "a merge-on-read table's layout is delta-append by design " +
            "(compaction is where its physical order is restored)")
        // b91: delete addressing — positional `_pos` tombstones
        // (default) or key-addressed equality deletes scoped by a
        // position boundary (the Iceberg-v2 sequence-number shape)
        val delMode = Option(properties.get("graft.mor.deletes"))
          .getOrElse("position")
        new GraftMemMorTable(key(ident), schema, constraints, keep,
          delMode)
      case other => throw new UnsupportedOperationException(
        s"graftmem: unknown graft.row_level flavor '$other'")
    }
    val prev = tables.putIfAbsent(key(ident), t)
    if (prev != null)
      throw new org.apache.spark.sql.catalyst.analysis
        .TableAlreadyExistsException(
          (ident.namespace() :+ ident.name()).toSeq)
    t
  }
  /** SCHEMA EVOLUTION (b85 + b101): `ALTER TABLE ... ADD COLUMNS
    * (c <type> [DEFAULT <literal>])` is a METADATA-ONLY commit on
    * both flavors (no data pass; readers surface the new column on
    * pre-ALTER rows as its INITIAL DEFAULT — the Iceberg-v3
    * default-value shape, typed since round 11: BIGINT, INT, STRING,
    * BOOLEAN and DECIMAL literals, the type's zero value when no
    * DEFAULT is declared). The analyzer folds the DEFAULT expression
    * to a literal (gated on SUPPORT_COLUMN_DEFAULT_VALUE) before it
    * reaches the catalog. Round 13 adds, on the COPY-ON-WRITE flavor
    * (the merge-on-read flavor stays ADD-only — its position-keyed
    * delete/lineage/ledger machinery reads the lead column
    * physically):
    *
    *   - `RENAME COLUMN a TO b` — pure metadata (the physical slot
    *     doesn't move; [[GraftColMap]]).
    *   - `DROP COLUMN c` — metadata-only; the slot orphans, never
    *     reused, so a later ADD can't resurrect dropped data.
    *   - `ALTER COLUMN c TYPE BIGINT` (from INT) — the Iceberg-v3
    *     type-widening face: old rows keep narrow cells, reads
    *     coerce up through the widened-slot set.
    *
    * Positioned adds, nested columns and non-widening type changes
    * stay loudly unsupported.
    */
  override def alterTable(
      ident: Identifier, changes: TableChange*): Table = {
    val t = loadTable(ident)
    // VALIDATE every change before applying ANY — DDL is atomic: a
    // multi-change ALTER with one unsupported change must leave the
    // table untouched, the same no-trace discipline every write
    // commit follows. Validation that needs table state (duplicate
    // names, column existence) happens under the table lock below;
    // here each change parses to a closed application thunk.
    sealed trait Alt
    case class Add(col: String,
        dt: org.apache.spark.sql.types.DataType, dflt: Any) extends Alt
    case class Rename(from: String, to: String) extends Alt
    case class Drop(col: String) extends Alt
    case class Widen(col: String,
        to: org.apache.spark.sql.types.DataType) extends Alt
    val alts: Seq[Alt] = changes.map {
      case add: TableChange.AddColumn
          if add.fieldNames().length == 1 &&
            GraftCell.supported(add.dataType()) &&
            add.position() == null =>
        val dflt = Option(add.defaultValue())
          .map(dv => GraftCell.fromLiteral(dv.getValue().value(),
            add.dataType()))
          .getOrElse(GraftCell.zeroOf(add.dataType()))
        Add(add.fieldNames()(0), add.dataType(), dflt)
      case rn: TableChange.RenameColumn if rn.fieldNames().length == 1 =>
        Rename(rn.fieldNames()(0), rn.newName())
      case del: TableChange.DeleteColumn if del.fieldNames().length == 1 =>
        Drop(del.fieldNames()(0))
      case up: TableChange.UpdateColumnType
          if up.fieldNames().length == 1 =>
        Widen(up.fieldNames()(0), up.newDataType())
      case other => throw new UnsupportedOperationException(
        "graftmem: supported ALTERs are ADD COLUMNS (top-level " +
          "BIGINT/INT/STRING/BOOLEAN/DECIMAL, appended last, optional " +
          "literal DEFAULT), RENAME COLUMN, DROP COLUMN and " +
          s"ALTER COLUMN TYPE (INT -> BIGINT); got $other")
    }
    val added = alts.collect { case Add(c, _, _) => c }
    require(added.distinct.length == added.length,
      s"graftmem: duplicate columns in one ALTER: $added")
    val isCow = t.isInstanceOf[GraftMemTable]
    if (!isCow && alts.exists(!_.isInstanceOf[Add]))
      throw new UnsupportedOperationException(
        s"graftmem: ${t.name()} is merge-on-read — RENAME/DROP/TYPE " +
          "evolution is supported on the copy-on-write flavor only " +
          "(this flavor's delete addressing and file ledger key the " +
          "lead column physically)")
    val apply: Alt => Unit = t match {
      case g: GraftMemTable => {
        case Add(c, dt, dflt) => g.addColumn(c, dt, dflt)
        case Rename(from, to) => g.renameColumn(from, to)
        case Drop(c)          => g.dropColumn(c)
        case Widen(c, to)     => g.widenColumn(c, to)
      }
      case m: GraftMemMorTable => {
        case Add(c, dt, dflt) => m.addColumn(c, dt, dflt)
        case other => throw new UnsupportedOperationException(
          s"graftmem: unreachable non-ADD on merge-on-read: $other")
      }
      case _ => throw new UnsupportedOperationException(
        s"graftmem: ${t.name()} does not support ALTER")
    }
    // hold the TABLE lock across validate + apply (each DDL method's
    // own synchronized is reentrant on the same monitor): without it
    // a concurrent DDL could land a conflicting column between this
    // statement's duplicate check and its apply loop and leave a
    // multi-change ALTER half-applied after all
    t.synchronized {
      // SIMULATE the whole change sequence against a shadow schema
      // BEFORE applying anything (atomicity): each DDL method
      // re-validates, but a multi-change statement whose Nth change
      // would fail must leave the table untouched, not half-evolved.
      val structural: Set[String] = t match {
        case g: GraftMemTable =>
          g.curPartCol.toSet ++ g.writeLayout.toSet
        case _ => Set.empty
      }
      var sim: Vector[(String, org.apache.spark.sql.types.DataType)] =
        t.schema().fields.toVector.map(f => (f.name, f.dataType))
      alts.foreach {
        case Add(c, dt, _) =>
          require(!sim.exists(_._1 == c),
            s"graftmem ${t.name()}: column $c already exists")
          sim = sim :+ ((c, dt))
        case Rename(from, to) =>
          val i = sim.indexWhere(_._1 == from)
          require(i >= 0, s"graftmem ${t.name()}: no column named $from")
          require(!sim.exists(_._1 == to),
            s"graftmem ${t.name()}: column $to already exists")
          require(!to.startsWith("_"),
            s"graftmem ${t.name()}: '_'-prefixed names are reserved " +
              s"for metadata columns, got $to")
          require(!structural.contains(from),
            s"graftmem ${t.name()}: cannot rename $from — it anchors " +
              "the table's partition transform / write layout")
          sim = sim.updated(i, (to, sim(i)._2))
        case Drop(c) =>
          require(sim.exists(_._1 == c),
            s"graftmem ${t.name()}: no column named $c")
          require(sim.length > 1,
            s"graftmem ${t.name()}: cannot drop the last column")
          require(!structural.contains(c),
            s"graftmem ${t.name()}: cannot drop $c — it anchors the " +
              "table's partition transform / write layout")
          sim = sim.filterNot(_._1 == c)
        case Widen(c, to) =>
          val i = sim.indexWhere(_._1 == c)
          require(i >= 0, s"graftmem ${t.name()}: no column named $c")
          require(sim(i)._2 == org.apache.spark.sql.types.IntegerType &&
              to == org.apache.spark.sql.types.LongType,
            s"graftmem ${t.name()}: only INT -> BIGINT widening is " +
              s"supported, got ${sim(i)._2} -> $to on $c")
          sim = sim.updated(i, (c, to))
      }
      alts.foreach(apply)
    }
    t
  }
  override def dropTable(ident: Identifier): Boolean =
    tables.remove(key(ident)) != null
  override def renameTable(from: Identifier, to: Identifier): Unit =
    throw new UnsupportedOperationException("graftmem: RENAME unsupported")

  private def key(ident: Identifier): String =
    (ident.namespace() :+ ident.name()).mkString(".")

  /** FUNCTION CATALOG face (b76): catalog-resolved functions — one
    * definition every session sees, vs the per-session function
    * registry. `cosine_sim` here IS the native Expression's kernel
    * ([[graft.functions.CosineSimV2]] shares
    * `graft.functions.CosineSim.compute`), so the two surfaces are
    * bit-identical by construction.
    */
  /** PROCEDURE CATALOG face (b82): table-maintenance actions as
    * catalog-governed SQL `CALL`s — `CALL graftmem.system
    * .compact('db.tbl')` folds a merge-on-read table's delta log into
    * its base and returns the maintenance summary as the CALL's
    * result set (the Iceberg `rewrite_data_files` shape at the Spark
    * extension point).
    */
  override def listProcedures(namespace: Array[String]): Array[Identifier] =
    Array(Identifier.of(namespace, "compact"),
      Identifier.of(namespace, "create_tag"),
      Identifier.of(namespace, "create_branch"),
      Identifier.of(namespace, "fast_forward"),
      Identifier.of(namespace, "drop_branch"),
      Identifier.of(namespace, "rewrite_files"),
      Identifier.of(namespace, "rewrite_sort"),
      Identifier.of(namespace, "set_partition"),
      Identifier.of(namespace, "expire_changelog"),
      Identifier.of(namespace, "expire_snapshots"),
      Identifier.of(namespace, "rollback"),
      Identifier.of(namespace, "clone_table"))
  override def loadProcedure(ident: Identifier)
      : org.apache.spark.sql.connector.catalog.procedures.UnboundProcedure =
    ident.name() match {
      case "compact"          => MorCompactProcedure
      case "create_tag"       => CreateTagProcedure
      case "create_branch"    => CreateBranchProcedure
      case "fast_forward"     => FastForwardProcedure
      case "drop_branch"      => DropBranchProcedure
      case "rewrite_files"    => RewriteFilesProcedure
      case "rewrite_sort"     => RewriteSortProcedure
      case "set_partition"    => SetPartitionProcedure
      case "expire_changelog" => ExpireChangelogProcedure
      case "expire_snapshots" => ExpireSnapshotsProcedure
      case "rollback"         => RollbackProcedure
      case "clone_table"      => CloneTableProcedure
      case other => throw new RuntimeException(
        s"graftmem: no procedure named '$other'")
    }

  /** NAMESPACE face (`SupportsNamespaces`): `CREATE/ALTER/DROP
    * NAMESPACE`, `SHOW NAMESPACES`, `DESCRIBE NAMESPACE` — the
    * catalog-hierarchy DDL a real catalog governs alongside its
    * tables. A namespace EXISTS iff declared by DDL or holding live
    * tables (the demo's pre-namespace tables stay reachable);
    * single-level namespaces only (the grammar the demo tables use),
    * nesting stays loudly unsupported. DROP of a non-empty namespace
    * requires CASCADE — the engine-side guard against silently
    * orphaning tables.
    */
  private def tablesInNs(ns: Array[String]): Seq[String] = {
    val p = ns.mkString(".") + "."
    tables.keySet().toArray(Array.empty[String]).filter(_.startsWith(p))
      .toSeq
  }
  override def namespaceExists(namespace: Array[String]): Boolean =
    namespaces.containsKey(namespace.mkString(".")) ||
      tablesInNs(namespace).nonEmpty
  override def listNamespaces(): Array[Array[String]] = {
    val implied = tables.keySet().toArray(Array.empty[String])
      .filter(_.contains(".")) // belt alongside createTable's require
      .map(k => k.substring(0, k.lastIndexOf('.')))
    (namespaces.keySet().toArray(Array.empty[String]) ++ implied)
      .distinct.sorted.map(k => k.split('.'): Array[String])
  }
  override def listNamespaces(
      namespace: Array[String]): Array[Array[String]] =
    if (namespace.isEmpty) listNamespaces()
    else if (namespaceExists(namespace)) Array.empty // no nesting
    else throw new org.apache.spark.sql.catalyst.analysis
      .NoSuchNamespaceException(namespace)
  override def loadNamespaceMetadata(
      namespace: Array[String]): util.Map[String, String] = {
    val m = namespaces.get(namespace.mkString("."))
    // copy under the same monitor alterNamespace mutates under — an
    // unsynchronized iteration could tear against a racing SET
    if (m != null) m.synchronized(new util.HashMap(m))
    else if (tablesInNs(namespace).nonEmpty)
      new util.HashMap[String, String]()
    else throw new org.apache.spark.sql.catalyst.analysis
      .NoSuchNamespaceException(namespace)
  }
  override def createNamespace(namespace: Array[String],
      metadata: util.Map[String, String]): Unit = {
    require(namespace.length == 1,
      s"graftmem supports single-level namespaces, got " +
        namespace.mkString("."))
    if (namespaceExists(namespace) ||
      namespaces.putIfAbsent(namespace.mkString("."),
        new util.HashMap(metadata)) != null)
      throw new org.apache.spark.sql.catalyst.analysis
        .NamespaceAlreadyExistsException(namespace)
  }
  override def alterNamespace(namespace: Array[String],
      changes: NamespaceChange*): Unit = {
    if (!namespaceExists(namespace))
      throw new org.apache.spark.sql.catalyst.analysis
        .NoSuchNamespaceException(namespace)
    // a data-implied namespace materializes on first ALTER
    val props = namespaces.computeIfAbsent(namespace.mkString("."),
      _ => new util.HashMap[String, String]())
    props.synchronized {
      changes.foreach {
        case s: NamespaceChange.SetProperty =>
          props.put(s.property(), s.value())
        case r: NamespaceChange.RemoveProperty =>
          props.remove(r.property())
        case other => throw new UnsupportedOperationException(
          s"graftmem: unsupported namespace change $other")
      }
    }
  }
  override def dropNamespace(
      namespace: Array[String], cascade: Boolean): Boolean = {
    val inNs = tablesInNs(namespace)
    if (inNs.nonEmpty && !cascade)
      throw new org.apache.spark.sql.catalyst.analysis
        .NonEmptyNamespaceException(namespace)
    val declared = namespaces.remove(namespace.mkString(".")) != null
    inNs.foreach(tables.remove)
    declared || inNs.nonEmpty
  }

  override def listFunctions(namespace: Array[String]): Array[Identifier] =
    Array(Identifier.of(namespace, "cosine_sim"),
      Identifier.of(namespace, "kmv_distinct"))
  override def loadFunction(ident: Identifier)
      : org.apache.spark.sql.connector.catalog.functions.UnboundFunction =
    ident.name() match {
      case "cosine_sim"   => graft.functions.CosineSimV2Unbound
      case "kmv_distinct" => graft.functions.KmvDistinctV2Unbound
      case _ => throw new org.apache.spark.sql.catalyst.analysis
        .NoSuchFunctionException(ident)
    }
}

object GraftMemCatalog {
  /** JVM-global store: catalog instances are created per session/name,
    * but a demo query registers, writes and reads within one JVM.
    */
  private val tables = new ConcurrentHashMap[String, Table]()

  /** DDL-declared namespaces (name → properties). `db` and `system`
    * are seeded: the demo's tables and procedures live there without
    * a CREATE NAMESPACE preamble, the way a warehouse ships a default
    * database.
    */
  private val namespaces =
    new ConcurrentHashMap[String, util.HashMap[String, String]]()
  private def seedNamespaces(): Unit = {
    namespaces.putIfAbsent("db", new util.HashMap[String, String]())
    namespaces.putIfAbsent("system", new util.HashMap[String, String]())
  }
  seedNamespaces()

  /** Test/dev reset — drops every table (the catalog equivalent of a
    * fresh warehouse dir).
    */
  def clearAll(): Unit = {
    tables.clear()
    namespaces.clear()
    seedNamespaces()
  }

  /** Procedure-side lookup by full `ns.name` key (null if absent). */
  private[sources] def lookup(fullName: String): Table =
    tables.get(fullName)

  /** Procedure-side registration (b105, clone_table): land a
    * procedure-built table under a full `ns.tbl` key, loudly
    * rejecting an existing name — the same putIfAbsent discipline
    * createTable uses.
    */
  private[sources] def register(fullName: String, t: Table): Unit = {
    require(fullName.contains("."),
      s"graftmem tables live under a namespace (db.tbl), got '$fullName'")
    if (tables.putIfAbsent(fullName, t) != null)
      throw new org.apache.spark.sql.catalyst.analysis
        .TableAlreadyExistsException(fullName.split('.').toSeq)
  }
}

/** Row payload shipped between driver and executors: externalized
  * values (Long / String), avoiding InternalRow serialization rules.
  * Only the types the demo schema uses are supported; unsupported
  * types fail loudly at write time.
  */
private[sources] class GraftMemTable(val fullName: String,
    tblSchema: StructType, val partitionCol: Option[String] = None,
    val writeLayout: Seq[String] = Nil,
    tblConstraints: Array[org.apache.spark.sql.connector.catalog
      .constraints.Constraint] = Array.empty,
    snapshotKeep: Int = 128)
    extends Table with SupportsRead with SupportsWrite
    with SupportsRowLevelOperations with SupportsMetadataColumns
    with SupportsAtomicPartitionManagement with SupportsDeleteV2
    with GraftSnapshotHistory {

  /** METADATA-ONLY DELETE (b97, `SupportsDeleteV2`): a `DELETE WHERE`
    * whose predicates constrain ONLY the partition column (=, IN, or
    * the trivial ALWAYS_TRUE / IS_NOT_NULL) executes as a GROUP DROP —
    * no scan, no rewrite, no row ever moves; Spark's
    * `OptimizeMetadataOnlyDeleteFromTable` converts the analyzed
    * row-level plan back into `DeleteFromTableExec` when
    * [[canDeleteWhere]] accepts (the Iceberg partition-predicate
    * metadata delete: drop manifests, not data). Anything touching a
    * data column declines and the engine keeps the copy-on-write
    * ReplaceData rewrite — pushback is an optimization contract,
    * never a semantics change. The drop is a versioned commit that
    * stamps every dropped group (an in-flight rewrite that scanned
    * one is a loud commit conflict) and records a snapshot (the
    * dropped data stays time-travelable).
    */
  private def partitionOnlyPredicate(
      p: org.apache.spark.sql.connector.expressions.filter.Predicate)
      : Option[Long => Boolean] = {
    import org.apache.spark.sql.connector.expressions.{Literal, NamedReference}
    def isPart(e: org.apache.spark.sql.connector.expressions.Expression) =
      e match {
        case f: NamedReference =>
          curPartCol.exists(c => f.fieldNames.sameElements(Array(c)))
        case _ => false
      }
    def longLit(e: org.apache.spark.sql.connector.expressions.Expression)
        : Option[Long] = e match {
      case l: Literal[_] => l.value() match {
        case n: java.lang.Number => Some(n.longValue())
        case _                   => None
      }
      case _ => None
    }
    p.name() match {
      case "ALWAYS_TRUE" => Some(_ => true)
      case "IS_NOT_NULL" if p.children().length == 1 &&
          isPart(p.children()(0)) => Some(_ => true)
      case "=" => p.children() match {
        case Array(a, b) if isPart(a) =>
          longLit(b).map(v => (g: Long) => g == v)
        case Array(a, b) if isPart(b) =>
          longLit(a).map(v => (g: Long) => g == v)
        case _ => None
      }
      case "IN" if p.children().nonEmpty && isPart(p.children()(0)) =>
        val vals = p.children().drop(1).map(longLit)
        if (vals.forall(_.isDefined)) {
          val set = vals.flatten.toSet
          Some((g: Long) => set.contains(g))
        } else None
      case _ => None
    }
  }

  override def canDeleteWhere(predicates: Array[
      org.apache.spark.sql.connector.expressions.filter.Predicate])
      : Boolean =
    curPartCol.isDefined &&
      predicates.forall(p => partitionOnlyPredicate(p).isDefined) &&
      // LEGACY rows (b103) predate the spec: a partition predicate
      // says nothing about them by metadata, so decline and let the
      // engine keep the row-level rewrite — pushback is an
      // optimization contract, never a semantics change (b97's rule)
      !rows.exists(_._1 == GraftMemTable.LEGACY)

  override def deleteWhere(predicates: Array[
      org.apache.spark.sql.connector.expressions.filter.Predicate])
      : Unit = synchronized {
    val tests = predicates.map(p => partitionOnlyPredicate(p).getOrElse(
      throw new UnsupportedOperationException(
        s"graftmem $fullName: deleteWhere got a non-partition " +
          s"predicate $p — canDeleteWhere should have declined")))
    // STORED groups: canDeleteWhere declines when legacy rows exist,
    // so every row here was written under the current spec
    val doomed = (g: Long) => tests.forall(_(g))
    val dropped = rows.iterator.map(_._1).filter(doomed).toSet
    rows = rows.filterNot(e => doomed(e._1))
    // a versioned commit even when zero groups matched — the DELETE
    // statement committed, exactly like an empty row-level rewrite
    stampCommit(dropped)
  }

  /** TABLE CONSTRAINTS (b87): stored and REPORTED — the engine reads
    * these off the table and injects enforced-CHECK validation into
    * every write plan (`ResolveTableConstraints`); the connector
    * never re-implements the check.
    */
  override def constraints(): Array[
    org.apache.spark.sql.connector.catalog.constraints.Constraint] =
    tblConstraints
  require(tblSchema.fields.forall(_.dataType == LongType),
    s"graftmem demo table supports LONG columns only, got $tblSchema")
  require(writeLayout.forall(tblSchema.fieldNames.contains),
    s"graft.write_layout columns $writeLayout not all in $tblSchema")

  override private[sources] def historyName: String = fullName
  override private[sources] def retainedVersions: Seq[(Long, Long)] =
    synchronized(snapshots.iterator
      .map { case (v, (_, t, _, _, _)) => (v, t) }.toSeq.sortBy(_._1))
  override private[sources] def snapshotAt(version: Long)
      : Option[(Vector[Array[Any]], StructType, Vector[Any], GraftColMap)] =
    synchronized(snapshots.get(version).map {
      // schema, defaults AND column map are pinned per commit (b101:
      // rename/drop/widen make the current vectors non-prefix-aligned
      // with historical schemas, so each snapshot carries its own)
      case (rs, _, sch, dflts, cm) => (rs.map(_._2), sch, dflts, cm)
    })
  override private[sources] def expireSnapshots(
      keepLast: Int): (Long, Long, Long) =
    synchronized(pruneSnapshots(snapshots, keepLast, commitVersion))

  /** Current committed content as (STORED GROUP, row). Replaced
    * atomically on commit. The group is fixed AT WRITE TIME under the
    * spec current then (b103, the Iceberg manifest-entry partition
    * tuple): partition evolution re-tags nothing — rows written
    * before it keep the [[GraftMemTable.LEGACY]] group, rows written
    * after land under the new transform, and the two generations mix
    * in one scan. Rows appended before an ALTER ADD COLUMN are
    * NARROWER than the current schema (readers pad the tail with the
    * column's initial default — see [[addColumn]]). Cells are
    * externalized values per [[GraftCell]].
    */
  @volatile private[sources] var rows: Vector[(Long, Array[Any])] =
    Vector.empty

  /** Current schema; grows via [[addColumn]]. */
  @volatile private var curSchema: StructType = tblSchema

  /** Per-column INITIAL DEFAULTS, aligned with [[curSchema]]: fixed at
    * column-add time (CREATE columns default 0 — the LONG demo
    * contract), never rewritten into old rows. What a reader pads a
    * pre-ALTER row's missing tail with, on every face. A widen
    * (b101) upcasts the stored default in place — a reader padding a
    * BIGINT column must emit a Long, whatever the column's birth type.
    */
  @volatile private[sources] var colDefaults: Vector[Any] =
    tblSchema.fields.toVector.map(_ => java.lang.Long.valueOf(0L): Any)

  /** COLUMN MAPPING (b101): schema position → stable physical slot,
    * plus the widened-slot set — see [[GraftColMap]]. Every reader
    * resolves cells THROUGH this (old rows keep serving after
    * rename/drop/widen with zero data movement); every writer lands
    * cells AT these slots (width = physWidth, orphaned slots null —
    * unreachable, since no schema column maps to them).
    */
  @volatile private[sources] var colMap: GraftColMap =
    GraftColMap.identity(tblSchema.fields.length)

  /** Commit counter + last-modifying version per rewrite group — the
    * demo's transaction-log metadata. Guarded by `this` (the swap
    * lock); a row-level scan pins the version it read, and the
    * matching commit validates its scanned groups against these
    * (optimistic concurrency, the Iceberg/Delta commit-conflict
    * check with groups standing in for files).
    */
  private[sources] var commitVersion: Long = 0L
  private[sources] val groupVersion =
    scala.collection.mutable.HashMap.empty[Long, Long]

  /** SNAPSHOT HISTORY (b84, time travel): version → (committed rows,
    * commit wall-clock micros, schema as of the commit). Each entry is
    * a REFERENCE to the immutable row vector the commit swapped in —
    * recording one is O(1), exactly as a real format's snapshot is a
    * manifest-list pointer, not a data copy. What IS retained is what
    * copy-on-write always retains: a full rewrite's old data files
    * (here, the old vector) stay live as long as a snapshot references
    * them — which is why `CALL graftmem.system.expire_snapshots`
    * exists (the Iceberg expire_snapshots shape). Guarded by `this`.
    */
  private[sources] val snapshots = scala.collection.mutable.HashMap[
    Long, (Vector[(Long, Array[Any])], Long, StructType, Vector[Any],
      GraftColMap)](
    0L -> (Vector.empty, System.currentTimeMillis() * 1000L, tblSchema,
      tblSchema.fields.toVector.map(_ => java.lang.Long.valueOf(0L): Any),
      GraftColMap.identity(tblSchema.fields.length)))

  /** Bump the version, stamp `gs` as modified by it, and record the
    * post-commit snapshot — automatically pruned to the newest
    * `snapshotKeep` (`graft.snapshot_keep` table property), so a
    * long-running writer (a streaming query commits one version per
    * epoch) holds O(keep) history, not O(commits); an explicit
    * `expire_snapshots` CALL can cut deeper. Call ONLY while holding
    * the swap lock, AFTER `rows` holds the committed content.
    */
  private[sources] def stampCommit(gs: Iterable[Long]): Unit = {
    commitVersion += 1
    gs.foreach(g => groupVersion(g) = commitVersion)
    snapshots(commitVersion) =
      (rows, System.currentTimeMillis() * 1000L, curSchema, colDefaults,
        colMap)
    if (snapshots.size > snapshotKeep)
      pruneSnapshots(snapshots, snapshotKeep, commitVersion)
  }

  /** SNAPSHOT BRANCHES (b92): name → branch fork. A branch is an O(1)
    * REFERENCE to the content at fork time plus its own staged
    * appends; main's rows/version are untouched until fast_forward
    * publishes it (see [[GraftMemBranchTable]]). Guarded by `this`.
    */
  private[sources] val branches =
    scala.collection.mutable.HashMap.empty[String, GraftBranch]

  private[sources] def createBranch(branch: String): Long = synchronized {
    val b = branch.trim
    require(b.nonEmpty && b.matches("[A-Za-z0-9_-]+"),
      s"graftmem $fullName: branch names are [A-Za-z0-9_-]+, got '$branch'")
    require(!branches.contains(b),
      s"graftmem $fullName: branch '$b' already exists " +
        s"(base version ${branches(b).baseVersion})")
    branches(b) = new GraftBranch(b, commitVersion, rows, 0L)
    commitVersion
  }

  /** Abandon a branch without publishing (the failed-audit exit):
    * remove it, return its staged commit count. Main was never
    * touched, so there is nothing else to undo.
    */
  private[sources] def dropBranch(branch: String): Long = synchronized {
    branches.remove(branch.trim) match {
      case Some(br) => br.commits
      case None => throw new IllegalArgumentException(
        s"graftmem $fullName: no branch named '$branch' to drop " +
          s"(branches: ${branches.keys.toSeq.sorted.mkString(", ")})")
    }
  }

  /** Publish: atomic swap of main's content for the branch's, gated
    * on the fast-forward precondition (main unchanged since the
    * fork). The branch is consumed — WAP staging is ephemeral.
    */
  private[sources] def fastForward(branch: String): (Long, Long, Long) =
    synchronized {
      val br = branches.getOrElse(branch.trim,
        throw new IllegalArgumentException(
          s"graftmem $fullName: no branch named '$branch' " +
            s"(branches: ${branches.keys.toSeq.sorted.mkString(", ")})"))
      if (commitVersion != br.baseVersion)
        throw new GraftMemCommitConflictException(
          s"graftmem $fullName: cannot fast-forward 'main' to branch " +
            s"'${br.branchName}' — main moved from version " +
            s"${br.baseVersion} (the fork point) to $commitVersion; " +
            "re-stage from a fresh branch")
      val prev = rows
      rows = br.rows
      stampCommit((prev.iterator ++ rows.iterator).map(_._1).toSet)
      branches.remove(br.branchName)
      (rows.length.toLong, br.commits, commitVersion)
    }

  /** SCHEMA EVOLUTION (b85): append one typed column with its initial
    * default. Pre-existing rows are NOT rewritten — they are
    * physically narrower than the new schema, and every reader
    * surfaces the missing tail as the column's INITIAL DEFAULT, the
    * Iceberg-v3 default-value / Delta column-mapping shape: an ALTER
    * is a metadata commit, never a data pass. The commit stamps EVERY
    * existing group (a schema change touches all of them), so an
    * in-flight rewrite scanned under the old schema — group-pruned or
    * full — is a loud commit conflict; and it records a snapshot, so
    * `VERSION AS OF` a pre-ALTER version presents the pre-ALTER
    * schema (and its defaults).
    */
  private[sources] def addColumn(col: String,
      dt: org.apache.spark.sql.types.DataType, dflt: Any): Unit =
    synchronized {
      require(!curSchema.fieldNames.contains(col),
        s"graftmem $fullName: column $col already exists")
      curSchema = curSchema.add(col, dt, nullable = true)
      colDefaults = colDefaults :+ dflt
      // a FRESH physical slot, even if columns were dropped before:
      // slot reuse would resurrect dropped data under the new column
      colMap = colMap.copy(phys = colMap.phys :+ colMap.physWidth,
        physWidth = colMap.physWidth + 1)
      stampCommit(rows.iterator.map(_._1).toSet)
    }

  /** SCHEMA EVOLUTION beyond ADD (b101) — RENAME COLUMN: pure
    * metadata (the physical slot doesn't move; old AND new rows keep
    * serving through it — the Delta column-mapping / Iceberg field-id
    * contract). The partition and layout columns are structural
    * (their names live in partition transforms and write-distribution
    * requirements) — renaming them is rejected loudly.
    */
  private[sources] def renameColumn(from: String, to: String): Unit =
    synchronized {
      val i = curSchema.fieldNames.indexOf(from)
      require(i >= 0, s"graftmem $fullName: no column named $from")
      require(!curSchema.fieldNames.contains(to),
        s"graftmem $fullName: column $to already exists")
      require(!to.startsWith("_"),
        s"graftmem $fullName: '_'-prefixed names are reserved for " +
          s"metadata columns, got $to")
      require(!curPartCol.contains(from) && !writeLayout.contains(from),
        s"graftmem $fullName: cannot rename $from — it anchors the " +
          "table's partition transform / write layout")
      val f = curSchema.fields(i)
      curSchema = StructType(curSchema.fields.updated(i,
        f.copy(name = to)))
      stampCommit(rows.iterator.map(_._1).toSet)
    }

  /** DROP COLUMN (b101): metadata-only — the schema entry, its slot
    * mapping and its default go; the physical slot is ORPHANED, never
    * reused (see [[addColumn]]), so no stored row is touched and no
    * later column can resurrect the dropped data. Time travel keeps
    * serving the column at pre-drop versions (each snapshot pins its
    * own schema + map).
    */
  private[sources] def dropColumn(col: String): Unit = synchronized {
    val i = curSchema.fieldNames.indexOf(col)
    require(i >= 0, s"graftmem $fullName: no column named $col")
    require(curSchema.fields.length > 1,
      s"graftmem $fullName: cannot drop the last column")
    require(!curPartCol.contains(col) && !writeLayout.contains(col),
      s"graftmem $fullName: cannot drop $col — it anchors the " +
        "table's partition transform / write layout")
    curSchema = StructType(
      curSchema.fields.take(i) ++ curSchema.fields.drop(i + 1))
    colDefaults = colDefaults.take(i) ++ colDefaults.drop(i + 1)
    colMap = colMap.copy(
      phys = colMap.phys.take(i) ++ colMap.phys.drop(i + 1))
    stampCommit(rows.iterator.map(_._1).toSet)
  }

  /** TYPE WIDENING (b101, the Iceberg-v3 widening face): INT →
    * BIGINT, metadata-only — rows stored before the widen keep their
    * narrow cells and every reader coerces them up through the
    * widened-slot set ([[GraftColMap.widened]]); rows written after
    * store longs natively. The stored DEFAULT upcasts in place (a
    * BIGINT column must pad with a Long).
    */
  private[sources] def widenColumn(col: String,
      to: org.apache.spark.sql.types.DataType): Unit = synchronized {
    val i = curSchema.fieldNames.indexOf(col)
    require(i >= 0, s"graftmem $fullName: no column named $col")
    val from = curSchema.fields(i).dataType
    require(from == org.apache.spark.sql.types.IntegerType &&
        to == LongType,
      s"graftmem $fullName: only INT -> BIGINT widening is supported, " +
        s"got $from -> $to on $col")
    val f = curSchema.fields(i)
    curSchema = StructType(curSchema.fields.updated(i,
      f.copy(dataType = LongType)))
    colDefaults = colDefaults.updated(i, java.lang.Long.valueOf(
      colDefaults(i).asInstanceOf[java.lang.Number].longValue()))
    colMap = colMap.copy(widened = colMap.widened + colMap.phys(i))
    stampCommit(rows.iterator.map(_._1).toSet)
  }

  /** PARTITION EVOLUTION (b103): the CURRENT spec — the constructor's
    * partition column until `CALL graftmem.system.set_partition`
    * evolves an unpartitioned table to identity partitioning. Rows
    * written before the evolution keep the [[LEGACY]] stored group
    * (their "file" predates the spec — Iceberg's old-spec files);
    * only a rewrite that touches them migrates them (a row-level
    * operation's replaced groups re-land under the current spec).
    * Guarded by `this` for writes; volatile for lock-free reads.
    */
  @volatile private[sources] var curPartCol: Option[String] = partitionCol
  /** The current spec's CREATE-time column slot (-1 = unpartitioned).
    * CREATE columns are physically first, so every stored row has the
    * slot (setPartition only accepts CREATE-time columns).
    */
  @volatile private[sources] var curGroupSlot: Int =
    partitionCol.map(tblSchema.fieldIndex).getOrElse(-1)

  /** Rewrite-group id a row lands under TODAY (the current spec):
    * the identity-partition value, or 0 when unpartitioned (single
    * group). Partition columns are CREATE-time LONGs by contract.
    * A stored row's group is its vector tag, NOT this — this is the
    * write-time assignment.
    */
  private[sources] def groupOf(r: Array[Any]): Long = {
    val s = curGroupSlot
    if (s < 0) 0L else GraftCell.asLong(r(s))
  }

  /** ROLLBACK / RESTORE (b104, the Delta `RESTORE` / Iceberg
    * `rollback_to_snapshot` shape): set the table's CURRENT state back
    * to a retained snapshot's — rows (with their stored group tags),
    * schema, per-column defaults and column map, everything the
    * snapshot pins — as ONE NEW COMMIT. History is PRESERVED: the bad
    * commits stay time-travelable (`VERSION AS OF` still serves
    * them), the restore appears in `__history` as its own version,
    * and an in-flight row-level rewrite that scanned the pre-restore
    * state conflicts loudly (the restore stamps every group present
    * before OR after). O(1) data movement — the snapshot's immutable
    * row vector swaps in by reference, exactly as a real format's
    * restore commits a new manifest list pointing at the old files.
    *
    * Two loud refusals: an EXPIRED version is unrecoverable (the
    * time-travel contract), and a rollback ACROSS partition evolution
    * (b103) is rejected — pre-evolution snapshots tag their rows
    * under the old spec's group ids, which would alias current-spec
    * partition values if swapped in under the evolved transform.
    */
  private[sources] def rollbackTo(version: Long): (Long, Long) =
    synchronized {
      require(version != commitVersion,
        s"graftmem $fullName: already at version $version — nothing " +
          "to roll back")
      if (partitionEvolvedAt >= 0 && version < partitionEvolvedAt)
        throw new UnsupportedOperationException(
          s"graftmem $fullName: cannot roll back to version $version — " +
            s"the partition spec evolved at version $partitionEvolvedAt " +
            "and pre-evolution snapshots tag rows under the old spec; " +
            "restore the data through an explicit rewrite instead")
      val snap = snapshots.getOrElse(version, {
        val r = retainedVersions
        throw new IllegalArgumentException(
          s"graftmem $fullName: no retained snapshot for version " +
            s"$version (retained: ${if (r.isEmpty) "none"
              else s"${r.head._1}..${r.last._1}"}; expired snapshots " +
            "are unrecoverable)")
      })
      val prev = rows
      val (rs, _, sch, dflts, cm) = snap
      rows = rs
      curSchema = sch
      colDefaults = dflts
      colMap = cm
      stampCommit((prev.iterator ++ rows.iterator).map(_._1).toSet)
      (rows.length.toLong, commitVersion)
    }

  /** Version at which [[setPartition]] evolved the spec (-1 = never):
    * the rollback fence — see [[rollbackTo]].
    */
  @volatile private[sources] var partitionEvolvedAt: Long = -1L

  /** SHALLOW CLONE (b105, the Delta `CLONE` / Iceberg snapshot-export
    * shape): a NEW table whose version-1 content IS this table's
    * current content BY REFERENCE — the immutable row vectors are
    * SHARED, never copied (a real clone commits a new transaction log
    * whose manifests point at the source's existing data files; bytes
    * move only when either table diverges, and then only the
    * diverging commit's bytes). The clone carries the source's full
    * shape — evolved schema, column map, defaults, partition spec,
    * layout, constraints, retention cap — but starts its OWN history
    * (version 0 empty, version 1 = the clone) and its own version
    * counter: commits to either table after the clone are invisible
    * to the other, which is the entire point (dev/test forks, stable
    * reporting snapshots, migration staging). Built under both
    * tables' locks: the content/schema tuple is one consistent
    * snapshot of the source.
    */
  private[sources] def cloneInto(dstName: String,
      version: Option[Long] = None): GraftMemTable =
    synchronized {
      // versioned clone (the Delta `CLONE ... VERSION AS OF` face):
      // the clone's v1 is a RETAINED SNAPSHOT's state instead of the
      // head — same fence as rollback: a pre-partition-evolution
      // snapshot's group tags would alias current-spec values
      version.foreach { v =>
        if (partitionEvolvedAt >= 0 && v < partitionEvolvedAt)
          throw new UnsupportedOperationException(
            s"graftmem $fullName: cannot clone version $v — the " +
              s"partition spec evolved at version $partitionEvolvedAt " +
              "and pre-evolution snapshots tag rows under the old spec")
        require(snapshots.contains(v), {
          val r = retainedVersions
          s"graftmem $fullName: no retained snapshot for version $v " +
            s"(retained: ${if (r.isEmpty) "none"
              else s"${r.head._1}..${r.last._1}"})"
        })
      }
      val (srcRows, srcSchema, srcDflts, srcMap) = version match {
        case Some(v) =>
          val (rs, _, sch, dflts, cm) = snapshots(v)
          (rs, sch, dflts, cm)
        case None => (rows, curSchema, colDefaults, colMap)
      }
      val t = new GraftMemTable(dstName, tblSchema, curPartCol,
        writeLayout, tblConstraints, snapshotKeep)
      t.synchronized {
        t.curSchema = srcSchema
        t.colDefaults = srcDflts
        t.colMap = srcMap
        t.curPartCol = curPartCol
        t.curGroupSlot = curGroupSlot
        // legacy-tagged rows (b103) stay legacy in the clone — the
        // clone inherits the migration debt along with the data
        t.partitionEvolvedAt = if (partitionEvolvedAt >= 0) 1L else -1L
        t.rows = srcRows // zero-copy: shared immutable vectors
        t.stampCommit(srcRows.iterator.map(_._1).toSet)
      }
      t
    }

  /** Evolve an UNPARTITIONED table to identity partitioning on a
    * CREATE-time LONG column (b103) — a metadata commit: no row
    * moves; pre-evolution rows' stored group becomes [[LEGACY]] (the
    * spec-tag move is per-FILE metadata in a real format — here the
    * single unpartitioned group relabels), new writes group by the
    * column, and a row-level operation that touches the legacy group
    * MIGRATES its rows to the current spec (rewritten files get the
    * new spec — Iceberg's rule). One evolution per table: evolving
    * again means migrating first (loud, not silent re-speccing).
    * Returns the legacy row count.
    */
  private[sources] def setPartition(col: String): Long = synchronized {
    require(curPartCol.isEmpty,
      s"graftmem $fullName: already partitioned by ${curPartCol.get} — " +
        "partition evolution applies to unpartitioned tables (migrate " +
        "via a full rewrite first)")
    require(tblSchema.fieldNames.contains(col),
      s"graftmem $fullName: set_partition takes a CREATE-time column " +
        s"(LONG by the CREATE contract); got $col")
    require(curSchema.fieldNames.contains(col),
      s"graftmem $fullName: column $col was dropped")
    // pre-evolution rows all live in the single unpartitioned group
    // (0); they become the LEGACY generation — never rewritten here
    rows = rows.map { case (_, r) => (GraftMemTable.LEGACY, r) }
    groupVersion.remove(0L).foreach(v =>
      groupVersion(GraftMemTable.LEGACY) =
        math.max(v, groupVersion.getOrElse(GraftMemTable.LEGACY, 0L)))
    curPartCol = Some(col)
    curGroupSlot = tblSchema.fieldIndex(col)
    val legacy = rows.length.toLong
    // the evolution is a commit: stamp the legacy generation so an
    // in-flight rewrite that scanned it conflicts loudly
    stampCommit(if (legacy > 0) Set(GraftMemTable.LEGACY) else Set.empty)
    partitionEvolvedAt = commitVersion
    legacy
  }

  override def partitioning(): Array[Transform] =
    curPartCol.toArray.map(c =>
      org.apache.spark.sql.connector.expressions.Expressions.identity(c))

  /** PARTITION MANAGEMENT (b88, `SupportsAtomicPartitionManagement`):
    * explicit partition DDL on the partitioned flavor — `ALTER TABLE
    * ... ADD/DROP PARTITION`, `TRUNCATE TABLE ... PARTITION`,
    * `SHOW PARTITIONS`. A partition EXISTS iff declared by DDL or
    * holding data (data-implied partitions are what identity
    * partitioning always materializes). DROP removes declaration AND
    * data as one versioned commit — it stamps the group, so an
    * in-flight row-level rewrite that scanned it is a loud commit
    * conflict, and the dropped data stays reachable via `VERSION AS
    * OF`. TRUNCATE empties the data but keeps the partition LISTED
    * (the Hive/DSv2 contract), auto-declaring a data-only partition
    * so the listing survives. Multi-partition DDL is atomic under the
    * table's swap lock — the same single-synchronized-commit
    * discipline every write path here follows.
    */
  private val declaredParts =
    scala.collection.mutable.HashMap.empty[Long, Map[String, String]]

  /** Partition-grain metadata (b94, served by
    * [[GraftPartitionsTable]]): (group key, live row count, last
    * modifying commit version) per partition — declared OR
    * data-bearing, the `SHOW PARTITIONS` existence rule. One
    * consistent snapshot under the swap lock; cost is bounded by the
    * partition count (the row pass stands in for per-group counts a
    * real manifest maintains at commit).
    */
  private[sources] def partitionStats: Seq[(Long, Long, Long)] =
    synchronized {
      val counts = rows.groupBy(_._1).view.mapValues(_.length.toLong)
      (declaredParts.keySet ++ counts.keys).toSeq.sorted.map(g =>
        (g, counts.getOrElse(g, 0L), groupVersion.getOrElse(g, 0L)))
    }

  override def partitionSchema(): StructType =
    curPartCol
      .map(c => new StructType().add(c, LongType, nullable = false))
      .getOrElse(new StructType())

  private def partValue(ident: InternalRow): Long = {
    require(curPartCol.isDefined,
      s"graftmem $fullName is unpartitioned — no partition DDL")
    require(ident.numFields == 1,
      s"graftmem $fullName: expected a 1-field partition identifier, " +
        s"got ${ident.numFields}")
    // getLong on a null cell silently reads 0 — a NULL partition
    // value must not alias partition 0
    require(!ident.isNullAt(0),
      s"graftmem $fullName: NULL partition values are not supported")
    ident.getLong(0)
  }
  // callers hold the swap lock
  private def partExistsLocked(v: Long): Boolean =
    declaredParts.contains(v) || rows.exists(_._1 == v)

  override def partitionExists(ident: InternalRow): Boolean =
    synchronized(partExistsLocked(partValue(ident)))

  override def createPartitions(idents: Array[InternalRow],
      props: Array[util.Map[String, String]]): Unit = synchronized {
    val vs = idents.map(partValue)
    require(vs.distinct.length == vs.length,
      s"graftmem $fullName: duplicate partitions in one ADD: " +
        vs.mkString(", "))
    val clash = vs.filter(partExistsLocked)
    if (clash.nonEmpty)
      throw new org.apache.spark.sql.catalyst.analysis
        .PartitionsAlreadyExistException(fullName,
          clash.toIndexedSeq.map(v => InternalRow(v): InternalRow),
          partitionSchema())
    vs.zip(props).foreach { case (v, p) =>
      declaredParts(v) =
        scala.jdk.CollectionConverters.MapHasAsScala(p).asScala.toMap
    }
  }

  override def dropPartitions(idents: Array[InternalRow]): Boolean =
    synchronized {
      val vs = idents.map(partValue)
      // all-or-nothing: any absent partition fails the whole DDL
      // (the engine turns `false` into its IF EXISTS handling)
      if (!vs.forall(partExistsLocked)) false
      else {
        vs.foreach(declaredParts.remove)
        // version-stamp exactly the groups whose DATA changed — a
        // declared-only partition's drop is pure metadata and must
        // not spuriously conflict an in-flight rewrite of its group
        // (one pass over rows, not one per dropped value)
        val present = rows.iterator.map(_._1).toSet
        val touched = vs.toSet & present
        if (touched.nonEmpty) {
          rows = rows.filterNot(e => touched.contains(e._1))
          stampCommit(touched)
        }
        true
      }
    }
  // in-memory store: purge (skip-the-trash) and drop coincide
  override def purgePartitions(idents: Array[InternalRow]): Boolean =
    dropPartitions(idents)
  override def purgePartition(ident: InternalRow): Boolean =
    dropPartitions(Array(ident))

  override def replacePartitionMetadata(ident: InternalRow,
      props: util.Map[String, String]): Unit = synchronized {
    val v = partValue(ident)
    if (!partExistsLocked(v))
      throw new org.apache.spark.sql.catalyst.analysis
        .NoSuchPartitionException(fullName, ident, partitionSchema())
    declaredParts(v) =
      scala.jdk.CollectionConverters.MapHasAsScala(props).asScala.toMap
  }

  override def loadPartitionMetadata(
      ident: InternalRow): util.Map[String, String] = synchronized {
    val v = partValue(ident)
    if (!partExistsLocked(v))
      throw new org.apache.spark.sql.catalyst.analysis
        .NoSuchPartitionException(fullName, ident, partitionSchema())
    val m = new util.HashMap[String, String]()
    declaredParts.getOrElse(v, Map.empty).foreach {
      case (k, x) => m.put(k, x)
    }
    m
  }

  override def listPartitionIdentifiers(names: Array[String],
      ident: InternalRow): Array[InternalRow] = synchronized {
    require(names.length == ident.numFields,
      s"graftmem $fullName: ${names.length} filter names vs " +
        s"${ident.numFields} filter values")
    val want: Option[Long] =
      if (names.isEmpty) None
      else {
        require(names.length == 1 && curPartCol.contains(names(0)),
          s"graftmem $fullName: unknown partition column(s) " +
            names.mkString(", "))
        // same NULL discipline as partValue: getLong on a null cell
        // reads 0 and would alias partition 0
        require(!ident.isNullAt(0),
          s"graftmem $fullName: NULL partition filter values are not " +
            "supported")
        Some(ident.getLong(0))
      }
    (declaredParts.keySet ++ rows.iterator.map(_._1)
      .filter(_ != GraftMemTable.LEGACY)).toSeq.distinct
      .filter(v => want.forall(_ == v)).sorted
      .map(v => InternalRow(v): InternalRow).toArray
  }

  override def truncatePartitions(idents: Array[InternalRow]): Boolean =
    synchronized {
      val vs = idents.map(partValue)
      vs.find(v => !partExistsLocked(v)).foreach(v =>
        throw new org.apache.spark.sql.catalyst.analysis
          .NoSuchPartitionException(fullName, InternalRow(v),
            partitionSchema()))
      // the partition survives its own truncation in SHOW PARTITIONS
      vs.foreach(v => declaredParts.getOrElseUpdate(v, Map.empty))
      // stamp only groups whose data changed: truncating an already-
      // empty partition is a metadata no-op, not a version bump that
      // could spuriously conflict an in-flight rewrite (one pass over
      // rows, not one per value)
      val present = rows.iterator.map(_._1).toSet
      val touched = vs.toSet & present
      if (touched.nonEmpty) {
        rows = rows.filterNot(e => touched.contains(e._1))
        stampCommit(touched)
      }
      true
    }
  override def truncatePartition(ident: InternalRow): Boolean =
    truncatePartitions(Array(ident))

  override def name(): String = fullName
  override def schema(): StructType = curSchema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(
      TableCapability.BATCH_READ, TableCapability.BATCH_WRITE,
      TableCapability.TRUNCATE, TableCapability.OVERWRITE_BY_FILTER,
      TableCapability.OVERWRITE_DYNAMIC,
      TableCapability.STREAMING_WRITE,
      // b106: MERGE WITH SCHEMA EVOLUTION — the analyzer may evolve
      // this table mid-statement (alterTable AddColumn, b85's
      // metadata-only commit) when the merge source carries columns
      // the target lacks
      TableCapability.AUTOMATIC_SCHEMA_EVOLUTION)

  /** Streaming exactly-once bookkeeping: the MAX committed epoch per
    * queryId. A retried/replayed epoch (engine restart re-commits the
    * last batch; commit() may also be re-entered after a driver
    * failure) is ≤ the recorded max — epochs are monotone within a
    * query run, which is what makes one long per query sufficient —
    * and is SKIPPED: idempotent re-commit is the sink half of
    * Structured Streaming's exactly-once contract (the source half
    * being replayable offsets, d12). Keyed by queryId so a DIFFERENT
    * query appending to the table starts its own epoch sequence
    * without colliding. Memory is O(queries that ever wrote), not
    * O(epochs) — a long-lived table under a continuous stream no
    * longer grows a ledger per microbatch (a production sink stores
    * the same single watermark in its transaction log).
    */
  private[sources] val lastCommittedEpoch =
    new ConcurrentHashMap[String, java.lang.Long]()

  /** Atomically record (queryId, epoch); true iff the epoch is NEW
    * (strictly above the query's recorded max) and its rows should
    * land. Synchronized with the row swap so the check and the append
    * are one atomic commit step.
    */
  private[sources] def beginEpochCommit(qid: String, epoch: Long): Boolean = {
    val prev = lastCommittedEpoch.get(qid)
    if (prev != null && prev.longValue() >= epoch) false
    else { lastCommittedEpoch.put(qid, epoch); true }
  }

  /** `_group` — the rewrite-group id metadata column (the identity-
    * partition value; constant 0 when unpartitioned). Its role is
    * CONTRACTUAL as well as informational: Spark's ReplaceData write
    * only routes rows through the data/metadata PROJECTING write task
    * when the row-level operation requires metadata attributes —
    * without one, the raw MergeRows output (incl. `__row_operation`)
    * reaches the writer. It is also the key the runtime GROUP FILTER
    * prunes on (partitioned tables rewrite only TOUCHED groups —
    * b77's partial-rewrite proof).
    */
  override def metadataColumns(): Array[MetadataColumn] =
    Array(new MetadataColumn {
      override def name(): String = "_group"
      override def dataType(): org.apache.spark.sql.types.DataType = LongType
      override def isNullable: Boolean = false
    })

  override def newScanBuilder(
      options: CaseInsensitiveStringMap): ScanBuilder =
    new GraftMemScanBuilder(this)

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new GraftMemWriteBuilder(this, info, replace = false)

  override def newRowLevelOperationBuilder(
      info: RowLevelOperationInfo): RowLevelOperationBuilder =
    () => new RowLevelOperation {
      /** Which groups this operation's scan actually read (None = all
        * groups) and the table version the scan pinned. The WRITE's
        * commit replaces exactly these groups — the whole point of
        * group-based copy-on-write: untouched groups are never read,
        * never rewritten, never moved — and VALIDATES them against
        * the per-group commit log before swapping (optimistic
        * concurrency). Shared driver-side state between the op's scan
        * and its write — the same role Iceberg's scanned-file set +
        * snapshot id play.
        */
      private val scanState = new RowLevelScanState
      override def command(): RowLevelOperation.Command = info.command()
      override def description(): String =
        s"GraftMemRowLevel(${info.command()})"
      // the operation reads the groups being rewritten…
      override def newScanBuilder(
          options: CaseInsensitiveStringMap): ScanBuilder =
        new GraftMemScanBuilder(GraftMemTable.this, Some(scanState))
      // …and its write REPLACES exactly those groups on commit
      override def newWriteBuilder(wi: LogicalWriteInfo): WriteBuilder =
        new GraftMemWriteBuilder(GraftMemTable.this, wi, replace = true,
          replacedGroups = Some(scanState))
      override def requiredMetadataAttributes()
          : Array[org.apache.spark.sql.connector.expressions.NamedReference] =
        Array(org.apache.spark.sql.connector.expressions.Expressions
          .column("_group"))
    }
}

private[sources] object GraftMemTable {
  /** The stored group of rows written BEFORE partition evolution
    * (b103): the unpartitioned generation's spec tag. MinValue so no
    * identity-partition value can collide with it; excluded from the
    * partition-DDL surface (legacy rows have no partition identifier —
    * Iceberg's old-spec files), included in the `__partitions`
    * operational read (they exist and an operator must see them).
    */
  val LEGACY: Long = Long.MinValue
}

/** Driver-side handoff between a row-level operation's scan and its
  * write: the groups the scan actually read (after runtime group
  * filtering; None = all) and the table version it read them AT. The
  * commit validates the groups against the version — the optimistic-
  * concurrency handshake.
  */
private[sources] final class RowLevelScanState {
  val groups =
    new java.util.concurrent.atomic.AtomicReference[Option[Set[Long]]](None)
  @volatile var scanVersion: Long = -1L // -1 = no scan built yet
}

/** A row-level commit found that a rewrite group it scanned was
  * modified by a later commit — applying the write would silently
  * drop that commit's changes (lost update). A production catalog
  * retries the operation from a fresh snapshot; the demo surfaces
  * the conflict loudly.
  */
final class GraftMemCommitConflictException(msg: String)
    extends IllegalStateException(msg)

/** Shared scan statistics (b99): exact rows, bytes ≈ rows × width ×
  * 16 (boxed demo cells; what matters to the planner is clearing or
  * missing `autoBroadcastJoinThreshold`, not the exact constant).
  */
private[sources] final case class GraftMemStats(rows: Long, width: Int)
    extends org.apache.spark.sql.connector.read.Statistics {
  override def sizeInBytes(): java.util.OptionalLong =
    java.util.OptionalLong.of(
      try Math.multiplyExact(rows, math.max(1, width).toLong * 16L)
      catch { case _: ArithmeticException => Long.MaxValue })
  override def numRows(): java.util.OptionalLong =
    java.util.OptionalLong.of(rows)
}

private[sources] class GraftMemScanBuilder(table: GraftMemTable,
    groupsOut: Option[RowLevelScanState] = None)
    extends ScanBuilder with SupportsPushDownRequiredColumns {
  private var required: StructType = table.schema()
  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema
  override def build(): Scan = new Scan with Batch
      with org.apache.spark.sql.connector.read.SupportsRuntimeV2Filtering
      with org.apache.spark.sql.connector.read.SupportsReportStatistics {
    // Pin (rows, version, schema, defaults) under the swap lock so the
    // tuple is one consistent snapshot — the version is what the
    // matching commit validates its scanned groups against.
    private val (snapshot, pinnedVersion, snapSchema, snapDefaults,
        snapColMap) =
      table.synchronized((table.rows, table.commitVersion,
        table.schema(), table.colDefaults, table.colMap))
    groupsOut.foreach(_.scanVersion = pinnedVersion)

    /** TABLE STATISTICS (b99, `SupportsReportStatistics`): exact row
      * count + byte estimate from the pinned snapshot — the lakehouse
      * analogue of summed manifest stats. Without this, a DSv2
      * relation defaults to sizeInBytes = Long.Max ("never
      * broadcast-able at plan time"), so a 25-row graftmem dimension
      * would SHUFFLE against a parquet fact until AQE rescues the
      * plan at runtime; with it, the planner picks the broadcast on
      * the FIRST execution with no hint (a38/a41's contract, now on
      * the writable catalog tables).
      */
    override def estimateStatistics()
        : org.apache.spark.sql.connector.read.Statistics =
      GraftMemStats(snapshot.length.toLong, required.fields.length)
    // runtime-prunable group set (None = all); the op's holder (when
    // present) learns what was scanned so its commit replaces exactly
    // that
    private var allowed: Option[Set[Long]] = None
    override def readSchema(): StructType = required
    override def toBatch: Batch = this
    override def description(): String =
      s"GraftMemScan(${table.fullName}, rows=${snapshot.length})"

    // Advertise `_group` for runtime filtering ONLY when the scan
    // actually projects it (row-level scans always do — Spark appends
    // requiredMetadataAttributes). A plain pruned read (e.g. this
    // table as a MERGE's SOURCE) must not: PartitionPruning resolves
    // filterAttributes against the scan's output and fails the whole
    // query on a column that was pruned away.
    // r14 (guide §1.2 "don't compute things you throw away"): ALSO
    // require the pinned snapshot to span ≥2 stored groups. On a
    // single-group table (every unpartitioned lifecycle target)
    // RowLevelOperationRuntimeGroupFiltering would otherwise inject a
    // dynamic `_group IN (subquery)` that re-scans the source side,
    // runs an extra distinct job, and re-optimizes the whole command
    // plan — to prune a set of one. Iceberg draws the same line: no
    // runtime group filter on unpartitioned tables. With no filter
    // the scan's `allowed` stays None = all groups, which for one
    // group is exactly the unpruned rewrite the commit already
    // validates; the partitioned-table pruning proof (b77) keeps its
    // ≥2-group advertisement — pinned by Round14OptSpec.
    private lazy val multiGroup: Boolean = {
      var first = Long.MinValue; var n = 0
      val it = snapshot.iterator
      while (n < 2 && it.hasNext) {
        val g = it.next()._1
        if (n == 0 || g != first) { first = g; n += 1 }
      }
      n >= 2
    }
    override def filterAttributes()
        : Array[org.apache.spark.sql.connector.expressions.NamedReference] =
      if (required.fieldNames.contains("_group") && multiGroup)
        Array(org.apache.spark.sql.connector.expressions.Expressions
          .column("_group"))
      else Array.empty
    override def filter(predicates: Array[
        org.apache.spark.sql.connector.expressions.filter.Predicate])
        : Unit =
      predicates.foreach { pr =>
        if (pr.name() == "IN" && pr.children().nonEmpty) {
          val onGroup = pr.children()(0) match {
            case f: org.apache.spark.sql.connector.expressions
              .NamedReference =>
              f.fieldNames.sameElements(Array("_group"))
            case _ => false
          }
          if (onGroup) {
            val vals = pr.children().drop(1).collect {
              case l: org.apache.spark.sql.connector.expressions
                .Literal[_] if l.value() != null =>
                l.value() match { case n: java.lang.Number => n.longValue() }
            }.toSet
            if (vals.nonEmpty) {
              allowed = Some(allowed.fold(vals)(_ intersect vals))
              groupsOut.foreach(_.groups.set(allowed))
            }
          }
        }
      }

    // one InputPartition per rewrite GROUP, so the runtime filter can
    // skip whole groups before a row is shipped
    override def planInputPartitions(): Array[InputPartition] = {
      // one partition per STORED group (write-time spec tag, b103):
      // a post-evolution table mixes the legacy generation and the
      // current-spec groups in one scan, each its own split
      val byGroup = snapshot.groupBy(_._1)
      byGroup.toSeq.sortBy(_._1)
        .filter { case (g, _) => allowed.forall(_.contains(g)) }
        .map { case (g, rs) =>
          GraftMemPartition(rs.map(_._2), g): InputPartition }
        .toArray match {
          case Array() => Array(GraftMemPartition(Vector.empty))
          case parts   => parts
        }
    }
    override def createReaderFactory(): PartitionReaderFactory = {
      // the `_group` metadata column reads the partition's STORED
      // group (0 when unpartitioned, LEGACY for pre-evolution rows) —
      // carried per split, resolved through the projector's aux
      // channel; data columns beyond a stored row's width read their
      // initial default (a column added after the row was written)
      val proj = GraftCell.projector(required, snapSchema, snapDefaults,
        Map("_group" -> ((g: Long, _: Array[Any]) =>
          java.lang.Long.valueOf(g): Any)),
        colMap = snapColMap)
      new RowsReaderFactory[GraftMemPartition, Array[Any]](_.data,
        (mp, r) => proj(mp.groupVal, r))
    }
  }
}

private[sources] case class GraftMemPartition(data: Vector[Array[Any]],
    groupVal: Long = 0L)
    extends InputPartition

/** The one reader over an in-memory partition, shared by every graftmem
  * scan whose split already holds its rows: `rows` takes the
  * partition's stored rows, `row` turns the partition and one stored
  * row into the row Spark reads (a column projection, or the row
  * itself for pre-built metadata rows).
  */
private[sources] final class RowsReaderFactory[P <: InputPartition, R](
    rows: P => scala.collection.IndexedSeq[R], row: (P, R) => InternalRow)
    extends PartitionReaderFactory {
  override def createReader(
      p: InputPartition): PartitionReader[InternalRow] = {
    val part = p.asInstanceOf[P]
    val data = rows(part)
    new PartitionReader[InternalRow] {
      private var i = -1
      override def next(): Boolean = { i += 1; i < data.length }
      override def get(): InternalRow = row(part, data(i))
      override def close(): Unit = ()
    }
  }
}

/** `replace = false`: INSERT INTO (append), TRUNCATE (overwrite all),
  * OVERWRITE-BY-FILTER (b86, `SupportsOverwriteV2` — Spark's
  * `OverwriteByExpression` from `df.writeTo(t).overwrite(cond)` /
  * static `INSERT OVERWRITE ... PARTITION`: delete the matching rows,
  * append the new — the replaceWhere shape), or DYNAMIC PARTITION
  * OVERWRITE (b86, `SupportsDynamicOverwrite` from
  * `overwritePartitions()` / dynamic-mode INSERT OVERWRITE: replace
  * exactly the groups the new rows land in — the idempotent
  * partition-reload every batch pipeline re-runs on). `replace =
  * true`: the row-level-operation write — commit swaps the table
  * body for exactly the written rows (the group rewrite; with one
  * group that is the whole table).
  */
private[sources] class GraftMemWriteBuilder(
    table: GraftMemTable, writeInfo: LogicalWriteInfo, replace: Boolean,
    replacedGroups: Option[RowLevelScanState] = None)
    extends WriteBuilder with SupportsTruncate
    with org.apache.spark.sql.connector.write.SupportsOverwriteV2
    with org.apache.spark.sql.connector.write.SupportsDynamicOverwrite {
  private var doTruncate = false
  private var overwritePreds: Array[
    org.apache.spark.sql.connector.expressions.filter.Predicate] = null
  private var dynamicOverwrite = false
  override def truncate(): WriteBuilder = { doTruncate = true; this }
  override def overwrite(predicates: Array[
      org.apache.spark.sql.connector.expressions.filter.Predicate])
      : WriteBuilder = {
    // compile EAGERLY so an unsupported predicate fails at plan time
    // (the engine may fall back to truncate-reappend elsewhere; this
    // connector refuses loudly instead of guessing)
    GraftMemWriteBuilder.compilePredicates(predicates,
      table.schema(), table.colDefaults, table.colMap)
    overwritePreds = predicates
    this
  }
  override def overwriteDynamicPartitions(): WriteBuilder = {
    dynamicOverwrite = true; this
  }
  // A row-level-operation write may receive a WIDER schema than
  // the table (rewrite bookkeeping columns); project the table's
  // columns out BY NAME, never by position.
  private def proj: Array[Int] = table.schema().fieldNames
    .map(writeInfo.schema().fieldIndex)
  private def colTypes: Array[org.apache.spark.sql.types.DataType] =
    table.schema().fields.map(_.dataType)
  private def colDflts: Array[Any] = table.colDefaults.toArray
  // b101: where each schema column LANDS in the stored array (the
  // stable physical slot) and how wide stored rows are now
  private def colSlots: Array[Int] = table.colMap.phys.toArray
  private def rowWidth: Int = table.colMap.physWidth

  // Layout-column slots into the STORED row (physical); empty unless
  // the table declares graft.write_layout. Only plain appends enforce
  // it — a row-level replace's distribution is the group machinery's
  // concern.
  private def layoutIdx: Array[Int] =
    if (replace) Array.empty
    else table.writeLayout.map(n =>
      table.colMap.phys(table.schema().fieldIndex(n))).toArray

  /** WRITE-SIDE LAYOUT CONTRACT (a40,
    * `RequiresDistributionAndOrdering`): a table created with
    * `graft.write_layout = 'c1,c2'` DEMANDS, from the engine, rows
    * clustered by c1 (all rows of one c1 value in one write task) and
    * sorted by (c1, c2) within each task — Spark inserts the exchange
    * and sort below the write (`DistributionAndOrderingUtils`), the
    * way Iceberg's write distribution modes request their layout.
    * The connector VERIFIES both halves with data-level checks, not
    * trust: each writer task throws on the first out-of-order row,
    * and the commit rejects a cluster value that appears in two
    * tasks' messages. With no layout declared the write reports
    * unspecified/empty and the plan is untouched.
    */
  override def build(): Write = new Write
      with RequiresDistributionAndOrdering {
    private val layout = layoutIdx
    override def requiredDistribution()
        : org.apache.spark.sql.connector.distributions.Distribution =
      if (layout.isEmpty)
        org.apache.spark.sql.connector.distributions.Distributions
          .unspecified()
      else
        org.apache.spark.sql.connector.distributions.Distributions
          .clustered(Array(
            org.apache.spark.sql.connector.expressions.Expressions
              .identity(table.writeLayout.head)))
    override def requiredOrdering()
        : Array[org.apache.spark.sql.connector.expressions.SortOrder] =
      table.writeLayout
        .filter(_ => layout.nonEmpty)
        .map(c => org.apache.spark.sql.connector.expressions.Expressions
          .sort(
            org.apache.spark.sql.connector.expressions.Expressions
              .identity(c),
            org.apache.spark.sql.connector.expressions.SortDirection
              .ASCENDING))
        .toArray
    override def toBatch: BatchWrite = new BatchWrite {
      private val p = proj
      private val lay = layout
      private val tys = colTypes
      private val dfl = colDflts
      private val slo = colSlots
      private val wid = rowWidth
      override def createBatchWriterFactory(
          info: PhysicalWriteInfo): DataWriterFactory =
        new GraftMemWriterFactory(p, tys, dfl, lay, slo, wid)
      override def commit(messages: Array[WriterCommitMessage]): Unit = {
        // clustering half of the a40 contract: one cluster value may
        // come from ONE task only (the ordering half was verified
        // row-by-row inside each writer)
        if (lay.nonEmpty) {
          val owner = scala.collection.mutable.HashMap.empty[Long, Int]
          messages.zipWithIndex.foreach {
            case (m: GraftMemCommit, ti) => m.clusters.foreach { c =>
              owner.get(c) match {
                case Some(prev) if prev != ti =>
                  throw new IllegalStateException(
                    s"graftmem ${table.fullName}: required clustered " +
                      s"distribution violated — cluster $c arrived in " +
                      s"write tasks $prev and $ti")
                case _ => owner(c) = ti
              }
            }
            case _ => ()
          }
        }
        val written = messages.iterator.flatMap {
          case m: GraftMemCommit => m.data
        }.toVector
        // single swap on the driver = the atomic manifest/commit step.
        // A row-level replace swaps ONLY the groups the operation's
        // scan read (runtime group filter): untouched groups keep
        // their existing row objects — the copy-on-write narrowing.
        // No filter fired (or unpartitioned) ⇒ all groups were
        // scanned ⇒ full swap. Before swapping, a replace VALIDATES
        // its scanned groups against the per-group commit log: a
        // group modified since the op's scan pinned its version means
        // the rewrite was computed from stale rows, and applying it
        // would silently drop the interleaved commit (lost update) —
        // reject instead, the optimistic-concurrency half a real
        // lakehouse catalog pairs with an automatic retry.
        table.synchronized {
          if (replace) {
            val scanned = replacedGroups.flatMap(_.groups.get())
            for (st <- replacedGroups; if st.scanVersion >= 0) {
              scanned match {
                case Some(gs) =>
                  val conflicted = gs.filter(g =>
                    table.groupVersion.getOrElse(g, -1L) > st.scanVersion)
                  if (conflicted.nonEmpty)
                    throw new GraftMemCommitConflictException(
                      s"graftmem commit conflict on ${table.fullName}: " +
                        s"group(s) ${conflicted.toSeq.sorted.mkString(", ")} " +
                        "changed after this operation's scan (scan " +
                        s"version ${st.scanVersion}, now " +
                        s"${table.commitVersion}); retry from a fresh " +
                        "snapshot")
                case None =>
                  // no runtime narrowing ⇒ the op scanned EVERYTHING,
                  // so ANY commit since the scan invalidates the
                  // rewrite. Validating against current rows' groups
                  // instead would let a commit that EMPTIED a group
                  // slip through (its groups vanish from the current
                  // set) and be silently resurrected by this swap —
                  // the lost update this machinery exists to reject.
                  if (table.commitVersion > st.scanVersion)
                    throw new GraftMemCommitConflictException(
                      s"graftmem commit conflict on ${table.fullName}: " +
                        "the table changed after this full-scan " +
                        s"operation's snapshot (scan version " +
                        s"${st.scanVersion}, now ${table.commitVersion})" +
                        "; retry from a fresh snapshot")
              }
            }
            val prev = table.rows
            val survivors = scanned match {
              case Some(gs) =>
                prev.filterNot(e => gs.contains(e._1))
              case None => Vector.empty
            }
            // written rows land under the CURRENT spec — this is what
            // migrates a touched LEGACY group after partition
            // evolution (rewritten files get the new spec, b103)
            val tagged = written.map(r => (table.groupOf(r), r))
            table.rows = survivors ++ tagged
            // stamp the replaced groups AND the groups the rewrite
            // landed in (a rewrite may move rows across groups — a
            // changed partition value, or b103's legacy migration);
            // a full swap (no runtime narrowing) modifies every group
            // that existed before or exists after
            table.stampCommit(scanned match {
              case Some(gs) => gs ++ tagged.iterator.map(_._1)
              case None =>
                (prev.iterator ++ tagged.iterator).map(_._1).toSet
            })
          } else {
            val prev = table.rows
            val tagged = written.map(r => (table.groupOf(r), r))
            if (dynamicOverwrite) {
              // replace exactly the groups the new rows land in; all
              // other groups keep their row objects untouched
              val gs = tagged.iterator.map(_._1).toSet
              table.rows =
                prev.filterNot(e => gs.contains(e._1)) ++ tagged
              table.stampCommit(gs)
            } else if (overwritePreds != null) {
              // replaceWhere: delete the matching rows, append the new
              val pred = GraftMemWriteBuilder.compilePredicates(
                overwritePreds, table.schema(), table.colDefaults,
                table.colMap)
              val (removed, kept) = prev.partition(e => pred(e._2))
              table.rows = kept ++ tagged
              table.stampCommit(
                (removed.iterator ++ tagged.iterator).map(_._1).toSet)
            } else {
              table.rows = if (doTruncate) tagged else prev ++ tagged
              // truncate touches every pre-existing group; append
              // only the written rows' groups
              val touched =
                if (doTruncate)
                  (prev.iterator ++ tagged.iterator).map(_._1).toSet
                else tagged.iterator.map(_._1).toSet
              table.stampCommit(touched)
            }
          }
        }
      }
      override def abort(messages: Array[WriterCommitMessage]): Unit = ()
    }

    /** d23: the custom EXACTLY-ONCE streaming sink — per microbatch
      * the engine calls `commit(epochId, messages)`; an epoch that
      * already committed is skipped, so a replayed batch (restart
      * recovery, commit retry) cannot double rows. Appends only —
      * the streaming path never truncates.
      */
    override def toStreaming: org.apache.spark.sql.connector.write
        .streaming.StreamingWrite = {
      // The a40 layout contract is enforced on the BATCH path
      // (engine-inserted exchange + sort, writer/commit verification);
      // micro-batch streaming writes do not apply
      // RequiresDistributionAndOrdering, so accepting them would
      // silently break the table's "every append is clustered and
      // sorted" guarantee. Refuse loudly — stream into a plain table
      // or upsert via foreachBatch (d25), whose inner batch write
      // re-enters the enforced path.
      if (table.writeLayout.nonEmpty)
        throw new UnsupportedOperationException(
          s"graftmem ${table.fullName}: streaming appends cannot honor " +
            "graft.write_layout (micro-batch writes skip " +
            "RequiresDistributionAndOrdering); use batch appends or " +
            "foreachBatch")
      new org.apache.spark.sql.connector.write.streaming.StreamingWrite {
        private val p = proj
        private val tys = colTypes
        private val dfl = colDflts
        private val slo = colSlots
        private val wid = rowWidth
        override def createStreamingWriterFactory(
            info: PhysicalWriteInfo): org.apache.spark.sql.connector
              .write.streaming.StreamingDataWriterFactory =
          new GraftMemStreamingWriterFactory(p, tys, dfl, slo, wid)
        override def commit(epochId: Long,
            messages: Array[WriterCommitMessage]): Unit =
          table.synchronized {
            if (table.beginEpochCommit(writeInfo.queryId(), epochId)) {
              val written = messages.iterator.flatMap {
                case m: GraftMemCommit => m.data
              }.toVector
              val tagged = written.map(r => (table.groupOf(r), r))
              table.rows = table.rows ++ tagged
              table.stampCommit(tagged.iterator.map(_._1).toSet)
            }
          }
        override def abort(epochId: Long,
            messages: Array[WriterCommitMessage]): Unit = ()
      }
    }
  }
}

private[sources] object GraftMemWriteBuilder {
  import org.apache.spark.sql.connector.expressions.{Literal => V2Literal, NamedReference}
  import org.apache.spark.sql.connector.expressions.filter.{AlwaysTrue, Predicate}

  /** Compile the AND of `preds` into a row predicate. Supported: the
    * boolean algebra (AND/OR/NOT), null tests, and (null-safe)
    * equality between a column and a literal — which covers what
    * static `INSERT OVERWRITE ... PARTITION` and equality
    * replaceWhere produce (Spark expands partition equality to the
    * `(a IS NOT NULL AND b IS NOT NULL AND a = b) OR (a IS NULL AND
    * b IS NULL)` form). Anything else is rejected AT PLAN TIME: a
    * connector that silently widened an overwrite filter would
    * delete rows the user scoped out.
    */
  private[sources] def compilePredicates(preds: Array[Predicate],
      schema: StructType,
      defaults: IndexedSeq[Any],
      colMap: GraftColMap = null): Array[Any] => Boolean = {
    import org.apache.spark.sql.connector.expressions.Expression
    // value of a leaf on a given row, normalized for equality
    // (numbers widen to Long via the CREATE-LONG contract; strings /
    // booleans compare natively); None = SQL NULL. Rows narrower than
    // the schema (pre-ALTER) read the missing column as its initial
    // default.
    def norm(v: Any): Any = v match {
      // decimals BEFORE the Number widening (BigDecimal IS a Number;
      // longValue would truncate 12.34 and 12.99 to the same 12)
      case d: java.math.BigDecimal => d.stripTrailingZeros()
      case d: org.apache.spark.sql.types.Decimal =>
        d.toJavaBigDecimal.stripTrailingZeros()
      case n: java.lang.Number => java.lang.Long.valueOf(n.longValue())
      case u: org.apache.spark.unsafe.types.UTF8String => u.toString
      case other => other
    }
    def valueOf(e: Expression): Array[Any] => Option[Any] = e match {
      case f: NamedReference =>
        val i = schema.fieldIndex(f.fieldNames().mkString("."))
        // b101: resolve the schema column to its physical slot; norm
        // already widens Integer cells to Long, so widened slots need
        // no extra handling here
        val idx = if (colMap == null) i else colMap.phys(i)
        r => Some(norm(if (idx < r.length) r(idx) else defaults(i)))
      case l: V2Literal[_] => l.value() match {
        case null  => _ => None
        case v     => val nv = norm(v); _ => Some(nv)
      }
      case other => throw new UnsupportedOperationException(
        s"graftmem overwrite: unsupported operand $other")
    }
    def compile(p: Predicate): Array[Any] => Boolean = p match {
      case _: AlwaysTrue => _ => true
      case p if p.name() == "ALWAYS_FALSE" => _ => false
      case p if p.name() == "AND" =>
        val cs = p.children().map(c => compile(c.asInstanceOf[Predicate]))
        r => cs.forall(_(r))
      case p if p.name() == "OR" =>
        val cs = p.children().map(c => compile(c.asInstanceOf[Predicate]))
        r => cs.exists(_(r))
      case p if p.name() == "NOT" =>
        val c = compile(p.children()(0).asInstanceOf[Predicate])
        r => !c(r)
      case p if p.name() == "IS_NULL" =>
        val v = valueOf(p.children()(0)); r => v(r).isEmpty
      case p if p.name() == "IS_NOT_NULL" =>
        val v = valueOf(p.children()(0)); r => v(r).isDefined
      case p if (p.name() == "=" || p.name() == "<=>") &&
          p.children().length == 2 =>
        val a = valueOf(p.children()(0))
        val b = valueOf(p.children()(1))
        val nullSafe = p.name() == "<=>"
        r => (a(r), b(r)) match {
          case (Some(x), Some(y)) => x == y
          case (None, None)       => nullSafe
          case _                  => false
        }
      case other => throw new UnsupportedOperationException(
        "graftmem overwrite supports boolean algebra over (null-safe) " +
          s"col = literal predicates, got $other")
    }
    val fns = preds.map(compile)
    r => fns.forall(_(r))
  }
}

private[sources] class GraftMemStreamingWriterFactory(proj: Array[Int],
    types: Array[org.apache.spark.sql.types.DataType],
    defaults: Array[Any],
    slots: Array[Int] = null, physWidth: Int = -1)
    extends org.apache.spark.sql.connector.write.streaming
      .StreamingDataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long,
      epochId: Long): DataWriter[InternalRow] =
    new GraftMemWriterFactory(proj, types, defaults,
      slots = slots, physWidth = physWidth)
      .createWriter(partitionId, taskId)
}

private[sources] case class GraftMemCommit(data: Vector[Array[Any]],
    clusters: Set[Long] = Set.empty)
    extends WriterCommitMessage

/** `layoutIdx` nonempty (a40): the writer VERIFIES the engine honored
  * the required per-task ordering — lexicographic non-decrease over
  * the layout columns (CREATE-time LONGs by contract), checked on
  * every row — and records the task's cluster values for the commit's
  * disjointness check. Empty: the plain trusting writer all other
  * paths use. Cells externalize per column type ([[GraftCell]]); a
  * null cell (e.g. a MERGE insert that doesn't set an ALTER-added
  * column) stores the column's initial default.
  */
private[sources] class GraftMemWriterFactory(proj: Array[Int],
    types: Array[org.apache.spark.sql.types.DataType],
    defaults: Array[Any],
    layoutIdx: Array[Int] = Array.empty,
    slots: Array[Int] = null, physWidth: Int = -1)
    extends DataWriterFactory {
  // b101: land each schema column's cell at its stable PHYSICAL slot;
  // identity (the pre-evolution fast path) when no map is supplied.
  // Orphaned slots (dropped columns) stay null in new rows — no
  // schema column maps to them, so nothing ever reads one.
  private val slotOf: Array[Int] =
    if (slots == null) Array.range(0, proj.length) else slots
  private val width: Int = if (physWidth < 0) proj.length else physWidth
  override def createWriter(
      partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    new DataWriter[InternalRow] {
      private val buf = Vector.newBuilder[Array[Any]]
      private var prevKey: Array[Long] = null
      private val clusters = Set.newBuilder[Long]
      private val getters = GraftCell.writeGetters(proj, types, defaults)
      override def write(record: InternalRow): Unit = {
        val a = new Array[Any](width)
        var i = 0
        while (i < proj.length) {
          a(slotOf(i)) = getters(i)(record)
          i += 1
        }
        if (layoutIdx.nonEmpty) {
          val key = layoutIdx.map(j => GraftCell.asLong(a(j)))
          if (prevKey != null) {
            val cmp = prevKey.zip(key).collectFirst {
              case (p, c) if p != c => java.lang.Long.compare(p, c)
            }.getOrElse(0)
            if (cmp > 0) throw new IllegalStateException(
              s"required write ordering violated in partition " +
                s"$partitionId: ${prevKey.mkString(",")} then " +
                key.mkString(","))
          }
          prevKey = key
          clusters += GraftCell.asLong(a(layoutIdx(0)))
        }
        buf += a
      }
      override def commit(): WriterCommitMessage =
        GraftMemCommit(buf.result(), clusters.result())
      override def abort(): Unit = ()
      override def close(): Unit = ()
    }
}
