package graft.sources

import java.util

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability}
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReaderFactory, Scan, ScanBuilder, SupportsPushDownRequiredColumns}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** TIME TRAVEL over graftmem tables (b84) — the lakehouse snapshot
  * face at the DSv2 extension point: SQL `VERSION AS OF v` /
  * `TIMESTAMP AS OF ts` resolve through
  * [[GraftMemCatalog.loadTable(ident, version)]] /
  * `loadTable(ident, timestamp)` (Spark's `TimeTravelSpec` plumbing,
  * the same route Iceberg/Delta take), and the returned table is a
  * READ-ONLY view of one committed snapshot.
  *
  * Mechanics and the 100 TB story: every commit already swaps in an
  * immutable row vector (copy-on-write) or immutable delta structures
  * (merge-on-read); a snapshot is a RECORDED REFERENCE to those — one
  * map entry per commit, never a data copy — exactly as a real
  * format's snapshot is a manifest-list pointer into data files that
  * newer commits don't rewrite. What history RETAINS is what it
  * always retains at scale: superseded files (here, superseded
  * vectors) stay live while any snapshot references them, which is
  * why retention is a first-class governed action —
  * `CALL graftmem.system.expire_snapshots('db.tbl', keep_last)`
  * (the Iceberg `expire_snapshots` shape). Reading an expired version
  * fails loudly with the retained range.
  *
  * Both flavors implement [[GraftSnapshotHistory]]; the merge-on-read
  * flavor records (base, delta-inserts, tombstones) references per
  * commit and MATERIALIZES the visible row set only when a
  * time-travel read actually loads that version — compaction is a
  * new version whose visible content equals its predecessor's (the
  * spec asserts that invariance), so maintenance stays invisible to
  * historical readers too.
  */
private[sources] trait GraftSnapshotHistory { self: Table =>
  /** Table name for messages. */
  private[sources] def historyName: String

  /** Retained (version, commit micros) pairs, ascending. */
  private[sources] def retainedVersions: Seq[(Long, Long)]

  /** Visible rows, schema, per-column initial defaults AND column map
    * at `version`, if retained — a snapshot pins all four as of its
    * commit (schema evolution is itself a commit), so `VERSION AS OF`
    * a pre-ALTER version presents the pre-ALTER columns under the
    * pre-ALTER names/types/slots; the defaults are what the snapshot
    * reader pads still-narrower rows with, and the map (b101) routes
    * each historical column to its stable physical slot.
    */
  private[sources] def snapshotAt(version: Long)
      : Option[(Vector[Array[Any]], StructType, Vector[Any], GraftColMap)]

  /** Drop all but the most recent `keepLast` snapshots; returns
    * (expired, retained, current version).
    */
  private[sources] def expireSnapshots(keepLast: Int): (Long, Long, Long)

  /** SNAPSHOT TAGS (b89): named retention roots, the Iceberg tag
    * shape — `CALL graftmem.system.create_tag(tbl, tag, version)`
    * names a retained snapshot, `VERSION AS OF '<tag>'` resolves it,
    * and every retention pass (the automatic per-commit cap AND an
    * explicit expire_snapshots) PINS tagged versions: a tag is a
    * promise the snapshot stays readable, which is the whole point of
    * naming it. Guarded by the table lock.
    */
  private[sources] val snapshotTags =
    scala.collection.mutable.HashMap.empty[String, Long]

  final private[sources] def createTag(tag: String, version: Long): Unit =
    self.synchronized {
      // store and validate the TRIMMED tag — resolution trims too, so
      // an untrimmed key would be creatable yet unreachable; and any
      // Long-parsable tag ('7', '-1', '+5') would resolve on the
      // numeric path instead of the tag path
      val t = tag.trim
      require(t.nonEmpty &&
        scala.util.Try(t.toLong).isFailure,
        s"graftmem $historyName: tag must be non-empty and not parse " +
          s"as a number (a numeric tag '$tag' would shadow version " +
          "numbers)")
      require(!snapshotTags.contains(t),
        s"graftmem $historyName: tag '$t' already exists " +
          s"(-> version ${snapshotTags(t)})")
      require(snapshotAt(version).isDefined,
        s"graftmem $historyName: no retained snapshot for version " +
          s"$version to tag")
      snapshotTags(t) = version
    }

  /** ONE retention implementation for both flavors (and for the
    * automatic per-commit cap): drop all but the newest `keepLast`
    * entries of `snaps` — EXCEPT tagged versions, which survive every
    * pass (retention roots). Call while holding the table lock.
    */
  final private[sources] def pruneSnapshots(
      snaps: scala.collection.mutable.Map[Long, _], keepLast: Int,
      current: Long): (Long, Long, Long) = {
    val pinned = snapshotTags.valuesIterator.toSet
    val vs = snaps.keys.toSeq.sorted
    val drop = vs.dropRight(keepLast).filterNot(pinned)
    drop.foreach(snaps.remove)
    (drop.length.toLong, (vs.length - drop.length).toLong, current)
  }

  /** `VERSION AS OF v` — a commit version number, or a TAG name
    * (b89) resolving to the version it pins.
    */
  final private[sources] def travelToVersion(version: String): Table = {
    val v =
      try version.trim.toLong
      catch {
        case _: NumberFormatException =>
          self.synchronized(snapshotTags.get(version.trim)).getOrElse(
            throw new IllegalArgumentException(
              s"graftmem $historyName: VERSION AS OF takes a numeric " +
                s"commit version or a snapshot tag; no tag named " +
                s"'$version' (tags: ${self.synchronized(
                  snapshotTags.keys.toSeq.sorted.mkString(", "))})"))
      }
    snapshotAt(v) match {
      case Some((rs, sch, dflts, cm)) =>
        new GraftMemSnapshotTable(historyName, sch, v, rs, dflts, cm)
      case None =>
        val r = retainedVersions
        throw new IllegalArgumentException(
          s"graftmem $historyName: no snapshot for version $v " +
            s"(retained: ${if (r.isEmpty) "none"
              else s"${r.head._1}..${r.last._1}"}; expired snapshots " +
            "are unrecoverable)")
    }
  }

  /** `TIMESTAMP AS OF ts` — micros since epoch; resolves to the
    * LATEST snapshot committed at or before `ts` (the as-of
    * contract).
    */
  final private[sources] def travelToTimestamp(micros: Long): Table = {
    val r = retainedVersions
    r.filter(_._2 <= micros).lastOption match {
      case Some((v, _)) => travelToVersion(v.toString)
      case None => throw new IllegalArgumentException(
        s"graftmem $historyName: no snapshot committed at or before " +
          s"timestamp $micros us (earliest retained: " +
          s"${r.headOption.map(_._2).getOrElse(-1L)} us)")
    }
  }
}

/** One committed snapshot as a read-only DSv2 table: the frozen row
  * vector, chunked like the live scan, with column pruning. No write
  * face, no metadata columns — history is content, not layout.
  */
private[sources] class GraftMemSnapshotTable(parentName: String,
    tblSchema: StructType, version: Long,
    frozen: Vector[Array[Any]], defaults: Vector[Any],
    colMap: GraftColMap = null)
    extends Table with SupportsRead {
  override def name(): String = s"$parentName VERSION AS OF $version"
  override def schema(): StructType = tblSchema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ)

  override def newScanBuilder(
      options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder with SupportsPushDownRequiredColumns {
      private var required: StructType = tblSchema
      override def pruneColumns(requiredSchema: StructType): Unit =
        required = requiredSchema
      override def build(): Scan = new Scan with Batch {
        override def readSchema(): StructType = required
        override def toBatch: Batch = this
        override def description(): String =
          s"GraftMemSnapshotScan($parentName@v$version, " +
            s"rows=${frozen.length})"
        override def planInputPartitions(): Array[InputPartition] =
          if (frozen.isEmpty) Array(GraftMemPartition(Vector.empty))
          else frozen.grouped(
            math.max(1, (frozen.length + 3) / 4))
            .map(GraftMemPartition(_): InputPartition).toArray
        override def createReaderFactory(): PartitionReaderFactory = {
          // rows appended before an ALTER ADD COLUMN are narrower than
          // this snapshot's schema: the missing tail reads the
          // column's initial default; the snapshot's own column map
          // (b101) routes renamed/widened columns to their slots
          val proj = GraftCell.projector(required, tblSchema, defaults,
            colMap = colMap)
          new RowsReaderFactory[GraftMemPartition, Array[Any]](_.data,
            (_, r) => proj(0L, r))
        }
      }
    }
}

/** `db.tbl__history` — the SNAPSHOT-HISTORY metadata table (b93), the
  * Iceberg `db.tbl.snapshots` / Delta `DESCRIBE HISTORY` shape at the
  * DSv2 extension point: every retained version as one row of
  * (version, live_rows, n_columns, n_tags, is_current) — the
  * operational "what happened to this table" face an operator reads
  * before picking a `VERSION AS OF` target or a retention cutoff.
  * Wall-clock commit times exist internally but are deliberately NOT
  * columns here (the demo's declared outputs are deterministic);
  * `TIMESTAMP AS OF` remains the time-addressed face. The scan
  * materializes each retained version's visible row COUNT — bounded
  * by the snapshot-retention cap (`graft.snapshot_keep`), a
  * metadata-sized read, never a data-sized one.
  */
private[sources] class GraftHistoryTable(parent: Table
    with GraftSnapshotHistory) extends Table with SupportsRead {
  import org.apache.spark.sql.types.{BooleanType, IntegerType, LongType, StructField}

  override def name(): String = parent.name() + "__history"
  override def schema(): StructType = StructType(Seq(
    StructField("version", LongType, nullable = false),
    StructField("live_rows", LongType, nullable = false),
    StructField("n_columns", IntegerType, nullable = false),
    StructField("n_tags", IntegerType, nullable = false),
    StructField("is_current", BooleanType, nullable = false)))
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ)

  override def newScanBuilder(
      options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder {
      override def build(): Scan = new Scan with Batch {
        // pin one consistent view of the history under the table lock
        private val rows: Array[InternalRow] = parent.synchronized {
          val vs = parent.retainedVersions
          val cur = vs.lastOption.map(_._1).getOrElse(-1L)
          val tagsByV = parent.snapshotTags.groupBy(_._2)
            .map { case (v, m) => (v, m.size) }
          vs.flatMap { case (v, _) =>
            parent.snapshotAt(v).map { case (rs, sch, _, _) =>
              InternalRow(v, rs.length.toLong, sch.fields.length,
                tagsByV.getOrElse(v, 0), v == cur)
            }
          }.toArray
        }
        override def readSchema(): StructType = schema()
        override def toBatch: Batch = this
        override def description(): String =
          s"GraftHistoryScan(${parent.name()}, n=${rows.length})"
        override def planInputPartitions(): Array[InputPartition] =
          Array(GraftHistoryPartition(rows))
        override def createReaderFactory(): PartitionReaderFactory =
          GraftFilesTable.rowArrayReaderFactory
      }
    }
}

private[sources] case class GraftHistoryPartition(rows: Array[InternalRow])
    extends InputPartition

/** `graftmem.system.create_tag(table, tag, version)` — name a
  * retained snapshot (b89, the Iceberg tag shape). The tag resolves
  * through `VERSION AS OF '<tag>'` and PINS its snapshot through
  * every retention pass: expire_snapshots and the automatic
  * per-commit cap both skip tagged versions. Returns (tag, version)
  * as the CALL's result set.
  */
private[sources] object CreateTagProcedure
    extends org.apache.spark.sql.connector.catalog.procedures
      .UnboundProcedure {
  import org.apache.spark.sql.connector.catalog.procedures._
  import org.apache.spark.sql.types.{LongType => LT, StringType, StructField, StructType => ST}

  override def name(): String = "create_tag"
  override def description(): String =
    "name a retained snapshot; the tag resolves via VERSION AS OF " +
      "and pins the snapshot through retention"

  override def bind(inputType: StructType): BoundProcedure =
    new BoundProcedure {
      override def name(): String = "create_tag"
      override def description(): String =
        CreateTagProcedure.this.description()
      override def parameters(): Array[ProcedureParameter] =
        Array(ProcedureParameter.in("table", StringType).build(),
          ProcedureParameter.in("tag", StringType).build(),
          ProcedureParameter.in("version", LT).build())
      override def isDeterministic: Boolean = false
      private val outSchema = ST(Seq(
        StructField("tag", StringType, nullable = false),
        StructField("version", LT, nullable = false)))
      override def call(input: InternalRow)
          : java.util.Iterator[org.apache.spark.sql.connector.read.Scan] = {
        val tbl = input.getUTF8String(0).toString
        val tag = input.getUTF8String(1).toString
        val version = input.getLong(2)
        GraftMemCatalog.lookup(tbl) match {
          case h: GraftSnapshotHistory =>
            h.createTag(tag, version)
            val row: InternalRow = InternalRow(
              org.apache.spark.unsafe.types.UTF8String.fromString(tag),
              version)
            val scan: org.apache.spark.sql.connector.read.Scan =
              new org.apache.spark.sql.connector.read.LocalScan {
                override def rows(): Array[InternalRow] = Array(row)
                override def readSchema(): StructType = outSchema
                override def description(): String =
                  s"create_tag($tbl, $tag, $version)"
              }
            java.util.Collections.singletonList(scan).iterator()
          case null => throw new IllegalArgumentException(
            s"create_tag: no graftmem table named '$tbl'")
          case _ => throw new IllegalArgumentException(
            s"create_tag: '$tbl' keeps no snapshot history")
        }
      }
    }
}

/** `graftmem.system.rollback(table, version)` — ROLLBACK / RESTORE
  * (b104, the Delta `RESTORE TABLE ... VERSION AS OF` / Iceberg
  * `rollback_to_snapshot` shape): set the table's current state back
  * to a retained snapshot's as ONE NEW COMMIT — history preserved
  * (the bad commits stay time-travelable; the restore is a version,
  * not an erasure). Copy-on-write flavor only: the merge-on-read
  * flavor's restore would have to reconcile its file ledger, lineage
  * map and changelog against a historical state — loudly unsupported
  * rather than silently inconsistent. Returns (restored_version,
  * live_rows, current_version) as the CALL's result set.
  */
private[sources] object RollbackProcedure
    extends org.apache.spark.sql.connector.catalog.procedures
      .UnboundProcedure {
  import org.apache.spark.sql.connector.catalog.procedures._
  import org.apache.spark.sql.types.{LongType => LT, StringType, StructField, StructType => ST}

  override def name(): String = "rollback"
  override def description(): String =
    "restore a table to a retained snapshot as a new commit; " +
      "history is preserved"

  override def bind(inputType: StructType): BoundProcedure =
    new BoundProcedure {
      override def name(): String = "rollback"
      override def description(): String =
        RollbackProcedure.this.description()
      override def parameters(): Array[ProcedureParameter] =
        Array(ProcedureParameter.in("table", StringType).build(),
          ProcedureParameter.in("version", LT).build())
      override def isDeterministic: Boolean = false
      private val outSchema = ST(Seq(
        StructField("restored_version", LT, nullable = false),
        StructField("live_rows", LT, nullable = false),
        StructField("current_version", LT, nullable = false)))
      override def call(input: InternalRow)
          : java.util.Iterator[org.apache.spark.sql.connector.read.Scan] = {
        val tbl = input.getUTF8String(0).toString
        val version = input.getLong(1)
        GraftMemCatalog.lookup(tbl) match {
          case g: GraftMemTable =>
            val (liveRows, cur) = g.rollbackTo(version)
            val row: InternalRow = InternalRow(version, liveRows, cur)
            val scan: org.apache.spark.sql.connector.read.Scan =
              new org.apache.spark.sql.connector.read.LocalScan {
                override def rows(): Array[InternalRow] = Array(row)
                override def readSchema(): StructType = outSchema
                override def description(): String =
                  s"rollback($tbl, $version)"
              }
            java.util.Collections.singletonList(scan).iterator()
          case null => throw new IllegalArgumentException(
            s"rollback: no graftmem table named '$tbl'")
          case _ => throw new UnsupportedOperationException(
            s"rollback: '$tbl' is not a copy-on-write graftmem table " +
              "(the merge-on-read flavor's ledger/lineage/changelog " +
              "cannot be rolled back consistently — compact, then " +
              "restore through an explicit rewrite)")
        }
      }
    }
}

/** `graftmem.system.clone_table(src, dst)` — SHALLOW CLONE (b105,
  * the Delta `CREATE TABLE ... CLONE` shape): a NEW table whose
  * version-1 content is the source's current content BY REFERENCE
  * (zero data copied — shared immutable vectors, the in-memory
  * analogue of manifests pointing at the source's data files), after
  * which the two tables evolve INDEPENDENTLY. Copy-on-write flavor
  * only. Returns (cloned_rows, src_version) as the CALL's result set.
  */
private[sources] object CloneTableProcedure
    extends org.apache.spark.sql.connector.catalog.procedures
      .UnboundProcedure {
  import org.apache.spark.sql.connector.catalog.procedures._
  import org.apache.spark.sql.types.{LongType => LT, StringType, StructField, StructType => ST}

  override def name(): String = "clone_table"
  override def description(): String =
    "shallow-clone a table's current snapshot into a new table " +
      "(zero-copy; independent histories after the clone)"

  /** Two arities: (src, dst) clones the HEAD; (src, dst, version)
    * clones a retained snapshot — the `CLONE ... VERSION AS OF` face.
    * The bind branches on the CALL's input shape, the way a real
    * procedure catalog resolves overloads.
    */
  override def bind(inputType: StructType): BoundProcedure =
    new BoundProcedure {
      private val versioned = inputType.fields.length >= 3
      override def name(): String = "clone_table"
      override def description(): String =
        CloneTableProcedure.this.description()
      override def parameters(): Array[ProcedureParameter] = {
        val base = Array(ProcedureParameter.in("src", StringType).build(),
          ProcedureParameter.in("dst", StringType).build())
        if (versioned)
          base :+ ProcedureParameter.in("version", LT).build()
        else base
      }
      override def isDeterministic: Boolean = false
      private val outSchema = ST(Seq(
        StructField("cloned_rows", LT, nullable = false),
        StructField("src_version", LT, nullable = false)))
      override def call(input: InternalRow)
          : java.util.Iterator[org.apache.spark.sql.connector.read.Scan] = {
        val src = input.getUTF8String(0).toString
        val dst = input.getUTF8String(1).toString
        val version: Option[Long] =
          if (versioned) Some(input.getLong(2)) else None
        GraftMemCatalog.lookup(src) match {
          case g: GraftMemTable =>
            // clone under the source lock, register after — a racing
            // CREATE of dst loses to putIfAbsent, loudly
            val (t, srcVer) = g.synchronized {
              (g.cloneInto(dst, version),
                version.getOrElse(g.commitVersion))
            }
            GraftMemCatalog.register(dst, t)
            val row: InternalRow =
              InternalRow(t.rows.length.toLong, srcVer)
            val scan: org.apache.spark.sql.connector.read.Scan =
              new org.apache.spark.sql.connector.read.LocalScan {
                override def rows(): Array[InternalRow] = Array(row)
                override def readSchema(): StructType = outSchema
                override def description(): String =
                  s"clone_table($src, $dst)"
              }
            java.util.Collections.singletonList(scan).iterator()
          case null => throw new IllegalArgumentException(
            s"clone_table: no graftmem table named '$src'")
          case _ => throw new UnsupportedOperationException(
            s"clone_table: '$src' is not a copy-on-write graftmem " +
              "table (clone the merge-on-read flavor by compacting " +
              "into a fresh table)")
        }
      }
    }
}

/** `graftmem.system.expire_snapshots(table, keep_last)` — snapshot
  * RETENTION as a governed catalog procedure (the other half of b84:
  * time travel is only honest if history has a bounded, administered
  * lifetime). Keeps the most recent `keep_last` snapshots (the
  * current one always survives), releases every older snapshot's row
  * references — the demo equivalent of deleting unreferenced data
  * files — and returns (expired, retained, current_version) as the
  * CALL's result set.
  */
private[sources] object ExpireSnapshotsProcedure
    extends org.apache.spark.sql.connector.catalog.procedures
      .UnboundProcedure {
  import org.apache.spark.sql.connector.catalog.procedures._
  import org.apache.spark.sql.types.{IntegerType, LongType => LT, StringType, StructField, StructType => ST}

  override def name(): String = "expire_snapshots"
  override def description(): String =
    "drop all but the most recent keep_last snapshots of a table"

  override def bind(inputType: StructType): BoundProcedure =
    new BoundProcedure {
      override def name(): String = "expire_snapshots"
      override def description(): String =
        ExpireSnapshotsProcedure.this.description()
      override def parameters(): Array[ProcedureParameter] =
        Array(ProcedureParameter.in("table", StringType).build(),
          ProcedureParameter.in("keep_last", IntegerType).build())
      override def isDeterministic: Boolean = false
      private val outSchema = ST(Seq(
        StructField("expired", LT, nullable = false),
        StructField("retained", LT, nullable = false),
        StructField("current_version", LT, nullable = false)))
      override def call(input: InternalRow)
          : java.util.Iterator[org.apache.spark.sql.connector.read.Scan] = {
        val tbl = input.getUTF8String(0).toString
        val keep = input.getInt(1)
        require(keep >= 1,
          s"expire_snapshots: keep_last must be >= 1, got $keep")
        GraftMemCatalog.lookup(tbl) match {
          case h: GraftSnapshotHistory =>
            val (expired, retained, cur) = h.expireSnapshots(keep)
            val row: InternalRow = InternalRow(expired, retained, cur)
            val scan: org.apache.spark.sql.connector.read.Scan =
              new org.apache.spark.sql.connector.read.LocalScan {
                override def rows(): Array[InternalRow] = Array(row)
                override def readSchema(): StructType = outSchema
                override def description(): String =
                  s"expire_snapshots($tbl, $keep)"
              }
            java.util.Collections.singletonList(scan).iterator()
          case null => throw new IllegalArgumentException(
            s"expire_snapshots: no graftmem table named '$tbl'")
          case _ => throw new IllegalArgumentException(
            s"expire_snapshots: '$tbl' keeps no snapshot history")
        }
      }
    }
}
