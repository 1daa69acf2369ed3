package graft.sources

import java.util

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability}
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReaderFactory, Scan, ScanBuilder, SupportsPushDownRequiredColumns}
import org.apache.spark.sql.types.{BooleanType, DataType, IntegerType, LongType, StringType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** TIME TRAVEL over graftmem tables (b84) — the lakehouse snapshot
  * face at the DSv2 extension point: SQL `VERSION AS OF v` /
  * `TIMESTAMP AS OF ts` resolve through
  * [[GraftMemCatalog.loadTable(ident, version)]] /
  * `loadTable(ident, timestamp)` (Spark's `TimeTravelSpec` plumbing,
  * the same route Iceberg/Delta take), and the returned table is a
  * [[GraftFrozenTable]]: a READ-ONLY view of one committed snapshot.
  * The same read-only face serves the `__history`, `__files` and
  * `__partitions` metadata tables, whose rows are built by the parent
  * ([[GraftSnapshotHistory#historyFace]], [[GraftMemMorTable#filesFace]],
  * [[GraftMemTable#partitionsFace]]).
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
      case Some(pinned) =>
        new GraftFrozenTable(s"$historyName VERSION AS OF $v", pinned._2,
          "GraftMemSnapshotScan", () => pinned)
      case None =>
        throw new IllegalArgumentException(
          s"graftmem $historyName: no snapshot for version $v " +
            s"(retained: $retainedRange; expired snapshots " +
            "are unrecoverable)")
    }
  }

  /** The retained versions as `first..last`, or `none`. */
  final private[sources] def retainedRange: String = {
    val r = retainedVersions
    if (r.isEmpty) "none" else s"${r.head._1}..${r.last._1}"
  }

  /** `db.tbl__history` — the SNAPSHOT-HISTORY metadata table (b93),
    * the Iceberg `db.tbl.snapshots` / Delta `DESCRIBE HISTORY` shape:
    * every retained version as one row of (version, live_rows,
    * n_columns, n_tags, is_current) — the operational "what happened
    * to this table" face an operator reads before picking a `VERSION
    * AS OF` target or a retention cutoff. Wall-clock commit times
    * exist internally but are deliberately NOT columns here (the
    * demo's declared outputs are deterministic); `TIMESTAMP AS OF`
    * remains the time-addressed face. Each scan pins one view under
    * the table lock and materializes each retained version's visible
    * row COUNT — bounded by the snapshot-retention cap
    * (`graft.snapshot_keep`), a metadata-sized read.
    */
  final private[sources] def historyFace: Table =
    GraftFrozenTable.metadata(s"${historyName}__history", "GraftHistoryScan",
      "version" -> LongType, "live_rows" -> LongType,
      "n_columns" -> IntegerType, "n_tags" -> IntegerType,
      "is_current" -> BooleanType) {
      self.synchronized {
        val vs = retainedVersions
        val cur = vs.lastOption.map(_._1).getOrElse(-1L)
        val tagsByV = snapshotTags.groupBy(_._2)
          .map { case (v, m) => (v, m.size) }
        vs.toVector.flatMap { case (v, _) =>
          snapshotAt(v).map { case (rs, sch, _, _) =>
            Array[Any](v, rs.length.toLong, sch.fields.length,
              tagsByV.getOrElse(v, 0), v == cur)
          }
        }
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

/** A READ-ONLY graftmem face: one committed snapshot (`VERSION AS
  * OF`) or a metadata table (`__history`, `__files`, `__partitions`,
  * whose rows are boxed cells under an identity column map). `pin`
  * yields (rows, schema, defaults, column map) once per scan, so the
  * tuple is one consistent view. No write face, no metadata columns —
  * history is content, not layout.
  */
private[sources] class GraftFrozenTable(tblName: String,
    tblSchema: StructType, scanName: String,
    pin: () => GraftFrozenTable.Pinned)
    extends Table with SupportsRead {
  override def name(): String = tblName
  override def schema(): StructType = tblSchema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ)
  override def newScanBuilder(
      options: CaseInsensitiveStringMap): ScanBuilder =
    new GraftFrozenScanBuilder(tblName, tblSchema, scanName, pin)
}

/** The scan of every read-only face and of a WAP branch: pins at
  * build, prunes columns, splits the rows like the live scans, and
  * reads them through the shared projector — rows narrower than the
  * pinned schema (appended before an ALTER ADD COLUMN) read the
  * column's initial default, and the pinned column map (b101) routes
  * renamed/widened columns to their slots.
  */
private[sources] class GraftFrozenScanBuilder(tblName: String,
    tblSchema: StructType, scanName: String,
    pin: () => GraftFrozenTable.Pinned)
    extends ScanBuilder with SupportsPushDownRequiredColumns {
  private var required: StructType = tblSchema
  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema
  override def build(): Scan = new Scan with Batch {
    private val (rows, pinSchema, pinDefaults, pinColMap) = pin()
    override def readSchema(): StructType = required
    override def toBatch: Batch = this
    override def description(): String =
      s"$scanName($tblName, rows=${rows.length})"
    override def planInputPartitions(): Array[InputPartition] =
      GraftFrozenTable.splits(rows)(GraftMemPartition(_))
    override def createReaderFactory(): PartitionReaderFactory = {
      val proj = GraftCell.projector(required, pinSchema, pinDefaults,
        colMap = pinColMap)
      new RowsReaderFactory[GraftMemPartition, Array[Any]](_.data,
        (_, r) => proj(0L, r))
    }
  }
}

private[sources] object GraftFrozenTable {
  /** (rows, schema, per-column defaults, column map) as of one scan. */
  type Pinned = (Vector[Array[Any]], StructType, IndexedSeq[Any], GraftColMap)

  /** The one split rule for graftmem rows that are not split by
    * rewrite group (the read-only face, the merge-on-read scans and
    * streams, `__changes`, and `rewrite_sort`'s files): `rows` in at
    * most `n` equal chunks, in order; none for no rows.
    */
  def chunks[A](rows: Vector[A], n: Int): Iterator[Vector[A]] =
    if (rows.isEmpty) Iterator.empty
    else rows.grouped(math.max(1, (rows.length + n - 1) / n))

  /** `rows` as up to four splits, or one empty split for no rows. */
  def splits[A](rows: Vector[A])(
      part: Vector[A] => InputPartition): Array[InputPartition] =
    if (rows.isEmpty) Array(part(Vector.empty))
    else chunks(rows, 4).map(part).toArray

  /** A metadata face: `rows` gives boxed cells in `cols` order (all
    * non-null), built afresh by each scan.
    */
  def metadata(tblName: String, scanName: String,
      cols: (String, DataType)*)(
      rows: => Vector[Array[Any]]): GraftFrozenTable = {
    val schema = StructType(cols.map { case (n, t) =>
      StructField(n, t, nullable = false) })
    val zeros = schema.fields.toVector.map(f => GraftCell.zeroOf(f.dataType))
    new GraftFrozenTable(tblName, schema, scanName,
      () => (rows, schema, zeros, GraftColMap.identity(cols.length)))
  }
}

/** `graftmem.system.create_tag(table, tag, version)` — name a
  * retained snapshot (b89, the Iceberg tag shape). The tag resolves
  * through `VERSION AS OF '<tag>'` and PINS its snapshot through
  * every retention pass: expire_snapshots and the automatic
  * per-commit cap both skip tagged versions. Returns (tag, version)
  * as the CALL's result set.
  */
private[sources] object CreateTagProcedure extends GraftProcedure(
    "create_tag",
    "name a retained snapshot; the tag resolves via VERSION AS OF " +
      "and pins the snapshot through retention",
    Seq("table" -> StringType, "tag" -> StringType, "version" -> LongType),
    Seq("tag" -> StringType, "version" -> LongType)) {
  override def body(in: InternalRow): Body = {
    case h: GraftSnapshotHistory =>
      h.createTag(in.getString(1), in.getLong(2))
      (in.getString(1), in.getLong(2))
  }
  override def wrongFlavour(tbl: String): Exception =
    new IllegalArgumentException(
      s"${name()}: '$tbl' keeps no snapshot history")
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
private[sources] object RollbackProcedure extends GraftProcedure(
    "rollback",
    "restore a table to a retained snapshot as a new commit; " +
      "history is preserved",
    Seq("table" -> StringType, "version" -> LongType),
    Seq("restored_version" -> LongType, "live_rows" -> LongType,
      "current_version" -> LongType)) {
  override def body(in: InternalRow): Body = {
    case g: GraftMemTable =>
      val (liveRows, cur) = g.rollbackTo(in.getLong(1))
      (in.getLong(1), liveRows, cur)
  }
  override def wrongFlavour(tbl: String): Exception =
    new UnsupportedOperationException(
      s"${name()}: '$tbl' is not a copy-on-write graftmem table " +
        "(the merge-on-read flavor's ledger/lineage/changelog " +
        "cannot be rolled back consistently — compact, then " +
        "restore through an explicit rewrite)")
}

/** `graftmem.system.clone_table(src, dst)` — SHALLOW CLONE (b105,
  * the Delta `CREATE TABLE ... CLONE` shape): a NEW table whose
  * version-1 content is the source's current content BY REFERENCE
  * (zero data copied — shared immutable vectors, the in-memory
  * analogue of manifests pointing at the source's data files), after
  * which the two tables evolve INDEPENDENTLY. Copy-on-write flavor
  * only. Returns (cloned_rows, src_version) as the CALL's result set.
  */
private[sources] object CloneTableProcedure extends GraftProcedure(
    "clone_table",
    "shallow-clone a table's current snapshot into a new table " +
      "(zero-copy; independent histories after the clone)",
    Seq("src" -> StringType, "dst" -> StringType, "version" -> LongType),
    Seq("cloned_rows" -> LongType, "src_version" -> LongType)) {
  /** Two arities: (src, dst) clones the HEAD; (src, dst, version)
    * clones a retained snapshot — the `CLONE ... VERSION AS OF` face.
    * The bind branches on the CALL's input shape, the way a real
    * procedure catalog resolves overloads.
    */
  override def arity(inputType: StructType): Int =
    if (inputType.fields.length >= 3) 3 else 2
  override def body(in: InternalRow): Body = {
    case g: GraftMemTable =>
      val dst = in.getString(1)
      val version = if (in.numFields >= 3) Some(in.getLong(2)) else None
      // clone under the source lock, register after — a racing
      // CREATE of dst loses to putIfAbsent, loudly
      val (t, srcVer) = g.synchronized {
        (g.cloneInto(dst, version), version.getOrElse(g.commitVersion))
      }
      GraftMemCatalog.register(dst, t)
      (t.rows.length.toLong, srcVer)
  }
  override def wrongFlavour(tbl: String): Exception =
    new UnsupportedOperationException(
      s"${name()}: '$tbl' is not a copy-on-write graftmem " +
        "table (clone the merge-on-read flavor by compacting " +
        "into a fresh table)")
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
private[sources] object ExpireSnapshotsProcedure extends GraftProcedure(
    "expire_snapshots",
    "drop all but the most recent keep_last snapshots of a table",
    Seq("table" -> StringType, "keep_last" -> IntegerType),
    Seq("expired" -> LongType, "retained" -> LongType,
      "current_version" -> LongType)) {
  override def check(in: InternalRow): Unit =
    require(in.getInt(1) >= 1,
      s"${name()}: keep_last must be >= 1, got ${in.getInt(1)}")
  override def body(in: InternalRow): Body = {
    case h: GraftSnapshotHistory => h.expireSnapshots(in.getInt(1))
  }
  override def wrongFlavour(tbl: String): Exception =
    new IllegalArgumentException(
      s"${name()}: '$tbl' keeps no snapshot history")
}
