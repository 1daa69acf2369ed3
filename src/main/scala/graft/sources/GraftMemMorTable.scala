package graft.sources

import java.util

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog._
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder, SupportsPushDownRequiredColumns}
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.types.{DataType, IntegerType, LongType, StringType, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** MERGE-ON-READ table flavor (b80) — the `SupportsDelta` half of the
  * DSv2 row-level-operation matrix, next to [[GraftMemTable]]'s
  * copy-on-write half (b75/b77):
  *
  *   - COPY-ON-WRITE (`ReplaceData`): the MERGE's write REWRITES every
  *     scanned group — reads stay trivial (the table body IS current),
  *     writes cost a group rewrite. Right for read-heavy tables with
  *     rare wide updates.
  *   - MERGE-ON-READ (`WriteDelta`): the MERGE's write emits per-row
  *     DELTAS — positional tombstones and inserted rows — and the
  *     BASE rows are never touched; each SCAN merges base − tombstones
  *     + delta-inserts at read time. Writes cost O(changed rows)
  *     regardless of group width — the shape update-heavy CDC needs
  *     (Iceberg position deletes, Delta deletion vectors), traded
  *     against a per-read merge that compaction periodically folds
  *     back into the base.
  *
  * Spark's engine face: `RewriteMergeIntoTable` sees the operation
  * implement `SupportsDelta` and plans `WriteDelta` instead of
  * `ReplaceData` — `MergeRows` tags each output row with an operation
  * (INSERT / UPDATE / DELETE), and `WriteDeltaExec` splits the stream
  * into typed [[org.apache.spark.sql.connector.write.DeltaWriter]]
  * calls, projecting the row id (`_pos`, this table's metadata
  * column, the demo stand-in for Iceberg's `_file`+`_pos` pair) for
  * deletes/updates and the data columns for inserts. Untouched rows
  * never flow through the plan AT ALL — where copy-on-write re-writes
  * every surviving row of a touched group, the delta plan's write set
  * is exactly the changed rows (the spec proves base-row object
  * identity across a MERGE).
  *
  * Scale story at 100 TB: a real MoR connector writes tombstones as
  * position-sorted delete files next to the data files and ships each
  * scan split with only ITS delete subset — this demo does the same
  * in miniature ([[MorPartition]] carries the tombstones intersecting
  * its chunk, and the reader skips them streamingly). Commit is a
  * metadata append (never a data move), so MERGE cost is O(delta),
  * and CONCURRENT writers only conflict when they tombstone the SAME
  * row — the commit validates exactly that (`deleted ∩ incoming`,
  * the Iceberg validate-no-conflicting-deletes check); concurrent
  * appends and disjoint-row deltas all land, a strictly weaker
  * conflict surface than copy-on-write's per-group check.
  *
  * Created through [[GraftMemCatalog]] with
  * `TBLPROPERTIES ('graft.row_level' = 'merge-on-read')`.
  *
  * DELETE ADDRESSING (b91): `graft.mor.deletes` picks how the delta
  * writer names the rows it removes —
  *
  *   - `'position'` (default): POSITIONAL tombstones addressed by the
  *     `_pos` row id (Iceberg position deletes / Delta deletion
  *     vectors). Precise, but the WRITER must know each victim's
  *     position — fine for engine-planned MERGE (the scan carries
  *     `_pos`), expensive for streaming CDC that would otherwise have
  *     to look positions up per batch.
  *   - `'equality'`: deletes addressed BY KEY (the first schema
  *     column, required NOT NULL — Spark rejects nullable row ids):
  *     `SupportsDelta.rowId` is the key column itself, so the delta
  *     plan never projects `_pos` at all. Each committed delete
  *     carries a POSITION BOUNDARY (the table's next-position at its
  *     commit): it kills exactly the rows with that key written
  *     BEFORE it — the Iceberg-v2 sequence-number rule, which is what
  *     lets an UPDATE's delete+re-insert of the SAME key land in one
  *     commit without the delete eating its own insert, and repeated
  *     streaming upserts of one key (d25's shape) stack correctly.
  *     Read-time merge filters by (key, boundary) per split; commit
  *     validation pins the operation's scan version and rejects (a)
  *     a key equality-deleted by a LATER commit (the
  *     validate-no-conflicting-deletes check) and (b) a key matching
  *     no live row (deleted and compacted away since the scan).
  */
private[sources] class GraftMemMorTable(val fullName: String,
    tblSchema: StructType,
    tblConstraints: Array[org.apache.spark.sql.connector.catalog
      .constraints.Constraint] = Array.empty,
    snapshotKeep: Int = 128,
    val deleteMode: String = "position")
    extends Table with SupportsRead with SupportsWrite
    with SupportsRowLevelOperations with SupportsMetadataColumns
    with GraftSnapshotHistory {

  require(deleteMode == "position" || deleteMode == "equality",
    s"graft.mor.deletes must be 'position' or 'equality', got '$deleteMode'")
  private[sources] def isEquality: Boolean = deleteMode == "equality"
  /** Equality mode's delete key: the FIRST schema column. */
  private[sources] val keyIdx: Int = 0
  if (isEquality) {
    require(tblSchema.fields.nonEmpty && !tblSchema.fields(0).nullable,
      s"graftmem $fullName: equality-delete mode addresses rows by the " +
        s"first column, which must be NOT NULL (Spark rejects nullable " +
        s"row ids); got $tblSchema")
  }

  /** TABLE CONSTRAINTS (b87): see [[GraftMemTable.constraints]]. */
  override def constraints(): Array[
    org.apache.spark.sql.connector.catalog.constraints.Constraint] =
    tblConstraints
  require(tblSchema.fields.forall(_.dataType == LongType),
    s"graftmem demo table supports LONG columns at CREATE, got " +
      s"$tblSchema (ALTER ADD COLUMNS accepts the typed family, b85)")

  /** Current schema; grows via [[addColumn]]. */
  @volatile private var curSchema: StructType = tblSchema

  /** Per-column INITIAL DEFAULTS aligned with [[curSchema]] (b85):
    * fixed at add time, what every read face pads pre-ALTER rows with.
    */
  @volatile private[sources] var colDefaults: Vector[Any] =
    tblSchema.fields.toVector.map(_ => java.lang.Long.valueOf(0L): Any)

  /** SNAPSHOT HISTORY (b84): version → (base, delta-inserts,
    * tombstones, commit micros, schema as of the commit) — immutable
    * REFERENCES per commit, O(1) to record (the manifest-pointer
    * shape; see [[GraftSnapshotHistory]]). The visible row set of a
    * version is materialized only when a time-travel read loads it.
    * Guarded by `this`.
    */
  private[sources] val snapshots = scala.collection.mutable.HashMap[
    Long, (Vector[(Long, Array[Any])], Vector[(Long, Array[Any])],
      Set[Long], Vector[(Long, Long)], Long, StructType)](
    0L -> (Vector.empty, Vector.empty, Set.empty, Vector.empty,
      System.currentTimeMillis() * 1000L, tblSchema))

  /** Record the post-commit snapshot — automatically pruned to the
    * newest `snapshotKeep` (`graft.snapshot_keep` table property), so
    * a long-running delta writer holds O(keep) history, not
    * O(commits). Call ONLY while holding `this`, AFTER the commit's
    * state swap (including `commitVersion += 1`).
    */
  private[sources] def recordSnapshot(): Unit = {
    snapshots(commitVersion) = (base, deltaInserts, deleted,
      eqDeletes.map(e => (e._1, e._2)),
      System.currentTimeMillis() * 1000L, curSchema)
    if (snapshots.size > snapshotKeep)
      pruneSnapshots(snapshots, snapshotKeep, commitVersion)
  }

  /** Read-time liveness: a row dies to a positional tombstone, or (in
    * equality mode) to an equality delete of its key whose position
    * boundary it predates. ONE definition shared by the live scan's
    * split planning, compaction, snapshot materialization, and the
    * delta commit's victim lookup.
    */
  private[sources] def eqBoundaries(
      eq: Vector[(Long, Long)]): Map[Long, Long] =
    eq.groupMapReduce(_._1)(_._2)(math.max)
  private[sources] def liveRows(
      b: Vector[(Long, Array[Any])], ins: Vector[(Long, Array[Any])],
      posDel: Set[Long], eq: Vector[(Long, Long)])
      : Vector[(Long, Array[Any])] = {
    val bounds = eqBoundaries(eq)
    (b ++ ins).filterNot { case (pos, r) =>
      posDel.contains(pos) ||
        (bounds.nonEmpty &&
          bounds.get(GraftCell.asLong(r(keyIdx))).exists(pos < _))
    }
  }

  /** The live rows of the CURRENT state. Call while holding `this`. */
  private[sources] def currentLive: Vector[(Long, Array[Any])] =
    liveRows(base, deltaInserts, deleted, eqDeletes.map(e => (e._1, e._2)))

  /** SCHEMA EVOLUTION (b85) on the merge-on-read flavor — same
    * metadata-only contract as [[GraftMemTable.addColumn]]: no data
    * pass, pre-ALTER rows (and change-log entries) surface the new
    * column as its initial default. Note the conflict surface
    * stays ROW-level (this flavor's contract): an in-flight delta
    * computed under the old schema commits narrower rows, which
    * remain valid — every reader pads them with the initial default —
    * so no version check is needed where copy-on-write needs one
    * (its stale FULL rewrite would truncate the new column for
    * untouched rows).
    */
  private[sources] def addColumn(col: String, dt: DataType,
      dflt: Any): Unit = synchronized {
    require(!curSchema.fieldNames.contains(col),
      s"graftmem $fullName: column $col already exists")
    curSchema = curSchema.add(col, dt, nullable = true)
    colDefaults = colDefaults :+ dflt
    commitVersion += 1
    recordSnapshot()
  }

  override private[sources] def historyName: String = fullName
  override private[sources] def retainedVersions: Seq[(Long, Long)] =
    synchronized(snapshots.iterator
      .map { case (v, (_, _, _, _, t, _)) => (v, t) }.toSeq.sortBy(_._1))
  override private[sources] def snapshotAt(version: Long)
      : Option[(Vector[Array[Any]], StructType, Vector[Any], GraftColMap)] =
    synchronized(snapshots.get(version).map {
      case (b, ins, del, eq, _, sch) =>
        // this flavor evolves by ADD COLUMN only, so its map stays
        // the identity at every version (b101 lives on copy-on-write)
        (liveRows(b, ins, del, eq).map(_._2), sch,
          colDefaults.take(sch.fields.length),
          GraftColMap.identity(sch.fields.length))
    })
  override private[sources] def expireSnapshots(
      keepLast: Int): (Long, Long, Long) =
    synchronized(pruneSnapshots(snapshots, keepLast, commitVersion))

  /** Base rows (pos → row), appended by batch INSERTs. Row-level
    * operations NEVER modify this vector or its row objects — that is
    * the merge-on-read contract the spec asserts by object identity.
    */
  @volatile private[sources] var base: Vector[(Long, Array[Any])] =
    Vector.empty

  /** Delta state: positional tombstones and delta-inserted rows.
    * Every committed delta appends here; reads merge. All three
    * vectors are replaced atomically under `this`.
    */
  @volatile private[sources] var deleted: Set[Long] = Set.empty
  @volatile private[sources] var deltaInserts: Vector[(Long, Array[Any])] =
    Vector.empty

  /** EQUALITY DELETES (b91, equality mode only): every committed
    * key-addressed delete as (key, position boundary, commit version).
    * A delete kills rows of its key with pos < boundary — the
    * boundary is the table's next-position AT THE DELETE'S COMMIT, so
    * rows (re-)inserted by the same or a later commit survive it (the
    * Iceberg sequence-number scoping, expressed in positions, which
    * are assigned monotonically per commit). The version is what the
    * commit-conflict validation compares an operation's pinned scan
    * version against.
    */
  @volatile private[sources] var eqDeletes: Vector[(Long, Long, Long)] =
    Vector.empty

  /** ROW LINEAGE (b95, the Iceberg-v3 `_row_id` /
    * `_last_updated_sequence_number` shape): pos → (stable row id,
    * last-updating commit version). A row's id is assigned at its
    * FIRST commit (= its first position, unique and never reused) and
    * PRESERVED through every row-level UPDATE — the delta writer's
    * update() carries the victim→new-row pairing, so the re-insert
    * inherits the victim's id while `_last_updated_version` moves to
    * the updating commit — and through compaction (positions are
    * preserved; dead entries are pruned). This is the identity layer
    * that lets an incremental consumer see UPDATES as updates rather
    * than unrelated delete+insert pairs. Guarded by `this`; pruned to
    * live rows at compaction, so it holds O(live + uncompacted dead).
    * A real format materializes these two columns INTO rewritten data
    * files (nothing global ships with a scan); the demo ships the
    * snapshot map with the reader factory.
    */
  @volatile private[sources] var lineage: Map[Long, (Long, Long)] =
    Map.empty

  /** Next row position + commit counter; guarded by `this`. */
  private[sources] var nextPos: Long = 0L
  private[sources] var commitVersion: Long = 0L

  /** FILE LEDGER (b94): every row-landing commit's contiguous position
    * range as one "data file" with WRITE-TIME stats (rows written,
    * min/max of the lead column) — the manifest-entry shape the
    * `db.tbl__files` metadata table serves ([[filesFace]]).
    * Replaced wholesale by compaction (N files → 1 spanning file);
    * liveness against the current delete state is derived at read
    * time. Guarded by `this`.
    */
  @volatile private[sources] var files: Vector[GraftFile] = Vector.empty
  private[sources] var nextFileId: Long = 0L

  /** Record one ledger file for `assigned` (a commit's landed rows,
    * ascending contiguous positions). Call while holding `this`,
    * AFTER `commitVersion += 1`. No-op for an empty landing — a
    * delete-only commit cuts no data file.
    */
  private[sources] def recordFile(
      assigned: Vector[(Long, Array[Any])]): Unit =
    if (assigned.nonEmpty) {
      nextFileId += 1
      var mn = Long.MaxValue; var mx = Long.MinValue
      assigned.foreach { case (_, r) =>
        val k = GraftCell.asLong(r(keyIdx))
        if (k < mn) mn = k
        if (k > mx) mx = k
      }
      files = files :+ GraftFile(nextFileId, commitVersion,
        assigned.head._1, assigned.last._1 + 1,
        assigned.length.toLong, mn, mx)
    }

  /** The next contiguous positions, one per element of `xs`, in order.
    * Call while holding `this`.
    */
  private[sources] def assignPositions[A](xs: Vector[A]): Vector[(Long, A)] =
    xs.map { x => val p = nextPos; nextPos += 1; (p, x) }

  /** The row id of position `p` as of now: its lineage entry, or the
    * first-commit identity (id = pos) for rows with none.
    */
  private[sources] def rowIdOf(p: Long): Long =
    lineage.get(p).map(_._1).getOrElse(p)

  /** THE LANDING STEP of every row-landing commit (append, positional
    * delta, equality delta), run under `this` after the caller's
    * validation: positions for `ins`, then for the update re-inserts
    * `upd` (each paired with the row id it inherits from its victim);
    * the version bump; `place` puts the commit's deletes and its
    * landed rows where its mode keeps them (base or delta log,
    * tombstones or equality deletes — it sees the new version); one
    * ledger file; lineage (inserts get first-commit identity, updates
    * the victim's id, b95); the change log (the victims `dels` as
    * (pos, row) in position order, then inserts, then re-inserts,
    * b83); and the snapshot.
    */
  private[sources] def land(ins: Vector[Array[Any]],
      upd: Vector[(Long, Array[Any])], dels: Vector[(Long, Array[Any])])(
      place: Vector[(Long, Array[Any])] => Unit): Unit = {
    val landedIns = assignPositions(ins)
    val landedUpd = assignPositions(upd)
    val landed = landedIns ++ landedUpd.map { case (p, (_, r)) => (p, r) }
    commitVersion += 1
    place(landed)
    recordFile(landed)
    changeLog = changeLog ++
      dels.map { case (p, r) => (commitVersion, false, p, rowIdOf(p), r) } ++
      landedIns.map { case (p, r) => (commitVersion, true, p, p, r) } ++
      landedUpd.map { case (p, (id, r)) => (commitVersion, true, p, id, r) }
    lineage = lineage ++
      landedIns.iterator.map { case (p, _) => p -> ((p, commitVersion)) } ++
      landedUpd.iterator.map { case (p, (id, _)) => p -> ((id, commitVersion)) }
    recordSnapshot()
  }

  /** `db.tbl__files` — the file-grain metadata table (b94): one row
    * per live ledger file of (file_id, commit_version, pos_min,
    * pos_max, rows_written, live_rows, deleted_rows, min_key,
    * max_key). Write-time stats come from the ledger; each scan
    * derives liveness from ONE consistent (ledger, delete state) view
    * — live positions falling in the file's range (ranges are disjoint
    * by construction).
    */
  private[sources] def filesFace: Table =
    GraftFrozenTable.metadata(s"${fullName}__files", "GraftFilesScan",
      "file_id" -> LongType, "commit_version" -> LongType,
      "pos_min" -> LongType, "pos_max" -> LongType,
      "rows_written" -> LongType, "live_rows" -> LongType,
      "deleted_rows" -> LongType, "min_key" -> LongType,
      "max_key" -> LongType) {
      val (fs, live) = synchronized((files, currentLive))
      val byMin = fs.sortBy(_.posMin).toArray
      val liveCount = new Array[Long](byMin.length)
      live.foreach { case (pos, _) =>
        // last file with posMin <= pos (binary search over the
        // disjoint sorted ranges)
        var lo = 0; var hi = byMin.length - 1; var hit = -1
        while (lo <= hi) {
          val mid = (lo + hi) >>> 1
          if (byMin(mid).posMin <= pos) { hit = mid; lo = mid + 1 }
          else hi = mid - 1
        }
        if (hit >= 0 && pos < byMin(hit).posMaxExcl)
          liveCount(hit) += 1
      }
      byMin.toVector.zipWithIndex.map { case (f, i) =>
        Array[Any](f.fileId, f.commitVersion, f.posMin, f.posMaxExcl,
          f.rowsWritten, liveCount(i), f.rowsWritten - liveCount(i),
          f.minKey, f.maxKey)
      }
    }

  /** CHANGE LOG (b83): every committed row change, stamped with the
    * commit version that produced it — (version, isInsert, pos,
    * rowId, row). The ROW ID is captured AT COMMIT TIME (d33): an
    * update's delete and re-insert share it, which is what lets a
    * change-feed consumer reconstruct UPDATES from D+I pairs — and it
    * must be stored, not derived, because compaction prunes dead
    * rows' lineage while the feed keeps serving their history.
    * Appends log their inserts; delta commits log tombstones WITH the
    * deleted row's content (looked up at commit time — the same join
    * a position-delete CDC reader does against the data files) and
    * their inserts; an UPDATE therefore appears as its D+I pair, the
    * honest shape for a position-delta format (Delta CDF's
    * update_pre/postimage is a presentation layer over the same
    * events). COMPACTION never touches this log — the feed is history,
    * not state. Demo bound: the log grows with total changes over the
    * table's lifetime; a production format bounds it by log retention
    * and serves older reads from snapshots.
    */
  private[sources] var changeLog
      : Vector[(Long, Boolean, Long, Long, Array[Any])] = Vector.empty

  /** CHANGE-LOG RETENTION (b98): `changelogBase` counts pruned
    * entries so LOGICAL stream offsets stay stable across retention
    * (offset = base + retained index — a checkpointed consumer ahead
    * of the cut resumes untouched); `changelogFloor` is the lowest
    * retained commit version (0 = full history) — a read reaching
    * below it fails LOUDLY instead of silently returning partial
    * history, the Delta/Iceberg expired-incremental-read contract.
    * Guarded by `this`.
    */
  private[sources] var changelogBase: Long = 0L
  private[sources] var changelogFloor: Long = 0L

  /** Prune change-log entries below `fromVersion` (a PREFIX — commit
    * versions are monotone in the append-only log). Administrative
    * maintenance of the feed, NOT a table commit: content, version
    * and snapshots are untouched (b83's history/state separation).
    * Returns (pruned, retained, floor).
    */
  private[sources] def expireChangelog(
      fromVersion: Long): (Long, Long, Long) = synchronized {
    // floor invariant: "lowest RETAINED version" — an over-the-head
    // expire would set the floor past every retained AND future
    // commit, bricking the feed until commitVersion caught up. The
    // highest meaningful cut is commitVersion + 1 (drop everything,
    // retain from the next commit onward); beyond that, fail loudly.
    require(fromVersion <= commitVersion + 1L,
      s"expire_changelog: from_version $fromVersion is past the " +
        s"table head (current version $commitVersion); the highest " +
        s"valid cut is ${commitVersion + 1L}")
    val keepFrom = changeLog.indexWhere(_._1 >= fromVersion) match {
      case -1 => changeLog.length
      case i  => i
    }
    val pruned = keepFrom.toLong
    changeLog = changeLog.drop(keepFrom)
    changelogBase += pruned
    changelogFloor = math.max(changelogFloor, fromVersion)
    (pruned, changeLog.length.toLong, changelogFloor)
  }

  override def name(): String = fullName
  override def schema(): StructType = curSchema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ,
      TableCapability.BATCH_WRITE, TableCapability.MICRO_BATCH_READ)

  /** `_pos` — the stable row position, this table's ROW ID: what the
    * delta writer's deletes/updates address rows by (`SupportsDelta
    * .rowId`). Non-nullable by contract (Spark rejects nullable row
    * ids). `_row_id` / `_last_updated_version` are the LINEAGE
    * columns (b95): stable identity across updates + the version of
    * the last update, resolved from [[lineage]].
    */
  override def metadataColumns(): Array[MetadataColumn] =
    Array(
      new MetadataColumn {
        override def name(): String = "_pos"
        override def dataType(): DataType = LongType
        override def isNullable: Boolean = false
      },
      new MetadataColumn {
        override def name(): String = "_row_id"
        override def dataType(): DataType = LongType
        override def isNullable: Boolean = false
      },
      new MetadataColumn {
        override def name(): String = "_last_updated_version"
        override def dataType(): DataType = LongType
        override def isNullable: Boolean = false
      })

  override def newScanBuilder(
      options: CaseInsensitiveStringMap): ScanBuilder =
    new MorScanBuilder(this, options = options)

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new MorAppendWriteBuilder(this, info)

  /** COMPACTION (b82): fold the delta log into the base — drop
    * tombstoned rows, graft the delta-inserts in, clear both delta
    * structures. Content-invariant by construction (readers see the
    * same live set before and after); what changes is the READ cost
    * (no per-split tombstone filtering until new deltas accrue) —
    * exactly what Iceberg's rewrite_data_files / Delta's OPTIMIZE do
    * at file granularity. Row positions are PRESERVED, so row ids
    * stay unique and row-level operations keep working across
    * compactions. Returns (tombstones dropped, delta-inserts folded,
    * live rows) for the procedure's summary row.
    */
  private[sources] def compact(): (Long, Long, Long) = synchronized {
    val tomb = (deleted.size + eqDeletes.length).toLong
    val folded = deltaInserts.length.toLong
    val live = currentLive
    base = live
    deltaInserts = Vector.empty
    deleted = Set.empty
    eqDeletes = Vector.empty
    // lineage survives compaction UNCHANGED for live rows (positions
    // are preserved — the b95 identity contract); dead entries prune
    val livePos = live.iterator.map(_._1).toSet
    lineage = lineage.filter(e => livePos.contains(e._1))
    commitVersion += 1
    // ledger: N files → ONE spanning file (b94's "rewrite_data_files"
    // face). Positions are preserved, so the span [0, nextPos) is
    // sparse — its write-time stats are the rewrite's own
    nextFileId += 1
    files =
      if (live.isEmpty) Vector.empty
      else {
        var mn = Long.MaxValue; var mx = Long.MinValue
        live.foreach { case (_, r) =>
          val k = GraftCell.asLong(r(keyIdx))
          if (k < mn) mn = k
          if (k > mx) mx = k
        }
        Vector(GraftFile(nextFileId, commitVersion, 0L, nextPos,
          live.length.toLong, mn, mx))
      }
    recordSnapshot() // a maintenance version: content equals v-1's
    (tomb, folded, live.length.toLong)
  }

  /** SELECTIVE FILE REWRITE (b96) — the real `rewrite_data_files`
    * shape, driven by b94's ledger: fold ONLY the files whose dead
    * fraction clears `minDeadBp` basis points, leaving healthy files
    * untouched (full [[compact]] is the blunt instrument; production
    * maintenance pays for exactly the files that earn it). Victims'
    * LIVE rows move to ONE new file with NEW positions — the honest
    * Iceberg contract: positions are file-physical and change under
    * rewrite, while b95's `_row_id` is the STABLE identity (lineage
    * entries carry over to the new positions with their
    * last-updated version UNTOUCHED — maintenance is not an update).
    * Victim files' positional tombstones are dropped with their rows;
    * equality-delete boundaries remain correct by monotonicity (a
    * moved row's new position is ≥ every existing boundary, and it
    * was live — a row can only be re-checked against deletes it
    * already survived). The change feed is NOT touched (maintenance
    * is invisible to history, b83's rule). Content-invariant by
    * construction; returns (files_rewritten, rows_moved, files_kept).
    */
  private[sources] def rewriteFiles(minDeadBp: Long): (Long, Long, Long) =
    synchronized {
      val live = currentLive
      val livePos = live.iterator.map(_._1).toSet
      def liveIn(f: GraftFile): Long =
        live.count(e => e._1 >= f.posMin && e._1 < f.posMaxExcl).toLong
      val (victims, kept) = files.partition(f =>
        (f.rowsWritten - liveIn(f)) * 10000L >= minDeadBp * f.rowsWritten
          && f.rowsWritten > liveIn(f)) // a fully-live file never rewrites
      if (victims.isEmpty) return (0L, 0L, files.length.toLong)
      val inVictim = (pos: Long) => victims.exists(f =>
        pos >= f.posMin && pos < f.posMaxExcl)
      val moved = live.filter(e => inVictim(e._1))
      // reassign: new contiguous positions (new, (old, row)), lineage
      // carried over with the last-updated version PRESERVED
      // (identity, not an update)
      val movedNew = assignPositions(moved)
      val landed = movedNew.map { case (np, (_, r)) => (np, r) }
      base = base.filterNot(e => inVictim(e._1)) ++ landed
      deltaInserts = deltaInserts.filterNot(e => inVictim(e._1))
      // victim tombstones die with their rows; survivors' remain
      deleted = deleted.filterNot(inVictim)
      // lineage: moved live rows carry their entries to the new
      // positions; DEAD victim rows' entries (positions inside victim
      // ranges that did NOT move) are pruned here too — mirroring
      // compact()'s live-position prune — so rewrite-only maintenance
      // never grows the map with entries for vanished positions
      lineage = lineage.filter { e =>
        !inVictim(e._1) || livePos.contains(e._1)
      }
      lineage = (lineage -- moved.iterator.map(_._1)) ++
        movedNew.iterator.map { case (np, (op, _)) =>
          np -> lineage.getOrElse(op, (op, 0L))
        }
      commitVersion += 1
      // the rewritten file's write-time stats are the rewrite's own;
      // all-dead victims simply vanish (no replacement file to cut)
      files = kept
      recordFile(landed)
      recordSnapshot() // a maintenance version: content equals v-1's
      (victims.length.toLong, moved.length.toLong, kept.length.toLong)
    }

  /** SORT-STRATEGY REWRITE (b102) — the Iceberg sort/z-order
    * `rewrite_data_files` face next to b96's dead-ratio bin-pack: fold
    * the ENTIRE live set, RE-SORTED by the lead column, into `nFiles`
    * equal chunks with fresh contiguous positions — so the ledger's
    * per-file (min_key, max_key) ranges go from wide-and-overlapping
    * (interleaved appends: every file spans the whole key domain, no
    * range-pruning possible) to tight-and-disjoint (each file owns one
    * key slice — the layout a34/a39/a44-style min/max skipping needs).
    * Same contracts as b96: content-invariant by construction (the
    * live set before IS the live set after, b82's check), positions
    * are file-physical and CHANGE while b95's `_row_id` lineage
    * carries over with `_last_updated_version` untouched (maintenance
    * is not an update), tombstones/eq-deletes fold with the rewrite,
    * and the change feed never sees it (b83's history/state rule).
    * Returns (files_before, rows_sorted, files_after).
    */
  private[sources] def rewriteSort(nFiles: Int): (Long, Long, Long) =
    synchronized {
      require(nFiles >= 1,
        s"rewrite_sort: n_files must be >= 1, got $nFiles")
      val before = files.length.toLong
      val live = currentLive
      // stable tiebreak on the old position keeps duplicate keys
      // deterministic
      val sorted = live.sortBy(e =>
        (GraftCell.asLong(e._2(keyIdx)), e._1))
      val moved = assignPositions(sorted) // (new, (old, row))
      base = moved.map { case (np, (_, r)) => (np, r) }
      deltaInserts = Vector.empty
      deleted = Set.empty
      eqDeletes = Vector.empty
      lineage = moved.iterator.map { case (np, (op, _)) =>
        np -> lineage.getOrElse(op, (op, 0L))
      }.toMap
      commitVersion += 1
      files = Vector.empty
      GraftFrozenTable.chunks(base, nFiles).foreach(recordFile)
      recordSnapshot() // a maintenance version: content equals v-1's
      (before, moved.length.toLong, files.length.toLong)
    }

  override def newRowLevelOperationBuilder(
      info: RowLevelOperationInfo): RowLevelOperationBuilder =
    () => new RowLevelOperation with SupportsDelta {
      // equality mode pins the version its scan read, so the commit
      // can reject deletes computed from a stale snapshot (positional
      // mode needs no pin: a position tombstones at most once, so the
      // intersect/vanished checks are already version-complete)
      private val scanState = new MorScanState
      override def command(): RowLevelOperation.Command = info.command()
      override def description(): String =
        s"GraftMemMorRowLevel(${info.command()}, $deleteMode)"
      override def newScanBuilder(
          options: CaseInsensitiveStringMap): ScanBuilder =
        new MorScanBuilder(GraftMemMorTable.this, Some(scanState))
      override def newWriteBuilder(wi: LogicalWriteInfo): DeltaWriteBuilder =
        new MorDeltaWriteBuilder(GraftMemMorTable.this, wi,
          Some(scanState))
      /** Positional mode addresses rows by the `_pos` metadata column;
        * equality mode by the key DATA column — the delta plan then
        * never materializes a position at all (the b91 point: no
        * read-before-write to find positions).
        */
      override def rowId()
          : Array[org.apache.spark.sql.connector.expressions.NamedReference] =
        Array(org.apache.spark.sql.connector.expressions.Expressions
          .column(if (isEquality) schema().fieldNames(keyIdx) else "_pos"))
      override def requiredMetadataAttributes()
          : Array[org.apache.spark.sql.connector.expressions.NamedReference] =
        Array.empty
    }
}

/** Driver-side handoff between an equality-mode row-level operation's
  * scan and its delta commit: the table version the scan pinned
  * (-1 = no scan built yet). The commit validates incoming delete
  * keys against equality deletes committed AFTER it — the
  * validate-no-conflicting-deletes half of optimistic concurrency.
  */
private[sources] final class MorScanState {
  @volatile var scanVersion: Long = -1L
}

/** One ledger file of the merge-on-read flavor (b94), the row the
  * `db.tbl__files` face ([[GraftMemMorTable#filesFace]]) serves — the
  * Iceberg `db.tbl.files` face next to b93's `__history` and b83's
  * `__changes`: the FILE-GRAIN forensics read that maintenance
  * operations actually consume. A compaction planner asks "which
  * files carry how many dead rows", a retention job asks "which files
  * does this snapshot still reference", a clustering advisor asks
  * "what key range does each file cover" — all of it
  * answered from TABLE METADATA (the manifest), never from a data
  * scan. c57 plans compaction over parquet by scanning data because
  * parquet keeps no live manifest; a lakehouse table keeps one, and
  * this is that read.
  *
  * File model on the merge-on-read flavor: every commit that LANDS
  * rows (a batch append, a delta commit's inserts, a compaction's
  * rewrite) assigns one contiguous position range — that range IS the
  * demo's data file, exactly as a real MoR writer cuts one file per
  * commit-task. Write-time stats (rows written, min/max of the lead
  * column) are fixed in the ledger AT COMMIT, the manifest discipline
  * — the `__files` scan recomputes only LIVENESS (live vs deleted
  * rows per file) against the current tombstone/equality-delete
  * state, which is precisely what an Iceberg reader derives by
  * joining delete files against manifests. Compaction REPLACES the
  * ledger with one spanning file (positions are preserved, so the
  * span is sparse — the demo twin of "rewrite N files into one").
  *
  * Scale: the scan is bounded by the file count (metadata-sized); the
  * liveness pass is O(live rows) here only because the demo keeps
  * rows in memory — a real connector stores per-file delete counts in
  * the manifest as deltas commit, keeping this read data-free.
  */
private[sources] final case class GraftFile(fileId: Long,
    commitVersion: Long, posMin: Long, posMaxExcl: Long,
    rowsWritten: Long, minKey: Long, maxKey: Long)

/** One scan split: a chunk of (pos, row) pairs plus EXACTLY the
  * tombstones intersecting it — the read-time merge a MoR reader does
  * per split (a real connector reads the data file and its
  * position-delete subset; nothing global is consulted per row).
  * `eqDels` is the equality-mode twin: key → max position boundary,
  * restricted to keys present in the chunk (the per-split
  * equality-delete-file subset; `keyIdx` locates the key in the
  * STORED row). `isDelta` marks the delta-insert chunk (metrics only).
  */
private[sources] case class MorPartition(
    data: Vector[(Long, Array[Any])], dels: Set[Long],
    isDelta: Boolean = false,
    eqDels: Map[Long, Long] = Map.empty, keyIdx: Int = 0)
    extends InputPartition

/** DSv2 CUSTOM METRICS for the MoR scan — the read-time merge's cost,
  * surfaced in the SQL UI next to rows/bytes (the operability face a
  * real MoR connector ships so "why is this table slow to read"
  * answers itself: high tombstones_filtered / delta_rows_read = time
  * to compact). Task-side counters aggregate by SUM on the driver.
  */
private[sources] class MorTombstonesMetric
    extends org.apache.spark.sql.connector.metric.CustomSumMetric {
  override def name(): String = "tombstones_filtered"
  override def description(): String =
    "rows dropped by read-time tombstone merge"
}
private[sources] class MorDeltaRowsMetric
    extends org.apache.spark.sql.connector.metric.CustomSumMetric {
  override def name(): String = "delta_rows_read"
  override def description(): String =
    "rows served from the uncompacted delta log"
}

private[sources] class MorScanBuilder(table: GraftMemMorTable,
    scanState: Option[MorScanState] = None,
    options: CaseInsensitiveStringMap = CaseInsensitiveStringMap.empty())
    extends ScanBuilder with SupportsPushDownRequiredColumns {
  private var required: StructType = table.schema()
  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema
  override def build(): Scan = new Scan with Batch
      with org.apache.spark.sql.connector.read.SupportsReportStatistics {
    // pin one consistent (base, deltas, tombstones, version) snapshot;
    // the version is what an equality-mode delta commit validates its
    // delete keys against
    // (all seven under ONE lock: a commit or ALTER interleaving
    // between two blocks would pair row data with a newer
    // schema/defaults vector)
    private val (snapBase, snapIns, snapDel, snapEq, pinnedVersion,
        snapSchema, snapDefaults, snapLineage) =
      table.synchronized((table.base, table.deltaInserts, table.deleted,
        table.eqDeletes, table.commitVersion, table.schema(),
        table.colDefaults, table.lineage))
    scanState.foreach(_.scanVersion = pinnedVersion)

    /** TABLE STATISTICS (b99): exact LIVE row count from the pinned
      * snapshot (base + deltas − tombstones, the same merge the read
      * performs) — a real MoR format serves this from manifest row
      * counts minus delete-file counts, never a data pass. Computed
      * ONCE per scan (the snapshot is pinned, so the count can never
      * change): the planner may call estimateStatistics repeatedly
      * for one relation, and re-running the O(rows) merge each time
      * is pure waste.
      */
    private lazy val pinnedLiveCount: Long =
      table.liveRows(snapBase, snapIns, snapDel,
        snapEq.map(e => (e._1, e._2))).length.toLong
    override def estimateStatistics()
        : org.apache.spark.sql.connector.read.Statistics =
      GraftMemStats(pinnedLiveCount, required.fields.length)
    private val eqBounds: Map[Long, Long] =
      table.eqBoundaries(snapEq.map(e => (e._1, e._2)))
    override def readSchema(): StructType = required
    override def toBatch: Batch = this
    override def description(): String =
      s"GraftMemMorScan(${table.fullName}, base=${snapBase.length}, " +
        s"+${snapIns.length}, -${snapDel.size + snapEq.length})"

    /** Base in up-to-4 chunks + one delta chunk, each shipping only
      * its own tombstone subset — the per-split delete-file shape
      * (equality mode: the (key → boundary) entries whose key occurs
      * in the chunk).
      */
    override def planInputPartitions(): Array[InputPartition] = {
      def eqOf(c: Vector[(Long, Array[Any])]): Map[Long, Long] =
        if (eqBounds.isEmpty) Map.empty
        else c.iterator.map(e => GraftCell.asLong(e._2(table.keyIdx)))
          .filter(eqBounds.contains).map(k => k -> eqBounds(k)).toMap
      val parts =
        (GraftFrozenTable.chunks(snapBase, 4).map(c => MorPartition(c,
          c.iterator.map(_._1).filter(snapDel).toSet,
          eqDels = eqOf(c), keyIdx = table.keyIdx)) ++
        GraftFrozenTable.chunks(snapIns, 1).map(c => MorPartition(c,
          c.iterator.map(_._1).filter(snapDel).toSet, isDelta = true,
          eqDels = eqOf(c), keyIdx = table.keyIdx)))
          .map(p => p: InputPartition).toArray
      if (parts.isEmpty) Array(MorPartition(Vector.empty, Set.empty))
      else parts
    }
    override def supportedCustomMetrics()
        : Array[org.apache.spark.sql.connector.metric.CustomMetric] =
      Array(new MorTombstonesMetric, new MorDeltaRowsMetric)
    override def createReaderFactory(): PartitionReaderFactory = {
      // `_pos` resolves from the reader's aux (the row position);
      // data columns beyond a stored row's width read their initial
      // default (a column added after the row was written)
      // lineage columns resolve from the pinned snapshot map; a row
      // with no entry (pre-lineage history) falls back to the
      // first-commit identity (id = pos, never updated)
      val lin = snapLineage
      val proj = GraftCell.projector(required, snapSchema, snapDefaults,
        Map(
          "_pos" -> ((pos: Long, _: Array[Any]) =>
            java.lang.Long.valueOf(pos): Any),
          "_row_id" -> ((pos: Long, _: Array[Any]) =>
            java.lang.Long.valueOf(lin.get(pos) match {
              case Some((id, _)) => id
              case None          => pos
            }): Any),
          "_last_updated_version" -> ((pos: Long, _: Array[Any]) =>
            java.lang.Long.valueOf(lin.get(pos) match {
              case Some((_, v)) => v
              case None         => 0L
            }): Any)))
      new PartitionReaderFactory {
        override def createReader(
            p: InputPartition): PartitionReader[InternalRow] = {
          val mp = p.asInstanceOf[MorPartition]
          new PartitionReader[InternalRow] {
            private val it = mp.data.iterator
            private var cur: (Long, Array[Any]) = _
            private var skipped = 0L
            private var served = 0L
            // read-time merge (positional + boundary-scoped equality
            // deletes), counting what it drops
            override def next(): Boolean = {
              while (it.hasNext) {
                val e = it.next()
                if (mp.dels.contains(e._1) ||
                    (mp.eqDels.nonEmpty && mp.eqDels
                      .get(GraftCell.asLong(e._2(mp.keyIdx)))
                      .exists(e._1 < _)))
                  skipped += 1
                else { cur = e; served += 1; return true }
              }
              false
            }
            override def get(): InternalRow = proj(cur._1, cur._2)
            override def currentMetricsValues(): Array[
                org.apache.spark.sql.connector.metric.CustomTaskMetric] =
              Array(
                new org.apache.spark.sql.connector.metric
                  .CustomTaskMetric {
                  override def name(): String = "tombstones_filtered"
                  override def value(): Long = skipped
                },
                new org.apache.spark.sql.connector.metric
                  .CustomTaskMetric {
                  override def name(): String = "delta_rows_read"
                  override def value(): Long =
                    if (mp.isDelta) served else 0L
                })
            override def close(): Unit = ()
          }
        }
      }
    }

    /** STREAMING READ OF THE TABLE ITSELF (d35): `readStream
      * .table(tbl)` — the Delta streaming contract: serve the INITIAL
      * SNAPSHOT (the live set at subscription time) as the first
      * microbatch, then FOLLOW the change feed from the snapshot's
      * version — one query, backfill + live tail, and a restart from
      * checkpoint resumes IN THE FEED (never re-snapshots; the
      * snapshot version rides in every offset).
      */
    override def toMicroBatchStream(checkpointLocation: String)
        : org.apache.spark.sql.connector.read.streaming
          .MicroBatchStream =
      new MorTableMicroBatchStream(table, required,
        options.getOrDefault("graft.stream.deletes", "fail"))
  }
}

/** Batch append (INSERT INTO): buffers rows per task, assigns
  * positions at the atomic driver-side commit.
  */
private[sources] class MorAppendWriteBuilder(
    table: GraftMemMorTable, writeInfo: LogicalWriteInfo)
    extends WriteBuilder {
  private def proj: Array[Int] = table.schema().fieldNames
    .map(writeInfo.schema().fieldIndex)
  override def build(): Write = new Write {
    override def toBatch: BatchWrite = new BatchWrite {
      private val p = proj
      private val tys = table.schema().fields.map(_.dataType)
      private val dfl = table.colDefaults.toArray
      override def createBatchWriterFactory(
          info: PhysicalWriteInfo): DataWriterFactory =
        new GraftMemWriterFactory(p, tys, dfl)
      override def commit(messages: Array[WriterCommitMessage]): Unit = {
        val written = messages.iterator.flatMap {
          case m: GraftMemCommit => m.data
        }.toVector
        table.synchronized {
          table.land(written, Vector.empty, Vector.empty)(landed =>
            table.base = table.base ++ landed)
        }
      }
      override def abort(messages: Array[WriterCommitMessage]): Unit = ()
    }
  }
}

/** Per-task delta: tombstoned positions, inserted rows, and UPDATES
  * as explicit (victim row-id value → new row) pairs — semantically a
  * tombstone + re-insert (the pair every MoR format encodes), carried
  * paired so the commit can thread ROW LINEAGE (b95) from victim to
  * re-insert. `upd`'s first element is the victim's rowId-column
  * value: a position in positional mode, the key in equality mode.
  */
private[sources] case class MorDeltaCommit(
    dels: Vector[Long], ins: Vector[Array[Any]],
    upd: Vector[(Long, Array[Any])] = Vector.empty)
    extends WriterCommitMessage

/** The `WriteDelta` face: Spark hands each MergeRows output row to the
  * typed writer method matching its operation; commit applies the
  * aggregated delta atomically — base rows are never read, copied or
  * rewritten (commit cost O(changed rows), a metadata append at
  * scale). Commit-time validation rejects write-write conflicts on
  * the SAME row (a position tombstoned since this operation's scan),
  * while disjoint-row deltas and concurrent appends all land — MoR's
  * strictly-smaller conflict surface vs copy-on-write's group check.
  */
private[sources] class MorDeltaWriteBuilder(
    table: GraftMemMorTable, writeInfo: LogicalWriteInfo,
    scanState: Option[MorScanState] = None)
    extends DeltaWriteBuilder {
  // A pure DELETE's write schema is EMPTY (deltas carry only row ids —
  // no data rows ever reach insert/update), so map by name leniently:
  // -1 marks an absent column and is only ever dereferenced if the
  // engine actually hands the writer a data row.
  private def proj: Array[Int] = {
    val ws = writeInfo.schema()
    table.schema().fieldNames.map(n =>
      if (ws.fieldNames.contains(n)) ws.fieldIndex(n) else -1)
  }
  override def build(): DeltaWrite = new DeltaWrite {
    override def toBatch: DeltaBatchWrite = new DeltaBatchWrite {
      private val p = proj
      private val tys = table.schema().fields.map(_.dataType)
      private val dfl = table.colDefaults.toArray
      override def createBatchWriterFactory(
          info: PhysicalWriteInfo): DeltaWriterFactory =
        new MorDeltaWriterFactory(p, tys, dfl)
      override def commit(messages: Array[WriterCommitMessage]): Unit = {
        val dels = Vector.newBuilder[Long]
        val ins = Vector.newBuilder[Array[Any]]
        val upd = Vector.newBuilder[(Long, Array[Any])]
        messages.foreach { case m: MorDeltaCommit =>
          dels ++= m.dels; ins ++= m.ins; upd ++= m.upd
        }
        if (table.isEquality) {
          commitEquality(dels.result(), ins.result(), upd.result())
          return
        }
        // an UPDATE is its victim tombstone + re-insert; the pairing
        // is kept so the re-insert inherits the victim's row id (b95)
        val upds = upd.result()
        val delSet = dels.result().toSet ++ upds.iterator.map(_._1)
        table.synchronized {
          // ALL validation + lookups happen BEFORE any state mutates,
          // so a rejected commit leaves no trace (no phantom
          // tombstones, no unlogged inserts).
          val clash = delSet.intersect(table.deleted)
          if (clash.nonEmpty)
            throw new GraftMemCommitConflictException(
              s"graftmem MoR commit conflict on ${table.fullName}: " +
                s"row position(s) ${clash.toSeq.sorted.mkString(", ")} " +
                "were already tombstoned by a commit after this " +
                "operation's scan; retry from a fresh snapshot")
          // resolve tombstoned positions to their row content (the
          // same position→row join a CDC reader over position-delete
          // files performs) — only the delSet positions, only when
          // there ARE deletes: commit cost stays O(changed rows) in
          // allocation, one filtered pass in time
          val idx: Map[Long, Array[Any]] =
            if (delSet.isEmpty) Map.empty
            else (table.base.iterator ++ table.deltaInserts.iterator)
              .filter(e => delSet.contains(e._1)).toMap
          // a position that no longer EXISTS (tombstoned by a
          // concurrent commit and then compacted away before we got
          // here) is the same write-write conflict the clash check
          // catches — the intersect alone misses it because
          // compaction clears `deleted`
          val vanished = delSet.diff(idx.keySet)
          if (vanished.nonEmpty)
            throw new GraftMemCommitConflictException(
              s"graftmem MoR commit conflict on ${table.fullName}: " +
                s"row position(s) ${vanished.toSeq.sorted.mkString(", ")} " +
                "no longer exist (tombstoned and compacted after this " +
                "operation's scan); retry from a fresh snapshot")
          // an update's re-insert inherits its victim's row id (the
          // pairing d33's feed consumers reconstruct updates from)
          table.land(ins.result(),
            upds.map { case (victim, r) => (table.rowIdOf(victim), r) },
            delSet.toVector.sorted.map(p => (p, idx(p)))) { landed =>
            table.deleted = table.deleted ++ delSet
            table.deltaInserts = table.deltaInserts ++ landed
          }
        }
      }
      override def abort(messages: Array[WriterCommitMessage]): Unit = ()
    }
  }

  /** EQUALITY-MODE commit (b91): deletes are keys, not positions. The
    * boundary recorded with each delete is the table's next-position
    * BEFORE this commit assigns insert positions — so the commit's own
    * re-inserts (an UPDATE's delete+insert pair) and every later row
    * provably survive it, while all earlier rows of the key die.
    * Validation (all before any state mutates, the no-trace rule):
    * (a) a key equality-deleted by a commit AFTER this operation's
    * pinned scan version is a write-write conflict (the delete was
    * computed from a stale row — Iceberg's
    * validate-no-conflicting-deletes); (b) a key matching NO live row
    * vanished since the scan (deleted then compacted away) — same
    * conflict, caught even after compaction clears the delete log.
    * Change-feed entries resolve each victim's content at commit time
    * (the key→rows join an equality-delete CDC reader performs).
    */
  private def commitEquality(delKeys: Vector[Long],
      ins: Vector[Array[Any]],
      upd: Vector[(Long, Array[Any])] = Vector.empty): Unit = {
    // an UPDATE's victim key joins the delete set; the (key → new
    // row) pairing survives so the re-insert inherits the victim's
    // row id (b95)
    val keySet = delKeys.toSet ++ upd.iterator.map(_._1)
    table.synchronized {
      val scanVersion = scanState.map(_.scanVersion).getOrElse(-1L)
      if (scanVersion >= 0) {
        val clash = table.eqDeletes.iterator
          .filter(e => e._3 > scanVersion && keySet.contains(e._1))
          .map(_._1).toVector.distinct.sorted
        if (clash.nonEmpty)
          throw new GraftMemCommitConflictException(
            s"graftmem MoR commit conflict on ${table.fullName}: " +
              s"key(s) ${clash.mkString(", ")} were equality-deleted " +
              s"by a commit after this operation's scan (scan version " +
              s"$scanVersion, now ${table.commitVersion}); retry from " +
              "a fresh snapshot")
      }
      val victims = table.currentLive.filter(r =>
        keySet.contains(GraftCell.asLong(r._2(table.keyIdx))))
      val vanished = keySet --
        victims.iterator.map(r => GraftCell.asLong(r._2(table.keyIdx))).toSet
      if (vanished.nonEmpty)
        throw new GraftMemCommitConflictException(
          s"graftmem MoR commit conflict on ${table.fullName}: " +
            s"key(s) ${vanished.toSeq.sorted.mkString(", ")} match no " +
            "live row (deleted by a concurrent commit after this " +
            "operation's scan); retry from a fresh snapshot")
      // the boundary is taken BEFORE this commit assigns positions
      val boundary = table.nextPos
      // victim identity per updated key: the LATEST live row of the
      // key (max position) is what the update semantically replaces
      val victimId: Map[Long, Long] = upd.iterator.map(_._1)
        .toSet[Long].map { k =>
          val top = victims.iterator
            .filter(r => GraftCell.asLong(r._2(table.keyIdx)) == k)
            .maxBy(_._1)
          k -> table.rowIdOf(top._1)
        }.toMap
      table.land(ins, upd.map { case (k, r) => (victimId(k), r) },
        victims.sortBy(_._1)) { landed =>
        table.eqDeletes = table.eqDeletes ++ keySet.toVector.sorted
          .map(k => (k, boundary, table.commitVersion))
        table.deltaInserts = table.deltaInserts ++ landed
      }
    }
  }
}

private[sources] class MorDeltaWriterFactory(proj: Array[Int],
    types: Array[org.apache.spark.sql.types.DataType],
    defaults: Array[Any])
    extends DeltaWriterFactory {
  override def createWriter(
      partitionId: Int, taskId: Long): DeltaWriter[InternalRow] =
    new DeltaWriter[InternalRow] {
      private val dels = Vector.newBuilder[Long]
      private val ins = Vector.newBuilder[Array[Any]]
      // -1 (absent column) and null cells (e.g. an insert that
      // doesn't set an ALTER-added column) → the column's default
      private val getters = GraftCell.writeGetters(proj, types, defaults)
      private def dataOf(row: InternalRow): Array[Any] = {
        val a = new Array[Any](proj.length)
        var i = 0
        while (i < proj.length) {
          a(i) = getters(i)(row)
          i += 1
        }
        a
      }
      private val upd = Vector.newBuilder[(Long, Array[Any])]
      // `id` carries the rowId projection — one long (`_pos`, or the
      // key column in equality mode)
      override def delete(meta: InternalRow, id: InternalRow): Unit =
        dels += id.getLong(0)
      override def update(meta: InternalRow, id: InternalRow,
          row: InternalRow): Unit =
        upd += ((id.getLong(0), dataOf(row)))
      override def insert(row: InternalRow): Unit = ins += dataOf(row)
      override def commit(): WriterCommitMessage =
        MorDeltaCommit(dels.result(), ins.result(), upd.result())
      override def abort(): Unit = ()
      override def close(): Unit = ()
    }
}

/** `graftmem.system.compact(table)` — a DSv2 STORED PROCEDURE
  * (`ProcedureCatalog` → `UnboundProcedure` → `BoundProcedure`,
  * Spark ≥ 4.0's SQL `CALL` face): table MAINTENANCE actions live in
  * the catalog, typed and governed, instead of in per-job client
  * glue — the Iceberg `CALL cat.system.rewrite_data_files` shape.
  * Binds one IN parameter (the table name, `db.tbl` within the
  * calling catalog), folds the merge-on-read delta log into the base
  * ([[GraftMemMorTable.compact]]), and returns a one-row summary as
  * a [[org.apache.spark.sql.connector.read.LocalScan]] (tombstones
  * dropped, delta-inserts folded, live rows) — so the CALL's result
  * set IS the maintenance report. Deterministic=false: the procedure
  * mutates table state.
  */
private[sources] object MorCompactProcedure extends GraftProcedure(
    "compact", "fold a merge-on-read table's delta log into its base",
    Seq("table" -> StringType),
    Seq("tombstones_dropped" -> LongType, "inserts_folded" -> LongType,
      "live_rows" -> LongType)) {
  override def body(in: InternalRow): Body = {
    case m: GraftMemMorTable => m.compact()
  }
  override def wrongFlavour(tbl: String): Exception =
    new IllegalArgumentException(s"${name()}: '$tbl' is copy-on-write — " +
      "compaction applies to merge-on-read tables (its rewrites are " +
      "already folded)")
}

/** `graftmem.system.rewrite_files(table, min_dead_bp)` — SELECTIVE
  * file rewrite (b96): fold only the files whose dead fraction clears
  * the threshold, the c57 compaction-planning read
  * ([[GraftMemMorTable#filesFace]])
  * turned into the governed maintenance ACTION — plan from metadata,
  * rewrite exactly the files that earn it, leave healthy files
  * untouched. Returns (files_rewritten, rows_moved, files_kept).
  */
private[sources] object RewriteFilesProcedure extends GraftProcedure(
    "rewrite_files",
    "rewrite the merge-on-read files whose dead-row fraction clears " +
      "min_dead_bp basis points",
    Seq("table" -> StringType, "min_dead_bp" -> LongType),
    Seq("files_rewritten" -> LongType, "rows_moved" -> LongType,
      "files_kept" -> LongType)) {
  override def check(in: InternalRow): Unit = {
    val minDeadBp = in.getLong(1)
    require(minDeadBp >= 0L && minDeadBp <= 10000L,
      s"${name()}: min_dead_bp is basis points in [0, 10000], " +
        s"got $minDeadBp")
  }
  override def body(in: InternalRow): Body = {
    case m: GraftMemMorTable => m.rewriteFiles(in.getLong(1))
  }
  override def wrongFlavour(tbl: String): Exception =
    new IllegalArgumentException(s"${name()}: '$tbl' is copy-on-write — " +
      "file rewrite applies to merge-on-read tables")
}

/** `graftmem.system.rewrite_sort(table, n_files)` — SORT-STRATEGY
  * REWRITE (b102): fold the live set re-sorted by the lead column
  * into n_files tight, disjoint-range files — the Iceberg sort/
  * z-order `rewrite_data_files` strategy next to b96's dead-ratio
  * bin-pack: b96 reclaims space, this restores the LAYOUT that
  * min/max range-skipping needs. Returns (files_before, rows_sorted,
  * files_after).
  */
private[sources] object RewriteSortProcedure extends GraftProcedure(
    "rewrite_sort",
    "rewrite a merge-on-read table's live set sorted by the lead " +
      "column into n_files disjoint-range files",
    Seq("table" -> StringType, "n_files" -> IntegerType),
    Seq("files_before" -> LongType, "rows_sorted" -> LongType,
      "files_after" -> LongType)) {
  override def check(in: InternalRow): Unit =
    require(in.getInt(1) >= 1,
      s"${name()}: n_files must be >= 1, got ${in.getInt(1)}")
  override def body(in: InternalRow): Body = {
    case m: GraftMemMorTable => m.rewriteSort(in.getInt(1))
  }
  override def wrongFlavour(tbl: String): Exception =
    new IllegalArgumentException(s"${name()}: '$tbl' is copy-on-write — " +
      "sort rewrite applies to merge-on-read tables")
}

/** `graftmem.system.expire_changelog(table, from_version)` —
  * CHANGE-LOG RETENTION (b98): prune feed history below a commit
  * version, the governed bound on b83's documented "the log grows
  * with total changes" demo limitation (the Delta log-retention /
  * Iceberg expire-snapshots-for-incremental-reads shape). Logical
  * stream offsets stay stable (consumers ahead of the cut resume
  * untouched); reads reaching below the floor fail loudly. Returns
  * (pruned_entries, retained_entries, floor_version).
  */
private[sources] object ExpireChangelogProcedure extends GraftProcedure(
    "expire_changelog",
    "prune a merge-on-read table's change-feed history below a " +
      "commit version",
    Seq("table" -> StringType, "from_version" -> LongType),
    Seq("pruned_entries" -> LongType, "retained_entries" -> LongType,
      "floor_version" -> LongType)) {
  override def check(in: InternalRow): Unit =
    require(in.getLong(1) >= 1L,
      s"${name()}: from_version must be >= 1, got ${in.getLong(1)}")
  override def body(in: InternalRow): Body = {
    case m: GraftMemMorTable => m.expireChangelog(in.getLong(1))
  }
  override def wrongFlavour(tbl: String): Exception =
    new IllegalArgumentException(s"${name()}: '$tbl' keeps no change log")
}

/** `db.tbl__changes` — the CHANGE-FEED metadata table over a
  * merge-on-read table (b83): Iceberg's `db.tbl.changes` / Delta's
  * `table_changes()` shape at the DSv2 extension point. Read-only;
  * schema = the parent's columns + `_change_type` ('insert' /
  * 'delete') + `_commit_version` (the commit that produced the
  * change) + `_pos` (the changed row's position). Each scan pins a
  * snapshot of the parent's change log, chunks it, and supports
  * column pruning; a version predicate (`_commit_version >= v`) is
  * how an incremental consumer reads ONLY what changed since its
  * last checkpoint — at 100 TB the difference between a CDC hop and
  * a full-table diff. An UPDATE appears as its delete+insert pair
  * (position-delta semantics, documented on the log).
  */
private[sources] class MorChangesTable(parent: GraftMemMorTable)
    extends Table with SupportsRead {

  override def name(): String = parent.fullName + "__changes"
  override def schema(): StructType = MorChangesTable.schemaFor(parent)
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ,
      TableCapability.MICRO_BATCH_READ)

  /** Read option `startingVersion` (d27): consume the feed FROM a
    * commit version instead of from the dawn of the log — the Delta
    * `startingVersion` / Iceberg incremental-read shape, and the knob
    * that makes a NEW consumer's first batch O(changes since v), not
    * O(table history). Versions are monotone in the append-only log,
    * so the boundary is one index; a version beyond the current max
    * starts at the log tail (only future changes). Honored by both
    * the batch scan and the micro-batch stream's initial offset.
    */
  override def newScanBuilder(
      options: CaseInsensitiveStringMap): ScanBuilder = {
    val startingVersion: Long = {
      val sv = options.get("startingVersion")
      if (sv == null) 0L
      else try sv.toLong
      catch {
        case _: NumberFormatException =>
          throw new IllegalArgumentException(
            s"${parent.fullName}__changes: startingVersion must be a " +
              s"numeric commit version, got '$sv'")
      }
    }
    new ScanBuilder with SupportsPushDownRequiredColumns {
      private var required: StructType = schema()
      override def pruneColumns(requiredSchema: StructType): Unit =
        required = requiredSchema
      override def build(): Scan = new Scan with Batch {
        private val (rawLog, floor) = parent.synchronized(
          (parent.changeLog, parent.changelogFloor))
        private val snap = rawLog.dropWhile(_._1 < startingVersion)
        private val req = required
        override def readSchema(): StructType = req
        override def toBatch: Batch = this
        override def description(): String =
          s"MorChangesScan(${parent.fullName}, n=${snap.length}, " +
            s"from=$startingVersion)"
        override def planInputPartitions(): Array[InputPartition] = {
          // retention contract (b98): a BATCH read reaching below the
          // retained floor fails LOUDLY — silent partial history is
          // how a downstream pipeline quietly diverges. Checked here,
          // not at scan construction: the streaming path builds this
          // same Scan, and its own gates (initial-offset sentinel +
          // planInputPartitions base check) own that contract.
          if (floor > 0L && startingVersion < floor)
            throw new IllegalArgumentException(
              s"${parent.fullName}__changes: history before version " +
                s"$floor has been expired by changelog retention; " +
                s"pass .option(\"startingVersion\", >= $floor) (got " +
                s"$startingVersion)")
          GraftFrozenTable.splits(snap)(MorChangesPartition(_))
        }
        override def createReaderFactory(): PartitionReaderFactory =
          MorChangesTable.readerFactory(parent.schema(),
            parent.colDefaults, req)
        /** STREAMING face (d26): the change feed as a MICRO-BATCH
          * SOURCE — offsets are positions in the append-only change
          * log, so any [start, end) replays to identical rows
          * (exactly-once by construction, a Kafka-offset-style
          * contract over the table's own history). This is the
          * "table as a stream" lakehouse capability: downstream keeps
          * a continuous, incremental view of a mutating table without
          * ever rescanning it.
          */
        override def toMicroBatchStream(checkpointLocation: String)
            : org.apache.spark.sql.connector.read.streaming
              .MicroBatchStream =
          new MorChangesMicroBatchStream(parent, req, startingVersion)
      }
    }
  }
}

private[sources] object MorChangesTable {
  import org.apache.spark.sql.types.StructField

  private[sources] def schemaFor(parent: GraftMemMorTable): StructType =
    StructType(parent.schema().fields.toSeq ++ Seq(
      StructField("_change_type", StringType, nullable = false),
      StructField("_commit_version", LongType, nullable = false),
      StructField("_pos", LongType, nullable = false),
      // the STABLE row id (b95) as of the change's commit — an
      // update's delete and re-insert share it, which is what lets a
      // feed consumer reconstruct UPDATES from D+I pairs (d33)
      StructField("_row_id", LongType, nullable = false)))

  /** Shared by the batch scan and the micro-batch stream: project a
    * change-log entry onto the requested columns, typed per the
    * parent schema; entries logged before an ALTER ADD COLUMN are
    * narrower than the current schema → the column's initial default.
    */
  private[sources] def readerFactory(parentSchema: StructType,
      defaults: IndexedSeq[Any],
      req: StructType): PartitionReaderFactory = {
    val getters: Array[((Long, Boolean, Long, Long, Array[Any])) => Any] =
      req.fieldNames.map {
        case "_change_type" =>
          (e: (Long, Boolean, Long, Long, Array[Any])) =>
            org.apache.spark.unsafe.types.UTF8String.fromString(
              if (e._2) "insert" else "delete"): Any
        case "_commit_version" =>
          (e: (Long, Boolean, Long, Long, Array[Any])) =>
            java.lang.Long.valueOf(e._1): Any
        case "_pos" =>
          (e: (Long, Boolean, Long, Long, Array[Any])) =>
            java.lang.Long.valueOf(e._3): Any
        case "_row_id" =>
          (e: (Long, Boolean, Long, Long, Array[Any])) =>
            java.lang.Long.valueOf(e._4): Any
        case n =>
          val j = parentSchema.fieldIndex(n)
          val dt = parentSchema.fields(j).dataType
          val dflt = GraftCell.toInternal(defaults(j), dt)
          (e: (Long, Boolean, Long, Long, Array[Any])) =>
            if (j < e._5.length) GraftCell.toInternal(e._5(j), dt)
            else dflt
      }
    new RowsReaderFactory[MorChangesPartition,
        (Long, Boolean, Long, Long, Array[Any])](_.data,
      (_, e) => InternalRow.fromSeq(
        scala.collection.immutable.ArraySeq.unsafeWrapArray(
          getters.map(_(e)))))
  }
}

private[sources] case class MorChangesPartition(
    data: Vector[(Long, Boolean, Long, Long, Array[Any])])
    extends InputPartition

/** Offset into the append-only change log (count of entries consumed).
  */
private[sources] case class MorChangesOffset(pos: Long)
    extends org.apache.spark.sql.connector.read.streaming.Offset {
  override def json(): String = pos.toString
}

/** d26: the change feed as a streaming source. `latestOffset` reads
  * the LIVE log length; each batch is the [start, end) slice — pure
  * positions over an append-only vector, so a replayed batch
  * regenerates byte-identical rows (the source half of exactly-once;
  * d23's idempotent sink is the write half). Unbounded state is the
  * parent's change-log retention, not the stream's.
  */
private[sources] class MorChangesMicroBatchStream(
    parent: GraftMemMorTable, req: StructType,
    startingVersion: Long = 0L)
    extends org.apache.spark.sql.connector.read.streaming.MicroBatchStream {
  import org.apache.spark.sql.connector.read.streaming.Offset

  // first LOGICAL log position at or past startingVersion (versions
  // are monotone); past the current tail = only future changes.
  // Logical offsets are base + retained index (b98): changelog
  // retention shifts the physical vector but never a committed
  // offset's meaning. Used only for a FRESH query — a checkpointed
  // restart resumes from its recorded offset.
  // NOTE the engine may poll initialOffset during RESTART
  // initialization too (before the offset log is consulted), so this
  // must never throw for a below-floor request — a legitimately
  // checkpointed consumer would be unable to resume. Instead a
  // below-floor request returns position 0 (below the retained base
  // whenever retention ran), and planInputPartitions is the loud
  // gate: a fresh subscription's first batch starts there and fails
  // with the retention error, while a restart's committed offsets
  // replace this value entirely.
  override def initialOffset(): Offset = MorChangesOffset(
    parent.synchronized {
      if (parent.changelogFloor > 0L &&
          startingVersion < parent.changelogFloor) 0L
      else if (startingVersion <= 0L) parent.changelogBase
      else {
        val i = parent.changeLog.indexWhere(_._1 >= startingVersion)
        parent.changelogBase +
          (if (i < 0) parent.changeLog.length.toLong else i.toLong)
      }
    })
  override def latestOffset(): Offset =
    MorChangesOffset(parent.synchronized(
      parent.changelogBase + parent.changeLog.length.toLong))
  override def deserializeOffset(json: String): Offset =
    MorChangesOffset(json.toLong)
  override def planInputPartitions(
      start: Offset, end: Offset): Array[InputPartition] = {
    val sLogical = start.asInstanceOf[MorChangesOffset].pos
    val eLogical = end.asInstanceOf[MorChangesOffset].pos
    // filter by VERSION as well as position: a subscriber whose
    // startingVersion is past the current tail pins the tail position,
    // but later commits may still carry versions below the boundary —
    // the contract is "changes FROM version v", and the filter is
    // deterministic per [start, end) so replay stays exact
    val slice = parent.synchronized {
      val base = parent.changelogBase
      // an offset that retention has already pruned past cannot be
      // served — fail loudly, never partial history. Covers BOTH a
      // fresh below-floor subscription (its initial offset is the
      // below-base sentinel) and a checkpointed consumer that
      // changelog retention outran while it was down.
      if (sLogical < base)
        throw new IllegalStateException(
          s"${parent.fullName}__changes: offset $sLogical predates " +
            s"the retained log (base $base) — history expired by " +
            "changelog retention / retention outran this consumer; " +
            "fresh subscriptions must pass startingVersion >= " +
            s"${parent.changelogFloor}, an outrun consumer must " +
            "reprocess from a snapshot")
      parent.changeLog.slice((sLogical - base).toInt,
        (eLogical - base).toInt)
    }.filter(_._1 >= startingVersion)
    GraftFrozenTable.splits(slice)(MorChangesPartition(_))
  }
  override def createReaderFactory(): PartitionReaderFactory =
    MorChangesTable.readerFactory(parent.schema(), parent.colDefaults,
      req)
  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}

/** d35's offset: the SNAPSHOT VERSION the subscription pinned plus a
  * position on ONE combined axis — [0, snapLen) indexes the frozen
  * snapshot vector, [snapLen, ∞) maps to logical change-feed offsets
  * from the first post-snapshot entry. Carrying the version in every
  * offset is what makes a checkpointed restart resume deterministically
  * (same snapshot, same feed boundary) without ever re-snapshotting.
  */
private[sources] case class MorTableOffset(v0: Long, pos: Long)
    extends org.apache.spark.sql.connector.read.streaming.Offset {
  override def json(): String = s"""{"v":$v0,"p":$pos}"""
}

/** STREAMING READ OF THE MOR TABLE ITSELF (d35) — snapshot + follow,
  * the Delta `readStream.table` contract:
  *
  *   - `initialOffset` pins the subscription's snapshot version v0
  *     (the table's current commit) at position 0.
  *   - The first batch serves the FROZEN live set at v0 (served from
  *     the retained snapshot — deterministic order, so any [a, b)
  *     sub-range replays identically; a snapshot expired by retention
  *     fails LOUDLY rather than silently re-snapshotting newer data).
  *   - Every later batch is a change-feed slice from the first entry
  *     with version > v0 — logical offsets (b98's stable-offset
  *     discipline), so changelog retention never shifts a committed
  *     offset's meaning, and retention that outran the consumer is a
  *     loud error, never partial history.
  *
  * DELETES in the followed feed: a plain-append downstream can't
  * represent them, so `graft.stream.deletes = 'fail'` (default)
  * errors loudly on the first delete-bearing slice (Delta's default
  * contract), while `'ignore'` serves only the feed's inserts — an
  * UPDATE's re-insert still flows, so downstream sees updated rows
  * again (Delta's documented ignoreChanges semantic: replay, not
  * silence). Both modes are deterministic per [start, end), so
  * replays stay exact.
  */
private[sources] class MorTableMicroBatchStream(
    parent: GraftMemMorTable, req: StructType, deletesMode: String)
    extends org.apache.spark.sql.connector.read.streaming.MicroBatchStream
    with org.apache.spark.sql.connector.read.streaming
      .SupportsAdmissionControl {
  import org.apache.spark.sql.connector.read.streaming.{Offset, ReadLimit}

  require(deletesMode == "fail" || deletesMode == "ignore",
    s"graft.stream.deletes must be 'fail' or 'ignore', got " +
      s"'$deletesMode'")
  require(req.fieldNames.forall(parent.schema().fieldNames.contains),
    s"${parent.fullName}: streaming table reads serve data columns " +
      s"only (requested ${req.fieldNames.mkString(", ")})")

  /** Everything is a FUNCTION OF THE OFFSET's snapshot version — the
    * stream holds no mutable pin, so the engine's call order (a
    * restart polls for new data before converting its checkpointed
    * offsets; a fresh query may poll before initialOffset) cannot
    * produce a conflicting pin. Per-version derivation is cached: the
    * frozen snapshot's rows and the feed's first post-snapshot
    * logical offset. Deriving from the RETAINED snapshot is the
    * no-re-snapshot guarantee — if retention dropped it, fail loudly.
    */
  private val derived = new java.util.concurrent.ConcurrentHashMap[
    Long, (Vector[Array[Any]], Long)]()
  private def snapAt(v: Long): (Vector[Array[Any]], Long) =
    derived.computeIfAbsent(v, _ => {
      val rows = parent.snapshotAt(v) match {
        case Some((rs, _, _, _)) => rs
        case None => throw new IllegalStateException(
          s"${parent.fullName}: snapshot version $v expired while " +
            "this stream's backfill was in flight — re-subscribe (a " +
            "fresh subscription pins the current version; this one " +
            "will NOT silently re-snapshot newer data)")
      }
      val fs = parent.synchronized {
        if (parent.changelogFloor > v + 1L)
          throw new IllegalStateException(
            s"${parent.fullName}: changelog retention (floor " +
              s"${parent.changelogFloor}) outran this subscription's " +
              s"snapshot version $v — the follow history is gone; " +
              "re-subscribe from a fresh snapshot")
        val i = parent.changeLog.indexWhere(_._1 > v)
        parent.changelogBase +
          (if (i < 0) parent.changeLog.length.toLong else i.toLong)
      }
      (rows, fs)
    })

  /** A fresh subscription pins the table's CURRENT version; a restart
    * never reaches here (its offsets come from the checkpoint).
    */
  override def initialOffset(): Offset = MorTableOffset(
    parent.synchronized(parent.commitVersion), 0L)

  override def deserializeOffset(json: String): Offset = {
    // {"v":N,"p":M} — parsed with the same no-deps discipline as the
    // other demo offsets
    val m = """\{"v":(-?\d+),"p":(-?\d+)\}""".r
    json.trim match {
      case m(v, p) => MorTableOffset(v.toLong, p.toLong)
      case other => throw new IllegalArgumentException(
        s"${parent.fullName}: malformed stream offset '$other'")
    }
  }

  override def getDefaultReadLimit: ReadLimit = ReadLimit.allAvailable()

  /** The admission-control face: the engine hands us the START offset
    * (checkpointed or initial), which carries the subscription's
    * snapshot version — so there is nothing to pin statefully. The
    * no-arg variant below is unreachable once SupportsAdmissionControl
    * is implemented.
    */
  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val v = start.asInstanceOf[MorTableOffset].v0
    val (snap, feedStart0) = snapAt(v)
    val feedTail = parent.synchronized(
      parent.changelogBase + parent.changeLog.length.toLong)
    MorTableOffset(v,
      snap.length.toLong + math.max(0L, feedTail - feedStart0))
  }
  override def latestOffset(): Offset =
    throw new UnsupportedOperationException(
      s"${parent.fullName}: latestOffset(start, limit) is the " +
        "admission-control entry point")

  override def planInputPartitions(
      start: Offset, end: Offset): Array[InputPartition] = {
    val v = start.asInstanceOf[MorTableOffset].v0
    val (snapRows, feedStart0) = snapAt(v)
    val a = start.asInstanceOf[MorTableOffset].pos
    val b = end.asInstanceOf[MorTableOffset].pos
    val snapLen = snapRows.length.toLong
    // snapshot segment: a frozen-vector slice (deterministic replay)
    val snapSlice =
      if (a < snapLen) snapRows.slice(a.toInt, math.min(b, snapLen).toInt)
      else Vector.empty
    // feed segment: logical offsets from the post-snapshot boundary
    val feedSlice =
      if (b > snapLen) {
        val sLogical = feedStart0 + math.max(0L, a - snapLen)
        val eLogical = feedStart0 + (b - snapLen)
        val entries = parent.synchronized {
          val base = parent.changelogBase
          if (sLogical < base)
            throw new IllegalStateException(
              s"${parent.fullName}: offset $sLogical predates the " +
                s"retained change log (base $base) — retention outran " +
                "this consumer; re-subscribe from a fresh snapshot")
          parent.changeLog.slice((sLogical - base).toInt,
            (eLogical - base).toInt)
        }
        if (deletesMode == "fail") {
          val del = entries.filterNot(_._2)
          if (del.nonEmpty)
            throw new IllegalStateException(
              s"${parent.fullName}: the followed feed contains " +
                s"${del.length} delete(s) (first at version " +
                s"${del.head._1}); a plain streaming table read cannot " +
                "represent them — set graft.stream.deletes = 'ignore' " +
                "to follow inserts only (updates replay), or consume " +
                s"${parent.fullName}__changes for full CDC")
          entries.map(_._5)
        } else entries.filter(_._2).map(_._5)
      } else Vector.empty
    GraftFrozenTable.splits(snapSlice ++ feedSlice)(c =>
      MorPartition(c.map(r => (0L, r)), Set.empty))
  }

  override def createReaderFactory(): PartitionReaderFactory = {
    // table-shaped rows (snapshot AND feed entries share the stored
    // layout); pre-ALTER rows pad added columns with their defaults
    val proj = GraftCell.projector(req, parent.schema(),
      parent.colDefaults)
    new RowsReaderFactory[MorPartition, (Long, Array[Any])](_.data,
      (_, r) => proj(0L, r._2))
  }
  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}
