package graft.sources

import java.util

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability}
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** FILE/PARTITION-LEVEL METADATA TABLES (b94) — the Iceberg
  * `db.tbl.files` / `db.tbl.partitions` face next to b93's
  * `__history` and b83's `__changes`: the FILE-GRAIN forensics read
  * that maintenance operations actually consume. A compaction planner
  * asks "which files carry how many dead rows", a retention job asks
  * "which files does this snapshot still reference", a clustering
  * advisor asks "what key range does each file cover" — all of it
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

/** `db.tbl__files` over a merge-on-read parent: one row per live
  * ledger file — (file_id, commit_version, pos_min, pos_max,
  * rows_written, live_rows, deleted_rows, min_key, max_key).
  */
private[sources] class GraftFilesTable(parent: GraftMemMorTable)
    extends Table with SupportsRead {

  override def name(): String = parent.fullName + "__files"
  override def schema(): StructType = StructType(Seq(
    StructField("file_id", LongType, nullable = false),
    StructField("commit_version", LongType, nullable = false),
    StructField("pos_min", LongType, nullable = false),
    StructField("pos_max", LongType, nullable = false),
    StructField("rows_written", LongType, nullable = false),
    StructField("live_rows", LongType, nullable = false),
    StructField("deleted_rows", LongType, nullable = false),
    StructField("min_key", LongType, nullable = false),
    StructField("max_key", LongType, nullable = false)))
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ)

  override def newScanBuilder(
      options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder {
      override def build(): Scan = new Scan with Batch {
        // ONE consistent snapshot (ledger + delete state) under the
        // parent's lock; liveness per file = live positions falling in
        // the file's range (ranges are disjoint by construction)
        private val rows: Array[InternalRow] = {
          val (files, live) = parent.synchronized {
            (parent.files,
              parent.liveRows(parent.base, parent.deltaInserts,
                parent.deleted,
                parent.eqDeletes.map(e => (e._1, e._2))))
          }
          val byMin = files.sortBy(_.posMin).toArray
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
          byMin.zipWithIndex.map { case (f, i) =>
            InternalRow(f.fileId, f.commitVersion, f.posMin,
              f.posMaxExcl, f.rowsWritten, liveCount(i),
              f.rowsWritten - liveCount(i), f.minKey, f.maxKey)
          }
        }
        override def readSchema(): StructType = schema()
        override def toBatch: Batch = this
        override def description(): String =
          s"GraftFilesScan(${parent.fullName}, n=${rows.length})"
        override def planInputPartitions(): Array[InputPartition] =
          Array(GraftHistoryPartition(rows))
        override def createReaderFactory(): PartitionReaderFactory =
          GraftFilesTable.rowArrayReaderFactory
      }
    }
}

private[sources] object GraftFilesTable {
  /** Shared reader for pre-materialized metadata rows. */
  private[sources] val rowArrayReaderFactory: PartitionReaderFactory =
    new RowsReaderFactory[GraftHistoryPartition, InternalRow](_.rows,
      (_, r) => r)
}

/** `db.tbl__partitions` over a copy-on-write parent: one row per
  * partition — DECLARED or data-bearing, the same existence rule as
  * `SHOW PARTITIONS` (b88) — with its live row count and the version
  * of the last commit that modified the rewrite group. The
  * "which partitions are hot / empty / stale" read a maintenance
  * planner runs before scheduling rewrites; scan cost is bounded by
  * the partition count.
  */
private[sources] class GraftPartitionsTable(parent: GraftMemTable)
    extends Table with SupportsRead {

  override def name(): String = parent.fullName + "__partitions"
  override def schema(): StructType = StructType(Seq(
    StructField("group_key", LongType, nullable = false),
    StructField("row_count", LongType, nullable = false),
    StructField("last_modified_version", LongType, nullable = false)))
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ)

  override def newScanBuilder(
      options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder {
      override def build(): Scan = new Scan with Batch {
        private val rows: Array[InternalRow] =
          parent.partitionStats.map { case (g, n, v) =>
            InternalRow(g, n, v)
          }.toArray
        override def readSchema(): StructType = schema()
        override def toBatch: Batch = this
        override def description(): String =
          s"GraftPartitionsScan(${parent.fullName}, n=${rows.length})"
        override def planInputPartitions(): Array[InputPartition] =
          Array(GraftHistoryPartition(rows))
        override def createReaderFactory(): PartitionReaderFactory =
          GraftFilesTable.rowArrayReaderFactory
      }
    }
}
