package graft.sources

import java.util

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, SupportsWrite, Table, TableCapability}
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReaderFactory, Scan, ScanBuilder, SupportsPushDownRequiredColumns}
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** SNAPSHOT BRANCHES + WRITE-AUDIT-PUBLISH (b92) — the governance
  * pattern that gates 100 TB ingest: a writer stages its commits on a
  * BRANCH (`CALL graftmem.system.create_branch('db.tbl', 'b')` forks
  * the table's current content by REFERENCE — O(1), the
  * manifest-pointer shape b84's snapshots already use), audits the
  * staged state (the parent's b87 CHECK constraints gate every branch
  * write at the engine level, and any read can inspect
  * `db.tbl__branch_b`), and publishes with
  * `CALL graftmem.system.fast_forward('db.tbl', 'main', 'b')` — one
  * atomic commit that requires main to be UNCHANGED since the fork
  * (the fast-forward precondition; a diverged main rejects loudly,
  * exactly [[GraftMemCommitConflictException]]'s optimistic shape).
  * Until publish, main's content, version and history are untouched
  * by construction — the branch is where the risk lives; a failed
  * audit simply never fast-forwards, and main's history stays clean.
  *
  * Scope: the copy-on-write flavor ([[GraftMemTable]]); branch writes
  * are plain appends (the staging shape — a WAP producer lands its
  * generation, it does not run row-level rewrites against the fork).
  * The branch is consumed by its publish (dropped), the ephemeral
  * audit-staging lifecycle; long-lived named history stays b89's tags.
  */
private[sources] final class GraftBranch(val branchName: String,
    val baseVersion: Long,
    @volatile var rows: Vector[(Long, Array[Any])],
    var commits: Long)

/** A branch as a read/append table, resolved by the catalog from the
  * `db.tbl__branch_<name>` identifier convention (b83's suffix
  * grammar). Reports the PARENT's constraints, so the engine injects
  * the same CHECK validation into every branch write — the audit half
  * of write-audit-publish comes from b87's machinery for free.
  */
private[sources] class GraftMemBranchTable(parent: GraftMemTable,
    branch: GraftBranch) extends Table with SupportsRead with SupportsWrite {

  override def name(): String =
    s"${parent.fullName}__branch_${branch.branchName}"
  override def schema(): StructType = parent.schema()
  override def constraints(): Array[
    org.apache.spark.sql.connector.catalog.constraints.Constraint] =
    parent.constraints()
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.BATCH_WRITE)

  override def newScanBuilder(
      options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder with SupportsPushDownRequiredColumns {
      private var required: StructType = schema()
      override def pruneColumns(requiredSchema: StructType): Unit =
        required = requiredSchema
      override def build(): Scan = new Scan with Batch {
        private val (frozen, snapSchema, snapDefaults, snapColMap) =
          parent.synchronized(
            (branch.rows.map(_._2), parent.schema(), parent.colDefaults,
              parent.colMap))
        override def readSchema(): StructType = required
        override def toBatch: Batch = this
        override def description(): String =
          s"GraftMemBranchScan(${name()}, rows=${frozen.length})"
        override def planInputPartitions(): Array[InputPartition] =
          if (frozen.isEmpty) Array(GraftMemPartition(Vector.empty))
          else frozen.grouped(math.max(1, (frozen.length + 3) / 4))
            .map(GraftMemPartition(_): InputPartition).toArray
        override def createReaderFactory(): PartitionReaderFactory = {
          val proj = GraftCell.projector(required, snapSchema,
            snapDefaults, colMap = snapColMap)
          new RowsReaderFactory[GraftMemPartition, Array[Any]](_.data,
            (_, r) => proj(0L, r))
        }
      }
    }

  /** Append-only staging writes. The commit lands on the BRANCH state
    * under the parent's lock — main's rows/version are never touched
    * (the spec proves it by object identity and version equality).
    */
  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new WriteBuilder {
      private val proj: Array[Int] =
        parent.schema().fieldNames.map(info.schema().fieldIndex)
      private val tys = parent.schema().fields.map(_.dataType)
      private val dfl = parent.colDefaults.toArray
      private val slo = parent.colMap.phys.toArray
      private val wid = parent.colMap.physWidth
      override def build(): Write = new Write {
        override def toBatch: BatchWrite = new BatchWrite {
          override def createBatchWriterFactory(
              pi: PhysicalWriteInfo): DataWriterFactory =
            new GraftMemWriterFactory(proj, tys, dfl,
              slots = slo, physWidth = wid)
          override def commit(messages: Array[WriterCommitMessage]): Unit = {
            val written = messages.iterator.flatMap {
              case m: GraftMemCommit => m.data
            }.toVector
            parent.synchronized {
              // the branch may have been CONSUMED (published by
              // fast_forward, which removes it) between this write's
              // scan and its commit — appending to the orphaned
              // object would "succeed" into unreachable rows, the one
              // silent-lost-write path in a connector whose contract
              // is loud optimistic conflicts; reject instead (eq
              // check: a same-named re-fork is a DIFFERENT branch)
              if (!parent.branches.get(branch.branchName)
                  .exists(_ eq branch))
                throw new GraftMemCommitConflictException(
                  s"graftmem ${parent.fullName}: branch " +
                    s"'${branch.branchName}' was published or dropped " +
                    "after this write's scan; re-stage from a fresh " +
                    "branch")
              // staged rows carry their write-time group (b103):
              // the publish swaps them into main verbatim
              branch.rows = branch.rows ++
                written.map(r => (parent.groupOf(r), r))
              branch.commits += 1
            }
          }
          override def abort(messages: Array[WriterCommitMessage]): Unit = ()
        }
      }
    }
}

/** `graftmem.system.set_partition(table, col)` — PARTITION EVOLUTION
  * (b103): evolve an unpartitioned copy-on-write table to identity
  * partitioning on a CREATE-time column, as one metadata commit. Rows
  * written before keep their legacy (unpartitioned) generation — no
  * data moves; new writes land under the new transform; a row-level
  * rewrite that touches the legacy generation migrates it (rewritten
  * files get the current spec — Iceberg's rule). Returns
  * (partition_col, legacy_rows, version).
  */
private[sources] object SetPartitionProcedure
    extends org.apache.spark.sql.connector.catalog.procedures
      .UnboundProcedure {
  import org.apache.spark.sql.connector.catalog.procedures._
  import org.apache.spark.sql.types.{LongType => LT, StringType, StructField, StructType => ST}

  override def name(): String = "set_partition"
  override def description(): String =
    "evolve an unpartitioned table to identity partitioning on a " +
      "CREATE-time column (metadata-only; legacy rows keep their " +
      "generation)"

  override def bind(inputType: StructType): BoundProcedure =
    new BoundProcedure {
      override def name(): String = "set_partition"
      override def description(): String =
        SetPartitionProcedure.this.description()
      override def parameters(): Array[ProcedureParameter] =
        Array(ProcedureParameter.in("table", StringType).build(),
          ProcedureParameter.in("col", StringType).build())
      override def isDeterministic: Boolean = false
      private val outSchema = ST(Seq(
        StructField("partition_col", StringType, nullable = false),
        StructField("legacy_rows", LT, nullable = false),
        StructField("version", LT, nullable = false)))
      override def call(input: InternalRow)
          : java.util.Iterator[org.apache.spark.sql.connector.read.Scan] = {
        val tbl = input.getUTF8String(0).toString
        val col = input.getUTF8String(1).toString
        GraftMemCatalog.lookup(tbl) match {
          case g: GraftMemTable =>
            val legacy = g.setPartition(col)
            val v = g.synchronized(g.commitVersion)
            val row: InternalRow = InternalRow(
              org.apache.spark.unsafe.types.UTF8String.fromString(col),
              legacy, v)
            val scan: org.apache.spark.sql.connector.read.Scan =
              new org.apache.spark.sql.connector.read.LocalScan {
                override def rows(): Array[InternalRow] = Array(row)
                override def readSchema(): StructType = outSchema
                override def description(): String =
                  s"set_partition($tbl, $col)"
              }
            java.util.Collections.singletonList(scan).iterator()
          case null => throw new IllegalArgumentException(
            s"set_partition: no graftmem table named '$tbl'")
          case _ => throw new IllegalArgumentException(
            s"set_partition: '$tbl' is merge-on-read — partition " +
              "evolution applies to the copy-on-write flavor (deltas " +
              "address rows by position, not by rewrite group)")
        }
      }
    }
}

/** `graftmem.system.create_branch(table, branch)` — fork the table's
  * current content as a named branch (O(1) reference, never a copy).
  * Returns (branch, base_version): the version the fast-forward
  * publish will require main to still be at.
  */
private[sources] object CreateBranchProcedure
    extends org.apache.spark.sql.connector.catalog.procedures
      .UnboundProcedure {
  import org.apache.spark.sql.connector.catalog.procedures._
  import org.apache.spark.sql.types.{LongType => LT, StringType, StructField, StructType => ST}

  override def name(): String = "create_branch"
  override def description(): String =
    "fork a table's current content as a named write-audit-publish branch"

  override def bind(inputType: StructType): BoundProcedure =
    new BoundProcedure {
      override def name(): String = "create_branch"
      override def description(): String =
        CreateBranchProcedure.this.description()
      override def parameters(): Array[ProcedureParameter] =
        Array(ProcedureParameter.in("table", StringType).build(),
          ProcedureParameter.in("branch", StringType).build())
      override def isDeterministic: Boolean = false
      private val outSchema = ST(Seq(
        StructField("branch", StringType, nullable = false),
        StructField("base_version", LT, nullable = false)))
      override def call(input: InternalRow)
          : java.util.Iterator[org.apache.spark.sql.connector.read.Scan] = {
        val tbl = input.getUTF8String(0).toString
        val branch = input.getUTF8String(1).toString
        GraftMemCatalog.lookup(tbl) match {
          case g: GraftMemTable =>
            val base = g.createBranch(branch)
            val row: InternalRow = InternalRow(
              org.apache.spark.unsafe.types.UTF8String.fromString(
                branch.trim), base)
            val scan: org.apache.spark.sql.connector.read.Scan =
              new org.apache.spark.sql.connector.read.LocalScan {
                override def rows(): Array[InternalRow] = Array(row)
                override def readSchema(): StructType = outSchema
                override def description(): String =
                  s"create_branch($tbl, $branch)"
              }
            java.util.Collections.singletonList(scan).iterator()
          case null => throw new IllegalArgumentException(
            s"create_branch: no graftmem table named '$tbl'")
          case _ => throw new IllegalArgumentException(
            s"create_branch: '$tbl' is merge-on-read — branches stage " +
              "batch publishes on the copy-on-write flavor")
        }
      }
    }
}

/** `graftmem.system.drop_branch(table, branch)` — abandon a staging
  * branch without publishing: the failed-audit exit of
  * write-audit-publish (d32's streaming gate drops the branch of a
  * rejected batch and moves on — main was never touched, so there is
  * nothing to roll back). Returns (branch, staged_commits).
  */
private[sources] object DropBranchProcedure
    extends org.apache.spark.sql.connector.catalog.procedures
      .UnboundProcedure {
  import org.apache.spark.sql.connector.catalog.procedures._
  import org.apache.spark.sql.types.{LongType => LT, StringType, StructField, StructType => ST}

  override def name(): String = "drop_branch"
  override def description(): String =
    "abandon a write-audit-publish branch without publishing"

  override def bind(inputType: StructType): BoundProcedure =
    new BoundProcedure {
      override def name(): String = "drop_branch"
      override def description(): String =
        DropBranchProcedure.this.description()
      override def parameters(): Array[ProcedureParameter] =
        Array(ProcedureParameter.in("table", StringType).build(),
          ProcedureParameter.in("branch", StringType).build())
      override def isDeterministic: Boolean = false
      private val outSchema = ST(Seq(
        StructField("branch", StringType, nullable = false),
        StructField("staged_commits", LT, nullable = false)))
      override def call(input: InternalRow)
          : java.util.Iterator[org.apache.spark.sql.connector.read.Scan] = {
        val tbl = input.getUTF8String(0).toString
        val branch = input.getUTF8String(1).toString
        GraftMemCatalog.lookup(tbl) match {
          case g: GraftMemTable =>
            val staged = g.dropBranch(branch)
            val row: InternalRow = InternalRow(
              org.apache.spark.unsafe.types.UTF8String.fromString(
                branch.trim), staged)
            val scan: org.apache.spark.sql.connector.read.Scan =
              new org.apache.spark.sql.connector.read.LocalScan {
                override def rows(): Array[InternalRow] = Array(row)
                override def readSchema(): StructType = outSchema
                override def description(): String =
                  s"drop_branch($tbl, $branch)"
              }
            java.util.Collections.singletonList(scan).iterator()
          case null => throw new IllegalArgumentException(
            s"drop_branch: no graftmem table named '$tbl'")
          case _ => throw new IllegalArgumentException(
            s"drop_branch: '$tbl' keeps no branches")
        }
      }
    }
}

/** `graftmem.system.fast_forward(table, 'main', branch)` — publish a
  * branch: one atomic commit that swaps main's content for the
  * branch's, REQUIRING main to be unchanged since the fork (the
  * fast-forward precondition — a diverged main is a loud
  * [[GraftMemCommitConflictException]], never a silent merge). The
  * branch is consumed. Returns (published_rows, branch_commits,
  * new_version).
  */
private[sources] object FastForwardProcedure
    extends org.apache.spark.sql.connector.catalog.procedures
      .UnboundProcedure {
  import org.apache.spark.sql.connector.catalog.procedures._
  import org.apache.spark.sql.types.{LongType => LT, StringType, StructField, StructType => ST}

  override def name(): String = "fast_forward"
  override def description(): String =
    "publish a branch onto main (atomic; requires main unchanged " +
      "since the fork)"

  override def bind(inputType: StructType): BoundProcedure =
    new BoundProcedure {
      override def name(): String = "fast_forward"
      override def description(): String =
        FastForwardProcedure.this.description()
      override def parameters(): Array[ProcedureParameter] =
        Array(ProcedureParameter.in("table", StringType).build(),
          ProcedureParameter.in("to", StringType).build(),
          ProcedureParameter.in("from", StringType).build())
      override def isDeterministic: Boolean = false
      private val outSchema = ST(Seq(
        StructField("published_rows", LT, nullable = false),
        StructField("branch_commits", LT, nullable = false),
        StructField("new_version", LT, nullable = false)))
      override def call(input: InternalRow)
          : java.util.Iterator[org.apache.spark.sql.connector.read.Scan] = {
        val tbl = input.getUTF8String(0).toString
        val to = input.getUTF8String(1).toString
        val from = input.getUTF8String(2).toString
        require(to == "main",
          s"fast_forward: the publish target is 'main' (got '$to') — " +
            "branch-to-branch promotion is not part of the WAP demo")
        GraftMemCatalog.lookup(tbl) match {
          case g: GraftMemTable =>
            val (nRows, nCommits, newV) = g.fastForward(from)
            val row: InternalRow = InternalRow(nRows, nCommits, newV)
            val scan: org.apache.spark.sql.connector.read.Scan =
              new org.apache.spark.sql.connector.read.LocalScan {
                override def rows(): Array[InternalRow] = Array(row)
                override def readSchema(): StructType = outSchema
                override def description(): String =
                  s"fast_forward($tbl, $to, $from)"
              }
            java.util.Collections.singletonList(scan).iterator()
          case null => throw new IllegalArgumentException(
            s"fast_forward: no graftmem table named '$tbl'")
          case _ => throw new IllegalArgumentException(
            s"fast_forward: '$tbl' keeps no branches")
        }
      }
    }
}
