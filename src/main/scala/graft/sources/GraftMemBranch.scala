package graft.sources

import java.util

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, SupportsWrite, Table, TableCapability}
import org.apache.spark.sql.connector.read.ScanBuilder
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.types.{LongType, StringType, StructType}
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

  /** Reads the branch's rows as of scan build, through the read-only
    * face's scan.
    */
  override def newScanBuilder(
      options: CaseInsensitiveStringMap): ScanBuilder =
    new GraftFrozenScanBuilder(name(), schema(), "GraftMemBranchScan",
      () => parent.synchronized((branch.rows.map(_._2), parent.schema(),
        parent.colDefaults, parent.colMap)))

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
private[sources] object SetPartitionProcedure extends GraftProcedure(
    "set_partition",
    "evolve an unpartitioned table to identity partitioning on a " +
      "CREATE-time column (metadata-only; legacy rows keep their " +
      "generation)",
    Seq("table" -> StringType, "col" -> StringType),
    Seq("partition_col" -> StringType, "legacy_rows" -> LongType,
      "version" -> LongType)) {
  override def body(in: InternalRow): Body = {
    case g: GraftMemTable =>
      val legacy = g.setPartition(in.getString(1))
      (in.getString(1), legacy, g.synchronized(g.commitVersion))
  }
  override def wrongFlavour(tbl: String): Exception =
    new IllegalArgumentException(s"${name()}: '$tbl' is merge-on-read — " +
      "partition evolution applies to the copy-on-write flavor (deltas " +
      "address rows by position, not by rewrite group)")
}

/** `graftmem.system.create_branch(table, branch)` — fork the table's
  * current content as a named branch (O(1) reference, never a copy).
  * Returns (branch, base_version): the version the fast-forward
  * publish will require main to still be at.
  */
private[sources] object CreateBranchProcedure extends GraftProcedure(
    "create_branch",
    "fork a table's current content as a named write-audit-publish branch",
    Seq("table" -> StringType, "branch" -> StringType),
    Seq("branch" -> StringType, "base_version" -> LongType)) {
  override def body(in: InternalRow): Body = {
    case g: GraftMemTable =>
      val base = g.createBranch(in.getString(1))
      (in.getString(1).trim, base)
  }
  override def wrongFlavour(tbl: String): Exception =
    new IllegalArgumentException(s"${name()}: '$tbl' is merge-on-read — " +
      "branches stage batch publishes on the copy-on-write flavor")
}

/** `graftmem.system.drop_branch(table, branch)` — abandon a staging
  * branch without publishing: the failed-audit exit of
  * write-audit-publish (d32's streaming gate drops the branch of a
  * rejected batch and moves on — main was never touched, so there is
  * nothing to roll back). Returns (branch, staged_commits).
  */
private[sources] object DropBranchProcedure extends GraftProcedure(
    "drop_branch",
    "abandon a write-audit-publish branch without publishing",
    Seq("table" -> StringType, "branch" -> StringType),
    Seq("branch" -> StringType, "staged_commits" -> LongType)) {
  override def body(in: InternalRow): Body = {
    case g: GraftMemTable =>
      val staged = g.dropBranch(in.getString(1))
      (in.getString(1).trim, staged)
  }
  override def wrongFlavour(tbl: String): Exception =
    new IllegalArgumentException(s"${name()}: '$tbl' keeps no branches")
}

/** `graftmem.system.fast_forward(table, 'main', branch)` — publish a
  * branch: one atomic commit that swaps main's content for the
  * branch's, REQUIRING main to be unchanged since the fork (the
  * fast-forward precondition — a diverged main is a loud
  * [[GraftMemCommitConflictException]], never a silent merge). The
  * branch is consumed. Returns (published_rows, branch_commits,
  * new_version).
  */
private[sources] object FastForwardProcedure extends GraftProcedure(
    "fast_forward",
    "publish a branch onto main (atomic; requires main unchanged " +
      "since the fork)",
    Seq("table" -> StringType, "to" -> StringType, "from" -> StringType),
    Seq("published_rows" -> LongType, "branch_commits" -> LongType,
      "new_version" -> LongType)) {
  override def check(in: InternalRow): Unit =
    require(in.getString(1) == "main",
      s"${name()}: the publish target is 'main' (got " +
        s"'${in.getString(1)}') — branch-to-branch promotion is not " +
        "part of the WAP demo")
  override def body(in: InternalRow): Body = {
    case g: GraftMemTable => g.fastForward(in.getString(2))
  }
  override def wrongFlavour(tbl: String): Exception =
    new IllegalArgumentException(s"${name()}: '$tbl' keeps no branches")
}
