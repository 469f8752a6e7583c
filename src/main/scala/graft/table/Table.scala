package graft.table

import java.util.UUID
import java.util.concurrent.ThreadLocalRandom

import graft.avro.ManifestAvro
import graft.catalog._
import graft.io.FileIO
import graft.spec._

/** Handle to a catalog table (`table/table.go`). Immutable snapshot of
  * metadata; `refresh()` returns a handle at the latest version. */
class Table(
    val catalog: Catalog,
    val id: TableIdentifier,
    val metadata: TableMetadata,
    val io: FileIO,
    /** The branch data commits advance (write-audit-publish — the
      * reference's commit path always advances main,
      * `table/table.go:179-183`). A non-main handle is positioned at
      * the branch head: scans read it and commit parents chain from it,
      * while `main` and the snapshot log (which follows main) stay
      * untouched until a fast-forward publish via
      * `Transaction.setRef("main", branchHead)`. */
    val writeBranch: String = "main",
    /** Whether `writeBranch`'s ref existed when this handle was
      * created. A handle whose branch EXISTED but has since been
      * removed (concurrent `remove_ref`, stale-ref expiry) must fail
      * loud on refresh/commit instead of silently repositioning on
      * main — only a never-yet-created branch may fork from the
      * current state on its first commit. */
    private val branchRefSeen: Boolean = false) {

  def schema: Schema = metadata.currentSchema
  def spec: PartitionSpec = metadata.defaultPartitionSpec
  def location: String = metadata.location
  def currentSnapshot: Option[Snapshot] = metadata.currentSnapshot
  def history: Seq[SnapshotLogEntry] = metadata.snapshotLog

  def refresh(): Table = {
    val m = positionedChecked(catalog.loadTable(id))
    new Table(catalog, id, m, io, writeBranch, branchStillSeen(m))
  }

  /** Positioned at the branch head, failing loud when a
    * previously-seen branch ref has vanished. */
  private def positionedChecked(m: TableMetadata): TableMetadata = {
    if (branchRefSeen && writeBranch != "main" &&
        m.ref(writeBranch).isEmpty)
      throw new IllegalStateException(
        s"graft: branch '$writeBranch' existed when this handle was " +
          "created but has been removed — refusing to silently " +
          "reposition on main (re-create the branch or load a fresh " +
          "handle)")
    Table.positioned(m, writeBranch)
  }

  private[table] def branchStillSeen(m: TableMetadata): Boolean =
    writeBranch != "main" && m.ref(writeBranch).isDefined

  /** A handle positioned ON a branch (WAP): scans read the branch head
    * and data commits advance the branch ref only. A branch that does
    * not exist yet branches off this handle's CURRENT state — the
    * first commit's parent is the current snapshot, and the commit
    * creates the ref. Publish with
    * `newTransaction().setRef("main", branchHead).commit()`. */
  def forBranch(name: String): Table = {
    // tags are immutable pointers: committing through one would both
    // move it and silently rewrite its type to "branch"
    metadata.ref(name).filter(_.refType == "tag").foreach(_ =>
      throw new IllegalArgumentException(
        s"graft: ref '$name' is a tag — tags are immutable; " +
          "write to a branch instead"))
    new Table(catalog, id, Table.positioned(metadata, name), io, name,
      metadata.ref(name).isDefined)
  }

  /** Time travel (`table/table.go:93-121`). */
  def snapshotById(sid: Long): Option[Snapshot] = metadata.snapshotById(sid)
  def snapshotAsOf(tsMs: Long): Option[Snapshot] = metadata.snapshotAsOf(tsMs)

  // ---------------------------------------------------- manifest reads

  def manifestList(snapshot: Snapshot): Seq[ManifestFile] =
    if (snapshot.manifestList.isEmpty) Nil
    else ManifestAvro.readManifestList(io.readAllBytes(snapshot.manifestList))

  def readManifest(mf: ManifestFile): Manifest =
    ManifestAvro.readManifest(io.readAllBytes(mf.manifestPath))

  /** Decodes `mfs` on the driver's [[graft.util.WorkerPool]]; the
    * result keeps `mfs`' order. A failed read is rethrown as the FileIO
    * threw it. */
  def readManifests(mfs: Seq[ManifestFile]): Seq[Manifest] =
    Table.readManifestsWith(io, mfs)((_, m) => m)

  // --------------------------------------------------------- mutations

  /** Metadata-only transaction (`table/table.go:153-254`). */
  def newTransaction(): Transaction = new Transaction(this)

  // Fluent entry points (`table/table.go:144-151` + T9 builders)
  def newScan(spark: org.apache.spark.sql.SparkSession): Scan =
    Scan(this, spark)
  def newInsert(spark: org.apache.spark.sql.SparkSession): InsertBuilder =
    new InsertBuilder(this, spark)
  def newDelete(spark: org.apache.spark.sql.SparkSession): DeleteBuilder =
    new DeleteBuilder(this, spark)
  def newUpdate(spark: org.apache.spark.sql.SparkSession): UpdateBuilder =
    new UpdateBuilder(this, spark)
  def newUpsert(spark: org.apache.spark.sql.SparkSession): UpsertBuilder =
    new UpsertBuilder(this, spark)
  def newBulkWriter(spark: org.apache.spark.sql.SparkSession,
      maxPendingFiles: Int = 100): BulkWriter =
    new BulkWriter(this, spark, maxPendingFiles)
  def updateSchema(): SchemaUpdate = new SchemaUpdate(this)

  /** Data commit: appended/deleted data files + delete files become one
    * new snapshot via [[SnapshotWriter]], with the commit-conflict retry
    * loop the reference configures but never wires (`config.go:68-69`,
    * `errors.go:95-123`). */
  def commitSnapshot(pending: PendingSnapshot,
      retries: Int = Table.MaxRetries,
      extraProps: Map[String, String] = Map.empty): Table =
    commitSnapshotComputed(pending, retries, _ => extraProps)

  /** [[commitSnapshot]] with the extra properties RECOMPUTED from the
    * refreshed metadata on every attempt. This is the CAS loop for
    * read-modify-write property arithmetic: a caller whose stamps are
    * derived from the table's current properties (the streaming sinks'
    * additive n-docs / total-dl / token totals) must not re-apply a
    * STALE precomputed map after a conflict retry — the concurrent
    * commit that caused the conflict may have advanced the very
    * property being incremented, and overwriting it with the stale
    * arithmetic silently loses that increment. */
  def commitSnapshotComputed(pending: PendingSnapshot,
      retries: Int = Table.MaxRetries,
      extraPropsFn: TableMetadata => Map[String, String]): Table = {
    var attempt = 0
    var meta = metadata
    while (true) {
      val extraProps = extraPropsFn(meta)
      // `meta` is positioned at the target branch head, so the parent
      // chain, carried-forward manifests, and rebase validation all
      // follow the branch, not main.
      val snap = SnapshotWriter.write(meta, io, pending)
      val reqs = Seq(TableRequirement.AssertRefSnapshotId(
        writeBranch, meta.ref(writeBranch).map(_.snapshotId)))
      // spec vocabulary: add-snapshot (no ref movement) + a
      // set-snapshot-ref advancing the target branch, carrying the
      // ref's existing retention knobs forward (a data commit must not
      // wipe branch retention config). `extraProps` ride the SAME
      // commit — callers that must stamp bookkeeping alongside data
      // (the streaming sinks' batch watermark) get atomicity instead
      // of a second metadata commit with a crash window between.
      val prevRef = meta.ref(writeBranch)
      val ups = Seq(
        TableUpdate.AddSnapshot(snap),
        TableUpdate.SetSnapshotRef(writeBranch, snap.snapshotId, "branch",
          prevRef.flatMap(_.minSnapshotsToKeep),
          prevRef.flatMap(_.maxSnapshotAgeMs),
          prevRef.flatMap(_.maxRefAgeMs))) ++
        (if (extraProps.isEmpty) Seq.empty
         else Seq(TableUpdate.SetProperties(extraProps)))
      try {
        val committed = catalog.commitTable(id, reqs, ups)
        val positioned = Table.positioned(committed, writeBranch)
        return new Table(catalog, id, positioned, io, writeBranch,
          branchStillSeen(committed))
      } catch {
        case e: CommitFailedException if attempt < retries =>
          attempt += 1
          Thread.sleep(Table.RetryBackoffMs * attempt)
          // refresh + rebase on fresh metadata, repositioned on branch
          // (failing loud when a previously-seen branch ref vanished
          // concurrently — retrying would silently fork off main)
          meta = positionedChecked(catalog.loadTable(id))
          validateRebase(pending, meta)
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** Rebase conflict validation: a retried commit may only proceed if
    * every file it depends on — CoW candidates it deletes, data files
    * its MoR delete files target — is still live in the refreshed
    * metadata. A concurrent rewrite of a candidate means OUR rewrite
    * read stale content (recommitting would resurrect concurrently
    * deleted rows) or our delete files point at dead paths; appends
    * (no dependencies) always rebase cleanly. */
  private def validateRebase(pending: PendingSnapshot,
      refreshed: TableMetadata): Unit = {
    val depends = pending.deletedFilePaths ++ pending.referencedDataPaths
    if (depends.isEmpty) return
    // Both manifest kinds: deletedFilePaths may name retired DELETE
    // files (delete-absorbing compaction), which live only in Deletes
    // manifests — excluding them would misclassify every CAS loss during
    // such a compaction as a conflict, even vs a harmless append.
    // With a partition scope, only manifests whose summaries can hold a
    // depended-on file are decoded: a file keeps its (spec, tuple) for
    // life, so a live one always sits in an admitted manifest.
    val mightHold = SnapshotWriter.scopeFilter(refreshed,
      pending.partitionScope)
    val live = refreshed.currentSnapshot.toSeq.flatMap { s =>
      readManifests(manifestList(s).filter(mightHold))
        .flatMap(_.liveEntries.map(_.dataFile.filePath))
    }.toSet
    val gone = depends.filterNot(live)
    if (gone.nonEmpty)
      throw new CommitConflictException(
        s"concurrent commit rewrote/removed ${gone.size} file(s) this " +
          s"${pending.operation} depends on (e.g. ${gone.head}); " +
          "re-plan the rewrite against the refreshed table")
  }
}

object Table {
  /** Defaults from the reference config (`config.go:93-94`). */
  val MaxRetries = 3
  val RetryBackoffMs = 100L

  /** Metadata positioned at a branch head: `currentSnapshot` (and with
    * it scans, commit parents, and rebase checks) resolves to the
    * branch. A missing branch leaves the metadata as-is — the branch
    * then forks from the current state on its first commit. */
  private[table] def positioned(m: TableMetadata,
      branch: String): TableMetadata =
    if (branch == "main") m
    else m.ref(branch) match {
      case Some(r) => m.copy(currentSnapshotId = Some(r.snapshotId))
      case None => m
    }

  /** The bulk manifest reader behind [[Table.readManifests]]: decodes
    * `mfs` through `io` on the driver's [[graft.util.WorkerPool]] and
    * applies `f` on the thread that decoded each, in `mfs`' order. */
  private[table] def readManifestsWith[A](io: FileIO,
      mfs: Seq[ManifestFile])(f: (ManifestFile, Manifest) => A): Seq[A] =
    graft.util.WorkerPool.map(mfs)(mf =>
      f(mf, ManifestAvro.readManifest(io.readAllBytes(mf.manifestPath))))

  def load(catalog: Catalog, id: TableIdentifier, io: FileIO): Table =
    new Table(catalog, id, catalog.loadTable(id), io)

  def create(catalog: Catalog, id: TableIdentifier, schema: Schema,
      spec: PartitionSpec = PartitionSpec.unpartitioned,
      sortOrder: SortOrder = SortOrder.unsorted,
      properties: Map[String, String] = Map.empty,
      io: FileIO): Table = {
    val meta = catalog.createTable(id, schema, spec, sortOrder, properties)
    new Table(catalog, id, meta, io)
  }
}

/** The file-level outcome of one write operation, fed to
  * [[SnapshotWriter]] (shape of `table/table.go:256-296`). With a
  * `partitionScope` the writer and the rebase check open only the
  * manifests that can hold the files it names. */
final case class PendingSnapshot(
    operation: Operation,
    addedDataFiles: Seq[DataFile] = Nil,
    deletedFilePaths: Set[String] = Set.empty,
    addedDeleteFiles: Seq[DataFile] = Nil,
    /** Free-form summary properties (e.g. the streaming sink's
      * batch-id watermark) persisted on the snapshot. */
    summaryExtra: Map[String, String] = Map.empty,
    /** Data-file paths this snapshot's content was computed FROM but
      * does not delete (MoR delete targets): rebase validation fails
      * the commit if any has been concurrently rewritten. */
    referencedDataPaths: Set[String] = Set.empty,
    /** `(partition spec id, partition tuple)` of every file this commit
      * deletes or references, when the caller knows them (its
      * candidates were planned as [[FileScanTask]]s). The commit then
      * decodes only the parent manifests whose spec and partition
      * summaries admit one of these tuples, and carries the rest
      * forward unread; rebase validation narrows the same way. `None`
      * inspects every manifest. */
    partitionScope: Option[Set[(Int, Map[String, Any])]] = None)

object PendingSnapshot {
  /** The partition scope of planned tasks (see `partitionScope`). */
  def scopeOf(tasks: Seq[FileScanTask]): Option[Set[(Int, Map[String, Any])]] =
    Some(tasks.map(t => (t.specId, t.file.partition)).toSet)
}

/** Builds a snapshot: writes the new manifests, REWRITES parent
  * manifests affected by deletes, carries the rest forward, and writes
  * the manifest list.
  *
  * This completes two declared-but-stubbed behaviors of the reference:
  * its manifest list contained only the new manifests (dropping all
  * previously-committed files from later snapshots) and its
  * `deletedFiles` were never applied (`table/table.go:331-486`).
  * Snapshot IDs are random 63-bit (not wall-clock nanos,
  * `table/table.go:301`) to survive parallel commits — SURVEY §7 risk 6.
  */
object SnapshotWriter {

  def write(meta: TableMetadata, io: FileIO,
      pending: PendingSnapshot): Snapshot = {
    val snapshotId = ThreadLocalRandom.current().nextLong(Long.MaxValue)
    val parent = meta.currentSnapshot
    val seqNum = meta.lastSequenceNumber + 1
    val schemaId = meta.currentSchemaId
    val spec = meta.defaultPartitionSpec
    val partitionType = spec.partitionType(meta.currentSchema)
    val metadataDir = meta.location.stripSuffix("/") + "/metadata"

    def uuid8 = UUID.randomUUID().toString.take(8)

    val newManifests = Seq.newBuilder[ManifestFile]
    var deletedFilesCount = 0
    var deletedRecords = 0L
    var deletedBytes = 0L

    // 1. manifest for added data files
    if (pending.addedDataFiles.nonEmpty) {
      val entries = pending.addedDataFiles.map(f => ManifestEntry(
        EntryStatus.Added, Some(snapshotId), Some(seqNum), Some(seqNum), f))
      val bytes = ManifestAvro.writeManifest(schemaId, spec, partitionType,
        ManifestContent.Data, entries)
      val path = s"$metadataDir/manifest-$uuid8-$snapshotId.avro"
      io.writeAllBytes(path, bytes)
      newManifests += ManifestFile(
        manifestPath = path,
        manifestLength = bytes.length.toLong,
        partitionSpecId = spec.specId,
        content = ManifestContent.Data,
        sequenceNumber = seqNum,
        minSequenceNumber = seqNum,
        addedSnapshotId = snapshotId,
        addedFilesCount = entries.size,
        existingFilesCount = 0,
        deletedFilesCount = 0,
        addedRowsCount = pending.addedDataFiles.map(_.recordCount).sum,
        existingRowsCount = 0L,
        deletedRowsCount = 0L,
        partitions = partitionSummaries(partitionType, pending.addedDataFiles))
    }

    // 2. manifest for added delete files (MoR)
    if (pending.addedDeleteFiles.nonEmpty) {
      val entries = pending.addedDeleteFiles.map(f => ManifestEntry(
        EntryStatus.Added, Some(snapshotId), Some(seqNum), Some(seqNum), f))
      val bytes = ManifestAvro.writeManifest(schemaId, spec, partitionType,
        ManifestContent.Deletes, entries)
      val path = s"$metadataDir/delete-manifest-$uuid8-$snapshotId.avro"
      io.writeAllBytes(path, bytes)
      newManifests += ManifestFile(
        manifestPath = path,
        manifestLength = bytes.length.toLong,
        partitionSpecId = spec.specId,
        content = ManifestContent.Deletes,
        sequenceNumber = seqNum,
        minSequenceNumber = seqNum,
        addedSnapshotId = snapshotId,
        addedFilesCount = entries.size,
        existingFilesCount = 0,
        deletedFilesCount = 0,
        addedRowsCount = pending.addedDeleteFiles.map(_.recordCount).sum,
        existingRowsCount = 0L,
        deletedRowsCount = 0L,
        partitions = partitionSummaries(partitionType,
          pending.addedDeleteFiles))
    }

    // 3. parent manifests: rewrite the ones containing deleted files,
    //    carry the rest forward untouched. BOTH manifest kinds are
    //    inspected: compaction retires absorbed DELETE files too
    //    (deletedFilePaths may name them), and leaving them live would
    //    make every scan read retired delete parquet forever — metadata
    //    garbage that grows with each compaction. With a partition
    //    scope, a manifest whose summaries cannot hold any deleted
    //    file's tuple is carried forward unread, so manifest reads are
    //    O(#manifests that may change); without one every parent
    //    manifest is decoded.
    val carried = Seq.newBuilder[ManifestFile]
    val mightHold = scopeFilter(meta, pending.partitionScope)
    parent.foreach { p =>
      val parentList =
        if (p.manifestList.isEmpty) Nil
        else ManifestAvro.readManifestList(io.readAllBytes(p.manifestList))
      // the manifests that may change, decoded up front in parallel
      val mustInspect =
        if (pending.deletedFilePaths.isEmpty) Nil
        else parentList.filter(mightHold)
      val inspected = Table.readManifestsWith(io, mustInspect)(
        (mf, m) => mf.manifestPath -> m).toMap
      parentList.foreach { mf =>
        val decoded = inspected.get(mf.manifestPath)
        if (decoded.isEmpty) carried += mf
        else {
          val manifest = decoded.get
          val live = manifest.liveEntries
          val (removed, survivors) =
            live.partition(e => pending.deletedFilePaths.contains(e.dataFile.filePath))
          if (removed.isEmpty) carried += mf
          else {
            if (mf.content == ManifestContent.Data) {
              deletedFilesCount += removed.size
              deletedRecords += removed.map(_.dataFile.recordCount).sum
            }
            // total-files-size includes delete-file bytes (Iceberg's
            // semantics for the same summary key), so retired DELETE
            // files count here too; file/record counters stay data-only.
            deletedBytes += removed.map(_.dataFile.fileSizeInBytes).sum
            if (survivors.nonEmpty) {
              val mfSpec = meta.specById(mf.partitionSpecId).getOrElse(spec)
              val mfPartType = mfSpec.partitionType(meta.currentSchema)
              val entries = survivors.map(e =>
                e.copy(status = EntryStatus.Existing))
              val bytes = ManifestAvro.writeManifest(manifest.schemaId, mfSpec,
                mfPartType, mf.content, entries)
              val path = s"$metadataDir/manifest-$uuid8-$snapshotId.avro"
              io.writeAllBytes(path, bytes)
              carried += ManifestFile(
                manifestPath = path,
                manifestLength = bytes.length.toLong,
                partitionSpecId = mf.partitionSpecId,
                content = mf.content,
                sequenceNumber = seqNum,
                minSequenceNumber =
                  entries.flatMap(_.sequenceNumber).minOption.getOrElse(seqNum),
                addedSnapshotId = snapshotId,
                addedFilesCount = 0,
                existingFilesCount = entries.size,
                deletedFilesCount = removed.size,
                addedRowsCount = 0L,
                existingRowsCount = entries.map(_.dataFile.recordCount).sum,
                deletedRowsCount = removed.map(_.dataFile.recordCount).sum,
                partitions = partitionSummaries(mfPartType,
                  entries.map(_.dataFile)))
            }
          }
        }
      }
    }

    // 4. manifest list: new manifests first (newest-first convention)
    val allManifests = newManifests.result() ++ carried.result()
    val listBytes = ManifestAvro.writeManifestList(allManifests)
    val listPath = s"$metadataDir/snap-$snapshotId-$uuid8.avro"
    io.writeAllBytes(listPath, listBytes)

    // 5. summary with real totals over the final manifest set
    val addedRecords = pending.addedDataFiles.map(_.recordCount).sum
    // delete files count toward total-files-size (matching Iceberg),
    // but not toward added-files-size / file-count counters
    val addedBytes = pending.addedDataFiles.map(_.fileSizeInBytes).sum +
      pending.addedDeleteFiles.map(_.fileSizeInBytes).sum
    val dataManifests = allManifests.filter(_.content == ManifestContent.Data)
    val deleteManifests = allManifests.filter(_.content == ManifestContent.Deletes)
    // total-files-size carries forward incrementally (parent total +
    // added - removed) so stats consumers never have to open data
    // manifests. Only emitted when the parent
    // chain has the counter (or we're at the root) — a stale parent
    // total would silently misestimate forever.
    val parentTotalSize: Option[Long] = parent match {
      case None => Some(0L)
      case Some(p) => p.summary.flatMap { s =>
        val t = s.counter(Summary.TotalFilesSize)
        if (t > 0 || s.counter(Summary.TotalDataFiles) == 0) Some(t)
        else None
      }
    }
    val summary = Summary(pending.operation)
      .withCounter(Summary.AddedDataFiles, pending.addedDataFiles.size.toLong)
      .withCounter(Summary.AddedRecords, addedRecords)
      .withCounter(Summary.AddedFilesSize,
        pending.addedDataFiles.map(_.fileSizeInBytes).sum)
      .withCounter(Summary.AddedDeleteFiles,
        pending.addedDeleteFiles.size.toLong)
      .withCounter(Summary.DeletedDataFiles, deletedFilesCount.toLong)
      .withCounter(Summary.DeletedRecords, deletedRecords)
      .withCounter(Summary.TotalRecords,
        dataManifests.map(_.liveRowsCount).sum)
      .withCounter(Summary.TotalFilesSize,
        parentTotalSize.map(t => t + addedBytes - deletedBytes)
          .getOrElse(0L))
      .withCounter(Summary.TotalDataFiles,
        dataManifests.map(m => m.addedFilesCount + m.existingFilesCount)
          .sum.toLong)
      .withCounter(Summary.TotalDeleteFiles,
        deleteManifests.map(m => m.addedFilesCount + m.existingFilesCount)
          .sum.toLong)
      .copy(extra = pending.summaryExtra)

    Snapshot(
      snapshotId = snapshotId,
      parentSnapshotId = parent.map(_.snapshotId),
      sequenceNumber = seqNum,
      timestampMs = System.currentTimeMillis(),
      manifestList = listPath,
      summary = Some(summary),
      schemaId = Some(schemaId))
  }

  /** Which manifests of `meta` can hold a file in `scope` (see
    * [[PendingSnapshot.partitionScope]]): those written under a scope
    * entry's spec whose partition summaries admit its tuple. A spec
    * whose partition type no longer resolves admits everything; no
    * scope admits every manifest. */
  private[table] def scopeFilter(meta: TableMetadata,
      scope: Option[Set[(Int, Map[String, Any])]]): ManifestFile => Boolean =
    scope match {
      case None => _ => true
      case Some(entries) =>
        val tuplesBySpec = entries.groupBy(_._1).map { case (sid, es) =>
          val partType = meta.specById(sid).flatMap(sp =>
            scala.util.Try(sp.partitionType(meta.currentSchema)).toOption)
          sid -> (partType, es.map(_._2))
        }
        mf => tuplesBySpec.get(mf.partitionSpecId).exists {
          case (None, _) => true
          case (Some(pt), tuples) =>
            tuples.exists(Pruning.manifestMightContainTuple(mf, pt, _))
        }
    }

  /** Per-partition-field min/max/null summaries for manifest-level
    * pruning (`spec/manifest.go:199-205`) — the reference declares the
    * structure but never fills it. */
  private[table] def partitionSummaries(partitionType: StructType,
      files: Seq[DataFile]): Seq[PartitionFieldSummary] =
    partitionType.fields.map { f =>
      val values = files.map(_.partition.get(f.name).orNull)
      val nonNull = values.filter(_ != null)
      val containsNull = values.exists(_ == null)
      if (nonNull.isEmpty)
        PartitionFieldSummary(containsNull, None, None, None)
      else {
        val sorted = nonNull.sortWith((a, b) =>
          Bounds.compare(a, b, f.fieldType) < 0)
        PartitionFieldSummary(
          containsNull = containsNull,
          containsNan = None,
          lowerBound = Some(Bounds.serialize(sorted.head, f.fieldType)),
          upperBound = Some(Bounds.serialize(sorted.last, f.fieldType)))
      }
    }
}

/** Metadata-only transaction: accumulates updates + requirements and
  * commits with retry (`table/table.go:153-254`). Declarative updates
  * re-apply cleanly against refreshed metadata on conflict. */
class Transaction(table: Table) {
  private val updates = Seq.newBuilder[TableUpdate]
  private var extraReqs = Seq.newBuilder[TableRequirement]

  def addSchema(schema: Schema, setCurrent: Boolean = true): Transaction = {
    updates += TableUpdate.AddSchema(schema, setCurrent); this
  }
  def setRef(name: String, snapshotId: Long,
      refType: String = "branch",
      minSnapshotsToKeep: Option[Int] = None,
      maxSnapshotAgeMs: Option[Long] = None,
      maxRefAgeMs: Option[Long] = None): Transaction = {
    updates += TableUpdate.SetSnapshotRef(name, snapshotId, refType,
      minSnapshotsToKeep, maxSnapshotAgeMs, maxRefAgeMs); this
  }
  def removeRef(name: String): Transaction = {
    updates += TableUpdate.RemoveSnapshotRef(name); this
  }
  def removeSnapshots(ids: Seq[Long]): Transaction = {
    updates += TableUpdate.RemoveSnapshots(ids); this
  }
  def setProperties(props: Map[String, String]): Transaction = {
    updates += TableUpdate.SetProperties(props); this
  }
  def removeProperties(keys: Seq[String]): Transaction = {
    updates += TableUpdate.RemoveProperties(keys); this
  }
  def addPartitionSpec(spec: PartitionSpec,
      setDefault: Boolean = true): Transaction = {
    updates += TableUpdate.AddPartitionSpec(spec)
    if (setDefault) updates += TableUpdate.SetDefaultSpec(spec.specId)
    this
  }
  def require(r: TableRequirement): Transaction = { extraReqs += r; this }

  def commit(): Table = {
    val ups = updates.result()
    var attempt = 0
    while (true) {
      val base = if (attempt == 0) table.metadata
        else table.catalog.loadTable(table.id)
      val reqs = TableRequirement.AssertRefSnapshotId(
        "main", base.ref("main").map(_.snapshotId)) +: extraReqs.result()
      try {
        val committed = table.catalog.commitTable(table.id, reqs, ups)
        return new Table(table.catalog, table.id,
          Table.positioned(committed, table.writeBranch), table.io,
          table.writeBranch, table.branchStillSeen(committed))
      } catch {
        case _: CommitFailedException if attempt < Table.MaxRetries =>
          attempt += 1
          Thread.sleep(Table.RetryBackoffMs * attempt)
      }
    }
    throw new IllegalStateException("unreachable")
  }
}
