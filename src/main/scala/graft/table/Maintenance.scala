package graft.table

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, udf}

import graft.avro.ManifestAvro
import graft.sources.{TaskRead, TaskWrite}
import graft.spec._

/** Table maintenance: small-file compaction and snapshot expiry with
  * orphan-file GC (SURVEY M8 "+ orphan-file GC (stretch)"). At 100 TB
  * these are the operations that keep scan planning O(live files) and
  * storage bounded; both are metadata-driven — no full-table listing.
  */
/** Outcome of a file-GC pass: what was deleted and what COULD not be
  * (permissions, transient FS errors). Failed paths stay orphaned and
  * will be retried by the next pass — best-effort is right, invisible
  * is not: at scale, persistent failures silently accumulate
  * unreclaimed storage unless surfaced. */
final case class GcReport(deleted: Seq[String], failed: Seq[String])

object Maintenance extends org.apache.spark.internal.Logging {

  /** Paths the LAST expireSnapshots call failed to delete (orphaned
    * until a later pass or removeOrphanFiles reclaims them); expiry
    * itself still commits. Observable telemetry for operators and
    * tests — the commit-then-delete ordering means failures can never
    * dangle references, only leak storage. */
  @volatile var lastExpireFailedDeletes: Seq[String] = Nil

  /** Incremental bin-pack compaction: rewrite ONLY the files worth
    * rewriting — files under `smallFileThresholdBytes` (default 3/4 of
    * the target, Iceberg's bin-pack convention) and files carrying MoR
    * delete files (rewriting absorbs the deletes) — into
    * ~targetFileSizeBytes files, one replace snapshot. Well-sized,
    * delete-free files are left untouched, so compacting a 100 TB table
    * costs proportional to its SMALL-file volume, not its size. The
    * read goes through the scan (MoR-applying), so absorbed delete
    * files are retired with the rewrite. */
  def compactDataFiles(table: Table, spark: SparkSession,
      targetFileSizeBytes: Long = 128L * 1024 * 1024,
      smallFileThresholdBytes: Long = -1L,
      /** also rewrite well-sized files that carry MoR delete files
        * (absorbing the deletes). Default on — matches a maintenance
        * pass that retires delete files; turn off for cheap
        * small-files-only passes on tables with wide-attaching
        * (global) delete files. */
      absorbDeleteFiles: Boolean = true): Table =
    Mutations.withConflictRetry(table)(
      compactOnce(_, spark, targetFileSizeBytes,
        if (smallFileThresholdBytes >= 0) smallFileThresholdBytes
        else targetFileSizeBytes * 3 / 4,
        absorbDeleteFiles))

  private def compactOnce(table: Table, spark: SparkSession,
      targetFileSizeBytes: Long, smallThreshold: Long,
      absorbDeleteFiles: Boolean): Table = {
    val tasks = Scan(table, spark).planFiles()
    val candidates = tasks.filter(t =>
      t.file.fileSizeInBytes < smallThreshold ||
        (absorbDeleteFiles && t.deleteFiles.nonEmpty))
    // one small delete-free file alone can't be improved
    if (candidates.isEmpty ||
        (candidates.size == 1 && candidates.head.deleteFiles.isEmpty))
      return table
    val totalBytes = candidates.map(_.file.fileSizeInBytes).sum
    val totalRecords = candidates.map(_.file.recordCount).sum
    val nFiles = math.max(1L, (totalBytes + targetFileSizeBytes - 1)
      / targetFileSizeBytes)
    val recordsPerFile = math.max(1L, totalRecords / nFiles)
    // read through the reader (applies MoR deletes of the selected
    // candidates) — only the candidate tasks, not the whole table
    val df = TaskRead(spark, table, table.schema, candidates)
    val newFiles = {
      val spec = table.spec
      if (spec.isUnpartitioned) {
        // Range-cluster the output, never round-robin: repartition(n)
        // gives every compacted file near-full-range min/max bounds, so
        // post-compaction scans would prune WORSE than pre-compaction.
        // Cluster keys: the table's sort order, else the first primitive
        // column — compaction should improve clustering, not destroy it.
        val schema = table.schema
        val sortCols = table.metadata.defaultSortOrder.fields
          .flatMap(sf => schema.field(sf.sourceId).map(f => col(f.name)))
        // fallback key must be range-orderable (repartitionByRange on a
        // map column throws); non-orderable-only schemas round-robin
        val clusterCols =
          if (sortCols.nonEmpty) sortCols
          else schema.fields.filter(f => df.columns.contains(f.name) &&
              org.apache.spark.sql.catalyst.expressions.RowOrdering
                .isOrderable(graft.spec.SchemaConverters.toSparkType(f.fieldType)))
            .take(1).map(f => col(f.name)).toSeq
        val clustered =
          if (clusterCols.isEmpty) df.repartition(nFiles.toInt)
          else df.repartitionByRange(nFiles.toInt, clusterCols: _*)
            .sortWithinPartitions(clusterCols: _*)
        TaskWrite(spark, table, clustered,
          maxRecordsPerFile = recordsPerFile)
      } else TaskWrite(spark, table, df)
    }
    // a delete file is retired only when EVERY data file it attaches to
    // was rewritten — removing one still referenced by an untouched
    // file would resurrect that file's deleted rows. Retained delete
    // files can't affect the rewrite's output: new files carry higher
    // sequence numbers.
    val candidateSet = candidates.map(_.file.filePath).toSet
    val attachments = tasks
      .flatMap(t => t.deleteFiles.map(d => d.file.filePath -> t.file.filePath))
      .groupBy(_._1)
    val retiredDeletes = attachments.collect {
      case (d, pairs) if pairs.map(_._2).toSet.subsetOf(candidateSet) => d
    }
    table.commitSnapshot(PendingSnapshot(Operation.Replace,
      addedDataFiles = newFiles,
      deletedFilePaths = candidateSet ++ retiredDeletes))
  }

  /** The live entries of the current snapshot's `content` manifests,
    * each with its manifest's spec id, decoded on the driver pool. */
  private def liveEntries(t: Table,
      content: ManifestContent): Seq[(Int, DataFile)] = {
    val mfs = t.currentSnapshot.toSeq.flatMap(t.manifestList)
      .filter(_.content == content)
    mfs.zip(t.readManifests(mfs)).flatMap { case (mf, m) =>
      m.liveEntries.map(e => mf.partitionSpecId -> e.dataFile)
    }
  }

  /** The `content` files among delete-manifest `entries`, deduped by
    * path. */
  private def deleteFiles(entries: Seq[(Int, DataFile)],
      content: FileContent): Seq[DataFile] =
    entries.map(_._2).filter(_.content == content)
      .groupBy(_.filePath).map(_._2.head).toSeq

  /** The table's live POSITION-delete files, deduped by path. */
  def positionDeleteFiles(table: Table): Seq[DataFile] =
    deleteFiles(liveEntries(table, ManifestContent.Deletes),
      FileContent.PositionDeletes)

  /** The table's live EQUALITY-delete files, deduped by path. */
  def equalityDeleteFiles(table: Table): Seq[DataFile] =
    deleteFiles(liveEntries(table, ManifestContent.Deletes),
      FileContent.EqualityDeletes)

  /** The `(file_path, pos)` rows of position-delete `files`. */
  private def positionsIn(spark: SparkSession,
      files: Seq[DataFile]): DataFrame =
    spark.read.parquet(files.map(_.filePath): _*)
      .select(col("file_path").cast("string"), col("pos").cast("long"))

  /** Writes `positions` as position-delete files and commits them in ONE
    * `replace` snapshot that retires `replaced`. Rows are deduped, and
    * rows whose data file is no longer live (dangling after compaction
    * or CoW) are dropped by a lookup in the set of live paths, shipped
    * with the tasks rather than planned as one literal per file; the
    * rest are routed to their data file's partition. The output is
    * about one file per `targetFileSizeBytes` of `replaced`: the
    * writer's default range partitioning would otherwise fan a small
    * delete set across `spark.sql.shuffle.partitions` files, the
    * opposite of consolidation. */
  private def commitPositions(t: Table, spark: SparkSession,
      positions: DataFrame, replaced: Seq[DataFile],
      targetFileSizeBytes: Long): Table = {
    val data = liveEntries(t, ManifestContent.Data)
    val live = data.map(_._2.filePath).toSet
    val isLive = udf((p: String) => live.contains(p))
    val kept = positions.distinct().where(isLive(col("file_path")))
    val nOut = math.max(1L, (replaced.map(_.fileSizeInBytes).sum
      + targetFileSizeBytes - 1) / targetFileSizeBytes).toInt
    t.commitSnapshot(PendingSnapshot(Operation.Replace,
      addedDeleteFiles = TaskWrite.positionDeletes(spark, t, kept, data,
        numFiles = nOut),
      deletedFilePaths = replaced.map(_.filePath).toSet))
  }

  /** Consolidate the table's live POSITION-delete files (Iceberg's
    * `rewrite_position_delete_files`): read them all, drop rows whose
    * target data file is no longer live (dangling after compaction or
    * CoW), dedup (path, pos) across files, and commit ONE `replace`
    * snapshot that retires the old delete files for the consolidated
    * set — data files are untouched. A table that took k small DELETE
    * commits pays k delete-file reads on EVERY scan task it attaches
    * to until this runs; afterwards at most one per partition.
    *
    * Only position deletes are rewritten. Equality deletes are
    * sequence-gated (they delete rows from strictly OLDER data files),
    * so re-committing one at a new sequence number would widen which
    * rows it deletes; position deletes name explicit (file, pos) pairs
    * and re-sequence safely.
    *
    * Scale: cost ∝ delete-file volume, never data volume. The live-
    * path prune is a set lookup over the live file list;
    * concurrent compaction that retires one of the same
    * delete files fails the rebase via the deletedFilePaths overlap
    * and retries on fresh state. */
  def rewritePositionDeletes(table: Table, spark: SparkSession,
      targetFileSizeBytes: Long = 64L * 1024 * 1024): Table =
    Mutations.withConflictRetry(table)(
      rewritePositionDeletesOnce(_, spark, targetFileSizeBytes))

  private def rewritePositionDeletesOnce(t: Table,
      spark: SparkSession, targetFileSizeBytes: Long): Table = {
    val posFiles = positionDeleteFiles(t)
    // one delete file is already consolidated — rewriting it forever
    // on every maintenance pass would churn metadata for nothing
    if (posFiles.size <= 1) t
    else commitPositions(t, spark, positionsIn(spark, posFiles), posFiles,
      targetFileSizeBytes)
  }

  /** Retire the table's EQUALITY-delete files by converting them to
    * position deletes, consolidated with the existing position-delete
    * files into one `replace` snapshot — the missing half of
    * [[rewritePositionDeletes]]' maintenance story: after heavy
    * `deleteByKeys` churn a table otherwise accumulates equality
    * files forever (every scan task re-reads and re-joins them) until
    * a full compaction.
    *
    * Equality files cannot be merged AS equality files: they are
    * sequence-gated (each deletes rows only from strictly OLDER data
    * files), so re-committing one at a new sequence number would widen
    * which rows it deletes. Conversion sidesteps that: the rows each
    * equality delete kills TODAY are materialized as explicit
    * `(file_path, pos)` pairs (sequence gating applied per data file
    * by the scan planner), which re-sequence safely, and data files
    * appended AFTER an equality delete were never affected by it — so
    * the converted table reads identically now and forever. Keys that
    * match no live row (dangling after compaction/CoW) simply produce
    * no positions and vanish with the retired file.
    *
    * Scale: reads only the KEY columns of data files that carry
    * equality deletes plus the delete-file volume itself — cost ∝
    * delete-touched files, never table volume; far cheaper than the
    * full-rewrite compaction that is otherwise the only way out. */
  def rewriteEqualityDeletes(table: Table, spark: SparkSession,
      targetFileSizeBytes: Long = 64L * 1024 * 1024): Table =
    Mutations.withConflictRetry(table)(
      rewriteEqualityDeletesOnce(_, spark, targetFileSizeBytes))

  private def rewriteEqualityDeletesOnce(t: Table,
      spark: SparkSession, targetFileSizeBytes: Long): Table = {
    val deletes = liveEntries(t, ManifestContent.Deletes)
    val eqFiles = deleteFiles(deletes, FileContent.EqualityDeletes)
    if (eqFiles.isEmpty) return t
    // the rows the equality deletes kill TODAY, as (file_path, pos) —
    // per-file sequence gating inherited from the scan planner; they
    // are live by construction, the existing position rows are pruned
    // to live files in the same pass
    val converted = Scan(t, spark).equalityMatchedPositions()
    val posFiles = deleteFiles(deletes, FileContent.PositionDeletes)
    val positions =
      if (posFiles.isEmpty) converted
      else converted.unionAll(positionsIn(spark, posFiles))
    commitPositions(t, spark, positions, eqFiles ++ posFiles,
      targetFileSizeBytes)
  }

  /** Z-order rewrite (Iceberg's `rewrite_data_files(strategy =>
    * 'sort', sort_order => 'zorder(...)')`): rewrite ALL live data into
    * files clustered along the Morton curve of `columns`, so scans
    * filtered on ANY of them prune files — a linear sort only serves
    * its leading column. Unpartitioned tables range-partition the
    * z-key globally; partitioned tables z-cluster WITHIN each
    * partition (the partition transform stays the coarse grain).
    * Every delete file retires with the rewrite (all data files are
    * rewritten), committed as one `replace` snapshot. Unlike
    * compaction this is a FULL rewrite — cost ∝ table size; run it on
    * query-critical tables, partitions, or after heavy churn. */
  def zorderRewrite(table: Table, spark: SparkSession,
      columns: Seq[String],
      targetFileSizeBytes: Long = 128L * 1024 * 1024): Table =
    Mutations.withConflictRetry(table)(
      zorderOnce(_, spark, columns, targetFileSizeBytes))

  private def zorderOnce(table: Table, spark: SparkSession,
      columns: Seq[String], targetFileSizeBytes: Long): Table = {
    val tasks = Scan(table, spark).planFiles()
    if (tasks.isEmpty) return table
    val schema = table.schema
    val df = TaskRead(spark, table, schema, tasks)
    val bounds = ZOrder.columnBounds(tasks, schema, columns, df)
    val z = ZOrder.zvalue(df, schema, columns, bounds)
    val totalBytes = tasks.map(_.file.fileSizeInBytes).sum
    val nFiles = math.max(1L,
      (totalBytes + targetFileSizeBytes - 1) / targetFileSizeBytes)
    val recordsPerFile =
      math.max(1L, tasks.map(_.file.recordCount).sum / nFiles)
    // The z-value is the within-task sort key ahead of any declared
    // order. Unpartitioned tables first range-partition on it, so each
    // file covers one stretch of the curve. maxRecordsPerFile keeps
    // targetFileSizeBytes meaningful on partitioned tables: without it
    // each partition tuple collapses to ONE (possibly huge) file and
    // the intra-partition z-sort yields no file-level pruning — the
    // feature's whole point.
    val input =
      if (table.spec.isUnpartitioned) df.repartitionByRange(nFiles.toInt, z)
      else df
    val newFiles = TaskWrite(spark, table, input,
      extraSortCols = Seq("__z" -> z), maxRecordsPerFile = recordsPerFile)
    val deletePaths = tasks.map(_.file.filePath).toSet ++
      tasks.flatMap(_.deleteFiles.map(_.file.filePath))
    table.commitSnapshot(PendingSnapshot(Operation.Replace,
      addedDataFiles = newFiles, deletedFilePaths = deletePaths))
  }

  /** Delete files under the table location reachable from NO retained
    * snapshot — leftovers of crashed writes and failed commits, which
    * snapshot expiry can never find (they were never committed). Only
    * files older than `olderThanMs` are touched (default 3 days,
    * Iceberg's convention) so in-flight writers are never raced, and
    * catalog metadata (`*.json`, version hints) is always kept. Cost is
    * one recursive listing + the metadata walk expiry already does —
    * O(files), executor-free, run-rarely maintenance. */
  def removeOrphanFiles(table: Table,
      olderThanMs: Long = System.currentTimeMillis() - 3L * 24 * 3600 * 1000,
      dryRun: Boolean = false): GcReport = {
    val meta = table.metadata
    def norm(p: String): String = Scan.normPath(p)
    val reachable = (reachableFrom(table, meta.snapshots) ++
      meta.snapshots.map(_.manifestList)).map(norm)
    val loc = meta.location.stripSuffix("/")
    val all = table.io.listFiles(s"$loc/data") ++
      table.io.listFiles(s"$loc/metadata")
    val orphans = all.filter { p =>
      val n = norm(p)
      val base = n.substring(n.lastIndexOf('/') + 1)
      // hidden files (.crc sidecars, _SUCCESS markers) belong to the
      // filesystem layer, not the table — never ours to GC; tailer
      // checkpoints (Streams.TableTailer) are durable consumer state
      // no snapshot references — deleting one would silently reset
      // its consumer to a full-table redelivery
      !base.startsWith(".") && !base.startsWith("_") &&
        !reachable.contains(n) && !n.endsWith(".json") &&
        !n.contains("version-hint") &&
        !base.startsWith("tail-checkpoint") &&
        (try table.io.modificationTime(p) < olderThanMs
         catch { case _: Exception => false })
    }
    if (dryRun) GcReport(orphans.map(norm), Nil)
    else {
      val (deleted, failed) = orphans.partition { p =>
        try { table.io.delete(p); true }
        catch { case e: Exception =>
          logWarning(s"graft: orphan-file GC failed to delete $p " +
            s"(${e.getClass.getSimpleName}: ${e.getMessage}) — " +
            "it stays orphaned for the next pass")
          false
        }
      }
      GcReport(deleted.map(norm), failed.map(norm))
    }
  }

  /** Compact the current snapshot's DATA manifests: many small
    * manifests (one per commit) amplify every scan's planning phase —
    * the manifest LIST stays one read, but each manifest is a separate
    * fetch. Rewrites live entries into ≤ `maxEntriesPerManifest`-entry
    * manifests grouped by (partition spec, write schema) — the schema
    * id drives per-file column remapping at read, so merging across it
    * would corrupt renamed-column reads. Entries keep their original
    * sequence numbers (MoR `deleteSeq > dataSeq` semantics are
    * sequence-based, not manifest-based); delete manifests are carried
    * untouched. Commits one `replace` snapshot; no data file moves. */
  def rewriteManifests(table: Table,
      maxEntriesPerManifest: Int = 100000): Table =
    Mutations.withConflictRetry(table)(
      rewriteManifestsOnce(_, maxEntriesPerManifest))

  private def rewriteManifestsOnce(table: Table,
      maxEntries: Int): Table = {
    val snap = table.currentSnapshot.getOrElse(return table)
    val meta = table.metadata
    val manifests = table.manifestList(snap)
    val dataManifests = manifests.filter(_.content == ManifestContent.Data)
    if (dataManifests.size <= 1) return table
    val deleteManifests =
      manifests.filter(_.content == ManifestContent.Deletes)

    val snapshotId = java.util.concurrent.ThreadLocalRandom.current()
      .nextLong(Long.MaxValue)
    val newSeq = meta.lastSequenceNumber + 1
    val metadataDir = meta.location.stripSuffix("/") + "/metadata"

    val groups: Seq[((Int, Int), Seq[ManifestEntry])] = dataManifests
      .map(mf => mf -> table.readManifest(mf))
      .groupBy { case (mf, m) => (mf.partitionSpecId, m.schemaId) }
      .map { case (k, v) => k -> v.flatMap(_._2.liveEntries) }
      .toSeq.sortBy(_._1)

    val newManifests = groups.flatMap { case ((specId, schemaId), live) =>
      val spec = meta.specById(specId).getOrElse(meta.defaultPartitionSpec)
      val partType = spec.partitionType(meta.currentSchema)
      live.map(_.copy(status = EntryStatus.Existing))
        .grouped(math.max(1, maxEntries)).map { entries =>
          val bytes = ManifestAvro.writeManifest(schemaId, spec, partType,
            ManifestContent.Data, entries)
          val path = s"$metadataDir/manifest-rw-" +
            s"${java.util.UUID.randomUUID.toString.take(8)}-$snapshotId.avro"
          table.io.writeAllBytes(path, bytes)
          ManifestFile(
            manifestPath = path,
            manifestLength = bytes.length.toLong,
            partitionSpecId = specId,
            content = ManifestContent.Data,
            sequenceNumber = newSeq,
            minSequenceNumber = entries.flatMap(_.sequenceNumber)
              .minOption.getOrElse(newSeq),
            addedSnapshotId = snapshotId,
            addedFilesCount = 0,
            existingFilesCount = entries.size,
            deletedFilesCount = 0,
            addedRowsCount = 0L,
            existingRowsCount = entries.map(_.dataFile.recordCount).sum,
            deletedRowsCount = 0L,
            partitions = SnapshotWriter.partitionSummaries(partType,
              entries.map(_.dataFile)))
        }
    }
    if (newManifests.size >= dataManifests.size) return table

    val allManifests = newManifests ++ deleteManifests
    val listBytes = ManifestAvro.writeManifestList(allManifests)
    val listPath = s"$metadataDir/snap-$snapshotId-" +
      s"${java.util.UUID.randomUUID.toString.take(8)}.avro"
    table.io.writeAllBytes(listPath, listBytes)

    val dataMs = allManifests.filter(_.content == ManifestContent.Data)
    val deleteMs = allManifests.filter(_.content == ManifestContent.Deletes)
    val summary = Summary(Operation.Replace)
      .withCounter(Summary.TotalRecords, dataMs.map(_.liveRowsCount).sum)
      .withCounter(Summary.TotalDataFiles,
        dataMs.map(m => m.addedFilesCount + m.existingFilesCount).sum.toLong)
      .withCounter(Summary.TotalDeleteFiles,
        deleteMs.map(m => m.addedFilesCount + m.existingFilesCount)
          .sum.toLong)
      .withCounter(Summary.TotalFilesSize,
        snap.summary.map(_.counter(Summary.TotalFilesSize)).getOrElse(0L))
      .copy(extra = Map(
        "manifests-replaced" -> dataManifests.size.toString,
        "manifests-created" -> newManifests.size.toString))
    val snapshot = Snapshot(
      snapshotId = snapshotId,
      parentSnapshotId = Some(snap.snapshotId),
      sequenceNumber = newSeq,
      timestampMs = System.currentTimeMillis(),
      manifestList = listPath,
      summary = Some(summary),
      schemaId = Some(meta.currentSchemaId))
    // honor the handle's write branch like every commitSnapshot path:
    // a WAP-branch handle's rewrite must advance the BRANCH ref, never
    // publish the unaudited branch lineage to main
    val branch = table.writeBranch
    val reqs = Seq(graft.catalog.TableRequirement.AssertRefSnapshotId(
      branch, meta.ref(branch).map(_.snapshotId)))
    val committed =
      try table.catalog.commitTable(table.id, reqs, Seq(
        graft.catalog.TableUpdate.AddSnapshot(snapshot),
        graft.catalog.TableUpdate.SetSnapshotRef(
          branch, snapshotId, "branch",
          meta.ref(branch).flatMap(_.minSnapshotsToKeep),
          meta.ref(branch).flatMap(_.maxSnapshotAgeMs),
          meta.ref(branch).flatMap(_.maxRefAgeMs))))
      catch {
        // CAS loss → re-plan the whole rewrite against refreshed
        // metadata (withConflictRetry): recommitting a manifest list
        // built from a stale snapshot would drop the concurrent commit
        case e: graft.catalog.CommitFailedException =>
          throw new graft.catalog.CommitConflictException(e.getMessage)
      }
    new Table(table.catalog, table.id,
      Table.positioned(committed, branch), table.io, branch,
      table.branchStillSeen(committed))
  }

  /** All storage paths reachable from a snapshot: its manifest list,
    * manifests, and every referenced data/delete file. */
  private def reachableFrom(table: Table,
      snapshots: Seq[Snapshot]): Set[String] = {
    val paths = Set.newBuilder[String]
    snapshots.foreach { s =>
      if (s.manifestList.nonEmpty) {
        paths += s.manifestList
        val manifests = ManifestAvro.readManifestList(
          table.io.readAllBytes(s.manifestList))
        manifests.foreach { mf =>
          paths += mf.manifestPath
          ManifestAvro.readManifest(table.io.readAllBytes(mf.manifestPath))
            .entries.foreach(e => paths += e.dataFile.filePath)
        }
      }
    }
    paths.result()
  }

  /** Expire snapshots older than `olderThanMs` (always keeping the
    * current one and at least `retainLast`), then delete every file
    * reachable ONLY from the expired snapshots. Deletion happens after
    * the metadata commit, so a crash leaves orphans (safe), never
    * dangling references.
    *
    * Branch/tag refs pin their snapshots: a tagged snapshot is never
    * expired while its ref lives (refs past their own `maxRefAgeMs` are
    * dropped first), and a branch's `minSnapshotsToKeep` newest
    * ancestors stay — otherwise expiry would break time travel through
    * refs the API (Transaction.setRef) explicitly supports. */
  def expireSnapshots(table: Table, olderThanMs: Long,
      retainLast: Int = 1, nowMs: Long = System.currentTimeMillis()): Table = {
    lastExpireFailedDeletes = Nil
    val meta = table.metadata
    val current = table.currentSnapshot.map(_.snapshotId).toSet
    val ordered = meta.snapshots.sortBy(_.timestampMs)

    // refs past their own retention window are themselves expired, as
    // are refs whose snapshot no longer resolves (they pin nothing and
    // would otherwise linger forever). `main` is the table's current
    // lineage and is never age-expired — upstream Iceberg has the same
    // carve-out — else expiry could drop the branch currentSnapshotId
    // still points at.
    val (staleRefs, liveRefs) = meta.refs.partition { case (name, r) =>
      val resolved = meta.snapshotById(r.snapshotId)
      resolved.isEmpty ||
        (name != "main" && r.maxRefAgeMs.exists(age =>
          resolved.exists(s => nowMs - s.timestampMs > age)))
    }
    // every live ref pins its snapshot; branches also pin their newest
    // minSnapshotsToKeep ancestors (walked over parent-snapshot-id)
    // PLUS any ancestor still inside the ref's own maxSnapshotAgeMs
    // window — the per-branch history-retention knob (Iceberg's
    // branch-level snapshot age), independent of the global cutoff
    val refPinned = liveRefs.values.flatMap { r =>
      val keepN = r.minSnapshotsToKeep.getOrElse(1)
      val chain = Iterator.iterate(meta.snapshotById(r.snapshotId))(
        _.flatMap(_.parentSnapshotId).flatMap(meta.snapshotById))
        .takeWhile(_.isDefined).flatten.toSeq
      chain.zipWithIndex.collect {
        case (s, i) if i < keepN || r.maxSnapshotAgeMs.exists(age =>
          nowMs - s.timestampMs <= age) => s.snapshotId
      }
    }.toSet

    // streaming heal pins: a sink-side batch stamp's CARRYING snapshot
    // (the one whose summary entry matches the table property,
    // [[graft.streaming.Streams]]' durable-stamp contract) is what a
    // crashed stream's restart resolves its index anchor from —
    // expiring it mid-crash-window would force the heal onto the
    // current-head fallback, which can claim anchor coverage of
    // another stream's not-yet-indexed corpus rows. Only the LATEST
    // stamp per stream key pins (older batches' index halves have
    // committed, so their carrying snapshots expire normally).
    val stampPinned = meta.properties.collect {
      case (k, v) if k.contains(".last-batch-id") =>
        ordered.reverseIterator.collectFirst {
          case s if s.summary.exists(_.extra.get(k).contains(v)) =>
            s.snapshotId
        }
    }.flatten.toSet

    val retained = ordered.takeRight(math.max(retainLast, 1))
      .map(_.snapshotId).toSet ++ current ++ refPinned ++ stampPinned
    val expired = ordered.filter(s =>
      s.timestampMs < olderThanMs && !retained.contains(s.snapshotId))
    if (expired.isEmpty && staleRefs.isEmpty) return table
    if (expired.isEmpty) {
      var tx = table.newTransaction()
      staleRefs.keys.foreach(n => tx = tx.removeRef(n))
      return tx.commit()
    }

    val keepSnapshots = meta.snapshots
      .filterNot(s => expired.exists(_.snapshotId == s.snapshotId))
    val reachable = reachableFrom(table, keepSnapshots)
    val candidates = reachableFrom(table, expired)
    val orphans = candidates -- reachable

    var tx = table.newTransaction()
      .removeSnapshots(expired.map(_.snapshotId))
    staleRefs.keys.foreach(n => tx = tx.removeRef(n))
    val committed = tx.commit()
    // best-effort GC, but never invisible: failures are logged, kept
    // in [[lastExpireFailedDeletes]], and stay reclaimable by a later
    // removeOrphanFiles pass (the commit above already dropped every
    // reference, so nothing dangles)
    val failed = orphans.toSeq.filter { p =>
      try { committed.io.delete(p); false }
      catch { case e: Exception =>
        logWarning(s"graft: snapshot expiry failed to delete $p " +
          s"(${e.getClass.getSimpleName}: ${e.getMessage}) — " +
          "it stays orphaned for the next GC pass")
        true
      }
    }
    lastExpireFailedDeletes = failed
    committed
  }
}
