package graft.table

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

import graft.sources.TaskRead
import graft.spec._

/** A delete file attached to a scan task, with the metadata MoR
  * application needs beyond the file itself: its commit sequence number
  * (equality deletes apply only to OLDER data) and the spec its
  * partition scope was written under. */
final case class DeleteFileRef(
    file: DataFile,
    sequenceNumber: Long,
    specId: Int,
    /** Schema id the delete MANIFEST was written under: an
      * equality-delete file stores its key columns under the NAMES of
      * that schema, so a key column renamed after the delete was
      * written must resolve by field id through it — reading by
      * current name would null-fill and silently resurrect rows. */
    schemaId: Int = -1)

/** One unit of scan work (`table/scan.go:193-199`) — a data file plus
  * the delete files that apply to it under MoR sequence rules, and the
  * schema id the file was written under (drives field-ID remapping). */
final case class FileScanTask(
    file: DataFile,
    sequenceNumber: Long,
    specId: Int,
    deleteFiles: Seq[DeleteFileRef],
    schemaId: Int)

/** Fluent scan (`table/scan.go:17-77`): snapshot/as-of/filter/select/
  * limit configure a driver-side plan; execution is a Spark DataFrame.
  *
  * Planning = snapshot-resolve → manifest-list read → manifest prune
  * (partition summaries) → entry prune (column bounds) → tasks with MoR
  * delete files attached (the step `table/scan.go:146-149` skips). It
  * runs on the driver, manifests read in parallel on its
  * [[graft.util.WorkerPool]], and starts no Spark job.
  * Execution is not here: the planned tasks are read by
  * [[graft.sources.TaskRead]], the connector reader every SQL read also
  * uses, which applies each task's position and equality deletes and
  * remaps files written under older schemas by field id.
  */
class Scan private (
    table: Table,
    spark: SparkSession,
    snapshotId: Option[Long] = None,
    asOfMs: Option[Long] = None,
    refName: Option[String] = None,
    filterExpr: Option[Expr] = None,
    selected: Seq[String] = Nil,
    limitN: Option[Int] = None,
    caseSensitive: Boolean = true,
    options: Map[String, String] = Map.empty) {

  def this(table: Table, spark: SparkSession) = this(table, spark, None)

  private def copy2(
      snapshotId: Option[Long] = snapshotId,
      asOfMs: Option[Long] = asOfMs,
      refName: Option[String] = refName,
      filterExpr: Option[Expr] = filterExpr,
      selected: Seq[String] = selected,
      limitN: Option[Int] = limitN,
      caseSensitive: Boolean = caseSensitive,
      options: Map[String, String] = options): Scan =
    new Scan(table, spark, snapshotId, asOfMs, refName, filterExpr,
      selected, limitN, caseSensitive, options)

  def useSnapshot(id: Long): Scan = copy2(snapshotId = Some(id))
  def asOf(tsMs: Long): Scan = copy2(asOfMs = Some(tsMs))
  /** Read a named branch or tag (SURVEY M5's read side; reference
    * declares refs at `spec/snapshot.go:64-70` but has no scan-by-ref). */
  def useRef(name: String): Scan = copy2(refName = Some(name))
  /** Incremental append scan: only rows ADDED by snapshots in
    * `(fromExclusive, toInclusive]` along the parent chain — the
    * incremental-consumption surface (CDC-ish reads, micro-batch
    * tailing). Delete files are ignored, matching Iceberg's
    * incremental append scan semantics. */
  def appendsBetween(fromExclusive: Long, toInclusive: Long): Scan =
    copy2(snapshotId = Some(toInclusive),
      options = options + ("incremental-from" -> fromExclusive.toString))
  def filter(e: Expr): Scan =
    copy2(filterExpr = Some(filterExpr.map(_.and(e)).getOrElse(e)))
  def select(cols: String*): Scan = copy2(selected = cols)
  def limit(n: Int): Scan = copy2(limitN = Some(n))
  def withCaseSensitive(b: Boolean): Scan = copy2(caseSensitive = b)
  /** Free-form scan options (`table/scan.go:73-77`). */
  def option(key: String, value: String): Scan =
    copy2(options = options + (key -> value))

  /** Snapshot resolution (`table/scan.go:80-98`), extended with named
    * refs: a branch/tag resolves through `metadata.refs` to its pinned
    * snapshot id. */
  def resolveSnapshot(): Option[Snapshot] =
    snapshotId.map(id => table.snapshotById(id).getOrElse(
      throw new IllegalArgumentException(s"snapshot $id not found")))
      .orElse(refName.map { n =>
        val r = table.metadata.ref(n).getOrElse(
          throw new IllegalArgumentException(s"ref $n not found"))
        table.snapshotById(r.snapshotId).getOrElse(
          throw new IllegalArgumentException(
            s"ref $n points at missing snapshot ${r.snapshotId}"))
      })
      .orElse(asOfMs.map(ts => table.snapshotAsOf(ts).getOrElse(
        throw new IllegalArgumentException(s"no snapshot as of $ts"))))
      .orElse(table.currentSnapshot)

  /** Current-snapshot reads use the table's CURRENT schema (so schema
    * evolution is visible immediately); explicit time travel — snapshot
    * id, as-of timestamp, or named ref — reads with the snapshot's own
    * schema, Iceberg's documented behavior. */
  private def schemaForSnapshot(s: Snapshot): Schema =
    if (snapshotId.isDefined || asOfMs.isDefined || refName.isDefined)
      s.schemaId.flatMap(table.metadata.schemaById).getOrElse(table.schema)
    else table.schema

  /** Case-insensitive name resolution (`table/scan.go:68-71`'s
    * CaseSensitive option, actually honored). */
  private def resolve(schema: Schema, name: String): String =
    if (caseSensitive) name
    else schema.fields.map(_.name)
      .find(_.equalsIgnoreCase(name)).getOrElse(name)

  private def resolvedFilter(schema: Schema): Option[Expr] =
    filterExpr.map(_.simplify.mapColumns(resolve(schema, _)))

  /** Incremental plan: Added entries of the snapshots in
    * `(fromExclusive, to]` along the parent chain, pruned as usual,
    * no delete attachment. Manifests not written by the snapshot under
    * inspection are skipped via `addedSnapshotId` without reading. */
  private def planIncremental(fromExclusive: Long): Seq[FileScanTask] = {
    val to = resolveSnapshot().getOrElse(return Nil)
    if (to.snapshotId == fromExclusive) return Nil
    val schema = schemaForSnapshot(to)
    val pred = resolvedFilter(schema)
    val chain = Seq.newBuilder[Snapshot]
    var cur: Option[Snapshot] = Some(to)
    var found = false
    while (cur.isDefined && !found) {
      val s = cur.get
      chain += s
      cur = s.parentSnapshotId.flatMap(table.snapshotById)
      found = s.parentSnapshotId.contains(fromExclusive)
      if (cur.isEmpty && !found && s.parentSnapshotId.isDefined)
        throw new IllegalArgumentException(
          s"ancestor ${s.parentSnapshotId.get} of ${to.snapshotId} expired")
    }
    if (!found)
      throw new IllegalArgumentException(
        s"snapshot $fromExclusive is not an ancestor of ${to.snapshotId}")
    // Only operation=append snapshots contribute: Replace (compaction),
    // Overwrite (update/upsert/overwriteWhere) and Delete snapshots add
    // manifests whose Added entries are REWRITES of pre-existing rows —
    // consuming them would re-deliver the whole rewritten file set as if
    // it were new data (e.g. one compaction between tailer polls would
    // duplicate the entire table downstream).
    //
    // Replace and Delete skip SILENTLY: neither can carry rows that did
    // not exist before (compaction rewrites; delete rewrites-minus-rows),
    // so an append consumer loses nothing. Overwrite is different —
    // upsert/merge commits GENUINELY NEW rows under Overwrite
    // (Mutations upsert path), so silently skipping one would lose data
    // downstream forever. Fail loud by default, matching Iceberg's
    // streaming source, with an explicit opt-out mirroring its
    // streaming-skip-overwrite-snapshots option.
    val skipOverwrites =
      options.get("incremental-skip-overwrites").contains("true")
    val added = chain.result()
      .filter { s =>
        s.summary.map(_.operation) match {
          case None | Some(Operation.Append) => true
          case Some(Operation.Replace) | Some(Operation.Delete) => false
          case Some(Operation.Overwrite) =>
            if (skipOverwrites) false
            else throw new UnsupportedOperationException(
              s"snapshot ${s.snapshotId} in the incremental range is an " +
                "overwrite (upsert/update/overwriteWhere) — its rewritten " +
                "files cannot be told apart from new data, and upserted " +
                "rows WOULD be new data. Re-read from a full scan, or set " +
                "option incremental-skip-overwrites=true to skip such " +
                "snapshots (accepting that upserted rows are not delivered)")
        }
      }
      .flatMap(s => table.manifestList(s).filter(mf =>
        mf.content == ManifestContent.Data &&
          mf.addedSnapshotId == s.snapshotId))
    Table.readManifestsWith(table.io, added) { (mf, m) =>
      val sid = mf.addedSnapshotId
      Scan.pruneManifest(m.copy(entries = m.addedEntries
          .filter(_.snapshotId.forall(_ == sid))),
        mf.partitionSpecId, pred, schema,
        table.metadata.specById(mf.partitionSpecId))
    }.flatten.map { case (df, seq, specId, schemaId) =>
      FileScanTask(df, seq, specId, Nil, schemaId)
    }
  }

  /** Plan files with real pruning (`table/scan.go:101-190` + the stubs
    * of `table/insert.go:255-266` implemented). Every delete manifest
    * and every data manifest that survives summary pruning is read and
    * entry-pruned in one pass over the driver's
    * [[graft.util.WorkerPool]] (Iceberg plans on its worker pool the
    * same way); results keep manifest order, so tasks come out as a
    * serial plan would list them. Planning never leaves the driver. */
  def planFiles(): Seq[FileScanTask] = {
    options.get("incremental-from").foreach(f =>
      return planIncremental(f.toLong))
    val snap = resolveSnapshot().getOrElse(return Nil)
    val schema = schemaForSnapshot(snap)
    val pred = resolvedFilter(schema)

    // delete manifests are routed separately, never skipped (fixes J2)
    val (deleteManifests, dataManifests) = table.manifestList(snap)
      .partition(_.content == ManifestContent.Deletes)
    val surviving = dataManifests.filter(mf => pred.forall(e =>
      table.metadata.specById(mf.partitionSpecId)
        .forall(Pruning.manifestMightMatch(e, mf, _, schema))))
    val (deleteEntries, pruned) = Table.readManifestsWith(table.io,
      deleteManifests ++ surviving) { (mf, m) =>
        val entryPred = if (mf.content == ManifestContent.Data) pred else None
        Scan.pruneManifest(m, mf.partitionSpecId, entryPred, schema,
          table.metadata.specById(mf.partitionSpecId))
      }.splitAt(deleteManifests.size) match {
        case (d, p) => (d.flatten, p.flatten)
      }

    // Partition-scoped delete index (the shape of Iceberg's
    // DeleteFileIndex, which keys by (specId, partition)): empty-tuple
    // delete files are global, tuple-scoped ones attach only to data
    // files written under the SAME spec with the same tuple — tuples
    // from different specs that happen to be value-equal must not
    // cross-attach. Applicability is memoized per (specId, tuple,
    // dataSeq) — distinct data sequence numbers are O(#snapshots) —
    // so planning is O(#files + #combos × #deletes-in-scope), not
    // O(#files × #deletes).
    val (scopedDeletes, globalDeletes) =
      deleteEntries.partition(_._1.partition.nonEmpty)
    val scopedIndex = scopedDeletes.groupBy {
      case (d, _, sid, _) => (sid, d.partition)
    }
    val attachMemo = collection.mutable.Map
      .empty[(Int, Map[String, Any], Long), Seq[DeleteFileRef]]
    def applicableDeletes(specId: Int, partition: Map[String, Any],
        seq: Long): Seq[DeleteFileRef] =
      if (deleteEntries.isEmpty) Nil
      else attachMemo.getOrElseUpdate((specId, partition, seq), {
        // MoR applicability: position deletes with deleteSeq >= dataSeq,
        // equality deletes with deleteSeq > dataSeq (Iceberg spec rule)
        (globalDeletes ++ scopedIndex.getOrElse((specId, partition), Nil))
          .filter { case (d, dSeq, _, _) =>
            d.content match {
              case FileContent.PositionDeletes => dSeq >= seq
              case FileContent.EqualityDeletes => dSeq > seq
              case _ => false
            }
          }.map { case (d, dSeq, sid, schemaId) =>
            DeleteFileRef(d, dSeq, sid, schemaId)
          }
      })

    pruned.map { case (df, seq, specId, schemaId) =>
      FileScanTask(df, seq, specId,
        applicableDeletes(specId, df.partition, seq), schemaId)
    }
  }

  /** Metadata-only count (`table/scan.go:234-250`), clamped to the
    * limit. With no row filter, no incremental range and no live delete
    * file in the snapshot, it is answered by [[manifestListCount]]: one
    * manifest-list read, no manifest decode, no Spark job. Otherwise it
    * plans files and sums their row counts when no delete file
    * attaches and there is no row filter, and executes the scan when
    * one does. */
  def count(): Long =
    manifestListCount().orElse {
      val tasks = planFiles()
      if (filterExpr.isEmpty && tasks.forall(_.deleteFiles.isEmpty))
        Some(tasks.map(_.file.recordCount).sum)
      else None
    } match {
      case Some(total) => limitN.fold(total)(l => math.min(total, l.toLong))
      case None => toDF.count()
    }

  /** The snapshot's live row count read off its manifest list — the sum
    * of each data manifest's added + existing rows, which every
    * manifest writer fills (the same sum as `total-records`). `None`
    * when that is not the scan's answer: a row filter, an incremental
    * range, or a delete manifest with live files. Ignores `limit`. */
  def manifestListCount(): Option[Long] =
    if (filterExpr.isDefined || options.contains("incremental-from")) None
    else resolveSnapshot() match {
      case None => Some(0L)
      case Some(snap) =>
        val (deletes, data) = table.manifestList(snap)
          .partition(_.content == ManifestContent.Deletes)
        if (deletes.exists(m => m.addedFilesCount + m.existingFilesCount > 0))
          None
        else Some(data.map(_.liveRowsCount).sum)
    }

  /** Execute (`table/scan.go:202-231`, the part the reference returns
    * empty): plan the files, read them through [[TaskRead]] — deletes
    * applied and schemas remapped per task inside the reader — then
    * apply the filter, projection and limit. The filter also reaches
    * parquet row-group skipping where that is sound. */
  def toDF: DataFrame = {
    val schema = querySchema
    var df = TaskRead(spark, table, schema, planFiles())
    resolvedFilter(schema).foreach(e => df = df.where(e.toColumn))
    if (selected.nonEmpty)
      df = df.select(selected.map(s => col(resolve(schema, s))): _*)
    limitN.foreach(n => df = df.limit(n))
    df
  }

  /** The schema reads resolve names through: the snapshot's for time
    * travel, else the current one. */
  private def querySchema: Schema =
    resolveSnapshot().map(schemaForSnapshot).getOrElse(table.schema)

  /** Positions of live data rows matched by the scan's EQUALITY
    * deletes, as a `(file_path, pos)` frame — the data-side half of
    * [[Maintenance.rewriteEqualityDeletes]]' eq→position conversion:
    * the rows of the files that carry equality deletes, minus the rows
    * that survive those deletes when [[TaskRead]] applies them (keys by
    * field id, sequence gating inherited from [[planFiles]]). Files
    * without an equality delete attached are not read. */
  private[table] def equalityMatchedPositions(): DataFrame = {
    def isEq(d: DeleteFileRef) = d.file.content == FileContent.EqualityDeletes
    val tasks = planFiles().filter(_.deleteFiles.exists(isEq))
    def positions(ts: Seq[FileScanTask]): DataFrame = {
      val df = TaskRead(spark, table, querySchema, ts)
      df.select(df.metadataColumn("_file").as("file_path"),
        df.metadataColumn("_pos").as("pos"))
    }
    val raw = tasks.map(_.copy(deleteFiles = Nil))
    val eqApplied =
      tasks.map(t => t.copy(deleteFiles = t.deleteFiles.filter(isEq)))
    positions(raw).join(positions(eqApplied), Seq("file_path", "pos"),
      "left_anti")
  }
}

object Scan {
  /** `file:`-scheme-insensitive path equality: `_metadata.file_path`
    * reports `file:///x` while manifests may carry `/x` or `file:/x`.
    * The normalizer for path-set membership (maintenance's orphan GC
    * uses it, the connector reader has its own copy); the codebase's
    * other normalizer, `DataWriter.normalizePath`, serves the opposite
    * purpose (producing the `file:`-prefixed form `_metadata` reports)
    * and must stay distinct. */
  private[table] def normPath(p: String): String =
    p.replaceFirst("^file:/+", "/")

  /** Planning never leaves the driver: no manifest count sends it to
    * executors. */
  val DistributedPlanThreshold: Int = Int.MaxValue

  /** Read-side pruning of one manifest's live entries. Returns
    * (dataFile, dataSequenceNumber, partitionSpecId, schemaId). */
  private def pruneManifest(manifest: graft.spec.Manifest,
      specId: Int, pred: Option[Expr], schema: Schema,
      spec: Option[PartitionSpec]): Seq[(DataFile, Long, Int, Int)] =
    manifest.liveEntries.flatMap { e =>
      val survives = pred.forall(p =>
        Pruning.fileMightMatch(p, e.dataFile, schema) &&
          spec.forall(sp =>
            Pruning.partitionTupleMightMatch(p, e.dataFile, sp, schema)))
      if (survives)
        Some((e.dataFile, e.sequenceNumber.getOrElse(0L), specId,
          manifest.schemaId))
      else None
    }

  def apply(table: Table, spark: SparkSession): Scan = new Scan(table, spark)
}
