package graft.table

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.{TaskRead, TaskWrite}
import graft.spec._

/** Full CRUD over Iceberg tables (SURVEY §2.7), Spark-first:
  * candidate files come from the pruned scan plan, rewrites are single
  * Spark jobs over just those files (a delete or update rewrite runs
  * one task per candidate and no exchange, `TaskWrite`'s `inPlace`),
  * and the swap commits atomically through [[SnapshotWriter]].
  *
  * Row-level semantics: DELETE removes rows where the predicate is TRUE
  * (survivors = `pred IS NOT TRUE`, i.e. FALSE or NULL — SQL MERGE/
  * DELETE semantics, 3VL-correct unlike the reference's row loop).
  */
object Mutations {

  /** Re-plan-and-rerun loop around a rewrite whose commit can hit a
    * rebase conflict (a concurrent commit rewrote our candidate files):
    * the WHOLE operation re-executes against the refreshed table, so
    * the new rewrite reads the concurrent changes instead of
    * recommitting stale survivors. */
  private[table] def withConflictRetry(table: Table, maxAttempts: Int = 3)(
      op: Table => Table): Table = {
    var t = table
    var attempt = 0
    while (true) {
      try return op(t)
      catch {
        case _: graft.catalog.CommitConflictException
            if attempt < maxAttempts =>
          attempt += 1
          t = t.refresh()
      }
    }
    throw new IllegalStateException("unreachable")
  }

  private def survivorFilter(pred: Expr): Column =
    !coalesce(pred.toColumn, lit(false))

  private def matchFilter(pred: Expr): Column =
    coalesce(pred.toColumn, lit(false))

  /** Read candidate tasks THROUGH the MoR-applying reader
    * ([[TaskRead]]), by field id under the current schema:
    * a rewrite that read raw parquet would resurrect rows already
    * removed by delete files, and would read renamed columns as null.
    * Applied deletes also get retired: the rewritten files carry a
    * fresh (higher) sequence number, so old position/equality deletes
    * no longer apply to them. */
  private def readCandidates(table: Table, spark: SparkSession,
      candidates: Seq[FileScanTask]): DataFrame =
    TaskRead(spark, table, table.schema, candidates)

  /** The snapshot that swaps `candidates` for `added`, scoped to the
    * candidates' partitions so the commit decodes only the manifests
    * that can hold them. */
  private def replacing(op: Operation, added: Seq[DataFile],
      candidates: Seq[FileScanTask]): PendingSnapshot =
    PendingSnapshot(op, addedDataFiles = added,
      deletedFilePaths = candidates.map(_.file.filePath).toSet,
      partitionScope = PendingSnapshot.scopeOf(candidates))

  /** Copy-on-write delete (T4, `table/delete.go:82-183`): rewrite only
    * the pruned candidate files without their matching rows, swap both
    * sets in one snapshot. */
  def deleteCoW(table: Table, spark: SparkSession, pred0: Expr): Table =
    withConflictRetry(table) { t =>
      val pred = pred0.simplify
      val candidates = Scan(t, spark).filter(pred).planFiles()
      if (candidates.isEmpty) t
      else {
        val survivors = readCandidates(t, spark, candidates)
          .where(survivorFilter(pred))
        val newFiles = TaskWrite(spark, t, survivors, inPlace = true)
        t.commitSnapshot(replacing(Operation.Delete, newFiles, candidates))
      }
    }

  /** Merge-on-read position delete (T5, `table/delete.go:400-464`):
    * record matching (file, pos) pairs; the scan applies them (J2). The
    * candidates are read through the reader with its `_file`/`_pos`
    * columns, so the predicate sees renamed columns by field id and
    * rows already deleted are not recorded again. */
  def deleteMoR(table: Table, spark: SparkSession, pred0: Expr): Table =
    withConflictRetry(table) { t =>
      val pred = pred0.simplify
      val candidates = Scan(t, spark).filter(pred).planFiles()
      if (candidates.isEmpty) t
      else {
        val rows = readCandidates(t, spark, candidates)
        val deletes = rows.where(matchFilter(pred))
          .select(rows.metadataColumn("_file").as("file_path"),
            rows.metadataColumn("_pos").as("pos"))
        // partition-scoped delete files: the plan knows each candidate's
        // partition tuple, so deletes route into per-partition files and
        // later scans of other partitions never touch them. ONE pass: no
        // isEmpty probe (it would run the same predicate-matching scan
        // twice) — the writer opens a file only for a row, so a
        // predicate matching nothing writes no file and commits nothing
        val delFiles = TaskWrite.positionDeletes(spark, t, deletes,
          candidates.map(c => c.specId -> c.file))
        if (delFiles.isEmpty) t
        else t.commitSnapshot(PendingSnapshot(Operation.Delete,
          addedDeleteFiles = delFiles,
          // position deletes target these paths; a concurrent rewrite
          // of one must fail the rebase, not silently no-op the delete
          referencedDataPaths = candidates.map(_.file.filePath).toSet,
          partitionScope = PendingSnapshot.scopeOf(candidates)))
      }
    }

  /** Merge-on-read equality delete (T6 — the reference returns "not yet
    * fully implemented", `table/delete.go:494-501`): write the key
    * values; reads drop matching rows from OLDER sequence numbers. The
    * delete files are partition-scoped when the keys allow it (see
    * [[TaskWrite.equalityDeletes]]). `summary` entries land in the
    * delete snapshot's summary, as [[TableOps.append]]'s do. Empty
    * `keys` write no file and commit nothing. */
  def deleteByKeys(table: Table, spark: SparkSession, keys: DataFrame,
      summary: Map[String, String] = Map.empty): Table = {
    val delFiles = TaskWrite.equalityDeletes(spark, table, keys)
    if (delFiles.isEmpty) table
    else table.commitSnapshot(PendingSnapshot(Operation.Delete,
      addedDeleteFiles = delFiles, summaryExtra = summary))
  }

  /** CoW update (T7, `table/update.go:29-238`): rewrite candidates with
    * per-column `when(pred, value)` replacements. */
  def update(table: Table, spark: SparkSession, pred0: Expr,
      assignments: Map[String, Any]): Table =
    withConflictRetry(table) { t =>
      val pred = pred0.simplify
      val candidates = Scan(t, spark).filter(pred).planFiles()
      if (candidates.isEmpty) t
      else {
        var df = readCandidates(t, spark, candidates)
        val hit = matchFilter(pred)
        val sparkSchema = graft.spec.SchemaConverters.toSparkSchema(t.schema)
        assignments.foreach { case (name, value) =>
          val target = sparkSchema(name).dataType
          df = df.withColumn(name,
            when(hit, lit(value).cast(target)).otherwise(col(name)))
        }
        // rows stay in their file's partition unless a partition
        // source column is assigned
        val sources = t.spec.fields.flatMap(pf => t.schema.field(pf.sourceId))
          .map(_.name).toSet
        val newFiles = TaskWrite(spark, t, df,
          inPlace = !assignments.keys.exists(sources))
        t.commitSnapshot(replacing(Operation.Overwrite, newFiles, candidates))
      }
    }

  /** Per-key-column [min, max] of the incoming rows as a pruning
    * predicate: any file whose bounds lie wholly outside the incoming
    * key range cannot contain a matched row, so it survives untouched.
    * Sound because pruning is only ever an over-approximation — rows in
    * kept candidates that don't match a key survive the anti-join. */
  private def keyBoundsPrune(keysDf: DataFrame,
      keyColumns: Seq[String]): Option[Expr] = {
    val aggs = keyColumns.flatMap(c =>
      Seq(min(col(c)).as(s"__mn_$c"), max(col(c)).as(s"__mx_$c")))
    val row = keysDf.agg(aggs.head, aggs.tail: _*).collect().head
    val parts = keyColumns.zipWithIndex.flatMap { case (c, i) =>
      val (mn, mx) = (row.get(2 * i), row.get(2 * i + 1))
      if (mn == null || mx == null) None // empty/all-null incoming keys
      else Some(Col(c).between(mn, mx))
    }
    if (parts.isEmpty) None else Some(Expr.and(parts: _*))
  }

  /** Upsert / MERGE (T8/J1, `table/update.go:360-650`): key-matched
    * rows are replaced by the incoming row, unmatched incoming rows are
    * appended — as one join-based rewrite. The incoming side of the
    * anti-join is broadcast (it is usually the small side). */
  def upsert(table: Table, spark: SparkSession, incoming: DataFrame,
      keyColumns0: Seq[String]): Table =
    withConflictRetry(table)(upsertOnce(_, spark, incoming, keyColumns0))

  private def upsertOnce(table: Table, spark: SparkSession,
      incoming: DataFrame, keyColumns0: Seq[String]): Table = {
    // default to the schema's identifier fields (primary-key-ish,
    // spec/schema.go:25-31) when no explicit keys are given
    val keyColumns =
      if (keyColumns0.nonEmpty) keyColumns0
      else table.schema.identifierFieldIds
        .flatMap(id => table.schema.field(id)).map(_.name)
    require(keyColumns.nonEmpty,
      "upsert requires key columns (or schema identifier-field-ids)")
    val schemaCols = table.schema.columnNames
    val incomingAligned = incoming.select(schemaCols.map(col): _*)

    // candidate pruning: point-lookup In() when the key set is small;
    // otherwise (multi-column keys or large sets) prune by the incoming
    // keys' min/max per column against file bounds — one single-row agg
    // job, never a collect of raw keys, never a full-table rewrite
    val keysDf = incomingAligned.select(keyColumns.map(col): _*).distinct()
    val smallKeys: Option[Seq[Any]] =
      if (keyColumns.size == 1) {
        val values = keysDf.limit(10001).collect().map(_.get(0)).toSeq
        if (values.size <= 10000) Some(values) else None
      } else None
    val keyPrune: Option[Expr] = smallKeys match {
      case Some(values) => Some(In(keyColumns.head, values))
      case None => keyBoundsPrune(keysDf, keyColumns)
    }

    val scan = keyPrune.foldLeft(Scan(table, spark))(_ filter _)
    val candidates = scan.planFiles()

    // broadcast the key set only when provably small (we counted it);
    // a forced broadcast of an unbounded incoming side would OOM
    val keySide = if (smallKeys.isDefined) broadcast(keysDf) else keysDf
    val survivors =
      if (candidates.isEmpty) None
      else Some(readCandidates(table, spark, candidates)
        .join(keySide, keyColumns, "left_anti"))

    val merged = survivors match {
      case Some(s) => s.unionByName(incomingAligned)
      case None => incomingAligned
    }
    val newFiles = TaskWrite(spark, table, merged)
    table.commitSnapshot(replacing(Operation.Overwrite, newFiles, candidates))
  }

  /** Full overwrite (T2, `table/insert.go:173-182`): all live files
    * deleted, new content appended, one `overwrite` snapshot; `props`
    * are set in that same commit. */
  def overwrite(table: Table, spark: SparkSession, df: DataFrame,
      props: Map[String, String] = Map.empty): Table = {
    val allFiles = Scan(table, spark).planFiles().map(_.file.filePath)
    val newFiles = TaskWrite(spark, table, df)
    table.commitSnapshot(PendingSnapshot(Operation.Overwrite,
      addedDataFiles = newFiles,
      deletedFilePaths = allFiles.toSet), extraProps = props)
  }

  /** Selective overwrite (T3, `table/insert.go:40-46,185-252`): delete
    * rows matching the filter AND append `df`, atomically. */
  def overwriteWhere(table: Table, spark: SparkSession, pred0: Expr,
      df: DataFrame): Table =
    withConflictRetry(table) { t =>
      val pred = pred0.simplify
      val candidates = Scan(t, spark).filter(pred).planFiles()
      val rewritten =
        if (candidates.isEmpty) Nil
        else TaskWrite(spark, t, readCandidates(t, spark, candidates)
          .where(survivorFilter(pred)), inPlace = true)
      val appended = TaskWrite(spark, t, df)
      t.commitSnapshot(replacing(Operation.Overwrite, rewritten ++ appended,
        candidates))
    }
}

/** Fluent mutation facades (T9, `table/insert.go:300-368`,
  * `table/delete.go:503-547`, `table/update.go:307-356,652-686`). */
final class InsertBuilder(table: Table, spark: SparkSession) {
  private var data: Option[DataFrame] = None
  private var overwriteAll = false
  def withData(df: DataFrame): InsertBuilder = { data = Some(df); this }
  def withOverwrite(b: Boolean): InsertBuilder = { overwriteAll = b; this }
  def execute(): Table = {
    val df = data.getOrElse(throw new IllegalArgumentException("no data"))
    if (overwriteAll) Mutations.overwrite(table, spark, df)
    else TableOps.append(table, df)
  }
}

final class DeleteBuilder(table: Table, spark: SparkSession) {
  private var pred: Option[Expr] = None
  private var mor = false
  def where(e: Expr): DeleteBuilder = { pred = Some(e); this }
  /** CoW is the default mode (`config.go:36-44`). */
  def withMergeOnRead(b: Boolean): DeleteBuilder = { mor = b; this }
  def execute(): Table = {
    val p = pred.getOrElse(throw new IllegalArgumentException("no filter"))
    if (mor) Mutations.deleteMoR(table, spark, p)
    else Mutations.deleteCoW(table, spark, p)
  }
}

final class UpdateBuilder(table: Table, spark: SparkSession) {
  private var pred: Option[Expr] = None
  private val sets = Map.newBuilder[String, Any]
  def where(e: Expr): UpdateBuilder = { pred = Some(e); this }
  def set(column: String, value: Any): UpdateBuilder = {
    sets += column -> value; this
  }
  def execute(): Table = Mutations.update(table, spark,
    pred.getOrElse(AlwaysTrue), sets.result())
}

final class UpsertBuilder(table: Table, spark: SparkSession) {
  private var data: Option[DataFrame] = None
  private var keys: Seq[String] = Nil
  def withData(df: DataFrame): UpsertBuilder = { data = Some(df); this }
  def withKeyColumns(cols: String*): UpsertBuilder = { keys = cols; this }
  def execute(): Table = Mutations.upsert(table, spark,
    data.getOrElse(throw new IllegalArgumentException("no data")), keys)
}

/** BulkWriter (T10, `table/insert.go:370-461`): accumulates data files
  * across writes and commits one snapshot per `maxPendingFiles` batch;
  * abort() deletes orphaned files. */
final class BulkWriter(initial: Table, spark: SparkSession,
    maxPendingFiles: Int = 100) {
  private var table = initial
  private val pending = collection.mutable.Buffer[DataFile]()

  def write(df: DataFrame): BulkWriter = {
    pending ++= TaskWrite(spark, table, df)
    if (pending.size >= maxPendingFiles) flush()
    this
  }

  def flush(): BulkWriter = {
    if (pending.nonEmpty) {
      table = table.commitSnapshot(PendingSnapshot(Operation.Append,
        addedDataFiles = pending.toSeq))
      pending.clear()
    }
    this
  }

  def commit(): Table = { flush(); table }

  /** Delete uncommitted files (`table/insert.go:444-461`). */
  def abort(): Unit = {
    table.io.deleteFiles(pending.map(_.filePath.stripPrefix("file:")).toSeq)
    pending.clear()
  }

  def currentTable: Table = table
  def pendingCount: Int = pending.size
}
