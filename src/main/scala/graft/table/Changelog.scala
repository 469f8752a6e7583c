package graft.table

import scala.collection.immutable.ArraySeq

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.TaskRead
import graft.spec._

/** CDC / changelog reads: every row-level change committed by the
  * snapshots in `(fromExclusive, toInclusive]`, tagged with
  * `_change_type` (INSERT | DELETE), `_change_ordinal` (position of the
  * committing snapshot in the range) and `_commit_snapshot_id`.
  *
  * This is the mutation-aware completion of the incremental append scan
  * (`Scan.appendsBetween`, reference `table/scan.go:202-231`): where the
  * append scan must reject overwrite snapshots, the changelog resolves
  * them — Iceberg's changelog-scan / `create_changelog_view` surface.
  *
  * Per snapshot, changes are derived from MANIFEST DIFFS, not table
  * diffs, so cost is proportional to the data each commit touched:
  *
  *  - `Added` data entries → INSERT rows (read with any same-snapshot
  *    delete files attached, exactly as a scan of that snapshot would).
  *  - `Deleted` data entries (CoW delete / overwrite / upsert) → DELETE
  *    rows, read AS VISIBLE AT THE PARENT snapshot — MoR delete files
  *    that already applied to the removed file are honored, so a
  *    row deleted twice is never emitted twice.
  *  - Added position/equality DELETE FILES (MoR commits) → the rows
  *    they kill: parent-visible rows of the targeted data files minus
  *    still-visible rows (`exceptAll` over only the affected files).
  *  - `replace` (compaction / rewrite) snapshots carry no logical
  *    change and are skipped.
  *
  * At 100 TB the expensive alternative — diffing two full table scans
  * per snapshot — is never planned: every read above is restricted to
  * the files the commit added, removed, or targeted.
  */
object Changelog {
  val ChangeType = "_change_type"
  val ChangeOrdinal = "_change_ordinal"
  val CommitSnapshotId = "_commit_snapshot_id"
  val Insert = "INSERT"
  val Delete = "DELETE"
  val UpdateBefore = "UPDATE_BEFORE"
  val UpdateAfter = "UPDATE_AFTER"

  /** All changes committed by snapshots in `(fromExclusive, to]` along
    * the parent chain of `to`. `fromExclusive` must be an ancestor of
    * `to` (same contract as `Scan.appendsBetween`). */
  def between(table: Table, spark: SparkSession,
      fromExclusive: Long, toInclusive: Long): DataFrame = {
    val to = table.snapshotById(toInclusive).getOrElse(
      throw new IllegalArgumentException(s"unknown snapshot $toInclusive"))
    val schema = to.schemaId.flatMap(table.metadata.schemaById)
      .getOrElse(table.schema)
    val chain = ancestorChain(table, to, fromExclusive)
    val parts = chain.zipWithIndex.flatMap { case (s, ordinal) =>
      snapshotChanges(table, spark, schema, s, ordinal)
    }
    parts.reduceOption(_ unionAll _).getOrElse {
      tag(TaskRead(spark, table, schema, Nil), Insert, -1, -1L).limit(0)
    }
  }

  /** Collapse a changelog to its NET effect (Iceberg's `net_changes`):
    * a row inserted then deleted inside the range disappears; a row
    * whose multiset count changed by n yields |n| rows of the surviving
    * change type, stamped with the LAST ordinal/snapshot that touched
    * it. Exact multiset semantics — n identical inserts net n rows. */
  def netChanges(changes: DataFrame): DataFrame = {
    val dataCols = changes.columns.filterNot(
      Set(ChangeType, ChangeOrdinal, CommitSnapshotId))
    val keyCols = groupableKeys(changes, dataCols)
    val carried = dataCols.toSeq.map(n => first(col(n)).as(n))
    changes
      .groupBy(keyCols: _*)
      .agg(carried.head, (carried.tail :+
        sum(when(col(ChangeType) === Insert, 1L).otherwise(-1L))
          .as("__net") :+
        max(col(ChangeOrdinal)).as(ChangeOrdinal) :+
        max_by(col(CommitSnapshotId), col(ChangeOrdinal))
          .as(CommitSnapshotId)): _*)
      .where(col("__net") =!= 0L)
      .withColumn(ChangeType,
        when(col("__net") > 0L, Insert).otherwise(Delete))
      .withColumn("__dup",
        explode(array_repeat(lit(1), abs(col("__net")).cast("int"))))
      .drop("__net", "__dup")
      .select((ArraySeq.unsafeWrapArray(dataCols.map(col)) :+
        col(ChangeType) :+ col(ChangeOrdinal) :+
        col(CommitSnapshotId)): _*)
  }

  /** Drop carry-overs (Iceberg's `ChangelogIterator.removeCarryovers`):
    * a CoW rewrite emits every SURVIVING row of a rewritten file as
    * DELETE + identical INSERT in the same commit — noise, not change.
    * Within each ordinal, n identical DELETEs and m identical INSERTs
    * collapse to |n-m| rows of the majority type (usually zero). */
  def removeCarryovers(changes: DataFrame): DataFrame = {
    val dataCols = changes.columns.filterNot(
      Set(ChangeType, ChangeOrdinal, CommitSnapshotId))
    val keyCols = groupableKeys(changes, dataCols) :+
      col(ChangeOrdinal) :+ col(CommitSnapshotId)
    val carried = dataCols.toSeq.map(n => first(col(n)).as(n))
    changes
      .groupBy(keyCols: _*)
      .agg(carried.head, (carried.tail :+
        sum(when(col(ChangeType) === Insert, 1L).otherwise(0L))
          .as("__i") :+
        sum(when(col(ChangeType) === Delete, 1L).otherwise(0L))
          .as("__d")): _*)
      .withColumn("__net", col("__i") - col("__d"))
      .where(col("__net") =!= 0L)
      .withColumn(ChangeType,
        when(col("__net") > 0L, Insert).otherwise(Delete))
      .withColumn("__dup",
        explode(array_repeat(lit(1), abs(col("__net")).cast("int"))))
      .select((ArraySeq.unsafeWrapArray(dataCols.map(col)) :+
        col(ChangeType) :+ col(ChangeOrdinal) :+ col(CommitSnapshotId)): _*)
  }

  /** Group-by keys over the data columns that tolerate unorderable
    * (map-typed) columns: an orderable column groups by itself; a map
    * groups by its [[canonicalized]] form (key-sorted entry arrays —
    * orderable, collision-free, and equal for physically reordered but
    * equal maps). Keys are aliased `__gk*` so the original columns can
    * ride alongside as `first(...)` aggregates without name clashes —
    * `first` is well-defined because every row in a group carries a
    * canonically-equal value. */
  private def groupableKeys(changes: DataFrame,
      dataCols: Array[String]): Seq[Column] = {
    import org.apache.spark.sql.catalyst.expressions.RowOrdering
    dataCols.toSeq.zipWithIndex.map { case (n, i) =>
      val dt = changes.schema(n).dataType
      val k = if (RowOrdering.isOrderable(dt)) col(n)
        else canonicalized(col(n), dt)
      k.as(s"__gk$i")
    }
  }

  /** Multiset EXCEPT ALL that tolerates unorderable (map) columns —
    * `DataFrame.exceptAll` rejects maps outright. Orderable schemas
    * delegate to the built-in; otherwise rows pair up by their
    * canonical form with per-duplicate occurrence numbers and the
    * unmatched left occurrences survive (exact multiset semantics:
    * n left copies minus m right copies leaves n − m rows). */
  private[table] def exceptAllCanonical(left: DataFrame,
      right: DataFrame): DataFrame = {
    import org.apache.spark.sql.catalyst.expressions.RowOrdering
    val unorderable = left.schema.fields.exists(f =>
      !RowOrdering.isOrderable(f.dataType))
    if (!unorderable) return left.exceptAll(right)
    import org.apache.spark.sql.expressions.Window
    val names = left.columns
    def keyed(df: DataFrame): DataFrame = {
      val keys = groupableKeys(df, names)
      val withKeys = df.select((names.map(col) ++ keys): _*)
      val keyNames = keys.indices.map(i => s"__gk$i")
      withKeys.withColumn("__occ", row_number().over(
        Window.partitionBy(keyNames.map(col): _*).orderBy(lit(1))))
    }
    val keyNames = names.indices.map(i => s"__gk$i") :+ "__occ"
    keyed(left).join(keyed(right), keyNames, "left_anti")
      .select(names.map(col): _*)
  }

  /** Canonical form for the order surrogate: maps become key-sorted
    * entry arrays AT EVERY NESTING LEVEL (top-level, inside structs,
    * arrays, and other maps' values), so physically reordered but
    * equal values hash identically. After the rewrite every map has
    * become an array of structs, so the whole value is orderable and
    * `array_sort`'s struct comparison is well-defined. */
  private[table] def canonicalized(
      c: Column, dt: org.apache.spark.sql.types.DataType): Column = {
    import org.apache.spark.sql.types.{ArrayType, MapType,
      StructType => SqlStructType}
    dt match {
      case m: MapType =>
        array_sort(transform(map_entries(c), e => struct(
          canonicalized(e.getField("key"), m.keyType).as("key"),
          canonicalized(e.getField("value"), m.valueType).as("value"))))
      case a: ArrayType =>
        transform(c, x => canonicalized(x, a.elementType))
      case s: SqlStructType =>
        // struct(getField...) of a NULL parent would build a NON-null
        // struct of nulls, collapsing NULL and all-null-fields into one
        // surrogate — keep null null so the two stay distinguishable
        when(c.isNull, lit(null)).otherwise(
          struct(s.fields.toSeq.map(f =>
            canonicalized(c.getField(f.name), f.dataType).as(f.name)): _*))
      case _ => c
    }
  }

  /** Pair same-commit DELETE + INSERT rows sharing `identifierCols`
    * into UPDATE_BEFORE / UPDATE_AFTER (Iceberg's `compute_updates`).
    * Unpaired rows keep their original change type; run
    * [[removeCarryovers]] first or rewrite churn will pair too. */
  def withUpdates(changes: DataFrame,
      identifierCols: Seq[String]): DataFrame = {
    require(identifierCols.nonEmpty, "identifier columns required")
    import org.apache.spark.sql.expressions.Window
    val grain = (identifierCols.map(col) :+ col(ChangeOrdinal)).toList
    // Pairing must be deterministic: with multiple changes to one key in
    // one commit, ordering the per-side row_number by the identifier
    // columns (constant within the partition) leaves BEFORE/AFTER value
    // assignment to shuffle order. Order by the NON-identifier data
    // columns — a total order on row content, stable across runs (exact
    // duplicates are interchangeable, so ties there are harmless).
    // Unorderable (map-typed) columns can't appear in ORDER BY; dropping
    // them would silently reintroduce nondeterminism for rows differing
    // ONLY in a map, so they order by a deterministic surrogate instead:
    // xxhash64 over canonical JSON, entries key-sorted for top-level
    // maps so physically re-ordered but equal maps still tie.
    import org.apache.spark.sql.catalyst.expressions.RowOrdering
    val nonId = changes.columns
      .filterNot(Set(ChangeType, ChangeOrdinal, CommitSnapshotId))
      .filterNot(identifierCols.contains)
    val sideOrderCols = nonId.toSeq.map { n =>
      val dt = changes.schema(n).dataType
      if (RowOrdering.isOrderable(dt)) col(n)
      else xxhash64(to_json(struct(canonicalized(col(n), dt))))
    }
    val sideOrder = if (sideOrderCols.nonEmpty) sideOrderCols
      else identifierCols.map(col)
    val side = Window.partitionBy((grain :+ col(ChangeType)): _*)
      .orderBy(sideOrder: _*)
    val whole = Window.partitionBy(grain: _*)
    val paired = least(
      sum(when(col(ChangeType) === Insert, 1L).otherwise(0L)).over(whole),
      sum(when(col(ChangeType) === Delete, 1L).otherwise(0L)).over(whole))
    changes
      .withColumn("__rn", row_number().over(side))
      .withColumn("__p", paired)
      .withColumn(ChangeType,
        when(col(ChangeType) === Delete && col("__rn") <= col("__p"),
          UpdateBefore)
        .when(col(ChangeType) === Insert && col("__rn") <= col("__p"),
          UpdateAfter)
        .otherwise(col(ChangeType)))
      .drop("__rn", "__p")
  }

  // ------------------------------------------------------------------

  /** Oldest→newest snapshots in `(fromExclusive, to]`; loud on expired
    * or non-ancestor `fromExclusive` (mirrors `Scan.planIncremental`). */
  private def ancestorChain(table: Table, to: Snapshot,
      fromExclusive: Long): Seq[Snapshot] = {
    if (to.snapshotId == fromExclusive) return Nil
    val chain = List.newBuilder[Snapshot]
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
    chain.result().reverse
  }

  /** The INSERT / DELETE parts contributed by one snapshot. */
  private def snapshotChanges(table: Table, spark: SparkSession,
      schema: Schema, s: Snapshot, ordinal: Int): Seq[DataFrame] = {
    val op = s.summary.map(_.operation).getOrElse(Operation.Append)
    if (op == Operation.Replace) return Nil // rewrite, no logical change

    // delete FILES added by this commit come from its delete manifests
    // (manifest-rewrites drop removed DATA entries rather than keeping
    // Deleted tombstones, so data-file adds/removals are diffed from
    // the two plans below instead)
    val newDeleteFiles = table.manifestList(s)
      .filter(mf => mf.content == ManifestContent.Deletes &&
        mf.addedSnapshotId == s.snapshotId)
      .flatMap(mf => table.readManifest(mf).addedEntries
        .filter(_.snapshotId.forall(_ == s.snapshotId))
        .map(_.dataFile.filePath)).toSet

    // planFiles of s / parent attach exactly the delete files a reader
    // of that snapshot would see — visibility is delegated wholesale
    val sTasks =
      Scan(table, spark).useSnapshot(s.snapshotId).planFiles()
    val parentTasks = s.parentSnapshotId
      .map(p => Scan(table, spark).useSnapshot(p).planFiles())
      .getOrElse(Nil)
    val parentPaths = parentTasks.map(_.file.filePath).toSet
    val sPaths = sTasks.map(_.file.filePath).toSet
    val addedPaths = sPaths diff parentPaths
    val removedPaths = parentPaths diff sPaths

    val inserts =
      if (addedPaths.isEmpty) Nil
      else Seq(tag(TaskRead(spark, table, schema,
        sTasks.filter(t => addedPaths(t.file.filePath))),
        Insert, ordinal, s.snapshotId))

    val cowDeletes =
      if (removedPaths.isEmpty) Nil
      else Seq(tag(TaskRead(spark, table, schema,
        parentTasks.filter(t => removedPaths(t.file.filePath))),
        Delete, ordinal, s.snapshotId))

    // MoR: rows killed by THIS commit's delete files = parent-visible
    // rows of the targeted data files minus their still-visible rows
    val morDeletes =
      if (newDeleteFiles.isEmpty) Nil
      else {
        val affected = sTasks
          .filter(_.deleteFiles.exists(d => newDeleteFiles(d.file.filePath)))
          .map(_.file.filePath).toSet
        if (affected.isEmpty) Nil
        else {
          val before = TaskRead(spark, table, schema,
            parentTasks.filter(t => affected(t.file.filePath)))
          val after = TaskRead(spark, table, schema,
            sTasks.filter(t => affected(t.file.filePath)))
          Seq(tag(exceptAllCanonical(before, after), Delete, ordinal,
            s.snapshotId))
        }
      }

    inserts ++ cowDeletes ++ morDeletes
  }

  private def tag(df: DataFrame, tpe: String, ordinal: Int,
      snapshotId: Long): DataFrame =
    df.withColumn(ChangeType, lit(tpe))
      .withColumn(ChangeOrdinal, lit(ordinal))
      .withColumn(CommitSnapshotId, lit(snapshotId))
}
