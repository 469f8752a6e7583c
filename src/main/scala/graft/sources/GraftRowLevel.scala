package graft.sources

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.connector.catalog.MetadataColumn
import org.apache.spark.sql.connector.distributions.{
  Distribution, Distributions}
import org.apache.spark.sql.connector.expressions.{
  Expressions, NamedReference, SortOrder => V2SortOrder,
  SortDirection => V2SortDirection, NullOrdering => V2NullOrdering}
import org.apache.spark.sql.connector.expressions.filter.Predicate
import org.apache.spark.sql.connector.read.{
  Batch, InputPartition, PartitionReaderFactory, Scan => V2Scan,
  ScanBuilder, SupportsPushDownFilters, SupportsPushDownRequiredColumns,
  SupportsRuntimeV2Filtering}
import org.apache.spark.sql.connector.write.{
  BatchWrite, LogicalWriteInfo, RequiresDistributionAndOrdering,
  RowLevelOperation, Write, WriteBuilder}
import org.apache.spark.sql.connector.write.RowLevelOperation.Command
import org.apache.spark.sql.sources
import org.apache.spark.sql.types.{LongType, StringType, StructType}

import graft.spec.{
  DataFile, NullOrder, Operation, SchemaConverters, SortDirection}
import graft.table.{Expr, FileScanTask, PendingSnapshot, Scan, Table}

/** Metadata columns the graft source synthesizes per row: `_file` on
  * every read, `_pos` (the row's position in its data file) on
  * table-layer task reads. */
private[sources] object GraftMetaColumns {
  val FileName = "_file"
  val PosName = "_pos"
  val FileField: org.apache.spark.sql.types.StructField =
    org.apache.spark.sql.types.StructField(FileName, StringType,
      nullable = false)
  val PosField: org.apache.spark.sql.types.StructField =
    org.apache.spark.sql.types.StructField(PosName, LongType,
      nullable = false)

  private def column(f: org.apache.spark.sql.types.StructField,
      doc: String): MetadataColumn = new MetadataColumn {
    override def name(): String = f.name
    override def dataType(): org.apache.spark.sql.types.DataType =
      f.dataType
    override def isNullable: Boolean = false
    override def comment(): String = doc
  }
  val Columns: Array[MetadataColumn] =
    Array(column(FileField, "data file path of the row"))
  val WithPos: Array[MetadataColumn] =
    Columns :+ column(PosField, "position of the row in its data file")
}

/** Group-based copy-on-write row-level operations: `UPDATE`, `MERGE
  * INTO`, and `DELETE FROM` with predicates too rich for the metadata
  * path — the SQL face of [[graft.table.Mutations]] (update.go /
  * delete.go / upsert semantics), planned and executed by Spark's
  * RewriteUpdateTable / RewriteMergeIntoTable / RewriteDeleteFromTable.
  *
  * Scale design, mirroring Iceberg's Spark integration:
  *  - the scan prunes STATICALLY with the command's own condition
  *    (GroupBasedRowLevelOperationScanPlanning pushes it), which is
  *    sound for group determination — a pruned-away file provably holds
  *    no matches, so it neither rewrites nor gets replaced;
  *  - at runtime, Spark builds a DynamicPruning subquery over the
  *    MATCHED rows' `_file` metadata column and hands the distinct file
  *    set to [[GraftCowScan.filter]] — only files that actually contain
  *    matches are rewritten (`SupportsRuntimeV2Filtering`). An UPDATE
  *    touching 3 files of a million-file table rewrites 3 files;
  *  - rewritten rows flow through the engine's one file writer
  *    ([[GraftFileWriter]]), which fans out by partition tuple (Spark
  *    clusters input on the partition source columns first — see
  *    `requiredDistribution`) and counts NaNs as it writes, and the
  *    commit replaces exactly the scanned files in one atomic
  *    `overwrite` snapshot with full conflict validation.
  *
  * The scan applies MoR deletes, so rewritten content never resurrects
  * rows; replaced files' old position deletes die with their targets and
  * equality deletes stop applying because the rewrite carries a higher
  * sequence number.
  */
private[sources] class GraftRowLevelOperation(
    gtable: Table, cmd: Command) extends RowLevelOperation {

  /** One snapshot pin shared by the scan and the commit. */
  private[sources] val pinned: Table =
    try gtable.refresh() catch { case _: Exception => gtable }

  @volatile private[sources] var cowScan: GraftCowScan = _

  override def command(): Command = cmd

  override def newScanBuilder(
      options: org.apache.spark.sql.util.CaseInsensitiveStringMap)
      : ScanBuilder = new GraftCowScanBuilder(this)

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new WriteBuilder {
      override def build(): Write = new GraftCowWrite(
        GraftRowLevelOperation.this, info)
    }

  override def requiredMetadataAttributes(): Array[NamedReference] =
    Array(Expressions.column(GraftMetaColumns.FileName))

  override def description(): String =
    s"graft-cow-$cmd:${(pinned.id.namespace :+ pinned.id.name).mkString(".")}"
}

private[sources] class GraftCowScanBuilder(op: GraftRowLevelOperation)
    extends ScanBuilder
    with SupportsPushDownFilters with SupportsPushDownRequiredColumns {

  private val full: StructType =
    SchemaConverters.toSparkSchema(op.pinned.schema)
  private var required: StructType = full
  private var emitFile = false
  private var pushedExpr: Option[Expr] = None
  private var accepted: Array[sources.Filter] = Array.empty

  override def pushFilters(
      filters: Array[sources.Filter]): Array[sources.Filter] = {
    val converted = filters.map(f => f -> FilterToExpr(f))
    accepted = converted.collect { case (f, Some(_)) => f }
    pushedExpr = converted.flatMap(_._2).reduceOption(_ and _)
    filters
  }
  override def pushedFilters(): Array[sources.Filter] = accepted

  override def pruneColumns(requiredSchema: StructType): Unit = {
    emitFile =
      requiredSchema.fieldNames.contains(GraftMetaColumns.FileName)
    required = StructType(
      requiredSchema.fields.filter(f => full.fieldNames.contains(f.name)))
  }

  override def build(): V2Scan = {
    val scan = new GraftCowScan(op, full, required, pushedExpr, emitFile)
    op.cowScan = scan
    scan
  }
}

/** The COW read: plans matched-candidate files once against the pinned
  * snapshot, then narrows to the runtime-matched file set. The final
  * task list IS the replaced-file set at commit. */
private[sources] class GraftCowScan(
    op: GraftRowLevelOperation,
    full: StructType,
    required: StructType,
    pushed: Option[Expr],
    emitFile: Boolean) extends V2Scan with Batch
    with SupportsRuntimeV2Filtering {

  private def spark: SparkSession = SparkSession.active

  /** Static candidates: files the command condition cannot rule out. */
  private lazy val candidates: Seq[FileScanTask] =
    pushed.foldLeft(Scan(op.pinned, spark))(_ filter _).planFiles()

  @volatile private var runtimeKeep: Option[Set[String]] = None

  private[sources] def currentTasks: Seq[FileScanTask] =
    runtimeKeep match {
      case Some(keep) => candidates.filter(t => keep(t.file.filePath))
      case None => candidates
    }

  override def filterAttributes(): Array[NamedReference] =
    Array(Expressions.column(GraftMetaColumns.FileName))

  /** Runtime group filtering: Spark hands `IN (_file, p1..pn)` built
    * from the distinct files of actually-matching rows. Unparseable
    * predicates are ignored (keep-all is always sound). */
  override def filter(predicates: Array[Predicate]): Unit = {
    val sets = predicates.flatMap(inFileSet)
    if (sets.nonEmpty) runtimeKeep = Some(sets.flatten.toSet)
  }

  private def inFileSet(p: Predicate): Option[Seq[String]] =
    if (p.name() != "IN" || p.children().isEmpty) None
    else p.children().head match {
      case r: NamedReference
          if r.fieldNames().sameElements(
            Array(GraftMetaColumns.FileName)) =>
        Some(p.children().tail.toSeq.collect {
          case l: org.apache.spark.sql.connector.expressions.Literal[_]
              if l.value() != null => l.value().toString
        })
      case _ => None
    }

  override def readSchema(): StructType =
    if (emitFile) StructType(required.fields :+ GraftMetaColumns.FileField)
    else required

  override def description(): String =
    s"graft-cow:${(op.pinned.id.namespace :+ op.pinned.id.name)
      .mkString(".")} pushed=[${pushed.getOrElse("")}]"

  override def toBatch: Batch = this

  /** No caching across `filter` — BatchScanExec replans after runtime
    * filtering. */
  override def planInputPartitions(): Array[InputPartition] =
    BatchPlanning.partitions(op.pinned, currentTasks)

  /** filters = Nil is REQUIRED here: a copy-on-write rewrite reads every
    * row of each matched file (non-matching rows are copied through) —
    * parquet row-group skipping on the command condition would drop the
    * rows that must be preserved. File-level pruning via `pushed`
    * already happened in [[candidates]]. */
  override def createReaderFactory(): PartitionReaderFactory =
    BatchPlanning.readerFactory(spark, op.pinned, currentTasks, full,
      required, emitFile, filters = Nil)
}

private[sources] class GraftCowWrite(
    op: GraftRowLevelOperation, info: LogicalWriteInfo)
    extends Write with RequiresDistributionAndOrdering {

  private val table = op.pinned
  private val meta = table.metadata
  private val spec = meta.defaultPartitionSpec
  private val gschema = meta.currentSchema

  /** `UPDATE` and `MERGE` cluster rewritten rows by the partition
    * SOURCE columns so each task's fan-out writer touches few partition
    * tuples (identity references only — no function catalog needed).
    * A `DELETE` needs no exchange: each scan task holds one replaced
    * file's rows and no row changes partition, so its tasks write at
    * most one file per replaced file and tuple. Rows are then sorted by
    * the table's declared sort order within tasks. */
  override def requiredDistribution(): Distribution =
    if (spec.isUnpartitioned || op.command() == Command.DELETE)
      Distributions.unspecified()
    else Distributions.clustered(
      sourceNames.map(n => Expressions.identity(n)
        : org.apache.spark.sql.connector.expressions.Expression).toArray)

  override def requiredOrdering(): Array[V2SortOrder] = {
    val partOrder = sourceNames.map(n =>
      Expressions.sort(Expressions.column(n),
        V2SortDirection.ASCENDING))
    val declared = meta.defaultSortOrder.fields.flatMap { sf =>
      gschema.field(sf.sourceId).map { f =>
        val dir =
          if (sf.direction == SortDirection.Asc)
            V2SortDirection.ASCENDING
          else V2SortDirection.DESCENDING
        val nulls =
          if (sf.nullOrder == NullOrder.NullsFirst)
            V2NullOrdering.NULLS_FIRST
          else V2NullOrdering.NULLS_LAST
        Expressions.sort(Expressions.column(f.name), dir, nulls)
      }
    }
    (partOrder ++ declared).toArray
  }

  private def sourceNames: Seq[String] =
    spec.fields.flatMap(pf => gschema.field(pf.sourceId)).map(_.name)
      .distinct

  override def description(): String =
    s"graft-write:${(table.id.namespace :+ table.id.name).mkString(".")}"

  /** The rewritten rows go through the engine's one file writer
    * ([[GraftFileBatchWrite]]), fanning out: rows are sorted by partition
    * SOURCE values, and a bucket tuple's rows need not be contiguous in
    * that order. Its commit replaces exactly the scanned files with the
    * written ones, scoped to the replaced files' partitions so the
    * commit and its rebase check decode only the manifests that can
    * hold them. */
  override def toBatch: BatchWrite =
    new GraftFileBatchWrite(meta, info.schema(), 0L, clustered = false)(
      commitRewrite)

  private def commitRewrite(files: Seq[DataFile]): Unit = {
    val replaced = Option(op.cowScan).getOrElse(throw new IllegalStateException(
      "graft cow write: committed without a planned scan")).currentTasks
    if (files.nonEmpty || replaced.nonEmpty)
      table.commitSnapshot(PendingSnapshot(Operation.Overwrite,
        addedDataFiles = files,
        deletedFilePaths = replaced.map(_.file.filePath).toSet,
        partitionScope = PendingSnapshot.scopeOf(replaced)))
  }
}
