package graft.sources

import java.util.UUID

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
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
  BatchWrite, DataWriter => V2DataWriter, DataWriterFactory,
  LogicalWriteInfo, PhysicalWriteInfo, RequiresDistributionAndOrdering,
  RowLevelOperation, RowLevelOperationBuilder, RowLevelOperationInfo,
  Write, WriteBuilder, WriterCommitMessage}
import org.apache.spark.sql.connector.write.RowLevelOperation.Command
import org.apache.spark.sql.graftshim.ParquetShim
import org.apache.spark.sql.sources
import org.apache.spark.sql.types.{LongType, StringType, StructType}
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.SerializableConfiguration

import graft.spec.{
  IcebergType, NullOrder, Operation, SchemaConverters, SortDirection,
  Transform => GTransform}
import graft.table.{
  DataWriter, Expr, FileScanTask, PartitionDirs, PendingSnapshot, Scan,
  Table, Transforms}

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
  *  - rewritten rows flow through executor-side parquet writers that
  *    fan out by partition tuple (Spark clusters input on the partition
  *    source columns first — see `requiredDistribution`), and the
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

/** Serializable per-partition-field routing spec for executor writers. */
private[sources] final case class PartFieldRoute(
    name: String,
    transform: GTransform,
    sourceName: String,
    sourceType: IcebergType)

private[sources] final case class GraftCowCommitMessage(
    paths: Seq[String]) extends WriterCommitMessage

private[sources] class GraftCowWrite(
    op: GraftRowLevelOperation, info: LogicalWriteInfo)
    extends Write with RequiresDistributionAndOrdering {

  private val table = op.pinned
  private val meta = table.metadata
  private val spec = meta.defaultPartitionSpec
  private val gschema = meta.currentSchema

  /** Cluster rewritten rows by the partition SOURCE columns so each
    * task's fan-out writer touches few partition tuples (identity
    * references only — no function catalog needed), then sort by the
    * table's declared sort order within tasks. */
  override def requiredDistribution(): Distribution =
    if (spec.isUnpartitioned) Distributions.unspecified()
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

  override def toBatch: BatchWrite = {
    val spark = SparkSession.active
    val stagingRoot = meta.location.stripSuffix("/") + "/data/" +
      UUID.randomUUID().toString
    val target = SchemaConverters.toSparkSchema(gschema)
    val (factory, conf) = ParquetShim.buildWriterFactory(spark, target)
    val routes = spec.fields.map { pf =>
      val src = gschema.field(pf.sourceId).getOrElse(
        throw new IllegalStateException(
          s"partition source field ${pf.sourceId} missing from schema"))
      PartFieldRoute(pf.name, pf.transform, src.name, src.fieldType)
    }
    new GraftCowBatchWrite(op, spark, stagingRoot, factory, conf,
      info.schema(), target, routes)
  }
}

private[sources] class GraftCowBatchWrite(
    op: GraftRowLevelOperation,
    spark: SparkSession,
    stagingRoot: String,
    factory: org.apache.spark.sql.execution.datasources.OutputWriterFactory,
    conf: SerializableConfiguration,
    inputSchema: StructType,
    targetSchema: StructType,
    routes: Seq[PartFieldRoute]) extends BatchWrite {

  override def createBatchWriterFactory(
      info: PhysicalWriteInfo): DataWriterFactory =
    new GraftCowWriterFactory(stagingRoot, factory, conf, inputSchema,
      targetSchema, routes)

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val table = op.pinned
    val meta = table.metadata
    val paths = messages.flatMap {
      case m: GraftCowCommitMessage => m.paths
      case other => throw new IllegalStateException(
        s"graft cow write: unexpected commit message $other")
    }.toSeq
    val replacedTasks =
      Option(op.cowScan).getOrElse(throw new IllegalStateException(
        "graft cow write: committed without a planned scan"))
        .currentTasks
    val replaced = replacedTasks.map(_.file.filePath).toSet
    if (paths.isEmpty && replaced.isEmpty) return // matched nothing
    val hconf = spark.sessionState.newHadoopConf()
    val nan =
      if (DataWriter.nanStatsEnabled(meta))
        DataWriter.nanCountsByPaths(spark, paths, meta.currentSchema)
      else Map.empty[String, Map[Int, Long]]
    val partType = meta.defaultPartitionSpec.partitionType(
      meta.currentSchema)
    val files = paths.groupBy(p =>
        p.stripPrefix(stagingRoot).split('/').dropRight(1).mkString("/"))
      .toSeq.flatMap { case (relDir, ps) =>
        DataWriter.harvestFiles(hconf, ps, meta.currentSchema,
          PartitionDirs.decodeSegments(relDir, partType), nan)
      }
    // scoped to the replaced files' partitions: the commit and its
    // rebase check decode only the manifests that can hold them
    table.commitSnapshot(PendingSnapshot(Operation.Overwrite,
      addedDataFiles = files,
      deletedFilePaths = replaced,
      partitionScope = PendingSnapshot.scopeOf(replacedTasks)))
    ()
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit = {
    val hconf = spark.sessionState.newHadoopConf()
    messages.foreach {
      case m: GraftCowCommitMessage => m.paths.foreach { p =>
        val hp = new org.apache.hadoop.fs.Path(p)
        try hp.getFileSystem(hconf).delete(hp, false)
        catch { case _: Exception => () }
      }
      case _ => ()
    }
  }
}

private[sources] class GraftCowWriterFactory(
    stagingRoot: String,
    factory: org.apache.spark.sql.execution.datasources.OutputWriterFactory,
    conf: SerializableConfiguration,
    inputSchema: StructType,
    targetSchema: StructType,
    routes: Seq[PartFieldRoute]) extends DataWriterFactory {

  override def createWriter(partitionId: Int,
      taskId: Long): V2DataWriter[InternalRow] =
    new GraftCowDataWriter(partitionId, taskId, stagingRoot, factory,
      conf, inputSchema, targetSchema, routes)
}

/** Executor writer: projects each row to the table schema by name
  * (dropping `_file` and any other metadata columns), evaluates the
  * partition transforms row-side ([[Transforms.applyToValue]] — the
  * same kernel the partitioned batch writer uses column-side), and fans
  * out one parquet writer per partition tuple. Input arrives clustered
  * on the partition source columns, so the per-task writer map stays
  * small. */
private[sources] class GraftCowDataWriter(
    partitionId: Int,
    taskId: Long,
    stagingRoot: String,
    factory: org.apache.spark.sql.execution.datasources.OutputWriterFactory,
    conf: SerializableConfiguration,
    inputSchema: StructType,
    targetSchema: StructType,
    routes: Seq[PartFieldRoute]) extends V2DataWriter[InternalRow] {

  private val targetOrdinals = targetSchema.fields.map { f =>
    val i = inputSchema.fieldNames.indexOf(f.name)
    if (i < 0) throw new IllegalStateException(
      s"graft cow write: column '${f.name}' missing from write input " +
        s"schema ${inputSchema.fieldNames.mkString(",")}")
    i
  }
  private val inputTypes = inputSchema.fields.map(_.dataType)
  private val routeOrdinals = routes.map { r =>
    val i = inputSchema.fieldNames.indexOf(r.sourceName)
    if (i < 0) throw new IllegalStateException(
      s"graft cow write: partition source '${r.sourceName}' missing " +
        "from write input")
    i
  }

  private val writers = scala.collection.mutable.HashMap.empty[
    String, org.apache.spark.sql.execution.datasources.OutputWriter]
  private val paths = Seq.newBuilder[String]
  private var fileSeq = 0

  /** Internal value → the JVM shape [[Transforms.applyToValue]] expects. */
  private def jvmValue(v: Any): Any = v match {
    case s: UTF8String => s.toString
    case d: org.apache.spark.sql.types.Decimal => d.toJavaBigDecimal
    case other => other
  }

  private def encodeSeg(name: String, v: Any): String = {
    val raw =
      if (v == null) "__HIVE_DEFAULT_PARTITION__"
      else java.net.URLEncoder.encode(v.toString, "UTF-8")
    s"__p_$name=$raw"
  }

  private def relDirFor(row: InternalRow): String =
    routes.indices.map { i =>
      val r = routes(i)
      val o = routeOrdinals(i)
      val v =
        if (row.isNullAt(o)) null
        else jvmValue(row.get(o, inputTypes(o)))
      val transformed =
        if (v == null) null
        else Transforms.applyToValue(r.transform, v, r.sourceType).orNull
      encodeSeg(r.name, transformed)
    }.mkString("/")

  override def write(row: InternalRow): Unit = {
    val rel = relDirFor(row)
    val w = writers.getOrElseUpdate(rel, {
      val dir = if (rel.isEmpty) stagingRoot else s"$stagingRoot/$rel"
      val path = s"$dir/part-$partitionId-$taskId-$fileSeq.parquet"
      fileSeq += 1
      paths += path
      ParquetShim.newOutputWriter(factory, conf.value, path, targetSchema,
        partitionId, taskId.toInt & 0x7fffffff)
    })
    val vals = new Array[Any](targetOrdinals.length)
    var i = 0
    while (i < vals.length) {
      val o = targetOrdinals(i)
      vals(i) = if (row.isNullAt(o)) null else row.get(o, inputTypes(o))
      i += 1
    }
    w.write(new org.apache.spark.sql.catalyst.expressions
      .GenericInternalRow(vals))
  }

  override def commit(): WriterCommitMessage = {
    writers.values.foreach(_.close())
    writers.clear()
    GraftCowCommitMessage(paths.result())
  }

  override def abort(): Unit = {
    writers.values.foreach(w => try w.close() catch {
      case _: Exception => ()
    })
    writers.clear()
    val hconf = conf.value
    paths.result().foreach { p =>
      val hp = new org.apache.hadoop.fs.Path(p)
      try hp.getFileSystem(hconf).delete(hp, false)
      catch { case _: Exception => () }
    }
  }

  override def close(): Unit =
    writers.values.foreach(w => try w.close() catch {
      case _: Exception => ()
    })
}
