package graft.sources

import java.util.{Set => JSet, UUID}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
import org.apache.spark.sql.catalyst.expressions.{
  BoundReference, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.AppendData
import org.apache.spark.sql.connector.catalog.{
  SupportsWrite, Table => ConnectorTable, TableCapability}
import org.apache.spark.sql.connector.write.{
  BatchWrite, DataWriter => V2DataWriter, DataWriterFactory,
  LogicalWriteInfo, PhysicalWriteInfo, Write, WriteBuilder,
  WriterCommitMessage}
import org.apache.spark.sql.execution.datasources.{
  OutputWriter, OutputWriterFactory}
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
import org.apache.spark.sql.functions.{col, udf}
import org.apache.spark.sql.graftshim.{Bridge, ParquetShim}
import org.apache.spark.sql.types.{
  DataType, DoubleType => SDouble, FloatType => SFloat, StructType}
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.SerializableConfiguration

import graft.spec.{
  DataFile, FileContent, IcebergType, ManifestContent, NullOrder,
  SortDirection, SortField, TableMetadata, Transform => GTransform}
import graft.table.{DataWriter, PartitionDirs, Table, Transforms}

/** The table layer's write executor, the mirror of [[TaskRead]]: rows
  * go through [[GraftFileWriter]], the executor-side writer SQL
  * row-level rewrites use too, and come back as the [[DataFile]]s it
  * wrote — data files with their column stats ([[apply]]), or position-
  * or equality-delete files ([[positionDeletes]], [[equalityDeletes]]).
  * The caller commits them.
  *
  * Data rows are sorted within tasks by partition tuple, then
  * `extraSortCols` (transient keys such as z-order's, never written),
  * then the table's declared sort order; an unpartitioned table with
  * neither writes `df` as it comes. On a partitioned table the rows are
  * first clustered by tuple through an exchange (one task per tuple, so
  * no small-file explosion) — unless `inPlace`. `maxRecordsPerFile > 0`
  * rolls each task's output to a new file every that many rows.
  *
  * `inPlace` is for copy-on-write rewrites whose `df` is a [[TaskRead]]
  * of the replaced files (one input partition per file) with no row
  * moving to another partition tuple: each task already holds one
  * file's rows, so the exchange is skipped and the rewrite writes at
  * most one file per replaced file — never more files than it replaces.
  * The writer still routes every row by the current spec, so a file
  * written under an older spec is re-partitioned correctly (one file
  * per current tuple its rows fall in). Appends, upserts and other
  * writes of new rows keep the exchange.
  *
  * Every entry point sorts each task's rows by their partition
  * directory first, so the writer keeps one file open at a time. */
private[graft] object TaskWrite {
  private[sources] val PartPrefix = "__p_"
  /** A position delete's partition directory, looked up from its
    * `file_path` ahead of the writer. */
  private[sources] val DirCol = "__dir"

  def apply(spark: SparkSession, table: Table, df: DataFrame,
      extraSortCols: Seq[(String, Column)] = Nil,
      maxRecordsPerFile: Long = 0L,
      inPlace: Boolean = false): Seq[DataFile] = {
    val meta = table.metadata
    val schema = meta.currentSchema
    // Fail loud on frames that don't fit the table: an unknown column
    // (typo) would land in the parquet bytes and silently null-fill
    // the real column at read; a missing REQUIRED column would
    // null-fill a NOT NULL field. Missing OPTIONAL columns are fine
    // (Iceberg semantics: readers null-fill by field id).
    val have = df.columns.map(c => c.toLowerCase -> c).toMap
    val known = schema.fields.map(_.name.toLowerCase).toSet
    val unknown = df.columns.filterNot(c => known.contains(c.toLowerCase))
    val missingReq = schema.fields
      .filter(f => f.required && !have.contains(f.name.toLowerCase))
    if (unknown.nonEmpty || missingReq.nonEmpty)
      throw new IllegalArgumentException(
        s"graft: DataFrame does not fit table schema — " +
          (if (unknown.nonEmpty)
            s"unknown columns: ${unknown.mkString(", ")}; " else "") +
          (if (missingReq.nonEmpty)
            s"missing required columns: ${missingReq.map(_.name)
              .mkString(", ")}; " else "") +
          s"table columns: ${schema.fields.map(_.name).mkString(", ")}")

    // the table's columns under the table's names, as typed in `df`
    val data = schema.fields.flatMap(f => have.get(f.name.toLowerCase)
      .map(c => df.col(quoted(c)).as(f.name)))
    val spec = meta.defaultPartitionSpec
    val parts = partColumns(meta, df)
    val extras = extraSortCols.map { case (n, c) => c.as(n) }
    val sortCols = meta.defaultSortOrder.fields.flatMap(sf =>
      schema.field(sf.sourceId).map(f => sortColumn(sf, f.name)))
    val keys = spec.fields.map(pf => col(PartPrefix + pf.name))
    val selected = df.select(data ++ parts ++ extras: _*)
    val clustered =
      if (keys.isEmpty || inPlace) selected else selected.repartition(keys: _*)
    val order = keys ++ extraSortCols.map(p => col(p._1)) ++ sortCols
    val rows =
      if (order.isEmpty) clustered
      else clustered.sortWithinPartitions(order: _*)
    write(spark, table, rows, FileKind.Data, maxRecordsPerFile)
  }

  /** Position-delete files (SURVEY S9): `(file_path string, pos long)`
    * rows, ranged by `(file_path, pos)` over `numFiles` tasks (0: as
    * adaptive execution sizes them) and sorted so within each file, as
    * the spec requires. `dataFiles` are the data files the rows may
    * name, each with its spec id: each row goes to the delete file of
    * its data file's partition tuple — a task's rows sorted by that
    * directory first, then `(file_path, pos)` — and a row naming any
    * other path fails the write, so a drifted path cannot drop a
    * delete. The files are global (no tuple; they attach everywhere)
    * when the spec is unpartitioned, `dataFiles` is empty, or any of
    * them has an empty tuple (written before partitioning) or another
    * spec than the default — its tuple's fields would not line up with
    * the default spec's, the planner would never match the scoped
    * delete, and the rows would come back. */
  def positionDeletes(spark: SparkSession, table: Table, deletes: DataFrame,
      dataFiles: Seq[(Int, DataFile)] = Nil,
      numFiles: Int = 0): Seq[DataFile] = {
    val spec = table.metadata.defaultPartitionSpec
    val dirs =
      if (spec.isUnpartitioned || dataFiles.exists { case (specId, f) =>
          specId != spec.specId || f.partition.isEmpty })
        Map.empty[String, String]
      else dataFiles.map { case (_, f) =>
        f.filePath -> GraftFileWriter.partitionDir(spec.fields.map(_.name),
          spec.fields.map(pf => f.partition.get(pf.name).orNull))
      }.toMap
    val keys = Seq(col("file_path"), col("pos"))
    val base = deletes.select(col("file_path").cast("string"),
      col("pos").cast("long"))
    val ranged =
      if (numFiles > 0) base.repartitionByRange(numFiles, keys: _*)
      else base.repartitionByRange(keys: _*)
    // paths group by write, not by partition: without the directory
    // key a task would hold a file open for every directory it reaches.
    // A path outside `dirs` gets a null directory, which the writer
    // fails on.
    val rows =
      if (dirs.isEmpty) ranged.sortWithinPartitions(keys: _*)
      else {
        val dirOf = udf((p: String) => dirs.getOrElse(p, null))
        ranged.withColumn(DirCol, dirOf(col("file_path")))
          .sortWithinPartitions(col(DirCol) +: keys: _*)
      }
    write(spark, table, rows, FileKind.PositionDeletes)
  }

  /** Equality-delete files (SURVEY S10): the distinct rows of `keys`,
    * whose columns name the table's key fields. When the keys cover
    * every partition source and every live data file was written under
    * the default spec, the rows are clustered by the tuple their keys
    * derive and written per partition, so scans of other partitions
    * never read them; otherwise they are ranged by key into global
    * files — an older spec's tuples would not match a scoped file, and
    * the deleted rows would come back. */
  def equalityDeletes(spark: SparkSession, table: Table,
      keys: DataFrame): Seq[DataFile] = {
    val meta = table.metadata
    val spec = meta.defaultPartitionSpec
    val ids = keys.columns.toSeq.map(c =>
      meta.currentSchema.fieldByName(c).getOrElse(
        throw new IllegalArgumentException(s"key column $c not in schema")).id)
    val scoped = !spec.isUnpartitioned &&
      spec.fields.forall(pf => meta.currentSchema.field(pf.sourceId)
        .exists(f => keys.columns.contains(f.name))) &&
      table.currentSnapshot.toSeq.flatMap(table.manifestList)
        .filter(_.content == ManifestContent.Data)
        .forall(_.partitionSpecId == spec.specId)
    val keyCols = keys.columns.toSeq.map(c => col(quoted(c)))
    val distinct = keys.distinct()
    val rows =
      if (scoped) {
        val parts = spec.fields.map(pf => col(PartPrefix + pf.name))
        distinct.select(keyCols ++ partColumns(meta, distinct): _*)
          .repartition(parts: _*).sortWithinPartitions(parts ++ keyCols: _*)
      } else distinct.repartitionByRange(keyCols: _*)
        .sortWithinPartitions(keyCols: _*)
    write(spark, table, rows, FileKind.EqualityDeletes(ids, scoped))
  }

  /** Each default-spec partition field of `df`'s rows, derived through
    * its transform, as `__p_<field>`: the clustering key a writer's
    * routing agrees with. */
  private def partColumns(meta: TableMetadata, df: DataFrame): Seq[Column] = {
    val schema = meta.currentSchema
    meta.defaultPartitionSpec.fields.map { pf =>
      val src = schema.field(pf.sourceId).getOrElse(
        throw new IllegalArgumentException(
          s"partition source ${pf.sourceId} missing"))
      Transforms.applyToColumn(pf.transform, col(quoted(src.name)),
        src.fieldType, df.schema.find(_.name == src.name)
          .map(_.dataType)).as(PartPrefix + pf.name)
    }
  }

  private def write(spark: SparkSession, table: Table, rows: DataFrame,
      kind: FileKind, maxRecordsPerFile: Long = 0L): Seq[DataFile] = {
    var written: Seq[DataFile] = Nil
    val target = new GraftTaskWriteTable(table, rows.schema,
      maxRecordsPerFile, kind, files => written = files)
    Bridge.execute(spark, AppendData.byName(
      DataSourceV2Relation.create(target, None, None),
      rows.queryExecution.analyzed))
    written
  }

  private def quoted(name: String): String =
    "`" + name.replace("`", "``") + "`"

  private def sortColumn(sf: SortField, name: String): Column = {
    val c = col(quoted(name))
    (sf.direction, sf.nullOrder) match {
      case (SortDirection.Asc, NullOrder.NullsFirst) => c.asc_nulls_first
      case (SortDirection.Asc, NullOrder.NullsLast) => c.asc_nulls_last
      case (SortDirection.Desc, NullOrder.NullsFirst) => c.desc_nulls_first
      case (SortDirection.Desc, NullOrder.NullsLast) => c.desc_nulls_last
    }
  }
}

/** A write-only connector table over one [[TaskWrite]]: it accepts the
  * prepared frame as it is (the writer picks the written columns out by
  * name; its rows arrive clustered by directory) and hands the written
  * files to `written` at commit. */
private[sources] class GraftTaskWriteTable(t: Table, input: StructType,
    maxRecordsPerFile: Long, kind: FileKind,
    written: Seq[DataFile] => Unit)
    extends ConnectorTable with SupportsWrite {
  override def name(): String = (t.id.namespace :+ t.id.name).mkString(".")
  override def schema(): StructType = input
  override def capabilities(): JSet[TableCapability] =
    Set(TableCapability.BATCH_WRITE, TableCapability.ACCEPT_ANY_SCHEMA)
      .asJava
  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new WriteBuilder {
      override def build(): Write = new Write {
        override def description(): String = s"graft-write:${name()}"
        override def toBatch: BatchWrite = new GraftFileBatchWrite(
          t.metadata, info.schema(), maxRecordsPerFile, clustered = true,
          kind)(written)
      }
    }
}

/** What one write's files hold, fixed for the whole write; each kind
  * has its written columns and its rule for a row's partition tuple. */
private[sources] sealed abstract class FileKind(val content: FileContent)
    extends Serializable {
  def equalityIds: Seq[Int] = Nil
}

private[sources] object FileKind {
  /** The table's columns, routed through the spec's transforms. */
  case object Data extends FileKind(FileContent.Data)
  /** `(file_path, pos)`, routed by the input's [[TaskWrite.DirCol]]
    * column; input without one writes global files. */
  case object PositionDeletes extends FileKind(FileContent.PositionDeletes)
  /** Every input column but the `__p_` keys, recorded as the fields
    * `equalityIds`; routed through the spec's transforms when `scoped`,
    * else global. */
  final case class EqualityDeletes(override val equalityIds: Seq[Int],
      scoped: Boolean) extends FileKind(FileContent.EqualityDeletes)
}

/** Per-partition-field routing spec for executor writers; `ordinal` is
  * the source column's position in the write input. */
private[sources] final case class PartFieldRoute(
    name: String,
    transform: GTransform,
    ordinal: Int,
    sourceType: IcebergType)

/** One file a writer task produced: its rows, bytes and NaN counts by
  * field id. */
private[sources] final case class WrittenFile(path: String,
    nanCounts: Map[Int, Long], records: Long, bytes: Long)

private[sources] final case class GraftFilesMessage(
    files: Seq[WrittenFile]) extends WriterCommitMessage

/** How a task turns input rows into files of one [[FileKind]]: which input
  * columns are the file's (`dataOrdinals`, written as `dataSchema`),
  * which of those count NaNs (`nanColumns`: ordinal, field id,
  * float-typed; data files only), which transforms derive a row's
  * partition tuple (`routes`), which column names a position delete's
  * directory instead (`dirOrdinal`, -1 if none), and whether rows
  * arrive `clustered` by that tuple (each tuple's rows contiguous in a
  * task). */
private[sources] final case class FileLayout(
    inputTypes: Array[DataType],
    dataOrdinals: Array[Int],
    dataSchema: StructType,
    nanColumns: Array[(Int, Int, Boolean)],
    routes: Array[PartFieldRoute],
    dirOrdinal: Int,
    maxRecordsPerFile: Long,
    clustered: Boolean)

/** Driver side of one executor-side file write. A data write's columns
  * are the table's columns present in `inputSchema` by name (anything
  * else — `_file`, partition keys, transient sort keys — rides along
  * unwritten); a file's NaN count for a float/double field it does not
  * carry is 0. At commit exactly the files the commit messages name are
  * passed to `onCommit`: data files with the stats harvested from their
  * footers ([[DataWriter.harvestFiles]]), delete files with the rows
  * and bytes their tasks counted. Abort deletes them. `clustered`: see
  * [[FileLayout]]. */
private[sources] class GraftFileBatchWrite(meta: TableMetadata,
    inputSchema: StructType, maxRecordsPerFile: Long, clustered: Boolean,
    kind: FileKind = FileKind.Data)(
    onCommit: Seq[DataFile] => Unit) extends BatchWrite {

  private val spark = SparkSession.active
  private val schema = meta.currentSchema
  private val stagingRoot = meta.location.stripSuffix("/") + "/data/" +
    UUID.randomUUID().toString

  private val layout: FileLayout = {
    val names = inputSchema.fieldNames
    val data = schema.fields.filter(f => names.contains(f.name))
    val (ordinals, routed) = kind match {
      case FileKind.Data => (data.map(f => names.indexOf(f.name)).toArray, true)
      case FileKind.PositionDeletes =>
        (Array(names.indexOf("file_path"), names.indexOf("pos")), false)
      case FileKind.EqualityDeletes(_, scoped) => (names.indices
        .filterNot(names(_).startsWith(TaskWrite.PartPrefix)).toArray, scoped)
    }
    val nan = if (kind != FileKind.Data) Array.empty[(Int, Int, Boolean)]
      else data.zip(ordinals).flatMap { case (f, o) =>
        inputSchema(o).dataType match {
          case SFloat => Some((o, f.id, true))
          case SDouble => Some((o, f.id, false))
          case _ => None
        }
      }.toArray
    val routes = if (!routed) Array.empty[PartFieldRoute]
      else meta.defaultPartitionSpec.fields.map { pf =>
        val src = schema.field(pf.sourceId).getOrElse(
          throw new IllegalStateException(
            s"partition source field ${pf.sourceId} missing from schema"))
        val o = names.indexOf(src.name)
        if (o < 0) throw new IllegalStateException(
          s"graft write: partition source '${src.name}' missing from " +
            s"write input ${names.mkString(",")}")
        PartFieldRoute(pf.name, pf.transform, o, src.fieldType)
      }.toArray
    val dirOrdinal =
      if (kind == FileKind.PositionDeletes) names.indexOf(TaskWrite.DirCol)
      else -1
    FileLayout(inputSchema.fields.map(_.dataType), ordinals,
      StructType(ordinals.map(inputSchema(_))), nan, routes, dirOrdinal,
      maxRecordsPerFile, clustered)
  }

  override def createBatchWriterFactory(
      info: PhysicalWriteInfo): DataWriterFactory = {
    val (factory, conf) =
      ParquetShim.buildWriterFactory(spark, layout.dataSchema)
    new GraftFileWriterFactory(stagingRoot, factory, conf, layout)
  }

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val floatIds = DataWriter.floatFields(schema).map(_.id)
    val partType = meta.defaultPartitionSpec.partitionType(schema)
    val hconf = spark.sessionState.newHadoopConf()
    val files = written(messages)
      .groupBy(w => w.path.stripPrefix(stagingRoot).split('/').dropRight(1)
        .mkString("/"))
      .toSeq.sortBy(_._1).flatMap { case (relDir, ws) =>
        val partition = PartitionDirs.decodeSegments(relDir, partType)
        kind match {
          case FileKind.Data => DataWriter.harvestFiles(hconf,
            ws.map(w => w.path ->
              floatIds.map(id => id -> w.nanCounts.getOrElse(id, 0L)).toMap),
            schema, partition)
          case _ => ws.sortBy(_.path).map(w => DataFile(
            content = kind.content,
            filePath = DataWriter.normalizePath(w.path),
            recordCount = w.records,
            fileSizeInBytes = w.bytes,
            partition = partition,
            equalityIds = kind.equalityIds))
        }
      }
    onCommit(files)
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit = {
    val hconf = spark.sessionState.newHadoopConf()
    written(messages.filter(_ != null)).foreach(w =>
      GraftFileWriter.deleteQuietly(hconf, w.path))
  }

  private def written(messages: Array[WriterCommitMessage]): Seq[WrittenFile] =
    messages.toSeq.flatMap {
      case m: GraftFilesMessage => m.files
      case other => throw new IllegalStateException(
        s"graft write: unexpected commit message $other")
    }
}

private[sources] class GraftFileWriterFactory(stagingRoot: String,
    factory: OutputWriterFactory, conf: SerializableConfiguration,
    layout: FileLayout) extends DataWriterFactory {
  override def createWriter(partitionId: Int,
      taskId: Long): V2DataWriter[InternalRow] =
    new GraftFileWriter(partitionId, taskId, stagingRoot, factory, conf,
      layout)
}

/** The engine's one file writer, run inside each write task, for data
  * and delete files alike ([[FileKind]]). It finds each row's partition
  * tuple — through the partition transforms evaluated row-side
  * ([[Transforms.applyToValue]], the kernel the pruner projects literals
  * with), or for a position delete from its directory column — and
  * writes one parquet file per tuple under `__p_<field>=<value>`
  * directories that [[PartitionDirs.decodeSegments]] parses back at
  * commit: one file open at a time when rows arrive clustered by tuple,
  * else one open per tuple seen (fan-out). A file is opened only when a
  * row arrives for it. Each data file counts its NaNs as rows pass — the
  * one column metric a parquet footer cannot hold — and a file rolls
  * over after `maxRecordsPerFile` rows. The
  * commit message names every file this attempt wrote, so stray files
  * of failed attempts are never committed; the task's output metrics
  * report those files' bytes and rows, as Spark's own file writes do. */
private[sources] class GraftFileWriter(
    partitionId: Int,
    taskId: Long,
    stagingRoot: String,
    factory: OutputWriterFactory,
    conf: SerializableConfiguration,
    layout: FileLayout) extends V2DataWriter[InternalRow] {

  private final class OpenFile(val path: String, val out: OutputWriter) {
    val nans = new Array[Long](layout.nanColumns.length)
    var rows = 0L
    def finish(): WrittenFile = {
      out.close()
      val hp = new org.apache.hadoop.fs.Path(path)
      val bytes = hp.getFileSystem(conf.value).getFileStatus(hp).getLen
      bytesWritten += bytes
      rowsWritten += rows
      WrittenFile(path, layout.nanColumns.indices
        .map(k => layout.nanColumns(k)._2 -> nans(k)).toMap, rows, bytes)
    }
  }

  private val project = UnsafeProjection.create(
    layout.dataOrdinals.toSeq.map(o =>
      BoundReference(o, layout.inputTypes(o), nullable = true)))
  private val open = scala.collection.mutable.HashMap.empty[String, OpenFile]
  private val done = Seq.newBuilder[WrittenFile]
  private val started = Seq.newBuilder[String]
  private var fileSeq = 0
  private var bytesWritten = 0L
  private var rowsWritten = 0L

  /** Internal value → the JVM shape [[Transforms.applyToValue]] expects. */
  private def jvmValue(v: Any): Any = v match {
    case s: UTF8String => s.toString
    case d: org.apache.spark.sql.types.Decimal => d.toJavaBigDecimal
    case other => other
  }

  private val tuple = new Array[Any](layout.routes.size)
  private val routeNames = layout.routes.map(_.name).toSeq
  private var tupleDir: String = null
  private var lastDir: UTF8String = null

  /** The row's partition directory: a position delete's from its
    * directory column, else its tuple's, rebuilt only when the tuple
    * differs from the previous row's (input arrives clustered by tuple). */
  private def relDirFor(row: InternalRow): String = {
    if (layout.routes.isEmpty)
      return if (layout.dirOrdinal < 0) "" else dirColumn(row)
    var same = tupleDir != null
    var i = 0
    while (i < tuple.length) {
      val r = layout.routes(i)
      val v =
        if (row.isNullAt(r.ordinal)) null
        else Transforms.applyToValue(r.transform,
          jvmValue(row.get(r.ordinal, layout.inputTypes(r.ordinal))),
          r.sourceType).orNull
      if (v != tuple(i)) { same = false; tuple(i) = v }
      i += 1
    }
    if (!same) tupleDir = GraftFileWriter.partitionDir(routeNames, tuple)
    tupleDir
  }

  /** A position delete's directory, its data file's, as the row's
    * directory column names it; null when the path matched none. */
  private def dirColumn(row: InternalRow): String = {
    if (row.isNullAt(layout.dirOrdinal))
      throw new IllegalArgumentException(
        "position-delete path matched no candidate data file " +
          "(path normalization drift?): " +
          row.getUTF8String(layout.dataOrdinals(0)))
    val d = row.getUTF8String(layout.dirOrdinal)
    if (d != lastDir) { lastDir = d.clone(); tupleDir = d.toString }
    tupleDir
  }

  override def write(row: InternalRow): Unit = {
    val rel = relDirFor(row)
    val f = open.getOrElse(rel, {
      // clustered input never returns to an earlier tuple
      if (layout.clustered) finishOpen()
      val dir = if (rel.isEmpty) stagingRoot else s"$stagingRoot/$rel"
      val path = s"$dir/part-$partitionId-$taskId-$fileSeq.parquet"
      fileSeq += 1
      started += path
      val nf = new OpenFile(path, ParquetShim.newOutputWriter(factory,
        conf.value, path, layout.dataSchema, partitionId,
        taskId.toInt & 0x7fffffff))
      open(rel) = nf
      nf
    })
    var k = 0
    while (k < layout.nanColumns.length) {
      val (o, _, isFloat) = layout.nanColumns(k)
      if (!row.isNullAt(o) &&
          (if (isFloat) row.getFloat(o).isNaN else row.getDouble(o).isNaN))
        f.nans(k) += 1
      k += 1
    }
    f.out.write(project(row))
    f.rows += 1
    if (layout.maxRecordsPerFile > 0 && f.rows >= layout.maxRecordsPerFile) {
      done += f.finish()
      open.remove(rel)
    }
  }

  private def finishOpen(): Unit = {
    open.values.foreach(f => done += f.finish())
    open.clear()
  }

  override def commit(): WriterCommitMessage = {
    finishOpen()
    Bridge.setOutputMetrics(bytesWritten, rowsWritten)
    GraftFilesMessage(done.result())
  }

  override def abort(): Unit = {
    close()
    started.result().foreach(p =>
      GraftFileWriter.deleteQuietly(conf.value, p))
  }

  override def close(): Unit = {
    open.values.foreach(f => try f.out.close() catch {
      case _: Exception => ()
    })
    open.clear()
  }
}

private[sources] object GraftFileWriter {
  /** The `__p_<field>=<value>` directory of one partition tuple, as
    * [[PartitionDirs.decodeSegments]] parses it back at commit. */
  def partitionDir(names: Seq[String], values: Seq[Any]): String =
    names.zip(values).map { case (name, v) =>
      val raw =
        if (v == null) ExternalCatalogUtils.DEFAULT_PARTITION_NAME
        else ExternalCatalogUtils.escapePathName(v.toString)
      s"${TaskWrite.PartPrefix}$name=$raw"
    }.mkString("/")

  def deleteQuietly(conf: org.apache.hadoop.conf.Configuration,
      path: String): Unit = {
    val hp = new org.apache.hadoop.fs.Path(path)
    try hp.getFileSystem(conf).delete(hp, false)
    catch { case _: Exception => () }
  }
}
