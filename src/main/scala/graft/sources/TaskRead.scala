package graft.sources

import java.util.{Set => JSet}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.connector.catalog.{
  MetadataColumn, SupportsMetadataColumns, SupportsRead,
  Table => ConnectorTable, TableCapability}
import org.apache.spark.sql.connector.read.{
  Batch, InputPartition, PartitionReaderFactory, Scan => V2Scan,
  ScanBuilder, Statistics, SupportsPushDownFilters,
  SupportsPushDownRequiredColumns, SupportsReportStatistics}
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
import org.apache.spark.sql.graftshim.Bridge
import org.apache.spark.sql.sources
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.spec.{Schema, SchemaConverters}
import graft.table.{FileScanTask, Table}

/** The table layer's read executor: a FIXED task list — planned by
  * [[graft.table.Scan]], or picked by a mutation, changelog or
  * maintenance step — read through [[GraftReaderFactory]], the same
  * per-task delete filter and field-id remap every SQL read, view and
  * stream uses. Names resolve through `querySchema` (the snapshot's
  * schema for time travel and changelogs). The frame exposes the `_file`
  * and `_pos` metadata columns (`df.metadataColumn("_pos")`); a read
  * that selects `_pos` is never row-group filtered. */
private[graft] object TaskRead {
  def apply(spark: SparkSession, table: Table, querySchema: Schema,
      tasks: Seq[FileScanTask]): DataFrame =
    Bridge.ofRows(spark, DataSourceV2Relation.create(
      new GraftTaskTable(table, querySchema, tasks), None, None))
}

private[sources] class GraftTaskTable(t: Table, querySchema: Schema,
    tasks: Seq[FileScanTask])
    extends ConnectorTable with SupportsRead with SupportsMetadataColumns {
  private val full = SchemaConverters.toSparkSchema(querySchema)
  override def name(): String = (t.id.namespace :+ t.id.name).mkString(".")
  override def schema(): StructType = full
  override def capabilities(): JSet[TableCapability] =
    Set(TableCapability.BATCH_READ).asJava
  override def metadataColumns(): Array[MetadataColumn] =
    GraftMetaColumns.WithPos
  override def newScanBuilder(options: CaseInsensitiveStringMap)
      : ScanBuilder = new GraftTaskScanBuilder(t, querySchema, full, tasks)
}

/** Column pruning, plus every pushed filter forwarded to parquet
  * row-group skipping and kept as a Catalyst residual (dropping rows
  * the filter above drops anyway is sound; the reader still reads
  * position-delete tasks and `_pos` reads unfiltered). */
private[sources] class GraftTaskScanBuilder(t: Table, querySchema: Schema,
    full: StructType, tasks: Seq[FileScanTask])
    extends ScanBuilder
    with SupportsPushDownFilters with SupportsPushDownRequiredColumns {

  private var required: StructType = full
  private var emitFile = false
  private var emitPos = false
  private var pushed: Array[sources.Filter] = Array.empty

  override def pushFilters(
      filters: Array[sources.Filter]): Array[sources.Filter] = {
    pushed = filters
    filters
  }
  override def pushedFilters(): Array[sources.Filter] = pushed

  override def pruneColumns(requiredSchema: StructType): Unit = {
    emitFile = requiredSchema.fieldNames.contains(GraftMetaColumns.FileName)
    emitPos = requiredSchema.fieldNames.contains(GraftMetaColumns.PosName)
    required = StructType(
      requiredSchema.fields.filter(f => full.fieldNames.contains(f.name)))
  }

  override def build(): V2Scan = new GraftTaskScan(t, querySchema, full,
    required, tasks, pushed.toSeq, emitFile, emitPos)
}

private[sources] class GraftTaskScan(t: Table, querySchema: Schema,
    full: StructType, required: StructType, tasks: Seq[FileScanTask],
    filters: Seq[sources.Filter], emitFile: Boolean, emitPos: Boolean)
    extends V2Scan with Batch with SupportsReportStatistics {

  /** Value equality for exchange reuse, over everything the output
    * depends on — the task set included: two reads of the same data
    * files under different delete sets (a changelog's before/after
    * diff) are different scans. */
  private lazy val key = (t.metadata.location, querySchema.schemaId,
    required, emitFile, emitPos, filters.map(_.toString),
    tasks.map(task => (task.file.filePath,
      task.deleteFiles.map(_.file.filePath))))
  override def equals(o: Any): Boolean = o match {
    case g: GraftTaskScan => key == g.key
    case _ => false
  }
  override def hashCode(): Int = key.hashCode

  override def readSchema(): StructType = StructType(required.fields ++
    (if (emitFile) Seq(GraftMetaColumns.FileField) else Nil) ++
    (if (emitPos) Seq(GraftMetaColumns.PosField) else Nil))
  override def description(): String =
    s"graft-tasks:${(t.id.namespace :+ t.id.name).mkString(".")} " +
      s"files=${tasks.size}"

  override def estimateStatistics(): Statistics = new Statistics {
    override def sizeInBytes(): java.util.OptionalLong =
      java.util.OptionalLong.of(
        math.max(tasks.map(_.file.fileSizeInBytes).sum, 1L))
    override def numRows(): java.util.OptionalLong =
      java.util.OptionalLong.of(tasks.map(_.file.recordCount).sum)
  }

  override def toBatch: Batch = this
  override def planInputPartitions(): Array[InputPartition] =
    BatchPlanning.partitions(t, tasks, Some(querySchema))
  override def createReaderFactory(): PartitionReaderFactory =
    BatchPlanning.readerFactory(SparkSession.active, t, tasks, full,
      required, emitFile, filters, querySchema = Some(querySchema),
      emitPos = emitPos)
}
