package graft.sources

import java.util.{Map => JMap, Set => JSet}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.connector.catalog.{
  SupportsRead, Table => ConnectorTable, TableCapability}
import org.apache.spark.sql.connector.read.{
  Batch, InputPartition, LocalScan, PartitionReader,
  PartitionReaderFactory, Scan => V2Scan, ScanBuilder}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.avro.ManifestAvro
import graft.io.HadoopFileIO
import graft.spec.{FileContent, ManifestContent}
import graft.table.Table

/** Iceberg-style metadata tables: `SELECT * FROM graft.ns.tbl.<meta>`
  * for `snapshots`, `history`, `refs`, `manifests`, `files` — the SQL
  * face of the reference's inspection APIs (snapshot list
  * `table/table.go`, manifest readers `spec/manifest.go`,
  * refs `spec/snapshot.go:64-70`).
  *
  * Scale split: snapshots/history/refs/manifests are driver-computed
  * [[LocalScan]]s — they are exactly the metadata the driver already
  * holds (or one manifest-LIST read, which is one small Avro file even
  * for a million-file table). `files` is the unbounded one — it fans
  * out ONE input partition PER MANIFEST, so a 1M-file table reads its
  * thousand manifests in parallel on executors instead of funneling
  * through the driver.
  */
private[sources] object MetadataTables {

  val Names: Set[String] =
    Set("snapshots", "history", "refs", "manifests", "files",
      "partitions", "entries")

  def apply(t: Table, kind: String): ConnectorTable =
    new GraftMetadataTable(t, kind)

  // ------------------------------------------------------------ schemas

  val SnapshotsSchema: StructType = StructType(Seq(
    StructField("committed_at", TimestampType, nullable = false),
    StructField("snapshot_id", LongType, nullable = false),
    StructField("parent_id", LongType, nullable = true),
    StructField("operation", StringType, nullable = true),
    StructField("manifest_list", StringType, nullable = true),
    StructField("summary", MapType(StringType, StringType),
      nullable = true)))

  val HistorySchema: StructType = StructType(Seq(
    StructField("made_current_at", TimestampType, nullable = false),
    StructField("snapshot_id", LongType, nullable = false),
    StructField("parent_id", LongType, nullable = true),
    StructField("is_current_ancestor", BooleanType, nullable = false)))

  val RefsSchema: StructType = StructType(Seq(
    StructField("name", StringType, nullable = false),
    StructField("type", StringType, nullable = false),
    StructField("snapshot_id", LongType, nullable = false),
    StructField("max_reference_age_in_ms", LongType, nullable = true),
    StructField("min_snapshots_to_keep", IntegerType, nullable = true),
    StructField("max_snapshot_age_in_ms", LongType, nullable = true)))

  val ManifestsSchema: StructType = StructType(Seq(
    StructField("path", StringType, nullable = false),
    StructField("length", LongType, nullable = false),
    StructField("partition_spec_id", IntegerType, nullable = false),
    StructField("content", IntegerType, nullable = false),
    StructField("sequence_number", LongType, nullable = false),
    StructField("min_sequence_number", LongType, nullable = false),
    StructField("added_snapshot_id", LongType, nullable = false),
    StructField("added_data_files_count", IntegerType, nullable = false),
    StructField("existing_data_files_count", IntegerType,
      nullable = false),
    StructField("deleted_data_files_count", IntegerType,
      nullable = false),
    StructField("added_rows_count", LongType, nullable = false),
    StructField("existing_rows_count", LongType, nullable = false),
    StructField("deleted_rows_count", LongType, nullable = false)))

  val FilesSchema: StructType = StructType(Seq(
    StructField("content", IntegerType, nullable = false),
    StructField("file_path", StringType, nullable = false),
    StructField("file_format", StringType, nullable = false),
    StructField("spec_id", IntegerType, nullable = false),
    StructField("partition", MapType(StringType, StringType),
      nullable = false),
    StructField("record_count", LongType, nullable = false),
    StructField("file_size_in_bytes", LongType, nullable = false),
    StructField("sequence_number", LongType, nullable = true),
    StructField("sort_order_id", IntegerType, nullable = true)))

  /** Iceberg's `entries` table (flat practical subset): EVERY manifest
    * entry with its status — `files` shows only the flattened live
    * view. This writer records Added and carried-forward Existing
    * entries (removed files leave the manifest rather than lingering
    * as Deleted rows), so status 2 appears only on manifests written
    * by systems that retain them. */
  val EntriesSchema: StructType = StructType(Seq(
    StructField("status", IntegerType, nullable = false),
    StructField("snapshot_id", LongType, nullable = true),
    StructField("sequence_number", LongType, nullable = true),
    StructField("content", IntegerType, nullable = false),
    StructField("file_path", StringType, nullable = false),
    StructField("record_count", LongType, nullable = false),
    StructField("file_size_in_bytes", LongType, nullable = false),
    StructField("spec_id", IntegerType, nullable = false),
    StructField("partition", MapType(StringType, StringType),
      nullable = false)))

  val PartitionsSchema: StructType = StructType(Seq(
    StructField("partition", MapType(StringType, StringType),
      nullable = false),
    StructField("spec_id", IntegerType, nullable = false),
    StructField("record_count", LongType, nullable = false),
    StructField("file_count", IntegerType, nullable = false),
    StructField("total_data_file_size_in_bytes", LongType,
      nullable = false),
    StructField("position_delete_file_count", IntegerType,
      nullable = false),
    StructField("equality_delete_file_count", IntegerType,
      nullable = false)))

  def schemaFor(kind: String): StructType = kind match {
    case "snapshots" => SnapshotsSchema
    case "history" => HistorySchema
    case "refs" => RefsSchema
    case "manifests" => ManifestsSchema
    case "files" => FilesSchema
    case "partitions" => PartitionsSchema
    case "entries" => EntriesSchema
  }

  // ------------------------------------------------- driver-side rows

  private def usec(ms: Long): java.sql.Timestamp =
    new java.sql.Timestamp(ms)

  def snapshotRows(t: Table): Seq[Row] =
    t.metadata.snapshots.sortBy(_.timestampMs).map { s =>
      Row(usec(s.timestampMs), s.snapshotId,
        s.parentSnapshotId.map(Long.box).orNull,
        s.summary.map(_.operation.name).orNull,
        s.manifestList,
        s.summary.map(sm => sm.counters.map { case (k, v) =>
          k -> v.toString
        } ++ sm.extra).orNull)
    }

  def historyRows(t: Table): Seq[Row] = {
    val byId = t.metadata.snapshots.map(s => s.snapshotId -> s).toMap
    val ancestors = Iterator.unfold(t.currentSnapshot)(cur =>
      cur.map(s => s.snapshotId ->
        s.parentSnapshotId.flatMap(byId.get))).toSet
    t.metadata.snapshotLog.map { e =>
      Row(usec(e.timestampMs), e.snapshotId,
        byId.get(e.snapshotId).flatMap(_.parentSnapshotId)
          .map(Long.box).orNull,
        ancestors.contains(e.snapshotId))
    }
  }

  def refRows(t: Table): Seq[Row] =
    t.metadata.refs.toSeq.sortBy(_._1).map { case (name, r) =>
      Row(name, r.refType, r.snapshotId,
        r.maxRefAgeMs.map(Long.box).orNull,
        r.minSnapshotsToKeep.map(Int.box).orNull,
        r.maxSnapshotAgeMs.map(Long.box).orNull)
    }

  def manifestRows(t: Table): Seq[Row] =
    currentManifests(t).map { mf =>
      Row(mf.manifestPath, mf.manifestLength, mf.partitionSpecId,
        if (mf.content == ManifestContent.Data) 0 else 1,
        mf.sequenceNumber, mf.minSequenceNumber, mf.addedSnapshotId,
        mf.addedFilesCount, mf.existingFilesCount, mf.deletedFilesCount,
        mf.addedRowsCount, mf.existingRowsCount, mf.deletedRowsCount)
    }

  /** Per-partition record/file counts from manifest entries (Iceberg's
    * most-used inspection table after snapshots). Driver-aggregated —
    * output is O(#partitions), input is the manifest set, decoded in
    * parallel by [[Table.readManifests]]. The per-FILE fan-out path
    * for unbounded output remains the `files` table. */
  def partitionRows(t: Table): Seq[Row] = {
    val mfs = currentManifests(t)
    val manifests = mfs.map(_.partitionSpecId).zip(t.readManifests(mfs))
    final class Agg {
      var records = 0L; var files = 0; var bytes = 0L
      var posDel = 0; var eqDel = 0
    }
    val agg = scala.collection.mutable.LinkedHashMap
      .empty[(Int, Map[String, String]), Agg]
    for ((specId, m) <- manifests; e <- m.liveEntries) {
      val f = e.dataFile
      val key = (specId, f.partition.map { case (k, v) =>
        k -> (if (v == null) null else v.toString)
      })
      val a = agg.getOrElseUpdate(key, new Agg)
      f.content match {
        case FileContent.Data =>
          a.records += f.recordCount; a.files += 1
          a.bytes += f.fileSizeInBytes
        case FileContent.PositionDeletes => a.posDel += 1
        case FileContent.EqualityDeletes => a.eqDel += 1
      }
    }
    agg.toSeq.map { case ((specId, part), a) =>
      Row(part, specId, a.records, a.files, a.bytes, a.posDel, a.eqDel)
    }
  }

  def currentManifests(t: Table): Seq[graft.spec.ManifestFile] =
    t.currentSnapshot.toSeq.flatMap(s =>
      ManifestAvro.readManifestList(t.io.readAllBytes(s.manifestList)))

  def toInternal(schema: StructType, rows: Seq[Row]): Array[InternalRow] = {
    val conv = CatalystTypeConverters.createToCatalystConverter(schema)
    rows.map(conv(_).asInstanceOf[InternalRow]).toArray
  }
}

/** One metadata table (read-only, BATCH_READ). */
private[sources] class GraftMetadataTable(gtable: Table, kind: String)
    extends ConnectorTable with SupportsRead {

  import MetadataTables._

  override def name(): String =
    (gtable.id.namespace :+ gtable.id.name).mkString(".") + "." + kind
  override def schema(): StructType = schemaFor(kind)
  override def capabilities(): JSet[TableCapability] =
    Set(TableCapability.BATCH_READ).asJava
  override def properties(): JMap[String, String] =
    Map.empty[String, String].asJava

  override def newScanBuilder(
      options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder {
      override def build(): V2Scan = kind match {
        case "files" | "entries" => new ManifestFanScan(gtable, kind)
        case _ => new MetaLocalScan(gtable, kind)
      }
    }
}

/** Driver-computed scan for the small metadata tables. */
private[sources] class MetaLocalScan(t: Table, kind: String)
    extends LocalScan {
  import MetadataTables._
  override def readSchema(): StructType = schemaFor(kind)
  override def description(): String = s"graft-meta:$kind"
  override lazy val rows: Array[InternalRow] = {
    val r = kind match {
      case "snapshots" => snapshotRows(t)
      case "history" => historyRows(t)
      case "refs" => refRows(t)
      case "manifests" => manifestRows(t)
      case "partitions" => partitionRows(t)
    }
    toInternal(schemaFor(kind), r)
  }
}

/** `files` / `entries`: one input partition per manifest, decoded
  * executor-side — the driver reads only the manifest LIST. */
private[sources] class ManifestFanScan(t: Table, kind: String)
    extends V2Scan with Batch {
  import MetadataTables._

  override def readSchema(): StructType = schemaFor(kind)
  override def description(): String = s"graft-meta:$kind"
  override def toBatch: Batch = this

  override def planInputPartitions(): Array[InputPartition] =
    currentManifests(t).map(mf =>
      ManifestPartition(mf.manifestPath): InputPartition).toArray

  override def createReaderFactory(): PartitionReaderFactory =
    new ManifestFanReaderFactory(kind)
}

private[sources] final case class ManifestPartition(path: String)
    extends InputPartition

private[sources] class ManifestFanReaderFactory(kind: String)
    extends PartitionReaderFactory {
  import MetadataTables._

  private def contentCode(f: graft.spec.DataFile): Int = f.content match {
    case FileContent.Data => 0
    case FileContent.PositionDeletes => 1
    case FileContent.EqualityDeletes => 2
  }
  private def partMap(f: graft.spec.DataFile): Map[String, String] =
    f.partition.map { case (k, v) =>
      k -> (if (v == null) null else v.toString)
    }

  override def createReader(
      p: InputPartition): PartitionReader[InternalRow] = {
    val path = p.asInstanceOf[ManifestPartition].path
    val io = new HadoopFileIO()
    val manifest = ManifestAvro.readManifest(io.readAllBytes(path))
    if (kind == "entries") {
      val rows = manifest.entries.map { e =>
        val f = e.dataFile
        Row(e.status.id, e.snapshotId.map(Long.box).orNull,
          e.sequenceNumber.map(Long.box).orNull,
          contentCode(f), f.filePath, f.recordCount, f.fileSizeInBytes,
          manifest.partitionSpecId, partMap(f))
      }
      return reader(toInternal(EntriesSchema, rows))
    }
    val rows = manifest.liveEntries.map { e =>
      val f = e.dataFile
      Row(
        f.content match {
          case FileContent.Data => 0
          case FileContent.PositionDeletes => 1
          case FileContent.EqualityDeletes => 2
        },
        f.filePath, f.fileFormat.name, manifest.partitionSpecId,
        f.partition.map { case (k, v) =>
          k -> (if (v == null) null else v.toString)
        },
        f.recordCount, f.fileSizeInBytes,
        e.sequenceNumber.map(Long.box).orNull,
        f.sortOrderId.map(Int.box).orNull)
    }
    reader(toInternal(FilesSchema, rows))
  }

  private def reader(all: Array[InternalRow])
      : PartitionReader[InternalRow] = {
    val it = all.iterator
    new PartitionReader[InternalRow] {
      private var cur: InternalRow = _
      override def next(): Boolean =
        if (it.hasNext) { cur = it.next(); true } else false
      override def get(): InternalRow = cur
      override def close(): Unit = ()
    }
  }
}
