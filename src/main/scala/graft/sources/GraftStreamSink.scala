package graft.sources

import org.apache.spark.internal.Logging
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.Sink
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.graftshim.Bridge

import graft.spec.{Operation, SchemaConverters}
import graft.table.{PendingSnapshot, Scan, Table}

/** v1 streaming sink: `writeStream.format("graft")` lands one snapshot
  * per micro-batch — the transactional form of the reference's
  * BulkWriter micro-batching (`table/insert.go:370-461`), now reachable
  * without `foreachBatch` plumbing.
  *
  * Exactly-once: each commit records `(graft.stream-id,
  * graft.stream-epoch)` in the snapshot summary; a replayed batch
  * (restart from checkpoint after a crash between commit and offset
  * write) is detected by `epoch <= last committed epoch for this
  * stream-id` and skipped — the same transactional-watermark idempotence
  * Delta's sink uses. Two different streams writing the same table must
  * carry distinct stream ids; the id defaults to the query's checkpoint
  * location, which Structured Streaming already requires to be unique
  * per query.
  *
  * Output modes: Append commits append snapshots; Complete commits a
  * full overwrite per batch (for streaming aggregations). Update is
  * rejected — use `foreachBatch` with [[graft.table.Mutations.upsert]],
  * which needs the key columns this API has no way to express.
  *
  * Scale: the data plane is [[TaskWrite]] — a distributed Spark write
  * honoring the table's partition spec and sort order; only the
  * metadata commit runs on the driver. Snapshot expiry can erase the
  * epoch watermark only if EVERY snapshot of this stream is expired;
  * the watermark that matters on replay is the newest one, which
  * retention policies keep.
  */
private[sources] class GraftStreamSinkV1(
    initial: Table,
    streamId: String,
    complete: Boolean) extends Sink with Logging {

  import GraftStreamSinkV1._

  @volatile private var tableRef: Table = initial

  /** Highest epoch this stream has committed, walking ONLY the current
    * snapshot's ancestor chain (parent-snapshot-id): after a
    * `rollback_to_snapshot` past this stream's commits, the rolled-away
    * snapshots still sit in the retained-snapshot list, but they are no
    * longer this table's lineage — counting their epochs would make the
    * sink silently drop every re-delivered batch as a replay. The common
    * case — watermark in the current snapshot — reads nothing else. */
  private def lastEpoch(t: Table): Option[Long] = {
    val meta = t.metadata
    Iterator.iterate(t.currentSnapshot)(
      _.flatMap(_.parentSnapshotId).flatMap(meta.snapshotById))
      .takeWhile(_.isDefined).flatten
      .flatMap(_.summary.flatMap { sm =>
        if (sm.extra.get(StreamIdKey).contains(streamId))
          sm.extra.get(EpochKey).map(_.toLong)
        else None
      }).nextOption()
  }

  override def addBatch(batchId: Long, data: DataFrame): Unit =
    synchronized {
      val t = {
        tableRef = tableRef.refresh()
        tableRef
      }
      if (lastEpoch(t).exists(batchId <= _)) {
        logInfo(s"graft sink: skipping replayed batch $batchId for " +
          s"stream '$streamId' (already committed)")
        return
      }
      val batch = Bridge.materializedBatch(data)
      // SQL-style name alignment with casts: the stream's query schema
      // may order/type columns differently than the table
      val target = SchemaConverters.toSparkSchema(t.schema)
      val aligned = batch.select(target.fields.map(f =>
        col(f.name).cast(f.dataType).as(f.name)).toSeq: _*)
      val extra = Map(StreamIdKey -> streamId,
        EpochKey -> batchId.toString)
      tableRef =
        if (complete) {
          // Complete mode replaces table content every batch (streaming
          // agg results): old files out + new files in, atomically.
          val old = Scan(t, batch.sparkSession).planFiles()
            .map(_.file.filePath).toSet
          val files = TaskWrite(batch.sparkSession, t, aligned)
          t.commitSnapshot(PendingSnapshot(Operation.Overwrite,
            addedDataFiles = files, deletedFilePaths = old,
            summaryExtra = extra))
        } else {
          val files = TaskWrite(batch.sparkSession, t, aligned)
          t.commitSnapshot(PendingSnapshot(Operation.Append,
            addedDataFiles = files, summaryExtra = extra))
        }
    }

  /** The table as of this sink's last commit (tests / monitoring). */
  def table: Table = tableRef

  override def toString: String =
    s"GraftSink(${(initial.id.namespace :+ initial.id.name).mkString(".")})"
}

object GraftStreamSinkV1 {
  val StreamIdKey = "graft.stream-id"
  val EpochKey = "graft.stream-epoch"
}
