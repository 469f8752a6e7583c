package perfbench

import scala.collection.mutable

import graft.spec.{ManifestContent, PartitionSpec}
import graft.table.{Expr, Pruning, Scan, Table}

/** One timed step of a replayed plan. */
final case class Span(op: Long, name: String, startNs: Long, durNs: Long)

/** What one replay of `Scan.planFiles` saw. */
final case class ReplayStats(
    manifestListNs: Long, decodeNs: Long, pruneNs: Long, totalNs: Long,
    manifestsTotal: Int, manifestsScanned: Int, manifestsDecoded: Int,
    entriesDecoded: Long, filesTotal: Long, filesPlanned: Long,
    distributed: Boolean)

/** Replays current-snapshot planning through the public pieces
  * `Scan.planFiles` is built from — `Table.manifestList`,
  * `Table.readManifest`, `Pruning.manifestMightMatch`, and
  * `Pruning.fileMightMatch`/`partitionTupleMightMatch` — timing each
  * step as a span. Spans stay in memory until [[spans]] is read at the
  * end of the run. The replay's total beside the real planning time
  * shows how much of planning no span covers. */
final class PlanReplay {
  private val recorded = mutable.ArrayBuffer.empty[Span]

  def spans: Seq[Span] = recorded.toSeq

  def replay(op: Long, table: Table, filter: Option[Expr]): ReplayStats = {
    val t0 = System.nanoTime()
    def span[T](name: String)(f: => T): (T, Long) = {
      val s = System.nanoTime()
      val r = f
      val d = System.nanoTime() - s
      recorded += Span(op, name, s - t0, d)
      (r, d)
    }
    val snap = table.currentSnapshot.getOrElse(
      return ReplayStats(0, 0, 0, 0, 0, 0, 0, 0, 0, 0, distributed = false))
    val schema = table.schema
    val pred = filter.map(_.simplify)
    val (manifests, listNs) = span("avro.manifest_list")(table.manifestList(snap))
    val (deletes, data) = manifests.partition(_.content == ManifestContent.Deletes)
    var decodeNs = 0L
    var pruneNs = 0L
    var decoded = 0
    var entries = 0L
    def decode(mf: graft.spec.ManifestFile) = {
      val (m, d) = span("avro.manifest_decode")(table.readManifest(mf))
      decodeNs += d; decoded += 1; entries += m.entries.size
      m
    }
    deletes.foreach(decode)
    def specOf(id: Int): Option[PartitionSpec] = table.metadata.specById(id)
    val (surviving, mfPruneNs) = span("plan.prune_manifests") {
      data.filter(mf => pred.forall(e => specOf(mf.partitionSpecId)
        .forall(sp => Pruning.manifestMightMatch(e, mf, sp, schema))))
    }
    pruneNs += mfPruneNs
    var planned = 0L
    surviving.foreach { mf =>
      val m = decode(mf)
      val spec = specOf(mf.partitionSpecId)
      val (n, d) = span("plan.prune_files") {
        m.liveEntries.count(e => pred.forall(p =>
          Pruning.fileMightMatch(p, e.dataFile, schema) &&
            spec.forall(sp =>
              Pruning.partitionTupleMightMatch(p, e.dataFile, sp, schema))))
      }
      pruneNs += d; planned += n
    }
    val filesTotal = data.map(mf =>
      (mf.addedFilesCount + mf.existingFilesCount).toLong).sum
    ReplayStats(listNs, decodeNs, pruneNs, System.nanoTime() - t0,
      manifests.size, deletes.size + surviving.size, decoded, entries,
      filesTotal, planned,
      distributed = surviving.size >= Scan.DistributedPlanThreshold)
  }
}

/** Per-layer planning detail for one traced operation: times a real
  * `planFiles` at the operation's state, replays it, and notes both
  * under `plan.*`, `avro.*` and `io.unseen_manifest_reads`. Runs on the
  * plain FileIO so the replay never shows up in the `io.*` counters. */
object Replays {
  def record(ctx: Ctx, table: Table, filter: Option[Expr]): Unit = {
    val t = new Table(table.catalog, table.id, table.metadata, ctx.plainIo)
    val scan = filter.fold(Scan(t, ctx.spark))(Scan(t, ctx.spark).filter)
    val t0 = System.nanoTime()
    val tasks = scan.planFiles()
    val planMs = (System.nanoTime() - t0) / 1e6
    val r = ctx.replay.replay(ctx.currentOp, t, filter)
    ctx.note("plan.calls", 1)
    ctx.note("plan.ms", planMs)
    ctx.note("plan.replay_ms", r.totalNs / 1e6)
    ctx.note("plan.prune_ms", r.pruneNs / 1e6)
    ctx.note("plan.manifests_total", r.manifestsTotal)
    ctx.note("plan.manifests_scanned", r.manifestsScanned)
    ctx.note("plan.files_total", r.filesTotal.toDouble)
    ctx.note("plan.files_planned", tasks.size)
    ctx.note("plan.replay_mismatch", if (r.filesPlanned == tasks.size) 0 else 1)
    ctx.note("plan.delete_files_attached", tasks.map(_.deleteFiles.size).sum)
    ctx.note("plan.distributed_calls", if (r.distributed) 1 else 0)
    ctx.note("io.unseen_manifest_reads",
      if (r.distributed) r.manifestsScanned.toDouble else 0.0)
    ctx.note("avro.manifest_list_ms", r.manifestListNs / 1e6)
    ctx.note("avro.manifest_decode_ms", r.decodeNs / 1e6)
    ctx.note("avro.manifests_decoded", r.manifestsDecoded)
    ctx.note("avro.entries_decoded", r.entriesDecoded.toDouble)
  }
}
