package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import graft.sources.TaskWrite
import graft.table.{Derived, PendingSnapshot, Table, TableOps}
import graft.spec.{Operation, TableMetadata}

/** Structured Streaming surface (engine capability beyond the
  * reference, whose closest analog is BulkWriter micro-batching —
  * `table/insert.go:370-461`, SURVEY §2.9).
  */
object Streams {

  /** Restart-replay guard for the index/model ingest sinks: the last
    * committed micro-batch id is stamped as a property on the
    * index/model table — in the SAME commit as the batch's index/model
    * data append when one happens (atomic: that batch can never
    * double-deliver into the index), falling back to a property-only
    * commit for batches with no index payload — and a FRESH handle
    * initializes its skip watermark from it, so a micro-batch replayed
    * after a driver restart whose commits already landed is skipped
    * instead of double-delivered. Batch ids are PER QUERY (every
    * stream starts at 0), so when several streams feed one index each
    * must pass a distinct `streamId` — the watermark property is
    * namespaced by it and one stream's stamp never blocks another's
    * batches. A batch-id-0 arrival against a stamped watermark > 0 is
    * refused loudly: batch ids also reset to 0 when a user starts a
    * NEW query (new checkpoint location) against the same index, and
    * silently skipping would drop the new query's first batches —
    * pass a distinct `streamId` (or reuse the original checkpoint) to
    * proceed. The CORPUS (sink-table) append is a separate table and
    * cannot share the index commit, but it carries its OWN durable
    * batch stamp in the same commit ([[MicroBatchSink.sinkStamp]]):
    * a crash between the corpus commit and the index commit leaves
    * the sink stamp ahead of the index watermark, the re-delivered
    * batch skips the corpus re-append, and only the index half is
    * completed — both tables are exactly-once for every batch.
    * Remaining corner: when the stamped watermark is exactly 0 (the
    * prior query committed ONLY batch 0), a new query's batch 0 is
    * indistinguishable from that batch's crash-window replay and is
    * skipped — start new queries under a distinct streamId to stay
    * out of this corner. */
  private[streaming] def batchIdProp(prefix: String,
      streamId: String): String =
    if (streamId.isEmpty) s"$prefix.last-batch-id"
    else s"$prefix.last-batch-id.$streamId"

  private[streaming] def stampedBatchId(index: Table, prefix: String,
      streamId: String): Long =
    index.metadata.properties.get(batchIdProp(prefix, streamId))
      .map(_.toLong).getOrElse(Long.MinValue)

  /** Per-handle replay gate (state for [[stampedBatchId]]'s contract):
    * `admit` returns false for batch ids at or below the watermark
    * (an already-committed replay — skip), advances it otherwise, and
    * throws on the new-query shape — a handle whose FIRST batch is id
    * 0 while the stamped watermark is > 0. That shape cannot be a
    * restart replay (Spark re-delivers only the latest uncommitted
    * batch, and a query whose stamp passed 0 has committed batch 0),
    * so it is a NEW query (fresh checkpoint) reusing this index under
    * the same streamId; skipping would silently drop its data. The
    * one shape the guard cannot catch: a stamp of EXACTLY 0 (the
    * prior query committed only batch 0) makes a new query's batch 0
    * indistinguishable from that batch's own crash-window replay, and
    * it is skipped as a replay — documented in the sink scaladoc's
    * residual windows. */
  private[streaming] final class BatchGate(stamped: Long,
      streamId: String, what: String) extends Serializable {
    private var last: Long = stamped
    private var first: Boolean = true

    def admit(batchId: Long): Boolean = {
      val isFirst = first
      first = false
      if (isFirst && batchId == 0L && last > 0L)
        throw new IllegalStateException(s"$what: batch id 0 arrived " +
          s"but the index/model already stamps last-batch-id $last" +
          (if (streamId.isEmpty) "" else s" for stream '$streamId'") +
          " — this is a NEW query (fresh checkpoint) whose batch ids " +
          "restart at 0, not a restart replay; its batches would be " +
          "silently dropped. Pass a distinct streamId for the new " +
          "query, or restart it from the original checkpoint location.")
      if (batchId <= last) false
      else { prev = last; last = batchId; true }
    }

    /** Revert the watermark advance of a batch whose commits THREW:
      * `admit` advances optimistically, so without this a
      * same-process restart reusing the handle would skip the failed
      * batch as "already committed" and its data would be silently
      * lost. (A process crash is covered separately: the in-memory
      * watermark dies with it and the fresh handle re-reads the
      * stamped one, which only ever advances WITH a commit.) */
    def abort(batchId: Long): Unit =
      if (last == batchId) last = prev
    private var prev: Long = stamped
  }

  /** Resolve a `source-snapshot-id` anchor against CONCURRENT writer
    * streams on one index: a stamp must never move the anchor
    * BACKWARDS along the sink table's commit order, so the head `ours`
    * observed by this writer only wins over the currently-stamped
    * anchor when it is the NEWER sink commit (higher sequence number
    * in `sinkMeta`). A stamped anchor absent from our sink view can
    * only be a snapshot committed AFTER our handle's refresh
    * (snapshots enter the log in commit order; expiring a
    * just-stamped head while its writer stream is live is outside the
    * maintenance contract), so it is kept as the newer one. Evaluated
    * inside the computed-stamp CAS loop, so a stamp that raced a
    * concurrent writer re-resolves against that writer's anchor on
    * the retry — two concurrent writer streams can no longer stamp
    * the anchor out of commit order (previously a documented
    * one-writer-per-index operational rule). */
  private[streaming] def resolveSourceAnchor(indexMeta: TableMetadata,
      anchorProp: String, ours: Long, sinkMeta: TableMetadata): Long =
    indexMeta.properties.get(anchorProp).map(_.toLong) match {
      case None => ours
      case Some(s) if s == ours => ours
      case Some(s) =>
        (sinkMeta.snapshotById(s), sinkMeta.snapshotById(ours)) match {
          case (Some(ss), Some(os)) =>
            if (ss.sequenceNumber > os.sequenceNumber) s else ours
          case (None, _) => s
          case _ => ours
        }
    }

  /** Shared micro-batch core of the seven ingest sinks below: admit
    * the batch through the replay [[BatchGate]], pin it with
    * `localCheckpoint` (the emptiness probe, the corpus append, and
    * the payload build must all see the SAME data — the source must
    * not re-execute), run the sink-specific body, and revert the
    * gate's optimistic watermark advance when the body throws. Every
    * gate/stamp/commit fix lands HERE once instead of seven times
    * (the r19 exactly-once commit fold had to touch seven
    * near-identical copies — the duplication this base retires). */
  private[streaming] abstract class MicroBatchSink(
      protected val propNs: String, protected val streamId: String,
      what: String, initialIndex: Table) extends Serializable {
    // refreshed at construction: the replay gate's watermark and the
    // pending-sink check read TABLE state, and a handle built from a
    // stale snapshot of it would re-admit batches whose commits
    // already landed (double-delivering into the index) or miss a
    // pending sink stamp (double-delivering into the corpus). One
    // catalog read per handle buys current state; after that our own
    // commits keep the refs current.
    @volatile protected var indexRef: Table = initialIndex.refresh()
    private val gate = new BatchGate(
      stampedBatchId(indexRef, propNs, streamId), streamId, what)

    /** Sink-specific body, called with the PINNED, non-empty batch. */
    protected def runBatch(batch: DataFrame, batchId: Long): Unit

    /** The foreachBatch function. */
    final def addBatch(batch0: DataFrame, batchId: Long): Unit =
      synchronized {
        if (!gate.admit(batchId)) return
        if (batch0.isEmpty) return
        try runBatch(batch0.localCheckpoint(true), batchId)
        catch { case t: Throwable => gate.abort(batchId); throw t }
      }

    protected final def batchStamp(batchId: Long): (String, String) =
      batchIdProp(propNs, streamId) -> batchId.toString

    /** Durable sink-side batch stamp, riding the SAME commit as the
      * corpus append (as a table property for the fast pending check
      * AND a snapshot-summary entry so a heal can find WHICH commit
      * carried a batch). With it, the corpus half of a batch is
      * replay-protected even across process crashes: a restart that
      * re-delivers a batch whose corpus commit landed but whose index
      * commit didn't can skip the re-append and finish only the index
      * half — previously the documented double-delivery crash
      * window. */
    protected final def sinkStamp(batchId: Long): Map[String, String] =
      Map(batchIdProp(propNs, streamId) -> batchId.toString)

    /** The batch id of a sink-side commit whose INDEX half never
      * landed — the sink's durable stamp is ahead of the index's
      * watermark. Non-empty only inside the crash window or after a
      * failed in-process attempt. */
    protected final def pendingSinkBatch(
        sinkMeta: TableMetadata): Option[Long] =
      sinkMeta.properties.get(batchIdProp(propNs, streamId))
        .map(_.toLong)
        .filter(_ > stampedBatchId(indexRef, propNs, streamId))

    /** A batch OTHER than the pending one arrived while the sink and
      * index are diverged: proceeding would bake the divergence in
      * (the pending batch's index half can only be rebuilt from its
      * own re-delivery), so refuse loudly. */
    protected final def refusePending(pending: Long,
        batchId: Long): Nothing =
      throw new IllegalStateException(s"$what: the sink table carries " +
        s"batch $pending but the index/model never committed it, and " +
        s"batch $batchId arrived instead of its re-delivery — restart " +
        "the query from its checkpoint so the pending batch is " +
        "re-delivered and the index converges with the sink")
  }

  /** [[MicroBatchSink]] body shared by the six index/model INGEST
    * sinks: append the pinned batch to the corpus (sink) table, take
    * the artifact's delta of the batch ([[Derived.Artifact]] — the one
    * definition the `incremental => true` procedures use too) and
    * commit it with [[Derived.commit]], the `source-snapshot-id` anchor
    * and batch watermark riding the same commit. Additive totals
    * recompute from refreshed metadata on every CAS attempt, and the
    * anchor resolves by sink commit order
    * ([[Streams.resolveSourceAnchor]]) in that same loop. The index
    * must carry every stamp the artifact reads. */
  private[streaming] abstract class AnchoredIngestSink(
      artifact: Derived.Artifact, what: String, initialSink: Table,
      initialIndex: Table, streamId0: String)
      extends MicroBatchSink(artifact.ns, streamId0, what, initialIndex) {
    artifact.requireStamps(indexRef.metadata.properties, what)
    // refreshed for the same reason as indexRef: the pending-sink
    // check and the batch-snapshot anchor lookup read sink metadata
    @volatile protected var sinkRef: Table = initialSink.refresh()

    protected final def runBatch(batch: DataFrame,
        batchId: Long): Unit = {
      val hOpt: Option[Long] = pendingSinkBatch(sinkRef.metadata) match {
        case Some(p) if p == batchId =>
          // crash-window / failed-attempt replay: the corpus commit
          // for THIS batch already landed (its stamp rode that
          // commit) — skip the re-append and finish only the index
          // half. The anchor is the commit that CARRIED the batch,
          // resolved by its summary stamp: stamping today's head
          // instead could claim coverage of a later corpus commit
          // whose own index half hasn't landed. (Fallback to the
          // head only if expiry removed the carrying snapshot.)
          batchSnapshot(batchId)
            .orElse(sinkRef.currentSnapshot.map(_.snapshotId))
        case Some(p) => refusePending(p, batchId)
        case None =>
          sinkRef = TableOps.append(sinkRef, batch,
            props = sinkStamp(batchId), summary = sinkStamp(batchId))
          sinkRef.currentSnapshot.map(_.snapshotId)
      }
      val d = artifact.delta(batch, indexRef.metadata.properties)
      // a no-payload batch (all-NULL texts, wrong-dim vectors, no
      // tokens) still stamps: the sink head moved and a later
      // procedure chain must not re-deliver those corpus rows
      hOpt.foreach { h =>
        indexRef = Derived.commit(indexRef, d, m =>
          d.over(m.properties) + (artifact.anchor -> resolveSourceAnchor(
            m, artifact.anchor, h, sinkRef.metadata).toString) +
            batchStamp(batchId))
      }
    }

    /** The sink snapshot that carried `batchId`'s corpus rows, by its
      * summary stamp (newest-first — a batch lands in one commit). */
    private def batchSnapshot(batchId: Long): Option[Long] = {
      val key = batchIdProp(propNs, streamId)
      sinkRef.metadata.snapshots.reverseIterator.collectFirst {
        case s if s.summary.exists(_.extra.get(key)
            .contains(batchId.toString)) => s.snapshotId
      }
    }

    def sink: Table = sinkRef
    def index: Table = indexRef
  }

  /** Iceberg sink for `writeStream.foreachBatch`: each micro-batch
    * commits one append snapshot (exactly the one-snapshot-per-batch
    * shape of the reference's BulkWriter, made transactional). The
    * returned handle tracks the evolving table.
    *
    * Replay-guarded like the ingest sinks: the batch watermark rides
    * the SAME commit as the append, so a restarted query
    * re-delivering an already-committed micro-batch is skipped
    * instead of double-appended — previously this plain sink was the
    * one sink with NO replay protection at all (foreachBatch is
    * at-least-once by contract). Several streams writing one table
    * pass distinct `streamId`s ([[stampedBatchId]]'s namespacing and
    * new-query rules apply). An EMPTY batch commits nothing and
    * stamps nothing — replaying it re-skips harmlessly. */
  final class IcebergStreamSink(initial: Table,
      streamId: String = "") extends Serializable {
    // refreshed so a handle built from a stale snapshot cannot read a
    // stale watermark and re-append an already-committed batch
    @volatile private var tableRef: Table = initial.refresh()
    private val gate = new BatchGate(stampedBatchId(tableRef,
      "graft.sink", streamId), streamId, "IcebergStreamSink")

    /** The foreachBatch function: append the batch, commit, advance.
      * The batch is pinned first — the emptiness probe and the write
      * must see the SAME data, and the source must not re-execute
      * (the same discipline as every ingest sink below). */
    def addBatch(batch: DataFrame, batchId: Long): Unit = synchronized {
      if (!gate.admit(batchId)) return
      try {
        val pinned = batch.localCheckpoint(true)
        if (!pinned.isEmpty) {
          val files = TaskWrite(pinned.sparkSession, tableRef, pinned)
          tableRef = tableRef.commitSnapshot(
            PendingSnapshot(Operation.Append, addedDataFiles = files),
            extraProps = Map(batchIdProp("graft.sink", streamId) ->
              batchId.toString))
        }
      } catch { case t: Throwable => gate.abort(batchId); throw t }
    }

    def table: Table = tableRef
  }

  def icebergSink(table: Table,
      streamId: String = ""): IcebergStreamSink =
    new IcebergStreamSink(table, streamId)

  /** In-flight dedup for `writeStream.foreachBatch`, backed by a
    * persisted [[graft.ops.Dedup.signatureFrame]] INDEX table instead
    * of the streaming state store. Per micro-batch: duplicates of
    * anything the index has seen (exact fp match, or — `minhash =
    * true` — a verified near-dup, which `dropDuplicates` cannot
    * express at all) are dropped, survivors are appended to the sink
    * table AND their signatures to the index, so later micro-batches
    * dedup against everything that survived before them.
    *
    * Why a table instead of `dropDuplicates` state: the dedup horizon
    * becomes unbounded WITHOUT unbounded state-store growth (the index
    * is columnar, shared across restarts and across QUERIES — the
    * batch `dedup_table(..., index_table)` procedure and any number of
    * streams can chain on the same index), and near-dup dedup rides
    * the same structure. Batch cost is the [[graft.ops.Dedup
    * .indexedExactRemovals]] / [[graft.ops.Dedup
    * .indexedMinhashRemovals]] shape: narrow index column scans, no
    * corpus text pass. Retried micro-batch ids are skipped —
    * including across driver restarts, via the stamped last-batch-id
    * ([[Streams.stampedBatchId]]); a crash between the sink append
    * and the signature commit heals on re-delivery via the durable
    * sink-side stamp (see [[runBatch]]) — both tables are
    * exactly-once. */
  final class IndexedDedupSink(initialSink: Table, initialIndex: Table,
      textCol: String = "text", idCol: String = "doc_id",
      minhash: Boolean = false, threshold: Double = 0.8,
      numHashes: Int = 64, streamId: String = "")
      extends MicroBatchSink("graft.dedup-index", streamId,
        "IndexedDedupSink", initialIndex) {
    // a build_dedup_index table stamps its config; a sink constructed
    // with a DIFFERENT width/column set would band mixed-width
    // signatures into the shared index — silent corruption the batch
    // procedure already refuses, so the sink must too. (Un-stamped
    // index tables — built directly from Dedup.signatureFrame in
    // library code — skip the check: the caller owns consistency.)
    for ((prop, arg, what) <- Seq(
        ("graft.dedup-index.num-hashes", numHashes.toString, "num_hashes"),
        ("graft.dedup-index.text-col", textCol, "text_col"),
        ("graft.dedup-index.id-col", idCol, "id_col")))
      initialIndex.metadata.properties.get(prop).foreach { stamped =>
        if (stamped != arg) throw new IllegalArgumentException(
          s"IndexedDedupSink: index stamps $what '$stamped' but the " +
            s"sink was constructed with '$arg' — mixed signature " +
            "configs would silently corrupt the shared index")
      }
    // refreshed: the pending-sink heal check reads sink metadata
    @volatile private var sinkRef: Table = initialSink.refresh()

    /** Heal semantics: the survivors' SINK append carries the durable
      * batch stamp ([[MicroBatchSink.sinkStamp]]) in the same commit,
      * so a batch whose sink append committed but whose signature
      * commit didn't — a failed in-process attempt OR a process crash
      * between the two commits — is detected on re-delivery
      * ([[MicroBatchSink.pendingSinkBatch]]), its sink append is
      * SKIPPED, and only the recomputed survivors' signatures + stamp
      * are committed, converging both tables. The recompute is
      * deterministic: the re-delivered batch is the same data and the
      * index is unchanged (its commit is exactly what failed), so the
      * removals — and therefore the survivors already sitting in the
      * sink — reproduce identically. (Like every foreachBatch
      * exactly-once pattern this assumes a REPLAYABLE source: a
      * source that re-delivers different rows under the same batch id
      * voids the convergence guarantee — the empty-recompute check
      * below catches the fully-disjoint case loudly.) A DIFFERENT
      * batch arriving while the divergence is pending is refused
      * loudly. This closes the corpus-side double-delivery crash
      * window that [[Streams.stampedBatchId]] previously documented
      * as residual. */
    protected def runBatch(batch: DataFrame, batchId: Long): Unit = {
      val heal = pendingSinkBatch(sinkRef.metadata) match {
        case Some(p) if p == batchId => true
        case Some(p) => refusePending(p, batchId)
        case None => false
      }
      val idxDf = graft.table.Scan(indexRef, batch.sparkSession).toDF
      val removals = (if (minhash)
        graft.ops.Dedup.indexedMinhashRemovals(batch, idxDf, textCol,
          idCol, numHashes, threshold = threshold)
      else graft.ops.Dedup.indexedExactRemovals(batch, idxDf, textCol,
        idCol)).localCheckpoint(true)
      val survivors = batch.join(removals, Seq(idCol), "left_anti")
        .localCheckpoint(true)
      val kept = !survivors.isEmpty
      if (kept && !heal)
        sinkRef = TableOps.append(sinkRef, survivors,
          props = sinkStamp(batchId), summary = sinkStamp(batchId))
      else if (!kept && heal)
        // the pending sink commit had survivors by construction; an
        // empty recompute means the re-delivered batch is NOT the
        // pending one — converging on it would corrupt the index
        throw new IllegalStateException("IndexedDedupSink: healing " +
          s"batch $batchId recomputed no survivors, but its sink " +
          "commit appended rows — the re-delivered batch does not " +
          "match the one whose signature commit failed")
      // the batch watermark rides the signature append (atomic: a
      // restarted handle can never double-deliver these signatures);
      // an all-duplicate batch stamps with no rows (see stampedBatchId)
      indexRef = Derived.commit(indexRef, new Derived.Delta(
        graft.ops.Dedup.signatureFrame(survivors, textCol, idCol,
          numHashes), Map.empty, kept), _ => Map(batchStamp(batchId)))
    }

    def sink: Table = sinkRef
    def index: Table = indexRef
  }

  def indexedDedupSink(sink: Table, index: Table,
      textCol: String = "text", idCol: String = "doc_id",
      minhash: Boolean = false, threshold: Double = 0.8,
      numHashes: Int = 64, streamId: String = ""): IndexedDedupSink =
    new IndexedDedupSink(sink, index, textCol, idCol, minhash,
      threshold, numHashes, streamId)

  /** Streaming ANN-index ingestion for `writeStream.foreachBatch`,
    * backed by a persisted `build_ann_index` table: each micro-batch's
    * vectors are appended to the corpus (sink) table AND — assigned
    * with the index's FROZEN stamped centroids — into their cells in
    * the index, then the index's recorded source snapshot advances to
    * the sink head. Searches
    * ([[graft.ops.Similarity.ivfTopKFromIndex]]) therefore see new
    * vectors one micro-batch after arrival with no refit, no
    * assignment scan, and no state-store growth (the inverted file IS
    * the state, shared across restarts, queries, and the batch
    * `build_ann_index(incremental => true)` procedure, which can keep
    * chaining the same index after the stream stops — the snapshot
    * stamp makes the two interoperate). Wrong-dim rows land in the
    * corpus but not the index (the full-build contract). Retried
    * micro-batch ids are skipped — including across driver restarts,
    * via the stamped last-batch-id ([[Streams.stampedBatchId]]). */
  final class AnnIndexIngestSink(initialSink: Table, initialIndex: Table,
      vecCol: String = "embedding", idCol: String = "vec_id",
      streamId: String = "")
      extends AnchoredIngestSink(Derived.AnnCells(vecCol, idCol),
        "AnnIndexIngestSink", initialSink, initialIndex, streamId)

  def annIndexIngestSink(sink: Table, index: Table,
      vecCol: String = "embedding", idCol: String = "vec_id",
      streamId: String = ""): AnnIndexIngestSink =
    new AnnIndexIngestSink(sink, index, vecCol, idCol, streamId)

  /** Streaming text-index ingestion for `writeStream.foreachBatch`,
    * backed by a persisted `build_text_index` table: each micro-batch's
    * documents are appended to the corpus (sink) table, their postings
    * into their term buckets, and the stamped corpus stats advance by
    * exact long arithmetic — so, postings being per-document-
    * independent, the index is at every batch boundary EXACTLY what a
    * full rebuild would produce, and BM25 searches
    * ([[graft.ops.Retrieval.bm25FromIndex]]) see new documents one
    * micro-batch after arrival, bit-identical to the unindexed path.
    * The snapshot stamp advances with the sink head, so the batch
    * `build_text_index(incremental => true)` procedure can keep
    * chaining after the stream stops. NULL-text docs count toward
    * `n_docs` and produce no postings (the build contract). Retried
    * micro-batch ids are skipped — including across driver
    * restarts, via the stamped last-batch-id
    * ([[Streams.stampedBatchId]]). */
  final class TextIndexIngestSink(initialSink: Table,
      initialIndex: Table, textCol: String = "text",
      idCol: String = "doc_id", streamId: String = "")
      extends AnchoredIngestSink(Derived.TextPostings(textCol, idCol),
        "TextIndexIngestSink", initialSink, initialIndex, streamId)

  def textIndexIngestSink(sink: Table, index: Table,
      textCol: String = "text", idCol: String = "doc_id",
      streamId: String = ""): TextIndexIngestSink =
    new TextIndexIngestSink(sink, index, textCol, idCol, streamId)

  /** Streaming tokenizer-ledger ingestion for `writeStream
    * .foreachBatch` — the tokenizer twin of [[TextIndexIngestSink]],
    * backed by a persisted `train_tokenizer` model table: each
    * micro-batch's documents append to the corpus table and their
    * piece-count DELTAS to the ledger, the stamped total advancing by
    * exact long arithmetic. Piece counts are additive over disjoint
    * document sets, so the streamed ledger equals a full retrain at
    * EVERY batch boundary (the i47 "chain == rebuild" contract), and
    * `train_tokenizer(incremental => true)` keeps chaining the same
    * model after the stream stops. Retried micro-batch ids are
    * skipped — including across driver restarts, via the stamped
    * last-batch-id ([[Streams.stampedBatchId]]). */
  final class TokenizerLedgerIngestSink(initialSink: Table,
      initialModel: Table, textCol: String = "text",
      streamId: String = "")
      extends AnchoredIngestSink(Derived.TokLedger(textCol),
        "TokenizerLedgerIngestSink", initialSink, initialModel,
        streamId) {
    def model: Table = indexRef
  }

  def tokenizerLedgerIngestSink(sink: Table, model: Table,
      textCol: String = "text",
      streamId: String = ""): TokenizerLedgerIngestSink =
    new TokenizerLedgerIngestSink(sink, model, textCol, streamId)

  /** Streaming LM-ledger ingestion for `writeStream.foreachBatch` —
    * the language-model twin of [[TokenizerLedgerIngestSink]], backed
    * by a persisted `train_lm` model table: each micro-batch's
    * documents append to the corpus table and their gram-count DELTAS
    * ([[graft.ops.LangModel.gramCounts]]) to the ledger, the stamped
    * token total advancing by exact long arithmetic. Gram counts are
    * additive over disjoint document sets, so the streamed ledger
    * equals a full retrain at EVERY batch boundary (the i51 "chain ==
    * rebuild" contract held live), and `train_lm(incremental => true)`
    * keeps chaining the same model after the stream stops. Retried
    * micro-batch ids are skipped — including across driver
    * restarts, via the stamped last-batch-id
    * ([[Streams.stampedBatchId]]). */
  final class LmLedgerIngestSink(initialSink: Table,
      initialModel: Table, textCol: String = "text",
      streamId: String = "")
      extends AnchoredIngestSink(Derived.LmLedger(textCol),
        "LmLedgerIngestSink", initialSink, initialModel, streamId) {
    def model: Table = indexRef
  }

  def lmLedgerIngestSink(sink: Table, model: Table,
      textCol: String = "text",
      streamId: String = ""): LmLedgerIngestSink =
    new LmLedgerIngestSink(sink, model, textCol, streamId)

  /** Streaming classifier-ledger ingestion for `writeStream
    * .foreachBatch` — the classifier twin of [[LmLedgerIngestSink]],
    * backed by a persisted `train_classifier` model table: each
    * micro-batch's documents append to the corpus table and their
    * bucket-count DELTAS ([[graft.ops.Classifier.labelCounts]],
    * labeled with the model's STAMPED predicate) to the ledger, the
    * stamped token totals advancing by exact long arithmetic. Bucket
    * counts are additive over disjoint document sets, so the streamed
    * ledger equals a full refit at EVERY batch boundary (the i54
    * "chain == rebuild" contract held live), and
    * `train_classifier(incremental => true)` keeps chaining the same
    * model after the stream stops. Retried micro-batch ids are
    * skipped — including across driver restarts, via the stamped
    * last-batch-id ([[Streams.stampedBatchId]]). */
  final class ClassifierLedgerIngestSink(initialSink: Table,
      initialModel: Table, textCol: String = "text",
      streamId: String = "")
      extends AnchoredIngestSink(Derived.ClfLedger(textCol),
        "ClassifierLedgerIngestSink", initialSink, initialModel,
        streamId) {
    def model: Table = indexRef
  }

  def classifierLedgerIngestSink(sink: Table, model: Table,
      textCol: String = "text",
      streamId: String = ""): ClassifierLedgerIngestSink =
    new ClassifierLedgerIngestSink(sink, model, textCol, streamId)

  /** Streaming PQ-index ingestion for `writeStream.foreachBatch` —
    * the codes twin of [[AnnIndexIngestSink]], backed by a persisted
    * `build_pq_index` table: each micro-batch's vectors append to the
    * corpus table and their PQ codes (encoded with the index's FROZEN
    * stamped codebooks) to the codes table, snapshot stamp advancing
    * with the corpus head. Codes are
    * per-row deterministic given the frozen model, so — like the batch
    * chain i44 gates — the streamed index equals a frozen-model
    * re-encode at every batch boundary, and `build_pq_index(
    * incremental => true)` keeps chaining after the stream stops.
    * Wrong-dim rows land in the corpus but not the index. Retried
    * micro-batch ids are skipped — including across driver
    * restarts, via the stamped last-batch-id
    * ([[Streams.stampedBatchId]]). */
  final class PqIndexIngestSink(initialSink: Table, initialIndex: Table,
      vecCol: String = "embedding", idCol: String = "vec_id",
      streamId: String = "")
      extends AnchoredIngestSink(Derived.PqCodes(vecCol, idCol),
        "PqIndexIngestSink", initialSink, initialIndex, streamId)

  def pqIndexIngestSink(sink: Table, index: Table,
      vecCol: String = "embedding", idCol: String = "vec_id",
      streamId: String = ""): PqIndexIngestSink =
    new PqIndexIngestSink(sink, index, vecCol, idCol, streamId)

  /** Watermarked tumbling-window rollup: the streaming analog of the
    * q13 batch query. `events` must carry an event-time column. */
  def windowedRollup(events: DataFrame, tsCol: String = "ts",
      keyCol: String = "event_type", valueCol: String = "value",
      window_ : String = "5 minutes",
      watermark: String = "10 minutes"): DataFrame =
    events
      .withWatermark(tsCol, watermark)
      .groupBy(window(col(tsCol), window_), col(keyCol))
      .agg(count(lit(1)).as("n"), sum(col(valueCol)).as("total_value"))

  /** Streaming ingest dedup: drop documents whose fingerprint already
    * exists in `corpus` (the historical table, digests materialized at
    * stream start) or appeared earlier in this stream.
    *
    * Spark-first composition, no custom state code, ordered for scale:
    *  - the corpus digest set is materialized ONCE, eagerly, via
    *    `localCheckpoint` — a stream-static join re-executes its static
    *    side every micro-batch, and without the materialization that
    *    would be a full corpus scan + distinct per batch. (Not
    *    `persist`: CacheManager holds caches strongly until an explicit
    *    unpersist, so repeated stream restarts would leak a digest set
    *    per restart; checkpoint blocks are reclaimed by the
    *    ContextCleaner once the returned plan is garbage-collected.)
    *  - the LEFT ANTI join against the corpus runs BEFORE the in-stream
    *    `dropDuplicates`, so corpus-duplicates (the bulk of a re-crawl)
    *    never enter the streaming state store — state holds only
    *    fingerprints of genuinely new documents;
    *  - only 16-byte digests ever shuffle, checkpoint, or sit in
    *    state — never document text. */
  def dedupIngest(stream: DataFrame, corpus: DataFrame,
      textCol: String = "text"): DataFrame = {
    val (fresh, fpCol) = corpusAntiJoined(stream, corpus, textCol)
    // NULL-text rows have no fingerprint and are NEVER collapsed (the
    // Dedup.exact rule — a missing body is not "the same document" as
    // another missing body): they bypass the state store entirely.
    // Keyed dropDuplicates would instead treat every NULL key as
    // EQUAL and silently keep only the first missing-body row.
    fresh.where(col(fpCol).isNotNull).dropDuplicates(fpCol)
      .unionByName(fresh.where(col(fpCol).isNull))
      .drop(fpCol)
  }

  /** Shared prefix of both ingest-dedup variants: fingerprint the
    * stream (collision-proof working column) and anti-join it against
    * the once-materialized corpus digest set. Returns the surviving
    * stream plus the fingerprint column name for the caller's
    * state-store stage to key on. */
  private def corpusAntiJoined(stream: DataFrame, corpus: DataFrame,
      textCol: String): (DataFrame, String) = {
    val fp = graft.ops.TextAnalysis.fingerprint(col(textCol))
    val fpCol = graft.util.Names.fresh(stream.columns)(i => s"__graft_fp$i")
    val corpusFps = corpus.select(fp.as(fpCol)).distinct()
      .localCheckpoint(true)
    (stream.withColumn(fpCol, fp)
      .join(corpusFps, Seq(fpCol), "left_anti"), fpCol)
  }

  /** [[dedupIngest]] with BOUNDED state — the deployment answer for a
    * stream that never ends. Unbounded `dropDuplicates` state grows
    * with every novel document forever; here fingerprints expire once
    * the event-time watermark passes them
    * (`dropDuplicatesWithinWatermark`), so the state store holds only
    * the recent-dedup horizon. The contract weakens accordingly and
    * deliberately: a duplicate arriving AFTER the horizon is kept
    * unless the corpus anti-join catches it — and that corpus digest
    * set is materialized ONCE, at plan build (localCheckpoint), so it
    * covers what the corpus frame contained when the query STARTED,
    * not rows committed while the stream runs. A duplicate of a
    * document that entered the corpus mid-stream and then re-arrives
    * past the horizon is therefore kept; restart the query (or rebuild
    * the plan) to refresh the digest set. Re-crawls repeat within
    * days, so the horizon covers the common case. */
  def dedupIngestBounded(stream: DataFrame, corpus: DataFrame,
      tsCol: String, delay: String,
      textCol: String = "text"): DataFrame = {
    val (fresh0, fpCol) = corpusAntiJoined(stream, corpus, textCol)
    val fresh = fresh0.withWatermark(tsCol, delay)
    // NULL-text rows bypass the state store, same as [[dedupIngest]]
    fresh.where(col(fpCol).isNotNull)
      .dropDuplicatesWithinWatermark(fpCol)
      .unionByName(fresh.where(col(fpCol).isNull))
      .drop(fpCol)
  }

  /** Session state for the stateful-op example. */
  final case class UserSession(userId: Long, nEvents: Long,
      totalValue: Double, lastTs: Long)
  final case class SessionUpdate(userId: Long, nEvents: Long,
      totalValue: Double, closed: Boolean)

  /** Custom per-key state via flatMapGroupsWithState — the
    * KeyValueGroupedDataset state machinery. Default is NoTimeout so
    * `processAllAvailable` settles (ProcessingTimeTimeout keeps
    * scheduling timer batches and never quiesces); pass `withTimeout =
    * true` for session expiry in a continuously-running deployment. */
  def sessionize(events: Dataset[(Long, Double, Long)],
      withTimeout: Boolean = false): Dataset[SessionUpdate] = {
    val spark = events.sparkSession
    import spark.implicits._
    val timeoutConf =
      if (withTimeout) GroupStateTimeout.ProcessingTimeTimeout
      else GroupStateTimeout.NoTimeout
    events.groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Update, timeoutConf) {
        (userId: Long, rows: Iterator[(Long, Double, Long)],
         state: GroupState[UserSession]) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator(SessionUpdate(userId, s.nEvents, s.totalValue,
              closed = true))
          } else {
            val buffered = rows.toSeq
            val prev = state.getOption
              .getOrElse(UserSession(userId, 0L, 0.0, 0L))
            val next = UserSession(
              userId,
              prev.nEvents + buffered.size,
              prev.totalValue + buffered.map(_._2).sum,
              math.max(prev.lastTs, buffered.map(_._3).maxOption
                .getOrElse(0L)))
            state.update(next)
            if (withTimeout) state.setTimeoutDuration("30 seconds")
            Iterator(SessionUpdate(userId, next.nEvents, next.totalValue,
              closed = false))
          }
      }
  }

  /** Incremental table tailer — the CONSUMPTION side of the streaming
    * loop (writeStream lands snapshots via [[IcebergStreamSink]]; this
    * drains them). Each `poll()` refreshes the table, plans ONLY the
    * snapshots appended since the last consumed one
    * ([[graft.table.Scan.appendsBetween]] — added entries, manifest
    * reads skipped via addedSnapshotId), hands the batch to `fn`, and
    * durably records progress in
    * `<table>/metadata/tail-checkpoint-<name>` AFTER fn returns —
    * at-least-once on crash between fn and the checkpoint write, the
    * same contract as foreachBatch. Restarts resume from the recorded
    * snapshot. */
  final class TableTailer(initial: Table,
      spark: org.apache.spark.sql.SparkSession,
      name: String = "default",
      /** Overwrite snapshots in a polled range FAIL the poll by default
        * (an upsert's new rows would otherwise be silently lost — see
        * [[graft.table.Scan.appendsBetween]]); opt in to skipping them
        * when the producer is known to only rewrite, never add. */
      skipOverwrites: Boolean = false) {
    private var tableRef: Table = initial
    private val ckptPath = initial.location.stripSuffix("/") +
      s"/metadata/tail-checkpoint-$name"

    private def readCheckpoint(): Option[Long] =
      if (!tableRef.io.exists(ckptPath)) None
      else {
        val raw = new String(tableRef.io.readAllBytes(ckptPath), "UTF-8").trim
        try Some(raw.toLong)
        catch {
          case _: NumberFormatException =>
            // a corrupt checkpoint must not wedge every subsequent poll
            // with a bare NumberFormatException; surface what happened
            // and how to recover.
            throw new IllegalStateException(
              s"tail checkpoint $ckptPath is corrupt (content: " +
                s"'${raw.take(64)}'); delete it to restart the tailer " +
                "from the full table (at-least-once redelivery)")
        }
      }

    /** Durable progress record: temp-file + rename so a crash mid-write
      * can never leave a truncated checkpoint behind. */
    private def writeCheckpoint(snapshotId: Long): Unit = {
      val tmp = ckptPath + ".tmp"
      tableRef.io.writeString(tmp, snapshotId.toString, overwrite = true)
      tableRef.io.rename(tmp, ckptPath)
    }

    /** Consume everything appended since the checkpoint; returns the
      * number of snapshots drained (0 = caught up). */
    def poll(fn: DataFrame => Unit): Int = {
      tableRef = tableRef.refresh()
      val current = tableRef.currentSnapshot.getOrElse(return 0)
      val from = readCheckpoint()
      if (from.contains(current.snapshotId)) return 0
      val scan = from match {
        case Some(f) =>
          val s = graft.table.Scan(tableRef, spark)
            .appendsBetween(f, current.snapshotId)
          if (skipOverwrites)
            s.option("incremental-skip-overwrites", "true")
          else s
        case None => graft.table.Scan(tableRef, spark)
          .useSnapshot(current.snapshotId) // first poll: full table
      }
      fn(scan.toDF)
      writeCheckpoint(current.snapshotId)
      // snapshots drained this poll (for monitoring)
      var n = 0
      var cur: Option[graft.spec.Snapshot] = Some(current)
      while (cur.isDefined && !from.contains(cur.get.snapshotId)) {
        n += 1
        cur = cur.get.parentSnapshotId.flatMap(tableRef.snapshotById)
      }
      n
    }

    def table: Table = tableRef
  }

  def tailer(table: Table, spark: org.apache.spark.sql.SparkSession,
      name: String = "default",
      skipOverwrites: Boolean = false): TableTailer =
    new TableTailer(table, spark, name, skipOverwrites)
}
