package graft.sources

import java.util.{Iterator => JIterator}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.Identifier
import org.apache.spark.sql.connector.catalog.procedures.{
  BoundProcedure, ProcedureParameter, UnboundProcedure}
import org.apache.spark.sql.connector.read.{LocalScan, Scan => V2Scan}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.catalog.{Catalog, TableIdentifier}
import graft.io.FileIO
import graft.table.{DataWriter, Derived, Maintenance, Table}

/** `CALL graft.system.<proc>(...)` — SQL maintenance procedures, the
  * operational face of [[graft.table.Maintenance]] and the ref API
  * (Iceberg exposes the same set as Spark procedures; the reference
  * leaves maintenance entirely programmatic).
  *
  * All procedures take the table as `ns` + `table` string args, run
  * driver-side (they are metadata operations; `compact` launches
  * distributed rewrite jobs), and return a one-row result summarizing
  * what changed.
  */
private[sources] object GraftProcedures {

  def list: Array[Identifier] =
    Names.map(n => Identifier.of(Array("system"), n)).toArray

  val Names: Seq[String] = Seq("expire_snapshots", "compact",
    "rollback_to_snapshot", "set_ref", "remove_ref",
    "remove_orphan_files", "rewrite_manifests", "create_changelog_view",
    "rewrite_data_files", "fast_forward", "add_files",
    "register_table", "dedup_table", "cherrypick_snapshot",
    "rewrite_position_deletes", "rewrite_equality_deletes",
    "build_dedup_index", "build_ann_index", "build_text_index",
    "build_pq_index", "text_search", "ann_search", "pq_search",
    "hybrid_search", "mmr_search", "hybrid_mmr_search",
    "sample_mixture", "sample_budget",
    "pack_corpus",
    "train_tokenizer", "segment_text", "corpus_diff",
    "train_lm", "score_text", "train_classifier", "classify_text",
    "corpus_stats", "ancestors_of")

  def load(catalog: Catalog, io: FileIO,
      ident: Identifier): Option[UnboundProcedure] =
    if (!ident.namespace.sameElements(Array("system"))) None
    else Names.find(_ == ident.name).map(n =>
      new GraftUnboundProcedure(n, catalog, io))

  private[sources] def loadTable(catalog: Catalog, io: FileIO,
      ns: String, tbl: String): Table =
    Table.load(catalog, TableIdentifier(ns.split('.').toSeq, tbl), io)
}

private[sources] class GraftUnboundProcedure(
    procName: String, catalog: Catalog, io: FileIO)
    extends UnboundProcedure {

  override def name(): String = procName
  override def description(): String = s"graft maintenance: $procName"

  override def bind(inputType: StructType): BoundProcedure =
    new GraftBoundProcedure(procName, catalog, io)
}

private[sources] class GraftBoundProcedure(
    procName: String, catalog: Catalog, io: FileIO)
    extends BoundProcedure {

  import GraftProcedures.loadTable

  override def name(): String = procName
  override def description(): String = s"graft maintenance: $procName"
  override def isDeterministic: Boolean = false

  private def p(n: String, t: DataType): ProcedureParameter =
    ProcedureParameter.in(n, t).build()
  private def pDefault(n: String, t: DataType,
      default: String): ProcedureParameter =
    ProcedureParameter.in(n, t).defaultValue(default).build()

  override def parameters(): Array[ProcedureParameter] = procName match {
    case "expire_snapshots" => Array(
      p("ns", StringType), p("table", StringType),
      // -1 sentinel → now - 5 days at call time (Iceberg's default
      // retention window). A MaxValue default here would make a bare
      // CALL expire every non-current snapshot and GC their files —
      // scripts ported from Iceberg would destroy history by accident.
      pDefault("older_than_ms", LongType, "-1"),
      pDefault("retain_last", IntegerType, "1"))
    case "compact" => Array(
      p("ns", StringType), p("table", StringType),
      pDefault("target_file_size_bytes", LongType,
        (128L * 1024 * 1024).toString))
    case "rollback_to_snapshot" => Array(
      p("ns", StringType), p("table", StringType),
      p("snapshot_id", LongType))
    case "cherrypick_snapshot" => Array(
      p("ns", StringType), p("table", StringType),
      p("snapshot_id", LongType))
    case "set_ref" => Array(
      p("ns", StringType), p("table", StringType),
      p("name", StringType), p("snapshot_id", LongType),
      pDefault("type", StringType, "'branch'"))
    case "remove_ref" => Array(
      p("ns", StringType), p("table", StringType),
      p("name", StringType))
    case "fast_forward" => Array(
      p("ns", StringType), p("table", StringType),
      p("branch", StringType), p("to", StringType))
    case "remove_orphan_files" => Array(
      p("ns", StringType), p("table", StringType),
      // -1 sentinel → now - 3 days at call time (Iceberg's default):
      // never race in-flight writers by default
      pDefault("older_than_ms", LongType, "-1"),
      pDefault("dry_run", BooleanType, "false"))
    case "rewrite_manifests" => Array(
      p("ns", StringType), p("table", StringType),
      pDefault("max_entries_per_manifest", IntegerType, "100000"))
    case "create_changelog_view" => Array(
      p("ns", StringType), p("table", StringType),
      p("from_snapshot_id", LongType),
      // -1 sentinel → the current snapshot
      pDefault("to_snapshot_id", LongType, "-1"),
      // '' sentinel → "<table>_changes"
      pDefault("view_name", StringType, "''"),
      pDefault("net_changes", BooleanType, "false"),
      // CoW rewrite churn (identical DELETE+INSERT pairs) dropped by
      // default, matching Iceberg's create_changelog_view
      pDefault("remove_carryovers", BooleanType, "true"),
      // 'c1,c2' → pair same-commit DELETE/INSERT on these keys into
      // UPDATE_BEFORE / UPDATE_AFTER (compute_updates)
      pDefault("identifier_columns", StringType, "''"))
    case "add_files" => Array(
      p("ns", StringType), p("table", StringType),
      // comma-separated parquet paths and/or directories (a directory
      // expands to its *.parquet children), registered IN PLACE (no
      // rewrite). Partitioned tables need per-partition values -> use
      // the Scala API (TableOps.addFiles) one partition at a time.
      p("files", StringType),
      pDefault("check_duplicate_files", BooleanType, "true"))
    case "register_table" => Array(
      p("ns", StringType), p("table", StringType),
      p("metadata_location", StringType))
    case "dedup_table" => Array(
      p("ns", StringType), p("table", StringType),
      // 'exact' (fingerprint, keep min id) | 'minhash' (near-dup
      // clusters via LSH, keep min id per cluster) | 'best' (near-dup
      // clusters, keep max-quality_col member, min id on ties)
      pDefault("mode", StringType, "'exact'"),
      pDefault("text_col", StringType, "'text'"),
      pDefault("id_col", StringType, "'doc_id'"),
      // minhash/best verify threshold; ignored for exact
      pDefault("threshold", DoubleType, "0.8"),
      // required for mode='best'; ignored otherwise
      pDefault("quality_col", StringType, "''"),
      // >= 0: INCREMENTAL dedup — treat the table as of this snapshot
      // as the canonical base and dedup only rows appended after it
      // (one MoR equality-delete commit of new-row ids; base files
      // untouched). -1 (default): full-table dedup, one overwrite.
      pDefault("since_snapshot_id", LongType, "-1"),
      // non-'': incremental-only — dedup the batch against this
      // build_dedup_index table instead of re-reading the base corpus
      // (validated against the index's recorded source snapshot =
      // since_snapshot_id); surviving batch signatures are appended to
      // the index and its recorded snapshot advances, so the next
      // batch can chain.
      pDefault("index_table", StringType, "''"))
    case "build_dedup_index" => Array(
      p("ns", StringType), p("table", StringType),
      pDefault("text_col", StringType, "'text'"),
      pDefault("id_col", StringType, "'doc_id'"),
      pDefault("num_hashes", IntegerType, "64"),
      // '' → "<table>_minhash_idx" in the same namespace
      pDefault("index_table", StringType, "''"),
      // -1 → the current snapshot; else index the table AS OF this id
      pDefault("snapshot_id", LongType, "-1"))
    case "build_ann_index" => Array(
      p("ns", StringType), p("table", StringType),
      pDefault("vec_col", StringType, "'embedding'"),
      pDefault("id_col", StringType, "'vec_id'"),
      pDefault("n_centroids", IntegerType, "16"),
      // '' → "<table>_ann_idx" in the same namespace
      pDefault("index_table", StringType, "''"),
      // -1 → the current snapshot; else index the table AS OF this id
      pDefault("snapshot_id", LongType, "-1"),
      pDefault("seed", LongType, "42"),
      // true → chain the EXISTING index: assign only rows appended
      // since its recorded snapshot with the STAMPED centroids (no
      // refit, no base rescan), in one commit with the new anchor
      pDefault("incremental", BooleanType, "false"))
    case "build_text_index" => Array(
      p("ns", StringType), p("table", StringType),
      pDefault("text_col", StringType, "'text'"),
      pDefault("id_col", StringType, "'doc_id'"),
      pDefault("num_buckets", IntegerType, "16"),
      // '' → "<table>_text_idx" in the same namespace
      pDefault("index_table", StringType, "''"),
      // -1 → the current snapshot; else index the table AS OF this id
      pDefault("snapshot_id", LongType, "-1"),
      // true → chain: postings of rows appended since the recorded
      // snapshot appended into their term buckets, stats updated by
      // exact long arithmetic — identical to a full rebuild
      pDefault("incremental", BooleanType, "false"))
    case "build_pq_index" => Array(
      p("ns", StringType), p("table", StringType),
      pDefault("vec_col", StringType, "'embedding'"),
      pDefault("id_col", StringType, "'vec_id'"),
      pDefault("m", IntegerType, "4"),      // subspaces
      pDefault("ksub", IntegerType, "8"),   // centroids per subspace
      // '' → "<table>_pq_idx" in the same namespace
      pDefault("index_table", StringType, "''"),
      // -1 → the current snapshot; else index the table AS OF this id
      pDefault("snapshot_id", LongType, "-1"),
      pDefault("seed", LongType, "42"),
      // true → chain: encode only rows appended since the recorded
      // snapshot with the STAMPED codebooks (no refit, no base rescan)
      pDefault("incremental", BooleanType, "false"))
    case "train_tokenizer" => Array(
      p("ns", StringType), p("table", StringType),
      pDefault("text_col", StringType, "'text'"),
      pDefault("max_piece_len", IntegerType,
        GraftBoundProcedure.TokDefaultMaxPieceLen.toString),
      // '' -> "<table>_tok_model" in the same namespace
      pDefault("model_table", StringType, "''"),
      // -1 -> the current snapshot; else train AS OF this id
      pDefault("snapshot_id", LongType, "-1"),
      // true -> chain: piece-count DELTAS of rows appended since the
      // recorded snapshot append into the ledger, total advances by
      // exact long arithmetic -- counts are additive over disjoint
      // doc sets, so the chained model IS the full-rebuild model
      pDefault("incremental", BooleanType, "false"))
    case "corpus_diff" => Array(
      p("ns", StringType), p("table", StringType),
      p("from_snapshot", LongType),
      // -1 -> the current snapshot
      pDefault("to_snapshot", LongType, "-1"),
      pDefault("text_col", StringType, "'text'"),
      pDefault("id_col", StringType, "'doc_id'"))
    case "segment_text" => Array(
      p("ns", StringType), p("model_table", StringType),
      p("text", StringType),
      // the vocabulary size is a READ-time parameter: the persisted
      // ledger is vocab-size-agnostic
      pDefault("vocab_size", IntegerType, "64"))
    case "train_lm" => Array(
      p("ns", StringType), p("table", StringType),
      pDefault("text_col", StringType, "'text'"),
      // '' -> "<table>_lm_model" in the same namespace
      pDefault("model_table", StringType, "''"),
      // -1 -> the current snapshot; else train AS OF this id
      pDefault("snapshot_id", LongType, "-1"),
      // true -> chain: gram-count DELTAS of rows appended since the
      // recorded snapshot append into the ledger -- counts are
      // additive over disjoint doc sets, so the chained model IS the
      // full-rebuild model after the read path's sum-merge
      pDefault("incremental", BooleanType, "false"))
    case "score_text" => Array(
      p("ns", StringType), p("model_table", StringType),
      p("text", StringType))
    case "train_classifier" => Array(
      p("ns", StringType), p("table", StringType),
      // SQL boolean expression over the table's columns: true rows
      // are the positive sample, false negative, NULL neither (3VL)
      p("label_pred", StringType),
      pDefault("text_col", StringType, "'text'"),
      // '' -> "<table>_clf_model" in the same namespace
      pDefault("model_table", StringType, "''"),
      // -1 -> the current snapshot; else train AS OF this id
      pDefault("snapshot_id", LongType, "-1"),
      // true -> chain: bucket-count DELTAS of rows appended since the
      // recorded snapshot append into the ledger -- counts are
      // additive over disjoint doc sets, so the chained model IS the
      // full-refit model after the read path's sum-merge
      pDefault("incremental", BooleanType, "false"))
    case "classify_text" => Array(
      p("ns", StringType), p("model_table", StringType),
      p("text", StringType))
    case "corpus_stats" => Array(
      p("ns", StringType), p("table", StringType),
      pDefault("text_col", StringType, "'text'"),
      // -1 -> the current snapshot; else audit the table AS OF this id
      pDefault("snapshot_id", LongType, "-1"))
    case "ancestors_of" => Array(
      p("ns", StringType), p("table", StringType),
      // -1 -> walk up from the current snapshot
      pDefault("snapshot_id", LongType, "-1"))
    case "text_search" => Array(
      p("ns", StringType), p("index_table", StringType),
      p("query", StringType),
      pDefault("k", IntegerType, "10"))
    case "ann_search" => Array(
      p("ns", StringType), p("index_table", StringType),
      // the query vector as a JSON number array, e.g. '[0.1, -2.5]'
      p("query", StringType),
      pDefault("k", IntegerType, "10"),
      pDefault("nprobe", IntegerType, "3"))
    case "pq_search" => Array(
      p("ns", StringType), p("index_table", StringType),
      // the query vector as a JSON number array, e.g. '[0.1, -2.5]'
      p("query", StringType),
      pDefault("k", IntegerType, "10"))
    case "hybrid_search" => Array(
      p("ns", StringType), p("text_index", StringType),
      p("ann_index", StringType),
      // the lexical query string (BM25 over the text index)
      p("query", StringType),
      // the query vector as a JSON number array (IVF over the
      // ann index)
      p("query_vec", StringType),
      pDefault("k", IntegerType, "10"),
      // per-retriever candidate-list depth before fusion
      pDefault("k_per_list", IntegerType, "20"),
      pDefault("nprobe", IntegerType, "3"),
      // the RRF constant: contributions are RrfScale div (k_rrf+rank)
      pDefault("k_rrf", IntegerType, "60"))
    case "mmr_search" => Array(
      p("ns", StringType), p("index_table", StringType),
      // the query vector as a JSON number array
      p("query", StringType),
      pDefault("k", IntegerType, "5"),
      // IVF candidate-list depth before the MMR re-rank
      pDefault("candidates", IntegerType, "12"),
      pDefault("nprobe", IntegerType, "3"),
      // λ = lam_num/lam_den: 1 → pure relevance, 0 → pure diversity
      pDefault("lam_num", LongType, "7"),
      pDefault("lam_den", LongType, "10"))
    case "hybrid_mmr_search" => Array(
      p("ns", StringType), p("text_index", StringType),
      p("ann_index", StringType),
      // the lexical query string (BM25 over the text index)
      p("query", StringType),
      // the query vector as a JSON number array (IVF over the
      // ann index)
      p("query_vec", StringType),
      pDefault("k", IntegerType, "5"),
      // fused candidate-list depth before the MMR re-rank
      pDefault("candidates", IntegerType, "12"),
      // per-retriever candidate-list depth before fusion
      pDefault("k_per_list", IntegerType, "20"),
      pDefault("nprobe", IntegerType, "3"),
      // the RRF constant: contributions are RrfScale div (k_rrf+rank)
      pDefault("k_rrf", IntegerType, "60"),
      // λ = lam_num/lam_den: 1 → pure relevance, 0 → pure diversity
      pDefault("lam_num", LongType, "7"),
      pDefault("lam_den", LongType, "10"))
    case "sample_mixture" => Array(
      p("ns", StringType), p("table", StringType),
      // JSON object of stratum -> non-negative integer weight,
      // e.g. '{"web": 5, "code": 3}'
      p("weights", StringType),
      p("total_n", LongType),
      pDefault("stratum_col", StringType, "'source'"),
      pDefault("id_col", StringType, "'doc_id'"),
      // '' -> "<table>_sample" in the same namespace
      pDefault("target_table", StringType, "''"),
      // -1 -> the current snapshot; else sample the table AS OF it
      pDefault("snapshot_id", LongType, "-1"))
    case "pack_corpus" => Array(
      p("ns", StringType), p("table", StringType),
      // context-window capacity in tokens (whitespace token count of
      // text_col); a document larger than it packs into a bin alone
      p("window", LongType),
      pDefault("text_col", StringType, "'text'"),
      pDefault("id_col", StringType, "'doc_id'"),
      // shard = id div docs_per_shard: the greedy fold's parallelism
      // unit (sequential within a shard, parallel across shards)
      pDefault("docs_per_shard", LongType,
        GraftBoundProcedure.PackDefaultDocsPerShard.toString),
      // '' -> "<table>_packed" in the same namespace
      pDefault("target_table", StringType, "''"),
      // -1 -> the current snapshot; else pack the table AS OF it
      pDefault("snapshot_id", LongType, "-1"),
      // true → chain: pack only rows appended since the recorded
      // snapshot into NEW shards (appends into already-packed shards
      // are refused — they would change existing bins)
      pDefault("incremental", BooleanType, "false"))
    case "sample_budget" => Array(
      p("ns", StringType), p("table", StringType),
      // per-doc cost column (token count, char count, bytes)
      p("cost_col", StringType),
      // per-stratum inclusive cost cap
      p("budget", LongType),
      pDefault("stratum_col", StringType, "'source'"),
      pDefault("id_col", StringType, "'doc_id'"),
      // '' -> "<table>_sample" in the same namespace
      pDefault("target_table", StringType, "''"),
      // -1 -> the current snapshot; else sample the table AS OF it
      pDefault("snapshot_id", LongType, "-1"))
    case "rewrite_data_files" => Array(
      p("ns", StringType), p("table", StringType),
      // '' → incremental bin-pack; 'c1,c2' → FULL z-order rewrite
      pDefault("zorder_by", StringType, "''"),
      pDefault("target_file_size_bytes", LongType,
        (128L * 1024 * 1024).toString))
    case "rewrite_position_deletes" => Array(
      p("ns", StringType), p("table", StringType))
    case "rewrite_equality_deletes" => Array(
      p("ns", StringType), p("table", StringType))
  }

  override def call(input: InternalRow): JIterator[V2Scan] = {
    val spark = SparkSession.active
    val ns = input.getUTF8String(0).toString
    val tbl = input.getUTF8String(1).toString
    // lazy: register_table CREATES the entry — loading it would throw
    lazy val t = loadTable(catalog, io, ns, tbl)
    // the search procedures return RESULT SETS (top-k rows); every
    // maintenance procedure returns its one report row
    val (schema, resultRows): (StructType, Seq[Seq[Any]]) =
      procName match {
        case "text_search" => textSearch(t, spark, input)
        case "ann_search" => annSearch(t, spark, input)
        case "pq_search" => pqSearch(t, spark, input)
        case "hybrid_search" => hybridSearch(t, spark, input)
        case "mmr_search" => mmrSearch(t, spark, input)
        case "hybrid_mmr_search" => hybridMmrSearch(t, spark, input)
        case "segment_text" => segmentText(t, spark, input)
        case "score_text" => scoreText(t, spark, input)
        case "classify_text" => classifyText(t, spark, input)
        case "ancestors_of" => ancestorsOf(t, input)
        case _ => singleRowCall(t, spark, ns, tbl, input)
      }
    val result: V2Scan = new LocalScan {
      override def readSchema(): StructType = schema
      override def rows: Array[InternalRow] = resultRows.map(row =>
        new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
          row.map {
            case s: String => UTF8String.fromString(s)
            case other => other.asInstanceOf[AnyRef]
          }.toArray[Any]): InternalRow).toArray
    }
    Seq(result).asJava.iterator()
  }

  private def singleRowCall(t0: => Table,
      spark: org.apache.spark.sql.SparkSession, ns: String, tbl: String,
      input: InternalRow): (StructType, Seq[Seq[Any]]) = {
    lazy val t = t0
    val (schema, row): (StructType, Seq[Any]) = procName match {
      case "expire_snapshots" =>
        val raw = input.getLong(2)
        val olderThan =
          if (raw == -1L) System.currentTimeMillis() - 5L * 24 * 3600 * 1000
          else raw
        val retain = input.getInt(3)
        val before = t.metadata.snapshots.size
        val after = Maintenance.expireSnapshots(t, olderThan, retain)
        (new StructType().add("expired_snapshots", IntegerType),
          Seq(before - after.metadata.snapshots.size))
      case "compact" =>
        val target = input.getLong(2)
        val before = graft.table.Scan(t, spark).planFiles().size
        val after = Maintenance.compactDataFiles(t, spark, target)
        val now = graft.table.Scan(after, spark).planFiles().size
        (new StructType().add("files_before", IntegerType)
          .add("files_after", IntegerType), Seq(before, now))
      case "rollback_to_snapshot" =>
        val sid = input.getLong(2)
        if (t.snapshotById(sid).isEmpty)
          throw new IllegalArgumentException(
            s"rollback_to_snapshot: snapshot $sid not found in $ns.$tbl")
        t.newTransaction().setRef("main", sid).commit()
        (new StructType().add("current_snapshot_id", LongType), Seq(sid))
      case "cherrypick_snapshot" =>
        // WAP publish for the non-fast-forwardable case: re-commit an
        // APPEND snapshot's added files onto the CURRENT head as a new
        // append. The data files are shared, never copied — this is a
        // metadata operation; only manifests are written.
        val sid = input.getLong(2)
        val src = t.snapshotById(sid).getOrElse(
          throw new IllegalArgumentException(
            s"cherrypick_snapshot: snapshot $sid not found in $ns.$tbl"))
        val ancestors = Iterator.iterate(t.currentSnapshot)(
          _.flatMap(_.parentSnapshotId).flatMap(t.snapshotById))
          .takeWhile(_.isDefined).map(_.get.snapshotId).toSet
        if (ancestors.contains(sid))
          throw new IllegalArgumentException(
            s"cherrypick_snapshot: snapshot $sid is already an ancestor " +
              "of the current snapshot — nothing to publish")
        // the summary must be PRESENT and say Append: a summary-less
        // snapshot could be a delete/rewrite whose Added entries would
        // re-deliver pre-existing rows if republished as an append
        val op = src.summary.map(_.operation)
        if (op.isEmpty)
          throw new UnsupportedOperationException(
            s"cherrypick_snapshot: snapshot $sid has no operation " +
              "summary — cannot prove it is append-only, refusing to " +
              "republish its Added files")
        if (!op.contains(graft.spec.Operation.Append))
          throw new UnsupportedOperationException(
            s"cherrypick_snapshot: snapshot $sid is a " +
              s"${op.map(_.name).getOrElse("?")} — only append snapshots " +
              "can be cherry-picked (a rewrite's Added entries re-deliver " +
              "pre-existing rows, and its deletes cannot be replayed " +
              "against a different base)")
        val added = t.manifestList(src)
          .filter(mf =>
            mf.content == graft.spec.ManifestContent.Data &&
              mf.addedSnapshotId == src.snapshotId)
          .flatMap(mf => t.readManifest(mf).entries
            .filter(e => e.status == graft.spec.EntryStatus.Added &&
              e.snapshotId.forall(_ == src.snapshotId))
            .map(_.dataFile))
        // double-publish guard: a picked file already live on the
        // current head would double-count its rows forever
        val live = graft.table.Scan(t, spark).planFiles()
          .map(ft => DataWriter.normalizePath(ft.file.filePath)).toSet
        val dup = added
          .filter(f => live.contains(DataWriter.normalizePath(f.filePath)))
        if (dup.nonEmpty)
          throw new IllegalArgumentException(
            s"cherrypick_snapshot: snapshot $sid was already published — " +
              s"${dup.head.filePath} is live on the current head")
        val after = t.commitSnapshot(graft.table.PendingSnapshot(
          graft.spec.Operation.Append, addedDataFiles = added))
        (new StructType().add("source_snapshot_id", LongType)
          .add("current_snapshot_id", LongType)
          .add("added_files", LongType).add("added_records", LongType),
          Seq(sid, after.currentSnapshot.get.snapshotId,
            added.size.toLong, added.map(_.recordCount).sum))
      case "set_ref" =>
        val refName = input.getUTF8String(2).toString
        val sid = input.getLong(3)
        val refType = input.getUTF8String(4).toString
        if (t.snapshotById(sid).isEmpty)
          throw new IllegalArgumentException(
            s"set_ref: snapshot $sid not found in $ns.$tbl")
        t.newTransaction().setRef(refName, sid, refType = refType).commit()
        (new StructType().add("name", StringType)
          .add("snapshot_id", LongType), Seq(refName, sid))
      case "remove_ref" =>
        val refName = input.getUTF8String(2).toString
        t.newTransaction().removeRef(refName).commit()
        (new StructType().add("removed", StringType), Seq(refName))
      case "fast_forward" =>
        // publish step of write-audit-publish: move `branch` (usually
        // main) to `to`'s head, but ONLY if that is a true fast-forward
        // — the current head must be an ancestor of the target, or the
        // move would silently drop committed history (Iceberg's
        // system.fast_forward contract).
        val branch = input.getUTF8String(2).toString
        val to = input.getUTF8String(3).toString
        val toHead = t.metadata.ref(to).map(_.snapshotId).getOrElse(
          throw new IllegalArgumentException(
            s"fast_forward: ref '$to' not found in $ns.$tbl"))
        t.metadata.ref(branch).filter(_.refType == "tag").foreach(_ =>
          throw new IllegalArgumentException(
            s"fast_forward: ref '$branch' is a tag — tags are immutable"))
        val fromHead = t.metadata.ref(branch).map(_.snapshotId)
        val ancestors = Iterator.iterate(t.snapshotById(toHead))(
          _.flatMap(_.parentSnapshotId).flatMap(t.snapshotById))
          .takeWhile(_.isDefined).map(_.get.snapshotId).toSet
        fromHead.filterNot(ancestors.contains).foreach(h =>
          throw new IllegalArgumentException(
            s"fast_forward: $branch head $h is not an ancestor of " +
              s"'$to' head $toHead — not a fast-forward"))
        // Pin the branch at the validated head: Transaction.commit
        // re-asserts against RELOADED metadata on retry, so without
        // this requirement a concurrent commit to `branch` between
        // validation and commit would be retried past and silently
        // clobbered — dropping committed history.
        t.newTransaction()
          .require(graft.catalog.TableRequirement.AssertRefSnapshotId(
            branch, fromHead))
          .setRef(branch, toHead).commit()
        (new StructType().add("branch", StringType)
          .add("previous_snapshot_id", LongType)
          .add("current_snapshot_id", LongType),
          Seq(branch, fromHead.getOrElse(-1L), toHead))
      case "remove_orphan_files" =>
        val raw = input.getLong(2)
        val olderThan =
          if (raw == -1L) System.currentTimeMillis() - 3L * 24 * 3600 * 1000
          else raw
        val dryRun = input.getBoolean(3)
        val report = Maintenance.removeOrphanFiles(t, olderThan, dryRun)
        (new StructType().add("orphan_files", IntegerType)
          .add("failed_deletes", IntegerType)
          .add("dry_run", BooleanType),
          Seq(report.deleted.size + report.failed.size,
            report.failed.size, dryRun))
      case "register_table" =>
        val mloc = input.getUTF8String(2).toString
        val meta = catalog.registerTable(
          graft.catalog.TableIdentifier(ns.split('.').toSeq, tbl), mloc)
        (new StructType().add("table_uuid", StringType)
          .add("current_snapshot_id", LongType),
          Seq(meta.tableUuid,
            meta.currentSnapshotId.getOrElse(-1L)))
      case "add_files" =>
        // One comma-separated string (the SQL CALL face). A DIRECTORY
        // element expands to its *.parquet children, so files whose
        // paths contain literal commas can still be imported by
        // passing their parent directory (or the Scala API, which
        // takes a real Seq[String]).
        val raw = input.getUTF8String(2).toString
          .split(',').map(_.trim).filter(_.nonEmpty).toSeq
        val hconf = spark.sessionState.newHadoopConf()
        val paths = raw.flatMap { p =>
          val hp = new org.apache.hadoop.fs.Path(p)
          val fs = hp.getFileSystem(hconf)
          if (fs.getFileStatus(hp).isDirectory)
            fs.listStatus(hp).toSeq.map(_.getPath)
              .filter(_.getName.endsWith(".parquet"))
              .map(_.toString).sorted
          else Seq(p)
        }
        val check = input.getBoolean(3)
        // report from the COMMITTED DataFile entries, not input arity
        val (_, added) = graft.table.TableOps.addFilesDetailed(
          t, spark, paths, checkDuplicates = check)
        (new StructType().add("added_files", LongType)
          .add("added_records", LongType),
          Seq(added.size.toLong, added.map(_.recordCount).sum))
      case "dedup_table" =>
        // the ops-layer dedup run AS A TABLE OPERATION: read the
        // current snapshot, keep canonical documents, commit ONE
        // overwrite snapshot (time travel to the pre-dedup state
        // keeps working; expire_snapshots reclaims it later)
        val mode = input.getUTF8String(2).toString
        val textCol = input.getUTF8String(3).toString
        val idCol = input.getUTF8String(4).toString
        val threshold = input.getDouble(5)
        val qualityCol = input.getUTF8String(6).toString
        val since = input.getLong(7)
        val indexTable = input.getUTF8String(8).toString
        if (indexTable.nonEmpty) {
          if (since < 0L) throw new IllegalArgumentException(
            "dedup_table: index_table requires since_snapshot_id (the " +
              "index path is incremental-only)")
          dedupTableIndexed(t, spark, ns, mode, textCol, idCol,
            threshold, qualityCol, since, indexTable)
        } else if (since >= 0L)
          dedupTableIncremental(t, spark, mode, textCol, idCol,
            threshold, qualityCol, since)
        else {
          val scan = graft.table.Scan(t, spark)
          val df = scan.toDF
          val kept = mode match {
            case "exact" =>
              graft.ops.Dedup.exact(df, textCol, idCol)
            case "minhash" =>
              graft.ops.Dedup.minhashDedup(df, textCol, idCol,
                threshold = threshold)
            case "best" =>
              if (qualityCol.isEmpty) throw new IllegalArgumentException(
                "dedup_table: mode 'best' requires quality_col")
              graft.ops.Dedup.minhashDedupBest(df, qualityCol, textCol,
                idCol, threshold = threshold)
            case other => throw new IllegalArgumentException(
              s"dedup_table: unknown mode '$other' (exact | minhash | best)")
          }
          // metadata-only when no deletes apply — at 100 TB the
          // "before" number must not cost a second full-table pass
          val before = scan.count()
          val after = graft.table.Mutations.overwrite(t, spark, kept)
          // kept count from the COMMITTED snapshot's counters; if a
          // counter is ever absent, fall back to the committed
          // snapshot's (metadata-only) count rather than reporting a
          // nonsense negative
          val added = after.currentSnapshot.flatMap(_.summary)
            .flatMap(_.counters.get(graft.spec.Summary.AddedRecords))
            .getOrElse(graft.table.Scan(after, spark).count())
          (new StructType().add("docs_before", LongType)
            .add("docs_kept", LongType).add("docs_removed", LongType),
            Seq(before, added, before - added))
        }
      case "rewrite_manifests" =>
        val maxEntries = input.getInt(2)
        val before = MetadataTables.currentManifests(t)
          .count(_.content == graft.spec.ManifestContent.Data)
        val after = Maintenance.rewriteManifests(t, maxEntries)
        val now = MetadataTables.currentManifests(after)
          .count(_.content == graft.spec.ManifestContent.Data)
        (new StructType().add("manifests_before", IntegerType)
          .add("manifests_after", IntegerType), Seq(before, now))
      case "create_changelog_view" =>
        // Iceberg's create_changelog_view: register the CDC rows of
        // (from, to] as a temp view for plain-SQL consumption
        val from = input.getLong(2)
        val toRaw = input.getLong(3)
        val to =
          if (toRaw == -1L) t.currentSnapshot.map(_.snapshotId).getOrElse(
            throw new IllegalArgumentException(
              s"create_changelog_view: $ns.$tbl has no snapshots"))
          else toRaw
        val nameRaw = input.getUTF8String(4).toString
        val viewName = if (nameRaw.isEmpty) s"${tbl}_changes" else nameRaw
        val net = input.getBoolean(5)
        val dropCarryovers = input.getBoolean(6)
        val idCols = input.getUTF8String(7).toString
          .split(',').map(_.trim).filter(_.nonEmpty).toSeq
        var df = graft.table.Changelog.between(t, spark, from, to)
        if (net) df = graft.table.Changelog.netChanges(df)
        else {
          if (dropCarryovers)
            df = graft.table.Changelog.removeCarryovers(df)
          if (idCols.nonEmpty)
            df = graft.table.Changelog.withUpdates(df, idCols)
        }
        df.createOrReplaceTempView(viewName)
        (new StructType().add("view_name", StringType)
          .add("from_snapshot_id", LongType).add("to_snapshot_id", LongType),
          Seq(viewName, from, to))
      case "rewrite_data_files" =>
        val zorderBy = input.getUTF8String(2).toString
        val target = input.getLong(3)
        val before = graft.table.Scan(t, spark).planFiles().size
        val after =
          if (zorderBy.isEmpty) Maintenance.compactDataFiles(t, spark, target)
          else Maintenance.zorderRewrite(t, spark,
            zorderBy.split(',').map(_.trim).filter(_.nonEmpty).toSeq, target)
        val now = graft.table.Scan(after, spark).planFiles().size
        (new StructType().add("files_before", IntegerType)
          .add("files_after", IntegerType)
          .add("strategy", StringType),
          Seq(before, now, if (zorderBy.isEmpty) "binpack" else "zorder"))
      case "rewrite_position_deletes" =>
        // consolidate MoR position-delete files: k accumulated delete
        // commits -> ≤1 delete file per partition, dangling rows (data
        // file compacted/CoW-rewritten away) dropped. Data untouched.
        val before = Maintenance.positionDeleteFiles(t)
        val after = Maintenance.rewritePositionDeletes(t, spark)
        val changed = after.currentSnapshot.map(_.snapshotId) !=
          t.currentSnapshot.map(_.snapshotId)
        val now = if (changed) Maintenance.positionDeleteFiles(after)
          else before
        (new StructType()
          .add("rewritten_delete_files", LongType)
          .add("added_delete_files", LongType)
          .add("rewritten_rows", LongType)
          .add("added_rows", LongType),
          if (changed) Seq(before.size.toLong, now.size.toLong,
            before.map(_.recordCount).sum, now.map(_.recordCount).sum)
          else Seq(0L, 0L, 0L, 0L))
      case "rewrite_equality_deletes" =>
        // convert equality-delete files to position deletes and retire
        // them (merging them AS equality files would widen their
        // sequence gates); consolidates with the existing position
        // deletes in the same replace snapshot. Data untouched.
        val eqBefore = Maintenance.equalityDeleteFiles(t)
        val posBefore = Maintenance.positionDeleteFiles(t)
        val after = Maintenance.rewriteEqualityDeletes(t, spark)
        val changed = after.currentSnapshot.map(_.snapshotId) !=
          t.currentSnapshot.map(_.snapshotId)
        val posNow = if (changed) Maintenance.positionDeleteFiles(after)
          else posBefore
        (new StructType()
          .add("rewritten_equality_files", LongType)
          .add("rewritten_position_files", LongType)
          .add("added_position_files", LongType)
          .add("added_rows", LongType),
          if (changed) Seq(eqBefore.size.toLong, posBefore.size.toLong,
            posNow.size.toLong, posNow.map(_.recordCount).sum)
          else Seq(0L, 0L, 0L, 0L))
      case "build_dedup_index" =>
        val textCol = input.getUTF8String(2).toString
        val idCol = input.getUTF8String(3).toString
        val numHashes = input.getInt(4)
        val idxNameRaw = input.getUTF8String(5).toString
        val idxName =
          if (idxNameRaw.isEmpty) s"${tbl}_minhash_idx" else idxNameRaw
        val snapRaw = input.getLong(6)
        buildDedupIndex(t, spark, ns, tbl, textCol, idCol, numHashes,
          idxName, snapRaw)
      case "build_ann_index" =>
        val vecCol = input.getUTF8String(2).toString
        val idCol = input.getUTF8String(3).toString
        val nCentroids = input.getInt(4)
        val idxNameRaw = input.getUTF8String(5).toString
        val idxName =
          if (idxNameRaw.isEmpty) s"${tbl}_ann_idx" else idxNameRaw
        val snapRaw = input.getLong(6)
        val seed = input.getLong(7)
        buildAnnIndex(t, spark, ns, tbl, vecCol, idCol, nCentroids,
          idxName, snapRaw, seed, input.getBoolean(8))
      case "build_text_index" =>
        val textCol = input.getUTF8String(2).toString
        val idCol = input.getUTF8String(3).toString
        val numBuckets = input.getInt(4)
        val idxNameRaw = input.getUTF8String(5).toString
        val idxName =
          if (idxNameRaw.isEmpty) s"${tbl}_text_idx" else idxNameRaw
        val snapRaw = input.getLong(6)
        buildTextIndex(t, spark, ns, tbl, textCol, idCol, numBuckets,
          idxName, snapRaw, input.getBoolean(7))
      case "build_pq_index" =>
        val vecCol = input.getUTF8String(2).toString
        val idCol = input.getUTF8String(3).toString
        val m = input.getInt(4)
        val ksub = input.getInt(5)
        val idxNameRaw = input.getUTF8String(6).toString
        val idxName =
          if (idxNameRaw.isEmpty) s"${tbl}_pq_idx" else idxNameRaw
        val snapRaw = input.getLong(7)
        val seed = input.getLong(8)
        buildPqIndex(t, spark, ns, tbl, vecCol, idCol, m, ksub, idxName,
          snapRaw, seed, input.getBoolean(9))
      case "corpus_diff" =>
        corpusDiff(t, spark, ns, tbl, input.getLong(2),
          input.getLong(3), input.getUTF8String(4).toString,
          input.getUTF8String(5).toString)
      case "train_tokenizer" =>
        val textCol = input.getUTF8String(2).toString
        val maxPieceLen = input.getInt(3)
        val mdlRaw = input.getUTF8String(4).toString
        val mdlName = if (mdlRaw.isEmpty) s"${tbl}_tok_model" else mdlRaw
        val snapRaw = input.getLong(5)
        trainTokenizer(t, spark, ns, tbl, textCol, maxPieceLen, mdlName,
          snapRaw, input.getBoolean(6))
      case "train_lm" =>
        val textCol = input.getUTF8String(2).toString
        val mdlRaw = input.getUTF8String(3).toString
        val mdlName = if (mdlRaw.isEmpty) s"${tbl}_lm_model" else mdlRaw
        val snapRaw = input.getLong(4)
        trainLm(t, spark, ns, tbl, textCol, mdlName, snapRaw,
          input.getBoolean(5))
      case "train_classifier" =>
        val labelPred = input.getUTF8String(2).toString
        val textCol = input.getUTF8String(3).toString
        val mdlRaw = input.getUTF8String(4).toString
        val mdlName = if (mdlRaw.isEmpty) s"${tbl}_clf_model" else mdlRaw
        val snapRaw = input.getLong(5)
        trainClassifier(t, spark, ns, tbl, labelPred, textCol, mdlName,
          snapRaw, input.getBoolean(6))
      case "corpus_stats" =>
        corpusStats(t, spark, ns, tbl,
          input.getUTF8String(2).toString, input.getLong(3))
      case "sample_mixture" =>
        sampleMixture(t, spark, ns, tbl,
          input.getUTF8String(2).toString, input.getLong(3),
          input.getUTF8String(4).toString,
          input.getUTF8String(5).toString,
          input.getUTF8String(6).toString, input.getLong(7))
      case "sample_budget" =>
        sampleBudget(t, spark, ns, tbl,
          input.getUTF8String(2).toString, input.getLong(3),
          input.getUTF8String(4).toString,
          input.getUTF8String(5).toString,
          input.getUTF8String(6).toString, input.getLong(7))
      case "pack_corpus" =>
        packCorpus(t, spark, ns, tbl, input.getLong(2),
          input.getUTF8String(3).toString,
          input.getUTF8String(4).toString, input.getLong(5),
          input.getUTF8String(6).toString, input.getLong(7),
          input.getBoolean(8))
    }
    (schema, Seq(row))
  }

  /** Incremental `dedup_table`: the table AS OF `since` is the
    * canonical base; only rows appended after it are examined, and the
    * duplicates among them are removed with ONE MoR equality-delete
    * commit on the id column — base files are never read in full
    * (exact mode projects them to fingerprints) and never rewritten.
    * Pair with `rewrite_equality_deletes` to compact the accumulated
    * delete files later. Base-vs-new ties always keep the base row. */
  private def dedupTableIncremental(t: Table,
      spark: org.apache.spark.sql.SparkSession, mode: String,
      textCol: String, idCol: String, threshold: Double,
      qualityCol: String, since: Long): (StructType, Seq[Any]) = {
    if (t.snapshotById(since).isEmpty)
      throw new IllegalArgumentException(
        s"dedup_table: since_snapshot_id $since not found")
    val head = t.currentSnapshot.map(_.snapshotId).getOrElse(
      throw new IllegalArgumentException("dedup_table: empty table"))
    val base = graft.table.Scan(t, spark).useSnapshot(since).toDF
    val fresh =
      if (head == since) base.limit(0)
      else graft.table.Scan(t, spark).appendsBetween(since, head).toDF
    val removals = mode match {
      case "exact" =>
        graft.ops.Dedup.incrementalExactRemovals(
          fresh, base, textCol, idCol)
      case "minhash" =>
        graft.ops.Dedup.incrementalMinhashRemovals(
          fresh, base, textCol, idCol, threshold = threshold)
      case "best" =>
        if (qualityCol.isEmpty) throw new IllegalArgumentException(
          "dedup_table: mode 'best' requires quality_col")
        graft.ops.Dedup.incrementalMinhashRemovals(
          fresh, base, textCol, idCol, threshold = threshold,
          qualityCol = Some(qualityCol))
      case other => throw new IllegalArgumentException(
        s"dedup_table: unknown mode '$other' (exact | minhash | best)")
    }
    val before = graft.table.Scan(t, spark).count()
    // eager-materialize the removal list (the batch's duplicates —
    // small): the count and the delete commit must not each re-run
    // the base-projection pipeline
    val removalsM = removals.localCheckpoint(true)
    val removed = removalsM.count()
    if (removed > 0L)
      graft.table.Mutations.deleteByKeys(t, spark, removalsM)
    (new StructType().add("docs_before", LongType)
      .add("docs_kept", LongType).add("docs_removed", LongType),
      Seq(before, before - removed, removed))
  }

  import GraftBoundProcedure.{IdxPropSourceTable, IdxPropSourceSnapshot,
    IdxPropDeletedAt, IdxPropTextCol, IdxPropIdCol, IdxPropNumHashes,
    AnnPropPrefix, TextPropPrefix, PqPropPrefix, TokPropPrefix,
    LmPropPrefix, ClfPropPrefix, Verbs, Written}

  /** `snapshot_id` resolved on `t`: -1 → the current snapshot. */
  private def snapshotOf(proc: String, t: Table, ns: String, tbl: String,
      snapRaw: Long): Long =
    if (snapRaw == -1L) t.currentSnapshot.map(_.snapshotId).getOrElse(
      throw new IllegalArgumentException(s"$proc: $ns.$tbl has no snapshots"))
    else if (t.snapshotById(snapRaw).isEmpty)
      throw new IllegalArgumentException(
        s"$proc: snapshot_id $snapRaw not found")
    else snapRaw

  /** Records written by `t`'s last commit. */
  private def added(t: Table): Long = t.currentSnapshot.flatMap(_.summary)
    .flatMap(_.counters.get(graft.spec.Summary.AddedRecords)).getOrElse(0L)

  /** A full build of `art` into `name` from `t` as of `snapRaw`: the
    * `model` stamps (configuration and fitted model, short keys), the
    * source table and anchor, and the totals of the delta over every
    * source row all ride the build's one data commit
    * ([[Derived.build]]). */
  private def buildArtifact(art: Derived.Artifact, t: Table,
      spark: org.apache.spark.sql.SparkSession, ns: String, tbl: String,
      name: String, snapRaw: Long, model: Map[String, String],
      partitionBy: Option[String] = None): Written = {
    val snapId = snapshotOf(art.proc, t, ns, tbl, snapRaw)
    val stamps = model.map { case (k, v) => art.key(k) -> v } ++ Map(
      art.key("source-table") -> s"$ns.$tbl",
      art.anchor -> snapId.toString)
    val d = art.delta(graft.table.Scan(t, spark).useSnapshot(snapId).toDF,
      stamps)
    val built = Derived.build(catalog,
      TableIdentifier(ns.split('.').toSeq, name), io, d.payload,
      stamps ++ d.stamps, partitionBy)
    Written(built, snapId, added(built))
  }

  /** What an `incremental => true` call reads before its one commit:
    * the derived table `name` (a `noun` of [[Verbs]]), which must exist
    * and come from `ns.tbl`; its recorded anchor, which must still be a
    * snapshot of `t`; and the head `snapshot_id` names. */
  private final class Chain(proc: String, noun: String, name: String,
      stampNs: String, t: Table, ns: String, tbl: String, snapRaw: Long) {
    private val (verb, done) = Verbs(noun)
    private val id = TableIdentifier(ns.split('.').toSeq, name)
    if (!catalog.tableExists(id))
      throw new IllegalArgumentException(s"$proc: $noun $name does not " +
        s"exist — run a full $verb first (incremental => false)")
    val target: Table = Table.load(catalog, id, io)
    def props: Map[String, String] = target.metadata.properties
    def prop(k: String): String = props.getOrElse(s"$stampNs.$k",
      throw new IllegalArgumentException(s"$proc: $name has no " +
        s"'$stampNs.$k' property — not a $proc table"))
    val recorded: Long = prop("source-snapshot-id").toLong
    if (prop("source-table") != s"$ns.$tbl")
      throw new IllegalArgumentException(s"$proc: $noun $name was " +
        s"$done from ${prop("source-table")}, not $ns.$tbl")
    if (t.snapshotById(recorded).isEmpty)
      throw new IllegalArgumentException(s"$proc: $noun $name records " +
        s"source snapshot $recorded which no longer exists (expired?) " +
        s"— run a full $verb (incremental => false)")
    val head: Long = snapshotOf(proc, t, ns, tbl, snapRaw)

    /** Fails unless each stamped column (short key → the call's
      * column) is the call's. */
    def requireSame(cols: (String, String)*): Unit = {
      val stamped = cols.map(c => prop(c._1))
      if (stamped != cols.map(_._2))
        throw new IllegalArgumentException(s"$proc: $noun $name was " +
          s"$done on (${stamped.mkString(", ")}), call uses " +
          s"(${cols.map(_._2).mkString(", ")})")
    }

    /** The source rows appended since the anchor. `appendsBetween`
      * skips replace snapshots, so source compaction never re-delivers
      * rows; rows deleted from the source stay in the derived table
      * until a full rebuild. */
    def fresh(spark: org.apache.spark.sql.SparkSession)
        : org.apache.spark.sql.DataFrame =
      if (head == recorded) graft.table.Scan(t, spark).toDF.limit(0)
      else graft.table.Scan(t, spark).appendsBetween(recorded, head).toDF

    /** The chain's one commit ([[Derived.chain]]) of `d`, with `extra`
      * stamps — or none when nothing was appended since the anchor. */
    def run(d: => Derived.Delta,
        extra: Map[String, String] = Map.empty): Written =
      if (head == recorded) Written(target, head, 0L)
      else {
        val committed = Derived.chain(target, s"$stampNs.source-snapshot-id",
          recorded, head, d, extra)
        Written(committed, head, added(committed))
      }
  }

  /** The dominant vector length at `snapId` (rows of another length are
    * not indexed), those rows, and the source's row count. */
  private def vectors(proc: String, t: Table,
      spark: org.apache.spark.sql.SparkSession, ns: String, tbl: String,
      snapId: Long, vecCol: String)
      : (Int, org.apache.spark.sql.DataFrame, Long) = {
    import org.apache.spark.sql.functions.{col, max, size}
    val scan = graft.table.Scan(t, spark).useSnapshot(snapId)
    val df = scan.toDF
    val dim = df.agg(max(size(col(vecCol))).as("d")).head(1)
      .headOption.flatMap(r => Option(r.get(0)).map(_ => r.getInt(0)))
      .getOrElse(throw new IllegalArgumentException(
        s"$proc: $ns.$tbl has no vectors in $vecCol"))
    (dim, df.where(size(col(vecCol)) === dim), scan.count())
  }

  /** `build_ann_index`: fit IVF centroids (bounded deterministic
    * sample) and persist the inverted file AS AN ICEBERG TABLE —
    * `(id, cell, norm, vector)` partitioned by `cell`, centroids and
    * config stamped as table properties. A search
    * ([[graft.ops.Similarity.ivfTopKFromIndex]]) then collects its
    * probed cells and reads ONLY those partitions via manifest
    * partition pruning — the classic "read only the probed lists" IVF
    * property realized with ordinary table machinery: no fit, no
    * assignment pass, no full scan at query time. Rows whose vector
    * length differs from the dominant dimensionality are not indexed
    * (KMeans and the codegen'd distance kernels need one dim) and are
    * reported as `rows_total - rows_indexed`. `incremental => true`
    * chains the existing index WITHOUT a refit or a base rescan — the
    * 100 TB operational shape: rows appended since the recorded
    * snapshot are assigned with the STAMPED centroids and appended into
    * their cells (searches can return rows since deleted from the
    * source until a rebuild — the staleness contract every IVF system
    * documents). */
  private def buildAnnIndex(t: Table,
      spark: org.apache.spark.sql.SparkSession, ns: String, tbl: String,
      vecCol: String, idCol: String, nCentroids: Int, idxName: String,
      snapRaw: Long, seed: Long,
      incremental: Boolean): (StructType, Seq[Any]) = {
    val art = Derived.AnnCells(vecCol, idCol)
    val (w, cells, dim, total) =
      if (incremental) {
        val c = new Chain(art.proc, "index", idxName, art.ns, t, ns, tbl,
          snapRaw)
        c.requireSame("vec-col" -> vecCol, "id-col" -> idCol)
        val fresh = c.fresh(spark)
        (c.run(art.delta(fresh, c.props)), graft.ops.Similarity
          .centroidsFromJson(c.prop("centroids")).size,
          c.prop("dim").toInt, fresh.count())
      } else {
        if (nCentroids <= 0)
          throw new IllegalArgumentException("build_ann_index: " +
            s"n_centroids must be positive, got $nCentroids")
        val snapId = snapshotOf(art.proc, t, ns, tbl, snapRaw)
        val (dim, sample, total) = vectors(art.proc, t, spark, ns, tbl,
          snapId, vecCol)
        val centroids = graft.ops.Similarity.ivfFitCentroids(sample,
          nCentroids, seed, vecCol, idCol, rowCountHint = Some(total))
        (buildArtifact(art, t, spark, ns, tbl, idxName, snapId, Map(
          "vec-col" -> vecCol, "id-col" -> idCol,
          "n-centroids" -> nCentroids.toString, "dim" -> dim.toString,
          "centroids" -> graft.ops.Similarity.centroidsToJson(centroids)),
          Some("cell")), nCentroids, dim, total)
      }
    (new StructType().add("index_table", StringType)
      .add("cells", IntegerType).add("dim", IntegerType)
      .add("rows_indexed", LongType).add("rows_total", LongType)
      .add("source_snapshot_id", LongType),
      Seq(idxName, cells, dim, w.appended, total, w.anchor))
  }

  /** Shared `text_search` / `hybrid_search` core: the bucket-pruned
    * BM25 top-k ranking for ONE query string against a
    * `build_text_index` table — query terms hash to their buckets,
    * ONLY those partitions are read (manifest partition pruning), and
    * [[graft.ops.Retrieval.bm25FromIndex]] reproduces the unindexed
    * scoring bit-for-bit from the stamped stats. Returns the ranking
    * `(query_id, rank, <idCol>, score_scaled)` plus the stamped id
    * column name. */
  private def bm25IndexRanking(t: Table,
      spark: org.apache.spark.sql.SparkSession, proc: String,
      query: String, k: Int):
      (org.apache.spark.sql.DataFrame, String) = {
    def prop(key: String): String = t.metadata.properties.getOrElse(key,
      throw new IllegalArgumentException(s"$proc: table has no " +
        s"'$key' property — not a build_text_index table; run " +
        "build_text_index first"))
    if (k <= 0) throw new IllegalArgumentException(
      s"$proc: k must be positive, got $k")
    val nDocs = prop(s"${TextPropPrefix}n-docs").toLong
    val totalDl = prop(s"${TextPropPrefix}total-dl").toLong
    val numBuckets = prop(s"${TextPropPrefix}num-buckets").toInt
    val idCol = prop(s"${TextPropPrefix}id-col")
    import org.apache.spark.sql.functions.lit
    val queries = spark.range(1).select(lit(0L).as("query_id"),
      lit(query).as("query"))
    val out = graft.ops.Retrieval.bm25FromIndex(
      terms => {
        val buckets = terms.map(term => graft.functions.BucketUtil
          .bucketUTF8(UTF8String.fromString(term), numBuckets))
          .distinct.sorted
        graft.table.Scan(t, spark)
          .filter(graft.table.Col("tbucket").in(buckets: _*)).toDF
      },
      queries, nDocs, totalDl, k, idCol = idCol)
    (out, idCol)
  }

  /** `text_search(ns, index_table, query, k)`: BM25 top-k over a
    * `build_text_index` table, straight from SQL
    * ([[bm25IndexRanking]]). Returns the top-k
    * `(rank, <id>, score_scaled)` rows. */
  private def textSearch(t: Table,
      spark: org.apache.spark.sql.SparkSession,
      input: InternalRow): (StructType, Seq[Seq[Any]]) = {
    val query = input.getUTF8String(2).toString
    val k = input.getInt(3)
    import org.apache.spark.sql.functions.col
    val (ranking, idCol) =
      bm25IndexRanking(t, spark, "text_search", query, k)
    val out = ranking
      .select(col("rank"), col(idCol), col("score_scaled"))
      .orderBy("rank")
    (out.schema, out.collect().map(_.toSeq).toSeq)
  }

  /** Shared `ann_search` / `hybrid_search` core: the cell-pruned IVF
    * exact-cosine top-k ranking for ONE external JSON query vector
    * against a `build_ann_index` table — the vector probes its
    * `nprobe` cells against the STAMPED centroids, ONLY those
    * partitions are read, and [[graft.ops.Similarity
    * .ivfTopKFromIndex]] re-ranks exactly. Returns the ranking
    * `(qid, rank, nid, score)` plus the stamped id column name. */
  private def ivfIndexRanking(t: Table,
      spark: org.apache.spark.sql.SparkSession, proc: String,
      qJson: String, k: Int, nprobe: Int, withVec: Boolean = false):
      (org.apache.spark.sql.DataFrame, String) = {
    def prop(key: String): String = t.metadata.properties.getOrElse(key,
      throw new IllegalArgumentException(s"$proc: table has no " +
        s"'$key' property — not a build_ann_index table; run " +
        "build_ann_index first"))
    if (k <= 0 || nprobe <= 0) throw new IllegalArgumentException(
      s"$proc: k and nprobe must be positive, got ($k, $nprobe)")
    val centroids = graft.ops.Similarity.centroidsFromJson(
      prop(s"${AnnPropPrefix}centroids"))
    val dim = prop(s"${AnnPropPrefix}dim").toInt
    val vec = graft.ops.Similarity.centroidsFromJson(s"[$qJson]") match {
      case Seq(v) if v.length == dim => v
      case Seq(v) => throw new IllegalArgumentException(
        s"$proc: query has ${v.length} dims, index has $dim")
      case _ => throw new IllegalArgumentException(
        s"$proc: query must be one JSON number array, got '$qJson'")
    }
    val idCol = prop(s"${AnnPropPrefix}id-col")
    val vecCol = prop(s"${AnnPropPrefix}vec-col")
    import org.apache.spark.sql.functions.{col, lit, typedLit}
    // cast to FLOAT — the corpus vectors' own precision, so the score
    // a stored vector gets against itself is exactly 1-by-norms.
    // sentinel query id: the ranking tail excludes qid == nid
    // (self-match, for corpus-member queries); an EXTERNAL query must
    // never spuriously exclude a real id — and the sentinel must be
    // TYPE-compatible with the id column (a mistyped comparison would
    // go null and silently drop every row)
    val sentinel = t.schema.fieldByName(idCol).map(_.fieldType) match {
      case Some(graft.spec.StringType) =>
        lit("\u0000graft-external-query")
      case _ => lit(Long.MinValue)
    }
    val queries = spark.range(1).select(sentinel.as(idCol),
      typedLit(vec.map(_.toFloat).toSeq).as(vecCol))
    val out = graft.ops.Similarity.ivfTopKFromIndex(
      cells => graft.table.Scan(t, spark)
        .filter(graft.table.Col("cell").in(cells: _*)).toDF,
      queries, centroids, k, nprobe, vecCol, idCol, withVec)
    (out, idCol)
  }

  /** `ann_search(ns, index_table, query, k, nprobe)`: IVF top-k over a
    * `build_ann_index` table, straight from SQL
    * ([[ivfIndexRanking]]). Returns the top-k `(rank, <id>, score)`
    * rows (cosine). */
  private def annSearch(t: Table,
      spark: org.apache.spark.sql.SparkSession,
      input: InternalRow): (StructType, Seq[Seq[Any]]) = {
    val qJson = input.getUTF8String(2).toString
    val k = input.getInt(3)
    val nprobe = input.getInt(4)
    import org.apache.spark.sql.functions.col
    val (ranking, _) =
      ivfIndexRanking(t, spark, "ann_search", qJson, k, nprobe)
    val out = ranking
      .select(col("rank"), col("nid"), col("score"))
      .orderBy("rank")
    (out.schema, out.collect().map(_.toSeq).toSeq)
  }

  /** `hybrid_search(ns, text_index, ann_index, query, query_vec, k,
    * k_per_list, nprobe, k_rrf)`: the hybrid lexical+vector query a
    * retrieval user actually runs, composed ENTIRELY from the
    * PERSISTED indexes — a bucket-pruned BM25 top-`k_per_list` over
    * the text index ([[bm25IndexRanking]]), a cell-pruned IVF
    * exact-cosine top-`k_per_list` over the ANN index
    * ([[ivfIndexRanking]]), fused to the final top-k with
    * reciprocal-rank fusion ([[graft.ops.Retrieval.rrfFuse]] — exact
    * integer contributions `RrfScale div (k_rrf + rank)`, so fused
    * scores hash-gate across engines). Query-time cost on BOTH sides
    * is probe + pruned-partition load + rank: the corpus is never
    * scanned, and the fusion itself is top-k-list-sized. Returns the
    * top-k `(rank, <id>, rrf_scaled, n_lists)` rows; `n_lists` says
    * whether both retrievers or only one surfaced the document. */
  private def hybridSearch(t: Table,
      spark: org.apache.spark.sql.SparkSession,
      input: InternalRow): (StructType, Seq[Seq[Any]]) = {
    val ns = input.getUTF8String(0).toString
    val annName = input.getUTF8String(2).toString
    val query = input.getUTF8String(3).toString
    val qJson = input.getUTF8String(4).toString
    val k = input.getInt(5)
    val kPerList = input.getInt(6)
    val nprobe = input.getInt(7)
    val kRrf = input.getInt(8)
    import org.apache.spark.sql.functions.col
    val (fused, textIdCol, _) = hybridFusedRanking(t, spark,
      "hybrid_search", ns, annName, query, qJson, k, kPerList, nprobe,
      kRrf)
    val out = fused.select(col("rank"), col("__hid").as(textIdCol),
        col("rrf_scaled"), col("n_lists"))
      .orderBy("rank")
    (out.schema, out.collect().map(_.toSeq).toSeq)
  }

  /** Shared `hybrid_search` / `hybrid_mmr_search` core: BM25
    * top-`kPerList` over the text index, IVF top-`kPerList` over the
    * ANN index, RRF-fused to the top-`k`
    * `(query_id, rank, __hid, rrf_scaled, n_lists)` ranking. Returns
    * the fused ranking, the text index's stamped id column name, and
    * the loaded ANN index table. */
  private def hybridFusedRanking(t: Table,
      spark: org.apache.spark.sql.SparkSession, proc: String,
      ns: String, annName: String, query: String, qJson: String,
      k: Int, kPerList: Int, nprobe: Int, kRrf: Int):
      (org.apache.spark.sql.DataFrame, String, Table) = {
    if (k <= 0 || kPerList <= 0 || kRrf < 0)
      throw new IllegalArgumentException(s"$proc: need k > 0, " +
        s"k_per_list > 0, k_rrf >= 0; got ($k, $kPerList, $kRrf)")
    val annT = GraftProcedures.loadTable(catalog, io, ns, annName)
    val (lex0, textIdCol) =
      bm25IndexRanking(t, spark, proc, query, kPerList)
    val (vec0, annIdCol) =
      ivfIndexRanking(annT, spark, proc, qJson, kPerList, nprobe)
    // fusion groups by id VALUE, so the two indexes must identify
    // documents in the same typed id domain — a silent cross-type
    // coercion would fuse nothing and report half-empty n_lists
    val tType = t.schema.fieldByName(textIdCol).map(_.fieldType)
    val aType = annT.schema.fieldByName(annIdCol).map(_.fieldType)
    if (tType != aType) throw new IllegalArgumentException(
      s"$proc: text index id column '$textIdCol' ($tType) " +
        s"and ann index id column '$annIdCol' ($aType) have " +
        "different types — the two indexes do not share an id domain")
    import org.apache.spark.sql.functions.{col, lit}
    // normalize both rankings to one (query_id, id, rank) shape; the
    // ANN side's qid is the self-exclusion sentinel, not an id
    val lex = lex0.select(lit(0L).as("query_id"),
      col(textIdCol).as("__hid"), col("rank"))
    val vec = vec0.select(lit(0L).as("query_id"),
      col("nid").as("__hid"), col("rank"))
    val fused = graft.ops.Retrieval.rrfFuse(Seq(lex, vec), k,
      kRrf, qIdCol = "query_id", idCol = "__hid")
    (fused, textIdCol, annT)
  }

  /** `hybrid_mmr_search(ns, text_index, ann_index, query, query_vec,
    * k, candidates, k_per_list, nprobe, k_rrf, lam_num, lam_den)`:
    * the production RAG retrieval in ONE call — the indexed hybrid
    * top-`candidates` (both persisted indexes, bucket/cell-pruned,
    * RRF-fused — the `hybrid_search` core) re-ranked with maximal
    * marginal relevance ([[graft.ops.Similarity.mmrDiversify]],
    * λ = lam_num/lam_den). Relevance IS the fused `rrf_scaled`
    * (already an exact integer); pairwise redundancy is the int8-code
    * dot product (the `mmr_search` arithmetic) over the candidate
    * vectors, fetched from the ANN index by a top-k-sized id-IN probe
    * (file-stat pruning applies; the index is the vector store, so no
    * source table is touched). A hybrid list is wider than the vector
    * corpus — a lexical-only candidate may have NO indexed vector;
    * it contributes ZERO redundancy via deliberate 0-sims over the
    * full ordered pair grid, satisfying mmrDiversify's
    * full-pair-coverage contract explicitly. Everything after the two
    * index probes is candidate-count-sized.
    *
    * Choosing λ: relevance and redundancy are on DIFFERENT integer
    * scales — `rrf_scaled` is O(RrfScale / k_rrf) ≈ 1.6e7 per
    * contributing list, while a code dot is ≤ 255² · dim. The greedy
    * margin is `lam_num · rel − (lam_den − lam_num) · max_sim`, so the
    * diversity term bites when λ/(1−λ) is comparable to the
    * sim/rel scale ratio (≈ 255² · dim · k_rrf / RrfScale — e.g.
    * ~4e-3 at dim 64) and below; the 7/10 default keeps the fused
    * ORDER except where fused scores tie (rank-sum collisions, which
    * RRF produces often), where it breaks ties toward diversity.
    * Returns `(step, <id>, mmr_scaled, rrf_scaled)` in selection
    * order. */
  private def hybridMmrSearch(t: Table,
      spark: org.apache.spark.sql.SparkSession,
      input: InternalRow): (StructType, Seq[Seq[Any]]) = {
    val ns = input.getUTF8String(0).toString
    val annName = input.getUTF8String(2).toString
    val query = input.getUTF8String(3).toString
    val qJson = input.getUTF8String(4).toString
    val k = input.getInt(5)
    val candidates = input.getInt(6)
    val kPerList = input.getInt(7)
    val nprobe = input.getInt(8)
    val kRrf = input.getInt(9)
    val lamNum = input.getLong(10)
    val lamDen = input.getLong(11)
    if (k <= 0 || candidates < k)
      throw new IllegalArgumentException("hybrid_mmr_search: need " +
        s"0 < k <= candidates; got (k = $k, candidates = $candidates)")
    if (lamDen <= 0 || lamNum < 0 || lamNum > lamDen)
      throw new IllegalArgumentException("hybrid_mmr_search: need " +
        s"0 <= lam_num/lam_den <= 1; got $lamNum/$lamDen")
    val (fused0, textIdCol, annT) = hybridFusedRanking(t, spark,
      "hybrid_mmr_search", ns, annName, query, qJson, candidates,
      kPerList, nprobe, kRrf)
    // the greedy loop keys candidates by LONG id (integer-exact MMR)
    t.schema.fieldByName(textIdCol).map(_.fieldType) match {
      case Some(graft.spec.LongType) | Some(graft.spec.IntType) =>
      case other => throw new IllegalArgumentException(
        s"hybrid_mmr_search: id column '$textIdCol' is " +
          s"${other.orNull} — MMR re-ranking requires an integer id " +
          "column")
    }
    import org.apache.spark.sql.functions.{col, lit}
    // candidate list is ≤ `candidates` rows — pin it: the id probe,
    // rel, and both pair-grid sides each read it
    val fused = fused0.localCheckpoint(true)
    val candIds = fused.select("__hid").collect()
      .map(_.get(0).asInstanceOf[AnyRef])
    val annIdCol = annT.metadata.properties(s"${AnnPropPrefix}id-col")
    val vecCol = annT.metadata.properties(s"${AnnPropPrefix}vec-col")
    // candidate vectors by id from the ANN index (top-k-sized IN
    // probe), then per-vector int8 quantization — candidates absent
    // from the index simply produce no codes row (left-join 0-sim)
    val cvecs = graft.table.Scan(annT, spark)
      .filter(graft.table.Col(annIdCol).in(candIds: _*))
      .select(annIdCol, vecCol).toDF
    val codes = graft.ops.Similarity.quantizeInt8(cvecs,
      vecCol = vecCol, idCol = annIdCol)
      .select(col(annIdCol).as("__cid"), col("codes"))
    val rel = fused.select(lit(0L).as("qid"), col("__hid").as("nid"),
      col("rrf_scaled").as("rel"))
    // the FULL ordered pair grid over the candidate list, sim = 0
    // when either side lacks an indexed vector — the ONE shared
    // 0-fill definition the i62/i64 gates also compose with
    val sims = graft.ops.Similarity.zeroFilledCodeSims(
      fused, "__hid", codes, "__cid")
    val picked = graft.ops.Similarity.mmrDiversify(rel, sims, k,
      lamNum, lamDen)
    // carry the fused relevance alongside the greedy margin: the one
    // call returns everything the RAG layer needs to build a context
    val out = picked
      .join(fused.select(col("__hid").as("nid"), col("rrf_scaled")),
        Seq("nid"))
      .select(col("step"), col("nid").as(textIdCol),
        col("mmr_scaled"), col("rrf_scaled"))
      .orderBy("step")
    (out.schema, out.collect().map(_.toSeq).toSeq)
  }

  /** `mmr_search(ns, index_table, query, k, candidates, nprobe,
    * lam_num, lam_den)`: diversified retrieval from pure SQL — the
    * cell-pruned IVF top-`candidates` over a `build_ann_index` table
    * re-ranked with maximal marginal relevance
    * ([[graft.ops.Similarity.mmrDiversify]], λ = lam_num/lam_den).
    * Relevance and pairwise similarity are int8-code dot products
    * (per-vector scalar quantization — exact integers, the e21
    * arithmetic), computed over ONLY the candidate set: the vectors
    * ride out of the probed-cell read (`withVec`), so the index is
    * touched exactly once and everything after is
    * candidate-count-sized. Returns `(step, <id>, mmr_scaled)` in
    * selection order — step 1 is the most relevant hit, each later
    * step the best remaining relevance-vs-redundancy trade. */
  private def mmrSearch(t: Table,
      spark: org.apache.spark.sql.SparkSession,
      input: InternalRow): (StructType, Seq[Seq[Any]]) = {
    val qJson = input.getUTF8String(2).toString
    val k = input.getInt(3)
    val candidates = input.getInt(4)
    val nprobe = input.getInt(5)
    val lamNum = input.getLong(6)
    val lamDen = input.getLong(7)
    if (k <= 0 || candidates < k)
      throw new IllegalArgumentException("mmr_search: need " +
        s"0 < k <= candidates; got (k = $k, candidates = $candidates)")
    if (lamDen <= 0 || lamNum < 0 || lamNum > lamDen)
      throw new IllegalArgumentException("mmr_search: need " +
        s"0 <= lam_num/lam_den <= 1; got $lamNum/$lamDen")
    val idCol0 = t.metadata.properties.getOrElse(
      s"${AnnPropPrefix}id-col",
      throw new IllegalArgumentException("mmr_search: table has no " +
        s"'${AnnPropPrefix}id-col' property — not a build_ann_index " +
        "table; run build_ann_index first"))
    // the greedy loop keys candidates by LONG id (integer-exact MMR)
    t.schema.fieldByName(idCol0).map(_.fieldType) match {
      case Some(graft.spec.LongType) | Some(graft.spec.IntType) =>
      case other => throw new IllegalArgumentException(
        s"mmr_search: id column '$idCol0' is ${other.orNull} — MMR " +
          "re-ranking requires an integer id column")
    }
    val (cand0, idCol) = ivfIndexRanking(t, spark, "mmr_search",
      qJson, candidates, nprobe, withVec = true)
    import org.apache.spark.sql.functions.{broadcast, col, lit,
      typedLit}
    // candidate set is ≤ `candidates` rows — pin it: the quantize,
    // rel, and pairwise-sim stages each read it
    val cand = cand0.select(col("nid"), col("vec"))
      .localCheckpoint(true)
    // int8 scalar quantization (the e21 arithmetic): integer dot
    // products make every greedy margin exact and engine-portable
    val codes = graft.ops.Similarity.quantizeInt8(cand,
      vecCol = "vec", idCol = "nid").select("nid", "codes")
    val dim = t.metadata.properties(s"${AnnPropPrefix}dim").toInt
    val vec = graft.ops.Similarity.centroidsFromJson(s"[$qJson]") match {
      case Seq(v) if v.length == dim => v
      case _ => throw new IllegalArgumentException(
        s"mmr_search: query must be one JSON $dim-dim number array")
    }
    val qCodes = graft.ops.Similarity.quantizeInt8(
      spark.range(1).select(lit(0L).as("nid"),
        typedLit(vec.map(_.toFloat).toSeq).as("vec")),
      vecCol = "vec", idCol = "nid")
      .select(col("codes").as("qc"))
    val rel = codes.crossJoin(broadcast(qCodes))
      .select(lit(0L).as("qid"), col("nid"),
        graft.ops.Similarity.codeDot(col("qc"), col("codes"))
          .as("rel"))
    // every candidate came out of the index WITH a vector, so the
    // shared grid's 0-fill never fires here — full coverage by
    // construction, one sims definition across the MMR surfaces
    val sims = graft.ops.Similarity.zeroFilledCodeSims(
      codes, "nid", codes, "nid")
    val out = graft.ops.Similarity.mmrDiversify(rel, sims, k,
        lamNum, lamDen, idCol = "nid")
      .select(col("step"), col("nid").as(idCol), col("mmr_scaled"))
      .orderBy("step")
    (out.schema, out.collect().map(_.toSeq).toSeq)
  }

  /** Both samplers pull kept keys back to full rows with a left-semi
    * join on `(stratum, id)` — duplicate ids within a stratum would
    * pull ALL their rows back, silently breaking the count/budget
    * contract. Fail loud instead. Cost: one FULL aggregation pass
    * over the two key columns (narrow scan + one shuffle — the same
    * keys the sampler's own window shuffles; the limit(1) only bounds
    * what reaches the driver, it cannot short-circuit the group-by
    * underneath it). Paid on every call, duplicates or not — the
    * price of refusing a silently-wrong sample. */
  private def requireUniqueIds(src: org.apache.spark.sql.DataFrame,
      stratumCol: String, idCol: String, proc: String): Unit = {
    import org.apache.spark.sql.functions.{col, count, lit}
    val dup = src.groupBy(col(stratumCol), col(idCol))
      .agg(count(lit(1)).as("__n")).where(col("__n") > 1L)
      .limit(1).collect()
    if (dup.nonEmpty) throw new IllegalArgumentException(s"$proc: " +
      s"id_col '$idCol' is not unique within stratum " +
      s"'${dup.head.get(0)}' (e.g. id ${dup.head.get(1)} appears " +
      s"${dup.head.get(2)} times) — the per-stratum count/budget " +
      "contract requires unique ids; deduplicate first (CALL " +
      "dedup_table) or pass a unique id_col")
  }

  /** `sample_mixture(ns, table, weights, total_n[, stratum_col,
    * id_col, target_table, snapshot_id])`: materialize a DoReMi/Pile
    * epoch mixture as a NEW graft table — the Hamilton-apportioned,
    * md5-hash-ordered, integer-exact sample
    * [[graft.ops.Packing.mixtureSample]] computes, joined back to the
    * FULL source rows and committed as one stratum-partitioned
    * append. `weights` is a JSON object of stratum → non-negative
    * integer weight (e.g. `'{"web": 5, "code": 3}'`); strata absent
    * from it contribute nothing, and a stratum smaller than its
    * quota yields everything it has — the shortfall is visible as
    * `rows_written < total_n`. Snapshot-addressable like every
    * curation step, and the sample is itself a graft table: time
    * travel, `corpus_stats`, and downstream training reads all work
    * on it.
    *
    * Scale shape: the apportionment runs driver-side over the WEIGHT
    * MAP (model-sized); the per-stratum take is one hash-partition +
    * ranked window over ONLY `(stratum_col, id_col)`; the kept keys
    * then left-semi join the source once to carry the full rows —
    * two source scans total, no data on the driver. The target is
    * identity-partitioned by stratum, so per-domain reads of the
    * mixture prune to their partitions. */
  private def sampleMixture(t: Table,
      spark: org.apache.spark.sql.SparkSession, ns: String, tbl: String,
      weightsJson: String, totalN: Long, stratumCol: String,
      idCol: String, tgtRaw: String,
      snapRaw: Long): (StructType, Seq[Any]) = {
    val weights = """"([^"]+)"\s*:\s*(-?\d+)""".r
      .findAllMatchIn(weightsJson)
      .map(m => m.group(1) -> m.group(2).toLong).toMap
    if (weights.isEmpty) throw new IllegalArgumentException(
      "sample_mixture: weights must be a JSON object of stratum -> " +
        s"integer weight, got '$weightsJson'")
    if (weights.values.exists(_ < 0) || weights.values.forall(_ == 0L))
      throw new IllegalArgumentException(
        "sample_mixture: weights must be non-negative with sum > 0")
    if (totalN < 0) throw new IllegalArgumentException(
      s"sample_mixture: total_n must be >= 0, got $totalN")
    val tgtName = if (tgtRaw.isEmpty) s"${tbl}_sample" else tgtRaw
    val tgtId = TableIdentifier(ns.split('.').toSeq, tgtName)
    if (catalog.tableExists(tgtId))
      throw new IllegalArgumentException(s"sample_mixture: target " +
        s"$tgtName already exists — drop it or pass target_table")
    val snapId = snapshotOf("sample_mixture", t, ns, tbl, snapRaw)
    val src = graft.table.Scan(t, spark).useSnapshot(snapId).toDF
    requireUniqueIds(src, stratumCol, idCol, "sample_mixture")
    val keys = graft.ops.Packing.mixtureSample(src, stratumCol, idCol,
      weights, totalN).select(stratumCol, idCol)
    val rows = src.join(keys, Seq(stratumCol, idCol), "left_semi")
    val props = Map(
      "graft.sample.source-table" -> s"$ns.$tbl",
      "graft.sample.source-snapshot-id" -> snapId.toString,
      "graft.sample.stratum-col" -> stratumCol,
      "graft.sample.id-col" -> idCol,
      "graft.sample.weights" -> weightsJson,
      "graft.sample.total-n" -> totalN.toString)
    val written = added(Derived.build(catalog, tgtId, io, rows, props,
      Some(stratumCol)))
    (new StructType().add("target_table", StringType)
      .add("rows_written", LongType).add("total_requested", LongType)
      .add("strata", IntegerType).add("source_snapshot_id", LongType),
      Seq(tgtName, written, totalN, weights.size, snapId))
  }

  /** `sample_budget(ns, table, cost_col, budget[, stratum_col,
    * id_col, target_table, snapshot_id])`: the "N tokens per domain"
    * epoch cut written as a NEW stratum-partitioned graft table —
    * [[graft.ops.Packing.budgetSample]]'s deterministic hash-ordered
    * prefix (a row is kept while its INCLUSIVE running `cost_col`
    * total stays ≤ `budget`, so no stratum ever exceeds the budget),
    * joined back to the FULL source rows and committed as one append.
    * The companion to [[sampleMixture]]: that one fixes COUNTS per
    * stratum, this one fixes COST. Same target-table contract:
    * refuses to overwrite, snapshot-addressable, per-domain reads of
    * the sample partition-prune. Scale shape: one hash-partition +
    * running-sum window over `(stratum, id, cost)` only, then one
    * left-semi join back — two source scans, no driver data. */
  private def sampleBudget(t: Table,
      spark: org.apache.spark.sql.SparkSession, ns: String, tbl: String,
      costCol: String, budget: Long, stratumCol: String,
      idCol: String, tgtRaw: String,
      snapRaw: Long): (StructType, Seq[Any]) = {
    if (budget < 0) throw new IllegalArgumentException(
      s"sample_budget: budget must be >= 0, got $budget")
    val tgtName = if (tgtRaw.isEmpty) s"${tbl}_sample" else tgtRaw
    val tgtId = TableIdentifier(ns.split('.').toSeq, tgtName)
    if (catalog.tableExists(tgtId))
      throw new IllegalArgumentException(s"sample_budget: target " +
        s"$tgtName already exists — drop it or pass target_table")
    val snapId = snapshotOf("sample_budget", t, ns, tbl, snapRaw)
    val src = graft.table.Scan(t, spark).useSnapshot(snapId).toDF
    requireUniqueIds(src, stratumCol, idCol, "sample_budget")
    val keys = graft.ops.Packing.budgetSample(src, stratumCol, idCol,
      costCol, budget).select(stratumCol, idCol)
    val rows = src.join(keys, Seq(stratumCol, idCol), "left_semi")
    val props = Map(
      "graft.sample.source-table" -> s"$ns.$tbl",
      "graft.sample.source-snapshot-id" -> snapId.toString,
      "graft.sample.stratum-col" -> stratumCol,
      "graft.sample.id-col" -> idCol,
      "graft.sample.cost-col" -> costCol,
      "graft.sample.budget" -> budget.toString)
    val written = added(Derived.build(catalog, tgtId, io, rows, props,
      Some(stratumCol)))
    (new StructType().add("target_table", StringType)
      .add("rows_written", LongType).add("budget", LongType)
      .add("source_snapshot_id", LongType),
      Seq(tgtName, written, budget, snapId))
  }

  /** `pack_corpus(ns, table, window[, text_col, id_col,
    * docs_per_shard, target_table, snapshot_id])`: materialize greedy
    * sequence packing — the terminal step of a training-data
    * pipeline — as a NEW shard-partitioned graft table. Documents
    * shard by `id div docs_per_shard`; within each shard, ascending-id
    * documents greedily fill `window`-token bins
    * ([[graft.ops.Packing.packGreedy]] — an oversized document packs
    * into a bin alone), and each (shard, bin) writes ONE row with the
    * bin's doc count, token total, and the id-ordered concatenated
    * text ([[graft.ops.Packing.materializePacked]]) — the blob a
    * training shard-writer serializes. Tokens are whitespace counts of
    * `text_col` ([[graft.ops.TextAnalysis.tokenCount]]), the engine's
    * token convention everywhere. Snapshot-addressable like every
    * curation step, and the output is itself a graft table: time
    * travel and per-shard reads (partition-pruned) work on it.
    *
    * Scale shape: the greedy fold is sequential only WITHIN a shard
    * (bounded: `docs_per_shard` rows) and parallel across shards; the
    * text rides one join keyed on the id and one (shard, bin)
    * hash-agg whose rows are bounded by `window` tokens. No driver
    * data, no global sort — 100 TB packs as (shards in parallel) ×
    * (bounded docs per shard). */
  private def packCorpus(t: Table,
      spark: org.apache.spark.sql.SparkSession, ns: String, tbl: String,
      window: Long, textCol: String, idCol: String, docsPerShard: Long,
      tgtRaw: String, snapRaw: Long,
      incremental: Boolean): (StructType, Seq[Any]) = {
    import org.apache.spark.sql.functions.{col, max, sum}
    val tgtName = if (tgtRaw.isEmpty) s"${tbl}_packed" else tgtRaw
    val (bins, docs, anchor) =
      if (incremental) chainPacked(t, spark, ns, tbl, window, textCol,
        idCol, docsPerShard, tgtName, snapRaw)
      else {
        if (window <= 0) throw new IllegalArgumentException(
          s"pack_corpus: window must be positive, got $window")
        if (docsPerShard <= 0) throw new IllegalArgumentException(
          s"pack_corpus: docs_per_shard must be positive, got $docsPerShard")
        val tgtId = TableIdentifier(ns.split('.').toSeq, tgtName)
        if (catalog.tableExists(tgtId))
          throw new IllegalArgumentException(s"pack_corpus: target " +
            s"$tgtName already exists — drop it or pass target_table")
        val snapId = snapshotOf("pack_corpus", t, ns, tbl, snapRaw)
        Seq(textCol, idCol).foreach { c =>
          if (t.schema.fieldByName(c).isEmpty)
            throw new IllegalArgumentException(
              s"pack_corpus: no column '$c' in $ns.$tbl")
        }
        val src = graft.table.Scan(t, spark).useSnapshot(snapId).toDF
        val sized = packSized(src, idCol, textCol, docsPerShard)
        // the chain watermark: packs into shards <= this are frozen
        // (max over the id column only — a pruned narrow scan)
        val maxShard = Option(sized.agg(max(col("shard"))).head.get(0))
          .map(_.asInstanceOf[Long]).getOrElse(-1L)
        val rows = graft.ops.Packing.materializePacked(src,
          graft.ops.Packing.packGreedy(sized, idCol, "tokens", "shard",
            capacity = window), idCol, textCol)
        val committed = Derived.build(catalog, tgtId, io, rows, Map(
          "graft.pack.source-table" -> s"$ns.$tbl",
          "graft.pack.source-snapshot-id" -> snapId.toString,
          "graft.pack.text-col" -> textCol,
          "graft.pack.id-col" -> idCol,
          "graft.pack.window" -> window.toString,
          "graft.pack.docs-per-shard" -> docsPerShard.toString,
          "graft.pack.max-shard" -> maxShard.toString), Some("shard"))
        // docs packed: summed from the WRITTEN table's n_docs column —
        // a narrow column read, never a recompute of the packing
        (added(committed), Option(graft.table.Scan(committed, spark).toDF
          .agg(sum(col("n_docs"))).head.get(0))
          .map(_.asInstanceOf[Long]).getOrElse(0L), snapId)
      }
    (new StructType().add("target_table", StringType)
      .add("bins_written", LongType).add("docs_packed", LongType)
      .add("window", LongType).add("source_snapshot_id", LongType),
      Seq(tgtName, bins, docs, window, anchor))
  }

  /** (id, shard, tokens) projection shared by the full build and the
    * chain — shard = id div docs_per_shard, tokens = the engine's
    * whitespace count. */
  private def packSized(src: org.apache.spark.sql.DataFrame,
      idCol: String, textCol: String,
      docsPerShard: Long): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions.{col, floor}
    src.select(col(idCol),
      floor(col(idCol).cast("long") / docsPerShard).cast("long")
        .as("shard"),
      // NULL text packs as 0 tokens — tokenCount is NULL-in-NULL-out,
      // but a packing slot must have a concrete size (packGreedy
      // refuses NULLs loudly rather than guessing)
      org.apache.spark.sql.functions.coalesce(
        graft.ops.TextAnalysis.tokenCount(col(textCol)),
        org.apache.spark.sql.functions.lit(0L)).as("tokens"))
  }

  /** `pack_corpus(incremental => true)`: chain the packed table
    * forward — pack ONLY the rows appended to the source since the
    * recorded snapshot, as new (shard, bin) rows whose chain commit
    * also advances the max-shard stamp. Exactness contract: greedy
    * packing is per-shard-independent, so the chain equals a full
    * repack IF every appended id opens a NEW shard (fresh shard >
    * stamped max-shard). An append into an already-packed shard
    * would extend that shard's last bin — i.e. rewrite an existing
    * row — so it is REFUSED with instructions to run a full repack,
    * never silently approximated. Ids must not go backwards for the
    * same reason. Scale shape: per-chain cost is one pass over the
    * APPENDED rows only; frozen shards are never re-read. Returns
    * (bins written, docs packed, anchor). */
  private def chainPacked(t: Table,
      spark: org.apache.spark.sql.SparkSession, ns: String, tbl: String,
      window: Long, textCol: String, idCol: String, docsPerShard: Long,
      tgtName: String, snapRaw: Long): (Long, Long, Long) = {
    import org.apache.spark.sql.functions.{col, max, min}
    val c = new Chain("pack_corpus", "target", tgtName, "graft.pack", t,
      ns, tbl, snapRaw)
    // a chain ALWAYS uses the stamped config (frozen shards were cut
    // with it); an explicitly different ask errors, like the
    // tokenizer's piece-length check. window is a required parameter,
    // so every mismatch is detectable; the defaulted knobs only on a
    // non-default ask.
    if (window != c.prop("window").toLong)
      throw new IllegalArgumentException(s"pack_corpus: $tgtName was " +
        s"packed with window ${c.prop("window")}, call asks for " +
        s"$window — chains cannot change the window; repack " +
        "(incremental => false)")
    Seq(("text_col", textCol, "text"), ("id_col", idCol, "doc_id"))
      .foreach { case (name, arg, dflt) =>
        val stamped = c.prop(name.replace('_', '-'))
        if (arg != dflt && arg != stamped)
          throw new IllegalArgumentException(s"pack_corpus: $tgtName " +
            s"was packed with $name '$stamped', call asks for '$arg'")
      }
    val dps = c.prop("docs-per-shard").toLong
    if (docsPerShard != GraftBoundProcedure.PackDefaultDocsPerShard &&
        docsPerShard != dps)
      throw new IllegalArgumentException(s"pack_corpus: $tgtName was " +
        s"packed with docs_per_shard $dps, call asks for $docsPerShard")
    val (sTextCol, sIdCol) = (c.prop("text-col"), c.prop("id-col"))
    val maxShard = c.prop("max-shard").toLong
    val fresh = c.fresh(spark)
    val sized = packSized(fresh, sIdCol, sTextCol, dps)
      .localCheckpoint(true)
    val bounds = sized.agg(min(col("shard")), max(col("shard"))).head
    // appends that carried no rows (e.g. compaction-only history) only
    // move the anchor
    val packs = !bounds.isNullAt(0)
    if (packs && bounds.getLong(0) <= maxShard)
      throw new IllegalArgumentException(s"pack_corpus: appended ids " +
        s"reach into already-packed shard ${bounds.getLong(0)} " +
        s"(packed through shard $maxShard) — packing them would " +
        "change existing bins; run a full repack " +
        "(incremental => false) with a fresh target_table")
    val rows = graft.ops.Packing.materializePacked(fresh,
      graft.ops.Packing.packGreedy(sized, sIdCol, "tokens", "shard",
        capacity = window), sIdCol, sTextCol)
    val w = c.run(new Derived.Delta(rows, Map.empty, packs),
      if (packs) Map("graft.pack.max-shard" -> bounds.getLong(1).toString)
      else Map.empty)
    (w.appended, sized.count(), w.anchor)
  }

  /** `pq_search(ns, index_table, query, k)`: PQ-ADC top-k over a
    * `build_pq_index` table, straight from SQL — the query's distance
    * tables to the STAMPED codebooks are computed once and broadcast;
    * the scan reads the CODES table (m small ints per vector) instead
    * of the vectors, ~dim·4/m× less I/O. Returns the top-k
    * `(rank, <id>, adc)` rows (ADC = estimated squared L2; smaller is
    * closer — the PQ recall/IO trade vs ann_search's exact-cosine
    * re-rank of probed cells). */
  private def pqSearch(t: Table,
      spark: org.apache.spark.sql.SparkSession,
      input: InternalRow): (StructType, Seq[Seq[Any]]) = {
    def prop(k: String): String = t.metadata.properties.getOrElse(k,
      throw new IllegalArgumentException(s"pq_search: table has no " +
        s"'$k' property — not a build_pq_index table; run " +
        "build_pq_index first"))
    val qJson = input.getUTF8String(2).toString
    val k = input.getInt(3)
    if (k <= 0) throw new IllegalArgumentException(
      s"pq_search: k must be positive, got $k")
    val ksub = prop(s"${PqPropPrefix}ksub").toInt
    val cbs = graft.ops.Similarity.pqCodebooksFromJson(
      prop(s"${PqPropPrefix}codebooks"), ksub)
    val dim = prop(s"${PqPropPrefix}dim").toInt
    val vec = graft.ops.Similarity.centroidsFromJson(s"[$qJson]") match {
      case Seq(v) if v.length == dim => v
      case Seq(v) => throw new IllegalArgumentException(
        s"pq_search: query has ${v.length} dims, index has $dim")
      case _ => throw new IllegalArgumentException(
        s"pq_search: query must be one JSON number array, got '$qJson'")
    }
    val idCol = prop(s"${PqPropPrefix}id-col")
    val vecCol = prop(s"${PqPropPrefix}vec-col")
    import org.apache.spark.sql.functions.{col, lit, typedLit}
    // same sentinel rule as ann_search: an external query must never
    // self-exclude a real corpus id, type-compatibly
    val sentinel = t.schema.fieldByName(idCol).map(_.fieldType) match {
      case Some(graft.spec.StringType) =>
        lit(" graft-external-query")
      case _ => lit(Long.MinValue)
    }
    val queries = spark.range(1).select(sentinel.as(idCol),
      typedLit(vec.map(_.toFloat).toSeq).as(vecCol))
    val out = graft.ops.Similarity.pqTopKFromCodes(
      graft.table.Scan(t, spark).toDF, queries, cbs, k,
      vecCol, idCol, codesIdCol = idCol)
      .select(col("rank"), col("nid"), col("adc"))
      .orderBy("rank")
    (out.schema, out.collect().map(_.toSeq).toSeq)
  }

  /** `build_pq_index`: train per-subspace KMeans codebooks on a
    * bounded deterministic sample and persist the PRODUCT-QUANTIZED
    * corpus — `(id, codes)`, m small ints per vector — as an Iceberg
    * table, codebooks stamped as properties via the flat bit-exact
    * JSON round-trip. A search ([[graft.ops.Similarity
    * .pqTopKFromCodes]]) reads the codes table instead of the vectors:
    * ~dim·4/m× less I/O per scanned vector — the memory-bound ANN
    * shape at 100 TB (IVF prunes WHICH rows are read; PQ shrinks WHAT
    * is read per row). Wrong-dim rows are excluded and reported.
    * `incremental => true` encodes only the rows appended since the
    * recorded snapshot with the STAMPED codebooks — codes are per-row
    * deterministic given the frozen model, so the chained table equals
    * a frozen-model re-encode of the full corpus exactly; only the
    * model itself goes stale as the distribution drifts (rebuild to
    * refit — the standard PQ contract). */
  private def buildPqIndex(t: Table,
      spark: org.apache.spark.sql.SparkSession, ns: String, tbl: String,
      vecCol: String, idCol: String, m0: Int, ksub0: Int, idxName: String,
      snapRaw: Long, seed: Long,
      incremental: Boolean): (StructType, Seq[Any]) = {
    val art = Derived.PqCodes(vecCol, idCol)
    val (w, m, ksub, dim, total) =
      if (incremental) {
        val c = new Chain(art.proc, "index", idxName, art.ns, t, ns, tbl,
          snapRaw)
        c.requireSame("vec-col" -> vecCol, "id-col" -> idCol)
        val fresh = c.fresh(spark)
        (c.run(art.delta(fresh, c.props)), c.prop("m").toInt,
          c.prop("ksub").toInt, c.prop("dim").toInt, fresh.count())
      } else {
        if (m0 <= 0 || ksub0 <= 0)
          throw new IllegalArgumentException("build_pq_index: m and " +
            s"ksub must be positive, got ($m0, $ksub0)")
        val snapId = snapshotOf(art.proc, t, ns, tbl, snapRaw)
        val (dim, sample, total) = vectors(art.proc, t, spark, ns, tbl,
          snapId, vecCol)
        val cbs = graft.ops.Similarity.pqTrainCodebooks(sample, m0, ksub0,
          seed, vecCol, rowCountHint = Some(total))
        (buildArtifact(art, t, spark, ns, tbl, idxName, snapId, Map(
          "vec-col" -> vecCol, "id-col" -> idCol, "m" -> m0.toString,
          "ksub" -> ksub0.toString, "dim" -> dim.toString,
          "codebooks" -> graft.ops.Similarity.pqCodebooksToJson(cbs))),
          m0, ksub0, dim, total)
      }
    (new StructType().add("index_table", StringType)
      .add("m", IntegerType).add("ksub", IntegerType)
      .add("dim", IntegerType).add("rows_indexed", LongType)
      .add("rows_total", LongType).add("source_snapshot_id", LongType),
      Seq(idxName, m, ksub, dim, w.appended, total, w.anchor))
  }

  /** `build_text_index`: persist ONE corpus pass of
    * [[graft.ops.Retrieval.postings]] — `(id, term, dl, tf)` — as an
    * Iceberg table partitioned by an explicit `tbucket` column
    * (`bucket[N]` murmur3 of the term, the same kernel the partition
    * transform uses), with the corpus stats (`n_docs`, `total_dl`)
    * stamped as exact-long table properties. A search
    * ([[graft.ops.Retrieval.bm25FromIndex]]) hashes its query terms to
    * buckets and reads ONLY those partitions via manifest partition
    * pruning — the inverted-index "read only the probed lists"
    * property; document frequencies come from the read (a term's
    * postings all live in its bucket), so indexed BM25 is
    * bit-identical to the unindexed path with zero corpus passes at
    * query time. NULL-text docs are corpus members (they count toward
    * `n_docs`) that simply produce no postings. Postings are
    * per-document-independent and the stats are sums over disjoint doc
    * sets, so `incremental => true` — new docs' postings appended into
    * their term buckets, the stats advanced by exact long arithmetic —
    * is EXACTLY a full rebuild. */
  private def buildTextIndex(t: Table,
      spark: org.apache.spark.sql.SparkSession, ns: String, tbl: String,
      textCol: String, idCol: String, numBuckets: Int, idxName: String,
      snapRaw: Long, incremental: Boolean): (StructType, Seq[Any]) = {
    val art = Derived.TextPostings(textCol, idCol)
    val (w, buckets) =
      if (incremental) {
        val c = new Chain(art.proc, "index", idxName, art.ns, t, ns, tbl,
          snapRaw)
        c.requireSame("text-col" -> textCol, "id-col" -> idCol)
        (c.run(art.delta(c.fresh(spark), c.props)),
          c.prop("num-buckets").toInt)
      } else {
        if (numBuckets <= 0)
          throw new IllegalArgumentException("build_text_index: " +
            s"num_buckets must be positive, got $numBuckets")
        (buildArtifact(art, t, spark, ns, tbl, idxName, snapRaw, Map(
          "text-col" -> textCol, "id-col" -> idCol,
          "num-buckets" -> numBuckets.toString), Some("tbucket")),
          numBuckets)
      }
    (new StructType().add("index_table", StringType)
      .add("buckets", IntegerType).add("postings_indexed", LongType)
      .add("docs_total", LongType).add("source_snapshot_id", LongType),
      Seq(idxName, buckets, w.appended, w.total(art.key("n-docs")),
        w.anchor))
  }

  /** `corpus_diff(ns, table, from_snapshot[, to_snapshot, text_col,
    * id_col])`: STATE-BASED diff of two corpus versions — the dataset
    * curation audit ("what changed between the snapshot we trained on
    * and today"). Rows are keyed by `id_col` and compared by an md5
    * content fingerprint of `text_col`, so the report is independent
    * of how the history got there (CoW rewrites, compactions, and
    * MoR delete files all collapse into visible state — unlike a
    * changelog walk, which reports churn). One scan per side, one
    * id-keyed outer join, one single-row aggregate: scales like a
    * join, never like history length. NULL texts fingerprint to a
    * sentinel so NULL-vs-NULL reads as unchanged. */
  private def corpusDiff(t: Table,
      spark: org.apache.spark.sql.SparkSession, ns: String, tbl: String,
      fromSnap: Long, toRaw: Long, textCol: String,
      idCol: String): (StructType, Seq[Any]) = {
    if (t.snapshotById(fromSnap).isEmpty)
      throw new IllegalArgumentException(
        s"corpus_diff: from_snapshot $fromSnap not found")
    val toSnap =
      if (toRaw == -1L) t.currentSnapshot.map(_.snapshotId).getOrElse(
        throw new IllegalArgumentException(
          s"corpus_diff: $ns.$tbl has no snapshots"))
      else if (t.snapshotById(toRaw).isEmpty)
        throw new IllegalArgumentException(
          s"corpus_diff: to_snapshot $toRaw not found")
      else toRaw
    import org.apache.spark.sql.functions.{col, md5, coalesce, lit,
      count, sum, when}
    def fps(snap: Long, side: String) =
      graft.table.Scan(t, spark).useSnapshot(snap).toDF
        .select(col(idCol).as(s"id_$side"),
          md5(coalesce(col(textCol), lit("\u0000graft-null")))
            .as(s"fp_$side"))
    val joined = fps(fromSnap, "a").join(fps(toSnap, "b"),
      col("id_a") === col("id_b"), "full_outer")
    val r = joined.agg(
      sum(when(col("id_a").isNull, 1L).otherwise(0L)).as("added"),
      sum(when(col("id_b").isNull, 1L).otherwise(0L)).as("removed"),
      sum(when(col("id_a").isNotNull && col("id_b").isNotNull &&
        col("fp_a") =!= col("fp_b"), 1L).otherwise(0L)).as("changed"),
      sum(when(col("id_a").isNotNull && col("id_b").isNotNull &&
        col("fp_a") === col("fp_b"), 1L).otherwise(0L)).as("unchanged"))
      .head
    def g(i: Int): Long = if (r.isNullAt(i)) 0L else r.getLong(i)
    (new StructType().add("from_snapshot", LongType)
      .add("to_snapshot", LongType).add("added", LongType)
      .add("removed", LongType).add("changed", LongType)
      .add("unchanged", LongType),
      Seq(fromSnap, toSnap, g(0), g(1), g(2), g(3)))
  }

  /** `corpus_stats(ns, table[, text_col, snapshot_id])`: one-CALL
    * corpus audit — row count, NULL texts, exact character and
    * whitespace-token totals (the [[graft.ops.TextAnalysis
    * .normalized]] tokenization every text operator here shares), and
    * the distinct-token vocabulary size. Two scans: one single-row
    * aggregate for the additive counters, one explode +
    * count-distinct for the vocabulary (the only non-additive
    * statistic). Snapshot-addressable, so `snapshot_id =>` audits any
    * historical state — the before/after readout for every curation
    * step. */
  private def corpusStats(t: Table,
      spark: org.apache.spark.sql.SparkSession, ns: String, tbl: String,
      textCol: String, snapRaw: Long): (StructType, Seq[Any]) = {
    val snapId = snapshotOf("corpus_stats", t, ns, tbl, snapRaw)
    val df = graft.table.Scan(t, spark).useSnapshot(snapId).toDF
    import org.apache.spark.sql.functions._
    val norm = graft.ops.TextAnalysis.normalized(col(textCol))
    val tk = split(norm, " ")
    // empty/whitespace-only docs count 0 tokens (split of "" yields
    // [""], which would silently count 1 and seed a phantom ''
    // vocabulary entry) — the TextAnalysis.tokenCount rule, mirrored
    // in the i55 oracle's CASE guard
    val r = df.agg(
      count(lit(1)).as("n_docs"),
      coalesce(sum(when(col(textCol).isNull, 1L).otherwise(0L)),
        lit(0L)).as("null_texts"),
      coalesce(sum(length(col(textCol)).cast("long")), lit(0L))
        .as("total_chars"),
      coalesce(sum(when(col(textCol).isNotNull && length(norm) > 0,
        size(tk).cast("long")).otherwise(0L)), lit(0L))
        .as("total_tokens")).head
    val distinctToks = df
      .where(col(textCol).isNotNull && length(norm) > 0)
      .select(explode(tk).as("__tok"))
      .agg(count_distinct(col("__tok"))).head.getLong(0)
    (new StructType().add("snapshot_id", LongType)
      .add("n_docs", LongType).add("null_texts", LongType)
      .add("total_chars", LongType).add("total_tokens", LongType)
      .add("distinct_tokens", LongType),
      Seq(snapId, r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), distinctToks))
  }

  /** `ancestors_of(ns, table[, snapshot_id])`: the snapshot lineage
    * walk — one row per ancestor from the given (default: current)
    * snapshot up the parent chain, newest first, with the commit
    * operation. Metadata-only: no data files are opened. The
    * time-travel companion to `corpus_diff`: pick a lineage point
    * there, audit it with `corpus_stats(snapshot_id =>)`. */
  private def ancestorsOf(t: Table,
      input: InternalRow): (StructType, Seq[Seq[Any]]) = {
    val snapRaw = input.getLong(2)
    val start =
      if (snapRaw == -1L) t.currentSnapshot.getOrElse(
        throw new IllegalArgumentException(
          "ancestors_of: table has no snapshots"))
      else t.snapshotById(snapRaw).getOrElse(
        throw new IllegalArgumentException(
          s"ancestors_of: snapshot_id $snapRaw not found"))
    val chain = Iterator.iterate(Option(start))(
        _.flatMap(_.parentSnapshotId).flatMap(t.snapshotById))
      .takeWhile(_.isDefined).map(_.get).toSeq
    (new StructType().add("snapshot_id", LongType)
      .add("parent_id", LongType).add("timestamp_ms", LongType)
      .add("operation", StringType),
      chain.map(s => Seq(s.snapshotId,
        s.parentSnapshotId.map(java.lang.Long.valueOf).orNull,
        s.timestampMs,
        s.summary.map(_.operation.name).orNull)))
  }

  /** `train_tokenizer`: ONE corpus pass (word counts) + a
    * dictionary-sized substring aggregation, persisted as an ADDITIVE
    * piece-count LEDGER table `(piece, cnt)` with the source snapshot,
    * text column, max piece length, and exact ledger total stamped as
    * properties. The ledger is vocabulary-size-agnostic: any V derives
    * its vocabulary at read time via
    * [[graft.ops.Unigram.vocabFromCounts]] (sum-merge -> coverage
    * singles + top-V -> exact qlog weights), so one trained model
    * serves every downstream vocab size. Rebuilding an existing model
    * is one overwrite snapshot. `incremental => true` appends the
    * piece counts of the rows added since the recorded snapshot, with
    * the stamped piece length: counts are additive over disjoint
    * document sets, so after the read path's sum-merge the chained
    * ledger IS the full-rebuild model (the text index's "chain ==
    * rebuild" contract, unlike the frozen-model ANN/PQ chains). */
  private def trainTokenizer(t: Table,
      spark: org.apache.spark.sql.SparkSession, ns: String, tbl: String,
      textCol: String, maxPieceLen: Int, mdlName: String,
      snapRaw: Long, incremental: Boolean): (StructType, Seq[Any]) = {
    val art = Derived.TokLedger(textCol)
    val w =
      if (incremental) {
        val c = new Chain(art.proc, "model", mdlName, art.ns, t, ns, tbl,
          snapRaw)
        c.requireSame("text-col" -> textCol)
        // a chain ALWAYS uses the stamped piece length (the ledger's
        // candidate universe is fixed at train time); a caller
        // explicitly asking for a different one must get an error, not
        // a silent override. The declared default is indistinguishable
        // from "not passed", so only non-default mismatches can be
        // detected.
        val stamped = c.prop("max-piece-len").toInt
        if (maxPieceLen != GraftBoundProcedure.TokDefaultMaxPieceLen &&
            maxPieceLen != stamped)
          throw new IllegalArgumentException(s"train_tokenizer: model " +
            s"$mdlName was trained with max_piece_len $stamped, call " +
            s"asks for $maxPieceLen — incremental chains cannot change " +
            "the piece length; retrain (incremental => false)")
        c.run(art.delta(c.fresh(spark), c.props))
      } else {
        if (maxPieceLen < 1)
          throw new IllegalArgumentException("train_tokenizer: " +
            s"max_piece_len must be >= 1, got $maxPieceLen")
        buildArtifact(art, t, spark, ns, tbl, mdlName, snapRaw, Map(
          "text-col" -> textCol, "max-piece-len" -> maxPieceLen.toString))
      }
    (new StructType().add("model_table", StringType)
      .add(if (incremental) "pieces_appended" else "pieces", LongType)
      .add("total_cnt", LongType).add("source_snapshot_id", LongType),
      Seq(mdlName, w.appended, w.total(art.key("total-cnt")), w.anchor))
  }

  /** `train_lm(ns, table)`: persist the trigram stupid-backoff LM's
    * COUNT LEDGER ([[graft.ops.LangModel.gramCounts]] — one row per
    * distinct training gram, `(n, w1, w2, w3, cnt)`) as a graft table
    * with the source snapshot, text column, and exact token total
    * stamped as properties. Counts — not quotients — are what
    * persists: they are ADDITIVE over disjoint document sets, so
    * `incremental => true` chains new docs' count deltas and the
    * read path's sum-merge ([[graft.ops.LangModel.scoreWithCounts]])
    * equals a full retrain bit-for-bit. Rebuilding an existing model
    * is one overwrite snapshot. */
  private def trainLm(t: Table,
      spark: org.apache.spark.sql.SparkSession, ns: String, tbl: String,
      textCol: String, mdlName: String, snapRaw: Long,
      incremental: Boolean): (StructType, Seq[Any]) = {
    val art = Derived.LmLedger(textCol)
    val w =
      if (incremental) {
        val c = new Chain(art.proc, "model", mdlName, art.ns, t, ns, tbl,
          snapRaw)
        c.requireSame("text-col" -> textCol)
        c.run(art.delta(c.fresh(spark), c.props))
      } else buildArtifact(art, t, spark, ns, tbl, mdlName, snapRaw,
        Map("text-col" -> textCol))
    (new StructType().add("model_table", StringType)
      .add(if (incremental) "grams_appended" else "grams", LongType)
      .add("total_tokens", LongType).add("source_snapshot_id", LongType),
      Seq(mdlName, w.appended, w.total(art.key("total-tokens")), w.anchor))
  }

  /** `score_text(ns, model_table, 'free text')`: score a literal
    * string against a persisted `train_lm` ledger - the interactive
    * "how surprising is this text to the corpus" probe, and the SQL
    * face of [[graft.ops.LangModel.scoreWithCounts]] at one-document
    * granularity. Returns the single per-document row the library
    * returns: trigram count, per-backoff-level hit counts, OOV count,
    * exact scaled score, and the descaled mean. */
  private def scoreText(t: Table,
      spark: org.apache.spark.sql.SparkSession,
      input: InternalRow): (StructType, Seq[Seq[Any]]) = {
    val text = input.getUTF8String(2).toString
    if (!t.metadata.properties.contains(s"${LmPropPrefix}total-tokens"))
      throw new IllegalArgumentException("score_text: table has no " +
        s"'${LmPropPrefix}total-tokens' property - not a train_lm " +
        "model table")
    val ledger = graft.table.Scan(t, spark).toDF
    import spark.implicits._
    val one = Seq((0L, text)).toDF("doc_id", "text")
    val out = graft.ops.LangModel.scoreWithCounts(one, ledger)
      .drop("doc_id")
    (out.schema, out.collect().map(_.toSeq).toSeq)
  }

  /** `train_classifier(ns, table, label_pred)`: persist the hashed
    * linear text classifier's COUNT LEDGER
    * ([[graft.ops.Classifier.labelCounts]] — `(bucket, p_cnt,
    * n_cnt)`, ≤ 65 536 rows whatever the corpus size) as a graft
    * table with the source snapshot, text column, and label predicate
    * stamped as properties. Counts — not the derived weights — are
    * what persists: they are ADDITIVE over disjoint document sets, so
    * `incremental => true` chains new docs' count deltas (labeled with
    * the STAMPED predicate; a different one errors rather than
    * silently corrupting the model) and the read path's sum-merge
    * ([[graft.ops.Classifier.weightsFromCounts]]) equals a full refit
    * bit-for-bit. The label predicate is any SQL boolean expression
    * over the table's columns (true → positive, false → negative,
    * NULL → neither). */
  private def trainClassifier(t: Table,
      spark: org.apache.spark.sql.SparkSession, ns: String, tbl: String,
      labelPred: String, textCol: String, mdlName: String,
      snapRaw: Long, incremental: Boolean): (StructType, Seq[Any]) = {
    val art = Derived.ClfLedger(textCol)
    val w =
      if (incremental) {
        val c = new Chain(art.proc, "model", mdlName, art.ns, t, ns, tbl,
          snapRaw)
        c.requireSame("text-col" -> textCol)
        if (c.prop("label-pred") != labelPred)
          throw new IllegalArgumentException(s"train_classifier: model " +
            s"$mdlName was labeled by '${c.prop("label-pred")}', call " +
            s"uses '$labelPred' - chaining mixed labelings would " +
            "corrupt the model")
        c.run(art.delta(c.fresh(spark), c.props))
      } else buildArtifact(art, t, spark, ns, tbl, mdlName, snapRaw,
        Map("text-col" -> textCol, "label-pred" -> labelPred))
    (new StructType().add("model_table", StringType)
      .add(if (incremental) "buckets_appended" else "buckets", LongType)
      .add("pos_tokens", LongType).add("neg_tokens", LongType)
      .add("source_snapshot_id", LongType),
      Seq(mdlName, w.appended, w.total(art.key("pos-tokens")),
        w.total(art.key("neg-tokens")), w.anchor))
  }

  /** `classify_text(ns, model_table, 'free text')`: score a literal
    * string against a persisted `train_classifier` ledger - the
    * interactive "would the quality filter keep this" probe, and the
    * SQL face of [[graft.ops.Classifier.linearScore]] at one-document
    * granularity. Returns `(n_feats, margin_scaled, mean_margin,
    * accept)`. */
  private def classifyText(t: Table,
      spark: org.apache.spark.sql.SparkSession,
      input: InternalRow): (StructType, Seq[Seq[Any]]) = {
    val text = input.getUTF8String(2).toString
    if (!t.metadata.properties.contains(s"${ClfPropPrefix}label-pred"))
      throw new IllegalArgumentException("classify_text: table has " +
        s"no '${ClfPropPrefix}label-pred' property - not a " +
        "train_classifier model table")
    val ledger = graft.table.Scan(t, spark).toDF
    val model = graft.ops.Classifier.weightsFromCounts(ledger)
    import spark.implicits._
    val one = Seq((0L, text)).toDF("doc_id", "text")
    val out = graft.ops.Classifier.linearScore(one, model)
      .drop("doc_id")
    (out.schema, out.collect().map(_.toSeq).toSeq)
  }

  /** `segment_text(ns, model_table, 'free text'[, vocab_size])`:
    * Viterbi-segment a literal string against a persisted tokenizer
    * model - the interactive "what would the tokenizer do" probe, and
    * the SQL face of [[graft.ops.Unigram.segmentWords]]. Returns one
    * row per distinct word of the input (ordered), with the joined
    * piece string, exact score, and piece count. */
  private def segmentText(t: Table,
      spark: org.apache.spark.sql.SparkSession,
      input: InternalRow): (StructType, Seq[Seq[Any]]) = {
    val text = input.getUTF8String(2).toString
    val vocabSize = input.getInt(3)
    if (vocabSize < 0)
      throw new IllegalArgumentException("segment_text: vocab_size " +
        s"must be >= 0, got $vocabSize")
    def prop(k: String): String = t.metadata.properties.getOrElse(k,
      throw new IllegalArgumentException("segment_text: table has no " +
        s"'$k' property - not a train_tokenizer model table"))
    val maxPieceLen = prop(s"${TokPropPrefix}max-piece-len").toInt
    val total = prop(s"${TokPropPrefix}total-cnt").toLong
    val ledger = graft.table.Scan(t, spark).toDF
    val (vocab, qlogT) =
      graft.ops.Unigram.vocabFromCounts(ledger, vocabSize, total)
    import spark.implicits._
    val words = "[a-z0-9]+".r.findAllIn(text.toLowerCase).toSeq
    val segs =
      if (words.isEmpty) Array.empty[org.apache.spark.sql.Row]
      else graft.ops.Unigram.segmentWords(words.toDF("word"), vocab,
        qlogT, maxPieceLen).orderBy("word").collect()
    (new StructType().add("word", StringType).add("seg", StringType)
      .add("score", LongType).add("n_pieces", LongType),
      segs.toSeq.map(r => Seq(r.getString(0),
        r.getSeq[String](1).mkString(" "), r.getLong(2), r.getLong(3))))
  }

  /** `build_dedup_index`: persist ONE corpus pass of
    * [[graft.ops.Dedup.signatureFrame]] — (id, exact fingerprint,
    * hashed shingle set, minhash signature) per non-NULL-text row — as
    * a graft table, so every later batch dedups against the INDEX
    * instead of re-reading the 100 TB base corpus. The indexed source
    * snapshot and column/hash configuration are recorded as table
    * properties; `dedup_table(..., index_table)` validates them and
    * advances the snapshot as it chains batches. Rebuilding an
    * existing index is one overwrite snapshot. */
  private def buildDedupIndex(t: Table,
      spark: org.apache.spark.sql.SparkSession, ns: String, tbl: String,
      textCol: String, idCol: String, numHashes: Int, idxName: String,
      snapRaw: Long): (StructType, Seq[Any]) = {
    if (numHashes <= 0 || numHashes % 16 != 0)
      throw new IllegalArgumentException("build_dedup_index: " +
        s"num_hashes must be a positive multiple of 16, got $numHashes")
    val snapId = snapshotOf("build_dedup_index", t, ns, tbl, snapRaw)
    val df = graft.table.Scan(t, spark).useSnapshot(snapId).toDF
    val sig = graft.ops.Dedup.signatureFrame(df, textCol, idCol,
      numHashes)
    val props = Map(
      IdxPropSourceTable -> s"$ns.$tbl",
      IdxPropSourceSnapshot -> snapId.toString,
      IdxPropTextCol -> textCol,
      IdxPropIdCol -> idCol,
      IdxPropNumHashes -> numHashes.toString)
    val committed = Derived.build(catalog,
      TableIdentifier(ns.split('.').toSeq, idxName), io, sig, props)
    (new StructType().add("index_table", StringType)
      .add("docs_indexed", LongType)
      .add("source_snapshot_id", LongType),
      Seq(idxName, added(committed), snapId))
  }

  /** Index-backed incremental `dedup_table`: same policy and report as
    * [[dedupTableIncremental]], but the canonical base is never read —
    * banding probes the index's stored signatures, verify reads its
    * stored hashed shingle sets, exact mode its stored fingerprints.
    * After the (single, MoR equality-delete) removal commit, the
    * surviving batch rows' signatures are APPENDED to the index and
    * its recorded source snapshot advances to the new head, so
    * tomorrow's batch passes `since_snapshot_id = <today's head>` and
    * chains without ever rebuilding.
    *
    * The removal commit is stamped with the index anchor it was
    * computed against. The index commit goes to another table, so a
    * crash between the two leaves the removal committed and the anchor
    * unmoved; a re-run that finds its stamp after `since` does not
    * delete again (the batch rows it would read still include the
    * removed ones), recomputes the same removals against the unchanged
    * index for the index half, and reports from the stamped commit. */
  private def dedupTableIndexed(t: Table,
      spark: org.apache.spark.sql.SparkSession, ns: String, mode: String,
      textCol: String, idCol: String, threshold: Double,
      qualityCol: String, since: Long,
      idxName: String): (StructType, Seq[Any]) = {
    if (t.snapshotById(since).isEmpty)
      throw new IllegalArgumentException(
        s"dedup_table: since_snapshot_id $since not found")
    val head = t.currentSnapshot.map(_.snapshotId).getOrElse(
      throw new IllegalArgumentException("dedup_table: empty table"))
    val idxId = TableIdentifier(ns.split('.').toSeq, idxName)
    if (!catalog.tableExists(idxId))
      throw new IllegalArgumentException(s"dedup_table: index table " +
        s"$idxName not found — run build_dedup_index first")
    val idx = Table.load(catalog, idxId, io)
    val props = idx.metadata.properties
    def prop(k: String): String = props.getOrElse(k,
      throw new IllegalArgumentException(s"dedup_table: $idxName is " +
        s"not a dedup index (missing property $k)"))
    val recorded = prop(IdxPropSourceSnapshot).toLong
    if (recorded != since)
      throw new IllegalArgumentException(s"dedup_table: index " +
        s"$idxName records source snapshot $recorded but " +
        s"since_snapshot_id is $since — stale or wrong index; rebuild " +
        s"it or pass since_snapshot_id => $recorded")
    val srcTable = prop(IdxPropSourceTable)
    if (srcTable != s"$ns.${t.id.name}")
      throw new IllegalArgumentException(s"dedup_table: index " +
        s"$idxName was built from $srcTable, not $ns.${t.id.name}")
    if (prop(IdxPropTextCol) != textCol || prop(IdxPropIdCol) != idCol)
      throw new IllegalArgumentException(s"dedup_table: index " +
        s"$idxName was built on (${prop(IdxPropTextCol)}, " +
        s"${prop(IdxPropIdCol)}), call uses ($textCol, $idCol)")
    val numHashes = prop(IdxPropNumHashes).toInt
    val stamp = s"$idxName@$since"
    val stamped = Iterator.iterate(t.currentSnapshot)(
        _.flatMap(_.parentSnapshotId).flatMap(t.snapshotById))
      .takeWhile(_.exists(_.snapshotId != since)).flatten
      .find(_.summary.exists(_.extra.get(IdxPropDeletedAt).contains(stamp)))
    // the head the removals are computed at: the stamped commit's parent
    // when a crashed run already removed them
    val at = stamped.flatMap(_.parentSnapshotId).getOrElse(head)
    val fresh =
      if (at == since)
        graft.table.Scan(t, spark).toDF.limit(0)
      else graft.table.Scan(t, spark).appendsBetween(since, at).toDF
    val idxDf = graft.table.Scan(idx, spark).toDF
    val removals = mode match {
      case "exact" =>
        graft.ops.Dedup.indexedExactRemovals(fresh, idxDf, textCol, idCol)
      case "minhash" =>
        graft.ops.Dedup.indexedMinhashRemovals(fresh, idxDf, textCol,
          idCol, numHashes, threshold = threshold)
      case "best" =>
        if (qualityCol.isEmpty) throw new IllegalArgumentException(
          "dedup_table: mode 'best' requires quality_col")
        graft.ops.Dedup.indexedMinhashRemovals(fresh, idxDf, textCol,
          idCol, numHashes, threshold = threshold,
          qualityCol = Some(qualityCol))
      case other => throw new IllegalArgumentException(
        s"dedup_table: unknown mode '$other' (exact | minhash | best)")
    }
    val removalsM = removals.localCheckpoint(true)
    val (before, kept, anchor) = stamped match {
      case Some(s) =>
        (graft.table.Scan(t, spark).useSnapshot(at).count(),
          graft.table.Scan(t, spark).useSnapshot(s.snapshotId).count(),
          s.snapshotId)
      case None =>
        val before = graft.table.Scan(t, spark).count()
        val removed = removalsM.count()
        val after = if (removed > 0L)
          graft.table.Mutations.deleteByKeys(t, spark, removalsM,
            summary = Map(IdxPropDeletedAt -> stamp)) else t
        (before, before - removed,
          after.currentSnapshot.map(_.snapshotId).getOrElse(head))
    }
    // index maintenance, one chain commit: the surviving batch rows'
    // signatures, with the anchor moved to the post-delete head
    if (at != since) {
      val survivors = fresh.join(
        removalsM.select(idCol), Seq(idCol), "left_anti")
      Derived.chain(idx, IdxPropSourceSnapshot, since, anchor,
        Derived.Delta(graft.ops.Dedup.signatureFrame(
          survivors, textCol, idCol, numHashes)))
    }
    (new StructType().add("docs_before", LongType)
      .add("docs_kept", LongType).add("docs_removed", LongType),
      Seq(before, kept, before - kept))
  }
}

private[sources] object GraftBoundProcedure {
  private val IdxPropSourceTable = "graft.dedup-index.source-table"
  private val IdxPropSourceSnapshot =
    "graft.dedup-index.source-snapshot-id"
  /** Snapshot-summary stamp of a removal commit: `<index>@<anchor>`. */
  private val IdxPropDeletedAt = "graft.dedup-index.deleted-at"
  private val IdxPropTextCol = "graft.dedup-index.text-col"
  private val IdxPropIdCol = "graft.dedup-index.id-col"
  private val IdxPropNumHashes = "graft.dedup-index.num-hashes"
  private val AnnPropPrefix = "graft.ann-index."
  private val TextPropPrefix = "graft.text-index."
  private val PqPropPrefix = "graft.pq-index."
  private val TokPropPrefix = "graft.tok-model."
  /** The declared default of train_tokenizer's `max_piece_len` — ONE
    * constant shared by the parameter declaration and the
    * incremental-chain mismatch check, so the two can never drift. */
  private[sources] val TokDefaultMaxPieceLen = 4
  /** pack_corpus's declared `docs_per_shard` default — same
    * shared-constant rule as [[TokDefaultMaxPieceLen]]. */
  private[sources] val PackDefaultDocsPerShard = 100L
  private val LmPropPrefix = "graft.lm-model."
  private val ClfPropPrefix = "graft.clf-model."
  /** A derived table after its one commit (or none), for the report:
    * the source snapshot it now covers and the records it appended. */
  private final case class Written(table: Table, anchor: Long,
      appended: Long) {
    def total(k: String): Long = table.metadata.properties(k).toLong
  }
  /** An incremental call's derived-table noun → (its full-run verb,
    * that verb's participle), for the chain's error messages. */
  private val Verbs = Map("index" -> ("build", "built"),
    "model" -> ("train", "trained"), "target" -> ("pack", "packed"))
}
