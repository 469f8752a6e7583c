package graft.table

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, expr, size, sum}

import graft.catalog.{Catalog, CommitConflictException, TableIdentifier}
import graft.io.FileIO
import graft.ops.{Bpe, Classifier, LangModel, Retrieval, Similarity, Unigram}
import graft.spec.{PartitionSpec, SchemaConverters, TableMetadata}

/** Derived tables: the indexes and models a procedure builds from a
  * source table, which `incremental => true` calls and the streaming
  * ingest sinks keep current. Each stamps its configuration, its
  * frozen model and its additive totals as `<ns>.*` properties, and
  * `<ns>.source-snapshot-id` — the anchor — names the source snapshot
  * its rows cover.
  *
  * Every write to one is ONE commit that carries its rows and all its
  * stamps together (the paper's one-snapshot-per-operation write path):
  * [[build]] for a full build, [[chain]] for an incremental step. A
  * crash before that commit leaves the table as it was; a crash after
  * it leaves nothing to redo. */
object Derived {

  /** What one step adds to a derived table: the rows to append and the
    * additive totals they move (full property key → amount). */
  final class Delta(val payload: DataFrame, val totals: Map[String, Long],
      hasRows: => Boolean) {
    lazy val nonEmpty: Boolean = hasRows

    /** The totals advanced from `props`' stamped values. */
    def over(props: Map[String, String]): Map[String, String] =
      totals.map { case (k, d) => k -> (props(k).toLong + d).toString }

    /** The totals as a full build's stamps. */
    def stamps: Map[String, String] = totals.map { case (k, v) =>
      k -> v.toString }
  }

  object Delta {
    def apply(payload: DataFrame,
        totals: Map[String, Long] = Map.empty): Delta =
      new Delta(payload, totals, !payload.isEmpty)
  }

  /** One kind of derived table: its property namespace, the procedure
    * that builds it, the stamps its delta reads, and the delta itself —
    * the one definition that a full build (over the whole source), a
    * procedure chain (over `appendsBetween` rows) and a streaming sink
    * (over its batch) all use. Column names are the caller's; the
    * model and the totals' current values come from `props`. */
  sealed abstract class Artifact(val ns: String, val proc: String,
      needs: String*) {
    final def key(k: String): String = s"$ns.$k"
    final def anchor: String = key("source-snapshot-id")

    /** Fails, naming the first missing one, unless `props` carry every
      * stamp the delta and its totals read. */
    final def requireStamps(props: Map[String, String],
        what: String): Unit =
      needs.map(key).find(!props.contains(_)).foreach(k =>
        throw new IllegalArgumentException(s"$what: table has no " +
          s"'$k' property — not a $proc table"))

    def delta(rows: DataFrame, props: Map[String, String]): Delta
  }

  /** `build_ann_index`: rows assigned to their cell with the stamped
    * centroids; wrong-dim rows are not indexed. */
  final case class AnnCells(vecCol: String, idCol: String)
      extends Artifact("graft.ann-index", "build_ann_index",
        "dim", "centroids") {
    def delta(rows: DataFrame, props: Map[String, String]): Delta = {
      val centroids = Similarity.centroidsFromJson(props(key("centroids")))
      Delta(rows.where(size(col(vecCol)) === props(key("dim")).toInt)
        .select(col(idCol),
          Similarity.nearestCell(col(vecCol), centroids).as("cell"),
          Similarity.l2norm(col(vecCol)).as("norm"), col(vecCol)))
    }
  }

  /** `build_pq_index`: rows encoded with the stamped codebooks;
    * wrong-dim rows are not indexed. */
  final case class PqCodes(vecCol: String, idCol: String)
      extends Artifact("graft.pq-index", "build_pq_index",
        "dim", "ksub", "codebooks") {
    def delta(rows: DataFrame, props: Map[String, String]): Delta =
      Delta(Similarity.pqEncode(
        rows.where(size(col(vecCol)) === props(key("dim")).toInt),
        Similarity.pqCodebooksFromJson(props(key("codebooks")),
          props(key("ksub")).toInt), vecCol, idCol))
  }

  /** `build_text_index`: term-bucketed postings, plus the corpus stats
    * (NULL-text docs count toward n-docs and post nothing). */
  final case class TextPostings(textCol: String, idCol: String)
      extends Artifact("graft.text-index", "build_text_index",
        "num-buckets", "n-docs", "total-dl") {
    def delta(rows: DataFrame, props: Map[String, String]): Delta = {
      val (docs, dl) = Retrieval.corpusStats(rows, textCol)
      Delta(Retrieval.postings(rows, textCol, idCol)
        .withColumn("tbucket", graft.functions.IcebergFunctions
          .icebergBucket(col("term"), props(key("num-buckets")).toInt)),
        Map(key("n-docs") -> docs, key("total-dl") -> dl))
    }
  }

  /** `train_tokenizer`: piece counts with the stamped piece length. */
  final case class TokLedger(textCol: String)
      extends Artifact("graft.tok-model", "train_tokenizer",
        "max-piece-len", "total-cnt") {
    def delta(rows: DataFrame, props: Map[String, String]): Delta = {
      val counts = Unigram.pieceCounts(Bpe.wordCounts(rows, textCol),
        props(key("max-piece-len")).toInt).localCheckpoint(true)
      Delta(counts, Map(key("total-cnt") -> sumOf(counts)))
    }
  }

  /** `train_lm`: gram counts; the token total is the unigram slice. */
  final case class LmLedger(textCol: String)
      extends Artifact("graft.lm-model", "train_lm", "total-tokens") {
    def delta(rows: DataFrame, props: Map[String, String]): Delta = {
      val counts = LangModel.gramCounts(rows, textCol).localCheckpoint(true)
      Delta(counts, Map(key("total-tokens") ->
        sumOf(counts.where(col("n") === 1))))
    }
  }

  /** `train_classifier`: bucket counts labeled by the stamped
    * predicate. */
  final case class ClfLedger(textCol: String)
      extends Artifact("graft.clf-model", "train_classifier",
        "label-pred", "pos-tokens", "neg-tokens") {
    def delta(rows: DataFrame, props: Map[String, String]): Delta = {
      val counts = Classifier.labelCounts(rows,
        expr(props(key("label-pred"))), textCol).localCheckpoint(true)
      Delta(counts, Map(key("pos-tokens") -> sumOf(counts, "p_cnt"),
        key("neg-tokens") -> sumOf(counts, "n_cnt")))
    }
  }

  private def sumOf(df: DataFrame, c: String = "cnt"): Long =
    Option(df.agg(sum(c)).head.get(0)).map(_.asInstanceOf[Long])
      .getOrElse(0L)

  /** A full build's one data commit. A new table is created with no
    * stamps — `partitionBy` names its identity partition column — and
    * its first commit appends `payload` with every property in `props`;
    * an existing one is overwritten in one commit that stamps them. A
    * crash before that commit leaves either no stamped table or the old
    * build, whole, so an `incremental => true` call can never trust an
    * empty or half-written one. */
  def build(catalog: Catalog, id: TableIdentifier, io: FileIO,
      payload: DataFrame, props: Map[String, String],
      partitionBy: Option[String] = None): Table =
    if (catalog.tableExists(id))
      Mutations.overwrite(Table.load(catalog, id, io),
        payload.sparkSession, payload, props)
    else {
      val schema = SchemaConverters.fromSparkSchema(payload.schema)
      val spec = partitionBy.fold(PartitionSpec.unpartitioned)(c =>
        PartitionSpec.builder(0)
          .identity(schema.fieldByName(c).get.id, c).build())
      TableOps.append(Table.create(catalog, id, schema, spec = spec,
        io = io), payload, props = props)
    }

  /** The one commit of an incremental step — a procedure chain here, a
    * streaming batch in `graft.streaming.Streams`: the delta's rows
    * append through [[TableOps.appendComputed]] (or, when there are
    * none, [[TableOps.stampComputed]] commits an empty snapshot), and
    * `stamps` ride that same commit, recomputed from refreshed metadata
    * on every conflict retry so a concurrent writer's increments are
    * never overwritten by stale arithmetic. */
  def commit(target: Table, d: Delta,
      stamps: TableMetadata => Map[String, String]): Table =
    if (d.nonEmpty) TableOps.appendComputed(target, d.payload, stamps)
    else TableOps.stampComputed(target, stamps)

  /** A chain step's [[commit]]: the delta of the source rows appended
    * between `recorded` and `head`, its totals advanced and the anchor
    * moved to `head` (plus any `extra` stamps) in one snapshot. Each
    * attempt first checks the anchor in the refreshed metadata: if
    * another step moved it off `recorded` since this one read it, the
    * step throws [[CommitConflictException]] instead of appending the
    * same rows a second time. */
  def chain(target: Table, anchor: String, recorded: Long, head: Long,
      d: Delta, extra: Map[String, String] = Map.empty): Table =
    commit(target, d, m => {
      val now = m.properties.get(anchor)
      if (!now.contains(recorded.toString))
        throw new CommitConflictException(s"${target.id}: $anchor is " +
          s"${now.getOrElse("unset")}, not $recorded as this step read " +
          "it — another step chained the table; re-run against it")
      d.over(m.properties) ++ extra + (anchor -> head.toString)
    })
}
