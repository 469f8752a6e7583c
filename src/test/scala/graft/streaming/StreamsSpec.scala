package graft.streaming

import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.SparkTestSession
import graft.catalog.{LocalCatalog, TableIdentifier}
import graft.io.HadoopFileIO
import graft.spec._
import graft.table._

class StreamsSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private val eventSchema = Schema(0, Seq(
    NestedField(1, "event_id", LongType, required = true),
    NestedField(2, "user_id", LongType, required = true),
    NestedField(3, "value", DoubleType, required = true)))

  test("foreachBatch Iceberg sink: one snapshot per micro-batch") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = Files.createTempDirectory("graft-stream-").toString
    val cat = new LocalCatalog(dir)
    cat.createNamespace(Seq("db"))
    val table = Table.create(cat, TableIdentifier(Seq("db"), "events"),
      eventSchema, io = new HadoopFileIO())
    val sink = Streams.icebergSink(table)

    val input = MemoryStream[(Long, Long, Double)]
    val q = input.toDF()
      .toDF("event_id", "user_id", "value")
      .writeStream
      .outputMode("append")
      .trigger(Trigger.ProcessingTime("50 milliseconds"))
      .foreachBatch((df: org.apache.spark.sql.DataFrame, id: Long) =>
        sink.addBatch(df, id))
      .start()
    try {
      input.addData((1L, 10L, 1.5), (2L, 10L, 2.5))
      q.processAllAvailable()
      input.addData((3L, 11L, 3.0))
      q.processAllAvailable()
    } finally q.stop()

    val t = sink.table
    assert(t.metadata.snapshots.size == 2,
      s"one snapshot per non-empty batch: ${t.metadata.snapshots.size}")
    assert(Scan(t, spark).count() == 3)
    assert(Scan(t, spark).toDF.agg(sum("value")).head.getDouble(0) == 7.0)
    // time travel into the stream's history
    val first = t.metadata.snapshots.head
    assert(Scan(t, spark).useSnapshot(first.snapshotId).toDF.count() == 2)
  }

  test("stream sink per-batch job count is bounded (r22 baseline: the " +
      "exactly-once stamp machinery must not grow per-batch overhead)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = Files.createTempDirectory("graft-stream-jobs-").toString
    val cat = new LocalCatalog(dir)
    cat.createNamespace(Seq("db"))
    val table = Table.create(cat, TableIdentifier(Seq("db"), "events"),
      eventSchema, io = new HadoopFileIO())
    val sink = Streams.icebergSink(table)
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    // steady-state batch: count jobs for the SECOND batch, after the
    // first has paid any one-time setup
    sink.addBatch(Seq((1L, 10L, 1.5), (2L, 10L, 2.5))
      .toDF("event_id", "user_id", "value"), 0L)
    // the listener bus is async: drain the first batch's events before
    // attaching, and the second batch's before reading the count
    org.apache.spark.TestListenerBus.drain(spark.sparkContext)
    spark.sparkContext.addSparkListener(listener)
    try {
      sink.addBatch(Seq((3L, 11L, 3.0))
        .toDF("event_id", "user_id", "value"), 1L)
      org.apache.spark.TestListenerBus.drain(spark.sparkContext)
      val n = jobs.get()
      info(s"per-batch Spark jobs (exactly-once stamped sink): $n")
      // measured baseline: 3 jobs per stamped batch (the batch pin, its
      // emptiness probe and the write, which counts NaNs inline — r22
      // measured 5 with the write's NaN re-read pass); regressing past
      // this band means the stamp machinery grew a per-batch round-trip
      // (track it here)
      assert(n >= 1 && n <= 3,
        s"per-batch job count drifted out of the tracked band " +
          s"(baseline: 3): $n")
    } finally spark.sparkContext.removeSparkListener(listener)
    assert(sink.table.metadata.snapshots.size == 2)
  }

  test("IndexedDedupSink: near-dup micro-batch dedup against a chained " +
      "signature-index table — no state store") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = Files.createTempDirectory("graft-idxsink-").toString
    val cat = new LocalCatalog(dir)
    cat.createNamespace(Seq("db"))
    val docSchema = Schema(0, Seq(
      NestedField(1, "doc_id", LongType, required = true),
      NestedField(2, "text", StringType, required = false)))
    val base = Seq(
      (10L, "the quick brown fox jumps over the lazy dog again today"),
      (11L, "completely unrelated musings on snapshot isolation levels"))
      .toDF("doc_id", "text")
    val idxFrame = graft.ops.Dedup.signatureFrame(base, numHashes = 32)
    var idxT = Table.create(cat, TableIdentifier(Seq("db"), "idx"),
      SchemaConverters.fromSparkSchema(idxFrame.schema),
      io = new HadoopFileIO())
    idxT = TableOps.append(idxT, idxFrame)
    val sinkT = Table.create(cat, TableIdentifier(Seq("db"), "clean"),
      docSchema, io = new HadoopFileIO())
    val pipe = Streams.indexedDedupSink(sinkT, idxT, minhash = true,
      threshold = 0.5, numHashes = 32)

    val input = MemoryStream[(Long, String)]
    val q = input.toDF().toDF("doc_id", "text")
      .writeStream.outputMode("append")
      .foreachBatch((df: org.apache.spark.sql.DataFrame, id: Long) =>
        pipe.addBatch(df, id))
      .start()
    try {
      // batch 1: near-dup of base 10 (dropped), fresh (kept)
      input.addData(
        (20L, "the quick brown fox jumps over the lazy cat again today"),
        (21L, "fresh content about distributed query engines tonight"))
      q.processAllAvailable()
      // batch 2: near-dup of batch-1 SURVIVOR 21 — dropped only
      // because the index chained; plus a fresh row
      input.addData(
        (30L, "fresh content about distributed query engines today"),
        (31L, "entirely novel text with no relatives anywhere"))
      q.processAllAvailable()
    } finally q.stop()

    val kept = Scan(pipe.sink, spark).toDF
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(21L, 31L), s"kept $kept")
    // the index chained: base + both survivors
    val idxIds = Scan(pipe.index, spark).toDF
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(idxIds == Set(10L, 11L, 21L, 31L), s"index $idxIds")
    // a retried batch id is skipped (at-most-once per handle)
    val sinkSnaps = pipe.sink.metadata.snapshots.size
    pipe.addBatch(base, 0L)
    assert(pipe.sink.metadata.snapshots.size == sinkSnaps,
      "replayed batch id must not double-append")
    // RESTART replay: a FRESH handle (driver restart) initializes its
    // skip watermark from the index's stamped last-batch-id, so a
    // replayed already-committed batch is skipped there too
    assert(pipe.index.metadata
      .properties("graft.dedup-index.last-batch-id") == "1")
    val fresh = Streams.indexedDedupSink(pipe.sink, pipe.index,
      minhash = true, threshold = 0.5, numHashes = 32)
    fresh.addBatch(base, 1L)
    assert(fresh.sink.metadata.snapshots.size == sinkSnaps,
      "replayed batch after a restart must not double-append")
    // a DIFFERENT stream's batch ids also start at 0 — its handle
    // must namespace the watermark (streamId) and not be blocked by
    // this stream's stamp
    val other = Streams.indexedDedupSink(fresh.sink, fresh.index,
      minhash = true, threshold = 0.5, numHashes = 32, streamId = "b")
    val idxVersions = fresh.index.metadata.metadataLog.size
    other.addBatch(
      Seq((40L, "completely new content for the second stream path"))
        .toDF("doc_id", "text"), 0L)
    val kept2 = Scan(other.sink, spark).toDF
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept2.contains(40L),
      s"second stream's batch 0 must not be skipped: $kept2")
    // the watermark stamp RIDES the signature append: one index
    // commit for the whole batch (atomic — no separate stamp commit
    // to crash between), and the property landed
    assert(other.index.metadata.metadataLog.size == idxVersions + 1,
      "survivor batch must be ONE index commit (append + stamp)")
    assert(other.index.metadata.properties(
      "graft.dedup-index.last-batch-id.b") == "0")
    // a NEW query (fresh checkpoint) under the SAME streamId restarts
    // batch ids at 0 — silently skipping would drop its data, so a
    // fresh handle whose FIRST batch is id 0 against a stamp > 0 must
    // refuse loudly (pass a distinct streamId to proceed)
    val reused = Streams.indexedDedupSink(other.sink, other.index,
      minhash = true, threshold = 0.5, numHashes = 32)
    val ex = intercept[IllegalStateException] {
      reused.addBatch(
        Seq((50L, "data a new query must not lose silently"))
          .toDF("doc_id", "text"), 0L)
    }
    assert(ex.getMessage.contains("NEW query"), ex.getMessage)
  }

  test("AnnIndexIngestSink: frozen-model assignment per micro-batch, " +
      "stamp tracks the corpus head, wrong-dim rows skip the index") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = Files.createTempDirectory("graft-annsink-").toString
    val cat = new LocalCatalog(dir)
    cat.createNamespace(Seq("db"))
    val io = new HadoopFileIO()
    val centroids: Seq[Array[Double]] =
      Seq(Array(1.0, 0.0), Array(0.0, 1.0))
    val vecSchema = Schema(0, Seq(
      NestedField(1, "vec_id", LongType, required = true),
      NestedField(2, "embedding",
        ListType(3, FloatType, elementRequired = false),
        required = false)))
    val idxSchema = Schema(0, Seq(
      NestedField(1, "vec_id", LongType, required = true),
      NestedField(2, "cell", IntType, required = false),
      NestedField(3, "norm", DoubleType, required = false),
      NestedField(4, "embedding",
        ListType(5, FloatType, elementRequired = false),
        required = false)))
    val sinkT = Table.create(cat, TableIdentifier(Seq("db"), "vecs"),
      vecSchema, io = io)
    val idxT = Table.create(cat, TableIdentifier(Seq("db"), "idx"),
      idxSchema, properties = Map(
        "graft.ann-index.centroids" ->
          graft.ops.Similarity.centroidsToJson(centroids),
        "graft.ann-index.dim" -> "2"), io = io)
    val pipe = Streams.annIndexIngestSink(sinkT, idxT)
    val input = MemoryStream[(Long, Seq[Float])]
    val q = input.toDF().toDF("vec_id", "embedding")
      .writeStream.outputMode("append")
      .foreachBatch((df: org.apache.spark.sql.DataFrame, id: Long) =>
        pipe.addBatch(df, id))
      .start()
    try {
      input.addData((1L, Seq(0.9f, 0.1f)), (2L, Seq(0.1f, 0.8f)),
        (3L, Seq(1f, 2f, 3f))) // wrong dim: corpus yes, index no
      q.processAllAvailable()
      input.addData((4L, Seq(0.8f, 0.0f)))
      q.processAllAvailable()
    } finally q.stop()
    val corpus = Scan(pipe.sink, spark).toDF
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(corpus == Set(1L, 2L, 3L, 4L), s"corpus $corpus")
    val cells = Scan(pipe.index, spark).toDF
      .select("vec_id", "cell").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(cells == Map(1L -> 0, 2L -> 1, 4L -> 0), s"index $cells")
    assert(pipe.index.metadata.properties(
      "graft.ann-index.source-snapshot-id").toLong ==
      pipe.sink.currentSnapshot.get.snapshotId,
      "stamp must track the corpus head")
    // a retried batch id is skipped
    val snaps = pipe.sink.metadata.snapshots.size
    pipe.addBatch(Seq((9L, Seq(1f, 1f))).toDF("vec_id", "embedding"), 0L)
    assert(pipe.sink.metadata.snapshots.size == snaps,
      "replayed batch id must not double-append")
  }

  test("PqIndexIngestSink: frozen-codebook encoding per micro-batch, " +
      "stamp tracks the corpus head, wrong-dim rows skip the index") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = Files.createTempDirectory("graft-pqsink-").toString
    val cat = new LocalCatalog(dir)
    cat.createNamespace(Seq("db"))
    val io = new HadoopFileIO()
    // 2 subspaces of dim 2; centroids at the axis corners (the
    // OpsSpec pqEncode fixture — codes are unambiguous)
    val cbs: Seq[Seq[Array[Double]]] = Seq(
      Seq(Array(0.0, 0.0), Array(1.0, 1.0)),
      Seq(Array(0.0, 1.0), Array(1.0, 0.0)))
    val vecSchema = Schema(0, Seq(
      NestedField(1, "vec_id", LongType, required = true),
      NestedField(2, "embedding",
        ListType(3, FloatType, elementRequired = false),
        required = false)))
    val idxSchema = Schema(0, Seq(
      NestedField(1, "vec_id", LongType, required = true),
      NestedField(2, "codes",
        ListType(3, IntType, elementRequired = false),
        required = false)))
    val sinkT = Table.create(cat, TableIdentifier(Seq("db"), "vecs"),
      vecSchema, io = io)
    val idxT = Table.create(cat, TableIdentifier(Seq("db"), "idx"),
      idxSchema, properties = Map(
        "graft.pq-index.codebooks" ->
          graft.ops.Similarity.pqCodebooksToJson(cbs),
        "graft.pq-index.ksub" -> "2",
        "graft.pq-index.dim" -> "4"), io = io)
    val pipe = Streams.pqIndexIngestSink(sinkT, idxT)
    val input = MemoryStream[(Long, Seq[Float])]
    val q = input.toDF().toDF("vec_id", "embedding")
      .writeStream.outputMode("append")
      .foreachBatch((df: org.apache.spark.sql.DataFrame, id: Long) =>
        pipe.addBatch(df, id))
      .start()
    try {
      input.addData(
        (1L, Seq(0.1f, 0.1f, 0.1f, 0.9f)),  // -> (0, 0)
        (2L, Seq(0.9f, 0.8f, 0.9f, 0.2f)),  // -> (1, 1)
        (3L, Seq(1f, 2f)))                   // wrong dim: corpus only
      q.processAllAvailable()
      input.addData((4L, Seq(0.8f, 0.9f, 0.1f, 0.8f))) // -> (1, 0)
      q.processAllAvailable()
    } finally q.stop()
    val corpus = Scan(pipe.sink, spark).toDF
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(corpus == Set(1L, 2L, 3L, 4L), s"corpus $corpus")
    val codes = Scan(pipe.index, spark).toDF
      .select("vec_id", "codes").collect()
      .map(r => r.getLong(0) -> r.getSeq[Int](1).toSeq).toMap
    assert(codes == Map(1L -> Seq(0, 0), 2L -> Seq(1, 1),
      4L -> Seq(1, 0)), s"codes $codes")
    assert(pipe.index.metadata.properties(
      "graft.pq-index.source-snapshot-id").toLong ==
      pipe.sink.currentSnapshot.get.snapshotId)
    // a retried batch id is skipped
    val snaps = pipe.sink.metadata.snapshots.size
    pipe.addBatch(
      Seq((9L, Seq(1f, 1f, 1f, 1f))).toDF("vec_id", "embedding"), 0L)
    assert(pipe.sink.metadata.snapshots.size == snaps)
  }

  test("TextIndexIngestSink: postings + exact stats per micro-batch; " +
      "NULL-text docs count toward n_docs with no postings") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = Files.createTempDirectory("graft-txtsink-").toString
    val cat = new LocalCatalog(dir)
    cat.createNamespace(Seq("db"))
    val io = new HadoopFileIO()
    val docSchema = Schema(0, Seq(
      NestedField(1, "doc_id", LongType, required = true),
      NestedField(2, "text", StringType, required = false)))
    val idxSchema = Schema(0, Seq(
      NestedField(1, "doc_id", LongType, required = true),
      NestedField(2, "term", StringType, required = false),
      NestedField(3, "dl", LongType, required = false),
      NestedField(4, "tf", LongType, required = false),
      NestedField(5, "tbucket", IntType, required = false)))
    val sinkT = Table.create(cat, TableIdentifier(Seq("db"), "docs"),
      docSchema, io = io)
    val idxT = Table.create(cat, TableIdentifier(Seq("db"), "idx"),
      idxSchema, properties = Map(
        "graft.text-index.num-buckets" -> "4",
        "graft.text-index.n-docs" -> "0",
        "graft.text-index.total-dl" -> "0"), io = io)
    val pipe = Streams.textIndexIngestSink(sinkT, idxT)
    val input = MemoryStream[(Long, String)]
    val q = input.toDF().toDF("doc_id", "text")
      .writeStream.outputMode("append")
      .foreachBatch((df: org.apache.spark.sql.DataFrame, id: Long) =>
        pipe.addBatch(df, id))
      .start()
    try {
      input.addData((1L, "alpha beta"), (2L, null.asInstanceOf[String]))
      q.processAllAvailable()
      input.addData((3L, "alpha alpha"))
      q.processAllAvailable()
    } finally q.stop()
    val post = Scan(pipe.index, spark).toDF
      .select("doc_id", "term", "dl", "tf", "tbucket").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getInt(4)))
    assert(post.map(p => (p._1, p._2, p._3, p._4)).toSet == Set(
      (1L, "alpha", 2L, 1L), (1L, "beta", 2L, 1L),
      (3L, "alpha", 2L, 2L)), s"postings ${post.toSeq}")
    assert(post.forall(p => p._5 == graft.functions.BucketUtil
      .bucketUTF8(org.apache.spark.unsafe.types.UTF8String
        .fromString(p._2), 4)))
    val props = pipe.index.metadata.properties
    assert(props("graft.text-index.n-docs") == "3" &&
      props("graft.text-index.total-dl") == "4", props.toString)
    assert(props("graft.text-index.source-snapshot-id").toLong ==
      pipe.sink.currentSnapshot.get.snapshotId)
  }

  test("TokenizerLedgerIngestSink: additive deltas per micro-batch; " +
      "streamed ledger equals a full retrain at every boundary") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = Files.createTempDirectory("graft-toksink-").toString
    val cat = new LocalCatalog(dir)
    cat.createNamespace(Seq("db"))
    val io = new HadoopFileIO()
    val docSchema = Schema(0, Seq(
      NestedField(1, "doc_id", LongType, required = true),
      NestedField(2, "text", StringType, required = false)))
    val mdlSchema = Schema(0, Seq(
      NestedField(1, "piece", StringType, required = false),
      NestedField(2, "cnt", LongType, required = false)))
    val sinkT = Table.create(cat, TableIdentifier(Seq("db"), "docs"),
      docSchema, io = io)
    val mdlT = Table.create(cat, TableIdentifier(Seq("db"), "mdl"),
      mdlSchema, properties = Map(
        "graft.tok-model.max-piece-len" -> "2",
        "graft.tok-model.total-cnt" -> "0"), io = io)
    val pipe = Streams.tokenizerLedgerIngestSink(sinkT, mdlT)
    val input = MemoryStream[(Long, String)]
    val q = input.toDF().toDF("doc_id", "text")
      .writeStream.outputMode("append")
      .foreachBatch((df: org.apache.spark.sql.DataFrame, id: Long) =>
        pipe.addBatch(df, id))
      .start()
    try {
      input.addData((1L, "ab ab"), (2L, null.asInstanceOf[String]))
      q.processAllAvailable()
      input.addData((3L, "abc"))
      q.processAllAvailable()
      // replayed batch id must be a no-op
      pipe.addBatch(Seq((3L, "abc")).toDF("doc_id", "text"), 1L)
    } finally q.stop()
    // ledger sum-merge == a from-scratch train over the drained corpus
    val corpus = Scan(pipe.sink, spark).toDF
    val props = pipe.model.metadata.properties
    // batch1: ab x2 -> a2 b2 ab2 (total 6); batch2: abc -> a b c ab bc
    assert(props("graft.tok-model.total-cnt") == "11", props.toString)
    assert(props("graft.tok-model.source-snapshot-id").toLong ==
      pipe.sink.currentSnapshot.get.snapshotId)
    val (fsVocab, fsQ) = graft.ops.Unigram.trainVocab(corpus,
      vocabSize = 3, maxPieceLen = 2)
    val (stVocab, stQ) = graft.ops.Unigram.vocabFromCounts(
      Scan(pipe.model, spark).toDF, 3,
      props("graft.tok-model.total-cnt").toLong)
    assert(stQ == fsQ)
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("piece").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    assert(canon(stVocab) == canon(fsVocab),
      "streamed ledger must equal a from-scratch train")
    // the ledger holds per-batch delta rows (not merged on disk)
    val ledgerRows = Scan(pipe.model, spark).toDF.count()
    assert(ledgerRows == 8L, s"3 + 5 delta rows, got $ledgerRows")
    // RESTART replay: a FRESH handle reads the stamped last-batch-id
    // and skips an already-committed batch — counts never double
    assert(props("graft.tok-model.last-batch-id") == "1")
    val fresh = Streams.tokenizerLedgerIngestSink(pipe.sink, pipe.model)
    fresh.addBatch(Seq((3L, "abc")).toDF("doc_id", "text"), 1L)
    assert(fresh.model.metadata
      .properties("graft.tok-model.total-cnt") == "11",
      "restart-replayed batch must not double-count the ledger")
  }

  test("LmLedgerIngestSink: additive gram deltas per micro-batch; " +
      "streamed ledger equals a full retrain at every boundary") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = Files.createTempDirectory("graft-lmsink-").toString
    val cat = new LocalCatalog(dir)
    cat.createNamespace(Seq("db"))
    val io = new HadoopFileIO()
    val docSchema = Schema(0, Seq(
      NestedField(1, "doc_id", LongType, required = true),
      NestedField(2, "text", StringType, required = false)))
    val mdlSchema = Schema(0, Seq(
      NestedField(1, "n", IntType, required = false),
      NestedField(2, "w1", StringType, required = false),
      NestedField(3, "w2", StringType, required = false),
      NestedField(4, "w3", StringType, required = false),
      NestedField(5, "cnt", LongType, required = false)))
    val sinkT = Table.create(cat, TableIdentifier(Seq("db"), "docs"),
      docSchema, io = io)
    val mdlT = Table.create(cat, TableIdentifier(Seq("db"), "mdl"),
      mdlSchema, properties = Map(
        "graft.lm-model.total-tokens" -> "0"), io = io)
    val pipe = Streams.lmLedgerIngestSink(sinkT, mdlT)
    val input = MemoryStream[(Long, String)]
    val q = input.toDF().toDF("doc_id", "text")
      .writeStream.outputMode("append")
      .foreachBatch((df: org.apache.spark.sql.DataFrame, id: Long) =>
        pipe.addBatch(df, id))
      .start()
    try {
      input.addData((1L, "a b c a b c"),
        (2L, null.asInstanceOf[String]))
      q.processAllAvailable()
      input.addData((3L, "a b x"))
      q.processAllAvailable()
      // replayed batch id must be a no-op
      pipe.addBatch(Seq((3L, "a b x")).toDF("doc_id", "text"), 1L)
    } finally q.stop()
    // batch1: 6 tokens (ug a2 b2 c2, bg ab2 bc2 ca1, tri abc2 bca1
    // cab1 = 9 rows); batch2: 3 tokens (ug a1 b1 x1, bg ab1 bx1,
    // tri abx1 = 6 rows)
    val props = pipe.model.metadata.properties
    assert(props("graft.lm-model.total-tokens") == "9", props.toString)
    assert(props("graft.lm-model.source-snapshot-id").toLong ==
      pipe.sink.currentSnapshot.get.snapshotId)
    val ledgerRows = Scan(pipe.model, spark).toDF.count()
    assert(ledgerRows == 15L, s"9 + 6 delta rows, got $ledgerRows")
    // streamed ledger sum-merge == from-scratch gramCounts over the
    // drained corpus
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.groupBy("n", "w1", "w2", "w3")
        .agg(org.apache.spark.sql.functions.sum("cnt").as("cnt"))
        .collect()
        .map(r => (r.getInt(0), r.getString(1), Option(r.getString(2)),
          Option(r.getString(3)), r.getLong(4))).sortBy(_.toString)
        .toSeq
    val corpus = Scan(pipe.sink, spark).toDF
    assert(canon(Scan(pipe.model, spark).toDF) ==
      canon(graft.ops.LangModel.gramCounts(corpus)),
      "streamed ledger must equal a from-scratch train")
    // and the scores read from the streamed ledger are the library's
    val viaLedger = graft.ops.LangModel.scoreWithCounts(
        corpus, Scan(pipe.model, spark).toDF)
      .orderBy("doc_id").collect().map(_.toSeq).toSeq
    val scratch = graft.ops.LangModel.trigramBackoff(
        corpus, org.apache.spark.sql.functions.lit(true))
      .orderBy("doc_id").collect().map(_.toSeq).toSeq
    assert(viaLedger == scratch)
  }

  test("ClassifierLedgerIngestSink: stamped-predicate labeling per " +
      "micro-batch; streamed ledger equals a full refit") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = Files.createTempDirectory("graft-clfsink-").toString
    val cat = new LocalCatalog(dir)
    cat.createNamespace(Seq("db"))
    val io = new HadoopFileIO()
    val docSchema = Schema(0, Seq(
      NestedField(1, "doc_id", LongType, required = true),
      NestedField(2, "lab", BooleanType, required = false),
      NestedField(3, "text", StringType, required = false)))
    val mdlSchema = Schema(0, Seq(
      NestedField(1, "bucket", StringType, required = false),
      NestedField(2, "p_cnt", LongType, required = false),
      NestedField(3, "n_cnt", LongType, required = false)))
    val sinkT = Table.create(cat, TableIdentifier(Seq("db"), "docs"),
      docSchema, io = io)
    val mdlT = Table.create(cat, TableIdentifier(Seq("db"), "mdl"),
      mdlSchema, properties = Map(
        "graft.clf-model.label-pred" -> "lab",
        "graft.clf-model.pos-tokens" -> "0",
        "graft.clf-model.neg-tokens" -> "0"), io = io)
    val pipe = Streams.classifierLedgerIngestSink(sinkT, mdlT)
    val input = MemoryStream[(Long, java.lang.Boolean, String)]
    val q = input.toDF().toDF("doc_id", "lab", "text")
      .writeStream.outputMode("append")
      .foreachBatch((df: org.apache.spark.sql.DataFrame, id: Long) =>
        pipe.addBatch(df, id))
      .start()
    try {
      input.addData((1L, java.lang.Boolean.TRUE, "x x y"),
        (2L, java.lang.Boolean.FALSE, "y z"))
      q.processAllAvailable()
      // NULL label -> neither sample; NULL text -> no tokens
      input.addData((3L, null.asInstanceOf[java.lang.Boolean], "q"),
        (4L, java.lang.Boolean.TRUE, null.asInstanceOf[String]))
      q.processAllAvailable()
      // replayed batch id must be a no-op
      pipe.addBatch(Seq((1L, java.lang.Boolean.TRUE, "x x y"))
        .toDF("doc_id", "lab", "text"), 0L)
    } finally q.stop()
    // batch1: pos x2 y1 | neg y1 z1 (3 bucket rows); batch2: nothing
    val props = pipe.model.metadata.properties
    assert(props("graft.clf-model.pos-tokens") == "3" &&
      props("graft.clf-model.neg-tokens") == "2", props.toString)
    assert(props("graft.clf-model.source-snapshot-id").toLong ==
      pipe.sink.currentSnapshot.get.snapshotId)
    assert(Scan(pipe.model, spark).toDF.count() == 3L)
    // streamed ledger sum-merge == from-scratch labelCounts over the
    // drained corpus, and the derived weights match a full fit
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.groupBy("bucket").agg(
          org.apache.spark.sql.functions.sum("p_cnt").as("p"),
          org.apache.spark.sql.functions.sum("n_cnt").as("n"))
        .collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
        .sortBy(_._1).toSeq
    val corpus = Scan(pipe.sink, spark).toDF
    assert(canon(Scan(pipe.model, spark).toDF) ==
      canon(graft.ops.Classifier.labelCounts(corpus, col("lab"))),
      "streamed ledger must equal a from-scratch fit")
    val viaLedger = graft.ops.Classifier.weightsFromCounts(
        Scan(pipe.model, spark).toDF)
      .orderBy("bucket").collect().map(_.toSeq).toSeq
    val scratch = graft.ops.Classifier.fit(
        corpus.where(col("lab") === true),
        corpus.where(col("lab") === false))
      .orderBy("bucket").collect().map(_.toSeq).toSeq
    assert(viaLedger == scratch)
  }

  test("table tailer drains appended snapshots incrementally, resumes from checkpoint") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-tail-").toString
    val cat = new LocalCatalog(dir)
    cat.createNamespace(Seq("db"))
    var t = Table.create(cat, TableIdentifier(Seq("db"), "tailed"),
      eventSchema, io = new HadoopFileIO())
    def batch(ids: Range) =
      ids.map(i => (i.toLong, i.toLong % 3, i * 1.0))
        .toDF("event_id", "user_id", "value")

    t = TableOps.append(t, batch(1 to 5))
    val tail = Streams.tailer(t, spark, "spec")
    val seen = collection.mutable.Buffer[Set[Long]]()
    def drain(): Int = tail.poll { df =>
      seen += df.select("event_id").collect().map(_.getLong(0)).toSet
    }

    assert(drain() == 1, "first poll consumes the full table")
    assert(seen.last == (1 to 5).map(_.toLong).toSet)
    assert(drain() == 0, "caught up -> no batch")

    t = TableOps.append(t, batch(6 to 8))
    t = TableOps.append(t, batch(9 to 10))
    assert(drain() == 2, "two snapshots drained in one poll")
    assert(seen.last == (6 to 10).map(_.toLong).toSet,
      "only the increment is consumed")

    // a NEW tailer with the same name resumes from the durable checkpoint
    val resumed = Streams.tailer(tail.table, spark, "spec")
    t = TableOps.append(t, batch(11 to 12))
    var got: Set[Long] = Set.empty
    resumed.poll(df =>
      got = df.select("event_id").collect().map(_.getLong(0)).toSet)
    assert(got == Set(11L, 12L), s"resume from checkpoint: $got")
  }

  test("tailer skips compaction/overwrite snapshots — no re-delivery") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-tail-compact-").toString
    val cat = new LocalCatalog(dir)
    cat.createNamespace(Seq("db"))
    var t = Table.create(cat, TableIdentifier(Seq("db"), "tailed2"),
      eventSchema, io = new HadoopFileIO())
    def batch(ids: Range) =
      ids.map(i => (i.toLong, i.toLong % 3, i * 1.0))
        .toDF("event_id", "user_id", "value")

    t = TableOps.append(t, batch(1 to 5))
    t = TableOps.append(t, batch(6 to 10))
    val tail = Streams.tailer(t, spark, "spec", skipOverwrites = true)
    val seen = collection.mutable.Buffer[Set[Long]]()
    def drain(): Int = tail.poll { df =>
      seen += df.select("event_id").collect().map(_.getLong(0)).toSet
    }
    drain() // initial full-table consumption

    // compaction between polls rewrites EVERY row into new files under a
    // replace snapshot; an incremental consumer must not see them again
    t = Maintenance.compactDataFiles(tail.table, spark,
      targetFileSizeBytes = 512L * 1024 * 1024)
    assert(t.currentSnapshot.get.summary.get.operation == Operation.Replace,
      "precondition: compaction actually committed a replace snapshot")
    t = TableOps.append(t, batch(11 to 13))
    drain()
    assert(seen.last == Set(11L, 12L, 13L),
      s"only the genuine append is delivered, got ${seen.last}")

    // an update (overwrite snapshot) rewrites files too — same rule
    t = t.newUpdate(spark).where(Col("event_id").eqTo(1L))
      .set("value", 99.0).execute()
    t = TableOps.append(t, batch(14 to 14))
    drain()
    assert(seen.last == Set(14L),
      s"overwrite snapshot is not re-delivered, got ${seen.last}")
  }

  test("tailer fails loud on overwrite snapshots by default") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-tail-ow-").toString
    val cat = new LocalCatalog(dir)
    cat.createNamespace(Seq("db"))
    var t = Table.create(cat, TableIdentifier(Seq("db"), "tailed3"),
      eventSchema, io = new HadoopFileIO())
    def batch(ids: Range) =
      ids.map(i => (i.toLong, i.toLong % 3, i * 1.0))
        .toDF("event_id", "user_id", "value")

    t = TableOps.append(t, batch(1 to 5))
    val tail = Streams.tailer(t, spark, "spec-ow") // default: fail loud
    tail.poll(_ => ()) // initial full-table consumption

    // an upsert commits NEW rows under Operation.Overwrite — silently
    // skipping it would lose row 6 downstream forever; the poll must
    // surface that instead
    t = tail.table.refresh().newUpsert(spark)
      .withKeyColumns("event_id").withData(batch(6 to 6)).execute()
    assert(t.currentSnapshot.get.summary.get.operation ==
      Operation.Overwrite, "precondition: upsert commits an overwrite")
    val e = intercept[UnsupportedOperationException] {
      tail.poll(_ => ())
    }
    assert(e.getMessage.contains("incremental-skip-overwrites"))
  }

  test("tailer checkpoint is crash-safe and corruption is diagnosable") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-tail-ckpt-").toString
    val cat = new LocalCatalog(dir)
    cat.createNamespace(Seq("db"))
    var t = Table.create(cat, TableIdentifier(Seq("db"), "tailed3"),
      eventSchema, io = new HadoopFileIO())
    t = TableOps.append(t,
      Seq((1L, 1L, 1.0)).toDF("event_id", "user_id", "value"))
    val tail = Streams.tailer(t, spark, "spec")
    tail.poll(_ => ())
    val ckpt = t.location.stripSuffix("/") + "/metadata/tail-checkpoint-spec"
    assert(t.io.exists(ckpt) && !t.io.exists(ckpt + ".tmp"),
      "checkpoint finalized via temp+rename, no temp left behind")

    // simulate a torn write: poll must fail with a recoverable message,
    // not a bare NumberFormatException
    t.io.writeString(ckpt, "12345garbage", overwrite = true)
    val e = intercept[IllegalStateException] {
      Streams.tailer(t, spark, "spec").poll(_ => ())
    }
    assert(e.getMessage.contains("corrupt") &&
      e.getMessage.contains("delete it"), e.getMessage)
  }

  test("watermarked tumbling-window rollup over a stream") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(java.sql.Timestamp, String, Double)]
    val events = input.toDF().toDF("ts", "event_type", "value")
    val agg = Streams.windowedRollup(events, window_ = "1 minute",
      watermark = "5 minutes")
    val q = agg.writeStream.outputMode("complete")
      .format("memory").queryName("rollup").start()
    try {
      val t0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:10")
      val t1 = java.sql.Timestamp.valueOf("2024-01-01 00:00:40")
      val t2 = java.sql.Timestamp.valueOf("2024-01-01 00:01:10")
      input.addData((t0, "click", 1.0), (t1, "click", 2.0),
        (t2, "click", 4.0), (t1, "view", 8.0))
      q.processAllAvailable()
      val out = spark.table("rollup")
        .select(col("window.start"), col("event_type"), col("n"),
          col("total_value"))
        .collect()
        .map(r => (r.getTimestamp(0).toString, r.getString(1), r.getLong(2),
          r.getDouble(3))).toSet
      assert(out == Set(
        ("2024-01-01 00:00:00.0", "click", 2L, 3.0),
        ("2024-01-01 00:01:00.0", "click", 1L, 4.0),
        ("2024-01-01 00:00:00.0", "view", 1L, 8.0)))
    } finally q.stop()
  }

  test("stateful sessionization accumulates per-user state across batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, Double, Long)]
    val updates = Streams.sessionize(input.toDS())
    val q = updates.writeStream.outputMode("update")
      .format("memory").queryName("sessions").start()
    try {
      input.addData((10L, 1.0, 100L), (10L, 2.0, 200L), (11L, 5.0, 150L))
      q.processAllAvailable()
      input.addData((10L, 3.0, 300L))
      q.processAllAvailable()
      val latest = spark.table("sessions")
        .groupBy("userId")
        .agg(max("nEvents").as("n"), max("totalValue").as("v"))
        .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2)))
        .toMap
      assert(latest(10L) == (3L, 6.0), "state carried across batches")
      assert(latest(11L) == (1L, 5.0))
    } finally q.stop()
  }

  test("dedupIngestBounded: dedup inside the horizon, state expires " +
      "past it, corpus anti-join stays unbounded") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val corpus = Seq((100L, "ancient doc")).toDF("doc_id", "text")
    val input = MemoryStream[(Long, String, java.sql.Timestamp)]
    def ts(h: Int) = new java.sql.Timestamp(3600L * 1000 * h)
    val out = Streams.dedupIngestBounded(
      input.toDF().toDF("doc_id", "text", "ts"), corpus,
      tsCol = "ts", delay = "1 hour")
    val q = out.writeStream.format("memory").queryName("dedup_bounded")
      .outputMode("append").start()
    try {
      input.addData(
        (1L, "fresh doc", ts(1)),
        (2L, "fresh doc", ts(1)),      // in-horizon repeat -> dropped
        (3L, "ancient doc", ts(1)))    // corpus match -> dropped
      q.processAllAvailable()
      input.addData((4L, "fresh doc", ts(2))) // still in horizon -> dropped
      q.processAllAvailable()
      // advance the watermark far past the fingerprint's expiry
      input.addData((5L, "horizon mover", ts(50)))
      q.processAllAvailable()
      input.addData(
        (6L, "fresh doc", ts(50)),     // state expired -> KEPT again
        (7L, "ancient doc", ts(50)))   // corpus match -> still dropped
      q.processAllAvailable()
      val kept = spark.table("dedup_bounded")
        .select("doc_id").collect().map(_.getLong(0)).toSet
      assert(kept == Set(1L, 5L, 6L), s"got $kept")
    } finally q.stop()
  }

  test("dedupIngest drops corpus matches and in-stream repeats") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val corpus = Seq((100L, "already seen doc"), (101L, "another old one"))
      .toDF("doc_id", "text")
    val input = MemoryStream[(Long, String)]
    val out = Streams.dedupIngest(
      input.toDF().toDF("doc_id", "text"), corpus)
    val q = out.writeStream.format("memory").queryName("dedup_ingest")
      .outputMode("append").start()
    try {
      input.addData(
        (1L, "already seen doc"),   // in corpus -> dropped
        (2L, "fresh doc"),          // new -> kept
        (3L, "fresh doc"),          // same batch repeat -> dropped
        (4L, "  Already   SEEN doc ")) // normalization-equal -> dropped
      q.processAllAvailable()
      input.addData(
        (5L, "fresh doc"),          // cross-batch repeat -> dropped
        (6L, "genuinely new"))      // kept
      q.processAllAvailable()
      val kept = spark.table("dedup_ingest")
        .select("doc_id").collect().map(_.getLong(0)).toSet
      assert(kept == Set(2L, 6L), s"got $kept")
    } finally q.stop()
  }

  test("BatchGate: a batch whose commits threw is re-admitted after " +
      "abort; a committed batch stays skipped") {
    val gate = new Streams.BatchGate(stamped = 3L, streamId = "",
      what = "test")
    assert(!gate.admit(3L), "stamped batch replays are skipped")
    assert(gate.admit(4L))
    // batch 4's commit THREW: without abort, re-delivery of 4 on a
    // same-process restart would be skipped and its data lost
    gate.abort(4L)
    assert(gate.admit(4L), "aborted batch must be re-admittable")
    // now 4 committed; its replay skips, 5 admits
    assert(!gate.admit(4L))
    assert(gate.admit(5L))
    // abort of a non-current batch is a no-op
    gate.abort(4L)
    assert(!gate.admit(4L))
  }

  test("IndexedDedupSink refuses a config that mismatches the " +
      "index's stamped build") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-dsinkcfg-").toString
    val cat = new LocalCatalog(dir)
    cat.createNamespace(Seq("db"))
    val sinkT = Table.create(cat, TableIdentifier(Seq("db"), "docs"),
      Schema(0, Seq(
        NestedField(1, "doc_id", LongType, required = true),
        NestedField(2, "text", StringType, required = false))),
      io = new HadoopFileIO())
    var idxT = Table.create(cat, TableIdentifier(Seq("db"), "idx"),
      graft.spec.SchemaConverters.fromSparkSchema(
        graft.ops.Dedup.signatureFrame(
          Seq((1L, "x")).toDF("doc_id", "text"), "text", "doc_id",
          128).schema),
      io = new HadoopFileIO())
    idxT = idxT.newTransaction().setProperties(Map(
      "graft.dedup-index.num-hashes" -> "128",
      "graft.dedup-index.text-col" -> "text",
      "graft.dedup-index.id-col" -> "doc_id")).commit()
    val e = intercept[IllegalArgumentException] {
      Streams.indexedDedupSink(sinkT, idxT, numHashes = 64)
    }
    assert(e.getMessage.contains("num_hashes"), e.getMessage)
    // the stamped config itself is accepted
    Streams.indexedDedupSink(sinkT, idxT, numHashes = 128)
  }

  test("resolveSourceAnchor keeps the anchor in sink commit order " +
      "(two concurrent writer streams cannot regress it)") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-anchor-").toString
    val cat = new LocalCatalog(dir)
    cat.createNamespace(Seq("db"))
    var sinkT = Table.create(cat, TableIdentifier(Seq("db"), "corpus"),
      Schema(0, Seq(NestedField(1, "doc_id", LongType, required = true))),
      io = new HadoopFileIO())
    sinkT = TableOps.append(sinkT, Seq(1L).toDF("doc_id"))
    val h1 = sinkT.currentSnapshot.get.snapshotId
    sinkT = TableOps.append(sinkT, Seq(2L).toDF("doc_id"))
    val h2 = sinkT.currentSnapshot.get.snapshotId
    val prop = "graft.ann-index.source-snapshot-id"
    def idxMeta(stamp: Option[Long]): TableMetadata =
      sinkT.metadata.copy(properties = stamp
        .map(s => Map(prop -> s.toString)).getOrElse(Map.empty))
    // no stamp yet: ours wins
    assert(Streams.resolveSourceAnchor(idxMeta(None), prop, h1,
      sinkT.metadata) == h1)
    // ours is the newer sink commit: advance
    assert(Streams.resolveSourceAnchor(idxMeta(Some(h1)), prop, h2,
      sinkT.metadata) == h2)
    // the STAMPED anchor is the newer sink commit (a concurrent
    // writer's stamp landed first): ours must NOT regress it
    assert(Streams.resolveSourceAnchor(idxMeta(Some(h2)), prop, h1,
      sinkT.metadata) == h2)
    // a stamped anchor our sink view has never seen can only have
    // been committed after our refresh: treated as newer, kept
    assert(Streams.resolveSourceAnchor(idxMeta(Some(999L)), prop, h2,
      sinkT.metadata) == 999L)
  }

  test("two writer streams on one ANN index: anchors and batch " +
      "watermarks converge across interleaved handles") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-twostream-").toString
    val cat = new LocalCatalog(dir)
    cat.createNamespace(Seq("db"))
    val io = new HadoopFileIO()
    val centroids: Seq[Array[Double]] =
      Seq(Array(1.0, 0.0), Array(0.0, 1.0))
    val vecSchema = Schema(0, Seq(
      NestedField(1, "vec_id", LongType, required = true),
      NestedField(2, "embedding",
        ListType(3, FloatType, elementRequired = false),
        required = false)))
    val idxSchema = Schema(0, Seq(
      NestedField(1, "vec_id", LongType, required = true),
      NestedField(2, "cell", IntType, required = false),
      NestedField(3, "norm", DoubleType, required = false),
      NestedField(4, "embedding",
        ListType(5, FloatType, elementRequired = false),
        required = false)))
    val sinkT = Table.create(cat, TableIdentifier(Seq("db"), "vecs"),
      vecSchema, io = io)
    val idxT = Table.create(cat, TableIdentifier(Seq("db"), "idx"),
      idxSchema, properties = Map(
        "graft.ann-index.centroids" ->
          graft.ops.Similarity.centroidsToJson(centroids),
        "graft.ann-index.dim" -> "2"), io = io)
    def vecs(ids: Long*) =
      ids.map(i => (i, Seq(1.0f, 0.0f))).toDF("vec_id", "embedding")
    val a = Streams.annIndexIngestSink(sinkT, idxT, streamId = "a")
    a.addBatch(vecs(1L), 0L)
    // writer B starts from A's state, then A continues from handles
    // that are now STALE — its index commit must CAS-retry against
    // B's commits and re-resolve the anchor from refreshed metadata
    val b = Streams.annIndexIngestSink(a.sink, a.index, streamId = "b")
    b.addBatch(vecs(2L), 0L)
    a.addBatch(vecs(3L), 1L)
    val idx = a.index.refresh()
    val sink = a.sink.refresh()
    assert(Scan(sink, spark).toDF.select("vec_id").collect()
      .map(_.getLong(0)).toSet == Set(1L, 2L, 3L))
    assert(Scan(idx, spark).toDF.select("vec_id").collect()
      .map(_.getLong(0)).toSet == Set(1L, 2L, 3L))
    // the anchor ends at the TRUE newest sink head (A's last commit),
    // and neither stream's watermark clobbered the other's
    assert(idx.metadata.properties(
      "graft.ann-index.source-snapshot-id").toLong ==
      sink.currentSnapshot.get.snapshotId)
    assert(idx.metadata.properties(
      "graft.ann-index.last-batch-id.a") == "1")
    assert(idx.metadata.properties(
      "graft.ann-index.last-batch-id.b") == "0")
  }

  test("IndexedDedupSink heals a failed signature commit across a " +
      "restart: sink-committed survivors are not re-appended, " +
      "signatures converge") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-heal-").toString
    val cat = new LocalCatalog(dir)
    cat.createNamespace(Seq("db"))
    val io = new HadoopFileIO()
    val docSchema = Schema(0, Seq(
      NestedField(1, "doc_id", LongType, required = true),
      NestedField(2, "text", StringType, required = false)))
    val sinkT = Table.create(cat, TableIdentifier(Seq("db"), "clean"),
      docSchema, io = io)
    val idxT = Table.create(cat, TableIdentifier(Seq("db"), "idx"),
      graft.spec.SchemaConverters.fromSparkSchema(
        graft.ops.Dedup.signatureFrame(
          Seq((1L, "x")).toDF("doc_id", "text")).schema), io = io)
    val pipe = Streams.indexedDedupSink(sinkT, idxT)
    val batch = Seq(
      (1L, "some genuinely novel first document text"),
      (2L, "a different second document about engines"))
      .toDF("doc_id", "text")

    // wedge the INDEX table's next catalog version with an unparseable
    // metadata file: the sink append succeeds, the signature commit
    // throws, and the gate+heal record must cover the retry
    val metaDir = java.nio.file.Paths.get(dir, "db", "idx", "metadata")
    val next = {
      val s = java.nio.file.Files.list(metaDir)
      try {
        val vs = s.iterator().asInstanceOf[java.util.Iterator[
          java.nio.file.Path]]
        var max = 0
        vs.forEachRemaining { p =>
          val n = p.getFileName.toString
          if (n.startsWith("v") && n.endsWith(".metadata.json"))
            max = math.max(max,
              n.stripPrefix("v").stripSuffix(".metadata.json").toInt)
        }
        max + 1
      } finally s.close()
    }
    val wedge = metaDir.resolve(f"v$next%05d.metadata.json")
    java.nio.file.Files.write(wedge, "not json".getBytes("UTF-8"))
    intercept[Exception] { pipe.addBatch(batch, 0L) }
    assert(Scan(pipe.sink.refresh(), spark).toDF.count() == 2,
      "the sink append committed before the signature commit failed")
    java.nio.file.Files.delete(wedge)

    // a DIFFERENT batch while the divergence is pending is refused
    // loudly — proceeding would bake the sink/index divergence in
    val other = Seq((9L, "unrelated text arriving out of order"))
      .toDF("doc_id", "text")
    val ex = intercept[IllegalStateException] {
      pipe.addBatch(other, 1L)
    }
    assert(ex.getMessage.contains("re-delivery"), ex.getMessage)

    // re-delivery through a FRESH handle (process crash + restart —
    // the batch stamp is durable on the sink table, not handle state)
    // heals: NO second sink append, signatures + watermark land, and
    // the stream continues normally
    val restarted = Streams.indexedDedupSink(pipe.sink.refresh(),
      pipe.index.refresh())
    restarted.addBatch(batch, 0L)
    assert(Scan(restarted.sink, spark).toDF.select("doc_id").collect()
      .map(_.getLong(0)).toSeq.sorted == Seq(1L, 2L),
      "survivors must appear in the sink exactly once after the heal")
    assert(Scan(restarted.index, spark).toDF.select("doc_id").collect()
      .map(_.getLong(0)).toSet == Set(1L, 2L))
    assert(restarted.index.metadata
      .properties("graft.dedup-index.last-batch-id") == "0")
    restarted.addBatch(other, 1L)
    assert(Scan(restarted.sink, spark).toDF.count() == 3)
    // an exact duplicate of a healed row is still dropped (the index
    // converged, so dedup semantics are intact)
    restarted.addBatch(Seq(
      (20L, "some genuinely novel first document text"))
      .toDF("doc_id", "text"), 2L)
    assert(Scan(restarted.sink, spark).toDF.count() == 3,
      "duplicate of a healed survivor must still be dropped")
  }

  test("AnnIndexIngestSink crash heal: a fresh handle skips the " +
      "corpus re-append and anchors at the commit that CARRIED the " +
      "batch, not a later head") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-annheal-").toString
    val cat = new LocalCatalog(dir)
    cat.createNamespace(Seq("db"))
    val io = new HadoopFileIO()
    val centroids: Seq[Array[Double]] =
      Seq(Array(1.0, 0.0), Array(0.0, 1.0))
    val vecSchema = Schema(0, Seq(
      NestedField(1, "vec_id", LongType, required = true),
      NestedField(2, "embedding",
        ListType(3, FloatType, elementRequired = false),
        required = false)))
    val idxSchema = Schema(0, Seq(
      NestedField(1, "vec_id", LongType, required = true),
      NestedField(2, "cell", IntType, required = false),
      NestedField(3, "norm", DoubleType, required = false),
      NestedField(4, "embedding",
        ListType(5, FloatType, elementRequired = false),
        required = false)))
    val sinkT = Table.create(cat, TableIdentifier(Seq("db"), "vecs"),
      vecSchema, io = io)
    val idxT = Table.create(cat, TableIdentifier(Seq("db"), "idx"),
      idxSchema, properties = Map(
        "graft.ann-index.centroids" ->
          graft.ops.Similarity.centroidsToJson(centroids),
        "graft.ann-index.dim" -> "2"), io = io)
    def vecs(ids: Long*) =
      ids.map(i => (i, Seq(1.0f, 0.0f))).toDF("vec_id", "embedding")
    val pipe = Streams.annIndexIngestSink(sinkT, idxT)
    pipe.addBatch(vecs(1L), 0L)

    // wedge the INDEX catalog: batch 1's corpus append lands (with
    // its durable stamp), the index commit throws — the crash window
    val metaDir = java.nio.file.Paths.get(dir, "db", "idx", "metadata")
    val next = {
      val s = java.nio.file.Files.list(metaDir)
      try {
        var max = 0
        s.forEach { p =>
          val n = p.getFileName.toString
          if (n.startsWith("v") && n.endsWith(".metadata.json"))
            max = math.max(max,
              n.stripPrefix("v").stripSuffix(".metadata.json").toInt)
        }
        max + 1
      } finally s.close()
    }
    val wedge = metaDir.resolve(f"v$next%05d.metadata.json")
    java.nio.file.Files.write(wedge, "not json".getBytes("UTF-8"))
    intercept[Exception] { pipe.addBatch(vecs(2L), 1L) }
    java.nio.file.Files.delete(wedge)
    val sinkAfterCrash = pipe.sink.refresh()
    val carrying = sinkAfterCrash.currentSnapshot.get.snapshotId
    assert(Scan(sinkAfterCrash, spark).toDF.count() == 2,
      "the corpus commit for batch 1 landed before the crash")

    // ANOTHER sink commit lands before the restart (e.g. a different
    // pipeline appending to the corpus): the heal must still anchor
    // at batch 1's CARRYING commit — anchoring at this newer head
    // would claim index coverage of rows whose payload never landed
    val advanced = TableOps.append(sinkAfterCrash, vecs(99L))

    // fresh handle (restart) + re-delivery of batch 1
    val restarted = Streams.annIndexIngestSink(advanced,
      pipe.index.refresh())
    restarted.addBatch(vecs(2L), 1L)
    assert(Scan(restarted.sink, spark).toDF.select("vec_id").collect()
      .map(_.getLong(0)).toSet == Set(1L, 2L, 99L),
      "no corpus double-append on heal")
    assert(Scan(restarted.index, spark).toDF.select("vec_id").collect()
      .map(_.getLong(0)).toSet == Set(1L, 2L),
      "the index converged with batch 1's payload")
    assert(restarted.index.metadata.properties(
      "graft.ann-index.source-snapshot-id").toLong == carrying,
      "anchor must be the commit that carried the healed batch")
    assert(restarted.index.metadata.properties(
      "graft.ann-index.last-batch-id") == "1")
  }

  test("IcebergStreamSink replay guard: an already-committed batch " +
      "id is skipped, including across a restart") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-plainsink-").toString
    val cat = new LocalCatalog(dir)
    cat.createNamespace(Seq("db"))
    val t0 = Table.create(cat, TableIdentifier(Seq("db"), "events"),
      eventSchema, io = new HadoopFileIO())
    val sink = Streams.icebergSink(t0)
    def df(ids: Long*) = ids.map(i => (i, i * 10L, 1.0))
      .toDF("event_id", "user_id", "value")
    sink.addBatch(df(1L, 2L), 0L)
    sink.addBatch(df(3L), 1L)
    val snaps = sink.table.metadata.snapshots.size
    // same-handle replay: skipped
    sink.addBatch(df(3L), 1L)
    assert(sink.table.metadata.snapshots.size == snaps)
    // restart replay: a FRESH handle reads the durable watermark
    val restarted = Streams.icebergSink(sink.table.refresh())
    restarted.addBatch(df(3L), 1L)
    assert(restarted.table.metadata.snapshots.size == snaps,
      "replayed batch after a restart must not double-append")
    restarted.addBatch(df(4L), 2L)
    assert(Scan(restarted.table, spark).toDF.count() == 4)
    // a handle constructed from a STALE snapshot of the table must
    // not read a stale watermark: construction refreshes from the
    // catalog, so the replay of batch 2 is still skipped (without
    // the refresh it would double-append)
    val stale = Streams.icebergSink(t0)
    stale.addBatch(df(4L), 2L)
    assert(Scan(stale.table, spark).toDF.count() == 4,
      "stale-handle replay must not double-append")
    // a NEW query (fresh checkpoint) restarting ids at 0 under the
    // same streamId is refused loudly, like every ingest sink
    val reused = Streams.icebergSink(restarted.table)
    val ex = intercept[IllegalStateException] {
      reused.addBatch(df(9L), 0L)
    }
    assert(ex.getMessage.contains("NEW query"), ex.getMessage)
  }
}
