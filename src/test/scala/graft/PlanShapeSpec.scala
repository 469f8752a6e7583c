package graft

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution,
  SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.datasources.WriteFilesExec
import org.apache.spark.sql.execution.datasources.v2.{BatchScanExec,
  V2ExistingTableWriteExec}
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec,
  ShuffleExchangeExec}

/** Plan-SHAPE regression guards: the correctness gate can't see a
  * query that silently gained a shuffle or lost a broadcast — these
  * assert the structural properties the 100 TB design depends on.
  * AQE is disabled around planning so the static plan is inspected
  * (AQE only ever REMOVES exchanges at runtime, so a static bound is
  * a safe upper bound). */
class PlanShapeSpec extends AnyFunSuite with AdaptiveSparkPlanHelper {
  private lazy val spark = SparkTestSession.spark
  private val dir = "/root/testdata/sf0.001"

  private def staticPlan(name: String): SparkPlan = {
    val prev = spark.conf.get("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try SparkEntry.queries(name)(spark, dir).queryExecution.executedPlan
    finally spark.conf.set("spark.sql.adaptive.enabled", prev)
  }
  private def shuffles(p: SparkPlan): Int =
    p.collect { case e: ShuffleExchangeExec => e }.size
  private def broadcasts(p: SparkPlan): Int =
    p.collect { case e: BroadcastExchangeExec => e }.size

  test("d10 stratified sample: one stratum shuffle + the final sort") {
    val p = staticPlan("d10_stratified_sample")
    assert(shuffles(p) <= 2,
      s"stratified sampling must not gain shuffles, got ${shuffles(p)}:\n$p")
  }

  test("d2 text stats: per-row pipeline, only the output sort shuffles") {
    val p = staticPlan("d2_text_stats")
    assert(shuffles(p) <= 1,
      s"per-row stats must not shuffle data, got ${shuffles(p)}:\n$p")
  }

  test("e1 brute-force ANN: query side broadcast, corpus never " +
      "pre-shuffled") {
    val p = staticPlan("e1_ann_bruteforce")
    assert(broadcasts(p) >= 1,
      s"the query set must broadcast (corpus scans once):\n$p")
    // window top-k + output sort are the only legitimate shuffles
    assert(shuffles(p) <= 2,
      s"the corpus must not shuffle before scoring, got ${shuffles(p)}:\n$p")
  }

  test("d44 mixture sample: quotas broadcast, one stratum shuffle " +
      "+ the output sort") {
    val p = staticPlan("d44_mixture_sample")
    assert(broadcasts(p) >= 1,
      s"the model-sized quota table must broadcast:\n$p")
    assert(shuffles(p) <= 2,
      s"mixture take is one stratum window, got ${shuffles(p)}:\n$p")
  }

  test("d45 budget sample: one stratum shuffle + the output sort") {
    val p = staticPlan("d45_budget_sample")
    assert(shuffles(p) <= 2,
      s"budget cut is one running-sum window, got ${shuffles(p)}:\n$p")
  }

  test("e20 hybrid RRF: both retrievers keep their broadcast shapes; " +
      "fusion never joins the corpus") {
    val p = staticPlan("e20_hybrid_rrf")
    // bm25's query-idf broadcast + brute-force's query broadcast
    assert(broadcasts(p) >= 2,
      s"both query sides must broadcast:\n$p")
    assert(p.collect { case n if
      n.nodeName.contains("CartesianProduct") => n }.isEmpty,
      s"no non-broadcast cartesian anywhere:\n$p")
  }

  test("e22 indexed hybrid: both query sides broadcast, no cartesian " +
      "— neither retriever rescans a corpus inside the fusion") {
    val p = staticPlan("e22_hybrid_indexed")
    // bm25FromIndex's qterms/qidf broadcasts + the probed-query
    // broadcast into the cell join
    assert(broadcasts(p) >= 2,
      s"both query sides must broadcast:\n$p")
    assert(p.collect { case n if
      n.nodeName.contains("CartesianProduct") => n }.isEmpty,
      s"no non-broadcast cartesian anywhere:\n$p")
  }

  test("d42 trigram LM: dictionaries join as equi-joins — no " +
      "cartesian, the corpus-stats single row broadcasts") {
    val p = staticPlan("d42_trigram_backoff")
    assert(broadcasts(p) >= 1,
      s"the 1-row total-count aggregate must broadcast:\n$p")
    assert(p.collect { case n if
      n.nodeName.contains("CartesianProduct") => n }.isEmpty,
      s"gram scoring must stay equi-join shaped:\n$p")
  }

  test("d46 unigram vocab: no unpartitioned WindowExec — the top-V " +
      "cut is TakeOrderedAndProject, never a single-partition window") {
    val p = staticPlan("d46_unigram_vocab")
    val globalWindows = p.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec
          if w.partitionSpec.isEmpty => w
    }
    assert(globalWindows.isEmpty,
      s"vocab cut must not serialize through one partition:\n$p")
  }

  test("d27 dup passages: ONE corpus scan — occurrence counts are " +
      "window functions over the hash exchange, not a self-join (r22)") {
    val p = staticPlan("d27_dup_passages")
    val scans = p.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }
    assert(scans.size == 1,
      s"dup-passage marking must tokenize the corpus once, got " +
        s"${scans.size} scans:\n$p")
    // 3 WindowExec nodes exactly: the fused count+first marker over
    // the hash exchange, plus the two inherently-dependent span-merge
    // windows (prev-end feeds the span counter)
    val wins = p.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }
    assert(wins.size == 3,
      s"marking must fuse count+first into one WindowExec " +
        s"(3 total), got ${wins.size}:\n$p")
  }

  test("d48 unigram tokenize: dictionary-sized DP, corpus touched by " +
      "equi-joins only") {
    val p = staticPlan("d48_unigram_tokenize")
    assert(p.collect { case n if
      n.nodeName.contains("CartesianProduct") ||
      n.nodeName.contains("BroadcastNestedLoop") => n }.isEmpty,
      s"word-pieces deployment must stay equi-join shaped:\n$p")
  }

  test("e15 PQ-ADC ANN: codebook distance tables broadcast with the " +
      "queries, corpus never pre-shuffled") {
    val p = staticPlan("e15_pq_adc_verify")
    assert(broadcasts(p) >= 1,
      s"the query set (with its ADC tables) must broadcast:\n$p")
    // window top-k + output sort are the only legitimate shuffles
    assert(shuffles(p) <= 2,
      s"the corpus must not shuffle before ADC scoring, got ${shuffles(p)}:\n$p")
  }

  test("e17 indexed IVF: probed queries broadcast into the cell join, " +
      "the index read never shuffles before scoring") {
    val p = staticPlan("e17_ivf_indexed_search")
    assert(broadcasts(p) >= 1,
      s"the probed query set must broadcast (index side scans once):\n$p")
    // window top-k + output sort are the only legitimate shuffles
    assert(shuffles(p) <= 2,
      s"the probed-cells read must not shuffle, got ${shuffles(p)}:\n$p")
  }

  test("e18 indexed BM25: query terms broadcast-filter the postings " +
      "read; only matched postings ever shuffle") {
    val p = staticPlan("e18_bm25_indexed")
    // qterms into the load filter, stats + qidf into the score joins
    assert(broadcasts(p) >= 2,
      s"query-side frames must broadcast (postings scan once):\n$p")
    assert(!p.toString.contains("CartesianProduct"),
      s"no cartesian anywhere:\n$p")
    // df agg + per-doc score agg + top-k window + output sort: every
    // shuffle moves only query-term-matched postings, never the corpus
    assert(shuffles(p) <= 5,
      s"only matched postings may shuffle, got ${shuffles(p)}:\n$p")
  }

  test("e19 composed IVF+PQ: probed queries (with ADC tables) " +
      "broadcast, the encoded corpus never shuffles before ranking") {
    val p = staticPlan("e19_ivfpq_compose")
    assert(broadcasts(p) >= 1,
      s"the probed query set must broadcast into the cell join:\n$p")
    // window top-k + output sort are the only legitimate shuffles
    assert(shuffles(p) <= 2,
      s"the corpus must not shuffle before ADC, got ${shuffles(p)}:\n$p")
  }

  test("d34 quality classifier: the weight model broadcasts — the " +
      "corpus never shuffles on a feature key") {
    val p = staticPlan("d34_quality_classifier")
    assert(broadcasts(p) >= 1,
      s"the <=65536-row model must broadcast into the scoring join:\n$p")
    assert(!p.toString.contains("CartesianProduct"),
      s"no cartesian anywhere:\n$p")
  }

  test("d35 domain counts: one domain-key aggregation + output sort") {
    val p = staticPlan("d35_domain_counts")
    // partial agg is map-side; distinct-doc count adds one expand pass
    assert(shuffles(p) <= 3,
      s"domain profile must be one scan + domain-key agg, got ${shuffles(p)}:\n$p")
  }

  test("e6 sessionization: both windows + rollup share ONE user-key " +
      "shuffle (plus the output sort)") {
    val p = staticPlan("e6_sessionize")
    assert(shuffles(p) <= 2,
      s"sessionization must reuse the user-key Exchange, got ${shuffles(p)}:\n$p")
  }

  test("d14 temperature sample: count and rank share ONE stratum " +
      "shuffle (plus the output sort)") {
    val p = staticPlan("d14_temperature_sample")
    // per-stratum count rides the same window partitioning as the
    // rank — no aggregate/join side-trip, no broadcast needed
    assert(shuffles(p) <= 2,
      s"temperature sampling gained a shuffle, got ${shuffles(p)}:\n$p")
  }

  test("d13 contamination: gram join, never a cartesian product") {
    val p = staticPlan("d13_contamination")
    assert(!p.toString.contains("CartesianProduct"),
      s"contamination must join on the gram key:\n$p")
  }

  test("d13 contamination: the tokenizer split never lands inside a " +
      "scan-side Filter (the InferFiltersFromGenerate re-eval trap)") {
    // regression guard for the 8x d13 fix: an inferred size(grams) > 0
    // filter over an ALIASED gram column gets the whole shingle tree
    // (inline tokenizer inside the HOF lambda) substituted and pushed
    // to the scan, where it re-evaluates per gram element
    val p = staticPlan("d13_contamination")
    val badFilter = p.collect {
      case f: org.apache.spark.sql.execution.FilterExec
          if f.condition.toString.contains("regexp_replace") => f
    }
    assert(badFilter.isEmpty,
      s"shingle expression leaked into a Filter:\n${badFilter.headOption}")
  }

  test("e8 semantic dedup: cell self-join + anti-join only, no " +
      "cartesian pairing") {
    val p = staticPlan("e8_semantic_dedup")
    assert(!p.toString.contains("CartesianProduct"),
      s"semantic dedup must pair within cells via the cell key:\n$p")
  }

  test("d18 dup-ngrams: gram-key joins with map-side partial counts") {
    val p = staticPlan("d18_dup_ngrams")
    assert(!p.toString.contains("CartesianProduct"),
      s"dup-ngram profiling must join on the gram key:\n$p")
    assert(p.toString.contains("partial"),
      s"d18 lost map-side partial aggregation:\n$p")
  }

  test("e9 quantization: pure per-row pipeline — only the output sort " +
      "may exchange") {
    val p = staticPlan("e9_quantize_int8")
    assert(shuffles(p) <= 1,
      s"quantization must not shuffle data, got ${shuffles(p)}:\n$p")
  }

  test("d23 line dedup: fingerprint-key join with map-side partial " +
      "counts, never a cartesian pairing") {
    val p = staticPlan("d23_line_dedup")
    assert(!p.toString.contains("CartesianProduct"),
      s"line dedup must join on the line fingerprint:\n$p")
    assert(p.toString.contains("partial"),
      s"d23 lost map-side partial aggregation on the banned-set count:\n$p")
  }

  test("d24 bigram surprise: gram-key join + per-doc partial agg, no " +
      "cartesian product") {
    val p = staticPlan("d24_bigram_surprise")
    assert(!p.toString.contains("CartesianProduct"),
      s"LM scoring must join occurrences to counts on the gram key:\n$p")
    assert(p.toString.contains("partial"),
      s"d24 lost map-side partial aggregation:\n$p")
  }

  test("d34 classifier: the ≤65k-bucket model broadcasts — the " +
      "corpus is never shuffled on a feature key for scoring") {
    val p = staticPlan("d34_quality_classifier")
    assert(broadcasts(p) >= 1,
      s"the bounded weight model must broadcast:\n$p")
    assert(!p.toString.contains("CartesianProduct"),
      s"scoring must join on the bucket key:\n$p")
    assert(p.toString.contains("partial"),
      s"d34 lost map-side partial aggregation:\n$p")
  }

  test("d42 trigram LM: dictionary joins are gram-key equi-joins " +
      "(the 1-row token total broadcasts); per-doc agg stays partial") {
    val p = staticPlan("d42_trigram_backoff")
    assert(broadcasts(p) >= 1,
      s"the single-row train-token total must broadcast:\n$p")
    assert(!p.toString.contains("CartesianProduct"),
      s"backoff scoring must join occurrences on gram keys:\n$p")
    assert(p.toString.contains("partial"),
      s"d42 lost map-side partial aggregation:\n$p")
  }

  test("e13 BM25: query terms broadcast — the corpus postings are " +
      "never shuffled for scoring") {
    val p = staticPlan("e13_bm25")
    assert(broadcasts(p) >= 1,
      s"the idf-attached query-term set must broadcast:\n$p")
    assert(!p.toString.contains("CartesianProduct"),
      s"BM25 must join postings on the term key:\n$p")
  }

  test("d27 exact-substring dedup: window-hash joins with partial " +
      "counts, never pairwise") {
    val p = staticPlan("d27_dup_passages")
    assert(!p.toString.contains("CartesianProduct"),
      s"passage detection must join on the window hash:\n$p")
    assert(p.toString.contains("partial"),
      s"d27 lost map-side partial aggregation on window counts:\n$p")
  }

  test("d28 importance weights: the feature model broadcasts — the " +
      "corpus is never shuffled on a feature key for scoring") {
    val p = staticPlan("d28_dsir_weights")
    assert(broadcasts(p) >= 1, s"the bounded model must broadcast:\n$p")
    assert(!p.toString.contains("CartesianProduct"),
      s"scoring must join on the bucket key:\n$p")
  }

  test("d39 BPE dict tokenization: dictionary equi-joins only, no " +
      "cartesian/NLJ pairing") {
    val p = staticPlan("d39_bpe_tokenize_dict")
    assert(!p.toString.contains("CartesianProduct") &&
      !p.toString.contains("BroadcastNestedLoopJoin"),
      s"tokenize-by-dict must equi-join on the word key:\n$p")
    // word-key join both ways + per-doc agg + output sort; anything
    // beyond that means the corpus started shuffling per merge rule
    assert(shuffles(p) <= 5,
      s"tokenize-by-dict gained shuffles, got ${shuffles(p)}:\n$p")
  }

  test("d38 BPE expression tokenization: pure per-row pipeline — only " +
      "the output sort shuffles") {
    val p = staticPlan("d38_bpe_apply")
    assert(shuffles(p) <= 1,
      s"the expression tokenizer must stay per-row, got ${shuffles(p)}:\n$p")
  }

  test("q1 pricing summary: one partial-agg shuffle + output sort") {
    val p = staticPlan("q1_pricing_summary")
    assert(shuffles(p) <= 2,
      s"q1 must keep map-side partial aggregation, got ${shuffles(p)}:\n$p")
    // partial aggregation must be present (map-side combine before the
    // exchange) — its loss would ship every row at 100 TB
    assert(p.toString.contains("partial"),
      s"q1 lost map-side partial aggregation:\n$p")
  }

  /** The persisted-index dedup claims "batch cost = narrow index
    * column scans, never a base text pass" — prove column pruning
    * actually reaches a parquet-backed index (the bench memoizes a
    * cached frame; the 100 TB shape reads a persisted table). */
  private def indexScans(p: SparkPlan,
      tmp: String): Seq[org.apache.spark.sql.execution.FileSourceScanExec] =
    p.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec
          if f.relation.location.rootPaths.exists(_.toString.contains(tmp))
        => f
    }

  test("d41 indexed exact dedup: the index parquet scan reads ONLY " +
      "the fp column — no text, no shingle sets, no signatures") {
    import org.apache.spark.sql.functions._
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .select("doc_id", "text")
    val tmp = java.nio.file.Files
      .createTempDirectory("graft-idxplan-").toString
    graft.ops.Dedup.signatureFrame(docs)
      .write.mode("overwrite").parquet(tmp)
    val idx = spark.read.parquet(tmp)
    val batch = docs.limit(50)
      .select((col("doc_id") + 1000000L).as("doc_id"), col("text"))
    val prev = spark.conf.get("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val p = graft.ops.Dedup.indexedExactRemovals(batch, idx)
        .queryExecution.executedPlan
      val scans = indexScans(p, tmp)
      assert(scans.nonEmpty, s"expected an index scan in:\n$p")
      scans.foreach(f => assert(
        f.requiredSchema.fieldNames.toSet == Set("fp"),
        s"exact mode must read only fp from the index, got " +
          s"${f.requiredSchema.fieldNames.mkString(",")}:\n$p"))
    } finally spark.conf.set("spark.sql.adaptive.enabled", prev)
  }

  test("d41b indexed minhash dedup: index scans read only what each " +
      "stage needs — sig for banding, hs for verify, never fp or text") {
    import org.apache.spark.sql.functions._
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .select("doc_id", "text")
    val tmpDir = java.nio.file.Files
      .createTempDirectory("graft-idxplan-")
    val tmp = tmpDir.toString
    val marker = tmpDir.getFileName.toString
    graft.ops.Dedup.signatureFrame(docs)
      .write.mode("overwrite").parquet(tmp)
    val idx = spark.read.parquet(tmp)
    val batch = docs.limit(50)
      .select((col("doc_id") + 1000000L).as("doc_id"), col("text"))
    // the pipeline materializes eagerly (checkpointed candidate/edge
    // lists), so the index scans never reach the FINAL plan — capture
    // every execution's physical plan as it starts instead
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onOtherEvent(
          e: org.apache.spark.scheduler.SparkListenerEvent): Unit =
        e match {
          case s: org.apache.spark.sql.execution.ui.
              SparkListenerSQLExecutionStart =>
            seen.add(s.physicalPlanDescription)
          case _ =>
        }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      graft.ops.Dedup.indexedMinhashRemovals(batch, idx).collect()
      // the formatted plan description puts each scan's Location and
      // ReadSchema on separate lines — pair them per scan block
      val scanRe = ("Location[^\n]*" +
        java.util.regex.Pattern.quote(marker) +
        "[^\n]*\n(?:[^\n]*\n)*?ReadSchema: ([^\n]*)").r
      // listener events are async; wait for the scan blocks to land
      val deadline = System.nanoTime() + 15_000_000_000L
      def readSchemas = seen.toArray(Array.empty[String])
        .flatMap(d => scanRe.findAllMatchIn(d).map(_.group(1)))
      var schemas = readSchemas
      while ((!schemas.exists(_.contains("sig")) ||
          !schemas.exists(_.contains("hs"))) &&
          System.nanoTime() < deadline) {
        Thread.sleep(200); schemas = readSchemas
      }
      assert(schemas.nonEmpty, s"no index scans captured; executions: " +
        s"${seen.size}")
      schemas.foreach(sc => assert(!sc.contains("fp"),
        s"minhash mode must never read the fp column:\n$sc"))
      assert(schemas.exists(sc => sc.contains("sig") && !sc.contains("hs")),
        s"banding must read sig without hs:\n${schemas.mkString("\n")}")
      assert(schemas.exists(sc => sc.contains("hs") && !sc.contains("sig")),
        s"verify must read hs without sig:\n${schemas.mkString("\n")}")
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  // ------------------------------------------ table-layer read executor

  /** Every physical plan `f` executes, writes included. */
  private def executedPlans(f: => Unit): Seq[SparkPlan] = {
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution,
          durationNs: Long): Unit = { plans.add(qe.executedPlan); () }
      override def onFailure(funcName: String, qe: QueryExecution,
          exception: Exception): Unit = ()
    }
    val sc = spark.sparkContext
    org.apache.spark.TestListenerBus.drain(sc)
    spark.listenerManager.register(listener)
    try { f; org.apache.spark.TestListenerBus.drain(sc) }
    finally spark.listenerManager.unregister(listener)
    plans.asScala.toSeq
  }

  /** Scan leaves of every physical plan `f` executes, writes included
    * (AQE stages are looked through). */
  private def scanLeaves(f: => Unit): Seq[SparkPlan] =
    executedPlans(f).flatMap(p => collectLeaves(p).collect {
      case s @ (_: BatchScanExec | _: FileSourceScanExec) => s
    })

  /** Every scan `f` runs is the connector's task read: no parquet file
    * scan beside it (a second executor), at least one task read. */
  private def assertTaskReadsOnly(what: String)(f: => Unit): Unit = {
    val leaves = scanLeaves(f)
    assert(leaves.nonEmpty, s"$what ran no scan")
    leaves.foreach {
      case b: BatchScanExec
          if b.scan.description().startsWith("graft-tasks:") =>
      case other =>
        fail(s"$what must read only through the task reader, got:\n$other")
    }
  }

  test("table-layer reads plan only connector task scans: toDF (plain, " +
      "time travel, incremental), CoW and MoR deletes, changelog, " +
      "compaction") {
    import graft.sources.TaskRead
    import graft.spec._
    import graft.table._
    import spark.implicits._
    val wh = java.nio.file.Files.createTempDirectory("graft-oneexec-")
      .toString
    val cat = new graft.catalog.LocalCatalog(wh)
    cat.createNamespace(Seq("db"))
    var t = Table.create(cat,
      graft.catalog.TableIdentifier(Seq("db"), "oneexec"),
      Schema(0, Seq(NestedField(1, "id", LongType, required = true),
        NestedField(2, "name", StringType, required = false))),
      io = new graft.io.HadoopFileIO())
    def rows(ids: Range) =
      ids.map(i => (i.toLong, s"n$i")).toDF("id", "name").coalesce(1)
    t = TableOps.append(t, rows(1 to 10))
    val first = t.currentSnapshot.get.snapshotId
    t = TableOps.append(t, rows(11 to 20))
    val second = t.currentSnapshot.get.snapshotId

    assertTaskReadsOnly("toDF")(
      Scan(t, spark).filter(Col("id").gt(5L)).toDF.collect())
    assertTaskReadsOnly("time-travel toDF")(
      Scan(t, spark).useSnapshot(first).toDF.collect())
    assertTaskReadsOnly("incremental toDF")(
      Scan(t, spark).appendsBetween(first, second).toDF.collect())
    assertTaskReadsOnly("CoW delete") {
      t = Mutations.deleteCoW(t, spark, Col("id").between(3L, 4L))
    }
    val beforeMoR = t.currentSnapshot.get.snapshotId
    assertTaskReadsOnly("MoR delete") {
      t = Mutations.deleteMoR(t, spark, Col("id").eqTo(15L))
    }
    val mor = t.currentSnapshot.get.snapshotId
    // before and after read the same data file under different delete
    // sets: reusing one scan's output for the other would empty the diff
    var deleted: Set[Long] = Set.empty
    assertTaskReadsOnly("changelog over a MoR commit") {
      deleted = Changelog.between(t, spark, beforeMoR, mor)
        .where(org.apache.spark.sql.functions.col(Changelog.ChangeType) ===
          Changelog.Delete)
        .select("id").collect().map(_.getLong(0)).toSet
    }
    assert(deleted == Set(15L), s"MoR changelog diff lost its rows: $deleted")
    // the same trap through a shuffled join, where Spark reuses equal
    // scans' exchanges: the two sides must not compare equal
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val prev = spark.conf.get(key)
    spark.conf.set(key, "-1")
    try {
      val before = TaskRead(spark, t, t.schema,
        Scan(t, spark).useSnapshot(beforeMoR).planFiles())
      val after = TaskRead(spark, t, t.schema, Scan(t, spark).planFiles())
      assert(before.join(after, Seq("id"), "left_anti").select("id")
        .collect().map(_.getLong(0)).toSet == Set(15L))
    } finally spark.conf.set(key, prev)
    assertTaskReadsOnly("compaction") {
      t = Maintenance.compactDataFiles(t, spark)
    }
    assert(Scan(t, spark).toDF.select("id").collect().map(_.getLong(0)).toSet
      == ((1 to 20).toSet -- Set(3, 4, 15)).map(_.toLong))
  }

  // -------------------------------------- copy-on-write without exchange

  test("copy-on-write rewrites of a partitioned table plan no exchange " +
      "and run one Spark job: deleteCoW, update of a non-partition " +
      "column, overwriteWhere's rewrite") {
    import graft.spec._
    import graft.table._
    import spark.implicits._
    val wh = java.nio.file.Files.createTempDirectory("graft-cownox-")
      .toString
    val cat = new graft.catalog.LocalCatalog(wh)
    cat.createNamespace(Seq("db"))
    val schema = Schema(0, Seq(NestedField(1, "id", LongType, required = true),
      NestedField(2, "p", IntType, required = false),
      NestedField(3, "v", DoubleType, required = false)))
    def create(name: String) = Table.create(cat,
      graft.catalog.TableIdentifier(Seq("db"), name), schema,
      PartitionSpec.builder().identity(2, "p").build(),
      io = new graft.io.HadoopFileIO())
    def rows(ids: Range) =
      ids.map(i => (i.toLong, i % 2, i * 0.5)).toDF("id", "p", "v")
    var t = TableOps.append(create("cow"), rows(1 to 20))
    /** `f`'s executed plans and Spark job count. */
    def run(f: => Unit): (Seq[SparkPlan], Int) = {
      var plans: Seq[SparkPlan] = Nil
      val (_, jobs) = SparkJobs.count(spark) { plans = executedPlans(f) }
      (plans, jobs)
    }
    // through AQE's stages, which a plain `collect` does not enter
    def exchanges(p: SparkPlan) =
      collect(p) { case e: ShuffleExchangeExec => e }.size
    def assertNoExchange(what: String, plans: Seq[SparkPlan]): Unit =
      assert(plans.nonEmpty && plans.forall(exchanges(_) == 0),
        s"$what must not shuffle:\n${plans.mkString("\n")}")
    def reads(p: SparkPlan) = collectLeaves(p).exists {
      case b: BatchScanExec => b.scan.description().startsWith("graft-tasks:")
      case _ => false
    }

    val (delPlans, delJobs) = run {
      t = Mutations.deleteCoW(t, spark, Col("id").in(3L, 4L))
    }
    assertNoExchange("deleteCoW", delPlans)
    assert(delJobs == 1, s"deleteCoW ran $delJobs jobs")
    val (updPlans, updJobs) = run {
      t = Mutations.update(t, spark, Col("id").eqTo(5L), Map("v" -> 9.0))
    }
    assertNoExchange("update", updPlans)
    assert(updJobs == 1, s"update ran $updJobs jobs")
    // the appended half keeps its exchange and its jobs: measured alone
    // on a twin table, they are all overwriteWhere runs beyond one
    val (_, appendJobs) =
      run(TableOps.append(create("twin"), rows(100 to 101)))
    val (owPlans, owJobs) = run {
      t = Mutations.overwriteWhere(t, spark, Col("id").eqTo(6L),
        rows(100 to 101))
    }
    val (rewrite, appended) = owPlans.partition(reads)
    assert(rewrite.size == 1 && appended.size == 1, owPlans.mkString("\n"))
    assertNoExchange("overwriteWhere's rewrite", rewrite)
    assert(exchanges(appended.head) == 1, appended.head.toString)
    assert(owJobs == 1 + appendJobs,
      s"overwriteWhere ran $owJobs jobs, its append alone $appendJobs")

    val got = Scan(t, spark).toDF.collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getDouble(2))).toSet
    val want = ((1 to 20).filterNot(Set(3, 4, 6)) ++ (100 to 101))
      .map(i => (i.toLong, i % 2, if (i == 5) 9.0 else i * 0.5)).toSet
    assert(got == want)
  }

  // ----------------------------------------- table-layer write executor

  /** `f` writes data and delete files only through the engine's writer:
    * it runs a graft write, and no plan it executes holds Spark's
    * file-source writer (a second writer). */
  private def assertEngineWritesOnly(what: String)(f: => Unit): Unit = {
    val nodes = executedPlans(f).flatMap(p => collect(p) { case n => n })
    val fileWrites = nodes.collect {
      case n @ (_: DataWritingCommandExec | _: WriteFilesExec) => n
    }
    assert(fileWrites.isEmpty,
      s"$what must not plan Spark's file writer:\n${fileWrites.mkString}")
    assert(nodes.exists {
      case w: V2ExistingTableWriteExec =>
        w.write.description().startsWith("graft-write:")
      case _ => false
    }, s"$what ran no graft write")
  }

  test("table-layer and SQL writes plan only the engine's data writer: " +
      "appends, CoW delete, update, upsert, compaction, z-order, a " +
      "stream batch, SQL INSERT, UPDATE and MERGE") {
    import graft.spec._
    import graft.table._
    import spark.implicits._
    val wh = java.nio.file.Files.createTempDirectory("graft-onewriter-")
      .toString
    val cat = new graft.catalog.LocalCatalog(wh)
    cat.createNamespace(Seq("db"))
    val schema = Schema(0, Seq(NestedField(1, "id", LongType, required = true),
      NestedField(2, "p", IntType, required = false),
      NestedField(3, "v", DoubleType, required = false)))
    def create(name: String, spec: PartitionSpec) = Table.create(cat,
      graft.catalog.TableIdentifier(Seq("db"), name), schema, spec,
      io = new graft.io.HadoopFileIO())
    def rows(ids: Range) =
      ids.map(i => (i.toLong, i % 2, i * 0.5)).toDF("id", "p", "v")
    var t = create("plain", PartitionSpec.unpartitioned)
    assertEngineWritesOnly("append") { t = TableOps.append(t, rows(1 to 10)) }
    var pt = create("parted", PartitionSpec.builder().identity(2, "p").build())
    assertEngineWritesOnly("partitioned append") {
      pt = TableOps.append(pt, rows(1 to 10))
    }
    assertEngineWritesOnly("CoW delete") {
      pt = Mutations.deleteCoW(pt, spark, Col("id").eqTo(3L))
    }
    assertEngineWritesOnly("update") {
      pt = Mutations.update(pt, spark, Col("id").eqTo(4L), Map("v" -> 0.0))
    }
    assertEngineWritesOnly("upsert") {
      pt = Mutations.upsert(pt, spark, rows(8 to 12), Seq("id"))
    }
    pt = TableOps.append(pt, rows(13 to 14))
    assertEngineWritesOnly("compaction") {
      pt = Maintenance.compactDataFiles(pt, spark)
    }
    assertEngineWritesOnly("z-order rewrite") {
      pt = Maintenance.zorderRewrite(pt, spark, Seq("id", "v"))
    }
    assertEngineWritesOnly("stream batch") {
      graft.streaming.Streams.icebergSink(t).addBatch(rows(11 to 12), 0L)
    }
    spark.conf.set("spark.sql.catalog.planshape_w",
      classOf[graft.sources.GraftSparkCatalog].getName)
    spark.conf.set("spark.sql.catalog.planshape_w.warehouse", wh)
    assertEngineWritesOnly("SQL INSERT")(
      spark.sql("INSERT INTO planshape_w.db.parted VALUES (20, 0, 1.0), " +
        "(21, 1, 2.0)"))
    assertEngineWritesOnly("SQL UPDATE")(
      spark.sql("UPDATE planshape_w.db.parted SET v = v + 1 " +
        "WHERE id % 3 = 0"))
    assertEngineWritesOnly("SQL MERGE")(spark.sql(
      "MERGE INTO planshape_w.db.parted t USING (SELECT 21L AS id, 1 AS p, " +
        "9.0 AS v) s ON t.id = s.id WHEN MATCHED THEN UPDATE SET *"))
    assert(spark.sql("SELECT v FROM planshape_w.db.parted WHERE id = 21")
      .collect().map(_.getDouble(0)).toSeq == Seq(9.0))
  }

  test("delete-file writes plan only the engine's writer: MoR deletes, " +
      "key deletes and both delete rewrites") {
    import graft.spec._
    import graft.table._
    import spark.implicits._
    val cat = new graft.catalog.LocalCatalog(
      java.nio.file.Files.createTempDirectory("graft-onewriter-del-")
        .toString)
    cat.createNamespace(Seq("db"))
    val schema = Schema(0, Seq(NestedField(1, "id", LongType, required = true),
      NestedField(2, "p", IntType, required = false)))
    def create(name: String, spec: PartitionSpec) = {
      val t = Table.create(cat, graft.catalog.TableIdentifier(Seq("db"), name),
        schema, spec, io = new graft.io.HadoopFileIO())
      TableOps.append(t, (1 to 20).map(i => (i.toLong, i % 2)).toDF("id", "p"))
    }
    var t = create("plain", PartitionSpec.unpartitioned)
    var pt = create("parted", PartitionSpec.builder().identity(2, "p").build())
    assertEngineWritesOnly("unpartitioned MoR delete") {
      t = Mutations.deleteMoR(t, spark, Col("id").eqTo(1L))
    }
    assertEngineWritesOnly("partitioned MoR delete") {
      pt = Mutations.deleteMoR(pt, spark, Col("id").in(2L, 3L))
    }
    pt = Mutations.deleteMoR(pt, spark, Col("id").eqTo(4L))
    assertEngineWritesOnly("global key delete") {
      t = Mutations.deleteByKeys(t, spark, Seq(5L).toDF("id"))
    }
    assertEngineWritesOnly("scoped key delete") {
      pt = Mutations.deleteByKeys(pt, spark, Seq((6L, 0)).toDF("id", "p"))
    }
    assertEngineWritesOnly("position-delete rewrite") {
      pt = Maintenance.rewritePositionDeletes(pt, spark)
    }
    assertEngineWritesOnly("equality-delete rewrite") {
      pt = Maintenance.rewriteEqualityDeletes(pt, spark)
    }
    assert(Maintenance.equalityDeleteFiles(pt).isEmpty)
    assert(Scan(pt, spark).toDF.select("id").as[Long].collect().toSet ==
      (1L to 20L).toSet -- Set(2L, 3L, 4L, 6L))
    assert(Scan(t, spark).count() == 18L)
  }
}
