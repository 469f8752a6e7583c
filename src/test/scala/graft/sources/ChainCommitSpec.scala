package graft.sources

import java.nio.file.Files
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicReference

import scala.jdk.CollectionConverters._
import scala.util.Try

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, size}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession
import graft.catalog.{CommitConflictException, LocalCatalog,
  TableIdentifier, TableRequirement, TableUpdate}
import graft.io.HadoopFileIO
import graft.spec.{PartitionSpec, Schema, SortOrder, TableMetadata}
import graft.table.{Scan, Table}

/** Every derived-table build and `incremental => true` chain writes its
  * rows and its `source-snapshot-id` in ONE commit: a crash at that
  * commit leaves nothing to undo, so a re-run equals a full rebuild,
  * and a chain that lost a race to another chain of the same anchor
  * fails instead of appending the same rows twice. */
class ChainCommitSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private def withCatalog(tag: String)(f: (String, String) => Unit): Unit = {
    val dir = Files.createTempDirectory(s"graft-cc-$tag-").toString
    val name = s"gcc$tag"
    spark.conf.set(s"spark.sql.catalog.$name",
      classOf[ArmedCommitCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$name.warehouse", dir)
    spark.sql(s"CREATE NAMESPACE $name.db")
    spark.sql(s"CREATE TABLE $name.db.docs " +
      "(doc_id BIGINT, src STRING, text STRING)")
    spark.sql(s"INSERT INTO $name.db.docs VALUES " +
      "(0, 'a', 'alpha beta gamma'), (1, 'b', 'beta gamma delta'), " +
      "(2, 'a', 'gamma delta epsilon'), (3, 'b', 'alpha alpha beta'), " +
      "(4, 'a', 'zeta eta theta'), (5, 'b', 'eta theta iota'), " +
      "(6, 'a', 'kappa lambda'), (7, 'b', 'mu nu xi omicron')")
    spark.sql(s"CREATE TABLE $name.db.vecs " +
      "(vec_id BIGINT, embedding ARRAY<FLOAT>)")
    spark.sql(s"INSERT INTO $name.db.vecs VALUES " + (0 until 8).map { i =>
      val v = if (i % 2 == 0) Seq(1.0f, 0.1f * i, 0f, 0f)
        else Seq(0f, 0f, 0.1f * i, 1.0f)
      s"($i, array(${v.map(x => s"CAST($x AS FLOAT)").mkString(", ")}))"
    }.mkString(", "))
    f(name, dir)
  }

  /** Rows appended to both sources after the builds: one exact
    * duplicate of a base text (the dedup index removes it) and one
    * wrong-dim vector (no vector index takes it). */
  private def appendSources(c: String): Unit = {
    spark.sql(s"INSERT INTO $c.db.docs VALUES " +
      "(100, 'a', 'alpha beta gamma'), (101, 'b', 'new words here'), " +
      "(102, 'a', 'rho sigma tau upsilon')")
    spark.sql(s"INSERT INTO $c.db.vecs VALUES " +
      "(100, array(CAST(0.9 AS FLOAT), CAST(0.2 AS FLOAT), " +
      "CAST(0.0 AS FLOAT), CAST(0.0 AS FLOAT))), " +
      "(101, array(CAST(0.0 AS FLOAT), CAST(0.1 AS FLOAT), " +
      "CAST(0.3 AS FLOAT), CAST(0.8 AS FLOAT))), " +
      "(102, array(CAST(1.0 AS FLOAT), CAST(2.0 AS FLOAT)))")
  }

  private def loadT(dir: String, tbl: String): Table =
    Table.load(new LocalCatalog(dir), TableIdentifier(Seq("db"), tbl),
      new HadoopFileIO())

  private def causes(e: Throwable): Seq[Throwable] =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null).toSeq

  private def sorted(df: DataFrame): Seq[String] =
    df.collect().map(_.toSeq.mkString("|")).toSeq.sorted

  /** One kind of derived table, as the SQL surface drives it. `call`
    * opens the procedure call on its source (closed by the caller, who
    * may add named arguments); `view` reads a table of this kind
    * (`%s`) in the form two builds must agree on — ledgers after the
    * read path's sum-merge; `totals` are its additive stamps. */
  private case class Art(name: String, ns: String, call: String,
      targetArg: String, target: String, view: String,
      totals: Seq[String] = Nil) {
    def anchor: String = s"$ns.source-snapshot-id"
    def build(c: String, more: String = ""): String =
      s"CALL $c.system.$call$more)"
    def chain(c: String, dir: String): String =
      build(c, ", incremental => true")
  }

  private val text = Art("text", "graft.text-index",
    "build_text_index('db', 'docs', num_buckets => 4", "index_table",
    "docs_text_idx", "SELECT doc_id, term, dl, tf, tbucket FROM %s",
    Seq("n-docs", "total-dl"))
  private val tok = Art("tok", "graft.tok-model",
    "train_tokenizer('db', 'docs'", "model_table", "docs_tok_model",
    "SELECT piece, sum(cnt) FROM %s GROUP BY piece", Seq("total-cnt"))
  private val lm = Art("lm", "graft.lm-model", "train_lm('db', 'docs'",
    "model_table", "docs_lm_model",
    "SELECT n, w1, w2, w3, sum(cnt) FROM %s GROUP BY n, w1, w2, w3",
    Seq("total-tokens"))
  private val clf = Art("clf", "graft.clf-model",
    "train_classifier('db', 'docs', 'src = ''a'''", "model_table",
    "docs_clf_model",
    "SELECT bucket, sum(p_cnt), sum(n_cnt) FROM %s GROUP BY bucket",
    Seq("pos-tokens", "neg-tokens"))
  private val pack = Art("pack", "graft.pack",
    "pack_corpus('db', 'docs', 5", "target_table", "docs_packed",
    "SELECT * FROM %s", Seq("max-shard"))
  /** Frozen-model indexes: a full build refits, so the reference is
    * the stamped model applied to every source row. */
  private val ann = Art("ann", "graft.ann-index",
    "build_ann_index('db', 'vecs', n_centroids => 2", "index_table",
    "vecs_ann_idx", "SELECT vec_id, cell FROM %s")
  private val pq = Art("pq", "graft.pq-index",
    "build_pq_index('db', 'vecs', m => 2, ksub => 2", "index_table",
    "vecs_pq_idx", "SELECT vec_id, codes FROM %s")
  /** The dedup index chains through `dedup_table`'s index half, from
    * the anchor it records. */
  private val dedup = new Art("dedup", "graft.dedup-index",
      "build_dedup_index('db', 'docs'", "index_table", "docs_minhash_idx",
      "SELECT doc_id, hex(fp) FROM %s") {
    override def chain(c: String, dir: String): String =
      s"CALL $c.system.dedup_table('db', 'docs', since_snapshot_id => " +
        loadT(dir, target).metadata.properties(anchor) +
        s", index_table => '$target')"
  }

  /** `art`'s rows and stamps, and what a full build at the source's
    * current head holds. */
  private def checkRebuilt(art: Art, c: String, dir: String): Unit = {
    val got = loadT(dir, art.target)
    val srcName = if (art.call.contains("'vecs'")) "vecs" else "docs"
    val head = loadT(dir, srcName).currentSnapshot.get.snapshotId
    val want: Seq[String] =
      if (art == ann || art == pq) {
        val props = got.metadata.properties
        val dim = props(s"${art.ns}.dim").toInt
        val rows = Scan(loadT(dir, srcName), spark).toDF
          .where(size(col("embedding")) === dim)
        sorted(
          if (art == ann) rows.select(col("vec_id"),
            graft.ops.Similarity.nearestCell(col("embedding"),
              graft.ops.Similarity.centroidsFromJson(
                props("graft.ann-index.centroids"))).as("cell"))
          else graft.ops.Similarity.pqEncode(rows,
            graft.ops.Similarity.pqCodebooksFromJson(
              props("graft.pq-index.codebooks"), 2)))
      } else {
        spark.sql(art.build(c, s", ${art.targetArg} => 'ref'")).collect()
        val ref = loadT(dir, "ref").metadata.properties
        for (k <- art.totals)
          assert(got.metadata.properties(s"${art.ns}.$k") ==
            ref(s"${art.ns}.$k"), s"${art.name} $k")
        sorted(spark.sql(art.view.format(s"$c.db.ref")))
      }
    assert(sorted(spark.sql(art.view.format(s"$c.db.${art.target}"))) ==
      want, s"${art.name}: chained rows differ from a full build")
    assert(got.metadata.properties(art.anchor) == head.toString,
      s"${art.name}: anchor")
  }

  /** The (creates, commits) `body` made on `table`. */
  private def counted(table: String)(body: => Unit): (Int, Int) = {
    ArmedCommitCatalog.log.clear()
    body
    val log = ArmedCommitCatalog.log.asScala.toSeq
    (log.count(_ == s"create $table"), log.count(_ == s"commit $table"))
  }

  test("builds and chains commit rows and anchor once; a no-op chain " +
      "commits nothing") {
    withCatalog("count") { (c, dir) =>
      for (art <- Seq(ann, pq, text, tok, lm, clf, pack, dedup)) {
        assert(counted(art.target)(spark.sql(art.build(c)).collect()) ==
          ((1, 1)), s"${art.name}: a new build is create + 1 commit")
        val built = loadT(dir, art.target)
        assert(built.metadata.snapshots.size == 1 &&
          built.metadata.properties.contains(art.anchor), art.name)
      }
      appendSources(c)
      for (art <- Seq(ann, pq, text, tok, lm, clf, pack, dedup)) {
        assert(counted(art.target)(
          spark.sql(art.chain(c, dir)).collect()) == ((0, 1)),
          s"${art.name}: a chain is 1 commit")
        assert(counted(art.target)(
          spark.sql(art.chain(c, dir)).collect()) == ((0, 0)),
          s"${art.name}: a no-op chain commits nothing")
      }
      for (art <- Seq(ann, pq, text, tok, lm, clf, dedup))
        assert(counted(art.target)(spark.sql(art.build(c)).collect()) ==
          ((0, 1)), s"${art.name}: a rebuild is 1 commit")
      for ((proc, more) <- Seq(
          "sample_mixture" -> "'{\"a\": 1, \"b\": 1}', 4",
          "sample_budget" -> "'doc_id', 10"))
        assert(counted(s"${proc}_t")(spark.sql(s"CALL $c.system.$proc(" +
          s"'db', 'docs', $more, stratum_col => 'src', " +
          s"target_table => '${proc}_t')").collect()) == ((1, 1)), proc)
    }
  }

  /** Builds `art`, appends to the sources, crashes the chain's first
    * commit that would move the anchor, re-runs it, and checks the
    * result against a full build. */
  private def crashAndRerun(art: Art): Unit =
    withCatalog(s"crash${art.name}") { (c, dir) =>
      spark.sql(art.build(c)).collect()
      appendSources(c)
      val chain = art.chain(c, dir)
      ArmedCommitCatalog.armed.set(art.anchor -> (() =>
        throw new IllegalStateException("injected crash at commit")))
      val e = intercept[Exception](spark.sql(chain).collect())
      assert(causes(e).exists(_.getMessage == "injected crash at commit"),
        e.toString)
      val sourceSnapshots = loadT(dir, "docs").metadata.snapshots.size
      val rerun = spark.sql(chain).collect()
      checkRebuilt(art, c, dir)
      if (art == dedup) {
        // the crashed run already committed its removal on the source:
        // the re-run must not delete again, and reports that commit
        val docs = loadT(dir, "docs")
        assert(docs.metadata.snapshots.size == sourceSnapshots,
          "the re-run added a source snapshot")
        val report = rerun.head
        val Seq(before, kept, removed) = (0 until 3).map(report.getLong)
        assert(kept == Scan(docs, spark).count(),
          s"docs_kept $kept is not the live count: $report")
        assert(before - removed == kept, report.toString)
      }
    }

  for (art <- Seq(ann, pq, text, tok, lm, clf, pack, dedup))
    test(s"a chain that crashes at its commit re-runs to a full build: " +
        art.name) {
      crashAndRerun(art)
    }

  test("a build whose data commit fails stamps no anchor, and a chain " +
      "on it names the missing one") {
    withCatalog("buildcrash") { (c, dir) =>
      ArmedCommitCatalog.armed.set(lm.anchor -> (() =>
        throw new IllegalStateException("injected crash at commit")))
      intercept[Exception](spark.sql(lm.build(c)).collect())
      assert(!loadT(dir, lm.target).metadata.properties.keys
        .exists(_.endsWith("source-snapshot-id")))
      val e = intercept[Exception](spark.sql(lm.chain(c, dir)).collect())
      assert(causes(e).exists(_.getMessage.contains(s"'${lm.anchor}'")),
        causes(e).map(_.getMessage))
    }
  }

  test("two chains from one anchor: one commits, the other conflicts; " +
      "a re-run equals a full retrain") {
    withCatalog("race") { (c, dir) =>
      spark.sql(lm.build(c)).collect()
      appendSources(c)
      val chain = lm.chain(c, dir)
      var inner: Try[Unit] = null
      ArmedCommitCatalog.armed.set(lm.anchor -> (() =>
        inner = Try(spark.sql(chain).collect())))
      val e = intercept[Exception](spark.sql(chain).collect())
      assert(inner != null && inner.isSuccess, s"inner chain: $inner")
      assert(causes(e).exists(_.isInstanceOf[CommitConflictException]),
        causes(e).map(_.toString))
      spark.sql(chain).collect()
      checkRebuilt(lm, c, dir)
    }
  }
}

/** A [[GraftSparkCatalog]] whose catalog logs each table create and
  * successful commit by table name, and runs the action of
  * [[ArmedCommitCatalog.armed]], once, before the first commit whose
  * property updates set its key. */
class ArmedCommitCatalog extends GraftSparkCatalog {
  override def initialize(name: String,
      options: CaseInsensitiveStringMap): Unit = {
    super.initialize(name, options)
    catalog = new LocalCatalog(options.get("warehouse")) {
      override def createTable(id: TableIdentifier, schema: Schema,
          spec: PartitionSpec, sortOrder: SortOrder,
          properties: Map[String, String]): TableMetadata = {
        val meta = super.createTable(id, schema, spec, sortOrder,
          properties)
        ArmedCommitCatalog.log.add(s"create ${id.name}")
        meta
      }
      override def commitTable(id: TableIdentifier,
          requirements: Seq[TableRequirement],
          updates: Seq[TableUpdate]): TableMetadata = {
        val a = ArmedCommitCatalog.armed.get
        if (a != null && updates.exists {
              case TableUpdate.SetProperties(p) => p.contains(a._1)
              case _ => false
            } && ArmedCommitCatalog.armed.compareAndSet(a, null)) a._2()
        val meta = super.commitTable(id, requirements, updates)
        ArmedCommitCatalog.log.add(s"commit ${id.name}")
        meta
      }
    }
  }
}

object ArmedCommitCatalog {
  val armed = new AtomicReference[(String, () => Unit)]()
  val log = new ConcurrentLinkedQueue[String]()
}
