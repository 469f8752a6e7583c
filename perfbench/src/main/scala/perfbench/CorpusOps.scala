package perfbench

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import scala.jdk.CollectionConverters._
import scala.util.hashing.MurmurHash3

import org.apache.spark.sql.{Row, SparkSession}

/** Corpus-operator workload: five registered queries called through
  * `SparkEntry.queries` over a generated corpus and star schema with a
  * fixed seed, so the table layer is bypassed entirely. The run's seed
  * only orders the queries within each cycle. Outputs are checked
  * against pinned row counts and order-independent digests.
  *
  * The corpus is generated untimed, once per build, and the warm-up
  * cycle runs on it. Each set-up copies it to a directory of its own
  * (untimed) and then times the program's own set-up work: the first
  * `d41_indexed_batch_dedup` call on that directory, which builds and
  * caches the signature index that every `d41b_indexed_minhash_batch`
  * call then probes. */
object CorpusOps extends Workload {
  val name = "corpus_ops"

  /** The corpus is fixed; only the operation order follows `--seed`.
    * Documents and embeddings have sf0.1's row counts; the star schema
    * has sf0.01's (60,000 lineitem rows). */
  val CorpusSeed = 42L
  val Documents = 5000L
  val Embeddings = 2000L
  val Orders = 15000L
  val Customers = 1500L
  val Suppliers = 100L
  /** The set-up query and its pinned output. */
  val SetupQuery = "d41_indexed_batch_dedup"
  val SetupPin: (Long, String) = (1170L, "f43dc8215f39cd2e")

  /** Query -> (rows, digest) of its output on the fixed corpus. */
  val Pinned: Map[String, (Long, String)] = Map(
    "d6_minhash_dedup" -> ((5L, "39d5d80a21962079")),
    "d41b_indexed_minhash_batch" -> ((1625L, "0acc84b36246a3e7")),
    "e8_semantic_dedup" -> ((2000L, "fb7afed451e013f3")),
    "e13_bm25" -> ((50L, "f016341be695a100")),
    "q5_nation_revenue" -> ((25L, "d40f0b317acb4995")))
  val Queries: Seq[String] = Pinned.keys.toSeq.sorted

  /** Order-independent digest: the sum of per-row hashes of the rows'
    * text, as 16 hex digits. */
  def digest(rows: Seq[Row]): String = {
    val sum = rows.foldLeft(0L) { (acc, r) =>
      val s = r.toString
      acc + ((MurmurHash3.stringHash(s, 1).toLong << 32) ^
        (MurmurHash3.stringHash(s, 2).toLong & 0xffffffffL))
    }
    f"$sum%016x"
  }

  private var dir: String = _
  private var corpus: String = _

  /** Generates the corpus, or finds it in the cache directory, where a
    * finished corpus appears only whole (written aside, then renamed). */
  def prepare(ctx: Ctx): Unit = {
    val cached = ctx.args.cacheDir.map(d => Paths.get(d, "corpus"))
    corpus = cached.filter(Files.isDirectory(_)).map(_.toString).getOrElse {
      val out = ctx.path("inputs", "corpus")
      generate(ctx.spark, out)
      cached.fold(out) { c =>
        Files.createDirectories(c.getParent)
        val aside = Paths.get(s"$c.${ProcessHandle.current.pid}")
        copyTree(Paths.get(out), aside)
        try Files.move(aside, c, StandardCopyOption.ATOMIC_MOVE)
        catch { case _: java.nio.file.FileAlreadyExistsException |
            _: java.nio.file.DirectoryNotEmptyException => }
        out
      }
    }
    dir = corpus
  }

  private def generate(spark: SparkSession, out: String): Unit = {
    val tables = DataGen.starSchema(spark, Orders, Customers, Suppliers,
      CorpusSeed) ++ Map(
      "documents" -> DataGen.documents(spark, Documents, CorpusSeed),
      "embeddings" -> DataGen.embeddings(spark, Embeddings, CorpusSeed))
    tables.foreach { case (t, df) =>
      df.coalesce(1).write.parquet(s"$out/$t.parquet")
    }
  }

  private def copyTree(from: Path, to: Path): Unit = {
    val walk = Files.walk(from)
    try walk.iterator.asScala.foreach { p =>
      Files.copy(p, to.resolve(from.relativize(p).toString))
    } finally walk.close()
  }

  override def stage(ctx: Ctx, attempt: Int): Unit = {
    dir = ctx.path(s"corpus$attempt")
    copyTree(Paths.get(corpus), Paths.get(dir))
  }

  def setup(ctx: Ctx, attempt: Int): Option[String] = {
    val op = new QueryOp(ctx, SetupQuery, SetupPin)
    op.run(ctx.handles(traced = false))
    op.check()
  }

  private final class QueryOp(ctx: Ctx, q: String,
      pin: (Long, String)) extends Op(q) {
    private var rows: Seq[Row] = Nil
    def run(h: Handles): Unit =
      rows = graft.SparkEntry.queries(q)(ctx.spark, dir).collect().toSeq
    def check(): Option[String] = {
      val (n, d) = pin
      val got = digest(rows)
      if (rows.size == n && got == d) None
      else Some(s"${rows.size} rows digest $got, pinned $n rows digest $d")
    }
  }

  /** The warm-up cycle runs on the prepared corpus, so it also pays the
    * first index build; each set-up then times a warm index build. */
  override def warmsUpBeforeSetup: Boolean = true

  def cycle(ctx: Ctx, n: Int, rng: scala.util.Random): Seq[Op] =
    rng.shuffle(Queries).map(q => new QueryOp(ctx, q, Pinned(q)))
}
