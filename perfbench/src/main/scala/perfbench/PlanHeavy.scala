package perfbench

import scala.collection.mutable

import graft.catalog.TableIdentifier
import graft.spec._
import graft.table._

/** Driver-metadata workload: a partitioned table of synthetic data-file
  * entries (no data on disk) committed through the public
  * `Table.commitSnapshot`, then planned over and over. Each cycle runs
  * three partition-selective plans (few manifests survive, planning
  * stays on the driver), one stats-only plan (every manifest survives,
  * so planning fans out to executors), one unfiltered metadata-only
  * `count()`, one small fast-append commit, and one copy-on-write
  * delete of a slice of the one real data file, kept in a partition of
  * its own: a small data rewrite whose commit rewrites manifests of a
  * table with a long metadata history. */
object PlanHeavy extends Workload {
  val name = "plan_heavy"

  val Manifests = 96
  val FilesPerManifest = 104
  val Partitions = 32
  val AppendFiles = 4
  /** Width of a file's `a` range and of the stats predicate's range. */
  val FileSpan = 2000L
  val QuerySpan = 5000L
  val ASpace = 1000000L
  /** The real data file: `RealRows` rows in partition `RealPart`, deleted
    * `SliceRows` ids per cycle. */
  val RealPart = Partitions
  val SliceRows = 100L
  val Slices = 64
  val RealRows = SliceRows * Slices

  private val schema = Schema(0, Seq(
    NestedField(1, "id", LongType, required = true),
    NestedField(2, "part", IntType, required = false),
    NestedField(3, "a", LongType, required = false),
    NestedField(4, "b", DoubleType, required = false),
    NestedField(5, "s", StringType, required = false)))
  private val spec = PartitionSpec.builder().identity(2, "part").build()

  /** The model the checks compare against: every committed file's
    * partition, `a` range and row count, kept outside graft.table. */
  final case class Entry(part: Int, aLo: Long, aHi: Long, records: Long)

  private var spark: org.apache.spark.sql.SparkSession = _
  private var table: Table = _
  private var model = mutable.ArrayBuffer.empty[Entry]
  private var nextId = 0L

  private var realFile: String = _
  private var realEntry: Entry = _

  /** Writes the real data file once, with plain Spark; each set-up
    * registers it with `TableOps.addFiles`. */
  def prepare(ctx: Ctx): Unit = {
    import org.apache.spark.sql.functions._
    spark = ctx.spark
    ctx.handles(traced = false).catalog.createNamespace(Seq("bench"))
    val dir = ctx.path("inputs", "real")
    val rows = spark.range(RealRows).select(col("id"),
      lit(RealPart).as("part"),
      pmod(xxhash64(lit(ctx.args.seed), col("id")), lit(ASpace)).as("a"),
      (col("id") / 7.0).as("b"), concat(lit("r"), col("id").cast("string")).as("s"))
    rows.coalesce(1).write.parquet(dir)
    realFile = new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".parquet")).head.getAbsolutePath
    val bounds = spark.read.parquet(dir).agg(min("a"), max("a")).head()
    realEntry = Entry(RealPart, bounds.getLong(0), bounds.getLong(1), RealRows)
  }

  private def dataFile(location: String, e: Entry, tag: String): DataFile = {
    val id0 = nextId
    nextId += e.records
    val b0 = e.aLo / 7.0
    DataFile(
      filePath = s"$location/data/part=${e.part}/$tag.parquet",
      partition = Map("part" -> e.part),
      recordCount = e.records,
      fileSizeInBytes = e.records * 40,
      columnSizes = Map(1 -> e.records * 8, 3 -> e.records * 8,
        4 -> e.records * 8, 5 -> e.records * 16),
      valueCounts = (1 to 5).map(_ -> e.records).toMap,
      nullValueCounts = (1 to 5).map(_ -> 0L).toMap,
      nanValueCounts = Map(4 -> 0L),
      lowerBounds = Map(
        1 -> Bounds.serialize(id0, LongType),
        2 -> Bounds.serialize(e.part, IntType),
        3 -> Bounds.serialize(e.aLo, LongType),
        4 -> Bounds.serialize(b0, DoubleType)),
      upperBounds = Map(
        1 -> Bounds.serialize(id0 + e.records - 1, LongType),
        2 -> Bounds.serialize(e.part, IntType),
        3 -> Bounds.serialize(e.aHi, LongType),
        4 -> Bounds.serialize(b0 + 100.0, DoubleType)))
  }

  private def entry(part: Int, rng: scala.util.Random): Entry = {
    val lo = (rng.nextDouble() * (ASpace - FileSpan)).toLong
    Entry(part, lo, lo + FileSpan, 1000L + rng.nextInt(1000))
  }

  /** Commits `entries` as one fast append and records them in the model. */
  private def append(t: Table, entries: Seq[Entry], tag: String): Table = {
    val files = entries.zipWithIndex.map { case (e, j) =>
      dataFile(t.location, e, s"$tag-$j")
    }
    val next = t.commitSnapshot(PendingSnapshot(Operation.Append,
      addedDataFiles = files))
    model ++= entries
    next
  }

  def setup(ctx: Ctx, attempt: Int): Option[String] = {
    val rng = new scala.util.Random(ctx.args.seed)
    model = mutable.ArrayBuffer.empty[Entry]
    nextId = 0L
    val h = ctx.handles(traced = false)
    var t = Table.create(h.catalog, TableIdentifier(Seq("bench"), s"meta$attempt"),
      schema, spec, io = h.io)
    for (k <- 0 until Manifests) {
      val part = k % Partitions
      t = append(t, Seq.fill(FilesPerManifest)(entry(part, rng)), s"m$k")
    }
    table = TableOps.addFiles(t, spark, Seq(realFile),
      partition = Map("part" -> RealPart))
    model += realEntry
    None
  }

  private def modelFiles(p: Entry => Boolean): Long = model.count(p).toLong

  private final class PlanOp(kind: String, filter: Option[Expr],
      expected: Long) extends Op(kind) {
    private var tasks: Seq[FileScanTask] = Nil
    def run(h: Handles): Unit = {
      val scan = Scan(h.bind(table), spark)
      tasks = filter.fold(scan)(scan.filter).planFiles()
    }
    def check(): Option[String] =
      if (tasks.size == expected) None
      else Some(s"planned ${tasks.size} files, expected $expected")
    override def afterTraced(ctx: Ctx): Unit = Replays.record(ctx, table, filter)
  }

  private final class CountOp(expected: Long) extends Op("count") {
    private var n = -1L
    def run(h: Handles): Unit = n = Scan(h.bind(table), spark).count()
    def check(): Option[String] =
      if (n == expected) None else Some(s"count $n, expected $expected")
    override def afterTraced(ctx: Ctx): Unit = Replays.record(ctx, table, None)
  }

  private final class CommitOp(entries: Seq[Entry], tag: String)
      extends Op("commit") {
    private var before = 0L
    def run(h: Handles): Unit = {
      before = model.size.toLong
      table = append(h.bind(table), entries, tag)
    }
    def check(): Option[String] = {
      val total = table.currentSnapshot.flatMap(_.summary)
        .map(_.counter(Summary.TotalDataFiles)).getOrElse(-1L)
      if (total == before + entries.size) None
      else Some(s"total-data-files $total, expected ${before + entries.size}")
    }
  }

  private final class CowOp(slice: Int) extends Op("cow_delete") {
    private var parent = 0L
    def run(h: Handles): Unit = {
      parent = table.currentSnapshot.get.snapshotId
      val lo = slice * SliceRows
      table = Mutations.deleteCoW(h.bind(table), spark,
        Col("part").eqTo(RealPart).and(Col("id").between(lo, lo + SliceRows - 1)))
      val i = model.indexWhere(_.part == RealPart)
      model(i) = model(i).copy(records = model(i).records - SliceRows)
    }
    private def summary = table.currentSnapshot.filter(_.snapshotId != parent)
      .flatMap(_.summary)
    def check(): Option[String] = summary match {
      case None => Some("no new snapshot")
      case Some(s) =>
        val removed = s.counter(Summary.DeletedRecords) -
          s.counter(Summary.AddedRecords)
        if (removed == SliceRows) None
        else Some(s"removed $removed rows, expected $SliceRows")
    }
    override def afterTraced(ctx: Ctx): Unit =
      summary.foreach(ctx.noteMutation(_, SliceRows))
  }

  /** Each cycle deletes a slice no earlier cycle deleted. */
  override def maxCycles: Int = Slices
  /** The first cycles run slower as the JIT compiles the Spark write
    * path of the copy-on-write delete; these run before the window. */
  override def warmupCycles: Int = 5

  def cycle(ctx: Ctx, n: Int, r: scala.util.Random): Seq[Op] = {
    def partOp(): Op = {
      val p = r.nextInt(Partitions)
      new PlanOp("plan_part", Some(Col("part").eqTo(p)),
        modelFiles(_.part == p))
    }
    val lo = (r.nextDouble() * (ASpace - QuerySpan)).toLong
    val hi = lo + QuerySpan
    val ops = Seq(partOp(),
      new PlanOp("plan_stats", Some(Col("a").between(lo, hi)),
        modelFiles(e => e.aHi >= lo && e.aLo <= hi)),
      new CountOp(model.map(_.records).sum))
    val newEntries = Seq.fill(AppendFiles)(entry(r.nextInt(Partitions), r))
    r.shuffle(ops) ++ Seq(new CommitOp(newEntries, s"c$n"), new CowOp(n))
  }
}
