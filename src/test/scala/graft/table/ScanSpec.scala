package graft.table

import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.SparkTestSession
import graft.catalog._
import graft.io.HadoopFileIO
import graft.spec._

class PruningSpec extends AnyFunSuite {
  private val schema = Schema(0, Seq(
    NestedField(1, "id", LongType, required = true),
    NestedField(2, "name", StringType, required = false)))

  private def file(lo: Long, hi: Long, nulls: Long = 0, rows: Long = 100,
      nameLo: String = "aaa", nameHi: String = "zzz") = DataFile(
    filePath = s"file:///d/$lo-$hi.parquet",
    recordCount = rows,
    valueCounts = Map(1 -> rows, 2 -> rows),
    nullValueCounts = Map(1 -> 0L, 2 -> nulls),
    lowerBounds = Map(1 -> Bounds.serialize(lo, LongType),
      2 -> Bounds.serialize(nameLo, StringType)),
    upperBounds = Map(1 -> Bounds.serialize(hi, LongType),
      2 -> Bounds.serialize(nameHi, StringType)))

  private def m(e: Expr, f: DataFile) = Pruning.fileMightMatch(e, f, schema)

  test("Eq prunes by [lower, upper]") {
    assert(m(Col("id").eqTo(15L), file(10, 20)))
    assert(!m(Col("id").eqTo(25L), file(10, 20)))
    assert(m(Col("id").eqTo(10), file(10, 20)), "int literal vs long bounds")
    assert(!m(Col("id").eqTo(9), file(10, 20)))
  }

  test("range ops prune at edges") {
    assert(!m(Col("id").lt(10L), file(10, 20)))
    assert(m(Col("id").lte(10L), file(10, 20)))
    assert(!m(Col("id").gt(20L), file(10, 20)))
    assert(m(Col("id").gte(20L), file(10, 20)))
    assert(m(Col("id").between(18L, 30L), file(10, 20)))
    assert(!m(Col("id").between(21L, 30L), file(10, 20)))
  }

  test("In prunes when no value in range") {
    assert(m(Col("id").in(1L, 15L), file(10, 20)))
    assert(!m(Col("id").in(1L, 9L, 21L), file(10, 20)))
  }

  test("null-count pruning") {
    assert(!m(Col("name").isNull, file(10, 20, nulls = 0)))
    assert(m(Col("name").isNull, file(10, 20, nulls = 5)))
    assert(m(Col("name").notNull, file(10, 20, nulls = 5)))
    // all-null column: NotNull and comparisons prune
    val allNull = file(10, 20).copy(
      nullValueCounts = Map(1 -> 0L, 2 -> 100L))
    assert(!Pruning.fileMightMatch(Col("name").notNull, allNull, schema))
    assert(!Pruning.fileMightMatch(Col("name").eqTo("x"), allNull, schema))
  }

  test("StartsWith prunes via string bounds") {
    assert(m(Col("name").startsWith("m"), file(1, 2)))
    assert(!m(Col("name").startsWith("m"),
      file(1, 2, nameLo = "aaa", nameHi = "ccc")))
    assert(m(Col("name").startsWith("bob"),
      file(1, 2, nameLo = "alpha", nameHi = "carol")))
  }

  test("And/Or compose; Not degrades to keep") {
    assert(!m(Col("id").gt(20L) and Col("name").startsWith("m"), file(10, 20)))
    assert(m(Col("id").gt(25L).or(Col("id").lt(15L)), file(10, 20)))
    assert(m(Expr.not(Col("id").eqTo(15L)), file(10, 20)))
  }

  test("missing stats keep the file") {
    val bare = DataFile(filePath = "file:///d/bare.parquet", recordCount = 1)
    assert(Pruning.fileMightMatch(Col("id").eqTo(999L), bare, schema))
  }
}

class ScanSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private def freshTable(name: String,
      schema: Schema = Fixtures4.usersSchema): Table = {
    val dir = Files.createTempDirectory("graft-scan-").toString
    val cat = new LocalCatalog(dir)
    cat.createNamespace(Seq("db"))
    Table.create(cat, TableIdentifier(Seq("db"), name), schema,
      io = new HadoopFileIO())
  }

  private def usersDf(ids: Range): DataFrame = {
    import spark.implicits._
    ids.map(i => (i.toLong, s"user_$i",
        if (i % 2 == 1) null else s"u$i@x.com",
        new java.sql.Timestamp(1704067200000L + i * 1000L)))
      .toDF("id", "name", "email", "created_at")
  }

  test("create -> append -> scan round-trips rows (t1 smoke shape)") {
    var t = freshTable("smoke")
    val df = usersDf(1 to 10)
    t = TableOps.append(t, df)
    val scanned = Scan(t, spark).toDF
    assert(scanned.count() == 10)
    assert(scanned.schema.fieldNames.toSeq ==
      Seq("id", "name", "email", "created_at"))
    // filter + select + limit through the engine ops
    val got = Scan(t, spark)
      .filter(Col("id").gt(5L))
      .select("id", "name")
      .toDF.orderBy("id").collect().map(r => r.getLong(0))
    assert(got.toSeq == Seq(6L, 7L, 8L, 9L, 10L))
    assert(Scan(t, spark).limit(3).toDF.count() == 3)
  }

  test("metadata-only count (S5/A1) and limit clamp") {
    var t = freshTable("cnt")
    t = TableOps.append(t, usersDf(1 to 10))
    t = TableOps.append(t, usersDf(11 to 30))
    assert(Scan(t, spark).count() == 30)
    assert(Scan(t, spark).limit(7).count() == 7)
    // with a filter it must execute, not estimate
    assert(Scan(t, spark).filter(Col("id").lte(12L)).count() == 12)
  }

  test("file pruning cuts planned files by id bounds") {
    var t = freshTable("prune")
    t = TableOps.append(t, usersDf(1 to 10).coalesce(1))
    t = TableOps.append(t, usersDf(11 to 20).coalesce(1))
    t = TableOps.append(t, usersDf(21 to 30).coalesce(1))
    assert(Scan(t, spark).planFiles().size == 3)
    val pruned = Scan(t, spark).filter(Col("id").gt(25L)).planFiles()
    assert(pruned.size == 1, s"expected 1 surviving file, got $pruned")
    val prunedEq = Scan(t, spark).filter(Col("id").eqTo(15L)).planFiles()
    assert(prunedEq.size == 1)
    // correctness unaffected
    assert(Scan(t, spark).filter(Col("id").gt(25L)).toDF.count() == 5)
  }

  test("null pruning: email IS NULL keeps files, odd ids null") {
    var t = freshTable("nulls")
    t = TableOps.append(t, usersDf(1 to 10).coalesce(1))
    val nullRows = Scan(t, spark).filter(Col("email").isNull).toDF
    assert(nullRows.count() == 5)
  }

  test("time travel: snapshot id and as-of (M4 surface via scan)") {
    var t = freshTable("tt")
    t = TableOps.append(t, usersDf(1 to 10))
    val s1 = t.currentSnapshot.get
    Thread.sleep(5)
    t = TableOps.append(t, usersDf(11 to 20))
    val s2 = t.currentSnapshot.get
    assert(Scan(t, spark).useSnapshot(s1.snapshotId).toDF.count() == 10)
    assert(Scan(t, spark).useSnapshot(s2.snapshotId).toDF.count() == 20)
    assert(Scan(t, spark).asOf(s1.timestampMs).toDF.count() == 10)
    assert(Scan(t, spark).asOf(s2.timestampMs).toDF.count() == 20)
    intercept[IllegalArgumentException] {
      Scan(t, spark).asOf(s1.timestampMs - 10000).resolveSnapshot()
    }
  }

  test("harvested stats carry real bounds and counts") {
    var t = freshTable("stats")
    t = TableOps.append(t, usersDf(1 to 10).coalesce(1))
    val files = Scan(t, spark).planFiles().map(_.file)
    assert(files.size == 1)
    val f = files.head
    assert(f.recordCount == 10)
    assert(Bounds.deserialize(f.lowerBounds(1), LongType) == 1L)
    assert(Bounds.deserialize(f.upperBounds(1), LongType) == 10L)
    assert(f.nullValueCounts(3) == 5) // odd-id emails are null
    assert(f.valueCounts(1) == 10)
    assert(f.fileSizeInBytes > 0)
    assert(f.splitOffsets.nonEmpty)
    // string bounds round-trip
    assert(Bounds.deserialize(f.lowerBounds(2), StringType) == "user_1")
  }

  test("scan of empty table returns empty DF with table schema") {
    val t = freshTable("empty")
    val df = Scan(t, spark).toDF
    assert(df.count() == 0)
    assert(df.schema.fieldNames.toSeq ==
      Seq("id", "name", "email", "created_at"))
  }

  test("incremental append scan reads only the snapshot range") {
    var t = freshTable("incr")
    t = TableOps.append(t, usersDf(1 to 10))
    val s1 = t.currentSnapshot.get.snapshotId
    t = TableOps.append(t, usersDf(11 to 20))
    val s2 = t.currentSnapshot.get.snapshotId
    t = TableOps.append(t, usersDf(21 to 30))
    val s3 = t.currentSnapshot.get.snapshotId

    def idsOf(sc: Scan): Set[Long] =
      sc.toDF.select("id").collect().map(_.getLong(0)).toSet
    assert(idsOf(Scan(t, spark).appendsBetween(s1, s3)) ==
      (11 to 30).map(_.toLong).toSet)
    assert(idsOf(Scan(t, spark).appendsBetween(s2, s3)) ==
      (21 to 30).map(_.toLong).toSet)
    assert(Scan(t, spark).appendsBetween(s1, s2).count() == 10,
      "incremental count stays metadata-only")
    assert(Scan(t, spark).appendsBetween(s3, s3).count() == 0)
    // filters prune within the increment
    assert(idsOf(Scan(t, spark).appendsBetween(s1, s3)
      .filter(Col("id").lte(12L))) == Set(11L, 12L))
    intercept[IllegalArgumentException] {
      Scan(t, spark).appendsBetween(999L, s2).planFiles()
    }
  }

  test("scan by ref: tags and branches resolve to their snapshot (M5)") {
    var t = freshTable("refscan")
    t = TableOps.append(t, usersDf(1 to 10))
    val s1 = t.currentSnapshot.get.snapshotId
    t = TableOps.append(t, usersDf(11 to 20))
    t = t.newTransaction()
      .setRef("audit-tag", s1, "tag")
      .setRef("dev", t.currentSnapshot.get.snapshotId, "branch")
      .commit()
    assert(Scan(t, spark).useRef("audit-tag").toDF.count() == 10)
    assert(Scan(t, spark).useRef("dev").toDF.count() == 20)
    assert(Scan(t, spark).useRef("main").toDF.count() == 20)
    // a filter composes with the ref read
    assert(Scan(t, spark).useRef("audit-tag")
      .filter(Col("id").lte(3L)).toDF.count() == 3)
    intercept[IllegalArgumentException] {
      Scan(t, spark).useRef("nope").resolveSnapshot()
    }
  }
}

/** Nested-column stats: struct leaves get footer-harvested bounds keyed
  * by their own field IDs, and dotted-path predicates prune on them. */
class NestedStatsSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private val nestedSchema: Schema = Schema(0, Seq(
    NestedField(1, "id", LongType, required = true),
    NestedField(2, "profile", StructType(Seq(
      NestedField(3, "age", IntType, required = false),
      NestedField(4, "city", StringType, required = false))),
      required = false)))

  test("struct leaf bounds harvested; dotted predicate prunes files") {
    val dir = Files.createTempDirectory("graft-nested-").toString
    val cat = new LocalCatalog(dir)
    cat.createNamespace(Seq("db"))
    var t = Table.create(cat, TableIdentifier(Seq("db"), "nested"),
      nestedSchema, io = new HadoopFileIO())
    import spark.implicits._
    def batch(ids: Range, ageOf: Int => Int) =
      ids.map(i => (i.toLong, (ageOf(i), s"city_$i")))
        .toDF("id", "profile")
        .select(col("id"), col("profile").cast(
          "struct<age:int,city:string>"))
    t = TableOps.append(t, batch(1 to 10, i => 20 + i).coalesce(1))
    t = TableOps.append(t, batch(11 to 20, i => 60 + i).coalesce(1))

    val files = Scan(t, spark).planFiles().map(_.file)
    assert(files.size == 2)
    // nested leaf 'age' (field id 3) carries real bounds
    val ageBounds = files.map(f =>
      Bounds.deserialize(f.lowerBounds(3), IntType).asInstanceOf[Int])
      .sorted
    assert(ageBounds == Seq(21, 71), s"harvested nested bounds: $ageBounds")
    assert(files.forall(_.lowerBounds.contains(4)), "city bounds too")

    // dotted predicate prunes to the one matching file and evaluates
    val kept = Scan(t, spark).filter(Col("profile.age").gt(50)).planFiles()
    assert(kept.size == 1, s"nested bounds must prune: $kept")
    assert(Scan(t, spark).filter(Col("profile.age").gt(50)).toDF
      .count() == 10)
    assert(Scan(t, spark).filter(Col("profile.city").eqTo("city_3")).toDF
      .count() == 1)
  }
}

/** NaN stats (verdict #8): harvested nan_value_counts + NaN-sound
  * float/double bounds pruning. NaN sorts greater than every value in
  * Spark and DuckDB, and parquet min/max exclude it — so Gt/Gte prunes
  * must keep NaN-bearing files. */
class NaNStatsSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private val scoreSchema: Schema = Schema(0, Seq(
    NestedField(1, "id", LongType, required = true),
    NestedField(2, "score", DoubleType, required = false)))

  private def freshTable(name: String): Table = {
    val dir = Files.createTempDirectory("graft-nan-").toString
    val cat = new LocalCatalog(dir)
    cat.createNamespace(Seq("db"))
    Table.create(cat, TableIdentifier(Seq("db"), name),
      scoreSchema, io = new HadoopFileIO())
  }

  test("nan counts harvested; Gt/Gte keep NaN-bearing files") {
    var t = freshTable("nans")
    import spark.implicits._
    // file A: small scores + a NaN; file B: mid scores, no NaN
    t = TableOps.append(t, Seq((1L, 1.0), (2L, 2.0), (3L, Double.NaN))
      .toDF("id", "score").coalesce(1))
    t = TableOps.append(t, Seq((4L, 5.0), (5L, 6.0))
      .toDF("id", "score").coalesce(1))
    val files = Scan(t, spark).planFiles().map(_.file)
    val nanByFile = files.map(f => f.nanValueCounts.getOrElse(2, -1L)).sorted
    assert(nanByFile == Seq(0L, 1L),
      s"nan_value_counts must be harvested per file: $files")

    // score > 100 matches ONLY file A's NaN row — A must survive the
    // prune, B must go
    val kept = Scan(t, spark).filter(Col("score").gt(100.0)).planFiles()
    assert(kept.size == 1 && kept.head.file.nanValueCounts(2) == 1L,
      s"NaN-bearing file must not be pruned by Gt: $kept")
    assert(Scan(t, spark).filter(Col("score").gt(100.0)).toDF
      .select("id").collect().map(_.getLong(0)).toSeq == Seq(3L),
      "the NaN row satisfies score > 100 in Spark semantics")

    // a NaN-bearing file matches EVERY Gt — and the row count proves it
    val gtMid = Scan(t, spark).filter(Col("score").gt(5.5)).toDF
      .select("id").collect().map(_.getLong(0)).toSet
    assert(gtMid == Set(3L, 5L),
      s"NaN (id 3) and 6.0 (id 5) both satisfy > 5.5: $gtMid")

    // Lt is NaN-insensitive: bounds prune still cuts file B
    val keptLt = Scan(t, spark).filter(Col("score").lt(1.5)).planFiles()
    assert(keptLt.size == 1,
      s"Lt prune keeps only the low file: $keptLt")
  }

  test("NaN literal predicates: Eq/Gte keep only NaN-bearing files") {
    var t = freshTable("nanlit")
    import spark.implicits._
    t = TableOps.append(t, Seq((1L, 1.0), (2L, Double.NaN))
      .toDF("id", "score").coalesce(1))
    t = TableOps.append(t, Seq((3L, 5.0)).toDF("id", "score").coalesce(1))
    assert(Scan(t, spark).filter(Col("score").eqTo(Double.NaN))
      .planFiles().size == 1)
    assert(Scan(t, spark).filter(Col("score").gt(Double.NaN))
      .planFiles().isEmpty, "nothing sorts above NaN")
  }

  test("equality-delete group fan-out is capped: plan size stays " +
      "bounded at 30 per-partition delete sets, results exact") {
    import spark.implicits._
    val schema = Schema(0, Seq(
      NestedField(1, "id", LongType, required = true),
      NestedField(2, "day", LongType, required = true),
      NestedField(3, "name", StringType, required = false)))
    val spec = PartitionSpec.builder(0).identity(2, "day").build()
    val dir = Files.createTempDirectory("graft-eqcap-").toString
    val cat = new LocalCatalog(dir)
    cat.createNamespace(Seq("db"))
    var t = Table.create(cat, TableIdentifier(Seq("db"), "eqcap"),
      schema, spec, io = new HadoopFileIO())

    val nDays = 30
    def rows(ids: Seq[(Long, Long)]) =
      ids.map { case (id, day) => (id, day, s"n$id") }
        .toDF("id", "day", "name")
    // 5 rows per day across 30 days
    t = TableOps.append(t, rows(for {
      d <- 0L until nDays; i <- 0L until 5L } yield (d * 100 + i, d)))
    // per-partition SCOPED equality deletes: key includes the partition
    // source, so each day gets its own delete file / scope
    t = Mutations.deleteByKeys(t, spark, rows(
      (0L until nDays).map(d => (d * 100, d))).select("id", "day"))
    // re-insert two deleted keys AFTER the delete: higher sequence
    // number, so the `deleteSeq > dataSeq` rule must keep them
    t = TableOps.append(t, rows(Seq((0L, 0L), (500L, 5L))))

    val tasks = Scan(t, spark).planFiles()
    val distinctSets = tasks.map(_.deleteFiles
      .filter(_.file.content == FileContent.EqualityDeletes)
      .map(_.file.filePath).toSet).filter(_.nonEmpty).distinct.size
    assert(distinctSets == nDays,
      s"precondition: one scoped delete set per day, got $distinctSets")

    val df = Scan(t, spark).toDF
    // the planned physical plan: the executed one is wrapped in AQE's
    // single leaf node
    val leaves = df.queryExecution.sparkPlan.collectLeaves().size
    assert(leaves <= 10,
      s"the reader applies deletes per task: plan must stay bounded, " +
        s"got $leaves leaves")

    val got = df.select("id").collect().map(_.getLong(0)).toSet
    val expected = (for {
      d <- 0L until nDays; i <- 0L until 5L } yield (d * 100 + i))
      .toSet -- (0L until nDays).map(_ * 100).toSet ++ Set(0L, 500L)
    assert(got == expected,
      "deletes applied, re-inserted keys survive the sequence rule")
  }
}

/** `planFiles` reads and prunes manifests in parallel on the driver's
  * worker pool and must plan exactly what a serial read would. */
class ParallelPlanSpec extends AnyFunSuite {
  import scala.jdk.CollectionConverters._

  private lazy val spark = SparkTestSession.spark

  private val schema = Schema(0, Seq(
    NestedField(1, "id", LongType, required = true),
    NestedField(2, "part", IntType, required = false)))
  private val spec = PartitionSpec.builder().identity(2, "part").build()

  /** File `k` of a table: part `part`, ids `[100k, 100k + 99]`. */
  private def dataFile(dir: String, k: Int, part: Int) = DataFile(
    filePath = s"$dir/data/d-$k.parquet", partition = Map("part" -> part),
    recordCount = 100, fileSizeInBytes = 1000,
    valueCounts = Map(1 -> 100L, 2 -> 100L),
    nullValueCounts = Map(1 -> 0L, 2 -> 0L),
    lowerBounds = Map(1 -> Bounds.serialize(k * 100L, LongType),
      2 -> Bounds.serialize(part, IntType)),
    upperBounds = Map(1 -> Bounds.serialize(k * 100L + 99, LongType),
      2 -> Bounds.serialize(part, IntType)))

  private def partOf(k: Int) = if (k == 70) 1 else k % 4

  /** 70 one-file fast appends (one manifest each), a position delete
    * scoped to part 1, then file 70 in part 1, newer than the delete.
    * Only metadata is written: planning never opens a data file. */
  private def table(name: String,
      io: graft.io.FileIO = new HadoopFileIO()): Table = {
    val dir = Files.createTempDirectory(s"graft-pp-$name-").toString
    val cat = new LocalCatalog(dir)
    cat.createNamespace(Seq("db"))
    var t = Table.create(cat, TableIdentifier(Seq("db"), name), schema,
      spec, io = io)
    def append(k: Int) = t = t.commitSnapshot(PendingSnapshot(
      Operation.Append, addedDataFiles = Seq(dataFile(dir, k, partOf(k)))))
    (0 until 70).foreach(append)
    t = t.commitSnapshot(PendingSnapshot(Operation.Delete,
      addedDeleteFiles = Seq(DataFile(content = FileContent.PositionDeletes,
        filePath = s"$dir/data/pos-del.parquet",
        partition = Map("part" -> 1), recordCount = 1))))
    append(70)
    t
  }

  private def planned(tasks: Seq[FileScanTask]): Seq[(Int, Boolean)] =
    tasks.map(ts => (ts.file.filePath.stripSuffix(".parquet")
      .split('-').last.toInt, ts.deleteFiles.nonEmpty))

  /** The plan a serial read lists: manifests newest first, one file
    * each; the delete attaches to part-1 files older than it. */
  private def expected(keep: Int => Boolean): Seq[(Int, Boolean)] =
    (70 to 0 by -1).filter(keep).map(k => (k, partOf(k) == 1 && k < 70))

  test("a 72-manifest plan keeps manifest order, pruning and deletes") {
    val t = table("order")
    assert(t.manifestList(t.currentSnapshot.get).size == 72)
    assert(planned(Scan(t, spark).planFiles()) == expected(_ => true))
    assert(planned(Scan(t, spark).filter(Col("id").between(1000L, 2599L))
      .planFiles()) == expected(k => k >= 10 && k <= 25))
    assert(planned(Scan(t, spark).filter(Col("part").eqTo(1)
      .and(Col("id").between(1000L, 2599L))).planFiles()) ==
      expected(k => k >= 10 && k <= 25 && partOf(k) == 1))
  }

  test("every manifest read of a parallel plan goes through the table's " +
      "FileIO") {
    val io = new graft.CountingFileIO()
    val t = table("counted", io)
    val (all, lists, reads) = io.counting(Scan(t, spark).planFiles())
    assert(all.size == 71 && lists == 1 && reads == 72,
      s"$lists list and $reads manifest reads for ${all.size} files")
    // part 1 prunes every other partition's manifest unread; the
    // delete manifest is always read
    val (part1, _, partReads) = io.counting(
      Scan(t, spark).filter(Col("part").eqTo(1)).planFiles())
    assert(part1.size == 19 && partReads == 19 + 1,
      s"$partReads manifest reads for ${part1.size} files")
  }

  test("a manifest removed from storage fails the plan with the " +
      "FileIO's FileNotFoundException") {
    val t = table("missing")
    val victim = t.manifestList(t.currentSnapshot.get)
      .filter(_.content == ManifestContent.Data)(35).manifestPath
    t.io.delete(victim)
    val e = intercept[java.io.FileNotFoundException](
      Scan(t, spark).planFiles())
    assert(e.getMessage.contains(victim.substring(victim.lastIndexOf('/'))),
      e.getMessage)
  }

  test("back-to-back plans reuse the worker pool: the live thread count " +
      "stays flat") {
    val t = table("threads")
    def poolThreads = Thread.getAllStackTraces.keySet.asScala
      .count(_.getName.startsWith("graft-worker-"))
    val threads = java.lang.management.ManagementFactory.getThreadMXBean
    Scan(t, spark).planFiles()
    val (pool0, live0) = (poolThreads, threads.getThreadCount)
    (1 to 50).foreach(_ => assert(Scan(t, spark).planFiles().size == 71))
    val (pool1, live1) = (poolThreads, threads.getThreadCount)
    assert(pool0 > 0 && pool0 <= graft.util.WorkerPool.Size)
    assert(pool1 == pool0, s"pool threads $pool0 -> $pool1")
    assert(live1 <= live0 + 2, s"live threads $live0 -> $live1")
  }
}

object Fixtures4 {
  val usersSchema: Schema = Schema(0, Seq(
    NestedField(1, "id", LongType, required = true),
    NestedField(2, "name", StringType, required = true),
    NestedField(3, "email", StringType, required = false),
    NestedField(4, "created_at", TimestampType, required = true)))
}
