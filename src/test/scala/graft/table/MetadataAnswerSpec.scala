package graft.table

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame

import graft.{CountingFileIO, SparkJobs, SparkTestSession}
import graft.catalog._
import graft.spec._

/** Table-layer answers taken from metadata instead of recomputed: an
  * unfiltered `count()` read off the manifest list, copy-on-write
  * commits and rebase checks that decode only the manifests whose
  * partition summaries can hold the files they touch, and NaN counts
  * taken by the writer as rows pass, so no rewrite re-reads its output. */
class MetadataAnswerSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private val schema = Schema(0, Seq(
    NestedField(1, "id", LongType, required = true),
    NestedField(2, "part", IntType, required = false),
    NestedField(3, "v", DoubleType, required = false),
    NestedField(4, "ts", TimestampType, required = false)))
  private val byPart = PartitionSpec.builder().identity(2, "part").build()
  private val Day0Ms = 1704067200000L // 2024-01-01

  private def freshTable(name: String,
      spec: PartitionSpec = byPart): (Table, CountingFileIO) = {
    val dir = Files.createTempDirectory(s"graft-meta-$name-").toString
    val cat = new LocalCatalog(dir)
    cat.createNamespace(Seq("db"))
    val io = new CountingFileIO()
    (Table.create(cat, TableIdentifier(Seq("db"), name), schema, spec,
      io = io), io)
  }

  /** Rows `ids` in partition `part` (None = null), `v = id / 2` unless
    * `v` says otherwise, `ts` on day `id / 100` after 2024-01-01. */
  private def rows(ids: Range, part: Option[Int],
      v: Long => Double = _ / 2.0): DataFrame = {
    import spark.implicits._
    ids.map(i => (i.toLong, part, v(i.toLong),
      new java.sql.Timestamp(Day0Ms + (i / 100) * 86400000L + i)))
      .toDF("id", "part", "v", "ts").coalesce(1)
  }

  private def ids(t: Table): Set[Long] =
    Scan(t, spark).toDF.select("id").collect().map(_.getLong(0)).toSet

  private def liveFiles(t: Table, s: Snapshot): Set[String] =
    t.manifestList(s).flatMap(mf =>
      t.readManifest(mf).liveEntries.map(_.dataFile.filePath)).toSet

  /** Writes the deletion of `pred`'s candidates over `t` twice, scoped
    * and unscoped, and checks both snapshots agree (summary and live
    * files). Returns the manifest reads of each. */
  private def scopedVsFull(t: Table, io: CountingFileIO,
      pred: Expr): (Int, Int) = {
    val cands = Scan(t, spark).filter(pred).planFiles()
    assert(cands.nonEmpty)
    val pending = PendingSnapshot(Operation.Delete,
      deletedFilePaths = cands.map(_.file.filePath).toSet,
      partitionScope = PendingSnapshot.scopeOf(cands))
    val (scoped, _, scopedReads) =
      io.counting(SnapshotWriter.write(t.metadata, t.io, pending))
    val (full, _, fullReads) = io.counting(SnapshotWriter.write(
      t.metadata, t.io, pending.copy(partitionScope = None)))
    assert(scoped.summary == full.summary)
    val s = scoped.summary.get
    assert(s.counter(Summary.DeletedDataFiles) == cands.size)
    assert(s.counter(Summary.DeletedRecords) ==
      cands.map(_.file.recordCount).sum)
    assert(liveFiles(t, scoped) == liveFiles(t, full))
    assert(liveFiles(t, scoped).intersect(pending.deletedFilePaths).isEmpty)
    (scopedReads, fullReads)
  }

  // ----------------------------------------- count from the manifest list

  test("count() from the manifest list equals toDF.count(): one list " +
      "read, no manifest read, no Spark job") {
    val (t0, io) = freshTable("cnt")
    assert(Scan(t0, spark).count() == 0 && Scan(t0, spark).toDF.count() == 0)
    var t = TableOps.append(t0, rows(1 to 10, Some(0)))
    t = TableOps.append(t, rows(11 to 25, Some(1)))
    val s1 = t.currentSnapshot.get.snapshotId
    t = t.newTransaction().setRef("t1", s1, "tag").commit()
    t = Mutations.deleteCoW(t, spark, Col("id").between(3L, 5L))
    t = TableOps.append(t, rows(26 to 30, Some(2)))
    val scans = Seq(
      "current" -> Scan(t, spark),
      "snapshot id" -> Scan(t, spark).useSnapshot(s1),
      "ref" -> Scan(t, spark).useRef("t1"),
      "limit below" -> Scan(t, spark).limit(4),
      "limit above" -> Scan(t, spark).limit(1000))
    for ((what, scan) <- scans) {
      val ((n, lists, manifests), jobs) =
        SparkJobs.count(spark)(io.counting(scan.count()))
      assert(n == scan.toDF.count(), what)
      assert((lists, manifests, jobs) == ((1, 0, 0)), what)
    }
    assert(Scan(t, spark).count() == 27)
    assert(Scan(t, spark).useRef("t1").count() == 25)
  }

  test("count() falls back to planning under MoR position and " +
      "equality deletes") {
    import spark.implicits._
    val (t0, io) = freshTable("cntmor")
    var t = TableOps.append(t0, rows(1 to 10, Some(0)))
    t = TableOps.append(t, rows(11 to 20, Some(1)))
    t = Mutations.deleteMoR(t, spark, Col("id").lte(3L))
    assert(Scan(t, spark).manifestListCount().isEmpty)
    val (n, _, manifests) = io.counting(Scan(t, spark).count())
    assert(n == 17 && n == Scan(t, spark).toDF.count())
    assert(manifests > 0, "the fallback plans files")

    t = Mutations.deleteByKeys(t, spark, Seq(15L, 16L).toDF("id"))
    assert(Scan(t, spark).manifestListCount().isEmpty)
    assert(Scan(t, spark).count() == 15)
    assert(Scan(t, spark).toDF.count() == 15)
  }

  test("appendsBetween never takes the manifest-list count") {
    val (t0, _) = freshTable("cntinc")
    var t = TableOps.append(t0, rows(1 to 10, Some(0)))
    val s1 = t.currentSnapshot.get.snapshotId
    t = TableOps.append(t, rows(11 to 14, Some(1)))
    val s2 = t.currentSnapshot.get.snapshotId
    val inc = Scan(t, spark).appendsBetween(s1, s2)
    assert(inc.manifestListCount().isEmpty)
    assert(inc.count() == 4 && inc.toDF.count() == 4)
    assert(Scan(t, spark).filter(Col("id").gt(5L)).manifestListCount().isEmpty)
  }

  // --------------------------------------- partition-scoped CoW commits

  test("a CoW delete in one of N partitions decodes only the manifests " +
      "whose summaries admit its tuple") {
    val (t0, io) = freshTable("scope")
    var t = t0
    for (p <- 0 until 6)
      t = TableOps.append(t, rows(p * 10 + 1 to p * 10 + 10, Some(p)))
    val pred = Col("part").eqTo(3).and(Col("id").between(32L, 34L))
    assert(scopedVsFull(t, io, pred) == ((1, 6)))
    // end to end: planning decodes the one surviving manifest, the
    // commit decodes it again — and nothing else
    val (after, _, manifests) =
      io.counting(Mutations.deleteCoW(t, spark, pred))
    assert(manifests == 2)
    assert(ids(after) == (1 to 60).map(_.toLong).toSet -- Set(32L, 33L, 34L))
  }

  test("scoped commit: a file written under an older spec after spec " +
      "evolution") {
    val (t0, io) = freshTable("scopeevo")
    var t = t0
    for (p <- 0 until 3)
      t = TableOps.append(t, rows(p * 10 + 1 to p * 10 + 10, Some(p)))
    t = t.newTransaction().addPartitionSpec(
      PartitionSpec.builder(1).bucket(1, "id_b", 4).build()).commit()
    t = TableOps.append(t, rows(100 to 120, Some(1)))
    // the spec-0 candidate sits in one of three spec-0 manifests; the
    // spec-1 manifest holds part 1 too but cannot hold a spec-0 file
    val pred = Col("part").eqTo(1).and(Col("id").lte(12L))
    assert(scopedVsFull(t, io, pred) == ((1, 4)))
    t = Mutations.deleteCoW(t, spark, pred)
    assert(ids(t) == ((1 to 30) ++ (100 to 120)).map(_.toLong).toSet --
      Set(11L, 12L))
  }

  test("scoped commit: a null partition value") {
    val (t0, io) = freshTable("scopenull")
    var t = TableOps.append(t0, rows(1 to 10, None))
    t = TableOps.append(t, rows(11 to 20, Some(0)))
    t = TableOps.append(t, rows(21 to 30, Some(1)))
    val pred = Col("part").isNull.and(Col("id").eqTo(4L))
    assert(scopedVsFull(t, io, pred) == ((1, 3)))
    t = Mutations.deleteCoW(t, spark, pred)
    assert(ids(t) == (1 to 30).map(_.toLong).toSet - 4L)
  }

  test("scoped commit: an unpartitioned table inspects every manifest") {
    val (t0, io) = freshTable("scopeunpart", PartitionSpec.unpartitioned)
    var t = t0
    for (k <- 0 until 3)
      t = TableOps.append(t, rows(k * 10 + 1 to k * 10 + 10, None))
    assert(scopedVsFull(t, io, Col("id").eqTo(15L)) == ((3, 3)))
  }

  test("scoped commit: day and bucket transforms") {
    val spec = PartitionSpec.builder().day(4, "ts_day")
      .bucket(1, "id_b", 4).build()
    val (t0, io) = freshTable("scopeday", spec)
    var t = t0
    // one append per day: each manifest spans one day, several buckets
    for (d <- 0 until 3)
      t = TableOps.append(t, rows(d * 100 to d * 100 + 20, Some(0)))
    val pred = Col("id").in(105L, 110L)
    assert(scopedVsFull(t, io, pred) == ((1, 3)))
    t = Mutations.deleteCoW(t, spark, pred)
    assert(ids(t) == (0 until 3).flatMap(d => d * 100 to d * 100 + 20)
      .map(_.toLong).toSet -- Set(105L, 110L))
  }

  test("scoped rebase check: a rewritten candidate still conflicts; an " +
      "append to another partition rebases reading scoped manifests only") {
    def setup(name: String): (Table, CountingFileIO, PendingSnapshot) = {
      val (t0, io) = freshTable(name)
      var t = t0
      for (p <- 0 until 4)
        t = TableOps.append(t, rows(p * 10 + 1 to p * 10 + 10, Some(p)))
      val cands = Scan(t, spark).filter(Col("part").eqTo(1)).planFiles()
      (t, io, PendingSnapshot(Operation.Delete,
        deletedFilePaths = cands.map(_.file.filePath).toSet,
        partitionScope = PendingSnapshot.scopeOf(cands)))
    }
    val (stale, _, pending) = setup("rebaseconf")
    Mutations.deleteCoW(stale, spark, Col("id").eqTo(12L))
    intercept[CommitConflictException](stale.commitSnapshot(pending))

    val (stale2, io, pending2) = setup("rebaseclean")
    TableOps.append(stale2, rows(41 to 45, Some(3)))
    // first attempt: 1 manifest; rebase check and second attempt: the
    // part-1 manifest again each, never the other four
    val (t, _, manifests) = io.counting(stale2.commitSnapshot(pending2))
    assert(manifests == 3)
    assert(ids(t) == (1 to 45).map(_.toLong).toSet --
      (11 to 20).map(_.toLong))
  }

  // ------------------------------------------- NaN counts of CoW rewrites

  private def nanCounts(t: Table): Seq[Map[Int, Long]] =
    Scan(t, spark).planFiles().map(_.file.nanValueCounts)

  test("a CoW delete over a file with NaNs still counts them") {
    val (t0, _) = freshTable("nanhit", PartitionSpec.unpartitioned)
    var t = TableOps.append(t0, rows(1 to 20, None,
      v = i => if (i % 5 == 0) Double.NaN else i.toDouble))
    assert(nanCounts(t) == Seq(Map(3 -> 4L)))
    t = Mutations.deleteCoW(t, spark, Col("id").eqTo(1L))
    assert(nanCounts(t) == Seq(Map(3 -> 4L)))
    // NaN sorts above every value: a Gt prune must keep the file
    assert(Scan(t, spark).filter(Col("v").gt(100.0)).planFiles().size == 1)
    assert(Scan(t, spark).filter(Col("v").gt(100.0)).toDF.count() == 4)
  }

  /** Spark jobs of a CoW delete of `id = 2`, and the table after it. */
  private def cowJobs(t: Table): (Table, Int) =
    SparkJobs.count(spark)(Mutations.deleteCoW(t, spark, Col("id").eqTo(2L)))

  test("a CoW delete over files recording 0 NaNs runs no NaN job and " +
      "records 0") {
    val (t0, _) = freshTable("nanzero", PartitionSpec.unpartitioned)
    val proven = TableOps.append(t0, rows(1 to 20, None))
    assert(nanCounts(proven) == Seq(Map(3 -> 0L)))
    // the same file registered by addFiles, which counts at import
    val (u0, _) = freshTable("nanunknown", PartitionSpec.unpartitioned)
    val unproven = TableOps.addFiles(u0, spark,
      Scan(proven, spark).planFiles().map(_.file.filePath))
    assert(nanCounts(unproven) == Seq(Map(3 -> 0L)))

    val (afterProven, provenJobs) = cowJobs(proven)
    val (afterUnproven, unprovenJobs) = cowJobs(unproven)
    // the write is each rewrite's only job: it counts NaNs inline
    assert(provenJobs == 1 && unprovenJobs == provenJobs,
      s"proven $provenJobs jobs, unproven $unprovenJobs")
    assert(nanCounts(afterProven) == Seq(Map(3 -> 0L)))
    assert(nanCounts(afterUnproven) == Seq(Map(3 -> 0L)))
    assert(ids(afterProven) == (1 to 20).map(_.toLong).toSet - 2L)
  }

  test("a double column added after the candidate was written is " +
      "counted by the rewrite's write alone") {
    val (t0, _) = freshTable("nanadded", PartitionSpec.unpartitioned)
    val base = TableOps.append(t0, rows(1 to 20, None))
    val (b0, _) = freshTable("nanbase", PartitionSpec.unpartitioned)
    val (_, baseJobs) = cowJobs(TableOps.append(b0, rows(1 to 20, None)))
    val evolved = base.updateSchema().addColumn("w", DoubleType).commit()
    val wId = evolved.schema.fieldByName("w").get.id
    val (after, jobs) = cowJobs(evolved)
    assert(baseJobs == 1 && jobs == baseJobs,
      s"evolved $jobs jobs, base $baseJobs")
    assert(nanCounts(after) == Seq(Map(3 -> 0L, wId -> 0L)))
  }

  test("update never skips the NaN pass") {
    val (t0, _) = freshTable("nanupd", PartitionSpec.unpartitioned)
    var t = TableOps.append(t0, rows(1 to 20, None, v = _.toDouble))
    assert(nanCounts(t) == Seq(Map(3 -> 0L)))
    t = Mutations.update(t, spark, Col("id").eqTo(7L), Map("v" -> Double.NaN))
    assert(nanCounts(t) == Seq(Map(3 -> 1L)))
    assert(Scan(t, spark).filter(Col("v").gt(100.0)).toDF.count() == 1)
  }
}
