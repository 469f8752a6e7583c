package graft.table

import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkTestSession
import graft.catalog._
import graft.io.HadoopFileIO
import graft.spec._

/** Mutation-semantics goldens (SURVEY §5.2 item 4). */
class MutationSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private def freshTable(name: String): Table = {
    val dir = Files.createTempDirectory("graft-mut-").toString
    val cat = new LocalCatalog(dir)
    cat.createNamespace(Seq("db"))
    Table.create(cat, TableIdentifier(Seq("db"), name),
      Fixtures4.usersSchema, io = new HadoopFileIO())
  }

  private def usersDf(ids: Range): DataFrame = {
    import spark.implicits._
    ids.map(i => (i.toLong, s"user_$i",
      if (i % 2 == 1) null else s"u$i@x.com",
      new java.sql.Timestamp(1704067200000L + i * 1000L)))
      .toDF("id", "name", "email", "created_at")
  }

  private def ids(t: Table): Set[Long] =
    Scan(t, spark).toDF.select("id").collect().map(_.getLong(0)).toSet

  test("CoW delete removes matching rows, rewrites only candidates") {
    var t = freshTable("cow")
    t = TableOps.append(t, usersDf(1 to 10).coalesce(1))
    t = TableOps.append(t, usersDf(11 to 20).coalesce(1))
    val before = Scan(t, spark).planFiles().map(_.file.filePath).toSet
    t = t.newDelete(spark).where(Col("id").between(15L, 17L)).execute()
    assert(ids(t) == ((1 to 14) ++ (18 to 20)).map(_.toLong).toSet)
    val after = Scan(t, spark).planFiles().map(_.file.filePath).toSet
    // file 1 (ids 1-10) pruned out of the rewrite → untouched
    assert(after.intersect(before).size == 1,
      s"non-candidate file must survive: before=$before after=$after")
    assert(t.currentSnapshot.get.summary.get.operation == Operation.Delete)
  }

  test("CoW delete rewrites each candidate in place: at most one file " +
      "per candidate, an older-spec file moved into its current-spec " +
      "partition") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-mut-inplace-").toString
    val cat = new LocalCatalog(dir)
    cat.createNamespace(Seq("db"))
    var t = Table.create(cat, TableIdentifier(Seq("db"), "inplace"),
      Schema(0, Seq(NestedField(1, "id", LongType, required = true),
        NestedField(2, "cat", StringType, required = false),
        NestedField(3, "v", LongType, required = false))),
      io = new HadoopFileIO())
    def rows(ids: Range, v: Int => Int) = ids
      .map(i => (i.toLong, "a", v(i).toLong)).toDF("id", "cat", "v")
      .coalesce(1)
    // one file under the unpartitioned spec, then three in cat=a; the
    // last holds only rows the delete removes
    t = TableOps.append(t, rows(0 until 10, _ % 10))
    t = t.newTransaction().addPartitionSpec(
      PartitionSpec.builder(1).identity(2, "cat").build()).commit()
    t = TableOps.append(t, rows(10 until 20, _ % 10))
    t = TableOps.append(t, rows(20 until 30, _ % 10))
    t = TableOps.append(t, rows(30 until 40, _ % 5))
    val candidates = Scan(t, spark).filter(Col("v").lt(5L)).planFiles()
    assert(candidates.size == 4 &&
      candidates.map(_.specId).sorted == Seq(0, 1, 1, 1))

    t = Mutations.deleteCoW(t, spark, Col("v").lt(5L))
    assert(ids(t) == (0 until 30).filter(_ % 10 >= 5).map(_.toLong).toSet)
    val added = t.currentSnapshot.get.summary.get
      .counter(Summary.AddedDataFiles)
    assert(added >= 1 && added <= 3,
      s"$added files written for 4 candidates, one of them emptied")
    val live = Scan(t, spark).planFiles()
    assert(live.size == added)
    live.foreach { task =>
      assert(task.specId == 1 && task.file.partition == Map("cat" -> "a"),
        s"${task.file.filePath}: spec ${task.specId} ${task.file.partition}")
      assert(spark.read.parquet(task.file.filePath).select("cat").distinct()
        .collect().map(_.getString(0)).toSeq == Seq("a"))
    }
  }

  test("CoW delete with NULL predicate keeps NULL rows (3VL)") {
    var t = freshTable("cow3vl")
    t = TableOps.append(t, usersDf(1 to 10))
    // email == 'u2@x.com' is NULL for odd rows: they must SURVIVE
    t = t.newDelete(spark).where(Col("email").eqTo("u2@x.com")).execute()
    assert(ids(t) == (1 to 10).filter(_ != 2).map(_.toLong).toSet)
  }

  test("MoR delete leaves data files untouched, scan applies deletes") {
    var t = freshTable("mor")
    t = TableOps.append(t, usersDf(1 to 10).coalesce(1))
    val dataFiles = Scan(t, spark).planFiles().map(_.file.filePath).toSet
    t = t.newDelete(spark).where(Col("id").lte(3L))
      .withMergeOnRead(true).execute()
    assert(Scan(t, spark).planFiles().map(_.file.filePath).toSet == dataFiles,
      "MoR must not rewrite data files")
    assert(ids(t) == (4 to 10).map(_.toLong).toSet)
    assert(Scan(t, spark).count() == 7)
  }

  test("MoR delete on a renamed column matches by field id") {
    var t = freshTable("morrename")
    t = TableOps.append(t, usersDf(1 to 5).coalesce(1))
    t = t.updateSchema().renameColumn("name", "username").commit()
    val before = t.currentSnapshot.get.snapshotId
    t = Mutations.deleteMoR(t, spark, Col("username").eqTo("user_3"))
    assert(t.currentSnapshot.get.snapshotId != before,
      "the delete must commit a snapshot")
    assert(ids(t) == Set(1L, 2L, 4L, 5L))
    assert(!Scan(t, spark).toDF.select("username").collect()
      .map(_.getString(0)).contains("user_3"))
  }

  test("update rewrites matching rows only") {
    var t = freshTable("upd")
    t = TableOps.append(t, usersDf(1 to 10))
    t = t.newUpdate(spark).where(Col("id").gt(8L))
      .set("name", "RENAMED").execute()
    val rows = Scan(t, spark).toDF.select("id", "name")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(rows(9L) == "RENAMED" && rows(10L) == "RENAMED")
    assert(rows(1L) == "user_1")
    assert(ids(t).size == 10)
  }

  test("upsert: matched replaced, unmatched appended (J1 semantics)") {
    var t = freshTable("ups")
    t = TableOps.append(t, usersDf(1 to 10))
    import spark.implicits._
    val incoming = Seq(
      (5L, "user_5_v2", "new5@x.com",
        new java.sql.Timestamp(1704067200000L)),
      (99L, "user_99", null.asInstanceOf[String],
        new java.sql.Timestamp(1704067200000L)))
      .toDF("id", "name", "email", "created_at")
    t = t.newUpsert(spark).withData(incoming).withKeyColumns("id").execute()
    val rows = Scan(t, spark).toDF.select("id", "name")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(rows.size == 11)
    assert(rows(5L) == "user_5_v2")
    assert(rows(99L) == "user_99")
    assert(rows(4L) == "user_4")
  }

  test("multi-column-key upsert prunes candidates by key bounds") {
    var t = freshTable("upsmk")
    t = TableOps.append(t, usersDf(1 to 10).coalesce(1))
    t = TableOps.append(t, usersDf(11 to 20).coalesce(1))
    val before = Scan(t, spark).planFiles().map(_.file.filePath).toSet
    import spark.implicits._
    val incoming = Seq(
      (15L, "user_15", "v2-15@x.com", new java.sql.Timestamp(1704067200000L)),
      (17L, "user_17", "v2-17@x.com", new java.sql.Timestamp(1704067200000L)))
      .toDF("id", "name", "email", "created_at")
    // two key columns → the In() fast path can't apply; bounds pruning
    // (id in [15,17] x name in [user_15,user_17]) must keep file 1 out
    t = t.newUpsert(spark).withData(incoming)
      .withKeyColumns("id", "name").execute()
    val after = Scan(t, spark).planFiles().map(_.file.filePath).toSet
    assert(after.intersect(before).size == 1,
      s"file with ids 1-10 is outside the incoming key bounds and must " +
        s"survive untouched: before=$before after=$after")
    val rows = Scan(t, spark).toDF.select("id", "email")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(rows.size == 20)
    assert(rows(15L) == "v2-15@x.com" && rows(17L) == "v2-17@x.com")
    assert(rows(16L) == "u16@x.com", "unmatched row in candidate file survives")
  }

  test("concurrent CoW deletes: second re-plans, both land, no resurrection") {
    var t0 = freshTable("race-cowcow")
    t0 = TableOps.append(t0, usersDf(1 to 10).coalesce(1))
    // two deletes planned against the SAME stale handle; A commits
    // first, so B's candidate file is gone when B's commit rebases
    val tA = Mutations.deleteCoW(t0, spark, Col("id").lte(3L))
    assert(ids(tA) == (4 to 10).map(_.toLong).toSet)
    val tB = Mutations.deleteCoW(t0, spark, Col("id").gte(8L))
    assert(ids(tB) == (4 to 7).map(_.toLong).toSet,
      s"both deletes must apply — stale-survivor recommit would " +
        s"resurrect ids 1-3: ${ids(tB)}")
  }

  test("concurrent CoW delete + append: both land, no lost rows") {
    var t0 = freshTable("race-cowapp")
    t0 = TableOps.append(t0, usersDf(1 to 10).coalesce(1))
    val tA = TableOps.append(t0, usersDf(11 to 20).coalesce(1))
    assert(ids(tA) == (1 to 20).map(_.toLong).toSet)
    // delete planned against the pre-append handle: its candidate is
    // still live, so the rebase is clean and both commits land
    val tB = Mutations.deleteCoW(t0, spark, Col("id").lte(3L))
    assert(ids(tB) == (4 to 20).map(_.toLong).toSet,
      s"appended rows must survive the rebased delete: ${ids(tB)}")
  }

  test("concurrent CoW rewrite + MoR delete: MoR re-plans onto live files") {
    var t0 = freshTable("race-cowmor")
    t0 = TableOps.append(t0, usersDf(1 to 10).coalesce(1))
    val tA = Mutations.deleteCoW(t0, spark, Col("id").eqTo(1L))
    assert(ids(tA) == (2 to 10).map(_.toLong).toSet)
    // MoR delete planned against the stale handle: its position deletes
    // reference the file tA just rewrote — must re-plan, not no-op
    val tB = Mutations.deleteMoR(t0, spark, Col("id").gte(9L))
    assert(ids(tB) == (2 to 8).map(_.toLong).toSet,
      s"MoR delete against a rewritten file must re-plan: ${ids(tB)}")
  }

  test("threaded concurrent mutations converge with no lost updates") {
    var t0 = freshTable("race-threads")
    t0 = TableOps.append(t0, usersDf(1 to 40).coalesce(1))
    import scala.concurrent._
    import scala.concurrent.duration._
    implicit val ec: ExecutionContext = ExecutionContext.global
    // predicates are disjoint from the appended ids: a re-planned delete
    // legitimately sees concurrently appended rows (snapshot isolation),
    // so an overlapping predicate would make the final state depend on
    // commit order
    val ops: Seq[() => Table] = Seq(
      () => Mutations.deleteCoW(t0, spark, Col("id").lte(5L)),
      () => Mutations.deleteCoW(t0, spark, Col("id").between(36L, 40L)),
      () => TableOps.append(t0, usersDf(41 to 45).coalesce(1)))
    Await.result(Future.sequence(ops.map(op => Future(op()))), 120.seconds)
    val finalIds = ids(t0.refresh())
    assert(finalIds == ((6 to 35) ++ (41 to 45)).map(_.toLong).toSet,
      s"all three concurrent commits must land exactly once: $finalIds")
  }

  test("CoW rewrite must not resurrect MoR-deleted rows") {
    var t = freshTable("morcow")
    t = TableOps.append(t, usersDf(1 to 10).coalesce(1))
    // MoR delete ids 1-3 (positions recorded, file untouched)
    t = t.newDelete(spark).where(Col("id").lte(3L))
      .withMergeOnRead(true).execute()
    assert(ids(t) == (4 to 10).map(_.toLong).toSet)
    // CoW delete id 10 rewrites the candidate file: the rewrite reads
    // through the MoR-applying path, so ids 1-3 must STAY deleted
    t = t.newDelete(spark).where(Col("id").eqTo(10L)).execute()
    assert(ids(t) == (4 to 9).map(_.toLong).toSet,
      s"MoR-deleted rows resurrected: ${ids(t)}")
    // same invariant through update
    t = t.newUpdate(spark).where(Col("id").eqTo(4L))
      .set("name", "four_v2").execute()
    assert(ids(t) == (4 to 9).map(_.toLong).toSet)
  }

  test("upsert defaults to schema identifier fields when no keys given") {
    val dir = Files.createTempDirectory("graft-idf-").toString
    val cat = new LocalCatalog(dir)
    cat.createNamespace(Seq("db"))
    val schema = Fixtures4.usersSchema.copy(identifierFieldIds = Seq(1))
    var t = Table.create(cat, TableIdentifier(Seq("db"), "idf"), schema,
      io = new HadoopFileIO())
    t = TableOps.append(t, usersDf(1 to 5))
    import spark.implicits._
    val incoming = Seq((3L, "three_v2", "x", new java.sql.Timestamp(0L)))
      .toDF("id", "name", "email", "created_at")
    t = t.newUpsert(spark).withData(incoming).execute() // no keys passed
    val rows = Scan(t, spark).toDF.select("id", "name")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(rows.size == 5)
    assert(rows(3L) == "three_v2")
  }

  test("full overwrite replaces table content") {
    var t = freshTable("ovw")
    t = TableOps.append(t, usersDf(1 to 10))
    t = t.newInsert(spark).withData(usersDf(100 to 102))
      .withOverwrite(true).execute()
    assert(ids(t) == Set(100L, 101L, 102L))
    assert(t.currentSnapshot.get.summary.get.operation == Operation.Overwrite)
    // time travel still sees the old content
    val prev = t.metadata.snapshots.head
    assert(Scan(t, spark).useSnapshot(prev.snapshotId).toDF.count() == 10)
  }

  test("BulkWriter batches commits at maxPendingFiles") {
    var t = freshTable("bulk")
    val bw = t.newBulkWriter(spark, maxPendingFiles = 2)
    bw.write(usersDf(1 to 3).coalesce(1))
    assert(bw.pendingCount == 1, "below threshold: no commit yet")
    bw.write(usersDf(4 to 6).coalesce(1)) // hits threshold -> auto-commit
    assert(bw.pendingCount == 0)
    bw.write(usersDf(7 to 9).coalesce(1))
    t = bw.commit()
    assert(ids(t) == (1 to 9).map(_.toLong).toSet)
    assert(t.metadata.snapshots.size == 2, "2 snapshots: auto + final")
  }

  test("snapshot expiry removes old snapshots (M8 surface)") {
    var t = freshTable("expire")
    t = TableOps.append(t, usersDf(1 to 5))
    val old = t.currentSnapshot.get.snapshotId
    t = TableOps.append(t, usersDf(6 to 10))
    t = t.newTransaction().removeSnapshots(Seq(old)).commit()
    assert(t.metadata.snapshots.map(_.snapshotId) ==
      Seq(t.currentSnapshot.get.snapshotId))
    assert(ids(t).size == 10)
  }
}
