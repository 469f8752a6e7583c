package graft.sources

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.connector.catalog.{
  Identifier, Table => ConnectorTable}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.{CountingFileIO, SparkJobs, SparkTestSession}
import graft.catalog.{CommitConflictException, LocalCatalog, TableIdentifier,
  TableRequirement, TableUpdate}
import graft.io.HadoopFileIO
import graft.spec.{SchemaConverters, TableMetadata}
import graft.table.{Col, Mutations, Scan, Table}

/** SQL `UPDATE` / `MERGE INTO` / row-level `DELETE` over the catalog —
  * group-based copy-on-write with runtime group filtering. */
class RowLevelSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private def withCatalog(tag: String)(f: (String, String) => Unit): Unit = {
    val dir = Files.createTempDirectory(s"graft-rl-$tag-").toString
    val name = s"grl$tag"
    spark.conf.set(s"spark.sql.catalog.$name",
      classOf[GraftSparkCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$name.warehouse", dir)
    f(name, dir)
  }

  private def loadT(dir: String, tbl: String): Table =
    Table.load(new LocalCatalog(dir), TableIdentifier(Seq("db"), tbl),
      new HadoopFileIO())

  test("SQL UPDATE rewrites matched rows, keeps history") {
    withCatalog("upd") { (c, dir) =>
      spark.sql(s"CREATE NAMESPACE $c.db")
      spark.sql(s"CREATE TABLE $c.db.t (id BIGINT, v DOUBLE, s STRING)")
      spark.sql(s"INSERT INTO $c.db.t VALUES " +
        "(1, 1.0, 'a'), (2, 2.0, 'b'), (3, 3.0, 'c')")
      spark.sql(s"UPDATE $c.db.t SET v = v * 10, s = 'x' WHERE id >= 2")

      val got = spark.sql(s"SELECT id, v, s FROM $c.db.t ORDER BY id")
        .collect().map(r => (r.getLong(0), r.getDouble(1), r.getString(2)))
      assert(got.toSeq == Seq((1L, 1.0, "a"), (2L, 20.0, "x"),
        (3L, 30.0, "x")))

      // one overwrite snapshot on top of the insert; time travel intact
      val t = loadT(dir, "t")
      assert(t.metadata.snapshots.size == 2)
      val first = t.metadata.snapshots.minBy(_.sequenceNumber)
      assert(Scan(t, spark).useSnapshot(first.snapshotId).toDF
        .where("id = 2").collect().head.getDouble(1) == 2.0,
        "pre-update snapshot still readable")
    }
  }

  test("runtime group filtering rewrites only matched files") {
    withCatalog("grp") { (c, dir) =>
      spark.sql(s"CREATE NAMESPACE $c.db")
      spark.sql(s"CREATE TABLE $c.db.t (id BIGINT, v DOUBLE)")
      // three separate inserts = three data files with disjoint ids
      spark.sql(s"INSERT INTO $c.db.t VALUES (1, 1.0), (2, 2.0)")
      spark.sql(s"INSERT INTO $c.db.t VALUES (10, 10.0), (11, 11.0)")
      spark.sql(s"INSERT INTO $c.db.t VALUES (20, 20.0), (21, 21.0)")
      val before = spark.sql(s"SELECT file_path FROM $c.db.t.files")
        .collect().map(_.getString(0)).toSet
      assert(before.size >= 3, s"multiple files expected, got $before")

      spark.sql(s"UPDATE $c.db.t SET v = -1.0 WHERE id = 10")

      val after = spark.sql(s"SELECT file_path FROM $c.db.t.files")
        .collect().map(_.getString(0)).toSet
      // the two untouched files survive byte-identical; only the file
      // containing id=10 was replaced
      assert((before -- after).size == 1,
        s"exactly one file replaced, got removed=${before -- after}")
      assert((after -- before).size == 1)
      val got = spark.sql(s"SELECT v FROM $c.db.t WHERE id = 10")
        .collect().head.getDouble(0)
      assert(got == -1.0)
      assert(spark.sql(s"SELECT count(*) FROM $c.db.t").collect()
        .head.getLong(0) == 6)
    }
  }

  test("MERGE INTO: update matched, insert not-matched, delete clause") {
    withCatalog("mrg") { (c, dir) =>
      spark.sql(s"CREATE NAMESPACE $c.db")
      spark.sql(s"CREATE TABLE $c.db.t (id BIGINT, v DOUBLE)")
      spark.sql(s"INSERT INTO $c.db.t VALUES (1, 1.0), (2, 2.0), (3, 3.0)")
      spark.sql(
        s"""MERGE INTO $c.db.t AS t
           |USING (SELECT * FROM VALUES (2L, 200.0), (3L, -1.0), (4L, 4.0)
           |       AS src(id, v)) AS s
           |ON t.id = s.id
           |WHEN MATCHED AND s.v < 0 THEN DELETE
           |WHEN MATCHED THEN UPDATE SET v = s.v
           |WHEN NOT MATCHED THEN INSERT (id, v) VALUES (s.id, s.v)
           |""".stripMargin)
      val got = spark.sql(s"SELECT id, v FROM $c.db.t ORDER BY id")
        .collect().map(r => (r.getLong(0), r.getDouble(1)))
      assert(got.toSeq == Seq((1L, 1.0), (2L, 200.0), (4L, 4.0)),
        s"merge semantics, got ${got.toSeq}")
    }
  }

  test("row-level DELETE (non-convertible predicate): no resurrection") {
    withCatalog("del") { (c, dir) =>
      spark.sql(s"CREATE NAMESPACE $c.db")
      spark.sql(s"CREATE TABLE $c.db.t (id BIGINT, v DOUBLE)")
      // file 1: ALL rows match the delete; file 2: none match
      spark.sql(s"INSERT INTO $c.db.t VALUES (1, 100.0), (2, 100.0)")
      spark.sql(s"INSERT INTO $c.db.t VALUES (3, 1.0), (4, 1.0)")
      // v * 2 is not an exact-convertible filter -> row-level COW path
      spark.sql(s"DELETE FROM $c.db.t WHERE v * 2 > 100.0")
      val got = spark.sql(s"SELECT id FROM $c.db.t ORDER BY id")
        .collect().map(_.getLong(0))
      assert(got.toSeq == Seq(3L, 4L),
        s"all-matched file fully removed, got ${got.toSeq}")
    }
  }

  test("UPDATE on a partitioned table preserves partition tuples") {
    withCatalog("part") { (c, dir) =>
      spark.sql(s"CREATE NAMESPACE $c.db")
      spark.sql(s"CREATE TABLE $c.db.t (id BIGINT, cat STRING, v DOUBLE) " +
        "PARTITIONED BY (cat)")
      spark.sql(s"INSERT INTO $c.db.t VALUES " +
        "(1, 'a', 1.0), (2, 'a', 2.0), (3, 'b', 3.0), (4, 'b', 4.0)")
      spark.sql(s"UPDATE $c.db.t SET v = v + 0.5 WHERE id IN (2, 3)")

      val got = spark.sql(s"SELECT id, v FROM $c.db.t ORDER BY id")
        .collect().map(r => (r.getLong(0), r.getDouble(1)))
      assert(got.toSeq == Seq((1L, 1.0), (2L, 2.5), (3L, 3.5), (4L, 4.0)))

      // every data file carries its partition tuple in metadata
      val parts = spark.sql(
        s"SELECT partition, record_count FROM $c.db.t.files").collect()
        .map(r => r.getMap[String, String](0).get("cat").get -> r.getLong(1))
      assert(parts.map(_._2).sum == 4)
      assert(parts.map(_._1).toSet == Set("a", "b"),
        s"partition tuples preserved, got ${parts.toSeq}")

      // partition pruning still effective after the rewrite
      val t = loadT(dir, "t")
      val tasks = Scan(t, spark).filter(Col("cat").eqTo("a")).planFiles()
      assert(tasks.forall(_.file.partition.get("cat").contains("a")),
        "post-update files prune by partition")
    }
  }

  test("UPDATE over a MoR-deleted table keeps deletes applied") {
    withCatalog("mor") { (c, dir) =>
      spark.sql(s"CREATE NAMESPACE $c.db")
      spark.sql(s"CREATE TABLE $c.db.t (id BIGINT, v DOUBLE)")
      spark.sql(s"INSERT INTO $c.db.t VALUES " +
        "(1, 1.0), (2, 2.0), (3, 3.0), (4, 4.0)")
      val t = loadT(dir, "t")
      Mutations.deleteMoR(t, spark, Col("id").eqTo(2L))

      spark.sql(s"UPDATE $c.db.t SET v = 99.0 WHERE id >= 3")
      val got = spark.sql(s"SELECT id, v FROM $c.db.t ORDER BY id")
        .collect().map(r => (r.getLong(0), r.getDouble(1)))
      assert(got.toSeq == Seq((1L, 1.0), (3L, 99.0), (4L, 99.0)),
        s"MoR delete not resurrected by the rewrite, got ${got.toSeq}")
    }
  }

  test("UPDATE is rejected on a time-travel pinned table") {
    withCatalog("pin") { (c, dir) =>
      spark.sql(s"CREATE NAMESPACE $c.db")
      spark.sql(s"CREATE TABLE $c.db.t (id BIGINT, v DOUBLE)")
      spark.sql(s"INSERT INTO $c.db.t VALUES (1, 1.0)")
      val sid = loadT(dir, "t").currentSnapshot.get.snapshotId
      val e = intercept[Exception] {
        spark.sql(s"UPDATE $c.db.t VERSION AS OF $sid SET v = 2.0")
      }
      assert(e.getMessage.toLowerCase.contains("time-travel") ||
        e.getMessage.toLowerCase.contains("version"),
        s"got: ${e.getMessage}")
    }
  }

  test("SQL DELETE on a partitioned table rewrites without an exchange: " +
      "one Spark job fewer than a same-shaped UPDATE, rows exact") {
    withCatalog("delx") { (c, dir) =>
      spark.sql(s"CREATE NAMESPACE $c.db")
      spark.sql(s"CREATE TABLE $c.db.t (id BIGINT, part INT, v DOUBLE) " +
        "PARTITIONED BY (part)")
      for (p <- 0 until 3)
        spark.sql(s"INSERT INTO $c.db.t VALUES " +
          (1 to 10).map(i => s"(${p * 10 + i}, $p, 0.0)").mkString(", "))
      // `id % 3` has no exact filter form: both take the row-level CoW
      // path, and each rewrites all three files
      val (_, updateJobs) = SparkJobs.count(spark)(
        spark.sql(s"UPDATE $c.db.t SET v = v + 1 WHERE id % 3 = 0"))
      val (_, deleteJobs) = SparkJobs.count(spark)(
        spark.sql(s"DELETE FROM $c.db.t WHERE id % 3 = 1"))
      assert(deleteJobs == updateJobs - 1,
        s"DELETE ran $deleteJobs jobs, UPDATE $updateJobs")
      val got = spark.sql(s"SELECT id, part, v FROM $c.db.t").collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getDouble(2))).toSet
      assert(got == (1L to 30L).filter(_ % 3 != 1).map(id =>
        (id, ((id - 1) / 10).toInt, if (id % 3 == 0) 1.0 else 0.0)).toSet)
      assert(Scan(loadT(dir, "t"), spark).planFiles().size == 3)
    }
  }

  /** N identity partitions of 10 rows each, one insert (one manifest)
    * per partition, in a [[ScopedCommitCatalog]]. */
  private def withPartitioned(tag: String, n: Int)(
      f: (String, String) => Unit): Unit = {
    val dir = Files.createTempDirectory(s"graft-rl-$tag-").toString
    val c = s"grl$tag"
    spark.conf.set(s"spark.sql.catalog.$c",
      classOf[ScopedCommitCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$c.warehouse", dir)
    spark.sql(s"CREATE NAMESPACE $c.db")
    spark.sql(s"CREATE TABLE $c.db.t (id BIGINT, part INT) " +
      "PARTITIONED BY (part)")
    for (p <- 0 until n)
      spark.sql(s"INSERT INTO $c.db.t VALUES " +
        (1 to 10).map(i => s"(${p * 10 + i}, $p)").mkString(", "))
    f(c, dir)
  }

  private def ids(dir: String): Set[Long] =
    Scan(loadT(dir, "t"), spark).toDF.select("id").collect()
      .map(_.getLong(0)).toSet

  test("SQL row-level DELETE on one of N partitions decodes only the " +
      "manifests that can hold its files") {
    val n = 6
    withPartitioned("scope", n) { (c, dir) =>
      // `id % 2` has no exact filter form: the row-level CoW path
      val (_, _, manifests) = ScopedCommitCatalog.io.counting(
        spark.sql(s"DELETE FROM $c.db.t WHERE part = 3 AND id % 2 = 0"))
      // planning reads the one part-3 manifest (scan and group-filter
      // subquery); an unscoped commit alone would decode all n
      assert(manifests < n, s"$manifests manifest reads")
      assert(ids(dir) == (1L to 60L).toSet -- Set(32L, 34L, 36L, 38L, 40L))
    }
  }

  test("SQL row-level DELETE: a concurrent rewrite of a candidate still " +
      "conflicts under the scoped rebase check") {
    withPartitioned("conflict", 4) { (c, dir) =>
      ScopedCommitCatalog.beforeCommit.set(() =>
        Mutations.deleteCoW(loadT(dir, "t"), spark, Col("id").eqTo(31L)))
      val e = intercept[Exception](
        spark.sql(s"DELETE FROM $c.db.t WHERE part = 3 AND id % 2 = 0"))
      assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .exists(_.isInstanceOf[CommitConflictException]), e.toString)
      assert(ids(dir) == (1L to 40L).toSet - 31L,
        "the concurrent delete lands, the stale rewrite does not")
    }
  }
}

/** A [[GraftSparkCatalog]] whose tables read metadata through the
  * counting [[ScopedCommitCatalog.io]] and commit through a catalog that
  * first runs [[ScopedCommitCatalog.beforeCommit]], once, when set. */
class ScopedCommitCatalog extends GraftSparkCatalog {
  override def initialize(name: String,
      options: CaseInsensitiveStringMap): Unit = {
    super.initialize(name, options)
    catalog = new LocalCatalog(options.get("warehouse")) {
      override def commitTable(id: TableIdentifier,
          requirements: Seq[TableRequirement],
          updates: Seq[TableUpdate]): TableMetadata = {
        Option(ScopedCommitCatalog.beforeCommit.getAndSet(null))
          .foreach(_())
        super.commitTable(id, requirements, updates)
      }
    }
  }

  override def loadTable(ident: Identifier): ConnectorTable = {
    val t = Table.load(catalog,
      TableIdentifier(ident.namespace.toSeq, ident.name),
      ScopedCommitCatalog.io)
    new GraftConnectorTable(t, SchemaConverters.toSparkSchema(t.schema))
  }
}

object ScopedCommitCatalog {
  val io = new CountingFileIO()
  val beforeCommit =
    new java.util.concurrent.atomic.AtomicReference[() => Unit]()
}
