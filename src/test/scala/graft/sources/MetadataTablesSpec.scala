package graft.sources

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession
import graft.catalog.{LocalCatalog, TableIdentifier}
import graft.io.HadoopFileIO
import graft.table.{Col, Mutations, Table, TableOps}
import graft.spec._

/** `SELECT * FROM graft.ns.tbl.{snapshots,history,refs,manifests,files}`. */
class MetadataTablesSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private def withCatalog(tag: String)(f: (String, String) => Unit): Unit = {
    val dir = Files.createTempDirectory(s"graft-meta-$tag-").toString
    val name = s"gm$tag"
    spark.conf.set(s"spark.sql.catalog.$name",
      classOf[GraftSparkCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$name.warehouse", dir)
    f(name, dir)
  }

  private def loadT(dir: String, tbl: String): Table =
    Table.load(new LocalCatalog(dir), TableIdentifier(Seq("db"), tbl),
      new HadoopFileIO())

  private def seed(c: String): Unit = {
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $c.db")
    spark.sql(s"CREATE TABLE $c.db.t (id BIGINT, v DOUBLE)")
    spark.sql(s"INSERT INTO $c.db.t VALUES (1, 1.0), (2, 2.0)")
    spark.sql(s"INSERT INTO $c.db.t VALUES (3, 3.0)")
  }

  test("snapshots table lists commits with operation and summary") {
    withCatalog("snap") { (c, dir) =>
      seed(c)
      val rows = spark.sql(
        s"SELECT snapshot_id, parent_id, operation, summary " +
          s"FROM $c.db.t.snapshots ORDER BY committed_at").collect()
      assert(rows.length == 2)
      assert(rows.forall(_.getString(2) == "append"))
      assert(rows(0).isNullAt(1), "first snapshot has no parent")
      assert(rows(1).getLong(1) == rows(0).getLong(0),
        "second snapshot's parent is the first")
      val summary = rows(1).getMap[String, String](3)
      assert(summary("added-data-files").toInt >= 1)
      // parity with the engine's metadata
      val t = loadT(dir, "t")
      assert(rows.map(_.getLong(0)).toSet ==
        t.metadata.snapshots.map(_.snapshotId).toSet)
    }
  }

  test("history and refs tables") {
    withCatalog("hist") { (c, dir) =>
      seed(c)
      val t0 = loadT(dir, "t")
      t0.newTransaction()
        .setRef("v1", t0.currentSnapshot.get.snapshotId, refType = "tag")
        .commit()

      val hist = spark.sql(s"SELECT snapshot_id, is_current_ancestor " +
        s"FROM $c.db.t.history ORDER BY made_current_at").collect()
      assert(hist.length == 2 && hist.forall(_.getBoolean(1)),
        "both snapshots are current ancestors")

      val refs = spark.sql(s"SELECT name, type, snapshot_id " +
        s"FROM $c.db.t.refs ORDER BY name").collect()
        .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
      val cur = loadT(dir, "t").currentSnapshot.get.snapshotId
      assert(refs.toSeq == Seq(("main", "branch", cur),
        ("v1", "tag", cur)))
    }
  }

  test("manifests and files tables, MoR delete files included") {
    withCatalog("files") { (c, dir) =>
      seed(c)
      // a MoR position delete adds a delete manifest + delete file
      val t = loadT(dir, "t")
      Mutations.deleteMoR(t, spark, Col("id").eqTo(2L))

      val manifests = spark.sql(s"SELECT content, added_data_files_count " +
        s"FROM $c.db.t.manifests").collect()
      assert(manifests.map(_.getInt(0)).toSet == Set(0, 1),
        "data and delete manifests both listed")

      val files = spark.sql(s"SELECT content, file_path, record_count " +
        s"FROM $c.db.t.files").collect()
      val dataFiles = files.filter(_.getInt(0) == 0)
      val posDeletes = files.filter(_.getInt(0) == 1)
      assert(dataFiles.length >= 2 && posDeletes.length == 1,
        s"expected data + one position-delete file, got " +
          files.map(_.getInt(0)).mkString(","))
      assert(files.forall(_.getString(1).endsWith(".parquet")))
      // record counts line up with the engine's manifests
      assert(dataFiles.map(_.getLong(2)).sum == 3L)

      // aggregation over the files table (the 1M-file usage shape)
      val total = spark.sql(s"SELECT sum(file_size_in_bytes) " +
        s"FROM $c.db.t.files WHERE content = 0").collect()(0).getLong(0)
      assert(total > 0L)
    }
  }

  test("entries table shows every manifest entry with its status") {
    withCatalog("ent") { (c, dir) =>
      seed(c)
      // one commit of two files (one per range partition) ...
      spark.range(4, 6).repartitionByRange(2,
          org.apache.spark.sql.functions.col("id"))
        .selectExpr("id", "CAST(id AS DOUBLE) AS v")
        .createOrReplaceTempView("ent_two_files")
      spark.sql(s"INSERT INTO $c.db.t SELECT * FROM ent_two_files")
      // ... then a CoW delete rewrites one file and carries the other
      // forward: the new manifests hold the rewrite as Added and the
      // untouched file as Existing — `entries` surfaces BOTH statuses,
      // `files` flattens them into the live view
      spark.sql(s"DELETE FROM $c.db.t WHERE id = 4")
      val byStatus = spark.sql(
        s"SELECT status, count(*) FROM $c.db.t.entries GROUP BY status")
        .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
      assert(byStatus.getOrElse(1, 0L) >= 1L,
        s"added entries expected: $byStatus")
      assert(byStatus.getOrElse(0, 0L) >= 1L,
        s"the carried-forward file must surface as Existing: $byStatus")
      val live = spark.sql(s"SELECT file_path FROM $c.db.t.files")
        .collect().map(_.getString(0)).toSet
      val all = spark.sql(s"SELECT file_path FROM $c.db.t.entries")
        .collect().map(_.getString(0)).toSet
      assert(all == live,
        "with no Deleted entries recorded, entries and files agree " +
          "on paths while disagreeing on status detail")
      // snapshot ids recorded per entry
      val snaps = spark.sql(
        s"SELECT DISTINCT snapshot_id FROM $c.db.t.entries").count()
      assert(snaps >= 2L, "entries must carry their committing snapshot")
    }
  }

  test("partitions table aggregates per-partition counts") {
    withCatalog("parts") { (c, dir) =>
      spark.sql(s"CREATE NAMESPACE $c.db")
      spark.sql(s"CREATE TABLE $c.db.p (id BIGINT, cat STRING) " +
        "PARTITIONED BY (cat)")
      spark.sql(s"INSERT INTO $c.db.p VALUES (1,'a'),(2,'a'),(3,'b')")
      spark.sql(s"INSERT INTO $c.db.p VALUES (4,'b'),(5,'c')")
      val rows = spark.sql(
        s"SELECT partition['cat'], record_count, file_count, " +
          s"position_delete_file_count FROM $c.db.p.partitions ORDER BY 1")
        .collect()
        .map(r => (r.getString(0), r.getLong(1), r.getInt(2), r.getInt(3)))
      assert(rows.toSeq == Seq(("a", 2L, 1, 0), ("b", 2L, 2, 0),
        ("c", 1L, 1, 0)), s"got ${rows.toSeq}")

      // a MoR position delete shows up in the partition's delete count;
      // record_count stays the raw manifest-entry count (Iceberg parity)
      val t = loadT(dir, "p")
      t.newDelete(spark).where(Col("id").eqTo(1L))
        .withMergeOnRead(true).execute()
      val a = spark.sql(
        s"SELECT record_count, position_delete_file_count " +
          s"FROM $c.db.p.partitions WHERE partition['cat'] = 'a'")
        .collect().head
      assert(a.getLong(0) == 2L && a.getInt(1) == 1)
    }
  }

  test("a real table named like a metadata table wins resolution") {
    withCatalog("clash") { (c, _) =>
      spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $c.db2.t2")
      spark.sql(s"CREATE TABLE $c.db2.t2.snapshots (x BIGINT)")
      spark.sql(s"INSERT INTO $c.db2.t2.snapshots VALUES (42)")
      val got = spark.sql(s"SELECT x FROM $c.db2.t2.snapshots").collect()
      assert(got.map(_.getLong(0)).toSeq == Seq(42L))
    }
  }

  test("unknown metadata suffix on a real table still errors") {
    withCatalog("err") { (c, _) =>
      seed(c)
      intercept[Exception] {
        spark.sql(s"SELECT * FROM $c.db.t.nonsense").collect()
      }
    }
  }
}
