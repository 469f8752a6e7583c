package graft.sources

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession
import graft.catalog.{LocalCatalog, TableIdentifier}
import graft.io.HadoopFileIO
import graft.spec._
import graft.table._

class GraftSourceSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private val schema = Schema(0, Seq(
    NestedField(1, "event_id", LongType, required = true),
    NestedField(2, "user_id", LongType, required = true),
    NestedField(3, "value", DoubleType, required = true)))

  private def mkTable(name: String): (Table, String, String) = {
    val dir = Files.createTempDirectory(s"graft-src-$name-").toString
    val cat = new LocalCatalog(dir)
    cat.createNamespace(Seq("db"))
    val t = Table.create(cat, TableIdentifier(Seq("db"), name),
      schema, io = new HadoopFileIO())
    (t, dir, name)
  }

  private def batch(ids: Range) = {
    import spark.implicits._
    ids.map(i => (i.toLong, i.toLong % 3, i * 1.0))
      .toDF("event_id", "user_id", "value")
  }

  private def reader(dir: String, name: String) =
    spark.read.format("graft")
      .option("warehouse", dir).option("namespace", "db")
      .option("table", name)

  private def streamReader(dir: String, name: String) =
    spark.readStream.format("graft")
      .option("warehouse", dir).option("namespace", "db")
      .option("table", name)

  // ------------------------------------------------------- batch read

  test("batch read parity with the Scan API") {
    val (t0, dir, name) = mkTable("b1")
    var t = TableOps.append(t0, batch(1 to 50))
    t = TableOps.append(t, batch(51 to 80))

    val viaSource = reader(dir, name).load()
      .select("event_id").collect().map(_.getLong(0)).toSet
    val viaScan = Scan(t, spark).toDF
      .select("event_id").collect().map(_.getLong(0)).toSet
    assert(viaSource == viaScan && viaSource == (1L to 80L).toSet)
  }

  test("batch read prunes columns and accepts pushed filters") {
    val (t0, dir, name) = mkTable("b2")
    TableOps.append(t0, batch(1 to 100))

    val df = reader(dir, name).load()
      .where("event_id > 90").select("event_id")
    assert(df.collect().map(_.getLong(0)).toSet == (91L to 100L).toSet)
    // column pruning reached the scan: only event_id in ReadSchema
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("user_id"), s"pruned column in plan:\n$plan")
  }

  test("batch read applies MoR position deletes per task") {
    val (t0, dir, name) = mkTable("b3")
    var t = TableOps.append(t0, batch(1 to 10))
    t = t.newDelete(spark).where(Col("event_id").in(3L, 7L))
      .withMergeOnRead(true).execute()
    val got = reader(dir, name).load()
      .select("event_id").collect().map(_.getLong(0)).toSet
    assert(got == (1L to 10L).toSet -- Set(3L, 7L),
      s"position deletes applied in the DSv2 reader, got $got")
    // parity with the Scan API
    assert(got == Scan(t, spark).toDF.select("event_id")
      .collect().map(_.getLong(0)).toSet)
  }

  test("batch read applies MoR equality deletes, keys pruned away") {
    val (t0, dir, name) = mkTable("b4")
    import spark.implicits._
    var t = TableOps.append(t0, batch(1 to 10))
    t = Mutations.deleteByKeys(t, spark,
      Seq(2L, 5L).toDF("event_id"))
    // re-insert a deleted key AFTER the delete: newer sequence number,
    // the reader must keep it (per-task attachment enforces the rule)
    t = TableOps.append(t, batch(5 to 5))
    // the projection does NOT include the key column — the reader must
    // decode it anyway, filter, then project back down
    val vals = reader(dir, name).load()
      .select("value").collect().map(_.getDouble(0)).toSet
    val expected = ((1 to 10).toSet - 2).map(_ * 1.0)
    assert(vals == expected,
      s"equality deletes + sequence rule through DSv2, got $vals")
    // and with the key column present, same story
    val ids = reader(dir, name).load()
      .select("event_id").collect().map(_.getLong(0)).toSet
    assert(ids == (1L to 10L).toSet - 2L)
    // streaming from scratch applies the deletes too: the first
    // micro-batch goes through the same delete-aware reader factory
    val q = streamReader(dir, name).load()
      .writeStream.format("memory").queryName("graft_b4")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("graft_b4")
        .select("event_id").collect().map(_.getLong(0)).toSet
      assert(streamed == (1L to 10L).toSet - 2L,
        s"MoR deletes applied in the first micro-batch, got $streamed")
    } finally q.stop()
  }

  test("over-threshold equality deletes take the memory-bounded path") {
    val (t0, dir, name) = mkTable("b4big")
    import spark.implicits._
    var t = TableOps.append(t0, batch(1 to 200))
    // a delete file well over a 1-byte threshold: many keys, most of
    // which hit no data row (the realistic multi-GB shape — global
    // delete files carry keys for MANY data files)
    t = Mutations.deleteByKeys(t, spark,
      ((2L to 5L) ++ (1000L to 1400L)).toDF("event_id"))
    val before = GraftReaderFactory.boundedEqApplications.get()
    val ids = reader(dir, name).option("eq-delete-set-max-bytes", "1")
      .load()
      .select("event_id").collect().map(_.getLong(0)).toSet
    assert(ids == (1L to 200L).toSet -- (2L to 5L),
      "bounded path must apply the same deletes")
    assert(GraftReaderFactory.boundedEqApplications.get() > before,
      "reader must route through the bounded application")
    // default threshold (64 MB): tiny delete files stay on the eager path
    val before2 = GraftReaderFactory.boundedEqApplications.get()
    val ids2 = reader(dir, name).load()
      .select("event_id").collect().map(_.getLong(0)).toSet
    assert(ids2 == ids)
    assert(GraftReaderFactory.boundedEqApplications.get() == before2,
      "under-threshold deletes must keep the eager per-task set")
  }

  test("over-threshold equality deletes stay bounded on " +
      "schema-remapped tasks") {
    val (t0, dir, name) = mkTable("b4remap")
    import spark.implicits._
    var t = TableOps.append(t0, batch(1 to 200))
    // rename the key column AFTER the first file: that file reads
    // through the per-write-schema remap, where the key column lives
    // under its OLD name — the bounded pre-pass must still find it
    t = t.updateSchema().renameColumn("event_id", "eid").commit()
    t = Mutations.deleteByKeys(t, spark,
      ((2L to 5L) ++ (1000L to 1400L)).toDF("eid"))
    val before = GraftReaderFactory.boundedEqApplications.get()
    val ids = reader(dir, name).option("eq-delete-set-max-bytes", "1")
      .load().select("eid").collect().map(_.getLong(0)).toSet
    assert(ids == (1L to 200L).toSet -- (2L to 5L),
      "bounded path on a remapped task must apply the same deletes")
    assert(GraftReaderFactory.boundedEqApplications.get() > before,
      "remapped tasks must route through the bounded application")
    // parity with the eager path (default 64 MB threshold)
    val eager = reader(dir, name).load()
      .select("eid").collect().map(_.getLong(0)).toSet
    assert(eager == ids, "bounded and eager paths must agree")
  }

  test("bounded equality deletes promote int-written keys under a " +
      "long current schema") {
    val dir = Files.createTempDirectory("graft-src-b4promo-").toString
    val cat = new LocalCatalog(dir)
    cat.createNamespace(Seq("db"))
    val s = Schema(0, Seq(
      NestedField(1, "k", IntType, required = true),
      NestedField(2, "v", DoubleType, required = true)))
    var t = Table.create(cat, TableIdentifier(Seq("db"), "b4promo"), s,
      io = new HadoopFileIO())
    import spark.implicits._
    t = TableOps.append(t, (1 to 50).map(i => (i, i * 1.0)).toDF("k", "v"))
    t = t.updateSchema().updateColumnType("k", LongType).commit()
    t = Mutations.deleteByKeys(t, spark,
      ((2L to 4L) ++ (500L to 900L)).toDF("k"))
    val before = GraftReaderFactory.boundedEqApplications.get()
    val got = spark.read.format("graft")
      .option("warehouse", dir).option("namespace", "db")
      .option("table", "b4promo")
      .option("eq-delete-set-max-bytes", "1")
      .load().select("k").collect().map(_.getLong(0)).toSet
    assert(got == (1L to 50L).toSet -- (2L to 4L),
      s"int-written keys must match long delete keys, got $got")
    assert(GraftReaderFactory.boundedEqApplications.get() > before,
      "promoted-key task must route through the bounded application")
  }

  test("equality deletes keyed on a column newer than the file leave " +
      "old rows untouched") {
    val (t0, dir, name) = mkTable("b4newkey")
    import spark.implicits._
    var t = TableOps.append(t0, batch(1 to 10))
    t = t.updateSchema().addColumn("tag", LongType).commit()
    t = TableOps.append(t, (11 to 20).map(i =>
      (i.toLong, i.toLong % 3, i * 1.0, i.toLong))
      .toDF("event_id", "user_id", "value", "tag"))
    t = Mutations.deleteByKeys(t, spark,
      ((12L to 13L) ++ (100L to 400L)).toDF("tag"))
    // old rows have a NULL tag — null keys never match, so only the
    // new file loses rows; bounded and eager paths must agree
    for (opts <- Seq(Map.empty[String, String],
        Map("eq-delete-set-max-bytes" -> "1"))) {
      val ids = reader(dir, name).options(opts).load()
        .select("event_id").collect().map(_.getLong(0)).toSet
      assert(ids == (1L to 20L).toSet -- Set(12L, 13L),
        s"opts=$opts: old rows must survive a newer-column key, got $ids")
    }
  }

  test("a field added under a renamed-away name null-fills instead of " +
      "reading the file's old physical column") {
    val (t0, dir, name) = mkTable("reuse1")
    import spark.implicits._
    var t = TableOps.append(t0, batch(1 to 10))
    // free the name, then reuse it for a NEW column: the pre-rename
    // file still physically carries a column named "value" (old id)
    t = t.updateSchema().renameColumn("value", "amount").commit()
    t = t.updateSchema().addColumn("value", DoubleType).commit()
    def readAll() = reader(dir, name).load()
      .select("event_id", "amount", "value").collect()
      .map(r => (r.getLong(0), r.getDouble(1),
        if (r.isNullAt(2)) -1.0 else r.getDouble(2))).toSet
    // columnar/batch remap path (no deletes)
    assert(readAll() == (1 to 10).map(i => (i.toLong, i * 1.0, -1.0)).toSet,
      "new 'value' must null-fill on pre-rename files (batch path)")
    // row remap path (an equality delete forces it)
    t = Mutations.deleteByKeys(t, spark, Seq(3L).toDF("event_id"))
    assert(readAll() == (1 to 10).filter(_ != 3)
      .map(i => (i.toLong, i * 1.0, -1.0)).toSet,
      "new 'value' must null-fill on pre-rename files (row path)")
  }

  test("requestType fails loud on a pruned field unknown to the " +
      "current schema") {
    val pruned = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("ghost",
        org.apache.spark.sql.types.LongType)))
    val cur = StructType(Seq(
      NestedField(1, "a", LongType, required = false)))
    val file = StructType(Seq(
      NestedField(1, "a", LongType, required = false)))
    val e = intercept[IllegalStateException] {
      BatchPlanning.requestType(pruned, cur, file)
    }
    assert(e.getMessage.contains("ghost"),
      s"must name the unknown field, got: ${e.getMessage}")
  }

  test("branch option reads and writes the branch; main stays put") {
    val (t0, dir, name) = mkTable("wapdsv2")
    var t = TableOps.append(t0, batch(1 to 10))
    // create the branch via the Table API, then extend it via DSv2
    var b = t.forBranch("audit")
    b = TableOps.append(b, batch(11 to 15))
    batch(16 to 20).write.format("graft")
      .option("warehouse", dir).option("namespace", "db")
      .option("table", name).option("branch", "audit")
      .mode("append").save()
    val onBranch = reader(dir, name).option("branch", "audit").load()
      .select("event_id").collect().map(_.getLong(0)).toSet
    assert(onBranch == (1L to 20L).toSet,
      s"branch read must see API + DSv2 branch writes, got $onBranch")
    val onMain = reader(dir, name).load()
      .select("event_id").collect().map(_.getLong(0)).toSet
    assert(onMain == (1L to 10L).toSet, "main untouched by branch writes")
    // a missing branch must fail loud, not silently serve main
    val e = intercept[Exception] {
      reader(dir, name).option("branch", "nope").load().collect()
    }
    val msgs = Iterator.iterate(e: Throwable)(_.getCause)
      .takeWhile(_ != null).map(m => Option(m.getMessage).getOrElse(""))
      .mkString(" | ")
    assert(msgs.contains("nope") && msgs.contains("does not exist"),
      s"missing branch must be rejected, got: $msgs")
  }

  test("readStream with the branch option tails the branch only") {
    val (t0, dir, name) = mkTable("rsbr")
    var t = TableOps.append(t0, batch(1 to 5))
    var b = t.forBranch("audit")
    b = TableOps.append(b, batch(6 to 9))
    // main advances too; the branch stream must never see it
    TableOps.append(t.refresh(), batch(100 to 101))
    val q = streamReader(dir, name).option("branch", "audit").load()
      .writeStream.format("memory").queryName("graft_rsbr")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      val got = spark.table("graft_rsbr").select("event_id")
        .collect().map(_.getLong(0)).toSet
      assert(got == (1L to 9L).toSet,
        s"backfill must be the branch content only, got $got")
      TableOps.append(b.refresh(), batch(10 to 12))
      q.processAllAvailable()
      val got2 = spark.table("graft_rsbr").select("event_id")
        .collect().map(_.getLong(0)).toSet
      assert(got2 == (1L to 12L).toSet,
        s"new branch commits arrive in the next micro-batch, got $got2")
    } finally q.stop()
  }

  test("snapshot-id / as-of-timestamp / tag options pin the reader") {
    val (t0, dir, name) = mkTable("pin1")
    var t = TableOps.append(t0, batch(1 to 5))
    val sid1 = t.currentSnapshot.get.snapshotId
    val ts1 = t.currentSnapshot.get.timestampMs
    t = t.newTransaction().setRef("v1", sid1, "tag").commit()
    Thread.sleep(5) // second snapshot must get a later timestamp
    t = TableOps.append(t, batch(6 to 10))
    def got(opts: (String, String)*): Set[Long] =
      opts.foldLeft(reader(dir, name)) { case (r, (k, v)) =>
        r.option(k, v) }.load()
        .select("event_id").collect().map(_.getLong(0)).toSet
    assert(got() == (1L to 10L).toSet)
    assert(got("snapshot-id" -> sid1.toString) == (1L to 5L).toSet)
    assert(got("as-of-timestamp" -> ts1.toString) == (1L to 5L).toSet)
    assert(got("tag" -> "v1") == (1L to 5L).toSet)
    // pin options are mutually exclusive (and exclusive with branch)
    val e = intercept[Exception] {
      got("snapshot-id" -> sid1.toString, "tag" -> "v1")
    }
    assert(Iterator.iterate(e: Throwable)(_.getCause).takeWhile(_ != null)
      .exists(m => Option(m.getMessage).exists(
        _.contains("mutually exclusive"))))
    // a pinned table rejects writes through the V1 save bridge
    import spark.implicits._
    val we = intercept[Exception] {
      batch(11 to 12).write.format("graft")
        .option("warehouse", dir).option("namespace", "db")
        .option("table", name).option("snapshot-id", sid1.toString)
        .mode("append").save()
    }
    assert(Iterator.iterate(we: Throwable)(_.getCause).takeWhile(_ != null)
      .exists(m => Option(m.getMessage).exists(
        _.contains("snapshot-pinned"))))
  }

  test("pinned reads resolve names through the PINNED schema after " +
      "a rename — including a rename that frees the name for reuse") {
    val (t0, dir, name) = mkTable("pin2")
    var t = TableOps.append(t0, batch(1 to 5))
    val sid1 = t.currentSnapshot.get.snapshotId
    // post-pin evolution: value -> score, then a NEW column takes the
    // freed name "value" (different field id). A pinned read of
    // "value" must surface the ORIGINAL column's data (field id 3),
    // not null-fill against the current schema (where "value" is the
    // new, post-pin column).
    t = t.updateSchema().renameColumn("value", "score").commit()
    t = t.updateSchema().addColumn("value", StringType).commit()
    import spark.implicits._
    t = TableOps.append(t,
      (6 to 8).map(i => (i.toLong, i.toLong % 3, i * 1.0, s"s$i"))
        .toDF("event_id", "user_id", "score", "value"))

    val pinnedDf = reader(dir, name)
      .option("snapshot-id", sid1.toString).load()
    assert(pinnedDf.columns.toSeq ==
      Seq("event_id", "user_id", "value"),
      "pinned read serves the snapshot's schema")
    val rows = pinnedDf.select("event_id", "value").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(rows == (1 to 5).map(i => i.toLong -> i * 1.0).toMap,
      s"renamed-then-reused column must resolve by field id, got $rows")
    // projection of just the renamed column goes through the same
    // resolution (column pruning path)
    val vals = pinnedDf.select("value").collect()
      .map(_.getDouble(0)).toSet
    assert(vals == (1 to 5).map(_ * 1.0).toSet)
  }

  test("a held DataFrame reads renamed columns by field id, filters " +
      "included — even when another column takes the freed name") {
    val (t0, dir, name) = mkTable("held1")
    var t = TableOps.append(t0, batch(1 to 10).coalesce(1))
    t = TableOps.append(t, batch(11 to 20).coalesce(1))
    val held = reader(dir, name).load()
    // event_id -> eid, then user_id takes the freed name "event_id": the
    // held frame's "event_id" is still field id 1, and pruning by the
    // new event_id's bounds (0..2) would drop both files
    t = t.updateSchema().renameColumn("event_id", "eid").commit()
    t = t.updateSchema().renameColumn("user_id", "event_id").commit()
    val rows = held.where("event_id > 15").select("event_id", "user_id")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(rows == (16 to 20).map(i => i.toLong -> i.toLong % 3).toMap,
      s"filter and read must both resolve by field id, got $rows")
  }

  test("a held DataFrame fails loud, naming the column, once a column " +
      "it reads is dropped") {
    val (t0, dir, name) = mkTable("held2")
    var t = TableOps.append(t0, batch(1 to 5))
    val held = reader(dir, name).load()
    t = t.updateSchema().dropColumn("value").commit()
    val e = intercept[Exception] {
      held.select("event_id", "value").collect()
    }
    val msgs = Iterator.iterate(e: Throwable)(_.getCause)
      .takeWhile(_ != null).map(m => Option(m.getMessage).getOrElse(""))
      .mkString(" | ")
    assert(msgs.contains("'value'") && msgs.contains("dropped"),
      s"the error must name the dropped column, got: $msgs")
    // columns that still exist keep reading
    assert(held.select("event_id").collect().map(_.getLong(0)).toSet ==
      (1L to 5L).toSet)
  }

  test("a held DataFrame applies equality deletes keyed on a column " +
      "added after it was loaded") {
    val (t0, dir, name) = mkTable("held3")
    var t = TableOps.append(t0, batch(1 to 5))
    val held = reader(dir, name).load()
    t = t.updateSchema().addColumn("tag", StringType).commit()
    import spark.implicits._
    t = TableOps.append(t, Seq((6L, 0L, 6.0, "x"), (6L, 0L, 7.0, "y"))
      .toDF("event_id", "user_id", "value", "tag"))
    t = Mutations.deleteByKeys(t, spark,
      Seq((6L, "x")).toDF("event_id", "tag"))
    // the key decodes by field id from the current schema: the row
    // tagged "x" goes, the one tagged "y" and the untagged rows stay
    val expected = (1 to 5).map(i => i.toLong -> i * 1.0).toSet + (6L -> 7.0)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("event_id", "value").collect()
        .map(r => r.getLong(0) -> r.getDouble(1)).toSet
    assert(rows(held) == expected)
    assert(rows(reader(dir, name).load()) == expected)
  }

  test("equality deletes on schema-remapped files stay columnar") {
    val (t0, dir, name) = mkTable("coleq1")
    import spark.implicits._
    var t = TableOps.append(t0, batch(1 to 50))
    // rename AFTER the first file: its tasks need the per-write-schema
    // remap. Then upsert-style equality deletes land on those remapped
    // tasks — the combination that used to drop the whole scan to the
    // row path.
    t = t.updateSchema().renameColumn("value", "amount").commit()
    t = Mutations.deleteByKeys(t, spark, Seq(2L, 7L).toDF("event_id"))
    val df = reader(dir, name).load()
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
    val scans = df.queryExecution.executedPlan
      .collect { case b: BatchScanExec => b }
    assert(scans.nonEmpty && scans.forall(_.supportsColumnar),
      s"eq-deletes on remapped files must stay columnar:\n" +
        df.queryExecution.executedPlan)
    val got = df.select("event_id", "amount").collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSet
    val expected = (1 to 50).filterNot(Set(2, 7))
      .map(i => (i.toLong, i * 1.0)).toSet
    assert(got == expected, "columnar eq-delete on remapped task")
    // parity with the row path (force it via _file metadata emission,
    // which keeps the row reader)
    val rowGot = df.select(df("event_id"), df("amount"),
      df.metadataColumn("_file")).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSet
    assert(rowGot == expected, "row-path parity for remapped eq-deletes")
    // projection pruning the key column still applies the deletes
    val amounts = reader(dir, name).load().select("amount")
      .collect().map(_.getDouble(0)).toSet
    assert(amounts == (1 to 50).filterNot(Set(2, 7)).map(_ * 1.0).toSet)
  }

  test("equality-delete files written BEFORE a key rename still apply " +
      "(keys resolve by field id through the delete's write schema)") {
    val (t0, dir, name) = mkTable("coleq2")
    import spark.implicits._
    var t = TableOps.append(t0, batch(1 to 10))
    // delete file stores its key column under the CURRENT name
    // "event_id"...
    t = Mutations.deleteByKeys(t, spark, Seq(2L, 5L).toDF("event_id"))
    // ...then the key column is renamed: a by-current-name read of the
    // delete file would null-fill and resurrect rows 2 and 5
    t = t.updateSchema().renameColumn("event_id", "id").commit()
    val expected = (1L to 10L).toSet -- Set(2L, 5L)
    // DSv2 path
    val ids = reader(dir, name).load()
      .select("id").collect().map(_.getLong(0)).toSet
    assert(ids == expected,
      s"DSv2 must resolve delete keys by field id, got $ids")
    // Scan API path
    val viaScan = Scan(t.refresh(), spark).toDF
      .select("id").collect().map(_.getLong(0)).toSet
    assert(viaScan == expected,
      s"Scan API must resolve delete keys by field id, got $viaScan")
    // pruned projection (key column not selected) through DSv2
    val vals = reader(dir, name).load()
      .select("value").collect().map(_.getDouble(0)).toSet
    assert(vals == ((1 to 10).toSet -- Set(2, 5)).map(_ * 1.0))
  }

  test("non-positive eq-delete-set-max-bytes is rejected") {
    val (t0, dir, name) = mkTable("optparse2")
    import spark.implicits._
    var t = TableOps.append(t0, batch(1 to 10))
    t = Mutations.deleteByKeys(t, spark, Seq(2L).toDF("event_id"))
    for (bad <- Seq("0", "-5")) {
      val e = intercept[Exception] {
        reader(dir, name).option("eq-delete-set-max-bytes", bad)
          .load().collect()
      }
      val msgs = Iterator.iterate(e: Throwable)(_.getCause)
        .takeWhile(_ != null).map(m => Option(m.getMessage).getOrElse(""))
        .mkString(" | ")
      assert(msgs.contains("eq-delete-set-max-bytes") &&
        msgs.contains("positive"), s"value '$bad' must be rejected " +
        s"with a descriptive message, got: $msgs")
    }
  }

  test("delete-free, position-delete AND equality-delete scans " +
      "are columnar") {
    val (t0, dir, name) = mkTable("col1")
    var t = TableOps.append(t0, batch(1 to 100))
    val plan1 = reader(dir, name).load().where("event_id > 50")
      .queryExecution.executedPlan
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
    val scans1 = plan1.collect { case b: BatchScanExec => b }
    assert(scans1.nonEmpty && scans1.forall(_.supportsColumnar),
      s"delete-free scan should be columnar:\n$plan1")

    // MoR position delete: applied as a selection vector over the
    // batches — the scan must STAY columnar and still drop the row
    t = t.newDelete(spark).where(Col("event_id").eqTo(7L))
      .withMergeOnRead(true).execute()
    val df2 = reader(dir, name).load()
    val plan2 = df2.queryExecution.executedPlan
    val scans2 = plan2.collect { case b: BatchScanExec => b }
    assert(scans2.nonEmpty && scans2.forall(_.supportsColumnar),
      s"position-delete scan must stay columnar:\n$plan2")
    assert(df2.select("event_id").collect().map(_.getLong(0)).toSet ==
      (1L to 100L).toSet - 7L)
    // filtered read over the same MoR table: pushed parquet filters
    // must not desynchronize delete positions (filter-free batch read
    // for delete-carrying tasks)
    val filtered = reader(dir, name).load().where("event_id <= 10")
      .select("event_id").collect().map(_.getLong(0)).toSet
    assert(filtered == (1L to 10L).toSet - 7L)

    // equality delete: keys filter the batch through a selection
    // vector (extended read, projected back down) — STILL columnar
    import spark.implicits._
    val t3 = Mutations.deleteByKeys(t, spark, Seq(9L).toDF("event_id"))
    val df3 = reader(dir, name).load()
    val plan3 = df3.queryExecution.executedPlan
    val scans3 = plan3.collect { case b: BatchScanExec => b }
    assert(scans3.nonEmpty && scans3.forall(_.supportsColumnar),
      s"equality-delete scan must stay columnar:\n$plan3")
    assert(df3.select("event_id").collect().map(_.getLong(0)).toSet ==
      (1L to 100L).toSet - 7L - 9L)
    // and with the key column PRUNED from the projection: the batch
    // decodes it anyway, filters, then projects it away zero-copy
    val vals3 = reader(dir, name).load()
      .select("value").collect().map(_.getDouble(0)).toSet
    assert(vals3 == ((1 to 100).toSet - 7 - 9).map(_ * 1.0),
      "pruned-key equality-delete read must still filter correctly")
  }

  test("rename-only schema evolution keeps the scan columnar") {
    val (t0, dir, name) = mkTable("col2")
    var t = TableOps.append(t0, batch(1 to 50))
    // rename a column AFTER the first file was written: the old file
    // must be batch-read by its OLD name, positionally valid under the
    // current schema
    t = t.updateSchema().renameColumn("value", "amount").commit()
    t = TableOps.append(t, {
      import spark.implicits._
      (51 to 80).map(i => (i.toLong, i.toLong % 3, i * 1.0))
        .toDF("event_id", "user_id", "amount")
    })
    val df = reader(dir, name).load()
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
    val scans = df.queryExecution.executedPlan
      .collect { case b: BatchScanExec => b }
    assert(scans.nonEmpty && scans.forall(_.supportsColumnar),
      s"rename-only evolved scan must stay columnar:\n" +
        df.queryExecution.executedPlan)
    val got = df.select("event_id", "amount").collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSet
    assert(got == (1 to 80).map(i => (i.toLong, i * 1.0)).toSet,
      "old-name files must read correctly under the new name")
  }

  test("nested pruning over remapped pre-evolution files reads the " +
      "right inner field") {
    import org.apache.spark.sql.functions.{col, struct}
    val dir = Files.createTempDirectory("graft-src-nestprune-").toString
    val cat = new LocalCatalog(dir)
    cat.createNamespace(Seq("db"))
    val s = Schema(0, Seq(
      NestedField(1, "id", LongType, required = true),
      NestedField(2, "s", graft.spec.StructType(Seq(
        NestedField(3, "a", LongType, required = false),
        NestedField(4, "b", LongType, required = false))),
        required = false)))
    var t = Table.create(cat, TableIdentifier(Seq("db"), "np"), s,
      io = new HadoopFileIO())
    t = TableOps.append(t, spark.range(1, 21).select(
      col("id"),
      struct((col("id") * 10).as("a"), (col("id") * 100).as("b")).as("s")))
    // any schema change moves the old file onto the per-write-schema
    // remap path
    t = t.updateSchema().renameColumn("id", "rid").commit()
    // the query selects ONLY the SECOND inner field: Spark's nested
    // schema pruning makes the read schema struct<b>, and the file
    // request must mirror that pruned shape — a request built from the
    // full current struct would hand back a's values under b's ordinal
    val got = reader(dir, "np").load().select("rid", "s.b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == (1L to 20L).map(i => (i, i * 100)).toSet,
      s"pruned inner-field read over a remapped file, got $got")
    // nested rename: the pre-rename file resolves the inner field by id
    t = t.updateSchema().renameColumnAt(Seq("s", "a"), "x").commit()
    val got2 = reader(dir, "np").load().select("rid", "s.x").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got2 == (1L to 20L).map(i => (i, i * 10)).toSet,
      s"pruned renamed-inner-field read, got $got2")
    // and the unpruned struct still reads consistently
    val full = reader(dir, "np").load().select("rid", "s.x", "s.b")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .toSet
    assert(full == (1L to 20L).map(i => (i, i * 10, i * 100)).toSet)
    // the nested remap read stays COLUMNAR (no promotion, no deletes)
    val plannp = reader(dir, "np").load().select("rid", "s.b")
      .queryExecution.executedPlan
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
    val scansnp = plannp.collect { case b: BatchScanExec => b }
    assert(scansnp.nonEmpty && scansnp.forall(_.supportsColumnar),
      s"nested remap read should keep the batch path:\n$plannp")
  }

  test("EqFilter single-long fast path agrees with the generic path") {
    import org.apache.spark.sql.types.{LongType => SLong, StringType => SStr}
    import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
    import org.apache.spark.unsafe.types.UTF8String
    def set(keys: Seq[Any]*): java.util.HashSet[Seq[Any]] = {
      val s = new java.util.HashSet[Seq[Any]]()
      keys.foreach(s.add)
      s
    }
    val norm: Any => Any = {
      case u: UTF8String => u.toString
      case o => o
    }
    // single long key: takes the fast path
    val fastF = new EqFilter(Array(
      (Array(0), Array[org.apache.spark.sql.types.DataType](SLong),
        set(Seq(5L), Seq(7L)))), norm)
    // same semantics via a 2-column generic set (long, string)
    val genF = new EqFilter(Array(
      (Array(0, 1), Array[org.apache.spark.sql.types.DataType](SLong, SStr),
        set(Seq(5L, "a"), Seq(7L, "b")))), norm)
    def row(id: java.lang.Long, s: String) = new GenericInternalRow(
      Array[Any](id, if (s == null) null else UTF8String.fromString(s)))
    assert(!fastF.keep(row(5L, "x")) && !fastF.keep(row(7L, null)))
    assert(fastF.keep(row(6L, "x")) && fastF.keep(row(null, "x")),
      "null keys never match")
    assert(!genF.keep(row(5L, "a")) && genF.keep(row(5L, "b")))
    assert(genF.keep(row(5L, null)), "partial-null composite key never matches")
    assert(new EqFilter(Array(
      (Array(0), Array[org.apache.spark.sql.types.DataType](SLong),
        set())), norm).isEmpty, "empty sets filter nothing")
  }

  test("type-promoted files stay off the columnar remap path") {
    val dir = Files.createTempDirectory("graft-src-promo-").toString
    val cat = new LocalCatalog(dir)
    cat.createNamespace(Seq("db"))
    val s = Schema(0, Seq(
      NestedField(1, "k", IntType, required = true),
      NestedField(2, "v", DoubleType, required = true)))
    var t = Table.create(cat, TableIdentifier(Seq("db"), "promo2"), s,
      io = new HadoopFileIO())
    import spark.implicits._
    t = TableOps.append(t, (1 to 10).map(i => (i, i * 1.0)).toDF("k", "v"))
    t = t.updateSchema().updateColumnType("k", LongType).commit()
    t = TableOps.append(t,
      (11 to 20).map(i => (i.toLong, i * 1.0)).toDF("k", "v"))
    val df = reader(dir, "promo2").load()
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
    val scans = df.queryExecution.executedPlan
      .collect { case b: BatchScanExec => b }
    assert(scans.nonEmpty && scans.forall(!_.supportsColumnar),
      "promoted files need ReaderConv — the scan must take the row " +
        s"path:\n${df.queryExecution.executedPlan}")
    assert(df.select("k").collect().map(_.getLong(0)).toSet ==
      (1L to 20L).toSet,
      "int-written files must read as long under the promoted schema")
  }

  test("malformed eq-delete-set-max-bytes names the option") {
    val (t0, dir, name) = mkTable("optparse")
    import spark.implicits._
    var t = TableOps.append(t0, batch(1 to 10))
    t = Mutations.deleteByKeys(t, spark, Seq(2L).toDF("event_id"))
    val e = intercept[Exception] {
      reader(dir, name).option("eq-delete-set-max-bytes", "lots")
        .load().collect()
    }
    val msgs = Iterator.iterate(e: Throwable)(_.getCause)
      .takeWhile(_ != null).map(m => Option(m.getMessage).getOrElse(""))
      .mkString(" | ")
    assert(msgs.contains("eq-delete-set-max-bytes") &&
      msgs.contains("lots"),
      s"parse failure must name the option and value, got: $msgs")
  }

  test("pushed filters reach parquet row-group skipping") {
    val (t0, dir, name) = mkTable("rg1")
    var t = t0
    // 10 files with disjoint event_id ranges (one row group each). The
    // probe predicate is EqualNullSafe: NOT convertible by FilterToExpr
    // (so the engine's manifest/file pruning stays out of the picture)
    // but convertible by ParquetFilters — rows skipped below can only
    // come from parquet row-group stats.
    for (i <- 0 until 10)
      t = TableOps.append(t, batch(i * 1000 + 1 to i * 1000 + 1000))
    val df = reader(dir, name).load().where("event_id <=> 1500")
    val rows = df.collect()
    assert(rows.length == 1 && rows.head.getAs[Long]("event_id") == 1500L)
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
    val scan = df.queryExecution.executedPlan
      .collect { case b: BatchScanExec => b }.head
    val produced = scan.metrics("numOutputRows").value
    assert(produced <= 1000,
      s"parquet should skip 9 of 10 row groups, scan produced $produced")
  }

  // ------------------------------------------------- micro-batch read

  test("readStream tails appended snapshots exactly once") {
    val (t0, dir, name) = mkTable("s1")
    var t = TableOps.append(t0, batch(1 to 5))
    t = TableOps.append(t, batch(6 to 10))

    val q = streamReader(dir, name).load()
      .writeStream.format("memory").queryName("graft_s1")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      val first = spark.table("graft_s1")
        .select("event_id").collect().map(_.getLong(0))
      assert(first.sorted.toSeq == (1L to 10L),
        s"first batch = full table, got ${first.toSeq.sorted}")

      // two more appends while running: each drained exactly once
      t = TableOps.append(t, batch(11 to 13))
      t = TableOps.append(t, batch(14 to 15))
      q.processAllAvailable()
      val all = spark.table("graft_s1")
        .select("event_id").collect().map(_.getLong(0))
      assert(all.sorted.toSeq == (1L to 15L),
        s"incremental drain without re-delivery, got ${all.toSeq.sorted}")
    } finally q.stop()
  }

  test("readStream parity with batch scan after restart-free run") {
    val (t0, dir, name) = mkTable("s2")
    var t = TableOps.append(t0, batch(1 to 20))
    val q = streamReader(dir, name).load()
      .groupBy("user_id").count()
      .writeStream.format("memory").queryName("graft_s2")
      .outputMode("complete").start()
    try {
      t = TableOps.append(t, batch(21 to 40))
      q.processAllAvailable()
      val streamed = spark.table("graft_s2").collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      val batchRes = Scan(t.refresh(), spark).toDF
        .groupBy("user_id").count().collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(streamed == batchRes,
        s"stream agg $streamed != batch agg $batchRes")
    } finally q.stop()
  }

  test("readStream starting-offset=latest skips existing data") {
    val (t0, dir, name) = mkTable("s3")
    var t = TableOps.append(t0, batch(1 to 100))

    val q = streamReader(dir, name)
      .option("starting-offset", "latest").load()
      .writeStream.format("memory").queryName("graft_s3")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      assert(spark.table("graft_s3").count() == 0,
        "latest start delivers nothing until a new append")
      t = TableOps.append(t, batch(101 to 105))
      q.processAllAvailable()
      val got = spark.table("graft_s3")
        .select("event_id").collect().map(_.getLong(0)).toSet
      assert(got == (101L to 105L).toSet, s"only new rows, got $got")
    } finally q.stop()
  }

  test("readStream fails loud on an overwrite snapshot by default") {
    val (t0, dir, name) = mkTable("s4")
    var t = TableOps.append(t0, batch(1 to 5))
    val q = streamReader(dir, name).load()
      .writeStream.format("memory").queryName("graft_s4")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      // upsert commits NEW rows under Operation.Overwrite
      t = t.refresh().newUpsert(spark)
        .withKeyColumns("event_id").withData(batch(6 to 6)).execute()
      val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        q.processAllAvailable()
        q.awaitTermination(10000)
      }
      assert(e.getMessage.contains("incremental-skip-overwrites") ||
        Option(e.getCause).exists(_.getMessage
          .contains("incremental-skip-overwrites")),
        s"expected the overwrite rejection, got: ${e.getMessage}")
    } finally if (q.isActive) q.stop()
  }

  test("readStream skip-overwrites=true skips them and keeps tailing") {
    val (t0, dir, name) = mkTable("s5")
    var t = TableOps.append(t0, batch(1 to 5))
    val q = streamReader(dir, name)
      .option("skip-overwrites", "true").load()
      .writeStream.format("memory").queryName("graft_s5")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      t = t.refresh().newUpdate(spark).where(Col("event_id").eqTo(1L))
        .set("value", 99.0).execute() // overwrite snapshot: rewrite only
      t = TableOps.append(t, batch(6 to 8))
      q.processAllAvailable()
      val got = spark.table("graft_s5")
        .select("event_id").collect().map(_.getLong(0))
      assert(got.sorted.toSeq == (1L to 8L),
        s"overwrite skipped, append delivered once, got ${got.toSeq.sorted}")
    } finally q.stop()
  }

  test("readStream from scratch remaps files written before a rename") {
    val (t0, dir, name) = mkTable("s6")
    import spark.implicits._
    var t = TableOps.append(t0, batch(1 to 5))
    t = t.updateSchema().renameColumn("value", "amount").commit()
    t = TableOps.append(t, (6 to 8).map(i =>
      (i.toLong, i.toLong % 3, i * 1.0))
      .toDF("event_id", "user_id", "amount"))

    val q = streamReader(dir, name).load()
      .writeStream.format("memory").queryName("graft_s6")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      val got = spark.table("graft_s6")
        .select("event_id", "amount").collect()
        .map(r => r.getLong(0) -> r.getDouble(1)).toMap
      assert(got == (1 to 8).map(i => i.toLong -> i * 1.0).toMap,
        s"field-id remap must surface pre-rename values, got $got")
    } finally q.stop()
  }

  test("readStream from scratch over an upsert-maintained (MoR) table") {
    val (t0, dir, name) = mkTable("s7")
    import spark.implicits._
    var t = TableOps.append(t0, batch(1 to 10))
    // equality-delete 4 and 9, then re-add 9 with a new value
    t = Mutations.deleteByKeys(t, spark, Seq(4L, 9L).toDF("event_id"))
    t = TableOps.append(t, Seq((9L, 0L, 99.0))
      .toDF("event_id", "user_id", "value"))

    val q = streamReader(dir, name).load()
      .writeStream.format("memory").queryName("graft_s7")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      val got = spark.table("graft_s7")
        .select("event_id", "value").collect()
        .map(r => r.getLong(0) -> r.getDouble(1)).toMap
      val expected = ((1 to 10).toSet - 4 - 9)
        .map(i => i.toLong -> i * 1.0).toMap + (9L -> 99.0)
      assert(got == expected,
        s"first micro-batch must apply MoR deletes + sequence rule, got $got")
    } finally q.stop()
  }

  test("malformed max-files-per-trigger names the option") {
    val (t0, dir, name) = mkTable("s8bad")
    TableOps.append(t0, batch(1 to 5))
    val e = intercept[Exception] {
      val q = streamReader(dir, name)
        .option("max-files-per-trigger", "few").load()
        .writeStream.format("memory").queryName("graft_s8bad").start()
      try q.processAllAvailable() finally q.stop()
    }
    val msgs = Iterator.iterate(e: Throwable)(_.getCause)
      .takeWhile(_ != null).map(m => Option(m.getMessage).getOrElse(""))
      .mkString(" | ")
    assert(msgs.contains("max-files-per-trigger") && msgs.contains("'few'"),
      s"parse failure must name the option and value, got: $msgs")
  }

  test("max-files-per-trigger paces the backfill, exactly-once") {
    val (t0, dir, name) = mkTable("s8")
    var t = t0
    // 5 files (5 appends of 1 file each)
    for (b <- 0 until 5)
      t = TableOps.append(t, batch(b * 10 + 1 to b * 10 + 10).coalesce(1))
    val ckpt = Files.createTempDirectory("graft-s8-ckpt-").toString
    val out = Files.createTempDirectory("graft-s8-out-").toString
    def run(maxFiles: Int): Long = {
      val q = streamReader(dir, name)
        .option("max-files-per-trigger", maxFiles.toString).load()
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .outputMode("append").start()
      try { q.processAllAvailable()
        q.recentProgress.count(_.numInputRows > 0).toLong }
      finally q.stop()
    }
    val batches = run(2)
    assert(batches >= 3,
      s"5 files at 2/trigger need >= 3 micro-batches, got $batches")
    val first = spark.read.parquet(out)
      .select("event_id").collect().map(_.getLong(0)).sorted
    assert(first.toSeq == (1L to 50L),
      s"paced backfill complete: ${first.length} rows")

    // restart from checkpoint, two more appends: no re-delivery
    t = TableOps.append(t, batch(51 to 60).coalesce(1))
    t = TableOps.append(t, batch(61 to 70).coalesce(1))
    run(1)
    val all = spark.read.parquet(out)
      .select("event_id").collect().map(_.getLong(0)).sorted
    assert(all.toSeq == (1L to 70L),
      s"resume + paced tail, got ${all.length} rows")
  }

  test("Trigger.AvailableNow drains in bounded batches, then stops") {
    val (t0, dir, name) = mkTable("s9")
    var t = t0
    for (b <- 0 until 4)
      t = TableOps.append(t, batch(b * 10 + 1 to b * 10 + 10).coalesce(1))
    val ckpt = Files.createTempDirectory("graft-s9-ckpt-").toString
    val out = Files.createTempDirectory("graft-s9-out-").toString
    def drain(): Long = {
      val q = streamReader(dir, name)
        .option("max-files-per-trigger", "2").load()
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      // AvailableNow terminates ON ITS OWN at the pinned snapshot
      assert(q.awaitTermination(120000), "AvailableNow must self-stop")
      q.recentProgress.count(_.numInputRows > 0).toLong
    }
    val batches = drain()
    assert(batches >= 2,
      s"4 files at 2/trigger need >= 2 micro-batches, got $batches")
    val first = spark.read.parquet(out)
      .select("event_id").collect().map(_.getLong(0)).sorted
    assert(first.toSeq == (1L to 40L))

    // second run after one more append: delivers ONLY the tail
    t = TableOps.append(t, batch(41 to 50).coalesce(1))
    drain()
    val all = spark.read.parquet(out)
      .select("event_id").collect().map(_.getLong(0)).sorted
    assert(all.toSeq == (1L to 50L))
  }

  test("save() creates a missing table (DataFrameWriter semantics, " +
      "all four SaveModes)") {
    val dir = Files.createTempDirectory("graft-src-create-").toString
    new LocalCatalog(dir).createNamespace(Seq("db"))
    def write(name: String, mode: String, ids: Range) =
      batch(ids).write.format("graft")
        .option("warehouse", dir).option("namespace", "db")
        .option("table", name).mode(mode).save()
    def ids(name: String): Set[Long] =
      reader(dir, name).load().select("event_id")
        .collect().map(_.getLong(0)).toSet

    // every mode creates a missing table and writes the batch
    for ((mode, nm) <- Seq("append" -> "c_app", "overwrite" -> "c_ovr",
        "ignore" -> "c_ign", "errorifexists" -> "c_eie")) {
      write(nm, mode, 1 to 5)
      assert(ids(nm) == (1L to 5L).toSet, s"mode $mode must create+write")
    }
    // on the now-existing table: ignore no-ops, errorifexists throws
    write("c_ign", "ignore", 6 to 9)
    assert(ids("c_ign") == (1L to 5L).toSet, "ignore must no-op")
    intercept[IllegalArgumentException] {
      write("c_eie", "errorifexists", 6 to 9)
    }
    // append extends, overwrite replaces
    write("c_app", "append", 6 to 9)
    assert(ids("c_app") == (1L to 9L).toSet)
    write("c_ovr", "overwrite", 6 to 9)
    assert(ids("c_ovr") == (6L to 9L).toSet)
    // created schema round-trips with field ids assigned
    val t = Table.load(new LocalCatalog(dir),
      TableIdentifier(Seq("db"), "c_app"), new HadoopFileIO())
    assert(t.schema.fields.map(_.name) ==
      Seq("event_id", "user_id", "value"))
    // create + branch option in one save() is ambiguous — rejected
    val e = intercept[Exception] {
      batch(1 to 3).write.format("graft")
        .option("warehouse", dir).option("namespace", "db")
        .option("table", "c_br").option("branch", "b")
        .mode("append").save()
    }
    assert(e.getMessage.contains("branch"))
  }

  test("reading a missing table with a user schema fails with " +
      "table-not-found, not a capability error") {
    val dir = Files.createTempDirectory("graft-src-miss-").toString
    new LocalCatalog(dir).createNamespace(Seq("db"))
    // a user-specified schema skips inferSchema, so Spark reaches the
    // missing-table placeholder with a READ — the original not-found
    // must surface, not "table does not support reads"
    val e = intercept[Exception] {
      spark.read.format("graft")
        .schema("event_id BIGINT")
        .option("warehouse", dir).option("namespace", "db")
        .option("table", "nope").load().collect()
    }
    def chain(t: Throwable): Seq[Throwable] =
      if (t == null) Nil else t +: chain(t.getCause)
    assert(chain(e).exists(
      _.isInstanceOf[graft.catalog.NoSuchTableException]),
      s"expected NoSuchTableException in the cause chain, got: $e")
  }

  test("user-specified read schema: subset allowed, unknown names loud") {
    val (t0, dir, name) = mkTable("uschema")
    TableOps.append(t0, batch(1 to 5))
    // subset of real columns = manual pruning, fine
    val subset = spark.read.format("graft")
      .schema("event_id BIGINT, value DOUBLE")
      .option("warehouse", dir).option("namespace", "db")
      .option("table", name).load()
    assert(subset.columns.toSeq == Seq("event_id", "value"))
    assert(subset.count() == 5)
    // a typo'd column must fail loud, not silently null-fill
    val e = intercept[Exception] {
      spark.read.format("graft")
        .schema("event_id BIGINT, bogus STRING")
        .option("warehouse", dir).option("namespace", "db")
        .option("table", name).load().collect()
    }
    val msgs = Iterator.iterate(e: Throwable)(_.getCause)
      .takeWhile(_ != null).map(m => Option(m.getMessage).getOrElse(""))
      .mkString(" | ")
    assert(msgs.contains("bogus"),
      s"unknown user-schema column must be named in the error: $msgs")
    // pinned (time-travel) reads honor the same contract: subset
    // pruned, unknown names loud
    val sid = Table.load(new LocalCatalog(dir),
      TableIdentifier(Seq("db"), name), new HadoopFileIO())
      .currentSnapshot.get.snapshotId
    val pinnedSubset = spark.read.format("graft")
      .schema("value DOUBLE")
      .option("warehouse", dir).option("namespace", "db")
      .option("table", name).option("snapshot-id", sid.toString).load()
    assert(pinnedSubset.columns.toSeq == Seq("value"))
    assert(pinnedSubset.count() == 5)
    intercept[Exception] {
      spark.read.format("graft")
        .schema("value DOUBLE, nope STRING")
        .option("warehouse", dir).option("namespace", "db")
        .option("table", name).option("snapshot-id", sid.toString)
        .load().collect()
    }
  }

  test("offset json round-trip") {
    val o = GraftOffset(42L)
    assert(GraftOffset.fromJson(o.json()) == o)
    assert(GraftOffset.fromJson("""{ "snapshotId" : -1 }""")
      == GraftOffset(-1L))
    intercept[IllegalArgumentException] {
      GraftOffset.fromJson("""{"other":1}""")
    }
  }
}
