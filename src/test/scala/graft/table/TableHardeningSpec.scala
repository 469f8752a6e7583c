package graft.table

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession
import graft.catalog.{LocalCatalog, TableIdentifier}
import graft.io.HadoopFileIO
import graft.spec._

/** Regression tests for the r19 core-table review findings: partition
  * dir decoding, identity date/timestamp partitioning, UTF-8 bound
  * order, surrogate-safe bound truncation, branch-honoring manifest
  * rewrite, map-tolerant changelog, and the required-column add
  * guard. */
class TableHardeningSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def fresh(name: String, schema: Schema,
      spec: PartitionSpec = PartitionSpec.unpartitioned): Table = {
    val dir = Files.createTempDirectory("graft-hard-").toString
    val cat = new LocalCatalog(dir)
    cat.createNamespace(Seq("db"))
    Table.create(cat, TableIdentifier(Seq("db"), name), schema,
      spec = spec, io = new HadoopFileIO())
  }

  test("a '+' in a string partition value round-trips (Hive unescape," +
      " not URLDecoder)") {
    val schema = Schema(0, Seq(
      NestedField(1, "id", LongType, required = true),
      NestedField(2, "cat", StringType, required = true)))
    val spec = PartitionSpec.builder(0).identity(2, "cat").build()
    var t = fresh("plus", schema, spec)
    t = TableOps.append(t, Seq((1L, "a+b"), (2L, "a b"), (3L, "x%20y"))
      .toDF("id", "cat"))
    // the harvested partition tuples carry the literal values
    val tuples = Scan(t, spark).planFiles()
      .map(_.file.partition("cat").asInstanceOf[String]).toSet
    assert(tuples == Set("a+b", "a b", "x%20y"),
      s"partition tuples corrupted: $tuples")
    // and partition pruning still finds each row by its real value
    for ((v, id) <- Seq(("a+b", 1L), ("a b", 2L), ("x%20y", 3L))) {
      val got = Scan(t, spark).filter(Col("cat").eqTo(v)).toDF
        .select("id").collect().map(_.getLong(0)).toSeq
      assert(got == Seq(id), s"value '$v' must find row $id, got $got")
    }
    // MoR position deletes join by file path — prove the path
    // round-trip holds for files under a SPACED partition dir too
    val t2 = Mutations.deleteMoR(t, spark, Col("id").eqTo(2L))
    val left = Scan(t2, spark).toDF.select("id").collect()
      .map(_.getLong(0)).toSet
    assert(left == Set(1L, 3L),
      s"MoR delete under a spaced partition dir: $left")
  }

  test("identity partitioning on DATE and TIMESTAMP columns writes " +
      "and prunes") {
    val schema = Schema(0, Seq(
      NestedField(1, "id", LongType, required = true),
      NestedField(2, "d", DateType, required = true),
      NestedField(3, "ts", TimestampType, required = true)))
    val spec = PartitionSpec.builder(0).identity(2, "d").build()
    var t = fresh("dpart", schema, spec)
    val rows = Seq(
      (1L, java.sql.Date.valueOf("2020-01-01"),
        java.sql.Timestamp.valueOf("2020-01-01 01:02:03")),
      (2L, java.sql.Date.valueOf("2021-06-15"),
        java.sql.Timestamp.valueOf("2021-06-15 23:59:59")))
    t = TableOps.append(t, rows.toDF("id", "d", "ts"))
    // manifests store the date partition value as epoch days
    val tuples = Scan(t, spark).planFiles()
      .map(_.file.partition("d").asInstanceOf[Int]).toSet
    assert(tuples == Set(
      java.time.LocalDate.parse("2020-01-01").toEpochDay.toInt,
      java.time.LocalDate.parse("2021-06-15").toEpochDay.toInt),
      s"date tuples: $tuples")
    val got = Scan(t, spark)
      .filter(Col("d").eqTo(java.sql.Date.valueOf("2020-01-01")))
      .toDF.select("id").collect().map(_.getLong(0)).toSeq
    assert(got == Seq(1L), s"date identity prune broke: $got")
    // timestamp identity partitioning (UTC session)
    val spec2 = PartitionSpec.builder(0).identity(3, "ts").build()
    var t2 = fresh("tspart", schema, spec2)
    t2 = TableOps.append(t2, rows.toDF("id", "d", "ts"))
    val all = Scan(t2, spark).toDF.select("id").collect()
      .map(_.getLong(0)).toSet
    assert(all == Set(1L, 2L), s"timestamp identity write broke: $all")
  }

  test("string bounds compare in UTF-8 byte order (supplementary " +
      "chars above high-BMP)") {
    // UTF-16: the emoji's lead surrogate (D83D) < FE4F; UTF-8: F0 > EF
    assert(Bounds.compare("😀", "﹏x", StringType) > 0,
      "emoji must sort ABOVE U+FE4F in UTF-8 order")
    assert(Bounds.compare("﹏x", "😀", StringType) < 0)
    // and a file whose max is an emoji is NOT pruned for an emoji probe
    val schema = Schema(0, Seq(
      NestedField(1, "id", LongType, required = true),
      NestedField(2, "s", StringType, required = true)))
    var t = fresh("utf8", schema)
    t = TableOps.append(t, Seq((1L, "﹏a"), (2L, "😀"))
      .toDF("id", "s"))
    val got = Scan(t, spark).filter(Col("s").eqTo("😀")).toDF
      .select("id").collect().map(_.getLong(0)).toSeq
    assert(got == Seq(2L), s"emoji row pruned away: $got")
  }

  test("upper-bound truncation never emits an unpaired surrogate") {
    val schema = Schema(0, Seq(
      NestedField(1, "id", LongType, required = true),
      NestedField(2, "s", StringType, required = true)))
    // 16th code point U+D7FF: increment must skip the surrogate gap
    val v1 = "a" * 15 + "퟿" + "tail beyond the bound"
    // 16th code point an emoji: char-level take(16) would split the
    // pair and char-level increment would land IN the gap
    val v2 = "b" * 15 + "😀" + "tail beyond the bound"
    var t = fresh("trunc", schema)
    t = TableOps.append(t, Seq((1L, v1), (2L, v2)).toDF("id", "s"))
    for ((v, id) <- Seq((v1, 1L), (v2, 2L))) {
      val got = Scan(t, spark).filter(Col("s").eqTo(v)).toDF
        .select("id").collect().map(_.getLong(0)).toSeq
      assert(got == Seq(id),
        s"row $id pruned by an unsound truncated upper bound")
    }
    // the stored upper bounds themselves contain no lone surrogate
    // (which serializes as '?' and breaks the ordering)
    val ups = Scan(t, spark).planFiles().flatMap(
      _.file.upperBounds.get(2)).map(b =>
        new String(b, java.nio.charset.StandardCharsets.UTF_8))
    assert(ups.nonEmpty && ups.forall(!_.contains('?')),
      s"upper bounds carry replacement chars: $ups")
  }

  test("rewriteManifests on a branch handle advances the branch, " +
      "never main") {
    val schema = Fixtures4.usersSchema
    var t = fresh("rwbranch", schema)
    def df(ids: Range): DataFrame = ids.map(i => (i.toLong, s"u$i",
        s"u$i@x.com", new java.sql.Timestamp(1704067200000L + i)))
      .toDF("id", "name", "email", "created_at")
    t = TableOps.append(t, df(1 to 5))
    val mainHead = t.currentSnapshot.get.snapshotId
    var b = t.forBranch("audit")
    b = TableOps.append(b, df(6 to 10))
    b = TableOps.append(b, df(11 to 15))
    assert(Scan(b, spark).planFiles().nonEmpty)
    val rewritten = Maintenance.rewriteManifests(b)
    val fresh0 = t.refresh()
    assert(fresh0.currentSnapshot.get.snapshotId == mainHead,
      "rewriteManifests on a branch handle must NOT move main")
    assert(fresh0.metadata.ref("audit").exists(
      _.snapshotId == rewritten.currentSnapshot.get.snapshotId),
      "the branch ref must advance to the rewrite snapshot")
    // the rewritten handle stays positioned on the branch
    val got = Scan(rewritten, spark).toDF.select("id").collect()
      .map(_.getLong(0)).toSet
    assert(got == (1L to 15L).toSet, s"branch content changed: $got")
    assert(Scan(fresh0, spark).toDF.count() == 5L, "main content changed")
  }

  test("changelog tolerates map columns: between + netChanges + " +
      "removeCarryovers") {
    val schema = Schema(0, Seq(
      NestedField(1, "id", LongType, required = true),
      NestedField(2, "attrs",
        MapType(3, StringType, 4, StringType, valueRequired = false),
        required = false)))
    var t = fresh("maps", schema)
    // baseline commit so the range has an ancestor anchor
    t = TableOps.append(t, Seq((0L, Map("z" -> "z"))).toDF("id", "attrs"))
    val s0 = t.currentSnapshot.get.snapshotId
    val r1 = Seq((1L, Map("k" -> "v")), (2L, Map("a" -> "b")))
      .toDF("id", "attrs")
    t = TableOps.append(t, r1)
    val s1 = t.currentSnapshot.get.snapshotId
    // MoR position delete → the exceptAll (canonical) path in between
    t = Mutations.deleteMoR(t, spark, Col("id").eqTo(2L))
    val s2 = t.currentSnapshot.get.snapshotId
    val changes = Changelog.between(t, spark, fromExclusive = s0,
      toInclusive = s2)
    val byType = changes.collect().groupBy(
      _.getAs[String](Changelog.ChangeType)).view.mapValues(_.length)
      .toMap
    assert(byType == Map(Changelog.Insert -> 2, Changelog.Delete -> 1),
      s"changelog over a map table: $byType")
    // net: id 2 inserted then deleted nets out; id 1 survives
    val net = Changelog.netChanges(changes).collect()
    assert(net.length == 1 && net.head.getAs[Long]("id") == 1L,
      s"netChanges over a map table: ${net.toSeq}")
    // carryover removal groups by the map too (no-op content here)
    val carry = Changelog.removeCarryovers(changes).count()
    assert(carry == 3L, s"removeCarryovers over a map table: $carry")
    assert(s1 > 0L)
  }

  test("adding a REQUIRED column to a table with data is refused; " +
      "an empty table may gain one") {
    val schema = Schema(0, Seq(
      NestedField(1, "id", LongType, required = true)))
    var t = fresh("reqcol", schema)
    // empty table: allowed
    t = t.updateSchema().addColumn("tag", StringType, required = true)
      .commit()
    assert(t.schema.fieldByName("tag").exists(_.required))
    t = t.updateSchema().makeOptional("tag").commit()
    t = TableOps.append(t,
      Seq((1L, "a")).toDF("id", "tag"))
    val e = intercept[IllegalArgumentException] {
      t.updateSchema().addColumn("extra", IntType, required = true)
    }
    assert(e.getMessage.contains("required column"), e.getMessage)
    // optional adds stay fine
    t = t.updateSchema().addColumn("extra", IntType).commit()
    assert(t.schema.fieldByName("extra").exists(!_.required))
  }
}
