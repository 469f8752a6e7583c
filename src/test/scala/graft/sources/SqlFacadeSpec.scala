package graft.sources

import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec

import graft.SparkTestSession
import graft.catalog._
import graft.io.HadoopFileIO
import graft.spec._
import graft.table._

/** FileIO that counts driver-side metadata reads (manifest lists are
  * `snap-*.avro`, manifests `*manifest-*.avro`). */
class CountingFileIO extends HadoopFileIO {
  import scala.jdk.CollectionConverters._
  private val counts =
    new java.util.concurrent.ConcurrentHashMap[String, Integer]()
  override def open(path: String): java.io.InputStream = {
    counts.merge(path, 1, (a, b) => a + b)
    super.open(path)
  }
  def reset(): Unit = counts.clear()
  def totalReads: Int = counts.values.asScala.map(_.intValue).sum
  def listReads: Int = counts.asScala.collect {
    case (p, n) if p.contains("/snap-") => n.intValue
  }.sum
}

/** spark.sql / spark.table over engine tables registered by handle: the
  * temp view over the DSv2 connector must deliver filter-aware
  * manifest/file pruning, MoR semantics and per-query freshness. */
class SqlFacadeSpec extends AnyFunSuite with AdaptiveSparkPlanHelper {
  private lazy val spark = SparkTestSession.spark

  private def freshTable(name: String): Table = {
    val dir = Files.createTempDirectory("graft-sql-").toString
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

  /** Input partitions (one per planned data file) of every connector
    * scan in the executed plan. */
  private def scannedFiles(df: DataFrame): Int =
    collect(df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]
      .queryExecution.executedPlan) {
        case b: BatchScanExec => b.inputPartitions.size
      }.sum

  test("spark.sql filter prunes files via the engine's stats") {
    var t = freshTable("sqlprune")
    t = TableOps.append(t, usersDf(1 to 10).coalesce(1))
    t = TableOps.append(t, usersDf(11 to 20).coalesce(1))
    GraftSQL.registerTable(spark, t, "users_sql")

    val q = spark.sql("SELECT id, name FROM users_sql WHERE id <= 3")
    val rows = q.collect().map(_.getLong(0)).toSet
    assert(rows == Set(1L, 2L, 3L))
    val files = scannedFiles(q)
    assert(files == 1,
      s"bounds pruning must reach the SQL path (1 of 2 files): $files")

    // unfiltered query reads both files
    val all = spark.table("users_sql")
    assert(all.count() == 20)
    assert(scannedFiles(all) == 2)
  }

  test("SQL aggregation + IN-list + null semantics match the engine") {
    var t = freshTable("sqlagg")
    t = TableOps.append(t, usersDf(1 to 20))
    GraftSQL.registerTable(spark, t, "users_agg")
    val n = spark.sql(
      """SELECT COUNT(*) AS n FROM users_agg
        |WHERE id IN (1, 2, 3, 999) AND email IS NULL""".stripMargin)
      .collect().head.getLong(0)
    assert(n == 2, "ids 1 and 3 have null emails")
  }

  test("MoR deletes apply through spark.sql") {
    var t = freshTable("sqlmor")
    t = TableOps.append(t, usersDf(1 to 10).coalesce(1))
    t = t.newDelete(spark).where(Col("id").lte(3L))
      .withMergeOnRead(true).execute()
    GraftSQL.registerTable(spark, t, "users_mor")
    val got = spark.sql("SELECT id FROM users_mor ORDER BY id")
      .collect().map(_.getLong(0)).toSeq
    assert(got == (4 to 10).map(_.toLong),
      s"MoR deletes must apply in the SQL path: $got")
  }

  test("SQL filter on a partitioned table prunes to one partition") {
    val dir = Files.createTempDirectory("graft-sqlpart-").toString
    val cat = new LocalCatalog(dir)
    cat.createNamespace(Seq("db"))
    val spec = PartitionSpec.builder(0).day(4, "created_day").build()
    var t = Table.create(cat, TableIdentifier(Seq("db"), "sqlpart"),
      Fixtures4.usersSchema, spec, io = new HadoopFileIO())
    import spark.implicits._
    val df = (1 to 30).map { i =>
      val day = 19800 + (i % 3)
      (i.toLong, s"u$i", s"e$i", new java.sql.Timestamp(86400000L * day + i))
    }.toDF("id", "name", "email", "created_at")
    t = TableOps.append(t, df)
    GraftSQL.registerTable(spark, t, "users_part")
    val q = spark.sql(
      """SELECT id FROM users_part
        |WHERE created_at >= TIMESTAMP '2024-03-19 00:00:00'
        |  AND created_at < TIMESTAMP '2024-03-20 00:00:00'""".stripMargin)
    assert(q.count() == 10)
    val files = scannedFiles(q)
    assert(files == 1,
      s"partition-tuple pruning must reach the SQL path: $files")
  }

  test("planning a SQL query reads the manifest list at most once") {
    val dir = Files.createTempDirectory("graft-sqlio-").toString
    val cat = new LocalCatalog(dir)
    cat.createNamespace(Seq("db"))
    val io = new CountingFileIO
    var t = Table.create(cat, TableIdentifier(Seq("db"), "sqlio"),
      Fixtures4.usersSchema, io = io)
    t = TableOps.append(t, usersDf(1 to 10))
    GraftSQL.registerTable(spark, t, "users_io")
    io.reset()
    val n = spark.sql("SELECT COUNT(*) AS n FROM users_io WHERE id <= 5")
      .collect().head.getLong(0)
    assert(n == 5)
    assert(io.listReads <= 1,
      s"one planFiles = one manifest-list read, saw ${io.listReads}")
  }

  test("commits after registerTable are visible to the next query") {
    var t = freshTable("sqlfresh")
    t = TableOps.append(t, usersDf(1 to 5))
    GraftSQL.registerTable(spark, t, "users_fresh")
    assert(spark.sql("SELECT COUNT(*) AS n FROM users_fresh")
      .collect().head.getLong(0) == 5)
    // commit through the same catalog, WITHOUT re-registering: the
    // pinned-snapshot trap (ADVICE r3) — per-query refresh must see it
    TableOps.append(t, usersDf(6 to 10))
    assert(spark.sql("SELECT COUNT(*) AS n FROM users_fresh")
      .collect().head.getLong(0) == 10,
      "registration must not pin the snapshot forever")
  }

  test("a registered view reads renamed columns' real values") {
    var t = freshTable("sqlrename")
    t = TableOps.append(t, usersDf(1 to 4))
    GraftSQL.registerTable(spark, t, "users_ren")
    // an optional and a required column renamed after registration,
    // then a file written under the new names
    t = t.updateSchema().renameColumn("email", "mail").commit()
    t = t.updateSchema().renameColumn("name", "full_name").commit()
    t = TableOps.append(t, usersDf(5 to 6)
      .withColumnRenamed("email", "mail")
      .withColumnRenamed("name", "full_name"))
    val got = spark.sql(
      "SELECT id, name, email FROM users_ren ORDER BY id").collect()
      .map(r => (r.getLong(0), r.getString(1), Option(r.getString(2))))
      .toSeq
    assert(got == (1 to 6).map(i => (i.toLong, s"user_$i",
      if (i % 2 == 1) None else Some(s"u$i@x.com"))),
      s"renamed columns must resolve by field id, not null-fill: $got")
  }

  test("SQL join against a registered table works (self + other)") {
    var t = freshTable("sqljoin")
    t = TableOps.append(t, usersDf(1 to 8))
    GraftSQL.registerTable(spark, t, "users_j")
    // self-join exercises MultiInstanceRelation exprId dedup
    val c = spark.sql(
      """SELECT COUNT(*) AS n FROM users_j a JOIN users_j b ON a.id = b.id""")
      .collect().head.getLong(0)
    assert(c == 8)
  }
}
