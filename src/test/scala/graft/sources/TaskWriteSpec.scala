package graft.sources

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, isnan, sum, when}

import graft.SparkTestSession
import graft.catalog.{LocalCatalog, TableIdentifier}
import graft.io.HadoopFileIO
import graft.spec._
import graft.streaming.Streams
import graft.table._

/** The engine's one file writer: every data write path records, for
  * each file it commits, NaN counts equal to what the file holds. */
class TaskWriteSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private val schema = Schema(0, Seq(
    NestedField(1, "id", LongType, required = true),
    NestedField(2, "p", IntType, required = false),
    NestedField(3, "f", FloatType, required = false),
    NestedField(4, "d", DoubleType, required = false)))

  private def freshTable(name: String, spec: PartitionSpec): Table = {
    val dir = Files.createTempDirectory(s"graft-tw-$name-").toString
    val cat = new LocalCatalog(dir)
    cat.createNamespace(Seq("db"))
    Table.create(cat, TableIdentifier(Seq("db"), name), schema, spec,
      io = new HadoopFileIO())
  }

  /** Rows `ids`: NaN and null both occur in `f` and in `d`, sometimes in
    * the same row. */
  private def rows(ids: Range): DataFrame = {
    import spark.implicits._
    ids.map { i =>
      val f: Option[Float] =
        if (i % 7 == 0) None else Some(if (i % 5 == 0) Float.NaN else i.toFloat)
      val d: Option[Double] =
        if (i % 4 == 0) None else Some(if (i % 3 == 0) Double.NaN else i * 0.5)
      (i.toLong, i % 3, f, d)
    }.toDF("id", "p", "f", "d")
  }

  /** Every live file's recorded NaN counts equal an `isnan` count over
    * the file's own rows. */
  private def assertCountsExact(t: Table, what: String): Unit = {
    val files = Scan(t, spark).planFiles().map(_.file)
    assert(files.nonEmpty, what)
    files.foreach { f =>
      val r = spark.read.parquet(f.filePath)
        .agg(sum(when(isnan(col("f")), 1L).otherwise(0L)),
          sum(when(isnan(col("d")), 1L).otherwise(0L)))
        .collect().head
      val actual = Map(3 -> r.getLong(0), 4 -> r.getLong(1))
      assert(f.nanValueCounts == actual,
        s"$what: ${f.filePath} records ${f.nanValueCounts}, holds $actual")
    }
  }

  test("every write path records each file's exact NaN counts") {
    val identity = PartitionSpec.builder().identity(2, "p").build()
    var t = freshTable("nanid", identity)
    t = TableOps.append(t, rows(1 to 40))
    assertCountsExact(t, "partitioned append")
    t = Mutations.deleteCoW(t, spark, Col("id").eqTo(3L))
    assertCountsExact(t, "CoW delete")
    t = Mutations.update(t, spark, Col("id").eqTo(4L),
      Map("d" -> Double.NaN))
    assertCountsExact(t, "update to NaN")
    t = Mutations.upsert(t, spark, rows(35 to 50), Seq("id"))
    assertCountsExact(t, "upsert")
    // a maxRecordsPerFile split: each piece counts only its own rows
    val split = TaskWrite(spark, t, rows(51 to 80), maxRecordsPerFile = 4)
    assert(split.nonEmpty && split.forall(_.recordCount <= 4) &&
      split.size >= 8, s"files not split: ${split.map(_.recordCount)}")
    t = t.commitSnapshot(PendingSnapshot(Operation.Append,
      addedDataFiles = split))
    assertCountsExact(t, "maxRecordsPerFile split")
    t = Maintenance.compactDataFiles(t, spark)
    assertCountsExact(t, "compaction")
    t = Maintenance.zorderRewrite(t, spark, Seq("id", "p"),
      targetFileSizeBytes = 512)
    assertCountsExact(t, "z-order rewrite")
    val sink = Streams.icebergSink(t)
    sink.addBatch(rows(81 to 90), 0L)
    t = sink.table
    assertCountsExact(t, "stream batch")
    assert(Scan(t, spark).toDF.count() == 89)

    val bucket = PartitionSpec.builder().bucket(1, "id_bucket", 4).build()
    val b = TableOps.append(freshTable("nanbk", bucket), rows(1 to 40))
    assert(Scan(b, spark).planFiles().size > 1)
    assertCountsExact(b, "bucket-partitioned append")
  }

  test("SQL INSERT, UPDATE to NaN, MERGE and DELETE record exact NaN " +
      "counts") {
    val dir = Files.createTempDirectory("graft-tw-sql-").toString
    spark.conf.set("spark.sql.catalog.taskwrite_nan",
      classOf[GraftSparkCatalog].getName)
    spark.conf.set("spark.sql.catalog.taskwrite_nan.warehouse", dir)
    spark.sql("CREATE NAMESPACE taskwrite_nan.db")
    spark.sql("CREATE TABLE taskwrite_nan.db.t " +
      "(id BIGINT, p INT, f FLOAT, d DOUBLE)")
    def load() = Table.load(new LocalCatalog(dir),
      TableIdentifier(Seq("db"), "t"), new HadoopFileIO())
    rows(1 to 30).createOrReplaceTempView("tw_src")
    spark.sql("INSERT INTO taskwrite_nan.db.t SELECT * FROM tw_src")
    spark.sql("INSERT INTO taskwrite_nan.db.t VALUES " +
      "(100, 1, CAST('NaN' AS FLOAT), NULL), " +
      "(101, 1, NULL, CAST('NaN' AS DOUBLE))")
    assertCountsExact(load(), "SQL INSERT")
    spark.sql("UPDATE taskwrite_nan.db.t SET d = CAST('NaN' AS DOUBLE) " +
      "WHERE id % 5 = 1")
    assertCountsExact(load(), "SQL UPDATE")
    spark.sql("MERGE INTO taskwrite_nan.db.t t USING (SELECT * FROM tw_src " +
      "WHERE id > 20) s ON t.id = s.id WHEN MATCHED THEN UPDATE SET " +
      "t.f = CAST('NaN' AS FLOAT)")
    assertCountsExact(load(), "SQL MERGE")
    spark.sql("DELETE FROM taskwrite_nan.db.t WHERE id % 4 = 2")
    assertCountsExact(load(), "SQL DELETE")
    assert(spark.sql("SELECT count(*) FROM taskwrite_nan.db.t " +
      "WHERE isnan(d)").collect().head.getLong(0) ==
      Scan(load(), spark).planFiles().map(_.file.nanValueCounts(4)).sum)
  }

  test("INSERT … VALUES into an unpartitioned table commits one file") {
    val dir = Files.createTempDirectory("graft-tw-values-").toString
    spark.conf.set("spark.sql.catalog.taskwrite_values",
      classOf[GraftSparkCatalog].getName)
    spark.conf.set("spark.sql.catalog.taskwrite_values.warehouse", dir)
    spark.sql("CREATE NAMESPACE taskwrite_values.db")
    spark.sql("CREATE TABLE taskwrite_values.db.t (id BIGINT, s STRING)")
    spark.sql("INSERT INTO taskwrite_values.db.t VALUES " +
      "(1, 'a'), (2, 'b'), (3, 'c')")
    val t = Table.load(new LocalCatalog(dir), TableIdentifier(Seq("db"), "t"),
      new HadoopFileIO())
    val files = Scan(t, spark).planFiles()
    assert(files.size == 1 && files.head.file.recordCount == 3,
      s"one file of 3 rows, got ${files.map(_.file.recordCount)}")
  }
}
