package graft.sources

import java.nio.file.Files
import java.util.concurrent.atomic.AtomicLong

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.executor.TaskMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}

import graft.SparkTestSession
import graft.catalog.{LocalCatalog, TableIdentifier}
import graft.io.HadoopFileIO
import graft.spec._
import graft.table._

/** Reads through the connector reader report the bytes they read to
  * Spark's task input metrics, and writes through the engine's data
  * writer the bytes they write to its output metrics, as Spark's own
  * file scans and writes do. */
class InputMetricsSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  /** `pick` summed over the tasks `f` runs. */
  private def summed(pick: TaskMetrics => (Long, Long))(
      f: => Unit): (Long, Long) = {
    val sc = spark.sparkContext
    val bytes = new AtomicLong
    val records = new AtomicLong
    val listener = new SparkListener {
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        Option(e.taskMetrics).map(pick).foreach { case (b, r) =>
          bytes.addAndGet(b)
          records.addAndGet(r)
        }
    }
    org.apache.spark.TestListenerBus.drain(sc)
    sc.addSparkListener(listener)
    try { f; org.apache.spark.TestListenerBus.drain(sc) }
    finally sc.removeSparkListener(listener)
    (bytes.get, records.get)
  }

  /** `(bytesRead, recordsRead)` summed over the tasks `f` runs. */
  private def inputOf(f: => Unit): (Long, Long) = summed(m =>
    (m.inputMetrics.bytesRead, m.inputMetrics.recordsRead))(f)

  /** `(bytesWritten, recordsWritten)` summed over the tasks `f` runs. */
  private def outputOf(f: => Unit): (Long, Long) = summed(m =>
    (m.outputMetrics.bytesWritten, m.outputMetrics.recordsWritten))(f)

  private def table(
      dir: String = Files.createTempDirectory("graft-inmetrics-").toString)
      : Table = {
    import spark.implicits._
    val cat = new LocalCatalog(dir)
    cat.createNamespace(Seq("db"))
    val t = Table.create(cat, TableIdentifier(Seq("db"), "t"),
      Schema(0, Seq(NestedField(1, "id", LongType, required = true),
        NestedField(2, "s", StringType, required = false))),
      io = new HadoopFileIO())
    TableOps.append(t,
      (1 to 2000).map(i => (i.toLong, s"row $i")).toDF("id", "s").coalesce(2))
  }

  test("task reads and SQL reads of a parquet-backed table report the " +
      "bytes they read") {
    val t = table()
    val fileBytes = Scan(t, spark).planFiles().map(_.file.fileSizeInBytes).sum
    val (taskBytes, taskRecords) = inputOf(
      TaskRead(spark, t, t.schema, Scan(t, spark).planFiles()).collect())
    assert(taskRecords == 2000L)
    assert(taskBytes > 0L && taskBytes <= 2 * fileBytes,
      s"task read reported $taskBytes bytes of $fileBytes")
    GraftSQL.registerTable(spark, t, "inmetrics_t")
    val (sqlBytes, _) = inputOf(
      spark.sql("SELECT id, s FROM inmetrics_t").collect())
    assert(sqlBytes > 0L && sqlBytes <= 2 * fileBytes,
      s"SQL read reported $sqlBytes bytes of $fileBytes")
  }

  test("task writes and SQL INSERTs report the bytes and records they " +
      "write") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-outmetrics-").toString
    val t = table(dir)
    val io = new HadoopFileIO()
    var files: Seq[DataFile] = Nil
    val (taskBytes, taskRecords) = outputOf {
      files = TaskWrite(spark, t,
        (1 to 500).map(i => (i.toLong, s"new $i")).toDF("id", "s"))
    }
    val taskFileBytes = files.map(f => io.length(f.filePath)).sum
    assert(taskRecords == 500L)
    assert(taskBytes >= taskFileBytes && taskBytes <= 2 * taskFileBytes,
      s"task write reported $taskBytes bytes of $taskFileBytes")

    spark.conf.set("spark.sql.catalog.outmetrics",
      classOf[GraftSparkCatalog].getName)
    spark.conf.set("spark.sql.catalog.outmetrics.warehouse", dir)
    val before = Scan(t, spark).planFiles().map(_.file.filePath).toSet
    val (sqlBytes, sqlRecords) = outputOf(spark.sql(
      "INSERT INTO outmetrics.db.t VALUES (9001, 'a'), (9002, 'b')"))
    val sqlFileBytes = Scan(t.refresh(), spark).planFiles()
      .map(_.file.filePath).filterNot(before).map(io.length).sum
    assert(sqlRecords == 2L)
    assert(sqlBytes >= sqlFileBytes && sqlBytes <= 2 * sqlFileBytes,
      s"SQL INSERT reported $sqlBytes bytes of $sqlFileBytes")

    // a partitioned MoR delete reports its delete files
    val pt = TableOps.append(Table.create(new LocalCatalog(dir),
      TableIdentifier(Seq("db"), "pt"),
      Schema(0, Seq(NestedField(1, "id", LongType, required = true),
        NestedField(2, "p", IntType, required = false))),
      PartitionSpec.builder().identity(2, "p").build(),
      io = new HadoopFileIO()),
      (1 to 100).map(i => (i.toLong, i % 4)).toDF("id", "p"))
    var deleted: Table = null
    val (delBytes, delRecords) = outputOf {
      deleted = Mutations.deleteMoR(pt, spark, Col("id").lte(10L))
    }
    val delFiles = Maintenance.positionDeleteFiles(deleted)
    val delFileBytes = delFiles.map(f => io.length(f.filePath)).sum
    assert(delFiles.map(_.partition).distinct.size == 4 &&
      delRecords == 10L)
    assert(delBytes >= delFileBytes && delBytes <= 2 * delFileBytes,
      s"MoR delete reported $delBytes bytes of $delFileBytes")
  }
}
