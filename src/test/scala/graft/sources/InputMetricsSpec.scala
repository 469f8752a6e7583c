package graft.sources

import java.nio.file.Files
import java.util.concurrent.atomic.AtomicLong

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}

import graft.SparkTestSession
import graft.catalog.{LocalCatalog, TableIdentifier}
import graft.io.HadoopFileIO
import graft.spec._
import graft.table._

/** Reads through the connector reader report the bytes they read to
  * Spark's task input metrics, as Spark's own file scans do. */
class InputMetricsSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  /** `(bytesRead, recordsRead)` summed over the tasks `f` runs. */
  private def inputOf(f: => Unit): (Long, Long) = {
    val sc = spark.sparkContext
    val bytes = new AtomicLong
    val records = new AtomicLong
    val listener = new SparkListener {
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        Option(e.taskMetrics).foreach { m =>
          bytes.addAndGet(m.inputMetrics.bytesRead)
          records.addAndGet(m.inputMetrics.recordsRead)
        }
    }
    org.apache.spark.TestListenerBus.drain(sc)
    sc.addSparkListener(listener)
    try { f; org.apache.spark.TestListenerBus.drain(sc) }
    finally sc.removeSparkListener(listener)
    (bytes.get, records.get)
  }

  private def table(): Table = {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-inmetrics-").toString
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
}
