package graft

import java.io.{InputStream, OutputStream}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

import graft.io.{FileIO, HadoopFileIO}

/** A delegating [[FileIO]] that counts table-metadata reads: manifest
  * lists (`snap-*.avro`) and manifests (every other `.avro` file).
  * Data files are read by Spark, never through a table's FileIO. */
final class CountingFileIO(inner: FileIO = new HadoopFileIO()) extends FileIO {
  val listReads = new AtomicInteger
  val manifestReads = new AtomicInteger

  def reset(): Unit = { listReads.set(0); manifestReads.set(0) }

  /** `(manifest-list reads, manifest reads)` made by `f`. */
  def counting[A](f: => A): (A, Int, Int) = {
    reset()
    val r = f
    (r, listReads.get, manifestReads.get)
  }

  private def note(path: String): Unit = {
    val name = path.substring(path.lastIndexOf('/') + 1)
    if (name.endsWith(".avro"))
      (if (name.startsWith("snap-")) listReads else manifestReads)
        .incrementAndGet()
  }

  override def open(path: String): InputStream = {
    note(path); inner.open(path)
  }
  override def openRange(path: String, offset: Long,
      length: Long): InputStream = {
    note(path); inner.openRange(path, offset, length)
  }
  override def readAllBytes(path: String): Array[Byte] = {
    note(path); inner.readAllBytes(path)
  }
  override def create(path: String, overwrite: Boolean): OutputStream =
    inner.create(path, overwrite)
  override def writeAllBytes(path: String, data: Array[Byte],
      overwrite: Boolean): Unit = inner.writeAllBytes(path, data, overwrite)
  override def delete(path: String): Unit = inner.delete(path)
  override def deleteFiles(paths: Seq[String]): Unit = inner.deleteFiles(paths)
  override def exists(path: String): Boolean = inner.exists(path)
  override def length(path: String): Long = inner.length(path)
  override def listFiles(prefix: String): Seq[String] = inner.listFiles(prefix)
  override def modificationTime(path: String): Long =
    inner.modificationTime(path)
  override def rename(src: String, dst: String): Unit = inner.rename(src, dst)
}

/** Counts the Spark jobs a block starts. The listener bus is drained
  * before the listener attaches and again before the count is read, so
  * earlier work's events are not counted and the block's are not
  * missed. Assumes no other job runs concurrently in the session. */
object SparkJobs {
  def count[A](spark: SparkSession)(f: => A): (A, Int) = {
    val sc = spark.sparkContext
    org.apache.spark.TestListenerBus.drain(sc)
    val jobs = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
    }
    sc.addSparkListener(listener)
    try {
      val r = f
      org.apache.spark.TestListenerBus.drain(sc)
      (r, jobs.get)
    } finally sc.removeSparkListener(listener)
  }
}
