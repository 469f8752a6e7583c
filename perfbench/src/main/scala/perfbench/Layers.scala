package perfbench

import java.io.{InputStream, OutputStream}
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.LongAdder

import scala.jdk.CollectionConverters._

import graft.catalog._
import graft.io.FileIO
import graft.spec.{MetadataJson, PartitionSpec, Schema, SortOrder, TableMetadata}

/** Named additive counters; times are kept in nanoseconds. */
final class Counters {
  private val m = new ConcurrentHashMap[String, LongAdder]()
  def add(key: String, v: Long): Unit =
    m.computeIfAbsent(key, _ => new LongAdder).add(v)
  def get(key: String): Long = Option(m.get(key)).map(_.sum()).getOrElse(0L)
  def snapshot(): Map[String, Long] =
    m.asScala.iterator.map { case (k, v) => k -> v.sum() }.toMap
  def timed[T](callsKey: String, nanosKey: String)(f: => T): T = {
    add(callsKey, 1)
    val t0 = System.nanoTime()
    try f finally add(nanosKey, System.nanoTime() - t0)
  }
}

object Counters {
  /** Per-key difference `after - before`. */
  def diff(after: Map[String, Long], before: Map[String, Long])
      : Map[String, Long] =
    after.map { case (k, v) => k -> (v - before.getOrElse(k, 0L)) }
}

/** FileIO that forwards to `delegate` and counts calls, bytes and the
  * time spent inside the delegate's streams under `io.*`. Only the
  * primitives are forwarded, so the trait's helpers (`readAllBytes`,
  * `writeString`, ...) are counted through them. */
final class CountingFileIO(delegate: FileIO, c: Counters) extends FileIO {

  private def counted(in: InputStream, t0: Long): InputStream = {
    c.add("io.read_calls", 1)
    c.add("io.read_nanos", System.nanoTime() - t0)
    new InputStream {
      private def time[T](f: => T): T = {
        val s = System.nanoTime()
        try f finally c.add("io.read_nanos", System.nanoTime() - s)
      }
      override def read(): Int = time {
        val b = in.read(); if (b >= 0) c.add("io.read_bytes", 1); b
      }
      override def read(buf: Array[Byte], off: Int, len: Int): Int = time {
        val n = in.read(buf, off, len); if (n > 0) c.add("io.read_bytes", n); n
      }
      override def available(): Int = in.available()
      override def close(): Unit = time(in.close())
    }
  }

  override def open(path: String): InputStream = {
    val t0 = System.nanoTime()
    counted(delegate.open(path), t0)
  }

  override def openRange(path: String, offset: Long,
      length: Long): InputStream = {
    val t0 = System.nanoTime()
    counted(delegate.openRange(path, offset, length), t0)
  }

  override def create(path: String, overwrite: Boolean): OutputStream = {
    val t0 = System.nanoTime()
    val out = delegate.create(path, overwrite)
    c.add("io.write_calls", 1)
    c.add("io.write_nanos", System.nanoTime() - t0)
    new OutputStream {
      private def time(f: => Unit): Unit = {
        val s = System.nanoTime()
        try f finally c.add("io.write_nanos", System.nanoTime() - s)
      }
      override def write(b: Int): Unit = time {
        out.write(b); c.add("io.write_bytes", 1)
      }
      override def write(buf: Array[Byte], off: Int, len: Int): Unit = time {
        out.write(buf, off, len); c.add("io.write_bytes", len)
      }
      override def flush(): Unit = time(out.flush())
      override def close(): Unit = time(out.close())
    }
  }

  override def delete(path: String): Unit = delegate.delete(path)
  override def exists(path: String): Boolean = delegate.exists(path)
  override def length(path: String): Long = delegate.length(path)
  override def listFiles(prefix: String): Seq[String] =
    delegate.listFiles(prefix)
  override def modificationTime(path: String): Long =
    delegate.modificationTime(path)
  override def rename(src: String, dst: String): Unit =
    delegate.rename(src, dst)
}

/** Catalog that forwards to `delegate` and counts table loads and
  * commits under `catalog.*`. The size of the metadata JSON a commit
  * produces is measured after the commit returns, outside its timing. */
final class CountingCatalog(delegate: Catalog, c: Counters) extends Catalog {
  override def listNamespaces(): Seq[Seq[String]] = delegate.listNamespaces()
  override def createNamespace(ns: Seq[String],
      properties: Map[String, String]): Unit =
    delegate.createNamespace(ns, properties)
  override def dropNamespace(ns: Seq[String]): Unit = delegate.dropNamespace(ns)
  override def namespaceExists(ns: Seq[String]): Boolean =
    delegate.namespaceExists(ns)
  override def loadNamespaceProperties(ns: Seq[String]): Map[String, String] =
    delegate.loadNamespaceProperties(ns)
  override def updateNamespaceProperties(ns: Seq[String],
      removals: Seq[String], updates: Map[String, String]): Unit =
    delegate.updateNamespaceProperties(ns, removals, updates)
  override def listTables(ns: Seq[String]): Seq[TableIdentifier] =
    delegate.listTables(ns)
  override def createTable(id: TableIdentifier, schema: Schema,
      spec: PartitionSpec, sortOrder: SortOrder,
      properties: Map[String, String]): TableMetadata =
    delegate.createTable(id, schema, spec, sortOrder, properties)
  override def loadTable(id: TableIdentifier): TableMetadata =
    c.timed("catalog.load_calls", "catalog.load_nanos")(delegate.loadTable(id))
  override def tableExists(id: TableIdentifier): Boolean =
    delegate.tableExists(id)
  override def dropTable(id: TableIdentifier, purge: Boolean): Unit =
    delegate.dropTable(id, purge)
  override def renameTable(from: TableIdentifier, to: TableIdentifier): Unit =
    delegate.renameTable(from, to)
  override def registerTable(id: TableIdentifier,
      metadataLocation: String): TableMetadata =
    delegate.registerTable(id, metadataLocation)

  override def commitTable(id: TableIdentifier,
      requirements: Seq[TableRequirement],
      updates: Seq[TableUpdate]): TableMetadata = {
    val committed =
      try c.timed("catalog.commit_calls", "catalog.commit_nanos")(
        delegate.commitTable(id, requirements, updates))
      catch {
        case e: CommitFailedException =>
          c.add("catalog.commit_conflicts", 1); throw e
      }
    c.add("catalog.metadata_json_bytes",
      MetadataJson.write(committed).getBytes("UTF-8").length.toLong)
    committed
  }
}
