package graft.io

import java.io.{InputStream, OutputStream}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}

/** Storage abstraction mirroring the reference's FileIO
  * (`io/fileio.go:10-76`), including the bulk extension
  * (`io/fileio.go:68-76`). One implementation over the Hadoop
  * FileSystem API — the same layer Spark executors read through — so
  * `file://` works now and `s3a://`/`hdfs://` when those jars are
  * present (SURVEY S12-S14).
  */
trait FileIO {
  def open(path: String): InputStream
  /** Ranged read (`io/fileio.go:42`). */
  def openRange(path: String, offset: Long, length: Long): InputStream
  def create(path: String, overwrite: Boolean = false): OutputStream
  def delete(path: String): Unit
  def exists(path: String): Boolean
  def length(path: String): Long
  def deleteFiles(paths: Seq[String]): Unit = paths.foreach(delete)
  def listFiles(prefix: String): Seq[String]
  /** Last-modified epoch millis. Default = MaxValue (unknown mtime →
    * treat the file as brand-new, so age-gated GC never deletes it). */
  def modificationTime(path: String): Long = Long.MaxValue
  /** Move `src` to `dst` (replacing dst). Implementations should make
    * this atomic where the store allows (posix/HDFS rename); the default
    * is copy+delete — correct but not crash-atomic. */
  def rename(src: String, dst: String): Unit = {
    writeAllBytes(dst, readAllBytes(src), overwrite = true)
    delete(src)
  }

  def readAllBytes(path: String): Array[Byte] = {
    val in = open(path)
    try in.readAllBytes() finally in.close()
  }
  def writeAllBytes(path: String, data: Array[Byte],
      overwrite: Boolean = false): Unit = {
    val out = create(path, overwrite)
    try out.write(data) finally out.close()
  }
  def readString(path: String): String =
    new String(readAllBytes(path), java.nio.charset.StandardCharsets.UTF_8)
  def writeString(path: String, s: String, overwrite: Boolean = false): Unit =
    writeAllBytes(path, s.getBytes(java.nio.charset.StandardCharsets.UTF_8),
      overwrite)
}

/** Hadoop-FS implementation; parent directories are created on write
  * like the reference's local impl (`io/local.go:142-173`), and
  * `create(overwrite = false)` fails if the file exists (O_EXCL
  * semantics, `io/local.go`).
  *
  * Where Hadoop resolves a path to a local (`file:`) FileSystem, this
  * FileIO uses its own [[GraftLocalFileSystem]] built from `conf`,
  * unless `conf` names its own `fs.file.impl`: Hadoop's checksummed
  * local FileSystem — bytes, `.crc` sidecars, checksum verification and
  * modes from `conf`'s `fs.permissions.umask-mode` — with each mode set
  * by a syscall rather than a forked `chmod`. */
class HadoopFileIO(conf: Configuration = new Configuration()) extends FileIO {

  private lazy val local = GraftLocalFileSystem(conf)

  private def fs(p: Path): FileSystem = p.getFileSystem(conf) match {
    case f if f.getUri.getScheme == "file" => local.getOrElse(f)
    case f => f
  }

  override def open(path: String): InputStream = {
    val p = new Path(path)
    fs(p).open(p)
  }

  override def openRange(path: String, offset: Long,
      length: Long): InputStream = {
    val p = new Path(path)
    val in = fs(p).open(p)
    in.seek(offset)
    new BoundedInputStream(in, length)
  }

  override def create(path: String, overwrite: Boolean): OutputStream = {
    val p = new Path(path)
    fs(p).create(p, overwrite)
  }

  override def delete(path: String): Unit = {
    val p = new Path(path)
    fs(p).delete(p, false)
    ()
  }

  override def exists(path: String): Boolean = {
    val p = new Path(path)
    fs(p).exists(p)
  }

  override def length(path: String): Long = {
    val p = new Path(path)
    fs(p).getFileStatus(p).getLen
  }

  override def modificationTime(path: String): Long = {
    val p = new Path(path)
    fs(p).getFileStatus(p).getModificationTime
  }

  override def rename(src: String, dst: String): Unit = {
    val s = new Path(src); val d = new Path(dst)
    val f = fs(s)
    if (f.exists(d)) f.delete(d, false)
    if (!f.rename(s, d))
      throw new java.io.IOException(s"rename $src -> $dst failed")
  }

  /** Files under `prefix`, recursively, by a `listStatus` walk: the
    * checksummed FileSystem hides `.crc` sidecars, and no entry's
    * owner or mode is read — Hadoop's recursive `listFiles` builds a
    * `LocatedFileStatus` per entry, which without `libhadoop` forks an
    * `ls -ld` for each. */
  override def listFiles(prefix: String): Seq[String] = {
    val p = new Path(prefix)
    val f = fs(p)
    def walk(dir: Path): Seq[String] = f.listStatus(dir).toSeq.flatMap(s =>
      if (s.isDirectory) walk(s.getPath) else Seq(s.getPath.toString))
    if (!f.exists(p)) Nil else walk(p)
  }
}

/** Caps a stream at `remaining` bytes for ranged reads. */
private class BoundedInputStream(in: InputStream, private var remaining: Long)
    extends InputStream {
  override def read(): Int =
    if (remaining <= 0) -1
    else {
      val b = in.read()
      if (b >= 0) remaining -= 1
      b
    }
  override def read(buf: Array[Byte], off: Int, len: Int): Int =
    if (remaining <= 0) -1
    else {
      val n = in.read(buf, off, math.min(len.toLong, remaining).toInt)
      if (n > 0) remaining -= n
      n
    }
  override def close(): Unit = in.close()
}
