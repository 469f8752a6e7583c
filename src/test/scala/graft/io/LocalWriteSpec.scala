package graft.io

import java.io.RandomAccessFile
import java.nio.file.{Files, Path => JPath, Paths}
import java.nio.file.attribute.PosixFilePermissions

import scala.jdk.CollectionConverters._

import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumException, FileAlreadyExistsException}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession
import graft.catalog.{LocalCatalog, TableIdentifier}
import graft.sources.GraftSparkCatalog
import graft.spec._
import graft.streaming.Streams
import graft.table._

/** Local files the engine writes — manifests, manifest lists, data
  * files — go through Hadoop's checksummed local FileSystem with every
  * mode set by a syscall: no process is forked, and `.crc` sidecars,
  * checksum verification, modes and O_EXCL stay Hadoop's. */
class LocalWriteSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private val schema = Schema(0, Seq(
    NestedField(1, "id", LongType, required = true),
    NestedField(2, "p", IntType, required = false)))

  private def rows(ids: Range): DataFrame = {
    import spark.implicits._
    ids.map(i => (i.toLong, i % 3)).toDF("id", "p")
  }

  /** A catalog named `name` over a new warehouse, registered with the
    * session, holding `db.t` partitioned by `p`. */
  private def catalogTable(name: String): Table = {
    val dir = Files.createTempDirectory(s"graft-lw-$name-").toString
    spark.conf.set(s"spark.sql.catalog.$name",
      classOf[GraftSparkCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$name.warehouse", dir)
    val cat = new LocalCatalog(dir)
    cat.createNamespace(Seq("db"))
    Table.create(cat, TableIdentifier(Seq("db"), "t"), schema,
      PartitionSpec.builder().identity(2, "p").build(),
      io = new HadoopFileIO())
  }

  private def local(path: String): JPath =
    if (path.startsWith("file:")) Paths.get(new java.net.URI(path))
    else Paths.get(path)

  private def mode(p: JPath): String =
    PosixFilePermissions.toString(Files.getPosixFilePermissions(p))

  private def crcOf(path: String): JPath = {
    val p = local(path)
    p.resolveSibling(s".${p.getFileName}.crc")
  }

  /** The current snapshot's manifest list, manifests and data files. */
  private def written(t: Table): (String, Seq[String], Seq[String]) = {
    val snap = t.currentSnapshot.get
    (snap.manifestList, t.manifestList(snap).map(_.manifestPath),
      Scan(t, spark).planFiles().map(_.file.filePath))
  }

  test("table writes fork no process: append, CoW delete, SQL INSERT " +
      "and a stream batch") {
    val t0 = catalogTable("lwfork")
    var deletesFrom, deletesTo = java.time.Instant.MAX
    val rec = new Recording()
    rec.enable("jdk.ProcessStart").withStackTrace()
    rec.start()
    try {
      // one fork from this spec's own code: the recording must see it
      new ProcessBuilder("true").start().waitFor()
      import spark.implicits._
      var t = TableOps.append(t0, rows(1 to 30))
      t = Mutations.deleteCoW(t, spark, Col("id").eqTo(3L))
      // delete files: partitioned MoR deletes, a key delete and the
      // position-delete rewrite
      deletesFrom = java.time.Instant.now()
      t = Mutations.deleteMoR(t, spark, Col("id").in(4L, 5L))
      t = Mutations.deleteMoR(t, spark, Col("id").eqTo(7L))
      t = Mutations.deleteByKeys(t, spark, Seq(8L).toDF("id"))
      assert(Maintenance.positionDeleteFiles(t).size > 1)
      t = Maintenance.rewritePositionDeletes(t, spark)
      deletesTo = java.time.Instant.now()
      assert(Maintenance.positionDeleteFiles(t).size < 3)
      spark.sql("INSERT INTO lwfork.db.t VALUES (100, 1), (101, 2)")
      implicit val sqlCtx = spark.sqlContext
      val sink = Streams.icebergSink(t.refresh())
      val input = MemoryStream[(Long, Int)]
      val q = input.toDF().toDF("id", "p").writeStream
        .foreachBatch((df: DataFrame, id: Long) => sink.addBatch(df, id))
        .start()
      try {
        input.addData((200L, 0), (201L, 1))
        q.processAllAvailable()
      } finally q.stop()
      assert(Scan(sink.table, spark).count() == 29L)
      // orphan-file GC lists every file under data/ and metadata/
      val listed = sink.table.refresh()
      assert(Scan(listed, spark).planFiles().size >= 3)
      assert(Maintenance.removeOrphanFiles(listed, dryRun = true)
        .deleted.isEmpty)
    } finally rec.stop()
    val dump = Files.createTempFile("graft-lw-", ".jfr")
    rec.dump(dump)
    rec.close()
    // a fork with a frame of graft's own code (this spec's frames aside)
    val spec = getClass.getName
    val events = RecordingFile.readAllEvents(dump).asScala.toSeq
    val forks = events.map { e =>
      (e.getString("command"), Option(e.getStackTrace).toSeq
        .flatMap(_.getFrames.asScala).map(_.getMethod.getType.getName))
    }
    assert(forks.exists { case (cmd, frames) =>
      cmd == "true" && frames.exists(_.startsWith(spec)) },
      s"the probe fork was not recorded: ${forks.map(_._1)}")
    val engine = forks.flatMap { case (cmd, frames) =>
      frames.find(n => n.startsWith("graft.") && !n.startsWith(spec))
        .map(_ -> cmd)
    }
    assert(engine.isEmpty, s"graft code forked processes: $engine")
    // only table operations run between these instants, so every process
    // started there is theirs — Spark's own file writer would fork a
    // chmod per file and directory on threads with no graft frame
    val inDeletes = events.filter(e => !e.getStartTime.isBefore(deletesFrom)
      && !e.getStartTime.isAfter(deletesTo)).map(_.getString("command"))
    assert(inDeletes.isEmpty, s"delete-file writes forked: $inDeletes")
  }

  test("manifests and data files keep .crc sidecars, and a corrupted " +
      "byte fails the read") {
    val t = TableOps.append(catalogTable("lwcrc"), rows(1 to 30))
    val (list, manifests, data) = written(t)
    val io = new HadoopFileIO()
    for (p <- Seq(list, manifests.head, data.head)) {
      assert(Files.exists(crcOf(p)), s"no checksum sidecar for $p")
      io.readAllBytes(p)
      val raf = new RandomAccessFile(local(p).toFile, "rw")
      try {
        raf.seek(raf.length / 2)
        val b = raf.read()
        raf.seek(raf.length / 2)
        raf.write(b ^ 0xff)
      } finally raf.close()
      intercept[ChecksumException](io.readAllBytes(p))
    }
  }

  test("file and new-directory modes follow fs.permissions.umask-mode") {
    for ((umask, file, dir) <- Seq(
        (None, "rw-r--r--", "rwxr-xr-x"),
        (Some("077"), "rw-------", "rwx------"))) {
      val conf = new Configuration()
      umask.foreach(conf.set("fs.permissions.umask-mode", _))
      val root = Files.createTempDirectory("graft-lw-mode-").toString
      new HadoopFileIO(conf).writeString(s"$root/a/b/f.txt", "x")
      val f = s"$root/a/b/f.txt"
      assert(Seq(mode(local(s"$root/a")), mode(local(s"$root/a/b")),
        mode(local(f)), mode(crcOf(f))) == Seq(dir, dir, file, file),
        s"umask $umask")
    }
    // the executor writer under the default umask: data files, their
    // sidecars and the partition directories it makes
    val (list, manifests, data) =
      written(TableOps.append(catalogTable("lwmode"), rows(1 to 30)))
    for (p <- list +: manifests ++: data)
      assert(mode(local(p)) == "rw-r--r--" && mode(crcOf(p)) == "rw-r--r--",
        p)
    data.foreach(p => assert(mode(local(p).getParent) == "rwxr-xr-x", p))
  }

  test("create(overwrite = false) on an existing file still throws") {
    val root = Files.createTempDirectory("graft-lw-excl-").toString
    val io = new HadoopFileIO()
    io.writeString(s"$root/f.txt", "one")
    intercept[FileAlreadyExistsException](
      io.create(s"$root/f.txt", overwrite = false))
    assert(io.readString(s"$root/f.txt") == "one")
  }

  test("a SQL INSERT under a session umask of 077 writes its manifest, " +
      "manifest list and data file at 0600") {
    spark.conf.set("fs.permissions.umask-mode", "077")
    try {
      // a fresh catalog name: its FileIO is built from the session now
      val t = catalogTable("lwumask")
      spark.sql("INSERT INTO lwumask.db.t VALUES (1, 1)")
      val (list, manifests, data) = written(t.refresh())
      assert(manifests.nonEmpty && data.nonEmpty)
      for (p <- list +: manifests ++: data)
        assert(mode(local(p)) == "rw-------", p)
    } finally spark.conf.unset("fs.permissions.umask-mode")
  }
}
