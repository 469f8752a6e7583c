package graft.io

import java.net.URI
import java.nio.file.{FileSystems, Files}
import java.nio.file.attribute.PosixFilePermission

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, LocalFileSystem, Path,
  RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.ReflectionUtils

/** Hadoop's raw local FileSystem with one difference: a mode is set with
  * a `chmod(2)` syscall (`Files.setPosixFilePermissions`) instead of the
  * forked `chmod` process Hadoop falls back to when `libhadoop` is not
  * loaded — one process per file, `.crc` sidecar and new directory.
  * Every caller of `setPermission` (create, mkdir-p, the checksum
  * sidecar) passes through here with the mode Hadoop derived from
  * `fs.permissions.umask-mode`; modes with bits outside `0777` (sticky,
  * setuid) and non-POSIX stores keep Hadoop's own path. */
class SyscallModeRawFileSystem extends RawLocalFileSystem {
  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val mode = permission.toShort.toInt
    if ((mode & ~0x1ff) != 0 || !SyscallModeRawFileSystem.posix)
      super.setPermission(p, permission)
    else {
      val perms = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
      val all = PosixFilePermission.values // OWNER_READ (0400) first
      var k = 0
      while (k < 9) {
        if ((mode & (0x100 >> k)) != 0) perms.add(all(k))
        k += 1
      }
      Files.setPosixFilePermissions(pathToFile(p).toPath, perms)
    }
  }
}

private object SyscallModeRawFileSystem {
  val posix: Boolean =
    FileSystems.getDefault.supportedFileAttributeViews.contains("posix")
}

/** The stock checksumming `LocalFileSystem` over
  * [[SyscallModeRawFileSystem]]: file bytes, `.crc` sidecars and their
  * verification on read, mkdir-p, `create(overwrite = false)` failing on
  * an existing file, and the modes themselves are all Hadoop's. */
class GraftLocalFileSystem extends LocalFileSystem(new SyscallModeRawFileSystem)

/** Builds or names a [[GraftLocalFileSystem]] for a configuration; both
  * stand aside when the configuration names its own `fs.file.impl`. */
object GraftLocalFileSystem {
  private def unclaimed(conf: Configuration): Boolean =
    conf.get("fs.file.impl") == null

  /** A new instance configured and initialised from `conf`, as Hadoop's
    * `FileSystem.get` builds its own local FileSystem. */
  def apply(conf: Configuration): Option[FileSystem] =
    if (!unclaimed(conf)) None
    else {
      val fs = ReflectionUtils.newInstance(classOf[GraftLocalFileSystem], conf)
      fs.initialize(URI.create("file:///"), conf)
      Some(fs)
    }

  /** Make `conf` resolve `file:` paths to a new [[GraftLocalFileSystem]]
    * built from `conf` itself. The shared FileSystem cache is keyed by
    * scheme and user, not by configuration, so with it on a path would
    * resolve to whichever local FileSystem was cached first. */
  def install(conf: Configuration): Unit =
    if (unclaimed(conf)) {
      conf.set("fs.file.impl", classOf[GraftLocalFileSystem].getName)
      conf.setBoolean("fs.file.impl.disable.cache", true)
    }
}
