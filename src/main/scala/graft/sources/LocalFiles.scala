package graft.sources

import java.io.FileNotFoundException
import java.net.URI
import java.nio.file.{Files, NoSuchFileException}
import java.nio.file.attribute.PosixFilePermissions

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus,
  FsConstants, FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** The `file:` scheme without forked processes, for both Hadoop APIs.
  *
  * Without native `libhadoop`, Hadoop's local file system runs a
  * `chmod` process for every file or directory it creates with a mode
  * and a `readlink` process for every `getFileLinkStatus`, which
  * `FileContext.rename` calls on both sides. Every streaming checkpoint
  * (offsets and commits logs, state-store deltas, file-source and sink
  * metadata) and every parquet part file goes through those paths, so a
  * micro-batch forked ~130 processes. The classes below do the same two
  * things through `java.nio.file` system calls and inherit everything
  * else, so the bytes, permission bits and `.crc` sidecars on disk are
  * the ones Hadoop's `LocalFileSystem` / `LocalFs` write.
  *
  * [[graft.GraftSession]] binds them with [[SparkConf]].
  */
object LocalFiles {

  /** Spark conf entries binding `file:` to the fork-free classes:
    * `FileSystem` (the checksummed [[ForkFreeLocalFileSystem]]) and
    * `FileContext` (the checksummed [[ForkFreeLocalFs]], so Spark's
    * default checkpoint file manager uses it unchanged). */
  val SparkConf: Map[String, String] = Map(
    "spark.hadoop.fs.file.impl" -> classOf[ForkFreeLocalFileSystem].getName,
    "spark.hadoop.fs.AbstractFileSystem.file.impl" -> classOf[ForkFreeLocalFs].getName)
}

/** `RawLocalFileSystem` with fork-free `setPermission` and
  * `getFileLinkStatus`. */
class ForkFreeRawLocalFileSystem extends RawLocalFileSystem {

  /** `chmod` through NIO. NIO cannot set the sticky bit, so a sticky
    * mode keeps Hadoop's `chmod` process. Unlike `chmod` with an octal
    * mode, NIO also clears a directory's inherited set-group-ID bit. */
  override def setPermission(p: Path, permission: FsPermission): Unit =
    if (permission.getStickyBit) super.setPermission(p, permission)
    else {
      val bits = permission.getUserAction.SYMBOL + permission.getGroupAction.SYMBOL +
        permission.getOtherAction.SYMBOL
      try Files.setPosixFilePermissions(pathToFile(p).toPath, PosixFilePermissions.fromString(bits))
      catch { case e: NoSuchFileException => throw new FileNotFoundException(e.getMessage) }
    }

  /** An lstat decides whether `f` is a link: a path that is not one gets
    * `getFileStatus(f)`, which is what Hadoop returns when `readlink`
    * prints nothing; a real link keeps Hadoop's own resolution. */
  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
    else getFileStatus(f)
}

/** `fs.file.impl`: Hadoop's checksummed `LocalFileSystem` over
  * [[ForkFreeRawLocalFileSystem]]. */
class ForkFreeLocalFileSystem extends LocalFileSystem(new ForkFreeRawLocalFileSystem)

/** Hadoop's `RawLocalFs` (whose constructors are package-private) over
  * [[ForkFreeRawLocalFileSystem]], with its four overrides. */
class ForkFreeRawLocalFs(conf: Configuration) extends DelegateToFileSystem(
    FsConstants.LOCAL_FS_URI, new ForkFreeRawLocalFileSystem, conf,
    FsConstants.LOCAL_FS_URI.getScheme, false) {
  override def getUriDefaultPort: Int = -1
  override def getServerDefaults: FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def isValidName(src: String): Boolean = true
}

/** `fs.AbstractFileSystem.file.impl`: Hadoop's `LocalFs`, a `ChecksumFs`
  * over [[ForkFreeRawLocalFs]]. `FileContext` builds it reflectively
  * from `(URI, Configuration)`. */
class ForkFreeLocalFs(uri: URI, conf: Configuration) extends ChecksumFs(new ForkFreeRawLocalFs(conf))
