package graft.sinks

import java.io.File
import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FileSystem, FsConstants, FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.io.nativeio.NativeIO

/** The `file:` scheme without a child process per file.
  *
  * Without native libhadoop (Spark ships none), Hadoop's
  * `RawLocalFileSystem` runs `chmod` for every file, `.crc` file and
  * directory it creates, and `readlink` for both ends of every
  * `FileContext` rename (the streaming checkpoint's logs). Each start
  * costs milliseconds on the driver or a task thread; the sinks and the
  * checkpoint pay it on every micro-batch. [[NioRawLocalFileSystem]] does
  * both through NIO and defers to Hadoop for everything else. [[install]]
  * (called by `graft.Graft.prep`) makes it the `file:` file system of the
  * SparkContext, as a `LocalFileSystem` for DataFrame writers and as a
  * `ChecksumFs` for `FileContext`.
  */
object LocalFs {
  private val FsKey = "fs.file.impl"
  private val AbstractFsKey = "fs.AbstractFileSystem.file.impl"

  /** Points both `file:` keys of `conf` at the NIO file system, unless a
    * key holds a value other than Hadoop's default (a user's choice
    * stays), and drops a `file:` FileSystem of another class that the JVM
    * already cached: the cache key ignores the configuration, so the
    * cached instance would otherwise keep serving. Idempotent. */
  def install(conf: Configuration): Unit = {
    if (Option(conf.getTrimmed(FsKey)).forall(_.isEmpty)) { // core-default.xml: empty
      conf.set(FsKey, classOf[NioLocalFileSystem].getName)
      val cached = FileSystem.get(FsConstants.LOCAL_FS_URI, conf)
      if (!cached.isInstanceOf[NioLocalFileSystem]) {
        cached.close() // closing a cached FileSystem removes it from the cache
        FileSystem.get(FsConstants.LOCAL_FS_URI, conf)
      }
    }
    if (conf.get(AbstractFsKey) == classOf[org.apache.hadoop.fs.local.LocalFs].getName)
      conf.set(AbstractFsKey, classOf[NioLocalFs].getName)
  }
}

/** `RawLocalFileSystem` with `chmod` and `readlink` done in-process. */
class NioRawLocalFileSystem extends RawLocalFileSystem {

  /** The same 9 mode bits `chmod` would set. Native IO, and modes with
    * setuid, setgid or sticky bits, keep Hadoop's path. */
  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val mode = permission.toShort & 0xffff
    if (NativeIO.isAvailable || (mode & ~0x1ff) != 0) super.setPermission(p, permission)
    else {
      val bits = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
      // OWNER_READ (0400) first, OTHERS_EXECUTE (0001) last
      PosixFilePermission.values.foreach(b => if ((mode & (0x100 >> b.ordinal)) != 0) bits.add(b))
      Files.setPosixFilePermissions(pathToFile(p).toPath, bits)
    }
  }

  /** Hadoop's answer is `getFileStatus(f)` unless `readlink` succeeds on
    * `new File(f.toString)`, i.e. unless that file is a symlink; only
    * then is the `readlink` process needed. */
  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(new File(f.toString).toPath)) super.getFileLinkStatus(f)
    else getFileStatus(f)
}

/** The checksummed `file:` FileSystem over [[NioRawLocalFileSystem]].
  * Renaming onto an existing file returns false, as Hive's
  * `ProxyLocalFileSystem` does (which Hadoop's service lookup picks for
  * `file:` when `hive-exec` is on the class path). */
class NioLocalFileSystem extends LocalFileSystem(new NioRawLocalFileSystem) {
  override def rename(src: Path, dst: Path): Boolean =
    !isFile(dst) && super.rename(src, dst)
}

/** The `file:` `AbstractFileSystem` (what `FileContext` and so the
  * streaming checkpoint use): Hadoop's `LocalFs` over
  * [[NioRawLocalFileSystem]]. `AbstractFileSystem.get` calls the
  * `(URI, Configuration)` constructor; like `LocalFs`, it ignores the URI. */
class NioLocalFs(uri: URI, conf: Configuration) extends ChecksumFs(new NioRawLocalFs(conf))

/** Hadoop's `RawLocalFs` (whose constructors are package-private) over
  * [[NioRawLocalFileSystem]]. */
class NioRawLocalFs(conf: Configuration) extends DelegateToFileSystem(
    FsConstants.LOCAL_FS_URI, new NioRawLocalFileSystem, conf,
    FsConstants.LOCAL_FS_URI.getScheme, false) {
  override def getUriDefaultPort: Int = -1
  override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def getServerDefaults(): FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def isValidName(src: String): Boolean = true
}
