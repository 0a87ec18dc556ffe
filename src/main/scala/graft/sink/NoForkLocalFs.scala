package graft.sink

import java.net.URI
import java.nio.file.{Files, Paths}
import java.nio.file.attribute.PosixFilePermission
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsConstants,
  FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission
import scala.annotation.nowarn
import scala.jdk.CollectionConverters._

/** Hadoop's raw local filesystem without the processes it starts.
  *
  * Without Hadoop's native library, `RawLocalFileSystem` forks `chmod`
  * for every `setPermission` (each created file, `.crc` file and
  * directory) and `readlink` for every `getFileLinkStatus` (two per
  * `FileContext` rename, so two per checkpoint-log entry). A fork costs
  * milliseconds; the NIO calls below cost tenths of one. Both overrides
  * compute what the stock methods compute:
  *  - `setPermission` sets the same mode bits through
  *    `Files.setPosixFilePermissions`. A mode with the sticky bit, which
  *    NIO cannot set, goes to the stock method.
  *  - `getFileLinkStatus` asks `Files.isSymbolicLink` the question
  *    `FileUtil.readLink(new File(f.toString))` answers by forking, on
  *    the same string. A real link goes to the stock method; anything
  *    else gets `getFileStatus`, which is what the stock method returns
  *    when `readlink` prints nothing. A qualified `file:/…` path names no
  *    link as a plain string, so it always takes that branch, as it does
  *    in the stock method.
  */
class NoForkRawLocalFileSystem extends RawLocalFileSystem {

  override def setPermission(p: Path, permission: FsPermission): Unit =
    if (permission.getStickyBit) super.setPermission(p, permission)
    else {
      val mode = permission.toShort
      // PosixFilePermission's ordinals run OWNER_READ (mode bit 8) down
      // to OTHERS_EXECUTE (mode bit 0)
      val perms = PosixFilePermission.values.filter(b => (mode & (0x100 >> b.ordinal)) != 0)
      Files.setPosixFilePermissions(pathToFile(p).toPath, perms.toSet.asJava)
    }

  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(Paths.get(f.toString))) super.getFileLinkStatus(f)
    else getFileStatus(f)
}

/** `fs.file.impl`: the checksummed [[LocalFileSystem]] over
  * [[NoForkRawLocalFileSystem]], so `FileSystem.getLocal` still casts.
  *
  * Without this key, Hadoop resolves `file:` on Spark's classpath to
  * Hive's `ProxyLocalFileSystem` (hive-exec registers it as a service
  * after Hadoop's own class), a `LocalFileSystem` whose `rename` returns
  * false onto an existing file, as the `FileSystem` contract asks, where
  * the raw rename would replace it. `rename` keeps that answer. */
class NoForkLocalFileSystem extends LocalFileSystem(new NoForkRawLocalFileSystem) {
  @nowarn("cat=deprecation") // `isFile` is the check ProxyLocalFileSystem makes
  override def rename(src: Path, dst: Path): Boolean = !isFile(dst) && super.rename(src, dst)
}

/** `fs.AbstractFileSystem.file.impl`, the `FileContext` side (Spark's
  * checkpoint file manager renames through it): Hadoop's `LocalFs`, a
  * [[ChecksumFs]] over [[NoForkRawLocalFs]]. */
class NoForkLocalFs(uri: URI, conf: Configuration) extends ChecksumFs(new NoForkRawLocalFs(uri, conf))

/** Hadoop's `RawLocalFs` over [[NoForkRawLocalFileSystem]], with the
  * stock class's overrides (its constructors are package-private). */
class NoForkRawLocalFs(uri: URI, conf: Configuration)
    extends DelegateToFileSystem(uri, new NoForkRawLocalFileSystem, conf,
      FsConstants.LOCAL_FS_URI.getScheme, false) {
  override def getUriDefaultPort: Int = -1
  override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def getServerDefaults: FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def isValidName(src: String): Boolean = true
}
