package graft.streaming

import java.io.File
import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission

import scala.annotation.unused
import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsConstants, FsServerDefaults, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's `file:` FileContext filesystem (`LocalFs`), minus its process
  * forks: what Spark's streaming checkpoint managers write to local disk.
  *
  * Without Hadoop's native library, `RawLocalFileSystem` forks `chmod` for
  * every file and `.crc` sidecar it creates, and `readlink` four times per
  * rename. A graft.Main micro-batch writes its offset log, its commit log
  * and one set of state-store files per partition, so it paid about 100
  * forks, ~5 ms each. This is `LocalFs` (a `ChecksumFs` over a
  * `DelegateToFileSystem`) with two overrides on the raw filesystem:
  *  - `setPermission` sets the same mode bits through
  *    `Files.setPosixFilePermissions`; a sticky bit still goes to `chmod`.
  *  - `getFileLinkStatus` asks `readlink` only when the path string it
  *    would pass names a symbolic link. FileContext hands it qualified
  *    paths (`file:/…`), relative names that never exist, so it never does.
  * File names, sizes, modes and `.crc` sidecars are the same as `LocalFs`'s.
  * Bound to `file:` by [[NoForkLocalFs.SessionConf]]; FileContext builds
  * it through the `(URI, Configuration)` constructor, so `uri` stays
  * although `LocalFs` ignores it too.
  */
final class NoForkLocalFs(@unused uri: URI, conf: Configuration)
  extends ChecksumFs(new NoForkLocalFs.Raw(conf))

object NoForkLocalFs {

  /** Spark conf that binds `file:` FileContexts to this class, on the
    * driver and, through the Hadoop conf Spark ships with state-store
    * tasks, on the executors. */
  val SessionConf: Map[String, String] =
    Map("spark.hadoop.fs.AbstractFileSystem.file.impl" -> classOf[NoForkLocalFs].getName)

  /** Hadoop's `RawLocalFs` over [[RawFs]]. */
  private final class Raw(conf: Configuration)
      extends DelegateToFileSystem(FsConstants.LOCAL_FS_URI, new RawFs, conf,
        FsConstants.LOCAL_FS_URI.getScheme, false) {
    override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
    override def getServerDefaults: FsServerDefaults = LocalConfigKeys.getServerDefaults
    override def isValidName(src: String): Boolean = true
  }

  private final class RawFs extends RawLocalFileSystem {
    override def setPermission(p: Path, permission: FsPermission): Unit = {
      val mode = permission.toShort.toInt
      if ((mode & ~0x1ff) != 0) super.setPermission(p, permission)
      else Files.setPosixFilePermissions(pathToFile(p).toPath, // OWNER_READ = 0400 … OTHERS_EXECUTE = 01
        PosixFilePermission.values.filter(bit => (mode & (0x100 >> bit.ordinal)) != 0).toSet.asJava)
    }

    override def getFileLinkStatus(f: Path): FileStatus =
      if (Files.isSymbolicLink(new File(f.toString).toPath)) super.getFileLinkStatus(f)
      else getFileStatus(f)
  }
}
