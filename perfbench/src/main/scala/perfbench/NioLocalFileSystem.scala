package perfbench

import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsServerDefaults, LocalFileSystem, Path,
  RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's local file system, without a process start per file operation.
  *
  * Without its native library, Hadoop's local file system starts a `chmod`
  * process to set the permission of every file it creates, and a
  * `readlink` process for every link status it is asked for, which
  * `FileContext.rename` asks for. A streaming query writes and renames
  * several files per micro-batch (offset and commit logs, state store
  * deltas and snapshots), so those process starts set much of a
  * micro-batch's floor and make it follow the host's load. This class sets
  * the same permission bits through java.nio, as the native library does,
  * and looks a path up as a link only when java.nio says it is one.
  * `run.py` installs it for the `file` scheme, through both Hadoop file
  * system APIs. */
final class NioRawLocalFileSystem extends RawLocalFileSystem {
  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
    else getFileStatus(f)

  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val mode = permission.toShort.toInt
    if ((mode & ~0x1ff) != 0) super.setPermission(p, permission) // sticky bit
    else {
      // PosixFilePermission lists owner, group, others, each read, write,
      // execute: the mode's bits from the highest down.
      val set = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
      PosixFilePermission.values.zipWithIndex.foreach { case (bit, i) =>
        if (((mode >> (8 - i)) & 1) == 1) set.add(bit)
      }
      Files.setPosixFilePermissions(pathToFile(p).toPath, set)
    }
  }
}

/** `fs.file.impl`: the checksummed local `FileSystem` over [[NioRawLocalFileSystem]]. */
final class NioLocalFileSystem extends LocalFileSystem(new NioRawLocalFileSystem)

/** The `AbstractFileSystem` (FileContext) view of [[NioRawLocalFileSystem]],
  * as `org.apache.hadoop.fs.local.RawLocalFs` is of `RawLocalFileSystem`. */
final class NioRawLocalFs(uri: URI, conf: Configuration)
    extends DelegateToFileSystem(uri, new NioRawLocalFileSystem, conf, "file", false) {
  override def getUriDefaultPort: Int = -1
  override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults()
  override def isValidName(src: String): Boolean = true
}

/** `fs.AbstractFileSystem.file.impl`: the checksummed local
  * `AbstractFileSystem`, as `org.apache.hadoop.fs.local.LocalFs`. */
final class NioLocalFs(uri: URI, conf: Configuration) extends ChecksumFs(new NioRawLocalFs(uri, conf))
