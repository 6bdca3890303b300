package graft.io

import java.io.File
import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's raw `file://` filesystem without a process per call.
  *
  * With no native `libhadoop` on the library path, `RawLocalFileSystem`
  * starts a `chmod` process for every file and directory it creates
  * (`setPermission`) and a `readlink` process for every
  * `getFileLinkStatus`, which `FileContext.rename` calls several times:
  * one atomic checkpoint write starts about ten processes. This class
  * answers both calls in the JVM and leaves every other call, and the
  * results, as Hadoop's:
  *  - `setPermission` sets the same nine bits with
  *    `Files.setPosixFilePermissions`. A sticky-bit mode, or a path that
  *    already carries a sticky or set-id bit, keeps Hadoop's `chmod`,
  *    whose numeric mode keeps a directory's set-id bits.
  *  - `getFileLinkStatus` of a path that is not a symlink is
  *    `getFileStatus`, which is what Hadoop returns once its `readlink`
  *    finds no link (it asks about `new File(path.toString)`, and so
  *    does this). Symlinks keep Hadoop's path. */
class ForkFreeRawLocalFileSystem extends RawLocalFileSystem {
  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val file = pathToFile(p).toPath
    val special = Files.getAttribute(file, "unix:mode").asInstanceOf[Int] & 0xe00 // 07000
    if (permission.getStickyBit || special != 0) super.setPermission(p, permission)
    else {
      val bits = permission.toShort
      val perms = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
      // values() runs owner r/w/x, group r/w/x, others r/w/x: bits 0400 … 0001
      PosixFilePermission.values.zipWithIndex.foreach { case (perm, i) =>
        if ((bits & (0x100 >> i)) != 0) perms.add(perm)
      }
      Files.setPosixFilePermissions(file, perms)
    }
  }

  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(new File(f.toString).toPath)) super.getFileLinkStatus(f)
    else getFileStatus(f)
}

/** The checksummed `FileSystem` over [[ForkFreeRawLocalFileSystem]]:
  * Hadoop's `LocalFileSystem`, `.crc` files included
  * (`fs.file.impl`). */
class ForkFreeLocalFileSystem extends LocalFileSystem(new ForkFreeRawLocalFileSystem)

/** `FileContext`'s view of [[ForkFreeRawLocalFileSystem]], as Hadoop's
  * `RawLocalFs` is of its raw filesystem (same port, server defaults
  * and name rule). */
class ForkFreeRawLocalFs(uri: URI, conf: Configuration)
    extends DelegateToFileSystem(uri, new ForkFreeRawLocalFileSystem, conf, "file", false) {
  override def getUriDefaultPort: Int = -1
  override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def getServerDefaults: FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def isValidName(src: String): Boolean = true
}

/** The checksummed `AbstractFileSystem` for `file://`, as Hadoop's
  * `LocalFs` (`fs.AbstractFileSystem.file.impl`). Spark's checkpoint
  * manager writes the offset WAL and commit log through it. */
class ForkFreeLocalFs(uri: URI, conf: Configuration)
    extends ChecksumFs(new ForkFreeRawLocalFs(uri, conf))
