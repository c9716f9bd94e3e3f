package graft.io

import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsServerDefaults,
  LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's `file:` file system without subprocesses. Without libhadoop,
  * stock [[RawLocalFileSystem]] forks `chmod` for every permission it
  * sets (each `create` and `mkdirs`) and `readlink` for every link
  * status (each `FileContext` rename checks source and destination), so
  * one checkpoint file costs ~10 processes and ~30 ms. Two overrides do
  * the same through java.nio; anything the nine rwx bits or a plain
  * file/dir cannot express (sticky bit, symlinks) still goes to `super`,
  * so results equal stock Hadoop's. */
class NioRawLocalFileSystem extends RawLocalFileSystem {

  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val bits = permission.toShort.toInt
    if ((bits & ~0x1ff) != 0) super.setPermission(p, permission)
    else {
      // values() runs OWNER_READ .. OTHERS_EXECUTE: mode bit 8 down to 0
      val perms = PosixFilePermission.values.zipWithIndex
        .collect { case (perm, i) if (bits & (0x100 >> i)) != 0 => perm }
      Files.setPosixFilePermissions(pathToFile(p).toPath, java.util.Set.of(perms: _*)): Unit
    }
  }

  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
    else getFileStatus(f)
}

/** `fs.file.impl`: the `FileSystem` API, wrapped like Hadoop's own
  * [[LocalFileSystem]] (same `.crc` sidecars). */
class NioLocalFileSystem extends LocalFileSystem(new NioRawLocalFileSystem)

/** `fs.AbstractFileSystem.file.impl`: the `FileContext` API Spark's
  * checkpoint manager writes through — Hadoop's `LocalFs` (a
  * [[ChecksumFs]] over `RawLocalFs`) with the raw layer swapped. */
class NioLocalFs(uri: URI, conf: Configuration) extends ChecksumFs(new NioRawLocalFs(uri, conf))

/** Hadoop's `RawLocalFs` over [[NioRawLocalFileSystem]]. */
private[io] class NioRawLocalFs(uri: URI, conf: Configuration)
    extends DelegateToFileSystem(uri, new NioRawLocalFileSystem, conf, "file", false) {
  override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def isValidName(src: String): Boolean = true
}
