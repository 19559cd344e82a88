package graft.sources

import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission

import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** The `file://` filesystem of every graft session (`fs.file.impl`, set
  * by [[graft.GraftSession]]): Hadoop's checksummed local filesystem over
  * a raw filesystem that sets permissions in-process. Without the native
  * Hadoop library, `RawLocalFileSystem.setPermission` forks a `chmod`
  * process for every file and directory it creates (about 2 ms each,
  * 130-odd per small store append); `java.nio` sets the same nine bits
  * with one syscall. */
class GraftLocalFileSystem extends LocalFileSystem(new GraftRawLocalFileSystem)

class GraftRawLocalFileSystem extends RawLocalFileSystem {
  /** The rwx bits through `java.nio`; a permission with any bit beyond
    * `0777` (sticky, setuid, setgid), or a file store without POSIX
    * attributes, goes through the parent method. */
  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val bits = permission.toShort.toInt
    if ((bits & ~0x1ff) != 0) super.setPermission(p, permission)
    else {
      // PosixFilePermission declares owner, group, others × r, w, x in
      // the order of the mode bits, high bit first
      val set = new java.util.HashSet[PosixFilePermission]
      PosixFilePermission.values.zipWithIndex.foreach { case (perm, i) =>
        if ((bits & (0x100 >> i)) != 0) set.add(perm)
      }
      try Files.setPosixFilePermissions(pathToFile(p).toPath, set)
      catch {
        case _: UnsupportedOperationException => super.setPermission(p, permission)
      }
    }
  }
}
