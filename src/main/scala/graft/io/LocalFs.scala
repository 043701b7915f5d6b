package graft.io

import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission

import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** The `file:` FileSystem of graft sessions (`spark.hadoop.fs.file.impl`,
  * set by [[graft.Engine.withLocalIo]]): Hadoop's checksummed
  * LocalFileSystem, `.crc` side files included, over a raw local FS
  * that changes permissions without spawning a process.
  *
  * Without native `libhadoop`, stock RawLocalFileSystem.setPermission
  * execs `chmod` — and create and mkdirs both call it, so every
  * checkpoint, state-store and sink file a streaming trigger writes
  * paid a fork (1,603 `chmod` processes in one perfbench `stream`
  * run). The POSIX bits written are the same. */
class LocalFs extends LocalFileSystem(new LocalFs.Raw)

object LocalFs {

  /** RawLocalFileSystem whose only override is [[setPermission]]. */
  class Raw extends RawLocalFileSystem {
    /** chmod through `Files.setPosixFilePermissions`. The nine
      * rwx bits are all NIO can express: a mode carrying the sticky
      * bit keeps the stock path. */
    override def setPermission(p: Path, permission: FsPermission): Unit =
      if (permission.getStickyBit) super.setPermission(p, permission)
      else Files.setPosixFilePermissions(pathToFile(p).toPath,
        posixBits(permission.toShort))
  }

  /** The rwx bits of `mode` as NIO permissions. `PosixFilePermission`
    * declares them from owner-read (0400) down to others-execute
    * (0001), so ordinal `i` is bit `8 - i`. */
  private def posixBits(mode: Int): java.util.Set[PosixFilePermission] = {
    val out = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
    PosixFilePermission.values.foreach { b =>
      if ((mode >> (8 - b.ordinal) & 1) == 1) out.add(b)
    }
    out
  }
}
