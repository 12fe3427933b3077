package graft.sources

import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission

import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's raw local file system with an in-process `setPermission`.
  *
  * Without libhadoop, `RawLocalFileSystem.setPermission` forks a
  * `chmod` process. Every local directory (`mkOneDirWithMode`) and
  * every created file (the `LocalFSFileOutputStream` constructor)
  * reaches it through this one virtual method, so a parquet write, a
  * stream checkpoint or a state-store delta each paid one fork per
  * path. This override sets a mode with only rwx bits through
  * `Files.setPosixFilePermissions`, one chmod(2) in the JVM, the same
  * call libhadoop's native path makes. The sticky bit, or a file store
  * without POSIX permissions, still goes to the stock method. A missing
  * path throws `NoSuchFileException`, an `IOException`, as the stock
  * `chmod` failure does.
  */
class ForkFreeRawLocalFileSystem extends RawLocalFileSystem {
  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val mode = permission.toShort.toInt
    if ((mode & ~ForkFreeRawLocalFileSystem.Rwx) != 0) super.setPermission(p, permission)
    else
      try Files.setPosixFilePermissions(pathToFile(p).toPath, ForkFreeRawLocalFileSystem.posix(mode))
      catch { case _: UnsupportedOperationException => super.setPermission(p, permission) }
  }
}

object ForkFreeRawLocalFileSystem {

  /** Octal 0777: the owner, group and other rwx bits. */
  private val Rwx = 0x1ff

  // declared OWNER_READ (0400) down to OTHERS_EXECUTE (0001)
  private val bits = PosixFilePermission.values

  /** The POSIX permission set of an rwx-only `mode`. */
  private def posix(mode: Int): java.util.Set[PosixFilePermission] = {
    val set = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
    bits.indices.foreach(i => if ((mode & (0x100 >> i)) != 0) set.add(bits(i)))
    set
  }
}

/** The checksummed local file system (`file:`) over
  * [[ForkFreeRawLocalFileSystem]]: Hadoop still writes and verifies the
  * `.crc` sidecars. `GraftSession.build` installs it as `fs.file.impl`.
  */
class ForkFreeLocalFileSystem extends LocalFileSystem(new ForkFreeRawLocalFileSystem)
