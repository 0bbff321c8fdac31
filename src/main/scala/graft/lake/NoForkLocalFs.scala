package graft.lake

import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission

import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** The `file:` FileSystem lake writes go through: Hadoop's checksummed
  * [[LocalFileSystem]] (same `.crc` sidecars, same verification on read)
  * over a raw layer that sets permissions in-process.
  *
  * Without libhadoop, `RawLocalFileSystem.setPermission` forks a `chmod`
  * process (`Shell.execCommand`), and the raw layer calls it for every
  * directory it makes and every file it creates, `.crc` sidecars included:
  * a DataFrame parquet write forks it 6 times per job and 3 per task. Here
  * the same bits go through `Files.setPosixFilePermissions`, so files and
  * directories end with the modes they always had (0644 and 0755 under
  * Hadoop's default 022 umask).
  *
  * Bound by `spark.hadoop.fs.file.impl` in `graft.queries.Tables.sessionConf`.
  * Hadoop caches one FileSystem per scheme for the JVM, so the binding must
  * be in the conf of the first `file:` lookup. It must stay a
  * `LocalFileSystem`: Hadoop and Spark cast `FileSystem.getLocal`. */
class NoForkLocalFs extends LocalFileSystem(new NoForkLocalFs.Raw)

object NoForkLocalFs {
  /** the rwx bits of `mode` (0..0777) as a POSIX permission set; the enum
    * declares OWNER_READ .. OTHERS_EXECUTE, i.e. bit 8 down to bit 0 */
  private def posix(mode: Int): java.util.Set[PosixFilePermission] = {
    val s = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
    PosixFilePermission.values.zipWithIndex.foreach { case (b, i) =>
      if ((mode & (1 << (8 - i))) != 0) s.add(b)
    }
    s
  }

  class Raw extends RawLocalFileSystem {
    override def setPermission(p: Path, permission: FsPermission): Unit = {
      val mode = permission.toShort & 0xffff
      // sticky bit and the like have no PosixFilePermission: Hadoop's path
      if ((mode & ~0x1ff) != 0) super.setPermission(p, permission)
      else Files.setPosixFilePermissions(pathToFile(p).toPath, posix(mode))
    }
  }
}
