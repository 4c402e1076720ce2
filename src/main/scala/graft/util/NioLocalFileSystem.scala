package graft.util

import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission

import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's checksummed local filesystem (same `.crc` sidecars, same output
  * tree) whose permission changes need no process. Without `libhadoop`,
  * `RawLocalFileSystem.setPermission` forks `chmod` for every file and
  * directory it creates, so one parquet write of 64 bucket files forks a
  * few hundred processes. Here the rwx bits go through
  * `Files.setPosixFilePermissions`; bits NIO cannot express (sticky) and a
  * filesystem without POSIX attributes fall back to Hadoop's own call.
  *
  * The engine installs it per write, never per session: [[writeOptions]] go
  * on a `DataFrameWriter`, which puts them in that write's Hadoop conf on
  * the driver (job setup and commit) and in every write task, or into the
  * copied Hadoop conf of a write the driver makes itself (the resumable
  * run's manifest). `hdfs:` and `s3a:` outputs ignore them. */
class NioLocalFileSystem extends LocalFileSystem(new NioLocalFileSystem.Raw)

object NioLocalFileSystem {

  /** `DataFrameWriter.options` that make a `file:` output use this class.
    * Hadoop caches one `file:` FileSystem per JVM whatever the conf says,
    * so the cache is off for these writes. */
  val writeOptions: Map[String, String] = Map(
    "fs.file.impl" -> classOf[NioLocalFileSystem].getName,
    "fs.file.impl.disable.cache" -> "true")

  // PosixFilePermission's declaration order is owner rwx, group rwx, others
  // rwx: value i is mode bit 8 - i
  private val byBit = PosixFilePermission.values

  private[util] final class Raw extends RawLocalFileSystem {
    override def setPermission(p: Path, permission: FsPermission): Unit = {
      val mode = permission.toShort.toInt
      if ((mode & ~0x1ff) != 0) super.setPermission(p, permission)
      else {
        val perms = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
        var i = 0
        while (i < 9) {
          if ((mode & (0x100 >>> i)) != 0) perms.add(byBit(i))
          i += 1
        }
        try Files.setPosixFilePermissions(pathToFile(p).toPath, perms)
        catch { case _: UnsupportedOperationException => super.setPermission(p, permission) }
      }
    }
  }
}
