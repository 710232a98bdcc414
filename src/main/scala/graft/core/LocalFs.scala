package graft.core

import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermissions

import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.io.nativeio.NativeIO
import org.apache.spark.sql.{DataFrameWriter, SparkSession}

/** Table writes to the local file system without a process per file.
  *
  * Without Hadoop's native library, `RawLocalFileSystem.setPermission`
  * runs `chmod` in a forked process, and a parquet write calls it for
  * every file and directory it creates: each task's output file and its
  * `.crc`, the commit protocol's `_temporary` directories and the
  * `_SUCCESS` marker. That is about 30 ms of a small table's save on a
  * 4-vCPU host. [[quiet]] points the write's `file:` scheme at
  * [[QuietLocalFileSystem]], which sets the same mode bits through
  * java.nio; the files, checksums and permissions written are the local
  * file system's own. A session with the native library, or with its own
  * `fs.file.impl`, writes as before.
  */
object LocalFs {
  private lazy val forks: Boolean = !NativeIO.isAvailable

  /** `w` with the write's local file system set to [[QuietLocalFileSystem]]
    * where Hadoop would fork for permissions.
    */
  def quiet[T](spark: SparkSession, w: DataFrameWriter[T]): DataFrameWriter[T] =
    if (!forks || spark.sparkContext.hadoopConfiguration.get("fs.file.impl") != null) w
    else w.option("fs.file.impl", classOf[QuietLocalFileSystem].getName)
      // the file system cache is keyed by scheme, not by implementation
      .option("fs.file.impl.disable.cache", "true")
}

/** `RawLocalFileSystem` whose `setPermission` sets the rwx bits through
  * java.nio instead of a forked `chmod`; a sticky bit, which java.nio
  * cannot set, still goes through `chmod`.
  */
final class QuietRawLocalFileSystem extends RawLocalFileSystem {
  override def setPermission(p: Path, permission: FsPermission): Unit =
    if (permission.getStickyBit) super.setPermission(p, permission)
    else Files.setPosixFilePermissions(pathToFile(p).toPath,
      PosixFilePermissions.fromString(permission.toString))
}

/** The checksummed local file system over [[QuietRawLocalFileSystem]]. */
final class QuietLocalFileSystem extends LocalFileSystem(new QuietRawLocalFileSystem)
