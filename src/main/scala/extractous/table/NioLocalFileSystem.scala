package extractous.table

import org.apache.hadoop.fs.{Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.{DataFrameWriter, Dataset}

import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission
import scala.jdk.CollectionConverters._

/** The `file:` file system every parquet write in this project goes through.
  *
  * Without Hadoop's native library, `RawLocalFileSystem.setPermission` forks
  * a `chmod` process for every directory and file a write creates (day dirs,
  * task-attempt dirs, `_temporary`, part files), and each fork blocks the
  * thread that made it. This subclass applies the same permission bits with
  * `Files.setPosixFilePermissions`. A bit NIO cannot express (sticky) is left
  * to Hadoop; no write here sets one.
  *
  * Being a raw file system, it writes no `.crc` side files. With no
  * `_SUCCESS` marker either, a write leaves only its part files.
  */
final class NioLocalFileSystem extends RawLocalFileSystem {
  override def setPermission(p: Path, permission: FsPermission): Unit =
    if (permission.getStickyBit) super.setPermission(p, permission)
    else Files.setPosixFilePermissions(pathToFile(p).toPath, NioLocalFileSystem.posix(permission.toShort))
}

object NioLocalFileSystem {
  /** `rwxrwxrwx` bits to NIO permissions: the enum lists owner read first,
    * so ordinal `i` is bit `8 - i` of the mode.
    */
  private[extractous] def posix(mode: Short): java.util.Set[PosixFilePermission] =
    PosixFilePermission.values.toSet.filter(p => (mode & (1 << (8 - p.ordinal))) != 0).asJava

  /** Hadoop settings bound to one write only. The JVM's cached `file:` file
    * system, which reads and other code use, stays Hadoop's `LocalFileSystem`:
    * the write's own instance is created outside the cache.
    */
  private val WriteOptions = Map(
    "fs.file.impl" -> classOf[NioLocalFileSystem].getName,
    "fs.file.impl.disable.cache" -> "true",
    "mapreduce.fileoutputcommitter.marksuccessfuljobs" -> "false")

  /** `ds.write` on this file system. Other schemes ignore `fs.file.impl`. */
  def write[T](ds: Dataset[T]): DataFrameWriter[T] = ds.write.options(WriteOptions)
}
