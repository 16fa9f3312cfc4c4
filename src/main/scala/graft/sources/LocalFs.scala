package graft.sources

import java.nio.file.{FileSystems, Files}
import java.nio.file.attribute.PosixFilePermission

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** The engine's `file:` file system (`fs.file.impl`, set by
  * `GraftSession.StaticConfs`): Hadoop's checksummed [[LocalFileSystem]]
  * over [[LocalFs.Raw]], so files, `.crc` files, `_SUCCESS` and modes are
  * laid out exactly as the stock one lays them out.
  *
  * Without libhadoop, the stock raw file system sets every permission by
  * forking `chmod`: a single-file parquet write forks 8 times on an append
  * and 9 when it creates its path (the output and committer directories,
  * the data file, `_SUCCESS` and their `.crc` files). Spark's write tasks
  * in local mode share the driver's cached instance, so they fork nothing
  * either.
  */
class LocalFs extends LocalFileSystem(new LocalFs.Raw)

object LocalFs {

  /** Whether the default file system has a POSIX attribute view. */
  private val posix = FileSystems.getDefault.supportedFileAttributeViews.contains("posix")

  /** Each POSIX permission with the index of its mode bit (others'
    * execute is bit 0). */
  private val bits = PosixFilePermission.values.toSeq.reverse.zipWithIndex

  /** A raw local file system that sets permissions in-process with
    * `Files.setPosixFilePermissions`. It takes the stock path for a
    * sticky bit (which NIO cannot set) and on a file store with no POSIX
    * view. */
  class Raw extends RawLocalFileSystem {
    override def setPermission(p: Path, permission: FsPermission): Unit =
      if (permission.getStickyBit || !posix) super.setPermission(p, permission)
      else {
        val mode = permission.toShort
        val set = bits.collect { case (b, i) if (mode & (1 << i)) != 0 => b }.toSet.asJava
        try Files.setPosixFilePermissions(pathToFile(p).toPath, set)
        catch { case _: UnsupportedOperationException => super.setPermission(p, permission) }
      }
  }
}
