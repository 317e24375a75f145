package lakebench

import org.apache.hadoop.fs.{FSDataInputStream, FSDataOutputStream, FileStatus, LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable

/** The local filesystem with its operations counted in the standard
  * Hadoop `FileSystem.Statistics` (read ops: open, stat, list; write
  * ops: create, mkdirs, rename, delete), which the local filesystem
  * leaves at zero. The traced run installs it as `fs.file.impl`. */
class CountingLocalFileSystem extends LocalFileSystem {
  // LocalFileSystem.initialize never sets the inherited `statistics`
  @annotation.nowarn("cat=deprecation")
  private val counts = org.apache.hadoop.fs.FileSystem.getStatistics("file", classOf[CountingLocalFileSystem])
  private def read[T](body: => T): T = { counts.incrementReadOps(1); body }
  private def write[T](body: => T): T = { counts.incrementWriteOps(1); body }

  override def open(f: Path, bufferSize: Int): FSDataInputStream = read(super.open(f, bufferSize))
  override def getFileStatus(f: Path): FileStatus = read(super.getFileStatus(f))
  override def listStatus(f: Path): Array[FileStatus] = read(super.listStatus(f))
  override def create(f: Path, permission: FsPermission, overwrite: Boolean, bufferSize: Int,
                      replication: Short, blockSize: Long, progress: Progressable): FSDataOutputStream =
    write(super.create(f, permission, overwrite, bufferSize, replication, blockSize, progress))
  override def mkdirs(f: Path, permission: FsPermission): Boolean = write(super.mkdirs(f, permission))
  override def rename(src: Path, dst: Path): Boolean = write(super.rename(src, dst))
  override def delete(f: Path, recursive: Boolean): Boolean = write(super.delete(f, recursive))
}
