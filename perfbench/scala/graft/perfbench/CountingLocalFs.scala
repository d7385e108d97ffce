package graft.perfbench

import org.apache.hadoop.fs.{FSDataInputStream, FSDataOutputStream, FileStatus, LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable

/** The local file system with its operations counted (its Hadoop
  * `FileSystem.Statistics` count bytes but no operations): opens and
  * status lookups as reads, listings, and creates, renames, deletes and
  * mkdirs as writes. Installed for traced runs only, through
  * `spark.hadoop.fs.file.impl`. */
class CountingLocalFs extends LocalFileSystem {
  import CountingLocalFs._

  override def open(p: Path, bufferSize: Int): FSDataInputStream = {
    reads.increment(); super.open(p, bufferSize)
  }
  override def getFileStatus(p: Path): FileStatus = {
    reads.increment(); super.getFileStatus(p)
  }
  override def listStatus(p: Path): Array[FileStatus] = {
    lists.increment(); super.listStatus(p)
  }
  override def create(p: Path, permission: FsPermission, overwrite: Boolean,
      bufferSize: Int, replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream = {
    writes.increment()
    super.create(p, permission, overwrite, bufferSize, replication, blockSize, progress)
  }
  override def rename(src: Path, dst: Path): Boolean = {
    writes.increment(); super.rename(src, dst)
  }
  override def delete(p: Path, recursive: Boolean): Boolean = {
    writes.increment(); super.delete(p, recursive)
  }
  override def mkdirs(p: Path, permission: FsPermission): Boolean = {
    writes.increment(); super.mkdirs(p, permission)
  }
}

object CountingLocalFs {
  val reads, lists, writes = new java.util.concurrent.atomic.LongAdder
}
