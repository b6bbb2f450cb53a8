package graftbench

import java.util.concurrent.atomic.AtomicLong

import org.apache.hadoop.fs.{FSDataInputStream, FSDataOutputStream, FileStatus, LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable

/** The local file system with per-call counters. Hadoop's local file
  * system reports bytes but no operation counts, so the traced run installs
  * this class as `fs.file.impl`; the untraced run keeps the stock one. */
class CountingFs extends LocalFileSystem {
  import CountingFs._

  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    reads.incrementAndGet(); super.open(f, bufferSize)
  }
  override def getFileStatus(f: Path): FileStatus = {
    reads.incrementAndGet(); super.getFileStatus(f)
  }
  override def listStatus(f: Path): Array[FileStatus] = {
    lists.incrementAndGet(); super.listStatus(f)
  }
  override def create(f: Path, permission: FsPermission, overwrite: Boolean,
      bufferSize: Int, replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream = {
    writes.incrementAndGet()
    super.create(f, permission, overwrite, bufferSize, replication, blockSize, progress)
  }
  override def rename(src: Path, dst: Path): Boolean = {
    writes.incrementAndGet(); super.rename(src, dst)
  }
  override def delete(f: Path, recursive: Boolean): Boolean = {
    writes.incrementAndGet(); super.delete(f, recursive)
  }
  override def mkdirs(f: Path, permission: FsPermission): Boolean = {
    writes.incrementAndGet(); super.mkdirs(f, permission)
  }
}

object CountingFs {
  val reads = new AtomicLong
  val writes = new AtomicLong
  val lists = new AtomicLong
}
