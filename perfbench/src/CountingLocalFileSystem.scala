package graft.perfbench

import org.apache.hadoop.fs.{FSDataInputStream, FSDataOutputStream, FileStatus, LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable

/** The local filesystem, counting its metadata and open/create calls in
  * the Hadoop `FileSystem.Statistics` read/write operation counters,
  * which the stock local filesystem leaves at zero (it counts bytes
  * only). Installed as `fs.file.impl`, with the filesystem cache off so
  * no stock instance created earlier is reused, for traced runs: the
  * tracer's `fs_ops` counter then sees the listing, probing, opening and
  * renaming the index protocols do. */
class CountingLocalFileSystem extends LocalFileSystem {
  // the local filesystem leaves its own statistics unset (only the raw
  // filesystem under it counts bytes); give it an entry to count ops in
  override def initialize(name: java.net.URI, conf: org.apache.hadoop.conf.Configuration): Unit = {
    super.initialize(name, conf)
    statistics = org.apache.hadoop.fs.FileSystem.getStatistics(name.getScheme, getClass)
  }

  private def read(): Unit = if (statistics != null) statistics.incrementReadOps(1)
  private def write(): Unit = if (statistics != null) statistics.incrementWriteOps(1)

  override def listStatus(p: Path): Array[FileStatus] = { read(); super.listStatus(p) }
  override def getFileStatus(p: Path): FileStatus = { read(); super.getFileStatus(p) }
  override def open(p: Path, bufferSize: Int): FSDataInputStream = { read(); super.open(p, bufferSize) }
  override def create(p: Path, permission: FsPermission, overwrite: Boolean,
                      bufferSize: Int, replication: Short, blockSize: Long,
                      progress: Progressable): FSDataOutputStream = {
    write(); super.create(p, permission, overwrite, bufferSize, replication, blockSize, progress)
  }
  override def rename(src: Path, dst: Path): Boolean = { write(); super.rename(src, dst) }
  override def delete(p: Path, recursive: Boolean): Boolean = { write(); super.delete(p, recursive) }
  override def mkdirs(p: Path, permission: FsPermission): Boolean = { write(); super.mkdirs(p, permission) }
}
