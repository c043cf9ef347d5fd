package perfbench

import org.apache.hadoop.fs.{FSDataInputStream, FSDataOutputStream, FileStatus, LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable

/** The local filesystem, counting open, list and status calls as read ops
  * and create, rename, delete and mkdirs calls as write ops, per calling
  * thread (the local filesystem's own statistics count only bytes).
  * Installed for `file:` paths in traced runs only, so the ops layer can
  * report the client thread's metadata I/O per op. */
class CountingLocalFileSystem extends LocalFileSystem {
  import CountingLocalFileSystem.ops
  private def read(): Unit = ops.get()(0) += 1
  private def write(): Unit = ops.get()(1) += 1

  override def open(f: Path, bufferSize: Int): FSDataInputStream = { read(); super.open(f, bufferSize) }
  override def listStatus(f: Path): Array[FileStatus] = { read(); super.listStatus(f) }
  override def getFileStatus(f: Path): FileStatus = { read(); super.getFileStatus(f) }
  override def create(f: Path, permission: FsPermission, overwrite: Boolean, bufferSize: Int,
                      replication: Short, blockSize: Long, progress: Progressable): FSDataOutputStream = {
    write()
    super.create(f, permission, overwrite, bufferSize, replication, blockSize, progress)
  }
  override def rename(src: Path, dst: Path): Boolean = { write(); super.rename(src, dst) }
  override def delete(f: Path, recursive: Boolean): Boolean = { write(); super.delete(f, recursive) }
  override def mkdirs(f: Path, permission: FsPermission): Boolean = { write(); super.mkdirs(f, permission) }
}

object CountingLocalFileSystem {
  /** (read ops, write ops) of the current thread. */
  val ops: ThreadLocal[Array[Long]] = ThreadLocal.withInitial(() => new Array[Long](2))
}
