package graft.lake

import org.apache.hadoop.fs._
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable
import scala.collection.mutable

/** `FilterFileSystem` that counts the calls made on it, per method. Only
  * the outermost call counts: `exists` implemented through
  * `getFileStatus` is one call, as it is one REST round trip on ABFS.
  * Single-threaded use only (the tests). */
final class CountingFileSystem(inner: FileSystem) extends FilterFileSystem(inner) {
  private val counts = mutable.Map.empty[String, Int].withDefaultValue(0)
  private var depth = 0

  /** The calls `f` makes, by method; `f`'s exceptions propagate. */
  def callsOf(f: => Any): Map[String, Int] = {
    counts.clear()
    f
    counts.toMap
  }

  private def call[A](method: String)(f: => A): A =
    if (depth > 0) f
    else {
      depth = 1
      try f
      finally { depth = 0; counts(method) += 1 }
    }

  override def open(f: Path, bufferSize: Int): FSDataInputStream =
    call("open")(super.open(f, bufferSize))
  override def create(f: Path, permission: FsPermission, overwrite: Boolean, bufferSize: Int,
                      replication: Short, blockSize: Long, progress: Progressable): FSDataOutputStream =
    call("create")(super.create(f, permission, overwrite, bufferSize, replication, blockSize, progress))
  override def append(f: Path, bufferSize: Int, progress: Progressable): FSDataOutputStream =
    call("append")(super.append(f, bufferSize, progress))
  override def rename(src: Path, dst: Path): Boolean = call("rename")(super.rename(src, dst))
  override def delete(f: Path, recursive: Boolean): Boolean = call("delete")(super.delete(f, recursive))
  override def mkdirs(f: Path): Boolean = call("mkdirs")(super.mkdirs(f))
  override def mkdirs(f: Path, permission: FsPermission): Boolean = call("mkdirs")(super.mkdirs(f, permission))
  override def exists(f: Path): Boolean = call("exists")(super.exists(f))
  override def getFileStatus(f: Path): FileStatus = call("getFileStatus")(super.getFileStatus(f))
  override def listStatus(f: Path): Array[FileStatus] = call("listStatus")(super.listStatus(f))
  override def listStatusIterator(f: Path): RemoteIterator[FileStatus] =
    call("listStatusIterator")(super.listStatusIterator(f))
}
