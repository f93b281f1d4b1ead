package perfbench

import java.io.OutputStream
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.LongAdder
import org.apache.hadoop.fs._
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable
import scala.jdk.CollectionConverters._

/** Hadoop `FileSystem` wrapper that counts and times the calls
  * `LakeClient`'s path and data operations make on it, per method, and the
  * bytes moved through the streams it hands out. The benchmark passes it
  * to the public `new LakeClient(fs, root)` constructor, so the counts are
  * exactly the FS work each lake operation does (on ABFS each call is one
  * REST round trip).
  *
  * Only the outermost call of a thread counts: `exists` implemented via
  * `getFileStatus` is one call, not two. Stream reads, bulk stream writes
  * and stream closes are timed into [[seconds]]. An input stream is handed
  * out behind a buffer of the requested size, as the raw local FS and ABFS
  * hand theirs out, so a caller's single-byte reads are served from memory
  * and every read that reaches the FS is a timed bulk read. Single-byte
  * writes are counted but not timed, since a clock read per byte would
  * cost more than the byte. Each counted call is also recorded as an `fs`
  * span. */
final class CountingFs(inner: FileSystem, tracer: Tracer) extends FilterFileSystem(inner) {
  private val perMethod = new ConcurrentHashMap[String, LongAdder]()
  private val total = new LongAdder
  private val time = new LongAdder
  private val read = new LongAdder
  private val written = new LongAdder
  private val depth = new ThreadLocal[Int] { override def initialValue(): Int = 0 }

  def calls: Long = total.sum()
  def callsOf(method: String): Long = Option(perMethod.get(method)).fold(0L)(_.sum())
  def methods: Map[String, Long] =
    perMethod.asScala.map { case (k, v) => k -> v.sum() }.toMap
  /** Seconds spent inside FS calls and timed stream I/O. */
  def seconds: Double = time.sum() / 1e9
  def bytesRead: Long = read.sum()
  def bytesWritten: Long = written.sum()

  private def call[A](method: String)(f: => A): A =
    if (depth.get() > 0) f
    else {
      depth.set(1)
      val t0 = System.nanoTime()
      try f
      finally {
        val t1 = System.nanoTime()
        depth.set(0)
        time.add(t1 - t0)
        total.increment()
        perMethod.computeIfAbsent(method, _ => new LongAdder).increment()
        tracer.record("fs", method, tracer.parent, t0, t1)
      }
    }

  private[perfbench] def io[A](f: => A): A = {
    val t0 = System.nanoTime()
    try f finally time.add(System.nanoTime() - t0)
  }

  override def open(f: Path, bufferSize: Int): FSDataInputStream = call("open") {
    new FSDataInputStream(new BufferedFSInputStream(
      new CountingFs.In(super.open(f, bufferSize), this, read), bufferSize))
  }
  override def create(f: Path, permission: FsPermission, overwrite: Boolean, bufferSize: Int,
                      replication: Short, blockSize: Long, progress: Progressable): FSDataOutputStream =
    call("create") {
      new FSDataOutputStream(new CountingFs.Out(
        super.create(f, permission, overwrite, bufferSize, replication, blockSize, progress),
        this, written), null)
    }
  override def append(f: Path, bufferSize: Int, progress: Progressable): FSDataOutputStream =
    call("append") {
      new FSDataOutputStream(new CountingFs.Out(super.append(f, bufferSize, progress), this, written), null)
    }
  override def rename(src: Path, dst: Path): Boolean = call("rename")(super.rename(src, dst))
  override def delete(f: Path, recursive: Boolean): Boolean = call("delete")(super.delete(f, recursive))
  override def mkdirs(f: Path, permission: FsPermission): Boolean = call("mkdirs")(super.mkdirs(f, permission))
  override def exists(f: Path): Boolean = call("exists")(super.exists(f))
  override def getFileStatus(f: Path): FileStatus = call("getFileStatus")(super.getFileStatus(f))
  override def listStatus(f: Path): Array[FileStatus] = call("listStatus")(super.listStatus(f))
  /** One call; the iterator's own paging is timed, not counted again. */
  override def listStatusIterator(f: Path): RemoteIterator[FileStatus] = call("listStatusIterator") {
    val it = super.listStatusIterator(f)
    new RemoteIterator[FileStatus] {
      override def hasNext: Boolean = io(it.hasNext)
      override def next(): FileStatus = io(it.next())
    }
  }
}

object CountingFs {
  private final class In(in: FSDataInputStream, fs: CountingFs, bytes: LongAdder) extends FSInputStream {
    override def read(): Int = fs.io {
      val b = in.read()
      if (b >= 0) bytes.increment()
      b
    }
    override def read(b: Array[Byte], off: Int, len: Int): Int = fs.io {
      val n = in.read(b, off, len)
      if (n > 0) bytes.add(n)
      n
    }
    override def seek(pos: Long): Unit = in.seek(pos)
    override def getPos: Long = in.getPos
    override def seekToNewSource(target: Long): Boolean = in.seekToNewSource(target)
    override def available(): Int = in.available()
    override def close(): Unit = fs.io(in.close())
  }

  private final class Out(out: FSDataOutputStream, fs: CountingFs, bytes: LongAdder) extends OutputStream {
    override def write(b: Int): Unit = { out.write(b); bytes.increment() }
    override def write(b: Array[Byte], off: Int, len: Int): Unit =
      fs.io { out.write(b, off, len); bytes.add(len) }
    override def flush(): Unit = fs.io(out.flush())
    override def close(): Unit = fs.io(out.close())
  }
}
