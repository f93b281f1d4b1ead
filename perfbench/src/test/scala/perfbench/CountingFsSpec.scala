package perfbench

import graft.lake.LakeClient
import java.nio.file.Files
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.scalatest.funsuite.AnyFunSuite

/** The benchmark's own pieces: the counting FS must count exactly, since
  * `lake.<op>.fs_calls` is reported as an exact count. */
class CountingFsSpec extends AnyFunSuite {
  private def fresh(): (CountingFs, Path) = {
    val dir = Files.createTempDirectory("countingfs").toFile
    dir.deleteOnExit()
    val raw = FileSystem.getLocal(new Configuration()).getRawFileSystem
    (new CountingFs(raw, new Tracer(false)), new Path(s"file://$dir"))
  }

  test("counts each outermost call once and every byte through its streams") {
    val (fs, root) = fresh()
    val f = new Path(root, "a")
    val out = fs.create(f, true)
    out.write(Array[Byte](1, 2, 3, 4, 5), 0, 5)
    out.write(6)
    out.close()
    assert(fs.exists(f)) // FileSystem.exists calls getFileStatus: still one call
    val in = fs.open(f)
    val buf = new Array[Byte](4)
    assert(in.read(buf, 0, 4) == 4)
    assert(in.read() == 5 && in.read() == 6 && in.read() == -1)
    in.close()
    val it = fs.listStatusIterator(root)
    assert(it.hasNext && it.next().getPath.getName == "a" && !it.hasNext)
    assert(fs.methods == Map("create" -> 1L, "exists" -> 1L, "open" -> 1L, "listStatusIterator" -> 1L))
    assert(fs.calls == 4)
    assert(fs.bytesWritten == 6 && fs.bytesRead == 6)
    assert(fs.seconds > 0)
  }

  test("single-byte reads reach the FS only as timed bulk reads") {
    val (fs, root) = fresh()
    val f = new Path(root, "b")
    val data = Array.tabulate[Byte](100000)(_.toByte)
    val out = fs.create(f, true)
    out.write(data)
    out.close()
    // what LakeClient.readBytes does: IOUtils reads one byte per call,
    // which the buffer serves; the counting stream under it sees bulk reads
    val in = fs.open(f, 4096)
    assert(in.getWrappedStream.isInstanceOf[org.apache.hadoop.fs.BufferedFSInputStream])
    val got = org.apache.hadoop.io.IOUtils.readFullyToByteArray(in)
    in.close()
    assert(got.sameElements(data))
    assert(fs.bytesRead == data.length)
  }

  test("counts the FS calls of LakeClient operations exactly") {
    val (fs, root) = fresh()
    val lake = new LakeClient(fs, root)
    lake.createFilesystem("f")
    def delta(op: => Any): Long = { val c0 = fs.calls; op; fs.calls - c0 }
    val data = Array.tabulate[Byte](3 << 20)(_.toByte)
    // overwrite semantics: drop the property sidecar, then create
    assert(delta(lake.uploadBytes("f", "o", data)) == 2)
    assert(fs.callsOf("delete") == 1 && fs.callsOf("create") == 1)
    assert(delta(lake.appendBytes("f", "o", Array[Byte](7))) == 1)
    val w0 = fs.bytesWritten
    assert(delta(lake.setPathProperties("f", "o", Map("k" -> "v"))) == 4)
    assert(fs.bytesWritten - w0 == "k=dg==".length) // the sidecar: base64 of "v"
    val r0 = fs.bytesRead
    assert(delta(assert(lake.readBytes("f", "o").length == data.length + 1)) == 1)
    assert(fs.bytesRead - r0 == data.length + 1)
    assert(delta(assert(lake.getPathProperties("f", "o") == Map("k" -> "v"))) == 4)
  }

  test("self time subtracts the union of child spans") {
    assert(Tracer.union(Seq((0L, 10L), (5L, 15L), (20L, 30L))) == 25)
    val t = new Tracer(true)
    t.record("a", "x", 0, 0, 100)
    t.record("b", "y", 1, 10, 30)
    t.record("b", "z", 1, 20, 50)
    assert(t.selfSeconds == Map("a" -> 60 / 1e9, "b" -> 50 / 1e9))
  }

  test("percentiles are nearest-rank and count the samples beyond them") {
    val xs = (1 to 100).map(_.toDouble)
    assert(Stats.pct(xs, 50) == 50 && Stats.pct(xs, 99) == 99 && Stats.pct(xs, 100) == 100)
    assert(Stats.median(Seq(1.0, 3.0)) == 2.0)
    assert(Stats.beyond(100, 90) == 10)
  }
}
