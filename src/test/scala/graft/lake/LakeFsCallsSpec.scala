package graft.lake

import java.nio.file.Files
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Pins the Hadoop `FileSystem` calls each lake operation makes — on ABFS
  * every call is one REST round trip. A metadata op makes one status call
  * per path it inspects (the reference's single HEAD, client.py:424-447)
  * and a whole-object read makes one `open` (its single GET,
  * client.py:528-546). Also round-trips whole-object reads and property
  * sidecars that span many stream buffer fills. */
class LakeFsCallsSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var rootDir: java.nio.file.Path = _
  private var fs: CountingFileSystem = _
  private var client: LakeClient = _
  private val Fs = "calls"

  override def beforeAll(): Unit = {
    rootDir = Files.createTempDirectory("lake-calls")
    fs = new CountingFileSystem(FileSystem.getLocal(new Configuration()).getRawFileSystem)
    client = new LakeClient(fs, new Path(s"file://$rootDir"))
    client.createFilesystem(Fs, Map("fk" -> "fv"))
  }

  override def afterAll(): Unit =
    org.apache.commons.io.FileUtils.deleteDirectory(rootDir.toFile)

  private def calls(f: => Any): Map[String, Int] = fs.callsOf(f)

  test("metadata ops make one status call on an existing path") {
    client.uploadString(Fs, "m/f.txt", "f")
    client.setPathProperties(Fs, "m/f.txt", Map("k" -> "v"))
    client.uploadString(Fs, "m/bare.txt", "b")
    client.createPath(Fs, "m/d", directory = true)
    client.setPathProperties(Fs, "m/d", Map("dk" -> "dv"))
    val statusAndRead = Map("getFileStatus" -> 1, "open" -> 1)
    // properties present and absent cost the same: the sidecar `open` is the probe
    for (p <- Seq("m/f.txt", "m/bare.txt", "m/d")) {
      assert(calls(client.pathStatus(Fs, p)) == statusAndRead, p)
      assert(calls(client.getPathProperties(Fs, p)) == statusAndRead, p)
    }
    assert(calls(client.getFilesystemProperties(Fs)) == statusAndRead)
    assert(calls(client.setPathProperties(Fs, "m/f.txt", Map("k" -> "w"))) ==
      Map("getFileStatus" -> 1, "create" -> 1))
    assert(calls(client.setPathProperties(Fs, "m/d", Map("dk" -> "dw"))) ==
      Map("getFileStatus" -> 1, "create" -> 1))
    // semantics held: the right sidecar was read and written
    assert(client.pathStatus(Fs, "m/f.txt").map(_.properties).contains(Map("k" -> "w")))
    assert(client.getPathProperties(Fs, "m/d") == Map("dk" -> "dw"))
    assert(client.getPathProperties(Fs, "m/bare.txt") == Map.empty)
    assert(client.getFilesystemProperties(Fs) == Map("fk" -> "fv"))

    // rename of a file: source status, landing-spot status, the rename,
    // clearing the landing sidecar, probing for the source sidecar — and
    // moving it when there is one
    val renameBare = Map("getFileStatus" -> 2, "rename" -> 1, "delete" -> 1, "exists" -> 1)
    val renameWithProps = renameBare + ("rename" -> 2)
    assert(calls(client.renamePath(Fs, "m/bare.txt", "m/bare2.txt")) == renameBare)
    assert(calls(client.renamePath(Fs, "m/f.txt", "m/g.txt")) == renameWithProps)
    assert(calls(client.renamePath(Fs, "m/g.txt", "m/d")) == renameWithProps) // lands in m/d/g.txt
    assert(client.getPathProperties(Fs, "m/d/g.txt") == Map("k" -> "w"))
    assert(client.getPathProperties(Fs, "m/bare2.txt") == Map.empty)
    // a directory's sidecar lives inside it and moves with the one rename
    assert(calls(client.renamePath(Fs, "m/d", "m/e")) == Map("getFileStatus" -> 1, "rename" -> 1))
    assert(client.getPathProperties(Fs, "m/e") == Map("dk" -> "dw"))

    // delete of a file: status, the path, its sidecar
    assert(calls(client.deletePath(Fs, "m/e/g.txt")) ==
      Map("getFileStatus" -> 1, "delete" -> 2))
    assert(calls(client.deletePath(Fs, "m/e", recursive = true)) ==
      Map("getFileStatus" -> 1, "delete" -> 1))
    assert(client.pathStatus(Fs, "m/e").isEmpty)
    assert(client.deletePath(Fs, "m", recursive = true))
  }

  test("a missing path costs one status call and keeps its documented result") {
    val one = Map("getFileStatus" -> 1)
    var st: Option[LakeClient.PathInfo] = Some(null)
    assert(calls { st = client.pathStatus(Fs, "ghost") } == one)
    assert(st.isEmpty)
    var props = Map("x" -> "y")
    assert(calls { props = client.getPathProperties(Fs, "ghost") } == one)
    assert(props.isEmpty)
    assert(calls { props = client.getFilesystemProperties("ghost-fs") } == one)
    assert(props.isEmpty)
    assert(calls(intercept[IllegalArgumentException] {
      client.setPathProperties(Fs, "ghost", Map("k" -> "v"))
    }) == one)
    var ok = true
    assert(calls { ok = client.deletePath(Fs, "ghost") } == one)
    assert(!ok)
    ok = true
    assert(calls { ok = client.renamePath(Fs, "ghost", "ghost2") } == one)
    assert(!ok)
    assert(calls(intercept[java.io.FileNotFoundException] {
      client.readBytes(Fs, "ghost")
    }) == Map("open" -> 1))
  }

  test("data-plane and listing ops keep their call counts") {
    assert(calls(client.createPath(Fs, "o/new")) == Map("delete" -> 1, "create" -> 1))
    assert(calls(client.uploadBytes(Fs, "o/obj", Array.fill[Byte](3000)(1))) ==
      Map("delete" -> 1, "create" -> 1))
    assert(calls(client.appendBytes(Fs, "o/obj", Array[Byte](2))) == Map("append" -> 1))
    assert(calls(client.readRange(Fs, "o/obj", 10, 100)) == Map("open" -> 1))
    assert(calls(client.readBytes(Fs, "o/obj")) == Map("open" -> 1))
    assert(calls(client.listPathsPage(Fs, "o", recursive = false, maxResults = 1)) ==
      Map("exists" -> 1, "listStatusIterator" -> 1))
    assert(client.deletePath(Fs, "o", recursive = true))
  }

  test("readBytes round-trips 0 B, 1 B and 4 MiB + 7 B with one open") {
    val rnd = new scala.util.Random(7)
    for (size <- Seq(0, 1, (4 << 20) + 7)) {
      val data = new Array[Byte](size); rnd.nextBytes(data)
      client.uploadBytes(Fs, "big/blob.bin", data)
      var got: Array[Byte] = null
      assert(calls { got = client.readBytes(Fs, "big/blob.bin") } == Map("open" -> 1))
      assert(java.util.Arrays.equals(got, data), s"size $size")
    }
    assert(client.deletePath(Fs, "big", recursive = true))
  }

  test("a property sidecar larger than a 4 KiB buffer reads back through both ops") {
    val props = (0 until 400).map(i => f"key$i%03d" -> s"value $i = ${"x" * (i % 37)}").toMap
    client.uploadString(Fs, "p/f.txt", "x")
    client.createPath(Fs, "p/d", directory = true)
    for (p <- Seq("p/f.txt", "p/d")) {
      client.setPathProperties(Fs, p, props)
      assert(client.getPathProperties(Fs, p) == props, p)
      assert(client.pathStatus(Fs, p).map(_.properties).contains(props), p)
    }
    val sidecar = new java.io.File(s"$rootDir/$Fs/p/.f.txt${LakeClient.PropsSuffix}")
    assert(sidecar.length > 4096, sidecar.length)
    assert(client.deletePath(Fs, "p", recursive = true))
  }
}
