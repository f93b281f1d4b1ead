package perfbench

import graft.lake.LakeClient
import java.util.concurrent.{Executors, TimeUnit}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import scala.collection.mutable.{ArrayBuffer, ArrayDeque}
import scala.util.Random

/** `lake-ops`: four clients in a closed loop over `graft.lake.LakeClient`,
  * each on its own filesystem under a temporary account root on the raw
  * local FS. No Spark. Every client starts from the same pre-built tree
  * (a flat directory larger than a listing page, a pool of empty files, a
  * few files with properties, 1 MiB objects) and repeats rounds of the
  * eleven-operation mix, each operation four times in a seeded order.
  *
  * Every operation is checked against the client's model of its tree:
  * byte-for-byte read-back of uploads and appends, paged listings that
  * return each created entry exactly once, and property round trips. A
  * failed check or an exception counts as a failed operation and is not
  * a timing sample. */
object LakeOps {
  val Ops: Seq[String] = Seq("createPath", "setPathProperties", "getPathProperties",
    "pathStatus", "listPathsPage", "renamePath", "deletePath", "uploadBytes",
    "appendBytes", "readRange", "readBytes")
  private val Clients = 4
  private val EachPerRound = 4
  private val FlatFiles = 100
  private val PageSize = 40
  private val PoolFiles = 32
  private val MetaFiles = 8
  private val Objects = 4
  private val ObjectBytes = 1 << 20 // two upload chunks of LakeClient.ChunkSize
  private val AppendBytes = 64 << 10
  private val RangeBytes = 256 << 10
  private val Fs = "lake"
  private val WarmUpNs = 2000000000L

  /** One op's outcome: which op, its latency, and the FS calls it made. */
  private final case class Sample(op: String, seconds: Double, fsCalls: Long, traced: Boolean)

  private final class Client(id: Int, root: Path, raw: FileSystem, tracer: Tracer, seed: Long) {
    private val rng = new Random(seed * 31 + id)
    private val blob = { val b = new Array[Byte](4 << 20); rng.nextBytes(b); b }
    val counting = new CountingFs(raw, tracer)
    private val plain = new LakeClient(raw, root)
    private val traced = new LakeClient(counting, root)
    private val objects = Array.fill(Objects)(Array.emptyByteArray)
    private val meta = Array.fill(MetaFiles)(Map.empty[String, String])
    private val pool = ArrayDeque.empty[String]
    private val listed = ArrayBuffer.empty[String]
    private var cursor: Option[String] = None
    private var counter = 0
    /** Round-robin object per data op, so every seed does the same I/O. */
    private val nth = scala.collection.mutable.Map.empty[String, Int].withDefaultValue(0)
    private def nextObject(op: String): Int = { nth(op) += 1; nth(op) % Objects }
    private var opRead = 0L
    private var opWritten = 0L
    /** User payload bytes read and written: in the whole loop, and in its
      * traced part (the base of the FS amplification ratios). */
    var userBytes = 0L
    var tracedRead = 0L
    var tracedWritten = 0L
    val samples = ArrayBuffer.empty[Sample]
    val rounds = ArrayBuffer.empty[Double]
    var failed = 0L

    private def slice(n: Int): Array[Byte] = {
      val off = rng.nextInt(blob.length - n)
      java.util.Arrays.copyOfRange(blob, off, off + n)
    }

    def build(): Unit = {
      plain.createFilesystem(Fs)
      (0 until FlatFiles).foreach(i => plain.createPath(Fs, f"flat/f-$i%03d"))
      (0 until PoolFiles).foreach { i => plain.createPath(Fs, f"pool/p-$i%03d"); pool.append(f"pool/p-$i%03d") }
      (0 until MetaFiles).foreach { i =>
        plain.uploadString(Fs, s"meta/m-$i", s"meta $i")
        meta(i) = Map("k" -> "0", "client" -> s"c$id")
        plain.setPathProperties(Fs, s"meta/m-$i", meta(i))
      }
      (0 until Objects).foreach { i => objects(i) = slice(ObjectBytes); plain.uploadBytes(Fs, s"data/o-$i", objects(i)) }
    }

    /** Runs one op through `lake`; returns whether its output checked out. */
    private def op(name: String, lake: LakeClient, time: (=> Any) => Unit): Boolean = {
      counter += 1
      name match {
        case "createPath" =>
          val p = s"pool/n-$counter"
          time(lake.createPath(Fs, p)); pool.append(p); true
        case "deletePath" =>
          var ok = false
          val p = pool.removeHead()
          time { ok = lake.deletePath(Fs, p) }; ok
        case "renamePath" =>
          var ok = false
          val (from, to) = (pool.removeHead(), s"pool/r-$counter")
          time { ok = lake.renamePath(Fs, from, to) }; pool.append(to); ok
        case "setPathProperties" =>
          val i = rng.nextInt(MetaFiles)
          val props = Map("k" -> counter.toString, "client" -> s"c$id")
          time(lake.setPathProperties(Fs, s"meta/m-$i", props)); meta(i) = props; true
        case "getPathProperties" =>
          val i = rng.nextInt(MetaFiles)
          var got = Map.empty[String, String]
          time { got = lake.getPathProperties(Fs, s"meta/m-$i") }; got == meta(i)
        case "pathStatus" =>
          val i = rng.nextInt(MetaFiles)
          var got: Option[LakeClient.PathInfo] = None
          time { got = lake.pathStatus(Fs, s"meta/m-$i") }
          got.exists(st => !st.isDirectory && st.length == s"meta $i".length && st.properties == meta(i))
        case "listPathsPage" =>
          var page: LakeClient.PathPage = null
          time { page = lake.listPathsPage(Fs, "flat", recursive = false, PageSize, cursor) }
          listed ++= page.entries.map(_.name.split('/').last)
          cursor = page.continuation
          val ok = page.entries.nonEmpty && page.entries.size <= PageSize &&
            (cursor.isDefined || listed == (0 until FlatFiles).map(i => f"f-$i%03d"))
          if (cursor.isEmpty) listed.clear()
          ok
        case "uploadBytes" =>
          val i = nextObject("uploadBytes")
          val data = slice(ObjectBytes)
          var n = 0L
          time { n = lake.uploadBytes(Fs, s"data/o-$i", data) }
          objects(i) = data; opWritten = data.length; n == data.length
        case "appendBytes" =>
          val i = nextObject("appendBytes")
          val data = slice(AppendBytes)
          time(lake.appendBytes(Fs, s"data/o-$i", data))
          objects(i) = objects(i) ++ data; opWritten = data.length; true
        case "readRange" =>
          val i = nextObject("readRange")
          val off = rng.nextInt(objects(i).length - RangeBytes)
          var got: Array[Byte] = null
          time { got = lake.readRange(Fs, s"data/o-$i", off, RangeBytes) }
          opRead = got.length
          java.util.Arrays.equals(got, 0, got.length, objects(i), off, off + RangeBytes)
        case "readBytes" =>
          val i = nextObject("readBytes")
          var got: Array[Byte] = null
          time { got = lake.readBytes(Fs, s"data/o-$i") }
          opRead = got.length
          java.util.Arrays.equals(got, objects(i))
      }
    }

    /** Closed loop until `deadline`, recording samples if `record`. In a
      * traced run every other recorded op goes through the counting FS
      * and is recorded as spans; the ops between them are the untraced
      * base of the tracing overhead. */
    def loop(deadline: Long, record: Boolean): Unit =
      while (System.nanoTime() < deadline)
        if (record) tracer.span("iteration", s"round c$id")(round(deadline, record))
        else round(deadline, record)

    private def round(deadline: Long, record: Boolean): Unit = {
      val r0 = System.nanoTime()
      val order = rng.shuffle(Ops.flatMap(Seq.fill(EachPerRound)(_)))
      val done = order.takeWhile { name =>
        if (System.nanoTime() >= deadline) false
        else {
          val on = record && tracer.enabled && samples.size % 2 == 1
          val lake = if (on) traced else plain
          val calls0 = counting.calls
          opRead = 0; opWritten = 0
          var took = 0.0
          def time(f: => Any): Unit = {
            val t0 = System.nanoTime()
            if (on) tracer.span("op", name)(tracer.span("lake", name)(f)) else f
            took = Stats.seconds(t0)
          }
          val ok =
            try op(name, lake, time)
            catch { case scala.util.control.NonFatal(e) =>
              System.err.println(s"lake-ops: $name failed: $e"); false }
          if (!ok) failed += 1
          else if (record) {
            samples += Sample(name, took, counting.calls - calls0, on)
            userBytes += opRead + opWritten
            if (on) { tracedRead += opRead; tracedWritten += opWritten }
          }
          true
        }
      }
      if (record && done.size == order.size) rounds += Stats.seconds(r0)
    }
  }

  def run(cfg: Main.Config, tracer: Tracer): Result = {
    val raw = FileSystem.getLocal(new Configuration()).getRawFileSystem
    val pool = Executors.newFixedThreadPool(Clients)
    def parallel(f: Int => Unit): Unit = {
      val fs = (0 until Clients).map(c => pool.submit(new Runnable { def run(): Unit = f(c) }))
      fs.foreach(_.get())
    }
    try {
      // set-up: build every client's tree three times over, in fresh
      // account roots, and report the median; the last build is used
      var clients: Seq[Client] = Nil
      val builds = (1 to 3).map { round =>
        val cs = (0 until Clients).map(c =>
          new Client(c, new Path(s"file://${cfg.work}/lake/r$round/acct-$c"), raw, tracer, cfg.seed))
        val (_, s) = Stats.timed(parallel(c => cs(c).build()))
        clients = cs
        s
      }
      // untimed warm-up: JIT and page cache settle before the window
      parallel(c => clients(c).loop(System.nanoTime() + WarmUpNs, record = false))
      val cpu0 = Stats.processCpuS()
      val t0 = System.nanoTime()
      val deadline = t0 + (cfg.seconds * 1e9).toLong
      tracer.span("workload", "lake-ops") {
        val wl = tracer.parent
        parallel { c => tracer.adopt(wl)(clients(c).loop(deadline, record = true)) }
      }
      val elapsed = Stats.seconds(t0)
      val cpu = Stats.processCpuS() - cpu0
      val heap = Stats.retainedHeapMb()
      val all = clients.flatMap(_.samples)
      val failed = clients.map(_.failed).sum
      val timed = all.filter(!_.traced)
      val lat = timed.map(_.seconds * 1e3)
      val userMb = clients.map(_.userBytes).sum / 1048576.0
      val e2e = Map(
        "setup_s" -> Stats.median(builds),
        "throughput_per_s" -> timed.size / elapsed,
        "retained_heap_mb" -> heap)
      val rounds = clients.flatMap(_.rounds)
      val report = Ops.map { op =>
        val ms = timed.filter(_.op == op).map(_.seconds * 1e3)
        f"lake_op $op ${Stats.median(ms)}%.4f ms (median of ${ms.size})"
      } ++ Seq(
        f"lake_ops_per_s ${all.size / elapsed}%.1f 1/s (${all.size} ops in $elapsed%.2f s, 4 clients)",
        f"lake_round_s ${Stats.median(rounds)}%.4f s (median of ${rounds.size} rounds of ${Ops.size * EachPerRound} ops)",
        f"lake_op_p50_ms ${Stats.median(lat)}%.4f ms (n=${lat.size})",
        f"lake_op_p99_ms ${Stats.pct(lat, 99)}%.4f ms (n=${lat.size}, ${Stats.beyond(lat.size, 99)} beyond)",
        f"lake_data_mb_per_s ${userMb / elapsed}%.1f MB/s",
        f"timed window: wall $elapsed%.2f s, process CPU $cpu%.2f s",
        s"error_rate ${failed.toDouble / (all.size + failed)} (failed $failed of ${all.size + failed})")
      Result(failed == 0, all.size + failed, failed,
        if (tracer.enabled) layers(clients, all) else e2e, report)
    } finally {
      pool.shutdownNow()
      pool.awaitTermination(30, TimeUnit.SECONDS)
    }
  }

  private def layers(clients: Seq[Client], all: Seq[Sample]): Map[String, Double] = {
    val traced = all.filter(_.traced)
    val untraced = all.filter(!_.traced)
    val perOp = Ops.flatMap { op =>
      val ss = traced.filter(_.op == op)
      val ms = ss.map(_.seconds * 1e3)
      Seq(s"lake.$op.p50_ms" -> Stats.median(ms),
        s"lake.$op.tail_ms" -> Stats.pct(ms, 90),
        s"lake.$op.fs_calls" -> ss.map(_.fsCalls).sum.toDouble / math.max(1, ss.size))
    }
    val fsS = clients.map(_.counting.seconds).sum
    val opS = traced.map(_.seconds).sum
    val read = clients.map(_.counting.bytesRead).sum.toDouble
    val written = clients.map(_.counting.bytesWritten).sum.toDouble
    val userRead = clients.map(_.tracedRead).sum
    val userWritten = clients.map(_.tracedWritten).sum
    (perOp ++ Seq(
      "lake.fs_s" -> fsS,
      "lake.self_s" -> (opS - fsS),
      "lake.write_amp" -> written / math.max(1, userWritten),
      "lake.read_amp" -> read / math.max(1, userRead),
      "trace.overhead_ratio" -> Main.overhead(
        untraced.map(s => s.op -> s.seconds), traced.map(s => s.op -> s.seconds)))).toMap
  }
}
