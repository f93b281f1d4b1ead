package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import scala.jdk.CollectionConverters._

/** In-memory spans recorded at the benchmark's call boundaries into each
  * layer: workload → iteration → op/query → call/execute → Spark job or
  * FS call. A span names its layer and the span that caused it; spans
  * are kept in memory and written out once, when the run ends.
  *
  * A disabled tracer records nothing and costs one branch per boundary,
  * which is how the untraced runs measure the end-to-end metrics. */
final class Tracer(val enabled: Boolean) {
  import Tracer.Span

  private val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicLong(0)
  private val current = new ThreadLocal[Long] { override def initialValue(): Long = 0L }

  /** The span the calling thread is inside (0 at the top). */
  def parent: Long = current.get()

  /** Runs `f` on this thread as a child of span `parent` (a span opened
    * on another thread, e.g. the workload span of a client pool). */
  def adopt[A](parent: Long)(f: => A): A = {
    val up = current.get()
    current.set(parent)
    try f finally current.set(up)
  }

  def span[A](layer: String, name: String)(f: => A): A =
    if (!enabled) f
    else {
      val id = ids.incrementAndGet()
      val up = current.get()
      current.set(id)
      val t0 = System.nanoTime()
      try f
      finally {
        spans.add(Span(id, up, layer, name, t0, System.nanoTime()))
        current.set(up)
      }
    }

  /** A span timed elsewhere: an FS call, or a Spark job seen by a listener
    * (whose start and end come from its events, in epoch ms). */
  def record(layer: String, name: String, parent: Long, startNs: Long, endNs: Long): Unit =
    if (enabled) spans.add(Span(ids.incrementAndGet(), parent, layer, name, startNs, endNs))

  def all: Seq[Span] = spans.asScala.toSeq

  /** Self time per layer in seconds: each span's duration minus the part
    * of its interval that its children cover. */
  def selfSeconds: Map[String, Double] = {
    val ss = all
    val kids = ss.groupBy(_.parent)
    ss.groupBy(_.layer).map { case (layer, group) =>
      layer -> group.map { s =>
        val covered = Tracer.union(kids.getOrElse(s.id, Nil)
          .map(k => (math.max(k.start, s.start), math.min(k.end, s.end)))
          .filter { case (a, b) => b > a })
        (s.end - s.start - covered) / 1e9
      }.sum
    }
  }

  /** Writes every span as one JSON object per line. */
  def write(path: java.nio.file.Path): Unit = {
    java.nio.file.Files.createDirectories(path.getParent)
    val w = java.nio.file.Files.newBufferedWriter(path)
    try all.sortBy(_.start).foreach { s =>
      w.write(s"""{"id": ${s.id}, "parent": ${s.parent}, "layer": "${s.layer}", """ +
        s""""name": "${s.name}", "start_ns": ${s.start}, "end_ns": ${s.end}}""")
      w.newLine()
    } finally w.close()
  }
}

object Tracer {
  final case class Span(id: Long, parent: Long, layer: String, name: String,
                        start: Long, end: Long)

  /** Total length covered by a set of intervals. */
  def union(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var (lo, hi) = (Long.MinValue, Long.MinValue)
    iv.sortBy(_._1).foreach { case (a, b) =>
      if (a > hi) { if (hi > lo) total += hi - lo; lo = a; hi = b }
      else hi = math.max(hi, b)
    }
    if (hi > lo) total += hi - lo
    total
  }
}
