package perfbench

/** What a workload hands back: its output-check verdict, the number of
  * requests attempted and failed (a failed request is never a timing
  * sample), the metric values by name, and extra report lines. */
final case class Result(correct: Boolean, attempted: Long, failed: Long,
                        values: Map[String, Double], report: Seq[String] = Nil)

object Stats {
  /** Nearest-rank percentile of unsorted samples, `p` in (0, 100]. */
  def pct(xs: Iterable[Double], p: Double): Double = {
    val s = xs.toArray.sorted
    if (s.isEmpty) 0.0
    else s(math.max(0, math.ceil(p / 100.0 * s.length).toInt - 1))
  }

  def median(xs: Iterable[Double]): Double = {
    val s = xs.toArray.sorted
    if (s.isEmpty) 0.0
    else if (s.length % 2 == 1) s(s.length / 2)
    else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }

  /** CPU seconds this JVM has used so far. */
  def processCpuS(): Double =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean match {
      case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime / 1e9
      case _ => 0.0
    }

  /** Samples beyond percentile `p`: a percentile is reported only with
    * at least ten. */
  def beyond(n: Int, p: Double): Int = n - math.ceil(p / 100.0 * n).toInt

  def seconds(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  def timed[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = f
    (a, seconds(t0))
  }

  /** Heap in use after a full collection, in MiB: the least of three
    * readings, since Spark's cleaner threads may still hold garbage. */
  def retainedHeapMb(): Double = {
    val rt = Runtime.getRuntime
    (1 to 3).map { _ =>
      System.gc()
      Thread.sleep(100)
      (rt.totalMemory() - rt.freeMemory()) / 1048576.0
    }.min
  }

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.lang.Double.toString(v)

  /** The result line: `metrics` lists exactly `names` (name -> unit). */
  def json(r: Result, names: Seq[(String, String)]): String = {
    val ms = names.map { case (name, unit) =>
      s""""$name": {"value": ${num(r.values.getOrElse(name, 0.0))}, "unit": "$unit"}""" }
    s"""{"correct": ${r.correct}, "attempted": ${r.attempted}, "failed": ${r.failed}, """ +
      s""""metrics": {${ms.mkString(", ")}}}"""
  }
}
