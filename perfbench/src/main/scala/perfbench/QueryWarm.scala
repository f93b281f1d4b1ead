package perfbench

import graft.SparkEntry
import graft.core.GraftSession
import graft.operators.{Dedup, Similarity}
import java.io.File
import org.apache.commons.io.FileUtils
import org.apache.spark.sql.{DataFrame, SparkSession}
import scala.collection.mutable.ArrayBuffer
import scala.util.Random

/** One long-lived `GraftSession` at `local[4]` over the fixture
  * tables, and the way the workload runs a query on it: the
  * `SparkEntry` function call, then an execution through the `noop`
  * sink, which computes every output column (`count()` alone would let
  * column pruning skip them). Output checks collect the result instead,
  * outside any timed span. */
private[perfbench] final class SparkRun(cfg: Main.Config, val tracer: Tracer) {
  val Slots = 4
  val (spark: SparkSession, sessionS: Double) = Stats.timed {
    GraftSession.builder("perfbench", s"local[$Slots]", Slots)
      .config("spark.local.dir", s"${cfg.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${cfg.work}/warehouse")
      .getOrCreate()
  }
  spark.sparkContext.setLogLevel("ERROR")
  val collector: Option[SparkCollector] =
    if (tracer.enabled) Some(new SparkCollector(spark, tracer)) else None
  private val fns = SparkEntry.queries

  /** A timed request: which query, its call and execute seconds, and the
    * job groups it ran under when traced. */
  final case class Req(query: String, callS: Double, execS: Double, groups: Seq[String], traced: Boolean) {
    def seconds: Double = callS + execS
  }

  private def grouped[A](on: Boolean)(f: => A): (A, Seq[String]) =
    collector.filter(_ => on).fold((f, Seq.empty[String])) { c =>
      val (a, g) = c.group(f)
      (a, Seq(g))
    }

  /** Executes `df` through the noop sink: every output column computed,
    * nothing collected. */
  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** Calls `query` and executes its result through the noop sink;
    * spans and job groups when `on`. */
  def request(query: String, on: Boolean): Req = requestWith(query, on)(noop)._1

  /** Calls `query` and executes its result with `consume`. */
  def requestWith[A](query: String, on: Boolean)(consume: DataFrame => A): (Req, A) =
    span(on, "query", query) {
      val ((df, g1), callS) = Stats.timed(span(on, "call", query)(grouped(on)(fns(query)(spark, cfg.data))))
      val ((a, g2), execS) = Stats.timed(span(on, "execute", query)(grouped(on)(consume(df))))
      (Req(query, callS, execS, g1 ++ g2, on), a)
    }

  def span[A](on: Boolean, layer: String, name: String)(f: => A): A =
    if (on) tracer.span(layer, name)(f) else f

  def digest(query: String): Digest = Digest.of(fns(query)(spark, cfg.data))

  /** Runs each query once as a request, then, untimed, takes its reference
    * digest from the DataFrame its call returned. The DataFrames, whose
    * executed plans hold broadcast relations, end with this call, so they
    * do not count in the retained heap. */
  def buildPass(queries: Seq[String], on: Boolean): (Seq[Req], Map[String, Digest]) = {
    val rs = span(on, "iteration", "set-up") {
      queries.map(q => requestWith(q, on) { df => noop(df); df })
    }
    (rs.map(_._1), rs.map { case (r, df) => r.query -> Digest.of(df) }.toMap)
  }

  def clearMemos(): Unit = { Dedup.clearCaches(); Similarity.clearModelCache() }

  /** Per-layer Spark metrics of a timed window: job-group figures of the
    * traced requests (`tracedPasses` full passes' worth), JVM-wide
    * planning and codegen figures of all `passes` and `requests`. */
  def layerMetrics(traced: Seq[Req], tracedPasses: Double, passes: Int, requests: Int,
                   fromMs: Long, toMs: Long,
                   codegen0: (Long, Double), codegen1: (Long, Double)): Map[String, Double] =
    collector.fold(Map.empty[String, Double]) { c =>
      SparkCollector.layerMetrics(c.totals(traced.flatMap(_.groups)), tracedPasses,
        traced.map(_.seconds).sum, Slots) ++ Map(
        "core.plan_ms" -> c.planMs(fromMs, toMs) / requests,
        "core.codegen_compiles" -> (codegen1._1 - codegen0._1).toDouble / passes,
        "core.codegen_ms" -> (codegen1._2 - codegen0._2) / passes)
    }

  def stop(): Unit = spark.stop()
}

/** `query-warm`: one client re-running a fixed mix of `SparkEntry` queries
  * in a seeded order, pass after pass, on a long-lived session whose
  * memos and persisted indexes were built in set-up. The mix holds one
  * query of each relational, text, streaming, corpus, multimodal and
  * weighted-aggregate family, plus four build queries of the dedup and
  * similarity families (dd3, dd6, ss4 fitted, ss9), which serve from
  * what set-up built. While timed, planning, codegen and execution
  * dominate and no memo or index is built.
  *
  * Set-up clears the memos, points `spark.graft.index.root` at a fresh
  * directory, and runs the build queries (in a fixed order, since dd3 and dd6
  * share a shingle memo) and then the rest of the mix once each: the
  * build pass, where the shingle memos, KMeans/PQ fits and index writes
  * through `LakeClient` happen. It is timed as the timed passes are; each
  * query's reference row count and digest is then taken, untimed, by
  * executing the build pass's DataFrame once more. */
object QueryWarm {
  val BuildQueries: Seq[String] = Seq(
    "dd3_minhash_lsh", "dd6_cluster", "ss4_ann_ivf_fitted", "ss9_ivfpq_topk")
  /** One query per family; `perfbench/README.md` gives the reason for each. */
  val Queries: Seq[String] = Seq("q14_star_join", "ta6_winnow", "st3_session",
    "cp3_pack_sequences", "mm2_frame_sample", "wa1_weighted_avg") ++ BuildQueries

  def family(q: String): String = q.takeWhile(_.isLetter)

  def run(cfg: Main.Config, tracer: Tracer): Result = {
    val run = new SparkRun(cfg, tracer)
    val index = new File(s"${cfg.work}/index")
    try {
      val order = new Random(cfg.seed).shuffle(Queries)
      var timedFailed = 0L
      // set-up: the build pass and the reference digests
      run.clearMemos()
      run.spark.conf.set("spark.graft.index.root", index.getPath)
      val (built, ref) = run.buildPass(BuildQueries ++ order.filterNot(BuildQueries.contains), tracer.enabled)
      val buildS = built.map(_.seconds).sum
      val setupS = run.sessionS + buildS
      val indexMb = FileUtils.sizeOfDirectory(index) / 1048576.0
      // output checks, untimed: a second pass, now serving from the
      // memos and indexes, must reproduce every query's reference result
      val checks = order.map(q => q -> run.digest(q))
      val badChecks = checks.count { case (q, d) => d != ref(q) }
      // timed: whole passes until the time is up, at least two, so every
      // run has the same sample structure. A traced run traces
      // every other request, alternating between passes, so each query
      // runs both traced and untraced: the base of the tracing overhead
      val passes = ArrayBuffer.empty[(Double, Seq[run.Req])]
      val deadline = System.nanoTime() + (cfg.seconds * 1e9).toLong
      val cpu0 = Stats.processCpuS()
      val codegen0 = SparkCollector.codegen()
      val from = System.currentTimeMillis()
      tracer.span("workload", "query-warm") {
        while (System.nanoTime() < deadline || passes.size < 2) {
          val p = passes.size
          passes += Stats.timed(tracer.span("iteration", s"pass $p") {
            order.zipWithIndex.flatMap { case (q, i) =>
              try Some(run.request(q, tracer.enabled && (p + i) % 2 == 1))
              catch { case scala.util.control.NonFatal(e) =>
                System.err.println(s"query-warm: $q failed: $e"); timedFailed += 1; None }
            }
          }).swap
        }
      }
      val to = System.currentTimeMillis()
      val cpu = Stats.processCpuS() - cpu0
      val codegen1 = SparkCollector.codegen()
      val reqs = passes.flatMap(_._2).toSeq
      val attempted = built.size + checks.size + reqs.size + timedFailed
      val failed = badChecks + timedFailed
      val plain = reqs.filter(!_.traced)
      val lat = plain.map(_.seconds * 1e3)
      val passS = passes.map(_._1)
      val heap = Stats.retainedHeapMb()
      def buildQueryS(rs: Seq[run.Req]) = rs.filter(r => BuildQueries.contains(r.query)).map(_.seconds).sum
      val report = order.map(q =>
        f"query $q ${Stats.median(plain.filter(_.query == q).map(_.seconds * 1e3))}%.1f ms") ++ Seq(
        f"query_pass_s ${Stats.median(passS)}%.4f s (median of ${passS.size} passes of ${order.size} queries)",
        f"query_p50_ms ${Stats.median(lat)}%.3f ms (n=${lat.size})",
        f"build_pass_s ${buildQueryS(built)}%.4f s (the build queries in set-up)",
        f"serve_pass_s ${Stats.median(passes.map(p => buildQueryS(p._2)))}%.4f s (the build queries per pass)",
        f"setup_s $setupS%.3f s (session ${run.sessionS}%.3f s + build pass $buildS%.3f s)",
        f"index_mb $indexMb%.4f MB",
        f"timed window: wall ${passS.sum}%.2f s, process CPU $cpu%.2f s",
        s"error_rate ${failed.toDouble / attempted} (failed $failed of $attempted)")
      val values =
        if (!tracer.enabled) Map(
          "setup_s" -> setupS,
          "throughput_per_s" -> reqs.size / passS.sum,
          "retained_heap_mb" -> heap)
        else {
          val traced = reqs.filter(_.traced)
          // traced requests add up to this many full passes of the mix
          val n = traced.size.toDouble / order.size
          def perPass(f: run.Req => Boolean) = traced.filter(f).map(_.seconds).sum / n
          run.layerMetrics(traced, n, passes.size, reqs.size, from, to, codegen0, codegen1) ++
            Main.Families.map(f => s"family.$f.pass_s" -> perPass(r => family(r.query) == f)) ++
            built.filter(r => BuildQueries.contains(r.query)).flatMap(r => Seq(
              s"operators.${r.query}.build_call_s" -> r.callS,
              s"operators.${r.query}.build_exec_s" -> r.execS,
              s"operators.${r.query}.serve_s" -> perPass(_.query == r.query))) ++
            Seq("operators.index_mb" -> indexMb,
              "trace.overhead_ratio" -> Main.overhead(
                plain.map(r => r.query -> r.seconds), traced.map(r => r.query -> r.seconds)))
        }
      Result(failed == 0, attempted, failed, values, report)
    } finally {
      run.stop()
      FileUtils.deleteQuietly(index)
    }
  }
}
