package perfbench

import java.nio.file.Paths

/** Benchmark entry point: runs one workload for a fixed time and prints,
  * as the last stdout line, one JSON object with the output-check verdict,
  * the requests attempted and failed, and the metrics — the end-to-end
  * ones in an untraced run (`--trace 0`), the per-layer ones in a traced
  * run (`--trace 1`). Report lines before it give the same figures under
  * the workload's own names, with sample counts.
  *
  *   perfbench.Main --workload <lake-ops|query-warm> --seed <n>
  *     --seconds <s> --trace <0|1> --work <scratch dir> --traces <span dir>
  *     [--data <fixture tables dir, for the Spark workloads>]
  */
object Main {
  final case class Config(workload: String, seed: Long, seconds: Double, trace: Boolean,
                          work: String, data: String, traces: String)

  /** End-to-end metrics, reported by every workload (name -> unit). */
  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "throughput_per_s" -> "1/s", "retained_heap_mb" -> "MB")

  val Families: Seq[String] = Seq("q", "ta", "st", "cp", "mm", "wa", "dd", "ss")

  /** Per-layer metrics, reported by every traced run; a layer the
    * workload does not exercise reads 0. */
  val PerLayer: Seq[(String, String)] =
    LakeOps.Ops.flatMap(op => Seq(s"lake.$op.p50_ms" -> "ms", s"lake.$op.tail_ms" -> "ms",
      s"lake.$op.fs_calls" -> "count")) ++
    Seq("lake.fs_s" -> "s", "lake.self_s" -> "s", "lake.write_amp" -> "ratio",
      "lake.read_amp" -> "ratio") ++
    Seq("core.plan_ms" -> "ms", "core.codegen_compiles" -> "count", "core.codegen_ms" -> "ms") ++
    Seq("exec.jobs" -> "count", "exec.stages" -> "count", "exec.tasks" -> "count",
      "exec.task_cpu_s" -> "s", "exec.task_run_s" -> "s", "exec.gc_s" -> "s",
      "exec.shuffle_write_mb" -> "MB", "exec.shuffle_read_mb" -> "MB", "exec.spill_mb" -> "MB",
      "exec.slot_busy_ratio" -> "ratio") ++
    Seq("tables.input_mb" -> "MB", "tables.input_rows" -> "count") ++
    Families.map(f => s"family.$f.pass_s" -> "s") ++
    QueryWarm.BuildQueries.flatMap(q => Seq(s"operators.$q.build_call_s" -> "s",
      s"operators.$q.build_exec_s" -> "s", s"operators.$q.serve_s" -> "s")) ++
    Seq("operators.index_mb" -> "MB", "trace.overhead_ratio" -> "ratio")

  /** Tracing overhead: mean latency of each request kind in the traced
    * part of a run against its untraced part, weighted by the untraced
    * mix; 0.05 means tracing made requests 5 % slower. */
  def overhead(untraced: Seq[(String, Double)], traced: Seq[(String, Double)]): Double = {
    def means(xs: Seq[(String, Double)]) =
      xs.groupBy(_._1).map { case (k, v) => k -> (v.map(_._2).sum / v.size, v.size) }
    val (u, t) = (means(untraced), means(traced))
    val kinds = (u.keySet intersect t.keySet).toSeq
    val base = kinds.map(k => u(k)._1 * u(k)._2).sum
    if (base <= 0) 0.0 else kinds.map(k => t(k)._1 * u(k)._2).sum / base - 1
  }

  private def parse(args: Array[String]): Config = {
    val kv = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Config(need("workload"), need("seed").toLong, need("seconds").toDouble,
      need("trace") == "1", need("work"), kv.getOrElse("data", ""), need("traces"))
  }

  def main(args: Array[String]): Unit = {
    val code =
      try {
        val cfg = parse(args)
        val tracer = new Tracer(cfg.trace)
        val result = cfg.workload match {
          case "lake-ops"    => LakeOps.run(cfg, tracer)
          case "query-warm"  => QueryWarm.run(cfg, tracer)
          case w => throw new IllegalArgumentException(s"unknown workload $w")
        }
        result.report.foreach(l => println(s"report $l"))
        if (tracer.enabled) {
          val out = Paths.get(cfg.traces, s"${cfg.workload}-seed${cfg.seed}.jsonl")
          tracer.write(out)
          tracer.selfSeconds.toSeq.sortBy(_._1).foreach { case (layer, s) =>
            println(f"report self_s.$layer $s%.4f s (from ${tracer.all.count(_.layer == layer)} spans)")
          }
          println(s"report spans written to $out")
        }
        println(Stats.json(result, if (cfg.trace) PerLayer else EndToEnd))
        0
      } catch {
        case e: Throwable =>
          e.printStackTrace()
          1
      }
    System.out.flush()
    // Spark leaves non-daemon threads behind; end the JVM explicitly
    sys.exit(code)
  }
}
