package graft

/** Benchmark main: times every SparkEntry query at the scale factor in
  * SPARK_GRAFT_SF_DIR and prints ONE JSON line for the driver.
  *
  * Honesty rules (round-2, tightened round-7, re-ordered round-13): each
  * query runs four times, and the reported `queries`/`value` figures are
  * the best WARM run (min of runs 2-4). Sampling is RUN-MAJOR: run 1 is
  * a full cold pass over the whole suite, then three warm passes over
  * the whole suite — so one query's three warm samples are MINUTES
  * apart, and a transient co-tenant burst can own at most one of them
  * (min() discards it). The round-12 artifact is why: the old
  * query-major protocol (4 consecutive samples per query) let a 1-2 min
  * burst inflate a contiguous block of queries 5-11× while the
  * suite-level spread stayed under its 1.3 bar — the official artifact
  * showed a 29 % regression that did not exist. The first-run times are
  * kept in `queries_cold`. A query that throws is NOT silently scored:
  * its time is -1 and the error lands in `errors`.
  *
  * Contention is flagged at QUERY granularity: any query whose warm
  * median/min ratio exceeds 2× is listed in `contended_queries` (the
  * suite-level `spread`/`contended` stays for cross-round continuity,
  * but it provably misses block-local bursts). A box-state reading
  * (cpu probe + host load) is stamped before every pass in `cal_passes`
  * so a burst is localizable in time from the artifact alone. Round 15:
  * warm passes are additionally GATED on the cpu probe (launch gating
  * alone could not keep the window quiet — co-tenants arrived mid-run
  * on every full r14 attempt): a probe >1.3× the launch anchor means
  * someone else is computing between passes, and the bench waits it out
  * under a bounded budget, stamping `waited_s` into the pass record.
  * Round 16: a daemon sampler additionally stamps the cpu probe every
  * ~20 s DURING passes into `timeline` (with the running pass/query),
  * because boundary stamps provably miss a burst that starts and ends
  * inside one multi-minute pass — three rounds of official artifacts
  * were convicted only statistically with every boundary stamp quiet.
  *
  * Every run self-persists TWICE: `bench/latest.json` (the most recent
  * artifact) and `bench/history/<generated_unix_ms>.json` — append-only,
  * so a later contended run (e.g. the driver's) can never overwrite the
  * quiet-run evidence (round 12 lost its best run exactly that way).
  *
  * The session comes from [[graft.core.GraftSession.builder]] — ONE
  * source of config truth (AQE, UTC, extensions, nanos-as-long), because
  * a hand-rolled diagnostic session measurably diverged (dd4 1.6× slower
  * without AQE; NOTES.md round-3).
  *
  * SPARK_GRAFT_ONLY=dd3,dd4 restricts to a comma-separated subset (local
  * iteration; the driver never sets it). */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").map(_.trim).toSet)
    val spark = graft.core.GraftSession
      .builder("graft-bench", s"local[$cpus]", cpus)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // Load-gated launch (round 14 — VERDICT r13 #2a: every r13 artifact,
    // including the judge's rerun, ran at host load 7-31 and the round
    // closed without one quiet anchor for the new run-major protocol).
    // Wait for /proc/loadavg to drop under the quiet bar before the
    // official passes, up to a bounded budget, then stamp the outcome —
    // WAITED (how long) and DEGRADED (gate budget exhausted while still
    // loaded) — into the artifact so a reader knows from the JSON alone
    // whether this run is anchor-grade. SPARK_GRAFT_LOADGATE_S overrides
    // the budget (0 disables; the driver's run keeps the default).
    val loadGateBudgetS = sys.env.get("SPARK_GRAFT_LOADGATE_S").map(_.toInt).getOrElse(600)
    val loadGateBar = 1.5
    val gateStartLoad = Calibration.hostLoad()
    var gateWaitedS = 0
    while (Calibration.hostLoad() > loadGateBar && gateWaitedS < loadGateBudgetS) {
      println(f"load-gate: host load ${Calibration.hostLoad()}%.2f > $loadGateBar%.1f — " +
        s"waiting (${gateWaitedS}s of ${loadGateBudgetS}s budget)")
      Thread.sleep(30000); gateWaitedS += 30
    }
    val gateEndLoad = Calibration.hostLoad()
    val gateDegraded = gateEndLoad > loadGateBar
    if (gateDegraded) println(f"load-gate: budget exhausted at load $gateEndLoad%.2f — " +
      "run proceeds DEGRADED (artifact self-flags)")

    // Calibration probes (round-11, shared via graft.Calibration since
    // round 12): two FIXED workloads timed on this box at bench start
    // and end, emitted in the JSON so any reader can normalize totals
    // across box states. Sampled 3x, min taken. To compare two BENCH
    // artifacts: scale totals by the ratio of their calibration readings.
    val calCpuStart = Calibration.cal3(Calibration.calCpu _)
    val calCpuMtStart = Calibration.cal3(() => Calibration.calCpuMt())
    val calMemMtStart = Calibration.cal3(() => Calibration.calMemMt())
    val calSparkStart = Calibration.cal3(() => Calibration.calSpark(spark))

    def jstr(s: String): String = Calibration.jstr(s)
    def fmt(t: Double): String = f"$t%.3f"

    // fixed name-sorted order, identical in every pass: the separation
    // between a query's samples is then the whole suite's wall (~minutes)
    val order: Seq[(String, (org.apache.spark.sql.SparkSession, String) =>
      org.apache.spark.sql.DataFrame)] =
      SparkEntry.queries.filter { case (name, _) => only.forall(_.contains(name)) }
        .toSeq.sortBy(_._1)

    // what the run is doing right now, for the sampler's attribution
    // (AtomicReference, not a local @volatile — captured locals lower to
    // plain Ref cells with no cross-thread visibility guarantee)
    val currentQuery = new java.util.concurrent.atomic.AtomicReference("-")
    val currentPass = new java.util.concurrent.atomic.AtomicReference("launch")

    def once(name: String, fn: (org.apache.spark.sql.SparkSession, String) =>
        org.apache.spark.sql.DataFrame): Either[String, Double] = {
      currentQuery.set(name)
      val t0 = System.nanoTime()
      try { fn(spark, sfDir).count(); Right((System.nanoTime() - t0) / 1e9) }
      catch { case e: Throwable =>
        Left(s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(200)}")
      } finally { currentQuery.set("-") }
    }

    // Mid-pass contention sampler (round 16 — VERDICT r15 #2): the pass
    // boundary stamps provably miss a burst that starts and ends INSIDE
    // a multi-minute pass (the host's documented ~10-15 min co-tenant
    // cycle fits; three rounds of official artifacts were convicted only
    // statistically, every boundary stamp quiet). A daemon thread now
    // samples the single-thread cpu probe every ~20 s for the whole
    // timed window and stamps (t_s, cpu_s, pass, query) into the
    // artifact's `timeline`, so a contended_queries flag is attributable
    // to a time-localized burst from the artifact alone. Reading rule:
    // in-pass samples are SELF-loaded (the bench's own 32 threads
    // time-slice the probe), so only spikes vs the run's own in-pass
    // distribution convict — compare within the run, not to the quiet
    // between-pass level. Cost: ~1 s of one core per 20 s (0.16% of the
    // box), identical in every pass, so warm-min comparability holds.
    val runT0 = System.nanoTime()
    val timeline = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val samplerStop = new java.util.concurrent.atomic.AtomicBoolean(false)
    val sampler = new Thread(() => {
      while (!samplerStop.get()) {
        Thread.sleep(20000)
        if (!samplerStop.get()) {
          val c = Calibration.calCpu()
          val t = (System.nanoTime() - runT0) / 1e9
          timeline.add(s"""{"t_s":${fmt(t)},"cpu_s":${fmt(c)},""" +
            s""""pass":${jstr(currentPass.get())},"q":${jstr(currentQuery.get())}}""")
        }
      }
    })
    sampler.setDaemon(true)
    sampler.start()

    // one box-state reading per pass (single sample — the pass itself is
    // the workload; cal3's warmup minima are only needed at the anchors)
    // Pass stamps are taken AFTER each pass completes: the mt burst
    // saturates every core for ~1 s and the mem burst floods L3 with a
    // ~1 GiB allocation sweep — run before a pass they would perturb
    // exactly the readings they exist to adjudicate (the cold pass has
    // no min-of-3 to absorb it). cpu_s for gated passes is the
    // PRE-pass gate probe (the gating decision's evidence); mt/mem are
    // post-pass. mem_mt is STAMP-ONLY, never a gate signal: the bench
    // JVM's own heap/GC state swings the reading ±30% between passes
    // on a quiet box (observed 0.232-0.308 s within one run), so a
    // ratio gate on it would false-trip; the stamps still attribute a
    // bandwidth-shaped co-tenant post-hoc, which is what the r14
    // degraded run lacked.
    val calPasses = scala.collection.mutable.ArrayBuffer[String]()
    // Gate reference (round 16 — r15 ADVICE low 3 + VERDICT #2): the
    // min over this run's in-run samples, capped from above by 1.25x
    // the fresh-idle launch anchor — the cap is the anti-under-gate
    // backstop: a contended LAUNCH inflates the cold-pass stamp, and
    // an inflated reference gates nothing (quiet in-run samples read
    // the measured ~1.25x of the min-of-3 anchor, NOTES r15, so the
    // cap sits at the quiet in-run level, not below it). The ADVICE's
    // stale-minimum hazard (one anomalously fast early probe gating
    // every later pass) is bounded by the RESET, not a rolling window
    // — a run only ever holds four samples, so a window cannot roll:
    // after a budget-exhausted wait the reference resets to the
    // observed regime (cap dropped, samples cleared) so one persistent
    // shift — thermals, a parked co-tenant — costs at most one budget,
    // not one per remaining pass; resets are counted in the artifact
    // (`gate_resets`) and the timeline stamps still convict.
    val gateSamples = scala.collection.mutable.ArrayBuffer[Double]()
    var gateAnchorCap: Option[Double] = Some(1.25 * calCpuStart)
    var gateResets = 0
    def gateRef: Double =
      (gateSamples.toSeq ++ gateAnchorCap).foldLeft(Double.MaxValue)(math.min)
    def stampPass(label: String, waitedS: Int = 0,
                  cpuS: Double = Calibration.calCpu()): Unit = {
      // label the stamp window for the sampler: the mt/mem bursts below
      // saturate every core for ~1.5 s, and a sampler tick landing
      // inside them must not read as an in-pass co-tenant spike
      // attributed to the just-finished pass
      currentPass.set(s"stamp:$label")
      gateSamples += cpuS
      calPasses +=
        s"""{"pass":${jstr(label)},"cpu_s":${fmt(cpuS)},""" +
          s""""cpu_mt_s":${fmt(Calibration.calCpuMt())},""" +
          s""""mem_mt_s":${fmt(Calibration.calMemMt())},""" +
          s""""load":${fmt(Calibration.hostLoad())},"waited_s":$waitedS}"""
    }

    // Per-pass quiet re-check (round 15 — VERDICT r14 #3: launch gating
    // alone cannot buy a quiet 30-minute window; co-tenants arrived
    // MID-run on every full r14 attempt). Raw loadavg is unusable here:
    // the bench's OWN passes push the 1-min average to 8-10 on a
    // provably quiet box (r14 history 1786860992623, uncontended), and
    // it decays too slowly (~2 min idle to fall from 10 under 1.5) to
    // re-read between passes. The single-threaded cpu probe is the
    // honest signal — between passes the bench's Spark work is idle, so
    // an inflated probe means someone ELSE is computing right now
    // (contended r14 run: pass cpu_s 1.17-1.47 vs 1.04-1.07 quiet).
    // The gate REFERENCE must be like-for-like: quiet IN-RUN samples
    // read a systematic ~1.25x above the min-of-3 fresh-idle launch
    // anchor (r15 artifacts: anchors 0.847-0.883 vs quiet pass stamps
    // 1.056-1.092 — large live heap + residual GC state, not
    // co-tenancy), so a 1.3x-of-anchor gate left only 2-8% of real
    // margin and one scheduler hiccup away from a spurious wait.
    // Reference = the MINIMUM in-run sample seen so far (the cold-pass
    // stamp seeds it; quiet gate probes keep it honest), which is this
    // run's own quiet in-run baseline; min-of-2 probe samples absorb
    // one-off hiccups. A fully-contended run never sees a quiet sample
    // and under-gates — budget-bounded, and the stamps still convict.
    val passGateBudgetS =
      sys.env.get("SPARK_GRAFT_PASSGATE_S").map(_.toInt).getOrElse(180)
    val passGateRatio = 1.3
    def passGate(): (Int, Double) = {
      var waited = 0
      def sample2() = math.min(Calibration.calCpu(), Calibration.calCpu())
      var probe = sample2()
      while (probe > passGateRatio * gateRef && waited < passGateBudgetS) {
        println(f"pass-gate: cpu probe $probe%.2f s > $passGateRatio%.1fx " +
          f"in-run reference ${gateRef}%.2f s — waiting (${waited}s of " +
          s"${passGateBudgetS}s budget)")
        Thread.sleep(30000); waited += 30
        probe = sample2()
      }
      if (probe > passGateRatio * gateRef) {
        // budget exhausted while still elevated: adopt the observed
        // level as the new reference regime (see gateRef comment) — the
        // next stampPass seeds the window with this probe
        gateResets += 1
        gateAnchorCap = None
        gateSamples.clear()
        println(f"pass-gate: budget exhausted at probe $probe%.2f s — " +
          "reference reset to the observed regime (gate_resets stamps it)")
      }
      (waited, probe)
    }

    currentPass.set("cold")
    val cold: Map[String, Either[String, Double]] =
      order.map { case (name, fn) => name -> once(name, fn) }.toMap
    stampPass("cold") // post-pass: the bursts must not precede timed work
    val warmPasses: Seq[Map[String, Either[String, Double]]] = (1 to 3).map { p =>
      currentPass.set(s"gate$p")
      val (gateWaited, gateProbe) = passGate()
      currentPass.set(s"warm$p")
      val m = order.map { case (name, fn) =>
        name -> (if (cold(name).isLeft) Left("cold run failed"): Either[String, Double]
                 else once(name, fn))
      }.toMap
      stampPass(s"warm$p", gateWaited, gateProbe)
      m
    }
    samplerStop.set(true) // timed window over; end anchors run unsampled
    currentPass.set("end")

    val results: Seq[(String, (Either[String, Double], Either[String, Seq[Double]]))] =
      order.map { case (name, _) =>
        val ws = warmPasses.map(_(name))
        val warms: Either[String, Seq[Double]] =
          ws.collectFirst { case Left(m) => Left(m): Either[String, Seq[Double]] }
            .getOrElse(Right(ws.map(_.toOption.get)))
        name -> ((cold(name), warms))
      }

    def timesJson(pick: ((Either[String, Double], Either[String, Seq[Double]])) => Either[String, Double]) =
      results.map { case (k, v) =>
        s"${jstr(k)}:${pick(v).fold(_ => "-1", fmt)}"
      }.mkString("{", ",", "}")
    def warmMin(v: (Either[String, Double], Either[String, Seq[Double]])) =
      v._2.map(_.min)
    def warmMedian(v: (Either[String, Double], Either[String, Seq[Double]])) =
      v._2.map(_.sorted.apply(1))
    val errors = results.collect { case (k, (Left(msg), _)) => s"${jstr(k)}:${jstr(msg)}" } ++
      results.collect { case (k, (Right(_), Left(msg))) => s"${jstr(k)}:${jstr(msg)}" }
    val errorsJson = errors.mkString("{", ",", "}")
    val total = results.map(r => warmMin(r._2).getOrElse(0.0)).sum
    val totalMedian = results.map(r => warmMedian(r._2).getOrElse(0.0)).sum
    // suite-level contention indicator (kept for cross-round continuity);
    // the per-query flags below are the ones with power against bursts
    val spread = if (total > 0) totalMedian / total else 1.0
    val contended = spread > 1.3
    // PER-QUERY contention: a query whose warm median is >2× its warm min
    // had at least one sample inflated by something external — under
    // run-major sampling the three samples are minutes apart, so a
    // transient burst can own at most one, the min stays clean, and this
    // ratio is the recorded evidence (the round-12 block sat at 5-11×).
    // The 2× bar clears quiet-box noise (measured per-query ratios ~1.0-
    // 1.3 at sf0.1) without hiding real bursts. Sub-0.1 s queries are
    // exempt: at that wall the ratio is pure timer/JIT noise and would
    // pollute the list with false positives on a quiet box (round-14
    // ADVICE) — a burst that matters inflates queries the suite actually
    // spends time in.
    val contendedQueries = results.collect {
      case (k, v) if {
        val r = for (mn <- warmMin(v); md <- warmMedian(v))
          yield mn >= 0.1 && md / math.max(mn, 1e-9) > 2.0
        r.contains(true)
      } => k
    }
    val contendedQueriesJson = contendedQueries.map(jstr).mkString("[", ",", "]")
    // per-query lines FIRST, sorted by name — a truncated tail capture
    // of the stdout is then self-describing query by query
    results.foreach { case (k, v) =>
      val c = v._1.fold(m => s"ERROR($m)", fmt)
      val (w, m) = (warmMin(v).fold(_ => "-1", fmt), warmMedian(v).fold(_ => "-1", fmt))
      val flag = if (contendedQueries.contains(k)) "  CONTENDED" else ""
      println(s"benchq $k warm=$w median=$m cold=$c$flag")
    }
    // cold + median maps next on their own line; the LAST line is the
    // compact self-contained headline JSON (warm + errors + methodology)
    // so a tail capture always retains it whole.
    val coldLine = s"""{"metric":"cold","unit":"sec","queries_cold":${timesJson(_._1)},""" +
      s""""queries_median":${timesJson(warmMedian)},"sf":"$sfDir"}"""
    println(coldLine)
    val calCpuEnd = Calibration.cal3(Calibration.calCpu _)
    val calCpuMtEnd = Calibration.cal3(() => Calibration.calCpuMt())
    val calMemMtEnd = Calibration.cal3(() => Calibration.calMemMt())
    val calSparkEnd = Calibration.cal3(() => Calibration.calSpark(spark))
    // cpu_mt_s / mem_mt_s: full-width compute and DRAM-bandwidth bursts
    // next to the single-thread probe (round 15 — the r15 host ran
    // untouched-path walls 1.4-1.7x the r13 records on +9% single-thread
    // clock and full width; register-only probes and the cache-resident
    // spark probe were blind to the bandwidth axis). Elevated at LOW
    // load = slower box on that axis, at HIGH load = co-tenant.
    val calibration =
      s"""{"cpu_s":${fmt(calCpuStart)},"spark_s":${fmt(calSparkStart)},""" +
      s""""cpu_mt_s":${fmt(calCpuMtStart)},"cpu_mt_s_end":${fmt(calCpuMtEnd)},""" +
      s""""mem_mt_s":${fmt(calMemMtStart)},"mem_mt_s_end":${fmt(calMemMtEnd)},""" +
      s""""width":${Runtime.getRuntime.availableProcessors()},""" +
      s""""cpu_s_end":${fmt(calCpuEnd)},"spark_s_end":${fmt(calSparkEnd)},""" +
      s""""load_end":${fmt(Calibration.hostLoad())},""" +
      s""""load_gate":{"bar":$loadGateBar,"start_load":${fmt(gateStartLoad)},""" +
      s""""waited_s":$gateWaitedS,"launch_load":${fmt(gateEndLoad)},""" +
      s""""degraded":$gateDegraded},""" +
      s""""gate_resets":$gateResets,""" +
      s""""passes":[${calPasses.mkString(",")}],""" +
      s""""timeline":[${scala.jdk.CollectionConverters
        .IteratorHasAsScala(timeline.iterator()).asScala.mkString(",")}]}"""
    val headline = s"""{"metric":"total","value":${fmt(total)},"unit":"sec","queries":${timesJson(warmMin)},""" +
      s""""errors":$errorsJson,"total_median":${fmt(totalMedian)},"spread":${fmt(spread)},""" +
      s""""contended":$contended,"contended_queries":$contendedQueriesJson,""" +
      s""""calibration":$calibration,""" +
      s""""protocol":"run-major",""" +
      s""""methodology":"run-major sampling: pass1=cold over whole suite, passes2-4=warm over whole suite (one query's warm samples minutes apart, so min() discards any single burst); warm=min(pass2..4);median=median(pass2..4);contended_queries=per-query median/min>2 (skipped under 0.1 s);contended=total_median/total>1.3;calibration=min-of-3 fixed probes at start/end + post-pass cpu/mt/mem/load stamps + load-gated launch + cpu-probe-gated warm passes (min-of-2 probe>1.3x rolling in-run reference (last-4 samples, capped 1.25x launch anchor, reset on exhausted budget) waits bounded; waited_s per pass) + ~20s in-pass cpu timeline with pass/query attribution",""" +
      s""""sf":"$sfDir"}"""
    println(headline)
    // self-persist the COMPLETE artifact repo-side (round 12), and
    // APPEND-ONLY under bench/history/ (round 13): the driver's contended
    // round-12 run overwrote the working-tree latest.json that held the
    // quiet-run evidence — an artifact designed for corroboration must
    // not lose its best run to whoever runs last.
    // ONE timestamp for both the JSON field and the history filename —
    // two currentTimeMillis() calls can differ by a few ms and break the
    // documented bench/history/<generated_unix_ms>.json correspondence
    // (round-14 ADVICE)
    val generatedMs = System.currentTimeMillis()
    val artifact = s"""{"generated_unix_ms":$generatedMs,""" +
      s""""cold":$coldLine,"headline":$headline}""" + "\n"
    for (path <- Seq("bench/latest.json",
                     s"bench/history/$generatedMs.json")) {
      try { Calibration.persist(path, artifact); println(s"bench artifact persisted: $path") }
      catch { case scala.util.control.NonFatal(e) =>
        println(s"bench artifact persist FAILED for $path (stdout JSON above is complete): $e")
      }
    }
    // Driver contract line (round 17 — VERDICT r16 #2): the driver tail-
    // captures only the last ~2-3 KB of stdout and parses the last JSON
    // line it finds. The rich headline above embeds calibration + a
    // ~20 s CPU timeline (tens of KB) and is followed by the persist
    // messages, so `parsed` has been null in every BENCH_rNN.json since
    // round 10. Print a COMPACT duplicate — total + per-query warm map +
    // sf, nothing else — as the LAST program stdout line, after the
    // persist messages; the full artifact stays in bench/latest.json.
    // Same numbers, same methodology: this is a reporting fix, not a
    // measurement change.
    println(s"""{"metric":"total","value":${fmt(total)},"unit":"sec",""" +
      s""""queries":${timesJson(warmMin)},"sf":"$sfDir"}""")
    spark.stop()
    if (results.exists(_._2._2.isLeft)) sys.exit(1)
  }
}
