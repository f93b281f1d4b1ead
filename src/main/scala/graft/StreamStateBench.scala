package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

/** Diagnostic main: profile the stateful-streaming hot spot (the
  * stream-stream band join — 129.9 s for 2M events in the round-9 20×
  * smoke, the heaviest single smoke stage) across state-store backends
  * and watermark widths, so the smoke's configuration is a measured
  * choice rather than the default.
  *
  * Axes:
  *   - provider: `hdfs` (default HDFSBackedStateStoreProvider) vs
  *     `rocksdb` (RocksDBStateStoreProvider) vs `rocksdb-changelog`
  *     (RocksDB + changelog checkpointing: per-batch uploads become
  *     change deltas instead of full SST snapshots).
  *   - watermark: how long either side tolerates late data; state
  *     retention for the band join is watermark + band width, so this
  *     is also the state-size lever a real deployment would tune.
  *
  * Workload is byte-identical to ScaleSmoke's join stage: `batches`
  * micro-batches of `perBatch` click/purchase pairs per side, event time
  * jumping 3 h per batch (≫ watermark + 30-min band, so every batch must
  * evict the previous one's state).
  *
  * Usage: runMain graft.StreamStateBench [batches] [perBatch]
  * Prints one line per (provider × watermark) cell: wall seconds, peak
  * state rows, joined-row count (must equal batches×perBatch every time).
  */
object StreamStateBench {
  def main(args: Array[String]): Unit = {
    val batches = args.lift(0).map(_.toInt).getOrElse(20)
    val perBatch = args.lift(1).map(_.toInt).getOrElse(50000)
    // ProbeHarness.cpus, not a re-read of the env var: the measurement
    // mains' single source for parallelism — a drift there would silently run
    // this bench and the smoke it calibrates against at different widths
    val cpus = graft.ProbeHarness.cpus

    val providers = Seq(
      // explicit class, NOT None: GraftSession.builder now defaults the
      // provider to RocksDB (the round-10 adoption this bench justified),
      // so an unset cell would silently measure RocksDB twice and the
      // HDFS-vs-RocksDB comparison this bench exists for would be
      // unreproducible from the committed code
      "hdfs" -> Some(
        "org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider"),
      "rocksdb" -> Some(
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"),
      "rocksdb-changelog" -> Some(
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"))
    val watermarks = Seq("1 hour", "10 minutes")

    for ((pname, pclass) <- providers; wm <- watermarks) {
      // fresh session per cell: provider class is sticky per-query, and a
      // shared session would let one cell's loaded providers pollute the
      // next cell's executor-side caches
      val b = graft.core.GraftSession.builder(s"stream-bench-$pname", s"local[$cpus]", cpus)
      pclass.foreach(c => b.config("spark.sql.streaming.stateStore.providerClass", c))
      b.config("spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled",
        (pname == "rocksdb-changelog").toString)
      val spark = b.getOrCreate()
      spark.sparkContext.setLogLevel("WARN")
      try {
        implicit val sqlCtx = spark.sqlContext
        import spark.implicits._
        val t0ts = java.sql.Timestamp.valueOf("2024-01-01 00:00:00").getTime
        def at(minutes: Long) = new java.sql.Timestamp(t0ts + minutes * 60000L)

        val clicks = MemoryStream[ScaleSmoke.Ev]
        val purchases = MemoryStream[ScaleSmoke.Ev]
        val qname = s"ssb_${pname.replace('-', '_')}_${wm.filter(_.isDigit)}"
        val q = graft.streaming.EventStreams
          .streamingStreamJoin(clicks.toDF(), purchases.toDF(), watermark = wm)
          .writeStream.format("memory").queryName(qname)
          .outputMode("append").start()
        var uid = 0L
        var peakState = 0L
        val t0 = System.nanoTime()
        for (b <- 0 until batches) {
          val base = b.toLong * 180
          val pairs = (0 until perBatch).map { i =>
            uid += 1
            (ScaleSmoke.Ev(uid, at(base + (i % 50)), uid, "click", 0.0),
             ScaleSmoke.Ev(uid + 1000000000L, at(base + (i % 50) + 10), uid, "purchase", 1.0))
          }
          clicks.addData(pairs.map(_._1))
          purchases.addData(pairs.map(_._2))
          q.processAllAvailable()
          peakState = math.max(peakState,
            Option(q.lastProgress).map(_.stateOperators.map(_.numRowsTotal).sum).getOrElse(0L))
        }
        val sec = (System.nanoTime() - t0) / 1e9
        val out = spark.table(qname).count()
        q.stop()
        val ok = out == batches.toLong * perBatch
        println(f"$pname%-18s wm=$wm%-12s $sec%7.1f s  peak state $peakState%8d  " +
          f"joined $out%8d ${if (ok) "ok" else "MISMATCH"}")
        if (!ok) sys.exit(1)
      } finally spark.stop()
    }
  }
}
