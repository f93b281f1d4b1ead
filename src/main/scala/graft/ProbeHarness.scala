package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Shared scaffolding for the measurement mains [[ScaleSmoke]] and
  * [[StreamStateBench]] (round 12 — VERDICT r11 #6): session
  * construction, parallelism and the replica corpus definitions. One
  * definition keeps every main measuring THE SAME workload (the
  * [[SkewCorpus]] discipline, extended to the replica corpora).
  *
  * Deliberately NOT here: each main's own timing semantics (Bench's
  * 4-run warm protocol, ScaleSmoke's calibrated/barred stages). */
object ProbeHarness {

  /** Parallelism: the measurement mains run local[32] unless
    * SPARK_GRAFT_CPUS narrows it. */
  def cpus: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt

  /** One source of session truth ([[graft.core.GraftSession]]) — a
    * hand-rolled diagnostic conf measurably diverged (NOTES round-3).
    * Every session built here stamps the box-state calibration at
    * startup (round 12): this host is co-tenanted and numbers are only
    * adjudicable next to a same-moment [[Calibration]] reading — the
    * isolated-dd4 rerun needed a manual calibration run to interpret;
    * now every measurement main carries its stamp. ~4 s once per JVM. */
  def session(name: String): SparkSession = {
    val s = graft.core.GraftSession
      .builder(name, s"local[$cpus]", cpus)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    println(f"probe-cal: cpu=${Calibration.cal3(Calibration.calCpu _)}%.3f " +
      f"mt=${Calibration.cal3(() => Calibration.calCpuMt())}%.3f " +
      f"mem=${Calibration.cal3(() => Calibration.calMemMt())}%.3f " +
      f"spark=${Calibration.cal3(() => Calibration.calSpark(s))}%.3f " +
      f"load=${Calibration.hostLoad()}%.1f " +
      f"(quiet-box ref cpu ${Calibration.RefCpuSec}%.2f; load is HOST-wide — " +
      "the cpu probe alone understates a 32-thread job's penalty under co-tenants; " +
      "mt is the full-width burst that sees what one thread can't)")
    s
  }

  /** THE replica document corpus (ScaleSmoke's definition): each fixture
    * doc replicated with a perturbing suffix token, so near-dup
    * structure is realistic `replicas`-cliques, not exact copies.
    * Persisted; NOT counted (callers that need nDocs count it — they
    * decide materialization order). */
  def replicaDocs(spark: SparkSession, sfDir: String, replicas: Int): DataFrame = {
    val r = explode(sequence(lit(0), lit(replicas - 1)))
    graft.tables.Tables.documents(spark, sfDir)
      .withColumn("r", r)
      .select((col("doc_id") * replicas + col("r")).as("doc_id"),
        concat(col("text"), lit(" replicatoken"), col("r")).as("text"))
      .persist()
  }

  /** THE replica embedding corpus (ScaleSmoke's definition): vectors
    * replicated UNPERTURBED — replica top-k structure is exact
    * duplicates (easy for any geometry; the recall DIFFERENCES live in
    * the fixture spec's moderate-cosine sweep). Persisted. */
  def replicaEmbeddings(spark: SparkSession, sfDir: String, replicas: Int): DataFrame = {
    val r = explode(sequence(lit(0), lit(replicas - 1)))
    graft.tables.Tables.embeddings(spark, sfDir)
      .withColumn("r", r)
      .select((col("vec_id") * replicas + col("r")).as("vec_id"), col("embedding"))
      .persist()
  }
}
