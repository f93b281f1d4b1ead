package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.QueryPlanningTracker
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import scala.jdk.CollectionConverters._

/** Per-query Spark figures for a traced run, gathered from outside the
  * engine: a SparkListener keyed by job group (every query execution runs
  * under a group of its own, see [[group]]) for the `exec.*` and
  * `tables.*` layers, the `QueryPlanningTracker` phases of each finished
  * query execution for `core.plan_ms`, and Spark's codegen compile
  * counters for `core.codegen_*`. Spark jobs are also recorded as spans,
  * children of the span that ran them. */
final class SparkCollector(spark: SparkSession, tracer: Tracer) extends SparkListener {
  import SparkCollector._

  private val groups = new ConcurrentHashMap[String, Agg]()
  private val spanOf = new ConcurrentHashMap[String, Long]()
  private val stageGroup = new ConcurrentHashMap[Int, String]()
  private val jobStart = new ConcurrentHashMap[Int, (String, Long)]()
  private val plans = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Double)]()
  private val seq = new AtomicLong(0)
  private val epochToNano = System.nanoTime() - System.currentTimeMillis() * 1000000L

  spark.sparkContext.addSparkListener(this)
  spark.listenerManager.register(new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val ph = qe.tracker.phases
      val ms = Seq(QueryPlanningTracker.ANALYSIS, QueryPlanningTracker.OPTIMIZATION,
        QueryPlanningTracker.PLANNING).flatMap(ph.get).map(_.durationMs).sum
      val end = if (ph.isEmpty) System.currentTimeMillis() else ph.values.map(_.endTimeMs).max
      plans.add((end, ms.toDouble))
    }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  })

  /** Runs `f` under a fresh job group whose jobs are children of the
    * calling thread's current span; returns the group's id. */
  def group[A](f: => A): (A, String) = {
    val id = s"perfbench-${seq.incrementAndGet()}"
    spanOf.put(id, tracer.parent)
    val sc = spark.sparkContext
    sc.setJobGroup(id, id, interruptOnCancel = false)
    try (f, id) finally sc.clearJobGroup()
  }

  /** Figures of the given job groups, after the listener bus drained. */
  def totals(ids: Iterable[String]): Agg = {
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    val out = new Agg
    ids.flatMap(id => Option(groups.get(id))).foreach(out.add)
    out
  }

  /** Summed analysis + optimization + planning time, in ms, of the query
    * executions that finished between two epoch-ms instants. */
  def planMs(fromMs: Long, toMs: Long): Double = {
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    plans.asScala.collect { case (end, ms) if end >= fromMs && end <= toMs => ms }.sum
  }

  private def agg(id: String): Agg = groups.computeIfAbsent(id, _ => new Agg)

  override def onJobStart(e: SparkListenerJobStart): Unit =
    Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .filter(spanOf.containsKey).foreach { id =>
        agg(id).jobs.incrementAndGet()
        e.stageIds.foreach(stageGroup.put(_, id))
        jobStart.put(e.jobId, (id, e.time))
      }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobStart.remove(e.jobId)).foreach { case (id, t0) =>
      tracer.record("spark", s"job ${e.jobId}", spanOf.get(id),
        t0 * 1000000L + epochToNano, e.time * 1000000L + epochToNano)
    }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    Option(stageGroup.get(e.stageInfo.stageId)).foreach(agg(_).stages.incrementAndGet())

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(stageGroup.get(e.stageId)).foreach { id =>
      val a = agg(id)
      a.tasks.incrementAndGet()
      a.slotMs.addAndGet(e.taskInfo.duration)
      Option(e.taskMetrics).foreach { m =>
        a.cpuNs.addAndGet(m.executorCpuTime)
        a.runMs.addAndGet(m.executorRunTime)
        a.gcMs.addAndGet(m.jvmGCTime)
        a.shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        a.shuffleRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
        a.spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
        a.inputBytes.addAndGet(m.inputMetrics.bytesRead)
        a.inputRows.addAndGet(m.inputMetrics.recordsRead)
      }
    }
}

object SparkCollector {
  /** Totals of one or more job groups. */
  final class Agg {
    val jobs, stages, tasks, slotMs, cpuNs, runMs, gcMs = new AtomicLong
    val shuffleWrite, shuffleRead, spill, inputBytes, inputRows = new AtomicLong
    def add(o: Agg): Unit = {
      Seq(jobs -> o.jobs, stages -> o.stages, tasks -> o.tasks, slotMs -> o.slotMs,
        cpuNs -> o.cpuNs, runMs -> o.runMs, gcMs -> o.gcMs, shuffleWrite -> o.shuffleWrite,
        shuffleRead -> o.shuffleRead, spill -> o.spill, inputBytes -> o.inputBytes,
        inputRows -> o.inputRows).foreach { case (a, b) => a.addAndGet(b.get) }
    }
  }

  /** Janino compiles and compile time (ms) so far, JVM-wide. */
  def codegen(): (Long, Double) =
    (org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount,
      CodeGenerator.compileTime / 1e6)

  /** The `exec.*` and `tables.*` metrics of some job groups, per pass:
    * totals divided by `passes`, the full passes over the workload's
    * request set they add up to. `wallS` is the groups' summed request
    * time, the base of the slot-busy ratio. */
  def layerMetrics(a: Agg, passes: Double, wallS: Double, slots: Int): Map[String, Double] = {
    val mb = 1048576.0
    Map(
      "exec.jobs" -> a.jobs.get / passes,
      "exec.stages" -> a.stages.get / passes,
      "exec.tasks" -> a.tasks.get / passes,
      "exec.task_cpu_s" -> a.cpuNs.get / 1e9 / passes,
      "exec.task_run_s" -> a.runMs.get / 1e3 / passes,
      "exec.gc_s" -> a.gcMs.get / 1e3 / passes,
      "exec.shuffle_write_mb" -> a.shuffleWrite.get / mb / passes,
      "exec.shuffle_read_mb" -> a.shuffleRead.get / mb / passes,
      "exec.spill_mb" -> a.spill.get / mb / passes,
      "exec.slot_busy_ratio" -> a.slotMs.get / 1e3 / (slots * wallS),
      "tables.input_mb" -> a.inputBytes.get / mb / passes,
      "tables.input_rows" -> a.inputRows.get / passes)
  }
}
