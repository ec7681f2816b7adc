package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{CommandResultExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}
import org.apache.spark.sql.util.QueryExecutionListener

/** What one timed loop did. `units` is the work unit of records_per_s
  * (records read, changes written, changes delivered) and `busyS` the
  * time it is divided by. `layer` holds the per-layer metrics the
  * workload itself can tell (counters on the server, the generator's
  * own lateness, ...); the [[Tracer]] adds the Spark-side ones. */
final case class LoopResult(
    attempted: Long, failed: Long,
    latenciesMs: Array[Double], units: Long, busyS: Double,
    ops: Long,
    layer: Map[String, Double],
    errors: Seq[String]) {
  def recordsPerS: Double = if (busyS > 0) units / busyS else 0.0
  def p50: Double = Stats.quantile(latenciesMs, 0.5)
  def p90: Double = Stats.quantile(latenciesMs, 0.9)
}

/** One workload: set up (server, zones, warm-up), run a timed loop,
  * tear down. The loop checks every output outside its timed region. */
trait Workload {
  def name: String
  /** Start the server, seed the zones and warm up for `warmS` seconds. */
  def setup(spark: SparkSession, warmS: Double): Unit
  def loop(seconds: Double): LoopResult
  def teardown(): Unit
  /** Negative control: corrupt the state the checks compare against,
    * so the next loop must report failures. */
  def corruptExpected(): Unit
}

/** Output checks run their Spark jobs in a session of their own (so
  * the QueryExecutionListener of the traced session never sees them)
  * and under a job group the SparkListener skips. */
object Checks {
  val JobGroup = "perfbench-check"

  def run[A](spark: SparkSession)(body: => A): A = {
    val sc = spark.sparkContext
    sc.setJobGroup(JobGroup, "output check", interruptOnCancel = false)
    try body finally sc.clearJobGroup()
  }
}

/** Per-layer tracing through Spark's public listener APIs only:
  * a SparkListener (jobs, stages, tasks, shuffle, spill, memory), a
  * QueryExecutionListener (planning phases, scan-node SQL metrics) and
  * a StreamingQueryListener (micro-batch progress). Registered only in
  * traced runs; the end-to-end figures come from runs without it. */
final class Tracer(spark: SparkSession) {
  private val events = new AtomicLong
  @volatile private var closedAtMs = Long.MaxValue
  @volatile private var lateSeen = false

  /** Count an event that happened at `timeMs` if the trace was still
    * open then. A stream keeps running after its loop, so events are cut
    * at the moment the loop ended, not at the moment they are delivered. */
  private def open(timeMs: Long): Boolean =
    if (timeMs > closedAtMs) { lateSeen = true; false }
    else { events.incrementAndGet(); true }

  private val jobs = new AtomicLong
  private val stages = new AtomicLong
  private val tasks = new AtomicLong
  private val execRunMs = new AtomicLong
  private val shuffleWriteB = new AtomicLong
  private val shuffleReadB = new AtomicLong
  private val fetchWaitMs = new AtomicLong
  private val spillB = new AtomicLong
  private val peakExecMemB = new AtomicLong
  private val taskMs = new ConcurrentLinkedQueue[java.lang.Double]
  private val stageMaxTaskMs = new ConcurrentLinkedQueue[java.lang.Double]
  private val stageMax = new java.util.concurrent.ConcurrentHashMap[Int, java.lang.Long]

  private val planMs = new ConcurrentLinkedQueue[java.lang.Double]
  private val scanRecords = new AtomicLong
  private val scanBytes = new AtomicLong
  private val scanFallbacks = new AtomicLong
  private val scanRowsOut = new AtomicLong
  val progress = new ConcurrentLinkedQueue[StreamingQueryProgress]

  /** Stages of jobs run by an output check, which the trace leaves out. */
  private val checkStages = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = if (open(e.time)) {
      val group = Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull
      if (group == Checks.JobGroup) e.stageIds.foreach(checkStages.add(_))
      else jobs.incrementAndGet()
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      if (open(e.stageInfo.completionTime.getOrElse(0L)) && !checkStages.contains(e.stageInfo.stageId)) {
        stages.incrementAndGet()
        Option(stageMax.remove(e.stageInfo.stageId)).foreach(m => stageMaxTaskMs.add(m.toDouble))
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      if (open(e.taskInfo.finishTime) && !checkStages.contains(e.stageId)) onTask(e)
    private def onTask(e: SparkListenerTaskEnd): Unit = {
      tasks.incrementAndGet()
      val d = e.taskInfo.duration
      taskMs.add(d.toDouble)
      stageMax.merge(e.stageId, d, (a: java.lang.Long, b: java.lang.Long) => math.max(a, b))
      val m = e.taskMetrics
      if (m != null) {
        execRunMs.addAndGet(m.executorRunTime)
        shuffleWriteB.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        shuffleReadB.addAndGet(m.shuffleReadMetrics.totalBytesRead)
        fetchWaitMs.addAndGet(m.shuffleReadMetrics.fetchWaitTime)
        spillB.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
        peakExecMemB.accumulateAndGet(m.peakExecutionMemory, math.max)
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      if (open(System.currentTimeMillis())) {
        planMs.add(qe.tracker.phases.values.map(_.durationMs).sum.toDouble)
        walk(qe.executedPlan) { p =>
          p.metrics.get("dnsTransferRecords").foreach { rec =>
            scanRecords.addAndGet(rec.value)
            p.metrics.get("dnsTransferBytes").foreach(m => scanBytes.addAndGet(m.value))
            p.metrics.get("dnsIxfrFallbacks").foreach(m => scanFallbacks.addAndGet(m.value))
            p.metrics.get("numOutputRows").foreach(m => scanRowsOut.addAndGet(m.value))
          }
        }
      }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      if (open(java.time.Instant.parse(e.progress.timestamp).toEpochMilli)) progress.add(e.progress)
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  /** Visit every node of an executed plan, through adaptive plans,
    * query stages and command results. */
  private def walk(p: SparkPlan)(f: SparkPlan => Unit): Unit = {
    f(p)
    p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)(f)
      case s: QueryStageExec => walk(s.plan)(f)
      case c: CommandResultExec => walk(c.commandPhysicalPlan)(f)
      case _ => ()
    }
    p.children.foreach(walk(_)(f))
    p.subqueries.foreach(walk(_)(f))
  }

  private var gc0 = 0L
  private var jit0 = 0L
  private var gcMs = 0L
  private var jitMs = 0L

  def start(): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
    spark.streams.addListener(streamListener)
    gc0 = Host.gcMs(); jit0 = Host.jitMs()
  }

  def stop(): Unit = {
    closedAtMs = System.currentTimeMillis()
    gcMs = Host.gcMs() - gc0; jitMs = Host.jitMs() - jit0
    // Spark's listener bus is asynchronous: wait until it has delivered
    // an event from after the close, or until nothing moves for 150 ms
    var last = -1L
    var stable = 0
    val deadline = System.nanoTime() + 5000000000L
    while (!lateSeen && stable < 3 && System.nanoTime() < deadline) {
      Thread.sleep(50)
      val now = events.get()
      if (now == last) stable += 1 else { stable = 0; last = now }
    }
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(qeListener)
    spark.streams.removeListener(streamListener)
  }

  /** Engine-level per-layer metrics of a traced loop, per op. */
  def sparkMetrics(r: LoopResult): Map[String, Double] = {
    val ops = math.max(1L, r.ops).toDouble
    val mb = 1024.0 * 1024.0
    Map(
      "spark.plan_ms" -> Stats.median(planMs.asScala.map(_.doubleValue)),
      "spark.jobs_per_op" -> jobs.get / ops,
      "spark.stages_per_op" -> stages.get / ops,
      "spark.tasks_per_op" -> tasks.get / ops,
      "spark.exec_run_ms_per_op" -> execRunMs.get / ops,
      "spark.busy_ratio" -> execRunMs.get / (r.busyS * 1000.0 * Session.Cores),
      "spark.shuffle_write_mb" -> shuffleWriteB.get / mb / ops,
      "spark.shuffle_read_mb" -> shuffleReadB.get / mb / ops,
      "spark.fetch_wait_ms" -> fetchWaitMs.get / ops,
      "spark.spill_mb" -> spillB.get / mb / ops,
      "spark.peak_exec_mem_mb" -> peakExecMemB.get / mb,
      "jvm.gc_ms_per_op" -> gcMs / ops,
      "jvm.jit_ms" -> jitMs.toDouble)
  }

  /** Scan-side metrics of a traced batch-read loop, per op. */
  def scanMetrics(r: LoopResult): Map[String, Double] = {
    val ops = math.max(1L, r.ops).toDouble
    Map(
      "read.transfer_records" -> scanRecords.get / ops,
      "read.transfer_bytes" -> scanBytes.get / ops,
      "read.rows_out_per_record" ->
        (if (scanRecords.get > 0) scanRowsOut.get.toDouble / scanRecords.get else 0.0),
      "read.ixfr_fallbacks" -> scanFallbacks.get.toDouble,
      "read.scan_task_ms_p50" -> Stats.median(taskMs.asScala.map(_.doubleValue)),
      "read.scan_task_ms_max" -> Stats.median(stageMaxTaskMs.asScala.map(_.doubleValue)))
  }
}
