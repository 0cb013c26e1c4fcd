package graftbench

import scala.collection.concurrent.TrieMap
import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Per-layer accounting for the traced run.
  *
  * Spark jobs are attributed to the benchmark operation that caused
  * them: by the `graftbench.op` local property when operations run
  * concurrently (serving requests, set by [[TracedService]]), or to the
  * single current operation when they run one after another (ingest
  * rounds). Everything is summed over the traced
  * phase; the caller divides by the operation count.
  */
final class Trace(spark: SparkSession, byProperty: Boolean)
    extends SparkListener with QueryExecutionListener {

  import Trace._

  @volatile private var recording = false
  @volatile private var current: String = null

  private val jobOp = TrieMap.empty[Int, String]
  private val jobStart = TrieMap.empty[Int, Long]
  private val stageOp = TrieMap.empty[Int, String]
  private val jobSpans = TrieMap.empty[String, mutable.ArrayBuffer[(Long, Long)]]
  private val sums = TrieMap.empty[String, Double]
  private val streamDur = TrieMap.empty[String, Double]
  private val spans = mutable.ArrayBuffer.empty[(String, String, Long, Long)]

  /** Record a span (operation id, layer, start and end in epoch ms). */
  def span(op: String, layer: String, start: Long, end: Long): Unit =
    if (recording) spans.synchronized { spans += ((op, layer, start, end)) }

  /** The recorded spans as `[op, layer, start_ms, end_ms]` rows of the
    * run's raw output.
    */
  def writeSpans(ctx: Ctx): Unit = {
    val a = ctx.out.putArray("spans")
    spans.synchronized(spans.toSeq).foreach { case (op, layer, s, e) =>
      a.addArray().add(op).add(layer).add(s).add(e)
    }
  }

  private def add(k: String, v: Double): Unit = sums.synchronized {
    sums.put(k, sums.getOrElse(k, 0.0) + v)
  }
  def total(k: String): Double = sums.getOrElse(k, 0.0)
  def streamTotal(k: String): Double = streamDur.getOrElse(k, 0.0)

  def install(): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
    spark.streams.addListener(streamListener)
  }

  def uninstall(): Unit = {
    drain()
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(this)
    spark.streams.removeListener(streamListener)
  }

  def drain(): Unit = org.apache.spark.sql.graftbench.Internals.drain(spark.sparkContext)

  def start(): Unit = { drain(); recording = true }
  def stop(): Unit = { drain(); recording = false }

  /** Mark a sequential operation; its Spark jobs are charged to it. */
  def op[T](id: String)(body: => T): T = {
    current = id
    val t0 = System.currentTimeMillis()
    try body
    finally { span(id, "op", t0, System.currentTimeMillis()); current = null }
  }

  /** Σ over operations of the union of each operation's job intervals:
    * the wall time in which at least one of its jobs was running.
    */
  def execMs: Double = jobSpans.values.map(unionMs).sum

  private def opOf(props: java.util.Properties): String =
    if (byProperty) Option(props).map(_.getProperty(OpProperty)).orNull else current

  override def onJobStart(e: SparkListenerJobStart): Unit =
    if (recording) {
      val op = opOf(e.properties)
      if (op != null) {
        jobOp.put(e.jobId, op)
        jobStart.put(e.jobId, e.time)
        e.stageIds.foreach(stageOp.put(_, op))
        add("jobs", 1)
      }
    }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    for (op <- jobOp.remove(e.jobId); t0 <- jobStart.remove(e.jobId)) {
      jobSpans.getOrElseUpdate(op, mutable.ArrayBuffer.empty).synchronized {
        jobSpans(op) += ((t0, e.time))
      }
      span(op, "spark.job", t0, e.time)
    }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    if (stageOp.contains(e.stageInfo.stageId)) {
      add("stages", 1)
      add("tasks", e.stageInfo.numTasks)
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    if (stageOp.contains(e.stageId) && e.taskMetrics != null) {
      val m = e.taskMetrics
      add("task_cpu_ms", m.executorCpuTime / 1e6)
      add("shuffle_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
      add("spill_bytes", (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
      add("bytes_read", m.inputMetrics.bytesRead.toDouble)
      add("rows_read", m.inputMetrics.recordsRead.toDouble)
      add("bytes_written", m.outputMetrics.bytesWritten.toDouble)
      add("rows_written", m.outputMetrics.recordsWritten.toDouble)
    }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    if (recording) {
      val phases = qe.tracker.phases
      add("plan_ms", Seq("optimization", "planning").flatMap(phases.get).map(_.durationMs).sum.toDouble)
      add("action_ms", durationNs / 1e6)
      add("files_read", scans(qe.executedPlan).map(s => metric(s, "numFiles")).sum)
    }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      if (recording) streamDur.synchronized {
        val p = e.progress
        def put(k: String, v: Double): Unit = streamDur.put(k, streamDur.getOrElse(k, 0.0) + v)
        p.durationMs.forEach((k, v) => put(k, v.doubleValue))
        put("batches", 1)
        p.stateOperators.foreach { s =>
          put("state_commit_ms", s.commitTimeMs.toDouble)
          put("state_rows", s.numRowsTotal.toDouble)
          put("state_mem_bytes", s.memoryUsedBytes.toDouble)
        }
      }
  }
}

object Trace {
  val OpProperty = "graftbench.op"

  def unionMs(spans: Iterable[(Long, Long)]): Double = {
    var total, end = 0L
    spans.toSeq.sortBy(_._1).foreach { case (s, e) =>
      if (s >= end) { total += e - s; end = e }
      else if (e > end) { total += e - end; end = e }
    }
    total.toDouble
  }

  /** File scans of an executed plan, unwrapping both adaptive layers
    * (AQE's query stages are leaves of the outer plan).
    */
  def scans(p: SparkPlan): Seq[FileSourceScanExec] =
    p.collect {
      case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
      case q: QueryStageExec        => scans(q.plan)
      case f: FileSourceScanExec    => Seq(f)
    }.flatten

  private def metric(p: SparkPlan, name: String): Double =
    p.metrics.get(name).map(_.value.toDouble).getOrElse(0.0)
}

/** The per-layer fields every workload reports the same way. */
object Layers {

  /** Share of an operation's wall time by which the independently
    * timed layers may overfill it before the traced run counts the
    * reconciliation as failed.
    */
  val ReconcileTolerance = 0.05

  def spark(ctx: Ctx, tr: Trace, n: Double, rowsOut: Double): Unit =
    ctx.layers(
      "spark.jobs" -> tr.total("jobs") / n,
      "spark.stages" -> tr.total("stages") / n,
      "spark.tasks" -> tr.total("tasks") / n,
      "spark.task_cpu_ms" -> tr.total("task_cpu_ms") / n,
      "spark.shuffle_bytes" -> tr.total("shuffle_bytes") / n,
      "spark.spill_bytes" -> tr.total("spill_bytes") / n,
      "sources.files_read" -> tr.total("files_read") / n,
      "sources.bytes_read" -> tr.total("bytes_read") / n,
      "sources.rows_read_per_row_out" -> tr.total("rows_read") / math.max(rowsOut, 1.0))

  /** Table-file fields from the per-operation listings and the task
    * output metrics; `rows` is the logical row count of the tables.
    */
  def store(ctx: Ctx, tr: Trace, fs: FsTracker, n: Double, rows: Double): Unit =
    ctx.layers(
      "store.files_written" -> fs.written / n,
      "store.bytes_written_per_row" -> tr.total("bytes_written") / math.max(tr.total("rows_written"), 1.0),
      "store.files_total" -> fs.filesSum / math.max(fs.steps, 1),
      "store.bytes_per_row" -> fs.bytesSum / math.max(fs.steps, 1) / math.max(rows, 1.0))

  /** `wall` is the mean end-to-end time of the traced operations and
    * `residuals` the layers defined as what remains of it once the
    * layers timed by their own clocks (Spark's phase and job clocks,
    * the service timer) are taken out. The split therefore sums to the
    * wall by construction; what can miss is the clocks. A residual
    * below zero means the independently timed layers overfill the wall
    * they ran inside (double counting, or clocks that disagree). The
    * split reconciles when no residual is below `-tolerance x wall`.
    */
  def reconcile(ctx: Ctx, wall: Double, residuals: Seq[(String, Double)]): Unit = {
    val (worst, r) = residuals.minBy(_._2)
    val err = math.max(0.0, -r) / wall
    ctx.layers("bench.reconcile_err" -> err)
    ctx.ops(1, if (err <= ReconcileTolerance) 0 else 1)
    if (err > ReconcileTolerance)
      ctx.failure(f"residual layer $worst is $r%.1f ms, below -${ReconcileTolerance * 100}%.0f%% of the $wall%.1f ms wall")
  }
}

/** Data files of a set of tables, listed after every operation: files
  * written, partitions touched and the running file count.
  */
final class FsTracker(roots: Seq[String]) {
  private def snapshot(): Map[String, Long] = roots.flatMap(Main.dataFiles).toMap
  private var last = snapshot()
  var written, touched, steps = 0L
  var filesSum, bytesSum = 0.0

  /** Start counting from the tables as they are now. */
  def reset(): Unit = last = snapshot()

  def step(): Unit = {
    val now = snapshot()
    val added = now.keySet -- last.keySet
    val removed = last.keySet -- now.keySet
    written += added.size
    touched += (added ++ removed).map(f => new java.io.File(f).getParent).size
    filesSum += now.size
    bytesSum += now.values.sum
    steps += 1
    last = now
  }
}
