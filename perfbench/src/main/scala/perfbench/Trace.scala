package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.Success
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One clock for the benchmark's own spans and Spark's listener events:
  * epoch nanoseconds, advanced by the monotonic clock. */
object Clock {
  private val epochNs = System.currentTimeMillis() * 1000000L
  private val base = System.nanoTime()
  def now(): Long = epochNs + (System.nanoTime() - base)
  def fromMs(ms: Long): Long = ms * 1000000L
}

/** A call into one layer. Spans of one operation (a query, a stream
  * phase) share `trace`; `parent` is the span that caused this one, 0
  * for a root. */
final case class Span(id: Long, parent: Long, trace: Long, name: String,
                      start: Long, end: Long)

/** In-memory span store, written out once when the run ends. Disabled,
  * it keeps nothing. */
final class Spans(val enabled: Boolean) {
  private val buf = new ConcurrentLinkedQueue[Span]
  private val ids = new AtomicLong

  def add(parent: Long, trace: Long, name: String, start: Long, end: Long): Long =
    if (!enabled) 0L
    else {
      val id = ids.incrementAndGet()
      buf.add(Span(id, parent, trace, name, start, end))
      id
    }

  def all: Seq[Span] = buf.asScala.toSeq

  def toJson: String = all.sortBy(_.start).map { s =>
    s"""{"id":${s.id},"parent":${s.parent},"trace":${s.trace},"name":${Json.str(s.name)},"start_ns":${s.start},"end_ns":${s.end}}"""
  }.mkString("[\n", ",\n", "\n]")
}

/** Per-job totals gathered from scheduler events. */
final class JobRec(val id: Int, val start: Long) {
  @volatile var end: Long = 0L
  var stages = 0
  var tasks = 0
  var taskFailures = 0
  var runMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var deserMs = 0L
  var delayMs = 0L
  var shuffleWrite = 0L
  var shuffleRead = 0L
  var spill = 0L
  var fetchWaitMs = 0L
  var scanBytes = 0L
  var scanRows = 0L
}

/** Catalyst phase times of one action, from `qe.tracker.phases`. */
final case class PlanRec(start: Long, analysisMs: Long, optimizeMs: Long,
                         physicalMs: Long)

/** One micro-batch's progress report. */
final case class BatchRec(start: Long, batchId: Long, rows: Long,
                          durations: Map[String, Long]) {
  def d(k: String): Double = durations.getOrElse(k, 0L).toDouble
}

/** Reads Spark's public listeners: scheduler events per job, Catalyst
  * phases per action and streaming progress per micro-batch. Events
  * arrive asynchronously on Spark's listener bus; [[drain]] waits until
  * everything that happened before it has been delivered. */
final class LayerListener extends SparkListener with QueryExecutionListener {
  private val jobs = new ConcurrentHashMap[Int, JobRec]()
  private val stageToJob = new ConcurrentHashMap[Int, JobRec]()
  private val plans = new ConcurrentLinkedQueue[PlanRec]()
  private val batches = new ConcurrentLinkedQueue[BatchRec]()
  private val terminated = ConcurrentHashMap.newKeySet[java.util.UUID]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val rec = new JobRec(e.jobId, Clock.fromMs(e.time))
    e.stageInfos.foreach(si => stageToJob.putIfAbsent(si.stageId, rec))
    jobs.put(e.jobId, rec)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.end = Clock.fromMs(e.time))

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    Option(stageToJob.get(e.stageInfo.stageId)).foreach(_.stages += 1)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(stageToJob.get(e.stageId)).foreach { j =>
      j.tasks += 1
      if (e.reason != Success) j.taskFailures += 1
      val m = e.taskMetrics
      if (m != null) {
        j.runMs += m.executorRunTime
        j.cpuNs += m.executorCpuTime
        j.gcMs += m.jvmGCTime
        j.deserMs += m.executorDeserializeTime
        j.delayMs += math.max(0L, e.taskInfo.duration - m.executorRunTime -
          m.executorDeserializeTime - m.resultSerializationTime)
        j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        j.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        j.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
        j.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        j.scanBytes += m.inputMetrics.bytesRead
        j.scanRows += m.inputMetrics.recordsRead
      }
    }

  private def plan(qe: QueryExecution): Unit = {
    val ph = qe.tracker.phases
    def ms(k: String) = ph.get(k).map(_.durationMs).getOrElse(0L)
    val start = ph.values.map(_.startTimeMs).minOption.getOrElse(0L)
    plans.add(PlanRec(Clock.fromMs(start), ms("analysis"), ms("optimization"),
      ms("planning")))
  }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = plan(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = plan(qe)

  val streams: StreamingQueryListener = new StreamingQueryListener {
    import StreamingQueryListener._
    override def onQueryStarted(e: QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: QueryProgressEvent): Unit = {
      val p = e.progress
      val start = Clock.fromMs(java.time.Instant.parse(p.timestamp).toEpochMilli)
      batches.add(BatchRec(start, p.batchId, p.numInputRows,
        p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap))
    }
    override def onQueryTerminated(e: QueryTerminatedEvent): Unit = terminated.add(e.runId)
  }

  def register(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
    spark.streams.addListener(streams)
  }

  /** Runs one marker query and waits until its job and Catalyst events
    * are delivered: the bus is FIFO, so everything earlier is in too. */
  def drain(spark: SparkSession, timeoutMs: Long = 60000): Unit = {
    val t = Clock.now()
    spark.range(1).collect()
    val deadline = System.currentTimeMillis() + timeoutMs
    def seen = jobs.values.asScala.exists(j => j.start >= t && j.end > 0) &&
      plans.asScala.exists(_.start >= t)
    while (!seen && System.currentTimeMillis() < deadline) Thread.sleep(10)
  }

  def awaitTerminated(id: java.util.UUID, timeoutMs: Long = 60000): Unit = {
    val deadline = System.currentTimeMillis() + timeoutMs
    while (!terminated.contains(id) && System.currentTimeMillis() < deadline)
      Thread.sleep(10)
  }

  def jobsIn(lo: Long, hi: Long): Seq[JobRec] =
    jobs.values.asScala.toSeq.filter(j => j.start >= lo && j.start < hi)
  def plansIn(lo: Long, hi: Long): Seq[PlanRec] =
    plans.asScala.toSeq.filter(p => p.start >= lo && p.start < hi)
  def batchesIn(lo: Long, hi: Long): Seq[BatchRec] =
    batches.asScala.toSeq.filter(b => b.start >= lo && b.start < hi)
      .sortBy(_.batchId)
}

/** Scheduler, executor, shuffle, scan and Catalyst totals over a set of
  * operation windows ([start, end) in [[Clock]] time). */
object LayerMetrics {
  def apply(l: LayerListener, windows: Seq[(Long, Long)], cores: Int): Seq[(String, Double)] = {
    val js = windows.flatMap { case (lo, hi) => l.jobsIn(lo, hi) }
    val ps = windows.flatMap { case (lo, hi) => l.plansIn(lo, hi) }
    val jobSpans = js.map(j => (j.start, if (j.end > 0) j.end else j.start))
    val wallS = windows.map { case (lo, hi) => hi - lo }.sum / 1e9
    val gapS = windows.map { case (lo, hi) =>
      Stats.selfTime(lo, hi, jobSpans) }.sum / 1e9
    def sum(f: JobRec => Long): Double = js.map(f).sum.toDouble
    val tasks = sum(_.tasks)
    val runS = sum(_.runMs) / 1e3
    Seq(
      "plan.analysis_ms" -> ps.map(_.analysisMs).sum.toDouble,
      "plan.optimize_ms" -> ps.map(_.optimizeMs).sum.toDouble,
      "plan.physical_ms" -> ps.map(_.physicalMs).sum.toDouble,
      "plan.actions" -> ps.size.toDouble,
      "sched.jobs" -> js.size.toDouble,
      "sched.stages" -> sum(_.stages),
      "sched.tasks" -> tasks,
      "sched.tasks_per_job" -> (if (js.isEmpty) 0.0 else tasks / js.size),
      "sched.driver_gap_s" -> gapS,
      "sched.task_delay_s" -> sum(_.delayMs) / 1e3,
      "sched.task_failures" -> sum(_.taskFailures),
      "exec.run_s" -> runS,
      "exec.cpu_s" -> sum(_.cpuNs) / 1e9,
      "exec.gc_s" -> sum(_.gcMs) / 1e3,
      "exec.deser_s" -> sum(_.deserMs) / 1e3,
      "exec.busy_frac" -> Stats.busyFrac(runS, cores, wallS),
      "shuffle.write_bytes" -> sum(_.shuffleWrite),
      "shuffle.read_bytes" -> sum(_.shuffleRead),
      "shuffle.spill_bytes" -> sum(_.spill),
      "shuffle.fetch_wait_s" -> sum(_.fetchWaitMs) / 1e3,
      "scan.bytes" -> sum(_.scanBytes),
      "scan.rows" -> sum(_.scanRows))
  }
}
