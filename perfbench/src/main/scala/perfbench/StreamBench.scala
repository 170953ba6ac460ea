package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.{AtomicIntegerArray, AtomicLong, AtomicLongArray}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.model.Schemas
import graft.ops.EgvOps
import graft.streaming.{BulkClient, EgvStreams, IdempotentBulkSink}

/** Index state for one set of generated events: upsert-by-id store plus
  * per-event send counts and index times, and per-call timings. */
final class SinkState(events: Array[GenEvent]) {
  val seqOf = new ConcurrentHashMap[String, Integer](events.length * 2)
  events.indices.foreach(i => seqOf.put(events(i).id, i))
  val store = new ConcurrentHashMap[String, String](events.length * 2)
  val sent = new AtomicIntegerArray(events.length)
  val indexedAt = new AtomicLongArray(events.length)
  val indexed = new AtomicLong
  val unknown = new AtomicLong
  /** (start, end, docs, seq of the first doc, failed) per call. */
  val calls = new ConcurrentLinkedQueue[(Long, Long, Int, Int, Boolean)]

  def upsert(docs: Seq[(String, String)]): Unit = {
    val s = Clock.now()
    val first = docs.headOption.flatMap(d => Option(seqOf.get(d._1))).fold(-1)(_.intValue)
    try docs.foreach { case (id, json) => store.put(id, json) }
    catch { case t: Throwable => calls.add((s, Clock.now(), docs.size, first, true)); throw t }
    val e = Clock.now()
    docs.foreach { case (id, _) =>
      val seq = seqOf.get(id)
      if (seq == null) unknown.incrementAndGet()
      else if (sent.getAndIncrement(seq) == 0) {
        indexedAt.set(seq, e)
        indexed.incrementAndGet()
      }
    }
    calls.add((s, e, docs.size, first, false))
  }
}

/** The benchmark's in-memory document store. An object, so the
  * executor-side sink (same JVM in local mode) reaches the driver's
  * state. */
object TimedBulkClient extends BulkClient {
  @volatile var state: SinkState = _
  override def bulkUpsert(docs: Seq[(String, String)]): Unit = state.upsert(docs)
}

/** The egv_stream workload: Kafka-shaped records from a MemoryStream
  * through parseEgvs, the range-table lookup topology and the
  * distributed idempotent bulk sink.
  *
  * Phases: catch-up drains a fixed backlog after a restart, five times
  * (closed loop);
  * live-low and live-high add one tick of events every 100 ms on a fixed
  * schedule (open loop). Latency runs from an event's due time to the return of
  * the bulkUpsert call that indexed it. The high rate must keep its p99
  * within [[StreamBench.HiP99LimitMs]] and must not grow a backlog; a run
  * that breaks either counts the events that missed as failed. */
final class StreamBench(spark: SparkSession, seed: Long, seconds: Int,
                        work: String, spans: Spans, listener: Option[LayerListener]) {
  import spark.implicits._
  import StreamBench._

  val cores: Int = spark.sparkContext.defaultParallelism
  val Backlog = 60000
  val CatchupRounds = 5
  val TickMs = 100L
  val loTicks: Int = (seconds * 1000L / 2 / TickMs).toInt
  val hiTicks: Int = loTicks
  val keyCols = Seq("key", "systemTime")

  private val gen = new EgvGen(seed)
  private val warmup = gen.take(Backlog + 10 * LoRate / 10 + 5 * HiRate / 10)
  private val loStart = CatchupRounds * Backlog
  private val hiStart = loStart + loTicks * LoRate / 10
  private val events = gen.take(hiStart + hiTicks * HiRate / 10)
  private val due = new Array[Long](events.length)

  private val input = MemoryStream[KafkaRec](spark)
  private val ranges = Schemas.fixtureRanges
    .map(r => (r.rangeId, r.startSec, r.endSec, r.lowerBound, r.upperBound))
    .toDF("range_id", "start_sec", "end_sec", "lower_bound", "upper_bound")

  private def add(evs: Array[GenEvent], from: Int, until: Int, dueNs: Long,
                  dueArr: Array[Long]): Unit = {
    val ts = new java.sql.Timestamp(dueNs / 1000000L)
    var i = from
    while (i < until) { if (dueArr != null) dueArr(i) = dueNs; i += 1 }
    input.addData(evs.slice(from, until).map(e => KafkaRec(e.key, e.value, ts)).toSeq)
  }

  /** Adds [from, until) as 2 x nproc source blocks, so the micro-batch
    * reading them has that many partitions. */
  private def addBacklog(evs: Array[GenEvent], from: Int, until: Int,
                         dueArr: Array[Long]): Unit = {
    val now = Clock.now()
    val step = (until - from + 2 * cores - 1) / (2 * cores)
    (from until until by step).foreach(b => add(evs, b, math.min(b + step, until), now, dueArr))
  }

  private def start(): StreamingQuery =
    EgvStreams.categorizeLookupTopology(EgvStreams.parseEgvs(input.toDF()), ranges)
      .writeStream
      .foreachBatch(IdempotentBulkSink.writeBatchDistributed(
        () => TimedBulkClient, keyCols) _)
      .option("checkpointLocation", s"$work/checkpoint")
      .start()

  /** One catch-up round, as the reference's restart with
    * auto.offset.reset=earliest sees it: the query stops once its last
    * batch is committed, the backlog [from, until) arrives while it is
    * stopped, and the round runs from the restart from the checkpoint
    * until the sink has indexed `indexedAfter` events, so the backlog is
    * one micro-batch. Returns the new query and the round's seconds. */
  private def catchUp(q: StreamingQuery, evs: Array[GenEvent], from: Int, until: Int,
                      st: SinkState, indexedAfter: Long,
                      dueArr: Array[Long]): (StreamingQuery, Double) = {
    q.processAllAvailable()
    q.stop()
    addBacklog(evs, from, until, dueArr)
    val t = Clock.now()
    val restarted = start()
    awaitIndexed(st, indexedAfter, 120000)
    (restarted, (Clock.now() - t) / 1e9)
  }

  private def awaitIndexed(st: SinkState, n: Long, timeoutMs: Long): Boolean = {
    val deadline = System.currentTimeMillis() + timeoutMs
    while (st.indexed.get < n && System.currentTimeMillis() < deadline) Thread.sleep(2)
    st.indexed.get >= n
  }

  /** Open loop: tick k of a phase is due at t0 + k * TickMs whether or
    * not the pipeline kept up. Returns (phase end, max lateness ns,
    * backlog before each tick: events added and not yet indexed). */
  private def live(evs: Array[GenEvent], from: Int, ticks: Int, perTick: Int,
                   st: SinkState, dueArr: Array[Long]): (Long, Long, Seq[Long]) = {
    val t0 = Clock.now()
    var late = 0L
    val backlog = Seq.newBuilder[Long]
    (0 until ticks).foreach { k =>
      val dueNs = t0 + k * TickMs * 1000000L
      val wait = dueNs - Clock.now()
      if (wait > 0) Thread.sleep(wait / 1000000L, (wait % 1000000L).toInt)
      late = math.max(late, Clock.now() - dueNs)
      val lo = from + k * perTick
      backlog += lo - st.indexed.get
      add(evs, lo, lo + perTick, dueNs, dueArr)
    }
    (t0 + ticks * TickMs * 1000000L, late, backlog.result())
  }

  private def docs(df: DataFrame): DataFrame =
    df.withColumn("__id", IdempotentBulkSink.docId(keyCols))
      .withColumn("__doc", to_json(struct(df.columns.toIndexedSeq.map(col): _*)))
      .select("__id", "__doc")

  /** Runs set-up (query start plus a warm-up at the target sizes), then
    * the timed phases, then the output check. */
  def run(): Outcome = {
    val warmState = new SinkState(warmup)
    TimedBulkClient.state = warmState
    var query = catchUp(start(), warmup, 0, Backlog, warmState, Backlog, null)._1
    live(warmup, Backlog, 10, LoRate / 10, warmState, null)
    live(warmup, Backlog + 10 * LoRate / 10, 5, HiRate / 10, warmState, null)
    awaitIndexed(warmState, warmup.length, 60000)
    val st = new SinkState(events)
    TimedBulkClient.state = st
    val setupEnd = Clock.now()

    val c0 = Clock.now()
    val cpu0 = Main.cpuJiffies()
    val drains = (0 until CatchupRounds).map { r =>
      val (q, s) = catchUp(query, events, r * Backlog, (r + 1) * Backlog, st, (r + 1L) * Backlog, due)
      query = q
      s
    }
    val caughtUp = st.indexed.get >= loStart
    val c1 = Clock.now()
    val (loEnd, loLate, loBacklog) = live(events, loStart, loTicks, LoRate / 10, st, due)
    val (_, hiLate, hiBacklog) = live(events, hiStart, hiTicks, HiRate / 10, st, due)
    awaitIndexed(st, events.length, 5000)
    val end = Clock.now()
    query.stop()
    listener.foreach { l => l.awaitTerminated(query.runId); l.drain(spark) }
    val rss = Main.peakRssMb()
    val stealFrac = Main.stealFrac(cpu0, Main.cpuJiffies())
    val phases = Seq("catchup" -> (c0, c1, 0, loStart),
      "lo" -> (c1, loEnd, loStart, hiStart),
      "hi" -> (loEnd, end, hiStart, events.length))
    val calls = st.calls.asScala.toSeq
    // Spans: phase -> micro-batch (from its progress report) -> bulk call.
    phases.zipWithIndex.foreach { case ((p, (lo, hi, _, _)), i) =>
      val phase = spans.add(0, i + 1L, s"stream.phase.$p", lo, hi)
      val batches = listener.map(_.batchesIn(lo, hi)).getOrElse(Nil).map { b =>
        val end = b.start + (b.d("triggerExecution") * 1e6).toLong
        (spans.add(phase, i + 1L, s"stream.batch ${b.batchId}", b.start, end), b.start, end)
      }
      calls.filter { case (s, _, _, _, _) => s >= lo && s < hi }.foreach { case (s, e, _, _, _) =>
        val parent = batches.find { case (_, bs, be) => s >= bs && s <= be }.fold(phase)(_._1)
        spans.add(parent, i + 1L, "sink.bulkUpsert", s, e)
      }
    }

    def lat(from: Int, until: Int): Seq[Double] =
      (from until until).collect {
        case i if st.indexedAt.get(i) > 0 => (st.indexedAt.get(i) - due(i)) / 1e6
      }
    val loLat = lat(loStart, hiStart)
    val hiLat = lat(hiStart, events.length)

    // Output check, outside every timed region: the sink must hold
    // exactly the documents the batch twin produces, each sent once.
    // An RDD, not a local Seq: the optimizer would fold a local relation's
    // projections into one interpreted pass on the driver.
    val batchIn = spark.sparkContext.parallelize(events.toSeq.zipWithIndex.map { case (e, i) =>
      KafkaRec(e.key, e.value, new java.sql.Timestamp(due(i) / 1000000L)) }, cores).toDF()
    val twin = EgvOps.categorizeWithLookup(
      EgvStreams.parseEgvs(batchIn).withColumn("ts", col("systemTs")), ranges)
    val expected = docs(twin).collect().map { case Row(id: String, d: String) => id -> d }
    var wrong = 0L
    val errors = Seq.newBuilder[String]
    expected.foreach { case (id, d) =>
      val seq = st.seqOf.get(id)
      val ok = seq != null && st.sent.get(seq) == 1 && d == st.store.get(id)
      if (!ok) {
        wrong += 1
        if (wrong <= 5) errors += s"event $id: sent ${if (seq == null) -1 else st.sent.get(seq)} times, stored doc ${if (d == st.store.get(id)) "matches" else "differs"}"
      }
    }
    val missingTwin = events.length - expected.length
    if (missingTwin != 0) errors += s"batch twin has ${expected.length} rows for ${events.length} events"
    if (st.unknown.get > 0) errors += s"${st.unknown.get} documents with ids no event has"
    val digest = (xs: Iterable[(String, String)]) =>
      xs.map { case (k, v) => scala.util.hashing.MurmurHash3.stringHash(k + "\u0000" + v).toLong }.sum
    if (digest(expected) != digest(st.store.asScala))
      errors += "sink contents hash differs from the batch twin"

    // The high rate's limits. Breaking the p99 limit fails every indexed
    // event that missed it (the check above fails the unindexed ones); a
    // growing backlog fails the events still queued at the last tick.
    val hiP99 = Stats.percentile(hiLat, 99)
    val overLimit = hiLat.count(_ > HiP99LimitMs)
    val hiGrows = Stats.backlogGrows(hiBacklog)
    if (hiP99 > HiP99LimitMs)
      errors += f"high-rate p99 latency $hiP99%.0f ms exceeds $HiP99LimitMs%.0f ms"
    if (hiGrows) errors += s"high-rate backlog grows: ${hiBacklog.mkString(",")}"
    val missedLimits = math.max(if (hiP99 > HiP99LimitMs) overLimit else 0,
      if (hiGrows) hiBacklog.last else 0L)
    val failed = wrong + math.max(0, missingTwin) + st.unknown.get + missedLimits

    val e2e = Seq(
      "setup_s" -> 0.0, // filled in by Main
      "peak_rss_mb" -> rss,
      "work_s" -> drains.min, // the least disturbed round, as for catalog passes
      "p50_ms" -> Stats.median(loLat))
    if (!caughtUp) errors += "a catch-up backlog was not drained within 120 s"

    val layers = Seq.newBuilder[(String, Double)]
    layers += "gen.events" -> events.length.toDouble
    layers += "gen.late_ms_max" -> math.max(loLate, hiLate) / 1e6
    layers += "stream.catchup_eps" -> Backlog / drains.min
    layers += "host.steal_frac" -> stealFrac
    layers += "stream.lat_p99_ms.lo" -> Stats.percentile(loLat, 99)
    layers += "stream.lat_p50_ms.hi" -> Stats.median(hiLat)
    layers += "stream.lat_p99_ms.hi" -> hiP99
    phases.foreach { case (p, (lo, hi, from, until)) =>
      val bs = listener.map(_.batchesIn(lo, hi).filter(_.rows > 0)).getOrElse(Nil)
      def p50(k: String) = Stats.median(bs.map(_.d(k)))
      layers += s"stream.batches.$p" -> bs.size.toDouble
      layers += s"stream.rows_per_batch_p50.$p" -> Stats.median(bs.map(_.rows.toDouble))
      layers += s"stream.trigger_ms_p50.$p" -> p50("triggerExecution")
      layers += s"stream.add_batch_ms_p50.$p" -> p50("addBatch")
      layers += s"stream.planning_ms_p50.$p" -> p50("queryPlanning")
      layers += s"stream.wal_commit_ms_p50.$p" -> p50("walCommit")
      layers += s"stream.commit_offsets_ms_p50.$p" -> p50("commitOffsets")
      if (p != "catchup")
        layers += s"stream.backlog_max.$p" -> (if (p == "lo") loBacklog else hiBacklog).max.toDouble
      val cs = calls.filter { case (_, _, _, first, _) => first >= from && first < until }
      val sentDocs = cs.map(_._3.toLong).sum
      val distinct = (from until until).count(i => st.sent.get(i) > 0).toLong
      layers += s"sink.calls.$p" -> cs.size.toDouble
      layers += s"sink.docs.$p" -> sentDocs.toDouble
      layers += s"sink.upsert_s.$p" -> cs.map { case (s, e, _, _, _) => e - s }.sum / 1e9
      layers += s"sink.docs_per_call.$p" -> (if (cs.isEmpty) 0.0 else sentDocs.toDouble / cs.size)
      layers += s"sink.useful_frac.$p" -> Stats.usefulFrac(distinct, sentDocs)
      layers += s"sink.failed_batches.$p" -> cs.count(_._5).toDouble
      listener.foreach { l =>
        layers ++= LayerMetrics(l, Seq((lo, hi)), cores).collect {
          case (k, v) if k == "exec.cpu_s" => s"$k.$p" -> v
        }
      }
    }
    listener.foreach(l => layers ++= LayerMetrics(l, Seq((c0, end)), cores))
    Outcome(setupEnd, e2e, layers.result(), events.length.toLong, failed, errors.result(),
      None, 1, Map.empty)
  }
}

object StreamBench {
  /** Live-low rate: about 600,000 sensors at one EGV per 5 minutes. */
  val LoRate = 2000
  val HiRate = 40000
  /** The high rate's p99 event-to-index latency limit. */
  val HiP99LimitMs = 2000.0
}
