package graft.cdc

import graft.model.Subscription
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import scala.jdk.CollectionConverters._

/** Commit→broadcast latency measurement for the streaming CDC pipeline —
  * the reference's headline SLO
  * (`realtime_tenants_broadcast_from_database_latency_committed_at`,
  * /root/reference/OBSERVABILITY_METRICS.md:117) at its implied design
  * point of ~1,000 changes/s/tenant (100 changes per 100 ms poll,
  * BASELINE.md).
  *
  * Method: a feeder thread stamps each change with its enqueue wall-clock
  * ("commit") in the `commit_timestamp` field; the delivery sink records
  * `now − commit` at `offer` time ON THE PARTITION that produced the frame
  * — so the number covers trigger wait + gate + match + shape + encode +
  * fan-out, exactly the reference's committed_at→broadcast span. Latencies
  * land in a JVM-static recorder (executor-local; on a real cluster this
  * is a per-executor histogram merged by the metrics pipeline — only the
  * aggregation transport differs, not the measured span).
  *
  * Warmup handling: the first seconds of a fresh session pay
  * codegen/planning once; steady-state percentiles are computed over
  * deliveries whose commit falls after `warmupSec` so the number reflects
  * the pipeline, not JIT warmup. Both windows are reported.
  */
object StreamLatency {

  /** The change shape fed to the pipeline; `commit_timestamp` carries
    * epoch-millis as a string (spliced verbatim into the frame). */
  final case class Change(id: Long, change_type: String, value: Double,
      commit_timestamp: String)

  /** (commitMs, latencyMs) samples for one run — recorded through
    * per-thread striped buffers, NOT a shared concurrent queue. The
    * round-11 knee decomposition measured the old
    * ConcurrentLinkedQueue recorder as the knee's binding resource: a
    * boxed tuple allocation plus a CAS on one shared tail per frame
    * across 32 producer threads cost ~0.5 µs/frame, capping the measured
    * pipeline at ~570k frames/s while the pipeline with a no-op sink
    * sustained ~775k — the 640k sweep point failed on the instrument,
    * not the engine. Each thread now appends to its own primitive-long
    * pair buffer (uncontended synchronized, no allocation on the hot
    * path); the driver drains all stripes after the query stops. */
  private final class Buf {
    private var n = 0
    private var commits = new Array[Long](1024)
    private var lats = new Array[Long](1024)
    def add(c: Long, l: Long): Unit = synchronized {
      if (n == commits.length) {
        commits = java.util.Arrays.copyOf(commits, n * 2)
        lats = java.util.Arrays.copyOf(lats, n * 2)
      }
      commits(n) = c; lats(n) = l; n += 1
    }
    def snapshot(): (Array[Long], Array[Long], Int) =
      synchronized { (commits, lats, n) }
  }

  private val registry =
    new ConcurrentHashMap[String, ConcurrentLinkedQueue[Buf]]()
  // run ids whose stripes were drained/discarded: a sink thread racing
  // past drain() must NOT re-create the registry entry via
  // computeIfAbsent (nothing would ever remove it again — stripes for a
  // 640k/s run are ~60 MB, retained for the JVM lifetime). RunIds are
  // never reused and a JVM sees dozens of runs, so the tombstone set
  // stays a handful of strings.
  private val closed = ConcurrentHashMap.newKeySet[String]()
  private val perThread: ThreadLocal[java.util.HashMap[String, Buf]] =
    ThreadLocal.withInitial(() => new java.util.HashMap[String, Buf]())
  private val ids = new java.util.concurrent.atomic.AtomicLong(0L)

  private[cdc] def record(runId: String, commit: Long, latMs: Long): Unit = {
    val m = perThread.get()
    var b = m.get(runId)
    if (b == null) {
      if (closed.contains(runId)) return // run already drained: drop late samples
      // first sample of a new run on this thread: purge this thread's
      // buffers for already-drained runs (runIds are never reused, so a
      // missing registry entry means the run is over) — bounds the
      // thread-local footprint across a long sweep
      val it = m.keySet().iterator()
      while (it.hasNext) if (!registry.containsKey(it.next())) it.remove()
      b = new Buf
      registry.computeIfAbsent(runId,
        _ => new ConcurrentLinkedQueue[Buf]()).add(b)
      m.put(runId, b)
    }
    b.add(commit, latMs)
  }

  /** Drop `runId`'s stripes without reading them and tombstone the id —
    * for runs (a failed one, or one already drained) whose samples are
    * never consumed. */
  private[graft] def discard(runId: String): Unit = {
    closed.add(runId)
    registry.remove(runId)
    ()
  }

  /** Remove and concatenate all stripes for `runId`. */
  private def drain(runId: String): Array[(Long, Long)] = {
    closed.add(runId)
    val q = registry.remove(runId)
    if (q == null) Array.empty
    else q.asScala.toArray.flatMap { b =>
      val (cs, ls, n) = b.snapshot()
      Array.tabulate(n)(i => (cs(i), ls(i)))
    }
  }

  /** Sink that clocks each frame as it leaves its partition. */
  final class TimingSink(runId: String) extends CdcStream.DeliverySink {
    def offer(d: CdcStream.Delivery): Unit = {
      val commit = parseCommitMs(d.frame)
      if (commit > 0L)
        StreamLatency.record(runId, commit,
          System.currentTimeMillis() - commit)
    }
  }

  /** Timing sink that routes every frame through the outbound
    * [[graft.sources.ReplayLogSink]] FIRST and clocks the latency after
    * the produce returns — so the measured span includes the durable
    * hand-off to the transport, the honest definition of "delivered"
    * when the dispatch fastlane feeds a real log instead of sockets. */
  final class LogTimingSink(runId: String, topic: String, parts: Int)
      extends CdcStream.DeliverySink {
    private val log = new graft.sources.ReplayLogSink(topic, parts)
    def offer(d: CdcStream.Delivery): Unit = {
      log.offer(d)
      val commit = parseCommitMs(d.frame)
      if (commit > 0L)
        StreamLatency.record(runId, commit,
          System.currentTimeMillis() - commit)
    }
  }

  /** Extract the epoch-millis commit stamp from the encoded frame without
    * a JSON parse (the hot path must not cost more than the pipeline). */
  private[cdc] def parseCommitMs(frame: String): Long = {
    val key = "\"commit_timestamp\":\""
    val i = frame.indexOf(key)
    if (i < 0) return -1L
    var j = i + key.length
    var v = 0L
    var any = false
    while (j < frame.length && frame.charAt(j) >= '0' && frame.charAt(j) <= '9') {
      v = v * 10L + (frame.charAt(j) - '0'); j += 1; any = true
    }
    if (any && j < frame.length && frame.charAt(j) == '"') v else -1L
  }

  /** Wall-clock-pinned adaptive feeder, shared by [[run]], [[rawFloor]]
    * and the cross-process producer ([[graft.XprocProducer]]) so a
    * pacing fix lands in ONE place: feeds `ratePerSec` Changes for
    * `seconds` in 50 ms steps pinned to the wall clock (the offered
    * rate stays `ratePerSec` even when addData itself stalls briefly).
    * Each step splits into ~4k-row addData blocks, capped at 16 (rates
    * ≤ ~80k/s keep one block):
    * MemoryStream materializes ONE partition per addData block, so a
    * 1-block feeder gives every micro-batch ~2 partitions and the whole
    * pipeline runs on ~2 tasks regardless of cores — a HARNESS
    * artifact, not an engine property; a real partitioned source (the
    * ReplayLog DSv2, a broker) spreads by construction. Chunked feeding
    * models that spread. Returns rows sent. */
  private[graft] def feedAdaptive(input: MemoryStream[Change],
      ratePerSec: Int, seconds: Int): Long = {
    val stepMs = 50
    val perStep = ratePerSec * stepMs / 1000
    val steps = seconds * 1000 / stepMs
    val chunks = math.min(16, math.max(1, perStep / 4000))
    val chunk = math.max(1, perStep / chunks)
    val t0 = System.nanoTime()
    var step = 0
    var nSent = 0L
    while (step < steps) {
      val now = System.currentTimeMillis().toString
      var off = 0
      while (off < perStep) {
        val n = math.min(chunk, perStep - off)
        val base = nSent + off
        input.addData((0 until n).map(k =>
          Change(base + k, "INSERT", 1.0, now)))
        off += n
      }
      nSent += perStep
      val sleepNs = t0 + (step + 1).toLong * stepMs * 1000000L - System.nanoTime()
      if (sleepNs > 0) Thread.sleep(sleepNs / 1000000L)
      step += 1
    }
    nSent
  }

  final case class Percentiles(n: Long, p50: Long, p95: Long, p99: Long,
      max: Long)

  final case class Report(
      ratePerSec: Int, seconds: Int, triggerMs: Long,
      nSent: Long, nDelivered: Long,
      overall: Percentiles, steady: Percentiles,
      batchDurationP95Ms: Long)

  private def percentiles(xs: Array[Long]): Percentiles = {
    if (xs.isEmpty) return Percentiles(0L, -1L, -1L, -1L, -1L)
    val s = xs.sorted
    def p(q: Double): Long = s(math.min(s.length - 1,
      math.ceil(q * s.length).toInt - 1).max(0))
    Percentiles(s.length.toLong, p(0.50), p(0.95), p(0.99), s.last)
  }

  /** Run the pipeline at `ratePerSec` for `seconds`, one match-all
    * subscriber (deliveries = changes), and report commit→frame latency.
    * `viaLog` routes deliveries through the outbound ReplayLog sink
    * (topic, partitions) and clocks AFTER the produce — the caller owns
    * the topic's cleanup. */
  def run(spark: SparkSession, ratePerSec: Int = 1000, seconds: Int = 8,
      triggerMs: Long = 100L, warmupSec: Int = 3,
      viaLog: Option[(String, Int)] = None): Report = {
    require(ratePerSec >= 20 && ratePerSec % 20 == 0,
      s"ratePerSec must be a positive multiple of 20 (50 ms feed steps), got $ratePerSec")
    require(seconds >= 1 && warmupSec < seconds)
    // the sample registry is JVM-static: on a real cluster executor-side
    // offer() calls would land in executor JVMs and this driver-side read
    // would silently report empty percentiles — fail loudly instead (a
    // cluster deployment aggregates per-executor histograms through a
    // metrics pipeline, not this harness)
    require(spark.sparkContext.isLocal,
      "StreamLatency.run measures via a JVM-static registry and only " +
        "works on local[*] masters")
    import spark.implicits._
    val runId = "lat-" + ids.incrementAndGet()
    val input = MemoryStream[Change](spark)
    val subs = Seq(Subscription("bench", "public", "t", Nil))
    val dataSchema = Seq.empty[Change].toDS().toDF()
      .drop("change_type", "commit_timestamp").schema
    val bus = CdcStream.MemoryBus()
    val sink: CdcStream.DeliverySink = viaLog match {
      case Some((topic, parts)) => new LogTimingSink(runId, topic, parts)
      case None => new TimingSink(runId)
    }
    val q = CdcStream.start(input.toDF(), subs, dataSchema, "t",
      pk = Seq("id"), bus = bus, triggerMs = triggerMs,
      deliverTo = Some(sink))
    var nSent = 0L
    val t0Ms = System.currentTimeMillis()
    try {
      try {
      nSent = feedAdaptive(input, ratePerSec, seconds)
      q.processAllAvailable()
      } finally q.stop()
    val all = drain(runId)
    val steadyFloor = t0Ms + warmupSec * 1000L
    val batchP95 = percentiles(
      bus.batches.filter(_.nChanges > 0).map(_.durationMs).toArray).p95
    Report(ratePerSec, seconds, triggerMs, nSent, all.length.toLong,
      overall = percentiles(all.map(_._2)),
      steady = percentiles(all.collect { case (c, l) if c >= steadyFloor => l }),
      batchDurationP95Ms = batchP95)
    } finally discard(runId) // failed runs must not leak or re-grow stripes
  }

  /** One raw-engine floor window: `rows` counted through a bare
    * foreachBatch accumulator, `busyMs` = Σ engine batch durations, and
    * the busy throughput `rowsPerSec = rows / busy` — a host-speed
    * number independent of the offered rate's pacing sleeps. */
  final case class RawFloor(rows: Long, busyMs: Long) {
    def rowsPerSec: Long = if (busyMs == 0) -1L else rows * 1000L / busyMs
  }

  /** The engine-floor CONTROL: the knee harness's feeder into a bare
    * foreachBatch row count — NO match/shape/encode/fan-out — so the
    * measured throughput is the MemoryStream + micro-batch-engine floor
    * that no pipeline optimization can pass. It is the host-health
    * stamp of [[graft.KneeFresh]] and of Bench's stream block — the
    * same binary run on a quiet host reads a committed band,
    * and a degraded reading marks the knee artifact suspect (the r11
    * adjudication gap: the driver's recorded knee was taken minutes after
    * its own correctness marathon and under-read the quiet-host truth
    * with nothing in the JSON saying so). */
  def rawFloor(spark: SparkSession, ratePerSec: Int, seconds: Int): RawFloor = {
    import spark.implicits._
    System.gc(); Thread.sleep(200L)
    val registry = "rawfloor-" + System.nanoTime()
    val l = graft.cdc.Telemetry.listener(registry, "raw")
    spark.streams.addListener(l)
    val input = MemoryStream[Change](spark)
    val acc = spark.sparkContext.longAccumulator("raw-rows")
    val q = input.toDF().writeStream.outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime(100L))
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        b.foreachPartition { (it: Iterator[org.apache.spark.sql.Row]) =>
          var n = 0L; while (it.hasNext) { it.next(); n += 1 }; acc.add(n)
        }
        ()
      }.start()
    try {
      feedAdaptive(input, ratePerSec, seconds)
      q.processAllAvailable()
      Thread.sleep(500L) // let the async listener bus drain
      val snap = graft.cdc.Telemetry.snapshot(spark, registry)
      val durs = snap.where(org.apache.spark.sql.functions.col("metric") ===
          "batch_duration_ms")
        .select("value").collect().map(_.getDouble(0).toLong)
      RawFloor(acc.value, durs.sum)
    } finally {
      q.stop()
      spark.streams.removeListener(l)
      graft.cdc.Telemetry.clear(registry)
    }
  }

  /** One sweep point of [[knee]]: the rate, its steady percentiles, the
    * sent/delivered counts, and whether the point counts as SUSTAINED
    * (nothing dropped AND steady p99 within `p99SloMs`). `windows` is how
    * many measurement windows the majority vote consumed (2 when the
    * first two agreed, 3 when a tiebreaker ran). */
  final case class SweepPoint(ratePerSec: Int, nSent: Long, nDelivered: Long,
      steady: Percentiles, sustained: Boolean, failureMode: String,
      windows: Int = 1)

  final case class KneeReport(points: Seq[SweepPoint],
      maxSustainedRate: Int, failureMode: String)

  /** Find the streaming knee: run the fixed design-point harness at
    * increasing rates until a point fails its SLO, and report the highest
    * sustained rate plus HOW the first failing point failed. Failure
    * modes, in check order:
    *  - `drops`   — deliveries < sent: the pipeline lost frames (the bus
    *    itself never drops, so this is feeder/engine backlog that didn't
    *    drain before the query stopped);
    *  - `p99_degraded` — everything arrived but steady-state p99 blew the
    *    `p99SloMs` budget: micro-batches are queueing faster than they
    *    execute, the classic knee signature.
    * The sweep stops at the first failure (higher rates only degrade
    * further — measuring them adds wall-clock, not information).
    *
    * A rate's verdict is a MAJORITY over consecutive windows, not one
    * draw: the first two windows must agree, a disagreement runs a third
    * deciding window. Rationale (round-9 verdict): each window is one
    * `seconds`-long sample, so a single GC pause can fail an easily-
    * sustained rate (bogus low knee), and one lucky draw can pass a
    * boundary-marginal rate (bogus high knee) — the recorded knee then
    * flips between runs on host state. Two-of-three makes a boundary
    * point settle on the side it actually lands on most, so the artifact
    * is stable across back-to-back suite runs. The reported percentiles
    * for the point are the WORSE (by p99) of the agreeing windows —
    * the conservative reading of the evidence. */
  def knee(spark: SparkSession, rates: Seq[Int],
      seconds: Int = 6, triggerMs: Long = 100L, warmupSec: Int = 2,
      p99SloMs: Long = 1000L): KneeReport = {
    def window(r: Int): SweepPoint = {
      // quiesce the allocator before each window: in a long bench session
      // the sweep inherits minutes of batch-query garbage, and a single
      // old-gen pause inside a 6 s window fails a rate the pipeline
      // sustains — the point measures the pipeline, not allocator debt
      System.gc()
      Thread.sleep(200L)
      val rep = run(spark, r, seconds, triggerMs, warmupSec)
      val mode =
        if (rep.nDelivered < rep.nSent) "drops"
        else if (rep.steady.p99 > p99SloMs) "p99_degraded"
        else "none"
      SweepPoint(r, rep.nSent, rep.nDelivered, rep.steady,
        sustained = mode == "none", failureMode = mode)
    }
    def measure(r: Int): SweepPoint = {
      val w1 = window(r)
      val w2 = window(r)
      val agreeing =
        if (w1.sustained == w2.sustained) Seq(w1, w2)
        else {
          val w3 = window(r)
          Seq(w1, w2, w3).filter(_.sustained == w3.sustained)
        }
      val rep = agreeing.maxBy(_.steady.p99) // worst agreeing window
      rep.copy(windows = if (w1.sustained == w2.sustained) 2 else 3)
    }
    val points = Seq.newBuilder[SweepPoint]
    var failure = "none"
    var maxSustained = 0
    var stop = false
    for (r <- rates if !stop) {
      val p = measure(r)
      points += p
      if (p.sustained) maxSustained = r
      else { failure = p.failureMode; stop = true }
    }
    KneeReport(points.result(), maxSustained, failure)
  }

  /** JSON for one sweep point (shared by Bench's in-suite sweep and the
    * forked fresh-JVM knee so the two artifacts are field-identical). */
  def sweepPointJson(p: SweepPoint): String =
    s"""{"rate_per_sec":${p.ratePerSec},"n_sent":${p.nSent},""" +
      s""""n_delivered":${p.nDelivered},"p50_ms":${p.steady.p50},""" +
      s""""p95_ms":${p.steady.p95},"p99_ms":${p.steady.p99},""" +
      s""""sustained":${p.sustained},"windows":${p.windows}}"""

  /** JSON for a whole knee report. */
  def kneeJson(kn: KneeReport): String =
    s"""{"max_sustained_rate":${kn.maxSustainedRate},""" +
      s""""failure_mode":"${kn.failureMode}",""" +
      s""""points":${kn.points.map(sweepPointJson).mkString("[", ",", "]")}}"""
}
