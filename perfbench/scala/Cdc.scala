package perfbench

import graft.cdc.CdcStream
import graft.model.Subscription
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

/** One change: the `events` row shape plus tenant and change type.
  * `commit_timestamp` carries the change's scheduled send time in µs of
  * the JVM's monotonic clock (it is spliced verbatim into each frame). */
final case class BenchChange(event_id: Long, ts: java.sql.Timestamp, user_id: Long,
    event_type: String, value: Double, props: String, tenant: String,
    change_type: String, commit_timestamp: String)

/** Per-thread sink state: primitive buffers of the timed frames' latencies
  * and stamps, per-subscription frame counts and an order-independent
  * checksum. No frame is kept. */
final class SinkState {
  private[perfbench] var lat = new Array[Long](0)
  private[perfbench] var stamp = new Array[Long](0)
  private[perfbench] var n = 0
  private[perfbench] var frames = 0L
  private[perfbench] var checksum = 0L
  private[perfbench] val counts = new java.util.HashMap[String, Array[Long]]()
  def add(sid: String, frame: String, stampUs: Long, latUs: Long): Unit = synchronized {
    frames += 1
    checksum += Sinks.mix(sid, frame)
    var c = counts.get(sid)
    if (c == null) { c = new Array[Long](1); counts.put(sid, c) }
    c(0) += 1
    if (latUs >= 0) {
      if (n == lat.length) {
        lat = java.util.Arrays.copyOf(lat, math.max(4096, n * 2))
        stamp = java.util.Arrays.copyOf(stamp, lat.length)
      }
      lat(n) = latUs; stamp(n) = stampUs; n += 1
    }
  }
}

/** A run's drained sink: the timed frames' latencies and stamps (µs, in
  * the same order), per-subscription counts and the checksum of all frames. */
final case class Drained(latUs: Array[Long], stampUs: Array[Long], counts: Map[String, Long],
    checksum: Long, frames: Long)

/** JVM-static registry of sink states, one per (run, executor thread):
  * local mode runs every task in this JVM. */
object Sinks {
  private val runs = new ConcurrentHashMap[String, ConcurrentLinkedQueue[SinkState]]()
  private val local = ThreadLocal.withInitial[java.util.HashMap[String, SinkState]](
    () => new java.util.HashMap[String, SinkState]())
  /** Live changes scheduled before this (µs) are set-up traffic. */
  @volatile var timedFromUs = Long.MaxValue

  def state(run: String): SinkState = {
    val m = local.get()
    var s = m.get(run)
    if (s == null) {
      // drained runs are gone from `runs`: drop this thread's states of them
      m.keySet().removeIf(r => !runs.containsKey(r))
      s = new SinkState
      runs.computeIfAbsent(run, _ => new ConcurrentLinkedQueue[SinkState]()).add(s)
      m.put(run, s)
    }
    s
  }

  def drain(run: String): Drained = {
    val q = Option(runs.remove(run)).map(_.asScala.toSeq).getOrElse(Nil)
    val counts = mutable.Map[String, Long]().withDefaultValue(0L)
    var sum = 0L; var frames = 0L
    val lat = ArrayBuffer.empty[Long]
    val stamp = ArrayBuffer.empty[Long]
    q.foreach { s => s.synchronized {
      s.counts.asScala.foreach { case (k, v) => counts(k) += v(0) }
      sum += s.checksum; frames += s.frames
      lat ++= java.util.Arrays.copyOf(s.lat, s.n)
      stamp ++= java.util.Arrays.copyOf(s.stamp, s.n)
    } }
    Drained(lat.toArray, stamp.toArray, counts.toMap, sum, frames)
  }

  /** 64-bit mix of (subscription id, frame); summed, so order-free. */
  def mix(sid: String, frame: String): Long = {
    var h = (sid.hashCode.toLong << 32) ^ (frame.hashCode.toLong & 0xffffffffL) ^
      (frame.length.toLong * 0x9E3779B97F4A7C15L)
    h ^= h >>> 33; h *= 0xff51afd7ed558ccdL
    h ^= h >>> 33; h *= 0xc4ceb9fe1a85ec53L
    h ^ (h >>> 33)
  }

  def nowUs(): Long = System.nanoTime() / 1000L
}

/** Delivery sink of the CDC workloads. Timed, it keeps only the frames of
  * changes scheduled from `Sinks.timedFromUs` on (set-up traffic is
  * neither timed nor checked) and records each one's latency since its
  * change's scheduled send (the frame's stamp). */
final class BenchSink(run: String, timed: Boolean) extends CdcStream.DeliverySink {
  def offer(d: CdcStream.Delivery): Unit =
    if (!timed) Sinks.state(run).add(d.subscriptionId, d.frame, -1L, -1L)
    else {
      val stamp = BenchSink.stamp(d.frame)
      if (stamp >= Sinks.timedFromUs)
        Sinks.state(run).add(d.subscriptionId, d.frame, stamp, Sinks.nowUs() - stamp)
    }
}

object BenchSink {
  private val key = "\"commit_timestamp\":\""
  /** The digits after `"commit_timestamp":"`, without a JSON parse. */
  def stamp(frame: String): Long = {
    var j = frame.indexOf(key) + key.length
    var v = 0L
    while (j < frame.length && Character.isDigit(frame.charAt(j))) {
      v = v * 10 + (frame.charAt(j) - '0'); j += 1
    }
    v
  }
}

object Cdc {
  val Rate = 1000            // changes/s offered by the live feeder
  val TriggerMs = 100L
  val StepMs = 20            // feeder chunk: one MemoryStream block each
  val Tenants = Seq("t0", "t1", "t2", "t3")
  val TenantCap = 1000000L   // per-tenant changes per batch: above any offer
  val RateCap = 1e9          // per-tenant changes/s window cap: same
  val BacklogBatch = 10000   // changes in the backlog batch, replayed in turn
  val MinBatches = 10        // backlog batches a window runs at least
  val LiveShare = 0.8        // of the measured seconds, to the live phase
  val WarmMicroBatches = 20  // live micro-batches in set-up
  val WarmMaxS = 30.0        // at most this much live traffic in set-up, s
  val WarmBatches = 1        // backlog batches in set-up

  val dataSchema: StructType = StructType(Seq(
    StructField("event_id", LongType), StructField("ts", TimestampType),
    StructField("user_id", LongType), StructField("event_type", StringType),
    StructField("value", DoubleType), StructField("props", StringType)))

  /** 200 subscriptions in `graft.Queries.manySubs`' shape: eight filter
    * kinds (i % 8) over the four actions (i % 4), a fifth of them
    * selecting two columns. Each kind's 25 parameter sets come from a
    * fixed grid and the seed deals them to subscription ids (and draws
    * the `in` lists), so the expected fan-out, and with it the work per
    * change, is the same for every seed. */
  def registry(seed: Long): Seq[Subscription] = {
    val r = new scala.util.Random(seed)
    val types = Seq("click", "view", "error", "purchase", "signup")
    val deal = Array.fill(8)(r.shuffle((0 until 25).toList).toArray)
    (0 until 200).map { i =>
      val j = deal(i % 8)(i / 8)
      val et = types(j % 5)
      val thr = 5 + j * 19 // over the 0..490 value range
      val dsl = (i % 8) match {
        case 0 => s"value=gt.$thr"
        case 1 => s"value=lte.$thr"
        case 2 => s"event_type=eq.$et"
        case 3 => s"user_id=in.(${Seq.fill(3)(r.nextInt(1500)).mkString(",")})"
        case 4 => s"event_type=not.eq.$et,value=gte.$thr"
        case 5 => s"event_type=like.${et.take(2)}%"
        case 6 => s"value=lt.$thr,user_id=gt.${j * 60}"
        case _ => s"event_type=imatch.^${et.toUpperCase}$$"
      }
      Subscription(f"m$i%03d", "public", "events",
        graft.filters.FilterParser.parse(dsl).fold(e => sys.error(e), identity),
        actionFilter = Seq("*", "INSERT", "UPDATE", "DELETE")(i % 4),
        selectedColumns = if (j % 5 == 0) Seq("event_type", "value") else Nil)
    }
  }

  /** Seeded change generator: events-shaped rows, the 6/3/1
    * INSERT/UPDATE/DELETE mix, tenants drawn with a seeded skew. */
  final class Gen(seed: Long) {
    private val r = new scala.util.Random(seed)
    private val w = r.shuffle(Seq(0.4, 0.3, 0.2, 0.1)).scanLeft(0.0)(_ + _).tail
    private val types = Array("click", "view", "error", "purchase", "signup")
    private var id = 0L
    private val ts0 = 1704067200000L
    def next(stamp: Long): BenchChange = {
      val u = r.nextDouble()
      val ct = r.nextInt(10)
      id += 1
      BenchChange(id, new java.sql.Timestamp(ts0 + r.nextInt(30 * 86400) * 1000L),
        r.nextInt(1500).toLong, types(r.nextInt(5)),
        math.round((0.01 + r.nextDouble() * 490.0) * 100) / 100.0,
        s"""{"k": ${r.nextInt(100)}}""",
        Tenants(w.indexWhere(u < _) max 0),
        if (ct < 6) "INSERT" else if (ct < 9) "UPDATE" else "DELETE",
        stamp.toString)
    }
  }

  private def runId(tag: String) = s"$tag-${System.nanoTime()}"

  /** The program under test on one batch: the gated pipeline. */
  private def gated(batch: DataFrame, subs: Seq[Subscription], bus: CdcStream.MemoryBus,
      id: Long, rc: graft.rates.TenantRateCounters, sink: CdcStream.DeliverySink) =
    CdcStream.processBatch(batch, subs, dataSchema, "events", Seq("event_id"), bus, id,
      tenantCol = Some("tenant"), defaultTenantLimit = TenantCap, rates = Some(rc),
      deliverTo = Some(sink))

  private def plain(batch: DataFrame, subs: Seq[Subscription], sink: CdcStream.DeliverySink) =
    CdcStream.processBatch(batch, subs, dataSchema, "events", Seq("event_id"),
      CdcStream.MemoryBus(), deliverTo = Some(sink))

  private def rateCounters() =
    new graft.rates.TenantRateCounters(10, defaultLimitPerSec = RateCap)

  /** `rows` as a checkpointed DataFrame of `parts` partitions. Every
    * `processBatch` call persists its input and unpersists it on the way
    * out, which would drop a cache entry of the caller's; checkpointed
    * blocks stay, so each call reads the same blocks and pays the same
    * persist. */
  private def toDf(spark: SparkSession, rows: Seq[BenchChange], parts: Int): DataFrame = {
    import spark.implicits._
    spark.createDataset(rows).toDF().repartition(parts).localCheckpoint()
  }

  /** Expected per-subscription counts from the interpreted battery, plus
    * the number of changes with at least one match. */
  def expected(changes: DataFrame, subs: Seq[Subscription]): (Map[String, Long], Long) = {
    val m = graft.walrus.Walrus.matchSubscriptions(changes, subs, dataSchema, "events",
      useCodegen = false).select("subscription_ids").persist()
    try {
      val counts = m.select(explode(col("subscription_ids")).as("s"))
        .groupBy("s").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      (counts, m.where(size(col("subscription_ids")) > 0).count())
    } finally m.unpersist()
  }

  /** Frames that disagree with the interpreted battery's counts. */
  private def countDiff(got: Map[String, Long], want: Map[String, Long]): Long =
    (got.keySet ++ want.keySet).toSeq
      .map(k => math.abs(got.getOrElse(k, 0L) - want.getOrElse(k, 0L))).sum

  // ---------------------------------------------------------------- live

  /** A live window: the changes of one segment of the stream's traffic,
    * each timed change's feed lateness and frame latency (µs), its frames,
    * the micro-batches run while it was fed, and its wall time. */
  private final case class Window(sent: Seq[BenchChange], lag: Array[Long],
      latUs: Array[Long], frames: Long, batches: Seq[CdcStream.BatchStats], wallS: Double)

  /** The run's one live stream. One feeder sends `Rate` changes/s into
    * `CdcStream.start`, each stamped with its scheduled send time, on one
    * schedule across back-to-back segments: the set-up traffic, then the
    * timed windows. The timed traffic never meets a stream's start (its
    * slow first micro-batch and the catch-up behind it stay in set-up). */
  private final class Live(spark: SparkSession, subs: Seq[Subscription], seed: Long) {
    import spark.implicits._
    // a partitioned source, like a broker topic: each micro-batch has one
    // partition per core however many feeder chunks it holds
    private val input = MemoryStream[BenchChange](spark, spark.sparkContext.defaultParallelism)
    private val gen = new Gen(seed)
    private val run = runId("live")
    private val bus = CdcStream.MemoryBus()
    Sinks.timedFromUs = Long.MaxValue
    private val q = CdcStream.start(input.toDF(), subs, dataSchema, "events", Seq("event_id"),
      bus, maxEventsPerBatch = TenantCap, triggerMs = TriggerMs,
      tenantCol = Some("tenant"), rates = Some(rateCounters()),
      deliverTo = Some(new BenchSink(run, timed = true)))
    private val stepUs = 1000000L / Rate
    private val t0 = Sinks.nowUs()
    private var scheduled = 0L
    val sent = ArrayBuffer.empty[BenchChange]
    private final case class Seg(from: Int, fromUs: Long, toUs: Long, lag: Array[Long],
        batch0: Int, wall0: Long)
    private val segs = ArrayBuffer.empty[Seg]
    private var wallEnd = 0L
    private var drained: Drained = _

    /** Send up to `n` changes in `StepMs` chunks, each when its last
      * change is due (a producer's linger: the wait counts in the latency),
      * until `stop` holds; `lag` gets each change's lateness past its due
      * time (µs). Returns the changes sent. */
    private def send(n: Int, lag: Array[Long])(stop: => Boolean): Int = {
      val first = scheduled
      val perStep = Rate * StepMs / 1000
      var k = 0
      while (k < n && !stop) {
        val m = math.min(perStep, n - k)
        val due = t0 + (first + k + m - 1) * stepUs
        val sleepUs = due - Sinks.nowUs()
        if (sleepUs > 0) Thread.sleep(sleepUs / 1000, ((sleepUs % 1000) * 1000).toInt)
        val chunk = (k until k + m).map(j => gen.next(t0 + (first + j) * stepUs))
        input.addData(chunk)
        if (lag != null) java.util.Arrays.fill(lag, k, k + m, Sinks.nowUs() - due)
        sent ++= chunk
        k += m
      }
      scheduled += k
      k
    }

    /** Set-up traffic, untimed: until the stream has run `batches`
      * micro-batches, or `maxS` of traffic. The live path's per-batch cost
      * falls with every micro-batch run (the JIT compiles with use), so
      * warming by micro-batches leaves the timed window at the same point
      * of that curve on a slow host as on a fast one. */
    def warm(batches: Int, maxS: Double): Unit =
      send((Rate * maxS).toInt, null)(bus.batches.size >= batches)

    /** `seconds` of timed traffic: a window (see `window`). */
    def feed(seconds: Double): Int = {
      val n = (Rate * seconds).toInt
      val fromUs = t0 + scheduled * stepUs
      if (Sinks.timedFromUs == Long.MaxValue) Sinks.timedFromUs = fromUs
      val seg = Seg(sent.size, fromUs, fromUs + n * stepUs, new Array[Long](n),
        bus.batches.size, System.nanoTime())
      send(n, seg.lag)(false)
      segs += seg
      segs.size - 1
    }

    /** Deliver everything fed, stop the stream, drain its sink. */
    def finish(): Drained = {
      try q.processAllAvailable() finally q.stop()
      wallEnd = System.nanoTime()
      drained = Sinks.drain(run)
      drained
    }

    /** Stop the stream after a failure. */
    def abort(): Unit = q.stop()

    /** Micro-batches of the whole stream, set-up included. */
    def batches: Seq[CdcStream.BatchStats] = bus.batches

    /** The changes of every timed window, in order. */
    def timedSent: Seq[BenchChange] = sent.drop(segs.head.from).toSeq

    /** Timed segment `i`, after `finish`: its frames are those of its
      * changes; its micro-batches and wall time run to the next segment's
      * start, or for the last one to the end of the stream. */
    def window(i: Int): Window = {
      val s = segs(i)
      val next = segs.lift(i + 1)
      val keep = drained.stampUs.indices.filter { j =>
        drained.stampUs(j) >= s.fromUs && drained.stampUs(j) < s.toUs }
      val all = bus.batches
      Window(sent.slice(s.from, s.from + s.lag.length).toSeq, s.lag,
        keep.map(j => drained.latUs(j)).toArray, keep.size.toLong,
        all.slice(s.batch0, next.map(_.batch0).getOrElse(all.size)),
        (next.map(_.wall0).getOrElse(wallEnd) - s.wall0) / 1e9)
    }
  }

  /** The `cdc` workload: an open-loop phase (the live stream at `Rate`)
    * then a closed-loop phase (backlog batches straight into
    * `processBatch`), `LiveShare` of the measured seconds to the first. */
  def run(spark: SparkSession, a: Main.Args, out: mutable.Map[String, Any]): Unit = {
    val subs = registry(a.seed)
    val par = spark.sparkContext.defaultParallelism
    // set-up, the cold pass of both phases: the backlog batch generated and
    // run, then live traffic until the stream has run WarmMicroBatches
    // micro-batches; the timed live traffic follows on the same stream
    val gen = new Gen(a.seed + 3)
    val backlog = toDf(spark, Seq.fill(BacklogBatch)(gen.next(0L)), par)
    Main.mark("gen")
    val off = new Tracer(false, spark)
    backlogWindow(spark, subs, backlog, 0, WarmBatches, off)
    Main.mark("backlog_warm")
    val liveS = a.seconds * LiveShare
    val backlogS = a.seconds - liveS
    val live = new Live(spark, subs, a.seed)
    val (lseg, lseg2, lt, lcg0) =
      try {
        live.warm(WarmMicroBatches, WarmMaxS)
        Main.setupDone(out)
        val lseg = live.feed(liveS)
        // traced: a second live window on the same stream, with the listeners on
        val lt = new Tracer(a.trace, spark)
        val lcg0 = Codegen.snapshot()
        (lseg, if (a.trace) Some(live.feed(liveS)) else None, lt, lcg0)
      } catch { case e: Throwable => live.abort(); throw e }
    val d = live.finish()
    val lcg1 = Codegen.snapshot()
    val lspans = lt.finish()
    require(d.frames > 0, "the live stream delivered no frames")
    val lw = live.window(lseg)
    val bw = backlogWindow(spark, subs, backlog, backlogS, MinBatches, off)
    out("retained_heap_mb") = Main.retainedHeapMb()
    windowOut(out, lw, bw, "")
    Main.mark("windows")
    if (a.trace) {
      val lw2 = live.window(lseg2.get)
      val bt = new Tracer(true, spark)
      val bw2 = backlogWindow(spark, subs, backlog, backlogS, MinBatches, bt)
      val bspans = bt.finish()
      windowOut(out, lw2, bw2, "traced_")
      out("traced_shed_changes") = bw2.stats.map(_.shedTenants.values.sum).sum
      val spans = lspans ++ bspans
      out("trace") = cdcTrace(spark, subs, lt.stats, lcg0, lcg1, lw2, bt.stats, bw2, backlog,
        Report.selfTimes(spans, lw2.wallS + bw2.wallS))
      Report.writeSpans(spans, s"${a.work}/spans.jsonl")
    }
    // checks, outside the timed windows. Live: every timed change, once.
    val all = toDf(spark, live.timedSent, par)
    val (want, matched) = expected(all, subs)
    val plainRun = runId("plain")
    plain(all, subs, new BenchSink(plainRun, timed = false))
    val p = Sinks.drain(plainRun)
    Main.mark("live_check")
    // backlog: the batch once, scaled by how often the window ran it
    val times = bw.batchMs.size.toLong
    val bwant = expected(backlog, subs)._1.map { case (k, v) => k -> v * times }
    val plainBacklog = runId("plain")
    plain(backlog, subs, new BenchSink(plainBacklog, timed = false))
    val pb = Sinks.drain(plainBacklog)
    val (bsum, bframes) = (pb.checksum * times, pb.frames * times)
    Main.mark("backlog_check")
    def failed(got: Drained, want: Map[String, Long], sum: Long, frames: Long): Long = {
      val diff = countDiff(got.counts, want)
      if (sum != got.checksum || frames != got.frames) math.max(want.values.sum, diff) else diff
    }
    val lf = failed(d, want, p.checksum, p.frames)
    val bf = failed(bw.d, bwant, bsum, bframes)
    out("attempted") = want.values.sum + bwant.values.sum
    out("failed") = lf + bf
    out("shed_changes") = (live.batches ++ bw.stats).map(_.shedTenants.values.sum).sum
    out("stream_batches") = live.batches.map(b => Seq(b.nChanges, b.durationMs))
    out("checks") = Map(
      "live_counts_match_interpreted" -> (countDiff(d.counts, want) == 0),
      "live_checksum_match_plain" -> (p.checksum == d.checksum && p.frames == d.frames),
      "backlog_counts_match_interpreted" -> (countDiff(bw.d.counts, bwant) == 0),
      "backlog_checksum_match_plain" -> (bsum == bw.d.checksum && bframes == bw.d.frames),
      "live_frames" -> d.frames, "backlog_frames" -> bw.d.frames,
      "live_changes" -> live.timedSent.size, "live_matched_changes" -> matched)
    out("matched_ratio") = matched.toDouble / math.max(1, live.timedSent.size)
  }

  private def windowOut(out: mutable.Map[String, Any], lw: Window, bw: BacklogWindow,
      pre: String): Unit = {
    out(pre + "lat_us") = lw.latUs
    out(pre + "changes") = lw.sent.size
    out(pre + "frames") = lw.frames
    out(pre + "wall_s") = lw.wallS
    out(pre + "live_batches") = lw.batches.map(b => Seq(b.nChanges, b.durationMs))
    out(pre + "feed_lag_us") = lw.lag
    out(pre + "backlog_batch_ms") = bw.batchMs
    out("backlog_batch_changes") = BacklogBatch
    out(pre + "backlog_changes") = bw.changes
    out(pre + "backlog_wall_s") = bw.wallS
  }

  private final case class BacklogWindow(batchMs: Seq[Double], changes: Long, wallS: Double,
      d: Drained, stats: Seq[CdcStream.BatchStats])

  /** Closed loop: the next batch goes in when the previous one returns,
    * for `seconds` and at least `minBatches` batches. */
  private def backlogWindow(spark: SparkSession, subs: Seq[Subscription],
      batch: DataFrame, seconds: Double, minBatches: Int, tr: Tracer): BacklogWindow = {
    val run = runId("backlog")
    val sink = new BenchSink(run, timed = false)
    val bus = CdcStream.MemoryBus()
    val rc = rateCounters()
    val ms = ArrayBuffer.empty[Double]
    var changes = 0L
    val t0 = System.nanoTime()
    val deadline = t0 + (seconds * 1e9).toLong
    var i = 0
    while (System.nanoTime() < deadline || i < minBatches) {
      val b0 = System.nanoTime()
      val st = tr.op("cdc.processBatch")(gated(batch, subs, bus, i.toLong, rc, sink))
      ms += (System.nanoTime() - b0) / 1e6
      changes += st.nChanges
      i += 1
    }
    val wall = (System.nanoTime() - t0) / 1e9
    BacklogWindow(ms.toSeq, changes, wall, Sinks.drain(run), bus.batches)
  }

  // --------------------------------------------------------------- trace

  private def timeMs(f: => Unit): Double = {
    val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e6
  }
  private def med(xs: Seq[Double]): Double = {
    val s = xs.sorted; val n = s.size
    if (n == 0) 0.0 else if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** Per-layer numbers of the `cdc` workload. Per-batch fixed costs come
    * from the live phase's listeners (per micro-batch); executor time per
    * 1k changes from the backlog phase. The data-path prefixes (match,
    * shape, encode + fan-out) are timed on a captured backlog batch, the
    * gate on a captured live-sized batch. */
  private def cdcTrace(spark: SparkSession, subs: Seq[Subscription],
      ls: ListenerStats, cg0: (Long, Double), cg1: (Long, Double), lw: Window,
      bs: ListenerStats, bw: BacklogWindow, backlogBatch: DataFrame,
      self: Map[String, Any]): Map[String, Any] = {
    val batches = lw.batches.filter(_.nChanges > 0)
    val nb = math.max(1, batches.size)
    val par = spark.sparkContext.defaultParallelism
    val compile = med((1 to 5).map(_ => timeMs(subs.foreach(x =>
      graft.filters.FilterCompiler.compileAll(x.filters, dataSchema)))))
    val reps = 3
    def noop(df: DataFrame): Unit = df.write.mode("overwrite").format("noop").save()
    def each(df: DataFrame)(f: DataFrame => Unit): Double = med((1 to reps).map(_ => timeMs(f(df))))
    val nullSink = new BenchSink("null", timed = false)
    val big = backlogBatch
    val tMatch = each(big)(df => noop(graft.walrus.Walrus.matchedOnly(df, subs, dataSchema, "events")))
    val tShape = each(big)(df => noop(graft.walrus.Payload.shape(
      graft.walrus.Walrus.matchedOnly(df, subs, dataSchema, "events"), subs,
      dataSchema.fieldNames.toSeq, Seq("event_id"))))
    val tFull = each(big)(df => plain(df, subs, nullSink))
    val small = toDf(spark, lw.sent.take((Rate * TriggerMs / 1000).toInt), par)
    val tUngated = each(small)(df => plain(df, subs, nullSink))
    val tGated = each(small)(df => gated(df, subs, CdcStream.MemoryBus(), 0L, rateCounters(), nullSink))
    Sinks.drain("null")
    val backlogK = bw.changes.max(1L) / 1000.0
    Map("metrics" -> (Report.spark(ls, cg0, cg1, nb.toDouble) ++ Map(
      "cdc.batches" -> nb.toDouble,
      "cdc.changes_per_batch" -> med(batches.map(_.nChanges.toDouble)),
      "spark.trigger_ms" -> med(ls.triggerMs.toSeq),
      "spark.query_planning_ms" -> med(ls.queryPlanningMs.toSeq),
      "spark.add_batch_ms" -> med(ls.addBatchMs.toSeq),
      "spark.jobs_per_batch" -> ls.jobs.toDouble / nb,
      "filters.compile_ms" -> compile,
      "rates.gate_ms" -> (tGated - tUngated),
      "walrus.match_ms" -> tMatch,
      "walrus.shape_ms" -> (tShape - tMatch),
      "cdc.encode_fanout_ms" -> (tFull - tShape),
      "walrus.fanout" -> lw.frames.toDouble / math.max(1, lw.sent.size),
      "spark.executor_run_ms_per_1k" -> bs.execRunMs / backlogK,
      "spark.executor_cpu_ms_per_1k" -> bs.execCpuMs / backlogK)),
      "batch_ms" -> batches.map(_.durationMs.toDouble),
      "self_times" -> self)
  }
}
