package graft.cdc

import graft.model.Subscription
import graft.walrus.Walrus
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import scala.jdk.CollectionConverters._

/** Structured-Streaming CDC pipeline: change stream → WALRUS match →
  * payload shaping → rate-limited, encode-once fan-out — the Spark
  * re-expression of the reference's poll loop + dispatcher
  * (/root/reference/lib/extensions/postgres_cdc_rls/replication_poller.ex:149-232,
  * message_dispatcher.ex:11-57).
  *
  * Execution model mapping:
  *  - poll cadence → `Trigger.ProcessingTime` (micro-batch);
  *    `max_changes`/batch → `maxFilesPerTrigger`/`maxOffsetsPerTrigger`
  *    on the source;
  *  - per-tenant rate limit → per-tenant gate in `foreachBatch`: tenants
  *    whose batch row count exceeds their events/batch cap have exactly
  *    their rows dropped and counted — the reference sheds per tenant
  *    keyed by the tenant's RateCounter (O10,
  *    replication_poller.ex:404-415), never one tenant shedding everyone.
  *    The counts are a narrow per-partition tally merged on the driver —
  *    no shuffle;
  *  - routing ([[processBatch]], [[processWalBatch]]): match → shape →
  *    frame is bound ONCE per registry ([[Router]], CDC's one routing
  *    core) and each micro-batch is one pass over its rows — no per-batch
  *    analysis, optimization or code generation of the routing;
  *  - encode-once (O6): the payload JSON and the frame are built and
  *    decoded once per (change × payload group), then offered to each of
  *    the group's subscribers;
  *  - WAL sources ([[processWalBatch]], [[startWal]],
  *    [[startAdaptivePollWal]]): binary pgoutput, wal2json v2 and Debezium
  *    envelopes differ only in their decode step, a [[WalFormat]]; the
  *    routing (the Router's WAL kernel: multi-table match, TOAST merge,
  *    payload groups, frame), the stream attach and the poll loop exist
  *    once for all three;
  *  - ordering: per-topic order preserved by partitioning on the table —
  *    at scale, repartition the stream by (schema, table) so each topic
  *    drains in commit order within its partition;
  *  - delivery: **executor-side** — frames leave from the partition that
  *    produced them (task → sink), never through the driver; each task
  *    returns only its row and delivery counts. At 1000 executors the
  *    driver handles only telemetry.
  *    At-most-once like the reference (no sink-side ack); with a
  *    checkpointLocation Spark upgrades this to at-least-once — dedup on
  *    (change pk, subscription_id) makes it effectively-once;
  *  - checkpoint log: every micro-batch of [[start]] and [[startWal]]
  *    writes two log files, `offsets/N` before the batch runs and
  *    `commits/N` after it (under Spark's temporary checkpoint when no
  *    `checkpointLocation` is given), each atomically: a temp file put in
  *    place, failing if another writer got there first. On a `file:`
  *    checkpoint they are written through [[LocalCheckpointFiles]] with
  *    `java.nio`; other filesystems keep Spark's manager.
  *
  * Side effect: [[start]] and [[startWal]] set
  * `spark.sql.streaming.checkpointFileManagerClass` to
  * [[LocalCheckpointFiles]] on the session, for every later stream of
  * the session, unless the session (or its Hadoop configuration) already
  * names a manager, which is then left as it is
  * ([[LocalCheckpointFiles.install]]). Spark's default manager starts
  * `readlink` and `chmod` processes for each log write where Hadoop's
  * native library is missing: 20 per micro-batch. On a live probe of
  * the `cdc` benchmark's shape (1,000 changes/s, 100 ms trigger, 4-cpu
  * host; medians over the last half of a 24 s run, three runs a side)
  * `walCommit` and `commitOffsets` read 38–40 ms each under Spark's
  * manager, of 140–148 ms of trigger time, and 1–2 ms each under
  * [[LocalCheckpointFiles]], of 56–65 ms, with no process started.
  */
object CdcStream {

  /** Per-batch statistics surfaced to the caller (the analog of the
    * reference's poll telemetry). `shedTenants` maps each rate-limited
    * tenant to the number of rows dropped for it; `durationMs` is the
    * gate→deliver wall time of the batch — the analog of the reference's
    * `replication_poller_query_duration` histogram
    * (/root/reference/OBSERVABILITY_METRICS.md:115). */
  final case class BatchStats(
      batchId: Long, nChanges: Long, nDeliveries: Long, shed: Boolean,
      shedTenants: Map[String, Long] = Map.empty,
      durationMs: Long = -1L)

  /** One delivery: a subscriber id and the pre-encoded frame it receives. */
  final case class Delivery(subscriptionId: String, frame: String)

  /** Executor-side delivery contract: `offer` is called on the partition
    * that produced the frame. Implementations must be serializable and
    * JVM-local-state-free (talk to an external system, or to a
    * static registry like [[MemoryBus]]). `flush` is called once per
    * Spark partition after its last `offer` — buffering sinks (a real
    * producer client, the file-backed log) publish there so a batch's
    * frames are visible to consumers when the batch completes. */
  trait DeliverySink extends Serializable {
    def offer(d: Delivery): Unit
    def flush(): Unit = ()
  }

  /** In-memory delivery bus for tests / local runs; a Kafka producer or
    * socket fan-out slots in behind the same [[DeliverySink]] interface in
    * production.
    *
    * The queues live in a JVM-static registry keyed by `busId`, NOT in the
    * serialized object: when Spark ships the sink closure to a task and
    * deserializes a copy, `offer` still lands in the shared JVM-local
    * queue (executor-local on a real cluster — which is the point: frames
    * must not transit the driver). */
  final class MemoryBus private[cdc] (val busId: String) extends DeliverySink {
    def offer(d: Delivery): Unit = MemoryBus.queue(busId).add(d)
    def record(s: BatchStats): Unit = MemoryBus.stats(busId).add(s)
    def deliveries: Seq[Delivery] = MemoryBus.queue(busId).asScala.toSeq
    def batches: Seq[BatchStats] = MemoryBus.stats(busId).asScala.toSeq
  }

  object MemoryBus {
    private val queues = new ConcurrentHashMap[String, ConcurrentLinkedQueue[Delivery]]()
    private val statsQ = new ConcurrentHashMap[String, ConcurrentLinkedQueue[BatchStats]]()
    private val ids = new java.util.concurrent.atomic.AtomicLong(0L)
    def apply(): MemoryBus = new MemoryBus("bus-" + ids.incrementAndGet())
    private def queue(id: String): ConcurrentLinkedQueue[Delivery] =
      queues.computeIfAbsent(id, _ => new ConcurrentLinkedQueue[Delivery]())
    private def stats(id: String): ConcurrentLinkedQueue[BatchStats] =
      statsQ.computeIfAbsent(id, _ => new ConcurrentLinkedQueue[BatchStats]())
  }

  /** Run one micro-batch of the CDC pipeline (also usable in plain batch
    * mode): per-tenant gate → match → shape → encode-once → executor-side
    * delivery. Ungated, the batch is ONE job: the delivery pass routes
    * every row and counts them. Gated, it is two: the tenant tally, then
    * the delivery pass over the kept rows (none when every tenant is
    * shed). Both read `batch` through its `queryExecution.toRdd` — the
    * batch is not persisted, so the gated path reads its source twice (a
    * micro-batch's offset range re-reads the same rows) and a cache the
    * caller holds on `batch` is used, never dropped. The routing is the
    * registry's bound [[Router.Kernel]].
    *
    * @param tenantCol      column identifying the tenant; None = the whole
    *                       batch is the one tenant "*", gated like any other
    *                       (cap, `tenantLimits("*")`, `rates`).
    * @param tenantLimits   per-tenant events/batch overrides.
    * @param defaultTenantLimit cap for tenants not in `tenantLimits`.
    * @param deliverTo      override delivery sink (latency probes, external
    *                       fan-outs); `bus` still records batch telemetry.
    */
  def processBatch(
      batch: DataFrame,
      subs: Seq[Subscription],
      dataSchema: StructType,
      table: String,
      pk: Seq[String],
      bus: MemoryBus,
      batchId: Long = 0L,
      tenantCol: Option[String] = None,
      tenantLimits: Map[String, Long] = Map.empty,
      defaultTenantLimit: Long = Long.MaxValue,
      rates: Option[graft.rates.TenantRateCounters] = None,
      nowMs: Long = -1L,
      deliverTo: Option[DeliverySink] = None): BatchStats = {
    val now = if (nowMs >= 0) nowMs else System.currentTimeMillis()
    val tBatch0 = System.nanoTime()
    val kernel = Router.kernel(batch.sparkSession, batch.schema, subs, dataSchema,
      table, pk, tenantCol)
    val rows = batch.queryExecution.toRdd
    val sink: DeliverySink = deliverTo.getOrElse(bus)
    // ungated: with no tenant gate, per-batch cap or rate window, the batch
    // is ONE job — the delivery pass counts the changes it routes
    val ungated = tenantCol.isEmpty && defaultTenantLimit == Long.MaxValue &&
      rates.isEmpty
    val (nChanges, nDeliveries, shedTenants) =
      if (ungated) {
        val (n, d) = Router.deliver(rows, kernel, sink, Set.empty)
        (n, d, Map.empty[String, Long])
      } else {
        // per-tenant row counts: a narrow per-partition tally merged here
        // (|tenants| entries per task — the tenant dimension, not the data);
        // without a tenant column the whole batch is tenant "*"
        val counts = Router.tally(rows, kernel)
        val total = counts.values.sum
        // shed when over the per-batch cap OR when the cross-batch
        // windowed rate is already triggered (the reference checks the
        // RateCounter BEFORE processing the poll's rows,
        // replication_poller.ex:404-415)
        val shed = counts.filter { case (t, n) =>
          n > tenantLimits.getOrElse(t, defaultTenantLimit) ||
            rates.exists(_.triggered(t, now))
        }
        // only processed (kept) rows feed the rate window — shed rows
        // are telemetry, so a throttled tenant recovers as its window
        // drains; idle tenants' counters are dropped on this cadence
        rates.foreach { rc =>
          counts.foreach { case (t, n) => if (!shed.contains(t)) rc.add(t, n, now) }
          rc.evictIdle(now)
        }
        // shed keys live in the tally's key space (NULL → "null"), so a
        // NULL-tenant row is kept unless "null" itself is shed
        val d =
          if (counts.keySet.forall(shed.contains)) 0L
          else Router.deliver(rows, kernel, sink, shed.keySet)._2
        (total, d, shed)
      }
    val stats = BatchStats(batchId, nChanges, nDeliveries,
      shed = shedTenants.nonEmpty, shedTenants = shedTenants,
      durationMs = (System.nanoTime() - tBatch0) / 1000000L)
    bus.record(stats)
    stats
  }

  /** One micro-batch of the WAL pipeline, for any wire format: `format`
    * harvests the batch's schemas into its cross-batch state and decodes
    * the batch (pass the same instance every batch); ONE executor-side
    * delivery pass then routes the row-level changes through the
    * registry's bound WAL kernel ([[Router]]), rebuilt only when a
    * Relation changes the relation registry. `batch` is persisted for the
    * call: the schema harvest and the delivery pass's decode both read
    * it. `nChanges` is the raw message count of the batch. */
  def processWalBatch(
      batch: DataFrame,
      format: WalFormat,
      subs: Seq[Subscription],
      bus: MemoryBus,
      batchId: Long = 0L): BatchStats = {
    val tBatch0 = System.nanoTime()
    val cached = batch.persist()
    try {
      val d = format.decode(cached)
      val changes = d.changes.toDF()
        .where(col("message").isin("INSERT", "UPDATE", "DELETE", "TRUNCATE"))
        .withColumnRenamed("message", Walrus.TypeCol)
      val kernel = Router.walKernel(batch.sparkSession, changes.schema, subs, d.tables)
      val (_, nDeliveries) = Router.deliver(changes.queryExecution.toRdd, kernel, bus, Set.empty)
      val stats = BatchStats(batchId, d.nMessages, nDeliveries, shed = false,
        durationMs = (System.nanoTime() - tBatch0) / 1000000L)
      bus.record(stats)
      stats
    } finally cached.unpersist()
  }

  /** Attach the WAL pipeline ([[processWalBatch]]) to a streaming
    * DataFrame of `format`'s messages. `format`'s schema state persists
    * across micro-batches in driver state; delivery semantics by
    * checkpoint mode are those of [[start]]. */
  def startWal(
      msgs: DataFrame,
      format: WalFormat,
      subs: Seq[Subscription],
      bus: MemoryBus,
      triggerMs: Long = 100L,
      checkpointLocation: Option[String] = None): StreamingQuery =
    attach(msgs, triggerMs, checkpointLocation) { (batch, batchId) =>
      processWalBatch(batch, format, subs, bus, batchId)
    }

  /** The CDC pipeline under ADAPTIVE poll cadence (O9): a daemon-thread
    * poll loop — immediate re-poll while draining, jittered interval while
    * shedding, ×[[PollPacer.idleMultiplier]] while idle — with each polled
    * batch pushed through the same [[processBatch]] operator pipeline as
    * the fixed-trigger [[start]] path. `pollFn` returns the next chunk of
    * changes (empty frame ⇒ idle); see [[AdaptivePoll]] for the cadence
    * contract and the reference mapping. */
  def startAdaptivePoll(
      pollFn: () => DataFrame,
      subs: Seq[Subscription],
      dataSchema: StructType,
      table: String,
      pk: Seq[String],
      bus: MemoryBus,
      pacer: PollPacer,
      tenantCol: Option[String] = None,
      tenantLimits: Map[String, Long] = Map.empty,
      defaultTenantLimit: Long = Long.MaxValue,
      rates: Option[graft.rates.TenantRateCounters] = None,
      deliverTo: Option[DeliverySink] = None,
      maxPolls: Long = Long.MaxValue,
      backoff: RetryBackoff = new RetryBackoff()): PollHandle =
    spawnPoll(s"graft-adaptive-poll-$table", pollFn, pacer, maxPolls, backoff) {
      (batch, batchId) =>
        // stats come straight back from the call — never re-read from the
        // bus (O(n) queue copy per poll, and wrong under a shared bus)
        val s = processBatch(batch, subs, dataSchema, table, pk, bus, batchId,
          tenantCol, tenantLimits, defaultTenantLimit, rates, deliverTo = deliverTo)
        (s.nChanges - s.shedTenants.values.sum, s.nChanges)
    }

  /** Adaptive cadence on the WAL pipeline — the faithful pairing: the
    * reference's poller IS a wal2json poll loop. Each iteration decodes
    * one slot chunk through [[processWalBatch]] (`format`'s schema state
    * persists across polls); chunks that produced deliveries re-poll
    * immediately, chunks with slot records but no interested subscriber
    * (or Relation-only chunks) space out on the jittered arm, and empty
    * polls back off ×[[PollPacer.idleMultiplier]]. */
  def startAdaptivePollWal(
      pollFn: () => DataFrame,
      format: WalFormat,
      subs: Seq[Subscription],
      bus: MemoryBus,
      pacer: PollPacer,
      maxPolls: Long = Long.MaxValue,
      backoff: RetryBackoff = new RetryBackoff()): PollHandle =
    spawnPoll("graft-adaptive-poll-wal", pollFn, pacer, maxPolls, backoff) {
      (batch, batchId) =>
        val s = processWalBatch(batch, format, subs, bus, batchId)
        // processed := frames delivered (slot rows with no interested
        // subscriber take the jittered arm — no one is waiting, no rush);
        // slotChanges := raw slot messages, like the reference's
        // slot_changes_count (begin/commit/relation records included)
        (s.nDeliveries, s.nChanges)
    }

  /** Run `process` on every polled batch, numbering the batches from 0,
    * on a daemon poll loop ([[AdaptivePoll.spawn]]). */
  private def spawnPoll(name: String, pollFn: () => DataFrame, pacer: PollPacer,
      maxPolls: Long, backoff: RetryBackoff)(
      process: (DataFrame, Long) => (Long, Long)): PollHandle = {
    val batchId = new java.util.concurrent.atomic.AtomicLong(0L)
    AdaptivePoll.spawn(name, pollFn, batch => process(batch, batchId.getAndIncrement()),
      pacer, new java.util.concurrent.atomic.AtomicBoolean(true), maxPolls, backoff)
  }

  /** Attach the CDC pipeline to a streaming change DataFrame.
    *
    * Delivery semantics by checkpoint mode (the reference's slot
    * re-delivers until the consumer advances the LSN,
    * replication_poller.ex:149-232 — same contract):
    *  - no `checkpointLocation`: at-most-once across restarts (a fresh
    *    query starts from the source's latest offset);
    *  - with `checkpointLocation` and a REPLAYABLE source (files, Kafka):
    *    at-least-once — a batch whose epoch didn't commit is re-processed
    *    after restart, so its frames can reach the sink twice. Dedup on
    *    (subscription_id, change identity) — or the mirror's applied-seq
    *    guard ([[Mirror.streamUpserts]]) — upgrades the effect to
    *    exactly-once (CdcRecoverySpec drives kill → replay → dedup). */
  def start(
      changes: DataFrame,
      subs: Seq[Subscription],
      dataSchema: StructType,
      table: String,
      pk: Seq[String],
      bus: MemoryBus,
      maxEventsPerBatch: Long = Long.MaxValue,
      triggerMs: Long = 100L,
      tenantCol: Option[String] = None,
      tenantLimits: Map[String, Long] = Map.empty,
      rates: Option[graft.rates.TenantRateCounters] = None,
      deliverTo: Option[DeliverySink] = None,
      checkpointLocation: Option[String] = None): StreamingQuery =
    attach(changes, triggerMs, checkpointLocation) { (batch, batchId) =>
      processBatch(batch, subs, dataSchema, table, pk, bus, batchId,
        tenantCol, tenantLimits, maxEventsPerBatch, rates, deliverTo = deliverTo)
    }

  /** Run `process` on every micro-batch of `input` (append mode, fixed
    * processing-time trigger, optional checkpoint). */
  private def attach(input: DataFrame, triggerMs: Long,
      checkpointLocation: Option[String])(
      process: (DataFrame, Long) => BatchStats): StreamingQuery = {
    LocalCheckpointFiles.install(input.sparkSession)
    val w = input.writeStream
      .outputMode("append")
      .trigger(Trigger.ProcessingTime(triggerMs))
      .foreachBatch { (batch: DataFrame, batchId: Long) => process(batch, batchId); () }
    checkpointLocation.foreach(loc => w.option("checkpointLocation", loc))
    w.start()
  }
}
