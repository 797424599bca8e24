package graft.cdc

import graft.model.Subscription
import graft.walrus.{Payload, Walrus}
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
  *  - routing ([[processBatch]]): match → shape → frame is bound ONCE per
  *    registry ([[Router]]) and each micro-batch is one pass over its rows
  *    — no per-batch analysis, optimization or code generation;
  *  - encode-once (O6): the payload JSON and the frame are built and
  *    decoded once per (change × payload group), then offered to each of
  *    the group's subscribers;
  *  - ordering: per-topic order preserved by partitioning on the table —
  *    at scale, repartition the stream by (schema, table) so each topic
  *    drains in commit order within its partition;
  *  - delivery: **executor-side** — frames leave from the partition that
  *    produced them (task → sink), never through the driver; each task
  *    returns only its row and delivery counts. At 1000 executors the
  *    driver handles only telemetry.
  *    At-most-once like the reference (no sink-side ack); with a
  *    checkpointLocation Spark upgrades this to at-least-once — dedup on
  *    (change pk, subscription_id) makes it effectively-once.
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
    *                       batch is one tenant gated by `defaultTenantLimit`.
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
        val shed = tenantCol match {
          case Some(_) =>
            // shed when over the per-batch cap OR when the cross-batch
            // windowed rate is already triggered (the reference checks the
            // RateCounter BEFORE processing the poll's rows,
            // replication_poller.ex:404-415)
            val over = counts.filter { case (t, n) =>
              n > tenantLimits.getOrElse(t, defaultTenantLimit) ||
                rates.exists(_.triggered(t, now))
            }
            // only processed (kept) rows feed the rate window — shed rows
            // are telemetry, so a throttled tenant recovers as its window
            // drains; idle tenants' counters are dropped on this cadence
            rates.foreach { rc =>
              counts.foreach { case (t, n) => if (!over.contains(t)) rc.add(t, n, now) }
              rc.evictIdle(now)
            }
            over
          case None =>
            if (total > defaultTenantLimit) Map("*" -> total) else Map.empty[String, Long]
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

  /** One micro-batch of the RAW-WAL pipeline: harvest Relation messages
    * into the cross-batch registry (driver state, like the reference's
    * replication connection process), decode tuples against it, route all
    * tables in one battery pass, deliver executor-side. `registry` is
    * mutated — pass the same instance every batch. */
  def processWalBatch(
      batch: DataFrame,
      bytesCol: String,
      orderCol: String,
      subs: Seq[Subscription],
      bus: MemoryBus,
      registry: scala.collection.mutable.Map[Int, PgOutput.RelationMeta],
      batchId: Long = 0L): BatchStats = {
    val spark = batch.sparkSession
    val tBatch0 = System.nanoTime()
    // two passes over the micro-batch (Relation harvest + decode)
    val cached = batch.persist()
    try {
    // 1. Relation harvest: R messages are rare (one per table per
    // connection, plus schema changes) — a driver collect of just those
    // bytes is the small-dimension update, not a data-path collect. The
    // batch row count rides the SAME aggregate (collect_list skips the
    // non-R nulls), so harvest + count is one job, not two — per-batch
    // job scheduling, not compute, is the knee cost at high rates.
    // Ordering discipline: harvested R messages are applied in WAL (seq)
    // order, never collect()/partition order. The decode below is seeded
    // with the batch-START registry plus only the EARLIEST R per relation
    // from this batch — later (schema-changing) R messages reach tuples
    // through decodeIterator's in-stream, in-order application, so a tuple
    // preceding a mid-batch schema change is decoded against the schema
    // that was current at its position, not the newest one. (Residual
    // caveat, documented: a tuple in partition A that follows — by seq —
    // a schema-change R that landed in partition B still sees the older
    // schema; on real slots Relation messages are re-sent per chunk, so
    // partition-local streams carry their own R messages.)
    val aggRow = cached.agg(
        count(lit(1)).as("_n"),
        collect_list(
          when(substring(col(bytesCol), 1, 1) === lit("R".getBytes("UTF-8")),
            struct(col(orderCol).cast("long").as("seq"),
              col(bytesCol).as("b")))).as("_rels"))
      .collect()(0)
    val nChanges = aggRow.getLong(0)
    val harvested = aggRow.getSeq[org.apache.spark.sql.Row](1)
      .map(r => (r.getLong(0), r.getAs[Array[Byte]](1)))
      .sortBy(_._1)
      .flatMap { case (_, b) => PgOutput.parseRelation(b) }
    // first sighting seeds ONLY relations unknown at batch start — a
    // known relation's mid-batch R must reach earlier tuples through
    // in-stream order, not by pre-seeding (that would decode them
    // against the future schema)
    val seedFirst = scala.collection.mutable.Map[Int, PgOutput.RelationMeta]()
    harvested.foreach(m =>
      if (!registry.contains(m.id) && !seedFirst.contains(m.id))
        seedFirst(m.id) = m)
    val decodeSeed = registry.toMap ++ seedFirst
    // the cross-batch registry advances to the LATEST R per relation (in
    // seq order) so the NEXT batch starts from this batch's final schemas
    harvested.foreach(m => registry(m.id) = m)
    // 2. decode against the batch-start snapshot (+ first sightings);
    // keep only row-level changes
    val decoded = PgOutput.decodeChanges(cached, bytesCol, orderCol, decodeSeed)
      .filter(c =>
        c.message == "INSERT" || c.message == "UPDATE" ||
        c.message == "DELETE" || c.message == "TRUNCATE")
      .toDF()
      .withColumnRenamed("message", Walrus.TypeCol)
    // 3-5. shared tail: match, shape, deliver
    val schemas = registry.values
      .map(m => (m.namespace, m.name) -> PgOutput.sparkSchema(m)).toMap
    val pkByTable = registry.values
      .map(m => (m.namespace, m.name) ->
        m.columns.filter(_.isKey).map(_.name)).toMap
    matchShapeDeliver(decoded, schemas, pkByTable, subs, bus, batchId,
      nChanges = nChanges, batchStartNs = tBatch0)
    } finally cached.unpersist()
  }

  /** The source-agnostic tail of the WAL pipeline — identical for binary
    * pgoutput and wal2json JSON batches once both land in the decoded
    * WalChange shape: one-pass multi-table battery match, TOAST merge by
    * key absence (P8), per-(role, selected_columns) payload shaping,
    * encode-once frame, subscriber explode, executor-side delivery. */
  private def matchShapeDeliver(
      decoded: DataFrame,
      schemas: Map[(String, String), StructType],
      pkByTable: Map[(String, String), Seq[String]],
      subs: Seq[Subscription],
      bus: MemoryBus,
      batchId: Long,
      nChanges: Long = -1L,
      batchStartNs: Long = -1L): BatchStats = {
    val spark = decoded.sparkSession
    val matched = graft.walrus.MultiTableMatch
      .matchSubscriptions(decoded, schemas, subs)
      .where(size(col("subscription_ids")) > 0)
    // unchanged-TOAST fallback (P8): columns the decoder marked 'u' are
    // absent from `record` and re-appear with their old values; columns
    // explicitly set to SQL NULL stay NULL (merge is by key absence)
    val toastMerged = matched.withColumn("record",
      when(col("record").isNotNull && col("old_record").isNotNull,
        Walrus.toastMerge(col("record"), col("old_record")))
        .otherwise(col("record")))
    val shaped = Payload.shapeGeneric(toastMerged, subs, pkByTable)
    val deliveries = shaped
      .withColumn("frame", concat(
        lit("{\"type\":\""), col(Walrus.TypeCol),
        lit("\",\"schema\":\""), col("change_schema"),
        lit("\",\"table\":\""), col("change_table"),
        lit("\",\"commit_timestamp\":\""), col("commit_timestamp"),
        lit("\",\"record\":"), coalesce(col("record"), lit("null")),
        lit(",\"old_record\":"), coalesce(col("old_record"), lit("null")),
        lit("}")))
      .select(explode(col("subscription_ids")).as("subscription_id"),
        col("frame"))
    val acc = spark.sparkContext.longAccumulator(s"graft.wal.deliveries.$batchId")
    val sink: DeliverySink = bus
    deliveries.foreachPartition { (it: Iterator[org.apache.spark.sql.Row]) =>
      var n = 0L
      it.foreach { r => sink.offer(Delivery(r.getString(0), r.getString(1))); n += 1 }
      sink.flush()
      acc.add(n)
    }
    val stats = BatchStats(batchId, nChanges, acc.value, shed = false,
      durationMs =
        if (batchStartNs < 0L) -1L
        else (System.nanoTime() - batchStartNs) / 1000000L)
    bus.record(stats)
    stats
  }

  /** One micro-batch of the wal2json pipeline. wal2json v2 rows are
    * self-describing, so the schema "harvest" reads column names/types
    * and pk lists from the rows themselves (small-dimension driver
    * collect of DISTINCT tables, the analog of the Relation harvest) and
    * folds them into the cross-batch `registry` — a late-arriving batch
    * for a table with no rows this batch still matches via the registry.
    */
  def processWal2JsonBatch(
      batch: DataFrame,
      jsonCol: String,
      orderCol: String,
      subs: Seq[Subscription],
      bus: MemoryBus,
      registry: scala.collection.mutable.Map[(String, String),
        (StructType, Seq[String])],
      batchId: Long = 0L): BatchStats = {
    val tBatch0 = System.nanoTime()
    val cached = batch.persist()
    try {
      val raw = Wal2Json.decodeRaw(cached, jsonCol)
      // schema harvest: aggregate to the LATEST (by seq) column/pk
      // description PER TABLE executor-side, then collect one row per
      // distinct table — the small dimension, never the change rows. The
      // batch row count rides the same aggregate (per-group counts summed
      // driver-side; schema-less groups — action M, malformed rows —
      // contribute count but no registry entry, which is why max_by keys
      // on a null-when-schema-less seq instead of a pre-filter): harvest
      // + count is one job, not two.
      val harvested = raw
        .select(col(orderCol).cast("long").as("_seq"),
          col("wal.schema").as("ns"), col("wal.table").as("tbl"),
          col("wal.columns.name").as("names"),
          col("wal.columns.type").as("types"),
          col("pk_columns"))
        .groupBy("ns", "tbl")
        .agg(count(lit(1)).as("_n"),
          max_by(struct(col("names"), col("types"), col("pk_columns")),
            when(col("ns").isNotNull && col("names").isNotNull, col("_seq")))
            .as("d"))
        .collect()
      val nChanges = harvested.map(_.getLong(2)).sum
      harvested.foreach { r =>
        val d = r.getStruct(3)
        if (r.getString(0) != null && d != null && !d.isNullAt(0)) {
          val names = d.getSeq[String](0)
          val types = d.getSeq[String](1)
          val pks = Option(d.getSeq[String](2)).getOrElse(Nil)
          val st = StructType(names.zip(types).map { case (n, t) =>
            org.apache.spark.sql.types.StructField(n, Wal2Json.sparkType(t))
          })
          registry((r.getString(0), r.getString(1))) = (st, pks)
        }
      }
      val decoded = Wal2Json.decodeChanges(cached, jsonCol, orderCol)
        .filter(c =>
          c.message == "INSERT" || c.message == "UPDATE" ||
          c.message == "DELETE" || c.message == "TRUNCATE")
        .toDF()
        .withColumnRenamed("message", Walrus.TypeCol)
      matchShapeDeliver(decoded,
        registry.map { case (k, v) => k -> v._1 }.toMap,
        registry.map { case (k, v) => k -> v._2 }.toMap,
        subs, bus, batchId, nChanges = nChanges, batchStartNs = tBatch0)
    } finally cached.unpersist()
  }

  /** One micro-batch of the Debezium-envelope pipeline — the
    * external-topic dialect of S1 ([[Debezium]] decode over e.g. a
    * [[graft.sources.ReplayLog]] stream). The slim envelope carries
    * column names but no types or pk metadata, so the schema "harvest"
    * unions the observed record/old keys per table (all STRING — pass
    * `schemaOverrides` for typed filter matching) and primary keys come
    * from `pkByTable` (connector config in a real deployment; without an
    * entry the payload path serves its no-pk 400 contract). Harvest +
    * row count ride one aggregate job, as on the other WAL paths. */
  def processDebeziumBatch(
      batch: DataFrame,
      jsonCol: String,
      orderCol: String,
      subs: Seq[Subscription],
      bus: MemoryBus,
      registry: scala.collection.mutable.Map[(String, String),
        (StructType, Seq[String])],
      pkByTable: Map[(String, String), Seq[String]] = Map.empty,
      schemaOverrides: Map[(String, String), StructType] = Map.empty,
      batchId: Long = 0L): BatchStats = {
    val tBatch0 = System.nanoTime()
    val cached = batch.persist()
    try {
      val decoded = Debezium.decodeChanges(cached, jsonCol, orderCol).toDF()
      val harvested = decoded
        .groupBy(col("change_schema").as("ns"), col("change_table").as("tbl"))
        .agg(count(lit(1)).as("_n"),
          array_distinct(flatten(collect_list(array_union(
            coalesce(map_keys(col("record")),
              array().cast("array<string>")),
            array_union(
              coalesce(map_keys(col("old_record")),
                array().cast("array<string>")),
              coalesce(col("unchanged_toast"),
                array().cast("array<string>"))))))).as("cols"))
        .collect()
      val nChanges = harvested.map(_.getLong(2)).sum
      harvested.foreach { r =>
        val (ns, tbl) = (r.getString(0), r.getString(1))
        if (ns != null && tbl != null) {
          val st = schemaOverrides.getOrElse((ns, tbl),
            StructType(r.getSeq[String](3).sorted
              .map(org.apache.spark.sql.types.StructField(_,
                org.apache.spark.sql.types.StringType))))
          registry((ns, tbl)) = (st, pkByTable.getOrElse((ns, tbl), Nil))
        }
      }
      val changes = decoded
        .where(col("message").isin("INSERT", "UPDATE", "DELETE", "TRUNCATE"))
        .withColumnRenamed("message", Walrus.TypeCol)
      matchShapeDeliver(changes,
        registry.map { case (k, v) => k -> v._1 }.toMap,
        registry.map { case (k, v) => k -> v._2 }.toMap,
        subs, bus, batchId, nChanges = nChanges, batchStartNs = tBatch0)
    } finally cached.unpersist()
  }

  /** Attach the Debezium-envelope pipeline to a streaming DataFrame —
    * same downstream as [[startWal2Json]], envelope decode + config-fed
    * pk metadata instead of self-describing rows. */
  def startDebezium(
      msgs: DataFrame,
      jsonCol: String,
      orderCol: String,
      subs: Seq[Subscription],
      bus: MemoryBus,
      pkByTable: Map[(String, String), Seq[String]] = Map.empty,
      schemaOverrides: Map[(String, String), StructType] = Map.empty,
      triggerMs: Long = 100L,
      checkpointLocation: Option[String] = None): StreamingQuery = {
    val registry = scala.collection.mutable
      .Map[(String, String), (StructType, Seq[String])]()
    val w = msgs.writeStream
      .outputMode("append")
      .trigger(Trigger.ProcessingTime(triggerMs))
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        processDebeziumBatch(batch, jsonCol, orderCol, subs, bus, registry,
          pkByTable, schemaOverrides, batchId)
        ()
      }
    checkpointLocation.foreach(loc => w.option("checkpointLocation", loc))
    w.start()
  }

  /** Attach the wal2json pipeline (format-v2 JSON rows in, per-subscriber
    * frames out) to a streaming DataFrame — the same downstream as
    * [[startWal]], different source decode. */
  def startWal2Json(
      msgs: DataFrame,
      jsonCol: String,
      orderCol: String,
      subs: Seq[Subscription],
      bus: MemoryBus,
      triggerMs: Long = 100L,
      checkpointLocation: Option[String] = None): StreamingQuery = {
    val registry = scala.collection.mutable
      .Map[(String, String), (StructType, Seq[String])]()
    val w = msgs.writeStream
      .outputMode("append")
      .trigger(Trigger.ProcessingTime(triggerMs))
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        processWal2JsonBatch(batch, jsonCol, orderCol, subs, bus, registry,
          batchId)
        ()
      }
    checkpointLocation.foreach(loc => w.option("checkpointLocation", loc))
    w.start()
  }

  /** Attach the full raw-WAL pipeline (binary pgoutput frames in,
    * per-subscriber frames out) to a streaming DataFrame of
    * (orderCol, bytesCol) messages. The relation registry persists across
    * micro-batches in driver state. */
  def startWal(
      msgs: DataFrame,
      bytesCol: String,
      orderCol: String,
      subs: Seq[Subscription],
      bus: MemoryBus,
      triggerMs: Long = 100L,
      initialRegistry: Map[Int, PgOutput.RelationMeta] = Map.empty,
      checkpointLocation: Option[String] = None): StreamingQuery = {
    val registry =
      scala.collection.mutable.Map[Int, PgOutput.RelationMeta]() ++ initialRegistry
    val w = msgs.writeStream
      .outputMode("append")
      .trigger(Trigger.ProcessingTime(triggerMs))
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        processWalBatch(batch, bytesCol, orderCol, subs, bus, registry, batchId)
        ()
      }
    checkpointLocation.foreach(loc => w.option("checkpointLocation", loc))
    w.start()
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
      backoff: RetryBackoff = new RetryBackoff()): PollHandle = {
    val flag = new java.util.concurrent.atomic.AtomicBoolean(true)
    val batchId = new java.util.concurrent.atomic.AtomicLong(0L)
    val processFn: DataFrame => (Long, Long) = { batch =>
      // stats come straight back from the call — never re-read from the
      // bus (O(n) queue copy per poll, and wrong under a shared bus)
      val s = processBatch(batch, subs, dataSchema, table, pk, bus,
        batchId.getAndIncrement(), tenantCol, tenantLimits,
        defaultTenantLimit, rates, deliverTo = deliverTo)
      (s.nChanges - s.shedTenants.values.sum, s.nChanges)
    }
    AdaptivePoll.spawn(s"graft-adaptive-poll-$table", pollFn, processFn,
      pacer, flag, maxPolls, backoff)
  }

  /** Adaptive cadence on the wal2json path — the faithful pairing: the
    * reference's poller IS a wal2json poll loop. Each iteration decodes
    * one slot chunk through [[processWal2JsonBatch]] (registry persists
    * across polls); chunks that produced deliveries re-poll immediately,
    * chunks with slot records but no interested subscriber space out on
    * the jittered arm, and empty polls back off
    * ×[[PollPacer.idleMultiplier]]. */
  def startAdaptivePollWal2Json(
      pollFn: () => DataFrame,
      jsonCol: String,
      orderCol: String,
      subs: Seq[Subscription],
      bus: MemoryBus,
      pacer: PollPacer,
      maxPolls: Long = Long.MaxValue,
      backoff: RetryBackoff = new RetryBackoff()): PollHandle = {
    val flag = new java.util.concurrent.atomic.AtomicBoolean(true)
    val batchId = new java.util.concurrent.atomic.AtomicLong(0L)
    val registry = scala.collection.mutable
      .Map[(String, String), (StructType, Seq[String])]()
    val processFn: DataFrame => (Long, Long) = { batch =>
      val s = processWal2JsonBatch(batch, jsonCol, orderCol, subs, bus,
        registry, batchId.getAndIncrement())
      // processed := frames delivered (slot rows with no interested
      // subscriber take the jittered arm — no one is waiting, no rush);
      // slotChanges := raw slot messages, like the reference's
      // slot_changes_count (begin/commit/relation records included)
      (s.nDeliveries, s.nChanges)
    }
    AdaptivePoll.spawn("graft-adaptive-poll-wal2json", pollFn, processFn,
      pacer, flag, maxPolls, backoff)
  }

  /** Adaptive cadence on the binary pgoutput path — same loop as
    * [[startAdaptivePollWal2Json]], different source decode: each chunk
    * runs through [[processWalBatch]] with the relation registry
    * persisting across polls. Same pacing mapping: delivered frames
    * drain hot, slot records without an interested subscriber (or
    * Relation-only chunks) space out jittered, empty polls back off. */
  def startAdaptivePollWal(
      pollFn: () => DataFrame,
      bytesCol: String,
      orderCol: String,
      subs: Seq[Subscription],
      bus: MemoryBus,
      pacer: PollPacer,
      maxPolls: Long = Long.MaxValue,
      backoff: RetryBackoff = new RetryBackoff(),
      initialRegistry: Map[Int, PgOutput.RelationMeta] = Map.empty): PollHandle = {
    val flag = new java.util.concurrent.atomic.AtomicBoolean(true)
    val batchId = new java.util.concurrent.atomic.AtomicLong(0L)
    val registry =
      scala.collection.mutable.Map[Int, PgOutput.RelationMeta]() ++ initialRegistry
    val processFn: DataFrame => (Long, Long) = { batch =>
      val s = processWalBatch(batch, bytesCol, orderCol, subs, bus, registry,
        batchId.getAndIncrement())
      (s.nDeliveries, s.nChanges)
    }
    AdaptivePoll.spawn("graft-adaptive-poll-pgoutput", pollFn, processFn,
      pacer, flag, maxPolls, backoff)
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
      checkpointLocation: Option[String] = None): StreamingQuery = {
    val w = changes.writeStream
      .outputMode("append")
      .trigger(Trigger.ProcessingTime(triggerMs))
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        processBatch(batch, subs, dataSchema, table, pk, bus, batchId,
          tenantCol, tenantLimits, maxEventsPerBatch, rates,
          deliverTo = deliverTo)
        ()
      }
    checkpointLocation.foreach(loc => w.option("checkpointLocation", loc))
    w.start()
  }
}
