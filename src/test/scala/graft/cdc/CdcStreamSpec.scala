package graft.cdc

import graft.SparkSpec
import graft.filters.FilterParser
import graft.model.Subscription
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._

/** End-to-end CDC stream: MemoryStream → WALRUS → shaped frames on the bus,
  * including the per-tenant load-shedding gate (O10) and the executor-side
  * delivery contract. */
class CdcStreamSpec extends SparkSpec {
  import spark.implicits._
  import CdcStreamSpec.{Change, TChange}

  private def f(dsl: String) = FilterParser.parse(dsl).toOption.get

  lazy val subs = Seq(
    Subscription("sA", "public", "t", f("value=gt.50"), actionFilter = "INSERT"),
    Subscription("sB", "public", "t", Nil))

  lazy val dataSchema = Seq.empty[Change].toDS().toDF()
    .drop("change_type", "commit_timestamp").schema

  test("streamed changes arrive as encoded frames per subscriber") {
    val input = MemoryStream[Change](spark)
    val bus = CdcStream.MemoryBus()
    val q = CdcStream.start(input.toDF(), subs, dataSchema, "t",
      pk = Seq("id"), bus = bus, triggerMs = 10L)
    try {
      input.addData(
        Change(1, "INSERT", 60.0, "2024-01-01T00:00:00.000Z"),
        Change(2, "INSERT", 10.0, "2024-01-01T00:00:01.000Z"),
        Change(3, "UPDATE", 99.0, "2024-01-01T00:00:02.000Z"))
      q.processAllAvailable()
      val byId = bus.deliveries.groupBy(_.subscriptionId)
      // sA: INSERT and value>50 → change 1 only; sB: everything
      assert(byId("sA").size == 1 && byId("sB").size == 3)
      val frame = byId("sA").head.frame
      assert(frame.contains("\"type\":\"INSERT\"") && frame.contains("\"id\":1"))
      assert(bus.batches.exists(b => b.nDeliveries == 4 && !b.shed))
    } finally q.stop()
  }

  test("rate-limit gate sheds oversized batches with telemetry") {
    val input = MemoryStream[Change](spark)
    val bus = CdcStream.MemoryBus()
    val q = CdcStream.start(input.toDF(), subs, dataSchema, "t",
      pk = Seq("id"), bus = bus, maxEventsPerBatch = 2, triggerMs = 10L)
    try {
      input.addData((1 to 5).map(i =>
        Change(i, "INSERT", 60.0, s"2024-01-01T00:00:0$i.000Z")): _*)
      q.processAllAvailable()
      val shed = bus.batches.filter(_.shed)
      assert(shed.nonEmpty && shed.head.nChanges == 5 && shed.head.nDeliveries == 0)
      assert(bus.deliveries.isEmpty)
    } finally q.stop()
  }

  test("per-tenant gate sheds only the over-limit tenant, with telemetry") {
    val tSchema = Seq.empty[TChange].toDS().toDF()
      .drop("change_type", "commit_timestamp").schema
    val tSubs = Seq(Subscription("sAll", "public", "t", Nil))
    val changes = (
      (1 to 5).map(i => TChange(i, "noisy", "INSERT", 60.0,
        s"2024-01-01T00:00:0$i.000Z")) ++
      (6 to 7).map(i => TChange(i, "quiet", "INSERT", 60.0,
        s"2024-01-01T00:00:0$i.000Z"))).toDF()
    val bus = CdcStream.MemoryBus()
    CdcStream.processBatch(changes, tSubs, tSchema, "t", pk = Seq("id"),
      bus = bus, tenantCol = Some("tenant"),
      tenantLimits = Map("noisy" -> 3L), defaultTenantLimit = 100L)
    val b = bus.batches.head
    // only the noisy tenant's 5 rows shed; quiet tenant's 2 delivered
    assert(b.nChanges == 7 && b.shed && b.shedTenants == Map("noisy" -> 5L))
    assert(b.nDeliveries == 2 && bus.deliveries.size == 2)
    assert(bus.deliveries.forall(d => d.subscriptionId == "sAll" &&
      !d.frame.contains("noisy")))
  }

  test("NULL-tenant rows survive when another tenant is shed") {
    val tSchema = Seq.empty[TChange].toDS().toDF()
      .drop("change_type", "commit_timestamp").schema
    val tSubs = Seq(Subscription("sAll", "public", "t", Nil))
    // a bare isin() filter over a NULL tenant is NULL → where() would
    // silently drop these rows whenever ANY tenant sheds
    val changes = (
      (1 to 5).map(i => TChange(i, "noisy", "INSERT", 60.0,
        s"2024-01-01T00:00:0$i.000Z")) ++
      (6 to 7).map(i => TChange(i, null, "INSERT", 60.0,
        s"2024-01-01T00:00:0$i.000Z"))).toDF()
    val bus = CdcStream.MemoryBus()
    CdcStream.processBatch(changes, tSubs, tSchema, "t", pk = Seq("id"),
      bus = bus, tenantCol = Some("tenant"),
      tenantLimits = Map("noisy" -> 3L), defaultTenantLimit = 100L)
    val b = bus.batches.head
    assert(b.shedTenants == Map("noisy" -> 5L))
    assert(b.nDeliveries == 2 && bus.deliveries.size == 2)
    // and a shed of the NULL tenant itself keys as "null" in telemetry
    val bus2 = CdcStream.MemoryBus()
    CdcStream.processBatch(changes, tSubs, tSchema, "t", pk = Seq("id"),
      bus = bus2, tenantCol = Some("tenant"),
      tenantLimits = Map("null" -> 1L), defaultTenantLimit = 100L)
    val b2 = bus2.batches.head
    assert(b2.shedTenants == Map("null" -> 2L) && b2.nDeliveries == 5)
  }

  test("windowed rate gate: trigger sheds later batches, clears as window drains") {
    val tSchema = Seq.empty[TChange].toDS().toDF()
      .drop("change_type", "commit_timestamp").schema
    val tSubs = Seq(Subscription("sAll", "public", "t", Nil))
    // with no tenant column the whole batch is the one tenant "*"
    for ((tenantCol, key) <- Seq(Some("tenant") -> "tA", None -> "*")) {
      // 10 s window, cap 1 event/s per tenant
      val rc = new graft.rates.TenantRateCounters(10, defaultLimitPerSec = 1.0)
      def mkBatch(ids: Range) = ids.map(i =>
        TChange(i, "tA", "INSERT", 60.0, "2024-01-01T00:00:00.000Z")).toDF()
      def process(ids: Range, atSec: Long, batchId: Long, bus: CdcStream.MemoryBus) =
        CdcStream.processBatch(mkBatch(ids), tSubs, tSchema, "t", Seq("id"),
          bus, batchId, tenantCol = tenantCol, rates = Some(rc),
          nowMs = atSec * 1000)
      val bus = CdcStream.MemoryBus()
      // t=0: 50 rows — counter was empty, batch delivered, window now 5/s
      process(1 to 50, 0L, 0L, bus)
      assert(bus.batches.last.nDeliveries == 50 && !bus.batches.last.shed)
      // t=1: rate 5/s > 1/s → shed, and shed rows do NOT feed the window
      process(51 to 52, 1L, 1L, bus)
      assert(bus.batches.last.shed &&
        bus.batches.last.shedTenants == Map(key -> 2L), s"tenantCol=$tenantCol")
      // t=20: the 10 s window drained → tenant recovers
      process(53 to 54, 20L, 2L, bus)
      assert(!bus.batches.last.shed && bus.batches.last.nDeliveries == 2)
    }
  }

  test("raw-WAL stream: registry persists across micro-batches") {
    import PgOutput.{RelColumn, RelationMeta, TText}
    val rel = RelationMeta(7, "public", "orders", "d", Seq(
      RelColumn("id", "int8", isKey = true),
      RelColumn("amount", "float8", isKey = false)))
    val walSubs = Seq(
      Subscription("sBig", "public", "orders", f("amount=gt.100")),
      Subscription("sAll", "public", "orders", Nil))
    val input = MemoryStream[(Long, Array[Byte])](spark)
    val bus = CdcStream.MemoryBus()
    val q = CdcStream.startWal(input.toDF().toDF("seq", "msg"),
      new PgOutput.Format("msg", "seq"), walSubs, bus, triggerMs = 10L)
    try {
      // batch 1: Relation + one big insert
      input.addData(
        (0L, PgOutput.encodeRelation(rel)),
        (1L, PgOutput.encodeBegin(1L, 1700000000000000L, 1)),
        (2L, PgOutput.encodeInsert(7, Seq(TText("1"), TText("250.0")))),
        (3L, PgOutput.encodeCommit(1L, 2L, 1700000000000000L)))
      q.processAllAvailable()
      // batch 2: a small insert, NO Relation message — decodes only if the
      // registry survived the batch boundary (driver state)
      input.addData(
        (4L, PgOutput.encodeBegin(3L, 1700000001000000L, 2)),
        (5L, PgOutput.encodeInsert(7, Seq(TText("2"), TText("50.0")))),
        (6L, PgOutput.encodeCommit(3L, 4L, 1700000001000000L)))
      q.processAllAvailable()
      val byId = bus.deliveries.groupBy(_.subscriptionId)
      assert(byId("sAll").size == 2)             // both inserts decoded
      assert(byId("sBig").size == 1)             // typed filter: only 250.0
      assert(byId("sBig").head.frame.contains("\"table\":\"orders\""))
      assert(byId("sBig").head.frame.contains("\"id\":\"1\""))
      // batch 3: UPDATE with an unchanged-TOAST amount + full old image —
      // the shaped record must splice the old value back in (P8)
      input.addData(
        (7L, PgOutput.encodeUpdate(7,
          Some(Seq(TText("1"), TText("250.0"))),
          Seq(TText("1"), PgOutput.TToast))))
      q.processAllAvailable()
      val upd = bus.deliveries.filter(_.frame.contains("\"type\":\"UPDATE\""))
      assert(upd.nonEmpty && upd.forall(d =>
        d.frame.contains("\"amount\":\"250.0\"") && // toast-merged from old
        d.frame.contains("\"old_record\":{")))
    } finally q.stop()
  }

  test("wal2json stream shares the downstream: typed filters, TOAST " +
      "absence, registry across batches") {
    val walSubs = Seq(
      Subscription("sBig", "public", "orders", f("amount=gt.100")),
      Subscription("sAll", "public", "orders", Nil))
    def ins(seq: Long, id: Int, amount: Double): (Long, String) = (seq,
      s"""{"action":"I","schema":"public","table":"orders",
         |"timestamp":"2024-01-01 00:00:0$seq+00",
         |"columns":[{"name":"id","type":"bigint","typeoid":20,"value":$id},
         | {"name":"amount","type":"double precision","typeoid":701,"value":$amount}],
         |"pk":[{"name":"id","type":"bigint"}]}""".stripMargin.replace("\n", ""))
    val input = MemoryStream[(Long, String)](spark)
    val bus = CdcStream.MemoryBus()
    val q = CdcStream.startWal(input.toDF().toDF("seq", "w2j"),
      new Wal2Json.Format("w2j", "seq"), walSubs, bus, triggerMs = 10L)
    try {
      input.addData(ins(0L, 1, 250.0))
      q.processAllAvailable()
      // batch 2 carries rows for the SAME table — and an UPDATE whose
      // new image omits `amount` (unchanged TOAST is key-absent in
      // wal2json): the old value must splice back in (P8)
      input.addData(ins(1L, 2, 50.0), (2L,
        s"""{"action":"U","schema":"public","table":"orders",
           |"timestamp":"2024-01-01 00:00:03+00",
           |"columns":[{"name":"id","type":"bigint","typeoid":20,"value":1}],
           |"identity":[{"name":"id","type":"bigint","typeoid":20,"value":1},
           | {"name":"amount","type":"double precision","typeoid":701,"value":250.0}],
           |"pk":[{"name":"id","type":"bigint"}]}""".stripMargin.replace("\n", "")))
      q.processAllAvailable()
      val byId = bus.deliveries.groupBy(_.subscriptionId)
      // typed gt filter (compiled against the harvested double type):
      // only the 250.0 insert passes. The UPDATE's amount is TOAST-absent
      // from the new image, and filters fail CLOSED on a missing column —
      // exactly the reference's is_visible_through_filters over wal
      // 'columns' (the merge applies to the OUTPUT record, not to filter
      // visibility); 50.0 fails the comparison
      assert(byId("sBig").size == 1)
      assert(byId("sAll").size == 3)
      val upd = bus.deliveries.filter(_.frame.contains("\"type\":\"UPDATE\""))
      assert(upd.nonEmpty && upd.forall(d =>
        d.frame.contains("\"amount\":\"250.0\"") &&
        d.frame.contains("\"old_record\":{")))
    } finally q.stop()
  }

  test("mid-batch schema change: earlier tuples keep the older schema; " +
      "registry advances to the latest R by seq order") {
    import PgOutput.{RelColumn, RelationMeta, TText}
    val v1 = RelationMeta(7, "public", "orders", "d", Seq(
      RelColumn("id", "int8", isKey = true),
      RelColumn("amount", "float8", isKey = false)))
    // v2 RENAMES the second column — decode against the wrong version is
    // observable in the frame's key name
    val v2 = RelationMeta(7, "public", "orders", "d", Seq(
      RelColumn("id", "int8", isKey = true),
      RelColumn("amount_cents", "int8", isKey = false)))
    val walSubs = Seq(Subscription("sAll", "public", "orders", Nil))
    val batch = Seq(
      (1L, PgOutput.encodeInsert(7, Seq(TText("1"), TText("250.0")))),
      (2L, PgOutput.encodeRelation(v2)),
      (3L, PgOutput.encodeInsert(7, Seq(TText("2"), TText("30000")))))
      .toDF("seq", "msg").repartition(1)
    val format = new PgOutput.Format("msg", "seq", initialRegistry = Map(7 -> v1))
    val bus = CdcStream.MemoryBus()
    CdcStream.processWalBatch(batch, format, walSubs, bus)
    val frames = bus.deliveries.map(_.frame).sorted
    // seq-1 tuple precedes the schema change → decoded against v1, even
    // though the harvest saw v2 before decode ran
    assert(frames.exists(f => f.contains("\"id\":\"1\"") &&
      f.contains("\"amount\":\"250.0\"") && !f.contains("amount_cents")))
    // seq-3 tuple follows the in-stream R → decoded against v2
    assert(frames.exists(f => f.contains("\"id\":\"2\"") &&
      f.contains("\"amount_cents\":\"30000\"")))
    // the cross-batch registry advanced to v2 for the next batch
    assert(format.relations(7).columns.map(_.name) == Seq("id", "amount_cents"))
  }

  test("raw-WAL frames project selected columns per subscription group") {
    import PgOutput.{RelColumn, RelationMeta, TText}
    val rel = RelationMeta(9, "public", "users", "d", Seq(
      RelColumn("id", "int8", isKey = true),
      RelColumn("name", "text", isKey = false),
      RelColumn("email", "text", isKey = false)))
    val walSubs = Seq(
      Subscription("sNameOnly", "public", "users", Nil,
        selectedColumns = Seq("name")),
      Subscription("sAll", "public", "users", Nil))
    val input = MemoryStream[(Long, Array[Byte])](spark)
    val bus = CdcStream.MemoryBus()
    val q = CdcStream.startWal(input.toDF().toDF("seq", "msg"),
      new PgOutput.Format("msg", "seq"), walSubs, bus, triggerMs = 10L)
    try {
      input.addData(
        (0L, PgOutput.encodeRelation(rel)),
        (1L, PgOutput.encodeInsert(9,
          Seq(TText("5"), TText("ada"), TText("a@x.io")))))
      q.processAllAvailable()
      val byId = bus.deliveries.groupBy(_.subscriptionId)
      // selected columns ∪ pk for the group; full record for the other
      assert(byId("sNameOnly").head.frame.contains("\"name\":\"ada\""))
      assert(!byId("sNameOnly").head.frame.contains("email"))
      assert(byId("sNameOnly").head.frame.contains("\"id\":\"5\""))
      assert(byId("sAll").head.frame.contains("\"email\":\"a@x.io\""))
    } finally q.stop()
  }

  test("delivery happens on executor task threads, not the driver") {
    // a sink that records the thread each offer ran on, via the same
    // static-registry pattern MemoryBus uses (a closure-captured queue
    // would be serialized into the task and its COPY mutated instead)
    val sink: CdcStream.DeliverySink = new CdcStreamSpec.ThreadRecordingSink
    val changes = (1 to 8).map(i => Change(i, "INSERT", 60.0,
      s"2024-01-01T00:00:0$i.000Z")).toDF().repartition(4)
    for (gated <- Seq(false, true)) {
      CdcStreamSpec.offerThreads.clear()
      val st = CdcStream.processBatch(changes, subs, dataSchema, "t", Seq("id"),
        CdcStream.MemoryBus(), defaultTenantLimit = if (gated) 100L else Long.MaxValue,
        deliverTo = Some(sink))
      val names = CdcStreamSpec.offerThreads.asScala.toSeq
      // sA and sB both match every change
      assert(st.nDeliveries == 16 && names.size == 16, s"gated=$gated")
      // local[n] runs tasks on "Executor task launch worker-*" threads; the
      // driver's main/test thread never touches a frame
      assert(names.forall(_.contains("Executor task launch worker")), s"gated=$gated")
    }
  }

  test("gated batches evict idle tenants' rate counters; a returning tenant starts empty") {
    val tSchema = Seq.empty[TChange].toDS().toDF()
      .drop("change_type", "commit_timestamp").schema
    val tSubs = Seq(Subscription("sAll", "public", "t", Nil))
    // a window longer than the idle limit (600 s, cap 0.05 events/s), so
    // only eviction can empty it before the tenant returns
    val rc = new graft.rates.TenantRateCounters(600, defaultLimitPerSec = 0.05)
    def process(tenant: String, n: Int, atSec: Long) = CdcStream.processBatch(
      (1 to n).map(i => TChange(i, tenant, "INSERT", 60.0,
        "2024-01-01T00:00:00.000Z")).toDF(), tSubs, tSchema, "t", Seq("id"),
      CdcStream.MemoryBus(), tenantCol = Some("tenant"), rates = Some(rc),
      nowMs = atSec * 1000)
    // t=0: both tenants counted; tA's 50 rows (50/600 s) trigger its cap
    process("tA", 50, 0L)
    process("tB", 1, 0L)
    assert(rc.nTracked == 2 && rc.triggered("tA", 1000L))
    // t=299: tA idle 299 s — kept
    process("tB", 1, 299L)
    assert(rc.nTracked == 2)
    // t=300: tA idle 300 s — dropped on this batch's cadence
    process("tB", 1, 300L)
    assert(rc.nTracked == 1)
    // tA returns: its window restarted empty (kept, its t=0 rows would
    // still trigger the cap), so the batch is delivered, not shed
    val back = process("tA", 5, 301L)
    assert(!back.shed && back.nDeliveries == 5 && rc.nTracked == 2)
    assert(rc.avg("tA", 301000L) == 5.0 / 600)
  }
}

object CdcStreamSpec {
  case class Change(id: Int, change_type: String, value: Double,
      commit_timestamp: String)
  case class TChange(id: Int, tenant: String, change_type: String,
      value: Double, commit_timestamp: String)

  val offerThreads = new ConcurrentLinkedQueue[String]()
  class ThreadRecordingSink extends CdcStream.DeliverySink {
    def offer(d: CdcStream.Delivery): Unit =
      offerThreads.add(Thread.currentThread().getName)
  }
}
