package graft.cdc

import graft.SparkSpec
import graft.model.Subscription
import graft.walrus.{Payload, Walrus}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The bound router of [[CdcStream.processBatch]] against the DataFrame
  * pipeline it replaces (`matchedOnly` → `shape` → frame → explode), the
  * edge cases that pipeline handled in its plan, and the kernel memo. */
class RouterSpec extends SparkSpec {
  import spark.implicits._
  import RouterSpec.DChange

  private val dataCols = Seq("event_id", "user_id", "event_type", "value", "payload")
  private lazy val schema = Seq.empty[DChange].toDF().schema
  private lazy val dataSchema = org.apache.spark.sql.types.StructType(
    dataCols.map(schema(_)))

  /** `Queries.manySubs` (all eight filter kinds over the four actions),
    * with a fifth selecting two columns and a seventh under another role,
    * so the registry has four payload groups. */
  private lazy val subs: Seq[Subscription] =
    graft.Queries.manySubs.map(_._1).zipWithIndex.map { case (s, i) =>
      s.copy(
        selectedColumns = if (i % 5 == 0) Seq("event_type", "value") else Nil,
        claimsRole = if (i % 7 == 0) "anon" else s.claimsRole)
    }

  /** A seeded batch over the registry: the three actions with `old_*`
    * pre-images, TRUNCATE rows, NULL data values and a NULL tenant, a
    * NULL commit timestamp and one oversize (413) record. */
  private lazy val batch: DataFrame = {
    val r = new scala.util.Random(7)
    val types = Seq("click", "view", "error", "purchase", "signup")
    val rows = (1L to 300L).map { id =>
      val ct = Seq("INSERT", "INSERT", "UPDATE", "DELETE", "TRUNCATE")(r.nextInt(5))
      val nul = r.nextInt(10) == 0
      val data = ct != "TRUNCATE"
      DChange(id,
        if (data && !nul) Some(r.nextInt(60).toLong) else None,
        if (data && !nul) types(r.nextInt(5)) else null,
        if (data) Some(r.nextInt(100) + 0.5) else None,
        if (data) s"""{"k":${r.nextInt(9)}}""" else null,
        Seq("tA", "tB", null)(r.nextInt(3)),
        if (ct == "UPDATE" || ct == "DELETE") Some(r.nextInt(60).toLong) else None,
        if (ct == "UPDATE" || ct == "DELETE") types(r.nextInt(5)) else null,
        if (ct == "UPDATE" || ct == "DELETE") Some(r.nextInt(100) + 0.25) else None,
        ct,
        if (id == 17L) null else f"2024-01-01T00:00:${id % 60}%02d.000Z")
    } :+ DChange(301L, Some(3L), "click", Some(99.0), "x" * ((1 << 20) + 10),
      "tA", None, null, None, "INSERT", "2024-01-01T00:01:00.000Z")
    rows.toDF().repartition(3)
  }

  /** The DataFrame pipeline processBatch ran before the router, built from
    * the same Column builders. */
  private def reference(changes: DataFrame, registry: Seq[Subscription]): Seq[(String, String)] =
    Payload.shape(Walrus.matchedOnly(changes, registry, dataSchema, "events"), registry,
      dataCols, pk = Seq("event_id"))
      .select(explode(col("subscription_ids")),
        Router.frame(col(Walrus.TypeCol), col("commit_timestamp"), col("record"),
          col("old_record"), col("errors")))
      .collect().map(r => (r.getString(0), r.getString(1))).toSeq

  private def sorted(xs: Seq[(String, String)]) = xs.sortBy { case (s, f) => (s, Option(f)) }

  private def routed(changes: DataFrame, registry: Seq[Subscription],
      gated: Boolean, tenantLimits: Map[String, Long] = Map.empty)
      : (CdcStream.BatchStats, Seq[(String, String)]) = {
    val bus = CdcStream.MemoryBus()
    val st =
      if (gated) CdcStream.processBatch(changes, registry, dataSchema, "events",
        Seq("event_id"), bus, tenantCol = Some("tenant"), tenantLimits = tenantLimits,
        defaultTenantLimit = 1000000L,
        rates = Some(new graft.rates.TenantRateCounters(10)))
      else CdcStream.processBatch(changes, registry, dataSchema, "events",
        Seq("event_id"), bus)
    (st, bus.deliveries.map(d => (d.subscriptionId, d.frame)))
  }

  test("differential: processBatch frames equal the DataFrame pipeline's, gated and ungated") {
    val want = sorted(reference(batch, subs))
    // the batch exercises what it claims to
    assert(want.exists(_._2 == null), "null commit_timestamp frame")
    assert(want.exists(w => w._2 != null && w._2.contains(Payload.Err413)))
    assert(want.exists(w => w._2 != null && w._2.contains("\"type\":\"TRUNCATE\"")))
    assert(want.exists(w => w._2 != null && w._2.contains("\"old_record\":{")))
    assert(want.map(_._1).distinct.size > 100)
    for (gated <- Seq(false, true)) {
      val (st, got) = routed(batch, subs, gated)
      assert(st.nChanges == 301L && st.nDeliveries == want.size && !st.shed)
      assert(sorted(got) == want, s"gated=$gated")
    }
  }

  test("differential: a shed tenant's rows are exactly the ones missing") {
    val (st, got) = routed(batch, subs, gated = true, tenantLimits = Map("tA" -> 0L))
    val kept = batch.where(coalesce(col("tenant"), lit("null")) =!= "tA")
    assert(st.shed && st.shedTenants.keySet == Set("tA") && st.nChanges == 301L)
    assert(sorted(got) == sorted(reference(kept, subs)))
  }

  test("an empty or irrelevant registry delivers nothing and still counts the changes") {
    val elsewhere = Seq(Subscription("other", "public", "orders", Nil))
    for (registry <- Seq(Nil, elsewhere); gated <- Seq(false, true)) {
      val (st, got) = routed(batch, registry, gated)
      assert(st.nChanges == 301L && st.nDeliveries == 0L && got.isEmpty,
        s"registry=$registry gated=$gated")
      assert(reference(batch, registry).isEmpty)
    }
  }

  test("a null commit_timestamp yields a null frame, not an exception") {
    val one = batch.where(col("event_id") === 17L)
    val (_, got) = routed(one, Seq(Subscription("all", "public", "events", Nil)), gated = false)
    assert(got == Seq(("all", null)))
  }

  test("null-role payload groups are dropped") {
    val nobody = Subscription("nobody", "public", "events", Nil, claimsRole = null)
    val all = Subscription("all", "public", "events", Nil)
    assert(reference(batch, Seq(nobody)).isEmpty)
    val want = sorted(reference(batch, Seq(nobody, all)))
    assert(want.nonEmpty && want.forall(_._1 == "all"))
    for (gated <- Seq(false, true)) {
      val (st, got) = routed(batch, Seq(nobody), gated)
      assert(st.nChanges == 301L && st.nDeliveries == 0L && got.isEmpty)
      assert(sorted(routed(batch, Seq(nobody, all), gated)._2) == want)
    }
  }

  test("structural lock: the bound groups split ids by constant membership, no per-row id set") {
    import graft.plans.{BindOnce, GroupSplit, JsonStructProject}
    import org.apache.spark.sql.catalyst.expressions.{ArrayIntersect, BoundReference,
      Expression, HigherOrderFunction, InSet, SortArray}
    val gs = Router.kernel(spark, schema, subs, dataSchema, "events", Seq("event_id"),
      Some("tenant")).groupsExpr.get
    assert(gs.find {
      case _: HigherOrderFunction | _: InSet | _: ArrayIntersect | _: SortArray => true
      case _ => false
    }.isEmpty, "no interpreted HOF split, no per-row id set")
    assert(gs.collect { case s: GroupSplit => s }.size == 1)
    // a full record JSON serializes the group's current columns as they are
    val fields = schema.fieldNames :+ "subscription_ids"
    def fullRecord(e: Expression): Boolean = e match {
      case j: JsonStructProject => j.children.forall {
        case b: BoundReference => !fields(b.ordinal).startsWith("old_")
        case _ => false
      }
      case _ => false
    }
    // the registry has four payload groups: one build each, bound once
    assert(gs.collect { case e if fullRecord(e) => e }.size == 4)
    assert(gs.collect { case b: BindOnce if fullRecord(b.value) => b }.size == 4)
  }

  test("kernel shipping: one copy per task slot, reused across batches, dropped on eviction") {
    assert(Router.taskSlots == 4, "the spec session is local[4]")
    val wide = batch.repartition(16)
    // the differential holds with more partitions than slots
    val want = sorted(reference(batch, subs))
    assert(sorted(routed(wide, subs, gated = true)._2) == want)
    // once a batch has run as many tasks at once as there are slots, an
    // unchanged registry's later batches deserialize no kernel
    val gatedId = Router.kernel(spark, schema, subs, dataSchema, "events", Seq("event_id"),
      Some("tenant")).id
    var warm = 0
    while (Router.idleRunners(Some(gatedId)) < Router.taskSlots && warm < 10) {
      routed(wide, subs, gated = true)
      warm += 1
    }
    assert(Router.idleRunners(Some(gatedId)) == Router.taskSlots)
    val before = Router.kernelsDeserialized
    for (_ <- 1 to 3) assert(sorted(routed(wide, subs, gated = true)._2) == want)
    assert(Router.kernelsDeserialized == before)
    // alternating registries never leave more idle runners than slots
    val other = subs.filter(_.claimsRole != "anon")
    for (_ <- 1 to 3; registry <- Seq(subs, other)) {
      routed(wide, registry, gated = true)
      assert(Router.idleRunners() <= Router.taskSlots)
    }
    // a kernel evicted from the memo takes its idle runners with it
    val k = Router.kernel(spark, schema, other, dataSchema, "events", Seq("event_id"), None)
    routed(batch, other, gated = false)
    assert(Router.idleRunners(Some(k.id)) > 0)
    (1 to Router.MemoBound).foreach { i =>
      Router.kernel(spark, schema, Seq(Subscription(s"evict$i", "public", "events", Nil)),
        dataSchema, "events", Seq("event_id"), None)
    }
    assert(!(Router.kernel(spark, schema, other, dataSchema, "events", Seq("event_id"),
      None) eq k), "evicted")
    assert(Router.idleRunners(Some(k.id)) == 0)
  }

  test("kernel memo: equal registry reuses, a changed registry or SQL conf rebuilds, bound 8") {
    def kernel(registry: Seq[Subscription]) = Router.kernel(spark, schema, registry,
      dataSchema, "events", Seq("event_id"), Some("tenant"))
    val k = kernel(subs)
    assert(kernel(subs.map(_.copy())) eq k)
    val more = subs :+ Subscription("extra", "public", "events", Nil)
    assert(!(kernel(more) eq k))
    /** Run `f` with `key` set to `value`, then restore it. */
    def withConf[A](key: String, value: String)(f: => A): A = {
      val before = spark.conf.getAll.get(key) // set, not defaulted
      spark.conf.set(key, value)
      try f finally before match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
    }
    withConf("spark.sql.caseSensitive",
      (!spark.conf.get("spark.sql.caseSensitive", "false").toBoolean).toString) {
      assert(!(kernel(subs) eq k))
    }
    withConf("spark.sql.session.timeZone", "America/Los_Angeles") {
      assert(!(kernel(subs) eq k))
    }
    assert(kernel(subs) eq k)
    // streaming confs steer no expression: setting one (CdcStream.start sets
    // the checkpoint file manager) reuses the kernel
    withConf(LocalCheckpointFiles.ConfKey, "some.other.Manager") {
      withConf("spark.sql.streaming.minBatchesToRetain", "7") {
        assert(kernel(subs) eq k)
      }
    }
    (1 to 12).foreach { i =>
      kernel(Seq(Subscription(s"s$i", "public", "events", Nil)))
      assert(Router.memoSize <= Router.MemoBound)
    }
    assert(Router.memoSize == Router.MemoBound)
  }
}

object RouterSpec {
  case class DChange(event_id: Long, user_id: Option[Long], event_type: String,
      value: Option[Double], payload: String, tenant: String,
      old_user_id: Option[Long], old_event_type: String, old_value: Option[Double],
      change_type: String, commit_timestamp: String)
}
