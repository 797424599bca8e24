package graft.cdc

import graft.SparkSpec
import graft.filters.FilterParser
import graft.model.Subscription
import graft.walrus.{MultiTableMatch, Payload, Walrus}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The WAL pipeline's bound kernel ([[CdcStream.processWalBatch]] through
  * [[Router.walKernel]]) against the per-batch DataFrame tail it replaced
  * (match → TOAST merge → `shapeGeneric` → frame → explode), over all
  * three wire formats, and the kernel memo across a relation registry
  * that stays and one that changes. */
class WalKernelSpec extends SparkSpec {
  import spark.implicits._
  import PgOutput.{RelColumn, RelationMeta, TNull, TText, TToast}

  private def f(dsl: String) = FilterParser.parse(dsl).toOption.get

  /** A decoded batch's row-level changes, as `processWalBatch` routes them. */
  private def changesOf(d: WalFormat.Decoded): DataFrame =
    d.changes.toDF()
      .where(col("message").isin("INSERT", "UPDATE", "DELETE", "TRUNCATE"))
      .withColumnRenamed("message", Walrus.TypeCol)

  /** The DataFrame tail `processWalBatch` ran before the kernel:
    * (raw message count, (subscription_id, frame) of every delivery). */
  private def reference(batch: DataFrame, format: WalFormat, subs: Seq[Subscription])
      : (Long, Seq[(String, String)]) = {
    val cached = batch.persist()
    try {
      val d = format.decode(cached)
      val matched = MultiTableMatch
        .matchSubscriptions(changesOf(d), d.tables.map { case (k, v) => k -> v._1 }, subs)
        .where(size(col("subscription_ids")) > 0)
      val toastMerged = matched.withColumn("record",
        when(col("record").isNotNull && col("old_record").isNotNull,
          Walrus.toastMerge(col("record"), col("old_record")))
          .otherwise(col("record")))
      val deliveries = Payload
        .shapeGeneric(toastMerged, subs, d.tables.map { case (k, v) => k -> v._2 })
        .withColumn("frame", concat(
          lit("{\"type\":\""), col(Walrus.TypeCol),
          lit("\",\"schema\":\""), col("change_schema"),
          lit("\",\"table\":\""), col("change_table"),
          lit("\",\"commit_timestamp\":\""), col("commit_timestamp"),
          lit("\",\"record\":"), coalesce(col("record"), lit("null")),
          lit(",\"old_record\":"), coalesce(col("old_record"), lit("null")),
          lit("}")))
        .select(explode(col("subscription_ids")).as("subscription_id"), col("frame"))
      (d.nMessages, deliveries.collect().map(r => (r.getString(0), r.getString(1))).toSeq)
    } finally cached.unpersist()
  }

  private def sorted(xs: Seq[(String, String)]) = xs.sortBy { case (s, fr) => (s, Option(fr)) }

  // two tables: orders (id pk, amount, note) and items (sku pk, qty)
  private val orders = RelationMeta(7, "public", "orders", "f", Seq(
    RelColumn("id", "int8", isKey = true),
    RelColumn("amount", "float8", isKey = false),
    RelColumn("note", "text", isKey = false)))
  private val items = RelationMeta(8, "public", "items", "f", Seq(
    RelColumn("sku", "text", isKey = true),
    RelColumn("qty", "int4", isKey = false)))

  /** The same transaction in each format: INSERT orders 1 and 2 and items
    * a; UPDATE orders 1 with its note an unchanged TOAST value; INSERT
    * orders 3 (so wal2json's harvest, which keeps each table's latest
    * column list, still sees `note`); UPDATE items a; DELETE orders 2 with
    * a pk-only old image; DELETE items a; TRUNCATE both tables. */
  private def pgo: Seq[(Long, Array[Byte])] = {
    def t(vs: String*) = vs.map(v => if (v == null) TNull else TText(v))
    val ts = 1704067200000000L
    Seq(
      PgOutput.encodeRelation(orders),
      PgOutput.encodeRelation(items),
      PgOutput.encodeBegin(1L, ts, 1),
      PgOutput.encodeInsert(7, t("1", "250.0", "x")),
      PgOutput.encodeInsert(7, t("2", "50.0", "y")),
      PgOutput.encodeInsert(8, t("a", "3")),
      PgOutput.encodeUpdate(7, Some(t("1", "250.0", "x")), t("1", "75.0") :+ TToast),
      PgOutput.encodeInsert(7, t("3", "20.0", "z")),
      PgOutput.encodeUpdate(8, Some(t("a", "3")), t("a", "5")),
      PgOutput.encodeDelete(7, t("2", null, null), keyKind = 'K'),
      PgOutput.encodeDelete(8, t("a", "5"), keyKind = 'O'),
      PgOutput.encodeTruncate(Seq(7, 8)),
      PgOutput.encodeCommit(1L, 2L, ts)).zipWithIndex.map { case (m, i) => (i.toLong, m) }
  }

  private def w2j: Seq[(Long, String)] = {
    def order(id: Int, amount: Double, note: Option[String]) =
      s"""[{"name":"id","type":"bigint","value":$id},""" +
        s"""{"name":"amount","type":"double precision","value":$amount}""" +
        note.map(n => s""",{"name":"note","type":"text","value":"$n"}""").getOrElse("") + "]"
    def item(sku: String, qty: Int) =
      s"""[{"name":"sku","type":"text","value":"$sku"},""" +
        s"""{"name":"qty","type":"integer","value":$qty}]"""
    def row(action: String, table: String, fields: String, pk: String) =
      s"""{"action":"$action","schema":"public","table":"$table",""" +
        s""""timestamp":"2024-01-01 00:00:00+00",$fields"pk":$pk}"""
    val oPk = """[{"name":"id","type":"bigint"}]"""
    val iPk = """[{"name":"sku","type":"text"}]"""
    Seq(
      """{"action":"B"}""",
      row("I", "orders", s""""columns":${order(1, 250.0, Some("x"))},""", oPk),
      row("I", "orders", s""""columns":${order(2, 50.0, Some("y"))},""", oPk),
      row("I", "items", s""""columns":${item("a", 3)},""", iPk),
      row("U", "orders", s""""columns":${order(1, 75.0, None)},""" +
        s""""identity":${order(1, 250.0, Some("x"))},""", oPk),
      row("I", "orders", s""""columns":${order(3, 20.0, Some("z"))},""", oPk),
      row("U", "items", s""""columns":${item("a", 5)},"identity":${item("a", 3)},""", iPk),
      row("D", "orders", """"identity":[{"name":"id","type":"bigint","value":2}],""", oPk),
      row("D", "items", s""""identity":${item("a", 5)},""", iPk),
      """{"action":"T","schema":"public","table":"orders","timestamp":"2024-01-01 00:00:00+00"}""",
      """{"action":"T","schema":"public","table":"items","timestamp":"2024-01-01 00:00:00+00"}""",
      """{"action":"C"}""").zipWithIndex.map { case (j, i) => (i.toLong, j) }
  }

  private def dbz: Seq[(Long, String)] = {
    def env(op: String, table: String, before: String, after: String) =
      s"""{"before":$before,"after":$after,""" +
        s""""source":{"schema":"public","table":"$table","ts_ms":1704067200000,""" +
        s""""lsn":1,"txId":1},"op":"$op","ts_ms":0}"""
    val toast = Debezium.UnavailableValue
    Seq(
      env("c", "orders", "null", """{"id":1,"amount":250.0,"note":"x"}"""),
      env("c", "orders", "null", """{"id":2,"amount":50.0,"note":"y"}"""),
      env("c", "items", "null", """{"sku":"a","qty":3}"""),
      env("u", "orders", """{"id":1,"amount":250.0,"note":"x"}""",
        s"""{"id":1,"amount":75.0,"note":"$toast"}"""),
      env("c", "orders", "null", """{"id":3,"amount":20.0,"note":"z"}"""),
      env("u", "items", """{"sku":"a","qty":3}""", """{"sku":"a","qty":5}"""),
      env("d", "orders", """{"id":2}""", "null"),
      env("d", "items", """{"sku":"a","qty":5}""", "null"),
      env("t", "orders", "null", "null"),
      env("t", "items", "null", "null")).zipWithIndex.map { case (j, i) => (i.toLong, j) }
  }

  /** Per format: its name, and a maker of (the transaction as a batch of
    * the format's rows, or an empty batch; a fresh format instance). */
  private def formats(empty: Boolean): Seq[(String, () => (DataFrame, WalFormat))] = Seq(
    "pgoutput" -> (() => ((if (empty) Nil else pgo).toDF("seq", "m"),
      new PgOutput.Format("m", "seq"))),
    "wal2json" -> (() => ((if (empty) Nil else w2j).toDF("seq", "m"),
      new Wal2Json.Format("m", "seq"))),
    "debezium" -> (() => ((if (empty) Nil else dbz).toDF("seq", "m"),
      new Debezium.Format("m", "seq",
        pkByTable = Map(("public", "orders") -> Seq("id"), ("public", "items") -> Seq("sku")),
        schemaOverrides = Map(("public", "orders") -> StructType(Seq(
          StructField("id", LongType), StructField("amount", DoubleType),
          StructField("note", StringType))))))))

  private val subs = Seq(
    Subscription("sAll", "public", "orders", Nil),
    Subscription("sBig", "public", "orders", f("amount=gt.100")),
    Subscription("sNote", "public", "orders", f("note=eq.x"), selectedColumns = Seq("note")),
    Subscription("sIns", "public", "orders", Nil, actionFilter = "INSERT"),
    Subscription("sDel", "public", "orders", Nil, actionFilter = "DELETE", claimsRole = "anon"),
    Subscription("sItems", "public", "items", Nil),
    Subscription("sQty", "public", "items", f("qty=gt.4"), selectedColumns = Seq("qty")),
    Subscription("sStar", "public", "*", Nil, selectedColumns = Seq("amount", "qty")),
    Subscription("sNull", "public", "orders", Nil, claimsRole = null),
    Subscription("sOther", "public", "other", Nil))

  /** processWalBatch against the reference on a fresh format instance
    * each: equal delivery multisets and counts; returns the deliveries. */
  private def differential(name: String, input: () => (DataFrame, WalFormat),
      registry: Seq[Subscription]): Seq[(String, String)] = {
    val (nWant, want) = { val (b, fmt) = input(); reference(b, fmt, registry) }
    val (b, fmt) = input()
    val bus = CdcStream.MemoryBus()
    val st = CdcStream.processWalBatch(b, fmt, registry, bus)
    val got = bus.deliveries.map(d => (d.subscriptionId, d.frame))
    assert(st.nChanges == nWant && st.nDeliveries == want.size && !st.shed,
      s"$name: $st against $nWant messages, ${want.size} deliveries")
    assert(sorted(got) == sorted(want), s"$name registry=${registry.map(_.subscriptionId)}")
    want
  }

  test("differential: processWalBatch delivers the DataFrame tail's frames, in all three formats") {
    for ((name, input) <- formats(empty = false)) {
      val want = differential(name, input, subs)
      // the batch exercises what it claims to
      val frames = want.map(_._2)
      for (t <- Seq("INSERT", "UPDATE", "DELETE", "TRUNCATE"); tbl <- Seq("orders", "items"))
        assert(frames.exists(fr => fr.contains(s""""type":"$t"""") &&
          fr.contains(s""""table":"$tbl"""")), s"$name: no $t on $tbl")
      assert(frames.exists(fr =>
        fr.startsWith("""{"type":"UPDATE","schema":"public","table":"orders"""") &&
          fr.contains(""""record":{"id":"1","amount":"75.0","note":"x"}""")),
        s"$name: the unchanged TOAST note is merged back from the old image")
      assert(want.exists { case (s, fr) =>
        s == "sNote" && fr.contains(""""record":{"id":"1","note":"x"}""") },
        s"$name: selected columns keep only note and the pk")
      assert(!want.exists(_._1 == "sNull") && !want.exists(_._1 == "sOther"))
      assert(want.count(_._1 == "sDel") == 1 && want.count(_._1 == "sStar") == 10, name)
    }
  }

  test("a TOAST UPDATE that is its table's last row keeps the unchanged column " +
      "in the wal2json registry, as pgoutput's Relation does") {
    // orders 3 is inserted before the TOAST UPDATE instead of after it, so
    // the UPDATE, which leaves `note` out, is the last orders row that
    // lists columns (the DELETE lists only its identity)
    def swapped[A](xs: Seq[(Long, A)], i: Int): Seq[(Long, A)] = {
      val v = xs.map(_._2).toIndexedSeq
      v.updated(i, v(i + 1)).updated(i + 1, v(i)).zipWithIndex.map { case (m, j) => (j.toLong, m) }
    }
    val inputs: Seq[(String, () => (DataFrame, WalFormat))] = Seq(
      "pgoutput" -> (() => (swapped(pgo, 6).toDF("seq", "m"), new PgOutput.Format("m", "seq"))),
      "wal2json" -> (() => (swapped(w2j, 4).toDF("seq", "m"), new Wal2Json.Format("m", "seq"))))
    for ((name, input) <- inputs) {
      val (b, fmt) = input()
      val (st, pk) = fmt.decode(b).tables(("public", "orders"))
      assert(st.fieldNames.toSeq == Seq("id", "amount", "note") && pk == Seq("id"), name)
      val want = differential(name, input, subs)
      assert(want.exists { case (s, fr) =>
        s == "sNote" && fr.contains(""""record":{"id":"1","note":"x"}""") },
        s"$name: note=eq.x matches")
    }
  }

  test("differential: an empty or irrelevant registry, and an empty batch, deliver nothing") {
    val elsewhere = Seq(Subscription("sOther", "public", "other", Nil),
      Subscription("sNull", "public", "orders", Nil, claimsRole = null))
    for ((name, input) <- formats(empty = false); registry <- Seq(Nil, elsewhere))
      assert(differential(name, input, registry).isEmpty, s"$name $registry")
    for ((name, input) <- formats(empty = true))
      assert(differential(name, input, subs).isEmpty, s"$name, empty batch")
  }

  test("WAL kernel memo: an unchanged relation registry deserializes no new kernel, " +
      "a changed Relation rebuilds it") {
    val format = new PgOutput.Format("m", "seq")
    // `tagged` filters on a column the first Relation lacks: it fails
    // closed until a Relation adds the column
    val registry = Seq(Subscription("all", "public", "orders", Nil),
      Subscription("tagged", "public", "orders", f("tag=eq.t1")))
    val bus = CdcStream.MemoryBus()
    var seq = 0L
    def batch(msgs: Array[Byte]*): DataFrame = {
      val rows = msgs.map { m => seq += 1; (seq, m) }
      rows.toDF("seq", "m").repartition(Router.taskSlots)
    }
    def inserts(n: Int): Seq[Array[Byte]] =
      (1 to n).map(i => PgOutput.encodeInsert(7, Seq(TText(i.toString), TText("1.0"), TText("n"))))
    /** The kernel the format's current relation registry routes with. */
    def kernel(): Router.Kernel = {
      val d = format.decode(Seq.empty[(Long, Array[Byte])].toDF("seq", "m"))
      Router.walKernel(spark, changesOf(d).schema, registry, d.tables)
    }
    def run(msgs: Seq[Array[Byte]]): CdcStream.BatchStats =
      CdcStream.processWalBatch(batch(msgs: _*), format, registry, bus)
    // tasks long enough to overlap, so a batch borrows a runner per slot
    val n = 4000
    assert(run(PgOutput.encodeRelation(orders) +: inserts(n)).nDeliveries == n)
    val k = kernel()
    var warm = 0
    while (Router.idleRunners(Some(k.id)) < Router.taskSlots && warm < 10) {
      run(inserts(n))
      warm += 1
    }
    assert(Router.idleRunners(Some(k.id)) == Router.taskSlots)
    val before = Router.kernelsDeserialized
    for (_ <- 1 to 3) assert(run(inserts(n)).nDeliveries == n)
    assert(Router.kernelsDeserialized == before, "unchanged registry: no kernel shipped anew")
    assert(kernel() eq k)
    // a Relation that adds a column changes the registry: a new kernel
    val widened = orders.copy(columns = orders.columns :+ RelColumn("tag", "text", isKey = false))
    assert(run(Seq(PgOutput.encodeRelation(widened))).nDeliveries == 0)
    val n0 = bus.deliveries.size
    assert(run(Seq(PgOutput.encodeInsert(7,
      Seq(TText("99"), TText("2.0"), TText("n"), TText("t1"))))).nDeliveries == 2)
    assert(bus.deliveries.drop(n0).map(_.subscriptionId).sorted == Seq("all", "tagged"))
    assert(bus.deliveries.drop(n0).forall(_.frame.contains(""""tag":"t1"""")))
    val k2 = kernel()
    assert(!(k2 eq k), "a changed Relation rebuilds the kernel")
    assert(Router.kernelsDeserialized > before)
    assert(kernel() eq k2)
  }
}
