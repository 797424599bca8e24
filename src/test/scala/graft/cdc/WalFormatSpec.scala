package graft.cdc

import graft.SparkSpec
import graft.filters.FilterParser
import graft.model.Subscription
import org.apache.spark.sql.types._

/** The one WAL pipeline over its three formats: the same logical changes
  * encoded as binary pgoutput, wal2json v2 rows and Debezium envelopes
  * reach the same subscribers. */
class WalFormatSpec extends SparkSpec {
  import spark.implicits._
  import PgOutput.{RelColumn, RelationMeta, TText}

  private def f(dsl: String) = FilterParser.parse(dsl).toOption.get

  private val rel = RelationMeta(7, "public", "orders", "f", Seq(
    RelColumn("id", "int8", isKey = true),
    RelColumn("amount", "float8", isKey = false),
    RelColumn("note", "text", isKey = false)))

  /** (id, amount, note) images of INSERT 1, INSERT 2, UPDATE 1, DELETE 2. */
  private val ins1 = (1, 250.0, "x")
  private val ins2 = (2, 50.0, "y")
  private val upd1 = (1, 75.0, "x")

  private def pgo: Seq[(Long, Array[Byte])] = {
    def t(r: (Int, Double, String)) =
      Seq(TText(r._1.toString), TText(r._2.toString), TText(r._3))
    val ts = 1704067200000000L
    Seq(
      PgOutput.encodeRelation(rel),
      PgOutput.encodeBegin(1L, ts, 1),
      PgOutput.encodeInsert(7, t(ins1)),
      PgOutput.encodeInsert(7, t(ins2)),
      PgOutput.encodeUpdate(7, Some(t(ins1)), t(upd1)),
      PgOutput.encodeDelete(7, t(ins2), keyKind = 'O'),
      PgOutput.encodeCommit(1L, 2L, ts)).zipWithIndex.map { case (m, i) => (i.toLong, m) }
  }

  private def w2j: Seq[(Long, String)] = {
    def cols(r: (Int, Double, String)) =
      s"""[{"name":"id","type":"bigint","value":${r._1}},""" +
        s"""{"name":"amount","type":"double precision","value":${r._2}},""" +
        s"""{"name":"note","type":"text","value":"${r._3}"}]"""
    def row(action: String, fields: String) =
      s"""{"action":"$action","schema":"public","table":"orders",""" +
        s""""timestamp":"2024-01-01 00:00:00+00",$fields""" +
        s""""pk":[{"name":"id","type":"bigint"}]}"""
    Seq(
      row("I", s""""columns":${cols(ins1)},"""),
      row("I", s""""columns":${cols(ins2)},"""),
      row("U", s""""columns":${cols(upd1)},"identity":${cols(ins1)},"""),
      row("D", s""""identity":${cols(ins2)},""")).zipWithIndex
      .map { case (j, i) => (i.toLong, j) }
  }

  private def dbz: Seq[(Long, String)] = {
    def img(r: (Int, Double, String)) =
      s"""{"id":${r._1},"amount":${r._2},"note":"${r._3}"}"""
    def env(op: String, before: String, after: String) =
      s"""{"before":$before,"after":$after,""" +
        """"source":{"schema":"public","table":"orders","ts_ms":1704067200000,""" +
        s""""lsn":1,"txId":1},"op":"$op","ts_ms":0}"""
    Seq(
      env("c", "null", img(ins1)),
      env("c", "null", img(ins2)),
      env("u", img(ins1), img(upd1)),
      env("d", img(ins2), "null")).zipWithIndex.map { case (j, i) => (i.toLong, j) }
  }

  private val Head = "\"type\":\"([A-Z]+)\",\"schema\":\"([^\"]*)\",\"table\":\"([^\"]*)\"".r

  /** (subscription_id, change_type, schema, table) of every delivery. */
  private def delivered(bus: CdcStream.MemoryBus): Seq[(String, String, String, String)] =
    bus.deliveries.map { d =>
      val m = Head.findFirstMatchIn(d.frame).get
      (d.subscriptionId, m.group(1), m.group(2), m.group(3))
    }.sorted

  test("pgoutput, wal2json and Debezium deliver the same changes to the " +
      "same subscriptions") {
    val subs = Seq(
      Subscription("sAll", "public", "orders", Nil),
      Subscription("sBig", "public", "orders", f("amount=gt.100")),
      Subscription("sNoteX", "public", "orders", f("note=eq.x")),
      Subscription("sIns", "public", "orders", Nil, actionFilter = "INSERT"),
      Subscription("sDel", "public", "orders", Nil, actionFilter = "DELETE"),
      Subscription("sOther", "public", "other", Nil))
    val typed = StructType(Seq(StructField("id", LongType),
      StructField("amount", DoubleType), StructField("note", StringType)))
    val inputs = Seq(
      "pgoutput" -> (pgo.toDF("seq", "m"), new PgOutput.Format("m", "seq")),
      "wal2json" -> (w2j.toDF("seq", "m"), new Wal2Json.Format("m", "seq")),
      "debezium" -> (dbz.toDF("seq", "m"), new Debezium.Format("m", "seq",
        pkByTable = Map(("public", "orders") -> Seq("id")),
        schemaOverrides = Map(("public", "orders") -> typed))))
    val got = inputs.map { case (name, (batch, format)) =>
      val bus = CdcStream.MemoryBus()
      CdcStream.processWalBatch(batch, format, subs, bus)
      name -> delivered(bus)
    }.toMap
    // the typed filters and action filters actually split the changes
    val pg = got("pgoutput")
    val expected = Seq(
      "sAll" -> "INSERT", "sAll" -> "INSERT", "sAll" -> "UPDATE", "sAll" -> "DELETE",
      "sBig" -> "INSERT", // 250 > 100; the update's new image is 75
      "sNoteX" -> "INSERT", "sNoteX" -> "UPDATE",
      "sIns" -> "INSERT", "sIns" -> "INSERT",
      "sDel" -> "DELETE")
      .map { case (s, t) => (s, t, "public", "orders") }.sorted
    assert(pg == expected, pg)
    assert(got("wal2json") == pg, s"wal2json ${got("wal2json")} vs pgoutput $pg")
    assert(got("debezium") == pg, s"debezium ${got("debezium")} vs pgoutput $pg")
  }

  test("a null-role subscription delivers nothing and does not stop the " +
      "others") {
    val subs = Seq(
      Subscription("sNull", "public", "orders", Nil, claimsRole = null),
      Subscription("sOk", "public", "orders", Nil))
    val bus = CdcStream.MemoryBus()
    CdcStream.processWalBatch(w2j.toDF("seq", "m"), new Wal2Json.Format("m", "seq"),
      subs, bus)
    assert(bus.deliveries.map(_.subscriptionId) == Seq.fill(4)("sOk"),
      bus.deliveries)
  }
}
