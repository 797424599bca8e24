package graft.cdc

import graft.SparkSpec
import graft.model.Subscription
import graft.sources.ReplayLog
import org.apache.spark.sql.functions._
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

/** Debezium envelope decode (the Kafka-externalized S1 dialect) and its
  * end-to-end composition over the [[ReplayLog]] transport: envelopes in,
  * per-subscriber frames out, with the unavailable-TOAST placeholder
  * feeding the same key-absence merge (P8) as the slot dialects. */
class DebeziumSpec extends SparkSpec {
  import spark.implicits._

  private def env(op: String, after: String, before: String,
      ts: Long = 1704067200123L, lsn: Long = 7L): String =
    s"""{"before":$before,"after":$after,""" +
      s""""source":{"schema":"public","table":"t","ts_ms":$ts,"lsn":$lsn,"txId":42},""" +
      s""""op":"$op","ts_ms":${ts + 1}}"""

  test("decode: op mapping, toast placeholder drop, delete before-image") {
    val rows = Seq(
      (1L, env("c", """{"id":1,"v":"a"}""", "null")),
      (2L, env("r", """{"id":2,"v":"b"}""", "null")), // snapshot read
      (3L, env("u", """{"id":1,"v":"a2","blob":"__debezium_unavailable_value"}""",
        """{"id":1,"v":"a","blob":"B"}""")),
      (4L, env("d", "null", """{"id":2,"v":"b"}""")),
      (5L, """{"op":"m","message":{"prefix":"px","content":"Y2M="},""" +
        """"source":{"schema":"public","table":"t","ts_ms":1,"lsn":9,"txId":1},"ts_ms":1}""")
    ).toDF("seq", "dbz")
    val got = Debezium.decodeChanges(rows, "dbz", "seq").collect()
      .map(c => c.seq -> c).toMap
    assert(got(1L).message == "INSERT" && got(1L).record("v") == "a" &&
      got(1L).old_record == null)
    assert(got(2L).message == "INSERT", "snapshot reads materialize as inserts")
    assert(got(3L).message == "UPDATE")
    assert(!got(3L).record.contains("blob"),
      "placeholder column must be ABSENT from record (key-absence contract)")
    assert(got(3L).unchanged_toast == Seq("blob"))
    assert(got(3L).old_record("blob") == "B")
    assert(got(4L).message == "DELETE" && got(4L).record == null &&
      got(4L).old_record("id") == "2")
    assert(got(1L).commit_timestamp == "2024-01-01T00:00:00.123000Z")
    assert(got(1L).lsn == 7L && got(1L).xid == 42L)
    assert(got(5L).message == "MESSAGE" && got(5L).record("prefix") == "px")
  }

  test("envelopes over the replay log: frames delivered, toast column " +
      "restored from the before image by the shared merge") {
    val topic = "dbz-" + System.nanoTime(); val ckpt =
      Files.createTempDirectory("dbz-ckpt").toFile.getAbsolutePath
    val bus = CdcStream.MemoryBus()
    Seq(
      env("c", """{"id":1,"v":"a","blob":"B0"}""", "null"),
      env("u", """{"id":1,"v":"a2","blob":"__debezium_unavailable_value"}""",
        """{"id":1,"v":"a","blob":"B0"}"""),
      env("d", "null", """{"id":1,"v":"a2"}""")
    ).foreach(j => ReplayLog.append(topic, 0, "k", j.getBytes(UTF_8)))
    val q = CdcStream.startWal(
      spark.readStream.format("graft-replaylog").option("topic", topic).load()
        .select(col("offset").as("seq"), col("value").cast("string").as("dbz")),
      new Debezium.Format("dbz", "seq", pkByTable = Map(("public", "t") -> Seq("id"))),
      Seq(Subscription("sD", "public", "t", Nil)), bus,
      triggerMs = 10L, checkpointLocation = Some(ckpt))
    try { q.processAllAvailable() } finally q.stop()
    val frames = bus.deliveries.filter(_.subscriptionId == "sD").map(_.frame)
    assert(frames.size == 3, s"one frame per change: $frames")
    val update = frames.find(_.contains("\"type\":\"UPDATE\"")).get
    // the unavailable blob was absent from the new image — the shared
    // TOAST merge restored it from the before image
    assert(update.contains("\"blob\":\"B0\""), update)
    assert(update.contains("\"v\":\"a2\""), update)
    val delete = frames.find(_.contains("\"type\":\"DELETE\"")).get
    assert(delete.contains("\"record\":null"), delete)
    ReplayLog.delete(topic)
  }
}
