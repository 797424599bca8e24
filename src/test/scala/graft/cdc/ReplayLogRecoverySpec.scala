package graft.cdc

import graft.SparkSpec
import graft.model.Subscription
import graft.sources.{ReplayLog, ReplayLogOffset}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryException
import java.nio.file.Files
import java.nio.charset.StandardCharsets.UTF_8

/** The external-source arm of the checkpoint/recovery story: the same
  * three contracts `CdcRecoverySpec` pins on the file source, re-proven
  * over the Kafka-shaped [[ReplayLog]] adapter (offset-tracked,
  * replayable, admission-controlled) — the transport a real deployment
  * puts between the slot and this engine:
  *  - clean restart: committed epochs are NOT re-read (the checkpointed
  *    offset map advances), none lost;
  *  - post-delivery crash: the uncommitted epoch REPLAYS from its start
  *    offset (at-least-once) — the broker retains the log, commit() does
  *    not truncate;
  *  - consumer-side dedup on (subscription_id, change identity) restores
  *    exactly-once.
  * Plus the adapter-specific planning contracts: `maxOffsetsPerTrigger`
  * splits the backlog across micro-batches without loss or reorder, and
  * a multi-partition topic plans one task per partition with
  * per-partition offset order preserved end to end.
  */
class ReplayLogRecoverySpec extends SparkSpec {
  import CdcRecoverySpec.crashOnce

  /** id from a delivered frame — the wal2json/pgoutput paths render
    * record values as strings (`"id":"3"`), unlike the typed-batch path
    * CdcRecoverySpec.idOf parses. */
  private def frameId(frame: String): Long =
    "\"id\":\"?(\\d+)".r.findFirstMatchIn(frame).get.group(1).toLong

  private val subs = Seq(Subscription("sB", "public", "t", Nil))

  private def tmp(prefix: String): String =
    Files.createTempDirectory(prefix).toFile.getAbsolutePath

  private def w2j(id: Int, v: Double): String =
    s"""{"action":"I","schema":"public","table":"t",""" +
      s""""columns":[{"name":"id","type":"bigint","value":$id},""" +
      s"""{"name":"value","type":"double precision","value":$v}],""" +
      s""""pk":[{"name":"id","type":"bigint"}],""" +
      s""""timestamp":"2024-01-01 00:00:01.000000+00"}"""

  private def appendRows(topic: String, ids: Range, partition: Int = 0): Unit =
    ids.foreach(i => ReplayLog.append(topic, partition, i.toString,
      w2j(i, i * 10.0).getBytes(UTF_8)))

  /** The adapter stream in the shape `Wal2Json.Format` consumes: the
    * per-partition offset is the order column, the record value the
    * wal2json row. */
  private def stream(topic: String): DataFrame =
    spark.readStream.format("graft-replaylog").option("topic", topic).load()
      .select(col("offset").as("seq"), col("value").cast("string").as("wal_json"))

  private def frameIds(bus: CdcStream.MemoryBus): Seq[Long] =
    bus.deliveries.filter(_.subscriptionId == "sB").map(d => frameId(d.frame))

  test("clean restart over the adapter: committed offsets are not " +
      "re-read, new records picked up, none lost") {
    val topic = "rl-clean-" + System.nanoTime(); val ckpt = tmp("rl-ckpt")
    val bus = CdcStream.MemoryBus()
    appendRows(topic, 1 to 3)
    def attach() = CdcStream.startWal(stream(topic),
      new Wal2Json.Format("wal_json", "seq"), subs, bus, triggerMs = 10L,
      checkpointLocation = Some(ckpt))
    val q1 = attach()
    try { q1.processAllAvailable() } finally q1.stop()
    assert(frameIds(bus).sorted == Seq(1L, 2L, 3L))
    // second life: the checkpointed offset map must skip offsets 0-2
    appendRows(topic, 4 to 6)
    val q2 = attach()
    try { q2.processAllAvailable() } finally q2.stop()
    assert(frameIds(bus).sorted == (1L to 6L),
      s"exactly once per record: ${frameIds(bus)}")
    ReplayLog.delete(topic)
  }

  test("post-delivery crash: uncommitted epoch replays from its start " +
      "offset (at-least-once); dedup restores exactly-once") {
    val topic = "rl-crash-" + System.nanoTime(); val ckpt = tmp("rl-ckpt")
    val bus = CdcStream.MemoryBus()
    val runId = "rl-crash-" + System.nanoTime()
    def attach() = {
      val format = new Wal2Json.Format("wal_json", "seq")
      stream(topic).writeStream.outputMode("append")
        .option("checkpointLocation", ckpt)
        .foreachBatch { (batch: DataFrame, id: Long) =>
          val s = CdcStream.processWalBatch(batch, format, subs, bus, id)
          // die AFTER delivery, BEFORE the epoch commits — the replay
          // window the broker's retained log exists to cover
          if (s.nDeliveries > 0 && crashOnce.putIfAbsent(runId, true) == null)
            throw new RuntimeException("injected post-delivery crash")
          ()
        }.start()
    }
    appendRows(topic, 1 to 4)
    val q1 = attach()
    val died =
      try intercept[StreamingQueryException] {
        q1.processAllAvailable(); q1.awaitTermination(60000L); ()
      } finally q1.stop()
    assert(died.getMessage.contains("injected") ||
      Option(died.getCause).exists(_.getMessage.contains("injected")))
    assert(frameIds(bus).sorted == Seq(1L, 2L, 3L, 4L),
      "the crashed epoch had already delivered")
    val q2 = attach() // same checkpoint; crash latch is spent
    try { q2.processAllAvailable() } finally q2.stop()
    val ids = frameIds(bus)
    assert(ids.sorted == Seq(1L, 1L, 2L, 2L, 3L, 3L, 4L, 4L),
      s"replay must duplicate, not lose: $ids")
    // consumer-side dedup key (subscription_id, change id) → exactly-once
    assert(bus.deliveries.map(d => (d.subscriptionId, frameId(d.frame)))
      .distinct.size == 4)
    ReplayLog.delete(topic)
  }

  test("maxOffsetsPerTrigger splits the backlog into capped epochs; " +
      "order and completeness survive") {
    val topic = "rl-admit-" + System.nanoTime(); val ckpt = tmp("rl-ckpt")
    val bus = CdcStream.MemoryBus()
    appendRows(topic, 1 to 7)
    val capped = spark.readStream.format("graft-replaylog")
      .option("topic", topic).option("maxOffsetsPerTrigger", "2").load()
      .select(col("offset").as("seq"), col("value").cast("string").as("wal_json"))
    val q = CdcStream.startWal(capped, new Wal2Json.Format("wal_json", "seq"),
      subs, bus, triggerMs = 10L, checkpointLocation = Some(ckpt))
    try { q.processAllAvailable() } finally q.stop()
    // every record delivered once, in offset order within the partition
    val ids = frameIds(bus)
    assert(ids == (1L to 7L), s"order within partition must hold: $ids")
    // admission control actually split the work: no batch carried more
    // than the cap
    val sizes = bus.batches.map(_.nChanges).filter(_ > 0)
    assert(sizes.size >= 4 && sizes.forall(_ <= 2),
      s"2-record cap over 7 records needs >=4 epochs: $sizes")
    ReplayLog.delete(topic)
  }

  test("multi-partition topic: one input partition per log partition, " +
      "per-partition offset order preserved") {
    val topic = "rl-parts-" + System.nanoTime()
    // interleave appends across 3 partitions keyed by id % 3
    (1 to 12).foreach { i =>
      ReplayLog.append(topic, i % 3, i.toString, w2j(i, i).getBytes(UTF_8))
    }
    val df = spark.read.format("graft-replaylog").option("topic", topic).load()
    assert(df.rdd.getNumPartitions == 3, "one task per log partition")
    // raw wal2json values (not delivered frames): id rides in the first
    // column's "value": field
    def rawId(s: String): Long =
      "\"value\":(\\d+)".r.findFirstMatchIn(s).get.group(1).toLong
    val rows = df.select(col("partition"), col("offset"),
        col("value").cast("string")).collect()
      .map(r => (r.getInt(0), r.getLong(1), rawId(r.getString(2))))
    assert(rows.length == 12)
    // offsets dense per partition, and offset order == append order
    (0 until 3).foreach { p =>
      val inPart = rows.filter(_._1 == p).sortBy(_._2)
      assert(inPart.map(_._2).toSeq == inPart.indices.map(_.toLong),
        s"dense offsets in partition $p")
      val appended = (1 to 12).filter(_ % 3 == p).map(_.toLong)
      assert(inPart.map(_._3).toSeq == appended,
        s"append order preserved in partition $p")
    }
    ReplayLog.delete(topic)
  }

  test("binary pgoutput frames ride the same adapter: startWal clean " +
      "restart, relation registry carried in-stream") {
    import PgOutput.{RelColumn, RelationMeta, TText}
    val topic = "rl-pgo-" + System.nanoTime(); val ckpt = tmp("rl-ckpt")
    val bus = CdcStream.MemoryBus()
    val meta = RelationMeta(7, "public", "t", "d", Seq(
      RelColumn("id", "int8", isKey = true),
      RelColumn("value", "float8", isKey = false)))
    def appendInserts(ids: Range, withRelation: Boolean): Unit = {
      if (withRelation)
        ReplayLog.append(topic, 0, "R", PgOutput.encodeRelation(meta))
      ids.foreach { i =>
        ReplayLog.append(topic, 0, "B", PgOutput.encodeBegin(i, i * 1000L, i))
        ReplayLog.append(topic, 0, "I", PgOutput.encodeInsert(7,
          Seq(TText(i.toString), TText((i * 10.0).toString))))
      }
    }
    def attach() = CdcStream.startWal(
      spark.readStream.format("graft-replaylog").option("topic", topic).load()
        .select(col("offset").as("seq"), col("value").as("msg")),
      new PgOutput.Format("msg", "seq"), subs, bus, triggerMs = 10L,
      checkpointLocation = Some(ckpt))
    appendInserts(1 to 2, withRelation = true)
    val q1 = attach()
    try { q1.processAllAvailable() } finally q1.stop()
    assert(frameIds(bus).sorted == Seq(1L, 2L))
    // restart: a real slot re-sends Relation per chunk — so does the
    // producer here; the fresh registry re-learns the schema in-stream
    appendInserts(3 to 4, withRelation = true)
    val q2 = attach()
    try { q2.processAllAvailable() } finally q2.stop()
    assert(frameIds(bus).sorted == (1L to 4L),
      s"no loss, no committed-epoch replay: ${frameIds(bus)}")
    ReplayLog.delete(topic)
  }

  test("offset JSON round-trips; proportional admission floors at one " +
      "record per backlogged partition") {
    val o = ReplayLogOffset(Map(0 -> 5L, 2 -> 17L, 1 -> 0L))
    assert(o.json() == """{"0":5,"1":0,"2":17}""")
    assert(ReplayLogOffset.parse(o.json()) == o)
    assert(ReplayLogOffset.parse("{}") == ReplayLogOffset(Map.empty))
  }
}
