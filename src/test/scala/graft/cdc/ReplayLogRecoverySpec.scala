package graft.cdc

import graft.{Bench, SparkSpec}
import graft.model.Subscription
import graft.sources.{FileReplayLog, FileReplayLogSink, ReplayLog, ReplayLogOffset}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQueryException, Trigger}
import org.scalatest.concurrent.{Signaler, ThreadSignaler, TimeLimits}
import org.scalatest.time.{Seconds, Span}
import java.nio.file.{Files, Path, Paths, StandardOpenOption}
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
  * per-partition offset order preserved end to end. One case crosses a
  * real process boundary: a consumer JVM killed with SIGKILL restarts
  * from its checkpoint and loses nothing.
  */
class ReplayLogRecoverySpec extends SparkSpec {
  import CdcRecoverySpec.crashOnce
  import ReplayLogRecoverySpec.ledgerLines

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

  test("a consumer JVM killed with SIGKILL mid-stream restarts from its " +
      "checkpoint and loses nothing") {
    import spark.implicits._
    // the slot-reconnect contract across a real process death
    // (wal_bloat_test.exs:78-160): this JVM produces through
    // CdcStream.start into the file log, a consumer JVM tails it
    // (ReplayLogConsumer); life 1 is killed mid-stream, life 2 restarts
    // on the same checkpoint and drains the log
    implicit val signaler: Signaler = ThreadSignaler
    val t0 = System.nanoTime()
    val root = tmp("rl-fork"); val topic = "fork"; val nSubs = 4
    def ledger(life: Int): Path = Paths.get(root, s"ledger.$life")
    val children = scala.collection.mutable.ArrayBuffer.empty[Bench.Child]
    def fork(life: Int): Bench.Child = {
      val c = new Bench.Child("graft.cdc.ReplayLogConsumer",
        Seq(root, topic, s"$root/ckpt", ledger(life).toString, "2000"),
        heap = Some("1g"), pipeStdout = false)
      children += c
      c
    }
    // one subscriber per log partition (the sink keys frames by
    // subscriber); each change fans out to every subscriber
    val subs = (0 until nSubs).map(i => Subscription(s"fork-$i", "public", "t", Nil))
    val dataSchema = Seq.empty[StreamLatency.Change].toDS().toDF()
      .drop("change_type", "commit_timestamp").schema
    val input = MemoryStream[StreamLatency.Change](spark)
    val producer = CdcStream.start(input.toDF(), subs, dataSchema, "t",
      pk = Seq("id"), bus = CdcStream.MemoryBus(), triggerMs = 100L,
      deliverTo = Some(new FileReplayLogSink(root, topic, nSubs)))
    var nChanges = 0L
    // 50 changes (200 frames) per 100 ms step
    def feedStep(): Unit = {
      input.addData((nChanges until nChanges + 50).map(i =>
        StreamLatency.Change(i, "INSERT", i.toDouble, "2024-01-01T00:00:00.000Z")))
      nChanges += 50
      Thread.sleep(100L)
    }
    try TimeLimits.failAfter(Span(240, Seconds)) {
      val life1 = fork(1)
      while (ledgerLines(ledger(1)).map(_(0)).distinct.size < 2) {
        assert(life1.proc.isAlive, life1.describe("exited before consuming"))
        feedStep()
      }
      life1.kill()
      producer.processAllAvailable()
      val consumed1 = ledgerLines(ledger(1)).map(l => l(3) - l(2)).sum
      val published = FileReplayLog.endOffsets(root, topic).values.sum
      assert(consumed1 < published,
        s"life 1 was killed with nothing unconsumed ($consumed1 of $published)")
      // a kill during an append leaves a last line without its newline;
      // the kill seldom lands there, so the case appends one: the last
      // line less its final digit, which, if read as a line, would break
      // the dense-range check. Its batch never committed.
      val log1 = Files.readString(ledger(1))
      if (log1.endsWith("\n")) {
        val last = log1.split("\n").last
        Files.writeString(ledger(1), last.dropRight(1), StandardOpenOption.APPEND)
      }
      // life 2 starts while the producer still feeds, and must take over
      // exactly where life 1's checkpoint left off
      val life2 = fork(2)
      while (ledgerLines(ledger(2)).isEmpty) {
        assert(life2.proc.isAlive, life2.describe("exited before consuming"))
        feedStep()
      }
      (1 to 10).foreach(_ => feedStep())
      producer.processAllAvailable()
      Files.createFile(Paths.get(root, s"$topic.done"))
      val exit = life2.await(150000L)
      assert(exit.contains(0), life2.describe(s"ended with $exit"))

      val lines = ledgerLines(ledger(1)) ++ ledgerLines(ledger(2))
      lines.foreach(l => assert(l(4) == l(3) - l(2),
        s"non-dense batch range: ${l.mkString(" ")}"))
      val ends = FileReplayLog.endOffsets(root, topic)
      assert(ends.values.sum == nChanges * nSubs,
        s"log end offsets ${ends.values.sum} != produced ${nChanges * nSubs}")
      ends.foreach { case (p, end) =>
        val covered = lines.filter(_(1) == p).map(l => (l(2), l(3))).sortBy(_._1)
          .foldLeft(0L) { case (c, (from, until)) =>
            assert(from <= c, s"gap in partition $p: [$c, $from)")
            math.max(c, until)
          }
        assert(covered == end, s"partition $p: consumed [0, $covered) of [0, $end)")
      }
      val redelivered = lines.map(l => l(3) - l(2)).sum - nChanges * nSubs
      info(s"produced ${nChanges * nSubs} frames over ${ends.size} partitions; " +
        s"life 1 consumed $consumed1 before the kill; $redelivered re-delivered; " +
        s"wall ${(System.nanoTime() - t0) / 1000000L} ms")
    } finally {
      producer.stop()
      children.foreach(_.kill())
    }
    assert(children.size == 2 && children.forall(!_.proc.isAlive))
    children.foreach { c =>
      assert(c.command.filter(_.startsWith("-Xm")) == Seq("-Xmx1g"), c.command)
      c.discardStderr()
    }
    FileReplayLog.delete(root, topic)
  }
}

object ReplayLogRecoverySpec {

  /** The complete lines of a consumer ledger, as
    * `batchId partition from untilExclusive count`. A last line without
    * its newline is what a kill mid-append leaves, and is dropped. */
  def ledgerLines(path: Path): Seq[Array[Long]] =
    if (!Files.exists(path)) Nil
    else Files.readString(path).split("\n", -1).toSeq.dropRight(1)
      .map(_.split(" ").map(_.toLong))
}

/** The consumer JVM of [[ReplayLogRecoverySpec]]'s forked case:
  * `ReplayLogConsumer <root> <topic> <checkpoint> <ledger> <maxOffsetsPerTrigger>`
  * tails the file log through the `graft-replaylog` source, its
  * checkpoint written by [[LocalCheckpointFiles]], and appends one
  * ledger line per (micro-batch, partition) read before the batch
  * commits. Exits 0 once `<root>/<topic>.done` exists and the query has
  * read to the log's end offsets; exits 1 on any error. */
object ReplayLogConsumer {
  def main(args: Array[String]): Unit =
    sys.exit(try { run(args); 0 } catch { case e: Throwable => e.printStackTrace(); 1 })

  private def run(args: Array[String]): Unit = {
    val Array(root, topic, ckpt, ledger, maxPerTrigger) = args
    val spark = SparkSession.builder().master("local[2]")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    LocalCheckpointFiles.install(spark)
    val q = spark.readStream.format("graft-replaylog")
      .option("topic", topic).option("root", root)
      .option("maxOffsetsPerTrigger", maxPerTrigger).load()
      .writeStream.option("checkpointLocation", ckpt)
      .trigger(Trigger.ProcessingTime(100L))
      .foreachBatch { (b: DataFrame, batchId: Long) =>
        val lines = b.groupBy("partition")
          .agg(min("offset"), max("offset"), count(lit(1))).collect()
          .map(r => s"$batchId ${r.getInt(0)} ${r.getLong(1)} ${r.getLong(2) + 1} " +
            s"${r.getLong(3)}\n")
        Files.write(Paths.get(ledger), lines.mkString.getBytes(UTF_8),
          StandardOpenOption.CREATE, StandardOpenOption.APPEND)
        ()
      }.start()
    val done = Paths.get(root, s"$topic.done")
    // empty micro-batches run no foreachBatch, so the drain test compares
    // the last batch's end offsets with the log's
    def drained: Boolean = Option(q.lastProgress).flatMap(_.sources.headOption)
      .flatMap(s => Option(s.endOffset))
      .exists(e => ReplayLogOffset.parse(e).parts == FileReplayLog.endOffsets(root, topic))
    while (!(Files.exists(done) && drained)) {
      if (!q.isActive)
        throw q.exception.getOrElse(new IllegalStateException("consumer query stopped"))
      Thread.sleep(100L)
    }
    q.stop()
    spark.stop()
  }
}
