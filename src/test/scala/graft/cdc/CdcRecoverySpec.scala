package graft.cdc

import graft.SparkSpec
import graft.model.Subscription
import org.apache.spark.sql.streaming.StreamingQueryException
import java.nio.file.Files
import java.util.concurrent.ConcurrentHashMap
import scala.jdk.CollectionConverters._

/** Checkpoint/recovery story (SURVEY §7.4 hard-part 5): kill and restart
  * streaming queries against a replayable (file) source with a
  * `checkpointLocation`, and pin the delivery contract the reference's
  * slot gives its poller — re-delivery until the consumer advances
  * (replication_poller.ex:149-232):
  *  - committed epochs are NOT re-processed after a clean restart
  *    (no duplicate frames, no lost frames);
  *  - an epoch that delivered but CRASHED before committing is re-run on
  *    restart → its frames reach the bus twice (at-least-once);
  *  - the applied-seq guard ([[Mirror.streamUpserts]] consumer contract)
  *    turns that at-least-once feed into exactly-once mirror state.
  */
class CdcRecoverySpec extends SparkSpec {
  import spark.implicits._
  import CdcRecoverySpec._

  private lazy val subs = Seq(Subscription("sB", "public", "t", Nil))
  private lazy val dataSchema = Seq.empty[Change].toDS().toDF()
    .drop("change_type", "commit_timestamp").schema

  private def tmp(prefix: String): String =
    Files.createTempDirectory(prefix).toFile.getAbsolutePath

  // append into the TOP-level dir: the file stream source does not
  // descend into non-partition subdirectories, so each phase lands as
  // new part files beside the old ones
  private def writeChanges(dir: String, ids: Range): Unit =
    ids.map(i => Change(i.toLong, "INSERT", i * 10.0,
        f"2024-01-01T00:00:$i%02d.000Z")).toDS()
      .coalesce(1).write.mode("append").parquet(dir)

  test("clean restart: committed epochs are not re-processed, none lost") {
    val src = tmp("cdc-src"); val ckpt = tmp("cdc-ckpt")
    val bus = CdcStream.MemoryBus()
    def stream = spark.readStream.schema(Seq.empty[Change].toDS().schema)
      .option("maxFilesPerTrigger", 1).parquet(src)
    writeChanges(src, 1 to 3)
    val q1 = CdcStream.start(stream, subs, dataSchema, "t", pk = Seq("id"),
      bus = bus, triggerMs = 10L, checkpointLocation = Some(ckpt))
    try { q1.processAllAvailable() } finally q1.stop()
    assert(idsOf(bus).sorted == Seq(1L, 2L, 3L))
    // second life: new files only — the committed epoch must not replay
    writeChanges(src, 4 to 6)
    val q2 = CdcStream.start(stream, subs, dataSchema, "t", pk = Seq("id"),
      bus = bus, triggerMs = 10L, checkpointLocation = Some(ckpt))
    try { q2.processAllAvailable() } finally q2.stop()
    val ids = idsOf(bus)
    assert(ids.sorted == (1L to 6L), s"exactly once per change: $ids")
  }

  test("crash after delivery: epoch replays (at-least-once), dedup " +
      "restores exactly-once") {
    val src = tmp("cdc-src"); val ckpt = tmp("cdc-ckpt")
    val bus = CdcStream.MemoryBus()
    val runId = "crash-" + System.nanoTime()
    def stream = spark.readStream.schema(Seq.empty[Change].toDS().schema)
      .parquet(src)
    def attach() = {
      val w = stream.writeStream.outputMode("append")
        .option("checkpointLocation", ckpt)
      w.foreachBatch { (batch: org.apache.spark.sql.DataFrame, id: Long) =>
        val s = CdcStream.processBatch(batch, subs, dataSchema, "t",
          pk = Seq("id"), bus = bus, batchId = id)
        // crash AFTER the batch fully delivered, BEFORE its epoch commits
        // — the window where the reference's poller dies without
        // advancing the slot and gets everything again
        if (s.nDeliveries > 0 && crashOnce.putIfAbsent(runId, true) == null)
          throw new RuntimeException("injected post-delivery crash")
        ()
      }.start()
    }
    writeChanges(src, 1 to 4)
    val q1 = attach()
    val died =
      try intercept[StreamingQueryException] {
        q1.processAllAvailable(); q1.awaitTermination(60000L); ()
      } finally q1.stop() // no-op when already dead; bounds a missed crash
    assert(died.getMessage.contains("injected") ||
      Option(died.getCause).exists(_.getMessage.contains("injected")))
    assert(idsOf(bus).sorted == Seq(1L, 2L, 3L, 4L),
      "the crashed epoch had already delivered")
    val q2 = attach() // same checkpoint; crash is spent
    try { q2.processAllAvailable() } finally q2.stop()
    val ids = idsOf(bus)
    // at-least-once: the uncommitted epoch replayed in full
    assert(ids.sorted == Seq(1L, 1L, 2L, 2L, 3L, 3L, 4L, 4L),
      s"replay must duplicate, not lose: $ids")
    // the documented consumer-side dedup key restores exactly-once
    assert(bus.deliveries.map(d => (d.subscriptionId, idOf(d.frame)))
      .distinct.size == 4)
  }

  test("restart across checkpoint file managers, both directions: none " +
      "lost, only the crashed epoch replayed") {
    val sparks = classOf[org.apache.spark.sql.execution.streaming.checkpointing
      .FileContextBasedCheckpointFileManager].getName
    val ours = classOf[LocalCheckpointFiles].getName
    val installed = spark.conf.get(LocalCheckpointFiles.ConfKey)
    Seq(sparks -> ours, ours -> sparks).foreach { case (first, second) =>
      val src = tmp("mgr-src"); val ckpt = tmp("mgr-ckpt")
      val bus = CdcStream.MemoryBus()
      val runId = "mgr-" + System.nanoTime()
      def life(manager: String) = {
        spark.conf.set(LocalCheckpointFiles.ConfKey, manager)
        try CdcStream.start(
          spark.readStream.schema(Seq.empty[Change].toDS().schema)
            .option("maxFilesPerTrigger", 1).parquet(src),
          subs, dataSchema, "t", pk = Seq("id"), bus = bus, triggerMs = 10L,
          deliverTo = Some(new CrashingSink(bus, runId)), checkpointLocation = Some(ckpt))
        finally spark.conf.set(LocalCheckpointFiles.ConfKey, installed)
      }
      // which manager wrote a batch file: Spark's leaves a .crc beside it
      def byspark(log: String, batch: Int) =
        new java.io.File(ckpt, s"$log/.$batch.crc").exists()
      writeChanges(src, 1 to 3)
      val q1 = life(first)
      try q1.processAllAvailable() finally q1.stop()
      assert(idsOf(bus).sorted == Seq(1L, 2L, 3L))
      assert(byspark("offsets", 0) == (first == sparks) &&
        byspark("commits", 0) == (first == sparks))
      // second life under the other manager: only the new file; its epoch
      // delivers, then crashes before it commits
      writeChanges(src, 4 to 6)
      crashOnce.put(runId, true)
      val q2 = life(second)
      try intercept[StreamingQueryException] {
        q2.processAllAvailable(); q2.awaitTermination(60000L); ()
      } finally q2.stop()
      assert(idsOf(bus).sorted == (1L to 6L), s"$first -> $second")
      assert(byspark("offsets", 1) == (second == sparks))
      assert(!new java.io.File(ckpt, "commits/1").exists())
      // third life under the first manager again: the uncommitted epoch
      // replays in full, the committed one does not, nothing is lost
      writeChanges(src, 7 to 9)
      val q3 = life(first)
      try q3.processAllAvailable() finally q3.stop()
      val ids = idsOf(bus)
      assert(ids.sorted == Seq(1L, 2L, 3L, 4L, 4L, 5L, 5L, 6L, 6L, 7L, 8L, 9L),
        s"$second -> $first: $ids")
    }
    assert(spark.conf.get(LocalCheckpointFiles.ConfKey) == installed)
  }

  test("wal2json stream restart: registry re-harvests from replayed " +
      "self-describing rows; no frame lost or duplicated") {
    val src = tmp("w2j-src"); val ckpt = tmp("w2j-ckpt")
    val bus = CdcStream.MemoryBus()
    def row(seq: Long, id: Int, v: Double): (Long, String) =
      (seq, s"""{"action":"I","schema":"public","table":"t",""" +
        s""""columns":[{"name":"id","type":"bigint","value":$id},""" +
        s"""{"name":"value","type":"double precision","value":$v}],""" +
        s""""pk":[{"name":"id","type":"bigint"}],""" +
        s""""timestamp":"2024-01-01 00:00:0$seq.000000+00"}""")
    def write(rows: Seq[(Long, String)]): Unit =
      rows.toDF("seq", "wal_json").coalesce(1)
        .write.mode("append").parquet(src)
    def attach() = CdcStream.startWal(
      spark.readStream
        .schema(Seq.empty[(Long, String)].toDF("seq", "wal_json").schema)
        .parquet(src),
      new Wal2Json.Format("wal_json", "seq"), subs, bus, triggerMs = 10L,
      checkpointLocation = Some(ckpt))
    write(Seq(row(1, 1, 60.0), row(2, 2, 10.0)))
    val q1 = attach()
    try { q1.processAllAvailable() } finally q1.stop()
    assert(bus.deliveries.size == 2)
    // restart: a fresh (empty) registry re-learns schemas from the NEW
    // rows themselves — wal2json rows are self-describing, the analog of
    // the slot re-sending relation metadata per chunk
    write(Seq(row(3, 3, 99.0)))
    val q2 = attach()
    try { q2.processAllAvailable() } finally q2.stop()
    val frames = bus.deliveries.map(_.frame)
    assert(frames.size == 3, s"no loss, no committed-epoch replay: $frames")
    assert(frames.count(_.contains("\"id\":\"3\"")) == 1)
    assert(frames.forall(_.contains("\"table\":\"t\"")))
  }

  test("streamUpserts across a mid-stream crash: applied-seq dedup " +
      "yields exactly-once mirror state") {
    val src = tmp("mir-src"); val ckpt = tmp("mir-ckpt")
    val runId = "mir-" + System.nanoTime()
    applied.put(runId, new ConcurrentHashMap[String, (Long, String)]())
    val schema = Seq.empty[PgOutput.WalChange].toDS().schema
    def wal(seq: Long, msg: String, id: Int, v: String) =
      PgOutput.WalChange(seq, seq, 1L, msg, "public", "t", s"ts$seq",
        if (msg == "DELETE") null else Map("id" -> id.toString, "v" -> v),
        if (msg == "DELETE") Map("id" -> id.toString) else null, Nil)
    def attach() = {
      val decoded = spark.readStream.schema(schema).parquet(src)
      val w = Mirror.streamUpserts(decoded, "id").writeStream
        .outputMode("update").option("checkpointLocation", ckpt)
      w.foreachBatch { (batch: org.apache.spark.sql.DataFrame, bid: Long) =>
        val rows = batch.collect() // |touched keys|-sized (test scale)
        val store = applied.get(runId)
        rows.foreach { r =>
          val pk = r.getString(0); val seq = r.getLong(2)
          attempts.merge(runId, 1, _ + _)
          // the consumer contract from streamUpserts' doc: apply
          // idempotently by (pk, seq) — replays at or below the applied
          // seq are no-ops
          store.compute(pk, (_, old) =>
            if (old != null && old._1 >= seq) old
            else if (r.getString(1) == "DELETE") (seq, null)
            else (seq, r.getMap[String, String](3)("v")))
        }
        if (rows.nonEmpty && crashOnce.putIfAbsent(runId, true) == null)
          throw new RuntimeException("injected mirror crash")
        ()
      }.start()
    }
    Seq(wal(1, "INSERT", 1, "a"), wal(2, "INSERT", 2, "b"),
      wal(3, "UPDATE", 1, "a2")).toDS()
      .coalesce(1).write.mode("append").parquet(src)
    val q1 = attach()
    try intercept[StreamingQueryException] {
      q1.processAllAvailable(); q1.awaitTermination(60000L); ()
    } finally q1.stop()
    val afterCrash = attempts.getOrDefault(runId, 0)
    assert(afterCrash > 0, "the crashed epoch applied before dying")
    Seq(wal(4, "DELETE", 2, ""), wal(5, "INSERT", 3, "c")).toDS()
      .coalesce(1).write.mode("append").parquet(src)
    val q2 = attach()
    try { q2.processAllAvailable() } finally q2.stop()
    // the crashed epoch re-applied (at-least-once feed observed) …
    assert(attempts.get(runId) > afterCrash + 1,
      "restart must replay the uncommitted epoch's upserts")
    // … but the seq guard leaves exactly the batch-mirror state: key 1 at
    // its latest value, key 2 deleted, key 3 present
    val state = applied.get(runId).asScala.toMap
      .collect { case (k, (_, v)) if v != null => k -> v }
    val batchMirror = Mirror.fromWal(
        Seq(wal(1, "INSERT", 1, "a"), wal(2, "INSERT", 2, "b"),
          wal(3, "UPDATE", 1, "a2"), wal(4, "DELETE", 2, ""),
          wal(5, "INSERT", 3, "c")).toDS().toDF(), "id")
      .collect().map(r => r.getString(0) ->
        r.getMap[String, String](2)("v")).toMap
    assert(state == batchMirror && state == Map("1" -> "a2", "3" -> "c"))
  }
}

object CdcRecoverySpec {
  final case class Change(id: Long, change_type: String, value: Double,
      commit_timestamp: String)

  /** One-shot crash latches and cross-restart state, keyed per test run
    * (foreachBatch closures run on the driver; statics survive query
    * restarts within the suite's JVM). */
  val crashOnce = new ConcurrentHashMap[String, java.lang.Boolean]()
  val attempts = new ConcurrentHashMap[String, Integer]()
  val applied =
    new ConcurrentHashMap[String, ConcurrentHashMap[String, (Long, String)]]()

  private[cdc] def idOf(frame: String): Long = {
    val k = "\"id\":"
    val i = frame.indexOf(k)
    var j = i + k.length; var v = 0L
    while (j < frame.length && frame.charAt(j).isDigit) {
      v = v * 10 + (frame.charAt(j) - '0'); j += 1
    }
    v
  }

  /** Offers to `bus`; while `crashOnce` holds `runId`, the next flush
    * (after its partition's offers) takes it and throws. */
  final class CrashingSink(bus: CdcStream.MemoryBus, runId: String)
      extends CdcStream.DeliverySink {
    def offer(d: CdcStream.Delivery): Unit = bus.offer(d)
    override def flush(): Unit =
      if (crashOnce.remove(runId) != null)
        throw new RuntimeException("injected post-delivery crash")
  }

  private[cdc] def idsOf(bus: CdcStream.MemoryBus): Seq[Long] =
    bus.deliveries.filter(_.subscriptionId == "sB").map(d => idOf(d.frame))
}
