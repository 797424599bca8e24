package graft.sources

import org.scalatest.funsuite.AnyFunSuite
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

/** The TCP relay over the file log: framing roundtrip, per-partition
  * order, cursor-addressed start, abrupt-disconnect + redial resume
  * (the replication-slot reconnect contract at connection level),
  * backpressure against a throttled client, ACK status plumbing, and
  * heartbeat keepalive when caught up. No Spark — the relay is pure I/O
  * over the log files. */
class SocketRelaySpec extends AnyFunSuite {

  private def tmp(): String =
    Files.createTempDirectory("sockrelay").toFile.getAbsolutePath

  private def fill(root: String, topic: String, parts: Int,
      perPart: Int): Unit = {
    (0 until parts).foreach(p => (0 until perPart).foreach(i =>
      FileReplayLog.append(root, topic, p, s"k$p-$i",
        s"v$p-$i".getBytes(UTF_8), (p * 10000 + i).toLong)))
    FileReplayLog.publish(root, topic)
  }

  test("framing roundtrip: frames arrive in per-partition offset " +
      "order with timestamps and value lengths intact") {
    val root = tmp(); val topic = "t"
    fill(root, topic, parts = 3, perPart = 50)
    val server = new SocketRelay.Server(root, topic).start()
    try {
      val client = new SocketRelay.Client("127.0.0.1", server.localPort,
        Map.empty)
      val next = scala.collection.mutable.Map.empty[Int, Long]
      var n = 0
      while (n < 150) {
        val f = client.next().get
        if (!f.isHeartbeat) {
          assert(f.offset == next.getOrElse(f.partition, 0L),
            s"order break in p${f.partition}")
          assert(f.timestampMs == f.partition * 10000 + f.offset)
          assert(f.valueLen == s"v${f.partition}-${f.offset}".length)
          next(f.partition) = f.offset + 1
          n += 1
        }
      }
      client.close()
      assert(next == Map(0 -> 50L, 1 -> 50L, 2 -> 50L))
    } finally server.stop()
  }

  test("cursor-addressed start: a client naming offsets reads exactly " +
      "the suffix, like a replication slot's confirmed LSN") {
    val root = tmp(); val topic = "t"
    fill(root, topic, parts = 2, perPart = 20)
    val server = new SocketRelay.Server(root, topic).start()
    try {
      val client = new SocketRelay.Client("127.0.0.1", server.localPort,
        Map(0 -> 15L, 1 -> 20L)) // p1 fully consumed
      val got = scala.collection.mutable.ArrayBuffer.empty[(Int, Long)]
      while (got.size < 5) {
        val f = client.next().get
        if (!f.isHeartbeat) got += ((f.partition, f.offset))
      }
      client.close()
      assert(got.toSeq == (15L until 20L).map(o => (0, o)))
    } finally server.stop()
  }

  test("abrupt disconnect + redial from committed cursors: the " +
      "uncommitted window is re-delivered, nothing is lost, order holds") {
    val root = tmp(); val topic = "t"
    fill(root, topic, parts = 1, perPart = 100)
    val server = new SocketRelay.Server(root, topic).start()
    try {
      var client = new SocketRelay.Client("127.0.0.1", server.localPort,
        Map.empty)
      // consume 60, commit at 40, drop abruptly
      var seen = 0L
      while (seen < 60) {
        val f = client.next().get
        if (!f.isHeartbeat) { assert(f.offset == seen); seen += 1 }
      }
      client.close()
      // redial with the committed cursor: 40..59 re-delivered, then new
      client = new SocketRelay.Client("127.0.0.1", server.localPort,
        Map(0 -> 40L))
      var expect = 40L
      var redelivered = 0
      while (expect < 100) {
        val f = client.next().get
        if (!f.isHeartbeat) {
          assert(f.offset == expect, s"resume order: ${f.offset} vs $expect")
          if (f.offset < 60) redelivered += 1
          expect += 1
        }
      }
      client.close()
      assert(redelivered == 20, "uncommitted window must re-deliver exactly")
    } finally server.stop()
  }

  test("backpressure: a throttled client holds the relay's in-flight " +
      "window under its buffer bound; the backlog stays on disk") {
    val root = tmp(); val topic = "t"
    val parts = 2; val perPart = 150000
    fill(root, topic, parts, perPart)
    // frames the relay can hold past the client: its write buffer, the
    // send and receive socket buffers (the kernel doubles each SockBuf),
    // the client's read buffer, and one read-ahead chunk per partition,
    // counted at this log's smallest frame (24-byte header + "v0-0"),
    // with a 2x margin
    val bound = 2L * (6L * SocketRelay.SockBuf / (24 + "v0-0".length) +
      parts * SocketRelay.Chunk)
    val server = new SocketRelay.Server(root, topic).start()
    val client = new SocketRelay.Client("127.0.0.1", server.localPort, Map.empty)
    try {
      var consumed = 0L
      var peak = 0L
      (1 to 5).foreach { _ =>
        Thread.sleep(200L) // the relay runs ahead until its buffers fill
        val sent = server.sentTotal
        val backlog = parts.toLong * perPart - sent
        assert(sent - consumed < bound,
          s"in-flight ${sent - consumed} frames (bound $bound): the relay buffered the backlog")
        assert(backlog > 2 * bound, s"disk backlog $backlog never exceeded twice the bound")
        peak = math.max(peak, sent - consumed)
        var n = 0
        while (n < 1000) { if (!client.next().get.isHeartbeat) n += 1 }
        consumed += n
      }
      assert(peak > 0, "the relay never ran ahead of the client")
      info(s"peak in-flight $peak frames (bound $bound)")
    } finally {
      client.close()
      server.stop()
      FileReplayLog.delete(root, topic)
    }
  }

  test("slot overflow: a stalled consumer whose producer outran " +
      "retention redials into a GAP frame — resume at the oldest " +
      "RETAINED cursor, loss counted, at-most-once made visible " +
      "(wal_bloat_test.exs:78-160 analog)") {
    val root = tmp(); val topic = "t"
    fill(root, topic, parts = 1, perPart = 50)
    val server = new SocketRelay.Server(root, topic).start()
    try {
      var client = new SocketRelay.Client("127.0.0.1", server.localPort,
        Map.empty)
      // consume 30, commit at 30, stall (abrupt drop — the reference's
      // replication process dying under WAL bloat)
      var seen = 0L
      while (seen < 30) {
        val f = client.next().get
        if (!f.isHeartbeat) { assert(f.offset == seen); seen += 1 }
      }
      client.close()
      // producer outruns retention during the stall: 150 more records,
      // then the max_slot_wal_keep_size watchdog retains only the last
      // 80 — the oldest retained offset (120) is PAST the committed
      // cursor (30)
      (50 until 200).foreach(i => FileReplayLog.append(root, topic, 0,
        s"k0-$i", s"v0-$i".getBytes(UTF_8), i.toLong))
      FileReplayLog.publish(root, topic)
      val begins = FileReplayLog.enforceRetention(root, topic, 80L)
      assert(begins == Map(0 -> 120L))
      assert(FileReplayLog.beginningOffsets(root, topic) == Map(0 -> 120L))
      // end offsets are untouched — retention trims the HEAD only
      assert(FileReplayLog.endOffsets(root, topic) == Map(0 -> 200L))
      // a direct read below the beginning clamps to the retained suffix
      val clamped = FileReplayLog.read(root, topic, 0, 30L, 125L)
      assert(clamped.map(_.offset) == (120L until 125L))
      // redial with the committed cursor: FIRST frame is the GAP
      // control frame naming the resume cursor and the counted loss
      client = new SocketRelay.Client("127.0.0.1", server.localPort,
        Map(0 -> 30L))
      val gap = Iterator.continually(client.next().get)
        .dropWhile(_.isHeartbeat).next()
      assert(gap.isGap, s"expected a GAP frame, got $gap")
      assert(gap.gapPartition == 0)
      assert(gap.resumeOffset == 120L)
      assert(gap.lostCount == 90L, "records 30..119 are gone: 90 lost")
      // the stream then resumes at the oldest retained offset, in order
      var expect = 120L
      while (expect < 200L) {
        val f = client.next().get
        if (!f.isHeartbeat) {
          assert(!f.isGap, "exactly one GAP per overflow")
          assert(f.offset == expect)
          expect += 1
        }
      }
      client.close()
      // server-side loss telemetry carries the same count
      assert(server.lostTotal == 90L)
      assert(server.lostByPartition == Map(0 -> 90L))
    } finally {
      server.stop()
      FileReplayLog.delete(root, topic)
    }
  }

  test("retention never trims below an already-trimmed beginning and " +
      "is a no-op when the retained window is under the cap") {
    val root = tmp(); val topic = "t"
    fill(root, topic, parts = 2, perPart = 10)
    try {
      // under the cap: no trim marker written
      assert(FileReplayLog.enforceRetention(root, topic, 100L) ==
        Map(0 -> 0L, 1 -> 0L))
      assert(FileReplayLog.beginningOffsets(root, topic) ==
        Map(0 -> 0L, 1 -> 0L))
      // trim to last 4, then a LOOSER cap must not move the marker back
      assert(FileReplayLog.enforceRetention(root, topic, 4L) ==
        Map(0 -> 6L, 1 -> 6L))
      assert(FileReplayLog.enforceRetention(root, topic, 8L) ==
        Map(0 -> 6L, 1 -> 6L))
      assert(FileReplayLog.read(root, topic, 0, 0L, 100L).map(_.offset)
        == (6L until 10L))
    } finally FileReplayLog.delete(root, topic)
  }

  test("ACK status lines reach the server; heartbeats flow when caught " +
      "up; late publishes resume the stream on the same connection") {
    val root = tmp(); val topic = "t"
    fill(root, topic, parts = 1, perPart = 10)
    val server = new SocketRelay.Server(root, topic).start()
    try {
      val client = new SocketRelay.Client("127.0.0.1", server.localPort,
        Map.empty)
      var seen = 0L
      while (seen < 10) {
        val f = client.next().get
        if (!f.isHeartbeat) seen += 1
      }
      client.ack(Map(0 -> 10L))
      // caught up: heartbeats (and the ack lands server-side)
      var beats = 0
      while (beats < 3) { if (client.next().get.isHeartbeat) beats += 1 }
      val deadline = System.currentTimeMillis() + 5000
      while (server.lastAck.isEmpty &&
        System.currentTimeMillis() < deadline) Thread.sleep(10L)
      assert(server.lastAck == Map(0 -> 10L), "status update lost")
      // a publish AFTER catch-up flows without redialing
      FileReplayLog.append(root, topic, 0, "k", "late".getBytes(UTF_8), 99L)
      FileReplayLog.publish(root, topic)
      var late: Option[SocketRelay.Frame] = None
      while (late.isEmpty) {
        val f = client.next().get
        if (!f.isHeartbeat) late = Some(f)
      }
      assert(late.get.offset == 10L && late.get.timestampMs == 99L)
      client.close()
    } finally server.stop()
  }

  // ----------------------------------------------------- slot takeover rows

  /** Drain until `server.lastAck` shows `want` (ACKs are async). */
  private def awaitAck(server: SocketRelay.Server,
      want: Map[Int, Long]): Unit = {
    val deadline = System.currentTimeMillis() + 5000
    while (server.lastAck != want &&
      System.currentTimeMillis() < deadline) Thread.sleep(5L)
    assert(server.lastAck == want, "status update lost")
  }

  test("slot takeover: a higher epoch fences the live holder; the new " +
      "holder resumes exactly at the committed cursor, once") {
    val root = tmp(); val topic = "t"
    fill(root, topic, parts = 1, perPart = 100)
    val server = new SocketRelay.Server(root, topic).start()
    try {
      val c1 = new SocketRelay.Client("127.0.0.1", server.localPort,
        Map(0 -> 0L), slot = Some(("slot", 1L)))
      var seen = 0
      while (seen < 30) { if (!c1.next().get.isHeartbeat) seen += 1 }
      c1.ack(Map(0 -> 30L))
      awaitAck(server, Map(0 -> 30L))
      // takeover: epoch 2, cursor -1 = "the group's committed cursor"
      val c2 = new SocketRelay.Client("127.0.0.1", server.localPort,
        Map(0 -> -1L), slot = Some(("slot", 2L)))
      // exact resume: first data frame is offset 30, then 31..99 each
      // exactly once — never a duplicate of the committed prefix, never
      // a skip (the uncommitted window [30,100) reaches ONE live holder)
      val got = scala.collection.mutable.ArrayBuffer.empty[Long]
      while (got.size < 70) {
        val f = c2.next().get
        assert(!f.isFenced, "the WINNING epoch must never be fenced")
        if (!f.isHeartbeat) got += f.offset
      }
      assert(got.toSeq == (30L until 100L).toSeq)
      // the old holder fails fast: its socket was closed at handover —
      // it may still drain frames already buffered (its own to discard,
      // like a killed walsender's in-flight TCP data), then hard EOF
      var c1Frames = 0
      var f1 = c1.next()
      while (f1.isDefined) {
        if (!f1.get.isHeartbeat && !f1.get.isFenced) c1Frames += 1
        f1 = c1.next()
      }
      assert(c1Frames <= 100, "old holder saw frames that never existed")
      c1.close(); c2.close()
    } finally server.stop()
  }

  test("a stale-epoch TAIL gets one FENCED control frame naming the " +
      "winning epoch, and no data") {
    val root = tmp(); val topic = "t"
    fill(root, topic, parts = 1, perPart = 10)
    val server = new SocketRelay.Server(root, topic).start()
    try {
      val c2 = new SocketRelay.Client("127.0.0.1", server.localPort,
        Map(0 -> 0L), slot = Some(("slot", 5L)))
      var seen = 0
      while (seen < 10) { if (!c2.next().get.isHeartbeat) seen += 1 }
      // the fenced redial (the first consumer coming back with its old
      // epoch — and an EQUAL epoch is a zombie replay, fenced too)
      Seq(3L, 5L).foreach { stale =>
        val z = new SocketRelay.Client("127.0.0.1", server.localPort,
          Map(0 -> 0L), slot = Some(("slot", stale)))
        val f = z.next().get
        assert(f.isFenced && f.winningEpoch == 5L,
          s"epoch $stale must be fenced by 5")
        assert(z.next().isEmpty, "nothing after the fence")
        z.close()
      }
      c2.close()
    } finally server.stop()
  }

  test("committed cursors survive holder churn: each successor resumes " +
      "where the last ACTIVE holder acked") {
    val root = tmp(); val topic = "t"
    fill(root, topic, parts = 1, perPart = 60)
    val server = new SocketRelay.Server(root, topic).start()
    try {
      val c1 = new SocketRelay.Client("127.0.0.1", server.localPort,
        Map(0 -> 0L), slot = Some(("slot", 1L)))
      var seen = 0
      while (seen < 20) { if (!c1.next().get.isHeartbeat) seen += 1 }
      c1.ack(Map(0 -> 20L))
      awaitAck(server, Map(0 -> 20L))
      c1.close() // clean drop, no takeover yet
      val c2 = new SocketRelay.Client("127.0.0.1", server.localPort,
        Map(0 -> -1L), slot = Some(("slot", 2L)))
      val first = Iterator.continually(c2.next().get)
        .find(f => !f.isHeartbeat).get
      assert(first.offset == 20L, "resume must be the committed cursor")
      var got = 1
      while (got < 20) { if (!c2.next().get.isHeartbeat) got += 1 }
      c2.ack(Map(0 -> 40L))
      awaitAck(server, Map(0 -> 40L))
      val c3 = new SocketRelay.Client("127.0.0.1", server.localPort,
        Map(0 -> -1L), slot = Some(("slot", 3L)))
      val f3 = Iterator.continually(c3.next().get)
        .find(f => !f.isHeartbeat).get
      assert(f3.offset == 40L, "successor must see the NEW holder's ack")
      c2.close(); c3.close()
    } finally server.stop()
  }
}
