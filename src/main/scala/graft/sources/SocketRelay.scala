package graft.sources

import java.io.{BufferedOutputStream, BufferedReader, DataInputStream,
  DataOutputStream, EOFException, InputStreamReader}
import java.net.{InetSocketAddress, ServerSocket, Socket}
import java.nio.charset.StandardCharsets.UTF_8

/** A TCP leg over the file-backed replay log — the FLOW-CONTROL story
  * of the cross-process transport (the file log is the durability
  * story). The reference's replication transport is a socket with
  * keepalive and periodic status updates
  * (/root/reference/lib/realtime/tenants/replication_connection.ex:334);
  * this relay reproduces that shape: a consumer connects, names its
  * per-partition start cursors (the replication slot's confirmed LSN),
  * the server streams frames from the log in per-partition offset
  * order, and the consumer sends periodic ACK status lines back on the
  * same connection.
  *
  * Backpressure is STRUCTURAL, not scheduled: the server reads at most
  * [[Chunk]] frames per partition from disk before writing them to the
  * socket, and the socket write BLOCKS once the (explicitly bounded)
  * send buffer fills — so a slow consumer stalls the disk reads and
  * the backlog stays ON DISK, never in relay heap. A dropped
  * connection just ends the serve loop; the consumer redials with its
  * last committed cursors and the stream resumes from there — frames
  * past the committed cursor but received before the drop are
  * re-delivered, the at-least-once contract of a replication-slot
  * reconnect.
  *
  * Wire format (after the client's one text line
  * `TAIL [group=g] [epoch=N] p:off,p:off,…`, empty cursor list = all
  * partitions from 0):
  * `[int32 partition][int64 offset][int64 timestampMs][int32 valueLen]
  * [value bytes]`, back-channel text lines `ACK p:off,…`.
  *
  * SLOT TAKEOVER (the second half of the WAL-bloat fault,
  * wal_bloat_test.exs:78-160): a `group=` TAIL claims single-writer
  * cursor ownership under a fencing epoch. A strictly higher epoch
  * takes the slot over — the previous holder's socket is closed under
  * the group monitor BEFORE the new holder is served (no frame is ever
  * written to both across the handover), the group's committed cursors
  * (the active holder's last ACK; zombie ACKs ignored) survive, and a
  * `-1` cursor resumes exactly there. A TAIL naming a stale-or-equal
  * epoch gets one FENCED control frame and nothing else — the
  * fenced consumer's contract is fail fast, discard uncommitted input,
  * redial with a bumped epoch.
  */
object SocketRelay {

  /** Per-cycle per-partition disk read-ahead: bounds relay heap at
    * `partitions × Chunk` frames regardless of backlog size. */
  val Chunk = 1024

  /** Explicit socket buffer bound (send side here, receive side set by
    * the client): keeps the in-flight window a few thousand frames so
    * backpressure engages at consumer speed, not at kernel-default
    * autotuned-megabytes speed. */
  val SockBuf = 1 << 16

  /** Partition marker of a FENCED control frame (see [[Frame.isFenced]]):
    * distinct from the heartbeat (-1) and the GAP encoding (-2 - p). */
  val FencedMarker: Int = Int.MinValue

  /** Per-consumer-group fencing state: the slot's single-writer cursor
    * ownership (the replication-slot takeover of
    * wal_bloat_test.exs:78-160 — a second consumer claims the slot, the
    * first must fail fast and redial). Guarded by the Server's `groups`
    * monitor. */
  private final class GroupState {
    /** Highest epoch that ever claimed this group. */
    var epoch: Long = Long.MinValue
    /** The active holder's socket — closed on takeover. */
    var holderSock: Socket = null
    /** The group's committed cursors (last ACK from the active holder;
      * zombie ACKs from fenced connections are ignored). */
    var committed: Map[Int, Long] = Map.empty
  }

  final class Server(root: String, topic: String, port: Int = 0) {
    private val server = new ServerSocket()
    server.setReuseAddress(true)
    server.bind(new InetSocketAddress("127.0.0.1", port), 8)
    def localPort: Int = server.getLocalPort

    private val groups = scala.collection.mutable.Map.empty[String, GroupState]

    @volatile private var running = true
    /** Total frames written to sockets across all connections —
      * monotonic; the in-flight window is this minus what the consumer
      * read. (Atomic: serve runs one thread per connection since the
      * takeover fence — a fencing TAIL must be admitted WHILE the old
      * holder is served.) */
    private val sent = new java.util.concurrent.atomic.AtomicLong(0L)
    def sentTotal: Long = sent.get
    /** Last ACK status per partition (the consumer's flushed cursor),
      * like the replication connection's status updates. */
    @volatile var lastAck: Map[Int, Long] = Map.empty
    /** Slot-overflow loss telemetry (the at-most-once contract made
      * VISIBLE): total records that retention removed below a
      * consumer's COMMITTED cursor — counted once per reconnect, at
      * TAIL time, from the cursor the client named (the slot's
      * confirmed-LSN analog, the durable truth). A mid-serve trim
      * overrun still emits the GAP frame (the live stream must jump,
      * and the consumer sees the jump), but only the redial's committed
      * cursor is counted here: the in-flight serve cursor is send
      * progress, not a commitment, and counting it would double-book
      * the same records when the consumer redials. Monotonic across
      * connections. */
    @volatile var lostTotal: Long = 0L
    /** Per-partition breakdown of [[lostTotal]]. */
    @volatile var lostByPartition: Map[Int, Long] = Map.empty
    /** Monitor for the loss counters (serve threads are concurrent). */
    private val statsLock = new Object

    private val thread = new Thread(() => acceptLoop(), "socket-relay")
    def start(): this.type = {
      thread.setDaemon(true); thread.start(); this
    }

    // one serve thread per connection: a takeover TAIL must be admitted
    // (and fence the old holder) WHILE that holder's serve loop is live —
    // the serial serve of rounds ≤15 could never see the second dial
    private def acceptLoop(): Unit =
      while (running) {
        val sock =
          try server.accept()
          catch { case _: Exception => return } // stop() closed us
        val t = new Thread(() => {
          try serve(sock)
          catch { case _: Exception => () } // client dropped/fenced: redial
          finally { try sock.close() catch { case _: Exception => () } }
        }, "socket-relay-conn")
        t.setDaemon(true)
        t.start()
      }

    private def serve(sock: Socket): Unit = {
      sock.setKeepAlive(true)
      sock.setSendBufferSize(SockBuf)
      val in = new BufferedReader(
        new InputStreamReader(sock.getInputStream, UTF_8))
      val start = in.readLine()
      if (start == null || !start.startsWith("TAIL")) return
      // `TAIL [group=g] [epoch=N] [p:off,p:off,…]` — group/epoch are the
      // fencing extension (absent = the ungrouped, unfenced legacy tail);
      // a named offset of -1 resolves to the GROUP's committed cursor
      // (the slot's confirmed LSN — "exact resume" across a takeover)
      var group: String = null
      var epoch = 0L
      val cursors = scala.collection.mutable.Map.empty[Int, Long]
      start.stripPrefix("TAIL").trim.split("\\s+").filter(_.nonEmpty)
        .foreach {
          case t if t.startsWith("group=") => group = t.stripPrefix("group=")
          case t if t.startsWith("epoch=") =>
            epoch = t.stripPrefix("epoch=").toLong
          case t => t.split(",").filter(_.nonEmpty).foreach { kv =>
            val Array(p, o) = kv.split(":")
            cursors(p.trim.toInt) = o.trim.toLong
          }
        }
      // single-writer admission (the slot-takeover fence,
      // wal_bloat_test.exs:78-160): a TAIL must name a STRICTLY higher
      // epoch than the group has seen to claim the slot — stale and
      // replayed epochs get a FENCED control frame and nothing else
      // (the fenced consumer fails fast and redials with a bumped
      // epoch). On takeover the PREVIOUS holder's socket is closed
      // UNDER THE GROUPS MONITOR, before this connection can be served
      // a single frame — no frame is ever written to the old connection
      // after the handover, so the uncommitted window is delivered to
      // at most one live consumer (bytes already in the old consumer's
      // kernel buffer are its own to discard: a fenced consumer must
      // drop uncommitted input, the same contract as a killed
      // walsender's in-flight TCP data).
      var committedStart: Map[Int, Long] = Map.empty
      if (group != null) {
        val fencedBy = groups.synchronized {
          val g = groups.getOrElseUpdate(group, new GroupState)
          if (epoch <= g.epoch) Some(g.epoch)
          else {
            if (g.holderSock != null && !g.holderSock.isClosed)
              try g.holderSock.close() catch { case _: Exception => () }
            g.epoch = epoch
            g.holderSock = sock
            committedStart = g.committed
            None
          }
        }
        fencedBy match {
          case Some(winner) =>
            val out = new DataOutputStream(sock.getOutputStream)
            out.writeInt(FencedMarker)
            out.writeLong(winner) // the epoch that holds the slot
            out.writeLong(epoch)  // the epoch this TAIL named
            out.writeInt(0)
            out.flush()
            return
          case None => ()
        }
        cursors.mapValuesInPlace((p, o) =>
          if (o == -1L) committedStart.getOrElse(p, 0L) else o)
      }
      // status-update reader: drains ACK lines off the back channel so
      // the send side never blocks on an unread input buffer
      val acks = new Thread(() => {
        try {
          var line = in.readLine()
          while (line != null) {
            if (line.startsWith("ACK")) {
              val m = line.stripPrefix("ACK").trim.split(",")
                .filter(_.nonEmpty).map { kv =>
                  val Array(p, o) = kv.split(":")
                  p.trim.toInt -> o.trim.toLong
                }.toMap
              // group commit FIRST, then the observable lastAck: only the
              // ACTIVE holder advances the slot's committed cursor — a
              // fenced zombie's late ACK is ignored (it could rewind or
              // advance past what the new holder saw). Publishing lastAck
              // last means anyone who OBSERVED the ack can rely on the
              // group cursor already being committed.
              if (group != null) groups.synchronized {
                groups.get(group).foreach { g =>
                  if (g.holderSock eq sock) g.committed = m
                }
              }
              lastAck = m
            }
            line = in.readLine()
          }
        } catch { case _: Exception => () }
      }, "socket-relay-acks")
      acks.setDaemon(true)
      acks.start()
      val out = new DataOutputStream(
        new BufferedOutputStream(sock.getOutputStream, SockBuf))
      // partitions whose TAIL-time slot-overflow check already ran on
      // this connection (see the telemetry note in the serve loop)
      val gapChecked = scala.collection.mutable.Set.empty[Int]
      // belt-and-braces holder check: takeover CLOSES this socket (the
      // hard fence — any in-flight write throws), this predicate just
      // exits the loop promptly on the quiet path
      def stillHolder: Boolean = group == null || groups.synchronized {
        groups.get(group).exists(_.holderSock eq sock)
      }
      while (running && !sock.isClosed && stillHolder) {
        var progressed = false
        FileReplayLog.partitions(root, topic).foreach { p =>
          var from = cursors.getOrElse(p, 0L)
          // slot overflow (the WAL-bloat reconnect,
          // wal_bloat_test.exs:78-160): the cursor fell below the
          // oldest RETAINED offset — the records in the gap are GONE
          // (retention is the broker's decision, not the consumer's).
          // Resume at the oldest retained cursor and tell the consumer
          // with a GAP control frame — silent resumption would let an
          // at-most-once loss masquerade as a complete stream. The loss
          // TELEMETRY counts only the TAIL-time check (this
          // connection's first look at p): that cursor is the client's
          // committed position; a later mid-serve overrun is measured
          // against in-flight send progress, which the consumer never
          // committed — it re-reports through its own redial.
          val begin = FileReplayLog.beginningOffset(root, topic, p)
          if (from < begin) {
            val lost = begin - from
            if (!gapChecked.contains(p)) statsLock.synchronized {
              lostTotal += lost
              lostByPartition = lostByPartition
                .updated(p, lostByPartition.getOrElse(p, 0L) + lost)
            }
            out.writeInt(-2 - p) // GAP marker for partition p
            out.writeLong(begin) // resume cursor (oldest retained)
            out.writeLong(lost)  // counted gap
            out.writeInt(0)
            out.flush()
            from = begin
            cursors(p) = begin
            progressed = true
          }
          gapChecked += p
          val recs = FileReplayLog.read(root, topic, p, from, from + Chunk)
          if (recs.nonEmpty) {
            progressed = true
            recs.foreach { r =>
              out.writeInt(p)
              out.writeLong(r.offset)
              out.writeLong(r.timestampMs)
              val v = if (r.value == null) Array.emptyByteArray else r.value
              out.writeInt(v.length)
              out.write(v)
              sent.incrementAndGet()
            }
            cursors(p) = recs.last.offset + 1
            out.flush() // hand the chunk to the (bounded) socket buffer
          }
        }
        if (!progressed) {
          // caught up: poll for new publishes, and send a HEARTBEAT
          // frame (partition -1) so the consumer's blocking read always
          // returns — the keepalive the reference's socket carries, and
          // what lets a drained consumer run its done-check instead of
          // blocking forever on a quiet connection
          out.writeInt(-1)
          out.writeLong(-1L)
          out.writeLong(System.currentTimeMillis())
          out.writeInt(0)
          out.flush()
          Thread.sleep(10L)
        }
      }
    }

    def stop(): Unit = {
      running = false
      try server.close() catch { case _: Exception => () }
    }
  }

  /** One received frame (value bytes dropped after length accounting —
    * the consumer-side audit needs identity and size, not payload).
    * `partition == -1` is a heartbeat/keepalive, sent when the relay is
    * caught up. `partition <= -2` is a slot-overflow GAP control frame
    * for partition `-partition - 2`: `offset` is the resume cursor (the
    * oldest retained offset) and `timestampMs` carries the COUNTED gap
    * (records lost to retention while the consumer was stalled — the
    * at-most-once contract of a replication-slot reconnect past
    * `max_slot_wal_keep_size`, wal_bloat_test.exs:78-160). */
  final case class Frame(partition: Int, offset: Long, timestampMs: Long,
      valueLen: Int) {
    def isHeartbeat: Boolean = partition == -1
    /** A slot-takeover FENCE: this connection's epoch lost the group's
      * single-writer claim ([[FencedMarker]]). `offset` carries the
      * WINNING epoch, `timestampMs` the epoch this consumer named —
      * fail fast, discard uncommitted input, redial with a higher
      * epoch (the reference's slot-takeover reconnect,
      * wal_bloat_test.exs:78-160). */
    def isFenced: Boolean = partition == FencedMarker
    /** The epoch that holds the slot (FENCED frames). */
    def winningEpoch: Long = offset
    def isGap: Boolean = partition <= -2 && !isFenced
    /** The data partition a GAP frame applies to. */
    def gapPartition: Int = -partition - 2
    /** A GAP frame's resume cursor — the oldest retained offset. */
    def resumeOffset: Long = offset
    /** A GAP frame's counted loss. */
    def lostCount: Long = timestampMs
  }

  /** Blocking client: dial, send cursors, read frames one at a time.
    * `recvBuf` is set BEFORE connect so the kernel honors it — an
    * unbounded autotuned receive window would hide the backpressure
    * that `SocketRelaySpec` measures. `slot` names a consumer group and
    * fencing epoch (single-writer cursor ownership — see [[GroupState]]); a
    * cursor offset of -1 under a slot resolves server-side to the
    * group's committed cursor. */
  final class Client(host: String, port: Int, cursors: Map[Int, Long],
      slot: Option[(String, Long)] = None) {
    private val sock = new Socket()
    sock.setReceiveBufferSize(SockBuf)
    sock.connect(new InetSocketAddress(host, port))
    sock.setKeepAlive(true)
    private val out = sock.getOutputStream
    // buffered: per-frame readInt/readLong on a raw socket stream is a
    // read() syscall each — measured 92k frames/s; buffering lifts the
    // same consumer loop past the producer's sustained rate
    private val in = new DataInputStream(
      new java.io.BufferedInputStream(sock.getInputStream, SockBuf))
    out.write(("TAIL " +
      slot.map { case (g, e) => s"group=$g epoch=$e " }.getOrElse("") +
      cursors.toSeq.sorted
        .map { case (p, o) => s"$p:$o" }.mkString(",") + "\n").getBytes(UTF_8))
    out.flush()

    /** Next frame, or None on connection end. */
    def next(): Option[Frame] =
      try {
        val p = in.readInt()
        val off = in.readLong()
        val ts = in.readLong()
        val vLen = in.readInt()
        in.skipNBytes(vLen.toLong)
        Some(Frame(p, off, ts, vLen))
      } catch { case _: EOFException => None }

    /** Status update on the back channel. */
    def ack(committed: Map[Int, Long]): Unit = {
      out.write(("ACK " + committed.toSeq.sorted
        .map { case (p, o) => s"$p:$o" }.mkString(",") + "\n")
        .getBytes(UTF_8))
      out.flush()
    }

    /** Abrupt drop — the reconnect scenario's first half. */
    def close(): Unit = {
      try sock.close() catch { case _: Exception => () }
    }
  }
}
