package graft.sources

import graft.presence.Fanout
import java.io.{BufferedReader, InputStreamReader, PrintWriter}
import java.net.{InetSocketAddress, ServerSocket, Socket}
import java.nio.charset.StandardCharsets.UTF_8

/** A live transport twin of [[graft.presence.Fanout.hopPlan]]: the
  * gen_rpc pubsub node as a loopback-TCP process.
  *
  * The reference crosses machines with gen_rpc
  * (`lib/realtime/gen_rpc/pub_sub.ex:47-126`); the machine boundary is
  * the one thing this sandbox cannot exercise, so — same argument as the
  * [[SocketRelay]] leg — the transport is modeled down to the last
  * REACHABLE seam: real sockets and real frames (MeshSpec runs the
  * nodes in-process, each dialing the others over TCP), with the
  * node/region topology and the two-tier forward rules byte-compatible
  * with the relational plan. MeshSpec asserts the DIFFERENTIAL: the set
  * of (msg, node, hop) the live mesh delivers equals
  * [[Fanout.hopPlan]]'s answer exactly, and per-(sender, node) delivery
  * order is publish order (each leg of the forward graph is one FIFO
  * socket — the reference gets the same guarantee from the
  * sender-sticky gen_rpc client, gen_rpc.ex:242).
  *
  * Protocol (UTF-8 lines):
  *   `PUB <msgId> <sender>`            — a client publishes at its node
  *   `FWD <hop> <msgId> <sender>`      — node→node forward; hop ∈
  *                                       ftl | ftr | ftl_relay
  * On PUB the node delivers `local`, sends `FWD ftl` to its region
  * siblings, and `FWD ftr` to ONE rendezvous-picked gateway per other
  * region ([[Fanout.gatewayFor]] — the driver-side twin of the plan's
  * md5 chain). On `FWD ftr` the gateway delivers and re-forwards
  * `FWD ftl_relay` to ITS region siblings. On any other FWD the node
  * just delivers. Outbound sockets are created lazily, one per peer,
  * writes serialized per peer — FIFO per edge. */
object Mesh {

  /** One mesh node. `cluster` maps node id → (port, region); the node's
    * own entry fixes its listen port (0 = ephemeral; read back via
    * [[localPort]]). `deliver` receives (msgId, sender, hop). */
  final class Node(val id: Int, cluster: Map[Int, (Int, Int)],
      deliver: (Long, Long, String) => Unit) {
    private val region: Int = cluster(id)._2
    private val regionSiblings: Seq[Int] =
      cluster.collect { case (n, (_, r)) if r == region && n != id => n }
        .toSeq.sorted
    // `.toSeq` first: collecting (r, n) tuples straight off the Map
    // would build a Map KEYED BY REGION — one surviving node per region
    private val otherRegions: Seq[(Int, Seq[Int])] = cluster.toSeq
      .collect { case (n, (_, r)) if r != region => (r, n) }
      .groupBy(_._1).view.mapValues(_.map(_._2).sorted)
      .toSeq.sortBy(_._1)

    private val server = new ServerSocket()
    server.setReuseAddress(true)
    server.bind(new InetSocketAddress("127.0.0.1", cluster(id)._1), 16)
    def localPort: Int = server.getLocalPort

    /** Ports may be ephemeral (spec): the parent rewires the final
      * id → port map after every node has bound, before start(). */
    @volatile private var ports: Map[Int, Int] =
      cluster.view.mapValues(_._1).toMap
    def rewire(portMap: Map[Int, Int]): Unit = { ports = portMap }

    @volatile private var running = true
    private val peers =
      scala.collection.mutable.Map.empty[Int, PrintWriter]

    def start(): this.type = {
      val t = new Thread(() => acceptLoop(), s"mesh-node-$id")
      t.setDaemon(true); t.start(); this
    }

    private def acceptLoop(): Unit =
      while (running) {
        val sock =
          try server.accept()
          catch { case _: Exception => return }
        val t = new Thread(() => {
          try serve(sock)
          catch { case _: Exception => () }
          finally { try sock.close() catch { case _: Exception => () } }
        }, s"mesh-conn-$id")
        t.setDaemon(true); t.start()
      }

    private def serve(sock: Socket): Unit = {
      val in = new BufferedReader(
        new InputStreamReader(sock.getInputStream, UTF_8))
      var line = in.readLine()
      while (line != null) {
        onLine(line)
        line = in.readLine()
      }
    }

    private def onLine(line: String): Unit = line.split(' ') match {
      case Array("PUB", m, s) =>
        deliver(m.toLong, s.toLong, "local")
        regionSiblings.foreach(p => send(p, s"FWD ftl $m $s"))
        otherRegions.foreach { case (_, members) =>
          send(Fanout.gatewayFor(s, members), s"FWD ftr $m $s")
        }
      case Array("FWD", "ftr", m, s) =>
        deliver(m.toLong, s.toLong, "ftr")
        regionSiblings.foreach(p => send(p, s"FWD ftl_relay $m $s"))
      case Array("FWD", hop, m, s) =>
        deliver(m.toLong, s.toLong, hop)
      case _ => () // unknown frame: drop (handle_info catch-all arm)
    }

    private def send(peer: Int, line: String): Unit = {
      val w = peers.synchronized {
        peers.getOrElseUpdate(peer, {
          val sock = new Socket("127.0.0.1", ports(peer))
          sock.setTcpNoDelay(true)
          new PrintWriter(new java.io.OutputStreamWriter(
            sock.getOutputStream, UTF_8))
        })
      }
      w.synchronized { w.println(line); w.flush() }
    }

    def stop(): Unit = {
      running = false
      try server.close() catch { case _: Exception => () }
      peers.synchronized {
        peers.values.foreach(w => try w.close() catch {
          case _: Exception => ()
        })
        peers.clear()
      }
    }
  }

  /** A publisher handle: one socket to the sender's origin node (the
    * channel process's connection). */
  final class Publisher(port: Int) {
    private val sock = new Socket("127.0.0.1", port)
    sock.setTcpNoDelay(true)
    private val w = new PrintWriter(
      new java.io.OutputStreamWriter(sock.getOutputStream, UTF_8))
    def publish(msgId: Long, sender: Long): Unit = {
      w.println(s"PUB $msgId $sender"); w.flush()
    }
    def close(): Unit = { try sock.close() catch { case _: Exception => () } }
  }
}
