package graft.sources

import graft.SparkSpec
import graft.presence.Fanout
import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._

/** Live-transport differential for the gen_rpc fan-out: a loopback-TCP
  * mesh (in-process threads, real sockets) must deliver EXACTLY the
  * (msg, node, hop) set [[Fanout.hopPlan]] computes, with
  * per-(sender, node) arrival order equal to publish order. */
class MeshSpec extends SparkSpec {

  /** Runs `msgs` (msg id, sender, origin node) through a mesh over `topo`
    * (node, region) and checks the deliveries against the plan. */
  private def differential(topo: Seq[(Int, Int)],
      msgs: Seq[(Long, Long, Int)]): Unit = {
    val delivered = new ConcurrentLinkedQueue[(Int, Long, Long, String)]()
    val nodes = topo.map { case (n, r) =>
      n -> new Mesh.Node(n, topo.map { case (m, rr) => m -> (0, rr) }.toMap,
        (msg, snd, hop) => delivered.add((n, msg, snd, hop)))
    }.toMap
    val portMap = nodes.view.mapValues(_.localPort).toMap
    nodes.values.foreach(_.rewire(portMap))
    nodes.values.foreach(_.start())
    val pubs = topo.map { case (n, _) => n -> new Mesh.Publisher(portMap(n)) }.toMap
    val want = msgs.length * topo.length
    try {
      msgs.foreach { case (m, s, o) => pubs(o).publish(m, s) }
      val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
      while (delivered.size < want && System.nanoTime() < deadline)
        Thread.sleep(20L)

      val live = delivered.asScala.toSeq
      assert(live.size == want, s"expected $want deliveries, got ${live.size}")

      // differential vs the relational plan (one row per message and
      // node, so with the count above: each message reaches each node
      // exactly once)
      import spark.implicits._
      val expected = Fanout.hopPlan(
          msgs.toDF("msg_id", "sender", "origin"), "sender", "origin",
          topo, 1)
        .select("node", "msg_id", "sender", "hop").collect()
        .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getString(3)))
        .toSet
      val liveSet = live.toSet
      assert(liveSet == expected,
        s"missing=${(expected -- liveSet).toSeq.sortBy(_._2).take(12)} " +
          s"extra=${(liveSet -- expected).toSeq.sortBy(_._2).take(12)}")

      // FIFO per (sender, node): every forward leg is one FIFO socket
      live.groupBy(d => (d._3, d._1)).foreach { case ((s, n), ds) =>
        val arrived = ds.map(_._2)
        assert(arrived == arrived.sorted,
          s"sender $s at node $n arrived out of order: $arrived")
      }
    } finally {
      pubs.values.foreach(_.close())
      nodes.values.foreach(_.stop())
    }
  }

  test("mesh deliveries == hopPlan's answer; FIFO per (sender, node)") {
    // same topology as FanoutSpec: r0 = {0,3,6}, r1 = {1,4}, r2 = {2};
    // 120 messages, 12 senders × 10 messages each (ordering needs runs
    // of the same sender), origins cycling over the cluster
    val small = Seq((0, 0), (3, 0), (6, 0), (1, 1), (4, 1), (2, 2))
    val ids = small.map(_._1)
    differential(small, (0 until 120).map { i =>
      (i.toLong, (i % 12).toLong, ids(i % ids.length))
    })
    // 10 nodes in 3 regions (n % 3); 5,000 messages from 500 senders,
    // each sender pinned to node `sender % 10` (a channel process lives
    // on one node)
    differential((0 until 10).map(n => (n, n % 3)), (0 until 5000).map { i =>
      val sender = (i % 500).toLong
      (i.toLong, sender, (sender % 10).toInt)
    })
  }
}
