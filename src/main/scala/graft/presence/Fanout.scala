package graft.presence

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The gen_rpc pubsub fan-out PLAN — which node receives a broadcast via
  * which hop — re-expressed as a relational transform.
  *
  * Reference semantics (`lib/realtime/gen_rpc/pub_sub.ex:47-94`,
  * `lib/realtime_web/tenant_broadcaster.ex:38-75`): a node broadcasting a
  * tenant message
  *   1. dispatches LOCALLY (Phoenix.PubSub.broadcast's local leg) — hop
  *      `local`,
  *   2. abcasts a `forward_to_local` to every OTHER node of ITS region —
  *      hop `ftl` (one network hop),
  *   3. picks ONE gateway node per OTHER region
  *      (`Nodes.node_from_region(region, key)`, nodes.ex:81-93: the
  *      region's sorted member list indexed by `phash2(key, count)` with
  *      key = the sending pid, so a given sender always lands on the
  *      same gateway) and abcasts a `forward_to_region` — hop `ftr` (one
  *      hop),
  *   4. each gateway delivers locally and re-abcasts `forward_to_local`
  *      to the REST of its region (`pub_sub.ex:108-126`) — hop
  *      `ftl_relay` (two hops).
  * Every connected node therefore receives EXACTLY ONCE: `local` ∪ `ftl`
  * covers the origin region, `ftr` ∪ `ftl_relay` partitions every other
  * region (a single-node region's only member is its gateway — no relay
  * leg, which falls out of the same arithmetic here). The gen_rpc CAST
  * CHANNEL (`gen_rpc.ex:242`: `{:cast, phash2(key, max_clients) + 1}`)
  * depends on the sender key alone — one sticky channel per sender
  * across ALL target nodes, the per-sender ordering guarantee.
  *
  * Hash substitution (the [[Muster]] convention): `:erlang.phash2` is
  * runtime-internal, so both the gateway pick and the channel pick are
  * modeled as RENDEZVOUS argmins over `md5(sender:candidate)` — portable
  * to the SQL oracle byte-for-byte, same determinism and same
  * consistent-per-sender contract; the concrete placements differ from
  * the Elixir runtime's (documented, not observable in any invariant the
  * reference tests assert).
  *
  * Plan shape: the node table is a BOUNDED literal (hundreds of nodes at
  * scale — same bound as [[Muster]]'s ring), so the per-message delivery
  * grid is one `explode` of an inline array (narrow, no join), and every
  * derived column — origin region, per-region rendezvous minimum,
  * channel argmin — is a CASE / `least` chain over literal md5 calls:
  * fully whole-stage-codegen'd, ZERO higher-order functions, ZERO
  * shuffles. Callers aggregate the delivery rows; that groupBy is the
  * plan's only exchange. */
object Fanout {

  /** Driver-side twin of the in-plan gateway pick — byte parity with the
    * md5 Column chain (same `sender:node` key string, same lowercase-hex
    * comparison), so a live transport ([[graft.sources.Mesh]]) and the
    * relational plan choose the SAME gateway for every sender. */
  def gatewayFor(senderKey: String, members: Seq[Int]): Int = {
    require(members.nonEmpty, "region must have members")
    members.minBy(n => Muster.md5Hex(s"$senderKey:$n"))
  }

  /** Per-delivery fan-out rows: every input row × every node, tagged
    * with `node`, `region`, `hop` ∈ local|ftl|ftr|ftl_relay and the
    * sender's sticky cast `channel` ∈ 1..channels. All other input
    * columns pass through. `originCol` must hold a member of `nodes`
    * (the sender's connected node). `msgs` should be scan-rooted (the
    * [[graft.pipeline.Spread]] contract — the ×|nodes| explode is
    * split-bound otherwise, AmpScan's genre).
    *
    * Cost shape: every rendezvous hash depends on the SENDER alone, so
    * the whole md5 battery — one hash per node, one `least` per region,
    * the channel argmin — is ONE projection per MESSAGE below the
    * explode (|nodes|+channels md5s per input row); the per-DELIVERY
    * work above the explode is column-select CASEs and comparisons,
    * zero hashing. The first draft hashed above the explode instead
    * (~9 md5 per delivery row) and WarmBenched 4.65 s at sf0.1/32 —
    * this shape plus the spread reads 0.85 s warm (5.5×). */
  def hopPlan(msgs: DataFrame, senderCol: String, originCol: String,
      nodes: Seq[(Int, Int)], channels: Int): DataFrame = {
    require(nodes.nonEmpty && nodes.map(_._1).distinct.size == nodes.size,
      "nodes must be non-empty with distinct ids")
    require(channels >= 1, "channels must be >= 1")
    val sender = col(senderCol).cast("string")
    val byRegion = nodes.groupBy(_._2).view.mapValues(_.map(_._1)).toSeq
    // one projection per MESSAGE: node hashes, per-region minima (free
    // `least` over the hash columns), sticky channel
    val hashed = nodes.foldLeft(
        graft.pipeline.Spread(msgs, col(senderCol))) {
        case (df, (n, _)) =>
          df.withColumn(s"_h$n", md5(concat_ws(":", sender, lit(n.toString))))
      }
    val withMin = byRegion.foldLeft(hashed) { case (df, (r, ns)) =>
      df.withColumn(s"_rmin$r",
        if (ns.size == 1) col(s"_h${ns.head}")
        else least(ns.map(n => col(s"_h$n")): _*))
    }
    val channel: Column =
      if (channels == 1) lit(1)
      else least((1 to channels).map(c =>
        struct(md5(concat_ws("#", sender, lit(c.toString))).as("h"),
          lit(c).as("c"))): _*).getField("c")
    val prepped = withMin.withColumn("channel", channel)
    // region of an arbitrary node-valued column, as a codegen'd CASE
    def regionOfCol(c: Column): Column =
      nodes.foldLeft(lit(null).cast("int")) { case (acc, (n, r)) =>
        when(c === n, lit(r)).otherwise(acc)
      }
    // column-select CASEs over the hoisted hash columns — no md5 above
    // the explode
    def hashOfNode(c: Column): Column =
      nodes.foldLeft(lit(null).cast("string")) { case (acc, (n, _)) =>
        when(c === n, col(s"_h$n")).otherwise(acc)
      }
    def minOfRegion(c: Column): Column =
      byRegion.foldLeft(lit(null).cast("string")) { case (acc, (r, _)) =>
        when(c === r, col(s"_rmin$r")).otherwise(acc)
      }
    val nodeArr = array(nodes.map { case (n, r) =>
      struct(lit(n).as("node"), lit(r).as("region"))
    }: _*)
    val passThrough = msgs.columns.map(col).toSeq
    prepped
      .withColumn("_nd", explode(nodeArr))
      .withColumn("node", col("_nd.node"))
      .withColumn("region", col("_nd.region"))
      .withColumn("hop",
        when(col("node") === col(originCol), lit("local"))
          .when(col("region") === regionOfCol(col(originCol)), lit("ftl"))
          .when(hashOfNode(col("node")) === minOfRegion(col("region")),
            lit("ftr"))
          .otherwise(lit("ftl_relay")))
      .select(passThrough ++ Seq(col("node"), col("region"), col("hop"),
        col("channel")): _*)
  }
}
