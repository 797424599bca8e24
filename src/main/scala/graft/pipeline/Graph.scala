package graft.pipeline

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._

/** Graph analytics over edge lists the pipeline already produces (kNN
  * graphs, near-dup pair sets): centrality scores for picking
  * representative documents out of similarity clusters.
  *
  * All rank arithmetic is EXACT integer micros — damping, the uniform
  * base term, and every per-edge contribution use integral floor
  * division, so a fixed iteration count yields bit-identical ranks on
  * any engine and any partitioning (no float accumulation anywhere). */
object Graph {

  /** PageRank with a fixed iteration count over a directed edge list.
    *
    * Ranks are PER-NODE micros — the stationary mass scaled by N·10^6,
    * so the uniform rank is 10^6 regardless of graph size:
    *
    * r_0(v) = 10^6;
    * r_{t+1}(v) = (10^6 − damp) +
    *              Σ_{u→v} floor₂(damp · r_t(u) / (10^6 · outdeg(u))),
    * where floor₂ is the overflow-safe two-term evaluation below.
    *
    * Why per-node units (r16, PROBE_graph_10m.json): the earlier
    * TOTAL-mass law
    * (`r_0 = 10^6 div N`, base `(10^6 − damp) div N`) floors the base
    * term to ZERO for N > 150 000 and the initial rank to zero for
    * N > 10^6 — at 10M edges every rank collapsed to 0 (the probe's
    * `rank_sum` checksum caught it). Per-node units keep full micro
    * resolution at ANY graph size; relative order and ratios are the
    * same mathematical PageRank (the measure is scale-invariant).
    *
    * Overflow bound: the per-edge contribution is evaluated as
    * `damp·(r div (10^6·outdeg)) + (damp·((r mod (10^6·outdeg)) div
    * outdeg)) div 10^6` — every intermediate stays under damp·N·10^6 ≈
    * 8.5×10^5·N, safe in a signed 64-bit long to N ≈ 10^13 nodes
    * (the naive `damp·r` product overflows as soon as one node holds
    * ~10^7 average nodes' worth of mass). Floor composition loses ≤2
    * micros per term vs ≤1 for the naive order — the same
    * derandomization price class; dangling mass is dropped (nodes
    * here always have out-edges when fed a kNN edge list).
    *
    * Scale shape: the classic Pregel loop as relational ops — per
    * iteration ONE join of ranks to edges (both shuffled on the node
    * id; co-partitioned after the first exchange) and one partial-agg
    * groupBy on dst. Edges+outdeg are computed once and persisted;
    * ranks stay distributed (nothing is collected); every iteration but
    * the last is checkpointed to cut lineage. Both paths return the
    * ranks persisted and materialized, with every other cache the call
    * made released. */
  def pageRank(edges: DataFrame, srcCol: String, dstCol: String,
      iters: Int, dampMicros: Long = 850000L,
      smallGraphEdgeCap: Long = 2000000L): DataFrame = {
    require(iters >= 1 && dampMicros >= 0L && dampMicros <= 1000000L)
    val spark = edges.sparkSession
    // persist the PROJECTED edge list up front (r17): `edges` is
    // typically the output of an expensive upstream (a hammingTopK kNN
    // build, count-gated bigram pairs) and three consumers re-read it —
    // the size probe below, the node-set distinct, and either rank
    // path. Narrow (two id columns), so the cache holds ids, never the
    // upstream payloads.
    val ep = edges.select(col(srcCol).as("_src"), col(dstCol).as("_dst"))
      .persist()
    val nEdges = ep.count()
    // empty graph (e.g. textRank where no bigram reaches minPairCount):
    // an empty (id, rank_micros) frame, not a divide-by-zero
    if (nEdges == 0L) {
      ep.unpersist()
      return edges.select(col(srcCol).as("id"), lit(0L).as("rank_micros"))
        .limit(0)
    }
    // Small-graph fast path (r16 VERDICT item 2; the
    // Dedup.connectedComponents precedent): rank graphs here are usually
    // TINY next to the corpus (a count-gated vocabulary co-occurrence
    // graph, a sampled kNN graph), and the iterative path pays
    // iters × (join + agg + localCheckpoint materialization) of
    // driver-paced job scheduling — at sf0.1/32 that scheduling IS the
    // cost (the r16 stride A/B showed the checkpoint isn't). When the
    // whole edge list fits one task's working set (≤ cap edges ≈ 32 MB
    // of id pairs), run the SAME exact integer iteration in a single
    // executor task — one job instead of iters×3. Executor-side, not a
    // driver collect; the iterative path below remains the scale route
    // and the cap keeps the kernel off data-sized graphs. Bit-identical
    // by construction: same floor arithmetic, addition reordering is
    // exact on longs, node set is the same src∪dst distinct.
    if (nEdges <= smallGraphEdgeCap) {
      import org.apache.spark.sql.types._
      import spark.implicits._
      val idType = ep.schema("_src").dataType
      val kernelOut: Option[DataFrame] = idType match {
        case ByteType | ShortType | IntegerType | LongType =>
          val out = ep
            .select(col("_src").cast("long"), col("_dst").cast("long"))
            .as[(Long, Long)]
            .repartition(1)
            .mapPartitions(it => rankKernel(it, iters, dampMicros))
            .toDF("id", "rank_micros")
            .select(col("id").cast(idType).as("id"), col("rank_micros"))
          Some(out)
        case StringType =>
          val out = ep.as[(String, String)]
            .repartition(1)
            .mapPartitions(it => rankKernel(it, iters, dampMicros))
            .toDF("id", "rank_micros")
          Some(out)
        case _ => None // exotic id type: fall through to the iterative path
      }
      kernelOut match {
        case Some(df) =>
          // materialize NOW (the connectedComponents eager contract):
          // callers may release upstream caches as soon as this returns,
          // and a lazy return would recompute the whole upstream
          // pipeline on the caller's first action
          val ranks = df.persist()
          ranks.count()
          ep.unpersist()
          return ranks
        case None => ()
      }
    }
    // cache the node set HASH-PARTITIONED on id (r16 optimization, guide
    // §2.4 — share one exchange): every iteration's reintroduction join
    // (`nodes ⟕ contrib`) reads `nodes` from the cache with its
    // partitioning already satisfied, so only the contrib side exchanges;
    // unpartitioned, the cached scan partitioning forced a nodes shuffle
    // per iteration. The repartition carries an explicit count (the
    // Spread rationale: a column-only exchange is AQE-coalescible).
    val shufflePartitions =
      spark.conf.get("spark.sql.shuffle.partitions").toInt
    val nodes = ep.select(col("_src").as("id"))
      .union(ep.select(col("_dst").as("id"))).distinct()
      .repartition(shufflePartitions, col("id")).persist()
    nodes.count()
    val base = 1000000L - dampMicros
    val deg = ep.groupBy(col("_src").as("_s"))
      .agg(count(lit(1)).as("outdeg"))
    // cache the edge table HASH-PARTITIONED on _src so every
    // iteration's rank join satisfies its distribution from the cache
    // and only the (smaller) rank side shuffles. When the deg join runs
    // as SMJ the output is already _src-partitioned and the exchange is
    // redundant — but when deg BROADCASTS (small graphs, or a cluster
    // raising the broadcast threshold) the cached table inherits the
    // scan's partitioning and every iteration re-shuffles ALL EDGES; one
    // build-time exchange pins the invariant either way. A/B in
    // PROBE_graph_10m.json: 12.5 → 8.2 s at 1M edges ×10 iters,
    // 18.6 → 15.4 s at 10M.
    val e = ep
      .join(deg, col("_src") === col("_s"))
      .select(col("_src"), col("_dst"), col("outdeg"))
      .repartition(col("_src"))
      .persist()
    var r = nodes.select(col("id"), lit(1000000L).as("rank_micros"))
    val checkpoints = Seq.newBuilder[DataFrame]
    for (i <- 1 to iters) {
      val contrib = e.join(r, col("_src") === col("id"))
        .select(col("_dst"),
          expr(s"${dampMicros}L * (rank_micros div (1000000L * outdeg))" +
            s" + (${dampMicros}L * ((rank_micros % (1000000L * outdeg))" +
            " div outdeg)) div 1000000L")
            .as("_c"))
        .groupBy(col("_dst")).agg(sum(col("_c")).as("_sum"))
      r = nodes.join(contrib, col("id") === col("_dst"), "left")
        .select(col("id"),
          (lit(base) + coalesce(col("_sum"), lit(0L))).as("rank_micros"))
      // truncate the lineage every iteration (round 13): without a
      // reset the final plan nests `iters` join rounds — Catalyst
      // re-plans a doubling tree and the one mega-stage re-derives every
      // earlier iteration's shuffles (text_textrank spent ~3 s of its
      // 4.6 s warm here). r16 measured stride 1 vs 2 interleaved at
      // sf0.1/32: 2.35 vs 2.38 s min, indistinguishable. localCheckpoint
      // keeps the rank table DISTRIBUTED (a collect would cap the node
      // set at one JVM's memory — wrong for a 100M-word vocabulary);
      // the reset is skipped on the last pass: the final join is
      // materialized below instead.
      if (i < iters) { r = r.localCheckpoint(); checkpoints += r }
    }
    // materialize under the kernel path's eager contract, then release
    // everything this call cached: the edge and node caches and the
    // local checkpoints (persisted RDDs; the ranks no longer read them)
    val ranks = r.persist()
    ranks.count()
    checkpoints.result().foreach(_.queryExecution.logical.foreach {
      case l: LogicalRDD => l.rdd.unpersist(blocking = false)
      case _ => ()
    })
    e.unpersist()
    nodes.unpersist()
    ep.unpersist()
    ranks
  }

  /** The single-task rank kernel behind the small-graph fast path: the
    * EXACT integer iteration of the distributed loop (same two-term
    * overflow-safe floor per edge, same `base + Σ contrib` per node,
    * same node set src∪dst) over in-memory edge arrays. Long addition is
    * associative and every intermediate obeys the documented
    * damp·N·10^6 bound, so the result is bit-identical to the
    * relational path regardless of edge order. Runs INSIDE one executor
    * task (mapPartitions after repartition(1)) — never on the driver. */
  private def rankKernel[K](it: Iterator[(K, K)], iters: Int,
      dampMicros: Long): Iterator[(K, Long)] = {
    val idx = scala.collection.mutable.HashMap.empty[K, Int]
    val srcs = new scala.collection.mutable.ArrayBuffer[Int]()
    val dsts = new scala.collection.mutable.ArrayBuffer[Int]()
    def id(k: K): Int = idx.getOrElseUpdate(k, idx.size)
    it.foreach { case (s, d) => srcs += id(s); dsts += id(d) }
    val n = idx.size
    val outdeg = new Array[Long](n)
    var i = 0
    while (i < srcs.length) { outdeg(srcs(i)) += 1L; i += 1 }
    val base = 1000000L - dampMicros
    var r = Array.fill(n)(1000000L)
    var t = 0
    while (t < iters) {
      val nr = Array.fill(n)(base)
      var j = 0
      while (j < srcs.length) {
        val u = srcs(j)
        val rm = r(u)
        val od = outdeg(u)
        val den = 1000000L * od
        // identical to the SQL expression in the iterative path:
        // damp·(r div (10^6·outdeg)) + (damp·((r mod (10^6·outdeg)) div
        // outdeg)) div 10^6 — all terms non-negative, so Long `/` and
        // `%` coincide with SQL `div`/`mod` floor semantics
        nr(dsts(j)) += dampMicros * (rm / den) +
          (dampMicros * ((rm % den) / od)) / 1000000L
        j += 1
      }
      r = nr
      t += 1
    }
    val ranks = r
    idx.iterator.map { case (k, ix) => (k, ranks(ix)) }
  }
}
