package graft.pipeline

import graft.SparkSpec

class GraphSpec extends SparkSpec {
  import spark.implicits._

  test("pageRank: empty edge list → empty frame, no division by zero") {
    val edges = Seq.empty[(String, String)].toDF("s", "t")
    val got = Graph.pageRank(edges, "s", "t", iters = 3)
    assert(got.columns.toSeq == Seq("id", "rank_micros"))
    assert(got.count() == 0L)
  }

  test("pageRank: uniform cycle is a fixed point of the integer update") {
    val edges = Seq(("a", "b"), ("b", "c"), ("c", "a")).toDF("s", "t")
    val got = Graph.pageRank(edges, "s", "t", iters = 5)
      .as[(String, Long)].collect().toMap
    // per-node micros: r0 = 10^6; every node receives
    // 150000 + 850000·(10^6 div 10^6) = 10^6 again — the uniform
    // fixed point holds EXACTLY (no per-N floor loss in this law)
    assert(got == Map("a" -> 1000000L, "b" -> 1000000L, "c" -> 1000000L))
  }

  test("pageRank: star graph, hand-computed two iterations") {
    val edges = Seq(("a", "b"), ("a", "c"), ("b", "a"), ("c", "a"))
      .toDF("s", "t")
    val got = Graph.pageRank(edges, "s", "t", iters = 2)
      .as[(String, Long)].collect().toMap
    // per-node micros, base=150000, r0=10^6 each; contribution =
    // 850000·(r div (10^6·outdeg)) + (850000·((r mod (10^6·outdeg))
    // div outdeg)) div 10^6.
    // iter1: a→{b,c} (outdeg 2): q=0, p=500000 → 425000 each;
    //        b→a, c→a (outdeg 1): q=1, p=0 → 850000 each
    //   r1(a)=150000+2·850000=1850000, r1(b)=r1(c)=575000
    // iter2: a's contrib: q=0, p=925000 → 786250;
    //        b/c's contrib: q=0, p=575000 → 488750
    //   r2(a)=150000+2·488750=1127500, r2(b)=r2(c)=936250
    assert(got == Map("a" -> 1127500L, "b" -> 936250L, "c" -> 936250L))
  }

  test("pageRank: bit-identical under repartitioning") {
    val edges = (1L to 60L)
      .map(i => (i % 12, (i * 7 + 3) % 12)).filter(e => e._1 != e._2)
      .toDF("s", "t")
    val a = Graph.pageRank(edges, "s", "t", iters = 4)
      .as[(Long, Long)].collect().toMap
    val b = Graph.pageRank(edges.repartition(13), "s", "t", iters = 4)
      .as[(Long, Long)].collect().toMap
    assert(a == b, "integer micros ranks must not depend on layout")
    assert(a.values.sum <= 1000000L * a.size,
      "floor division only ever loses mass, never creates it")
    assert(a.values.forall(_ > 0L),
      "per-node micro units must not underflow at any graph size")
  }

  test("pageRank: the iterative path equals the small-graph kernel") {
    val edges = (1L to 60L)
      .map(i => (i % 12, (i * 7 + 3) % 12)).filter(e => e._1 != e._2)
      .toDF("s", "t")
    val kernel = Graph.pageRank(edges, "s", "t", iters = 4)
      .as[(Long, Long)].collect().toMap
    val iterative = Graph.pageRank(edges, "s", "t", iters = 4,
      smallGraphEdgeCap = 0L).as[(Long, Long)].collect().toMap
    assert(iterative == kernel)
  }
}
