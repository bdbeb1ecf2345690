package graft

import org.apache.spark.sql.functions._

import graft.operators.PageRank

/** Pins the integer-exact PageRank update (qx71's kernel): one
  * hand-computed iteration including the dangling-mass patch, authority
  * ordering on a star graph, and the bounded floor-loss mass contract. */
class PageRankSpec extends SparkTestBase {
  import spark.implicits._

  test("one iteration matches the hand-computed integer update") {
    // 0 -> {1,2}, 1 -> 2, 2 -> 3; node 3 dangling. scale 1e6, n = 4.
    val nodes = Seq(0L, 1L, 2L, 3L).toDF("u")
    val edges = Seq((0L, 1L), (0L, 2L), (1L, 2L), (2L, 3L)).toDF("u", "v")
    val r = PageRank.run(nodes, edges, iters = 1)
      .collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
    // contribs: c0 = 1e6 div 2 = 500000 (to 1 and 2), c1 = 1e6 (to 2),
    // c2 = 1e6 (to 3); dang = 1e6 (node 3), dang div 4 = 250000.
    // r(0) = 150000 + 85*(0 + 250000) div 100        = 362500
    // r(1) = 150000 + 85*(500000 + 250000) div 100   = 787500
    // r(2) = 150000 + 85*(1500000 + 250000) div 100  = 1637500
    // r(3) = 150000 + 85*(1000000 + 250000) div 100  = 1212500
    assert(r === Map(0L -> 362500L, 1L -> 787500L, 2L -> 1637500L, 3L -> 1212500L))
  }

  test("the size-gated local replay equals the distributed iterations (warm start too)") {
    // Round 17: run() takes a driver-local replay below the measured-size
    // gate; ranks must be bit-identical to the edge-shuffle rounds,
    // including the dangling patch and a warm-start init.
    val nodes = Seq(0L, 1L, 2L, 3L, 4L).toDF("u")
    val edges = Seq((0L, 1L), (0L, 2L), (1L, 2L), (2L, 3L), (4L, 0L)).toDF("u", "v")
    for (it <- Seq(1, 3, 8)) {
      val local = PageRank.run(nodes, edges, it)
        .collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
      val dist = PageRank.runDistributed(nodes, edges, it)
        .collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
      assert(local === dist, s"iters=$it")
    }
    val init = Seq((0L, 2000000L), (3L, 500000L)).toDF("u", "r")
    val localW = PageRank.run(nodes, edges, 2, init = Some(init))
      .collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
    val distW = PageRank.runDistributed(nodes, edges, 2, init = Some(init))
      .collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
    assert(localW === distW)
  }

  test("an empty graph ranks nothing on either side of the gate") {
    val nodes = Seq.empty[Long].toDF("u")
    val edges = Seq.empty[(Long, Long)].toDF("u", "v")
    val ranks = for (max <- Seq(None, Some("0"))) yield
      withConf(PageRank.NodesGate.key, max) {
        withConf(PageRank.EdgesGate.key, max) {
          PageRank.run(nodes, edges, iters = 3).collect().toSeq
        }
      }
    assert(ranks == Seq(Seq.empty, Seq.empty))
  }

  test("a NULL warm-start rank is absent on either side of the gate") {
    // (0, NULL) starts node 0 at scale, and (NULL, r) ranks no node, on
    // the local replay as in the distributed left join.
    val nodes = Seq(0L, 1L, 2L).toDF("u")
    val edges = Seq((0L, 1L), (1L, 2L)).toDF("u", "v")
    val init = Seq[(Option[Long], Option[Long])]((Some(0L), None), (None, Some(5L))).toDF("u", "r")
    val ranks = for (max <- Seq(None, Some("0"))) yield
      withConf(PageRank.NodesGate.key, max) {
        withConf(PageRank.EdgesGate.key, max) {
          PageRank.run(nodes, edges, iters = 3, init = Some(init))
            .collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
        }
      }
    val cold = PageRank.run(nodes, edges, iters = 3)
      .collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
    assert(ranks == Seq(cold, cold))
  }

  test("star-graph authority: the hub outranks every spoke") {
    // spokes all point at the hub; the hub links back to every spoke
    val nodes = (0L to 5L).toDF("u")
    val all = ((1L to 5L).map(i => (i, 0L)) ++ (1L to 5L).map(i => (0L, i)))
      .toDF("u", "v")
    val r = PageRank.run(nodes, all, iters = 8)
      .collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
    assert((1L to 5L).forall(i => r(0L) > r(i)))
    // spokes are rank-identical by symmetry
    assert((2L to 5L).forall(i => r(i) === r(1L)))
  }

  test("warm-start reaches the grown graph's fixpoint in fewer rounds") {
    // cold fixpoint of a 20-node affine expander (fast mixing — a ring
    // would need far more rounds to converge at all)
    val nodes = (0L until 20L).toDF("u")
    val edges = (0L until 20L).flatMap(i =>
      Seq((i, (i * 3 + 1) % 20), (i, (i * 5 + 2) % 20), (i, (i * 7 + 3) % 20)))
      .filter { case (a, b) => a != b }
      .toDF("u", "v").distinct()
    val cold = PageRank.run(nodes, edges, iters = 30)
    // the crawl discovers two new chords
    val grown = edges.unionAll(Seq((3L, 11L), (9L, 2L)).toDF("u", "v")).distinct()
    val target = PageRank.run(nodes, grown, iters = 30)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    def dist(df: org.apache.spark.sql.DataFrame): Long =
      df.collect().map(r => math.abs(target(r.getLong(0)) - r.getLong(1))).max
    // warm-started from the old fixpoint, 6 rounds land within tight
    // tolerance of the new fixpoint; a cold 6-round run is far off
    val warm6 = dist(PageRank.run(nodes, grown, iters = 6, init = Some(cold)))
    val cold6 = dist(PageRank.run(nodes, grown, iters = 6))
    assert(warm6 < cold6 / 4,
      s"warm-start should converge much faster: warm=$warm6 cold=$cold6")
    assert(warm6 < 2000L, s"warm-start 6 rounds should be near fixpoint, off by $warm6")
  }

  test("mass is conserved up to bounded floor loss") {
    val nodes = (0L until 10L).toDF("u")
    val edges = (0L until 10L).map(i => (i, (i + 1) % 10)).toDF("u", "v")
    val total = PageRank.run(nodes, edges, iters = 4)
      .agg(sum("r")).collect().head.getLong(0)
    val mass0 = 10L * 1000000L
    // each iteration loses < 2 units per node to the two floor divisions
    assert(total <= mass0 && total >= mass0 - 4 * 10 * 2 - 100)
  }
}
