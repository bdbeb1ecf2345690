package graft

import org.apache.spark.sql.functions._

import graft.operators.{ConnectedComponents, LabelPropagation}

/** [[LabelPropagation]] — synchronous, self-inclusive, tie-deterministic
  * LPA. Pins the behavioral contract (dense groups keep their own labels
  * across a bridge that CC would merge), the damping (self-inclusion
  * breaks two-coloring on bipartite subgraphs), determinism across
  * repartitionings, and exact equality with an independent driver-side
  * replay of the voting rule. */
class LabelPropagationSpec extends SparkTestBase {

  import spark.implicits._

  private def runLpa(edges: Seq[(Long, Long)], n: Long, iters: Int): Map[Long, Long] =
    LabelPropagation.run(
      spark.range(n).select(col("id").as("u")),
      edges.toDF("u", "v"), iters)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  /** Driver-side replay: same synchronous vote (neighbors + self, count
    * DESC then label ASC). */
  private def reference(edges: Seq[(Long, Long)], n: Long, iters: Int): Map[Long, Long] = {
    val adj = (edges ++ edges.map(e => (e._2, e._1)))
      .filter(e => e._1 != e._2).distinct
      .groupBy(_._1).map { case (u, es) => u -> es.map(_._2) }
    var labels = (0L until n).map(u => u -> u).toMap
    for (_ <- 1 to iters) {
      labels = labels.map { case (u, own) =>
        val votes = (adj.getOrElse(u, Seq.empty).map(labels) :+ own)
          .groupBy(identity).map { case (l, vs) => (l, vs.size) }
        u -> votes.toSeq.minBy { case (l, c) => (-c, l) }._1
      }
    }
    labels
  }

  // Two triangles {0,1,2} and {3,4,5} joined by the single bridge 2-3.
  private val bridged = Seq((0L, 1L), (1L, 2L), (0L, 2L), (3L, 4L), (4L, 5L), (3L, 5L), (2L, 3L))

  test("dense communities survive a bridge that CC merges") {
    val lpa = runLpa(bridged, 6, iters = 4)
    assert(lpa(0L) === lpa(1L) && lpa(1L) === lpa(2L))
    assert(lpa(3L) === lpa(4L) && lpa(4L) === lpa(5L))
    assert(lpa(0L) !== lpa(3L), "the bridge must lose against internal density")
    val cc = ConnectedComponents.connectedComponents(bridged.toDF("u", "v"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(cc.values.toSet.size === 1, "CC merges across the bridge")
  }

  test("equals the driver-side synchronous replay (several graphs, several round counts)") {
    val graphs = Seq(
      bridged,
      // path graph
      (0L until 7L).sliding(2).map(s => (s(0), s(1))).toSeq,
      // star
      (1L until 8L).map(i => (0L, i)),
      // two squares + bridge (bipartite-ish pieces)
      Seq((0L, 1L), (1L, 2L), (2L, 3L), (3L, 0L), (4L, 5L), (5L, 6L), (6L, 7L), (7L, 4L), (0L, 4L)))
    for (g <- graphs; it <- Seq(1, 2, 4)) {
      val n = (g.flatMap(e => Seq(e._1, e._2)).max + 1)
      assert(runLpa(g, n, it) === reference(g, n, it), s"graph=$g iters=$it")
    }
  }

  test("the size-gated local replay equals the distributed rounds (warm start too)") {
    // Round 17: run() takes a driver-local replay below the measured-size
    // gate; the labeling must be bit-identical to the edge-shuffle rounds
    // on every fixture class (bridged communities, path, star, bipartite
    // squares), at several round counts, and under a warm-start init.
    val graphs = Seq(
      bridged,
      (0L until 7L).sliding(2).map(s => (s(0), s(1))).toSeq,
      (1L until 8L).map(i => (0L, i)),
      Seq((0L, 1L), (1L, 2L), (2L, 3L), (3L, 0L), (4L, 5L), (5L, 6L), (6L, 7L), (7L, 4L), (0L, 4L)))
    for (g <- graphs; it <- Seq(1, 3)) {
      val n = g.flatMap(e => Seq(e._1, e._2)).max + 1
      val nodesDf = spark.range(n).select(col("id").as("u"))
      val edgesDf = g.toDF("u", "v")
      val local = LabelPropagation.run(nodesDf, edgesDf, it)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val dist = LabelPropagation.runDistributed(nodesDf, edgesDf, it)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(local === dist, s"graph=$g iters=$it")
    }
    // warm start: seed two nodes with a foreign label and replay both paths
    val init = Seq((0L, 9L), (3L, 9L)).toDF("u", "label")
    val nodesDf = spark.range(6).select(col("id").as("u"))
    val edgesDf = bridged.toDF("u", "v")
    val localW = LabelPropagation.run(nodesDf, edgesDf, 2, Some(init))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val distW = LabelPropagation.runDistributed(nodesDf, edgesDf, 2, Some(init))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(localW === distW)
  }

  test("a warm start over the node limit takes the distributed rounds") {
    import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
    // Six nodes pass the node gate at 6; a seven-row init does not, so
    // the run must label exactly as runDistributed, on that branch.
    val nodesDf = spark.range(6).select(col("id").as("u"))
    val edgesDf = bridged.toDF("u", "v")
    val init = (0L until 7L).map(u => (u, 9L - u % 2)).toDF("u", "label")
    val dist = LabelPropagation.runDistributed(nodesDf, edgesDf, 2, Some(init))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    for ((max, wantLocal) <- Seq("6" -> false, "7" -> true))
      withConf(LabelPropagation.NodesGate.key, Some(max)) {
        val df = LabelPropagation.run(nodesDf, edgesDf, 2, Some(init))
        val local = df.queryExecution.analyzed.collectLeaves()
          .forall(_.isInstanceOf[LocalRelation])
        assert(local == wantLocal, s"node limit $max took the wrong branch")
        assert(df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap === dist)
      }
  }

  test("a NULL warm-start label is absent on either side of the gate") {
    // (0, NULL) starts node 0 at its own id, and (NULL, label) labels no
    // node, on the local replay as in the distributed left join.
    val nodesDf = spark.range(3).select(col("id").as("u"))
    val edgesDf = Seq((0L, 1L), (1L, 2L)).toDF("u", "v")
    val init = Seq[(Option[Long], Option[Long])]((Some(0L), None), (None, Some(2L)))
      .toDF("u", "label")
    val labels = for (max <- Seq(None, Some("0"))) yield
      withConf(LabelPropagation.NodesGate.key, max) {
        withConf(LabelPropagation.EdgesGate.key, max) {
          LabelPropagation.run(nodesDf, edgesDf, 2, Some(init))
            .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        }
      }
    assert(labels == Seq.fill(2)(runLpa(Seq((0L, 1L), (1L, 2L)), 3, 2)))
  }

  test("self-inclusion damps the synchronous two-coloring oscillation") {
    // On the single edge 0-1 WITHOUT self votes labels would swap forever:
    // after any odd round {0->1, 1->0}, after even rounds back. With
    // self-inclusion the tie (1 neighbor vote vs 1 self vote) breaks to
    // the smaller label and both converge to 0 — stable across rounds.
    for (it <- Seq(1, 2, 3, 4)) {
      val l = runLpa(Seq((0L, 1L)), 2, it)
      assert(l === Map(0L -> 0L, 1L -> 0L), s"iters=$it")
    }
  }

  test("self-loops are ignored in either orientation (scaladoc contract)") {
    // On edge 0-1, node 1's vote is a 1-1 tie (neighbor label 0 vs own
    // label 1) breaking to 0. A self-loop (1,1) surviving symmetrization
    // would add an extra vote for 1 and flip the outcome 2-1 — so this
    // pins that input self-loops contribute nothing.
    val withLoop = runLpa(Seq((0L, 1L), (1L, 1L)), 2, 1)
    assert(withLoop === runLpa(Seq((0L, 1L)), 2, 1))
    assert(withLoop === Map(0L -> 0L, 1L -> 0L))
  }

  test("isolated nodes keep their own label") {
    val l = runLpa(Seq((0L, 1L)), 4, 3)
    assert(l(2L) === 2L && l(3L) === 3L)
  }

  test("modularity: the LPA cut of planted structure beats the trivial partitions") {
    import org.apache.spark.sql.DataFrame
    // Two 4-cliques joined by one bridge: real structure, Q well above 0.
    def clique(off: Long) = for (i <- 0L until 4L; j <- i + 1 until 4L) yield (off + i, off + j)
    val edges = (clique(0) ++ clique(4) :+ (3L, 4L)).toDF("u", "v")
    val nodes = spark.range(8).select(col("id").as("u"))
    def q(labels: DataFrame): Long =
      LabelPropagation.modularity(labels, edges)
        .agg(sum("q_micro")).collect()(0).getLong(0)
    val lpa = LabelPropagation.run(nodes, edges, 4)
    val qLpa = q(lpa)
    val qOne = q(nodes.select(col("u"), lit(0L).as("label")))
    val qSingletons = q(nodes.select(col("u"), col("u").as("label")))
    // hand check: m=13, communities {0..3} and {4..7}: e_in=6 each,
    // d_sum=13 each -> cov ≈ 461538, deg_milli=500 -> q ≈ 211538 each.
    assert(lpa.select("label").distinct().count() === 2)
    assert(qLpa > 400000L, s"planted structure must score high, got $qLpa")
    assert(qOne === 0L - 1000L * 1000L + 999L * 999L + 1000000L ||
      qOne <= 0L, s"one-community Q must be ~0, got $qOne") // cov=1e6, deg_milli≈1000
    assert(qSingletons < 0L, s"all-singletons Q must be negative, got $qSingletons")
    assert(qLpa > qOne && qLpa > qSingletons)
  }

  test("modularity handles isolated nodes and empty communities' degree mass") {
    val edges = Seq((0L, 1L)).toDF("u", "v")
    val labels = Seq((0L, 0L), (1L, 0L), (2L, 2L)).toDF("u", "label")
    val rows = LabelPropagation.modularity(labels, edges).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(6))).toMap
    // community 0: the single edge is internal; m=1 -> cov=1e6, deg_milli=1000 -> q=0
    assert(rows(0L) === ((2L, 1L, 2L, 0L)))
    // isolated community: no edges, no degree mass, q=0
    assert(rows(2L) === ((1L, 0L, 0L, 0L)))
  }

  test("warm start: a converged labeling is a fixpoint; new nodes enter at their id") {
    import org.apache.spark.sql.DataFrame
    val edges = bridged.toDF("u", "v")
    val nodes = spark.range(6).select(col("id").as("u"))
    def lm(df: DataFrame) = df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val converged = LabelPropagation.run(nodes, edges, 4)
    // one more round from the fixpoint changes nothing
    val again = LabelPropagation.run(nodes, edges, 1, init = Some(converged))
    assert(lm(again) === lm(converged), "a converged labeling must be stable")
    // grow the graph by a pendant node 6 attached to the {3,4,5} triangle:
    // warm-started maintenance with ONE round absorbs it into that
    // community; every old label is untouched
    val grownNodes = spark.range(7).select(col("id").as("u"))
    val grownEdges = (bridged :+ (5L, 6L)).toDF("u", "v")
    val warm = lm(LabelPropagation.run(grownNodes, grownEdges, 1, init = Some(converged)))
    val old = lm(converged)
    assert(warm(6L) === old(5L), "the pendant must join its neighbor's community")
    old.foreach { case (u, l) => assert(warm(u) === l, s"old node $u must keep its label") }
    // the corpus-scale fixpoint claim holds too: round 5 == round 4
    val (labels4, edges2) = {
      val base = queries.ExtQueries.intEmbeddingsFrom(
        sources.Tables.embeddings(spark, "/root/testdata/sf0.001"))
      val sigs = graft.operators.EmbeddingLsh.bandSigs(
        base.select("vec_id", "iv"), graft.operators.EmbeddingLsh.planesFor(base.count()))
      val e = graft.operators.EmbeddingLsh.candidatePairs(sigs)
        .select(col("vec_a").as("u"), col("vec_b").as("v")).localCheckpoint()
      val n = base.select(col("vec_id").as("u"))
      (LabelPropagation.run(n, e, 4).localCheckpoint(), e)
    }
    val n = labels4.select("u")
    val labels5 = LabelPropagation.run(n, edges2, 1, init = Some(labels4))
    assert(lm(labels5) === lm(labels4),
      "the corpus labeling at 4 rounds must already be a fixpoint")
  }

  test("deterministic under repartitioning and input order") {
    val edges = bridged ++ Seq((5L, 6L), (6L, 7L), (5L, 7L))
    val a = LabelPropagation.run(
      spark.range(8).select(col("id").as("u")).repartition(7),
      edges.reverse.toDF("u", "v").repartition(5), 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    val b = runLpa(edges, 8, 4).toSeq.sortBy(_._1)
    assert(a.toSeq === b.map(t => (t._1, t._2)))
  }
}
