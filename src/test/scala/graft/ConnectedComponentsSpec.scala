package graft

import org.apache.spark.sql.functions._

import graft.operators.ConnectedComponents

/** [[ConnectedComponents]] — alternating star contraction. Proofs:
  * exact agreement with a driver-side union-find on a mixed synthetic
  * graph (chains + a clique + pseudo-random pairs + dups/self-loops),
  * and the O(log n) convergence contract on the worst case for label
  * propagation (a long path), which would need diameter rounds naively. */
class ConnectedComponentsSpec extends SparkTestBase {
  import spark.implicits._

  private def unionFind(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (a, b) =>
      if (a != b) { val (ra, rb) = (find(a), find(b)); if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb) }
    }
    // Root every chain, then label by component minimum (roots are minima
    // because unions always attach the larger root under the smaller).
    parent.keys.toSeq.map(k => k -> find(k)).toMap
  }

  test("matches union-find on a mixed graph with dups and self-loops") {
    val chain = (0L until 50L).sliding(2).map(p => (p(0), p(1))).toSeq
    val clique = (101L to 109L).map(i => (100L, i))
    val pseudo = (0 until 120).map { i =>
      ((i.toLong * 7919) % 400, (i.toLong * 104729 + 11) % 400)
    }
    val noise = Seq((7L, 7L), (3L, 2L), (2L, 3L), (3L, 2L)) // self-loop + dups
    val all = chain ++ clique ++ pseudo ++ noise
    val exp = unionFind(all)
    val got = ConnectedComponents.connectedComponents(all.toDF("a", "b"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // Exactly the nodes with a real (non-self-loop) edge, each labeled
    // with its component minimum.
    val realNodes = all.filter(e => e._1 != e._2).flatMap(e => Seq(e._1, e._2)).toSet
    assert(got.keySet == realNodes)
    realNodes.foreach(n => assert(got(n) == exp(n), s"node $n: got ${got(n)}, want ${exp(n)}"))
  }

  test("the size-gated local union-find equals the distributed contraction") {
    // Round 17: connectedComponents() takes a driver-local solve below
    // the measured-edge-count gate; the labeling must be identical to the
    // alternating contraction (run) on the same mixed fixture.
    val chain = (0L until 50L).sliding(2).map(p => (p(0), p(1))).toSeq
    val clique = (101L to 109L).map(i => (100L, i))
    val pseudo = (0 until 120).map { i =>
      ((i.toLong * 7919) % 400, (i.toLong * 104729 + 11) % 400)
    }
    val all = chain ++ clique ++ pseudo ++ Seq((7L, 7L), (3L, 2L), (2L, 3L))
    val local = ConnectedComponents.connectedComponents(all.toDF("a", "b"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val dist = ConnectedComponents.run(all.toDF("a", "b"))._1
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(local === dist)
  }

  test("a 300-node path converges in O(log n) alternations, not O(n)") {
    val path = (1000L until 1300L).sliding(2).map(p => (p(0), p(1))).toSeq
    val (df, rounds) = ConnectedComponents.run(path.toDF("a", "b"))
    val got = df.collect().map(r => r.getLong(0) -> r.getLong(1))
    assert(got.length == 300 && got.forall(_._2 == 1000L))
    assert(rounds <= 12, s"path took $rounds alternations — label-propagation-like, not logarithmic")
  }

  test("incremental edge-wave folding equals batch components on all edges") {
    // The online dedup pattern: pairs arrive in waves; each wave folds
    // into the standing cluster table. The final labeling must equal
    // one batch run over every edge — including merges where a late
    // edge bridges two previously separate clusters.
    val chainA = (0L until 20L).sliding(2).map(p => (p(0), p(1))).toSeq
    val chainB = (50L until 70L).sliding(2).map(p => (p(0), p(1))).toSeq
    val bridge = Seq((19L, 50L)) // merges A and B — arrives LAST
    val all = chainA ++ chainB ++ bridge
    val waves = Seq(chainA, chainB, bridge)
    val folded = waves.foldLeft(Seq.empty[(Long, Long)].toDF("node", "rep")) {
      (labels, wave) => ConnectedComponents.incrementalUpdate(labels, wave.toDF("a", "b"))
    }.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val batch = ConnectedComponents.connectedComponents(all.toDF("a", "b"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(folded == batch, "incremental folding diverged from batch")
    assert(folded.values.toSet == Set(0L), "bridge merge did not relabel cluster B")
  }

  test("the one-probe size gate labels identically at every threshold") {
    // connectedComponents probes the canonical edge list once with
    // limit(max + 1): at max = the canonical count it solves locally, at
    // count - 1 (and at 0, which skips the probe) it contracts.
    import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
    val chain = (0L until 30L).sliding(2).map(p => (p(0), p(1))).toSeq
    val two = (0L until 10L).sliding(2).map(p => (p(0), p(1))).toSeq ++
      (20L until 30L).sliding(2).map(p => (p(1), p(0))) ++ Seq((3L, 4L), (25L, 20L))
    val fixtures: Seq[(String, Seq[(Option[Long], Option[Long])])] = Seq(
      "chain" -> chain.map { case (a, b) => (Some(a), Some(b)) },
      "two components" -> two.map { case (a, b) => (Some(a), Some(b)) },
      "empty" -> Seq.empty,
      "null endpoint" -> Seq((Some(1L), None), (None, Some(2L)), (Some(2L), Some(3L))),
      "self-loop" -> Seq((Some(5L), Some(5L)), (Some(6L), Some(7L)), (Some(7L), Some(7L))))
    val prev = spark.conf.getOption(ConnectedComponents.EdgesGate.key)
    try for ((name, edges) <- fixtures) {
      val real = edges.collect { case (Some(a), Some(b)) if a != b => (a, b) }
      val canonCount = real.map { case (a, b) => (a min b, a max b) }.distinct.size.toLong
      val exp = unionFind(real)
      def label(max: Option[Long]): (Map[Long, Long], Boolean) = {
        max match {
          case Some(m) => spark.conf.set(ConnectedComponents.EdgesGate.key, m.toString)
          case None => spark.conf.unset(ConnectedComponents.EdgesGate.key)
        }
        val df = ConnectedComponents.connectedComponents(edges.toDF("a", "b"))
        val local = df.queryExecution.analyzed.collectLeaves().forall(_.isInstanceOf[LocalRelation])
        (df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap, local)
      }
      for ((max, wantLocal) <- Seq(Some(0L) -> false, Some(canonCount) -> (canonCount > 0),
                                   Some(canonCount - 1) -> false, None -> true)) {
        val (got, local) = label(max)
        assert(got == exp, s"$name at max=$max")
        assert(local == wantLocal, s"$name at max=$max took the ${if (local) "local" else "distributed"} branch")
      }
    } finally prev match {
      case Some(v) => spark.conf.set(ConnectedComponents.EdgesGate.key, v)
      case None => spark.conf.unset(ConnectedComponents.EdgesGate.key)
    }
  }

  test("empty and self-loop-only inputs produce empty labelings") {
    assert(ConnectedComponents.connectedComponents(
      Seq.empty[(Long, Long)].toDF("a", "b")).count() == 0)
    assert(ConnectedComponents.connectedComponents(
      Seq((5L, 5L)).toDF("a", "b")).count() == 0)
  }
}
