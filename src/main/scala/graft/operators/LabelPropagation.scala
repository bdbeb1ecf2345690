package graft.operators

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

/** Synchronous label propagation (Raghavan et al. 2007, "Near linear
  * time algorithm to detect community structures in large-scale
  * networks") — community detection over a neighbor graph, the
  * clustering complement to [[ConnectedComponents]]: CC answers "what is
  * transitively reachable" (any bridge merges two groups), LPA answers
  * "where do the DENSE neighborhoods lie" (a single bridge edge loses
  * the vote against either side's internal degree). A corpus build uses
  * it to cut the ANN/near-dup candidate graph into topical groups for
  * cluster-aware mixing and per-community caps.
  *
  * Determinism (vanilla LPA is famously order-dependent; this variant
  * removes every source of nondeterminism so a SQL oracle can replay it):
  *   - SYNCHRONOUS rounds: every node votes on the PREVIOUS round's
  *     labels (no in-round propagation order to depend on).
  *   - SELF-INCLUSION: a node's own current label joins its neighbors'
  *     votes — damping that breaks the two-colored oscillation
  *     synchronous LPA exhibits on bipartite-ish subgraphs.
  *   - Ties: (count DESC, label ASC) — exact integer comparison.
  *   - FIXED round count, not convergence detection (no job-count
  *     nondeterminism; labels monotonically coarsen and T rounds bound
  *     the label diameter at T hops).
  *
  * Plan shape per round: votes = edges ⋈ labels (hash join on the edge
  * dst), one groupBy (node, label) count with map-side partial
  * aggregation, one argmax groupBy(node) via max(struct) — all linear in
  * |E|, never materializing anything per-community. The graph is cached
  * once; each round ends in `localCheckpoint` (the [[PageRank]] lineage
  * discipline — the tally reads the previous labels twice: neighbor
  * votes + self votes). At 100 TB the candidate graph is the bucketed
  * LSH join's output (~linear in corpus) and each round is two
  * edge-sized shuffles, the qx20/qx71 class.
  */
object LabelPropagation {

  /** @param nodes one column `u` (distinct node ids, non-negative)
    * @param edges columns `u`, `v` — undirected edge set, each pair once
    *              in either orientation (both orientations are derived
    *              internally); self-loops ignored
    * @param iters synchronous rounds (fixed, ≥ 1)
    * @param init  optional WARM-START labels (`u`, `label`) — the
    *              community-maintenance path after [[GraphAnn.admit]]
    *              grows the graph: restart from the previous fixpoint
    *              and new nodes (absent from `init`) enter at their own
    *              id. A converged labeling is a FIXPOINT of the update
    *              (spec-pinned: one more round returns it unchanged),
    *              so maintenance rounds after a small delta touch far
    *              fewer labels than a cold start.
    * @return columns `u`, `label` — the community id a node converged
    *         to (labels are node ids; a community's id is whichever of
    *         its members' ids won the votes) */
  def run(nodes: DataFrame, edges: DataFrame, iters: Int,
          init: Option[DataFrame] = None): DataFrame = {
    require(iters >= 1, "need at least one round")
    // Size gates for the driver-local replay ([[SizeGate]]): each
    // synchronous round costs a join + two aggregations + a lineage cut —
    // per-round JOB latency that dominates wall time when the graph is
    // metadata-sized (LSH candidate graphs track the near-dup rate, not
    // the corpus). Below the gates the identical integer vote —
    // synchronous, self-inclusive, (count DESC, label ASC) — replays on
    // the driver; spec-pinned equal to the distributed rounds. The
    // warm-start frame goes through the node gate too, so an over-limit
    // init sends the whole run to the edge-shuffle rounds, the 100 TB
    // path. Defaults are driver-heap-sized; raise on a production driver
    // via the confs.
    (for {
      eArr <- EdgesGate.probe(edges.select(col("u"), col("v")))
      nArr <- NodesGate.probe(nodes.select(col("u")))
      initArr <- init.fold(Option(Option.empty[Array[Row]]))(
        i => NodesGate.probe(i.select(col("u"), col("label"))).map(Some(_)))
    } yield localRun(nodes.sparkSession, nArr.map(_.getLong(0)),
      eArr.map(r => (r.getLong(0), r.getLong(1))), iters,
      initArr.map(warmStart)))
      .getOrElse(runDistributed(nodes, edges, iters, init))
  }

  val EdgesGate = SizeGate("spark.graft.lpa.localMaxEdges", 1000000L)
  val NodesGate = SizeGate("spark.graft.lpa.localMaxNodes", 1000000L)

  /** Warm-start rows as the distributed left join sees them: a NULL
    * `label` is absent (the node starts at its own id) and a NULL `u` joins
    * no node, so both rows are dropped. */
  private def warmStart(rows: Array[Row]): Array[(Long, Long)] =
    rows.collect { case r if !r.isNullAt(0) && !r.isNullAt(1) => (r.getLong(0), r.getLong(1)) }

  /** Driver-local replay of the EXACT distributed dataflow — the same
    * vote multiset (each undirected edge delivers the neighbor's
    * previous-round label, every labeled node adds its own), the same
    * integer tie (count DESC, label ASC), the same warm-start coalesce.
    * All-integer, so the labeling is bit-identical to the rounds. */
  private def localRun(spark: org.apache.spark.sql.SparkSession,
                       nodeArr: Array[Long], edgeArr: Array[(Long, Long)],
                       iters: Int, init: Option[Array[(Long, Long)]]): DataFrame = {
    var labels = new java.util.HashMap[Long, Long](nodeArr.length * 2)
    init match {
      case None => nodeArr.foreach(u => labels.put(u, u))
      case Some(prev) =>
        val p = new java.util.HashMap[Long, Long]()
        prev.foreach { case (u, l) => p.put(u, l) }
        nodeArr.foreach(u => labels.put(u, p.getOrDefault(u, u)))
    }
    val und = new Array[Long](edgeArr.length * 4) // (dst, src) both ways
    var m = 0
    edgeArr.foreach { case (u, v) =>
      if (u != v) { und(m) = u; und(m + 1) = v; und(m + 2) = v; und(m + 3) = u; m += 4 }
    }
    for (_ <- 1 to iters) {
      // votes(u)(label) -> count
      val votes = new java.util.HashMap[Long, java.util.HashMap[Long, Long]]()
      def add(u: Long, l: Long): Unit = {
        val t = votes.computeIfAbsent(u, _ => new java.util.HashMap[Long, Long]())
        t.merge(l, 1L, (a, b) => a + b)
      }
      var i = 0
      while (i < m) {
        val u = und(i); val v = und(i + 1)
        if (labels.containsKey(v)) add(u, labels.get(v))
        i += 2
      }
      labels.forEach((u, l) => add(u, l))
      val next = new java.util.HashMap[Long, Long](votes.size() * 2)
      votes.forEach { (u, t) =>
        var bestL = 0L; var bestC = -1L
        t.forEach { (l, c) =>
          if (c > bestC || (c == bestC && l < bestL)) { bestL = l; bestC = c }
        }
        next.put(u, bestL)
      }
      labels = next
    }
    val out = new java.util.ArrayList[org.apache.spark.sql.Row](labels.size())
    val sorted = new java.util.TreeMap[Long, Long](labels)
    sorted.forEach((u, l) => out.add(org.apache.spark.sql.Row(u, l)))
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("u",
        org.apache.spark.sql.types.LongType, nullable = true),
      org.apache.spark.sql.types.StructField("label",
        org.apache.spark.sql.types.LongType, nullable = true)))
    spark.createDataFrame(out, schema)
  }

  /** The edge-shuffle rounds — the 100 TB path (and the spec's
    * equivalence anchor for the local replay). */
  def runDistributed(nodes: DataFrame, edges: DataFrame, iters: Int,
                     init: Option[DataFrame] = None): DataFrame = {
    val nodesC = nodes.select(col("u")).cache()
    // drop self-loops BEFORE symmetrizing — filtering only the forward
    // orientation would let a reversed self-loop through as one extra vote
    val noLoop = edges.select(col("u"), col("v")).where(col("u") =!= col("v"))
    val und = noLoop
      .unionByName(noLoop.select(col("v").as("u"), col("u").as("v")))
      .cache()
    var labels = init match {
      case None => nodesC.select(col("u"), col("u").as("label"))
      case Some(prev) => nodesC
        .join(prev.select(col("u"), col("label").as("l0")), Seq("u"), "left")
        .select(col("u"), coalesce(col("l0"), col("u")).as("label"))
    }
    for (_ <- 1 to iters) {
      // each edge (u,v) delivers v's current label to u; plus u's own
      val votes = und
        .join(labels.withColumnRenamed("u", "v"), "v")
        .select(col("u"), col("label"))
        .unionByName(labels)
      labels = votes
        .groupBy("u", "label").agg(count(lit(1)).as("c"))
        .groupBy("u")
        .agg(max(struct(col("c"), (-col("label")).as("neg"))).as("b"))
        .select(col("u"), (-col("b.neg")).as("label"))
        .localCheckpoint()
    }
    nodesC.unpersist(false); und.unpersist(false)
    labels
  }

  /** Per-community MODULARITY audit (Newman & Girvan 2004) of a
    * labeling: n_nodes, intra-edge count e_in, degree mass d_sum and
    * the community's contribution q_c = e_c/m − (d_c/2m)² in exact
    * integer surrogates — coverage micro ⌊10⁶·e_c div m⌋ minus the
    * SQUARED MILLI-TRUNCATED degree fraction ⌊10³·d_c div 2m⌋². The
    * truncate-before-square order is deliberate: squaring d_c itself
    * overflows a Long past ~1.5M edges, while the milli-first spelling
    * is safe at any edge count (the qx91 surrogate trade; worst-case
    * truncation error ~2·10⁻³ on a statistic read at 10⁻¹ granularity).
    * Q = Σ_c q_micro/10⁶; near 0 ⇒ the partition is no better than
    * random wiring — the audit that says whether an LPA cut found real
    * structure.
    *
    * Plan shape: two hash joins of the edge list against the labels,
    * one community groupBy with map-side partials, the scalar m
    * cross-joined in (the PageRank dangling-mass shape).
    *
    * @param labels columns `u`, `label`
    * @param edges  columns `u`, `v` — undirected, each pair once */
  def modularity(labels: DataFrame, edges: DataFrame): DataFrame = {
    val la = labels.select(col("u").as("ua"), col("label").as("ca"))
    val lb = labels.select(col("u").as("ub"), col("label").as("cb"))
    val tagged = edges
      .join(la, col("u") === col("ua"))
      .join(lb, col("v") === col("ub"))
    val m = edges.agg(count(lit(1)).as("m"))
    val dmass = tagged.select(col("ca").as("community"))
      .unionByName(tagged.select(col("cb").as("community")))
      .groupBy("community").agg(count(lit(1)).as("d_sum"))
    val ein = tagged.where(col("ca") === col("cb"))
      .groupBy(col("ca").as("community")).agg(count(lit(1)).as("e_in"))
    val nodes = labels.groupBy(col("label").as("community"))
      .agg(count(lit(1)).as("n_nodes"))
    nodes
      .join(ein, Seq("community"), "left")
      .join(dmass, Seq("community"), "left")
      .crossJoin(m)
      .select(col("community"), col("n_nodes"),
        coalesce(col("e_in"), lit(0L)).as("e_in"),
        coalesce(col("d_sum"), lit(0L)).as("d_sum"), col("m"))
      .withColumn("cov_micro", expr("(1000000 * e_in) div m"))
      .withColumn("deg_milli", expr("(1000 * d_sum) div (2 * m)"))
      .withColumn("q_micro", col("cov_micro") - col("deg_milli") * col("deg_milli"))
      .drop("m")
  }
}
