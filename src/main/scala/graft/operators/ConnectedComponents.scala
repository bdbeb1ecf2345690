package graft.operators

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

/** Distributed connected components by alternating star contraction —
  * the step a production dedup pipeline runs AFTER pair mining: near-dup
  * PAIRS (qx4/qx12/qx14) become duplicate CLUSTERS, each labeled by its
  * minimum member id, so "keep one representative per cluster" is a
  * filter on `node = rep`.
  *
  * Algorithm: the alternating large-star / small-star contraction of
  * Kiveris et al., "Connected Components in MapReduce and Beyond"
  * (SoCC'14) — the published shape for graphs whose edge list does not
  * fit one machine:
  *
  *  - large-star: every node connects its LARGER neighbors to the
  *    minimum of its neighborhood (incl. itself);
  *  - small-star: every node connects its smaller-or-equal neighbors
  *    (and itself) to that minimum;
  *  - alternate until the edge set is stable, at which point every
  *    component is a star centered on its global minimum.
  *
  * Convergence is O(log n) alternations (proven in the paper), vs
  * O(diameter) for naive min-label propagation — the difference between
  * 40 rounds and thousands on a chain-shaped duplicate cluster (crawl
  * snapshots chained A≈B≈C≈… are exactly how near-dup graphs look).
  *
  * Scale shape per round: two hash shuffles of the CURRENT edge list
  * (a groupBy computing neighborhood minima + the join applying them),
  * and the list only shrinks — star contraction strictly reduces
  * non-star edges. Nothing node-indexed ever sits on the driver; the
  * only driver traffic is one count per round for the convergence
  * check. Lineage is cut each round with `localCheckpoint` (the MLlib
  * iterative-algorithm pattern; a cluster deployment would point
  * `spark.checkpoint.dir` at durable storage and use `checkpoint`) —
  * without it, round r's plan nests r copies of the loop body and
  * analysis time grows quadratically.
  */
object ConnectedComponents {

  /** Upper bound on alternations: components contract in O(log n)
    * rounds; 30 covers any graph with < 2³⁰ nodes per component with
    * generous slack. Hitting the bound without converging throws —
    * silently returning a half-contracted labeling would corrupt the
    * dedup keep-list downstream. */
  val MaxRounds = 30

  /** Size gate for the driver-local solve ([[SizeGate]]): the
    * contraction loop pays ~3 bounded jobs per alternation (checkpoint,
    * convergence count, except-all), which DOMINATES wall time when the
    * edge list is metadata-sized — the common case for near-dup pair
    * graphs, whose size tracks the duplicate rate, not the corpus. The
    * gate probes the canonical edge list: rows that pass ARE the edge
    * list, and union-find solves it with no further job; the labeling is
    * IDENTICAL (both paths label every edge-touched node with its
    * component minimum — spec-pinned equal on the same fixtures, gate on
    * and off). Default 1M edges ≈ tens of MB on the driver; raise on a
    * production driver via the conf. */
  val EdgesGate = SizeGate("spark.graft.cc.localMaxEdges", 1000000L)

  /** (node, rep) for every node appearing in `edges0`, where `rep` is
    * the minimum node id of the node's connected component (isolated
    * nodes never appear in an edge list; callers union them back as
    * their own rep if needed). `edges0`'s first two columns are read as
    * the endpoints; self-loops are dropped. */
  def connectedComponents(edges0: DataFrame): DataFrame = {
    val canon = canonical(edges0)
    EdgesGate.probe(canon).map(localSolve(canon.sparkSession, _))
      .getOrElse(contract(canon)._1)
  }

  /** The distributed contraction with the number of alternations used —
    * exposed so tests can pin the O(log n) convergence contract (and the
    * local-gate equivalence) regardless of input size. */
  def run(edges0: DataFrame): (DataFrame, Int) = contract(canonical(edges0))

  /** Canonical undirected edge list (u < v), deduped, lineage cut — the
    * shared entry for both solve paths (the gate probe and, past the
    * gate, the contraction both read the checkpointed blocks, never the
    * pair-mining lineage twice). */
  private def canonical(edges0: DataFrame): DataFrame = {
    val cols = edges0.columns
    edges0
      .select(col(cols(0)).cast("long").as("x"), col(cols(1)).cast("long").as("y"))
      .where(col("x") =!= col("y"))
      .select(least(col("x"), col("y")).as("u"), greatest(col("x"), col("y")).as("v"))
      .distinct()
      .localCheckpoint()
  }

  /** Driver-local union-find over the gate probe's canonical edge rows:
    * zero further jobs. Attaching the larger root under the smaller keeps
    * every root the component minimum, so the labeling is exactly the
    * contraction's (node, min-of-component) set. */
  private def localSolve(spark: SparkSession, es: Array[Row]): DataFrame = {
    val parent = new java.util.HashMap[Long, Long](es.length * 2)
    def find(x: Long): Long = {
      var r = x
      while ({ val p = parent.getOrDefault(r, r); p != r && { r = p; true } }) ()
      var c = x
      while (c != r) { val p = parent.get(c); parent.put(c, r); c = p }
      r
    }
    es.foreach { row =>
      val (ra, rb) = (find(row.getLong(0)), find(row.getLong(1)))
      if (ra != rb) parent.put(math.max(ra, rb), math.min(ra, rb))
    }
    val nodes = new java.util.TreeSet[java.lang.Long]()
    es.foreach { row => nodes.add(row.getLong(0)); nodes.add(row.getLong(1)) }
    val out = new java.util.ArrayList[Row](nodes.size())
    nodes.forEach { nd => out.add(Row(nd.longValue(), find(nd))) }
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("node",
        org.apache.spark.sql.types.LongType, nullable = true),
      org.apache.spark.sql.types.StructField("rep",
        org.apache.spark.sql.types.LongType, nullable = true)))
    spark.createDataFrame(out, schema)
  }

  /** The alternating star contraction over an already-canonical edge
    * list — the 100 TB path. */
  private def contract(canon: DataFrame): (DataFrame, Int) = {
    var edges = canon
    var rounds = 0
    var stable = false
    while (!stable && rounds < MaxRounds) {
      val next = smallStar(largeStar(edges)).localCheckpoint()
      // Stable iff the canonical edge sets are identical; sizes are
      // equal on star-stable sets, so one anti-join direction suffices
      // only with the size check — do both for an airtight fixpoint.
      stable = next.count() == edges.count() &&
        next.exceptAll(edges).isEmpty
      edges.unpersist()
      edges = next
      rounds += 1
    }
    if (!stable)
      throw new IllegalStateException(
        s"connectedComponents did not converge in $MaxRounds alternations")
    // Star-stable: every edge is (rep, member). Centers are their own rep.
    val out = edges.select(col("v").as("node"), col("u").as("rep"))
      .unionByName(edges.select(col("u").as("node"), col("u").as("rep")))
      .distinct()
    (out, rounds)
  }

  /** Incremental maintenance: fold a batch of NEW edges into an existing
    * (node, rep) labeling — the micro-batch pattern for ONLINE cluster
    * upkeep ([[graft.streaming.NearDupStream]] emits pairs; a
    * foreachBatch folds each batch in and rewrites the cluster table).
    * The previous labeling IS a star edge set (member—rep), so the union
    * of those stars with the new edges is a graph whose components are
    * exactly the merged clusters; one contraction run relabels. Cost: a
    * contraction over |prev labels| + |new edges| rows — and the star
    * part is already converged, so the loop closes in O(log) of the NEW
    * chain structure only. Labels are stable: a cluster's rep only ever
    * decreases (new members or merges can introduce a smaller min). */
  def incrementalUpdate(prevLabels: DataFrame, newEdges: DataFrame): DataFrame = {
    val pCols = prevLabels.columns
    val stars = prevLabels.select(col(pCols(0)).as("x"), col(pCols(1)).as("y"))
    val eCols = newEdges.columns
    val fresh = newEdges.select(col(eCols(0)).as("x"), col(eCols(1)).as("y"))
    connectedComponents(stars.unionByName(fresh))
  }

  /** large-star on canonical edges: from each undirected edge's SMALLER
    * endpoint u, the larger endpoint v re-attaches to
    * m(u) = min(Γ(u) ∪ {u}). m(u) ≤ u < v keeps the output canonical. */
  private def largeStar(edges: DataFrame): DataFrame = {
    val sym = edges.select(col("u").as("a"), col("v").as("b"))
      .unionByName(edges.select(col("v").as("a"), col("u").as("b")))
    val m = sym.groupBy("a").agg(min(col("b")).as("mb"))
      .select(col("a"), least(col("mb"), col("a")).as("m"))
    sym.where(col("b") > col("a"))
      .join(m, "a")
      .select(col("m").as("u"), col("b").as("v"))
      .where(col("u") =!= col("v"))
      .distinct()
  }

  /** small-star on canonical edges: from each edge's LARGER endpoint v,
    * all smaller neighbors (and v itself) re-attach to the minimum
    * smaller neighbor m(v). */
  private def smallStar(edges: DataFrame): DataFrame = {
    val m = edges.groupBy("v").agg(min(col("u")).as("m"))
    edges.join(m, "v")
      .where(col("u") =!= col("m"))
      .select(col("m").as("u"), col("u").as("v"))
      .unionByName(m.select(col("m").as("u"), col("v")))
      .where(col("u") =!= col("v"))
      .distinct()
  }
}
