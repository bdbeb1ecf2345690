package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Full-batch logistic-classifier training INSIDE the plan — the
  * classifier-distillation step of a curation pipeline (CCNet/fastText
  * discipline: run an expensive labeler — here qx84's Gopher rule
  * composite — over the corpus once, distill it into a linear scorer,
  * serve the scorer at ingest where the labeler is too slow). Each
  * training round is ONE scan of the cached feature table ending in a
  * dimension-sized all-reduce; the weight vector (a few longs) is the
  * only driver-side state — the textbook distributed-GD shape (scan →
  * partial gradient per partition → tree-aggregate → broadcast updated
  * weights as literals of the next round's plan). The bounded per-round
  * collect is the [[IvfAnn]] Lloyd/[[PageRank]] n-count precedent.
  *
  * Determinism (the reason this can face a SQL oracle at all):
  *   - features are milli-scaled Longs; weights micro-scaled Longs.
  *   - the margin z = Σ wⱼ·xⱼ is an EXACT Long (1e-9 scale — order-free
  *     sum), converted to double once.
  *   - the link is the rational fast sigmoid σ̃(z) = 0.5 + z/(2(1+|z|))
  *     — same sigmoid shape (σ̃(0)=.5, ±∞→0/1, monotone), but built
  *     from correctly-rounded IEEE ops only (+, ·, /, abs), so both
  *     engines produce the SAME double bit-for-bit; exp() would differ
  *     by ULPs between libm implementations and break the hash.
  *   - the residual is quantized to milli BEFORE the gradient sum:
  *     gⱼ = Σ rq·xⱼ is an exact Long — partial-aggregation order can
  *     never change a bit (a double gradient sum could).
  *   - the update is integer floor-division: wⱼ ← wⱼ − ⌊gⱼ/(etaDen·n)⌋
  *     (η = 1/etaDen per mean-gradient unit; milli·milli scale makes
  *     ⌊g/(etaDen·n)⌋ exactly the micro-scaled step).
  *
  * Overflow budget: |rq| ≤ 1000, |xⱼ| ≤ ~2000 milli ⇒ |gⱼ| grows ≤ 2e6
  * per row — safe in a Long to ~4·10¹² rows (trillions of documents);
  * |wⱼ| ≤ iters·1e6 keeps z far from 2⁶³. The same bounds make every
  * double cast exact (< 2⁵³).
  */
object LogisticGD {

  /** σ̃ and the quantized residual, as SQL fragments both engines share
    * (ExtOracle repeats these shapes verbatim). */
  private[graft] val P_EXPR = "0.5D + z / (2.0D * (1.0D + abs(z)))"

  /** @param feat  feature table with columns x0..x{dims-1} (milli Longs)
    *              and y (0/1 Long)
    * @param dims  feature count (x0 is conventionally the 1000-milli bias)
    * @param iters full-batch GD rounds
    * @param etaDen learning-rate denominator (η = 1/etaDen)
    * @return final micro-scaled weights w0..w{dims-1}
    * @throws IllegalArgumentException on either side of the size gate,
    *         with the same message, when a row carries a null in
    *         x0..x{dims-1} or y (SQL's `sum` would silently skip the row
    *         while still counting it in n). */
  def train(feat: DataFrame, dims: Int, iters: Int, etaDen: Long = 2L): Array[Long] = {
    require(iters >= 1 && dims >= 1 && etaDen >= 1L)
    // Size gate for the driver-local replay ([[SizeGate]]): each GD
    // round is one scan-and-all-reduce JOB whose latency dominates when
    // the milli-feature table is small. Below the gate the identical
    // update replays on the driver: z is the same left-to-right Long dot
    // (order-free — no overflow by the scaladoc budget), σ̃ the same
    // correctly-rounded IEEE ops in the same order, rq the same
    // floor-quantization, and the gradient sums are exact Longs, so the
    // weight trajectory is bit-identical (spec-pinned against
    // [[trainDistributed]]). Past the gate the scan-per-round loop runs
    // unchanged — the 100 TB path (features are corpus-sized).
    val cols = (0 until dims).map(j => col(s"x$j")) :+ col("y")
    RowsGate.probe(feat.select(cols: _*)).map(trainLocal(_, dims, iters, etaDen))
      .getOrElse(trainDistributed(feat, dims, iters, etaDen))
  }

  val RowsGate = SizeGate("spark.graft.gd.localMaxRows", 2000000L)

  /** Driver-local replay of the EXACT distributed round: same Long
    * margin, same rational sigmoid double ops, same milli quantization,
    * same floor-division update — bit-identical weights. */
  private def trainLocal(rows: Array[org.apache.spark.sql.Row], dims: Int,
                         iters: Int, etaDen: Long): Array[Long] = {
    val n = rows.length.toLong
    require(n > 0, "empty feature table")
    requireNoNulls(rows.count(r => (0 to dims).exists(r.isNullAt)).toLong, dims)
    val xs = rows.map(r => Array.tabulate(dims)(j => r.getLong(j)))
    val ys = rows.map(_.getLong(dims))
    var w = Array.fill(dims)(0L)
    for (_ <- 1 to iters) {
      val g = new Array[Long](dims)
      var i = 0
      while (i < xs.length) {
        val x = xs(i)
        var zL = 0L
        var j = 0
        while (j < dims) { zL += w(j) * x(j); j += 1 }
        val z = zL.toDouble / 1000000000.0
        val p = 0.5 + z / (2.0 * (1.0 + math.abs(z)))
        val rq = math.floor((p - ys(i).toDouble) * 1000.0 + 0.5).toLong
        j = 0
        while (j < dims) { g(j) += rq * x(j); j += 1 }
        i += 1
      }
      w = Array.tabulate(dims)(j => w(j) - Math.floorDiv(g(j), etaDen * n))
    }
    w
  }

  /** The scan-per-round GD loop — the 100 TB path (and the spec's
    * equivalence anchor for the local replay). */
  private[graft] def trainDistributed(feat: DataFrame, dims: Int, iters: Int,
                                      etaDen: Long): Array[Long] = {
    val f = feat.cache()
    try {
      // One scalar pair, once (the PageRank discipline): n and the rows
      // carrying a null feature, which the local replay rejects too.
      val anyNull = ((0 until dims).map(j => col(s"x$j")) :+ col("y"))
        .map(_.isNull).reduce(_ || _)
      val stats = f.agg(count(lit(1)), count(when(anyNull, 1))).collect()(0)
      val n = stats.getLong(0)
      require(n > 0, "empty feature table")
      requireNoNulls(stats.getLong(1), dims)
      var w = Array.fill(dims)(0L)
      for (_ <- 1 to iters) {
        val g = residuals(f, w)
          .agg(sum(expr("rq * x0")).as("g0"),
            (1 until dims).map(j => sum(expr(s"rq * x$j")).as(s"g$j")): _*)
          .collect()(0)
        w = Array.tabulate(dims)(j => w(j) - Math.floorDiv(g.getLong(j), etaDen * n))
      }
      w
    } finally f.unpersist(false)
  }

  private def requireNoNulls(nullRows: Long, dims: Int): Unit =
    require(nullRows == 0,
      s"$nullRows feature rows carry a null in x0..x${dims - 1} or y")

  /** Adds z (double), p (double), rq (milli Long residual p−y) under
    * weights `w` — the scoring pass shared by training and serving. */
  private def residuals(feat: DataFrame, w: Array[Long]): DataFrame =
    withScore(feat, w)
      .withColumn("rq", expr("CAST(floor((p - CAST(y AS DOUBLE)) * 1000.0D + 0.5D) AS BIGINT)"))

  /** Adds z and p = σ̃(z) under weights `w` (weights ride as literals —
    * the broadcast-back of the GD loop). */
  def withScore(feat: DataFrame, w: Array[Long]): DataFrame = {
    val zExpr = w.indices.map(j => s"${w(j)}L * x$j").mkString(" + ")
    feat
      .withColumn("z", expr(s"CAST($zExpr AS DOUBLE) / 1000000000.0D"))
      .withColumn("p", expr(P_EXPR))
  }
}
