package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Facility-location coreset selection (Nemhauser, Wolsey & Fisher 1978
  * greedy on the facility-location objective; the selector behind
  * data-pruning pipelines à la Craig/CRUST and "coverage" coreset work):
  * within each cell, pick R representatives maximizing
  * F(S) = Σ_j max_{s∈S} sim(j, s) — every candidate as covered as
  * possible by its nearest pick. The greedy is (1−1/e)-optimal by
  * submodularity, and like [[MmrRerank]] it UNROLLS INTO THE PLAN:
  * step t = anti-join (candidates ∖ picked) → marginal gain
  * Σ_j max(sim − cov_j, 0) per candidate → one bounded argmax per
  * cell → coverage update. Never a driver loop over data.
  *
  * Everything is integer: `simw` is the caller's similarity in micro
  * units (self-sim 10⁹), so the cross-row gain sums are EXACT Longs in
  * any engine and any summation order — the repo's no-float-accumulation
  * policy (a double Σ here would be partition-order-dependent and could
  * never hash-match the oracle). Ties break (gain DESC, vec_id ASC)
  * packed into the struct max.
  *
  * Scale: inputs are per-cell bounded (the caller caps candidates per
  * cell), so each step is O(cells · C²) narrow rows; coverage is one row
  * per candidate. Lineage is cut on entry and per round (the
  * PageRank/MmrRerank discipline) so whatever corpus-sized scan produced
  * the candidates runs exactly once.
  */
object CoresetSelect {

  /** @param cand0  (cid, vec_id) — each cell's capped candidate set.
    * @param pairs0 (cid, i, j, simw) — ALL ordered candidate pairs per
    *               cell INCLUDING i = j (self-coverage, simw = 10⁹);
    *               simw is similarity in exact integer micro-units.
    * @param r      representatives per cell (cells with fewer
    *               candidates simply stop early).
    * @return (cid, step, vec_id, gain) in pick order — gain is the
    *         marginal facility-location objective the pick added. */
  def greedy(cand0: DataFrame, pairs0: DataFrame, r: Int): DataFrame = {
    // Size gate for the driver-local solve ([[SizeGate]]): the unrolled
    // plan pays one eager coverage checkpoint per step plus the two
    // entry pins — per-round JOB latency over rows the CALLER already
    // bounded to cells·C². Below the gate (pairs, then candidates) the
    // identical all-Long greedy — order-free gain sums, (gain DESC,
    // vec_id ASC) ties — replays on the driver; spec-pinned equal to the
    // unrolled plan. Past the gate the plan form runs unchanged.
    (for {
      pArr <- PairsGate.probe(pairs0.select(col("cid"), col("i"), col("j"), col("simw")))
      cArr <- PairsGate.probe(cand0.select(col("cid"), col("vec_id")))
    } yield localGreedy(cand0.sparkSession,
      cArr.map(x => (x.getLong(0), x.getLong(1))),
      pArr.map(x => (x.getLong(0), x.getLong(1), x.getLong(2), x.getLong(3))), r))
      .getOrElse(greedyDistributed(cand0, pairs0, r))
  }

  val PairsGate = SizeGate("spark.graft.coreset.localMaxPairs", 2000000L)

  /** Driver-local replay of the EXACT unrolled recurrence: per cell,
    * step t picks the available candidate maximizing
    * Σ_j max(simw − cov_j, 0) over its pair rows (self row included),
    * ties (gain DESC, vec_id ASC); coverage then folds max(cov, simw)
    * from the pick's pair rows. All Longs — sums order-free — so the
    * pick sequence and gains are bit-identical to the plan form. */
  private def localGreedy(spark: org.apache.spark.sql.SparkSession,
                          cArr: Array[(Long, Long)],
                          pArr: Array[(Long, Long, Long, Long)], r: Int): DataFrame = {
    val byCell = cArr.groupBy(_._1)
    val pairsByCell = pArr.groupBy(_._1)
    val out = new java.util.ArrayList[org.apache.spark.sql.Row]()
    byCell.keys.toSeq.sorted.foreach { cid =>
      val cands = byCell(cid).map(_._2)
      val ps = pairsByCell.getOrElse(cid, Array.empty[(Long, Long, Long, Long)])
      // sim rows grouped by the candidate that would be picked/scored
      val byI = ps.groupBy(_._2)
      val cov = new java.util.HashMap[Long, Long]()
      cands.foreach(j => cov.put(j, 0L))
      val picked = new java.util.HashSet[Long]()
      var t = 1
      var stop = false
      while (t <= r && !stop) {
        var bestId = 0L; var bestGain = Long.MinValue; var any = false
        cands.foreach { i =>
          if (!picked.contains(i)) {
            // INNER-JOIN mirror (ADVICE r17): a candidate is scoreable —
            // hence pickable — only if at least one of its pair rows
            // lands on a live cov key, exactly like the distributed
            // pairs⋈cov join; a candidate with no such row produces no
            // gains row there and must not be picked here either.
            var g = 0L; var scoreable = false
            byI.getOrElse(i, Array.empty[(Long, Long, Long, Long)]).foreach {
              case (_, _, j, simw) =>
                if (cov.containsKey(j)) {
                  scoreable = true
                  g += math.max(simw - cov.get(j), 0L)
                }
            }
            if (scoreable &&
                (!any || g > bestGain || (g == bestGain && i < bestId))) {
              bestId = i; bestGain = g; any = true
            }
          }
        }
        if (!any) stop = true
        else {
          out.add(org.apache.spark.sql.Row(cid, t, bestId, bestGain))
          picked.add(bestId)
          // INNER-JOIN mirror (ADVICE r17): the distributed cov update
          // joins cov ⋈ pick ⋈ pairs INNER on (cid, pi, j), so only cov
          // keys hit by one of the pick's pair rows survive the step —
          // under the documented "all ordered pairs incl. i=j" contract
          // that is every key, but inputs violating it must degrade the
          // same way on both paths. Rebuild cov from the hit keys only.
          val nc = new java.util.HashMap[Long, Long]()
          byI.getOrElse(bestId, Array.empty[(Long, Long, Long, Long)]).foreach {
            case (_, _, j, simw) =>
              if (cov.containsKey(j)) nc.put(j, math.max(cov.get(j), simw))
          }
          cov.clear(); cov.putAll(nc)
          t += 1
        }
      }
    }
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("cid",
        org.apache.spark.sql.types.LongType, nullable = true),
      org.apache.spark.sql.types.StructField("step",
        org.apache.spark.sql.types.IntegerType, nullable = true),
      org.apache.spark.sql.types.StructField("vec_id",
        org.apache.spark.sql.types.LongType, nullable = true),
      org.apache.spark.sql.types.StructField("gain",
        org.apache.spark.sql.types.LongType, nullable = true)))
    spark.createDataFrame(out, schema)
  }

  /** The unrolled-into-the-plan form — the path past the size gate (and
    * the spec's equivalence anchor for the local solve). */
  def greedyDistributed(cand0: DataFrame, pairs0: DataFrame, r: Int): DataFrame = {
    val cand = cand0.localCheckpoint()
    val pairs = pairs0.localCheckpoint()
    var cov = cand.select(col("cid"), col("vec_id").as("j"), lit(0L).as("cov"))
    var sel: DataFrame = null
    for (t <- 1 to r) {
      val avail =
        if (sel == null) cand
        else cand.join(sel.select(col("cid"), col("vec_id")),
          Seq("cid", "vec_id"), "left_anti")
      val gains = avail
        .join(pairs.withColumnRenamed("i", "vec_id"), Seq("cid", "vec_id"))
        .join(cov, Seq("cid", "j"))
        .groupBy("cid", "vec_id")
        .agg(sum(greatest(col("simw") - col("cov"), lit(0L))).as("gain"))
      val pick = gains.groupBy("cid")
        .agg(max(struct(col("gain"), (-col("vec_id")).as("nid"))).as("b"))
        .select(col("cid"), lit(t).as("step"),
          (-col("b.nid")).as("vec_id"), col("b.gain").as("gain"))
      sel = if (sel == null) pick else sel.unionByName(pick)
      cov = cov
        .join(pick.select(col("cid"), col("vec_id").as("pi")), Seq("cid"))
        .join(pairs.select(col("cid"), col("i").as("pi"), col("j"),
          col("simw").as("ps")), Seq("cid", "pi", "j"))
        .select(col("cid"), col("j"), greatest(col("cov"), col("ps")).as("cov"))
        .localCheckpoint()
    }
    sel
  }
}
