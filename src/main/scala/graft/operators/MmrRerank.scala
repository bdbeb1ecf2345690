package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Maximal-marginal-relevance reranking (Carbonell & Goldstein, SIGIR
  * 1998) — the diversity epilogue RAG retrieval and training-example
  * selection run after top-k: from each query's bounded candidate pool,
  * greedily pick k results maximizing
  * `mmr = λ·rel − (1−λ)·max_{s∈selected} sim(cand, s)` — relevance
  * traded against redundancy with what is already picked, so two
  * near-duplicate high scorers never both survive.
  *
  * The greedy recurrence is inherently sequential in k but k is a small
  * constant, so the loop UNROLLS INTO THE PLAN: step t is an anti-join
  * (pool ∖ picked) + a per-query bounded max — never a driver-side loop
  * over data, never state. All inputs are per-query bounded (pool of m,
  * m² pairwise sims), so the whole rerank costs O(queries · m² · k)
  * rows at any corpus scale and the expensive part stays the retrieval
  * that produced the pool. Determinism for the qx98 oracle: the λ
  * arithmetic is `(λ·rel) − ((1−λ)·pen)` in fixed parenthesization and
  * every argmax packs the shared (mmr DESC, id ASC) order into one
  * struct max.
  */
object MmrRerank {

  /** @param cand  (qid, rk, vec_id, cosine) — each query's pool, rk 1
    *              being the most relevant (the [[graft.queries]] topK
    *              shape).
    * @param pairs (qid, va, vb, sim) — pairwise sims inside each pool,
    *              both orientations present.
    * @return (qid, step, vec_id, mmr), step 1..k in pick order; step 1
    *         is the plain top-1 (empty selected set ⇒ penalty 0). */
  def rerank(cand0: DataFrame, pairs0: DataFrame, k: Int, lambda: Double): DataFrame = {
    // Size gate for the driver-local replay ([[SizeGate]]): the unrolled
    // plan re-references the pool k−1 times through anti-joins and
    // bounded maxes — job latency over rows the caller already bounded
    // to q·m². Below the gate (pairs, then candidates) the identical
    // greedy replays on the driver: λ·rel − (1−λ)·pen in the same fixed
    // parenthesization and the same IEEE ops, pen = max over picked
    // (order-free), ties (mmr DESC, id ASC) — MmrRerankSpec pins local ==
    // plan form. Past the gate the unrolled plan runs unchanged.
    (for {
      pArr <- PairsGate.probe(pairs0.select(col("qid"), col("va"), col("vb"), col("sim")))
      cArr <- PairsGate.probe(cand0.select(col("qid"), col("rk"), col("vec_id"), col("cosine")))
    } yield localRerank(cand0.sparkSession, cArr, pArr, k, lambda))
      .getOrElse(rerankDistributed(cand0, pairs0, k, lambda))
  }

  val PairsGate = SizeGate("spark.graft.mmr.localMaxPairs", 2000000L)

  /** Driver-local replay of the EXACT unrolled recurrence — see
    * [[rerank]]'s gate note. A candidate with no pair row to any picked
    * item is ineligible that step (the inner-join semantics). */
  private def localRerank(spark: org.apache.spark.sql.SparkSession,
                          cArr: Array[org.apache.spark.sql.Row],
                          pArr: Array[org.apache.spark.sql.Row],
                          k: Int, lambda: Double): DataFrame = {
    val om = 1.0 - lambda
    val byQ = cArr.groupBy(_.getLong(0))
    val simByQ = pArr.groupBy(_.getLong(0))
    val out = new java.util.ArrayList[org.apache.spark.sql.Row]()
    byQ.keys.toSeq.sorted.foreach { qid =>
      val cands = byQ(qid)
      val sims = new java.util.HashMap[(Long, Long), java.lang.Double]()
      simByQ.getOrElse(qid, Array.empty[org.apache.spark.sql.Row]).foreach { r =>
        sims.put((r.getLong(1), r.getLong(2)), r.getDouble(3))
      }
      val picked = scala.collection.mutable.ArrayBuffer.empty[Long]
      cands.filter(_.getAs[Number](1).longValue == 1L).foreach { r =>
        out.add(org.apache.spark.sql.Row(qid, 1, r.getLong(2),
          lambda * r.getDouble(3)))
        picked += r.getLong(2)
      }
      var t = 2
      while (t <= k && picked.nonEmpty) {
        var bestId = 0L; var bestMmr = 0.0; var any = false
        cands.foreach { r =>
          val id = r.getLong(2)
          if (!picked.contains(id)) {
            var pen = Double.NaN; var hasPen = false
            picked.foreach { p =>
              val s = sims.get((id, p))
              if (s != null) {
                if (!hasPen || s > pen) pen = s
                hasPen = true
              }
            }
            if (hasPen) {
              val mmr = lambda * r.getDouble(3) - om * pen
              if (!any || mmr > bestMmr || (mmr == bestMmr && id < bestId)) {
                bestId = id; bestMmr = mmr; any = true
              }
            }
          }
        }
        if (any) {
          out.add(org.apache.spark.sql.Row(qid, t, bestId, bestMmr))
          picked += bestId
        }
        t += 1
      }
    }
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("qid",
        org.apache.spark.sql.types.LongType, nullable = true),
      org.apache.spark.sql.types.StructField("step",
        org.apache.spark.sql.types.IntegerType, nullable = true),
      org.apache.spark.sql.types.StructField("vec_id",
        org.apache.spark.sql.types.LongType, nullable = true),
      org.apache.spark.sql.types.StructField("mmr",
        org.apache.spark.sql.types.DoubleType, nullable = true)))
    spark.createDataFrame(out, schema)
  }

  /** The unrolled-into-the-plan form — the path past the size gate (and
    * the spec's equivalence anchor for the local replay). */
  def rerankDistributed(cand0: DataFrame, pairs0: DataFrame, k: Int, lambda: Double): DataFrame = {
    // Cut lineage on both inputs (the PageRank/CC discipline): the
    // greedy references the pool k−1 times and the pairwise sims at
    // every step — without the checkpoint Spark re-derives whatever
    // produced them (for qx98 the full brute retrieval scan) once per
    // reference, turning an O(q·m²) epilogue into k× the retrieval
    // cost. Both are per-query bounded (m and m² rows), so the
    // materialization is small at any corpus size and stays on
    // executors — no driver collect.
    val cand = cand0.localCheckpoint()
    val pairs = pairs0.localCheckpoint()
    val lam = lit(lambda)
    val om = lit(1.0 - lambda)
    val rel = cand.select(col("qid"), col("vec_id"), col("cosine").as("rel"))
    val first = cand.where(col("rk") === 1)
      .select(col("qid"), lit(1).as("step"), col("vec_id"),
        (lam * col("cosine")).as("mmr"))
    (2 to k).foldLeft(first) { (sel, t) =>
      val picked = sel.select(col("qid"), col("vec_id"))
      val pen = rel.join(picked, Seq("qid", "vec_id"), "left_anti")
        .join(pairs.withColumnRenamed("va", "vec_id"), Seq("qid", "vec_id"))
        .join(picked.withColumnRenamed("vec_id", "vb"), Seq("qid", "vb"))
        .groupBy("qid", "vec_id", "rel").agg(max("sim").as("pen"))
      val pick = pen
        .withColumn("mmr", lam * col("rel") - om * col("pen"))
        .groupBy("qid")
        .agg(max(struct(col("mmr"), (-col("vec_id")).as("nid"))).as("b"))
        .select(col("qid"), lit(t).as("step"),
          (-col("b.nid")).as("vec_id"), col("b.mmr").as("mmr"))
      sel.unionByName(pick)
    }
  }
}
