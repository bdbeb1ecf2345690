package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.IvfAnn

/** Clustered-embedding ANN recall fixture (round-5 verdict #4).
  *
  * The gate corpus's embeddings are iid, so top-5 neighbors are
  * statistical near-ties and every quantizer — hashed, product, trained —
  * ties with random partitioning at equal candidate budget (SURVEY §8.2
  * r5 table). That left the ANN family's central claim ("at the design
  * point, cluster structure carries the recall") argued, not measured.
  * This probe measures it: a synthetic corpus with REAL cluster
  * structure — `clusters` gaussian-ish clusters, within-cluster noise a
  * fraction of the center scale — re-runs the qx13/qx15/qx16
  * recall@5-vs-candidates sweep against brute-force ground truth.
  *
  * Corpus construction is pure integer expressions (the quadratic-residue
  * family the indexes themselves use, different salts), fully distributed
  * — `spark.range(n)`, no driver-side data, no RNG:
  *   center(c, d) = qr(c·1000003 + d·97 + 5)  mod 2001 − 1000   (±1000)
  *   noise(v, d)  = qr(v·1000003 + d·97 + 7)  mod (2·ns+1) − ns (±ns)
  *   iv(v, d)     = center(v mod clusters, d)·1000 + noise(v, d)·1000
  * where qr(h) = (h mod p)² mod p, p = 2³¹−1. At ns = 500 the expected
  * within-cluster distance is ~½ the between-cluster distance — tight
  * enough that a query's true top-5 live in its own cluster, loose
  * enough that cluster members straddle several hashed Voronoi cells
  * (the regime where training must beat hashing).
  *
  * Output: one markdown table row per (index, probes) — recall@5
  * averaged over the query set (vec_id % 50 == 0) and mean candidates
  * per query — plus one JSON line for the record.
  */
object RecallProbe {

  /** (vec_id, iv, n2) with `clusters` planted clusters. */
  def clusteredCorpus(spark: SparkSession, n: Long, clusters: Int,
                      noiseScale: Int): DataFrame =
    spark.range(n).select(
      col("id").as("vec_id"),
      expr(s"""transform(sequence(0, 63), d -> (
          (((id % $clusters) * 1000003 + d * 97 + 5) % 2147483647) *
          (((id % $clusters) * 1000003 + d * 97 + 5) % 2147483647)
          % 2147483647 % 2001 - 1000) * 1000L + (
          ((id * 1000003 + d * 97 + 7) % 2147483647) *
          ((id * 1000003 + d * 97 + 7) % 2147483647)
          % 2147483647 % ${2 * noiseScale + 1} - $noiseScale) * 1000L
        )""").as("iv"))
      .withColumn("n2", expr("long_dot(iv, iv)"))

  /** ANISOTROPIC variant: cluster centers vary ONLY in dims 0–7, noise
    * everywhere — the regime real embeddings live in (information
    * concentrated in a low-rank subspace). The IMI's second half then
    * quantizes pure noise: its product cells collapse to effectively
    * one level. The fix under test: a PCA rotation + alternating
    * dimension allocation that spreads the informative components
    * across both halves (qx28's operator composed with qx15's index). */
  def anisoCorpus(spark: SparkSession, n: Long, clusters: Int,
                  noiseScale: Int): DataFrame =
    spark.range(n).select(
      col("id").as("vec_id"),
      expr(s"""transform(sequence(0, 63), d ->
          CASE WHEN d < 8 THEN (
            (((id % $clusters) * 1000003 + d * 97 + 5) % 2147483647) *
            (((id % $clusters) * 1000003 + d * 97 + 5) % 2147483647)
            % 2147483647 % 2001 - 1000) * 1000L ELSE 0L END + (
          ((id * 1000003 + d * 97 + 7) % 2147483647) *
          ((id * 1000003 + d * 97 + 7) % 2147483647)
          % 2147483647 % ${2 * noiseScale + 1} - $noiseScale) * 1000L
        )""").as("iv"))
      .withColumn("n2", expr("long_dot(iv, iv)"))

  /** CORRELATED-noise variant: centers in dims 0–7 as [[anisoCorpus]],
    * but the noise is a rank-8 mixture — noise(v,·) = Σ_k c_vk · u_k
    * over 8 shared integer directions — so the covariance is genuinely
    * non-diagonal. This is the regime PCA/OPQ-style rotation exists
    * for: [[anisoCorpus]]'s iid noise leaves nothing to rotate (its
    * covariance is already diagonal), which the aniso run demonstrates
    * as an honest negative. */
  def corrCorpus(spark: SparkSession, n: Long, clusters: Int): DataFrame =
    spark.range(n).select(
      col("id").as("vec_id"),
      expr(s"""transform(sequence(0, 63), d ->
          CASE WHEN d < 8 THEN (
            (((id % $clusters) * 1000003 + d * 97 + 5) % 2147483647) *
            (((id % $clusters) * 1000003 + d * 97 + 5) % 2147483647)
            % 2147483647 % 2001 - 1000) * 1000L ELSE 0L END +
          aggregate(sequence(0, 7), 0L, (acc, k) -> acc +
            (((id * 1000003 + k * 97 + 7) % 2147483647) *
             ((id * 1000003 + k * 97 + 7) % 2147483647)
             % 2147483647 % 1401 - 700) *
            (((CAST(k AS BIGINT) * 1000003 + d * 97 + 3) % 2147483647) *
             ((CAST(k AS BIGINT) * 1000003 + d * 97 + 3) % 2147483647)
             % 2147483647 % 3 - 1)) * 1000L
        )""").as("iv"))
      .withColumn("n2", expr("long_dot(iv, iv)"))

  private val COSINE =
    "CAST(dot AS DOUBLE) / (sqrt(CAST(n2 AS DOUBLE)) * sqrt(CAST(qn2 AS DOUBLE)))"

  /** Exact cosine + top-5 over a (qid, vec_id) candidate set — the shared
    * tail of qx2/qx3/qx13/qx15/qx16. */
  private def top5(cand: DataFrame, base: DataFrame, q: DataFrame): DataFrame =
    cand.join(base, "vec_id").join(broadcast(q), "qid")
      .withColumn("dot", expr("long_dot(iv, qiv)"))
      .withColumn("cosine", expr(COSINE))
      .groupBy("qid").agg(expr("topk_by(cosine, vec_id, 5)").as("tk"))
      .select(col("qid"), explode(col("tk.id")).as("vec_id"))

  /** recall@5 vs brute-force truth + mean candidates/query. */
  private def score(cand: DataFrame, base: DataFrame, q: DataFrame,
                    truth: Map[Long, Set[Long]]): (Double, Double) = {
    val nq = truth.size.toDouble
    val candPerQ = cand.groupBy("qid").count().agg(avg("count")).head().getDouble(0)
    val hits = top5(cand, base, q).collect()
      .count(r => truth.getOrElse(r.getLong(0), Set.empty)(r.getLong(1)))
    (hits / (5.0 * nq), candPerQ)
  }

  def main(args: Array[String]): Unit = {
    if (args.headOption.contains("hybrid")) { hybridMain(args.drop(1)); return }
    val n = args.headOption.map(_.toLong).getOrElse(20000L)
    val clusters = if (args.length > 1) args(1).toInt else 50
    val noiseScale = if (args.length > 2) args(2).toInt else 500
    val mode = if (args.length > 3) args(3) else "iso"
    val spark = GraftSession("graft-recall-probe")

    val base = (mode match {
      case "aniso" => anisoCorpus(spark, n, clusters, noiseScale)
      case "corr"  => corrCorpus(spark, n, clusters)
      case _       => clusteredCorpus(spark, n, clusters, noiseScale)
    }).persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val q = base.where(col("vec_id") % 50 === 0)
      .select(col("vec_id").as("qid"), col("iv").as("qiv"), col("n2").as("qn2"))

    // Ground truth: brute force, the qx2 shape.
    val truthDf = top5(
      base.crossJoin(broadcast(q)).where(col("vec_id") =!= col("qid"))
        .select("qid", "vec_id"), base, q)
    val truth = truthDf.collect().groupBy(_.getLong(0))
      .map { case (k, rs) => k -> rs.map(_.getLong(1)).toSet }

    def noSelf(c: DataFrame) =
      c.where(col("vec_id") =!= col("qid")).select("qid", "vec_id")

    val results = scala.collection.mutable.ArrayBuffer.empty[(String, Int, Double, Double)]

    // Flat hashed IVF (qx13's index), nprobe sweep.
    val kFlat = IvfAnn.centroidsFor(n)
    val cents = IvfAnn.centroids(spark, kFlat)
    val assign = IvfAnn.assignments(base, cents)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    for (np <- Seq(2, 4, 8, 16)) {
      val cand = noSelf(broadcast(IvfAnn.probes(q, cents, np)).join(assign, "cid"))
      val (r, c) = score(cand, base, q, truth)
      results += (("flat_hashed", np, r, c))
    }

    // IMI product cells (qx15's index), perLevel sweep.
    val kImi = IvfAnn.imiCentroidsFor(n)
    val books = IvfAnn.imiCodebooks(spark, kImi)
    val cells = IvfAnn.imiCells(base, books, kImi)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    for (pl <- Seq(2, 3, 4)) {
      val cand = noSelf(broadcast(IvfAnn.imiProbeCells(q, books, kImi, pl)).join(cells, "cell"))
      val (r, c) = score(cand, base, q, truth)
      results += (("imi", pl, r, c))
    }

    // PCA-rotated hashed IMI (aniso mode): rotate with qx28's operator,
    // allocate eigen-ordered components ALTERNATELY to the two halves
    // (even components → half 0, odd → half 1) so the informative
    // subspace splits evenly, re-integerize, rebuild the SAME hashed
    // index on the rotated vectors. Candidates still rescore exact
    // cosine on the RAW vectors — the rotation serves only the coarse
    // index, exactly how OPQ-style preprocessing is deployed.
    if (mode == "aniso" || mode == "corr") {
      import graft.operators.EmbeddingPca
      val dbl = base.select(col("vec_id"), expr("transform(iv, x -> CAST(x AS DOUBLE))").as("v"))
      val pcs = EmbeddingPca.principalComponents(dbl, EmbeddingPca.Dims)
      val rot = EmbeddingPca.project(dbl, pcs)
        .select(col("vec_id"), expr(
          "transform(sequence(0, 63), d -> CAST(round(element_at(p, CAST((d div 32) + (d % 32) * 2 AS INT) + 1)) AS BIGINT))").as("iv"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val rotQ = rot.where(col("vec_id") % 50 === 0)
        .select(col("vec_id").as("qid"), col("iv").as("qiv"))
      val rCells = IvfAnn.imiCells(rot, books, kImi)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      for (pl <- Seq(2, 3, 4)) {
        val cand = noSelf(broadcast(IvfAnn.imiProbeCells(rotQ, books, kImi, pl)).join(rCells, "cell"))
        val (r, c) = score(cand, base, q, truth)
        results += (("imi_pca_rotated", pl, r, c))
      }
    }

    // Trained IMI: the same product cells with each 32-dim half codebook
    // Lloyd-refined on its half of the corpus (L2 cells/probes — the
    // objective training optimizes).
    val tBooks = IvfAnn.trainedImiCodebooks(base, kImi, iters = 2)
    val tCells = IvfAnn.imiCellsL2(base, tBooks, kImi)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    for (pl <- Seq(2, 3, 4)) {
      val cand = noSelf(broadcast(IvfAnn.imiProbeCellsL2(q, tBooks, kImi, pl)).join(tCells, "cell"))
      val (r, c) = score(cand, base, q, truth)
      results += (("imi_trained", pl, r, c))
    }

    // PQ (qx42/qx43's codec): recall through the COMPRESSED ranking —
    // candidates are the ADC top-C, so the measured loss is the
    // quantization error itself (exhaustive variant) or quantization +
    // coarse-probe loss (ivf_pq variant). The refine step rescores exact
    // cosine, exactly as the gate queries do.
    {
      import graft.operators.ProductQuantizer
      val pqBooks = ProductQuantizer.booksN(spark, base)
      val pqCodes = ProductQuantizer.packed(base, pqBooks)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val pqLuts = ProductQuantizer.luts(q, pqBooks)
      def adcCut(adc: DataFrame, c: Int): DataFrame = adc
        .groupBy("qid").agg(expr(s"topk_by(CAST(-adc AS DOUBLE), vec_id, $c)").as("tk"))
        .select(col("qid"), explode(col("tk.id")).as("vec_id"))
      val exhaustive = pqCodes.crossJoin(broadcast(pqLuts))
        .where(col("vec_id") =!= col("qid"))
        .select(col("qid"), col("vec_id"), expr("pq_adc(lutarr, codes)").as("adc"))
      for (c <- Seq(16, 32, 64)) {
        val (r, cc) = score(adcCut(exhaustive, c), base, q, truth)
        results += (("pq_exhaustive", c, r, cc))
      }
      val coarse = noSelf(broadcast(IvfAnn.imiProbeCells(q, books, kImi, 2)).join(cells, "cell"))
      val ivfAdc = coarse.join(pqCodes, "vec_id").join(broadcast(pqLuts), "qid")
        .select(col("qid"), col("vec_id"), expr("pq_adc(lutarr, codes)").as("adc"))
      for (c <- Seq(16, 32, 64)) {
        val (r, cc) = score(adcCut(ivfAdc, c), base, q, truth)
        results += (("ivf_pq", c, r, cc))
      }

      // IVFADC with RESIDUAL encoding (Jégou et al. §IV-B, the system as
      // published): coarse = the TRAINED IMI (its Lloyd means live at
      // data scale, so residuals actually shrink — against the hashed
      // ±1000 centers the residual IS the vector); PQ trains on the
      // residuals; each query carries one LUT per probed cell (its
      // residual differs per cell), and ‖q_res‖² rides along so ADC
      // ranks comparably ACROSS cells. Parameterized over the vector
      // space + coarse index so the rotated composition below reuses
      // the identical system; the `_64bit` twin (Ksub = 256, the TPAMI
      // design point) isolates code coarseness from system structure.
      def residualRows(tag: String, vecsB: DataFrame, qV: DataFrame,
                       tB: DataFrame, tC: DataFrame): Unit = {
        val centersByLvl = (lvl: Int) => broadcast(tB.where(col("lvl") === lvl)
          .select(col("cid").as(s"c$lvl"), col("cv").as(s"cv$lvl")))
        def residualized(vecs: DataFrame, cellsOf: DataFrame, idCol: String): DataFrame =
          vecs.join(cellsOf, idCol)
            .withColumn("c0", expr(s"cell div $kImi"))
            .withColumn("c1", expr(s"cell % $kImi"))
            .join(centersByLvl(0), "c0").join(centersByLvl(1), "c1")
            .withColumn("ivr", expr("zip_with(iv, concat(cv0, cv1), (x, c) -> x - c)"))
        val resBase = residualized(vecsB.select("vec_id", "iv"), tC, "vec_id")
          .select(col("vec_id"), col("cell"), col("ivr").as("iv"))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val qProbe = IvfAnn.imiProbeCellsL2(qV, tB, kImi, 2)
        val qRes = residualized(
          qV.select(col("qid").as("vec_id"), col("qiv").as("iv")), qProbe
            .select(col("qid").as("vec_id"), col("cell")), "vec_id")
          .select(col("vec_id").as("qid"), col("cell"), col("ivr").as("qiv"),
            expr("long_dot(ivr, ivr)").as("qrn2"))
        for ((suffix, ksub) <- Seq(("", None: Option[Long]), ("_64bit", Some(256L)))) {
          val rBooks = ksub.fold(ProductQuantizer.booksN(spark, resBase.select("vec_id", "iv")))(
            k2 => ProductQuantizer.booksN(spark, resBase.select("vec_id", "iv"), k2))
          val rCodes = ProductQuantizer.packed(resBase.select("vec_id", "iv"), rBooks)
            .join(resBase.select("vec_id", "cell"), "vec_id")
          val rLuts = ProductQuantizer.lutsKeyed(qRes, rBooks, Seq("qid", "cell"))
            .join(qRes.select("qid", "cell", "qrn2"), Seq("qid", "cell"))
          val rAdc = rCodes.join(broadcast(rLuts), Seq("cell"))
            .where(col("vec_id") =!= col("qid"))
            .select(col("qid"), col("vec_id"),
              (expr("pq_adc(lutarr, codes)") + col("qrn2")).as("adc"))
          for (c <- Seq(16, 32, 64, 256)) {
            val (r, cc) = score(adcCut(rAdc, c), base, q, truth)
            results += ((tag + suffix, c, r, cc))
          }
        }
      }
      residualRows("ivfadc_residual", base.select("vec_id", "iv"),
        q.select("qid", "qiv"), tBooks, tCells)

      // ROTATION composed into IVFADC, gated on the MEASURED covariance
      // (round-6 verdict #5): rotate only when offDiagRatio says the
      // covariance is genuinely non-diagonal (the corr regime); on
      // aniso the gate measures ~0 and the skip IS the documented
      // no-op path (iid noise leaves nothing to decorrelate). The
      // rotated system re-trains coarse cells and residual codes on
      // the rotated vectors; candidates still rescore exact cosine on
      // the RAW vectors, so recall is comparable row-for-row with the
      // plain system at equal candidate budget.
      if (mode == "aniso" || mode == "corr") {
        import graft.operators.EmbeddingPca
        val dbl = base.select(col("vec_id"),
          expr("transform(iv, x -> CAST(x AS DOUBLE))").as("v"))
        val model = EmbeddingPca.fit(dbl, EmbeddingPca.Dims)
        println(f"rotation gate: offDiagRatio=${model.offDiagRatio}%.4f " +
          s"advised=${EmbeddingPca.rotationAdvised(model)}")
        if (EmbeddingPca.rotationAdvised(model)) {
          // Allocation granularity follows the quantizer (the OPQ
          // balancing insight): the hashed-IMI rows above interleave
          // components across the TWO coarse halves; the PQ system has
          // EIGHT 8-dim subspaces, so eigen-ordered components
          // round-robin across them (component j → subspace j mod 8,
          // slot j div 8 ⇒ dim d carries component (d mod 8)·8 + d div 8)
          // — each subspace gets one top-8 component instead of
          // subspace 0 hoarding the whole informative spectrum.
          val pcs = EmbeddingPca.componentsDF(spark, model)
          val rot = EmbeddingPca.project(dbl, pcs)
            .select(col("vec_id"), expr(
              "transform(sequence(0, 63), d -> CAST(round(element_at(p, CAST((d % 8) * 8 + (d div 8) AS INT) + 1)) AS BIGINT))").as("iv"))
            .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
          val rotQ = rot.where(col("vec_id") % 50 === 0)
            .select(col("vec_id").as("qid"), col("iv").as("qiv"))
          val tBr = IvfAnn.trainedImiCodebooks(rot, kImi, iters = 2)
          val tCr = IvfAnn.imiCellsL2(rot, tBr, kImi)
            .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
          residualRows("ivfadc_rotated", rot, rotQ, tBr, tCr)
        } else
          println("rotation skipped: diagonal covariance (measured no-op - the aniso regime)")
      }
    }

    // Trained k-means (qx16's index), nprobe sweep — same 2-iteration
    // Lloyd budget the gate uses.
    val kKm = IvfAnn.kmeansCentroidsFor(n)
    val trained = IvfAnn.trainedCentroids(base, IvfAnn.centroids(spark, kKm), iters = 2)
    val tAssign = IvfAnn.l2Assignments(base, trained)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    for (np <- Seq(1, 2, 4, 8)) {
      val cand = noSelf(broadcast(IvfAnn.l2Probes(q, trained, np)).join(tAssign, "cid"))
      val (r, c) = score(cand, base, q, truth)
      results += (("trained_kmeans", np, r, c))
    }

    println(s"\nn=$n clusters=$clusters noiseScale=$noiseScale mode=$mode queries=${truth.size} " +
      s"K(flat)=$kFlat K(imi)=$kImi/level K(kmeans)=$kKm")
    println("| index | probes | recall@5 | candidates/query |")
    println("|---|---|---|---|")
    results.foreach { case (idx, p, r, c) =>
      println(f"| $idx | $p | $r%.2f | ${c}%.0f |")
    }
    val json = results.map { case (idx, p, r, c) =>
      s"""{"index":"$idx","probes":$p,"recall5":$r,"cand":$c}"""
    }.mkString("[", ",", "]")
    println(s"""{"recall_probe":{"n":$n,"clusters":$clusters,"noise":$noiseScale,"results":$json}}""")
    spark.stop()
  }

  /** `runMain graft.RecallProbe hybrid [sfDir]` — fused recall of the
    * INDEXED hybrid (qx79b) against the brute-force hybrid (qx79) at
    * equal budget: same query set, same top-10 depth, bit-identical
    * lexical leg and fusion (shared code), so per-query overlap
    * |indexed∩brute|/10 isolates exactly what the IVFADC dense-leg
    * approximation costs the FUSED ranking — the round-9 verdict's
    * asked-for measurement, on the real corpus rather than a synthetic
    * fixture (the hybrid needs text, which the fixtures don't carry). */
  private def hybridMain(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = GraftSession("graft-recall-probe-hybrid")
    def top10(df: DataFrame): Map[Long, Set[Long]] =
      df.select("qid", "doc_id").collect()
        .groupBy(_.getLong(0)).map { case (q, rs) => q -> rs.map(_.getLong(1)).toSet }
    val brute = top10(graft.queries.ExtQueries.qx79(spark, dir))
    val indexed = top10(graft.queries.ExtQueries.qx79b(spark, dir))
    val per = brute.keys.toSeq.sorted.map { q =>
      q -> (indexed.getOrElse(q, Set.empty) & brute(q)).size.toDouble / brute(q).size
    }
    val mean = per.map(_._2).sum / per.size
    val worst = per.minBy(_._2)
    println(f"hybrid fused recall@10 vs brute: mean=$mean%.3f " +
      f"worst=${worst._2}%.2f (qid=${worst._1}) queries=${per.size}")
    println(s"""{"hybrid_recall":{"dir":"$dir","queries":${per.size},""" +
      f""""mean_recall10":$mean%.3f,"worst":${worst._2}%.2f}}""")
    spark.stop()
  }
}
