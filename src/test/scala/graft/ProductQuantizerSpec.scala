package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.{IvfAnn, ProductQuantizer}

/** The PQ codec ([[ProductQuantizer]]) behind qx42/qx43/qx44: code-range
  * and determinism invariants, and the qx44 premise — residuals against
  * the TRAINED coarse quantizer carry much less energy than the raw
  * vectors (against the hashed ±1000 centers they would not shrink at
  * all, which is why qx44 exists). Recall itself is checked in-band by
  * the qx118–qx124 audit rows, not asserted here (thresholds would be
  * flaky); these tests pin the structural contracts the codec relies
  * on. */
class ProductQuantizerSpec extends SparkTestBase {

  /** (vec_id, iv, n2) with `clusters` planted clusters, built from pure
    * integer expressions over `spark.range(n)` (no RNG):
    *   center(c, d) = qr(c·1000003 + d·97 + 5) mod 2001 − 1000   (±1000)
    *   noise(v, d)  = qr(v·1000003 + d·97 + 7) mod (2·ns+1) − ns (±ns)
    *   iv(v, d)     = center(v mod clusters, d)·1000 + noise(v, d)·1000
    * where qr(h) = (h mod p)² mod p, p = 2³¹−1. */
  private def clusteredCorpus(n: Long, clusters: Int, noiseScale: Int): DataFrame =
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

  private def corpus(n: Long) = clusteredCorpus(n, 20, 500)

  test("codes are M in-range entries per vector and rebuild identically") {
    val base = corpus(2000)
    val codes = ProductQuantizer.packed(base, ProductQuantizer.booksN(spark, base))
    assert(codes.count() == 2000)
    assert(codes.where(size(col("codes")) =!= ProductQuantizer.M).count() == 0)
    assert(codes.where(expr(
      s"exists(codes, c -> c < 0 OR c >= ${ProductQuantizer.Ksub})")).count() == 0)
    // Training + encode are deterministic end to end (no RNG, integer
    // arithmetic, LocalRelation round-trips) — a rebuild is row-identical.
    val again = ProductQuantizer.packed(base, ProductQuantizer.booksN(spark, base))
    assert(codes.except(again).count() == 0 && again.except(codes).count() == 0)
  }

  test("residuals against the trained IMI carry far less energy than raw vectors") {
    // Sizing matters and IS part of the contract: imiCentroidsFor(n)
    // must yield K² cells ≥ the cluster count or the coarse quantizer
    // cannot isolate clusters and residuals stay center-sized (n = 2000
    // with 20 clusters derives 4²=16 cells and the reduction collapses
    // to ~20% — measured while writing this test). n = 8000 derives
    // 8²=64 cells for 10 clusters: the intended regime.
    val n = 8000L
    val base = clusteredCorpus(n, 10, 500).persist()
    val k = IvfAnn.imiCentroidsFor(n)
    val tBooks = IvfAnn.trainedImiCodebooks(base, k, iters = 2)
    val tCells = IvfAnn.imiCellsL2(base, tBooks, k)
    val centers = (lvl: Int) => broadcast(tBooks.where(col("lvl") === lvl)
      .select(col("cid").as(s"c$lvl"), col("cv").as(s"cv$lvl")))
    val res = base.join(tCells, "vec_id")
      .withColumn("c0", expr(s"cell div $k"))
      .withColumn("c1", expr(s"cell % $k"))
      .join(centers(0), "c0").join(centers(1), "c1")
      .withColumn("ivr", expr("zip_with(iv, concat(cv0, cv1), (x, c) -> x - c)"))
    val Seq(rawE, resE) = res.agg(
      avg(expr("CAST(long_dot(iv, iv) AS DOUBLE)")),
      avg(expr("CAST(long_dot(ivr, ivr) AS DOUBLE)"))).head().toSeq
      .map(_.asInstanceOf[Double]).toSeq
    // Centers at ±1000·1000, noise at ±500·1000: the trained coarse
    // quantizer absorbs the center energy, leaving ≈ the noise floor —
    // comfortably under half the raw energy (measured ≈ 0.2×).
    assert(resE < 0.5 * rawE,
      f"residual energy $resE%.3g not < 0.5 × raw $rawE%.3g — coarse training broken")
    base.unpersist()
  }
}
