package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.{IvfAnn, ProductQuantizer}
import graft.sources.Tables

/** [[graft.operators.QuantKernels]]: the mapPartitions quantization
  * kernels must be BIT-identical to the declarative crossJoin
  * spellings they replace — same argmax objective, same smallest-cid
  * tie-break, same truncating Lloyd mean, same empty-cluster
  * fallback. The corpus is the real sf0.001 embeddings table, so the
  * comparison covers genuine value distributions, not toy vectors. */
class QuantKernelsSpec extends SparkTestBase {
  private val dir = "/root/testdata/sf0.001"

  private def base: DataFrame = {
    Tables.embeddings(spark, dir).select(col("vec_id"),
      expr("transform(embedding, x -> CAST(floor(x * 1000000.0 + 0.5) AS BIGINT))").as("iv"))
  }

  private def booksKey(df: DataFrame, subCol: String): Map[(Int, Long), Seq[Long]] =
    df.select(col(subCol).cast("int"), col("cid").cast("long"), col("cv")).collect()
      .map(r => (r.getInt(0), r.getLong(1)) -> r.getSeq[Long](2).toSeq).toMap

  test("trained IMI codebooks: kernel Lloyd == crossJoin Lloyd, both iterations") {
    val b = base
    val k = IvfAnn.imiCentroidsFor(b.count())
    val kern = booksKey(IvfAnn.trainedImiCodebooks(b, k, iters = 2), "lvl")
    val ref = booksKey(IvfAnn.trainedImiCodebooksCrossJoin(b, k, iters = 2), "lvl")
    assert(kern == ref, "kernel-trained IMI codebooks diverged from the crossJoin spelling")
  }

  test("size-gated local train loop == distributed lloydIter fold (forced past the gate)") {
    // Round 17: trainLoop takes a driver-local replay below the gate
    // (the path the kernel==crossJoin pins above now exercise); force
    // the gate shut and pin the distributed fold against it, IMI and
    // PQ shapes plus the 64-dim flat case.
    val b = base
    val k = IvfAnn.imiCentroidsFor(b.count())
    val localImi = booksKey(IvfAnn.trainedImiCodebooks(b, k, iters = 2), "lvl")
    val localPq = booksKey(ProductQuantizer.booksN(spark, b), "sub")
    val kFlat = IvfAnn.kmeansCentroidsFor(b.count())
    val localFlat = IvfAnn.trainedCentroids(b, IvfAnn.centroids(spark, kFlat), iters = 2)
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toSeq).toMap
    try {
      spark.conf.set(graft.operators.QuantKernels.VecsGate.key, "0")
      assert(booksKey(IvfAnn.trainedImiCodebooks(b, k, iters = 2), "lvl") == localImi,
        "IMI train loop: local path diverged from the distributed fold")
      assert(booksKey(ProductQuantizer.booksN(spark, b), "sub") == localPq,
        "PQ train loop: local path diverged from the distributed fold")
      assert(IvfAnn.trainedCentroids(b, IvfAnn.centroids(spark, kFlat), iters = 2)
        .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toSeq).toMap == localFlat,
        "flat train loop: local path diverged from the distributed fold")
    } finally spark.conf.unset(graft.operators.QuantKernels.VecsGate.key)
    // and the flat case against its declarative lloydStep reference
    val ref = IvfAnn.trainedCentroidsCrossJoin(b, IvfAnn.centroids(spark, kFlat), iters = 2)
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toSeq).toMap
    assert(localFlat == ref,
      "trainedCentroids gated loop diverged from the lloydStep fold")
  }

  test("IMI L2 cell assignment: kernel == crossJoin (argmax + tie-break)") {
    val b = base
    val k = IvfAnn.imiCentroidsFor(b.count())
    val books = IvfAnn.trainedImiCodebooks(b, k, iters = 1)
    val kern = IvfAnn.imiCellsL2Kernel(b, books, k).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val ref = IvfAnn.imiCellsL2(b, books, k).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(kern == ref, "kernel cell assignment diverged from the crossJoin spelling")
  }

  test("fused assign+residual == assignment-then-center-subtraction") {
    import org.apache.spark.sql.functions.{broadcast, expr}
    val b = base
    val k = IvfAnn.imiCentroidsFor(b.count())
    val books = IvfAnn.trainedImiCodebooks(b, k, iters = 1)
    val fused = graft.operators.QuantKernels.encodeResidual(b, books, k).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getSeq[Long](2).toSeq)).toMap
    // the join spelling: kernel cells + per-level broadcast center joins
    val cells = IvfAnn.imiCellsL2(b, books, k)
    val byLvl = (lvl: Int) => broadcast(books.where(col("lvl") === lvl)
      .select(col("cid").as(s"c$lvl"), col("cv").as(s"cv$lvl")))
    val ref = b.join(cells, "vec_id")
      .withColumn("c0", expr(s"cell div $k")).withColumn("c1", expr(s"cell % $k"))
      .join(byLvl(0), "c0").join(byLvl(1), "c1")
      .withColumn("ivr", expr("zip_with(iv, concat(cv0, cv1), (x, c) -> x - c)"))
      .select("vec_id", "cell", "ivr").collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getSeq[Long](2).toSeq)).toMap
    assert(fused == ref, "fused residual kernel diverged from the join spelling")
  }

  test("PQ training: kernel booksN == crossJoin booksN") {
    val b = base
    val kern = booksKey(ProductQuantizer.booksN(spark, b), "sub")
    val ref = booksKey(ProductQuantizer.booksNCrossJoin(spark, b), "sub")
    assert(kern == ref, "kernel-trained PQ codebooks diverged from the crossJoin spelling")
  }

  test("ADC scan kernel equals the crossJoin spelling end-to-end (qx42)") {
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getInt(1)) -> (r.getLong(2), math.round(r.getDouble(3) * 1e9)))
      .toMap
    val kern = rows(graft.queries.ExtQueries.qx42(spark, dir))
    val ref = rows(graft.queries.ExtQueries.qx42CrossJoin(spark, dir))
    assert(kern == ref, "per-partition ADC pruning changed the refined top-k")
  }

  test("PQ encode: kernel packed == crossJoin packed") {
    val b = base
    val books = ProductQuantizer.booksN(spark, b)
    val kern = ProductQuantizer.packed(b, books).collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1).toSeq).toMap
    val ref = ProductQuantizer.packedCrossJoin(b, books).collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1).toSeq).toMap
    assert(kern == ref, "kernel encode diverged from the crossJoin spelling")
  }

  test("packedWithCell == packed joined back to the cell table (round 18)") {
    // The fused pass-through replaces the encode-then-join-cell-back
    // spelling in the IVFADC build; codes AND cell must both survive
    // bit-identical on the real residual table.
    val b = base
    val k = IvfAnn.imiCentroidsFor(b.count())
    val tBooks = IvfAnn.trainedImiCodebooks(b, k, iters = 2)
    val res = graft.operators.QuantKernels.encodeResidual(b, tBooks, k)
      .localCheckpoint()
    val books = ProductQuantizer.booksN(spark, res.select("vec_id", "iv"))
    val fused = ProductQuantizer.packedWithCell(res, books).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getSeq[Long](2).toSeq))).toMap
    val ref = ProductQuantizer.packed(res.select("vec_id", "iv"), books)
      .join(res.select("vec_id", "cell"), "vec_id").collect()
      .map(r => r.getLong(0) -> ((r.getLong(2), r.getSeq[Long](1).toSeq))).toMap
    assert(fused == ref, "fused cell pass-through diverged from the join spelling")
  }

  test("servingLuts == lutsKeyed joined back to qrn2 (round 18, the serve's LUT kernel)") {
    // The serving-side twin of the encode kernels: per (query, probed
    // cell), the packed ADC table AND the riding qrn2 must be
    // bit-identical to the declarative crossJoin + array_sort spelling
    // plus its qrn2 join-back, on real residualized queries.
    val b = base
    val k = IvfAnn.imiCentroidsFor(b.count())
    val tBooks = IvfAnn.trainedImiCodebooks(b, k, iters = 2)
    val res = graft.operators.QuantKernels.encodeResidual(b, tBooks, k)
      .localCheckpoint()
    val books = ProductQuantizer.booksN(spark, res.select("vec_id", "iv"))
    // Queries = every 5th vector's residual against its OWN cell plus a
    // second probed cell (cell+1 mod k²) — exercises multi-cell keys.
    val qres = res.where(col("vec_id") % 5 === 0)
      .select(col("vec_id").as("qid"), col("cell"), col("iv").as("qiv"))
      .withColumn("cell", explode(array(col("cell"), pmod(col("cell") + 1, lit(k * k)))))
      .withColumn("qrn2", expr("long_dot(qiv, qiv)"))
      .localCheckpoint()
    def keyed(df: DataFrame) = df.select("qid", "cell", "qrn2", "lutarr").collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> ((r.getLong(2), r.getSeq[Long](3).toSeq)))
      .toMap
    val kern = keyed(graft.operators.QuantKernels.servingLuts(qres, books))
    val ref = keyed(ProductQuantizer.lutsKeyed(qres, books, Seq("qid", "cell"))
      .join(qres.select("qid", "cell", "qrn2"), Seq("qid", "cell")))
    assert(kern == ref, "servingLuts kernel diverged from the declarative LUT spelling")
  }
}
