package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Tight per-partition kernels for subspace quantization — the hot
  * inner loops of the IMI/PQ family (assignment, encode, Lloyd
  * training) as `mapPartitions` passes over the raw vectors with the
  * codebook broadcast as plain arrays.
  *
  * Why not the declarative spelling: a broadcast crossJoin that scores
  * every (vector, subspace, centroid) materializes n·ΣK rows through
  * codegen + hash aggregation — at the 100× probe (200k vectors,
  * 2×64-centroid IMI books) that is 25.6M scored rows per Lloyd pass
  * and the entire cost of the qx44 build (70.8 s min-of-3, training-
  * bound). The same arithmetic as a per-partition loop touches each
  * vector once and keeps the argmax in registers — the AhoCorasick /
  * CdcChunker lesson applied to vectors instead of characters. The
  * declarative spellings stay in [[IvfAnn]] / [[ProductQuantizer]]
  * (`*CrossJoin`) as the spec reference: [[graft.QuantKernelsSpec]]
  * pins kernel == crossJoin bit-for-bit, and the DuckDB gate hashes
  * the composition end to end.
  *
  * Semantics (identical to the declarative spelling, which the oracle
  * replays): per subspace, assignment is argmax(2·x·c − ‖c‖²) — the
  * L2 argmin with the per-vector constant dropped — with ties to the
  * SMALLEST cid; Lloyd means are truncating integer `div` over the
  * assigned members, computed by the SAME SQL expression on partial
  * Long sums (addition is associative, so partials are exact); empty
  * clusters keep their previous centroid.
  *
  * Scale: the codebook collect is the bounded K-row LocalRelation
  * round-trip the declarative path already pays per iteration. Partial
  * state per task is ΣK·(dsub+1) longs — 33 MB at the 65536-centroid
  * IMI cap (documented; gate-scale books are KBs). Partials shuffled
  * per iteration: #partitions · ΣK rows, never n.
  */
object QuantKernels {

  /** Collected codebook: cents(sub)(cid) is the dsub-dim centroid over
    * absolute input dims [sub·dsub, (sub+1)·dsub); cn2 its ‖c‖². */
  final case class SubBooks(dsub: Int, cents: Array[Array[Array[Long]]],
                            cn2: Array[Array[Long]]) extends Serializable

  /** Collect a (cid, `subCol`, cv) codebook into dense arrays. cids
    * must be 0..k−1 within each subspace (both book families are). */
  def collectBooks(books: DataFrame, subCol: String, dsub: Int): SubBooks = {
    val rows = books.select(col(subCol).cast("int").as("sub"),
      col("cid").cast("long").as("cid"), col("cv")).collect()
    val nSub = rows.iterator.map(_.getInt(0)).max + 1
    val k = rows.length / nSub
    val cents = Array.ofDim[Array[Long]](nSub, k)
    rows.foreach { r =>
      cents(r.getInt(0))(r.getLong(1).toInt) = r.getSeq[Long](2).toArray
    }
    val cn2 = cents.map(_.map { cv =>
      var s = 0L; var j = 0
      while (j < cv.length) { s += cv(j) * cv(j); j += 1 }
      s
    })
    SubBooks(dsub, cents, cn2)
  }

  /** argmax(2·dot − cn2) over one subspace's centroids, ties to the
    * smallest cid (ascending scan keeps the first maximum). */
  private def bestCid(iv: Array[Long], b: SubBooks, sub: Int): Int = {
    val cents = b.cents(sub); val cn2 = b.cn2(sub)
    val d = b.dsub; val off = sub * d
    var best = Long.MinValue; var bc = 0; var c = 0
    while (c < cents.length) {
      val cv = cents(c)
      var dot = 0L; var j = 0
      while (j < d) { dot += iv(off + j) * cv(j); j += 1 }
      val sc = 2L * dot - cn2(c)
      if (sc > best) { best = sc; bc = c }
      c += 1
    }
    bc
  }

  /** (vec_id, codes ARRAY) — codes(sub) = assigned cid per subspace:
    * the PQ encode / IMI assignment pass. One scan, no exchange. */
  def encode(emb: DataFrame, books: DataFrame, subCol: String,
             dsub: Int): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(collectBooks(books, subCol, dsub))
    emb.select(col("vec_id"), col("iv")).as[(Long, Array[Long])]
      .mapPartitions { it =>
        val b = bc.value
        val nSub = b.cents.length
        it.map { case (id, iv) =>
          val codes = new Array[Long](nSub)
          var s = 0
          while (s < nSub) { codes(s) = bestCid(iv, b, s).toLong; s += 1 }
          (id, codes)
        }
      }.toDF("vec_id", "codes")
  }

  /** [[encode]] with a pass-through cell column: emb(vec_id, cell, iv)
    * → (vec_id, cell, codes) in the SAME kernel pass. Replaces the
    * encode-then-join-cell-back spelling — a corpus-sized shuffle join
    * on vec_id whose right side was a SECOND run of the residual
    * kernel — with zero joins (round 18, guide §2.1 "remove shuffles
    * outright"; QuantKernelsSpec pins it against packed ⋈ cell). */
  def encodeWithCell(emb: DataFrame, books: DataFrame, subCol: String,
                     dsub: Int): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(collectBooks(books, subCol, dsub))
    emb.select(col("vec_id"), col("cell"), col("iv"))
      .as[(Long, Long, Array[Long])]
      .mapPartitions { it =>
        val b = bc.value
        val nSub = b.cents.length
        it.map { case (id, cell, iv) =>
          val codes = new Array[Long](nSub)
          var s = 0
          while (s < nSub) { codes(s) = bestCid(iv, b, s).toLong; s += 1 }
          (id, cell, codes)
        }
      }.toDF("vec_id", "cell", "codes")
  }

  /** Fused IMI assignment + residual: per vector, the per-level argmax
    * cell AND ivr = iv − concat(center₀, center₁) in the SAME pass —
    * replaces assign-then-join (two corpus-sized shuffle joins against
    * the cell table plus two broadcast center joins) with one scan.
    * Bit-identical to `residualizedWith ∘ imiCellsL2`
    * (QuantKernelsSpec pins it); the qx44/qx79b build runs this. */
  def encodeResidual(emb: DataFrame, books: DataFrame, k: Long,
                     dsub: Int = 32): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(collectBooks(books, "lvl", dsub))
    emb.select(col("vec_id"), col("iv")).as[(Long, Array[Long])]
      .mapPartitions { it =>
        val b = bc.value
        val nSub = b.cents.length; val d = b.dsub
        it.map { case (id, iv) =>
          var cell = 0L
          val ivr = new Array[Long](iv.length)
          var s = 0
          while (s < nSub) {
            val c = bestCid(iv, b, s)
            cell = cell * k + c
            val cv = b.cents(s)(c); val off = s * d
            var j = 0
            while (j < d) { ivr(off + j) = iv(off + j) - cv(j); j += 1 }
            s += 1
          }
          (id, cell, ivr)
        }
      }.toDF("vec_id", "cell", "iv")
  }

  /** Per-(query, probed cell) residual ADC tables as ONE kernel pass —
    * the serving-side twin of [[encodeResidual]] (round 18): input
    * (qid, cell, qiv = the query's residual, qrn2), output
    * (qid, cell, qrn2, lutarr) with lutarr(sub·K + code) =
    * ‖c‖² − 2·qiv_sub·c — the [[graft.operators.ProductQuantizer.lutsKeyed]]
    * arithmetic verbatim (each entry independent; the dot accumulates
    * ascending j in exact Longs), in the same (sub, code) order
    * array_sort produced. Replaces, per serve: the queries×cells ×
    * M·Ksub crossJoin + collect_list + per-group array_sort AND the
    * qrn2 join-back that re-ran the whole qRes residualization subtree
    * a second time. QuantKernelsSpec pins kernel == declarative ⋈ qrn2
    * bit-for-bit. */
  def servingLuts(qres: DataFrame, books: DataFrame, subCol: String = "sub",
                  dsub: Int = 8): DataFrame = {
    val spark = qres.sparkSession
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(collectBooks(books, subCol, dsub))
    qres.select(col("qid"), col("cell"), col("qiv"), col("qrn2"))
      .as[(Long, Long, Array[Long], Long)]
      .mapPartitions { it =>
        val b = bc.value
        val nSub = b.cents.length; val d = b.dsub
        it.map { case (qid, cell, qiv, qrn2) =>
          val k = b.cents(0).length
          val lut = new Array[Long](nSub * k)
          var s = 0
          while (s < nSub) {
            val cents = b.cents(s); val cn2 = b.cn2(s); val off = s * d
            var c = 0
            while (c < k) {
              val cv = cents(c)
              var dot = 0L; var j = 0
              while (j < d) { dot += qiv(off + j) * cv(j); j += 1 }
              lut(s * k + c) = cn2(c) - 2L * dot
              c += 1
            }
            s += 1
          }
          (qid, cell, qrn2, lut)
        }
      }.toDF("qid", "cell", "qrn2", "lutarr")
  }

  /** Exhaustive ADC scan with per-partition exact pruning — the qx42
    * hot path as one mapPartitions pass: each task scores its slice of
    * the coded corpus against EVERY query's broadcast LUT (8 lookups +
    * adds per pair, the `pq_adc` arithmetic verbatim) but keeps only
    * the per-partition best `c` per query under (adc ASC, vec_id ASC)
    * — exactly [[graft.functions.TopKBy]]'s total order on
    * (−adc, vec_id), so the downstream global `topk_by` over the
    * pruned union returns the IDENTICAL top-c the unpruned n·q scan
    * would (top-c of a union of per-partition top-c's is exact).
    * What crosses the exchange: q·tasks·c rows instead of n·q — the
    * map-side-combine discipline applied below the aggregate, where
    * the crossJoin spelling materialized every pair through
    * codegen+hash-agg (measured 240 s at the 100× probe's 800M
    * pairs). Self-matches (vec_id == qid) are skipped inline. */
  def adcTopC(packed: DataFrame, luts: DataFrame, c: Int): DataFrame = {
    val spark = packed.sparkSession
    import spark.implicits._
    val lutRows = luts.select(col("qid").cast("long"), col("lutarr")).collect()
      .map(r => (r.getLong(0), r.getSeq[Long](1).toArray))
    val bc = spark.sparkContext.broadcast(lutRows)
    packed.select(col("vec_id"), col("codes")).as[(Long, Array[Long])]
      .mapPartitions { it =>
        val qs = bc.value
        val nq = qs.length
        // Per query: a (adc, vec_id)-ascending sorted keep-array of
        // size ≤ c — the TopKBuffer shape inverted for smallest-first.
        val kA = Array.fill(nq)(new Array[Long](c))
        val kI = Array.fill(nq)(new Array[Long](c))
        val sz = new Array[Int](nq)
        it.foreach { case (vid, codes) =>
          val m = codes.length
          var qi = 0
          while (qi < nq) {
            val (qid, lut) = qs(qi)
            if (qid != vid) {
              val ksub = lut.length / m
              var adc = 0L; var s = 0
              while (s < m) { adc += lut(s * ksub + codes(s).toInt); s += 1 }
              val a = kA(qi); val ids = kI(qi); val n = sz(qi)
              val worse = n == c &&
                (adc > a(c - 1) || (adc == a(c - 1) && vid > ids(c - 1)))
              if (!worse) {
                var pos = if (n == c) c - 1 else { sz(qi) = n + 1; n }
                while (pos > 0 &&
                       (adc < a(pos - 1) || (adc == a(pos - 1) && vid < ids(pos - 1)))) {
                  a(pos) = a(pos - 1); ids(pos) = ids(pos - 1); pos -= 1
                }
                a(pos) = adc; ids(pos) = vid
              }
            }
            qi += 1
          }
        }
        (for {
          qi <- (0 until nq).iterator
          i <- (0 until sz(qi)).iterator
        } yield (qs(qi)._1, kI(qi)(i), kA(qi)(i))).iterator
      }.toDF("qid", "vec_id", "adc")
  }

  /** Size gate for the driver-local training replay ([[SizeGate]]):
    * every Lloyd iteration — kernel or declarative — pays one full Spark
    * job plus a K-row collect, so a `iters`-step training is `iters`
    * sequential jobs even when the corpus slice would fit in a driver
    * array. Below the gate [[trainLoop]] replays the iterations over the
    * probed (vec_id, iv) rows with the very same [[bestCid]] / Long
    * partial sums / truncating `div` mean / empty-cluster-keep
    * arithmetic (QuantKernelsSpec pins kernel == crossJoin == local).
    * Past the gate each iteration is one [[lloydIter]] pass — the
    * 100 TB path. */
  val VecsGate = SizeGate("spark.graft.lloyd.localMaxVecs", 100000L)

  /** `iters` Lloyd iterations over `emb` from `seeds`, size-gated: a
    * driver replay below [[VecsGate]], the per-iteration [[lloydIter]]
    * fold with its LocalRelation round-trip past it. Output schema
    * matches `seeds` (cid, `subCol`, cv) with the caller's column
    * datatypes preserved. */
  def trainLoop(emb: DataFrame, seeds: DataFrame, subCol: String,
                dsub: Int, iters: Int): DataFrame = {
    if (iters <= 0) return seeds
    val spark = emb.sparkSession
    VecsGate.probe(emb.select(col("vec_id"), col("iv"))).map { eArr =>
      val ivs = eArr.map(_.getSeq[Long](1).toArray)
      var b = collectBooks(seeds, subCol, dsub)
      var it = 0
      while (it < iters) { b = lloydLocalIter(ivs, b); it += 1 }
      val subT = seeds.schema(subCol).dataType
      val cidT = seeds.schema("cid").dataType
      val out = new java.util.ArrayList[org.apache.spark.sql.Row]()
      var sub = 0
      while (sub < b.cents.length) {
        var c = 0
        while (c < b.cents(sub).length) {
          val cidV: Any =
            if (cidT == org.apache.spark.sql.types.IntegerType) c else c.toLong
          val subV: Any =
            if (subT == org.apache.spark.sql.types.IntegerType) sub else sub.toLong
          out.add(org.apache.spark.sql.Row(cidV, subV, b.cents(sub)(c).toSeq))
          c += 1
        }
        sub += 1
      }
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("cid", cidT, nullable = true),
        org.apache.spark.sql.types.StructField(subCol, subT, nullable = true),
        org.apache.spark.sql.types.StructField("cv",
          org.apache.spark.sql.types.ArrayType(
            org.apache.spark.sql.types.LongType, containsNull = true),
          nullable = true)))
      spark.createDataFrame(out, schema)
    }.getOrElse {
      (1 to iters).foldLeft(seeds.select(col("cid"), col(subCol), col("cv"))) {
        (books, _) =>
          val step = lloydIter(emb, books, subCol, dsub)
          spark.createDataFrame(java.util.Arrays.asList(step.collect(): _*), step.schema)
      }
    }
  }

  /** One driver-local Lloyd iteration — the [[lloydIter]] arithmetic
    * verbatim: [[bestCid]] assignment, exact Long partial sums,
    * truncating `div` mean, empty clusters keep their centroid. */
  private def lloydLocalIter(ivs: Array[Array[Long]], b: SubBooks): SubBooks = {
    val nSub = b.cents.length; val k = b.cents(0).length; val d = b.dsub
    val sums = Array.ofDim[Long](nSub, k, d)
    val cnts = Array.ofDim[Long](nSub, k)
    ivs.foreach { iv =>
      var sub = 0
      while (sub < nSub) {
        val c = bestCid(iv, b, sub)
        cnts(sub)(c) += 1L
        val off = sub * d; val s = sums(sub)(c)
        var j = 0
        while (j < d) { s(j) += iv(off + j); j += 1 }
        sub += 1
      }
    }
    val cents2 = Array.tabulate(nSub, k) { (sub, c) =>
      if (cnts(sub)(c) > 0L) {
        val n = cnts(sub)(c); val s = sums(sub)(c)
        Array.tabulate(d)(j => s(j) / n)
      } else b.cents(sub)(c)
    }
    val cn2 = cents2.map(_.map { cv =>
      var s = 0L; var j = 0
      while (j < cv.length) { s += cv(j) * cv(j); j += 1 }
      s
    })
    SubBooks(d, cents2, cn2)
  }

  /** One Lloyd iteration over all subspaces in one pass: assign each
    * vector per subspace, accumulate per-(sub, cid, dim) partial sums
    * per task, then a ΣK-row aggregation computes the truncating-mean
    * codebook (`s div n`, the declarative expression verbatim). Empty
    * clusters keep their previous centroid. Returns (cid, subCol, cv)
    * — the input schema, ready for the next iteration's collect. */
  def lloydIter(emb: DataFrame, books: DataFrame, subCol: String,
                dsub: Int): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(collectBooks(books, subCol, dsub))
    val partials = emb.select(col("vec_id"), col("iv")).as[(Long, Array[Long])]
      .mapPartitions { it =>
        val b = bc.value
        val nSub = b.cents.length; val k = b.cents(0).length; val d = b.dsub
        val sums = Array.ofDim[Long](nSub, k, d)
        val cnts = Array.ofDim[Long](nSub, k)
        it.foreach { case (_, iv) =>
          var sub = 0
          while (sub < nSub) {
            val c = bestCid(iv, b, sub)
            cnts(sub)(c) += 1L
            val off = sub * d; val s = sums(sub)(c)
            var j = 0
            while (j < d) { s(j) += iv(off + j); j += 1 }
            sub += 1
          }
        }
        (for {
          sub <- (0 until nSub).iterator
          c <- (0 until k).iterator if cnts(sub)(c) > 0L
        } yield (sub, c.toLong, cnts(sub)(c), sums(sub)(c).toSeq)).iterator
      }.toDF("sub", "cid", "cnt", "sums")
    val means = partials.groupBy("sub", "cid")
      .agg(sum("cnt").as("n"),
        expr(s"aggregate(collect_list(sums), array_repeat(0L, $dsub), " +
          "(a, x) -> zip_with(a, x, (p, q) -> p + q))").as("ts"))
      .select(col("sub").as("kSub"), col("cid"),
        expr("transform(ts, s -> s div n)").as("tcv"))
    books.select(col("cid"), col(subCol), col("cv"))
      .join(means.withColumnRenamed("kSub", subCol).select(
        col(subCol).cast(books.schema(subCol).dataType).as(subCol),
        col("cid"), col("tcv")), Seq(subCol, "cid"), "left")
      .select(col("cid"), col(subCol), coalesce(col("tcv"), col("cv")).as("cv"))
  }
}
