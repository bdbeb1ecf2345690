package graft

import org.apache.spark.sql.functions._

import graft.operators.{GraphAnn, GraphIndex, HybridIndex, IvfAnn}

/** WHY the sf0.01 soak's strict top1 serving recall read 4/10 while
  * the 200k probe read 200/200 — pinned, then fixed (round 17, r16
  * verdict #1).
  *
  * The diagnosis this suite proves: it is NOT tie-breaking and NOT a
  * beam/graph navigation failure — it is SEED COVERAGE. The cells
  * generator signs each vector into exactly one product cell (single
  * band), so the k-NN graph has only within-cell edges and the beam
  * can never leave the probed cells' components. Serving recall is
  * therefore bounded by "did a probed cell contain the true top-1".
  * At n = 500 the trained grid is 4×4 = 16 cells and the pinned 2×2
  * probe covers ~4/16 of a nearly-uninformative quantization (4
  * centroids per half trained on 500 integerized vectors): measured
  * here, every strict miss under the 2-probe budget is a query whose
  * brute top-1 sits OUTSIDE its probed cells, and no miss is a tie
  * (n_tied = 1 throughout) or a within-probed-cells ranking error.
  * At 200k the trained grid is 4096 cells and the same 2×2 probe
  * reads 200/200 — the budget artifact is corpus-size-dependent, the
  * machinery is not.
  *
  * The fix this suite pins: the corpus-size-aware serving budget
  * ([[GraphAnn.serveProbesFor]]) probes the WHOLE grid below the
  * tiny-grid knee (k2 ≤ 8 ⇒ n ≲ 8k, where full-probe seeding is one
  * bounded broadcast join and the first beam cut is already the
  * global top-k — exact serving, the faiss flat-below-the-knee
  * discipline). Under the door default the same corpus serves 10/10
  * strict AND tie-aware, clearing [[GraphAnn.ServeRecallFloorMicro]]
  * — the absolute floor DoorSoak's index and graph modes enforce at serve
  * time. qx126 keeps replaying the 2-probe budget explicitly, so the
  * gate row still oracle-pins the probe/graph/beam machinery. */
class GraphServeQualitySpec extends SparkTestBase {
  private val dir = "/root/testdata/sf0.01"

  test("cells serve at soak scale: 2-probe misses are exactly seed-coverage misses; the size-aware default serves exact and clears the floor") {
    val idx = tmpDir("gsq_idx"); val g = tmpDir("gsq_graph")
    val docs = graft.sources.Tables.documents(spark, dir)
      .select(col("doc_id"), col("text"))
    val raw = graft.sources.Tables.embeddings(spark, dir)
    HybridIndex.build(spark, docs, raw, idx)
    // the soak's explicit cells door at the same sub-knee corpus
    GraphIndex.init(spark, idx, g, expectedFinal = raw.count(),
      generator = "cells")
    val base = HybridIndex.committedBase(spark, idx)
    val k2 = IvfAnn.imiCentroidsFor(base.count())
    assert(k2 === 4L, s"fixture expectation: the 500-doc grid is 4x4, got k2=$k2")
    assert(GraphAnn.serveProbesFor(k2) === 4,
      "below the tiny-grid knee the serving budget must probe the whole grid")
    val books = spark.read.parquet(s"$g/books.parquet")
    val qsFull = base.where(col("vec_id") % 50 === 0)
      .select(col("vec_id").as("qid"), col("iv").as("qiv"), col("n2").as("qn2"))
      .localCheckpoint()

    // brute truth: top-1 id, max cosine, tie count at the max
    val scoredAll = qsFull.crossJoin(base.select(col("vec_id"), col("iv"), col("n2")))
      .where(col("vec_id") =!= col("qid"))
      .withColumn("dot", expr("long_dot(iv, qiv)"))
      .withColumn("cosine", expr(graft.queries.ExtQueries.COSINE))
    val brute = scoredAll
      .groupBy("qid").agg(
        expr("element_at(topk_by(cosine, vec_id, 1), 1)").as("t"),
        max("cosine").as("maxc"))
    val tied = scoredAll
      .join(brute.select(col("qid"), col("maxc")), "qid")
      .where(col("cosine") === col("maxc"))
      .groupBy("qid").agg(count(lit(1)).as("n_tied"))
    val truth = brute.join(tied, "qid")
      .select(col("qid"), col("t.id").as("nn"), col("maxc"), col("n_tied"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2), r.getLong(3))).toMap
    assert(truth.nonEmpty)

    // ---- leg 1: the PINNED 2-probe budget (the qx126 replay) ----
    val splits = spark.read.parquet(s"$g/splits.parquet")
    val served2 = GraphAnn.inlineServeCells(base, books, k2, splits, qsFull,
        k = 4, beam = 4, rounds = 3, probes = IvfAnn.ImiProbesPerLevel)
      .where(col("rk") === 1L)
      .select(col("qid"), col("vec_id"), col("cosine"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    // each query's 2x2 probed cells and each vector's cell
    val probed = IvfAnn.imiProbeCellsL2(
        qsFull.select(col("qid"), col("qiv")), books, k2,
        perLevel = IvfAnn.ImiProbesPerLevel)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val cellOf = IvfAnn.imiCellsL2Kernel(base.select("vec_id", "iv"), books, k2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    var misses2 = 0
    truth.foreach { case (q, (nn, maxc, nTied)) =>
      val (snn, scos) = served2(q)
      assert(nTied === 1L,
        s"query $q: fixture expectation — maxima are untied at this corpus, got $nTied")
      if (snn != nn) {
        misses2 += 1
        // THE CAUSAL PIN: a 2-probe miss means the true top-1's cell
        // was not probed. A miss whose NN was IN a probed cell would
        // be a beam/graph ranking failure — the failure mode the
        // diagnosis excludes.
        assert(!probed(q).contains(cellOf(nn)),
          s"query $q: missed ($scos < $maxc) but the true NN's cell ${cellOf(nn)} " +
            s"WAS probed (${probed(q)}) — a ranking failure, not seed coverage")
      }
    }
    // the corpus genuinely exhibits the artifact under the pinned
    // budget (else this suite stops explaining the soak reading)
    assert(misses2 > 0, "expected 2-probe coverage misses at the 16-cell grid")
    info(s"2-probe strict recall ${truth.size - misses2}/${truth.size}; " +
      s"all $misses2 misses are unprobed-cell misses")

    // ---- leg 2: the DOOR DEFAULT (size-aware budget, full probe) ----
    val servedAuto = GraphIndex.search(spark, idx, g, qsFull)
      .where(col("rk") === 1L)
      .select(col("qid"), col("vec_id"), col("cosine"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    var strict = 0; var quality = 0
    truth.foreach { case (q, (nn, maxc, _)) =>
      val (snn, scos) = servedAuto(q)
      if (snn == nn) strict += 1
      if (scos == maxc) quality += 1
    }
    assert(strict === truth.size,
      s"full-probe serving below the knee must be exact, got $strict/${truth.size}")
    assert(quality === truth.size)
    assert(1000000L * quality / truth.size >= GraphAnn.ServeRecallFloorMicro,
      "the door default must clear the absolute serving floor")
  }
}
