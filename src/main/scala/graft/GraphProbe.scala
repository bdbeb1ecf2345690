package graft

import org.apache.spark.sql.functions._

import graft.operators.{EmbeddingLsh, GraphAnn}

/** Scale probe for the graph-ANN family (qx109/qx110): at a probe
  * corpus, time (a) the full k-NN-graph build, (b) incremental
  * admission of a `1/deltaMod` delta into the base-only graph
  * (signatures precomputed — the stored-asset assumption admit
  * states), and (c) the full rebuild the admission replaces, plus the
  * touched-node count that decides the regime: touched ≈ delta × 8
  * bands × bucket occupancy (~n/2^p, i.e. ~32-49 under planesFor), so
  * incremental wins only when delta ≪ n/400 — the steady-ingest
  * regime — and a bulk delta should just rebuild. Measured at 50k
  * random vectors: delta 14% → touched 100%, admit 20-30 s vs rebuild
  * 13.5 s (rebuild wins, as the analysis predicts); delta 0.1% →
  * touched 38%, admit 8.5-10 s vs rebuild 12.7 s (incremental wins
  * 1.5×). Recorded in SURVEY §8.2 qx110.
  *
  * Usage: runMain graft.GraphProbe (<dir>|gen:<n>) [reps] [deltaMod]
  * Prints one JSON line. In the door:/doorcells: modes a NEGATIVE
  * deltaMod is the raw wave modulus (-4 → a 25% bulk wave); positive
  * keeps the drip spelling (modulus deltaMod·100).
  *
  * `gen:<n>` synthesizes n RANDOM vectors (ProbeGen's noise term
  * alone) — the gate corpus's regime. The PLANTED-cluster probe corpus
  * is deliberately not used for the LSH modes: near-identical cluster
  * members share most hyperplane signs, so LSH buckets go quadratic —
  * the known failure mode the celled dedup family (qx50) exists for,
  * inherited by the kNN-graph build through its candidate generator.
  *
  * `cells:<dir>` is the answer, measured: the qx113 cell-built graph
  * on the SAME clustered corpus — 80k vectors build in ~10 s (the LSH
  * build never finished), cell-seeded beam search answers in ~3.4 s at
  * recall 80/80 vs brute top-1. A first design capped cell MEMBERSHIP
  * and probed at 1/80 recall (the periphery vanished from the graph) —
  * kept in the operator scaladoc as the recorded wrong turn. */
object GraphProbe {
  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val reps = if (args.length > 1) args(1).toInt else 3
    val deltaMod = if (args.length > 2) args(2).toLong else 7L
    val spark = GraftSession("graft-graph-probe")
    spark.range(1000).selectExpr("sum(id)").collect()

    def time[A](f: => A): (A, Double) = {
      val t0 = System.nanoTime()
      val a = f
      (a, (System.nanoTime() - t0) / 1e9)
    }

    // cells:<dir> — the CLUSTERED-corpus mode: build the cell-based
    // graph (qx113) where the LSH-based build goes quadratic, and
    // measure a cell-seeded search's recall against brute truth.
    if (dir.startsWith("cells:")) {
      val d = dir.drop(6)
      val base = queries.ExtQueries.intEmbeddingsFrom(
        spark.read.parquet(s"$d/embeddings.parquet")).localCheckpoint()
      val n = base.count()
      val asg = queries.ExtQueries.kmeansAsg(spark, d).localCheckpoint()
      val (g, cellBuildSec) = time {
        GraphAnn.knnGraphFromCells(base, asg, k = 4).localCheckpoint()
      }
      val edges = g.count()
      val qs = base.where(pmod(col("vec_id"), lit(1000L)) === 0L)
        .select(col("vec_id").as("qid"), col("iv").as("qiv"), col("n2").as("qn2"))
        .localCheckpoint()
      // seeds: the query's own cell members
      val seeds = qs.select(col("qid"))
        .join(asg.select(col("vec_id").as("qid"), col("cid")), "qid")
        .join(asg.select("vec_id", "cid"), "cid")
        .select("qid", "vec_id")
      // recall_top1 is top1-vs-top1 (round 16, r15 advice: counting a
      // hit anywhere in the served beam under this key overstated
      // serving quality) — restrict the served side to rk = 1
      val (found, searchSec) = time {
        GraphAnn.search(g, base, qs, seeds, entry = 0L, beam = 4, rounds = 3)
          .where(col("rk") === 1L)
          .collect().map(r => (r.getLong(0), (r.getLong(2), r.getDouble(3)))).toMap
      }
      val brute = qs.crossJoin(base.select(col("vec_id"), col("iv"), col("n2")))
        .where(col("vec_id") =!= col("qid"))
        .withColumn("dot", expr("long_dot(iv, qiv)"))
        .withColumn("cosine", expr(
          "CAST(dot AS DOUBLE) / (sqrt(CAST(n2 AS DOUBLE)) * sqrt(CAST(qn2 AS DOUBLE)))"))
        .groupBy("qid").agg(expr("topk_by(cosine, vec_id, 1)").as("tk"))
        .select(col("qid"), expr("element_at(tk, 1).id").as("nn"),
          expr("element_at(tk, 1).score").as("maxc"))
        .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
      val hits = brute.count { case (q, (nn, _)) =>
        found.get(q).exists(_._1 == nn) }
      // tie-aware twin next to the strict count (round 17 — the
      // corpus-size-aware reading: strict undercounts where maxima tie)
      val qHits = brute.count { case (q, (_, maxc)) =>
        found.get(q).exists(_._2 == maxc) }
      println(s"""{"n":$n,"cell_build_sec":${"%.2f".format(cellBuildSec)},""" +
        s""""edges":$edges,"search_sec":${"%.2f".format(searchSec)},""" +
        s""""recall_top1":"$hits/${brute.size}","recall_q":"$qHits/${brute.size}","sf":"$d"}""")
      spark.stop()
      return
    }

    // door:<dir> — the COMPOSED wave cost (round 13, r12 verdict #3):
    // HybridIndex on all-but-a-delta, GraphIndex.init over the
    // committed base, then ONE door-shaped wave — index addBatch +
    // GraphIndex.admit (delta sigs, touched-node graph recompute,
    // warm-started LPA over the candidate graph, versioned commit) —
    // timed next to the regime numbers above. doorcells:<dir> runs the
    // SAME wave with the asset on the cells generator (round 15, r14
    // verdict #1 — the occupancy-robust maintenance path); both modes
    // record the heap envelope (r14 verdict #7: the 48 GiB LSH-refresh
    // finding must live in the artifact, not the narrative).
    if (dir.startsWith("door:") || dir.startsWith("doorcells:")) {
      val gen = if (dir.startsWith("doorcells:")) "cells" else "lsh"
      val d = dir.drop(if (gen == "cells") 10 else 5)
      // delta sizing: a positive deltaMod keeps the steady-drip
      // spelling (modulus deltaMod·100 → a ~1/(deltaMod·100) drip); a
      // NEGATIVE deltaMod is the RAW modulus (round 16, r15 verdict
      // #7 — the bulk-wave probe: -4 → a 25% wave, squarely in the
      // admit-vs-rebuild knee's rebuild regime, confirming the cells
      // rebuild also fits the default heap).
      // deltaMod == 0 would make doorMod 0 and pmod(id, 0) a null
      // (false-everywhere) predicate — the probe would time a
      // zero-vector delta and emit a plausible-looking but
      // meaningless line (round 17, r16 advice: mirror the gen:-mode
      // positivity guard here)
      require(deltaMod != 0L,
        "deltaMod must be nonzero in door:/doorcells: modes " +
          "(positive = drip modulus deltaMod*100, negative = raw bulk modulus)")
      val doorMod = if (deltaMod < 0) -deltaMod else deltaMod * 100L
      val docs = spark.read.parquet(s"$d/documents.parquet")
        .select(col("doc_id"), col("text"))
      // NOISE embeddings over the probe corpus's vec_id domain — the
      // gen: regime, like every LSH mode above: the planted-cluster
      // embeddings the probe corpus ships break the LSH candidate
      // generator quadratically (the qx113 finding; the first door
      // probe OOM'd exactly there), and the production answer for
      // clustered spaces is the cell-built graph, not this one.
      val raw = spark.read.parquet(s"$d/embeddings.parquet")
        .select(col("vec_id"))
        .withColumn("embedding", expr(
          """transform(sequence(0, 63), dd -> CAST(
            |  ((vec_id * 1009 + dd * 31 + 3) * 2654435761 % 2147483647 % 721 - 360) / 1000.0
            |AS FLOAT))""".stripMargin))
      val nAll = raw.count()
      val idxOut = java.nio.file.Files.createTempDirectory("graft_gdoor_idx").toString
      val gOut = java.nio.file.Files.createTempDirectory("graft_gdoor_g").toString
      val deltaPred = pmod(col("doc_id"), lit(doorMod)) === 3L
      val deltaPredV = pmod(col("vec_id"), lit(doorMod)) === 3L
      graft.operators.HybridIndex.build(spark,
        docs.where(!deltaPred), raw.where(!deltaPredV), idxOut)
      val (_, initSec) = time {
        graft.operators.GraphIndex.init(spark, idxOut, gOut,
          expectedFinal = nAll, generator = gen)
      }
      val (_, admitIdxSec) = time {
        graft.operators.HybridIndex.addBatch(spark, idxOut,
          docs.where(deltaPred), raw.where(deltaPredV), segKeyOpt = Some("b0"))
      }
      val nDelta = raw.where(deltaPredV).count()
      // the per-batch leg: graph-only admission (touched-bound)
      val (_, waveSec) = time {
        graft.operators.GraphIndex.admit(spark, idxOut, gOut,
          raw.where(deltaPredV).select(col("vec_id").as("id")), "b0")
      }
      // the amortized leg: warm-started community re-propagation
      // (edge-linear per round — the reason it rides the compactEvery
      // cadence, measured here next to the wave it amortizes over)
      val (_, refreshSec) = time {
        graft.operators.GraphIndex.refreshCommunities(spark, idxOut, gOut)
      }
      // SERVE from the maintained asset vs the inline qx109 shape
      // (round 14, r13 verdict #1): what the standing asset saves a
      // query set at probe scale — GraphIndex.search reads the
      // committed snapshot + append-only sigs; the inline path pays
      // corpus signing + candidate join + graph build before its
      // first beam.
      val committed = graft.operators.HybridIndex.committedBase(spark, idxOut)
      val qs = committed.where(pmod(col("vec_id"), lit(1000L)) === 0L)
        .select(col("vec_id").as("qid"), col("iv").as("qiv"), col("n2").as("qn2"))
        .localCheckpoint()
      val nq = qs.count()
      val (nServed, serveAssetSec) = time {
        graft.operators.GraphIndex.search(spark, idxOut, gOut, qs).count()
      }
      val (nInline, serveInlineSec) = time {
        // the shared meta-driven inline twin (round 16 — one dispatch
        // for every asset-vs-inline comparison)
        graft.operators.GraphIndex.inlineServeTwin(spark, gOut,
          committed, qs).count()
      }
      require(nServed == nInline,
        s"asset serve row count diverged from inline: $nServed vs $nInline")
      // serving-quality honesty (round 15): recall@top1 of the asset
      // serve vs brute truth over the same queries — one |q|·n scored
      // pass, the cells: mode's check on the door asset. Top1-vs-top1
      // (round 16, r15 advice): only the serve's rk = 1 row counts —
      // a beam-anywhere hit under a "recall_top1" key overstated it.
      val served = graft.operators.GraphIndex.search(spark, idxOut, gOut, qs)
        .where(col("rk") === 1L)
        .collect().map(r => (r.getLong(0), (r.getLong(2), r.getDouble(3))))
        .toMap
      val brute = qs.crossJoin(committed.select(col("vec_id"), col("iv"), col("n2")))
        .where(col("vec_id") =!= col("qid"))
        .withColumn("dot", expr("long_dot(iv, qiv)"))
        .withColumn("cosine", expr(
          "CAST(dot AS DOUBLE) / (sqrt(CAST(n2 AS DOUBLE)) * sqrt(CAST(qn2 AS DOUBLE)))"))
        .groupBy("qid").agg(expr("topk_by(cosine, vec_id, 1)").as("tk"))
        .select(col("qid"), expr("element_at(tk, 1).id").as("nn"),
          expr("element_at(tk, 1).score").as("maxc"))
        .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
      val recallHits = brute.count { case (qq, (nn, _)) =>
        served.get(qq).exists(_._1 == nn) }
      // TIE-AWARE quality recall + the absolute floor (round 17, r16
      // verdict #1). The corpus-size-aware expectation for the STRICT
      // number above: on small corpora several vectors tie at the
      // exact maximum cosine and the beam may surface a tied id other
      // than the globally smallest, so strict reads BELOW quality
      // there (sf0.01 soak: 4/10 strict, 10/10 tie-aware —
      // GraphServeQualitySpec); at probe scale ties are measure-zero
      // and the two coincide. The floor rides the tie-aware metric —
      // served rk=1 cosine == brute max cosine, exact equality by
      // shared arithmetic — so a real quality collapse fails the
      // probe at ANY corpus size without tie false-alarms.
      val qualityHits = brute.count { case (qq, (_, maxc)) =>
        served.get(qq).exists(_._2 == maxc) }
      val qMicro = 1000000L * qualityHits / math.max(1, brute.size)
      require(qMicro >= graft.operators.GraphAnn.ServeRecallFloorMicro,
        s"door asset serving quality collapsed: tie-aware top1 recall " +
          s"$qualityHits/${brute.size} < floor ${graft.operators.GraphAnn.ServeRecallFloorMicro} micro")
      // heap envelope: Xmx plus the largest single heap pool's peak
      // (pools peak at different times, so a SUM can exceed Xmx and
      // mislead; completing the run under this Xmx is the primary
      // evidence, the pool peak the supporting footprint number)
      val heapMaxGb = Runtime.getRuntime.maxMemory / 1e9
      val heapPeakGb = {
        import scala.jdk.CollectionConverters._
        java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
          .filter(_.getType == java.lang.management.MemoryType.HEAP)
          .map(_.getPeakUsage.getUsed).max / 1e9
      }
      println(s"""{"n":$nAll,"n_delta":$nDelta,"generator":"$gen",""" +
        s""""graph_init_sec":${"%.2f".format(initSec)},""" +
        s""""index_admit_sec":${"%.2f".format(admitIdxSec)},""" +
        s""""graph_wave_sec":${"%.2f".format(waveSec)},""" +
        s""""community_refresh_sec":${"%.2f".format(refreshSec)},""" +
        s""""serve_queries":$nq,""" +
        s""""serve_asset_sec":${"%.2f".format(serveAssetSec)},""" +
        s""""serve_inline_sec":${"%.2f".format(serveInlineSec)},""" +
        s""""recall_top1":"$recallHits/${brute.size}",""" +
        s""""recall_q":"$qualityHits/${brute.size}",""" +
        s""""recall_floor_micro":${graft.operators.GraphAnn.ServeRecallFloorMicro},""" +
        s""""heap_max_gb":${"%.1f".format(heapMaxGb)},""" +
        s""""heap_peak_pool_gb":${"%.1f".format(heapPeakGb)},"sf":"$d"}""")
      spark.stop()
      return
    }

    val raw =
      if (dir.startsWith("gen:")) {
        val n = dir.drop(4).toLong
        spark.range(0, n, 1, 64).select(col("id").as("vec_id"))
          .withColumn("embedding", expr(
            """transform(sequence(0, 63), d -> CAST(
              |  ((vec_id * 1009 + d * 31 + 3) * 2654435761 % 2147483647 % 721 - 360) / 1000.0
              |AS FLOAT))""".stripMargin))
      } else spark.read.parquet(s"$dir/embeddings.parquet")
    val base = queries.ExtQueries.intEmbeddingsFrom(raw).localCheckpoint()
    val n = base.count()
    val sigs = EmbeddingLsh.bandSigs(base.select("vec_id", "iv"),
      EmbeddingLsh.planesFor(n)).localCheckpoint() // the stored asset
    // the negative-deltaMod raw-modulus spelling is a door-mode
    // convention only (round 16 review): here pmod against a negative
    // divisor never equals 3, so the probe would time a ZERO-vector
    // delta and emit a plausible-looking but meaningless line
    require(deltaMod > 0,
      s"deltaMod must be positive outside door:/doorcells: modes, got $deltaMod")
    val deltaIds = base.where(pmod(col("vec_id"), lit(deltaMod)) === 3L)
      .select(col("vec_id").as("id")).localCheckpoint()
    val nDelta = deltaIds.count()
    val baseSigs = sigs.join(deltaIds.withColumnRenamed("id", "vec_id"),
      Seq("vec_id"), "left_anti").localCheckpoint()
    val baseOnly = base.join(deltaIds.withColumnRenamed("id", "vec_id"),
      Seq("vec_id"), "left_anti")

    val (oldGraph, buildSec) = time {
      GraphAnn.knnGraph(baseOnly, EmbeddingLsh.candidatePairs(baseSigs), 4)
        .localCheckpoint()
    }
    val baseEdges = oldGraph.count()

    val admitSecs = (1 to reps).map { _ =>
      time(GraphAnn.admit(base, sigs, oldGraph, deltaIds, 4).count())._2
    }
    val (rebuildEdges, rebuildSec) = time {
      GraphAnn.knnGraph(base, EmbeddingLsh.candidatePairs(sigs), 4).count()
    }
    // touched fraction: nodes sharing a bucket with the delta
    val dBuckets = sigs.join(deltaIds.withColumnRenamed("id", "vec_id"), "vec_id")
      .select(col("band"), col("sig")).distinct()
    val touched = sigs.join(broadcast(dBuckets), Seq("band", "sig"))
      .select("vec_id").distinct().count()

    println(s"""{"n":$n,"n_delta":$nDelta,"base_edges":$baseEdges,""" +
      s""""build_sec":${"%.2f".format(buildSec)},""" +
      s""""admit_sec":[${admitSecs.map(s => "%.2f".format(s)).mkString(",")}],""" +
      s""""rebuild_sec":${"%.2f".format(rebuildSec)},"rebuild_edges":$rebuildEdges,""" +
      s""""touched":$touched,"sf":"$dir"}""")
    spark.stop()
  }
}
