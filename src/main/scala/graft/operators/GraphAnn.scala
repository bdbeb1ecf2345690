package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** GRAPH-BASED approximate nearest neighbor — the fourth ANN family
  * next to the repo's flat-IVF / IMI / PQ ladder: a k-NN GRAPH over the
  * corpus (built from the LSH candidate pairs, so construction is the
  * usual bucketed equi-join, never all-pairs) searched by BEAM
  * expansion from a fixed entry point (the Malkov/NSW discipline —
  * HNSW's layer-0 search with a deterministic single entry instead of
  * layered entries, a documented simplification; fixed rounds instead
  * of convergence detection, the LabelPropagation determinism
  * argument).
  *
  * Determinism: scores are the repo's exact-integer cosine (one double
  * division in fixed order), every beam cut is (cosine DESC, vec_id
  * ASC) via the packed topk_by order, the entry point is min(vec_id),
  * and rounds are fixed — so a SQL oracle replays build + all search
  * rounds CTE for CTE.
  *
  * Scale shape: build = LSH candidate join + per-node bounded topk_by
  * (map-side pruned; the graph is n·K edges, a first-class persistable
  * asset). Search = per round ONE hash join of the beam frontier
  * against the graph + a per-query bounded topk_by — beam·K vector
  * fetches per query per round, never a corpus scan; lineage cut per
  * round (the PageRank discipline).
  */
object GraphAnn {

  /** ABSOLUTE serving-quality floor, micro-units of tie-aware top-1
    * recall (round 17, r16 verdict #1). The metric it floors: a query
    * counts as served correctly when its rk = 1 beam result's cosine
    * EQUALS the brute-force maximum cosine — the same expression over
    * the same integers on both sides, so equality is exact and a
    * tie-shuffled optimum (several ids sharing the max; the beam may
    * surface one other than the globally smallest id) never
    * false-alarms the way strict id-vs-id top1 would.
    *
    * Why ONE absolute value now holds at every corpus size: the
    * sf0.01 soak's 4/10 strict reading was diagnosed
    * ([[graft.GraphServeQualitySpec]]) as SEED COVERAGE, not beam or
    * graph failure — every miss's true top-1 sat outside the 2×2
    * probed cells of a 16-cell grid, a budget artifact the
    * corpus-size-aware serving budget ([[serveProbesFor]]) removes by
    * probing the whole grid below the tiny-grid knee. With the budget
    * rule in place the measured posture is exact at the small scales
    * (full probe ⇒ the first beam cut IS the global top-k) and
    * 200/200 at the 200k probe's 2-probe regime; 0.90 leaves margin
    * for genuinely hard query draws while making a silent quality
    * collapse fatal in DoorSoak (index and graph modes) the way a nonzero rebuild
    * edge diff is. */
  val ServeRecallFloorMicro: Long = 900000L

  /** k-NN graph from banded LSH candidates: for each node, its K
    * exact-cosine-nearest candidates. Columns (u, v, cos). */
  def knnGraph(base: DataFrame, candPairs: DataFrame, k: Int): DataFrame = {
    val und = candPairs.select(col("vec_a").as("u"), col("vec_b").as("v"))
      .unionByName(candPairs.select(col("vec_b").as("u"), col("vec_a").as("v")))
    val a = base.select(col("vec_id").as("u"), col("iv").as("uiv"), col("n2").as("un2"))
    val b = base.select(col("vec_id").as("v"), col("iv").as("viv"), col("n2").as("vn2"))
    und.join(a, "u").join(b, "v")
      .withColumn("cos", expr(
        "CAST(long_dot(uiv, viv) AS DOUBLE) / (sqrt(CAST(un2 AS DOUBLE)) * sqrt(CAST(vn2 AS DOUBLE)))"))
      .groupBy("u").agg(expr(s"topk_by(cos, v, $k)").as("tk"))
      .select(col("u"), explode(col("tk")).as("t"))
      .select(col("u"), col("t.id").as("v"), col("t.score").as("cos"))
  }

  /** k-NN graph built from k-MEANS CELLS instead of LSH buckets — the
    * construction for CLUSTERED corpora, where near-identical cluster
    * members share most hyperplane signs and the LSH candidate
    * generator goes quadratic (the GraphProbe finding; the qx50
    * celled-dedup failure mode). Candidates are ALL same-cell pairs —
    * the qx50 SemDeDup candidate shape with a top-K fold on the end —
    * so EVERY node gets its out-edges (a first design that capped cell
    * MEMBERSHIP dropped the periphery from the graph entirely and
    * probed at 1/80 recall; full-coverage cells read 62/80 on the same
    * corpus). Work is Σ|cell|²: the caller bounds it through the
    * ASSIGNMENT granularity (k ≈ n/B keeps cells near a constant B and
    * total work linear — the probe's clustered corpus builds in ~1 s at
    * 80k vectors where the LSH construction never finished).
    *
    * @param base integer embeddings (vec_id, iv, n2)
    * @param asg  k-means assignment (vec_id, cid, ...)
    * @return (u, v, cos) */
  def knnGraphFromCells(base: DataFrame, asg: DataFrame, k: Int): DataFrame = {
    val cells = asg.select("vec_id", "cid").join(base, "vec_id")
    val x = cells.select(col("cid"), col("vec_id").as("u"),
      col("iv").as("uiv"), col("n2").as("un2"))
    val y = cells.select(col("cid"), col("vec_id").as("v"),
      col("iv").as("viv"), col("n2").as("vn2"))
    x.join(y, Seq("cid")).where(col("u") =!= col("v"))
      .withColumn("cos", expr(
        "CAST(long_dot(uiv, viv) AS DOUBLE) / (sqrt(CAST(un2 AS DOUBLE)) * sqrt(CAST(vn2 AS DOUBLE)))"))
      .groupBy("u").agg(expr(s"topk_by(cos, v, $k)").as("tk"))
      .select(col("u"), explode(col("tk")).as("t"))
      .select(col("u"), col("t.id").as("v"), col("t.score").as("cos"))
  }

  /** (vec_id, band = 0, sig = IMI product cell) rows under PINNED
    * trained codebooks — the CELLS generator's signature table
    * (round 15, r14 verdict #1), shaped exactly like
    * [[EmbeddingLsh.bandSigs]] output so every [[GraphIndex]] path
    * (candidate equi-join, touched set, regime decision, LPA refresh,
    * append-only segments) is generator-agnostic. Why cells scale
    * where LSH buckets don't for MAINTENANCE: a delta vector touches
    * ONE cell of ~TargetListSize members instead of 8 bands ×
    * occupancy ≈ 400 bucket mates, so the touched set — and with it
    * the per-wave admission cost — tracks the delta, not the corpus
    * (the 200k probe measured 187 s per 286-vector LSH drip exactly
    * because touched ≈ 57% of the corpus); and trained cells stay
    * balanced on clustered corpora where sign-LSH buckets go
    * quadratic (the qx113/GraphProbe finding). Assignment depends
    * only on (vector, books), so under books pinned at init
    * admit == rebuild stays bit-equal — the same capacity-planning
    * argument as the pinned plane schedule. */
  /** Sub-bucket id space per cell: sig = cell · 2²⁰ + sub. Cell ids
    * are < 2³² (k2 ≤ 65536 per level), so sigs stay well inside Long
    * for any split factor < 2²⁰ (a single cell of ~67M members at the
    * 64-target — far past any sane regime). */
  val CellSubMax = 1L << 20

  /** Per-cell SPLIT FACTORS pinned at init — the occupancy cap that
    * makes the cells generator robust on corpora k-means cannot
    * balance (the 200k iid-noise probe: BOTH hashed and data-sampled
    * seeds collapse 4096 product cells to ~300 live ones, mean
    * occupancy ~650, max ~4400 — Σ|cell|² blew the default heap in
    * the candidate join). A cell with count > 2·target splits into
    * ceil(count/target) sub-buckets by a pure per-vector id hash, so
    * expected sub-bucket size is ~target BY CONSTRUCTION, whatever
    * the coarse quantizer did. Only cells needing a split are stored
    * (≤ n/(2·target) rows, ~300 at the probe — always
    * broadcastable); absent cells read as splits = 1. Split factors
    * are part of the PINNED signature schedule: computed from the
    * INIT corpus, never the running one — the same capacity-planning
    * argument as the plane count, and the reason admit == rebuild
    * stays bit-equal. A post-init distribution shift that overgrows
    * a bucket is the retrain-flip trigger's territory, not this
    * table's. */
  def cellSplits(asg: DataFrame, target: Long = IvfAnn.TargetListSize): DataFrame =
    asg.groupBy("cell").agg(count(lit(1)).as("n"))
      .where(col("n") > 2L * target)
      .select(col("cell"),
        expr(s"CAST(ceil(CAST(n AS DOUBLE) / $target) AS BIGINT)").as("splits"))

  /** CORPUS-SIZE-AWARE serving probe budget for a cells graph, per
    * 32-dim half (round 17, r16 verdict #1 — the real cause of the
    * sf0.01 soak's 4/10 strict serving recall). The cells generator
    * signs each vector into ONE product cell (single band), so graph
    * edges exist only WITHIN a (cell, sub-bucket): the beam can never
    * leave the probed cells' components, and serving recall is bounded
    * by "did a probed cell contain the true neighbor". On a tiny grid
    * that bound bites hard: at n = 500 the trained grid is 4×4 = 16
    * cells and the default 2×2 probe covers ~25% of the corpus —
    * [[graft.GraphServeQualitySpec]] pins that every strict miss there
    * is exactly a query whose true top-1 sits OUTSIDE the probed
    * cells (never a beam/graph failure). The production answer at
    * that scale is to probe the WHOLE grid: k2 ≤ 8 implies
    * n ≲ k2²·2·[[IvfAnn.TargetListSize]] ≈ 8k vectors, where
    * full-probe seeding costs one bounded broadcast join and makes
    * the serve EXACT — the faiss flat-below-the-knee discipline. Past
    * the tiny-grid knee the measured posture governs: 2×2 of a ≥1024-
    * cell trained grid read strict 200/200 at the 200k probe. (The
    * k2 = 16 band in between is floor-guarded: DoorSoak's index and
    * graph modes fail hard if its serve ever measures under
    * [[ServeRecallFloorMicro]].) Serving budget only — signatures,
    * admission, and the persisted asset are untouched, and the qx126
    * gate row keeps replaying the pinned 2-probe budget explicitly
    * (the qx124 budget-row discipline). */
  def serveProbesFor(k2: Long): Int =
    if (k2 <= 8L) k2.toInt else IvfAnn.ImiProbesPerLevel

  /** The pure per-vector sub-bucket assignment under pinned split
    * factors (reduced-mod hash so the product never overflows at any
    * id). */
  private def subOf(sp: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    pmod(pmod(col("vec_id"), lit(2147483647L)) * 1000003L + 7L, sp)

  def cellSigs(emb: DataFrame, books: DataFrame, k2: Long,
               splits: DataFrame): DataFrame =
    IvfAnn.imiCellsL2Kernel(emb.select("vec_id", "iv"), books, k2)
      .join(broadcast(splits), Seq("cell"), "left")
      .withColumn("sp", coalesce(col("splits"), lit(1L)))
      .select(col("vec_id"), lit(0L).as("band"),
        (col("cell") * CellSubMax + subOf(col("sp"))).as("sig"))

  /** The CELLS-generator inline serving twin of [[inlineServe]]: sign
    * the corpus under the PINNED trained codebooks, seed each query
    * from its 2×2 probed cells' members ([[IvfAnn.imiProbeCellsL2]] —
    * the multi-probe analogue of LSH bucket-mate seeding), build the
    * same-cell k-NN graph, beam-search. One spelling shared by the
    * asset-vs-inline equality pin (GraphIndexSpec) and the probes, so
    * the comparison twins cannot drift (the [[inlineServe]]
    * discipline). `books` must be the ASSET's pinned codebooks — a
    * retrained copy would assign different cells and the equality
    * would be vacuous. */
  /** Query-side signature rows (qid, qband = 0, qsig) for cell-mode
    * seeding: each probed cell EXPANDS to all its pinned sub-buckets
    * (the query must meet every member of its probed cells — the
    * sub-split bounds BUILD work, not the query's own candidate
    * reach; expansion is ≤ probes · maxSplits rows per query, a
    * bounded frame). `probes` ≤ 0 derives the corpus-size-aware
    * default ([[serveProbesFor]]); a positive value pins the budget
    * (the qx126 gate replay). */
  def cellQuerySigs(queries: DataFrame, books: DataFrame, k2: Long,
                    splits: DataFrame, probes: Int = -1): DataFrame =
    IvfAnn.imiProbeCellsL2(queries.select(col("qid"), col("qiv")), books, k2,
        perLevel = if (probes > 0) probes else serveProbesFor(k2))
      .join(broadcast(splits), Seq("cell"), "left")
      .withColumn("sp", coalesce(col("splits"), lit(1L)))
      .select(col("qid"), lit(0L).as("qband"),
        explode(expr(s"transform(sequence(0, CAST(sp - 1 AS INT)), " +
          s"s -> cell * $CellSubMax + s)")).as("qsig"))

  def inlineServeCells(base: DataFrame, books: DataFrame, k2: Long,
                       splits: DataFrame, queries: DataFrame, k: Int,
                       beam: Int, rounds: Int, probes: Int = -1): DataFrame = {
    val sigs = cellSigs(base, books, k2, splits)
    val qs = queries.select("qid", "qiv", "qn2")
    val qsigs = cellQuerySigs(qs, books, k2, splits, probes)
    val seeds = sigs.join(broadcast(qsigs),
        col("band") === col("qband") && col("sig") === col("qsig") &&
          col("vec_id") =!= col("qid"))
      .select("qid", "vec_id").distinct()
    // The Long-entry spelling stays here deliberately (round 17): the
    // in-plan searchEntryMin variant A/B-measured ~0.8 s SLOWER for the
    // cells family at sf0.1 (qx126 4.7 -> 5.5 solo min-of-5) where it
    // helped the LSH path — the broadcast-agg stage does not pay for
    // itself under the tiny trained grids this serve probes in full.
    val entry = base.agg(min("vec_id")).head.getLong(0)
    search(knnGraph(base, EmbeddingLsh.candidatePairs(sigs), k),
      base, qs, seeds, entry, beam, rounds)
  }

  /** INCREMENTAL graph maintenance — admit a delta of new vectors into
    * an existing k-NN graph WITHOUT a full rebuild (the addBatch/qx41
    * admission discipline applied to the graph asset): only nodes that
    * share an LSH bucket with some delta vector can gain a new
    * candidate, so exactly those nodes (plus the delta itself) get
    * their top-K recomputed over the union buckets; every other node's
    * candidate set — and hence its edges — is provably unchanged.
    * PRECONDITION (the capacity-planning discipline): `sigs` must be
    * computed with ONE pinned plane schedule for both the original
    * build and the admission (plane count derived from the expected
    * final size, not the running size) — under it, admit(old, delta)
    * is BIT-equal to a full rebuild over the union, which is exactly
    * what the qx110 gate hash checks (oracle = the rebuild).
    *
    * @param base     union integer embeddings (vec_id, iv, n2)
    * @param sigs     union LSH band signatures under the pinned planes
    * @param oldGraph the existing graph (u, v, cos)
    * @param deltaIds one column `id` — the newly admitted vector ids
    * @return the union graph (u, v, cos) */
  /** The nodes whose candidate set a delta admission can change:
    * everything sharing an LSH bucket with some delta vector. Factored
    * from [[admit]] so a caller can COUNT it first — the admit-vs-
    * rebuild decision is |touched| vs n (see [[GraphIndex.admit]]):
    * touched ≈ delta × bands × occupancy, so at the pinned
    * ~32-49 occupancy a delta past ~n/300 already touches most of the
    * corpus and recomputing it costs MORE than a clean rebuild (hot
    * buckets contribute occupancy² pairs — measured 86M directed
    * candidates for a 0.14% delta at 80k vectors, vs the rebuild's
    * 53M undirected). */
  def touchedIds(sigs: DataFrame, deltaIds: DataFrame): DataFrame = {
    val dBuckets = sigs
      .join(deltaIds.withColumnRenamed("id", "vec_id"), "vec_id")
      .select(col("band").as("qband"), col("sig").as("qsig")).distinct()
    sigs.join(broadcast(dBuckets),
        col("band") === col("qband") && col("sig") === col("qsig"))
      .select("vec_id").distinct()
  }

  def admit(base: DataFrame, sigs: DataFrame, oldGraph: DataFrame,
            deltaIds: DataFrame, k: Int): DataFrame =
    admit(base, sigs, oldGraph, deltaIds, k, None)

  /** [[admit]] with the touched set PRECOMPUTED by the caller —
    * [[GraphIndex.admit]] counts it for the admit-vs-rebuild regime
    * decision and passes the same (checkpointed) frame in, so the
    * bucket join runs once per micro-batch, not twice (r13 advice). */
  def admit(base: DataFrame, sigs: DataFrame, oldGraph: DataFrame,
            deltaIds: DataFrame, k: Int,
            touchedOpt: Option[DataFrame]): DataFrame = {
    val touched = touchedOpt.getOrElse(touchedIds(sigs, deltaIds))
    // directed collision pairs, recomputed ONLY for touched sources
    val cand = sigs.as("x")
      .join(touched.withColumnRenamed("vec_id", "u"), col("x.vec_id") === col("u"))
      .join(sigs.as("y"),
        col("x.band") === col("y.band") && col("x.sig") === col("y.sig") &&
          col("x.vec_id") =!= col("y.vec_id"))
      .select(col("x.vec_id").as("u"), col("y.vec_id").as("v")).distinct()
    val a = base.select(col("vec_id").as("u"), col("iv").as("uiv"), col("n2").as("un2"))
    val b = base.select(col("vec_id").as("v"), col("iv").as("viv"), col("n2").as("vn2"))
    val recomputed = cand.join(a, "u").join(b, "v")
      .withColumn("cos", expr(
        "CAST(long_dot(uiv, viv) AS DOUBLE) / (sqrt(CAST(un2 AS DOUBLE)) * sqrt(CAST(vn2 AS DOUBLE)))"))
      .groupBy("u").agg(expr(s"topk_by(cos, v, $k)").as("tk"))
      .select(col("u"), explode(col("tk")).as("t"))
      .select(col("u"), col("t.id").as("v"), col("t.score").as("cos"))
    val kept = oldGraph.join(touched.withColumnRenamed("vec_id", "u"), Seq("u"), "left_anti")
    kept.unionByName(recomputed)
  }

  /** The ASSET-FREE serving spelling in one place: sign the corpus
    * under `planes`, sign the queries the same way, seed each query
    * from its bucket mates, build the k-NN graph from the LSH
    * candidates, beam-search — i.e. exactly what serving WITHOUT a
    * maintained [[GraphIndex]] costs per query set (qx109's shape).
    * Factored (round-14 review) so the three asset-vs-inline
    * comparison twins — IndexDoorSpec's bit-equality pin, DoorSoak's
    * index-soak and graph-wave timings — share one spelling and
    * cannot drift apart; a drifted copy would silently invalidate the
    * equality they exist to enforce. */
  def inlineServe(base: DataFrame, planes: Int, queries: DataFrame,
                  k: Int, beam: Int, rounds: Int): DataFrame = {
    val sigs = EmbeddingLsh.bandSigs(base.select("vec_id", "iv"), planes)
    val qs = queries.select("qid", "qiv", "qn2")
    val qsigs = EmbeddingLsh.bandSigs(
        qs.select(col("qid").as("vec_id"), col("qiv").as("iv")), planes)
      .select(col("vec_id").as("qid"), col("band").as("qband"),
        col("sig").as("qsig"))
    val seeds = sigs.join(broadcast(qsigs),
        col("band") === col("qband") && col("sig") === col("qsig") &&
          col("vec_id") =!= col("qid"))
      .select("qid", "vec_id").distinct()
    searchEntryMin(knnGraph(base, EmbeddingLsh.candidatePairs(sigs), k),
      base, qs, seeds, beam, rounds)
  }

  /** Beam search: the per-query `seeds` (plus the global `entry`
    * fallback, so an unseeded query still searches) are scored and cut
    * to the initial beam; each of `rounds` rounds expands the beam's
    * out-neighbors and re-cuts to `beam` by exact cosine to the query.
    * Seeding from each query's own LSH bucket is the production shape
    * (random high-dim spaces give a single global entry no gradient to
    * descend — GraphAnnSpec measures 0/10 recall entry-only vs
    * LSH-seeded on the same corpus; HNSW's upper layers solve the same
    * problem with layered entries). Returns the FINAL beam as
    * (qid, rk, vec_id, cosine) — the query itself excluded under the
    * default `selfExclude = true` (the in-corpus query convention);
    * an EXTERNAL query set whose ids may collide with corpus vec_ids
    * passes false ([[GraphIndex.search]] threads it through).
    * `queries` needs (qid, qiv, qn2); `seeds` (qid, vec_id). */
  def search(graph: DataFrame, base: DataFrame, queries: DataFrame,
             seeds: DataFrame, entry: Long, beam: Int, rounds: Int,
             selfExclude: Boolean = true): DataFrame =
    searchSeeded(graph, base, queries,
      seeds.select(col("qid"), col("vec_id"))
        .unionByName(queries.select(col("qid")).withColumn("vec_id", lit(entry))),
      beam, rounds, selfExclude)

  /** [[search]] with the min-id entry point derived IN PLAN instead of
    * collected by the caller (round 17): the entry fallback row is the
    * corpus min(vec_id) cross-joined onto the query list — one
    * broadcast of a 1-row aggregate replaces a dedicated driver
    * `.head` job per query set, with identical seeded rows. Callers
    * that serve a PERSISTED asset keep the Long overload (their entry
    * is a pinned manifest value, not a derivable aggregate). */
  def searchEntryMin(graph: DataFrame, base: DataFrame, queries: DataFrame,
                     seeds: DataFrame, beam: Int, rounds: Int,
                     selfExclude: Boolean = true): DataFrame =
    searchSeeded(graph, base, queries,
      seeds.select(col("qid"), col("vec_id"))
        .unionByName(queries.select(col("qid")).crossJoin(
          broadcast(base.agg(min("vec_id").as("vec_id"))))),
      beam, rounds, selfExclude)

  /** Size gates for the driver-local beam replay ([[SizeGate]]): each
    * beam round is a graph join + vector join + broadcast + topk_by +
    * lineage cut — per-round JOB latency that dominates when the CORPUS
    * is metadata-sized. Below the gates (base vectors, graph, seeds,
    * then queries) the identical beam — long_dot in array order, the
    * same CAST/sqrt cosine, cuts through the very same
    * [[graft.functions.TopKBuffer]] — replays on the driver,
    * bit-identical by construction (GraphAnnSpec pins equality against
    * the distributed rounds). Past any gate the distributed rounds run
    * unchanged — the 100 TB path, and the shape the 200k-asset door
    * probes keep measuring (the default base gate sits below the probe
    * corpus on purpose). */
  val BaseGate = SizeGate("spark.graft.graphann.localMaxBase", 100000L)
  val EdgesGate = SizeGate("spark.graft.graphann.localMaxEdges", 2000000L)

  private def searchSeeded(graph: DataFrame, base: DataFrame,
                           queries: DataFrame, seeded0: DataFrame,
                           beam: Int, rounds: Int,
                           selfExclude: Boolean): DataFrame = {
    require(rounds >= 1 && beam >= 1)
    // searchEntryMin/search callers give every query an entry-fallback
    // seed, so the queries are bounded by the seed gate — but a direct
    // searchSeeded caller makes no such promise, so they are probed too.
    (for {
      bArr <- BaseGate.probe(base.select(col("vec_id"), col("iv"), col("n2")))
      gArr <- EdgesGate.probe(graph.select(col("u"), col("v")))
      sArr <- EdgesGate.probe(seeded0.select(col("qid"), col("vec_id")))
      qArr <- EdgesGate.probe(queries.select(col("qid"), col("qiv"), col("qn2")))
    } yield localBeam(graph.sparkSession, bArr, gArr, sArr, qArr, beam, rounds, selfExclude))
      .getOrElse(searchSeededDistributed(graph, base, queries, seeded0, beam, rounds, selfExclude))
  }

  /** Driver-local replay of the EXACT distributed beam: same cosine
    * (long_dot in array order, CAST to double, sqrt·sqrt denominator),
    * same [[graft.functions.TopKBuffer]] cuts, same distinct-expand
    * rounds, same self-exclusion epilogue. */
  private def localBeam(spark: org.apache.spark.sql.SparkSession,
                        bArr: Array[org.apache.spark.sql.Row],
                        gArr: Array[org.apache.spark.sql.Row],
                        sArr: Array[org.apache.spark.sql.Row],
                        qArr: Array[org.apache.spark.sql.Row],
                        beam: Int, rounds: Int, selfExclude: Boolean): DataFrame = {
    val vecs = new java.util.HashMap[Long, (Array[Long], Long)](bArr.length * 2)
    bArr.foreach { r =>
      vecs.put(r.getLong(0), (r.getSeq[Long](1).toArray, r.getLong(2)))
    }
    val adj = new java.util.HashMap[Long, scala.collection.mutable.ArrayBuffer[Long]]()
    gArr.foreach { r =>
      adj.computeIfAbsent(r.getLong(0),
        _ => scala.collection.mutable.ArrayBuffer.empty[Long]) += r.getLong(1)
    }
    val seedsByQ = new java.util.HashMap[Long, java.util.LinkedHashSet[java.lang.Long]]()
    sArr.foreach { r =>
      seedsByQ.computeIfAbsent(r.getLong(0),
        _ => new java.util.LinkedHashSet[java.lang.Long]()).add(r.getLong(1))
    }
    val out = new java.util.ArrayList[org.apache.spark.sql.Row]()
    qArr.sortBy(_.getLong(0)).foreach { qr =>
      val qid = qr.getLong(0)
      val qiv = qr.getSeq[Long](1).toArray
      val qn2 = qr.getLong(2)
      def cosine(iv: Array[Long], n2: Long): Double = {
        var dot = 0L; var i = 0
        while (i < iv.length) { dot += iv(i) * qiv(i); i += 1 }
        dot.toDouble / (math.sqrt(n2.toDouble) * math.sqrt(qn2.toDouble))
      }
      def cut(cands: java.util.LinkedHashSet[java.lang.Long]): graft.functions.TopKBuffer = {
        val buf = new graft.functions.TopKBuffer(beam)
        cands.forEach { vid =>
          val ve = vecs.get(vid.longValue())
          if (ve != null) buf.insert(cosine(ve._1, ve._2), vid.longValue())
        }
        buf
      }
      val seeds = seedsByQ.get(qid)
      if (seeds != null) {
        var buf = cut(seeds)
        for (_ <- 1 to rounds) {
          val expanded = new java.util.LinkedHashSet[java.lang.Long]()
          var i = 0
          while (i < buf.size) {
            val u = buf.ids(i)
            expanded.add(u)
            val nb = adj.get(u)
            if (nb != null) nb.foreach(v => expanded.add(v))
            i += 1
          }
          buf = cut(expanded)
        }
        val fin = new graft.functions.TopKBuffer(beam)
        var i = 0
        while (i < buf.size) {
          if (!selfExclude || buf.ids(i) != qid) fin.insert(buf.scores(i), buf.ids(i))
          i += 1
        }
        i = 0
        while (i < fin.size) {
          out.add(org.apache.spark.sql.Row(qid, (i + 1).toLong, fin.ids(i), fin.scores(i)))
          i += 1
        }
      }
    }
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("qid",
        org.apache.spark.sql.types.LongType, nullable = true),
      org.apache.spark.sql.types.StructField("rk",
        org.apache.spark.sql.types.LongType, nullable = true),
      org.apache.spark.sql.types.StructField("vec_id",
        org.apache.spark.sql.types.LongType, nullable = true),
      org.apache.spark.sql.types.StructField("cosine",
        org.apache.spark.sql.types.DoubleType, nullable = true)))
    spark.createDataFrame(out, schema)
  }

  /** The distributed beam rounds — the 100 TB path (and the spec's
    * equivalence anchor for the local replay). */
  private[graft] def searchSeededDistributed(
      graph: DataFrame, base: DataFrame,
      queries: DataFrame, seeded0: DataFrame,
      beam: Int, rounds: Int,
      selfExclude: Boolean): DataFrame = {
    val graphC = graph.select("u", "v").cache()
    val vecs = base.select(col("vec_id"), col("iv"), col("n2"))
    val qs = queries.select("qid", "qiv", "qn2")
    def scored(cand: DataFrame): DataFrame = cand
      .join(vecs, "vec_id")
      .join(broadcast(qs), "qid")
      .withColumn("dot", expr("long_dot(iv, qiv)"))
      .withColumn("cosine", expr(graft.queries.ExtQueries.COSINE))
      .select("qid", "vec_id", "cosine")
    def cut(s: DataFrame): DataFrame = s
      .groupBy("qid").agg(expr(s"topk_by(cosine, vec_id, $beam)").as("tk"))
      .select(col("qid"), explode(col("tk")).as("t"))
      .select(col("qid"), col("t.id").as("vec_id"), col("t.score").as("cosine"))
    val seeded = seeded0.distinct()
    var beamDf = cut(scored(seeded)).localCheckpoint()
    for (_ <- 1 to rounds) {
      val expanded = beamDf.select(col("qid"), col("vec_id"))
        .join(graphC.withColumnRenamed("u", "vec_id"), Seq("vec_id"))
        .select(col("qid"), col("v").as("vec_id"))
        .unionByName(beamDf.select("qid", "vec_id"))
        .distinct()
      beamDf = cut(scored(expanded)).localCheckpoint()
    }
    // the final beam is checkpointed — lineage no longer needs the graph
    // cache, so release it (the LabelPropagation/PageRank discipline);
    // a standing door serving many searches must not accumulate blocks.
    graphC.unpersist(false)
    (if (selfExclude) beamDf.where(col("vec_id") =!= col("qid")) else beamDf)
      .groupBy("qid").agg(expr(s"topk_by(cosine, vec_id, $beam)").as("tk"))
      .select(col("qid"), posexplode(col("tk")).as(Seq("p", "t")))
      .select(col("qid"), (col("p") + 1).cast("long").as("rk"),
        col("t.id").as("vec_id"), col("t.score").as("cosine"))
  }
}
