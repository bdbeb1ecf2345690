package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.{BloomFilter, Determinism}
import graft.operators.{AhoCorasick, AudioFingerprint, BpeTrainer, CdcChunker, ConnectedComponents, CoresetSelect, DsirSelect, EmbeddingLsh, EmbeddingPca, EpochShuffle, GopherRules, GraphAnn, HilbertCurve, HtmlCodec, InvertedIndex, IvfAnn, LabelPropagation, LogisticGD, MixSchedule, MmrRerank, MultimodalCodec, OpqLayout, PageRank, Partitioning, ProductQuantizer, QuantKernels, RetrainTrigger, RobotsTxt, SaltedJoin, SimHashLsh, SizeGate, UniMax, ViterbiTokenizer, WarcCodec, WavCodec, ZOrderLayout}
import graft.sources.Tables

/** The large-scale training-data-pipeline operator family (builder brief +
  * VERDICT round-1 task #4): deduplication (exact, MinHash+LSH, SimHash,
  * n-gram Jaccard), similarity search (brute-force + LSH-bucketed ANN),
  * text analysis (token stats, language-ID, regex tokenization,
  * fingerprinting) and multimodal binary columns.
  *
  * Every query is a declarative Catalyst plan with a bit-identical DuckDB
  * oracle in [[ExtOracle]]. All hashing is explicit integer arithmetic
  * (Horner char fold, polynomial shingle combine, affine MinHash) chosen to
  * be exactly representable in both engines — no engine-private hash
  * functions, no floating-point accumulation (see graft.functions.
  * Determinism for the float policy).
  *
  * Scale posture (100 TB): no all-pairs joins anywhere — near-dup and ANN
  * candidates come from LSH band/bucket equi-joins; top-k is a bounded
  * partial aggregate (map tasks prune to k before the exchange — see
  * [[graft.functions.TopKBy]]); text stats are one pass of
  * map-side-combinable aggregates; the only broadcast is the small query
  * vector set.
  */
object ExtQueries {

  /** Materialize INDEPENDENT legs concurrently (optimization round 17,
    * guide §2.6 "overlap independent jobs"): each thunk builds and
    * eagerly localCheckpoints its leg on its own driver thread, so one
    * leg's straggler tail back-fills with the next leg's stages instead
    * of serializing whole jobs — wall cost becomes ~max(legs) instead
    * of Σ(legs). The audit/ledger composites (qx118/qx120–qx125,
    * qx106/qx106b, the hybrid fusions) were running their
    * localCheckpointed legs strictly serially; at sf0.1 their inputs
    * are job-overhead-bound, and on a cluster the scheduler overlap is
    * worth strictly more (idle-executor back-fill). Results are
    * unchanged: every leg is deterministic and checkpointing is
    * value-transparent, so the fold sees identical rows. */
  private def concurrently(legs: (() => DataFrame)*): IndexedSeq[DataFrame] = {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    import scala.concurrent.ExecutionContext.Implicits.global
    legs.map(f => Future(f())).toIndexedSeq.map(Await.result(_, Duration.Inf))
  }

  // ---- shared deterministic text hashing (Spark SQL expression strings) --

  /** Non-empty whitespace tokens. */
  private val WORDS = "filter(split(text, ' '), w -> length(w) > 0)"

  /** Horner char-fold word hash with the modulus applied per step, so the
    * accumulator stays < 1000003*31 + 122 ≈ 3.1e7 regardless of word
    * length (an end-only mod overflows Long at ~13 chars — silently
    * wrapping in Spark but erroring in DuckDB). Identical fold in the
    * oracle's list_reduce. */
  private val WORD_HASHES =
    s"transform($WORDS, w -> aggregate(split(w, ''), 0L, (a, c) -> (a*31 + ascii(c)) % 1000003))"

  /** documents → DISTINCT (doc_id, s) 3-gram shingle-hash rows:
    * s = ((w1*1009 + w2) % p * 1009 + w3) % p over consecutive word hashes.
    *
    * Deliberately row-oriented, not array-HOF: an earlier array version
    * (transform over sequence + element_at) was collapsed by Catalyst into
    * every downstream minhash column, re-evaluating the whole chain ~48×
    * per row (172 s at sf0.1). Exploding to rows keeps every stage a
    * codegen'd scalar expression: one explode, one per-doc window for the
    * two lead()s, one distinct — all hash-partitioned on doc_id, the shape
    * that survives 100 TB. */
  private def shingleRows(spark: SparkSession, dir: String): DataFrame =
    shingleRowsMultiset(spark, dir).distinct()

  /** The shingle rows BEFORE set-dedup — one window pass, already
    * hash-partitioned by doc_id. Consumers whose aggregate is
    * duplicate-insensitive (min — the minhash family) read this and skip
    * the distinct's (doc_id, s) shuffle entirely; set-semantics consumers
    * (Jaccard qx6, KMV qx18) go through [[shingleRows]]. */
  private def shingleRowsMultiset(spark: SparkSession, dir: String): DataFrame = {
    val byPos = Window.partitionBy("doc_id").orderBy("pos")
    wordHashRows(spark, dir)
      .withColumn("h2", lead("wh", 1).over(byPos))
      .withColumn("h3", lead("wh", 2).over(byPos))
      .where(col("h3").isNotNull)
      .select(col("doc_id"),
        expr("((wh * 1009 + h2) % 2147483647 * 1009 + h3) % 2147483647").as("s"))
  }

  /** (doc_id, pos, wh) word-hash rows — the base the shingle table and
    * the simhash queries (qx5/qx14) all derive from; exactly the
    * [[WORD_HASHES]] multiset, exploded with positions. */
  private def wordHashRows(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), posexplode(split(col("text"), " ")).as(Seq("pos", "w")))
      .where(length(col("w")) > 0)
      .select(col("doc_id"), col("pos"),
        expr("aggregate(split(w, ''), 0L, (a, c) -> (a*31 + ascii(c)) % 1000003)").as("wh"))

  /** k-th MinHash over the shingle-row set: min of (a_k*s + b_k) mod p —
    * an aggregate over rows (partial min map-side), not an array fold. */
  private def minhash(k: Int) = {
    val a = 1000003L * (k + 1) + 17
    val b = 917L * (k + 1)
    min(expr(s"($a * s + $b) % 2147483647")).as(s"mh$k")
  }

  /** LSH band signature folding `rows` minhash columns mh{lo}..mh{hi}. */
  private def bandSig(lo: Int, hi: Int): String =
    (lo to hi).map(k => s"mh$k").foldLeft("0L") { (acc, mh) =>
      s"(($acc * 31 + $mh) % 2147483647)"
    }

  // ------------------------------------------------------------------ QX1

  /** qx1 — exact deduplication: an at-least-once replay (every 7th event
    * delivered twice) is collapsed by hash-partitioned dropDuplicates on
    * the record key; aggregates must equal the original table's. The
    * dedup is one shuffle on event_id — the 100 TB plan. */
  def qx1(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    ev.unionByName(ev.where(col("event_id") % 7 === 0))
      .dropDuplicates("event_id")
      .groupBy("event_type")
      .agg(count(lit(1)).as("cnt"), Determinism.exactSum(col("value"), 100.0).as("sum_value"))
  }

  // ----------------------------------------------------- similarity search

  /** Embeddings with exact integer views: iv = floor(x*1e6+0.5) per dim,
    * n2 = Σ iv² (exact in Long). Cosine later = dot/(√n2a·√n2b) — every
    * step IEEE-deterministic and identical in DuckDB. */
  private[graft] def intEmbeddingsFrom(raw: DataFrame): DataFrame =
    raw.select(
      col("vec_id"),
      expr("transform(embedding, x -> CAST(floor(x * 1000000.0 + 0.5) AS BIGINT))").as("iv"))
      .withColumn("n2", expr("long_dot(iv, iv)"))

  private def intEmbeddings(spark: SparkSession, dir: String): DataFrame =
    intEmbeddingsFrom(Tables.embeddings(spark, dir))

  private[graft] val COSINE =
    "CAST(dot AS DOUBLE) / (sqrt(CAST(n2 AS DOUBLE)) * sqrt(CAST(qn2 AS DOUBLE)))"

  /** Distributed top-k via the [[graft.functions.TopKBy]] bounded-heap
    * aggregate: the partial pass prunes each map task's slice to ≤ k
    * entries per query BEFORE the exchange, so the shuffle carries one
    * ~k·16-byte buffer per (query, map task). (The previous two-phase
    * window spelling had to cluster first — `Window.partitionBy` exchanged
    * the ENTIRE scored candidate set, n·q rows for qx2, before discarding
    * all but k; the 100× probe surfaced that exchange as the bottleneck.)
    * Output (qid, rk, vec_id, cosine) is row-identical: the aggregate's
    * (score DESC, id ASC) order is the window's ORDER BY. */
  private[graft] def topK(scored: DataFrame, k: Int): DataFrame =
    scored
      .groupBy("qid").agg(expr(s"topk_by(cosine, vec_id, $k)").as("tk"))
      .select(col("qid"), posexplode(col("tk")).as(Seq("p", "t")))
      .select(col("qid"), (col("p") + 1).as("rk"),
        col("t.id").as("vec_id"), col("t.score").as("cosine"))

  /** qx2 — brute-force cosine top-5 for the query set (vec_id % 50 == 0):
    * the correctness baseline. The query side is broadcast; the base table
    * streams through executors unshuffled — at 100 TB this is one scan. */
  def qx2(spark: SparkSession, dir: String): DataFrame = {
    val base = intEmbeddings(spark, dir)
    val q = base.where(col("vec_id") % 50 === 0)
      .select(col("vec_id").as("qid"), col("iv").as("qiv"), col("n2").as("qn2"))
    val scored = base.crossJoin(broadcast(q))
      .where(col("vec_id") =!= col("qid"))
      .withColumn("dot", expr("long_dot(iv, qiv)"))
      .withColumn("cosine", expr(COSINE))
    topK(scored, 5)
  }

  /** Banded, corpus-sized LSH signatures for the embeddings table — see
    * [[graft.operators.EmbeddingLsh]] for the design (8 band tables ×
    * log2(n/32) planes each; candidate pairs stay ~linear in n at any
    * scale). The count() is a metadata-only sizing pass on parquet. */
  private def lshSigs(spark: SparkSession, dir: String): DataFrame = {
    val planes = EmbeddingLsh.planesFor(Tables.embeddings(spark, dir).count())
    EmbeddingLsh.bandSigs(intEmbeddings(spark, dir).select("vec_id", "iv"), planes)
  }

  /** qx3 — LSH-bucketed ANN (the scale path): a query's candidates are
    * vectors sharing ANY band signature with it; exact cosine is computed
    * on candidates only, then two-phase top-k. The candidate join is an
    * equi-join on (band, sig) followed by a distinct on bare ids — the
    * 64-long vectors are re-joined only for the surviving candidates, so
    * neither the 8× band explode nor the shuffle ever carries an array.
    * Recall is approximate by design; the oracle implements the identical
    * plane/bucket math so the gate still hash-matches. */
  def qx3(spark: SparkSession, dir: String): DataFrame = {
    val base = intEmbeddings(spark, dir)
    val sigs = lshSigs(spark, dir)
    val qsigs = sigs.where(col("vec_id") % 50 === 0)
      .select(col("vec_id").as("qid"), col("band").as("qband"), col("sig").as("qsig"))
    val cand = sigs.join(broadcast(qsigs),
        col("band") === col("qband") && col("sig") === col("qsig") &&
          col("vec_id") =!= col("qid"))
      .select("qid", "vec_id").distinct()
    val q = base.where(col("vec_id") % 50 === 0)
      .select(col("vec_id").as("qid"), col("iv").as("qiv"), col("n2").as("qn2"))
    val scored = cand
      .join(base, "vec_id")
      .join(broadcast(q), "qid")
      .withColumn("dot", expr("long_dot(iv, qiv)"))
      .withColumn("cosine", expr(COSINE))
    topK(scored, 5)
  }

  /** qx12 — embedding-cosine near-duplicate pairs: vectors colliding in
    * any LSH band whose exact cosine clears the threshold are duplicates
    * (the semantic-dedup complement to the lexical MinHash pipeline).
    * Same narrow-candidates shape as qx3: banded equi-join for recall
    * (8 bands ≫ the old single table), id-only distinct, vectors fetched
    * per side for the survivors only. Threshold 0.35 is calibrated to the
    * synthetic corpus (its random vectors top out at cosine ≈ 0.44 — a
    * real embedding space would use ~0.9). */
  def qx12(spark: SparkSession, dir: String): DataFrame = {
    val base = intEmbeddings(spark, dir)
    val cand = EmbeddingLsh.candidatePairs(lshSigs(spark, dir))
    val a = base.select(col("vec_id").as("vec_a"), col("iv").as("aiv"), col("n2").as("an2"))
    val b = base.select(col("vec_id").as("vec_b"), col("iv").as("biv"), col("n2").as("bn2"))
    cand.join(a, "vec_a").join(b, "vec_b")
      .withColumn("dot", expr("long_dot(aiv, biv)"))
      .withColumn("cosine",
        expr("CAST(dot AS DOUBLE) / (sqrt(CAST(an2 AS DOUBLE)) * sqrt(CAST(bn2 AS DOUBLE)))"))
      .where(col("cosine") >= 0.35)
      .select("vec_a", "vec_b", "cosine")
  }

  /** qx13 — IVF-bucketed ANN (the second scale path, complementing qx3's
    * LSH): corpus-sized K pseudo-random integer centroids partition
    * vectors into inverted lists; a query probes its 2 best lists and
    * scores exact cosine on their members only. Per-query work stays
    * ≈ nprobe · targetListSize as n grows (K tracks n). See
    * [[graft.operators.IvfAnn]]. */
  def qx13(spark: SparkSession, dir: String): DataFrame = {
    val base = intEmbeddings(spark, dir)
    val k = IvfAnn.gateCentroidsFor(Tables.embeddings(spark, dir).count())
    val cents = IvfAnn.centroids(spark, k)
    val assign = IvfAnn.assignments(base, cents)
    val q = base.where(col("vec_id") % 50 === 0)
      .select(col("vec_id").as("qid"), col("iv").as("qiv"), col("n2").as("qn2"))
    // The probe table is q·nprobe rows — broadcast it so the n-row
    // assignment table never sorts/shuffles for this join.
    val cand = broadcast(IvfAnn.probes(q, cents, nprobe = 2))
      .join(assign, "cid")
      .where(col("vec_id") =!= col("qid"))
      .select("qid", "vec_id")
    val scored = cand
      .join(base, "vec_id")
      .join(broadcast(q), "qid")
      .withColumn("dot", expr("long_dot(iv, qiv)"))
      .withColumn("cosine", expr(COSINE))
    topK(scored, 5)
  }

  /** qx15 — two-level IMI ANN (the scale escape past qx13's single-level
    * knee): the vector's two 32-dim halves are quantized independently
    * against K-centroid codebooks and the inverted-list key is the K×K
    * PRODUCT cell — 2K broadcast rows and n·2K build dots address K²
    * cells, moving the flat index's 4.2M-vector knee to ≈ 2.7·10¹⁴.
    * Queries probe their 2×2 best cells; exact cosine rescores members
    * only. See [[graft.operators.IvfAnn]] IMI section. */
  def qx15(spark: SparkSession, dir: String): DataFrame = {
    val base = intEmbeddings(spark, dir)
    val k = IvfAnn.imiCentroidsFor(Tables.embeddings(spark, dir).count())
    val books = IvfAnn.imiCodebooks(spark, k)
    val cells = IvfAnn.imiCells(base, books, k)
    val q = base.where(col("vec_id") % 50 === 0)
      .select(col("vec_id").as("qid"), col("iv").as("qiv"), col("n2").as("qn2"))
    // q·4 probed cells — broadcast, as qx13's probe join.
    val cand = broadcast(IvfAnn.imiProbeCells(q, books, k))
      .join(cells, "cell")
      .where(col("vec_id") =!= col("qid"))
      .select("qid", "vec_id")
    val scored = cand
      .join(base, "vec_id")
      .join(broadcast(q), "qid")
      .withColumn("dot", expr("long_dot(iv, qiv)"))
      .withColumn("cosine", expr(COSINE))
    topK(scored, 5)
  }

  /** qx16 — TRAINED flat IVF (the production-index slot the hashed
    * families of qx13/qx15 deliberately leave open): K ≈ √n seed
    * centroids are refined by two deterministic Lloyd iterations —
    * argmin-L2 assignment, per-cluster integer-mean update, all exact
    * integer arithmetic so DuckDB derives the identical codebook — then
    * the trained codebook serves the same assign/probe/rescore plan as
    * qx13. K = √n keeps each training pass n·K = n^1.5 (K = n/64 would
    * make training quadratic); each iteration's K-row codebook
    * round-trips through the driver as a LocalRelation exactly like
    * MLlib's KMeans (see [[graft.operators.IvfAnn.trainedCentroids]]).
    * Two iterations is the gate's fixed budget — production would loop
    * to movement-threshold convergence; every per-iteration plan shape
    * is already the converged one. */
  def qx16(spark: SparkSession, dir: String): DataFrame = {
    val base = intEmbeddings(spark, dir)
    val k = IvfAnn.kmeansCentroidsFor(Tables.embeddings(spark, dir).count())
    val cents = IvfAnn.trainedCentroids(base, IvfAnn.centroids(spark, k), iters = 2)
    val assign = IvfAnn.l2Assignments(base, cents)
    val q = base.where(col("vec_id") % 50 === 0)
      .select(col("vec_id").as("qid"), col("iv").as("qiv"), col("n2").as("qn2"))
    // q·nprobe probe rows — broadcast, as qx13's probe join.
    val cand = broadcast(IvfAnn.l2Probes(q, cents, nprobe = 2))
      .join(assign, "cid")
      .where(col("vec_id") =!= col("qid"))
      .select("qid", "vec_id")
    val scored = cand
      .join(base, "vec_id")
      .join(broadcast(q), "qid")
      .withColumn("dot", expr("long_dot(iv, qiv)"))
      .withColumn("cosine", expr(COSINE))
    topK(scored, 5)
  }

  /** qx42 — PRODUCT-QUANTIZED (PQ) compressed-domain search with ADC
    * rescoring (Jégou, Douze & Schmid, TPAMI 2011 — "Product quantization
    * for nearest neighbor search"): the MEMORY leg of the ANN family.
    * qx13/qx15/qx16 shrink the SEARCH (which vectors to score); PQ shrinks
    * the VECTORS — 64 dims split into M = 8 subspaces of 8 dims, each
    * quantized against its own 16-centroid trained codebook (2 Lloyd
    * iterations via [[graft.operators.IvfAnn.trainedCentroids]], the qx16
    * discipline per subspace), so a 512-byte vector becomes 8 4-bit codes
    * = 4 bytes, 128×. At 100 TB of embeddings THE CODES FIT WHERE THE
    * VECTORS CANNOT — the scan reads a 4-byte column instead of 512.
    *
    * Query = asymmetric distance computation (ADC): each query
    * precomputes a 128-entry lookup table (per subspace × code:
    * ‖c‖² − 2·q_sub·c, the L2 surrogate with the per-query constant
    * dropped), tables for the whole query set broadcast; the scan then
    * scores every vector with 8 ARRAY LOOKUPS + adds (no 64-dim dots) and
    * [[graft.functions.TopKBy]] prunes to the top-32 candidates per query
    * map-side — the compressed-domain pass has ZERO corpus exchange.
    * Exact cosine on original vectors refines the 32 to the final top-5
    * (the standard PQ refine step, candidate-bound). Every quantity
    * through the ADC cut is integer; the oracle replays the per-subspace
    * Lloyd training and the same (adc ASC, vec_id ASC) selection. */
  // PQ codec shared by qx42 (exhaustive ADC) and qx43 (IVF-PQ) — and the
  // RecallProbe fixture, which is why it lives in operators/.
  private[graft] val PqC = 32
  private def pqBooksN(spark: SparkSession, base: DataFrame): DataFrame =
    ProductQuantizer.booksN(spark, base)
  private def pqPacked(base: DataFrame, booksN: DataFrame): DataFrame =
    ProductQuantizer.packed(base, booksN)
  private def pqLuts(q: DataFrame, booksN: DataFrame): DataFrame =
    ProductQuantizer.luts(q, booksN)

  /** ADC top-C cut + exact-cosine top-5 refine — the tail qx42 and qx43
    * share; `adc` rows are (qid, vec_id, adc). `c` is the refine
    * budget (round 15: parameterized for the qx124 recall-at-budget
    * curve; every existing caller keeps [[PqC]]). */
  private def pqRefine(adc: DataFrame, base: DataFrame, q: DataFrame,
                       k: Int = 5, c: Int = PqC): DataFrame = {
    val cand = adc
      .groupBy("qid").agg(expr(s"topk_by(CAST(-adc AS DOUBLE), vec_id, $c)").as("tk"))
      .select(col("qid"), explode(col("tk.id")).as("vec_id"))
    val scored = cand.join(base, "vec_id").join(broadcast(q), "qid")
      .withColumn("dot", expr("long_dot(iv, qiv)"))
      .withColumn("cosine", expr(COSINE))
    topK(scored, k)
  }

  def qx42(spark: SparkSession, dir: String): DataFrame = {
    val base = intEmbeddings(spark, dir)
    val booksN = pqBooksN(spark, base)
    val packed = pqPacked(base, booksN)
    val q = base.where(col("vec_id") % 50 === 0)
      .select(col("vec_id").as("qid"), col("iv").as("qiv"), col("n2").as("qn2"))
    val luts = pqLuts(q, booksN)
    // The compressed-domain scan, since r10 as the
    // [[QuantKernels.adcTopC]] single-pass kernel: 8 lookups + adds per
    // (vector, query) with per-partition EXACT pruning to C per query
    // under topk_by's own (−adc, id) order — the crossJoin spelling
    // materialized all n·q pairs through codegen+hash-agg and measured
    // 240 s at the 100× probe's 800M pairs; the kernel's exchange is
    // q·tasks·C rows. QuantKernelsSpec pins kernel == crossJoin
    // end-to-end through the refine.
    pqRefine(QuantKernels.adcTopC(packed, luts, PqC), base, q)
  }

  /** The crossJoin spelling of qx42's ADC scan, kept as the spec
    * reference [[QuantKernels.adcTopC]] is pinned against. */
  private[graft] def qx42CrossJoin(spark: SparkSession, dir: String): DataFrame = {
    val base = intEmbeddings(spark, dir)
    val booksN = pqBooksN(spark, base)
    val packed = pqPacked(base, booksN)
    val q = base.where(col("vec_id") % 50 === 0)
      .select(col("vec_id").as("qid"), col("iv").as("qiv"), col("n2").as("qn2"))
    val luts = pqLuts(q, booksN)
    val adc = packed.crossJoin(broadcast(luts))
      .where(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id"), expr("pq_adc(lutarr, codes)").as("adc"))
    pqRefine(adc, base, q)
  }

  /** qx43 — IVF-PQ: the production composition qx42's scaladoc points at
    * (the IVFADC system of Jégou et al. TPAMI'11, §IV): qx15's two-level
    * IMI product cells choose WHICH vectors to score (coarse, probe-bound
    * candidates) and the PQ codes + [[graft.functions.PqAdc]] kernel
    * decide HOW CHEAPLY (compressed, 8 lookups per candidate) — search
    * cost per query falls from qx42's n·8 adds to (candidates)·8 adds,
    * with candidates ≈ 4 cells × occupancy regardless of n.
    *
    * Plan: both index structures build exactly as their parents (cells:
    * one broadcast crossJoin + conditional-argmax aggregation; codes:
    * [[pqPacked]]); the 4 probed cells per query broadcast against the
    * cell table, candidate codes join by vec_id (both sides already
    * hash-partitioned on vec_id — the exchange reuses), ADC + topk_by +
    * exact refine are candidate-bound. At 100 TB this is THE shape: the
    * scan touches a 4-byte code column for ~256 candidates per query,
    * the 512-byte vectors surface only for the 32 refined. */
  def qx43(spark: SparkSession, dir: String): DataFrame = {
    val base = intEmbeddings(spark, dir)
    val k = IvfAnn.imiCentroidsFor(Tables.embeddings(spark, dir).count())
    val books2 = IvfAnn.imiCodebooks(spark, k)
    val cells = IvfAnn.imiCells(base, books2, k)
    val q = base.where(col("vec_id") % 50 === 0)
      .select(col("vec_id").as("qid"), col("iv").as("qiv"), col("n2").as("qn2"))
    val probed = IvfAnn.imiProbeCells(q, books2, k)
    val booksN = pqBooksN(spark, base)
    val packed = pqPacked(base, booksN)
    val luts = pqLuts(q, booksN)
    val cand = broadcast(probed).join(cells, "cell")
      .where(col("vec_id") =!= col("qid"))
      .select("qid", "vec_id")
    val adc = cand.join(packed, "vec_id").join(broadcast(luts), "qid")
      .select(col("qid"), col("vec_id"), expr("pq_adc(lutarr, codes)").as("adc"))
    pqRefine(adc, base, q)
  }

  /** qx44 — IVFADC with RESIDUAL encoding: the system as published
    * (Jégou et al. TPAMI'11 §IV-B), completing the PQ family. qx43
    * encodes raw vectors against a hashed coarse index; the recall
    * fixture measured that leaving half the recall on the table (0.17 →
    * 0.33 @32 candidates on the clustered corpus) because raw 32-bit
    * codes can't rank within tight clusters — and against the hashed
    * ±1000 centers a "residual" would be the vector itself. Here the
    * coarse quantizer is the TRAINED two-level IMI
    * ([[graft.operators.IvfAnn.trainedImiCodebooks]] — its Lloyd means
    * live at data scale, so residuals genuinely shrink), the PQ
    * codebooks train on the residuals, each query carries one ADC table
    * per probed cell (its residual differs per cell) with ‖q_res‖²
    * riding along so ADC ranks comparably ACROSS cells, and exact
    * cosine refines the top-32.
    *
    * Scale shape: everything the parents had — broadcast codebooks,
    * conditional-argmax assignments, per-(query, cell) LUTs broadcast
    * (queries × 4 cells × 128 entries), candidates probe-bound, the
    * codes column 4 bytes/vector — plus one zip_with residual pass that
    * rides the scan. Integer-exact end to end; the oracle replays BOTH
    * trainings (two 32-dim half codebooks + eight 8-dim residual
    * codebooks, all through the same generic subspace-Lloyd SQL).
    *
    * ROTATION composition (round-6 verdict #5, measured round 7): when
    * [[EmbeddingPca.fit]]'s `offDiagRatio` gate says the covariance is
    * genuinely non-diagonal, an OPQ-style pre-rotation with components
    * round-robined across the EIGHT PQ subspaces lifts this system's
    * recall at EVERY candidate budget on BOTH probe corpora (corr:
    * 0.59→0.85 @16, 0.90→0.96 @64; aniso: 0.31→0.47 @64 — a clustered
    * corpus's between-cluster structure makes its covariance
    * non-diagonal even under iid noise, which the gate measures at
    * 0.28 and correctly converts; round 6's "nothing to rotate on
    * aniso" was specific to the hashed-IMI composition). Two measured
    * failure modes bound the recipe: eigen-ordered components dumped
    * into subspace 0 LOSE recall (0.59→0.35 @16 — the reason OPQ
    * balances variance), and on a truly iid corpus the ratio sits well
    * under the 0.1 threshold so the gate stays silent
    * (EmbeddingPcaSpec pins both gate directions). The composition
    * lives in RecallProbe's `residualRows`/rotation block; this gate
    * query stays un-rotated because no SQL oracle can replay an
    * eigendecomposition — the fixture is the measured proof. */
  def qx44(spark: SparkSession, dir: String): DataFrame = {
    val (a, k) = ivfadcAssets(spark, dir)
    val q = a.base.where(col("vec_id") % 50 === 0)
      .select(col("vec_id").as("qid"), col("iv").as("qiv"), col("n2").as("qn2"))
    ivfadcServe(q, a.books, a.pqBooks, a.codes, a.base, k, topk = 5)
  }

  /** The qx44 index's BUILD artifacts: trained IMI coarse books, the
    * residual PQ books, the cell-keyed coded corpus, the exact base.
    * Factored so the monolithic gates (qx44/qx79b) and the persisted
    * [[graft.operators.HybridIndex]] build from ONE code path. */
  private[graft] case class IvfadcAssets(books: DataFrame, pqBooks: DataFrame,
                                         codes: DataFrame, base: DataFrame)

  private[graft] def ivfadcAssets(spark: SparkSession, dir: String): (IvfadcAssets, Long) =
    ivfadcAssetsFrom(spark, Tables.embeddings(spark, dir))

  private[graft] def ivfadcAssetsFrom(spark: SparkSession,
                                      rawEmb: DataFrame): (IvfadcAssets, Long) =
    ivfadcAssetsFromInt(spark, intEmbeddingsFrom(rawEmb))

  /** [[ivfadcAssetsFrom]] over an ALREADY-integerized base (vec_id, iv,
    * n2) — [[graft.operators.HybridIndex.retrain]] re-trains from the
    * committed base vectors without a float round-trip. */
  private[graft] def ivfadcAssetsFromInt(spark: SparkSession,
                                         base: DataFrame): (IvfadcAssets, Long) = {
    val k = IvfAnn.imiCentroidsFor(base.count())
    val tBooks = IvfAnn.trainedImiCodebooks(base, k, iters = 2)
    // Fused assign+residual kernel: one corpus pass, no cell join
    // (QuantKernelsSpec pins it against the join spelling). The
    // residual table is REUSED — PQ training reads it (bounded probe
    // below the gate, iters scans past it) and the packing pass reads
    // it again — so materialize it ONCE (round 18, guide §5 "persist
    // exactly the reused thing"): un-pinned, each reference re-ran the
    // whole assign+residual kernel and its upstream integerization.
    val resBase = QuantKernels.encodeResidual(base.select("vec_id", "iv"), tBooks, k)
      .localCheckpoint()
    val rBooks = ProductQuantizer.booksN(spark, resBase.select("vec_id", "iv"))
    // cell rides the packing kernel — the corpus-sized join-back on
    // vec_id is gone (round 18, guide §2.1; packedWithCell's note).
    val rCodes = ProductQuantizer.packedWithCell(resBase, rBooks)
    (IvfadcAssets(tBooks, rBooks, rCodes, base), k)
  }

  /** vecs(vec_id, iv) × their assigned/probed cells → ivr = iv − cell
    * center (the residual the PQ codes live in). */
  private def residualizedWith(tBooks: DataFrame, k: Long)
                              (vecs: DataFrame, cellsOf: DataFrame): DataFrame = {
    val centersByLvl = (lvl: Int) => broadcast(tBooks.where(col("lvl") === lvl)
      .select(col("cid").as(s"c$lvl"), col("cv").as(s"cv$lvl")))
    vecs.join(cellsOf, "vec_id")
      .withColumn("c0", expr(s"cell div $k"))
      .withColumn("c1", expr(s"cell % $k"))
      .join(centersByLvl(0), "c0").join(centersByLvl(1), "c1")
      .withColumn("ivr", expr("zip_with(iv, concat(cv0, cv1), (x, c) -> x - c)"))
  }

  /** SERVE the IVFADC index for a query set (qid, qiv, qn2): probe 2×2
    * IMI cells, build per-(query, cell) residual ADC tables, score the
    * cell-joined codes with the codegen'd `pq_adc`, exact-refine the
    * top-[[PqC]] and emit top-`topk` — the query-time half of qx44,
    * shared verbatim by qx79b and the persisted
    * [[graft.operators.HybridIndex]] (so persisted-and-served output
    * is bit-identical to the monolithic gate). */
  private[graft] def ivfadcServe(q: DataFrame, tBooks: DataFrame, rBooks: DataFrame,
                                 rCodes: DataFrame, base: DataFrame, k: Long,
                                 topk: Int,
                                 qCellsOpt: Option[DataFrame] = None,
                                 perLevel: Int = 2,
                                 refineC: Int = PqC): DataFrame = {
    // A caller who already computed the probe set (HybridIndex, which
    // also prunes code buckets with it) passes it in — one probe pass.
    // perLevel/refineC are the SERVING BUDGET knobs (round 15, qx124):
    // perLevel² probed cells bound the candidate set, refineC the
    // exact-rescore pass — the two costs a serving deployment trades
    // against recall.
    val qCells = qCellsOpt.getOrElse(IvfAnn.imiProbeCellsL2(q, tBooks, k, perLevel))
    val qRes = residualizedWith(tBooks, k)(
      q.select(col("qid").as("vec_id"), col("qiv").as("iv")),
      qCells.withColumnRenamed("qid", "vec_id"))
      .select(col("vec_id").as("qid"), col("cell"), col("ivr").as("qiv"),
        expr("long_dot(ivr, ivr)").as("qrn2"))
    // One kernel pass builds every (query, cell) LUT with qrn2 riding
    // along (round 18, guide §1.2/§4): the declarative spelling paid a
    // queries×cells × M·Ksub crossJoin + per-group array_sort AND a
    // qrn2 join-back whose right side re-ran the whole qRes
    // residualization subtree (QuantKernelsSpec pins bit-equality).
    val rLuts = QuantKernels.servingLuts(qRes, rBooks)
    // The (cell) join IS the candidate generation: each probed cell's
    // broadcast LUT row meets exactly its members' code rows.
    val adc = rCodes.join(broadcast(rLuts), Seq("cell"))
      .where(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id"),
        (expr("pq_adc(lutarr, codes)") + col("qrn2")).as("adc"))
    pqRefine(adc, base, q, topk, refineC)
  }

  // ------------------------------------------------------- near-dup dedup

  /** Per-doc MinHash signature table: doc_id, mh0..mh15 — one hash
    * aggregation over the shingle rows.
    *
    * min((a·s + b) mod p) over a multiset equals min over its set, so the
    * shingle `distinct()` — a full (doc_id, s) shuffle of the corpus's
    * biggest intermediate — is unnecessary here: the multiset rows come
    * out of the lead() window already hash-partitioned by doc_id, and
    * the groupBy reuses that partitioning, collapsing the minhash path
    * to ONE exchange end-to-end (round-6: this was the qx4 drift fix —
    * 1.34 → ~0.9 s at sf0.1). */
  private def minhashed(spark: SparkSession, dir: String): DataFrame = {
    val mhCols = (0 until 16).map(minhash)
    shingleRowsMultiset(spark, dir).groupBy("doc_id").agg(mhCols.head, mhCols.tail: _*)
  }

  /** (doc_id, band, sig) LSH band-signature rows — 4 bands of 4 minhashes
    * folded per band. The table qx4 self-joins and qx41 probes a standing
    * corpus with; in a production pipeline THIS is the persisted dedup
    * asset (bucketed by (band, sig)), not the raw text. */
  private def bandSigRows(spark: SparkSession, dir: String): DataFrame =
    minhashed(spark, dir).select(
      col("doc_id"),
      explode(array((0 until 4).map(b =>
        struct(lit(b).as("band"), expr(bandSig(4 * b, 4 * b + 3)).as("sig"))): _*)).as("bs"))
      .select(col("doc_id"), col("bs.band").as("band"), col("bs.sig").as("sig"))

  /** qx4 — MinHash + LSH near-duplicate candidate pairs: 16 minhashes in
    * 4 bands of 4; docs sharing any band signature are candidates. The
    * pair generation is an equi-join on (band, sig) — hash-partitioned,
    * no all-pairs — then distinct. This is the canonical web-scale dedup
    * shape (shingle → minhash → band → bucket-join). */
  def qx4(spark: SparkSession, dir: String): DataFrame = {
    val sigs = bandSigRows(spark, dir)
    val a = sigs.as("a"); val b = sigs.as("b")
    a.join(b, col("a.band") === col("b.band") && col("a.sig") === col("b.sig")
      && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
  }

  /** qx20 — duplicate CLUSTERS from the qx4 near-dup pairs: connected
    * components by alternating star contraction
    * ([[graft.operators.ConnectedComponents]]), each doc labeled with
    * its cluster's minimum doc_id. This is the step a production dedup
    * pipeline runs after pair mining — "keep one per cluster" is then
    * `rep = doc_id`, and transitive near-dups (A≈B≈C with A,C never
    * directly compared) collapse into ONE cluster, which pairwise
    * filtering alone cannot do. O(log n) alternations, two shuffles of
    * a strictly-shrinking edge list each — never the corpus. The oracle
    * re-derives the same labeling with a recursive transitive-closure
    * CTE (fine at oracle scale; the star contraction is the form that
    * survives 100 TB). */
  def qx20(spark: SparkSession, dir: String): DataFrame =
    ConnectedComponents.connectedComponents(qx4(spark, dir))
      .select(col("node").as("doc_id"), col("rep"))

  /** qx115 — LEAKAGE-SAFE train/val/test SPLITS by near-dup cluster
    * (the complement to qx64's domain-grouped splits, closing the
    * leakage channel qx64 cannot see: two near-duplicate documents
    * from DIFFERENT domains landing on opposite sides of the split —
    * the eval-contamination mode dedup-aware corpus releases split by
    * cluster to prevent). Every doc takes its qx20 cluster rep
    * (singletons rep themselves), and the 80/10/10 assignment hashes
    * the REP, so a cluster moves as one unit. The row is
    * SELF-DEMONSTRATING: it emits both schemes side by side — the
    * cluster-keyed splits with their leaky-cluster count (0 by
    * construction) and the naive doc-hash splits with theirs (> 0 on
    * this corpus — the leak the operator exists to close).
    * Scale shape: the cluster labeling is qx20's contraction; the
    * assignment is one map-side hash; the leak audit is one groupBy
    * rep with a distinct-count. */
  def qx115(spark: SparkSession, dir: String): DataFrame = {
    val P = 2147483647L
    val labels = qx20(spark, dir)
    val rep = Tables.documents(spark, dir).select(col("doc_id"))
      .join(labels, Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("rep"), col("doc_id")).as("rep"))
    def bucket(c: org.apache.spark.sql.Column) = {
      val s = pmod(pmod(c * 1000003L + 12345L, lit(P)), lit(10L))
      when(s < 8L, lit(0L)).when(s === 8L, lit(1L)).otherwise(lit(2L))
    }
    val asn = rep
      .withColumn("cl_split", bucket(col("rep")))
      .withColumn("doc_split", bucket(col("doc_id")))
    // ONE corpus-sized exchange for all four folds (round 18, guide
    // §2.4; r17 verdict #6): each countDistinct expands to a two-phase
    // aggregate whose FIRST exchange is corpus-sized, and the four
    // folds paid four of them over `asn`. All four statistics derive
    // from the (rep, cl_split, doc_split) group table instead —
    // cl_split = bucket(rep) is constant per rep, so the groups equal
    // the (rep, doc_split) groups and every fold below is
    // cluster-count-sized:
    //  - splits(scheme): n_docs = Σcnt, n_clusters = countDistinct(rep)
    //    (identical: the rep set per split value is unchanged);
    //  - leaks(scheme): distinct split values per rep are the distinct
    //    values in g2 (identical sets — g2 only merged duplicate rows).
    val g2 = asn.groupBy("rep", "cl_split", "doc_split")
      .agg(count(lit(1)).as("cnt"))
      .localCheckpoint() // referenced by four folds; lineage = the CC run
    def splits(scheme: String, splitCol: String) = g2
      .groupBy(col(splitCol).as("split"))
      .agg(sum("cnt").as("n_docs"), countDistinct("rep").as("n_clusters"))
      .select(lit(scheme).as("scheme"), col("split"), col("n_docs"), col("n_clusters"))
    def leaks(scheme: String, splitCol: String) = g2
      .groupBy("rep").agg(countDistinct(col(splitCol)).as("ns"))
      .where(col("ns") > 1L)
      .agg(count(lit(1)).as("n_clusters"))
      .select(lit(scheme).as("scheme"), lit(-1L).as("split"),
        lit(0L).as("n_docs"), col("n_clusters"))
    splits("cluster", "cl_split")
      .unionByName(splits("dochash", "doc_split"))
      .unionByName(leaks("cluster", "cl_split"))
      .unionByName(leaks("dochash", "doc_split"))
  }

  /** qx116 — COMMUNITY-AWARE mixing caps (r12 verdict #4; the consumer
    * qx102's scaladoc promised): the UniMax waterfill (qx88) run over
    * the qx102 SEMANTIC COMMUNITIES instead of languages, then the
    * stride-schedule audit (qx89) over the community allocations.
    * Rationale: per-domain caps (qx62/qx75) miss a near-duplicate
    * flood that spans domains, and qx115 already moves dup-clusters
    * across SPLITS as one unit — this row makes the TRAINING MIX
    * community-aware too: each semantic cluster is budgeted
    * uniform-up-to-one-epoch, so no cluster's redundancy buys it more
    * than the uniform share, and the stride schedule interleaves
    * cluster exposure smoothly (no block of consecutive same-cluster
    * tokens — the curriculum smoothness the mix family meters).
    *
    * Unit boundedness: the scheduler's closed form folds over the
    * unit table per scheduled token, so the row schedules the TOP-16
    * communities by token mass as named units and coalesces the rest
    * into one tail unit (-1) — the head clusters ARE the redundancy
    * risk; the tail is diverse by construction. Community ids ride as
    * strings through the lang-keyed operators (cap ties break on the
    * string id, replayed identically in SQL) and come back as BIGINT.
    * Scale shape: LPA is the qx102 chain; the token fold is one
    * map-side-combinable scan; everything after is unit-bounded
    * window arithmetic plus the qx89 schedule (one row per scheduled
    * token, O(17) fold each).
    *
    * Honesty (the qx99 pattern): the DRIVER corpus's LSH candidate
    * graph floods to 1–2 communities (measured: 1 at sf0.001/sf0.01,
    * 2 at sf0.1), so the gate hash pins the composition but both
    * waterfill branches only come alive on real multi-community
    * structure — CommunityCapSpec plants a flood + two niche
    * communities and pins the niches at their full epoch while the
    * flood is held to the uniform leftover share. */
  def qx116(spark: SparkSession, dir: String): DataFrame = {
    val (labels, _) = lpaSystem(spark, dir)
    val toks = Tables.documents(spark, dir)
      .select(col("doc_id").as("u"), expr(s"size($WORDS)").cast("long").as("nt"))
    communityCapAudit(labels, toks)
  }

  /** The qx116 composition after the labeling — factored so the spec
    * can drive it with a PLANTED multi-community fixture (the driver
    * corpus's graph is 1–2 communities; see qx116's honesty note).
    * labels(u, label), toks(u, nt) → per-community schedule audit. */
  private[graft] def communityCapAudit(labels: DataFrame, toks: DataFrame): DataFrame = {
    val ctok = labels.join(toks, "u").groupBy("label").agg(sum("nt").as("avail"))
    val rk = ctok.withColumn("r", row_number().over(
      Window.orderBy(col("avail").desc, col("label").asc)).cast("long"))
    val units = rk
      .select(when(col("r") <= 16L, col("label")).otherwise(lit(-1L)).as("unit"),
        col("avail"))
      .groupBy("unit").agg(sum("avail").as("avail"))
      .select(col("unit").cast("string").as("lang"), col("avail"))
    val alloc = UniMax.allocate(units, epochsCap = 1L, budgetNum = 4L, budgetDen = 5L)
    MixSchedule.audit(MixSchedule.schedule(alloc.select(col("lang"), col("alloc"))))
      .select(col("lang").cast("long").as("community"), col("n_slots"),
        col("first_pos"), col("last_pos"), col("sum_pos"),
        col("max_gap"), col("min_gap"))
  }

  /** qx117 — the ONE-ROW-GREEN RELEASE MANIFEST (r12 verdict #5): the
    * four release facts a corpus ships with, folded into one
    * hash-pinned long-format table (section, k, v) — per-source DATA
    * CARDS (qx111), the classifier CALIBRATION profile (qx114's
    * reliability bins — "scores separate but are not calibrated" is a
    * release fact), dup-cluster LEAKAGE-SAFE SPLIT counts with their
    * leak audits (qx115), and the FINAL curated yield per language
    * after the qx45 quality→decon→dedup→budget chain. Each constituent
    * is the SHARED gate spelling, so this row cannot drift from the
    * audits it summarizes (the qx22/qx45 composition discipline one
    * level up); "is this corpus releasable" is this row staying green.
    *
    * Scale shape: the constituents' own shapes (each already probed);
    * the melt is a constant fan-out over their bounded outputs
    * (sources×7 + bins×2 + splits×2 + langs×2 rows). Constituents are
    * checkpointed — each is referenced once per melted metric. */
  def qx117(spark: SparkSession, dir: String): DataFrame = {
    def m(section: String, df: DataFrame,
          ks: (org.apache.spark.sql.Column, org.apache.spark.sql.Column)*): DataFrame =
      ks.map { case (k, v) =>
        df.select(lit(section).as("section"), k.as("k"), v.cast("long").as("v"))
      }.reduce(_ unionByName _)
    // The four constituents are INDEPENDENT, so they materialize
    // CONCURRENTLY (round 14, r13 verdict #6: checkpointed serially the
    // composite paid the SUM of its legs — 10.1 s at sf0.1 — where the
    // slowest leg bounds it under concurrent scheduling; local[32] has
    // the slack and a cluster scheduler more so). localCheckpoint is
    // eager, so each future drives its own leg's jobs; the melt below
    // consumes four pinned frames either way — same rows, same hash.
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    import scala.concurrent.ExecutionContext.Implicits.global
    val fCard = Future(qx111(spark, dir).localCheckpoint())
    val fCal = Future(qx114(spark, dir).localCheckpoint())
    val fSpl = Future(qx115(spark, dir).localCheckpoint())
    val fFin = Future(qx45(spark, dir)
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"), sum("n_tokens").as("n_tokens"))
      .localCheckpoint())
    val card = Await.result(fCard, Duration.Inf)
    val cal = Await.result(fCal, Duration.Inf)
    val spl = Await.result(fSpl, Duration.Inf)
    val fin = Await.result(fFin, Duration.Inf)
    m("card", card,
      (concat(col("source"), lit("/docs")), col("n_docs")),
      (concat(col("source"), lit("/tokens")), col("n_tokens")),
      (concat(col("source"), lit("/chars")), col("sum_chars")),
      (concat(col("source"), lit("/quality_pass")), col("n_pass")),
      (concat(col("source"), lit("/dups")), col("n_dup")),
      (concat(col("source"), lit("/langs")), col("n_langs")),
      (concat(col("source"), lit("/major:"), col("major_lang")), col("major_cnt")))
      .unionByName(m("calibration", cal,
        (concat(lit("bin:"), col("bin").cast("string"), lit("/n")), col("n")),
        (concat(lit("bin:"), col("bin").cast("string"), lit("/gap_milli")),
          col("gap_milli"))))
      .unionByName(m("splits", spl,
        (concat(col("scheme"), lit("/split:"), col("split").cast("string"),
          lit("/docs")), col("n_docs")),
        (concat(col("scheme"), lit("/split:"), col("split").cast("string"),
          lit("/clusters")), col("n_clusters"))))
      .unionByName(m("final", fin,
        (concat(col("lang"), lit("/docs")), col("n_docs")),
        (concat(col("lang"), lit("/tokens")), col("n_tokens"))))
  }

  /** qx118 — ANN RECALL AUDIT, oracle-visible (round 13): recall@5 of
    * the banded-LSH serve (qx3) against the exact brute top-5 (qx2),
    * per-query overlap histogram plus the corpus recall in micro-units
    * on a −1 summary row. Until now serving-quality recall lived in
    * probes and specs (RecallProbe at commit `500eb2a`, GraphAnnSpec);
    * this row makes it a HASH-PINNED release number — the dashboard fact "what
    * recall is the index actually serving" computed from the two
    * shared gate spellings, so it can never drift from the rows it
    * audits (the qx117 discipline applied to serving quality).
    *
    * Scale shape: both legs are the already-probed qx2/qx3 plans
    * (map-side topk_by; ≤ 5·|q| rows out); the audit joins two
    * 5·|q|-row lists and folds a ≤6-bucket histogram — metadata-sized
    * at any corpus scale. */
  def qx118(spark: SparkSession, dir: String): DataFrame = {
    val legs = concurrently(
      () => qx2(spark, dir).select(col("qid"), col("vec_id")).localCheckpoint(),
      () => qx3(spark, dir).select(col("qid"), col("vec_id")).localCheckpoint())
    recallAuditK(legs(0), legs(1), 5)
  }

  /** The recall@k audit fold shared by qx118/qx122/qx123 (factored in
    * round 14 when the ledger grew to every served family — ONE
    * spelling so the audits cannot diverge in their arithmetic):
    * per-query overlap of the two (qid, vec_id) top-k lists as a
    * ≤(k+1)-bucket histogram plus the −1 summary row carrying corpus
    * recall in micro-units. Metadata-sized at any corpus scale — both
    * inputs are ≤ k·|q| rows. */
  private def recallAuditK(brute: DataFrame, served: DataFrame, k: Int): DataFrame = {
    val perQ = brute.select("qid").distinct()
      .join(brute.join(served, Seq("qid", "vec_id"))
        .groupBy("qid").agg(count(lit(1)).as("h")), Seq("qid"), "left")
      .select(col("qid"), coalesce(col("h"), lit(0L)).as("h"))
    val hist = perQ.groupBy("h").agg(count(lit(1)).as("n_queries"))
      .select(col("h").as("hits"), col("n_queries"), lit(0L).as("recall_micro"))
    val tot = perQ.agg(count(lit(1)).as("nq"), sum("h").as("sh"))
      .select(lit(-1L).as("hits"), col("nq").as("n_queries"),
        expr(s"1000000L * sh div ($k * nq)").as("recall_micro"))
    hist.unionByName(tot)
  }

  /** qx119 — SHARD-SUMMABLE data cards, the scale claim on qx111 made
    * oracle-visible (round 13): qx111's scaladoc says "the card a
    * 100 TB release attaches per shard and sums" — this row PROVES
    * which columns that holds for and MEASURES the one that needs a
    * global pass. The corpus splits into two shards (doc_id parity);
    * volume columns fold by addition (n_docs_fold == n_docs_global,
    * hash-pinned), but the redundancy column does not: shard-local
    * dedup only sees within-shard recurrences, and the shortfall
    * n_dup_cross = global − Σ local is exactly the cross-shard
    * duplicate mass a shard-summed card silently understates — the
    * number that says whether your release pipeline needs the global
    * identity exchange (it does whenever this is > 0; on this corpus
    * it is, planted by the neighbor-copy dups straddling parity).
    *
    * Scale shape: one doc scan with the qx111 Horner text hash, one
    * (th) and one (shard, th) groupBy — both map-side-combinable —
    * and source-bounded folds; the broadcast left-semi against the
    * recurring-hash set is qx111's own shape. */
  def qx119(spark: SparkSession, dir: String): DataFrame = {
    val th = """aggregate(split(text, ''), CAST(0 AS BIGINT),
               |         (a, c) -> (a * 31 + ascii(c)) % 1000003)""".stripMargin
    val d = Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"), expr(th).as("th"),
        pmod(col("doc_id"), lit(2L)).as("shard"))
      .localCheckpoint() // feeds four folds; lineage = one doc scan
    val gDup = d.groupBy("th").agg(count(lit(1)).as("n"))
      .where(col("n") >= 2L).select("th")
    val gl = d.join(broadcast(gDup), Seq("th"), "left_semi")
      .groupBy("source").agg(count(lit(1)).as("n_dup_global"))
    val sDup = d.groupBy("shard", "th").agg(count(lit(1)).as("n"))
      .where(col("n") >= 2L).select("shard", "th")
    val lo = d.join(broadcast(sDup), Seq("shard", "th"), "left_semi")
      .groupBy("source").agg(count(lit(1)).as("n_dup_local"))
    val vol = d.groupBy("source").agg(count(lit(1)).as("n_docs_global"))
    val volFold = d.groupBy("shard", "source").agg(count(lit(1)).as("nd"))
      .groupBy("source").agg(sum("nd").as("n_docs_fold"))
    vol.join(volFold, "source")
      .join(gl, Seq("source"), "left")
      .join(lo, Seq("source"), "left")
      .select(col("source"), col("n_docs_fold"), col("n_docs_global"),
        coalesce(col("n_dup_local"), lit(0L)).as("n_dup_local"),
        coalesce(col("n_dup_global"), lit(0L)).as("n_dup_global"),
        (coalesce(col("n_dup_global"), lit(0L)) -
          coalesce(col("n_dup_local"), lit(0L))).as("n_dup_cross"))
  }

  /** qx120 — DEDUP-FAMILY AGREEMENT audit (round 13): the Venn of the
    * three near-dup pair miners over one corpus — lexical MinHash
    * bands (qx4), SimHash Hamming≤3 (qx14), embedding cosine≥0.35
    * (qx12) — folded to the 7 exclusive membership cells. The release
    * fact this pins: the families are DIFFERENT detectors by design
    * (shingle overlap vs bit-parity vs semantic geometry), so "how
    * many pairs does each channel see that the others miss" is the
    * dashboard number that justifies running all three; each family's
    * false-candidate tail lands in its exclusive cell. All three
    * inputs are the SHARED gate spellings (the qx117/qx118 nesting
    * discipline), so the audit cannot drift from the rows it measures.
    * Corpus honesty (the qx99/qx116 pattern): the driver's synthetic
    * embeddings are INDEPENDENT of the text (vec_id-derived), so the
    * semantic channel can never corroborate the lexical ones here —
    * the planted exact copies land in the m∩s cell (21 pairs at
    * sf0.001) and the triple cell is structurally empty; on a real
    * corpus the triple cell is where exact copies go.
    *
    * Scale shape: the three pair sets are the families' own bounded
    * candidate joins (each already probed at 100×); the audit is two
    * hash full-outer joins on (a, b) plus a ≤7-row fold. */
  def qx120(spark: SparkSession, dir: String): DataFrame = {
    val legs = concurrently(
      () => qx4(spark, dir)
        .select(col("doc_a").as("a"), col("doc_b").as("b"), lit(1L).as("m"))
        .localCheckpoint(),
      () => qx14(spark, dir)
        .select(col("doc_a").as("a"), col("doc_b").as("b"), lit(1L).as("s"))
        .localCheckpoint(),
      () => qx12(spark, dir)
        .select(col("vec_a").as("a"), col("vec_b").as("b"), lit(1L).as("e"))
        .localCheckpoint())
    val mh = legs(0); val sh = legs(1); val em = legs(2)
    mh.join(sh, Seq("a", "b"), "full_outer")
      .join(em, Seq("a", "b"), "full_outer")
      .select(coalesce(col("m"), lit(0L)).as("m"),
        coalesce(col("s"), lit(0L)).as("s"),
        coalesce(col("e"), lit(0L)).as("e"))
      .groupBy("m", "s", "e").agg(count(lit(1)).as("n_pairs"))
  }

  /** qx121 — GRAPH-ANN recall audit (the qx118 discipline applied to
    * the fourth ANN family): recall@top1 of the qx109 beam search
    * against the exact brute nearest neighbor (qx2 rank 1) — the
    * metric GraphProbe and GraphAnnSpec already measure off-gate, now
    * HASH-PINNED as a release number. Per-query found ∈ {0, 1}
    * histogram plus the corpus recall micro on a −1 summary row; both
    * legs are the shared gate spellings, so the audit tracks exactly
    * what qx109 serves (beam 4, 3 rounds, LSH-seeded).
    *
    * Scale shape: the legs' own (already-probed) plans; the audit is
    * a semi-join of |q| rows against ≤4·|q| beam rows + a 2-bucket
    * fold — metadata-sized anywhere. */
  def qx121(spark: SparkSession, dir: String): DataFrame = {
    val legs = concurrently(
      () => qx2(spark, dir).where(col("rk") === 1)
        .select(col("qid"), col("vec_id")).localCheckpoint(),
      () => qx109(spark, dir).select(col("qid"), col("vec_id")).localCheckpoint())
    val brute1 = legs(0)
    val beam = legs(1)
    val hit = brute1.join(beam, Seq("qid", "vec_id"), "left_semi")
      .select(col("qid"), lit(1L).as("f"))
    val perQ = brute1.select("qid")
      .join(hit, Seq("qid"), "left")
      .select(col("qid"), coalesce(col("f"), lit(0L)).as("found"))
    val hist = perQ.groupBy("found").agg(count(lit(1)).as("n_queries"))
      .select(col("found"), col("n_queries"), lit(0L).as("recall_micro"))
    val tot = perQ.agg(count(lit(1)).as("nq"), sum("found").as("sf"))
      .select(lit(-1L).as("found"), col("nq").as("n_queries"),
        expr("1000000L * sf div nq").as("recall_micro"))
    hist.unionByName(tot)
  }

  /** qx122 — IVFADC recall audit (round 14, r13 verdict #4: finish the
    * recall ledger — one oracle-visible audit per SERVED ANN family):
    * recall@5 of the residual-IVFADC serve (qx44 — the family that
    * actually serves qx79b/qx106b through the persisted HybridIndex)
    * against the exact brute top-5 (qx2), the qx118 fold verbatim
    * ([[recallAuditK]] — shared spelling, shared arithmetic). Until
    * now IVFADC recall lived only in the RecallProbe fixture's readings
    * (at commit `500eb2a`); this row makes the serving family's recall a
    * HASH-PINNED release number that tracks exactly what the index
    * serves, at every SF the gate runs.
    *
    * Scale shape: both legs are the already-probed qx2/qx44 plans;
    * the audit joins two 5·|q|-row lists and folds a ≤6-bucket
    * histogram — metadata-sized at any corpus scale. */
  def qx122(spark: SparkSession, dir: String): DataFrame = {
    val legs = concurrently(
      () => qx2(spark, dir).select(col("qid"), col("vec_id")).localCheckpoint(),
      () => qx44(spark, dir).select(col("qid"), col("vec_id")).localCheckpoint())
    recallAuditK(legs(0), legs(1), 5)
  }

  /** qx123 — the IVF COARSE-FAMILY recall ledger in one parameterized
    * row (round 14, closing r13 verdict #4's "IMI/k-means variant"):
    * recall@5 vs brute (qx2) for each coarse-quantization family the
    * repo serves — hashed flat IVF (qx13), hashed two-level IMI
    * (qx15), trained k-means IVF (qx16) — the qx118 fold per family
    * with a `family` key column. One row instead of three because the
    * number the ledger answers ("which coarse index family should
    * serve this corpus") is a COMPARISON — the families' histograms
    * belong side by side under identical arithmetic and an identical
    * query set. All four legs are the shared gate spellings, so the
    * ledger cannot drift from the rows it audits.
    *
    * Scale shape: the legs' own (already-probed) plans; each audit is
    * a 5·|q|-row join + ≤6-bucket fold, three of them — still
    * metadata-sized. */
  def qx123(spark: SparkSession, dir: String): DataFrame = {
    val legs = concurrently(
      () => qx2(spark, dir).select(col("qid"), col("vec_id")).localCheckpoint(),
      () => qx13(spark, dir).select(col("qid"), col("vec_id")).localCheckpoint(),
      () => qx15(spark, dir).select(col("qid"), col("vec_id")).localCheckpoint(),
      () => qx16(spark, dir).select(col("qid"), col("vec_id")).localCheckpoint())
    val brute = legs(0)
    def leg(name: String, served: DataFrame): DataFrame =
      recallAuditK(brute, served, 5)
        .select(lit(name).as("family"), col("hits"), col("n_queries"),
          col("recall_micro"))
    leg("ivf", legs(1))
      .unionByName(leg("imi", legs(2)))
      .unionByName(leg("kmeans", legs(3)))
  }

  /** qx124 — RECALL-AT-BUDGET curve for the serving IVFADC family
    * (round 15, r14 verdict #6): the qx122 audit at FOUR operating
    * points of the two serving-budget knobs — probed cells (perLevel²:
    * 1, 4, 9) and exact-refine depth C (32, 256) — so the knobs'
    * recall-cost tradeoff is a hash-pinned release fact instead of a
    * RecallProbe note (the probe measured the curve closing at C = 256,
    * per Jégou TPAMI'11 §V; `p2_c32` is the production default, which
    * anchors this curve to the qx122 ledger row exactly). One
    * parameterized row, the qx123 comparison shape: the question is a
    * CURVE, so the budgets' histograms belong side by side over an
    * identical query set, one build.
    *
    * Scale shape: the IVFADC build runs ONCE (shared assets); each
    * budget leg is a probe-bound serve (candidates ∝ perLevel² · cell
    * occupancy, refine ∝ C) and each audit joins two 5·|q|-row lists —
    * metadata-sized at any corpus scale. */
  def qx124(spark: SparkSession, dir: String): DataFrame = {
    // ONE probe + ONE compressed-domain ADC scan for the whole curve
    // (round 18, guide §5/§3): the four budgets' probe sets NEST
    // (perLevel = p is exactly pmax <= p of the ranked perLevel-3
    // probe — IvfAnnSpec pins the nesting) and the per-(qid, cell)
    // LUTs — and therefore every candidate's adc value — are
    // budget-independent, so the four serves' ADC passes were scoring
    // the same candidates 1+4+4+9 cell-sets' worth of times. One
    // pmax-tagged ADC table at the union budget feeds each budget's
    // OWN refine (`pmax <= p` is bit-exactly that budget's candidate
    // multiset; the refine cut and exact-cosine rescore are per-budget
    // as before). The serve spelling the production path uses
    // (ivfadcServe) is untouched — qx44/qx79b/qx122 still pin it; this
    // row's oracle replays the same arithmetic unchanged. The whole
    // build + ADC spine lives in a lazy val evaluated INSIDE the
    // budget thunks, so it overlaps the brute leg (§2.6) — the first
    // budget thread builds it, the rest block on the same value.
    // The corpus is encoded ONCE for the four budget serves (the
    // checkpointed code table — guide §5 "persist exactly the reused
    // intermediate"); before round 17 every leg's lazy lineage re-ran
    // encodeResidual + packed.
    lazy val spine: (DataFrame, DataFrame, DataFrame) = {
      val (a, k) = ivfadcAssets(spark, dir)
      val codes = a.codes.localCheckpoint()
      val q = a.base.where(col("vec_id") % 50 === 0)
        .select(col("vec_id").as("qid"), col("iv").as("qiv"), col("n2").as("qn2"))
      val qCellsAll = IvfAnn.imiProbeCellsL2Ranked(q, a.books, k, perLevel = 3)
        .localCheckpoint()
      val qRes = residualizedWith(a.books, k)(
        q.select(col("qid").as("vec_id"), col("qiv").as("iv")),
        qCellsAll.select(col("qid").as("vec_id"), col("cell")))
        .select(col("vec_id").as("qid"), col("cell"), col("ivr").as("qiv"),
          expr("long_dot(ivr, ivr)").as("qrn2"))
      val rLuts = QuantKernels.servingLuts(qRes, a.pqBooks)
        .join(qCellsAll, Seq("qid", "cell"))
      val adc = codes.join(broadcast(rLuts), Seq("cell"))
        .where(col("vec_id") =!= col("qid"))
        .select(col("qid"), col("vec_id"),
          (expr("pq_adc(lutarr, codes)") + col("qrn2")).as("adc"), col("pmax"))
        .localCheckpoint() // four budget refines read it
      (adc, a.base, q)
    }
    def budget(p: Int, c: Int): () => DataFrame = () => {
      val (adc, base, q) = spine
      pqRefine(adc.where(col("pmax") <= p).drop("pmax"), base, q, 5, c)
        .select(col("qid"), col("vec_id")).localCheckpoint()
    }
    val legs = concurrently(
      () => qx2(spark, dir).select(col("qid"), col("vec_id")).localCheckpoint(),
      budget(1, 32), budget(2, 32), budget(2, 256), budget(3, 256))
    val brute = legs(0)
    def leg(name: String, served: DataFrame): DataFrame =
      recallAuditK(brute, served, 5)
        .select(lit(name).as("budget"), col("hits"),
          col("n_queries"), col("recall_micro"))
    leg("p1_c32", legs(1)).unionByName(leg("p2_c32", legs(2)))
      .unionByName(leg("p2_c256", legs(3))).unionByName(leg("p3_c256", legs(4)))
  }

  /** The deterministic per-doc sampling hash qx21/qx22 order by: an
    * affine integer scramble of doc_id — uniform-ish, replayable, and
    * identical in the oracle. A production pipeline keys this off a
    * content fingerprint (qx10) when doc_ids correlate with content. */
  private val SAMPLE_HASH = "(doc_id * 1000003 + 12345) % 2147483647"

  /** qx21 — deterministic stratified sampling: k docs per language by
    * hash rank — the data-mixing primitive (fixed per-stratum quotas,
    * reproducible across reruns and replays, no RNG state).
    *
    * Spelled as min-k via [[graft.functions.TopKBy]], so the shuffle
    * carries ≤ k rows per (stratum, map task) — the reservoir-sampling
    * shuffle shape with a deterministic reservoir. The window spelling
    * (row_number over h) would exchange the whole corpus to rank it;
    * this is the same n·q-exchange-vs-bounded-aggregate trade the 100×
    * probe settled for top-k. Weighted strata = scale the hash per
    * stratum before ranking; the shape is unchanged. */
  def qx21(spark: SparkSession, dir: String): DataFrame = {
    val K = 8
    Tables.documents(spark, dir)
      .select(col("lang"), col("doc_id"), expr(SAMPLE_HASH).as("h"))
      .groupBy("lang")
      .agg(expr(s"topk_by(CAST(-h AS DOUBLE), doc_id, $K)").as("tk"))
      .select(col("lang"), posexplode(col("tk")).as(Seq("p", "t")))
      .select(col("lang"), (col("p") + 1).as("rk"), col("t.id").as("doc_id"))
  }

  /** qx27 — PROPORTIONAL stratified sampling: a 50-doc corpus sample
    * allocated across languages by stratum share — quota_s =
    * max(1, (n_s · 50) div n) — where qx21 takes a fixed quota per
    * stratum. The allocation arithmetic is pure integer (div floors
    * identically on the non-negative operands in both engines), the
    * per-stratum pick is the same deterministic hash rank. Shape: the
    * bounded [[graft.functions.TopKBy]] pass takes the MAX possible
    * quota (50) per stratum — still ≤ 50 rows per (stratum, map task)
    * on the wire — and the tiny broadcast quota table trims ranks
    * after. */
  def qx27(spark: SparkSession, dir: String): DataFrame = {
    val Ktot = 50
    val docs = Tables.documents(spark, dir)
      .select(col("lang"), col("doc_id"), expr(SAMPLE_HASH).as("h"))
    val sizes = docs.groupBy("lang").agg(count(lit(1)).as("n_s"))
    val quotas = sizes.crossJoin(broadcast(sizes.agg(sum("n_s").as("n_tot"))))
      .select(col("lang"), greatest(lit(1L), expr(s"(n_s * $Ktot) div n_tot")).as("quota"))
    docs.groupBy("lang")
      .agg(expr(s"topk_by(CAST(-h AS DOUBLE), doc_id, $Ktot)").as("tk"))
      .select(col("lang"), posexplode(col("tk")).as(Seq("p", "t")))
      .select(col("lang"), (col("p") + 1).as("rk"), col("t.id").as("doc_id"))
      .join(broadcast(quotas), "lang")
      .where(col("rk") <= col("quota"))
      .select("lang", "rk", "doc_id")
  }

  /** qx22 — the composed curation pipeline: quality gate → duplicate-
    * cluster kill-list → per-language token budget. One declarative plan
    * chaining three operator families this engine provides, because a
    * real pretraining intake runs them TOGETHER:
    *
    *  1. quality: keep docs with ≥ 30 whitespace tokens (qx7's feature);
    *  2. dedup: drop every near-dup cluster member except the cluster's
    *     min-id representative (qx20's connected components over qx4's
    *     MinHash pairs) — singleton docs pass untouched;
    *  3. budget: admit survivors per language in sampling-hash order
    *     until the language's running token total exceeds 2000 — the
    *     deterministic "mix to N tokens per language" step.
    *
    * Scale shape of the budget step: a naive spelling window-sorts every
    * stratum. Since each admitted doc carries ≥ TokMin tokens, at most
    * budget/TokMin = 66 docs per language can ever be admitted — so a
    * bounded [[graft.functions.TopKBy]] pass prunes each stratum to its
    * 66 best-ranked candidates FIRST (≤ 66 rows per (lang, map task)
    * cross the wire), and the running-sum window sorts only that bounded
    * candidate set. The same partial-aggregate-then-tiny-window shape as
    * qx2's top-k, applied to a prefix-sum admission. */
  def qx22(spark: SparkSession, dir: String): DataFrame = {
    val TokMin = 30L
    val Budget = 2000L
    val maxDocs = (Budget / TokMin).toInt
    val toks = Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"),
        expr(s"size($WORDS)").cast("long").as("n_tokens"),
        expr(SAMPLE_HASH).as("h"))
      .where(col("n_tokens") >= TokMin)
    val kept = toks.join(qx20(spark, dir), Seq("doc_id"), "left")
      .where(col("rep").isNull || col("rep") === col("doc_id"))
    // Join the pruned ids back to the RAW doc projection, not to `kept`
    // (round 17): the surviving ids already passed every upstream
    // filter, doc_id is unique, and (n_tokens, h) are pure functions of
    // the doc row — identical rows out, and the second corpus-chain
    // replay (scan + kill-list join) drops from the plan.
    val pruned = kept.groupBy("lang")
      .agg(expr(s"topk_by(CAST(-h AS DOUBLE), doc_id, $maxDocs)").as("tk"))
      .select(col("lang"), explode(col("tk.id")).as("doc_id"))
      .join(Tables.documents(spark, dir)
        .select(col("doc_id"),
          expr(s"size($WORDS)").cast("long").as("n_tokens"),
          expr(SAMPLE_HASH).as("h")), "doc_id")
    val byHash = Window.partitionBy("lang")
      .orderBy(col("h").asc, col("doc_id").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    pruned
      .withColumn("cum_tokens", sum("n_tokens").over(byHash))
      .where(col("cum_tokens") <= Budget)
      .select("lang", "doc_id", "n_tokens", "cum_tokens")
  }

  /** qx45 — the FULL curation chain as ONE declarative plan: quality
    * gate (≥30 tokens) → benchmark DECONTAMINATION (qx32's
    * bloom-prescreened screen; eval docs themselves are held out too) →
    * near-dup cluster kill-list (qx20, keep the min-id rep) →
    * per-language token budget (qx22's bounded prune + prefix sum).
    * qx22 composed three stages; this is the production pipeline with
    * the fourth, and the stage ORDER is the design: decon runs before
    * dedup on purpose — a cluster whose representative is contaminated
    * contributes nothing (near-dups of leaked benchmark text are leaked
    * benchmark text modulo small edits), which is the conservative
    * release posture, documented rather than accidental.
    *
    * Scale shape: every stage keeps its parent's plan — the decon kill
    * set is contamination-bound (anti-join), the bloom image broadcast,
    * the kill-list edge-bound, the budget window sorts ≤66 candidates
    * per stratum. Oracle replays the whole chain (recursive components
    * included) and hash-matches. */
  def qx45(spark: SparkSession, dir: String): DataFrame = {
    val TokMin = 30L
    val Budget = 2000L
    val maxDocs = (Budget / TokMin).toInt
    // Overlap the chain's two INDEPENDENT corpus-sized legs (round 18,
    // guide §2.6; r17 verdict #2): the decon screen (quality gate +
    // eval holdout + bloom-prescreened kill-list anti-join) and the
    // near-dup cluster labeling (the CC chain, whose size-gated local
    // solve runs eager jobs at construction) used to run strictly
    // serially — screen leg AFTER the CC solve. Each leg is
    // deterministic and checkpointing is value-transparent, so the
    // join below sees identical rows. The bloom-BNLJ prescreen pin
    // moves WITH the screen leg (PlanShapeSpec builds qx45DeconToks
    // directly — the plan is the same subtree, materialized eagerly);
    // the budget tail stays declarative, so the topk_by-bounded window
    // pin stays on the composed plan.
    val legs = concurrently(
      () => qx45DeconToks(spark, dir, TokMin).localCheckpoint(),
      () => qx20(spark, dir).localCheckpoint())
    val kept = legs(0).join(legs(1), Seq("doc_id"), "left")
      .where(col("rep").isNull || col("rep") === col("doc_id"))
    // qx22's join-back trick (round 17): the pruned ids already passed
    // quality + decon + dedup, so re-attaching (n_tokens, h) needs only
    // the raw doc projection — the second replay of the whole curation
    // chain (scan + bloom prescreen + both anti-joins + kill-list join)
    // drops from the plan; rows identical by doc_id uniqueness.
    val pruned = kept.groupBy("lang")
      .agg(expr(s"topk_by(CAST(-h AS DOUBLE), doc_id, $maxDocs)").as("tk"))
      .select(col("lang"), explode(col("tk.id")).as("doc_id"))
      .join(Tables.documents(spark, dir)
        .select(col("doc_id"),
          expr(s"size($WORDS)").cast("long").as("n_tokens"),
          expr(SAMPLE_HASH).as("h")), "doc_id")
    val byHash = Window.partitionBy("lang")
      .orderBy(col("h").asc, col("doc_id").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    pruned
      .withColumn("cum_tokens", sum("n_tokens").over(byHash))
      .where(col("cum_tokens") <= Budget)
      .select("lang", "doc_id", "n_tokens", "cum_tokens")
  }

  /** qx45's decon-screen leg (quality gate → eval holdout → bloom-
    * prescreened kill-list anti-join) — factored so qx45 can overlap it
    * with the CC labeling AND so PlanShapeSpec pins the bloom-BNLJ
    * prescreen on exactly the plan this leg executes. */
  private[graft] def qx45DeconToks(spark: SparkSession, dir: String,
                                   tokMin: Long): DataFrame = {
    val evalIds = qx21(spark, dir).select(col("doc_id").as("eval_doc"))
    val flagged = qx32(spark, dir).select("doc_id")
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"),
        expr(s"size($WORDS)").cast("long").as("n_tokens"),
        expr(SAMPLE_HASH).as("h"))
      .where(col("n_tokens") >= tokMin)
      .join(broadcast(evalIds), col("doc_id") === col("eval_doc"), "left_anti")
      .join(flagged, Seq("doc_id"), "left_anti")
  }

  /** qx5 — SimHash document fingerprints: 16-bit simhash over the word-hash
    * multiset (bit b set iff Σ_words ±1 on that bit of the hash is
    * positive). One explode + one map-side-combinable aggregation — the
    * near-dup grouping is then a plain groupBy on the fingerprint. */
  def qx5(spark: SparkSession, dir: String): DataFrame = {
    val perWord = wordHashRows(spark, dir).select(col("doc_id"), col("wh"))
    val bitSums = (0 until 16).map(bit =>
      sum(expr(s"((wh div ${1L << bit}) % 2) * 2 - 1")).as(s"s$bit"))
    perWord.groupBy("doc_id").agg(bitSums.head, bitSums.tail: _*)
      .withColumn("simhash",
        (0 until 16).map(bit =>
          when(col(s"s$bit") > 0, lit(1L << bit)).otherwise(lit(0L))).reduce(_ + _))
      .select("doc_id", "simhash")
  }

  /** qx14 — SimHash near-duplicate pairs (each fingerprint bit an
    * independent hash-parity ±1 vote over the word-hash multiset — the
    * 16-bit qx5 fingerprint is too narrow for pair mining, birthday
    * collisions swamp it), banded and CORPUS-SIZED: 4 fixed bands (by
    * pigeonhole any pair within Hamming distance 3 agrees on ≥1 band) ×
    * max(15, log2(n/32)) derived fingerprint bits per band, so candidate
    * pairs stay ~linear in n at any scale — the round-3 verdict's last
    * fixed hash space, closed with the same derivation qx3/qx12 use. The
    * fingerprint keeps the reference 60-bit precision (widening past ~1M
    * docs); buckets key on the FULL band sig, so recall is total by
    * pigeonhole and occupancy is bounded by the derived width at every
    * scale. The exact Hamming check runs
    * on band-collision candidates only — the same no-all-pairs shape as
    * qx4/qx12. See [[graft.operators.SimHashLsh]] for the width math;
    * the count() sizing pass is answered from footer metadata by parquet
    * (count pushdown) but costs one extra scan on sources without it —
    * size from catalog statistics there. */
  def qx14(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val n = docs.count()
    val perWord = wordHashRows(spark, dir).select(col("doc_id"), col("wh").as("x"))
    SimHashLsh.nearDupPairs(SimHashLsh.bandSigs(perWord, SimHashLsh.bandWidthFor(n)))
  }

  /** qx17 — exact substring duplication: pairs of documents sharing at
    * least one identical 8-word window (rolling polynomial hash over the
    * word-hash sequence — the exact-match complement to qx4/qx14's
    * similarity mining, and the standard "memorized span" screen a
    * training-data pipeline runs before near-dedup). Emits
    * (doc_a, doc_b, shared_windows).
    *
    * Scale shape: windows come from the SAME per-doc lead() chain the
    * 3-gram shingles use (hash-partitioned by doc_id), then ONE
    * equi-join on the window hash. The skew guard is the frequency cap:
    * window hashes appearing in more than 64 documents (boilerplate —
    * licenses, templates, navigation) are dropped before the self-join,
    * bounding per-key join fan-out at 64²/2 pairs no matter how common
    * the phrase; true duplicated CONTENT survives because it is rare
    * across the corpus by definition. The cap is integer-deterministic
    * and mirrored in the oracle. */
  /** DISTINCT (doc_id, s) rolling 8-word window hashes over any
    * (doc_id, pos, wh) word table — qx17's mining base, shared with the
    * qx29 decontamination screen (which also runs it over the tiny
    * eval set alone). */
  private def windowHashRowsFrom(perWord: DataFrame): DataFrame = {
    val W = 8
    val byPos = Window.partitionBy("doc_id").orderBy("pos")
    val leads = (1 until W).foldLeft(perWord.withColumnRenamed("wh", "h0")) {
      (df, i) => df.withColumn(s"h$i", lead("h0", i).over(byPos))
    }
    val foldExpr = (1 until W).foldLeft("h0")((acc, i) => s"(($acc) * 1009 + h$i) % 2147483647")
    leads.where(col(s"h${W - 1}").isNotNull)
      .select(col("doc_id"), expr(foldExpr).as("s"))
      .distinct()
  }

  private def windowHashRows(spark: SparkSession, dir: String): DataFrame =
    windowHashRowsFrom(wordHashRows(spark, dir))

  def qx17(spark: SparkSession, dir: String): DataFrame = {
    val wins = windowHashRows(spark, dir)
    val keep = wins.groupBy("s").agg(count(lit(1)).as("cnt"))
      .where(col("cnt") >= 2 && col("cnt") <= 64)
      .select("s")
    // The cap MUST bound the self-join's inputs, not filter its output:
    // Spark keeps inner joins left-deep as written (no CBO reorder), so
    // joining first and capping after would fan a 10⁶-doc license phrase
    // into ~5·10¹¹ intermediate pair rows. Semi-join each side against
    // `keep` first; PlanShapeSpec pins this order.
    val capped = wins.join(keep, Seq("s"), "left_semi")
    capped.select(col("s"), col("doc_id").as("doc_a"))
      .join(capped.select(col("s"), col("doc_id").as("doc_b")), "s")
      .where(col("doc_a") < col("doc_b"))
      .groupBy("doc_a", "doc_b")
      .agg(count(lit(1)).as("shared_windows"))
  }

  /** qx29 — benchmark DECONTAMINATION: training docs sharing an exact
    * 8-word window with any doc of a held-out evaluation set (here
    * qx21's stratified sample plays the benchmark) — the screen every
    * pretraining build runs so eval answers don't leak into training
    * data. Emits (doc_id, eval_doc, shared_windows).
    *
    * Scale shape: the EVAL side is small and curated by definition, so
    * its window fingerprints are derived FROM THE EVAL DOCS ALONE (the
    * corpus is never scanned to build them) and broadcast — at 100 TB
    * benchmark fingerprints are MBs, and decon costs ONE unshuffled
    * corpus scan through the broadcast join. No boilerplate cap on
    * purpose, the opposite of qx17: a window shared by MANY training
    * docs is exactly what the screen must surface, so output is
    * contamination-bound, not corpus-bound. */
  def qx29(spark: SparkSession, dir: String): DataFrame = {
    val evalIds = qx21(spark, dir).select(col("doc_id").as("eval_doc"))
    // Eval windows from the eval docs only — tiny, then broadcast.
    val evalWords = Tables.documents(spark, dir)
      .join(broadcast(evalIds), col("doc_id") === col("eval_doc"))
      .select(col("doc_id"), posexplode(split(col("text"), " ")).as(Seq("pos", "w")))
      .where(length(col("w")) > 0)
      .select(col("doc_id"), col("pos"),
        expr("aggregate(split(w, ''), 0L, (a, c) -> (a*31 + ascii(c)) % 1000003)").as("wh"))
    val evalWins = windowHashRowsFrom(evalWords)
      .select(col("s"), col("doc_id").as("eval_doc"))
    windowHashRows(spark, dir).join(broadcast(evalWins), "s")
      .where(col("doc_id") =!= col("eval_doc"))
      .groupBy("doc_id", "eval_doc")
      .agg(count(lit(1)).as("shared_windows"))
  }

  /** qx18 — KMV (k-minimum-values) distinct-count sketch, per source: the
    * "how many distinct shingles does each slice contribute" profiling
    * question answered WITHOUT a full count-distinct shuffle (KMV per
    * Bar-Yossef et al., RANDOM'02). The estimator keeps the k smallest
    * hash values of the set; the k-th
    * smallest h_k estimates |S| ≈ (k−1)·p/h_k (uniform order statistics).
    *
    * The sketch is computed with [[graft.functions.TopKBy]] — min-k is
    * top-k by the NEGATED hash — so it inherits the bounded
    * partial-aggregation shape: every map task reduces its slice to ≤ k
    * values per source before the exchange, the exact property that makes
    * sketch profiling viable at 100 TB (a per-group collect would buffer
    * the full distinct set). Slices with ≤ k distinct values report
    * exactly. All hashing is the affine integer family; the single
    * estimate division is one IEEE double op spelled identically in the
    * oracle. Exact distinct counts ride along as calibration — the column
    * a production profile drops. */
  def qx18(spark: SparkSession, dir: String): DataFrame = {
    val K = 128
    val bySrc = shingleRows(spark, dir)
      .join(Tables.documents(spark, dir).select("doc_id", "source"), "doc_id")
      .select(col("source"), col("s")).distinct()
      .withColumn("h", expr("(s * 1000003 + 997) % 2147483647"))
    bySrc.groupBy("source")
      .agg(
        count(lit(1)).as("n_exact"),
        expr(s"topk_by(CAST(-h AS DOUBLE), h, $K)").as("mink"))
      .select(col("source"), col("n_exact"),
        // CaseWhen short-circuits per row: the n_exact <= K branch fires
        // first, so mink[K-1] (ANSI errors on out-of-bounds) is only
        // touched when the buffer is provably full.
        when(col("n_exact") <= K, col("n_exact").cast("double"))
          .when(expr(s"mink[${K - 1}].id") === 0L, col("n_exact").cast("double"))
          .otherwise(lit((K - 1).toDouble * 2147483647.0) / expr(s"mink[${K - 1}].id"))
          .as("kmv_est"))
  }

  /** qx19 — heavy hitters: the 20 most frequent word hashes per language
    * with their counts (corpus-level frequency profiling — stopword
    * discovery, vocabulary skew, contamination screens). Two bounded
    * aggregations end to end: a map-side-combinable (lang, wh) count,
    * then [[graft.functions.TopKBy]] per language — so the second
    * shuffle carries ≤ k entries per (lang, map task), never the
    * vocabulary. Ties break deterministically by hash asc (the
    * aggregate's (score DESC, id ASC) order). */
  def qx19(spark: SparkSession, dir: String): DataFrame = {
    val counts = Tables.documents(spark, dir)
      .select(col("lang"), explode(expr(WORD_HASHES)).as("wh"))
      .groupBy("lang", "wh").agg(count(lit(1)).as("cnt"))
    counts
      .groupBy("lang")
      .agg(expr("topk_by(CAST(cnt AS DOUBLE), wh, 20)").as("tk"))
      .select(col("lang"), posexplode(col("tk")).as(Seq("p", "t")))
      .select(col("lang"), (col("p") + 1).as("rk"), col("t.id").as("wh"),
        col("t.score").cast("long").as("cnt"))
  }

  /** qx6 — exact n-gram Jaccard, verified on the LSH candidates only (the
    * scale-safe order: cheap LSH recall first, exact verification on the
    * surviving pairs — never all-pairs). Emits pairs with J ≥ 0.5. */
  def qx6(spark: SparkSession, dir: String): DataFrame = {
    // The shingle table is recomputed rather than persisted: a persist()
    // measured as noise at bench scale and pins executor memory for
    // later queries.
    val cands = qx4(spark, dir)
    val exploded = shingleRows(spark, dir)
    val sizes = exploded.groupBy("doc_id").agg(count(lit(1)).as("n"))
    val inter = cands
      .join(exploded.as("ea"), col("doc_a") === col("ea.doc_id"))
      .join(exploded.as("eb"), col("doc_b") === col("eb.doc_id") && col("ea.s") === col("eb.s"))
      .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("inter"))
    inter
      .join(sizes.as("na"), col("doc_a") === col("na.doc_id"))
      .join(sizes.as("nb"), col("doc_b") === col("nb.doc_id"))
      .select(col("doc_a"), col("doc_b"), col("inter"),
        (col("inter").cast("double") /
          (col("na.n") + col("nb.n") - col("inter")).cast("double")).as("jaccard"))
      .where(col("jaccard") >= 0.5)
  }

  // --------------------------------------------------------- text analysis

  /** qx7 — corpus quality stats per (lang, source): token counts, char
    * counts, stopword ratio — single-pass integer aggregates (the quality-
    * scoring features of a pretraining filter). */
  def qx7(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("lang"), col("source"),
        expr(s"size($WORDS)").cast("long").as("n_tokens"),
        expr(s"aggregate($WORDS, 0L, (a, w) -> a + length(w))").as("n_word_chars"),
        expr(s"size(filter($WORDS, w -> w IN ('the', 'a')))").cast("long").as("n_stop"),
        col("n_chars"))
      .groupBy("lang", "source")
      .agg(count(lit(1)).as("n_docs"),
        sum("n_tokens").as("sum_tokens"),
        sum("n_word_chars").as("sum_word_chars"),
        sum("n_stop").as("sum_stop"),
        sum("n_chars").as("sum_chars"),
        (sum("n_stop").cast("double") / sum("n_tokens").cast("double")).as("stop_ratio"))

  /** qx8 — n-gram language-ID heuristic: predict 'en' when the English
    * stopword ratio clears 0.05; report confusion counts per source
    * against the labeled lang. (The synthetic corpus shares one vocabulary
    * across langs, so accuracy is honest-but-low — the operator under test
    * is the scalable scoring pass, not the model.) */
  def qx8(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("source"), col("lang"),
        (expr(s"size(filter($WORDS, w -> w IN ('the', 'a')))").cast("double") /
          expr(s"size($WORDS)").cast("double")).as("stop_ratio"))
      .withColumn("pred_en", col("stop_ratio") > 0.05)
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("pred_en"), 1L).otherwise(0L)).as("n_pred_en"),
        sum(when(col("pred_en") === (col("lang") === "en"), 1L).otherwise(0L)).as("n_correct"))

  /** qx9 — BPE-ish regex tokenization: runs of letters, runs of digits, or
    * single other non-space chars; per-source token totals. One scan,
    * codegen'd regexp, map-side combine. */
  def qx9(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("source"),
        size(expr("regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]', 0)")).cast("long").as("n_bpe"),
        expr(s"size($WORDS)").cast("long").as("n_ws"))
      .groupBy("source")
      .agg(sum("n_bpe").as("sum_bpe_tokens"), sum("n_ws").as("sum_ws_tokens"))

  /** qx10 — rolling-hash document fingerprint: order-sensitive Horner fold
    * of the word-hash sequence (content-defined identity; equal docs ⇒
    * equal fingerprint, reordered docs ⇒ different). Per-doc row output. */
  def qx10(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"),
        expr(s"aggregate($WORD_HASHES, 0L, (a, h) -> (a * 1000003 + h) % 2147483647)").as("fingerprint"))

  /** qx23 — exact per-source token-length quantiles (p50/p90/p99 of doc
    * length): the distribution screen a curation pipeline runs before
    * setting quality thresholds (qx22's ≥30-token gate is read off this
    * table). Nearest-rank quantiles with PURE-INTEGER rank arithmetic —
    * rank_q = (cnt·q + 99) div 100 — so there is no float rounding to
    * drift between engines.
    *
    * Scale shape: one per-group sort (the window) — the exact-quantile
    * lower bound; the value at a rank is deterministic even with ties,
    * so no tiebreak column is needed. At corpus scale the sketch path
    * (qx18's KMV family / one-pass histograms) trades exactness for a
    * bounded aggregate; this is the exact twin those sketches calibrate
    * against. */
  def qx23(spark: SparkSession, dir: String): DataFrame = {
    val toks = Tables.documents(spark, dir)
      .select(col("source"), expr(s"size($WORDS)").cast("long").as("n_tokens"))
    val bySrc = Window.partitionBy("source").orderBy("n_tokens")
    val ranked = toks
      .withColumn("rn", row_number().over(bySrc).cast("long"))
      .withColumn("cnt", count(lit(1)).over(Window.partitionBy("source")))
    def atRank(pct: Int) =
      max(when(col("rn") === expr(s"(cnt * $pct + 99) div 100"), col("n_tokens")))
    ranked.groupBy("source").agg(
      max("cnt").as("n_docs"),
      atRank(50).as("p50"), atRank(90).as("p90"), atRank(99).as("p99"))
  }

  /** qx24 — document chunking: every doc splits into 64-word windows at
    * stride 48 (16-word overlap) — the standard pretraining prep for
    * long documents (context-window-sized pieces, overlap so no span is
    * ever cut without context). Emits (doc_id, chunk_id, n_tokens,
    * chunk_hash); the hash is the order-sensitive Horner fold over the
    * chunk's word hashes (qx10's identity, per chunk), so downstream
    * chunk-level dedup composes. One explode per doc, NO shuffle — the
    * chunk table inherits the scan's partitioning, exactly what a 100 TB
    * chunker wants. Chunk count = (max(n−W, 0) + stride−1) div stride + 1
    * — kept non-negative BEFORE the division because DuckDB's `//`
    * floors while Spark's `div` truncates toward zero: they agree only
    * on non-negative operands. */
  def qx24(spark: SparkSession, dir: String): DataFrame = {
    val W = 64
    val S = 48
    Tables.documents(spark, dir)
      .select(col("doc_id"), expr(WORD_HASHES).as("whs"))
      .withColumn("n", size(col("whs")).cast("long"))
      .where(col("n") > 0)
      .select(col("doc_id"),
        explode(expr(s"sequence(0L, (greatest(n - $W, 0L) + ${S - 1}) div $S)")).as("chunk_id"),
        col("whs"))
      .select(col("doc_id"), col("chunk_id"),
        expr(s"slice(whs, CAST(chunk_id * $S + 1 AS INT), $W)").as("ch"))
      .select(col("doc_id"), col("chunk_id"),
        size(col("ch")).cast("long").as("n_tokens"),
        expr("aggregate(ch, 0L, (a, h) -> (a * 1009 + h) % 2147483647)").as("chunk_hash"))
  }

  /** qx25 — sequence packing: qx24's chunks pack into 256-token training
    * sequences per source, by cumulative token offset in (doc_id,
    * chunk_id) order — chunk-level concat-and-split (a chunk belongs to
    * the sequence its START offset lands in). Emits per-sequence
    * occupancy (n_chunks, n_tokens): the packing-efficiency screen for a
    * training-data build. The offset window partitions by SOURCE — the
    * production shard unit — so no global sort exists at any scale;
    * within a shard the running sum is the exact-prefix cost, same class
    * as qx22's admission. */
  def qx25(spark: SparkSession, dir: String): DataFrame = {
    val SeqLen = 256L
    val bySrc = Window.partitionBy("source").orderBy("doc_id", "chunk_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    qx24(spark, dir)
      .join(Tables.documents(spark, dir).select("doc_id", "source"), "doc_id")
      .withColumn("off", coalesce(sum("n_tokens").over(bySrc), lit(0L)))
      .select(col("source"), expr(s"off div $SeqLen").as("seq_id"),
        col("n_tokens"))
      .groupBy("source", "seq_id")
      .agg(count(lit(1)).as("n_chunks"), sum("n_tokens").as("n_tokens"))
  }

  /** qx26 — distinctive-term extraction: each doc's 3 rarest-in-corpus
    * terms by global document frequency (ties by hash) — the tf-idf
    * flavor that stays in INTEGER arithmetic: df is a count, so there is
    * no cross-engine `log` to drift (libm log differs between engines —
    * the reason idf's usual spelling is banned here). Keyword labeling /
    * topic hinting at corpus scale: one distinct, one count, one join,
    * then a bounded [[graft.functions.TopKBy]] per doc (≤3 rows per
    * (doc, map task) cross the final shuffle). */
  def qx26(spark: SparkSession, dir: String): DataFrame = {
    val docTerms = wordHashRows(spark, dir).select("doc_id", "wh").distinct()
    val dfs = docTerms.groupBy("wh").agg(count(lit(1)).as("df"))
    docTerms.join(dfs, "wh")
      .groupBy("doc_id")
      .agg(expr("topk_by(CAST(-df AS DOUBLE), wh, 3)").as("tk"))
      .select(col("doc_id"), posexplode(col("tk")).as(Seq("p", "t")))
      .select(col("doc_id"), (col("p") + 1).as("rk"), col("t.id").as("wh"),
        (-col("t.score")).cast("long").as("df"))
  }

  /** qx28 — the k=8 PCA PROJECTION made oracle-EXACT (r8 verdict #1:
    * the suite's last rows-only gate row, now hash-gated by the qx46
    * discipline). The k=8 subspace split is verified by Pythagoras
    * with an EXPLICIT reconstruction: p = V₈ᵀ(x−μ) from the broadcast
    * components, residual r = (x−μ) − V₈·p rebuilt coordinate by
    * coordinate (never the ‖x−μ‖²−‖p‖² shortcut, which would be a
    * tautology), and the emitted invariant ‖p₈‖² + ‖r‖² equals
    * ‖x−μ‖² — which DuckDB computes with NO eigendecomposition, in
    * exact HUGEINT arithmetic on the shared micro-unit quantization
    * (Σ_d (n·x_d − S_d)² / (n²·10¹²), the qx46 spelling). A wrong
    * projection value, a non-orthonormal top-8 basis, a wrong mean or
    * a mis-quantized input each break the equality; the trace
    * invariant (Σ all eigenvalues = Σ var_samp) rides along pinning
    * the eigenvalue scale. What the hash deliberately does NOT pin —
    * that the 8 directions are the TOP-variance eigenvectors — is
    * EmbeddingPcaSpec's planted-direction ordering proof, and qx46
    * pins the full-rank family. Scale shape: one Gram pass + driver
    * eigensolve + broadcast join; 8·64 + 64·8 flops per row, no
    * shuffle after the scan. */
  def qx28(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val emb = Tables.embeddings(spark, dir)
      .select(col("vec_id"), expr(
        "transform(embedding, x -> CAST(CAST(floor(CAST(x AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT) AS DOUBLE) / 1e6)")
        .as("v"))
    val model = EmbeddingPca.fit(emb, k = 8)
    val side = Seq((model.mean.toSeq,
        model.components.map(_._2.toSeq), model.components.map(_._3)))
      .toDF("mu", "comps", "mdots")
    emb.crossJoin(broadcast(side))
      .withColumn("p", expr(
        """transform(sequence(0, 7), j ->
          |  aggregate(zip_with(v, comps[j], (a, b) -> a * b), 0D, (s, x) -> s + x)
          |  - mdots[j])""".stripMargin))
      .withColumn("pnorm2", expr("aggregate(p, 0D, (s, x) -> s + x * x)"))
      .withColumn("rnorm2", expr(
        """aggregate(transform(sequence(0, 63), d ->
          |  v[d] - mu[d] - aggregate(sequence(0, 7), 0D,
          |                           (acc, j) -> acc + p[j] * comps[j][d])),
          |  0D, (s, r) -> s + r * r)""".stripMargin))
      .select(col("vec_id"),
        round(col("pnorm2") + col("rnorm2"), 3).as("norm2_split8"),
        round(lit(model.trace), 3).as("total_var"))
  }

  /** qx47 — REAL-format multimodal decode gate (round-6 verdict #3):
    * build one deterministic binary P6 PPM payload per document (real
    * bytes, real header grammar including a comment line — see
    * [[MultimodalCodec.syntheticPpm]]), parse it with the REAL decoder
    * in the typed mapPartitions slot ([[MultimodalCodec.decodePpm]]),
    * and emit all-integer pixel statistics. The DuckDB twin re-derives
    * the stats CLOSED-FORM from the generator formula — it never sees
    * the bytes — so any header misparse, offset error or transposed
    * channel read on the Spark side breaks the hash. This is the gate
    * that makes the BinaryType decode path load-bearing end to end.
    * Scale shape: shuffle-free partition-parallel decode; the only cost
    * is the payload scan itself. */
  def qx47(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val media = Tables.documents(spark, dir).select(col("doc_id")).as[Long]
      .mapPartitions(_.map(id => (id, MultimodalCodec.syntheticPpm(id))))
      .toDF("doc_id", "payload")
    MultimodalCodec.decodePpm(media)
  }

  /** qx46 — EXACT oracle gate for the PCA operator via rotation
    * invariance: project each embedding onto ALL 64 components and emit
    * its projected squared norm. An orthonormal eigenbasis preserves
    * norms, so ‖Vᵀ(x − μ)‖² = ‖x − μ‖² — and the RIGHT side needs no
    * eigendecomposition: DuckDB computes it in EXACT integer arithmetic
    * on the shared micro-unit quantization, Σ_d (n·x_d − S_d)² / (n²·10¹²)
    * (HUGEINT squares — 64 · (2000·6·10⁵)² overflows int64). A second
    * invariant rides along: tr(cov) = Σ all eigenvalues = Σ per-dim
    * `var_samp`, so the hash also pins the eigenvalue scale. Both sides
    * round 1e-3; the Spark value differs from the exact rational only by
    * eigensolve/projection float noise (~1e-12), far under the boundary.
    * A wrong mean, a non-orthonormal basis, a dropped component or a
    * mis-scaled eigenvalue all break the hash — this is the gate row
    * that makes qx28's family oracle-verified, not just spec-argued.
    * Scale shape: one Gram pass + driver eigensolve + broadcast join;
    * the groupBy(vec_id) partial-aggregates map-side. */
  def qx46(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
      .select(col("vec_id"), expr(
        "transform(embedding, x -> CAST(CAST(floor(CAST(x AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT) AS DOUBLE) / 1e6)")
        .as("v"))
    val model = EmbeddingPca.fit(emb, k = EmbeddingPca.Dims)
    emb.crossJoin(broadcast(
        EmbeddingPca.componentsDF(spark, model).select("j", "pcv", "mdot")))
      .select(col("vec_id"),
        (expr("aggregate(zip_with(v, pcv, (a, b) -> a * b), 0D, (s, x) -> s + x)")
          - col("mdot")).as("pj"))
      .groupBy("vec_id")
      .agg(round(sum(col("pj") * col("pj")), 3).as("pnorm2"))
      .withColumn("total_var", round(lit(model.trace), 3))
  }

  /** qx30 — deterministic train/val/test split: 80/10/10 by sampling-
    * hash band, reported as per-(lang, split) doc and token counts —
    * the split every training build needs, REPRODUCIBLE because
    * membership is a pure function of doc_id (no RNG; re-runs,
    * replays and late-arriving shards land each doc in the same split
    * forever). One scan, one map-side-combinable aggregate. */
  def qx30(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("lang"),
        expr(s"size($WORDS)").cast("long").as("n_tokens"),
        expr(s"($SAMPLE_HASH) % 100").as("b"))
      .withColumn("split",
        when(col("b") < 80, "train").when(col("b") < 90, "val").otherwise("test"))
      .groupBy("lang", "split")
      .agg(count(lit(1)).as("n_docs"), sum("n_tokens").as("sum_tokens"))

  /** qx32 — Bloom-prescreened decontamination KILL LIST: the 100 TB
    * path for qx29's screen. qx29 broadcasts the eval window-hash SET —
    * fine while a benchmark is MBs, gigabytes once the held-out suite
    * grows to 10⁸ fingerprints. Here the eval set is folded into an
    * 8 KB Bloom image ([[graft.functions.BloomAgg]], 1024 words × 3
    * probes) that broadcasts at ANY eval size; the corpus windows are
    * rejected INSIDE the scan stage by the bloom predicate (~3 integer
    * ops/row, codegen'd — [[graft.functions.BloomFilter.probeSql]]),
    * and only the contamination-bound survivors reach the exact confirm
    * join that kills the bloom's false positives. No false negatives +
    * exact confirm ⇒ the composed result is EXACT (the oracle never
    * mentions the bloom), which is what makes an approximate structure
    * gate-provable. Emits (doc_id, n_shared): distinct eval window
    * hashes each contaminated training doc shares, eval docs excluded. */
  def qx32(spark: SparkSession, dir: String): DataFrame = {
    val MWords = 1024
    val D = 3
    val evalIds = qx21(spark, dir).select(col("doc_id").as("eval_doc"))
    val evalWords = Tables.documents(spark, dir)
      .join(broadcast(evalIds), col("doc_id") === col("eval_doc"))
      .select(col("doc_id"), posexplode(split(col("text"), " ")).as(Seq("pos", "w")))
      .where(length(col("w")) > 0)
      .select(col("doc_id"), col("pos"),
        expr("aggregate(split(w, ''), 0L, (a, c) -> (a*31 + ascii(c)) % 1000003)").as("wh"))
    val evalWins = windowHashRowsFrom(evalWords).select("s").distinct()
    val bloom = evalWins.agg(expr(s"bloom_agg(s, $MWords, $D)").as("bf"))
    val screened = windowHashRows(spark, dir)
      .join(broadcast(evalIds), col("doc_id") === col("eval_doc"), "left_anti")
      .crossJoin(broadcast(bloom))
      .where(expr(BloomFilter.probeSql("bf", "s", MWords, D)))
    screened
      .join(broadcast(evalWins), "s") // exact confirm: false positives die here
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_shared"))
  }

  /** qx33 — count-min sketch word-frequency estimates per language
    * (Cormode & Muthukrishnan, J. Algorithms 55(1), 2005), probed at
    * the qx19 heavy hitters: the bounded-memory frequency
    * oracle for vocabularies too large to count exactly (CMS estimate =
    * min over d rows of the (row, col-hash) cell counters; always ≥
    * exact, within εn w.h.p.). Emits (lang, rk, wh, exact, cms_est) so
    * the sketch's overestimate is visible next to the truth it brackets.
    *
    * Scale shape: the sketch is its CELL GRID — a map-side-combinable
    * groupBy over (lang, row, col) with at most d·w = 4096 cells per
    * (lang, map task) crossing the wire regardless of vocabulary size
    * (the same bounded-partial-state argument as topk_by, carried by
    * Spark's own partial count). The probe side replays the d cell
    * hashes on 20 rows and broadcast-joins the grid. A per-group
    * object sketch (the bloom_agg pattern) would carry the identical
    * d·w words per task with custom code; the grid spelling gets
    * spill-safety and whole-stage codegen for free — the custom-
    * aggregate slot is only warranted when the state does NOT decompose
    * into cells (bloom's OR-bitset, topk's order statistic). */
  def qx33(spark: SparkSession, dir: String): DataFrame = {
    val W = 1024
    val D = 4
    def colOf(i: Int, h: String) =
      s"((($h * ${1000003L * (i + 1) + 31L} + ${977L * (i + 1)}) % 2147483647) % $W)"
    // ONE corpus pass: the (lang, wh) count table is vocabulary-sized,
    // and BOTH the cell grid (weighted by the counts) and the probe set
    // derive from it — the two consumers share the identical aggregate
    // exchange, so the physical plan reuses it (ReusedExchange, pinned
    // by PlanShapeSpec) instead of exploding the corpus twice.
    val counts = Tables.documents(spark, dir)
      .select(col("lang"), explode(expr(WORD_HASHES)).as("wh"))
      .groupBy("lang", "wh").agg(count(lit(1)).as("exact"))
    val cells = counts
      .select(col("lang"), col("exact"), posexplode(array((0 until D).map(i =>
        expr(colOf(i, "wh"))): _*)).as(Seq("row", "c")))
      .groupBy("lang", "row", "c")
      .agg(sum("exact").as("cell_cnt"))
    val probes = counts
      .groupBy("lang")
      .agg(expr("topk_by(CAST(exact AS DOUBLE), wh, 5)").as("tk"))
      .select(col("lang"), posexplode(col("tk")).as(Seq("p", "t")))
      .select(col("lang"), (col("p") + 1).as("rk"), col("t.id").as("wh"),
        col("t.score").cast("long").as("exact"))
    val probed = probes
      .select(col("lang"), col("rk"), col("wh"), col("exact"),
        posexplode(array((0 until D).map(i => expr(colOf(i, "wh"))): _*)).as(Seq("row", "c")))
    probed.join(cells, Seq("lang", "row", "c"))
      .groupBy("lang", "rk", "wh", "exact")
      .agg(min("cell_cnt").as("cms_est"))
  }

  /** qx64 — GROUP-aware train/val/test split (the leakage discipline
    * qx30's doc-level banding cannot give): membership is a pure
    * function of the document's DOMAIN, so every doc from one domain —
    * including the near-duplicates domains are full of — lands in the
    * same split, and train can never leak a val/test document's twin.
    * This is sklearn's GroupShuffleSplit / the dedup-aware split every
    * contamination-careful release uses, composed from qx62's eTLD+1
    * extraction: domain → Horner char fold (the corpus-wide hash
    * family) → affine band mod 100 → 80/10/10. Deterministic and
    * replay-stable forever; no domain straddles splits BY CONSTRUCTION
    * (the split column is functionally dependent on domain — the gate's
    * n_domains sums to the distinct-domain total across splits).
    *
    * Scale shape: scan-local planting + regex + fold, ONE map-side
    * combinable aggregate on a 3-value key carrying (domain, doc,
    * token) accounting; countDistinct(domain) is exact over a
    * domain-bounded key set. Output: split, n_domains, n_docs,
    * sum_words. */
  def qx64(spark: SparkSession, dir: String): DataFrame = {
    val planted = Tables.documents(spark, dir).select(col("doc_id"),
      expr(s"CAST(size($WORDS) AS BIGINT)").as("n_words"),
      concat(lit("site"), pmod(col("doc_id"), lit(40L)).cast("string"), lit("."),
        element_at(array(lit("com"), lit("org"), lit("net"), lit("io")),
          (pmod(col("doc_id"), lit(4L)) + 1L).cast("int"))).as("domain"))
    planted
      .withColumn("dh",
        expr("aggregate(split(domain, ''), 0L, (a, c) -> (a * 31 + ascii(c)) % 1000003)"))
      .withColumn("band", pmod(col("dh") * 2654435761L + 12345L, lit(100L)))
      .withColumn("split",
        when(col("band") < 80L, lit("train"))
          .when(col("band") < 90L, lit("val")).otherwise(lit("test")))
      .groupBy("split")
      .agg(countDistinct("domain").as("n_domains"),
        count(lit(1)).as("n_docs"),
        sum("n_words").as("sum_words"))
  }

  /** qx63 — TRAINED quality classifier (the CCNet/GPT-3 "looks like the
    * reference corpus" filter): a Naive-Bayes-style lexicon model fit
    * distributively on deterministic pseudo-labels (positive = source
    * number ≡ 0 mod 4 — the "curated slice" every self-training quality
    * filter bootstraps from), then every document scored against it.
    * Rendered integer-EXACT so a hash oracle exists: the per-word
    * likelihood-ratio surrogate is s(w) = ⌊10⁴·(c₊(w)+1)/(c₋(w)+1)⌋ —
    * a monotone image of the smoothed ratio P̂(w|pos)/P̂(w|neg) with the
    * corpus-constant factor pulled out — and the decision rule compares
    * the SUM (the arithmetic-mean surrogate of NB's product; documented
    * divergence, same discipline as qx54's rational idf) against
    * n_words · r, r = ⌊10⁴·(T₊+V)/(T₋+V)⌋, cross-multiplied so no
    * division touches a per-doc number. All BIGINT: scale 10⁴ keeps
    * every product under 2⁶³ out to ~10¹⁴ corpus words.
    *
    * Scale shape: ONE exploded-words pass feeds the class-conditional
    * count table (VOCABULARY-bounded, map-side combinable); totals and
    * V derive from that table, not a second corpus pass; the scoring
    * join broadcasts the model GATED ON ITS MEASURED ROW COUNT (the
    * qx59 discipline — the table is persisted because the gate needs
    * its count anyway), falling back to a hash join on the word key;
    * per-doc and per-source rollups are map-side-combinable aggregates.
    * Output per source: docs, predicted-positive count, word and score
    * sums — the grid a filter-calibration report reads. */
  def qx63(spark: SparkSession, dir: String): DataFrame =
    qx63At(spark, dir, LmBroadcastRows)

  /** qx63 with an explicit broadcast ceiling (see [[qx59At]]). */
  def qx63At(spark: SparkSession, dir: String, broadcastRows: Long): DataFrame = {
    val words = Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"),
        expr("CAST(substring(source, 4) AS BIGINT) % 4 = 0").as("pos"),
        explode(expr(WORDS)).as("word"))
    // Persisted because the broadcast gate consumes the aggregation we
    // need anyway; MEMORY_ONLY, evictable (same policy as qx59's c12).
    val cls = words.groupBy("word")
      .agg(sum(when(col("pos"), 1L).otherwise(0L)).as("c_pos"),
        sum(when(col("pos"), 0L).otherwise(1L)).as("c_neg"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_ONLY)
    val tot = cls.agg(sum("c_pos").as("t_pos"), sum("c_neg").as("t_neg"),
      count(lit(1)).as("vocab"))
    val modelFits = cls.count() <= broadcastRows
    words.join(if (modelFits) broadcast(cls) else cls, "word")
      .withColumn("s", expr("(10000 * (c_pos + 1)) div (c_neg + 1)"))
      .groupBy(col("doc_id"), col("source"))
      .agg(count(lit(1)).as("n_words"), sum("s").as("score"))
      .crossJoin(broadcast(tot))
      .withColumn("pred_pos",
        col("score") > col("n_words") * expr("(10000 * (t_pos + vocab)) div (t_neg + vocab)"))
      .groupBy("source")
      .agg(count(lit(1)).as("docs"),
        sum(when(col("pred_pos"), 1L).otherwise(0L)).as("n_pred_pos"),
        sum("n_words").as("sum_words"),
        sum("score").as("sum_score"))
  }

  /** qx62 — per-DOMAIN document cap (the RefinedWeb/C4 URL discipline):
    * extract each document's registered domain (eTLD+1) from its source
    * URL and keep a deterministic sample of at most 5 docs per domain —
    * the anti-SEO-farm move every web-scale corpus applies so no single
    * host dominates training. The corpus vocabulary carries no URLs, so
    * the gate PLANTS one per doc from doc_id (subdomain × 40 sites × 4
    * TLDs, the qx56 planting discipline), then parses host and eTLD+1
    * with regexes kept to the Java/RE2 agreement subset. Selection is
    * by affine-hash rank (injective mod 2³¹−1 ⇒ tie-free), REPRODUCIBLE
    * forever like qx30's splits.
    *
    * Scale shape: the cap is `topk_by` — a partial-aggregating bounded
    * top-k, so each map task reduces its slice to ≤ 5 rows per domain
    * and the exchange carries k-row buffers, never the corpus (the
    * window spelling would exchange EVERY row of a hot domain to one
    * partition first — the classic skew trap this family documents).
    * Output: (domain, rk, doc_id, n_domain), ≤ 5·|domains| rows. */
  def qx62(spark: SparkSession, dir: String): DataFrame = {
    val planted = Tables.documents(spark, dir).select(col("doc_id"),
      concat(lit("http://"),
        when(pmod(col("doc_id"), lit(3L)) === 0L, lit("www"))
          .otherwise(concat(lit("s"), pmod(col("doc_id"), lit(7L)).cast("string"))),
        lit("."), concat(lit("site"), pmod(col("doc_id"), lit(40L)).cast("string")),
        lit("."),
        element_at(array(lit("com"), lit("org"), lit("net"), lit("io")),
          (pmod(col("doc_id"), lit(4L)) + 1L).cast("int")),
        lit("/p/"), col("doc_id").cast("string")).as("url"))
    planted
      .withColumn("host", regexp_extract(col("url"), "http://([a-z0-9.]+)/", 1))
      .withColumn("domain", regexp_extract(col("host"), "([a-z0-9]+[.][a-z]+)$", 1))
      .withColumn("h", expr(SAMPLE_HASH))
      .groupBy("domain")
      .agg(count(lit(1)).as("n_domain"),
        expr("topk_by(CAST(-h AS DOUBLE), doc_id, 5)").as("tk"))
      .select(col("domain"), col("n_domain"), posexplode(col("tk")))
      .select(col("domain"), (col("pos") + 1L).cast("long").as("rk"),
        col("col.id").as("doc_id"), col("n_domain"))
  }

  /** qx59's LM-broadcast ceiling: a bigram count table under this many
    * rows ships to every worker (the KenLM-style model broadcast);
    * above it the scoring join falls back to the shuffle plan. ~4M rows
    * ≈ 150 MB serialized — conservative for a 4 GB executor. */
  val LmBroadcastRows: Long = 4000000L

  /** qx60 — BPE vocabulary INDUCTION (Sennrich et al. 2016): learn the
    * first 8 merges of a byte-pair-encoding tokenizer from the corpus —
    * the brief's "BPE-ish" token counting upgraded to the real
    * algorithm, learned distributively. One corpus-sized pass builds
    * the word-frequency table; every Lloyd-style iteration after that
    * is VOCABULARY-bounded (pair count + 1-row argmax collect + merge
    * fold — see [[graft.operators.BpeTrainer]] for the greedy
    * left-to-right fold both engines share). The oracle replays all 8
    * iterations as a generated CTE chain, so the learned merge table —
    * including count ties broken (lhs, rhs)-ascending — matches
    * string-for-string. Output: (step, lhs, rhs, pair_count). */
  def qx60(spark: SparkSession, dir: String): DataFrame = {
    val wf = Tables.documents(spark, dir)
      .select(explode(expr(WORDS)).as("word"))
      .groupBy("word").agg(count(lit(1)).as("cnt"))
    val (merges, state) = BpeTrainer.train(wf, steps = 8)
    state.unpersist()
    BpeTrainer.mergesDF(spark, merges)
  }

  /** qx61 — BPE tokenizer APPLY: tokenize the corpus under qx60's
    * learned vocabulary and report per-document token counts — the
    * number a training-data budget actually meters (qx22/qx45 window on
    * whitespace tokens; a real pipeline windows on tokenizer output).
    * The trained per-word tokenization (the final BPE state) is
    * vocabulary-sized, so the apply is ONE broadcast join over the
    * exploded corpus — at 100 TB the tokenizer table broadcasts and the
    * corpus is scanned once, the published pipeline shape. The oracle
    * replays training AND apply in the same CTE chain. */
  def qx61(spark: SparkSession, dir: String): DataFrame = {
    val wf = Tables.documents(spark, dir)
      .select(explode(expr(WORDS)).as("word"))
      .groupBy("word").agg(count(lit(1)).as("cnt"))
    val (_, state) = BpeTrainer.train(wf, steps = 8)
    val tok = state.select(col("word"), BpeTrainer.tokenCount.as("n_tok"))
    // state stays cached (vocabulary-sized, MEMORY_ONLY — evictable):
    // unpersisting here would recompute the whole 8-fold training chain,
    // including the corpus-sized word count, when the apply executes —
    // the 100× probe measured that as a full extra corpus scan.
    Tables.documents(spark, dir)
      .select(col("doc_id"), explode(expr(WORDS)).as("word"))
      .join(broadcast(tok), "word")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_words"), sum("n_tok").as("n_bpe_tokens"))
  }

  /** qx59 — corpus-LM SURPRISAL quality score: the CCNet/Gopher move —
    * score each document by how unlikely its word sequence is under a
    * language model fit on the corpus itself — rendered integer-EXACT
    * so a hash oracle exists. The "LM" is the corpus bigram table with
    * add-one-style smoothing, and the per-bigram surprisal surrogate is
    * s(w1,w2) = ⌊10⁶ · (c₁(w1) + V) / (c₁₂(w1,w2) + 1)⌋ — a monotone
    * image of −log P̂(w2|w1) (bigger = less likely), all BIGINT: no
    * transcendental log whose platform rounding could split the
    * engines. c₁ counts w1 as a LEFT context, c₁₂ the bigram, V the
    * distinct-word vocabulary. Output per doc (≥ 2 words): bigram
    * count, surprisal sum, and the integer mean — the column a
    * perplexity-percentile filter thresholds.
    *
    * Scale shape: one explode pass builds the bigram stream; the count
    * tables are LEXICON-bounded (not corpus-bounded). The published
    * CCNet shape broadcasts the LM to every worker — and the 100×
    * probe measured both spellings: broadcast-joined counts score the
    * stream map-side in 28 s; hint-free AQE picks sort-merge and pays
    * two full-stream sort exchanges (95 s, 3.4×). But c₁₂ is
    * bigram-vocabulary-sized — millions of rows on a real corpus — so
    * the broadcast is GATED ON MEASUREMENT, not assumed: the count
    * table is persisted (it is needed twice anyway), its exact row
    * count is read off the required aggregation, and the plan
    * broadcasts only under [[LmBroadcastRows]], falling back to the
    * shuffle join on the already-shared (w1, w2) key above it. Every
    * aggregate is map-side partial. */
  def qx59(spark: SparkSession, dir: String): DataFrame =
    qx59At(spark, dir, LmBroadcastRows)

  /** qx59 with an explicit broadcast ceiling — the fallback path (model
    * above the ceiling ⇒ shuffle join on the already-shared (w1, w2)
    * key) is result-identical by construction; BroadcastGateSpec pins
    * both the equality and the two plan shapes. */
  def qx59At(spark: SparkSession, dir: String, broadcastRows: Long): DataFrame = {
    val bg = Tables.documents(spark, dir)
      .select(col("doc_id"), expr(WORDS).as("ws"))
      .where(size(col("ws")) >= 2)
      .select(col("doc_id"), explode(expr(
        "transform(sequence(1, size(ws) - 1), i -> struct(element_at(ws, i) AS w1, element_at(ws, i + 1) AS w2))"))
        .as("b"))
      .select(col("doc_id"), col("b.w1").as("w1"), col("b.w2").as("w2"))
    // Persisted because the row count below consumes the aggregation
    // we need anyway; MEMORY_ONLY, evictable.
    val c12 = bg.groupBy("w1", "w2").agg(count(lit(1)).as("c12")).persist()
    val c1 = bg.groupBy("w1").agg(count(lit(1)).as("c1"))
    val v = Tables.documents(spark, dir)
      .select(explode(expr(WORDS)).as("w")).agg(countDistinct("w").as("vocab"))
    val lmFits = c12.count() <= broadcastRows
    bg.join(if (lmFits) broadcast(c12) else c12, Seq("w1", "w2"))
      .join(if (lmFits) broadcast(c1) else c1, Seq("w1"))
      .crossJoin(broadcast(v))
      .select(col("doc_id"),
        expr("(1000000L * (c1 + vocab)) div (c12 + 1)").as("s"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"), sum("s").as("surprisal_sum"))
      .withColumn("mean_surprisal", expr("surprisal_sum div n_bigrams"))
  }

  /** qx31 — within-document repetition screen (the Gopher-style quality
    * rule "drop docs whose n-gram stream is mostly self-repetition" —
    * machine-generated and boilerplate text repeats itself long before
    * it duplicates anything else in the corpus). Per doc: bigram count,
    * duplicate-bigram count (multiset minus set), the dup ratio, and the
    * ≥0.2 flag a curation gate would key on.
    *
    * Scale shape: ZERO shuffles — the bigram array is built and measured
    * inside the scan's projection (array HOFs over the word-hash list),
    * so the screen costs exactly one corpus pass no matter the scale;
    * it composes with qx22's gate as one more scan-local predicate. The
    * bigram hash is the same (h1*1009 + h2) mod p family as qx36's
    * corpus-frequency rows, so the two screens share vocabulary. */
  def qx31(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), expr(WORD_HASHES).as("whs"))
      .where(size(col("whs")) >= 2)
      .select(col("doc_id"), expr(
        s"transform(sequence(1, size(whs) - 1), i -> (element_at(whs, i) * 1009 + element_at(whs, i + 1)) % 2147483647)")
        .as("bgs"))
      .select(col("doc_id"),
        size(col("bgs")).cast("long").as("n_bigrams"),
        (size(col("bgs")) - size(array_distinct(col("bgs")))).cast("long").as("n_dup"))
      .withColumn("dup_ratio",
        col("n_dup").cast("double") / col("n_bigrams").cast("double"))
      .withColumn("flagged", col("dup_ratio") > 0.2)

  /** qx34 — TEMPERATURE-scaled mixture sampling (α = 0.5): a 48-doc
    * corpus sample where each language's share is proportional to
    * √n_s instead of n_s — the standard multilingual-training move
    * that up-weights small languages without letting any stratum
    * dominate (proportional at α=1 is qx27; uniform at α=0 is qx21).
    * Weights are floor(sqrt(n_s)) — IEEE sqrt is correctly rounded in
    * both engines, so the floor is deterministic for any count < 2⁵² —
    * and the allocation arithmetic is the same integer quota family as
    * qx27. Shape: identical to qx27 — one bounded [[graft.functions.
    * TopKBy]] pass per stratum (≤ 48 rows per (lang, map task) on the
    * wire) + a tiny broadcast quota table. */
  def qx34(spark: SparkSession, dir: String): DataFrame = {
    val Ktot = 48
    val docs = Tables.documents(spark, dir)
      .select(col("lang"), col("doc_id"), expr(SAMPLE_HASH).as("h"))
    val ws = docs.groupBy("lang").agg(count(lit(1)).as("n_s"))
      .select(col("lang"),
        expr("CAST(floor(sqrt(CAST(n_s AS DOUBLE))) AS BIGINT)").as("w_s"))
    val quotas = ws.crossJoin(broadcast(ws.agg(sum("w_s").as("w_tot"))))
      .select(col("lang"), greatest(lit(1L), expr(s"(w_s * $Ktot) div w_tot")).as("quota"))
    docs.groupBy("lang")
      .agg(expr(s"topk_by(CAST(-h AS DOUBLE), doc_id, $Ktot)").as("tk"))
      .select(col("lang"), posexplode(col("tk")).as(Seq("p", "t")))
      .select(col("lang"), (col("p") + 1).as("rk"), col("t.id").as("doc_id"))
      .join(broadcast(quotas), "lang")
      .where(col("rk") <= col("quota"))
      .select("lang", "rk", "doc_id")
  }

  /** qx35 — log₂-histogram quantile SKETCH per source: the mergeable,
    * bounded-state approximate twin of qx23's exact quantiles. Each doc
    * lands in bucket floor(log₂ n_tokens) (≤ 64 buckets ever — the
    * histogram is a fixed-size mergeable sketch, unlike qx23's per-group
    * sort), the estimate for a quantile is the upper bound 2^(b+1)−1 of
    * the first bucket whose cumulative count reaches the nearest-rank
    * index — a ≤2× overestimate by construction, which is the
    * log-histogram's contract (DDSketch tightens the same idea with
    * finer buckets; the γ=2 flavor keeps every number integer-exact for
    * the oracle).
    *
    * Scale shape: ONE map-side-combinable (source, bucket) count — the
    * corpus never shuffles, only ≤64 cells per (source, map task) do —
    * then the cumulative window runs over ≤64 rows per source. This is
    * the quantile you can afford hourly at 100 TB; qx23 is the exact
    * calibration run. floor(log₂ x) is spelled length(bin(x))−1, the
    * same integer trick the LSH width derivations use in both engines. */
  def qx35(spark: SparkSession, dir: String): DataFrame = {
    val cells = Tables.documents(spark, dir)
      .select(col("source"), expr(s"size($WORDS)").cast("long").as("n_tokens"))
      .where(col("n_tokens") > 0)
      .groupBy(col("source"), expr("length(bin(n_tokens)) - 1").as("bucket"))
      .agg(count(lit(1)).as("cnt"))
    val bySrc = Window.partitionBy("source").orderBy("bucket")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val ranked = cells
      .withColumn("cum", sum("cnt").over(bySrc))
      .withColumn("n_docs", sum("cnt").over(Window.partitionBy("source")))
    def est(pct: Int) =
      min(when(col("cum") >= expr(s"(n_docs * $pct + 99) div 100"),
        expr("(CAST(1 AS BIGINT) << (bucket + 1)) - 1"))).as(s"p${pct}_est")
    ranked.groupBy("source")
      .agg(max("n_docs").as("n_docs"), est(50), est(90), est(99))
  }

  /** qx36 — bigram-coverage quality score (the perplexity PROXY a
    * pipeline runs when no language model is in reach): per doc, the
    * fraction of its bigram INSTANCES whose corpus-wide frequency is
    * ≥ 3. Fluent text is built from constructions the corpus has seen;
    * gibberish and mangled extractions are not — low coverage is the
    * integer-arithmetic stand-in for high LM perplexity (CCNet's
    * bucketing, with corpus frequency as the model).
    *
    * Scale shape: bigram rows fall out of the SAME per-doc lead() chain
    * the shingle/window tables use (hash-partitioned by doc_id, no extra
    * exchange); the frequency table is one map-side-combinable count
    * whose size is the bigram VOCABULARY (≪ corpus); the join back is
    * hash-partitioned on the bigram. Two vocabulary-sized shuffles +
    * one corpus-sized join — the minimum any corpus-frequency feature
    * costs. */
  def qx36(spark: SparkSession, dir: String): DataFrame = {
    val byPos = Window.partitionBy("doc_id").orderBy("pos")
    val bg = wordHashRows(spark, dir)
      .withColumn("h2", lead("wh", 1).over(byPos))
      .where(col("h2").isNotNull)
      .select(col("doc_id"), expr("(wh * 1009 + h2) % 2147483647").as("bg"))
    val freq = bg.groupBy("bg").agg(count(lit(1)).as("cnt"))
    bg.join(freq, "bg")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"),
        sum(when(col("cnt") >= 3, 1L).otherwise(0L)).as("n_common"))
      .withColumn("coverage",
        col("n_common").cast("double") / col("n_bigrams").cast("double"))
  }

  /** qx40 — contamination-aware SPLIT report: per (lang, split), how
    * many docs land there (qx30's deterministic 80/10/10 banding) and
    * how many of them share an eval fingerprint (qx32's bloom-
    * prescreened kill list) — the one-page screen a release pipeline
    * reads before shipping a training set ("is the contamination in
    * train, or bleeding into val/test too?"). Pure composition: the
    * kill list joins as a left semi-ish flag onto the split scan; no
    * new shuffle beyond qx32's own. */
  def qx40(spark: SparkSession, dir: String): DataFrame = {
    val contaminated = qx32(spark, dir)
      .select(col("doc_id"), lit(1L).as("contam"))
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"), expr(s"($SAMPLE_HASH) % 100").as("b"))
      .withColumn("split",
        when(col("b") < 80, "train").when(col("b") < 90, "val").otherwise("test"))
      .join(contaminated, Seq("doc_id"), "left")
      .groupBy("lang", "split")
      .agg(count(lit(1)).as("n_docs"),
        sum(coalesce(col("contam"), lit(0L))).as("n_contaminated"))
  }

  /** qx38 — trained-cluster label PURITY: qx16's k-means assignment
    * joined back to the embeddings' labels — per cluster, the majority
    * label and its share (the standard unsupervised-quality screen:
    * "do the learned cells track the real classes?"). This is the
    * EVALUATION step the ANN family was missing as a gate query —
    * RecallProbe measures recall out-of-band; purity is cheap enough
    * to gate because every intermediate (assignment, counts, ties by
    * smallest label) is integer-exact through the same two-Lloyd-step
    * derivation the qx16 oracle already replays.
    *
    * Scale shape: the assignment is qx16's (broadcast codebook,
    * map-side argmin); the purity aggregate is two bounded groupBys —
    * (cid, label) cells then per-cid majority via a window over ≤
    * |labels| rows per cid. Nothing new crosses the wire. */
  def qx38(spark: SparkSession, dir: String): DataFrame = {
    val base = intEmbeddings(spark, dir)
    val k = IvfAnn.kmeansCentroidsFor(Tables.embeddings(spark, dir).count())
    val cents = IvfAnn.trainedCentroids(base, IvfAnn.centroids(spark, k), iters = 2)
    val cc = IvfAnn.l2Assignments(base, cents)
      .join(Tables.embeddings(spark, dir)
        .select(col("vec_id"), col("label").cast("long").as("label")), "vec_id")
      .groupBy("cid", "label").agg(count(lit(1)).as("cnt"))
    val byCid = Window.partitionBy("cid")
      .orderBy(col("cnt").desc, col("label").asc)
    cc.withColumn("n_vecs", sum("cnt").over(Window.partitionBy("cid")))
      .withColumn("rn", row_number().over(byCid))
      .where(col("rn") === 1)
      .select(col("cid"), col("n_vecs"),
        col("label").as("top_label"), col("cnt").as("top_cnt"),
        (col("cnt").cast("double") / col("n_vecs").cast("double")).as("share"))
  }

  /** The distinct (source, s) shingle rows both overlap screens share —
    * qx18's KMV base without the hash column. */
  private def sourceShingles(spark: SparkSession, dir: String): DataFrame =
    shingleRows(spark, dir)
      .join(Tables.documents(spark, dir).select("doc_id", "source"), "doc_id")
      .select("source", "s").distinct()

  /** qx37 — EXACT cross-source overlap matrix: for every source pair,
    * the count of shared distinct shingles and the Jaccard — the corpus
    * forensics behind mixing decisions ("is src7 just a re-crawl of
    * src3?"), the source-level complement of qx4's doc-level mining.
    *
    * Scale shape: the join keys on the shingle over the DISTINCT
    * (source, s) table, so a shingle contributes at most C(|sources|,2)
    * pair rows no matter how many documents carry it — fan-out is
    * bounded by the source count squared, not by corpus skew — and the
    * count aggregate map-side-combines the pair rows immediately. The
    * output is |sources|² rows: tiny at any corpus size. When even the
    * distinct-shingle join is too dear, qx39 answers the same question
    * from k-value sketches without re-touching the corpus. */
  def qx37(spark: SparkSession, dir: String): DataFrame = {
    val srcSh = sourceShingles(spark, dir)
    val sizes = srcSh.groupBy("source").agg(count(lit(1)).as("n"))
    srcSh.as("a")
      .join(srcSh.as("b"),
        col("a.s") === col("b.s") && col("a.source") < col("b.source"))
      .select(col("a.source").as("src_a"), col("b.source").as("src_b"))
      .groupBy("src_a", "src_b").agg(count(lit(1)).as("inter"))
      .join(broadcast(sizes.as("na")), col("src_a") === col("na.source"))
      .join(broadcast(sizes.as("nb")), col("src_b") === col("nb.source"))
      .select(col("src_a"), col("src_b"), col("inter"),
        (col("inter").cast("double") /
          (col("na.n") + col("nb.n") - col("inter")).cast("double")).as("jaccard"))
  }

  /** qx39 — SKETCHED cross-source overlap: the same pairwise question
    * answered entirely in KMV sketch algebra — per source, the k = 128
    * minimum hash values (qx18's sketch, built with the bounded
    * [[graft.functions.TopKBy]] pass); per pair, the union estimate
    * from the k-th smallest of the MERGED sketches and the intersection
    * by inclusion–exclusion, clamped at 0.
    *
    * This is the shape that matters at 100 TB: the corpus is touched
    * ONCE to build |sources| sketches of 128 longs each, and every
    * pairwise (or m-way) overlap question afterwards runs on
    * |sources|²·k rows — kilobytes — with no second corpus pass. KMV
    * sketches are mergeable by construction (the k smallest of a union
    * is computable from the two k-minima alone), which is exactly why
    * the estimate is derivable in both engines bit-identically: every
    * intermediate is an integer order statistic; the only floats are
    * the final estimate divisions, spelled operation-for-operation in
    * the oracle. Pairs whose merged sketch holds fewer than k distinct
    * values report the union EXACTLY (sketch = whole set there). */
  def qx39(spark: SparkSession, dir: String): DataFrame = {
    val K = 128
    val P = 2147483647L
    val hashed = sourceShingles(spark, dir)
      .withColumn("h", expr(s"(s * 1000003 + 997) % $P"))
    val sk = hashed.groupBy("source")
      .agg(expr(s"topk_by(CAST(-h AS DOUBLE), h, $K)").as("mink"))
      .select(col("source"), col("mink.id").as("hs"),
        size(col("mink")).cast("long").as("n_sk"))
    val est = (name: String) => // per-source KMV estimate from its own sketch
      when(col(s"${name}_n") < K, col(s"${name}_n").cast("double"))
        .otherwise(lit((K - 1).toDouble * P) / col(s"${name}_kth").cast("double"))
    val pairs = sk.as("a")
      .join(sk.as("b"), col("a.source") < col("b.source"))
      .select(
        col("a.source").as("src_a"), col("b.source").as("src_b"),
        col("a.n_sk").as("a_n"), col("b.n_sk").as("b_n"),
        // CaseWhen short-circuits per row (the qx18 pattern): the
        // element_at(·, K) arm — ANSI errors out of bounds — is only
        // touched when the sketch is provably full.
        when(col("a.n_sk") < K, lit(0L))
          .otherwise(element_at(col("a.hs"), K)).as("a_kth"),
        when(col("b.n_sk") < K, lit(0L))
          .otherwise(element_at(col("b.hs"), K)).as("b_kth"),
        // Merged sketch: k smallest DISTINCT values of the union of the
        // two k-minima — sketch algebra only, no corpus access.
        expr(s"slice(array_sort(array_distinct(concat(a.hs, b.hs))), 1, $K)").as("u"))
      .select(col("src_a"), col("src_b"), col("a_n"), col("b_n"),
        col("a_kth"), col("b_kth"),
        size(col("u")).cast("long").as("u_n"),
        when(size(col("u")) < K, lit(0L))
          .otherwise(element_at(col("u"), K)).as("u_kth"))
    pairs.select(col("src_a"), col("src_b"),
        est("a").as("est_a"), est("b").as("est_b"),
        when(col("u_n") < K, col("u_n").cast("double"))
          .otherwise(lit((K - 1).toDouble * P) / col("u_kth").cast("double"))
          .as("est_union"))
      .withColumn("est_inter",
        greatest(lit(0.0), col("est_a") + col("est_b") - col("est_union")))
  }

  /** qx41 — INCREMENTAL corpus near-dup admission: screen a newly
    * ingested batch (docs with doc_id % 10 = 7 play today's ingest)
    * against the standing corpus WITHOUT ever re-pairing the corpus with
    * itself — the production daily-ingest pattern the full-corpus
    * self-join family (qx4/qx14/qx17) deliberately does not cover.
    *
    * Plan: both sides derive [[bandSigRows]] (in production the corpus
    * side is the PERSISTED band table, bucketed by (band, sig), so the
    * standing corpus is not even rescanned — here the gate is stateless
    * so it derives both); candidates = batch sigs equi-joined against
    * corpus sigs on (band, sig), plus a batch-internal join against
    * smaller-id batch docs. Candidates are then VERIFIED by minhash
    * agreement (≥ 8 of 16 equal minhashes ⇒ Jaccard ≳ 0.5 estimate) —
    * both joins are candidate-bound, never corpus-bound. Verdict
    * precedence per new doc: dup-of-corpus (min verified corpus id) >
    * dup-in-batch (min verified smaller batch id) > admitted.
    * Batch-internal chains are resolved by id order, not transitively —
    * a batch is day-sized, so a production run follows with qx20's
    * components on the batch-only pair set; the corpus side needs no
    * resolution because standing docs are already deduped.
    *
    * 100 TB shape: per-ingest cost = |batch| sig derivation + one hash
    * join against the standing band table + minhash verify on the
    * candidate set; admitted docs' sigs append to the standing table.
    * The corpus pays its own derivation ONCE ever, not per ingest. */
  def qx41(spark: SparkSession, dir: String): DataFrame = {
    val NewRes = 7
    val mh = minhashed(spark, dir)
    val sigs = bandSigRows(spark, dir)
    val newSigs = sigs.where(col("doc_id") % 10 === NewRes)
    val corpusSigs = sigs.where(col("doc_id") % 10 =!= NewRes)
    val corpusCand = newSigs.as("n")
      .join(corpusSigs.as("c"),
        col("n.band") === col("c.band") && col("n.sig") === col("c.sig"))
      .select(col("n.doc_id").as("new_id"), col("c.doc_id").as("other_id"))
      .distinct()
    val batchCand = newSigs.as("n")
      .join(newSigs.as("p"),
        col("n.band") === col("p.band") && col("n.sig") === col("p.sig")
          && col("p.doc_id") < col("n.doc_id"))
      .select(col("n.doc_id").as("new_id"), col("p.doc_id").as("other_id"))
      .distinct()
    // ≥8/16 equal minhashes — the integer Jaccard-estimate verify, run
    // on candidates only (the qx6 discipline at signature granularity).
    val agree = (0 until 16).map(k =>
      when(col(s"x.mh$k") === col(s"y.mh$k"), 1).otherwise(0)).reduce(_ + _)
    def verify(cand: DataFrame, out: String): DataFrame =
      cand.join(mh.as("x"), col("new_id") === col("x.doc_id"))
        .join(mh.as("y"), col("other_id") === col("y.doc_id"))
        .where(agree >= 8)
        .groupBy("new_id").agg(min("other_id").as(out))
    val corpusVer = verify(corpusCand, "corpus_dup_of")
      .withColumnRenamed("new_id", "cid")
    val batchVer = verify(batchCand, "batch_dup_of")
      .withColumnRenamed("new_id", "bid")
    Tables.documents(spark, dir)
      .where(col("doc_id") % 10 === NewRes).select("doc_id")
      .join(corpusVer, col("doc_id") === col("cid"), "left")
      .join(batchVer, col("doc_id") === col("bid"), "left")
      .select(col("doc_id"),
        when(col("corpus_dup_of").isNotNull, "corpus_dup")
          .when(col("batch_dup_of").isNotNull, "batch_dup")
          .otherwise("admitted").as("verdict"),
        coalesce(col("corpus_dup_of"), col("batch_dup_of"), lit(-1L)).as("dup_of"))
  }

  // ----------------------------------------------------------- multimodal

  /** qx11 — multimodal column plumbing: an opaque BINARY payload column +
    * typed metadata, decoded at the [[graft.operators.MultimodalCodec]]
    * boundary.
    *
    * The payload here is a deterministic 16-byte fake (md5 of the props
    * json) because this container has no image/audio codecs — the REAL
    * parts under test are the Spark-side plumbing: a BinaryType column
    * flowing through the plan, metadata extracted from JSON, and a decode
    * boundary with a stable schema. The stub's outputs are relational, so
    * this query takes the columnar (all-codegen) rendering; the typed
    * mapPartitions slot a real codec needs is MultimodalCodec.decodeTyped,
    * proven output-identical in MultimodalCodecSpec. */
  def qx11(spark: SparkSession, dir: String): DataFrame = {
    val media = Tables.events(spark, dir).select(
      col("event_id"), col("event_type"),
      get_json_object(col("props"), "$.k").cast("long").as("k"),
      unhex(md5(col("props"))).as("payload"))
    MultimodalCodec.decodeColumnar(media)
      .groupBy("event_type")
      .agg(count(lit(1)).as("cnt"), sum("k").as("sum_k"),
        sum("first_byte").as("sum_first_byte"), max("payload_len").as("max_len"))
  }

  /** qx58 — PERCEPTUAL image near-dup (dHash): the image-modality member
    * of the dedup family (qx4 lexical bands, qx12 LSH bands, qx50
    * learned cells — this is the LAION-style pHash screen). Every PPM
    * payload is decoded by the REAL parser into a 56-bit difference
    * hash ([[MultimodalCodec.decodeDHash]]); a doc is DROPPED when a
    * lower-id doc hashes within Hamming distance 3 — emitted as
    * (doc_id, keeper_id), the keep-lowest-id policy shared with qx50.
    *
    * The plan collapses EXACT-duplicate hashes into classes BEFORE any
    * pairwise work — the step that keeps this linear: the synthetic
    * corpus has ≤ 3,840 distinct images at ANY sf (15 geometries × 256
    * phases), so a naive doc-level band join is n²/3840 (1.7M candidate
    * pairs at sf0.1, quadratic growth) while the class-level join is
    * bounded by distinct-hash count forever. Real image corpora behave
    * the same way: exact re-posts dominate, and the near-dup search
    * belongs on the class representatives. Banding: 4 disjoint 14-bit
    * bands ⇒ any pair within Hamming 3 shares ≥ 1 band (pigeonhole, the
    * SimHashLsh guarantee), so banding loses no recall. Shape: decode
    * scan → one 8-byte-key shuffle to classes → class-sized band join →
    * verdicts broadcast back on dhash. */
  def qx58(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val media = Tables.documents(spark, dir).select(col("doc_id")).as[Long]
      .mapPartitions(_.map(id => (id, MultimodalCodec.syntheticPpm(id))))
      .toDF("doc_id", "payload")
    val hs = MultimodalCodec.decodeDHash(media)
    val cls = hs.groupBy("dhash").agg(min("doc_id").as("cmin"))
    val bands = cls.select(col("dhash"), col("cmin"),
        posexplode(expr("transform(sequence(0, 3), b -> shiftright(dhash, 14 * b) & 16383)")))
      .withColumnRenamed("pos", "b").withColumnRenamed("col", "sig")
    val x = bands.select(col("b"), col("sig"), col("dhash").as("h1"))
    val y = bands.select(col("b"), col("sig"), col("dhash").as("h2"), col("cmin").as("m2"))
    val adj = x.join(y, Seq("b", "sig"))
      .where(col("h1") =!= col("h2") && expr("bit_count(h1 ^ h2) <= 3"))
      .select(col("h1").as("dhash"), col("m2").as("nm")).distinct()
    val nbr = adj.groupBy("dhash").agg(min("nm").as("nmin"))
    val eff = cls.join(nbr, Seq("dhash"), "left")
      .select(col("dhash"), least(col("cmin"), coalesce(col("nmin"), col("cmin"))).as("keeper_id"))
    hs.join(eff, "dhash")
      .where(col("doc_id") > col("keeper_id"))
      .select("doc_id", "keeper_id")
  }

  /** qx57 — IMAGE feature-extraction gate: per-channel 8-bin intensity
    * histograms over the qx47 PPM payloads
    * ([[MultimodalCodec.histogramPpm]]) — the image leg of the
    * feature-extract family (qx52 is the audio leg). Sparse output:
    * only non-empty bins emit, exactly the row set a GROUP BY over the
    * pixels produces, so the closed-form DuckDB twin meets it row for
    * row — a mis-binned pixel, a channel transpose or a dropped edge
    * pixel changes some bin's count and breaks the hash. Scale shape:
    * shuffle-free partition-parallel decode, histogram accumulated
    * in-pass. */
  def qx57(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val media = Tables.documents(spark, dir).select(col("doc_id")).as[Long]
      .mapPartitions(_.map(id => (id, MultimodalCodec.syntheticPpm(id))))
      .toDF("doc_id", "payload")
    MultimodalCodec.histogramPpm(media, bins = 8)
  }

  /** qx56 — PII SCRUBBING: detect-and-redact structured identifiers
    * (emails, phone numbers) from document text — the compliance pass
    * every web-scale training corpus runs before anything else touches
    * it. The corpus vocabulary carries no '@' or digits, so the gate
    * PLANTS deterministic PII from doc_id (an email on ids ≡ 0 mod 3, a
    * phone on ids ≡ 1 mod 4 — ids ≡ 9 mod 12 get both), then scrubs
    * with `regexp_replace` and counts with `regexp_extract_all` — both
    * codegen'd scan-local expressions, no shuffle until the per-source
    * rollup. The DuckDB twin replays the planting AND runs its OWN
    * regex engine over the same dirty text (patterns kept to the
    * class/quantifier subset Java and RE2 agree on), so match
    * boundaries, the replace-all semantics and redacted lengths are all
    * hash-pinned. Scale shape: per-row string work + one small-keyed
    * aggregate — the embarrassingly-parallel class. */
  def qx56(spark: SparkSession, dir: String): DataFrame = {
    val email = "[a-z0-9]+@[a-z]+\\.[a-z]+"
    val phone = "[0-9]{3}-[0-9]{4}-[0-9]{4}"
    Tables.documents(spark, dir)
      .select(col("source"), col("doc_id"),
        concat(col("text"),
          when(pmod(col("doc_id"), lit(3L)) === 0L,
            concat(lit(" user"), col("doc_id").cast("string"), lit("@example.com")))
            .otherwise(lit("")),
          when(pmod(col("doc_id"), lit(4L)) === 1L,
            concat(lit(" 555-"),
              lpad(pmod(col("doc_id"), lit(10000L)).cast("string"), 4, "0"),
              lit("-1234")))
            .otherwise(lit(""))).as("dirty"))
      .select(col("source"), col("dirty"),
        // Column-form regexp functions: the pattern string reaches the
        // regex engine verbatim (an expr() spelling would eat the \. via
        // SQL string-literal escaping).
        size(regexp_extract_all(col("dirty"), lit(email), lit(0))).cast("long").as("n_email"),
        size(regexp_extract_all(col("dirty"), lit(phone), lit(0))).cast("long").as("n_phone"),
        regexp_replace(regexp_replace(col("dirty"), lit(email), lit("<EMAIL>")),
          lit(phone), lit("<PHONE>")).as("clean"))
      .groupBy("source")
      .agg(count(lit(1)).as("docs"),
        sum("n_email").as("emails_scrubbed"),
        sum("n_phone").as("phones_scrubbed"),
        sum(length(col("dirty")).cast("long")).as("sum_len_dirty"),
        sum(length(col("clean")).cast("long")).as("sum_len_clean"))
  }

  /** qx55 — CDC MERGE / upsert: apply a changeset (update / delete /
    * insert ops) to a standing corpus snapshot in one pass — the
    * `MERGE INTO` primitive a standing 100 TB training corpus refreshes
    * through (new crawl batches upsert, takedowns delete). The
    * changeset here is derived deterministically from the corpus so the
    * oracle can replay it: doc_id ≡ 0 (mod 7) updates (token count
    * re-scored), doc_id ≡ 3 (mod 11) deletes, and every doc_id ≡ 0
    * (mod 5) contributes a NEW row at doc_id + 10⁶ — inserts the base
    * does not contain. Semantics are standard MERGE: delete wins over
    * update when both match (spelled as delete-first precedence),
    * unmatched changes insert, unmatched base rows carry over at their
    * old version. Spelled as ONE full-outer equi-join on doc_id + a
    * CASE projection — co-partitioned single shuffle, no driver state;
    * with a small changeset Catalyst broadcasts it and the snapshot
    * never exchanges at all. Output: the merged snapshot
    * (doc_id, version, n_tokens) — version 2 marks rows the merge
    * touched. */
  def qx55(spark: SparkSession, dir: String): DataFrame = {
    val base = Tables.documents(spark, dir)
      .select(col("doc_id"), lit(1L).as("version"),
        expr(s"CAST(size($WORDS) AS BIGINT)").as("n_tokens"))
    val changes = Tables.documents(spark, dir).select(col("doc_id"))
      .withColumn("op",
        when(pmod(col("doc_id"), lit(11L)) === 3L, lit("D"))
          .when(pmod(col("doc_id"), lit(7L)) === 0L, lit("U"))
          .otherwise(lit(null: String)))
      .where(col("op").isNotNull)
      .withColumn("new_tokens", pmod(col("doc_id") * 13L, lit(1000L)))
      .unionByName(
        Tables.documents(spark, dir).select(col("doc_id"))
          .where(pmod(col("doc_id"), lit(5L)) === 0L)
          .select((col("doc_id") + 1000000L).as("doc_id"), lit("I").as("op"),
            pmod(col("doc_id") * 13L, lit(1000L)).as("new_tokens")))
    base.join(changes, Seq("doc_id"), "full_outer")
      .where(coalesce(col("op"), lit("")) =!= "D")
      .select(col("doc_id"),
        when(col("op").isNotNull, lit(2L)).otherwise(col("version")).as("version"),
        when(col("op").isNotNull, col("new_tokens"))
          .otherwise(col("n_tokens")).as("n_tokens"))
  }

  /** The BM25-family score in EXACT micro-units, spelled once and used
    * verbatim by BOTH engines: all literals in e-notation (a bare `0.5`
    * parses as DECIMAL in Spark AND DuckDB, silently changing the
    * arithmetic), every intermediate explicitly CAST to DOUBLE, so both
    * sides execute the identical IEEE-754 expression tree on identical
    * integer inputs — bit-identical doubles, one floor at the end.
    * idf is Robertson's RATIONAL form (N − df + ½)/(df + ½) WITHOUT the
    * log damping: a transcendental would hang cross-engine equality on
    * libm rounding, and the rational form preserves the df ordering the
    * gate needs (documented divergence from the textbook constant). */
  private[graft] val BM25_MICRO =
    "CAST(floor(((CAST(n - df AS DOUBLE) + 5e-1) / (CAST(df AS DOUBLE) + 5e-1)) * " +
      "((CAST(tf AS DOUBLE) * 22e-1) / (CAST(tf AS DOUBLE) + 12e-1 * " +
      "(25e-2 + 75e-2 * (CAST(dl * n AS DOUBLE) / CAST(sumdl AS DOUBLE))))) * 1e6 + 5e-1) AS BIGINT)"

  /** qx54 — LEXICAL relevance search (BM25 family): the keyword-ranking
    * counterpart of the embedding searches (qx2 dense exact, qx15/qx16
    * ANN, qx50 semantic dedup) — tf saturation (k1 = 1.2), document
    * length normalization (b = 0.75), rational-idf df discounting, top
    * 10 docs per query term via `topk_by`. Scale shape: ONE pass over
    * the exploded words feeds both the doc-length table (doc-keyed
    * aggregate) and the term-filtered tf table (the broadcast term list
    * prunes the corpus BEFORE any per-term aggregation, so only
    * |terms|·n_docs rows survive); df and the (N, Σdl) stats ride in as
    * broadcasts; the final top-k is the partial-aggregating `topk_by`,
    * never a term-partitioned window (|terms| partitions would cap
    * parallelism and exchange every scored row). The DuckDB twin
    * replays the identical micro-unit score and a row_number window —
    * topk_by's (score DESC, id ASC) order makes them provably equal. */
  def qx54(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.documents(spark, dir).select(col("doc_id"), col("text"))
    val words = docs.select(col("doc_id"), explode(expr(WORDS)).as("word"))
    val dl = words.groupBy("doc_id").agg(count(lit(1)).as("dl"))
    val stats = docs.agg(count(lit(1)).as("n"))
      .crossJoin(words.agg(count(lit(1)).as("sumdl")))
    val terms = Seq("data", "table", "stream", "query", "spark").toDF("word")
    val tf = words.join(broadcast(terms), "word")
      .groupBy("doc_id", "word").agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy("word").agg(count(lit(1)).as("df"))
    tf.join(dl, "doc_id")
      .join(broadcast(dfreq), "word")
      .crossJoin(broadcast(stats))
      .withColumn("score_micro", expr(BM25_MICRO))
      .groupBy(col("word").as("term"))
      .agg(expr("topk_by(CAST(score_micro AS DOUBLE), doc_id, 10)").as("tk"))
      .select(col("term"), posexplode(col("tk")).as(Seq("p", "t")))
      .select(col("term"), (col("p") + 1).cast("long").as("rk"),
        col("t.id").as("doc_id"), col("t.score").cast("long").as("score_micro"))
  }

  /** qx53 — Z-ORDER layout gate: the codegen'd Morton interleave
    * ([[graft.functions.ZOrder2]], the primitive behind
    * `OPTIMIZE ZORDER BY`-class multi-dim data layout —
    * [[graft.operators.ZOrderLayout]]) pinned bit-exactly. Two exact
    * integer 16-bit bins of independent lineitem dimensions
    * (floor(l_extendedprice) and l_orderkey, both mod 2¹⁶ so the full
    * bit width is live) are interleaved, and the gate emits per
    * z-bucket (z >> 22, 1024 curve segments) the row count, the exact
    * z-SUM — which pins every individual z-value — and the min/max of
    * BOTH dims, the rectangle witness that makes the layout prunable on
    * either predicate. The DuckDB twin re-derives the interleave
    * closed-form as Σᵢ bit-shifts over i < 16 — one transposed bit,
    * swapped operand order or off-by-one bucket boundary breaks the
    * hash. Scale shape: one scan + one hash aggregate on a 1024-value
    * key; the layout op itself (repartitionByRange + local sort) is a
    * single range exchange, spec'd separately (ZOrderSpec measures the
    * rectangle-locality claim at file granularity). */
  def qx53(spark: SparkSession, dir: String): DataFrame = {
    Tables.lineitem(spark, dir)
      .select(
        pmod(floor(col("l_extendedprice")).cast("long"), lit(65536L)).as("a"),
        pmod(col("l_orderkey"), lit(65536L)).as("b"))
      .withColumn("zv", ZOrderLayout.zvalue(col("a"), col("b")))
      .groupBy(shiftright(col("zv"), 22).as("bucket"))
      .agg(count(lit(1)).as("cnt"), sum("zv").as("sum_z"),
        min("a").as("min_a"), max("a").as("max_a"),
        min("b").as("min_b"), max("b").as("max_b"))
  }

  /** qx78 — THREE-dimensional Z-order clustering (r8 verdict #8: a real
    * layout optimizer weaves 3–4 dims): qx53's discipline at k = 3 via
    * the variadic [[graft.functions.ZOrderN]] codegen'd Morton weave —
    * price × orderkey × partkey bins → 48-bit z-values, range-bucketed
    * by the top 12 bits, with min/max HYPER-RECTANGLE witnesses per
    * bucket on all THREE dims (the file-statistics pruning a 100 TB
    * layout buys on any filter column). The DuckDB twin replays the
    * interleave per-bit with shifts (the qx53 bit-shift oracle at
    * stride 3) — every bit of every z-value is hash-pinned.
    * Scale shape: one scan + one map-side-combinable groupBy; the
    * weave itself is ~15 shift/mask ops inside WholeStageCodegen. */
  def qx78(spark: SparkSession, dir: String): DataFrame = {
    Tables.lineitem(spark, dir)
      .select(
        pmod(floor(col("l_extendedprice")).cast("long"), lit(65536L)).as("a"),
        pmod(col("l_orderkey"), lit(65536L)).as("b"),
        pmod(col("l_partkey"), lit(65536L)).as("c"))
      .withColumn("zv", expr("zordern(a, b, c)"))
      .groupBy(shiftright(col("zv"), 36).as("bucket"))
      .agg(count(lit(1)).as("cnt"), sum("zv").as("sum_z"),
        min("a").as("min_a"), max("a").as("max_a"),
        min("b").as("min_b"), max("b").as("max_b"),
        min("c").as("min_c"), max("c").as("max_c"))
  }

  /** qx52 — AUDIO feature-extraction gate (the brief's "feature-extract"
    * leg, completing the multimodal quartet with qx47/qx48 decode, qx51
    * resize and qx49 frame-sample): the qx48 WAV payloads pushed through
    * [[graft.operators.WavCodec.featuresWindowed]] at a 16-frame window —
    * per (doc, channel, window) signal energy Σ s², zero-crossing count
    * (sign flips between consecutive samples INSIDE the window only) and
    * peak |s|, with the trailing partial window's true frame count
    * emitted. The corpus geometry (40..80 frames) makes partial windows
    * common, so the edge path is load-bearing. The DuckDB twin
    * re-derives every window closed-form from the sample generator via
    * `lag` — window boundaries, the crossing definition and channel
    * interleave are all hash-pinned. Scale shape: shuffle-free
    * partition-parallel decode, same class as qx48. */
  def qx52(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val media = Tables.documents(spark, dir).select(col("doc_id")).as[Long]
      .mapPartitions(_.map(id => (id, WavCodec.syntheticWav(id))))
      .toDF("doc_id", "payload")
    WavCodec.featuresWindowed(media, window = 16)
  }

  /** qx48 — REAL-format AUDIO decode gate (the WAV/RIFF twin of qx47):
    * build one deterministic binary WAV per document — real RIFF
    * container bytes with a JUNK chunk planted before `fmt ` (odd-sized
    * on odd docs, so chunk skipping AND the RIFF word-alignment pad are
    * both load-bearing), 16-bit PCM, 1 or 2 channels — parse it with
    * [[graft.operators.WavCodec.decodeWav]], and emit per-channel
    * integer sample statistics. The DuckDB twin re-derives the stats
    * closed-form from the sample generator — it never sees the bytes —
    * so a misread chunk size, a missed pad byte, a sign-extension error
    * in the 16-bit samples or swapped channel interleave all break the
    * hash. Scale shape: shuffle-free partition-parallel decode, one
    * payload scan. */
  def qx48(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val media = Tables.documents(spark, dir).select(col("doc_id")).as[Long]
      .mapPartitions(_.map(id => (id, WavCodec.syntheticWav(id))))
      .toDF("doc_id", "payload")
    WavCodec.decodeWav(media)
  }

  /** qx49 — VIDEO frame-sampling gate: each document's payload is a
    * stream of concatenated P6 frames (the real ppm-pipe rawvideo
    * interchange format), and the decoder samples every 2nd frame —
    * walking EVERY frame header to find boundaries (one misparsed
    * length desynchronizes all later frames), decoding only the sampled
    * ones ([[graft.operators.MultimodalCodec.decodeFrameSampled]]). The
    * DuckDB twin re-derives the sampled frames' stats closed-form from
    * the generator. This is the brief's "frame-sample" op made real:
    * decode cost divides by the stride while the walk stays exact.
    * Scale shape: shuffle-free partition-parallel scan. */
  def qx49(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val media = Tables.documents(spark, dir).select(col("doc_id")).as[Long]
      .mapPartitions(_.map(id => (id, MultimodalCodec.syntheticVideo(id))))
      .toDF("doc_id", "payload")
    MultimodalCodec.decodeFrameSampled(media, stride = 2)
  }

  /** qx51 — image RESIZE gate (builder brief: resize as a first-class
    * multimodal op): the qx47 payloads pushed through
    * [[MultimodalCodec.decodeResized]] at factor 2 — a box-filter
    * downsample with exact-integer block means and PARTIAL edge blocks
    * (the corpus geometry w = 4..8, h = 3..5 makes odd edges common, so
    * the edge path is load-bearing, not incidental). The DuckDB twin
    * re-derives every resized pixel closed-form from the generator —
    * block boundary, edge count and raster order are all pinned by the
    * checksum. Scale shape: shuffle-free partition-parallel decode,
    * same class as qx47. */
  def qx51(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val media = Tables.documents(spark, dir).select(col("doc_id")).as[Long]
      .mapPartitions(_.map(id => (id, MultimodalCodec.syntheticPpm(id))))
      .toDF("doc_id", "payload")
    MultimodalCodec.decodeResized(media, factor = 2)
  }

  /** qx50 — SEMANTIC dedup, cluster-scoped (SemDeDup — Abbas et al.
    * 2023, arXiv:2303.09540): embeddings are clustered with the SAME
    * trained k-means as qx16 (K ≈ √n, two exact-integer Lloyd
    * iterations), then near-duplicate candidates are searched ONLY
    * among cell-mates — the published trick that turns semantic dedup's
    * all-pairs O(n²) into ≈ n·√n, and the third member of the dedup
    * family's candidate-generation strategies (qx4 lexical bands, qx12
    * LSH bands, qx50 learned cells). A document is DROPPED when a
    * lower-id cell-mate clears the cosine threshold (the deterministic
    * keep-lowest-id policy; survivors = docs not emitted).
    *
    * MULTI-ASSIGNMENT, because it was measured (SemDedupSpec): each
    * vector is indexed under its 2 nearest cells — the IVF nprobe knob
    * applied to dedup. Single assignment (the published baseline) finds
    * 31% of the brute-force drop set on the test corpus; 2-probe finds
    * 64%, still with EXACT precision (every emitted pair's cosine is
    * computed exactly), at ≤4× candidate pairs. Output: one row per
    * dropped doc with how many better (lower-id) neighbors it
    * duplicated and the best such cosine. Threshold 0.35 as qx12
    * (calibrated to the synthetic corpus; a real embedding space would
    * use ~0.9).
    *
    * 100 TB shape — a REGIME lesson the 100× probe taught (round 7):
    * this operator is OUTPUT-bound, not candidate-bound. The cell join
    * yields ~n·√n candidate pairs (156M at the 200k-vector probe) of
    * which the threshold keeps ~1%; the first spelling applied qx3's
    * narrow-candidates discipline — distinct the bare id pairs, then
    * re-join vectors per side — which is right when candidates are FEW
    * (ANN probes) and fatally wrong here: it exchanged all 156M pairs
    * through two array re-joins and OOMed. The shipped plan inverts it:
    * vectors ride INTO the cid equi-join once (2n rows ≈ 0.5 KB each,
    * the only array exchange), pairs are generated, scored and
    * THRESHOLDED inside the join stage — nothing pair-shaped is ever
    * exchanged except survivors (the pair-sharing-both-cells dedup
    * moves AFTER the filter, where rows are output-bound). Per-cell
    * work is |cell|² dots, bounded by the K ≈ √n sizing; the trained
    * codebook is the qx16 index, amortized across every query that
    * uses it. */
  def qx50(spark: SparkSession, dir: String): DataFrame = {
    val base = intEmbeddings(spark, dir)
    val k = IvfAnn.kmeansCentroidsFor(Tables.embeddings(spark, dir).count())
    val cents = IvfAnn.trainedCentroids(base, IvfAnn.centroids(spark, k), iters = 2)
    val m = IvfAnn.l2Probes(
        base.select(col("vec_id").as("qid"), col("iv").as("qiv")), cents, nprobe = 2)
      .select(col("qid").as("vec_id"), col("cid"))
      .join(base, "vec_id")
    val x = m.select(col("cid"), col("vec_id").as("pid"),
      col("iv").as("aiv"), col("n2").as("an2"))
    m.join(x, "cid")
      .where(col("pid") < col("vec_id"))
      .withColumn("dot", expr("long_dot(aiv, iv)"))
      .withColumn("cosine",
        expr("CAST(dot AS DOUBLE) / (sqrt(CAST(an2 AS DOUBLE)) * sqrt(CAST(n2 AS DOUBLE)))"))
      .where(col("cosine") >= 0.35)
      .select("vec_id", "pid", "cosine").distinct() // both-cells pairs score twice, identically
      .groupBy("vec_id")
      .agg(count(lit(1)).as("n_better"), max("cosine").as("max_cos"))
  }

  /** qx65 — URL CANONICALIZATION dedup (the crawl-frontier discipline):
    * collapse the URL variants every crawler meets — scheme/host case,
    * default :80 port, trailing slash, `#fragment`, and `utm_*`
    * tracking parameters — to one canonical form, then dedup at the URL
    * level (keep-lowest doc_id), the screen every web corpus applies
    * BEFORE fetching bodies. Real query parameters (`?page=2`) must
    * SURVIVE: canonicalization may not over-merge. The corpus carries
    * no URLs, so the gate PLANTS three variants per page (doc_id div 3
    * = the page; doc_id mod 3 picks clean / SHOUTED+port+slash /
    * tracked+fragment — and every doc_id ≡ 2 (mod 9) gets a real
    * `?page=2` instead, which must stay a distinct canonical URL).
    *
    * Scale shape: the canonicalization is a scan-local chain of five
    * codegen'd regexp_replace steps (no shuffle, no UDF); the dedup is
    * the two-phase distinct aggregate countDistinct plans to — a
    * partial-dedup exchange on (canon, url) then the final exchange on
    * canon, both carrying (url, id)-sized rows, linear at any corpus
    * size (drop n_raw_forms and it collapses to qx1's single
    * exchange). The
    * regex subset is kept to the Java/RE2 agreement set (qx56's
    * cross-engine discipline) so DuckDB replays it byte-for-byte.
    * Output: (canon_url, n_docs, keeper_id, n_raw_forms).
    *
    * The planting + canonicalization live in [[urlCanon]] so the
    * streaming frontier twin ([[graft.streaming.UrlFrontierStream]])
    * feeds on EXACTLY the rows the batch gate groups — one definition
    * of the regex chain. */
  private[graft] def urlCanon(spark: SparkSession, dir: String): DataFrame = {
    val planted = Tables.documents(spark, dir)
      .select(col("doc_id"), expr("doc_id div 3").as("base"),
        pmod(col("doc_id"), lit(3L)).as("v"))
      .withColumn("site", pmod(col("base"), lit(40L)).cast("string"))
      .withColumn("url",
        when(col("v") === 0L,
          concat(lit("http://www.site"), col("site"), lit(".com/page/"),
            col("base").cast("string")))
        .when(col("v") === 1L,
          concat(lit("HTTP://WWW.SITE"), col("site"), lit(".COM:80/page/"),
            col("base").cast("string"), lit("/")))
        .otherwise(
          when(pmod(col("doc_id"), lit(9L)) === 2L,
            concat(lit("http://www.site"), col("site"), lit(".com/page/"),
              col("base").cast("string"), lit("?page=2")))
          .otherwise(
            concat(lit("http://www.site"), col("site"), lit(".com/page/"),
              col("base").cast("string"), lit("?utm_source=feed&utm_campaign=c"),
              pmod(col("base"), lit(5L)).cast("string"), lit("#sec"),
              pmod(col("base"), lit(3L)).cast("string")))))
    planted
      // lower → strip #fragment → strip utm_* params (+ dangling ?/&) →
      // drop default port → drop trailing slash. Column-form regexps:
      // the pattern reaches the engine verbatim (qx56's lesson).
      .withColumn("canon",
        regexp_replace(regexp_replace(regexp_replace(regexp_replace(regexp_replace(
          lower(col("url")),
          lit("#[a-z0-9]*$"), lit("")),
          lit("utm_[a-z]+=[a-z0-9]*&?"), lit("")),
          lit("[?&]$"), lit("")),
          lit(":80/"), lit("/")),
          lit("/$"), lit("")))
      .select(col("doc_id"), col("url"), col("canon"))
  }

  def qx65(spark: SparkSession, dir: String): DataFrame =
    urlCanon(spark, dir)
      .groupBy("canon")
      .agg(count(lit(1)).as("n_docs"), min("doc_id").as("keeper_id"),
        countDistinct("url").as("n_raw_forms"))
      .select(col("canon").as("canon_url"), col("n_docs"),
        col("keeper_id"), col("n_raw_forms"))

  /** qx66 — NORMALIZATION-AWARE exact dedup: case-fold, collapse
    * whitespace runs and trim BEFORE hashing, so trivially-reformatted
    * copies (the mirror-site / re-crawl artifacts exact dedup misses)
    * collapse into one group — the canonicalization step C4/RefinedWeb
    * run ahead of their hash dedup. The corpus has no reformatted
    * twins, so the gate PLANTS one per 10th doc (doc_id + 10⁶, text
    * SHOUTED with padded whitespace); `n_exact_variants` counts the
    * distinct RAW texts inside each normalized group — > 1 exactly
    * where normalization, not raw equality, did the merging (the
    * planted rows), = 1 where the corpus's own byte-identical dups
    * land (qx1's groups, which this screen must still find).
    *
    * Scale shape: normalization is scan-local (lower/regexp/trim,
    * codegen'd — no UDF); the dedup is the countDistinct two-phase
    * aggregate — a partial-dedup exchange on (norm, text) then the
    * final on norm. At 100 TB key by a 128-bit hash
    * of the normalized text instead of the text itself — same plan,
    * constant-width shuffle rows. Output: one row per duplicate group
    * (keeper_id, n_docs, n_exact_variants, n_norm_chars). */
  def qx66(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir).select(col("doc_id"), col("text"))
    val twins = docs.where(pmod(col("doc_id"), lit(10L)) === 0L)
      .select((col("doc_id") + 1000000L).as("doc_id"),
        concat(lit("  "), upper(col("text")), lit(" ")).as("text"))
    docs.unionAll(twins)
      .withColumn("norm", trim(regexp_replace(lower(col("text")), lit(" +"), lit(" "))))
      .groupBy("norm")
      .agg(count(lit(1)).as("n_docs"), min("doc_id").as("keeper_id"),
        countDistinct("text").as("n_exact_variants"))
      .where(col("n_docs") > 1L)
      .select(col("keeper_id"), col("n_docs"), col("n_exact_variants"),
        length(col("norm")).cast("long").as("n_norm_chars"))
  }

  /** qx67 — LINE-LEVEL corpus dedup (C4's sub-document discipline,
    * Raffel et al. 2020 §2.2): duplicated LINES are removed corpus-wide
    * — every occurrence but the first (lowest (doc_id, line_no)) — so
    * boilerplate repeated across pages disappears without dropping the
    * documents that carry it; doc-level dedup (qx1/qx66) cannot see it.
    * The corpus's docs are single-line, so the gate PLANTS the C4
    * scenario: each doc is one content line, and every 7th doc appends
    * one of 5 shared boilerplate lines ("subscribe..." — the
    * cross-page footer). Content lines of byte-identical dup docs
    * (qx1's groups) dedup too — both effects land in the same report:
    * per doc (n_lines, n_kept, n_removed, n_chars_kept).
    *
    * Scale shape: the keeper election is a map-side-combinable
    * min(struct(doc_id, line_no)) groupBy — a hot boilerplate line
    * partial-aggregates to ONE row per map task, so the skew the
    * window spelling would funnel into a single partition (qx62's
    * trap) never reaches the exchange; the verdict join back to the
    * line rows rides the SAME hash partitioning (exchange reuse) with
    * AQE skew-join covering the hot probe key. Per-doc rollup is one
    * more narrow exchange. At 100 TB group on a 128-bit hash of the
    * line instead of the string — same plan, constant-width rows. */
  def qx67(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir).select(col("doc_id"), col("text"))
    val content = docs.select(col("doc_id"), lit(0L).as("line_no"),
      col("text").as("line"))
    val boiler = docs.where(pmod(col("doc_id"), lit(7L)) === 0L)
      .select(col("doc_id"), lit(1L).as("line_no"),
        concat(lit("subscribe to site "), pmod(col("doc_id"), lit(5L)).cast("string"),
          lit(" newsletter for daily updates")).as("line"))
    val lines = content.unionAll(boiler)
    val keepers = lines.groupBy("line")
      .agg(min(struct(col("doc_id"), col("line_no"))).as("keeper"))
    lines.join(keepers, "line")
      .withColumn("kept", col("doc_id") === col("keeper.doc_id") &&
        col("line_no") === col("keeper.line_no"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_lines"),
        sum(when(col("kept"), 1L).otherwise(0L)).as("n_kept"),
        sum(when(!col("kept"), 1L).otherwise(0L)).as("n_removed"),
        sum(when(col("kept"), length(col("line")).cast("long")).otherwise(0L))
          .as("n_chars_kept"))
  }

  /** qx68 — HTML TEXT EXTRACTION (the WET stage: crawl bytes → prose).
    * Each doc's text is wrapped in a deterministic HTML page WITH the
    * classic parser traps planted — a comment carrying tag decoys, a
    * `<style>`/`<script>` raw-text span containing `<`/`>`/quotes, an
    * attribute value `data-x="a>b"`, an `&amp;` inside an href (markup,
    * not text), named + decimal + hex character references in prose —
    * and pushed through the REAL single-pass parser in the typed slot
    * ([[graft.operators.HtmlCodec.extract]]). The DuckDB twin re-derives
    * title, extracted prose, link and entity counts CLOSED-FORM from the
    * generator formula (it never parses HTML), so a leaked attribute, an
    * early tag close, a comment byte in the text or an undecoded entity
    * each break the hash. Generation is pure codegen'd concat (no typed
    * boundary); extraction is the one mapPartitions pass.
    * TEXT CONTRACT (shared by qx69/qx77's generators): the oracles
    * replay the page concat closed-form, so `documents.text` must
    * contain no '<' or '&' (they would read as markup) and must be
    * ASCII — the WARC/HTTP framing declares byte lengths
    * (octet_length) while the closed-form twins count characters, so
    * a non-ASCII regeneration surfaces as an understandable hash
    * mismatch on body_len, never a parse-task error.
    * Scale shape: shuffle-free partition-parallel scan, the qx47 class. */
  def qx68(spark: SparkSession, dir: String): DataFrame = {
    val m3 = pmod(col("doc_id"), lit(3L))
    val media = Tables.documents(spark, dir).select(col("doc_id"),
      concat(
        lit("<!DOCTYPE html>\n<html lang=\"en\">\n<head>\n<title>Doc "),
        col("doc_id").cast("string"),
        lit(" &amp; friends</title>\n" +
          "<style type=\"text/css\">p > a { color: #fff; }</style>\n" +
          "<script type=\"text/javascript\">if (2 < 3) { var s = \"<b>not text</b>\"; }</script>\n" +
          "</head>\n<body>\n<!-- nav <div> decoy > comment -->\n<h1 class=\"t\">Doc "),
        col("doc_id").cast("string"),
        lit("</h1>\n<p id=\"c\" data-x=\"a>b\">"),
        col("text"),
        lit("</p>\n<a href=\"/page?id="),
        col("doc_id").cast("string"),
        lit("&amp;ref=top\">more &gt; info</a>\n"),
        when(m3 === 1L, lit("<a href=\"/r/0\">r0</a>\n"))
          .when(m3 === 2L, lit("<a href=\"/r/0\">r0</a>\n<a href=\"/r/1\">r1</a>\n"))
          .otherwise(lit("")),
        lit("<p>tail &#65;&#x42;"),
        repeat(lit("&#46;"), pmod(col("doc_id"), lit(4L)).cast("int")),
        lit(" end</p>\n</body>\n</html>\n")).as("html"))
    HtmlCodec.extractDF(media)
  }

  /** qx69 — WARC CONTAINER PARSING (the step before qx68: crawl archives
    * → HTTP responses → prose). Each doc becomes a real multi-record
    * WARC file (ISO 28500, the Common Crawl container): a `warcinfo`
    * record, a planted `metadata` record on every 5th doc (unknown-type
    * skip path), and a `response` record whose content is a genuine
    * HTTP/1.1 message wrapping an HTML page — with the framing traps a
    * cheap parser fails: a literal `WARC/1.0` + CRLF·CRLF decoy inside
    * an HTML comment (sentinel-split parsers break; Content-Length
    * framing succeeds), lowercase WARC header names on even docs
    * (case-insensitivity load-bearing), a planted 404 on every 13th doc,
    * and the HTTP Content-Length cross-checked against the actual body.
    * [[graft.operators.WarcCodec.parseDF]] walks the records and chains
    * [[graft.operators.HtmlCodec.extract]] over the response body in the
    * SAME partition pass. The DuckDB twin re-derives every output column
    * CLOSED-FORM from the generator formula (it never parses WARC, HTTP
    * or HTML) — only a correct three-layer parse of the real bytes
    * reproduces the hash. Generation is pure codegen'd concat; the
    * payload crosses into the typed slot as BINARY.
    * Scale shape: shuffle-free partition-parallel scan (the qx47/qx68
    * class) — at 100 TB this is the embarrassingly parallel unwrap. */
  def qx69(spark: SparkSession, dir: String): DataFrame = {
    val d = col("doc_id")
    val is404 = pmod(d, lit(13L)) === 0L
    val html200 = concat(
      lit("<html><head><title>Page "), d.cast("string"),
      lit("</title></head>\n<body><!-- \r\n\r\nWARC/1.0\r\ncontent-length: 0 decoy -->\n<h1>Page "),
      d.cast("string"),
      lit("</h1>\n<p>"), col("text"),
      lit("</p>\n<a href=\"/n?d="), d.cast("string"),
      lit("&amp;x=1\">next &gt; page</a>\n</body></html>"))
    val html404 = concat(
      lit("<html><head><title>Not Found</title></head><body><p>missing "),
      d.cast("string"), lit("</p></body></html>"))
    val docs = Tables.documents(spark, dir).select(d, col("text"))
      .withColumn("html", when(is404, html404).otherwise(html200))
      .withColumn("http", concat(
        lit("HTTP/1.1 "), when(is404, lit("404 Not Found")).otherwise(lit("200 OK")),
        lit("\r\nContent-Type: text/html; charset=utf-8\r\nServer: graft/1.0\r\nContent-Length: "),
        octet_length(col("html")).cast("string"), lit("\r\n\r\n"), col("html")))
    val info = "software: graft-crawler/1.0\r\nformat: WARC File Format 1.0\r\n"
    val media = docs.select(d, concat(
      lit(s"WARC/1.0\r\nWARC-Type: warcinfo\r\nWARC-Record-ID: <urn:uuid:info-"),
      d.cast("string"),
      lit(s">\r\nWARC-Date: 2026-01-01T00:00:00Z\r\nContent-Type: application/warc-fields\r\nContent-Length: ${info.length}\r\n\r\n$info\r\n\r\n"),
      when(pmod(d, lit(5L)) === 0L, concat(
        lit("WARC/1.0\r\nWARC-Type: metadata\r\nWARC-Record-ID: <urn:uuid:meta-"),
        d.cast("string"),
        lit(">\r\nContent-Length: 9\r\n\r\nvia: seed\r\n\r\n"))).otherwise(lit("")),
      // even docs: lowercase WARC header names; odd docs: canonical case
      when(pmod(d, lit(2L)) === 0L, concat(
        lit("WARC/1.0\r\nwarc-type: response\r\nwarc-record-id: <urn:uuid:resp-"),
        d.cast("string"),
        lit(">\r\nwarc-date: 2026-01-01T00:00:01Z\r\nwarc-target-uri: https://site"),
        pmod(d, lit(7L)).cast("string"), lit(".example/page/"), d.cast("string"),
        lit("\r\ncontent-type: application/http; msgtype=response\r\ncontent-length: "),
        octet_length(col("http")).cast("string"), lit("\r\n"))).otherwise(concat(
        lit("WARC/1.0\r\nWARC-Type: response\r\nWARC-Record-ID: <urn:uuid:resp-"),
        d.cast("string"),
        lit(">\r\nWARC-Date: 2026-01-01T00:00:01Z\r\nWARC-Target-URI: https://site"),
        pmod(d, lit(7L)).cast("string"), lit(".example/page/"), d.cast("string"),
        lit("\r\nContent-Type: application/http; msgtype=response\r\nContent-Length: "),
        octet_length(col("http")).cast("string"), lit("\r\n"))),
      lit("\r\n"), col("http"), lit("\r\n\r\n")).cast("binary").as("warc"))
    WarcCodec.parseDF(media)
  }

  /** qx70 — EXACT SUBSTRING SPAN REMOVAL (Lee et al. 2021,
    * "Deduplicating Training Data Makes Language Models Better": the
    * ExactSubstr discipline). Finer than qx1 (whole doc), qx67 (whole
    * line) or qx17 (doc-level screen): any K=8-token span occurring
    * more than once ANYWHERE in the corpus is removed at every position
    * except its first (lowest (doc_id, start)) occurrence, and
    * overlapping removed spans merge into maximal cut regions. The gate
    * plants the scenario (every 3rd doc carries one of 5 license-footer
    * variants ≥ K tokens) on top of whatever natural span duplication
    * the corpus has, and reports per doc: n_tokens, n_spans (merged cut
    * regions), n_removed (tokens cut), n_kept.
    *
    * Plan, in Spark terms: overlapping K-grams materialize scan-local
    * (one `transform(sequence(...))` + posexplode — no shuffle);
    * first-occurrence election is a map-side-combinable
    * min(struct(doc_id, i)) groupBy on the gram — the qx67 lesson: a
    * hot license gram partial-aggregates to ONE row per map task,
    * never a gram-partitioned window; flagged occurrences join back on
    * the same hash partitioning (AQE covers the hot keys); interval
    * merging is a per-DOC window (gaps-and-islands on equal-length
    * spans: a new region starts iff the gap since the previous flagged
    * start ≥ K), bounded by document length, never corpus-wide. At
    * 100 TB group on a 128-bit gram hash instead of the string — same
    * plan, constant-width shuffle rows. */
  def qx70(spark: SparkSession, dir: String): DataFrame = {
    val K = 8
    val planted = Tables.documents(spark, dir).select(col("doc_id"),
      when(pmod(col("doc_id"), lit(3L)) === 0L,
        concat(col("text"), lit(" all rights reserved see license terms at mirror "),
          pmod(col("doc_id"), lit(5L)).cast("string")))
        .otherwise(col("text")).as("text"))
    val docs = planted.withColumn("ws", expr(WORDS))
    val grams = docs.select(col("doc_id"),
        posexplode(expr(
          s"""CASE WHEN size(ws) >= $K
             |THEN transform(sequence(0, size(ws) - $K),
             |               i -> array_join(slice(ws, i + 1, $K), ' '))
             |ELSE array() END""".stripMargin)))
      .toDF("doc_id", "i", "gram")
    val keepers = grams.groupBy("gram")
      .agg(min(struct(col("doc_id"), col("i"))).as("keeper"))
    val flagged = grams.join(keepers, "gram")
      .where(!(col("doc_id") === col("keeper.doc_id") && col("i") === col("keeper.i")))
      .select(col("doc_id"), col("i"))
    val byDoc = Window.partitionBy("doc_id").orderBy("i")
    val spans = flagged
      .withColumn("prev", lag("i", 1).over(byDoc))
      .withColumn("brk", when(col("prev").isNull || col("i") - col("prev") >= K, 1L)
        .otherwise(0L))
      .withColumn("region", sum("brk").over(
        byDoc.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy("doc_id", "region")
      .agg(min("i").cast("long").as("a"), (max("i") + K).cast("long").as("b"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_spans"), sum(col("b") - col("a")).as("n_removed"),
        collect_list(struct(col("a"), col("b"))).as("regions"))
    // The REWRITE itself, not just the accounting: token j survives iff
    // no cut region covers it. The regions array is per-doc and only
    // consulted as a predicate SET, so collect_list's nondeterministic
    // order cannot affect the output.
    docs.select(col("doc_id"), col("ws"), size(col("ws")).cast("long").as("n_tokens"))
      .join(spans, Seq("doc_id"), "left")
      .withColumn("kept_ws", expr(
        """IF(size(ws) = 0, ws,
          |  filter(transform(sequence(0, size(ws) - 1),
          |    j -> IF(regions IS NOT NULL AND
          |            exists(regions, r -> j >= r.a AND j < r.b), NULL, ws[j])),
          |    x -> x IS NOT NULL))""".stripMargin))
      .select(col("doc_id"), col("n_tokens"),
        coalesce(col("n_spans"), lit(0L)).as("n_spans"),
        coalesce(col("n_removed"), lit(0L)).as("n_removed"),
        (col("n_tokens") - coalesce(col("n_removed"), lit(0L))).as("n_kept"),
        array_join(col("kept_ws"), " ").as("text_kept"))
  }

  /** qx71 — DOMAIN AUTHORITY via integer-exact PageRank: the link-graph
    * quality prior (the Common Crawl ranking discipline) over qx62's
    * planted-URL world. The domain link graph derives deterministically
    * from the corpus — each doc's domain node is `doc_id % 40` (the
    * qx62 eTLD+1 space) and links to the two affine-mapped domains
    * `(7·d+3) % 40` and `(13·d+11) % 40` (distinct pairs, never a self
    * loop by construction); every domain with `u % 10 = 7` has its
    * out-links DROPPED, planting four genuinely dangling nodes so the
    * stochastic-matrix patch (uniform dangling-mass redistribution) is
    * load-bearing, not decorative. Eight power iterations in micro-unit
    * integer arithmetic ([[graft.operators.PageRank]]) — floor division
    * everywhere, so the DuckDB twin replays the full iteration chain as
    * generated CTEs and the hash pins every rank bit. Output per
    * domain: rank, doc count, out-degree (0 = dangling).
    * Scale shape: per iteration two edge-list-sized shuffles + one
    * scalar cross-join; the qx20 class — at 100 TB the domain graph is
    * millions of nodes and nothing driver-side grows with it. */
  def qx71(spark: SparkSession, dir: String): DataFrame = {
    val d = col("doc_id")
    val docs = Tables.documents(spark, dir).select(d)
    val (nodes, edges) = domainGraph(spark, dir)
    val ranks = PageRank.run(nodes, edges, iters = 8)
    val census = docs.select(pmod(d, lit(40L)).as("u"))
      .groupBy("u").agg(count(lit(1)).as("n_docs"))
    val deg = edges.groupBy("u").agg(count(lit(1)).as("out_deg"))
    ranks.join(census, "u").join(deg, Seq("u"), "left")
      .select(
        concat(lit("site"), col("u").cast("string"), lit("."),
          element_at(array(lit("com"), lit("org"), lit("net"), lit("io")),
            (pmod(col("u"), lit(4L)) + 1L).cast("int"))).as("domain"),
        col("r").as("rank_micro"), col("n_docs"),
        coalesce(col("out_deg"), lit(0L)).as("out_deg"))
  }

  /** The qx62/qx71 domain world's link graph, factored for qx71's
    * PageRank and qx108's random walks: node = doc_id % 40, two affine
    * out-links per domain, every `u % 10 = 7` domain dangling. */
  private def domainGraph(spark: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val d = col("doc_id")
    val docs = Tables.documents(spark, dir).select(d)
    val nodes = docs.select(pmod(d, lit(40L)).as("u")).distinct()
    val edges = docs.select(pmod(d, lit(40L)).as("u"),
        pmod(d * 7L + 3L, lit(40L)).as("v"))
      .unionAll(docs.select(pmod(d, lit(40L)).as("u"),
        pmod(d * 13L + 11L, lit(40L)).as("v")))
      .where(pmod(col("u"), lit(10L)) =!= 7L)
      .distinct()
    (nodes, edges)
  }

  /** qx108's size gate for the driver-local walk replay (edges; the
    * node table goes through the same limit). */
  val WalksEdgesGate = SizeGate("spark.graft.walks.localMaxEdges", 1000000L)

  /** qx108 — DETERMINISTIC RANDOM WALKS over the domain graph (the
    * DeepWalk/node2vec corpus-prep step, Perozzi et al. 2014, with the
    * repo's derandomization discipline): one walk of length ≤ 4 from
    * EVERY node; at step t the walker at u moves to the out-neighbor v
    * minimizing the integer hash (u·1000003 + t·8191 + v·97 + 13) mod P
    * — "random" enough to spread (per-step, per-node varying), yet
    * exactly replayable by the oracle's per-step argmin CTEs, ties
    * impossible because v appears in its own hash. A dangling node
    * (qx71's planted `u % 10 = 7` set) STOPS the walk — the walk-length
    * histogram is part of the output contract. Long-form output
    * (start, step, node) with step 0 = the start itself, plus a Horner
    * walk signature on the final row of each walk.
    *
    * Scale shape: each of the 4 steps is one hash-join of the current
    * frontier against the edge list + a per-walker min(struct) — the
    * PageRank iteration class (graph cached, lineage cut per step); at
    * web scale this is exactly the DeepWalk batch job. */
  def qx108(spark: SparkSession, dir: String): DataFrame = {
    val P = 2147483647L
    val (nodes, edges) = domainGraph(spark, dir)
    // Size gate for the driver-local walk replay ([[SizeGate]]): each of the 4 steps is a frontier join + argmin + lineage cut over
    // a DOMAIN-bounded graph. Below the gate (edges, then nodes) the
    // walks replay on the driver with the identical integer hash argmin,
    // stop rule and Horner signature — bit-equal by the same argument
    // the oracle replay rests on (and hash-pinned by the qx108/qx112
    // gate rows). Past the gate the per-step loop below runs unchanged.
    (for {
      eArr <- WalksEdgesGate.probe(edges.select(col("u"), col("v")))
      nArr <- WalksEdgesGate.probe(nodes.select(col("u")))
    } yield {
      val adj = new java.util.HashMap[Long, scala.collection.mutable.ArrayBuffer[Long]]()
      eArr.foreach { r =>
        adj.computeIfAbsent(r.getLong(0),
          _ => scala.collection.mutable.ArrayBuffer.empty[Long]) += r.getLong(1)
      }
      val out = new java.util.ArrayList[org.apache.spark.sql.Row]()
      nArr.map(_.getLong(0)).sorted.foreach { start =>
        var pos = start; var sig = start; var stopped = false
        out.add(org.apache.spark.sql.Row(start, 0L, start, start))
        var t = 1
        while (t <= 4 && !stopped) {
          val nb = adj.get(pos)
          if (nb == null) stopped = true
          else {
            var bestV = 0L; var bestH = Long.MaxValue
            nb.foreach { v =>
              val h = (pos * 1000003L + t.toLong * 8191L + v * 97L + 13L) % P
              if (h < bestH || (h == bestH && v < bestV)) { bestH = h; bestV = v }
            }
            pos = bestV
            sig = (sig * 1009L + bestV) % P
            out.add(org.apache.spark.sql.Row(start, t.toLong, pos, sig))
          }
          t += 1
        }
      }
      val lt = org.apache.spark.sql.types.LongType
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("start", lt, nullable = true),
        org.apache.spark.sql.types.StructField("step", lt, nullable = true),
        org.apache.spark.sql.types.StructField("node", lt, nullable = true),
        org.apache.spark.sql.types.StructField("sig", lt, nullable = true)))
      spark.createDataFrame(out, schema)
    }).getOrElse {
      val edgesC = edges.cache()
      var walks = nodes.select(col("u").as("start"), lit(0L).as("step"),
        col("u").as("node"), col("u").as("sig"), lit(false).as("stopped"))
      var out = walks
      for (t <- 1 to 4) {
        val frontier = walks.where(!col("stopped"))
        val step = frontier
          .join(edgesC.withColumnRenamed("u", "node"), Seq("node"), "left")
          .withColumn("h",
            pmod(col("node") * 1000003L + lit(t.toLong * 8191L) + col("v") * 97L + 13L, lit(P)))
          .groupBy("start")
          .agg(min(struct(col("h"), col("v"))).as("b"),
            first(col("node")).as("prev"), first(col("sig")).as("psig"))
          .select(col("start"), lit(t.toLong).as("step"),
            coalesce(col("b.v"), col("prev")).as("node"),
            pmod(col("psig") * 1009L + coalesce(col("b.v"), col("prev")), lit(P)).as("sig"),
            col("b.v").isNull.as("stopped"))
        walks = step.localCheckpoint()
        out = out.unionByName(walks.where(!col("stopped")))
      }
      // every step is checkpointed — release the graph cache (the
      // GraphAnn.search / PageRank discipline; same leak class audited r13)
      edgesC.unpersist(false)
      out.select(col("start"), col("step"), col("node"), col("sig"))
    }
  }

  /** qx112 — the DeepWalk pipeline CLOSED end-to-end (Perozzi et al.
    * 2014): qx108's deterministic walks become skip-gram training
    * pairs (window 1, both orientations) and qx107's micro-PMI fold
    * scores them — per node, the top-3 co-walked contexts by
    * (ratio DESC, ctx ASC). Composition row (the qx77 funnel
    * discipline): both constituents are the SHARED spellings, so this
    * row pins the walks, the pair extraction and the fold in one hash.
    * Scale shape: pairs are a self-join of the walk table on
    * (start, step+1) — walk-table-sized, ≤ 5 rows per start — and the
    * fold is node-vocabulary-bounded (the qx107 argument). */
  def qx112(spark: SparkSession, dir: String): DataFrame = {
    val walks = qx108(spark, dir).select("start", "step", "node")
    val nxt = walks.select(col("start"), (col("step") - 1L).as("step"),
      col("node").as("nxt"))
    val pr = walks.join(nxt, Seq("start", "step"))
      .select(col("node").as("w"), col("nxt").as("c"))
    val sym = pr.unionByName(pr.select(col("c").as("w"), col("w").as("c")))
    val cc = sym.groupBy("w", "c").agg(count(lit(1)).as("cnt"))
    val mw = cc.groupBy("w").agg(sum("cnt").as("cw"))
    val tot = cc.agg(sum("cnt").as("t"))
    val scored = cc.join(mw, "w")
      .join(mw.select(col("w").as("c"), col("cw").as("ccw")), "c")
      .crossJoin(tot)
      .withColumn("ratio_micro", expr("(1000000 * cnt * t) div (cw * ccw)"))
      .localCheckpoint() // vocabulary-bounded; referenced by rank + detail
    scored
      .groupBy("w")
      .agg(expr("topk_by(CAST(ratio_micro AS DOUBLE), c, 3)").as("tk"))
      .select(col("w"), posexplode(col("tk")).as(Seq("p", "t")))
      .select(col("w"), (col("p") + 1).cast("long").as("rk"), col("t.id").as("ctx"))
      .join(scored.select(col("w"), col("c").as("ctx"), col("cnt"), col("ratio_micro")),
        Seq("w", "ctx"))
      .select("w", "rk", "ctx", "cnt", "ratio_micro")
  }

  /** qx72 — ROBOTS.TXT FRONTIER FILTERING (RFC 9309): the politeness
    * gate between qx65's URL frontier and the fetch. Every qx62-world
    * domain gets a REAL robots.txt with the protocol's traps planted —
    * a decoy `other-bot` group and (on every 3rd domain) a
    * `User-agent: *` / `Disallow: /` fallback that must be IGNORED
    * because our agent has its own group; lowercase field names on the
    * named-group branch (case-insensitivity load-bearing); an
    * `Allow: /private/pub/` that outranks `Disallow: /private/` only by
    * LONGEST-MATCH precedence; a wildcard+end-anchor `.tmp` rule
    * (slash, star, ".tmp", dollar) on every 4th domain; per-domain
    * `Crawl-delay`. Doc URLs fall into
    * four path classes (deep-private, private-pub, tmp, plain), so a
    * parser that botches group selection, precedence, glob or anchor
    * semantics flips whole verdict classes and breaks the hash. The
    * DuckDB twin is the closed-form RFC decision table.
    * Scale shape: robots content rides a broadcast domains-sized table
    * joined to the URL stream; [[graft.operators.RobotsTxt.evalDF]]
    * is partition-local with a per-domain parse memo — no shuffle of
    * its own (pre-partition URLs by domain at 100 TB and each robots
    * parses once per domain). */
  def qx72(spark: SparkSession, dir: String): DataFrame = {
    val d = col("doc_id")
    val docs = Tables.documents(spark, dir).select(d)
    val urls = docs.select(d, pmod(d, lit(40L)).as("u"),
      when(pmod(d, lit(7L)) === 0L, concat(lit("/private/x/"), d.cast("string")))
        .when(pmod(d, lit(7L)) === 1L, concat(lit("/private/pub/"), d.cast("string")))
        .when(pmod(d, lit(7L)) === 2L, concat(lit("/tmp/"), d.cast("string"), lit(".tmp")))
        .otherwise(concat(lit("/p/"), d.cast("string"))).as("path"))
    val u = col("u")
    val delayLine = concat(lit("rawl-delay: "),
      (pmod(u, lit(7L)) + 1L).cast("string"), lit("\n"))
    val domains = docs.select(pmod(d, lit(40L)).as("u")).distinct()
      .withColumn("domain", concat(lit("site"), u.cast("string"), lit("."),
        element_at(array(lit("com"), lit("org"), lit("net"), lit("io")),
          (pmod(u, lit(4L)) + 1L).cast("int"))))
      .withColumn("content", concat(
        lit("# robots for "), col("domain"),
        lit("\nSitemap: https://"), col("domain"),
        lit("/sitemap.xml\n\nUser-agent: other-bot\nDisallow: /\n\n"),
        when(pmod(u, lit(3L)) === 0L, concat(
          lit("user-agent: smelter\nc"), delayLine,
          lit("disallow: /private/\nallow: /private/pub/\n"),
          when(pmod(u, lit(4L)) === 0L, lit("disallow: /*.tmp$\n")).otherwise(lit("")),
          lit("\nUser-agent: *\nDisallow: /\n"))
        ).otherwise(concat(
          lit("User-Agent: *\nC"), delayLine,
          lit("Disallow: /private/\nAllow: /private/pub/\n"),
          when(pmod(u, lit(4L)) === 0L, lit("Disallow: /*.tmp$\n")).otherwise(lit(""))))))
    RobotsTxt.evalDF(
      urls.join(broadcast(domains), "u").select("doc_id", "domain", "path", "content"),
      ua = "Smelter") // deliberate case mismatch: token match is case-insensitive
  }

  /** qx73 — HYPERLOGLOG register sketch (Flajolet et al. 2007): the
    * canonical distributed distinct counter, completing the sketch
    * family (KMV qx18 trades k rows for an unbiased estimator; HLL
    * trades 256 REGISTERS for register-wise-max mergeability — the
    * shape every warehouse's approx_count_distinct ships). The gate
    * pins the DISTRIBUTED part hash-exact: per language, the non-empty
    * register histogram (register value → count) of the distinct-token
    * sketch, plus the exact distinct count riding along as truth. The
    * float estimate never enters the oracle (the qx18 discipline) —
    * [[graft.functions.HllEstimate]] computes it from these rows and
    * HllSketchSpec pins its accuracy and the merge law. Register
    * geometry: a 55-bit key composed overflow-free from two affine
    * word-hash maps mod 2³¹−1 (both engines exact in BIGINT), low 8
    * bits → register index, high 47 → rho = 48 − bitlength(w) via the
    * shared `bin()` spelling. MEASURED caveat: affine-mod keys have bad
    * deep-tail discrepancy on structured token inputs (3× overestimate
    * at 20k distinct) — HLL is uniquely tail-sensitive, unlike KMV's
    * rank-128 statistic on the same key family. So this key exists for
    * cross-engine grid verifiability; a production estimate should key
    * on `xxhash64` (codegen'd, avalanche — but engine-specific, which
    * is exactly why the float estimate never enters the oracle;
    * HllSketchSpec pins accuracy under the avalanche mixer).
    * Scale shape: one distinct-aggregate exchange (lang, wh), then two
    * bounded aggregations — state is ≤ 256 rows per (lang, map task),
    * mergeable by max, the CMS/KMV class. */
  def qx73(spark: SparkSession, dir: String): DataFrame = {
    val toks = Tables.documents(spark, dir)
      .select(col("lang"), explode(expr(WORD_HASHES)).as("wh")).distinct()
      .withColumn("h",
        expr("((wh * 1000003 + 12345) % 2147483647) * 16777216 + ((wh * 69069 + 54321) % 2147483647) % 16777216"))
      .withColumn("idx", expr("h % 256"))
      .withColumn("rho", expr(
        "CASE WHEN h div 256 = 0 THEN 48 ELSE 48 - length(bin(h div 256)) END"))
    val regs = toks.groupBy("lang", "idx").agg(max("rho").as("r"))
    val exact = toks.groupBy("lang").agg(count(lit(1)).as("n_exact"))
    regs.groupBy("lang", "r").agg(count(lit(1)).as("n_regs"))
      .join(exact, "lang")
      .select(col("lang"), col("r").cast("long").as("register_value"),
        col("n_regs"), col("n_exact"))
  }

  /** qx74 — EVAL-OVERLAP MEMORIZATION AUDIT (Brown et al. 2020 App. C,
    * the GPT-3 "dirty eval" analysis; the flip side of qx29/qx32's
    * decontamination): for every doc in the val/test splits (qx30's
    * replay-stable hash bands), what fraction of its 8-token spans also
    * occurs ANYWHERE in the train split? Decon removes known benchmarks
    * from training data; this measures the leakage that remains INTO
    * the held-out splits — the report a release publishes next to its
    * eval numbers. The gate plants the scenario (every 9th doc carries
    * one of 3 shared passages, so passages straddle split bands by
    * construction) on top of the corpus's natural span duplication.
    * Output per eval doc: split, n_grams, n_overlap (gram POSITIONS
    * covered by train), dirty.
    *
    * Plan: grams scan-local (the qx70 spelling); the train gram set is
    * a two-phase DISTINCT (partial dedup map-side — a hot boilerplate
    * gram collapses per map task); eval positions LEFT-join it on the
    * same gram hash partitioning (AQE covers hot keys); final rollup is
    * doc-keyed. At 100 TB: join on a 128-bit gram hash, constant-width
    * shuffle rows — the qx67/qx70 class. */
  def qx74(spark: SparkSession, dir: String): DataFrame = {
    val K = 8
    val d = col("doc_id")
    val planted = Tables.documents(spark, dir).select(d,
      when(pmod(d, lit(9L)) === 0L,
        concat(col("text"), lit(" shared passage "), pmod(d, lit(3L)).cast("string"),
          lit(" about spark window agg join scan filter hash sort")))
        .otherwise(col("text")).as("text"))
    val docs = planted
      .withColumn("ws", expr(WORDS))
      .withColumn("b", expr(s"($SAMPLE_HASH) % 100"))
      .withColumn("split",
        when(col("b") < 80, "train").when(col("b") < 90, "val").otherwise("test"))
    val grams = docs.select(d, col("split"),
        explode(expr(
          s"""CASE WHEN size(ws) >= $K
             |THEN transform(sequence(0, size(ws) - $K),
             |               i -> array_join(slice(ws, i + 1, $K), ' '))
             |ELSE array() END""".stripMargin)).as("gram"))
    val trainGrams = grams.where(col("split") === "train")
      .select("gram").distinct().withColumn("hit", lit(1L))
    val overlap = grams.where(col("split") =!= "train")
      .join(trainGrams, Seq("gram"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_grams"),
        sum(coalesce(col("hit"), lit(0L))).as("n_overlap"))
    docs.where(col("split") =!= "train").select(d, col("split"))
      .join(overlap, Seq("doc_id"), "left")
      .select(d, col("split"),
        coalesce(col("n_grams"), lit(0L)).as("n_grams"),
        coalesce(col("n_overlap"), lit(0L)).as("n_overlap"),
        (coalesce(col("n_overlap"), lit(0L)) > 0L).as("dirty"))
  }

  /** qx75 — AUTHORITY-WEIGHTED DOMAIN CAPS: qx71's PageRank composed
    * into qx62's per-domain cap discipline — the curation policy real
    * crawls run (keep MORE from high-authority domains, less from
    * link-farm tiers). The cap derives from an integer SHARE formula,
    * not order statistics: cap(u) = 2 + min(6, (rank·4·N) div Σrank) —
    * one aggregate cross-joined, NO global window, no ntile (a global
    * ntile over the domain table would single-partition it; the share
    * formula is map-side arithmetic and equally deterministic).
    * Selection is the qx62 shape hardened for a VARIABLE cap: topk_by
    * with k = the maximum cap (8) bounds every map task, then the
    * per-domain cap filters the exploded ranks — skew-trap-free even
    * though caps differ per domain. Oracle replays the full PageRank
    * chain + share + hash-rank selection. Output: one row per KEPT doc
    * (domain, rank_micro, cap, rk, doc_id).
    * Scale shape: qx71's build (edge-list shuffles) + one broadcast of
    * the domains-sized caps table + qx62's bounded partial top-k. */
  def qx75(spark: SparkSession, dir: String): DataFrame = {
    val d = col("doc_id")
    // Domains-sized (40 rows), referenced by the cap derivation twice
    // (totals + caps) — un-pinned, each reference replayed qx71's tail
    // past the checkpointed ranks: the census and degree corpus scans
    // and their joins (round 17, guide §5).
    val auth = qx71(spark, dir).select("domain", "rank_micro").localCheckpoint()
    val tot = auth.agg(sum("rank_micro").as("t"), count(lit(1)).as("nn"))
    val caps = auth.crossJoin(tot).select(col("domain"), col("rank_micro"),
      (lit(2L) + least(lit(6L), expr("(rank_micro * 4 * nn) div t"))).as("cap"))
    val docs = Tables.documents(spark, dir).select(d,
        concat(lit("site"), pmod(d, lit(40L)).cast("string"), lit("."),
          element_at(array(lit("com"), lit("org"), lit("net"), lit("io")),
            (pmod(d, lit(4L)) + 1L).cast("int"))).as("domain"))
      .withColumn("h", expr(SAMPLE_HASH))
    docs.join(broadcast(caps), "domain")
      .groupBy("domain", "rank_micro", "cap")
      .agg(expr("topk_by(CAST(-h AS DOUBLE), doc_id, 8)").as("tk"))
      .select(col("domain"), col("rank_micro"), col("cap"), posexplode(col("tk")))
      .select(col("domain"), col("rank_micro"), col("cap"),
        (col("pos") + 1L).cast("long").as("rk"), col("col.id").as("doc_id"))
      .where(col("rk") <= col("cap"))
  }

  /** qx76 — AUDIO PERCEPTUAL NEAR-DUP (Haitsma & Kalker 2002): the
    * audio member of the perceptual dedup matrix (text minhash/simhash,
    * image dHash qx58, audio THIS). Every 4th doc's payload is its
    * neighbor's recording at DOUBLE volume — a bit-level different WAV
    * (every sample byte differs) with the same perceptual content — and
    * the energy-profile fingerprint ([[graft.operators
    * .AudioFingerprint]]: real RIFF decode → mono mixdown → 8-frame
    * window energies → gain-invariant 7-bit quantized energy-RATIO
    * codes; the delta-sign variant was measured and rejected — see
    * AudioFingerprint's scaladoc) lands the pair in one exact-match
    * class, keep-lowest-id.
    * The DuckDB twin replays sample synthesis, windowed energies and
    * the 7-bit-per-step code packing closed-form (it never parses WAV) — a
    * wrong decode offset, window boundary, mixdown or clamp breaks the
    * hash. Scale shape: shuffle-free fingerprint scan + one
    * map-side-combinable class collapse (the qx58 discipline). */
  def qx76(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val media = Tables.documents(spark, dir).select(col("doc_id")).as[Long]
      .mapPartitions(_.map { id =>
        val seed = if (id % 4 == 1) id - 1 else id
        val gain = if (id % 4 == 1) 2 else 1
        (id, WavCodec.syntheticWav(seed, gain))
      }).toDF("doc_id", "payload")
    AudioFingerprint.fingerprintDF(media)
  }

  /** qx77 — the COMPOSED WET FUNNEL (the crawl-side capstone, qx45's
    * analogue for ingestion): WARC container walk → HTTP status screen
    * → HTML extraction → language gate → length screen → exact dedup of
    * the EXTRACTED prose, one declarative flow over binary crawl
    * payloads, reported as the funnel every corpus release publishes
    * (docs surviving each stage + final token yield). Mirror sites are
    * planted (every 11th doc serves its neighbor's CONTENT at a
    * different URL — the visible page carries no doc id, so extraction
    * yields byte-identical prose and the dedup stage must catch it);
    * every 13th doc 404s and must die at the status screen. The
    * language gate is qx8's stop-ratio rule cross-multiplied to
    * integers (20·n_stop > n_tokens — no float near the boundary, the
    * qx63 discipline); identity is qx10's order-sensitive Horner
    * fingerprint over the extracted words; keeper election min(doc_id)
    * per fingerprint among screened survivors only. The DuckDB twin
    * replays the whole funnel closed-form (never parsing WARC/HTML).
    * Scale shape: one shuffle-free decode scan + one broadcast-able
    * seed self-join (mirror planting only) + one fingerprint groupBy —
    * every screen is scan-local. */
  /** qx77's crawl-archive generator, (doc_id, warc BINARY) — shared
    * with CrawlDoorSpec so the LIVE door consumes byte-identical crawl
    * media. Every 11th doc re-fetches its neighbor's page (the dup the
    * funnel must collapse); every 13th is a 404. */
  def qx77Media(spark: SparkSession, dir: String): DataFrame = {
    val d = col("doc_id")
    val base = Tables.documents(spark, dir).select(d,
      when(pmod(d, lit(11L)) === 10L, d - 1L).otherwise(d).as("seed"))
    val withText = base.join(
      Tables.documents(spark, dir).select(col("doc_id").as("seed"), col("text")),
      "seed")
    val is404 = pmod(d, lit(13L)) === 0L
    val withHttp = withText
      .withColumn("html", when(is404,
          lit("<html><head><title>Not Found</title></head><body><p>gone</p></body></html>"))
        .otherwise(concat(
          lit("<html><head><title>Doc "), d.cast("string"),
          lit("</title></head>\n<body><!-- \r\nWARC/1.0 decoy -->\n<p>"),
          col("text"),
          lit("</p>\n<a href=\"/n?x=1&amp;y=2\">next &gt; page</a>\n</body></html>"))))
      .withColumn("http", concat(
        lit("HTTP/1.1 "), when(is404, lit("404 Not Found")).otherwise(lit("200 OK")),
        lit("\r\nContent-Type: text/html\r\nContent-Length: "),
        octet_length(col("html")).cast("string"), lit("\r\n\r\n"), col("html")))
    withHttp.select(d, concat(
      lit("WARC/1.0\r\nWARC-Type: warcinfo\r\nContent-Length: 13\r\n\r\nsoftware: g\r\n\r\n\r\n"),
      lit("WARC/1.0\r\nWARC-Type: response\r\nWARC-Target-URI: https://m"),
      pmod(d, lit(40L)).cast("string"), lit(".example/p/"), d.cast("string"),
      lit("\r\nContent-Length: "), octet_length(col("http")).cast("string"),
      lit("\r\n\r\n"), col("http"), lit("\r\n\r\n")).cast("binary").as("warc"))
  }

  def qx77(spark: SparkSession, dir: String): DataFrame = {
    val media = qx77Media(spark, dir)
    // Scoring shared verbatim with the LIVE door (CrawlDoor.score) —
    // the round-9 composition's stream==batch equality is by
    // construction, not parallel maintenance.
    val scored = graft.streaming.CrawlDoor.score(WarcCodec.parseDF(media))
    val keepers = scored.where(col("ok_q"))
      .groupBy("fp").agg(min("doc_id").as("keeper"))
    scored.join(keepers, Seq("fp"), "left")
      .withColumn("ok_u", col("ok_q") && col("doc_id") === col("keeper"))
      .agg(count(lit(1)).as("n_fetched"),
        sum(when(col("ok_http"), 1L).otherwise(0L)).as("n_http_ok"),
        sum(when(col("ok_lang"), 1L).otherwise(0L)).as("n_lang_ok"),
        sum(when(col("ok_q"), 1L).otherwise(0L)).as("n_quality_ok"),
        sum(when(col("ok_u"), 1L).otherwise(0L)).as("n_unique"),
        sum(when(col("ok_u"), col("n_tokens")).otherwise(0L)).as("tokens_final"))
  }

  /** qx79 — HYBRID retrieval with reciprocal-rank fusion: the modern
    * RAG-retrieval composition — a DENSE leg (qx2's brute-force cosine
    * over the integer-quantized embeddings) and a LEXICAL leg (true
    * per-query-document BM25: the query's DISTINCT words are the query
    * terms, scored with the qx54 micro-unit expression and SUMMED per
    * candidate) are each cut to top-20 per query, then fused by
    * RRF(d) = Σ_leg ⌊10⁶ / (60 + rank_leg(d))⌋ (Cormack et al.'s
    * reciprocal-rank fusion, k = 60) — integer-exact, so the gate
    * hash-pins the fused ranking end to end. Output per query: the
    * fused top-10 with both per-leg ranks (0 = absent from that leg's
    * top-20), the audit columns a retrieval-quality dashboard reads.
    *
    * Scale shape: the dense leg is the qx2 broadcast-query scan with
    * map-side `topk_by` pruning (k rows per map task cross the
    * exchange, never n·q). The lexical leg prunes the exploded corpus
    * with a broadcast of the query-term lexicon BEFORE any aggregation
    * (qx54's discipline), sums per (query, doc) map-side, and cuts
    * with `topk_by` — no rank window ever partitions by query. The
    * fusion input is ≤ 40 rows/query BY CONSTRUCTION (two top-20
    * lists), so the full-outer merge and final top-10 are
    * metadata-sized regardless of corpus scale. The query set is the
    * gate's vec_id % 50 slice CAPPED at id < 5000 — a production
    * query set is an INPUT, not a corpus slice, and the cap is what
    * makes that true at probe scale: uncapped, |queries| grows with n
    * and the lexical term join is Σ_t df(t)·qf(t) ~ n²/vocab — the
    * 100× probe OOM'd exactly there (10k queries × head terms). The
    * cap keeps every gate SF's query set bit-identical (max doc_id at
    * sf0.1 is 4999) while bounding the probe at 100 queries. */
  def qx79(spark: SparkSession, dir: String): DataFrame =
    // Deliberately left as ONE declarative plan (round 17): the fused
    // self-reference re-plans both legs statically, but AQE stage reuse
    // executes each leg's exchanges once — measured flat (3.4 s → 3.7 s)
    // under the checkpointed-legs spelling, and PlanShapeSpec pins this
    // row's leg shapes (topk_by cuts, broadcast lexical lookups) on the
    // final plan, which construction-time checkpoints would hide.
    rrfFuse(denseTop20(spark, dir), bm25Top20(spark, dir))

  /** The hybrid queries' DENSE leg (qx2's scan, k = 20) — factored from
    * qx79 for qx106's triplet miner. */
  private[graft] def denseTop20(spark: SparkSession, dir: String): DataFrame = {
    val base = intEmbeddings(spark, dir)
    val qv = base.where(col("vec_id") % 50 === 0 && col("vec_id") < 5000)
      .select(col("vec_id").as("qid"), col("iv").as("qiv"), col("n2").as("qn2"))
    val denseScored = base.crossJoin(broadcast(qv))
      .where(col("vec_id") =!= col("qid"))
      .withColumn("dot", expr("long_dot(iv, qiv)"))
      .withColumn("cosine", expr(COSINE))
    topK(denseScored, 20)
      .select(col("qid"), col("vec_id").as("doc_id"),
        col("rk").cast("long").as("dense_rk"))
  }

  /** qx106 — CONTRASTIVE TRIPLET MINING for retriever training (the
    * DPR discipline, Karpukhin et al. 2020): per query, the POSITIVE is
    * the dense top-1 neighbor and the HARD NEGATIVES are the
    * best-BM25-ranked documents that the dense top-20 does NOT contain
    * — lexically magnetic yet semantically off, exactly the pairs that
    * teach a dense retriever what term overlap is not evidence of. The
    * per-query lexical∩dense overlap count rides along (the
    * "how hard are the negatives here" diagnostic). Both legs are the
    * hybrid family's shared derivations ([[denseTop20]]/[[bm25Top20]]),
    * so qx79/qx79b/qx106 can never drift apart.
    *
    * Scale shape: both legs end map-side-bounded (topk_by), so the
    * miner composes anti-join + bounded top-2 + count over 20·q-row
    * inputs — metadata-sized at any SF; the legs are checkpointed
    * because three consumers would otherwise re-run the corpus scans
    * (the qx98 lesson). Sentinel −1 marks a query whose lexical top-20
    * all sit inside the dense top-20 (no hard negative exists). */
  def qx106(spark: SparkSession, dir: String): DataFrame = {
    val legs = concurrently(
      () => denseTop20(spark, dir).localCheckpoint(),
      () => bm25Top20(spark, dir).localCheckpoint())
    mineTriplets(legs(0), legs(1))
  }

  /** qx106b — the triplet miner SERVED BY THE INDEX (the qx79b/qx98b
    * discipline applied to the last brute-only consumer, r12 verdict
    * #2): the dense leg is the qx44 residual-IVFADC serve cut to
    * top-20 on the gate query slice — byte-identical to qx79b's dense
    * leg — and the lexical leg and miner are the SHARED
    * [[bm25Top20]]/[[mineTriplets]] spellings, so qx106 vs qx106b
    * diffs measure exactly the index's effect on the mined triplets
    * (the qx79-vs-qx79b argument). At 100 TB this is the form a
    * production mining epoch runs: per-epoch cost is probe-bound
    * (candidates ∝ cell occupancy), never the linear corpus scan the
    * declared-brute qx106 pays by construction. Sentinel semantics
    * (−1 when fewer than two hard negatives exist) are preserved by
    * the shared miner. */
  def qx106b(spark: SparkSession, dir: String): DataFrame = {
    val legs = concurrently(
      () => ivfadcDenseTop20(spark, dir).localCheckpoint(),
      () => bm25Top20(spark, dir).localCheckpoint())
    mineTriplets(legs(0), legs(1))
  }

  /** The hybrid family's IVFADC-SERVED dense leg — qx79b/qx106b's dense
    * side factored to one spelling (and qx125's reuse point): the qx44
    * residual-IVFADC build + 2×2-probe serve cut to top-20 on the gate
    * query slice, emitted as (qid, doc_id, dense_rk). */
  private[graft] def ivfadcDenseTop20(spark: SparkSession, dir: String): DataFrame = {
    val (a, k) = ivfadcAssets(spark, dir)
    val q = a.base.where(col("vec_id") % 50 === 0 && col("vec_id") < 5000)
      .select(col("vec_id").as("qid"), col("iv").as("qiv"), col("n2").as("qn2"))
    ivfadcServe(q, a.books, a.pqBooks, a.codes, a.base, k, topk = 20)
      .select(col("qid"), col("vec_id").as("doc_id"),
        col("rk").cast("long").as("dense_rk"))
  }

  /** The DPR miner over ANY (dense, lexical) top-20 rank pair —
    * factored from qx106 so the declared-brute gate (qx106), the
    * index-served gate (qx106b) and the persisted-index serving path
    * ([[graft.operators.HybridIndex.mineTriplets]]) share one
    * spelling. Inputs: dense(qid, doc_id, dense_rk),
    * lex(qid, doc_id, lex_rk); callers checkpoint their legs (three
    * consumers below would re-run the scans otherwise — the qx98
    * lesson). */
  private[graft] def mineTriplets(dense: DataFrame, lex: DataFrame): DataFrame = {
    val pos = dense.where(col("dense_rk") === 1L)
      .select(col("qid"), col("doc_id").as("pos_id"))
    val negc = lex.join(dense.select("qid", "doc_id"), Seq("qid", "doc_id"), "left_anti")
    val negs = negc.groupBy("qid")
      .agg(expr("topk_by(CAST(-lex_rk AS DOUBLE), doc_id, 2)").as("tk"))
      .select(col("qid"),
        expr("element_at(tk, 1).id").as("neg1_id"),
        expr("CASE WHEN size(tk) > 1 THEN element_at(tk, 2).id ELSE CAST(-1 AS BIGINT) END")
          .as("neg2_id"))
    val ov = lex.join(dense.select("qid", "doc_id"), Seq("qid", "doc_id"))
      .groupBy("qid").agg(count(lit(1)).as("n_overlap"))
    pos
      .join(negs, Seq("qid"), "left")
      .join(ov, Seq("qid"), "left")
      .select(col("qid"), col("pos_id"),
        coalesce(col("neg1_id"), lit(-1L)).as("neg1_id"),
        coalesce(col("neg2_id"), lit(-1L)).as("neg2_id"),
        coalesce(col("n_overlap"), lit(0L)).as("n_overlap"))
  }

  /** The hybrid queries' LEXICAL leg (factored from qx79 for qx79b):
    * true per-query-document BM25 over the gate query set, cut to
    * top-20 per query map-side. */
  private[graft] def bm25Top20(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir).select(col("doc_id"), col("text"))
    // One corpus EXPLODE and TWO corpus tokenizations, not four (rounds
    // 17+18, guide §2.3/§2.4): the doc length RIDES THE EXPLODE ROW and
    // folds into the tf groupBy key (dl is a pure function of doc_id, so
    // the groups are unchanged) — the corpus-sized tf⋈dl join and its
    // separate tokenization pass drop from the plan — and the corpus
    // totals (n, Σdl) fold in ONE scan instead of a crossJoin of two
    // single-agg scans. The word ARRAY is materialized once per doc (ws)
    // so the non-codegen lambda tokenization feeds size() AND the
    // generator from ONE evaluation — putting size($WORDS) directly in
    // the explode projection evaluated the filter(split(...)) lambda
    // TWICE per doc and measured 1.4× slower on this very query
    // (CollapseProject refuses to inline a non-cheap expr referenced
    // twice, which is exactly the behavior this spelling leans on).
    // greatest(size, 0) keeps the "identical to counting exploded rows"
    // claim even for null/empty text (size of a null array is -1;
    // explode of it emits nothing — ADVICE r17). The query lexicon
    // explodes only the query-doc slice; the broadcast lexical-lookup
    // and topk_by shapes the plan pins keep are unchanged.
    val qterms = docs.where(col("doc_id") % 50 === 0 && col("doc_id") < 5000)
      .select(col("doc_id").as("qid"), explode(expr(WORDS)).as("word")).distinct()
    val terms = qterms.select("word").distinct()
    val stats = bm25CorpusStats(docs)
    // The tf BRANCH is partitioned by doc_id BEFORE the explode (round
    // 18, guide §2.2/§2.4): every word of a doc — and therefore every
    // (qid, doc) pair group and every per-qid topk bucket downstream —
    // is partition-local, so the (qid, doc_id) score sum and the final
    // topk_by both COMPLETE in their partial (map-side) phase. Under
    // the previous (doc_id, dl, word)-keyed tf exchange a doc's words
    // spread over |words| partitions and the pair aggregation's partial
    // phase barely compressed: the (qid, doc_id) exchange carried
    // millions of partial rows (measured 3.1 → 2.0 s solo on this very
    // leg, every hybrid row inherits it). At 100 TB the trade reads:
    // one corpus-bytes exchange here vs a pairs exchange that scales
    // with |postings ∩ query lexicon| × queries — and on a doc-bucketed
    // production layout this repartition vanishes entirely while the
    // pair/topk locality keeps holding.
    val tf = docs.repartition(col("doc_id"))
      .select(col("doc_id"), expr(WORDS).as("ws"))
      .select(col("doc_id"),
        expr("CAST(greatest(size(ws), 0) AS BIGINT)").as("dl"),
        explode(col("ws")).as("word"))
      .join(broadcast(terms), "word")
      .groupBy("doc_id", "dl", "word").agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy("word").agg(count(lit(1)).as("df"))
    tf
      .join(broadcast(dfreq), "word")
      .crossJoin(broadcast(stats))
      .withColumn("s_micro", expr(BM25_MICRO))
      .join(broadcast(qterms), "word")
      .where(col("doc_id") =!= col("qid"))
      .groupBy("qid", "doc_id").agg(sum("s_micro").as("score_micro"))
      .groupBy("qid")
      .agg(expr("topk_by(CAST(score_micro AS DOUBLE), doc_id, 20)").as("tk"))
      .select(col("qid"), posexplode(col("tk")).as(Seq("p", "t")))
      .select(col("qid"), col("t.id").as("doc_id"),
        (col("p") + 1).cast("long").as("lex_rk"))
  }

  /** [[bm25Top20]]'s corpus totals (n, sumdl) over (doc_id, text). */
  private[graft] def bm25CorpusStats(docs: DataFrame): DataFrame =
    docs.agg(count(lit(1)).as("n"),
      sum(expr(s"CAST(greatest(size($WORDS), 0) AS BIGINT)")).as("sumdl"))

  /** RRF fusion of a dense and a lexical rank list (factored from
    * qx79, unchanged): both inputs are k·q rows — metadata-sized at
    * any SF — so the full-outer merge and final top-10 never see the
    * corpus. */
  private[graft] def rrfFuse(dense: DataFrame, lex: DataFrame): DataFrame = {
    val fused = dense.join(lex, Seq("qid", "doc_id"), "full_outer")
      .na.fill(0L, Seq("dense_rk", "lex_rk"))
      .withColumn("rrf_micro",
        when(col("dense_rk") > 0, expr("1000000L div (60L + dense_rk)"))
          .otherwise(0L) +
        when(col("lex_rk") > 0, expr("1000000L div (60L + lex_rk)"))
          .otherwise(0L))
    fused
      .groupBy("qid")
      .agg(expr("topk_by(CAST(rrf_micro AS DOUBLE), doc_id, 10)").as("tk"))
      .select(col("qid"), posexplode(col("tk")).as(Seq("p", "t")))
      .select(col("qid"), (col("p") + 1).cast("long").as("rk"),
        col("t.id").as("doc_id"))
      .join(fused, Seq("qid", "doc_id"))
      .select(col("qid"), col("rk"), col("doc_id"),
        col("rrf_micro").cast("long").as("rrf_micro"),
        col("dense_rk"), col("lex_rk"))
  }

  /** qx79b — PRODUCTION hybrid retrieval: qx79 with its dense leg
    * served by the qx44 residual-IVFADC index instead of the declared
    * brute-force n·q scan (the round-9 verdict's scale-killer). The
    * index probes 2×2 IMI cells per query, ADC-ranks only the probed
    * cells' members, exact-cosine-refines the top-[[PqC]] and emits
    * dense top-20; the lexical BM25 leg and the integer RRF fusion are
    * byte-identical to qx79 (shared [[bm25Top20]]/[[rrfFuse]] code).
    * The oracle replays the ENTIRE composition — both IVFADC trainings
    * plus BM25 plus fusion — so the hash pins index-serving end to
    * end. Scale shape: the corpus-sized work is now probe-bound
    * (candidates ∝ cell occupancy, never n·q); measured recall of the
    * fused list vs brute-force qx79 at equal budget was recorded by
    * RecallProbe's `hybrid` block (at commit `500eb2a`). Query set =
    * qx79's capped slice, so the two gates rank the same queries and diffing their
    * outputs measures the index's effect directly. */
  def qx79b(spark: SparkSession, dir: String): DataFrame = {
    // The BM25 leg is independent of the IVFADC build+serve — it now
    // overlaps the trainings instead of queuing behind them (§2.6).
    val legs = concurrently(
      () => ivfadcDenseTop20(spark, dir).localCheckpoint(),
      () => bm25Top20(spark, dir).localCheckpoint())
    rrfFuse(legs(0), legs(1))
  }

  /** The hybrid family's GRAPH-ANN dense leg (round 15, r14 verdict
    * #5 — the fourth ANN family as a dense-leg option in the RRF
    * stack): the qx109 build-and-beam-serve spelling at beam 20 over
    * qx79's capped query slice, emitted as (qid, doc_id, dense_rk).
    * Shared by qx79c and the qx125 fusion-recall ledger. Scale shape:
    * qx109's own (bucketed candidate join, per-round bounded beam
    * expansion); the wider beam only widens the ≤ beam·|q| frontier
    * frames, never the corpus-sized stages. */
  private[graft] def graphDenseTop20(spark: SparkSession, dir: String): DataFrame = {
    val base = intEmbeddings(spark, dir)
    val sigs = lshSigs(spark, dir)
    val graph = GraphAnn.knnGraph(base, EmbeddingLsh.candidatePairs(sigs), k = 4)
    val qPred = col("vec_id") % 50 === 0 && col("vec_id") < 5000
    val qs = base.where(qPred)
      .select(col("vec_id").as("qid"), col("iv").as("qiv"), col("n2").as("qn2"))
    val qsigs = sigs.where(qPred)
      .select(col("vec_id").as("qid"), col("band").as("qband"),
        col("sig").as("qsig"))
    val seeds = sigs.join(broadcast(qsigs),
        col("band") === col("qband") && col("sig") === col("qsig") &&
          col("vec_id") =!= col("qid"))
      .select("qid", "vec_id").distinct()
    GraphAnn.searchEntryMin(graph, base, qs, seeds, beam = 20, rounds = 3)
      .select(col("qid"), col("vec_id").as("doc_id"),
        col("rk").cast("long").as("dense_rk"))
  }

  /** qx79c — hybrid retrieval with the GRAPH-ANN dense leg (round 15,
    * r14 verdict #5): qx79 with its dense leg served by the qx109
    * k-NN-graph beam search (beam 20) instead of the brute n·q scan —
    * the graph family joining IVFADC (qx79b) as a production dense
    * option in the RRF stack. The lexical BM25 leg and the integer
    * fusion are byte-identical to qx79/qx79b (shared
    * [[bm25Top20]]/[[rrfFuse]]), and the query set is qx79's capped
    * slice, so diffing the three gates measures exactly the dense
    * family swap. The oracle replays the ENTIRE composition — graph
    * build, all three beam rounds, BM25, fusion. At 100 TB the graph
    * leg serves from the maintained [[graft.operators.GraphIndex]]
    * asset ([[graft.operators.HybridIndex.searchGraphFused]] — the
    * persisted twin this gate row pins). */
  def qx79c(spark: SparkSession, dir: String): DataFrame = {
    val legs = concurrently(
      () => graphDenseTop20(spark, dir).localCheckpoint(),
      () => bm25Top20(spark, dir).localCheckpoint())
    rrfFuse(legs(0), legs(1))
  }

  /** qx125 — FUSED-retrieval recall ledger (round 15, r14 verdict #5's
    * ledger entry): recall@10 of each index-served hybrid fusion —
    * IVFADC dense leg (qx79b) vs graph-ANN dense leg (qx79c) — against
    * the brute-dense fusion (qx79) over the identical query set: the
    * qx123 family-keyed comparison applied to the END-TO-END serving
    * stack instead of a single leg, because the release question is
    * which dense family loses how much of the FUSED ranking (the list
    * users see) at equal lexical budget. All three inputs are the
    * shared gate spellings under one [[recallAuditK]] fold.
    *
    * Scale shape: the legs' own (already-probed) plans; each audit
    * joins two 10·|q|-row lists and folds a ≤11-bucket histogram —
    * metadata-sized at any corpus scale. */
  def qx125(spark: SparkSession, dir: String): DataFrame = {
    // The three fusion stacks are independent — materialize them
    // CONCURRENTLY (the qx117 composite-row cost model: max(legs) +
    // fold under eager localCheckpoints, not the sum — this row read
    // 21.9 s serial in the first r15 bench, ≈ its three constituents
    // added end to end).
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    import scala.concurrent.ExecutionContext.Implicits.global
    // ONE lexical leg for all three fusions (round 17): each fusion's
    // BM25 table is byte-identical by construction (shared bm25Top20
    // spelling over the same corpus and query slice), so the three
    // stacks fuse against a single checkpointed copy — two whole BM25
    // corpus passes removed at equal-output; the RRF arithmetic sees
    // the same rows either way.
    val lexF = Future(bm25Top20(spark, dir).localCheckpoint())
    def fused(dense: => DataFrame) = Future {
      val d = dense.localCheckpoint()
      rrfFuse(d, Await.result(lexF, Duration.Inf))
        .select(col("qid"), col("doc_id").as("vec_id")).localCheckpoint()
    }
    val fBrute = fused(denseTop20(spark, dir))
    val fAdc = fused(ivfadcDenseTop20(spark, dir))
    val fGraph = fused(graphDenseTop20(spark, dir))
    val brute = Await.result(fBrute, Duration.Inf)
    def leg(name: String, served: DataFrame): DataFrame =
      recallAuditK(brute, served, 10)
        .select(lit(name).as("family"), col("hits"), col("n_queries"),
          col("recall_micro"))
    leg("ivfadc", Await.result(fAdc, Duration.Inf))
      .unionByName(leg("graph", Await.result(fGraph, Duration.Inf)))
  }

  /** qx80 — BLOCKLIST scan gate: [[graft.operators.AhoCorasick]]'s
    * single-pass dense DFA over the documents table with a 15-term
    * blocklist built to stress the automaton (nested suffixes
    * scan/can/an and table/able, shared stems part/art, and the
    * self-overlapping cross-word bigram "a a"). Emits per hit-document
    * the total occurrence count (ALL matches — overlapping and nested
    * both count), the distinct-pattern count, the 1-based position of
    * the earliest match and Σ pattern-id over occurrences (`hit_sig`,
    * which pins per-pattern counts, not just totals). The DuckDB twin
    * enumerates every (position, pattern) substring comparison
    * closed-form — it never builds an automaton — so a wrong failure
    * link, a lost nested match or an off-by-one start position each
    * break the hash. Scale shape: shuffle-free partition-parallel
    * scan, O(1)/char independent of blocklist size (a regexp
    * alternation is O(terms)/char — the difference IS the operator). */
  def qx80(spark: SparkSession, dir: String): DataFrame =
    AhoCorasick.scanDF(
      Tables.documents(spark, dir).select(col("doc_id"), col("text")),
      AhoCorasick.GateBlocklist)

  /** qx81 — PRIORITY sampling (Duffield–Lund–Thorup, JACM 2007): the
    * one-pass WEIGHTED sample the sampling family was missing — qx21
    * is uniform per stratum, qx27 proportional by stratum SIZE, qx34
    * temperature-scaled by stratum size; this one weights each
    * individual document (by n_chars — "sample bytes, not docs", the
    * correct unit when downstream cost is tokens). Each doc gets
    * priority pᵢ = wᵢ/uᵢ with uᵢ deterministic-uniform from its id;
    * the k highest priorities are the sample, and τ = the (k+1)-th
    * priority yields the scheme's unbiased subset-sum estimator
    * ŵᵢ = max(wᵢ, τ) — Σ ŵ over any subset of the sample estimates
    * that subset's true weight. Output: rank, doc, weight, priority
    * and estimator (micro-units).
    *
    * Determinism across engines: u = (h + ½)/2³¹ with h the squared
    * affine hash ((id·1000003+12345) mod p)² mod p (p = 2³¹−1, the
    * LSH oracle's nonlinearity trick; products stay < 2⁶³). The
    * priority w·(2³¹−1)/(h+½) uses one multiply and one divide — both
    * IEEE-correctly-rounded, so both engines produce the identical
    * double, and the micro-unit floor is exact. The affine-squared
    * hash is the gate's deterministic stand-in (same caveat as
    * qx73's): production would use xxhash64, which is engine-specific.
    *
    * Scale shape: the canonical distributed top-k — ONE global
    * `topk_by` whose partial pass prunes every map task to k+1 rows
    * before a single k+1-row merge; the sample (65 rows) then
    * broadcasts back against the corpus to recover weights. No
    * corpus-sized shuffle at any k; this is the weighted subsample
    * you can afford per-shard at 100 TB. */
  def qx81(spark: SparkSession, dir: String): DataFrame = {
    val K = 64
    val pri = "CAST(w AS DOUBLE) * 2147483647.0 / (CAST(h AS DOUBLE) + 5e-1)"
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), col("n_chars").cast("long").as("w"))
      .withColumn("h", expr(
        s"(($SAMPLE_HASH) * ($SAMPLE_HASH)) % 2147483647"))
      .withColumn("pri", expr(pri))
    val top = docs
      .groupBy()
      .agg(expr(s"topk_by(pri, doc_id, ${K + 1})").as("tk"))
      .select(posexplode(col("tk")).as(Seq("p", "t")))
      .select((col("p") + 1).cast("long").as("rk"),
        col("t.id").as("doc_id"), col("t.score").as("pri"))
    val tau = top.where(col("rk") === K + 1)
      .select(col("pri").as("tau"))
    val sample = top.where(col("rk") <= K).join(tau) // 64 rows × 1-row tau
    docs.select("doc_id", "w")
      .join(broadcast(sample), "doc_id") // corpus scan × broadcast sample
      .select(col("rk"), col("doc_id"), col("w"),
        expr("CAST(floor(pri * 1e6 + 5e-1) AS BIGINT)").as("pri_micro"),
        expr("CAST(floor(greatest(CAST(w AS DOUBLE), tau) * 1e6 + 5e-1) AS BIGINT)")
          .as("est_micro"))
  }

  /** qx82 — RENDEZVOUS sharding gate: [[Partitioning.rendezvousShard]]
    * evaluated at N = 8 and N = 9 over every document, emitting both
    * assignments and the moved flag. This pins (a) every individual
    * HRW argmax bit-for-bit (the DuckDB twin replays the weight·16+s
    * max from the same hash family) and (b) the minimal-movement
    * CONTRACT — together with the oracle's row hash, `moved = 1 ⟺
    * shard9 = 8` means a resize relocates only what the new shard
    * wins (RendezvousShardSpec asserts the implication and the ≈1/9
    * movement fraction explicitly). Scale shape: two scan-local
    * codegen'd expressions, zero exchanges — the cheapest gate row in
    * the suite, because placement must be. */
  def qx82(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"),
        Partitioning.rendezvousShard("doc_id", 8).cast("long").as("shard8"),
        Partitioning.rendezvousShard("doc_id", 9).cast("long").as("shard9"))
      .withColumn("moved",
        when(col("shard8") =!= col("shard9"), 1L).otherwise(0L))

  /** qx83 — EPOCH-SHUFFLE gate: [[graft.operators.EpochShuffle]]'s
    * Feistel permutation keys for epochs 1 and 2 over every document
    * — the reproducible global training-order shuffle (sort by a
    * collision-free key any worker recomputes from the id alone; no
    * RNG state, no stored random column, a fresh order per epoch).
    * Both keys are hash-pinned per doc; EpochShuffleSpec asserts the
    * structural guarantees (bijectivity — distinct ids ⇒ distinct
    * keys — and epoch decorrelation) that ranking by a RAW hash
    * cannot give (birthday collisions make raw-hash order engine-
    * tie-broken, i.e. silently non-reproducible). The oracle twin is
    * generated from the SAME round builder, `div` spelling aside.
    * Scale shape: scan-local codegen'd integer ops; materializing an
    * epoch's order is one range exchange on the key (the qx53 class). */
  def qx83(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"),
        EpochShuffle.shuffleKey("doc_id", 1).cast("long").as("k1"),
        EpochShuffle.shuffleKey("doc_id", 2).cast("long").as("k2"))

  /** qx84 — the GOPHER rule screen ([[GopherRules]]): the published
    * heuristic quality gate (Rae et al. 2021, App. A1.1) evaluated per
    * document in pure-integer cross-multiplied form and aggregated per
    * (lang, source) — per-rule kill counts, the pass count, the Σ of
    * per-doc fail bitmasks (which pins the rule VECTOR distribution,
    * not just marginals) and the surviving token budget. On this
    * synthetic corpus rules 3/4 are structurally satisfied (no symbol
    * runs, all-alpha vocabulary — the qx8 honesty note applies); rules
    * 1/2/5 do live filtering. Scale shape: one scan, one 100-group
    * map-side-combinable aggregate — the cheapest possible screen,
    * which is the point of running heuristics before classifiers. */
  def qx84(spark: SparkSession, dir: String): DataFrame =
    GopherRules.withRuleColumns(Tables.documents(spark, dir))
      .groupBy("lang", "source")
      .agg(count(lit(1)).as("n_docs"),
        sum("pass").as("n_pass"),
        sum("f1").as("f_nwords"),
        sum("f2").as("f_meanlen"),
        sum("f3").as("f_symbol"),
        sum("f4").as("f_alpha"),
        sum("f5").as("f_stop"),
        sum("mask").as("mask_sum"),
        sum(col("pass") * col("n_words")).as("kept_tokens"))

  /** qx85 — content-defined chunk dedup accounting ([[CdcChunker]]):
    * every document splits at rolling-hash boundaries (LBFS/FastCDC
    * family — see the operator scaladoc), and per SOURCE the chunk
    * store reports volume, distinct-chunk count, the bytes a
    * chunk-level dedup store would save (Σ len·(occ−1)), and an
    * order-free Σ-sig over (hash, len) that pins every chunk hash. The
    * within-source spelling is the SHARD-level dedup a 100 TB store
    * runs before global reconciliation. Scale shape: scan-local
    * chunking (no exchange until the identity groupBy), two
    * partial-aggregated shuffles, 20 output rows. */
  def qx85(spark: SparkSession, dir: String): DataFrame = {
    val chunks = CdcChunker.chunks(
      Tables.documents(spark, dir).select(col("doc_id"), col("source"), col("text")))
    chunks
      .groupBy("source", "ch1", "ch2", "len")
      .agg(count(lit(1)).as("n_occ"))
      .groupBy("source")
      .agg(sum("n_occ").as("n_chunks"),
        count(lit(1)).as("n_distinct"),
        sum(col("len") * col("n_occ")).as("sum_bytes"),
        sum(col("len") * (col("n_occ") - 1L)).as("dup_bytes"),
        sum(((col("ch1") * 1009L + col("len")) % CdcChunker.P) * col("n_occ"))
          .as("chunk_sig"))
  }

  /** qx90 — GLOBAL chunk-store reconciliation (the round-9 verdict's
    * declared "shard-level dedup before global reconciliation" step,
    * shipped): qx85 deduplicates per (source, identity); here the
    * per-source stores MERGE into one corpus-wide store and every
    * chunk identity elects ONE global keeper — the occurrence first
    * seen in (doc_id, start) document order, source as the unique-key
    * tie-rider — so cross-source duplicate bytes are attributed to the
    * source that pays for the chunk first. Per source: occurrence
    * count, owned identities, owned (stored) bytes, TOTAL duplicate
    * bytes saved (intra + cross), cross-source duplicate bytes (the
    * reconciliation's own contribution over qx85), and the owned-store
    * signature (pins WHICH identities each source owns, not just how
    * many). Scale shape (the qx67 keeper discipline): both the
    * per-(identity, source) fold and the keeper election are map-side
    * combinable min(struct) aggregations on the chunk-identity
    * exchange — no Window, no all-pairs, hot identities partial-
    * aggregate before the shuffle. The online twin is
    * [[graft.streaming.ChunkDedupStream.admitGlobal]] (spec-pinned
    * batch-equal across splits and replay). */
  /** qx91 — DSIR data selection (Xie et al., "Data Selection for
    * Language Models via Importance Resampling", NeurIPS 2023): score
    * every document by how much it looks like a TARGET slice under a
    * hashed n-gram bag model, then take a deterministic importance
    * resample — the published recipe for picking pretraining data that
    * matches a trusted reference corpus, composed from the suite's own
    * disciplines.
    *
    *  - Features: unigram + bigram word-hashes bucketed to B = 8192
    *    (the DSIR hashed-feature trick; qx36's bigram spelling).
    *  - Per-bucket weight = the LOG-RATIO ANALOG in pure integers:
    *    w(b) = sur_raw(b) − sur_tgt(b), where sur_x(b) =
    *    ⌊10⁴·(N_x + B) div (c_x(b)+1)⌋ is qx59/qx63's Laplace-smoothed
    *    integer surprisal surrogate of −log p_x(b). Monotone per term,
    *    no transcendental, no overflow at any probe scale (numerator ≤
    *    10⁴·N); the floor-per-term divergence from the exact log is
    *    documented, as in qx59.
    *  - Per-doc score = Σ over the doc's feature OCCURRENCES of w(b) —
    *    the additive surrogate of DSIR's log importance weight.
    *    Docs with no features score 0 (left join), never drop.
    *  - Resample: qx81's priority machinery over the min-shifted score
    *    (w' = score − min + 1 keeps weights positive; selection ∝ a
    *    positive monotone image of the log-ratio surrogate — the
    *    deterministic stand-in for the paper's Gumbel resample,
    *    divergence documented): pri = w'·P/(h+½), IEEE-identical in
    *    both engines, top-64 by map-side-pruned `topk_by`.
    *
    * Scale shape: features explode scan-locally; bucket counts are
    * B-bounded aggregations; the weight table (B rows) broadcasts; the
    * global min is a 1-row aggregate; the top-k never windows corpus
    * rows. Target slice = source 'src0' (the "looks like the reference
    * corpus" stand-in, the qx63 pseudo-label discipline). */
  def qx91(spark: SparkSession, dir: String): DataFrame = {
    val B = 8192L
    val P = 2147483647L
    val docs = Tables.documents(spark, dir).select(col("doc_id"), col("source"))
    // Features via the [[DsirSelect.featureRows]] mapPartitions kernel
    // (the declarative spellings — a lead() window first, then an
    // array-HOF explode — re-evaluated the char-level hash work per
    // pass and dominated the 100× probe at 72 s / 36 s); the target
    // flag rides along so BOTH count columns come out of ONE
    // aggregation. DsirSelectSpec pins kernel == declarative.
    val feats = DsirSelect.featureRows(
      Tables.documents(spark, dir).select(col("doc_id"), col("source"), col("text")),
      targetSource = "src0")
    val counts = feats.groupBy("b").agg(count(lit(1)).as("cr"),
      sum("tgt").as("ct"))
    val tot = counts.agg(sum("cr").as("nr"), sum("ct").as("nt"))
    val w = counts.crossJoin(broadcast(tot))
      .select(col("b"),
        expr(s"(10000L * (nr + ${B}L)) div (cr + 1L) - " +
             s"(10000L * (nt + ${B}L)) div (ct + 1L)").as("w"))
    val scored = docs.join(
        feats.join(broadcast(w), "b").groupBy("doc_id").agg(sum("w").as("s")),
        Seq("doc_id"), "left")
      .na.fill(0L, Seq("s"))
    val shift = scored.agg(min("s").as("m"))
    val pri = scored.crossJoin(broadcast(shift))
      .withColumn("h", expr(s"(($SAMPLE_HASH) * ($SAMPLE_HASH)) % ${P}L"))
      .withColumn("pri", expr(
        s"CAST(s - m + 1L AS DOUBLE) * ${P}.0 / (CAST(h AS DOUBLE) + 5e-1)"))
    val top = pri.groupBy()
      .agg(expr("topk_by(pri, doc_id, 64)").as("tk"))
      .select(posexplode(col("tk")).as(Seq("p", "t")))
      .select((col("p") + 1).cast("long").as("rk"), col("t.id").as("doc_id"),
        col("t.score").as("pri"))
    // corpus scan × broadcast 64-row sample (the qx81 join shape)
    pri.select("doc_id", "source", "s")
      .join(broadcast(top), "doc_id")
      .select(col("rk"), col("doc_id"), col("source"),
        col("s").as("dsir_score"), col("pri"))
  }

  /** qx92 — TOKENIZER FERTILITY audit: bytes-per-token and
    * tokens-per-word per language under the corpus-trained BPE
    * (qx60/qx61's tokenizer) — the table a tokenizer choice is
    * validated against in the multilingual literature (fertility
    * disparities are how a vocabulary silently taxes low-resource
    * languages; UniMax/NLLB report exactly this audit). Integer-exact:
    * bytes = n_chars (the corpus ASCII contract), fertility in
    * micro-units via `div`. Scale shape: the BPE train is qx60's
    * vocabulary-bounded chain (state cached — the qx61 lesson); the
    * audit itself is one exploded scan joined to the broadcast token
    * table plus one language-keyed map-side-combinable aggregate. */
  def qx92(spark: SparkSession, dir: String): DataFrame = {
    val wf = Tables.documents(spark, dir)
      .select(explode(expr(WORDS)).as("word"))
      .groupBy("word").agg(count(lit(1)).as("cnt"))
    val (_, state) = BpeTrainer.train(wf, steps = 8)
    val tok = state.select(col("word"), BpeTrainer.tokenCount.as("n_tok"))
    val perLang = Tables.documents(spark, dir)
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars").cast("long")).as("sum_bytes"))
    val tokLang = Tables.documents(spark, dir)
      .select(col("lang"), explode(expr(WORDS)).as("word"))
      .join(broadcast(tok), "word")
      .groupBy("lang")
      .agg(count(lit(1)).as("n_words"), sum("n_tok").as("n_bpe"))
    perLang.join(tokLang, "lang")
      .select(col("lang"), col("n_docs"), col("sum_bytes"),
        col("n_words"), col("n_bpe"),
        expr("(1000000L * sum_bytes) div n_bpe").as("bytes_per_tok_micro"),
        expr("(1000000L * n_bpe) div n_words").as("toks_per_word_micro"))
  }

  /** qx93 — SOURCE DRIFT monitor: how far each source's hashed n-gram
    * distribution sits from the corpus mixture — the alarm a standing
    * ingestion pipeline reads to catch a feed gone off-profile (layout
    * change, language shift, spam injection) before it pollutes the
    * mix, and the monitoring companion of qx91's relevance model
    * (same [[DsirSelect]] feature kernel, same B = 8192 buckets).
    * Per source: feature count, the L1 distance Σ_b |p_src(b) −
    * p_corpus(b)| in integer micro-units (p = 10⁶·c div n — floor
    * rounding identical in both engines, so the statistic is
    * hash-exact, the qx84 no-float discipline), and the single most
    * divergent bucket with its signed gap (micro) — the "what changed"
    * pointer next to the "how much" score. Scale shape: one kernel
    * feature pass → one (source, bucket) aggregation (≤ sources×B
    * rows) → bucket-level join against the B-row corpus histogram →
    * per-source fold; nothing after the feature pass touches corpus-
    * sized data. */
  def qx93(spark: SparkSession, dir: String): DataFrame = {
    val B = DsirSelect.B
    val feats = DsirSelect.featureRows(
      Tables.documents(spark, dir).select(col("doc_id"), col("source"), col("text")),
      targetSource = "src0")
    // ONE feature pass: the (source, bucket) table is ≤ sources×B rows
    // BY CONSTRUCTION, so it takes the bounded LocalRelation round-trip
    // (the codebook pattern) and every downstream reference — totals,
    // corpus histogram, grid join — reuses it instead of re-running
    // the kernel scan per lineage branch.
    val bySrc0 = feats.groupBy("source", "b").agg(count(lit(1)).as("cs"))
    val bySrc = spark.createDataFrame(
      java.util.Arrays.asList(bySrc0.collect(): _*), bySrc0.schema)
    val srcTot = bySrc.groupBy("source").agg(sum("cs").as("ns"))
    val corp = bySrc.groupBy("b").agg(sum("cs").as("cc"))
    val corpTot = corp.agg(sum("cc").as("nc"))
    // Every (source, corpus-bucket) pair — sources × B rows, so a
    // bucket the source never emits still contributes |0 − p_corpus|.
    val grid = srcTot.crossJoin(broadcast(corp)).crossJoin(broadcast(corpTot))
      .join(bySrc, Seq("source", "b"), "left").na.fill(0L, Seq("cs"))
      .withColumn("ps", expr("(1000000L * cs) div ns"))
      .withColumn("pc", expr("(1000000L * cc) div nc"))
      .withColumn("gap", col("ps") - col("pc"))
    grid.groupBy("source")
      .agg(max("ns").as("n_feats"),
        sum(abs(col("gap"))).as("l1_micro"),
        max(struct(abs(col("gap")).as("a"), (-col("b")).as("nb"),
          col("gap").as("g"))).as("top"))
      .select(col("source"), col("n_feats"), col("l1_micro"),
        (-col("top.nb")).as("top_bucket"), col("top.g").as("top_gap_micro"))
  }

  /** qx94 — RETRAIN-TRIGGER drift decision ([[RetrainTrigger]]): split
    * the corpus at doc_id = 3n/5 into the "build" reference (A) and
    * the "admitted batches" (B), and emit per B-source the qx93-family
    * L1 drift against A's mixture PLUS the pinned-rule verdict
    * (`retrain` iff l1_micro > 750000) — the gate rendering of the
    * maintenance loop [[RetrainTrigger.decide]] runs against the live
    * index (whose dense-recall leg the spec pins; recall needs the
    * trained index, which SQL cannot replay cheaply, so the gate row
    * carries the drift leg and the spec carries both). Integer
    * micro-units throughout, basis = ref ∪ source buckets. */
  def qx94(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"), col("text"))
    val cut = 3L * docs.count() / 5L
    RetrainTrigger.driftSplit(docs, col("doc_id") < cut)
      .withColumn("decision",
        when(col("l1_micro") > RetrainTrigger.L1ThresholdMicro, "retrain")
          .otherwise("keep"))
  }

  /** qx95 — SKEWED-domain policy join under [[SaltedJoin]] (r10
    * verdict #4: put the salting operator on a gate-visible skew
    * path): half the corpus is planted into ONE domain
    * (`megacorp.com`, the SEO-farm regime qx62's cap family exists
    * for), the rest into the qx62 long tail; each doc joins a
    * per-domain quota policy (Horner domain hash → quota 2–8) and the
    * per-domain accounting (docs, quota, admitted = min(n, quota),
    * quota-weighted hash signature) comes out of the join. The join
    * runs through [[SaltedJoin.inner]] with 8 salts: the hot domain's
    * rows spread over 8 (domain, salt) reducer groups instead of
    * funnelling one task (the exchange shape PlanShapeSpec pins with
    * broadcast disabled — at gate scale AQE broadcasts the tiny
    * policy side, which is also the right call; the salt is for the
    * 100 TB regime where the policy table outgrows broadcast), and
    * the sig column makes the oracle verify every doc×quota pairing
    * SURVIVED the salt-and-replicate round trip exactly once. */
  def qx95(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir).select(col("doc_id"))
      .withColumn("domain",
        when(pmod(col("doc_id"), lit(2L)) === 0L, lit("megacorp.com"))
          .otherwise(concat(lit("site"), pmod(col("doc_id"), lit(40L)).cast("string"),
            lit("."),
            element_at(array(lit("com"), lit("org"), lit("net"), lit("io")),
              (pmod(col("doc_id"), lit(4L)) + 1L).cast("int")))))
      .withColumn("h", expr(SAMPLE_HASH))
    val quotas = docs.select("domain").distinct()
      .withColumn("quota", expr(
        "2L + aggregate(split(domain, ''), 0L, (a, c) -> (a*31 + ascii(c)) % 1000003) % 7"))
    SaltedJoin.inner(docs, quotas, "domain", salts = 8,
        saltSource = Some("doc_id")) // row-unique ⇒ the spread is unconditional
      .groupBy("domain")
      .agg(count(lit(1)).as("n_domain"),
        max("quota").as("quota"),
        least(count(lit(1)), max("quota")).as("admitted"),
        sum(expr("(h * quota) % 2147483647")).as("sig"))
  }

  /** qx97 — SAMPLED drift decision ([[RetrainTrigger]] under the
    * round-12 pinned sample rule): the qx94 per-source L1 drift
    * statistic measured twice from ONE corpus — over every document,
    * and over the deterministic doc_id % 2 sample (the
    * [[graft.operators.HybridIndex.healthSamplePred]] discipline
    * applied to the one decision leg SQL can replay) — with both
    * decisions and their agreement in the output, so the economics
    * claim ("a sampled epoch reaches the same verdict at a fraction of
    * the scan") is ORACLE-PINNED, not just spec-asserted. A source
    * with no sampled docs degrades to an explicit `nosample` verdict
    * (left join + sentinels) rather than vanishing. Scale shape: ONE
    * feature-kernel pass ([[RetrainTrigger.driftSplitSampled]] — the
    * sample flag folds into the same ≤ sources×B histogram the full
    * measurement uses, so the agreement costs one corpus scan, not
    * two), then a driver-bounded join of the two derived tables. */
  def qx97(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"), col("text"))
    val cut = 3L * docs.count() / 5L
    val refPred = col("doc_id") < cut
    val thresh = RetrainTrigger.L1ThresholdMicro
    val (fullT, sampT) = RetrainTrigger.driftSplitSampled(docs, refPred,
      pmod(col("doc_id"), lit(2L)) === 0L)
    val full = fullT.select(col("source"), col("n_feats").as("n_full"),
      col("l1_micro").as("l1_full"))
    val samp = sampT.select(col("source"), col("n_feats").as("n_samp"),
      col("l1_micro").as("l1_samp"))
    full.join(samp, Seq("source"), "left")
      .withColumn("dec_full",
        when(col("l1_full") > thresh, "retrain").otherwise("keep"))
      .withColumn("dec_samp",
        when(col("l1_samp").isNull, "nosample")
          .when(col("l1_samp") > thresh, "retrain").otherwise("keep"))
      .withColumn("verdict",
        when(col("dec_samp") === "nosample", "nosample")
          .when(col("dec_samp") === col("dec_full"), "agree")
          .otherwise("diverge"))
      .na.fill(-1L, Seq("n_samp", "l1_samp"))
      .select("source", "n_full", "l1_full", "dec_full",
        "n_samp", "l1_samp", "dec_samp", "verdict")
  }

  /** qx96 — VITERBI subword segmentation ([[ViterbiTokenizer]]): the
    * SentencePiece-style decode next to qx61's greedy BPE apply —
    * per word, the maximum-score piece sequence by DP over a
    * frequency-thresholded substring lexicon (len 2–4, ≥ 3 distinct
    * words), score 100·len² + horner mod 50, tie-break packed into
    * the max itself ((total·8 + L) — higher total, then longer last
    * piece, ONE total order both engines share); per doc the word
    * count, Viterbi token count, score sum and the summed
    * right-to-left segmentation signatures (a wrong boundary in any
    * word's DP breaks the hash). The oracle replays the lexicon, all
    * 8 DP stages and the 8-step backtrack as generated CTEs.
    * Scale shape: lexicon + DP are DISTINCT-WORD-bounded (kernel pass,
    * vocab broadcast); the corpus-sized part is qx61's explode +
    * broadcast join + per-doc aggregate. */
  def qx96(spark: SparkSession, dir: String): DataFrame = {
    val words = Tables.documents(spark, dir)
      .select(explode(expr(WORDS)).as("word")).distinct()
    // Size-gated seg table (round 18): the lexicon job chain + DP
    // kernel replay on the driver below the distinct-word gate
    // (bit-identical — ViterbiLocalSpec pins gated == distributed);
    // the corpus-sized explode + broadcast join + per-doc fold below
    // is unchanged either way.
    val seg = ViterbiTokenizer.segmentsGated(words)
    Tables.documents(spark, dir)
      .select(col("doc_id"), explode(expr(WORDS)).as("word"))
      .join(broadcast(seg), "word")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_words"),
        sum("n_pieces").as("n_vit_tokens"),
        sum("vit_score").as("vit_score"),
        sum("vit_sig").as("vit_sig"))
  }

  def qx90(spark: SparkSession, dir: String): DataFrame = {
    val occ = CdcChunker.chunks(
      Tables.documents(spark, dir).select(col("doc_id"), col("source"), col("text")))
    val perSrc = occ.groupBy("ch1", "ch2", "len", "source")
      .agg(count(lit(1)).as("n_occ"),
        min(struct(col("doc_id"), col("start"))).as("fo"))
      .select(col("ch1"), col("ch2"), col("len"), col("source"), col("n_occ"),
        col("fo.doc_id").as("fd"), col("fo.start").as("fs"))
    val keeper = perSrc.groupBy("ch1", "ch2", "len")
      .agg(min(struct(col("fd"), col("fs"), col("source"))).as("k"))
      .select(col("ch1"), col("ch2"), col("len"), col("k.source").as("ksrc"))
    perSrc.join(keeper, Seq("ch1", "ch2", "len"))
      .withColumn("owned", (col("source") === col("ksrc")).cast("long"))
      .groupBy("source")
      .agg(sum("n_occ").as("n_occ"),
        sum("owned").as("n_owned"),
        sum(col("len") * col("owned")).as("owned_bytes"),
        sum(col("len") * (col("n_occ") - col("owned"))).as("dup_bytes"),
        sum(col("len") * col("n_occ") * (lit(1L) - col("owned"))).as("cross_dup_bytes"),
        sum(((col("ch1") * 1009L + col("len")) % CdcChunker.P) * col("owned"))
          .as("store_sig"))
  }

  /** qx86 — inverted-index build ([[InvertedIndex.buildSegmented]]):
    * per term, df/cf, the delta-gap posting checksum and the LEB128
    * varint byte size of the encoded list — the segment-build
    * accounting behind qx54/qx79's scoring. Since round 10 this runs
    * the SEGMENT-AND-MERGE plan (the Lucene shape): per-(term, 256-doc
    * segment) encode, then a per-term fold over segment summaries, so
    * no task ever materializes a df-length array — a stop-word costs
    * ⌈n/256⌉ tiny structs, not n docids. The DuckDB twin still encodes
    * ONE global list per term, so the hash match proves the boundary
    * gaps and the Horner checksum composition are exact, not just
    * plausible. segDocs=256 forces a multi-segment merge at every SF.
    * 31 output rows (the corpus vocabulary). */
  def qx86(spark: SparkSession, dir: String): DataFrame =
    InvertedIndex.buildSegmented(
      Tables.documents(spark, dir).select(col("doc_id"), col("text")),
      segDocs = 256L)

  /** qx87 — HILBERT layout gate ([[HilbertCurve]]), the locality-
    * optimal companion of qx53/qx78's Morton weave: price×orderkey
    * quantized to the 2¹⁶ grid, the 32-bit Hilbert index per row, and
    * per 2²⁴-wide index bucket the same hyper-rectangle witnesses as
    * qx78 (count, Σ index, min/max per dim) — the min/max file stats a
    * curve-ordered layout exists to shrink. The hot path is the
    * codegen'd `hilbert2` kernel ([[graft.functions.Hilbert2]] —
    * measured 4.2 s → zorder-class as 16 staged CASE projections vs
    * one tight loop); the oracle twin chains 16 GENERATED CTEs from
    * [[HilbertCurve]]'s per-stage builder, and the spec pins kernel ==
    * staged plan == Scala reference. [[HilbertCurveSpec]] also proves
    * the curve property itself (adjacent-d ⇒ unit step) and measures
    * the locality edge over Z-order. */
  def qx87(spark: SparkSession, dir: String): DataFrame = {
    val pts = Tables.lineitem(spark, dir).select(
      pmod(floor(col("l_extendedprice")).cast("long"), lit(65536L)).as("x"),
      pmod(col("l_orderkey"), lit(65536L)).as("y"))
    pts.withColumn("hv", expr("hilbert2(x, y)"))
      .groupBy(shiftright(col("hv"), 24).as("bucket"))
      .agg(count(lit(1)).as("cnt"), sum("hv").as("sum_h"),
        min("x").as("min_x"), max("x").as("max_x"),
        min("y").as("min_y"), max("y").as("max_y"))
  }

  /** qx88 — UNIMAX language-budget allocation ([[UniMax]]): per-lang
    * token counts (ONE map-side-combinable scan — the only
    * corpus-scale work), then the paper's uniform-up-to-epoch-cap
    * waterfill in closed sorted-window form at E = 1 epoch and an 80%
    * token budget. On this corpus en holds ~37% of tokens, so the
    * four low-resource languages cap at one epoch and en absorbs the
    * leftover — both branches of the allocator are live, and the
    * integer split (floor share + remainder to the first uncapped
    * languages) makes Σ alloc = budget EXACT in both engines. */
  def qx88(spark: SparkSession, dir: String): DataFrame = {
    val toks = Tables.documents(spark, dir)
      .select(col("lang"), expr(s"size($WORDS)").cast("long").as("nt"))
      .groupBy("lang").agg(sum("nt").as("avail"))
    UniMax.allocate(toks, epochsCap = 1L, budgetNum = 4L, budgetDen = 5L)
  }

  /** qx89 — mixture-schedule materialization ([[MixSchedule]]): qx88's
    * allocations turned into the actual interleaved training order by
    * stride scheduling, with position computed CLOSED-FORM against the
    * broadcast language table — no global sort anywhere in the
    * schedule (any worker materializes any slice independently, the
    * qx83 property lifted from shuffling to mixing). The audit emits
    * per language the slot count, extremes, Σ pos and min/max
    * inter-token gap — the smoothness guarantee made measurable. The
    * oracle is NOT a replay: it ranks the same deadlines with a window
    * sort, so the gate cross-validates the closed form against the
    * schedule's definition. */
  def qx89(spark: SparkSession, dir: String): DataFrame =
    MixSchedule.audit(MixSchedule.schedule(
      qx88(spark, dir).select(col("lang"), col("alloc"))))

  /** qx98 — MMR-diversified reranking (Carbonell & Goldstein, SIGIR
    * 1998; the standard diversity epilogue in RAG / training-example
    * selection): each query's brute top-[[MmrM]] cosine pool is
    * greedily re-ranked to [[MmrK]] picks by [[MmrRerank]] — maximal
    * marginal relevance mmr = λ·rel − (1−λ)·max_{s∈S} sim(·, s) with
    * λ = 0.7 (empty S ⇒ penalty 0, so step 1 is the plain top-1),
    * tie-break vec_id ASC packed into the struct max.
    *
    * Scale shape: retrieval is the already-optimized qx2 path (one
    * base scan, broadcast queries, map-side [[graft.functions.TopKBy]]
    * pruning before the exchange); everything after is a PER-QUERY
    * EPILOGUE over the bounded pool — pairwise sims are m² = 64 rows
    * per query fetched by two narrow id-joins (no array ever rides
    * the candidate shuffle), and each greedy step is an anti-join +
    * bounded max over ≤ m rows per query, so the whole rerank is
    * O(queries · m²) at ANY corpus size. Determinism: rel and sim are
    * the exact-integer cosines (same IEEE ops both engines), the λ
    * arithmetic is (0.7·rel) − (0.3·pen) in the identical
    * parenthesization, and every argmax carries the shared
    * (score DESC, vec_id ASC) order. */
  private[graft] val MmrM = 8
  private[graft] val MmrK = 4
  def qx98(spark: SparkSession, dir: String): DataFrame = {
    val base = intEmbeddings(spark, dir)
    val q = base.where(col("vec_id") % 50 === 0)
      .select(col("vec_id").as("qid"), col("iv").as("qiv"), col("n2").as("qn2"))
    val scored = base.crossJoin(broadcast(q))
      .where(col("vec_id") =!= col("qid"))
      .withColumn("dot", expr("long_dot(iv, qiv)"))
      .withColumn("cosine", expr(COSINE))
    mmrEpilogue(base, topK(scored, MmrM))
  }

  /** qx98b — qx98's MMR with its pool from the LSH-BUCKETED retrieval
    * instead of the brute scan: qx3's candidate generation (band
    * equi-join, id-only distinct, vectors re-joined for survivors),
    * exact cosine on candidates, top-[[MmrM]] pool, then the identical
    * greedy. The qx79 → qx79b move applied to the rerank family — the
    * brute row stays as the measurable baseline, this row is the
    * production shape (candidates ∝ bucket occupancy, never n·q), and
    * the oracle replays LSH + pool + every greedy step so the indexed
    * pool is hash-pinned end to end too. */
  def qx98b(spark: SparkSession, dir: String): DataFrame = {
    val base = intEmbeddings(spark, dir)
    val sigs = lshSigs(spark, dir)
    val qsigs = sigs.where(col("vec_id") % 50 === 0)
      .select(col("vec_id").as("qid"), col("band").as("qband"), col("sig").as("qsig"))
    val cand = sigs.join(broadcast(qsigs),
        col("band") === col("qband") && col("sig") === col("qsig") &&
          col("vec_id") =!= col("qid"))
      .select("qid", "vec_id").distinct()
    val q = base.where(col("vec_id") % 50 === 0)
      .select(col("vec_id").as("qid"), col("iv").as("qiv"), col("n2").as("qn2"))
    val scored = cand
      .join(base, "vec_id")
      .join(broadcast(q), "qid")
      .withColumn("dot", expr("long_dot(iv, qiv)"))
      .withColumn("cosine", expr(COSINE))
    mmrEpilogue(base, topK(scored, MmrM))
  }

  /** The shared MMR tail behind qx98/qx98b: checkpoint the pool (its
    * lineage is the retrieval — the pairs self-join and each greedy
    * step would re-run it otherwise), build the m² per-query pairwise
    * sims by two narrow id-joins (the qx3/qx12 discipline: no array
    * ever rides the candidate shuffle), greedy-rerank. */
  private def mmrEpilogue(base: DataFrame, pool: DataFrame): DataFrame = {
    val cand = pool.localCheckpoint()
    val va = base.select(col("vec_id").as("va"), col("iv").as("aiv"), col("n2").as("an2"))
    val vb = base.select(col("vec_id").as("vb"), col("iv").as("biv"), col("n2").as("bn2"))
    val pairs = cand.select(col("qid"), col("vec_id").as("va"))
      .join(cand.select(col("qid"), col("vec_id").as("vb")), Seq("qid"))
      .where(col("va") =!= col("vb"))
      .join(va, "va").join(vb, "vb")
      .withColumn("sim", expr(
        "CAST(long_dot(aiv, biv) AS DOUBLE) / (sqrt(CAST(an2 AS DOUBLE)) * sqrt(CAST(bn2 AS DOUBLE)))"))
      .select("qid", "va", "vb", "sim")
    MmrRerank.rerank(cand, pairs, MmrK, lambda = 0.7)
  }

  /** qx99 — OPQ subspace-layout balancing ([[OpqLayout]]): per-dim
    * exact-integer corpus energies (ONE map-side-combinable scan — the
    * only corpus-scale work), the energy ranking, the snake deal into
    * the M = 8 PQ subspaces, and the per-subspace energy totals for
    * both the snake and the natural contiguous layout — the balance
    * improvement made oracle-visible as 64 hash-pinned integers. The
    * downstream effect (permuted PQ reconstruction error ≤ natural on
    * an anisotropic corpus) is spec-pinned in OpqLayoutSpec, since
    * replaying codebook training twice is qx42's oracle's job, not
    * this row's. */
  def qx99(spark: SparkSession, dir: String): DataFrame = {
    val lay = OpqLayout.snakeLayout(
      OpqLayout.dimEnergies(Tables.embeddings(spark, dir)))
    lay
      .withColumn("gnat", expr("CAST(d div 8 AS INT)"))
      .withColumn("grp_energy", sum("energy").over(Window.partitionBy("grp")))
      .withColumn("nat_energy", sum("energy").over(Window.partitionBy("gnat")))
      .select("d", "energy", "rk", "grp", "pos", "gnat", "grp_energy", "nat_energy")
  }

  /** qx100 — facility-location coreset selection ([[CoresetSelect]]):
    * per k-means cell (qx16's trained centroids and L2 assignment), cap
    * to the [[CoresetC]] centroid-closest candidates, then greedily pick
    * [[CoresetR]] representatives maximizing Σ_j max_{s∈S} sim(j, s) —
    * the data-pruning selector that keeps the most mutually-covering
    * exemplars per semantic cell, the selection complement to qx50's
    * SemDeDup (which DROPS near-dups; this KEEPS the best coverage).
    *
    * Scale shape: assignment is one broadcast-codebook scan (narrow
    * triples, vectors never shuffle), the cap is the map-side-bounded
    * topk_by aggregate, and the greedy is O(cells · C²) integer rows
    * per step over localCheckpoint'd inputs — the corpus-sized work is
    * one scan regardless of R. Determinism: sims ride as exact
    * micro-Longs (cross-row Σ is order-free — a double sum could never
    * hash-match), self-sim exactly 10⁹, ties (gain DESC, vec_id ASC).
    * The oracle replays the full composition: KMEANS_ASSIGN, the sc-cap,
    * the pairwise micro-sims and all three greedy steps as generated
    * CTEs. */
  private[graft] val CoresetC = 6
  private[graft] val CoresetR = 3
  /** The qx16-trained k-means assignment with its L2 surrogate —
    * (vec_id, cid, sc) — shared by qx100's coreset cap and qx113's
    * cell-built graph. */
  private[graft] def kmeansAsg(spark: SparkSession, dir: String): DataFrame = {
    val base = intEmbeddings(spark, dir)
    val k = IvfAnn.kmeansCentroidsFor(Tables.embeddings(spark, dir).count())
    val cents = IvfAnn.trainedCentroids(base, IvfAnn.centroids(spark, k), iters = 2)
      .withColumn("cn2", expr("long_dot(cv, cv)"))
    base.select("vec_id", "iv").crossJoin(broadcast(cents))
      .select(col("vec_id"), col("cid"),
        (lit(2L) * expr("long_dot(iv, cv)") - col("cn2")).as("sc"))
      .groupBy("vec_id")
      .agg(max(struct(col("sc"), (-col("cid")).as("negcid"))).as("b"))
      .select(col("vec_id"), (-col("b.negcid")).as("cid"), col("b.sc").as("sc"))
  }

  def qx100(spark: SparkSession, dir: String): DataFrame = {
    val base = intEmbeddings(spark, dir)
    val asg = kmeansAsg(spark, dir)
    // Per-cell cap: centroid-closest C by the SAME L2 surrogate the
    // assignment ranked with (sc ≤ ~5e13: exact in DOUBLE, so topk_by's
    // order is the integer order). Checkpoint before fan-out — pairs and
    // every greedy step re-reference this, and its lineage holds the
    // corpus scan.
    val cand = asg.groupBy("cid")
      .agg(expr(s"topk_by(CAST(sc AS DOUBLE), vec_id, $CoresetC)").as("tk"))
      .select(col("cid"), explode(col("tk")).as("t"))
      .select(col("cid"), col("t.id").as("vec_id"))
      .join(base, "vec_id")
      .select("cid", "vec_id", "iv", "n2")
      .localCheckpoint()
    val a = cand.select(col("cid"), col("vec_id").as("i"),
      col("iv").as("aiv"), col("n2").as("an2"))
    val b = cand.select(col("cid"), col("vec_id").as("j"),
      col("iv").as("biv"), col("n2").as("bn2"))
    val pairs = a.join(b, Seq("cid"))
      .where(col("i") =!= col("j"))
      .withColumn("cosine", expr(
        "CAST(long_dot(aiv, biv) AS DOUBLE) / (sqrt(CAST(an2 AS DOUBLE)) * sqrt(CAST(bn2 AS DOUBLE)))"))
      .withColumn("simw", expr(
        "CAST(floor((1.0D + cosine) / 2.0D * 1000000000.0D + 0.5D) AS BIGINT)"))
      .select("cid", "i", "j", "simw")
      .unionByName(cand.select(col("cid"), col("vec_id").as("i"),
        col("vec_id").as("j"), lit(1000000000L).as("simw")))
    CoresetSelect.greedy(cand.select("cid", "vec_id"), pairs, CoresetR)
  }

  /** qx101 — LATE-INTERACTION retrieval (ColBERT MaxSim, Khattab &
    * Zaharia SIGIR 2020): each 64-dim vector is read as 4 contiguous
    * 16-dim "token" sub-vectors (the stand-in this corpus affords for
    * per-token embeddings — the plumbing, scoring kernel and plan shape
    * are exactly the multi-vector ones), and a pair's score is
    * Σ_i max_j cos(q_i, d_j) — finer-grained than single-vector cosine
    * because each query token independently picks its best document
    * token. Scored by the fused [[graft.functions.MaxSim]] codegen
    * kernel: zero per-pair allocations vs the 2·t² slices the
    * declarative spelling would copy (MaxSimSpec pins bit-equality).
    *
    * This is the brute correctness baseline, the qx2 shape: query side
    * broadcast, the base table streamed through executors unshuffled —
    * one corpus scan, map-side-bounded topk_by, no n·q exchange. The
    * production path is qx101b (candidates from the LSH index, MaxSim
    * as the rerank epilogue — the qx79/qx79b split). */
  def qx101(spark: SparkSession, dir: String): DataFrame = {
    val base = intEmbeddings(spark, dir)
    val q = base.where(col("vec_id") % 50 === 0)
      .select(col("vec_id").as("qid"), col("iv").as("qiv"))
    val scored = base.crossJoin(broadcast(q))
      .where(col("vec_id") =!= col("qid"))
      .withColumn("maxsim", expr("max_sim(qiv, iv, 4)"))
    scored.groupBy("qid").agg(expr("topk_by(maxsim, vec_id, 5)").as("tk"))
      .select(col("qid"), posexplode(col("tk")).as(Seq("p", "t")))
      .select(col("qid"), (col("p") + 1).as("rk"),
        col("t.id").as("vec_id"), col("t.score").as("maxsim"))
  }

  /** qx102 — COMMUNITY DETECTION by synchronous label propagation
    * ([[LabelPropagation]], Raghavan et al. 2007) over the embedding
    * LSH candidate graph (qx12's banded collisions — the semantic
    * neighbor graph the dedup pass already mines): four deterministic
    * rounds of mode-label voting with self-inclusion and (count DESC,
    * label ASC) ties, then each node tagged with its community and the
    * community's size. The clustering complement to qx20's connected
    * components — a bridge edge merges CC clusters but LOSES the LPA
    * vote against either side's internal density, which is what
    * cluster-aware mixing and per-community caps actually want.
    *
    * Scale shape: candidate edges are the bucketed (band, sig)
    * equi-join (~linear in corpus, never all-pairs); each round is two
    * edge-sized shuffles with map-side partial counts; lineage cut per
    * round. The oracle replays all four rounds as generated CTEs. */
  def qx102(spark: SparkSession, dir: String): DataFrame = {
    val (labels, _) = lpaSystem(spark, dir)
    val cs = labels.groupBy("label").agg(count(lit(1)).as("csize"))
    labels.join(cs, "label")
      .select(col("u").as("vec_id"), col("label").as("community"), col("csize"))
  }

  /** The qx102 community system — (labels, edges) — shared with qx105's
    * modularity audit so both rows run one LPA spelling. */
  private def lpaSystem(spark: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val nodes = Tables.embeddings(spark, dir).select(col("vec_id").as("u"))
    // Checkpoint the candidate edge list (round 17): LPA consumes it
    // through its own internal cache, but qx105's modularity tail
    // referenced the raw lineage TWICE more (the label-tagged join and
    // the scalar m), re-running the full LSH candidate join — sigs,
    // self-join, distinct — per reference. One pinned edge frame feeds
    // all three consumers; contents unchanged.
    val edges = EmbeddingLsh.candidatePairs(lshSigs(spark, dir))
      .select(col("vec_a").as("u"), col("vec_b").as("v"))
      .localCheckpoint()
    (LabelPropagation.run(nodes, edges, iters = 4), edges)
  }

  /** qx105 — MODULARITY audit of the qx102 communities (Newman &
    * Girvan 2004): per community, the intra-edge count e_c, degree mass
    * d_c and node count, plus the community's modularity contribution
    * q_c = e_c/m − (d_c/2m)² rendered in EXACT integer surrogates —
    * coverage cov_micro = ⌊10⁶·e_c div m⌋ and the degree fraction
    * truncated to milli BEFORE squaring (deg_milli = ⌊10³·d_c div 2m⌋,
    * q_micro = cov_micro − deg_milli²), so every magnitude stays far
    * inside a Long at ANY edge count (squaring d_c itself would
    * overflow past ~1.5M edges; the milli-first spelling is the same
    * trade qx91's surprisal surrogate makes, divergence documented).
    * This is the audit that says whether the LPA cut is REAL structure:
    * Q near 0 ⇒ the partition is no better than random wiring.
    *
    * Scale shape: two label joins over the edge list (hash joins on
    * node id), one groupBy community with map-side partial aggregates,
    * the scalar m cross-joined in (the PageRank dangling-mass shape).
    * The oracle replays the full LPA chain plus the modularity tail. */
  def qx105(spark: SparkSession, dir: String): DataFrame = {
    val (labels, edges) = lpaSystem(spark, dir)
    LabelPropagation.modularity(labels, edges)
  }

  /** qx103 — CLASSIFIER DISTILLATION by in-plan logistic GD
    * ([[LogisticGD]]): qx84's Gopher rule composite plays the expensive
    * labeler; five full-batch GD rounds distill it into a 5-weight
    * linear scorer over cheap per-doc stats (bias, capped word count,
    * mean word length, stopword ratio, distinct-word ratio — all
    * milli-scaled Longs), which is then served back over the corpus:
    * per-source doc/keep/label-agreement counts plus the learned
    * micro-weights, every bit oracle-replayed (the rational fast-sigmoid
    * link and milli-quantized residuals exist exactly so the five
    * gradient sums are order-free exact Longs — see the operator
    * scaladoc). CCNet/fastText's curation pattern: label once with the
    * slow rules, serve the distilled scorer at ingest.
    *
    * Scale shape: each round is one scan of the cached milli-feature
    * table (5 Longs/row) ending in a 5-long tree-aggregate; weights
    * ride back as plan literals. Nothing driver-side grows with the
    * corpus, and the exact-Long gradients survive to ~4·10¹² rows. */
  /** qx103's milli-feature table (doc_id, source, y, x0..x4) — shared
    * with [[graft.streaming.LogisticServeStream]]'s spec so the online
    * scorer is pinned against the exact batch features. */
  private[graft] def logisticFeatures(spark: SparkSession, dir: String): DataFrame =
    GopherRules.withRuleColumns(Tables.documents(spark, dir))
      .where(col("n_words") > 0L)
      .withColumn("ndist", expr(
        "CAST(size(array_distinct(filter(split(text, ' '), w -> length(w) > 0))) AS BIGINT)"))
      .select(col("doc_id"), col("source"), col("pass").as("y"),
        lit(1000L).as("x0"),
        (least(col("n_words"), lit(400L)) * 5L).as("x1"),
        expr("(sum_wc * 125) div n_words").as("x2"),
        expr("(n_stop * 1000) div n_words").as("x3"),
        expr("(ndist * 1000) div n_words").as("x4"))

  def qx103(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // Pin the milli-feature frame (round 18, guide §5 "persist exactly
    // the reused thing"): the Gopher-rule + ndist string work is the
    // corpus-sized cost here, and BOTH consumers — the train gate's
    // bounded probe and the serving pass — replayed it from parquet.
    // One eager materialization feeds both; rows unchanged. The scan
    // pruning this row used to pin lives on the feature frame itself
    // now (PlanShapeSpec builds logisticFeatures directly).
    val feat = logisticFeatures(spark, dir).localCheckpoint()
    val w = LogisticGD.train(feat, dims = 5, iters = 5, etaDen = 2L)
    val scored = LogisticGD.withScore(feat, w)
      .withColumn("score_milli", expr("CAST(floor(p * 1000.0D + 0.5D) AS BIGINT)"))
      .withColumn("keep", (col("score_milli") >= 500L).cast("long"))
    val bySource = scored.groupBy(col("source").as("grp"))
      .agg(count(lit(1)).as("n_docs"), sum("keep").as("n_keep"),
        sum(when(col("keep") === col("y"), 1L).otherwise(0L)).as("n_agree"),
        sum("score_milli").as("v"))
    val wRows = w.zipWithIndex.toSeq
      .map { case (wj, j) => (s"w$j", 0L, 0L, 0L, wj) }
      .toDF("grp", "n_docs", "n_keep", "n_agree", "v")
    bySource.unionByName(wRows)
  }

  /** qx104 — HARD-EM refinement of the Viterbi piece scores
    * ([[ViterbiTokenizer.emRefine]]): the SentencePiece EM loop
    * (Kudo 2018) closed over qx96's seed system — segment the corpus
    * under the seed scores (hard E-step: Viterbi assignments, weighted
    * by corpus word frequency), re-score every piece by its
    * Laplace-smoothed usage probability in integer micro-units (M-step;
    * the log-likelihood divergence is documented on the operator), and
    * re-segment. The gate output is per-doc BOTH segmentations — token
    * counts, score totals and the right-to-left Horner signatures — so
    * the hash pins the seed DP, the counted statistic, the refined
    * score table and the refined DP at once. The whole system is
    * integer-exact end to end (the only qx row with literally no
    * doubles anywhere).
    *
    * Scale shape: both DPs and the E-step statistic are
    * DISTINCT-WORD-bounded kernel passes with the score map broadcast;
    * the corpus-sized work is the frequency weighting and the final
    * explode + broadcast join + per-doc fold (the qx61/qx96 class); the
    * M-step collect is vocab-bounded (the codebook discipline). The
    * oracle replays seed DP → usage extraction from the backtrack →
    * counts → smoothed re-score → refined DP as one generated CTE
    * chain. */
  def qx104(spark: SparkSession, dir: String): DataFrame = {
    val docsW = Tables.documents(spark, dir)
      .select(col("doc_id"), explode(expr(WORDS)).as("word"))
    val wordFreq = docsW.groupBy("word").agg(count(lit(1)).as("freq"))
    // Size-gated EM system (round 18): vocab + alphabet + seed scores +
    // hard E/M-step + both DPs replay on the driver from ONE bounded
    // collect of the vocabulary-shaped word-frequency table
    // (bit-identical — ViterbiLocalSpec pins every stage); past the
    // gate the original collect-vocab + kernel-job spelling runs
    // unchanged. The corpus-sized explode + broadcast joins + per-doc
    // fold below are identical either way.
    val (seg0t, seg1t) = ViterbiTokenizer.emSegTables(wordFreq)
    def seg(t: DataFrame, sfx: String) = t
      .select(col("word"), col("n_pieces").as(s"np$sfx"),
        col("vit_score").as(s"score$sfx"), col("vit_sig").as(s"sig$sfx"))
    docsW
      .join(broadcast(seg(seg0t, "0")), "word")
      .join(broadcast(seg(seg1t, "1")), "word")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_words"),
        sum("np0").as("n_tok_seed"), sum("np1").as("n_tok_em"),
        sum("score0").as("seed_score"), sum("score1").as("em_score"),
        sum("sig0").as("seed_sig"), sum("sig1").as("em_sig"))
  }

  /** qx109 — GRAPH-BASED ANN ([[GraphAnn]]): the fourth index family
    * next to flat-IVF (qx13/16), IMI (qx15) and PQ (qx42-44) — a k-NN
    * graph built from the banded LSH candidates (bucketed equi-join,
    * never all-pairs) searched by deterministic beam expansion from the
    * min-id entry point (NSW/HNSW layer-0 with fixed rounds and a
    * single entry; divergences documented on the operator). Beam 4,
    * 3 rounds, K = 4 out-edges. Recall against brute qx2 is measured
    * in GraphAnnSpec; the gate pins the full build + every search
    * round bit-for-bit via the oracle's CTE replay. */
  def qx109(spark: SparkSession, dir: String): DataFrame = {
    val base = intEmbeddings(spark, dir)
    val sigs = lshSigs(spark, dir)
    val graph = GraphAnn.knnGraph(base,
      EmbeddingLsh.candidatePairs(sigs), k = 4)
    val qs = base.where(col("vec_id") % 50 === 0)
      .select(col("vec_id").as("qid"), col("iv").as("qiv"), col("n2").as("qn2"))
    // qx3's per-query LSH candidates seed the beam (the production
    // shape: graph refinement OVER the bucketed first stage).
    val qsigs = sigs.where(col("vec_id") % 50 === 0)
      .select(col("vec_id").as("qid"), col("band").as("qband"), col("sig").as("qsig"))
    val seeds = sigs.join(broadcast(qsigs),
        col("band") === col("qband") && col("sig") === col("qsig") &&
          col("vec_id") =!= col("qid"))
      .select("qid", "vec_id").distinct()
    GraphAnn.searchEntryMin(graph, base, qs, seeds, beam = 4, rounds = 3)
  }

  /** qx111 — per-source DATA CARD (Gebru et al. 2021's datasheets /
    * Pushkarna et al.'s data cards, rendered as the one-pass corpus
    * audit a release ships with): for every source, volume (docs,
    * whitespace tokens, chars), quality (qx84 Gopher pass count),
    * redundancy (docs whose EXACT text recurs anywhere in the corpus —
    * cross-source, so a source copying another pays), language spread
    * (distinct langs, majority language with (count DESC, lang ASC)
    * ties) — every statistic an exact integer, assembled from the
    * repo's existing per-family spellings so the card cannot drift
    * from the audits it summarizes.
    *
    * Scale shape: ONE documents scan computes the per-doc stats
    * (map-side), one text-hash groupBy finds recurrences, and
    * everything else folds per (source) / (source, lang) — bounded by
    * sources×langs. The card is the artifact a 100 TB release attaches
    * per shard and sums. */
  def qx111(spark: SparkSession, dir: String): DataFrame = {
    val ruled = GopherRules.withRuleColumns(Tables.documents(spark, dir))
    val docs = ruled.select(col("doc_id"), col("source"), col("lang"),
      col("n_chars"), col("n_words"), col("pass"),
      // full-text Horner hash (the qx10 fingerprint family)
      expr("""aggregate(split(text, ''), CAST(0 AS BIGINT),
             |         (a, c) -> (a * 31 + ascii(c)) % 1000003)""".stripMargin).as("th"))
    val dupHashes = docs.groupBy("th").agg(count(lit(1)).as("n"))
      .where(col("n") >= 2L).select("th")
    val flagged = docs.join(broadcast(dupHashes), Seq("th"), "left_semi")
      .groupBy("source").agg(count(lit(1)).as("n_dup"))
    val langs = docs.groupBy("source", "lang").agg(count(lit(1)).as("cnt"))
    val major = langs
      .withColumn("rk", row_number().over(
        Window.partitionBy("source").orderBy(col("cnt").desc, col("lang").asc)))
      .where(col("rk") === 1)
      .select(col("source"), col("lang").as("major_lang"), col("cnt").as("major_cnt"))
    val nLangs = langs.groupBy("source").agg(count(lit(1)).as("n_langs"))
    docs.groupBy("source")
      .agg(count(lit(1)).as("n_docs"), sum("n_words").as("n_tokens"),
        sum("n_chars").as("sum_chars"), sum("pass").as("n_pass"))
      .join(flagged, Seq("source"), "left")
      .join(nLangs, Seq("source"))
      .join(major, Seq("source"))
      .select(col("source"), col("n_docs"), col("n_tokens"), col("sum_chars"),
        col("n_pass"), coalesce(col("n_dup"), lit(0L)).as("n_dup"),
        col("n_langs"), col("major_lang"), col("major_cnt"))
  }

  /** qx113 — CELL-BUILT k-NN graph ([[GraphAnn.knnGraphFromCells]]):
    * the construction that survives CLUSTERED corpora, where the LSH
    * candidate generator goes quadratic (GraphProbe's planted-corpus
    * finding). ALL same-cell pairs under the qx16-trained assignment
    * (the qx50 SemDeDup candidate shape — full coverage, work bounded
    * through the assignment granularity), per-node top-4 by exact
    * cosine; output the qx110 degree + order-free edge-signature
    * fold. */
  def qx113(spark: SparkSession, dir: String): DataFrame = {
    val P = 2147483647L
    val g = GraphAnn.knnGraphFromCells(intEmbeddings(spark, dir),
      kmeansAsg(spark, dir), k = 4)
    g.groupBy("u").agg(count(lit(1)).as("deg"),
      sum(pmod(col("u") * 1009L + col("v"), lit(P))).as("esig"))
  }

  /** qx110 — INCREMENTAL k-NN-graph admission ([[GraphAnn.admit]]):
    * the graph asset maintained like the index — a ~14% delta
    * (vec_id % 7 == 3) is admitted into the base-only graph by
    * recomputing ONLY bucket-touched nodes, and the gate hash IS the
    * rebuild-equivalence proof: the oracle replays a FULL rebuild over
    * the union (same pinned plane schedule — the capacity-planning
    * precondition), so incremental == rebuild must hold bit-for-bit in
    * every degree and edge signature. Output per node: out-degree and
    * the order-free edge-set signature Σ (u·1009 + v) mod P.
    * Scale shape: the delta's buckets broadcast; recomputation touches
    * collision-affected nodes only — at a steady ingest rate that is
    * the delta's neighborhood, not the corpus. */
  def qx110(spark: SparkSession, dir: String): DataFrame = {
    val P = 2147483647L
    val base = intEmbeddings(spark, dir)
    val sigs = lshSigs(spark, dir) // planes pinned from the UNION count
    val deltaIds = base.where(pmod(col("vec_id"), lit(7L)) === 3L)
      .select(col("vec_id").as("id"))
    val baseOnly = base.where(pmod(col("vec_id"), lit(7L)) =!= 3L)
    val baseSigs = sigs.join(deltaIds.withColumnRenamed("id", "vec_id"),
      Seq("vec_id"), "left_anti")
    val oldGraph = GraphAnn.knnGraph(baseOnly,
      EmbeddingLsh.candidatePairs(baseSigs), k = 4)
    val g = GraphAnn.admit(base, sigs, oldGraph, deltaIds, k = 4)
    g.groupBy("u").agg(count(lit(1)).as("deg"),
      sum(pmod(col("u") * 1009L + col("v"), lit(P))).as("esig"))
  }

  /** qx126 — the CELLS-GENERATOR graph family, oracle-pinned end to
    * end (round 16, r15 verdict #1: the occupancy-robust maintenance
    * path [[GraphIndex]] recommends — and now defaults to — past its
    * knee sat outside the hard correctness signal): data-sampled
    * deterministic seeds ([[IvfAnn.sampledImiSeeds]] — the id-scramble
    * TakeOrdered is plain ORDER BY/LIMIT in SQL), two Lloyd iterations
    * per 32-dim half ([[IvfAnn.trainedImiCodebooksFrom]]), the pinned
    * per-cell sub-bucket split factors ([[GraphAnn.cellSplits]]), the
    * sub-bucketed cell signatures, the same-sig k-NN graph, and the
    * 2×2-probed-cell-seeded beam serve ([[GraphAnn.inlineServeCells]]
    * — the spelling GraphIndexSpec pins the maintained asset
    * bit-equal to; the probe budget is pinned EXPLICITLY at 2 per
    * half here, the qx124 budget-row discipline, because the door's
    * own default budget is corpus-size-aware since round 17 —
    * [[GraphAnn.serveProbesFor]] — and this row exists to replay the
    * 2-probe machinery, graph and beam included, not the full-probe
    * degenerate case). The DuckDB twin replays every stage: seed pick,
    * both Lloyd steps (the qx16/qx44 subspace machinery), splits,
    * sub-bucket hash, graph top-4, probe ranking, sub-bucket
    * expansion, and all three beam rounds CTE for CTE.
    * Scale shape: training is iters·n·2K half-dots; signatures are one
    * kernel pass; the candidate join is bucket-bounded BY CONSTRUCTION
    * (the split factors cap occupancy at ~2·64 whatever the coarse
    * quantizer collapsed); the serve is beam·K fetches per query per
    * round — the shape the 200k door probe measured at default heap
    * where the LSH family needed 48 GiB. */
  def qx126(spark: SparkSession, dir: String): DataFrame = {
    val base = intEmbeddings(spark, dir)
    val emb = base.select("vec_id", "iv")
    val k2 = IvfAnn.imiCentroidsFor(base.count())
    val books = IvfAnn.trainedImiCodebooksFrom(emb,
      IvfAnn.sampledImiSeeds(emb, k2), iters = 2)
    val splits = GraphAnn.cellSplits(IvfAnn.imiCellsL2Kernel(emb, books, k2))
    val qs = base.where(col("vec_id") % 50 === 0)
      .select(col("vec_id").as("qid"), col("iv").as("qiv"), col("n2").as("qn2"))
    GraphAnn.inlineServeCells(base, books, k2, splits, qs,
      k = 4, beam = 4, rounds = 3, probes = IvfAnn.ImiProbesPerLevel)
  }

  /** qx107 — PPMI CO-OCCURRENCE statistics (Church & Hanks 1990; the
    * count table GloVe/word2vec-style embedding training and
    * collocation mining start from): symmetric ±2-window word
    * co-occurrence counts, marginals, and the pointwise-mutual-
    * information RATIO in integer micro-units —
    * ratio_micro = ⌊10⁶·c(w,c)·T div (c(w)·c(c))⌋, the repo's standard
    * log-surrogate (PMI > 0 ⇔ ratio > 10⁶; monotone in PMI, so ranks
    * are PMI ranks) — cut to each word's top-5 contexts by
    * (ratio DESC, context ASC).
    *
    * Scale shape: pair generation is SHUFFLE-FREE (an array transform
    * inside the scan — no positional self-join), one map-side-
    * combinable groupBy on (w, c); everything after is
    * VOCABULARY-bounded (≤ |V|² rows), which is why the per-word
    * Window rank is fine here where corpus-row Windows are banned.
    * Overflow bound: 10⁶·c(w,c)·T needs c·T < 9.2·10¹² — at corpus
    * scale compute the table per shard or on the qx21-sampled slice
    * (documented; the statistic is vocabulary-shaped, not
    * corpus-shaped). */
  def qx107(spark: SparkSession, dir: String): DataFrame = {
    val pairs = Tables.documents(spark, dir)
      .select(expr(s"$WORDS").as("ws"))
      .select(explode(expr(
        """flatten(transform(sequence(0, size(ws) - 1), i ->
          |  filter(transform(array(1, 2), d ->
          |    IF(i + d < size(ws), struct(ws[i] AS w, ws[i + d] AS c), NULL)),
          |    x -> x IS NOT NULL)))""".stripMargin)).as("p"))
      .select(col("p.w").as("w"), col("p.c").as("c"))
    val sym = pairs.unionByName(pairs.select(col("c").as("w"), col("w").as("c")))
    val cc = sym.groupBy("w", "c").agg(count(lit(1)).as("cnt"))
    val mw = cc.groupBy("w").agg(sum("cnt").as("cw"))
    val tot = cc.agg(sum("cnt").as("t"))
    val scored = cc
      .join(mw, "w")
      .join(mw.select(col("w").as("c"), col("cw").as("ccw")), "c")
      .crossJoin(tot)
      .withColumn("ratio_micro", expr("(1000000 * cnt * t) div (cw * ccw)"))
    scored
      .withColumn("rk", row_number().over(
        Window.partitionBy("w").orderBy(col("ratio_micro").desc, col("c").asc)))
      .where(col("rk") <= 5)
      .select(col("w"), col("rk").cast("long").as("rk"), col("c").as("ctx"),
        col("cnt"), col("ratio_micro"))
  }

  /** qx114 — CALIBRATION AUDIT (reliability table) of the qx103
    * distilled scorer: milli scores binned at centi-granularity
    * (div 10 — the scores concentrate near 0.5 under the compressive
    * fast-sigmoid link, so decile bins would collapse to two rows),
    * per bin the
    * count, positive-label count, score mass and the integer
    * calibration gap |⌊10³·n₊/n⌋ − ⌊Σscore/n⌋| — the diagram that says
    * whether the scorer's probabilities MEAN anything before anyone
    * thresholds them (Guo et al. 2017's reliability analysis, rendered
    * exact-integer). Shares the training chain with qx103 (one GD
    * spelling in engine and oracle — the rows cannot drift). Scale
    * shape: one scan of the cached features under the final weights +
    * a 10-bin map-side-combinable fold. */
  def qx114(spark: SparkSession, dir: String): DataFrame = {
    // One feature materialization for train + serve (qx103's note).
    val feat = logisticFeatures(spark, dir).localCheckpoint()
    val w = LogisticGD.train(feat, dims = 5, iters = 5, etaDen = 2L)
    LogisticGD.withScore(feat, w)
      .withColumn("score_milli", expr("CAST(floor(p * 1000.0D + 0.5D) AS BIGINT)"))
      .withColumn("bin", expr("score_milli div 10"))
      .groupBy("bin")
      .agg(count(lit(1)).as("n"), sum("y").as("n_pos"),
        sum("score_milli").as("sum_score"))
      .withColumn("gap_milli", expr("abs((1000 * n_pos) div n - sum_score div n)"))
  }

  /** qx101b — qx101's MaxSim with its candidates from the banded LSH
    * index (qx3's candidate generation verbatim): first-stage retrieval
    * narrows the corpus to vectors sharing any band signature with the
    * query, then the MaxSim kernel reranks ONLY the survivors — the
    * production late-interaction shape (ColBERT itself serves this way:
    * ANN over single vectors, MaxSim over the shortlist). Recall is
    * approximate by design; the oracle replays the identical
    * plane/bucket math so the gate still hash-matches. At 100 TB the
    * candidate join is the equi-join on (band, sig) and the expensive
    * t² kernel touches candidate-count rows, never the corpus. */
  def qx101b(spark: SparkSession, dir: String): DataFrame = {
    val base = intEmbeddings(spark, dir)
    val sigs = lshSigs(spark, dir)
    val qsigs = sigs.where(col("vec_id") % 50 === 0)
      .select(col("vec_id").as("qid"), col("band").as("qband"), col("sig").as("qsig"))
    val cand = sigs.join(broadcast(qsigs),
        col("band") === col("qband") && col("sig") === col("qsig") &&
          col("vec_id") =!= col("qid"))
      .select("qid", "vec_id").distinct()
    val q = base.where(col("vec_id") % 50 === 0)
      .select(col("vec_id").as("qid"), col("iv").as("qiv"))
    val scored = cand
      .join(base, "vec_id")
      .join(broadcast(q), "qid")
      .withColumn("maxsim", expr("max_sim(qiv, iv, 4)"))
    scored.groupBy("qid").agg(expr("topk_by(maxsim, vec_id, 5)").as("tk"))
      .select(col("qid"), posexplode(col("tk")).as(Seq("p", "t")))
      .select(col("qid"), (col("p") + 1).as("rk"),
        col("t.id").as("vec_id"), col("t.score").as("maxsim"))
  }
}
