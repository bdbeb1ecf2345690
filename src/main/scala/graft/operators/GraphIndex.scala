package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** PERSISTED kNN-graph + communities asset, maintained NEXT TO a
  * [[HybridIndex]] by the standing door (round 13, r12 verdict #3 —
  * the qx110/qx102 primitives composed into the live maintenance loop
  * the way the retrain flip runs for codebooks).
  *
  * Layout under `graphDir`:
  *   - `meta.parquet` — one row (planes, k, lpa_iters, generator,
  *     cellk): the PINNED signature schedule (qx110's capacity-
  *     planning precondition — derived from the EXPECTED final corpus
  *     size at init, never the running size; under it admit == rebuild
  *     bit-for-bit) plus the graph degree, the community-refresh round
  *     count, and (round 15) the candidate GENERATOR — `"lsh"` banded
  *     sign-LSH buckets, or `"cells"` trained IMI product cells whose
  *     codebooks live in `books.parquet` (see [[init]] for when each
  *     scales).
  *   - `sigs/seg=<key>/` — signatures, append-only one segment per
  *     admission (a vector's signature never changes under the pinned
  *     schedule, so the union is always consistent; re-delivery
  *     overwrites its own segment with identical bytes). Cells-mode
  *     rows are (vec_id, band = 0, sig = cell) — ONE row per vector —
  *     so every consumer below is generator-agnostic.
  *   - `v=<N>/graph.parquet` + `info.parquet` (seg, committed_ms,
  *     n_base, segs, entry_id) — immutable graph snapshots, committed
  *     stage-then-rename (the HybridIndex manifest discipline): a
  *     crash mid-stage leaves only `_staging_*` garbage; a
  *     re-delivered `b<batchId>` admission finds its seg key in the
  *     latest version's CUMULATIVE `segs` ledger and no-ops instead
  *     of minting a duplicate version. The commit record also carries
  *     the committed corpus size `n_base` (round 14, r13 verdict #3):
  *     the per-batch admit reads ONE info file — no `base.count()`
  *     job, no O(versions) info scan — and because the ledger is
  *     cumulative it survives [[vacuum]], so even a beyond-grace
  *     replay of a retired version's seg key no-ops now (r13's
  *     "benign redundant version" edge is gone). The ledger is stored
  *     COMPACTED (round 15, r14 advice — see [[ledgerAdd]]): a
  *     standing door's gap-free `b<batchId>` run is ONE range token,
  *     so commit-record size is O(gaps), not O(admissions).
  *   - `labels_v=<N>/labels.parquet` + `info.parquet` — the community
  *     labeling of graph version N, its OWN versioned asset on its
  *     own cadence (see below), same commit protocol, idempotent by
  *     existence.
  *
  * CADENCE — the round-13 probe finding that shaped this split: graph
  * admission is touched-bound (delta sigs map-side, delta buckets
  * broadcast, only collision-affected nodes' top-K recompute — the
  * GraphProbe regime numbers), but a community re-propagation is
  * edge-linear per round REGARDLESS of delta size (the candidate
  * graph at 80k vectors carries ~12M collision edges, and the first
  * composed wave measured 374 s for a 115-vector delta with LPA
  * riding every batch). So [[admit]] maintains ONLY the graph per
  * micro-batch, and [[refreshCommunities]] runs on the door's
  * MAINTENANCE cadence (compactEvery — where compact/vacuum already
  * amortize), warm-started from the previous fixpoint so convergence
  * is fast and label churn stays near the admitted deltas. */
object GraphIndex {

  private def fs(spark: SparkSession, dir: String) =
    org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(dir), spark.sparkContext.hadoopConfiguration)

  /** Env-gated step timing (GRAFT_GRAPH_TIMING=1) — the probe's
    * decomposition hook; silent in production. */
  private def timed[A](label: String)(f: => A): A =
    if (sys.env.contains("GRAFT_GRAPH_TIMING")) {
      val t0 = System.nanoTime()
      val a = f
      println(f"[graphindex] $label ${(System.nanoTime() - t0) / 1e9}%.2f s")
      a
    } else f

  /** The cumulative seg ledger is stored COMPACTED (r14 advice: a
    * standing door admits one seg per micro-batch, so an uncompacted
    * ledger rewrites an O(admissions) list into every commit record
    * and the per-admit info read grows without bound): maximal runs
    * of numeric door keys `b<i>` fold into one `b<i>-b<j>` token, so
    * a gap-free soak carries ONE token regardless of length, and the
    * ledger is O(gaps + non-door keys). Non-numeric keys ("init",
    * test keys) ride as literal tokens. PRECONDITION on the key
    * space: a literal seg key must not itself look like a range
    * token (`b<digits>-b<digits>`) — the door mints only
    * `b<batchId>` keys, so this never binds in practice. */
  private val DoorKey = "^b(\\d+)$".r
  private val RangeKey = "^b(\\d+)-b(\\d+)$".r

  /** The numeric door id of `seg` — ONLY when the key round-trips
    * canonically (round 16, r15 advice: 'b01' must NOT alias 'b1' —
    * numeric folding would skip its admission as a replay and
    * compaction would rewrite the literal to 'b1', losing the string
    * that names `sigs/seg=b01`). A non-canonical numeric-looking key
    * is handled as a literal everywhere below; the door itself mints
    * only canonical `b<batchId>` keys. Overflow-length digit runs
    * (> 19 digits, e.g. 'b99999999999999999999') also degrade to
    * literals (round 17, r16 advice): an unguarded `toLong` would
    * throw inside ledgerContains/ledgerAdd while the TRY_CAST in
    * [[committedSegPredicate]] maps the same key to null — the two
    * spellings must agree that such a key is a literal, not crash. */
  private def doorId(seg: String): Option[Long] = seg match {
    case DoorKey(k) =>
      scala.util.Try(k.toLong).toOption.filter(id => s"b$id" == seg)
    case _ => None
  }

  private[graft] def ledgerContains(ledger: Seq[String], seg: String): Boolean =
    doorId(seg) match {
      case Some(id) =>
        ledger.exists { t =>
          t match {
            case RangeKey(lo, hi) => lo.toLong <= id && id <= hi.toLong
            case _                => doorId(t).contains(id)
          }
        }
      case None => ledger.contains(seg)
    }

  /** `ledger` with `seg` folded in — door keys merge into adjacent
    * ranges (never materializing the individual keys a range covers),
    * literals append; output is literals-sorted ++ ranges-by-start. */
  private[graft] def ledgerAdd(ledger: Seq[String], seg: String): Seq[String] = {
    if (ledgerContains(ledger, seg)) return ledger
    def asInterval(t: String): Option[(Long, Long)] = t match {
      case RangeKey(lo, hi) => Some((lo.toLong, hi.toLong))
      case _                => doorId(t).map(id => (id, id))
    }
    val intervals = ledger.flatMap(asInterval(_))
    val literals = ledger.filter(asInterval(_).isEmpty)
    val (allIv, allLit) = asInterval(seg) match {
      case Some(iv) => (intervals :+ iv, literals)
      case None     => (intervals, literals :+ seg)
    }
    val merged = allIv.sortBy(_._1)
      .foldLeft(List.empty[(Long, Long)]) {
        case ((lo, hi) :: tail, (l, h)) if l <= hi + 1 =>
          (lo, math.max(hi, h)) :: tail
        case (acc, iv) => iv :: acc
      }.reverse
    allLit.sorted ++ merged.map { case (l, h) =>
      if (l == h) s"b$l" else s"b$l-b$h"
    }
  }

  /** Filter on the sigs `seg` partition column: ONLY segments the
    * cumulative ledger records as committed (round 16, r15 advice —
    * the nDup anti-fold must not count an id as already-admitted
    * because a CRASHED admit left its sig segment behind: if that
    * wave is later re-delivered under a different seg key, its
    * genuinely new-to-graph ids would read as dups and n_base would
    * undercount until the next rebuild). Range tokens match only
    * CANONICAL door keys (the [[doorId]] round-trip rule, spelled as
    * a no-leading-zeros regex); singles and literals match exactly.
    * The ledger is O(gaps), so the predicate stays a bounded
    * expression the partition-column pruner can evaluate. */
  private[graft] def committedSegPredicate(ledger: Seq[String])
      : org.apache.spark.sql.Column = {
    val canonical = col("seg").rlike("^b(0|[1-9][0-9]*)$")
    // try_cast: under ANSI mode a plain CAST throws on the non-numeric
    // keys ('init' → 'nit') even where the canonical guard is false —
    // Spark's And does not promise per-row short-circuit evaluation
    val segId = expr("TRY_CAST(substring(seg, 2) AS BIGINT)")
    ledger.map {
      case RangeKey(lo, hi) =>
        canonical && segId.between(lo.toLong, hi.toLong)
      case t => col("seg") === lit(t)
    }.foldLeft(lit(false))(_ || _)
  }

  private def versionsOf(spark: SparkSession, graphDir: String,
                         prefix: String = "v="): Seq[Long] = {
    val f = fs(spark, graphDir)
    val p = new org.apache.hadoop.fs.Path(graphDir)
    if (!f.exists(p)) Seq.empty
    else f.listStatus(p).map(_.getPath.getName)
      .filter(_.startsWith(prefix)).map(_.stripPrefix(prefix).toLong).toSeq.sorted
  }

  /** The latest graph version's commit record — ONE small parquet
    * read per admission (r13 verdict #3: the per-batch path must be
    * metadata-cheap): (version, seg, n_base, cumulative seg ledger,
    * entry id). This is info-schema v2 (round 14); an asset whose
    * versions were committed by the r13 two-column schema has no
    * in-place migration — re-[[init]] it (no such asset ships: every
    * graphDir in tests/soaks/probes is built fresh, and the door
    * creates its own at init). */
  private def latestInfo(spark: SparkSession, graphDir: String)
      : (Long, String, Long, Seq[String], Long) = {
    val vs = versionsOf(spark, graphDir)
    require(vs.nonEmpty, s"GraphIndex used before init under $graphDir")
    val df = spark.read.parquet(s"$graphDir/v=${vs.max}/info.parquet")
    // Explicit schema-version check (r14 advice): an asset committed
    // by the r13 two-column info schema would otherwise fail inside
    // getAs with an opaque Spark field error instead of naming the fix.
    val need = Set("seg", "committed_ms", "n_base", "segs", "entry_id")
    require(need.subsetOf(df.schema.fieldNames.toSet),
      s"GraphIndex info under $graphDir/v=${vs.max} is a pre-r14 schema " +
        s"(fields: ${df.schema.fieldNames.mkString(", ")}) — no in-place " +
        "migration exists; re-init the graph asset")
    val r = df.head
    (vs.max, r.getAs[String]("seg"), r.getAs[Long]("n_base"),
      r.getAs[scala.collection.Seq[String]]("segs").toSeq,
      r.getAs[Long]("entry_id"))
  }

  /** Stage-then-rename commit of one immutable version dir holding
    * `<asset>.parquet` + `info.parquet`. `committed_ms` is commit
    * metadata, not query data (the HybridIndex manifest discipline):
    * [[vacuum]]'s supersede-time grace reads it so no retirement
    * decision ever trusts filesystem mtime. `nBase`/`segs` are the
    * committed corpus size and the cumulative seg-key ledger (graph
    * versions; labels versions carry −1/empty — their idempotence is
    * by target-version existence). Losing the rename race is only
    * benign when the survivor is OUR commit re-delivered — the
    * destination's recorded seg is checked and a MISMATCH throws
    * (r13 advice: two writers racing distinct segs to the same
    * version number must fail loudly, not silently drop a delta;
    * nothing enforces single-writer on a graphDir). */
  private[graft] def commitVersion(spark: SparkSession, graphDir: String,
                                   dirName: String, seg: String,
                                   asset: String, df: DataFrame,
                                   nBase: Long = -1L,
                                   segs: Seq[String] = Seq.empty,
                                   entryId: Long = -1L): Unit = {
    import spark.implicits._
    val f = fs(spark, graphDir)
    // staging is WRITER-UNIQUE (round-14 review): with a shared
    // `_staging_<dirName>` path, two writers racing the same version
    // number overwrite each other's staged files and the rename can
    // commit the OTHER writer's (or torn) content under our success
    // path — unique staging makes the rename the only contended step,
    // so the loser reliably reaches the survivor-seg check below.
    // Crash orphans still match vacuum's `_staging_*` sweep prefix.
    val staging =
      s"$graphDir/_staging_${dirName}_${java.util.UUID.randomUUID.toString.take(8)}"
    df.write.mode("overwrite").parquet(s"$staging/$asset.parquet")
    Seq((seg, System.currentTimeMillis(), nBase, segs, entryId))
      .toDF("seg", "committed_ms", "n_base", "segs", "entry_id")
      .write.mode("overwrite").parquet(s"$staging/info.parquet")
    val dst = new org.apache.hadoop.fs.Path(s"$graphDir/$dirName")
    def survivorSeg(): String =
      spark.read.parquet(s"$graphDir/$dirName/info.parquet")
        .head.getAs[String]("seg")
    if (f.exists(dst)) {
      f.delete(new org.apache.hadoop.fs.Path(staging), true)
      val other = survivorSeg()
      if (other != seg)
        throw new java.io.IOException(
          s"GraphIndex commit $dirName: version already committed by seg '$other' " +
            s"(ours: '$seg') — concurrent writers raced distinct deltas to the " +
            "same version number; re-admit at the next version")
    } else if (!f.rename(new org.apache.hadoop.fs.Path(staging), dst)) {
      f.delete(new org.apache.hadoop.fs.Path(staging), true)
      if (!f.exists(dst))
        throw new java.io.IOException(s"GraphIndex commit $dirName lost its rename")
      val other = survivorSeg()
      if (other != seg)
        throw new java.io.IOException(
          s"GraphIndex commit $dirName lost its rename to seg '$other' (ours: '$seg')")
    }
  }

  private def unionSigs(spark: SparkSession, graphDir: String): DataFrame =
    spark.read.parquet(s"$graphDir/sigs").select("vec_id", "band", "sig")

  /** Sign (vec_id, iv) rows under the asset's PINNED signature
    * schedule: LSH band signatures under the init-derived plane count,
    * or (band = 0, sig = product cell) under the cells generator's
    * init-trained codebooks ([[GraphAnn.cellSigs]]). Either way a
    * vector's signature never changes over the asset's life, so the
    * segments stay append-only and admit == rebuild bit-for-bit. */
  private[graft] def signUnder(spark: SparkSession, graphDir: String,
                               vecs: DataFrame): DataFrame = {
    val m = spark.read.parquet(s"$graphDir/meta.parquet").head
    if (m.getAs[String]("generator") == "cells")
      GraphAnn.cellSigs(vecs,
        spark.read.parquet(s"$graphDir/books.parquet"),
        m.getAs[Long]("cellk"),
        spark.read.parquet(s"$graphDir/splits.parquet"))
    else EmbeddingLsh.bandSigs(vecs, m.getAs[Int]("planes"))
  }

  /** Query-side signatures (qid, qband, qsig) for serve seeding under
    * the pinned schedule: the queries' own LSH band signatures, or —
    * cells generator — their 2×2 PROBED product cells
    * ([[IvfAnn.imiProbeCellsL2]], the multi-probe analogue of LSH
    * bucket-mate seeding: the query meets every member of its 4
    * closest cells, the same probe budget the IMI family serves
    * with). */
  private def querySigsUnder(spark: SparkSession, graphDir: String,
                             qs: DataFrame): DataFrame = {
    val m = spark.read.parquet(s"$graphDir/meta.parquet").head
    if (m.getAs[String]("generator") == "cells")
      GraphAnn.cellQuerySigs(qs,
        spark.read.parquet(s"$graphDir/books.parquet"),
        m.getAs[Long]("cellk"),
        spark.read.parquet(s"$graphDir/splits.parquet"))
    else
      EmbeddingLsh.bandSigs(
          qs.select(col("qid").as("vec_id"), col("qiv").as("iv")),
          m.getAs[Int]("planes"))
        .select(col("vec_id").as("qid"), col("band").as("qband"),
          col("sig").as("qsig"))
  }

  /** Build graph v=0 and labels_v=0 over the index's CURRENT committed
    * base. `expectedFinal` pins the signature schedule for the asset's
    * whole life (qx110's precondition — size it for the corpus you
    * plan to serve, the capacity-planning discipline).
    *
    * `generator` picks the candidate generator, PINNED at init —
    * `"auto"` (the default, round 16) resolves via [[generatorFor]]:
    * cells past [[CellsKnee]], lsh below it:
    *  - `"lsh"` (the r13/r14 asset): banded sign-LSH buckets
    *    — training-free, and the spelling the qx109/qx110 gate rows
    *    and the inline comparison twins replay.
    *  - `"cells"` (round 15, r14 verdict #1 — the OCCUPANCY-ROBUST
    *    maintenance path): trained IMI product cells
    *    ([[IvfAnn.trainedImiCodebooks]] at `imiCentroidsFor
    *    (expectedFinal)`, written to `books.parquet` and pinned). A
    *    delta vector touches ONE ~64-member cell instead of 8 bands ×
    *    occupancy ≈ 400 bucket mates, so per-wave admission work and
    *    the LPA candidate graph track the delta/corpus LINEARLY where
    *    the LSH generator's touched set reached 57% of the 200k probe
    *    corpus for a 0.14% drip (and its near-clique candidate graph
    *    needed a 48 GiB heap to refresh). Use cells for any standing
    *    door whose corpus outgrows the drip ≪ n/400 regime. */
  /** Knee past which [[generatorFor]] picks the cells generator: the
    * LSH generator's maintenance cost is occupancy-bound, and the
    * probes located where that breaks — at 80k vectors a 0.14% drip
    * already touched 82% of the corpus (admit 167 s vs the 24 s
    * rebuild), and at 200k the LSH asset cost 2,116 s to init and its
    * community refresh needed a 48 GiB heap, where the cells asset
    * initialized in 36–68 s and refreshed in 20–31 s at the default
    * 8 GiB (GraphProbe door/doorcells, rounds 14–15). 20k sits well
    * below the first measured blowup with margin for skewed corpora;
    * below it even a full per-wave rebuild is sub-second-class. */
  val CellsKnee = 20000L

  /** The generator [[init]]'s `"auto"` default resolves to: `"cells"`
    * for any standing asset sized past [[CellsKnee]] (round 16, r15
    * verdict #1 — the occupancy-robust path is the production
    * recommendation, so it must be the default, not an opt-in flag),
    * `"lsh"` below it (training-free, and the family the qx109/qx110
    * gate rows replay). */
  def generatorFor(expectedFinal: Long): String =
    if (expectedFinal >= CellsKnee) "cells" else "lsh"

  def init(spark: SparkSession, indexDir: String, graphDir: String,
           expectedFinal: Long, k: Int = 4, lpaIters: Int = 4,
           generator: String = "auto"): Unit = {
    import spark.implicits._
    val gen =
      if (generator == "auto") generatorFor(expectedFinal) else generator
    require(gen == "lsh" || gen == "cells",
      s"GraphIndex generator must be 'lsh', 'cells' or 'auto', got '$generator'")
    val base = HybridIndex.committedBase(spark, indexDir)
    val (planes, cellk) =
      if (gen == "cells") {
        val k2 = IvfAnn.imiCentroidsFor(expectedFinal)
        // seeds sampled FROM THE DATA (not the hashed gate family):
        // hashed seeds collapse the product cells on integerized
        // embeddings — see [[IvfAnn.sampledImiSeeds]]; no oracle
        // replays this training, so the asset is free to seed well
        IvfAnn.trainedImiCodebooksFrom(base.select("vec_id", "iv"),
            IvfAnn.sampledImiSeeds(base.select("vec_id", "iv"), k2), iters = 2)
          .write.mode("overwrite").parquet(s"$graphDir/books.parquet")
        // the pinned occupancy cap ([[GraphAnn.cellSplits]]): per-cell
        // split factors from the INIT corpus's assignment, so bucket
        // size is bounded by construction even where k-means cannot
        // balance (the iid-noise probe collapsed 4096 cells to ~300)
        val books = spark.read.parquet(s"$graphDir/books.parquet")
        GraphAnn.cellSplits(
            IvfAnn.imiCellsL2Kernel(base.select("vec_id", "iv"), books, k2))
          .write.mode("overwrite").parquet(s"$graphDir/splits.parquet")
        (-1, k2)
      } else (EmbeddingLsh.planesFor(expectedFinal), -1L)
    Seq((planes, k, lpaIters, gen, cellk))
      .toDF("planes", "k", "lpa_iters", "generator", "cellk")
      .write.mode("overwrite").parquet(s"$graphDir/meta.parquet")
    signUnder(spark, graphDir, base.select("vec_id", "iv"))
      .write.mode("overwrite").parquet(s"$graphDir/sigs/seg=init")
    val sigsP = spark.read.parquet(s"$graphDir/sigs/seg=init")
      .select("vec_id", "band", "sig")
    val pairs = EmbeddingLsh.candidatePairs(sigsP).localCheckpoint()
    val graph = GraphAnn.knnGraph(base, pairs, k).localCheckpoint()
    commitVersion(spark, graphDir, "v=0", "init", "graph", graph,
      nBase = base.count(), segs = Seq("init"),
      entryId = base.agg(min("vec_id")).head.getLong(0))
    // communities vote over the CANDIDATE graph (qx102's edge set —
    // denser than the k-out kNN graph, whose sparsity leaves
    // synchronous LPA oscillating; on collision edges the labeling
    // reaches the fixpoint LabelPropagationSpec pins)
    val labels = LabelPropagation.run(base.select(col("vec_id").as("u")),
      pairs.select(col("vec_a").as("u"), col("vec_b").as("v")), lpaIters)
    commitVersion(spark, graphDir, "labels_v=0", "init", "labels", labels)
  }

  /** Admit one delta (the door's admitted micro-batch, already
    * committed into the index) under segment key `seg` — GRAPH ONLY
    * (see the cadence note above), no-op if the latest version's
    * cumulative seg ledger records `seg` (re-delivered batch). Self-deciding regime: counts the
    * bucket-touched set first and falls back to a clean rebuild past
    * n/4 touched — identical output either way (qx110), so steady
    * drip stays incremental and a bulk wave never pays the hot-bucket
    * candidate blowup (the AdmitProbe finding). */
  def admit(spark: SparkSession, indexDir: String, graphDir: String,
            deltaIds: DataFrame, seg: String): Unit = {
    val (prev, _, nPrev, ledger, entPrev) = latestInfo(spark, graphDir)
    if (ledgerContains(ledger, seg)) return
    val k = spark.read.parquet(s"$graphDir/meta.parquet")
      .head.getAs[Int]("k")
    // base is a lineage-free parquet read — never materialized here;
    // only the (small) delta id set is pinned
    val base = HybridIndex.committedBase(spark, indexDir)
    val dIds = deltaIds.select(col("id")).localCheckpoint()
    val nDelta = dIds.count()
    // an EMPTY trigger admits nothing and commits nothing (the door's
    // addBatch contract; also keeps the entry-id fold below total —
    // min over zero rows is null)
    if (nDelta == 0L) return
    // Replay-robust corpus-size fold (r14 advice): a beyond-grace
    // replay under a NEW seg key re-delivers ids already committed, so
    // folding nPrev + nDelta would inflate n and bias the admit-vs-
    // rebuild knee until the next rebuild's base.count() reset. Count
    // only genuinely NEW ids: the delta against ONE band of the
    // LEDGER-COMMITTED signature segments (one row per admitted vector
    // — a narrow scan joined to the bounded delta frame, no corpus
    // shuffle). Committed-only (round 16, r15 advice): a crashed
    // admit's orphan sig segment must not make its wave's ids read as
    // dups when re-delivered under a DIFFERENT key — and it inherently
    // excludes the current seg, whose key is not in the ledger yet, so
    // a same-key crash between the sig write below and the commit
    // still replays correctly.
    val nDup = timed("dup_count") {
      spark.read.parquet(s"$graphDir/sigs")
        .where(committedSegPredicate(ledger) && col("band") === 0)
        .join(broadcast(dIds.withColumnRenamed("id", "vec_id")), "vec_id")
        .select("vec_id").distinct().count()
    }
    // delta sigs from the committed union base (narrow id-join), under
    // the pinned schedule; idempotent segment overwrite
    timed("delta_sigs") {
      signUnder(spark, graphDir,
          base.join(dIds.withColumnRenamed("id", "vec_id"), "vec_id")
            .select("vec_id", "iv"))
        .write.mode("overwrite").parquet(s"$graphDir/sigs/seg=$seg")
    }
    val sigs = unionSigs(spark, graphDir)
    val oldGraph = spark.read.parquet(s"$graphDir/v=$prev/graph.parquet")
    // ADMIT-vs-REBUILD regime decision, self-deciding per batch (the
    // GraphProbe finding made operational): touched ≈ delta × bands ×
    // occupancy, and past ~1/4 of the corpus the incremental path's
    // hot-bucket candidate join costs MORE than a clean rebuild
    // (measured at the 80k probe: a 0.14% delta touched 82% and admit
    // ran 167 s vs the 24 s rebuild). Both paths produce the IDENTICAL
    // graph (the qx110 admit==rebuild pin), so the choice is pure
    // cost; steady-drip batches stay incremental, bulk waves rebuild.
    // The touched set is checkpointed ONCE and shared by the count and
    // the incremental path, and n comes from the commit record plus
    // the count of genuinely-new delta ids (the nDup anti-fold above
    // makes even a beyond-grace replay under a new seg key fold
    // exactly — r14 advice) — the decision's inputs cost bounded-frame
    // counts plus one narrow sig-band scan, never a corpus scan (r13
    // verdict #3). The rebuild branch still re-records a true
    // base.count() (a count job is noise next to the rebuild it
    // rides), belt and braces.
    val touched = timed("touched_sigs") {
      GraphAnn.touchedIds(sigs, dIds).localCheckpoint()
    }
    val nTouched = touched.count()
    val nBase = nPrev + (nDelta - nDup)
    val rebuild = nTouched * 4 >= nBase
    val graph = timed(s"graph_${if (rebuild) "rebuild" else "admit"}") {
      (if (rebuild)
        GraphAnn.knnGraph(base, EmbeddingLsh.candidatePairs(sigs), k)
      else
        GraphAnn.admit(base, sigs, oldGraph, dIds, k, Some(touched))).localCheckpoint()
    }
    // A REBUILD commits everything it read (round 16, review finding):
    // the rebuild scans ALL of sigs/ — including a crashed admit's
    // orphan segment — and records nBase = base.count(), so those ids
    // ARE in the committed graph and count. The ledger must say so,
    // else a later re-delivery of the orphan wave no-ops wrongly under
    // its own key (not in ledger → re-admitted → benign but wasteful)
    // or, under a DIFFERENT key, reads as nDup = 0 against the
    // committed-only scan and OVERCOUNTS nBase by the wave (the exact
    // inverse of the r15-advice undercount). Folding every on-disk seg
    // key into the rebuild's ledger closes both: the dup scan and the
    // replay no-op then agree with what the rebuild actually built
    // from. One filesystem listing — metadata-cheap next to the
    // rebuild it rides.
    //
    // Only FULLY-WRITTEN segments fold (round 17, r16 advice): a
    // segment torn by a crash mid delta_sigs write (task-committed
    // part files present, job never committed → no _SUCCESS marker)
    // must stay OUT of the ledger — promoting it would silence the
    // documented repair path (same-key re-delivery idempotently
    // overwrites its own segment) behind the ledger no-op, leaving
    // any sig rows the torn write lost out of the candidate
    // generator permanently. Left unfolded, the re-delivered wave
    // re-admits and its overwrite repairs the segment; the rebuild
    // itself read whatever partial rows exist, which only UNDER-seeds
    // candidates until that repair — never a wrong graph edge.
    val segsOut =
      if (rebuild) {
        val f = fs(spark, graphDir)
        f.listStatus(new org.apache.hadoop.fs.Path(s"$graphDir/sigs"))
          .map(_.getPath).filter(_.getName.startsWith("seg="))
          .filter(p => f.exists(
            new org.apache.hadoop.fs.Path(p, "_SUCCESS")))
          .map(_.getName.stripPrefix("seg=")).sorted
          .foldLeft(ledgerAdd(ledger, seg))(ledgerAdd)
      } else ledgerAdd(ledger, seg)
    timed("commit") {
      commitVersion(spark, graphDir, s"v=${prev + 1L}", seg, "graph", graph,
        nBase = if (rebuild) base.count() else nBase,
        segs = segsOut,
        entryId = math.min(entPrev, dIds.agg(min("id")).head.getLong(0)))
    }
  }

  /** Re-propagate communities for the LATEST graph version — the
    * AMORTIZED maintenance leg (run on the door's compactEvery
    * cadence, or ad hoc): warm-started from the newest committed
    * labeling (new nodes enter at their own id), `lpa_iters` rounds
    * over the union candidate graph, committed as `labels_v=<N>`.
    * No-op when the latest graph version is already labeled —
    * idempotent under replay and cheap to call every batch. */
  def refreshCommunities(spark: SparkSession, indexDir: String,
                         graphDir: String): Unit = {
    val vs = versionsOf(spark, graphDir)
    require(vs.nonEmpty, s"GraphIndex.refreshCommunities before init under $graphDir")
    val target = vs.max
    val labelVs = versionsOf(spark, graphDir, "labels_v=")
    if (labelVs.contains(target)) return
    val lpaIters = spark.read.parquet(s"$graphDir/meta.parquet")
      .head.getAs[Int]("lpa_iters")
    val base = HybridIndex.committedBase(spark, indexDir)
    // COLD-start when no labeling ever committed (init crashed between
    // the v=0 graph commit and the labels_v=0 commit — r13 advice):
    // every node enters at its own id instead of assuming labels_v=0
    // survived; otherwise warm-start from the newest fixpoint.
    val warm = labelVs.lastOption.map(v =>
      spark.read.parquet(s"$graphDir/labels_v=$v/labels.parquet"))
    val labels = LabelPropagation.run(base.select(col("vec_id").as("u")),
      EmbeddingLsh.candidatePairs(unionSigs(spark, graphDir))
        .select(col("vec_a").as("u"), col("vec_b").as("v")),
      iters = lpaIters, init = warm)
    commitVersion(spark, graphDir, s"labels_v=$target", s"refresh$target",
      "labels", labels)
  }

  /** Retire superseded versions past a grace period — each graph
    * version holds a full n·K-edge copy, so a standing door grows
    * storage one copy per admitted batch without this. The HybridIndex
    * supersede-time rule, one asset over: a non-latest version stays
    * protected until `graceMs` has passed since the NEXT version's
    * recorded commit (a reader that resolved it gets the full grace
    * from the moment it was superseded — never an mtime guess against
    * a skewed clock); labels versions retire under the same rule;
    * crash-orphaned `_staging_*` dirs are collected by stage-time
    * mtime grace (the only record an uncommitted writer leaves). The
    * append-only `sigs/` segments are NEVER vacuumed — every vector's
    * signature is immutable under the pinned planes and shared by all
    * versions. Retiring a version loses nothing the idempotence check
    * needs: the CUMULATIVE seg ledger rides in every later version's
    * info (round 14), so even a beyond-grace replay of a retired
    * version's seg key no-ops at [[admit]]'s first read. */
  def vacuum(spark: SparkSession, graphDir: String,
             graceMs: Long = 30L * 60 * 1000,
             nowMs: Long = System.currentTimeMillis()): Seq[String] = {
    val f = fs(spark, graphDir)
    def sweep(prefix: String): Seq[String] = {
      val vs = versionsOf(spark, graphDir, prefix)
      val committed = vs.map { v =>
        v -> spark.read.parquet(s"$graphDir/$prefix$v/info.parquet")
          .head.getAs[Long]("committed_ms")
      }.toMap
      vs.dropRight(1).zip(vs.drop(1)).collect {
        case (v, next) if committed(next) + graceMs <= nowMs =>
          f.delete(new org.apache.hadoop.fs.Path(s"$graphDir/$prefix$v"), true)
          s"$prefix$v"
      }
    }
    val staged = f.listStatus(new org.apache.hadoop.fs.Path(graphDir))
      .filter(s => s.getPath.getName.startsWith("_staging_") &&
        s.getModificationTime + graceMs <= nowMs)
      .map { s => f.delete(s.getPath, true); s.getPath.getName }
    sweep("v=") ++ sweep("labels_v=") ++ staged
  }

  /** SERVE beam-ANN from the maintained asset (round 14, r13 verdict
    * #1 — the graph's first consumer beyond its own audits; until now
    * qx109/qx121 rebuilt their graph inline per query set, which is
    * exactly the cost a standing asset exists to amortize): queries
    * (qid, qiv, qn2) are signed under the asset's PINNED plane
    * schedule, seeded from their LSH bucket mates in the append-only
    * sig segments (qx109's production seeding, against the asset
    * instead of a fresh corpus signing), and beam-searched over the
    * latest committed graph snapshot with qx109's parameters by
    * default. Per serve: |q|·bands map work for the query sigs, one
    * banded equi-join for seeds, beam·K vector fetches per query per
    * round — never a corpus re-sign, never a graph build. The
    * entry-point fallback is min committed vec_id, read from the
    * commit record (GraphAnn's deterministic global entry).
    * Query id space: under the default `selfExclude = true`, `qid` is
    * compared against corpus `vec_id`s for self-exclusion (the
    * qx2/qx109 in-corpus query convention), so an EXTERNAL query whose
    * id collides with a committed vec_id would silently lose that
    * corpus vector from its results — external callers pass
    * `selfExclude = false` instead of managing id disjointness
    * (r14 advice: the precondition is now a parameter, not a silent
    * degradation).
    * [[graft.IndexDoorSpec]] pins the serve bit-equal to the inline
    * qx109 spelling over a rebuild of the same committed corpus, with
    * recall vs brute live; DoorSoak's graph leg records what the
    * asset saves vs the inline build at the 10× corpus. */
  def search(spark: SparkSession, indexDir: String, graphDir: String,
             queries: DataFrame, beam: Int = 4, rounds: Int = 3,
             selfExclude: Boolean = true): DataFrame = {
    val base = HybridIndex.committedBase(spark, indexDir)
    val qs = queries.select("qid", "qiv", "qn2")
    val qsigs = querySigsUnder(spark, graphDir, qs)
    val collide = col("band") === col("qband") && col("sig") === col("qsig")
    val seeds = unionSigs(spark, graphDir).join(broadcast(qsigs),
        if (selfExclude) collide && col("vec_id") =!= col("qid") else collide)
      .select("qid", "vec_id").distinct()
    // the entry fallback rides the commit record (min committed
    // vec_id, folded at init and each admit) — a serve never scans
    // the base for it
    val (v, _, _, _, entry) = latestInfo(spark, graphDir)
    GraphAnn.search(spark.read.parquet(s"$graphDir/v=$v/graph.parquet"),
      base, qs, seeds, entry, beam, rounds, selfExclude)
  }

  /** The asset-free INLINE serving twin under the asset's PINNED
    * generator — ONE meta-driven dispatch for every asset-vs-inline
    * comparison (DoorSoak's index soak and graph wave;
    * round 16 — the first cells soak measured what a hand-rolled copy
    * of this dispatch costs: its rebuild check replayed the WRONG
    * generator and read a permanent 2000-edge diff). `books`/`splits`
    * are read from the asset, so the twin cannot drift from what the
    * asset actually pinned. */
  def inlineServeTwin(spark: SparkSession, graphDir: String,
                      base: DataFrame, qs: DataFrame, k: Int = 4,
                      beam: Int = 4, rounds: Int = 3): DataFrame = {
    val m = spark.read.parquet(s"$graphDir/meta.parquet").head
    if (m.getAs[String]("generator") == "cells")
      GraphAnn.inlineServeCells(base,
        spark.read.parquet(s"$graphDir/books.parquet"),
        m.getAs[Long]("cellk"),
        spark.read.parquet(s"$graphDir/splits.parquet"),
        qs, k, beam, rounds)
    else GraphAnn.inlineServe(base, m.getAs[Int]("planes"), qs, k,
      beam, rounds)
  }

  /** Latest committed graph snapshot. */
  def graph(spark: SparkSession, graphDir: String): DataFrame = {
    val v = versionsOf(spark, graphDir).max
    spark.read.parquet(s"$graphDir/v=$v/graph.parquet")
  }

  /** Newest committed community labeling (its graph version may trail
    * the latest graph until the next [[refreshCommunities]] — the
    * declared cadence trade). */
  def labels(spark: SparkSession, graphDir: String): DataFrame = {
    val v = versionsOf(spark, graphDir, "labels_v=").max
    spark.read.parquet(s"$graphDir/labels_v=$v/labels.parquet")
  }
}
