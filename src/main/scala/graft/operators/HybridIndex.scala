package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

import graft.queries.ExtQueries
import graft.sources.Tables

/** BUILD/SERVE split for hybrid retrieval — the production rendering of
  * qx79b: at corpus scale the index is a PERSISTED ASSET built once
  * (the "persisted dedup asset" discipline the LSH band table already
  * documents), and query serving touches only probe-bound slices of
  * it. [[build]] writes every asset the qx79b composition derives —
  * the trained IMI coarse codebooks, the residual PQ codebooks, the
  * 4-byte-coded corpus keyed by cell, the exact vectors for refine,
  * and the lexical statistics. [[search]] reproduces qx79b's fused
  * output BIT-IDENTICALLY from those assets ([[graft.HybridIndexSpec]]
  * pins it, transitively against the DuckDB oracle), without touching
  * raw text or re-training anything.
  *
  * SEGMENT LAYOUT WITH A VERSIONED MANIFEST COMMIT (round-10, protocol
  * hardened round-11): every growing asset (base, codes, tf, and the
  * per-batch df/stats parts) lives in `add=<key>` hive subdirs —
  * `add=build` for the initial corpus, `add=<minDoc>_<maxDoc>` per
  * [[addBatch]], `add=compact_<digest>` per [[compact]] — each written
  * with OVERWRITE on its own subdir, and the set of LIVE segments is
  * committed as `manifest/v=<N>`, N strictly increasing: the writer
  * stages the new manifest to a temp dir and RENAMES it into place
  * (one atomic FS op, return value checked — a failed rename throws,
  * it never half-commits), and readers resolve max-N, so there is NO
  * instant at which the index has no manifest and a reader that
  * resolved version N keeps a consistent view even while N+1 commits
  * (the Delta/Iceberg `_delta_log` versioned-commit shape, replacing
  * round-10's delete-then-rename swap whose gap a concurrent reader
  * or a crash could hit). Superseded manifest versions are retained
  * until [[vacuum]]'s grace period passes — time-travel for free,
  * garbage forever bounded. A retried or re-delivered batch
  * overwrites its own segment subdir and re-commits the same manifest
  * entry — never double-counts; a crash BEFORE the manifest commit
  * leaves an invisible orphan dir that [[vacuum]] collects once it is
  * older than the grace period (so an IN-FLIGHT writer's
  * not-yet-committed segment is never swept — the Delta `RETAIN`
  * discipline; concurrent addBatch + vacuum is safe, concurrent
  * WRITERS on the same index remain single-writer by contract, and a
  * lost race on the `v=<N>` rename fails loudly rather than
  * corrupting). [[compact]] folds all live segments into one (the
  * Lucene merge) with the same commit discipline — the spec pins
  * search unchanged across addBatch-retry, compact, vacuum, and an
  * in-flight-orphan + old-reader interleaving. df and corpus stats
  * are DERIVED at serve by summing the vocabulary-bounded parts —
  * state is a pure function of the committed segments.
  *
  * Scale shape of serve: per query, 4 probed cells → candidates ∝
  * cell occupancy (never n·q); the probed-cell set (ONE bounded q×4
  * collect, shared between bucket pruning and the serve plan as a
  * LocalRelation) prunes the hive-bucketed codes at the FILE INDEX;
  * ADC is the codegen'd `pq_adc` over the coded slice; exact refine on
  * top-32; the lexical leg joins the broadcast query-term lexicon
  * against the tf table with map-side `topk_by`.
  * HybridServeProbe (at commit `500eb2a`) recorded build-vs-serve
  * seconds at the 100× corpus, and Bench's `qx79b_split` records them
  * on every run — build amortizes, serving is probe-bound. */
object HybridIndex {

  /** Hive partition count for the coded corpus: cells hash into this
    * many bucket dirs, so probe-bound serving prunes at the FILE
    * INDEX. 64 keeps gate-scale files sane and cap-scale dirs bounded. */
  val CellBuckets = 64

  /** Train + encode + lexical stats → parquet assets under `outDir`.
    * Every derivation is the qx79b builder verbatim (shared code). */
  def build(spark: SparkSession, dir: String, outDir: String): Unit =
    build(spark, Tables.documents(spark, dir).select(col("doc_id"), col("text")),
      Tables.embeddings(spark, dir), outDir)

  /** DataFrame-input form (the spec's A/B-split harness uses it).
    *
    * `opq = true` derives the [[OpqLayout]] snake permutation from the
    * build corpus and stores EVERYTHING VECTOR-SHAPED in the permuted
    * space: base vectors, codebooks, codes. Serving needs no inverse —
    * queries are drawn from the stored base and dot products are
    * permutation-invariant, so the exact-refine leg, quantErrMean and
    * the recall monitors all operate unchanged; only the PQ subspace
    * SPLIT moves, which is the point (balanced codebooks on
    * anisotropic spaces — the ≥2× recon-error win OpqLayoutSpec pins).
    * The 64-integer layout persists as `layout.parquet` (pos → original
    * dim) so [[addBatch]] admits new vectors under the frozen layout
    * (the frozen-codebook discipline extended one asset left) and
    * [[retrain]] carries it — layout drift, like codebook drift, is a
    * rebuild decision, not something admission silently absorbs. */
  def build(spark: SparkSession, docs: DataFrame, rawEmb: DataFrame,
            outDir: String, opq: Boolean = false): Unit = {
    val emb =
      if (!opq) rawEmb
      else {
        val perm = OpqLayout.collectPerm(
          OpqLayout.snakeLayout(OpqLayout.dimEnergies(rawEmb)))
        writeLayout(spark, outDir, perm)
        OpqLayout.permuteCol(rawEmb, "embedding", perm)
      }
    val (assets, k) = ExtQueries.ivfadcAssetsFrom(spark, emb)
    assets.books.write.mode("overwrite").parquet(s"$outDir/imi_books.parquet")
    assets.pqBooks.write.mode("overwrite").parquet(s"$outDir/pq_books.parquet")
    writeSegment(outDir, "build", assets.base, assets.codes, docs)
    spark.range(1).select(lit(k).as("k"))
      .write.mode("overwrite").parquet(s"$outDir/meta.parquet")
    commitManifest(spark, outDir, Seq("build"))
  }

  /** INCREMENTAL maintenance — admit a batch of NEW documents without
    * retraining (the faiss `add` contract, and the batch rendering of
    * [[graft.streaming.IndexStream]]'s per-posting append): new
    * vectors encode against the FROZEN coarse + PQ codebooks (the
    * fused assign+residual kernel, then PQ encode — two scans over the
    * new batch only) and the batch lands as ONE overwrite-idempotent
    * segment (`add=<minDoc>_<maxDoc>`): retrying a failed or
    * re-delivered addBatch replaces the same subdirs, so the index
    * never double-counts ([[graft.HybridIndexSpec]] re-runs it and
    * pins search unchanged). Batches must carry NEW doc ids (the faiss
    * contract); overlapping id RANGES collide on the segment key by
    * design — colliding keys overwrite rather than duplicate.
    * A subsequent [[search]] serves the union corpus bit-identically
    * to a frozen-codebook rebuild over it. Codebook drift under a
    * shifting corpus is the retrain trigger — measured by
    * the RecallProbe fixture (at commit `500eb2a`) and decided by
    * [[RetrainTrigger]], not silently absorbed.
    *
    * `segKeyOpt` overrides the doc-range segment key — the streaming
    * door ([[graft.streaming.IndexDoor]]) passes `b<batchId>` so a
    * REPLAYED micro-batch (same batchId, same records off the
    * replayable bus) overwrites its own segment and re-commits the
    * same manifest entry: the K6/K7 batchId-WAL discipline applied to
    * the manifest commit. */
  def addBatch(spark: SparkSession, indexDir: String,
               newDocs: DataFrame, newRawEmb: DataFrame,
               segKeyOpt: Option[String] = None): Unit = {
    // A key that is live OR already FOLDED into a compact segment is a
    // committed epoch: re-delivery is a no-op. Without the folded
    // check, a crash between an in-batch compact and the offset commit
    // would replay the batch and re-admit rows the compacted segment
    // already contains — the double-count the b<batchId> discipline
    // exists to prevent.
    segKeyOpt.foreach { key =>
      val live = liveSegments(spark, indexDir)
      if (live.contains(key) || foldedKeys(spark, indexDir, live).contains(key))
        return
    }
    val books = spark.read.parquet(s"$indexDir/imi_books.parquet")
    val pqBooks = spark.read.parquet(s"$indexDir/pq_books.parquet")
    val k = spark.read.parquet(s"$indexDir/meta.parquet").head.getLong(0)
    val range = newDocs.agg(min("doc_id"), max("doc_id")).head
    if (range.isNullAt(0)) return // empty batch: nothing to admit
    val segKey = segKeyOpt.getOrElse(s"${range.getLong(0)}_${range.getLong(1)}")
    // An OPQ-built index admits under its FROZEN layout — new vectors
    // permute into the stored space before encoding, exactly as the
    // build corpus did (floor(x·10⁶+½) commutes with the permutation).
    val newBase = layoutPerm(spark, indexDir)
      .foldLeft(ExtQueries.intEmbeddingsFrom(newRawEmb))(OpqLayout.permute)
    val res = QuantKernels.encodeResidual(newBase.select("vec_id", "iv"), books, k)
    val newCodes = ProductQuantizer.packed(res.select("vec_id", "iv"), pqBooks)
      .join(res.select("vec_id", "cell"), "vec_id")
    writeSegment(indexDir, segKey, newBase, newCodes,
      newDocs.select(col("doc_id"), col("text")))
    // The batch becomes VISIBLE here: one manifest swap (the commit
    // point); a crash before it leaves only an invisible orphan dir.
    commitManifest(spark, indexDir,
      (liveSegments(spark, indexDir) :+ segKey).distinct.sorted)
  }

  /** Fold every live segment into ONE (the Lucene merge): read the
    * committed segments, rewrite each asset as a single
    * `add=compact_<hash>` segment (df/stats parts pre-folded), and
    * swap the manifest to it. The key derives from the input segment
    * set, so a retried compact overwrites its own dir; superseded
    * segment dirs become invisible garbage for [[vacuum]]. */
  def compact(spark: SparkSession, indexDir: String): Unit = {
    val live = liveSegments(spark, indexDir)
    if (live.size <= 1) return // already one segment
    // Key = truncated SHA-256 of the input segment set: a retried
    // compact (same live set) overwrites its own dir, and unlike the
    // 32-bit String.hashCode it replaces, distinct live sets cannot
    // collide into reading and overwriting the same directory (nor can
    // the digest go negative the way math.abs(Int.MinValue) does).
    val md = java.security.MessageDigest.getInstance("SHA-256")
    val key = "compact_" + md.digest(live.sorted.mkString("+")
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
      .take(8).map(b => f"${b & 0xff}%02x").mkString
    readAsset(spark, indexDir, "base.parquet", live).drop("add")
      .write.mode("overwrite").parquet(s"$indexDir/base.parquet/add=$key")
    readAsset(spark, indexDir, "codes.parquet", live).drop("add")
      .repartition(col("cell_bucket"))
      .write.mode("overwrite").partitionBy("cell_bucket")
      .parquet(s"$indexDir/codes.parquet/add=$key")
    readAsset(spark, indexDir, "tf.parquet", live).drop("add")
      .write.mode("overwrite").parquet(s"$indexDir/tf.parquet/add=$key")
    readAsset(spark, indexDir, "df_parts.parquet", live)
      .groupBy("word").agg(sum("df").as("df"))
      .write.mode("overwrite").parquet(s"$indexDir/df_parts.parquet/add=$key")
    readAsset(spark, indexDir, "stats_parts.parquet", live)
      .agg(sum("n").as("n"), sum("sumdl").as("sumdl"))
      .write.mode("overwrite").parquet(s"$indexDir/stats_parts.parquet/add=$key")
    // Record every NON-compact key this segment absorbs (transitively
    // through prior compact segments' own folded lists): [[addBatch]]
    // treats a folded key as a committed epoch, so a micro-batch
    // replayed across an in-between compaction no-ops instead of
    // re-admitting rows the fold already contains.
    import spark.implicits._
    val absorbed = (live.filterNot(_.startsWith("compact_")) ++
      foldedKeys(spark, indexDir, live)).distinct.sorted
    absorbed.toDF("key").coalesce(1).write.mode("overwrite")
      .parquet(s"$indexDir/folded.parquet/add=$key")
    commitManifest(spark, indexDir, Seq(key))
  }

  /** RETRAIN — the ACTUATOR of [[RetrainTrigger.decide]]: when the
    * decision says the frozen codebooks no longer fit the committed
    * corpus, write a FRESH index at `newDir` — coarse + PQ codebooks
    * re-trained on the committed base vectors (no float round-trip,
    * no raw-text access), every vector re-encoded against them, and
    * the lexical assets carried over FOLD-identically (postings/df/
    * stats are codebook-independent, so they copy as one folded
    * segment instead of re-deriving from text). The old index is left
    * fully intact — serving flips directories blue/green and the old
    * asset remains the rollback (and, under the versioned-manifest
    * protocol, stays readable mid-flip). Returns the fresh health
    * baseline so the next [[RetrainTrigger.decide]] epoch compares
    * against the post-retrain fit ([[graft.RetrainTriggerSpec]] pins:
    * retraining a drifted index restores the quant-err verdict to
    * keep, cuts the error at least in half, preserves the lexical
    * statistics exactly, and — on a healthy corpus — serves
    * BYTE-identically to a fresh monolithic build over the same
    * corpus). The drift REFERENCE is deliberately not carried: it
    * describes the old build mixture, and re-deriving it needs raw
    * text this method intentionally never touches — a caller keeping
    * the standing monitor re-records it with
    * [[RetrainTrigger.recordDriftReference]] over the retrain-time
    * corpus. */
  def retrain(spark: SparkSession, indexDir: String, newDir: String): (Long, Long) = {
    val live = liveSegments(spark, indexDir)
    val base = readAsset(spark, indexDir, "base.parquet", live)
      .select("vec_id", "iv", "n2")
    val (assets, k) = ExtQueries.ivfadcAssetsFromInt(spark, base)
    assets.books.write.mode("overwrite").parquet(s"$newDir/imi_books.parquet")
    assets.pqBooks.write.mode("overwrite").parquet(s"$newDir/pq_books.parquet")
    spark.range(1).select(lit(k).as("k"))
      .write.mode("overwrite").parquet(s"$newDir/meta.parquet")
    assets.base.write.mode("overwrite").parquet(s"$newDir/base.parquet/add=build")
    assets.codes.withColumn("cell_bucket", pmod(col("cell"), lit(CellBuckets)))
      .repartition(col("cell_bucket"))
      .write.mode("overwrite").partitionBy("cell_bucket")
      .parquet(s"$newDir/codes.parquet/add=build")
    readAsset(spark, indexDir, "tf.parquet", live).drop("add")
      .write.mode("overwrite").parquet(s"$newDir/tf.parquet/add=build")
    readAsset(spark, indexDir, "df_parts.parquet", live)
      .groupBy("word").agg(sum("df").as("df"))
      .write.mode("overwrite").parquet(s"$newDir/df_parts.parquet/add=build")
    readAsset(spark, indexDir, "stats_parts.parquet", live)
      .agg(sum("n").as("n"), sum("sumdl").as("sumdl"))
      .write.mode("overwrite").parquet(s"$newDir/stats_parts.parquet/add=build")
    // Carry the COMMITTED-EPOCH LEDGER across the blue/green flip: every
    // segment key the old index had admitted (live or already folded by a
    // compact) is recorded as folded into the fresh build, so a
    // micro-batch REPLAYED ACROSS THE FLIP — the door killed after its
    // addBatch landed in the old index but before its offset committed;
    // the retrain snapshot already contains those rows — no-ops in the
    // new directory ([[addBatch]]'s folded-key check) instead of
    // double-admitting. [[graft.IndexDoorSpec]] re-delivers a pre-flip
    // b<batchId> against the retrained index and pins search unchanged.
    import spark.implicits._
    val absorbed = (live.filterNot(_.startsWith("compact_")) ++
      foldedKeys(spark, indexDir, live)).distinct.sorted
    absorbed.toDF("key").coalesce(1).write.mode("overwrite")
      .parquet(s"$newDir/folded.parquet/add=build")
    // An OPQ layout travels with the index: the committed base this
    // retrain trained from is ALREADY in the permuted space, so the new
    // codebooks are layout-consistent by construction — the layout
    // asset just has to follow so future admissions keep permuting.
    layoutPerm(spark, indexDir).foreach(writeLayout(spark, newDir, _))
    commitManifest(spark, newDir, Seq("build"))
    // The fresh baseline measures under the SAME pinned sample rate the
    // old index's decision loop ran on (or full-scan when the old index
    // predates the rate / never recorded health).
    val oldHealth = new org.apache.hadoop.fs.Path(s"$indexDir/health.parquet")
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(indexDir), spark.sparkContext.hadoopConfiguration)
    val sampleEvery =
      if (fs.exists(oldHealth)) {
        val hdf = spark.read.parquet(s"$indexDir/health.parquet")
        if (hdf.columns.contains("sample_every"))
          hdf.head.getAs[Long]("sample_every")
        else 1L
      } else 1L
    RetrainTrigger.recordHealthBaseline(spark, newDir, sampleEvery = sampleEvery)
  }

  /** The union of the live compact segments' absorbed-key lists. */
  private def foldedKeys(spark: SparkSession, indexDir: String,
                         live: Seq[String]): Set[String] = {
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(indexDir), spark.sparkContext.hadoopConfiguration)
    val parts = live.map(k => s"$indexDir/folded.parquet/add=$k")
      .filter(p => fs.exists(new org.apache.hadoop.fs.Path(p)))
    if (parts.isEmpty) Set.empty
    else spark.read.parquet(parts: _*).collect().map(_.getString(0)).toSet
  }

  /** Default [[vacuum]] grace: an unreferenced dir younger than this is
    * presumed to belong to an IN-FLIGHT addBatch/compact that has
    * written its segment but not yet committed its manifest, and is
    * left alone (the Delta `VACUUM ... RETAIN` discipline). 30 min
    * bounds any sane maintenance batch; tests pass 0 to force
    * collection of dirs they KNOW are dead. */
  val DefaultVacuumGraceMs: Long = 30L * 60L * 1000L

  /** Delete segment dirs no retained manifest references (orphans from
    * pre-commit crashes, segments superseded by [[compact]]), crashed
    * commit staging dirs, and superseded manifest versions.
    *
    * RETENTION IS KEYED TO SUPERSEDE TIME, NOT CREATION TIME (the
    * round-11 review's finding, and the Delta rule — tombstone time,
    * not add time): each manifest version records its own commit
    * wall-clock ([[commitManifest]]), a version counts as superseded
    * at the instant the NEXT version committed, and a superseded
    * version — with every segment it references — stays protected
    * until `graceMs` has passed since that recorded instant. So a
    * compact or manifest bump never exposes the segments it just
    * retired to immediate deletion: a reader that resolved the
    * pre-compact manifest within the grace window still finds every
    * path it references, no matter how old the dirs themselves are
    * (manifest history decides, never filesystem mtime — which object
    * stores skew). NEVER-committed dirs (crash orphans, in-flight
    * writers) appear in no manifest, so their stage time — mtime, the
    * only record an uncommitted writer leaves, and for an orphan the
    * semantically right clock — gates their collection, as does a
    * crashed commit's `_staging_*` dir. The current manifest version
    * is never deleted regardless of age. */
  def vacuum(spark: SparkSession, indexDir: String,
             graceMs: Long = DefaultVacuumGraceMs): Unit = {
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(indexDir), spark.sparkContext.hadoopConfiguration)
    val cutoff = System.currentTimeMillis() - graceMs
    val mRoot = new org.apache.hadoop.fs.Path(s"$indexDir/manifest")
    val versions = committedVersions(fs, mRoot)
    require(versions.nonEmpty, s"no committed manifest under $indexDir/manifest")
    val infos = versions.map(v => v -> manifestAt(spark, fs, indexDir, v)).toMap
    // Protected = current version + every version whose SUPERSEDE time
    // (the next version's recorded commit time) is within the grace.
    val protectedVs = versions.zipWithIndex.collect {
      case (v, i) if i == versions.length - 1 || infos(versions(i + 1))._2 > cutoff => v
    }.toSet
    val protectedSegs = protectedVs.flatMap(v => infos(v)._1)
    Seq("base.parquet", "codes.parquet", "tf.parquet",
        "df_parts.parquet", "stats_parts.parquet", "folded.parquet").foreach { asset =>
      val root = new org.apache.hadoop.fs.Path(s"$indexDir/$asset")
      if (fs.exists(root)) fs.listStatus(root).foreach { st =>
        val name = st.getPath.getName
        if (name.startsWith("add=") && !protectedSegs.contains(name.stripPrefix("add=")) &&
            st.getModificationTime <= cutoff)
          fs.delete(st.getPath, true)
      }
    }
    fs.listStatus(mRoot).foreach { st =>
      val name = st.getPath.getName
      if (name.startsWith("v=") &&
          !protectedVs.contains(name.stripPrefix("v=").toLong))
        fs.delete(st.getPath, true)
      // A crash between staging and rename leaves `_staging_v<N>` dirs no
      // manifest will ever reference (round-11 review #3): stage-time
      // grace collects them so repeated crashes cannot accumulate
      // unbounded commit garbage.
      else if (name.startsWith("_staging_") && st.getModificationTime <= cutoff)
        fs.delete(st.getPath, true)
    }
  }

  /** Persist the OPQ layout (pos → original dim) as an index asset. */
  private def writeLayout(spark: SparkSession, indexDir: String,
                          perm: Array[Int]): Unit = {
    import spark.implicits._
    perm.zipWithIndex.map { case (d, pos) => (pos, d) }.toSeq
      .toDF("pos", "d").coalesce(1)
      .write.mode("overwrite").parquet(s"$indexDir/layout.parquet")
  }

  /** The stored OPQ permutation, if this index was built with one. */
  private[graft] def layoutPerm(spark: SparkSession,
                                indexDir: String): Option[Array[Int]] = {
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(indexDir), spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(new org.apache.hadoop.fs.Path(s"$indexDir/layout.parquet"))) None
    else {
      val rows = spark.read.parquet(s"$indexDir/layout.parquet").collect()
      val perm = new Array[Int](rows.length)
      rows.foreach(r => perm(r.getInt(0)) = r.getInt(1))
      Some(perm)
    }
  }

  /** All committed `v=<N>` under `manifest/`, ascending. */
  private def committedVersions(fs: org.apache.hadoop.fs.FileSystem,
                                mRoot: org.apache.hadoop.fs.Path): Seq[Long] =
    if (!fs.exists(mRoot)) Seq.empty
    else fs.listStatus(mRoot).map(_.getPath.getName).toSeq
      .collect { case n if n.startsWith("v=") => n.stripPrefix("v=").toLong }
      .sorted

  /** One manifest version's (segments, recorded commit wall-clock).
    * Pre-round-12 manifests carry no `committed_ms` column — fall back
    * to the version dir's mtime for those (strictly better than the
    * old behavior, never worse). */
  private def manifestAt(spark: SparkSession, fs: org.apache.hadoop.fs.FileSystem,
                         indexDir: String, v: Long): (Seq[String], Long) = {
    val df = spark.read.parquet(s"$indexDir/manifest/v=$v")
    val segs = df.select("seg").collect().map(_.getString(0)).toSeq
    val ms =
      if (df.columns.contains("committed_ms"))
        df.select("committed_ms").head.getLong(0)
      else fs.getFileStatus(
        new org.apache.hadoop.fs.Path(s"$indexDir/manifest/v=$v")).getModificationTime
    (segs, ms)
  }

  /** Highest committed `v=<N>` under `manifest/` (0 = none). Temp
    * staging dirs (leading underscore) are invisible to readers. */
  private def currentManifestVersion(fs: org.apache.hadoop.fs.FileSystem,
                                     mRoot: org.apache.hadoop.fs.Path): Long =
    if (!fs.exists(mRoot)) 0L
    else fs.listStatus(mRoot).map(_.getPath.getName)
      .collect { case n if n.startsWith("v=") => n.stripPrefix("v=").toLong }
      .foldLeft(0L)(math.max)

  /** The committed segment set: resolve the HIGHEST manifest version
    * and read it. Old versions stay on disk until vacuumed, so this
    * read races nothing — a commit in flight is invisible until its
    * rename lands, and the version it supersedes remains readable. */
  private def liveSegments(spark: SparkSession, indexDir: String): Seq[String] = {
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(indexDir), spark.sparkContext.hadoopConfiguration)
    val v = currentManifestVersion(fs, new org.apache.hadoop.fs.Path(s"$indexDir/manifest"))
    require(v > 0L, s"no committed manifest under $indexDir/manifest")
    spark.read.parquet(s"$indexDir/manifest/v=$v")
      .select("seg").collect().map(_.getString(0)).toSeq.sorted
  }

  /** Commit `segs` as manifest version current+1: stage the parquet to
    * a temp dir, then ONE atomic rename into `v=<N>`, with the commit
    * wall-clock recorded IN the manifest (`committed_ms` — the
    * supersede clock [[vacuum]]'s retention runs on, so deletion
    * safety never trusts filesystem mtime against a skewed driver
    * clock). A lost race on N fails loudly with the index unchanged
    * and fully recoverable, and the check does not lean on the
    * rename's return value alone (round-11 review #2): on
    * RawLocalFileSystem and several object-store connectors a rename
    * ONTO an existing directory "succeeds" by moving the source
    * INSIDE the destination — so existence of `v=<N>` is treated as
    * the lost race up front, and after the rename the staged data
    * file must sit DIRECTLY at the `v=<N>` root or the commit throws
    * rather than leaving a nested, unreadable manifest. */
  private def commitManifest(spark: SparkSession, indexDir: String,
                             segs: Seq[String]): Unit = {
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(indexDir), spark.sparkContext.hadoopConfiguration)
    val mRoot = new org.apache.hadoop.fs.Path(s"$indexDir/manifest")
    commitManifestAt(spark, indexDir, segs,
      currentManifestVersion(fs, mRoot) + 1L)
  }

  /** [[commitManifest]] with the version pinned — package-visible so
    * the spec can reproduce the exact race window (another writer's
    * `v=<N>` landing between this writer's version resolution and its
    * rename), which no interleaving a test controls can hit through
    * the public entry points. */
  private[graft] def commitManifestAt(spark: SparkSession, indexDir: String,
                                      segs: Seq[String], next: Long): Unit = {
    import spark.implicits._
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(indexDir), spark.sparkContext.hadoopConfiguration)
    val tmp = s"$indexDir/manifest/_staging_v$next"
    val tmpPath = new org.apache.hadoop.fs.Path(tmp)
    val nowMs = System.currentTimeMillis()
    segs.map((_, nowMs)).toDF("seg", "committed_ms")
      .coalesce(1).write.mode("overwrite").parquet(tmp)
    val stagedFile = fs.listStatus(tmpPath).map(_.getPath.getName)
      .find(n => n.startsWith("part-") && n.endsWith(".parquet"))
      .getOrElse {
        fs.delete(tmpPath, true)
        throw new java.io.IOException(s"staged manifest at $tmp has no parquet part file")
      }
    val dst = new org.apache.hadoop.fs.Path(s"$indexDir/manifest/v=$next")
    def lostRace(): Nothing = {
      fs.delete(tmpPath, true)
      throw new java.io.IOException(
        s"manifest commit lost the rename race for v=$next under $indexDir " +
          "(concurrent writer? single-writer maintenance contract violated)")
    }
    if (fs.exists(dst)) lostRace()
    if (!fs.rename(tmpPath, dst)) lostRace()
    if (!fs.exists(new org.apache.hadoop.fs.Path(dst, stagedFile)))
      throw new java.io.IOException(
        s"manifest commit rename did not land the staged files at v=$next root " +
          s"under $indexDir (rename-onto-existing moved the staging dir inside " +
          "the destination — concurrent writer?)")
  }

  /** The committed integerized base vectors (vec_id, iv, n2) under the
    * current manifest — the union every maintenance asset derives from
    * ([[GraphIndex]] reads it for graph admission). */
  def committedBase(spark: SparkSession, indexDir: String): DataFrame =
    readAsset(spark, indexDir, "base.parquet", liveSegments(spark, indexDir))

  /** Read one asset's LIVE segments only, manifest-resolved, with the
    * hive partition columns (`add`, and `cell_bucket` for codes)
    * intact via basePath. */
  private def readAsset(spark: SparkSession, indexDir: String, asset: String,
                        live: Seq[String]): DataFrame =
    spark.read.option("basePath", s"$indexDir/$asset")
      .parquet(live.map(k => s"$indexDir/$asset/add=$k"): _*)

  /** One segment's worth of every growing asset, each written with
    * OVERWRITE on its own `add=<key>` subdir (idempotent retry). */
  private def writeSegment(indexDir: String, key: String, base: DataFrame,
                           codes: DataFrame, docs: DataFrame): Unit = {
    base.write.mode("overwrite").parquet(s"$indexDir/base.parquet/add=$key")
    // Codes land HIVE-PARTITIONED by cell bucket inside the segment
    // (the CuratedWriter layout discipline): a serve touching c probed
    // cells reads ≤ c bucket partitions per segment off the file
    // index. One repartition on the bucket keeps files per bucket
    // bounded (without it every task writes into every bucket dir).
    codes.withColumn("cell_bucket", pmod(col("cell"), lit(CellBuckets)))
      .repartition(col("cell_bucket"))
      .write.mode("overwrite").partitionBy("cell_bucket")
      .parquet(s"$indexDir/codes.parquet/add=$key")
    val words = docs.select(col("doc_id"),
      explode(expr("filter(split(text, ' '), w -> length(w) > 0)")).as("word"))
    val tf = words.groupBy("doc_id", "word").agg(count(lit(1)).as("tf"))
    val dl = words.groupBy("doc_id").agg(count(lit(1)).as("dl"))
    // Postings ship denormalized with the doc length — the BM25 dl
    // join is paid once at build, not per serve.
    tf.join(dl, "doc_id")
      .write.mode("overwrite").parquet(s"$indexDir/tf.parquet/add=$key")
    tf.groupBy("word").agg(count(lit(1)).as("df"))
      .write.mode("overwrite").parquet(s"$indexDir/df_parts.parquet/add=$key")
    docs.agg(count(lit(1)).as("n"))
      .crossJoin(words.agg(count(lit(1)).as("sumdl")))
      .write.mode("overwrite").parquet(s"$indexDir/stats_parts.parquet/add=$key")
  }

  /** The dense (IVFADC-served) leg over the committed segments: query
    * slice → ONE q×4 probe collect (prunes the hive-bucketed codes at
    * the file index AND feeds the serve plan as a LocalRelation — the
    * r10 review's double-probe fixed) → ADC over the pruned slice →
    * exact refine to `topk`. Shared by [[search]] (topk=20) and
    * [[denseRecallMicro]]'s health measurement. */
  private def denseTop(spark: SparkSession, indexDir: String, live: Seq[String],
                       q: DataFrame, topk: Int,
                       basePred: org.apache.spark.sql.Column = lit(true)): DataFrame = {
    val books = spark.read.parquet(s"$indexDir/imi_books.parquet")
    val pqBooks = spark.read.parquet(s"$indexDir/pq_books.parquet")
    val base = readAsset(spark, indexDir, "base.parquet", live).where(basePred)
    val k = spark.read.parquet(s"$indexDir/meta.parquet").head.getLong(0)
    val qCellRows = graft.operators.IvfAnn
      .imiProbeCellsL2(q, books, k, 2)
      .select(col("qid").cast("long"), col("cell").cast("long")).collect()
    val probedBuckets = qCellRows.map(r => (r.getLong(1) % CellBuckets).toInt)
      .distinct.toSeq
    val qCells = spark.createDataFrame(
      java.util.Arrays.asList(qCellRows: _*),
      StructType(Seq(StructField("qid", LongType, nullable = false),
        StructField("cell", LongType, nullable = false))))
    val codes = readAsset(spark, indexDir, "codes.parquet", live)
      .where(col("cell_bucket").isin(probedBuckets: _*)).where(basePred)
    ExtQueries.ivfadcServe(q, books, pqBooks, codes, base, k,
        topk = topk, qCellsOpt = Some(qCells))
      .select(col("qid"), col("vec_id").as("doc_id"),
        col("rk").cast("long").as("dense_rk"))
  }

  /** Default query slice (the gate's): every 50th vector under 5000. */
  val DefaultQPred: org.apache.spark.sql.Column =
    col("vec_id") % 50 === 0 && col("vec_id") < 5000

  /** The PINNED deterministic health-sample rule (round-11 verdict #3):
    * `vec_id % sampleEvery == 0` — replayable by anyone holding the
    * rate (no RNG state, no sampling seed to persist beyond the one
    * integer), stable across epochs (the SAME sub-corpus is measured
    * every decision, so epoch-over-epoch movement is drift, never
    * sample churn), and id-hash-free so it composes with the oracle
    * discipline. `sampleEvery = 1` is the full scan. */
  def healthSamplePred(sampleEvery: Long): org.apache.spark.sql.Column =
    if (sampleEvery <= 1L) lit(true)
    else pmod(col("vec_id"), lit(sampleEvery)) === 0L

  /** Dense-leg HEALTH: TIE-AWARE recall@k of the indexed
    * (frozen-codebook, ADC-pruned) top-k against the EXACT brute-force
    * cosine top-k over the same committed base, in integer micro-units
    * (10⁶·hits div (k·|q|)); a served candidate hits when its exact
    * cosine reaches the brute k-th best (quality-equivalence, robust
    * to tied maxima — see the hit-rule comment in the body). This is
    * the number [[RetrainTrigger]] holds against its
    * floor: as admitted batches drift away from the build-time
    * codebooks, quantization error grows and the served ranking falls
    * away from the exact one. Cost: the probe-bound serve plus ONE
    * brute pass |base|×|q| — per maintenance decision, not per query,
    * and SAMPLABLE: `sampleEvery > 1` restricts BOTH legs (base, codes
    * and the query slice they feed) to the [[healthSamplePred]]
    * sub-corpus, so the measure stays self-consistent (indexed-vs-exact
    * over the SAME vectors) while the brute pass shrinks by
    * sampleEvery² — at corpus scale the difference between a cheap
    * epoch decision and a nightly job. The verdict is baseline-RELATIVE
    * ([[RetrainTrigger]]), so the baseline must be recorded at the same
    * rate — [[RetrainTrigger.recordHealthBaseline]] persists the rate
    * in `health.parquet` and the decision epochs replay it. */
  def denseRecallMicro(spark: SparkSession, indexDir: String,
                       qPred: org.apache.spark.sql.Column = DefaultQPred,
                       k: Int = 10, sampleEvery: Long = 1L): (Long, Long) = {
    val live = liveSegments(spark, indexDir)
    val samplePred = healthSamplePred(sampleEvery)
    val base = readAsset(spark, indexDir, "base.parquet", live).where(samplePred)
    val q = base.where(qPred)
      .select(col("vec_id").as("qid"), col("iv").as("qiv"), col("n2").as("qn2"))
    val indexed = denseTop(spark, indexDir, live, q, k, basePred = samplePred)
    // TIE-AWARE hit rule (round 17, r16 verdict #1 recalibration): a
    // served candidate counts when its EXACT cosine is at least the
    // brute top-k's k-th best — i.e. it is quality-equivalent to a
    // true top-k member. The former id-set intersection undercounted
    // exactly where maxima TIE (routine on small integerized corpora:
    // the sf0.01 soak's baseline read 0.52 while every served score
    // sat inside the true top-k's score range), which made the
    // baseline-relative keep verdict start from a noise-dominated
    // number. Same arithmetic on both sides, so ">= k-th score" is
    // exact; the served side is ≤ k·|q| rows, so the extra join is
    // bounded. Id-set hits imply score hits, so this metric is ≥ the
    // old one everywhere and identical where ties are measure-zero
    // (the 200k probe class).
    val servedCos = indexed
      .join(base.select(col("vec_id").as("doc_id"), col("iv"), col("n2")), "doc_id")
      .join(broadcast(q), "qid")
      .withColumn("dot", expr("long_dot(iv, qiv)"))
      .withColumn("cosine", expr(ExtQueries.COSINE))
      .select("qid", "doc_id", "cosine")
    val bruteKth = base.crossJoin(broadcast(q))
      .where(col("vec_id") =!= col("qid"))
      .withColumn("dot", expr("long_dot(iv, qiv)"))
      .withColumn("cosine", expr(ExtQueries.COSINE))
      .groupBy("qid").agg(expr(s"topk_by(cosine, vec_id, $k)").as("tk"))
      .select(col("qid"), expr("element_at(tk, size(tk)).score").as("kthc"))
    val nq = q.count()
    val hits = servedCos.join(bruteKth, "qid")
      .where(col("cosine") >= col("kthc")).count()
    (nq, if (nq == 0L) 0L else 1000000L * hits / (k.toLong * nq))
  }

  /** Serve the hybrid query set from the persisted assets: dense leg =
    * [[denseTop]] to top-20; lexical leg = BM25 from the persisted tf
    * segments with df/stats SUMMED from the per-segment parts
    * (vocabulary-bounded); RRF fusion — every expression qx79b's
    * monolithic form uses, so the output is bit-identical. `qPred`
    * selects the query ids (the gate slice by default). */
  /** QUANTIZER FIT: mean PQ reconstruction error per committed vector —
    * re-derive each vector's residual against the frozen coarse books,
    * decode its stored PQ code (explode + broadcast codebook join),
    * and fold Σ‖res_sub − c_sub‖² per vector. This is the faiss-style
    * quantization-error monitor and the drift coordinate RECALL CANNOT
    * SEE: an isometric corpus shift (e.g. a global sign flip) preserves
    * mutual geometry — and therefore recall — while reconstruction
    * error against codebooks trained on the OLD distribution explodes.
    * Returns (n, mean error in raw integer units). One pass over the
    * committed base; restrict with `pred` — canonically
    * [[healthSamplePred]], the pinned deterministic rule the decision
    * loop persists alongside its baseline — to sample at cap scale
    * (the filter reaches the base AND codes parquet scans, so a
    * sampled epoch reads 1/sampleEvery of the decode work). */
  def quantErrMean(spark: SparkSession, indexDir: String,
                   pred: org.apache.spark.sql.Column = lit(true)): (Long, Long) = {
    val live = liveSegments(spark, indexDir)
    val books = spark.read.parquet(s"$indexDir/imi_books.parquet")
    val pqBooks = spark.read.parquet(s"$indexDir/pq_books.parquet")
    val k = spark.read.parquet(s"$indexDir/meta.parquet").head.getLong(0)
    val base = readAsset(spark, indexDir, "base.parquet", live).where(pred)
    val res = QuantKernels.encodeResidual(base.select("vec_id", "iv"), books, k)
    val codes = readAsset(spark, indexDir, "codes.parquet", live).where(pred)
    val d = ProductQuantizer.Dsub
    val perVec = codes.join(res.select(col("vec_id"), col("iv").as("riv")), "vec_id")
      .select(col("vec_id"), col("riv"), posexplode(col("codes")).as(Seq("sub", "code")))
      .join(broadcast(pqBooks.select(col("sub"), col("cid").as("code"), col("cv"))),
        Seq("sub", "code"))
      .withColumn("e", expr(
        s"aggregate(zip_with(slice(riv, 1 + $d * sub, $d), cv, (a, b) -> a - b), " +
          "0L, (acc, x) -> acc + x * x)"))
      .groupBy("vec_id").agg(sum("e").as("err"))
    val tot = perVec.agg(count(lit(1)).as("n"), sum("err").as("s")).head
    val n = tot.getLong(0)
    (n, if (n == 0L) 0L else tot.getLong(1) / n)
  }

  def search(spark: SparkSession, indexDir: String,
             qPred: org.apache.spark.sql.Column = DefaultQPred): DataFrame =
    searchSegments(spark, indexDir, liveSegments(spark, indexDir), qPred)

  /** Committed manifest versions, ascending — the index's time-travel
    * axis. Superseded versions stay listed (and readable) until
    * [[vacuum]] retires them past the grace period. */
  def versions(spark: SparkSession, indexDir: String): Seq[Long] = {
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(indexDir), spark.sparkContext.hadoopConfiguration)
    committedVersions(fs, new org.apache.hadoop.fs.Path(s"$indexDir/manifest"))
  }

  /** [[search]] pinned to manifest version `version` — Delta-style
    * time travel over the versioned-manifest protocol: the snapshot a
    * reader resolved stays byte-stable across later commits, compacts
    * and admissions, because a manifest version's segment set is
    * immutable and its referenced paths survive until vacuum's
    * supersede-time grace expires. Readable horizon = [[versions]]
    * minus whatever [[vacuum]] has retired; asking for a retired or
    * never-committed version fails loudly here rather than
    * half-reading a swept segment set. */
  def searchAsOf(spark: SparkSession, indexDir: String, version: Long,
                 qPred: org.apache.spark.sql.Column = DefaultQPred): DataFrame = {
    val vs = versions(spark, indexDir)
    require(vs.contains(version),
      s"manifest v=$version not readable under $indexDir (committed: ${vs.mkString(",")})")
    val segs = spark.read.parquet(s"$indexDir/manifest/v=$version")
      .select("seg").collect().map(_.getString(0)).toSeq.sorted
    searchSegments(spark, indexDir, segs, qPred)
  }

  /** The maximum integer-RRF score [[graft.queries.ExtQueries.rrfFuse]]
    * can emit (rank 1 on both legs) — the constant normalizer that maps
    * served relevance into (0, 1] for [[searchDiverse]]'s λ-mix. */
  private val RrfMaxMicro = 2.0 * (1000000L / 61L)

  /** [[search]] with [[MmrRerank]] as the serving epilogue: the fused
    * top-10 pool per query is greedily diversified to `k` picks —
    * relevance is the served RRF score normalized by [[RrfMaxMicro]],
    * redundancy the exact cosine between pool members' base vectors
    * (fetched from the index's own committed base, so the epilogue adds
    * two narrow id-joins over ≤10 rows per query and never rescans the
    * corpus). Returns (qid, step, doc_id, mmr) in pick order; step 1 is
    * always the served rank 1 (empty selected set ⇒ no penalty). */
  def searchDiverse(spark: SparkSession, indexDir: String, k: Int = 5,
                    lambda: Double = 0.7,
                    qPred: org.apache.spark.sql.Column = DefaultQPred): DataFrame = {
    val live = liveSegments(spark, indexDir)
    val served = searchSegments(spark, indexDir, live, qPred)
    // Checkpoint the pool BEFORE the pairs fan-out — its lineage IS the
    // full serve, and the pairs self-join plus every greedy step would
    // re-run it otherwise (the qx98 lesson one level up; the 100× probe
    // read 29 s vs 13 s serve before this cut).
    val pool = served.select(col("qid"), col("rk").cast("int").as("rk"),
      col("doc_id").as("vec_id"),
      (col("rrf_micro").cast("double") / lit(RrfMaxMicro)).as("cosine"))
      .localCheckpoint()
    val base = readAsset(spark, indexDir, "base.parquet", live)
    val va = base.select(col("vec_id").as("va"), col("iv").as("aiv"), col("n2").as("an2"))
    val vb = base.select(col("vec_id").as("vb"), col("iv").as("biv"), col("n2").as("bn2"))
    val pairs = pool.select(col("qid"), col("vec_id").as("va"))
      .join(pool.select(col("qid"), col("vec_id").as("vb")), Seq("qid"))
      .where(col("va") =!= col("vb"))
      .join(va, "va").join(vb, "vb")
      .withColumn("sim", expr(
        "CAST(long_dot(aiv, biv) AS DOUBLE) / (sqrt(CAST(an2 AS DOUBLE)) * sqrt(CAST(bn2 AS DOUBLE)))"))
      .select("qid", "va", "vb", "sim")
    MmrRerank.rerank(pool, pairs, k, lambda)
      .withColumnRenamed("vec_id", "doc_id")
  }

  /** [[search]] with late-interaction MaxSim as the serving epilogue
    * (the qx101b production shape riding the index): each query's fused
    * top-10 pool is re-scored by the [[graft.functions.MaxSim]] kernel
    * — Σ_i max_j cos(q_i, d_j) over 4 contiguous 16-dim token
    * sub-vectors — and cut to `k`. Both sides' vectors come from the
    * index's own committed base (two narrow id-joins over ≤10 rows per
    * query; never a corpus rescan — the [[searchDiverse]] shape with
    * the kernel swapped in).
    *
    * OPQ caveat handled here, not by the caller: MaxSim's token
    * structure is POSITIONAL, and an OPQ-built index stores vectors in
    * the permuted layout — a full dot is permutation-invariant but a
    * sub-vector split is not. The epilogue therefore restores the
    * ORIGINAL dimension order (inverting the persisted layout) before
    * slicing tokens, so late-interaction scores are identical whether
    * the index was built natural or OPQ (the spec pins this).
    * Returns (qid, rk, doc_id, maxsim) in MaxSim order. */
  def searchLateInteraction(spark: SparkSession, indexDir: String, k: Int = 5,
                            qPred: org.apache.spark.sql.Column = DefaultQPred): DataFrame = {
    val live = liveSegments(spark, indexDir)
    val served = searchSegments(spark, indexDir, live, qPred)
    // Checkpoint the pool — its lineage is the full serve and the two
    // base joins below would re-run it (the searchDiverse lesson).
    val pool = served.select(col("qid"), col("doc_id").as("vec_id")).localCheckpoint()
    val base0 = readAsset(spark, indexDir, "base.parquet", live)
    val base = layoutPerm(spark, indexDir) match {
      case None => base0
      case Some(perm) =>
        val inv = new Array[Int](perm.length)
        perm.zipWithIndex.foreach { case (orig, pos) => inv(orig) = pos }
        OpqLayout.permuteCol(base0, "iv", inv)
    }
    val dv = base.select(col("vec_id"), col("iv"))
    val qv = base.select(col("vec_id").as("qid"), col("iv").as("qiv"))
    pool.join(dv, "vec_id").join(qv, "qid")
      .withColumn("maxsim", expr("max_sim(qiv, iv, 4)"))
      .groupBy("qid").agg(expr(s"topk_by(maxsim, vec_id, $k)").as("tk"))
      .select(col("qid"), posexplode(col("tk")).as(Seq("p", "t")))
      .select(col("qid"), (col("p") + 1).as("rk"),
        col("t.id").as("doc_id"), col("t.score").as("maxsim"))
  }

  private def searchSegments(spark: SparkSession, indexDir: String,
                             live: Seq[String],
                             qPred: org.apache.spark.sql.Column): DataFrame = {
    val (dense, lex) = servingLegs(spark, indexDir, live, qPred)
    ExtQueries.rrfFuse(dense, lex)
  }

  /** [[search]] with the DENSE leg served by a maintained
    * [[GraphIndex]] asset standing next to this index (round 15, r14
    * verdict #5 — the graph family as a dense-leg OPTION in the RRF
    * stack, not just a standalone serve): beam-ANN top-20 from the
    * committed graph snapshot replaces the IVFADC probe; the lexical
    * BM25 leg and the integer RRF fusion are the shared serving
    * spellings, so diffing against [[search]] over the same corpus
    * measures exactly the dense-family swap, and the qx125 fusion
    * ledger prices it in recall. When the index holds the gate corpus
    * and the graph asset was initialized over it (LSH generator,
    * expectedFinal = corpus size), the output is bit-equal to the
    * qx79c gate row — HybridIndexSpec pins it. Per serve: the graph
    * asset's own amortized cost (sign |q|, seed join, beam·K fetches
    * per round — never a corpus re-sign or graph build) plus the
    * segment-local lexical leg. */
  def searchGraphFused(spark: SparkSession, indexDir: String,
                       graphDir: String,
                       qPred: org.apache.spark.sql.Column = DefaultQPred)
      : DataFrame = {
    val live = liveSegments(spark, indexDir)
    val q = readAsset(spark, indexDir, "base.parquet", live).where(qPred)
      .select(col("vec_id").as("qid"), col("iv").as("qiv"), col("n2").as("qn2"))
    val dense = GraphIndex.search(spark, indexDir, graphDir, q, beam = 20)
      .select(col("qid"), col("vec_id").as("doc_id"),
        col("rk").cast("long").as("dense_rk"))
    ExtQueries.rrfFuse(dense, lexTop(spark, indexDir, live, q))
  }

  /** DPR triplet mining served FROM THE PERSISTED INDEX (r12 verdict
    * #2 — the last brute-only consumer moved onto the index): the
    * dense and lexical legs are the exact serving legs [[search]]
    * fuses, handed to the SHARED
    * [[graft.queries.ExtQueries.mineTriplets]] spelling — so a mining
    * epoch under a standing door is probe-bound (cell-occupancy
    * candidates + the segment-local tf/df lexical leg), never a
    * corpus scan, and its output is pinned by spec to the qx106b gate
    * row whenever the index holds the gate corpus. Legs are
    * checkpointed here because the miner consumes each three times
    * (positive, anti-join, overlap — the qx98 lesson). */
  def mineTriplets(spark: SparkSession, indexDir: String,
                   qPred: org.apache.spark.sql.Column = DefaultQPred): DataFrame = {
    val (dense, lex) =
      servingLegs(spark, indexDir, liveSegments(spark, indexDir), qPred)
    ExtQueries.mineTriplets(dense.localCheckpoint(), lex.localCheckpoint())
  }

  /** The two serving legs (dense IVFADC top-20, lexical BM25 top-20)
    * over a resolved segment set — factored from the monolithic serve
    * so [[search]]/[[searchAsOf]] (fusion) and [[mineTriplets]]
    * (mining) share them. */
  private def servingLegs(spark: SparkSession, indexDir: String,
                          live: Seq[String],
                          qPred: org.apache.spark.sql.Column): (DataFrame, DataFrame) = {
    val base = readAsset(spark, indexDir, "base.parquet", live)
    val q = base.where(qPred)
      .select(col("vec_id").as("qid"), col("iv").as("qiv"), col("n2").as("qn2"))
    (denseTop(spark, indexDir, live, q, topk = 20),
      lexTop(spark, indexDir, live, q))
  }

  /** The lexical BM25 top-20 leg over a resolved segment set —
    * factored from [[servingLegs]] (round 15) so
    * [[searchGraphFused]] can fuse it with the graph dense leg
    * without paying the IVFADC probe it replaces. */
  private def lexTop(spark: SparkSession, indexDir: String,
                     live: Seq[String], q: DataFrame): DataFrame = {
    val tf = readAsset(spark, indexDir, "tf.parquet", live)
    val dfreq = readAsset(spark, indexDir, "df_parts.parquet", live)
      .groupBy("word").agg(sum("df").as("df"))
    val stats = readAsset(spark, indexDir, "stats_parts.parquet", live)
      .agg(sum("n").as("n"), sum("sumdl").as("sumdl"))
    // The query docs' distinct words ARE their tf rows' word set.
    val qids = q.select(col("qid"))
    val qterms = tf.join(qids, tf("doc_id") === qids("qid"))
      .select(col("qid"), col("word"))
    val terms = qterms.select("word").distinct()
    val lex = tf.join(broadcast(terms), "word")
      .join(broadcast(dfreq.join(broadcast(terms), "word")), "word")
      .crossJoin(broadcast(stats))
      .withColumn("s_micro", expr(ExtQueries.BM25_MICRO))
      .join(broadcast(qterms), "word")
      .where(col("doc_id") =!= col("qid"))
      .groupBy("qid", "doc_id").agg(sum("s_micro").as("score_micro"))
      .groupBy("qid")
      .agg(expr("topk_by(CAST(score_micro AS DOUBLE), doc_id, 20)").as("tk"))
      .select(col("qid"), posexplode(col("tk")).as(Seq("p", "t")))
      .select(col("qid"), col("t.id").as("doc_id"),
        (col("p") + 1).cast("long").as("lex_rk"))
    lex
  }
}
