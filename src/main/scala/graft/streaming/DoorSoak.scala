package graft.streaming

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{broadcast, col, expr, lit, pmod}
import org.apache.spark.sql.streaming.StreamingQuery

import graft.GraftSession
import graft.functions.BloomFilter
import graft.operators.{GraphAnn, GraphIndex, HybridIndex}

/** RocksDB SOAK of the composed ingest door (round-8 verdict #7): the
  * specs run the door at sf0.001 waves; this main pushes 10×–100×
  * document waves through all three checkpointed stages under the
  * RocksDB state store and RECORDS, per stage per wave, Spark's own
  * state-operator metrics — rows in state, state memory, RocksDB SST
  * size, and commit latency — so the 100 TB state posture is measured,
  * not asserted. Results land in SURVEY §8.2 next to the door row.
  *
  * Usage: runMain graft.streaming.DoorSoak [sfDir] [waves]
  * (default /root/testdata/sf0.01 — 10× the spec corpus — in 8 waves.)
  * The `index`, `crawl` and `graph` modes soak the index door, the crawl
  * door and one graph-asset wave; each is documented at its method.
  */
object DoorSoak {
  /** The graft session at a fixed 8 state partitions, whatever the cpus,
    * so the per-wave state metrics compare across hosts and runs. */
  private def session(app: String): SparkSession = {
    val spark = GraftSession(app)
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    spark
  }

  private def timed[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = f
    (a, (System.nanoTime() - t0) / 1e9)
  }

  /** One JSON line per state operator of `q`'s last micro-batch: Spark's
    * own rows in state, state memory, RocksDB SST size, pinned block
    * memory and commit latency, and the batch's addBatch time. */
  private def stateLine(tag: String, wave: Int, q: StreamingQuery): Unit = {
    val p = q.lastProgress
    if (p == null) return
    val addMs = Option(p.durationMs.get("addBatch")).map(_.toLong).getOrElse(-1L)
    p.stateOperators.foreach { so =>
      def metric(k: String) = Option(so.customMetrics.get(k)).map(_.toString).getOrElse("-1")
      println(s"""{"stage":"$tag","wave":$wave,"op":"${so.operatorName}",""" +
        s""""rows_in_state":${so.numRowsTotal},"state_bytes":${so.memoryUsedBytes},""" +
        s""""sst_bytes":${metric("rocksdbSstFileSize")},""" +
        s""""pinned_bytes":${metric("rocksdbPinnedBlocksMemoryUsage")},""" +
        s""""rocksdb_commit_ms":${metric("rocksdbCommitLatencyMs")},"batch_add_ms":$addMs}""")
    }
  }

  /** The heap envelope as JSON fields: Xmx plus the largest single heap
    * pool's peak. Pools peak at different times, so a sum could exceed
    * Xmx and mislead; completing the run under this Xmx is the primary
    * evidence, the pool peak the supporting footprint number. */
  private def heapFields: String = {
    val peak = java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(_.getPeakUsage.getUsed).max
    s""""heap_max_gb":${"%.1f".format(Runtime.getRuntime.maxMemory / 1e9)},""" +
      s""""heap_peak_pool_gb":${"%.1f".format(peak / 1e9)}"""
  }

  /** A graph-asset serve reading: `queries`, the asset serve and its
    * inline twin's seconds, and how many served rank-1 rows match the
    * brute-force top-1 strictly (same id) and tie-aware (same cosine). */
  private case class ServeReading(queries: Long, assetSec: Double, inlineSec: Double,
                                  strictHits: Long, tieHits: Long) {
    def micro(hits: Long): Long = 1000000L * hits / math.max(1L, queries)
  }

  /** Serves `qs` from the graph asset and from its inline twin
    * ([[GraphIndex.inlineServeTwin]], which replays the asset's pinned
    * generator), requires equal row counts, then scores the asset's
    * rank-1 rows against brute-force top-1 over `base`.
    *
    * Only the served rk = 1 row may claim a hit: counting a hit anywhere
    * in the beam overstated serving quality. The strict metric is not
    * floorable across corpus sizes: on small corpora several vectors tie
    * at the exact maximum cosine and the beam may surface a tied id other
    * than the globally smallest (GraphServeQualitySpec pins the sf0.01
    * 4/10 strict reading as exactly that). So the floor rides the
    * tie-aware metric, served cosine == brute max cosine (same
    * expression, same integers: exact equality), and a real quality
    * collapse fails the run at any corpus size. */
  private def serveQuality(spark: SparkSession, idx: String, gDir: String,
                           base: DataFrame, qs: DataFrame): ServeReading = {
    val nq = qs.count()
    val ((served, nServed), assetSec) = timed {
      val s = GraphIndex.search(spark, idx, gDir, qs).localCheckpoint()
      (s, s.count())
    }
    val (nInline, inlineSec) = timed {
      GraphIndex.inlineServeTwin(spark, gDir, base, qs).count()
    }
    require(nServed == nInline,
      s"asset serve row count diverged from the inline build: $nServed vs $nInline")
    val brute = base.crossJoin(broadcast(qs))
      .where(col("vec_id") =!= col("qid"))
      .withColumn("dot", expr("long_dot(iv, qiv)"))
      .withColumn("cosine", expr(graft.queries.ExtQueries.COSINE))
      .groupBy("qid").agg(expr("element_at(topk_by(cosine, vec_id, 1), 1)").as("t"))
      .select(col("qid"), col("t.id").as("nn"), col("t.score").as("maxc"))
    val top1 = served.where(col("rk") === 1L)
      .select(col("qid"), col("vec_id").as("snn"), col("cosine").as("scos"))
      .join(brute, "qid").localCheckpoint()
    val r = ServeReading(nq, assetSec, inlineSec,
      strictHits = top1.where(col("snn") === col("nn")).count(),
      tieHits = top1.where(col("scos") === col("maxc")).count())
    require(r.micro(r.tieHits) >= GraphAnn.ServeRecallFloorMicro,
      s"asset serving quality collapsed: tie-aware top1 recall ${r.tieHits}/$nq " +
        s"< floor ${GraphAnn.ServeRecallFloorMicro} micro")
    r
  }

  def main(args: Array[String]): Unit = args.headOption match {
    case Some("crawl") => crawlMain(args.drop(1))
    case Some("index") => indexMain(args.drop(1))
    case Some("graph") => graphMain(args.drop(1))
    case _             => ingestMain(args)
  }

  /** The composed ingest door ([[IngestDoor]]): gate, budget and pack
    * stages, corpus backfill then `waves` live waves. */
  private def ingestMain(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val nWaves = args.lift(1).map(_.toInt).getOrElse(8)
    // probe-scale runs (round 17, r16 verdict #5): cap the corpus read
    // from a larger table (0 = all) — the 200k ingest-door probe rides
    // the 500k graph-probe corpus
    val maxDocs = args.lift(2).map(_.toLong).getOrElse(0L)
    val spark = session("graft-door-soak")
    import spark.implicits._
    import IngestDoor.DoorDoc

    val base = Files.createTempDirectory("graft_door_soak").toString
    val allDocs = spark.read.parquet(s"$sfDir/documents.parquet")
    val docs = (if (maxDocs > 0L)
        allDocs.where(org.apache.spark.sql.functions.col("doc_id") < maxDocs)
      else allDocs)
      .select("doc_id", "lang", "text").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
      .toSeq.sortBy(_._1)
    println(s"[soak] ${docs.size} docs from $sfDir; door at $base")

    val evalDocs = docs.collect { case (id, _, _) if id % 25 == 0 => id }.toSet
    val evalWins = docs.filter(d => evalDocs.contains(d._1))
      .flatMap(d => DeconStream.windowHashes(d._3)).toSet
    // Bloom image sized to the eval window set (~16 bits/element, so
    // the prescreen keeps pruning at probe scale instead of
    // saturating; 1024 words = the spec-scale floor, unchanged there)
    val mWords = math.max(1024, java.lang.Long.highestOneBit(
      math.max(1L, evalWins.size.toLong / 4L)).toInt * 2)
    val d = 3
    val image = new Array[Long](mWords)
    for (s <- evalWins; i <- 0 until d) {
      val bit = BloomFilter.bitOf(s, i, mWords)
      image((bit / 64).toInt) |= 1L << (bit % 64).toInt
    }
    val rest = docs.filterNot(x => evalDocs.contains(x._1))
    val (corpus, live) = rest.splitAt(rest.size / 2)

    implicit val sqlCtx = spark.sqlContext
    val input = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[DoorDoc]
    val q1 = IngestDoor.gateStage(input.toDS(), image, d, evalWins, evalDocs,
      s"$base/staged", s"$base/ck1")
    val q2 = IngestDoor.budgetStage(spark, s"$base/staged", s"$base/budget",
      budgetPerLang = 200000L, s"$base/ck2")
    val q3 = IngestDoor.packStage(spark, s"$base/budget", s"$base/packed",
      chunkLen = 256L, seqLen = 1024L, s"$base/ck3")

    // corpus backfill = wave 0, then live waves
    input.addData(corpus.map { case (id, lang, t) => DoorDoc(id, lang, t, is_new = false) })
    q1.processAllAvailable()
    stateLine("gate", 0, q1)
    live.grouped(live.size / nWaves + 1).zipWithIndex.foreach { case (wave, i) =>
      val t0 = System.nanoTime()
      input.addData(wave.map { case (id, lang, t) => DoorDoc(id, lang, t, is_new = true) })
      q1.processAllAvailable()
      val t1 = System.nanoTime()
      q2.processAllAvailable()
      val t2 = System.nanoTime()
      q3.processAllAvailable()
      val t3 = System.nanoTime()
      // per-stage wall (round 17, r16 verdict #5: the composed door's
      // probe must attribute the wave cost to its stages, the
      // doorcells artifact discipline)
      println(f"""{"wave":${i + 1},"docs":${wave.size},"wall_sec":${(t3 - t0) / 1e9}%.2f,""" +
        f""""gate_sec":${(t1 - t0) / 1e9}%.2f,"budget_sec":${(t2 - t1) / 1e9}%.2f,""" +
        f""""pack_sec":${(t3 - t2) / 1e9}%.2f}""")
      stateLine("gate", i + 1, q1)
      stateLine("budget", i + 1, q2)
      stateLine("pack", i + 1, q3)
    }
    q1.stop(); q2.stop(); q3.stop()
    val staged = spark.read.schema(IngestDoor.stagedSchema).parquet(s"$base/staged/batch=*").count()
    println(s"""{"stage":"done","admitted":$staged,"bloom_words":$mWords,$heapFields}""")
    println(s"[soak] done: $staged admitted docs through the door")
    spark.stop()
  }

  /** `runMain graft.streaming.DoorSoak index [sfDir] [waves] [sampleEvery]`
    * — the INDEX door ([[IndexDoor]], r10 verdict #2) soaked at 10× the
    * spec corpus: build the hybrid index on the first 60% of documents,
    * stream the rest through the FileBus → addBatch door in `waves`
    * producer epochs (admission-bounded triggers, one kill/restart
    * midway), then compact + vacuum and SERVE. Records per wave the
    * admission wall time and segment count, then the maintenance and
    * serve times — the build-once/admit-forever posture measured under
    * the same conditions the ingest/crawl soaks use. `sampleEvery`
    * (default 0 = DERIVE from corpus size with
    * [[graft.operators.RetrainTrigger.sampleEveryFor]] — the r12
    * verdict-#7 rule: 1 at gate/probe fixture scale, >1 past
    * 2×SampleFloor committed vectors; pass an explicit rate to pin)
    * records the health baseline under the pinned vec_id sample rule,
    * so the decide stage's quant-err and recall legs measure the
    * sampled sub-corpus — the r11 verdict-#3 epoch-cost knob, measured
    * here at the 100×-class corpus. */
  private def indexMain(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val nWaves = args.lift(1).map(_.toInt).getOrElse(8)
    val sampleEvery = args.lift(2).map(_.toLong).getOrElse(0L)
    val spark = session("graft-index-soak")

    val base = Files.createTempDirectory("graft_index_soak").toString
    val idx = s"$base/index"; val bus = s"$base/bus"; val ck = s"$base/ck"
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"), col("text"))
    val raw = spark.read.parquet(s"$sfDir/embeddings.parquet")
    // The cut splits the EMBEDDED doc set (at sf0.1 only a prefix of
    // docs carries embeddings; a cut over all doc ids would leave the
    // live half vector-less).
    val ids = docs.join(raw.withColumnRenamed("vec_id", "doc_id"), "doc_id")
      .select("doc_id").collect().map(_.getLong(0)).sorted
    val cut = ids(ids.length * 3 / 5)
    var t0 = System.nanoTime()
    graft.operators.HybridIndex.build(spark,
      docs.where(col("doc_id") < cut), raw.where(col("vec_id") < cut), idx)
    println(f"""{"stage":"build","docs":${ids.count(_ < cut)},"wall_sec":${(System.nanoTime() - t0) / 1e9}%.2f}""")
    t0 = System.nanoTime()
    val (baseRec, baseErr) =
      graft.operators.RetrainTrigger.recordHealthBaseline(spark, idx,
        sampleEvery = sampleEvery)
    // resolved rate read back from the baseline (0 = derived by rule)
    val resolvedRate = spark.read.parquet(s"$idx/health.parquet")
      .head.getAs[Long]("sample_every")
    println(f"""{"stage":"health_baseline","recall_micro":$baseRec,"quant_err":$baseErr,"sample_every":$resolvedRate,"sample_arg":$sampleEvery,"wall_sec":${(System.nanoTime() - t0) / 1e9}%.2f}""")

    val bRows = spark.read.parquet(s"$sfDir/documents.parquet")
      .where(col("doc_id") >= cut)
      .join(raw.withColumnRenamed("vec_id", "doc_id"), "doc_id")
      .select("doc_id", "source", "text", "embedding").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getSeq[Float](3)))
      .sortBy(_._1)
    println(s"[soak] index door: ${bRows.length} live docs in $nWaves waves; at $base")
    // arg 4 "graph": soak the COMPOSED graph/community maintenance too
    // (round 13 — GraphIndex under the same door: per-batch regime-
    // deciding graph admission, community refresh + graph vacuum on
    // the compactEvery cadence).
    val withGraph = args.lift(3).contains("graph")
    val gDir = s"$base/graph"
    if (withGraph) {
      t0 = System.nanoTime()
      // the soak runs the CELLS door explicitly (round 16, r15 verdict
      // #1: the occupancy-robust generator is the production
      // recommendation for any standing door, so the kill/restart soak
      // must exercise ITS init/admit/refresh/serve path; the sf-scale
      // corpus sits below GraphIndex.CellsKnee, where `auto` would
      // pick lsh)
      graft.operators.GraphIndex.init(spark, idx, gDir,
        expectedFinal = raw.count(), generator = "cells")
      println(f"""{"stage":"graph_init","generator":"cells","wall_sec":${(System.nanoTime() - t0) / 1e9}%.2f}""")
    }
    def door() = IndexDoor.run(spark, bus, "docs", idx, ck,
      maxOffsetsPerTrigger = Some(math.max(64L, bRows.length.toLong / (2L * nWaves))),
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime("50 milliseconds"),
      compactEvery = Some(4), // the standing-door merge policy, soaked
      graphDir = if (withGraph) Some(gDir) else None)
    var q = door()
    bRows.grouped(bRows.length / nWaves + 1).zipWithIndex.foreach { case (wave, i) =>
      t0 = System.nanoTime()
      wave.groupBy(_._1 % 2).foreach { case (p, rs) =>
        graft.sources.FileBus.append(bus, "docs", p.toInt,
          rs.map { case (id, src, t, e) => IndexDoor.encodeDoc(id, src, t, e, id) }.toSeq)
      }
      q.processAllAvailable()
      if (i == nWaves / 2) { q.stop(); q = door() } // kill/restart midway
      // LIVE segments (manifest max-version) — the set the merge policy
      // bounds; on-disk add= dirs linger under vacuum's grace period.
      val mf = new java.io.File(s"$idx/manifest")
      val maxV = mf.listFiles().map(_.getName).filter(_.startsWith("v="))
        .map(_.stripPrefix("v=").toLong).max
      val live = spark.read.parquet(s"$idx/manifest/v=$maxV").count()
      println(f"""{"wave":${i + 1},"docs":${wave.size},"wall_sec":${(System.nanoTime() - t0) / 1e9}%.2f,"live_segments":$live}""")
      // RELEASE readout on the maintenance cadence (r14, r13 verdict
      // #5): every other wave, the committed corpus's qx117 manifest
      // is evaluated to one verdict line next to the soak numbers —
      // "is this corpus releasable" as a standing readout. Committed
      // MEMBERSHIP comes from the index (the door's admission record);
      // document metadata rides the upstream table the bus was fed
      // from.
      if ((i + 1) % 2 == 0) {
        t0 = System.nanoTime()
        val committedDocs = spark.read.parquet(s"$sfDir/documents.parquet")
          .join(graft.operators.HybridIndex.committedBase(spark, idx)
            .select(col("vec_id").as("doc_id")), "doc_id")
        val (ok, det) = graft.ReleaseGate.evaluateCorpus(spark, committedDocs,
          s"$base/release_stage")
        val kv = det.toSeq.sortBy(_._1)
          .map { case (k2, v2) => s""""$k2":$v2""" }.mkString(",")
        println(f"""{"stage":"release_gate","wave":${i + 1},"releasable":$ok,$kv,"wall_sec":${(System.nanoTime() - t0) / 1e9}%.2f}""")
      }
    }
    q.stop()
    t0 = System.nanoTime()
    graft.operators.HybridIndex.compact(spark, idx)
    graft.operators.HybridIndex.vacuum(spark, idx, graceMs = 0L)
    println(f"""{"stage":"compact+vacuum","wall_sec":${(System.nanoTime() - t0) / 1e9}%.2f}""")
    if (withGraph) {
      // the composed pin, run LIVE at soak scale: the door-maintained
      // graph equals a clean rebuild over the committed union (qx110),
      // and a final refresh labels the latest version
      t0 = System.nanoTime()
      graft.operators.GraphIndex.refreshCommunities(spark, idx, gDir)
      println(f"""{"stage":"graph_refresh","wall_sec":${(System.nanoTime() - t0) / 1e9}%.2f}""")
      t0 = System.nanoTime()
      val gBase = graft.operators.HybridIndex.committedBase(spark, idx)
      // the rebuild must replay the asset's PINNED generator (round 16
      // — the soak now runs the cells door, where the LSH spelling
      // would rebuild a different graph and the check reads as a
      // permanent diff): GraphIndex.signUnder, the asset's own signing
      // dispatch, so the check cannot drift from what the door pinned.
      val rebuilt = graft.operators.GraphAnn.knnGraph(gBase,
        graft.operators.EmbeddingLsh.candidatePairs(
          graft.operators.GraphIndex.signUnder(spark, gDir,
            gBase.select("vec_id", "iv"))), 4)
      val doorG = graft.operators.GraphIndex.graph(spark, gDir)
      // the grouping key carries the cosine (rounded as IndexDoorSpec
      // rounds it — r13 advice): an edge present on both sides with a
      // DIVERGENT weight, or duplicated on one side and absent on the
      // other, must count as a diff, not cancel out on bare (u, v)
      def keyed(g: org.apache.spark.sql.DataFrame) = g.select(col("u"), col("v"),
        org.apache.spark.sql.functions.expr(
          "CAST(round(cos * 1e9) AS BIGINT)").as("cos9"))
      val diff = keyed(doorG).unionByName(keyed(rebuilt))
        .groupBy("u", "v", "cos9").agg(org.apache.spark.sql.functions.count(
          org.apache.spark.sql.functions.lit(1)).as("c"))
        .where(col("c") =!= 2L).count()
      println(f"""{"stage":"graph_rebuild_check","edge_diff":$diff,"wall_sec":${(System.nanoTime() - t0) / 1e9}%.2f}""")
      // loud, not just recorded (round 16: the first cells soak read
      // edge_diff=2000 because the check itself rebuilt via the wrong
      // generator — a nonzero diff must kill the soak, not pass as a
      // line in the log)
      require(diff == 0L, s"door-maintained graph diverged from rebuild: $diff edges")
      // SERVE comparison (r14, r13 verdict #1): what the persisted
      // asset saves — beam serve from the committed snapshot vs the
      // inline qx109 shape (sign corpus + rebuild graph + serve) on
      // the same queries — plus the asset serve's recall@top1 vs
      // brute, the qx121 number read LIVE off the maintained asset.
      val qs = gBase.where(col("vec_id") % 50 === 0)
        .select(col("vec_id").as("qid"), col("iv").as("qiv"), col("n2").as("qn2"))
        .localCheckpoint()
      val s = serveQuality(spark, idx, gDir, gBase, qs)
      println(f"""{"stage":"graph_serve","queries":${s.queries},"asset_sec":${s.assetSec}%.2f,"inline_sec":${s.inlineSec}%.2f,"recall_top1_micro":${s.micro(s.strictHits)},"recall_q_micro":${s.micro(s.tieHits)},"recall_floor_micro":${GraphAnn.ServeRecallFloorMicro}}""")
    }
    // The per-epoch maintenance decision over exactly what the door
    // admitted — the RetrainTrigger loop run where it would run in
    // production (and the soak's healthy feed must KEEP everywhere).
    t0 = System.nanoTime()
    val srcDocs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"), col("source"), col("text"))
      .join(raw.select(col("vec_id").as("doc_id")), "doc_id")
    val decisions = graft.operators.RetrainTrigger.decide(spark, idx,
      srcDocs.where(col("doc_id") < cut), srcDocs.where(col("doc_id") >= cut))
      .collect()
    val nRetrain = decisions.count(_.getString(3) == "retrain")
    decisions.filter(r => r.getString(0) == "__index").foreach { r =>
      println(s"""{"stage":"decide","metric":"${r.getString(1)}","value":${r.getLong(2)},"decision":"${r.getString(3)}"}""")
    }
    println(f"""{"stage":"decide","rows":${decisions.length},"retrain":$nRetrain,"wall_sec":${(System.nanoTime() - t0) / 1e9}%.2f}""")
    require(nRetrain == 0,
      s"healthy soak feed fired the retrain trigger: ${decisions.filter(_.getString(3) == "retrain").toSeq.take(3)}")
    t0 = System.nanoTime()
    val servedRows = graft.operators.HybridIndex.search(spark, idx).count()
    println(f"""{"stage":"serve","rows":$servedRows,"wall_sec":${(System.nanoTime() - t0) / 1e9}%.2f}""")
    require(servedRows > 0L, "index soak served zero rows")
    spark.stop()
  }

  /** `runMain graft.streaming.DoorSoak crawl [sfDir] [waves]` — the
    * CRAWL door (r9 verdict #4: politeness ON) under RocksDB: WARC
    * waves through unwrap → frontier → pace → dedup with a 1 s
    * crawl-delay on every domain, per-stage state metrics per wave.
    * The pace stage's token buckets + pending backlog are the state
    * whose growth this soak watches; the final heartbeat drains every
    * pending timer so released == admitted is asserted, not assumed. */
  private def crawlMain(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val nWaves = args.lift(1).map(_.toInt).getOrElse(8)
    val spark = session("graft-crawl-soak")

    val base = Files.createTempDirectory("graft_crawl_soak").toString
    val media = graft.queries.ExtQueries.qx77Media(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getAs[Array[Byte]](1))).toSeq.sortBy(_._1)
    println(s"[soak] ${media.size} crawl records from $sfDir; door at $base")
    val robots = (0 until 32).map(i => s"m$i.example" -> "User-agent: *\nCrawl-delay: 1\n").toMap

    implicit val sqlCtx = spark.sqlContext
    implicit val enc = org.apache.spark.sql.Encoders
      .tuple(org.apache.spark.sql.Encoders.scalaLong, org.apache.spark.sql.Encoders.BINARY)
    val input = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, Array[Byte])]
    val q1 = CrawlDoor.unwrapStage(
      input.toDF().toDF("doc_id", "warc"), robots, "graftbot",
      s"$base/staged", s"$base/ck1")
    val q2 = CrawlDoor.frontierStage(spark, s"$base/staged", s"$base/frontier", s"$base/ck2")
    val qp = CrawlDoor.paceStage(spark, s"$base/frontier", s"$base/paced", s"$base/ckp")
    val q3 = CrawlDoor.dedupStage(spark, s"$base/paced", s"$base/manifest", s"$base/ck3")

    media.grouped(media.size / nWaves + 1).zipWithIndex.foreach { case (wave, i) =>
      val t0 = System.nanoTime()
      input.addData(wave)
      q1.processAllAvailable(); q2.processAllAvailable()
      qp.processAllAvailable(); q3.processAllAvailable()
      val sec = (System.nanoTime() - t0) / 1e9
      println(f"""{"wave":${i + 1},"records":${wave.size},"wall_sec":$sec%.2f}""")
      stateLine("frontier", i + 1, q2)
      stateLine("pace", i + 1, qp)
      stateLine("dedup", i + 1, q3)
    }
    // Heartbeats drain every pending politeness timer.
    for (i <- 1 to 2) {
      CrawlDoor.writeHeartbeat(spark, s"$base/frontier", i)
      qp.processAllAvailable(); q3.processAllAvailable()
    }
    stateLine("pace", nWaves + 1, qp)
    q1.stop(); q2.stop(); qp.stop(); q3.stop()
    val admitted = spark.read.schema(CrawlDoor.stagedSchema)
      .parquet(s"$base/frontier/batch=*")
      .where(org.apache.spark.sql.functions.col("domain") =!= CrawlDoor.FlushDomain).count()
    val released = spark.read.parquet(s"$base/paced/batch=*").count()
    println(s"[soak] crawl door done: admitted=$admitted released=$released " +
      s"(politeness drained=${admitted == released})")
    // ASSERTED, not just printed (the r10 review): an unattended soak
    // run must fail loudly if the politeness drain regresses.
    require(admitted == released,
      s"politeness drain regression: admitted=$admitted released=$released")
    spark.stop()
  }

  /** `runMain graft.streaming.DoorSoak graph <sfDir> [deltaMod] [lsh|cells]`
    * — the composed graph-asset wave at probe scale: [[HybridIndex]] on
    * all but a delta, [[GraphIndex.init]] over the committed base under
    * the chosen generator (default `lsh`), then ONE door-shaped wave —
    * index addBatch + [[GraphIndex.admit]] (delta sigs, touched-node
    * graph recompute, versioned commit) — the warm-started community
    * refresh it amortizes over, and the [[serveQuality]] reading of the
    * asset serve, floor included. One JSON line, with the heap envelope.
    *
    * Delta sizing: a positive `deltaMod` (default 7) is the steady-drip
    * spelling, modulus deltaMod·100; a NEGATIVE one is the raw modulus
    * (-4 → a 25% bulk wave, the admit-vs-rebuild knee's rebuild regime).
    * Zero is refused: pmod(id, 0) is null, so the run would time a
    * zero-vector delta and emit a plausible but meaningless line.
    *
    * The embeddings are NOISE over the corpus's vec_id domain: planted
    * clusters make LSH buckets go quadratic (the qx113 finding), and the
    * production answer for clustered spaces is the cells generator.
    * No streaming state here, so the session keeps the [[GraftSession]]
    * defaults instead of the soaks' fixed 8 partitions. */
  private def graphMain(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: DoorSoak graph <sfDir> [deltaMod] [lsh|cells]")
    val d = args(0)
    val deltaMod = args.lift(1).map(_.toLong).getOrElse(7L)
    val gen = args.lift(2).getOrElse("lsh")
    require(gen == "lsh" || gen == "cells", s"generator must be lsh or cells, got $gen")
    require(deltaMod != 0L,
      "deltaMod must be nonzero (positive = drip modulus deltaMod*100, negative = raw bulk modulus)")
    val doorMod = if (deltaMod < 0) -deltaMod else deltaMod * 100L
    val spark = GraftSession("graft-graph-door")
    spark.range(1000).selectExpr("sum(id)").collect()

    val docs = spark.read.parquet(s"$d/documents.parquet")
      .select(col("doc_id"), col("text"))
    val raw = spark.read.parquet(s"$d/embeddings.parquet")
      .select(col("vec_id"))
      .withColumn("embedding", expr(
        """transform(sequence(0, 63), dd -> CAST(
          |  ((vec_id * 1009 + dd * 31 + 3) * 2654435761 % 2147483647 % 721 - 360) / 1000.0
          |AS FLOAT))""".stripMargin))
    val nAll = raw.count()
    val idx = Files.createTempDirectory("graft_gdoor_idx").toString
    val gDir = Files.createTempDirectory("graft_gdoor_g").toString
    val deltaPred = pmod(col("doc_id"), lit(doorMod)) === 3L
    val deltaPredV = pmod(col("vec_id"), lit(doorMod)) === 3L
    HybridIndex.build(spark, docs.where(!deltaPred), raw.where(!deltaPredV), idx)
    val (_, initSec) = timed {
      GraphIndex.init(spark, idx, gDir, expectedFinal = nAll, generator = gen)
    }
    val (_, admitIdxSec) = timed {
      HybridIndex.addBatch(spark, idx, docs.where(deltaPred), raw.where(deltaPredV),
        segKeyOpt = Some("b0"))
    }
    val nDelta = raw.where(deltaPredV).count()
    // the per-batch leg: graph-only admission (touched-bound)
    val (_, waveSec) = timed {
      GraphIndex.admit(spark, idx, gDir, raw.where(deltaPredV).select(col("vec_id").as("id")), "b0")
    }
    // the amortized leg: community re-propagation is edge-linear per
    // round, which is why it rides the compactEvery cadence
    val (_, refreshSec) = timed { GraphIndex.refreshCommunities(spark, idx, gDir) }
    val committed = HybridIndex.committedBase(spark, idx)
    val qs = committed.where(pmod(col("vec_id"), lit(1000L)) === 0L)
      .select(col("vec_id").as("qid"), col("iv").as("qiv"), col("n2").as("qn2"))
      .localCheckpoint()
    val s = serveQuality(spark, idx, gDir, committed, qs)
    println(s"""{"n":$nAll,"n_delta":$nDelta,"generator":"$gen",""" +
      s""""graph_init_sec":${"%.2f".format(initSec)},""" +
      s""""index_admit_sec":${"%.2f".format(admitIdxSec)},""" +
      s""""graph_wave_sec":${"%.2f".format(waveSec)},""" +
      s""""community_refresh_sec":${"%.2f".format(refreshSec)},""" +
      s""""serve_queries":${s.queries},""" +
      s""""serve_asset_sec":${"%.2f".format(s.assetSec)},""" +
      s""""serve_inline_sec":${"%.2f".format(s.inlineSec)},""" +
      s""""recall_top1":"${s.strictHits}/${s.queries}",""" +
      s""""recall_q":"${s.tieHits}/${s.queries}",""" +
      s""""recall_floor_micro":${GraphAnn.ServeRecallFloorMicro},$heapFields,"sf":"$d"}""")
    spark.stop()
  }
}
