package graft
import org.apache.spark.sql.Encoders
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.streaming.Model._
import graft.streaming.Pipelines

object Bench {

  /** Fixed-work single-thread integer kernel, timed — the ENVIRONMENT
    * CALIBRATION CANARY (round 17, r16 verdict #2/#3): the iteration
    * count is pinned, so the wall time measures the machine, never the
    * code under test. Two rounds of bench adjudication (r15, r16) had
    * to re-derive "contended vs regressed" from cross-round re-runs of
    * old HEADs; with the canary (plus the load average) in every
    * artifact, a contended run is machine-readable as contended from
    * the JSON alone — e.g. the driver's BENCH_r16.json carried qx83 at
    * 293 s vs 0.23 s isolated with nothing in the artifact saying the
    * host was busy. Runs once untimed (JIT) then timed. */
  private val CanaryIters = 600000000L
  def canarySec(): Double = {
    def burn(n: Long): Long = {
      var x = 0x9E3779B97F4A7C15L; var i = 0L
      while (i < n) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; i += 1 }
      x
    }
    val sink = burn(CanaryIters / 10)
    val t0 = System.nanoTime()
    val sink2 = burn(CanaryIters)
    val sec = (System.nanoTime() - t0) / 1e9
    if ((sink | sink2) == 42L) System.err.print("")
    sec
  }

  /** Host load fields for a JSON section: 1-min load average over the
    * host's core count plus the raw readings. */
  def loadJson(): String = {
    val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    val la = os.getSystemLoadAverage
    val nc = Runtime.getRuntime.availableProcessors
    s""""load_avg":$la,"host_cpus":$nc"""
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // SPARK_GRAFT_FORCE_DIST=1 (off by default) times the distributed
    // spelling of every size-gated query, the record kept as
    // BENCH_FULL_r18_dist.json.
    val spark = GraftSession("graft-bench")
    val cpus = GraftSession.cpus(sys.env)
    // Environment self-description at bench open (r16 verdict #2/#3):
    // load average + the fixed-work canary, BEFORE any query runs.
    val openLoad = loadJson()
    val openCanary = canarySec()
    // Warm up the JVM/codegen paths once so the first measured query is
    // not charged session bring-up cost.
    spark.range(1000).selectExpr("sum(id)").collect()
    // Round-2 verdict #7: single-shot times carried ±2 s JIT/bench-order
    // jitter that read as regressions. Run each query `reps` times and
    // report the per-query MIN — the stable, noise-floor number — AND the
    // per-query MAX (round-4 verdict #3: a polluted run showed up as
    // inexplicable min-of-3 spikes on untouched queries; with max in the
    // artifact, "all reps slow" (environment) vs "best rep slow"
    // (regression) is decidable from the JSON alone).
    val reps = sys.env.getOrElse("SPARK_GRAFT_BENCH_N", "3").toInt
    // qx13 was bench-skipped rounds 5-8 while its gate build was the
    // K-tracks-n quadratic demonstration; round 9 bounds the gate K at
    // the power-of-2 sqrt (IvfAnn.gateCentroidsFor, O(n^1.5) build), so
    // it benches again by default.
    val skip = sys.env.getOrElse("SPARK_GRAFT_BENCH_SKIP", "")
      .split(",").map(_.trim).filter(_.nonEmpty).toSet
    // Probe subsets (e.g. a documents-only 100× corpus with no
    // events/embeddings tables): bench ONLY the named queries.
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    // A failing query must surface as an explicit error, never as an
    // innocent-looking fast time.
    val outcomes = SparkEntry.queries
      .filter(kv => only.forall(_.contains(kv._1)))
      .filterNot(kv => skip(kv._1)).map { case (name, fn) =>
      val res: Either[String, (Double, Double)] =
        try {
          val times = (1 to reps).map { _ =>
            val t0 = System.nanoTime()
            fn(spark, sfDir).count()
            (System.nanoTime() - t0) / 1e9
          }
          Right((times.min, times.max))
        } catch { case e: Throwable =>
          Left(Option(e.getMessage).getOrElse(e.getClass.getName).takeWhile(_ != '\n').take(200))
        }
      // Block hygiene BETWEEN queries (round 17, guide §5 "unpersist when
      // done"): iterative queries leave localCheckpoint/cache blocks
      // behind (nothing references them after the count), and across
      // 151 queries × reps the storage pool otherwise drains only on GC
      // pressure — cleanup storms then land INSIDE later queries' timed
      // reps (the r16 artifact's qx83 at 293 s vs 0.23 s solo is partly
      // this class). Runs outside every timed window; measurement
      // methodology (count() action, rep discipline, min/max) unchanged.
      // INVARIANT (ADVICE r17): no DataFrame is memoized across queries —
      // every query derives from parquet inside its own reps — so
      // dropping localCheckpointed blocks (whose lineage is truncated and
      // thus UNRECOVERABLE) is safe. Any future session-scoped
      // checkpointed asset must instead snapshot getPersistentRDDs before
      // the query and unpersist only ids created during it.
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = false))
      name -> res
    }

    // Round-11 verdict #6: qx79b is build-bound by declaration, so its one
    // min-sec number conflates train+encode with probe-bound serving, and
    // every corpus-regeneration drift has needed a manual min-of-5
    // adjudication. Record the production split alongside the gate number:
    // build = HybridIndex.build (ivfadcAssetsFrom train+encode plus asset
    // persist + lexical stats), serve = HybridIndex.search over the
    // persisted assets (spec-pinned bit-identical to the monolithic gate)
    // — the next drift is then attributable to build or serve from the
    // artifact alone. Build runs once (it IS the amortized leg); serve
    // takes the min of `reps`.
    val qx79bSplit: Option[(Double, Double)] =
      if (only.forall(_.contains("qx79b_hybrid_ivfadc")) && !skip("qx79b_hybrid_ivfadc"))
        try {
          val idxDir = java.nio.file.Files.createTempDirectory("graft_bench_idx").toString
          val t0 = System.nanoTime()
          graft.operators.HybridIndex.build(spark, sfDir, idxDir)
          val t1 = System.nanoTime()
          val serveMin = (1 to reps).map { _ =>
            val s0 = System.nanoTime()
            graft.operators.HybridIndex.search(spark, idxDir).count()
            (System.nanoTime() - s0) / 1e9
          }.min
          Some(((t1 - t0) / 1e9, serveMin))
        } catch { case _: Throwable => None }
      else None

    // Streaming throughput (round-3 verdict task #5): drive the reference
    // windowed-avg pipeline (source → event-time window avg → sink)
    // through MemoryStream and record events/sec + mean micro-batch
    // turnaround, so streaming-path regressions are visible in the
    // round-over-round artifact, not only as a ScalaTest threshold.
    // Runs AFTER the batch queries so its state-store/GC footprint cannot
    // pollute their timings.
    // Round-9 (r8 verdict #2, StreamBisect measured): per-micro-batch
    // fixed cost is state-store task overhead and scales with the
    // shuffle-partition count — 32 partitions ran ~4,000 ev/s where 8
    // ran ~11,000 in interleaved same-JVM A/B reps, addBatch 1.0 s vs
    // 0.35 s — while this pipeline carries only 40 keys. Size state
    // partitions to KEY CARDINALITY, not core count (the Flink
    // max-parallelism/key-group rule, SURVEY §2.8 P7); the partition
    // count is recorded in the artifact. The remaining cross-round
    // spread (r6 6,037 / r8 3,989 / r8-solo 8,266 at IDENTICAL code
    // and 32 partitions) is machine state, bounded by the same A/B.
    // Round-10 (r9 verdict #7): the documented 4k–13k ev/s machine-state
    // spread makes ONE reading unreadable — run `SPARK_GRAFT_STREAM_N`
    // reps (default 3) and carry the whole rep list in the artifact;
    // headline ev_per_sec is the BEST rep (the throughput analog of the
    // query min) with the median alongside.
    val streamParts = math.min(8, cpus)
    val streamN = sys.env.getOrElse("SPARK_GRAFT_STREAM_N", "3").toInt
    def streamRep(rep: Int): Either[String, (Double, Double)] =
      try {
        spark.conf.set("spark.sql.shuffle.partitions", streamParts.toString)
        implicit val sqlCtx = spark.sqlContext
        implicit val enc = Encoders.product[SensorEvent]
        val input = MemoryStream[SensorEvent]
        val agg = Pipelines.windowAvg(input.toDS())
        val ckpt = java.nio.file.Files.createTempDirectory("graft_bench_ckpt").toString
        val q = agg.writeStream.format("memory").queryName(s"bench_throughput_$rep")
          .outputMode("update").option("checkpointLocation", ckpt).start()
        val nEvents = 40000
        val nChunks = 5
        val events = (0 until nEvents).map { i =>
          SensorEvent(s"sensor_${i % 40}", i.toLong, i.toLong * 2500, 65.0 + i % 10)
        }
        val t0 = System.nanoTime()
        try {
          events.grouped(nEvents / nChunks + 1).foreach { chunk =>
            input.addData(chunk); q.processAllAvailable()
          }
        } finally q.stop()
        val wallSec = (System.nanoTime() - t0) / 1e9
        Right((nEvents / wallSec, wallSec / nChunks))
      } catch { case e: Throwable =>
        Left(Option(e.getMessage).getOrElse(e.getClass.getName).takeWhile(_ != '\n').take(200))
      } finally spark.conf.set("spark.sql.shuffle.partitions", cpus.toString)
    // the streaming leg's own environment reading (r16 verdict #3: the
    // driver artifact's 2,700 ev/s median under contention must be
    // machine-readable as contended — batch queries may have run for
    // minutes by now, so the open reading does not govern here)
    val streamLoad = loadJson()
    val streamCanary = canarySec()
    val streamRuns = (1 to streamN).map(streamRep)
    val streamOk = streamRuns.collect { case Right(r) => r }
    val streaming: Either[String, (Double, Double)] =
      if (streamOk.nonEmpty) Right(streamOk.maxBy(_._1))
      else streamRuns.head

    def jstr(s: String): String =
      "\"" + s.flatMap { case '"' => "\\\""; case '\\' => "\\\\"; case c if c < ' ' => " "; case c => c.toString } + "\""
    val qs = outcomes.collect { case (k, Right((mn, _))) => s"\"$k\":$mn" }.mkString("{", ",", "}")
    val qsMax = outcomes.collect { case (k, Right((_, mx))) => s"\"$k\":$mx" }.mkString("{", ",", "}")
    val errs = outcomes.collect { case (k, Left(m)) => s"\"$k\":${jstr(m)}" }.mkString("{", ",", "}")
    val total = outcomes.values.collect { case Right((mn, _)) => mn }.sum
    val streamJson = streaming match {
      case Right((evs, lat)) =>
        val reps = streamOk.map(r => math.round(r._1)).mkString("[", ",", "]")
        val sortedEv = streamOk.map(_._1).sorted
        val median = math.round(sortedEv(sortedEv.size / 2))
        s"""{"ev_per_sec":${math.round(evs)},"ev_per_sec_median":$median,""" +
          s""""ev_per_sec_reps":$reps,"batch_sec":$lat,"state_partitions":$streamParts,""" +
          s""""canary_sec":$streamCanary,$streamLoad}"""
      case Left(m)           => s"""{"error":${jstr(m)},"canary_sec":$streamCanary,$streamLoad}"""
    }
    val skipped = skip.toSeq.sorted.map(jstr).mkString("[", ",", "]")
    val splitJson = qx79bSplit match {
      case Some((b, s)) => s"""{"build_sec":$b,"serve_sec":$s}"""
      case None         => "null"
    }
    val line = s"""{"metric":"total","value":$total,"unit":"sec","n":$reps,"stat":"min","canary_sec":$openCanary,$openLoad,"queries":$qs,"queries_max":$qsMax,"errors":$errs,"skipped":$skipped,"qx79b_split":$splitJson,"streaming":$streamJson,"sf":"$sfDir"}"""
    println(line)
    // Round-5 verdict #2: BENCH_r05's stdout tail capture truncated
    // mid-JSON, losing the total and half the per-query mins. Write the
    // identical line to a file so the artifact can never silently degrade
    // with the driver's capture window.
    val outFile = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench_out.json")
    try java.nio.file.Files.write(java.nio.file.Paths.get(outFile),
      (line + "\n").getBytes("UTF-8"))
    catch { case e: Throwable =>
      System.err.println(s"bench_out write failed: ${e.getMessage}") }
    spark.stop()
  }
}
