package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.GraftSession

/** End-to-end streaming run of the reference's flagship program
  * (Q/AverageSensorReadings.java:61-79): SensorSource → °F→°C → per-sensor
  * 5 s tumbling event-time window average → console sink (K1), as a real
  * `writeStream` with a checkpointLocation (F14).
  *
  * Usage: runMain graft.streaming.StreamingMain [durationSec] [rowsPerSec]
  *    or: runMain graft.streaming.StreamingMain door [outDir]
  *    or: runMain graft.streaming.StreamingMain crawl [outDir]
  * (`door` runs the composed live ingest pipeline — see [[IngestDoor]];
  * `crawl` runs the live crawl front door — see [[CrawlDoor]].)
  */
object StreamingMain {
  def main(args: Array[String]): Unit = {
    if (args.headOption.contains("door")) { doorMain(args.lift(1)); return }
    if (args.headOption.contains("crawl")) { crawlMain(args.lift(1)); return }
    val durationSec = args.headOption.map(_.toInt).getOrElse(15)
    val rowsPerSec = args.lift(1).map(_.toInt).getOrElse(100)
    val spark = GraftSession("graft-average-sensor-readings")
    run(spark, durationSec, rowsPerSec)
    spark.stop()
  }

  /** The flagship pipeline on a caller-owned session (ReferencePrograms
    * shares one session across all five programs — only main() may stop it). */
  def run(spark: SparkSession, durationSec: Int, rowsPerSec: Int): Unit = {
    val checkpoint = Files.createTempDirectory("graft_flagship_ckpt").toString
    val readings = Pipelines.windowAvg(SensorSource.stream(spark, rowsPerSec))
      .select(col("sensor_id"), col("window.end").as("window_end"), col("avg_temp"))

    val query = readings.writeStream
      .format("console")
      .outputMode("update")
      .option("truncate", "false")
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.ProcessingTime("1 second"))
      .start()
    query.awaitTermination(durationSec * 1000L)
    query.stop()
  }

  /** Live end-to-end run of the composed ingest door ([[IngestDoor]])
    * over the sf0.001 documents: eval set = every 25th doc, corpus
    * backfill = 60% of the rest, live intake = the remaining 40% fed in
    * waves. All three checkpointed stages run concurrently; the packed
    * manifest is compacted into a hive-partitioned curated layout and
    * summarized on stdout. */
  def doorMain(outDirOpt: Option[String]): Unit = {
    val spark = GraftSession("graft-ingest-door")
    import spark.implicits._
    import graft.streaming.IngestDoor.DoorDoc
    import graft.functions.BloomFilter

    val base = outDirOpt.getOrElse(Files.createTempDirectory("graft_door").toString)
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select("doc_id", "lang", "text", "source").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getString(3)))
      .toSeq.sortBy(_._1)
    val evalDocs = docs.collect { case (id, _, _, _) if id % 25 == 0 => id }.toSet
    val evalWins = docs.filter(d => evalDocs.contains(d._1))
      .flatMap(d => DeconStream.windowHashes(d._3)).toSet
    val mWords = 1024
    val d = 3
    val image = new Array[Long](mWords)
    for (s <- evalWins; i <- 0 until d) {
      val bit = BloomFilter.bitOf(s, i, mWords)
      image((bit / 64).toInt) |= 1L << (bit % 64).toInt
    }
    val rest = docs.filterNot(x => evalDocs.contains(x._1))
    val (corpus, live) = rest.splitAt(rest.size * 3 / 5)

    // Quality model trained on the STANDING CORPUS split (the production
    // discipline: fit the filter on the frozen snapshot, meter the live
    // intake with it) — the qx63 arithmetic in plain Scala.
    val labeled = corpus.flatMap { case (_, _, text, source) =>
      val pos = source.drop(3).toLong % 4 == 0
      text.split(" ").filter(_.nonEmpty).map(w => (w, pos))
    }
    val counts = labeled.groupBy(_._1).map { case (w, ws) =>
      val cp = ws.count(_._2).toLong
      (w, (cp, ws.length.toLong - cp))
    }
    val tPos = counts.valuesIterator.map(_._1).sum
    val tNeg = counts.valuesIterator.map(_._2).sum
    val model = QualityGateStream.Model(counts,
      10000L * (tPos + counts.size) / (tNeg + counts.size))
    println(s"[door] quality screen: ${live.count(x => !QualityGateStream.passes(x._3, model))}" +
      s" of ${live.size} live docs will be rejected")

    implicit val sqlCtx = spark.sqlContext
    val input = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[DoorDoc]
    val q1 = IngestDoor.gateStage(input.toDS(), image, d, evalWins, evalDocs,
      s"$base/staged", s"$base/ckpt1", quality = Some(model))
    val q2 = IngestDoor.budgetStage(spark, s"$base/staged", s"$base/budget",
      budgetPerLang = 20000L, s"$base/ckpt2")
    val q3 = IngestDoor.packStage(spark, s"$base/budget", s"$base/packed",
      chunkLen = 256L, seqLen = 1024L, s"$base/ckpt3")
    input.addData(corpus.map { case (id, lang, t, _) => DoorDoc(id, lang, t, is_new = false) })
    q1.processAllAvailable()
    live.grouped(live.size / 4 + 1).foreach { wave =>
      input.addData(wave.map { case (id, lang, t, _) => DoorDoc(id, lang, t, is_new = true) })
      q1.processAllAvailable(); q2.processAllAvailable(); q3.processAllAvailable()
      def countIn(root: String, schema: org.apache.spark.sql.types.StructType): Long =
        if (new java.io.File(root).exists())
          spark.read.schema(schema).parquet(s"$root/batch=*").count()
        else 0L
      val staged = countIn(s"$base/staged", IngestDoor.stagedSchema)
      val packed = countIn(s"$base/packed",
        org.apache.spark.sql.Encoders.product[PackingStream.SeqAssigned].schema)
      println(s"[door] wave: +${wave.size} live docs -> $staged admitted, $packed chunk assignments")
    }
    q1.stop(); q2.stop(); q3.stop()
    IngestDoor.compact(spark, s"$base/packed", s"$base/curated")
    val curated = spark.read.parquet(s"$base/curated")
    println(s"[door] curated layout at $base/curated: ${curated.count()} assignments, " +
      s"languages=${curated.select("lang").distinct().collect().map(_.getString(0)).sorted.mkString(",")}")
    spark.stop()
  }

  /** Live end-to-end run of the crawl front door ([[CrawlDoor]]): the
    * qx77 crawl archive over sf0.001 fed in doc_id-ordered waves
    * through unwrap+robots → frontier → dedup stages, then the funnel
    * summary printed next to batch qx77's row (they must agree —
    * CrawlDoorSpec pins it under kill/restart too). */
  def crawlMain(outDirOpt: Option[String]): Unit = {
    val spark = GraftSession("graft-crawl-door")
    val sfDir = "/root/testdata/sf0.001"
    val base = outDirOpt.getOrElse(Files.createTempDirectory("graft_crawl").toString)

    val media = graft.queries.ExtQueries.qx77Media(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getAs[Array[Byte]](1))).sortBy(_._1)
    println(s"[crawl] ${media.length} archived fetches; door at $base")

    implicit val sqlCtx = spark.sqlContext
    implicit val enc = org.apache.spark.sql.Encoders.tuple(
      org.apache.spark.sql.Encoders.scalaLong, org.apache.spark.sql.Encoders.BINARY)
    val input = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, Array[Byte])]
    // Since r10 the LIVE door is the PACED four-stage composition: a
    // 1 s crawl-delay on every domain, so the console run exercises
    // the politeness stage the way production would (the spec pins the
    // funnel identical with or without pacing).
    val robots = (0 until 32).map(i => s"m$i.example" -> "User-agent: *\nCrawl-delay: 1\n").toMap
    val q1 = CrawlDoor.unwrapStage(input.toDF().toDF("doc_id", "warc"),
      robotsByDomain = robots, ua = "graftbot",
      s"$base/staged", s"$base/ck1")
    val q2 = CrawlDoor.frontierStage(spark, s"$base/staged", s"$base/frontier", s"$base/ck2")
    val qp = CrawlDoor.paceStage(spark, s"$base/frontier", s"$base/paced", s"$base/ckp")
    val q3 = CrawlDoor.dedupStage(spark, s"$base/paced", s"$base/manifest", s"$base/ck3")
    media.grouped(media.length / 4 + 1).foreach { wave =>
      input.addData(wave.toSeq)
      q1.processAllAvailable(); q2.processAllAvailable()
      qp.processAllAvailable(); q3.processAllAvailable()
      println(s"[crawl] wave: +${wave.length} fetches")
    }
    // Heartbeats drain the pending politeness timers before the census.
    for (i <- 1 to 2) {
      CrawlDoor.writeHeartbeat(spark, s"$base/frontier", i)
      qp.processAllAvailable(); q3.processAllAvailable()
    }
    q1.stop(); q2.stop(); qp.stop(); q3.stop()
    val live = CrawlDoor.counts(spark, s"$base/staged", s"$base/manifest").collect().head
    val batch = graft.queries.ExtQueries.qx77(spark, sfDir).collect().head
    println(s"[crawl] live door: $live")
    println(s"[crawl] batch qx77: $batch")
    println(s"[crawl] agree: ${live == batch}")
    spark.stop()
  }
}
