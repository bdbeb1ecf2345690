package graft

import org.apache.spark.sql.Encoders
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.streaming.Model._
import graft.streaming.Pipelines

/** Round-9 diagnostic for the streaming-throughput slide (r8 verdict
  * #2: 6,037 → 3,989 ev/s across rounds on an unchanged
  * `Bench.scala` pipeline). Runs the EXACT bench pipeline several
  * reps inside ONE JVM, each rep optionally under a different
  * shuffle-partition count, and prints Spark's own per-batch
  * `durationMs` breakdown (addBatch / walCommit / stateCommit /
  * queryPlanning / triggerExecution) — so "environment got slower"
  * vs "a fixed per-batch cost grew" is decidable from one run.
  *
  * Usage: runMain graft.StreamBisect [reps] [partitionsCsv] [keys] [events]
  * e.g. `runMain graft.StreamBisect 6 32,8,32,8,32,8` interleaves
  * 32- and 8-partition reps A/B/A/B in one JVM; `... 6 8,32 10000`
  * re-runs the same A/B at 10k distinct sensor keys (the round-10
  * verdict's cardinality question: the min(8, cpus) sizing rule is
  * measured at 40 keys — where is the crossover?).
  */
object StreamBisect {
  def main(args: Array[String]): Unit = {
    val reps = if (args.length > 0) args(0).toInt else 6
    val parts: Seq[Int] =
      if (args.length > 1) args(1).split(",").map(_.trim.toInt).toSeq
      else Seq.fill(reps)(32)
    val keys = if (args.length > 2) args(2).toInt else 40
    val nEvents = if (args.length > 3) args(3).toInt else 40000
    val spark = GraftSession("graft-stream-bisect")
    spark.range(1000).selectExpr("sum(id)").collect()

    (0 until reps).foreach { rep =>
      val p = parts(rep % parts.length)
      // The state-partition count is the variable under test.
      spark.conf.set("spark.sql.shuffle.partitions", p.toString)
      implicit val sqlCtx = spark.sqlContext
      implicit val enc = Encoders.product[SensorEvent]
      val input = MemoryStream[SensorEvent]
      val agg = Pipelines.withEventTime(input.toDS(), "5 seconds")
        .withColumn("temp_c", (col("value") - 32) * 5.0 / 9.0)
        .groupBy(col("sensor_id"), window(col("ts"), "5 seconds"))
        .agg(avg("temp_c").as("avg_temp"))
      val ckpt = java.nio.file.Files.createTempDirectory(s"graft_bisect_$rep").toString
      val q = agg.writeStream.format("memory").queryName(s"bisect_$rep")
        .outputMode("update").option("checkpointLocation", ckpt).start()
      val nChunks = 5
      val events = (0 until nEvents).map { i =>
        SensorEvent(s"sensor_${i % keys}", i.toLong, i.toLong * 2500, 65.0 + i % 10)
      }
      val t0 = System.nanoTime()
      try {
        events.grouped(nEvents / nChunks + 1).foreach { chunk =>
          input.addData(chunk); q.processAllAvailable()
        }
      } finally q.stop()
      val wallSec = (System.nanoTime() - t0) / 1e9
      // Mean per-batch durations over the data-carrying batches.
      val progs = q.recentProgress.filter(_.numInputRows > 0)
      def mean(key: String): Long =
        if (progs.isEmpty) -1
        else progs.flatMap(pr => Option(pr.durationMs.get(key)).map(_.toLong))
          .sum / math.max(progs.length, 1)
      println(f"""{"rep":$rep,"partitions":$p,"keys":$keys,"ev_per_sec":${math.round(nEvents / wallSec)},""" +
        f""""wall_sec":$wallSec%.2f,"batches":${progs.length},""" +
        f""""addBatch_ms":${mean("addBatch")},"walCommit_ms":${mean("walCommit")},""" +
        f""""commitOffsets_ms":${mean("commitOffsets")},""" +
        f""""queryPlanning_ms":${mean("queryPlanning")},"trigger_ms":${mean("triggerExecution")}}""")
    }
    spark.stop()
  }
}
