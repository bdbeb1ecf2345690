package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.{Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.GraftSession

import Model._

/** The reference's five executable programs, each as a live Structured
  * Streaming pipeline over the engine's own sources and processors:
  *
  *  1. average    — Q/AverageSensorReadings.java:61-79 (see StreamingMain)
  *  2. basic      — Q/BasicTransformations.java:47-81 (filter/map/flatMap)
  *  3. keyed      — Q/KeyedTransformations.java:43-67 (rolling max-by)
  *  4. rollingsum — Q/RollingSum.java:31-44 (fromElements + keyed sum)
  *  5. multi      — Q/MultiStreamTransformations.java:46-72 (co-process)
  *
  * Usage: runMain graft.streaming.ReferencePrograms [program|all] [seconds]
  * A user of the reference runs the same five mains and reads the same
  * console output shapes — this is the "switch libraries" completeness
  * check, live rather than as batch twins.
  */
object ReferencePrograms {

  private def run(q: StreamingQuery, seconds: Int): Unit = {
    q.awaitTermination(seconds * 1000L)
    q.stop()
  }

  private def console(df: org.apache.spark.sql.DataFrame, mode: String): StreamingQuery =
    df.writeStream.format("console")
      .outputMode(mode)
      .option("truncate", "false")
      .option("checkpointLocation", Files.createTempDirectory("graft_ref_ckpt").toString)
      .trigger(Trigger.ProcessingTime("1 second"))
      .start()

  /** filter(temp >= 25) → map to id → flatMap split on "_" (T1/T3/T6),
    * sink-agnostic — the console main and the file-sink spec
    * ([[graft.ReferenceProgramSinkSpec]]) drive the same plan. */
  def basicPipeline(spark: SparkSession): org.apache.spark.sql.DataFrame =
    SensorSource.stream(spark).toDF()
      .filter(col("value") >= 25)
      .select(explode(split(col("sensor_id"), "_")).as("token"))

  def basic(spark: SparkSession, seconds: Int): Unit =
    run(console(basicPipeline(spark), "append"), seconds)

  /** keyBy(id) → rolling reduce keeping the highest-temperature reading,
    * emitted per event (A1/A2). */
  def keyed(spark: SparkSession, seconds: Int): Unit =
    run(console(Pipelines.rollingMax(SensorSource.stream(spark)).toDF(), "update"), seconds)

  /** fromElements tuples → keyBy(_1) → rolling sum(_2) (S3/A3): the
    * bounded literal source is a MemoryStream fed once. */
  def rollingSum(spark: SparkSession, seconds: Int): Unit = {
    implicit val sqlCtx = spark.sqlContext
    implicit val enc = Encoders.product[(Long, Long, Long)]
    val input = MemoryStream[(Long, Long, Long)]
    input.addData((1L, 2L, 2L), (2L, 3L, 1L), (2L, 2L, 4L), (1L, 5L, 3L))
    val sums = input.toDS().toDF("f0", "f1", "f2")
      .groupBy("f0").agg(sum("f1").as("sum_f1"))
    run(console(sums, "update"), seconds)
  }

  /** Two sources co-processed (M2/S2): sensor stream + 1 ev/s
    * smoke-level control stream (HIGH ≈ 21% of seconds, the
    * reference's gaussian threshold); alert when latest level is HIGH
    * and temp > `threshold` — sink-agnostic, with the threshold
    * parameterized so the spec can force alerts deterministically. */
  def multiPipeline(spark: SparkSession,
                    threshold: Double = 100.0): org.apache.spark.sql.DataFrame = {
    implicit val tEnc = Encoders.product[(Long, String)]
    val smoke = spark.readStream.format("rate").option("rowsPerSecond", 1L).load()
      .select(unix_micros(col("timestamp")).as("ts_us"),
        // Deterministic stand-in for the reference's rand.nextGaussian()>0.8:
        // ~21% of seconds are HIGH.
        when(pmod(hash(col("value")), lit(100)) < 21, "HIGH").otherwise("LOW").as("level"))
      .as[(Long, String)](tEnc)
    val data = SensorSource.stream(spark)
    val keys = (0 until 10).map(i => s"sensor_$i")
    Pipelines.controlAlerts(data, smoke, keys, threshold).toDF()
  }

  def multi(spark: SparkSession, seconds: Int): Unit =
    run(console(multiPipeline(spark), "update"), seconds)

  def main(args: Array[String]): Unit = {
    val program = args.headOption.getOrElse("all")
    val seconds = args.lift(1).map(_.toInt).getOrElse(10)
    val spark = GraftSession(s"graft-reference-$program")
    val programs: Map[String, Int => Unit] = Map(
      "average" -> (s => StreamingMain.run(spark, s, 100)),
      "basic" -> (s => basic(spark, s)),
      "keyed" -> (s => keyed(spark, s)),
      "rollingsum" -> (s => rollingSum(spark, s)),
      "multi" -> (s => multi(spark, s)))
    program match {
      case "all" => Seq("average", "basic", "keyed", "rollingsum", "multi").foreach { p =>
        println(s"=== $p ==="); programs(p)(seconds)
      }
      case p => programs(p)(seconds)
    }
    spark.stop()
  }
}
