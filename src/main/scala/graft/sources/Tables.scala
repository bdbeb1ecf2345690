package graft.sources

import java.io.FileNotFoundException

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Readers for the driver-generated parquet tables (TESTDATA.md).
  *
  * All time handling is anchored on integer epoch arithmetic: `events.ts`
  * is exposed to every consumer as a raw Long of epoch NANOS, and ms/us/
  * timestamp views are derived with integer `div` (double math would lose
  * precision at 1e18). This keeps every derived time column bit-identical
  * to the DuckDB oracle's `epoch_ms`/`epoch_us`.
  *
  * The driver has generated `ts` under two different parquet physical
  * types across rounds — TIMESTAMP(NANOS) (unrepresentable natively;
  * read as raw nanos via `spark.sql.legacy.parquet.nanosAsLong`) and
  * TIMESTAMP(MICROS) (plain TimestampNTZ) — so [[events]] sniffs the
  * loaded schema and normalizes BOTH to the nanos-Long contract
  * (`unix_micros * 1000` is exact and fits a Long until 2262). The
  * NTZ→timestamp cast is wall-clock-identity because the session TZ is
  * pinned UTC for every session graft builds ([[graft.GraftSession]]).
  *
  * Schema per version: a schema-less `spark.read.parquet` runs a footer-
  * inference job on every call (~90 ms at test scale, against ~11 ms for
  * the same read given a schema). Each read instead resolves the schema
  * once per session and per FILE VERSION — the qualified path plus every
  * listed leaf file's length and modification time — and reads with
  * `spark.read.schema(s)`. A table rewritten in place lists differently,
  * so it is re-inferred, and only its latest version is kept; the
  * NANOS/MICROS sniff in [[events]] always sees the schema of the files
  * actually on disk. The listing and the data scan still happen on every
  * read; only the inference job is saved. Sessions are held weakly, so a
  * stopped session does not pin entries.
  */
object Tables {
  /** Leaf files of a table: (path, length, modification time), sorted. */
  private type Files = Seq[(String, Long, Long)]

  /** Per session: qualified table path -> (its files, their schema). */
  private val schemas = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[SparkSession, java.util.Map[String, (Files, StructType)]]())

  private def read(spark: SparkSession, dir: String, name: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val path = s"$dir/$name.parquet"
    listing(spark, path) match {
      case None => spark.read.parquet(path) // missing: Spark's own error
      case Some((qualified, files)) =>
        val bySession = schemas.computeIfAbsent(spark,
          _ => new java.util.concurrent.ConcurrentHashMap[String, (Files, StructType)]())
        val (_, schema) = bySession.compute(qualified, (_, known) =>
          if (known != null && known._1 == files) known
          else (files, spark.read.parquet(path).schema))
        spark.read.schema(schema).parquet(path)
    }
  }

  /** The qualified path and leaf files of `path`, or None when it does
    * not exist. */
  private def listing(spark: SparkSession, path: String): Option[(String, Files)] = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    val q = fs.makeQualified(p)
    try {
      val it = fs.listFiles(q, true)
      val files = Seq.newBuilder[(String, Long, Long)]
      while (it.hasNext) {
        val f = it.next()
        files += ((f.getPath.toString, f.getLen, f.getModificationTime))
      }
      Some((q.toString, files.result().sortBy(_._1)))
    } catch { case _: FileNotFoundException => None }
  }

  def region(spark: SparkSession, dir: String): DataFrame    = read(spark, dir, "region")
  def nation(spark: SparkSession, dir: String): DataFrame    = read(spark, dir, "nation")
  def customer(spark: SparkSession, dir: String): DataFrame  = read(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame  = read(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame      = read(spark, dir, "part")
  def orders(spark: SparkSession, dir: String): DataFrame    = read(spark, dir, "orders")
  def lineitem(spark: SparkSession, dir: String): DataFrame  = read(spark, dir, "lineitem")

  def events(spark: SparkSession, dir: String): DataFrame = {
    val df = read(spark, dir, "events")
    df.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType => df // TIMESTAMP(NANOS) as raw nanos
      case _ => // TIMESTAMP(MICROS) (NTZ or TZ): exact integer micros → nanos
        df.withColumn("ts", unix_micros(col("ts").cast("timestamp")) * lit(1000L))
    }
  }
  def documents(spark: SparkSession, dir: String): DataFrame = read(spark, dir, "documents")
  def embeddings(spark: SparkSession, dir: String): DataFrame = read(spark, dir, "embeddings")

  /** Sensor-telemetry view of `events`: the reference's SensorReading domain
    * (reference Q/util/SensorSource.java:48-66, Q/util/SensorReading.java:25-29)
    * mapped onto the driver's events table per FIXTURES.md §2:
    * `user_id % 80` -> sensor id, `value` -> temperature.
    *
    * Columns: event_id, sensor_id, ts_ms, ts_us (exact integer epochs),
    * ts (TimestampType, microsecond truncation of the nano timestamp),
    * value, event_type.
    */
  def sensorReadings(spark: SparkSession, dir: String): DataFrame =
    events(spark, dir).select(
      col("event_id"),
      concat(lit("sensor_"), col("user_id") % 80).as("sensor_id"),
      expr("ts div 1000000").as("ts_ms"),
      expr("ts div 1000").as("ts_us"),
      expr("timestamp_micros(ts div 1000)").as("ts"),
      col("value"),
      col("event_type"))
}
