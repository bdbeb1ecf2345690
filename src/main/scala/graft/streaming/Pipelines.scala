package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, TimeMode}

import Model._
import Processors._

/** Wiring from DataFrames to the stateful processors — the `keyBy(...)
  * .process(...)` surface of the reference rendered as
  * `groupByKey(...).transformWithState(...)` (SURVEY.md §2.9 F1).
  *
  * Every builder takes a Dataset[SensorEvent] (or two, for the connected
  * pair) so the same pipeline runs over a MemoryStream, the rate-source
  * twin, or a batch read — stream/batch unification is the point of the
  * Spark re-design.
  */
object Pipelines {

  /** events parquet (or an equivalent streaming frame) → typed sensor
    * events. Keeps exact integer µs event time (see Tables.sensorReadings). */
  def toSensorEvents(df: DataFrame): Dataset[SensorEvent] = {
    implicit val enc = Encoders.product[SensorEvent]
    df.select(col("sensor_id"), col("event_id"), col("ts_us"), col("value")).as[SensorEvent]
  }

  /** Attach an event-time column + watermark (E1/E2: the reference's
    * bounded-out-of-orderness assigner, Q/util/SensorTimeAssigner.java:33 —
    * watermark = max event time − delay; `withWatermark` is the identical
    * formula). Extra `ts` column rides along; typed ops ignore it. */
  def withEventTime(ds: Dataset[SensorEvent], delay: String): Dataset[SensorEvent] = {
    implicit val enc = Encoders.product[SensorEvent]
    ds.withColumn("ts", timestamp_micros(col("ts_us")))
      .withWatermark("ts", delay)
      .as[SensorEvent]
  }

  /** K1 — the reference's flagship chain (Q/AverageSensorReadings.java:61-79):
    * event time behind a 5 s watermark ([[withEventTime]]), the °F→°C map
    * (T5), then the per-sensor 5 s tumbling event-time window average.
    * Columns: sensor_id, window, avg_temp. */
  def windowAvg(ds: Dataset[SensorEvent]): DataFrame =
    withEventTime(ds, "5 seconds")
      .withColumn("temp_c", (col("value") - 32) * 5.0 / 9.0)
      .groupBy(col("sensor_id"), window(col("ts"), "5 seconds"))
      .agg(avg("temp_c").as("avg_temp"))

  /** E9 — ingestion time: stamp arrival time as the event-time column
    * (the reference's IngestionTime characteristic, 정리/4주차.md:10-12).
    * Processing semantics downstream are identical to event time on the
    * stamped column. */
  def withIngestionTime(ds: Dataset[SensorEvent]): Dataset[SensorEvent] = {
    implicit val enc = Encoders.product[SensorEvent]
    ds.withColumn("ts", current_timestamp()).as[SensorEvent]
  }

  /** F4 — |Δvalue| > threshold alerts (streaming twin of q08). */
  def deltaAlerts(ds: Dataset[SensorEvent], threshold: Double = 1.7): Dataset[DeltaAlert] = {
    implicit val out = Encoders.product[DeltaAlert]
    ds.groupByKey(_.sensor_id)(Encoders.STRING)
      .transformWithState(new DeltaAlertProcessor(threshold), TimeMode.None(), OutputMode.Update())
  }

  /** W12 — tumbling count windows of n events (streaming twin of q13). */
  def countWindows(ds: Dataset[SensorEvent], n: Int = 10): Dataset[CountWindowRow] = {
    implicit val out = Encoders.product[CountWindowRow]
    ds.groupByKey(_.sensor_id)(Encoders.STRING)
      .transformWithState(new CountWindowProcessor(n), TimeMode.None(), OutputMode.Update())
  }

  /** A2 — exact per-event rolling max (Update-mode rolling reduce). */
  def rollingMax(ds: Dataset[SensorEvent]): Dataset[RunningMax] = {
    implicit val out = Encoders.product[RunningMax]
    ds.groupByKey(_.sensor_id)(Encoders.STRING)
      .transformWithState(new RollingMaxProcessor, TimeMode.None(), OutputMode.Update())
  }

  /** F2/F3 — timer-based temp-increase alerts. Input must already carry a
    * watermark (use [[withEventTime]]); timers fire as the watermark
    * advances, exactly Flink's event-time TimerService contract. */
  def tempIncreaseAlerts(ds: Dataset[SensorEvent], horizonMs: Long = 1000L): Dataset[Alert] = {
    implicit val out = Encoders.product[Alert]
    ds.groupByKey(_.sensor_id)(Encoders.STRING)
      .transformWithState(new TempIncreaseAlertProcessor(horizonMs),
        TimeMode.EventTime(), OutputMode.Append())
  }

  /** M2 — connect(data, control.broadcast) co-process: the control stream
    * is replicated to every key of the data stream (`keys` is the known
    * key domain — tiny by construction, exactly the broadcast-state
    * assumption), then both sides are co-processed per key with the latest
    * control level in ValueState. Alert iff latest level == HIGH and
    * value > threshold (reference Q/MultiStreamTransformations.java:83-100). */
  def controlAlerts(data: Dataset[SensorEvent], control: Dataset[(Long, String)],
                    keys: Seq[String], threshold: Double = 100.0): Dataset[Alert] = {
    val spark = data.sparkSession
    implicit val env = Encoders.product[Envelope]
    implicit val out = Encoders.product[Alert]
    val dataEnv = data.map(e => Envelope("data", e.sensor_id, e.event_id, e.ts_us, e.value, ""))
    val keyCol = array(keys.map(lit): _*)
    val ctrlEnv = control.toDF("ts_us", "level")
      .withColumn("sensor_id", explode(keyCol))
      .select(lit("ctrl").as("kind"), col("sensor_id"), lit(-1L).as("event_id"),
        col("ts_us"), lit(0.0).as("value"), col("level"))
      .as[Envelope]
    dataEnv.union(ctrlEnv)
      .groupByKey(_.sensor_id)(Encoders.STRING)
      .transformWithState(new LatestControlProcessor(threshold), TimeMode.None(), OutputMode.Update())
  }

  /** M3 — general coFlatMap: two differently-typed streams co-processed
    * through one keyed processor after envelope tagging. The reference's
    * CoFlatMapFunction callbacks map to the kind-dispatch inside
    * [[Processors.LatestControlProcessor]]; this generic form lets callers
    * supply their own processor. */
  def connect[O: org.apache.spark.sql.Encoder](
      left: Dataset[Envelope], right: Dataset[Envelope],
      processor: org.apache.spark.sql.streaming.StatefulProcessor[String, Envelope, O]): Dataset[O] =
    left.union(right)
      .groupByKey(_.sensor_id)(Encoders.STRING)
      .transformWithState(processor, TimeMode.None(), OutputMode.Update())

  /** M5 streaming — stream-stream interval join: (left, right) pairs with
    * equal keys and right.ts_us ∈ [left.ts_us − beforeUs, left.ts_us +
    * afterUs]. Both sides get watermarks; the range condition is what
    * lets Spark bound each side's buffered state (rows outside
    * watermark±range are evicted) — the reference's interval-join state
    * contract (정리/4주차.md:319-323). Append mode: a pair emits once both
    * matching rows have arrived. */
  def intervalJoin(left: Dataset[SensorEvent], right: Dataset[SensorEvent],
                   beforeUs: Long, afterUs: Long, delay: String = "0 seconds"): DataFrame = {
    val l = left.toDF().withColumn("l_ts", timestamp_micros(col("ts_us")))
      .withWatermark("l_ts", delay)
      .select(col("sensor_id").as("l_key"), col("event_id").as("l_event"),
        col("ts_us").as("l_us"), col("l_ts"))
    val r = right.toDF().withColumn("r_ts", timestamp_micros(col("ts_us")))
      .withWatermark("r_ts", delay)
      .select(col("sensor_id").as("r_key"), col("event_id").as("r_event"),
        col("ts_us").as("r_us"), col("r_ts"))
    // µs-exact bounds (round-4 ADVICE): the old MILLISECONDS form silently
    // truncated sub-ms bounds to 0.
    l.join(r, col("l_key") === col("r_key") &&
      col("r_ts") >= col("l_ts") - expr(s"INTERVAL $beforeUs MICROSECOND") &&
      col("r_ts") <= col("l_ts") + expr(s"INTERVAL $afterUs MICROSECOND"))
      .select(col("l_key").as("sensor_id"), col("l_event"), col("r_event"),
        col("l_us"), col("r_us"))
  }

  /** M6 streaming — window join: both streams bucketed into the same
    * tumbling event-time window, joined on (key, window) equality
    * (정리/4주차.md:327-333). Equality on the window struct keeps this a
    * plain stream-stream equi-join with watermark-bounded state. */
  def windowJoin(left: Dataset[SensorEvent], right: Dataset[SensorEvent],
                 windowDuration: String, delay: String = "0 seconds"): DataFrame = {
    val l = left.toDF().withColumn("l_ts", timestamp_micros(col("ts_us")))
      .withWatermark("l_ts", delay)
      .select(col("sensor_id").as("l_key"), col("event_id").as("l_event"),
        window(col("l_ts"), windowDuration).as("l_win"))
    val r = right.toDF().withColumn("r_ts", timestamp_micros(col("ts_us")))
      .withWatermark("r_ts", delay)
      .select(col("sensor_id").as("r_key"), col("event_id").as("r_event"),
        window(col("r_ts"), windowDuration).as("r_win"))
    l.join(r, col("l_key") === col("r_key") && col("l_win") === col("r_win"))
      .select(col("l_key").as("sensor_id"), unix_millis(col("l_win.end")).as("window_end_ms"),
        col("l_event"), col("r_event"))
  }

  /** F6 — MapState-backed concurrent tumbling windows per sensor (the
    * per-key-map state primitive). Input must carry a watermark
    * ([[withEventTime]]); rows emit as the watermark closes each window. */
  def mapWindowCounts(ds: Dataset[SensorEvent], windowMs: Long): Dataset[CountWindowRow] = {
    implicit val out = Encoders.product[CountWindowRow]
    ds.groupByKey(_.sensor_id)(Encoders.STRING)
      .transformWithState(new MapWindowCountsProcessor(windowMs),
        TimeMode.EventTime(), OutputMode.Append())
  }

  /** F10 — TTL'd dedup by event_id. */
  def dedupWithTtl(ds: Dataset[SensorEvent], ttl: java.time.Duration): Dataset[SensorEvent] = {
    implicit val out = Encoders.product[SensorEvent]
    ds.groupByKey(_.event_id)(Encoders.scalaLong)
      .transformWithState(new TtlDedupProcessor(ttl), TimeMode.ProcessingTime(), OutputMode.Update())
  }

  /** W7 — exact median per (sensor, tumbling event-time window), emitted
    * when the watermark passes window end. Returns CountWindowRow with
    * grp = window_end_ms and avg_value = median. */
  def medianPerWindow(ds: Dataset[SensorEvent], windowMs: Long): Dataset[CountWindowRow] = {
    implicit val out = Encoders.product[CountWindowRow]
    ds.groupByKey(e => s"${e.sensor_id}|${(e.ts_us / 1000L / windowMs + 1L) * windowMs}")(Encoders.STRING)
      .transformWithState(new WindowMedianProcessor, TimeMode.EventTime(), OutputMode.Append())
  }
}
