package graftbench

import java.io.{BufferedWriter, FileWriter}
import java.util.SplittableRandom

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Encoders, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.StreamingQuery

import graft.streaming.Model.SensorEvent
import graft.streaming.Pipelines

/** The stream workload, driven as a closed loop: one client hands a
  * pre-built chunk to a `MemoryStream`, then waits for
  * `processAllAvailable` before it builds and hands over the next one.
  * The query is `Pipelines.rollingMax`, the transformWithState rolling
  * argmax, on the RocksDB state store, in update mode to the memory sink.
  *
  * Every fed event and every sink row is written out for the checker. */
object StreamWorkload {
  /** Event-time origin: 2024-01-01T00:00:00Z in µs, a multiple of 5 s. */
  private val T0 = 1704067200000000L
  private val SpanUs = 5000000L

  /** Deterministic chunk generator: chunk k is a function of the seed and
    * of the chunks before it. Each chunk covers 5 s of event time. */
  final class Gen(seed: Long, sensors: Int, chunkEvents: Int) {
    private val rnd = new SplittableRandom(seed * 0x9E3779B97F4A7C15L + 2)
    private var nextId = 0L
    private var k = 0

    private def gauss(): Double = { // Box-Muller on the seeded generator
      val u = 1.0 - rnd.nextDouble(); val v = rnd.nextDouble()
      math.sqrt(-2.0 * math.log(u)) * math.cos(2 * math.Pi * v)
    }

    def next(): Seq[SensorEvent] = {
      val start = T0 + k * SpanUs
      val out = Vector.newBuilder[SensorEvent]
      var j = 0
      while (j < chunkEvents) {
        val s = rnd.nextInt(sensors)
        val id = nextId; nextId += 1
        // ~2 events per key per chunk; two-decimal values so ties occur
        // and the event_id tie-break is exercised.
        val v = math.rint((65.0 + 20.0 * gauss()) * 100) / 100
        out += SensorEvent(s"sensor_$s", id, start + j * (SpanUs / chunkEvents), v)
        j += 1
      }
      k += 1
      out.result()
    }
  }

  def run(spark: SparkSession, a: Harness.Args): String = {
    implicit val sqlCtx = spark.sqlContext
    implicit val enc = Encoders.product[SensorEvent]
    val out = a("out")
    val seconds = a.int("seconds")
    val gen = new Gen(a.long("seed"), a.int("sensors"), a.int("chunk"))
    val input = MemoryStream[SensorEvent]
    val name = "bench_keyed"
    val q: StreamingQuery =
      Pipelines.rollingMax(input.toDS()).writeStream.format("memory").queryName(name)
        .outputMode("update").option("checkpointLocation", s"$out/ckpt").start()

    val fed = new BufferedWriter(new FileWriter(s"$out/events.csv"), 1 << 20)
    fed.write("chunk,sensor_id,event_id,ts_us,value\n")
    var chunkNo = 0
    def feed(events: Seq[SensorEvent]): (Long, Long, Long) = {
      val s = System.currentTimeMillis()
      val t0 = System.nanoTime()
      input.addData(events)
      val t1 = System.nanoTime()
      q.processAllAvailable()
      val t2 = System.nanoTime()
      events.foreach(e => fed.write(s"$chunkNo,${e.sensor_id},${e.event_id},${e.ts_us},${e.value}\n"))
      chunkNo += 1
      (t1 - t0, t2 - t0, s)
    }
    val warmupMs = (1 to a.int("warmup-chunks")).map(_ => feed(gen.next())._2 / 1e6)

    val trace = if (a.traced) Some(new EngineTrace(spark)) else None
    val chunks = scala.collection.mutable.ArrayBuffer.empty[String]
    val rounds = scala.collection.mutable.ArrayBuffer.empty[RoundCounters]
    val firstOpMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    // A round is one chunk. It is built before the round's trace opens:
    // building is the client's work, not the engine's.
    while (chunks.isEmpty || (System.nanoTime() - t0) < seconds * 1000000000L) {
      val ev = gen.next()
      trace.foreach(_.begin())
      val (addNs, opNs, s) = feed(ev)
      chunks += Json.obj(Seq("events" -> ev.size.toString,
        "add_ms" -> Json.num(addNs / 1e6), "ms" -> Json.num(opNs / 1e6),
        "start_ms" -> s.toString))
      // The trace's wall is the chunk's own time: writing the fed events
      // for the checker happens after it and is excluded.
      trace.foreach(t => rounds += t.end().copy(wallMs = opNs / 1000000L))
    }
    val timedEndMs = System.currentTimeMillis()
    trace.foreach(_.close())

    fed.close()

    val sink = new BufferedWriter(new FileWriter(s"$out/sink.csv"), 1 << 20)
    sink.write("sensor_id,event_id,value\n")
    spark.table(name).collect().foreach(r => sink.write(s"${r.getString(0)},${r.getLong(1)},${r.getDouble(2)}\n"))
    sink.close()

    val progress = q.recentProgress.toSeq.map { p =>
      val op = p.stateOperators.headOption
      Json.obj(Seq(
        "start_ms" -> java.time.Instant.parse(p.timestamp).toEpochMilli.toString,
        "duration_ms" -> Json.obj(p.durationMs.asScala.toSeq.map { case (k, v) => k -> v.toString }),
        "state_rows_total" -> op.map(_.numRowsTotal).getOrElse(0L).toString,
        "state_memory_bytes" -> op.map(_.memoryUsedBytes).getOrElse(0L).toString,
        "state_update_ms" -> op.map(_.allUpdatesTimeMs).getOrElse(0L).toString,
        "state_commit_ms" -> op.map(_.commitTimeMs).getOrElse(0L).toString))
    }
    q.stop()

    Json.obj(Seq(
      "first_op_ms" -> firstOpMs.toString,
      "timed_end_ms" -> timedEndMs.toString,
      "cores" -> a("cores"),
      "warmup_ms" -> Json.arr(warmupMs.map(Json.num)),
      "chunks" -> Json.arr(chunks.toSeq),
      "rounds" -> Json.arr(rounds.toSeq.map(r => Json.obj(r.fields.map { case (k, v) => k -> Json.num(v) }))),
      "progress" -> Json.arr(progress)))
  }
}
