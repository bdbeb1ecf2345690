package graftbench

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.SparkEntry

/** Batch workloads: passes over a fixed list of `SparkEntry.queries`.
  *
  * One pass calls each query function on the fixture tables and
  * materializes every column of its result. The first pass writes each
  * result to parquet for the DuckDB oracle check; the remaining warm-up
  * passes and every timed pass write through the `noop` sink, so the
  * checked path and the timed path are the same query functions on the
  * same session. Cached blocks are unpersisted between queries, outside
  * the timed windows, so every execution derives from parquet. */
object BatchWorkload {
  private final case class Op(name: String, buildNs: Long, actionNs: Long, error: String)

  private def unpersistAll(spark: SparkSession): Unit =
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))

  private def message(e: Throwable): String =
    Option(e.getMessage).getOrElse(e.getClass.getName).takeWhile(_ != '\n').take(200)

  /** Calls one query and materializes it; returns (build ns, action ns). */
  private def call(spark: SparkSession, fn: (SparkSession, String) => DataFrame, data: String,
                   write: DataFrame => Unit): (Long, Long) = {
    val t0 = System.nanoTime()
    val df = fn(spark, data)
    val t1 = System.nanoTime()
    write(df)
    val t2 = System.nanoTime()
    (t1 - t0, t2 - t1)
  }

  private val noop: DataFrame => Unit = _.write.format("noop").mode("overwrite").save()

  def run(spark: SparkSession, a: Harness.Args): String = {
    val data = a("data")
    val out = a("out")
    val names = a.list("queries")
    val seconds = a.int("seconds")
    val all = SparkEntry.queries
    val checkFailures = scala.collection.mutable.LinkedHashMap.empty[String, String]

    // Warm-up pass 1: the checked results.
    val warmupMs = names.map { n =>
      val t = System.nanoTime()
      try {
        call(spark, all(n), data, _.write.mode("overwrite").parquet(s"$out/check/$n"))
      } catch { case e: Throwable => checkFailures(n) = message(e) }
      unpersistAll(spark)
      (System.nanoTime() - t) / 1e6
    }
    // Further warm-up passes through the timed sink.
    (2 to a.int("warmup-passes")).foreach { _ =>
      names.foreach { n =>
        try call(spark, all(n), data, noop) catch { case _: Throwable => () }
        unpersistAll(spark)
      }
    }

    val trace = if (a.traced) Some(new EngineTrace(spark)) else None
    val ops = scala.collection.mutable.ArrayBuffer.empty[Op]
    val rounds = scala.collection.mutable.ArrayBuffer.empty[RoundCounters]
    val firstOpMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    var round = 0
    while (round == 0 || (System.nanoTime() - t0) < seconds * 1000000000L) {
      var cleanupNs = 0L
      trace.foreach(_.begin())
      names.foreach { n =>
        val op =
          try { val (b, x) = call(spark, all(n), data, noop); Op(n, b, x, null) }
          catch { case e: Throwable => Op(n, 0L, 0L, message(e)) }
        ops += op
        // Block hygiene between queries is not part of any query's time,
        // so the traced round excludes it from its wall time too.
        val c0 = System.nanoTime()
        unpersistAll(spark)
        cleanupNs += System.nanoTime() - c0
      }
      trace.foreach(t => rounds += { val r = t.end(); r.copy(wallMs = r.wallMs - cleanupNs / 1000000L) })
      round += 1
    }
    trace.foreach(_.close())

    // The oracle SQL beside the checked results, where tools/check_oracle.py reads it.
    val oracle = names.flatMap(n => SparkEntry.oracleSql.get(n).map(n -> Json.str(_)))
    Files.writeString(Paths.get(out, "check", "oracle_sql.json"), Json.obj(oracle))
    Json.obj(Seq(
      "first_op_ms" -> firstOpMs.toString,
      "cores" -> a("cores"),
      "warmup_ms" -> Json.arr(warmupMs.map(Json.num)),
      "ops" -> Json.arr(ops.toSeq.map(o => Json.obj(Seq(
        "name" -> Json.str(o.name),
        "build_ms" -> Json.num(o.buildNs / 1e6), "action_ms" -> Json.num(o.actionNs / 1e6),
        "error" -> (if (o.error == null) "null" else Json.str(o.error)))))),
      "rounds" -> Json.arr(rounds.toSeq.map(r => Json.obj(r.fields.map { case (k, v) => k -> Json.num(v) }))),
      "check_failures" -> Json.obj(checkFailures.toSeq.map { case (k, v) => k -> Json.str(v) })))
  }
}
