package graftbench

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

/** Benchmark harness entry point. `perfbench/run.py` starts one JVM per
  * run with the workload's parameters; the harness drives graft's public
  * entry points, times each operation, and writes raw samples plus the
  * outputs to check into `--out`. Metrics are derived on the Python side.
  *
  * Usage: graftbench.Harness --mode batch|keyed --out <dir>
  *          --seconds <n> --seed <n> --trace 0|1 [workload options]
  */
object Harness {
  final case class Args(kv: Map[String, String]) {
    def apply(k: String): String = kv.getOrElse(k, sys.error(s"missing --$k"))
    def int(k: String): Int = apply(k).toInt
    def long(k: String): Long = apply(k).toLong
    def list(k: String): Seq[String] = apply(k).split(",").map(_.trim).filter(_.nonEmpty).toSeq
    def traced: Boolean = apply("trace") == "1"
  }

  def parse(args: Array[String]): Args =
    Args(args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap)

  def session(a: Args, streaming: Boolean): SparkSession = {
    val cores = a("cores")
    val b = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"graft-perfbench-${a("mode")}")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${a("out")}/spark-local")
      .config("spark.sql.warehouse.dir", s"${a("out")}/warehouse")
    val s =
      if (streaming) b
        // The streaming main's state store: transformWithState needs RocksDB.
        .config("spark.sql.streaming.stateStore.providerClass",
          "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
        // Keep every micro-batch's progress so the whole run can be read back.
        .config("spark.sql.streaming.numRecentProgressUpdates", "100000")
        .getOrCreate()
      else b.config("spark.sql.extensions", "graft.plans.GraftExtensions").getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def main(args: Array[String]): Unit = {
    val a = parse(args)
    Files.createDirectories(Paths.get(a("out")))
    val streaming = a("mode") != "batch"
    val spark = session(a, streaming)
    // The launcher reads this line to split set-up into its parts.
    println(s"session-ready-ms ${System.currentTimeMillis()}")
    val json =
      try a("mode") match {
        case "batch" => BatchWorkload.run(spark, a)
        case "keyed" => StreamWorkload.run(spark, a)
        case m       => sys.error(s"unknown mode $m")
      } finally spark.stop()
    Files.writeString(Paths.get(a("out"), "result.json"), json)
  }
}
