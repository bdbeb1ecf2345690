package graftbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.BenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** Engine counters for one round, read through a `SparkListener` that
  * the harness attaches from outside the program. */
final case class RoundCounters(
    wallMs: Long, jobs: Long, stages: Long, tasks: Long, taskBusyMs: Long,
    jobCoveredMs: Long, shuffleWriteBytes: Long, shuffleReadBytes: Long,
    inputRows: Long, resultBytes: Long, gcMs: Long) {
  def fields: Seq[(String, Double)] = Seq(
    "wall_ms" -> wallMs, "jobs" -> jobs, "stages" -> stages, "tasks" -> tasks,
    "task_busy_ms" -> taskBusyMs, "job_covered_ms" -> jobCoveredMs,
    "shuffle_write_bytes" -> shuffleWriteBytes, "shuffle_read_bytes" -> shuffleReadBytes,
    "input_rows" -> inputRows,
    "result_bytes" -> resultBytes, "gc_ms" -> gcMs).map { case (k, v) => k -> v.toDouble }
}

/** Counts jobs, stages and task metrics between two calls of [[round]].
  * Job spans are kept as epoch-millisecond intervals so the part of a
  * round's wall time that no job covers (the driver gap) can be derived. */
final class EngineTrace(spark: SparkSession) extends SparkListener {
  private val openJobs = mutable.Map.empty[Int, Long]
  private val spans = mutable.ArrayBuffer.empty[(Long, Long)]
  private var stages, tasks, busyMs, shWrite, shRead, inRows, resBytes = 0L

  private def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum

  private var roundStart = 0L
  private var gcAtStart = 0L

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized { openJobs(e.jobId) = e.time }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    openJobs.remove(e.jobId).foreach(s => spans += ((s, e.time)))
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized { stages += 1 }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      busyMs += m.executorRunTime
      shWrite += m.shuffleWriteMetrics.bytesWritten
      shRead += m.shuffleReadMetrics.totalBytesRead
      inRows += m.inputMetrics.recordsRead
      resBytes += m.resultSize
    }
  }

  spark.sparkContext.addSparkListener(this)

  /** Starts a round: drains the bus and zeroes the counters. */
  def begin(): Unit = {
    BenchBus.drain(spark.sparkContext)
    synchronized {
      spans.clear(); stages = 0; tasks = 0; busyMs = 0; shWrite = 0; shRead = 0
      inRows = 0; resBytes = 0
    }
    gcAtStart = gcMs()
    roundStart = System.currentTimeMillis()
  }

  /** Ends a round: drains the bus and returns what the round did. */
  def end(): RoundCounters = {
    val roundEnd = System.currentTimeMillis()
    val gc = gcMs() - gcAtStart
    BenchBus.drain(spark.sparkContext)
    synchronized {
      val clipped = spans.map { case (s, e) => (s.max(roundStart), e.min(roundEnd)) }
        .filter { case (s, e) => e > s }.sortBy(_._1)
      var covered = 0L; var curS = -1L; var curE = -1L
      clipped.foreach { case (s, e) =>
        if (s > curE) { if (curE > curS) covered += curE - curS; curS = s; curE = e }
        else curE = curE.max(e)
      }
      if (curE > curS) covered += curE - curS
      RoundCounters(roundEnd - roundStart, spans.size.toLong, stages, tasks, busyMs, covered,
        shWrite, shRead, inRows, resBytes, gc)
    }
  }

  def close(): Unit = spark.sparkContext.removeSparkListener(this)
}

/** A minimal JSON writer: the harness emits only numbers, plain strings,
  * arrays and objects. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null"
    else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
    else d.toString
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
  def arr(xs: Seq[String]): String = xs.mkString("[", ",", "]")
}
