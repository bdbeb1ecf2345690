package graft

import java.nio.file.{Files, Path}

import scala.concurrent.duration._

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.concurrent.Eventually._
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites: the shipped [[GraftSession]]
  * contract (UTC, extensions, nanosAsLong, the RocksDB state store that
  * transformWithState requires) built from an empty environment, so the
  * suite runs `local[4]` with 4 shuffle partitions and no forced gates
  * whatever the caller's `SPARK_GRAFT_*` settings. */
trait SparkTestBase extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkTestBase.session

  def tmpDir(prefix: String): String = {
    val d = Files.createTempDirectory(prefix).toFile
    d.deleteOnExit()
    d.getAbsolutePath
  }

  def round9(d: Double): Double = math.rint(d * 1e9) / 1e9

  /** Runs `body` with the session conf `key` set to `value` (unset when
    * None), restoring the previous setting afterwards. */
  def withConf[T](key: String, value: Option[String])(body: => T): T = {
    val prev = spark.conf.getOption(key)
    def set(v: Option[String]): Unit = v match {
      case Some(x) => spark.conf.set(key, x)
      case None => spark.conf.unset(key)
    }
    set(value)
    try body finally set(prev)
  }

  /** Spark jobs launched by `body`. */
  def jobsOf(body: => Unit): Int = {
    val sc = spark.sparkContext
    val group = s"graft-jobs-${java.util.UUID.randomUUID()}"
    sc.setJobGroup(group, "counted")
    try body finally sc.clearJobGroup()
    sc.setJobGroup(s"$group-marker", "marker")
    try spark.range(1).collect() finally sc.clearJobGroup()
    // Listener events arrive in order: once the marker's job is visible,
    // every job `body` launched is too.
    eventually(timeout(10.seconds)) {
      assert(sc.statusTracker.getJobIdsForGroup(s"$group-marker").nonEmpty)
    }
    sc.statusTracker.getJobIdsForGroup(group).length
  }

  override protected def afterAll(): Unit = {
    // Session is shared across suites in one forked JVM; do not stop it.
    super.afterAll()
  }
}

object SparkTestBase {
  /** The one session of the JVM, built once: its warehouse directory
    * (where the bucketing tests' saveAsTable artifacts land, out of the
    * repo tree) is created once and deleted with its contents when the
    * JVM exits. */
  lazy val session: SparkSession = {
    val warehouse = Files.createTempDirectory("graft_warehouse")
    sys.addShutdownHook {
      Files.walk(warehouse).sorted(java.util.Comparator.reverseOrder[Path]())
        .forEach(p => Files.deleteIfExists(p))
    }
    GraftSession.builder("graft-tests", Map.empty)
      .config("spark.sql.warehouse.dir", warehouse.toString)
      .getOrCreate()
  }
}
