package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

/** [[GraftSession]]: the one session contract, the forced-distributed
  * mode it maps `SPARK_GRAFT_FORCE_DIST` to, that no main builds a
  * session of its own, and which objects are mains at all. */
class GraftSessionSpec extends SparkTestBase {

  private val contract = Map(
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.extensions" -> "graft.plans.GraftExtensions",
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    "spark.sql.streaming.stateStore.providerClass" ->
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")

  test("the empty environment gives the contract at local[4] and no gate key") {
    val conf = GraftSession.conf(Map.empty)
    contract.foreach { case (k, v) => assert(conf.get(k).contains(v), k) }
    assert(conf("spark.master") == "local[4]")
    assert(conf("spark.sql.shuffle.partitions") == "4")
    assert(SparkEntry.SizeGates.forall(g => !conf.contains(g.key)))
  }

  test("SPARK_GRAFT_CPUS sizes the master and the shuffle; SPARK_GRAFT_MASTER replaces the master") {
    val conf = GraftSession.conf(Map("SPARK_GRAFT_CPUS" -> "8"))
    assert(conf("spark.master") == "local[8]")
    assert(conf("spark.sql.shuffle.partitions") == "8")
    val remote = GraftSession.conf(Map("SPARK_GRAFT_MASTER" -> "spark://h:7077"))
    assert(remote("spark.master") == "spark://h:7077")
    assert(remote("spark.sql.shuffle.partitions") == "4")
  }

  test("SPARK_GRAFT_FORCE_DIST=1 sets every size gate to 0") {
    val conf = GraftSession.conf(Map("SPARK_GRAFT_FORCE_DIST" -> "1"))
    assert(SparkEntry.SizeGates.nonEmpty)
    SparkEntry.SizeGates.foreach(g => assert(conf.get(g.key).contains("0"), g.key))
    contract.foreach { case (k, v) => assert(conf.get(k).contains(v), k) }
  }

  test("the suite's session runs the contract") {
    contract.foreach { case (k, v) => assert(spark.conf.get(k) == v, k) }
  }

  test("no source under src/main builds a session outside GraftSession") {
    val builder = """SparkSession\s*\.\s*builder""".r
    val files = Files.walk(Paths.get("src/main/scala")).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    val sites = files.filter(f =>
      builder.findFirstIn(new String(Files.readAllBytes(f), "UTF-8")).isDefined)
    assert(sites.map(_.getFileName.toString) == Seq("GraftSession.scala"))
  }

  test("a second suite's session creates no new warehouse directory") {
    spark
    val tmp = Paths.get(System.getProperty("java.io.tmpdir"))
    def warehouses() = Files.list(tmp).iterator().asScala
      .count(_.getFileName.toString.startsWith("graft_warehouse"))
    val before = warehouses()
    val other = new SparkTestBase {}
    assert(other.spark eq spark)
    assert(warehouses() == before)
  }

  test("src/main has exactly the eight listed entry points") {
    val objectDecl = """\bobject\s+(\w+)""".r
    val mainDecl = """\bdef\s+main\s*\(""".r
    val files = Files.walk(Paths.get("src/main/scala")).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    val mains = files.flatMap { f =>
      val src = new String(Files.readAllBytes(f), "UTF-8")
      mainDecl.findAllMatchIn(src).map { m =>
        objectDecl.findAllMatchIn(src.take(m.start)).map(_.group(1)).toSeq.last
      }
    }
    assert(mains.sorted == Seq("Bench", "DoorSoak", "Explain", "ProbeGen",
      "ReferencePrograms", "ReleaseGate", "StreamingMain", "Verify"))
  }
}
