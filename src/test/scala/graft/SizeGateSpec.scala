package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import graft.operators.SizeGate

/** [[SizeGate]]: the one probe every driver-local size gate shares, and
  * the [[SparkEntry.SizeGates]] registry that `SPARK_GRAFT_FORCE_DIST`
  * zeroes. */
class SizeGateSpec extends SparkTestBase {

  private val key = "spark.graft.test.sizeGate"
  private def five = spark.range(5).toDF("id")
  private def ids(rows: Option[Array[org.apache.spark.sql.Row]]) =
    rows.map(_.map(_.getLong(0)).sorted.toSeq)

  test("probe returns every row at or under the limit, None over it") {
    val gate = SizeGate(key, 1L)
    withConf(key, Some("5"))(assert(ids(gate.probe(five)) == Some(Seq(0L, 1L, 2L, 3L, 4L))))
    withConf(key, Some("4"))(assert(gate.probe(five).isEmpty))
  }

  test("a limit <= 0 turns the gate off without running a job") {
    val gate = SizeGate(key, 100L)
    for (v <- Seq("0", "-1")) withConf(key, Some(v)) {
      var got: Option[Array[org.apache.spark.sql.Row]] = Some(Array.empty)
      assert(jobsOf { got = gate.probe(five) } == 0, s"limit $v")
      assert(got.isEmpty, s"limit $v")
    }
  }

  test("a limit of Int.MaxValue turns the gate off") {
    withConf(key, Some(Int.MaxValue.toString))(assert(SizeGate(key, 1L).probe(five).isEmpty))
  }

  test("an unset key uses the gate's default") {
    withConf(key, None) {
      assert(ids(SizeGate(key, 5L).probe(five)) == Some(Seq(0L, 1L, 2L, 3L, 4L)))
      assert(SizeGate(key, 4L).probe(five).isEmpty)
    }
  }

  test("SparkEntry.SizeGates lists every gate in src/main, each key once") {
    val literal = """SizeGate\("(spark\.graft\.[^"]+)"""".r
    val files = Files.walk(Paths.get("src/main/scala")).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    val inSources = files.flatMap { f =>
      literal.findAllMatchIn(new String(Files.readAllBytes(f), "UTF-8")).map(_.group(1))
    }
    val keys = SparkEntry.SizeGates.map(_.key)
    assert(keys.distinct.size == keys.size, s"duplicate keys: ${keys.diff(keys.distinct)}")
    assert(inSources.nonEmpty && keys.toSet == inSources.toSet)
  }

  test("the gate keys and defaults") {
    assert(SparkEntry.SizeGates.map(g => g.key -> g.default).toMap == Map(
      "spark.graft.bpe.localMaxWords" -> 2000000L,
      "spark.graft.cc.localMaxEdges" -> 1000000L,
      "spark.graft.coreset.localMaxPairs" -> 2000000L,
      "spark.graft.gd.localMaxRows" -> 2000000L,
      "spark.graft.graphann.localMaxBase" -> 100000L,
      "spark.graft.graphann.localMaxEdges" -> 2000000L,
      "spark.graft.lloyd.localMaxVecs" -> 100000L,
      "spark.graft.lpa.localMaxEdges" -> 1000000L,
      "spark.graft.lpa.localMaxNodes" -> 1000000L,
      "spark.graft.mmr.localMaxPairs" -> 2000000L,
      "spark.graft.pr.localMaxEdges" -> 1000000L,
      "spark.graft.pr.localMaxNodes" -> 1000000L,
      "spark.graft.viterbi.localMaxWords" -> 2000000L,
      "spark.graft.walks.localMaxEdges" -> 1000000L))
  }
}
