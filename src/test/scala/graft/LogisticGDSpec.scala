package graft

import org.apache.spark.sql.functions._

import graft.operators.{GopherRules, LogisticGD}
import graft.sources.Tables

/** [[LogisticGD]] — in-plan full-batch logistic GD. Pins exact weight
  * equality with an independent driver-side replay (margin, fast
  * sigmoid, milli residual, floor-division update), determinism under
  * repartitioning, separation on a separable fixture, and that the qx103
  * distillation genuinely learns the rule label (beats the
  * majority-class baseline on the real corpus). */
class LogisticGDSpec extends SparkTestBase {

  import spark.implicits._

  private def replay(rows: Seq[(Long, Array[Long])], dims: Int, iters: Int,
                     etaDen: Long): Array[Long] = {
    val n = rows.size.toLong
    var w = Array.fill(dims)(0L)
    for (_ <- 1 to iters) {
      val g = Array.fill(dims)(0L)
      for ((y, x) <- rows) {
        val zl = (0 until dims).map(j => w(j) * x(j)).sum
        val z = zl.toDouble / 1000000000.0
        val p = 0.5 + z / (2.0 * (1.0 + math.abs(z)))
        val rq = math.floor((p - y.toDouble) * 1000.0 + 0.5).toLong
        for (j <- 0 until dims) g(j) += rq * x(j)
      }
      w = Array.tabulate(dims)(j => w(j) - Math.floorDiv(g(j), etaDen * n))
    }
    w
  }

  private val fixture: Seq[(Long, Array[Long])] =
    (0 until 200).map { i =>
      // y correlates with x1; x2 is noise-ish (deterministic scramble)
      val x1 = (i * 13) % 200 * 10L
      val x2 = (i * 1000003 + 7) % 1500L
      val y = if (x1 >= 1000L) 1L else 0L
      (y, Array(1000L, x1, x2))
    }

  private def fixtureDf = fixture.zipWithIndex
    .map { case ((y, x), id) => (id.toLong, y, x(0), x(1), x(2)) }
    .toDF("id", "y", "x0", "x1", "x2")

  test("weights equal the driver-side replay exactly (several round counts)") {
    for (iters <- Seq(1, 3, 5)) {
      val w = LogisticGD.train(fixtureDf, dims = 3, iters = iters)
      assert(w.toSeq === replay(fixture, 3, iters, 2L).toSeq, s"iters=$iters")
    }
  }

  test("the size-gated local replay equals the distributed rounds (corpus features)") {
    // Round 18: train() takes a driver-local replay below the row gate;
    // weights must be bit-identical to the scan-per-round loop on the
    // REAL feature chain, and forcing the gate off must reproduce them.
    val feat = queries.ExtQueries
      .logisticFeatures(spark, "/root/testdata/sf0.001").localCheckpoint()
    val local = LogisticGD.train(feat, dims = 5, iters = 5, etaDen = 2L)
    val dist = LogisticGD.trainDistributed(feat, dims = 5, iters = 5, etaDen = 2L)
    assert(local.toSeq === dist.toSeq)
    val prev = spark.conf.getOption(LogisticGD.RowsGate.key)
    try {
      spark.conf.set(LogisticGD.RowsGate.key, "0")
      assert(LogisticGD.train(feat, dims = 5, iters = 5, etaDen = 2L).toSeq
        === dist.toSeq)
    } finally prev match {
      case Some(v) => spark.conf.set(LogisticGD.RowsGate.key, v)
      case None => spark.conf.unset(LogisticGD.RowsGate.key)
    }
  }

  test("a null feature fails both gate branches with the same error") {
    val withNull = fixtureDf.withColumn("x2",
      when(col("id") === 17L, lit(null).cast("long")).otherwise(col("x2")))
    val local = intercept[IllegalArgumentException](
      LogisticGD.train(withNull, dims = 3, iters = 2))
    val dist = intercept[IllegalArgumentException](
      LogisticGD.trainDistributed(withNull, dims = 3, iters = 2, etaDen = 2L))
    assert(local.getMessage == dist.getMessage)
    assert(local.getMessage.contains("1 feature rows carry a null"))
    val nullLabel = fixtureDf.withColumn("y",
      when(col("id") < 2L, lit(null).cast("long")).otherwise(col("y")))
    assert(intercept[IllegalArgumentException](LogisticGD.train(nullLabel, dims = 3, iters = 1))
      .getMessage.contains("2 feature rows carry a null"))
  }

  test("deterministic under repartitioning (gradient sums are exact Longs)") {
    val a = LogisticGD.train(fixtureDf.repartition(7), dims = 3, iters = 4)
    val b = LogisticGD.train(fixtureDf.repartition(1), dims = 3, iters = 4)
    assert(a.toSeq === b.toSeq)
  }

  test("learns a separable rule: scores order by the separating feature") {
    val w = LogisticGD.train(fixtureDf, dims = 3, iters = 5)
    val scored = LogisticGD.withScore(fixtureDf, w)
      .withColumn("keep", (col("p") >= 0.5).cast("long"))
    val agree = scored.where(col("keep") === col("y")).count()
    val n = fixture.size.toLong
    val majority = math.max(fixture.count(_._1 == 1L), fixture.count(_._1 == 0L)).toLong
    assert(agree > majority, s"agree=$agree majority=$majority of $n")
    assert(w(1) > 0L, "separating feature weight must be positive")
  }

  test("qx103's distilled scorer beats the majority-class baseline on the corpus") {
    val dir = "/root/testdata/sf0.001"
    val out = queries.ExtQueries.qx103(spark, dir).cache()
    val srcRows = out.where(!col("grp").startsWith("w"))
    val Seq(nDocs, nAgree) = Seq("n_docs", "n_agree")
      .map(c => srcRows.agg(sum(c)).collect()(0).getLong(0))
    val ruled = GopherRules.withRuleColumns(Tables.documents(spark, dir))
      .where(col("n_words") > 0L)
    val nPos = ruled.where(col("pass") === 1L).count()
    val majority = math.max(nPos, nDocs - nPos)
    assert(nAgree > majority,
      s"distilled agreement $nAgree must beat majority baseline $majority of $nDocs")
    out.unpersist(false)
  }

  test("qx114 reliability table: totals reconcile and the gap recomputes") {
    val dir = "/root/testdata/sf0.001"
    val rows = queries.ExtQueries.qx114(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(rows.length >= 3, "the centi bins must spread the score mass")
    val feat = queries.ExtQueries.logisticFeatures(spark, dir)
    assert(rows.map(_._2).sum === feat.count())
    assert(rows.map(_._3).sum === feat.agg(sum("y")).collect()(0).getLong(0))
    rows.foreach { case (bin, n, nPos, sumScore, gap) =>
      assert(gap === math.abs(1000L * nPos / n - sumScore / n), s"bin $bin gap")
      // every member's score really lives in the bin
      assert(sumScore / n / 10 === bin || (sumScore / n) / 10 - bin <= 1, s"bin $bin mass")
    }
    // the audit's finding on this corpus: the scorer separates (top bin
    // mostly positive, bottom bins mostly negative) but is NOT
    // calibrated — gaps well above zero are the expected reading
    val top = rows.maxBy(_._1); val bot = rows.minBy(_._1)
    assert(top._3 * 2 > top._2, "top bin should be majority-positive")
    assert(bot._3 * 2 < bot._2, "bottom bin should be majority-negative")
  }

  test("weight rows ride along in the qx103 output") {
    val out = queries.ExtQueries.qx103(spark, "/root/testdata/sf0.001")
    val wRows = out.where(col("grp").startsWith("w")).collect()
    assert(wRows.length === 5)
    assert(wRows.forall(r => r.getLong(1) == 0L && r.getLong(2) == 0L))
  }
}
