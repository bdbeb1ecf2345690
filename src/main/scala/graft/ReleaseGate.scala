package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The qx117 release manifest evaluated to ONE verdict — the
  * operational form of "is this corpus releasable is one green row"
  * (round 13): run the manifest, hold its facts against the PINNED
  * release criteria, print a single JSON line with the verdict and
  * every criterion's reading. The criteria are deliberately the
  * repo's established release facts:
  *
  *  - `leaks`: the cluster-keyed splits leak ZERO dup clusters
  *    (qx115's contract — the doc-hash scheme's leak count rides
  *    along as the informational contrast);
  *  - `yield`: every language that survived the qx45
  *    quality→decon→dedup→budget chain kept a positive token budget;
  *  - `cards`: every source has docs and a recorded majority
  *    language (the qx111 card is complete);
  *  - `calibration`: the worst reliability-bin gap is REPORTED (not
  *    thresholded — qx114's finding is that the distilled scorer
  *    separates but is not calibrated; a release ships that number,
  *    it does not hide behind it).
  *
  * Usage: runMain graft.ReleaseGate [sfDir] */
object ReleaseGate {

  /** Evaluate the manifest rows; pure function so the spec can drive
    * doctored frames through it. Returns (releasable, details). */
  def evaluate(manifest: Array[(String, String, Long)]): (Boolean, Map[String, Long]) = {
    val byK = manifest.groupBy(_._1)
    val clusterLeaks = manifest.collect {
      case ("splits", k, v) if k.startsWith("cluster/split:-1/clusters") => v
    }.sum
    val docHashLeaks = manifest.collect {
      case ("splits", k, v) if k.startsWith("dochash/split:-1/clusters") => v
    }.sum
    val finalTokens = byK.getOrElse("final", Array.empty).collect {
      case (_, k, v) if k.endsWith("/tokens") => v
    }
    val sources = byK.getOrElse("card", Array.empty).collect {
      case (_, k, v) if k.endsWith("/docs") => v
    }
    val majors = byK.getOrElse("card", Array.empty).count(_._2.contains("/major:"))
    val worstGap = byK.getOrElse("calibration", Array.empty).collect {
      case (_, k, v) if k.endsWith("/gap_milli") => v
    }.foldLeft(0L)(math.max)
    val ok = clusterLeaks == 0L &&
      finalTokens.nonEmpty && finalTokens.forall(_ > 0L) &&
      sources.nonEmpty && sources.forall(_ > 0L) &&
      majors.toLong == sources.length.toLong
    (ok, Map(
      "cluster_leaks" -> clusterLeaks,
      "dochash_leaks" -> docHashLeaks, // informational contrast
      "final_langs" -> finalTokens.length.toLong,
      "min_final_tokens" -> (if (finalTokens.isEmpty) 0L else finalTokens.min),
      "n_sources" -> sources.length.toLong,
      "worst_gap_milli" -> worstGap))
  }

  def manifestRows(df: DataFrame): Array[(String, String, Long)] =
    df.collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))

  /** Evaluate the manifest over an ARBITRARY document corpus — the
    * standing-pipeline entry (round 14, r13 verdict #5: the verdict as
    * a maintenance-cadence READOUT, not a manual main): stage the docs
    * as `documents.parquet` under `stagingDir` (qx117's whole chain
    * reads tables by directory — the shared gate spelling untouched)
    * and evaluate the same pinned criteria. DoorSoak's index leg calls
    * this every compact wave over the door's committed corpus;
    * [[graft.ReleaseGateSpec]] pins a doctored corpus flipping the
    * verdict to false end-to-end. */
  def evaluateCorpus(spark: SparkSession, docs: DataFrame,
                     stagingDir: String): (Boolean, Map[String, Long]) = {
    docs.write.mode("overwrite").parquet(s"$stagingDir/documents.parquet")
    evaluate(manifestRows(queries.ExtQueries.qx117(spark, stagingDir)))
  }

  /** The SERVING-quality ledger next to the data verdict (round 14 —
    * the recall audits became gate rows in r13/r14; a release ships
    * their numbers too): each served ANN family's corpus recall from
    * its audit row's −1 summary (qx118 LSH, qx121 graph, qx122
    * IVFADC). REPORTED, not thresholded — the qx114 calibration
    * stance: recall targets are corpus- and product-specific, so the
    * release records the number instead of hiding a default behind
    * it. Cost note: each entry runs its audit row's own gate spelling
    * verbatim (the ledger MUST be the rows' own summaries —
    * ReleaseGateSpec pins it), so the brute qx2 leg is paid once per
    * family; this readout runs manually or on the maintenance
    * cadence, never per batch. */
  def servingLedger(spark: SparkSession, sfDir: String): Map[String, Long] = {
    def summary(df: DataFrame): Long =
      df.where(df(df.columns.head) === -1L).head.getAs[Long]("recall_micro")
    Map(
      "lsh_recall5_micro" -> summary(queries.ExtQueries.qx118(spark, sfDir)),
      "graph_recall1_micro" -> summary(queries.ExtQueries.qx121(spark, sfDir)),
      "ivfadc_recall5_micro" -> summary(queries.ExtQueries.qx122(spark, sfDir)))
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = GraftSession("graft-release-gate")
    val (ok, d) = evaluate(manifestRows(
      queries.ExtQueries.qx117(spark, sfDir)))
    val all = d ++ servingLedger(spark, sfDir)
    val kv = all.toSeq.sortBy(_._1).map { case (k, v) => s""""$k":$v""" }.mkString(",")
    println(s"""{"releasable":$ok,$kv,"sf":"$sfDir"}""")
    spark.stop()
    if (!ok) sys.exit(1)
  }
}
