package graft

import org.apache.spark.sql.functions._

import graft.operators._

/** Stage decomposition of GraphAnn.admit at probe scale (round 13) —
  * the measurement that surfaced the admit-vs-rebuild occupancy
  * regime now operationalized in [[graft.operators.GraphIndex.admit]]:
  * touched = delta × bands × occupancy reaches most of the corpus at
  * deltas far below n/400, and hot buckets push the directed candidate
  * join past the full rebuild's pair count (86M vs 53M at the 80k
  * probe). Usage: runMain graft.AdmitProbe [probeDir] */
object AdmitProbe {
  def main(args: Array[String]): Unit = {
    val probeDir = args.headOption.getOrElse("/tmp/probe500k")
    val spark = GraftSession("graft-admit-probe")
    val raw = spark.read.parquet(s"$probeDir/embeddings.parquet").select(col("vec_id"))
      .withColumn("embedding", expr("transform(sequence(0, 63), dd -> CAST(((vec_id * 1009 + dd * 31 + 3) * 2654435761 % 2147483647 % 721 - 360) / 1000.0 AS FLOAT))"))
    val base = graft.queries.ExtQueries.intEmbeddingsFrom(raw).localCheckpoint()
    val planes = EmbeddingLsh.planesFor(80000L)
    val sigs = EmbeddingLsh.bandSigs(base.select("vec_id","iv"), planes).localCheckpoint()
    val dIds = base.where(pmod(col("vec_id"), lit(700L)) === 3L)
      .select(col("vec_id").as("id")).localCheckpoint()
    println("nDelta=" + dIds.count())
    def t[A](n: String)(f: => A): A = {
      val t0 = System.nanoTime(); val a = f
      println(f"$n ${(System.nanoTime() - t0) / 1e9}%.1f s"); a
    }
    val dBuckets = sigs.join(dIds.withColumnRenamed("id","vec_id"),"vec_id")
      .select(col("band").as("qband"), col("sig").as("qsig")).distinct()
    val touched = sigs.join(broadcast(dBuckets),
        col("band")===col("qband") && col("sig")===col("qsig"))
      .select("vec_id").distinct()
    t("touched_count"){ println("touched=" + touched.count()) }
    val cand = sigs.as("x")
      .join(touched.withColumnRenamed("vec_id","u"), col("x.vec_id")===col("u"))
      .join(sigs.as("y"),
        col("x.band")===col("y.band") && col("x.sig")===col("y.sig") &&
          col("x.vec_id")=!=col("y.vec_id"))
      .select(col("x.vec_id").as("u"), col("y.vec_id").as("v")).distinct()
    t("cand_count"){ println("cand=" + cand.count()) }
    val a = base.select(col("vec_id").as("u"), col("iv").as("uiv"), col("n2").as("un2"))
    val b = base.select(col("vec_id").as("v"), col("iv").as("viv"), col("n2").as("vn2"))
    val rec = cand.join(a,"u").join(b,"v")
      .withColumn("cos", expr("CAST(long_dot(uiv, viv) AS DOUBLE) / (sqrt(CAST(un2 AS DOUBLE)) * sqrt(CAST(vn2 AS DOUBLE)))"))
      .groupBy("u").agg(expr("topk_by(cos, v, 4)").as("tk"))
    t("recompute_count"){ println("rec=" + rec.count()) }
    val old = t("old_build"){ GraphAnn.knnGraph(base, EmbeddingLsh.candidatePairs(sigs), 4).localCheckpoint() }
    t("full_admit"){ println("admit=" + GraphAnn.admit(base, sigs, old, dIds, 4).count()) }
    spark.stop()
  }
}
