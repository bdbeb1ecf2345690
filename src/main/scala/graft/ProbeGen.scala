package graft

import org.apache.spark.sql.functions._

/** Deterministic synthetic-document generator for out-of-band scale
  * probes (the 100× runs recorded in SURVEY §8) — NOT part of the gate
  * surface; testdata stays the driver's. Fully distributed, no RNG:
  * every word is a pure function of (doc_id, position) through the
  * repo's affine integer family, so probe corpora are reproducible
  * across sessions byte-for-byte.
  *
  * Shape mirrors the driver's documents.parquet tables: doc_id, text
  * (space-joined words, mean ~55), lang (10 values), source (20),
  * n_chars. The word-index distribution is skewed (u³ over a 30k
  * vocabulary) so frequency-sensitive paths (CMS, heavy hitters,
  * bigram coverage) see a realistic head/tail, and ~2.4% of docs are
  * exact copies of their neighbor so dedup paths have hits. Written
  * with bounded row groups / files — the round-5 probe lesson: parquet
  * cannot parallelize below row-group granularity.
  *
  * Usage: runMain graft.ProbeGen <nDocs> <outDir>
  */
object ProbeGen {
  def main(args: Array[String]): Unit = {
    val n = args(0).toLong
    val out = args(1)
    val spark = GraftSession("graft-probe-gen")
    val cpus = GraftSession.cpus(sys.env)

    val V = 30000L
    val docs = spark.range(0, n, 1, math.max(8, cpus * 2))
      .select(col("id").as("doc_id"))
      // Neighbor-copy dups: every 41st doc reuses the previous seed.
      .withColumn("seed",
        when(col("doc_id") % 41 === 0 && col("doc_id") > 0, col("doc_id") - 1)
          .otherwise(col("doc_id")))
      .withColumn("len", (col("seed") * 37L % 50L + 30L).cast("int"))
      // Reduce mod 2³¹−1 BEFORE the 2654435761 multiply (round-6 advice):
      // the unreduced product overflows signed 64-bit once seed exceeds
      // ~3.4M, which would silently reshape the word distribution (ANSI
      // mode: error) at larger probe corpora. Reduced first, the product
      // is bounded by (2³¹−1)·2654435761 < 2⁶³ at ANY seed — the same
      // reduce-before-square discipline IvfAnn documents.
      .withColumn("text", expr(
        s"""array_join(transform(sequence(1, len), j -> concat('w',
           |  CAST(CAST($V AS DOUBLE) *
           |       pow(CAST((seed * 1009 + j) % 2147483647 * 2654435761 % 2147483647 AS DOUBLE) / 2147483647.0, 3.0)
           |     AS BIGINT))), ' ')""".stripMargin))
      .select(
        col("doc_id"),
        col("text"),
        concat(lit("l"), (col("seed") * 2654435761L % 97L % 10L)).as("lang"),
        concat(lit("src"), (col("seed") * 40503L % 101L % 20L)).as("source"),
        length(col("text")).cast("long").as("n_chars"))

    docs.repartition(math.max(8, cpus * 2))
      .write.mode("overwrite")
      .option("maxRecordsPerFile", 50000)
      .option("parquet.block.size", 16L * 1024 * 1024)
      .parquet(s"$out/documents.parquet")

    // Embeddings at 2/5 the doc count (testdata's ratio): 64-dim floats
    // in the testdata's ±0.36 range with 10 planted label clusters —
    // vec = label-center (scaled hash per dim) + per-vector noise — so
    // assignment/purity paths see real structure. Deterministic, no RNG.
    val nVec = 2L * n / 5L
    val emb = spark.range(0, nVec, 1, math.max(8, cpus * 2))
      .select(col("id").as("vec_id"))
      .withColumn("label", (col("vec_id") * 2654435761L % 97L % 10L).cast("int"))
      .withColumn("embedding", expr(
        """transform(sequence(0, 63), d -> CAST(
          |  ((CAST(label AS BIGINT) * 131071 + d * 97 + 5) * (CAST(label AS BIGINT) * 131071 + d * 97 + 5)
          |     % 2147483647 % 401 - 200) / 1000.0
          |  + ((vec_id * 1009 + d * 31 + 3) * 2654435761 % 2147483647 % 161 - 80) / 1000.0
          |AS FLOAT))""".stripMargin))
      .select(col("vec_id"), col("embedding"), col("label"))
    emb.repartition(math.max(8, cpus * 2))
      .write.mode("overwrite")
      .option("maxRecordsPerFile", 50000)
      .option("parquet.block.size", 16L * 1024 * 1024)
      .parquet(s"$out/embeddings.parquet")
    println(s"wrote $n docs + $nVec embeddings to $out")
    spark.stop()
  }
}
