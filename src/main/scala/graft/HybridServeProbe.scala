package graft

import graft.operators.HybridIndex

/** Build-vs-serve decomposition of hybrid retrieval at probe scale —
  * the number that answers the round-9 verdict's qx79 finding: the
  * monolithic qx79b gate re-trains the index every run (build-bound by
  * design, like qx44), but at corpus scale the index is a persisted
  * asset and only SERVE cost recurs per query batch. This main builds
  * the [[HybridIndex]] assets once (timed), then times `reps` serves
  * of the full fused query set from parquet.
  *
  * Usage: runMain graft.HybridServeProbe <sfDir> <outDir> [reps]
  * Prints one JSON line: {"build_sec":…, "serve_sec":[…], "rows":N}.
  */
object HybridServeProbe {
  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val out = args(1)
    val reps = if (args.length > 2) args(2).toInt else 3
    val spark = GraftSession("graft-hybrid-serve-probe")
    spark.range(1000).selectExpr("sum(id)").collect()

    val t0 = System.nanoTime()
    HybridIndex.build(spark, dir, out)
    val buildSec = (System.nanoTime() - t0) / 1e9

    var rows = 0L
    val serveSecs = (1 to reps).map { _ =>
      val t1 = System.nanoTime()
      rows = HybridIndex.search(spark, out).count()
      (System.nanoTime() - t1) / 1e9
    }

    // The diversified-serve epilogue's marginal cost at the same scale
    // (round 12): MMR over the fused top-10 pool per query.
    var divRows = 0L
    val diverseSecs = (1 to reps).map { _ =>
      val t2 = System.nanoTime()
      divRows = HybridIndex.searchDiverse(spark, out).count()
      (System.nanoTime() - t2) / 1e9
    }
    // The late-interaction epilogue's marginal cost (round 12): MaxSim
    // rerank of the fused top-10 pool from the committed base vectors.
    var liRows = 0L
    val liSecs = (1 to reps).map { _ =>
      val t3 = System.nanoTime()
      liRows = HybridIndex.searchLateInteraction(spark, out).count()
      (System.nanoTime() - t3) / 1e9
    }
    // The mining epoch's cost from the persisted index (round 13, r12
    // verdict #2): per-epoch triplet mining must be serve-bound (the
    // same probe-bound legs search fuses), never corpus-bound.
    var mineRows = 0L
    val mineSecs = (1 to reps).map { _ =>
      val t4 = System.nanoTime()
      mineRows = HybridIndex.mineTriplets(spark, out).count()
      (System.nanoTime() - t4) / 1e9
    }
    println(s"""{"build_sec":${"%.2f".format(buildSec)},""" +
      s""""serve_sec":[${serveSecs.map(s => "%.2f".format(s)).mkString(",")}],""" +
      s""""rows":$rows,""" +
      s""""diverse_sec":[${diverseSecs.map(s => "%.2f".format(s)).mkString(",")}],""" +
      s""""diverse_rows":$divRows,""" +
      s""""li_sec":[${liSecs.map(s => "%.2f".format(s)).mkString(",")}],""" +
      s""""li_rows":$liRows,""" +
      s""""mine_sec":[${mineSecs.map(s => "%.2f".format(s)).mkString(",")}],""" +
      s""""mine_rows":$mineRows,"sf":"$dir"}""")
    spark.stop()
  }
}
