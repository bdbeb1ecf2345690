package graft.operators

import org.apache.spark.sql.{DataFrame, Row}

/** A size gate: below `limit` rows an iterative operator collects its
  * input once and replays the distributed loop on the driver, with
  * bit-identical output; past it the distributed loop (the 100 TB path)
  * runs unchanged. Per-round JOB latency dominates wall time when a
  * gated input is metadata-sized, so the replay saves the loop's jobs.
  *
  * The probe discipline every gate shares: the limit is read from the
  * session conf `key` (else `default`); a limit ≤ 0 or ≥ `Int.MaxValue`
  * turns the gate off and skips the probe (no job — 0 is what
  * `SPARK_GRAFT_FORCE_DIST` sets, through [[graft.GraftSession]]);
  * otherwise one
  * `limit(max + 1).collect()` runs, so at most max + 1 rows reach the
  * driver and no unsized frame is ever counted. Sites with several
  * gated inputs chain the probes, so a later probe runs only when every
  * earlier one passed. Every gate is listed in
  * [[graft.SparkEntry.SizeGates]]. */
final case class SizeGate(key: String, default: Long) {

  /** The rows of `df` when there are at most `limit` of them, else None. */
  def probe(df: DataFrame): Option[Array[Row]] = {
    val max = df.sparkSession.conf.get(key, default.toString).toLong
    if (max <= 0 || max > Int.MaxValue - 1) None
    else Some(df.limit(max.toInt + 1).collect()).filter(_.length <= max)
  }
}
