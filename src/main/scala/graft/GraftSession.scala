package graft

import org.apache.spark.sql.SparkSession

/** The one session contract every graft entry point builds with — the
  * same one the test suite runs under, so a query or stream sees the
  * same settings whichever main (or spec) launched it:
  *
  *  - session time zone UTC (the NTZ→timestamp cast in
  *    [[graft.sources.Tables.events]] must not follow the host zone);
  *  - [[graft.plans.GraftExtensions]];
  *  - `spark.sql.legacy.parquet.nanosAsLong` (testdata `events.ts` is
  *    parquet TIMESTAMP(NANOS));
  *  - the RocksDB state store, which transformWithState requires;
  *  - no UI and WARN logging;
  *  - master `local[$SPARK_GRAFT_CPUS]` (default 4) unless
  *    `SPARK_GRAFT_MASTER` names one, with as many shuffle partitions as
  *    cpus;
  *  - with `SPARK_GRAFT_FORCE_DIST=1`, every [[SparkEntry.SizeGates]]
  *    key at 0, so each size-gated query runs its distributed spelling.
  *
  * A main that runs a different shuffle-partition count on purpose sets
  * it on the session after creation, next to its reason. */
object GraftSession {

  /** `SPARK_GRAFT_CPUS`, else 4: the local master's threads and the
    * shuffle-partition count. */
  def cpus(env: Map[String, String]): Int =
    env.get("SPARK_GRAFT_CPUS").fold(4)(_.trim.toInt)

  /** The contract as session conf, read from `env` alone. */
  def conf(env: Map[String, String]): Map[String, String] = {
    val n = cpus(env)
    val forceDist =
      if (env.get("SPARK_GRAFT_FORCE_DIST").contains("1")) SparkEntry.SizeGates.map(_.key -> "0")
      else Nil
    Map(
      "spark.master" -> env.getOrElse("SPARK_GRAFT_MASTER", s"local[$n]"),
      "spark.sql.shuffle.partitions" -> n.toString,
      "spark.sql.session.timeZone" -> "UTC",
      "spark.sql.extensions" -> "graft.plans.GraftExtensions",
      "spark.sql.legacy.parquet.nanosAsLong" -> "true",
      "spark.sql.streaming.stateStore.providerClass" ->
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
      "spark.ui.enabled" -> "false",
      "spark.log.level" -> "WARN") ++ forceDist
  }

  /** A builder carrying [[conf]] of `env` (the process environment by
    * default); callers add any static conf they need before
    * `getOrCreate()`. */
  def builder(app: String, env: Map[String, String] = sys.env): SparkSession.Builder =
    SparkSession.builder().appName(app).config(conf(env))

  /** The session for `app` under the contract. */
  def apply(app: String): SparkSession = builder(app).getOrCreate()
}
