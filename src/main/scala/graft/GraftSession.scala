package graft

import org.apache.spark.sql.SparkSession

/** The one Spark session shape every entry point runs: Bench and its
  * shards, BenchOne, Verify, PlanDump, PlanAudit and the test fixture.
  * Plan evidence, oracle dumps and timings therefore all come from the
  * config the bench executes. */
object GraftSession {

  /** Local cores to run on: `SPARK_GRAFT_CPUS`, else every core of the host. */
  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors())

  /** `local[cpus]` with one shuffle partition per core, the session time
    * zone pinned to UTC (so the TIMESTAMP_NTZ → TIMESTAMP normalization in
    * [[Tables.events]] is a bitwise no-op), no UI, and shuffle/block
    * scratch on [[Bench.scratchLocalDir]]. */
  def builder(cpus: Int): SparkSession.Builder = SparkSession.builder()
    .master(s"local[$cpus]")
    .config("spark.sql.shuffle.partitions", cpus.toLong)
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .config("spark.local.dir", Bench.scratchLocalDir())
}
