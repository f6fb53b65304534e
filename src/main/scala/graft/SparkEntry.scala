package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  * Query inventory lives in [[CoreQueries]] (reference surface, SURVEY §2),
  * [[RelationalQueries]] (general relational/bench coverage) and
  * [[ExtQueries]] (LLM-data-pipeline extensions). */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001 — the reference's canonical
    * "most recent N transactions affecting account X"
    * (wallet-proxy-indexer/README.md:113-122); driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    CoreQueries.queries("b2d")(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    CoreQueries.queries ++ RelationalQueries.queries ++ ExtQueries.queries

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted keys → weaker rows-only check. */
  def oracleSql: Map[String, String] =
    CoreQueries.oracles ++ RelationalQueries.oracles ++ ExtQueries.oracles
}
