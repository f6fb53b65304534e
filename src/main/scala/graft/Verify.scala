package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // Optional third arg: comma-separated query-name subset — the local
    // iteration loop for a new oracle row (the driver always runs all).
    val only: Option[Set[String]] =
      if (args.length > 2) Some(args(2).split(",").toSet) else None
    val spark = GraftSession.builder(GraftSession.cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // Testdata-drift canary FIRST: if the driver regenerated the parquet
    // with new encodings (the r10 round-killer), say so once, loudly,
    // before any per-query failure noise.
    Preflight.check(spark, sfDir).foreach(w => System.err.println(s"[verify] $w"))
    // Start from an empty outDir: a reused directory keeps per-query
    // subdirs whose names are no longer declared (e.g. after a key
    // rename), and those stale dumps would surface as phantom
    // no-oracle rows in the downstream compare. In SUBSET mode delete
    // only the named subdirs — wiping everything would leave a full
    // oracle_sql.json pointing at 1 result dir, and the previous full
    // dump could never be reused incrementally (the flag's purpose).
    import scala.jdk.CollectionConverters._
    def wipe(p: java.nio.file.Path): Unit =
      if (Files.exists(p))
        Files.walk(p).iterator().asScala.toSeq.reverse
          .foreach(q => Files.deleteIfExists(q))
    only match {
      case None => wipe(Paths.get(outDir))
      case Some(names) => names.foreach(n => wipe(Paths.get(outDir, n)))
    }
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      // per-query cache scope: operators that persist intermediates
      // register them; the write above fully materialized the result
      finally CacheScope.release()
    }
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${Bench.jstr(k)}: ${Bench.jstr(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
