package graft.tools

import java.nio.file.{Files, Paths}
import java.nio.charset.StandardCharsets.UTF_8

/** Dump `.explain("formatted")` for the named queries to files — the
  * optimization rounds' before/after plan evidence
  * (`plans/rNN/<query>_<tag>.txt`). Run:
  * sbt "runMain graft.tools.PlanDump <sfDir> <outDir> <tag> q1 q2 ...".
  *
  * Uses [[graft.GraftSession]], the bench's session shape, so the
  * captured plan is the one the bench actually executes.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = args(1)
    val tag = args(2)
    val names = args.drop(3).toSeq
    Files.createDirectories(Paths.get(outDir))
    val spark = graft.GraftSession.builder(graft.GraftSession.cpus)
      .appName("plandump").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try names.foreach { n =>
      try {
        val df = graft.SparkEntry.queries(n)(spark, sfDir)
        val txt = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        Files.write(Paths.get(outDir, s"${n}_$tag.txt"),
          txt.getBytes(UTF_8))
        println(s"[plandump] wrote $outDir/${n}_$tag.txt")
      } catch {
        case e: Throwable =>
          System.err.println(s"[plandump] $n failed: ${e.getMessage}")
      } finally graft.CacheScope.release()
    } finally spark.stop()
  }
}
