package graft.tools

/** Ad-hoc plan audit: prints a physical-plan digest (exchanges,
  * broadcasts, window-group limits, cartesian products, scans) for the
  * named queries, planned on the bench's [[graft.GraftSession]]. Run:
  * sbt "runMain graft.tools.PlanAudit <sfDir> q1 q2".
  */
object PlanAudit {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val names = args.drop(1).toSeq
    val spark = graft.GraftSession.builder(graft.GraftSession.cpus)
      .appName("planaudit").getOrCreate()
    try names.foreach { n =>
      val plan = graft.SparkEntry.queries(n)(spark, sfDir)
        .queryExecution.executedPlan.toString
      def c(p: String) = p.r.findAllIn(plan).size
      // "Exchange" alone would double-count every BroadcastExchange
      println(s"== $n exchanges=${c("Exchange") - c("BroadcastExchange")} " +
        s"bcast=${c("BroadcastExchange")} wgl=${c("WindowGroupLimit")} " +
        s"cartesian=${c("CartesianProduct")} bnlj=${c("BroadcastNestedLoopJoin")} " +
        s"smj=${c("SortMergeJoin")} codegenSpans=${c("WholeStageCodegen")}")
      graft.CacheScope.release()
    } finally spark.stop()
  }
}
