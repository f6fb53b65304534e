package graft

/** Isolated per-query timing: `runMain graft.BenchOne <sfDir> <query> [runs]`
  * times ONE SparkEntry query `runs` times (default 3) in a fresh session
  * with [[Bench]]'s exact session, untimed warm-up and timed reading
  * ([[Bench.warmSession]], [[Bench.timedRead]]). Exists because the
  * full [[Bench]] sweep interleaves 90+ queries whose memory pressure and
  * GC cross-contaminate per-query numbers — attributing a single query's
  * regression needs a clean repeated measurement (VERDICT r8: is
  * dcc 17 s real or sandbox noise?). */
object BenchOne {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val name = args(1)
    val runs = args.lift(2).map(_.toInt).getOrElse(3)
    val fn = SparkEntry.queries(name)
    val spark = Bench.warmSession(sfDir, Seq(name))
    val times = (1 to runs).map(_ => Bench.timedRead(spark, sfDir, fn))
    Bench.stopQuietly(spark)
    println(f"[benchone] $name @ $sfDir: ${times.map(t => f"$t%.2f").mkString(", ")} sec (min ${times.min}%.2f)")
  }
}
