package graft

/** Pins the one session shape every entry point and spec runs on. */
class GraftSessionSpec extends SparkSpec {

  test("the shared session carries the GraftSession settings") {
    val sc = spark.sparkContext
    assert(sc.master == "local[4]")
    assert(spark.conf.get("spark.sql.shuffle.partitions") == "4")
    assert(spark.conf.get("spark.sql.session.timeZone") == "UTC")
    assert(sc.getConf.get("spark.ui.enabled") == "false" && sc.uiWebUrl.isEmpty)
    assert(sc.getConf.get("spark.local.dir") == Bench.scratchLocalDir())
  }
}
