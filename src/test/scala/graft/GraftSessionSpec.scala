package graft

import java.nio.file.Files

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

  test("scratch sweep deletes dead processes' dirs, keeps live ones") {
    val self = ProcessHandle.current.pid
    assert(new java.io.File(Bench.scratchLocalDir()).getName == self.toString)
    val oneShot = new ProcessBuilder("true").start()
    oneShot.waitFor()
    val dead = oneShot.pid
    val root = Files.createTempDirectory("graft-local").toFile
    try {
      def dir(name: String) = {
        val d = new java.io.File(root, name)
        Files.createDirectories(d.toPath.resolve("blockmgr-x"))
        d
      }
      val (live, gone, other) = (dir(self.toString), dir(dead.toString), dir("keep"))
      Bench.sweepDeadProcessDirs(root)
      assert(live.isDirectory && other.isDirectory)
      assert(!gone.exists(), s"dead pid $dead's scratch dir survived the sweep")
    } finally org.apache.commons.io.FileUtils.deleteQuietly(root)
  }
}
