package graft.functions

import graft.SparkSpec
import graft.ext.Text

class KMVSpec extends SparkSpec {
  import spark.implicits._

  test("exact below k; duplicates don't inflate the count") {
    val df = (Seq.fill(5)(Seq(1L, 2L, 3L, 4L, 5L)).flatten).toDF("id")
    val out = df.agg(KMV.distinctEst(Text.hash60($"id".cast("string")), 64))
      .collect().head.getLong(0)
    assert(out == 5L)
  }

  test("estimate within ~15% at 10k distinct with k=256") {
    val df = (0L until 10000L).toDF("id")
    val est = df.agg(KMV.distinctEst(Text.hash60($"id".cast("string")), 256))
      .collect().head.getLong(0)
    assert(est > 8500 && est < 11500, s"estimate $est for 10000 distinct")
  }

  test("partitioning-independent (merge associativity)") {
    val df = (0L until 5000L).toDF("id")
    val a = df.repartition(1)
      .agg(KMV.distinctEst(Text.hash60($"id".cast("string")), 128))
      .collect().head.getLong(0)
    val b = df.repartition(16)
      .agg(KMV.distinctEst(Text.hash60($"id".cast("string")), 128))
      .collect().head.getLong(0)
    assert(a == b)
  }
}
