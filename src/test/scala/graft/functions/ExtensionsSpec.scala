package graft.functions

import org.apache.spark.sql.SparkSession

import graft.{GraftSession, SparkSpec}

/** The `SparkSessionExtensions` registration route
  * (`spark.sql.extensions=graft.functions.GraftSparkExtensions`) — the
  * deployment path where users never call GraftFunctions.register
  * themselves. */
class ExtensionsSpec extends SparkSpec {

  test("GraftSparkExtensions injects every graft function into a new session") {
    // force a NEW session over the shared SparkContext (getOrCreate
    // returns the existing session otherwise). `spark.sql.extensions`
    // is a STATIC conf read from the SparkContext at submit time, so in
    // a shared-context test the builder's withExtensions hook — the
    // same injection path the conf resolves to — is used instead.
    spark.sparkContext // ensure the shared context exists first
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val s = GraftSession.builder(4)
      .withExtensions(new GraftSparkExtensions)
      .getOrCreate()
    try {
      val viaSql = s.sql(
        """SELECT simhash60(array('a','b')) AS sh,
          |       minhash64(array('a','b'), 4) AS mh,
          |       word_shingles(array('a','b','c','d'), 3) AS ws,
          |       min_md5(array('a','b')) AS mm,
          |       word_tokens('a b, c') AS wt,
          |       freq_stats(array('x','x','y')) AS fs,
          |       cis2_decode(X'07') AS cd
          |""".stripMargin).collect()(0)
      assert(viaSql.getSeq[Long](viaSql.fieldIndex("mh")).length == 4)
      assert(viaSql.getSeq[String](viaSql.fieldIndex("ws")).toSeq ==
        Seq("a b c", "b c d"))
      assert(viaSql.getSeq[String](viaSql.fieldIndex("wt")).toSeq ==
        Seq("a", "b", ",", "c"))
      assert(viaSql.getStruct(viaSql.fieldIndex("fs")).getInt(1) == 2) // max_count
      assert(viaSql.getStruct(viaSql.fieldIndex("cd")).getString(0) == "unknown")
    } finally {
      // don't stop: the underlying context is shared with other suites
      SparkSession.setActiveSession(spark)
      SparkSession.setDefaultSession(spark)
    }
  }
}
