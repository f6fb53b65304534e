package graft

/** Pins the [[CacheScope]] contract: every declared query whose operator
  * persists intermediates (dedup, LSH similarity, packing) leaves NO net
  * persistent RDDs behind once the caller materializes the result and
  * calls release — a long-lived serving session no longer accumulates
  * cached frames per query (previously six per dedup pass, plus one
  * checkpoint per components round, for the session's lifetime).
  */
class CacheHygieneSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  /** Every declared query built on a persist/checkpoint-using operator. */
  private val cacheUsers = Seq(
    "dj", // uncapped ngramJaccard persists nothing; any future cache must release
    "dl", "dc", "dr",
    "md", // dedupPairs over capped ngramJaccard: the same, on the capped path
    "cns", // both shingle tiers share one persistTracked hashed-shingle frame
    "ms", "mp", // mpPairs persists the shared refs/urls fixture lineage (r21)
    "db", // keepBest persists the duplicate-sized withScore frame (r21)
    "hits", // per-sweep localCheckpoints + the call-site edge persist (r22)
    "bm", "rrf", // bm25TopK persists the query-vocabulary tf frame (r22)
    "dec", "vkg", "vnr",
    "po", "pl", "ps",
    "pd", // sentence chunks through the packer (persistTracked ranged frame)
    "pa", // materializeBins rides packSequences' persisted ranged frame
    "pb",  // packBestFit's rank frame + packSequences' ranged frame
    "pm",  // materializeAtomicBins over packBestFit's rank frame
    "vkm", "vr",
    "vbq", // annIvfIndexedBatch persists the quantized query frame
    "sdd", // semDedup persists the quantized frame and its cells
    "hmx", // tagNearB1Codes persists the batch codes
    "cdc", // capped ngramContamination persists the exploded + capped shingle frames
    "hrc") // binaryRecallAtK persists qz and codes

  test("each cache-using query leaves no net persistent RDDs after release") {
    CacheScope.release() // drain whatever earlier suites left tracked
    cacheUsers.foreach { name =>
      val before = spark.sparkContext.getPersistentRDDs.keySet.toSet
      SparkEntry.queries(name)(spark, sf)
        .queryExecution.toRdd.foreach(_ => ())
      CacheScope.release()
      val leaked = spark.sparkContext.getPersistentRDDs.keySet.toSet -- before
      assert(leaked.isEmpty, s"$name leaked persistent RDDs: $leaked")
    }
  }

  test("tracking engages: the persisted intermediate exists until release") {
    CacheScope.release()
    val before = spark.sparkContext.getPersistentRDDs.keySet.toSet
    SparkEntry.queries("dl")(spark, sf)
      .queryExecution.toRdd.foreach(_ => ())
    val during = spark.sparkContext.getPersistentRDDs.keySet.toSet -- before
    assert(during.nonEmpty,
      "the signature frame should be persisted while the query is live")
    CacheScope.release()
    assert((spark.sparkContext.getPersistentRDDs.keySet.toSet -- before).isEmpty)
  }

  test("ngramJaccard caches nothing: md and dj hold no persistent RDD while live") {
    CacheScope.release()
    Seq("md", "dj").foreach { name =>
      val before = spark.sparkContext.getPersistentRDDs.keySet.toSet
      val q = SparkEntry.queries(name)(spark, sf)
      q.queryExecution.toRdd.foreach(_ => ())
      val during = spark.sparkContext.getPersistentRDDs.keySet.toSet -- before
      assert(during.isEmpty, s"$name persisted while live: $during")
      val p = q.queryExecution.executedPlan.toString
      assert(!p.contains("InMemoryRelation") && !p.contains("InMemoryTableScan"),
        s"$name plan reads a cache:\n$p")
      CacheScope.release()
    }
  }

  test("the JSONL corpus reader's split cache releases too") {
    CacheScope.release()
    val dir = java.nio.file.Files.createTempDirectory("cache_jsonl")
    java.nio.file.Files.writeString(dir.resolve("a.jsonl"),
      """{"doc_id":1,"text":"hello"}
        |{oops not json
        |""".stripMargin)
    val before = spark.sparkContext.getPersistentRDDs.keySet.toSet
    val res = graft.sources.TextCorpus.readJsonl(spark, dir.toString)
    assert(res.docs.count() == 1 && res.corrupt.count() == 1)
    CacheScope.release()
    val leaked = spark.sparkContext.getPersistentRDDs.keySet.toSet -- before
    assert(leaked.isEmpty, s"readJsonl leaked persistent RDDs: $leaked")
    org.apache.commons.io.FileUtils.deleteQuietly(dir.toFile)
  }

  test("components frees each round's checkpoint as the next materializes") {
    CacheScope.release()
    val before = spark.sparkContext.getPersistentRDDs.keySet.toSet
    import spark.implicits._
    // a 64-node chain forces several star-contraction rounds
    val pairs = (0L until 63L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val out = graft.ext.Dedup.components(pairs)
    out.queryExecution.toRdd.foreach(_ => ())
    // only the FINAL round's edge set may still hold blocks (it backs
    // the returned plan); earlier rounds must already be gone
    val during = spark.sparkContext.getPersistentRDDs.keySet.toSet -- before
    assert(during.size <= 2,
      s"expected at most the final round's checkpoint alive, got: $during")
    CacheScope.release()
    assert((spark.sparkContext.getPersistentRDDs.keySet.toSet -- before).isEmpty)
  }
}
