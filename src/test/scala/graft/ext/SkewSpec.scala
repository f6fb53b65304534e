package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Hot-key regression suite for the corpus-statistics operators whose
  * whole PURPOSE is skewed input: a cookie-banner line / boilerplate
  * shingle / stop token occurring in most of the corpus is ONE key, so
  * any plan that routes every occurrence of one key through a single
  * window partition stalls at scale exactly on the data these operators
  * target. Each test drives a fixture where one key covers >50% of
  * documents, asserts the result is still exact, and pins the plan
  * property that makes it survive: occurrence counts flow through a
  * partial (map-side) aggregate — never a window partitioned by the
  * content hash. */
class SkewSpec extends SparkSpec with org.scalatest.BeforeAndAfterEach {
  import spark.implicits._

  override def afterEach(): Unit = graft.CacheScope.release()

  test("AQE skew-join splitting is available to the count rejoins") {
    // the groupBy+rejoin formulations lean on AQE to subdivide a
    // residual hot probe partition; a config change silently disabling
    // adaptive execution would void that half of the skew story
    assert(spark.conf.get("spark.sql.adaptive.enabled") == "true")
    assert(spark.conf.get("spark.sql.adaptive.skewJoin.enabled") == "true")
  }

  /** One boilerplate line + one unique line per doc; the hot line is in
    * ALL docs. */
  private def skewedDocs(n: Int): DataFrame =
    (0L until n.toLong)
      .map(i => (i, s"accept our cookies\nunique payload $i"))
      .toDF("doc_id", "text")

  private def physical(df: DataFrame): String =
    df.queryExecution.executedPlan.toString

  /** No Window operator anywhere: the count formulations under test
    * must aggregate, and windows over uniform doc-sized groups (islands
    * in duplicateSpans) are asserted separately where they belong. */
  private def assertNoHashWindow(p: String, hashCol: String): Unit =
    assert(!p.split('\n').exists(l =>
      l.contains("Window") && l.contains(s"$hashCol#")),
      s"found a window partitioned by the $hashCol hash in:\n$p")

  test("dedupLines: a line in 100% of docs is counted by partial agg, result exact") {
    val docs = skewedDocs(300)
    val out = Curation.dedupLines(docs, $"text", $"doc_id")
    val p = physical(out)
    assertNoHashWindow(p, "lh")
    assert(p.contains("HashAggregate"), s"expected partial aggregation in:\n$p")
    val rows = out.orderBy("doc_id").collect()
    assert(rows.length == 300)
    rows.foreach { r =>
      assert(r.getLong(1) == 2L && r.getLong(2) == 1L &&
        r.getString(3) == s"unique payload ${r.getLong(0)}")
    }
  }

  test("dedupParagraphs: a multi-line paragraph in 100% of docs collapses via partial agg") {
    // the hot unit is a two-LINE block: line dedup would leave a
    // window/hot-partition story per line; the paragraph pass counts
    // the block as ONE key, still via groupBy partial aggregation
    val docs = (0L until 300L)
      .map(i => (i, s"accept our cookies\nall rights reserved\n\nunique payload $i\nsecond line $i"))
      .toDF("doc_id", "text")
    val out = Curation.dedupParagraphs(docs, $"text", $"doc_id")
    val p = physical(out)
    assertNoHashWindow(p, "lh")
    assert(p.contains("HashAggregate"), s"expected partial aggregation in:\n$p")
    val rows = out.orderBy("doc_id").collect()
    assert(rows.length == 300)
    rows.foreach { r =>
      assert(r.getLong(1) == 2L && r.getLong(2) == 1L &&
        r.getString(3) == s"unique payload ${r.getLong(0)}\nsecond line ${r.getLong(0)}")
    }
  }

  test("duplicateSpans: a shingle in every doc counts via groupBy, islands stay doc-keyed") {
    val docs = (0L until 200L)
      .map(i => (i, s"accept all our cookies now w$i x$i y$i z$i"))
      .toDF("doc_id", "text")
    val out = Curation.duplicateSpans(docs, $"text", $"doc_id", k = 3)
    val p = physical(out)
    assertNoHashWindow(p, "sh")
    assert(p.contains("HashAggregate"), s"expected partial aggregation in:\n$p")
    val rows = out.orderBy("doc_id").collect()
    // "accept all our cookies now" = words 0..4; its three 3-shingles
    // occur in all 200 docs, the per-doc w/x/y/z tail in exactly one.
    assert(rows.length == 200)
    rows.foreach { r =>
      assert(r.getInt(1) == 0 && r.getInt(2) == 4 && r.getInt(3) == 5,
        s"unexpected span ${r.mkString(",")}")
    }
  }

  test("sharedShingleStats: a corpus-wide shingle aggregates map-side, ratios exact") {
    val docs = (0L until 240L)
      .map(i => (i, s"the quick brown fox a$i b$i c$i"))
      .toDF("doc_id", "text")
    val out = Dedup.sharedShingleStats(docs, $"text", $"doc_id", k = 3)
    val p = physical(out)
    assertNoHashWindow(p, "s")
    assert(p.contains("HashAggregate"), s"expected partial aggregation in:\n$p")
    val rows = out.orderBy("doc_id").collect()
    assert(rows.length == 240)
    // words the,quick,brown,fox,aI,bI,cI -> 5 distinct 3-shingles per
    // doc; "the quick brown" and "quick brown fox" are shared by all
    // 240 docs, the three aI/bI/cI-suffixed ones are unique per doc.
    rows.foreach { r =>
      assert(r.getLong(1) == 5L && r.getLong(2) == 2L &&
        r.getLong(3) == 2L * 1000 / 5,
        s"unexpected stats ${r.mkString(",")}")
    }
  }

  test("lmSurprisal: a bigram in every doc aggregates map-side, bits exact") {
    // "the cat" opens all 240 docs — the hot bigram AND hot prefix; both
    // count layers must be partial aggregates, never hash windows
    val docs = (0L until 240L)
      .map(i => (i, s"the cat a$i b$i"))
      .toDF("doc_id", "text")
    val out = TextAnalysis.lmSurprisal(docs, $"text", $"doc_id")
    val p = physical(out)
    assertNoHashWindow(p, "bh")
    assertNoHashWindow(p, "wh")
    assert(p.contains("HashAggregate"), s"expected partial aggregation in:\n$p")
    val rows = out.orderBy("doc_id").collect()
    assert(rows.length == 240)
    // per doc: (the,cat) c12=240, prefix the·=240 -> s=bitlen(1)=1;
    // (cat,aI) c12=1, cat·=240 -> s=bitlen(240)=8;
    // (aI,bI) c12=1, aI·=1 -> s=bitlen(1)=1. bits 10 over 3 -> 3333
    rows.foreach { r =>
      assert((r.getLong(1), r.getLong(2), r.getLong(3)) == ((3L, 10L, 3333L)),
        s"unexpected surprisal ${r.mkString(",")}")
    }
  }

  test("ngramContamination: a train-wide shingle stays one distinct row, shares exact") {
    val docs = (0L until 240L)
      .map(i => (i, s"the quick brown fox a$i b$i c$i"))
      .toDF("doc_id", "text")
    val splits = (0L until 240L)
      .map(i => (i, if (i % 10 == 0) "test" else "train"))
      .toDF("doc_id", "split")
    val out = Dedup.ngramContamination(docs, $"text", $"doc_id", splits)
    val p = physical(out)
    assertNoHashWindow(p, "s")
    assert(p.contains("HashAggregate"), s"expected partial aggregation in:\n$p")
    val rows = out.orderBy("doc_id").collect()
    assert(rows.length == 24)
    // each test doc: 5 distinct 3-shingles; "the quick brown" and
    // "quick brown fox" occur in all 216 train docs (one distinct row
    // after the partial agg), the aI/bI/cI-suffixed three nowhere else
    rows.foreach { r =>
      assert(r.getString(1) == "test" && r.getLong(2) == 5L &&
        r.getLong(3) == 2L && r.getLong(4) == 2L * 1000 / 5,
        s"unexpected contamination ${r.mkString(",")}")
    }
  }

  test("ngramJaccard stop-shingle cap removes the quadratic boilerplate pairs") {
    // 40 docs share the cookie-banner shingles (df=40 -> 780 candidate
    // pairs, the M^2 hazard) but are otherwise unique; docs 100/101 are
    // true near-dups through RARE shingles (df=2)
    val docs = ((0L until 40L).map(i => (i, s"accept our cookies x$i y$i")) ++
      Seq((100L, "rare alpha beta gamma"), (101L, "rare alpha beta delta")))
      .toDF("doc_id", "text")
    val uncapped = Dedup.ngramJaccard(docs, $"text", $"doc_id",
        k = 2, minJaccard = 0.3)
      .select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    graft.CacheScope.release()
    val cappedDf = Dedup.ngramJaccard(docs, $"text", $"doc_id",
        k = 2, minJaccard = 0.3, maxDocFreq = 5)
    val capped = cappedDf
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getDouble(4))).toSet
    // uncapped: every boilerplate pair passes 0.3 (2 shared of 4+4) +
    // the real pair; capped: ONLY the real pair, with Jaccard computed
    // self-consistently over the informative shingles (2 of 3+3)
    assert(uncapped.size == 40 * 39 / 2 + 1 && uncapped((100L, 101L)))
    assert(capped == Set((100L, 101L, 2L, 4L, 0.5)))
    // the document frequency stays a partial aggregate, and the capped
    // set sizes ride on the rows: nothing is cached
    val p = physical(cappedDf)
    assertNoHashWindow(p, "s")
    assert(!p.contains("InMemoryRelation") && !p.contains("InMemoryTableScan"),
      s"the capped plan must not cache:\n$p")
  }

  test("dedupPairs: a hot image with distinct captions yields zero " +
    "candidates; near-caption dups under it still pair (VERDICT r19 #6)") {
    // ONE image referenced by 2000 pages (the hero-image / logo shape —
    // the multimodal hot key) with otherwise-unique captions, plus two
    // planted near-dup captions under the hot image and one caption dup
    // across DIFFERENT images. Candidates come only from the capped
    // caption shingles — the hot image itself must contribute nothing.
    val pairs = ((0L until 2000L).map(i =>
        (i, 0L, "cdn.ex/hot.png", s"unique caption number $i entirely")) ++
      Seq((3000L, 0L, "cdn.ex/hot.png", "rare alpha beta gamma words"),
          (3001L, 0L, "cdn.ex/hot.png", "rare alpha beta gamma tokens"),
          (3002L, 0L, "cdn.ex/other.png", "rare alpha beta gamma words")))
      .toDF("doc_id", "ref_idx", "canonical_url", "caption")
    val got = Curation.dedupPairs(pairs, k = 3, minJaccard = 0.4,
        maxDocFreq = 8)
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getLong(4),
        r.getLong(5), r.getBoolean(7))).toSet
    // "unique caption number" / "caption number $i" share df=2000
    // shingles ONLY via the template words — but each doc's shingles
    // carry $i, so df=1 for the informative ones and the template
    // shingles 'unique caption number' etc... are capped at df=2000>8.
    // Survivors: the three planted docs pair pairwise on the rare
    // shingles; same_image distinguishes the hot-image pair from the
    // cross-image ones.
    assert(got === Set(
      (3000L, 3001L, 2L, 4L, true),   // same hot image, near captions
      (3000L, 3002L, 3L, 3L, false),  // exact caption, different image
      (3001L, 3002L, 2L, 4L, false)))
  }

  test("minhashLsh/simhashPairs bucket caps skip the identical-cluster blowup") {
    // 30 byte-identical docs collide into one bucket per band/piece
    // (30*29/2 = 435 candidate pairs); one small true near-dup pair
    // (identical too, but a 2-member bucket) must survive the cap
    val docs = ((0L until 30L).map(i => (i, "aaa bbb ccc ddd eee")) ++
      Seq((100L, "xxx yyy zzz www vvv"), (101L, "xxx yyy zzz www vvv")))
      .toDF("doc_id", "text")
    def pairSet(d: org.apache.spark.sql.DataFrame) =
      d.select("doc_a", "doc_b").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet

    val mhAll = pairSet(Dedup.minhashLsh(docs, $"text", $"doc_id"))
    graft.CacheScope.release()
    val mhCapped = pairSet(Dedup.minhashLsh(docs, $"text", $"doc_id",
      maxBucket = 5))
    graft.CacheScope.release()
    assert(mhAll.size == 30 * 29 / 2 + 1 && mhAll((100L, 101L)))
    assert(mhCapped == Set((100L, 101L)))

    val shAll = pairSet(Dedup.simhashPairs(docs, $"text", $"doc_id"))
    val shCapped = pairSet(Dedup.simhashPairs(docs, $"text", $"doc_id",
      maxBucket = 5))
    assert(shAll.size == 30 * 29 / 2 + 1 && shAll((100L, 101L)))
    assert(shCapped == Set((100L, 101L)))
  }

  test("embedding LSH bucket caps skip the identical-cluster blowup") {
    // 25 identical embeddings bucket together in every band; a separate
    // identical pair (orthogonal direction) sits in 2-member buckets
    val e1 = Array.fill(16)(0.5f)
    val e2 = Array.tabulate(16)(i => if (i % 2 == 0) 0.9f else -0.9f)
    val vecs = ((0L until 25L).map(i => (i, e1)) ++
      Seq((100L, e2), (101L, e2))).toDF("vec_id", "embedding")
    val all = Similarity.nearDupPairs(vecs, "vec_id", "embedding", k = 1000)
      .select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    graft.CacheScope.release()
    val capped = Similarity.nearDupPairs(vecs, "vec_id", "embedding",
        k = 1000, maxBucket = 5)
      .select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    graft.CacheScope.release()
    assert(all.size == 25 * 24 / 2 + 1 && all((100L, 101L)))
    assert(capped == Set((100L, 101L)))

    val g = Similarity.knnGraph(vecs, "vec_id", "embedding", k = 3,
        maxBucket = 5)
      .select("src").collect().map(_.getLong(0)).toSet
    graft.CacheScope.release()
    // only the small-bucket pair produces graph edges under the cap
    assert(g == Set(100L, 101L))
  }

  test("minhashLsh bucket cap BINDS on the real corpus") {
    // the sf0.001 documents table has band buckets of size 3-4 (checked
    // against DuckDB), so maxBucket = 2 must drop some pairs while
    // every surviving pair comes from the uncapped set — pinning that
    // the guard changes real behavior, not just the synthetic fixtures
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    def pairsOf(maxBucket: Int) = {
      val p = Dedup.minhashLsh(docs, col("text"), col("doc_id"),
          k = 3, numHashes = 16, bands = 4, minMatches = 4,
          maxBucket = maxBucket)
        .select("doc_a", "doc_b").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      graft.CacheScope.release()
      p
    }
    val un = pairsOf(Int.MaxValue)
    val capped = pairsOf(2)
    assert(capped.nonEmpty && capped.subsetOf(un) && capped.size < un.size,
      s"cap did not bind: ${capped.size} of ${un.size}")
  }

  test("components: a hot hub node with 3000 edges contracts exactly") {
    // the node a near-dup cluster contracts into IS the hot key: hub 5
    // pairs with 3000 others (plus a disjoint chain), and the per-node
    // min must flow through a partial aggregate, not a degree-sized
    // window partition
    val hub = spark.range(3000)
      .select(lit(5L).as("doc_a"), (col("id") + 10L).as("doc_b"))
    val chain = Seq((4000L, 4001L), (4001L, 4002L)).toDF("doc_a", "doc_b")
    val out = Dedup.components(hub.union(chain).repartition(16))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(out.size == 3004)
    (10L until 3010L).foreach(n => assert(out(n) == 5L))
    assert(out(5L) == 5L)
    assert(out(4000L) == 4000L && out(4001L) == 4000L && out(4002L) == 4000L)
  }

  test("rarityScore: the stop token 'the' aggregates map-side, surprisal exact") {
    val docs = (0L until 256L)
      .map(i => (i, s"the tok$i"))
      .toDF("doc_id", "text")
    val out = TextAnalysis.rarityScore(docs, $"text", $"doc_id")
    val p = physical(out)
    assertNoHashWindow(p, "th")
    assert(p.contains("HashAggregate"), s"expected partial aggregation in:\n$p")
    val rows = out.orderBy("doc_id").collect()
    assert(rows.length == 256)
    // df("the") = 256 -> bin length 9 -> rarity 55; df(tokI) = 1 ->
    // rarity 63. Two terms per doc.
    rows.foreach { r =>
      assert(r.getLong(1) == 2L && r.getLong(2) == 55L + 63L,
        s"unexpected rarity ${r.mkString(",")}")
    }
  }

  test("maximalMatches stop-shingle cap skips the boilerplate seed blowup") {
    // 40 docs share a boilerplate window (n=40 -> 780 ordered pairs per
    // seed, the n^2 hazard the cap exists for); docs 100/101 share a
    // RARE 6-word run. With the cap at 5 the boilerplate seed is
    // skipped entirely and only the rare run's maximal match survives.
    val docs = ((0L until 40L).map(i =>
        (i, s"accept all our cookies now please x$i y$i z$i")) ++
      Seq((100L, "p q rare alpha beta gamma delta zz"),
          (101L, "rare alpha beta gamma delta qq")))
      .toDF("doc_id", "text")
    val out = Curation.maximalMatches(docs, $"text", $"doc_id", k = 5,
        maxOccur = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2),
        r.getInt(3), r.getInt(4)))
    assert(out.toSeq == Seq((100L, 101L, 2, 0, 5)))
    // uncapped, the boilerplate pairs flood in (sanity on the hazard)
    val all = Curation.maximalMatches(docs, $"text", $"doc_id", k = 5)
      .count()
    assert(all == 40L * 39 / 2 + 1)
  }

  test("sourceOverlap: a corpus-wide shingle fans out per source pair, not per doc") {
    // one boilerplate shingle in EVERY doc of 3 sources contributes
    // exactly C(3,2) = 3 pair rows' worth of intersection — one per
    // source pair — because the frame is DISTINCT (source, hash); a
    // per-occurrence formulation would fan out |docs|^2
    val docs = (0L until 60L).map(i =>
      (i, s"src${i % 3}", s"the same banner here u$i v$i")).toDF(
      "doc_id", "source", "text")
    val out = Dedup.sourceOverlap(docs, $"text", $"source")
      .orderBy("src_a", "src_b").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    // shared distinct shingles between any two sources: the 3 banner
    // windows ("the same banner", "same banner here") — per-doc suffix
    // shingles are unique (u$i v$i)
    assert(out.length == 3)
    assert(out.forall(_._3 == 2L), s"expected 2 shared shingles: ${out.toSeq}")
  }

  test("keepBest: one 200-doc hot cluster resolves via partial-agg argmax, exact") {
    // every doc near-dups every other (star pairs onto doc 0): ONE
    // component key carries the whole corpus — the argmax must stay an
    // aggregate (partial per map task), never a component-keyed window
    val docs = (0L until 200L)
      .map(i => (i, "x" * (if (i == 137L) 50 else (i % 7 + 1).toInt)))
      .toDF("doc_id", "text")
    val pairs = (1L until 200L).map(i => (0L, i)).toDF("doc_a", "doc_b")
    val kept = Dedup.keepBest(docs, pairs, col("doc_id"),
        length(col("text")), expectedDups = 1000)
      .select("doc_id").as[Long].collect().toSeq
    assert(kept == Seq(137L), s"longest member must win: $kept")
    val p = Dedup.keepBest(docs, pairs, col("doc_id"), length(col("text")),
      expectedDups = 1000).queryExecution.executedPlan.toString
    assert(!p.contains("Window"),
      s"hot-cluster argmax must be partial-agg, not a window:\n$p")
  }

  test("bm25TopK: a stop-word query term in 100% of docs stays partial-agg, scores exact") {
    // 'the' occurs in every document — the postings explode funnels the
    // whole corpus through one term key. tf must aggregate per
    // (doc, term) with map-side partials (uniform doc keys), the hot
    // term's df is ONE row in the broadcast, and the top-k stays a
    // WindowGroupLimit — no term-keyed window over the corpus.
    val docs = (0L until 300L)
      .map(i => (i, s"the payload$i filler$i"))
      .toDF("doc_id", "text")
    val out = TextAnalysis.bm25TopK(docs, $"text", $"doc_id",
      Seq(0L -> "the payload7"), k = 5)
    val rows = out.collect().map(r => (r.getLong(1), r.getLong(2)))
    // doc 7 matches BOTH terms (rare 'payload7' idf 9 bits + hot 'the'
    // idf bitlen(1 div 601)=1); everything else matches 'the' alone at
    // identical tf/dl → doc_id tie-break fills ranks 2..5 with 0,1,2,3
    assert(rows.head == (1L, 7L), s"two-term doc must rank first: ${rows.toSeq}")
    assert(rows.map(_._2).toSeq == Seq(7L, 0L, 1L, 2L, 3L))
    val p = out.queryExecution.executedPlan.toString
    assert(p.split('\n').exists(l =>
      l.contains("WindowGroupLimit") && l.contains("Partial")),
      s"expected a Partial-mode WindowGroupLimit in:\n$p")
    assert(!p.split('\n').exists(l =>
      l.contains("Window") && l.contains("term#")),
      s"no window may partition on the term key:\n$p")
  }
}
