package graft.ext

import org.apache.spark.sql.functions._

import graft.SparkSpec

class DedupSpec extends SparkSpec {
  import spark.implicits._

  private val docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog"),
    (2L, "the quick brown fox jumps over the lazy cat"), // near-dup of 1
    (3L, "completely different content about spark engines here"),
    (4L, "the quick brown fox jumps over the lazy dog") // exact dup of 1
  ).toDF("doc_id", "text")

  test("exact dedup groups identical content, keeper = min id") {
    val out = Dedup.exact(docs, $"text", $"doc_id")
      .orderBy("keeper_doc_id").collect()
    assert(out.length == 3)
    val dup = out.find(_.getAs[Long]("n_copies") == 2L).get
    assert(dup.getAs[Long]("keeper_doc_id") == 1L)
  }

  test("prefix dups count docs sharing leading chars, not whole content") {
    val df = Seq(
      (1L, "shared leading boilerplate header then unique tail one"),
      (2L, "shared leading boilerplate header then unique tail two"),
      (3L, "completely different document")).toDF("doc_id", "text")
    // n=32 covers the common header but not the divergent tails
    val out = Dedup.prefixDups(df, $"text", $"doc_id", n = 32)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(out == Seq((1L, 2L), (2L, 2L), (3L, 1L)))
    // at full length the tails differ: everyone is unique
    val full = Dedup.prefixDups(df, $"text", $"doc_id", n = 500)
      .orderBy("doc_id").collect().map(_.getLong(1)).toSeq
    assert(full == Seq(1L, 1L, 1L))
  }

  test("ngram Jaccard finds the near-dup pair with exact similarity") {
    val out = Dedup.ngramJaccard(docs, $"text", $"doc_id", k = 3, minJaccard = 0.5)
      .orderBy("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    // docs 1,2,4: 9-word docs, 7 shingles each; 1↔4 identical (J=1),
    // 1↔2 and 2↔4 share 6 of 8 shingles (J=0.75); 3 is unrelated.
    assert(out == Seq((1L, 2L), (1L, 4L), (2L, 4L)))
  }

  test("ngramJaccard hashes each shingle row once: no inferred null check re-runs md5") {
    for (cap <- Seq(Int.MaxValue, 2)) {
      val p = Dedup.ngramJaccard(docs, $"text", $"doc_id", k = 3, minJaccard = 0.5,
        maxDocFreq = cap).queryExecution.optimizedPlan.toString
      assert(p.contains("hash60_md5") && !p.contains("isnotnull(hash60_md5"),
        s"maxDocFreq $cap:\n$p")
    }
  }

  test("ngramJaccard sizes on the rows: inter, union_n, jaccard equal a " +
    "Scala set reference, capped and uncapped, over struct ids") {
    // k = 2; (2,0) repeats its shingles; (3,0) is under k words; "q r"
    // is in 3 documents, so at maxDocFreq 2 (4,0), (4,1) and (5,0) lose
    // every shingle, as "a b" (df 3) leaves (1,*) and (2,0) smaller sets;
    // (6,0)-(6,1) shares 1 of 3 shingles, exactly minJaccard after round
    val k = 2
    val minJ = 0.333333
    val fixture = Seq(
      (1L, 0L, "a b c d"), (1L, 1L, "a b c e"), (2L, 0L, "a b a b a b"),
      (3L, 0L, "x"), (4L, 0L, "q r"), (4L, 1L, "q r"), (5L, 0L, "q r"),
      (6L, 0L, "m n o"), (6L, 1L, "m n p"))
    val keyed = fixture.toDF("doc_id", "ref_idx", "text")
      .select(struct($"doc_id", $"ref_idx").as("__pid"), $"text")
    type Id = (Long, Long)
    def reference(cap: Int): Set[(Id, Id, Long, Long, Double)] = {
      val sets = fixture.map { case (d, r, t) =>
        (d, r) -> t.split(" ").sliding(k).filter(_.length == k)
          .map(_.mkString(" ")).toSet }
      val df = sets.flatMap(_._2.toSeq).groupBy(identity)
        .map { case (s, occ) => s -> occ.size }
      val kept = sets.map { case (id, ss) => id -> ss.filter(df(_) <= cap) }
      val ord = Ordering[(Long, Long)]
      (for {
        (a, sa) <- kept; (b, sb) <- kept if ord.lt(a, b)
        inter = (sa & sb).size.toLong if inter > 0
        union = (sa | sb).size.toLong
        j = BigDecimal(inter.toDouble / union)
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble if j >= minJ
      } yield (a, b, inter, union, j)).toSet
    }
    def id(r: org.apache.spark.sql.Row): Id = (r.getLong(0), r.getLong(1))
    Seq(Int.MaxValue, 2).foreach { cap =>
      val out = Dedup.ngramJaccard(keyed, $"text", $"__pid", k = k,
        minJaccard = minJ, maxDocFreq = cap)
      assert(out.columns.toSeq == Seq("doc_a", "doc_b", "inter", "union_n", "jaccard"))
      assert(out.schema.drop(2).map(_.dataType.simpleString) ==
        Seq("bigint", "bigint", "double"))
      val got = out.collect().map(r => (id(r.getStruct(0)), id(r.getStruct(1)),
        r.getLong(2), r.getLong(3), r.getDouble(4))).toSet
      assert(got == reference(cap), s"maxDocFreq $cap")
      assert(got.exists(p => p._1 == (6L, 0L) && p._2 == (6L, 1L) && p._5 == minJ))
      if (cap == 2)
        assert(!got.exists(p => Set(p._1._1, p._2._1).exists(Set(4L, 5L))),
          "documents capped down to no shingle must not pair")
      else assert(got.contains(((4L, 0L), (5L, 0L), 1L, 1L, 1.0)))
    }
  }

  test("identical docs have identical minhash signatures; near-dups collide") {
    val sig = Dedup.minhashSignatures(docs, $"text", $"doc_id")
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(sig(1L) == sig(4L))
    assert(sig(1L) != sig(3L))
    val pairs = Dedup.minhashLsh(docs, $"text", $"doc_id", minMatches = 16)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(pairs.contains((1L, 4L))) // exact dup always at 16/16 matches
  }

  test("minhash signature values match the md5/hash60 reference formula") {
    // Independent re-derivation of sig[p] = min over 3-shingles s of the
    // first 60 bits of md5(p + ":" + s) — pins the exact byte format the
    // DuckDB oracle mirrors.
    def h60(s: String): Long = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8"))
      var h = 0L
      (0 until 7).foreach(k => h = (h << 8) | (d(k) & 0xffL))
      (h << 4) | ((d(7) & 0xf0L) >>> 4)
    }
    val words = "the quick brown fox jumps over the lazy dog".split(" ")
    val shingles = words.sliding(3).map(_.mkString(" ")).toSeq
    val expected = (0 until 16).map(p => shingles.map(s => h60(s"$p:$s")).min)
    val sig = Dedup.minhashSignatures(docs, $"text", $"doc_id")
      .where($"doc_id" === 1L).collect().head.getSeq[Long](1)
    assert(sig == expected)
  }

  test("components: chains merge transitively, separate clusters stay apart") {
    // graph: 1-2-3 chain (transitive), 10-11 pair, 20 absent (singleton)
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("doc_a", "doc_b")
    val out = Dedup.components(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L))
  }

  test("keepRepresentatives: cluster minima and singletons survive") {
    // corpus 1..6; clusters {1,2,3} and {4,5}; 6 unclustered
    val docs = (1L to 6L).map(i => (i, s"doc $i")).toDF("doc_id", "text")
    val pairs = Seq((1L, 2L), (2L, 3L), (4L, 5L)).toDF("doc_a", "doc_b")
    val kept = Dedup.keepRepresentatives(docs, pairs, col("doc_id"),
        expectedDups = 100)
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(kept == Seq(1L, 4L, 6L))
  }

  test("keepBest: per-cluster argmax by score, ties to min id, singletons survive") {
    // clusters {1,2,3} and {4,5}; 6 unclustered. Scores (text length):
    // cluster 1: doc 2 and 3 tie at the max -> min id 2 wins, NOT the
    // min-id member 1; cluster 2: doc 5 strictly longest.
    val docs = Seq(
      (1L, "a b c"), (2L, "a b c d"), (3L, "a b c e"),
      (4L, "x"), (5L, "x y z w"), (6L, "solo")).toDF("doc_id", "text")
    val pairs = Seq((1L, 2L), (2L, 3L), (4L, 5L)).toDF("doc_a", "doc_b")
    val kept = Dedup.keepBest(docs, pairs, col("doc_id"),
        length(col("text")), expectedDups = 100)
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(kept == Seq(2L, 5L, 6L))
    // degenerate score (constant): falls back to pure min-id — the
    // keepRepresentatives answer
    val const = Dedup.keepBest(docs, pairs, col("doc_id"), lit(1),
        expectedDups = 100)
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(const == Seq(1L, 4L, 6L))
  }

  test("lshRecall: identical docs are always recalled; looser minMatches can't lose pairs") {
    // docs 1/2 identical (jaccard 1.0 -> identical signatures -> same
    // band buckets, guaranteed candidate); 3/4 unrelated fillers
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog today"),
      (2L, "the quick brown fox jumps over the lazy dog today"),
      (3L, "completely different words in this one here now"),
      (4L, "and yet another unrelated document about spark plans"))
      .toDF("doc_id", "text")
    val r = Dedup.lshRecall(docs, $"text", $"doc_id",
        k = 3, minJaccard = 0.5, numHashes = 16, bands = 4, minMatches = 4)
      .as[(Long, Long, Long, Long, Long)].head()
    graft.CacheScope.release()
    assert(r == ((1L, 1L, 1L, 1000L, 1000L)),
      s"identical pair must be recalled at full precision: $r")
    // monotonicity: minMatches = 1 accepts a superset of minMatches = 8
    def found(mm: Int) = {
      val f = Dedup.lshRecall(docs, $"text", $"doc_id",
          k = 3, minJaccard = 0.5, numHashes = 16, bands = 4,
          minMatches = mm)
        .as[(Long, Long, Long, Long, Long)].head()._3
      graft.CacheScope.release()
      f
    }
    assert(found(1) >= found(8))
  }

  test("lshRecall: a pair-free corpus reads zeros, never NULL metrics") {
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon words"),
      (2L, "totally different content in this document"))
      .toDF("doc_id", "text")
    val r = Dedup.lshRecall(docs, $"text", $"doc_id",
        k = 3, minJaccard = 0.9, numHashes = 16, bands = 4, minMatches = 4)
      .as[(Long, Long, Long, Long, Long)].head()
    graft.CacheScope.release()
    assert(r._1 == 0L && r._3 == 0L && r._4 == 0L && r._5 == 0L,
      s"empty exact side must yield zeros (the oracle's count(col)): $r")
  }

  test("components: long chain converges to the global min label") {
    // a 16-node path ordered so min-label needs several propagation
    // rounds to reach the far end
    val pairs = (0 until 15).map(i => (15L - i, 14L - i)).toDF("doc_a", "doc_b")
    val out = Dedup.components(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out.size == 16 && out.values.forall(_ == 0L))
  }

  test("components property: random graphs match a union-find reference") {
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    // driver-side union-find as the independent reference
    def unionFind(n: Int, edges: Seq[(Long, Long)]): Map[Long, Long] = {
      val parent = scala.collection.mutable.Map.empty[Long, Long]
      def find(x: Long): Long = {
        val p = parent.getOrElse(x, x)
        if (p == x) x else { val r = find(p); parent(x) = r; r }
      }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct
      nodes.map(x => x -> find(x)).toMap
    }
    val edgeGen = for {
      n <- Gen.chooseNum(2, 40)
      m <- Gen.chooseNum(1, 60)
      es <- Gen.listOfN(m, for {
        a <- Gen.chooseNum(0, n - 1)
        b <- Gen.chooseNum(0, n - 1)
      } yield (a.toLong, b.toLong))
    } yield (n, es)
    val prop = Prop.forAll(edgeGen) { case (n, es) =>
      val pairs = es.map { case (a, b) => (a, b) }.toDF("doc_a", "doc_b")
      val got = Dedup.components(pairs).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      val want = unionFind(n, es.filter(e => e._1 != e._2))
      got == want
    }
    // each case is several Spark jobs — keep the count small
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(8), prop)
    assert(res.passed, res.status.toString)
  }

  test("cross-split contamination keeps only pairs spanning splits") {
    val pairs = Seq((1L, 2L, 10), (3L, 4L, 12), (5L, 6L, 16))
      .toDF("doc_a", "doc_b", "n_matching")
    val splits = Seq(1L -> "train", 2L -> "test", 3L -> "train",
      4L -> "train", 5L -> "val", 6L -> "train").toDF("doc_id", "split")
    val out = Dedup.crossSplitContamination(pairs, splits)
      .orderBy("doc_a")
      .select("doc_a", "split_a", "doc_b", "split_b")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getString(3)))
    assert(out.toSeq == Seq((1L, "train", 2L, "test"), (5L, "val", 6L, "train")))
  }

  test("ngramContamination: stop-shingle cap drops boilerplate from the score") {
    // three train docs + one eval doc share the 5-word template head
    // "shared template header words here" (its 3 shingles sit in 4 docs
    // > cap 2); the eval doc ALSO leaks one genuinely-train trigram
    // ("alpha beta gamma", df = 2 <= cap). With the cap the eval doc
    // scores exactly that one informative hit; uncapped, the template
    // shingles count too.
    val corpus = Seq(
      (1L, "shared template header words here alpha beta gamma"),
      (2L, "shared template header words here totally other tail"),
      (3L, "shared template header words here third body text"),
      (10L, "shared template header words here alpha beta gamma extra")
    ).toDF("doc_id", "text")
    val splits = Seq(1L -> "train", 2L -> "train", 3L -> "train",
      10L -> "val").toDF("doc_id", "split")
    val capped = Dedup.ngramContamination(corpus, $"text", $"doc_id",
        splits, maxDocFreq = 2)
      .collect().map(r => (r.getLong(0), r.getString(1),
        r.getLong(2), r.getLong(3))).toSeq
    // eval doc 10's surviving shingles: every trigram touching the
    // tail plus "alpha beta gamma" (df 2); template-only trigrams
    // ("shared template header", "template header words",
    // "header words here") sit in 4 docs and are capped away.
    // 8-word+1 doc -> 7 trigrams, minus the 3 capped = 4 surviving, of
    // which "alpha beta gamma" and "beta gamma extra"? no — "beta
    // gamma extra" exists only in doc 10. Contaminated = shingles also
    // in SOME train doc: "words here alpha" (doc 1), "here alpha beta"
    // (doc 1), "alpha beta gamma" (doc 1) = 3 of 4.
    assert(capped == Seq((10L, "val", 4L, 3L)))
    // uncapped: all 7 shingles counted, 6 contaminated (everything but
    // "beta gamma extra" occurs in a train doc)
    val uncapped = Dedup.ngramContamination(corpus, $"text", $"doc_id", splits)
      .collect().map(r => (r.getLong(0), r.getString(1),
        r.getLong(2), r.getLong(3))).toSeq
    assert(uncapped == Seq((10L, "val", 7L, 6L)))
    graft.CacheScope.release()
  }

  test("sharedShingleStats: cross-doc shared fraction; intra-doc repeats don't count") {
    val corpus = Seq(
      (1L, "a b c d"),     // distinct shingles: "a b c", "b c d"
      (2L, "a b c x"),     // shares "a b c" with doc 1
      (3L, "z z z z z"),   // one distinct shingle, repeated only here
      (4L, "q w")          // no trigram → dropped
    ).toDF("doc_id", "text")
    val out = Dedup.sharedShingleStats(corpus, $"text", $"doc_id")
      .orderBy("doc_id").as[(Long, Long, Long, Long)].collect().toSeq
    assert(out == Seq(
      (1L, 2L, 1L, 500L), // "a b c" appears in doc 2 as well
      (2L, 2L, 1L, 500L),
      (3L, 1L, 0L, 0L))) // within-doc repetition is repetitionStats' job
  }

  test("sourceOverlap: pairwise distinct-shingle Jaccard by hand, zero pairs absent") {
    // A: {abc,bcd,cde} (the second doc repeats a shingle — distinct per
    // source), B: {bcd,cde,def}, C: {xyz,yzw} — A∩B = 2, A∩C = B∩C = ∅
    val docs = Seq(
      (1L, "A", "a b c d e"),
      (2L, "A", "a b c"),
      (3L, "B", "b c d e f"),
      (4L, "C", "x y z w")).toDF("doc_id", "source", "text")
    val out = Dedup.sourceOverlap(docs, $"text", $"source")
      .orderBy("src_a", "src_b").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))
    // jac = 2*1000 div (3 + 3 - 2) = 500; no row for the empty overlaps
    assert(out.toSeq == Seq(("A", "B", 2L, 3L, 3L, 500L)))
    val again = Dedup.sourceOverlap(docs.repartition(5), $"text", $"source")
      .orderBy("src_a", "src_b").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))
    assert(again.toSeq == out.toSeq)
    graft.CacheScope.release()
  }

  test("simhash: identical docs at distance 0, unrelated docs far") {
    val fp = Dedup.simhash(docs, $"text", $"doc_id")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fp(1L) == fp(4L))
    assert(java.lang.Long.bitCount(fp(1L) ^ fp(3L)) > 10)
    val pairs = Dedup.simhashPairs(docs, $"text", $"doc_id", maxDist = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSeq
    assert(pairs.contains((1L, 4L, 0)))
  }

  test("dedupCensus: first-tier attribution, null flags, counts sum to n_docs") {
    // doc 1 fires exact AND near -> attributed exact only; doc 2 near
    // only; doc 3 nothing (null flags read false); doc 4 url only
    val flagged = Seq(
      (1L, "cc", Some(true), Some(true), None),
      (2L, "cc", None, Some(true), None),
      (3L, "cc", None, None, None),
      (4L, "web", None, None, Some(true)),
      (5L, "web", None, None, None)
    ).toDF("doc_id", "source", "f_exact", "f_near", "f_url")
    val out = Dedup.dedupCensus(flagged, $"source", Seq(
        "exact" -> $"f_exact", "near" -> $"f_near", "url" -> $"f_url"))
      .orderBy("source")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5)))
    assert(out.toSeq == Seq(
      ("cc", 3L, 1L, 1L, 0L, 1L),
      ("web", 2L, 0L, 0L, 1L, 1L)))
    // invariant: per-reason counts plus kept always sum to n_docs
    out.foreach { case (_, n, e, nr, u, k) => assert(e + nr + u + k == n) }
  }
}
