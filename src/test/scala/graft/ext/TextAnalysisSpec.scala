package graft.ext

import org.apache.spark.sql.functions._

import graft.SparkSpec

class TextAnalysisSpec extends SparkSpec {
  import spark.implicits._

  test("token stats on a crafted doc") {
    val df = Seq((1L, "Hello, world! hello  again")).toDF("id", "text")
    val r = TextAnalysis.tokenStats(df, $"text", $"id").collect().head
    assert(r.getAs[Int]("n_chars") == 26)
    // tokens: Hello , world ! hello again = 6
    assert(r.getAs[Int]("n_tokens") == 6)
    // whitespace words: Hello, world! hello again = 4
    assert(r.getAs[Int]("n_words") == 4)
    assert(r.getAs[Int]("n_uniq_words") == 4)
  }

  test("language id picks the profile with most stopword hits") {
    val df = Seq(
      (1L, "the cat and the dog of the house"),
      (2L, "el gato y la casa de la que"),
      (3L, "le chat et les maisons des amis"),
      (4L, "der hund und das haus ist ein")).toDF("id", "text")
    val out = TextAnalysis.langId(df, $"text", $"id")
      .orderBy("doc_id").collect().map(_.getAs[String]("lang_pred"))
    assert(out.toSeq == Seq("en", "es", "fr", "de"))
  }

  test("quality score flags degenerate docs") {
    val df = Seq(
      (1L, "a good long document with many different interesting words here"),
      (2L, "spam spam spam spam spam spam spam spam spam spam"), // low uniq
      (3L, "hi")). // too short
      toDF("id", "text")
    val out = TextAnalysis.qualityScore(df, $"text", $"id")
      .orderBy("doc_id").collect().map(_.getAs[Boolean]("quality_ok"))
    assert(out.toSeq == Seq(true, false, false))
  }

  test("repetition stats: crafted repeats produce exact ppm fractions") {
    val df = Seq(
      // "a b a b a b": bigrams = [a b, b a, a b, b a, a b] (n=5, top=3);
      // trigrams = [a b a, b a b, a b a, b a b] (n=4, all duplicated)
      (1L, "a b a b a b"),
      // all-distinct words: no repeated bigrams/trigrams
      (2L, "one two three four five"),
      (3L, "x y")). // no trigrams → dropped
      toDF("id", "text")
    val out = TextAnalysis.repetitionStats(df, $"text", $"id")
      .orderBy("doc_id").collect()
    assert(out.length == 2)
    val r1 = out(0)
    assert(r1.getAs[Int]("n_bigrams") == 5 && r1.getAs[Int]("top_bigram_n") == 3)
    assert(r1.getAs[Long]("top_bigram_pm") == 600L) // 3*1000 div 5
    assert(r1.getAs[Int]("n_trigrams") == 4 && r1.getAs[Int]("dup_trigram_n") == 4)
    assert(r1.getAs[Long]("dup_trigram_pm") == 1000L)
    val r2 = out(1)
    assert(r2.getAs[Int]("top_bigram_n") == 1 && r2.getAs[Long]("dup_trigram_pm") == 0L)
  }

  test("word_profile/tok_profile equal the portable HOF formulations") {
    import org.apache.spark.sql.functions._
    graft.functions.GraftFunctions.register(spark)
    val df = Seq(
      "the quick brown fox, and the lazy dog!",
      "el perro y la casa de los gatos",
      "punctuation... everywhere?! yes; really.",
      "", "x",
      "der der der die und das ist ein von mit"
    ).zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("id", "text")
    val w = Text.words(lower(col("text")))
    val t = Text.tokens(col("text"))
    val rows = df.select(
      call_function("word_profile", w).as("p"),
      call_function("tok_profile", t).as("tp"),
      size(w).as("h_nw"),
      size(array_distinct(w)).as("h_uniq"),
      aggregate(w, lit(0L), (a, x) => a + length(x)).as("h_sum"),
      aggregate(w, lit(0L), (a, x) => greatest(a, length(x).cast("long"))).as("h_max"),
      TextAnalysis.hits(w, "en").as("h_en"), TextAnalysis.hits(w, "es").as("h_es"),
      TextAnalysis.hits(w, "fr").as("h_fr"), TextAnalysis.hits(w, "de").as("h_de"),
      size(t).as("h_nt"),
      (size(t) - size(filter(t, x => x.rlike("^[0-9A-Za-z_]+$")))).as("h_punct")
    ).collect()
    rows.foreach { r =>
      val p = r.getStruct(0); val tp = r.getStruct(1)
      assert(p.getInt(0) == r.getAs[Int]("h_nw"))
      assert(p.getInt(1) == r.getAs[Int]("h_uniq"))
      assert(p.getLong(2) == r.getAs[Long]("h_sum"))
      assert(p.getLong(3) == r.getAs[Long]("h_max"))
      assert(p.getInt(4) == r.getAs[Int]("h_en"))
      assert(p.getInt(5) == r.getAs[Int]("h_es"))
      assert(p.getInt(6) == r.getAs[Int]("h_fr"))
      assert(p.getInt(7) == r.getAs[Int]("h_de"))
      assert(tp.getInt(0) == r.getAs[Int]("h_nt"))
      assert(tp.getInt(1) == r.getAs[Int]("h_punct"))
    }
  }

  test("topTerms: tf desc, rarity (df asc) breaks ties, then term asc") {
    val corpus = Seq(
      (1L, "apple apple banana cherry"),
      (2L, "banana cherry cherry date")).toDF("doc_id", "text")
    val out = TextAnalysis.topTerms(corpus, $"text", $"doc_id", k = 2)
      .orderBy("doc_id", "rn").as[(Long, Int, String, Long, Long)]
      .collect().toSeq
    // doc 1: apple tf=2 wins; banana/cherry tie at tf=1 df=2 → term asc
    // doc 2: cherry tf=2 wins; banana (df=2) loses the tie to date (df=1)
    assert(out == Seq(
      (1L, 1, "apple", 2L, 1L), (1L, 2, "banana", 1L, 2L),
      (2L, 1, "cherry", 2L, 2L), (2L, 2, "date", 1L, 1L)))
  }

  test("rarityScore: bit-length surprisal over document frequency") {
    val df = Seq(
      (1L, "common rare1"),
      (2L, "common rare2"),
      (3L, "common common")).toDF("id", "text")
    val out = TextAnalysis.rarityScore(df, $"text", $"id")
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    // df(common)=3 -> bitlen 2 -> rar 62; df(rareN)=1 -> bitlen 1 -> 63.
    // doc 3 has ONE distinct term (repeats don't raise df).
    assert(out.toSeq == Seq(
      (1L, 2L, 125L, 62500L),
      (2L, 2L, 125L, 62500L),
      (3L, 1L, 62L, 62000L)))
    // partitioning-independent
    val again = TextAnalysis.rarityScore(df.repartition(3), $"text", $"id")
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(again.toSeq == out.toSeq)
  }

  test("lmSurprisal: bigram-LM bits match hand arithmetic; short docs drop") {
    // corpus bigram counts: ab=3 (d0 twice + d1), ba=2, ac=1, bx=1
    // prefixes: a·=4, b·=3
    // s(ab)=bitlen(4 div 3)=1, s(ba)=bitlen(3 div 2)=1,
    // s(ac)=bitlen(4 div 1)=3, s(bx)=bitlen(3 div 1)=2
    val df = Seq(
      (0L, "a b a b a c"), // bits 1+1+1+1+3=7 over 5 bigrams -> 1400
      (1L, "a b x"),       // bits 1+2=3 over 2 -> 1500
      (2L, "z")            // one word, no bigrams -> absent
    ).toDF("id", "text")
    val out = TextAnalysis.lmSurprisal(df, $"text", $"id")
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(out.toSeq == Seq(
      (0L, 5L, 7L, 1400L),
      (1L, 2L, 3L, 1500L)))
    // partitioning-independent (exact integer bits, no float drift)
    val again = TextAnalysis.lmSurprisal(df.repartition(3), $"text", $"id")
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(again.toSeq == out.toSeq)
  }

  test("lmScore: foreign text priced by add-one smoothing, exact bits") {
    // model from ["a b", "a b", "a c"]: c(ab)=2, c(ac)=1, a·=3, vocab=2
    val train = Seq((0L, "a b"), (1L, "a b"), (2L, "a c")).toDF("id", "text")
    val model = TextAnalysis.lmModel(train, $"text", $"id")
    val vocab = model.count()
    assert(vocab == 2L)
    val foreign = Seq(
      (10L, "a b"), // seen bigram:  bitlen((3+2) div (2+1)) = bitlen(1) = 1
      (11L, "a z"), // seen prefix:  bitlen((3+2) div (0+1)) = bitlen(5) = 3
      (12L, "q r")  // unseen prefix: bitlen((0+2) div 1)    = bitlen(2) = 2
    ).toDF("id", "text")
    val out = TextAnalysis.lmScore(foreign, $"text", $"id", model, vocab)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(out.toSeq == Seq(
      (10L, 1L, 1L, 1000L),
      (11L, 1L, 3L, 3000L),
      (12L, 1L, 2L, 2000L)))
    // in-distribution text scores strictly below out-of-distribution —
    // the filtering property the gate exists for
    assert(out(0)._4 < out(2)._4 && out(2)._4 < out(1)._4)
  }

  test("lmScore derived vocab: model carries the textbook add-one mass") {
    // train ["a b","a b","a c","b c"]: bigrams ab(2) ac(1) bc(1);
    // prefixes a (c1=3), b (c1=1) -> unigram vocab = 2, stamped on the
    // model itself so scoring needs no second aggregation
    val train = Seq((0L, "a b"), (1L, "a b"), (2L, "a c"), (3L, "b c"))
      .toDF("id", "text")
    val model = TextAnalysis.lmModel(train, $"text", $"id")
    assert(model.select("vocab").distinct().as[Long].collect().toSeq == Seq(2L))
    val foreign = Seq(
      (10L, "a b"), // bitlen((3+2) div (2+1)) = bitlen(1) = 1
      (11L, "a z"), // bitlen((3+2) div (0+1)) = bitlen(5) = 3
      (12L, "b c"), // bitlen((1+2) div (1+1)) = bitlen(1) = 1
      (13L, "q r")  // bitlen((0+2) div (0+1)) = bitlen(2) = 2
    ).toDF("id", "text")
    val derived = TextAnalysis.lmScore(foreign, $"text", $"id", model)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(2)))
    assert(derived.toSeq == Seq((10L, 1L), (11L, 3L), (12L, 1L), (13L, 2L)))
    // the derived-vocab overload IS the explicit call with that vocab
    val explicit = TextAnalysis.lmScore(foreign, $"text", $"id", model, 2L)
      .orderBy("doc_id").collect().map(r => (r.getLong(0), r.getLong(2)))
    assert(derived.toSeq == explicit.toSeq)
  }

  test("lmScore derived vocab: guard messages name the contract (ADVICE r12)") {
    val scored = Seq((0L, "a b")).toDF("id", "text")
    // empty model frame (sub-bigram train corpus) -> named contract error
    val empty = TextAnalysis.lmModel(Seq((0L, "a")).toDF("id", "text"),
      $"text", $"id")
    val e1 = intercept[IllegalArgumentException](
      TextAnalysis.lmScore(scored, $"text", $"id", empty))
    assert(e1.getMessage.contains("lmModel") &&
      e1.getMessage.contains("empty model"))
    // stored pre-vocab model (no vocab column) -> named contract error
    val preVocab = Seq((1L, 2L, 3L, 4L)).toDF("wh", "bh", "c12", "c1")
    val e2 = intercept[IllegalArgumentException](
      TextAnalysis.lmScore(scored, $"text", $"id", preVocab))
    assert(e2.getMessage.contains("vocab") &&
      e2.getMessage.contains("explicit-vocab"))
  }

  test("pplBuckets: per-language value thresholds, ties share a tier, 1-doc lang is head") {
    // en: six docs of varying fluency (identical twins 15/16 pin the
    // ties-share-a-tier contract); zz: a single doc — its only value IS
    // the 1/3 cut, so it lands head
    val docs = Seq(
      (10L, "en", "a b a b a b a b"),
      (11L, "en", "a b a b c d c d"),
      (12L, "en", "a c b d a d b c"),
      (13L, "en", "d c b a d c b a"),
      (15L, "en", "a b c d q q q q"),
      (16L, "en", "a b c d q q q q"),
      (20L, "zz", "x y x y")).toDF("id", "lang", "text")
    val out = TextAnalysis.pplBuckets(docs, $"text", $"id", $"lang")
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getString(3)))
    // independent threshold derivation from the scores themselves
    val byLang = out.groupBy(_._2)
    byLang.foreach { case (_, rows) =>
      val vals = rows.map(_._3).sorted
      val n = vals.length
      def cut(k: Int) = vals.find(v => vals.count(_ <= v) * 3 >= k * n).get
      val (t33, t66) = (cut(1), cut(2))
      rows.foreach { case (id, _, v, tier) =>
        val want = if (v <= t33) "head" else if (v <= t66) "middle" else "tail"
        assert(tier == want, s"doc $id: ppl $v -> $tier, expected $want")
      }
    }
    // the twins share a value, so they must share a tier
    val twins = out.filter(r => r._1 == 15L || r._1 == 16L)
    assert(twins.map(_._3).distinct.length == 1 &&
      twins.map(_._4).distinct.length == 1)
    // the one-doc language's only value reaches the 1/3 cut -> head
    assert(out.find(_._1 == 20L).get._4 == "head")
    // every language surfaces a head (the tier CCNet keeps)
    assert(byLang.forall(_._2.exists(_._4 == "head")))
    // deterministic under repartitioning
    val again = TextAnalysis.pplBuckets(docs.repartition(5), $"text", $"id",
        $"lang")
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getString(3)))
    assert(again.toSeq == out.toSeq)
  }

  test("lm3Score: all three stupid-backoff tiers priced by hand arithmetic") {
    // train "a b c a b d": trigrams abc, bca, cab, abd (N=4)
    //   contexts  c12: "a b"=2, "b c"=1, "c a"=1
    //   trailing  c23: "b c"=1, "c a"=1, "a b"=1, "b d"=1
    //   middles    c2: b=2, c=1, a=1;  lasts c3: c=1, a=1, b=1, d=1
    val train = Seq((0L, "a b c a b d")).toDF("id", "text")
    val foreign = Seq(
      (1L, "a b c"),   // tier 1: 1 * 1e6 div c12("a b")=2 -> 500000
      (2L, "x b c"),   // tier 2: c23("b c")=1 * 4e5 div c2(b)=2 -> 200000
      (3L, "x y c"),   // tier 3: c3(c)=1 * 16e4 div N=4 -> 40000
      (4L, "x y z"),   // tier 3, unseen last word -> 0
      (5L, "a b c a")  // (500000 + bca: 1e6 div c12("b c")=1) div 2 -> 750000
    ).toDF("id", "text")
    val out = TextAnalysis.lm3Score(train, foreign, $"text", $"id")
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(out.toSeq == Seq(
      (1L, 1L, 500000L), (2L, 1L, 200000L), (3L, 1L, 40000L),
      (4L, 1L, 0L), (5L, 2L, 750000L)))
    // in-distribution text scores strictly above every backoff tier —
    // the ranking property the filter uses (higher = more in-model)
    assert(out(0)._3 > out(1)._3 && out(1)._3 > out(2)._3 && out(2)._3 > out(3)._3)
    // partitioning-independent (exact integer ppm end to end)
    val again = TextAnalysis.lm3Score(train.repartition(3),
        foreign.repartition(5), $"text", $"id")
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(again.toSeq == out.toSeq)
    // a trigram-less train corpus (all docs under 3 words) must score
    // everything 0, not throw on the empty model's N = 0 denominator
    val thin = Seq((0L, "a b")).toDF("id", "text")
    val zeroed = TextAnalysis.lm3Score(thin, foreign, $"text", $"id")
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(2)))
    assert(zeroed.map(_._2).forall(_ == 0L) && zeroed.length == 5)
    // the stored-model path prices identically to the two-frame call —
    // the train/score deployment boundary artifact
    val path = java.nio.file.Files.createTempDirectory("graft-lm3").toString
    TextAnalysis.writeLm3Model(train, $"text", $"id", path)
    val stored = TextAnalysis.lm3ScoreStored(foreign, $"text", $"id", path)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(stored.toSeq == out.toSeq)
  }

  test("fingerprint: spacing-insensitive content fp, local-edit-stable winnow fp") {
    val df = Seq(
      (1L, "alpha beta  gamma delta epsilon"),
      (2L, "alpha beta gamma delta epsilon"),
      (3L, "alpha beta gamma delta zeta")).toDF("id", "text")
    val out = TextAnalysis.fingerprint(df, $"text", $"id")
      .orderBy("doc_id").collect()
    assert(out(0).getString(1) == out(1).getString(1)) // content fp equal
    assert(out(0).getString(1) != out(2).getString(1))
  }

  test("source stats: per-source census with distinct languages and max doc") {
    val df = Seq(
      (1L, "aaaa", "en", "web"),
      (2L, "bb", "de", "web"),
      (3L, "cccccc", "en", "web"),
      (4L, "d", "en", "books")).toDF("id", "text", "lang", "source")
    val out = TextAnalysis.sourceStats(df, $"source", $"text", $"lang", $"id")
      .orderBy("source").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))
    assert(out.toSeq == Seq(
      ("books", 1L, 1L, 1L, 1L),
      ("web", 3L, 12L, 2L, 6L)))
  }

  test("scriptProfile: eight scripts, digits/space split, astral, ties, none") {
    val docs = Seq(
      (1L, "hello мир"),      // latin 5, cyr 3, space 1 -> latin, 5000/9
      (2L, "こんにちは漢字"),   // kana 5, han 2 -> kana
      (3L, "한국어 텍스트"),    // hangul 6, space 1 -> hangul
      (4L, "αβγ عربي हिंदी"),  // greek 3, arabic 4, devanagari 5, space 2
      (5L, "12 34"),          // digits only -> no script -> none
      (6L, "ab да"),          // latin 2 == cyr 2 -> fixed-order tie: latin
      (7L, "𝄞😀a"), // astral clef+emoji count ONCE each
      (8L, "")                // empty -> all zero, none
    ).toDF("id", "text")
    val out = TextAnalysis.scriptProfile(docs, $"text", $"id")
      .orderBy("doc_id")
      .select("doc_id", "n_cp", "n_latin", "n_cyrillic", "n_greek",
        "n_arabic", "n_devanagari", "n_han", "n_kana", "n_hangul",
        "n_digit", "n_space", "n_other", "script", "script_pm")
      .collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getInt(3),
        r.getInt(4), r.getInt(5), r.getInt(6), r.getInt(7), r.getInt(8),
        r.getInt(9), r.getInt(10), r.getInt(11), r.getInt(12),
        r.getString(13), r.getLong(14)))
    assert(out.toSeq == Seq(
      (1L, 9, 5, 3, 0, 0, 0, 0, 0, 0, 0, 1, 0, "latin", 555L),
      (2L, 7, 0, 0, 0, 0, 0, 2, 5, 0, 0, 0, 0, "kana", 714L),
      (3L, 7, 0, 0, 0, 0, 0, 0, 0, 6, 0, 1, 0, "hangul", 857L),
      (4L, 14, 0, 0, 3, 4, 5, 0, 0, 0, 0, 2, 0, "devanagari", 357L),
      (5L, 5, 0, 0, 0, 0, 0, 0, 0, 0, 4, 1, 0, "none", 0L),
      (6L, 5, 2, 2, 0, 0, 0, 0, 0, 0, 0, 1, 0, "latin", 400L),
      (7L, 3, 1, 0, 0, 0, 0, 0, 0, 0, 0, 0, 2, "latin", 333L),
      (8L, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, "none", 0L)))
    // pure narrow projection: no Exchange anywhere
    val plan = TextAnalysis.scriptProfile(docs, $"text", $"id")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"scriptProfile must not shuffle:\n$plan")
  }

  test("dsirWeights: degenerate one-bucket arithmetic, identity, and ordering") {
    // buckets=1: every gram lands in bucket 0, so ct=nt and cr=nr —
    // st = bitlen((nt+1) div (nt+1)) = 1 bit per gram, ditto sr, and
    // n_grams = 2*words - 1 (unigrams + bigrams). Pins the totals,
    // smoothing, and per-doc fold without depending on hash values.
    val target = Seq((0L, "aa bb"), (1L, "aa bb aa")).toDF("id", "text")
    val raw = Seq((10L, "aa bb"), (11L, "zz qq yy")).toDF("id", "text")
    val one = TextAnalysis.dsirWeights(target, raw, $"text", $"id", buckets = 1)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))
    assert(one.toSeq == Seq(
      (10L, 3L, 3L, 3L, 0L),
      (11L, 5L, 5L, 5L, 0L)))
    // target == raw => both models identical => dsir_bits = 0 everywhere
    // (any bucket count)
    val self = TextAnalysis.dsirWeights(raw, raw, $"text", $"id")
      .select("dsir_bits").as[Long].collect()
    assert(self.forall(_ == 0L))
    // a target-typical raw doc outscores an off-target one; exact-integer
    // arithmetic is partitioning-independent
    val out = TextAnalysis.dsirWeights(target, raw, $"text", $"id")
      .orderBy("doc_id").collect().map(r => (r.getLong(0), r.getLong(4)))
    assert(out(0)._2 > out(1)._2)
    val again = TextAnalysis
      .dsirWeights(target.repartition(3), raw.repartition(5), $"text", $"id")
      .orderBy("doc_id").collect().map(r => (r.getLong(0), r.getLong(4)))
    assert(again.toSeq == out.toSeq)
  }

  test("nbTrain/nbScore: add-one log-odds by hand arithmetic; stored artifact") {
    // good "a a b", bad "b c": cg a=2 b=1; cb b=1 c=1; ng=3 nb=2 vocab=3
    val good = Seq((0L, "a a b")).toDF("id", "text")
    val bad = Seq((1L, "b c")).toDF("id", "text")
    val model = TextAnalysis.nbTrain(good, bad, $"text")
    assert(model.select("ng", "nb", "vocab").distinct().collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq ==
      Seq((3L, 2L, 3L)))
    val scored = Seq(
      (10L, "a a"),    // a: sg=bitlen(6 div 3)=2, sb=bitlen(5 div 1)=3 -> +1 each
      (11L, "c c"),    // c: sg=bitlen(6 div 1)=3, sb=bitlen(5 div 2)=2 -> -1 each
      (12L, "a b c z") // +1 (a), 0 (b: 2 vs 2), -1 (c), 0 (z unseen: 3 vs 3)
    ).toDF("id", "text")
    val out = TextAnalysis.nbScore(scored, $"text", $"id", model)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))
    assert(out.toSeq == Seq(
      (10L, 2L, 4L, 6L, 2L),
      (11L, 2L, 6L, 4L, -2L),
      (12L, 4L, 10L, 10L, 0L)))
    // the model is a train/score boundary artifact: parquet round-trip
    // scores identically (the lmModel/ANN-codebook pattern)
    val dir = java.nio.file.Files.createTempDirectory("nbm").toString
    model.write.mode("overwrite").parquet(dir)
    val re = TextAnalysis.nbScore(scored, $"text", $"id",
      spark.read.parquet(dir)).orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))
    assert(re.toSeq == out.toSeq)
    // contract guard: a frame without the stamps names nbTrain
    val e = intercept[IllegalArgumentException](
      TextAnalysis.nbScore(scored, $"text", $"id",
        Seq((1L, 2L)).toDF("wh", "cg")))
    assert(e.getMessage.contains("nbTrain"))
  }

  test("vocab head: top-k terms by count, lexicographic ties, 1-based rank") {
    val df = Seq(
      (1L, "the cat and the dog"),
      (2L, "THE cat sat")).toDF("id", "text")
    // counts: the=3 (lowercased), cat=2, and=1 dog=1 sat=1
    val out = TextAnalysis.vocabHead(df, $"text", k = 3)
      .orderBy("rank").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getInt(2)))
    assert(out.toSeq == Seq(("the", 3L, 1), ("cat", 2L, 2), ("and", 1L, 3)))
  }

  test("gopherRules: every rule by hand arithmetic, composite verdict") {
    // doc 1: 5x a 10-word sentence with 45 letters -> 50 words, 225
    // chars, wlen_pm = 4500, all-alpha, stop words {the, and} -> PASSES
    // every Gopher rule.
    val good = Seq.fill(5)(
      "the and wise crews build large stone walls near rivers")
      .mkString(" ")
    // doc 2: 3 bulleted ellipsis lines -> bullet_pm/ellipsis_pm 1000,
    // the '- ' tokens dent alpha_pm (6 of 9), '...' x3 -> sym_pm
    // 3000 div 9 = 333, word chars 40 -> wlen_pm 4444.
    val listy = "- first item...\n- second item...\n- third item..."
    // doc 3: '#' x3 in 6 words -> sym_pm 500, wlen_pm 2000 (below the
    // mean-word-length floor), alpha_pm 500.
    val taggy = "# tag # tag # tag"
    val out = TextAnalysis.gopherRules(
        Seq((1L, good), (2L, listy), (3L, taggy)).toDF("doc_id", "text"),
        $"text", $"doc_id")
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6), r.getLong(7),
        r.getInt(8), r.getBoolean(9)))
    assert(out.toSeq == Seq(
      (1L, 50, 1, 4500L, 0L, 0L, 0L, 1000L, 2, true),
      (2L, 9, 3, 4444L, 333L, 1000L, 1000L, 666L, 0, false),
      (3L, 6, 1, 2000L, 500L, 0L, 0L, 500L, 0, false)))
  }

  test("gopherRepetition: dup line/paragraph fractions by hand, both rules") {
    val docs = Seq(
      // two identical 2-line paragraphs: everything duplicates at 500
      (1L, "aa bb\ncc\n\naa bb\ncc"),
      // all unique
      (2L, "one two\nthree four"),
      // one repeated 1-char line of 4: count 250 passes (<=300) but
      // char 250 fails (>200) — the char rule bites first
      (3L, "x\ny\nx\nz")).toDF("doc_id", "text")
    val out = TextAnalysis.gopherRepetition(docs, $"text", $"doc_id")
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6), r.getBoolean(7)))
    assert(out.toSeq == Seq(
      (1L, 4, 2, 500L, 500L, 500L, 500L, false),
      (2L, 2, 1, 0L, 0L, 0L, 0L, true),
      (3L, 4, 1, 250L, 250L, 0L, 0L, false)))
  }

  test("gopher_profile: native pass equals the HOF formulation on hostile pages") {
    // the one-pass expression must reproduce Java split semantics
    // (leading/trailing separator runs -> empty words), non-overlapping
    // '...' counting, unicode lowercasing, and '…'/'•' handling exactly
    // as the interpreted formulation it replaced
    val nasty = Seq(
      "", " ", "\n", "word", " lead", "trail ", "a\n\nb",
      "....", ".....", "......", "#.#..#...",
      "- b c...\n* d e…\n• f g\n-x not bullet",
      "THE And OF that\nbe to have with",
      "İstanbul ΣΣ mixed\nCase...",
      "the  the\n\n  \nthe",
      null). // NULL page: both formulations null-propagate identically
      zipWithIndex
      .map { case (t, i) => (i.toLong, t) }
    val df = nasty.toDF("doc_id", "text")
    val native = TextAnalysis.gopherRules(df, $"text", $"doc_id")
      .orderBy("doc_id").collect().map(_.toSeq).toSeq
    // the pre-native formulation, stated inline as the reference model
    val hof = df.select(col("doc_id").as("doc_id"),
        split(lower(trim(col("text"))), "[ \\n]+").as("__ws"),
        split(col("text"), "\n").as("__ls"),
        (regexp_count(col("text"), lit("#")) +
          regexp_count(col("text"), lit("\\.\\.\\."))).as("__sym"))
      .selectExpr("doc_id",
        "size(__ws) as n_words", "size(__ls) as n_lines",
        "aggregate(__ws, 0L, (a, w) -> a + length(w)) * 1000 div size(__ws) as wlen_pm",
        "__sym * 1000L div size(__ws) as sym_pm",
        "size(filter(__ls, l -> startswith(l, '- ') or startswith(l, '* ')" +
          " or startswith(l, '• '))) * 1000L div size(__ls) as bullet_pm",
        "size(filter(__ls, l -> endswith(l, '...') or endswith(l, '…')))" +
          " * 1000L div size(__ls) as ellipsis_pm",
        "size(filter(__ws, w -> w rlike '[a-z]')) * 1000L div size(__ws) as alpha_pm",
        "size(filter(array('the','be','to','of','and','that','have','with')," +
          " sw -> array_contains(__ws, sw))) as stop_hits")
      .withColumn("gopher_ok", expr(
        "n_words between 50 and 100000 and wlen_pm between 3000 and 10000" +
          " and sym_pm <= 100 and bullet_pm <= 900 and ellipsis_pm <= 300" +
          " and alpha_pm >= 800 and stop_hits >= 2"))
      .orderBy("doc_id").collect().map(_.toSeq).toSeq
    // non-null pages: byte-exact equality. The NULL page is the one
    // DELIBERATE divergence: the HOF chain produced a half-null row
    // with stop_hits = 0 and a definitive gopher_ok = false verdict
    // from no evidence (filter over the literal stop array under a
    // null membership test); the native pass null-propagates the
    // whole profile, which is the honest contract.
    assert(native.init == hof.init)
    assert(native.last == Seq(15L, null, null, null, null, null, null,
      null, null, null))
  }

  test("gopherRules: word-count floor alone fails an otherwise-clean doc") {
    val out = TextAnalysis.gopherRules(
        Seq((1L, "the and quick brown foxes jump over walls"))
          .toDF("doc_id", "text"), $"text", $"doc_id")
      .collect().map(r => (r.getInt(1), r.getBoolean(9)))
    assert(out.toSeq == Seq((8, false))) // 8 words < 50, all else green
  }

  // --- bm25TopK: N=5, S=12; every score hand-computed on the grid.
  //   df(apple)=1 → idf_bits = bitlen(9 div 3 = 3)  = 2
  //   df(cherry)=2 → idf_bits = bitlen(7 div 5 = 1) = 1
  //   df(banana)=3 → idf_bits = bitlen(5 div 7 = 0) = 1  (len(bin(0)))
  //   tfq(d0,apple,tf2,dl3) = 52 800 000 000 div 41 100 = 1 284 671
  //   tfq(d1,cherry,tf1,dl2) = 26 400 000 000 div 24 600 = 1 073 170
  //   tfq(d2,cherry,tf3,dl3) = 79 200 000 000 div 53 100 = 1 491 525
  //   tfq(d0,banana,tf1,dl3) = 26 400 000 000 div 29 100 =   907 216
  private def bm25Docs = Seq(
    (0L, "apple banana apple"), (1L, "banana cherry"),
    (2L, "cherry cherry cherry"), (3L, "banana date"), (4L, "date fig"))
    .toDF("doc_id", "text")

  test("bm25TopK replays the hand-computed integer scores and ranking") {
    val out = TextAnalysis.bm25TopK(bm25Docs, $"text", $"doc_id",
        Seq(7L -> "apple cherry"), k = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3)))
    assert(out.toSeq === Seq(
      (7L, 1L, 0L, 2L * 1284671L),
      (7L, 2L, 2L, 1491525L),
      (7L, 3L, 1L, 1073170L)))
  }

  test("bm25TopK: k caps per query and score ties break by doc_id") {
    // banana: d1 and d3 tie exactly (tf 1, dl 2) → doc_id order; d0's
    // longer doc scores lower; k=2 cuts it.
    val out = TextAnalysis.bm25TopK(bm25Docs, $"text", $"doc_id",
        Seq(8L -> "banana"), k = 2)
      .collect().map(r => (r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(out.toSeq === Seq((1L, 1L, 1073170L), (2L, 3L, 1073170L)))
  }

  test("pmiCollocations: hand-computed integer-bit PMI, full tie order") {
    // T = 9 words (a:3 b:3 c:3), S = 6 bigrams; ab seen 3x:
    //   pmi(a,b) = bitlen(3·81 div 54 = 4) = 3
    //   pmi(b,a) = pmi(b,c) = pmi(c,c) = bitlen(81 div 54 = 1) = 1
    val docs = Seq((1L, "a b a b"), (2L, "a b c"), (3L, "c c"))
      .toDF("doc_id", "text")
    val out = TextAnalysis.pmiCollocations(docs, $"text", k = 10,
        minCount = 1L)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getLong(3)))
    assert(out.toSeq === Seq(
      ("a", "b", 3L, 3L),
      ("b", "a", 1L, 1L), ("b", "c", 1L, 1L), ("c", "c", 1L, 1L)))
    // the count floor prunes the singletons
    assert(TextAnalysis.pmiCollocations(docs, $"text", k = 10,
      minCount = 2L).count() === 1L)
  }

  test("rougeRecall: hand-computed distinct-n-gram recall, short-ref nulls") {
    // ref 'a b a c' → g1 {a,b,c}, g2 {'a b','b a','a c'};
    // cand 'a c d' → g1 {a,c,d}, g2 {'a c','c d'}
    //   r1 = 2/3 → 666 666 ppm, r2 = 1/3 → 333 333 ppm
    // one-word ref: r1 defined (1/1), r2 NULL (no reference bigrams)
    val pairs = Seq(
      (1L, "a c d", "a b a c"),
      (2L, "z", "z")).toDF("doc_id", "cand", "ref")
    val out = TextAnalysis.rougeRecall(pairs, $"cand", $"ref", $"doc_id")
      .orderBy("doc_id").collect()
    assert((out(0).getLong(1), out(0).getLong(2)) === (666666L, 333333L))
    assert(out(1).getLong(1) === 1000000L)
    assert(out(1).isNullAt(2))
    // pure narrow projection: no join, no exchange
    val plan = TextAnalysis.rougeRecall(pairs, $"cand", $"ref", $"doc_id")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange") && !plan.contains("Join"), plan)
  }

  test("bm25TopK scores multiple queries independently in one pass") {
    val out = TextAnalysis.bm25TopK(bm25Docs, $"text", $"doc_id",
        Seq(7L -> "apple cherry", 8L -> "banana"), k = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(out.count(_._1 == 7L) === 3)
    assert(out.count(_._1 == 8L) === 3)
    assert(out.filter(_._1 == 8L).map(x => (x._2, x._3)).toSeq ===
      Seq((1L, 1L), (2L, 3L), (3L, 0L)))
  }

  test("code_profile: run boundaries, comments, codepoints, empty file") {
    import graft.functions.CodeProfileUtil.profile
    import org.apache.spark.unsafe.types.UTF8String
    def p(s: String): (Int, Int, Long, Int, Long, Long, Long) = {
      val r = profile(UTF8String.fromString(s))
      (r.getInt(0), r.getInt(1), r.getLong(2), r.getInt(3), r.getLong(4),
        r.getLong(5), r.getLong(6))
    }
    // empty file = ONE empty line (Java split boundary semantics)
    assert(p("") == ((1, 0, 0L, 0, 0L, 0L, 0L)))
    // maximal-run thresholds: 15 hex chars never a blob, 16 exactly is;
    // a newline splits the run (15+15 -> no fire)
    assert(p("a" * 15) == ((1, 15, 15L, 0, 15L, 0L, 0L)))
    assert(p("0123456789abcdef") == ((1, 16, 16L, 0, 16L, 16L, 0L)))
    assert(p("0123456789abcde\n0123456789abcde") ==
      ((2, 15, 30L, 0, 30L, 0L, 0L)))
    // base64 threshold at 40 — and a 40-char 'A' run is BOTH a hex run
    // (>=16) and a base64 run, priced by each counter independently
    assert(p("A" * 39) == ((1, 39, 39L, 0, 39L, 39L, 0L)))
    assert(p("A" * 40) == ((1, 40, 40L, 0, 40L, 40L, 40L)))
    // run closing at end-of-text (no trailing separator needed)
    assert(p("xx DEADBEEFDEADBEEF") == ((1, 19, 19L, 0, 18L, 16L, 0L)))
    // comment markers after space/tab indent; '//' mid-line is code
    assert(p("  \t// x\n#y\n #z\n val // no") ==
      ((4, 10, 22L, 3, 8L, 0L, 0L)))
    // lengths are codepoints; only ASCII alnum counts
    assert(p("é漢 a1") == ((1, 5, 5L, 0, 2L, 0L, 0L)))
  }

  test("rrfFuse: overlap boosts, integer scores, doc_id tie-break") {
    // run A ranks (1,2,3); run B ranks (3,2,9). doc 2 and 3 appear in
    // both: 2 -> 1e6/62*2 = 32258; 3 -> 1e6/63 + 1e6/61 = 32265;
    // singles 1 -> 16393, 9 -> 15873. Fused order: 3, 2, 1, 9.
    val a = Seq((0L, 1L, 1L), (0L, 2L, 2L), (0L, 3L, 3L))
      .toDF("q_id", "doc_id", "rnk")
    val b = Seq((0L, 3L, 1L), (0L, 2L, 2L), (0L, 9L, 3L))
      .toDF("q_id", "doc_id", "rnk")
    val out = TextAnalysis.rrfFuse(Seq(a, b), k = 3).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(out.toSeq == Seq(
      (0L, 1L, 3L, 1000000L / 63 + 1000000L / 61),
      (0L, 2L, 2L, 2 * (1000000L / 62)),
      (0L, 3L, 1L, 1000000L / 61)))
    // exact ties order by doc_id: two fresh docs at the same rank
    val c = Seq((1L, 7L, 1L), (1L, 4L, 2L)).toDF("q_id", "doc_id", "rnk")
    val e = Seq((1L, 5L, 1L), (1L, 6L, 2L)).toDF("q_id", "doc_id", "rnk")
    val tied = TextAnalysis.rrfFuse(Seq(c, e), k = 4).collect()
      .map(r => (r.getLong(1), r.getLong(2)))
    assert(tied.toSeq == Seq((1L, 5L), (2L, 7L), (3L, 4L), (4L, 6L)))
  }

  test("codeQuality: every rule by hand arithmetic, composite verdict") {
    val docs = Seq(
      // clean: 4 short code lines + 1 comment -> passes everything
      (1L, "val a = 1;\nval b = 2;\n// sum\nval c = a + b;"),
      // one 1100-char line: max_ll AND the mean fire
      (2L, "val s = \"" + "x" * 1100 + "\";"),
      // pure punctuation: alnum fraction 0 fires
      (3L, "+-*/ ()[]{};\n. , : !"),
      // 4 comments of 5 lines = 80% passes; 5 of 5 = 100% fires
      (4L, "// a\n// b\n// c\n// d\nval x = 1;"),
      (5L, "// a\n// b\n// c\n// d\n// e"),
      // a 32-char hex blob in a 40-char file: blob_ppm 800000 fires
      (6L, "h=\"" + "deadBEEF" * 4 + "\";")
    ).toDF("doc_id", "text")
    val out = TextAnalysis.codeQuality(docs, $"text", $"doc_id")
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6), r.getBoolean(7)))
    assert(out.toSeq == Seq(
      (1L, 4, 14, 10000L, 475000L, 0L, 25L, true),
      // the 1100 'x's are a base64-class run too: blob fires with max_ll
      (2L, 1, 1111, 1111000L, 993699L, 990099L, 0L, false),
      (3L, 2, 12, 9500L, 0L, 0L, 0L, false),
      // 4 of 5 comments = 80% passes the bound exactly...
      (4L, 5, 10, 5200L, 346153L, 0L, 80L, true),
      // ...5 of 5 fires it, with alnum_ppm sitting exactly AT the floor
      (5L, 5, 4, 4000L, 250000L, 0L, 100L, false),
      (6L, 1, 37, 37000L, 891891L, 864864L, 0L, false)))
  }
}
