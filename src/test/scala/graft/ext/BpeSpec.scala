package graft.ext

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** BPE against the classic hand-derivable corpus (word frequencies
  * low:5 lower:2 newest:6 widest:3). Every expected merge below is
  * computed by hand in the comments, including the lexicographic
  * tie-breaks — the learned list is pinned exactly, so any change to
  * counting, tie-breaking, or merge application shows up as a diff
  * against paper arithmetic, not against the code's own output. */
class BpeSpec extends SparkSpec {
  import spark.implicits._

  private def corpus = {
    val words = Seq.fill(5)("low") ++ Seq.fill(2)("lower") ++
      Seq.fill(6)("newest") ++ Seq.fill(3)("widest")
    // spread across documents to prove counting is corpus-global
    Seq(
      (1L, words.take(4).mkString(" ")),
      (2L, words.slice(4, 11).mkString(" ")),
      (3L, words.drop(11).mkString(" "))).toDF("doc_id", "text")
  }

  test("learned merges match the hand computation, tie-breaks included") {
    val m = Bpe.learn(corpus, col("text"), nMerges = 5)
    // pair counts round 1: (e,s)=6+3=9, (s,t)=9, (t,</w>)=9 — tie at 9,
    // lexicographically smallest pair wins -> (e,s)
    // round 2: (es,t)=9 ties (t,</w>) -> "es" < "t" -> (es,t)
    // round 3: (est,</w>)=9 beats (l,o)=5+2=7
    // round 4: (l,o)=7 ties (o,w)=7 -> (l,o)
    // round 5: (lo,w)=7
    assert(m.merges == Seq("e" -> "s", "es" -> "t", "est" -> "</w>",
      "l" -> "o", "lo" -> "w"))
    // vocabulary: every symbol in the final word table + the 256
    // reserved byte-fallback symbols, sorted ("</w>" < "<0x..>" because
    // '/' < '0'; letters sort after '<')
    // low -> [low </w>]; lower -> [low e r </w>]; newest -> [n e w est</w>];
    // widest -> [w i d est</w>]
    assert(m.vocab == Seq("</w>") ++ Bpe.ByteSymbols ++
      Seq("d", "e", "est</w>", "i", "low", "n", "r", "w"))
  }

  test("encode: seen, composed-unseen, and OOV words") {
    val m = Bpe.learn(corpus, col("text"), nMerges = 5)
    // the textbook result: "lowest" (never a training word) tokenizes
    // from learned subwords
    assert(Bpe.encodeWord("lowest", m.ranks) == Seq("low", "est</w>"))
    assert(Bpe.encodeWord("low", m.ranks) == Seq("low", "</w>"))
    val out = Bpe.encode(Seq((7L, "low lowest quiz")).toDF("id", "txt"),
      col("id"), col("txt"), m)
      .collect()(0)
    val ids = out.getSeq[Long](out.fieldIndex("input_ids")).toSeq
    val vocabIdx = m.vocab.zipWithIndex.toMap
    // low</w> -> [low, </w>]; lowest -> [low, est</w>]
    assert(ids.take(4) == Seq(vocabIdx("low").toLong, vocabIdx("</w>").toLong,
      vocabIdx("low").toLong, vocabIdx("est</w>").toLong))
    // "quiz": q/u/z never seen in training -> byte fallback (one id per
    // UTF-8 byte, never -1), i seen -> its vocab id
    val tail = ids.drop(4)
    assert(tail == Seq(vocabIdx("<0x71>").toLong, vocabIdx("<0x75>").toLong,
      vocabIdx("i").toLong, vocabIdx("<0x7A>").toLong,
      vocabIdx("</w>").toLong))
    assert(out.getAs[Long]("n_tokens") == ids.length.toLong)
  }

  test("byte fallback is total: CJK and astral emoji never emit -1") {
    val m = Bpe.learn(corpus, col("text"), nMerges = 5)
    val out = Bpe.encode(Seq((9L, "低 a😀b")).toDF("id", "txt"),
      col("id"), col("txt"), m)
      .collect()(0)
    val ids = out.getSeq[Long](out.fieldIndex("input_ids")).toSeq
    assert(!ids.contains(-1L))
    val vocabIdx = m.vocab.zipWithIndex.toMap
    def bid(b: Int) = vocabIdx(f"<0x$b%02X>").toLong
    // 低 = UTF-8 E4 BD 8E; the astral 😀 (U+1F600, a SURROGATE PAIR in
    // UTF-16) = F0 9F 98 80 — code-point splitting must keep the pair
    // together or the fallback would encode two replacement chars
    assert(ids == Seq(bid(0xE4), bid(0xBD), bid(0x8E), vocabIdx("</w>").toLong,
      bid(0x61), bid(0xF0), bid(0x9F), bid(0x98), bid(0x80), bid(0x62),
      vocabIdx("</w>").toLong))
    assert(out.getAs[Long]("n_tokens") == ids.length.toLong)
  }

  test("learning stops early when no pair repeats") {
    val tiny = Seq((1L, "ab cd")).toDF("doc_id", "text")
    val m = Bpe.learn(tiny, col("text"), nMerges = 10)
    assert(m.merges.isEmpty) // every pair occurs once
    assert(m.vocab == Seq("</w>") ++ Bpe.ByteSymbols ++ Seq("a", "b", "c", "d"))
  }

  test("real corpus: merges learn, encode covers training text, determinism") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val m = Bpe.learn(docs, col("text"), nMerges = 12)
    assert(m.merges.length == 12) // real text has no shortage of pairs
    assert(m.merges.distinct.length == 12)
    // a second learn over a different partitioning is bit-identical
    val m2 = Bpe.learn(docs.repartition(13), col("text"), nMerges = 12)
    assert(m.merges == m2.merges && m.vocab == m2.vocab)
    val enc = Bpe.encode(docs, col("doc_id"), col("text"), m)
    val stats = enc.agg(
      count(lit(1)).as("docs"),
      sum("n_tokens").as("toks"),
      sum(when(array_contains(col("input_ids"), -1L), 1L).otherwise(0L))
        .as("oov_docs")).collect()(0)
    assert(stats.getLong(0) == docs.count())
    assert(stats.getLong(1) > 0)
    // encoding the corpus the model was learned on has no OOV
    assert(stats.getLong(2) == 0L)
  }

  test("bare EndOfWord survives a fully-merging corpus; word breaks hold") {
    // one repeated word: merges (c,d) then (cd,</w>) leave ONLY the
    // fully-merged symbol in the word table — the bare "</w>" must be
    // seeded explicitly or an unseen word's end marker byte-falls-back
    // into literal '<','/','w','>' text and decode glues words together
    val tiny = Seq((1L, "cd cd cd")).toDF("doc_id", "text")
    val m = Bpe.learn(tiny, col("text"), nMerges = 5)
    assert(m.merges == Seq("c" -> "d", "cd" -> "</w>"))
    assert(m.ids.contains(Bpe.EndOfWord))
    val enc = Bpe.encode(Seq((5L, "cx cy")).toDF("id", "txt"),
      col("id"), col("txt"), m)
    val ids = enc.collect()(0).getSeq[Long](1)
    assert(!ids.contains(-1L))
    val back = Bpe.decode(enc, col("doc_id"), col("input_ids"), m)
      .as[(Long, String)].collect()(0)._2
    assert(back == "cx cy")
  }

  test("decode inverts encode exactly up to encode's own normalization") {
    val m = Bpe.learn(corpus, col("text"), nMerges = 5)
    // seen words, composed-unseen subwords, pure-ASCII fallback, CJK and
    // astral-emoji byte runs — every decode branch in one pass
    val texts = Seq(
      "low lower lowest newest widest",
      "  Mixed   CASE\twhitespace  ",
      "quiz 低 a😀b café")
    val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("id", "txt")
    val encoded = Bpe.encode(df, col("id"), col("txt"), m)
    val back = Bpe.decode(encoded, col("doc_id"), col("input_ids"), m)
      .orderBy("doc_id").as[(Long, String)].collect().map(_._2)
    val expected = texts.map(_.toLowerCase.trim.split("\\s+").mkString(" "))
    assert(back.toSeq == expected)
    // single-sequence helper agrees with the corpus path
    val ids = encoded.orderBy("doc_id").as[(Long, Seq[Long], Long)]
      .collect()(2)._2
    assert(Bpe.decodeIds(ids, m) == expected(2))
  }

  test("learn rejects a corpus-derived <0xNN> byte-symbol collision (ADVICE r12)") {
    // merge order by hand (count desc, then lex asc): the count-4 chain
    // (0,x)->(0x,4)->(0x4,1)->(0x41,>) builds "0x41>", and merge 5 is
    // (<,0x41>) at count 4 over the count-2 successors -> the symbol
    // "<0x41>" aliases the reserved byte-fallback vocabulary entry
    val hostile = Seq((1L, "<0x41>a <0x41>b"), (2L, "<0x41>a <0x41>b"))
      .toDF("doc_id", "text")
    val e = intercept[IllegalArgumentException](
      Bpe.learn(hostile, col("text"), nMerges = 5))
    assert(e.getMessage.contains("<0x41>") &&
      e.getMessage.contains("byte-fallback"))
    // one merge short of the collision, the same corpus learns fine and
    // round-trips (the fence triggers on actual aliasing, not on '<0x'
    // substrings in text)
    val m = Bpe.learn(hostile, col("text"), nMerges = 4)
    assert(m.vocab.contains("0x41>"))
    val ids = Bpe.encode(hostile, col("doc_id"), col("text"), m)
      .orderBy("doc_id").select("input_ids").as[Seq[Long]].head()
    assert(Bpe.decodeIds(ids, m) == "<0x41>a <0x41>b")
  }

  test("tokens feed pack_sequences and the tf.Example export") {
    graft.functions.GraftFunctions.register(spark)
    val m = Bpe.learn(corpus, col("text"), nMerges = 5)
    val encoded = Bpe.encode(corpus, col("doc_id"), col("text"), m)
    // deterministic across partitionings: re-encode shuffled input
    val re = Bpe.encode(corpus.repartition(7), col("doc_id"), col("text"), m)
    assert(encoded.orderBy("doc_id").collect().toSeq ==
      re.orderBy("doc_id").collect().toSeq)
    // no silent truncation: every doc's token count is the sum of its
    // per-word token counts
    val n = encoded.agg(sum("n_tokens")).collect()(0).getLong(0)
    assert(n > 0)
    val ex = encoded.select(expr("tf_feat_i64('input_ids', input_ids)").as("p"))
    assert(ex.where(length(col("p")) > 0).count() == 3)
  }

  test("stored artifact: round-trip, byte-identical re-export, encodeStored parity") {
    val m = Bpe.learn(corpus, col("text"), nMerges = 5)
    val dir = java.nio.file.Files.createTempDirectory("bpem").toString
    Bpe.writeModel(spark, m, s"$dir/m1")
    // structural round-trip: ranks and ids come back exactly
    assert(Bpe.readModel(spark, s"$dir/m1") == m)
    // re-export of the same model is byte-identical (canonical order,
    // one file per frame) — the reproducibility-audit contract the
    // lm3/DSIR/NB artifacts carry
    Bpe.writeModel(spark, m, s"$dir/m2")
    def bytesOf(sub: String, gen: String) = {
      val fs = new java.io.File(s"$dir/$gen/$sub").listFiles()
        .filter(_.getName.endsWith(".parquet"))
      assert(fs.length == 1, s"expected ONE $sub file, got ${fs.length}")
      java.nio.file.Files.readAllBytes(fs.head.toPath).toSeq
    }
    Seq("merges", "vocab").foreach { sub =>
      assert(bytesOf(sub, "m1") == bytesOf(sub, "m2"),
        s"$sub re-export is not byte-identical")
    }
    // encodeStored == encode BY SHARED CODE on a foreign corpus that
    // exercises merge hits, composed-unseen words, and byte fallback
    val foreign = Seq((1L, "low lowest quiz"), (2L, "widest newest 低"))
      .toDF("doc_id", "text")
    val direct = Bpe.encode(foreign, col("doc_id"), col("text"), m)
      .orderBy("doc_id").collect().toSeq
    val stored = Bpe.encodeStored(foreign, col("doc_id"), col("text"),
        s"$dir/m1")
      .orderBy("doc_id").collect().toSeq
    assert(stored == direct)
  }
}
