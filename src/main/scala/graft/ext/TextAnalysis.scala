package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators for corpus curation: token statistics,
  * language id, quality scoring, fingerprinting. All integer/string
  * arithmetic (ratios as integer parts-per-thousand) so results are
  * engine- and partitioning-independent. Narrow per-row transforms — no
  * shuffle at all except where a groupBy is inherent. */
object TextAnalysis {

  /** Per-doc token statistics — one [[graft.functions.WordProfile]] /
    * [[graft.functions.TokProfile]] pass per row instead of a chain of
    * interpreted `size`/`array_distinct`/`aggregate` HOFs. */
  def tokenStats(df: DataFrame, content: Column, id: Column): DataFrame = {
    graft.functions.GraftFunctions.register(df.sparkSession)
    df.select(
        id.as("doc_id"),
        length(content).as("n_chars"),
        call_function("tok_profile", Text.tokens(content)).as("__t"),
        call_function("word_profile", Text.words(content)).as("__p"))
      .select(col("doc_id"), col("n_chars"),
        col("__t.n_tokens").as("n_tokens"),
        col("__p.n_words").as("n_words"),
        col("__p.n_uniq").as("n_uniq_words"),
        col("__p.sum_len").as("sum_word_len"))
  }

  private val stop = Map(
    "en" -> Seq("the", "and", "of", "to", "in", "is", "a", "for"),
    "es" -> Seq("el", "la", "de", "que", "y", "en", "un", "los"),
    "fr" -> Seq("le", "la", "et", "les", "des", "un", "une", "du"),
    "de" -> Seq("der", "die", "und", "das", "ist", "ein", "von", "mit"))

  private[ext] def hits(wordsCol: Column, lang: String): Column =
    size(filter(wordsCol, w => w.isInCollection(stop(lang))))

  /** Stopword-profile language id (n-gram-heuristic class). Deterministic
    * argmax with fixed tiebreak order en > es > fr > de. The four hit
    * counts come from ONE [[graft.functions.WordProfile]] pass (the
    * `hits` HOF is kept for the spec's equivalence check). */
  def langId(df: DataFrame, content: Column, id: Column): DataFrame = {
    graft.functions.GraftFunctions.register(df.sparkSession)
    df.select(id.as("doc_id"),
        call_function("word_profile", Text.words(lower(content))).as("__p"))
      .select(col("doc_id"), col("__p.s_en").as("s_en"),
        col("__p.s_es").as("s_es"), col("__p.s_fr").as("s_fr"),
        col("__p.s_de").as("s_de"))
      .withColumn("lang_pred",
        when(col("s_en") >= col("s_es") && col("s_en") >= col("s_fr")
          && col("s_en") >= col("s_de"), "en")
          .when(col("s_es") >= col("s_fr") && col("s_es") >= col("s_de"), "es")
          .when(col("s_fr") >= col("s_de"), "fr")
          .otherwise("de"))
  }

  /** Quality signals + a boolean verdict. Ratios are integer
    * parts-per-thousand (exact integer division — portable). */
  def qualityScore(df: DataFrame, content: Column, id: Column): DataFrame = {
    graft.functions.GraftFunctions.register(df.sparkSession)
    df.select(
        id.as("doc_id"),
        length(content).as("n_chars"),
        call_function("word_profile", Text.words(lower(content))).as("__p"),
        call_function("tok_profile", Text.tokens(content)).as("__t"))
      .select(
        col("doc_id"), col("n_chars"),
        col("__p.n_words").as("n_words"),
        col("__p.s_en").as("__stop"),
        col("__t.n_punct").as("__punct"),
        col("__t.n_tokens").as("__toks"),
        col("__p.n_uniq").as("__uniq"),
        col("__p.max_len").as("max_word_len"))
      // ratios in integer parts-per-thousand: `div` (exact integral
      // division) rather than `/` (double), so both engines agree.
      .selectExpr("doc_id", "n_chars", "n_words",
        "__stop * 1000L div n_words as stop_pm",
        "__punct * 1000L div __toks as punct_pm",
        "__uniq * 1000L div n_words as uniq_pm",
        "max_word_len",
        "n_chars >= 20 and n_words >= 5 and max_word_len <= 40 " +
          "and __uniq * 1000L div n_words >= 200 as quality_ok")
  }

  /** Gopher-style repetition quality signals (the C4/Gopher "repeated
    * n-gram" filters of large-scale text curation): the fraction of
    * bigram occurrences taken by the single most frequent bigram
    * (`top_bigram_pm`) and the fraction of trigram occurrences whose
    * trigram appears more than once (`dup_trigram_pm`) — both integer
    * parts-per-thousand. Repetition is per-document, so the whole
    * operator is a narrow map over [[graft.functions.FreqStats]]; no
    * n-gram explode, no shuffle. Documents with fewer than 3 words
    * (no trigrams) are dropped. */
  def repetitionStats(df: DataFrame, content: Column, id: Column): DataFrame = {
    graft.functions.GraftFunctions.register(df.sparkSession)
    df.select(id.as("doc_id"),
        Text.shingles(content, 2).as("__b"),
        Text.shingles(content, 3).as("__t"))
      .selectExpr("doc_id", "freq_stats(__b) as fb", "freq_stats(__t) as ft")
      .where(col("ft.n") > 0)
      .selectExpr("doc_id",
        "fb.n as n_bigrams",
        "fb.max_count as top_bigram_n",
        "cast(fb.max_count as bigint) * 1000 div fb.n as top_bigram_pm",
        "ft.n as n_trigrams",
        "ft.dup_n as dup_trigram_n",
        "cast(ft.dup_n as bigint) * 1000 div ft.n as dup_trigram_pm")
  }

  /** Per-document salient terms — the TF-IDF shape with an all-integer
    * ranking so both engines agree bit-for-bit: for each document, the
    * top `k` terms ordered by term frequency DESC, document frequency
    * ASC (rarer-in-corpus breaks the tie, which is exactly what IDF
    * contributes), then term ASC (total order — no float scores to
    * drift across engines; callers wanting a real tf·idf weight have tf
    * and df in the output). Two shuffles, both on uniform keys: groupBy
    * (doc_id, term) for tf — which also yields df as a count of those
    * rows per term, no second pass over the corpus — and the top-k
    * window on doc_id. At 100 TB both aggregations are partial
    * (map-side combine) and the window is a bounded per-doc top-k. */
  def topTerms(df: DataFrame, content: Column, id: Column,
               k: Int = 5): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // tf feeds BOTH the document-frequency aggregate and the join's left
    // side; its shuffle is identical in both subtrees, so AQE's exchange
    // reuse computes it once. (Measured: persisting here is ~3× SLOWER
    // cold — cache materialization blocks the pipelined plan — and at
    // TB scale caching tf would evict far more useful data.)
    val tf = df.select(id.as("doc_id"),
        explode(Text.words(lower(content))).as("term"))
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    // dfreq collapses to one row per distinct term under partial
    // aggregation (stop words combine map-side — no skewed reducer),
    // and the result is vocabulary-sized, so it is BROADCAST back onto
    // tf: a shuffle join keyed on term would route every occurrence of
    // a hot term to one reducer. A corpus whose vocabulary outgrows the
    // broadcast threshold should drop the hint and lean on AQE's
    // skew-join splitting instead.
    val dfreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val win = Window.partitionBy("doc_id")
      .orderBy(col("tf").desc, col("df").asc, col("term").asc)
    tf.join(broadcast(dfreq), "term")
      .withColumn("rn", row_number().over(win))
      .where(col("rn") <= k)
      .select(col("doc_id"), col("rn"), col("term"), col("tf"), col("df"))
  }

  /** Per-SOURCE corpus census — the accounting pass a mixture designer
    * runs before [[Sampling.mixture]]: document count, character mass,
    * language spread, and the largest document per source (domain,
    * crawl, dump shard...). One partial-aggregating `groupBy(source)` —
    * a dominant source is ONE key and map-side combine absorbs it; the
    * distinct-language count is two-phase (distinct then count), both
    * phases partial, with per-source language cardinality bounded by
    * the language inventory, not the corpus. */
  def sourceStats(df: DataFrame, source: Column, content: Column,
                  lang: Column, id: Column): DataFrame =
    df.select(source.as("source"), lang.as("lang"),
        length(content).cast("long").as("len"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum("len").as("sum_chars"),
        count_distinct(col("lang")).as("n_langs"),
        max("len").as("max_chars"))

  /** Corpus vocabulary head — the top `k` most frequent terms with
    * their counts and dense 1-based rank (the Zipf-curve head every
    * corpus report opens with, and the empirical stop-list input).
    * Scale shape: term counts are a partial-aggregating `groupBy(term)`
    * (the textbook hot key "the" combines map-side), then the top-k is
    * taken with orderBy+limit — `TakeOrderedAndProject`, a per-partition
    * heap + driver merge of k rows, NOT a global sort — and only the k
    * surviving rows pass through the single-partition ranking window.
    * Ties break lexicographically so both engines agree on a total
    * order. */
  def vocabHead(df: DataFrame, content: Column, k: Int = 50): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val counts = df.select(explode(Text.words(lower(content))).as("term"))
      .groupBy("term").agg(count(lit(1)).as("n"))
    counts.orderBy(col("n").desc, col("term").asc).limit(k)
      .withColumn("rank",
        row_number().over(Window.orderBy(col("n").desc, col("term").asc)))
  }

  /** Document fingerprints: md5 of whitespace-normalized lowercase text
    * (exact content identity modulo spacing) + winnowing-style min
    * shingle hash (robust to local edits). */
  /** Corpus-statistical token RARITY — the IDF-shaped signal of
    * statistical quality filters (documents made of globally common
    * tokens score near zero; rare-vocabulary documents score high), as
    * an exact integer surprisal proxy: for each of a document's
    * DISTINCT tokens, `64 - bitlength(df)` where `df` is the token's
    * document frequency (both engines agree on `length(bin(x))` — no
    * logarithm touches a float). Unlike the per-row [[qualityScore]],
    * this is a CORPUS statistic: document frequency per token from a
    * partial-aggregating `groupBy(th)` (rows are pre-distinct per
    * (doc, token), so a plain row count IS the document frequency) —
    * the token "the" occurs in essentially EVERY document, the
    * textbook hot key, and map-side combine collapses it to one row
    * per task where a count window over th would funnel the whole
    * corpus's occurrences into one partition. The vocabulary-sized
    * counts frame joins back on the uniform hash key (AQE skew-join
    * splits a residual hot probe partition), then the per-doc
    * regroup. Documents with no tokens are dropped.
    *
    * Output: (doc_id, n_terms, rarity_sum, rarity_pm = mean rarity per
    * term in parts-per-thousand). */
  def rarityScore(df: DataFrame, content: Column, id: Column): DataFrame = {
    graft.functions.GraftFunctions.register(df.sparkSession)
    val ex = df.select(id.as("doc_id"),
        explode(array_distinct(Text.tokens(content))).as("tok"))
      .select(col("doc_id"), Text.hash60(col("tok")).as("th"))
    val dfreq = ex.groupBy("th").agg(count(lit(1)).as("df"))
    ex.join(dfreq, "th")
      .withColumn("rar", lit(64) - length(bin(col("df"))))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_terms"),
        sum(col("rar").cast("long")).as("rarity_sum"))
      .withColumn("rarity_pm", expr("rarity_sum * 1000 div n_terms"))
  }

  /** CCNet-style LANGUAGE-MODEL quality score: train a bigram LM on the
    * corpus itself, score each document by its mean conditional
    * surprisal under that model. Fluent, corpus-typical text compresses
    * well (low bits per bigram); gibberish, boilerplate-free keyboard
    * mash, and wrong-language fragments surprise the model (high bits).
    * This is the model-based slot of a curation stack — [[qualityScore]]
    * is per-row heuristics, [[rarityScore]] is DF-weighted vocabulary
    * rarity; this conditions each token on its predecessor with
    * TF-weighted corpus statistics, the n-gram analog of the
    * perplexity-filtering step the published pipelines run with KenLM.
    *
    * Exact integer arithmetic, engine-portable: the surprisal of bigram
    * (w1,w2) is `bitlen(c(w1,·) div c(w1,w2))` — the bit length of the
    * truncated inverse conditional frequency, i.e.
    * `floor(log2(floor(1/p))) + 1` for p = p(w2|w1). That tracks
    * -log2 p within one bit and is monotone in p, but is NOT its exact
    * ceiling: at exact powers of two it is one high (p = 1 scores 1
    * bit where ceil(-log2 1) = 0; p = 1/4 scores 3 bits where the ceil
    * is 2) — calibrate any absolute ppl_pm threshold against THIS
    * integer scale, not a float -log2. Summed per doc and averaged in
    * parts-per-thousand (no float ever). Smoothing-free by construction: every scored
    * bigram exists in the model (it was trained on this corpus), so the
    * count is never zero. Scoring a FOREIGN corpus against this model
    * needs add-k smoothing — out of scope here, the corpus-self-scoring
    * is what the filtering step runs.
    *
    * Scale shape ([[rarityScore]]'s, one level up): bigram counts are a
    * partial-aggregating `groupBy(wh, bh)` (map-side combine absorbs
    * "of the"); the unigram DENOMINATOR re-aggregates the
    * vocabulary-sized bigram table by prefix — never a second corpus
    * pass — and attaches to it (vocabulary × vocabulary-sized join on
    * the prefix hash), so the corpus-sized probe joins the finished
    * model on the single uniform bigram hash (one row per key on the
    * build side; AQE splits residual hot probe partitions), then the
    * per-doc partial-agg regroup. Documents under two words score no
    * bigrams and are dropped, as in [[rarityScore]].
    *
    * Output: (doc_id, n_bigrams, bits_sum, ppl_pm = mean bits per
    * bigram, parts-per-thousand). */
  def lmSurprisal(df: DataFrame, content: Column, id: Column): DataFrame = {
    val ex = bigramHashes(df, content, id)
    val model = lmModelFrom(ex)
      .select(col("bh"),
        length(bin(expr("c1 div c12"))).cast("long").as("s"))
    ex.select("doc_id", "bh").join(model, "bh")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"), sum("s").as("bits_sum"))
      .withColumn("ppl_pm", expr("bits_sum * 1000 div n_bigrams"))
  }

  /** CCNet-style per-language PERPLEXITY BUCKETS — the published step
    * between LM scoring and mixture: bucket every document into
    * head / middle / tail by its perplexity's position within its
    * LANGUAGE (CCNet keeps the head/middle per language; a global cut
    * would just rank languages by their distance to the LM's training
    * distribution). Thresholds are VALUE-based tercile cuts — the
    * smallest `ppl_pm` whose cumulative count reaches 1/3 (and 2/3) of
    * the language — so ties share a tier and membership is a pure
    * function of the corpus, reproducible across engines.
    *
    * The scale-safe formulation, deliberately NOT `ntile` over the
    * corpus: a per-language ntile sorts every document of a language in
    * one partition — a single-language corpus is one reducer. Here the
    * only windows run over the (lang, ppl_pm) FREQUENCY table, whose
    * per-language width is bounded by the integer score range (≲64k
    * distinct values), not the corpus; the thresholds frame is
    * #languages rows and broadcasts back onto the scored stream
    * ([[graft.operators.HistogramQuantile]]'s idiom applied to the
    * curation gate). Documents under two words score no bigrams and are
    * dropped, as in [[lmSurprisal]].
    *
    * Output: (doc_id, lang, ppl_pm, tier ∈ head|middle|tail). */
  def pplBuckets(df: DataFrame, content: Column, id: Column,
                 lang: Column): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // scored feeds BOTH the threshold derivation and the final
    // assignment. NOT persisted (measured at sf0.1: persistTracked here
    // is 2.84 s vs 2.26 unpersisted — cache materialization blocks the
    // pipelined plan, the topTerms effect): the double-executed chain is
    // partial-agg-bounded, and AQE's exchange reuse shares the scoring
    // shuffle between the two subtrees where it matters.
    val scored = lmSurprisal(df, content, id)
      .join(df.select(id.as("doc_id"), lang.as("lang")), "doc_id")
      .select("doc_id", "lang", "ppl_pm")
    val freq = scored.groupBy("lang", "ppl_pm").agg(count(lit(1)).as("f"))
    val wcum = Window.partitionBy("lang").orderBy("ppl_pm")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = freq.withColumn("cum", sum("f").over(wcum))
      .withColumn("n", sum("f").over(Window.partitionBy("lang")))
    val th = cum.groupBy("lang").agg(
      min(when(col("cum") * 3 >= col("n"), col("ppl_pm"))).as("t33"),
      min(when(col("cum") * 3 >= col("n") * 2, col("ppl_pm"))).as("t66"))
    scored.join(broadcast(th), "lang")
      .withColumn("tier",
        when(col("ppl_pm") <= col("t33"), "head")
          .when(col("ppl_pm") <= col("t66"), "middle")
          .otherwise("tail"))
      .select("doc_id", "lang", "ppl_pm", "tier")
  }

  /** Per-occurrence bigram rows: (doc_id, bh = bigram hash, wh = prefix
    * hash) — the shared extraction under [[lmSurprisal]] / [[lmModel]] /
    * [[lmScore]]. */
  private def bigramHashes(df: DataFrame, content: Column,
                           id: Column): DataFrame = {
    graft.functions.GraftFunctions.register(df.sparkSession)
    df.select(id.as("doc_id"),
        explode(Text.shingles(content, 2)).as("bg"))
      .select(col("doc_id"),
        Text.hash60(col("bg")).as("bh"),
        Text.hash60(substring_index(col("bg"), " ", 1)).as("wh"))
  }

  private def lmModelFrom(ex: DataFrame): DataFrame = {
    val big = ex.groupBy("wh", "bh").agg(count(lit(1)).as("c12"))
    val uni = big.groupBy("wh").agg(sum("c12").as("c1"))
    big.join(uni, "wh")
  }

  /** The TRAINED bigram model as a frame — (wh, bh, c12 = bigram count,
    * c1 = prefix count, vocab = distinct-prefix count, constant across
    * rows), vocabulary-sized. Materialize it once (write
    * to parquet beside the corpus, like the ANN codebook) and feed it
    * to [[lmScore]]: the CCNet deployment shape is "train the LM on the
    * CLEAN reference corpus, score every incoming crawl batch against
    * it", and the model artifact is what crosses that boundary —
    * including `vocab`, so the scoring side needs no access to the
    * training corpus to recover the textbook add-one denominator. */
  def lmModel(df: DataFrame, content: Column, id: Column): DataFrame = {
    val base = lmModelFrom(bigramHashes(df, content, id))
    // the textbook Laplace mass — add-one over successor types uses the
    // unigram vocabulary (distinct-prefix) size — stamped on every row:
    // one count over the already-vocabulary-sized model frame, never a
    // second corpus pass, and a model persisted to parquet carries its
    // own smoothing mass across the train/score boundary. Stamped HERE
    // rather than in lmModelFrom: lmSurprisal shares that helper and
    // discards the column, and Catalyst has no single-row-join
    // elimination, so stamping there would re-execute the corpus
    // aggregation a third time inside the benched self-scoring path.
    val nPref = base.select("wh").distinct().agg(count(lit(1)).as("vocab"))
    base.crossJoin(broadcast(nPref))
  }

  /** Score a FOREIGN corpus (or stream micro-batch) against a
    * pre-trained [[lmModel]] with Laplace-STYLE smoothing — unlike
    * [[lmSurprisal]]'s corpus-self-scoring, the scored text here can
    * contain bigrams the model never saw, so the zero-count case must
    * price in: smoothed surprisal is
    * `bitlen((c1 + vocab) div (c12 + 1))` with `c12 = 0` for an unseen
    * bigram and `c1 = 0` for an unseen prefix. `vocab` is the
    * CALLER-CHOSEN smoothing mass added to every prefix denominator
    * (caller-supplied so this stays a pure plan): textbook add-one over
    * successor TYPES would use the unigram vocabulary size
    * (`model.select("wh").distinct().count()`); passing the model's
    * distinct-BIGRAM count (`model.count()`) is a harsher prior that
    * deflates seen-bigram probabilities more when bigram types far
    * exceed word types — fine for RANKING crawl batches (monotone per
    * prefix), wrong for absolute-probability readings. Two left joins against the vocabulary-sized
    * model (bigram hash, then prefix hash for the misses' denominator);
    * build side one row per key, AQE splits residual hot probe
    * partitions. Stateless per input frame — streaming-composable in
    * `foreachBatch` as the perplexity gate before the dedup tiers.
    * Output: [[lmSurprisal]]'s (doc_id, n_bigrams, bits_sum, ppl_pm). */
  /** [[lmScore]] with the smoothing mass read from the model's own
    * `vocab` column — the textbook add-one call shape (r10/r11 ADVICE):
    * the caller trains with [[lmModel]] and scores with no extra
    * aggregation and no judgment call. The one-row lookup is
    * model-bounded, never corpus-bounded. */
  def lmScore(df: DataFrame, content: Column, id: Column,
              model: DataFrame): DataFrame = {
    // contract guards (ADVICE r12), decontaminate's style: a stored
    // pre-vocab model or an empty/sub-bigram train corpus must name the
    // contract, not surface as an opaque NoSuchElement/AnalysisException
    require(model.columns.contains("vocab"),
      "lmScore: model frame has no 'vocab' column — train with lmModel " +
        "(a stored pre-vocab model needs the explicit-vocab overload)")
    val head = model.select(col("vocab")).head(1)
    require(head.nonEmpty,
      "lmScore: empty model frame — lmModel needs a train corpus with " +
        "at least one two-word document (no bigrams were observed)")
    lmScore(df, content, id, model, head(0).getLong(0))
  }

  def lmScore(df: DataFrame, content: Column, id: Column,
              model: DataFrame, vocab: Long): DataFrame = {
    val bigrams = model.select(col("bh"), col("c12"), col("c1").as("cb1"))
    val prefixes = model.select(col("wh"), col("c1")).distinct()
    bigramHashes(df, content, id)
      .join(bigrams, Seq("bh"), "left")
      .join(prefixes, Seq("wh"), "left")
      .withColumn("__c1", coalesce(col("cb1"), col("c1"), lit(0L)) + lit(vocab))
      .withColumn("__c12", coalesce(col("c12"), lit(0L)) + lit(1L))
      .withColumn("s", length(bin(expr("__c1 div __c12"))).cast("long"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"), sum("s").as("bits_sum"))
      .withColumn("ppl_pm", expr("bits_sum * 1000 div n_bigrams"))
  }

  /** Per-trigram-occurrence hash pieces: (doc_id, t123 = trigram, h12 =
    * leading bigram, b23 = trailing bigram, h2 = middle word, u3 = last
    * word) — the shared extraction under [[lm3Score]]'s model build and
    * scoring sides. Documents under three words contribute nothing. */
  private def trigramPieces(df: DataFrame, content: Column,
                            id: Column): DataFrame = {
    graft.functions.GraftFunctions.register(df.sparkSession)
    // the codegen word_shingles pass (the idiom bigramHashes set), then
    // every piece derived by substring_index — exact because words are
    // split ON spaces and so cannot contain one; an interpreted
    // transform-into-struct HOF here dominated the heaviest text row
    df.select(id.as("doc_id"), explode(Text.shingles(content, 3)).as("tg"))
      .withColumn("__g23", substring_index(col("tg"), " ", -2))
      .select(col("doc_id"),
        Text.hash60(col("tg")).as("t123"),
        Text.hash60(substring_index(col("tg"), " ", 2)).as("h12"),
        Text.hash60(col("__g23")).as("b23"),
        Text.hash60(substring_index(col("__g23"), " ", 1)).as("h2"),
        Text.hash60(substring_index(col("tg"), " ", -1)).as("u3"))
  }

  /** STUPID-BACKOFF trigram scoring (Brants et al. 2007, "Large
    * Language Models in Machine Translation" — the inexpensive backoff
    * that replaced Kneser-Ney at web scale): score a corpus against a
    * trigram model of the TRAIN corpus, per trigram occurrence
    *
    *  - seen trigram:        `c123 * 1e6  div c12`  (relative freq)
    *  - else seen trailing
    *    bigram:              `c23 * 400000 div c2`  (0.4 backoff)
    *  - else:                `c3 * 160000 div N`    (0.4² to unigrams)
    *
    * — all counts POSITIONAL over the train corpus's trigram stream
    * (c12 = context occurrences, c2 = middle-word occurrences, c3 =
    * last-word occurrences, N = total trigrams), which keeps every
    * denominator provably nonzero when its tier fires and the whole
    * computation exact-integer ppm — engine-portable like [[lmScore]].
    * Unlike normalized smoothing, stupid backoff returns SCORES, not
    * probabilities — monotone for ranking/filtering, which is all the
    * quality gate needs.
    *
    * Scale shape ([[lmScore]]'s, one order up): five vocabulary-sized
    * count tables built by partial-agg `groupBy(hash)`, the
    * corpus-sized scored stream left-joins them on uniform hashes
    * (build side one row per key; AQE splits residual hot probe
    * partitions), one-row N broadcast, then the per-doc regroup.
    * Output: (doc_id, n_trigrams, sb_ppm = mean score per trigram,
    * ppm). */
  def lm3Score(train: DataFrame, scored: DataFrame, content: Column,
               id: Column): DataFrame = {
    // the train trigram stream feeds SIX aggregations (five count
    // tables + N); unpersisted, each one would re-explode and re-hash
    // the whole corpus (BenchOne showed 4.3-19 s at sf0.1; persisted it
    // is one pass). Query-scoped: released by CacheScope with the query.
    // doc_id dropped before caching: none of the six consumers below
    // reads it, and the cache holds the corpus's whole trigram stream
    val tri = graft.CacheScope.persistTracked(
      trigramPieces(train, content, id).drop("doc_id"))
    lm3Price(trigramPieces(scored, content, id), lm3Tables(tri))
  }

  private def lm3Tables(tri: DataFrame): Seq[DataFrame] = Seq(
    tri.groupBy("t123").agg(count(lit(1)).as("c123")),
    tri.groupBy("h12").agg(count(lit(1)).as("c12")),
    tri.groupBy("b23").agg(count(lit(1)).as("c23")),
    tri.groupBy("h2").agg(count(lit(1)).as("c2")),
    tri.groupBy("u3").agg(count(lit(1)).as("c3")),
    tri.agg(count(lit(1)).as("nn")))

  private def lm3Price(scoredTri: DataFrame,
                       tables: Seq[DataFrame]): DataFrame = {
    val Seq(ct, c12t, c23t, c2t, c3t, n) = tables
    scoredTri
      .join(ct, Seq("t123"), "left")
      .join(c12t, Seq("h12"), "left")
      .join(c23t, Seq("b23"), "left")
      .join(c2t, Seq("h2"), "left")
      .join(c3t, Seq("u3"), "left")
      .crossJoin(broadcast(n))
      .withColumn("__s",
        when(col("c123").isNotNull,
          expr("c123 * 1000000L div c12"))
          .when(col("c23").isNotNull,
            expr("c23 * 400000L div c2"))
          // greatest(nn, 1): with a trigram-less train corpus every
          // count is null and the numerator is already 0, but ANSI
          // division would throw on nn = 0 before noticing — the guard
          // keeps the documented every-denominator-nonzero contract
          // total (score 0, not a job failure)
          .otherwise(expr("coalesce(c3, 0L) * 160000L div greatest(nn, 1L)")))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_trigrams"), sum("__s").as("__sum"))
      .withColumn("sb_ppm", expr("__sum div n_trigrams"))
      .drop("__sum")
  }

  private val Lm3Parts = Seq("ct", "c12t", "c23t", "c2t", "c3t", "n")

  /** Materialize the [[lm3Score]] model — the train/score boundary
    * artifact ([[lmModel]]'s role one order up, the ANN-codebook
    * pattern): the five positional count tables + N written beside the
    * corpus, so scoring a crawl batch (or a stream micro-batch) never
    * touches the training corpus again. */
  def writeLm3Model(train: DataFrame, content: Column, id: Column,
                    path: String): Unit = {
    val tri = trigramPieces(train, content, id).drop("doc_id").persist()
    try Lm3Parts.zip(lm3Tables(tri)).foreach { case (part, t) =>
      t.write.mode("overwrite").parquet(s"$path/$part")
    } finally tri.unpersist()
  }

  /** Score a corpus against a STORED [[writeLm3Model]] artifact —
    * identical results to the two-frame [[lm3Score]] by shared pricing
    * ([[lm3Price]]); stateless per input frame, so it composes into
    * `foreachBatch` as the trigram-tier perplexity gate. */
  def lm3ScoreStored(scored: DataFrame, content: Column, id: Column,
                     path: String): DataFrame = {
    val spark = scored.sparkSession
    lm3Price(trigramPieces(scored, content, id),
      Lm3Parts.map(part => spark.read.parquet(s"$path/$part")))
  }

  /** Unicode SCRIPT census + dominant-script verdict — the
    * script-consistency pass of multilingual curation ([[langId]] is
    * stopword-profile language id over Latin-alphabet text; this is the
    * orthographic layer under it): per-codepoint counts for the eight
    * bulk-of-web scripts plus digits/whitespace/other from ONE codegen
    * pass ([[graft.functions.ScriptProfile]]), the dominant script by
    * count (ties broken in the fixed field order latin > cyrillic >
    * greek > arabic > devanagari > han > kana > hangul; "none" when no
    * script codepoint occurs), and its integer parts-per-thousand share
    * of all codepoints. A doc whose tagged language and dominant script
    * disagree is mislabeled; an `n_other` spike is encoding damage.
    * Pure narrow zero-shuffle projection — scan speed at 100 TB.
    *
    * Output: (doc_id, n_cp, n_latin, n_cyrillic, n_greek, n_arabic,
    * n_devanagari, n_han, n_kana, n_hangul, n_digit, n_space, n_other,
    * script, script_pm). */
  def scriptProfile(df: DataFrame, content: Column, id: Column): DataFrame = {
    graft.functions.GraftFunctions.register(df.sparkSession)
    val scripts = Seq("latin", "cyrillic", "greek", "arabic", "devanagari",
      "han", "kana", "hangul")
    val counts = scripts.map(s => col(s"n_$s"))
    val top = greatest(counts: _*)
    val dominant = scripts.zip(counts)
      .foldRight(lit("none"): Column) { case ((name, c), acc) =>
        when(c > 0 && c === top, name).otherwise(acc)
      }
    df.select(id.as("doc_id"),
        call_function("script_profile", content).as("__p"))
      .select(col("doc_id") +: graft.functions.ScriptProfileUtil.schema
        .fieldNames.toSeq.map(f => col(s"__p.$f").as(f)): _*)
      .withColumn("script", dominant)
      .withColumn("script_pm",
        when(col("script") === "none", 0L)
          .otherwise(expr("cast(" + scripts.map(s => s"n_$s")
            .mkString("greatest(", ", ", ")") +
            " as bigint) * 1000 div n_cp")))
  }

  /** Per-occurrence hashed n-gram feature buckets — DSIR's featurizer
    * (Xie et al. 2023, "Data Selection for Language Models via
    * Importance Resampling"): lowercased word unigrams + bigrams,
    * hashed into `buckets` buckets. Bucketing is the whole trick: the
    * count tables are BUCKET-bounded (10⁴ rows at the published
    * default), not vocabulary-bounded — they broadcast at any corpus
    * size. */
  private def gramBuckets(df: DataFrame, content: Column, id: Column,
                          buckets: Int): DataFrame = {
    graft.functions.GraftFunctions.register(df.sparkSession)
    val t = lower(content)
    df.select(id.as("doc_id"),
        explode(concat(Text.words(t), Text.shingles(t, 2))).as("g"))
      .select(col("doc_id"), (Text.hash60(col("g")) % buckets).as("bk"))
  }

  /** DSIR-style IMPORTANCE WEIGHTS — the data-selection step that
    * TARGETS a distribution (Xie et al. 2023): score every raw-corpus
    * document by the log-ratio of two hashed-n-gram bag-of-words LMs,
    * log p_target(x) - log p_raw(x), then resample the raw corpus
    * proportionally (feed `dsir_bits` through a caller-chosen monotone
    * ppm map into [[Sampling.weighted]]). Completes the selection triad:
    * [[qualityScore]] is heuristic, [[lmSurprisal]]/[[lm3Score]] absolute
    * fluency — this is RELATIVE typicality against a target corpus.
    *
    * Exact-integer surprisal, [[lmScore]]'s idiom: a bucket's bits under
    * a corpus are `bitlen((N + buckets) div (c + 1))` (add-one over
    * buckets; the divisor is ≥1 because c ≤ N, so the bit length is
    * always well-defined), and
    * `dsir_bits = bits_raw - bits_target` — positive ⇔ the document is
    * more target-typical than raw-typical, the published weight's sign
    * up to the shared bitlen truncation. No float ever; the DuckDB
    * oracle reproduces every row.
    *
    * Scale shape, one step BETTER than [[lmScore]]'s: both count tables
    * are partial-aggregating `groupBy(bk)` collapsing to ≤`buckets`
    * rows — broadcast onto the corpus-sized probe (no shuffle on the
    * probe side at all), totals are one-row broadcasts re-aggregated
    * from the bucket tables (never a second corpus pass), then the
    * per-doc regroup. Documents with no words are dropped.
    *
    * Output: (doc_id, n_grams, bits_target, bits_raw, dsir_bits), one
    * row per `raw` document. */
  def dsirWeights(target: DataFrame, raw: DataFrame, content: Column,
                  id: Column, buckets: Int = 10000): DataFrame = {
    require(buckets > 0, s"dsirWeights: buckets must be positive, got $buckets")
    def counts(df: DataFrame, c: String) =
      gramBuckets(df, content, id, buckets)
        .groupBy("bk").agg(count(lit(1)).as(c))
    val tc = counts(target, "ct")
    val rc = counts(raw, "cr")
    val nt = tc.agg(sum("ct").as("nt"))
    val nr = rc.agg(sum("cr").as("nr"))
    gramBuckets(raw, content, id, buckets)
      .join(broadcast(tc), Seq("bk"), "left")
      .join(broadcast(rc), Seq("bk"), "left")
      .crossJoin(broadcast(nt)).crossJoin(broadcast(nr))
      .withColumn("__st",
        length(bin(expr(s"(nt + $buckets) div (coalesce(ct, 0L) + 1)")))
          .cast("long"))
      .withColumn("__sr",
        length(bin(expr(s"(nr + $buckets) div (coalesce(cr, 0L) + 1)")))
          .cast("long"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_grams"),
        sum("__st").as("bits_target"), sum("__sr").as("bits_raw"))
      .withColumn("dsir_bits", col("bits_raw") - col("bits_target"))
  }

  /** Materialize the DSIR artifact: the two hashed-n-gram bucket count
    * tables estimated ONCE from a target sample and a raw-crawl sample
    * (Xie et al. fit both distributions up front; scoring never
    * re-estimates). One row per bucket seen in either corpus,
    * `(bk, ct, cr)`, with the totals and bucket count stamped on every
    * row — [[nbTrain]]/[[lmModel]]'s self-describing artifact pattern,
    * so the parquet frame alone reconstructs the exact
    * [[dsirWeights]] arithmetic. Bucket-bounded (≤ `buckets` rows):
    * broadcastable at ANY corpus size. */
  def writeDsirModel(target: DataFrame, raw: DataFrame, content: Column,
                     id: Column, dir: String, buckets: Int = 10000): Unit = {
    require(buckets > 0, s"writeDsirModel: buckets must be positive, got $buckets")
    def counts(df: DataFrame, c: String) =
      gramBuckets(df, content, id, buckets)
        .groupBy("bk").agg(count(lit(1)).as(c))
    counts(target, "ct").join(counts(raw, "cr"), Seq("bk"), "full")
      .na.fill(0L, Seq("ct", "cr"))
      .crossJoin(broadcast(counts(target, "ct").agg(sum("ct").as("nt"))))
      .crossJoin(broadcast(counts(raw, "cr").agg(sum("cr").as("nr"))))
      .withColumn("buckets", lit(buckets))
      .write.mode("overwrite").parquet(dir)
  }

  /** Score documents against a STORED DSIR artifact — the streaming
    * seat of the resampling gate: both count tables are frozen in the
    * model frame, so scoring a micro-batch is a pure function of the
    * batch and the artifact (stateless per batch, replay-identical).
    * Identical arithmetic to [[dsirWeights]]: when the model was
    * written from (target, raw), scoring any subset of `raw` returns
    * that subset's [[dsirWeights]] rows. The model join is
    * bucket-bounded hence broadcast; the metadata read is one
    * parameter-sized driver row. */
  def dsirScoreStored(df: DataFrame, content: Column, id: Column,
                      modelDir: String): DataFrame = {
    val model = df.sparkSession.read.parquet(modelDir)
    val meta = model.select("buckets", "nt", "nr").head()
    val buckets = meta.getInt(0)
    val nt = meta.getLong(1); val nr = meta.getLong(2)
    gramBuckets(df, content, id, buckets)
      .join(broadcast(model.select("bk", "ct", "cr")), Seq("bk"), "left")
      .withColumn("__st",
        length(bin(expr(s"($nt + $buckets) div (coalesce(ct, 0L) + 1)")))
          .cast("long"))
      .withColumn("__sr",
        length(bin(expr(s"($nr + $buckets) div (coalesce(cr, 0L) + 1)")))
          .cast("long"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_grams"),
        sum("__st").as("bits_target"), sum("__sr").as("bits_raw"))
      .withColumn("dsir_bits", col("bits_raw") - col("bits_target"))
  }

  /** Train the NAIVE-BAYES quality classifier — the public shape of the
    * "fastText quality classifier" slot in published pipelines (GPT-3 /
    * LLaMA / CCNet curation all gate on a linear classifier trained
    * good-reference-vs-crawl; multinomial NB over word counts IS a
    * linear log-odds scorer, and unlike gradient-trained weights its
    * training is two exact count tables — fully oracle-checkable).
    *
    * The model frame: one row per word-hash seen in EITHER class,
    * `(wh, cg, cb)` counts, with the smoothing constants stamped on
    * every row ([[lmModel]]'s artifact pattern — persist to parquet and
    * the score side never touches the training corpora): `ng`/`nb` =
    * total token occurrences per class, `vocab` = distinct-word count
    * across the union (the textbook add-one denominator). All
    * partial-aggregating `groupBy(wh)`; the outer join and the stamps
    * are vocabulary-sized. */
  def nbTrain(good: DataFrame, bad: DataFrame, content: Column): DataFrame = {
    graft.functions.GraftFunctions.register(good.sparkSession)
    def counts(df: DataFrame, c: String) =
      df.select(explode(Text.words(lower(content))).as("w"))
        .groupBy(Text.hash60(col("w")).as("wh"))
        .agg(count(lit(1)).as(c))
    val base = counts(good, "cg").join(counts(bad, "cb"), Seq("wh"), "full")
      .select(col("wh"), coalesce(col("cg"), lit(0L)).as("cg"),
        coalesce(col("cb"), lit(0L)).as("cb"))
    // coalesce: on an empty (wordless) train pair the sums are null —
    // stamp zeros so nbScore stays total (everything prices to the
    // same constant and nb_bits is 0, not a null column)
    val stamps = base.agg(coalesce(sum("cg"), lit(0L)).as("ng"),
      coalesce(sum("cb"), lit(0L)).as("nb"), count(lit(1)).as("vocab"))
    base.crossJoin(broadcast(stamps))
  }

  /** Score documents against an [[nbTrain]] model: exact-integer
    * add-one log-odds,
    * `nb_bits = Σ_w [bitlen((nb+vocab) div (cb+1)) - bitlen((ng+vocab)
    * div (cg+1))]` — positive ⇔ the document's vocabulary is more
    * good-class-typical (each term is bits-under-bad minus
    * bits-under-good, the -log₂ likelihood ratio up to the shared
    * truncation). The class PRIOR is one additive constant per corpus —
    * deliberately the caller's threshold knob rather than baked in
    * (published gates tune the operating point anyway, Pareto-style).
    *
    * Scale shape = [[lmScore]]: vocabulary-sized build side joined on
    * the uniform word hash (one row per key; AQE splits residual hot
    * probe partitions), per-doc partial-agg regroup. Stateless per
    * input frame — composes into `foreachBatch` as the classifier gate.
    * Wordless documents are dropped. Output: (doc_id, n_words,
    * bits_good, bits_bad, nb_bits). */
  def nbScore(df: DataFrame, content: Column, id: Column,
              model: DataFrame): DataFrame = {
    graft.functions.GraftFunctions.register(df.sparkSession)
    require(Seq("wh", "cg", "cb", "ng", "nb", "vocab")
        .forall(model.columns.contains),
      "nbScore: model frame must carry (wh, cg, cb, ng, nb, vocab) — " +
        "train with nbTrain (or read its stored parquet artifact)")
    // the smoothing stamps ride a ONE-ROW broadcast, not the per-word
    // join: a word absent from the model must still be priced with the
    // true (n + vocab) denominator, which the left join's nulls would
    // lose (the stamps are constant across model rows by construction)
    val stamps = model.select("ng", "nb", "vocab").limit(1)
    df.select(id.as("doc_id"),
        explode(Text.words(lower(content))).as("w"))
      .select(col("doc_id"), Text.hash60(col("w")).as("wh"))
      .join(model.select("wh", "cg", "cb"), Seq("wh"), "left")
      .crossJoin(broadcast(stamps))
      .withColumn("__sg",
        length(bin(expr("(ng + vocab) div (coalesce(cg, 0L) + 1)")))
          .cast("long"))
      .withColumn("__sb",
        length(bin(expr("(nb + vocab) div (coalesce(cb, 0L) + 1)")))
          .cast("long"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_words"),
        sum("__sg").as("bits_good"), sum("__sb").as("bits_bad"))
      .withColumn("nb_bits", col("bits_bad") - col("bits_good"))
  }

  /** The Gopher rule-set document filter (Rae et al. 2021, "Scaling
    * Language Models: Methods, Analysis & Insights from Training
    * Gopher", App. A1.1 — the rule battery RedPajama/Dolma/FineWeb
    * reuse): per-document structural signals plus the composite
    * keep/drop verdict. All ratios are integer parts-per-thousand
    * (`div`, never `/`) so the DuckDB oracle agrees bit-for-bit:
    *
    *  - `n_words` in [50, 100 000] (words = whitespace split of the
    *    lowercased text, newlines included — multi-line pages);
    *  - mean word length in [3, 10] chars (`wlen_pm` in [3000, 10000]);
    *  - symbol-to-word ratio ≤ 0.1 (`#` plus `...` occurrences);
    *  - ≤ 90% of lines start with a bullet (`- `, `* `, `• `);
    *  - ≤ 30% of lines end with an ellipsis (`...` or `…`);
    *  - ≥ 80% of words contain at least one alphabetic character;
    *  - at least 2 of Gopher's 8 required stop words present
    *    (the/be/to/of/and/that/have/with).
    *
    * A pure NARROW projection over the one-pass native
    * [[graft.functions.GopherProfile]] expression (the HOF
    * formulation walked the split word/line arrays six times through
    * interpreted lambdas; the counters now come from two codegen'd
    * scans and no arrays) — zero shuffles, scan speed at 100 TB. An
    * empty/whitespace-only page is ONE empty word under Java split
    * semantics, so the ratios never divide by zero; it simply fails
    * the word-count floor.
    *
    * Output: (doc_id, n_words, n_lines, wlen_pm, sym_pm, bullet_pm,
    * ellipsis_pm, alpha_pm, stop_hits, gopher_ok). */
  def gopherRules(df: DataFrame, content: Column, id: Column): DataFrame = {
    graft.functions.GraftFunctions.register(df.sparkSession)
    df.select(id.as("doc_id"),
        call_function("gopher_profile", content).as("__g"))
      .selectExpr("doc_id",
        "__g.n_words as n_words",
        "__g.n_lines as n_lines",
        // the struct counters are already Long where the multiply
        // could overflow Int; the rest widen via 1000L
        "__g.wchars * 1000 div __g.n_words as wlen_pm",
        "__g.sym * 1000 div __g.n_words as sym_pm",
        "__g.bullets * 1000L div __g.n_lines as bullet_pm",
        "__g.ellipsis * 1000L div __g.n_lines as ellipsis_pm",
        "__g.alpha * 1000L div __g.n_words as alpha_pm",
        "__g.stop_hits as stop_hits")
      .withColumn("gopher_ok", expr(
        "n_words between 50 and 100000 and wlen_pm between 3000 and 10000" +
          " and sym_pm <= 100 and bullet_pm <= 900 and ellipsis_pm <= 300" +
          " and alpha_pm >= 800 and stop_hits >= 2"))
  }

  /** StarCoder/BigCode-style code-data quality battery (Li et al. 2023
    * §3.1, Lozhkov et al. 2024 §4): training corpora are ~10% source
    * code and every public pipeline gates it separately from prose.
    * Rules (integer ratios, thresholds the published ballpark):
    * longest line ≤ 1000 chars, mean line length ≤ 100, alphanumeric
    * fraction ≥ 25%, hex/base64 blob share ≤ 20%, comment-line share
    * ≤ 80%. One narrow projection over the one-pass native
    * [[graft.functions.CodeProfile]] — zero shuffles, scan speed at
    * 100 TB. An empty file is ONE empty line under Java split
    * semantics and `sum_ll` guards through `greatest(..,1)`, so the
    * ratios never divide by zero.
    *
    * Output: (doc_id, n_lines, max_ll, mean_ll_mil = mean line length
    * in thousandths, alnum_ppm, blob_ppm = hex+base64 blob chars ppm,
    * cmt_pct, code_ok). */
  def codeQuality(df: DataFrame, content: Column, id: Column): DataFrame = {
    graft.functions.GraftFunctions.register(df.sparkSession)
    df.select(id.as("doc_id"),
        call_function("code_profile", content).as("__c"))
      .selectExpr("doc_id",
        "__c.n_lines as n_lines",
        "__c.max_ll as max_ll",
        "__c.sum_ll * 1000 div __c.n_lines as mean_ll_mil",
        "__c.n_alnum * 1000000 div greatest(__c.sum_ll, 1L) as alnum_ppm",
        "(__c.hex_chars + __c.b64_chars) * 1000000" +
          " div greatest(__c.sum_ll, 1L) as blob_ppm",
        "__c.n_comment * 100L div __c.n_lines as cmt_pct")
      .withColumn("code_ok", expr(
        "max_ll <= 1000 and mean_ll_mil <= 100000 and alnum_ppm >= 250000" +
          " and blob_ppm <= 200000 and cmt_pct <= 80"))
  }

  /** The other half of Gopher's repetition battery (Rae et al. 2021,
    * App. A1.1 — [[repetitionStats]] covers the n-gram half): the
    * fraction of LINES and PARAGRAPHS that are within-document
    * duplicates, by occurrence count and by character mass. Lines
    * split on `\n`, paragraphs on `\n\n`, empties excluded; a
    * duplicate is any occurrence beyond a string's first, so the
    * count fraction is `(n - n_distinct) / n` and the char fraction
    * weights the same occurrences by length (a doc whose one repeated
    * line is its longest fails the char rule long before the count
    * rule). Integer parts-per-thousand throughout; verdict thresholds
    * are the published ones (≤ 30% duplicate count, ≤ 20% duplicate
    * characters, both granularities). A pure narrow projection over
    * the one-pass native [[graft.functions.LineRepProfile]] (the HOF
    * version split twice and walked each array three times); zero
    * shuffles. Documents with no non-empty line hit the ANSI
    * `div` fault by design — quarantine empties upstream.
    *
    * Output: (doc_id, n_lines, n_pars, dupline_pm, dupline_char_pm,
    * duppar_pm, duppar_char_pm, rep_ok). */
  def gopherRepetition(df: DataFrame, content: Column,
                       id: Column): DataFrame = {
    graft.functions.GraftFunctions.register(df.sparkSession)
    df.select(id.as("doc_id"),
        call_function("line_rep_profile", content).as("__r"))
      .selectExpr("doc_id",
        "__r.n_lines as n_lines",
        "__r.n_pars as n_pars",
        "__r.dup_lines * 1000L div __r.n_lines as dupline_pm",
        "__r.dup_line_chars * 1000 div greatest(__r.line_chars, 1L)" +
          " as dupline_char_pm",
        "__r.dup_pars * 1000L div __r.n_pars as duppar_pm",
        "__r.dup_par_chars * 1000 div greatest(__r.par_chars, 1L)" +
          " as duppar_char_pm")
      .withColumn("rep_ok", expr(
        "dupline_pm <= 300 and duppar_pm <= 300 and" +
          " dupline_char_pm <= 200 and duppar_char_pm <= 200"))
  }

  /** BM25 top-k retrieval for a fixed query batch — the lexical-search
    * workhorse (Robertson & Spärck Jones probabilistic relevance; the
    * Lucene/Elasticsearch default) recast on the exact-integer grid so
    * a DuckDB oracle replays every term:
    *
    *  - `idf_bits(t) = bitlen((2N − 2df + 1) div (2df + 1))` — the
    *    Robertson idf's log₂ taken as a bit length (the same
    *    `length(bin(..))` surprisal quantization [[nbScore]] and
    *    [[lmScore]] use). Floor is 1, not 0: the ratio integer-divides
    *    to 0 for terms in over half the corpus, but `bin(0)` is the
    *    one-char string "0" — ubiquitous terms are discounted to the
    *    minimum weight, never fully zeroed (SkewSpec pins this);
    *  - `tfq(t,d) = 2 200 000 000·S·tf div (1000·S·tf + 300·S +
    *    900·dl·N)` — the k₁=1.2, b=0.75 saturation term with
    *    `avgdl = S/N` cleared of division by cross-multiplying (S =
    *    total corpus words, dl = document words), in exact micro-units;
    *  - `score(q,d) = Σ_t idf_bits·tfq`, ties broken by doc_id.
    *
    * Scale shape: the query batch is caller-provided and tiny, so its
    * term table rides a BROADCAST and the corpus-side explode filters
    * to query terms with a literal `isin` BEFORE any shuffle — the
    * "postings" frame is (matched term, doc) sized, not corpus-word
    * sized. df and the (N, S) stamps are one partial-agg each; the
    * final top-k is a `row_number` window Spark executes as a partial
    * WindowGroupLimit (per-partition top-k before the per-query
    * shuffle). Long bounds: 2 200 000 000·S·tf must fit 2⁶³ — good to
    * ~10⁸ corpus words per retrieval shard at tf ≤ 40; shard or drop
    * the micro-scale one decade for larger corpora.
    *
    * Output: (q_id, rnk, doc_id, score) — `rnk` 1-based per query. */
  def bm25TopK(docs: DataFrame, content: Column, id: Column,
      queries: Seq[(Long, String)], k: Int = 10): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    require(queries.nonEmpty, "bm25TopK: empty query batch")
    val qt = queries.flatMap { case (qid, q) =>
      q.trim.toLowerCase.split("\\s+").toSeq.filter(_.nonEmpty)
        .distinct.map(t => (qid, t))
    }.toDF("q_id", "term")
    val termSet = queries.flatMap(_._2.trim.toLowerCase.split("\\s+"))
      .filter(_.nonEmpty).distinct
    // \\s+ (not ' +'): the corpus side must tokenize exactly like the
    // query side above, or a multi-line document never matches the
    // word straddling its newline
    val w = docs.select(id.cast("long").as("doc_id"),
        split(trim(lower(content)), "\\s+").as("__ws"))
      .select(col("doc_id"), size(col("__ws")).cast("long").as("dl"),
        col("__ws"))
    val stamps = w.agg(count(lit(1)).as("n_docs"), sum("dl").as("s_len"))
    // persisted query-scoped: TWO consumers (the df broadcast build and
    // the scored probe) — unpersisted, each re-ran the corpus tokenize +
    // explode + term filter as its own job. The cache is bounded by
    // docs × |query vocabulary| rows (the term filter runs before the
    // aggregation), never corpus-sized — scale-safe at any SF.
    val tf = graft.CacheScope.persistTracked(
      w.select(col("doc_id"), col("dl"),
        explode(col("__ws")).as("term"))
      .where(col("term").isin(termSet: _*))
      .groupBy("doc_id", "dl", "term").agg(count(lit(1)).as("tf")))
    val dfreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val scored = tf
      .join(broadcast(dfreq), "term")
      .join(broadcast(qt), "term")
      .crossJoin(broadcast(stamps))
      .withColumn("__idfb",
        length(bin(expr("(2*n_docs - 2*df + 1) div (2*df + 1)")))
          .cast("long"))
      .withColumn("__tfq", expr(
        "2200000000 * s_len * tf div " +
          "(1000 * s_len * tf + 300 * s_len + 900 * dl * n_docs)"))
      .groupBy("q_id", "doc_id")
      .agg(sum(expr("__idfb * __tfq")).as("score"))
    val win = org.apache.spark.sql.expressions.Window
      .partitionBy("q_id").orderBy(col("score").desc, col("doc_id").asc)
    scored.withColumn("rnk", row_number().over(win).cast("long"))
      .where(col("rnk") <= k)
      .select("q_id", "rnk", "doc_id", "score")
  }

  /** Reciprocal-rank fusion (Cormack et al. 2009) — the textbook
    * hybrid-retrieval composition: each input run contributes
    * `1e6 div (c + rank)` per (query, doc) appearance (integer-exact —
    * the engines never disagree on a float), fused docs re-ranked by
    * summed score with doc_id as the deterministic tie-break. Every
    * input is already a k-sized-per-query top-k frame (bm25TopK, an
    * ANN probe), so the union, partial-agg sum, and per-query window
    * are all bounded by q·k rows — the fusion costs nothing next to
    * the retrieval that feeds it, at any corpus scale.
    *
    * Input runs: (q_id, doc_id, rnk); output (q_id, rnk, doc_id,
    * score). */
  def rrfFuse(runs: Seq[DataFrame], k: Int, c: Int = 60): DataFrame = {
    require(runs.nonEmpty, "rrfFuse: no input runs")
    val u = runs.map(_.selectExpr("q_id", "doc_id", "cast(rnk as long) as rnk"))
      .reduce(_ unionByName _)
    val fused = u.groupBy("q_id", "doc_id")
      .agg(sum(expr(s"1000000L div ($c + rnk)")).as("score"))
    val win = org.apache.spark.sql.expressions.Window
      .partitionBy("q_id").orderBy(col("score").desc, col("doc_id").asc)
    fused.withColumn("rnk", row_number().over(win).cast("long"))
      .where(col("rnk") <= k)
      .select("q_id", "rnk", "doc_id", "score")
  }

  /** PMI collocation mining — the corpus-analysis pass that surfaces
    * multiword units ("new york", "machine learning") before tokenizer
    * training or stop-phrase curation: adjacent word pairs ranked by
    * pointwise mutual information, quantized to the engines' shared
    * bit-length log (`pmi_bits = bitlen((c_ab·T²) div (c_a·c_b·S))`,
    * the integer part of log₂ of the joint-vs-independent ratio plus
    * one, with T = total words, S = total bigrams — exact integer
    * arithmetic end to end).
    *
    * Scale shape: bigrams come from one zip of each document's word
    * array against its own tail (no self-join of the corpus); unigram
    * and bigram counts are partial-agg `groupBy`s over uniform word
    * keys; the two count stamps ride one-row broadcasts; the final
    * top-k is a global TakeOrdered over the (pmi, count, pair) total
    * order — never a full sort. Long bound: `c_ab·T²` must fit 2⁶³ —
    * good to ~10⁷ corpus words per shard at c_ab ≤ 10⁴.
    *
    * Output: (wa, wb, cab, pmi_bits) — top `k` by
    * (pmi_bits DESC, cab DESC, wa, wb), pairs seen ≥ `minCount`. */
  def pmiCollocations(docs: DataFrame, content: Column, k: Int = 30,
      minCount: Long = 5L): DataFrame = {
    // \s+ like bm25TopK, NOT ' +': space-only splitting glues words
    // across newlines into "word\nword" tokens on page-structured
    // corpora, missing real bigrams and inventing phantom ones
    // (ADVICE r15)
    val w = docs.select(split(trim(lower(content)), "\\s+").as("__ws"))
    val uni = w.select(explode(col("__ws")).as("w"))
      .groupBy("w").agg(count(lit(1)).as("c"))
    val bi = w.select(explode(expr(
        "zip_with(slice(__ws, 1, size(__ws) - 1)," +
          " slice(__ws, 2, size(__ws) - 1)," +
          " (x, y) -> named_struct('wa', x, 'wb', y))")).as("__bg"))
      .select(col("__bg.wa").as("wa"), col("__bg.wb").as("wb"))
      .groupBy("wa", "wb").agg(count(lit(1)).as("cab"))
    val tStamp = uni.agg(sum("c").as("t_words"))
    val sStamp = bi.agg(sum("cab").as("s_bi"))
    // no forced broadcast on the unigram side: the distinct-word table
    // is vocabulary-sized (10^5-10^6 rows at the documented shard
    // bound), not one-row — let the planner/AQE pick the build side
    bi.where(col("cab") >= minCount)
      .join(uni.select(col("w").as("wa"), col("c").as("ca")), "wa")
      .join(uni.select(col("w").as("wb"), col("c").as("cb")), "wb")
      .crossJoin(broadcast(tStamp)).crossJoin(broadcast(sStamp))
      .withColumn("pmi_bits",
        length(bin(expr("cab * t_words * t_words div (ca * cb * s_bi)")))
          .cast("long"))
      .select("wa", "wb", "cab", "pmi_bits")
      .orderBy(col("pmi_bits").desc, col("cab").desc, col("wa").asc,
        col("wb").asc)
      .limit(k)
  }

  /** ROUGE-1/ROUGE-2 RECALL (distinct-n-gram variant) for paired texts
    * — the summarization/eval-side overlap metric, run at corpus scale
    * when scoring generated candidates against references (and as a
    * cheap near-dup diagnostic between paired documents):
    * `rN_ppm = |distinct n-grams(cand) ∩ distinct n-grams(ref)| · 10⁶
    * div |distinct n-grams(ref)|`, exact integer parts-per-million.
    * Texts lowercase before shingling; a reference too short for the
    * n-gram order yields NULL (undefined recall), never a div fault.
    *
    * Both texts ride ONE row, so the whole metric is array arithmetic
    * inside the row — a pure narrow projection, zero shuffles, no join
    * of the corpus against itself. Output: (doc_id, r1_ppm, r2_ppm). */
  def rougeRecall(pairs: DataFrame, cand: Column, ref: Column,
      id: Column): DataFrame = {
    graft.functions.GraftFunctions.register(pairs.sparkSession)
    def dg(c: Column, k: Int) =
      array_distinct(Text.shingles(lower(c), k))
    pairs.select(id.cast("long").as("doc_id"),
        dg(cand, 1).as("__c1"), dg(ref, 1).as("__r1"),
        dg(cand, 2).as("__c2"), dg(ref, 2).as("__r2"))
      .select(col("doc_id"),
        expr("CASE WHEN size(__r1) = 0 THEN NULL ELSE " +
          "CAST(size(array_intersect(__c1, __r1)) AS BIGINT) * 1000000 " +
          "div size(__r1) END").as("r1_ppm"),
        expr("CASE WHEN size(__r2) = 0 THEN NULL ELSE " +
          "CAST(size(array_intersect(__c2, __r2)) AS BIGINT) * 1000000 " +
          "div size(__r2) END").as("r2_ppm"))
  }

  def fingerprint(df: DataFrame, content: Column, id: Column,
                  k: Int = 3): DataFrame = {
    graft.functions.GraftFunctions.register(df.sparkSession)
    val norm = regexp_replace(lower(trim(content)), " +", " ")
    df.select(
      id.as("doc_id"),
      md5(norm).as("content_fp"),
      // native one-pass min-of-md5 (graft.functions.MinMd5) — same value
      // as array_min(transform(.., md5)) without the per-element hex
      // string allocation of the interpreted HOF chain
      call_function("min_md5", Text.shingles(content, k)).as("winnow_fp"))
  }
}
