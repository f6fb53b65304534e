package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Unigram-LM (SentencePiece-style) tokenization — the second public
  * tokenizer family beside [[Bpe]]: instead of a learned merge list
  * applied greedily, a learned PIECE VOCABULARY with per-piece costs,
  * applied by exact Viterbi segmentation (Kudo 2018, "Subword
  * Regularization"; the SentencePiece trainer's seed vocabulary is
  * exactly the frequent-substring table used here).
  *
  * Scale-first shape, mirroring [[Bpe.learn]]'s discipline:
  *
  *  - ONE corpus pass — `groupBy(word)` frequency (uniform hash
  *    shuffle, map-side combine). Everything after runs on the
  *    DISTINCT-WORD table, whose size is the language's vocabulary,
  *    not the corpus mass;
  *  - candidate pieces are substrings (≤ [[MaxPieceCp]] code points)
  *    of ≤ [[MaxChunkCp]]-cp word chunks, weighted by word frequency —
  *    a bounded flatMap + partial-aggregating `groupBy(piece)`;
  *  - vocabulary selection is `ORDER BY count DESC, piece ASC LIMIT
  *    vocabSize` — a TakeOrdered, so the driver holds exactly
  *    vocabSize rows, never the candidate table;
  *  - encoding is one shuffle-free `mapPartitions` with the
  *    vocabulary-sized model in the closure, exactly [[Bpe.encode]]'s
  *    execution shape, with a per-partition memo over distinct chunks
  *    (Zipf makes the memo hit rate high).
  *
  * EXACT INTEGER SURPRISAL — the property that makes the tokenizer
  * oracle-checkable across engines (the repo's lm3/dsir discipline: no
  * cross-engine float logs). A piece with corpus probability
  * `ppm = count·10⁶ div total` gets cost
  * `bitlen((10⁹ div max(ppm,1))⁴)` — i.e. `floor(4·log₂(1/p)) + const`
  * in QUARTER-BIT granularity, computed with integer-only arithmetic
  * (BigInt pow + bitLength here; HUGEINT pow + shift + to_base in the
  * DuckDB oracle). Viterbi minimizes the additive triple
  * `(cost, emitted tokens, cut-position mask)` lexicographically —
  * translation-invariant, so DP over it is exact, and the tie-break
  * makes the winning segmentation engine-independent even where
  * quarter-bit costs tie.
  *
  * TOTALITY — same guarantee as [[Bpe]]: the vocabulary carries the
  * 256 reserved byte symbols; a single code point outside the piece
  * table segments as its UTF-8 bytes at [[FallbackCostQb]] per byte
  * (dearer than any learned piece, so fallback only fires when
  * nothing else can). Words are hard-split into ≤ [[MaxChunkCp]]-cp
  * chunks before DP — the SentencePiece trainer's
  * max_sentencepiece_length discipline, and what keeps both the DP
  * and the enumeration oracle bounded. Each word is preceded by the
  * reserved [[WordStart]] marker (SentencePiece's ▁ convention), so
  * decode can rebuild word boundaries without gluing chunks apart.
  */
object Unigram {

  /** SentencePiece's word-start marker (U+2581 LOWER ONE EIGHTH BLOCK),
    * emitted as a standalone token before each word. */
  val WordStart = "▁"

  /** Words are hard-split into chunks of at most this many code points
    * before segmentation — bounds the per-word DP and the oracle's
    * 2^(L-1) mask enumeration. */
  val MaxChunkCp = 10

  /** Maximum candidate piece length in code points. */
  val MaxPieceCp = 8

  /** Cost per fallen-back UTF-8 byte, in quarter-bits. Learned piece
    * costs live in [40, 120] (q ∈ [10³, 10⁹]), so one fallback byte is
    * always dearer than any learned piece. */
  val FallbackCostQb = 160L

  private val ByteSymRe = "<0x([0-9A-F]{2})>".r

  /** A learned tokenizer: piece → quarter-bit cost, plus the id-indexed
    * vocabulary (sorted: learned pieces + the 256 byte symbols + the
    * word-start marker) — ids are positions in `vocab`, deterministic
    * for a deterministic piece table, exactly [[Bpe.Model]]'s scheme. */
  final case class Model(costs: Map[String, Long], vocab: Seq[String]) {
    lazy val ids: Map[String, Int] = vocab.zipWithIndex.toMap
    lazy val wordStartId: Int = ids(WordStart)
  }

  /** Integer quarter-bit cost for a piece seen `cnt` times out of
    * `total`: `bitlen((10⁹ div max(cnt·10⁶ div total, 1))⁴)`. BigInt
    * keeps the 10⁶ scale exact at any corpus mass. */
  def costOf(cnt: Long, total: Long): Long = {
    val ppm = (BigInt(cnt) * 1000000 / BigInt(total)).toLong max 1L
    val q = 1000000000L / ppm
    BigInt(q).pow(4).bitLength.toLong
  }

  /** Per-code-point split (UTF-16 surrogate-safe, like
    * [[Bpe]]'s): an astral character is ONE symbol. */
  private def codePoints(w: String): IndexedSeq[String] = {
    val out = IndexedSeq.newBuilder[String]
    var i = 0
    while (i < w.length) {
      val cp = w.codePointAt(i)
      out += new String(Character.toChars(cp))
      i += Character.charCount(cp)
    }
    out.result()
  }

  /** ≤ [[MaxChunkCp]]-cp chunks of a word, in order. */
  private[ext] def chunksOf(w: String): Seq[String] =
    codePoints(w).grouped(MaxChunkCp).map(_.mkString).toSeq

  /** Learn a piece vocabulary from a corpus column: top `vocabSize`
    * substrings of the chunked distinct-word table by (weighted count
    * desc, piece asc). Pieces containing the reserved [[WordStart]]
    * glyph or spelled exactly like a reserved byte symbol are excluded
    * up front (the [[Bpe.learn]] collision fence, applied as a filter
    * rather than an error: unigram candidates are raw substrings, so
    * corpus text like "<0x41>" WOULD otherwise alias ids). */
  def learn(docs: DataFrame, text: Column, vocabSize: Int): Model = {
    val spark = docs.sparkSession
    import spark.implicits._
    val words = docs
      .select(explode(split(lower(text), "\\s+")).as("w"))
      .where(length(col("w")) > 0)
      .groupBy("w").agg(count(lit(1)).as("freq"))
      .as[(String, Long)]
    val kept = words
      .flatMap { case (w, f) =>
        for {
          chunk <- chunksOf(w)
          cps = codePoints(chunk)
          s <- cps.indices
          e <- (s + 1) to math.min(s + MaxPieceCp, cps.length)
        } yield (cps.slice(s, e).mkString, f)
      }
      .toDF("piece", "f")
      .where(!col("piece").contains(WordStart) &&
        !col("piece").rlike("^<0x[0-9A-F]{2}>$"))
      .groupBy("piece").agg(sum("f").as("cnt"))
      .orderBy(desc("cnt"), asc("piece"))
      .limit(vocabSize)
      .as[(String, Long)].collect()
    val total = kept.map(_._2).sum
    val costs = kept.map { case (p, c) => p -> costOf(c, total) }.toMap
    val vocab = (costs.keys.toSeq ++ Bpe.ByteSymbols :+ WordStart)
      .distinct.sorted
    Model(costs, vocab)
  }

  /** One chunk's winning segmentation: pieces (a fallen-back code point
    * stays ONE piece here — its byte expansion happens at id-emission
    * and token counting), plus the additive (cost, nTokens) of the
    * winner. Exact DP over the lexicographic (cost, nTokens, cutMask)
    * triple with backpointers; `cutMask` bit for a cut before code
    * point p (1-based) has weight 2^(L-1-p), so "smallest mask" prefers
    * the longest first piece among otherwise-tied segmentations. */
  private[ext] def viterbi(chunk: String, costs: Map[String, Long])
      : (Seq[String], Long, Long) = {
    val cps = codePoints(chunk)
    val L = cps.length
    val INF = Long.MaxValue
    val dpc = Array.fill(L + 1)(INF) // cost
    val dpn = Array.fill(L + 1)(INF) // emitted tokens
    val dpm = Array.fill(L + 1)(INF) // cut mask
    val back = Array.fill(L + 1)(-1)
    dpc(0) = 0; dpn(0) = 0; dpm(0) = 0
    var i = 1
    while (i <= L) {
      var j = math.max(0, i - MaxPieceCp)
      while (j < i) {
        if (dpc(j) != INF) {
          val piece = cps.slice(j, i).mkString
          val known = costs.get(piece)
          if (known.isDefined || i - j == 1) {
            val bytes =
              piece.getBytes(java.nio.charset.StandardCharsets.UTF_8).length
            val ec = known.getOrElse(FallbackCostQb * bytes)
            val en = if (known.isDefined) 1L else bytes.toLong
            val em = if (j == 0) 0L else 1L << (L - 1 - j)
            val (c, n, m) = (dpc(j) + ec, dpn(j) + en, dpm(j) + em)
            if (c < dpc(i) || (c == dpc(i) && (n < dpn(i) ||
                (n == dpn(i) && m < dpm(i))))) {
              dpc(i) = c; dpn(i) = n; dpm(i) = m; back(i) = j
            }
          }
        }
        j += 1
      }
      i += 1
    }
    val bounds = List.newBuilder[Int]
    var p = L
    while (p > 0) { bounds += p; p = back(p) }
    val cuts = 0 :: bounds.result().reverse
    (cuts.zip(cuts.tail).map { case (a, b) => cps.slice(a, b).mkString },
      dpc(L), dpn(L))
  }

  /** Tokenize a corpus: (doc_id, input_ids, n_tokens). One narrow
    * `mapPartitions`, model in the closure, per-partition chunk memo. */
  def encode(docs: DataFrame, id: Column, text: Column, model: Model): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val costs = model.costs
    docs.select(id.cast("long").as("doc_id"), lower(text).as("t"))
      .as[(Long, String)]
      .mapPartitions { it =>
        val memo = scala.collection.mutable.HashMap.empty[String, Seq[Int]]
        def chunkIds(chunk: String): Seq[Int] = memo.getOrElseUpdate(chunk, {
          val (pieces, _, _) = viterbi(chunk, costs)
          pieces.flatMap { p =>
            model.ids.get(p) match {
              case Some(i) => Seq(i)
              case None => p.getBytes(java.nio.charset.StandardCharsets.UTF_8)
                .toSeq.map(b => model.ids(Bpe.ByteSymbols(b & 0xff)))
            }
          }
        })
        it.map { case (docId, t) =>
          val ids = t.split("\\s+").iterator.filter(_.nonEmpty)
            .flatMap(w => model.wordStartId +:
              chunksOf(w).flatMap(chunkIds))
            .map(_.toLong).toSeq
          (docId, ids, ids.length.toLong)
        }
      }
      .toDF("doc_id", "input_ids", "n_tokens")
  }

  /** The oracle-checkable segmentation statistics row (`uni`):
    * per document — emitted token count (word markers + pieces, a
    * fallen-back code point counting one per UTF-8 byte), total
    * quarter-bit Viterbi cost, and a position-weighted piece
    * fingerprint `Σ (h60(piece) mod 10⁶)·j` over each chunk's pieces
    * (j = 1-based piece index in its chunk) — pinning WHICH pieces won
    * and their order, not just how many. */
  def tokStats(docs: DataFrame, id: Column, text: Column, model: Model): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val costs = model.costs
    docs.select(id.cast("long").as("doc_id"), lower(text).as("t"))
      .as[(Long, String)]
      .mapPartitions { it =>
        val memo = scala.collection.mutable.HashMap.empty[String, (Long, Long, Long)]
        def stats(chunk: String): (Long, Long, Long) = memo.getOrElseUpdate(chunk, {
          val (pieces, cost, ntok) = viterbi(chunk, costs)
          val fp = pieces.zipWithIndex.map { case (p, j) =>
            (graft.functions.SimHashUtil.hash60(
              p.getBytes(java.nio.charset.StandardCharsets.UTF_8)) % 1000000L) *
              (j + 1)
          }.sum
          (ntok, cost, fp)
        })
        it.map { case (docId, t) =>
          var nt = 0L; var cq = 0L; var fp = 0L
          t.split("\\s+").iterator.filter(_.nonEmpty).foreach { w =>
            nt += 1L // word-start marker
            chunksOf(w).foreach { c =>
              val (n, cst, f) = stats(c); nt += n; cq += cst; fp += f
            }
          }
          (docId, nt, cq, fp)
        }
      }
      .toDF("doc_id", "n_tokens", "cost_q", "fp")
  }

  /** Invert one id sequence back to text — [[WordStart]] opens a word,
    * byte-symbol runs reassemble into UTF-8, pieces emit verbatim.
    * Lossy exactly where [[encode]] is (lowercasing, whitespace
    * normalization) and nowhere else. */
  def decodeIds(ids: Seq[Long], model: Model): String = {
    val words = Seq.newBuilder[String]
    val cur = new StringBuilder
    val pend = new java.io.ByteArrayOutputStream
    var open = false
    def flushBytes(): Unit = if (pend.size() > 0) {
      cur.append(new String(pend.toByteArray,
        java.nio.charset.StandardCharsets.UTF_8))
      pend.reset()
    }
    def endWord(): Unit = {
      flushBytes()
      if (open || cur.nonEmpty) words += cur.toString
      cur.clear()
    }
    ids.foreach { id =>
      if (id >= 0 && id < model.vocab.length) model.vocab(id.toInt) match {
        case WordStart => endWord(); open = true
        case ByteSymRe(hex) => pend.write(Integer.parseInt(hex, 16))
        case s => flushBytes(); cur.append(s)
      }
    }
    endWord()
    words.result().mkString(" ")
  }

  /** Corpus-wide [[decodeIds]] — the mirror of [[encode]]'s shape. */
  def decode(docs: DataFrame, id: Column, idsCol: Column,
             model: Model): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(id.cast("long").as("doc_id"), idsCol.as("ids"))
      .as[(Long, Seq[Long])]
      .mapPartitions(_.map { case (docId, ids) =>
        (docId, decodeIds(ids, model))
      })
      .toDF("doc_id", "text")
  }

  /** One EM-style refinement pass (the unigram trainer's E-step +
    * M-step on the distinct-word table): re-count each kept piece by
    * its Viterbi usage under the current model (weighted by word
    * frequency), drop pieces that win no segmentation, and re-derive
    * costs from the usage counts. Runs on the vocabulary-sized
    * distinct-word table — never the corpus. */
  def refine(docs: DataFrame, text: Column, model: Model): Model = {
    val spark = docs.sparkSession
    import spark.implicits._
    val costs = model.costs
    val used = docs
      .select(explode(split(lower(text), "\\s+")).as("w"))
      .where(length(col("w")) > 0)
      .groupBy("w").agg(count(lit(1)).as("freq"))
      .as[(String, Long)]
      .flatMap { case (w, f) =>
        chunksOf(w).flatMap { c =>
          viterbi(c, costs)._1.filter(costs.contains).map(_ -> f)
        }
      }
      .toDF("piece", "f")
      .groupBy("piece").agg(sum("f").as("cnt"))
      .as[(String, Long)].collect()
    val total = used.map(_._2).sum
    val newCosts = used.map { case (p, c) => p -> costOf(c, total) }.toMap
    val vocab = (newCosts.keys.toSeq ++ Bpe.ByteSymbols :+ WordStart)
      .distinct.sorted
    Model(newCosts, vocab)
  }

  /** Persist a learned model as a self-describing parquet artifact —
    * the train/score boundary contract the lm3/DSIR/NB/[[Bpe]]
    * artifacts carry: re-export of the same model is byte-identical
    * (canonical sort, one file per frame) and a crawl batch or stream
    * micro-batch segments without ever touching the training corpus.
    * Costs land before the vocab — `vocab/_SUCCESS` marks the whole
    * artifact complete (the codebook build-order convention). Both
    * frames are vocabulary-sized, never corpus-sized. */
  def writeModel(spark: org.apache.spark.sql.SparkSession, model: Model,
                 path: String): Unit = {
    import spark.implicits._
    spark.createDataset(model.costs.toSeq.sortBy(_._1))
      .toDF("piece", "qb")
      .coalesce(1).sortWithinPartitions("piece")
      .write.mode("overwrite").parquet(s"$path/costs")
    spark.createDataset(model.vocab.zipWithIndex.map { case (s, i) => (i, s) })
      .toDF("id", "sym")
      .coalesce(1).sortWithinPartitions("id")
      .write.mode("overwrite").parquet(s"$path/vocab")
  }

  /** Rehydrate a [[writeModel]] artifact. Both collects are
    * vocabulary-bounded (the model ships in the encode closure anyway);
    * ids come back EXACTLY as written (positions re-sorted by the
    * stored id column), so `readModel(write(m)) == m` structurally —
    * the round-trip UnigramSpec pins. */
  def readModel(spark: org.apache.spark.sql.SparkSession,
                path: String): Model = {
    import spark.implicits._
    val costs = spark.read.parquet(s"$path/costs")
      .select("piece", "qb").as[(String, Long)].collect().toMap
    val vocab = spark.read.parquet(s"$path/vocab")
      .select("id", "sym").as[(Int, String)]
      .collect().sortBy(_._1).map(_._2).toSeq
    Model(costs, vocab)
  }

  /** Segment against a STORED [[writeModel]] artifact — identical
    * results to [[encode]] BY SHARED CODE (this is `encode` itself,
    * fed the rehydrated model; Viterbi/cost semantics cannot drift),
    * one shuffle-free `mapPartitions`. Stateless per input frame, so
    * it composes into `foreachBatch` as the tokenizer stage of a
    * streaming curation pipeline, exactly [[Bpe.encodeStored]]. */
  def encodeStored(docs: DataFrame, id: Column, text: Column,
                   path: String): DataFrame =
    encode(docs, id, text, readModel(docs.sparkSession, path))
}
