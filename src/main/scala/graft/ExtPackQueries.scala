package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ext.{Curation, Dedup, Packing, Sampling, Similarity, TextAnalysis, Unigram, WordPiece}

import ExtShared._

/** Packing/sampling/export family: sequence packing, epoch layout,
  * mixture sampling, stored-tokenizer boundary rows.
  * Entries and oracles moved verbatim from ExtQueries (round-19
  * split); [[ExtShared]] holds the dialect bridge. */
object ExtPackQueries {

  val queries: Map[String, Q] = Map(

    // 25 < every cell's population at both SFs (cells run 76-122
    // members), so the cap bites in every cell and the row verifies the
    // per-cell ranking, not a pass-through
    "sl" -> ((s, d) =>
      Similarity.cellBalanced(Tables.embeddings(s, d), "vec_id", "embedding",
          n = 25)
        .orderBy("vec_id")),

    // End-to-end curation pass composed from the operator surface:
    // quality gate → exact-dedup keepers → deterministic split. The
    // shape a user of this library runs nightly over a corpus. The gate
    // tightens the base quality_ok with corpus-calibrated thresholds
    // (uniq_pm >= 400, n_words >= 25) so the check is DISCRIMINATING —
    // on the synthetic corpus everything passes the base gate and a
    // pass-through pipeline would prove nothing.
    "pc" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val quality = TextAnalysis.qualityScore(docs, col("text"), col("doc_id"))
        .where(col("quality_ok") && col("uniq_pm") >= 400 && col("n_words") >= 25)
        .select("doc_id")
      val keepers = Dedup.exact(docs, col("text"), col("doc_id"))
        .select(col("keeper_doc_id").as("doc_id"))
      val splits = Sampling.split(docs, col("doc_id")).select("doc_id", "split")
      docs.select("doc_id")
        .join(quality, Seq("doc_id"))
        .join(keepers, Seq("doc_id"))
        .join(splits, Seq("doc_id"))
        .orderBy("doc_id")
    }),

    // Observability view of the curation pipeline: how many documents
    // survive each successive gate (the numbers a curation run reports
    // before anyone trains on its output). Same gates as
    // pipe_curation, folded to one pass: per-doc flags, one
    // aggregate, unpivoted to (stage, n_docs) rows.
    "pf" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val quality = TextAnalysis.qualityScore(docs, col("text"), col("doc_id"))
        .where(col("quality_ok") && col("uniq_pm") >= 400 && col("n_words") >= 25)
        .select(col("doc_id"), lit(true).as("q"))
      val keepers = Dedup.exact(docs, col("text"), col("doc_id"))
        .select(col("keeper_doc_id").as("doc_id"), lit(true).as("k"))
      val flags = Sampling.split(docs, col("doc_id"))
        .select("doc_id", "split")
        .join(quality, Seq("doc_id"), "left")
        .join(keepers, Seq("doc_id"), "left")
        .agg(count(lit(1)).as("c0"),
          sum(when(col("q"), 1L).otherwise(0L)).as("c1"),
          sum(when(col("q") && col("k"), 1L).otherwise(0L)).as("c2"),
          sum(when(col("q") && col("k") && col("split") === "train", 1L)
            .otherwise(0L)).as("c3"))
      flags.select(explode(array(
          struct(lit("0_total").as("stage"), col("c0").as("n_docs")),
          struct(lit("1_quality").as("stage"), col("c1").as("n_docs")),
          struct(lit("2_dedup").as("stage"), col("c2").as("n_docs")),
          struct(lit("3_train").as("stage"), col("c3").as("n_docs"))))
          .as("s"))
        .select(col("s.stage"), col("s.n_docs"))
        .orderBy("stage")
    }),

    "sp" -> ((s, d) =>
      Sampling.split(Tables.documents(s, d), col("doc_id"))
        .select("doc_id", "split").orderBy("doc_id")),

    // Multi-epoch repetition: rates 0.4 / 1.3 / 2.2 epochs by doc_id
    // class — whole copies + a hash-decided fractional copy, the
    // upsampling half of a published mixture recipe.
    "sr" -> ((s, d) =>
      Sampling.repeatByRate(
          Tables.documents(s, d).select(col("doc_id")),
          col("doc_id"),
          (col("doc_id") % 3) * 900000L + 400000L)
        .orderBy("doc_id", "copy_idx")),

    // quality-proportional keep rate: 1000 ppm per char, saturating at
    // 500 chars — longer docs always survive, shorter ones pro rata
    "sw" -> ((s, d) =>
      Sampling.weighted(Tables.documents(s, d), col("doc_id"),
          col("n_chars") * 2000L)
        .select("doc_id").orderBy("doc_id")),

    "ss" -> ((s, d) =>
      Sampling.stratified(Tables.events(s, d), col("event_type"),
          col("event_id"),
          Map("view" -> 100000, "click" -> 500000, "purchase" -> 1000000))
        .select("event_id", "event_type").orderBy("event_id")),

    // per-language absolute cap (40 < the smallest language group at
    // both test scales, so every group is actually truncated and the
    // hash ranking — not a pass-through — is what the oracle checks)
    "sc" -> ((s, d) =>
      Sampling.capPerGroup(Tables.documents(s, d), col("lang"),
          col("doc_id"), n = 40)
        .select("doc_id", "lang").orderBy("doc_id")),

    // Temperature-smoothed (alpha = 0.5) per-language sampling: rates
    // derived from the corpus's own counts via sqrt flattening — the
    // published mBERT/XLM-R low-resource upweighting.
    "st" -> ((s, d) =>
      Sampling.temperatureMix(Tables.documents(s, d), col("lang"),
          col("doc_id"), targetRows = 200)
        .select("doc_id", "lang").orderBy("doc_id")),

    // Corpus-derived mixture rates: en/de/zh thin toward the target
    // weights, fr's demand exceeds its supply (rate clamps to 1e6 —
    // keep all), unweighted es drops entirely. All three regimes of
    // Sampling.mixture exercised by one row.
    "sm" -> ((s, d) =>
      Sampling.mixture(Tables.documents(s, d), col("lang"), col("doc_id"),
          Map("en" -> 200000, "fr" -> 400000, "de" -> 200000,
            "zh" -> 200000), targetRows = 300)
        .select("doc_id", "lang").orderBy("doc_id")),

    // The epoch-budget recipe plan: weights/budget/repetition-ceiling →
    // per-language rates in ppm (over 10⁶ = epochs), achievable tokens,
    // and an explicit capped flag. At sf0.001 en/de cap at 8 epochs
    // while fr/zh fit and unweighted es reports rate 0 — all three
    // branches on the correctness surface.
    "se" -> ((s, d) =>
      Sampling.epochPlan(Tables.documents(s, d), col("lang"),
          col("n_chars"),
          Map("en" -> 500000, "fr" -> 200000, "de" -> 200000,
            "zh" -> 100000),
          targetTokens = 1000000L, maxEpochsPpm = 8000000L)
        .orderBy("grp")),

    "po" -> ((s, d) => {
      val toks = TextAnalysis
        .tokenStats(Tables.documents(s, d), col("text"), col("doc_id"))
        .select(col("doc_id"), col("n_tokens"))
      Packing.packSequences(toks, col("doc_id"), col("n_tokens"),
          budget = 512)
        .orderBy("doc_id")
    }),

    // Document-atomic BFD vs the splitting stream packer, MEASURED
    // (the hrc carry-numbers convention): a closed-form length fixture
    // (doc_id % 4 → 60/30/25/10 tokens, budget 100, doc count clamped
    // to a multiple of 16 so each class is equally sized and the BFD
    // outcome is statable) runs through BOTH packers; the row carries
    // each packer's bin count, total pad tokens and boundary-crossing
    // doc count. The oracle states the BFD outcome closed-form
    // (n bins of 60+30+10 plus n/4 bins of 4×25 — zero pad, zero
    // splits) and re-derives the splitting packer's stats from the
    // id-order prefix arithmetic — simulation-blind on both sides.
    "pb" -> ((s, d) => {
      val fx = bfdFixture(s, d)
      val atomic = Packing
        .packBestFit(fx, col("doc_id"), col("len"), budget = 100L)
      // coalesce: an EMPTY fixture (a corpus under 16 docs clamps to
      // zero rows) must read 0-bins/0-pad like the oracle's closed
      // form, not NULL through the global aggregates
      val aStats = atomic.groupBy()
        .agg(countDistinct("bin").as("n_bins"), sum("n_tokens").as("tok"))
        .select(lit("atomic_bfd").as("packer"), col("n_bins"),
          coalesce(col("n_bins") * 100L - col("tok"), lit(0L))
            .as("pad_tokens"),
          lit(0L).as("split_docs"))
      val split = Packing
        .packSequences(fx, col("doc_id"), col("len"), budget = 100L)
      val sStats = split.groupBy()
        .agg(coalesce(max("last_bin") + 1L, lit(0L)).as("n_bins"),
          sum("n_tokens").as("tok"),
          coalesce(sum(when(col("first_bin") =!= col("last_bin"), 1L)
            .otherwise(0L)), lit(0L)).as("split_docs"))
        .select(lit("split_seq").as("packer"), col("n_bins"),
          coalesce(col("n_bins") * 100L - col("tok"), lit(0L))
            .as("pad_tokens"),
          col("split_docs"))
      aStats.unionByName(sStats).orderBy("packer")
    }),

    // The trainer-facing materialization of the ATOMIC layout
    // (materializeAtomicBins over packBestFit's bins), reduced to
    // per-bin fingerprints — the p_a convention on the atomic tier.
    // input_ids are the closed form doc_id·10⁵ + t, and the oracle
    // re-derives every window from the BFD outcome's closed-form
    // membership (bin b < n holds docs 4b/4b+1/4b+3 at offsets
    // 0/60/90; bin n+j holds 16j+2, 16j+6, 16j+10, 16j+14 at 25-token
    // strides) — so a drift in the packer's assignment, the window
    // order, the span offsets, or the padding breaks the row.
    "pm" -> ((s, d) => {
      val fx = bfdFixture(s, d)
      val assign = Packing
        .packBestFit(fx, col("doc_id"), col("len"), budget = 100L)
      val ids = fx.select(col("doc_id"),
        expr("transform(sequence(1, CAST(len AS INT)), " +
          "t -> doc_id * 100000L + CAST(t AS BIGINT))").as("input_ids"))
      Packing.materializeAtomicBins(assign, ids, budget = 100L)
        .select(col("bin"), col("n_tokens"), col("n_pad"), col("n_docs"),
          expr("aggregate(zip_with(input_ids, " +
            "sequence(1, size(input_ids)), " +
            "(x, k) -> x * CAST(k AS BIGINT)), 0L, (a, v) -> a + v)")
            .as("ids_fp"),
          expr("aggregate(transform(doc_spans, " +
            "s -> s.doc_id * (s.off + 1L) + s.len), 0L, (a, v) -> a + v)")
            .as("spans_fp"))
        .orderBy("bin")
    }),

    // The trainer-facing materialization of the p_s layout: every
    // context window's ACTUAL fixed-length input_ids row plus its
    // doc_spans sidecar, reduced to per-bin fingerprints (the bpe
    // convention). input_ids are the closed form doc_id·10⁵ + t
    // (t = 1..n_tokens), so the oracle re-derives every token id from
    // the slice arithmetic alone; padId = 0 makes the padded tail
    // fingerprint-neutral and n_pad prices it explicitly.
    "pa" -> ((s, d) => {
      val toks = TextAnalysis
        .tokenStats(Tables.documents(s, d), col("text"), col("doc_id"))
        .select(col("doc_id"), col("n_tokens"))
      val packed = Packing.packSequences(toks, col("doc_id"),
        col("n_tokens"), budget = 512)
      val ids = toks.where(col("n_tokens") > 0)
        .select(col("doc_id"),
          expr("transform(sequence(1, CAST(n_tokens AS INT)), " +
            "t -> doc_id * 100000L + CAST(t AS BIGINT))").as("input_ids"))
      Packing.materializeBins(packed, ids, budget = 512L)
        .select(col("bin"), col("n_tokens"), col("n_pad"), col("n_docs"),
          expr("aggregate(zip_with(input_ids, " +
            "sequence(1, size(input_ids)), " +
            "(x, k) -> x * CAST(k AS BIGINT)), 0L, (a, v) -> a + v)")
            .as("ids_fp"),
          expr("aggregate(transform(doc_spans, " +
            "s -> s.doc_id * (s.off + 1L) + s.len), 0L, (a, v) -> a + v)")
            .as("spans_fp"))
        .orderBy("bin")
    }),

    "ps" -> ((s, d) =>
      Packing.shuffledOrdinal(Tables.documents(s, d), col("doc_id"),
          seed = "epoch0")
        .orderBy("doc_id")),

    // WEBDATASET LAYOUT on the oracle surface: two-part samples
    // (<key>.txt of id%700+1 'a's — exercising both one- and two-block
    // padding — and <key>.json of '{"id":N}') run through the REAL
    // ustar encoder; entry sizes, both stored header checksums, and
    // the budgeted shard prefix-sum are each priced closed-form by the
    // oracle (512-byte framing, octal fields, checksum = name ord sum
    // + padded octal-size ord sum + fixed-field constant 2509).
    "wds" -> ((s, d) => {
      import s.implicits._
      // persisted: the encode map feeds BOTH the packer and the final
      // join — unpersisted it would run the ustar encodes twice per doc
      val meta = graft.CacheScope.persistTracked(
        Tables.documents(s, d).select(col("doc_id")).as[Long]
        .map { id =>
          val key = f"$id%06d"
          val txt = Array.fill[Byte]((id % 700 + 1).toInt)('a'.toByte)
          val js = s"""{"id":$id}""".getBytes("UTF-8")
          val e1 = graft.sources.WebDataset.encodeEntry(s"$key.txt", txt)
          val e2 = graft.sources.WebDataset.encodeEntry(s"$key.json", js)
          (id, key, e1.length.toLong, e2.length.toLong,
            graft.sources.WebDataset.headerChecksum(e1),
            graft.sources.WebDataset.headerChecksum(e2))
        }
        .toDF("doc_id", "key", "txt_entry", "js_entry", "cks_txt", "cks_js"))
      val packed = Packing.packSequences(meta, col("doc_id"),
          col("txt_entry") + col("js_entry"), budget = 65536)
        .select(col("doc_id"), col("start_off"),
          col("first_bin").as("shard"))
      meta.join(packed, "doc_id").orderBy("doc_id")
    }),

    // EPOCH SHARD LAYOUT: the seeded permutation feeding the packer —
    // documents concatenate in hash(seed,id) order, so first_bin is
    // each doc's trainer shard for THIS epoch; a different seed
    // (epoch1 here vs ps's epoch0) is a fresh layout with zero state.
    "pe" -> ((s, d) => {
      val toks = TextAnalysis
        .tokenStats(Tables.documents(s, d), col("text"), col("doc_id"))
        .select(col("doc_id"), col("n_tokens"))
      Packing.epochLayout(toks, col("doc_id"), col("n_tokens"),
          seed = "epoch1", budget = 512)
        .orderBy("ord")
    }),

    "pl" -> ((s, d) => {
      val toks = TextAnalysis
        .tokenStats(Tables.documents(s, d), col("text"), col("doc_id"))
        .select(col("doc_id"), col("n_tokens"))
      Packing.binSlices(
          Packing.packSequences(toks, col("doc_id"), col("n_tokens"),
            budget = 512),
          budget = 512)
        .orderBy("bin", "bin_off")
    }),

    // The Unigram stored-artifact boundary: encodeStored against the
    // uniModelFor closed-form model (costs 51/53/57 qb — see the
    // builder's comment) over a synthesized per-doc word sequence. The
    // oracle states each word's Viterbi outcome verbatim: one-piece
    // wins for trained words ([▁, bc]), two known single-cp pieces for
    // the unseen composition "cb", byte fallback for "zq" ('z' = 122,
    // 'q' = 113 — byte-symbol ids ARE their byte values, the vocab
    // sorts them first). Ids: b=256 bc=257 c=258 d=259 de=260 e=261
    // f=262 fg=263 g=264 ▁=265.
    "ua" -> ((s, d) => {
      val scored = Tables.documents(s, d).select(col("doc_id"), expr(
        "array_join(transform(sequence(0, CAST(4 + doc_id % 5 AS INT)), " +
          "i -> element_at(array('bc','de','fg','cb','zq'), " +
          "CAST((i + doc_id) % 5 AS INT) + 1)), ' ')").as("text"))
      Unigram.encodeStored(scored, col("doc_id"), col("text"),
          uniModelFor(s, d))
        .select(col("doc_id"), col("n_tokens"),
          expr("aggregate(zip_with(input_ids, " +
            "sequence(1, size(input_ids)), " +
            "(x, k) -> x * CAST(k AS BIGINT)), 0L, (a, v) -> a + v)")
            .as("ids_fp"),
          expr("CAST(size(filter(input_ids, " +
            "x -> x <= 255)) AS BIGINT)").as("n_fallback"))
        .orderBy("doc_id")
    }),

    // The WordPiece stored-artifact boundary: encodeStored against the
    // wpModelFor closed-form model. Sorted vocab is a constant —
    // ##c=0 ##e=1 ##g=2 [UNK]=3 b=4 bc=5 d=6 de=7 f=8 fg=9 — so the
    // oracle states each word's greedy outcome verbatim: [bc]=[5],
    // [de]=[7], [fg]=[9], 'bce' exercises the continuation path
    // ([bc,##e]=[5,1]), and 'zq' the whole-word [UNK] collapse ([3]).
    "wa" -> ((s, d) => {
      val scored = Tables.documents(s, d).select(col("doc_id"), expr(
        "array_join(transform(sequence(0, CAST(4 + doc_id % 5 AS INT)), " +
          "i -> element_at(array('bc','de','fg','bce','zq'), " +
          "CAST((i + doc_id) % 5 AS INT) + 1)), ' ')").as("text"))
      WordPiece.encodeStored(scored, col("doc_id"), col("text"),
          wpModelFor(s, d))
        .select(col("doc_id"), col("n_tokens"),
          expr("aggregate(zip_with(input_ids, " +
            "sequence(1, size(input_ids)), " +
            "(x, k) -> x * CAST(k AS BIGINT)), 0L, (a, v) -> a + v)")
            .as("ids_fp"),
          expr("CAST(size(filter(input_ids, x -> x = 3)) AS BIGINT)")
            .as("n_unk"))
        .orderBy("doc_id")
    }),

    // The curation→tokenize SEAM end to end: the sentence chunks ride
    // the prefix-sum packer as first-class sequences — chunk id on the
    // 2^20 wide stride (the keyframeCodes convention; chunk_idx is
    // bounded by n_words/stride, so the stride holds to 25M-word
    // documents), word counts as the token proxy, 64-word bins.
    "pd" -> ((s, d) => {
      val chunks = Curation.chunkBySentences(sentDocs(Tables.documents(s, d)),
          col("text"), col("doc_id"), sizeWords = 32, strideWords = 24)
        .select(expr("doc_id * 1048576 + chunk_idx").as("chunk_id"),
          col("n_words"))
      Packing.packSequences(chunks, col("chunk_id"), col("n_words"),
          budget = 64)
        .orderBy("doc_id")
    }),
  )

  /** The pb/pm BFD fixture: doc count clamped to a multiple of 16,
    * lengths 60/30/25/10 by doc_id % 4 at budget 100 — each class
    * equally sized with n % 4 = 0, so the BFD outcome is closed-form
    * (n bins of 60+30+10 + n/4 bins of 4×25, zero pad). */
  private def bfdFixture(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d).select(col("doc_id"))
    // eager count kept deliberately (r22): folding the 16-multiple
    // bound into a broadcast-scalar crossJoin doubled pm/pb (the
    // literal `doc_id < m` filter is load-bearing — as a join output
    // the fixture loses the pushable predicate and every downstream
    // re-read of the unpersisted fixture re-pays the join)
    val m = docs.count() / 16 * 16
    docs.where(col("doc_id") < m)
      .withColumn("len",
        when(col("doc_id") % 4 === 0, 60L)
          .when(col("doc_id") % 4 === 1, 30L)
          .when(col("doc_id") % 4 === 2, 25L).otherwise(10L))
  }

  val oracles: Map[String, String] = Map(

    // capPerGroup's seeded-hash rank, with the IVF cell as the group
    "sl" -> (CellsCte + s""", ranked AS (
  SELECT vid, cid,
         row_number() OVER (PARTITION BY cid
           ORDER BY ${h60("'cell0:' || CAST(vid AS VARCHAR)")} ASC, vid ASC) AS rn
  FROM cq)
SELECT vid AS vec_id, cid FROM ranked WHERE rn <= 25 ORDER BY vec_id"""),

    "pc" -> (s"""WITH w AS (
  SELECT doc_id, text,
         string_split_regex(trim(lower(text)), ' +') AS words
  FROM documents
), q AS (
  SELECT doc_id FROM w
  WHERE length(text) >= 20 AND len(words) >= 25
    AND list_max(list_transform(words, x -> length(x))) <= 40
    AND len(list_distinct(words)) * 1000 // len(words) >= 400
), k AS (
  SELECT min(doc_id) AS doc_id FROM documents GROUP BY md5(text)
), sp AS (
  SELECT doc_id,
       CASE WHEN ${h60("CAST(doc_id AS VARCHAR)")} % 1000000 < 50000 THEN 'val'
            WHEN ${h60("CAST(doc_id AS VARCHAR)")} % 1000000 < 100000 THEN 'test'
            ELSE 'train' END AS split
  FROM documents
)
SELECT d.doc_id, sp.split
FROM documents d
JOIN q ON d.doc_id = q.doc_id
JOIN k ON d.doc_id = k.doc_id
JOIN sp ON d.doc_id = sp.doc_id
ORDER BY d.doc_id"""),

    "sp" -> (s"""
SELECT doc_id,
       CASE WHEN ${h60("CAST(doc_id AS VARCHAR)")} % 1000000 < 50000 THEN 'val'
            WHEN ${h60("CAST(doc_id AS VARCHAR)")} % 1000000 < 100000 THEN 'test'
            ELSE 'train' END AS split
FROM documents ORDER BY doc_id"""),

    "sw" -> (s"""
SELECT doc_id FROM documents
WHERE ${h60("'wt0:' || CAST(doc_id AS VARCHAR)")} % 1000000
      < least(greatest(n_chars * 2000, 0), 1000000)
ORDER BY doc_id"""),

    // Mirror of temperatureMix: per-language counts, sqrt smoothing,
    // derived ppm rates, the same seeded hash thinning.
    "st" -> (s"""WITH c AS (
  SELECT lang, count(*) AS n FROM documents GROUP BY 1
), s AS (
  SELECT lang, n, CAST(floor(sqrt(n)) AS BIGINT) AS sg FROM c
), t AS (SELECT sum(sg) AS st FROM s),
r AS (
  SELECT lang, least(1000000, 200 * sg * 1000000 // (t.st * n)) AS rate
  FROM s CROSS JOIN t
)
SELECT d.doc_id, d.lang
FROM documents d JOIN r USING (lang)
WHERE ${h60("'temp0:' || CAST(doc_id AS VARCHAR)")} % 1000000 < r.rate
ORDER BY doc_id"""),

    // whole copies = rate // 1e6; the fractional copy lands iff the
    // seeded hash is under rate % 1e6 — identical arithmetic, no RNG
    "sr" -> (s"""WITH f AS (
  SELECT doc_id, (doc_id % 3) * 900000 + 400000 AS rate FROM documents
), c AS (
  SELECT doc_id,
         rate // 1000000 +
         CASE WHEN ${h60("'rep0:' || CAST(doc_id AS VARCHAR)")} % 1000000
                   < rate % 1000000 THEN 1 ELSE 0 END AS n
  FROM f
)
SELECT doc_id, CAST(i AS BIGINT) AS copy_idx
FROM (SELECT doc_id, unnest(range(0, n)) AS i FROM c WHERE n > 0)
ORDER BY doc_id, copy_idx"""),

    // pipe_curation's gates as cumulative per-stage counts
    "pf" -> (s"""WITH w AS (
  SELECT doc_id, text,
         string_split_regex(trim(lower(text)), ' +') AS words
  FROM documents
), f AS (
  SELECT d.doc_id,
         (length(d.text) >= 20 AND len(w.words) >= 25
           AND list_max(list_transform(w.words, x -> length(x))) <= 40
           AND len(list_distinct(w.words)) * 1000 // len(w.words) >= 400)
           AS q,
         d.doc_id IN (SELECT min(doc_id) FROM documents GROUP BY md5(text))
           AS k,
         ${h60("CAST(d.doc_id AS VARCHAR)")} % 1000000 >= 100000 AS tr
  FROM documents d JOIN w ON d.doc_id = w.doc_id
)
SELECT stage, n_docs FROM (
  SELECT '0_total' AS stage, CAST(count(*) AS BIGINT) AS n_docs FROM f
  UNION ALL
  SELECT '1_quality', CAST(sum(CASE WHEN q THEN 1 ELSE 0 END) AS BIGINT) FROM f
  UNION ALL
  SELECT '2_dedup', CAST(sum(CASE WHEN q AND k THEN 1 ELSE 0 END) AS BIGINT) FROM f
  UNION ALL
  SELECT '3_train', CAST(sum(CASE WHEN q AND k AND tr THEN 1 ELSE 0 END) AS BIGINT) FROM f
) ORDER BY stage"""),

    "ss" -> (s"""
SELECT event_id, event_type
FROM events
WHERE ${h60("CAST(event_id AS VARCHAR)")} % 1000000 <
      CASE event_type WHEN 'view' THEN 100000 WHEN 'click' THEN 500000
           WHEN 'purchase' THEN 1000000 ELSE 0 END
ORDER BY event_id"""),

    "sc" -> (s"""
SELECT doc_id, lang FROM (
  SELECT doc_id, lang,
         row_number() OVER (PARTITION BY lang
           ORDER BY ${h60("'cap0:' || CAST(doc_id AS VARCHAR)")}, doc_id) AS rn
  FROM documents)
WHERE rn <= 40 ORDER BY doc_id"""),

    "sm" -> (s"""
WITH c AS (SELECT lang, count(*) AS n FROM documents GROUP BY 1),
r AS (
  SELECT lang, least(1000000,
    CASE lang WHEN 'en' THEN 200000 WHEN 'fr' THEN 400000
         WHEN 'de' THEN 200000 WHEN 'zh' THEN 200000 ELSE 0 END
      * 300 // n) AS rate
  FROM c
)
SELECT doc_id, lang FROM documents JOIN r USING (lang)
WHERE ${h60("'mix0:' || CAST(doc_id AS VARCHAR)")} % 1000000 < rate
ORDER BY doc_id"""),

    // Mirror of epochPlan: HUGEINT integral arithmetic in the same
    // order as the Spark side's DECIMAL(38,0) (desired tokens, raw
    // rate, ceiling, planned tokens).
    "se" -> ("""WITH g AS (
  SELECT lang AS grp, CAST(sum(n_chars) AS HUGEINT) AS mass,
         CAST(count(*) AS BIGINT) AS n_docs
  FROM documents GROUP BY 1
), w AS (
  SELECT grp, mass, n_docs,
    CASE grp WHEN 'en' THEN 500000 WHEN 'fr' THEN 200000
         WHEN 'de' THEN 200000 WHEN 'zh' THEN 100000 ELSE 0 END
      AS target_ppm
  FROM g
), r AS (
  SELECT grp, mass, n_docs, target_ppm,
    CASE WHEN target_ppm <= 0 OR mass <= 0 THEN 0::HUGEINT
         ELSE (CAST(target_ppm AS HUGEINT) * 1000000 // 1000000)
              * 1000000 // mass END AS raw
  FROM w
)
SELECT grp, CAST(mass AS BIGINT) AS mass, n_docs,
       CAST(target_ppm AS BIGINT) AS target_ppm,
       CAST(least(8000000::HUGEINT, raw) AS BIGINT) AS rate_ppm,
       CAST(mass * least(8000000::HUGEINT, raw) // 1000000 AS BIGINT)
         AS planned_tokens,
       raw > 8000000 AS capped
FROM r ORDER BY grp"""),

    // Mirror of pb: the BFD outcome stated closed-form from the class
    // count n (n bins of 60+30+10 + n/4 bins of 4×25; n % 4 = 0 by the
    // multiple-of-16 clamp), the splitting packer's stats re-derived
    // per doc from the id-order prefix arithmetic (start = 125·(id//4)
    // + the intra-cycle offset) — no packing simulation on either side.
    "pb" -> ("""WITH p AS (
  SELECT count(*) // 16 * 16 AS m, count(*) // 16 * 4 AS n FROM documents
), d AS (
  SELECT doc_id,
         CASE doc_id % 4 WHEN 0 THEN 60 WHEN 1 THEN 30
                         WHEN 2 THEN 25 ELSE 10 END AS len,
         125 * (doc_id // 4) +
         CASE doc_id % 4 WHEN 0 THEN 0 WHEN 1 THEN 60
                         WHEN 2 THEN 90 ELSE 115 END AS st
  FROM documents, p WHERE doc_id < m
), seq AS (
  SELECT coalesce((max(st + len) + 99) // 100, 0) AS n_bins,
         coalesce(sum(len), 0) AS tok,
         coalesce(sum(CASE WHEN st // 100 != (st + len - 1) // 100
                  THEN 1 ELSE 0 END), 0) AS split_docs
  FROM d
)
SELECT 'atomic_bfd' AS packer,
       CAST(n + n // 4 AS BIGINT) AS n_bins,
       CAST((n + n // 4) * 100 - 125 * n AS BIGINT) AS pad_tokens,
       CAST(0 AS BIGINT) AS split_docs
FROM p
UNION ALL
SELECT 'split_seq', CAST(n_bins AS BIGINT),
       CAST(n_bins * 100 - tok AS BIGINT), CAST(split_docs AS BIGINT)
FROM seq
ORDER BY packer"""),

    // Mirror of pm: every atomic window re-derived from the BFD
    // outcome's closed-form membership — per doc: class t = id % 4,
    // class rank r = id // 4; bin = r for the 60/30/10 classes and
    // n + r // 4 for the 25s; in-window offset 0/60/90 for the
    // 60/30/10 stack and a 25-token stride for the 25s. Fingerprints
    // in the p_a convention (Σ tid·(pos+1); Σ doc_id·(off+1)+len) —
    // materialization-blind.
    "pm" -> ("""WITH p AS (
  SELECT count(*) // 16 * 16 AS m, count(*) // 16 * 4 AS n FROM documents
), d AS (
  SELECT doc_id, doc_id % 4 AS t, doc_id // 4 AS r,
         CASE doc_id % 4 WHEN 0 THEN 60 WHEN 1 THEN 30
                         WHEN 2 THEN 25 ELSE 10 END AS len,
         CASE doc_id % 4 WHEN 2 THEN n + (doc_id // 4) // 4
                         ELSE doc_id // 4 END AS bin,
         CASE doc_id % 4 WHEN 0 THEN 0 WHEN 1 THEN 60 WHEN 3 THEN 90
                         ELSE 25 * ((doc_id // 4) % 4) END AS off
  FROM documents, p WHERE doc_id < m
), tok AS (
  SELECT bin, off + s AS pos0, doc_id * 100000 + s + 1 AS tid
  FROM (SELECT bin, doc_id, off, len, unnest(range(len)) AS s FROM d)
), ag AS (
  SELECT bin, CAST(count(*) AS BIGINT) AS n_tokens,
         CAST(sum(tid * (pos0 + 1)) AS BIGINT) AS ids_fp
  FROM tok GROUP BY bin
), sp AS (
  SELECT bin, CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(doc_id * (off + 1) + len) AS BIGINT) AS spans_fp
  FROM d GROUP BY bin
)
SELECT ag.bin, ag.n_tokens, CAST(100 - ag.n_tokens AS BIGINT) AS n_pad,
       sp.n_docs, ag.ids_fp, sp.spans_fp
FROM ag JOIN sp USING (bin) ORDER BY bin"""),

    "po" -> (s"""WITH t AS (
  SELECT doc_id,
         CAST(len(regexp_extract_all(text, '$TokRe')) AS BIGINT) AS n_tokens
  FROM documents
), c AS (
  SELECT doc_id, n_tokens,
         CAST(SUM(n_tokens) OVER (ORDER BY doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
           AS end_off
  FROM t WHERE n_tokens > 0
)
SELECT doc_id, n_tokens,
       end_off - n_tokens AS start_off,
       end_off,
       (end_off - n_tokens) // 512 AS first_bin,
       (end_off - 1) // 512 AS last_bin,
       (end_off - 1) // 512 - (end_off - n_tokens) // 512 + 1 AS n_bins
FROM c ORDER BY doc_id"""),

    "pl" -> (s"""WITH t AS (
  SELECT doc_id,
         CAST(len(regexp_extract_all(text, '$TokRe')) AS BIGINT) AS n_tokens
  FROM documents
), c AS (
  SELECT doc_id, n_tokens,
         CAST(SUM(n_tokens) OVER (ORDER BY doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
           AS end_off
  FROM t WHERE n_tokens > 0
), p AS (
  SELECT doc_id, end_off - n_tokens AS start_off, end_off,
         (end_off - n_tokens) // 512 AS first_bin,
         (end_off - 1) // 512 AS last_bin
  FROM c
), e AS (
  SELECT doc_id, start_off, end_off,
         unnest(range(first_bin, last_bin + 1)) AS bin
  FROM p
)
SELECT bin, doc_id,
       greatest(start_off, bin * 512) - start_off AS doc_off,
       greatest(start_off, bin * 512) - bin * 512 AS bin_off,
       least(end_off, (bin + 1) * 512) - greatest(start_off, bin * 512) AS len
FROM e ORDER BY bin, bin_off"""),

    // Mirror of materializeBins over the pl slice arithmetic: every
    // token id re-derived as doc_id·10⁵ + doc_off + s + 1 at window
    // position bin_off + s, fingerprinted with the same positional
    // weights as the Spark side's padded array (pad id 0 contributes
    // nothing).
    "pa" -> (s"""WITH t AS (
  SELECT doc_id,
         CAST(len(regexp_extract_all(text, '$TokRe')) AS BIGINT) AS n_tokens
  FROM documents
), c AS (
  SELECT doc_id, n_tokens,
         CAST(SUM(n_tokens) OVER (ORDER BY doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
           AS end_off
  FROM t WHERE n_tokens > 0
), p AS (
  SELECT doc_id, end_off - n_tokens AS start_off, end_off,
         (end_off - n_tokens) // 512 AS first_bin,
         (end_off - 1) // 512 AS last_bin
  FROM c
), e AS (
  SELECT doc_id, start_off, end_off,
         unnest(range(first_bin, last_bin + 1)) AS bin
  FROM p
), sl AS (
  SELECT bin, doc_id,
         greatest(start_off, bin * 512) - start_off AS doc_off,
         greatest(start_off, bin * 512) - bin * 512 AS bin_off,
         least(end_off, (bin + 1) * 512) - greatest(start_off, bin * 512)
           AS len
  FROM e
), tok AS (
  SELECT bin, bin_off + s AS pos0,
         doc_id * 100000 + doc_off + s + 1 AS tid
  FROM (SELECT bin, doc_id, doc_off, bin_off, len,
          unnest(range(len)) AS s FROM sl)
), ag AS (
  SELECT bin, CAST(count(*) AS BIGINT) AS n_tokens,
         CAST(sum(tid * (pos0 + 1)) AS BIGINT) AS ids_fp
  FROM tok GROUP BY bin
), sp AS (
  SELECT bin, CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(doc_id * (bin_off + 1) + len) AS BIGINT) AS spans_fp
  FROM sl GROUP BY bin
)
SELECT ag.bin, ag.n_tokens, CAST(512 - ag.n_tokens AS BIGINT) AS n_pad,
       sp.n_docs, ag.ids_fp, sp.spans_fp
FROM ag JOIN sp USING (bin) ORDER BY bin"""),

    "ps" -> (s"""WITH t AS (
  SELECT doc_id,
         ${h60("'epoch0:' || CAST(doc_id AS VARCHAR)")} AS h
  FROM documents
)
SELECT doc_id, h,
       CAST(ROW_NUMBER() OVER (ORDER BY h, doc_id) AS BIGINT) - 1 AS ord
FROM t ORDER BY doc_id"""),

    // The ustar framing stated closed-form: entry = 512-byte header +
    // payload padded to a block; the stored checksum is the ord sum of
    // the name, the zero-padded 11-digit octal size, and the fixed
    // fields (mode 0000644 -> 350, uid/gid 336 each, mtime 528, the
    // 8 checksum-as-spaces 256, typeflag 48, "ustar\\0" 559, version
    // 96 -> constant 2509); shards are 65536-byte prefix-sum bins.
    "wds" -> ("""WITH m AS (
  -- printf, not lpad: lpad TRUNCATES past 6 digits while the Spark
  -- side's %06d widens — the row must stay exact at any corpus size
  SELECT doc_id, printf('%06d', doc_id) AS key,
         doc_id % 700 + 1 AS s1,
         7 + length(CAST(doc_id AS VARCHAR)) AS s2
  FROM documents
), e AS (
  SELECT doc_id, key,
         CAST(512 + (s1 + 511) // 512 * 512 AS BIGINT) AS txt_entry,
         CAST(512 + (s2 + 511) // 512 * 512 AS BIGINT) AS js_entry,
         key || '.txt' AS n1, key || '.json' AS n2,
         to_base(s1, 8) AS o1, to_base(s2, 8) AS o2
  FROM m
), k AS (
  SELECT doc_id, key, txt_entry, js_entry,
         CAST(2509
           + list_sum(list_transform(range(length(n1)),
               i -> ord(substring(n1, CAST(i+1 AS INT), 1))))
           + 48 * (11 - length(o1))
           + list_sum(list_transform(range(length(o1)),
               i -> ord(substring(o1, CAST(i+1 AS INT), 1))))
           AS BIGINT) AS cks_txt,
         CAST(2509
           + list_sum(list_transform(range(length(n2)),
               i -> ord(substring(n2, CAST(i+1 AS INT), 1))))
           + 48 * (11 - length(o2))
           + list_sum(list_transform(range(length(o2)),
               i -> ord(substring(o2, CAST(i+1 AS INT), 1))))
           AS BIGINT) AS cks_js
  FROM e
), c AS (
  SELECT doc_id, key, txt_entry, js_entry, cks_txt, cks_js,
         CAST(SUM(txt_entry + js_entry) OVER (ORDER BY doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
           AS end_off
  FROM k
)
SELECT doc_id, key, txt_entry, js_entry, cks_txt, cks_js,
       end_off - txt_entry - js_entry AS start_off,
       (end_off - txt_entry - js_entry) // 65536 AS shard
FROM c ORDER BY doc_id"""),

    // p_s's packing arithmetic over the EPOCH order: ordinals from the
    // seeded hash permutation (ps's closed form at seed epoch1),
    // prefix sums over ord instead of doc_id.
    "pe" -> (s"""WITH t AS (
  SELECT doc_id,
         CAST(len(regexp_extract_all(text, '$TokRe')) AS BIGINT) AS n_tokens
  FROM documents
), hh AS (
  SELECT doc_id,
         ${h60("'epoch1:' || CAST(doc_id AS VARCHAR)")} AS h
  FROM documents
), o AS (
  SELECT doc_id,
         CAST(ROW_NUMBER() OVER (ORDER BY h, doc_id) AS BIGINT) - 1 AS ord
  FROM hh
), c AS (
  SELECT t.doc_id, o.ord, t.n_tokens,
         CAST(SUM(t.n_tokens) OVER (ORDER BY o.ord
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
           AS end_off
  FROM t JOIN o USING (doc_id) WHERE t.n_tokens > 0
)
SELECT doc_id, ord, n_tokens,
       end_off - n_tokens AS start_off,
       end_off,
       (end_off - n_tokens) // 512 AS first_bin,
       (end_off - 1) // 512 AS last_bin,
       (end_off - 1) // 512 - (end_off - n_tokens) // 512 + 1 AS n_bins
FROM c ORDER BY ord"""),

    // Mirror of the una row: the uniModelFor vocab pins every id (byte
    // symbols at 0..255, learned pieces b..g at 256..264, ▁ at 265);
    // each synthesized word's Viterbi outcome is stated verbatim (the
    // bpe convention — see the builder's closed-form cost argument).
    "ua" -> ("""WITH d AS (SELECT doc_id FROM documents),
wseq AS (
  SELECT doc_id, i, CASE CAST((i + doc_id) % 5 AS INT)
    WHEN 0 THEN [265, 257] WHEN 1 THEN [265, 260]
    WHEN 2 THEN [265, 263] WHEN 3 THEN [265, 258, 256]
    ELSE [265, 122, 113] END AS ids
  FROM (SELECT doc_id, unnest(range(5 + doc_id % 5)) AS i FROM d)
), tok AS (
  SELECT doc_id, i, j, ids[j+1] AS id
  FROM (SELECT doc_id, i, ids, unnest(range(len(ids))) AS j FROM wseq)
), pos AS (
  SELECT doc_id, id,
    row_number() OVER (PARTITION BY doc_id ORDER BY i, j) AS k
  FROM tok
)
SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
       CAST(sum(id * k) AS BIGINT) AS ids_fp,
       CAST(sum(CASE WHEN id <= 255 THEN 1 ELSE 0 END)
         AS BIGINT) AS n_fallback
FROM pos GROUP BY doc_id ORDER BY doc_id"""),

    // Mirror of the wpa row: wpModelFor's sorted vocab pins the ids
    // (##c=0 ##e=1 ##g=2 [UNK]=3 b=4 bc=5 d=6 de=7 f=8 fg=9); each
    // word's greedy longest-match outcome is stated verbatim.
    "wa" -> ("""WITH d AS (SELECT doc_id FROM documents),
wseq AS (
  SELECT doc_id, i, CASE CAST((i + doc_id) % 5 AS INT)
    WHEN 0 THEN [5] WHEN 1 THEN [7] WHEN 2 THEN [9]
    WHEN 3 THEN [5, 1] ELSE [3] END AS ids
  FROM (SELECT doc_id, unnest(range(5 + doc_id % 5)) AS i FROM d)
), tok AS (
  SELECT doc_id, i, j, ids[j+1] AS id
  FROM (SELECT doc_id, i, ids, unnest(range(len(ids))) AS j FROM wseq)
), pos AS (
  SELECT doc_id, id,
    row_number() OVER (PARTITION BY doc_id ORDER BY i, j) AS k
  FROM tok
)
SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
       CAST(sum(id * k) AS BIGINT) AS ids_fp,
       CAST(sum(CASE WHEN id = 3 THEN 1 ELSE 0 END)
         AS BIGINT) AS n_unk
FROM pos GROUP BY doc_id ORDER BY doc_id"""),

    // The curation→tokenize SEAM end to end: cks's sentence chunks
    // (wide-stride chunk ids, the keyframeCodes convention) priced
    // through p_s's prefix-sum packer at a 64-word budget.
    "pd" -> (SentChunksCte + """, ck AS (
  SELECT doc_id * 1048576 + ci AS chunk_id, CAST(sum(c) AS BIGINT) AS nw
  FROM x GROUP BY doc_id, ci
), cc AS (
  SELECT chunk_id, nw,
         CAST(SUM(nw) OVER (ORDER BY chunk_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
           AS end_off
  FROM ck WHERE nw > 0
)
SELECT chunk_id AS doc_id, nw AS n_tokens,
       end_off - nw AS start_off, end_off,
       (end_off - nw) // 64 AS first_bin,
       (end_off - 1) // 64 AS last_bin,
       (end_off - 1) // 64 - (end_off - nw) // 64 + 1 AS n_bins
FROM cc ORDER BY doc_id"""),
  )
}
