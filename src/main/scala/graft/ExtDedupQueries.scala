package graft

import org.apache.spark.sql.functions._
import graft.ext.{Chat, Curation, Dedup, Sampling, Similarity, TextAnalysis}

import ExtShared._

/** Deduplication family: exact/near dedup over text, chat renders,
  * spans, prefixes and the incremental/streaming dedup matrix.
  * Entries and oracles moved verbatim from ExtQueries (round-19
  * split); [[ExtShared]] holds the dialect bridge. */
object ExtDedupQueries {

  val queries: Map[String, Q] = Map(
    "dx" -> ((s, d) =>
      Dedup.exact(Tables.documents(s, d), col("text"), col("doc_id"))
        .orderBy("content_hash")),

    "dj" -> ((s, d) =>
      Dedup.ngramJaccard(Tables.documents(s, d), col("text"), col("doc_id"),
          k = 3, minJaccard = 0.2)
        .orderBy("doc_a", "doc_b")),

    "dl" -> ((s, d) =>
      Dedup.minhashLsh(Tables.documents(s, d), col("text"), col("doc_id"),
          k = 3, numHashes = 16, bands = 4, minMatches = 4)
        .orderBy("doc_a", "doc_b")),

    // Measured LSH recall vs exact Jaccard at the dd_j/dd_l
    // parameters — the text-side ann_rec: banding quality is a number,
    // not a formula taken on faith.
    "dr" -> ((s, d) =>
      Dedup.lshRecall(Tables.documents(s, d), col("text"), col("doc_id"),
        k = 3, minJaccard = 0.2, numHashes = 16, bands = 4,
        minMatches = 4)),

    "dc" -> ((s, d) =>
      Dedup.components(Dedup.minhashLsh(Tables.documents(s, d),
          col("text"), col("doc_id"),
          k = 3, numHashes = 16, bands = 4, minMatches = 4))
        .orderBy("doc_id")),

    // The apply endpoint over the same clustering: the surviving corpus.
    "dk" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val pairs = Dedup.minhashLsh(docs, col("text"), col("doc_id"),
        k = 3, numHashes = 16, bands = 4, minMatches = 4)
      Dedup.keepRepresentatives(docs, pairs, col("doc_id"),
          expectedDups = 10000)
        .select("doc_id").orderBy("doc_id")
    }),

    // Quality-aware retention: same clusters as dd_keep, but each
    // keeps its LONGEST member (n_chars, ties to min id) — the
    // RefinedWeb/SlimPajama "don't throw away the best copy" policy.
    "db" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val pairs = Dedup.minhashLsh(docs, col("text"), col("doc_id"),
        k = 3, numHashes = 16, bands = 4, minMatches = 4)
      Dedup.keepBest(docs, pairs, col("doc_id"), col("n_chars"),
          expectedDups = 10000)
        .select("doc_id").orderBy("doc_id")
    }),

    "dh" -> ((s, d) =>
      Dedup.sharedShingleStats(Tables.documents(s, d), col("text"),
          col("doc_id"), k = 3)
        .orderBy("doc_id")),

    // DEDUP CENSUS: the per-source drop-reason rollup over five
    // composed tiers — prefix-exact, 3-shingle Jaccard near-dup,
    // embedding decontamination, canonical-URL identity, and the
    // shared-shingle repetition cut — attributed first-tier-wins so the
    // reason counts sum to n_docs. Every tier is an operator with its
    // own verified oracle row; the census row verifies the COMPOSITION.
    "cns" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val emb = Tables.embeddings(s, d)
      val pref = docs.select(col("doc_id").as("__id"),
        substring(col("text"), 1, 64).as("__pf"))
      val exactDrop = pref.join(
          pref.groupBy("__pf").agg(min("__id").as("__keep")), "__pf")
        .where(col("__id") =!= col("__keep"))
        .select(col("__id").as("ex_id"), lit(true).as("__ex"))
      // ONE shingle pass for both shingle tiers (r22): the near tier
      // (ngramJaccard) and the repetition tier (sharedShingleStats)
      // consume the identical per-doc distinct hashed-shingle stream —
      // built and persisted once, fed to both, instead of two full
      // scan + shingle + hash passes over the corpus
      val shingles = graft.CacheScope.persistTracked(
        Dedup.hashedShingles(docs, col("text"), col("doc_id"), k = 3))
      val nearDrop = Dedup.ngramJaccardFrom(shingles, minJaccard = 0.2,
          maxDocFreq = Int.MaxValue)
        .select(col("doc_b").as("nr_id")).distinct()
        .select(col("nr_id"), lit(true).as("__nr"))
      val semDrop = Similarity.decontaminate(
          emb.where(col("vec_id") % 200 =!= 0),
          emb.where(col("vec_id") % 200 === 0),
          "vec_id", "embedding", threshold = 0.3)
        .where(col("contaminated"))
        .select(col("vec_id").as("sm_id"), lit(true).as("__sm"))
      val urls = docs.select(col("doc_id").as("__id"),
        Curation.canonicalUrl(synthCrawlUrl).as("__u"))
      val urlDrop = urls.join(
          urls.groupBy("__u").agg(min("__id").as("__keep")), "__u")
        .where(col("__id") =!= col("__keep"))
        .select(col("__id").as("ur_id"), lit(true).as("__ur"))
      val spanDrop = Dedup.sharedShingleStatsFrom(shingles)
        .where(col("shared_pm") >= 500)
        .select(col("doc_id").as("sp_id"), lit(true).as("__sp"))
      val flagged = docs.select(col("doc_id"), col("source"))
        .join(exactDrop, col("doc_id") === col("ex_id"), "left")
        .join(nearDrop, col("doc_id") === col("nr_id"), "left")
        .join(semDrop, col("doc_id") === col("sm_id"), "left")
        .join(urlDrop, col("doc_id") === col("ur_id"), "left")
        .join(spanDrop, col("doc_id") === col("sp_id"), "left")
      Dedup.dedupCensus(flagged, col("source"), Seq(
          "exact" -> col("__ex"), "near" -> col("__nr"),
          "sem" -> col("__sm"), "url" -> col("__ur"),
          "span" -> col("__sp")))
        .orderBy("source")
    }),

    "sh" -> ((s, d) =>
      Dedup.simhash(Tables.documents(s, d), col("text"), col("doc_id"))
        .orderBy("doc_id")),

    // threshold 0.35, not a deployment's 0.9+: the synthetic embeddings
    // carry no true near-dups (max same-cell cosine ≈ 0.49 at every SF),
    // so a realistic threshold would make the row vacuous — at 0.35 the
    // keep-first rule actually drops 86/84/551 docs at
    // sf0.001/0.01/0.1 (checked in DuckDB) and the compare exercises
    // the full cell-blocked pair search
    "sdd" -> ((s, d) =>
      Similarity.semDedup(Tables.embeddings(s, d), "vec_id", "embedding",
          threshold = 0.35)
        .orderBy("vec_id")),

    "kv" -> ((s, d) =>
      Tables.events(s, d).groupBy("event_type")
        .agg(graft.functions.KMV.distinctEst(
          graft.ext.Text.hash60(col("user_id").cast("string")), 64)
          .as("distinct_est"))
        .orderBy("event_type")),

    // Count-Min frequency estimates for ten probe users from ONE global
    // 4×256 sketch over all events — the mergeable heavy-hitter path
    // (the shuffle moves one sketch per partition, never keys). The
    // probed cells are plan-time constants; the oracle rebuilds the
    // identical counters cell by cell.
    "cms" -> ((s, d) => {
      import graft.functions.CountMin
      val sk = Tables.events(s, d)
        .agg(CountMin.sketch(col("user_id").cast("string"), depth = 4,
          width = 256).as("sk"))
      val probes = (0 until 10).map { k =>
        struct(lit(k.toString).as("user_id"),
          CountMin.estimate(col("sk"), k.toString, 4, 256).as("est_count"))
      }
      sk.select(explode(array(probes: _*)).as("p"))
        .select(col("p.user_id"), col("p.est_count"))
        .orderBy("user_id")
    }),

    "scs" -> ((s, d) =>
      TextAnalysis.sourceStats(Tables.documents(s, d), col("source"),
        col("text"), col("lang"), col("doc_id")).orderBy("source")),

    "dpx" -> ((s, d) =>
      Dedup.prefixDups(Tables.documents(s, d), col("text"), col("doc_id"),
        n = 64).orderBy("doc_id")),

    // Cross-source shingle-overlap census: distinct-3-shingle Jaccard
    // for every observed source pair — the between-dumps overlap
    // report a mixture designer reads before weighting sources.
    "sco" -> ((s, d) =>
      Dedup.sourceOverlap(Tables.documents(s, d), col("text"),
          col("source"))
        .orderBy("src_a", "src_b")),

    // NEAR-dup incremental dedup against the STORED LSH history index
    // (dd_incr's exact tier one level up): the fresh batch probes only
    // its own bucket-group partitions of the index built from the
    // history slice, and near_history tags docs matching >= 8 of 16
    // signature rows with any indexed doc.
    "dz" -> ((s, d) =>
      Dedup.tagNearLshIndex(
          Tables.documents(s, d).where(col("doc_id") % 10 >= 8),
          col("text"), col("doc_id"), lshIndexFor(s, d))
        .select("doc_id", "near_history").orderBy("doc_id")),

    // New-vs-history incremental dedup: docs with doc_id % 10 >= 8 play
    // the fresh crawl batch, the rest the accumulated corpus.
    "di" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      Dedup.newAgainst(
        docs.where(col("doc_id") % 10 < 8),
        docs.where(col("doc_id") % 10 >= 8),
        col("text"), col("doc_id"), expectedHistory = 10000)
        .orderBy("doc_id")
    }),

    // PAIR-LEVEL dedup for the multimodal corpus (VERDICT r19 #6):
    // the dedup matrix over imagePairs-shaped rows. Fixture pairs:
    // one per document, image groups of 4 (doc_id div 4) and caption
    // groups of 8 (doc_id div 8) — captions "a nice photo of item G
    // v V" share exactly the shingles {of item G, item G v} within a
    // caption group once the maxDocFreq=8 cap drops the three
    // corpus-wide template shingles (df = n), so every intra-group
    // pair prices to inter=2 / union=4 / jaccard=0.5 closed-form,
    // cross-group pairs share nothing, and same_image bites both
    // ways (half of each caption group straddles two image groups).
    // A bug in the cap, the shingle join, the struct pair key, or
    // the url flag join breaks the row.
    "md" -> ((s, d) => {
      val pairs = Tables.documents(s, d).select(
        col("doc_id"), lit(0L).as("ref_idx"),
        concat(lit("cdn.ex.com/im"),
          expr("doc_id div 4").cast("string")).as("canonical_url"),
        concat(lit("a nice photo of item "),
          expr("doc_id div 8").cast("string"), lit(" v "),
          (col("doc_id") % 8).cast("string")).as("caption"))
      Curation.dedupPairs(pairs, k = 3, minJaccard = 0.5, maxDocFreq = 8)
        .orderBy("doc_a", "doc_b")
    }),

    // CONVERSATION-LEVEL DEDUP: the SFT set gets the same dedup matrix
    // as pretraining text — public pipelines dedup on the flattened
    // render, so Chat.render feeds Dedup.ngramJaccard (near tier) and
    // the render fingerprint marks the exact tier on each pair.
    "cdd" -> ((s, d) => {
      val conv = synthChatDupConv(Tables.documents(s, d))
      val r = Chat.render(conv, col("conv"), col("doc_id"))
      // persisted: fp's lineage (JSON synthesis -> parse -> render ->
      // md5 over every document) is joined TWICE below (fa and fb)
      val fp = graft.CacheScope.persistTracked(
        Chat.stats(conv, col("conv"), col("doc_id"))
          .select(col("doc_id"), col("render_fp")))
      // maxDocFreq: chat templates make stop-shingles the RULE, not the
      // exception — every rendered conversation shares the template's
      // boilerplate runs, and an uncapped shingle join goes quadratic
      // across the whole corpus (measured: 20 s vs 1 s at sf0.1)
      Dedup.ngramJaccard(r, col("text"), col("doc_id"), minJaccard = 0.5,
          maxDocFreq = 8)
        .join(fp.as("fa"), col("doc_a") === col("fa.doc_id"))
        .join(fp.as("fb"), col("doc_b") === col("fb.doc_id"))
        .select(col("doc_a"), col("doc_b"), col("inter"), col("union_n"),
          col("jaccard"),
          (col("fa.render_fp") === col("fb.render_fp")).as("exact"))
        .orderBy("doc_a", "doc_b")
    }),

    // SFT EVAL DECONTAMINATION — the seat the chat wave left open
    // (VERDICT r16 #3): an SFT set priced against an eval sliver the
    // way pretraining text is. Rendered conversations (the exact text
    // the tokenizer sees) ride ngramContamination with the planted
    // val/test split; maxDocFreq = 8 because chat templates are
    // boilerplate by construction (the chat_dd lesson) — without the
    // stop-shingle cap every eval conversation "leaks" through the
    // template's shared runs and the probe join concentrates on
    // corpus-wide hot keys. Groups of 4 consecutive ids share topic
    // shingles, so groups straddling the hash split carry real signal.
    "cdc" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val r = Chat.render(synthChatDupConv(docs), col("conv"), col("doc_id"))
      Dedup.ngramContamination(r, col("text"), col("doc_id"),
          Sampling.split(docs, col("doc_id")).select("doc_id", "split"),
          maxDocFreq = 8)
        .orderBy("doc_id")
    }),

    // C4-style line dedup over CONSTRUCTED multi-line text — the fixture
    // corpus has no newlines, so the row wraps each document's words into
    // 4-word lines first (the encode-then-run pattern of b5_deep /
    // cis2_decode); ~340 lines are shared across documents at both
    // test scales, so the filter actually discriminates.
    "dn" -> ((s, d) =>
      Curation.dedupLines(linedDocs(Tables.documents(s, d)),
          col("text"), col("doc_id"))
        .orderBy("doc_id")),

    // Dolma-style PARAGRAPH dedup: multi-line paragraphs (two 3-word
    // lines each, '\n\n'-joined), with a shared two-line footer
    // paragraph appended to even ids so a multi-line block repeats
    // across half the corpus — the case line-level dedup shreds and
    // paragraph-level dedup drops as a unit.
    "dp" -> ((s, d) =>
      Curation.dedupParagraphs(paraDocs(Tables.documents(s, d)),
          col("text"), col("doc_id"))
        .orderBy("doc_id")),

    // The WITHIN-document half of the paragraph pass: every third doc
    // re-appends its own first paragraph (the scraper double-render),
    // and the keep-first-occurrence projection drops the repeat while
    // cross-document sharing is deliberately left alone.
    "dw" -> ((s, d) => {
      val docs = paraDocs(Tables.documents(s, d))
      val withDup = docs.withColumn("text",
        when(col("doc_id") % 3 === 0,
          concat(col("text"), lit("\n\n"),
            element_at(split(col("text"), "\n\n"), 1)))
          .otherwise(col("text")))
      Curation.dedupWithinDoc(withDup, col("text"), col("doc_id"))
        .orderBy("doc_id")
    }),

    // Exact-substring duplicate spans over the REAL corpus text: 5-word
    // windows occurring >= 2 times corpus-wide (~1100 duplicated windows
    // at sf0.01), merged into maximal per-document spans.
    "dsp" -> ((s, d) =>
      Curation.duplicateSpans(Tables.documents(s, d), col("text"),
          col("doc_id"), k = 5, minCount = 2)
        .orderBy("doc_id", "span_start")),

    // The rewrite endpoint of exact-substring dedup: the same spans,
    // cut out of the text (71 spans over 56 documents at sf0.01 — the
    // other documents pass through untouched).
    "dpc" -> ((s, d) =>
      Curation.cutSpans(Tables.documents(s, d), col("text"),
          col("doc_id"), k = 5, minCount = 2)
        .orderBy("doc_id")),

    // Variable-length LONGEST-match dedup (ExactSubstr semantics via
    // diagonal seed-chaining): each document's single longest exactly
    // duplicated word run >= 5 words, against any partner or itself.
    "dpm" -> ((s, d) =>
      Curation.longestDuplicatePerDoc(Tables.documents(s, d), col("text"),
          col("doc_id"), k = 5)
        .orderBy("doc_id")),
  )

  val oracles: Map[String, String] = Map(
    "dx" -> """
SELECT md5(text) AS content_hash, min(doc_id) AS keeper_doc_id,
       count(*) AS n_copies
FROM documents GROUP BY 1 ORDER BY 1""",

    "dj" -> (hashedShinglesCte + """, sizes AS (
  SELECT doc_id, count(*) AS n FROM sh GROUP BY 1
), pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT doc_a, doc_b, inter, sa.n + sb.n - inter AS union_n,
       round(CAST(inter AS DOUBLE) / (sa.n + sb.n - inter), 6) AS jaccard
FROM pairs JOIN sizes sa ON doc_a = sa.doc_id
           JOIN sizes sb ON doc_b = sb.doc_id
WHERE round(CAST(inter AS DOUBLE) / (sa.n + sb.n - inter), 6) >= 0.2
ORDER BY doc_a, doc_b"""),

    "dl" -> (MinhashCte + """
SELECT doc_a, doc_b,
       CAST(len(list_filter(range(16), i -> sa.sig[i+1] = sb.sig[i+1])) AS INT)
         AS n_matching
FROM cand JOIN sig sa ON doc_a = sa.doc_id
          JOIN sig sb ON doc_b = sb.doc_id
WHERE len(list_filter(range(16), i -> sa.sig[i+1] = sb.sig[i+1])) >= 4
ORDER BY doc_a, doc_b"""),

    // Mirror of sourceOverlap: per-source distinct hashed 3-shingles,
    // pairwise intersection counts, exact integer Jaccard ppt.
    "sco" -> (hashedShinglesCte + """, s2 AS (
  SELECT DISTINCT d.source, s.s FROM sh s JOIN documents d USING (doc_id)
), tot AS (
  SELECT source, count(*) AS n FROM s2 GROUP BY 1
), ov AS (
  SELECT a.source AS src_a, b.source AS src_b, count(*) AS n_shared
  FROM s2 a JOIN s2 b ON a.s = b.s AND a.source < b.source
  GROUP BY 1, 2
)
SELECT ov.src_a, ov.src_b, CAST(n_shared AS BIGINT) AS n_shared,
       CAST(ta.n AS BIGINT) AS n_a, CAST(tb.n AS BIGINT) AS n_b,
       CAST(n_shared * 1000 // (ta.n + tb.n - n_shared) AS BIGINT) AS jac_pm
FROM ov JOIN tot ta ON ta.source = ov.src_a
        JOIN tot tb ON tb.source = ov.src_b
ORDER BY src_a, src_b"""),

    // Mirror of tagNearLshIndex over the dd_incr split: band-bucket
    // collisions BETWEEN history (doc_id%10 < 8) and batch (>= 8),
    // best signature-match count per batch doc, tag at >= 8 of 16;
    // batch docs with no collision (or no shingles at all) tag false.
    "dz" -> (MinhashCte + """, xc AS (
  SELECT DISTINCT h.doc_id AS hid, n.doc_id AS nid
  FROM bands h JOIN bands n ON h.b = n.b AND h.bucket = n.bucket
  WHERE h.doc_id % 10 < 8 AND n.doc_id % 10 >= 8
), mm AS (
  SELECT xc.nid,
         max(len(list_filter(range(16),
             i -> sh2.sig[i+1] = sn.sig[i+1]))) AS best
  FROM xc JOIN sig sh2 ON sh2.doc_id = xc.hid
          JOIN sig sn ON sn.doc_id = xc.nid
  GROUP BY xc.nid
)
SELECT d.doc_id, coalesce(mm.best >= 8, false) AS near_history
FROM documents d LEFT JOIN mm ON mm.nid = d.doc_id
WHERE d.doc_id % 10 >= 8 ORDER BY d.doc_id"""),

    // exact side: DISTINCT shingles derived from MinhashCte's
    // per-occurrence sh (same strings hashedShinglesCte would hash),
    // Jaccard >= 0.2 as in dd_j; lsh side: the dd_l filter.
    "dr" -> (MinhashCte + """, dsh AS (
  SELECT DISTINCT doc_id, s FROM sh
), sizes AS (
  SELECT doc_id, count(*) AS n FROM dsh GROUP BY 1
), epairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
  FROM dsh a JOIN dsh b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY 1, 2
), ex AS (
  SELECT doc_a, doc_b
  FROM epairs JOIN sizes sa ON doc_a = sa.doc_id
              JOIN sizes sb ON doc_b = sb.doc_id
  WHERE round(CAST(inter AS DOUBLE) / (sa.n + sb.n - inter), 6) >= 0.2
), lshp AS (
  SELECT doc_a, doc_b
  FROM cand JOIN sig sa2 ON doc_a = sa2.doc_id
            JOIN sig sb2 ON doc_b = sb2.doc_id
  WHERE len(list_filter(range(16), i -> sa2.sig[i+1] = sb2.sig[i+1])) >= 4
)
SELECT CAST(count(*) AS BIGINT) AS n_true,
       (SELECT CAST(count(*) AS BIGINT) FROM lshp) AS n_cand,
       CAST(count(l.doc_a) AS BIGINT) AS n_found,
       CAST(count(l.doc_a) * 1000 // greatest(count(*), 1) AS BIGINT) AS recall_pm,
       CAST(count(l.doc_a) * 1000
         // greatest((SELECT count(*) FROM lshp), 1) AS BIGINT) AS precision_pm
FROM ex LEFT JOIN lshp l ON ex.doc_a = l.doc_a AND ex.doc_b = l.doc_b"""),

    "dc" -> (MinhashCte.replaceFirst("WITH ", "WITH RECURSIVE ") + """, pairs AS (
  SELECT doc_a, doc_b
  FROM cand JOIN sig sa ON doc_a = sa.doc_id
            JOIN sig sb ON doc_b = sb.doc_id
  WHERE len(list_filter(range(16), i -> sa.sig[i+1] = sb.sig[i+1])) >= 4
), und AS (
  SELECT doc_a AS u, doc_b AS v FROM pairs
  UNION
  SELECT doc_b, doc_a FROM pairs
), reach AS (
  SELECT u AS id, u AS r FROM und
  UNION
  SELECT und.u, reach.r FROM und JOIN reach ON und.v = reach.id
)
SELECT id AS doc_id, min(r) AS component
FROM reach GROUP BY 1 ORDER BY doc_id"""),

    "dk" -> (MinhashCte.replaceFirst("WITH ", "WITH RECURSIVE ") + """, pairs AS (
  SELECT doc_a, doc_b
  FROM cand JOIN sig sa ON doc_a = sa.doc_id
            JOIN sig sb ON doc_b = sb.doc_id
  WHERE len(list_filter(range(16), i -> sa.sig[i+1] = sb.sig[i+1])) >= 4
), und AS (
  SELECT doc_a AS u, doc_b AS v FROM pairs
  UNION
  SELECT doc_b, doc_a FROM pairs
), reach AS (
  SELECT u AS id, u AS r FROM und
  UNION
  SELECT und.u, reach.r FROM und JOIN reach ON und.v = reach.id
), comp AS (
  SELECT id, min(r) AS component FROM reach GROUP BY 1
)
SELECT d.doc_id FROM documents d
WHERE NOT EXISTS (
  SELECT 1 FROM comp WHERE comp.id = d.doc_id AND comp.component <> comp.id)
ORDER BY doc_id"""),

    "db" -> (MinhashCte.replaceFirst("WITH ", "WITH RECURSIVE ") + """, pairs AS (
  SELECT doc_a, doc_b
  FROM cand JOIN sig sa ON doc_a = sa.doc_id
            JOIN sig sb ON doc_b = sb.doc_id
  WHERE len(list_filter(range(16), i -> sa.sig[i+1] = sb.sig[i+1])) >= 4
), und AS (
  SELECT doc_a AS u, doc_b AS v FROM pairs
  UNION
  SELECT doc_b, doc_a FROM pairs
), reach AS (
  SELECT u AS id, u AS r FROM und
  UNION
  SELECT und.u, reach.r FROM und JOIN reach ON und.v = reach.id
), comp AS (
  SELECT id, min(r) AS component FROM reach GROUP BY 1
), best AS (
  SELECT comp.id,
         row_number() OVER (PARTITION BY comp.component
           ORDER BY d.n_chars DESC, comp.id ASC) AS rn
  FROM comp JOIN documents d ON d.doc_id = comp.id
)
SELECT d.doc_id FROM documents d
WHERE NOT EXISTS (
  SELECT 1 FROM best WHERE best.id = d.doc_id AND best.rn > 1)
ORDER BY doc_id"""),

    "dh" -> (hashedShinglesCte + """
SELECT doc_id, CAST(count(*) AS BIGINT) AS n_shingles,
       CAST(sum(CASE WHEN nd > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_shared,
       CAST(sum(CASE WHEN nd > 1 THEN 1 ELSE 0 END) AS BIGINT) * 1000
         // CAST(count(*) AS BIGINT) AS shared_pm
FROM (SELECT doc_id, count(*) OVER (PARTITION BY s) AS nd FROM sh)
GROUP BY doc_id ORDER BY doc_id"""),

    // Census composition: each tier CTE mirrors its own verified oracle
    // (dpx's 64-char prefix, dd_j's pairs, dsem's scaled cosine,
    // urlc's canonical literals, dsh's shared per-mille), verdicts
    // attributed first-tier-wins, rolled up per source.
    "cns" -> (hashedShinglesCte + """, sizes AS (
  SELECT doc_id, count(*) AS n FROM sh GROUP BY 1
), pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY 1, 2
), nr AS (
  SELECT DISTINCT doc_b AS doc_id
  FROM pairs JOIN sizes sa ON doc_a = sa.doc_id
             JOIN sizes sb ON doc_b = sb.doc_id
  WHERE round(CAST(inter AS DOUBLE) / (sa.n + sb.n - inter), 6) >= 0.2
), pe AS (
  SELECT doc_id FROM (
    SELECT doc_id, min(doc_id) OVER (PARTITION BY substr(text,1,64)) AS k
    FROM documents) WHERE doc_id <> k
), qz AS (
  SELECT vec_id, list_transform(embedding,
    x -> CAST(round(CAST(x AS DOUBLE) * 1e6) AS BIGINT)) AS qe
  FROM embeddings
), ev AS (SELECT qe FROM qz WHERE vec_id % 200 = 0),
tr AS (SELECT vec_id, qe FROM qz WHERE vec_id % 200 <> 0),
sm AS (
  SELECT tr.vec_id AS doc_id
  FROM tr CROSS JOIN ev GROUP BY tr.vec_id
  HAVING max(round(
    CAST(list_sum(list_transform(range(64), i -> tr.qe[i+1] * ev.qe[i+1])) AS DOUBLE)
    / sqrt(CAST(list_sum(list_transform(range(64), i -> tr.qe[i+1] * tr.qe[i+1])) AS DOUBLE)
           * CAST(list_sum(list_transform(range(64), i -> ev.qe[i+1] * ev.qe[i+1])) AS DOUBLE)),
    6)) >= 0.3
), uc AS (
  SELECT doc_id,
    CASE doc_id % 8
      WHEN 0 THEN 'example.com/a/b?x=' || CAST(doc_id % 100 AS VARCHAR)
      WHEN 1 THEN 'example.com/a/b'
      WHEN 2 THEN 'cdn.site.org/img/' || CAST(doc_id % 100 AS VARCHAR) || '.png'
      WHEN 3 THEN 'host.net/p?a=' || CAST(doc_id % 100 AS VARCHAR) || '&b=2'
      WHEN 4 THEN 'news.example.org/story?id=' || CAST(doc_id % 100 AS VARCHAR)
      WHEN 5 THEN 'shop.example.com/item/' || CAST(doc_id % 100 AS VARCHAR)
      WHEN 6 THEN 'example.com'
      ELSE 'a.b.c:8080/x?a=1&b=' || CAST(doc_id % 100 AS VARCHAR)
    END AS cu
  FROM documents
), ur AS (
  SELECT doc_id FROM (
    SELECT doc_id, min(doc_id) OVER (PARTITION BY cu) AS k FROM uc)
  WHERE doc_id <> k
), sp AS (
  SELECT doc_id FROM (
    SELECT doc_id, count(*) AS ns,
           sum(CASE WHEN nd > 1 THEN 1 ELSE 0 END) AS nshr
    FROM (SELECT doc_id, count(*) OVER (PARTITION BY s) AS nd FROM sh)
    GROUP BY doc_id)
  WHERE nshr * 1000 // ns >= 500
), v AS (
  SELECT d.source, CASE
    WHEN d.doc_id IN (SELECT doc_id FROM pe) THEN 'exact'
    WHEN d.doc_id IN (SELECT doc_id FROM nr) THEN 'near'
    WHEN d.doc_id IN (SELECT doc_id FROM sm) THEN 'sem'
    WHEN d.doc_id IN (SELECT doc_id FROM ur) THEN 'url'
    WHEN d.doc_id IN (SELECT doc_id FROM sp) THEN 'span'
    ELSE 'kept' END AS verdict
  FROM documents d
)
SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
  CAST(sum(CASE WHEN verdict = 'exact' THEN 1 ELSE 0 END) AS BIGINT) AS n_exact,
  CAST(sum(CASE WHEN verdict = 'near' THEN 1 ELSE 0 END) AS BIGINT) AS n_near,
  CAST(sum(CASE WHEN verdict = 'sem' THEN 1 ELSE 0 END) AS BIGINT) AS n_sem,
  CAST(sum(CASE WHEN verdict = 'url' THEN 1 ELSE 0 END) AS BIGINT) AS n_url,
  CAST(sum(CASE WHEN verdict = 'span' THEN 1 ELSE 0 END) AS BIGINT) AS n_span,
  CAST(sum(CASE WHEN verdict = 'kept' THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
FROM v GROUP BY source ORDER BY source"""),

    "sh" -> (s"""WITH toks AS (
  SELECT doc_id, unnest(regexp_extract_all(text, '$TokRe')) AS tok
  FROM documents
), votes AS (
  SELECT doc_id, j,
         SUM(((${h60("tok")} >> CAST(j AS INT)) & 1) * 2 - 1) AS vote
  FROM toks CROSS JOIN (SELECT unnest(range(60)) AS j)
  GROUP BY 1, 2
)
SELECT doc_id,
       CAST(SUM(CASE WHEN vote > 0 THEN (CAST(1 AS BIGINT) << CAST(j AS INT))
                ELSE 0 END) AS BIGINT) AS simhash
FROM votes GROUP BY 1 ORDER BY doc_id"""),

    // keep-first semantic dedup over CellsCte's shared assignment: a
    // doc drops iff a smaller-id same-cell neighbour clears the
    // threshold (see the declared row for why 0.35 on this corpus)
    "sdd" -> (CellsCte + """, dropped AS (
  SELECT DISTINCT a.vid
  FROM cq a JOIN cq b ON a.cid = b.cid AND b.vid < a.vid
  WHERE round(
    CAST(list_sum(list_transform(range(64), i -> a.qe[i+1] * b.qe[i+1])) AS DOUBLE)
    / sqrt(CAST(a.n2 AS DOUBLE) * CAST(b.n2 AS DOUBLE)), 6) >= 0.35
)
SELECT vid AS vec_id FROM cq
WHERE vid NOT IN (SELECT vid FROM dropped)
ORDER BY vec_id"""),

    "cms" -> (s"""
WITH cells AS (
  SELECT r, ${h60("CAST(r AS VARCHAR) || ':' || CAST(user_id AS VARCHAR)")} % 256 AS c,
         count(*) AS n
  FROM events CROSS JOIN (SELECT unnest(range(4)) AS r)
  GROUP BY 1, 2
), probes AS (
  SELECT k, r, ${h60("CAST(r AS VARCHAR) || ':' || k")} % 256 AS c
  FROM (SELECT CAST(unnest(range(10)) AS VARCHAR) AS k)
  CROSS JOIN (SELECT unnest(range(4)) AS r)
)
SELECT probes.k AS user_id, CAST(min(coalesce(cells.n, 0)) AS BIGINT) AS est_count
FROM probes LEFT JOIN cells ON probes.r = cells.r AND probes.c = cells.c
GROUP BY 1 ORDER BY 1"""),

    "kv" -> (s"""
WITH h AS (
  SELECT event_type, ${h60("CAST(user_id AS VARCHAR)")} AS hv
  FROM events
), g AS (
  SELECT event_type, list_sort(list_distinct(list(hv))) AS hs FROM h GROUP BY 1
)
SELECT event_type,
       CAST(CASE WHEN len(hs) < 64 THEN len(hs)
            ELSE CAST(round((63.0 * 1152921504606846976) / hs[64]) AS BIGINT)
            END AS BIGINT) AS distinct_est
FROM g ORDER BY 1"""),

    "scs" -> ("""
SELECT source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(length(text)) AS BIGINT) AS sum_chars,
       CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
       CAST(max(length(text)) AS BIGINT) AS max_chars
FROM documents GROUP BY source ORDER BY source"""),

    "dpx" -> (s"""WITH p AS (
  SELECT doc_id, ${h60("substr(text,1,64)")} AS ph FROM documents
), c AS (
  SELECT ph, CAST(count(*) AS BIGINT) AS n_share FROM p GROUP BY 1
)
SELECT p.doc_id, c.n_share FROM p JOIN c USING (ph) ORDER BY doc_id"""),

    "di" -> """
SELECT doc_id, md5(text) AS content_hash
FROM documents d
WHERE doc_id % 10 >= 8 AND NOT EXISTS (
  SELECT 1 FROM documents h
  WHERE h.doc_id % 10 < 8 AND md5(h.text) = md5(d.text))
ORDER BY doc_id""",

    // Mirror of md, simulation-blind: the capped shingle outcome is
    // stated closed-form (every intra-caption-group pair shares
    // exactly 2 of its 3 surviving shingles), same_image from the
    // image-group arithmetic.
    "md" -> ("""
SELECT a.doc_id AS doc_a, CAST(0 AS BIGINT) AS ref_a,
       b.doc_id AS doc_b, CAST(0 AS BIGINT) AS ref_b,
       CAST(2 AS BIGINT) AS inter, CAST(4 AS BIGINT) AS union_n,
       CAST(0.5 AS DOUBLE) AS jaccard,
       (a.doc_id // 4 = b.doc_id // 4) AS same_image
FROM documents a JOIN documents b
  ON a.doc_id // 8 = b.doc_id // 8 AND a.doc_id < b.doc_id
ORDER BY doc_a, doc_b"""),

    // synthChatDupConv's renders rebuilt closed-form, then the dd_j
    // pair arithmetic over the render's word shingles — with the
    // maxDocFreq <= 8 stop-shingle filter mirrored (shf) — plus the
    // exact marker from the render md5. The render/shingle/cap front
    // (chatRenderShinglesCte) is shared verbatim with cdc.
    "cdd" -> (chatRenderShinglesCte + s""", sizes AS (
  SELECT doc_id, count(*) AS n FROM shf GROUP BY 1
), pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
  FROM shf a JOIN shf b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY 1, 2
), fp AS (SELECT doc_id, md5(text) AS f FROM r)
SELECT doc_a, doc_b, inter, sa.n + sb.n - inter AS union_n,
       round(CAST(inter AS DOUBLE) / (sa.n + sb.n - inter), 6) AS jaccard,
       fa.f = fb.f AS exact
FROM pairs JOIN sizes sa ON doc_a = sa.doc_id
           JOIN sizes sb ON doc_b = sb.doc_id
           JOIN fp fa ON doc_a = fa.doc_id
           JOIN fp fb ON doc_b = fb.doc_id
WHERE round(CAST(inter AS DOUBLE) / (sa.n + sb.n - inter), 6) >= 0.5
ORDER BY doc_a, doc_b"""),

    // SFT eval decontamination: the dng contamination arithmetic over
    // the rendered conversations, with cdd's stop-shingle cap (shf)
    // mirrored — doc-frequency over both splits, cap 8.
    "cdc" -> (chatRenderShinglesCte + s""", sp AS (
  SELECT doc_id,
       CASE WHEN ${h60("CAST(doc_id AS VARCHAR)")} % 1000000 < 50000 THEN 'val'
            WHEN ${h60("CAST(doc_id AS VARCHAR)")} % 1000000 < 100000 THEN 'test'
            ELSE 'train' END AS split
  FROM documents
), tagged AS (
  SELECT shf.doc_id, shf.s, sp.split FROM shf JOIN sp ON shf.doc_id = sp.doc_id
), ts AS (
  SELECT DISTINCT s FROM tagged WHERE split = 'train'
)
SELECT t.doc_id, t.split,
       CAST(count(*) AS BIGINT) AS n_shingles,
       CAST(sum(CASE WHEN ts.s IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_contaminated,
       CAST(sum(CASE WHEN ts.s IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) * 1000
         // CAST(count(*) AS BIGINT) AS contam_pm
FROM tagged t LEFT JOIN ts ON t.s = ts.s
WHERE t.split <> 'train'
GROUP BY 1, 2 ORDER BY doc_id"""),

    // Mirror of linedDocs (4-word lines) + Curation.dedupLines: doc
    // frequency per exact line, drop lines in >= 2 docs, reassemble in
    // original order. chr(10) == the '\n' Spark joins/splits on.
    "dn" -> (s"""WITH w AS (
  SELECT doc_id, string_split_regex(trim(text), ' +') AS words FROM documents
), ld AS (
  SELECT doc_id,
         array_to_string(list_transform(range((len(words)+3)//4),
           i -> array_to_string(words[i*4+1:i*4+4], ' ')), chr(10)) AS text
  FROM w
), l0 AS (
  SELECT doc_id,
         unnest(list_transform(range(len(lns)),
           i -> {'pos': i, 'line': lns[i+1]}), recursive := true)
  FROM (SELECT doc_id, string_split(text, chr(10)) AS lns FROM ld)
), lh AS (
  SELECT doc_id, pos, line, ${h60("line")} AS lh FROM l0
), df AS (
  SELECT lh, count(DISTINCT doc_id) AS nd FROM lh GROUP BY 1
)
SELECT doc_id, CAST(count(*) AS BIGINT) AS n_lines,
       CAST(sum(CASE WHEN nd < 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       coalesce(string_agg(CASE WHEN nd < 2 THEN line END, chr(10)
         ORDER BY pos), '') AS clean_text
FROM lh JOIN df USING (lh)
GROUP BY doc_id ORDER BY doc_id"""),

    // Mirror of paraDocs (3-word lines, two per paragraph, shared
    // footer paragraph on even ids) + Curation.dedupParagraphs: doc
    // frequency per exact paragraph, drop paragraphs in >= 2 docs,
    // reassemble '\n\n'-joined in original order.
    "dp" -> (s"""WITH w AS (
  SELECT doc_id, string_split_regex(trim(text), ' +') AS words FROM documents
), l AS (
  SELECT doc_id, list_transform(range((len(words)+2)//3),
    i -> array_to_string(words[i*3+1:i*3+3], ' ')) AS lns FROM w
), pd AS (
  SELECT doc_id,
    array_to_string(list_transform(range((len(lns)+1)//2),
      p -> array_to_string(lns[p*2+1:p*2+2], chr(10))), chr(10)||chr(10))
    || CASE WHEN doc_id % 2 = 0
         THEN chr(10)||chr(10)||'subscribe to our newsletter'
              ||chr(10)||'all rights reserved'
         ELSE '' END AS text
  FROM l
), p0 AS (
  SELECT doc_id, unnest(list_transform(range(len(ps)),
    i -> {'pos': i, 'para': ps[i+1]}), recursive := true)
  FROM (SELECT doc_id, string_split(text, chr(10)||chr(10)) AS ps FROM pd)
), ph AS (
  SELECT doc_id, pos, para, ${h60("para")} AS lh FROM p0
), pf AS (
  SELECT lh, count(DISTINCT doc_id) AS nd FROM ph GROUP BY 1
)
SELECT doc_id, CAST(count(*) AS BIGINT) AS n_paras,
       CAST(sum(CASE WHEN nd < 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       coalesce(string_agg(CASE WHEN nd < 2 THEN para END, chr(10)||chr(10)
         ORDER BY pos), '') AS clean_text
FROM ph JOIN pf USING (lh)
GROUP BY doc_id ORDER BY doc_id"""),

    // Mirror of paraDocs + the %3 self-duplication + dedupWithinDoc:
    // list_filter's 1-based index lambda against list_position is the
    // keep-first-occurrence rule.
    "dw" -> (s"""WITH w AS (
  SELECT doc_id, string_split_regex(trim(text), ' +') AS words FROM documents
), l AS (
  SELECT doc_id, list_transform(range((len(words)+2)//3),
    i -> array_to_string(words[i*3+1:i*3+3], ' ')) AS lns FROM w
), pd AS (
  SELECT doc_id,
    array_to_string(list_transform(range((len(lns)+1)//2),
      p -> array_to_string(lns[p*2+1:p*2+2], chr(10))), chr(10)||chr(10))
    || CASE WHEN doc_id % 2 = 0
         THEN chr(10)||chr(10)||'subscribe to our newsletter'
              ||chr(10)||'all rights reserved'
         ELSE '' END AS text
  FROM l
), dup AS (
  SELECT doc_id, CASE WHEN doc_id % 3 = 0
    THEN text || chr(10)||chr(10)
         || string_split(text, chr(10)||chr(10))[1]
    ELSE text END AS text
  FROM pd
), segs AS (
  SELECT doc_id, string_split(text, chr(10)||chr(10)) AS ps FROM dup
)
SELECT doc_id, CAST(len(ps) AS BIGINT) AS n_segs,
       CAST(len(kept) AS BIGINT) AS n_kept,
       coalesce(array_to_string(kept, chr(10)||chr(10)), '') AS clean_text
FROM (SELECT doc_id, ps,
        list_filter(ps, (s, i) -> list_position(ps, s) = i) AS kept
      FROM segs)
ORDER BY doc_id"""),

    // Mirror of Curation.duplicateSpans: positioned 5-shingles, global
    // occurrence count, gaps-and-islands merge (gap > 5 starts a new
    // island; CASE WHEN NULL>5 THEN.. ELSE 0 matches Spark's first-row
    // semantics). Shared verbatim by dup_spans and dup_cut so the
    // two can never desync (the AnnIvfSql convention).
    "dsp" -> (DupSpansCte + """
SELECT doc_id, CAST(min(pos) AS INT) AS span_start,
       CAST(max(pos) + 4 AS INT) AS span_end,
       CAST(max(pos) + 4 - min(pos) + 1 AS INT) AS n_tokens
FROM isl GROUP BY doc_id, island ORDER BY doc_id, span_start"""),

    // Mirror of maximalMatches + longestDuplicatePerDoc: positioned
    // 5-shingles, 2..256-occurrence seeds, ordered-pair self-join,
    // gaps-and-islands along each (doc_a, doc_b, diag) alignment,
    // both sides unioned, per-doc top-1 by (len DESC, start ASC).
    "dpm" -> (s"""WITH w AS (
  SELECT doc_id, string_split_regex(trim(text), ' +') AS words FROM documents
), s0 AS (
  SELECT doc_id,
         unnest(CASE WHEN len(words) >= 5
           THEN list_transform(range(len(words)-4),
                i -> {'pos': i, 's': array_to_string(words[i+1:i+5], ' ')})
           ELSE [] END, recursive := true)
  FROM w
), sh AS (
  SELECT doc_id, pos, ${h60("s")} AS sh FROM s0
), dup AS (
  SELECT sh FROM (SELECT sh, count(*) AS n FROM sh GROUP BY 1)
  WHERE n >= 2 AND n <= 256
), sd AS (
  SELECT s.doc_id, s.pos, s.sh FROM sh s JOIN dup USING (sh)
), p AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.pos AS pos_a,
         b.pos - a.pos AS diag
  FROM sd a JOIN sd b ON a.sh = b.sh
  WHERE a.doc_id < b.doc_id OR (a.doc_id = b.doc_id AND a.pos < b.pos)
), lg AS (
  SELECT doc_a, doc_b, diag, pos_a,
         lag(pos_a) OVER (PARTITION BY doc_a, doc_b, diag
           ORDER BY pos_a) AS prev
  FROM p
), isl AS (
  SELECT doc_a, doc_b, diag, pos_a,
         sum(CASE WHEN pos_a - prev > 1 THEN 1 ELSE 0 END)
           OVER (PARTITION BY doc_a, doc_b, diag ORDER BY pos_a) AS isl
  FROM lg
), g AS (
  SELECT doc_a, doc_b, diag, min(pos_a) AS a_start,
         max(pos_a) - min(pos_a) + 5 AS len_words
  FROM isl GROUP BY doc_a, doc_b, diag, isl
), sides AS (
  SELECT doc_a AS doc_id, a_start AS span_start, len_words FROM g
  UNION ALL
  SELECT doc_b, a_start + diag, len_words FROM g
), r AS (
  SELECT doc_id, span_start, len_words,
         row_number() OVER (PARTITION BY doc_id
           ORDER BY len_words DESC, span_start ASC) AS rn
  FROM sides
)
SELECT doc_id, CAST(span_start AS INT) AS span_start,
       CAST(len_words AS INT) AS len_words
FROM r WHERE rn = 1 ORDER BY doc_id"""),

    // DupSpansCte + span expansion to covered positions, word
    // re-explode, and order-preserving reassembly of the survivors.
    "dpc" -> (DupSpansCte + """, spans AS (
  SELECT doc_id, min(pos) AS span_start, max(pos) + 4 AS span_end
  FROM isl GROUP BY doc_id, island
), covered AS (
  SELECT doc_id, unnest(range(span_start, span_end + 1)) AS wpos, true AS cut
  FROM spans
), wp AS (
  SELECT doc_id,
         unnest(list_transform(range(len(words)),
           i -> {'wpos': i, 'w': words[i+1]}), recursive := true)
  FROM w
)
SELECT wp.doc_id, CAST(count(*) AS BIGINT) AS n_words,
       CAST(sum(CASE WHEN cut THEN 1 ELSE 0 END) AS BIGINT) AS n_cut,
       coalesce(string_agg(CASE WHEN cut IS NULL THEN w END, ' '
         ORDER BY wp.wpos), '') AS clean_text
FROM wp LEFT JOIN covered
  ON wp.doc_id = covered.doc_id AND wp.wpos = covered.wpos
GROUP BY wp.doc_id ORDER BY wp.doc_id"""),
  )
}
