package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication operators for large corpora. Every variant is a pure
  * DataFrame plan — no driver-side state, no collect — and candidate
  * generation is always blocking-based (hash buckets / band buckets /
  * shared shingles), never an all-pairs cross join: the shuffles are on
  * uniform hash keys, which is what survives 100 TB.
  */
object Dedup {

  /** Exact dedup by content hash: one shuffle on the 128-bit hash
    * (uniform — no skew), map-side partial aggregation. Keeper = min id
    * (deterministic). */
  def exact(df: DataFrame, content: Column, id: Column): DataFrame =
    df.groupBy(md5(content).as("content_hash"))
      .agg(min(id).as("keeper_doc_id"), count(lit(1)).as("n_copies"))

  /** PREFIX duplicates — the truncation-dup detector [[exact]] misses:
    * two crawls of the same page cut at different lengths share their
    * leading bytes but hash differently whole. For every document, the
    * number of documents (itself included) sharing its first `n`
    * characters. The count is a partial-aggregating `groupBy` on the
    * 60-bit prefix hash joined back on the key — a boilerplate prefix
    * covering most of a crawl is exactly the hot key this operator
    * exists to find, and map-side combine collapses it to one row per
    * task. 8-byte hash keys through the exchange, not 64-char strings.
    * Callers filter `n_share > 1` for the dup set; emitting every doc
    * keeps the row count stable for accounting. */
  def prefixDups(df: DataFrame, content: Column, id: Column,
                 n: Int = 64): DataFrame = {
    val pref = df.select(id.as("doc_id"),
      Text.hash60(substring(content, 1, n)).as("ph"))
    val counts = pref.groupBy("ph").agg(count(lit(1)).as("n_share"))
    pref.join(counts, "ph").select(col("doc_id"), col("n_share"))
  }

  /** STREAMING exact dedup — the continuous-ingestion form of [[exact]]:
    * emit only the first document per content hash, with state BOUNDED
    * by the event-time watermark (`dropDuplicatesWithinWatermark` keyed
    * on the md5 hash, so the dedup state holds one entry per distinct
    * recent document, not per document ever seen). The semantic
    * trade-off is explicit: a duplicate arriving more than `delay`
    * after its original MAY be emitted again — the streaming pass is
    * the fast in-window filter, and the batch [[exact]] pass over the
    * accumulated corpus is the authority (the standard two-tier layout
    * of a continuously-fed training corpus). Output: (doc_id,
    * event_time, content_hash) of first-seen documents. */
  def streamingExact(df: DataFrame, content: Column, id: Column,
                     eventTime: Column, delay: String): DataFrame =
    df.select(id.as("doc_id"), eventTime.as("event_time"),
        md5(content).as("content_hash"))
      .withWatermark("event_time", delay)
      .dropDuplicatesWithinWatermark("content_hash")

  /** Cross-document duplicated n-gram fraction — the corpus-level
    * repetition signal of large-scale curation (the "duplicated n-gram"
    * filter family): for each document, the share of its DISTINCT
    * k-shingles that also occur in at least one OTHER document, as
    * integer parts-per-thousand. [[TextAnalysis.repetitionStats]]
    * measures repetition WITHIN a document (narrow map, zero shuffle);
    * this measures it ACROSS the corpus. Per-shingle document counts
    * come from a partial-aggregating `groupBy(s)` — hash uniformity
    * spreads DISTINCT shingles, but a boilerplate shingle occurring in
    * most of a crawl is ONE key, and map-side combine collapses it to
    * one row per task where a window-over-s formulation would funnel
    * every occurrence into a single partition. The counts (one row per
    * distinct shingle) join back on the uniform hash key (AQE
    * skew-join splits a residual hot probe partition), then a groupBy
    * on doc_id folds the flags back per document. Shingles are
    * per-doc DISTINCT before the explode, so a shingle repeated only
    * inside one document has doc-count 1 and does NOT count as shared.
    * Documents with no k-shingle (under k words) are dropped. */
  def sharedShingleStats(df: DataFrame, content: Column, id: Column,
                         k: Int = 3): DataFrame =
    sharedShingleStatsFrom(hashedShingles(df, content, id, k))

  /** [[sharedShingleStats]] over a pre-built [[hashedShingles]] stream
    * (shared-pass composition — see [[hashedShingles]]). */
  private[graft] def sharedShingleStatsFrom(ex: DataFrame): DataFrame = {
    // rows are pre-distinct per (doc, shingle), so a plain row count per
    // shingle IS its document frequency; not persisted — the lineage is
    // a narrow scan+explode, cheaper to re-run than to cache at scale
    // (a caller sharing the frame across tiers persists it itself)
    val docCount = ex.groupBy("s").agg(count(lit(1)).as("nd"))
    ex.join(docCount, "s")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_shingles"),
        sum(when(col("nd") > 1, 1L).otherwise(0L)).as("n_shared"))
      .selectExpr("doc_id", "n_shingles", "n_shared",
        "n_shared * 1000 div n_shingles as shared_pm")
  }

  /** The per-document DISTINCT hashed k-shingle stream (doc_id, n, s)
    * that [[ngramJaccard]] and [[sharedShingleStats]] are both built on:
    * one row per (document, distinct shingle), `s` the shingle's 60-bit
    * hash and `n` the document's distinct-shingle count (its set size,
    * taken on the exact strings before the explode). Exposed so the
    * `cns` census can build and persist it once for both shingle tiers.
    * Contract: `id` must be unique per input row (as in
    * [[minhashSignatures]]); rows sharing an id would pair as one
    * document with each row's own `n`. */
  private[graft] def hashedShingles(df: DataFrame, content: Column,
                                    id: Column, k: Int): DataFrame = {
    graft.functions.GraftFunctions.register(df.sparkSession)
    // explode an expression, not the bare `__sh` column: for a column Catalyst
    // infers `size(__sh) > 0` and pushes it below, re-running the shingling.
    // `s` is non-nullable (no shingle is null, so the coalesce never fires):
    // a nullable `s` makes a join on it infer `isnotnull(s)`, pushed below
    // as a second md5 per row
    df.select(id.as("doc_id"),
        array_distinct(Text.shingles(content, k)).as("__sh"))
      .select(col("doc_id"), size(col("__sh")).as("n"),
        explode(when(size(col("__sh")) > 0, col("__sh"))).as("str"))
      .select(col("doc_id"), col("n"),
        coalesce(Text.hash60(col("str")), lit(0L)).as("s"))
  }

  /** Near-dup candidate pairs by exact n-gram Jaccard, blocked on shared
    * shingles: explode shingles, self-join on the shingle (only docs
    * sharing one meet), count intersections, filter by Jaccard.
    *
    * Scale: the join/shuffle key is the 60-bit md5 hash of the shingle,
    * not the string — 8 bytes per key through the exchange instead of
    * ~16+ characters, hashed post-explode so the md5 stays inside
    * whole-stage codegen (distinctness is taken on the exact strings
    * first). Shingle rows carry their document's set size `n` and the
    * pair aggregate groups on both sides' `n`, so `union_n = n_a + n_b -
    * inter` needs no size frame, no join on the document id, no cache.
    * Hash keys are uniform unless a shingle is extremely common; at
    * 100 TB you'd MinHash first ([[minhashLsh]]) and use this as the
    * verify step on candidates. Jaccard is emitted both as exact
    * integers (inter/union) and a rounded double (engine-independent:
    * integer division in IEEE).
    *
    * `maxDocFreq` is the STOP-SHINGLE guard for the self-join's real
    * scale hazard: a boilerplate shingle in M documents contributes
    * M·(M-1)/2 candidate rows — QUADRATIC, not merely a hot partition.
    * Setting it drops shingles present in more than `maxDocFreq`
    * documents BEFORE sizes and the join, so Jaccard is computed
    * self-consistently over the informative shingle sets (the standard
    * stop-shingle treatment: ultra-common shingles carry no near-dup
    * signal — two documents sharing only a cookie banner are not
    * near-duplicates). The default keeps every shingle — exact
    * textbook Jaccard, matching the DuckDB oracle. */
  def ngramJaccard(df: DataFrame, content: Column, id: Column,
                   k: Int = 3, minJaccard: Double = 0.5,
                   maxDocFreq: Int = Int.MaxValue): DataFrame =
    ngramJaccardFrom(hashedShingles(df, content, id, k), minJaccard,
      maxDocFreq)

  /** [[ngramJaccard]] over a pre-built [[hashedShingles]] stream. It
    * persists nothing: a caller sharing the stream persists it itself. */
  private[graft] def ngramJaccardFrom(exploded: DataFrame,
                                      minJaccard: Double,
                                      maxDocFreq: Int): DataFrame = {
    val sh =
      if (maxDocFreq == Int.MaxValue) exploded
      else {
        // rows are distinct per (doc, shingle): a row count per shingle
        // IS its document frequency (partial agg — the hot key is the
        // one being removed); kept rows regroup per doc for the capped n
        val keep = exploded.groupBy("s").agg(count(lit(1)).as("__df"))
          .where(col("__df") <= maxDocFreq).select("s")
        exploded.join(keep, Seq("s"), "left_semi")
          .groupBy("doc_id").agg(collect_list("s").as("__ks"))
          .select(col("doc_id"), size(col("__ks")).as("n"),
            explode(col("__ks")).as("s"))
      }
    sh.as("a").join(sh.as("b"),
        col("a.s") === col("b.s") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        col("a.n").as("na"), col("b.n").as("nb"))
      .agg(count(lit(1)).as("inter"))
      .select(col("doc_a"), col("doc_b"), col("inter"),
        (col("na") + col("nb") - col("inter")).as("union_n"))
      .withColumn("jaccard",
        round(col("inter").cast("double") / col("union_n"), 6))
      .where(col("jaccard") >= minJaccard)
  }

  /** MinHash signatures: for each of `numHashes` "permutations" p, the
    * signature element is `min over shingles s of hash60(md5(p || ':' ||
    * s))` — md5-as-random-permutation with the min on the first 60 bits
    * as a LONG, computed by the native codegen Expression
    * [[graft.functions.MinHash64]]. Output: (doc_id, sig array<long>).
    *
    * One tight JVM loop per row (the shingle set is already a per-row
    * array): a NARROW map — no explode, no shuffle, no per-hash hex
    * string allocation. This replaced an interpreted higher-order-
    * function formulation that was 127.8s of a 174.8s bench; the DuckDB
    * oracle computes the identical longs via
    * `min(CAST(('0x' || substr(md5(p || ':' || s),1,15)) AS BIGINT))`.
    *
    * Contract: `id` must be unique per input row (one row per document);
    * duplicate ids would get one signature per ROW, not per document
    * (an id-keyed pre-aggregation is the caller's job — it needs a
    * shuffle this narrow map deliberately avoids). Documents with no
    * shingles (< k words) have no signature, matching the oracle. */
  def minhashSignatures(df: DataFrame, content: Column, id: Column,
                        k: Int = 3, numHashes: Int = 16): DataFrame = {
    graft.functions.GraftFunctions.register(df.sparkSession)
    df.select(id.as("doc_id"), Text.shingles(content, k).as("__sh"))
      .where(size(col("__sh")) > 0)
      .select(col("doc_id"), expr(s"minhash64(__sh, $numHashes)").as("sig"))
  }

  /** MinHash + LSH near-dup pairs: band the signature (`bands` bands of
    * `numHashes/bands` rows), bucket-join on (band, md5(band slice)),
    * then score candidate pairs by matching-signature fraction.
    *
    * Scale: candidates are generated ONLY through band-bucket collisions
    * (shuffle on uniform md5 bucket keys); the signature join afterwards
    * touches candidate pairs, not all pairs. This is the standard
    * shingle→minhash→band→bucket-join pipeline. The signature frame is
    * persisted because three downstream joins consume it — without
    * that, the full shingle+hash pass re-runs per branch.
    *
    * `maxBucket` caps the bucket self-join's QUADRATIC hazard: a
    * cluster of M near-identical documents collides into one band
    * bucket and yields M·(M-1)/2 candidates. Capping skips buckets
    * with more than `maxBucket` members (partial-agg count + rejoin —
    * the oversize bucket never reaches the self-join). The standard
    * production trade: a skipped giant bucket is an exact/near-exact
    * dup CLUSTER that [[exact]] dedup or a per-bucket representative
    * pass handles at linear cost; pairs within it are lost to THIS
    * band, recovered by other bands only if those stay under the cap.
    * Default keeps every bucket (textbook LSH, the oracle row). */
  def minhashLsh(df: DataFrame, content: Column, id: Column,
                 k: Int = 3, numHashes: Int = 16, bands: Int = 4,
                 minMatches: Int = 8, maxBucket: Int = Int.MaxValue): DataFrame = {
    val r = numHashes / bands
    // persist, not localCheckpoint: a persisted frame recomputes lost
    // partitions from lineage after executor loss, checkpoint blocks
    // cannot; released via CacheScope once the caller materializes
    val sig = graft.CacheScope.persistTracked(
      minhashSignatures(df, content, id, k, numHashes))
    val allBuckets = sig.select(col("doc_id"),
        explode(transform(sequence(lit(0), lit(bands - 1)),
          b => struct(b.as("band"),
            md5(concat_ws("|", slice(col("sig"), b * r + 1, lit(r))
              .cast("array<string>"))).as("bucket"))))
          .as("bb"))
      .select(col("doc_id"), col("bb.band"), col("bb.bucket"))
    val buckets =
      if (maxBucket == Int.MaxValue) allBuckets
      else allBuckets.join(
        allBuckets.groupBy("band", "bucket").agg(count(lit(1)).as("__n"))
          .where(col("__n") <= maxBucket).select("band", "bucket"),
        Seq("band", "bucket"))
    val cand = buckets.as("x").join(buckets.as("y"),
        col("x.band") === col("y.band") && col("x.bucket") === col("y.bucket") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .distinct()
    cand
      .join(sig.as("sa"), col("doc_a") === col("sa.doc_id"))
      .join(sig.as("sb"), col("doc_b") === col("sb.doc_id"))
      .select(col("doc_a"), col("doc_b"),
        aggregate(zip_with(col("sa.sig"), col("sb.sig"),
            (x, y) => when(x === y, 1).otherwise(0)),
          lit(0), (acc, v) => acc + v).as("n_matching"))
      .where(col("n_matching") >= minMatches)
  }

  /** Connected components over near-dup pairs — the clustering step that
    * turns pairwise candidates ([[minhashLsh]], [[ngramJaccard]],
    * [[simhashPairs]]) into dedup groups with a canonical keeper
    * (component = min doc id in the group).
    *
    * Algorithm: alternating large-star / small-star contraction (Kiveris
    * et al., "Connected Components in MapReduce and Beyond"):
    *  - large-star: every node connects its strictly-larger neighbours to
    *    the minimum of its closed neighbourhood;
    *  - small-star: every node connects its smaller-or-equal neighbours
    *    (and itself) to that minimum.
    * Per-node minima are a partial-aggregating `groupBy(u)` joined back
    * on u — NOT a min window over u: the node a near-dup cluster
    * contracts into is exactly the high-degree hot key (a boilerplate
    * document paired with millions), and map-side combine collapses its
    * edges to one row per task where a window partition would hold the
    * full degree (AQE skew-join splits the residual hot probe side) —
    * the same reformulation as the curation occurrence counts. The edge
    * set contracts towards per-component stars rooted at the minimum id
    * in O(log) alternations — vs diameter-many rounds for plain
    * min-label propagation (a chain of length d took d rounds; star
    * contraction halves it each pass). `localCheckpoint` truncates
    * lineage each round, and the convergence check is an `observe`
    * metric collected DURING the checkpoint job — no separate per-round
    * driver count() job; the driver only compares the already-collected
    * (count, hash-sum) pair. Only ids that appear in some NON-SELF pair
    * are emitted; unpaired documents — including ids appearing only in
    * degenerate self-pairs, which no candidate generator produces — are
    * implicitly singleton components.
    *
    * Output: (doc_id, component) — component is the smallest doc id
    * reachable through the pair graph (deterministic under any
    * partitioning). */
  def components(pairs: DataFrame,
                 aCol: String = "doc_a", bCol: String = "doc_b"): DataFrame = {
    def largeStar(e: DataFrame): DataFrame = {
      val sym = e.union(e.select(col("v").as("u"), col("u").as("v")))
      // no distinct here: duplicates cannot change any min and the
      // following small-star pass dedups — saves one shuffle per round.
      // sym is read twice (min build + probe) — cheap: each round's
      // input is a localCheckpoint, so the re-read is a block scan.
      val mins = sym.groupBy("u").agg(min("v").as("__mv"))
      sym.join(mins, "u")
        .withColumn("m", least(col("__mv"), col("u")))
        .where(col("v") > col("u"))
        .select(col("v").as("u"), col("m").as("v"))
    }
    def smallStar(e: DataFrame): DataFrame = {
      val dir = e.select(greatest(col("u"), col("v")).as("u"),
        least(col("u"), col("v")).as("v"))
      val withM = dir.join(dir.groupBy("u").agg(min("v").as("m")), "u")
      withM.where(col("v") =!= col("m"))
        .select(col("v").as("u"), col("m").as("v"))
        .union(withM.select(col("u"), col("m").as("v")))
        .distinct()
    }
    var (edges, edgeRdds) = graft.CacheScope.localCheckpointWithRdds(
      pairs.select(col(aCol).as("u"), col(bCol).as("v"))
        .where(col("u") =!= col("v"))
        .distinct())
    // Fingerprint of the current edge set; two consecutive rounds with
    // the same (count, xxhash64-xor) mean the alternation reached its
    // star-graph fixpoint (the sets are deterministic, so a stable
    // fingerprint IS a stable set up to a ~2^-64 hash coincidence).
    // bit_xor, not sum: order-independent AND overflow-free under ANSI.
    var prev: (Any, Any) = (-1L, -1L)
    var round = 0
    var done = false
    while (!done) {
      val obs = org.apache.spark.sql.Observation(s"cc_round_$round")
      // eager checkpoint: runs the job, which fills `obs`; round N-1's
      // blocks are freed as soon as round N is materialized, so the
      // in-flight cache footprint is one edge set, not one per round
      val (next, nextRdds) = graft.CacheScope.localCheckpointWithRdds(
        smallStar(largeStar(edges))
          .observe(obs, count(lit(1)).as("cnt"),
            expr("bit_xor(xxhash64(u, v))").as("hsh")))
      val metrics = obs.get
      val cur = (metrics("cnt"), metrics("hsh"))
      done = cur == prev
      prev = cur
      graft.CacheScope.unpersistRdds(edgeRdds)
      edges = next
      edgeRdds = nextRdds
      round += 1
    }
    // the final round's blocks back the RETURNED plan (truncated
    // lineage — they can't recompute); they live until CacheScope.release
    graft.CacheScope.trackRdds(edgeRdds)
    // At the fixpoint every edge is (member, component-min root): member
    // rows are already distinct (small-star dedups) and can never equal
    // a root row (member u ≠ v), so only the root set needs a distinct —
    // one small shuffle instead of re-deduping the whole output.
    edges.select(col("u").as("doc_id"), col("v").as("component"))
      .union(edges.select(col("v")).distinct()
        .select(col("v").as("doc_id"), col("v").as("component")))
  }

  /** Train/eval DECONTAMINATION: near-dup pairs that SPAN dataset
    * splits — the leakage check run before training (an eval document
    * with a near-duplicate in train invalidates the eval). Composes
    * [[minhashLsh]] candidates with a split-assignment frame
    * (typically [[Sampling.split]] output — hash-keyed, so membership
    * is reproducible) and keeps only pairs whose endpoints disagree on
    * the split. Scale shape: the pair frame is already
    * blocking-generated; the two split joins shuffle on uniform doc-id
    * keys (broadcastable when the split frame is a small eval set).
    * Pairs whose endpoints are MISSING from `splits` are dropped (inner
    * joins) — pass a complete assignment (e.g. [[Sampling.split]] over
    * the same corpus) when absence should be impossible. */
  def crossSplitContamination(pairs: DataFrame, splits: DataFrame,
                              idCol: String = "doc_id",
                              splitCol: String = "split"): DataFrame = {
    val sa = splits.select(col(idCol).as("__ida"), col(splitCol).as("split_a"))
    val sb = splits.select(col(idCol).as("__idb"), col(splitCol).as("split_b"))
    pairs
      .join(sa, col("doc_a") === col("__ida"))
      .join(sb, col("doc_b") === col("__idb"))
      .where(col("split_a") =!= col("split_b"))
      .drop("__ida", "__idb")
  }

  /** N-GRAM-level train/eval contamination — the finer companion of
    * [[crossSplitContamination]]: that one flags whole documents whose
    * NEAR-DUPLICATE crosses a split; this one scores every non-train
    * document by the share of its distinct k-shingles that occur
    * ANYWHERE in the train split (integer parts-per-thousand), the
    * overlap rule large-model eval hygiene is built on — an eval doc
    * can leak through a handful of verbatim n-grams long before it has
    * a near-duplicate. Output per non-train doc: split, n_shingles,
    * n_contaminated, contam_pm; docs under k words have no shingle and
    * are dropped.
    *
    * Scale shape: the split frame joins BEFORE the explode (doc-sized
    * shuffle, broadcastable when the assignment is a small eval
    * manifest — never shingle-sized), the train shingle set is a
    * partial-aggregating distinct on the uniform 60-bit hash, and the
    * probe is an equi-join on that same key (AQE splits a residual hot
    * probe partition). The scan+explode lineage runs once per side
    * rather than being cached — the same deliberate trade as
    * [[sharedShingleStats]]. At deployment scale the train set is the
    * big side; a bloom pre-filter ([[graft.operators.BloomSemiJoin]])
    * over the probe cuts the exact join's shuffle the way the serving
    * path's bloom semi join does — composable here because the exact
    * join still decides membership.
    *
    * `maxDocFreq` is [[ngramJaccard]]'s STOP-SHINGLE guard transplanted
    * to the contamination score, and it matters most for TEMPLATED
    * corpora (the chat_dd lesson: rendered SFT conversations share the
    * chat template's boilerplate runs by construction, so without the
    * cap every eval conversation reads as "contaminated" by template
    * shingles that carry zero leak signal, and the probe join
    * concentrates on a handful of corpus-wide hot keys). Setting it
    * drops shingles present in more than `maxDocFreq` documents —
    * doc-frequency counted over BOTH splits of the joined frame, the
    * same self-consistent rule as ngramJaccard — BEFORE sizes and
    * membership, so contam_pm is scored over informative shingles
    * only. Documents whose every shingle is capped away drop from the
    * output (their score would be 0/0). When set, the exploded frame
    * persists query-scoped (three consumers: the doc-frequency count
    * and both split sides); the default keeps today's single-pass
    * lineage and exact-textbook semantics. */
  def ngramContamination(df: DataFrame, content: Column, id: Column,
                         splits: DataFrame, trainSplit: String = "train",
                         k: Int = 3, idCol: String = "doc_id",
                         splitCol: String = "split",
                         maxDocFreq: Int = Int.MaxValue): DataFrame = {
    graft.functions.GraftFunctions.register(df.sparkSession)
    val sp = splits.select(col(idCol).as("__id"), col(splitCol).as("split"))
    val ex0 = df.select(id.as("doc_id"), content.as("__text"))
      .join(sp, col("doc_id") === col("__id")).drop("__id")
      .select(col("doc_id"), col("split"),
        explode(array_distinct(Text.shingles(col("__text"), k))).as("str"))
      .select(col("doc_id"), col("split"), Text.hash60(col("str")).as("s"))
    val ex =
      if (maxDocFreq == Int.MaxValue) ex0
      else {
        // rows are distinct per (doc, shingle): a row count per shingle
        // IS its document frequency (partial agg — the hot key is the
        // one being removed). BOTH frames persist query-scoped: ex0
        // covers the render/explode lineage against its two consumers
        // (the frequency count and the join probe), and the capped
        // join itself is consumed twice below (train side + probe
        // side) — unpersisted, the corpus-wide frequency aggregate
        // would run once per consumer
        val cached = graft.CacheScope.persistTracked(ex0)
        val keep = cached.groupBy("s").agg(count(lit(1)).as("__df"))
          .where(col("__df") <= maxDocFreq).select("s")
        graft.CacheScope.persistTracked(cached.join(keep, Seq("s")))
      }
    val trainS = ex.where(col("split") === trainSplit)
      .select("s").distinct().withColumn("__hit", lit(1L))
    ex.where(col("split") =!= trainSplit)
      .join(trainS, Seq("s"), "left")
      .groupBy("doc_id", "split")
      .agg(count(lit(1)).as("n_shingles"),
        sum(coalesce(col("__hit"), lit(0L))).as("n_contaminated"))
      .selectExpr("doc_id", "split", "n_shingles", "n_contaminated",
        "n_contaminated * 1000 div n_shingles as contam_pm")
  }

  /** 60-bit SimHash fingerprint per document: token-hash bit votes.
    * bit_j(doc) = 1 iff sum over tokens of (2*((hash60(tok)>>j)&1)-1) > 0.
    *
    * Computed by the native codegen Expression
    * [[graft.functions.SimHash60]] — one pass over the token array per
    * row, no explode, no shuffle (the previous portable formulation
    * exploded doc x token x 60 rows through two shuffles; same result).
    * Documents with zero tokens are absent, matching the oracle. */
  def simhash(df: DataFrame, content: Column, id: Column): DataFrame = {
    graft.functions.GraftFunctions.register(df.sparkSession)
    df.select(id.as("doc_id"), Text.tokens(content).as("__toks"))
      .where(size(col("__toks")) > 0)
      .select(col("doc_id"), expr("simhash60(__toks)").as("simhash"))
  }

  /** SimHash near-dup pairs with Hamming distance <= maxDist, blocked on
    * fingerprint pieces: split into `pieces` equal slices and bucket-join
    * on (piece index, piece value); exact Hamming verify via
    * bit_count(xor). By pigeonhole the blocking is lossless when
    * maxDist < pieces; for larger maxDist it is banding-style
    * approximate (recall < 1), which is the scale trade-off.
    * `maxBucket` caps the piece-bucket self-join's quadratic blowup on
    * clusters of identical fingerprints — same guard, same trade as
    * [[minhashLsh]]'s (skipping an oversize bucket also voids the
    * pigeonhole losslessness for pairs inside it). Default: uncapped. */
  def simhashPairs(df: DataFrame, content: Column, id: Column,
                   maxDist: Int = 3, pieces: Int = 4,
                   maxBucket: Int = Int.MaxValue): DataFrame = {
    val bits = 60
    val w = bits / pieces // piece width
    val fp = simhash(df, content, id)
    val allBlocked = fp.select(col("doc_id"), col("simhash"),
        explode(sequence(lit(0), lit(pieces - 1))).as("p"))
      .withColumn("piece",
        expr(s"shiftright(simhash, cast(p as int) * $w) & ${(1L << w) - 1}"))
    val blocked =
      if (maxBucket == Int.MaxValue) allBlocked
      else allBlocked.join(
        allBlocked.groupBy("p", "piece").agg(count(lit(1)).as("__n"))
          .where(col("__n") <= maxBucket).select("p", "piece"),
        Seq("p", "piece"))
    blocked.as("x").join(blocked.as("y"),
        col("x.p") === col("y.p") && col("x.piece") === col("y.piece") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"),
        bit_count(col("x.simhash").bitwiseXOR(col("y.simhash"))).as("hamming"))
      .distinct()
      .where(col("hamming") <= maxDist)
  }

  /** INCREMENTAL dedup — the operation a continuously-growing corpus
    * actually runs: given the accumulated `history` (the 100 TB side)
    * and a fresh `incoming` batch (the day's crawl), return the
    * incoming documents whose content does not already exist in
    * history. Neither full side is shuffled: [[graft.operators.BloomAntiJoin]]
    * settles bloom-miss documents immediately (provably novel, zero
    * further work) and exact-checks only the hit set against a
    * reverse-bloom-pruned history scan, so the exchange under the
    * exact anti join is sized by the OVERLAP, not the corpus.
    *
    * Content identity is the md5 of the content column — the same
    * equality [[exact]] uses. Documents duplicated WITHIN the incoming
    * batch are all "new against history" and all emitted; intra-batch
    * dedup is a separate [[exact]] pass (the two-tier layout: fast
    * new-vs-history filter, then the batch authority).
    *
    * Output: (doc_id, content_hash) of the novel incoming documents.
    */
  def newAgainst(history: DataFrame, incoming: DataFrame,
                 content: Column, id: Column,
                 expectedHistory: Long, fpp: Double = 0.01): DataFrame = {
    val in = incoming.select(id.as("doc_id"), md5(content).as("content_hash"))
    val hist = history.select(md5(content).as("content_hash"))
    graft.operators.BloomAntiJoin(in, col("content_hash"),
      hist, col("content_hash"), expectedHistory, fpp)
  }

  /** The APPLY endpoint of near-dup clustering — produce the deduped
    * corpus itself: every unclustered document survives, and each
    * near-dup cluster keeps exactly its min-id representative
    * ([[components]]' labels ARE the cluster minima, so "keeper" is
    * `doc_id == component` with no extra pass). The drop set is the
    * size of the DUPLICATES — tiny against a well-curated corpus — so
    * the subtraction runs as a [[graft.operators.BloomAntiJoin]]: the
    * corpus side is bloom-pruned before the exchange instead of
    * shuffling 100 TB to discard a few percent of it.
    *
    * `pairs` is any near-dup pair frame ((doc_a, doc_b) ids) —
    * [[minhashLsh]], [[simhashPairs]], or a verified subset of them —
    * so the clustering policy stays the caller's choice. */
  def keepRepresentatives(df: DataFrame, pairs: DataFrame, id: Column,
                          expectedDups: Long = 1L << 20,
                          fpp: Double = 0.01): DataFrame = {
    val dropped = components(pairs)
      .where(col("doc_id") =!= col("component"))
      .select(col("doc_id").as("__drop_id"))
    graft.operators.BloomAntiJoin(df, id, dropped, col("__drop_id"),
      expectedDups, fpp)
  }

  /** MEASURED recall of the banded MinHash-LSH candidate generator
    * against exact n-gram Jaccard — the text-side sibling of the
    * embedding stack's `recallAtK` (`ann_rec`), so the banding
    * parameters' recall is a number on the correctness surface, not a
    * probability formula taken on faith. Ground truth = [[ngramJaccard]]
    * pairs at `minJaccard`; candidates = [[minhashLsh]] pairs at the
    * given banding; one output row: (n_true, n_cand, n_found,
    * recall_pm, precision_pm) — recall says what the banding LOSES,
    * precision what the downstream exact-verify pass PAYS per true
    * pair. Both pair frames are the operators' own plans, and their
    * quadratic guards pass through (`maxDocFreq` caps the exact
    * side's hot-shingle self-join, `maxBucket` the banded buckets —
    * both default uncapped like the underlying operators, so a
    * boilerplate-heavy corpus should set them); the final join is
    * pair-keyed, the aggregates run over the (tiny) pair sets, and
    * the one-row candidate count rides a broadcast. `greatest(n, 1)`
    * keeps a pair-free corpus at 0 instead of an ANSI division fault
    * — mirrored in the oracle. */
  def lshRecall(df: DataFrame, content: Column, id: Column,
                k: Int = 3, minJaccard: Double = 0.2,
                numHashes: Int = 16, bands: Int = 4,
                minMatches: Int = 4,
                maxDocFreq: Int = Int.MaxValue,
                maxBucket: Int = Int.MaxValue): DataFrame = {
    // persisted: n_true and the semi-join probe both read it, and the
    // exact frame embeds the shingle self-join — the expensive half
    val exact = graft.CacheScope.persistTracked(
      ngramJaccard(df, content, id, k, minJaccard, maxDocFreq)
        .select("doc_a", "doc_b"))
    val lsh = graft.CacheScope.persistTracked(
      minhashLsh(df, content, id, k, numHashes, bands, minMatches,
          maxBucket)
        .select(col("doc_a"), col("doc_b")))
    // n_true counts the EXACT frame itself and n_found goes through a
    // LEFT SEMI join (ADVICE r13): the previous left-join-then-count was
    // correct only because minhashLsh ends in .distinct() and
    // ngramJaccard aggregates per pair — if either ever emitted
    // duplicate (doc_a, doc_b) rows the join would fan out and silently
    // inflate both counters. A semi join cannot fan out regardless of
    // right-side multiplicity, and n_true never touches the join.
    val hits = exact.join(lsh, Seq("doc_a", "doc_b"), "left_semi")
      .agg(count(lit(1)).as("n_found"))
    hits.crossJoin(broadcast(exact.agg(count(lit(1)).as("n_true"))))
      .crossJoin(broadcast(lsh.agg(count(lit(1)).as("n_cand"))))
      .selectExpr("n_true", "n_cand", "n_found",
        "n_found * 1000 div greatest(n_true, 1L) as recall_pm",
        "n_found * 1000 div greatest(n_cand, 1L) as precision_pm")
  }

  /** Quality-aware sibling of [[keepRepresentatives]] — the
    * RefinedWeb/SlimPajama retention policy: each near-dup cluster
    * keeps its best-SCORING member (ties broken by min doc_id) instead
    * of blindly the min-id one, so dedup stops discarding the longest
    * or cleanest copy of a page. The per-cluster argmax is a
    * partial-aggregating `max(struct(score, -id))` — cluster-count-
    * sized, hub-safe, no window over the corpus — and the subtraction
    * stays the bloom-pruned anti join (both exchange sides are sized
    * by the DUPLICATE set, never the corpus). `score` is evaluated
    * against `df`'s columns (chars, quality_ok, lm bits — caller's
    * policy). */
  def keepBest(df: DataFrame, pairs: DataFrame, id: Column, score: Column,
               expectedDups: Long = 1L << 20,
               fpp: Double = 0.01): DataFrame = {
    val members = components(pairs) // (doc_id, component); label = min id
    // Score fetch for the cluster MEMBERS only: bloom-semi-prune the
    // corpus to the member set before the join, so this exchange is
    // also duplicate-sized (a plain join here would sort-merge the
    // whole corpus once `members` outgrows the broadcast threshold —
    // exactly the shuffle this operator exists to avoid).
    val scored = graft.operators.BloomSemiJoin(
      df.select(id.as("__kb_id"), score.as("__kb_s")), col("__kb_id"),
      members.select(col("doc_id")), col("doc_id"), expectedDups, fpp)
    // persisted query-scoped: TWO consumers (the per-cluster argmax and
    // the dropped-set join) — unpersisted, the bloom-pruned corpus scan
    // and the member join re-ran once per consumer (the db plan carried
    // 63 exchanges; the frame is duplicate-set-sized, so the cache is
    // bounded by the dup count at any scale)
    val withScore = graft.CacheScope.persistTracked(members
      .join(scored, members("doc_id") === scored("__kb_id")))
    val winners = withScore.groupBy("component")
      .agg(max(struct(col("__kb_s"), (-col("doc_id")).as("__neg")))
        .as("__w"))
      .select(col("component"), (-col("__w.__neg")).as("__keep_id"))
    val dropped = withScore.join(winners, "component")
      .where(col("doc_id") =!= col("__keep_id"))
      .select(col("doc_id").as("__drop_id"))
    graft.operators.BloomAntiJoin(df, id, dropped, col("__drop_id"),
      expectedDups, fpp)
  }

  /** Serialized history bloom for the STREAMING tier of incremental
    * dedup: one partial-aggregated pass over the accumulated corpus,
    * collected to the driver. The collect is the single-row filter —
    * bounded by [[graft.functions.Bloom.optimalBits]]'s 8 MiB cap, not
    * by the data — which is what lets the filter travel into a
    * streaming query as a literal. */
  def historyFilter(history: DataFrame, content: Column,
                    expectedItems: Long, fpp: Double = 0.01): Array[Byte] = {
    import org.apache.spark.sql.functions.udaf
    val bits = graft.functions.Bloom.optimalBits(expectedItems, fpp)
    val agg = udaf(new graft.functions.Bloom.Agg(bits,
      graft.functions.Bloom.optimalHashes(bits, expectedItems)))
    history.select(xxhash64(md5(content)).as("__h"))
      .agg(agg(col("__h")).as("__bloom"))
      .collect()(0).getAs[Array[Byte]](0)
  }

  /** Streaming tier of [[newAgainst]] — TAG, don't drop: adds
    * `maybe_in_history`, true iff the content's hash hits the history
    * bloom. A stateless zero-shuffle projection, so it composes into
    * any streaming query (and stacks with [[streamingExact]] for
    * in-window intra-stream dups). Tagging instead of filtering is
    * deliberate: a bloom false positive on a DROP path would silently
    * lose a novel document forever; on a TAG path it only sends it to
    * the batch authority ([[newAgainst]]), whose exact anti join
    * settles it. No false negatives: `maybe_in_history = false` is
    * PROOF the document is new. */
  def tagAgainstHistory(df: DataFrame, content: Column,
                        historyBloom: Array[Byte]): DataFrame = {
    graft.functions.GraftFunctions.register(df.sparkSession)
    df.withColumn("maybe_in_history",
      call_function("bloom_might_contain",
        lit(historyBloom), xxhash64(md5(content))))
  }

  /** Cross-SOURCE shingle-overlap census — the corpus-overlap report a
    * mixture designer runs BETWEEN sources (how much of crawl dump N
    * re-crawls dump N-1? how much of a "books" source is already inside
    * the web slice?), the aggregate complement of the per-document
    * [[sharedShingleStats]]: for every observed source pair, the count
    * of distinct k-shingles they share and the exact integer Jaccard in
    * parts-per-thousand. Pairs with zero overlap emit no row (no
    * #sources² cross join materializes absences).
    *
    * Scale shape: the distinct (source, shingle-hash) frame is one
    * partial-aggregating distinct on uniform keys (a boilerplate
    * shingle present in every source collapses map-side to #sources
    * rows); the self-join per shingle hash fans out at most
    * C(#sources, 2) pairs per DISTINCT shingle — bounded by the source
    * inventory, not the corpus — and the per-source totals frame is
    * #sources rows, broadcast. Persisted query-scoped: three consumers
    * (totals + both join sides).
    *
    * Output: (src_a, src_b, n_shared, n_a, n_b, jac_pm), src_a < src_b. */
  def sourceOverlap(df: DataFrame, content: Column, source: Column,
                    k: Int = 3): DataFrame = {
    graft.functions.GraftFunctions.register(df.sparkSession)
    val sh = graft.CacheScope.persistTracked(
      df.select(source.as("source"),
          explode(Text.shingles(content, k)).as("s0"))
        .select(col("source"), Text.hash60(col("s0")).as("h"))
        .distinct())
    val tot = sh.groupBy("source").agg(count(lit(1)).as("n"))
    sh.as("a").join(sh.as("b"),
        col("a.h") === col("b.h") && col("a.source") < col("b.source"))
      .groupBy(col("a.source").as("src_a"), col("b.source").as("src_b"))
      .agg(count(lit(1)).as("n_shared"))
      .join(broadcast(tot.select(col("source").as("src_a"),
        col("n").as("n_a"))), "src_a")
      .join(broadcast(tot.select(col("source").as("src_b"),
        col("n").as("n_b"))), "src_b")
      .select(col("src_a"), col("src_b"), col("n_shared"), col("n_a"),
        col("n_b"),
        expr("n_shared * 1000 div (n_a + n_b - n_shared)").as("jac_pm"))
  }

  // ---- The NEAR-dup HISTORY INDEX — the text-side sibling of the
  // embedding family [[graft.ext.Similarity.writeCellIndex]] /
  // appendCellIndex / tagNearIndex, completing the (exact | near) ×
  // (batch | incremental | streaming) matrix: [[newAgainst]] settles
  // exact incremental dedup and [[tagAgainstHistory]] its streaming
  // tag; these give the NEAR tier the same accumulated-history shape
  // (minhashLsh alone is batch-only — it can't ask "is this batch
  // near-duplicate of anything we already kept?" without re-banding
  // the corpus). ----

  /** Band-bucket rows with the signature inline and the BOUNDED
    * partition column `pb` (bucket md5 folded into `parts` groups — the
    * [[graft.sources.BucketedMirror]] idiom): an incoming batch's
    * distinct `pb` set is ≤ `parts` values, so the probe scan prunes to
    * those partitions as a literal predicate instead of reading the
    * corpus-sized index. */
  private def lshBuckets(df: DataFrame, content: Column, id: Column,
                         k: Int, numHashes: Int, bands: Int,
                         parts: Int): DataFrame = {
    val r = numHashes / bands
    minhashSignatures(df, content, id, k, numHashes)
      .select(col("doc_id"), col("sig"),
        explode(transform(sequence(lit(0), lit(bands - 1)),
          b => struct(b.as("band"),
            md5(concat_ws("|", slice(col("sig"), b * r + 1, lit(r))
              .cast("array<string>"))).as("bucket"))))
          .as("bb"))
      .select(col("doc_id"), col("sig"), col("bb.band"), col("bb.bucket"))
      .withColumn("pb",
        (conv(substring(col("bucket"), 1, 4), 16, 10).cast("long")
          % parts).cast("int"))
  }

  /** Materialize the LSH history index: every document's band buckets
    * with its signature inline, hive-partitioned by the bounded `pb`
    * group and sorted within partitions for footer skipping, plus a
    * one-row `meta` frame pinning the hash parameters — a probe against
    * an index banded differently would silently miss everything, so the
    * probe reads its parameters FROM the index, never from the caller. */
  def writeLshIndex(df: DataFrame, content: Column, id: Column, path: String,
                    k: Int = 3, numHashes: Int = 16, bands: Int = 4,
                    parts: Int = 64): Unit = {
    val spark = df.sparkSession
    import spark.implicits._
    Seq((k, numHashes, bands, parts)).toDF("k", "num_hashes", "bands", "parts")
      .write.mode("overwrite").parquet(s"$path/meta")
    lshBuckets(df, content, id, k, numHashes, bands, parts)
      .repartition(col("pb"))
      .sortWithinPartitions("band", "bucket", "doc_id")
      .write.mode("overwrite").partitionBy("pb").parquet(s"$path/buckets")
  }

  /** TAG a batch against the accumulated LSH index — tag-don't-drop
    * ([[tagAgainstHistory]]'s contract, one tier up): `near_history` is
    * true iff some INDEXED document shares a band bucket AND matches at
    * least `minMatches` of the batch document's `numHashes` signature
    * rows. A replay can re-tag but never lose a document, and unlike
    * the bloom tier there are no hash false positives to settle — the
    * signature comparison IS the near-dup score.
    *
    * Scale shape: the batch's distinct `pb` set (≤ `parts` values)
    * collects to a literal partition predicate — the probe scans only
    * the batch's own bucket-group partitions, never the corpus-sized
    * index ([[graft.ext.Similarity.tagNearIndex]]'s pruning shape in
    * text space). `maxBucket` caps a giant stored bucket's fan-out
    * (an exact-dup CLUSTER in the index — the [[minhashLsh]] trade,
    * bounded BY DEFAULT like semDedup): its members stop generating
    * candidates through that bucket; other bands still can. */
  def tagNearLshIndex(batch: DataFrame, content: Column, id: Column,
                      path: String, minMatches: Int = 8,
                      maxBucket: Int = 4096): DataFrame = {
    val spark = batch.sparkSession
    val meta = spark.read.parquet(s"$path/meta").head()
    val (k, nh, bands, parts) = (meta.getInt(0), meta.getInt(1),
      meta.getInt(2), meta.getInt(3))
    val bb = graft.CacheScope.persistTracked(
      lshBuckets(batch, content, id, k, nh, bands, parts))
    // bounded driver collect: <= parts values, the partition literal
    val pbs = bb.select("pb").distinct().collect().map(_.getInt(0)).toSeq
    val prunedAll = spark.read.parquet(s"$path/buckets")
      .where(col("pb").isin(pbs: _*))
    val pruned =
      if (maxBucket == Int.MaxValue) prunedAll
      else prunedAll.join(
        prunedAll.groupBy("band", "bucket").agg(count(lit(1)).as("__n"))
          .where(col("__n") <= maxBucket).select("band", "bucket"),
        Seq("band", "bucket"))
    val near = bb.as("b").join(pruned.as("s"),
        col("b.pb") === col("s.pb") && col("b.band") === col("s.band") &&
          col("b.bucket") === col("s.bucket") &&
          col("b.doc_id") =!= col("s.doc_id"))
      .where(aggregate(zip_with(col("b.sig"), col("s.sig"),
          (x, y) => when(x === y, 1).otherwise(0)),
        lit(0), (acc, v) => acc + v) >= minMatches)
      .select(col("b.doc_id").as("__nid")).distinct()
      .withColumn("near_history", lit(true))
    batch.join(near, id === col("__nid"), "left")
      .drop("__nid")
      .na.fill(false, Seq("near_history"))
  }

  /** INCREMENTAL index append — [[graft.ext.Similarity.appendCellIndex]]'s
    * exact replay contract in text space: an `_applied_batches/<batchId>`
    * marker (committed AFTER the data files) catches whole-batch
    * replays, and a doc-level anti join against the batch's own pruned
    * `pb` partitions catches re-delivery under a NEW batchId (banding
    * against the frozen meta parameters is deterministic, so a replayed
    * document lands in the same partitions as its stored copy). Hash
    * parameters never change on append — relearning them is an explicit
    * offline [[writeLshIndex]], the codebook-relearn analog. Returns
    * false on a marker-replayed batch. Compose with [[tagNearLshIndex]]
    * in one `foreachBatch` (tag against the CURRENT index, append the
    * novel rows) for incremental near-dedup over a live feed. */
  def appendLshIndex(batch: DataFrame, content: Column, id: Column,
                     path: String, batchId: Long): Boolean = {
    val spark = batch.sparkSession
    graft.sources.StoreCompaction.appendOnce(spark, path, batchId) {
      val meta = spark.read.parquet(s"$path/meta").head()
      // local persist, not CacheScope: the write below materializes
      // inside this call (appendCellIndex's reasoning)
      val bb = lshBuckets(batch, content, id, meta.getInt(0), meta.getInt(1),
          meta.getInt(2), meta.getInt(3))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val pbs = bb.select("pb").distinct().collect().map(_.getInt(0)).toSeq
      val novel =
        if (pbs.isEmpty) bb
        else bb.join(
          spark.read.parquet(s"$path/buckets")
            .where(col("pb").isin(pbs: _*)).select("doc_id").distinct(),
          Seq("doc_id"), "left_anti")
      novel.repartition(col("pb"))
        .sortWithinPartitions("band", "bucket", "doc_id")
        .write.mode("append").partitionBy("pb").parquet(s"$path/buckets")
      bb.unpersist(blocking = false)
    }
  }

  /** ONLINE compaction of the LSH bucket store — [[appendLshIndex]]'s
    * per-batch generations squashed back to ONE file per `pb=`
    * partition, the [[writeLshIndex]] layout verbatim (repartition on
    * pb, sortWithinPartitions(band, bucket, doc_id) for footer
    * skipping, hive `partitionBy(pb)` so [[tagNearLshIndex]]'s
    * partition pruning survives — pinned in PlanSpec). Marker-race
    * guarded generation swap ([[graft.sources.StoreCompaction]]);
    * `meta` and the root-level batch markers never move, so replayed
    * batches still no-op across the boundary. Returns the
    * post-compaction file count. */
  def compactLshIndex(spark: org.apache.spark.sql.SparkSession,
                      path: String): Int =
    graft.sources.StoreCompaction.swapCompact(spark, path, "buckets") {
      (live, out) =>
        spark.read.parquet(live).repartition(col("pb"))
          .sortWithinPartitions("band", "bucket", "doc_id")
          .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
          .partitionBy("pb").parquet(out)
    }

  /** DEDUP CENSUS — the observability artifact a curation run
    * publishes: per-source counts of WHY documents were dropped, one
    * row per source. `tiers` is the ordered (name, flag) list of the
    * pipeline's drop tiers; a document flagged by several tiers is
    * attributed to the FIRST (the pipeline applies tiers in order, so
    * the first to fire is the one that actually dropped the doc —
    * without this rule the per-reason counts would double-count and
    * not sum to n_docs). Null flags read as false, so tier frames can
    * be attached with left joins of their drop sets.
    *
    * Output: (source, n_docs, n_<tier>..., n_kept) with
    * `n_docs = Σ n_<tier> + n_kept` by construction.
    *
    * Scale shape: one partial-aggregating `groupBy(source)` over a
    * narrow verdict projection — the rollup itself adds one
    * source-cardinality exchange regardless of corpus size. The flag
    * columns are the caller's tier outputs; each drop set is
    * duplicate-sized, so attaching them is the cheap side of the
    * pipeline that produced them. */
  def dedupCensus(df: DataFrame, source: Column,
                  tiers: Seq[(String, Column)]): DataFrame = {
    require(tiers.nonEmpty, "dedupCensus: at least one tier required")
    val verdict = tiers.foldRight(lit("kept")) { case ((n, c), acc) =>
      when(coalesce(c, lit(false)), lit(n)).otherwise(acc)
    }
    val counts = tiers.map { case (n, _) =>
      sum(when(col("__verdict") === n, 1L).otherwise(0L)).as(s"n_$n")
    } :+ sum(when(col("__verdict") === "kept", 1L).otherwise(0L)).as("n_kept")
    df.select(source.as("source"), verdict.as("__verdict"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"), counts: _*)
  }
}
