package graft

/** Physical-plan regression assertions over the real sf0.001 testdata —
  * codifies the "explain, then iterate until it's the plan you'd want"
  * discipline so a future edit that silently degrades a plan (lost
  * broadcast, lost pushdown, accidental cartesian product, global sort
  * where a top-k suffices) fails CI instead of only showing up at 100 TB.
  */
class PlanSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, sf).queryExecution.executedPlan.toString

  private def count(p: String, needle: String): Int =
    p.sliding(needle.length).count(_ == needle)

  /** Exchanges that move data FOR THE OPERATOR (hash/range): excludes
    * the scan-parallelism floor's round-robin spread of a seed table
    * (Tables.spread) — it fires once the single-file table reaches
    * 128 KB (sf0.001 `embeddings`, every spread table at sf0.1, but not
    * the 26–65 KB sf0.001 `events` and `documents`), and it is the one
    * exchange a narrow per-document pipeline is allowed. Only ONE spread
    * is tolerated: a second round-robin exchange is a leaked
    * `repartition()`, not the scan floor. */
  private def opExchanges(p: String): Int = {
    val spreads = count(p, "Exchange RoundRobinPartitioning")
    assert(spreads <= 1, s"expected at most the one scan spread in:\n$p")
    count(p, "Exchange") - spreads
  }

  test("b1 account page: top-k via TakeOrderedAndProject, cursor pushed to scan") {
    val p = plan("b1a")
    assert(p.contains("TakeOrderedAndProject"), s"expected limit+sort fusion in:\n$p")
    // ati here is DERIVED from events (explode of affected_accounts), so
    // the account predicate can't reach storage — but Catalyst must push
    // the keyset cursor (summary >= 0) THROUGH the deterministic-id
    // arithmetic down to the events scan as a data filter.
    assert(p.contains("DataFilters: [(((") && p.contains("1048576"),
      s"expected the id-cursor predicate pushed through to the scan in:\n$p")
    assert(!p.contains("CartesianProduct"))
  }

  test("q5 local supplier volume: dimension joins broadcast") {
    val p = plan("qp")
    assert(count(p, "BroadcastHashJoin") >= 3,
      s"expected >=3 broadcast joins for the dimension chain in:\n$p")
    assert(!p.contains("CartesianProduct"))
  }

  test("q1 pricing summary: partial aggregation before the exchange") {
    val p = plan("qj")
    assert(count(p, "HashAggregate") >= 2,
      s"expected partial+final HashAggregate pair in:\n$p")
  }

  test("cis2 log decode: one list-key window, no joins, codegen'd decode") {
    val p = plan("c2d")
    assert(count(p, "Window") == 1, s"expected exactly the drop-semantics window in:\n$p")
    assert(!p.contains("Join"), s"decode path must not join:\n$p")
    // the event-type filter must reach the parquet scan under the codec
    assert(p.contains("PushedFilters: [In(event_type"), s"expected pushdown in:\n$p")
  }

  test("text repetition: narrow per-document map — no joins, only the sort exchange") {
    // sf0.001 documents (63 KB) is under the spread's 128 KB floor, so
    // no spread; built as graft.Bench's warm builds it for a larger SF
    // (sized by a 200 KB documents file) it gets the one spread. Also
    // over documents written as a Spark parquet DIRECTORY, whose
    // Files.size is the inode's: the scan spread must not fire there
    val dirSf = java.nio.file.Files.createTempDirectory("trplan").toString
    spark.read.parquet(s"$sf/documents.parquet")
      .write.parquet(s"$dirSf/documents.parquet")
    val sized = java.nio.file.Files.createTempDirectory("trsized")
    java.nio.file.Files.write(sized.resolve("documents.parquet"), new Array[Byte](200 * 1024))
    try for ((d, sizedBy, spreads) <- Seq((sf, None, 0), (sf, Some(sized.toString), 1),
                                          (dirSf, None, 0))) {
      val p = Tables.spreadSizedBy.withValue(sizedBy) {
        SparkEntry.queries("tr")(spark, d).queryExecution.executedPlan.toString
      }
      assert(!p.contains("Join"), s"repetition must stay per-document:\n$p")
      assert(opExchanges(p) == 1, // the final orderBy only
        s"expected a single (sort) exchange in:\n$p")
      assert(count(p, "Exchange RoundRobinPartitioning") == spreads,
        s"expected $spreads scan spread(s) over $d in:\n$p")
    } finally Seq(new java.io.File(dirSf), sized.toFile)
      .foreach(org.apache.commons.io.FileUtils.deleteQuietly)
  }

  test("dsir: bucket-bounded count tables broadcast; the probe never shuffle-joins") {
    val p = plan("dsi")
    // both LM count tables are <= buckets rows — they must reach the
    // corpus-sized probe as broadcasts (plus the two one-row totals);
    // a sort-merge or shuffled-hash join here would shuffle the probe
    assert(count(p, "BroadcastHashJoin") >= 2,
      s"expected both bucket count tables broadcast in:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      s"the dsir probe side must not shuffle for its joins:\n$p")
  }

  test("nb_quality: smoothing stamps ride a broadcast, the model joins once") {
    val p = plan("nbq")
    // the one-row stamps frame must be a broadcast (nested-loop on one
    // row), never a shuffle; and no cartesian anywhere
    assert(p.contains("BroadcastNestedLoopJoin") ||
      count(p, "BroadcastHashJoin") >= 1,
      s"expected the stamps broadcast in:\n$p")
    assert(!p.contains("CartesianProduct"), s"no cartesian in:\n$p")
  }

  test("dup_max: every window is pair-keyed — no unpartitioned window, no cartesian") {
    val p = plan("dpm")
    assert(!p.contains("CartesianProduct"),
      s"the seed self-join must stay keyed on the shingle hash:\n$p")
    // gaps-and-islands runs per (doc_a, doc_b, diag); a window without
    // a partition spec would funnel the corpus into one task
    assert(!p.contains("Window [") || !p.contains("windowspecdefinition()"),
      s"expected only partitioned windows in:\n$p")
  }

  test("dd_nidx: the history-index probe scans only the batch's bucket-group partitions") {
    val p = plan("dz")
    // the stored LSH index is hive-partitioned by pb; the batch's
    // distinct pb set must reach the scan as a PARTITION filter (the
    // ann_ivfx pruning discipline in text space), or every probe
    // would read the corpus-sized index
    assert(p.contains("PartitionFilters: [") && p.contains("pb#"),
      s"expected pb partition pruning on the index scan in:\n$p")
    assert(!p.contains("CartesianProduct"))
  }

  test("ppl_cut: thresholds broadcast; no corpus-keyed window anywhere") {
    val p = plan("py")
    // the #languages-row thresholds frame joins the scored stream as a
    // broadcast; the only windows run over the bounded (lang, ppl_pm)
    // frequency table — lang-keyed ntile over the corpus would be a
    // single-reducer-per-language plan
    assert(p.contains("BroadcastHashJoin"),
      s"expected the thresholds broadcast in:\n$p")
    assert(!p.contains("CartesianProduct"))
  }

  test("mm_near: banded candidates only — no cartesian over the hash frame") {
    val p = plan("mnr")
    assert(!p.contains("CartesianProduct"),
      s"image near-dup candidates must come from band buckets:\n$p")
  }

  test("knn graph: per-source window top-k, no global sort") {
    val p = plan("vkg")
    assert(p.contains("Window"), s"expected the per-source top-k window in:\n$p")
    assert(!p.contains("CartesianProduct"))
    // same hot-key bound as b6: each map task forwards at most k rows
    // per source before the window exchange — the candidates are
    // already bucket-capped, but a dense similarity cluster can still
    // pile thousands of candidate rows onto one source id
    assert(p.split('\n').exists(l =>
      l.contains("WindowGroupLimit") && l.contains("Partial")),
      s"expected a Partial-mode WindowGroupLimit in:\n$p")
  }

  test("vocab head: heap top-k over partial-agg counts, window only after the limit") {
    // the ranking window is single-partition by construction, so it may
    // only ever see the k limited rows — a plan that windows the whole
    // vocabulary would serialize it through one task
    val p = plan("zpf")
    assert(p.contains("TakeOrderedAndProject"),
      s"expected heap top-k (not a global sort) over the term counts in:\n$p")
    assert(p.contains("HashAggregate"),
      s"expected partial term-count aggregation in:\n$p")
    val lines = p.split('\n')
    val winLine = lines.indexWhere(_.contains("Window"))
    val topLine = lines.indexWhere(_.contains("TakeOrderedAndProject"))
    // top-down print: the window (executes LAST) must sit above the limit
    assert(winLine >= 0 && topLine > winLine,
      s"the rank window must consume the limited rows, not the vocabulary:\n$p")
  }

  test("prefix dups: partial-agg share counts, no window over the prefix hash") {
    val p = plan("dpx")
    assert(!p.contains("Window"), s"no window may partition on the prefix hash:\n$p")
    assert(p.contains("HashAggregate") && p.contains("Join"),
      s"expected the partial-agg + rejoin shape in:\n$p")
  }

  test("ann recall: every per-query top-k gets the partial group limit") {
    // recallAtK ranks three candidate families (brute force, LSH, IVF)
    // with the same row_number <= k shape; all of them must keep the
    // map-side partial limit, not just the first
    val p = plan("vr")
    val partials = p.split('\n').count(l =>
      l.contains("WindowGroupLimit") && l.contains("Partial"))
    assert(partials >= 3,
      s"expected >=3 Partial-mode WindowGroupLimits (one per method), got $partials in:\n$p")
    // the only nested-loop is against the broadcast query set (bounded
    // by |queryIds|), never data x data
    assert(!p.contains("CartesianProduct"),
      s"recall scoring must not cartesian on data:\n$p")
  }

  test("bloom semi join: membership filter sits under the exact join") {
    val p = plan("qb")
    assert(p.contains("bloom_might_contain"),
      s"expected the bloom probe in the fact-side filter:\n$p")
    // the probe must run BEFORE the semi join it is pruning for: in the
    // plan string the (bottom-up printed) filter appears after the join
    // node but the probe's Filter must be a descendant of the join —
    // cheap structural check: a Filter containing the probe exists and
    // the exact join is still present to scrub false positives
    assert(p.contains("LeftSemi"), s"expected the exact semi join:\n$p")
    assert(!p.contains("CartesianProduct"))
  }

  test("incremental dedup: both sides bloom-pruned before the exact anti join") {
    val p = plan("di")
    // two probes: history-bloom over the incoming batch, candidate-bloom
    // over the history scan — both sides of the exact join pre-pruned
    assert(count(p, "bloom_might_contain") >= 2,
      s"expected both the forward and reverse bloom probes:\n$p")
    assert(p.contains("LeftAnti"),
      s"expected the exact anti join scrubbing false positives:\n$p")
    assert(p.contains("Union"),
      s"expected bloom-miss rows unioned around the exact join:\n$p")
    assert(!p.contains("CartesianProduct"))
  }

  test("dedup apply: drop-set subtraction is bloom-pruned, no data cartesian") {
    // dd_keepb (best-copy retention) must hold the same shape: its
    // extra argmax is a cluster-sized partial agg, not a corpus window
    for (q <- Seq("dk", "db")) {
      val p = plan(q)
      assert(count(p, "bloom_might_contain") >= 2,
        s"$q: expected the corpus-side and drop-side bloom probes:\n$p")
      assert(p.contains("LeftAnti"),
        s"$q: expected the exact anti join scrubbing false positives:\n$p")
      assert(!p.contains("CartesianProduct"))
    }
    val pb = plan("db")
    assert(!pb.contains("Window"),
      s"dd_keepb's per-cluster argmax must be an aggregate, not a window:\n$pb")
    // the member-score fetch must ALSO be bloom-pruned (corpus side
    // filtered to the member set before its exchange): two probes for
    // the drop-set subtraction + at least one for the score semi join
    assert(count(pb, "bloom_might_contain") >= 3,
      s"dd_keepb's score fetch must bloom-prune the corpus first:\n$pb")
  }

  test("synthesized-payload rows stay single-Exchange: only the output sort shuffles") {
    // url_canon / uni_norm / html_text are zero-shuffle projections over
    // the documents scan (codegen expressions, no join, no agg) — the
    // ONLY Exchange allowed is the final orderBy's range partitioning.
    // A second Exchange would mean the synth or the transform started
    // shuffling data it never needs to move.
    // ch (sliding-window chunking), mv (AVI frame decode) and
    // mav (AVI audio demux) hold the same contract: per-document
    // narrow work, the output sort's range partitioning is the only
    // data movement.
    // gph (rule-battery filter) and c4 (line cleaning) are likewise
    // per-document: split + HOF filters, nothing corpus-wide.
    // robots (per-host rule chain) and msc (scene-cut decode) join
    // the family: the verdict/segmentation is computed per document.
    for (q <- Seq("url", "un", "hm", "ch",
        "mv", "mav", "sr", "gph", "c4", "gr",
        "sec", "rob", "msc", "cq")) {
      val p = plan(q)
      assert(opExchanges(p) <= 1,
        s"$q must shuffle only for its output sort:\n$p")
      assert(!p.contains("Join") && !p.contains("HashAggregate"),
        s"$q is a pure projection — no join/agg belongs in:\n$p")
    }
  }

  test("cns census: no cartesian, flag attachment stays id-keyed") {
    val p = plan("cns")
    assert(!p.contains("CartesianProduct"), s"no cartesian in:\n$p")
    assert(p.contains("HashAggregate"),
      s"the source rollup must aggregate partially:\n$p")
  }

  test("dsirScoreStored: frozen model broadcasts, the probe never shuffle-joins") {
    import org.apache.spark.sql.functions._
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val dir = java.nio.file.Files.createTempDirectory("dsirplan").toString
    ext.TextAnalysis.writeDsirModel(docs.limit(50), docs.limit(200),
      col("text"), col("doc_id"), dir)
    val p = ext.TextAnalysis.dsirScoreStored(docs, col("text"),
      col("doc_id"), dir).queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin"),
      s"the stored bucket table must broadcast:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      s"the probe side must not shuffle for the model join:\n$p")
  }

  test("rrf fusion: fused top-k group-limited, no cartesian") {
    val p = plan("rrf")
    assert(!p.contains("CartesianProduct"), s"no cartesian in:\n$p")
    // the fusion window re-ranks q*k-bounded rows, and the limit still
    // pushes below its sort so no task ever buffers an unbounded group
    assert(p.split('\n').exists(l =>
      l.contains("WindowGroupLimit") && l.contains("Partial")),
      s"expected a Partial-mode WindowGroupLimit for the fused top-k:\n$p")
  }

  test("hamq: store scans unshuffled into a broadcast loop, top-k group-limited") {
    val p = plan("hmq")
    // the stored code side must stream into the probe join as a bare
    // scan — broadcast nested loop with the QUERY side broadcast, the
    // 10^9-vector store never shuffled or broadcast
    assert(p.contains("BroadcastNestedLoopJoin"),
      s"expected the batch probe as a broadcast nested loop:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      s"the code store must not shuffle for the probe:\n$p")
    // per-query top-k cuts each scan task to k rows per query BEFORE
    // the q_id exchange
    assert(p.split('\n').exists(l =>
      l.contains("WindowGroupLimit") && l.contains("Partial")),
      s"expected a Partial-mode WindowGroupLimit in:\n$p")
  }

  test("dom rollup: partial-agg per host, no window, no cartesian") {
    val p = plan("dom")
    assert(!p.contains("CartesianProduct") && !p.contains("Window"),
      s"domain rollup is a pure groupBy chain:\n$p")
    // hosts are the textbook heavy-hitter key: the count/sum MUST
    // combine map-side so a million-page domain costs one row per task
    assert(p.split('\n').exists(l =>
      l.contains("HashAggregate") && l.contains("partial")),
      s"expected a partial-mode HashAggregate before the host exchange:\n$p")
  }

  test("p_ep epoch layout: every window sits above an aggregate") {
    // the epoch permutation + packer compose two scalable prefix sums;
    // each one's ONLY Window is the partition-count-sized base-offset
    // frame (PackingSpec pins the single-op property — this pins the
    // composition, where a regression could slip a corpus-sized global
    // window between the stages)
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Window => LWindow}
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val lp = ext.Packing.epochLayout(
        ext.TextAnalysis.tokenStats(docs,
          org.apache.spark.sql.functions.col("text"),
          org.apache.spark.sql.functions.col("doc_id"))
          .select("doc_id", "n_tokens"),
        org.apache.spark.sql.functions.col("doc_id"),
        org.apache.spark.sql.functions.col("n_tokens"),
        seed = "epoch1", budget = 512)
      .queryExecution.optimizedPlan
    val windows = lp.collect { case w: LWindow => w }
    assert(windows.size == 2, lp.toString)
    windows.foreach { w =>
      assert(w.child.collectFirst { case a: Aggregate => a }.nonEmpty,
        "global window over non-aggregated rows:\n" + lp)
    }
  }

  test("top terms: df broadcast (no term-keyed shuffle join) and top-k group limit") {
    val p = plan("tt")
    assert(p.contains("BroadcastHashJoin"),
      s"document-frequency side must broadcast, not shuffle on term:\n$p")
    assert(p.contains("WindowGroupLimit"),
      s"expected the per-doc top-k pushed below the window sort:\n$p")
  }

  test("shared ngrams: partial-agg doc counts, no window over the shingle hash") {
    // occurrence counts MUST be a groupBy (map-side combine absorbs a
    // boilerplate shingle shared by most of the corpus) joined back on
    // the hash key — a count window over the hash would put every
    // occurrence of the hot key into one partition
    val p = plan("dh")
    assert(!p.contains("Window"), s"no window may partition on the shingle hash:\n$p")
    assert(count(p, "HashAggregate") >= 4,
      s"expected partial+final pairs for doc counts and the per-doc fold in:\n$p")
    assert(p.contains("Join"), s"expected the counts rejoin in:\n$p")
    assert(!p.contains("CartesianProduct"))
  }

  test("b5 row decode: typed schema parse, validity filter at the scan") {
    val p = plan("b5r")
    // typed from_json only — the old formulation string-extracted each
    // field with its own get_json_object full parse. (OptimizeJsonExprs
    // splits the validity filter into schema-PRUNED parses and pushes
    // them into the scan's DataFilters: undecodable rows die at scan
    // time, before the projection's full parse.)
    assert(p.contains("from_json") && !p.contains("get_json_object"),
      s"expected typed from_json decode only in:\n$p")
    assert(p.contains("DataFilters: [(isnotnull(from_json"),
      s"expected the validity filter pushed to the scan in:\n$p")
  }

  test("semdedup: cell-blocked pair join + keep-first anti join, no cartesian") {
    val p = plan("sdd")
    // the drop set subtracts via LeftAnti; candidate pairs come from the
    // cid-keyed self-join (cells are ~stride vectors), never data×data
    assert(p.contains("LeftAnti"),
      s"expected the keep-first anti join in:\n$p")
    assert(!p.contains("CartesianProduct"),
      s"the pair search must stay cell-blocked:\n$p")
  }

  test("smp_cell: the per-cell cap pushes into WindowGroupLimit") {
    val p = plan("sl")
    assert(p.contains("WindowGroupLimit"),
      s"expected the rank<=n group-limit pushdown in:\n$p")
  }

  test("ann_ivf_idx declared row probes a partition-pruned index scan") {
    // SimilaritySpec pins the API on its own tmp index; this ties the
    // DECLARED row (through ExtQueries.ivfIndexFor's memoized build) to
    // the same pruned-scan shape: a literal cid partition predicate and
    // no per-query full-corpus re-assignment (no Window in the probe).
    val p = plan("vix")
    assert(p.contains("PartitionFilters") && p.contains("cid"),
      s"expected cid partition pruning on the declared probe:\n$p")
    assert(!p.contains("Window"),
      s"the indexed probe must not re-rank the corpus per query:\n$p")
  }

  test("cks: narrow sentence chunking — no shuffle, no join, no window") {
    val p = plan("cks")
    // the whole sentence/window machinery lives in the array world:
    // any Exchange/join/window here means the per-doc work leaked into
    // a corpus-wide operator. Exactly ONE exchange is allowed — the
    // declared row's orderBy (range partitioning); a second would be a
    // leaked hash shuffle.
    assert(opExchanges(p) <= 1 && !p.contains("hashpartitioning"),
      s"chunking must not shuffle (orderBy's range exchange aside):\n$p")
    assert(!p.contains("Join") && !p.contains("Window [") &&
      !p.contains("CartesianProduct"),
      s"chunking is a pure projection chain:\n$p")
    assert(p.contains("Generate explode"),
      s"expected the single chunk explode:\n$p")
  }

  test("cdc: capped contamination stays partial-agg + hash joins") {
    val p = plan("cdc")
    assert(!p.contains("CartesianProduct"),
      s"no cartesian in the probe join:\n$p")
    // the stop-shingle doc-frequency count must combine map-side — the
    // capped key is exactly the heavy one being removed
    assert(p.split('\n').exists(l =>
      l.contains("HashAggregate") && l.contains("partial_count")),
      s"expected a partial-agg doc-frequency count in:\n$p")
    // one InMemoryTableScan family: the exploded shingle frame persists
    // once for its three consumers instead of re-running the render
    assert(p.contains("InMemoryTableScan"),
      s"expected the persisted shingle frame in:\n$p")
  }

  test("compaction preserves partition pruning on the cell and bucket probes") {
    // VERDICT r16 #4's plan half: after the generation swap the probe
    // scans must still prune — a compactor that lost the hive layout
    // (e.g. a flat rewrite) would silently turn every probe into a
    // corpus-sized index read and no row-level spec would notice.
    import org.apache.spark.sql.functions._
    val root = java.nio.file.Files.createTempDirectory("cmpplan").toString
    val emb = ((0L until 5L).map(i => i -> Array(1f, i * 0.01f, 0f, 0f)) ++
      (5L until 10L).map(i => i -> Array((i - 5) * 0.01f, 1f, 0f, 0f)))
    ext.Similarity.writeCellIndex(
      spark.createDataFrame(emb).toDF("vec_id", "embedding"),
      "vec_id", "embedding", s"$root/ann", centroidStride = 5)
    ext.Similarity.compactCellIndex(spark, s"$root/ann")
    val pc = ext.Similarity.tagNearIndex(
        spark.createDataFrame(Seq(99L -> Array(3f, 0f, 0f, 0f)))
          .toDF("vec_id", "embedding"),
        "vec_id", "embedding", s"$root/ann", threshold = 0.9)
      .queryExecution.executedPlan.toString
    graft.CacheScope.release()
    assert(pc.contains("PartitionFilters") && pc.contains("cid"),
      s"expected cid partition pruning to survive compaction:\n$pc")
    val docs = spark.read.parquet(s"$sf/documents.parquet").limit(50)
    ext.Dedup.writeLshIndex(docs, col("text"), col("doc_id"), s"$root/lsh")
    ext.Dedup.compactLshIndex(spark, s"$root/lsh")
    val pl = ext.Dedup.tagNearLshIndex(docs.limit(3), col("text"),
        col("doc_id"), s"$root/lsh")
      .queryExecution.executedPlan.toString
    graft.CacheScope.release()
    assert(pl.contains("PartitionFilters: [") && pl.contains("pb#"),
      s"expected pb partition pruning to survive compaction:\n$pl")
  }

  test("lm3: partial-agg count tables, no data cartesian") {
    // five vocabulary-sized count tables built with map-side combine;
    // the only nested-loop is the broadcast one-row N — never data x data
    val p = plan("lm3")
    assert(count(p, "HashAggregate") >= 10, // partial+final per count table
      s"expected partial+final pairs for the trigram count tables in:\n$p")
    assert(!p.contains("CartesianProduct"),
      s"lm3 must not cartesian on data:\n$p")
  }

  test("ann_filtered: attribute predicate inside the cid-pruned cell scan") {
    // filtered ANN must push the label constraint INTO the same scan
    // the cid partition pruning runs on — filter-after-topk would
    // under-fill k, filter-in-a-second-scan would double the IO — and
    // the top-k must stay fused (no global sort, no window).
    val p = plan("vf")
    assert(p.contains("PartitionFilters") && p.contains("cid"),
      s"expected cid partition pruning on the filtered probe:\n$p")
    assert(p.contains("PushedFilters") && p.contains("EqualTo(label,3)"),
      s"expected the label predicate pushed to the cell scan:\n$p")
    assert(p.contains("TakeOrderedAndProject"),
      s"expected the fused top-k to survive the predicate:\n$p")
    assert(!p.contains("Window"),
      s"the filtered probe must not re-rank the corpus per query:\n$p")
  }

  test("pq adc: broadcast codebook and table, partial-agg codes, fused top-k") {
    // both wide exchanges carry CODES (m small ints per vector), never
    // the raw float vectors: the argmin encoding aggregates partially
    // before its (vid, s) exchange, the ADC distance table joins as a
    // broadcast, and the final ranking fuses into TakeOrderedAndProject
    // instead of a global sort or a window
    val p = plan("vpq")
    // the argmin's min(struct) buffer is not hash-aggregable, so the
    // encoding plans as a partial+final SortAggregate pair — still
    // map-side combined; the ADC sum gets the usual HashAggregate pair
    assert(count(p, "Aggregate") >= 4,
      s"expected partial+final pairs for encoding and ADC sum in:\n$p")
    assert(p.contains("partial_min(struct") && count(p, "HashAggregate") >= 2,
      s"expected a combined argmin and a hash ADC sum in:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"expected the ADC table joined as a broadcast in:\n$p")
    assert(count(p, "Exchange hashpartitioning") <= 2,
      s"expected only the two code-sized exchanges in:\n$p")
    assert(p.contains("TakeOrderedAndProject"),
      s"expected limit+sort fusion in:\n$p")
    assert(!p.contains("Window") && !p.contains("CartesianProduct"),
      s"the PQ path must not window or cartesian:\n$p")
  }

  test("pq index probe: zero-exchange scan of the stored codes, fused top-k") {
    // the ADC distance table is a collected literal map, so serving is
    // ONE distributed pass over the compressed codes — no join, no
    // window, no aggregation exchange, top-k fused into the scan
    val p = plan("vpx")
    assert(p.contains("TakeOrderedAndProject"),
      s"expected limit+sort fusion in:\n$p")
    assert(count(p, "Exchange hashpartitioning") == 0,
      s"the code scan must not shuffle at all:\n$p")
    assert(!p.contains("Join") && !p.contains("Window"),
      s"ADC serving must not join or window:\n$p")
  }

  test("ivfpq probe: partition-pruned code scan, literal ADC, fused top-k") {
    // coarse cells prune the codes scan to nprobe partitions; the
    // per-cell ADC tables are a collected literal map, so scoring is
    // one pass over the pruned compressed codes — no join, no window,
    // no aggregation exchange, top-k fused into the scan
    val p = plan("vq")
    assert(p.contains("PartitionFilters") && p.contains("cid"),
      s"expected cid partition pruning on the codes scan:\n$p")
    assert(p.contains("TakeOrderedAndProject"),
      s"expected limit+sort fusion in:\n$p")
    assert(count(p, "Exchange hashpartitioning") == 0,
      s"the pruned code scan must not shuffle at all:\n$p")
    assert(!p.contains("Join") && !p.contains("Window"),
      s"ADC serving must not join or window:\n$p")
  }

  test("cms sketch: partial sketches move through the exchange, not keys") {
    val p = plan("cms")
    // partial + final aggregate pair over the long[] buffer — the only
    // data-sized exchange carries one sketch per partition
    assert(count(p, "Aggregate") >= 2,
      s"expected partial+final sketch aggregation in:\n$p")
    assert(!p.contains("Window") && !p.contains("Join"),
      s"the sketch path must not window or join:\n$p")
  }

  test("histogram quantile: one data-sized shuffle, windows over bins only") {
    val p = plan("qh")
    // (key,bin) partial+final count pair, then per-key windows over at
    // most #bins rows, then the tiny final groupBy — no join, no sort
    // of the raw data
    assert(count(p, "HashAggregate") >= 4,
      s"expected two aggregate pairs (bin counts + quantile fold) in:\n$p")
    assert(count(p, "Window") == 2, s"expected the two bin windows in:\n$p")
    assert(!p.contains("Join"), s"histogram path must not join:\n$p")
  }

  test("deep decode: narrow projection — no join, no window, no shuffle but the sort") {
    val p = plan("b5d")
    assert(!p.contains("Join") && !p.contains("Window"),
      s"encode→decode must stay per-row:\n$p")
    assert(opExchanges(p) == 1, // the final orderBy only
      s"expected only the output-order exchange in:\n$p")
    // parse-once: without the parseOnce fence the guard filters are
    // pushed below the parse projection with the FAILFAST parse
    // substituted into each — every row paid the full envelope parse
    // 3-4x (measured 3.5 s -> 2.1 s at sf0.1)
    assert(count(p, "from_json") == 1,
      s"expected exactly one envelope parse in:\n$p")
  }

  test("strict decode: exactly one FAILFAST parse feeds guards and projection") {
    val p = plan("b5s")
    assert(count(p, "from_json") == 1,
      s"expected exactly one envelope parse in:\n$p")
    assert(!p.contains("Join") && !p.contains("Window"))
  }

  test("topk per account: partial WindowGroupLimit runs before the exchange") {
    // the hot-account bound: each map task forwards at most k rows per
    // account, so one account owning most of the corpus cannot flood a
    // single window partition — losing the Partial phase here would be
    // the b6 scale bug
    val p = plan("b6")
    val lines = p.split('\n')
    // anchor to the WindowGroupLimit line itself: a bare indexOf("Partial")
    // would match any Partial-mode operator elsewhere in the plan text
    val partialLine = lines.indexWhere(l =>
      l.contains("WindowGroupLimit") && l.contains("Partial"))
    val exchangeLine = lines.indexWhere(_.contains("Exchange hashpartitioning"))
    assert(partialLine >= 0,
      s"expected a Partial-mode WindowGroupLimit in:\n$p")
    // plans print top-down, so the partial (which executes FIRST, below
    // the exchange) must appear AFTER the account exchange in the text
    assert(exchangeLine >= 0 && partialLine > exchangeLine,
      s"partial group limit must sit below the account exchange in:\n$p")
  }

  test("group cap: rank predicate pushed into WindowGroupLimit at the declared row") {
    val p = plan("sc")
    assert(p.contains("WindowGroupLimit"),
      s"expected the per-group limit below the window sort in:\n$p")
  }

  test("pii redaction: narrow per-row map — no join, no window, only the sort exchange") {
    val p = plan("pi")
    assert(!p.contains("Join") && !p.contains("Window"),
      s"redaction must stay per-row:\n$p")
    assert(opExchanges(p) == 1, // the final orderBy only
      s"expected a single (sort) exchange in:\n$p")
  }

  test("line dedup: partial-agg distinct-doc counts, no window over the line hash") {
    val p = plan("dn")
    // document frequency = groupBy(lh).count_distinct(doc_id): Spark
    // plans it as two partial-aggregating phases ((lh, doc_id) then
    // lh), so a line in half the corpus collapses map-side instead of
    // landing in one window partition; counts rejoin on lh
    assert(!p.contains("Window"), s"no window may partition on the line hash:\n$p")
    assert(count(p, "HashAggregate") >= 6,
      s"expected the distinct pair + count pair + reassembly pair in:\n$p")
    assert(p.contains("Join"), s"expected the doc-frequency rejoin in:\n$p")
    assert(!p.contains("CartesianProduct"))
  }

  test("ngram contamination: partial-agg train set, no window over the shingle hash") {
    val p = plan("dng")
    // the train shingle set is a groupBy-distinct on the uniform hash
    // (map-side combine absorbs boilerplate shingles) and membership is
    // an equi-join probe — a window-over-s formulation would funnel a
    // corpus-wide shingle into one partition
    assert(!p.contains("Window"), s"no window may partition on the shingle hash:\n$p")
    assert(count(p, "HashAggregate") >= 4,
      s"expected the distinct pair + per-doc fold pair in:\n$p")
    assert(p.contains("Join"), s"expected the train-membership probe join in:\n$p")
    assert(!p.contains("CartesianProduct"))
  }

  test("duplicate spans: partial-agg shingle counts, doc-keyed island windows only") {
    val p = plan("dsp")
    // occurrence counts are a groupBy(sh) joined back (skew-safe); the
    // only windows left are the per-document lag + running-sum island
    // pass (a window partitioned on sh, or an unpartitioned global
    // window, would be the scale bug)
    assert(count(p, "Window") == 2, s"expected only the two island windows in:\n$p")
    assert(p.contains("partitionBy=[doc_id") ||
      p.contains("[doc_id#"), s"windows must be doc-partitioned in:\n$p")
    assert(count(p, "HashAggregate") >= 2,
      s"expected partial+final shingle-count aggregation in:\n$p")
    assert(p.contains("Join"), s"expected the over-threshold key join in:\n$p")
    assert(!p.contains("CartesianProduct"))
  }

  test("scd2: one user-keyed lead window, no join") {
    val p = plan("qz")
    assert(!p.contains("Join"), s"scd2 must not join:\n$p")
    assert(count(p, "Window") == 1, s"expected the single lead window in:\n$p")
  }

  test("event funnel: dependent stage windows share one user exchange") {
    val p = plan("qf")
    assert(!p.contains("Join"), s"funnel must not join:\n$p")
    // three dependent min-windows + the per-user fold; only ONE
    // data-sized exchange (user_id) feeds them all
    assert(count(p, "Window") == 3, s"expected the three stage windows in:\n$p")
  }

  test("token rarity: partial-agg doc-frequency, no window over the token hash") {
    // "the" occurs in ~every document — the hot key a count window
    // over th cannot absorb; the groupBy(th) pair collapses it map-side
    val p = plan("rar")
    assert(!p.contains("Window"), s"no window may partition on the token hash:\n$p")
    assert(count(p, "HashAggregate") >= 4,
      s"expected partial+final pairs for doc frequency and the per-doc fold in:\n$p")
    assert(p.contains("Join"), s"expected the doc-frequency rejoin in:\n$p")
    assert(!p.contains("CartesianProduct"))
  }

  test("mixture: tiny rate table broadcast, corpus side stays a narrow filter") {
    val p = plan("sm")
    assert(p.contains("BroadcastHashJoin"),
      s"expected the per-group rates broadcast back in:\n$p")
    assert(!p.contains("Window") && !p.contains("SortMergeJoin"),
      s"the corpus side must not shuffle for the rate join:\n$p")
  }

  test("kmeans: codebook broadcast for assignment, means aggregate partially") {
    val p = plan("vkm")
    // both assignment passes broadcast the (bounded) codebook; the
    // corpus never shuffles to meet it
    assert(count(p, "BroadcastNestedLoopJoin") >= 2,
      s"expected broadcast codebook assignment in:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      s"the corpus must not shuffle for assignment in:\n$p")
    // per-(cell,dim) means: partial+final pair over uniform keys
    assert(count(p, "HashAggregate") >= 2,
      s"expected partial+final mean aggregation in:\n$p")
  }

  test("bm25: query terms and df broadcast, top-k fused into WindowGroupLimit") {
    val p = plan("bm")
    // the postings frame meets the term table and the (N,S) stamps via
    // broadcast only — no term-keyed shuffle join of the corpus side
    assert(count(p, "BroadcastHashJoin") >= 2,
      s"expected broadcast df/query-term joins in:\n$p")
    assert(p.contains("BroadcastNestedLoopJoin"),
      s"expected the one-row (N,S) stamp broadcast in:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"the corpus side must never shuffle to meet the query batch in:\n$p")
    assert(p.contains("WindowGroupLimit"),
      s"expected partial top-k before the per-query exchange in:\n$p")
  }

  test("pagerank: co-partitioned sweeps — shuffle joins on keys, no broadcast of ranks") {
    val p = plan("prk")
    // the N stamp broadcasts; the rank⋈edge joins are key-keyed shuffle
    // joins (rank frames are data-sized — broadcasting them would be
    // the 100 TB mistake), and nothing plans a cartesian
    assert(p.contains("BroadcastNestedLoopJoin"),
      s"expected the one-row count stamp broadcast in:\n$p")
    assert(!p.contains("CartesianProduct"), s"cartesian in:\n$p")
    // per-sweep in-mass aggregation is partial+final
    assert(count(p, "HashAggregate") >= 10,
      s"expected partial+final agg per sweep in:\n$p")
  }

  test("hits: sweeps checkpoint distributed, final join over RDD scans, never a collect") {
    // r21: each sweep localCheckpoints (the recursive auth/hub lineage
    // replayed overlapping subtrees — ~2,000-node final plan, measured
    // 5.9 s → 3.1 s isolated at sf0.1), so the broadcast L-inf maxima
    // now live in the per-sweep jobs; the property pinned HERE is what
    // remains visible in the final plan: both sides scan the
    // checkpointed RDD blocks (data stayed distributed — a driver-side
    // collect would have no ExistingRDD to scan), the join is key-keyed,
    // and nothing plans a cartesian. The maxima-never-collect property
    // itself is pinned structurally: Graph.scala contains no collect()
    // (grep-asserted below) — the max can only travel as a plan-side
    // broadcast.
    val p = plan("hits")
    assert(count(p, "Scan ExistingRDD") >= 2,
      s"expected both checkpointed sweep outputs as RDD scans in:\n$p")
    assert(!p.contains("CartesianProduct"), s"cartesian in:\n$p")
    val src = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("src/main/scala/graft/ext/Graph.scala")),
      java.nio.charset.StandardCharsets.UTF_8)
    assert(!src.contains(".collect()"),
      "Graph operators must never collect data to the driver")
  }

  test("mrl: probe batch broadcasts; both rankings keep the partial group limit") {
    val p = plan("mrl")
    assert(p.contains("BroadcastNestedLoopJoin"),
      s"expected broadcast probe batch in:\n$p")
    assert(count(p, "WindowGroupLimit") >= 2,
      s"expected partial top-k on both the full and prefix rankings in:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"corpus must not shuffle to meet probes in:\n$p")
  }

  test("hamr rerank: shortlist broadcasts, the corpus never does") {
    val p = plan("hmr")
    // coarse stage: probe codes ride the nested-loop broadcast; rerank
    // stage: the coarseK*|probes| shortlist and the probe vectors ride
    // hash broadcasts onto one more corpus scan — the corpus side is
    // never the build side anywhere
    assert(p.contains("BroadcastNestedLoopJoin"),
      s"expected the broadcast code scan in:\n$p")
    assert(count(p, "BroadcastHashJoin") >= 2,
      s"expected broadcast shortlist + probe-vector joins in:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"the corpus must never shuffle to meet the shortlist in:\n$p")
    assert(count(p, "WindowGroupLimit") >= 2,
      s"expected partial top-k at both stages in:\n$p")
  }

  test("no inventory query plans a cartesian product") {
    // ann_brute/ann_lsh intentionally broadcast-cross-join ONE query
    // row against the corpus — a bounded nested loop, not an all-pairs
    // blowup — so they are exempt.
    val exempt = Set("vbf", "vl")
    SparkEntry.queries.keys.filterNot(exempt).foreach { name =>
      val p = plan(name)
      assert(!p.contains("CartesianProduct"),
        s"$name plans a CartesianProduct:\n$p")
    }
  }

  test("stored-tokenizer rows ua/wa: one narrow encode pass, no joins or aggregates") {
    Seq("ua", "wa").foreach { n =>
      val p = plan(n)
      assert(!p.contains("Join"),
        s"$n must not join — the model ships in the encode closure:\n$p")
      assert(!p.contains("HashAggregate"),
        s"$n must not aggregate — fingerprints are in-row arithmetic:\n$p")
    }
  }

  test("pa materialization: every window above an aggregate, partial bin agg") {
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Window => LWindow}
    val lp = SparkEntry.queries("pa")(spark, "/root/testdata/sf0.001")
      .queryExecution.optimizedPlan
    // the ONLY Window is packSequences' partition-count base-offset
    // prefix sum; window-row assembly is a bin-keyed aggregate
    // (budget-bounded sort_array), never a data-sized Window
    val windows = lp.collect { case w: LWindow => w }
    assert(windows.size == 1, lp.toString)
    windows.foreach { w =>
      assert(w.child.collectFirst { case a: Aggregate => a }.nonEmpty,
        "global window over non-aggregated rows:\n" + lp)
    }
    graft.CacheScope.release()
  }

  test("pb/pm best-fit rows: strategy broadcasts, no corpus window, no cartesian") {
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Window => LWindow}
    Seq("pb", "pm").foreach { n =>
      val q = SparkEntry.queries(n)(spark, "/root/testdata/sf0.001")
      val lp = q.queryExecution.optimizedPlan
      // the only Windows are the packers' partition-count base-offset
      // prefix sums (partition-total rows, never corpus rows)
      val windows = lp.collect { case w: LWindow => w }
      windows.foreach { w =>
        assert(w.child.collectFirst { case a: Aggregate => a }.nonEmpty,
          s"$n: global window over non-aggregated rows:\n" + lp)
      }
      val p = q.queryExecution.executedPlan.toString
      assert(!p.contains("CartesianProduct"), s"$n:\n$p")
      // pb joins only histogram-sized strategy/base tables — nothing
      // may sort-merge; pm ADDITIONALLY joins the corpus-sized fenced
      // ids on the uniform doc_id hash, where a sort-merge IS the
      // right 100 TB plan, so only the broadcast presence is pinned
      if (n == "pb")
        assert(!p.contains("SortMergeJoin"),
          s"$n: strategy/base tables are histogram-sized and must broadcast:\n$p")
      assert(p.contains("BroadcastHashJoin"), s"$n:\n$p")
      graft.CacheScope.release()
    }
  }

  test("ms similarity gate: embedding sides pre-aggregate, no window, no cartesian") {
    val p = plan("ms")
    // both embedding frames collapse to one row per key (partial +
    // final agg each) BEFORE their join — a hot caption or raw-URL
    // fan never reaches the join build side un-aggregated; the pair
    // gate itself is pure row arithmetic, so no Window of any size
    assert(count(p, "HashAggregate") >= 4,
      s"embedding sides must pre-aggregate to one row per key:\n$p")
    assert(!p.contains("Window"),
      s"the similarity gate is per-row arithmetic, never a window:\n$p")
    assert(!p.contains("CartesianProduct"), s"ms:\n$p")
  }

  test("md pair dedup: capped shingle counts partial-agg, no window anywhere") {
    val p = plan("md")
    // candidates come only from the capped caption shingles (partial
    // agg df counts + the capped self-join); the same_image flag joins
    // back on the uniform struct pair key — a hot image contributes
    // nothing, and nothing windows
    assert(count(p, "HashAggregate") >= 4,
      s"df counts and sizes must aggregate partially:\n$p")
    assert(!p.contains("Window"),
      s"pair dedup must never window:\n$p")
    assert(!p.contains("CartesianProduct"), s"md:\n$p")
  }

  test("md pair dedup: at most 9 Spark jobs once warm (the sizes ride the rows)") {
    def run(): Unit = {
      SparkEntry.queries("md")(spark, sf).queryExecution.toRdd.foreach(_ => ())
      graft.CacheScope.release()
    }
    run() // warm: the first run's jobs include one-off work
    val jobs = jobsDuring(run())
    // 8 after the size frame and its two joins went; 16 before
    assert(jobs <= 9, s"md ran $jobs Spark jobs")
  }

  test("history-tag rows mic/mac: history never shuffles, hit set broadcasts back") {
    Seq("mic", "mac").foreach { n =>
      val p = plan(n)
      assert(p.contains("BroadcastNestedLoopJoin"),
        s"$n probe must be a broadcast nested loop over the history scan:\n$p")
      assert(!p.contains("SortMergeJoin"),
        s"$n must not sort-merge — batch and hit set are both bounded:\n$p")
    }
  }

  test("hng mining: corpus scans once, positives drop pre-cut, top-k group-limited") {
    val p = plan("hng")
    assert(p.contains("BroadcastNestedLoopJoin"),
      s"queries must broadcast over the one corpus scan:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      s"the corpus must not shuffle for mining:\n$p")
    assert(p.split('\n').exists(l =>
      l.contains("WindowGroupLimit") && l.contains("Partial")),
      s"expected a Partial-mode WindowGroupLimit for the per-query cut:\n$p")
  }
}
