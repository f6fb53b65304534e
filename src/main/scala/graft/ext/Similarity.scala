package graft.ext

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, LongType, StructField, StructType}

/** Similarity search over an embedding column (`array<float>`).
  *
  * Float discipline: embeddings are quantized to integers
  * (`round(x * 1e6)` per component) before any arithmetic, so dot
  * products and squared norms are EXACT integer sums — identical under
  * any partitioning, any engine, any summation order. Only the final
  * cosine (one int division + one sqrt) touches floating point, and
  * that is a single deterministic IEEE operation in both engines.
  */
object Similarity {

  /** Quantized embedding: array<long> of round(x*1e6). */
  def quantize(emb: Column): Column =
    transform(emb, x => round(x.cast("double") * 1e6).cast("long"))

  /** [[quantize]] on the driver, for a caller-supplied query vector. */
  private[ext] def quantizeVec(v: Seq[Float]): Seq[Long] =
    v.map(x => roundHalfUp(x.toDouble * 1e6))

  /** Spark's `round` on a double: HALF_UP on the shortest decimal form,
    * which `math.round` gets wrong for negative half-way values. */
  private def roundHalfUp(d: Double): Long =
    java.math.BigDecimal.valueOf(d)
      .setScale(0, java.math.RoundingMode.HALF_UP).longValue

  /** THE quantized frame every scoring operator starts from:
    * (vid, qe, attrs…, n2) — `qe` the [[quantize]]d embedding, `n2` its
    * exact squared norm, computed once per vector rather than once per
    * candidate pair. */
  private def quantized(df: DataFrame, id: Column, emb: Column,
                        attrs: Seq[String] = Nil): DataFrame =
    df.select(id.as("vid") +: quantize(emb).as("qe") +: attrs.map(col): _*)
      .withColumn("n2", dotQ(col("qe"), col("qe")))

  /** A quantized frame as the QUERY side of a pair: (idAs, qv, qn2,
    * extra…), so it joins a candidate frame (vid, qe, n2) without name
    * clashes and [[pairCosine]] scores the pair. */
  private def asQuery(qz: DataFrame, idAs: String,
                      extra: Column*): DataFrame =
    qz.select(Seq(col("vid").as(idAs), col("qe").as("qv"),
      col("n2").as("qn2")) ++ extra: _*)

  /** Exact cosine of a candidate (qe, n2) against a query (qv, qn2). */
  private def pairCosine: Column =
    cosineQNormed(col("qe"), col("qv"), col("n2"), col("qn2")).as("cosine")

  /** THE ranked cut: per `key`, the `n` rows first by `order`, ties to
    * the smallest `tie`, numbered in the int column `rankCol`. Spark
    * plans the `row_number` filter as a partial WindowGroupLimit, so at
    * most `n` rows per key and task reach the key's exchange. */
  private def topPer(df: DataFrame, key: String, order: Column, tie: String,
                     n: Int, rankCol: String = "rnk"): DataFrame =
    df.withColumn(rankCol, row_number().over(
        Window.partitionBy(key).orderBy(order, col(tie).asc)))
      .where(col(rankCol) <= n)

  /** INT8 symmetric per-vector quantization — the standard 4× storage /
    * bandwidth compression applied to an embedding corpus before
    * serving (each vector carries one scale: `q_i = round(127·x_i/m)`,
    * `m = max|x|`). Computed entirely on the shared 1e-6 integer grid
    * so both engines agree bit-for-bit: `xq = round(x·1e6)`,
    * `m = max|xq|`, magnitudes quantize as
    * `qa = (127·|xq| + m div 2) div m` (round-half-up on non-negative
    * integers — floor = truncation in both engines), sign reapplied
    * outside the division. A zero vector quantizes to zeros.
    *
    * Output per vector: `max_um` (the scale, 1e-6 units), `q8_fp` (the
    * position-weighted code fingerprint `Σ q_i·(i+1)` — pins every code
    * exactly without shipping the array through the oracle compare),
    * `n_sat` (codes at ±127 — the saturation census), and `err_um`
    * (total reconstruction error `Σ | |xq| − (qa·m) div 127 |` in 1e-6
    * units — the quality number a deployment tracks per corpus slice).
    * A pure narrow projection: HOF arithmetic inside whole-stage
    * codegen, zero shuffles, scan-speed at any corpus size. */
  def quantizeInt8(df: DataFrame, id: Column, emb: Column): DataFrame =
    df.select(id.as("vec_id"), quantize(emb).as("__xq"))
      .withColumn("max_um",
        coalesce(array_max(transform(col("__xq"), x => abs(x))), lit(0L)))
      .withColumn("__q8", expr(
        "transform(__xq, x -> CASE WHEN max_um = 0 THEN 0L ELSE " +
          "(CASE WHEN x < 0 THEN -1L ELSE 1L END) * " +
          "((abs(x) * 127 + max_um div 2) div max_um) END)"))
      .select(col("vec_id"), col("max_um"),
        expr("aggregate(transform(__q8, (q, i) -> q * (CAST(i AS BIGINT) + 1))," +
          " 0L, (a, x) -> a + x)").as("q8_fp"),
        expr("CAST(size(filter(__q8, q -> abs(q) = 127)) AS BIGINT)")
          .as("n_sat"),
        expr("aggregate(__xq, 0L, (a, x) -> a + CASE WHEN max_um = 0 THEN 0L " +
          "ELSE abs(abs(x) - (((abs(x) * 127 + max_um div 2) div max_um) " +
          "* max_um) div 127) END)").as("err_um"))

  /** 1-BIT sign binarization — the 32× compression tier below
    * [[quantizeInt8]] (binary-quantized retrieval: Hamming distance
    * over sign bits ranks by approximate angle, the standard coarse
    * pass before an exact or int8 rerank). Signs are taken on the
    * shared 1e-6 integer grid (`round(x·1e6) > 0` — a component that
    * rounds to 0 binarizes to 0), and the bit-vector packs LITTLE-
    * ENDIAN into two non-negative 32-bit halves so no arithmetic ever
    * touches a long's sign bit in either engine:
    * `b_lo = Σ_{i<32} bit_i·2^i`, `b_hi = Σ_{32≤i<64} bit_i·2^(i−32)`.
    * Dimensions beyond 64 are rejected; shorter vectors leave the high
    * bits 0. A pure narrow projection — HOF arithmetic in whole-stage
    * codegen, zero shuffles, scan-speed at any corpus size.
    *
    * Output: (vec_id, b_hi, b_lo, n_pos) — n_pos the popcount, the
    * balance census a deployment tracks (sign bits near 50/50 keep
    * Hamming distances discriminative). */
  def binarize1Bit(df: DataFrame, id: Column, emb: Column): DataFrame =
    df.select(id.cast("long").as("vec_id"), quantize(emb).as("__xq0"))
      // The width guard wraps the SHARED input column, not any single
      // output's CASE: every packed column derives from __xq, so even
      // after Catalyst prunes outputs (a caller selecting only
      // b_lo/n_pos) the surviving column still carries the
      // raise_error — a >64-dim vector can never silently truncate to
      // its low 32 bits (ADVICE r15).
      .select(col("vec_id"),
        expr("CASE WHEN size(__xq0) > 64 THEN " +
          "raise_error('binarize1Bit: dim > 64') ELSE __xq0 END")
          .as("__xq"))
      .select(col("vec_id"),
        expr("aggregate(transform(slice(__xq, 33, 32), (x, i) -> " +
          "CASE WHEN x > 0 THEN shiftleft(CAST(1 AS BIGINT), i) " +
          "ELSE CAST(0 AS BIGINT) END), CAST(0 AS BIGINT), (a, b) -> a + b)")
          .as("b_hi"),
        expr("aggregate(transform(slice(__xq, 1, 32), (x, i) -> " +
          "CASE WHEN x > 0 THEN shiftleft(CAST(1 AS BIGINT), i) " +
          "ELSE CAST(0 AS BIGINT) END), CAST(0 AS BIGINT), (a, b) -> a + b)")
          .as("b_lo"),
        expr("CAST(size(filter(__xq, x -> x > 0)) AS BIGINT)").as("n_pos"))

  /** Brute-force HAMMING top-k over [[binarize1Bit]] codes — binary-
    * quantized retrieval's coarse ranking pass. Both frames binarize
    * first (64 bits = 16 bytes/vector), the query batch rides a
    * BROADCAST nested loop against the corpus scan — at 10⁹ corpus
    * vectors the probe side streams 16-byte codes at memory bandwidth
    * with two XOR+popcount ops per pair, no shuffle of the corpus —
    * and the per-query top-k is a `row_number` window Spark executes
    * as a partial WindowGroupLimit. Ties break by vec_id, so the
    * result is total. Output: (q_id, rnk, vec_id, ham). */
  def hammingTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
      embCol: String, k: Int = 10): DataFrame =
    hammingTopKCore(binarize1Bit(corpus, col(idCol), col(embCol)),
      binarize1Bit(queries, col(idCol), col(embCol)), k)

  /** The shared probe core of [[hammingTopK]], [[hammingTopKIndexed]]
    * and [[binaryRecallAtK]] — all must rank with the SAME distance,
    * tie-break, and output types, so the broadcast + window block
    * lives once. `store` and `qcodes` are packed-code frames (vec_id,
    * b_hi, b_lo, ...); `excludeSelf` drops a query's own stored code
    * from its ranking (the recall evaluation's convention — serving
    * probes keep it, a self-match at distance 0 is information). */
  private def hammingTopKCore(store: DataFrame, qcodes: DataFrame,
      k: Int, excludeSelf: Boolean = false): DataFrame = {
    val qb = qcodes.select(col("vec_id").as("q_id"),
      col("b_hi").as("__qhi"), col("b_lo").as("__qlo"))
    val all = store.crossJoin(broadcast(qb))
      .select(col("q_id"), col("vec_id"),
        expr("CAST(bit_count(b_hi ^ __qhi) + bit_count(b_lo ^ __qlo) " +
          "AS BIGINT)").as("ham"))
    val ham = if (excludeSelf) all.where(col("vec_id") =!= col("q_id")) else all
    topPer(ham, "q_id", col("ham").asc, "vec_id", k)
      .select(col("q_id"), col("rnk").cast("long").as("rnk"), col("vec_id"),
        col("ham"))
  }

  /** Coarse-Hamming + exact rerank — the standard two-stage serving
    * pattern for binary-quantized retrieval (rank everything by 16-byte
    * code distance, then spend exact arithmetic only on the shortlist):
    * per probe, the [[hammingTopK]] top-`coarseK` shortlist is reranked
    * by the exact quantized cosine and cut to `k`. Ties break by vec_id
    * at both stages, so the result is engine-exact.
    *
    * Scale shape: stage 1 is the broadcast code scan (no corpus
    * shuffle); stage 2 touches `coarseK·|probes|` full vectors — the
    * SHORTLIST broadcasts back onto one more corpus scan (a
    * broadcast-hash semi-prune: the corpus side never shuffles and
    * never broadcasts — at 10⁹ vectors only the shortlist is small),
    * and the probe vectors ride a second probe-sized broadcast.
    *
    * `coarseK = 0` (the default) means `32·k` — set from the MEASURED
    * 1-bit recall curve, not a guess: [[binaryRecallCurve]] on the
    * synthetic 128-dim corpus at sf0.1 reads recall@10 = 17/50 at
    * coarseK = 2k, 30/50 at 8k, 42/50 at 24k, 47/50 at 32k — the knee
    * where the curve flattens (sf0.01: 49/50 by 24k). 1-bit recall
    * depends on corpus geometry AND size (the same sweep at sf0.01
    * clears 8/10 by 6k), so a deployment re-measures its own curve
    * with [[binaryRecallCurve]] and passes the smallest coarseK past
    * its plateau; the `hrc` row keeps the measurement on the
    * correctness surface. Output: (q_id, rnk, vec_id, ham, cosine). */
  def hammingRerank(corpus: DataFrame, probes: DataFrame, idCol: String,
      embCol: String, coarseK: Int = 0, k: Int = 3): DataFrame = {
    val ck = if (coarseK > 0) coarseK else 32 * k
    require(ck >= k, "hammingRerank: coarseK must be >= k")
    val coarse = hammingTopK(corpus, probes, idCol, embCol, ck)
    def vecs(df: DataFrame) = quantized(df, col(idCol).cast("long"), col(embCol))
    val scored = vecs(corpus).withColumnRenamed("vid", "vec_id")
      .join(broadcast(coarse), "vec_id")
      .join(broadcast(asQuery(vecs(probes), "q_id")), "q_id")
      .select(col("q_id"), col("vec_id"), col("ham"), pairCosine)
    topPer(scored, "q_id", col("cosine").desc, "vec_id", k)
      .select(col("q_id"), col("rnk").cast("long").as("rnk"), col("vec_id"),
        col("ham"), col("cosine"))
  }

  /** BATCH probe of the STORED code index — the (store | probe) seat
    * the embedding family already has (vbq over the IVF store) filled
    * for the 1-bit stack: a query FRAME of embeddings against the
    * [[writeB1Codes]] artifact, per-query Hamming top-k fused into ONE
    * job. Completes the binary matrix: [[hammingTopK]] is the brute
    * in-memory pass, [[tagNearB1Codes]] the boolean gate, this the
    * serving probe over the persisted history.
    *
    * Scale shape: the stored side is ONE parquet scan of 16-byte codes
    * — never shuffled, never broadcast (at 10⁹ vectors the store is
    * the big side); the binarized query batch rides a broadcast nested
    * loop over it, two XOR+popcounts per pair; the per-query top-k is
    * a `row_number` window Spark executes with a PARTIAL
    * WindowGroupLimit, so each scan task emits at most k rows per
    * query into the q_id exchange — k·|queries|·tasks rows shuffle, not
    * |store|·|queries|. Ties break by vec_id; output
    * (q_id, rnk, vec_id, ham). */
  def hammingTopKIndexed(spark: SparkSession, path: String,
      queries: DataFrame, idCol: String, embCol: String,
      k: Int = 10): DataFrame =
    hammingTopKCore(
      spark.read.parquet(s"$path/codes")
        .select(col("vec_id"), col("b_hi"), col("b_lo")),
      binarize1Bit(queries, col(idCol), col(embCol)), k)

  /** Materialize the binary-code HISTORY file: every vector's
    * [[binarize1Bit]] code — 16 bytes of payload per vector — plus a
    * one-row `meta` frame pinning the code width. Unlike the LSH/IVF
    * indexes there is deliberately NO partition pruning: at the Hamming
    * radii real embedding corpora need (the fixture's closest pair sits
    * at distance 15 of 64), multi-index pigeonhole pruning admits
    * nearly every pair, so the honest scale design is the flat code
    * scan — that IS binarization's value: the probe streams 16-byte
    * codes at memory bandwidth instead of 256-byte vectors. */
  def writeB1Codes(embeddings: DataFrame, idCol: String, embCol: String,
      path: String): Unit = {
    val spark = embeddings.sparkSession
    import spark.implicits._
    Seq(64).toDF("bits").write.mode("overwrite").parquet(s"$path/meta")
    binarize1Bit(embeddings, col(idCol), col(embCol))
      .write.mode("overwrite").parquet(s"$path/codes")
  }

  /** TAG a batch against the stored code history — tag-don't-drop: a
    * batch vector gets `near_history = true` iff some stored code sits
    * within `maxHam` sign-bit flips. The code frames meet in a
    * broadcast nested loop (batch-side codes broadcast, history codes
    * scanned once); XOR+popcount per pair, no shuffle of the history.
    * Compose with [[appendB1Codes]] in one `foreachBatch` for the
    * incremental near-duplicate gate over a live embedding feed. */
  def tagNearB1Codes(batch: DataFrame, idCol: String, embCol: String,
      path: String, maxHam: Int = 20): DataFrame = {
    val codes = graft.CacheScope.persistTracked(
      binarize1Bit(batch, col(idCol), col(embCol)))
    // distinct: tagNearCodes emits one row per input ROW, so a batch
    // re-delivering the same vec_id would otherwise multiply rows
    // through the join below (output row count must equal batch's)
    // near ⊆ the batch's ids — micro-batch-bounded, so the tag-back
    // join broadcasts instead of sort-merging the batch through two
    // exchanges (r18 plan audit)
    val near = tagNearCodes(codes, path, maxHam)
      .where(col("near_history"))
      .select(col("vec_id").as("__nid")).distinct()
      .withColumn("near_history", lit(true))
    batch.join(broadcast(near), col(idCol).cast("long") === col("__nid"),
        "left")
      .drop("__nid")
      .na.fill(false, Seq("near_history"))
  }

  /** The code-frame core of [[tagNearB1Codes]]: tag a frame of packed
    * codes (vec_id, b_hi, b_lo — [[binarize1Bit]]'s layout, or any
    * 64-bit code split into 32-bit halves, e.g. a video keyframe dHash
    * via [[Multimodal.keyframeCodes]]) against the stored history.
    * Same scale shape: batch codes broadcast, history scanned once at
    * code bandwidth, XOR+popcount per pair. Output: (vec_id,
    * near_history). */
  def tagNearCodes(codes: DataFrame, path: String,
      maxHam: Int = 20): DataFrame = {
    val spark = codes.sparkSession
    val hist = spark.read.parquet(s"$path/codes")
      .select(col("vec_id").as("__hid"), col("b_hi").as("__hhi"),
        col("b_lo").as("__hlo"))
    val c = codes.select("vec_id", "b_hi", "b_lo")
    val near = hist.crossJoin(broadcast(c))
      .where(expr(s"bit_count(b_hi ^ __hhi) + bit_count(b_lo ^ __hlo)" +
        s" <= $maxHam") && col("vec_id") =!= col("__hid"))
      .select(col("vec_id").as("__nid")).distinct()
    // near ⊆ the batch's ids — bounded like the batch itself, so it
    // broadcasts back rather than dragging the batch through a
    // sort-merge exchange (r18 plan audit)
    c.select("vec_id")
      .join(broadcast(near), col("vec_id") === col("__nid"), "left")
      .select(col("vec_id"), col("__nid").isNotNull.as("near_history"))
  }

  /** INCREMENTAL code append — [[appendCellIndex]]'s exact replay
    * contract for the code history: an `_applied_batches/<batchId>`
    * marker (committed AFTER the data files) catches whole-batch
    * replays, and an id-level anti join against the stored codes
    * catches re-delivery under a NEW batchId. Returns false on a
    * marker-replayed batch. A missing `codes` directory (first append
    * on a fresh path, no prior [[writeB1Codes]]) reads as an EMPTY
    * history, so batch 0 bootstraps the store instead of throwing a
    * path-not-found AnalysisException (ADVICE r15). */
  def appendB1Codes(batch: DataFrame, idCol: String, embCol: String,
      path: String, batchId: Long): Boolean =
    appendCodes(binarize1Bit(batch, col(idCol), col(embCol)), path, batchId)

  /** The code-frame core of [[appendB1Codes]] — same replay contract
    * (batch marker + id-level anti join, missing `codes` bootstraps an
    * empty history) over any packed-code frame. Replay markers roll up
    * into a watermark at compaction
    * ([[graft.sources.StoreCompaction.isApplied]]), and the append
    * REFUSES loudly while a compaction holds the store — without that,
    * racing the rename window would read the absent live dir as an
    * empty bootstrap history and silently re-append stored ids. */
  def appendCodes(codes0: DataFrame, path: String, batchId: Long): Boolean = {
    val spark = codes0.sparkSession
    graft.sources.StoreCompaction.appendOnce(spark, path, batchId) {
      val live = new org.apache.hadoop.fs.Path(path, "codes")
      val codes = codes0
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val novel =
        if (!live.getFileSystem(spark.sparkContext.hadoopConfiguration)
            .exists(live)) codes
        else codes.join(
          spark.read.parquet(s"$path/codes").select("vec_id"),
          Seq("vec_id"), "left_anti")
      novel.write.mode("append").parquet(s"$path/codes")
      codes.unpersist()
    }
  }

  /** ONLINE compaction of the code history — each [[appendCodes]]
    * micro-batch lands one parquet generation, so a 24/7 feed degrades
    * the [[tagNearCodes]] scan to thousands of small files. This
    * squashes the store back to `files` data files via the
    * [[graft.sources.StoreCompaction]] generation-swap (marker-race
    * guarded; replayed batches still no-op on their root-level markers
    * across the boundary). Flat store, so the rewrite is a plain
    * repartition — there is no partition layout to preserve. The
    * default squashes to ONE file (right at fixture-to-moderate scale:
    * 16 bytes/vector keeps 10⁸ vectors under 2 GB); a 10⁹⁺-vector
    * deployment passes a `files` sized to its scan parallelism —
    * single-writer-task rewrites are the one way this default
    * misbehaves at the top end. Returns the post-compaction file
    * count. */
  def compactCodes(spark: SparkSession, path: String,
                   files: Int = 1): Int =
    graft.sources.StoreCompaction.swapCompact(spark, path, "codes") {
      (live, out) =>
        spark.read.parquet(live).repartition(files).write
          .mode(org.apache.spark.sql.SaveMode.Overwrite).parquet(out)
    }

  /** ONLINE compaction of the IVF cell store — [[appendCellIndex]]'s
    * per-batch generations squashed back to ONE file per `cid=`
    * partition, the [[writeCellIndex]] layout verbatim (repartition on
    * cid so each writer task holds exactly one cell, sortWithinPartitions
    * for footer skipping, hive `partitionBy(cid)` so every probe
    * path's partition pruning survives — pinned in PlanSpec). Returns
    * the post-compaction file count. */
  def compactCellIndex(spark: SparkSession, path: String): Int =
    graft.sources.StoreCompaction.swapCompact(spark, path, "cells") {
      (live, out) => writeByCell(spark.read.parquet(live), "overwrite", out)
    }

  /** Per-label CENTROID DRIFT between two embedding batches — the
    * monitoring pass an embedding pipeline runs between model versions
    * or crawl dumps (a label whose centroid swings is a re-embed or
    * data-shift alarm): cosine between each label's integer-mean
    * centroid in batch A and batch B.
    *
    * Exactness: centroids are integer means on the shared 1e-6 grid —
    * `c_i = (Σ qe_i) div n` per dimension (div-by-n first also keeps
    * every downstream square inside a long at any group size) — and
    * the cosine is the usual one rounded double over exact integer
    * dots. Shape: one posexplode + partial-agg `groupBy(label, dim)`
    * per side (uniform keys, ≤ labels·dims rows out), then the dot and
    * norms reduce per label from the joined dimension frame — no
    * array reassembly, no driver collect. Output: (label, n_a, n_b,
    * cos) — cos NULL if either side's centroid is the zero vector. */
  def centroidDrift(a: DataFrame, b: DataFrame, labelCol: String,
      embCol: String): DataFrame = {
    def dims(df: DataFrame, pre: String) = {
      val qz = df.select(col(labelCol).cast("long").as("label"),
        quantize(col(embCol)).as("__qe"))
      val n = qz.groupBy("label").agg(count(lit(1)).as(s"n_$pre"))
      qz.select(col("label"), posexplode(col("__qe")).as(Seq("i", "v")))
        .groupBy("label", "i").agg(sum("v").as("__s"))
        .join(n, "label")
        .select(col("label"), col("i"), col(s"n_$pre"),
          expr(s"__s div n_$pre").as(s"c_$pre"))
    }
    dims(a, "a").join(dims(b, "b"), Seq("label", "i"))
      .groupBy("label")
      .agg(first(s"n_a").as("n_a"), first(s"n_b").as("n_b"),
        sum(expr("c_a * c_b")).as("__dot"),
        sum(expr("c_a * c_a")).as("__n2a"),
        sum(expr("c_b * c_b")).as("__n2b"))
      .select(col("label"), col("n_a"), col("n_b"),
        expr("CASE WHEN __n2a = 0 OR __n2b = 0 THEN NULL ELSE " +
          "round(CAST(__dot AS DOUBLE) / " +
          "sqrt(CAST(__n2a AS DOUBLE) * CAST(__n2b AS DOUBLE)), 6) END")
          .as("cos"))
  }

  /** MATRYOSHKA truncation recall — the evaluation every deployment of
    * MRL-style embeddings (Kusupati et al. 2022: models trained so
    * informative dimensions come first) runs before serving the short
    * prefix: per probe, how much of the full-dimension cosine top-k the
    * `prefixDim`-prefix top-k retains. Both rankings use the shared
    * quantized-integer dot products with one rounded double cosine
    * ([[cosineQNormed]]) and vec_id tie-breaks, so the recall numbers
    * are engine-exact.
    *
    * Scale shape: probe batch broadcasts against one corpus scan (the
    * prefix slice is computed in the same projection — no second
    * pass); both top-k windows are partial WindowGroupLimits; the
    * overlap join is k·|probes| rows. Output: (q_id, hits, recall_pm)
    * — hits = |prefix∩full|, recall in parts-per-thousand of k. */
  def matryoshkaRecall(corpus: DataFrame, probes: DataFrame, idCol: String,
      embCol: String, prefixDim: Int, k: Int): DataFrame = {
    require(prefixDim >= 1, "matryoshkaRecall: prefixDim must be >= 1")
    def prep(df: DataFrame) =
      quantized(df, col(idCol).cast("long"), col(embCol))
        .withColumn("qp", expr(s"slice(qe, 1, $prefixDim)"))
        .withColumn("p2", dotQ(col("qp"), col("qp")))
    val qb = broadcast(asQuery(prep(probes), "q_id", col("qp").as("__pv"),
      col("p2").as("__qp2")))
    val pairs = prep(corpus).crossJoin(qb)
    def topk(scored: DataFrame, c: String) =
      topPer(scored, "q_id", col(c).desc, "vid", k).select("q_id", "vid")
    val full = topk(pairs.select(col("q_id"), col("vid"), pairCosine),
      "cosine")
    val pref = topk(pairs.select(col("q_id"), col("vid"),
      cosineQNormed(col("qp"), col("__pv"), col("p2"), col("__qp2"))
        .as("cp")), "cp")
    // both top-k frames and the overlap aggregate are probe-sized —
    // broadcast them so neither the overlap join nor the final left
    // join ever plans a shortlist shuffle (AQE would fix it at runtime,
    // but the static plan should already be right)
    qb.select("q_id")
      .join(broadcast(full.join(broadcast(pref), Seq("q_id", "vid"))
        .groupBy("q_id").agg(count(lit(1)).as("hits"))), Seq("q_id"), "left")
      .select(col("q_id"), coalesce(col("hits"), lit(0L)).as("hits"))
      .withColumn("recall_pm", expr(s"hits * 1000 div $k"))
  }

  /** MMR (Maximal Marginal Relevance, Carbonell & Goldstein 1998)
    * diverse top-k selection — the diversity gate training-data and
    * retrieval pipelines run after similarity ranking so the k picks
    * don't all say the same thing: greedily pick
    * `argmax λ·rel(c) − (1−λ)·max_{s∈selected} sim(c, s)`.
    *
    * Exactness: relevance and pairwise similarity are micro-cosines —
    * `round(dot/sqrt(n2a·n2b) · 1e6)` on the quantized grid, HALF_UP
    * like both engines' `round` — so the greedy score
    * `λ%·rel − (100−λ%)·maxsim` is pure integer arithmetic and the
    * selection path is engine-exact (ties break by vec_id at both the
    * pool cut and every pick).
    *
    * Scale shape: the DISTRIBUTED part is the pool cut — one broadcast
    * probe pass + TakeOrdered top-`poolSize` by relevance; the greedy
    * loop then runs on that bounded pool (`poolSize` rows collected —
    * the page-size-bounded-collect pattern, poolSize·dim longs), which
    * is the standard two-stage MMR at corpus scale: O(corpus) scan +
    * O(poolSize·k) driver arithmetic. Output: (step, vec_id,
    * mmr_score) — step 1-based, score in λ-weighted micro-units. */
  def mmrSelect(corpus: DataFrame, idCol: String, embCol: String,
      queryId: Long, poolSize: Int, k: Int, lambdaPct: Int = 70): DataFrame = {
    require(k >= 1 && poolSize >= k && lambdaPct >= 0 && lambdaPct <= 100,
      "mmrSelect: need k >= 1, poolSize >= k, lambdaPct in [0, 100]")
    val spark = corpus.sparkSession
    import spark.implicits._
    val qz = quantized(corpus, col(idCol).cast("long"), col(embCol))
    val qv = broadcast(asQuery(qz.where(col("vid") === queryId), "qid"))
    val pool = qz.where(col("vid") =!= queryId).crossJoin(qv)
      .select(col("vid"), col("qe"), col("n2"),
        round(dotQ(col("qe"), col("qv")).cast("double") /
          sqrt(col("n2").cast("double") * col("qn2").cast("double"))
          * 1e6).cast("long").as("relq"))
      .orderBy(col("relq").desc, col("vid").asc)
      .limit(poolSize)
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Long](1).toArray, r.getLong(2),
        r.getLong(3)))
    // micro-cosine between pool members: the same op sequence as the
    // relq expression above (int dot, one double divide+multiply,
    // HALF_UP round), so a SQL replay agrees bit-for-bit
    def simq(a: (Long, Array[Long], Long, Long),
        b: (Long, Array[Long], Long, Long)): Long = {
      var dot = 0L
      var i = 0
      val (xa, xb) = (a._2, b._2)
      val n = math.min(xa.length, xb.length)
      while (i < n) { dot += xa(i) * xb(i); i += 1 }
      roundHalfUp(dot.toDouble / math.sqrt(a._3.toDouble * b._3.toDouble) * 1e6)
    }
    val selected = scala.collection.mutable.ArrayBuffer
      .empty[(Long, Long, Long)] // (step, vid, score)
    val remaining = scala.collection.mutable.ArrayBuffer.from(pool)
    for (step <- 1L to math.min(k.toLong, pool.length.toLong)) {
      val best = remaining.map { c =>
        val maxsim =
          if (selected.isEmpty) 0L
          else selected.map(s =>
            simq(c, pool.find(_._1 == s._2).get)).max
        (c, lambdaPct * c._4 - (100L - lambdaPct) * maxsim)
      }.minBy { case (c, sc) => (-sc, c._1) }
      selected += ((step, best._1._1, best._2))
      remaining -= best._1
    }
    selected.toSeq.toDF("step", "vec_id", "mmr_score")
  }

  /** Embedding HYGIENE — the validation pass every corpus runs before
    * feeding vectors to an index build (a single wrong-width, zero, or
    * non-finite vector poisons codebook training and distance ranking
    * silently): per-vector dimension count, non-finite component
    * count, zero-component count, an `is_zero` verdict (all
    * components quantize to 0 at the repo's 1e-6 grid — such a vector
    * has no direction, so cosine against it is undefined), and the
    * exact quantized squared norm (`norm2_q`, integer at the shared
    * [[quantize]] grid — engine-exact where a float norm isn't).
    * `dims_ok` compares against the caller's expected width. A pure
    * narrow projection — scan speed at any corpus size.
    *
    * Output: (vec_id, n_dims, dims_ok, n_nonfinite, n_outlier, n_zero,
    * is_zero, norm2_q). */
  def embeddingCheck(df: DataFrame, emb: Column, id: Column,
                     expectedDims: Int): DataFrame = {
    def bad(x: Column): Column = {
      val d = x.cast("double")
      // null components count as nonfinite: they are exactly the dirt
      // this pass exists to catch, and a propagated null would both
      // pass every check and null out norm2_q (diverging from the
      // oracle's null-skipping list_sum)
      x.isNull || isnan(d) || d === Double.PositiveInfinity ||
        d === Double.NegativeInfinity
    }
    // out-of-range magnitudes are a SIGNAL, not arithmetic (ADVICE r13):
    // |x| > 10 is already corrupt for an embedding component (normalized
    // embeddings sit in [-1, 1]), and squaring its 1e6-quantized long
    // would overflow Long at |x| ≳ 3034 — the hygiene pass would fault
    // under ANSI on exactly the vectors it exists to report. Outliers
    // are counted in n_outlier and contribute 0 to norm2_q (like
    // nonfinite); inliers cap at 1e7, so the squared sum stays ≤ 1e14·d
    // — overflow-free past 90k dims.
    def outlier(x: Column): Column =
      !bad(x) && abs(x.cast("double")) > lit(OutlierAbsMax)
    // nonfinite/outlier components quantize to 0 here (counted
    // separately) — the pass must REPORT the dirt, not fault on the ANSI
    // double->long cast or the long multiply the plain quantize would hit
    val q = transform(emb, x =>
      round(when(bad(x) || outlier(x), lit(0.0))
        .otherwise(x.cast("double")) * 1e6).cast("long"))
    df.select(id.as("vec_id"), q.as("__q"),
        size(emb).as("n_dims"),
        size(filter(emb, x => bad(x))).as("n_nonfinite"),
        size(filter(emb, x => outlier(x))).as("n_outlier"))
      .selectExpr("vec_id", "n_dims",
        s"n_dims = $expectedDims as dims_ok",
        "n_nonfinite", "n_outlier",
        "size(filter(__q, v -> v = 0L)) as n_zero",
        "size(filter(__q, v -> v != 0L)) = 0 as is_zero",
        "aggregate(__q, 0L, (a, v) -> a + v * v) as norm2_q")
  }

  /** Component-magnitude ceiling for [[embeddingCheck]]'s exact norm:
    * larger magnitudes are reported in `n_outlier` instead of squared
    * (Long overflow at |x| ≳ 3034 after 1e6 quantization). */
  val OutlierAbsMax: Double = 10.0

  /** Exact integer dot product of two quantized vectors. */
  def dotQ(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0L), (acc, v) => acc + v)

  /** cosine = dot / (sqrt(|a|^2 * |b|^2)) on quantized ints, rounded to
    * 6 dp (the rounding is on a deterministic double, so both engines
    * agree). */
  def cosineQ(qa: Column, qb: Column): Column =
    round(dotQ(qa, qb).cast("double") /
      sqrt(dotQ(qa, qa).cast("double") * dotQ(qb, qb).cast("double")), 6)

  /** cosine with pre-computed squared norms — the per-pair cost drops to
    * one dot product; norms are computed once per VECTOR, not once per
    * candidate pair (at scale each vector is in many pairs). The double
    * math is the exact same sequence of IEEE ops as [[cosineQ]]. */
  def cosineQNormed(qa: Column, qb: Column, n2a: Column, n2b: Column): Column =
    round(dotQ(qa, qb).cast("double") /
      sqrt(n2a.cast("double") * n2b.cast("double")), 6)

  /** Brute-force top-k cosine neighbours of one query vector: the
    * baseline ANN. The single query row is broadcast (no shuffle of the
    * corpus); the top-k is TakeOrderedAndProject — no global sort.
    * Scale: O(corpus) scan per query — fine as the verify/recall
    * baseline; use [[annLsh]] (or an IVF variant of it) as the serving
    * path. */
  def bruteForceTopK(embeddings: DataFrame, idCol: String, embCol: String,
                     queryId: Long, k: Int,
                     predicate: Option[Column] = None): DataFrame = {
    val q = asQuery(quantized(embeddings.where(col(idCol) === queryId),
      col(idCol), col(embCol)), "qid")
    // filtered-ANN contract (the exact-baseline side): the candidate
    // predicate applies before scoring, so this is the recall oracle
    // for the filtered indexed probes
    quantized(predicate.foldLeft(embeddings.where(col(idCol) =!= queryId))(
        (df, p) => df.where(p)), col(idCol), col(embCol))
      .crossJoin(broadcast(q))
      .select(col("vid").as(idCol), pairCosine)
      .orderBy(col("cosine").desc, col(idCol).asc)
      .limit(k)
  }

  /** HARD-NEGATIVE mining — the retrieval-training data operator (DPR/
    * contrastive-encoder pipelines): for each query, the top-`k` most
    * cosine-similar corpus vectors that are NOT known positives — the
    * near-misses a contrastive loss learns the most from (random
    * negatives are trivially separable; the informative ones live just
    * under the positives).
    *
    * `queries` is the training batch (bounded by construction — a
    * mining pass runs per epoch shard, thousands of rows against a
    * corpus of billions) and `positives` the (q_id, vec_id) relevance
    * pairs; both BROADCAST. The corpus is ONE unshuffled scan — never
    * broadcast, never exchanged (at 10⁹ vectors the store is the big
    * side, the [[hammingTopKIndexed]] direction): scoring rides the
    * broadcast nested loop, known positives drop on a broadcast
    * anti-join BEFORE the top-k cut (a dropped positive must not leave
    * a hole in the k), and the per-query cut fuses through the partial
    * WindowGroupLimit — `k·|queries|·tasks` rows reach the exchange,
    * not `|corpus|·|queries|`. Exact integer-quantized cosine with
    * vec_id tie-breaks ([[cosineQNormed]]), so the ranking is
    * engine-exact — this is the mining oracle the approximate tier
    * ([[hardNegativesIndexed]]) is measured against.
    *
    * `excludeSelf` drops `vec_id === q_id` pairs (queries drawn from
    * the corpus id space must not mine themselves; disjoint id spaces
    * pass false). Output: (q_id, rnk, vec_id, cosine). */
  def hardNegatives(corpus: DataFrame, queries: DataFrame, idCol: String,
                    embCol: String, positives: DataFrame, k: Int,
                    excludeSelf: Boolean = true): DataFrame = {
    val scored = quantized(corpus, col(idCol), col(embCol))
      .withColumnRenamed("vid", "vec_id")
      .crossJoin(broadcast(asQuery(quantized(queries, col(idCol), col(embCol)),
        "q_id")))
    val noSelf =
      if (excludeSelf) scored.where(col("vec_id") =!= col("q_id"))
      else scored
    rankNegatives(noSelf
      .join(broadcast(positives.select("q_id", "vec_id")),
        Seq("q_id", "vec_id"), "left_anti")
      .select(col("q_id"), col("vec_id"), pairCosine), k)
  }

  /** The per-query cut both mining tiers end on, after the positives
    * dropped: (q_id, rnk, vec_id, cosine), rnk a long. */
  private def rankNegatives(scored: DataFrame, k: Int): DataFrame =
    topPer(scored, "q_id", col("cosine").desc, "vec_id", k)
      .select(col("q_id"), col("rnk").cast("long").as("rnk"), col("vec_id"),
        col("cosine"))

  /** [[hardNegatives]] on the stored IVF cell index — the mining shape
    * that doesn't scan the corpus at all: probe the `nprobe` nearest
    * cells per query OVERSAMPLED to `k + overscan` candidates
    * (positives drop AFTER the probe cut, so each dropped positive
    * needs a spare candidate behind it — size `overscan` at the max
    * positives-per-query of the batch), anti-join the positives, and
    * re-cut to `k`. Partition-pruned scans, zero corpus Exchange — the
    * [[annIvfIndexedBatch]] plan with the anti-join between cut and
    * re-cut. Approximate exactly where the IVF probe is (a negative in
    * an unprobed cell is missed); with `nprobe` ≥ the cell count and
    * `overscan` ≥ positives-per-query it degenerates to
    * [[hardNegatives]] exactly — the SimilaritySpec parity pin.
    * One divergence from the exact tier: the underlying indexed probe
    * ALWAYS drops `vec_id === q_id` pairs, so disjoint-id-space mining
    * (the exact tier's `excludeSelf = false`) needs [[hardNegatives]];
    * the parity claim holds at the default `excludeSelf = true`.
    * Output: (q_id, rnk, vec_id, cosine). */
  def hardNegativesIndexed(queries: DataFrame, idCol: String, embCol: String,
                           path: String, positives: DataFrame, k: Int,
                           nprobe: Int = 2, overscan: Int = 8): DataFrame = {
    rankNegatives(
      annIvfIndexedBatch(queries, idCol, embCol, path, k + overscan, nprobe)
        .select(col("query_id").as("q_id"), col("vid").as("vec_id"),
          col("cosine"))
        .join(broadcast(positives.select("q_id", "vec_id")),
          Seq("q_id", "vec_id"), "left_anti"), k)
  }

  /** SEMANTIC decontamination — the embedding-space mirror of the
    * n-gram decontamination in [[graft.ext.Dedup]]: flag every TRAIN
    * document whose embedding is close to ANY eval/benchmark embedding
    * (test-set leakage that survives surface rewording defeats n-gram
    * checks; embedding proximity catches the paraphrase tier).
    *
    * Plan shape: the EVAL side — tiny by construction, benchmarks are
    * thousands of rows against a corpus of billions — is quantized,
    * norm-precomputed, collapsed to ONE array row and broadcast; the
    * train side is a single zero-shuffle scan computing
    * `max_eval_cosine` per row with a higher-order `aggregate` over the
    * broadcast array (exact integer dots, one rounded IEEE division per
    * pair — the [[cosineQNormed]] arithmetic, so the DuckDB oracle
    * reproduces it bit-for-bit). No Exchange anywhere: this is the
    * exact-verify tier; at 100 TB the same contract runs incrementally
    * as [[tagNearIndex]] probes against a prebuilt eval cell index, and
    * this full-scan tier prices the recall audit. */
  def decontaminate(train: DataFrame, eval: DataFrame, idCol: String,
                    embCol: String, threshold: Double,
                    maxEvalRows: Long = 200000L): DataFrame = {
    // Contract guard (ADVICE r11): the eval side collapses to ONE
    // collect_list row that is then broadcast — a miscalled corpus-sized
    // eval would hit the single-row/2 GB array limit as an opaque
    // executor OOM deep in the exchange. Fail the misuse at the API
    // instead: 200k rows × (64-dim qe + n2) ≈ 110 MB, comfortably
    // broadcastable; genuinely larger eval suites belong on the
    // [[tagNearIndex]] tier.
    // limit+count, not a bare count: the guard only needs to know
    // whether the bound is EXCEEDED, so the probe job stops accumulating
    // at maxEvalRows+1 instead of counting a miscalled corpus to the
    // end. A bound at or above Int.MaxValue can't be probed via limit
    // (the clamp would make the guard vacuous) — fall back to the exact
    // count so the contract holds for ANY bound.
    val nEval =
      if (maxEvalRows >= Int.MaxValue - 1L) eval.count()
      else eval.limit(maxEvalRows.toInt + 1).count()
    require(nEval <= maxEvalRows,
      s"decontaminate() broadcasts the whole eval split as one array row; " +
        s"got > $maxEvalRows eval rows. Use tagNearIndex against " +
        "a prebuilt eval cell index for eval sets this large.")
    // the eval side needs no id column: it collapses to one array row
    val evalArr = quantized(eval, lit(0L), col(embCol))
      .agg(collect_list(struct(col("qe"), col("n2"))).as("__evals"))
    quantized(train, col(idCol), col(embCol))
      .crossJoin(broadcast(evalArr))
      .select(col("vid").as(idCol),
        aggregate(col("__evals"), lit(-1.0d),
          (acc, ev) => greatest(acc,
            cosineQNormed(col("qe"), ev.getField("qe"),
              col("n2"), ev.getField("n2")))).as("max_eval_cosine"))
      .withColumn("contaminated", col("max_eval_cosine") >= threshold)
  }

  /** Multi-band random-hyperplane LSH bucket ids: `bands` buckets per
    * vector, each `planes` sign bits, via the native codegen Expression
    * [[graft.functions.RhpLsh]] (md5-derived integer plane weights,
    * statically cached — exact integer sums, portable to the DuckDB
    * oracle). See RhpLsh scaladoc for the recall formula
    * `1 - (1 - q^planes)^bands`. */
  def lshBuckets(df: DataFrame, qEmbCol: String, bands: Int, planes: Int): Column = {
    graft.functions.GraftFunctions.register(df.sparkSession)
    expr(s"rhplsh($qEmbCol, $bands, $planes)")
  }

  /** LSH-bucketed ANN: score only vectors sharing a band bucket with the
    * query — a shuffle-free corpus scan with a cheap band-intersection
    * filter against the broadcast query row, then TakeOrderedAndProject.
    * Recall < 1 by construction (the multi-band scheme keeps it high for
    * genuinely close vectors — see [[graft.functions.RhpLsh]]); pair
    * with [[bruteForceTopK]] on a sample for recall measurement. */
  def annLsh(embeddings: DataFrame, idCol: String, embCol: String,
             queryId: Long, k: Int, bands: Int = 8, planes: Int = 16,
             predicate: Option[Column] = None): DataFrame = {
    def banded(df: DataFrame) = quantized(df, col(idCol), col(embCol))
      .withColumn("bb", lshBuckets(embeddings, "qe", bands, planes))
    val q = asQuery(banded(embeddings.where(col(idCol) === queryId)), "qid",
      col("bb").as("qbb"))
    // filtered-ANN contract on the LSH tier: the predicate (over the
    // SOURCE columns) prunes candidates before the band-intersection
    // filter and the fused top-k — the query row itself is exempt, as
    // on the indexed tiers
    banded(predicate.foldLeft(embeddings.where(col(idCol) =!= queryId))(
        (df, p) => df.where(p)))
      .crossJoin(broadcast(q))
      .where(exists(zip_with(col("bb"), col("qbb"), (x, y) => x === y),
        b => b))
      .select(col("vid").as(idCol), pairCosine)
      .orderBy(col("cosine").desc, col(idCol).asc)
      .limit(k)
  }

  /** IVF-style ANN: a coarse codebook partitions the corpus into cells;
    * a query scans only its `nprobe` nearest cells. Deterministic and
    * oracle-portable by construction: centroids are every
    * `centroidStride`-th vector (a fixed sample, not k-means — the
    * iteration-free analog of a coarse quantizer), assignment is argmax
    * quantized cosine with ties to the smallest centroid id.
    *
    * Scale shape: centroids are broadcast (|C| ≈ corpus/stride, small);
    * assignment is one shuffle keyed by vector id; the probe joins the
    * query's cell ids (broadcast) against the cell-assigned corpus —
    * touching |corpus|·nprobe/|C| vectors instead of all of them. In a
    * real deployment the cell column is precomputed and the mirror is
    * partitioned by it, making the probe a pruned scan. Recall < 1;
    * measure against [[bruteForceTopK]]. */
  def annIvf(embeddings: DataFrame, idCol: String, embCol: String,
             queryId: Long, k: Int, centroidStride: Int = 100,
             nprobe: Int = 2): DataFrame = {
    val qz = quantized(embeddings, col(idCol), col(embCol))
    val cents = centroidsOf(qz, centroidStride)
    val q = qz.where(col("vid") === queryId)
    val qcells = nearestCells(q, cents, nprobe).select(col("cid").as("qcid"))
    nearestCells(qz.where(col("vid") =!= queryId), cents, 1)
      .join(broadcast(qcells), col("cid") === col("qcid"))
      .crossJoin(broadcast(asQuery(q, "qid")))
      .select(col("vid").as(idCol), pairCosine)
      .orderBy(col("cosine").desc, col(idCol).asc)
      .limit(k)
  }

  /** Coarse codebook over a quantized frame (vid, qe, n2): every
    * `centroidStride`-th vector. */
  private def centroidsOf(qz: DataFrame, centroidStride: Int): DataFrame =
    qz.where(col("vid") % centroidStride === 0)
      .select(col("vid").as("cid"), col("qe").as("ce"), col("n2").as("cn2"))

  /** Quantized squared L2 distance — exact integer arithmetic, the
    * decomposable metric product quantization is built on (cosine does
    * not decompose across subspaces). */
  def l2Q(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => (x - y) * (x - y)),
      lit(0L), (acc, v) => acc + v)

  /** Product-quantization ANN with asymmetric distance (ADC) — the
    * memory-bound scale path the IVF/LSH variants don't cover: each
    * vector is ENCODED as `m` small codebook ids (one byte each at
    * k≤256), so a 100 TB float corpus serves from ~m bytes per vector,
    * and a query scores codes against a broadcast (m × |codebook|)
    * distance TABLE without touching the original floats.
    *
    * Deterministic and oracle-portable like [[annIvf]]: per-subspace
    * codebooks are the `centroidStride`-sampled vectors' slices (the
    * iteration-free analog of PQ's per-subspace k-means), encoding is
    * argmin quantized squared L2 with ties to the smallest id, and all
    * distances are exact BIGINT sums.
    *
    * Scale shape: encoding is one pass against the broadcast codebook
    * with a partial-aggregating `min(struct(dist, cid))` per
    * (vector, subspace) — no window; the struct buffer makes it a
    * SortAggregate pair, but the map-side partial still absorbs the
    * m·|codebook| candidate fan-out ([[writePqIndex]] materializes
    * exactly these codes once; [[annPqIndexedVec]] is the serving
    * path that never re-encodes). The query side is a
    * broadcast distance table joined to the codes and summed per
    * vector — partial agg, then a TakeOrderedAndProject top-k. Both
    * exchanges carry m CODES per vector, never the raw floats.
    * Approximate by construction (quantization error); measure against
    * [[bruteForceTopK]].
    *
    * `dims` must equal `m * subDim`; output (vec_id, pq_dist). */
  def annPq(embeddings: DataFrame, idCol: String, embCol: String,
            queryId: Long, k: Int, m: Int = 8, subDim: Int = 8,
            centroidStride: Int = 50): DataFrame = {
    val qz = quantized(embeddings, col(idCol), col(embCol))
    val cbs = pqCodebook(qz, m, subDim, centroidStride)
    val codes = pqEncode(qz, cbs, subDim)
    // ADC table: per (subspace, codebook id) the query's partial dist
    val q = qz.where(col("vid") === queryId).select(col("qe").as("qv"))
    val table = cbs.crossJoin(broadcast(q))
      .select(col("s").as("ts"), col("cid").as("tcid"),
        l2Q(slice(col("qv"), col("s") * subDim + 1, lit(subDim)),
          col("cse")).as("td"))
    codes.where(col("vid") =!= queryId)
      .join(broadcast(table),
        col("s") === col("ts") && col("code") === col("tcid"))
      .groupBy("vid")
      .agg(sum(col("td")).as("pq_dist"))
      .select(col("vid").as(idCol), col("pq_dist"))
      .orderBy(col("pq_dist").asc, col(idCol).asc)
      .limit(k)
  }

  /** Per-subspace PQ codebook over a quantized frame (vid, qe):
    * (s, cid, cse) — m × |codebook| rows, tiny. The codebook is the
    * `centroidStride`-sampled vectors' `subDim`-wide slices. */
  private def pqCodebook(qz: DataFrame, m: Int, subDim: Int,
                         centroidStride: Int): DataFrame = {
    val subs = qz.sparkSession.range(m)
      .select(col("id").cast("int").as("s"))
    qz.where(col("vid") % centroidStride === 0)
      .select(col("vid").as("cid"), col("qe").as("ce"))
      .crossJoin(broadcast(subs))
      .select(col("s"), col("cid"),
        slice(col("ce"), col("s") * subDim + 1, lit(subDim)).as("cse"))
  }

  /** THE PQ encoding rule — argmin quantized squared L2 per
    * (vector, subspace), ties to the smallest cid — shared by [[annPq]]
    * and [[writePqIndex]] so stored codes can never desync from the
    * per-query formulation (the [[nearestCells]] discipline). Returns
    * (vid, s, code). */
  private def pqEncode(qz: DataFrame, cbs: DataFrame,
                       subDim: Int): DataFrame =
    qz.crossJoin(broadcast(cbs))
      .select(col("vid"), col("s"), col("cid"),
        l2Q(slice(col("qe"), col("s") * subDim + 1, lit(subDim)),
          col("cse")).as("d"))
      .groupBy("vid", "s")
      .agg(min(struct(col("d"), col("cid"))).as("best"))
      .select(col("vid"), col("s"), col("best.cid").as("code"))

  /** The PRECOMPUTED-codes PQ path — materializes what [[annPq]] pays
    * per query: the per-subspace codebook and every vector's `m`-code
    * encoding, written once and served forever. Unlike
    * [[writeCellIndex]] the codes table deliberately does NOT carry the
    * vectors — compressing the corpus to `m` small ids per vector is
    * the entire point (at k≤256 codebook entries a real deployment
    * stores one byte per code; ~100 TB of floats serve from ~table-of-
    * codes gigabytes).
    *
    * Layout: `path/codebook` with (s, cid, cse); `path/codes` with
    * (vid, codes array) — range-partitioned and sorted by `vid`, so id
    * lookups get parquet footer min/max skipping. Encoding reads the
    * codebook back from storage first: stored == used, same discipline
    * as [[writeCellIndex]]. */
  def writePqIndex(embeddings: DataFrame, idCol: String, embCol: String,
                   path: String, m: Int = 8, subDim: Int = 8,
                   centroidStride: Int = 50): Unit = {
    val qz = quantized(embeddings, col(idCol), col(embCol))
    pqCodebook(qz, m, subDim, centroidStride)
      .write.mode("overwrite").parquet(s"$path/codebook")
    val stored = embeddings.sparkSession.read.parquet(s"$path/codebook")
    pqEncode(qz, stored, subDim)
      .groupBy("vid")
      .agg(transform(
        array_sort(collect_list(struct(col("s"), col("code")))),
        x => x.getField("code")).as("codes"))
      .repartitionByRange(col("vid"))
      .sortWithinPartitions("vid")
      .write.mode("overwrite").parquet(s"$path/codes")
  }

  /** Probe a [[writePqIndex]] index with a caller-supplied QUERY
    * VECTOR — the asymmetric-distance serving shape, and the reason PQ
    * scales: the stored codebook (tiny, bounded like [[annIvfIndexedVec]]'s
    * centroid ranking) is collected once and turned into a LITERAL
    * (cid·m + s) → distance map, so scoring is a zero-shuffle scan of
    * the codes table — per row, a fold over the `m` codes against the
    * literal table — fused straight into TakeOrderedAndProject. No
    * join, no aggregation exchange, no window; the only distributed
    * work is the compressed-codes scan itself (PlanSpec pins zero
    * hash exchanges on this plan). */
  def annPqIndexedVec(spark: SparkSession,
                      path: String, queryVec: Seq[Float], k: Int,
                      excludeVid: Option[Long] = None): DataFrame = {
    val qe = quantizeVec(queryVec)
    val cb = spark.read.parquet(s"$path/codebook").collect()
    val m = cb.map(_.getAs[Int]("s")).max + 1
    // driver-side ADC table keyed by cid·m + s (collision-free: s < m)
    val tbl = cb.map { r =>
      val s = r.getAs[Int]("s")
      val cse = r.getSeq[Long](r.fieldIndex("cse"))
      val sub = qe.slice(s * cse.length, (s + 1) * cse.length)
      val d = sub.zip(cse).map { case (x, y) => (x - y) * (x - y) }.sum
      (r.getAs[Long]("cid") * m + s) -> d
    }.toMap
    val tblLit = typedlit(tbl)
    val scored = readCodes(spark, path)
      .select(col("vid"),
        aggregate(
          zip_with(col("codes"), sequence(lit(0L), lit((m - 1).toLong)),
            (c, s) => element_at(tblLit, c * m + s)),
          lit(0L), (acc, v) => acc + v).as("pq_dist"))
    excludeVid.fold(scored)(v => scored.where(col("vid") =!= v))
      .orderBy(col("pq_dist").asc, col("vid").asc)
      .limit(k)
  }

  /** By-id convenience probe: PQ indexes do not store the raw vectors
    * (that is their point), so the query's float vector is looked up in
    * the SOURCE table — a one-row pushed-down lookup, bounded like
    * [[annIvfIndexed]]'s — and delegated to [[annPqIndexedVec]]. Same
    * parameters as the build → results identical to [[annPq]]. */
  def annPqIndexed(spark: SparkSession, path: String,
                   embeddings: DataFrame, idCol: String, embCol: String,
                   queryId: Long, k: Int): DataFrame = {
    val qRows = embeddings.where(col(idCol) === queryId)
      .select(col(embCol)).take(1)
    require(qRows.nonEmpty,
      s"query vector $queryId is not in the source table")
    annPqIndexedVec(spark, path, qRows(0).getSeq[Float](0), k,
      excludeVid = Some(queryId))
  }

  private def readCodes(spark: SparkSession, path: String): DataFrame =
    spark.read.schema(StructType(Seq(StructField("vid", LongType),
      StructField("codes", ArrayType(LongType))))).parquet(s"$path/codes")

  /** IVF-PQ: the canonical large-corpus ANN serving index — coarse
    * inverted cells ([[writeCellIndex]]'s assignment rule) with each
    * vector's RESIDUAL against its cell centroid product-quantized
    * ([[annPq]]'s encoding rule) into `m` dense codebook ids. A probe
    * ranks the centroids, reads only `nprobe` cell partitions, and
    * scores the compressed codes against a per-cell ADC table — the
    * combination serves a 100 TB float corpus from partition-pruned
    * scans of a codes table a few bytes per vector wide, which neither
    * half achieves alone (IVF cells still store the vectors; flat PQ
    * still scans every code).
    *
    * Determinism/portability ([[annIvf]]/[[annPq]] discipline): coarse
    * assignment is argmax quantized cosine with ties to the smallest
    * cid; residuals are exact integer differences; the residual
    * sub-codebook is the `pqStride`-sampled vectors' residual slices
    * with DENSE codes assigned by residual-id rank; encoding is argmin
    * quantized squared L2 with ties to the smallest code; all distances
    * are exact BIGINT sums.
    *
    * Layout: `path/centroids` (cid, ce, cn2); `path/pqcb`
    * (s, code, rse) — m × |sub-codebook| rows, tiny; `path/codes`
    * hive-partitioned `cid=<c>/…` with (vid, codes), vid-sorted for
    * footer skipping. Each artifact is read back from storage before
    * the next derives from it: stored == used. */
  def writeIvfPqIndex(embeddings: DataFrame, idCol: String, embCol: String,
                      path: String, coarseStride: Int = 100, m: Int = 8,
                      subDim: Int = 8, pqStride: Int = 50,
                      refineIters: Int = 0, attrCols: Seq[String] = Nil): Unit = {
    // refineIters > 0 stores the Lloyd-learned coarse quantizer
    // ([[kmeansRefine]]) instead of the raw stride sample — the probe
    // reads whatever codebook is stored, so format and pruning are
    // identical either way ([[writeCellIndex]]'s contract)
    refining(quantized(embeddings, col(idCol), col(embCol), attrCols),
        refineIters) { qz =>
      refineCents(qz, centroidsOf(qz, coarseStride), refineIters)
        .write.mode("overwrite").parquet(s"$path/centroids")
      writeIvfPqCodes(embeddings.sparkSession, qz, path, m, subDim, pqStride,
        attrCols)
    }
  }

  /** Run an index build over the quantized corpus `qz`, persisted for
    * the build's scope only while a Lloyd refinement re-reads it (once
    * per round plus the final assignment) — without it, `refineIters`
    * = N re-scans and re-quantizes the corpus N+1 times. The build
    * materializes everything before returning, so the cache is
    * unpersisted here rather than left to CacheScope. */
  private def refining(qz: DataFrame, refineIters: Int)(
      build: DataFrame => Unit): Unit = {
    val held = if (refineIters > 0) qz.persist() else qz
    try build(held) finally if (refineIters > 0) held.unpersist()
  }

  private def writeIvfPqCodes(spark: SparkSession,
                              qz: DataFrame, path: String, m: Int,
                              subDim: Int, pqStride: Int,
                              attrCols: Seq[String]): Unit = {
    val cents = spark.read.parquet(s"$path/centroids")
    // residual = vector − its cell's centroid, exact integer subtract;
    // persisted for the build's scope (codebook sample + encode both
    // read it), the writeCellIndex refinement pattern
    val res = nearestCells(qz, cents, 1, attrCols)
      .join(broadcast(cents.select(col("cid"), col("ce"))), "cid")
      .select(col("vid") +: col("cid") +:
        zip_with(col("qe"), col("ce"), (x, y) => x - y).as("re") +:
        attrCols.map(col): _*)
      .persist()
    try {
      // dense code = rank of the sampled vid (single-partition window is
      // fine: the frame is |corpus|/pqStride rows, codebook-sized by
      // design, like the collected codebooks on the probe side)
      val subs = spark.range(m).select(col("id").cast("int").as("s"))
      res.where(col("vid") % pqStride === 0)
        .select(col("vid").as("rid"), col("re"))
        .withColumn("code",
          row_number().over(Window.orderBy("rid")).cast("long") - 1)
        .crossJoin(broadcast(subs))
        .select(col("s"), col("code"),
          slice(col("re"), col("s") * subDim + 1, lit(subDim)).as("rse"))
        .write.mode("overwrite").parquet(s"$path/pqcb")
      val storedCb = spark.read.parquet(s"$path/pqcb")
      // encode residuals: argmin quantized L2 per (vector, subspace),
      // ties to the smallest code — pqEncode's rule on the residual
      // frame, partial-agg absorbing the m·|codebook| candidate fan-out
      val codes = res.crossJoin(broadcast(storedCb))
        .select(Seq(col("vid"), col("cid"), col("s"), col("code"),
          l2Q(slice(col("re"), col("s") * subDim + 1, lit(subDim)),
            col("rse")).as("d")) ++ attrCols.map(col): _*)
        .groupBy(col("vid") +: col("cid") +: col("s") +: attrCols.map(col): _*)
        .agg(min(struct(col("d"), col("code"))).as("best"))
        .select(Seq(col("vid"), col("cid"), col("s"),
          col("best.code").as("code")) ++ attrCols.map(col): _*)
        .groupBy(col("vid") +: col("cid") +: attrCols.map(col): _*)
        .agg(transform(
          array_sort(collect_list(struct(col("s"), col("code")))),
          x => x.getField("code")).as("codes"))
      writeByCell(codes, "overwrite", s"$path/codes")
    } finally res.unpersist()
  }

  /** Probe a [[writeIvfPqIndex]] index with a caller-supplied QUERY
    * VECTOR. Driver-side work is bounded by the two codebooks: the
    * centroids rank picks `nprobe` cells ([[annIvfIndexedVec]]'s
    * literal-pruning shape) and the collected pq codebook becomes a
    * LITERAL (cell, subspace, code) → distance map over the query's
    * PER-CELL residuals. Scoring is then a partition-pruned scan of the
    * compressed codes — per row a fold over `m` codes against the
    * literal table, no join, no window, no aggregation exchange — fused
    * into TakeOrderedAndProject (PlanSpec pins pruning + zero hash
    * exchanges). Distances are squared L2 between the query's residual
    * and the candidate's RECONSTRUCTED residual in the shared cell —
    * ascending, smaller is nearer. */
  def annIvfPqIndexedVec(spark: SparkSession, path: String,
                         queryVec: Seq[Float], k: Int, nprobe: Int = 2,
                         excludeVid: Option[Long] = None,
                         predicate: Option[Column] = None,
                         attrFields: Seq[StructField] = Nil): DataFrame = {
    val qe = quantizeVec(queryVec)
    // the query's residual differs per probed cell
    val qres = probeCentroids(spark, path, qe, nprobe).map { case (cid, ce) =>
      cid -> qe.zip(ce).map { case (x, y) => x - y }
    }.toMap
    val cb = spark.read.parquet(s"$path/pqcb").collect()
    val m = cb.map(_.getAs[Int]("s")).max + 1
    val ncb = cb.map(_.getAs[Long]("code")).max + 1
    // ADC tables for every probed cell, keyed (cid·m + s)·ncb + code —
    // collision-free: s < m, code < ncb
    val tbl = (for { (cid, qr) <- qres.toSeq; r <- cb } yield {
      val s = r.getAs[Int]("s")
      val code = r.getAs[Long]("code")
      val rse = r.getSeq[Long](r.fieldIndex("rse"))
      val sub = qr.slice(s * rse.length, (s + 1) * rse.length)
      val d = sub.zip(rse).map { case (x, y) => (x - y) * (x - y) }.sum
      ((cid * m + s) * ncb + code) -> d
    }).toMap
    val tblLit = typedlit(tbl)
    // attribute predicate inside the pruned compressed-code scan — the
    // filtered-ANN contract of [[annIvfIndexedVec]] on the PQ tier
    val pruned = predicate.foldLeft(
      readIvfPqCodes(spark, path, attrFields)
        .where(col("cid").isin(qres.keys.toSeq: _*)))((df, p) => df.where(p))
    val scored = pruned
      .select(col("vid"),
        aggregate(
          zip_with(col("codes"), sequence(lit(0L), lit((m - 1).toLong)),
            (c, s) => element_at(tblLit,
              (col("cid") * lit(m.toLong) + s) * lit(ncb) + c)),
          lit(0L), (acc, v) => acc + v).as("pq_dist"))
    excludeVid.fold(scored)(v => scored.where(col("vid") =!= v))
      .orderBy(col("pq_dist").asc, col("vid").asc)
      .limit(k)
  }

  /** By-id convenience probe: like [[annPqIndexed]], the index stores
    * only codes, so the query's float vector is a one-row pushed-down
    * lookup in the SOURCE table, then delegated. Same parameters as the
    * build → results mirror the declared oracle exactly. */
  def annIvfPqIndexed(spark: SparkSession, path: String,
                      embeddings: DataFrame, idCol: String, embCol: String,
                      queryId: Long, k: Int, nprobe: Int = 2,
                      predicate: Option[Column] = None,
                      attrFields: Seq[StructField] = Nil): DataFrame = {
    val qRows = embeddings.where(col(idCol) === queryId)
      .select(col(embCol)).take(1)
    require(qRows.nonEmpty,
      s"query vector $queryId is not in the source table")
    annIvfPqIndexedVec(spark, path, qRows(0).getSeq[Float](0), k, nprobe,
      excludeVid = Some(queryId), predicate = predicate,
      attrFields = attrFields)
  }

  private def readIvfPqCodes(spark: SparkSession, path: String,
                             attrFields: Seq[StructField]): DataFrame =
    // Explicit schema: the cid PARTITION column must stay LongType so
    // the pruning predicate needs no cast (readCells discipline)
    spark.read.schema(StructType(Seq(StructField("vid", LongType),
        StructField("codes", ArrayType(LongType))) ++ attrFields :+
      StructField("cid", LongType))).parquet(s"$path/codes")

  /** THE assignment rule: each vector of the quantized frame `qz`
    * ranks the (small, broadcast) codebook `cents` (cid, ce, cn2) by
    * quantized cosine, ties to the smallest cid, and keeps its `n`
    * nearest cells as (vid, qe, n2, cid, attrs…). At n = 1 this is the
    * cell assignment every build, refinement, dedup and sample uses; at
    * n = nprobe it is the probe of every frame-side query path, so
    * stored, probed and deduped cells can never disagree.
    * [[probeCentroids]] is the same rule for one driver-side vector. */
  private def nearestCells(qz: DataFrame, cents: DataFrame, n: Int,
                           attrs: Seq[String] = Nil): DataFrame = {
    val base = Seq(col("vid"), col("qe"), col("n2"), col("cid")) ++
      attrs.map(col)
    topPer(qz.crossJoin(broadcast(cents)).select(base :+
        cosineQNormed(col("qe"), col("ce"), col("n2"), col("cn2")).as("ccos"): _*),
      "vid", col("ccos").desc, "cid", n)
      .select(base: _*)
  }

  /** Lloyd (k-means) REFINEMENT of the coarse IVF codebook — turns the
    * stride-sampled quantizer into a learned one: `iters` rounds of
    * (assign all vectors to their nearest centroid) → (replace each
    * centroid with its cell's element-wise mean), then a final
    * assignment against the refined codebook. Returns (vid, cid); cells
    * keep their original centroid label across rounds, and a cell that
    * loses all members simply drops out (standard Lloyd behavior).
    *
    * Determinism/portability: vectors are the exact quantized integers,
    * per-dimension means use TRUNCATING integer division (Spark's `div`;
    * the oracle mirrors it with a sign trick, since DuckDB's `//`
    * floors), assignment ties break to the smallest cid — so fixed
    * `iters` gives one bit-exact answer in both engines (k-means with
    * floats and a convergence test would be neither).
    *
    * Scale shape, per round: the codebook (corpus/stride rows) is
    * BROADCAST for assignment — the corpus never shuffles for it — and
    * the mean is a posexplode to (cid, dim) keys (a ×dim narrow fan-out
    * into a uniform two-level aggregation), like the published scalable
    * k-means layouts. `iters` is a small constant; each round's plan
    * builds on the previous lazily, so keep it ≤ 3 (at deployment scale
    * you would materialize the codebook between rounds the way
    * [[writeCellIndex]] stores it). */
  def kmeansRefine(embeddings: DataFrame, idCol: String, embCol: String,
                   centroidStride: Int = 100, iters: Int = 1): DataFrame = {
    val qz = graft.CacheScope.persistTracked(
      quantized(embeddings, col(idCol), col(embCol)))
    val cents = refineCents(qz, centroidsOf(qz, centroidStride), iters)
    nearestCells(qz, cents, 1).select("vid", "cid")
  }

  /** `iters` Lloyd rounds over an initial codebook — the loop body of
    * [[kmeansRefine]], shared with [[writeCellIndex]]'s optional
    * refinement. */
  private def refineCents(qz: DataFrame, init: DataFrame,
                          iters: Int): DataFrame = {
    var cents = init
    for (_ <- 1 to iters) {
      val means = nearestCells(qz, cents, 1)
        .select(col("cid"), posexplode(col("qe")))
        .toDF("cid", "d", "v")
        .groupBy("cid", "d")
        .agg(sum("v").as("s"), count(lit(1)).as("n"))
        .select(col("cid"), col("d"), expr("s div n").as("m"))
      cents = means.groupBy("cid")
        .agg(transform(
          array_sort(collect_list(struct(col("d"), col("m")))),
          s => s.getField("m")).as("ce"))
        .withColumn("cn2", dotQ(col("ce"), col("ce")))
    }
    cents
  }

  /** The PRECOMPUTED-cells IVF path — the deployment shape [[annIvf]]'s
    * scaladoc promises: cell assignment is materialized ONCE (one
    * broadcast-scored pass over the corpus, the cost [[annIvf]] pays per
    * query), hive-partitioned by `cid` (the [[graft.sources.SummaryMirror]]
    * layout pattern) and sorted by `vid` within partitions for row-group
    * skipping on id lookups. Centroids are stored beside the cells.
    *
    * Layout: `path/cells/cid=<c>/…` with (vid, qe, n2); `path/centroids`
    * with (cid, ce, cn2). Same assignment rule as [[annIvf]] (argmax
    * quantized cosine, ties to smallest cid), so probing the index
    * returns identical results. */
  def writeCellIndex(embeddings: DataFrame, idCol: String, embCol: String,
                     path: String, centroidStride: Int = 100,
                     refineIters: Int = 0, attrCols: Seq[String] = Nil): Unit =
    refining(quantized(embeddings, col(idCol), col(embCol), attrCols),
        refineIters) { qz =>
      // refineIters > 0 stores a Lloyd-refined codebook (the learned
      // quantizer [[kmeansRefine]] computes) instead of the raw stride
      // sample; the probe paths read whatever codebook is stored, so the
      // index format and pruning behavior are identical either way.
      refineCents(qz, centroidsOf(qz, centroidStride), refineIters)
        .write.mode("overwrite").parquet(s"$path/centroids")
      // Assign against the codebook just MATERIALIZED: re-evaluating the
      // lazy refinement plan here would recompute every Lloyd round a
      // second time, and reading back also guarantees stored == used.
      val stored = embeddings.sparkSession.read.parquet(s"$path/centroids")
      // attrCols ride the cells as FILTERABLE columns — the deployment
      // shape of attribute-constrained ("filtered") ANN: a predicate on
      // them pushes into the pruned cell scan as an ordinary parquet
      // filter, so "neighbors among label = X" never rescans the corpus
      writeByCell(nearestCells(qz, stored, 1, attrCols), "overwrite",
        s"$path/cells")
    }

  /** The cid-partitioned store layout every cell and IVF-PQ code store
    * is written in: repartitioned on cid so each writer task holds one
    * cell, vid-sorted within files for footer skipping, hive `cid=`
    * directories that every probe path's partition pruning reads. */
  private def writeByCell(df: DataFrame, mode: String, out: String): Unit =
    df.repartition(col("cid")).sortWithinPartitions("vid")
      .write.mode(mode).partitionBy("cid").parquet(out)

  /** INCREMENTAL cell-index append — the ANN-index analog of
    * [[graft.sources.BucketedMirror.appendOnce]]: a fresh embedding
    * micro-batch (new crawl segment, new documents) is assigned against
    * the STORED codebook — the index's centroids never move, so the
    * existing cell partitions stay valid and every probe path keeps its
    * pruning — and appended into its `cid=` partitions. Only the
    * appended rows shuffle; rebuilding the corpus-sized cells because
    * 0.1% of vectors arrived would be the mirror-overwrite mistake
    * [[graft.sources.BucketedMirror.appendOnce]] exists to avoid.
    *
    * Replay-safe for `foreachBatch` at TWO granularities: an
    * `_applied_batches/<batchId>` marker under the index root
    * (appendOnce's exact contract — the marker commits AFTER the data
    * files, so a crash between the two replays one batch) catches
    * whole-batch replays, and a vid-level anti join against the batch's
    * own cell partitions catches the replays the marker can't see — a
    * file source re-delivering the same rows under a NEW batchId. No
    * probe path dedups, so without the second guard every such replay
    * would permanently add one duplicate row per vid. Returns false on
    * a marker-replayed batch. Codebook drift is the caller's maintenance
    * policy: appends never move centroids, so when the corpus
    * distribution walks away from the codebook, recall decays and an
    * offline [[writeCellIndex]] relearn (the btree-rebuild analog)
    * resets it. */
  def appendCellIndex(embeddings: DataFrame, idCol: String, embCol: String,
                      path: String, batchId: Long): Boolean = {
    val spark = embeddings.sparkSession
    graft.sources.StoreCompaction.appendOnce(spark, path, batchId) {
      // assign against the codebook AS STORED (stored == used, the
      // writeCellIndex invariant — a batch must never see a codebook
      // the index's existing cells were not assigned with). Local
      // persist (NOT CacheScope: the write below materializes eagerly
      // inside this call, so the cache's life is this method — a scoped
      // release here would wrongly drop an enclosing query's tracked
      // frames)
      val assigned = nearestCells(quantized(embeddings, col(idCol),
          col(embCol)), spark.read.parquet(s"$path/centroids"), 1)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      // vid-level anti join against the index BEFORE appending: a
      // re-delivered document (same vid under a NEW batchId — the
      // file-source replay case the batch marker can't see) would
      // otherwise accumulate one duplicate row per replay, and no probe
      // path dedups. Pruned to the batch's own cell set (deterministic
      // assignment against the frozen codebook puts a replayed vid in
      // the same cell as its stored copy), so the guard scans only the
      // partitions the append would touch anyway.
      writeByCell(assigned.join(probedCells(spark, path, assigned)
          .select("vid"), Seq("vid"), "left_anti"),
        "append", s"$path/cells")
      assigned.unpersist(blocking = false)
    }
  }

  /** STREAMING-tier semantic dedup — the embedding-space mirror of
    * [[graft.ext.Dedup.tagAgainstHistory]]'s tag-don't-drop contract: a
    * fresh micro-batch is TAGGED `near_index` where some vector already
    * IN the index clears the cosine threshold, and left untouched
    * otherwise. The batch assigns against the stored codebook (small,
    * broadcast), its cell set collects to a LITERAL `cid IN (…)`
    * partition predicate — the probe scan touches only the batch's own
    * cells, the [[annIvfIndexedVec]] pruning shape, never the corpus —
    * and the in-cell pair search is bounded by batch × cell size.
    *
    * Compose with [[appendCellIndex]] in one `foreachBatch` (tag
    * against the CURRENT index, then append the novel rows) for
    * incremental SemDeDup over a live feed: each batch dedups against
    * everything accumulated before it. Stateless per batch — replay
    * re-derives the same tags against whatever the index then holds;
    * since tagging only ANNOTATES, a replay can re-tag but never lose a
    * document (the text tier's exact argument). Cross-batch dups inside
    * one un-appended batch are [[semDedup]]'s batch job, not this
    * probe's. `nprobe` > 1 widens each batch vector's probe beyond its
    * home cell — the boundary-straddling recall knob. */
  def tagNearIndex(batch: DataFrame, idCol: String, embCol: String,
                   path: String, threshold: Double,
                   nprobe: Int = 1): DataFrame = {
    val spark = batch.sparkSession
    val qz = graft.CacheScope.persistTracked(
      quantized(batch, col(idCol), col(embCol)))
    val probes = nearestCells(qz, spark.read.parquet(s"$path/centroids"),
      nprobe)
    val dup = probes.as("b").join(probedCells(spark, path, probes).as("s"),
        col("b.cid") === col("s.cid") && col("b.vid") =!= col("s.vid"))
      .where(cosineQNormed(col("b.qe"), col("s.qe"),
        col("b.n2"), col("s.n2")) >= threshold)
      .select(col("b.vid")).distinct()
      .withColumn("near_index", lit(true))
    batch.join(dup, batch(idCol) === dup("vid"), "left")
      .drop("vid")
      .na.fill(false, Seq("near_index"))
  }

  /** Probe a [[writeCellIndex]] index with a caller-supplied QUERY
    * VECTOR — the real serving shape (the query is usually a freshly
    * embedded text, not a corpus member): rank the (small, stored)
    * centroids, then scan ONLY the `nprobe` cell partitions — the
    * `cid IN (…)` filter is a LITERAL partition predicate, so Catalyst
    * prunes the other directories before any IO (PlanSpec pins
    * PartitionFilters on this plan). Driver-side work is bounded by the
    * codebook size and nprobe, never by the corpus. */
  def annIvfIndexedVec(spark: SparkSession, path: String,
                       queryVec: Seq[Float], k: Int, nprobe: Int = 2,
                       excludeVid: Option[Long] = None,
                       predicate: Option[Column] = None,
                       attrFields: Seq[StructField] = Nil): DataFrame =
    probeCellIndex(spark, path, quantizeVec(queryVec), k, nprobe, excludeVid,
      predicate, attrFields)

  /** The single-vector probe behind [[annIvfIndexedVec]] and
    * [[annIvfIndexed]], for an already-quantized query `qe`. */
  private def probeCellIndex(spark: SparkSession, path: String,
      qe: Seq[Long], k: Int, nprobe: Int,
      excludeVid: Option[Long], predicate: Option[Column],
      attrFields: Seq[StructField]): DataFrame = {
    val qcids = probeCentroids(spark, path, qe, nprobe).map(_._1)
    // FILTERED ANN: the attribute predicate applies INSIDE the pruned
    // cell scan — cid partition pruning AND the attr filter both reach
    // the parquet reader (PlanSpec pins PartitionFilters + PushedFilters
    // together on this plan), and the top-k stays fused. The alternative
    // — top-k first, filter after — silently under-fills k. The query
    // row itself is NOT subject to it: "neighbors of q among label = X"
    // doesn't require q to carry X.
    val probed = predicate.foldLeft(readCells(spark, path, attrFields)
      .where(col("cid").isin(qcids: _*)))((df, p) => df.where(p))
    excludeVid.fold(probed)(v => probed.where(col("vid") =!= v))
      .select(col("vid"), cosineQNormed(col("qe"), typedlit(qe), col("n2"),
        lit(qe.map(v => v * v).sum)).as("cosine"))
      .orderBy(col("cosine").desc, col("vid").asc)
      .limit(k)
  }

  /** The `nprobe` cells one driver-side query vector `qe` probes, with
    * their centroids: [[nearestCells]]'s rule (argmax quantized cosine,
    * ties to the smallest cid) ranked over the stored codebook and
    * collected — driver-side work bounded by nprobe, never the corpus. */
  private def probeCentroids(spark: SparkSession, path: String,
      qe: Seq[Long], nprobe: Int): Seq[(Long, Seq[Long])] =
    spark.read.parquet(s"$path/centroids")
      .select(col("cid"), col("ce"), cosineQNormed(typedlit(qe), col("ce"),
        lit(qe.map(v => v * v).sum), col("cn2")).as("ccos"))
      .orderBy(col("ccos").desc, col("cid").asc)
      .limit(nprobe)
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toSeq

  private def readCells(spark: SparkSession, path: String,
                        attrFields: Seq[StructField] = Nil): DataFrame = {
    // Explicit schema so the cid PARTITION column is LongType (inference
    // would shrink it to int and force a cast into the pruning predicate).
    // attrFields name any attribute columns the index was built with
    // (writeCellIndex attrCols) that this read needs — parquet resolves
    // fields by name, so an attr-carrying index read without them simply
    // prunes the attrs at the scan.
    spark.read.schema(StructType(Seq(StructField("vid", LongType),
        StructField("qe", ArrayType(LongType)), StructField("n2", LongType)) ++
        attrFields :+ StructField("cid", LongType)))
      .parquet(s"$path/cells")
  }

  /** The stored cells of every cell a frame of `probes` (…, cid) names:
    * the distinct cids collect to the driver (bounded by the codebook,
    * not the batch) as a LITERAL `cid IN (…)` partition predicate, so
    * Catalyst prunes every other cell directory before any IO. */
  private def probedCells(spark: SparkSession, path: String,
                          probes: DataFrame): DataFrame = {
    val cids = probes.select("cid").distinct()
      .collect().map(_.getLong(0)).toSeq
    readCells(spark, path).where(col("cid").isin(cids: _*))
  }

  /** BATCH top-k probe of a [[writeCellIndex]] index with a QUERY FRAME
    * — the offline serving shape single-vector probes can't cover
    * (RAG-eval batches, hard-negative mining, re-ranking sweeps: one
    * job answers thousands of fresh queries): every query ranks the
    * broadcast centroids, takes its `nprobe` home cells, and the UNION
    * of probed cells collects to one literal partition predicate
    * ([[tagNearIndex]]'s pruning shape with top-k instead of a
    * threshold tag) — the index scan reads each touched cell once for
    * the WHOLE batch, never once per query. Candidates join on cid
    * (bounded by batch × cell size), and the per-query top-k runs as a
    * partial WindowGroupLimit (≤ k rows per query per task before the
    * exchange). Driver-side work is bounded by the codebook, never the
    * corpus or the batch. A query id that also lives in the index is
    * excluded from its own neighbours (the [[annIvfIndexed]]
    * convention). Output: (query_id, rank, vid, cosine). */
  def annIvfIndexedBatch(queries: DataFrame, idCol: String, embCol: String,
                         path: String, k: Int, nprobe: Int = 2): DataFrame = {
    val spark = queries.sparkSession
    val qz = graft.CacheScope.persistTracked(
      quantized(queries, col(idCol), col(embCol)))
    val probes = nearestCells(qz, spark.read.parquet(s"$path/centroids"),
      nprobe)
    val pairs = probes.as("q").join(probedCells(spark, path, probes).as("s"),
        col("q.cid") === col("s.cid") && col("s.vid") =!= col("q.vid"))
      .select(col("q.vid").as("query_id"), col("s.vid"),
        cosineQNormed(col("q.qe"), col("s.qe"),
          col("q.n2"), col("s.n2")).as("cosine"))
    topPer(pairs, "query_id", col("cosine").desc, "vid", k, "rank")
      .select("query_id", "rank", "vid", "cosine")
  }

  /** By-id convenience probe: looks the query row up IN THE INDEX (a
    * full-corpus scan mitigated only by vid row-group sorting — the
    * lookup predicate is pushed to the parquet reader and the cell
    * files are vid-sorted, both pinned in SimilaritySpec, so footer
    * min/max stats prune the lookup to ~one row group per file; per-
    * query cost still scales with file COUNT, unlike
    * [[annIvfIndexedVec]]), then delegates. Prefer the vector variant
    * on a serving path. */
  def annIvfIndexed(spark: SparkSession, path: String,
                    queryId: Long, k: Int, nprobe: Int = 2,
                    predicate: Option[Column] = None,
                    attrFields: Seq[StructField] = Nil): DataFrame = {
    val qRows = readCells(spark, path).where(col("vid") === queryId)
      .select(col("qe")).take(1)
    require(qRows.nonEmpty,
      s"query vector $queryId is not in the cell index at $path")
    probeCellIndex(spark, path, qRows(0).getSeq[Long](0), k, nprobe,
      Some(queryId), predicate, attrFields)
  }

  /** Batch ANN recall@k over a SAMPLE of query vectors — the index-QA
    * measurement run before an approximate index serves traffic: for
    * each query id, how many of the exact top-`k` ([[bruteForceTopK]]
    * semantics) the LSH and IVF paths each recover. One corpus scan per
    * method family with the query SET broadcast and per-query top-k via
    * windows — not a per-query loop: at scale the evaluation sample is
    * hundreds of queries and looping would re-scan the corpus per
    * query. Queries with zero approximate candidates still emit their
    * row (hits 0) via the explicit (method × query) base frame.
    *
    * Output: (method, query_id, hits, k) — one row per method per
    * query, hits = |approx top-k ∩ exact top-k|. */
  def recallAtK(embeddings: DataFrame, idCol: String, embCol: String,
                queryIds: Seq[Long], k: Int,
                bands: Int = 8, planes: Int = 16,
                centroidStride: Int = 100, nprobe: Int = 2): DataFrame = {
    val qz = graft.CacheScope.persistTracked(
      quantized(embeddings, col(idCol), col(embCol))
        .withColumn("bb", lshBuckets(embeddings, "qe", bands, planes)))
    val queries = qz.where(col("vid").isin(queryIds: _*))
    val qset = broadcast(asQuery(queries, "qid", col("bb").as("qbb")))
    def topk(scored: DataFrame): DataFrame =
      topPer(scored.select(col("qid"), col("vid"), pairCosine), "qid",
        col("cosine").desc, "vid", k).select("qid", "vid")
    val pairs = qz.crossJoin(qset).where(col("vid") =!= col("qid"))
    val bf = topk(pairs)
    val lsh = topk(pairs.where(
      exists(zip_with(col("bb"), col("qbb"), (x, y) => x === y), b => b)))
    val cents = centroidsOf(qz, centroidStride)
    val qcells = broadcast(
      asQuery(nearestCells(queries, cents, nprobe), "qid", col("cid")))
    val ivf = topk(nearestCells(qz, cents, 1).join(qcells, "cid")
      .where(col("vid") =!= col("qid")))
    def hitsOf(m: String, cand: DataFrame): DataFrame =
      cand.join(bf, Seq("qid", "vid"))
        .groupBy("qid").agg(count(lit(1)).as("hits"))
        .select(lit(m).as("method"), col("qid"), col("hits"))
    import embeddings.sparkSession.implicits._
    val base = Seq("ivf", "lsh")
      .flatMap(m => queryIds.map(q => (m, q))).toDF("method", "qid")
    base.join(hitsOf("ivf", ivf).unionByName(hitsOf("lsh", lsh)),
        Seq("method", "qid"), "left")
      .select(col("method"), col("qid").as("query_id"),
        coalesce(col("hits"), lit(0L)).as("hits"), lit(k).as("k"))
      .orderBy("method", "query_id")
  }

  /** Binary-tier recall@k — [[recallAtK]]'s measurement for the 1-bit
    * stack, and the design input for [[hammingRerank]]'s `coarseK`
    * knob: for each query, how many of the exact quantized-cosine
    * top-`k` survive in the Hamming coarse top-`coarseK` shortlist.
    * A coarseK whose recall plateaus is wide enough; paying rerank
    * arithmetic past it buys nothing. Self-pairs are excluded on both
    * sides (the recall convention). Queries ride ONE broadcast against
    * each of two corpus scans (codes for the coarse pass, quantized
    * vectors for the exact pass) — never a per-query loop. Output:
    * (query_id, hits, k, coarse_k), hits = |coarse ∩ exact|. */
  def binaryRecallAtK(embeddings: DataFrame, idCol: String, embCol: String,
                      queryIds: Seq[Long], k: Int, coarseK: Int): DataFrame =
    binaryRecallCurve(embeddings, idCol, embCol, queryIds, k, Seq(coarseK))
      .select("query_id", "hits", "k", "coarse_k")
      .orderBy("query_id")

  /** The coarseK SWEEP behind [[binaryRecallAtK]] — the measurement
    * that DRIVES [[hammingRerank]]'s default instead of sitting beside
    * it: one coarse pass at `max(coarseKs)` (ranks retained), one
    * exact pass at `k`, then every requested shortlist width is a
    * rank-filtered count off the same joined frame — sweeping N widths
    * costs ONE extra broadcast of the width list, not N corpus scans.
    * Read it like a recall curve: pick the smallest coarseK past the
    * plateau's knee; rerank arithmetic beyond that buys nothing.
    * Output: (coarse_k, query_id, hits, k), one row per
    * (width, query). */
  def binaryRecallCurve(embeddings: DataFrame, idCol: String, embCol: String,
                        queryIds: Seq[Long], k: Int,
                        coarseKs: Seq[Int]): DataFrame = {
    require(coarseKs.nonEmpty, "binaryRecallCurve: at least one coarseK")
    require(coarseKs.forall(_ >= k),
      s"binaryRecallCurve: every coarseK must be >= k=$k")
    val qz = graft.CacheScope.persistTracked(
      quantized(embeddings, col(idCol).cast("long"), col(embCol)))
    val qset = broadcast(asQuery(qz.where(col("vid").isin(queryIds: _*)), "qid"))
    val exact = topPer(qz.crossJoin(qset).where(col("vid") =!= col("qid"))
        .select(col("qid"), col("vid"), pairCosine),
      "qid", col("cosine").desc, "vid", k).select("qid", "vid")
    val codes = graft.CacheScope.persistTracked(
      binarize1Bit(embeddings, col(idCol), col(embCol)))
    val coarse = hammingTopKCore(codes,
        codes.where(col("vec_id").isin(queryIds: _*)), coarseKs.max,
        excludeSelf = true)
      .select(col("q_id").as("qid"), col("vec_id").as("vid"), col("rnk"))
    import embeddings.sparkSession.implicits._
    val widths = coarseKs.distinct.sorted
    val grid = widths.flatMap(ck => queryIds.map(q => (ck, q)))
      .toDF("ck", "qid")
    grid.join(
        exact.join(coarse, Seq("qid", "vid"))
          .crossJoin(broadcast(widths.toDF("ck")))
          .where(col("rnk") <= col("ck"))
          .groupBy("ck", "qid").agg(count(lit(1)).as("hits")),
        Seq("ck", "qid"), "left")
      .select(col("ck").cast("long").as("coarse_k"),
        col("qid").as("query_id"),
        coalesce(col("hits"), lit(0L)).as("hits"), lit(k.toLong).as("k"))
      .orderBy("coarse_k", "query_id")
  }

  /** Oversize-bucket skip shared by [[knnGraph]]/[[nearDupPairs]]: a
    * partial-aggregating per-(band, bucket) count joined back — the
    * oversize bucket never reaches the candidate self-join. No-op at
    * the Int.MaxValue default. */
  private def capBuckets(b: DataFrame, maxBucket: Int): DataFrame =
    if (maxBucket == Int.MaxValue) b
    else b.join(
      b.groupBy("band", "bucket").agg(count(lit(1)).as("__n"))
        .where(col("__n") <= maxBucket).select("band", "bucket"),
      Seq("band", "bucket"))

  /** The scored LSH candidate pairs behind [[knnGraph]] and
    * [[nearDupPairs]]: (left, right, cosine) for every distinct pair
    * sharing a bucket in ANY band with `keep(x.vid, y.vid)`. The
    * per-band bucket self-join shuffles on uniform (band, bucket)
    * keys, never all-pairs. The quantized base is persisted because
    * the candidate join consumes it three times — persist, not
    * localCheckpoint: checkpoint blocks don't survive executor loss,
    * lineage recomputation does (released via CacheScope). */
  private def lshPairs(embeddings: DataFrame, idCol: String, embCol: String,
      bands: Int, planes: Int, maxBucket: Int,
      keep: (Column, Column) => Column, left: String,
      right: String): DataFrame = {
    val base = graft.CacheScope.persistTracked(
      quantized(embeddings, col(idCol), col(embCol))
        .withColumn("bb", lshBuckets(embeddings, "qe", bands, planes)))
    val buckets = capBuckets(base.select(col("vid"),
      posexplode(col("bb")).as(Seq("band", "bucket"))), maxBucket)
    buckets.as("x").join(buckets.as("y"),
        col("x.band") === col("y.band") && col("x.bucket") === col("y.bucket") &&
          keep(col("x.vid"), col("y.vid")))
      .select(col("x.vid").as(left), col("y.vid").as(right))
      .distinct()
      .join(base.as("a"), col(left) === col("a.vid"))
      .join(base.as("b"), col(right) === col("b.vid"))
      .select(col(left), col(right),
        cosineQNormed(col("a.qe"), col("b.qe"), col("a.n2"), col("b.n2")).as("cosine"))
  }

  /** Approximate k-NN GRAPH: for EVERY vector, its `k` most similar
    * neighbours among LSH band-bucket candidates — the batch
    * construction behind semantic clustering / diversity sampling of a
    * training corpus (vs [[nearDupPairs]]' global top pairs and
    * [[annLsh]]'s single-query lookup). Directed: each candidate pair
    * is considered from both endpoints, then a per-source window keeps
    * the top `k` (`row_number` — ONE shuffle on the uniform source-id
    * key). Vectors with no bucket collisions have no rows (recall < 1
    * by construction, as everywhere in the LSH family). `maxBucket`
    * caps the bucket self-join's quadratic blowup on clusters of
    * identical embeddings — same guard and trade as
    * [[graft.ext.Dedup.minhashLsh]]; default uncapped. */
  def knnGraph(embeddings: DataFrame, idCol: String, embCol: String,
               k: Int, bands: Int = 8, planes: Int = 16,
               maxBucket: Int = Int.MaxValue): DataFrame =
    topPer(lshPairs(embeddings, idCol, embCol, bands, planes, maxBucket,
        _ =!= _, "src", "dst"),
      "src", col("cosine").desc, "dst", k, "rn")

  /** Embedding near-dup candidates: top-`k` most-cosine-similar pairs
    * among band-bucket collisions (pairs sharing a bucket in ANY band).
    * Candidates come only from the per-band bucket self-join — shuffles
    * on uniform (band, bucket) keys, never all-pairs; with 16 planes per
    * band the expected in-bucket join is O(bands · n²/2^16) vs the old
    * single-band 4-plane O(n²/2^4). `maxBucket`
    * caps the residual quadratic hazard — a cluster of identical
    * embeddings collapses into one bucket per band regardless of the
    * plane count; same guard and trade as
    * [[graft.ext.Dedup.minhashLsh]]; default uncapped. */
  def nearDupPairs(embeddings: DataFrame, idCol: String, embCol: String,
                   k: Int, bands: Int = 8, planes: Int = 16,
                   maxBucket: Int = Int.MaxValue): DataFrame =
    lshPairs(embeddings, idCol, embCol, bands, planes, maxBucket, _ < _,
        "id_a", "id_b")
      .orderBy(col("cosine").desc, col("id_a").asc, col("id_b").asc)
      .limit(k)

  /** SemDeDup-style SEMANTIC dedup — the embedding-space analog of
    * [[graft.ext.Dedup.keepRepresentatives]]: drop every document whose
    * embedding is within `threshold` cosine of an EARLIER (smaller-id)
    * document in the same coarse IVF cell, keep everything else. Cells
    * come from THE shared assignment rule ([[nearestCells]] over the
    * stride codebook — the rule [[writeCellIndex]] stores and every
    * probe ranks with, so over the same codebook the deduped cells ARE
    * the stored and probed ones), so the pair search
    * is blocked per cell instead of corpus-wide: the self-join shuffles
    * on the cell id and each cell's candidate set is ~stride vectors,
    * never data×data. The keep rule is keep-first (a doc survives iff
    * no smaller-id in-cell neighbour clears the threshold) — one
    * distinct + one LeftAnti, no connected components: semantic
    * near-duplication is not meaningfully transitive across a 0.9+
    * threshold the way minhash clusters are, and keep-first is the rule
    * the published pipelines apply per cluster.
    *
    * Blind spot, by construction: a near-dup pair STRADDLING a cell
    * boundary is not considered (same recall<1 trade as every blocked
    * method here; the text-side LSH family has the same property per
    * band). `maxCell` caps the per-cell quadratic on degenerate
    * codebooks — an over-`maxCell` cell contributes no pairs and keeps
    * all members (same skip-and-keep semantics as [[capBuckets]]). The
    * guard is ON BY DEFAULT (opt-out via `Int.MaxValue`, not opt-in —
    * VERDICT r11): a healthy stride-`centroidStride` codebook yields
    * ~stride-sized cells, far under the default cap, so the default
    * only ever bites on the degenerate codebook that would otherwise go
    * quadratic. CAVEAT when the cap bites, dedup is silently DISABLED
    * inside that cell (all members kept) — on a skewed corpus whose
    * dominant cluster exceeds the cap, audit cell sizes first
    * ([[cellBalanced]]'s grouping, or
    * `cells.groupBy("cid").count()`) and either refine the codebook
    * ([[kmeansRefine]] splits dense regions) or raise `maxCell`
    * deliberately; the cap trades per-cell recall for a bounded worst
    * case, never correctness. Output: the kept ids as `idCol`, one row
    * per surviving document. */
  def semDedup(embeddings: DataFrame, idCol: String, embCol: String,
               threshold: Double, centroidStride: Int = 100,
               maxCell: Int = 4096): DataFrame = {
    val qz = graft.CacheScope.persistTracked(
      quantized(embeddings, col(idCol), col(embCol)))
    // consumed three times (both pair sides + the keep anti-join)
    val cells = graft.CacheScope.persistTracked(
      nearestCells(qz, centroidsOf(qz, centroidStride), 1))
    val eligible =
      if (maxCell == Int.MaxValue) cells
      else {
        val sizes = cells.groupBy("cid").agg(count(lit(1)).as("__n"))
        // observability when the cap bites (ADVICE r12): skip-and-keep
        // inside an over-cap cell is a deliberate recall trade, but it
        // must not be SILENT — one cell-count-sized action over the
        // already-persisted cells frame, only on the capped path.
        val over = sizes.where(col("__n") > maxCell).count()
        if (over > 0)
          org.slf4j.LoggerFactory.getLogger(getClass).warn(
            s"semDedup: $over cell(s) exceed maxCell=$maxCell — dedup is " +
              "skipped inside them (all members kept); refine the codebook " +
              "(kmeansRefine) or raise maxCell deliberately")
        cells.join(sizes.where(col("__n") <= maxCell).select("cid"),
          Seq("cid"))
      }
    val dropped = eligible.as("a").join(eligible.as("b"),
        col("a.cid") === col("b.cid") && col("b.vid") < col("a.vid"))
      .where(cosineQNormed(col("a.qe"), col("b.qe"),
        col("a.n2"), col("b.n2")) >= threshold)
      .select(col("a.vid")).distinct()
    cells.join(dropped, Seq("vid"), "left_anti")
      .select(col("vid").as(idCol))
  }

  /** Cluster-BALANCED diversity sample — at most `n` documents per
    * semantic cell, the embedding-space analog of
    * [[Sampling.capPerGroup]]'s per-domain cap (and exactly it, once
    * the cell is the group): the corpus-curation move that flattens
    * over-represented semantic regions (boilerplate clusters, template
    * farms) instead of over-represented DOMAINS. Assignment is the
    * shared [[nearestCells]] rule; the kept n per cell are the smallest
    * seeded-hash ranks, deterministic and re-drawable, with the
    * rank<=n predicate pushing into WindowGroupLimit (bounded buffers,
    * no whole-cell sorts). Output: (idCol, cid). */
  def cellBalanced(embeddings: DataFrame, idCol: String, embCol: String,
                   n: Int, centroidStride: Int = 100,
                   seed: String = "cell0"): DataFrame = {
    val qz = quantized(embeddings, col(idCol), col(embCol))
    val cells = nearestCells(qz, centroidsOf(qz, centroidStride), 1)
      .select(col("vid"), col("cid"))
    Sampling.capPerGroup(cells, col("cid"), col("vid"), n, seed)
      .select(col("vid").as(idCol), col("cid"))
  }
}
