package graft.ext

import graft.SparkSpec

class SimilaritySpec extends SparkSpec {
  import spark.implicits._

  private def vecs = {
    val rnd = new scala.util.Random(7)
    val base = Array.fill(8)(rnd.nextFloat() * 2 - 1)
    Seq(
      (0L, base),
      (1L, base.map(x => x * 2.0f)),          // same direction → cosine 1
      (2L, base.map(x => -x)),                // opposite → cosine -1
      (3L, Array.fill(8)(rnd.nextFloat() * 2 - 1)),
      (4L, Array.fill(8)(rnd.nextFloat() * 2 - 1))
    ).toDF("vec_id", "embedding")
  }

  test("brute-force top-k ranks scaled copy first, negation last") {
    val out = Similarity.bruteForceTopK(vecs, "vec_id", "embedding", 0L, 4)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(out.head._1 == 1L)
    assert(out.head._2 > 0.999999)
    assert(out.last._1 == 2L)
    assert(out.last._2 < -0.999999)
  }

  test("LSH ANN results are a subset of brute-force with same scores") {
    val bf = Similarity.bruteForceTopK(vecs, "vec_id", "embedding", 0L, 4)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val lsh = Similarity.annLsh(vecs, "vec_id", "embedding", 0L, 4)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(lsh.nonEmpty) // same-direction copy always shares the bucket
    lsh.foreach { case (id, c) => assert(bf(id) == c) }
    assert(lsh.map(_._1).contains(1L))
  }

  test("kmeansRefine pulls borderline members to the learned centroid") {
    // Two direction clusters; stride 4 seeds the codebook with ids 0
    // (cluster A) and 4 (cluster B). Seed 4 is an OUTLIER of B leaning
    // toward the boundary, so A-member 3 starts closer to it than to
    // seed 0 — after one Lloyd round B's centroid retreats into true B
    // and A's moves to its members' mean, which reclaims 3 (cosines
    // hand-checked: 3-vs-seeds 0.871/0.915 → B, 3-vs-means 0.896/0.762
    // → A).
    def v(x: Float, y: Float) = Array(x, y, 0f, 0f)
    val docs = Seq(
      0L -> v(1f, 0f), 1L -> v(0.95f, 0.1f), 2L -> v(0.9f, 0.05f),
      3L -> v(0.8f, 0.45f),
      4L -> v(0.6f, 0.8f), 5L -> v(0.05f, 1f), 6L -> v(0.1f, 0.95f),
      7L -> v(0f, 1f))
      .toDF("vec_id", "embedding")
    val r0 = Similarity.kmeansRefine(docs, "vec_id", "embedding",
        centroidStride = 4, iters = 0)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    graft.CacheScope.release()
    val r1 = Similarity.kmeansRefine(docs, "vec_id", "embedding",
        centroidStride = 4, iters = 1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    graft.CacheScope.release()
    // seed round: 3 lands in B's cell (closer to raw seed 4)
    assert(r0(3L) == 4L, r0)
    // after one Lloyd round A's centroid moved toward its members and
    // reclaims 3; the stable members never flip
    assert(r1(3L) == 0L, r1)
    assert(Seq(0L, 1L, 2L).forall(v => r1(v) == 0L), r1)
    assert(Seq(4L, 5L, 6L, 7L).forall(v => r1(v) == 4L), r1)
    // deterministic under repartitioning
    val again = Similarity.kmeansRefine(docs.repartition(5), "vec_id",
        "embedding", centroidStride = 4, iters = 1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    graft.CacheScope.release()
    assert(again == r1)
  }

  test("refined cell index stores the learned codebook; cells match kmeansRefine") {
    def v(x: Float, y: Float) = Array(x, y, 0f, 0f)
    val docs = Seq(
      0L -> v(1f, 0f), 1L -> v(0.95f, 0.1f), 2L -> v(0.9f, 0.05f),
      3L -> v(0.8f, 0.45f),
      4L -> v(0.6f, 0.8f), 5L -> v(0.05f, 1f), 6L -> v(0.1f, 0.95f),
      7L -> v(0f, 1f))
      .toDF("vec_id", "embedding")
    val root = java.nio.file.Files.createTempDirectory("graft-ivfk").toString
    Similarity.writeCellIndex(docs, "vec_id", "embedding", root,
      centroidStride = 4, refineIters = 1)
    // stored cells ARE the Lloyd assignment (vector 3 in the refined
    // A cell, not seed 4's — same geometry as the kmeansRefine spec)
    // cast: partition-column inference types cid as int (readCells, the
    // production path, pins it to long with an explicit schema)
    val cells = spark.read.parquet(s"$root/cells")
      .select(org.apache.spark.sql.functions.col("vid"),
        org.apache.spark.sql.functions.col("cid").cast("long"))
      .collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val km = Similarity.kmeansRefine(docs, "vec_id", "embedding",
        centroidStride = 4, iters = 1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    graft.CacheScope.release()
    assert(cells == km, s"cells $cells vs kmeans $km")
    assert(cells(3L) == 0L)
    // the probe path reads the refined codebook transparently
    val near = Similarity.annIvfIndexed(spark, root, 0L, 3, nprobe = 1)
      .collect().map(_.getLong(0))
    assert(near.toSet == Set(1L, 2L, 3L), near.toSeq)
  }

  test("filtered ANN: predicate constrains the probe on both index tiers") {
    import org.apache.spark.sql.functions.col
    def v(x: Float, y: Float) = Array(x, y, 0f, 0f, 0f, 0f, 0f, 0f)
    // one tight cluster around (1,0) with alternating labels, so the
    // unfiltered top-k and the label-constrained top-k genuinely differ
    val rows = (0L until 12L).map { i =>
      (i, v(1f, 0.02f * i), (i % 2).toInt)
    }
    val docs = rows.toDF("vec_id", "embedding", "label")
    val root = java.nio.file.Files.createTempDirectory("graft-fann").toString
    val attrs = Seq(org.apache.spark.sql.types.StructField("label",
      org.apache.spark.sql.types.IntegerType))
    Similarity.writeCellIndex(docs, "vec_id", "embedding", root,
      centroidStride = 12, attrCols = Seq("label"))
    val filtered = Similarity.annIvfIndexed(spark, root, 0L, 3, nprobe = 1,
        predicate = Some(col("label") === 1), attrFields = attrs)
      .collect().map(_.getLong(0)).toSeq
    // exact expectation: among odd vids, nearest to vid 0 by cosine are
    // the smallest angles — 1, 3, 5
    assert(filtered == Seq(1L, 3L, 5L), filtered)
    // the unfiltered probe would have returned 1,2,3 — the predicate
    // changed the RANKING SET, not just annotated it
    val unfiltered = Similarity.annIvfIndexed(spark, root, 0L, 3, nprobe = 1)
      .collect().map(_.getLong(0)).toSeq
    assert(unfiltered == Seq(1L, 2L, 3L), unfiltered)
    // the PQ tier honors the same contract: every returned vid matches
    // the predicate and the set equals the unfiltered ADC ranking
    // restricted to label 1 (same codes, same distances, same order)
    val pqRoot = java.nio.file.Files.createTempDirectory("graft-fpq").toString
    Similarity.writeIvfPqIndex(docs, "vec_id", "embedding", pqRoot,
      coarseStride = 12, m = 4, subDim = 2, pqStride = 3,
      attrCols = Seq("label"))
    val pqAll = Similarity.annIvfPqIndexed(spark, pqRoot, docs, "vec_id",
        "embedding", queryId = 0L, k = 12, nprobe = 1)
      .collect().map(r => r.getLong(0) -> r.getLong(1))
    val pqFiltered = Similarity.annIvfPqIndexed(spark, pqRoot, docs,
        "vec_id", "embedding", queryId = 0L, k = 3, nprobe = 1,
        predicate = Some(col("label") === 1), attrFields = attrs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toSeq
    assert(pqFiltered == pqAll.filter(_._1 % 2 == 1).take(3).toSeq,
      s"filtered $pqFiltered vs all ${pqAll.toSeq}")
    graft.CacheScope.release()
  }

  test("filtered ANN: brute-force and LSH tiers honor the candidate predicate") {
    import org.apache.spark.sql.functions.col
    def v(x: Float, y: Float) = Array(x, y, 0f, 0f, 0f, 0f, 0f, 0f)
    val rows = (0L until 12L).map(i => (i, v(1f, 0.02f * i), (i % 2).toInt))
    val docs = rows.toDF("vec_id", "embedding", "label")
    // exact baseline under the predicate: odd vids nearest to 0 are 1,3,5
    val bf = Similarity.bruteForceTopK(docs, "vec_id", "embedding",
        queryId = 0L, k = 3, predicate = Some(col("label") === 1))
      .collect().map(_.getLong(0)).toSeq
    assert(bf == Seq(1L, 3L, 5L), bf)
    // LSH tier: one band of one plane puts this tight cluster in one
    // bucket (recall 1 here), so the filtered result equals brute force
    val lsh = Similarity.annLsh(docs, "vec_id", "embedding", queryId = 0L,
        k = 3, bands = 1, planes = 1, predicate = Some(col("label") === 1))
      .collect().map(_.getLong(0)).toSeq
    assert(lsh == bf, s"lsh $lsh vs brute $bf")
    // and both return their unfiltered answers with no predicate
    val bfAll = Similarity.bruteForceTopK(docs, "vec_id", "embedding", 0L, 3)
      .collect().map(_.getLong(0)).toSeq
    assert(bfAll == Seq(1L, 2L, 3L), bfAll)
  }

  test("near-dup pairs finds the colinear pair with cosine ~1") {
    val out = Similarity.nearDupPairs(vecs, "vec_id", "embedding", k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val top = out.head
    assert((top._1, top._2) == (0L, 1L))
    assert(top._3 > 0.999999)
  }

  test("semDedup drops in-cell copies keep-first; cap skips oversized cells") {
    // stride 4 → centroids at vids 0 (direction (1,0)) and 4 ((0,1)).
    // Cell A: 1 and 2 are (near-)copies of 0 → dropped; 3 sits between
    // the clusters (cosine 0.707 to both centroids — the tie breaks to
    // the smaller cid) but clears no in-cell neighbour at 0.95 → kept.
    // Cell B: 5 is a scaled copy of 4 → dropped; 6 and 7 are distinct
    // directions below threshold → kept.
    def v(x: Float, y: Float) = Array(x, y, 0f, 0f)
    val docs = Seq(
      0L -> v(1f, 0f), 1L -> v(2f, 0f), 2L -> v(0.99f, 0.2f),
      3L -> v(0.7f, 0.7f),
      4L -> v(0f, 1f), 5L -> v(0f, 0.5f), 6L -> v(0.3f, 0.9f),
      7L -> v(-0.3f, 0.85f)
    ).toDF("vec_id", "embedding")
    val kept = Similarity.semDedup(docs, "vec_id", "embedding",
        threshold = 0.95, centroidStride = 4)
      .as[Long].collect().toSet
    assert(kept == Set(0L, 3L, 4L, 6L, 7L),
      s"keep-first should drop 1, 2, 5; got $kept")

    // both 4-member cells exceed a cap of 3 → no pairs form, all kept
    // (skip-and-keep, the capBuckets contract)
    val capped = Similarity.semDedup(docs, "vec_id", "embedding",
        threshold = 0.95, centroidStride = 4, maxCell = 3)
      .as[Long].collect().toSet
    assert(capped == (0L to 7L).toSet)

    // The tie-break is one rule on every path: the stored cell, the
    // frame probe (window ranking) and the vector probe (driver-side
    // ranking) all put vector 3 in the smaller cid, 0 = {0, 1, 2, 3}.
    val root = java.nio.file.Files.createTempDirectory("graft-ivf-tie").toString
    Similarity.writeCellIndex(docs, "vec_id", "embedding", root,
      centroidStride = 4)
    assert(spark.read.parquet(s"$root/cells").where($"vid" === 3L)
      .select("cid").collect().map(_.get(0).toString).toSeq == Seq("0"))
    val batch = Similarity.annIvfIndexedBatch(docs.where($"vec_id" === 3L),
        "vec_id", "embedding", root, k = 8, nprobe = 1)
      .select("vid").as[Long].collect().toSet
    assert(batch == Set(0L, 1L, 2L), s"batch probe left cell 0: $batch")
    val byVec = Similarity.annIvfIndexedVec(spark, root,
        Seq(0.7f, 0.7f, 0f, 0f), k = 8, nprobe = 1)
      .select("vid").as[Long].collect().toSet
    assert(byVec == Set(0L, 1L, 2L, 3L), s"vector probe left cell 0: $byVec")
    graft.CacheScope.release()
  }

  test("quantizeVec equals Spark's quantize, negative half-way values included") {
    // ±2^-7 and ±3·2^-7 scale to exact half-way points (±7812.5,
    // ±23437.5): HALF_UP rounds -7812.5 to -7813, where math.round
    // would give -7812
    val v = Seq(-0.0078125f, 0.0078125f, -0.0234375f, 0.0234375f,
      -0.7f, 0.3f, 0f, -5e-7f, 5e-7f, -1.5f)
    val viaSpark = Seq(v.toArray).toDF("e")
      .select(Similarity.quantize($"e")).head().getSeq[Long](0)
    assert(Similarity.quantizeVec(v) == viaSpark)
    assert(Similarity.quantizeVec(Seq(-0.0078125f)) == Seq(-7813L))
    assert(math.round(-0.0078125f.toDouble * 1e6) == -7812L)
  }

  test("semDedup DEFAULT cap is bounded: a degenerate codebook skips, not quadratic") {
    // VERDICT r11: the guard must be opt-out, not opt-in. A stride
    // larger than the corpus leaves ONE centroid (vid 0) — every vector
    // lands in one cell of 4100 > the 4096 default cap, so the pair
    // join forms ZERO pairs (skip-and-keep) instead of 16.8M, and all
    // members survive. With the old Int.MaxValue default this corpus of
    // identical vectors would go quadratic by default.
    def v(x: Float) = Array(x, 0f, 0f, 0f)
    val docs = (0L until 4100L).map(i => i -> v(1f + (i % 7) * 1e-6f))
      .toDF("vec_id", "embedding")
    val kept = Similarity.semDedup(docs, "vec_id", "embedding",
        threshold = 0.95, centroidStride = 100000)
      .as[Long].collect()
    graft.CacheScope.release()
    assert(kept.length == 4100, s"skip-and-keep must keep all, got ${kept.length}")
  }

  test("decontaminate rejects a corpus-sized eval side with a contract error") {
    def v(x: Float) = Array(x, 0f, 0f, 0f)
    val train = (0L until 4L).map(i => i -> v(1f)).toDF("vec_id", "embedding")
    val eval = (0L until 8L).map(i => i -> v(0.5f)).toDF("vec_id", "embedding")
    val e = intercept[IllegalArgumentException] {
      Similarity.decontaminate(train, eval, "vec_id", "embedding",
        threshold = 0.3, maxEvalRows = 5L).collect()
    }
    assert(e.getMessage.contains("tagNearIndex"))
  }

  test("cellBalanced caps per semantic cell with the shared assignment") {
    def v(x: Float, y: Float) = Array(x, y, 0f, 0f)
    // two clean direction clusters of 20; stride 20 → centroids 0 and 20
    val docs = ((0L until 20L).map(i => i -> v(1f, i * 0.01f)) ++
      (20L until 40L).map(i => i -> v((i - 20) * 0.01f, 1f)))
      .toDF("vec_id", "embedding")
    val out = Similarity.cellBalanced(docs, "vec_id", "embedding", n = 3,
        centroidStride = 20)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    // exactly n survivors per cell, each assigned to its true cluster
    assert(out.length == 6)
    val byCell = out.groupBy(_._2)
    assert(byCell.keySet == Set(0L, 20L))
    byCell.foreach { case (_, rows) => assert(rows.length == 3) }
    out.foreach { case (vid, cid) =>
      assert(if (vid < 20) cid == 0L else cid == 20L,
        s"vector $vid assigned to wrong cell $cid")
    }
    // deterministic: same call, same survivors
    val again = Similarity.cellBalanced(docs, "vec_id", "embedding", n = 3,
        centroidStride = 20)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(again.sorted.sameElements(out.sorted))
  }

  test("IVF ANN: finds the colinear copy via its cell; scores match brute force") {
    // stride 2 → centroids {0, 2, 4}; vector 1 (same direction as 0)
    // lands in centroid 0's cell, which the query (vec 0) probes first
    val bf = Similarity.bruteForceTopK(vecs, "vec_id", "embedding", 0L, 4)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val ivf = Similarity.annIvf(vecs, "vec_id", "embedding", 0L, 4,
        centroidStride = 2, nprobe = 2)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(ivf.nonEmpty)
    ivf.foreach { case (id, c) => assert(bf(id) == c) }
    assert(ivf.map(_._1).contains(1L))
  }

  test("precomputed cell index: probe matches the per-query formulation") {
    val root = java.nio.file.Files.createTempDirectory("graft-ivf").toString
    Similarity.writeCellIndex(vecs, "vec_id", "embedding", root,
      centroidStride = 2)
    val direct = Similarity.annIvf(vecs, "vec_id", "embedding", 0L, 4,
        centroidStride = 2, nprobe = 2)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val probe = Similarity.annIvfIndexed(spark, root, 0L, 4, nprobe = 2)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(probe == direct)
  }

  test("precomputed cell index: vector probe equals the by-id probe") {
    val root = java.nio.file.Files.createTempDirectory("graft-ivf-vec").toString
    Similarity.writeCellIndex(vecs, "vec_id", "embedding", root,
      centroidStride = 2)
    val byId = Similarity.annIvfIndexed(spark, root, 0L, 4, nprobe = 2)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val qv = vecs.where($"vec_id" === 0L).select("embedding")
      .collect()(0).getSeq[Float](0)
    val byVec = Similarity.annIvfIndexedVec(spark, root, qv, 4, nprobe = 2,
        excludeVid = Some(0L))
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(byVec == byId)
  }

  test("batch indexed probe: each query's rows equal its single-vector probe") {
    val root = java.nio.file.Files.createTempDirectory("graft-ivf-bq").toString
    Similarity.writeCellIndex(vecs, "vec_id", "embedding", root,
      centroidStride = 2)
    val queries = vecs.where($"vec_id".isin(0L, 3L))
    val batch = Similarity.annIvfIndexedBatch(queries, "vec_id", "embedding",
        root, k = 3, nprobe = 2)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
        r.getDouble(3)))
    for (qid <- Seq(0L, 3L)) {
      val qv = vecs.where($"vec_id" === qid).select("embedding")
        .collect()(0).getSeq[Float](0)
      val single = Similarity.annIvfIndexedVec(spark, root, qv, 3,
          nprobe = 2, excludeVid = Some(qid))
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      val mine = batch.filter(_._1 == qid).sortBy(_._2)
        .map(r => (r._3, r._4)).toSeq
      assert(mine == single, s"query $qid: $mine vs $single")
    }
    // the probe scan is partition-pruned for the whole batch
    val plan = Similarity.annIvfIndexedBatch(queries, "vec_id", "embedding",
      root, k = 3, nprobe = 2).queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [") && plan.contains("cid#"),
      s"expected cid pruning on the batch probe scan:\n$plan")
    graft.CacheScope.release()
  }

  test("appendCellIndex: batch joins its stored cell, replay no-ops, pruning survives") {
    val root = java.nio.file.Files.createTempDirectory("graft-ivf-app").toString
    Similarity.writeCellIndex(vecs, "vec_id", "embedding", root,
      centroidStride = 2)
    // vec 10 is a scaled copy of vec 0's direction → the stored codebook
    // (centroids 0, 2, 4) must put it in centroid 0's cell
    val batch = Seq((10L, vecs.collect()
      .find(_.getLong(0) == 0L).get.getSeq[Float](1).toArray.map(_ * 3f)))
      .toDF("vec_id", "embedding")
    assert(Similarity.appendCellIndex(batch, "vec_id", "embedding", root,
      batchId = 1L))
    val cells = spark.read.parquet(s"$root/cells")
    assert(cells.count() == 6)
    assert(cells.where($"vid" === 10L).select("cid")
      .collect().map(_.get(0).toString) sameElements Array("0"))
    // the probe serves the appended vector through the same pruned scan
    val probe = Similarity.annIvfIndexed(spark, root, 0L, 5, nprobe = 2)
    val ids = probe.collect().map(_.getLong(0))
    assert(ids.contains(10L), s"appended vector missing from ${ids.toSeq}")
    val p = probe.queryExecution.executedPlan.toString
    assert(p.contains("PartitionFilters") && p.contains("cid"),
      s"pruning must survive the append:\n$p")
    // replayed micro-batch: marker already applied → no-op, count stable
    assert(!Similarity.appendCellIndex(batch, "vec_id", "embedding", root,
      batchId = 1L))
    assert(spark.read.parquet(s"$root/cells").count() == 6)
  }

  test("precomputed cell index: the probe scan is partition-pruned on cid") {
    val root = java.nio.file.Files.createTempDirectory("graft-ivf-prune").toString
    Similarity.writeCellIndex(vecs, "vec_id", "embedding", root,
      centroidStride = 2)
    val p = Similarity.annIvfIndexed(spark, root, 0L, 4, nprobe = 2)
      .queryExecution.executedPlan.toString
    assert(p.contains("PartitionFilters") && p.contains("cid"),
      s"expected a cid partition filter on the probe scan in:\n$p")
    // the nprobe IN-set must appear as a literal partition predicate —
    // directories outside it are never touched
    assert(p.contains("cid#") && (p.contains(" IN ") || p.contains("cid IN")),
      s"expected literal IN pruning predicate in:\n$p")
  }

  test("cell index: vid lookups get footer-stats skipping (pushed + sorted)") {
    // Row-group skipping happens inside the parquet reader (Spark exposes
    // no per-row-group metric), so pin its two PRECONDITIONS instead:
    // (a) the by-id lookup predicate reaches the scan as a PushedFilter
    //     (only pushed predicates are evaluated against footer min/max);
    // (b) every cell data file is ACTUALLY sorted by vid, so vid min/max
    //     ranges are tight and a point lookup prunes to one row group.
    val root = java.nio.file.Files.createTempDirectory("graft-ivf-sort").toString
    // per-dimension variation so no vector is all-zero (zero norm would
    // divide-by-zero in the centroid assignment under ANSI)
    val many = (0L until 64L)
      .map(i => (i, Array.tabulate(8)(j => ((i * 37 + j * 11) % 19 - 9) / 9.0f)))
      .toDF("vec_id", "embedding")
    Similarity.writeCellIndex(many, "vec_id", "embedding", root,
      centroidStride = 8)
    val cells = spark.read.parquet(s"$root/cells")
    val p = cells.where($"vid" === 42L)
      .queryExecution.executedPlan.toString
    assert(p.contains("PushedFilters: [IsNotNull(vid), EqualTo(vid,42)]"),
      s"vid lookup must be pushed to the parquet reader in:\n$p")
    import org.apache.spark.sql.functions.input_file_name
    val perFile = cells.select(input_file_name().as("f"), $"vid")
      .collect().groupBy(_.getString(0))
      .view.mapValues(_.map(_.getLong(1)).toSeq)
    assert(perFile.nonEmpty)
    perFile.foreach { case (f, vids) =>
      assert(vids == vids.sorted, s"cell file $f is not vid-sorted: $vids")
    }
  }

  test("16-plane bands shrink the max bucket vs the old 4-plane scheme") {
    import org.apache.spark.sql.functions._
    // 400 random vectors: with 4 planes there are only 16 buckets, so the
    // biggest bucket is huge (quadratic join work); 16-plane bands spread
    // the same vectors over 2^16 buckets per band.
    val rnd = new scala.util.Random(11)
    val many = (0 until 400).map(i =>
      (i.toLong, Array.fill(16)(rnd.nextFloat() * 2 - 1))).toDF("vec_id", "embedding")
    def maxBucket(bands: Int, planes: Int): Long = {
      val base = many.select(col("vec_id"),
        Similarity.quantize(col("embedding")).as("qe"))
      base.select(posexplode(
          Similarity.lshBuckets(base, "qe", bands, planes)).as(Seq("band", "bucket")))
        .groupBy("band", "bucket").count()
        .agg(max("count")).collect().head.getLong(0)
    }
    val coarse = maxBucket(1, 4)
    val fine = maxBucket(8, 16)
    assert(fine < coarse / 4,
      s"expected 16-plane bands to shrink max bucket: coarse=$coarse fine=$fine")
  }

  test("knn graph: every twin's nearest neighbour is its twin, both directions") {
    import org.apache.spark.sql.functions._
    val rnd = new scala.util.Random(17)
    val rows = (0 until 30).flatMap { i =>
      val base = Array.fill(16)(rnd.nextFloat() * 2 - 1)
      val twin = base.map(x => x + (rnd.nextFloat() - 0.5f) * 1e-4f)
      Seq((i.toLong * 2, base), (i.toLong * 2 + 1, twin))
    }.toDF("vec_id", "embedding")
    val top1 = Similarity.knnGraph(rows, "vec_id", "embedding", k = 1)
      .where(col("rn") === 1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    (0 until 30).foreach { i =>
      assert(top1.get(i * 2L).contains(i * 2L + 1), s"pair $i forward")
      assert(top1.get(i * 2L + 1).contains(i * 2L), s"pair $i backward")
    }
  }

  test("multi-band recall: near-identical vectors collide in some band") {
    import org.apache.spark.sql.functions._
    // 50 base vectors each with a tiny-noise twin: every twin pair must
    // share at least one of the 8 band buckets (cosine ≈ 1 ⇒ recall ≈ 1).
    val rnd = new scala.util.Random(13)
    val rows = (0 until 50).flatMap { i =>
      val base = Array.fill(16)(rnd.nextFloat() * 2 - 1)
      val twin = base.map(x => x + (rnd.nextFloat() - 0.5f) * 1e-4f)
      Seq((i.toLong * 2, base), (i.toLong * 2 + 1, twin))
    }.toDF("vec_id", "embedding")
    val found = Similarity.nearDupPairs(rows, "vec_id", "embedding", k = 100)
      .where(col("id_b") === col("id_a") + 1 && col("id_a") % 2 === 0)
      .count()
    assert(found == 50L, s"expected all 50 twin pairs, found $found")
  }

  test("PQ ADC: distances equal the independent codebook reconstruction") {
    // dim 8 = 2 subspaces of 4; stride 2 → codebook {0, 2, 4}. Docs are
    // `vecs` plus an exact duplicate of the query — its code must be the
    // query's own codebook entry in both subspaces, so its ADC distance
    // is exactly 0. Every other distance is re-derived here from first
    // principles (quantize → per-subspace argmin → table-sum), an
    // engine-independent mirror of both annPq and the DuckDB oracle.
    val rnd = new scala.util.Random(7)
    val base = Array.fill(8)(rnd.nextFloat() * 2 - 1)
    val raw = Seq(
      0L -> base,
      1L -> base.map(x => x * 2.0f),
      2L -> base.map(x => -x),
      3L -> Array.fill(8)(rnd.nextFloat() * 2 - 1),
      4L -> Array.fill(8)(rnd.nextFloat() * 2 - 1),
      5L -> base.clone())
    val docs = raw.toDF("vec_id", "embedding")
    val out = Similarity.annPq(docs, "vec_id", "embedding", queryId = 0L,
        k = 5, m = 2, subDim = 4, centroidStride = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq

    def quant(v: Array[Float]): Array[Long] =
      v.map(x => BigDecimal(x.toDouble * 1e6)
        .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong)
    def l2(a: Array[Long], b: Array[Long]): Long =
      a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum
    val qz = raw.toMap.view.mapValues(quant).toMap
    val cb = Seq(0L, 2L, 4L)
    def sub(v: Array[Long], s: Int) = v.slice(s * 4, s * 4 + 4)
    def code(vid: Long, s: Int): Long =
      cb.minBy(c => (l2(sub(qz(vid), s), sub(qz(c), s)), c))
    val expected = raw.map(_._1).filter(_ != 0L)
      .map(v => v -> (0 until 2).map(s => l2(sub(qz(0L), s), sub(qz(code(v, s)), s))).sum)
      .sortBy { case (v, d) => (d, v) }.take(5)
    assert(out == expected, s"got $out expected $expected")
    // the duplicate reuses the query's own codebook entry per subspace
    // (vec 1, colinear at 2×, quantizes to the same codes — also 0)
    assert(out.contains((5L, 0L)), s"exact duplicate must score 0: $out")
  }

  test("IVF-PQ: probe equals the independent residual-ADC reconstruction") {
    // dim 8 = 2 subspaces of 4; coarse cells {0, 2, 4} (stride 2),
    // residual codebook sampled at the same stride. The whole pipeline
    // — coarse assign → residual → dense-code encode → per-cell ADC →
    // pruned top-k — is re-derived here from first principles, an
    // engine-independent mirror of writeIvfPqIndex + annIvfPqIndexed
    // and of the DuckDB oracle.
    val rnd = new scala.util.Random(7)
    val base = Array.fill(8)(rnd.nextFloat() * 2 - 1)
    val raw = Seq(
      0L -> base,
      1L -> base.map(x => x * 2.0f),
      2L -> base.map(x => -x),
      3L -> Array.fill(8)(rnd.nextFloat() * 2 - 1),
      4L -> Array.fill(8)(rnd.nextFloat() * 2 - 1),
      5L -> base.clone())
    val docs = raw.toDF("vec_id", "embedding")
    val root = java.nio.file.Files.createTempDirectory("graft-ivfpq").toString
    Similarity.writeIvfPqIndex(docs, "vec_id", "embedding", root,
      coarseStride = 2, m = 2, subDim = 4, pqStride = 2)
    val byId = Similarity.annIvfPqIndexed(spark, root, docs, "vec_id",
        "embedding", 0L, 5, nprobe = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq

    def quant(v: Array[Float]): Array[Long] =
      v.map(x => BigDecimal(x.toDouble * 1e6)
        .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong)
    def dot(a: Array[Long], b: Array[Long]): Long =
      a.zip(b).map { case (x, y) => x * y }.sum
    def l2(a: Array[Long], b: Array[Long]): Long =
      a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum
    val qz = raw.toMap.view.mapValues(quant).toMap
    val cids = Seq(0L, 2L, 4L)
    // Spark's round(x, 6): BigDecimal HALF_UP on the double
    def ccos(v: Long, c: Long): Double =
      BigDecimal(dot(qz(v), qz(c)).toDouble /
          math.sqrt(dot(qz(v), qz(v)).toDouble * dot(qz(c), qz(c)).toDouble))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    def cell(v: Long): Long = cids.minBy(c => (-ccos(v, c), c))
    val res = raw.map(_._1)
      .map(v => v -> qz(v).zip(qz(cell(v))).map { case (x, y) => x - y })
      .toMap
    val sampled = raw.map(_._1).filter(_ % 2 == 0).sorted // dense code order
    def sub(a: Array[Long], s: Int) = a.slice(s * 4, s * 4 + 4)
    def code(v: Long, s: Int): Int = sampled.indices
      .minBy(ci => (l2(sub(res(v), s), sub(res(sampled(ci)), s)), ci))
    val probed = cids.sortBy(c => (-ccos(0L, c), c)).take(2).toSet
    val expected = raw.map(_._1).filter(v => v != 0L && probed(cell(v)))
      .map { v =>
        val qr = qz(0L).zip(qz(cell(v))).map { case (x, y) => x - y }
        v -> (0 until 2)
          .map(s => l2(sub(qr, s), sub(res(sampled(code(v, s))), s))).sum
      }
      .sortBy { case (v, d) => (d, v) }.take(5)
    assert(byId == expected, s"got $byId expected $expected")
    // the query's exact duplicate shares cell, residual, and codes, and
    // the query's own residual is a sampled codebook entry → distance 0
    assert(byId.contains((5L, 0L)), s"exact duplicate must score 0: $byId")

    val qv = raw.head._2.toSeq
    val byVec = Similarity.annIvfPqIndexedVec(spark, root, qv, 5,
        nprobe = 2, excludeVid = Some(0L))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(byVec == byId, s"vector probe $byVec vs by-id $byId")
  }

  test("refined IVF-PQ: coarse cells are the Lloyd assignment; probes agree") {
    // same two-cluster geometry as the kmeansRefine specs: with the
    // learned quantizer, vector 3 must sit in the refined A cell
    def v(x: Float, y: Float) = Array(x, y, 0f, 0f)
    val docs = Seq(
      0L -> v(1f, 0f), 1L -> v(0.95f, 0.1f), 2L -> v(0.9f, 0.05f),
      3L -> v(0.8f, 0.45f),
      4L -> v(0.6f, 0.8f), 5L -> v(0.05f, 1f), 6L -> v(0.1f, 0.95f),
      7L -> v(0f, 1f))
      .toDF("vec_id", "embedding")
    val root = java.nio.file.Files.createTempDirectory("graft-ivfpqk").toString
    Similarity.writeIvfPqIndex(docs, "vec_id", "embedding", root,
      coarseStride = 4, m = 2, subDim = 2, pqStride = 2, refineIters = 1)
    val cells = spark.read.parquet(s"$root/codes")
      .select(org.apache.spark.sql.functions.col("vid"),
        org.apache.spark.sql.functions.col("cid").cast("long"))
      .collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val km = Similarity.kmeansRefine(docs, "vec_id", "embedding",
        centroidStride = 4, iters = 1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    graft.CacheScope.release()
    assert(cells == km, s"cells $cells vs kmeans $km")
    assert(cells(3L) == 0L)
    val byId = Similarity.annIvfPqIndexed(spark, root, docs, "vec_id",
        "embedding", 0L, 4, nprobe = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    // nprobe 1 over the refined codebook: only cell-A members surface
    assert(byId.map(_._1).toSet.subsetOf(Set(1L, 2L, 3L)),
      s"refined A-cell probe leaked other cells: $byId")
    val qv = docs.where($"vec_id" === 0L).select("embedding")
      .collect()(0).getSeq[Float](0)
    val byVec = Similarity.annIvfPqIndexedVec(spark, root, qv, 4,
        nprobe = 1, excludeVid = Some(0L))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(byVec == byId, s"vector probe $byVec vs by-id $byId")
  }

  test("PQ code index: both probes match the per-query formulation") {
    val root = java.nio.file.Files.createTempDirectory("graft-pq").toString
    Similarity.writePqIndex(vecs, "vec_id", "embedding", root,
      m = 2, subDim = 4, centroidStride = 2)
    val direct = Similarity.annPq(vecs, "vec_id", "embedding", 0L, 4,
        m = 2, subDim = 4, centroidStride = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val byId = Similarity.annPqIndexed(spark, root, vecs, "vec_id",
        "embedding", 0L, 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(byId == direct, s"probe $byId vs direct $direct")
    val qv = vecs.where($"vec_id" === 0L).select("embedding")
      .collect()(0).getSeq[Float](0)
    val byVec = Similarity.annPqIndexedVec(spark, root, qv, 4,
        excludeVid = Some(0L))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(byVec == byId, s"vector probe $byVec vs by-id $byId")
  }

  test("embeddingCheck: width, zero, nonfinite and sub-grid vectors by hand") {
    val vecs = Seq(
      (1L, Array(0.5f, -0.25f)),            // healthy: 500000^2 + 250000^2
      (2L, Array(0.0f, 0.0f)),              // true zero vector
      (3L, Array(Float.NaN, 1.0f)),         // NaN reported, norm from rest
      (4L, Array(1.0f)),                    // wrong width
      (5L, Array(4e-7f, 0.0f)),             // sub-grid: zero AT the 1e-6 grid
      (6L, Array(Float.PositiveInfinity, -1.0f)))
      .toDF("vec_id", "embedding")
      // a NULL component: exactly the dirt the pass exists to catch —
      // counted nonfinite, quantized 0, norm from the healthy rest
      .union(spark.sql(
        "select 7L, array(cast(0.5 as float), cast(null as float))"))
      // out-of-range magnitude (ADVICE r13): 5000 > the 10.0 inlier cap,
      // and squaring its quantized long (5e9^2 = 2.5e19) would overflow
      // Long and FAULT under ANSI — the pass must report it as a signal
      // (n_outlier), zero it out of the norm, and keep running
      .union(Seq((8L, Array(5000.0f, 1.0f))).toDF("vec_id", "embedding"))
    val out = Similarity.embeddingCheck(vecs, $"embedding", $"vec_id",
        expectedDims = 2)
      .orderBy("vec_id")
      .as[(Long, Int, Boolean, Int, Int, Int, Boolean, Long)].collect().toSeq
    assert(out == Seq(
      (1L, 2, true, 0, 0, 0, false, 312500000000L),
      (2L, 2, true, 0, 0, 2, true, 0L),
      (3L, 2, true, 1, 0, 1, false, 1000000000000L),
      (4L, 1, false, 0, 0, 0, false, 1000000000000L),
      (5L, 2, true, 0, 0, 2, true, 0L),
      (6L, 2, true, 1, 0, 1, false, 1000000000000L),
      (7L, 2, true, 1, 0, 1, false, 250000000000L),
      (8L, 2, true, 0, 1, 1, false, 1000000000000L)))
  }

  test("embeddingCheck gates a live embedding stream statelessly") {
    // the hygiene pass is a pure narrow projection, so it runs as the
    // admission filter where the vectors ARRIVE — before any index
    // append sees a zero, wrong-width, or NaN vector
    implicit val sq = spark.sqlContext
    val input = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, Array[Float])]
    val gated = Similarity.embeddingCheck(
        input.toDF().toDF("vec_id", "embedding"),
        $"embedding", $"vec_id", expectedDims = 2)
      .where($"dims_ok" && !$"is_zero" && $"n_nonfinite" === 0 &&
        $"n_outlier" === 0)
    val q = gated.select("vec_id").writeStream.format("memory")
      .queryName("semb").outputMode("append").start()
    try {
      input.addData(
        (1L, Array(0.5f, -0.25f)),           // healthy -> admitted
        (2L, Array(0.0f, 0.0f)),             // zero vector -> rejected
        (3L, Array(Float.NaN, 1.0f)))        // NaN -> rejected
      q.processAllAvailable()
      input.addData((4L, Array(1.0f)),       // wrong width -> rejected
        (5L, Array(0.25f, 0.75f)))           // healthy -> admitted
      q.processAllAvailable()
      val got = spark.sql("SELECT vec_id FROM semb")
        .as[Long].collect().sorted.toSeq
      assert(got == Seq(1L, 5L))
    } finally q.stop()
  }

  test("quantizeInt8: hand arithmetic, saturation, zero vector, plan narrow") {
    import org.apache.spark.sql.functions.col
    // xq = [500000, -1000000, 250000, 0], m = 1e6:
    //   qa(500000)  = (63500000 + 500000) div 1e6 = 64, recon 503937, err 3937
    //   qa(1000000) = 127 (saturated), recon exact
    //   qa(250000)  = (31750000 + 500000) div 1e6 = 32, recon 251968, err 1968
    // fp = 64*1 - 127*2 + 32*3 + 0*4 = -94
    val df = Seq(
      (1L, Seq(0.5f, -1.0f, 0.25f, 0.0f)),
      (2L, Seq(0.0f, 0.0f, 0.0f, 0.0f))).toDF("vec_id", "embedding")
    val out = Similarity.quantizeInt8(df, col("vec_id"), col("embedding"))
      .orderBy("vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))
    assert(out.toSeq == Seq(
      (1L, 1000000L, -94L, 1L, 3937L + 1968L),
      (2L, 0L, 0L, 0L, 0L))) // zero vector: all-zero codes, no error
    // narrow: no exchange, no join — scan-speed compression
    val plan = Similarity.quantizeInt8(df, col("vec_id"), col("embedding"))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange") && !plan.contains("Join"), plan)
  }

  test("binarize1Bit packs sign bits little-endian into two safe halves") {
    // dim 34: component 31 sets the TOP bit of b_lo (2^31 — still
    // positive in a long), component 33 sets bit 1 of b_hi; a +1e-7
    // component rounds to 0 on the 1e-6 grid and binarizes to 0.
    val v34 = Array.fill(34)(-1.0f)
    v34(31) = 1.0f; v34(33) = 0.3f
    val df = Seq(
      (1L, Seq(0.5f, -0.2f, 1e-7f)),
      (2L, v34.toSeq)).toDF("vec_id", "embedding")
    val out = Similarity.binarize1Bit(df, $"vec_id", $"embedding")
      .orderBy("vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(out.toSeq == Seq(
      (1L, 0L, 1L, 1L),
      (2L, 2L, 2147483648L, 2L)))
    // narrow: no exchange, no join — scan-speed binarization
    val plan = Similarity.binarize1Bit(df, $"vec_id", $"embedding")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange") && !plan.contains("Join"), plan)
  }

  test("binarize1Bit rejects > 64 dimensions") {
    val df = Seq((1L, Seq.fill(65)(1.0f))).toDF("vec_id", "embedding")
    intercept[Exception] {
      Similarity.binarize1Bit(df, $"vec_id", $"embedding").collect()
    }
  }

  test("matryoshkaRecall counts prefix-vs-full top-k overlap per probe") {
    // probe 9 = (1,0,0,0): full ranks c1 (1.0) > c3 (.992) > c2 (.196),
    // but on the 2-dim prefix c2 ties c1 at 1.0 and beats c3 → top-2
    // sets {1,3} vs {1,2} overlap in exactly one. probe 8 = (0,1,0,0):
    // both rankings agree (c3 then the c1/c2 zero-tie by vec_id) → 2.
    val corpus = Seq(
      (1L, Seq(1f, 0f, 0f, 0f)),
      (2L, Seq(1f, 0f, 5f, 0f)),
      (3L, Seq(0.8f, 0.1f, 0f, 0f))).toDF("vec_id", "embedding")
    val probes = Seq(
      (8L, Seq(0f, 1f, 0f, 0f)),
      (9L, Seq(1f, 0f, 0f, 0f))).toDF("vec_id", "embedding")
    val out = Similarity.matryoshkaRecall(corpus, probes, "vec_id",
        "embedding", prefixDim = 2, k = 2)
      .orderBy("q_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(out.toSeq == Seq((8L, 2L, 1000L), (9L, 1L, 500L)))
  }

  test("centroidDrift: identical batches read 1.0, a rotated label reads lower") {
    // label 0: batch B identical to A → integer-mean centroids equal →
    // cos 1.0; label 1: B is A rotated 90° → cos 0.0. Counts per side 2.
    val a = Seq(
      (0L, 0L, Seq(1f, 0f)), (2L, 0L, Seq(1f, 0.2f)),
      (4L, 1L, Seq(1f, 0f)), (6L, 1L, Seq(1f, 0f)))
      .toDF("vec_id", "label", "embedding")
    val b = Seq(
      (1L, 0L, Seq(1f, 0f)), (3L, 0L, Seq(1f, 0.2f)),
      (5L, 1L, Seq(0f, 1f)), (7L, 1L, Seq(0f, 1f)))
      .toDF("vec_id", "label", "embedding")
    val out = Similarity.centroidDrift(a, b, "label", "embedding")
      .orderBy("label").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(out.toSeq === Seq((0L, 2L, 2L, 1.0), (1L, 2L, 2L, 0.0)))
  }

  test("mmrSelect greedily trades relevance for diversity, integer-exact") {
    // q = (1,0); c1 = (1,0) rel 1 000 000; c2 = (1,.01) rel 999 950
    // (1/√1.0001 → 999 950.004); c3 = (0,1) rel 0. Pick 1: c1, score
    // 70·1e6. Pick 2: c2 scores 70·999950 − 30·sim(c2,c1 = 999 950) =
    // 40·999950 = 39 998 000, c3 scores 0 → c2.
    val df = Seq(
      (0L, Seq(1f, 0f)), (1L, Seq(1f, 0f)),
      (2L, Seq(1f, 0.01f)), (3L, Seq(0f, 1f))).toDF("vec_id", "embedding")
    val out = Similarity.mmrSelect(df, "vec_id", "embedding", queryId = 0L,
        poolSize = 3, k = 2, lambdaPct = 70)
      .orderBy("step").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(out.toSeq == Seq(
      (1L, 1L, 70000000L),
      (2L, 2L, 39998000L)))
  }

  test("mmrSelect: pure-diversity lambda picks the orthogonal vector") {
    // lambdaPct = 0: every first-pick score is 0 (maxsim 0 for all) →
    // vec_id tie-break seeds c1; then c3 (sim to c1 = 0, score 0)
    // beats c2 (sim 999 950, score −99 995 000).
    val df = Seq(
      (0L, Seq(1f, 0f)), (1L, Seq(1f, 0f)),
      (2L, Seq(1f, 0.01f)), (3L, Seq(0f, 1f))).toDF("vec_id", "embedding")
    val out = Similarity.mmrSelect(df, "vec_id", "embedding", queryId = 0L,
        poolSize = 3, k = 2, lambdaPct = 0)
      .orderBy("step").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(out.toSeq == Seq((1L, 1L), (2L, 3L)))
  }

  test("hammingTopK ranks by exact popcount distance, vec_id tie-break") {
    // q = (+,+,-,-) → lo=3. c1 identical (ham 0), c2 = (+,-,-,+) →
    // lo=9, 3^9=10 → ham 2, c3 = (-,-,+,+) → lo=12 → ham 4.
    def v(s: Int*) = s.map(_.toFloat)
    val corpus = Seq((1L, v(1, 1, -1, -1)), (2L, v(1, -1, -1, 1)),
      (3L, v(-1, -1, 1, 1))).toDF("vec_id", "embedding")
    val probes = Seq((9L, v(1, 1, -1, -1))).toDF("vec_id", "embedding")
    val out = Similarity.hammingTopK(corpus, probes, "vec_id", "embedding",
        k = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3)))
    assert(out.toSeq == Seq((9L, 1L, 1L, 0L), (9L, 2L, 2L, 2L)))
    // the corpus side never shuffles: probe batch broadcasts
    val plan = Similarity.hammingTopK(corpus, probes, "vec_id",
      "embedding", k = 2).queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastNestedLoopJoin"), plan)
  }

  test("binaryRecallCurve: monotone widths off one pass; single point = binaryRecallAtK") {
    // 12 vectors in two exact-cosine clusters whose SIGN patterns
    // differ inside each cluster, so the Hamming ranking disagrees
    // with the exact one and recall genuinely climbs with coarseK
    val rnd = new scala.util.Random(3)
    val emb = (0L until 12L).map { i =>
      val s = if (i % 2 == 0) 1f else -1f
      (i, Array.tabulate(8)(d =>
        s * (0.1f + d * 0.05f) + (rnd.nextFloat() - 0.5f) * 0.4f))
    }.toDF("vec_id", "embedding")
    val qs = Seq(0L, 1L, 2L)
    val curve = Similarity.binaryRecallCurve(emb, "vec_id", "embedding",
        qs, k = 4, coarseKs = Seq(4, 6, 8, 11))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    graft.CacheScope.release()
    // one row per (width, query)
    assert(curve.length == 4 * qs.length)
    // recall is monotone non-decreasing in coarseK, per query
    curve.groupBy(_._2).values.foreach { rows =>
      val hits = rows.sortBy(_._1).map(_._3).toSeq
      assert(hits == hits.sorted, rows.toSeq.toString)
    }
    // the widest shortlist covers the whole corpus minus self -> every
    // exact top-4 survives by construction
    assert(curve.filter(_._1 == 11L).forall(_._3 == 4L), curve.toSeq)
    // a single-point sweep IS binaryRecallAtK (shared core, no drift)
    val single = Similarity.binaryRecallAtK(emb, "vec_id", "embedding",
        qs, k = 4, coarseK = 6)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    graft.CacheScope.release()
    assert(single.toSeq ==
      curve.filter(_._1 == 6L).map(t => (t._2, t._3)).toSeq)
  }

  test("hammingRerank default coarseK is the measured 32*k rule") {
    // with the default, a shortlist of 32*k covers this small corpus
    // entirely, so the rerank equals the exact cosine top-k
    val rnd = new scala.util.Random(5)
    val emb = (0L until 20L).map(i =>
      (i, Array.fill(8)(rnd.nextFloat() * 2 - 1))).toDF("vec_id", "embedding")
    val probes = emb.where($"vec_id" === 0L)
    val got = Similarity.hammingRerank(emb, probes, "vec_id", "embedding",
        k = 3)
      .collect().map(r => (r.getLong(1), r.getLong(2))).toSeq
    val exact = Similarity.bruteForceTopK(emb, "vec_id", "embedding", 0L, 4)
      .collect().map(r => r.getLong(0)).toSeq
    // brute-force excludes nothing we need: rerank's top-3 (self wins
    // rank 1 at cosine 1) = [0, exact top-2]
    assert(got.map(_._2) == 0L +: exact.filter(_ != 0L).take(2))
  }

  test("hardNegatives: positives drop before the cut, ranks re-close") {
    val rnd = new scala.util.Random(11)
    val emb = (0L until 20L).map(i =>
      (i, Array.fill(8)(rnd.nextFloat() * 2 - 1))).toDF("vec_id", "embedding")
    val queries = emb.where($"vec_id".isin(0L, 7L))
    val nopos = spark.range(0)
      .select($"id".as("q_id"), $"id".as("vec_id"))
    // the plain ranking (no positives) — the mining baseline
    val plain = Similarity.hardNegatives(emb, queries, "vec_id",
        "embedding", nopos, k = 19)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // no self-mining, full ranking covers corpus minus self
    assert(plain.forall { case (q, _, v) => q != v })
    assert(plain.count(_._1 == 0L) == 19)
    // drop a NON-CONTIGUOUS positive set {rank 1, rank 3}: rank 2 must
    // survive as the new rank 1 and everything after re-closes
    val pos = plain.filter(t => t._2 == 1L || t._2 == 3L)
      .map(t => (t._1, t._3)).toSeq.toDF("q_id", "vec_id")
    val mined = Similarity.hardNegatives(emb, queries, "vec_id",
        "embedding", pos, k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    for (q <- Seq(0L, 7L)) {
      val expect = plain.filter(_._1 == q).sortBy(_._2)
        .filter(t => t._2 != 1L && t._2 != 3L).map(_._3).take(5).toSeq
      val got = mined.filter(_._1 == q).sortBy(_._2).map(_._3).toSeq
      assert(got == expect, s"query $q: $got vs $expect")
    }
    // scale pin: the corpus side never broadcasts and never exchanges —
    // queries and positives ride broadcasts, the per-query cut fuses
    // through a partial WindowGroupLimit before the one exchange
    val plan = Similarity.hardNegatives(emb, queries, "vec_id",
      "embedding", pos, k = 5).queryExecution.executedPlan.toString
    assert(plan.contains("WindowGroupLimit"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("hardNegativesIndexed: degenerates to exact mining at full probe width") {
    val rnd = new scala.util.Random(13)
    val emb = (0L until 24L).map(i =>
      (i, Array.fill(8)(rnd.nextFloat() * 2 - 1))).toDF("vec_id", "embedding")
    val root = java.nio.file.Files.createTempDirectory("graft-hng").toString
    Similarity.writeCellIndex(emb, "vec_id", "embedding", root,
      centroidStride = 8) // 3 cells
    val queries = emb.where($"vec_id".isin(2L, 9L))
    val nopos = spark.range(0)
      .select($"id".as("q_id"), $"id".as("vec_id"))
    val pos = Similarity.hardNegatives(emb, queries, "vec_id",
        "embedding", nopos, k = 2)
      .select($"q_id", $"vec_id")
    val exact = Similarity.hardNegatives(emb, queries, "vec_id",
        "embedding", pos, k = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3))).toSeq.sorted
    // nprobe >= cell count and overscan >= positives-per-query: the
    // probe covers the corpus, so the approximate tier IS the exact one
    val indexed = Similarity.hardNegativesIndexed(queries, "vec_id",
        "embedding", root, pos, k = 4, nprobe = 3, overscan = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3))).toSeq.sorted
    graft.CacheScope.release()
    assert(indexed == exact)
  }
}
