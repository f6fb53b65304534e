package graft.ext

import java.nio.file.Files

import graft.SparkSpec
import graft.sources.StoreCompaction
import org.apache.spark.sql.functions._

/** Online compaction for the three append-only index stores
  * ([[Similarity.compactCodes]] / [[Similarity.compactCellIndex]] /
  * [[Dedup.compactLshIndex]]) — VERDICT r16 #4's done-criterion shape:
  * build → append ×N → compact → probe equality, file count actually
  * drops, a batch replayed ACROSS the compaction boundary still
  * no-ops on its root-level marker, re-delivery under a new batchId
  * still dedups at the id level, and a genuinely new append lands
  * after the swap. Partition-pruning survival is PlanSpec's pin.
  */
class IndexCompactionSpec extends SparkSpec {
  import spark.implicits._

  private def v(s: Int*) = s.map(_.toFloat)
  private def v2(x: Float, y: Float) = Array(x, y, 0f, 0f)

  test("codes: probe-equal squash; replay no-ops across the boundary") {
    val root = Files.createTempDirectory("graft-cmp-codes").toString + "/store"
    Similarity.writeB1Codes(
      Seq((1L, v(1, 1, 1, 1)), (2L, v(-1, -1, -1, -1)))
        .toDF("vec_id", "embedding"),
      "vec_id", "embedding", root)
    // 3 appended generations
    (0 until 3).foreach { b =>
      assert(Similarity.appendB1Codes(
        Seq((10L + b, v(1, -1, 1, -1))).toDF("vec_id", "embedding"),
        "vec_id", "embedding", root, batchId = b.toLong))
    }
    def probe() = Similarity.tagNearCodes(
        Similarity.binarize1Bit(
          Seq((50L, v(1, 1, 1, -1))).toDF("vec_id", "embedding"),
          col("vec_id"), col("embedding")),
        root, maxHam = 1)
      .collect().map(r => (r.getLong(0), r.getBoolean(1))).toSeq
    val before = probe()
    val filesBefore = StoreCompaction.countDataFiles(spark, s"$root/codes")
    val filesAfter = Similarity.compactCodes(spark, root)
    assert(filesAfter === 1 && filesBefore > filesAfter,
      s"expected a real squash, got $filesBefore -> $filesAfter")
    assert(probe() === before)
    assert(spark.read.parquet(s"$root/codes").count() === 5)
    // batch 1 replayed ACROSS the compaction: marker survived the swap
    assert(!Similarity.appendB1Codes(
      Seq((11L, v(1, -1, 1, -1))).toDF("vec_id", "embedding"),
      "vec_id", "embedding", root, batchId = 1L))
    // re-delivery of a stored vid under a NEW batchId: id-level dedup
    // still sees the compacted store
    assert(Similarity.appendB1Codes(
      Seq((10L, v(1, -1, 1, -1))).toDF("vec_id", "embedding"),
      "vec_id", "embedding", root, batchId = 9L))
    assert(spark.read.parquet(s"$root/codes").count() === 5)
    // a genuinely new append lands on the swapped store
    assert(Similarity.appendB1Codes(
      Seq((60L, v(-1, 1, -1, 1))).toDF("vec_id", "embedding"),
      "vec_id", "embedding", root, batchId = 10L))
    assert(spark.read.parquet(s"$root/codes").count() === 6)
  }

  test("cells: layout-preserved squash, probe equality, replay no-op") {
    val root = Files.createTempDirectory("graft-cmp-cells").toString + "/idx"
    val base = ((0L until 5L).map(i => i -> v2(1f, i * 0.01f)) ++
      (5L until 10L).map(i => i -> v2((i - 5) * 0.01f, 1f)))
      .toDF("vec_id", "embedding")
    Similarity.writeCellIndex(base, "vec_id", "embedding", root,
      centroidStride = 5)
    (0 until 3).foreach { b =>
      assert(Similarity.appendCellIndex(
        Seq(100L + b -> v2(2f + b, 0f), 200L + b -> v2(0f, 2f + b))
          .toDF("vec_id", "embedding"),
        "vec_id", "embedding", root, batchId = b.toLong))
    }
    def probe() = {
      val out = Similarity.tagNearIndex(
          Seq(500L -> v2(3f, 0f), 501L -> v2(0.5f, 0.5f))
            .toDF("vec_id", "embedding"),
          "vec_id", "embedding", root, threshold = 0.99)
        .collect().map(r => (r.getLong(0), r.getBoolean(2))).toSeq.sorted
      graft.CacheScope.release()
      out
    }
    val before = probe()
    assert(before === Seq((500L, true), (501L, false)))
    val filesBefore = StoreCompaction.countDataFiles(spark, s"$root/cells")
    val filesAfter = Similarity.compactCellIndex(spark, root)
    // one file per non-empty cid partition (2 cells here)
    assert(filesAfter === 2 && filesBefore > filesAfter,
      s"expected one file per cell, got $filesBefore -> $filesAfter")
    assert(probe() === before)
    // replay across the boundary: marker survived
    assert(!Similarity.appendCellIndex(
      Seq(100L -> v2(2f, 0f)).toDF("vec_id", "embedding"),
      "vec_id", "embedding", root, batchId = 0L))
    // vid re-delivery under a new batchId: anti join sees the
    // compacted partitions
    val n = spark.read.parquet(s"$root/cells").count()
    assert(Similarity.appendCellIndex(
      Seq(100L -> v2(2f, 0f)).toDF("vec_id", "embedding"),
      "vec_id", "embedding", root, batchId = 7L))
    assert(spark.read.parquet(s"$root/cells").count() === n)
  }

  test("lsh buckets: layout-preserved squash, tag equality, replay no-op") {
    val root = Files.createTempDirectory("graft-cmp-lsh").toString + "/idx"
    val histText = "the quick brown fox jumps over the lazy dog again"
    Dedup.writeLshIndex(Seq(
        (1L, "alpha beta gamma delta epsilon zeta eta theta"),
        (2L, histText)).toDF("doc_id", "text"),
      $"text", $"doc_id", root)
    val extra = Seq(
      (10L, "one two three four five six seven eight nine"),
      (11L, "completely novel words arriving today full of surprise"),
      (12L, "some other honestly different text entirely unrelated"))
    extra.zipWithIndex.foreach { case (row, b) =>
      assert(Dedup.appendLshIndex(Seq(row).toDF("doc_id", "text"),
        $"text", $"doc_id", root, batchId = b.toLong))
    }
    def probe() = {
      val out = Dedup.tagNearLshIndex(
          Seq((50L, histText),
            (51L, "nothing like anything stored before at all today"))
            .toDF("doc_id", "text"),
          $"text", $"doc_id", root)
        .collect().map(r => (r.getLong(0), r.getBoolean(2))).toSeq.sorted
      graft.CacheScope.release()
      out
    }
    val before = probe()
    assert(before === Seq((50L, true), (51L, false)))
    val filesBefore = StoreCompaction.countDataFiles(spark, s"$root/buckets")
    val filesAfter = Dedup.compactLshIndex(spark, root)
    assert(filesBefore > filesAfter,
      s"expected a real squash, got $filesBefore -> $filesAfter")
    assert(probe() === before)
    val rows = spark.read.parquet(s"$root/buckets").count()
    // replay across the boundary + doc re-delivery under a new batchId
    assert(!Dedup.appendLshIndex(
      Seq(extra(1)._1 -> extra(1)._2).toDF("doc_id", "text"),
      $"text", $"doc_id", root, batchId = 1L))
    assert(Dedup.appendLshIndex(
      Seq(extra(1)._1 -> extra(1)._2).toDF("doc_id", "text"),
      $"text", $"doc_id", root, batchId = 9L))
    assert(spark.read.parquet(s"$root/buckets").count() === rows)
  }

  test("live stream: compaction between micro-batches, replay across a restart") {
    // The full StreamingSoakSpec shape for the code store: a file-source
    // feed appends via foreachBatch, compaction runs FROM THE
    // foreachBatch THREAD between batches (the documented safe point —
    // no append can race it), the stream restarts, and the replayed
    // batch no-ops on the marker that survived the swap.
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.streaming.Trigger
    val root = Files.createTempDirectory("graft-cmp-soak").toString
    val feedDir = s"$root/feed"
    val index = s"$root/index"
    val schema = Seq((1L, v(1, 1, 1, 1))).toDF("vec_id", "embedding").schema
    Similarity.writeB1Codes(
      Seq((1L, v(-1, -1, 1, 1))).toDF("vec_id", "embedding"),
      "vec_id", "embedding", index)
    (0 until 3).foreach { f =>
      Seq(100L + f -> v(1, 1, 1, 1)).toDF("vec_id", "embedding")
        .coalesce(1).write.mode(org.apache.spark.sql.SaveMode.Append)
        .parquet(feedDir)
    }
    def run(): Unit = {
      val q = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1).parquet(feedDir)
        .writeStream
        .option("checkpointLocation", s"$root/ckpt")
        .foreachBatch { (batch: DataFrame, batchId: Long) =>
          Similarity.appendB1Codes(batch, "vec_id", "embedding", index,
            batchId)
          // compact mid-stream, after the second batch commits
          if (batchId == 1L) Similarity.compactCodes(spark, index)
          ()
        }
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    run()
    assert(spark.read.parquet(s"$index/codes").count() === 4)
    assert(StoreCompaction.countDataFiles(spark, s"$index/codes") <= 2,
      "the two pre-compaction generations must be squashed")
    // wipe the checkpoint: the restarted stream re-delivers every file
    // as replayed batchIds — each must no-op on the markers that
    // survived the mid-stream swap (no duplicate codes)
    org.apache.commons.io.FileUtils.deleteDirectory(
      new java.io.File(s"$root/ckpt"))
    run()
    assert(spark.read.parquet(s"$index/codes").count() === 4)
    assert(spark.read.parquet(s"$index/codes")
      .select("vec_id").distinct().count() === 4)
  }

  test("a concurrent append aborts the swap and leaves the store intact") {
    val root = Files.createTempDirectory("graft-cmp-race").toString + "/store"
    Similarity.writeB1Codes(
      Seq((1L, v(1, 1, 1, 1))).toDF("vec_id", "embedding"),
      "vec_id", "embedding", root)
    assert(Similarity.appendB1Codes(
      Seq((2L, v(-1, -1, -1, -1))).toDF("vec_id", "embedding"),
      "vec_id", "embedding", root, batchId = 0L))
    // simulate an append ALREADY IN FLIGHT at sentinel-raise time
    // landing mid-rewrite: its data files and marker appear while
    // compaction is reading (the append API itself now refuses on the
    // sentinel — see the loud-refusal test — so the in-flight tail is
    // reproduced directly: parquet append + marker file, exactly what
    // an append past its sentinel check does)
    val e = intercept[IllegalStateException] {
      StoreCompaction.swapCompact(spark, root, "codes") { (live, out) =>
        spark.read.parquet(live).repartition(1).write
          .mode(org.apache.spark.sql.SaveMode.Overwrite).parquet(out)
        Similarity.binarize1Bit(
            Seq((3L, v(1, -1, -1, 1))).toDF("vec_id", "embedding"),
            col("vec_id"), col("embedding"))
          .write.mode(org.apache.spark.sql.SaveMode.Append)
          .parquet(s"$root/codes")
        java.nio.file.Files.createDirectories(
          java.nio.file.Paths.get(root, "_applied_batches"))
        java.nio.file.Files.createFile(
          java.nio.file.Paths.get(root, "_applied_batches", "1"))
      }
    }
    assert(e.getMessage.contains("raced appends"))
    // the racing batch's rows are exactly where it left them — nothing
    // was swapped away, and the aborted generation and sentinel are gone
    assert(spark.read.parquet(s"$root/codes").count() === 3)
    assert(!new java.io.File(s"$root/codes_compacting").exists())
    assert(!new java.io.File(
      s"$root/${StoreCompaction.CompactingSentinel}").exists())
    // with the sentinel down, the next append proceeds normally
    assert(Similarity.appendB1Codes(
      Seq((4L, v(-1, 1, 1, -1))).toDF("vec_id", "embedding"),
      "vec_id", "embedding", root, batchId = 2L))
  }

  test("an append STARTING during a compaction refuses loudly (r17 ADVICE)") {
    val root = Files.createTempDirectory("graft-cmp-sent").toString + "/store"
    Similarity.writeB1Codes(
      Seq((1L, v(1, 1, 1, 1))).toDF("vec_id", "embedding"),
      "vec_id", "embedding", root)
    // the silent-corruption shape the sentinel closes: mid-swap the
    // live dir is briefly absent, and the append's missing-subdir
    // bootstrap would read an EMPTY history and re-append stored ids —
    // now it throws at its first filesystem touch instead
    val e = intercept[IllegalStateException] {
      StoreCompaction.swapCompact(spark, root, "codes") { (live, out) =>
        spark.read.parquet(live).repartition(1).write
          .mode(org.apache.spark.sql.SaveMode.Overwrite).parquet(out)
        Similarity.appendB1Codes(
          Seq((9L, v(1, -1, 1, -1))).toDF("vec_id", "embedding"),
          "vec_id", "embedding", root, batchId = 5L)
      }
    }
    assert(e.getMessage.contains("append refused"))
    // the rewrite's failure cleaned up: sentinel and tmp gone, store
    // intact and appendable
    assert(!new java.io.File(
      s"$root/${StoreCompaction.CompactingSentinel}").exists())
    assert(!new java.io.File(s"$root/codes_compacting").exists())
    assert(spark.read.parquet(s"$root/codes").count() === 1)
    assert(Similarity.appendB1Codes(
      Seq((9L, v(1, -1, 1, -1))).toDF("vec_id", "embedding"),
      "vec_id", "embedding", root, batchId = 5L))
  }

  test("marker ledger rolls up into one watermark at compaction") {
    val root = Files.createTempDirectory("graft-cmp-wm").toString + "/store"
    Similarity.writeB1Codes(
      Seq((1L, v(1, 1, 1, 1))).toDF("vec_id", "embedding"),
      "vec_id", "embedding", root)
    // contiguous batches 0..2 plus a GAP batch 7 (a restarted query's
    // fresh checkpoint numbering) — only the contiguous prefix folds
    (Seq(0L, 1L, 2L, 7L)).foreach { b =>
      assert(Similarity.appendB1Codes(
        Seq((10L + b, v(1, -1, 1, -1))).toDF("vec_id", "embedding"),
        "vec_id", "embedding", root, batchId = b))
    }
    // filterNot ".crc": RawLocalFileSystem checksum shadows, not markers
    def markerNames() = new java.io.File(s"$root/_applied_batches")
      .list().filterNot(_.startsWith(".")).toSet
    assert(markerNames() === Set("0", "1", "2", "7"))
    Similarity.compactCodes(spark, root)
    // 0..2 folded into the value-named watermark; the gapped 7 keeps
    // its file
    assert(markerNames() === Set("_watermark_2", "7"))
    // replay below the watermark no-ops with no per-batch file
    assert(!Similarity.appendB1Codes(
      Seq((99L, v(1, 1, 1, 1))).toDF("vec_id", "embedding"),
      "vec_id", "embedding", root, batchId = 1L))
    assert(!Similarity.appendB1Codes(
      Seq((99L, v(1, 1, 1, 1))).toDF("vec_id", "embedding"),
      "vec_id", "embedding", root, batchId = 7L))
    // new batches land per-batch files again; the next compaction
    // advances the watermark through them (3 closes the gap up to 7
    // only once 4..6 exist — here it folds 3 and stops at the gap)
    assert(Similarity.appendB1Codes(
      Seq((50L, v(-1, 1, -1, 1))).toDF("vec_id", "embedding"),
      "vec_id", "embedding", root, batchId = 3L))
    assert(markerNames() === Set("_watermark_2", "7", "3"))
    Similarity.compactCodes(spark, root)
    assert(markerNames() === Set("_watermark_3", "7"))
    assert(!Similarity.appendB1Codes(
      Seq((99L, v(1, 1, 1, 1))).toDF("vec_id", "embedding"),
      "vec_id", "embedding", root, batchId = 3L))
    // the store itself is unharmed: base + 4 appended + 1 post-roll-up
    assert(spark.read.parquet(s"$root/codes").count() === 6)
  }

  test("roll-up crash leaves the applied set readable at every state " +
    "(VERDICT r18 #1)") {
    val root = Files.createTempDirectory("graft-cmp-crash").toString + "/store"
    def append(b: Long) = Similarity.appendB1Codes(
      Seq((10L + b, v(1, -1, 1, -1))).toDF("vec_id", "embedding"),
      "vec_id", "embedding", root, batchId = b)
    Similarity.writeB1Codes(
      Seq((1L, v(1, 1, 1, 1))).toDF("vec_id", "embedding"),
      "vec_id", "embedding", root)
    (0L to 2L).foreach(b => assert(append(b)))
    Similarity.compactCodes(spark, root)
    val mdir = new java.io.File(s"$root/_applied_batches")
    def markerNames() = mdir.list().filterNot(_.startsWith(".")).toSet
    assert(markerNames() === Set("_watermark_2"))
    (3L to 4L).foreach(b => assert(append(b)))
    // simulate a roll-up killed right AFTER creating the new
    // value-named watermark: both watermarks present, folded markers
    // still on disk — read = max answers 4
    assert(new java.io.File(mdir, "_watermark_4").createNewFile())
    (0L to 4L).foreach(b =>
      assert(StoreCompaction.isApplied(spark, root, b), s"batch $b"))
    // ... and killed at the LATEST point: superseded watermark and
    // folded markers already deleted. Pre-r19 the analogous state was
    // NO watermark with the folded markers gone — isApplied answered
    // false for the whole folded prefix; the value-named form never
    // has a watermark-free state
    assert(new java.io.File(mdir, "_watermark_2").delete())
    assert(new java.io.File(mdir, "3").delete())
    assert(new java.io.File(mdir, "4").delete())
    (0L to 4L).foreach(b =>
      assert(StoreCompaction.isApplied(spark, root, b), s"batch $b"))
    assert(!append(2L)) // replay across the crash still no-ops
    // re-running the compaction (the sentinel message's recovery
    // advice) converges back to the clean single-watermark state
    Similarity.compactCodes(spark, root)
    assert(markerNames() === Set("_watermark_4"))
    (0L to 4L).foreach(b =>
      assert(StoreCompaction.isApplied(spark, root, b), s"batch $b"))
  }

  test("roll-up is self-healing: stale debris retires even when the " +
    "watermark does not advance (VERDICT r19 #5 / ADVICE r19 #1)") {
    val root = Files.createTempDirectory("graft-cmp-heal").toString + "/store"
    def append(b: Long) = Similarity.appendB1Codes(
      Seq((10L + b, v(1, -1, 1, -1))).toDF("vec_id", "embedding"),
      "vec_id", "embedding", root, batchId = b)
    Similarity.writeB1Codes(
      Seq((1L, v(1, 1, 1, 1))).toDF("vec_id", "embedding"),
      "vec_id", "embedding", root)
    (0L to 4L).foreach(b => assert(append(b)))
    Similarity.compactCodes(spark, root)
    val mdir = new java.io.File(s"$root/_applied_batches")
    def markerNames() = mdir.list().filterNot(_.startsWith(".")).toSet
    assert(markerNames() === Set("_watermark_4"))
    // a prior roll-up crashed mid-retire: the superseded watermark
    // pair member, crash-orphaned per-batch markers BELOW the durable
    // watermark, and legacy-form debris all survive on disk
    assert(new java.io.File(mdir, "_watermark_2").createNewFile())
    assert(new java.io.File(mdir, "1").createNewFile())
    assert(new java.io.File(mdir, "3").createNewFile())
    java.nio.file.Files.write(
      new java.io.File(mdir, "_watermark").toPath,
      "0".getBytes(java.nio.charset.StandardCharsets.UTF_8))
    // NO new contiguous batch ids: the next roll-up's watermark cannot
    // advance (w == old) — pre-r20 the retire loop only ran on
    // advance, so this exact state persisted indefinitely
    Similarity.compactCodes(spark, root)
    assert(markerNames() === Set("_watermark_4"))
    (0L to 4L).foreach(b =>
      assert(StoreCompaction.isApplied(spark, root, b), s"batch $b"))
    assert(!append(3L)) // replay still no-ops after the heal
  }

  test("unreadable legacy watermark debris retires even with no value " +
    "to heal to") {
    // a pre-r19 store crashed MID-WRITE: the legacy `_watermark` file
    // exists but its content is garbage (reads as no value). With no
    // per-batch markers to fold, the roll-up has no watermark to
    // create — but the dead file must still retire, or it survives
    // every compaction and every replay check re-reads it forever
    val root = Files.createTempDirectory("graft-cmp-junk").toString + "/store"
    Similarity.writeB1Codes(
      Seq((1L, v(1, 1, 1, 1))).toDF("vec_id", "embedding"),
      "vec_id", "embedding", root)
    val mdir = new java.io.File(s"$root/_applied_batches")
    assert(mdir.mkdirs())
    java.nio.file.Files.write(
      new java.io.File(mdir, "_watermark").toPath,
      "not a number".getBytes(java.nio.charset.StandardCharsets.UTF_8))
    assert(!StoreCompaction.isApplied(spark, root, 0L))
    Similarity.compactCodes(spark, root)
    def markerNames() = mdir.list().filterNot(_.startsWith(".")).toSet
    assert(markerNames() === Set.empty)
    assert(!StoreCompaction.isApplied(spark, root, 0L))
  }

  test("pre-r19 _watermark_tmp crash debris recovers and retires") {
    // a store crashed under the OLD build between its watermark delete
    // and rename: `_watermark_tmp` holds the ONLY copy of the
    // folded-prefix value (the loss case the value-named form closes
    // going forward) — the content must read as a watermark, replay
    // must no-op on it, and the next roll-up must retire the debris
    val root = Files.createTempDirectory("graft-cmp-tmp").toString + "/store"
    def append(b: Long) = Similarity.appendB1Codes(
      Seq((10L + b, v(1, -1, 1, -1))).toDF("vec_id", "embedding"),
      "vec_id", "embedding", root, batchId = b)
    Similarity.writeB1Codes(
      Seq((1L, v(1, 1, 1, 1))).toDF("vec_id", "embedding"),
      "vec_id", "embedding", root)
    val mdir = new java.io.File(s"$root/_applied_batches")
    assert(mdir.mkdirs())
    java.nio.file.Files.write(
      new java.io.File(mdir, "_watermark_tmp").toPath,
      "1".getBytes(java.nio.charset.StandardCharsets.UTF_8))
    assert(StoreCompaction.isApplied(spark, root, 1L))
    assert(!StoreCompaction.isApplied(spark, root, 2L))
    assert(!append(1L))
    assert(append(2L))
    Similarity.compactCodes(spark, root)
    def markerNames() = mdir.list().filterNot(_.startsWith(".")).toSet
    assert(markerNames() === Set("_watermark_2"))
    assert(!append(1L))
    assert(!append(2L))
  }

  test("legacy content-named watermark still reads, upgrades on roll-up") {
    val root = Files.createTempDirectory("graft-cmp-leg").toString + "/store"
    def append(b: Long) = Similarity.appendB1Codes(
      Seq((10L + b, v(1, -1, 1, -1))).toDF("vec_id", "embedding"),
      "vec_id", "embedding", root, batchId = b)
    Similarity.writeB1Codes(
      Seq((1L, v(1, 1, 1, 1))).toDF("vec_id", "embedding"),
      "vec_id", "embedding", root)
    // a store compacted by a pre-r19 build: single `_watermark` file
    // with the value in the CONTENT
    val mdir = new java.io.File(s"$root/_applied_batches")
    assert(mdir.mkdirs())
    java.nio.file.Files.write(
      new java.io.File(mdir, "_watermark").toPath,
      "1".getBytes(java.nio.charset.StandardCharsets.UTF_8))
    assert(StoreCompaction.isApplied(spark, root, 0L))
    assert(StoreCompaction.isApplied(spark, root, 1L))
    assert(!StoreCompaction.isApplied(spark, root, 2L))
    assert(!append(1L)) // replay no-ops on the legacy watermark
    assert(append(2L))  // the next batch lands a per-batch file
    Similarity.compactCodes(spark, root)
    // the roll-up folded 2 and upgraded the ledger to the value-named
    // form, retiring the legacy file
    def markerNames() = mdir.list().filterNot(_.startsWith(".")).toSet
    assert(markerNames() === Set("_watermark_2"))
    assert(!append(1L))
    assert(!append(2L))
  }
}
