package graft.ext

import org.apache.spark.sql.functions._

import graft.SparkSpec

class SamplingSpec extends SparkSpec {
  import spark.implicits._

  private def docs = (0L until 2000L).map(i => (i, s"doc-$i"))
    .toDF("doc_id", "text")

  test("split is deterministic, partitioning-independent, near the budgets") {
    val a = Sampling.split(docs, $"doc_id").select("doc_id", "split")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val b = Sampling.split(docs.repartition(7), $"doc_id")
      .select("doc_id", "split")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(a == b)
    val counts = a.values.groupBy(identity).view.mapValues(_.size).toMap
    // 5% val / 5% test budgets on 2000 ids — allow generous hash wobble
    assert(counts("val") > 50 && counts("val") < 150, counts)
    assert(counts("test") > 50 && counts("test") < 150, counts)
    assert(counts("train") > 1700)
  }

  test("an id's assignment is stable when the corpus changes") {
    val half = Sampling.split(docs.where($"doc_id" < 1000), $"doc_id")
      .select("doc_id", "split")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val full = Sampling.split(docs, $"doc_id").select("doc_id", "split")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    half.foreach { case (id, s) => assert(full(id) == s) }
  }

  test("mixtureByTokens: rates from token mass, long docs don't distort the budget") {
    // "web": 1000 docs x 100 tokens = 100k tokens; "books": 10 docs x
    // 10k tokens = 100k tokens — equal token supply, wildly different
    // doc counts (the case the doc-count mixture gets wrong by 100x)
    val docs = ((0L until 1000L).map(i => (i, "web", 100L)) ++
      (1000L until 1010L).map(i => (i, "books", 10000L)) ++
      (1010L until 1020L).map(i => (i, "unweighted", 100L)))
      .toDF("doc_id", "g", "n_tok")
    val out = Sampling.mixtureByTokens(docs, $"g", $"doc_id", $"n_tok",
      Map("web" -> 500000, "books" -> 500000), targetTokens = 20000)
    val byG = out.collect().map(r => (r.getLong(0), r.getString(1)))
      .groupBy(_._2).view.mapValues(_.length).toMap
    // both groups get rate 0.5*20000/100000 = 10% — web keeps ~100 of
    // 1000 docs (~10k tokens), books ~1 of 10 (~10k tokens): the TOKEN
    // budgets match even though the doc counts differ 100x
    assert(byG("web") > 60 && byG("web") < 140, byG)
    assert(byG.getOrElse("books", 0) <= 4, byG)
    assert(!byG.contains("unweighted"), byG)
    // clamp: books demand above supply keeps every book
    val clamped = Sampling.mixtureByTokens(docs, $"g", $"doc_id", $"n_tok",
      Map("books" -> 1000000), targetTokens = 1000000)
    assert(clamped.where($"g" === "books").count() == 10)
    // deterministic under repartitioning
    val again = Sampling.mixtureByTokens(docs.repartition(7), $"g",
      $"doc_id", $"n_tok",
      Map("web" -> 500000, "books" -> 500000), targetTokens = 20000)
      .collect().map(_.getLong(0)).sorted
    assert(again.toSeq == out.collect().map(_.getLong(0)).sorted.toSeq)
  }

  test("mixtureByTokens: frontier-scale budget doesn't wrap, zero supply keeps") {
    // 15T-token budget at 60% weight: 600000 * 15e12 = 9e18 — over
    // Long.MaxValue (9.22e18) once multiplied as ppm Longs. Before the
    // DECIMAL(38,0) rate arithmetic the product wrapped negative and the
    // group was silently DROPPED instead of clamped to keep-everything.
    val docs = ((0L until 100L).map(i => (i, "web", 1000L)) ++
      (100L until 110L).map(i => (i, "empty", 0L)) ++
      (110L until 120L).map(i => (i, "noweight", 0L)))
      .toDF("doc_id", "g", "n_tok")
    val out = Sampling.mixtureByTokens(docs, $"g", $"doc_id", $"n_tok",
      Map("web" -> 600000, "empty" -> 400000), targetTokens = 15000000000000L)
    // demand (9e18 token-ppm) dwarfs supply (100k tokens): keep ALL web
    assert(out.where($"g" === "web").count() === 100)
    // zero token supply with positive weight: explicit keep-everything,
    // not a null-rate silent drop
    assert(out.where($"g" === "empty").count() === 10)
    // zero supply with NO weight still drops
    assert(out.where($"g" === "noweight").count() === 0)
  }

  test("mixture derives rates from counts: thins, clamps, and drops per group") {
    val docs = ((0L until 1000L).map(i => (i, "big")) ++
      (1000L until 1010L).map(i => (i, "small")) ++
      (1010L until 1020L).map(i => (i, "unweighted")))
      .toDF("doc_id", "g")
    val out = Sampling.mixture(docs, $"g", $"doc_id",
      Map("big" -> 500000, "small" -> 500000), targetRows = 40)
    val byG = out.collect().map(r => (r.getLong(0), r.getString(1)))
      .groupBy(_._2).view.mapValues(_.length).toMap
    // big: rate = 0.5*40/1000 = 2% of 1000 -> ~20 (hash wobble allowed);
    // small: demand 20 > supply 10 -> rate clamps, ALL 10 kept;
    // unweighted: dropped entirely
    assert(byG.getOrElse("small", 0) == 10, byG)
    assert(!byG.contains("unweighted"), byG)
    assert(byG("big") > 5 && byG("big") < 50, byG)
    // deterministic under repartitioning
    val again = Sampling.mixture(docs.repartition(7), $"g", $"doc_id",
      Map("big" -> 500000, "small" -> 500000), targetRows = 40)
      .collect().map(r => r.getLong(0)).sorted
    assert(again.toSeq == out.collect().map(r => r.getLong(0)).sorted.toSeq)
  }

  test("capPerGroup keeps exactly n per group, deterministically, via group limit") {
    val docs = (0L until 300L).map(i => (i, s"g${i % 3}")).toDF("doc_id", "g")
    val capped = Sampling.capPerGroup(docs, $"g", $"doc_id", n = 10)
    val kept = capped.collect().map(r => (r.getLong(0), r.getString(1)))
    assert(kept.groupBy(_._2).view.mapValues(_.length).toMap ==
      Map("g0" -> 10, "g1" -> 10, "g2" -> 10))
    // deterministic: same seed → same survivors on a different partitioning
    val again = Sampling.capPerGroup(docs.repartition(7), $"g", $"doc_id", 10)
      .collect().map(r => (r.getLong(0), r.getString(1)))
    assert(kept.toSet == again.toSet)
    // a different seed draws a different sample (not id-prefix-biased)
    val reseeded = Sampling.capPerGroup(docs, $"g", $"doc_id", 10, seed = "cap1")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(reseeded != kept.toSet)
    // the rank<=n predicate must push into WindowGroupLimit so tasks
    // keep an n-row buffer instead of sorting whole groups
    val p = capped.queryExecution.executedPlan.toString
    assert(p.contains("WindowGroupLimit"),
      s"expected the group-limit pushdown in:\n$p")
  }

  test("weighted keeps by score rate: clamps both ends, deterministic, re-drawable") {
    val docs = (0L until 3000L).map { i =>
      val score = i % 3 match {
        case 0 => 2000000L // over-clamp: always kept
        case 1 => -5L      // under-clamp: never kept
        case 2 => 500000L  // fair coin
      }
      (i, score)
    }.toDF("doc_id", "score")
    val kept = Sampling.weighted(docs, $"doc_id", $"score")
      .select("doc_id").as[Long].collect().toSet
    assert((0L until 3000L by 3).forall(kept.contains), "rate 1e6 must keep all")
    assert(!(1L until 3000L by 3).exists(kept.contains), "rate <=0 must drop all")
    val half = (2L until 3000L by 3).count(kept.contains)
    assert(half > 350 && half < 650, s"~500 of 1000 expected at 50%, got $half")

    // pure function of (seed, id, score): same call, same set; new seed,
    // a genuinely different draw of the coin-flip stratum
    val again = Sampling.weighted(docs, $"doc_id", $"score")
      .select("doc_id").as[Long].collect().toSet
    assert(again == kept)
    val redraw = Sampling.weighted(docs, $"doc_id", $"score", seed = "wt1")
      .select("doc_id").as[Long].collect().toSet
    assert(redraw != kept)
    assert((0L until 3000L by 3).forall(redraw.contains))
  }

  test("repeatByRate: whole copies exact, fractional copy near rate, deterministic") {
    // rate 2.5e6: every id gets >= 2 copies, ~half get a third
    val out = Sampling.repeatByRate(docs, $"doc_id", lit(2500000L))
      .groupBy("doc_id").count()
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out.size == 2000) // no document vanishes at rate >= 1e6
    assert(out.values.forall(n => n == 2L || n == 3L))
    val thirds = out.values.count(_ == 3L)
    assert(thirds > 800 && thirds < 1200, s"fractional copy rate off: $thirds")
    // copy_idx is a clean 0..n-1 per id
    val idx = Sampling.repeatByRate(docs.where($"doc_id" < 5), $"doc_id",
        lit(2500000L))
      .select("doc_id", "copy_idx")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).groupBy(_._1)
    idx.values.foreach(c =>
      assert(c.map(_._2).sorted.toSeq == (0L until c.length)))
    // rate exactly 1e6 -> exactly one copy each; rate 0 -> nothing
    assert(Sampling.repeatByRate(docs, $"doc_id", lit(1000000L)).count() == 2000)
    assert(Sampling.repeatByRate(docs, $"doc_id", lit(0L)).count() == 0)
    // deterministic and partitioning-independent; a new seed re-draws
    // only the fractional copies
    val a = Sampling.repeatByRate(docs, $"doc_id", lit(1300000L))
      .groupBy("doc_id").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val b = Sampling.repeatByRate(docs.repartition(7), $"doc_id", lit(1300000L))
      .groupBy("doc_id").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(a == b)
    val re = Sampling.repeatByRate(docs, $"doc_id", lit(1300000L), seed = "rep1")
      .groupBy("doc_id").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(re != a && re.values.forall(n => n == 1L || n == 2L))
  }

  test("temperatureMix: sqrt-flattened rates, low-resource kept whole, monotone in target") {
    // A n=9 (s=3), B n=4 (s=2), C n=1 (s=1): S=6. targetRows=6 ->
    // rates 333333 / 500000 / 1000000 ppm — the sqrt flattening gives
    // the small group a HIGHER rate than its share (1e6 vs A's 1/3),
    // and C is kept whole (rate clamps exactly at 1e6, no hash luck)
    val docs = (1L to 9L).map((_, "A")) ++ (10L to 13L).map((_, "B")) ++
      Seq((20L, "C"))
    val df = docs.toDF("id", "g")
    val kept6 = Sampling.temperatureMix(df, $"g", $"id", targetRows = 6)
      .select("id").as[Long].collect().toSet
    assert(kept6.contains(20L)) // C fully kept
    // a target beyond supply clamps every rate to keep-everything
    val keptAll = Sampling.temperatureMix(df, $"g", $"id", targetRows = 1000)
      .select("id").as[Long].collect().toSet
    assert(keptAll == docs.map(_._1).toSet)
    // rates are monotone in targetRows, so membership is too
    assert(kept6.subsetOf(keptAll))
    // deterministic under repartitioning
    val again = Sampling.temperatureMix(df.repartition(5), $"g", $"id",
        targetRows = 6)
      .select("id").as[Long].collect().toSet
    assert(again == kept6)
  }

  test("stratified keeps per-stratum rates and drops unknown strata") {
    val ev = (0L until 3000L).map(i =>
      (i, Seq("view", "click", "other")(i.toInt % 3))).toDF("event_id", "event_type")
    val kept = Sampling.stratified(ev, $"event_type", $"event_id",
        Map("view" -> 100000, "click" -> 1000000))
      .collect().map(r => (r.getLong(0), r.getString(1)))
    assert(kept.count(_._2 == "click") == 1000) // ppm 1e6 = keep all
    val views = kept.count(_._2 == "view")
    assert(views > 50 && views < 200, s"~10% of 1000 views expected, got $views")
    assert(!kept.exists(_._2 == "other"))
  }

  test("epochPlan: rates, epochs, the cap, and the zero-weight report by hand") {
    // masses: a = 100 tokens (2 docs), b = 1000, c = 400
    val docs = Seq(("a", 60L), ("a", 40L), ("b", 1000L), ("c", 400L))
      .toDF("g", "nt")
    // budget 2000, weights a 50% / b 50%: a demands 1000 tokens from a
    // mass of 100 -> raw 10e6 ppm, capped at 3e6 -> planned 300;
    // b demands 1000 from 1000 -> exactly 1e6 ppm, uncapped; c has no
    // weight -> rate 0, still reported
    val plan = Sampling.epochPlan(docs, $"g", $"nt",
        Map("a" -> 500000, "b" -> 500000), targetTokens = 2000L,
        maxEpochsPpm = 3000000L)
      .orderBy("grp").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getBoolean(6)))
    assert(plan.toSeq == Seq(
      ("a", 100L, 2L, 500000L, 3000000L, 300L, true),
      ("b", 1000L, 1L, 500000L, 1000000L, 1000L, false),
      ("c", 400L, 1L, 0L, 0L, 0L, false)))
    // a WEIGHTED group absent from the corpus still appears on the
    // plan — mass 0, rate 0, capped — instead of silently vanishing
    val ghost = Sampling.epochPlan(docs, $"g", $"nt",
        Map("a" -> 500000, "zz" -> 500000), targetTokens = 2000L,
        maxEpochsPpm = 3000000L)
      .where($"grp" === "zz").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(4),
        r.getBoolean(6)))
    assert(ghost.toSeq == Seq(("zz", 0L, 0L, true)))
    // the plan's rates feed repeatByRate directly: group a comes back
    // 3x (3e6 ppm = three whole copies of each doc)
    val withRates = docs.withColumn("id",
      monotonically_increasing_id())
    val reps = Sampling.repeatByRate(
        withRates.where($"g" === "a"), $"id", lit(3000000L))
      .count()
    assert(reps == 6L) // 2 docs x 3 copies
  }
}
