package graft

import java.sql.Timestamp

import org.apache.spark.sql.functions._

import graft.ext.{Dedup, Events, Multimodal, Similarity, TextAnalysis}

/** Extension operators: hand fixtures for the window/dedup semantics that
  * have no SQL oracle, recall checks for the approximate paths.
  */
class ExtSpec extends SparkSuite {

  private def ts(s: String): Timestamp = Timestamp.valueOf(s)

  test("session windows split exactly at the 30-minute gap") {
    import spark.implicits._
    val events = Seq(
      // user 1: two sessions — a gap strictly over 30m starts a new one
      (1L, ts("2024-01-01 10:00:00"), 1.0),
      (1L, ts("2024-01-01 10:10:00"), 2.0),
      (1L, ts("2024-01-01 10:40:01"), 4.0), // 30m01s after 10:10 → NEW session
      // user 2: one session — exactly-30m gap stays merged (boundary is
      // inclusive: an event at prev_ts + gap extends the session)
      (2L, ts("2024-01-01 09:00:00"), 8.0),
      (2L, ts("2024-01-01 09:30:00"), 16.0),
    ).toDF("user_id", "ts", "value")
    val got = Events.sessionsOf(events).collect()
    assert(got.length === 3)
    val u1 = got.filter(_.getLong(0) == 1L).sortBy(_.getLong(1))
    assert(u1(0).getLong(3) === 2) // n_events of first session
    assert(u1(1).getLong(3) === 1)
    // end = last ts + 30m
    assert(u1(0).getLong(2) - ts("2024-01-01 10:10:00").getTime * 1000 === 30L * 60 * 1000000L)
    val u2 = got.filter(_.getLong(0) == 2L)
    assert(u2.length === 1 && u2(0).getLong(3) === 2)
  }

  test("tumbling windows partition a day of events hour by hour") {
    import spark.implicits._
    val events = Seq(
      (1L, ts("2024-01-01 10:59:59"), "click", 1.0),
      (2L, ts("2024-01-01 11:00:00"), "click", 2.0),
      (3L, ts("2024-01-01 11:30:00"), "view", 4.0),
    ).toDF("event_id", "ts", "event_type", "value")
    val got = Events.tumblingOf(events)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    assert(got.toSet === Set(
      (ts("2024-01-01 10:00:00").getTime / 1000, "click", 1L),
      (ts("2024-01-01 11:00:00").getTime / 1000, "click", 1L),
      (ts("2024-01-01 11:00:00").getTime / 1000, "view", 1L)))
  }

  test("minhash LSH finds the near-dup pairs exact jaccard finds") {
    // exact >= 0.6 jaccard pairs must appear among LSH candidates at the
    // looser 0.7-distance cutoff (dist = 1 - jaccard)
    val exact = Dedup.ngramJaccardPairs(spark, sf, 0.6)
      .select("a", "b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Dedup.minhashPairs(spark, sf, 0.7)
      .select("a", "b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.subsetOf(lsh), s"missed: ${exact.diff(lsh)}")
  }

  test("minhash table count derives from the S-curve and holds recall at a second config") {
    // b = ceil(ln(1-p)/ln(1-s*)) at p = 0.94: the default cutoff keeps the
    // previously hard-coded 8; tighter/looser cutoffs move b as the curve
    // says, independent of corpus size
    assert(Dedup.minhashTables(0.7) === 8)
    assert(Dedup.minhashTables(0.5) === 5)
    assert(Dedup.minhashTables(0.8) === 13)
    // second config (maxDist 0.5 → b = 5): planted exact near-dups at
    // jaccard >= 0.6 sit above the 0.5-similarity threshold, so the seeded
    // LSH must still surface every one of them
    val exact = Dedup.ngramJaccardPairs(spark, sf, 0.6)
      .select("a", "b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Dedup.minhashPairs(spark, sf, 0.5)
      .select("a", "b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.subsetOf(lsh), s"missed at second config: ${exact.diff(lsh)}")
  }

  test("fuzzy decontamination flags every train doc with a planted eval near-dup") {
    // ground truth: exact >= 0.6-jaccard pairs that straddle the train/eval
    // carve (doc_id % 10) — their train side sits at distance <= 0.4, inside
    // the 0.5 cutoff, so the seeded LSH must flag it
    val exact = Dedup.ngramJaccardPairs(spark, sf, 0.6)
      .select("a", "b").collect().map(r => (r.getLong(0), r.getLong(1)))
    val leakedTrain = exact.flatMap { case (a, b) =>
      (a % 10 == 0, b % 10 == 0) match {
        case (true, false) => Some(b)
        case (false, true) => Some(a)
        case _             => None
      }
    }.toSet
    val flagged = Dedup.fuzzyDecontaminate(spark, sf)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(leakedTrain.subsetOf(flagged), s"missed leaks: ${leakedTrain.diff(flagged)}")
    // and no eval doc can appear on the flagged (train) side
    assert(flagged.forall(_ % 10 != 0))
  }

  test("df-capped near-dup: subset of exact pairs, and misses ONLY boilerplate-evidence pairs") {
    val cap = 64L
    val capped = Dedup.cappedNeardupPairs(spark, sf)
      .select("a", "b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = Dedup.ngramJaccardPairs(spark, sf, 0.6)
      .select("a", "b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // precision is exact (identical verify + acceptance as x15)
    assert(capped.subsetOf(exact), s"false positives: ${capped.diff(exact)}")
    // the PRECISE recall contract: a qualifying pair escapes the capped
    // candidates iff EVERY shingle the two docs share is corpus-hot
    val missed = exact.diff(capped)
    if (missed.nonEmpty) {
      val docs = graft.Tables.documents(spark, sf)
        .select(col("lang"), col("doc_id"), split(col("text"), " ").as("toks"))
        .filter(size(col("toks")) >= 3)
        .select(col("lang"), col("doc_id"),
          array_distinct(transform(sequence(lit(0), size(col("toks")) - 3),
            i => concat_ws(" ", slice(col("toks"), i + 1, lit(3))))).as("sh"))
      val local = docs.collect()
        .map(r => r.getLong(1) -> (r.getString(0), r.getSeq[String](2).toSet)).toMap
      val df = scala.collection.mutable.Map.empty[(String, String), Long]
      local.values.foreach { case (lang, sh) =>
        sh.foreach(s => df((lang, s)) = df.getOrElse((lang, s), 0L) + 1L)
      }
      missed.foreach { case (a, b) =>
        val (langA, sa) = local(a)
        val shared = sa.intersect(local(b)._2)
        assert(shared.nonEmpty && shared.forall(s => df((langA, s)) > cap),
          s"pair ($a,$b) missed despite a sub-cap shared shingle")
      }
    }
  }

  test("x269 routing law: saturated corpus routes capped, Heaps-law corpus routes PPJoin") {
    import spark.implicits._
    // saturated fixture: every doc repeats the SAME tiny shingle set, so
    // every distinct shingle is hotter than the cap — the regime the 30×
    // SCALE study measured (all posting lists hot, pair space superlinear)
    val saturated = (1 to 40).map(i => (i.toLong, "en", "a b c d e"))
      .toDF("doc_id", "lang", "text")
    val satShare = Dedup.saturationShare(Dedup.shingleDfFrame(saturated), dfCap = 8)
    assert(satShare >= 0.5, s"saturated fixture must route capped, share=$satShare")
    // Heaps-law fixture: fresh vocabulary per doc — df = 1 everywhere,
    // sub-cap evidence dominates, the exact channel is safe and complete
    val heaps = (1 to 40).map(i => (i.toLong, "en", s"w${i}a w${i}b w${i}c w${i}d w${i}e"))
      .toDF("doc_id", "lang", "text")
    val heapsShare = Dedup.saturationShare(Dedup.shingleDfFrame(heaps), dfCap = 8)
    assert(heapsShare < 0.5, s"Heaps fixture must route PPJoin, share=$heapsShare")
    assert(!Dedup.routeToCapped(Dedup.shingleDfFrame(heaps), 8, Dedup.RouteMassBudget),
      "Heaps fixture must route exact under both gates")
    // mass-hot fixture (the r11 second gate): Heaps vocabulary PLUS one
    // boilerplate shingle every doc shares — share stays far under 0.5
    // (one hot shingle among 200+ unique ones) but that single posting
    // list alone makes the candidate mass 40·39/2 = 780, so a budget
    // under that must route CAPPED where the share gate alone would
    // have attempted the doomed exact join
    val massHot = (1 to 40).map(i =>
        (i.toLong, "en", s"common1 common2 common3 w${i}a w${i}b w${i}c w${i}d w${i}e"))
      .toDF("doc_id", "lang", "text")
    val massShare = Dedup.saturationShare(Dedup.shingleDfFrame(massHot), dfCap = 8)
    assert(massShare < 0.5, s"mass fixture must stay under the share gate, share=$massShare")
    assert(Dedup.routeToCapped(Dedup.shingleDfFrame(massHot), 8, routeBudget = 500L),
      "mass-hot fixture must route capped via the mass gate")
    assert(!Dedup.routeToCapped(Dedup.shingleDfFrame(massHot), 8, routeBudget = 100000L),
      "the mass gate must release when the budget covers the posting lists")
    // and on the gate corpus the routed output IS one of the two channels
    val routed = Dedup.routedNearDup(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val gateCapped = Dedup.routeToCapped(
      Dedup.shingleDfFrame(graft.Tables.documents(spark, sf)), 64,
      Dedup.RouteMassBudget)
    val expected = (if (gateCapped) Dedup.cappedNeardupPairs(spark, sf)
                    else Dedup.ngramJaccardPairs(spark, sf))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(routed === expected)
  }

  test("x277 deterministic-bloom delta: no false negatives, FP over-drop within budget") {
    // bloom error direction: admitted ⊆ exact delta (a true duplicate can
    // NEVER slip through — its key sets exactly the bits the probe reads),
    // and the only divergence is FP over-drop, bounded far under (k·n/m)^k
    val exact = Dedup.corpusDelta(spark, sf)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val bloom = Dedup.deterministicBloomDelta(spark, sf)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(bloom.subsetOf(exact),
      s"false negatives admitted: ${bloom.diff(exact)}")
    val dropped = exact.diff(bloom)
    assert(dropped.size <= math.max(1, exact.size / 100),
      s"FP over-drop ${dropped.size}/${exact.size} exceeds the 1% budget")
  }

  test("x15/x16 bare channels refuse LOUDLY above the pair budget; Heaps corpora pass through") {
    import spark.implicits._
    // the round-10 m100 lesson as a law: a saturated corpus must make the
    // BARE exact channels fail fast at the guard (estimate aggregate only
    // — milliseconds here, vs the measured 11,600 task-s doomed-shuffle
    // abort), while a Heaps-law corpus under the SAME budget passes
    // through untouched. Fixtures go through parquet so the guard runs on
    // the real (spark, dir) channel entrypoints.
    val base = java.nio.file.Files.createTempDirectory("graft_pair_budget").toString
    val satDir = s"$base/sat"
    val heapsDir = s"$base/heaps"
    // saturated: 40 identical docs — 3 distinct shingles, each df = 40,
    // estimate = 3·(40·39/2) = 2340 ≫ budget 100
    (1 to 40).map(i => (i.toLong, "en", "a b c d e"))
      .toDF("doc_id", "lang", "text")
      .write.mode("overwrite").parquet(s"$satDir/documents.parquet")
    // Heaps: fresh vocabulary per doc (df = 1 ⇒ estimate 0) plus ONE
    // planted exact dup so the pass-through result is provably nonempty
    // on both channels (identical shingle sets ⇒ every minhash table
    // collides deterministically)
    ((1 to 40).map(i => (i.toLong, "en", s"w${i}a w${i}b w${i}c w${i}d w${i}e")) :+
      ((41L, "en", "w1a w1b w1c w1d w1e")))
      .toDF("doc_id", "lang", "text")
      .write.mode("overwrite").parquet(s"$heapsDir/documents.parquet")
    val e15 = intercept[IllegalArgumentException](
      Dedup.ngramJaccardPairs(spark, satDir, 0.6, budget = 100L))
    assert(e15.getMessage.contains("routedNearDup") &&
      e15.getMessage.contains("SPARK_GRAFT_PAIR_BUDGET"),
      s"x15 refusal must point the caller at the router: ${e15.getMessage}")
    val e16 = intercept[IllegalArgumentException](
      Dedup.minhashPairs(spark, satDir, 0.7, budget = 100L))
    assert(e16.getMessage.contains("routedNearDup"),
      s"x16 refusal must point the caller at the router: ${e16.getMessage}")
    // same budget, Heaps corpus: both channels run and find the planted dup
    val ppjoin = Dedup.ngramJaccardPairs(spark, heapsDir, 0.6, budget = 100L)
      .select("a", "b").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(ppjoin.contains((1L, 41L)), s"planted dup missing from $ppjoin")
    val mh = Dedup.minhashPairs(spark, heapsDir, 0.7, budget = 100L)
      .select("a", "b").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(mh.contains((1L, 41L)), s"planted dup missing from $mh")
    // and the CAPPED channel accepts the saturated corpus without a guard:
    // its volume is O(n·cap) by construction — saturation cannot blow it up
    Dedup.cappedNeardupPairs(spark, satDir, 0.6, 8).count()
  }

  test("simhash near-dups overlap exact near-dups on planted duplicates") {
    val exact = Dedup.ngramJaccardPairs(spark, sf, 0.6)
      .select("a", "b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val sim = Dedup.simhashPairs(spark, sf, 8)
      .select("a", "b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    if (exact.nonEmpty) assert(exact.intersect(sim).nonEmpty)
  }

  test("banded embedding near-dup: precision 1 vs exact, planted dups always found") {
    import spark.implicits._
    val rnd = new scala.util.Random(42)
    val base = (0L until 40L).map(i => (i, Array.fill(64)((rnd.nextDouble() * 2 - 1).toFloat)))
    // plant near-copies differing in exactly 3 coordinate signs: ≤ nBands−1
    // flips pigeonholes at least one clean band, so the pair MUST be a
    // candidate; cos stays ≈ 1 − 2·3/64, far above the 0.4 threshold
    val planted = base.take(10).map { case (i, v) =>
      val w = v.clone()
      Seq(5, 20, 40).foreach(d => w(d) = -w(d))
      (i + 1000L, w)
    }
    val e = (base ++ planted).toDF("vec_id", "embedding")
    val banded = Dedup.bandedNearDup(e, 0.4).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    val exact = Dedup.exactNearDup(e, 0.4).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    // precision == 1: every banded pair is an exact pair with the same cosine
    banded.foreach { case (k, c) => assert(exact.get(k).contains(c), s"false positive $k") }
    // recall law on planted duplicates
    base.take(10).foreach { case (i, _) =>
      assert(banded.contains((i, i + 1000L)), s"missed planted pair ($i, ${i + 1000L})")
    }
  }

  test("prefix-filtered jaccard equals the naive all-pairs formulation") {
    // independent naive oracle: within-lang crossJoin + exact J over the
    // same 3-shingles (fine at sf0.001; never wired as an operator)
    val docs = Tables.documents(spark, sf)
      .withColumn("toks", split(col("text"), " "))
      .filter(size(col("toks")) >= 3)
      .withColumn("shingles", array_distinct(transform(
        sequence(lit(0), size(col("toks")) - 3),
        i => concat_ws(" ", slice(col("toks"), i + 1, lit(3))))))
      .select(col("lang"), col("doc_id"), col("shingles"), size(col("shingles")).as("sz"))
    val a = docs.select(col("lang"), col("doc_id").as("a"), col("shingles").as("sa"), col("sz").as("sza"))
    val b = docs.select(col("lang"), col("doc_id").as("b"), col("shingles").as("sb"), col("sz").as("szb"))
    val naive = a.join(b, "lang").filter(col("a") < col("b"))
      .withColumn("inter", size(array_intersect(col("sa"), col("sb"))))
      .withColumn("jaccard", round(col("inter") / (col("sza") + col("szb") - col("inter")), 4))
      .select("a", "b", "jaccard")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    // t = 0.1 exercises the integer prefix-length arithmetic: in double,
    // floor((1−0.1)·sz)+1 under-counts the prefix and silently drops
    // qualifying pairs (1−0.1 = 0.8999…)
    for (t <- Seq(0.6, 0.1)) {
      val expected = naive.filter(_._3 >= t).toSet
      val got = Dedup.ngramJaccardPairs(spark, sf, t)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(got === expected, s"threshold $t")
    }
  }

  test("IVF geometry derives sqrt-scaled cluster and probe counts, capped at 12*n^(1/4)") {
    // nlist = min(ceil(sqrt(n)), 12*ceil(n^1/4)), seed modulus spreads
    // seeds evenly, probe = ceil(sqrt(nlist)); the cap is inert below
    // n = 12^4 = 20736 (both gate SFs keep uncapped geometry)
    assert(Similarity.ivfGeometry(500) === ((23L, 21L, 5)))
    assert(Similarity.ivfGeometry(2000) === ((45L, 44L, 7)))
    assert(Similarity.ivfGeometry(20736) === ((144L, 144L, 12))) // last uncapped point
    // 2^30 vectors: uncapped sqrt would be 32768 centroids; the cap holds
    // the serving assignment at n * 2184 score-ops (12 * 182)
    assert(Similarity.ivfGeometry(1L << 30) === ((2184L, 491640L, 47)))
    assert(Similarity.ivfGeometry(1) === ((4L, 1L, 2))) // degenerate floor
  }

  test("IVF ANN (derived sqrt(n) clusters + probes) reaches >= 50% recall of brute-force top-5") {
    val exact = Similarity.bruteForceTopK(spark, sf)
      .select("q_id", "n_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val approx = Similarity.ivfTopK(spark, sf)
      .select("q_id", "n_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = exact.intersect(approx).size.toDouble / exact.size
    assert(recall >= 0.5, s"recall=$recall")
  }

  test("IVF with every cluster probed equals brute force exactly") {
    // exhaustive probing removes the approximation: every candidate lives
    // in exactly one cluster and all clusters are probed, so the candidate
    // set is complete and the top-k (same ordering, same rounding) must be
    // BYTE-identical to the brute-force baseline — a full-equivalence law
    // that catches assignment/probe-join bugs the recall bound would miss
    val n = graft.Tables.embeddings(spark, sf).count()
    val (nlist, _, _) = Similarity.ivfGeometry(n)
    val exact = Similarity.bruteForceTopK(spark, sf).collect().toSeq
    val full = Similarity.ivfTopK(spark, sf, nProbe = nlist.toInt).collect().toSeq
    assert(full === exact)
  }

  test("two-stage PQ: ranks well-formed, bounded ADC, and pool >= corpus makes it exact") {
    val got = Similarity.pqTopK(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3), r.getLong(4)))
    val vecs = graft.Tables.embeddings(spark, sf)
      .select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray)
    val n = vecs.length
    // structure: 3 queries x ranks 1..10, ADC bounded by M = 8 subspace cosines
    val byQ = got.groupBy(_._1)
    assert(byQ.keySet === Set(0L, 1L, 2L))
    byQ.values.foreach { rows =>
      assert(rows.map(_._5).sorted.toSeq === (1L to 10L))
      rows.foreach(r => assert(math.abs(r._3) <= 8000000L, s"ADC out of [-8, 8]: $r"))
      // ranks follow (cos desc, vec_id asc) exactly
      val s = rows.sortBy(_._5).map(r => (-r._4, r._2)).toSeq
      assert(s === s.sorted, "rank order violates (cos desc, vec_id asc)")
    }
    // with poolK >= n, the ADC stage prunes NOTHING, so the exact
    // re-rank must equal brute-force cosine top-10 — full equivalence,
    // the same law the exhaustive-probe IVF test pins
    val full = Similarity.pqTopK(spark, sf, poolK = n).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(3), r.getLong(4)))
      .groupBy(_._1)
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0
      for (i <- a.indices) { d += a(i).toDouble * b(i); na += a(i).toDouble * a(i); nb += b(i).toDouble * b(i) }
      d / (math.sqrt(na) * math.sqrt(nb))
    }
    val vmap = vecs.toMap
    Seq(0L, 1L, 2L).foreach { q =>
      val exact = vecs.map { case (id, v) => (id, cos(vmap(q), v)) }
        .sortBy { case (id, c) => (-c, id) }.take(10).map(_._1).toSeq
      val approx = full(q).sortBy(_._4).map(_._2).toSeq
      assert(approx === exact, s"query $q: pool>=corpus PQ diverged from brute force")
      // the pruned default pool is a subset discipline: its hits are a
      // subset of what the full pool returns at better-or-equal ranks
      assert(byQ(q).map(_._2).toSet.subsetOf(vecs.map(_._1).toSet))
    }
  }

  test("IVF-PQ with every cluster probed equals plain two-stage PQ exactly") {
    // exhaustive probing removes the IVF approximation: every vector
    // lives in exactly one probed cluster, so the candidate set is the
    // corpus and the composed index must equal x262 byte for byte
    val n = graft.Tables.embeddings(spark, sf).count()
    val (nlist, _, _) = Similarity.ivfGeometry(n)
    val full = Similarity.ivfPqTopK(spark, sf, nProbe = nlist.toInt).collect().toSeq
    val pq = Similarity.pqTopK(spark, sf).collect().toSeq
    assert(full === pq, "exhaustive-probe IVF-PQ diverged from plain PQ")
    // the default probe returns well-formed rank lists whose members are
    // a subset of the probed clusters' population by construction
    val probed = Similarity.ivfPqTopK(spark, sf).collect()
    probed.groupBy(_.getLong(0)).values.foreach { rs =>
      assert(rs.map(_.getLong(4)).sorted.toSeq === (1L to rs.length))
    }
  }

  test("hard negatives carry a different label and rank exactly like label-filtered brute force") {
    val labels = graft.Tables.embeddings(spark, sf)
      .select("vec_id", "label").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val hard = Similarity.hardNegatives(spark, sf).collect()
    assert(hard.nonEmpty)
    // the negative law: no returned neighbor shares its anchor's label
    hard.foreach { r =>
      assert(labels(r.getLong(0)) !== labels(r.getLong(1)),
        s"anchor ${r.getLong(0)} got same-label neighbor ${r.getLong(1)}")
    }
    // exactness: equals brute-force top-k recomputed over the label-filtered
    // candidate set (per anchor, ranks are 1..k and cos non-increasing)
    hard.groupBy(_.getLong(0)).foreach { case (_, rows) =>
      val sorted = rows.sortBy(_.getLong(3))
      assert(sorted.map(_.getLong(3)).toSeq === (1L to sorted.length).toSeq)
      val cs = sorted.map(_.getDouble(2))
      assert(cs.zip(cs.drop(1)).forall { case (a, b) => a >= b })
    }
  }

  test("bigram NLL is non-negative and covers exactly tokens-1 positions per doc") {
    val nll = TextAnalysis.bigramNll(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(nll.nonEmpty)
    nll.foreach { case (id, _, v) => assert(v >= 0L, s"doc $id negative NLL") }
    val tokCounts = TextAnalysis.withTokens(graft.Tables.documents(spark, sf))
      .select(col("doc_id"), size(col("tokens")).cast("long").as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    nll.foreach { case (id, nBg, _) =>
      assert(nBg === tokCounts(id) - 1, s"doc $id bigram count wrong")
    }
  }

  test("edit-distance blocking recovers planted mutations at every distance up to d") {
    import spark.implicits._
    val docs = graft.Tables.documents(spark, sf).select("doc_id", "text")
    // plant one mutated twin per distance 1..4: substitutions, an insert,
    // and a delete, all INSIDE the 64-char prefix, spread across segments
    val seed = docs.filter(length(col("text")) >= 64)
      .orderBy("doc_id").limit(1).collect()(0)
    val (sid, stext) = (seed.getLong(0), seed.getString(1))
    def sub(s: String, i: Int) = s.updated(i, if (s(i) == 'q') 'z' else 'q')
    val mutants = Seq(
      900001L -> sub(stext, 3),                                   // dist 1
      900002L -> sub(sub(stext, 5), 30),                          // dist 2
      900003L -> (stext.take(20) + "x" + stext.drop(20)).take(stext.length), // insert
      900004L -> sub(sub(sub(sub(stext, 2), 17), 33), 55))        // dist 4
    val planted = docs.unionByName(mutants.toDF("doc_id", "text"))
    val pairs = Dedup.editDistancePairsOf(planted, prefixLen = 64, d = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    mutants.foreach { case (mid, _) =>
      assert(pairs.contains((sid, mid)),
        s"planted mutant $mid not recovered by segment blocking")
    }
    assert(pairs((sid, 900001L)) === 1L)
    assert(pairs((sid, 900002L)) === 2L)
    assert(pairs((sid, 900004L)) === 4L)
    // and the candidate path is an equi-join, never a cartesian product
    val plan = Dedup.editDistancePairsOf(planted, 64, 4)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"),
      "edit-distance candidates must come from the segment equi-join")
  }

  test("source KL: a planted skewed source dominates every natural source") {
    import spark.implicits._
    val docs = graft.Tables.documents(spark, sf).select("doc_id", "source", "text")
    // a source whose distribution is a single made-up token sits maximally
    // far from the corpus blend — its KL must exceed every natural source's
    val planted = docs.unionByName(Seq(
      (910001L, "skewed", ("zzqx " * 200).trim),
      (910002L, "skewed", ("zzqx " * 150).trim)).toDF("doc_id", "source", "text"))
    val kl = TextAnalysis.sourceKlOf(planted).collect()
      .map(r => r.getString(0) -> r.getLong(2)).toMap
    val natural = kl.filterNot(_._1 == "skewed").values
    assert(kl("skewed") > natural.max,
      s"skewed source KL ${kl("skewed")} not above natural max ${natural.max}")
    // and KL is non-negative for every source by construction
    kl.values.foreach(v => assert(v >= 0L))
  }

  test("entity clusters equal a local union-find over both evidence channels") {
    val jac = Dedup.ngramJaccardPairs(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val ed = Dedup.editDistancePairs(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    (jac ++ ed).foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val expected = (jac ++ ed).flatMap(p => Seq(p._1, p._2)).distinct
      .map(id => id -> find(id)).toMap
    val got = Dedup.entityClusters(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === expected,
      "distributed CC over the union evidence graph diverged from local union-find")
    // the union must be doing real work at this fixture: at least one
    // entity needs both channels (members beyond any single channel's pairs)
    val jacIds = jac.flatMap(p => Seq(p._1, p._2)).toSet
    val edIds = ed.flatMap(p => Seq(p._1, p._2)).toSet
    assert((jacIds -- edIds).nonEmpty && (edIds -- jacIds).nonEmpty,
      "fixture exercises only one evidence channel")
  }

  test("held-out scoring covers every test token and stays within the smoothed cost range") {
    val rows = TextAnalysis.heldoutPpl(spark, sf).collect()
    // coverage: the left cost join + unk fallback must score EVERY token of
    // every test-split document — nothing silently dropped
    val testTotal = TextAnalysis.withTokens(graft.Tables.documents(spark, sf))
      .filter(graft.ops.Sampling.bucket10k(col("doc_id"), 42) >= 8000)
      .select(explode(col("tokens"))).count()
    assert(rows.map(_.getLong(1)).sum === testTotal, "test tokens dropped in scoring")
    // the Laplace-smoothed per-token cost is bounded by the unseen-token
    // cost, so every per-source mean must be too (and positive)
    rows.foreach { r =>
      val nll = r.getLong(2)
      assert(nll > 0L, s"${r.getString(0)}: non-positive NLL")
    }
    val maxMean = rows.map(_.getLong(2)).max
    val minMean = rows.map(_.getLong(2)).min
    // all sources draw from one corpus distribution: means cluster (a 2×
    // spread would mean the split leaked or the unk path misfired)
    assert(maxMean < 2 * minMean, s"NLL spread implausible: $minMean..$maxMean")
  }

  test("backoff scoring covers every test trigram within the unigram-floor cost cap") {
    val rows = TextAnalysis.heldoutBackoffNll(spark, sf).collect()
    // coverage: three left joins + the CASE floor must score EVERY test
    // trigram — a dropped row would mean a broken branch
    val docs = TextAnalysis.withTokens(graft.Tables.documents(spark, sf))
    val testTotal = docs
      .filter(graft.ops.Sampling.bucket10k(col("doc_id"), 42) >= 8000)
      .filter(size(col("tokens")) >= 3)
      .select((size(col("tokens")) - 2).cast("long").as("n"))
      .agg(sum(col("n"))).first().getLong(0)
    assert(rows.map(_.getLong(1)).sum === testTotal, "test trigrams dropped in scoring")
    // every cost is bounded by the deepest backoff: the Laplace unigram
    // floor 0.16/(N+V), so mean NLL < ln((N+V)/0.16)·1000 milli-nats
    val trainToks = docs
      .filter(graft.ops.Sampling.bucket10k(col("doc_id"), 42) < 8000)
      .select(explode(col("tokens")).as("t"))
    val n = trainToks.count()
    val v = trainToks.distinct().count() + 1
    val cap = math.ceil(math.log((n + v) / 0.16) * 1000).toLong
    rows.foreach { r =>
      assert(r.getLong(2) > 0L && r.getLong(2) <= cap,
        s"${r.getString(0)}: mean ${r.getLong(2)} outside (0, $cap]")
    }
  }

  test("pca projection satisfies the spectral contract: Var(y_k) = lambda_k, cross-cov 0, means 0") {
    val pc = Similarity.principalComponent(spark, sf).collect()
    val lambda = (0 until 3).map(k => pc.filter(_.getLong(0) == k).head.getDouble(3))
    val proj = Similarity.pcaProject(spark, sf).collect()
      .map(r => (r.getLong(1).toDouble / 1e6, r.getLong(2).toDouble / 1e6,
        r.getLong(3).toDouble / 1e6))
    val n = proj.length.toDouble
    assert(n > 0)
    val cols = Seq(proj.map(_._1), proj.map(_._2), proj.map(_._3))
    val means = cols.map(c => c.sum / n)
    // centering: per-component mean ~ 0 (e6 floor + eigen residual noise)
    means.zipWithIndex.foreach { case (m, k) =>
      assert(math.abs(m) < 1e-3, s"component $k mean $m not centered")
    }
    // the spectral contract: population variance of the k-th projection
    // equals the k-th eigenvalue (within the 1e-3 eigen-residual band the
    // x149 law already pins, plus quantization slack)
    (0 until 3).foreach { k =>
      val v = cols(k).map(x => (x - means(k)) * (x - means(k))).sum / n
      assert(math.abs(v - lambda(k)) <= 5e-3 * lambda(k) + 1e-6,
        s"Var(y$k) = $v but lambda$k = ${lambda(k)}")
    }
    // orthogonal directions ⇒ uncorrelated projections
    for (a <- 0 until 3; b <- (a + 1) until 3) {
      val cov = cols(a).zip(cols(b))
        .map { case (x, y) => (x - means(a)) * (y - means(b)) }.sum / n
      val bound = 5e-3 * math.sqrt(lambda(a) * lambda(b)) + 1e-6
      assert(math.abs(cov) <= bound, s"Cov(y$a, y$b) = $cov exceeds $bound")
    }
  }

  test("int8 quantization error is bounded by half a code step per dimension") {
    val rows = Similarity.sq8Profile(spark, sf).collect()
    val dims = graft.Tables.embeddings(spark, sf)
      .select(size(col("embedding"))).first().getInt(0)
    assert(rows.length === dims, "one row per embedding dimension")
    rows.foreach { r =>
      val (vmin, vmax) = (r.getDouble(1), r.getDouble(2))
      val maxErr = r.getLong(5)
      // uniform 255-step code: reconstruction error ≤ step/2 =
      // (vmax−vmin)/510, plus slack for the 6-dp range rounding and the
      // e9 error quantization
      val bound = math.ceil(((vmax - vmin) / 510d + 2e-6) * 1e9).toLong + 1
      assert(maxErr <= bound, s"dim ${r.getLong(0)}: max err $maxErr > $bound")
      assert(r.getLong(4) <= maxErr, "mean err cannot exceed max err")
    }
  }

  test("k-means report partitions the corpus with bounded cohesion") {
    val e = graft.Tables.embeddings(spark, sf)
    val n = e.count()
    val rows = Similarity.kmeansReport(spark, sf).collect()
    // membership is a partition of the corpus: every vector in exactly one cluster
    assert(rows.map(_.getLong(1)).sum === n)
    val (_, mod, _) = Similarity.ivfGeometry(n)
    val nSeeds = e.filter(col("vec_id") % mod === 0).count()
    assert(rows.length <= nSeeds.toInt, "more clusters than Lloyd seeds")
    rows.foreach { r =>
      val coh = r.getLong(2)
      assert(coh >= -10000L && coh <= 10000L, s"cluster ${r.getLong(0)}: cohesion $coh")
      assert(r.getLong(1) > 0L)
    }
    // cohesion must beat the random-direction baseline on average: members
    // sit NEAR their centroid (weighted mean strictly positive)
    val weighted = rows.map(r => r.getLong(1) * r.getLong(2)).sum
    assert(weighted > 0L, "clustering produced no cohesion at all")
  }

  test("dup matrix mass equals the pair count with canonical source ordering") {
    val pairs = Dedup.ngramJaccardPairs(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val srcOf = graft.Tables.documents(spark, sf).select("doc_id", "source")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val cells = Dedup.sourceDupMatrix(spark, sf).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    // conservation: every pair lands in exactly one cell
    assert(cells.values.sum === pairs.length.toLong)
    // canonical ordering holds and each cell equals its recomputed count
    val expected = pairs.groupBy { case (a, b) =>
      val (sa, sb) = (srcOf(a), srcOf(b))
      (if (sa <= sb) sa else sb, if (sa <= sb) sb else sa)
    }.map { case (k, v) => k -> v.length.toLong }
    assert(cells === expected, "matrix cells diverged from recomputed rollup")
    cells.keys.foreach { case (lo, hi) => assert(lo <= hi) }
  }

  test("near-dup admission blocks exactly the arrivals with a resident partner") {
    val pairs = Dedup.ngramJaccardPairs(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    def isNew(id: Long) = id % 10 == 0
    val expectedBlocked = pairs.collect {
      case (a, b) if isNew(a) != isNew(b) => if (isNew(a)) a else b
    }.toSet
    val arrivals = graft.Tables.documents(spark, sf)
      .filter(col("doc_id") % 10 === 0).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    val admitted = Dedup.nearDupAdmit(spark, sf).collect().map(_.getLong(0)).toSet
    assert(admitted === arrivals -- expectedBlocked,
      "admission diverged from the cross-pair classification")
    // intra-batch near-dups must NOT block admission
    val intraNew = pairs.collect { case (a, b) if isNew(a) && isNew(b) => Seq(a, b) }
      .flatten.toSet
    assert((intraNew -- expectedBlocked).forall(admitted.contains),
      "an intra-batch pair wrongly blocked admission")
    // and the fixture exercises the path: something was actually blocked
    assert(expectedBlocked.nonEmpty)
  }

  test("source entropy is bounded by ln(types) and collapses for a planted template source") {
    import spark.implicits._
    val docs = graft.Tables.documents(spark, sf).select("doc_id", "source", "text")
    val planted = docs.unionByName(Seq(
      (920001L, "template", ("lorem ipsum " * 100).trim),
      (920002L, "template", ("lorem ipsum " * 80).trim)).toDF("doc_id", "source", "text"))
    val rows = TextAnalysis.sourceEntropyOf(planted).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    rows.foreach { case (src, (_, nTypes, h)) =>
      assert(h >= 0L)
      // H ≤ ln(|types|), with milli-nat flooring slack of 1 per type share
      val cap = math.ceil(math.log(nTypes.toDouble) * 1000).toLong + 1
      assert(h <= cap, s"$src: entropy $h above ln(types) cap $cap")
    }
    // a two-word template source collapses toward ln 2 ≈ 693 milli-nats,
    // far below any natural source
    val naturalMin = rows.filterNot(_._1 == "template").values.map(_._3).min
    assert(rows("template")._3 < naturalMin,
      s"template entropy ${rows("template")._3} not below natural min $naturalMin")
    assert(rows("template")._3 <= 694L)
  }

  test("Wilson bounds bracket the point rate and match a local recomputation") {
    val rows = TextAnalysis.wilsonBounds(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(rows.nonEmpty)
    rows.foreach { case (src, k, n, lo, hi) =>
      val p = k.toDouble / n
      val z2 = 3.8416d; val nD = n.toDouble
      val denom = 1.0 + z2 / nD
      val center = (p + z2 / (2.0 * nD)) / denom
      val half = (1.96 * math.sqrt(p * (1.0 - p) / nD + z2 / (4.0 * nD * nD))) / denom
      assert(lo === math.floor((center - half) * 10000 + 0.5).toLong, s"$src lower")
      assert(hi === math.floor((center + half) * 10000 + 0.5).toLong, s"$src upper")
      // the interval brackets the point rate and stays in [0, 1]
      val pE4 = math.floor(p * 10000 + 0.5).toLong
      assert(lo <= pE4 && pE4 <= hi, s"$src: point $pE4 outside [$lo, $hi]")
      assert(lo >= 0L && hi <= 10001L)
    }
  }

  test("count-min sketch never underestimates an exact count") {
    val rows = TextAnalysis.cmsTokenCounts(spark, sf).collect()
    assert(rows.length === 20)
    rows.foreach { r =>
      assert(r.getLong(2) >= r.getLong(1),
        s"token ${r.getString(0)}: cms ${r.getLong(2)} < exact ${r.getLong(1)}")
    }
  }

  test("HLL day-sketch union equals the direct sketch and tracks the exact count") {
    val rows = Events.hllMergeCounts(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      // register-wise max is associative: merging per-day state must give
      // the SAME estimate as one pass over the raw log — this is the whole
      // contract that lets the 100 TB rollup skip the re-scan
      assert(r.getInt(4) === 1,
        s"type ${r.getString(0)}: merged estimate diverged from direct")
      // lgK=12 ⇒ ~1.6% relative standard error; 5% is > 3 sigma
      val (exact, est) = (r.getLong(2), r.getLong(3))
      assert(math.abs(est - exact).toDouble <= math.max(5d, 0.05 * exact),
        s"type ${r.getString(0)}: estimate $est too far from exact $exact")
    }
  }

  test("MAD outliers: robust gate flags a minority and broadcasts both percentile frames") {
    val w = TextAnalysis.madOutliers(spark, sf)
    val rows = w.collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (mad, nOut, n) = (r.getLong(2), r.getLong(3), r.getLong(4))
      assert(mad >= 0L)
      // by definition at least half the group sits within one MAD of the
      // median, so a 3·1.4826·MAD gate can never flag a majority
      assert(nOut * 2 < n, s"source ${r.getString(0)}: $nOut of $n flagged")
    }
    // both |sources|-row percentile frames must come back as broadcasts —
    // the doc rows never shuffle for either join
    val plan = w.queryExecution.executedPlan.toString
    assert("BroadcastHashJoin".r.findAllIn(plan).size >= 2,
      "median and MAD frames must both broadcast")
  }

  test("gap-fill emits the full dense grid and zero-fills a planted silent day") {
    val ev = graft.Tables.events(spark, sf)
    val full = Events.gapFillOf(ev).collect()
    val types = full.map(_.getString(0)).distinct.length
    val days = full.map(_.getLong(1))
    // dense grid: |types| × contiguous span, conserving the event total
    assert(full.length === types * (days.max - days.min + 1).toInt)
    assert(full.map(_.getLong(2)).sum === ev.count())
    // carve every event out of one interior day: the day must STILL appear,
    // zero-filled for every type — the row a sparse groupBy would lose
    val hole = days.min + (days.max - days.min) / 2
    val gapped = Events.gapFillOf(
      ev.filter(floor(unix_micros(col("ts")) / 86400000000L) =!= hole))
    val holeRows = gapped.filter(col("day") === hole).collect()
    assert(holeRows.length === types, "silent day dropped from the grid")
    holeRows.foreach(r => assert(r.getLong(2) === 0L))
  }

  test("quantile normalization emits the exact uniform grid per source off one exchange") {
    val qn = TextAnalysis.quantileNormalize(spark, sf)
    val rows = qn.collect()
    rows.groupBy(_.getString(1)).foreach { case (src, grp) =>
      val n = grp.length.toLong
      // ranks are a permutation of 1..n, so the cdf values must be EXACTLY
      // the uniform grid ((2i−1)·5000) div n — normalization erased the
      // source's raw score distribution, which is the whole point
      val expected = (1L to n).map(i => ((2 * i - 1) * 5000) / n).sorted
      assert(grp.map(_.getLong(3)).sorted.toSeq === expected, s"source $src off-grid")
      // and the map is monotone in the raw score
      val byRank = grp.sortBy(r => (r.getLong(3), r.getLong(0))).map(_.getLong(2))
      assert(byRank.zip(byRank.drop(1)).forall { case (a, b) => a <= b },
        s"source $src: cdf not monotone in n_tokens")
    }
    // both windows ride the same source-keyed partitioning: exactly one
    // hash exchange in the plan (the final orderBy adds a range exchange).
    // After execution AQE prints Final AND Initial plans — count only the
    // final one.
    val plan = qn.queryExecution.executedPlan.toString.split("== Initial Plan ==").head
    assert("hashpartitioning".r.findAllIn(plan).size === 1,
      "rank and count windows must share one source-keyed exchange")
  }

  test("rolling 7-day totals match a recomputed trailing window on the dense grid") {
    val rows = Events.rollingDaily(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    val byKey = rows.map(t => (t._1, t._2) -> t._3).toMap
    rows.foreach { case (tpe, day, _, n7, peak) =>
      val win = (day - 6 to day).flatMap(d => byKey.get((tpe, d)))
      assert(n7 === win.sum, s"($tpe, $day): rolling sum $n7 != ${win.sum}")
      assert(peak === win.max, s"($tpe, $day): rolling max $peak != ${win.max}")
    }
    // the composition exists because a ROWS frame over the SPARSE counts
    // is wrong the moment a gap exists: carve out a day and the dense
    // rolling sum at the day after the hole must still count only the
    // 7-calendar-day window (the sparse frame would reach a day further back)
    val hole = rows.map(_._2).min + 10
    val gapped = Events.gapFillOf(
      graft.Tables.events(spark, sf)
        .filter(floor(unix_micros(col("ts")) / 86400000000L) =!= hole))
      .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(gapped.filter(_._1._2 == hole).values.forall(_ == 0L))
  }

  test("EWMA equals the sequential dyadic smoother recomputed from the daily series") {
    val rows = Events.ewmaDaily(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(rows.nonEmpty)
    val byKey = rows.map(r => (r._1, r._2) -> r._3).toMap
    val lo = rows.map(_._2).min
    rows.foreach { case (tpe, day, _, ewma) =>
      // reference smoother: weights 2^(13-i) over days (day-i), i=0..13,
      // clipped at the series start; integer floor division
      val terms = (0 to 13).flatMap { i =>
        byKey.get((tpe, day - i)).map(v => (v * (1L << (13 - i)), 1L << (13 - i)))
      }
      val expect = terms.map(_._1).sum / terms.map(_._2).sum
      assert(ewma === expect, s"($tpe, $day): ewma $ewma != sequential $expect")
      // steady state (full frame): the denominator is 2^14 - 1, so the
      // smoother is a convex combination — bounded by the frame extremes
      if (day - lo >= 13) {
        val vals = (0 to 13).map(i => byKey((tpe, day - i)))
        assert(ewma >= vals.min - 1 && ewma <= vals.max,
          s"($tpe, $day): ewma $ewma outside frame range [${vals.min}, ${vals.max}]")
      }
    }
    // the dense grid must be complete: every (type, day) cell in the span
    val types = rows.map(_._1).distinct
    val span = rows.map(_._2).max - lo + 1
    assert(rows.length.toLong === types.length * span)
  }

  test("mutual information decomposition matches the contingency-table recomputation") {
    val cells = graft.Tables.events(spark, sf)
      .select(col("event_type"),
        expr("floor(unix_micros(ts) / 86400000000) % 7").cast("long").as("dow"))
      .collect().map(r => (r.getString(0), r.getLong(1)))
      .groupBy(identity).view.mapValues(_.size.toLong).toMap
    val n = cells.values.sum
    val cx = cells.groupBy(_._1._1).view.mapValues(_.values.sum).toMap
    val cy = cells.groupBy(_._1._2).view.mapValues(_.values.sum).toMap
    val got = Events.mutualInfo(spark, sf).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .toMap
    assert(got.keySet === cx.keySet)
    got.foreach { case (tpe, (nEvents, nX, nCells, pmiSum)) =>
      assert(nEvents === n); assert(nX === cx(tpe))
      val mine = cells.filter(_._1._1 == tpe)
      assert(nCells === mine.size.toLong)
      val expect = mine.map { case ((_, dow), cxy) =>
        cxy * math.floor(
          math.log((n.toDouble * cxy) / (cx(tpe).toDouble * cy(dow))) * 1e6 + 0.5).toLong
      }.sum
      assert(pmiSum === expect, s"$tpe: pmi sum $pmiSum != recomputed $expect")
    }
    // global MI = Σ terms / N must be ≥ 0 up to per-cell rounding slack
    val totCells = got.values.map(_._3).sum
    assert(got.values.map(_._4).sum >= -totCells,
      "global MI below the rounding floor — dependence sum is broken")
  }

  test("chi-square contributions are nonnegative and match the per-cell recomputation") {
    val cells = graft.Tables.events(spark, sf)
      .select(col("event_type"),
        expr("floor(unix_micros(ts) / 86400000000) % 7").cast("long").as("dow"))
      .collect().map(r => (r.getString(0), r.getLong(1)))
      .groupBy(identity).view.mapValues(_.size.toLong).toMap
    val n = cells.values.sum
    val cx = cells.groupBy(_._1._1).view.mapValues(_.values.sum).toMap
    val cy = cells.groupBy(_._1._2).view.mapValues(_.values.sum).toMap
    val got = Events.chi2Independence(spark, sf).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .toMap
    assert(got.keySet === cx.keySet)
    got.foreach { case (tpe, (nX, nDows, nCells, chi2)) =>
      assert(nX === cx(tpe)); assert(nDows === cy.size.toLong)
      val mine = cells.filter(_._1._1 == tpe)
      assert(nCells === mine.size.toLong)
      val expect = mine.map { case ((_, dow), cxy) =>
        val a = (n * cxy - cx(tpe) * cy(dow)).toDouble
        math.floor((a * a) / (n.toDouble * cx(tpe) * cy(dow)) * 1e6 + 0.5).toLong
      }.sum
      assert(chi2 === expect, s"$tpe: chi2 $chi2 != recomputed $expect")
      assert(chi2 >= 0L)
    }
  }

  test("vocab coverage is monotone in N and matches the rank recomputation at N=1000") {
    val rows = TextAnalysis.vocabCoverage(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(rows.map(_._1).toSeq === Seq(1000L, 2000L, 4000L, 8000L, 16000L))
    // a larger vocab can only cover more; coverage never exceeds the total
    rows.sliding(2).foreach { case Array((_, c1, _, e1), (_, c2, _, e2)) =>
      assert(c1 <= c2 && e1 <= e2, "coverage not monotone in vocab size")
    }
    rows.foreach { case (_, cov, tot, e6) =>
      assert(cov <= tot)
      assert(e6 === math.floor(cov * 1000000L / tot.toDouble + 0.5).toLong)
    }
    // driver recomputation of the N=1000 point from the raw token stream
    val toks = graft.Tables.documents(spark, sf)
      .select("doc_id", "text").collect()
      .flatMap(r => r.getString(1).split(" ").map(t => (r.getLong(0), t)))
    def bucket(id: Long): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(s"$id:42".getBytes("UTF-8"))
      java.lang.Long.parseLong(md.take(4).map("%02x".format(_)).mkString, 16) % 10000
    }
    val train = toks.filter(t => bucket(t._1) < 8000).map(_._2)
    val test = toks.filter(t => bucket(t._1) >= 8000).map(_._2)
    val top1k = train.groupBy(identity).view.mapValues(_.size).toSeq
      .sortBy { case (t, n) => (-n, t) }.take(1000).map(_._1).toSet
    val covered = test.count(top1k)
    val (_, gotCov, gotTot, _) = rows.head
    assert(gotTot === test.length.toLong)
    assert(gotCov === covered.toLong, s"N=1000 coverage $gotCov != recomputed $covered")
    // if the held-out set contains genuinely OOV tokens, even the largest
    // vocab cannot reach full coverage (data-derived, so the law cannot
    // go vacuous when a small fixture's whole vocab fits in 1000)
    val trainVocab = train.toSet
    if (test.exists(t => !trainVocab(t)))
      assert(rows.last._4 < 1000000L, "OOV tokens exist but coverage reads 100%")
  }

  test("KM survival: at-risk counts reconcile and the log-domain curve is nonincreasing") {
    val rows = Events.kmSurvival(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))
    assert(rows.nonEmpty)
    val users = graft.Tables.events(spark, sf).select("user_id").distinct().count()
    // the earliest emitted step's at-risk count can be at most all users,
    // and at-risk strictly decreases along the curve
    assert(rows.head._2 <= users)
    rows.sliding(2).foreach { case Array(a, b) =>
      assert(a._1 < b._1 && a._2 > b._2, "at-risk not decreasing in duration")
    }
    rows.foreach { case (dur, n, d, c, step, _) =>
      assert(d >= 1L && d + c <= n, s"dur $dur: d=$d c=$c n=$n inconsistent")
      if (d < n)
        assert(step === math.floor(math.log((n - d) / n.toDouble) * 1e6 + 0.5).toLong,
          s"dur $dur step")
      else assert(step === -99000000L)
    }
    // the cumulative log-survival is the running sum of steps (≤ 0, nonincreasing)
    var acc = 0L
    rows.foreach { case (dur, _, _, _, step, cum) =>
      acc += step
      assert(cum === acc, s"dur $dur cumulative mismatch")
      assert(step <= 0L)
    }
    // planted censoring: strip the purchases of half the users (odd ids) —
    // those users must surface as censored, the at-risk totals must still
    // reconcile to the full user count, and removing events can only
    // SHORTEN durations for the stripped users, never change others'
    val planted = Events.kmSurvivalOf(
      graft.Tables.events(spark, sf)
        .filter(!(col("user_id") % 2 === 1 && col("event_type") === "purchase")))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    // output rows sit at EVENT times (d > 0) — censoring shows up as the
    // gap between the user population and the total event count, not
    // necessarily as c > 0 on an emitted row
    val dTot = planted.map(_._3).sum
    val dFull = rows.map(_._3).sum
    assert(dTot < users, "stripped users did not surface as censored")
    assert(dTot < dFull, "event count did not drop after stripping purchases")
    assert(planted.map(r => r._3 + r._4).sum <= users)
  }

  test("log-rank O/E/V equal the hypergeometric replay and the test is group-symmetric") {
    val Array(row) = Events.logRank(spark, sf).collect()
    val (n1, n0, o1, e1, v, chi2) = (row.getLong(0), row.getLong(1), row.getLong(2),
      row.getLong(3), row.getLong(4),
      if (row.isNullAt(5)) None else Some(row.getLong(5)))
    val perUser = graft.Tables.events(spark, sf)
      .select(col("user_id"), col("event_type"), unix_micros(col("ts")).as("us"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
      .groupBy(_._1).map { case (uid, es) =>
        val t0 = es.map(_._3).min
        val tp = es.filter(_._2 == "purchase").map(_._3).minOption
        val tl = es.map(_._3).max
        val dur = tp.fold((tl - t0) / 86400000000L)(t => (t - t0) / 86400000000L)
        (dur, if (tp.isDefined) 1L else 0L, uid % 2)
      }.toSeq
    assert(n1 === perUser.count(_._3 == 1L) && n0 === perUser.count(_._3 == 0L))
    assert(n1 + n0 === perUser.size.toLong)
    // replay: iterate durations ascending with exact at-risk depletion
    var (atRisk, atRisk1) = (perUser.size.toLong, perUser.count(_._3 == 1L).toLong)
    var (eo1, ee1, ev6) = (0L, 0L, 0L)
    perUser.groupBy(_._1).toSeq.sortBy(_._1).foreach { case (_, g) =>
      val d = g.map(_._2).sum
      val d1 = g.collect { case (_, e, 1L) => e }.sum
      val p = atRisk1.toDouble / atRisk.toDouble
      eo1 += d1
      ee1 += math.floor(d.toDouble * p * 1e6 + 0.5).toLong
      if (atRisk > 1)
        ev6 += math.floor(d.toDouble * p * (1.0 - p)
          * ((atRisk - d).toDouble / (atRisk - 1).toDouble) * 1e6 + 0.5).toLong
      atRisk -= g.size
      atRisk1 -= g.count(_._3 == 1L)
    }
    assert((o1, e1, v) === ((eo1, ee1, ev6)), "O/E/V hypergeometric replay mismatch")
    chi2.foreach { c =>
      val dev = o1.toDouble - e1.toDouble / 1e6
      assert(c === math.floor(dev * dev / (v.toDouble / 1e6) * 1e6 + 0.5).toLong)
      assert(c >= 0L, "chi-square statistic is nonnegative")
    }
    // sanity: expectations live inside the attainable range 0 ≤ E1 ≤ total
    // events (in e6), and V > 0 whenever both groups are ever at risk together
    val totalEvents = perUser.map(_._2).sum
    assert(e1 >= 0L && e1 <= totalEvents * 1000000L)
    if (n1 > 0 && n0 > 0) assert(v > 0L, "both groups at risk but V = 0")
  }

  test("Bradley-Terry strengths replay the MM trajectory from brute-force pairs") {
    val got = graft.ext.Associations.bradleyTerry(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    // brute-force pair derivation from the raw tables
    val qty = graft.Tables.lineitem(spark, sf)
      .join(graft.Tables.part(spark, sf), col("l_partkey") === col("p_partkey"))
      .groupBy(col("l_orderkey"), col("p_brand"))
      .agg(sum(col("l_quantity")).cast("long").as("q")).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    val wins = scala.collection.mutable.Map.empty[(String, String), Long]
      .withDefaultValue(0L)
    qty.groupBy(_._1).values.foreach { order =>
      val items = order.map(t => (t._2, t._3)).sortBy(_._1)
      for (x <- items.indices; y <- x + 1 until items.size) {
        val ((b1, q1), (b2, q2)) = (items(x), items(y))
        if (q1 > q2) wins((b1, b2)) += 1L
        else if (q2 > q1) wins((b2, b1)) += 1L
      }
    }
    val brands = wins.keysIterator.flatMap { case (a, b) => Iterator(a, b) }
      .toSeq.distinct.sorted
    val k = brands.length
    val idx = brands.zipWithIndex.toMap
    val nm = Array.fill(k, k)(0.0)
    val wv = new Array[Double](k)
    wins.foreach { case ((a, b), c) =>
      nm(idx(a))(idx(b)) += c.toDouble; nm(idx(b))(idx(a)) += c.toDouble
      wv(idx(a)) += c.toDouble
    }
    var pi = Array.fill(k)(1.0)
    (0 until 100).foreach { _ =>
      val raw = Array.tabulate(k) { i =>
        var den = 0.0
        var j = 0
        while (j < k) { den = den + nm(i)(j) / (pi(i) + pi(j)); j += 1 }
        if (den > 0) wv(i) / den else pi(i)
      }
      var s = 0.0
      var j = 0
      while (j < k) { s = s + raw(j); j += 1 }
      pi = raw.map(_ / s)
    }
    assert(got.length === k)
    got.foreach { case (b, w, n, p, _) =>
      val i = idx(b)
      assert(w === wv(i).toLong, s"$b wins")
      assert(n === nm(i).sum.toLong, s"$b comparisons")
      assert(p === math.floor(pi(i) * 1e9 + 0.5).toLong, s"$b strength")
    }
    // structural laws: comparisons are symmetric double-counted decisive
    // pairs; strengths normalize to 1 within k half-ulps of the e9 grid;
    // ranks are the dense order of the quantized strengths
    assert(got.map(_._2).sum === wins.values.sum, "total wins = decisive pairs")
    assert(got.map(_._3).sum === 2L * wins.values.sum)
    assert(math.abs(got.map(_._4).sum - 1000000000L) <= k.toLong)
    val expectRank = got.sortBy { case (b, _, _, p, _) => (-p, b) }
      .zipWithIndex.map { case ((b, _, _, _, _), i) => b -> (i + 1L) }.toMap
    got.foreach { case (b, _, _, _, rk) => assert(rk === expectRank(b), s"$b rank") }
  }

  test("Shapley attribution replays the exact 16-coalition game and is efficient") {
    val got = Events.shapleyAttribution(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val bits = Map("click" -> 1L, "error" -> 2L, "signup" -> 4L, "view" -> 8L)
    val users = graft.Tables.events(spark, sf)
      .select(col("user_id"), col("event_type")).collect()
      .map(r => (r.getLong(0), r.getString(1)))
      .groupBy(_._1).values.map { es =>
        val types = es.map(_._2).toSet
        (bits.collect { case (t, b) if types(t) => b }.sum,
          if (types("purchase")) 1L else 0L)
      }.toSeq
    val n = users.groupBy(_._1).view.mapValues(_.size.toLong).toMap
    val c = users.groupBy(_._1).view.mapValues(_.map(_._2).sum).toMap
    def v(m: Long): Double =
      if (n.getOrElse(m, 0L) > 0L) c(m).toDouble / n(m).toDouble else 0.0
    val wNum = Map(0 -> 6L, 1 -> 2L, 2 -> 2L, 3 -> 6L)
    got.foreach { case (ch, touched, conv, phi) =>
      val bit = bits(ch)
      val expPhi = (0L until 16L).filter(m => (m & bit) == 0L).map { m =>
        math.floor((wNum(java.lang.Long.bitCount(m)).toDouble / 24.0)
          * (v(m + bit) - v(m)) * 1e9 + 0.5).toLong
      }.sum
      assert(phi === expPhi, s"$ch phi")
      assert(touched === users.count(u => (u._1 & bit) > 0L).toLong, s"$ch touched")
      assert(conv === users.collect { case (m, y) if (m & bit) > 0L => y }.sum, s"$ch conv")
    }
    // efficiency: Σφ = v(full) − v(∅) up to one half-ulp per quantized term
    val sumPhi = got.map(_._4).sum
    val eff = math.floor((v(15L) - v(0L)) * 1e9 + 0.5).toLong
    assert(math.abs(sumPhi - eff) <= 32L, s"efficiency: $sumPhi vs $eff")
  }

  test("k-center coreset replays the farthest-point traversal on exact integer grids") {
    val got = Similarity.kcenterCoreset(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1),
        if (r.isNullAt(2)) None else Some(r.getLong(2))))
    val vecs = graft.Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => (r.getLong(0),
        r.getSeq[Float](1).map(v => math.floor(v.toDouble * 1e4 + 0.5).toLong).toArray))
      .sortBy(_._1)
    def d2(a: Array[Long], b: Array[Long]): Long = {
      var s = 0L
      var i = 0
      while (i < a.length) { val d = a(i) - b(i); s += d * d; i += 1 }
      s
    }
    var mind = vecs.map(v => (v._1, d2(v._2, vecs.head._2))).toMap
    var exp = List((1L, vecs.head._1, Option.empty[Long]))
    val byId = vecs.toMap
    (2 to 10).foreach { step =>
      val (nid, nd) = mind.toSeq.maxBy { case (id, d) => (d, -id) }
      exp ::= ((step.toLong, nid, Some(nd)))
      mind = mind.map { case (id, d) => id -> math.min(d, d2(byId(id), byId(nid))) }
    }
    assert(got.toSeq === exp.reverse, "farthest-point trajectory mismatch")
    // ladder: the selection distance is nonincreasing; ids distinct
    val ds = got.flatMap(_._3)
    ds.sliding(2).foreach { case Array(a, b) => assert(a >= b, "radius ladder rose") }
    assert(got.map(_._2).distinct.length === got.length)
  }

  test("Markov removal effects replay the absorbing-chain Jacobi solve") {
    val got = Events.markovAttribution(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    // journey derivation from first principles
    val chIdx = Map("click" -> 2, "error" -> 3, "signup" -> 4, "view" -> 5)
    val ev = graft.Tables.events(spark, sf)
      .select(col("user_id"), unix_micros(col("ts")).as("us"),
        col("event_id"), col("event_type")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    val n0 = Array.fill(8, 8)(0L)
    ev.groupBy(e => (e._1, e._2 / 86400000000L)).values.foreach { es =>
      val seq = es.toSeq.sortBy(e => (e._2, e._3))
      val cut = seq.indexWhere(_._4 == "purchase")
      val pre = if (cut >= 0) seq.take(cut) else seq
      var prev = 1
      pre.foreach { e => val s = chIdx(e._4); n0(prev)(s) += 1L; prev = s }
      n0(prev)(if (cut >= 0) 6 else 7) += 1L
    }
    def absorb(c: Int): Double = {
      val n = Array.tabulate(8, 8) { (i, j) =>
        if (c == 0) n0(i)(j)
        else if (i == c) 0L else if (j == c) 0L
        else if (j == 7) n0(i)(7) + n0(i)(c)
        else n0(i)(j)
      }
      val rs = Array.tabulate(8)(i => (1 to 7).map(n(i)(_)).sum)
      val p = Array.tabulate(8, 8)((i, j) =>
        if (rs(i) > 0L) n(i)(j).toDouble / rs(i).toDouble else 0.0)
      var a = Array(0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 1.0, 0.0)
      (0 until 200).foreach { _ =>
        a = Array.tabulate(8) { s =>
          if (s >= 1 && s <= 5) {
            var acc = 0.0
            var j = 1
            while (j <= 7) { acc = acc + p(s)(j) * a(j); j += 1 }
            acc
          } else a(s)
        }
      }
      a(1)
    }
    val base = absorb(0)
    assert(got.length === 4)
    got.foreach { case (ch, nIn, baseE9, absE9, remE9) =>
      val c = chIdx(ch)
      assert(nIn === (1 to 7).map(i => n0(i)(c)).sum, s"$ch inbound")
      assert(baseE9 === math.floor(base * 1e9 + 0.5).toLong, s"$ch base")
      val ab = absorb(c)
      assert(absE9 === math.floor(ab * 1e9 + 0.5).toLong, s"$ch absorb")
      assert(remE9 === math.floor((1.0 - ab / base) * 1e9 + 0.5).toLong, s"$ch removal")
      // removing a channel can only LOWER absorption (paths are lost,
      // none gained), so the removal effect is a true fraction
      assert(absE9 <= baseE9 && remE9 >= 0L && remE9 <= 1000000000L)
    }
  }

  test("Good-Turing counts replay and discount small frequencies on the Zipf tail") {
    val got = TextAnalysis.goodTuring(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1),
        if (r.isNullAt(2)) None else Some(r.getLong(2)), r.getLong(3), r.getLong(4)))
    val counts = graft.Tables.documents(spark, sf).select(col("text")).collect()
      .flatMap(_.getString(0).split(" ", -1))
      .groupBy(identity).view.mapValues(_.length.toLong).toMap
    val nr = counts.values.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val nTotal = counts.values.sum
    val n1 = nr.getOrElse(1L, 0L)
    assert(got.map(_._1).toSet === nr.keySet)
    got.foreach { case (r, nR, rstar, tot, p0) =>
      assert(nR === nr(r), s"r=$r n_r")
      assert(tot === nTotal)
      assert(p0 === math.floor(n1.toDouble / nTotal.toDouble * 1e6 + 0.5).toLong)
      nr.get(r + 1L) match {
        case Some(nNext) =>
          assert(rstar === Some(math.floor(
            (r + 1L).toDouble * nNext.toDouble / nR.toDouble * 1e6 + 0.5).toLong))
        case None => assert(rstar.isEmpty, s"r=$r should have no r*")
      }
    }
    // type/token reconciliation: Σ n_r = |vocab| and Σ r·n_r = N
    assert(got.map(_._2).sum === counts.size.toLong)
    assert(got.map(t => t._1 * t._2).sum === nTotal)
  }

  test("Nelson-Aalen shares KM's risk table and its hazard dominates the log-survival") {
    val na = Events.nelsonAalen(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))
    val km = Events.kmSurvival(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))
    // identical (dur, n_risk, d, c) frames — same estimand, two estimators
    assert(na.map(t => (t._1, t._2, t._3, t._4)).toSeq ===
      km.map(t => (t._1, t._2, t._3, t._4)).toSeq)
    var cum = 0L
    na.foreach { case (dur, n, d, _, term, ch) =>
      assert(term === math.floor(d.toDouble / n.toDouble * 1e6 + 0.5).toLong,
        s"dur $dur increment")
      cum += term
      assert(ch === cum, s"dur $dur cumulative")
      assert(term > 0L)
    }
    // −ln(1−x) ≥ x: each KM log-step dominates the hazard increment (up
    // to one grid cell each from independent e6 roundings), so the
    // cumulative hazard is a lower envelope of −ln S(t)
    na.zip(km).foreach { case ((dur, _, _, _, h, _), (_, _, _, _, step, _)) =>
      if (step > -99000000L) assert(-step >= h - 2L, s"dur $dur: -ln(1-x) < x?")
    }
  }

  test("mutual-kNN clusters replay from brute-force and never span label blocks") {
    val got = Similarity.mutualKnnClusters(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val vecs = graft.Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("label").cast("long"), col("embedding")).collect()
      .map(r => (r.getLong(0), r.getLong(1),
        r.getSeq[Float](2).map(v => math.floor(v.toDouble * 1e4 + 0.5).toLong).toArray))
    def d2(a: Array[Long], b: Array[Long]): Long = {
      var s = 0L; var i = 0
      while (i < a.length) { val d = a(i) - b(i); s += d * d; i += 1 }
      s
    }
    // cell-size governor replay: nSub from the same exact counts, the
    // sub cell from the same md5 bucket (1 cell at this SF — the law
    // exercises the derivation, not a hardcoded passthrough)
    val nLab = vecs.map(_._2).distinct.length.toLong
    val nSub = math.max(1L, (vecs.length + nLab * 512L - 1L) / (nLab * 512L))
    def sub(id: Long): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(s"$id:13".getBytes("UTF-8"))
      val hex = md.take(4).map(b => f"$b%02x").mkString
      (java.lang.Long.parseLong(hex, 16) % 10000L) % nSub
    }
    val knn = vecs.map { case (id, lb, q) =>
      id -> vecs.filter(v => v._2 == lb && sub(v._1) == sub(id) && v._1 != id)
        .map(v => (d2(q, v._3), v._1)).sorted.take(5).map(_._2).toSet
    }.toMap
    val mutual = (for {
      (a, na) <- knn.toSeq; b <- na
      if a < b && knn(b).contains(a)
    } yield (a, b)).toSet
    // union-find
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    mutual.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val members = mutual.flatMap(p => Seq(p._1, p._2))
    val rep = members.map(m => m -> find(m)).toMap
    val size = rep.values.groupBy(identity).view.mapValues(_.size.toLong).toMap
    assert(got.length === members.size, "clustered node set size")
    val lbl = vecs.map(v => v._1 -> v._2).toMap
    got.foreach { case (id, lb, cr, cs) =>
      assert(lb === lbl(id))
      assert(cr === rep(id), s"vec $id rep")
      assert(cs === size(rep(id)), s"vec $id size")
      // blocking invariant: the representative shares the node's label
      assert(lbl(cr) === lb, s"cluster $cr spans labels")
    }
    // noise exists or not, but never a singleton WITH an edge
    assert(got.forall(_._4 >= 2L), "clusters have at least two members")
  }

  test("entropy rate: stationary mass sums to one, terminals are corridors, rate = pi.h") {
    val got = Events.entropyRate(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(got.length === 7)
    // π is a distribution (7 quantizations of half-ulp each)
    assert(math.abs(got.map(_._3).sum - 1000000000L) <= 7L)
    // CONV/NULL deterministically restart → zero entropy corridors
    got.filter(t => t._1 == "CONV" || t._1 == "NULL").foreach { t =>
      assert(t._4 === 0L, s"${t._1} must be a corridor")
    }
    // channel states are genuine crossroads on this corpus
    got.filter(t => Set("START", "click", "error", "signup", "view")(t._1))
      .foreach(t => assert(t._4 > 0L, s"${t._1} entropy"))
    // the rate is consistent with Σ π_s·H_s at the quantization grid
    val rate = got.head._5
    assert(got.forall(_._5 === rate), "rate is a single chain-level constant")
    val approx = got.map(t => (t._3.toDouble / 1e9) * (t._4.toDouble / 1e6)).sum
    assert(math.abs(approx - rate.toDouble / 1e6) < 1e-4, "rate ≈ Σ π·H")
    // outgoing mass: every journey that enters a terminal leaves it again
    // (the recurrent construction), so n_out(CONV)+n_out(NULL) equals the
    // journey count = n_out(START)
    val byName = got.map(t => t._1 -> t._2).toMap
    assert(byName("CONV") + byName("NULL") === byName("START"))
  }

  test("G-test and Cramér's V replay from the contingency cells") {
    val Array(row) = Events.gTest(spark, sf).collect()
    val (n, r, c, nCells, g, chi2, v) = (row.getLong(0), row.getLong(1),
      row.getLong(2), row.getLong(3), row.getLong(4), row.getLong(5), row.getLong(6))
    val cells = graft.Tables.events(spark, sf)
      .select(col("event_type"),
        expr("floor(unix_micros(ts) / 86400000000) % 7").cast("long").as("dow"))
      .collect().map(rr => (rr.getString(0), rr.getLong(1)))
      .groupBy(identity).view.mapValues(_.size.toLong).toMap
    val cx = cells.groupBy(_._1._1).view.mapValues(_.values.sum).toMap
    val cy = cells.groupBy(_._1._2).view.mapValues(_.values.sum).toMap
    val nAll = cells.values.sum
    assert((n, r, c, nCells) ===
      ((nAll, cx.size.toLong, cy.size.toLong, cells.size.toLong)))
    assert(nCells <= r * c)
    var (gS, xS) = (0L, 0L)
    cells.foreach { case ((t, d), o) =>
      gS += math.floor(o.toDouble *
        math.log(o.toDouble * nAll.toDouble / (cx(t).toDouble * cy(d).toDouble))
        * 1e6 + 0.5).toLong
      val num = nAll.toDouble * o.toDouble - cx(t).toDouble * cy(d).toDouble
      xS += math.floor(num * num /
        (nAll.toDouble * cx(t).toDouble * cy(d).toDouble) * 1e6 + 0.5).toLong
    }
    assert(g === gS * 2L, "G statistic replay")
    assert(chi2 === xS, "chi-square replay")
    assert(v === math.floor(math.sqrt(chi2.toDouble / 1e6 /
      (nAll.toDouble * math.min(r - 1, c - 1).toDouble)) * 1e6 + 0.5).toLong)
    // both statistics agree asymptotically and the effect size is a
    // proper fraction
    assert(g > 0L && chi2 > 0L && v >= 0L && v <= 1000000L)
    assert(math.abs(g - chi2).toDouble / chi2.toDouble < 0.25,
      "G and chi-square should be close on a well-populated table")
  }

  test("Zipf slope replays from ranked unigrams and is nonpositive") {
    val Array(row) = TextAnalysis.zipfSlope(spark, sf).collect()
    val counts = graft.Tables.documents(spark, sf).select(col("text")).collect()
      .flatMap(_.getString(0).split(" ", -1))
      .groupBy(identity).view.mapValues(_.length.toLong).toSeq
      .sortBy { case (tok, nT) => (-nT, tok) }
    val pts = counts.zipWithIndex.map { case ((_, nT), i) =>
      (math.floor(math.log((i + 1).toDouble) * 1e9 + 0.5).toLong,
        math.floor(math.log(nT.toDouble) * 1e9 + 0.5).toLong)
    }
    val nn = pts.length.toLong
    val sx = pts.map(p => BigInt(p._1)).sum
    val sy = pts.map(p => BigInt(p._2)).sum
    val sxx = pts.map(p => BigInt(p._1) * BigInt(p._1)).sum
    val syy = pts.map(p => BigInt(p._2) * BigInt(p._2)).sum
    val sxy = pts.map(p => BigInt(p._1) * BigInt(p._2)).sum
    val num = (BigInt(nn) * sxy - sx * sy).toDouble
    val denX = (BigInt(nn) * sxx - sx * sx).toDouble
    val denY = (BigInt(nn) * syy - sy * sy).toDouble
    assert(row.getLong(0) === nn)
    val slope = num / denX
    assert(row.getLong(1) === math.floor(slope * 1e6 + 0.5).toLong, "slope")
    assert(row.getLong(2) === math.floor(
      (sy.toDouble - slope * sx.toDouble) / nn.toDouble / 1e9 * 1e6 + 0.5).toLong)
    assert(row.getLong(3) === math.floor(num * num / (denX * denY) * 1e6 + 0.5).toLong)
    // frequencies are nonincreasing in rank, so the fitted slope cannot
    // be positive; r² is a proper fraction
    assert(row.getLong(1) <= 0L)
    assert(row.getLong(3) >= 0L && row.getLong(3) <= 1000000L)
  }

  test("term burstiness replays the zero-inclusive dispersion from presence rows") {
    val got = TextAnalysis.termBurstiness(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    val docs = graft.Tables.documents(spark, sf).select(col("text")).collect()
      .map(_.getString(0).split(" ", -1))
    val nDocs = docs.length.toLong
    val perDoc = docs.zipWithIndex.flatMap { case (toks, d) =>
      toks.groupBy(identity).map { case (t, g) => (t, d, g.length.toLong) }
    }
    val stats = perDoc.groupBy(_._1).view.mapValues { g =>
      (g.size.toLong, g.map(_._3).sum, g.map(x => x._3 * x._3).sum)
    }.toMap.filter(_._2._2 >= 50L)
    val exp = stats.toSeq.map { case (t, (np, tot, sq)) =>
      // zero-inclusive dispersion from presence sums alone: the algebraic
      // collapse the operator relies on, here recomputed the LONG way
      // with explicit zeros to prove the collapse
      val cs = Array.fill(nDocs.toInt)(0L)
      perDoc.filter(_._1 == t).foreach { case (_, d, c) => cs(d) = c }
      val mu = cs.sum.toDouble / nDocs
      val varZ = cs.map(c => (c - mu) * (c - mu)).sum / nDocs
      val dispLong = varZ / mu
      val dispAlg = (nDocs * sq - tot * tot).toDouble / (nDocs * tot).toDouble
      assert(math.abs(dispLong - dispAlg) < 1e-9, s"$t: algebraic collapse broke")
      (t, np, tot, math.floor(dispAlg * 1e6 + 0.5).toLong)
    }.sortBy { case (t, _, _, d) => (-d, t) }.take(20)
      .zipWithIndex.map { case ((t, np, tot, d), i) => (t, np, tot, d, i + 1L) }
    assert(got.toSeq === exp, "burstiness top-20 mismatch")
    // dispersion of a clumped token exceeds 1 (Poisson baseline) for
    // the top of the ranking on any non-degenerate corpus
    assert(got.head._4 > 1000000L)
  }

  test("Wasserstein drift replays the CDF-gap integral per event type") {
    val got = Events.wassersteinDrift(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))
    val raw = graft.Tables.events(spark, sf)
      .select(col("event_type"),
        expr("CAST(floor(unix_micros(ts) / 86400000000.0) AS LONG)").as("day"),
        expr("CAST(floor(value * 100 + 0.5) AS LONG)").as("v"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val lo = raw.map(_._2).min
    val hi = raw.map(_._2).max
    val cut = lo + (hi - lo) / 2
    val exp = raw.groupBy(_._1).toSeq.sortBy(_._1).map { case (t, rows) =>
      val grid = rows.map(_._3).distinct.sorted
      val n1 = grid.map(v => rows.count(r => r._3 == v && r._2 < cut).toLong)
      val n2 = grid.map(v => rows.count(r => r._3 == v && r._2 >= cut).toLong)
      val (t1, t2) = (n1.sum, n2.sum)
      val cum1 = n1.scanLeft(0L)(_ + _).tail
      val cum2 = n2.scanLeft(0L)(_ + _).tail
      val dfE6 = grid.indices.map { i =>
        math.floor(math.abs(cum1(i) * t2 - cum2(i) * t1).toDouble /
          (t1 * t2).toDouble * 1e6 + 0.5).toLong
      }
      val termE6 = grid.indices.map { i =>
        if (i == grid.length - 1) 0L
        else math.floor(math.abs(cum1(i) * t2 - cum2(i) * t1).toDouble /
          (t1 * t2).toDouble * (grid(i + 1) - grid(i)).toDouble / 100 *
          1e6 + 0.5).toLong
      }
      (t, grid.length.toLong, t1, t2, termE6.sum, dfE6.max)
    }
    assert(got.toSeq === exp, "W1/KS replay mismatch")
    // KS is a proper fraction of the CDF scale; W1 of any event type is
    // bounded by the value range (Kantorovich duality with 1-Lipschitz f)
    val range = (raw.map(_._3).max - raw.map(_._3).min).toDouble / 100
    got.foreach { g =>
      assert(g._6 <= 1000000L, s"${g._1}: KS > 1")
      assert(g._5.toDouble / 1e6 <= range + 1e-6, s"${g._1}: W1 > value range")
    }
  }

  test("conversion lags recompute from the pair join and respect the 6h window") {
    val rows = Events.conversionLag(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(rows.nonEmpty)
    val ev = graft.Tables.events(spark, sf)
      .select(col("user_id"), col("event_type"), unix_micros(col("ts")).as("us"))
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    val views = ev.filter(_._2 == "view")
    val purchases = ev.filter(_._2 == "purchase").groupBy(_._1).view
      .mapValues(_.map(_._3).sorted.toSeq).toMap
    val lags = views.flatMap { case (uid, _, vus) =>
      purchases.getOrElse(uid, Seq.empty[Long])
        .filter(p => p >= vus && p <= vus + 21600000000L)
        .map(p => ((vus / 3600000000L) % 24, p - vus))
    }
    val byHour = lags.groupBy(_._1).view.mapValues(_.map(_._2).sorted.toIndexedSeq).toMap
    assert(rows.map(_._1).toSet === byHour.keySet)
    def pct(v: IndexedSeq[Long], q: Double): Long = {
      val pos = q * (v.length - 1)
      val (i, f) = (pos.toInt, pos - pos.toInt)
      val interp = if (i + 1 < v.length) v(i) + f * (v(i + 1) - v(i)) else v(i).toDouble
      math.floor(interp + 0.5).toLong
    }
    rows.foreach { case (h, n, p50, p90, mean) =>
      val l = byHour(h)
      assert(n === l.length.toLong, s"hour $h pair count")
      assert(p50 === pct(l, 0.5), s"hour $h p50")
      assert(p90 === pct(l, 0.9), s"hour $h p90")
      assert(mean === l.sum / l.length, s"hour $h mean")
      assert(p50 <= p90 && p90 <= 21600000000L, s"hour $h ordering/window bound")
    }
  }

  test("PSI terms are nonnegative, recompute from raw counts, and detect planted drift") {
    val rows = Events.psiDrift(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(rows.map(_._1).toSeq === (0L to 9L))
    // recompute the binned period counts driver-side
    val ev = graft.Tables.events(spark, sf)
      .select(col("ts"), col("value")).collect()
      .map(r => (r.getTimestamp(0).getTime / 86400000L,
        math.floor(r.getDouble(1) * 100d + 0.5d).toLong))
    val (lo, hi) = (ev.map(_._1).min, ev.map(_._1).max)
    val maxE2 = ev.map(_._2).max
    val mid = lo + (hi - lo) / 2
    val binned = ev.map { case (day, v) =>
      (if (day < mid) "p1" else "p2", math.min(9L, v * 10 / (maxE2 + 1))) }
    val c = binned.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val t1 = binned.count(_._1 == "p1").toDouble
    val t2 = binned.count(_._1 == "p2").toDouble
    rows.foreach { case (bin, n1, n2, term) =>
      assert(n1 === c.getOrElse(("p1", bin), 0L), s"bin $bin n1")
      assert(n2 === c.getOrElse(("p2", bin), 0L), s"bin $bin n2")
      val p1 = (n1 + 1) / (t1 + 10); val p2 = (n2 + 1) / (t2 + 10)
      assert(term === math.floor((p1 - p2) * math.log(p1 / p2) * 1e6 + 0.5).toLong,
        s"bin $bin term")
      // (p1−p2) and ln(p1/p2) always share sign — every PSI term ≥ 0
      assert(term >= 0L, s"bin $bin negative PSI term")
    }
    // sensitivity: shifting every p2 value up one bin must raise total PSI
    val shifted = binned.map { case (p, b) => (p, if (p == "p2") math.min(9L, b + 1) else b) }
    val cs = shifted.groupBy(identity).view.mapValues(_.size.toLong).toMap
    def psi(counts: Map[(String, Long), Long]): Double =
      (0L to 9L).map { b =>
        val p1 = (counts.getOrElse(("p1", b), 0L) + 1) / (t1 + 10)
        val p2 = (counts.getOrElse(("p2", b), 0L) + 1) / (t2 + 10)
        (p1 - p2) * math.log(p1 / p2)
      }.sum
    assert(psi(cs) > psi(c), "planted one-bin shift did not raise PSI")
  }

  test("daily trend slopes equal least squares recomputed from the dense grid") {
    val grid = Events.gapFillOf(graft.Tables.events(spark, sf)).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val lo = grid.map(_._2).min
    val got = Events.dailyTrend(spark, sf).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    grid.groupBy(_._1).foreach { case (tpe, rows) =>
      val xs = rows.map(_._2 - lo); val ys = rows.map(_._3)
      val n = rows.length.toLong
      val (sx, sy) = (xs.sum, ys.sum)
      val sxy = xs.zip(ys).map { case (x, y) => x * y }.sum
      val sxx = xs.map(x => x * x).sum
      val slope = math.floor(10000d * (n * sxy - sx * sy) / (n * sxx - sx * sx) + 0.5d).toLong
      val (nDays, slopeE4, meanE4) = got(tpe)
      assert(nDays === n)
      assert(slopeE4 === slope, s"$tpe: slope $slopeE4 != recomputed $slope")
      assert(meanE4 === 10000 * sy / n)
    }
    // slopes must not all agree in sign on this fixture (negative flooring
    // is exercised, the DIV-vs-floor trap x119 documents)
    assert(got.values.map(_._2).exists(_ < 0) && got.values.map(_._2).exists(_ > 0))
  }

  test("time-weighted average matches a sequential recomputation and stays in value range") {
    val rows = Events.timeWeightedAvg(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val ev = graft.Tables.events(spark, sf)
      .select(col("event_type"), col("event_id"), unix_micros(col("ts")),
        floor(col("value") * 100d + 0.5d).cast("long"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    ev.groupBy(_._1).foreach { case (tpe, grp) =>
      val seq = grp.sortBy(t => (t._3, t._2))
      val pairs = seq.zip(seq.drop(1))
      val totalDur = pairs.map { case (a, b) => b._3 - a._3 }.sum
      val wsum = pairs.map { case (a, b) => a._4 * (b._3 - a._3) }.sum
      val got = rows.find(_._1 == tpe).get
      assert(got._2 === pairs.length, s"$tpe intervals")
      assert(got._3 === totalDur, s"$tpe duration")
      assert(got._4 === wsum / totalDur, s"$tpe TWA")
      // TWA is a convex combination of observed values
      val vs = seq.dropRight(1).map(_._4)
      assert(got._4 >= vs.min && got._4 <= vs.max)
    }
  }

  test("value histogram conserves mass over a dense ten-bin grid") {
    val rows = Events.valueHistogram(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val types = rows.map(_._1).distinct
    // dense grid: every (type, bin) cell present, bins exactly 0..9
    assert(rows.length === types.length * 10)
    types.foreach { t =>
      assert(rows.filter(_._1 == t).map(_._2).sorted.toSeq === (0L to 9L))
    }
    // mass conservation: every event lands in exactly one bin
    assert(rows.map(_._3).sum === graft.Tables.events(spark, sf).count())
    // the top bin is populated (the max value itself lands there via the
    // least(9, ·) clamp — the off-by-one the (max+1) denominator guards)
    assert(rows.filter(_._2 == 9L).map(_._3).sum > 0L)
  }

  test("funnel stages shrink monotonically and stage 1 counts view users exactly") {
    val rows = Events.funnel(spark, sf).collect()
    assert(rows.map(_.getLong(0)).toSeq === Seq(1L, 2L, 3L))
    val counts = rows.map(_.getLong(2))
    assert(counts(0) >= counts(1) && counts(1) >= counts(2),
      s"funnel widened: ${counts.toSeq}")
    val viewUsers = graft.Tables.events(spark, sf)
      .filter(col("event_type") === "view")
      .select("user_id").distinct().count()
    assert(counts(0) === viewUsers)
  }

  test("retention offset-0 diagonal equals each cohort's size") {
    val rows = Events.retentionCohorts(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // every user appears in their own cohort on day 0, so the offset-0 row
    // carries the full cohort; later offsets can only shrink or vanish
    val byCohort = rows.groupBy(_._1)
    byCohort.foreach { case (cohort, rs) =>
      val day0 = rs.find(_._2 == 0L)
      assert(day0.isDefined, s"cohort $cohort missing its day-0 row")
      assert(rs.forall(_._3 <= day0.get._3),
        s"cohort $cohort has an offset larger than its day-0 size")
    }
    val totalUsers = graft.Tables.events(spark, sf).select("user_id").distinct().count()
    assert(byCohort.values.map(_.find(_._2 == 0L).get._3).sum === totalUsers)
  }

  test("semantic dedup removes only genuine near-dups and catches >= 50% of them") {
    val e = graft.Tables.embeddings(spark, sf)
    val all = e.select("vec_id").collect().map(_.getLong(0)).toSet
    // loser = the higher vec_id of an exact >= 0.4 cosine pair (the same
    // rounding discipline as semanticDedup's threshold compare)
    val exactLosers = Dedup.exactNearDup(e, 0.4).collect().map(_.getLong(1)).toSet
    val kept = Similarity.semanticDedup(spark, sf)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    val removed = all -- kept
    // precision 1: nothing is removed that the exact all-pairs baseline
    // wouldn't also remove (intra-cluster pairs are a subset of all pairs)
    assert(removed.subsetOf(exactLosers), s"false removals: ${removed -- exactLosers}")
    // recall: cross-cluster pairs are invisible by design, but co-located
    // near-dups dominate (near-dups share a nearest centroid), so at
    // least half the exact losers must be caught
    assert(exactLosers.nonEmpty, "fixture has no planted near-dups")
    val recall = removed.size.toDouble / exactLosers.size
    assert(recall >= 0.5, s"recall=$recall")
  }

  test("brute-force topk excludes self and emits exactly k ranks per query") {
    val df = Similarity.bruteForceTopK(spark, sf, nQueries = 3, k = 4).cache()
    assert(df.filter(col("q_id") === col("n_id")).count() === 0)
    val perQuery = df.groupBy("q_id").count().collect()
    assert(perQuery.forall(_.getLong(1) === 4))
  }

  test("banded near-dup laws (precision 1, planted recall) hold at two band configurations") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val base = (0L until 40L).map(i => (i, Array.fill(64)((rnd.nextDouble() * 2 - 1).toFloat)))
    // 3 sign flips dirty at most 3 bands, < nBands in both configurations,
    // so the pigeonhole guarantee applies to each
    val planted = base.take(10).map { case (i, v) =>
      val w = v.clone()
      Seq(5, 20, 40).foreach(d => w(d) = -w(d))
      (i + 1000L, w)
    }
    val e = (base ++ planted).toDF("vec_id", "embedding")
    val exact = Dedup.exactNearDup(e, 0.4).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    for ((nb, bb) <- Seq((8, 8), (4, 16))) {
      val banded = Dedup.bandedNearDup(e, 0.4, nb, bb).collect()
        .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
      banded.foreach { case (k, c) =>
        assert(exact.get(k).contains(c), s"false positive $k at ($nb,$bb)") }
      base.take(10).foreach { case (i, _) =>
        assert(banded.contains((i, i + 1000L)), s"missed planted pair ($i,${i + 1000L}) at ($nb,$bb)") }
    }
  }

  test("LSH band derivation tracks corpus size and embedding dimension") {
    assert(Dedup.deriveBands(50, 64) === ((8, 8)))
    assert(Dedup.deriveBands(500, 64) === ((7, 9)))
    assert(Dedup.deriveBands(2000, 64) === ((5, 11)))
    // huge corpus, narrow vectors: widest keys the dimension affords
    assert(Dedup.deriveBands(1L << 30, 64) === ((2, 24)))
    // huge corpus, wide vectors: full key width AND the full band budget
    assert(Dedup.deriveBands(1L << 30, 1024) === ((8, 24)))
  }

  test("simhash pairs equal brute-force Hamming under both the 4- and 8-band schemes") {
    import graft.functions.{functions => gf}
    // independent oracle: all-pairs Hamming over the same signatures —
    // the combination-banding guarantee says candidates cover EVERY pair
    // at Hamming <= h, so both band configs must return exactly this set
    val sigs = Tables.documents(spark, sf)
      .withColumn("toks", split(col("text"), " "))
      .filter(size(col("toks")) >= 3)
      .withColumn("shingles", array_distinct(transform(
        sequence(lit(0), size(col("toks")) - 3),
        i => concat_ws(" ", slice(col("toks"), i + 1, lit(3))))))
      .select(col("doc_id"), gf.simhash64(col("shingles")).as("sig"))
    val a = sigs.toDF("a", "sa")
    val b = sigs.toDF("b", "sb")
    val exact = a.crossJoin(b).filter(col("a") < col("b"))
      .withColumn("hamming", gf.hamming64(col("sa"), col("sb")))
      .filter(col("hamming") <= 3)
      .select("a", "b", "hamming")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    for (nb <- Seq(4, 8)) {
      val got = Dedup.simhashPairs(spark, sf, 3, nb)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
      assert(got === exact, s"band scheme $nb diverged from brute force")
    }
  }

  test("connected components converge in logarithmic rounds on a deep chain") {
    import spark.implicits._
    val L = 512L
    val pairs = (0L until L).map(i => (i, i + 1)).toDF("a", "b")
    val (labels, rounds) = Dedup.connectedComponentsWithRounds(pairs)
    val got = labels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    labels.unpersist()
    assert(got.size === L + 1 && got.values.forall(_ == 0L))
    // simulated: rounds = log2(L) + 1; assert a small-constant log bound —
    // plain propagation would need L rounds here
    val bound = (64 - java.lang.Long.numberOfLeadingZeros(L)) + 4
    assert(rounds <= bound, s"$rounds rounds for a $L-chain (bound $bound)")
  }

  test("IVF cluster assignment plans as a partial aggregate, never a window") {
    import spark.implicits._
    // lock the round-4 rewrite: the argmax must be a map-side-partial
    // aggregate over payload-free rows — a Window here would shuffle the
    // full scored cross product with both vector payloads attached
    val e = Tables.embeddings(spark, sf)
    val qv = Similarity.quantizedVecs(e)
    val cent = qv.filter(col("vec_id") % 50 === 0)
      .select(col("vec_id").as("c_id"), col("q").as("sv"))
    val assigned = Similarity.assignClusters(qv, cent)
    val plan = assigned.queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), "assignment regressed to a window formulation")
    assert(plan.contains("partial_max_by") || plan.contains("partial"),
      "assignment must partial-aggregate map-side before its exchange")
    // and the output is one row per vector
    assert(assigned.count() === e.count())
  }

  test("simhash rejects the degenerate single-band configuration") {
    // bands = 1 passes 64 % bands == 0 but makes the band mask
    // (1L << 64) - 1 == 0 under shift-mod-64: every doc would share band
    // key 0 and the candidate join would silently be all-pairs
    intercept[IllegalArgumentException] {
      Dedup.simhashPairs(spark, sf, 3, nBands = 1)
    }
  }

  test("connected components release loop-state blocks on mid-round failure") {
    import spark.implicits._
    // the hook throws AFTER round 1's propagate frame is persisted AND its
    // blocks materialized — the exact window where only the catch can
    // release it. Round 1 so no localCheckpoint exists yet (checkpoint
    // blocks are reclaimed by GC, not unpersist, and would pollute the
    // assertion); edges/labels unpersist non-blocking, so poll until the
    // storage empties — a missing in-flight unpersist never empties
    def materializedCachedRdds: Set[Int] =
      spark.sparkContext.getRDDStorageInfo.filter(_.numCachedPartitions > 0)
        .map(_.id).toSet
    val before = materializedCachedRdds
    val pairs = (0L until 32L).map(i => (i, i + 1)).toDF("a", "b")
    val e = intercept[IllegalStateException] {
      Dedup.connectedComponentsWithRounds(pairs, injectFailureAtRound = 1)
    }
    assert(e.getMessage.contains("injected"))
    val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
    var leaked = materializedCachedRdds -- before
    while (leaked.nonEmpty && System.nanoTime() < deadline) {
      Thread.sleep(200)
      leaked = materializedCachedRdds -- before
    }
    assert(leaked.isEmpty, s"leaked cached RDD blocks after mid-round failure: $leaked")
  }

  test("interpolated NLL stays within the mixing penalty of the pure bigram model") {
    val interp = TextAnalysis.interpolatedNll(spark, sf).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val pure = TextAnalysis.bigramNll(spark, sf).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(interp.keySet === pure.keySet)
    interp.foreach { case (doc, (nBg, nll)) =>
      val (nBgP, nllP) = pure(doc)
      assert(nBg === nBgP, s"doc $doc bigram counts diverged")
      // mix ≥ λ·p_bi ⇒ per-pair cost ≤ pure cost + ln(1/0.7)·1000 ≈ 357
      // milli-nats (+1 floor slack) — the λ-mixing penalty is the WORST
      // the interpolation can do against the model it smooths
      assert(nll <= nllP + 358L * nBg,
        s"doc $doc interpolated NLL $nll above bigram $nllP + penalty")
    }
    // and the smoothing must actually help somewhere at this fixture
    assert(interp.exists { case (doc, (_, nll)) => nll < pure(doc)._2 },
      "interpolation never beat the pure bigram model — law is vacuous")
  }

  test("IDF-weighted rescoring equals the local recomputation over shingle sets") {
    val sets = Tables.documents(spark, sf).select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1).split(" "))
      .filter(_._2.length >= 3)
      .map { case (id, t) =>
        id -> (0 to t.length - 3).map(i => t.slice(i, i + 3).mkString(" ")).toSet }
      .toMap
    val n = sets.size
    val dfc = sets.values.flatten.groupBy(identity).view.mapValues(_.size).toMap
    def idf(s: String) = math.floor(math.log(n.toDouble / dfc(s)) * 1000 + 0.5).toLong
    val rows = graft.ext.Dedup.idfWeightedPairs(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (a, b, w) = (r.getLong(0), r.getLong(1), r.getLong(3))
      val inter = (sets(a) & sets(b)).toSeq.map(idf).sum
      val union = (sets(a) | sets(b)).toSeq.map(idf).sum
      assert(w === inter * 10000 / union, s"pair ($a,$b) weighted score diverged")
    }
    // the weighting must bite somewhere: at least one pair's weighted
    // score differs from its unweighted Jaccard in basis points
    assert(rows.exists(r => math.round(r.getDouble(2) * 10000) != r.getLong(3)),
      "idf weights never moved a score — law is vacuous")
  }

  test("cluster representative selection keeps the max-token member, ties to min id") {
    val toks = Tables.documents(spark, sf)
      .select(col("doc_id"), size(split(col("text"), " ")).cast("long"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val byCluster = Dedup.dupClusters(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .groupBy(_._2).view.mapValues(_.map(_._1).toSeq).toMap
    val expected = byCluster.map { case (rep, members) =>
      val kept = members.maxBy(id => (toks(id), -id))
      rep -> (kept, toks(kept), members.size.toLong)
    }
    val got = Dedup.clusterBestReps(spark, sf).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(got === expected)
    // the policy must differ from min-id labeling somewhere at this
    // fixture, or the test proves nothing beyond x63
    assert(expected.exists { case (rep, (kept, _, _)) => kept != rep },
      "every cluster kept its min-id member — quality policy unexercised")
  }

  test("connected components resolve chains and keep separate components apart") {
    import spark.implicits._
    // chain 1-2-3-4-5 (diameter 4, needs multiple propagation rounds),
    // a disjoint pair 10-11, and a triangle 20-21-22
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L),
      (10L, 11L), (20L, 21L), (21L, 22L), (20L, 22L)).toDF("a", "b")
    val labels = Dedup.connectedComponents(pairs)
    val got = labels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    labels.unpersist()
    assert(got === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 5L -> 1L,
      10L -> 10L, 11L -> 10L, 20L -> 20L, 21L -> 20L, 22L -> 20L))
  }

  test("fixed-point label centroids equal the float mean within quantization error") {
    import org.apache.spark.sql.functions.{avg, posexplode}
    val fixed = Similarity.labelCentroids(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> (r.getLong(3).toDouble / (1e6 * r.getLong(2))))
      .toMap
    val direct = Tables.embeddings(spark, sf)
      .select(col("label").cast("long").as("label"), posexplode(col("embedding")))
      .groupBy(col("label"), col("pos").cast("long").as("dim_i"))
      .agg(avg(col("col")).as("m")).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(fixed.keySet === direct.keySet && fixed.nonEmpty)
    fixed.foreach { case (k, v) => assert(math.abs(v - direct(k)) < 1e-6, s"$k") }
  }

  test("empty inputs: session windows and submission degrade to empty/None, not errors") {
    import spark.implicits._
    val noEvents = Seq.empty[(Long, java.sql.Timestamp, Double)]
      .toDF("user_id", "ts", "value")
    assert(Events.sessionsOf(noEvents).count() === 0)
    val testOrders = Seq((100L, 2L)).toDF("orderID", "eval_set")
    val noScores = Seq.empty[(Long, Long, Double)].toDF("orderID", "productID", "score")
    val sub = graft.insta.Insta.submission(testOrders, noScores, "score").collect()
    assert(sub.length === 1 && sub(0).getString(1) === "None")
  }

  test("media decode stub is deterministic and schema-stable") {
    val a = Multimodal.decodeMeta(spark, sf).collect().sortBy(_.doc_id)
    val b = Multimodal.decodeMeta(spark, sf).collect().sortBy(_.doc_id)
    assert(a.toSeq === b.toSeq)
    assert(a.forall(m => m.width >= 1 && m.width <= 64))
    assert(a.forall(m => m.mean_byte >= 0.0 && m.mean_byte <= 255.0))
  }

  test("binaryFile ingestion decodes to the same rows as the in-row PNG path") {
    val viaFiles = Multimodal.binaryFileIngest(spark, sf)
      .collect().map(_.toString).sorted
    val inRow = Multimodal.decodeMetaWithPng(spark, sf)
      .filter(_.media_type == "image").toDF().orderBy("doc_id")
      .collect().map(_.toString).sorted
    assert(viaFiles.nonEmpty && (viaFiles.toSeq === inRow.toSeq),
      "file-tree ingest and in-row decode must agree byte-for-byte")
  }

  test("real PNG decode: planted bytes round-trip exactly through javax.imageio") {
    import spark.implicits._
    // a 3x2 grayscale PNG with known pixel values: src length 6 gives
    // w = 6%64+1 = 7, h = 6%48+1 = 7 — use explicit bytes whose tiled
    // grayscale mean is computable by hand
    val src = Array[Byte](0, 10, 20, 30, 40, 50)
    val png = Multimodal.Codec.encodePng(src)
    assert((png(0) & 0xff) == 0x89 && png(1) == 'P', "planted payload must be a real PNG")
    val rows = Seq(
      Multimodal.MediaRow(1L, "image", png),           // real codec path
      Multimodal.MediaRow(2L, "image", src),           // image-typed but not PNG → stub
      Multimodal.MediaRow(3L, "audio", src)            // stub path
    ).toDS()
    val out = Multimodal.decodeRows(rows).collect().sortBy(_.doc_id)
    val real = out(0)
    // geometry from the REAL raster (= derived geometry by construction)
    assert(real.width === 7 && real.height === 7 && real.n_frames === 1)
    // pixels tile src cyclically over 49 samples; PNG is lossless so the
    // decoded mean is the exact tiled mean
    val tiled = (0 until 49).map(i => src(i % 6) & 0xff)
    val expectedMean = math.rint(tiled.sum.toDouble / 49 * 10000) / 10000
    assert(real.mean_byte === expectedMean)
    assert(real.n_bytes === png.length.toLong)
    // non-PNG payloads keep the deterministic stub geometry
    assert(out(1).width === 1 + src.length % 64 && out(2).n_frames === 1 + src.length % 16)
    // and the full planted-PNG query path is run-deterministic
    val q1 = Multimodal.decodeMetaWithPng(spark, sf).collect().sortBy(_.doc_id)
    val q2 = Multimodal.decodeMetaWithPng(spark, sf).collect().sortBy(_.doc_id)
    assert(q1.toSeq === q2.toSeq)
    assert(q1.exists(_.media_type == "image"))
  }

  test("cross-doc dedup keeps at most what intra-doc dedup keeps, and keeps every first occurrence") {
    val intra = graft.ops.Chunking.intraDocDedup(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val cross = graft.ops.Chunking.crossDocDedup(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // global first-occurrence is strictly stronger than per-doc
    // first-occurrence: every cross-kept chunk is also intra-kept
    cross.foreach { case (doc, n) => assert(n <= intra(doc), s"doc $doc") }
    // the corpus-wide kept total equals the number of DISTINCT chunks:
    // each distinct chunk survives exactly once, somewhere
    val distinctChunks = graft.ops.Chunking
      .crossDocDedup(spark, sf).agg(sum("n_kept")).head().getLong(0)
    val intraTotalDistinct = {
      import spark.implicits._
      val toks = split(col("text"), " ")
      val nChunks = floor((size(toks).cast("long") + 9) / 10)
      graft.Tables.documents(spark, sf)
        .select(explode(transform(sequence(lit(0L), nChunks - 1),
          i => concat_ws(" ", slice(toks, (i * 10 + 1).cast("int"), lit(10))))).as("chunk"))
        .select(countDistinct($"chunk")).head().getLong(0)
    }
    assert(distinctChunks === intraTotalDistinct)
  }

  test("cross-doc dedup plans as two aggregates with zero joins") {
    // the Lee-et-al. span remover must stay join-free: first-occurrence is
    // a content-keyed min aggregate (map-side partials absorb heavy-hitter
    // chunks), reassembly a doc-keyed aggregate — a join or window here
    // would move the chunk payload once per REPEAT instead of once per
    // distinct chunk
    val plan = graft.ops.Chunking.crossDocDedup(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Join"), "cross-doc dedup regressed to a join formulation")
    assert(!plan.contains("Window"), "cross-doc dedup regressed to a window formulation")
    assert(plan.contains("partial_min") || plan.contains("partial"),
      "first-occurrence selection must partial-aggregate map-side")
  }

  test("bloom delta admits a subset of the exact delta and never a true duplicate") {
    val exact = Dedup.corpusDelta(spark, sf).select("doc_id").collect()
      .map(_.getLong(0)).toSet
    val bloom = Dedup.bloomDelta(spark, sf).select("doc_id").collect()
      .map(_.getLong(0)).toSet
    // no false negatives in a bloom filter → a doc the bloom path admits
    // was definitely absent from the seen set, so bloom ⊆ exact and true
    // duplicates (excluded from exact) can never reappear
    assert(bloom.subsetOf(exact))
    // over-drop (bloom false positives on genuinely-new content) stays
    // within a generous multiple of the fpp budget; deterministic per
    // Spark's fixed-seed murmur3 sketch, so this is a stable check
    val arrivals = graft.Tables.documents(spark, sf)
      .filter(col("doc_id") % 10 === 0).count()
    assert((exact.size - bloom.size) <= math.max(5L, (arrivals * 0.05).toLong))
  }

  test("linear interpolation: exact two-point values on a planted-gap series, edges carry, observed rows untouched") {
    import spark.implicits._
    val rows = Seq(
      // key A: observed at days 10 (100¢) and 14 (300¢); 11–13 missing →
      // exact line: 150, 200, 250. Day 16 observed (40¢); 15 missing →
      // (300·1 + 40·1) DIV 2 = 170.
      ("A", 10L, 100L), ("A", 14L, 300L), ("A", 16L, 40L),
      // key B: single observation mid-span → every other day carries it
      // (leading days have no prev → carry next; trailing carry prev)
      ("B", 12L, 77L),
    ).toDF("priority", "day", "cents")
    val got = graft.ext.Events.interpolateDailyOf(rows).collect()
      .map(r => (r.getString(0), r.getLong(1)) -> (r.getLong(2), r.getLong(3))).toMap
    // grid spans the GLOBAL day range for every key
    assert(got.size === 2 * 7)
    assert(got(("A", 10L)) === (100L, 0L) && got(("A", 14L)) === (300L, 0L))
    assert(got(("A", 11L)) === (150L, 1L))
    assert(got(("A", 12L)) === (200L, 1L))
    assert(got(("A", 13L)) === (250L, 1L))
    assert(got(("A", 15L)) === (170L, 1L))
    assert(got(("A", 16L)) === (40L, 0L))
    (10L to 16L).foreach { d =>
      assert(got(("B", d)) === (77L, if (d == 12L) 0L else 1L), s"B day $d")
    }
  }

  test("covariance matrix: upper triangle, PSD diagonal, matches a two-pass double recomputation") {
    val rows = Similarity.covarianceMatrix(spark, sf).collect()
      .map(r => (r.getLong(0).toInt, r.getLong(1).toInt, r.getDouble(3)))
    val d = rows.map(_._2).max + 1
    assert(rows.length === d * (d + 1) / 2)
    assert(rows.forall { case (i, j, _) => i <= j })
    rows.filter(p => p._1 == p._2).foreach { case (i, _, v) =>
      assert(v >= 0.0, s"negative variance at dim $i")
    }
    // independent two-pass double covariance for a few entries — the
    // integer one-pass formula must agree to quantization error (e4
    // quantization → per-value error ≤ 5e-5, covariance error ~1e-4)
    val vecs = Tables.embeddings(spark, sf)
      .select("embedding").collect()
      .map(_.getSeq[Float](0).map(_.toDouble).toArray)
    val n = vecs.length
    val got = rows.map(p => (p._1, p._2) -> p._3).toMap
    for ((i, j) <- Seq((0, 0), (0, 1), (3, 7), (d - 1, d - 1))) {
      val mi = vecs.map(_(i)).sum / n
      val mj = vecs.map(_(j)).sum / n
      val cov = vecs.map(v => (v(i) - mi) * (v(j) - mj)).sum / n
      assert(math.abs(got((i, j)) - cov) < 2e-4,
        s"cov($i,$j): one-pass ${got((i, j))} vs two-pass $cov")
    }
  }

  test("principal components: unit norm, per-component residual, orthogonality, ordering, PSD floor, deterministic") {
    val pc = Similarity.principalComponent(spark, sf).collect()
      .map(r => (r.getLong(0).toInt, r.getLong(1).toInt, r.getDouble(2), r.getDouble(3)))
    val comps = pc.map(_._1).distinct.sorted
    assert(comps.toSeq === Seq(0, 1, 2), "top-3 components expected")
    val d = pc.count(_._1 == 0)
    val v = Array.ofDim[Double](comps.length, d)
    val lambda = Array.ofDim[Double](comps.length)
    pc.foreach { case (k, i, l, e) => v(k)(i) = l; lambda(k) = e }
    val c = Array.ofDim[Double](d, d)
    Similarity.covarianceMatrix(spark, sf).collect().foreach { r =>
      val (i, j, x) = (r.getLong(0).toInt, r.getLong(1).toInt, r.getDouble(3))
      c(i)(j) = x; c(j)(i) = x
    }
    comps.foreach { k =>
      assert(math.abs(v(k).map(x => x * x).sum - 1.0) < 1e-4,
        s"component $k loadings must be unit-norm")
      // ‖Cvₖ − λₖvₖ‖ ≤ 1e-3·λₖ against the ORIGINAL (undeflated) C:
      // power-iteration convergence + e6 loading rounding
      val cv = Array.tabulate(d)(i => (0 until d).map(j => c(i)(j) * v(k)(j)).sum)
      val resid = math.sqrt((0 until d).map(i => math.pow(cv(i) - lambda(k) * v(k)(i), 2)).sum)
      assert(resid <= 1e-3 * lambda(k), s"component $k residual $resid vs lambda ${lambda(k)}")
    }
    // deflation keeps the extracted pairs mutually orthogonal
    for (a <- comps; b <- comps if a < b) {
      val dot = (0 until d).map(i => v(a)(i) * v(b)(i)).sum
      assert(math.abs(dot) <= 1e-3, s"components $a,$b not orthogonal: $dot")
    }
    // eigenvalues come out in decreasing order, all non-negative (PSD)
    assert(lambda.toSeq === lambda.sorted.reverse.toSeq, "eigenvalues must descend")
    assert(lambda.forall(_ >= -1e-9), "PSD covariance has non-negative eigenvalues")
    // the top eigenvalue of a symmetric PSD matrix dominates every
    // diagonal entry (Rayleigh quotient at the basis vectors)
    val maxDiag = (0 until d).map(i => c(i)(i)).max
    assert(lambda(0) >= maxDiag - 1e-9, s"lambda ${lambda(0)} < max diagonal $maxDiag")
    val again = Similarity.principalComponent(spark, sf).collect()
      .map(r => (r.getLong(0).toInt, r.getLong(1).toInt, r.getDouble(2), r.getDouble(3)))
    assert(pc.toSeq === again.toSeq, "power iteration must be deterministic")
  }

  test("heaps curve: monotone, endpoint identities, sub-linear vocabulary growth") {
    val curve = TextAnalysis.heapsCurve(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(curve.nonEmpty)
    assert(curve.map(_._1).toSeq === curve.map(_._1).sorted.toSeq)
    // both cumulatives are non-decreasing, vocab never exceeds tokens
    curve.sliding(2).foreach {
      case Array((_, t1, v1), (_, t2, v2)) =>
        assert(t2 > t1 && v2 >= v1, "cumulatives must be monotone")
      case _ => ()
    }
    curve.foreach { case (d, t, v) => assert(v <= t, s"doc $d: vocab $v > tokens $t") }
    // endpoint identities against independent aggregates
    val toks = TextAnalysis.tokenStream(spark, sf)
    val total = toks.count()
    val distinct = toks.select("token").distinct().count()
    assert(curve.last._2 === total, "final cum_tokens = corpus token count")
    assert(curve.last._3 === distinct, "final cum_vocab = corpus vocabulary")
    // Heaps' law: the fitted log-log slope beta is sub-linear and positive
    val pts = curve.map { case (_, t, v) => (math.log(t.toDouble), math.log(v.toDouble)) }
    val n = pts.length.toDouble
    val (sx, sy) = (pts.map(_._1).sum, pts.map(_._2).sum)
    val sxy = pts.map(p => p._1 * p._2).sum
    val sxx = pts.map(p => p._1 * p._1).sum
    val beta = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    assert(beta > 0.0 && beta < 1.0, s"Heaps beta $beta outside (0, 1)")
  }

  test("containment pairs equal the brute-force directional set with the exact df-cap miss condition") {
    val got = Dedup.containmentPairs(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    val docs = Tables.documents(spark, sf).select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1).split(" ", -1).toSeq)
      .filter(_._2.length >= 3)
      .map { case (id, toks) =>
        id -> toks.sliding(3).map(_.mkString(" ")).toSeq.distinct.toSet
      }.toMap
    val dfCount = docs.values.flatten.groupBy(identity).view.mapValues(_.size).toMap
    val ids = docs.keys.toArray.sorted
    val brute = for {
      i <- ids.indices; j <- (i + 1) until ids.length
      (a, b) = (ids(i), ids(j))
      inter = (docs(a) & docs(b)).size.toLong
      if inter > 0
      hasSubcap = (docs(a) & docs(b)).exists(g => dfCount(g) <= 64)
      dir <- Seq(
        (a, b, docs(a).size.toLong), (b, a, docs(b).size.toLong))
      if inter * 10000L >= 8000L * dir._3
    } yield (dir._1, dir._2, inter, dir._3, inter * 1000000L / dir._3, hasSubcap)
    // every brute pair that shares at least one sub-cap shingle is emitted...
    val expected = brute.filter(_._6).map(t => (t._1, t._2, t._3, t._4, t._5)).toSet
    assert(got.toSet === expected, "containment set mismatch")
    // ...and the only legal misses are all-shingles-hot pairs (the x158 contract)
    brute.filterNot(_._6).foreach { t =>
      assert(!got.exists(g => g._1 == t._1 && g._2 == t._2),
        s"pair ${(t._1, t._2)} has no sub-cap evidence yet surfaced")
    }
    // the planted near-dups ("same prefix + one appended token") are caught:
    // some contained doc must sit at containment ~1
    assert(got.exists(_._5 >= 990000L), "no near-total containment found among planted dups")
  }

  test("BPE training matches an explicit greedy list-merge replay over 5 iterations") {
    val got = TextAnalysis.bpeTrain(spark, sf).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    assert(got.map(_._1).toSeq === (1L to 5L))
    // independent trainer: explicit symbol LISTS and an explicit greedy
    // left-to-right merge — validates the operator's replace()-on-string
    // rewrite (the overlap-rule risk) against first principles
    val words = scala.collection.mutable.Map.empty[List[String], Long]
    graft.Tables.documents(spark, sf).select("text").collect()
      .flatMap(_.getString(0).split(" ", -1))
      .foreach { w =>
        val key = w.toList.map(_.toString)
        words(key) = words.getOrElse(key, 0L) + 1L
      }
    var segs = words.toMap
    val replay = (1 to 5).map { step =>
      val weights = scala.collection.mutable.Map.empty[(String, String), Long]
      segs.foreach { case (s, c) =>
        s.sliding(2).foreach {
          case List(a, b) => weights((a, b)) = weights.getOrElse((a, b), 0L) + c
          case _ => ()
        }
      }
      val ((pa, pb), wt) = weights.toSeq.minBy { case ((a, b), wgt) => (-wgt, a + "  " + b) }
      def merge(s: List[String]): List[String] = {
        val out = scala.collection.mutable.ListBuffer.empty[String]
        var i = 0
        while (i < s.length) {
          if (i + 1 < s.length && s(i) == pa && s(i + 1) == pb) {
            out += (pa + pb); i += 2
          } else { out += s(i); i += 1 }
        }
        out.toList
      }
      segs = segs.groupBy { case (s, _) => merge(s) }
        .map { case (m, g) => m -> g.values.sum }
      (step.toLong, s"$pa+$pb", wt)
    }
    assert(got.toSeq === replay, "merge trajectory diverged from first-principles greedy")
  }

  test("MMR diversification matches an independent greedy replay and tops out at x20's pick") {
    val got = Similarity.mmrDiversify(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4)))
    val vecs = Tables.embeddings(spark, sf)
      .select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) {
        val x = a(i).toDouble; val y = b(i).toDouble
        dot += x * y; na += x * x; nb += y * y; i += 1
      }
      dot / (math.sqrt(na) * math.sqrt(nb))
    }
    (0L until 10L).foreach { qid =>
      val pool = vecs.keys.filter(_ != qid).map(n => (n, cos(vecs(qid), vecs(n))))
        .toArray.sortBy(t => (-t._2, t._1)).take(20)
      var sel = List.empty[Long]
      val replay = (1 to 5).map { pick =>
        val (bn, bs) = pool.filterNot(c => sel.contains(c._1)).map { case (n, rel) =>
          val ms = if (sel.isEmpty) 0.0 else sel.map(s => cos(vecs(n), vecs(s))).max
          (n, 0.7 * rel - (1 - 0.7) * ms)
        }.maxBy(t => (t._2, -t._1))
        sel = sel :+ bn
        (pick.toLong, bn, bs)
      }
      val mine = got.filter(_._1 == qid).sortBy(_._2)
      assert(mine.map(_._3).toSeq === replay.map(_._2), s"q$qid pick set/order")
      mine.zip(replay).foreach { case ((_, _, _, _, s1), (_, _, s2)) =>
        assert(math.abs(s1 - s2) < 1e-4 + 1e-9, s"q$qid score $s1 vs $s2")
      }
      // pick 1 is the plain relevance argmax — MMR's first step has no penalty
      assert(mine.head._3 === pool.head._1, s"q$qid first pick")
      // the selected set is duplicate-free
      assert(mine.map(_._3).distinct.length === mine.length)
    }
  }

  test("scree ladder: descending lambdas, exact trace, ratio identities, consistency with x149") {
    val rows = Similarity.screeReport(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(rows.map(_._1).toSeq === Seq(0L, 1L, 2L))
    val traceE6 = rows.head._3
    assert(rows.forall(_._3 == traceE6), "single shared trace")
    // trace equals the driver-side diagonal sum of the distributed covariance
    var tr = 0.0
    val diag = Similarity.covarianceMatrix(spark, sf)
      .filter(col("i") === col("j")).orderBy("i").collect()
    diag.foreach(r => tr += r.getDouble(3))
    assert(traceE6 === math.floor(tr * 1e6 + 0.5).toLong, "trace_e6 identity")
    // lambdas descend, are positive, and their ladder stays under the trace
    // (top-3 of a PSD spectrum can never exceed the full eigenvalue sum)
    val lams = rows.map(_._2)
    assert(lams.toSeq === lams.sorted.reverse.toSeq && lams.forall(_ > 0))
    assert(lams.sum <= traceE6, s"sum(lambda_e6) ${lams.sum} > trace $traceE6")
    // ratio columns are pure integer-arithmetic consequences of (lambda, trace)
    var cum = 0L
    rows.foreach { case (_, l, t, evr, cumEvr) =>
      cum += l
      assert(evr === math.floor(l.toDouble / t.toDouble * 1e6 + 0.5).toLong)
      assert(cumEvr === math.floor(cum.toDouble / t.toDouble * 1e6 + 0.5).toLong)
    }
    // e6-consistent with x149's rint-rounded eigval column (conventions
    // differ by at most one ulp of the e6 grid)
    val eig = Similarity.principalComponent(spark, sf).collect()
      .groupBy(_.getLong(0)).view.mapValues(_.head.getDouble(3)).toMap
    rows.foreach { case (k, l, _, _, _) =>
      assert(math.abs(l - math.rint(eig(k) * 1e6).toLong) <= 1L,
        s"component $k: scree $l vs x149 ${eig(k)}")
    }
  }

  /** The x160/x172/x173 daily frame via the operator's own quantization
    * kernel, densified driver-side over the global [lo, hi] span.
    */
  private def denseDaily(): (Map[String, Array[Long]], Long) = {
    val daily = graft.Tables.events(spark, sf)
      .select(col("event_type"),
        floor(unix_micros(col("ts")) / 86400000000L).cast("long").as("day"),
        floor(col("value") * 1000d + 0.5d).cast("long").as("v"))
      .groupBy("event_type", "day").agg(sum("v").as("rev"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val lo = daily.map(_._2).min
    val hi = daily.map(_._2).max
    val len = (hi - lo + 1).toInt
    val dense = daily.groupBy(_._1).map { case (t, rows) =>
      val arr = Array.fill(len)(0L)
      rows.foreach { case (_, d, v) => arr((d - lo).toInt) = v }
      t -> arr
    }
    (dense, lo)
  }

  test("revenue ACF matches the driver-side Pearson recomputation at every lag") {
    val got = Events.revenueAcf(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1)) ->
        (r.getLong(2), if (r.isNullAt(3)) None else Some(r.getLong(3))))
      .toMap
    assert(got.nonEmpty)
    val (dense, _) = denseDaily()
    val len = dense.values.head.length
    assert(got.size === dense.size * 7, "expected |types| x 7 (type, lag) rows")
    dense.foreach { case (t, xs) =>
      (1 to 7).foreach { lag =>
        val pairs = (0 until len - lag).map(i => (xs(i), xs(i + lag)))
        val n = pairs.length.toLong
        val sx = pairs.map(p => BigInt(p._1)).sum
        val sy = pairs.map(p => BigInt(p._2)).sum
        val sxy = pairs.map(p => BigInt(p._1) * p._2).sum
        val sxx = pairs.map(p => BigInt(p._1) * p._1).sum
        val syy = pairs.map(p => BigInt(p._2) * p._2).sum
        val a = (BigInt(n) * sxy - sx * sy).toDouble
        val b = (BigInt(n) * sxx - sx * sx).toDouble
        val c = (BigInt(n) * syy - sy * sy).toDouble
        val (gotN, gotR) = got((t, lag.toLong))
        assert(gotN === n, s"$t lag $lag n_pairs")
        if (b > 0 && c > 0) {
          val exp = math.floor(a / math.sqrt(b * c) * 1e6 + 0.5).toLong
          assert(gotR === Some(exp), s"$t lag $lag r_e6")
          // a correlation lives on [-1, 1]; e6 grid plus half-step rounding
          assert(math.abs(exp) <= 1000000L, s"$t lag $lag |r| > 1")
        } else assert(gotR.isEmpty, s"$t lag $lag: degenerate series must emit NULL")
      }
    }
  }

  test("CUSUM peak matches the driver-side scaled-statistic scan") {
    val got = Events.cusumShift(spark, sf).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .toMap
    val (dense, lo) = denseDaily()
    assert(got.keySet === dense.keySet)
    dense.foreach { case (t, xs) =>
      val n = xs.length.toLong
      val s = xs.map(BigInt(_)).sum
      var prefix = BigInt(0)
      val cs = xs.zipWithIndex.map { case (x, i) =>
        prefix += x
        (lo + i, BigInt(n) * prefix - BigInt(i + 1) * s)
      }
      // the scan ends at zero by construction: n·S − n·S
      assert(cs.last._2 === BigInt(0), s"$t: C_n != 0")
      val (peakDay, peakVal) = cs.minBy { case (d, c) => (-c.abs, d) }
      val (gotN, gotTot, gotDay, gotPeak) = got(t)
      assert(gotN === n, s"$t n_days")
      assert(BigInt(gotTot) === s, s"$t total")
      assert(gotDay === peakDay, s"$t peak day")
      assert(BigInt(gotPeak) === peakVal, s"$t peak value")
    }
  }

  test("top event paths match the driver-side sequence recomputation") {
    val got = Events.topEventPaths(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1)))
    assert(got.length <= 20 && got.nonEmpty)
    val ev = graft.Tables.events(spark, sf)
      .select(col("user_id"), col("event_type"),
        unix_micros(col("ts")).as("us"), col("event_id"))
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    val paths = ev.groupBy(e => (e._1, math.floorDiv(e._3, 86400000000L)))
      .map { case (_, rows) =>
        rows.sortBy(e => (e._3, e._4)).take(4).map(_._2).mkString(">")
      }
    val exp = paths.groupBy(identity).map { case (p, g) => (p, g.size.toLong) }
      .toSeq.sortBy { case (p, c) => (-c, p) }.take(20)
    assert(got.toSeq === exp, "top-20 path table mismatch")
    // determinism of the k-boundary: the 20th row strictly dominates the
    // 21st in (count desc, path asc) order whenever more paths exist
    assert(paths.toSet.size <= 20 || got.length === 20)
  }

  test("source vocabulary overlap matches the driver-side set recomputation") {
    val got = TextAnalysis.sourceOverlap(spark, sf).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6)))
      .toMap
    val docs = graft.Tables.documents(spark, sf)
      .select("source", "text").collect()
      .map(r => (r.getString(0), r.getString(1)))
    val vocab = docs.groupBy(_._1).map { case (s, rows) =>
      s -> rows.flatMap(_._2.split(" ", -1)).toSet
    }
    val sources = vocab.keys.toSeq.sorted
    val expPairs = for {
      a <- sources; b <- sources if a < b
    } yield (a, b)
    assert(got.keySet === expPairs.toSet, "pair grid incomplete")
    expPairs.foreach { case (a, b) =>
      val (na, nb, ni, j, c) = got((a, b))
      val inter = (vocab(a) intersect vocab(b)).size.toLong
      assert(na === vocab(a).size.toLong, s"$a size")
      assert(nb === vocab(b).size.toLong, s"$b size")
      assert(ni === inter, s"$a-$b intersection")
      assert(j === math.floor(inter.toDouble / (na + nb - inter).toDouble * 1e6 + 0.5).toLong)
      assert(c === math.floor(inter.toDouble / math.min(na, nb).toDouble * 1e6 + 0.5).toLong)
      // containment dominates Jaccard (min ≤ union), both live on [0, 1e6]
      assert(c >= j && c <= 1000000L && j >= 0L)
    }
  }

  test("activity streaks match the driver-side gaps-and-islands recomputation") {
    val got = Events.activityStreaks(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.nonEmpty)
    val pres = graft.Tables.events(spark, sf)
      .select(floor(unix_micros(col("ts")) / 86400000000L).cast("long").as("day"),
        col("user_id")).distinct().collect()
      .map(r => (r.getLong(1), r.getLong(0)))
    val exp = pres.groupBy(_._1).map { case (_, rows) =>
      val days = rows.map(_._2).sorted
      // longest run of consecutive days, computed directly (no islands
      // trick — the spec must not share the operator's formulation)
      var best = 1L; var cur = 1L
      days.sliding(2).foreach {
        case Array(a, b) =>
          cur = if (b == a + 1) cur + 1 else 1L
          best = math.max(best, cur)
        case _ =>
      }
      best
    }.groupBy(identity).map { case (len, g) => len -> g.size.toLong }
    assert(got === exp, "streak distribution mismatch")
    // the distribution covers every user exactly once
    assert(got.values.sum === pres.map(_._1).distinct.length.toLong)
  }

  test("rank normalization is an exact uniform transform with content-addressed ties") {
    val got = TextAnalysis.rankNormalize(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val docs = graft.Tables.documents(spark, sf)
      .select("doc_id", "n_chars").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(got.length === docs.length)
    val n = docs.length.toLong
    val rankOf = docs.sortBy(d => (d._2, d._1)).zipWithIndex
      .map { case ((id, _), i) => id -> (i + 1L) }.toMap
    got.foreach { case (id, chars, rnk, pct) =>
      assert(rnk === rankOf(id), s"doc $id rank")
      assert(pct === math.floor(
        (rnk - 1).toDouble / (n - 1).toDouble * 1e6 + 0.5).toLong, s"doc $id pct")
    }
    // the transform is a bijection onto the rank grid: every rank once,
    // percentiles spanning exactly [0, 1e6]
    assert(got.map(_._3).sorted.toSeq === (1L to n))
    assert(got.map(_._4).min === 0L && got.map(_._4).max === 1000000L)
  }

  test("dataset card recomputes every metric from the raw corpus") {
    val got = TextAnalysis.datasetCard(spark, sf).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val docs = graft.Tables.documents(spark, sf)
      .select("text", "source", "lang", "n_chars").collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2), r.getLong(3)))
    val nDocs = docs.length.toLong
    val tokens = docs.flatMap(_._1.split(" ", -1))
    val nTokens = tokens.length.toLong
    val vocab = tokens.toSet.size.toLong
    val nUnique = docs.map(_._1).toSet.size.toLong // md5 injective here
    val sumChars = docs.map(d => BigInt(d._4)).sum
    val exp = Map(
      "n_docs" -> nDocs,
      "n_sources" -> docs.map(_._2).toSet.size.toLong,
      "n_langs" -> docs.map(_._3).toSet.size.toLong,
      "n_tokens" -> nTokens,
      "vocab_size" -> vocab,
      "exact_dup_rate_e6" -> ((nDocs - nUnique) * 1000000L) / nDocs,
      "mean_chars_e2" -> ((sumChars * 100) / nDocs).toLong,
      "mean_tokens_e2" -> (nTokens * 100L) / nDocs,
      "type_token_e6" -> (vocab * 1000000L) / nTokens)
    assert(got === exp, "dataset card mismatch")
  }

  test("PMI collocations match the driver-side recomputation, marginals unfiltered") {
    val got = TextAnalysis.pmiCollocations(spark, sf).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3)))
    assert(got.length === 50)
    val texts = graft.Tables.documents(spark, sf).select("text").collect()
      .map(_.getString(0))
    val bigrams = texts.flatMap { t =>
      val ws = t.split(" ", -1)
      ws.zip(ws.drop(1))
    }
    val bc = bigrams.groupBy(identity).map { case (k, v) => k -> v.length.toLong }
    val c1 = bc.groupBy(_._1._1).map { case (w, g) => w -> g.values.sum }
    val c2 = bc.groupBy(_._1._2).map { case (w, g) => w -> g.values.sum }
    val n = bc.values.sum
    val exp = bc.toSeq.filter(_._2 >= 5).map { case ((w1, w2), cxy) =>
      val pmi = math.floor(math.log(
        (BigInt(n) * cxy).toDouble / (BigInt(c1(w1)) * c2(w2)).toDouble)
        * 1e6 + 0.5).toLong
      (w1, w2, cxy, pmi)
    }.sortBy { case (w1, w2, _, p) => (-p, w1, w2) }.take(50)
    assert(got.toSeq === exp, "top-50 collocation table mismatch")
    // PMI's expectation over the joint is the (nonnegative) mutual
    // information, but individual pairs can be negative; the top-k of a
    // corpus with any association structure is positive
    assert(got.head._4 >= 0L)
  }

  test("Hill tail index recomputes exactly; a flat tail emits NULL") {
    val row = TextAnalysis.tailIndex(spark, sf).collect().head
    val (k, xTail, dE6) = (row.getLong(0), row.getLong(1), row.getLong(2))
    val lens = graft.Tables.documents(spark, sf)
      .select("doc_id", "n_chars").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .sortBy { case (id, x) => (-x, id) }
    val top = lens.take(101)
    assert(k === 100L)
    assert(xTail === top.last._2)
    def lnE6(x: Long): Long = math.floor(math.log(x.toDouble) * 1e6 + 0.5).toLong
    val dExp = top.take(100).map(t => lnE6(t._2)).sum - 100L * lnE6(top.last._2)
    assert(dE6 === dExp, "Hill denominator")
    if (dExp > 0) {
      assert(row.getLong(3) ===
        math.floor(1.0e12 * 100d / dExp.toDouble + 0.5).toLong, "alpha_e6")
      // a tail index is positive and, for any non-degenerate tail, finite
      assert(row.getLong(3) > 0L)
    } else assert(row.isNullAt(3))
    // planted degenerate tail: constant lengths make the denominator 0
    // and the estimator must emit NULL, not an engine-specific infinity
    import spark.implicits._
    val flat = (1L to 200L).map(i => (i, 100)).toDF("doc_id", "n_chars")
    val flatRow = TextAnalysis.tailIndexOf(flat, 100).collect().head
    assert(flatRow.getLong(2) === 0L && flatRow.isNullAt(3))
  }

  test("inter-arrival stats match the driver-side gap recomputation") {
    val got = Events.interArrival(spark, sf).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .toMap
    assert(got.nonEmpty)
    val ev = graft.Tables.events(spark, sf)
      .select(col("user_id"), col("event_type"),
        unix_micros(col("ts")).as("us"), col("event_id"))
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    val gaps = ev.groupBy(e => (e._1, e._2)).toSeq.flatMap { case ((_, t), rows) =>
      rows.sortBy(e => (e._3, e._4)).map(_._3).toList.sliding(2)
        .collect { case a :: b :: Nil => (t, b - a) }
    }
    // interpolated percentile, the `percentile` ≡ quantile_cont definition
    def pct(xs: Array[Long], p: Double): Double = {
      val s = xs.sorted
      val h = (s.length - 1) * p
      val i = h.toInt
      if (i + 1 >= s.length) s(i).toDouble
      else s(i) + (h - i) * (s(i + 1) - s(i))
    }
    gaps.groupBy(_._1).foreach { case (t, rows) =>
      val xs = rows.map(_._2).toArray
      val (n, p50, p90, mean) = got(t)
      assert(n === xs.length.toLong, s"$t n_gaps")
      assert(p50 === math.floor(pct(xs, 0.5) + 0.5).toLong, s"$t p50")
      assert(p90 === math.floor(pct(xs, 0.9) + 0.5).toLong, s"$t p90")
      assert(mean === xs.map(BigInt(_)).sum / xs.length, s"$t mean")
      // gaps are nonnegative and the order statistics are ordered
      assert(p50 >= 0L && p90 >= p50)
    }
    assert(got.keySet === gaps.map(_._1).toSet)
  }

  test("WoW growth recomputes exactly; gap and zero base weeks emit NULL") {
    val got = Events.wowGrowth(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1)) ->
        (r.getLong(2), if (r.isNullAt(3)) None else Some(r.getLong(3))))
      .toMap
    assert(got.nonEmpty)
    val weekly = graft.Tables.events(spark, sf)
      .select(col("event_type"),
        floor(unix_micros(col("ts")) / 86400000000L).cast("long").as("day"),
        floor(col("value") * 1000d + 0.5d).cast("long").as("v"))
      .groupBy(col("event_type"), expr("day DIV 7").as("week"))
      .agg(sum("v").as("rev")).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(got.size === weekly.length)
    weekly.groupBy(_._1).foreach { case (t, rows) =>
      val byWeek = rows.map(r => r._2 -> r._3).toMap
      rows.foreach { case (_, wk, rev) =>
        val (gotRev, gotBp) = got((t, wk))
        assert(gotRev === rev, s"$t week $wk revenue")
        byWeek.get(wk - 1) match {
          case Some(prev) if prev > 0 =>
            assert(gotBp === Some(math.floor(
              (rev - prev).toDouble / prev.toDouble * 1e4 + 0.5).toLong),
              s"$t week $wk growth")
          case _ => assert(gotBp.isEmpty, s"$t week $wk: no base ⇒ NULL")
        }
      }
    }
  }

  test("daily percentile bands recompute and are ordered p10 ≤ p50 ≤ p90") {
    val got = Events.dailyPercentileBands(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))
      .toMap
    assert(got.nonEmpty)
    val vals = graft.Tables.events(spark, sf)
      .select(col("event_type"),
        floor(unix_micros(col("ts")) / 86400000000L).cast("long").as("day"),
        floor(col("value") * 10000d + 0.5d).cast("long").as("v"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    def pct(xs: Array[Long], p: Double): Double = {
      val s = xs.sorted
      val h = (s.length - 1) * p
      val i = h.toInt
      if (i + 1 >= s.length) s(i).toDouble
      else s(i) + (h - i) * (s(i + 1) - s(i))
    }
    val grouped = vals.groupBy(v => (v._1, v._2))
    assert(got.keySet === grouped.keySet)
    grouped.foreach { case (k2, rows) =>
      val xs = rows.map(_._3)
      val (n, p10, p50, p90) = got(k2)
      assert(n === xs.length.toLong)
      assert(p10 === math.floor(pct(xs, 0.1) + 0.5).toLong, s"$k2 p10")
      assert(p50 === math.floor(pct(xs, 0.5) + 0.5).toLong, s"$k2 p50")
      assert(p90 === math.floor(pct(xs, 0.9) + 0.5).toLong, s"$k2 p90")
      assert(p10 <= p50 && p50 <= p90, s"$k2 band inversion")
    }
  }

  test("SQ8 top-k matches the driver-side quantize-and-score recomputation") {
    val got = Similarity.sq8TopK(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(got.nonEmpty)
    val vecs = graft.Tables.embeddings(spark, sf)
      .select("vec_id", "embedding").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    def quantize(v: Array[Float]): (Long, Array[Long]) = {
      val mx = v.map(x => math.abs(x.toDouble)).max
      val scale = math.floor(mx * 1e6 + 0.5).toLong
      val codes = v.map(x =>
        if (mx == 0d) 0L else math.floor(x.toDouble / mx * 127d + 0.5).toLong)
      (scale, codes)
    }
    val q = vecs.filter(_._1 < 10).map { case (id, v) => (id, quantize(v)) }
    val all = vecs.map { case (id, v) => (id, quantize(v)) }
    val exp = q.flatMap { case (qid, (qs, qc)) =>
      all.filter(_._1 != qid).map { case (nid, (ns, nc)) =>
        val dot = qc.zip(nc).map { case (a, b) => a * b }.sum
        (qid, nid, dot, BigInt(qs) * ns * dot)
      }.sortBy { case (_, nid, _, score) => (-score, nid) }
        .take(5).zipWithIndex
        .map { case ((_, nid, dot, score), i) =>
          (qid, i + 1L, nid, dot, score.toLong) }
    }.sortBy(t => (t._1, t._2))
    assert(got.toSeq === exp.toSeq, "quantized top-k mismatch")
    // quantization preserves neighborhood structure on this corpus: each
    // query's quantized top-1 appears in the EXACT cosine top-5 (a recall
    // floor, not equality — SQ8 is an approximation by design)
    val exact = Similarity.bruteForceTopK(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(3)))
    val exactTop5 = exact.groupBy(_._1).map { case (k2, v) => k2 -> v.map(_._2).toSet }
    val top1 = got.filter(_._2 == 1L)
    val hits = top1.count(t => exactTop5.get(t._1).exists(_.contains(t._3)))
    assert(hits * 2 >= top1.length, s"SQ8 top-1 recall too low: $hits/${top1.length}")
  }

  test("active-user accounting matches the driver-side presence recomputation") {
    val got = Events.activeUsers(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(got.nonEmpty)
    val pres = graft.Tables.events(spark, sf)
      .select(floor(unix_micros(col("ts")) / 86400000000L).cast("long").as("day"),
        col("user_id")).distinct().collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val lo = pres.map(_._1).min
    val hi = pres.map(_._1).max
    assert(got.map(_._1).toSeq === (lo to hi), "dense day grid")
    val byDay = pres.groupBy(_._1)
    val firstDay = pres.groupBy(_._2).map { case (u, rows) => u -> rows.map(_._1).min }
    got.foreach { case (d, dau, nNew, nRet, wau) =>
      val active = byDay.getOrElse(d, Array.empty).map(_._2).toSet
      assert(dau === active.size.toLong, s"day $d dau")
      assert(nNew === firstDay.count(_._2 == d).toLong, s"day $d new")
      assert(nRet === dau - nNew, s"day $d returning")
      val wauExp = pres.filter(p => p._1 <= d && p._1 >= d - 6).map(_._2).toSet.size
      assert(wau === wauExp.toLong, s"day $d wau")
      // the trailing week always covers the day itself
      assert(wau >= dau)
    }
    // every user is new exactly once: the new-user column telescopes to
    // the full user population
    assert(got.map(_._3).sum === firstDay.size.toLong)
  }

  test("linear attribution conserves purchase value across touches") {
    val got = Events.linearAttribution(spark, sf).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
      .toMap
    assert(got.nonEmpty)
    val ev = graft.Tables.events(spark, sf)
      .select(col("user_id"), col("event_type"), col("event_id"),
        unix_micros(col("ts")).as("us"),
        floor(col("value") * 100d + 0.5d).cast("long").as("v_e2"))
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    val views = ev.filter(_._2 == "view")
    val purch = ev.filter(_._2 == "purchase")
    val byUser = views.groupBy(_._1).withDefaultValue(Array.empty)
    val touches = purch.flatMap { case (u, _, eid, pus, v) =>
      val vs = byUser(u).filter(w => pus >= w._4 && pus <= w._4 + 21600000000L)
      val n = vs.length.toLong
      vs.map(w => ((w._4 / 3600000000L) % 24, eid, (v * 10000L) / n))
    }
    val exp = touches.groupBy(_._1).map { case (h, rows) =>
      h -> (rows.length.toLong, rows.map(_._2).distinct.length.toLong,
        rows.map(r => BigInt(r._3)).sum)
    }
    assert(got.mapValues(v => (v._1, v._2, BigInt(v._3))).toMap === exp,
      "attribution table mismatch")
    // value conservation: each purchase's credited total differs from its
    // value by strictly less than one e6 unit per touch (DIV floors once
    // per touch), so the global gap is bounded by the touch count
    val creditTotal = touches.map(r => BigInt(r._3)).sum
    val valueTotal = touches.map(t => t._2).distinct
      .map(eid => BigInt(purch.find(_._3 == eid).get._5) * 10000L).sum
    assert(creditTotal <= valueTotal)
    assert(valueTotal - creditTotal < BigInt(touches.length))
  }

  test("item CF: cosine top-5 equals the driver recomputation and is symmetric") {
    val got = graft.ext.Associations.itemCf(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getInt(4)))
    val baskets = graft.Tables.lineitem(spark, sf)
      .select("l_orderkey", "l_partkey").collect()
      .map(r => (r.getLong(0), r.getLong(1))).distinct
    val itemN = baskets.groupBy(_._2).map { case (k, v) => k -> v.length }
    val pairCnt = baskets.groupBy(_._1).values.toSeq.flatMap { rows =>
      val items = rows.map(_._2).toSeq
      for (a <- items; b <- items if a != b) yield (a, b)
    }.groupBy(identity).map { case (k, v) => k -> v.size }
      .filter(_._2 >= 2)
    val exp = pairCnt.toSeq.map { case ((a, b), nAb) =>
      (a, b, nAb.toLong, math.floor(
        nAb.toDouble / math.sqrt(itemN(a).toDouble * itemN(b).toDouble)
          * 1e6 + 0.5).toLong)
    }.groupBy(_._1).flatMap { case (_, cands) =>
      cands.sortBy(c => (-c._4, c._2)).take(5).zipWithIndex
        .map { case ((a, b, n, c), i) => (a, b, n, c, i + 1) }
    }.toSet
    assert(got.toSet === exp, "item-CF top-5 mismatch vs driver recomputation")
    // cosine is symmetric: every scored pair carries the same cos both ways
    val cosMap = got.map(r => (r._1, r._2) -> r._4).toMap
    cosMap.foreach { case ((a, b), c) =>
      cosMap.get((b, a)).foreach(c2 => assert(c2 === c, s"asymmetric cos $a,$b")) }
  }

  test("cohort LTV triangle conserves revenue and accumulates monotonically") {
    val got = graft.ext.Events.cohortLtv(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))
    val ev = graft.Tables.events(spark, sf)
      .select(col("user_id"), expr("unix_micros(ts) div 86400000000 div 7").as("w"),
        col("event_type"), expr("cast(floor(value * 1000 + 0.5) as long)").as("v"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3)))
    val cohortOf = ev.groupBy(_._1).map { case (u, rows) => u -> rows.map(_._2).min }
    // driver triangle recomputation
    val exp = ev.filter(_._3 == "purchase")
      .groupBy(e => (cohortOf(e._1), e._2 - cohortOf(e._1)))
      .map { case (k, rows) => k -> rows.map(_._4).sum }
    assert(got.map(r => (r._1, r._2) -> r._3).toMap === exp, "triangle mismatch")
    // revenue conservation: the triangle holds every purchase once
    assert(got.map(_._3).sum === ev.filter(_._3 == "purchase").map(_._4).sum)
    // per cohort: cum is the running sum, ltv is its floor-div by size
    got.groupBy(_._1).foreach { case (cw, rows) =>
      val sorted = rows.sortBy(_._2)
      var cum = 0L
      sorted.foreach { r =>
        cum += r._3
        assert(r._4 === cum, s"cum mismatch at cohort $cw offset ${r._2}")
        assert(r._5 === cohortOf.values.count(_ == cw).toLong, "cohort size")
        assert(r._6 === cum / r._5, "ltv per user")
      }
    }
  }

  test("growth accounting: classes partition actives and conserve the delta") {
    val got = graft.ext.Events.growthAccounting(spark, sf).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5))).toMap
    val presence = graft.Tables.events(spark, sf)
      .select(col("user_id"), expr("unix_micros(ts) div 86400000000 div 7").as("w"))
      .distinct().collect().map(r => (r.getLong(0), r.getLong(1)))
    val byWeek = presence.groupBy(_._2).map { case (w, v) => w -> v.map(_._1).toSet }
    val firstOf = presence.groupBy(_._1).map { case (u, v) => u -> v.map(_._2).min }
    got.foreach { case (w, (act, nw, ret, res, chu)) =>
      val curSet = byWeek.getOrElse(w, Set.empty)
      val prvSet = byWeek.getOrElse(w - 1, Set.empty)
      assert(act === curSet.size.toLong)
      assert(nw === curSet.count(u => firstOf(u) == w).toLong)
      assert(ret === (curSet & prvSet).size.toLong)
      assert(res === curSet.count(u => !prvSet(u) && firstOf(u) != w).toLong)
      assert(chu === (prvSet -- curSet).size.toLong)
      // partition: every active is exactly one of new/retained/resurrected
      assert(act === nw + ret + res, s"week $w classes don't partition")
      // conservation: Δactive = new + resurrected − churned
      assert(act - prvSet.size === nw + res - chu, s"week $w flow imbalance")
    }
    // every presence week appears (plus possibly one trailing churn week)
    assert(byWeek.keySet.subsetOf(got.keySet))
  }

  test("next-best-offer: never recommends an owned item and maximizes summed affinity") {
    val got = graft.ext.Associations.nextBestOffer(spark, sf).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    val neighbors = graft.ext.Associations.itemCf(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(3)))
    val ownedRows = graft.Tables.orders(spark, sf)
      .select("o_orderkey", "o_custkey").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val items = graft.Tables.lineitem(spark, sf)
      .select("l_orderkey", "l_partkey").collect()
      .map(r => (ownedRows(r.getLong(0)), r.getLong(1))).distinct
    val ownedOf = items.groupBy(_._1).map { case (c, v) => c -> v.map(_._2).toSet }
    val nbByA = neighbors.groupBy(_._1)
    val exp = ownedOf.flatMap { case (cust, owned) =>
      val cands = owned.toSeq
        .flatMap(a => nbByA.getOrElse(a, Array.empty[(Long, Long, Long)]).toSeq)
        .filterNot(nb => owned(nb._2))
        .groupBy(_._2).toSeq
        .map { case (b, v) => (b, v.map(_._3).sum, v.size.toLong) }
      if (cands.isEmpty) None
      else Some(cust -> cands.minBy(c => (-c._2, c._1)))
    }
    assert(got === exp.map { case (c, (b, s, n)) => c -> (b, s, n) },
      "next-best-offer mismatch vs driver recomputation")
    // the structural law: a recommendation is never already owned
    got.foreach { case (c, (b, _, _)) => assert(!ownedOf(c)(b), s"cust $c owns $b") }
  }

  test("CDC apply keeps each key's last record and honors delete markers") {
    val got = graft.ext.Events.cdcApply(spark, sf).collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getLong(2), r.getLong(3))).toMap
    val ev = graft.Tables.events(spark, sf)
      .select(col("user_id"), col("event_type"),
        expr("cast(floor(value * 10000 + 0.5) as long)").as("v"),
        expr("unix_micros(ts)").as("us"), col("event_id")).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    val last = ev.groupBy(_._1).map { case (u, rows) =>
      u -> rows.maxBy(r => (r._4, r._5)) }
    val exp = last.collect { case (u, r) if r._2 != "error" =>
      u -> (r._2, r._3, r._4) }
    assert(got === exp, "CDC final state mismatch")
    // deleted keys are genuinely absent, not null-rowed
    last.foreach { case (u, r) =>
      if (r._2 == "error") assert(!got.contains(u), s"deleted key $u survived") }
  }

  test("disorder audit: planted out-of-order stream flags exact lateness") {
    import spark.implicits._
    // arrival ids 1..8; event times jump back mid-stream: id 4 arrives
    // 50 µs after a max of 400 (late by 350); id 6 late by 100; the rest
    // in order. Two types to pin the per-type split.
    val e = Seq(
      (1L, "a", 100L), (2L, "a", 400L), (3L, "b", 401L),
      (4L, "a", 50L),  // late: prev_max 401 → 351
      (5L, "b", 500L),
      (6L, "b", 400L), // late: prev_max 500 → 100
      (7L, "a", 600L), (8L, "b", 700L))
      .toDF("event_id", "event_type", "ts_us")
    val got = graft.ext.Events.disorderOf(e).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .toMap
    assert(got("a") === ((4L, 1L, 250000L, 351L)), "type a audit")
    assert(got("b") === ((4L, 1L, 250000L, 100L)), "type b audit")
    // the real fixture is ts-ordered by construction: all-zero reading
    val real = graft.ext.Events.disorderAudit(spark, sf).collect()
    real.foreach(r => assert(r.getLong(2) === 0L && r.getLong(4) === 0L))
  }

  test("substitutes rank user-co-occurring, basket-separated pairs; recompute exactly") {
    val got = graft.ext.Associations.substitutes(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    val custOf = graft.Tables.orders(spark, sf)
      .select("o_orderkey", "o_custkey").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val li = graft.Tables.lineitem(spark, sf)
      .select("l_orderkey", "l_partkey").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val userItems = li.map { case (ok, pk) => (custOf(ok), pk) }.distinct
    val itemUsers = userItems.groupBy(_._2).map { case (k, v) => k -> v.length }
    val freq = itemUsers.filter(_._2 >= 5).keySet
    val userPairs = userItems.filter(p => freq(p._2)).groupBy(_._1).values.toSeq
      .flatMap { items =>
        val ps = items.map(_._2).sorted
        for (i <- ps.indices; j <- (i + 1) until ps.length) yield (ps(i), ps(j))
      }.groupBy(identity).map { case (k, v) => k -> v.size.toLong }
      .filter(_._2 >= 5)
    val basketPairs = li.distinct.groupBy(_._1).values.toSeq.flatMap { items =>
      val ps = items.map(_._2).distinct.sorted
      for (i <- ps.indices; j <- (i + 1) until ps.length) yield (ps(i), ps(j))
    }.groupBy(identity).map { case (k, v) => k -> v.size.toLong }
      .filter(_._2 >= 2)
    val exp = userPairs.toSeq.map { case ((a, b), nu) =>
      val nb = basketPairs.getOrElse((a, b), 0L)
      (a, b, nu, nb, math.floor(nu.toDouble / (nb + 1).toDouble * 1e6 + 0.5).toLong)
    }.sortBy(r => (-r._5, r._1, r._2)).take(50)
    assert(got.toSeq === exp, "substitute ranking mismatch vs driver recomputation")
  }

  test("triple itemsets match the unpruned brute force (apriori prune is lossless)") {
    val got = graft.ext.Associations.tripleItemsets(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)) -> r.getLong(3)).toMap
    // brute force WITHOUT the pair prune: every basket's raw triples
    val baskets = graft.Tables.lineitem(spark, sf)
      .select("l_orderkey", "l_partkey").collect()
      .map(r => (r.getLong(0), r.getLong(1))).distinct
      .groupBy(_._1).values.toSeq.map(_.map(_._2).distinct.sorted)
    val exp = baskets.flatMap { items =>
      for (i <- items.indices; j <- (i + 1) until items.length;
           k <- (j + 1) until items.length)
        yield (items(i), items(j), items(k))
    }.groupBy(identity).map { case (t, v) => t -> v.size.toLong }
      .filter(_._2 >= 2L)
    assert(got === exp,
      "triples mismatch — the downward-closure prune must be lossless")
    // frequency never exceeds any sub-pair's frequency (monotonicity)
    val pairN = graft.ext.Associations.copurchasePairs(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    got.foreach { case ((a, b, c), n) =>
      Seq((a, b), (a, c), (b, c)).foreach { p =>
        assert(n <= pairN.getOrElse(p, 0L), s"triple ($a,$b,$c) beats pair $p") }
    }
  }

  test("sequential patterns: PrefixSpan support equals the direct positional count") {
    // independent recomputation WITHOUT PrefixSpan: order positions per
    // customer, then a direct "a at some position, b strictly later"
    // distinct-customer count — the miner and the law share no code
    val minCount = 8
    val got = graft.ext.Associations.seqPatterns(spark, sf, minCount = minCount)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    val orders = graft.Tables.orders(spark, sf)
      .select("o_custkey", "o_orderkey", "o_orderdate").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getTimestamp(2)))
    val pos: Map[Long, Long] = orders.groupBy(_._1).flatMap { case (_, os) =>
      os.sortBy(o => (o._3.getTime, o._2)).zipWithIndex
        .map { case (o, i) => o._2 -> (i + 1).toLong }
    }
    val items = graft.Tables.lineitem(spark, sf)
      .select("l_orderkey", "l_partkey").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val custOf = orders.map(o => o._2 -> o._1).toMap
    // (customer, position, item) instance set
    val inst = items.map { case (ok, pk) => (custOf(ok), pos(ok), pk) }.distinct
    val byCust = inst.groupBy(_._1)
    val exp = byCust.values.flatMap { rows =>
      (for {
        a <- rows; b <- rows
        if a._2 < b._2
      } yield (a._3, b._3)).distinct
    }.groupBy(identity).map { case (k, v) => k -> v.size.toLong }
      .filter(_._2 >= minCount)
    assert(got === exp, "sequential pattern frequencies mismatch")
    // sanity: every emitted frequency respects the support floor and the
    // customer-count ceiling
    val nCust = byCust.size.toLong
    got.values.foreach(f => assert(f >= minCount && f <= nCust))
  }

  test("Kneser-Ney NLL matches the first-principles replay and conserves per-context mass") {
    val got = TextAnalysis.kneserNeyNll(spark, sf).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val docs = graft.Tables.documents(spark, sf).select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1).split(" ", -1).toSeq)
    val bigrams = docs.flatMap { case (id, ts) =>
      ts.sliding(2).filter(_.length == 2).map(p => (id, p(0), p(1)))
    }
    val bc = bigrams.groupBy(b => (b._2, b._3)).view.mapValues(_.length.toLong).toMap
    val cc = bc.groupBy(_._1._1).view
      .mapValues(m => (m.values.sum, m.size.toLong)).toMap // (n_ctx, n_follow)
    val pc = bc.groupBy(_._1._2).view.mapValues(_.size.toLong).toMap
    val types = bc.size.toLong
    // the operator's exact double op sequence, replayed
    def p(w1: String, w2: String): Double = {
      val c = bc((w1, w2)); val (ctx, fol) = cc(w1)
      (c - 0.75d) / ctx + ((0.75d * fol) / ctx) * (pc(w2).toDouble / types)
    }
    val exp = bigrams.groupBy(_._1).map { case (id, bs) =>
      id -> (bs.length.toLong,
        bs.map(b => math.floor(-math.log(p(b._2, b._3)) * 1000d + 0.5d).toLong).sum)
    }
    assert(got === exp, "per-doc KN NLL mismatch")
    // analytic mass conservation: for every context, the discounted
    // observed mass plus the continuation back-off sums to exactly 1 over
    // the vocabulary (the defining identity of interpolated KN)
    val byCtx = bc.groupBy(_._1._1)
    val contMass = pc.values.sum.toDouble / types // = 1 by construction
    byCtx.foreach { case (w1, m) =>
      val (ctx, fol) = cc(w1)
      val observed = m.values.map(c => (c - 0.75d) / ctx).sum
      val backoff = ((0.75d * fol) / ctx) * contMass
      assert(math.abs(observed + backoff - 1d) < 1e-9, s"context $w1 mass")
    }
  }

  test("decay/position attribution replays the dyadic weights and conserves value per model") {
    val got = Events.decayAttribution(spark, sf).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .toMap
    assert(got.nonEmpty)
    val ev = graft.Tables.events(spark, sf)
      .select(col("user_id"), col("event_type"), col("event_id"),
        unix_micros(col("ts")).as("us"),
        floor(col("value") * 100d + 0.5d).cast("long").as("v_e2"))
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    val byUser = ev.filter(_._2 == "view").groupBy(_._1).withDefaultValue(Array.empty)
    // per purchase: ordered touch list, dyadic e9 weights, both credit models
    case class T(hour: Long, peid: Long, td: Long, pos: Long)
    val touches = ev.filter(_._2 == "purchase").flatMap { case (u, _, eid, pus, v) =>
      val vs = byUser(u).filter(w => pus >= w._4 && pus <= w._4 + 21600000000L)
        .sortBy(w => (w._4, w._3))
      val n = vs.length.toLong
      val ws = vs.map(w => 1000000000L / (1L << ((pus - w._4) / 3600000000L)))
      val sw = ws.sum
      vs.zipWithIndex.map { case (w, i) =>
        val r = i + 1L
        val pos =
          if (n == 1) v * 10000L
          else if (n == 2) (v * 10000L) / 2
          else if (r == 1 || r == n) (v * 10000L * 2) / 5
          else (v * 10000L) / (5 * (n - 2))
        T((w._4 / 3600000000L) % 24, eid, (v * 10000L * ws(i)) / sw, pos)
      }
    }
    val exp = touches.groupBy(_.hour).map { case (h, rows) =>
      h -> (rows.length.toLong, rows.map(_.peid).distinct.length.toLong,
        rows.map(_.td).sum, rows.map(_.pos).sum)
    }
    assert(got === exp, "decay/position attribution mismatch vs driver replay")
    // conservation per purchase, both models: each credited total differs
    // from the purchase value by strictly less than one e6 unit per
    // integer DIV taken (n_touch floors for time-decay; ≤ n_touch + 2 for
    // the position split's three-way partition)
    touches.groupBy(_.peid).foreach { case (eid, rows) =>
      val v = ev.find(e => e._3 == eid && e._2 == "purchase").get._5 * 10000L
      val td = rows.map(_.td).sum
      val pos = rows.map(_.pos).sum
      assert(td <= v && v - td < rows.length, s"purchase $eid time-decay leak")
      assert(pos <= v && v - pos < rows.length + 3L, s"purchase $eid position leak")
    }
    // time-decay is monotone: within a purchase, an older touch never
    // out-earns a newer one (weights halve per full hour of age; the
    // touch list is replayed oldest-first, so credits are non-decreasing)
    touches.groupBy(_.peid).foreach { case (eid, rows) =>
      rows.map(_.td).toSeq.sliding(2).foreach {
        case Seq(older, newer) => assert(older <= newer, s"purchase $eid decay order")
        case _ => ()
      }
    }
  }

  test("Markov accuracy replays the temporal-split protocol and bounds hold") {
    val got = graft.ext.Events.markovAccuracy(spark, sf).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6)))
    assert(got.nonEmpty)
    val ev = graft.Tables.events(spark, sf)
      .select(col("user_id"), col("event_type"),
        floor(unix_micros(col("ts")) / 86400000000L).cast("long").as("day"),
        unix_micros(col("ts")).as("us"), col("event_id"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    val cut = ev.map(_._3).min + (ev.map(_._3).max - ev.map(_._3).min) / 2
    val trans = ev.groupBy(_._1).values.toSeq.flatMap { rows =>
      val s = rows.sortBy(r => (r._4, r._5))
      s.zip(s.tail).map { case (a, b) => (a._3, a._2, b._2) } // (day of src, src, dst)
    }
    val train = trans.filter(_._1 < cut).groupBy(t => (t._2, t._3))
      .view.mapValues(_.size.toLong).toMap
    val pred = train.keys.map(_._1).toSeq.distinct.map { s =>
      s -> train.filter(_._1._1 == s).toSeq
        .sortBy { case ((_, d), n) => (-n, d) }.head._1._2
    }.toMap
    val basePred = train.groupBy(_._1._2).view.mapValues(_.values.sum).toSeq
      .sortBy { case (d, n) => (-n, d) }.head._1
    val test = trans.filter(_._1 >= cut).filter(t => pred.contains(t._2))
    val exp = test.groupBy(_._2).toSeq.sortBy(_._1).map { case (s, rows) =>
      val hits = rows.count(_._3 == pred(s)).toLong
      val bHits = rows.count(_._3 == basePred).toLong
      val nTrain = train.filter(_._1._1 == s).values.sum
      (s, pred(s), nTrain, rows.length.toLong, hits,
        hits * 1000000L / rows.length, bHits * 1000000L / rows.length)
    }
    assert(got.toSeq.sortBy(_._1) === exp, "Markov accuracy mismatch vs driver replay")
    // the per-source argmax model can never lose to the global-majority
    // baseline ON ITS OWN TRAINING DISTRIBUTION; on the holdout it can,
    // but accuracies are proper fractions and volumes partition the test set
    got.foreach { r =>
      assert(r._6 >= 0L && r._6 <= 1000000L && r._7 >= 0L && r._7 <= 1000000L)
      assert(r._5 <= r._4, "hits exceed test volume")
    }
  }

  test("NDCG@5 replays the integer-discount protocol over the temporal split") {
    val Array(row) = graft.ext.Associations.ndcgEval(spark, sf).collect()
    val ords = graft.Tables.orders(spark, sf)
      .select(col("o_orderkey"), col("o_custkey"),
        floor(unix_micros(col("o_orderdate")) / 86400000000L).cast("long").as("day"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val lines = graft.Tables.lineitem(spark, sf)
      .select("l_orderkey", "l_partkey").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val cut = ords.map(_._3).min + (ords.map(_._3).max - ords.map(_._3).min) / 2
    val byOrder = lines.groupBy(_._1).view.mapValues(_.map(_._2)).toMap.withDefaultValue(Array.empty)
    val trainPairs = ords.filter(_._3 < cut)
      .flatMap(o => byOrder(o._1).map(p => (o._1, o._2, p)))
    val tb = trainPairs.map(t => (t._1, t._3)).distinct
    val town = trainPairs.map(t => (t._2, t._3)).distinct.toSet
    val hown = ords.filter(_._3 >= cut)
      .flatMap(o => byOrder(o._1).map(p => (o._2, p))).distinct
    val itemN = tb.groupBy(_._2).view.mapValues(_.length).toMap
    val pairCnt = tb.groupBy(_._1).values.toSeq.flatMap { rs =>
      val is = rs.map(_._2).toSeq
      for (a <- is; b <- is if a < b) yield (a, b)
    }.groupBy(identity).view.mapValues(_.size).filter(_._2 >= 2)
    val nbrs = pairCnt.toSeq.flatMap { case ((a, b), n) => Seq((a, b, n), (b, a, n)) }
      .map { case (a, b, n) => (a, b, math.floor(
        n.toDouble / math.sqrt(itemN(a).toDouble * itemN(b).toDouble)
          * 1e6 + 0.5).toLong) }
      .groupBy(_._1).flatMap { case (_, cs) =>
        cs.sortBy(c => (-c._3, c._2)).take(5)
      }.toSeq
    val nbrsByA = nbrs.groupBy(_._1).withDefaultValue(Seq.empty)
    val w = Seq(1000000000L, 630929754L, 500000000L, 430676558L, 386852807L)
    val idcg = Seq(1000000000L, 1630929754L, 2130929754L, 2561606312L, 2948459119L)
    val rel = hown.filterNot(town.contains).groupBy(_._1)
      .view.mapValues(_.map(_._2).toSet).toMap
    val perUser = town.groupBy(_._1).toSeq.flatMap { case (cust, ownedPairs) =>
      val owned = ownedPairs.map(_._2)
      val cand = owned.toSeq.flatMap(p => nbrsByA(p))
        .filterNot(c => owned.contains(c._2))
        .groupBy(_._2).map { case (b, cs) => (b, cs.map(_._3).sum) }
        .toSeq.sortBy(c => (-c._2, c._1)).take(5).zipWithIndex
      val relSet = rel.getOrElse(cust, Set.empty)
      if (cand.isEmpty || relSet.isEmpty) None
      else {
        val hits = cand.map { case ((b, _), i) => (i + 1, relSet.contains(b)) }
        val dcg = hits.collect { case (r, true) => w(r - 1) }.sum
        Some((hits, (dcg * 1000000L) / idcg(math.min(relSet.size, 5) - 1)))
      }
    }
    assert(row.getLong(0) === perUser.length.toLong, "n_users")
    (1 to 5).foreach { r =>
      val expHits = perUser.map(_._1.count(h => h._1 == r && h._2).toLong).sum
      assert(row.getLong(r) === expHits, s"hits@$r")
    }
    assert(row.getLong(6) === perUser.map(_._2).sum, "sum NDCG")
    assert(row.getLong(7) === perUser.map(_._2).sum / perUser.length, "mean NDCG")
    // NDCG is a proper score: every per-user value lives in [0, 1e6]
    assert(perUser.forall(u => u._2 >= 0L && u._2 <= 1000000L), "NDCG out of [0,1]")
  }

  test("x242 kernel kNN edges ≡ the declarative window-rank formulation (r16 kernel law)") {
    // the r16 primitive kernel replaced the pair self-join + HOF d2 +
    // row_number window; this law pins the edge SET against that exact
    // declarative spelling on the live fixture
    import org.apache.spark.sql.expressions.Window
    val kernel = Similarity.mutualKnnEdges(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val Array(counts) = graft.Tables.embeddings(spark, sf)
      .agg(count(lit(1)).as("n"), countDistinct(col("label")).as("nl"))
      .collect()
    val nSub = math.max(1L,
      (counts.getLong(0) + counts.getLong(1) * 512L - 1L) / (counts.getLong(1) * 512L))
    val q = graft.Tables.embeddings(spark, sf).select(col("vec_id"), col("label"),
      (graft.ops.Sampling.bucket10k(col("vec_id"), 13) % nSub).as("sub"),
      expr("transform(embedding, v -> CAST(floor(CAST(v AS DOUBLE) * 10000 " +
        "+ 0.5) AS BIGINT))").as("q"))
    val l = q.select(col("label").as("bl"), col("sub").as("sl"),
      col("vec_id").as("a"), col("q").as("qa"))
    val r = q.select(col("label").as("br"), col("sub").as("sr"),
      col("vec_id").as("b"), col("q").as("qb"))
    val d2 = aggregate(
      zip_with(col("qa"), col("qb"), (x, y) => (x - y) * (x - y)),
      lit(0L), (acc, x) => acc + x)
    val scored = l.join(r, col("bl") === col("br") && col("sl") === col("sr")
        && col("a") =!= col("b"))
      .select(col("a"), col("b"), d2.as("d2"))
    val w = Window.partitionBy("a").orderBy(col("d2"), col("b"))
    val declarative = scored.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= 5).select("a", "b").collect()
      .map(r0 => (r0.getLong(0), r0.getLong(1))).toSet
    assert(kernel === declarative)
    assert(kernel.nonEmpty)
  }

  // ---- scale-adaptive spreads, both branches -------------------------------
  // At the gate scale factors the docs and embedding spreads always fire;
  // these runs force the other branches (no parallelism to add, scan
  // already wide) and pin identical rows across all three.
  // Widths of the hash spreads by `key` under `df`: repartition exchanges
  // in the plan (through AQE stages and Layer caches), and shuffles in the
  // lineage of an RDD-backed scan (a per-partition kernel's input).
  private def spreadWidths(df: org.apache.spark.sql.DataFrame, key: String): Seq[Int] = {
    import org.apache.spark.ShuffleDependency
    import org.apache.spark.rdd.RDD
    import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
    import org.apache.spark.sql.execution.{ExternalRDDScanExec, RDDScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    import org.apache.spark.sql.execution.exchange.{REPARTITION_BY_NUM, ShuffleExchangeExec}
    def shuffles(rdd: RDD[_]): Seq[Int] = rdd.dependencies.flatMap {
      case s: ShuffleDependency[_, _, _] => s.partitioner.numPartitions +: shuffles(s.rdd)
      case d => shuffles(d.rdd)
    }
    def walk(p: SparkPlan): Seq[SparkPlan] = p +: ((p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec => Seq(q.plan)
      case c: InMemoryTableScanExec => Seq(c.relation.cachedPlan)
      case _ => p.children
    }) ++ p.subqueries).flatMap(walk)
    walk(df.queryExecution.executedPlan).flatMap {
      case s: ShuffleExchangeExec if s.shuffleOrigin == REPARTITION_BY_NUM => s.outputPartitioning match {
        case h: HashPartitioning if h.references.exists(_.name == key) => Seq(h.numPartitions)
        case _ => Nil
      }
      case r: ExternalRDDScanExec[_] => shuffles(r.rdd)
      case r: RDDScanExec => shuffles(r.rdd)
      case _ => Nil
    }.distinct
  }

  // (query, the frame that carries the spread: the corpus stream x85
  // joins, the Layer-cached moment sums x216 reads on the driver)
  Seq(
    ("x85 docs spread", "doc_id", 2,
      (d: String) => TextAnalysis.unigramNll(spark, d),
      (d: String) => TextAnalysis.tokenStream(spark, d)),
    ("x216 embeddings spread", "vec_id", 4,
      (d: String) => Similarity.screeReport(spark, d),
      (d: String) => Similarity.momentSums(spark, d)),
  ).foreach { case (name, key, width, query, carrier) =>
    test(s"$name: spread, no spread and scan-already-wide give identical rows") {
      def run(settings: (String, String)*): (Seq[org.apache.spark.sql.Row], Seq[Int]) =
        graft.Session.withConf(spark, settings: _*) {
          Layer.clear(spark)
          val rows = query(sf).collect().toSeq
          (rows, spreadWidths(carrier(sf), key))
        }
      val (spread, wSpread) = run()
      val (narrow, wNarrow) = run("spark.sql.shuffle.partitions" -> "1")
      val (wide, wWide) = run("spark.sql.files.maxPartitionBytes" -> "16k")
      Layer.clear(spark)
      assert(wSpread === Seq(width), "default session: the spread fires")
      assert(wNarrow.isEmpty, "one shuffle partition: nothing to spread over")
      assert(wWide.isEmpty, "16k scan splits: the scan is already wide")
      assert(spread.nonEmpty)
      assert(narrow === spread, "no-spread rows differ")
      assert(wide === spread, "scan-wide rows differ")
    }
  }
}
