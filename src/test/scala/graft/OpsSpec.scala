package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.ops.Skew
import graft.sources.Sinks

/** Scale-pattern utilities: salted aggregation equivalence, partitioned
  * sink layout + pruning.
  */
class OpsSpec extends SparkSuite {

  test("salted count/sum equals direct groupBy on a skewed input") {
    import spark.implicits._
    // 10k rows on one heavy key + scattered tail
    val rows = (1 to 10000).map(i => ("hot", i.toDouble)) ++
      (1 to 500).map(i => (s"k${i % 50}", i.toDouble))
    val df = rows.toDF("k", "v").repartition(8)
    val direct = df.groupBy("k")
      .agg(count(lit(1)).as("n"), sum(col("v")).as("total"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
    val salted = Skew.saltedCountSum(df, Seq("k"), "v", salt = 16)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
    assert(salted === direct)
  }

  test("bucketed two-phase global rank equals the single-partition window rank") {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    // duplicates, negatives, and a constant run — bucket boundaries must
    // respect ties and the degenerate all-equal bucket
    val df = Seq(3.5, -1.0, 3.5, 0.0, 7.25, -1.0, 2.0, 7.25, 7.25, 0.0)
      .zipWithIndex.map { case (v, i) => (i.toLong, v) }.toDF("id", "v")
    val want = df.withColumn("rank",
      row_number().over(Window.orderBy(col("v"), col("id"))).cast("long"))
      .select("id", "rank").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    for (b <- Seq(1, 4, 256)) {
      val got = graft.ops.Ranking.globalRowNumber(df, col("v"), col("id"), "rank", b)
        .select("id", "rank").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got === want, s"buckets=$b")
    }
    // all-equal values: span collapses to one bucket, ranks still total
    val const = Seq.tabulate(5)(i => (i.toLong, 9.9)).toDF("id", "v")
    val gotC = graft.ops.Ranking.globalRowNumber(const, col("v"), col("id"), "rank")
      .select("id", "rank").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(gotC === Set((0L, 1L), (1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L)))
  }

  test("multi-weight globalCumSums: one fact Window node, bucketHint preserves results") {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val df = Seq((1L, 5L, 1L), (2L, 5L, 0L), (3L, 2L, 1L), (4L, 5L, 1L),
      (5L, 9L, 0L), (6L, 2L, 0L), (7L, 9L, 1L), (8L, 5L, 0L))
      .toDF("id", "v", "lab")
    val want = df
      .withColumn("rnk", sum(lit(1L)).over(Window.orderBy(col("v"), col("id"))
        .rowsBetween(Window.unboundedPreceding, 0)))
      .withColumn("cp", sum(col("lab")).over(Window.orderBy(col("v"), col("id"))
        .rowsBetween(Window.unboundedPreceding, 0)))
      .select("id", "rnk", "cp").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val plain = graft.ops.Ranking.globalCumSums(df, col("v"), col("id"),
      Seq(lit(1L) -> "rnk", col("lab") -> "cp"), buckets = 4)
    assert(plain.select("id", "rnk", "cp").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet === want)
    // the r10 plan law: chained withColumn used to plan one Window (and
    // one FULL SORT of the fact) PER WEIGHT; both cumulants must share a
    // single Window node over the bucket partitioning
    // a fact Window PARTITIONS by c_bucket (prints "], [c_bucket#NNL], [");
    // the B-row offsets window only ORDERS by it (no partition bracket)
    val factWin = "\\], \\[c_bucket#\\d+L\\], \\[".r
    val factWindows = plain.queryExecution.executedPlan.toString
      .linesIterator.count(l => l.contains("Window") && factWin.findFirstIn(l).isDefined)
    assert(factWindows == 1,
      s"expected ONE merged fact Window node, got $factWindows")
    // a monotone bucketHint (here: a finer composite that splits the
    // tie-heavy v across buckets by id) must not change any output
    val hinted = graft.ops.Ranking.globalCumSums(df, col("v"), col("id"),
      Seq(lit(1L) -> "rnk", col("lab") -> "cp"), buckets = 4,
      totals = Seq("t_n", "t_pos"),
      bucketHint = Some(col("v").cast("double") * 100d + col("id").cast("double")))
    val hs = hinted.select("id", "rnk", "cp", "t_n", "t_pos").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(hs.map(r => (r._1, r._2, r._3)).toSet === want)
    // attached totals equal the global aggregates on every row
    assert(hs.forall(r => r._4 == 8L && r._5 == 4L))
  }

  test("runtime bloom filter prunes the fact side of a selective shuffle join") {
    // At 100 TB a selective dim filter should reach the fact scan even when
    // the dim is too big to broadcast: Spark's InjectRuntimeFilter builds a
    // bloom filter from the filtered creation side and applies
    // might_contain on the fact side BEFORE the join shuffle. The
    // application-side size gate defaults to 10 GB (sensible in
    // production, unreachable in a test), so only the size thresholds are
    // adjusted here — the rule itself is stock.
    val prevB = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    val prevA = spark.conf.get(
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      spark.conf.set(
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0")
      val li = graft.Tables.lineitem(spark, sf).select("l_partkey", "l_quantity")
      val p = graft.Tables.part(spark, sf)
        .filter(col("p_brand") === "Brand#3").select("p_partkey")
      val joined = li.join(p, col("l_partkey") === col("p_partkey"))
      val n = joined.count()
      assert(n > 0)
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("might_contain"),
        s"no runtime bloom filter on the fact scan:\n$plan")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevB)
      spark.conf.set(
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", prevA)
    }
  }

  test("approx_count_distinct lands within the configured error of exact; a08 claims it as data") {
    // raw-estimate tolerance (the estimate itself is off a08's hashed
    // surface, so pin it here)
    val raw = Tables.events(spark, sf).groupBy("event_type")
      .agg(approx_count_distinct(col("user_id"), 0.02).as("approx"),
        countDistinct(col("user_id")).as("exact")).collect()
    raw.foreach { r =>
      val approx = r.getLong(1).toDouble
      val exact = r.getLong(2).toDouble
      assert(math.abs(approx - exact) / exact <= 0.1,
        s"${r.getString(0)}: approx=$approx exact=$exact")
    }
    // and the query's emitted claim agrees: bound = ceil(exact/10),
    // within_bound true everywhere on the gate corpus
    val rows = graft.queries.Analytics.approxDistinct(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Long]("bound_users") ===
        math.ceil(r.getAs[Long]("exact_users") * 0.10).toLong)
      assert(r.getAs[Boolean]("within_bound"),
        s"${r.getString(0)}: estimate escaped its 10% band")
    }
  }

  test("salted aggregation equals direct groupBy across randomized datasets") {
    import spark.implicits._
    for (seed <- Seq(7, 21, 99)) {
      val rnd = new scala.util.Random(seed)
      val rows = (1 to 2000).map { _ =>
        (s"k${rnd.nextInt(1 + rnd.nextInt(40))}", rnd.nextInt(1000).toDouble)
      }
      val df = rows.toDF("k", "v").repartition(1 + seed % 7)
      val direct = df.groupBy("k")
        .agg(count(lit(1)).as("n"), sum(col("v")).as("total"))
        .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
      val salted = Skew.saltedCountSum(df, Seq("k"), "v", salt = 1 + seed % 9)
        .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
      assert(salted === direct, s"seed=$seed")
    }
  }

  test("salted aggregation is run-deterministic for non-integral doubles") {
    import spark.implicits._
    // non-integral values make float sums depend on the row→salt grouping;
    // the content-hash salt fixes that grouping, so two runs must agree
    // bit-for-bit (the old partition-id salt regrouped per run)
    val rnd = new scala.util.Random(3)
    val rows = (1 to 8000).map(_ => ("hot", rnd.nextDouble() * 10 + 0.1)) ++
      (1 to 400).map(i => (s"k${i % 20}", rnd.nextDouble()))
    val df = rows.toDF("k", "v").repartition(8)
    def run(): Seq[(String, Long, Double)] =
      Skew.saltedCountSum(df, Seq("k"), "v", salt = 16)
        .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
        .sortBy(_._1).toSeq
    assert(run() === run())
  }

  test("salted aggregation: positional salt mode stays correct on all-duplicate hot keys") {
    import spark.implicits._
    // a hot key of IDENTICAL rows defeats the content-hash salt (same
    // content → same bucket); the positional mode exists for exactly this
    // shape, and with integral values both modes must match direct groupBy
    val rows = (1 to 10000).map(_ => ("hot", 7L)) ++
      (1 to 300).map(i => (s"k${i % 30}", i.toLong))
    val df = rows.toDF("k", "v").repartition(8)
    val direct = df.groupBy("k")
      .agg(count(lit(1)).as("n"), sum(col("v")).as("total"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    for (det <- Seq(true, false)) {
      val got = Skew.saltedCountSum(df, Seq("k"), "v", salt = 8, deterministicSalt = det)
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
      assert(got === direct, s"deterministicSalt=$det")
    }
  }

  test("salted set aggregation halves (at least) the max per-task shuffle read on a hot key") {
    import spark.implicits._
    // hot key with a wide value domain, every value duplicated across
    // partitions: partial collect_set dedups only locally, so the plain
    // formulation ships ~#partitions·|D| values for the hot key into ONE
    // reducer. The salt can't shrink total exchange volume — it spreads
    // the hot key over `salt` reducers, so the metric that matters is the
    // MAX shuffle read of any single task (the dragging one).
    val rows = (1 to 40000).map(i => ("hot", (i % 4096).toLong)) ++
      (1 to 2000).map(i => (s"k${i % 20}", (i % 64).toLong))
    val df = rows.toDF("k", "v").repartition(8)

    def maxTaskShuffleRead(run: () => Array[(String, Seq[Long])]): (Long, Array[(String, Seq[Long])]) = {
      val max = new java.util.concurrent.atomic.AtomicLong(0)
      val listener = new org.apache.spark.scheduler.SparkListener {
        override def onTaskEnd(t: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
          if (t.taskMetrics != null) {
            val b = t.taskMetrics.shuffleReadMetrics.totalBytesRead
            max.getAndUpdate(x => math.max(x, b))
          }
      }
      spark.sparkContext.addSparkListener(listener)
      try {
        val out = run()
        // listener events are posted asynchronously — wait until the max
        // stops moving rather than reaching into the private listener bus
        var prev = -1L
        var same = 0
        while (same < 3) {
          Thread.sleep(200)
          val cur = max.get()
          if (cur == prev) same += 1 else { same = 0; prev = cur }
        }
        (max.get(), out)
      } finally spark.sparkContext.removeSparkListener(listener)
    }

    def canon(df: org.apache.spark.sql.DataFrame): Array[(String, Seq[Long])] =
      df.collect().map(r => (r.getString(0), r.getSeq[Long](1).toSeq)).sortBy(_._1)

    // AQE would coalesce the tiny test shuffles down to one partition and
    // merge both formulations into the same single-reducer shape; 16
    // reducers (= salt) give each salt slice its own task so the spread is
    // visible rather than re-concentrated by the 4-partition test default
    val coalesce = spark.conf.get("spark.sql.adaptive.coalescePartitions.enabled", "true")
    val parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    spark.conf.set("spark.sql.shuffle.partitions", "16")
    try {
      val (plainMax, plainOut) = maxTaskShuffleRead(() => canon(
        df.groupBy("k").agg(sort_array(collect_set(col("v"))).as("arr"))))
      val (saltedMax, saltedOut) = maxTaskShuffleRead(() => canon(
        Skew.saltedAgg(df, Seq("k"), salt = 16,
          partial = Seq(collect_set(col("v")).as("__s")),
          combine = Seq(array_sort(flatten(collect_list(col("__s")))).as("arr")))))
      assert(plainOut.map(p => (p._1, p._2.sorted)) === saltedOut.map(p => (p._1, p._2.sorted)))
      info(s"max per-task shuffle read: plain=$plainMax bytes, salted=$saltedMax bytes")
      assert(saltedMax > 0 && plainMax >= 3 * saltedMax,
        s"plain max task shuffle read $plainMax vs salted $saltedMax — salt did not spread the hot key")
    } finally {
      spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", coalesce)
      spark.conf.set("spark.sql.shuffle.partitions", parts)
    }
  }

  test("Layer: clear racing a build cannot evict a re-committed winner's cache entry") {
    import spark.implicits._
    import org.apache.spark.storage.StorageLevel
    val base = Seq(1L, 2L, 3L).toDF("v")
    var first = true
    var winner: org.apache.spark.sql.DataFrame = null
    // deterministic replay of the race: the build block simulates a clear()
    // landing mid-build, followed by another thread re-committing the SAME
    // plan under the fresh session map. The outer call's commit then finds
    // itself orphaned; a plan-keyed unpersist there would evict the
    // winner's cache entry while it stays memoized.
    def build: org.apache.spark.sql.DataFrame = {
      if (first) {
        first = false
        Layer.clear(spark)
        winner = Layer.cached(spark, "/tmp/layer-race", "racekey")(base)
        assert(winner.storageLevel != StorageLevel.NONE)
      }
      base
    }
    val out = Layer.cached(spark, "/tmp/layer-race", "racekey")(build)
    assert(out eq winner, "orphaned commit must resolve to the live map's winner")
    assert(out.storageLevel != StorageLevel.NONE,
      "the orphaned branch evicted the re-committed winner's cache entry")
    Layer.clear(spark)
    assert(out.storageLevel == StorageLevel.NONE,
      "clear() must still release the surviving entry (no leak from skipping the eager unpersist)")
  }

  test("approx_percentile lands near the exact median per group; a10 claims the rank band as data") {
    // raw-estimate tolerance (the estimate itself is off a10's hashed
    // surface, so pin it here)
    Tables.documents(spark, sf).groupBy("lang")
      .agg(expr("approx_percentile(n_chars, 0.5, 1000)").as("approx"),
        expr("percentile(n_chars, 0.5)").as("exact")).collect().foreach { r =>
      val approx = r.getLong(1).toDouble
      val exact = r.getDouble(2)
      assert(math.abs(approx - exact) / exact <= 0.15,
        s"${r.getString(0)}: approx=$approx exact=$exact")
    }
    // and the query's emitted claim: band ordered, estimate inside it
    val rows = graft.queries.Analytics.approxPercentiles(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Double]("p45") <= r.getAs[Double]("p50_exact") &&
        r.getAs[Double]("p50_exact") <= r.getAs[Double]("p55"))
      assert(r.getAs[Boolean]("within_rank_band"),
        s"${r.getString(0)}: approx median escaped [p45, p55]")
    }
  }

  test("hash split: deterministic, exhaustive, disjoint, near the requested rate") {
    val n = Tables.documents(spark, sf).count()
    def run(): Seq[(Long, String)] = graft.ops.Sampling.docSplit(spark, sf)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    val s1 = run()
    assert(s1 === run()) // content-addressed: identical across runs
    assert(s1.length === n && s1.map(_._1).distinct.length === s1.length)
    val trainFrac = s1.count(_._2 == "train").toDouble / s1.length
    assert(math.abs(trainFrac - 0.8) < 0.06, s"trainFrac=$trainFrac") // 500 docs
  }

  test("stratified sample membership is layout-independent and rate-correct") {
    import org.apache.spark.sql.functions.col
    val fractions = Map("en" -> 5000, "de" -> 2500, "fr" -> 1000)
    val base = graft.ops.Sampling.docStratified(spark, sf)
      .collect().map(_.getLong(0)).toSet
    // repartitioning MUST NOT change membership (randomSplit/sampleBy fail this)
    val reparted = graft.ops.Sampling.stratifiedSample(
        Tables.documents(spark, sf).repartition(13), "doc_id", "lang",
        fractions, defaultBp = 500, seed = 7)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(reparted === base)
    // per-stratum rates in the right band (193 en / 71 de docs at sf0.001)
    val byLang = graft.ops.Sampling.docStratified(spark, sf)
      .groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val total = Tables.documents(spark, sf)
      .groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(math.abs(byLang("en").toDouble / total("en") - 0.50) < 0.12)
    assert(math.abs(byLang.getOrElse("de", 0L).toDouble / total("de") - 0.25) < 0.12)
  }

  test("sequence packing: layout-independent, exhaustive, budget-aligned chunks") {
    val n = Tables.documents(spark, sf).count()
    val base = graft.ops.Packing.docPack(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(base.length === n && base.map(_._1).distinct.length === base.length)
    val reparted = graft.ops.Packing.packSequences(
        Tables.documents(spark, sf).repartition(11), 2048, 4, 99)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(reparted.toSeq === base.toSeq)
    // chunk law, recomputed independently: concatenate each shard's docs in
    // doc_id order and every doc's seq_id must be the 2048-token chunk
    // holding its FIRST token — floor(tokens-before-it / 2048)
    base.groupBy(_._2).foreach { case (_, docs) =>
      var before = 0L
      docs.sortBy(_._1).foreach { case (id, _, seq, n) =>
        assert(seq === before / 2048, s"doc $id: seq $seq, start $before")
        assert(n > 0)
        before += n
      }
    }
    // sequences within a shard are contiguous: ids 0..max with no gaps
    // (holds here because every doc is far shorter than the 2048 budget;
    // a doc longer than the budget legitimately skips chunk ids)
    base.groupBy(_._2).foreach { case (_, docs) =>
      val seqs = docs.map(_._3).distinct.sorted
      assert(seqs === (0L to seqs.max).toArray.toSeq, s"gapped seqs $seqs")
    }
  }

  test("doc chunking: spans tile each document and survive repartitioning") {
    val chunks = graft.ops.Chunking.docChunks(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val nTokens = Tables.documents(spark, sf)
      .selectExpr("doc_id", "cast(size(split(text, ' ')) as long) as n")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    chunks.groupBy(_._1).foreach { case (doc, cs) =>
      val sorted = cs.sortBy(_._2)
      // chunk ids 0..k-1, starts every stride, spans clipped to the doc,
      // and the last window reaches exactly the final token
      assert(sorted.map(_._2).toSeq === sorted.indices.map(_.toLong))
      sorted.foreach { case (_, cid, start, len) =>
        assert(start === cid * 24 && len > 0 && len <= 32)
        assert(start + len <= nTokens(doc))
      }
      assert(sorted.last._3 + sorted.last._4 === nTokens(doc))
    }
    val reparted = graft.ops.Chunking.chunkDocs(
        Tables.documents(spark, sf).repartition(13), 32, 24)
      .orderBy("doc_id", "chunk_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(reparted.toSeq === chunks.toSeq)
  }

  test("count-min sketch and bloom filter obey their error contracts on documents") {
    import org.apache.spark.sql.functions.explode
    // both sketches build distributed (mergeable partials) and come back
    // tiny — the at-scale substitutes for exact frequency maps / key sets
    val tokens = Tables.documents(spark, sf)
      .select(explode(org.apache.spark.sql.functions.split(col("text"), " ")).as("token"))
    val exact = tokens.groupBy("token").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val total = exact.values.sum
    val cms = tokens.stat.countMinSketch("token", eps = 0.001, confidence = 0.99, seed = 42)
    exact.foreach { case (tok, n) =>
      val est = cms.estimateCount(tok)
      assert(est >= n, s"$tok: CMS must never under-count ($est < $n)")
      assert(est <= n + (0.001 * total).toLong + 1, s"$tok: est $est vs $n")
    }
    val bloom = tokens.stat.bloomFilter("token", expectedNumItems = 1000, fpp = 0.01)
    exact.keys.foreach(t => assert(bloom.mightContain(t), s"false negative: $t"))
  }

  test("observed() collects row/null metrics from the job's own pass") {
    import spark.implicits._
    val df = Seq((1L, "a"), (2L, null), (3L, "c"), (4L, null))
      .toDF("id", "s")
    val (instrumented, obs) = graft.ops.Quality.observed(df, "ingest_gate", Seq("s"))
    // one action drives both the result and the metrics — no second scan
    assert(instrumented.filter(col("id") > 1).count() === 3)
    val m = obs.get
    assert(m("n_rows") === 4L, s"metrics $m")
    assert(m("nulls_s") === 2L, s"metrics $m")
  }

  test("packing and chunking degrade to empty output on an empty corpus") {
    import spark.implicits._
    val empty = Seq.empty[(Long, String)].toDF("doc_id", "text")
    assert(graft.ops.Packing.packSequences(empty, 2048, 4, 99).count() === 0)
    assert(graft.ops.Chunking.chunkDocs(empty, 32, 24).count() === 0)
  }

  test("from_json yields null, not an error, on malformed JSON") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, from_json}
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    val got = Seq("""{"k": 7}""", "not json", """{"k": "x"}""")
      .toDF("props")
      .select(from_json(col("props"), StructType(Seq(StructField("k", LongType))))
        .getField("k").as("k"))
      .collect().map(r => if (r.isNullAt(0)) -1L else r.getLong(0))
    assert(got.toSeq === Seq(7L, -1L, -1L))
  }

  test("foreachBatch sink round-trips the streaming aggregate to parquet") {
    val out = Files.createTempDirectory("graft_feb").toString + "/agg"
    val viaSink = graft.streaming.Streams
      .tumblingViaForeachBatch(spark, sf, out).collect().toSeq
    val batch = graft.ext.Events.tumbling(spark, sf).collect().toSeq
    assert(viaSink === batch)
  }

  test("co-bucketed tables join without a shuffle") {
    val basket = graft.insta.Insta.priorBasket(spark, sf)
      .select("userID", "productID", "cart_order")
    val users = graft.insta.Insta.userOrderFeatures(spark, sf)
    // clean both catalog entries and any orphaned location from a prior run
    Seq("graft_basket_b", "graft_users_b").foreach { t =>
      spark.sql(s"DROP TABLE IF EXISTS $t")
      val loc = new java.io.File(s"spark-warehouse/$t")
      if (loc.exists()) {
        loc.listFiles().foreach(_.delete()); loc.delete()
      }
    }
    Sinks.bucketedTable(basket, "graft_basket_b", Seq("userID"), 8)
    Sinks.bucketedTable(users, "graft_users_b", Seq("userID"), 8)
    // disable broadcast so the planner actually uses the bucket layout
    // (with a broadcastable side it rightly prefers BroadcastHashJoin)
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val joined = spark.table("graft_basket_b")
        .join(spark.table("graft_users_b"), "userID")
      val plan = joined.queryExecution.executedPlan.toString
      // both sides pre-hashed into the same 8 buckets → scans are bucketed
      // and no shuffle exchange appears before the join
      assert(plan.contains("Bucketed: true"), s"bucket layout unused:\n$plan")
      assert(!plan.contains("ShuffleExchange") && !plan.contains("Exchange hashpartitioning"),
        s"unexpected shuffle in:\n$plan")
      assert(joined.count() === basket.count())
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
      spark.sql("DROP TABLE IF EXISTS graft_basket_b")
      spark.sql("DROP TABLE IF EXISTS graft_users_b")
    }
  }

  test("temperature mix flattens a skewed domain distribution, layout-independently") {
    import spark.implicits._
    val df = ((1 to 700).map(i => (i.toLong, "web")) ++
      (701 to 900).map(i => (i.toLong, "books")) ++
      (901 to 1000).map(i => (i.toLong, "code"))).toDF("id", "domain")
    val out = graft.ops.Sampling.temperatureMix(df, "id", "domain", seed = 3)
    val rates = out.select("domain", "rate_bp").distinct().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // N=1000, S=3: web = floor(sqrt(1000/2100)·10⁴) = 6900; minority
    // domains cap at 10000 and keep every row
    assert(rates("web") === 6900L)
    assert(out.filter(col("domain") =!= "web").count() === 300)
    Seq("books", "code").foreach(d => assert(rates.get(d).forall(_ == 10000L)))
    // membership is content-addressed: physical layout cannot change it
    val re = graft.ops.Sampling.temperatureMix(df.repartition(7), "id", "domain", seed = 3)
    assert(re.select("id").collect().map(_.getLong(0)).sorted.toSeq ===
      out.select("id").collect().map(_.getLong(0)).sorted.toSeq)
  }

  test("x78 df join is threshold-governed: AQE falls back to a shuffle join when broadcast is off") {
    import graft.ext.TextAnalysis
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      // no hard-coded broadcast hint on the df side: with the threshold
      // disabled the plan must degrade to a shuffle join (the 10^8-token
      // web-corpus vocabulary case), with identical results
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val unbounded = TextAnalysis.docKeywords(spark, sf)
      val rows = unbounded.collect()
      val plan = unbounded.queryExecution.executedPlan.toString
      assert(!plan.contains("BroadcastHashJoin"),
        s"df join still broadcasts with the threshold disabled:\n$plan")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
      val bounded = TextAnalysis.docKeywords(spark, sf)
      assert(bounded.collect().toSeq === rows.toSeq)
      // and with the default threshold the small df side DOES broadcast
      bounded.count()
      assert(bounded.queryExecution.executedPlan.toString.contains("BroadcastHashJoin"),
        "expected AQE/planner to broadcast the small df side under the default threshold")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("x46 zipf join splits the skewed partition under AQE; x45 broadcasts it away") {
    // x45 control: the 12-row stats side must broadcast under defaults —
    // a map-side join makes key skew irrelevant (no shuffle of the fact)
    val plain = Skew.skewJoinPlain(spark, sf)
    val plainRows = plain.collect()
    assert(plain.queryExecution.executedPlan.toString.split("== Initial Plan ==").head
      .contains("BroadcastHashJoin"), "x45 should broadcast the tiny stats side")
    // x46: force the sort-merge shape (the fact⋈fact regime where neither
    // side broadcasts) and scale AQE's skew thresholds to the test corpus;
    // the hot zipf bucket's partition must be carved into parallel splits
    val keys = Seq(
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes",
      "spark.sql.adaptive.coalescePartitions.enabled")
    val prev = keys.map(k => k -> spark.conf.get(k)).toMap
    try {
      spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "1.0")
      spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "1KB")
      spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "1KB")
      spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
      val split = Skew.skewJoinSplit(spark, sf)
      val splitRows = split.collect()
      val plan = split.queryExecution.executedPlan.toString.split("== Initial Plan ==").head
      assert(plan.contains("skew=true"),
        s"AQE did not split the skewed join partition:\n$plan")
      // split-and-replicate is correctness-preserving: identical output
      assert(splitRows.toSeq === plainRows.toSeq)
    } finally prev.foreach { case (k, v) => spark.conf.set(k, v) }
  }

  test("x121 evidence graph keeps no sort below its union-distinct") {
    import org.apache.spark.sql.catalyst.plans.logical.Sort
    // the x117 query's presentation orderBy must NOT reach the entity
    // graph: a global sort under the distinct is wasted work whose
    // range-partitioner SAMPLE job re-evaluates the whole PassJoin
    // candidate DAG once more at scale. entityEdges consumes the unsorted
    // pair core; this pins that (InMemoryRelation is a leaf in the logical
    // plan, so a Layer-cached Jaccard leg cannot mask an outer sort).
    val edges = graft.ext.Dedup.entityEdges(spark, sf)
    val sorts = edges.queryExecution.optimizedPlan.collect { case s: Sort => s }
    assert(sorts.isEmpty,
      s"sort survives under the union-distinct:\n${edges.queryExecution.optimizedPlan}")
    assert(edges.columns.toSeq === Seq("a", "b"))
  }

  test("curation pipeline composes its stages: every invariant of every stage survives") {
    import graft.ext.Dedup
    val out = graft.ops.Curation.curatedPacks(spark, sf)
    val rows = out.collect().map(r =>
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(rows.nonEmpty, "pipeline produced no packs at the test fixture")
    val ids = rows.map(_._1).toSet
    // stage 1: train carve only — no eval doc survives
    assert(ids.forall(_ % 10 != 0), "eval-carve doc leaked through the pipeline")
    // stage 2: no two survivors share a normalized text
    val norms = Tables.documents(spark, sf)
      .filter(col("doc_id").isin(ids.toSeq: _*))
      .select(regexp_replace(lower(col("text")), "\\s+", " ").as("n"))
      .collect().map(_.getString(0))
    assert(norms.length === norms.distinct.length, "exact duplicates survived")
    // stage 3: no near-dup loser survives (the b side of any >= 0.6 pair)
    val losers = Dedup.ngramJaccardPairs(spark, sf, 0.6)
      .select("b").collect().map(_.getLong(0)).toSet
    assert((ids & losers).isEmpty, "near-dup losers survived")
    // stage 4: no contaminated doc survives (x62's flagged set IS the law)
    val contaminated = Dedup.decontaminate(spark, sf)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert((ids & contaminated).isEmpty, "eval-contaminated docs survived")
    // stage 5: packing is recomputable from the output alone — the kept
    // set is a PREFIX of the (ttr desc, doc_id) order, so the output-local
    // running total equals the pipeline's, and pack_id must be its floor
    var cum = 0L
    rows.sortBy { case (id, _, ttr, _) => (-ttr, id) }.foreach {
      case (id, n, _, pack) =>
        assert(pack === cum / 2048, s"doc $id pack_id $pack != ${cum / 2048}")
        cum += n
    }
    // and the Layer-shared stages are visible in the plan: the pair set /
    // gram stream arrive as cached relations, not re-derived scans
    out.count()
    val plan = out.queryExecution.executedPlan.toString.split("== Initial Plan ==").head
    assert(plan.contains("InMemoryTableScan") || plan.contains("TableCacheQueryStage"),
      "expected Layer-cached stage inputs (shared scans) in the plan")
  }

  test("merge upsert reconciles exactly: deletes vanish, updates shift, inserts append, rest untouched") {
    val t = Tables.orders(spark, sf)
      .select(col("o_orderkey"), col("o_orderstatus"),
        round(col("o_totalprice") * 100, 0).cast("long"))
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getLong(2))).toMap
    val got = graft.ops.Merge.mergeUpsert(spark, sf).collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getLong(2))).toMap
    val dels = t.keySet.filter(_ % 11 == 0)
    val ups = t.keySet.filter(k => k % 7 == 0 && k % 11 != 0)
    // insert keys offset past the OBSERVED key domain (max key + 1 —
    // key 0 exists, so a bare max offset would collide), not a fixed
    // constant a larger SF's o_orderkey range would overtake
    val off = t.keySet.max + 1
    val ins = t.keySet.filter(_ % 13 == 0).map(_ + off)
    assert(dels.nonEmpty && ups.nonEmpty && ins.nonEmpty, "carve degenerate")
    assert(got.keySet === (t.keySet -- dels) ++ ins)
    ups.foreach(k => assert(got(k) === (("U", t(k)._2 + 150L)), s"update $k"))
    ins.foreach(k => assert(got(k)._1 === "N", s"insert $k"))
    (t.keySet -- dels -- ups).foreach(k => assert(got(k) === t(k), s"row $k mutated"))
  }

  test("curation funnel is monotone and its final stage equals the pipeline output") {
    val funnel = graft.ops.Curation.curationFunnel(spark, sf)
    val f = funnel.collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    // single-pass law (the round-6 weak was six prefix re-scans of
    // documents): the funnel's executed plan reads ONLY the Layer-cached
    // per-doc flags frame — no parquet FileScan may survive in it. Tree
    // walk (not toString match — InMemoryRelation PRINTS its cached build
    // plan inline, which legitimately holds the one corpus scan): descend
    // through AQE stage leaves, stop at InMemoryTableScan.
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    def fileScans(p: SparkPlan): Seq[FileSourceScanExec] = p.collect {
      case f: FileSourceScanExec => Seq(f)
      case a: AdaptiveSparkPlanExec => fileScans(a.executedPlan)
      case q: QueryStageExec if !q.plan.isInstanceOf[InMemoryTableScanExec] =>
        fileScans(q.plan)
    }.flatten
    def cacheScans(p: SparkPlan): Seq[InMemoryTableScanExec] = p.collect {
      case c: InMemoryTableScanExec => Seq(c)
      case a: AdaptiveSparkPlanExec => cacheScans(a.executedPlan)
      case q: QueryStageExec => cacheScans(q.plan)
    }.flatten
    val executed = funnel.queryExecution.executedPlan
    assert(fileScans(executed).isEmpty,
      s"funnel re-scans parquet instead of the cached flags frame:\n$executed")
    assert(cacheScans(executed).nonEmpty,
      "expected the Layer-cached flags frame as the funnel's only input")
    assert(f.map(_._1).toSeq === Seq(1L, 2L, 3L, 4L, 5L, 6L))
    // every stage can only shrink the corpus — docs and tokens both
    f.sliding(2).foreach { case Array(a, b) =>
      assert(b._3 <= a._3 && b._4 <= a._4,
        s"stage ${b._2} grew the corpus over ${a._2}")
    }
    // the funnel is the pipeline's own accounting: its last row must
    // equal x135's output exactly
    val packs = graft.ops.Curation.curatedPacks(spark, sf).collect()
    assert(f.last._3 === packs.length.toLong)
    assert(f.last._4 === packs.map(_.getLong(1)).sum)
    // real attrition at this fixture: the funnel narrows overall and at
    // several distinct stages (not every stage need fire at sf0.001 —
    // the gated set may already be near-dup-free)
    assert(f.head._3 > f.last._3 && f.map(_._3).distinct.length >= 4,
      s"funnel barely narrows: ${f.map(_._3).mkString(",")}")
  }

  test("with-replacement draws land in the sequentially recomputed CDF intervals") {
    val got = graft.ops.Sampling.weightedWithReplacement(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got.length === 50 && got.map(_._1).toSet.size === 50,
      "each of the 50 draws must select exactly one document")
    // sequential local recomputation of the inverse CDF
    val docs = Tables.documents(spark, sf)
      .select(col("doc_id"), size(split(col("text"), " ")).cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    val cum = docs.scanLeft(0L)(_ + _._2).tail
    val w = cum.last
    def md5mod(i: Long): Long = {
      val h = java.security.MessageDigest.getInstance("MD5")
        .digest(s"wr:$i".getBytes("UTF-8")).take(4)
        .foldLeft(0L)((a, b) => (a << 8) | (b & 0xffL))
      h % w
    }
    got.foreach { case (i, docId, n) =>
      val p = md5mod(i)
      val idx = cum.indexWhere(_ > p)
      assert(docs(idx)._1 === docId && docs(idx)._2 === n,
        s"draw $i at position $p selected $docId, expected ${docs(idx)._1}")
    }
    // and replacement must actually occur at this fixture (heavy docs
    // own wide intervals) or the "with replacement" claim is untested
    assert(got.map(_._2).distinct.length < 50,
      "no document was drawn twice — replacement unexercised")
  }

  test("degree-ordered triangle count equals local brute force and conserves corner mass") {
    val got = graft.ops.Graph.tradeTriangles(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    // local brute force over the same undirected edge set
    val und = graft.ops.Graph.tradeEdges(spark, sf)
      .filter(col("src") =!= col("dst"))
      .select(least(col("src"), col("dst")).cast("long"),
        greatest(col("src"), col("dst")).cast("long"))
      .distinct().collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val nodes = und.flatMap(e => Seq(e._1, e._2)).toSeq.distinct
    val triangles = for {
      (x, y) <- und.toSeq
      z <- nodes if y < z && und((y, z)) && und((x, z))
    } yield (x, y, z)
    val expected = nodes.map(v => v ->
      triangles.count(t => t._1 == v || t._2 == v || t._3 == v).toLong).toMap
    assert(got === expected, "degree-ordered enumeration diverged from brute force")
    // each triangle contributes exactly 3 corners
    assert(got.values.sum === 3L * triangles.size)
    assert(triangles.nonEmpty, "fixture graph has no triangles — test is vacuous")
  }

  test("profile drift computes both snapshots in one scan and detects the planted mutation") {
    val drift = graft.ops.Quality.profileDrift(spark, sf)
    val rows = drift.collect().map(r => r.getString(0) ->
      (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6))).toMap
    assert(rows.keySet === Set("doc_id", "lang", "source", "text"))
    // the % 13 staleness mutation on the old side's text must register:
    // mutated texts differ, so the text column cannot look ndv-identical
    // AND range-identical between snapshots
    val (_, _, ndvOld, ndvNew, _, rangeChanged) = rows("text")
    assert(ndvOld > 0 && ndvNew > 0)
    assert(ndvOld != ndvNew || rangeChanged === 1L,
      "planted text mutation not detected by the drift report")
    // one-pass law: a single documents scan and a single Expand serve
    // BOTH snapshots' statistics (the naive plan scans once per snapshot)
    val plan = drift.queryExecution.executedPlan.toString.split("== Initial Plan ==").head
    assert(plan.sliding("FileScan".length).count(_ == "FileScan") === 1,
      s"expected exactly one scan:\n$plan")
    assert(plan.sliding("Expand".length).count(_ == "Expand") === 1,
      s"expected exactly one Expand:\n$plan")
  }

  test("partitioned parquet sink prunes directories on the partition predicate") {
    val out = Files.createTempDirectory("graft_sink").toString + "/docs"
    Sinks.parquetPartitioned(Tables.documents(spark, sf), out, Seq("lang"))
    val dirs = new java.io.File(out).listFiles().filter(_.isDirectory).map(_.getName).sorted
    assert(dirs.count(_.startsWith("lang=")) >= 3)
    val back = spark.read.parquet(out).filter(col("lang") === "en")
    // partition filter appears in the scan, not as a data filter
    val plan = back.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("lang"))
    val total = Tables.documents(spark, sf).filter(col("lang") === "en").count()
    assert(back.count() === total)
  }

  test("domain cap keeps exactly the k lowest-priority-hash rows per domain, map-side truncated") {
    val k = 10
    val capped = graft.ops.Sampling.docSourceCap(spark, sf)
    // hard bound holds for every domain
    val perGroup = capped.groupBy("source").count().collect()
    assert(perGroup.forall(_.getLong(1) <= k))
    // the kept set is EXACTLY the k smallest (hash, key) per domain — the
    // growth-stability law: a kept page is only evicted by a lower hash
    val expected = Tables.documents(spark, sf)
      .select(col("doc_id"), col("source"),
        graft.ops.Sampling.bucket10k(col("doc_id"), 13).as("pri"))
      .collect()
      .groupBy(_.getString(1))
      .flatMap { case (_, rows) =>
        rows.sortBy(r => (r.getLong(2), r.getLong(0))).take(k).toSeq }
      .map(_.getLong(0)).toSet
    assert(capped.collect().map(_.getLong(0)).toSet === expected)
    // and the rank filter compiles to WindowGroupLimit: each map task
    // truncates to its local top-k BEFORE the exchange, so a single-domain
    // flood shuffles at most k rows per task, not the flood
    val plan = capped.queryExecution.executedPlan.toString
    assert(plan.contains("WindowGroupLimit"),
      "cap must plan as WindowGroupLimit (map-side top-k truncation)")
  }

  test("trade PageRank conserves mass within flooring loss and ranks every node positively") {
    val pr = graft.ops.Graph.nationTradeRank(spark, sf).collect()
    assert(pr.nonEmpty)
    val n = pr.length.toLong
    pr.foreach(r => assert(r.getLong(2) > 0L, s"nation ${r.getLong(0)} got zero rank"))
    // each round floors once per edge-contribution and once per node, and
    // drops dangling mass; with 3 rounds the total can only fall SHORT of
    // the unit mass, never exceed it — and not by more than the flooring
    // budget (n + |edges| micro-units per round, generously bounded)
    val total = pr.map(_.getLong(2)).sum
    assert(total <= 1000000L, s"mass exceeded unit: $total")
    assert(total >= 1000000L - 3 * (n + n * n) - 1000L, s"mass lost too much: $total")
  }

  test("weighted sample is layout-independent and plans as TakeOrdered, not a global sort") {
    val base = Tables.documents(spark, sf)
    def sample(df: org.apache.spark.sql.DataFrame) =
      graft.ops.Sampling.weightedSample(df, "doc_id",
        size(split(col("text"), " ")).cast("long"), n = 50, seed = 31)
        .select("doc_id", "key_micro")
    val a = sample(base).collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(a.length === 50)
    // keys non-increasing under the (key desc, id) presentation order
    assert(a.map(_._2).zip(a.map(_._2).drop(1)).forall { case (x, y) => x >= y })
    // membership is content-addressed: any physical layout draws the same rows
    val b = sample(base.repartition(7)).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(b === a, "sample changed under repartition")
    // and the top-n is a TakeOrdered (per-partition heaps), never a global Sort
    val plan = sample(base).queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"),
      "weighted sample must plan as TakeOrderedAndProject")
  }

  test("leak-safe split: near-dup cluster members never straddle the boundary, every doc splits once") {
    val split = graft.ops.Sampling.leakSafeSplit(spark, sf).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getString(2))).toMap
    // total coverage: one decision per document, nothing dropped or duped
    val nDocs = Tables.documents(spark, sf).count()
    assert(split.size.toLong === nDocs)
    // the leakage law: every ≥0.6-Jaccard near-dup pair lands on ONE side
    val pairs = graft.ext.Dedup.ngramJaccardPairs(spark, sf)
      .select("a", "b").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.nonEmpty, "fixture must contain near-dup pairs for the law to bite")
    pairs.foreach { case (a, b) =>
      assert(split(a)._2 === split(b)._2,
        s"near-dup pair ($a,$b) straddles the split boundary")
      assert(split(a)._1 === split(b)._1, s"pair ($a,$b) disagrees on group key")
    }
    // singletons split by their own id — the hashSplit degenerate case
    val clustered = pairs.flatMap(p => Seq(p._1, p._2)).toSet
    split.collect { case (id, (gk, _)) if !clustered.contains(id) =>
      assert(gk === id, s"singleton $id must use its own id as group key")
    }
  }

  test("snapshot diff classifies every id by its slice arithmetic") {
    val diff = graft.ext.Dedup.snapshotDiff(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val ids = Tables.documents(spark, sf).select("doc_id")
      .collect().map(_.getLong(0))
    ids.foreach { id =>
      val expected =
        if (id % 17 == 0 && id % 19 == 0) None // in neither snapshot
        else if (id % 17 == 0) Some("added")
        else if (id % 19 == 0) Some("removed")
        else if (id % 13 == 0) Some("changed")
        else Some("unchanged")
      assert(diff.get(id) === expected, s"doc $id misclassified")
    }
    // all four statuses must actually occur at this fixture size
    assert(diff.values.toSet === Set("added", "removed", "changed", "unchanged"))
  }

  test("global cumulative sum equals the sequential scan, survives relayout, stops at the budget") {
    val d = Tables.documents(spark, sf)
      .select(col("doc_id"), col("n_chars"),
        size(split(col("text"), " ")).cast("long").as("n_tokens"))
    def cums(df: org.apache.spark.sql.DataFrame) =
      graft.ops.Ranking.globalCumSum(df, col("n_chars"), col("doc_id"),
        col("n_tokens"), "cum", buckets = 16)
        .select("doc_id", "cum").collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val got = cums(d)
    // sequential ground truth: sort by (n_chars, doc_id), running add
    val seq = d.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .sortBy(t => (t._2, t._1))
    var acc = 0L
    seq.foreach { case (id, _, w) =>
      acc += w
      assert(got(id) === acc, s"doc $id: cum ${got(id)} != sequential $acc")
    }
    // bucket boundaries are value-derived, not layout-derived
    assert(cums(d.repartition(7)) === got, "cumsum changed under repartition")
    // and the curriculum cut is tight: every kept doc fits, the first
    // excluded one would cross the 60% budget
    val total = acc
    val kept = graft.ops.Sampling.tokenBudgetCurriculum(spark, sf).collect()
    val keptIds = kept.map(_.getLong(0)).toSet
    assert(kept.forall(_.getLong(3) * 10 <= total * 6))
    seq.find(t => !keptIds.contains(t._1)).foreach { case (id, _, _) =>
      assert(got(id) * 10 > total * 6, s"first excluded doc $id was within budget")
    }
  }

  test("source budget cut keeps at most half of each source's tokens off one exchange") {
    val cut = graft.ops.Sampling.sourceBudgetCut(spark, sf)
    val rows = cut.collect()
    val totals = Tables.documents(spark, sf)
      .select(col("source"), size(split(col("text"), " ")).cast("long").as("nt"))
      .groupBy("source").agg(sum("nt").as("t")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    rows.groupBy(_.getString(1)).foreach { case (src, grp) =>
      val kept = grp.map(_.getLong(2)).sum
      assert(kept * 2 <= totals(src), s"$src kept $kept of ${totals(src)} tokens")
      // boundary tight: max cum is within one doc of the budget
      assert(grp.map(_.getLong(3)).max * 2 <= totals(src))
    }
    // every source survives the cut (no source crowded out — the point
    // of the grouped variant) and both windows share one hash exchange
    assert(rows.map(_.getString(1)).distinct.length === totals.size)
    val plan = cut.queryExecution.executedPlan.toString.split("== Initial Plan ==").head
    assert("hashpartitioning".r.findAllIn(plan).size === 1,
      "running and total windows must share one source-keyed exchange")
  }

  test("column stats detect planted nulls and count distincts exactly in one pass") {
    val docs = Tables.documents(spark, sf)
      .withColumn("lang2", when(col("doc_id") % 10 === 0, lit(null: String))
        .otherwise(col("lang")))
      .withColumn("const", lit("k"))
    val stats = graft.ops.Quality.columnStats(docs, Seq("doc_id", "lang2", "const"))
    val byCol = stats.collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getString(3))).toMap
    val expectedNulls = docs.filter(col("doc_id") % 10 === 0).count()
    assert(byCol("lang2")._1 === expectedNulls, "planted nulls missed")
    assert(byCol("const") === ((0L, 1L, "k")), "constant column stats wrong")
    assert(byCol("doc_id")._2 === docs.count(), "doc_id ndv must equal row count")
    // all columns' stats come from ONE aggregate pass: the multi-distinct
    // compiles to a single Expand over a single scan
    val plan = stats.queryExecution.executedPlan.toString.split("== Initial Plan ==").head
    assert("Expand".r.findAllIn(plan).size === 1, "expected one Expand (one pass)")
    assert("Scan parquet".r.findAllIn(plan).size <= 1, "stats must not rescan the table")
  }

  test("approx column stats bound the exact NDV within HLL error and drop the Expand") {
    val cols = Seq("doc_id", "lang", "source", "text")
    val docs = Tables.documents(spark, sf)
    val exact = graft.ops.Quality.columnStats(docs, cols).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getString(3), r.getString(4)))
      .toMap
    val approxDf = graft.ops.Quality.columnStatsApprox(docs, cols)
    val approx = approxDf.collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getString(3), r.getString(4)))
      .toMap
    assert(approx.keySet === exact.keySet)
    cols.foreach { c =>
      // nulls and min/max are still exact — only NDV is sketched
      assert(approx(c)._1 === exact(c)._1, s"$c nulls diverged")
      assert(approx(c)._3 === exact(c)._3 && approx(c)._4 === exact(c)._4,
        s"$c min/max diverged")
      // lgK=12 → standard error 1.04/√4096 ≈ 1.6 %; 5 % (3σ) + 1 abs slack
      val (e, a) = (exact(c)._2, approx(c)._2)
      assert(math.abs(a - e) <= math.max(1L, (e * 0.05).toLong),
        s"$c approx ndv $a vs exact $e exceeds the HLL error bound")
    }
    // the plan law IS the operator's reason to exist: exact multi-distinct
    // compiles to an Expand (×|cols| row multiplication before the partial
    // aggregate); the sketch mode must not
    val plan = approxDf.queryExecution.executedPlan.toString.split("== Initial Plan ==").head
    assert(!plan.contains("Expand"), "approx stats must not compile to an Expand")
    assert("Scan parquet".r.findAllIn(plan).size <= 1, "stats must not rescan the table")
  }

  test("constraint audit fires on planted orphans, duplicates, and domain breaks") {
    val orders = Tables.orders(spark, sf)
    val customer = Tables.customer(spark, sf)
    val lineitem = Tables.lineitem(spark, sf)
    val part = Tables.part(spark, sf)
    val supplier = Tables.supplier(spark, sf)
    def audit(o: org.apache.spark.sql.DataFrame, li: org.apache.spark.sql.DataFrame) =
      graft.ops.Quality.constraintAuditOf(o, customer, li, part, supplier)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val clean = audit(orders, lineitem)
    // corrupt: 3 orders pointing at a customer that doesn't exist, one
    // duplicated order row, 2 lineitems with non-positive quantity
    val badOrders = orders.unionByName(
      orders.limit(3).withColumn("o_custkey", lit(-999L).cast(
        orders.schema("o_custkey").dataType)))
      .unionByName(orders.limit(1))
    val badLi = lineitem.unionByName(
      lineitem.limit(2).withColumn("l_quantity", lit(-5).cast(
        lineitem.schema("l_quantity").dataType)))
    val dirty = audit(badOrders, badLi)
    assert(dirty("fk_orders_customer") === clean("fk_orders_customer") + 3)
    assert(dirty("pk_orders") === clean("pk_orders") + 1 + 3,
      "duplicated row + re-keyed copies must all count as PK dups")
    assert(dirty("chk_lineitem_qty_positive") === clean("chk_lineitem_qty_positive") + 2)
    // untouched checks stay untouched except denominators
    assert(dirty("fk_lineitem_part") === clean("fk_lineitem_part"))
  }

  test("bootstrap replicas resample around the point estimate, layout-free") {
    val docs = Tables.documents(spark, sf)
    val n = docs.count()
    val pointMean = docs.select(size(split(col("text"), " ")).cast("long"))
      .collect().map(_.getLong(0)).sum.toDouble / n
    val rows = graft.ops.Sampling.bootstrapMeans(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(rows.length === 32)
    // Poisson(1) multiplicities: each replica's effective size concentrates
    // near n (±5·sqrt(n) is > 5 sigma for the capped tail)
    rows.foreach { case (rep, nEff, _) =>
      assert(math.abs(nEff - n) <= 5 * math.sqrt(n.toDouble) + 5,
        s"replica $rep: n_eff $nEff far from $n")
    }
    // replica means scatter AROUND the point estimate: the point mean must
    // sit inside the replica range, and the replicas must actually vary
    val means = rows.map(_._3 / 10000d)
    assert(means.min <= pointMean && pointMean <= means.max,
      s"point mean $pointMean outside replica range ${means.min}..${means.max}")
    assert(means.distinct.length > 1, "replicas degenerate: no resampling variance")
    // determinism is content-addressed: a relayout draws identical replicas
    // (bucket10k is a pure function of (doc_id, replica))
  }

  test("weighted median balances the weight on each side and fuses its windows") {
    val wm = graft.queries.Analytics.weightedMedian(spark, sf)
    val got = wm.collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    val rows = Tables.lineitem(spark, sf)
      .select(col("l_returnflag"), col("l_extendedprice"),
        col("l_quantity").cast("long"))
      .collect().map(r => (r.getString(0), r.getDouble(1), r.getLong(2)))
    rows.groupBy(_._1).foreach { case (flag, grp) =>
      val total = grp.map(_._3).sum
      val (medE2, gotTotal) = got(flag)
      assert(gotTotal === total)
      val med = medE2 / 100d
      // defining property of the lower weighted median: weight strictly
      // below it is < half, weight at-or-below reaches half
      val below = grp.filter(t => math.floor(t._2 * 100 + 0.5) < medE2).map(_._3).sum
      val atOrBelow = grp.filter(t => math.floor(t._2 * 100 + 0.5) <= medE2).map(_._3).sum
      assert(below * 2 < total, s"$flag: $below of $total strictly below median $med")
      assert(atOrBelow * 2 >= total, s"$flag: median $med too low")
    }
    // running and total weights ride one flag-keyed exchange (x115 fusion)
    val plan = wm.queryExecution.executedPlan.toString.split("== Initial Plan ==").head
    assert("hashpartitioning".r.findAllIn(plan).size === 1,
      "cumulative and total weight windows must share one exchange")
  }

  test("Benford audit: digit grid complete, shares recompute, expectations sum to one") {
    val rows = graft.ops.Quality.benfordAudit(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(rows.map(_._1).toSeq === (1L to 9L))
    val n = rows.map(_._2).sum
    assert(n === graft.Tables.orders(spark, sf).count())
    rows.foreach { case (d, nd, obs, exp, dev) =>
      assert(obs === math.floor(nd * 1000000L / n.toDouble + 0.5).toLong, s"digit $d obs")
      assert(exp === math.floor(math.log(1d + 1d / d) / math.log(10d) * 1e6 + 0.5).toLong,
        s"digit $d expected share")
      assert(dev === math.abs(obs - exp))
    }
    // Benford expectations are a probability distribution on the e6 grid
    val expSum = rows.map(_._4).sum
    assert(math.abs(expSum - 1000000L) <= 9L, s"expected shares sum to $expSum")
  }

  test("k-anonymity audit reports exactly the below-k groups with their shares") {
    val k = 8L
    val got = graft.ops.Quality.kAnonymityAudit(spark, sf, k).collect()
      .map(r => (r.getLong(0), r.getString(1)) -> (r.getLong(2), r.getLong(3), r.getLong(4)))
      .toMap
    val all = graft.Tables.customer(spark, sf)
      .select("c_nationkey", "c_mktsegment").collect()
      .map(r => (r.getInt(0).toLong, r.getString(1)))
      .groupBy(identity).view.mapValues(_.size.toLong).toMap
    val pop = all.values.sum
    assert(got.keySet === all.filter(_._2 < k).keySet, "risky-group set mismatch")
    got.foreach { case (qid, (n, share, gotK)) =>
      assert(n === all(qid) && n < k && gotK === k)
      assert(share === math.floor(n * 1000000L / pop.toDouble + 0.5).toLong, s"$qid share")
    }
  }

  test("purged temporal split partitions the span with an exact embargo band") {
    val rows = graft.ops.Sampling.purgedTemporalSplit(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    assert(rows.nonEmpty)
    val (lo, hi) = (rows.map(_._2).min, rows.map(_._2).max)
    val cut = lo + (hi - lo) * 8 / 10
    rows.foreach { case (k, day, split) =>
      val expect =
        if (day >= cut) "test" else if (day < cut - 7) "train" else "purged"
      assert(split === expect, s"order $k day $day: $split != $expect")
    }
    // all three buckets populated, and they are temporally DISJOINT:
    // every train day strictly precedes every purged day precedes every test day
    val byS = rows.groupBy(_._3).view.mapValues(_.map(_._2)).toMap
    assert(byS.keySet === Set("train", "purged", "test"))
    assert(byS("train").max < byS("purged").min, "train/purge overlap")
    assert(byS("purged").max < byS("test").min, "purge/test leak")
    // the embargo band spans at most 7 distinct days right below the cut
    assert(byS("purged").distinct.forall(d => d >= cut - 7 && d < cut))
    // membership is a pure function of the row's date — rerun is identical
    val again = graft.ops.Sampling.purgedTemporalSplit(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    assert(again.toSeq === rows.toSeq)
  }

  test("group OLS matches the driver-side normal-equation recomputation") {
    val got = graft.queries.Analytics.groupOls(spark, sf).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .toMap
    assert(got.nonEmpty)
    val raw = graft.Tables.lineitem(spark, sf)
      .select("l_returnflag", "l_quantity", "l_extendedprice").collect()
      .map(r => (r.getString(0),
        math.floor(r.getDouble(1) * 100d + 0.5d).toLong,
        math.floor(r.getDouble(2) * 100d + 0.5d).toLong))
    raw.groupBy(_._1).foreach { case (flag, rows) =>
      val n = rows.length.toLong
      val (sx, sy) = (rows.map(_._2).sum, rows.map(_._3).sum)
      // exact moments in BigInt — the spec must not inherit the overflow
      // the operator's DECIMAL(38,0) widening exists to prevent
      val sxy = rows.map(t => BigInt(t._2) * t._3).sum
      val sxx = rows.map(t => BigInt(t._2) * t._2).sum
      val syy = rows.map(t => BigInt(t._3) * t._3).sum
      val a = (BigInt(n) * sxy - BigInt(sx) * sy).toDouble
      val b = (BigInt(n) * sxx - BigInt(sx) * sx).toDouble
      val c = (BigInt(n) * syy - BigInt(sy) * sy).toDouble
      val ic = (BigInt(sy) * sxx - BigInt(sx) * sxy).toDouble
      val (gn, slope, icept, r2) = got(flag)
      assert(gn === n)
      assert(slope === math.floor(a / b * 1e6 + 0.5).toLong, s"$flag slope")
      assert(icept === math.floor(ic / b + 0.5).toLong, s"$flag intercept")
      assert(r2 === math.floor((a * a) / (b * c) * 1e6 + 0.5).toLong, s"$flag r2")
      // r² is a proportion of variance: [0, 1] on the e6 grid (+1 rounding)
      assert(r2 >= 0L && r2 <= 1000001L, s"$flag r2 $r2 out of [0, 1e6]")
    }
  }

  test("winsorized revenue clips at most the tail mass and bounds the clipped sum") {
    val w = graft.queries.Analytics.winsorizedRevenue(spark, sf)
    val rows = w.collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (p05, p95) = (r.getDouble(1), r.getDouble(2))
      val (nLo, nHi, wsum, n) =
        (r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6))
      assert(p05 <= p95, s"flag ${r.getString(0)}: p05 > p95")
      // quantile_cont interpolates between order statistics, so strictly
      // fewer than 5%·n + 1 rows can sit strictly outside either bound
      assert(nLo <= (0.05 * n).toLong + 1, s"clipped too many low: $nLo of $n")
      assert(nHi <= (0.05 * n).toLong + 1, s"clipped too many high: $nHi of $n")
      // every clipped value lies in [p05, p95]; the e4 flooring loses < 1
      // unit per row, so the integer sum is bracketed by the bounds ± n
      assert(wsum >= (p05 * 10000d).toLong * n - n, "winsorized sum below floor")
      assert(wsum <= (p95 * 10000d + 1d).toLong * n + n, "winsorized sum above ceiling")
    }
    // the |groups|-row bounds frame must come back as a broadcast join,
    // never a fact-sized shuffle for the join
    val plan = w.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      "bounds re-join must broadcast the per-group percentile frame")
  }

  test("incremental agg refresh: equals recompute, admits delta-only keys, never rescans the base table") {
    val merged = graft.ops.Merge.incrementalAgg(spark, sf)
    val got = merged.collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    // refresh ≡ from-scratch recompute, key for key
    val full = Tables.orders(spark, sf)
      .select(col("o_custkey"),
        round(col("o_totalprice") * 100, 0).cast("long").as("cents"))
      .groupBy("o_custkey")
      .agg(count(lit(1)).as("n"), sum(col("cents")).as("s"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(got === full)
    // a customer whose orders are ALL in the delta batch (every key % 10
    // == 7) must land with exactly its delta aggregate via the FULL OUTER
    val deltaOnly = Tables.orders(spark, sf)
      .groupBy("o_custkey")
      .agg(count(lit(1)).as("n"),
        sum(when(col("o_orderkey") % 10 === 7, 1).otherwise(0)).as("in_delta"))
      .filter(col("n") === col("in_delta"))
      .select("o_custkey").collect().map(_.getLong(0))
    deltaOnly.foreach(k => assert(got.contains(k), s"delta-only customer $k dropped"))
    // the refresh plan reads ONLY the staged state + arrivals files —
    // zero scans of the base orders parquet (O(history) never re-paid)
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    def fileScans(p: SparkPlan): Seq[FileSourceScanExec] = p.collect {
      case f: FileSourceScanExec => Seq(f)
      case a: AdaptiveSparkPlanExec => fileScans(a.executedPlan)
      case q: QueryStageExec => fileScans(q.plan)
    }.flatten
    val scans = fileScans(merged.queryExecution.executedPlan)
    assert(scans.nonEmpty, "expected state+delta file scans in the refresh plan")
    // assert against the suite's ACTUAL data dir, not a literal — a
    // relocated sf dir must fail this law, never pass it vacuously
    val baseDir = new java.io.File(sf).getCanonicalPath
    scans.foreach { f =>
      val loc = f.relation.location.rootPaths.mkString(",")
      assert(!loc.contains(baseDir),
        s"refresh plan rescans the base table: $loc")
    }
  }

  /** Per-customer lifetime cents via the operator's own rounding kernel —
    * the a35/a36 recomputation laws test the ranking/score ALGEBRA, not
    * the e2 quantization (already pinned by the a33 oracle family).
    */
  private def custCents(): Array[(Long, Long, Long, Long)] =
    graft.Tables.orders(spark, sf)
      .select(col("o_custkey"),
        floor(unix_micros(col("o_orderdate")) / 86400000000L).cast("long").as("day"),
        round(col("o_totalprice") * 100, 0).cast("long").as("cents"))
      .groupBy("o_custkey")
      .agg(sum("cents").as("cents"), count(lit(1)).as("n_orders"),
        max("day").as("last_day"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))

  test("Gini/Lorenz matches the driver-side closed-form recomputation") {
    val got = graft.queries.Analytics.giniLorenz(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(got.map(_._1).toSeq === (0L until 10L).toSeq, "expected one row per decile")
    val cust = custCents().map(t => (t._1, t._2)).sortBy(c => (c._2, c._1))
    val n = cust.length.toLong
    val s0 = cust.map(c => BigInt(c._2)).sum
    // exact BigInt moments — the spec must not inherit the overflow the
    // operator's DECIMAL(38,0) widening exists to prevent
    val s1 = cust.zipWithIndex.map { case ((_, c), i) => BigInt(i + 1) * c }.sum
    val expGini = math.floor(
      (BigInt(2) * s1 - BigInt(n + 1) * s0).toDouble / (BigInt(n) * s0).toDouble
        * 1e6 + 0.5).toLong
    assert(got.head._5 === expGini, "gini_e6 mismatch")
    // ascending order makes Gini nonnegative; e6 grid caps at 1e6
    assert(expGini >= 0L && expGini <= 1000000L)
    // decile populations, sums, and cumulative shares recompute exactly
    val byDecile = cust.zipWithIndex.groupBy { case (_, i) => (i.toLong * 10) / n }
    var cum = BigInt(0)
    got.foreach { case (dec, nCust, rev, cumShare, _) =>
      val rows = byDecile(dec)
      assert(nCust === rows.length.toLong, s"decile $dec population")
      val revExp = rows.map { case ((_, c), _) => BigInt(c) }.sum
      assert(BigInt(rev) === revExp, s"decile $dec revenue")
      cum += revExp
      assert(cumShare ===
        math.floor(cum.toDouble / s0.toDouble * 1e6 + 0.5).toLong, s"decile $dec share")
    }
    assert(got.last._4 === 1000000L, "final cumulative share must be 100%")
  }

  test("RFM segments match the full driver-side rank recomputation") {
    val got = graft.queries.Analytics.rfmSegments(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)) -> (r.getLong(3), r.getLong(4)))
      .toMap
    assert(got.nonEmpty)
    val cust = custCents()
    val n = cust.length.toLong
    val maxDay = cust.map(_._4).max
    def score(rnk: Long): Long = ((rnk - 1) * 5) / n + 1
    def ranks(key: Long => Long): Map[Long, Long] =
      cust.map(_._1).sortBy(k => (key(k), k))
        .zipWithIndex.map { case (k, i) => k -> (i + 1L) }.toMap
    val prof = cust.map(t => t._1 -> t).toMap
    val rRnk = ranks(k => -(maxDay - prof(k)._4)) // recency desc ≡ negated gap asc
    val fRnk = ranks(k => prof(k)._3)
    val mRnk = ranks(k => prof(k)._2)
    val exp = cust.groupBy(t => (score(rRnk(t._1)), score(fRnk(t._1)), score(mRnk(t._1))))
      .map { case (seg, rows) =>
        val cents = rows.map(r => BigInt(r._2)).sum
        seg -> (rows.length.toLong,
          math.floor(cents.toDouble / rows.length.toDouble + 0.5).toLong)
      }
    assert(got === exp, "segment table mismatch")
    // every score is a quintile label and the segment populations cover n
    got.keys.foreach { case (r, f, m) =>
      Seq(r, f, m).foreach(s => assert(s >= 1L && s <= 5L)) }
    assert(got.values.map(_._1).sum === n)
  }

  test("seasonal decomposition recomputes exactly and the additive identity holds") {
    val got = graft.queries.Analytics.seasonalDecomp(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))
    assert(got.nonEmpty)
    // the e2-grid identity is exact by construction — assert it anyway:
    // a rounding regression in either component must surface here
    got.foreach { case (day, dow, cents, trend, seas, resid) =>
      assert(dow === ((day % 7 + 7) % 7), s"day $day dow")
      assert(cents === trend + seas + resid, s"day $day identity")
    }
    // full driver recomputation over the dense grid via the operator's
    // own quantization kernel
    val daily = graft.Tables.orders(spark, sf)
      .select(floor(unix_micros(col("o_orderdate")) / 86400000000L)
        .cast("long").as("day"),
        round(col("o_totalprice") * 100, 0).cast("long").as("cents"))
      .groupBy("day").agg(sum("cents").as("cents")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    val lo = daily.keys.min
    val hi = daily.keys.max
    val dense = (lo to hi).map(d => d -> daily.getOrElse(d, 0L)).toMap
    val expRows = ((lo + 3) to (hi - 3)).map { d =>
      val sum7 = (-3L to 3L).map(o => BigInt(dense(d + o))).sum
      (d, dense(d), sum7, BigInt(dense(d)) * 7 - sum7)
    }
    assert(got.map(_._1).toSeq === expRows.map(_._1), "full-window day set")
    val seasExp = expRows.groupBy(_._1 % 7).map { case (dow, rows) =>
      val s = rows.map(_._4).sum
      dow -> math.floor(s.toDouble / (rows.length * 7).toDouble + 0.5).toLong
    }
    val gotByDay = got.map(r => r._1 -> r).toMap
    expRows.foreach { case (d, x, sum7, _) =>
      val (_, _, gotCents, gotTrend, gotSeas, _) = gotByDay(d)
      assert(gotCents === x, s"day $d cents")
      assert(gotTrend === math.floor(sum7.toDouble / 7d + 0.5).toLong, s"day $d trend")
      assert(gotSeas === seasExp(d % 7), s"day $d seasonal")
    }
  }

  test("effective sample size recomputes exactly and lives on [1, n]") {
    val row = graft.ops.Sampling.weightEss(spark, sf).collect().head
    val (n, sw, sw2, ess, ratio) = (row.getLong(0), row.getLong(1),
      row.getLong(2), row.getLong(3), row.getLong(4))
    val ws = graft.Tables.documents(spark, sf).select("text").collect()
      .map(r => r.getString(0).split(" ", -1).length.toLong)
    assert(n === ws.length.toLong)
    assert(BigInt(sw) === ws.map(BigInt(_)).sum)
    assert(BigInt(sw2) === ws.map(w => BigInt(w) * w).sum)
    val essExp = sw.toDouble * sw.toDouble / sw2.toDouble
    assert(ess === math.floor(essExp * 1000d + 0.5).toLong)
    assert(ratio === math.floor(essExp / n.toDouble * 1000000d + 0.5).toLong)
    // Kish ESS is bounded by [1, n] (Cauchy–Schwarz); equal weights hit n
    assert(ess >= 1000L && ess <= n * 1000L + 1)
    assert(ratio <= 1000001L)
  }

  test("key-skew profile recomputes exactly; shares and Gini cohere") {
    val row = graft.ops.Skew.keySkewProfile(spark, sf).collect().head
    val (nKeys, nRows, top1, top10, gini) =
      (row.getLong(0), row.getLong(1), row.getLong(2), row.getLong(3), row.getLong(4))
    val counts = graft.Tables.lineitem(spark, sf)
      .groupBy("l_partkey").agg(count(lit(1)).as("n")).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(nKeys === counts.length.toLong)
    assert(nRows === counts.map(_._2).sum)
    val sorted = counts.sortBy(c => (c._2, c._1)).map(_._2)
    assert(top1 === math.floor(
      sorted.last.toDouble / nRows.toDouble * 1e6 + 0.5).toLong, "top-1 share")
    assert(top10 === math.floor(
      sorted.takeRight(10).sum.toDouble / nRows.toDouble * 1e6 + 0.5).toLong,
      "top-10 share")
    val s1 = sorted.zipWithIndex.map { case (n, i) => BigInt(i + 1) * n }.sum
    assert(gini === math.floor(
      (BigInt(2) * s1 - BigInt(nKeys + 1) * nRows).toDouble
        / (BigInt(nKeys) * nRows).toDouble * 1e6 + 0.5).toLong, "Gini")
    // coherence: top-10 dominates top-1; both live on [0, 1e6];
    // Gini of a count distribution is in [0, 1)
    assert(top10 >= top1 && top10 <= 1000000L)
    assert(gini >= 0L && gini < 1000000L)
  }

  test("ABC classes partition revenue at the exact Pareto boundaries") {
    val got = graft.ops.Encoding.abcClasses(spark, sf).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
      .toMap
    val rev = graft.Tables.lineitem(spark, sf)
      .select(col("l_partkey"),
        floor(col("l_extendedprice") * 100d + 0.5d).cast("long").as("r"))
      .groupBy("l_partkey").agg(sum("r").as("rev")).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val tot = rev.map(r => BigInt(r._2)).sum
    var cum = BigInt(0)
    val exp = rev.sortBy(r => (-r._2, r._1)).map { case (_, v) =>
      cum += v
      val cls = if (cum * 10 <= tot * 7) "A" else if (cum * 10 <= tot * 9) "B" else "C"
      (cls, v)
    }.groupBy(_._1).map { case (cls, rows) =>
      val s = rows.map(r => BigInt(r._2)).sum
      cls -> (rows.length.toLong, s,
        math.floor(s.toDouble / tot.toDouble * 1e6 + 0.5).toLong)
    }
    assert(got.map { case (k, v) => k -> (v._1, BigInt(v._2), v._3) } === exp,
      "ABC table mismatch")
    // the classes partition the whole key set and the whole revenue
    assert(got.values.map(_._1).sum === rev.length.toLong)
    assert(got.values.map(v => BigInt(v._2)).sum === tot)
    // Pareto ordering: per-part A revenue dominates B dominates C
    def perPart(c: String) = got.get(c).map(v => v._2.toDouble / v._1)
    for (a <- perPart("A"); b <- perPart("B")) assert(a > b)
    for (b <- perPart("B"); cc <- perPart("C")) assert(b > cc)
  }

  test("2-D density grid recomputes exactly and covers every row once") {
    val got = graft.ops.Encoding.densityGrid(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(got.size === 100, "dense 10x10 grid")
    val rows = graft.Tables.lineitem(spark, sf)
      .select("l_quantity", "l_extendedprice").collect()
      .map(r => (math.floor(r.getDouble(0) * 100d + 0.5d).toLong,
        math.floor(r.getDouble(1) * 100d + 0.5d).toLong))
    val qmax = rows.map(_._1).max
    val pmax = rows.map(_._2).max
    val exp = rows.groupBy { case (q, p) =>
      (math.min(9L, q * 10 / (qmax + 1)), math.min(9L, p * 10 / (pmax + 1)))
    }.map { case (k2, v) => k2 -> v.length.toLong }
    got.foreach { case (cell, n) =>
      assert(n === exp.getOrElse(cell, 0L), s"cell $cell count") }
    // mass conservation: the grid partitions the fact exactly
    assert(got.values.sum === rows.length.toLong)
  }

  test("basket dispersion recomputes exactly and is nonnegative") {
    val row = graft.queries.Analytics.basketDispersion(spark, sf).collect().head
    val (nOrders, nLines, meanE4, varE4, dispE6) =
      (row.getLong(0), row.getLong(1), row.getLong(2), row.getLong(3), row.getLong(4))
    val sizes = graft.Tables.lineitem(spark, sf)
      .groupBy("l_orderkey").agg(count(lit(1)).as("n")).collect()
      .map(_.getLong(1))
    assert(nOrders === sizes.length.toLong)
    assert(nLines === sizes.sum)
    val a = (BigInt(nOrders) * sizes.map(n => BigInt(n) * n).sum
      - BigInt(nLines) * nLines).toDouble
    assert(meanE4 === math.floor(nLines.toDouble / nOrders.toDouble * 1e4 + 0.5).toLong)
    assert(varE4 === math.floor(
      a / (BigInt(nOrders) * nOrders).toDouble * 1e4 + 0.5).toLong)
    assert(dispE6 === math.floor(
      a / (BigInt(nOrders) * nLines).toDouble * 1e6 + 0.5).toLong)
    // population variance and the dispersion index are nonnegative
    assert(varE4 >= 0L && dispE6 >= 0L)
  }

  test("HHI concentration recomputes exactly and respects its bounds") {
    val got = graft.queries.Analytics.hhiConcentration(spark, sf).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
      .toMap
    // independent recomputation: e2·e2 integer revenue (price and discount
    // both have exactly 2 dp, so p·(1−d) is an exact e4 integer)
    val rev = graft.Tables.lineitem(spark, sf)
      .select("l_suppkey", "l_extendedprice", "l_discount").collect()
      .map(r => (r.getLong(0),
        BigInt(math.floor(r.getDouble(1) * 100d + 0.5d).toLong) *
          (100 - math.floor(r.getDouble(2) * 100d + 0.5d).toLong)))
      .groupBy(_._1).map { case (k, v) => k -> v.map(_._2).sum }
    val supNation = graft.Tables.supplier(spark, sf)
      .select("s_suppkey", "s_nationkey").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val nationName = graft.Tables.nation(spark, sf)
      .select("n_nationkey", "n_name").collect()
      .map(r => r.getInt(0) -> r.getString(1)).toMap
    val exp = rev.toSeq.groupBy { case (sk, _) => nationName(supNation(sk)) }
      .map { case (name, rows) =>
        val t = rows.map(_._2).sum
        val s2 = rows.map(r => r._2 * r._2).sum
        name -> (rows.length.toLong,
          math.floor(rows.map(_._2).max.toDouble / t.toDouble * 1e6 + 0.5).toLong,
          math.floor(s2.toDouble / (t * t).toDouble * 1e6 + 0.5).toLong)
      }
    assert(got === exp, "HHI table mismatch")
    // coherence: HHI lives on [1e6/n, 1e6]; Σs² ≥ s_top² and Σs² ≤ s_top·Σs
    // bracket it by the top share (±1 ulp of the e6 rounding)
    got.values.foreach { case (n, top, hhi) =>
      assert(hhi >= 1000000L / n - 1 && hhi <= 1000000L)
      assert(hhi >= top * top / 1000000L - 1, "HHI below top-share^2")
      assert(hhi <= top + 1, "HHI above top share")
    }
  }

  test("rank-sum AUC equals the brute-force pairwise probability") {
    val row = graft.queries.Ext.all("x194_auc_ranksum")(spark, sf).collect().head
    val (nPos, nNeg, aucE6, dE6) =
      (row.getLong(0), row.getLong(1), row.getLong(2), row.getLong(3))
    val scored = graft.Tables.lineitem(spark, sf)
      .select("l_extendedprice", "l_returnflag").collect()
      .map(r => (math.floor(r.getDouble(0) * 100d + 0.5d).toLong,
        r.getString(1) == "R"))
    val pos = scored.filter(_._2).map(_._1)
    val neg = scored.filterNot(_._2).map(_._1)
    assert(nPos === pos.length.toLong && nNeg === neg.length.toLong)
    // brute force: Σ over all (pos, neg) pairs of 1[p>n] + ½·1[p=n] —
    // counted in half-units so everything stays integral
    var u2 = BigInt(0)
    for (p <- pos; n <- neg)
      u2 += (if (p > n) 2 else if (p == n) 1 else 0)
    val expAuc = math.floor(
      u2.toDouble / (2d * pos.length * neg.length) * 1e6 + 0.5).toLong
    assert(aucE6 === expAuc, "AUC mismatch vs brute force")
    assert(aucE6 >= 0L && aucE6 <= 1000000L)
    // Somers' D is an affine image of AUC (independent roundings: ±2 ulp)
    assert(math.abs(dE6 - (2L * aucE6 - 1000000L)) <= 2L)
  }

  test("KS statistic equals the direct sorted-scan ECDF gap") {
    val row = graft.queries.Ext.all("x195_ks_test")(spark, sf).collect().head
    val (n1, n2, argmax, dE6) =
      (row.getLong(0), row.getLong(1), row.getLong(2), row.getLong(3))
    val scored = graft.Tables.lineitem(spark, sf)
      .select("l_extendedprice", "l_returnflag").collect()
      .map(r => (math.floor(r.getDouble(0) * 100d + 0.5d).toLong,
        r.getString(1) == "R"))
    val g1 = scored.filter(_._2).map(_._1)
    val g2 = scored.filterNot(_._2).map(_._1)
    assert(n1 === g1.length.toLong && n2 === g2.length.toLong)
    // direct sorted scan over distinct values, gaps cross-multiplied
    val values = scored.map(_._1).distinct.sorted
    var c1 = 0L; var c2 = 0L
    var best = BigInt(-1); var bestV = Long.MaxValue
    val cnt1 = g1.groupBy(identity).map { case (k, v) => k -> v.length }
    val cnt2 = g2.groupBy(identity).map { case (k, v) => k -> v.length }
    for (v <- values) {
      c1 += cnt1.getOrElse(v, 0)
      c2 += cnt2.getOrElse(v, 0)
      val gap = (BigInt(c1) * g2.length - BigInt(c2) * g1.length).abs
      if (gap > best) { best = gap; bestV = v }
    }
    assert(argmax === bestV, "KS argmax location mismatch")
    assert(dE6 === math.floor(
      best.toDouble / (g1.length.toDouble * g2.length.toDouble) * 1e6 + 0.5).toLong)
    // D is a proper distance on [0, 1]
    assert(dE6 >= 0L && dE6 <= 1000000L)
  }

  test("Spearman correlation equals Pearson over driver-computed midranks") {
    val row = graft.queries.Analytics.spearmanCorr(spark, sf).collect().head
    val (n, rhoE6) = (row.getLong(0), row.getLong(1))
    val rows = graft.Tables.lineitem(spark, sf)
      .select("l_quantity", "l_extendedprice").collect()
      .map(r => (math.floor(r.getDouble(0) * 100d + 0.5d).toLong,
        math.floor(r.getDouble(1) * 100d + 0.5d).toLong))
    assert(n === rows.length.toLong)
    // doubled midranks computed independently (sorted scan per column)
    def mr2(vs: Array[Long]): Map[Long, Long] = {
      val cnt = vs.groupBy(identity).map { case (k, v) => k -> v.length.toLong }
      var below = 0L
      cnt.keys.toArray.sorted.map { v =>
        val m = 2L * below + cnt(v) + 1L
        below += cnt(v)
        v -> m
      }.toMap
    }
    val mx = mr2(rows.map(_._1)); val my = mr2(rows.map(_._2))
    val xs = rows.map(r => BigInt(mx(r._1))); val ys = rows.map(r => BigInt(my(r._2)))
    val (sx, sy) = (xs.sum, ys.sum)
    val sxy = xs.zip(ys).map { case (a, b) => a * b }.sum
    val sxx = xs.map(a => a * a).sum; val syy = ys.map(a => a * a).sum
    val bn = BigInt(n)
    val exp = math.floor(
      (bn * sxy - sx * sy).toDouble
        / math.sqrt((bn * sxx - sx * sx).toDouble)
        / math.sqrt((bn * syy - sy * sy).toDouble) * 1e6 + 0.5).toLong
    assert(rhoE6 === exp, "Spearman mismatch vs driver midranks")
    assert(rhoE6 >= -1000000L && rhoE6 <= 1000000L)
  }

  test("quantile bins follow NTILE allocation and cover the sorted multiset") {
    val got = graft.ops.Encoding.quantileBins(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(got.map(_._1).toSeq === (1L to 10L), "ten dense bins")
    val vs = graft.Tables.lineitem(spark, sf)
      .select("l_extendedprice").collect()
      .map(r => math.floor(r.getDouble(0) * 100d + 0.5d).toLong).sorted
    val n = vs.length; val q = n / 10; val r = n % 10
    var off = 0
    got.foreach { case (bin, cnt, mn, mx) =>
      val size = if (bin <= r) q + 1 else q
      assert(cnt === size.toLong, s"bin $bin size")
      assert(mn === vs(off), s"bin $bin min is the order statistic")
      assert(mx === vs(off + size - 1), s"bin $bin max is the order statistic")
      off += size
    }
    assert(off === n, "bins cover every row exactly once")
    // boundaries are monotone: within-bin min ≤ max, and adjacent bins
    // never interleave (a tie run may straddle, so equality is allowed)
    got.foreach { case (_, _, mn, mx) => assert(mn <= mx) }
    got.sliding(2).foreach {
      case Array(a, b) => assert(a._4 <= b._3)
      case _ =>
    }
  }

  test("Mann-Kendall statistic and tie-corrected z recompute exactly") {
    val row = graft.queries.Analytics.mannKendall(spark, sf).collect().head
    val (nDays, nPairs, s, zE4) =
      (row.getLong(0), row.getLong(1), row.getLong(2), row.getLong(3))
    val daily = graft.queries.Analytics.dailyRevenue(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    assert(nDays === daily.length.toLong)
    assert(nPairs === daily.length.toLong * (daily.length - 1) / 2)
    var expS = 0L
    for (i <- daily.indices; j <- (i + 1) until daily.length)
      expS += java.lang.Long.signum(daily(j)._2 - daily(i)._2).toLong
    assert(s === expS, "S mismatch vs driver pair scan")
    val n = daily.length.toLong
    val tieTerm = daily.groupBy(_._2).values
      .map(g => { val t = g.length.toLong; t * (t - 1) * (2 * t + 5) }).sum
    val varS = (n * (n - 1) * (2 * n + 5) - tieTerm).toDouble / 18d
    val expZ = math.floor(
      (s.toDouble - math.signum(s.toDouble)) / math.sqrt(varS) * 1e4 + 0.5).toLong
    assert(zE4 === expZ, "z mismatch")
  }

  test("cross-correlation: lag counts span the dense grid and lag 0 is the aligned Pearson") {
    val got = graft.ext.Events.crossCorrDaily(spark, sf).collect()
      .map(r => r.getLong(0) -> (r.getLong(1),
        if (r.isNullAt(2)) None else Some(r.getLong(2)))).toMap
    assert(got.keySet === (-7L to 7L).toSet, "all 15 lags present")
    // dense span: n(lag) = span - |lag|
    val ev = graft.Tables.events(spark, sf)
      .select(expr("floor(unix_micros(ts) / 86400000000)").cast("long").as("day"),
        col("event_type"),
        expr("floor(value * 1000 + 0.5)").cast("long").as("v")).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    val lo = ev.map(_._1).min; val hi = ev.map(_._1).max
    val span = hi - lo + 1
    got.foreach { case (lag, (n, _)) => assert(n === span - math.abs(lag)) }
    // lag 0 equals the direct aligned Pearson over zero-filled series
    def series(t: String): Map[Long, Long] =
      ev.filter(_._2 == t).groupBy(_._1).map { case (d, g) => d -> g.map(_._3).sum }
    val ca = series("click"); val cb = series("purchase")
    val xs = (lo to hi).map(d => BigInt(ca.getOrElse(d, 0L)))
    val ys = (lo to hi).map(d => BigInt(cb.getOrElse(d, 0L)))
    val bn = BigInt(span)
    val (sx, sy) = (xs.sum, ys.sum)
    val sxy = xs.zip(ys).map { case (a, b) => a * b }.sum
    val sxx = xs.map(a => a * a).sum; val syy = ys.map(a => a * a).sum
    val exp = math.floor(
      (bn * sxy - sx * sy).toDouble
        / math.sqrt((bn * sxx - sx * sx).toDouble * (bn * syy - sy * sy).toDouble)
        * 1e6 + 0.5).toLong
    assert(got(0L)._2 === Some(exp), "lag-0 Pearson mismatch")
    got.values.foreach { case (_, r) =>
      r.foreach(v => assert(v >= -1000000L && v <= 1000000L)) }
  }

  test("FD audit: g3 and violation counts recompute exactly; PKs hold") {
    val got = graft.ops.Quality.fdAudit(spark, sf).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .toMap
    def recompute(df: org.apache.spark.sql.DataFrame,
                  lhs: String, rhs: String): (Long, Long, Long, Long) = {
      val pairs = df.select(col(lhs).cast("string"), col(rhs).cast("string"))
        .collect().map(r => (r.getString(0), r.getString(1)))
      val byL = pairs.groupBy(_._1)
      val n = pairs.length.toLong
      val viol = byL.values.count(g => g.map(_._2).distinct.length > 1).toLong
      val keep = byL.values.map(g =>
        g.groupBy(_._2).values.map(_.length).max.toLong).sum
      (n, byL.size.toLong, viol,
        math.floor((n - keep).toDouble / n.toDouble * 1e6 + 0.5).toLong)
    }
    assert(got("orders.o_orderkey->o_custkey")._3 === 0L, "PK FD must hold")
    assert(got("customer.c_custkey->c_nationkey")._3 === 0L, "PK FD must hold")
    assert(got("lineitem.l_orderkey->l_suppkey") ===
      recompute(graft.Tables.lineitem(spark, sf), "l_orderkey", "l_suppkey"))
    assert(got("part.p_brand->p_type") ===
      recompute(graft.Tables.part(spark, sf), "p_brand", "p_type"))
    assert(got("customer.c_mktsegment->c_nationkey") ===
      recompute(graft.Tables.customer(spark, sf), "c_mktsegment", "c_nationkey"))
    // a holding FD has g3 = 0; a violated one has 0 < g3 < 1e6
    got.values.foreach { case (_, _, viol, g3) =>
      if (viol == 0L) assert(g3 === 0L) else assert(g3 > 0L && g3 < 1000000L)
    }
  }

  test("graph hub routing: routed k-core and LPA equal the unrouted plans on a planted star hub") {
    import spark.implicits._
    // star hub: node 0 connects to 1..200 (degree 200), plus a K4 clique
    // 500-503 and a chain — forcing a low hub budget routes node 0 through
    // the broadcast channel, and the output must be identical to the
    // unrouted plan (the pre-r13 join shape, budget = MaxValue)
    val edges = ((1L to 200L).map(i => (0L, i)) ++ Seq(
      (500L, 501L), (500L, 502L), (500L, 503L), (501L, 502L),
      (501L, 503L), (502L, 503L), (503L, 1L))).toDF("a", "b")
    def core(budget: Long, bcast: Long = 0L) =
      graft.ops.Graph.kCoreOf(edges, 2, 12, budget, None, bcast, 0L)
        .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq
    val routed = core(budget = 100L)   // degree 400 sym > 100 → hub fires
    val plain = core(budget = Long.MaxValue)
    assert(routed === plain, "hub-routed k-core diverged from the unrouted plan")
    // r14 broadcast channel: whole-alive-set broadcast ≡ shuffle plans
    assert(core(Long.MaxValue, Long.MaxValue) === plain,
      "broadcast-channel k-core diverged from the shuffle plan")
    assert(routed.nonEmpty)
    // ADVICE r13 regression: a hub that must SURVIVE the core. The star
    // fixture above masks endpoint-order bugs because its spokes peel
    // regardless; here hub 0 is glued to triangle {1,2,3} so its survival
    // depends on correctly counted hub<->non-hub degrees — the r13
    // endpoint-swap collapsed hub degree to hub-hub edges and evicted it.
    val hubCore = ((4L to 13L).map(i => (0L, i)) ++ Seq(
      (0L, 1L), (0L, 2L), (0L, 3L),
      (1L, 2L), (1L, 3L), (2L, 3L))).toDF("a", "b")
    def core2(budget: Long, bcast: Long = 0L) =
      graft.ops.Graph.kCoreOf(hubCore, 3, 12, budget, None, bcast, 0L)
        .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq
    val expected = Seq((0L, 3L), (1L, 3L), (2L, 3L), (3L, 3L))
    assert(core2(Long.MaxValue) === expected, "unrouted hub-in-core baseline")
    assert(core2(5L) === expected,
      "routed k-core must keep the hub: hub<->non-hub edges endpoint-correct")
    assert(core2(Long.MaxValue, Long.MaxValue) === expected,
      "broadcast-channel k-core must keep the hub")
    // LPA: weighted star + clique, same equivalence under forced routing
    val wedges0 = edges.select(col("a"), col("b"), lit(1L).as("n_ab"))
    val sym = wedges0.select(col("a").as("src"), col("b").as("dst"), col("n_ab").as("w"))
      .unionAll(wedges0.select(col("b").as("src"), col("a").as("dst"), col("n_ab").as("w")))
    def lpa(budget: Long, bcast: Long) =
      graft.ops.Graph.lpaLabels(sym, 5, budget, None, bcast, 0L)
        .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq
    // r14: three channels — whole-label-frame broadcast (the default on
    // any graph under ~4M nodes), uniform shuffle (bcast budget 0), and
    // hub-routed shuffle (forced hub) — must agree row-for-row
    val viaBroadcast = lpa(Long.MaxValue, Long.MaxValue)
    val viaShuffle = lpa(Long.MaxValue, 0L)
    val viaHub = lpa(100L, 0L)
    assert(viaShuffle === viaBroadcast, "LPA shuffle channel diverged from broadcast")
    assert(viaHub === viaBroadcast, "hub-routed LPA diverged")
    // PageRank: same three-channel equivalence on the weighted star
    def prr(budget: Long, bcast: Long = 0L) =
      graft.ops.Graph.pagerankRanks(sym, 3, budget, None, bcast, 0L)
        .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq
    assert(prr(100L) === prr(Long.MaxValue), "hub-routed PageRank diverged")
    assert(prr(Long.MaxValue, Long.MaxValue) === prr(Long.MaxValue),
      "broadcast-channel PageRank diverged from the shuffle plan")
    // the probe itself: degree 400 > 100 flags exactly the hub
    assert(graft.ops.Graph.hubNodes(sym, "dst", 100L) === Seq(0L))
    assert(graft.ops.Graph.hubNodes(sym, "dst", 100000L).isEmpty)
  }

  test("hub-node statistics: probe persists, fresh stats serve without a scan, stale signature re-probes") {
    import spark.implicits._
    val statsDir = s"${graft.RunScoped.ioDir}/hubstats_test"
    spark.conf.set("spark.graft.statsDir", statsDir)
    try {
      val sym = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 1L)).toDF("src", "dst")
      def served(key: String, budget: Long)(probe: => Seq[Long]) =
        graft.ops.Graph.hubNodesServed(spark, sf, key, budget)(probe)
      // first call: live probe (node 1, out-degree 3 > 2), entry persisted
      assert(served("t1", 2L)(graft.ops.Graph.hubNodes(sym, "src", 2L)) === Seq(1L))
      val f = new java.io.File(statsDir).listFiles()
        .filter(_.getName.startsWith("hub_nodes")).head
      val sig = scala.io.Source.fromFile(f, "UTF-8").getLines()
        .find(_.startsWith("sig=")).get
      def write(lines: String*): Unit = {
        val w = new java.io.PrintWriter(f, "UTF-8")
        try lines.foreach(w.println) finally w.close()
      }
      // doctored hub set under the VALID signature is served verbatim —
      // proof the degree aggregate does not run while stats are fresh
      write(sig, "hubs=42,43")
      assert(served("t1", 2L)(sys.error("fresh stats must not probe")) ===
        Seq(42L, 43L))
      // broken signature = stale stats: live re-probe, entry refreshed
      write("sig=stale", "hubs=42,43")
      assert(served("t1", 2L)(graft.ops.Graph.hubNodes(sym, "src", 2L)) === Seq(1L))
      val back = scala.io.Source.fromFile(f, "UTF-8").getLines().toSeq
      assert(back.contains("hubs=1") && back.contains(sig),
        "re-probe must refresh the persisted entry")
      // the EMPTY hub set (every gate corpus) round-trips and serves
      // without a probe — the common case must not degenerate to re-probing
      assert(served("t2", 2L)(Seq.empty).isEmpty)
      assert(served("t2", 2L)(sys.error("fresh empty entry must not probe")).isEmpty)
    } finally spark.conf.unset("spark.graft.statsDir")
  }

  test("k-core peel: adversarial chain takes many rounds; driver peel agrees") {
    import spark.implicits._
    // K4 clique (the 2-core/3-core survivor) + a 6-node tail chain hanging
    // off it: a chain peels ONE node per round from the free end, so the
    // fixpoint needs 6 rounds — pins that the round cap is real iteration,
    // not a single degree filter
    val edges = Seq(
      (1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L), // K4
      (4L, 10L), (10L, 11L), (11L, 12L), (12L, 13L), (13L, 14L), (14L, 15L))
      .toDF("a", "b")
    val got2 = graft.ops.Graph.kCoreOf(edges, 2, 12).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got2.keySet === Set(1L, 2L, 3L, 4L), "2-core is exactly the clique")
    assert(got2.values.forall(_ === 3L), "within-core degree of K4 is 3")
    // with too few rounds the chain is only partially peeled — the cap law
    val capped = graft.ops.Graph.kCoreOf(edges, 2, 2).collect()
      .map(_.getLong(0)).toSet
    assert(capped === Set(1L, 2L, 3L, 4L, 10L, 11L, 12L, 13L),
      "2 rounds peel exactly the last two chain nodes' worth")
    // the real fixture: driver-side peel of the co-purchase graph agrees
    val pairs = graft.ext.Associations.copurchasePairs(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val adj = scala.collection.mutable.Map[Long, Set[Long]]().withDefaultValue(Set.empty)
    pairs.foreach { case (a, b) => adj(a) += b; adj(b) += a }
    var alive = adj.keySet.toSet
    var changed = true
    while (changed) {
      val rem = alive.filter(v => adj(v).count(alive) < 3)
      changed = rem.nonEmpty
      alive --= rem
    }
    val gotReal = graft.ops.Graph.kCoreParts(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(gotReal.keySet === alive, "3-core membership mismatch vs driver peel")
    gotReal.foreach { case (v, d) =>
      assert(d === adj(v).count(alive).toLong, s"core degree of $v") }
  }

  test("A/B test recomputes exactly from user-day conversions") {
    val row = graft.ops.Quality.abTest(spark, sf).collect().head
    val got = (row.getLong(0), row.getLong(1), row.getLong(2), row.getLong(3),
      row.getLong(4), row.getLong(5), row.getLong(6), row.getLong(7))
    val ud = graft.Tables.events(spark, sf)
      .select(col("user_id"), expr("unix_micros(ts) div 86400000000").as("day"),
        col("event_type")).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getString(2)))
      .groupBy(_._1).toSeq.map { case ((u, _), evs) =>
        (u % 2, if (evs.exists(_._2 == "purchase")) 1L else 0L) }
    val (armA, armB) = ud.partition(_._1 == 0L)
    val (na, ca) = (armA.length.toLong, armA.map(_._2).sum)
    val (nb, cb) = (armB.length.toLong, armB.map(_._2).sum)
    assert((got._1, got._2, got._3, got._4) === ((na, ca, nb, cb)),
      "arm counts mismatch")
    assert(got._5 === math.floor(ca.toDouble / na * 1e6 + 0.5).toLong)
    assert(got._6 === math.floor(cb.toDouble / nb * 1e6 + 0.5).toLong)
    assert(got._7 === math.floor(
      (cb.toDouble * na / (ca.toDouble * nb) - 1d) * 1e6 + 0.5).toLong)
    val p = (ca + cb).toDouble / (na + nb)
    val z = (ca.toDouble / na - cb.toDouble / nb) /
      math.sqrt(p * (1 - p) * (1d / na + 1d / nb))
    assert(got._8 === math.floor(z * 1e4 + 0.5).toLong, "pooled z mismatch")
  }

  test("XYZ classification cuts at the exact CV boundaries; matrix recomputes") {
    import spark.implicits._
    // planted CV classes: constant demand (CV=0 → X), CV exactly at the
    // 0.5 boundary (X by ≤), just past it (Y), and erratic (Z).
    // (10,10,10,10): CV=0. (5,15,5,15): mean 10, var 25, CV=0.5 → X.
    // (4,16,4,16): mean 10, var 36, CV=0.6 → Y. (1,39): mean 20,
    // var 361, CV=0.95 → Y. (1,1,1,97): mean 25, var 1728, CV≈1.66 → Z.
    val weekly = Seq(
      (1L, 1L, 10L), (1L, 2L, 10L), (1L, 3L, 10L), (1L, 4L, 10L),
      (2L, 1L, 5L), (2L, 2L, 15L), (2L, 3L, 5L), (2L, 4L, 15L),
      (3L, 1L, 4L), (3L, 2L, 16L), (3L, 3L, 4L), (3L, 4L, 16L),
      (4L, 1L, 1L), (4L, 2L, 39L),
      (5L, 1L, 1L), (5L, 2L, 1L), (5L, 3L, 1L), (5L, 4L, 97L))
      .toDF("l_partkey", "week", "d")
    val cls = graft.ops.Encoding.xyzOf(weekly).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(cls === Map(1L -> "X", 2L -> "X", 3L -> "Y", 4L -> "Y", 5L -> "Z"))
    // the real matrix recomputes driver-side
    val got = graft.ops.Encoding.abcXyz(spark, sf).collect()
      .map(r => (r.getString(0), r.getString(1)) -> (r.getLong(2), r.getLong(3)))
      .toMap
    val li = graft.Tables.lineitem(spark, sf)
      .select(col("l_partkey"),
        expr("unix_micros(l_shipdate) div 86400000000 div 7").as("w"),
        expr("cast(floor(l_quantity * 100 + 0.5) as long)").as("q"),
        expr("cast(floor(l_extendedprice * 100 + 0.5) as long)").as("p"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    // abc labels
    val rev = li.groupBy(_._1).map { case (k, v) => k -> v.map(r => BigInt(r._4)).sum }
    val tot = rev.values.sum
    var cum = BigInt(0)
    val abcOf = rev.toSeq.sortBy(r => (-r._2, r._1)).map { case (k, v) =>
      cum += v
      k -> (if (cum * 10 <= tot * 7) "A" else if (cum * 10 <= tot * 9) "B" else "C")
    }.toMap
    // xyz labels
    val xyzOf = li.groupBy(_._1).map { case (k, rows) =>
      val d = rows.groupBy(_._2).map { case (_, g) => g.map(r => BigInt(r._3)).sum }.toSeq
      val n = BigInt(d.length); val s = d.sum; val q = d.map(x => x * x).sum
      val v = n * q - s * s
      k -> (if (v * 4 <= s * s) "X" else if (v <= s * s) "Y" else "Z",
        d.sum)
    }
    val exp = xyzOf.toSeq.groupBy { case (k, _) => (abcOf(k), xyzOf(k)._1) }
      .map { case (cell, rows) =>
        cell -> (rows.length.toLong, rows.map(_._2._2).sum.toLong) }
    assert(got === exp, "ABC-XYZ matrix mismatch")
  }

  test("price-volume-mix bridge closes exactly and tracks the unrounded rationals") {
    val row = graft.queries.Analytics.priceVolumeMix(spark, sf).collect().head
    val (nBoth, delta, price, volume, joint, newRev, lostRev) =
      (row.getLong(0), row.getLong(1), row.getLong(2), row.getLong(3),
        row.getLong(4), row.getLong(5), row.getLong(6))
    // the bridge closes by construction
    assert(price + volume + joint === delta, "bridge must close")
    val li = graft.Tables.lineitem(spark, sf)
      .select(col("l_partkey"), year(col("l_shipdate")).as("yr"),
        expr("cast(floor(l_quantity * 100 + 0.5) as long)").as("q"),
        expr("cast(floor(l_extendedprice * 100 + 0.5) as long)").as("r"))
      .filter(col("yr").isin(1996, 1997)).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3)))
    def grain(yr: Int) = li.filter(_._2 == yr).groupBy(_._1)
      .map { case (k, v) => k -> (v.map(_._3).sum, v.map(_._4).sum) }
    val g1 = grain(1996); val g2 = grain(1997)
    val bothKeys = g1.keySet & g2.keySet
    assert(nBoth === bothKeys.size.toLong)
    assert(newRev === g2.filterKeys(k => !g1.contains(k)).values.map(_._2).sum)
    assert(lostRev === g1.filterKeys(k => !g2.contains(k)).values.map(_._2).sum)
    // per-part: rounded effects recompute; and each rounded effect sits
    // within half a unit of the unrounded rational (the rounding law)
    var sp = 0L; var sv = 0L; var sd = 0L
    bothKeys.foreach { k =>
      val (q1, r1) = g1(k); val (q2, r2) = g2(k)
      val pExact = r2.toDouble - (BigInt(q2) * r1).toDouble / q1.toDouble
      val vExact = (BigInt(r1) * (q2 - q1)).toDouble / q1.toDouble
      val p = math.floor(pExact + 0.5).toLong
      val v = math.floor(vExact + 0.5).toLong
      assert(math.abs(p - pExact) <= 0.5 && math.abs(v - vExact) <= 0.5)
      sp += p; sv += v; sd += r2 - r1
    }
    assert(price === sp && volume === sv && delta === sd,
      "summed effects mismatch vs driver recomputation")
  }

  test("order SLA percentiles and replenishment cycles recompute driver-side") {
    // x206: per-priority lag percentiles against a sorted-scan recompute
    val gotSla = graft.queries.Analytics.orderSla(spark, sf).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .toMap
    val firstShip = graft.Tables.lineitem(spark, sf)
      .groupBy("l_orderkey")
      .agg(min(expr("unix_micros(l_shipdate) div 86400000000")).as("sd"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // inner-join semantics: an order with no lineitems drops out
    val lags = graft.Tables.orders(spark, sf)
      .select(col("o_orderkey"), col("o_orderpriority"),
        expr("unix_micros(o_orderdate) div 86400000000").as("od")).collect()
      .flatMap(r => firstShip.get(r.getLong(0))
        .map(sd => (r.getString(1), sd - r.getLong(2))))
    def pct(v: Seq[Long], q: Double): Double = {
      val s = v.sorted; val pos = q * (s.length - 1)
      val lo = pos.toInt; val f = pos - lo
      if (lo + 1 < s.length) s(lo) * (1 - f) + s(lo + 1) * f else s(lo).toDouble
    }
    lags.groupBy(_._1).foreach { case (prio, rows) =>
      val v = rows.map(_._2).toSeq
      val (n, p50, p90, w7) = gotSla(prio)
      assert(n === v.length.toLong)
      assert(p50 === math.floor(pct(v, 0.5) * 1e4 + 0.5).toLong, s"$prio p50")
      assert(p90 === math.floor(pct(v, 0.9) * 1e4 + 0.5).toLong, s"$prio p90")
      assert(w7 === math.floor(
        v.count(_ <= 7L).toDouble / v.length * 1e6 + 0.5).toLong, s"$prio w7")
      // percentiles are ordered and the share is a probability
      assert(p50 <= p90 && w7 >= 0L && w7 <= 1000000L)
    }
    // x207: replenishment gaps against a direct per-(cust, part) scan
    val gotCyc = graft.queries.Analytics.replenishCycle(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val orderCust = graft.Tables.orders(spark, sf)
      .select(col("o_orderkey"), col("o_custkey"),
        expr("unix_micros(o_orderdate) div 86400000000").as("d")).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val purch = graft.Tables.lineitem(spark, sf)
      .select("l_orderkey", "l_partkey").collect()
      .map { r =>
        val (c, d) = orderCust(r.getLong(0))
        (c, r.getLong(1), d, r.getLong(0))
      }.distinct
    val gaps = purch.groupBy(p => (p._1, p._2)).values.toSeq.flatMap { rows =>
      rows.sortBy(r => (r._3, r._4)).toSeq.sliding(2).collect {
        case Seq(a, b) if b._3 > a._3 => (a._2, b._3 - a._3)
      }.toSeq
    }
    val exp = gaps.groupBy(_._1).toSeq
      .map { case (pk, v) =>
        (pk, v.length.toLong,
          math.floor(pct(v.map(_._2), 0.5) * 1e4 + 0.5).toLong) }
      .sortBy(r => (-r._2, r._1)).take(20)
    assert(gotCyc.toSeq === exp, "replenishment cycle mismatch")
  }

  test("skyline contains exactly the non-dominated parts") {
    val frontier = graft.ops.Encoding.skylineParts(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val all = graft.Tables.lineitem(spark, sf)
      .select(col("l_partkey"),
        expr("cast(floor(l_quantity * 100 + 0.5) as long)").as("q"),
        expr("cast(floor(l_extendedprice * 100 + 0.5) as long)").as("r"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .groupBy(_._1).map { case (k, v) =>
        (k, v.map(_._2).sum, v.map(_._3).sum) }.toSeq
    def dominates(a: (Long, Long, Long), b: (Long, Long, Long)): Boolean =
      a._2 >= b._2 && a._3 >= b._3 && (a._2 > b._2 || a._3 > b._3)
    val expFrontier = all.filter(p => !all.exists(q => dominates(q, p)))
      .sortBy(p => (-p._2, p._1))
    assert(frontier.toSeq === expFrontier, "skyline mismatch vs brute-force dominance")
    // completeness: every excluded part is dominated by some frontier part
    val inF = frontier.map(_._1).toSet
    all.filterNot(p => inF(p._1)).foreach { p =>
      assert(frontier.exists(f => dominates(f, p)), s"${p._1} excluded but undominated")
    }
  }

  test("lift table: decile counts, rates, and gains recompute under the y-stable tiebreak") {
    val got = graft.ops.Encoding.liftTable(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))
    val rows = graft.Tables.lineitem(spark, sf)
      .select(expr("cast(floor(l_extendedprice * 100 + 0.5) as long)").as("v"),
        (col("l_returnflag") === "R").cast("long").as("y"),
        col("l_orderkey"), col("l_linenumber"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3)))
      .sortBy(r => (r._1, r._2, r._3, r._4))
    val n = rows.length; val q = n / 10; val rr = n % 10
    val sizes = (1 to 10).map(b => if (b <= rr) q + 1 else q)
    var off = 0
    val bins = sizes.zipWithIndex.map { case (sz, i) =>
      val slice = rows.slice(off, off + sz); off += sz
      (i + 1L, sz.toLong, slice.map(_._2).sum)
    }
    val posTot = rows.map(_._2).sum
    var cum = 0L
    val exp = bins.reverse.map { case (b, sz, pos) =>
      cum += pos
      (b, sz, pos,
        math.floor(pos.toDouble / sz * 1e6 + 0.5).toLong,
        math.floor(pos.toDouble * n / (sz.toDouble * posTot) * 1e6 + 0.5).toLong,
        math.floor(cum.toDouble / posTot * 1e6 + 0.5).toLong)
    }
    assert(got.toSeq === exp, "lift table mismatch vs driver NTILE")
    // the gains curve ends at 100% and the table covers every row
    assert(got.last._6 === 1000000L)
    assert(got.map(_._2).sum === n.toLong && got.map(_._3).sum === posTot)
  }

  test("duplicate payments recompute from a driver scan and respect the window") {
    val got = graft.ops.Quality.dupPayments(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    val orders = graft.Tables.orders(spark, sf)
      .select(col("o_orderkey"), col("o_custkey"),
        expr("floor(o_totalprice * 100 + 0.5) DIV 1000000").cast("long").as("b"),
        expr("unix_micros(o_orderdate) div 86400000000").as("d")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val exp = orders.groupBy(o => (o._2, o._3)).values.toSeq.flatMap { g =>
      g.sortBy(o => (o._4, o._1)).toSeq.sliding(2).collect {
        case Seq(a, b) if b._4 - a._4 <= 30 =>
          (a._2, a._3, a._1, b._1, b._4 - a._4)
      }.toSeq
    }.sortBy(r => (r._1, r._2, r._4))
    assert(got.toSeq === exp, "dup-payment list mismatch vs driver scan")
    // flagged gaps are within the window and non-negative
    got.foreach { case (_, _, first, dup, gap) =>
      assert(gap >= 0L && gap <= 30L && first != dup)
    }
  }

  test("monthly seasonal index recomputes and cell-weight-averages to unity") {
    val got = graft.queries.Analytics.seasonalIndex(spark, sf).collect()
      .map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    val cells = graft.Tables.orders(spark, sf)
      .select(year(col("o_orderdate")).as("y"), month(col("o_orderdate")).as("m"),
        expr("cast(floor(o_totalprice * 100 + 0.5) as long)").as("r")).collect()
      .map(r => ((r.getInt(0), r.getInt(1)), r.getLong(2)))
      .groupBy(_._1).map { case (k, v) => k -> v.map(_._2).sum }
    val nCells = cells.size; val tot = cells.values.map(BigInt(_)).sum
    cells.keys.map(_._2).toSeq.distinct.foreach { m =>
      val monthCells = cells.filter(_._1._2 == m)
      val (ny, rev) = (monthCells.size.toLong, monthCells.values.map(BigInt(_)).sum)
      val (gn, gr, gi) = got(m)
      assert(gn === ny && BigInt(gr) === rev, s"month $m cells")
      assert(gi === math.floor(
        (rev * nCells).toDouble / (BigInt(ny) * tot).toDouble * 1e6 + 0.5).toLong,
        s"month $m index")
    }
    // the cell-weighted mean of the index is exactly 1 by construction:
    // Σ_m n_years(m)·idx(m) / n_cells = 1 (up to the per-month roundings)
    val weighted = got.values.map { case (ny, _, idx) => ny * idx }.sum
    assert(math.abs(weighted - 1000000L * nCells) <= got.size.toLong * nCells,
      "cell-weighted index mean must be ~1")
  }

  test("changepoint maximizes between-segment SSE exactly (brute-force split scan)") {
    val row = graft.queries.Analytics.changepoint(spark, sf).collect().head
    val daily = graft.Tables.orders(spark, sf)
      .select(floor(unix_micros(col("o_orderdate")) / 86400000000L)
        .cast("long").as("day"),
        round(col("o_totalprice") * 100, 0).cast("long").as("cents"))
      .groupBy("day").agg(sum("cents").as("cents")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    val n = daily.length.toLong
    val sTot = daily.map(_._2).sum
    // brute-force every prefix cut with the SAME pinned double formula
    var best = (-1L, Double.NegativeInfinity)
    var sL = 0L
    daily.zipWithIndex.dropRight(1).foreach { case ((day, c), i) =>
      sL += c
      val nL = i + 1L
      val nR = n - nL
      val num = sL * n - sTot * nL
      val betw = (num.toDouble * num.toDouble) /
        (nL.toDouble * nR.toDouble * n.toDouble)
      if (betw > best._2) best = (day, betw)
    }
    assert(row.getLong(0) === best._1, "split day is the exact arg-max")
    val nLeft = daily.count(_._1 <= best._1).toLong
    assert(row.getLong(1) === nLeft && row.getLong(2) === n - nLeft)
    val sLeft = daily.filter(_._1 <= best._1).map(_._2).sum
    assert(row.getLong(3) === sLeft / nLeft, "left mean is the exact integer DIV")
    assert(row.getLong(4) === (sTot - sLeft) / (n - nLeft))
    // r2 in (0, 1]: a real split explains a positive fraction of variance
    val r2 = row.getLong(5)
    assert(r2 > 0L && r2 <= 1000000L, s"r2_e6 $r2 out of range")
  }

  test("q25 bucketed join: shuffle-free plan under the bucket layout, result equals plain join") {
    val got = graft.queries.Core.q25BucketedJoin(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    val plain = graft.Tables.orders(spark, sf)
      .join(graft.Tables.lineitem(spark, sf), col("o_orderkey") === col("l_orderkey"))
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n"),
        round(sum(col("l_extendedprice").cast("decimal(12,2)")
          * (lit(1).cast("decimal(12,2)") - col("l_discount").cast("decimal(12,2)")))
          .cast("double"), 2).as("rev"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).sortBy(_._1)
    assert(got.toSeq === plain.toSeq, "bucketed round-trip changed the answer")
    // the layout law: with broadcast off, the bucketed tables (already
    // written by the query above) join with NO shuffle exchange
    val tag = s"${math.abs(sf.hashCode).toString}"
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val joined = spark.table(s"graft_q25_orders_$tag")
        .join(spark.table(s"graft_q25_lineitem_$tag"),
          col("o_orderkey") === col("l_orderkey"))
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("Bucketed: true"), s"bucket layout unused:\n$plan")
      assert(!plan.contains("ShuffleExchange") && !plan.contains("Exchange hashpartitioning"),
        s"unexpected shuffle in:\n$plan")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("q25 reclaims an orphaned table directory at the catalog's table location") {
    // a previous JVM's tables are unknown to this in-memory catalog but
    // still own their directories under the session's warehouse
    val tag = s"${math.abs(sf.hashCode).toString}"
    val before = graft.queries.Core.q25BucketedJoin(spark, sf).collect().toSeq
    val t = s"graft_q25_orders_$tag"
    spark.sessionState.catalog.dropTable(
      org.apache.spark.sql.catalyst.TableIdentifier(t), ignoreIfNotExists = true, purge = false)
    val loc = java.nio.file.Paths.get(spark.sessionState.catalog
      .defaultTablePath(org.apache.spark.sql.catalyst.TableIdentifier(t)))
    java.nio.file.Files.createDirectories(loc)
    val orphan = loc.resolve("part-orphan.parquet")
    java.nio.file.Files.writeString(orphan, "left by an earlier run")
    assert(graft.queries.Core.q25BucketedJoin(spark, sf).collect().toSeq === before)
    assert(!java.nio.file.Files.exists(orphan), "the orphaned file survived the rewrite")
  }

  test("price elasticity matches the driver-side milli-nat moment recomputation") {
    val got = graft.queries.Analytics.priceElasticity(spark, sf).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getBoolean(3))).toMap
    val rows = graft.Tables.lineitem(spark, sf)
      .select("l_returnflag", "l_extendedprice", "l_quantity").collect()
      .map(r => (r.getString(0),
        math.floor(math.log(r.getDouble(1)) * 1000 + 0.5).toLong,
        math.floor(math.log(r.getDouble(2)) * 1000 + 0.5).toLong))
    rows.groupBy(_._1).foreach { case (seg, g) =>
      val n = g.length.toLong
      val (sx, sy) = (g.map(_._2).sum, g.map(_._3).sum)
      val sxy = g.map(t => BigInt(t._2) * t._3).sum
      val sxx = g.map(t => BigInt(t._2) * t._2).sum
      val eps = (BigInt(n) * sxy - BigInt(sx) * sy).toDouble /
        (BigInt(n) * sxx - BigInt(sx) * sx).toDouble
      val (gn, ge, gf) = got(seg)
      assert(gn === n)
      assert(ge === math.floor(eps * 1e6 + 0.5).toLong, s"$seg slope")
      assert(gf === (math.abs(eps) > 1d), s"$seg elastic flag")
    }
  }

  test("rolling 7-day WAU equals the brute-force trailing-window distinct count") {
    val got = graft.queries.Analytics.rollingWau(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val pres = graft.Tables.orders(spark, sf)
      .select(floor(unix_micros(col("o_orderdate")) / 86400000000L)
        .cast("long").as("day"), col("o_custkey")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val (lo, hi) = (pres.map(_._1).min, pres.map(_._1).max)
    assert(got.keySet.min === lo + 6 && got.keySet.max === hi,
      "window span is [lo+6, hi]")
    got.foreach { case (d, wau) =>
      val brute = pres.filter(p => p._1 >= d - 6 && p._1 <= d).map(_._2).size.toLong
      assert(wau === brute, s"day $d")
    }
    // sanity: the trailing window can never see fewer users than any
    // single day inside it
    val daily = pres.groupBy(_._1).view.mapValues(_.size.toLong).toMap
    got.foreach { case (d, wau) =>
      val dmax = (d - 6 to d).flatMap(daily.get).maxOption.getOrElse(0L)
      assert(wau >= dmax)
    }
  }

  test("OOF target encoding is literally leakage-free: each cell equals x181 on corpus-minus-fold") {
    val got = graft.ops.Encoding.oofTargetEncode(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1)) -> (r.getLong(2), r.getLong(3), r.getLong(4)))
      .toMap
    assert(got.nonEmpty)
    val rows = graft.Tables.lineitem(spark, sf)
      .join(broadcast(graft.Tables.part(spark, sf)),
        col("l_partkey") === col("p_partkey"))
      .select(col("p_brand"),
        (col("l_returnflag") === "R").cast("long").as("y"),
        pmod(graft.ops.Sampling.bucket10k(
          col("l_orderkey") * 10L + col("l_linenumber"), 23), lit(3L)).as("fold"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    got.foreach { case ((brand, fold), (nF, enc, prior)) =>
      // delete the fold, then apply the x181 smoothed-encoding formula
      val oof = rows.filter(_._3 != fold)
      val bOof = oof.filter(_._1 == brand)
      assert(nF === rows.count(r => r._1 == brand && r._3 == fold).toLong)
      val (n, nPos) = (bOof.length.toLong, bOof.map(_._2).sum)
      val (nTot, posTot) = (oof.length.toLong, oof.map(_._2).sum)
      val expEnc = math.floor(
        (BigInt(nPos) * nTot + BigInt(100) * posTot).toDouble
          / (BigInt(n + 100) * nTot).toDouble * 1e6 + 0.5).toLong
      assert(enc === expEnc, s"($brand, $fold) encoding leaks or drifts")
      assert(prior === math.floor(posTot.toDouble / nTot.toDouble * 1e6 + 0.5).toLong)
    }
  }

  test("Holt-Winters recursion matches an independent state-map replay") {
    val row = graft.queries.Analytics.holtWinters(spark, sf).collect().head
    val daily = graft.Tables.orders(spark, sf)
      .select(floor(unix_micros(col("o_orderdate")) / 86400000000L)
        .cast("long").as("day"),
        round(col("o_totalprice") * 100, 0).cast("long").as("cents"))
      .groupBy("day").agg(sum("cents").as("cents")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    assert(row.getLong(0) === daily.length.toLong)
    // independent replay with Map-keyed seasonal state
    var (l, b) = (0.0, 0.0)
    var s = Map.empty[Long, Double].withDefaultValue(0.0)
    daily.foreach { case (day, cents) =>
      val y = cents.toDouble
      val sp = s(day % 7)
      val l1 = 0.2 * (y - sp) + 0.8 * (l + b)
      val b1 = 0.1 * (l1 - l) + 0.9 * b
      s = s.updated(day % 7, 0.3 * (y - l1) + 0.7 * sp)
      l = l1; b = b1
    }
    // 0.8/0.9/0.7 literals vs the operator's (1 - alpha) forms can differ
    // in the last ulp per step; 2,400 steps of a contracting recursion
    // keep the drift far under the e4 grid — allow one ulp of it
    assert(math.abs(row.getLong(1) - math.floor(l * 1e4 + 0.5).toLong) <= 1L, "level")
    assert(math.abs(row.getLong(2) - math.floor(b * 1e4 + 0.5).toLong) <= 1L, "trend")
    (0 to 6).foreach { d =>
      assert(math.abs(row.getLong(3 + d) - math.floor(s(d.toLong) * 1e4 + 0.5).toLong) <= 1L,
        s"seasonal $d")
    }
    // forecast identity over the EMITTED components (exact on the grid)
    val nextSlot = ((daily.last._1 + 1) % 7).toInt
    val f = row.getLong(1) + row.getLong(2) + row.getLong(3 + nextSlot)
    assert(math.abs(row.getLong(10) - f) <= 2L, "one-step forecast identity")
  }

  test("CUPED matches the driver-side moment recomputation and reduces variance") {
    val row = graft.ops.Quality.cuped(spark, sf).collect().head
    val ev = graft.Tables.events(spark, sf)
      .select(col("user_id"),
        expr("unix_micros(ts) div 86400000000").as("day"),
        floor(col("value") * 100d + 0.5d).cast("long").as("v")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val d0 = ev.map(_._2).min
    val users = ev.groupBy(_._1).map { case (u, rows) =>
      (u, rows.filter(_._2 < d0 + 15).map(_._3).sum,
        rows.filter(_._2 >= d0 + 15).map(_._3).sum)
    }.toArray
    val n = users.length.toDouble
    val (sx, sy) = (users.map(_._2).sum, users.map(_._3).sum)
    val sxy = users.map(t => BigInt(t._2) * t._3).sum
    val sxx = users.map(t => BigInt(t._2) * t._2).sum
    val covN = sxy.toDouble - sx.toDouble * sy.toDouble / n
    val varxN = sxx.toDouble - sx.toDouble * sx.toDouble / n
    val theta = covN / varxN
    assert(row.getLong(2) === math.floor(theta * 1e6 + 0.5).toLong, "theta")
    // arm counts partition the users
    assert(row.getLong(0) + row.getLong(1) === users.length.toLong)
    // rho^2 in [0, 1] on the e6 grid, and the CUPED estimator actually
    // moves the readout only through the theta correction term
    val vr = row.getLong(5)
    assert(vr >= 0L && vr <= 1000000L, s"var_reduction_e6 $vr")
    val a = users.filter(_._1 % 2 == 0)
    val b = users.filter(_._1 % 2 == 1)
    def mean(xs: Array[Long]): Double = xs.sum.toDouble / xs.length
    val xbar = sx.toDouble / n
    val adj = (mean(b.map(_._3)) - theta * (mean(b.map(_._2)) - xbar)) -
      (mean(a.map(_._3)) - theta * (mean(a.map(_._2)) - xbar))
    assert(row.getLong(4) === math.floor(adj * 100 + 0.5).toLong, "cuped diff")
  }

  test("KS+BH report: exact per-type D, descending lambda, step-up significance set") {
    val rows = graft.ops.Quality.ksBhReport(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6), r.getBoolean(7)))
    assert(rows.map(_._1).distinct.length === rows.length)
    // brute-force per-type KS off the raw values
    val vals = graft.Tables.events(spark, sf)
      .select(col("event_type"), floor(col("value") * 100d + 0.5d).cast("long"))
      .collect().map(r => (r.getString(0), r.getLong(1)))
    val grid = vals.map(_._2).distinct.sorted
    rows.foreach { case (t, nT, nR, _, dE6, _, _, _) =>
      val mine = vals.filter(_._1 == t).map(_._2)
      val rest = vals.filter(_._1 != t).map(_._2)
      assert(nT === mine.length.toLong && nR === rest.length.toLong)
      val d = grid.map { v =>
        math.abs(mine.count(_ <= v).toDouble / mine.length
          - rest.count(_ <= v).toDouble / rest.length)
      }.max
      // the operator's cross-multiplied integer max equals the double ECDF
      // max within one e6 ulp of the final rounding
      assert(math.abs(dE6 - math.floor(d * 1e6 + 0.5).toLong) <= 1L, s"$t D")
    }
    // ranks are 1..m by descending lambda
    assert(rows.map(_._7).toSeq === (1L to rows.length).toSeq)
    assert(rows.map(_._6).toSeq === rows.map(_._6).sorted.reverse.toSeq)
    // step-up: the significant set is exactly ranks <= k*, where k* is the
    // LARGEST rank whose lambda clears its own BH threshold
    val m = rows.length
    val kstar = rows.filter { case (_, _, _, _, _, lamE4, rank, _) =>
      lamE4.toDouble / 1e4 >= -math.log(rank * 0.05 / 2 / m) - 1e-4
    }.map(_._7).maxOption.getOrElse(0L)
    rows.foreach { case (t, _, _, _, _, _, rank, sig) =>
      if (rank <= kstar) assert(sig, s"$t rank $rank must flag under step-up")
    }
  }

  test("Theil-Sen trend matches the driver-side pairwise-median recomputation") {
    val row = graft.queries.Analytics.theilSenTrend(spark, sf).collect().head
    val (nDays, nPairs, slopeE4, iceptE2) =
      (row.getLong(0), row.getLong(1), row.getLong(2), row.getLong(3))
    val daily = graft.Tables.orders(spark, sf)
      .select(floor(unix_micros(col("o_orderdate")) / 86400000000L)
        .cast("long").as("day"),
        round(col("o_totalprice") * 100, 0).cast("long").as("cents"))
      .groupBy("day").agg(sum("cents").as("cents")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    assert(nDays === daily.length.toLong)
    assert(nPairs === daily.length.toLong * (daily.length - 1) / 2)
    def med(xs: Array[Double]): Double = {
      val s = xs.sorted
      val h = (s.length - 1) * 0.5
      val i = h.toInt
      if (i + 1 >= s.length) s(i) else s(i) + (h - i) * (s(i + 1) - s(i))
    }
    val slopes = for {
      i <- daily.indices.toArray; j <- (i + 1) until daily.length
    } yield (daily(j)._2 - daily(i)._2).toDouble / (daily(j)._1 - daily(i)._1).toDouble
    val m = med(slopes)
    assert(slopeE4 === math.floor(m * 1e4 + 0.5).toLong, "median slope")
    val ics = daily.map { case (d, c) => c.toDouble - m * d.toDouble }
    assert(iceptE2 === math.floor(med(ics) + 0.5).toLong, "median intercept")
  }

  test("target encoding shrinks toward the prior and recomputes exactly") {
    val got = graft.ops.Encoding.targetEncodeBrand(spark, sf).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .toMap
    assert(got.nonEmpty)
    val li = graft.Tables.lineitem(spark, sf)
      .select("l_partkey", "l_returnflag").collect()
      .map(r => (r.getLong(0), if (r.getString(1) == "R") 1L else 0L))
    val brand = graft.Tables.part(spark, sf).select("p_partkey", "p_brand").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val rows = li.map { case (pk, y) => (brand(pk), y) }
    val nTot = rows.length.toLong
    val posTot = rows.map(_._2).sum
    val priorE6 = math.floor(posTot.toDouble / nTot.toDouble * 1e6 + 0.5).toLong
    rows.groupBy(_._1).foreach { case (b, g) =>
      val n = g.length.toLong
      val nPos = g.map(_._2).sum
      val (gn, gp, enc, prior) = got(b)
      assert(gn === n && gp === nPos, s"$b counts")
      assert(prior === priorE6, s"$b prior")
      val expEnc = math.floor(
        (BigInt(nPos) * nTot + BigInt(100) * posTot).toDouble
          / (BigInt(n + 100) * nTot).toDouble * 1e6 + 0.5).toLong
      assert(enc === expEnc, s"$b encoding")
      // shrinkage: the smoothed estimate sits between the raw rate and
      // the prior (inclusive on the e6 grid, ±1 for the two roundings)
      val rawE6 = math.floor(nPos.toDouble / n.toDouble * 1e6 + 0.5).toLong
      val (lo, hi) = (math.min(rawE6, priorE6) - 1, math.max(rawE6, priorE6) + 1)
      assert(enc >= lo && enc <= hi, s"$b enc $enc outside [$lo, $hi]")
    }
  }

  test("Neyman sample equals the brute-force allocation + hash-priority draw") {
    val got = graft.ops.Sampling.docNeymanSample(spark, sf).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3))).toSet
    val docs = graft.Tables.documents(spark, sf).select("doc_id", "text", "source")
      .collect().map(r => (r.getLong(0), r.getString(2),
        r.getString(1).split(" ", -1).length.toLong))
    // exact-integer moments, one sqrt, e3 quantization — the operator's law
    val strata = docs.groupBy(_._2).view.mapValues { g =>
      val n = g.length.toLong
      val s1 = g.map(_._3).sum
      val s2 = g.map(d => BigInt(d._3) * d._3).sum
      val w = math.sqrt((BigInt(n) * s2 - BigInt(s1) * s1).toDouble)
      (n, math.floor(w * 1000d + 0.5d).toLong)
    }.toMap
    val tot = strata.values.map(_._2).sum
    val nB = (2L * docs.length) / 5L
    val alloc = strata.map { case (s, (n, w)) =>
      s -> math.min(math.min(
        math.floor(((2.0d * nB) * w + tot) / (2.0d * tot)).toLong, n), 1000L)
    }
    def bucket(id: Long): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(s"$id:29".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.substring(0, 8)
      java.lang.Long.parseLong(hex, 16) % 10000L
    }
    val exp = docs.groupBy(_._2).toSeq.flatMap { case (s, g) =>
      g.sortBy(d => (bucket(d._1), d._1)).take(alloc(s).toInt)
        .map(d => (d._1, s, d._3, alloc(s))).toSeq
    }.toSet
    assert(got === exp, "sampled set mismatch")
    // the budget is honored up to per-stratum half-up rounding and caps
    val drawn = alloc.values.sum
    assert(drawn <= nB + strata.size / 2 + 1)
    assert(got.size.toLong === drawn)
  }

  test("IPF raking replays exactly and converges both margins") {
    val got = graft.ops.Sampling.ipfRake(spark, sf).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    val cells = graft.Tables.documents(spark, sf)
      .select(col("lang"), col("n_chars")).collect()
      .map(r => (r.getString(0),
        if (r.getLong(1) < 200L) "short" else if (r.getLong(1) < 800L) "mid" else "long"))
      .groupBy(identity).view.mapValues(_.length.toLong).toSeq
      .map { case ((l, b), n) => (l, b, n) }.sortBy(c => (c._1, c._2))
    val m = cells.length
    val langs = cells.map(_._1).distinct.sorted
    val buckets = cells.map(_._2).distinct.sorted
    val rid = cells.map(c => langs.indexOf(c._1))
    val cid = cells.map(c => buckets.indexOf(c._2))
    val nAll = cells.map(_._3).sum
    val trEach = nAll.toDouble / langs.length.toDouble
    val tcol = buckets.map(b => cells.filter(_._2 == b).map(_._3).sum.toDouble)
    def marg(w: Array[Double], ids: Seq[Int], of: Int): Double = {
      var s = 0.0
      var d = 0
      while (d < m) { s = s + (if (ids(d) == of) w(d) else 0.0); d += 1 }
      s
    }
    var w = cells.map(_._3.toDouble).toArray
    (0 until 25).foreach { _ =>
      val w1 = Array.tabulate(m)(c => w(c) * (trEach / marg(w, rid, rid(c))))
      w = Array.tabulate(m)(c => w1(c) * (tcol(cid(c)) / marg(w1, cid, cid(c))))
    }
    assert(got.length === m)
    got.zipWithIndex.foreach { case ((l, b, n, mass, mult), c) =>
      assert((l, b, n) === cells(c), s"cell $c identity")
      assert(mass === math.floor(w(c) * 1e6 + 0.5).toLong, s"cell $c mass")
      assert(mult === math.floor(w(c) / n.toDouble * 1e9 + 0.5).toLong, s"cell $c mult")
    }
    // convergence: every lang's raked mass within 0.1% of the uniform
    // target; every bucket margin exact (column pass ran last) up to the
    // e6 grid; total mass conserved
    langs.foreach { l =>
      val massL = got.filter(_._1 == l).map(_._4).sum
      assert(math.abs(massL - trEach * 1e6) <= trEach * 1e3,
        s"lang $l margin not raked to uniform")
    }
    buckets.zipWithIndex.foreach { case (b, j) =>
      val massB = got.filter(_._2 == b).map(_._4).sum
      assert(math.abs(massB - tcol(j) * 1e6) <= m.toLong,
        s"bucket $b margin not preserved")
    }
    assert(math.abs(got.map(_._4).sum - nAll * 1000000L) <= m.toLong * 2)
  }

  test("label propagation matches the synchronous integer-argmax replay") {
    val got = graft.ops.Graph.labelPropagation(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val pairs = graft.ext.Associations.copurchasePairs(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val adj = scala.collection.mutable.Map.empty[Long, List[(Long, Long)]]
      .withDefaultValue(Nil)
    pairs.foreach { case (a, b, n) =>
      adj(a) = (b, n) :: adj(a); adj(b) = (a, n) :: adj(b)
    }
    var lab: Map[Long, Long] = adj.keysIterator.map(n => n -> n).toMap
    (0 until 10).foreach { _ =>
      lab = adj.iterator.map { case (node, nbrs) =>
        val score = scala.collection.mutable.Map.empty[Long, Long].withDefaultValue(0L)
        nbrs.foreach { case (nb, w) => score(lab(nb)) += w }
        node -> score.minBy { case (l, s) => (-s, l) }._1
      }.toMap
    }
    assert(got.length === adj.size)
    got.foreach { case (node, community, _) =>
      assert(community === lab(node), s"node $node community")
    }
    // sizes are consistent with the label multiset, and every label is a node
    val sizeOf = lab.values.groupBy(identity).view.mapValues(_.size.toLong).toMap
    got.foreach { case (_, c, sz) => assert(sz === sizeOf(c)) }
    assert(got.map(_._2).toSet.subsetOf(adj.keySet.toSet))
  }

  test("jackknife ratio SE equals the delete-a-group replay with exact complements") {
    val Array(row) = graft.ops.Quality.jackknifeRatio(spark, sf).collect()
    val (k, n, c, ratio, se) = (row.getLong(0), row.getLong(1), row.getLong(2),
      row.getLong(3), row.getLong(4))
    val units = graft.Tables.events(spark, sf)
      .select(col("user_id"), col("event_type")).collect()
      .map(r => (r.getLong(0), r.getString(1)))
      .groupBy(_._1).map { case (uid, es) =>
        (uid % 20L, if (es.exists(_._2 == "purchase")) 1L else 0L)
      }.toSeq
    val bk = units.groupBy(_._1).view
      .mapValues(g => (g.size.toLong, g.map(_._2).sum)).toMap
    val (nAll, cAll) = (units.size.toLong, units.map(_._2).sum)
    assert((k, n, c) === ((bk.size.toLong, nAll, cAll)))
    assert(ratio === math.floor(cAll.toDouble / nAll.toDouble * 1e9 + 0.5).toLong)
    val rks = bk.values.toSeq.map { case (nK, cK) =>
      math.floor((cAll - cK).toDouble / (nAll - nK).toDouble * 1e9 + 0.5).toLong
    }
    val s1 = rks.sum
    val s2 = rks.map(v => BigInt(v) * BigInt(v)).sum
    val x = BigInt(k) * s2 - BigInt(s1) * BigInt(s1)
    val expSe = math.floor(
      math.sqrt((k - 1L).toDouble * x.toDouble) / k.toDouble + 0.5).toLong
    assert(se === expSe, "jackknife SE replay")
    // a ratio metric's jackknife spread is tiny next to the ratio itself
    // on this corpus, but always nonnegative and defined
    assert(se >= 0L && se < ratio)
  }

  test("exact isotonic fit equals PAVA pooling and preserves the weighted mean") {
    val got = graft.queries.Analytics.isotonicExact(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    // PAVA from first principles on the same day series
    val daily = graft.Tables.events(spark, sf)
      .select(col("user_id"), expr("unix_micros(ts) div 86400000000").as("day"),
        col("event_type")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
      .groupBy(e => (e._1, e._2)).toSeq.map { case ((_, day), es) =>
        (day, if (es.exists(_._3 == "purchase")) 1L else 0L)
      }.groupBy(_._1).view
      .mapValues(g => (g.size.toLong, g.map(_._2).sum)).toSeq.sortBy(_._1)
    val blocks = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Int)]
    daily.foreach { case (_, (u, c)) =>
      blocks += ((c, u, 1))
      while (blocks.length > 1 && {
        val a = blocks(blocks.length - 2); val b = blocks.last
        a._1.toDouble / a._2.toDouble > b._1.toDouble / b._2.toDouble
      }) {
        val b = blocks.remove(blocks.length - 1)
        val a = blocks.remove(blocks.length - 1)
        blocks += ((a._1 + b._1, a._2 + b._2, a._3 + b._3))
      }
    }
    val pava = blocks.flatMap { case (cS, uS, cnt) =>
      Seq.fill(cnt)(cS.toDouble / uS.toDouble)
    }
    assert(got.length === daily.length)
    got.zipWithIndex.foreach { case ((day, u, c, rate, iso), i) =>
      assert((day, u, c) === ((daily(i)._1, daily(i)._2._1, daily(i)._2._2)))
      assert(rate === math.floor(c.toDouble / u.toDouble * 1e9 + 0.5).toLong)
      // the minimax form picks exactly the pooled block's average — the
      // SAME division of the same integers PAVA computes — so equality
      // holds at full e9 precision, not within a tolerance
      assert(iso === math.floor(pava(i) * 1e9 + 0.5).toLong, s"day $day fit")
    }
    // monotone, and the fit preserves the weighted mean (Σ u·f = Σ c)
    got.sliding(2).foreach { case Array(a, b) => assert(a._5 <= b._5) }
    val lhs = got.map(t => t._2.toDouble * (t._5.toDouble / 1e9)).sum
    assert(math.abs(lhs - got.map(_._3).sum.toDouble) < 1e-3 * got.map(_._3).sum)
  }

  test("rolling-origin backtest recomputes from the series for all three baselines") {
    val got = graft.queries.Analytics.backtestNaive(spark, sf).collect()
      .map(r => ((r.getString(0), r.getLong(1)), (r.getLong(2), r.getLong(3), r.getLong(4))))
      .toMap
    val s = graft.queries.Analytics.dailyRevenue(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).map(_._2)
    val n = s.length
    val y1 = s(0)
    (1 to 7).foreach { h =>
      val naive = (h until n).map(i => math.abs(s(i) - s(i - h)))
      val snaive = (7 until n).map(i => math.abs(s(i) - s(i - 7)))
      val drift = (h until n).filter(i => i - h >= 1).map { i =>
        val o = i - h
        val f = s(o).toDouble + h.toDouble * ((s(o) - y1).toDouble / o.toDouble)
        math.abs(s(i) - math.floor(f + 0.5).toLong)
      }
      Seq(("naive", naive), ("snaive", snaive), ("drift", drift)).foreach {
        case (m, errs) =>
          val (cnt, sumAbs, mae) = got((m, h.toLong))
          assert(cnt === errs.length.toLong, s"$m h=$h count")
          assert(sumAbs === errs.sum, s"$m h=$h sum")
          assert(mae === math.floor(errs.sum.toDouble / errs.length + 0.5).toLong)
      }
    }
    assert(got.size === 21)
  }

  test("harmonic centrality equals brute-force BFS over the undirected trade graph") {
    val got = graft.ops.Graph.harmonicCentrality(spark, sf).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    val edges = graft.ops.Graph.tradeEdges(spark, sf)
      .select(col("src").cast("long"), col("dst").cast("long")).collect()
      .flatMap(r => Seq((r.getLong(0), r.getLong(1)), (r.getLong(1), r.getLong(0))))
      .distinct
    val adj = edges.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val nodes = adj.keySet
    got.foreach { case (nk, _, nReached, harm) =>
      // level-synchronous BFS from nk
      var dist = Map(nk -> 0L)
      var level = Set(nk)
      var hops = 0L
      while (level.nonEmpty) {
        hops += 1L
        val next = level.flatMap(adj(_)).diff(dist.keySet)
        next.foreach(v => dist += v -> hops)
        level = next
      }
      val reached = dist.removed(nk)
      assert(nReached === reached.size.toLong, s"nation $nk reach")
      assert(harm === reached.values.map(d => 1000000L / d).sum, s"nation $nk harmonic")
    }
    assert(got.map(_._1).toSet === nodes)
  }

  test("split-conformal interval replays the order-statistic quantile and coverage") {
    val Array(row) = graft.queries.Analytics.conformalInterval(spark, sf).collect()
    val (nCal, k, q, nEval, covered, cov) = (row.getLong(0), row.getLong(1),
      row.getLong(2), row.getLong(3), row.getLong(4), row.getLong(5))
    val s = graft.queries.Analytics.dailyRevenue(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).map(_._2)
    val scores = (7 until s.length).map(i => (i + 1, math.abs(s(i) - s(i - 7))))
    val nFc = scores.length.toLong
    assert(nCal === nFc * 6L / 10L)
    assert(nCal + nEval === nFc)
    assert(k === (9L * (nCal + 1L) + 9L) / 10L)
    val cal = scores.filter(_._1 <= 7 + nCal).map(_._2).sorted
    assert(q === cal(k.toInt - 1), "conformal quantile is the k-th order statistic")
    val ev = scores.filter(_._1 > 7 + nCal).map(_._2)
    assert(covered === ev.count(_ <= q).toLong)
    assert(cov === math.floor(covered.toDouble / nEval.toDouble * 1e6 + 0.5).toLong)
    // the guarantee is marginal (expectation over splits) — per-sample
    // coverage must still be in a sane band around 1−α on this series
    assert(cov > 800000L && cov <= 1000000L)
  }

  test("CMH test replays the stratified hypergeometric cells and shares x227's strata") {
    val got = graft.ops.Quality.cmhTest(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
        r.getLong(5), r.getLong(6),
        if (r.isNullAt(7)) None else Some(r.getLong(7))))
    val units = graft.Tables.events(spark, sf)
      .select(col("user_id"), expr("unix_micros(ts) div 86400000000").as("day"),
        col("event_type")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
      .groupBy(e => (e._1, e._2)).values.map { es =>
        (math.min(es.size.toLong, 5L),
          if (es.exists(_._3 == "click")) 1L else 0L,
          if (es.exists(_._3 == "purchase")) 1L else 0L)
      }.toSeq
    var (sa, se, sv) = (0L, 0L, 0L)
    got.foreach { case (st, n, nT, c, a, e6, v6, _) =>
      val g = units.filter(_._1 == st)
      assert(n === g.size.toLong && nT === g.map(_._2).sum && c === g.map(_._3).sum)
      assert(a === g.collect { case (_, 1L, y) => y }.sum, s"stratum $st a-cell")
      assert(e6 === math.floor(nT.toDouble * c.toDouble / n.toDouble * 1e6 + 0.5).toLong)
      if (n > 1) {
        val v = nT.toDouble * c.toDouble * (n - nT).toDouble * (n - c).toDouble /
          (n.toDouble * n.toDouble * (n - 1).toDouble)
        assert(v6 === math.floor(v * 1e6 + 0.5).toLong, s"stratum $st V")
      }
      sa += a; se += e6; sv += v6
    }
    val dev = math.abs(sa.toDouble - se.toDouble / 1e6) - 0.5
    val expChi = math.floor(dev * dev / (sv.toDouble / 1e6) * 1e6 + 0.5).toLong
    got.foreach(t => assert(t._8 === Some(expChi), "combined chi-square"))
    // consistency with the x227 estimator's strata (same unit grid)
    val ate = graft.ops.Quality.stratifiedAte(spark, sf).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    got.foreach { case (st, n, nT, _, _, _, _, _) =>
      assert(ate.contains(st) && (n, nT) === ate(st), s"stratum $st cells drifted from x227")
    }
  }

  test("Chapman capture-recapture replays the md5 samples and brackets the truth") {
    val Array(row) = graft.ops.Quality.chapmanEstimate(spark, sf).collect()
    val (n1, n2, m, trueN, nHat, varHat, se) = (row.getLong(0), row.getLong(1),
      row.getLong(2), row.getLong(3), row.getLong(4), row.getLong(5), row.getLong(6))
    def bucket(id: Long, seed: Int): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(s"$id:$seed".getBytes("UTF-8"))
      java.lang.Long.parseLong(md.take(4).map(b => f"$b%02x").mkString, 16) % 10000L
    }
    val cust = graft.Tables.orders(spark, sf).select("o_custkey").distinct()
      .collect().map(_.getLong(0))
    val s1 = cust.filter(bucket(_, 3) < 3000L).toSet
    val s2 = cust.filter(bucket(_, 11) < 3000L).toSet
    assert((n1, n2, m, trueN) ===
      ((s1.size.toLong, s2.size.toLong, s1.intersect(s2).size.toLong, cust.length.toLong)))
    val nh = (n1 + 1).toDouble * (n2 + 1).toDouble / (m + 1).toDouble - 1.0
    assert(nHat === math.floor(nh * 1e3 + 0.5).toLong)
    val vh = (n1 + 1).toDouble * (n2 + 1).toDouble * (n1 - m).toDouble *
      (n2 - m).toDouble /
      ((m + 1).toDouble * (m + 1).toDouble * (m + 2).toDouble)
    assert(varHat === math.floor(vh + 0.5).toLong)
    assert(se === math.floor(math.sqrt(vh) * 1e3 + 0.5).toLong)
    // structure: overlap bounded by both samples; the estimate brackets
    // the (here knowable) truth within 3 standard errors
    assert(m <= math.min(n1, n2))
    assert(math.abs(nHat.toDouble / 1e3 - trueN.toDouble) <= 3.0 * se.toDouble / 1e3)
  }

  test("deterministic HLL registers replay from md5 and the estimate is in the error band") {
    val Array(row) = graft.ops.Quality.hllExact(spark, sf).collect()
    val (m, vZero, denomS, rawE3, estE3, trueN, ratio) = (row.getLong(0),
      row.getLong(1), row.getLong(2), row.getLong(3), row.getLong(4),
      row.getLong(5), row.getLong(6))
    val keys = graft.Tables.orders(spark, sf).select("o_custkey").collect()
      .map(_.getLong(0))
    def h32(k: Long): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(s"$k:hll".getBytes("UTF-8"))
      java.lang.Long.parseLong(md.take(4).map(b => f"$b%02x").mkString, 16)
    }
    val regs = Array.fill(256)(0L)
    keys.foreach { k =>
      val v = h32(k)
      val b = (v % 256L).toInt
      val w = v / 256L
      val rho = if (w == 0L) 25L
        else java.lang.Long.toBinaryString(w).reverse.padTo(24, '0')
          .reverse.indexOf('1') + 1L
      if (rho > regs(b)) regs(b) = rho
    }
    assert(m === 256L)
    assert(vZero === regs.count(_ == 0L).toLong)
    assert(denomS === regs.map(r => 1L << (25 - r).toInt).sum, "register sum replay")
    val alpha = 0.7213 / (1.0 + 1.079 / 256.0)
    val raw = alpha * 65536.0 * 33554432.0 / denomS.toDouble
    assert(rawE3 === math.floor(raw * 1e3 + 0.5).toLong)
    val est = if (raw <= 640.0 && vZero > 0)
      256.0 * math.log(256.0 / vZero.toDouble) else raw
    assert(estE3 === math.floor(est * 1e3 + 0.5).toLong)
    assert(trueN === keys.distinct.length.toLong)
    // HLL's standard error is 1.04/√m ≈ 6.5%; demand the estimate
    // within 3σ of truth — a broken register map fails this immediately
    assert(math.abs(ratio - 1000000L) <= 200000L, s"HLL error out of band: $ratio")
  }

  test("KMV sketches replay from md5 minima and the exact-path estimates are the truth") {
    val Array(row) = graft.ops.Quality.kmvOverlap(spark, sf).collect()
    val k = row.getLong(0).toInt
    def h60(key: Long): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(s"$key:kmv".getBytes("UTF-8"))
      java.lang.Long.parseLong(md.take(8).map(b => f"$b%02x").mkString.take(15), 16)
    }
    val rows = graft.Tables.orders(spark, sf)
      .select(col("o_custkey"), col("o_orderstatus")).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val setA = rows.filter(_._2 == "F").map(_._1).distinct.toSet
    val setB = rows.filter(_._2 == "O").map(_._1).distinct.toSet
    val ka = setA.map(h60).toSeq.sorted.take(k)
    val kb = setB.map(h60).toSeq.sorted.take(k)
    val ku = (ka ++ kb).distinct.sorted.take(k)
    def est(s: Seq[Long]): Double =
      if (s.length < k) s.length.toDouble
      else (k - 1).toDouble * 1152921504606846976L.toDouble / s.max.toDouble
    val nBoth = ku.count(h => ka.contains(h) && kb.contains(h)).toLong
    assert(row.getLong(1) === nBoth, "union-minima both-membership replay")
    assert(row.getLong(2) === ku.length.toLong)
    assert(row.getLong(3) === math.floor(est(ka) * 1e3 + 0.5).toLong)
    assert(row.getLong(4) === math.floor(est(kb) * 1e3 + 0.5).toLong)
    assert(row.getLong(5) === math.floor(est(ku) * 1e3 + 0.5).toLong)
    assert(row.getLong(6) ===
      math.floor(nBoth.toDouble / ku.length * 1e6 + 0.5).toLong)
    assert(row.getLong(7) ===
      math.floor(nBoth.toDouble / ku.length * est(ku) * 1e3 + 0.5).toLong)
    assert(row.getLong(8) === setA.size.toLong)
    assert(row.getLong(9) === setB.size.toLong)
    assert(row.getLong(10) === (setA & setB).size.toLong)
    // sf0.001 has < k distinct customers per status: the exact path must
    // be live, meaning every estimate IS its truth (the property that
    // makes small-partition sketch merges safe at scale)
    if (setA.size < k && setB.size < k) {
      assert(row.getLong(3) === setA.size.toLong * 1000L)
      assert(row.getLong(4) === setB.size.toLong * 1000L)
      assert(row.getLong(5) === (setA | setB).size.toLong * 1000L)
      assert(row.getLong(7) === (setA & setB).size.toLong * 1000L)
    }
  }

  test("Kendall tau-b pair classes partition the pair space and replay exactly") {
    val Array(row) = graft.queries.Analytics.kendallTau(spark, sf).collect()
    val (n0, nc, nd, tx, ty, txy, tau) = (row.getLong(0), row.getLong(1),
      row.getLong(2), row.getLong(3), row.getLong(4), row.getLong(5),
      if (row.isNullAt(6)) None else Some(row.getLong(6)))
    val daily = graft.Tables.orders(spark, sf)
      .select(expr("CAST(floor(unix_micros(o_orderdate) / 86400000000) AS LONG)").as("day"),
        round(col("o_totalprice") * 100, 0).cast("long").as("cents"), col("o_custkey"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .groupBy(_._1).toSeq.sortBy(_._1)
      .map { case (_, g) => (g.map(_._2).sum, g.map(_._3).distinct.length.toLong) }
    var (enc, end, etx, ety, etxy) = (0L, 0L, 0L, 0L, 0L)
    for (i <- daily.indices; j <- i + 1 until daily.length) {
      val dx = daily(i)._1 - daily(j)._1
      val dy = daily(i)._2 - daily(j)._2
      if (dx != 0 && dy != 0 && (dx > 0) == (dy > 0)) enc += 1
      else if (dx != 0 && dy != 0) end += 1
      else if (dx == 0 && dy != 0) etx += 1
      else if (dx != 0) ety += 1
      else etxy += 1
    }
    assert((nc, nd, tx, ty, txy) === ((enc, end, etx, ety, etxy)), "pair classes")
    assert(nc + nd + tx + ty + txy === n0, "classes partition the pair space")
    assert(n0 === daily.length.toLong * (daily.length - 1L) / 2L)
    val denom = math.sqrt((n0 - tx - txy).toDouble * (n0 - ty - txy).toDouble)
    if (denom > 0)
      assert(tau === Some(math.floor((nc - nd).toDouble / denom * 1e6 + 0.5).toLong))
  }

  test("power calculator replays and its n_required actually powers the observed delta") {
    val Array(row) = graft.queries.Analytics.powerCalc(spark, sf).collect()
    val (n1, c1, n2, c2) = (row.getLong(0), row.getLong(1), row.getLong(2), row.getLong(3))
    val units = graft.Tables.events(spark, sf)
      .select(col("user_id"), expr("unix_micros(ts) div 86400000000").as("day"),
        col("event_type")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
      .groupBy(e => (e._1, e._2)).toSeq.map { case ((uid, _), es) =>
        (uid % 2L, if (es.exists(_._3 == "purchase")) 1L else 0L)
      }
    assert(n1 === units.count(_._1 == 0L).toLong)
    assert(c1 === units.collect { case (0L, y) => y }.sum)
    assert(n2 === units.count(_._1 == 1L).toLong)
    assert(c2 === units.collect { case (1L, y) => y }.sum)
    val z = 1.9599639845400545 + 0.8416212335729143
    val p1 = c1.toDouble / n1
    val p2 = c2.toDouble / n2
    val vs = p1 * (1.0 - p1) + p2 * (1.0 - p2)
    val dl = p1 - p2
    assert(row.getLong(4) === math.floor(p1 * 1e6 + 0.5).toLong)
    assert(row.getLong(5) === math.floor(p2 * 1e6 + 0.5).toLong)
    assert(row.getLong(6) === math.floor(dl * 1e6 + 0.5).toLong)
    if (dl != 0.0) {
      val nReq = row.getLong(7)
      assert(nReq === math.ceil(z * z * vs / (dl * dl)).toLong)
      // self-consistency: a test sized at n_required can detect the
      // observed delta — the MDE at n_required does not exceed |Δ|
      assert(z * math.sqrt(vs / nReq.toDouble) <= math.abs(dl) + 1e-12)
    }
    assert(row.getLong(8) ===
      math.floor(z * math.sqrt(vs / math.min(n1, n2).toDouble) * 1e6 + 0.5).toLong)
  }

  test("partial correlation replays from exact moments and stays in [-1, 1]") {
    val Array(row) = graft.queries.Analytics.partialCorr(spark, sf).collect()
    val daily = graft.Tables.orders(spark, sf)
      .select(expr("CAST(floor(unix_micros(o_orderdate) / 86400000000) AS LONG)").as("day"),
        round(col("o_totalprice") * 100, 0).cast("long").as("cents"), col("o_custkey"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .groupBy(_._1).values.map { g =>
        (g.map(_._2).sum, g.map(_._3).distinct.size.toLong, g.size.toLong)
      }.toSeq
    val n = daily.length.toLong
    assert(row.getLong(0) === n)
    def corr(f: ((Long, Long, Long)) => Long, g: ((Long, Long, Long)) => Long): Double = {
      val sa = daily.map(t => BigInt(f(t))).sum
      val sb = daily.map(t => BigInt(g(t))).sum
      val sab = daily.map(t => BigInt(f(t)) * BigInt(g(t))).sum
      val saa = daily.map(t => BigInt(f(t)) * BigInt(f(t))).sum
      val sbb = daily.map(t => BigInt(g(t)) * BigInt(g(t))).sum
      (BigInt(n) * sab - sa * sb).toDouble /
        math.sqrt((BigInt(n) * saa - sa * sa).toDouble) /
        math.sqrt((BigInt(n) * sbb - sb * sb).toDouble)
    }
    val rxy = corr(_._1, _._2)
    val rxz = corr(_._1, _._3)
    val ryz = corr(_._2, _._3)
    assert(row.getLong(1) === math.floor(rxy * 1e6 + 0.5).toLong, "r_xy")
    assert(row.getLong(2) === math.floor(rxz * 1e6 + 0.5).toLong, "r_xz")
    assert(row.getLong(3) === math.floor(ryz * 1e6 + 0.5).toLong, "r_yz")
    val g2 = (1.0 - rxz * rxz) * (1.0 - ryz * ryz)
    if (g2 > 0.0) {
      val part = (rxy - rxz * ryz) / math.sqrt(g2)
      assert(row.getLong(4) === math.floor(part * 1e6 + 0.5).toLong, "partial")
      assert(math.abs(part) <= 1.0 + 1e-9)
    }
  }

  test("UCB1 replay follows the index policy with round-robin seeding") {
    val got = graft.ops.Quality.ucbReplay(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6),
        if (r.isNullAt(7)) None else Some(r.getLong(7))))
    val arms = Array("click", "error", "signup", "view")
    val ud = graft.Tables.events(spark, sf)
      .select(col("user_id"), expr("unix_micros(ts) div 86400000000").as("day"),
        col("event_type")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
      .groupBy(e => (e._1, e._2)).map { case ((_, day), es) =>
        val types = es.map(_._3).toSet
        val y = if (types("purchase")) 1L else 0L
        (day, arms.map(a => if (types(a)) 1L else 0L),
          arms.map(a => if (types(a)) y else 0L))
      }.toSeq
    val cells = ud.groupBy(_._1).view.mapValues { g =>
      (Array.tabulate(4)(i => g.map(_._2(i)).sum),
        Array.tabulate(4)(i => g.map(_._3(i)).sum))
    }.toSeq.sortBy(_._1)
    val n = Array.fill(4)(0L)
    val r = Array.fill(4)(0L)
    val exp = cells.zipWithIndex.map { case ((day, (cn, cr)), ti) =>
      val seeding = n.contains(0L)
      val choice =
        if (seeding) n.indexOf(0L)
        else {
          val t = n.sum
          val u = Array.tabulate(4)(i => r(i).toDouble / n(i).toDouble
            + math.sqrt(2.0 * math.log(t.toDouble) / n(i).toDouble))
          u.indexOf(u.max)
        }
      val ucb = if (seeding) None else {
        val t = n.sum
        Some(math.floor((r(choice).toDouble / n(choice).toDouble
          + math.sqrt(2.0 * math.log(t.toDouble) / n(choice).toDouble))
          * 1e9 + 0.5).toLong)
      }
      n(choice) += cn(choice)
      r(choice) += cr(choice)
      (day, ti + 1L, arms(choice), cn(choice), cr(choice), n(choice), r(choice), ucb)
    }
    assert(got.toSeq === exp, "UCB1 trajectory mismatch")
    // structure: the first four pulls are the round-robin seed with no
    // index; afterwards every row carries its UCB index
    assert(got.take(4).map(_._3).toSeq === arms.toSeq)
    assert(got.take(4).forall(_._8.isEmpty))
    assert(got.drop(4).forall(_._8.isDefined))
    // rewards never exceed observations, cumulative or daily
    got.foreach { case (_, _, _, nd, rd, nc, rc, _) =>
      assert(rd <= nd && rc <= nc)
    }
  }

  test("SPRT trajectory equals the integer likelihood-ratio replay with sticky stops") {
    val got = graft.ops.Quality.sprtMonitor(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getString(6),
        if (r.isNullAt(7)) None else Some(r.getLong(7))))
    val units = graft.Tables.events(spark, sf)
      .select(col("user_id"), expr("unix_micros(ts) div 86400000000").as("day"),
        col("event_type")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    val daily = units.groupBy(u => (u._1, u._2)).view
      .mapValues(_.exists(_._3 == "purchase")).toSeq
      .collect { case ((uid, day), conv) if uid % 2 == 1 => (day, if (conv) 1L else 0L) }
      .groupBy(_._1).view.mapValues(g => (g.length.toLong, g.map(_._2).sum)).toMap
    val l1 = math.floor(math.log(0.45d / 0.40d) * 1e6 + 0.5).toLong
    val l0 = math.floor(math.log(0.55d / 0.60d) * 1e6 + 0.5).toLong
    val hi = math.floor(math.log(19.0d) * 1e6 + 0.5).toLong
    val lo = math.floor(math.log(1.0d / 19.0d) * 1e6 + 0.5).toLong
    var (nC, cC) = (0L, 0L)
    var stop: Option[Long] = None
    val exp = daily.toSeq.sortBy(_._1).map { case (day, (n, c)) =>
      nC += n; cC += c
      val llr = cC * l1 + (nC - cC) * l0
      val dec = if (llr >= hi) "accept_h1" else if (llr <= lo) "accept_h0" else "continue"
      if (dec != "continue" && stop.isEmpty) stop = Some(day)
      (day, n, c, nC, cC, llr, dec, stop)
    }
    assert(got.toSeq === exp, "SPRT daily trajectory mismatch")
  }

  test("stratified ATE strata equal the exact-propensity replay and partition the units") {
    val got = graft.ops.Quality.stratifiedAte(spark, sf).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
        r.getLong(5), if (r.isNullAt(6)) None else Some(r.getLong(6)),
        if (r.isNullAt(7)) None else Some(r.getLong(7)))).toMap
    val units = graft.Tables.events(spark, sf)
      .select(col("user_id"), expr("unix_micros(ts) div 86400000000").as("day"),
        col("event_type")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
      .groupBy(u => (u._1, u._2)).values.map { es =>
        (math.min(es.size.toLong, 5L),
          if (es.exists(_._3 == "click")) 1L else 0L,
          if (es.exists(_._3 == "purchase")) 1L else 0L)
      }.toSeq
    val nAll = units.size.toLong
    units.groupBy(_._1).foreach { case (s, g) =>
      val n = g.size.toLong
      val nT = g.map(_._2).sum
      val cT = g.collect { case (_, 1L, y) => y }.sum
      val cCl = g.collect { case (_, 0L, y) => y }.sum
      val (gn, gnT, gcT, gcC, gProp, gDiff, gContrib) = got(s)
      assert((gn, gnT, gcT, gcC) === ((n, nT, cT, cCl)), s"stratum $s cells")
      assert(gProp === math.floor(nT.toDouble / n * 1e6 + 0.5).toLong)
      if (nT > 0 && nT < n) {
        val diff = cT.toDouble / nT - cCl.toDouble / (n - nT)
        assert(gDiff === Some(math.floor(diff * 1e6 + 0.5).toLong), s"stratum $s diff")
        assert(gContrib ===
          Some(math.floor(n.toDouble / nAll * diff * 1e9 + 0.5).toLong), s"stratum $s contrib")
      } else assert(gDiff.isEmpty && gContrib.isEmpty)
    }
    assert(got.values.map(_._1).sum === nAll, "strata partition the unit population")
  }

  test("diff-in-diff equals the four-cell mean recomputation per segment") {
    val got = graft.queries.Analytics.diffInDiff(spark, sf).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    val seg = graft.Tables.customer(spark, sf).select("c_custkey", "c_mktsegment")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val cut = 883612800000000L
    val orders = graft.Tables.orders(spark, sf)
      .select(col("o_custkey"), col("o_totalprice"),
        unix_micros(col("o_orderdate")).as("us"))
      .collect().map(r => (seg(r.getLong(0)),
        BigDecimal(r.getDouble(1)).setScale(2, BigDecimal.RoundingMode.HALF_UP),
        r.getLong(2) < cut))
    def cell(p: ((String, BigDecimal, Boolean)) => Boolean) = {
      val ys = orders.filter(p).map(_._2)
      (ys.sum, ys.length.toLong)
    }
    val segs = orders.map(_._1).distinct
    segs.foreach { s =>
      val (sPreT, nPreT) = cell(o => o._1 == s && o._3)
      val (sPostT, nPostT) = cell(o => o._1 == s && !o._3)
      val (sPreC, nPreC) = cell(o => o._1 != s && o._3)
      val (sPostC, nPostC) = cell(o => o._1 != s && !o._3)
      val did = sPostT.toDouble / nPostT - sPreT.toDouble / nPreT -
        (sPostC.toDouble / nPostC - sPreC.toDouble / nPreC)
      val (gn1, gn2, gd) = got(s)
      assert(gn1 === nPreT && gn2 === nPostT, s"$s cell counts")
      assert(gd === math.floor(did * 10000d + 0.5d).toLong, s"$s DiD")
    }
  }

  test("EB shrinkage replays the moment fit and pulls every brand toward the prior") {
    val got = graft.queries.Analytics.ebShrinkage(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6)))
    assert(got.nonEmpty)
    val rows = graft.Tables.lineitem(spark, sf)
      .join(graft.Tables.part(spark, sf), col("l_partkey") === col("p_partkey"))
      .select(col("p_brand"), (col("l_returnflag") === "R").as("ret"))
      .collect().map(r => (r.getString(0), r.getBoolean(1)))
    val brands = rows.groupBy(_._1).toSeq.sortBy(_._1).map { case (b, rs) =>
      (b, rs.length.toLong, rs.count(_._2).toLong)
    }
    // the operator's exact arithmetic, replayed: integer e9 rates into
    // the moment fit; every double conversion in the impl's pinned order
    val rE9 = brands.map { case (_, n, x) => (BigInt(x) * 1000000000L / n).toLong }
    val b = brands.length.toLong
    val s1 = rE9.sum
    val s2 = rE9.map(r => BigInt(r) * r).sum
    val m = s1.toDouble / b.toDouble / 1.0e9
    val vNum = (BigInt(b) * s2 - BigInt(s1) * BigInt(s1)).toDouble
    val v = vNum / b.toDouble / (b - 1L).toDouble / 1.0e18
    val s = m * (1.0d - m) / v - 1.0d
    assert(vNum > 0 && s > 0, "fixture must give a non-degenerate prior fit")
    val alphaE6 = math.floor(m * s * 1000000d + 0.5d).toLong
    val betaE6 = math.floor((1.0d - m) * s * 1000000d + 0.5d).toLong
    val exp = brands.map { case (brand, n, x) =>
      (brand, n, x, (BigInt(x) * 1000000L / n).toLong, alphaE6, betaE6,
        math.floor((x.toDouble + m * s) / (n.toDouble + s) * 1000000d + 0.5d).toLong)
    }
    assert(got.toSeq === exp, "EB shrinkage mismatch vs driver replay")
    // shrinkage law: every posterior mean lies between the raw rate and
    // the prior mean (±1 e6 ulp of rounding), and a brand with more
    // evidence than prior pseudo-count keeps more than half its gap
    val mE6 = math.floor(m * 1000000d + 0.5d).toLong
    got.foreach { case (brand, n, _, rate, _, _, shrunk) =>
      val lo = math.min(rate, mE6) - 1
      val hi = math.max(rate, mE6) + 1
      assert(shrunk >= lo && shrunk <= hi, s"$brand posterior outside [rate, prior]")
      if (n.toDouble > s)
        assert(math.abs(shrunk - rate) <= math.abs(rate - mE6) / 2 + 1,
          s"$brand over-shrunk despite n > prior strength")
    }
  }

  test("ANOVA F replays the pinned-fold decomposition and partitions the total SS") {
    val got = graft.queries.Analytics.anovaF(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))
    assert(got.length === 5, "five priority classes")
    val obs = graft.Tables.orders(spark, sf)
      .select(col("o_orderpriority"),
        round(col("o_totalprice") * 100, 0).cast("long").as("cents"))
      .collect().map(r => (r.getString(0), r.getLong(1)))
    val priorities = Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
    val gs = priorities.map { p =>
      val xs = obs.filter(_._1 == p).map(_._2)
      (p, xs.length.toLong, xs.sum, xs.map(x => BigInt(x) * x).sum)
    }
    val n = gs.map(_._2).sum
    val s = gs.map(_._3).sum
    val q = gs.map(_._4).sum
    // the operator's exact fold order: group terms left-folded in the
    // fixed priority order, each from exact integers
    val t = gs.map(g => g._3.toDouble * g._3.toDouble / g._2.toDouble)
      .reduceLeft(_ + _)
    val ssb = t - s.toDouble * s.toDouble / n.toDouble
    val ssw = q.toDouble - t
    val fE6 = math.floor(ssb / 4d * (n - 5L).toDouble / ssw * 1000000d + 0.5d).toLong
    val eta2E6 = math.floor(ssb / (ssb + ssw) * 1000000d + 0.5d).toLong
    val exp = gs.map { case (p, ng, sg, _) =>
      (p, ng, sg, sg / ng, fE6, eta2E6)
    }
    assert(got.toSeq === exp, "ANOVA mismatch vs driver replay")
    // variance partition: SSB and SSW are both non-negative and η² ∈ [0, 1]
    assert(ssb >= -1e-6 * q.toDouble && ssw > 0, "SS partition signs")
    assert(eta2E6 >= 0L && eta2E6 <= 1000000L, "eta2 out of [0,1]")
  }

  test("Ljung-Box replays the n2-scaled ACF and decides via the integer critical value") {
    val Array(row) = graft.queries.Analytics.ljungBox(spark, sf).collect()
    val daily = graft.Tables.orders(spark, sf)
      .select(floor(unix_micros(col("o_orderdate")) / 86400000000L)
        .cast("long").as("day"),
        round(col("o_totalprice") * 100, 0).cast("long").as("cents"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
      .groupBy(_._1).map { case (d, rs) => d -> rs.map(_._2).sum }
    val lo = daily.keys.min
    val hi = daily.keys.max
    val xs = (lo to hi).map(d => daily.getOrElse(d, 0L)).toArray
    val n = xs.length.toLong
    val s = xs.sum
    val q0 = xs.map(x => BigInt(x) * x).sum
    val den = BigInt(n) * (BigInt(n) * q0 - BigInt(s) * BigInt(s))
    val rhos = (1 to 7).map { k =>
      val pairs = (0 until xs.length - k).map(i => (xs(i), xs(i + k)))
      val pk = pairs.map { case (x, y) => BigInt(x) * y }.sum
      val ak = pairs.map(_._1).sum
      val bk = pairs.map(_._2).sum
      val num = BigInt(n) * n * pk - BigInt(n) * s * (BigInt(ak) + BigInt(bk)) +
        BigInt(n - k) * s * s
      num.toDouble / den.toDouble
    }
    val qLb = n.toDouble * (n + 2L).toDouble *
      (1 to 7).map(k => rhos(k - 1) * rhos(k - 1) / (n - k).toDouble)
        .reduceLeft(_ + _)
    assert(row.getLong(0) === n, "dense day count")
    (1 to 7).foreach { k =>
      assert(row.getLong(k) === math.floor(rhos(k - 1) * 1000000d + 0.5d).toLong,
        s"rho_$k mismatch")
      // biased ACF is bounded by Cauchy-Schwarz
      assert(math.abs(row.getLong(k)) <= 1000000L, s"rho_$k out of [-1,1]")
    }
    val qE6 = math.floor(qLb * 1000000d + 0.5d).toLong
    assert(row.getLong(8) === qE6, "Q mismatch")
    assert(row.getLong(9) === (if (qE6 > 14067140L) 1L else 0L), "decision")
  }

  test("CUBE grains are mutually consistent and the plan is one Expand, not four scans") {
    val df = graft.queries.Core.q29CubeAgg(spark, sf)
    val rows = df.collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    val leaf = rows.filter(_._3 == 0L)
    Seq(1L, 2L, 3L).foreach { gid =>
      val grain = rows.filter(_._3 == gid)
      assert(grain.map(_._4).sum === leaf.map(_._4).sum, s"gid=$gid count drift")
      assert(grain.map(_._5).sum === leaf.map(_._5).sum, s"gid=$gid revenue drift")
    }
    assert(rows.count(_._3 == 3L) === 1, "exactly one grand-total row")
    assert(rows.filter(_._3 == 3L).forall(r => r._1 == "(all)" && r._2 == "(all)"))
    // one Expand over one relation — the single-pass CUBE shape (the
    // optimized logical plan; the physical string prints twice under AQE)
    val opt = df.queryExecution.optimizedPlan
    assert(opt.collect { case p if p.nodeName == "Expand" => p }.size === 1,
      "expected exactly one Expand")
    assert(opt.collectLeaves().size === 1, "expected exactly one scan")
  }

  test("window suite: lag/lead inverse, running last = cents, rank endpoints exact") {
    val rows = graft.queries.Core.q30WindowSuite(spark, sf).collect()
    val n = rows.length
    assert(n > 100)
    // lag/lead are mutual inverses along the day order
    rows.sliding(2).foreach { case Array(a, b) =>
      assert(a.getLong(3) === b.getLong(1), "lead(a) != cents(b)") // next_cents
      assert(b.getLong(2) === a.getLong(1), "lag(b) != cents(a)")  // prev_cents
      case _ => ()
    }
    // the running frame ends at the current row: running_cents == cents
    rows.foreach(r => assert(r.getLong(5) === r.getLong(1)))
    // first_cents is constant = the first day's cents
    assert(rows.forall(_.getLong(4) === rows.head.getLong(1)))
    // rank endpoints: exactly one row has pr_e6 = 0 and one has 1e6 (ties
    // broken by day, so ranks are a permutation of 1..n)
    assert(rows.map(_.getLong(8)).sorted.toSeq === (1L to n.toLong), "rev_rank not a permutation")
    assert(rows.map(r => r.getLong(9)).count(_ == 0L) === 1)
    assert(rows.map(r => r.getLong(9)).count(_ == 1000000L) === 1)
    // cume_dist of the max-rank row is exactly 1
    assert(rows.map(r => r.getLong(10)).max === 1000000L)
    // sliding frame counts: 4..7 at the edges, 7 in the interior
    assert(rows.map(_.getLong(7)).min === 4L && rows.map(_.getLong(7)).max === 7L)
  }

  test("TF-IDF keywords: per-doc ranks ordered, scores exact tf*idf integers") {
    val got = graft.queries.Ext.all("x263_tfidf_keywords")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(got.nonEmpty)
    // replay idf from the raw corpus
    val toks = graft.Tables.documents(spark, sf)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("token"))
      .collect().map(r => (r.getLong(0), r.getString(1)))
    val nDocs = toks.map(_._1).distinct.length
    val dfm = toks.distinct.groupBy(_._2).view.mapValues(_.map(_._1).distinct.length).toMap
    val idf = dfm.map { case (t, df) =>
      t -> math.floor(math.log(nDocs.toDouble / df.toDouble) * 1e6 + 0.5).toLong }
    val tf = toks.groupBy(identity).view.mapValues(_.length.toLong).toMap
    got.foreach { case (doc, tok, tfGot, score, _) =>
      assert(tfGot === tf((doc, tok)), s"tf mismatch at ($doc, $tok)")
      assert(score === tfGot * idf(tok), s"score != tf*idf at ($doc, $tok)")
    }
    // ranks within a doc are 1..k with non-increasing scores
    got.groupBy(_._1).values.foreach { rs =>
      val s = rs.sortBy(_._5)
      assert(s.map(_._5).toSeq === (1L to s.length))
      assert(s.map(_._4).toSeq === s.map(_._4).sortBy(-_).toSeq)
    }
  }

  test("Mahalanobis top-10 equals the driver replay over exact scatter") {
    val got = graft.ops.Quality.mahalanobisOutliers(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(5)))
    val xs = graft.Tables.lineitem(spark, sf)
      .select(col("l_orderkey"), col("l_linenumber").cast("long"),
        round(col("l_extendedprice") * 100, 0).cast("long"),
        col("l_quantity").cast("long"),
        round(col("l_discount") * 100, 0).cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(1),
        Array(r.getLong(2), r.getLong(3), r.getLong(4))))
    val n = xs.length.toLong
    val s = Array.tabulate(3)(i => xs.map(_._3(i)).sum)
    val p = Array.tabulate(3, 3)((i, j) =>
      xs.map(r => BigInt(r._3(i)) * r._3(j)).sum)
    val c = Array.tabulate(3, 3)((i, j) =>
      (BigInt(n) * p(i)(j) - BigInt(s(i)) * BigInt(s(j))).toDouble)
    val det = c(0)(0) * (c(1)(1) * c(2)(2) - c(1)(2) * c(1)(2)) -
      c(0)(1) * (c(0)(1) * c(2)(2) - c(0)(2) * c(1)(2)) +
      c(0)(2) * (c(0)(1) * c(1)(2) - c(0)(2) * c(1)(1))
    assert(det > 0, "degenerate scatter in fixture")
    val i11 = c(1)(1) * c(2)(2) - c(1)(2) * c(1)(2)
    val i22 = c(0)(0) * c(2)(2) - c(0)(2) * c(0)(2)
    val i33 = c(0)(0) * c(1)(1) - c(0)(1) * c(0)(1)
    val i12 = c(0)(2) * c(1)(2) - c(0)(1) * c(2)(2)
    val i13 = c(0)(1) * c(1)(2) - c(0)(2) * c(1)(1)
    val i23 = c(0)(1) * c(0)(2) - c(0)(0) * c(1)(2)
    val exp = xs.map { case (ok, ln, v) =>
      val z = Array.tabulate(3)(i => (n * v(i) - s(i)).toDouble)
      val quad = z(0) * z(0) * i11 + z(1) * z(1) * i22 + z(2) * z(2) * i33 +
        2.0 * z(0) * z(1) * i12 + 2.0 * z(0) * z(2) * i13 + 2.0 * z(1) * z(2) * i23
      (ok, ln, math.floor((n - 1).toDouble / n.toDouble * quad / det * 1e6 + 0.5).toLong)
    }.sortBy(r => (-r._3, r._1, r._2)).take(10)
    assert(got.toSeq === exp.toSeq, "Mahalanobis top-10 mismatch vs driver replay")
    // whitened distances are non-negative
    assert(got.forall(_._3 >= 0L))
  }

  test("DDSketch drift: deltas consistent, per-period quantile buckets monotone in q") {
    val rows = graft.ops.Quality.ddsketchDrift(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Long]("d_bucket") ===
        r.getAs[Long]("bucket_b") - r.getAs[Long]("bucket_a"))
      assert(r.getAs[Long]("lo_a_e2") <= r.getAs[Long]("hi_a_e2"))
      assert(r.getAs[Long]("lo_b_e2") <= r.getAs[Long]("hi_b_e2"))
    }
    rows.groupBy(_.getAs[String]("event_type")).foreach { case (_, rs) =>
      val byQ = rs.sortBy(_.getAs[Long]("q"))
      assert(byQ.map(_.getAs[Long]("bucket_a")).toSeq ===
        byQ.map(_.getAs[Long]("bucket_a")).sorted.toSeq)
      assert(byQ.map(_.getAs[Long]("bucket_b")).toSeq ===
        byQ.map(_.getAs[Long]("bucket_b")).sorted.toSeq)
    }
  }

  test("PIT join never leaks future state and matches the interval-join replay") {
    val got = graft.ops.AsOf.pitDimensionJoin(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3), r.getLong(4)))
    assert(got.nonEmpty)
    val evs = graft.Tables.events(spark, sf)
      .select(col("event_id"), col("user_id"), unix_micros(col("ts")).as("t"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val chgs = graft.Tables.orders(spark, sf)
      .select(col("o_custkey"), unix_micros(col("o_orderdate").cast("timestamp")),
        col("o_orderkey"), col("o_orderpriority"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
      .groupBy(_._1).map { case (u, cs) => u -> cs.sortBy(c => (c._2, c._3)) }
    val evT = evs.map(e => e._1 -> e._3).toMap
    got.foreach { case (eid, uid, ver, attr, vfrom) =>
      // the joined version opened AT OR BEFORE the row's own time
      assert(vfrom <= evT(eid), s"future leak: event $eid at ${evT(eid)} got version from $vfrom")
      // interval-join replay: the valid version is the last change <= t
      val cs = chgs(uid)
      val idx = cs.lastIndexWhere(_._2 <= evT(eid))
      assert(idx >= 0 && ver === idx + 1L && attr === cs(idx)._4 && vfrom === cs(idx)._2,
        s"PIT version mismatch for event $eid")
    }
    // inner semantics: every event with a prior change is present
    val expectedN = evs.count(e => chgs.get(e._2).exists(_.exists(_._2 <= e._3)))
    assert(got.length === expectedN, "row count diverges from the interval replay")
  }

  test("bucketed PIT carry equals the single-window plan, including on a hot key it must split") {
    import spark.implicits._
    // gate-corpus equivalence: the bucket width is a plan dial only
    val single = graft.ops.AsOf.pitDimensionJoin(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3), r.getLong(4))).toSeq
    val bucketed = graft.ops.AsOf.pitDimensionJoinBucketed(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3), r.getLong(4))).toSeq
    assert(single === bucketed, "x278 diverged from x275 on the gate corpus")
    // hot-key fixture: ONE user owns a long interleaved history, so the
    // single-window plan would serialize it in one task while the carry
    // splits it across buckets — and the outputs must still agree
    // exactly at bucket boundaries (changes landing on them included)
    val chg = (0 until 97).map(i =>
      (7L, i.toLong * 1000L, 100L + i, s"v$i")).toDF("user_id", "t_us", "chg_id", "attr_value")
    val rows = (0 until 997).map(i =>
      (7L, i.toLong * 97L + 3L, 9000L + i)).toDF("user_id", "t_us", "event_id")
    def replay(n: Int) = graft.ops.AsOf.pitCarryBucketed(chg, rows, n).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3), r.getLong(4))).toSeq
    val fine = replay(16)   // splits the key across 16 buckets
    val one = replay(1)     // degenerates to the single-window carry
    assert(fine === one, "bucket width changed the PIT output")
    assert(fine.nonEmpty)
    // spot-verify the carry against the definition on a few events
    fine.take(50).foreach { case (eid, _, ver, attr, vfrom) =>
      val t = (eid - 9000L) * 97L + 3L
      val idx = math.min(96L, t / 1000L) // last change at or before t
      assert(ver === idx + 1 && attr === s"v$idx" && vfrom === idx * 1000L,
        s"event $eid at $t: got (v$ver, $attr, $vfrom)")
    }
  }

  test("bucketed PIT carry: null t_us rides the first bucket, matching the nulls-first single-window order") {
    import spark.implicits._
    // r12 ADVICE: Bucketizer's default handleInvalid=error crashed on a
    // null timestamp (a real corpus case — Events.scala routes them too).
    // Contract: null-time rows are 'earliest' in BOTH plans (ASC NULLS
    // FIRST), so bucketed output must stay byte-identical to the n=1
    // single-window degenerate with nulls present on both inputs.
    val chg = ((0 until 97).map(i => (7L, Some(i.toLong * 1000L), 100L + i, s"v$i")) :+
      ((7L, Option.empty[Long], 99L, "v-null")))
      .toDF("user_id", "t_us", "chg_id", "attr_value")
    val rows = ((0 until 197).map(i => (7L, Some(i.toLong * 500L + 3L), 9000L + i)) :+
      ((7L, Option.empty[Long], 8999L)))
      .toDF("user_id", "t_us", "event_id")
    def replay(n: Int) = graft.ops.AsOf.pitCarryBucketed(chg, rows, n).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3),
        if (r.isNullAt(4)) None else Some(r.getLong(4)))).toSeq
    val fine = replay(16)
    val one = replay(1)
    assert(fine === one, "null t_us changed the bucketed PIT output vs the single window")
    // the null-time event joined the null-time change (both earliest),
    // and every timed event still sees the latest timed change ≤ t
    val byEvent = fine.map(r => r._1 -> r).toMap
    assert(byEvent(8999L)._4 === "v-null" && byEvent(8999L)._5.isEmpty,
      "null-time event must join the null-time change with a null valid_from")
    val e100 = byEvent(9100L) // t = 50 003 → last timed change v50 at 50 000
    assert(e100._4 === "v50" && e100._5 === Some(50000L),
      s"timed event after null insertion got ${e100._4}/${e100._5}")
  }

  test("PIT grain statistics: probe persists, fresh stats serve without a scan, stale signature re-probes") {
    val statsDir = s"${graft.RunScoped.ioDir}/stats_test"
    spark.conf.set("spark.graft.statsDir", statsDir)
    try {
      // first call: live probe, entry persisted
      val grain = graft.ops.AsOf.pitGrainStats(spark, sf)
      assert(grain > 0)
      val f = new java.io.File(statsDir).listFiles()
        .filter(_.getName.startsWith("pit_grain")).head
      val sig = scala.io.Source.fromFile(f, "UTF-8").getLines()
        .find(_.startsWith("sig=")).get
      def write(lines: String*): Unit = {
        val w = new java.io.PrintWriter(f, "UTF-8")
        try lines.foreach(w.println) finally w.close()
      }
      // doctored value under the VALID signature is served verbatim —
      // proof the fact is not re-scanned while stats are fresh
      write(sig, s"max_key_rows=${grain + 999}")
      assert(graft.ops.AsOf.pitGrainStats(spark, sf) === grain + 999,
        "fresh stats must serve without a probe")
      // broken signature = stale stats: live re-probe, entry refreshed
      write("sig=stale", s"max_key_rows=${grain + 999}")
      assert(graft.ops.AsOf.pitGrainStats(spark, sf) === grain,
        "stale stats must fall back to the live probe")
      val back = scala.io.Source.fromFile(f, "UTF-8").getLines().toSeq
      assert(back.contains(s"max_key_rows=$grain") && back.contains(sig),
        "re-probe must refresh the persisted entry")
    } finally spark.conf.unset("spark.graft.statsDir")
  }

  test("PIT router: grain probe picks the channel and derives nBuckets from measured grain") {
    import spark.implicits._
    // gate corpus: per-key grain is far below the budget → single window
    val chg = graft.ops.AsOf.pitChanges(spark, sf)
    val rows = graft.ops.AsOf.pitRows(spark, sf)
    val (grain, bucketed, _) = graft.ops.AsOf.pitRoute(chg, rows)
    assert(grain > 0 && !bucketed,
      s"gate corpus (max key grain $grain) must route single-window")
    // routed output ≡ the single-window plan it picked
    val routed = graft.ops.AsOf.pitDimensionJoinRouted(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3), r.getLong(4))).toSeq
    val single = graft.ops.AsOf.pitDimensionJoin(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3), r.getLong(4))).toSeq
    assert(routed === single, "x281 diverged from x275 on the gate corpus")
    // hot-key direction: one key over the budget → bucketed, and the
    // derived bucket count comes from the MEASURED grain (9 M rows on one
    // key / 500 k target = 18 buckets), not a caller literal
    val hotRows = spark.range(9000000L)
      .select(lit(7L).as("user_id"), col("id").as("t_us"), col("id").as("event_id"))
    val hotChg = Seq((7L, 0L, 1L, "v0")).toDF("user_id", "t_us", "chg_id", "attr_value")
    val (hotGrain, hotBucketed, hotN) = graft.ops.AsOf.pitRoute(hotChg, hotRows)
    assert(hotGrain === 9000001L && hotBucketed, "hot key must route bucketed")
    assert(hotN === 19, s"derived nBuckets $hotN != ceil(9000001/500000)")
    // clamp law: an empty probe floors at the 16-bucket minimum
    val (z, zb, zn) = graft.ops.AsOf.pitRoute(hotChg.filter(lit(false)),
      hotRows.filter(lit(false)))
    assert(z === 0L && !zb && zn === 16)
  }

  test("stratified A-ES replays the driver-side per-source top-k exactly") {
    val got = graft.ops.Sampling.stratifiedAes(spark, sf).collect()
      .map(r => (r.getString(0), r.getInt(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .sortBy(r => (r._1, r._2)).toSeq
    val docs = graft.Tables.documents(spark, sf)
      .select(col("source"), col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("w"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val md = java.security.MessageDigest.getInstance("MD5")
    val exp = docs.map { case (s, id, w) =>
      val d = md.digest((id.toString + ":aes").getBytes("UTF-8")); md.reset()
      val h = ((d(0) & 0xffL) << 40) | ((d(1) & 0xffL) << 32) |
        ((d(2) & 0xffL) << 24) | ((d(3) & 0xffL) << 16) |
        ((d(4) & 0xffL) << 8) | (d(5) & 0xffL)
      val u = (h + 1L).toDouble / 281474976710656.0d
      val key = math.floor(math.log(u) / w.toDouble * 1e15d).toLong
      (s, id, w, key)
    }.groupBy(_._1).toSeq.flatMap { case (s, rows) =>
      rows.sortBy(r => (-r._4, r._2)).take(10).zipWithIndex
        .map { case (r, i) => (s, i + 1, r._2, r._3, r._4) }
    }.sortBy(r => (r._1, r._2))
    assert(got === exp, "A-ES selection diverges from the driver replay")
    // without-replacement: no doc repeats; quota respected per source
    assert(got.map(_._3).distinct.size === got.size)
    got.groupBy(_._1).values.foreach(g => assert(g.size <= 10))
  }

  test("DDSketch: exact quantile captured in the returned bucket, width within gamma") {
    val rows = graft.ops.Quality.ddsketchQuantiles(spark, sf).collect()
    assert(rows.length >= 3, "expected >= 1 type x 3 quantiles")
    val gamma = 1.01d / 0.99d
    rows.foreach { r =>
      val (lo, hi, exact) = (r.getAs[Long]("lo_e2"), r.getAs[Long]("hi_e2"),
        r.getAs[Long]("exact_e2"))
      // the alpha-guarantee: the true order statistic lands in the bucket
      assert(r.getAs[Long]("within") === 1L,
        s"capture law broken: $exact not in [$lo, $hi]")
      // a log-gamma bucket spans at most a gamma ratio (so any value in
      // it is within alpha of the true quantile)
      assert(hi.toDouble <= lo.toDouble * gamma + 1.0,
        s"bucket wider than gamma: [$lo, $hi]")
      assert(r.getAs[Long]("n") > 0L && r.getAs[Long]("bucket") >= 0L)
    }
    // quantiles are monotone per type: p50 <= p90 <= p99 on the exact side
    rows.groupBy(_.getAs[String]("event_type")).foreach { case (_, rs) =>
      val byQ = rs.sortBy(_.getAs[Long]("q")).map(_.getAs[Long]("exact_e2"))
      assert(byQ.toSeq === byQ.sorted.toSeq, "order statistics not monotone in q")
    }
  }

  test("HLL rollup: merged registers equal direct, estimate tracks exact distinct") {
    val rows = graft.ops.Quality.hllRollup(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (nDays, vZero, denomS) =
        (r.getAs[Long]("n_days"), r.getAs[Long]("v_zero"), r.getAs[Long]("denom_s"))
      // register-wise max is associative: day-rollup ≡ one-pass sketch
      assert(r.getAs[Long]("merge_exact") === 1L,
        s"merge law broken for ${r.getAs[String]("event_type")}")
      assert(nDays >= 1L)
      // denominator bounds: m registers each contribute 2^0 .. 2^25
      assert(vZero >= 0L && vZero <= 256L)
      assert(denomS >= 256L && denomS <= 256L * 33554432L)
      // the estimator stays within the band HLL's theory promises at
      // m=256 (σ ≈ 1.04/√m ≈ 6.5%) — 4σ gives a deterministic-fixture
      // margin without tracking the exact hash realization
      val ratio = r.getAs[Long]("ratio_e6").toDouble / 1e6
      assert(ratio > 0.74 && ratio < 1.26,
        s"estimate off by ${ratio}x for ${r.getAs[String]("event_type")}")
    }
  }
}
