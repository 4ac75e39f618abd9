package graft

import org.apache.spark.sql.functions._

import graft.plans.TopKPerKey

/** The custom logical-node → strategy → two-phase-exec operator. */
class PlansSpec extends SparkSuite {

  test("TopKPerKey equals the window idiom on real data and plans partial below the exchange") {
    import org.apache.spark.sql.expressions.Window
    val rev = Tables.lineitem(spark, sf)
      .select(col("l_partkey"),
        round(col("l_extendedprice") * 100, 0).cast("long").as("cents"))
      .join(broadcast(Tables.part(spark, sf).select(col("p_partkey"), col("p_brand"))),
        col("l_partkey") === col("p_partkey"))
      .groupBy("p_brand", "l_partkey")
      .agg(sum(col("cents")).as("rev_e2"))
    val got = TopKPerKey.of(rev, "p_brand", "rev_e2", "l_partkey", 3, "rnk")
    val exp = rev.withColumn("rnk", row_number().over(
        Window.partitionBy(col("p_brand"))
          .orderBy(col("rev_e2").desc, col("l_partkey"))))
      .filter(col("rnk") <= 3)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getInt(3)))
    assert(got.collect().map(r =>
      (r.getString(0), r.getLong(1), r.getLong(2), r.getInt(3))).toSet === exp.toSet,
      "custom operator diverges from the window idiom")
    // physical shape: partial prune BEFORE the exchange, final after —
    // the map-side combine row_number() cannot have
    val plan = got.queryExecution.executedPlan.toString
    val iPartial = plan.indexOf("TopKPerKeyPartial")
    val iFinal = plan.indexOf("TopKPerKeyFinal")
    val iExchange = plan.indexOf("Exchange hashpartitioning")
    assert(iPartial >= 0 && iFinal >= 0 && iExchange >= 0, s"operators missing:\n$plan")
    assert(iFinal < iExchange && iExchange < iPartial,
      "expected final above the hash exchange above partial (tree prints top-down)")
  }

  test("TopKPerKey semantics: ties break ascending, short groups emit whole, null order drops") {
    import spark.implicits._
    val df = Seq[(String, java.lang.Long, Long)](
      ("a", 10L, 1L), ("a", 10L, 2L), ("a", 10L, 3L), ("a", 10L, 4L), // 4-way tie
      ("b", 5L, 9L), ("b", 7L, 8L),                                   // short group
      ("c", null, 1L), ("c", 3L, 2L),                                 // null order drops
    ).toDF("k", "v", "t")
    val got = TopKPerKey.of(df, "k", "v", "t", 3, "rnk")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getInt(3)))
      .sortBy(r => (r._1, r._4))
    assert(got.toSeq === Seq(
      ("a", 10L, 1L, 1), ("a", 10L, 2L, 2), ("a", 10L, 3L, 3), // tie → t asc, cut at k
      ("b", 7L, 8L, 1), ("b", 5L, 9L, 2),
      ("c", 3L, 2L, 1)))
  }

  test("variable-k TopKPerKey: per-key quotas honored, exchange quota-bounded, both disciplines agree") {
    import spark.implicits._
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    // three keys with quotas 1/3/0 over 8 fact-sized input partitions: a
    // zero quota drops its key entirely, and the partial may ship at
    // most quota rows per (key, partition) = (1+3+0)*8 = 32 — the
    // window idiom has NO literal rank filter here, so
    // InferWindowGroupLimit cannot save it (it would ship all 9000)
    val df = spark.range(0, 9000, 1, 8)
      .select((col("id") % 3).cast("string").as("k"), col("id").as("v"), col("id").as("t"),
        when(col("id") % 3 === 0, 1L).when(col("id") % 3 === 1, 3L)
          .otherwise(0L).as("quota"))
    def run(sorted: Boolean) = {
      val got = graft.plans.TopKPerKey.ofVarK(df.toDF(), "k", "v", "t", "quota",
        "rnk", sortPartial = sorted)
      val rows = got.collect().map(r => (r.getString(0), r.getLong(1), r.getInt(4))).toSet
      (got, rows)
    }
    val (gotS, rowsS) = run(sorted = true)
    val (_, rowsH) = run(sorted = false)
    assert(rowsS === rowsH, "variable-k disciplines diverged")
    // quota semantics: key 0 keeps its single best, key 1 its top 3,
    // key 2 nothing (ids 0..8999; key j's members are ids ≡ j mod 3)
    assert(rowsS === Set(("0", 8997L, 1),
      ("1", 8998L, 1), ("1", 8995L, 2), ("1", 8992L, 3)))
    def findPartials(p: SparkPlan): Seq[graft.plans.TopKPerKeyPartialExec] = p match {
      case a: AdaptiveSparkPlanExec => findPartials(a.executedPlan)
      case s: QueryStageExec => findPartials(s.plan)
      case t: graft.plans.TopKPerKeyPartialExec => t +: t.children.flatMap(findPartials)
      case other => other.children.flatMap(findPartials)
    }
    val partials = findPartials(gotS.queryExecution.executedPlan)
    assert(partials.nonEmpty, "variable-k did not plan through TopKPerKeyPartialExec")
    partials.flatMap(_.metrics.get("numOutputRows")).foreach(m =>
      assert(m.value <= 32L, s"variable-k partial leaked ${m.value} rows past the quota bound"))
  }

  test("struct/binary keys: quotas hold per composite key, both disciplines match the window idiom, map keys refuse") {
    import org.apache.spark.sql.expressions.Window
    // 15 composite (k1, k2) groups interleaved across 8 partitions so the
    // run-boundary compare sees alternating groups — a codec that held a
    // mutating buffer would merge them (one quota for the partition)
    val df = spark.range(0, 6000, 1, 8)
      .select((col("id") % 5).cast("string").as("k1"), (col("id") % 3).as("k2"),
        col("id").as("v"), col("id").as("t"))
      .withColumn("kk", struct(col("k1"), col("k2")))
    def run(sorted: Boolean) =
      TopKPerKey.of(df, "kk", "v", "t", 2, "rnk", sortPartial = sorted)
        .select("k1", "k2", "v", "rnk").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getInt(3))).toSet
    val s = run(sorted = true)
    assert(s === run(sorted = false), "struct-key disciplines diverged")
    val w = Window.partitionBy("k1", "k2").orderBy(col("v").desc, col("t"))
    val exp = df.withColumn("rnk", row_number().over(w)).filter(col("rnk") <= 2)
      .select("k1", "k2", "v", "rnk").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getInt(3))).toSet
    assert(s === exp, "struct-key operator diverged from the window idiom")
    // binary key (Array[Byte] has identity equals — the codec must group
    // by content): top-1 per k1 via its utf8 bytes = top-1 per k1
    val gotB = TopKPerKey.of(df.withColumn("kb", col("k1").cast("binary")),
        "kb", "v", "t", 1, "rnk")
      .select("k1", "v").collect().map(r => (r.getString(0), r.getLong(1))).toSet
    val expB = df.withColumn("r", row_number().over(
        Window.partitionBy("k1").orderBy(col("v").desc, col("t"))))
      .filter(col("r") === 1)
      .select("k1", "v").collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(gotB === expB, "binary key grouped by identity, not content")
    // maps have no canonical byte order: refused at plan time, nested too
    intercept[IllegalArgumentException] {
      TopKPerKey.of(df.withColumn("km", map(col("k1"), col("k2"))), "km", "v", "t", 1)
    }
    intercept[IllegalArgumentException] {
      TopKPerKey.of(df.withColumn("km2", struct(map(col("k1"), col("k2")).as("m"))),
        "km2", "v", "t", 1)
    }
  }

  test("TopKPerKey partial phase ships at most k rows per key per input partition") {
    import spark.implicits._
    // one hot key spread over 8 partitions, 1000 rows each: the window
    // idiom would shuffle all 8000 rows; the partial phase must cut the
    // exchange input to <= k rows per (key, partition)
    val df = spark.range(0, 8000, 1, 8)
      .select(lit("hot").as("k"), col("id").as("v"), col("id").as("t"))
    val got = TopKPerKey.of(df, "k", "v", "t", 5, "rnk")
    val rows = got.collect().map(r => (r.getLong(1), r.getInt(3)))
    assert(rows.sortBy(_._2).map(_._1).toSeq === Seq(7999L, 7998L, 7997L, 7996L, 7995L))
    // read the partial phase's output-row metric: the shuffle received
    // <= k * 8 rows, not 8000. AQE folds exchanges into QueryStage
    // leaves, so the walk must cross both wrappers.
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    def findPartials(p: SparkPlan): Seq[graft.plans.TopKPerKeyPartialExec] = p match {
      case a: AdaptiveSparkPlanExec => findPartials(a.executedPlan)
      case s: QueryStageExec => findPartials(s.plan)
      case t: graft.plans.TopKPerKeyPartialExec => t +: t.children.flatMap(findPartials)
      case other => other.children.flatMap(findPartials)
    }
    val partials = findPartials(got.queryExecution.executedPlan)
    assert(partials.nonEmpty, "no TopKPerKeyPartialExec in the executed plan")
    // partial emits <= 5 * 8 = 40; the window idiom would emit 8000
    partials.flatMap(_.metrics.get("numOutputRows")).foreach(m =>
      assert(m.value <= 40L, s"partial prune leaked ${m.value} rows through the exchange"))
  }

  test("stratified A-ES ships a quota-bounded exchange regardless of corpus size") {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    val got = graft.ops.Sampling.stratifiedAes(spark, sf)
    val n = got.count()
    assert(n > 0)
    def findPartials(p: SparkPlan): Seq[graft.plans.TopKPerKeyPartialExec] = p match {
      case a: AdaptiveSparkPlanExec => findPartials(a.executedPlan)
      case s: QueryStageExec => findPartials(s.plan)
      case t: graft.plans.TopKPerKeyPartialExec => t +: t.children.flatMap(findPartials)
      case other => other.children.flatMap(findPartials)
    }
    val partials = findPartials(got.queryExecution.executedPlan)
    assert(partials.nonEmpty, "A-ES did not plan through TopKPerKeyPartialExec")
    val sources = graft.Tables.documents(spark, sf)
      .select("source").distinct().count()
    // P = the ACTUAL scan partition count of the documents table (file
    // layout / maxPartitionBytes decide this, and it can exceed
    // defaultParallelism on a many-file or large-file layout — the bound
    // must come from the same partitioning the partial exec ran over,
    // not from the cluster's core count)
    val parts = graft.Tables.documents(spark, sf).rdd.getNumPartitions.toLong
    // the k·P bound: <= k per (source, input partition) — the exchange is
    // quota-sized at ANY corpus size (measured constant 801 rows at
    // 1×/10×/30× in SCALE.md round-10)
    partials.flatMap(_.metrics.get("numOutputRows")).foreach(m =>
      assert(m.value <= 10L * sources * (parts + 4),
        s"A-ES partial shipped ${m.value} rows past the quota bound"))
  }

  test("fact-grain measured pair: operator and window idiom agree row for row") {
    val a = graft.plans.TopKPerKey.topFactPerPart(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3))).toSeq
    val b = graft.plans.TopKPerKey.topFactPerPartWindow(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3))).toSeq
    assert(a === b, "x271/x272 diverged — the SCALE comparison would be apples to oranges")
    assert(a.nonEmpty)
  }

  // ---- plan-contract sweep (r11 verdict directive 7) -------------------
  // The load-bearing plan guarantees as a REGRESSION GATE: for the
  // heaviest batch queries (top cold task-s in docs/BENCH_DETAIL.json,
  // ML fits and streaming replays excluded — their cost is the trainer /
  // the micro-batch loop, not a batch plan), execute at the gate SF and
  // pin (a) the shuffle-exchange count, (b) the partition-less-window
  // count, (c) zero non-broadcast cartesian products. A Spark upgrade or
  // refactor that silently re-plans a guarantee away (adds an exchange,
  // degrades a two-phase ranking to a one-task window, un-broadcasts a
  // dim into a cartesian) fails here with the offending plan printed.
  // Budgets are CURRENT counts, not aspirations — tightening is a win,
  // loosening must be a reviewed decision in this table.

  /** AQE-aware plan flatten: descends through adaptive roots, query
    * stages, and subqueries; stops at InMemoryTableScan (a consumer's
    * plan must not be charged for its cached build) and at reused
    * exchanges (counted once, at the original).
    */
  private def flattenPlan(p: org.apache.spark.sql.execution.SparkPlan)
      : Seq[org.apache.spark.sql.execution.SparkPlan] = {
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    val inner: Seq[org.apache.spark.sql.execution.SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case _: InMemoryTableScanExec => Seq.empty
      case _: ReusedExchangeExec => Seq.empty
      case q: QueryStageExec => Seq(q.plan)
      case other => other.children
    }
    p +: (inner.flatMap(flattenPlan) ++ p.subqueries.flatMap(flattenPlan))
  }

  private def planCounts(name: String): (Int, Int, Int, Int, String) = {
    import org.apache.spark.sql.execution.ExpandExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    import org.apache.spark.sql.execution.joins.CartesianProductExec
    import org.apache.spark.sql.execution.window.WindowExec
    Layer.clear(spark) // always probe the COLD plan: a Layer hit swaps
    // a build subtree for an InMemoryTableScan and the count drifts with
    // whatever ran before this sweep
    val df = SparkEntry.queries(name)(spark, sf)
    df.collect() // finalize the adaptive plan
    val nodes = flattenPlan(df.queryExecution.executedPlan)
    (nodes.count(_.isInstanceOf[ShuffleExchangeLike]),
      nodes.count { case w: WindowExec => w.partitionSpec.isEmpty; case _ => false },
      nodes.count(_.isInstanceOf[CartesianProductExec]),
      nodes.count(_.isInstanceOf[ExpandExec]),
      df.queryExecution.executedPlan.toString)
  }

  test("plan-contract sweep: top task-s batch queries hold their exchange and window budgets") {
    // (query, max shuffle exchanges, max partition-less windows) —
    // values are the MEASURED counts at the gate SF (r12). The
    // partition-less windows that remain are all GRID-frame windows
    // (bucket/boundary frames of the two-phase rankings — ≤ B rows by
    // construction), never a fact window: a regression that adds one
    // more trips the budget. q25's 2 exchanges are its final aggregate +
    // total-order ORDER BY; the JOIN itself planning zero exchanges is
    // pinned by OpsSpec's co-bucketed law (and by the sensitivity test
    // below, which shows the count jumping when bucketing is disabled).
    val budgets: Seq[(String, Int, Int)] = Seq(
      ("x265_gains_table", 18, 6),
      ("x267_avg_precision", 17, 5),
      ("q14_feature_matrix", 3, 0),
      ("q10_users_final", 1, 0),
      ("x215_triple_itemsets", 8, 0),
      // 5 or 6: one of x213's joins sits at the AQE broadcast boundary at
      // this SF, so the runtime SMJ→BHJ decision adds/removes one
      // exchange run-to-run; 6 is the observed ceiling of BOTH plans
      ("x213_substitutes", 6, 0),
      ("x242_mutual_knn", 2, 0),
      ("a38_theilsen_trend", 8, 1),
      ("q13_labels", 2, 0),
      ("a36_rfm_segments", 18, 3),
      ("q09_user_prior_features", 1, 0),
      ("a35_gini_lorenz", 17, 3),
      ("q06_products_dim_join", 1, 0),
      ("q05_product_features", 1, 0),
      ("q12_candidates", 1, 0),
      ("x200_kcore", 3, 0),
      ("q11_userproduct_features", 1, 0),
      ("x231_label_prop", 3, 0),
      ("x110_trade_pagerank", 11, 0),
      ("x96_quality_fusion", 22, 3),
      ("q25_bucketed_join", 2, 0),
      ("x147_column_stats_hll", 2, 0),
      // x283: the final-round frame is localCheckpointed per iteration,
      // so the COLD consumer plan is one exchange (the output sort) —
      // the per-round joins are bounded by their own checkpoints
      ("x283_part_pagerank", 1, 0),
      // x285: the recursion executes inside UnionLoop (its per-level
      // plans are not part of the consumer plan); 2 = final aggregate +
      // total-order sort
      ("x285_recursive_cte", 2, 0))
    val failures = budgets.flatMap { case (name, maxEx, maxGw) =>
      val (nEx, nGw, nCp, nXp, plan) = planCounts(name)
      info(f"$name%-26s exchanges=$nEx%2d globalWindows=$nGw cartesians=$nCp expands=$nXp")
      val errs = Seq(
        (nEx > maxEx) -> s"$name: $nEx shuffle exchanges (budget $maxEx)",
        (nGw > maxGw) -> s"$name: $nGw partition-less fact windows (budget $maxGw)",
        (nCp > 0) -> s"$name: $nCp cartesian products (budget 0)",
        // x147's reason to exist: approximate NDV stats plan NO Expand
        // (the exact-NDV x124 pays one — that asymmetry IS the guarantee)
        (name == "x147_column_stats_hll" && nXp > 0) ->
          s"$name: $nXp Expand nodes (HLL stats must plan none)")
        .collect { case (true, msg) => msg }
      if (errs.nonEmpty) Seq(errs.mkString("; ") + s"\n$plan") else Nil
    }
    assert(failures.isEmpty, failures.mkString("\n\n"))
  }

  test("plan-contract sweep detector actually fires: disabling bucketing re-plans q25 with exchanges") {
    // broadcast must be off too: at the tiny gate SF, AQE would hide the
    // lost bucketing behind a broadcast join and the count would not move
    val keys = Seq("spark.sql.sources.bucketing.enabled",
      "spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.autoBroadcastJoinThreshold")
    val prev = keys.map(k => k -> spark.conf.getOption(k))
    try {
      spark.conf.set(keys(0), "false")
      spark.conf.set(keys(1), "-1")
      spark.conf.set(keys(2), "-1")
      val (nEx, _, _, _, _) = planCounts("q25_bucketed_join")
      assert(nEx > 2,
        "sensitivity check: with bucketing disabled the detector must see added exchanges")
    } finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  // ---- global-window grain contract (r16, verdict directive 6) ----------
  // The time-series family runs partition-less windows DELIBERATELY — but
  // only because their inputs are day-grain aggregates (calendar-bounded at
  // any corpus size). That premise was prose until now; this law measures
  // it: after executing each query, every partition-less WindowExec's feed
  // exchange must have written no more rows than the orders calendar has
  // distinct days (plus the ≤257-row ranking grid frames' slack). A
  // refactor that slides a global window down to row grain fails here with
  // the row count printed.
  test("time-series global windows stay at day grain (bounded input, measured)") {
    import org.apache.spark.sql.execution.window.WindowExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    val dayBound = Tables.orders(spark, sf)
      .select(countDistinct(expr(
        "CAST(floor(unix_micros(o_orderdate) / 86400000000) AS BIGINT)")))
      .first().getLong(0) + 300 // + the B-row bucket/grid frames' ceiling
    val names = Seq("a45_changepoint", "x239_isotonic_exact",
      "x240_backtest", "x243_conformal", "x248_kendall_tau")
    val failures = names.flatMap { name =>
      Layer.clear(spark)
      val qe = SparkEntry.queries(name)(spark, sf).queryExecution
      qe.executedPlan.execute().count() // executes the HELD plan: no column
      // pruning can drop the windows the law wants to observe
      val globals = flattenPlan(qe.executedPlan)
        .collect { case w: WindowExec if w.partitionSpec.isEmpty => w }
      if (globals.isEmpty) Seq(s"$name: no partition-less window found — law is vacuous, update the list")
      else globals.flatMap { w =>
        val fed = flattenPlan(w).collectFirst {
          case e: ShuffleExchangeLike =>
            e.metrics.get("shuffleRecordsWritten").map(_.value)
          // a reused feed counts too — its metric lives on the original
          case r: org.apache.spark.sql.execution.exchange.ReusedExchangeExec =>
            r.child.metrics.get("shuffleRecordsWritten").map(_.value)
          // an already-single-partition feed (AQE-coalesced cache) has no
          // exchange: the cache scan's own row count is the window input
          case s: org.apache.spark.sql.execution.columnar.InMemoryTableScanExec =>
            s.metrics.get("numOutputRows").map(_.value)
        }.flatten
        fed match {
          case Some(rows) if rows > dayBound =>
            Some(s"$name: global window fed $rows rows (day bound $dayBound)")
          case None => Some(s"$name: no exchange metric under the global window")
          case _ => None
        }
      }
    }
    assert(failures.isEmpty, failures.mkString("\n"))
  }

  // ---- graph band-gate law (r16, verdict directive 8) --------------------
  // The whole-state-frame broadcast channel's SELECTION is a pure predicate
  // shared by all three iteration channels (k-core / LPA / PageRank):
  // strictly inside (floor, budget]. The channels' row-for-row equivalence
  // is pinned in OpsSpec; the measured 1.4-1.7x win inside the band lives
  // in SCALE.md r15. This law pins the decision's boundary semantics so a
  // refactor cannot silently shift the ladder.
  test("graph broadcast band gate engages strictly inside (floor, budget]") {
    import graft.ops.Graph.inBroadcastBand
    assert(!inBroadcastBand(10, floor = 10, budget = 100), "n == floor must stay on the AQE channel")
    assert(inBroadcastBand(11, floor = 10, budget = 100), "n just above the floor must broadcast")
    assert(inBroadcastBand(100, floor = 10, budget = 100), "n == budget must broadcast (inclusive)")
    assert(!inBroadcastBand(101, floor = 10, budget = 100), "n above the budget must hub-route")
    assert(!inBroadcastBand(5, floor = 10, budget = 100), "below the floor stays on AQE")
    // the production dials: defaults hold the measured r15 band
    assert(!inBroadcastBand(625000L), "the 625k floor itself is outside the band")
    assert(inBroadcastBand(2030000L), "the r15-measured 2.03M corpus sits inside the band")
    assert(inBroadcastBand(4000000L), "the 4M budget is inclusive")
    assert(!inBroadcastBand(4000001L), "above 4M hub-routes")
  }

  // ---- sizing and vocab gate laws ----------------------------------------
  // One bytes→partitions rule serves the docs/embedding spreads, the
  // stateful streaming shuffle and compaction; these pin its boundaries.
  test("Sizing.partitions is ceil(bytes / target) clamped into [floor, cap]; spread skips a scan already wide") {
    import graft.Sizing.{partitions, spread}
    assert(partitions(0L, 32L, cap = 8L) === 1, "zero bytes get the floor")
    assert(partitions(64L, 32L, cap = 8L) === 2, "an exact multiple adds no partition")
    assert(partitions(65L, 32L, cap = 8L) === 3, "one byte over adds one")
    assert(partitions(1000L, 32L, cap = 8L) === 8, "the cap clamps")
    assert(partitions(0L, 2L << 20, cap = 32L, floor = 2L) === 2, "the state floor of 2")
    assert(partitions(100L << 20, 2L << 20, cap = 1L, floor = 2L) === 2, "the floor wins over a lower cap")
    assert(partitions(5L << 30, 128L << 20, cap = Int.MaxValue) === 40, "compaction: uncapped file count")
    // the spread: 0 = the scan already splits at least as wide (inclusive)
    assert(spread(64L, 32L, cap = 8L, maxPartitionBytes = 33L) === 2, "one scan split: spread")
    assert(spread(64L, 32L, cap = 8L, maxPartitionBytes = 32L) === 0, "scan splits == width: skip")
    assert(spread(1000L, 32L, cap = 8L, maxPartitionBytes = 125L) === 0, "scan as wide as the cap: skip")
    assert(spread(1000L, 32L, cap = 8L, maxPartitionBytes = 126L) === 8, "one split short of the cap: spread")
    // the gate fixtures: sf0.001 documents (65 515 B) and embeddings
    // (193 646 B) at 32 KiB targets under 4 shuffle partitions
    assert(spread(65515L, 32L << 10, cap = 4L, maxPartitionBytes = 128L << 20) === 2)
    assert(spread(193646L, 32L << 10, cap = 4L, maxPartitionBytes = 128L << 20) === 4)
    assert(spread(65515L, 32L << 10, cap = 1L, maxPartitionBytes = 128L << 20) === 1)
    assert(spread(65515L, 32L << 10, cap = 4L, maxPartitionBytes = 16L << 10) === 0)
    assert(spread(193646L, 32L << 10, cap = 4L, maxPartitionBytes = 16L << 10) === 0)
  }

  test("vocab broadcast gate is budget-inclusive") {
    import graft.ext.TextAnalysis.{VocabBroadcastBudget, vocabFits}
    assert(vocabFits(0L, budget = 100L))
    assert(vocabFits(100L, budget = 100L), "rows == budget must broadcast (inclusive)")
    assert(!vocabFits(101L, budget = 100L), "rows above the budget stay unhinted")
    assert(VocabBroadcastBudget === 4000000L)
    assert(vocabFits(4000000L) && !vocabFits(4000001L))
  }
}
