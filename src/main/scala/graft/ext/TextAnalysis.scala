package graft.ext

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Layer, Tables}
import graft.functions.{functions => gf}

/** Text-analysis operators over the documents table (SURVEY.md §2.11 X4 +
  * the training-data-pipeline surface): token stats, quality scoring,
  * heuristic language scoring, content fingerprinting. All column-function
  * compositions (codegen'd) — no UDFs.
  */
object TextAnalysis {

  /** Documents are single-space-separated token streams; split(' ') matches
    * DuckDB string_split exactly (no regex-class divergence).
    */
  def withTokens(df: DataFrame): DataFrame =
    df.withColumn("tokens", split(col("text"), " "))

  val stopwords: Seq[String] = Seq("the", "a", "of", "and", "to", "in")

  /** Token stream `(doc_id, source, token)` — the exploded tokenization
    * under the LM-scoring family (x85 unigram NLL, x123 held-out PPL,
    * x140 interpolated NLL). Deliberately NOT Layer-persisted: the stream
    * is corpus-positions-sized (the largest frame in the engine), and
    * persisting it bought nothing — every consumer reads it exactly once
    * per query and immediately aggregates to a vocab-sized table, so a
    * cached copy trades one cheap codegen'd scan+explode of the source
    * parquet for a block-manager read that, late in a long-lived session,
    * sits under eviction pressure from every other Layer and gets SLOWER
    * than the cold path (measured r8: x155 warm 31.5 s vs cold 7.4 s,
    * task-time-confirmed). The vocab-sized count tables below stay
    * Layer-cached — they are what warm reuse actually amortizes.
    */
  def tokenStream(spark: SparkSession, dir: String): DataFrame =
    docsSpread(spark, dir)
      .select(col("doc_id"), col("source"), explode(col("tokens")).as("token"))

  /** Scale-adaptive parallel corpus scan under the exploded-stream family
    * (guide §2.5 "input skew … repartition immediately after the read",
    * made scale-conditional). The explode fans each compressed corpus
    * byte out ~50× (tokenize → positions), so a scan partition sized for
    * plain reading (128 MB) is ~50 partitions' worth of explode work —
    * and at the gate SFs the whole corpus is ONE parquet split, so every
    * stream consumer ran its tokenize/explode/partial-agg pass as a
    * single straggler task (measured r16: 2.5–3.4 s max task on x107/
    * x140/x155/x224/x182 while the other 31 cores idled). Here the docs
    * frame hash-repartitions by doc_id into ceil(bytes / 32 KiB)
    * partitions ([[graft.Sizing.spread]]), capped by the session's
    * cluster-sized `spark.sql.shuffle.partitions` — and the repartition
    * is SKIPPED whenever the scan itself already splits at least that
    * wide (bytes / maxPartitionBytes ≥ width), so at fleet scale the corpus is
    * never shuffled for parallelism it already has: the plan there is
    * byte-identical to the r15 shape. doc_id hashing is deterministic
    * (no round-robin/rand — SPARK-38388 posture) and every consumer
    * aggregates or joins content-addressed keys, so results cannot
    * depend on the layout.
    *
    * The spread frame carries TOKENS (doc-grain array column, tiny in
    * the regime where the branch fires — under cap·32 KiB compressed)
    * and is Layer-cached, so `split` runs ONCE at cache build instead of
    * once per corpus pass per pushed predicate. The cache is ALSO the
    * pushdown barrier that keeps the spread honest: Generate's inferred
    * pruning predicate (`size(bgs) > 0`, InferFiltersFromGenerate)
    * inlines the whole tokenize/transform through the projections and
    * PushPredicateThroughNonJoin carries it below the repartition —
    * measured r16 as a 2.2–6.4 s SINGLE-TASK tokenize pre-pass per
    * corpus read on the unsplit scan side. Filters do not push into an
    * InMemoryRelation's build plan, so with the cache every predicate
    * evaluates above it, on the spread partitions. (The r8 "never
    * persist the stream" law is untouched: this caches doc-grain rows,
    * never the corpus-positions explode.)
    */
  private def docsSpread(spark: SparkSession, dir: String): DataFrame = {
    val df = Tables.documents(spark, dir)
    val n = graft.Sizing.spread(spark, s"$dir/documents.parquet", 32L << 10)
    if (n <= 1) withTokens(df)
    else Layer.cached(spark, dir, "docs_spread")(
      withTokens(df.repartition(n, col("doc_id")))
        .select(col("doc_id"), col("source"), col("tokens")))
  }

  /** Bigram stream `(doc_id, w1, w2)` for x107 and x140. Adjacent-pair
    * expansion is a `transform(sequence)` projection inside the row (no
    * window, no per-doc sort). Not persisted — see [[tokenStream]]; the
    * shared warm state is [[bigramCounts]], not the positions stream.
    */
  def bigramStream(spark: SparkSession, dir: String): DataFrame =
    docsSpread(spark, dir)
        // the ≥2-token guard lives INSIDE the projection (empty array for
        // short docs — explode then emits nothing, identical rows to the
        // old filter): a separate `filter(size(split(..)))` is PUSHED
        // BELOW the docsSpread exchange by PushPredicateThroughNonJoin,
        // re-running the whole tokenize serially on the unsplit scan side
        // (measured r16: a 2.2 s single-task pre-pass per corpus read)
        .withColumn("bgs",
          when(size(col("tokens")) >= 2,
            transform(sequence(lit(0), size(col("tokens")) - 2),
              i => struct(col("tokens")(i).as("w1"), col("tokens")(i + 1).as("w2"))))
            .otherwise(lit(null)))
        .select(col("doc_id"), explode(col("bgs")).as("b"))
        .select(col("doc_id"), col("b.w1").as("w1"), col("b.w2").as("w2"))

  /** Trigram stream `(doc_id, source, w1, w2, w3)` — the three-token
    * extension of [[bigramStream]] for the backoff LM (x155), same in-row
    * `transform(sequence)` expansion. Not persisted — see [[tokenStream]].
    */
  def trigramStream(spark: SparkSession, dir: String): DataFrame =
    docsSpread(spark, dir)
        // in-projection ≥3-token guard — same pushdown rationale as
        // [[bigramStream]]
        .withColumn("tgs",
          when(size(col("tokens")) >= 3,
            transform(sequence(lit(0), size(col("tokens")) - 3),
              i => struct(col("tokens")(i).as("w1"), col("tokens")(i + 1).as("w2"),
                col("tokens")(i + 2).as("w3"))))
            .otherwise(lit(null)))
        .select(col("doc_id"), col("source"), explode(col("tgs")).as("t"))
        .select(col("doc_id"), col("source"),
          col("t.w1").as("w1"), col("t.w2").as("w2"), col("t.w3").as("w3"))

  /** Layer-cached unigram count table `(token, n_t)` — |vocab| rows,
    * shared by x85's cost table and x140's unigram marginal. Aggregated
    * from [[tokenStream]] with map-side partials, so the warm path never
    * re-reads the corpus to rebuild it.
    */
  def unigramCounts(spark: SparkSession, dir: String): DataFrame =
    Layer.cached(spark, dir, "text_unigram_counts") {
      tokenStream(spark, dir).groupBy("token").agg(count(lit(1)).as("n_t"))
    }

  /** Layer-cached bigram count table `(w1, w2, n_bg)` — |bigram vocab|
    * rows, shared by x107 and x140 (whose context counts Σ_w2 c(w1,w2)
    * re-aggregate it, never the corpus).
    */
  def bigramCounts(spark: SparkSession, dir: String): DataFrame =
    Layer.cached(spark, dir, "text_bigram_counts") {
      bigramStream(spark, dir).groupBy("w1", "w2").agg(count(lit(1)).as("n_bg"))
    }

  /** Vocab-side broadcast gate for the LM family's stream⋈cost joins
    * (guide §3.1 "use an explicit broadcast(df) when you know a side is
    * small — estimates are often badly wrong"). Measured r16: the static
    * planner broadcast the CORPUS-POSITIONS stream side of every
    * bg/toks⋈cost join (its estimate comes from the tiny documents
    * parquet footprint, while the vocab side's estimate explodes through
    * the count-table joins) — so each NLL query collected the whole
    * tokenize/explode output to the driver and rebuilt it as a hash
    * relation single-threaded (~3.4 s serial per pass at sf0.1, the
    * family's critical path) while the ACTUAL vocab cost table held 931
    * rows. The gate broadcasts the vocab side exactly when its measured
    * row count fits [[VocabBroadcastBudget]]; above the budget the join
    * is left unhinted (key shuffle at web-vocabulary scale — the
    * documented x78/x85 posture, now decided from a measured scalar, the
    * graph-band discipline). Counts are memoized control-plane scalars
    * over the Layer-cached vocab tables (exact for the full-vocab cost
    * tables; sound upper bounds for train-filtered subsets).
    */
  private val vocabRows = new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()
  private def uniRows(spark: SparkSession, dir: String): Long =
    vocabRows.computeIfAbsent(s"$dir|uni", _ => unigramCounts(spark, dir).count())
  private def bcRows(spark: SparkSession, dir: String): Long =
    vocabRows.computeIfAbsent(s"$dir|bc", _ => bigramCounts(spark, dir).count())

  /** Un-memoized variants for the queries whose PLANS consume the full
    * count table: the count's real job here is to MATERIALIZE the Layer
    * sequentially on the main thread before the query's broadcast
    * futures reference it. On a cold Layer the cost subtree otherwise
    * races the InMemoryRelation build from several exchange threads —
    * the per-block KeyLock convoy showed up in the r16 bench as x140
    * cold 28 → 121 task-s (blocked time bills as run time) while the
    * adjacently-profiled single-consumer run stayed at ~18. Warm, this
    * is one vocab-sized count over the cache — the x126 aggregate-size
    * boundary. The memo stays fresh for the bound-only users (x123/x155).
    */
  private def uniRowsEager(spark: SparkSession, dir: String): Long = {
    val n = unigramCounts(spark, dir).count()
    vocabRows.put(s"$dir|uni", n)
    n
  }
  private def bcRowsEager(spark: SparkSession, dir: String): Long = {
    val n = bigramCounts(spark, dir).count()
    vocabRows.put(s"$dir|bc", n)
    n
  }

  /** Largest vocab-side relation the family explicitly broadcasts: 4 M
    * rows ≈ ≤ ~400 MB framed at the observed ~100 B/row (two short tokens
    * + BIGINT) — inside the guide's "a few hundred MB is usually fine"
    * envelope and far under Spark's 8 GB / 512 M-row hard cap.
    */
  private[graft] val VocabBroadcastBudget: Long = 4000000L

  /** The vocab broadcast gate as a pure predicate: budget-inclusive. */
  private[graft] def vocabFits(rows: Long, budget: Long = VocabBroadcastBudget): Boolean =
    rows <= budget

  private def bcastIfVocabFits(df: DataFrame, rows: Long): DataFrame =
    if (vocabFits(rows)) broadcast(df) else df

  /** X4 token statistics: token count, type-token ratio, stopword ratio,
    * mean token length. One projection pass, no shuffle.
    */
  def tokenStats(spark: SparkSession, dir: String): DataFrame = {
    val toks = col("tokens")
    val nTok = size(toks)
    withTokens(Tables.documents(spark, dir))
      .select(
        col("doc_id"),
        nTok.cast("long").as("n_tokens"),
        length(col("text")).cast("long").as("n_chars_calc"),
        round(size(array_distinct(toks)) / nTok, 4).as("ttr"),
        round(size(filter(toks, t => t.isin(stopwords: _*))) / nTok, 4).as("stop_ratio"),
        round(aggregate(toks, lit(0), (acc, t) => acc + length(t)) / nTok, 4).as("avg_token_len"))
      .orderBy("doc_id")
  }

  /** Quality filter: keep documents passing simple length/diversity gates —
    * the canonical pre-training corpus filter shape.
    */
  def qualityFilter(spark: SparkSession, dir: String): DataFrame = {
    val toks = col("tokens")
    withTokens(Tables.documents(spark, dir))
      .withColumn("n_tokens", size(toks).cast("long"))
      .withColumn("ttr", round(size(array_distinct(toks)) / size(toks), 4))
      .filter(col("n_tokens") >= 30 && col("ttr") >= 0.3)
      .select("doc_id", "n_tokens", "ttr")
      .orderBy("doc_id")
  }

  /** Heuristic language scoring (X4 language-ID): count hits from three
    * marker vocabularies and take a deterministic argmax (tie order
    * en > dat > ops). Deliberately a pure column computation so the oracle
    * can replicate it; on this synthetic corpus it demonstrates the
    * operator shape, not linguistic accuracy.
    */
  val enMarkers: Seq[String]  = Seq("the", "a", "of")
  val datMarkers: Seq[String] = Seq("table", "row", "column", "value")
  val opsMarkers: Seq[String] = Seq("scan", "join", "sort", "merge", "agg")

  def langScore(spark: SparkSession, dir: String): DataFrame = {
    val toks = col("tokens")
    def score(words: Seq[String]): Column =
      size(filter(toks, t => t.isin(words: _*))).cast("long")
    withTokens(Tables.documents(spark, dir))
      .select(col("doc_id"), col("lang"),
        score(enMarkers).as("s_en"), score(datMarkers).as("s_dat"),
        score(opsMarkers).as("s_ops"))
      .withColumn("pred",
        when(col("s_en") >= col("s_dat") && col("s_en") >= col("s_ops"), "en")
          .when(col("s_dat") >= col("s_ops"), "dat")
          .otherwise("ops"))
      .orderBy("doc_id")
  }

  /** BPE-ish regex token counting: words, numbers, and punctuation runs as
    * separate tokens (the pre-tokenization split BPE vocabularies apply).
    * ASCII-safe pattern so Java regex (Spark) and RE2 (DuckDB oracle)
    * agree byte-for-byte.
    */
  val bpePattern = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]+"

  def bpeTokenCounts(spark: SparkSession, dir: String): DataFrame = {
    val toks = regexp_extract_all(col("text"), lit(bpePattern), lit(0))
    Tables.documents(spark, dir)
      .select(col("doc_id"),
        size(toks).cast("long").as("n_bpe_tokens"),
        size(array_distinct(toks)).cast("long").as("n_distinct_bpe"))
      .orderBy("doc_id")
  }

  /** X4 document fingerprinting via the native FNV-1a 64 expression. */
  def fingerprints(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), gf.fnv1a64(col("text")).as("fp"))
      .orderBy("doc_id")

  /** Repetition quality signals (the Gopher-style repetition filters):
    * duplicate-token fraction and the share of all bigrams taken by the
    * most frequent bigram. Pure higher-order column functions — per-row
    * compute, no shuffle, stays in WholeStageCodegen. The top-bigram scan
    * is O(distinct · n) per document, the right trade below ~10k tokens
    * (quality filtering runs on bounded docs); for pathological documents
    * the explode + groupBy(doc_id, bigram) formulation is the fallback.
    */
  def repetitionSignals(spark: SparkSession, dir: String): DataFrame = {
    val toks = col("tokens")
    val n = size(toks)
    val bigrams = when(n >= 2,
      transform(sequence(lit(1), n - 1),
        i => concat(element_at(toks, i), lit(" "), element_at(toks, i + 1))))
      .otherwise(array_repeat(lit(""), 0))
    val topN = coalesce(
      array_max(transform(array_distinct(col("bg")),
        x => size(filter(col("bg"), y => y === x)))),
      lit(0))
    withTokens(Tables.documents(spark, dir))
      .withColumn("bg", bigrams)
      .select(col("doc_id"),
        n.cast("long").as("n_tokens"),
        round(lit(1.0) - size(array_distinct(toks)).cast("double") / n, 4)
          .as("dup_token_frac"),
        topN.cast("long").as("top_bigram_n"),
        round(topN.cast("double") / greatest(size(col("bg")), lit(1)), 4)
          .as("top_bigram_frac"))
      .orderBy("doc_id")
  }

  /** Gopher-style lexical gates — the remaining canonical pre-training
    * quality rules over the token stream: fraction of tokens containing an
    * alphabetic character (the "80% words must have alpha" rule), fraction
    * containing digits, fraction that are pure symbol runs, plus the
    * composed pass flag. One projection pass, no shuffle, ASCII character
    * classes so Java regex (Spark) and RE2 (DuckDB oracle) agree.
    */
  def gopherSignals(spark: SparkSession, dir: String): DataFrame = {
    val toks = col("tokens")
    val n = size(toks)
    def frac(p: Column => Column): Column =
      round(size(filter(toks, p)).cast("double") / n, 4)
    withTokens(Tables.documents(spark, dir))
      .select(col("doc_id"),
        n.cast("long").as("n_tokens"),
        frac(t => t.rlike("[A-Za-z]")).as("alpha_frac"),
        frac(t => t.rlike("[0-9]")).as("digit_frac"),
        frac(t => !t.rlike("[A-Za-z0-9]")).as("symbol_frac"))
      .withColumn("passes_gopher",
        col("alpha_frac") >= 0.8 && col("symbol_frac") <= 0.1)
      .orderBy("doc_id")
  }

  val gopherOracle: String =
    """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
      |s AS (
      |  SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens,
      |    ROUND(len(list_filter(toks, x -> regexp_matches(x, '[A-Za-z]'))) / len(toks), 4) AS alpha_frac,
      |    ROUND(len(list_filter(toks, x -> regexp_matches(x, '[0-9]'))) / len(toks), 4) AS digit_frac,
      |    ROUND(len(list_filter(toks, x -> NOT regexp_matches(x, '[A-Za-z0-9]'))) / len(toks), 4) AS symbol_frac
      |  FROM t)
      |SELECT doc_id, n_tokens, alpha_frac, digit_frac, symbol_frac,
      |       (alpha_frac >= 0.8 AND symbol_frac <= 0.1) AS passes_gopher
      |FROM s ORDER BY doc_id""".stripMargin

  /** Unigram language-model NLL — the CCNet-style LM quality score with a
    * unigram model standing in for the external KenLM: per-token cost is
    * the self-information −ln(n_t/N), and a document's score is the sum
    * over its tokens (divide by n_tokens for the mean). Hash-stable
    * despite the float log: costs quantize to MILLI-nats
    * (floor(−ln p·10³ + 0.5), where the ~1e-15 cross-engine ln error is
    * ~9 orders of magnitude below the floor boundary) and per-doc sums
    * accumulate as exact BIGINTs.
    *
    * Scale shape: the frequency table is |vocab| rows aggregated with
    * map-side partials; the corpus total is a one-row broadcast; the
    * cost join carries NO hint — same AQE posture as [[docKeywords]]
    * (broadcast under the threshold, shuffle join with skew split at
    * web-vocabulary scale).
    */
  def unigramNll(spark: SparkSession, dir: String): DataFrame = {
    val toks = tokenStream(spark, dir).select(col("doc_id"), col("token"))
    val freq = unigramCounts(spark, dir)
    val total = freq.agg(sum(col("n_t")).as("N"))
    val cost = freq.crossJoin(broadcast(total))
      .select(col("token"),
        floor(-log(col("n_t") / col("N")) * 1000d + 0.5d).cast("long").as("c_millinat"))
    toks.join(bcastIfVocabFits(cost, uniRowsEager(spark, dir)), "token")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"), sum(col("c_millinat")).as("nll_millinat"))
      .orderBy("doc_id")
  }

  val unigramNllOracle: String =
    """WITH tok AS (SELECT doc_id, u.t AS token
      |             FROM documents, UNNEST(string_split(text, ' ')) u(t)),
      |freq AS (SELECT token, COUNT(*) AS n_t FROM tok GROUP BY 1),
      |tot AS (SELECT SUM(n_t) AS N FROM freq),
      |cost AS (SELECT token, CAST(floor(-ln(n_t / N) * 1000 + 0.5) AS BIGINT) AS c
      |         FROM freq, tot)
      |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
      |       CAST(SUM(c) AS BIGINT) AS nll_millinat
      |FROM tok JOIN cost USING (token)
      |GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** Corpus-level n-gram novelty — the share of a document's distinct
    * 4-grams that appear in NO other document, in exact basis points. The
    * third leg of the repetition family: x74 measures repetition WITHIN a
    * document, x62 overlap against a benchmark set, this measures overlap
    * against the REST OF THE CORPUS — low novelty flags near-boilerplate
    * pages that survived dedup, high novelty flags unique (or garbage)
    * content; both tails matter when weighting training data.
    *
    * Shares the persisted per-doc distinct-4-gram layer with x62
    * ([[Dedup.grams4]]), so the tokenize+explode pass runs once per
    * session across both queries. df == 1 means "this doc only": grams
    * are distinct within a doc, so the gram's row count IS its document
    * frequency.
    *
    * Scale shape: one gram-keyed count aggregate (map-side partials — the
    * same flood-absorbing shape as x100), then the df table re-joins the
    * gram stream unhinted: AQE broadcasts it at test scale and falls back
    * to a shuffle join with skew split at web scale, the documented
    * x78/x85 posture. The novelty ratio is integer arithmetic
    * (`10000·unique div total`), so every row hash-matches DuckDB.
    */
  def gramNovelty(spark: SparkSession, dir: String): DataFrame = {
    val grams = Dedup.grams4(spark, dir)
    val df = grams.groupBy("gram").agg(count(lit(1)).as("df"))
    grams.join(df, "gram")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("df") === 1, 1L).otherwise(0L)).as("n_unique"))
      .select(col("doc_id"), col("n_grams"), col("n_unique"),
        expr("(10000 * n_unique) div n_grams").as("novelty_bp"))
      .orderBy("doc_id")
  }

  val noveltyOracle: String =
    """WITH d AS (SELECT doc_id, string_split(text,' ') AS toks,
      |                  CAST(len(string_split(text,' ')) AS BIGINT) AS n FROM documents),
      |g AS (SELECT doc_id, u.gram FROM d,
      |        UNNEST(list_distinct(list_transform(range(1, n-2),
      |          i -> toks[i]||' '||toks[i+1]||' '||toks[i+2]||' '||toks[i+3]))) u(gram)
      |      WHERE n >= 4),
      |f AS (SELECT gram, COUNT(*) AS df FROM g GROUP BY gram)
      |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_grams,
      |       CAST(SUM(CASE WHEN df = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_unique,
      |       CAST((10000 * SUM(CASE WHEN df = 1 THEN 1 ELSE 0 END)) // COUNT(*) AS BIGINT)
      |         AS novelty_bp
      |FROM g JOIN f USING (gram)
      |GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** DSIR-style importance weights — data selection by importance
    * resampling: score each document by how much more likely its hashed
    * unigram features are under a TARGET distribution (here the lang='en'
    * slice) than under the RAW corpus distribution. Features hash into a
    * FIXED number of md5 buckets (DSIR's hashed n-gram trick), so the
    * weight table is exactly `buckets` rows at ANY corpus size — safe to
    * hint-broadcast, like the nation dim. Log-ratios quantize to
    * milli-nats (the x85 discipline: the ~1e-15 cross-engine ln error
    * sits ~9 orders below the floor boundary) with add-one smoothing so
    * empty target buckets stay finite, and per-doc sums accumulate as
    * exact BIGINTs — hash-checked despite the float log.
    *
    * Scale shape: two fixed-size bucket aggregates with map-side partials
    * (only `buckets` rows cross each shuffle), a one-row totals broadcast,
    * and one broadcast join back to the token stream. Nothing grows with
    * the corpus except the embarrassingly-parallel token scan.
    */
  def dsirWeights(spark: SparkSession, dir: String, buckets: Int = 1024): DataFrame = {
    val bucketed = withTokens(Tables.documents(spark, dir))
      .select(col("doc_id"), col("lang"), explode(col("tokens")).as("token"))
      .withColumn("bucket",
        conv(substring(md5(col("token")), 1, 8), 16, 10).cast("long") % buckets)
    // both distributions in ONE aggregate pass (conditional count), not
    // two aggregates + an outer join — the token explode is scanned once
    // for the estimate and empty target buckets are naturally 0
    val counts = bucketed.groupBy("bucket")
      .agg(count(lit(1)).as("n_raw"),
        sum(when(col("lang") === "en", 1L).otherwise(0L)).as("n_tgt"))
    // tot_* not N_*: name resolution is case-insensitive on both engines,
    // so N_tgt would collide with the per-bucket n_tgt
    val totals = counts.agg(sum(col("n_raw")).as("tot_raw"), sum(col("n_tgt")).as("tot_tgt"))
    val weights = counts.crossJoin(broadcast(totals))
      .select(col("bucket"),
        floor((log((col("n_tgt") + lit(1.0d)) / (col("tot_tgt") + lit(buckets.toDouble))) -
               log((col("n_raw") + lit(1.0d)) / (col("tot_raw") + lit(buckets.toDouble))))
          * 1000d + 0.5d).cast("long").as("w_millinat"))
    bucketed.join(broadcast(weights), "bucket")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"), sum(col("w_millinat")).as("dsir_millinat"))
      .orderBy("doc_id")
  }

  val dsirOracle: String =
    """WITH tok AS (SELECT doc_id, lang, u.t AS token
      |             FROM documents, UNNEST(string_split(text, ' ')) u(t)),
      |b AS (SELECT doc_id, lang,
      |             (('0x' || substr(md5(token), 1, 8))::BIGINT % 1024) AS bucket
      |      FROM tok),
      |raw AS (SELECT bucket, COUNT(*) AS n_raw FROM b GROUP BY 1),
      |tgt AS (SELECT bucket, COUNT(*) AS n_tgt FROM b WHERE lang = 'en' GROUP BY 1),
      |j AS (SELECT raw.bucket, n_raw, COALESCE(n_tgt, 0) AS n_tgt
      |      FROM raw LEFT JOIN tgt USING (bucket)),
      |tot AS (SELECT SUM(n_raw) AS tot_raw, SUM(n_tgt) AS tot_tgt FROM j),
      |w AS (SELECT bucket,
      |             CAST(floor((ln((n_tgt + 1.0) / (tot_tgt + 1024.0)) -
      |                         ln((n_raw + 1.0) / (tot_raw + 1024.0))) * 1000 + 0.5) AS BIGINT) AS w_millinat
      |      FROM j, tot)
      |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
      |       CAST(SUM(w_millinat) AS BIGINT) AS dsir_millinat
      |FROM b JOIN w USING (bucket)
      |GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** Tokenizer efficiency by source — chars per BPE-ish token, the
    * compression-rate statistic tokenizer evaluations report per domain
    * (code vs prose vs math tokenize very differently). Integral sums,
    * one tiny aggregate; the division happens once at the boundary.
    */
  def sourceTokenRate(spark: SparkSession, dir: String): DataFrame = {
    val toks = regexp_extract_all(col("text"), lit(bpePattern), lit(0))
    Tables.documents(spark, dir)
      .select(col("source"), length(col("text")).cast("long").as("nc"),
        size(toks).cast("long").as("nt"))
      .groupBy("source")
      .agg(sum(col("nc")).as("n_chars"), sum(col("nt")).as("n_bpe_tokens"))
      .withColumn("chars_per_token",
        round(col("n_chars").cast("double") / col("n_bpe_tokens"), 4))
      .orderBy("source")
  }

  /** Compression-ratio quality signal via the native [[gf.deflate_ratio]]
    * expression (zlib level 6): repetitive boilerplate compresses far
    * below natural text, the corpus-filter heuristic gzip/deflate-based
    * pipelines use. No SQL oracle exists for zlib, so the query is
    * rows-only checked; the expression itself has FunctionsSpec vectors.
    */
  def compressionRatios(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"),
        round(gf.deflate_ratio(col("text")), 4).as("deflate_ratio"))
      .orderBy("doc_id")

  /** Vocabulary build: corpus-wide top-K tokens by frequency — the first
    * step of tokenizer training. Explode → hash aggregate (map-side
    * partial combine, so only |vocab| rows per partition cross the
    * shuffle) → global top-K via TakeOrdered (per-partition top-K merged,
    * never a full sort). Tie-break (count desc, token asc) is total, so
    * the K-boundary is deterministic and oracle-exact.
    */
  def vocabTopK(spark: SparkSession, dir: String, k: Int = 20): DataFrame =
    withTokens(Tables.documents(spark, dir))
      .select(explode(col("tokens")).as("token"))
      .groupBy("token")
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("token"))
      .limit(k)

  /** x153: sequence-length bucketing — the batch-composition report a
    * transformer training pipeline runs before packing: group documents
    * by ceil(n_tokens / bucketWidth), and per bucket report how many
    * tokens the bucket-cap padding would waste (Σ(cap − n) over members)
    * against the alternative the x72 packer implements. All integers —
    * the ceil is (n + w − 1) DIV w, the waste a conditional sum — and
    * ONE map-side-combinable aggregate over a projection; |buckets| rows
    * cross the shuffle. waste_bp is the padding overhead in basis points
    * of the padded volume, integer cross-multiplied.
    */
  def lengthBuckets(spark: SparkSession, dir: String,
                    bucketWidth: Int = 16): DataFrame = {
    val w = bucketWidth.toLong
    withTokens(Tables.documents(spark, dir))
      .select(size(col("tokens")).cast("long").as("n"))
      .withColumn("bucket", expr(s"(n + ${w - 1}) DIV $w"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n_docs"), sum(col("n")).as("n_tokens"))
      .select(col("bucket"), col("n_docs"), col("n_tokens"),
        (col("bucket") * w * col("n_docs") - col("n_tokens")).as("waste_tokens"),
        expr(s"((bucket * $w * n_docs - n_tokens) * 10000) DIV (bucket * $w * n_docs)")
          .as("waste_bp"))
      .orderBy("bucket")
  }

  val lengthBucketsOracle: String =
    """WITH d AS (SELECT CAST(len(string_split(text, ' ')) AS BIGINT) AS n
      |           FROM documents),
      |b AS (SELECT (n + 15) // 16 AS bucket, COUNT(*) AS n_docs, SUM(n) AS n_tokens
      |      FROM d GROUP BY 1)
      |SELECT bucket, n_docs, CAST(n_tokens AS BIGINT) AS n_tokens,
      |       CAST(bucket * 16 * n_docs - n_tokens AS BIGINT) AS waste_tokens,
      |       CAST(((bucket * 16 * n_docs - n_tokens) * 10000) // (bucket * 16 * n_docs) AS BIGINT) AS waste_bp
      |FROM b ORDER BY bucket""".stripMargin

  /** x150: sketch-guided exact heavy hitters — tokens with true frequency
    * strictly above n/(k+1), found the way a 100 TB stream has to: pass 1
    * is ONE Misra–Gries typed aggregate ([[graft.functions
    * .MisraGriesAggregator]]) whose O(k) buffers partial-combine map-side
    * (no per-token shuffle; n rides in the same buffer, so candidates and
    * the threshold cost one job); pass 2 counts ONLY the ≤ k candidate
    * tokens exactly (broadcast semi-join ahead of the aggregate, so the
    * exchange carries ≤ k groups) and keeps those whose EXACT count
    * clears the threshold — integer cross-multiply, no division. The MG
    * guarantee (every true heavy hitter survives candidacy, under any
    * merge order) makes the verified output DETERMINISTIC and equal to
    * the plain exact definition, which is exactly what the DuckDB twin
    * computes — the sketch accelerates, the answer never depends on it.
    * The candidate collect is a ≤ k-row driver boundary (x126 posture).
    */
  def heavyHitters(spark: SparkSession, dir: String, k: Int = 40): DataFrame = {
    import org.apache.spark.sql.Encoders
    val toks = withTokens(Tables.documents(spark, dir))
      .select(explode(col("tokens")).as("token"))
    val summary = toks.as[String](Encoders.STRING)
      .select(new graft.functions.MisraGriesAggregator(k).toColumn)
      .head()
    val cands = summary.counters.keys.toSeq.sorted
    val spark2 = toks.sparkSession
    import spark2.implicits._
    toks.join(broadcast(cands.toDF("token")), "token")
      .groupBy("token")
      .agg(count(lit(1)).as("n_tok"))
      .filter(col("n_tok") * (k + 1) > summary.n)
      .orderBy(col("n_tok").desc, col("token"))
  }

  val heavyHittersOracle: String =
    """WITH t AS (SELECT u.t AS token
      |           FROM documents, UNNEST(string_split(text, ' ')) u(t)),
      |n AS (SELECT COUNT(*) AS n FROM t)
      |SELECT token, CAST(COUNT(*) AS BIGINT) AS n_tok
      |FROM t GROUP BY token
      |HAVING COUNT(*) * 41 > (SELECT n FROM n)
      |ORDER BY n_tok DESC, token""".stripMargin

  /** Per-document keyword extraction — the tf-idf shape with a PURE
    * INTEGER ordering (tf desc, then document-frequency asc as the idf
    * proxy, then token): rarer-elsewhere beats common-everywhere, and no
    * float log enters the sort, so ranks can't flip on last-ulp
    * differences between engines.
    *
    * Scale shape: per-doc term counts partial-aggregate map-side; the df
    * table is |vocab| rows and deliberately carries NO broadcast hint —
    * every keyword candidate needs its df, so the table cannot be
    * thresholded away, and a real web corpus's vocabulary (typos, code,
    * numerals) is 10⁸+ tokens, past any broadcast budget. AQE picks the
    * join: broadcast while the measured df size is under
    * autoBroadcastJoinThreshold, shuffle hash join (with AQE skew
    * splitting for hot tokens) beyond it — asserted in OpsSpec by forcing
    * the threshold to −1 and watching the plan fall back. The per-doc
    * top-K is a window row_number that WindowGroupLimit prunes below the
    * shuffle.
    */
  def docKeywords(spark: SparkSession, dir: String, k: Int = 3): DataFrame = {
    val tf = withTokens(Tables.documents(spark, dir))
      .select(col("doc_id"), explode(col("tokens")).as("token"))
      .groupBy("doc_id", "token")
      .agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy("token").agg(count(lit(1)).as("df"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id")
      .orderBy(col("tf").desc, col("df"), col("token"))
    tf.join(dfreq, "token")
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("doc_id"), col("rank").cast("long").as("rank"),
        col("token"), col("tf"), col("df"))
      .orderBy("doc_id", "rank")
  }

  /** First BPE merge iteration — the statistic tokenizer training
    * maximizes at every merge step: corpus-wide adjacent character-pair
    * counts weighted by word frequency. Two-level aggregation is the
    * scale shape: the corpus-sized explode collapses to |vocab| rows
    * FIRST (word counts, map-side partials), and pairs then explode from
    * the distinct-word table only — pair weighting costs |vocab|·len,
    * not |corpus|·len, exactly how production BPE trainers batch by
    * word frequency. ASCII corpus, so Spark substr (UTF-16 units) and
    * DuckDB slices (characters) agree; ties broken (weight desc, pair
    * asc) for a deterministic K-boundary.
    */
  def bpeMergePairs(spark: SparkSession, dir: String, k: Int = 20): DataFrame = {
    val words = withTokens(Tables.documents(spark, dir))
      .select(explode(col("tokens")).as("w"))
      .filter(length(col("w")) >= 2) // guards sequence(1, 0), which DESCENDS
      .groupBy("w").agg(count(lit(1)).as("c_w"))
    words
      .select(col("c_w"),
        explode(transform(sequence(lit(1), length(col("w")) - 1),
          i => col("w").substr(i, lit(2)))).as("pair"))
      .groupBy("pair").agg(sum(col("c_w")).as("weight"))
      .orderBy(col("weight").desc, col("pair"))
      .limit(k)
  }

  /** x222: BPE tokenizer TRAINING — k full merge iterations (x82 stops
    * at the first): per step, corpus-weighted adjacent symbol-pair
    * counts over the distinct-word table, the (weight desc, pair asc)
    * argmax collected at a ONE-ROW driver boundary, and every word's
    * segmentation rewritten by merging that pair. The rewrite is
    * `replace` on the DOUBLE-space-joined symbol string — leftmost
    * non-overlapping replacement, which is exactly BPE's greedy
    * left-to-right merge, with the double delimiter keeping consecutive
    * occurrences matchable (single-space-bounded patterns consume their
    * shared delimiter and silently skip every second occurrence — the
    * classic BPE-in-SQL bug). Scale shape: the corpus collapses to the
    * |vocab|-row word table FIRST (map-side partials), each iteration is
    * a |vocab|-sized projection + one pair aggregate, and only the 1-row
    * winner crosses to the driver — the batch-by-word-frequency shape
    * production BPE trainers use. The ORACLE replays all k iterations
    * as unrolled CTE blocks with the same argmax and the same `replace`,
    * so the trainer's full merge TRAJECTORY is hash-checked (a wrong
    * tie-break or overlap rule diverges at the first affected step).
    */
  def bpeTrain(spark: SparkSession, dir: String, k: Int = 5): DataFrame = {
    import spark.implicits._
    var seg = withTokens(Tables.documents(spark, dir))
      .select(explode(col("tokens")).as("w"))
      .groupBy("w").agg(count(lit(1)).as("c_w"))
      .select(array_join(transform(sequence(lit(1), length(col("w"))),
        i => col("w").substr(i, lit(1))), "  ").as("sym"), col("c_w"))
    val out = Seq.newBuilder[(Long, String, Long)]
    for (step <- 1 to k) {
      val syms = split(col("sym"), "  ")
      val best = seg
        .filter(size(syms) >= 2)
        .select(col("c_w"), explode(transform(
          sequence(lit(0), size(syms) - 2),
          i => concat(element_at(syms, i + 1), lit("  "), element_at(syms, i + 2))))
          .as("pair"))
        .groupBy("pair").agg(sum(col("c_w")).as("weight"))
        .orderBy(col("weight").desc, col("pair"))
        .limit(1).collect()
      if (best.nonEmpty) {
        val (pair, weight) = (best.head.getString(0), best.head.getLong(1))
        out += ((step.toLong, pair.replace("  ", "+"), weight))
        val merged = pair.replace("  ", "")
        seg = seg.select(
          expr(s"replace(sym, '${pair.replace("'", "''")}', '${merged.replace("'", "''")}')")
            .as("sym"), col("c_w"))
      }
    }
    out.result().toDF("step", "merge", "weight").orderBy("step")
  }

  val bpeTrainOracle: String = {
    val steps = (1 to 5).map { t =>
      s"""pairs$t AS (
         |  SELECT pr.pair, SUM(s.c_w) AS weight
         |  FROM seg${t - 1} s,
         |       LATERAL (SELECT unnest([array_to_string(y[i:i+1], '  ')
         |                 for i in range(1, len(y))]) AS pair
         |                FROM (SELECT string_split(s.sym, '  ') AS y)) pr
         |  WHERE len(string_split(s.sym, '  ')) >= 2
         |  GROUP BY 1),
         |best$t AS (SELECT pair, CAST(weight AS BIGINT) AS weight
         |           FROM pairs$t ORDER BY weight DESC, pair LIMIT 1),
         |seg$t AS (SELECT replace(s.sym, b.pair, replace(b.pair, '  ', '')) AS sym, s.c_w
         |          FROM seg${t - 1} s, best$t b)""".stripMargin
    }.mkString(",\n")
    s"""WITH words AS (
       |  SELECT w, COUNT(*) AS c_w FROM (
       |    SELECT unnest(string_split(text, ' ')) AS w FROM documents)
       |  GROUP BY 1),
       |seg0 AS (SELECT array_to_string([w[i] for i in range(1, len(w) + 1)], '  ') AS sym,
       |                c_w
       |         FROM words),
       |$steps
       |SELECT * FROM (
       |  SELECT 1::BIGINT AS step, replace(pair, '  ', '+') AS merge, weight FROM best1
       |  UNION ALL SELECT 2, replace(pair, '  ', '+'), weight FROM best2
       |  UNION ALL SELECT 3, replace(pair, '  ', '+'), weight FROM best3
       |  UNION ALL SELECT 4, replace(pair, '  ', '+'), weight FROM best4
       |  UNION ALL SELECT 5, replace(pair, '  ', '+'), weight FROM best5)
       |ORDER BY step""".stripMargin
  }

  /** BM25 relevance scoring for a fixed query-term set — the search-side
    * counterpart of the tf-idf keywords (x78): Robertson idf quantized to
    * milli-nats (the x85 discipline), the saturation term in plain IEEE
    * doubles (identical operand order on both engines, so bit-exact), and
    * one final round at the boundary. k1 = 1.2, b = 0.75 (the standard
    * Lucene defaults).
    *
    * Scale shape: per-doc lengths are a projection; the per-(doc, term)
    * tf table only materializes rows for QUERY terms (the filter rides
    * inside the explode pipeline, so the aggregate is |docs|·|query|
    * rows max); df and the corpus totals are a |query|-row and a one-row
    * broadcast. Nothing scales beyond the token scan.
    */
  def bm25(spark: SparkSession, dir: String,
           query: Seq[String] = Seq("table", "query", "spark")): DataFrame = {
    val docs = withTokens(Tables.documents(spark, dir))
      .select(col("doc_id"), col("tokens"))
    val lens = docs.select(col("doc_id"), size(col("tokens")).cast("long").as("dl"))
    val tf = docs.select(col("doc_id"), explode(col("tokens")).as("token"))
      .filter(col("token").isin(query: _*))
      .groupBy("doc_id", "token").agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy("token").agg(count(lit(1)).as("df"))
    val totals = lens.agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("tot_dl"))
    val idf = dfreq.crossJoin(broadcast(totals))
      .select(col("token"),
        floor(log((col("n_docs") - col("df") + lit(0.5d)) / (col("df") + lit(0.5d)) + 1d)
          * 1000d + 0.5d).cast("long").as("idf_milli"))
    // saturation: tf·(k1+1) / (tf + k1·(1−b) + k1·b·dl·n_docs/tot_dl);
    // dl/avgdl is expanded to dl·n_docs/tot_dl so both engines divide once
    tf.join(broadcast(idf), "token")
      .join(lens, "doc_id")
      .crossJoin(broadcast(totals))
      .select(col("doc_id"), col("token"),
        // per-term score floored to micro-units: the double is bit-exact
        // on both engines (identical operand order), and the BIGINT sum
        // is order-independent — a double sum of the per-term scores
        // could flip the last decimal on aggregation order
        floor(col("idf_milli") / 1000d * (col("tf") * 2.2d) /
          (col("tf") + lit(0.3d) +
            lit(0.9d) * col("dl") * col("n_docs") / col("tot_dl"))
          * 1000000d + 0.5d).cast("long").as("s_micro"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_terms"), sum(col("s_micro")).as("bm25_micro"))
      .orderBy("doc_id")
  }

  val bm25Oracle: String =
    """WITH d AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
      |lens AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl FROM d),
      |tf AS (
      |  SELECT doc_id, u.t AS token, CAST(COUNT(*) AS BIGINT) AS tf
      |  FROM d, UNNEST(toks) u(t)
      |  WHERE u.t IN ('table', 'query', 'spark')
      |  GROUP BY 1, 2),
      |dfreq AS (SELECT token, COUNT(*) AS df FROM tf GROUP BY 1),
      |tot AS (SELECT COUNT(*) AS n_docs, SUM(dl) AS tot_dl FROM lens),
      |idf AS (SELECT token,
      |               CAST(floor(ln((n_docs - df + 0.5) / (df + 0.5) + 1) * 1000 + 0.5) AS BIGINT) AS idf_milli
      |        FROM dfreq, tot)
      |SELECT tf.doc_id, CAST(COUNT(*) AS BIGINT) AS n_terms,
      |       CAST(SUM(CAST(floor(idf.idf_milli / 1000.0 * (tf.tf * 2.2) /
      |                 (tf.tf + 0.3 + 0.9 * lens.dl * tot.n_docs / tot.tot_dl)
      |                 * 1000000 + 0.5) AS BIGINT)) AS BIGINT) AS bm25_micro
      |FROM tf
      |JOIN idf USING (token)
      |JOIN lens ON tf.doc_id = lens.doc_id
      |CROSS JOIN tot
      |GROUP BY tf.doc_id ORDER BY tf.doc_id""".stripMargin

  /** Quality-signal rank fusion — combine heterogeneous quality signals
    * (unigram-LM NLL, duplicate-token fraction, alpha fraction) by
    * reciprocal rank fusion instead of unit juggling: each signal ranks
    * all documents (total tie-break on doc_id), and RRF sums
    * floor(10⁶/(60+rank)) as exact BIGINTs — scale-free, robust to one
    * signal's outliers, and hash-stable (no float weights to diverge).
    *
    * Scale shape: each global ranking runs through
    * [[graft.ops.Ranking.globalRowNumber]] — value-bucketed two-phase
    * rank, NEVER a partition-less window (which would move every row to
    * one task) — then a doc-keyed 3-way join at matching grain.
    */
  def qualityFusion(spark: SparkSession, dir: String): DataFrame = {
    import graft.ops.Ranking.globalRowNumber
    val nll = unigramNll(spark, dir)
      .select(col("doc_id"),
        (col("nll_millinat") / col("n_tokens")).as("mean_nll"))
    val rep = repetitionSignals(spark, dir).select("doc_id", "dup_token_frac")
    val gop = gopherSignals(spark, dir).select("doc_id", "alpha_frac")
    // lower mean NLL, lower dup fraction, higher alpha fraction = better
    // (descending order = rank on the negated value)
    val rNll = globalRowNumber(nll, col("mean_nll"), col("doc_id"), "r1")
    val rRep = globalRowNumber(rep, col("dup_token_frac"), col("doc_id"), "r2")
    val rGop = globalRowNumber(gop, negate(col("alpha_frac")), col("doc_id"), "r3")
    def rrf(r: org.apache.spark.sql.Column) = floor(lit(1000000d) / (lit(60L) + r)).cast("long")
    rNll.select(col("doc_id"), col("r1"))
      .join(rRep.select(col("doc_id"), col("r2")), "doc_id")
      .join(rGop.select(col("doc_id"), col("r3")), "doc_id")
      .select(col("doc_id"), col("r1"), col("r2"), col("r3"),
        (rrf(col("r1")) + rrf(col("r2")) + rrf(col("r3"))).as("rrf_micro"))
      .orderBy(col("rrf_micro").desc, col("doc_id"))
  }

  val fusionOracle: String =
    """WITH tok AS (SELECT doc_id, u.t AS token
      |             FROM documents, UNNEST(string_split(text, ' ')) u(t)),
      |freq AS (SELECT token, COUNT(*) AS n_t FROM tok GROUP BY 1),
      |tot AS (SELECT SUM(n_t) AS N FROM freq),
      |cost AS (SELECT token, CAST(floor(-ln(n_t / N) * 1000 + 0.5) AS BIGINT) AS c
      |         FROM freq, tot),
      |nll AS (SELECT doc_id, SUM(c) / COUNT(*) AS mean_nll
      |        FROM tok JOIN cost USING (token) GROUP BY doc_id),
      |t2 AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
      |rep AS (SELECT doc_id,
      |               ROUND(1.0 - len(list_distinct(toks)) * 1.0 / len(toks), 4) AS dup_frac
      |        FROM t2),
      |gop AS (SELECT doc_id,
      |               ROUND(len(list_filter(toks, x -> regexp_matches(x, '[A-Za-z]'))) / len(toks), 4) AS alpha_frac
      |        FROM t2),
      |r AS (
      |  SELECT nll.doc_id,
      |         CAST(ROW_NUMBER() OVER (ORDER BY nll.mean_nll, nll.doc_id) AS BIGINT) AS r1,
      |         CAST(ROW_NUMBER() OVER (ORDER BY rep.dup_frac, rep.doc_id) AS BIGINT) AS r2,
      |         CAST(ROW_NUMBER() OVER (ORDER BY gop.alpha_frac DESC, gop.doc_id) AS BIGINT) AS r3
      |  FROM nll JOIN rep USING (doc_id) JOIN gop USING (doc_id))
      |SELECT doc_id, r1, r2, r3,
      |       CAST(floor(1000000.0 / (60 + r1)) + floor(1000000.0 / (60 + r2)) +
      |            floor(1000000.0 / (60 + r3)) AS BIGINT) AS rrf_micro
      |FROM r ORDER BY rrf_micro DESC, doc_id""".stripMargin

  /** PII scrub: redact emails/phones and count what was removed. The regex
    * subset is deliberately Java-regex ∩ RE2 (no backrefs/lookaround) so
    * Spark and the DuckDB oracle match byte-for-byte; Spark regexp_replace
    * is global like DuckDB's 'g'. The corpus is synthetic, so PII is
    * PLANTED deterministically from doc_id on both sides first — the
    * redaction path (extract_all counts + double replace + content hash)
    * is what's under test. Per-row compute, no shuffle.
    */
  val emailRe = "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}"
  val phoneRe = "\\+[0-9]{1,2}-[0-9]{3}-[0-9]{4}"

  def piiScrub(spark: SparkSession, dir: String): DataFrame = {
    val planted = concat(col("text"),
      when(col("doc_id") % 7 === 0,
        concat(lit(" contact user"), col("doc_id").cast("string"), lit("@example.com now")))
        .otherwise(lit("")),
      when(col("doc_id") % 11 === 0, lit(" call +12-555-0199")).otherwise(lit("")))
    Tables.documents(spark, dir)
      .withColumn("t2", planted)
      .select(col("doc_id"),
        size(regexp_extract_all(col("t2"), lit(emailRe), lit(0))).cast("long").as("n_emails"),
        size(regexp_extract_all(col("t2"), lit(phoneRe), lit(0))).cast("long").as("n_phones"),
        md5(regexp_replace(regexp_replace(col("t2"), emailRe, "<EMAIL>"),
          phoneRe, "<PHONE>")).as("clean_hash"))
      .orderBy("doc_id")
  }

  /** Bigram-LM conditional NLL per document — [[unigramNll]]'s sequence
    * upgrade (the CCNet quality-bucket score with one token of context):
    * cost(w₁w₂) = −ln(c(w₁w₂)/c(w₁·)) where c(w₁·) counts bigrams
    * STARTING with w₁, so the per-bigram probabilities sum to 1 per
    * context and the model is a proper Markov chain. Same exactness
    * discipline as x85: the one float op (−ln of a ratio of exact
    * integers) is floored to milli-nats, and the per-doc score is an
    * order-independent BIGINT sum.
    *
    * Scale shape: bigram and context counts are partial-agg'd map-side
    * (|bigram vocab| ≪ |corpus positions| after combine); the cost table
    * joins back by (w₁,w₂) UNHINTED — AQE broadcasts at test scale and
    * falls back to a key shuffle at web-vocabulary scale, the x78/x85
    * posture. No window, no per-doc sort: position pairing is a
    * `transform(sequence)` projection inside the row.
    */
  def bigramNll(spark: SparkSession, dir: String): DataFrame = {
    val bg = bigramStream(spark, dir)
    val bc = bigramCounts(spark, dir)
    // context counts are a VOCAB-SIZED re-aggregate of bc — never a
    // second corpus pass: Σ_w2 c(w1,w2) = c(w1·) exactly
    val cc = bc.groupBy("w1").agg(sum(col("n_bg")).as("n_ctx"))
    val cost = bc.join(cc, "w1")
      .select(col("w1"), col("w2"),
        floor(-log(col("n_bg") / col("n_ctx")) * 1000d + 0.5d).cast("long").as("c_millinat"))
    // |cost| = |bc| exactly (inner join on w1 hits for every bc row)
    bg.join(bcastIfVocabFits(cost, bcRowsEager(spark, dir)), Seq("w1", "w2"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"), sum(col("c_millinat")).as("nll_millinat"))
      .orderBy("doc_id")
  }

  val bigramNllOracle: String =
    """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents
      |           WHERE len(string_split(text, ' ')) >= 2),
      |bg AS (SELECT doc_id, toks[i.i] AS w1, toks[i.i + 1] AS w2
      |       FROM t, UNNEST(range(1, len(toks))) i(i)),
      |bc AS (SELECT w1, w2, COUNT(*) AS n_bg FROM bg GROUP BY 1, 2),
      |cc AS (SELECT w1, COUNT(*) AS n_ctx FROM bg GROUP BY 1),
      |cost AS (SELECT w1, w2, CAST(floor(-ln(n_bg / n_ctx) * 1000 + 0.5) AS BIGINT) AS c
      |         FROM bc JOIN cc USING (w1))
      |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
      |       CAST(SUM(c) AS BIGINT) AS nll_millinat
      |FROM bg JOIN cost USING (w1, w2)
      |GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** x140: Jelinek–Mercer interpolated bigram NLL — the smoothing step
    * between x85's unigram and x107's pure-bigram models that real n-gram
    * LMs actually ship: cost(w₂|w₁) = −ln(λ·p_bi + (1−λ)·p_uni) with
    * λ = 0.7, so rare contexts fall back toward the unigram mass instead
    * of over-trusting a sparse bigram estimate. Exactness discipline: the
    * mixture λ·p_bi + (1−λ)·p_uni is computed as the SUM of two double
    * fractions 7·n_bg/(10·n_ctx) + 3·n_uni/(10·N), operand order pinned
    * identically in the oracle (IEEE doubles are deterministic given the
    * same op sequence; every count converts to double exactly below
    * 2^53). The algebraically equivalent single rational
    * (7·n_bg·N + 3·n_uni·n_ctx)/(10·n_ctx·N) is deliberately NOT used:
    * its BIGINT numerator overflows once n_bg·N exceeds ~1.3e18 — a
    * corpus scale this engine claims — and Spark would wrap silently
    * where DuckDB errors. Then the x85 milli-nat floor. Plan shape:
    * the bigram stream and both count tables come from the Layer-cached
    * frames shared with x85/x107 ([[bigramStream]], [[bigramCounts]],
    * [[unigramCounts]]) — this query adds NO corpus pass of its own in a
    * warm run; N is a one-row broadcast, and the cost join back to
    * the bigram stream is AQE-governed exactly like x107. ExtSpec pins
    * the interpolation bracket (the mixed cost can exceed neither
    * component's cost by more than its mixing penalty: ≤ c_bi + 357, and
    * ≤ c_uni + 1204 milli-nats).
    */
  def interpolatedNll(spark: SparkSession, dir: String): DataFrame = {
    val bg = bigramStream(spark, dir)
    val bc = bigramCounts(spark, dir)
    // context counts re-aggregate bc (vocab-sized, Σ_w2 c(w1,w2) = c(w1·))
    // and the corpus total re-aggregates uni — neither pays a second
    // corpus pass
    val cc = bc.groupBy("w1").agg(sum(col("n_bg")).as("n_ctx"))
    uniRowsEager(spark, dir) // sequential uni materialization — the
    // totals/cost broadcast futures otherwise race its cold cache build
    val uni = unigramCounts(spark, dir).withColumnRenamed("n_t", "n_uni")
    val totals = uni.agg(sum(col("n_uni")).as("n_tot"))
    val cost = bc.join(cc, "w1")
      .join(uni.withColumnRenamed("token", "w2"), "w2")
      .crossJoin(broadcast(totals))
      .select(col("w1"), col("w2"),
        floor(-log(
          lit(7.0d) * col("n_bg") / (lit(10.0d) * col("n_ctx")) +
            lit(3.0d) * col("n_uni") / (lit(10.0d) * col("n_tot"))) * 1000d + 0.5d)
          .cast("long").as("c_millinat"))
    // |cost| = |bc| (both joins inner-hit for every bc row)
    bg.join(bcastIfVocabFits(cost, bcRowsEager(spark, dir)), Seq("w1", "w2"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"), sum(col("c_millinat")).as("nll_millinat"))
      .orderBy("doc_id")
  }

  val interpolatedNllOracle: String =
    """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents
      |           WHERE len(string_split(text, ' ')) >= 2),
      |bg AS (SELECT doc_id, toks[i.i] AS w1, toks[i.i + 1] AS w2
      |       FROM t, UNNEST(range(1, len(toks))) i(i)),
      |bc AS (SELECT w1, w2, COUNT(*) AS n_bg FROM bg GROUP BY 1, 2),
      |cc AS (SELECT w1, COUNT(*) AS n_ctx FROM bg GROUP BY 1),
      |tok AS (SELECT u.t AS token FROM documents, UNNEST(string_split(text, ' ')) u(t)),
      |uni AS (SELECT token, COUNT(*) AS n_uni FROM tok GROUP BY 1),
      |tot AS (SELECT COUNT(*) AS n_tot FROM tok),
      |cost AS (SELECT w1, w2,
      |           CAST(floor(-ln(7.0 * n_bg / (10.0 * n_ctx) +
      |                          3.0 * n_uni / (10.0 * n_tot)) * 1000 + 0.5) AS BIGINT) AS c
      |         FROM bc JOIN cc USING (w1)
      |         JOIN uni ON uni.token = bc.w2 CROSS JOIN tot)
      |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
      |       CAST(SUM(c) AS BIGINT) AS nll_millinat
      |FROM bg JOIN cost USING (w1, w2)
      |GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** x159: per-document gate attribution — the audit trail a curation
    * pipeline owes its rejects: for every document, WHICH quality gates
    * it fails (bitmask, stable bit per gate) and the FIRST failing gate
    * in the pipeline's documented order (the one a "why was my doc
    * dropped" ticket gets answered with). x142's funnel aggregates the
    * same gates corpus-wide; this is the per-row attribution that
    * debugging needs. Every gate is an EXACT INTEGER comparison (the
    * ratio thresholds cross-multiply: alpha ≥ 0.8 ⟺ 10·n_alpha ≥
    * 8·n_tokens), so no float ever decides membership and the row set
    * hash-matches DuckDB bit for bit. One projection pass, no shuffle.
    */
  def gateAttribution(spark: SparkSession, dir: String): DataFrame = {
    val toks = col("tokens")
    val n = size(toks).cast("long")
    val nAlpha = size(filter(toks, t => t.rlike("[A-Za-z]"))).cast("long")
    val nSym = size(filter(toks, t => !t.rlike("[A-Za-z0-9]"))).cast("long")
    val nDist = size(array_distinct(toks)).cast("long")
    withTokens(Tables.documents(spark, dir))
      .select(col("doc_id"), n.as("n"), nAlpha.as("na"), nSym.as("ns"), nDist.as("nd"))
      .select(col("doc_id"),
        col("n").as("n_tokens"),
        (when(col("n") < 30L, 1L).otherwise(0L) +
          when(col("na") * 10L < col("n") * 8L, 2L).otherwise(0L) +
          when(col("ns") * 10L > col("n"), 4L).otherwise(0L) +
          when((col("n") - col("nd")) * 10L > col("n") * 7L, 8L).otherwise(0L))
          .as("gates_failed"),
        when(col("n") < 30L, lit("too_short"))
          .when(col("na") * 10L < col("n") * 8L, lit("low_alpha"))
          .when(col("ns") * 10L > col("n"), lit("high_symbol"))
          .when((col("n") - col("nd")) * 10L > col("n") * 7L, lit("repetitive"))
          .otherwise(lit("pass")).as("first_fail"))
      .orderBy("doc_id")
  }

  val gateAttributionOracle: String =
    """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
      |s AS (SELECT doc_id,
      |             CAST(len(toks) AS BIGINT) AS n,
      |             CAST(len(list_filter(toks, x -> regexp_matches(x, '[A-Za-z]'))) AS BIGINT) AS na,
      |             CAST(len(list_filter(toks, x -> NOT regexp_matches(x, '[A-Za-z0-9]'))) AS BIGINT) AS ns,
      |             CAST(len(list_distinct(toks)) AS BIGINT) AS nd
      |      FROM t)
      |SELECT doc_id, n AS n_tokens,
      |       (CASE WHEN n < 30 THEN 1 ELSE 0 END +
      |        CASE WHEN na * 10 < n * 8 THEN 2 ELSE 0 END +
      |        CASE WHEN ns * 10 > n THEN 4 ELSE 0 END +
      |        CASE WHEN (n - nd) * 10 > n * 7 THEN 8 ELSE 0 END) AS gates_failed,
      |       CASE WHEN n < 30 THEN 'too_short'
      |            WHEN na * 10 < n * 8 THEN 'low_alpha'
      |            WHEN ns * 10 > n THEN 'high_symbol'
      |            WHEN (n - nd) * 10 > n * 7 THEN 'repetitive'
      |            ELSE 'pass' END AS first_fail
      |FROM s ORDER BY doc_id""".stripMargin

  /** Count-min-sketch token-frequency estimation — the CONSTANT-STATE
    * alternative to the exact |vocab|-keyed count: d=4 seeded md5 bucket
    * rows × w=1024 buckets collapse the whole token stream into a 4096-row
    * frame (one map-side-combinable aggregate — at 100 TB the sketch build
    * shuffles 4096 rows per partition, nothing keyed by token), and any
    * token's estimate is the MIN over its d buckets, read via a broadcast
    * of the tiny sketch. Overestimates only (collisions add, never
    * subtract) — the law FunctionsSpec-style tests pin. Output: the exact
    * top-N tokens with exact vs sketch counts side by side, so the oracle
    * hash-checks the estimates and the error is visible in-row.
    */
  def cmsTokenCounts(spark: SparkSession, dir: String, topN: Int = 20): DataFrame = {
    val d = 4
    val toks = withTokens(Tables.documents(spark, dir))
      .select(explode(col("tokens")).as("token"))
    def bucket(tok: Column, r: Column): Column =
      conv(substring(md5(concat(tok, lit(":cms"), r)), 1, 8), 16, 10)
        .cast("long") % 1024L
    val rows = toks
      .select(col("token"), explode(array((0 until d).map(lit(_)): _*)).as("r"))
      .withColumn("bucket", bucket(col("token"), col("r")))
    val cms = rows.groupBy("r", "bucket").agg(count(lit(1)).as("c"))
    val exact = toks.groupBy("token").agg(count(lit(1)).as("n_exact"))
    val top = exact.orderBy(col("n_exact").desc, col("token")).limit(topN)
    top.select(col("token"), col("n_exact"),
        explode(array((0 until d).map(lit(_)): _*)).as("r"))
      .withColumn("bucket", bucket(col("token"), col("r")))
      .join(broadcast(cms), Seq("r", "bucket"))
      .groupBy("token", "n_exact")
      .agg(min(col("c")).as("n_cms"))
      .orderBy(col("n_exact").desc, col("token"))
  }

  val cmsOracle: String =
    """WITH tok AS (SELECT u.t AS token
      |             FROM documents, UNNEST(string_split(text, ' ')) u(t)),
      |rws AS (SELECT token, r.range AS r,
      |               (('0x' || substr(md5(token || ':cms' || r.range), 1, 8))::BIGINT
      |                % 1024) AS bucket
      |        FROM tok, range(0, 4) r),
      |cms AS (SELECT r, bucket, COUNT(*) AS c FROM rws GROUP BY 1, 2),
      |exact AS (SELECT token, COUNT(*) AS n_exact FROM tok GROUP BY 1),
      |top AS (SELECT token, n_exact FROM exact
      |        ORDER BY n_exact DESC, token LIMIT 20),
      |est AS (SELECT t.token, t.n_exact, MIN(c.c) AS n_cms
      |        FROM top t, range(0, 4) r
      |        JOIN cms c ON c.r = r.range
      |         AND c.bucket = (('0x' || substr(md5(t.token || ':cms' || r.range), 1, 8))::BIGINT
      |                         % 1024)
      |        GROUP BY 1, 2)
      |SELECT token, CAST(n_exact AS BIGINT) AS n_exact, CAST(n_cms AS BIGINT) AS n_cms
      |FROM est ORDER BY n_exact DESC, token""".stripMargin

  /** x119: per-source KL divergence from the corpus token distribution —
    * the domain-shift diagnostic a data-mixing pass reads before choosing
    * weights (a source whose unigram distribution sits far from the blend
    * shifts the mix more per token). KL(p_s‖q) = Σ_t p_s(t)·ln(p_s(t)/q(t)),
    * carried as the integer numerator Σ_t c_{s,t}·⌊1000·ln((c_{s,t}·N)/(C_s·n_t))+0.5⌋
    * (count·milli-nat units, order-independent BIGINT sum — the x85
    * discipline) divided once by C_s at the end. Per-(source, token)
    * counts are ONE map-combinable aggregate over the exploded tokens;
    * corpus marginals re-aggregate THAT frame (|vocab|·|sources| rows, not
    * the corpus); source totals are a |sources|-row broadcast. The log's
    * operand order is pinned identically in both engines so the floor
    * cannot split.
    */
  def sourceKl(spark: SparkSession, dir: String): DataFrame =
    sourceKlOf(Tables.documents(spark, dir))

  private[graft] def sourceKlOf(docs: DataFrame): DataFrame = {
    val st = withTokens(docs)
      .select(col("source"), explode(col("tokens")).as("token"))
      .groupBy("source", "token").agg(count(lit(1)).as("c_st"))
    val marginal = st.groupBy("token").agg(sum(col("c_st")).as("n_t"))
    val srcTotal = st.groupBy("source").agg(sum(col("c_st")).as("c_s"))
    val grand = marginal.agg(sum(col("n_t")).as("n_corpus"))
    st.join(marginal, "token")
      .join(broadcast(srcTotal), "source")
      .crossJoin(broadcast(grand))
      .select(col("source"), col("c_s"),
        (col("c_st") *
          floor(log((col("c_st") * col("n_corpus")) / (col("c_s") * col("n_t"))) * 1000d + 0.5d)
            .cast("long")).as("term"))
      .groupBy("source")
      .agg(max(col("c_s")).as("n_tokens"),
        sum(col("term")).as("kl_num"))
      // clamp before the division: true KL ≥ 0, but flooring could leave a
      // tiny negative numerator, and Spark DIV (truncate) and DuckDB //
      // (floor) disagree exactly there
      .select(col("source"), col("n_tokens"),
        expr("greatest(kl_num, 0L) DIV n_tokens").as("kl_millinat"))
      .orderBy("source")
  }

  val sourceKlOracle: String =
    """WITH tok AS (SELECT source, u.t AS token
      |             FROM documents, UNNEST(string_split(text, ' ')) u(t)),
      |st AS (SELECT source, token, COUNT(*) AS c_st FROM tok GROUP BY 1, 2),
      |m AS (SELECT token, SUM(c_st) AS n_t FROM st GROUP BY 1),
      |s AS (SELECT source, SUM(c_st) AS c_s FROM st GROUP BY 1),
      |g AS (SELECT SUM(n_t) AS n_corpus FROM m),
      |terms AS (SELECT st.source, s.c_s,
      |                 st.c_st * CAST(floor(ln((st.c_st * g.n_corpus) /
      |                                         (s.c_s * m.n_t)) * 1000 + 0.5) AS BIGINT) AS term
      |          FROM st JOIN m USING (token) JOIN s USING (source), g)
      |SELECT source, CAST(MAX(c_s) AS BIGINT) AS n_tokens,
      |       CAST(GREATEST(SUM(term), 0) // MAX(c_s) AS BIGINT) AS kl_millinat
      |FROM terms GROUP BY 1 ORDER BY 1""".stripMargin

  /** x130: per-source unigram entropy — the corpus-diversity index next to
    * x119's divergence: H(p_s) = −Σ_t p·ln p in milli-nats, carried as the
    * integer numerator Σ_t c_{s,t}·⌊−1000·ln(c_{s,t}/C_s)+0.5⌋ divided
    * once by C_s (all-positive DIV). Low entropy flags template/boilerplate
    * sources; the theoretical ceiling is ln(vocab). Same plan spine as
    * x119: ONE map-combinable aggregate over the exploded corpus builds
    * the (source, token) frame, source totals re-aggregate that frame and
    * broadcast back; the corpus is scanned once.
    */
  def sourceEntropy(spark: SparkSession, dir: String): DataFrame =
    sourceEntropyOf(Tables.documents(spark, dir))

  private[graft] def sourceEntropyOf(docs: DataFrame): DataFrame = {
    val st = withTokens(docs)
      .select(col("source"), explode(col("tokens")).as("token"))
      .groupBy("source", "token").agg(count(lit(1)).as("c_st"))
    val totals = st.groupBy("source").agg(
      sum(col("c_st")).as("c_s"), count(lit(1)).as("n_types"))
    st.join(broadcast(totals), "source")
      .select(col("source"), col("c_s"), col("n_types"),
        (col("c_st") *
          floor(-log(col("c_st") / col("c_s")) * 1000d + 0.5d).cast("long")).as("term"))
      .groupBy("source")
      .agg(max(col("c_s")).as("n_tokens"), max(col("n_types")).as("n_types"),
        sum(col("term")).as("h_num"))
      .select(col("source"), col("n_tokens"), col("n_types"),
        expr("h_num DIV n_tokens").as("entropy_millinat"))
      .orderBy("source")
  }

  val entropyOracle: String =
    """WITH tok AS (SELECT source, u.t AS token
      |             FROM documents, UNNEST(string_split(text, ' ')) u(t)),
      |st AS (SELECT source, token, COUNT(*) AS c_st FROM tok GROUP BY 1, 2),
      |s AS (SELECT source, SUM(c_st) AS c_s, COUNT(*) AS n_types FROM st GROUP BY 1),
      |terms AS (SELECT st.source, s.c_s, s.n_types,
      |                 st.c_st * CAST(floor(-ln(st.c_st / s.c_s) * 1000 + 0.5) AS BIGINT) AS term
      |          FROM st JOIN s USING (source))
      |SELECT source, CAST(MAX(c_s) AS BIGINT) AS n_tokens,
      |       CAST(MAX(n_types) AS BIGINT) AS n_types,
      |       CAST(SUM(term) // MAX(c_s) AS BIGINT) AS entropy_millinat
      |FROM terms GROUP BY 1 ORDER BY 1""".stripMargin

  /** x131: Wilson confidence bounds on per-source quality-pass rates —
    * the small-n discipline for ranking sources: a source passing 3/3 docs
    * must NOT outrank one passing 95/100, and the Wilson lower bound is
    * the standard fix (rank by lower bound, not point rate). The pass
    * gate is x11's (n_tokens ≥ 30 ∧ ttr ≥ 0.3); (k, n) are one aggregate;
    * the z = 1.96 interval is pure double arithmetic over two integers
    * with the operand order written IDENTICALLY in the DuckDB twin — each
    * IEEE op is correctly rounded, so the e4-floored bounds hash-match
    * (the a04/x120 argument; Catalyst never reassociates float math).
    */
  def wilsonBounds(spark: SparkSession, dir: String): DataFrame = {
    val toks = col("tokens")
    val passes = (size(toks) >= 30) &&
      (round(size(array_distinct(toks)) / size(toks), 4) >= 0.3)
    val kn = withTokens(Tables.documents(spark, dir))
      .select(col("source"), when(passes, 1L).otherwise(0L).as("pass"))
      .groupBy("source")
      .agg(sum(col("pass")).as("k"), count(lit(1)).as("n"))
    val p = col("k").cast("double") / col("n")
    val nD = col("n").cast("double")
    val z2 = lit(3.8416d)
    val denom = lit(1.0d) + z2 / nD
    val center = (p + z2 / (lit(2.0d) * nD)) / denom
    val half = (lit(1.96d) *
      sqrt(p * (lit(1.0d) - p) / nD + z2 / (lit(4.0d) * nD * nD))) / denom
    kn.select(col("source"), col("k"), col("n"),
        floor((center - half) * 10000d + 0.5d).cast("long").as("lower_e4"),
        floor((center + half) * 10000d + 0.5d).cast("long").as("upper_e4"))
      .orderBy("source")
  }

  val wilsonOracle: String =
    """WITH t AS (SELECT source, string_split(text, ' ') AS toks FROM documents),
      |kn AS (SELECT source,
      |              SUM(CASE WHEN len(toks) >= 30
      |                        AND ROUND(len(list_distinct(toks)) / len(toks), 4) >= 0.3
      |                       THEN 1 ELSE 0 END) AS k,
      |              COUNT(*) AS n
      |       FROM t GROUP BY 1)
      |SELECT source, CAST(k AS BIGINT) AS k, CAST(n AS BIGINT) AS n,
      |       CAST(floor(((k / CAST(n AS DOUBLE) + 3.8416 / (2.0 * n))
      |                   / (1.0 + 3.8416 / n)
      |                   - (1.96 * sqrt(k / CAST(n AS DOUBLE) * (1.0 - k / CAST(n AS DOUBLE)) / n
      |                                  + 3.8416 / (4.0 * n * n)))
      |                     / (1.0 + 3.8416 / n)) * 10000 + 0.5) AS BIGINT) AS lower_e4,
      |       CAST(floor(((k / CAST(n AS DOUBLE) + 3.8416 / (2.0 * n))
      |                   / (1.0 + 3.8416 / n)
      |                   + (1.96 * sqrt(k / CAST(n AS DOUBLE) * (1.0 - k / CAST(n AS DOUBLE)) / n
      |                                  + 3.8416 / (4.0 * n * n)))
      |                     / (1.0 + 3.8416 / n)) * 10000 + 0.5) AS BIGINT) AS upper_e4
      |FROM kn ORDER BY source""".stripMargin

  /** x123: held-out LM scoring — the leakage-disciplined version of x85:
    * the unigram model is fit ONLY on the content-addressed 80% train
    * split (x70's md5 bucket, so membership is reproducible and
    * layout-free), Laplace-smoothed over train vocab ∪ {unk}, and scores
    * ONLY the held-out 20% — per-source mean NLL in milli-nats, the
    * "which source does a model find surprising" number that in-sample
    * scoring (x85) biases low. Costs are the x85 integer discipline; the
    * unseen-token cost −ln(1/(N+V)) comes from the same broadcast one-row
    * constants frame via coalesce after the left cost join. Fact-sized
    * work: the token explode and one train-side count aggregate; the cost
    * table is |train vocab| rows, AQE-governed on the join back.
    */
  def heldoutPpl(spark: SparkSession, dir: String): DataFrame = {
    val toks = tokenStream(spark, dir)
      .withColumn("b", graft.ops.Sampling.bucket10k(col("doc_id"), 42))
    val train = toks.filter(col("b") < 8000)
    val test = toks.filter(col("b") >= 8000)
    val freq = train.groupBy("token").agg(count(lit(1)).as("n_t"))
    val consts = freq.agg(sum(col("n_t")).as("N"), (count(lit(1)) + 1L).as("V"))
    val cost = freq.crossJoin(broadcast(consts))
      .select(col("token"),
        floor(-log((col("n_t") + 1L) / (col("N") + col("V"))) * 1000d + 0.5d)
          .cast("long").as("c"))
    // |cost| = |train vocab| ≤ |uni| (sound Layer-derived upper bound)
    test.join(bcastIfVocabFits(cost, uniRows(spark, dir)), Seq("token"), "left")
      .crossJoin(broadcast(consts))
      .select(col("source"),
        coalesce(col("c"),
          floor(-log(lit(1L) / (col("N") + col("V"))) * 1000d + 0.5d).cast("long"))
          .as("c"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_test_tokens"), sum(col("c")).as("nll_sum"))
      .select(col("source"), col("n_test_tokens"),
        expr("nll_sum DIV n_test_tokens").as("mean_nll_millinat"))
      .orderBy("source")
  }

  val heldoutOracle: String =
    """WITH tok AS (SELECT d.doc_id, d.source, u.t AS token,
      |                    (('0x' || substr(md5(d.doc_id || ':42'), 1, 8))::BIGINT
      |                     % 10000) AS b
      |             FROM documents d, UNNEST(string_split(d.text, ' ')) u(t)),
      |tr AS (SELECT token FROM tok WHERE b < 8000),
      |te AS (SELECT source, token FROM tok WHERE b >= 8000),
      |freq AS (SELECT token, COUNT(*) AS n_t FROM tr GROUP BY 1),
      |k AS (SELECT SUM(n_t) AS N, COUNT(*) + 1 AS V FROM freq),
      |cost AS (SELECT token,
      |                CAST(floor(-ln((n_t + 1) / (N + V)) * 1000 + 0.5) AS BIGINT) AS c
      |         FROM freq, k)
      |SELECT te.source, COUNT(*) AS n_test_tokens,
      |       CAST(SUM(COALESCE(cost.c,
      |                CAST(floor(-ln(1 / (N + V)) * 1000 + 0.5) AS BIGINT)))
      |            // COUNT(*) AS BIGINT) AS mean_nll_millinat
      |FROM te LEFT JOIN cost USING (token), k
      |GROUP BY 1 ORDER BY 1""".stripMargin

  /** x155: held-out trigram STUPID-BACKOFF NLL — the production web-LM
    * scoring recipe (Brants et al. 2007: unnormalized score
    * S(w₃|w₁w₂) = c₃/c₂ if the trigram was seen, else 0.4·S(w₂→w₃),
    * recursing to a Laplace unigram floor) on the x123 leakage
    * discipline: all count tables fit on the content-addressed 80% train
    * split, scoring touches only the held-out 20%, so unseen trigrams
    * and bigrams genuinely occur and every backoff branch is exercised.
    * Branch selection is exact-integer (COUNT presence), and the chosen
    * branch's one float expression has pinned operand order in both
    * engines, then the x85 milli-nat floor — so the whole thing
    * hash-matches DuckDB despite three CASE arms of doubles:
    *   seen trigram:      S = n₃/n₂ctx
    *   backoff bigram:    S = 0.4·n₂₃/n₁(w₂)
    *   unigram floor:     S = 0.16·(n₁(w₃)+1)/(N+V)
    * (0.4² = 0.16 is pre-multiplied: ln of a two-step backoff must see
    * ONE double constant, not two sequenced multiplies the SQL side
    * might fuse differently.)
    *
    * Scale shape: three vocab-sized count tables (trigram counts from
    * the Layer-shared [[trigramStream]]; context counts re-aggregate
    * them Σ_w₃; bigram/unigram tables filter the shared [[bigramStream]]
    * / [[tokenStream]] layers) and a (N, V) one-row broadcast; the five
    * cost joins back to the test stream are all AQE-governed equi-joins,
    * the x123 posture widened to trigram grain.
    */
  def heldoutBackoffNll(spark: SparkSession, dir: String): DataFrame = {
    def bucket = graft.ops.Sampling.bucket10k(col("doc_id"), 42)
    val tri = trigramStream(spark, dir).withColumn("bkt", bucket)
    val test = tri.filter(col("bkt") >= 8000)
    val c3 = tri.filter(col("bkt") < 8000)
      .groupBy("w1", "w2", "w3").agg(count(lit(1)).as("n3"))
    // trigram contexts re-aggregate c3 (Σ_w3 — vocab-sized, never a
    // second corpus pass); the backoff bigram model is the x107 layer
    // filtered to train docs, NOT a trigram-derived undercount
    val c2ctx = c3.groupBy("w1", "w2").agg(sum(col("n3")).as("n2ctx"))
    val c2 = bigramStream(spark, dir).withColumn("bkt", bucket)
      .filter(col("bkt") < 8000)
      .groupBy(col("w1").as("v2"), col("w2").as("v3"))
      .agg(count(lit(1)).as("n23"))
    val c1 = tokenStream(spark, dir).withColumn("bkt", bucket)
      .filter(col("bkt") < 8000)
      .groupBy("token").agg(count(lit(1)).as("n1"))
    val consts = c1.agg(sum(col("n1")).as("N"), (count(lit(1)) + 1L).as("V"))
    // c2 ⊆ bigram vocab and c1 ⊆ unigram vocab (train filters of the
    // Layer tables) — gate those sides on the Layer counts; c3/c2ctx have
    // no sound Layer bound and stay AQE-governed
    val nBc = bcRows(spark, dir)
    val nUni = uniRows(spark, dir)
    val s = test
      .join(c3, Seq("w1", "w2", "w3"), "left")
      .join(c2ctx, Seq("w1", "w2"), "left")
      .join(bcastIfVocabFits(c2, nBc),
        col("w2") === col("v2") && col("w3") === col("v3"), "left")
      .join(bcastIfVocabFits(
        c1.select(col("token").as("w2"), col("n1").as("n1_w2")), nUni), Seq("w2"), "left")
      .join(bcastIfVocabFits(
        c1.select(col("token").as("w3"), col("n1").as("n1_w3")), nUni), Seq("w3"), "left")
      .crossJoin(broadcast(consts))
      .select(col("source"),
        floor(-log(
          when(col("n3").isNotNull, col("n3") / col("n2ctx"))
            .when(col("n23").isNotNull, lit(0.4d) * col("n23") / col("n1_w2"))
            .otherwise(lit(0.16d) * (coalesce(col("n1_w3"), lit(0L)) + 1L) /
              (col("N") + col("V"))))
          * 1000d + 0.5d).cast("long").as("c"))
    s.groupBy("source")
      .agg(count(lit(1)).as("n_test_trigrams"), sum(col("c")).as("nll_sum"))
      .select(col("source"), col("n_test_trigrams"),
        expr("nll_sum DIV n_test_trigrams").as("mean_nll_millinat"))
      .orderBy("source")
  }

  val backoffOracle: String =
    """WITH t AS (SELECT doc_id, source, string_split(text, ' ') AS toks,
      |                  (('0x' || substr(md5(doc_id || ':42'), 1, 8))::BIGINT
      |                   % 10000) AS bkt
      |           FROM documents),
      |tg AS (SELECT source, bkt, toks[i.i] AS w1, toks[i.i + 1] AS w2,
      |              toks[i.i + 2] AS w3
      |       FROM t, UNNEST(range(1, len(toks) - 1)) i(i)
      |       WHERE len(toks) >= 3),
      |c3 AS (SELECT w1, w2, w3, COUNT(*) AS n3 FROM tg WHERE bkt < 8000
      |       GROUP BY 1, 2, 3),
      |c2ctx AS (SELECT w1, w2, SUM(n3) AS n2ctx FROM c3 GROUP BY 1, 2),
      |bg AS (SELECT toks[i.i] AS v2, toks[i.i + 1] AS v3
      |       FROM t, UNNEST(range(1, len(toks))) i(i)
      |       WHERE len(toks) >= 2 AND bkt < 8000),
      |c2 AS (SELECT v2, v3, COUNT(*) AS n23 FROM bg GROUP BY 1, 2),
      |tr AS (SELECT u.t AS token FROM t, UNNEST(toks) u(t) WHERE bkt < 8000),
      |c1 AS (SELECT token, COUNT(*) AS n1 FROM tr GROUP BY 1),
      |k AS (SELECT SUM(n1) AS N, COUNT(*) + 1 AS V FROM c1),
      |sc AS (SELECT tg.source,
      |              CAST(floor(-ln(CASE
      |                WHEN c3.n3 IS NOT NULL THEN c3.n3 / c2ctx.n2ctx
      |                WHEN c2.n23 IS NOT NULL THEN 0.4 * c2.n23 / u2.n1
      |                ELSE 0.16 * (COALESCE(u3.n1, 0) + 1) / (N + V)
      |              END) * 1000 + 0.5) AS BIGINT) AS c
      |       FROM tg
      |       LEFT JOIN c3 USING (w1, w2, w3)
      |       LEFT JOIN c2ctx USING (w1, w2)
      |       LEFT JOIN c2 ON c2.v2 = tg.w2 AND c2.v3 = tg.w3
      |       LEFT JOIN c1 u2 ON u2.token = tg.w2
      |       LEFT JOIN c1 u3 ON u3.token = tg.w3
      |       CROSS JOIN k
      |       WHERE tg.bkt >= 8000)
      |SELECT source, CAST(COUNT(*) AS BIGINT) AS n_test_trigrams,
      |       CAST(SUM(c) // COUNT(*) AS BIGINT) AS mean_nll_millinat
      |FROM sc GROUP BY source ORDER BY source""".stripMargin

  /** x115: per-source quantile normalization — map each document's raw
    * score (token count here) to its within-source CDF position in integer
    * basis points, `((2·rank − 1) · 5000) DIV n`, so scores from corpora
    * with wildly different scales become comparable before mixing (the
    * cross-source calibration step a curation pipeline runs ahead of a
    * global quality cut). One exchange keyed by source feeds BOTH window
    * computations (rank and group size share the partitioning); everything
    * after the e0 rank is BIGINT, so the bp value can never diverge across
    * engines. A pathologically dominant source bounds parallelism at its
    * own population — compose with [[graft.ops.Ranking.globalRowNumber]]'s
    * value-bucket two-phase rank inside that source if one key owns the
    * corpus.
    */
  def quantileNormalize(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("source")).orderBy(col("n_tokens"), col("doc_id"))
    // same partitioning AND ordering as the rank window (frame widened to
    // the whole partition) so both functions plan into ONE Window operator
    // over a single source-keyed exchange
    val cw = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"),
        size(split(col("text"), " ")).cast("long").as("n_tokens"))
      .withColumn("rnk", row_number().over(w).cast("long"))
      .withColumn("n_src", count(lit(1)).over(cw))
      .select(col("doc_id"), col("source"), col("n_tokens"),
        expr("((2 * rnk - 1) * 5000) DIV n_src").as("cdf_bp"))
      .orderBy("doc_id")
  }

  val quantileNormOracle: String =
    """WITH d AS (SELECT doc_id, source,
      |                  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
      |           FROM documents),
      |r AS (SELECT doc_id, source, n_tokens,
      |             ROW_NUMBER() OVER (PARTITION BY source
      |                                ORDER BY n_tokens, doc_id) AS rnk,
      |             COUNT(*) OVER (PARTITION BY source) AS n_src
      |      FROM d)
      |SELECT doc_id, source, n_tokens,
      |       CAST(((2 * rnk - 1) * 5000) // n_src AS BIGINT) AS cdf_bp
      |FROM r ORDER BY doc_id""".stripMargin

  /** x113: MAD-based robust outlier detection — the length-outlier gate a
    * cleaning pass runs where mean/stddev would be poisoned by the very
    * outliers it hunts. Per-source median and median-absolute-deviation
    * are exact `percentile` aggregates (≡ DuckDB quantile_cont, the a04
    * equivalence), e4-rounded ONCE each; everything downstream — deviations,
    * the 3·1.4826·MAD threshold (×44478 DIV 10⁴), the outlier count — is
    * BIGINT arithmetic, so the flag can never straddle a float boundary
    * between engines. Both percentile frames are |sources| rows broadcast
    * back (a31's posture): the fact is scanned three times but its rows
    * never shuffle. At 100 TB the exact percentiles would swap for
    * mergeable t-digests (one scan) at the cost of the cross-engine match.
    */
  def madOutliers(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir).select(col("source"), col("n_chars"))
    val med = d.groupBy("source").agg(
      floor(expr("percentile(n_chars, 0.5)") * 10000d + 0.5d).cast("long").as("med_e4"))
    val dev = d.join(broadcast(med), "source")
      .select(col("source"), col("med_e4"),
        abs(col("n_chars") * 10000L - col("med_e4")).as("dev_e4"))
    val mad = dev.groupBy("source").agg(
      floor(expr("percentile(dev_e4, 0.5)") + 0.5d).cast("long").as("mad_e4"))
    dev.join(broadcast(mad), "source")
      .groupBy("source")
      .agg(
        max(col("med_e4")).as("med_e4"),
        max(col("mad_e4")).as("mad_e4"),
        sum(when(col("dev_e4") > expr("(mad_e4 * 44478) DIV 10000"), 1L)
          .otherwise(0L)).as("n_out"),
        count(lit(1)).as("n"))
      .orderBy("source")
  }

  val madOracle: String =
    """WITH m AS (SELECT source,
      |                  CAST(floor(quantile_cont(n_chars, 0.5) * 10000 + 0.5) AS BIGINT) AS med_e4
      |           FROM documents GROUP BY 1),
      |d AS (SELECT dd.source, m.med_e4,
      |             ABS(dd.n_chars * 10000 - m.med_e4) AS dev_e4
      |      FROM documents dd JOIN m USING (source)),
      |md AS (SELECT source,
      |              CAST(floor(quantile_cont(dev_e4, 0.5) + 0.5) AS BIGINT) AS mad_e4
      |       FROM d GROUP BY 1)
      |SELECT d.source, MAX(d.med_e4) AS med_e4, MAX(md.mad_e4) AS mad_e4,
      |       CAST(SUM(CASE WHEN d.dev_e4 > (md.mad_e4 * 44478) // 10000
      |                     THEN 1 ELSE 0 END) AS BIGINT) AS n_out,
      |       COUNT(*) AS n
      |FROM d JOIN md USING (source)
      |GROUP BY 1 ORDER BY 1""".stripMargin

  /** x169: vocabulary coverage curve — the tokenizer-sizing decision
    * table: what share of HELD-OUT tokens does a top-N training vocab
    * cover, for N ∈ {1k, 2k, 4k, 8k, 16k}? (The elbow of this curve is
    * where a vocab budget stops paying; OOV share = 1 − coverage is the
    * <unk> rate a downstream LM eats.) Same content-addressed 80/20
    * split as x123 (bucket10k(doc_id, 42) — leakage discipline shared,
    * so the two reports describe the same experiment). Ranking is the
    * deterministic (count desc, token asc) total order via
    * [[graft.ops.Ranking.globalRowNumber]]'s two-phase bucketed rank
    * over the VOCAB-sized count table — exact, and parallel even when
    * the vocab itself is large (a bare global window would put it on
    * one task; a window over the CORPUS would be the 100 TB mistake
    * the count-first aggregation exists to avoid). Test-token
    * counts aggregate fact-sized ONCE; the grid expansion and coverage
    * sums run over |vocab|·5 rows. Coverage lands as one e6 fixed-point
    * division of exact integers.
    */
  def vocabCoverage(spark: SparkSession, dir: String): DataFrame = {
    val toks = tokenStream(spark, dir)
      .withColumn("b", graft.ops.Sampling.bucket10k(col("doc_id"), 42))
    // exact (count desc, token asc) global rank via the two-phase bucketed
    // ranking — a bare row_number window would move the whole web-scale
    // vocab to ONE task (Ranking's raison d'être); ranks are identical
    val rank = graft.ops.Ranking.globalRowNumber(
      toks.filter(col("b") < 8000)
        .groupBy("token").agg(count(lit(1)).as("n_tr")),
      value = -col("n_tr"), tieBreak = col("token"), rankCol = "rank")
    val testCounts = toks.filter(col("b") >= 8000)
      .groupBy("token").agg(count(lit(1)).as("n_te"))
    val joined = testCounts.join(rank.select("token", "rank"), Seq("token"), "left")
    val total = testCounts.agg(sum(col("n_te")).as("n_test"))
    val grid = spark.range(1).select(explode(array(
      Seq(1000L, 2000L, 4000L, 8000L, 16000L).map(lit): _*)).as("vocab_n"))
    joined
      .crossJoin(broadcast(grid))
      .filter(col("rank").isNotNull && col("rank") <= col("vocab_n"))
      .groupBy("vocab_n")
      .agg(sum(col("n_te")).as("n_covered"))
      .crossJoin(broadcast(total))
      .select(col("vocab_n").cast("long").as("vocab_n"), col("n_covered"),
        col("n_test"),
        floor((col("n_covered") * lit(1000000L)) / col("n_test") + 0.5d)
          .cast("long").as("cov_e6"))
      .orderBy("vocab_n")
  }

  val vocabCoverageOracle: String =
    """WITH tok AS (SELECT d.doc_id, u.t AS token,
      |                    (('0x' || substr(md5(d.doc_id || ':42'), 1, 8))::BIGINT
      |                     % 10000) AS b
      |             FROM documents d, UNNEST(string_split(d.text, ' ')) u(t)),
      |rk AS (SELECT token, ROW_NUMBER() OVER (ORDER BY COUNT(*) DESC, token) AS rank
      |       FROM tok WHERE b < 8000 GROUP BY token),
      |te AS (SELECT token, COUNT(*) AS n_te FROM tok WHERE b >= 8000 GROUP BY 1),
      |t AS (SELECT SUM(n_te) AS n_test FROM te),
      |grid AS (SELECT unnest([1000, 2000, 4000, 8000, 16000]) AS vocab_n)
      |SELECT CAST(g.vocab_n AS BIGINT) AS vocab_n,
      |       CAST(SUM(te.n_te) AS BIGINT) AS n_covered,
      |       CAST(MAX(t.n_test) AS BIGINT) AS n_test,
      |       CAST(floor((SUM(te.n_te) * 1000000) / MAX(t.n_test) + 0.5) AS BIGINT) AS cov_e6
      |FROM grid g
      |JOIN te ON TRUE
      |JOIN rk ON rk.token = te.token AND rk.rank <= g.vocab_n
      |CROSS JOIN t
      |GROUP BY g.vocab_n ORDER BY vocab_n""".stripMargin

  /** x191: rank-transform normalization — the distribution-free feature
    * scaling (percentile of each document's length within the corpus)
    * that min-max (x177's grid) and z-scores can't give when the input
    * is heavy-tailed (x176's finding): after the transform the feature
    * is uniform by construction. percent = (rnk−1)/(n−1) on the
    * deterministic (value, doc_id) total order — RANK-based, so tied
    * values receive distinct percentiles (documented choice: it keeps
    * the output exactly uniform and the tie-break content-addressed).
    * The rank is the two-phase bucketed [[graft.ops.Ranking]] — this is
    * the one query where the ranked frame IS fact-sized, which is
    * precisely the case the one-task global window would melt on.
    * Output: one row per document, exact integers + one e6 rounding.
    */
  def rankNormalize(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), col("n_chars").cast("long").as("n_chars"))
    val ranked = graft.ops.Ranking.globalRowNumber(
      docs, col("n_chars"), col("doc_id"), "rnk")
    val n = docs.agg(count(lit(1)).as("n_docs"))
    ranked.crossJoin(broadcast(n))
      .select(col("doc_id"), col("n_chars"), col("rnk"),
        floor((col("rnk") - 1).cast("double") / (col("n_docs") - 1).cast("double")
          * 1000000d + 0.5d).cast("long").as("pct_e6"))
      .orderBy("doc_id")
  }

  val rankNormalizeOracle: String =
    """WITH r AS (SELECT doc_id, n_chars,
      |                  ROW_NUMBER() OVER (ORDER BY n_chars, doc_id) AS rnk,
      |                  (SELECT COUNT(*) FROM documents) AS n_docs
      |           FROM documents)
      |SELECT doc_id, CAST(n_chars AS BIGINT) AS n_chars, CAST(rnk AS BIGINT) AS rnk,
      |       CAST(floor(CAST(rnk - 1 AS DOUBLE) / CAST(n_docs - 1 AS DOUBLE)
      |            * 1000000 + 0.5) AS BIGINT) AS pct_e6
      |FROM r ORDER BY doc_id""".stripMargin

  /** x187: the dataset card — the one-query corpus datasheet (Gebru et
    * al., "Datasheets for Datasets") a curation pipeline publishes next
    * to the training mix: sizes, diversity counts, token budget,
    * vocabulary, exact-duplicate rate, and central tendency, in long
    * (metric, value) form so downstream tooling reads one stable
    * schema. Every ratio is a nonnegative exact-integer DIV on its
    * fixed-point grid. Scale shape: ONE documents aggregate (the
    * distincts are the priced item — at 100 TB the NDV columns swap for
    * the x147 HLL mode) plus token totals off the Layer-shared
    * [[tokenStream]] — no new corpus pass; the long-format pivot is a
    * `stack` over a one-row frame.
    */
  def datasetCard(spark: SparkSession, dir: String): DataFrame = {
    val base = Tables.documents(spark, dir).agg(
      count(lit(1)).as("n_docs"),
      countDistinct(col("source")).as("n_sources"),
      countDistinct(col("lang")).as("n_langs"),
      countDistinct(md5(col("text"))).as("n_unique"),
      sum(col("n_chars")).as("sum_chars"))
    val toks = tokenStream(spark, dir)
      .agg(count(lit(1)).as("n_tokens"), countDistinct(col("token")).as("vocab_size"))
    base.crossJoin(toks)
      .selectExpr(
        """stack(9,
          |  'n_docs', n_docs,
          |  'n_sources', n_sources,
          |  'n_langs', n_langs,
          |  'n_tokens', n_tokens,
          |  'vocab_size', vocab_size,
          |  'exact_dup_rate_e6', ((n_docs - n_unique) * 1000000) DIV n_docs,
          |  'mean_chars_e2', (sum_chars * 100) DIV n_docs,
          |  'mean_tokens_e2', (n_tokens * 100) DIV n_docs,
          |  'type_token_e6', (vocab_size * 1000000) DIV n_tokens
          |) AS (metric, value)""".stripMargin)
      .orderBy("metric")
  }

  val datasetCardOracle: String =
    """WITH b AS (SELECT COUNT(*) AS n_docs,
      |                  COUNT(DISTINCT source) AS n_sources,
      |                  COUNT(DISTINCT lang) AS n_langs,
      |                  COUNT(DISTINCT md5(text)) AS n_unique,
      |                  SUM(n_chars) AS sum_chars
      |           FROM documents),
      |t AS (SELECT COUNT(*) AS n_tokens, COUNT(DISTINCT u.t) AS vocab_size
      |      FROM documents, UNNEST(string_split(text, ' ')) u(t))
      |SELECT metric, CAST(value AS BIGINT) AS value FROM (
      |  SELECT 'n_docs' AS metric, n_docs AS value FROM b
      |  UNION ALL SELECT 'n_sources', n_sources FROM b
      |  UNION ALL SELECT 'n_langs', n_langs FROM b
      |  UNION ALL SELECT 'n_tokens', n_tokens FROM t
      |  UNION ALL SELECT 'vocab_size', vocab_size FROM t
      |  UNION ALL SELECT 'exact_dup_rate_e6',
      |    ((n_docs - n_unique) * 1000000) // n_docs FROM b
      |  UNION ALL SELECT 'mean_chars_e2', (sum_chars * 100) // n_docs FROM b
      |  UNION ALL SELECT 'mean_tokens_e2',
      |    (t.n_tokens * 100) // b.n_docs FROM b, t
      |  UNION ALL SELECT 'type_token_e6',
      |    (vocab_size * 1000000) // n_tokens FROM t)
      |ORDER BY metric""".stripMargin

  /** x175: pairwise source-vocabulary overlap — the corpus-composition
    * audit run before mixing sources into a training blend (two sources
    * with near-identical vocabularies add volume, not diversity; x119's
    * KL compares token FREQUENCIES, this compares vocabulary SETS).
    * Jaccard and containment (overlap coefficient) per unordered source
    * pair, both rounded once to e6 from exact integer set sizes.
    *
    * Scale shape: the [[tokenStream]] Layer reduces to the DISTINCT
    * (source, token) presence table — vocab-sized, the only fact-pass.
    * The pair counts come from a token-keyed self-equi-join of that
    * table: per-token multiplicity is bounded by |sources| (the rows are
    * distinct), so candidate work is ≤ |sources|²·|vocab| — LINEAR in
    * vocabulary, never doc-pairs, and immune to the posting-list
    * saturation that bites x15/x16 (SCALE.md) because the per-key group
    * is capped by construction. The |sources|²-row pair grid and the
    * per-source sizes are broadcast; zero-intersection pairs still emit
    * (grid left-join), so the matrix is always complete.
    */
  def sourceOverlap(spark: SparkSession, dir: String): DataFrame = {
    val st = tokenStream(spark, dir).select("source", "token").distinct()
    val sizes = st.groupBy("source").agg(count(lit(1)).as("n_vocab"))
    val inter = st.select(col("token"), col("source").as("src_a"))
      .join(st.select(col("token"), col("source").as("src_b")), "token")
      .filter(col("src_a") < col("src_b"))
      .groupBy("src_a", "src_b").agg(count(lit(1)).as("n_inter"))
    val grid = sizes.select(col("source").as("src_a"), col("n_vocab").as("n_a"))
      .crossJoin(sizes.select(col("source").as("src_b"), col("n_vocab").as("n_b")))
      .filter(col("src_a") < col("src_b"))
    broadcast(grid).join(inter, Seq("src_a", "src_b"), "left")
      .select(col("src_a"), col("src_b"), col("n_a"), col("n_b"),
        coalesce(col("n_inter"), lit(0L)).as("n_inter"))
      .select(col("src_a"), col("src_b"), col("n_a"), col("n_b"), col("n_inter"),
        floor(col("n_inter").cast("double")
          / (col("n_a") + col("n_b") - col("n_inter")).cast("double")
          * 1000000d + 0.5d).cast("long").as("jaccard_e6"),
        floor(col("n_inter").cast("double")
          / least(col("n_a"), col("n_b")).cast("double")
          * 1000000d + 0.5d).cast("long").as("containment_e6"))
      .orderBy("src_a", "src_b")
  }

  val sourceOverlapOracle: String =
    """WITH st AS (SELECT DISTINCT source, u.t AS token
      |            FROM documents, UNNEST(string_split(text, ' ')) u(t)),
      |sz AS (SELECT source, COUNT(*) AS n_vocab FROM st GROUP BY 1),
      |inter AS (SELECT a.source AS src_a, b.source AS src_b, COUNT(*) AS n_inter
      |          FROM st a JOIN st b USING (token)
      |          WHERE a.source < b.source GROUP BY 1, 2),
      |grid AS (SELECT a.source AS src_a, b.source AS src_b,
      |                a.n_vocab AS n_a, b.n_vocab AS n_b
      |         FROM sz a JOIN sz b ON a.source < b.source)
      |SELECT g.src_a, g.src_b, CAST(g.n_a AS BIGINT) AS n_a,
      |       CAST(g.n_b AS BIGINT) AS n_b,
      |       CAST(COALESCE(i.n_inter, 0) AS BIGINT) AS n_inter,
      |       CAST(floor(CAST(COALESCE(i.n_inter, 0) AS DOUBLE)
      |            / CAST(g.n_a + g.n_b - COALESCE(i.n_inter, 0) AS DOUBLE)
      |            * 1000000 + 0.5) AS BIGINT) AS jaccard_e6,
      |       CAST(floor(CAST(COALESCE(i.n_inter, 0) AS DOUBLE)
      |            / CAST(LEAST(g.n_a, g.n_b) AS DOUBLE)
      |            * 1000000 + 0.5) AS BIGINT) AS containment_e6
      |FROM grid g LEFT JOIN inter i ON i.src_a = g.src_a AND i.src_b = g.src_b
      |ORDER BY 1, 2""".stripMargin

  /** x182: PMI collocations — the top word associations ln(N·c₁₂/(c₁·c₂))
    * over adjacent pairs (Church & Hanks '90), the phrase-mining /
    * tokenizer-merge-candidate signal x18's frequency-only BPE merges
    * lack (PMI finds "strongly bound but not necessarily frequent"
    * pairs). Marginals come from the SAME bigram population as the
    * numerator (left marginal = Σ_y c_xy, right = Σ_x c_xy), so the
    * distribution is well-formed; a min-count gate gates the CANDIDATES
    * only, never the marginals. Exactness: the ratio is cross-multiplied
    * exact integers widened to DECIMAL(38,0) (N·c_xy overflows long at
    * the 100 TB corpus), converted to double once, one ln, one e6
    * rounding — the x162 discipline. Scale: both count tables come off
    * the Layer-shared [[bigramStream]] (no new corpus pass), marginals
    * are vocab-sized, and the report is a TakeOrdered top-k with a
    * total-order tie-break — never a global sort.
    */
  def pmiCollocations(spark: SparkSession, dir: String,
                      minCount: Long = 5, k: Int = 50): DataFrame = {
    val d38: Column => Column = _.cast("decimal(38,0)")
    // the x107/x140 Layer-shared bigram count table, renamed to this
    // query's cell vocabulary (c_xy = joint count)
    val bc = bigramCounts(spark, dir).withColumnRenamed("n_bg", "c_xy")
    val left = bc.groupBy("w1").agg(sum(col("c_xy")).as("c_1"))
    val right = bc.groupBy("w2").agg(sum(col("c_xy")).as("c_2"))
    val tot = bc.agg(sum(col("c_xy")).as("n_bg"))
    bc.filter(col("c_xy") >= minCount)
      .join(left, "w1").join(right, "w2")
      .crossJoin(broadcast(tot))
      .select(col("w1"), col("w2"), col("c_xy"),
        floor(log((d38(col("n_bg")) * d38(col("c_xy"))).cast("double")
            / (d38(col("c_1")) * d38(col("c_2"))).cast("double"))
          * 1000000d + 0.5d).cast("long").as("pmi_e6"))
      .orderBy(col("pmi_e6").desc, col("w1"), col("w2"))
      .limit(k)
  }

  val pmiOracle: String =
    """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents
      |           WHERE len(string_split(text, ' ')) >= 2),
      |bg AS (SELECT toks[i.i] AS w1, toks[i.i + 1] AS w2
      |       FROM t, UNNEST(range(1, len(toks))) i(i)),
      |bc AS (SELECT w1, w2, COUNT(*) AS c_xy FROM bg GROUP BY 1, 2),
      |l AS (SELECT w1, SUM(c_xy) AS c_1 FROM bc GROUP BY 1),
      |r AS (SELECT w2, SUM(c_xy) AS c_2 FROM bc GROUP BY 1),
      |n AS (SELECT SUM(c_xy) AS n_bg FROM bc)
      |SELECT bc.w1, bc.w2, CAST(bc.c_xy AS BIGINT) AS c_xy,
      |       CAST(floor(ln(CAST(n.n_bg * bc.c_xy AS DOUBLE)
      |            / CAST(l.c_1 * r.c_2 AS DOUBLE)) * 1000000 + 0.5) AS BIGINT)
      |         AS pmi_e6
      |FROM bc JOIN l USING (w1) JOIN r USING (w2) CROSS JOIN n
      |WHERE bc.c_xy >= 5
      |ORDER BY pmi_e6 DESC, bc.w1, bc.w2 LIMIT 50""".stripMargin

  /** x176: Hill tail-index of the document-length distribution — the
    * power-law exponent estimate (Hill '75) that answers "how heavy is
    * the long-document tail" before picking x153's bucket boundaries or
    * a truncation budget: α ≈ 1 means extreme mass concentration (x116's
    * token-budget cut will be dominated by a few giants), α > 2 a tame
    * tail. α̂ = k / (Σᵢ₌₁..k ln x₍ᵢ₎ − k·ln x₍ₖ₊₁₎) over the top k+1
    * order statistics.
    *
    * Scale shape: the ONLY fact-sized step is a TakeOrdered top-(k+1) —
    * never a global sort; the window that ranks the k+1 survivors runs
    * on a metadata-sized frame. Exactness: each ln rounds ONCE to e6
    * micro-nats (the NLL discipline — ln of the same integer is the
    * same double on both engines), the Hill denominator is then exact
    * BIGINT, and α converts the two exact integers to double once. A
    * degenerate tail (all k+1 lengths equal ⇒ denominator 0) emits NULL
    * identically on both engines.
    */
  def tailIndex(spark: SparkSession, dir: String, k: Int = 100): DataFrame =
    tailIndexOf(Tables.documents(spark, dir), k)

  /** [[tailIndex]] core on an explicit documents frame — split out so the
    * spec can drive the degenerate-tail (all-equal ⇒ NULL) branch with a
    * planted fixture.
    */
  private[graft] def tailIndexOf(docs: DataFrame, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val top = docs
      .select(col("doc_id"), col("n_chars").cast("long").as("x"))
      .orderBy(col("x").desc, col("doc_id"))
      .limit(k + 1) // TakeOrdered: per-partition top-(k+1) + driver merge
      // global window over exactly k+1 rows — metadata, not the fact
      .withColumn("rn", row_number().over(Window.orderBy(col("x").desc, col("doc_id"))))
      .withColumn("ln_e6",
        floor(log(col("x").cast("double")) * 1000000d + 0.5d).cast("long"))
    val s = top.filter(col("rn") <= k)
      .agg(sum(col("ln_e6")).as("s_e6"), count(lit(1)).as("kk"))
    val tail = top.filter(col("rn") === k + 1)
      .select(col("x").as("x_tail"), col("ln_e6").as("l_tail"))
    s.crossJoin(broadcast(tail))
      .select(col("kk").as("k"), col("x_tail"),
        (col("s_e6") - col("kk") * col("l_tail")).as("d_e6"))
      .select(col("k"), col("x_tail"), col("d_e6"),
        when(col("d_e6") > 0L,
          floor(lit(1.0e12) * col("k").cast("double") / col("d_e6").cast("double")
            + 0.5d).cast("long"))
          .otherwise(lit(null).cast("long")).as("alpha_e6"))
  }

  val tailIndexOracle: String =
    """WITH top AS (SELECT n_chars AS x,
      |                    ROW_NUMBER() OVER (ORDER BY n_chars DESC, doc_id) AS rn,
      |                    CAST(floor(ln(CAST(n_chars AS DOUBLE)) * 1000000 + 0.5)
      |                         AS BIGINT) AS ln_e6
      |             FROM documents ORDER BY n_chars DESC, doc_id LIMIT 101),
      |s AS (SELECT SUM(ln_e6) AS s_e6, COUNT(*) AS kk FROM top WHERE rn <= 100),
      |t AS (SELECT x AS x_tail, ln_e6 AS l_tail FROM top WHERE rn = 101)
      |SELECT CAST(s.kk AS BIGINT) AS k, CAST(t.x_tail AS BIGINT) AS x_tail,
      |       CAST(s.s_e6 - s.kk * t.l_tail AS BIGINT) AS d_e6,
      |       CASE WHEN s.s_e6 - s.kk * t.l_tail > 0
      |            THEN CAST(floor(1e12 * CAST(s.kk AS DOUBLE)
      |                 / CAST(s.s_e6 - s.kk * t.l_tail AS DOUBLE) + 0.5) AS BIGINT)
      |            ELSE NULL END AS alpha_e6
      |FROM s, t""".stripMargin

  /** x217: Heaps'-law vocabulary-growth curve — V(n) per document in
    * doc_id ingestion order, the corpus-health signal behind SCALE.md's
    * central caveat (posting-list density is governed by whether vocab
    * keeps growing ∝ n^β or saturates — the regime that decides if the
    * pair-dedup family stays linear). EVERY value is an exact integer:
    * cum_tokens is a prefix sum of per-doc token counts, and cum_vocab
    * exploits that "distinct tokens among the first k docs" ≡ "tokens
    * whose FIRST doc is ≤ the k-th doc" — so the inherently-sequential
    * running DISTINCT becomes min(doc_id) per token (one map-combinable
    * aggregate) followed by a prefix sum of first-occurrence counts.
    * Both prefix sums ride ONE [[graft.ops.Ranking.globalCumSums]] pass
    * (two-phase
    * bucketed — no one-task global window on the doc grain, which IS
    * corpus-sized, unlike the calendar-bounded daily frames). The β fit
    * itself lives in ExtSpec (a driver-side OLS on the log-log curve);
    * the gate hashes the exact curve.
    */
  def heapsCurve(spark: SparkSession, dir: String): DataFrame = {
    val toks = tokenStream(spark, dir)
    val perDoc = toks.groupBy("doc_id").agg(count(lit(1)).as("n_tok"))
    val firstOcc = toks.groupBy("token").agg(min(col("doc_id")).as("fd"))
      .groupBy(col("fd").as("doc_id")).agg(count(lit(1)).as("n_new"))
    val joined = perDoc.join(firstOcc, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tok"), coalesce(col("n_new"), lit(0L)).as("n_new"))
    val c2 = graft.ops.Ranking.globalCumSums(joined,
      col("doc_id"), col("doc_id"),
      Seq(col("n_tok") -> "cum_tokens", col("n_new") -> "cum_vocab"))
    c2.select(col("doc_id"), col("cum_tokens"), col("cum_vocab"))
      .orderBy("doc_id")
  }

  val heapsOracle: String =
    """WITH t AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token
      |           FROM documents),
      |pd AS (SELECT doc_id, COUNT(*) AS n_tok FROM t GROUP BY 1),
      |fo AS (SELECT token, MIN(doc_id) AS fd FROM t GROUP BY 1),
      |nv AS (SELECT fd AS doc_id, COUNT(*) AS n_new FROM fo GROUP BY 1)
      |SELECT pd.doc_id,
      |       CAST(SUM(pd.n_tok) OVER (ORDER BY pd.doc_id) AS BIGINT) AS cum_tokens,
      |       CAST(SUM(COALESCE(nv.n_new, 0)) OVER (ORDER BY pd.doc_id) AS BIGINT) AS cum_vocab
      |FROM pd LEFT JOIN nv USING (doc_id)
      |ORDER BY pd.doc_id""".stripMargin

  /** x224: interpolated Kneser–Ney bigram NLL — THE canonical n-gram
    * smoothing (Kneser & Ney 1995; Chen & Goodman 1999's winner), and the
    * one the x107→x140→x155 ladder is still missing: instead of backing
    * off to the unigram FREQUENCY (x140's Jelinek–Mercer mix), KN backs
    * off to the CONTINUATION probability p_cont(w₂) = N₁₊(·w₂)/N₁₊(··) —
    * how many distinct contexts a word follows, not how often it occurs
    * ("Francisco" is frequent but only ever follows "San", so its
    * continuation mass is tiny and it stops stealing probability from
    * genuinely promiscuous words). With absolute discount d = 0.75:
    *
    *   p_KN(w₂|w₁) = (c(w₁w₂) − d)/c(w₁·)
    *               + (d·N₁₊(w₁·)/c(w₁·)) · (N₁₊(·w₂)/N₁₊(··))
    *
    * (the max(·,0) clamp is vacuous here: the cost table scores only
    * corpus-observed bigrams, so c ≥ 1 > d). Every ingredient is an
    * EXACT INTEGER re-aggregate of the Layer-cached [[bigramCounts]] —
    * c(w₁·) = Σ_w₂ c, N₁₊(w₁·) = per-w₁ row count, N₁₊(·w₂) = per-w₂ row
    * count, N₁₊(··) = the table's row count (one-row broadcast) — so the
    * warm path pays NO corpus pass beyond the shared bigram stream, and
    * the only doubles are the pinned four-division expression above (all
    * counts < 2⁵³ convert exactly; the oracle spells the identical op
    * sequence) followed by the x85 milli-nat floor. Per-context mass is
    * conserved: Σ_{w₂∈V} p_KN(w₂|w₁) = 1 exactly (the discounted mass
    * d·N₁₊(w₁·)/c(w₁·) re-enters through p_cont, which sums to 1 over the
    * vocab) — ExtSpec asserts this analytically per context. Output is
    * the family's doc grain: (doc_id, n_bigrams, nll_millinat).
    */
  def kneserNeyNll(spark: SparkSession, dir: String): DataFrame = {
    val bg = bigramStream(spark, dir)
    val bc = bigramCounts(spark, dir)
    // vocab-sized re-aggregates of bc — never a second corpus pass
    val cc = bc.groupBy("w1")
      .agg(sum(col("n_bg")).as("n_ctx"), count(lit(1)).as("n_follow"))
    val pc = bc.groupBy("w2").agg(count(lit(1)).as("n_prec"))
    val types = bc.agg(count(lit(1)).as("n_types"))
    val cost = bc.join(cc, "w1").join(pc, "w2")
      .crossJoin(broadcast(types))
      .select(col("w1"), col("w2"),
        floor(-log(
          (col("n_bg") - lit(0.75d)) / col("n_ctx") +
            ((lit(0.75d) * col("n_follow")) / col("n_ctx")) *
              (col("n_prec") / col("n_types"))) * 1000d + 0.5d)
          .cast("long").as("c_millinat"))
    // |cost| = |bc| (cc/pc joins inner-hit for every bc row)
    bg.join(bcastIfVocabFits(cost, bcRowsEager(spark, dir)), Seq("w1", "w2"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"), sum(col("c_millinat")).as("nll_millinat"))
      .orderBy("doc_id")
  }

  val kneserNeyOracle: String =
    """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents
      |           WHERE len(string_split(text, ' ')) >= 2),
      |bg AS (SELECT doc_id, toks[i.i] AS w1, toks[i.i + 1] AS w2
      |       FROM t, UNNEST(range(1, len(toks))) i(i)),
      |bc AS MATERIALIZED (SELECT w1, w2, COUNT(*) AS n_bg FROM bg GROUP BY 1, 2),
      |cc AS (SELECT w1, CAST(SUM(n_bg) AS BIGINT) AS n_ctx,
      |              COUNT(*) AS n_follow FROM bc GROUP BY 1),
      |pc AS (SELECT w2, COUNT(*) AS n_prec FROM bc GROUP BY 1),
      |ty AS (SELECT COUNT(*) AS n_types FROM bc),
      |cost AS (SELECT w1, w2,
      |           CAST(floor(-ln(
      |             (n_bg - 0.75) / n_ctx +
      |             ((0.75 * n_follow) / n_ctx) * (n_prec / n_types)) * 1000 + 0.5)
      |             AS BIGINT) AS c
      |         FROM bc JOIN cc USING (w1) JOIN pc USING (w2) CROSS JOIN ty)
      |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
      |       CAST(SUM(c) AS BIGINT) AS nll_millinat
      |FROM bg JOIN cost USING (w1, w2)
      |GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** x235: Good–Turing frequency smoothing (Good 1953) — the
    * count-of-counts estimator under Katz backoff and the classic
    * "how much probability mass belongs to UNSEEN words" answer the
    * x85→x224 LM ladder's additive/Kneser–Ney smoothers assume away:
    * from the frequency-of-frequencies table (n_r = how many word types
    * occur exactly r times), the adjusted count is r* = (r+1)·n_{r+1}/n_r
    * and the unseen mass is p₀ = n₁/N. On a Zipfian corpus n_r decays
    * smoothly and r* < r for small r — the visible "discount".
    *
    * Exactness: everything is re-aggregation of the Layer-shared unigram
    * count table (vocab-sized — the corpus is NOT re-read): n_r is an
    * integer GROUP BY over it, r* one pinned double division of exact
    * integers e6-floored (null where n_{r+1} = 0 — the estimator's
    * honest gap, NOT zero), p₀ likewise with n₁ coalesced to 0. Output
    * is |distinct r| rows — vocab-bounded at any corpus size.
    */
  def goodTuring(spark: SparkSession, dir: String): DataFrame = {
    val nr = unigramCounts(spark, dir)
      .groupBy(col("n_t").as("r")).agg(count(lit(1)).as("n_r"))
    val tot = nr.agg(sum(col("r") * col("n_r")).as("n_total"),
      sum(when(col("r") === 1L, col("n_r"))).as("n_1"))
    nr.join(nr.select((col("r") - 1L).as("r"), col("n_r").as("n_next")),
        Seq("r"), "left_outer")
      .crossJoin(broadcast(tot))
      .select(col("r"), col("n_r"),
        when(col("n_next").isNotNull,
          floor((col("r") + 1L).cast("double") * col("n_next").cast("double")
            / col("n_r").cast("double") * 1000000d + 0.5d).cast("long"))
          .as("rstar_e6"),
        col("n_total"),
        floor(coalesce(col("n_1"), lit(0L)).cast("double")
          / col("n_total").cast("double") * 1000000d + 0.5d)
          .cast("long").as("p0_e6"))
      .orderBy("r")
  }

  /** x252: Zipf rank–frequency slope — the power-law companion to x217's
    * Heaps curve (Heaps says how VOCABULARY grows with corpus; Zipf says
    * how MASS concentrates within vocabulary): OLS of ln(freq) on
    * ln(rank) over the unigram table, whose slope ≈ −s is the Zipf
    * exponent (≈ −1 on natural text; a synthetic flat vocabulary reads
    * ≈ 0 — itself a corpus-diagnostic signal), with r² as the
    * power-law-fit quality readout.
    *
    * Exactness: ranks come from one vocab-sized window (n_t DESC, token
    * ASC tie-break); each ln lands on the e9 grid ONCE (the measured
    * cross-engine ln discipline), and ALL moment sums run over those
    * exact integers (DECIMAL(38,0)² ≡ HUGEINT — the x250 posture), so
    * slope/intercept/r² are single pinned expressions whose e9 scale
    * factors cancel algebraically. Corpus → vocab happens in the shared
    * Layer; everything here is vocab-bounded.
    */
  def zipfSlope(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val d38: Column => Column = _.cast("decimal(38,0)")
    val ranked = unigramCounts(spark, dir)
      .withColumn("rnk",
        row_number().over(Window.orderBy(col("n_t").desc, col("token"))))
      .select(
        floor(log(col("rnk").cast("double")) * 1000000000d + 0.5d)
          .cast("long").as("x"),
        floor(log(col("n_t").cast("double")) * 1000000000d + 0.5d)
          .cast("long").as("y"))
    val s = ranked.agg(count(lit(1)).as("n"),
      sum(col("x")).as("sx"), sum(col("y")).as("sy"),
      sum(d38(col("x")) * d38(col("x"))).as("sxx"),
      sum(d38(col("y")) * d38(col("y"))).as("syy"),
      sum(d38(col("x")) * d38(col("y"))).as("sxy"))
    val num = (d38(col("n")) * col("sxy") - d38(col("sx")) * d38(col("sy")))
      .cast("double")
    val denX = (d38(col("n")) * col("sxx") - d38(col("sx")) * d38(col("sx")))
      .cast("double")
    val denY = (d38(col("n")) * col("syy") - d38(col("sy")) * d38(col("sy")))
      .cast("double")
    val slope = num / denX
    val intercept = (col("sy").cast("double") - slope * col("sx").cast("double")) /
      col("n").cast("double") / lit(1000000000.0d)
    s.select(col("n").as("n_types"),
      floor(slope * 1000000d + 0.5d).cast("long").as("slope_e6"),
      floor(intercept * 1000000d + 0.5d).cast("long").as("intercept_e6"),
      floor(num * num / (denX * denY) * 1000000d + 0.5d)
        .cast("long").as("r2_e6"))
  }

  val zipfOracle: String =
    """WITH tok AS (SELECT u.t AS token
      |             FROM documents, UNNEST(string_split(text, ' ')) u(t)),
      |uc AS (SELECT token, COUNT(*) AS n_t FROM tok GROUP BY 1),
      |rk AS (SELECT n_t,
      |              row_number() OVER (ORDER BY n_t DESC, token) AS rnk
      |       FROM uc),
      |q AS (SELECT CAST(floor(ln(CAST(rnk AS DOUBLE)) * 1000000000 + 0.5)
      |               AS BIGINT) AS x,
      |             CAST(floor(ln(CAST(n_t AS DOUBLE)) * 1000000000 + 0.5)
      |               AS BIGINT) AS y
      |      FROM rk),
      |s AS (SELECT COUNT(*) AS n,
      |             CAST(SUM(x) AS HUGEINT) AS sx, CAST(SUM(y) AS HUGEINT) AS sy,
      |             SUM(CAST(x AS HUGEINT) * x) AS sxx,
      |             SUM(CAST(y AS HUGEINT) * y) AS syy,
      |             SUM(CAST(x AS HUGEINT) * y) AS sxy
      |      FROM q)
      |SELECT CAST(n AS BIGINT) AS n_types,
      |       CAST(floor(CAST(n * sxy - sx * sy AS DOUBLE)
      |           / CAST(n * sxx - sx * sx AS DOUBLE)
      |         * 1000000 + 0.5) AS BIGINT) AS slope_e6,
      |       CAST(floor((CAST(sy AS DOUBLE)
      |           - CAST(n * sxy - sx * sy AS DOUBLE)
      |             / CAST(n * sxx - sx * sx AS DOUBLE)
      |             * CAST(sx AS DOUBLE))
      |           / CAST(n AS DOUBLE) / 1000000000.0
      |         * 1000000 + 0.5) AS BIGINT) AS intercept_e6,
      |       CAST(floor(CAST(n * sxy - sx * sy AS DOUBLE)
      |           * CAST(n * sxy - sx * sy AS DOUBLE)
      |           / (CAST(n * sxx - sx * sx AS DOUBLE)
      |              * CAST(n * syy - sy * sy AS DOUBLE))
      |         * 1000000 + 0.5) AS BIGINT) AS r2_e6
      |FROM s""".stripMargin

  /** x253: term burstiness — the variance-to-mean index of dispersion
    * D = σ²/μ of a token's per-document count, zeros included (Church &
    * Gale 1995): a Poisson-scattered token reads D ≈ 1 (function-word
    * behavior), a topical term clumps into few documents and reads
    * D ≫ 1 — the signal tf-idf's df denominator only crudely proxies,
    * and a direct input to stopword-list induction and keyword
    * extraction. Top 20 by D (support ≥ 50 occurrences; ties by token).
    *
    * Exactness: zeros never materialize — D collapses algebraically to
    * (N·Σc² − (Σc)²) / (N·Σc) on the PRESENCE rows' exact integer sums
    * (the zero docs contribute 0 to both Σc and Σc², and N is the
    * corpus doc count), so the whole statistic is one pinned division
    * of exact integers, e6-floored once. One pass over the token
    * stream, vocab-sized after.
    */
  def termBurstiness(spark: SparkSession, dir: String, k: Int = 20): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val nDocs = Tables.documents(spark, dir).count()  // control-plane scalar
    val perDoc = tokenStream(spark, dir)
      .groupBy("token", "doc_id").agg(count(lit(1)).as("c"))
    val stats = perDoc.groupBy("token")
      .agg(count(lit(1)).as("n_docs_present"), sum(col("c")).as("total"),
        sum(col("c") * col("c")).as("sum_sq"))
      .filter(col("total") >= 50L)
    val d = stats.select(col("token"), col("n_docs_present"), col("total"),
      floor((lit(nDocs) * col("sum_sq") - col("total") * col("total"))
        .cast("double")
        / (lit(nDocs) * col("total")).cast("double") * 1000000d + 0.5d)
        .cast("long").as("disp_e6"))
    d.withColumn("rnk", row_number().over(
        Window.orderBy(col("disp_e6").desc, col("token"))))
      .filter(col("rnk") <= k)
      .select(col("token"), col("n_docs_present"), col("total"),
        col("disp_e6"), col("rnk").cast("long").as("rnk"))
      .orderBy("rnk")
  }

  val burstinessOracle: String =
    """WITH nd AS (SELECT COUNT(*) AS n_docs FROM documents),
      |tok AS (SELECT doc_id, u.t AS token
      |        FROM documents, UNNEST(string_split(text, ' ')) u(t)),
      |pd AS (SELECT token, doc_id, COUNT(*) AS c FROM tok GROUP BY 1, 2),
      |st AS (SELECT token, COUNT(*) AS n_docs_present,
      |              CAST(SUM(c) AS BIGINT) AS total,
      |              CAST(SUM(c * c) AS BIGINT) AS sum_sq
      |       FROM pd GROUP BY 1 HAVING SUM(c) >= 50),
      |d AS (SELECT token, n_docs_present, total,
      |             CAST(floor(CAST(n_docs * sum_sq - total * total AS DOUBLE)
      |               / CAST(n_docs * total AS DOUBLE) * 1000000 + 0.5) AS BIGINT)
      |               AS disp_e6
      |      FROM st, nd),
      |r AS (SELECT *, row_number() OVER (ORDER BY disp_e6 DESC, token) AS rnk
      |      FROM d)
      |SELECT token, CAST(n_docs_present AS BIGINT) AS n_docs_present, total,
      |       disp_e6, CAST(rnk AS BIGINT) AS rnk
      |FROM r WHERE rnk <= 20 ORDER BY rnk""".stripMargin

  val goodTuringOracle: String =
    """WITH tok AS (SELECT u.t AS token
      |             FROM documents, UNNEST(string_split(text, ' ')) u(t)),
      |uc AS (SELECT token, COUNT(*) AS n_t FROM tok GROUP BY 1),
      |nr AS (SELECT n_t AS r, COUNT(*) AS n_r FROM uc GROUP BY 1),
      |tot AS (SELECT CAST(SUM(r * n_r) AS BIGINT) AS n_total,
      |               CAST(SUM(CASE WHEN r = 1 THEN n_r END) AS BIGINT) AS n_1
      |        FROM nr)
      |SELECT CAST(nr.r AS BIGINT) AS r, CAST(nr.n_r AS BIGINT) AS n_r,
      |       CASE WHEN nx.n_r IS NOT NULL THEN
      |         CAST(floor(CAST(nr.r + 1 AS DOUBLE) * CAST(nx.n_r AS DOUBLE)
      |           / CAST(nr.n_r AS DOUBLE) * 1000000 + 0.5) AS BIGINT)
      |       END AS rstar_e6,
      |       n_total,
      |       CAST(floor(CAST(COALESCE(n_1, 0) AS DOUBLE)
      |         / CAST(n_total AS DOUBLE) * 1000000 + 0.5) AS BIGINT) AS p0_e6
      |FROM nr LEFT JOIN nr nx ON nx.r = nr.r + 1, tot
      |ORDER BY r""".stripMargin

  /** x263: per-document TF-IDF keyword extraction — the transpose of
    * x95's BM25 (BM25 ranks DOCS for a query term; this ranks TERMS for
    * each doc): top-3 tokens by tf·idf, the classic zero-training
    * keyword/tag generator and the feature layer under every sparse
    * retriever. idf = ln(N/df) over the Layer-shared unigram/df
    * machinery; score = tf · idf_e6 is an EXACT integer (idf e6-floors
    * its single ln once — the measured-ln discipline — and tf is a
    * count), so the per-doc ranking compares exact integers with a
    * token tie-break. The per-doc window partition is vocab-bounded
    * (≤ |vocab| rows), never corpus-wide. One token-stream pass; df and
    * N are vocab-sized/one-row broadcasts.
    */
  def tfidfKeywords(spark: SparkSession, dir: String, k: Int = 3): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toks = tokenStream(spark, dir).select("doc_id", "token")
    val tf = toks.groupBy("doc_id", "token").agg(count(lit(1)).as("tf"))
    val df = toks.select("doc_id", "token").distinct()
      .groupBy("token").agg(count(lit(1)).as("df"))
    val n = toks.select("doc_id").distinct().agg(count(lit(1)).as("n_docs"))
    val idf = df.crossJoin(broadcast(n))
      .select(col("token"),
        floor(log(col("n_docs").cast("double") / col("df").cast("double"))
          * 1000000d + 0.5d).cast("long").as("idf_e6"))
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("score_e6").desc, col("token"))
    tf.join(broadcast(idf), "token")
      .select(col("doc_id"), col("token"), col("tf"),
        (col("tf") * col("idf_e6")).as("score_e6"))
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= k)
      .orderBy("doc_id", "rnk")
  }

  val tfidfOracle: String =
    """WITH tok AS (SELECT doc_id, u.t AS token
      |             FROM documents, UNNEST(string_split(text, ' ')) u(t)),
      |tf AS (SELECT doc_id, token, COUNT(*) AS tf FROM tok GROUP BY 1, 2),
      |df AS (SELECT token, COUNT(DISTINCT doc_id) AS df FROM tok GROUP BY 1),
      |nd AS (SELECT COUNT(DISTINCT doc_id) AS n_docs FROM tok),
      |idf AS (SELECT token,
      |               CAST(floor(ln(CAST(n_docs AS DOUBLE) / CAST(df AS DOUBLE))
      |                 * 1000000 + 0.5) AS BIGINT) AS idf_e6
      |        FROM df, nd),
      |s AS (SELECT tf.doc_id, tf.token, tf.tf,
      |             CAST(tf.tf * idf.idf_e6 AS BIGINT) AS score_e6
      |      FROM tf JOIN idf USING (token)),
      |r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
      |        ORDER BY score_e6 DESC, token) AS rnk FROM s)
      |SELECT doc_id, token, CAST(tf AS BIGINT) AS tf, score_e6,
      |       CAST(rnk AS BIGINT) AS rnk
      |FROM r WHERE rnk <= 3 ORDER BY doc_id, rnk""".stripMargin

  /** x286: SQL-DEFINED scalar functions (Spark 4's `CREATE FUNCTION …
    * RETURN <expr>`) on the correctness path — the warehouse-UDF surface
    * a SQL-first team standardizes quality logic in. Unlike a JVM UDF
    * (an optimizer-opaque closure, the anti-pattern this repo has zero
    * of), a SQL UDF REWRITES to its body at analysis
    * (ResolveSQLFunctions), so whole-stage codegen sees plain Catalyst
    * expressions and pushdown/pruning still work. Two functions compose
    * (the token counter feeds the diversity score), both pure integer
    * arithmetic; DuckDB inlines the identical expressions, so a wrong
    * rewrite, argument binding, or null path cannot hash-match.
    */
  def sqlUdfQuality(spark: SparkSession, dir: String): DataFrame = {
    spark.sql(
      """CREATE OR REPLACE TEMPORARY FUNCTION graft_ntok(text STRING)
        |RETURNS BIGINT RETURN CAST(size(split(text, ' ')) AS BIGINT)""".stripMargin)
    spark.sql(
      """CREATE OR REPLACE TEMPORARY FUNCTION graft_ttr_bp(text STRING)
        |RETURNS BIGINT RETURN
        |  CAST(size(array_distinct(split(text, ' '))) AS BIGINT) * 10000L
        |    div graft_ntok(text)""".stripMargin)
    spark.sql(
      s"""SELECT lang, COUNT(*) AS n_docs,
         |       CAST(SUM(graft_ntok(text)) AS BIGINT) AS toks,
         |       CAST(SUM(CASE WHEN graft_ttr_bp(text) >= 3000 THEN 1 ELSE 0 END)
         |         AS BIGINT) AS n_diverse
         |FROM parquet.`$dir/documents.parquet`
         |GROUP BY lang ORDER BY lang""".stripMargin)
  }

  val sqlUdfQualityOracle: String =
    """SELECT lang, COUNT(*) AS n_docs,
      |       CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS toks,
      |       CAST(SUM(CASE WHEN CAST(len(list_distinct(string_split(text, ' ')))
      |                              AS BIGINT) * 10000
      |                          // len(string_split(text, ' ')) >= 3000
      |                      THEN 1 ELSE 0 END) AS BIGINT) AS n_diverse
      |FROM documents GROUP BY lang ORDER BY lang""".stripMargin

  /** x287: SQL-standard LISTAGG (Spark 4) — `listagg(DISTINCT expr,
    * sep) WITHIN GROUP (ORDER BY …)`, the ISO string-aggregation surface
    * a migrating warehouse user expects (the repo's A12 gate covers the
    * collect_list/array_join idiom; this is the standard spelling, with
    * dedup and an explicit deterministic within-group order). DuckDB's
    * string_agg(DISTINCT … ORDER BY …) evaluates the identical ordered
    * concatenation, so separator placement, dedup, and ordering are all
    * on the hash.
    */
  def listaggTypes(spark: SparkSession, dir: String): DataFrame =
    // DISTINCT inside listagg + WITHIN GROUP trips a Spark 4.1.2
    // analyzer cast (AttributeReference -> SortOrder); the pre-deduped
    // subquery expresses the same contract and keeps the standard
    // WITHIN GROUP ordered-concatenation on the gate
    spark.sql(
      s"""SELECT p_brand,
         |       listagg(p_type, '|') WITHIN GROUP (ORDER BY p_type) AS types,
         |       CAST(COUNT(*) AS BIGINT) AS n_types
         |FROM (SELECT DISTINCT p_brand, p_type
         |      FROM parquet.`$dir/part.parquet`)
         |GROUP BY p_brand ORDER BY p_brand""".stripMargin)

  val listaggTypesOracle: String =
    """SELECT p_brand,
      |       string_agg(p_type, '|' ORDER BY p_type) AS types,
      |       CAST(COUNT(*) AS BIGINT) AS n_types
      |FROM (SELECT DISTINCT p_brand, p_type FROM part)
      |GROUP BY p_brand ORDER BY p_brand""".stripMargin
}
