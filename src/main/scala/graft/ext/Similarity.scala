package graft.ext

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.{functions => gf}

/** Approximate-nearest-neighbor / similarity search over the embeddings
  * table (SURVEY.md §2.11 X3). Brute-force cosine top-k is the exactness
  * baseline; IVF (cluster-pruned) search is the scale path — at 100 TB the
  * centroid assignment turns an all-pairs shuffle into a per-cluster
  * co-partitioned join.
  */
object Similarity {

  /** Exact brute-force top-k cosine neighbors for query vectors
    * (vec_id < nQueries), self-pairs excluded. The query side is tiny and
    * broadcast; similarity runs in one codegen'd pass (CosineSimF); the
    * per-query top-k is a window row_number — k rows survive per query.
    */
  def bruteForceTopK(spark: SparkSession, dir: String,
                     nQueries: Int = 10, k: Int = 5): DataFrame = {
    val e = Tables.embeddings(spark, dir)
    val q = e.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("q_id"), col("embedding").as("qv"))
    val c = e.select(col("vec_id").as("n_id"), col("embedding").as("nv"))
    val w = Window.partitionBy(col("q_id")).orderBy(col("cos").desc, col("n_id"))
    broadcast(q).crossJoin(c)
      .filter(col("q_id") =!= col("n_id"))
      .withColumn("cos", gf.cosine_sim(col("qv"), col("nv")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("n_id"), round(col("cos"), 4).as("cos"),
        col("rank").cast("long").as("rank"))
      .orderBy("q_id", "rank")
  }

  /** Hard-negative mining — the contrastive-training data op: for each
    * query vector, the k MOST-similar vectors carrying a DIFFERENT label
    * (similar enough to be hard, labeled different so they are true
    * negatives; same-label neighbors — the positives — and the anchor
    * itself are excluded by the one label predicate). The predicate rides
    * inside the scoring pass, ahead of the per-query top-k, so no
    * excluded candidate ever reaches the rank window; otherwise the plan
    * is [[bruteForceTopK]]'s broadcast + WindowGroupLimit shape, and at
    * 100 TB the scan side swaps for the IVF probe ([[ivfTopK]]'s cluster
    * pruning) with the label filter unchanged.
    */
  def hardNegatives(spark: SparkSession, dir: String,
                    nQueries: Int = 10, k: Int = 5): DataFrame = {
    val e = Tables.embeddings(spark, dir)
    val q = e.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("q_id"), col("embedding").as("qv"),
        col("label").as("q_label"))
    val c = e.select(col("vec_id").as("n_id"), col("embedding").as("nv"),
      col("label").as("n_label"))
    val w = Window.partitionBy(col("q_id")).orderBy(col("cos").desc, col("n_id"))
    broadcast(q).crossJoin(c)
      .filter(col("n_label") =!= col("q_label"))
      .withColumn("cos", gf.cosine_sim(col("qv"), col("nv")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("n_id"), round(col("cos"), 4).as("cos"),
        col("rank").cast("long").as("rank"))
      .orderBy("q_id", "rank")
  }

  /** Top-k via the typed single-pass [[graft.functions.TopKAggregator]]:
    * same result as bruteForceTopK, but partial aggregation keeps only k
    * candidates per (partition, query) ahead of the shuffle instead of
    * sorting the full similarity matrix — the preferred shape at scale.
    */
  def aggregatorTopK(spark: SparkSession, dir: String,
                     nQueries: Int = 10, k: Int = 5): DataFrame = {
    import spark.implicits._
    import graft.functions.{Scored, TopKAggregator}
    val e = Tables.embeddings(spark, dir)
    val q = e.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("q_id"), col("embedding").as("qv"))
    val c = e.select(col("vec_id").as("n_id"), col("embedding").as("nv"))
    val scored = broadcast(q).crossJoin(c)
      .filter(col("q_id") =!= col("n_id"))
      .select(col("q_id"), col("n_id"), gf.cosine_sim(col("qv"), col("nv")).as("cos"))
      .as[(Long, Long, Double)]
    scored.groupByKey(_._1)
      .mapValues(t => Scored(t._2, t._3))
      .agg(new TopKAggregator(k).toColumn.name("topk"))
      .flatMap { case (qid, items) =>
        items.zipWithIndex.map { case (s, i) => (qid, s.n_id, s.cos, (i + 1).toLong) }
      }
      .toDF("q_id", "n_id", "cos", "rank")
      // round on the Column, not in the flatMap: Spark round() is HALF_UP,
      // matching bruteForceTopK and the DuckDB oracle on exact .00005 ties
      // (math.rint is half-even and would diverge)
      .withColumn("cos", round(col("cos"), 4))
      .orderBy("q_id", "rank")
  }

  /** Derived IVF geometry — the scale dials as pure functions of corpus
    * count, mirroring the LSH band derivation in [[Dedup.deriveBands]]:
    * nlist = ⌈√n⌉ cluster seeds (every ⌊n/nlist⌋-th vector), CAPPED at
    * 12·⌈n^¼⌉ (round-11; the SCALE.md membership-assignment lever made
    * default). The cap is the build-cost governor: serving-index
    * membership assigns the FULL corpus against all centroids — n·nlist
    * score-ops — and uncapped √n geometry makes that n^1.5, the measured
    * residual of the r10 m100 row. Capped, build cost is ≤ 12·n^1.25
    * while per-query probed candidates grow ~n^0.875 (probe = ⌈√nlist⌉ ≈
    * √12·n^⅛ of clusters holding n^¾/12 each) — the classic IVF
    * trade of build time against probe width, resolved toward build
    * because the assignment is the ONE unavoidable full-corpus pass.
    * 12 makes the cap inert below n = 12⁴ = 20 736 (⌈√n⌉ ≤ 12·⌈n^¼⌉ ⟺
    * n^¼ ≤ 12), so both gate SFs keep their uncapped geometry
    * bit-for-bit; the m30/m100 SCALE corpora exercise the capped path.
    * Expressed as ceil/sqrt/least only — IEEE-exact in BOTH engines, the
    * derived-oracle discipline (sqrt is correctly rounded, so
    * `12·⌈√√n⌉` is the same integer in DuckDB and the JVM; a pow(n,0.25)
    * would not be). The centroid broadcast then grows as
    * min(√n, 12·n^¼)·dim — a fixed seed modulus would grow it LINEARLY
    * in n and break the broadcast at corpus scale. Default nProbe =
    * ⌈√nlist⌉, so the ExtSpec recall law holds at every geometry.
    * Returns (nlist, seedModulus, nProbe).
    */
  private[graft] def ivfGeometry(n: Long): (Long, Long, Int) = {
    val nn = math.max(1L, n).toDouble
    val root = math.ceil(math.sqrt(nn)).toLong
    val cap = 12L * math.ceil(math.sqrt(math.sqrt(nn))).toLong
    val nlist = math.max(4L, math.min(root, cap))
    val mod = math.max(1L, n / nlist)
    val probe = math.max(2, math.ceil(math.sqrt(nlist.toDouble)).toInt)
    (nlist, mod, probe)
  }

  /** The [[ivfGeometry]] nlist derivation as DuckDB SQL over a column
    * `n` — interpolated into every oracle CTE that mirrors the geometry,
    * so the Scala formula and the SQL formula cannot drift apart.
    */
  private def nlistSql: String =
    "GREATEST(4, LEAST(CAST(ceil(sqrt(CAST(n AS DOUBLE))) AS BIGINT), " +
      "12 * CAST(ceil(sqrt(sqrt(CAST(n AS DOUBLE)))) AS BIGINT)))"

  /** Coarse-fit training stride — the FAISS sampled-fit recipe made a
    * derived dial (the x242 cell-governor discipline: BOTH engines
    * derive it from the exact corpus count): Lloyd trains on every
    * trainMod-th vector, capped at ~16·nlist training points, so the
    * fit costs 16·nlist² = 16n score-ops instead of iters·n·√n — the
    * measured r9 superlinearity (task e 1.26 at 10→30×) was exactly
    * those full-corpus training assignments. The one remaining
    * full-corpus pass is the SERVING membership assignment (built once
    * per index). trainMod = 1 below n = 1024 (sf0.01's gate corpus
    * trains on everything — outputs there are bit-identical to r9);
    * at sf0.1 (n = 2000) the stride is already 2, so the hash gate
    * exercises the sampled path, not just the formula.
    */
  private[graft] def ivfTrainMod(n: Long): Long = {
    val (nlist, _, _) = ivfGeometry(n)
    math.max(1L, n / (16L * nlist))
  }

  /** The e4-quantized integer view of the embedding corpus `(vec_id, q:
    * array<long>)` — the spherical-k-means STATE grid (and the same grid
    * the covariance/PCA family quantizes on). Everything downstream of
    * it is exact: dots and norms are BIGINT folds, centroids are integer
    * SUM vectors, so the whole Lloyd fit is order-independent,
    * partitioning-independent, and DuckDB-replayable.
    */
  private[graft] def quantizedVecs(e: DataFrame): DataFrame =
    e.select(col("vec_id"),
      transform(col("embedding"),
        v => floor(v.cast("double") * 10000d + 0.5d).cast("long")).as("q"))

  /** Exact BIGINT dot of two long arrays — the native single-pass kernel
    * (graft.functions.Int8Dot, codegen'd): same ascending left fold and
    * exact integer sum as the aggregate(zip_with(...)) composition it
    * replaces, without materializing the product array per pair. On the
    * n×nlist assignment grid this is the hot multiply of the whole IVF
    * family.
    */
  private def dotLL(a: Column, b: Column): Column = gf.int8_dot(a, b)

  /** Cosine between a quantized vector and an integer SUM-vector
    * centroid: cosine is scale-invariant, so a cluster's centroid never
    * needs the mean — the exact member-sum ranks identically, and the
    * ONLY floating step is this one pinned expression over three exact
    * BIGINTs (dot ≤ dim·10⁴·Σ|q| ≈ 10¹² per 10⁸-member cluster at e4 —
    * widen to DECIMAL beyond that, documented bound). This is what makes
    * the r9 x126/x22/x89 oracles possible: the old float-mean centroids
    * were partition-order-dependent doubles.
    */
  private def intCos(q: Column, s: Column): Column =
    dotLL(q, s).cast("double") /
      (sqrt(dotLL(q, q).cast("double")) * sqrt(dotLL(s, s).cast("double")))

  /** Nearest-centroid assignment as an AGGREGATE, not a window: the
    * n×nlist scored cross product is projected down to (vec_id, c_id,
    * ccos) — the vector payloads never leave the map side — and the argmax
    * is `max_by(c_id, (ccos, -c_id))`, whose partial aggregation collapses
    * every vector to ONE row before the exchange. The equivalent
    * `row_number().over(partitionBy(vec_id))` would shuffle all n·nlist
    * rows, each still carrying both the vector and the centroid payload
    * — at n = 10⁹, dim = 768 a multi-PB exchange. Here only n (vec_id,
    * cluster) key rows cross the wire. Tie-break matches the window
    * formulation: highest ccos, then lowest c_id. Inputs are the
    * [[quantizedVecs]] q and [[centroidSums]] sv columns.
    */
  private[graft] def assignClusters(qv: DataFrame, cent: DataFrame): DataFrame = {
    // hoist both norms OUT of the n×nlist pair loop: sqrt(q·q) once per
    // vector, sqrt(sv·sv) once per centroid — the per-pair work drops
    // from three dot products to one, and the score double is
    // BIT-IDENTICAL to the inline intCos formula (same exact-integer
    // dots, same sqrt inputs, same multiply/divide order), so every
    // oracle replay is untouched
    val qn = qv.select(col("vec_id"), col("q"),
      sqrt(dotLL(col("q"), col("q")).cast("double")).as("qnorm"))
    val cn = cent.select(col("c_id"), col("sv"),
      sqrt(dotLL(col("sv"), col("sv")).cast("double")).as("cnorm"))
    qn.crossJoin(broadcast(cn))
      .select(col("vec_id"), col("c_id"),
        (dotLL(col("q"), col("sv")).cast("double") /
          (col("qnorm") * col("cnorm"))).as("ccos"))
      .groupBy("vec_id")
      .agg(max_by(col("c_id"), struct(col("ccos"), negate(col("c_id")))).as("cluster"))
  }

  /** Spherical k-means centroids, trained with a few distributed Lloyd
    * iterations in pure DataFrame ops: assign each quantized vector to
    * its nearest centroid ([[assignClusters]] — broadcast score, map-side
    * argmax partials, n key-rows shuffled), recompute centroids as the
    * element-wise integer SUM of their members (posexplode →
    * per-(cluster, dim) BIGINT sum → re-assemble; cosine's scale
    * invariance makes the mean unnecessary, so no division and no
    * doubles enter the state). Deterministic init (every seedMod-th
    * vector's q, seedMod from [[ivfGeometry]]); empty clusters drop out
    * exactly as under the float formulation. Each iteration is one
    * broadcast join + two keyed aggregates — linear in n·dim, no
    * pairwise blowup, and the only full-payload shuffle is the n-row
    * membership re-join.
    */
  private def centroidSums(qv: DataFrame, seedMod: Long, trainMod: Long,
                           iters: Int = 2): DataFrame = {
    // sampled fit: Lloyd sees only every trainMod-th vector (~16·nlist
    // points — see ivfTrainMod); seeds keep the full-corpus stride so
    // the init is unchanged where trainMod = 1
    val train = qv.filter(col("vec_id") % trainMod === 0)
    var cent = qv.filter(col("vec_id") % seedMod === 0)
      .select(col("vec_id").as("c_id"), col("q").as("sv"))
    for (_ <- 1 to iters) {
      val assigned = train.join(assignClusters(train, cent), "vec_id")
        .select(col("cluster"), col("q"))
      cent = assigned
        .select(col("cluster"), posexplode(col("q")).as(Seq("pos", "v")))
        .groupBy("cluster", "pos").agg(sum(col("v")).as("sv1"))
        .groupBy("cluster")
        .agg(array_sort(collect_list(struct(col("pos"), col("sv1")))).as("pv"))
        .select(col("cluster").as("c_id"),
          transform(col("pv"), p => p.getField("sv1")).as("sv"))
    }
    cent
  }

  /** x126: k-means cluster report — the spherical-k-means trainer the IVF
    * index (x22) and SemDeDup (x89) already run, surfaced as a first-class
    * clustering operator: per cluster, member count and mean member-to-
    * centroid cosine (cohesion) in e4 integer units (each cosine floors
    * once, the mean is an integer DIV — deterministic despite double
    * centroids). Training is [[centroids]]' Lloyd loop: per iteration one
    * broadcast score + map-side argmax partials (n key rows shuffle, never
    * payloads) + a per-(cluster, dim) integer sum. HASH-MATCHED since r9:
    * the exact-integer centroid state ([[centroidSums]]) makes the whole
    * fit partitioning-independent, and the oracle replays init + both
    * Lloyd iterations + the report in DuckDB list SQL; ExtSpec keeps the
    * structural laws (membership partitions the corpus, cohesion bounded,
    * cluster count within geometry).
    */
  def kmeansReport(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(spark, dir)
    val n = e.count()
    val (_, mod, _) = ivfGeometry(n)
    val qv = quantizedVecs(e)
    val cent = centroidSums(qv, mod, ivfTrainMod(n))
    qv.join(assignClusters(qv, cent), "vec_id")
      .join(broadcast(cent), col("cluster") === col("c_id"))
      .select(col("cluster"),
        floor(intCos(col("q"), col("sv")) * 10000d + 0.5d)
          .cast("long").as("cos_e4"))
      .groupBy("cluster")
      .agg(count(lit(1)).as("n_members"),
        expr("sum(cos_e4) DIV count(1)").as("mean_cohesion_e4"))
      .orderBy("cluster")
  }

  /** x262: product-quantization (PQ) approximate similarity search
    * (Jégou et al., TPAMI 2011) — the memory-side scale path the
    * quantization family still lacked: SQ8 (x184) shrinks SCALARS, PQ
    * shrinks the whole vector to M sub-CODES (shipped defaults m = 8
    * subspaces × 16-way codebooks = 32 bits a vector), so a 100 TB
    * corpus's index fits in RAM and candidate
    * scoring is M table lookups per vector instead of a dim-length scan.
    * Codebooks are per-subspace spherical k-means trained by the SAME
    * exact integer sum-vector Lloyd as x126/x22 (all M subspaces in ONE
    * loop, keyed (s, c_id) — one broadcast score + two keyed aggregates
    * per iteration, never per-subspace passes); scoring is the blockwise-
    * cosine ADC: score(q, v) = Σ_s cos(q_s, centroid(v, s)), the
    * spherical analogue of the classical L2 lookup table.
    *
    * Serving is the textbook TWO-STAGE shape: the ADC scan selects a
    * `poolK` candidate shortlist per query (the cheap, compressed-domain
    * stage — this is what scans 100 TB), then the exact float cosine
    * re-ranks ONLY the shortlist to top-k (the x20 CosineSimF kernel on
    * ≤ poolK rows per query — output-sized work). Measured at sf0.01:
    * the raw 24-bit ADC ranking alone recalls ~0.1–0.4 of the exact
    * top-10 on this uniform-random corpus (near-orthogonal vectors are
    * PQ's adversarial case); the re-ranked pool recovers most of it —
    * the recall law in ExtSpec pins the floor.
    *
    * Exactness: the fit is the x126 integer state (order- and
    * partitioning-independent, oracle-replayable); the query LUT is
    * nQueries·M·K cells, each ONE pinned dot/(√·√) double e6-floored
    * once; ADC totals are exact BIGINT sums of LUT cells, pooled by the
    * x261 custom top-k operator with a total (score DESC, vec_id ASC)
    * order; the re-rank cosine is the native CosineSimF expression with
    * the x20 rounding. Scale: codebooks are M·K rows broadcast; encoding
    * is one linear pass; the pool exchange ships ≤ poolK rows per
    * (query, partition); the re-rank window is poolK-bounded. At fleet
    * scale compose with x22's IVF lists (IVF-PQ).
    */
  /** Shared x262/x266 PQ state: the subvector frame, the (s, c_id)-keyed
    * exact sum-vector codebooks (2 Lloyd iterations, Layer-cached —
    * strictly M·K rows), and each vector's code assignment.
    */
  private def pqState(spark: SparkSession, dir: String, m: Int, kCode: Int)
      : (DataFrame, DataFrame, DataFrame) = {
    val e = Tables.embeddings(spark, dir)
    val seedMod = math.max(1L, e.count() / kCode)
    val sub = 64 / m
    val subv = quantizedVecs(e)
      .select(col("vec_id"), explode(sequence(lit(0), lit(m - 1))).as("s"), col("q"))
      .select(col("vec_id"), col("s"), expr(s"slice(q, s * $sub + 1, $sub)").as("qs"))
    def assign(cent: DataFrame): DataFrame =
      subv.join(broadcast(cent), "s")
        .select(col("vec_id"), col("s"), col("c_id"),
          intCos(col("qs"), col("sv")).as("ccos"))
        .groupBy("vec_id", "s")
        .agg(max_by(col("c_id"), struct(col("ccos"), negate(col("c_id")))).as("code"))
    val cent = graft.Layer.cached(spark, dir, s"pqCent@$m#$kCode") {
      var c = subv.filter(col("vec_id") % seedMod === 0)
        .select(col("s"), col("vec_id").as("c_id"), col("qs").as("sv"))
      for (_ <- 1 to 2) {
        c = subv.join(assign(c), Seq("vec_id", "s"))
          .select(col("s"), col("code"), posexplode(col("qs")).as(Seq("pos", "v")))
          .groupBy("s", "code", "pos").agg(sum(col("v")).as("sv1"))
          .groupBy("s", "code")
          .agg(array_sort(collect_list(struct(col("pos"), col("sv1")))).as("pv"))
          .select(col("s"), col("code").as("c_id"),
            transform(col("pv"), p => p.getField("sv1")).as("sv"))
      }
      c
    }
    (subv, cent, assign(cent))
  }

  /** The e6-floored blockwise-cosine lookup table for queries vec_id <
    * nQueries — nQueries·M·K cells, one pinned cosine each.
    */
  private def pqLut(subv: DataFrame, cent: DataFrame, nQueries: Int): DataFrame =
    subv.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("qid"), col("s"), col("qs"))
      .join(broadcast(cent), "s")
      .select(col("qid"), col("s"), col("c_id").as("code"),
        floor(intCos(col("qs"), col("sv")) * 1000000d + 0.5d)
          .cast("long").as("lut_e6"))

  def pqTopK(spark: SparkSession, dir: String, m: Int = 8, kCode: Int = 16,
             topK: Int = 10, nQueries: Int = 3, poolK: Int = 50): DataFrame = {
    val e = Tables.embeddings(spark, dir)
    val (subv, cent, codes) = pqState(spark, dir, m, kCode)
    val lut = pqLut(subv, cent, nQueries)
    val adc = codes.join(broadcast(lut), Seq("s", "code"))
      .groupBy("qid", "vec_id")
      .agg(sum(col("lut_e6")).as("adc_e6"))
    // sortPartial = false: the few-queries/many-candidates profile — the
    // heap partial holds <= poolK rows per qid (pool-sized state, no
    // partition buffer); sorting the ADC stream to keep a 50-row pool
    // would be the wrong trade (see TopKPerKey's discipline scaladoc)
    val pool = graft.plans.TopKPerKey.of(adc, "qid", "adc_e6", "vec_id", poolK, "prnk",
      sortPartial = false)
    exactRerank(e, pool, topK)
  }

  /** The exact-cosine re-rank of a (qid, vec_id, adc_e6) shortlist —
    * shared by x262 and x266; pool-bounded window partitions.
    */
  private def exactRerank(e: DataFrame, pool: DataFrame, topK: Int): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("qid")).orderBy(col("cos").desc, col("vec_id"))
    pool
      .join(e.select(col("vec_id").as("qid"), col("embedding").as("qe")), "qid")
      .join(e.select(col("vec_id"), col("embedding").as("ne")), "vec_id")
      .withColumn("cos", gf.cosine_sim(col("qe"), col("ne")))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= topK)
      .select(col("qid"), col("vec_id"), col("adc_e6"),
        round(col("cos"), 4).as("cos"), col("rnk").cast("long").as("rnk"))
      .orderBy("qid", "rnk")
  }

  /** x266: IVF-PQ — the two indexes COMPOSED, the architecture every
    * production vector store serves from (FAISS's IVFPQ): the x22
    * coarse quantizer prunes the corpus to the query's `probe` nearest
    * inverted lists (cluster pruning — the stage that makes the scan
    * sublinear in n), the x262 PQ codes score ONLY the surviving
    * candidates in the compressed domain (M lookups per candidate, no
    * vector reads), and the exact cosine re-ranks the shortlist. Every
    * stage keeps the exact-integer state discipline of its parent
    * operator, so the whole composed index — coarse fit, probe choice,
    * PQ fit, codes, ADC, re-rank — is deterministic and replayed by the
    * oracle end to end. Recall differs from x262 only by the IVF miss
    * (a true neighbor whose cluster is not probed — x22's documented
    * approximation), which the ExtSpec probe-everything law removes.
    */
  def ivfPqTopK(spark: SparkSession, dir: String, m: Int = 8, kCode: Int = 16,
                topK: Int = 10, nQueries: Int = 3, poolK: Int = 50,
                nProbe: Int = 0): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val e = Tables.embeddings(spark, dir)
    val n = e.count()
    val (_, mod, defProbe) = ivfGeometry(n)
    val probe = if (nProbe > 0) nProbe else defProbe
    val qv = quantizedVecs(e)
    val coarse = centroidSums(qv, mod, ivfTrainMod(n))
    val member = assignClusters(qv, coarse) // (vec_id, cluster)
    val probed = qv.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("qid"), col("q"))
      .crossJoin(broadcast(coarse))
      .select(col("qid"), col("c_id"), intCos(col("q"), col("sv")).as("ccos"))
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("qid")).orderBy(col("ccos").desc, col("c_id"))))
      .filter(col("rk") <= probe)
      .select(col("qid"), col("c_id").as("cluster"))
    val (subv, cent, codes) = pqState(spark, dir, m, kCode)
    val lut = pqLut(subv, cent, nQueries)
    val cand = probed.join(member, "cluster").select("qid", "vec_id")
    val adc = cand.join(codes, "vec_id")
      .join(broadcast(lut), Seq("qid", "s", "code"))
      .groupBy("qid", "vec_id")
      .agg(sum(col("lut_e6")).as("adc_e6"))
    // sortPartial = false: the few-queries/many-candidates profile — the
    // heap partial holds <= poolK rows per qid (pool-sized state, no
    // partition buffer); sorting the ADC stream to keep a 50-row pool
    // would be the wrong trade (see TopKPerKey's discipline scaladoc)
    val pool = graft.plans.TopKPerKey.of(adc, "qid", "adc_e6", "vec_id", poolK, "prnk",
      sortPartial = false)
    exactRerank(e, pool, topK)
  }

  /** x262 oracle — the [[pqTopK]] fit, encode, LUT, and ADC rank
    * replayed in DuckDB list SQL: same e4 grid, same (s, c_id)-keyed
    * exact sum-vector Lloyd (init = every ⌊n/8⌋-th vector's subvectors,
    * two iterations), same pinned cosine with e6 floor, exact BIGINT
    * ADC sums, same (adc DESC, vec_id ASC) top-10.
    */
  val pqTopKOracle: String = {
    def dot(a: String, b: String): String =
      s"list_reduce(list_transform(range(1,9), t -> $a[t]*$b[t]), (x,y)->x+y)"
    def cos(q: String, s: String): String =
      s"(CAST(${dot(q, s)} AS DOUBLE) / (sqrt(CAST(${dot(q, q)} AS DOUBLE)) * sqrt(CAST(${dot(s, s)} AS DOUBLE))))"
    def fdot(u: String, v: String): String =
      s"list_sum(list_transform(range(1, len($u) + 1), i -> $u[i] * $v[i]))"
    def fcos(u: String, v: String): String =
      s"${fdot(u, v)} / (sqrt(${fdot(u, u)}) * sqrt(${fdot(v, v)}))"
    def assignCte(name: String, prevC: String): String =
      s"""$name AS (SELECT vec_id, s, c_id AS code FROM (
         |  SELECT sv0.vec_id, sv0.s, c.c_id,
         |         ROW_NUMBER() OVER (PARTITION BY sv0.vec_id, sv0.s
         |           ORDER BY ${cos("sv0.qs", "c.sv")} DESC, c.c_id) AS rk
         |  FROM subv sv0 JOIN $prevC c ON c.s = sv0.s) WHERE rk = 1)""".stripMargin
    def updateCte(name: String, prevA: String): String =
      s"""$name AS (
         |  SELECT s, code AS c_id, list(CAST(sm AS BIGINT) ORDER BY pos) AS sv
         |  FROM (SELECT a.s, a.code, p.i AS pos, SUM(sv0.qs[p.i]) AS sm
         |        FROM $prevA a JOIN subv sv0 ON sv0.vec_id = a.vec_id AND sv0.s = a.s,
         |             range(1, 9) p(i)
         |        GROUP BY 1, 2, 3)
         |  GROUP BY 1, 2)""".stripMargin
    s"""WITH nn AS (SELECT GREATEST(1, COUNT(*) // 16) AS seedmod FROM embeddings),
       |qv AS (SELECT vec_id,
       |         list_transform(embedding, v -> CAST(floor(CAST(v AS DOUBLE)*10000 + 0.5) AS BIGINT)) AS q
       |       FROM embeddings),
       |subv AS (SELECT vec_id, s.i - 1 AS s, q[((s.i-1)*8+1):((s.i-1)*8+8)] AS qs
       |         FROM qv, range(1, 9) s(i)),
       |c0 AS (SELECT s, vec_id AS c_id, qs AS sv FROM subv, nn WHERE vec_id % seedmod = 0),
       |${assignCte("a1", "c0")},
       |${updateCte("c1", "a1")},
       |${assignCte("a2", "c1")},
       |${updateCte("c2", "a2")},
       |${assignCte("codes", "c2")},
       |lut AS (SELECT sq.vec_id AS qid, sq.s, c.c_id AS code,
       |               CAST(floor(${cos("sq.qs", "c.sv")} * 1000000 + 0.5) AS BIGINT) AS lut_e6
       |        FROM subv sq JOIN c2 c ON c.s = sq.s WHERE sq.vec_id < 3),
       |adc AS (SELECT l.qid, cd.vec_id, CAST(SUM(l.lut_e6) AS BIGINT) AS adc_e6
       |        FROM codes cd JOIN lut l ON l.s = cd.s AND l.code = cd.code
       |        GROUP BY 1, 2),
       |pool AS (SELECT qid, vec_id, adc_e6 FROM (
       |  SELECT qid, vec_id, adc_e6,
       |         ROW_NUMBER() OVER (PARTITION BY qid
       |           ORDER BY adc_e6 DESC, vec_id) AS prnk
       |  FROM adc) WHERE prnk <= 50),
       |fv AS (SELECT vec_id, embedding::DOUBLE[] AS ev FROM embeddings),
       |rr AS (SELECT p.qid, p.vec_id, p.adc_e6,
       |              ${fcos("qe.ev", "ne.ev")} AS cos
       |       FROM pool p
       |       JOIN fv qe ON qe.vec_id = p.qid
       |       JOIN fv ne ON ne.vec_id = p.vec_id)
       |SELECT qid, vec_id, adc_e6, ROUND(cos, 4) AS cos, rnk FROM (
       |  SELECT qid, vec_id, adc_e6, cos,
       |         CAST(ROW_NUMBER() OVER (PARTITION BY qid
       |           ORDER BY cos DESC, vec_id) AS BIGINT) AS rnk
       |  FROM rr)
       |WHERE rnk <= 10 ORDER BY qid, rnk""".stripMargin
  }

  /** x220: Maximal-Marginal-Relevance diversified top-k (Carbonell &
    * Goldstein, SIGIR'98) — the retrieval-diversity re-rank a training-
    * data pipeline runs over its ANN shortlist so five near-identical
    * neighbors don't crowd out coverage: from each query's top-`pool`
    * exact-cosine candidates, greedily pick k maximizing
    * λ·rel(c) − (1−λ)·max_{s∈picked} sim(c, s). The greedy is
    * inherently sequential in k but the GROUPS are tiny and independent:
    * `flatMapGroups` over (query → ≤ pool candidates) runs each greedy
    * on ≤ pool² local cosines — a bounded typed group, the documented
    * legitimate mapGroups case (like q20) — while candidate generation
    * stays the x20 broadcast-scan + WindowGroupLimit shape. Determinism:
    * the in-group cosine replicates the CosineSimF kernel term for term
    * (ascending accumulation, dot/(√·√)), scores are pinned
    * 0.7·rel − 0.3·maxSim doubles, ties break on lowest n_id, and the
    * ORACLE replays the greedy as k unrolled selection CTEs — so the
    * sequential heuristic itself is hash-checked.
    */
  def mmrDiversify(spark: SparkSession, dir: String, nQueries: Int = 10,
                   pool: Int = 20, k: Int = 5, lam: Double = 0.7): DataFrame = {
    import spark.implicits._
    val e = Tables.embeddings(spark, dir).select(col("vec_id"), col("embedding"))
    val q = e.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("q_id"), col("embedding").as("qv"))
    val w = Window.partitionBy(col("q_id")).orderBy(col("rel").desc, col("n_id"))
    val cand = broadcast(q).crossJoin(e)
      .filter(col("q_id") =!= col("vec_id"))
      .select(col("q_id"), col("vec_id").as("n_id"),
        gf.cosine_sim(col("qv"), col("embedding")).as("rel"),
        col("embedding").as("nv"))
      .withColumn("rk", row_number().over(w)).filter(col("rk") <= pool)
      .select("q_id", "n_id", "rel", "nv")
    def cosF(a: Seq[Float], b: Seq[Float]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) {
        val x = a(i).toDouble; val y = b(i).toDouble
        dot += x * y; na += x * x; nb += y * y; i += 1
      }
      dot / (math.sqrt(na) * math.sqrt(nb))
    }
    cand.as[(Long, Long, Double, Seq[Float])]
      .groupByKey(_._1)
      .flatMapGroups { (qid, it) =>
        val cs = it.toArray
        val picked = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Double, Double)]
        val used = scala.collection.mutable.Set.empty[Long]
        var pick = 1
        while (pick <= k && used.size < cs.length) {
          val best = cs.iterator.filterNot(c => used(c._2)).map { c =>
            val maxSim =
              if (picked.isEmpty) 0.0
              else picked.iterator.map(p =>
                cosF(c._4, cs.find(_._2 == p._2).get._4)).max
            (c, lam * c._3 - (1 - lam) * maxSim)
          }.reduceLeft { (a, b) =>
            if (b._2 > a._2 || (b._2 == a._2 && b._1._2 < a._1._2)) b else a
          }
          picked += ((pick.toLong, best._1._2, best._1._3, best._2))
          used += best._1._2
          pick += 1
        }
        picked.iterator.map(p => (qid, p._1, p._2, p._3, p._4))
      }
      .toDF("q_id", "pick", "n_id", "rel", "score")
      // round with the SQL function, not driver math: Spark round ≡
      // DuckDB ROUND (the x20 precedent), while math.rint is half-even
      .select(col("q_id"), col("pick"), col("n_id"),
        round(col("rel"), 4).as("rel"), round(col("score"), 4).as("score"))
      .orderBy("q_id", "pick")
  }

  /** x220 twin — candidate pool via the x20 cosExpr machinery, then the
    * greedy unrolled: step t scores every unpicked candidate against the
    * accumulated selection (MAX pairwise cosine), picks the (score DESC,
    * n_id) argmax per query. ROUND ≡ rint on the emitted doubles.
    */
  val mmrOracle: String = {
    def dotF(u: String, v: String): String =
      s"list_sum(list_transform(range(1, len($u) + 1), i -> $u[i] * $v[i]))"
    def cosF(u: String, v: String): String =
      s"${dotF(u, v)} / (sqrt(${dotF(u, u)}) * sqrt(${dotF(v, v)}))"
    val steps = (2 to 5).map { t =>
      s"""p$t AS (
         |  SELECT q_id, n_id, rel, score, ${t}::BIGINT AS pick FROM (
         |    SELECT c.q_id, c.n_id, c.rel, 0.7 * c.rel - (1 - 0.7) * ms.m AS score,
         |           ROW_NUMBER() OVER (PARTITION BY c.q_id
         |             ORDER BY 0.7 * c.rel - (1 - 0.7) * ms.m DESC, c.n_id) AS rk2
         |    FROM cand c
         |    JOIN (SELECT c2.q_id, c2.n_id AS cn, MAX(${cosF("c2.nv", "cs.nv")}) AS m
         |          FROM cand c2
         |          JOIN sel${t - 1} s ON s.q_id = c2.q_id
         |          JOIN cand cs ON cs.q_id = s.q_id AND cs.n_id = s.n_id
         |          WHERE NOT EXISTS (SELECT 1 FROM sel${t - 1} x
         |                            WHERE x.q_id = c2.q_id AND x.n_id = c2.n_id)
         |          GROUP BY 1, 2) ms ON ms.q_id = c.q_id AND ms.cn = c.n_id)
         |  WHERE rk2 = 1),
         |sel$t AS (SELECT q_id, n_id FROM sel${t - 1}
         |          UNION ALL SELECT q_id, n_id FROM p$t)""".stripMargin
    }.mkString(",\n")
    s"""WITH q AS (SELECT vec_id AS q_id, embedding::DOUBLE[] AS qv
       |           FROM embeddings WHERE vec_id < 10),
       |c0 AS (SELECT vec_id AS n_id, embedding::DOUBLE[] AS nv FROM embeddings),
       |scored AS (SELECT q.q_id, c0.n_id, ${cosF("q.qv", "c0.nv")} AS rel, c0.nv
       |           FROM q, c0 WHERE q.q_id <> c0.n_id),
       |cand AS (SELECT q_id, n_id, rel, nv FROM (
       |  SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id
       |    ORDER BY rel DESC, n_id) AS rk FROM scored) WHERE rk <= 20),
       |p1 AS (SELECT q_id, n_id, rel, 0.7 * rel - (1 - 0.7) * 0.0 AS score,
       |              1::BIGINT AS pick
       |       FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id
       |               ORDER BY 0.7 * rel - (1 - 0.7) * 0.0 DESC, n_id) AS rk2
       |             FROM cand) WHERE rk2 = 1),
       |sel1 AS (SELECT q_id, n_id FROM p1),
       |$steps
       |SELECT q_id, pick, n_id, ROUND(rel, 4) AS rel, ROUND(score, 4) AS score
       |FROM (SELECT q_id, n_id, rel, score, pick FROM p1
       |      UNION ALL SELECT q_id, n_id, rel, score, pick FROM p2
       |      UNION ALL SELECT q_id, n_id, rel, score, pick FROM p3
       |      UNION ALL SELECT q_id, n_id, rel, score, pick FROM p4
       |      UNION ALL SELECT q_id, n_id, rel, score, pick FROM p5)
       |ORDER BY q_id, pick""".stripMargin
  }

  /** Shared x126/x22/x89 oracle machinery: the spherical-k-means fit
    * replayed in DuckDB — e4 quantization, seed init (vec_id % seedmod),
    * two Lloyd iterations over the vec_id % trainmod SAMPLE (the
    * [[ivfTrainMod]] bounded fit), full-corpus final assignment, exact
    * BIGINT sum-vector centroids, the
    * same (cos DESC, c_id ASC) argmax. Integer dots are list_reduce
    * folds (exact BIGINT ≡ Spark's long fold); the single floating step
    * per score is the pinned dot/(√·√) expression. `geo` derives nlist/
    * seedmod from COUNT(*) exactly as [[ivfGeometry]].
    */
  private def kmeansCtes: String = {
    def dot(a: String, b: String): String =
      s"list_reduce(list_transform(range(1,65), t -> $a[t]*$b[t]), (x,y)->x+y)"
    def cos(q: String, s: String): String =
      s"(CAST(${dot(q, s)} AS DOUBLE) / (sqrt(CAST(${dot(q, q)} AS DOUBLE)) * sqrt(CAST(${dot(s, s)} AS DOUBLE))))"
    def assignCte(name: String, prevC: String, src: String): String =
      s"""$name AS (SELECT vec_id, q, c_id AS cluster FROM (
         |  SELECT qv.vec_id, qv.q, c.c_id,
         |         ROW_NUMBER() OVER (PARTITION BY qv.vec_id
         |           ORDER BY ${cos("qv.q", "c.sv")} DESC, c.c_id) AS rk
         |  FROM $src qv CROSS JOIN $prevC c) WHERE rk = 1)""".stripMargin
    def updateCte(name: String, prevA: String): String =
      s"""$name AS (
         |  SELECT cluster AS c_id, list(CAST(sm AS BIGINT) ORDER BY pos) AS sv
         |  FROM (SELECT cluster, p.i AS pos, SUM(q[p.i]) AS sm
         |        FROM $prevA, range(1, 65) p(i) GROUP BY 1, 2)
         |  GROUP BY 1)""".stripMargin
    // trainmod mirrors ivfTrainMod: Lloyd trains on every trainmod-th
    // vector (tv), bounded ~16·nlist; the final af membership assigns
    // the FULL corpus — the x242 governor discipline (derived, not
    // hardcoded, in both engines)
    s"""WITH nn AS (SELECT COUNT(*) AS n FROM embeddings),
       |geo AS (SELECT n,
       |          GREATEST(1, n // $nlistSql)
       |            AS seedmod,
       |          GREATEST(1, n // (16 * $nlistSql))
       |            AS trainmod
       |        FROM nn),
       |qv AS (SELECT vec_id,
       |         list_transform(embedding, v -> CAST(floor(CAST(v AS DOUBLE)*10000 + 0.5) AS BIGINT)) AS q
       |       FROM embeddings),
       |tv AS (SELECT vec_id, q FROM qv, geo WHERE vec_id % trainmod = 0),
       |c0 AS (SELECT vec_id AS c_id, q AS sv FROM qv, geo WHERE vec_id % seedmod = 0),
       |${assignCte("a1", "c0", "tv")},
       |${updateCte("c1", "a1")},
       |${assignCte("a2", "c1", "tv")},
       |${updateCte("c2", "a2")},
       |${assignCte("af", "c2", "qv")}""".stripMargin
  }

  /** x126 twin — [[kmeansCtes]] + the report: per final cluster, member
    * count and trunc-division mean of the e4-floored member-to-centroid
    * cosines (the CASE emulates Spark's DIV truncation toward zero for
    * a hypothetical negative sum). Moves x126 rows-only → hash-matched.
    */
  val kmeansReportOracle: String = {
    def dot(a: String, b: String): String =
      s"list_reduce(list_transform(range(1,65), t -> $a[t]*$b[t]), (x,y)->x+y)"
    def cos(q: String, s: String): String =
      s"(CAST(${dot(q, s)} AS DOUBLE) / (sqrt(CAST(${dot(q, q)} AS DOUBLE)) * sqrt(CAST(${dot(s, s)} AS DOUBLE))))"
    kmeansCtes +
      s""",
         |coh AS (SELECT af.cluster,
         |          CAST(floor(${cos("af.q", "c2.sv")} * 10000 + 0.5) AS BIGINT) AS cos_e4
         |        FROM af JOIN c2 ON c2.c_id = af.cluster)
         |SELECT cluster, COUNT(*) AS n_members,
         |       CAST(CASE WHEN SUM(cos_e4) >= 0 THEN SUM(cos_e4) // COUNT(*)
         |                 ELSE -((-SUM(cos_e4)) // COUNT(*)) END AS BIGINT)
         |         AS mean_cohesion_e4
         |FROM coh GROUP BY 1 ORDER BY cluster""".stripMargin
  }

  /** x22 twin — [[kmeansCtes]] + the serving path: per query (vec_id <
    * 10) the top-`probe` clusters by the same integer-state centroid
    * score, then exact float-cosine ranking within the probed clusters
    * (the x20 cosExpr formula — list_sum ascending ≡ the CosineSimF
    * kernel). The r8 rows-only reason was the partition-order float-mean
    * centroids; with the r9 exact integer state the whole index is
    * deterministic, so the interior set is now hash-checked end to end.
    */
  val ivfTopKOracle: String = {
    def dot(a: String, b: String): String =
      s"list_reduce(list_transform(range(1,65), t -> $a[t]*$b[t]), (x,y)->x+y)"
    def cosI(q: String, s: String): String =
      s"(CAST(${dot(q, s)} AS DOUBLE) / (sqrt(CAST(${dot(q, q)} AS DOUBLE)) * sqrt(CAST(${dot(s, s)} AS DOUBLE))))"
    def dotF(u: String, v: String): String =
      s"list_sum(list_transform(range(1, len($u) + 1), i -> $u[i] * $v[i]))"
    def cosF(u: String, v: String): String =
      s"${dotF(u, v)} / (sqrt(${dotF(u, u)}) * sqrt(${dotF(v, v)}))"
    kmeansCtes +
      s""",
         |geo2 AS (SELECT GREATEST(2, CAST(ceil(sqrt(CAST(
         |           $nlistSql
         |           AS DOUBLE))) AS BIGINT)) AS probe
         |         FROM nn),
         |qp AS (SELECT q_id, cluster FROM (
         |  SELECT qv.vec_id AS q_id, c.c_id AS cluster,
         |         ROW_NUMBER() OVER (PARTITION BY qv.vec_id
         |           ORDER BY ${cosI("qv.q", "c.sv")} DESC, c.c_id) AS rk
         |  FROM qv CROSS JOIN c2 c WHERE qv.vec_id < 10), geo2
         |  WHERE rk <= probe),
         |cand AS (SELECT af.vec_id AS n_id, af.cluster, e.embedding::DOUBLE[] AS nv
         |         FROM af JOIN embeddings e ON e.vec_id = af.vec_id),
         |scored AS (
         |  SELECT qp.q_id, cand.n_id, ${cosF("qe.qv", "cand.nv")} AS cos
         |  FROM qp
         |  JOIN (SELECT vec_id, embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id < 10) qe
         |    ON qe.vec_id = qp.q_id
         |  JOIN cand ON cand.cluster = qp.cluster
         |  WHERE cand.n_id <> qp.q_id),
         |r AS (SELECT q_id, n_id, cos,
         |        ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id) AS rank
         |      FROM scored)
         |SELECT q_id, n_id, ROUND(cos, 4) AS cos, CAST(rank AS BIGINT) AS rank
         |FROM r WHERE rank <= 5 ORDER BY q_id, rank""".stripMargin
  }

  /** x266 oracle — [[kmeansCtes]] (the coarse 64-dim fit, ending in the
    * af membership and c2 centroids) + the x22 probe derivation + the
    * x262 PQ fit/encode/LUT renamed p* + candidate restriction to the
    * probed clusters + ADC + exact re-rank. The COMPOSED index replayed
    * end to end.
    */
  val ivfPqOracle: String = {
    def dot8(a: String, b: String): String =
      s"list_reduce(list_transform(range(1,9), t -> $a[t]*$b[t]), (x,y)->x+y)"
    def cos8(q: String, s: String): String =
      s"(CAST(${dot8(q, s)} AS DOUBLE) / (sqrt(CAST(${dot8(q, q)} AS DOUBLE)) * sqrt(CAST(${dot8(s, s)} AS DOUBLE))))"
    def dot64(a: String, b: String): String =
      s"list_reduce(list_transform(range(1,65), t -> $a[t]*$b[t]), (x,y)->x+y)"
    def cos64(q: String, s: String): String =
      s"(CAST(${dot64(q, s)} AS DOUBLE) / (sqrt(CAST(${dot64(q, q)} AS DOUBLE)) * sqrt(CAST(${dot64(s, s)} AS DOUBLE))))"
    def dotF(u: String, v: String): String =
      s"list_sum(list_transform(range(1, len($u) + 1), i -> $u[i] * $v[i]))"
    def cosF(u: String, v: String): String =
      s"${dotF(u, v)} / (sqrt(${dotF(u, u)}) * sqrt(${dotF(v, v)}))"
    def passign(name: String, prevC: String): String =
      s"""$name AS (SELECT vec_id, s, c_id AS code FROM (
         |  SELECT sv0.vec_id, sv0.s, c.c_id,
         |         ROW_NUMBER() OVER (PARTITION BY sv0.vec_id, sv0.s
         |           ORDER BY ${cos8("sv0.qs", "c.sv")} DESC, c.c_id) AS rk
         |  FROM subv sv0 JOIN $prevC c ON c.s = sv0.s) WHERE rk = 1)""".stripMargin
    def pupdate(name: String, prevA: String): String =
      s"""$name AS (
         |  SELECT s, code AS c_id, list(CAST(sm AS BIGINT) ORDER BY pos) AS sv
         |  FROM (SELECT a.s, a.code, p.i AS pos, SUM(sv0.qs[p.i]) AS sm
         |        FROM $prevA a JOIN subv sv0 ON sv0.vec_id = a.vec_id AND sv0.s = a.s,
         |             range(1, 9) p(i)
         |        GROUP BY 1, 2, 3)
         |  GROUP BY 1, 2)""".stripMargin
    kmeansCtes +
      s""",
         |geo2 AS (SELECT GREATEST(2, CAST(ceil(sqrt(CAST(
         |           $nlistSql
         |           AS DOUBLE))) AS BIGINT)) AS probe
         |         FROM nn),
         |qp AS (SELECT qid, cluster FROM (
         |  SELECT qv.vec_id AS qid, c.c_id AS cluster,
         |         ROW_NUMBER() OVER (PARTITION BY qv.vec_id
         |           ORDER BY ${cos64("qv.q", "c.sv")} DESC, c.c_id) AS rk
         |  FROM qv CROSS JOIN c2 c WHERE qv.vec_id < 3), geo2
         |  WHERE rk <= probe),
         |pnn AS (SELECT GREATEST(1, COUNT(*) // 16) AS seedmod FROM embeddings),
         |subv AS (SELECT vec_id, s.i - 1 AS s, q[((s.i-1)*8+1):((s.i-1)*8+8)] AS qs
         |         FROM qv, range(1, 9) s(i)),
         |pc0 AS (SELECT s, vec_id AS c_id, qs AS sv FROM subv, pnn WHERE vec_id % seedmod = 0),
         |${passign("pa1", "pc0")},
         |${pupdate("pc1", "pa1")},
         |${passign("pa2", "pc1")},
         |${pupdate("pc2", "pa2")},
         |${passign("pcodes", "pc2")},
         |lut AS (SELECT sq.vec_id AS qid, sq.s, c.c_id AS code,
         |               CAST(floor(${cos8("sq.qs", "c.sv")} * 1000000 + 0.5) AS BIGINT) AS lut_e6
         |        FROM subv sq JOIN pc2 c ON c.s = sq.s WHERE sq.vec_id < 3),
         |candi AS (SELECT qp.qid, af.vec_id FROM qp JOIN af ON af.cluster = qp.cluster),
         |adc AS (SELECT ca.qid, ca.vec_id, CAST(SUM(l.lut_e6) AS BIGINT) AS adc_e6
         |        FROM candi ca JOIN pcodes cd ON cd.vec_id = ca.vec_id
         |        JOIN lut l ON l.qid = ca.qid AND l.s = cd.s AND l.code = cd.code
         |        GROUP BY 1, 2),
         |pool AS (SELECT qid, vec_id, adc_e6 FROM (
         |  SELECT qid, vec_id, adc_e6,
         |         ROW_NUMBER() OVER (PARTITION BY qid
         |           ORDER BY adc_e6 DESC, vec_id) AS prnk
         |  FROM adc) WHERE prnk <= 50),
         |fvv AS (SELECT vec_id, embedding::DOUBLE[] AS ev FROM embeddings),
         |rr AS (SELECT p.qid, p.vec_id, p.adc_e6,
         |              ${cosF("qe.ev", "ne.ev")} AS cos
         |       FROM pool p
         |       JOIN fvv qe ON qe.vec_id = p.qid
         |       JOIN fvv ne ON ne.vec_id = p.vec_id)
         |SELECT qid, vec_id, adc_e6, ROUND(cos, 4) AS cos, rnk FROM (
         |  SELECT qid, vec_id, adc_e6, cos,
         |         CAST(ROW_NUMBER() OVER (PARTITION BY qid
         |           ORDER BY cos DESC, vec_id) AS BIGINT) AS rnk
         |  FROM rr)
         |WHERE rnk <= 10 ORDER BY qid, rnk""".stripMargin
  }

  /** x89 twin — [[kmeansCtes]] + SemDeDup's candidate structure: TOP-2
    * cluster memberships by the integer-state score, within-cluster pairs
    * thresholded on the e4-rounded exact float cosine, survivors = the
    * single-assignment frame minus the higher-id losers. Deterministic
    * for the same reason as x22.
    */
  val semanticDedupOracle: String = {
    def dot(a: String, b: String): String =
      s"list_reduce(list_transform(range(1,65), t -> $a[t]*$b[t]), (x,y)->x+y)"
    def cosI(q: String, s: String): String =
      s"(CAST(${dot(q, s)} AS DOUBLE) / (sqrt(CAST(${dot(q, q)} AS DOUBLE)) * sqrt(CAST(${dot(s, s)} AS DOUBLE))))"
    def dotF(u: String, v: String): String =
      s"list_sum(list_transform(range(1, len($u) + 1), i -> $u[i] * $v[i]))"
    def cosF(u: String, v: String): String =
      s"${dotF(u, v)} / (sqrt(${dotF(u, u)}) * sqrt(${dotF(v, v)}))"
    kmeansCtes +
      s""",
         |t2 AS (SELECT vec_id, cluster FROM (
         |  SELECT qv.vec_id, c.c_id AS cluster,
         |         ROW_NUMBER() OVER (PARTITION BY qv.vec_id
         |           ORDER BY ${cosI("qv.q", "c.sv")} DESC, c.c_id) AS rk
         |  FROM qv CROSS JOIN c2 c) WHERE rk <= 2),
         |mem AS (SELECT t2.vec_id, t2.cluster, e.embedding::DOUBLE[] AS v
         |        FROM t2 JOIN embeddings e USING (vec_id)),
         |losers AS (SELECT DISTINCT b.vec_id AS vec_id
         |           FROM mem a JOIN mem b
         |             ON a.cluster = b.cluster AND a.vec_id < b.vec_id
         |           WHERE ROUND(${cosF("a.v", "b.v")}, 4) >= 0.4)
         |SELECT af.vec_id, af.cluster FROM af
         |WHERE af.vec_id NOT IN (SELECT vec_id FROM losers)
         |ORDER BY af.vec_id""".stripMargin
  }

  /** IVF-style ANN: assign every vector to its nearest centroid (√n-sized
    * centroid table broadcast), then search only within the query's
    * cluster — the candidate set shrinks to ~nProbe·√n per query, and the
    * cluster-keyed join co-partitions both sides. Geometry (nlist, seed
    * modulus, default nProbe) derives from the corpus count via
    * [[ivfGeometry]]; pass nProbe > 0 to pin the recall/cost dial.
    * Approximate: recall vs bruteForceTopK is asserted in tests, not
    * oracle-checked.
    */
  def ivfTopK(spark: SparkSession, dir: String,
              nQueries: Int = 10, k: Int = 5, nProbe: Int = 0): DataFrame = {
    val e = Tables.embeddings(spark, dir)
    val n = e.count()
    val (_, seedMod, derivedProbe) = ivfGeometry(n)
    val probe = if (nProbe > 0) nProbe else derivedProbe
    val qv = quantizedVecs(e)
    val cent = graft.Layer.cached(spark, dir, "ivfCentroids")(
      centroidSums(qv, seedMod, ivfTrainMod(n)))
    // candidates live in exactly one cluster: aggregate argmax (map-side
    // partials, n key-rows shuffled — see assignClusters), then ONE n-row
    // join re-attaches the embedding payload
    val c = e.join(assignClusters(qv, cent), "vec_id")
      .select(col("vec_id").as("n_id"), col("embedding").as("nv"), col("cluster"))
    // queries probe their nProbe nearest clusters (the standard IVF
    // recall/cost dial): same aggregate shape — score against the
    // broadcast centroids, drop payloads, keep the top-probe cluster ids
    // per query via slice(array_sort(collect_list)). Sorting ascending by
    // (-ccos, c_id) matches the window ordering (ccos desc, c_id asc);
    // the collected array is nlist ≈ √n structs of two scalars per query,
    // and only nQueries·probe key rows survive.
    val qf = e.filter(col("vec_id") < nQueries)
    val qProbes = qv.filter(col("vec_id") < nQueries).crossJoin(broadcast(cent))
      .select(col("vec_id").as("q_id"), col("c_id"),
        intCos(col("q"), col("sv")).as("ccos"))
      .groupBy("q_id")
      .agg(slice(array_sort(collect_list(struct(negate(col("ccos")).as("nc"), col("c_id")))),
        1, probe).as("top"))
      .select(col("q_id"), explode(col("top.c_id")).as("cluster"))
    val q = qf.select(col("vec_id").as("q_id"), col("embedding").as("qv"))
      .join(qProbes, "q_id")
    val w = Window.partitionBy(col("q_id")).orderBy(col("cos").desc, col("n_id"))
    q.join(c, "cluster")
      .filter(col("q_id") =!= col("n_id"))
      .withColumn("cos", gf.cosine_sim(col("qv"), col("nv")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("n_id"), round(col("cos"), 4).as("cos"),
        col("rank").cast("long").as("rank"))
      .orderBy("q_id", "rank")
  }

  /** Top-p cluster assignment — the multi-assignment variant of
    * [[assignClusters]] (same payload-free aggregate shape, the qProbes
    * pattern from [[ivfTopK]]): each vector lands in its p nearest
    * clusters. Used by [[semanticDedup]] for candidate generation, where
    * single assignment would miss pairs straddling a Voronoi boundary.
    */
  private[graft] def assignTopClusters(qv: DataFrame, cent: DataFrame, p: Int): DataFrame = {
    // same hoisted-norm trick as assignClusters (bit-identical scores)
    val qn = qv.select(col("vec_id"), col("q"),
      sqrt(dotLL(col("q"), col("q")).cast("double")).as("qnorm"))
    val cn = cent.select(col("c_id"), col("sv"),
      sqrt(dotLL(col("sv"), col("sv")).cast("double")).as("cnorm"))
    qn.crossJoin(broadcast(cn))
      .select(col("vec_id"), col("c_id"),
        (dotLL(col("q"), col("sv")).cast("double") /
          (col("qnorm") * col("cnorm"))).as("ccos"))
      .groupBy("vec_id")
      .agg(slice(array_sort(collect_list(struct(negate(col("ccos")).as("nc"), col("c_id")))),
        1, p).as("top"))
      .select(col("vec_id"), explode(col("top.c_id")).as("cluster"))
  }

  /** SemDeDup-style semantic deduplication: k-means clusters prune the
    * pair space, then cosine near-duplicates are removed within shared
    * clusters only (drop the higher vec_id of every ≥ minCos pair — the
    * cleanCorpus convention). Reuses the IVF machinery end-to-end: the
    * same cached centroids and the same payload-free aggregate
    * assignment, with TOP-2 multi-assignment ([[assignTopClusters]]) so
    * pairs straddling a Voronoi boundary still meet in a cluster — the
    * standard recall fix clustered dedup ships with.
    *
    * Scale shape: the cluster-keyed self-join co-partitions both sides and
    * each cluster holds ~2√n members, so the candidate space is
    * Σ cluster² ≈ 4·n^1.5 — never the n² crossJoin — and shrinks further
    * with nlist at corpus scale (SemDeDup's published config: 50k clusters
    * over 5B embeddings). Approximate by design: pairs sharing none of
    * their 2 clusters are invisible (the recall/cost trade); ExtSpec
    * asserts precision == 1 and recall ≥ 0.5 vs [[Dedup.exactNearDup]].
    */
  def semanticDedup(spark: SparkSession, dir: String, minCos: Double = 0.4): DataFrame = {
    val e = Tables.embeddings(spark, dir)
    val n = e.count()
    val (_, seedMod, _) = ivfGeometry(n)
    val qv = quantizedVecs(e)
    val cent = graft.Layer.cached(spark, dir, "ivfCentroids")(
      centroidSums(qv, seedMod, ivfTrainMod(n)))
    val member = e.join(assignTopClusters(qv, cent, 2), "vec_id")
    val a = member.select(col("cluster"), col("vec_id").as("a"), col("embedding").as("va"))
    val b = member.select(col("cluster"), col("vec_id").as("b"), col("embedding").as("vb"))
    // round before the threshold compare so the boundary matches the
    // exactNearDup baseline (and any future oracle) digit-for-digit;
    // distinct collapses pairs meeting in both shared clusters
    val losers = a.join(b, "cluster")
      .filter(col("a") < col("b") &&
        round(gf.cosine_sim(col("va"), col("vb")), 4) >= minCos)
      .select(col("b").as("vec_id")).distinct()
    e.join(assignClusters(qv, cent), "vec_id")
      .select(col("vec_id"), col("cluster"))
      .join(losers, Seq("vec_id"), "left_anti")
      .orderBy("vec_id")
  }

  /** Per-label embedding centroids as FIXED-POINT sums: each float becomes
    * floor(x·10⁶ + 0.5) — identical IEEE double arithmetic on both
    * engines, no rounding-mode divergence — and the per-(label, dim)
    * BIGINT sums are exact and order-independent, so the result is
    * hash-stable under any partitioning (float sums are not). The caller
    * derives centroid = sum_scaled / (10⁶ · n).
    *
    * Scale shape: posexplode fans each vector into (label, dim) terms that
    * partial-aggregate map-side; only |labels|·dim rows cross the shuffle.
    * This is the reducer used for IVF retraining at corpus scale.
    */
  def labelCentroids(spark: SparkSession, dir: String): DataFrame =
    Tables.embeddings(spark, dir)
      .select(col("label").cast("long").as("label"),
        posexplode(col("embedding")))
      .select(col("label"), col("pos").cast("long").as("dim_i"),
        floor(col("col").cast("double") * 1000000d + 0.5d).cast("long").as("q"))
      .groupBy("label", "dim_i")
      .agg(count(lit(1)).as("n"), sum(col("q")).as("sum_scaled"))
      .orderBy("label", "dim_i")

  /** Int8 embedding quantization — the storage-compression step of a
    * vector pipeline (4 bytes → 1 byte per dim): per-vector max-abs scale,
    * each element mapped to floor(x/scale·127 + 0.5) ∈ [-127, 127]. All
    * arithmetic is identical IEEE double ops on both engines (floor, not
    * a rounding mode), the scale ships as an exact micro-units BIGINT and
    * the codes as a content hash, so the query is hash-checked despite
    * float inputs. Pure per-row projection — no shuffle.
    */
  def int8Quantize(spark: SparkSession, dir: String): DataFrame = {
    val mx = array_max(transform(col("embedding"), v => abs(v.cast("double"))))
    Tables.embeddings(spark, dir)
      .withColumn("mx", mx)
      .select(col("vec_id"),
        floor(col("mx") * 1000000d + 0.5d).cast("long").as("scale_micro"),
        md5(concat_ws(" ", transform(col("embedding"),
          v => when(col("mx") === 0d, lit(0L))
            .otherwise(floor(v.cast("double") / col("mx") * 127d + 0.5d).cast("long"))
            .cast("string")))).as("q_hash"))
      .orderBy("vec_id")
  }

  /** L2 normalization — the standard preprocessing step before cosine /
    * dot-product ANN (unit vectors make the two equivalent). Pure per-row
    * projection, no shuffle. Hash-checked despite float inputs via the
    * fixed-point discipline of [[labelCentroids]]/[[int8Quantize]]: the
    * squared norm accumulates as an EXACT BIGINT sum of micro-unit squares
    * (a double fold would be association-order-sensitive at the last ulp
    * and could flip a floor boundary between engines), so sqrt and the
    * per-component division see bit-identical inputs on both sides. The
    * norm ships in micro-units; the unit vector as a content hash of
    * floor(v/‖v‖·10⁶ + 0.5).
    */
  def l2Normalize(spark: SparkSession, dir: String): DataFrame = {
    val q = (v: Column) => floor(v.cast("double") * 1000000d + 0.5d).cast("long")
    val ss = aggregate(col("embedding"), lit(0L), (acc, v) => acc + q(v) * q(v))
    Tables.embeddings(spark, dir)
      .withColumn("nrm", sqrt(ss.cast("double")) / 1000000d)
      .select(col("vec_id"),
        floor(col("nrm") * 1000000d + 0.5d).cast("long").as("norm_micro"),
        md5(concat_ws(" ", transform(col("embedding"),
          v => when(col("nrm") === 0d, lit(0L))
            .otherwise(floor(v.cast("double") / col("nrm") * 1000000d + 0.5d).cast("long"))
            .cast("string")))).as("unit_hash"))
      .orderBy("vec_id")
  }

  val l2NormalizeOracle: String =
    """WITH s AS (
      |  SELECT vec_id, embedding,
      |         sqrt(CAST(list_sum(list_transform(embedding,
      |                x -> CAST(floor(CAST(x AS DOUBLE)*1000000 + 0.5) AS BIGINT)
      |                   * CAST(floor(CAST(x AS DOUBLE)*1000000 + 0.5) AS BIGINT)))
      |              AS DOUBLE)) / 1000000 AS nrm
      |  FROM embeddings)
      |SELECT vec_id,
      |       CAST(floor(nrm*1000000 + 0.5) AS BIGINT) AS norm_micro,
      |       md5(array_to_string(list_transform(embedding,
      |           x -> CAST(CASE WHEN nrm = 0 THEN 0
      |                          ELSE floor(CAST(x AS DOUBLE)/nrm*1000000 + 0.5) END AS BIGINT)), ' ')) AS unit_hash
      |FROM s ORDER BY vec_id""".stripMargin

  /** Random sign projection — the dimensionality-reduction step ahead of
    * ANN / clustering (Achlioptas-style ±1 projections preserve cosine up
    * to Johnson–Lindenstrauss distortion). The projection matrix derives
    * DETERMINISTICALLY from md5(i:j) parity — no stored matrix, both
    * engines rebuild it bit-identically — and all arithmetic is exact:
    * micro-quantized BIGINT inputs times ±1 signs, so the projected
    * vectors hash-match across engines despite float inputs.
    *
    * Scale shape: the matrix is dim×outDims rows (a constant of the
    * operator — broadcast-safe at any corpus size, like the x90 weight
    * table); the fan-out join runs inside codegen and partial aggregation
    * collapses it to n·outDims key rows before the one exchange. The
    * reassembled row is outDims BIGINTs — 4× smaller than the input even
    * before int8 quantization (x79) stacks on top.
    */
  def signProjection(spark: SparkSession, dir: String, outDims: Int = 16): DataFrame = {
    val e = Tables.embeddings(spark, dir)
    val dim = e.select(size(col("embedding"))).first().getInt(0)
    val m = spark.range(dim).select(col("id").as("i"))
      .crossJoin(spark.range(outDims).select(col("id").as("j")))
      .select(col("i"), col("j"),
        when(conv(substring(md5(concat(col("i").cast("string"), lit(":"),
          col("j").cast("string"))), 1, 8), 16, 10).cast("long") % 2 === 0,
          lit(1L)).otherwise(lit(-1L)).as("s"))
    val q = e.select(col("vec_id"), posexplode(col("embedding")))
      .select(col("vec_id"), col("pos").cast("long").as("i"),
        floor(col("col").cast("double") * 1000000d + 0.5d).cast("long").as("qv"))
    q.join(broadcast(m), "i")
      .groupBy("vec_id", "j")
      .agg(sum(col("qv") * col("s")).as("pv"))
      .groupBy("vec_id")
      .agg(md5(array_join(transform(array_sort(collect_list(struct(col("j"), col("pv")))),
        p => p.getField("pv").cast("string")), " ")).as("proj_hash"))
      .orderBy("vec_id")
  }

  val signProjectionOracle: String =
    """WITH m AS (
      |  SELECT d.i, o.j,
      |         CASE WHEN (('0x' || substr(md5(d.i || ':' || o.j), 1, 8))::BIGINT % 2) = 0
      |              THEN 1 ELSE -1 END AS s
      |  FROM (SELECT UNNEST(range(0, (SELECT len(embedding) FROM embeddings LIMIT 1))) AS i) d,
      |       (SELECT UNNEST(range(0, 16)) AS j) o),
      |q AS (
      |  SELECT vec_id, t.i - 1 AS i,
      |         CAST(floor(CAST(embedding[t.i] AS DOUBLE) * 1000000 + 0.5) AS BIGINT) AS qv
      |  FROM embeddings CROSS JOIN UNNEST(range(1, len(embedding) + 1)) t(i)),
      |p AS (
      |  SELECT vec_id, j, SUM(qv * s) AS pv
      |  FROM q JOIN m USING (i) GROUP BY 1, 2)
      |SELECT vec_id, md5(string_agg(pv::VARCHAR, ' ' ORDER BY j)) AS proj_hash
      |FROM p GROUP BY vec_id ORDER BY vec_id""".stripMargin

  /** Cosine-similarity histogram over a deterministic pair sample — the
    * calibration curve for picking near-dup / ANN thresholds (where does
    * the corpus's similarity mass sit?). Pairs are (i, (i+s) mod n) for a
    * few fixed strides: 3n pairs, content-independent, reproducible, and
    * mirrorable in SQL. All similarity arithmetic derives from EXACT
    * micro-quantized BIGINT dot products and norms (the x84 discipline),
    * so the double cosine — and therefore every bin — is bit-identical
    * across engines. Scale shape: 3 stride-joins on vec_id (AQE-governed),
    * then a 20-row histogram aggregate with map-side partials.
    */
  def cosHistogram(spark: SparkSession, dir: String,
                   strides: Seq[Int] = Seq(1, 7, 41)): DataFrame = {
    val e = Tables.embeddings(spark, dir)
    val n = e.count()
    val quant = e.select(col("vec_id"),
      transform(col("embedding"),
        v => floor(v.cast("double") * 1000000d + 0.5d).cast("long")).as("q"))
    val right = quant.select(col("vec_id").as("b_id"), col("q").as("qb"))
    val pairs = strides.map { s =>
      quant.select(col("vec_id").as("a_id"), col("q").as("qa"),
        ((col("vec_id") + s) % n).as("b_id"))
    }.reduce(_ unionByName _)
    def ssum(c: Column): Column = aggregate(c, lit(0L), (acc, x) => acc + x)
    val dot = ssum(zip_with(col("qa"), col("qb"), (x, y) => x * y))
    val na = ssum(transform(col("qa"), x => x * x))
    val nb = ssum(transform(col("qb"), x => x * x))
    pairs.join(right, "b_id")
      .select(when(na === 0L || nb === 0L, lit(0.0d))
        .otherwise(dot.cast("double") /
          (sqrt(na.cast("double")) * sqrt(nb.cast("double")))).as("cos"))
      .select(least(greatest(floor((col("cos") + 1d) * 10d), lit(0d)), lit(19d))
        .cast("long").as("bin"))
      .groupBy("bin").agg(count(lit(1)).as("n_pairs"))
      .orderBy("bin")
  }

  val cosHistogramOracle: String =
    """WITH cnt AS (SELECT COUNT(*) AS n FROM embeddings),
      |q AS (SELECT vec_id, list_transform(embedding,
      |        x -> CAST(floor(CAST(x AS DOUBLE)*1000000 + 0.5) AS BIGINT)) AS q
      |      FROM embeddings),
      |p AS (
      |  SELECT a.q AS qa, b.q AS qb
      |  FROM q a
      |  CROSS JOIN cnt
      |  CROSS JOIN (SELECT UNNEST([1, 7, 41]) AS s) s
      |  JOIN q b ON b.vec_id = (a.vec_id + s.s) % cnt.n),
      |d AS (
      |  SELECT
      |    CAST(list_sum(list_transform(range(1, len(qa)+1), i -> qa[i]*qb[i])) AS DOUBLE) AS dot,
      |    CAST(list_sum(list_transform(qa, x -> x*x)) AS DOUBLE) AS na,
      |    CAST(list_sum(list_transform(qb, x -> x*x)) AS DOUBLE) AS nb
      |  FROM p),
      |c AS (
      |  SELECT CASE WHEN na = 0 OR nb = 0 THEN 0.0
      |              ELSE dot / (sqrt(na) * sqrt(nb)) END AS cos
      |  FROM d)
      |SELECT CAST(least(greatest(floor((cos + 1) * 10), 0), 19) AS BIGINT) AS bin,
      |       COUNT(*) AS n_pairs
      |FROM c GROUP BY 1 ORDER BY bin""".stripMargin

  val quantizeOracle: String =
    """WITH s AS (
      |  SELECT vec_id, embedding,
      |         list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS mx
      |  FROM embeddings)
      |SELECT vec_id,
      |       CAST(floor(mx*1000000 + 0.5) AS BIGINT) AS scale_micro,
      |       md5(array_to_string(list_transform(embedding,
      |           x -> CAST(CASE WHEN mx = 0 THEN 0
      |                          ELSE floor(CAST(x AS DOUBLE)/mx*127 + 0.5) END AS BIGINT)), ' ')) AS q_hash
      |FROM s ORDER BY vec_id""".stripMargin

  val centroidOracle: String =
    """SELECT CAST(label AS BIGINT) AS label, t.i - 1 AS dim_i, COUNT(*) AS n,
      |       CAST(SUM(CAST(floor(CAST(embedding[t.i] AS DOUBLE)*1000000 + 0.5) AS BIGINT)) AS BIGINT) AS sum_scaled
      |FROM embeddings CROSS JOIN UNNEST(range(1, len(embedding)+1)) AS t(i)
      |GROUP BY label, t.i ORDER BY label, dim_i""".stripMargin

  /** The corpus's exact first+second moment sums in ONE pass: each task
    * accumulates its rows' e4-quantized d linear terms (j = -1) and
    * d(d+1)/2 upper-triangle products into packed primitive long arrays
    * (no self-join, no row explosion — the shuffle carries only the
    * d(d+3)/2 ≈ 2 144 (i, j) partial sums per task regardless of n).
    * Persisted via [[graft.Layer]]: the frame is re-read for linear and
    * pair slices (and by the x149 eigen solve) and must not recompute the
    * corpus Gram pass. Assumes non-null embedding ELEMENTS (the table
    * contract; a fully-null embedding row is skipped, matching the old
    * inline-over-null behavior).
    */
  private[graft] def momentSums(spark: SparkSession, dir: String): DataFrame =
    graft.Layer.cached(spark, dir, "momentSums") {
      import spark.implicits._
      // The embeddings parquet is ONE split at the gate SFs, so the corpus
      // Gram pass ran as a single straggler task — and, first-touched
      // under covarianceMatrix's broadcast(lin) future, as a
      // single-threaded convoy inside the broadcast build (measured r16
      // session 3: one 2.1–8.1 s task with 31 cores idle under
      // x148/x149/x216). Hash-spread by vec_id (docsSpread posture),
      // SKIPPED when the scan already splits at least that wide, so at
      // fleet scale no extra exchange appears.
      val e = Tables.embeddings(spark, dir)
        .select(col("vec_id"), transform(col("embedding"),
          v => floor(v.cast("double") * 10000d + 0.5d).cast("long")).as("q"))
      val n = graft.Sizing.spread(spark, s"$dir/embeddings.parquet", 32L << 10)
      val spread = if (n <= 1) e else e.repartition(n, col("vec_id"))
      // Per-partition primitive-array kernel (the ridgeMoments posture)
      // instead of exploding d(d+3)/2 structs per row through a hash
      // aggregate: each task accumulates the d linear sums (j = -1) and
      // the d(d+1)/2 upper-triangle product sums in packed long arrays,
      // emitting one partial row per (i, j). BIGINT adds are associative
      // and commutative, so the final groupBy over partials is
      // bit-identical to the old explode+groupBy formulation — same
      // column types, same values, any partitioning. Triangle layout is
      // column-major (idx = j(j+1)/2 + i), prefix-stable under a ragged
      // row growing d, so growth is a plain copyOf. cnt(i, -1) counts
      // rows with length > i and cnt(i, j) rows with length > j, exactly
      // the groups the old inline(terms) emitted.
      val partials = spread.select(col("q")).rdd.mapPartitions { it =>
        var d = 0
        var lin = new Array[Long](0)
        var acc = new Array[Long](0)
        var lenCnt = new Array[Long](1) // lenCnt(L) = rows with length L
        while (it.hasNext) {
          val s = it.next().getSeq[Long](0)
          if (s != null) {
            val m = s.length
            if (m > d) {
              lin = java.util.Arrays.copyOf(lin, m)
              acc = java.util.Arrays.copyOf(acc, m * (m + 1) / 2)
              d = m
            }
            if (m >= lenCnt.length)
              lenCnt = java.util.Arrays.copyOf(lenCnt, m + 1)
            lenCnt(m) += 1
            val x = new Array[Long](m)
            var i = 0
            while (i < m) { x(i) = s(i); i += 1 }
            var j = 0
            while (j < m) {
              val xj = x(j)
              lin(j) += xj
              val base = j * (j + 1) / 2
              var i2 = 0
              while (i2 <= j) { acc(base + i2) += x(i2) * xj; i2 += 1 }
              j += 1
            }
          }
        }
        // suffix counts: atLeast(m) = rows with length >= m
        val atLeast = new Array[Long](d + 2)
        var l = math.min(d, lenCnt.length - 1)
        while (l >= 1) {
          atLeast(l) = atLeast(l + 1) +
            (if (l < lenCnt.length) lenCnt(l) else 0L)
          l -= 1
        }
        val out = Seq.newBuilder[(Int, Int, Long, Long)]
        var i = 0
        while (i < d) {
          if (atLeast(i + 1) > 0) out += ((i, -1, lin(i), atLeast(i + 1)))
          i += 1
        }
        var j = 0
        while (j < d) {
          val c = atLeast(j + 1)
          if (c > 0) {
            val base = j * (j + 1) / 2
            var i2 = 0
            while (i2 <= j) { out += ((i2, j, acc(base + i2), c)); i2 += 1 }
          }
          j += 1
        }
        out.result().iterator
      }
      partials.toDF("i", "j", "p", "c")
        .groupBy(col("i"), col("j"))
        .agg(sum(col("p")).as("s"), sum(col("c")).as("cnt"))
    }

  /** x148: distributed covariance matrix of the embedding corpus — the
    * d×d second-moment structure PCA / whitening / Mahalanobis gating
    * needs, computed the only way that survives 100 TB: the single
    * [[momentSums]] pass (never a centered second pass, never an n×n or
    * n·d² shuffle). The covariance numerator n·Sᵢⱼ − sᵢ·sⱼ is exact
    * integer arithmetic — BIGINT sums are safe to n ≈ 9·10¹⁰ rows at e4
    * quantization of unit-scale values, and the n-times-sum product is
    * widened to DECIMAL(38,0) because IT is what outgrows BIGINT first
    * (n² scaling, ~10²⁶ at n = 10⁹). The only floating step is one
    * pinned-order division by n²·10⁸, bit-identical in the DuckDB twin.
    * The d-row linear frame joins back broadcast; output is the 2 080-row
    * upper triangle.
    */
  def covarianceMatrix(spark: SparkSession, dir: String): DataFrame = {
    val sums = momentSums(spark, dir)
    val lin = sums.filter(col("j") === -1).select(col("i").as("k"), col("s").as("ls"))
    val dec: Column => Column = _.cast("decimal(38,0)")
    sums.filter(col("j") >= 0)
      .join(broadcast(lin), col("i") === col("k"))
      .withColumn("si", col("ls")).drop("k", "ls")
      .join(broadcast(lin), col("j") === col("k"))
      .withColumn("sj", col("ls")).drop("k", "ls")
      .select(col("i").cast("long").as("i"), col("j").cast("long").as("j"),
        col("cnt").as("n"),
        ((dec(col("cnt")) * dec(col("s")) - dec(col("si")) * dec(col("sj")))
          .cast("double") /
          (col("cnt").cast("double") * col("cnt").cast("double") * lit(1e8d)))
          .as("cov"))
      .orderBy("i", "j")
  }

  val covarianceOracle: String =
    """WITH q AS (SELECT list_transform(embedding,
      |             x -> CAST(floor(CAST(x AS DOUBLE)*10000 + 0.5) AS BIGINT)) AS q
      |           FROM embeddings),
      |lin AS (SELECT t.i - 1 AS i, SUM(q[t.i]) AS s, COUNT(*) AS n
      |        FROM q CROSS JOIN UNNEST(range(1, len(q)+1)) t(i) GROUP BY 1),
      |pr AS (SELECT a.i - 1 AS i, b.j - 1 AS j, SUM(q[a.i]*q[b.j]) AS sij
      |       FROM q CROSS JOIN UNNEST(range(1, len(q)+1)) a(i)
      |            CROSS JOIN UNNEST(range(a.i, len(q)+1)) b(j)
      |       GROUP BY 1, 2)
      |SELECT pr.i AS i, pr.j AS j, la.n AS n,
      |       CAST(la.n*pr.sij - la.s*lb.s AS DOUBLE) /
      |         (CAST(la.n AS DOUBLE)*CAST(la.n AS DOUBLE)*100000000.0) AS cov
      |FROM pr JOIN lin la ON la.i = pr.i JOIN lin lb ON lb.i = pr.j
      |ORDER BY i, j""".stripMargin

  /** x149: top-r principal eigenpairs of the x148 covariance — PCA's
    * leading components (the whitening basis x148 exists to feed), split
    * at the right boundary for 100 TB: the corpus-sized work is the
    * shared [[momentSums]] aggregate (one pass, d² output); the eigen
    * solve itself is r rounds of 400 deterministic power iterations with
    * HOTELLING DEFLATION (C ← C − λₖvₖvₖᵀ after each converged pair) on
    * the collected d×d matrix — driver math over an aggregate-sized
    * object (the same boundary posture as the k-means centroid step,
    * x126), NOT a per-row collect. Deflating the symmetric matrix keeps
    * every later iterate orthogonal to the extracted components, so the
    * pairs come out orthonormal with λ₁ ≥ λ₂ ≥ … by construction.
    * Deterministic end to end: fixed uniform init per round, fixed
    * iteration count, sign pinned per component so its largest-|loading|
    * coordinate is positive. Each iterate is re-orthogonalized against
    * the extracted components every step — floating-point deflation
    * leaves O(ulp) residue of v₁ in C′ that 400 power steps would
    * otherwise re-amplify exponentially toward λ₁. No SQL oracle (eigen
    * solves aren't DuckDB-expressible); ExtSpec holds per-component
    * residual laws ‖Cvₖ − λₖvₖ‖ ≤ 10⁻³·λₖ against the ORIGINAL C,
    * pairwise orthogonality |vᵢ·vⱼ| ≤ 10⁻³, the eigenvalue ordering, and
    * the PSD floor λ₁ ≥ maxᵢ Cᵢᵢ.
    */
  /** x156: per-dimension SQ8 range profile of the embedding corpus — the
    * compression step a 100 TB vector index actually ships (FAISS
    * ScalarQuantizer posture): per-dimension min/max range, 255-step
    * uniform code, and the per-dimension reconstruction-error profile
    * that tells you which dims survive 8-bit storage. Two corpus passes
    * (range aggregate → d-row broadcast → error aggregate), both
    * map-side combinable; nothing scales past the posexplode scan.
    * Hash-stable despite the float path: the code q is an exact integer
    * (floor of a pinned-operand-order double), the reconstruction error
    * quantizes to e9 BIGINTs before the order-independent sum, and the
    * reported range bounds are single values rounded once. A degenerate
    * dimension (vmax = vmin) codes to 0 and reconstructs exactly.
    */
  def sq8Profile(spark: SparkSession, dir: String): DataFrame = {
    val expl = Tables.embeddings(spark, dir)
      .select(posexplode(col("embedding")).as(Seq("dim_i", "xf")))
      .select(col("dim_i").cast("long").as("dim_i"), col("xf").cast("double").as("x"))
    val ranges = expl.groupBy("dim_i").agg(min(col("x")).as("vmin"), max(col("x")).as("vmax"))
    val errs = expl.join(broadcast(ranges), "dim_i")
      .withColumn("q",
        when(col("vmax") === col("vmin"), lit(0L))
          .otherwise(least(greatest(
            floor((col("x") - col("vmin")) / (col("vmax") - col("vmin")) * 255d + 0.5d),
            lit(0d)), lit(255d)).cast("long")))
      .withColumn("err_e9",
        floor(abs(col("x") - (col("vmin") + col("q") / lit(255d) * (col("vmax") - col("vmin"))))
          * 1e9d + 0.5d).cast("long"))
      .groupBy("dim_i")
      .agg(count(lit(1)).as("n"), sum(col("err_e9")).as("sum_err"),
        max(col("err_e9")).as("max_err_e9"))
    errs.join(ranges, "dim_i")
      .select(col("dim_i"), round(col("vmin"), 6).as("vmin"),
        round(col("vmax"), 6).as("vmax"), col("n"),
        expr("sum_err DIV n").as("mean_err_e9"), col("max_err_e9"))
      .orderBy("dim_i")
  }

  val sq8Oracle: String =
    """WITH e AS (SELECT t.i - 1 AS dim_i, CAST(embedding[t.i] AS DOUBLE) AS x
      |           FROM embeddings
      |           CROSS JOIN UNNEST(range(1, len(embedding) + 1)) t(i)),
      |r AS (SELECT dim_i, MIN(x) AS vmin, MAX(x) AS vmax FROM e GROUP BY 1),
      |q AS (SELECT e.dim_i, x, vmin, vmax,
      |             CASE WHEN vmax = vmin THEN 0
      |                  ELSE CAST(least(greatest(
      |                    floor((x - vmin) / (vmax - vmin) * 255 + 0.5), 0), 255) AS BIGINT)
      |             END AS q
      |      FROM e JOIN r USING (dim_i)),
      |s AS (SELECT dim_i,
      |             CAST(floor(abs(x - (vmin + q / 255.0 * (vmax - vmin)))
      |                        * 1000000000 + 0.5) AS BIGINT) AS err
      |      FROM q)
      |SELECT s.dim_i, ROUND(r.vmin, 6) AS vmin, ROUND(r.vmax, 6) AS vmax,
      |       CAST(COUNT(*) AS BIGINT) AS n,
      |       CAST(SUM(err) // COUNT(*) AS BIGINT) AS mean_err_e9,
      |       CAST(MAX(err) AS BIGINT) AS max_err_e9
      |FROM s JOIN r ON r.dim_i = s.dim_i
      |GROUP BY s.dim_i, r.vmin, r.vmax ORDER BY s.dim_i""".stripMargin

  /** x184: SQ8 quantized top-k search — the serving-side use of the x79
    * codes and the x156 range profile: score candidates on their int8
    * codes via the native codegen'd [[graft.functions.Int8Dot]], so the
    * per-pair cost is a 64-element integer MAC loop instead of float
    * math, and the RANKING KEY IS EXACT — scale_q·scale_n·dot is a pure
    * BIGINT-domain product (DECIMAL-widened: 10⁶·10⁶·10⁶ brushes 2⁶³),
    * which is what lets a quantized ANN query hash-match a SQL oracle at
    * all. Same per-vector symmetric quantization as x79 (max-abs scale,
    * half-up at 127) and the same broadcast-queries × candidate-scan +
    * WindowGroupLimit shape as x20; at 100 TB the scan side swaps for
    * the IVF probe (x23) with the scoring expression unchanged.
    */
  def sq8TopK(spark: SparkSession, dir: String,
              nQueries: Int = 10, k: Int = 5): DataFrame = {
    val quant = Tables.embeddings(spark, dir)
      .withColumn("mx", array_max(transform(col("embedding"), v => abs(v.cast("double")))))
      .select(col("vec_id"),
        floor(col("mx") * 1000000d + 0.5d).cast("long").as("scale_micro"),
        transform(col("embedding"),
          v => when(col("mx") === 0d, lit(0L))
            .otherwise(floor(v.cast("double") / col("mx") * 127d + 0.5d)
              .cast("long"))).as("codes"))
    val q = quant.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("q_id"), col("scale_micro").as("q_scale"),
        col("codes").as("q_codes"))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("score").desc, col("vec_id"))
    broadcast(q).crossJoin(quant)
      .filter(col("q_id") =!= col("vec_id"))
      .withColumn("dot_q", gf.int8_dot(col("q_codes"), col("codes")))
      .withColumn("score",
        col("q_scale").cast("decimal(38,0)") * col("scale_micro") * col("dot_q"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("rank").cast("long").as("rank"),
        col("vec_id").as("n_id"), col("dot_q"),
        col("score").cast("long").as("score_scaled"))
      .orderBy("q_id", "rank")
  }

  val sq8TopKOracle: String =
    """WITH s AS (
      |  SELECT vec_id,
      |         list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS mx,
      |         embedding
      |  FROM embeddings),
      |quant AS (
      |  SELECT vec_id, CAST(floor(mx * 1000000 + 0.5) AS BIGINT) AS scale_micro,
      |         list_transform(embedding,
      |           x -> CAST(CASE WHEN mx = 0 THEN 0
      |                          ELSE floor(CAST(x AS DOUBLE) / mx * 127 + 0.5)
      |                     END AS BIGINT)) AS codes
      |  FROM s),
      |q AS (SELECT vec_id AS q_id, scale_micro AS q_scale, codes AS q_codes
      |      FROM quant WHERE vec_id < 10),
      |scored AS (
      |  SELECT q.q_id, n.vec_id AS n_id,
      |         CAST(list_dot_product(q.q_codes, n.codes) AS BIGINT) AS dot_q,
      |         q.q_scale * n.scale_micro
      |           * CAST(list_dot_product(q.q_codes, n.codes) AS BIGINT) AS score
      |  FROM q CROSS JOIN quant n WHERE n.vec_id <> q.q_id)
      |SELECT q_id, CAST(ROW_NUMBER() OVER (PARTITION BY q_id
      |         ORDER BY score DESC, n_id) AS BIGINT) AS rank,
      |       n_id, dot_q, CAST(score AS BIGINT) AS score_scaled
      |FROM scored
      |QUALIFY rank <= 5
      |ORDER BY q_id, rank""".stripMargin

  /** Driver-side deflated power-iteration solve shared by x149 (loadings),
    * x157 (projection basis), and x216 (scree): returns (d, the ORIGINAL
    * covariance matrix, top-r (eigenvector, raw Rayleigh λ) pairs in
    * extraction order). The collect is aggregate-sized (d(d+1)/2 rows off
    * the distributed [[covarianceMatrix]]); every double op below is
    * SEQUENTIAL and left-associated (Range.map(...).sum is a left fold) —
    * deliberately, because the x216 oracle replays the SAME op sequence
    * in DuckDB (list_dot_product / list_reduce are left folds too) and
    * the two trajectories must stay bit-identical through 400 iterations
    * of a narrow-eigengap spectrum for the e6-rounded λ ladder to
    * hash-match.
    */
  private[graft] def spectralSolve(spark: SparkSession, dir: String,
      iters: Int = 400, r: Int = 3)
      : (Int, Array[Array[Double]], Seq[(Array[Double], Double)]) = {
    val rows = covarianceMatrix(spark, dir)
      .select(col("i").cast("int"), col("j").cast("int"), col("cov"))
      .collect()
    val d = rows.iterator.map(_.getInt(0)).max + 1
    val c0 = Array.ofDim[Double](d, d)
    rows.foreach { r =>
      val (i, j, v) = (r.getInt(0), r.getInt(1), r.getDouble(2))
      c0(i)(j) = v; c0(j)(i) = v
    }
    val c = c0.map(_.clone())
    val extracted = scala.collection.mutable.ArrayBuffer.empty[(Array[Double], Double)]
    for (_ <- 0 until math.min(r, d)) {
      def orth(x: Array[Double]): Array[Double] = {
        val y = x.clone()
        extracted.foreach { case (u, _) =>
          val dot = (0 until d).map(i => y(i) * u(i)).sum
          (0 until d).foreach(i => y(i) -= dot * u(i))
        }
        y
      }
      var v = orth(Array.fill(d)(1.0 / math.sqrt(d.toDouble)))
      for (_ <- 1 to iters) {
        val cv = orth(Array.tabulate(d)(i => (0 until d).map(j => c(i)(j) * v(j)).sum))
        val nrm = math.sqrt(cv.map(x => x * x).sum)
        if (nrm > 0) v = cv.map(_ / nrm)
      }
      // final estimate via the Rayleigh quotient vᵀCv — first-order
      // insensitive to the remaining eigenvector error, so the residual
      // law holds even when the eigengap is narrow
      val lambda = (0 until d).map(i =>
        v(i) * (0 until d).map(j => c(i)(j) * v(j)).sum).sum
      extracted += ((v, lambda))
      // Hotelling deflation: remove the converged pair from the working
      // matrix so the next round's dominant eigenpair is the next one down
      for (i <- 0 until d; j <- 0 until d) c(i)(j) -= lambda * v(i) * v(j)
    }
    (d, c0, extracted.toSeq)
  }

  def principalComponent(spark: SparkSession, dir: String,
                         iters: Int = 400, r: Int = 3): DataFrame = {
    import spark.implicits._
    val (d, _, pairs) = spectralSolve(spark, dir, iters, r)
    val comps = Seq.newBuilder[(Long, Long, Double, Double)]
    pairs.zipWithIndex.foreach { case ((v, lambda), comp) =>
      val flip = if (v(v.indexWhere(x => math.abs(x) == v.map(math.abs).max)) < 0) -1.0 else 1.0
      (0 until d).foreach(i => comps +=
        ((comp.toLong, i.toLong, math.rint(flip * v(i) * 1e6) / 1e6,
          math.rint(lambda * 1e6) / 1e6)))
    }
    comps.result().toDF("component", "dim_i", "loading", "eigval")
      .orderBy("component", "dim_i")
  }

  /** x216: the scree / explained-variance ladder — the PCA family's
    * decision artifact ("how many components carry the corpus") as an
    * oracle-checkable EXACT-INTEGER row set. λ_k comes from
    * [[spectralSolve]]; the trace is the sequential diagonal sum of the
    * ORIGINAL covariance (Σλ over all d eigenpairs = tr C, so
    * cum_evr_e6's ladder is the classic scree cumulative curve); each
    * statistic rounds to e6 ONCE and every ratio divides the already-
    * rounded integers, so the only doubles that must agree across
    * engines are λ and trace themselves. The ORACLE recomputes the
    * entire derivation in DuckDB — the exact-integer covariance CTE
    * (x148's twin), then the SAME 400-iteration deflated power solve as
    * a recursive CTE over DOUBLE[] lists (list_dot_product is a left
    * fold, matching Scala's Range.map(...).sum) — making the eigen
    * ITERATION itself a hash-checked computation, not just its inputs.
    */
  def screeReport(spark: SparkSession, dir: String, r: Int = 3): DataFrame = {
    import spark.implicits._
    val (d, c0, pairs) = spectralSolve(spark, dir, r = r)
    var trace = 0.0
    (0 until d).foreach(i => trace += c0(i)(i))
    val traceE6 = math.floor(trace * 1e6 + 0.5).toLong
    var cum = 0L
    val rows = pairs.zipWithIndex.map { case ((_, lam), k) =>
      val lamE6 = math.floor(lam * 1e6 + 0.5).toLong
      cum += lamE6
      (k.toLong, lamE6, traceE6,
        math.floor(lamE6.toDouble / traceE6.toDouble * 1e6 + 0.5).toLong,
        math.floor(cum.toDouble / traceE6.toDouble * 1e6 + 0.5).toLong)
    }
    rows.toDF("component", "lambda_e6", "trace_e6", "evr_e6", "cum_evr_e6")
      .orderBy("component")
  }

  /** x157: PCA projection — the corpus mapped onto the [[principalComponent]]
    * top-r eigenbasis, i.e. the dimensionality-reduction / whitening
    * transform x148+x149 exist to feed. Driver-boundary split as before:
    * eigvectors and per-dim means come from aggregate-sized driver math
    * (the collected d×d solve and the [[momentSums]] linear slice); the
    * projection itself is one distributed pass — each row's r components
    * are `aggregate(zip_with(centered, v_k, ·))` dot products against
    * BROADCAST-LITERAL basis arrays, fully codegen'd, no join, no
    * shuffle (the orderBy is presentation-only). Rows center on the e4
    * quantization grid (floor(x·10⁴+½)/10⁴) so the projected variance is
    * measured in exactly the basis the covariance was computed in; each
    * component floors to e6 for a stable integer output. Rows-only in
    * the gate (the eigenbasis isn't SQL-expressible); ExtSpec pins the
    * spectral contract: Var(y_k) = λ_k and Cov(y_a, y_b) = 0 within the
    * eigen-residual band, per-component means ≈ 0.
    */
  /** x216 twin — see [[screeReport]]: the covariance CTE is x148's exact-
    * integer derivation; it0/it1/it2 replay the deflated power iteration
    * (e_k materialized so each eigenpair solves once; cmat materialized so
    * the recursion doesn't re-run the corpus moment pass per step); s1/s2
    * re-orthogonalize the start vector and every iterate against the
    * already-extracted basis exactly as the Scala `orth` does, in the same
    * order. 1/√64 = 0.125 is an exact double, so the start vector is
    * representable in both engines.
    */
  /** The shared eigensolve CTE chain (through e0/e1/e2) used by the x216
    * scree oracle AND the x149/x157 oracles — one derivation, three
    * tails, so the three gates can never drift apart.
    */
  private val eigenCtes: String =
    """WITH RECURSIVE
      |q AS (SELECT list_transform(embedding, v -> CAST(floor(CAST(v AS DOUBLE)*10000 + 0.5) AS BIGINT)) AS q FROM embeddings),
      |terms AS (
      |  SELECT i.i AS i, j.j AS j, q[i.i+1]*q[j.j+1] AS p
      |  FROM q, range(64) i(i), range(64) j(j) WHERE j.j >= i.i),
      |sums AS (SELECT i, j, SUM(p) AS s, COUNT(*) AS cnt FROM terms GROUP BY 1,2),
      |lin AS (SELECT i.i AS i, SUM(q[i.i+1]) AS ls, COUNT(*) AS cnt
      |        FROM q, range(64) i(i) GROUP BY 1),
      |cov AS (
      |  SELECT s.i, s.j,
      |    CAST(CAST(s.cnt AS DECIMAL(38,0))*CAST(s.s AS DECIMAL(38,0))
      |       - CAST(li.ls AS DECIMAL(38,0))*CAST(lj.ls AS DECIMAL(38,0)) AS DOUBLE)
      |    / (CAST(s.cnt AS DOUBLE)*CAST(s.cnt AS DOUBLE)*1e8) AS cov
      |  FROM sums s JOIN lin li ON li.i = s.i JOIN lin lj ON lj.i = s.j),
      |fullm AS (SELECT i, j, cov FROM cov UNION ALL SELECT j, i, cov FROM cov WHERE i <> j),
      |rws AS (SELECT i, list(cov ORDER BY j) AS rw FROM fullm GROUP BY i),
      |cmat AS MATERIALIZED (SELECT list(rw ORDER BY i) AS m FROM rws),
      |it0 AS (
      |  SELECT 0 AS k, [CAST(0.125 AS DOUBLE) for z in range(64)] AS v
      |  UNION ALL
      |  SELECT k+1, list_transform(cv, x -> x / sqrt(list_dot_product(cv, cv)))
      |  FROM (SELECT k, list_transform(m, row -> list_dot_product(row, v)) AS cv
      |        FROM it0, cmat WHERE k < 400)),
      |e0 AS MATERIALIZED (
      |  SELECT v0, list_dot_product(v0, list_transform(m, row -> list_dot_product(row, v0))) AS lam0
      |  FROM (SELECT v AS v0 FROM it0 WHERE k = 400), cmat),
      |c1 AS MATERIALIZED (
      |  SELECT list_transform(range(1,65), i ->
      |           list_transform(range(1,65), j -> m[i][j] - lam0*v0[i]*v0[j])) AS m
      |  FROM cmat, e0),
      |s1 AS MATERIALIZED (
      |  SELECT list_transform(range(1,65), i ->
      |           x[i] - list_dot_product(x, v0)*v0[i]) AS v
      |  FROM (SELECT [CAST(0.125 AS DOUBLE) for z in range(64)] AS x), e0),
      |it1 AS (
      |  SELECT 0 AS k, v FROM s1
      |  UNION ALL
      |  SELECT k+1, list_transform(cv, x -> x / sqrt(list_dot_product(cv, cv)))
      |  FROM (SELECT k, list_transform(range(1,65), i ->
      |            cvr[i] - list_dot_product(cvr, v0)*v0[i]) AS cv
      |        FROM (SELECT k, list_transform(m, row -> list_dot_product(row, v)) AS cvr
      |              FROM it1, c1 WHERE k < 400), e0)),
      |e1 AS MATERIALIZED (
      |  SELECT v1, list_dot_product(v1, list_transform(m, row -> list_dot_product(row, v1))) AS lam1
      |  FROM (SELECT v AS v1 FROM it1 WHERE k = 400), c1),
      |c2 AS MATERIALIZED (
      |  SELECT list_transform(range(1,65), i ->
      |           list_transform(range(1,65), j -> m[i][j] - lam1*v1[i]*v1[j])) AS m
      |  FROM c1, e1),
      |s2 AS MATERIALIZED (
      |  SELECT list_transform(range(1,65), i ->
      |           w[i] - list_dot_product(w, v1)*v1[i]) AS v
      |  FROM (SELECT list_transform(range(1,65), i ->
      |            x[i] - list_dot_product(x, v0)*v0[i]) AS w
      |        FROM (SELECT [CAST(0.125 AS DOUBLE) for z in range(64)] AS x), e0), e1),
      |it2 AS (
      |  SELECT 0 AS k, v FROM s2
      |  UNION ALL
      |  SELECT k+1, list_transform(cv, x -> x / sqrt(list_dot_product(cv, cv)))
      |  FROM (SELECT k, list_transform(range(1,65), i ->
      |            w[i] - list_dot_product(w, v1)*v1[i]) AS cv
      |        FROM (SELECT k, list_transform(range(1,65), i ->
      |                  cvr[i] - list_dot_product(cvr, v0)*v0[i]) AS w
      |              FROM (SELECT k, list_transform(m, row -> list_dot_product(row, v)) AS cvr
      |                    FROM it2, c2 WHERE k < 400), e0), e1)),
      |e2 AS MATERIALIZED (
      |  SELECT v2, list_dot_product(v2, list_transform(m, row -> list_dot_product(row, v2))) AS lam2
      |  FROM (SELECT v AS v2 FROM it2 WHERE k = 400), c2),""".stripMargin

  val screeOracle: String = eigenCtes +
    """
      |tr AS (SELECT CAST(floor(list_reduce(list_transform(range(1,65), i -> m[i][i]), (a,b)->a+b)
      |             * 1000000 + 0.5) AS BIGINT) AS trace_e6 FROM cmat),
      |lams AS (
      |  SELECT 0 AS component, CAST(floor(lam0*1000000 + 0.5) AS BIGINT) AS lambda_e6 FROM e0
      |  UNION ALL SELECT 1, CAST(floor(lam1*1000000 + 0.5) AS BIGINT) FROM e1
      |  UNION ALL SELECT 2, CAST(floor(lam2*1000000 + 0.5) AS BIGINT) FROM e2)
      |SELECT CAST(component AS BIGINT) AS component, lambda_e6, trace_e6,
      |       CAST(floor(CAST(lambda_e6 AS DOUBLE) / trace_e6 * 1000000 + 0.5) AS BIGINT) AS evr_e6,
      |       CAST(floor(CAST(SUM(lambda_e6) OVER (ORDER BY component) AS DOUBLE)
      |            / trace_e6 * 1000000 + 0.5) AS BIGINT) AS cum_evr_e6
      |FROM lams, tr ORDER BY component""".stripMargin

  /** The flip + e6-rint loading CTEs shared by the x149 and x157 tails:
    * flip is the sign of the FIRST max-|v| component (the Scala
    * indexWhere), and the rounded basis rb replays Scala's
    * rint(flip·v·1e6)/1e6 via DuckDB's round-half-even double→BIGINT
    * cast (verified ties-to-even, ≡ Math.rint).
    */
  private val flipCtes: String =
    """
      |comps AS (
      |  SELECT 0 AS component, v0 AS v, lam0 AS lam FROM e0
      |  UNION ALL SELECT 1, v1, lam1 FROM e1
      |  UNION ALL SELECT 2, v2, lam2 FROM e2),
      |fl AS (SELECT component, v, lam,
      |         CASE WHEN v[list_filter(range(1,65),
      |                      i -> abs(v[i]) = mx)[1]] < 0
      |              THEN CAST(-1 AS DOUBLE) ELSE CAST(1 AS DOUBLE) END AS flip
      |       FROM (SELECT *, list_max(list_transform(v, x -> abs(x))) AS mx
      |             FROM comps)),
      |rb AS (SELECT component, lam,
      |         list_transform(range(1,65),
      |           i -> CAST(flip * v[i] * 1e6 AS BIGINT) / 1000000.0) AS v
      |       FROM fl)""".stripMargin

  /** x149 twin — the eigensolve replayed in SQL (see [[screeOracle]]),
    * then the EXACT output convention of [[principalComponent]]: per
    * (component, dim) rint-e6 loadings with the first-max-|v| sign flip,
    * rint-e6 eigenvalues. Moves x149 from rows-only (r8) to hash-matched.
    */
  val pcaLoadingsOracle: String = eigenCtes + flipCtes +
    """
      |SELECT CAST(component AS BIGINT) AS component,
      |       CAST(t.i - 1 AS BIGINT) AS dim_i,
      |       v[t.i] AS loading,
      |       CAST(lam * 1e6 AS BIGINT) / 1000000.0 AS eigval
      |FROM rb, range(1, 65) t(i)
      |ORDER BY component, dim_i""".stripMargin

  /** x157 twin — eigensolve + the projection itself: each vector e4-
    * quantized (floor(x·10⁴+½)/10⁴, the covariance grid), centered on
    * μ = Σq/(n·10⁴) from the SAME lin CTE the moment pass feeds, then a
    * sequential left-fold dot against the ROUNDED+FLIPPED basis (what
    * pcaProject broadcasts as plan-time literals), floored to e6. Moves
    * x157 from rows-only (r8) to hash-matched.
    */
  val pcaProjectOracle: String = eigenCtes + flipCtes +
    """,
      |b0 AS (SELECT v FROM rb WHERE component = 0),
      |b1 AS (SELECT v FROM rb WHERE component = 1),
      |b2 AS (SELECT v FROM rb WHERE component = 2),
      |mus AS (SELECT list(CAST(CAST(ls AS BIGINT) AS DOUBLE)
      |                    / (CAST(cnt AS DOUBLE) * 10000.0) ORDER BY i) AS mu
      |        FROM lin)
      |SELECT e.vec_id,
      |  CAST(floor(list_reduce(list_prepend(CAST(0 AS DOUBLE),
      |    [(floor(CAST(e.embedding[i] AS DOUBLE) * 10000 + 0.5) / 10000 - mu[i]) * b0.v[i]
      |     for i in range(1, 65)]), (a, b) -> a + b) * 1000000.0 + 0.5) AS BIGINT) AS y0_e6,
      |  CAST(floor(list_reduce(list_prepend(CAST(0 AS DOUBLE),
      |    [(floor(CAST(e.embedding[i] AS DOUBLE) * 10000 + 0.5) / 10000 - mu[i]) * b1.v[i]
      |     for i in range(1, 65)]), (a, b) -> a + b) * 1000000.0 + 0.5) AS BIGINT) AS y1_e6,
      |  CAST(floor(list_reduce(list_prepend(CAST(0 AS DOUBLE),
      |    [(floor(CAST(e.embedding[i] AS DOUBLE) * 10000 + 0.5) / 10000 - mu[i]) * b2.v[i]
      |     for i in range(1, 65)]), (a, b) -> a + b) * 1000000.0 + 0.5) AS BIGINT) AS y2_e6
      |FROM embeddings e, mus, b0, b1, b2
      |ORDER BY e.vec_id""".stripMargin

  def pcaProject(spark: SparkSession, dir: String, r: Int = 3): DataFrame = {
    val comps = principalComponent(spark, dir, r = r).collect()
    val d = comps.count(_.getLong(0) == 0L)
    val basis = (0 until math.min(r, d)).map { k =>
      comps.filter(_.getLong(0) == k).sortBy(_.getLong(1)).map(_.getDouble(2))
    }
    val lin = momentSums(spark, dir).filter(col("j") === -1)
      .select(col("i"), col("s"), col("cnt")).collect()
    val mu = Array.ofDim[Double](d)
    lin.foreach { row =>
      mu(row.getInt(0)) = row.getLong(1).toDouble / (row.getLong(2).toDouble * 1e4d)
    }
    val q = transform(col("embedding"),
      v => floor(v.cast("double") * 10000d + 0.5d) / 10000d)
    val centered = zip_with(q, array(mu.toIndexedSeq.map(lit): _*), (x, m) => x - m)
    val ys = basis.zipWithIndex.map { case (vk, k) =>
      floor(aggregate(
        zip_with(centered, array(vk.toIndexedSeq.map(lit): _*), (x, v) => x * v),
        lit(0.0d), (acc, t) => acc + t) * 1e6d + 0.5d).cast("long").as(s"y${k}_e6")
    }
    Tables.embeddings(spark, dir)
      .select((col("vec_id") +: ys): _*)
      .orderBy("vec_id")
  }

  /** x233: k-center greedy coreset (Gonzalez 1985's farthest-point
    * traversal — the 2-approximation for k-center) — the diverse-subset
    * selector a training pipeline runs to pick maximally-spread exemplars
    * (active-learning seeds, eval probes, codebook inits; x220's MMR
    * diversifies a RANKED list, this diversifies the CORPUS): seed with
    * the lowest vec_id, then k−1 times take the point farthest from the
    * chosen set (max–min distance, ties to the smallest id).
    *
    * Exactness: vectors land on the e4 grid once, so every distance² is
    * an EXACT BIGINT (64 squared diffs), the running min-distance column
    * is `least` of integers, and each selection is an integer argmax —
    * nothing float survives the first quantization, which is why the
    * oracle's 10 unrolled scan CTEs hash-match the trajectory exactly.
    * Scale shape: the quantized corpus persists once; each step is one
    * codegen'd zip_with pass + a 1-row TakeOrdered driver boundary (the
    * k-means/x229 discipline), k passes total — no pairwise join ever
    * materializes. Output is the k chosen exemplars with the max–min
    * distance² at their selection (a nonincreasing coverage-radius
    * ladder; step 1 has none).
    */
  def kcenterCoreset(spark: SparkSession, dir: String, k: Int = 10): DataFrame = {
    import spark.implicits._
    val q = Tables.embeddings(spark, dir).select(col("vec_id"),
        expr("transform(embedding, v -> CAST(floor(CAST(v AS DOUBLE) * 10000 " +
          "+ 0.5) AS BIGINT))").as("q"))
      .persist()
    def d2(center: Array[Long]): Column =
      aggregate(
        zip_with(col("q"), array(center.toIndexedSeq.map(lit): _*),
          (a, b) => (a - b) * (a - b)),
        lit(0L), (acc, x) => acc + x)
    val first = q.orderBy("vec_id").limit(1).collect()(0)
    var chosen = List((1L, first.getLong(0), Option.empty[Long]))
    var cur = q.select(col("vec_id"), col("q"),
      d2(first.getSeq[Long](1).toArray).as("mind"))
    (2 to k).foreach { step =>
      val next = cur.orderBy(col("mind").desc, col("vec_id"))
        .limit(1).collect()(0)                   // 1-row driver boundary
      chosen ::= ((step.toLong, next.getLong(0), Some(next.getLong(2))))
      cur = cur.select(col("vec_id"), col("q"),
        least(col("mind"), d2(next.getSeq[Long](1).toArray)).as("mind"))
    }
    q.unpersist()
    chosen.reverse.toDF("step", "vec_id", "dist2").orderBy("step")
  }

  /** x242: mutual-kNN graph clustering (Brito et al. 1997) — the
    * density-style grouping the centroid methods (x177 k-means, x22 IVF)
    * can't produce: two vectors cluster together only if each is among
    * the other's k nearest neighbors, so chains of one-sided attraction
    * (a hub pulling everything toward it) don't merge groups, and
    * isolated points simply have no mutual edge (noise — the DBSCAN
    * property, without DBSCAN's eps knob). Edges live within label
    * blocks (the x15/x63 blocking discipline; at 100 TB the block is the
    * IVF cell — per-key bounded, never a global all-pairs), kNN is the
    * x20 rank shape with k = 5, and components come from the shared
    * pointer-jumping [[graft.ext.Dedup.connectedComponents]] (O(log d)
    * rounds). Everything is exact integers — e4-grid distances², (d²,
    * id) rank keys, min-id labels — so the DuckDB twin (same window,
    * same mutual semi-join, x63's transitive-closure reach) hash-matches
    * every membership.
    */
  /** The cell-split quantized corpus + kernel kNN edge frame, split out of
    * [[mutualKnnClusters]] so the kernel's plan is dumpable and its
    * window-rank equivalence law testable (ExtSpec).
    */
  private[graft] def mutualKnnEdges(spark: SparkSession, dir: String,
                                    k: Int = 5): DataFrame = {
      // CELL-SIZE GOVERNOR (the deriveBands/x158-cap discipline): label
      // blocks grow linearly with the corpus, so block-local pairs grow
      // QUADRATICALLY — measured e ≈ 1 wall / 10× cost at 10× corpus
      // before this bound (SCALE.md round-9). Sub-split every label by a
      // content-addressed md5 bucket into ⌈n/(|labels|·512)⌉ cells so the
      // expected cell stays ≤ ~512 vectors and pair volume is O(n·512) —
      // the bounded-IVF-cell story made literal. nSub derives from two
      // exact corpus counts in BOTH engines (1 at the oracle SFs, so the
      // gate exercises the derivation, not a hardcoded 1); neighbors
      // across cells are the documented miss, identical on both sides.
      val Array(counts) = Tables.embeddings(spark, dir)
        .agg(count(lit(1)).as("n"), countDistinct(col("label")).as("nl"))
        .collect()
      val (nVec, nLab) = (counts.getLong(0), counts.getLong(1))
      val nSub = math.max(1L, (nVec + nLab * 512L - 1L) / (nLab * 512L))
      val q = Tables.embeddings(spark, dir).select(col("vec_id"), col("label"),
        (graft.ops.Sampling.bucket10k(col("vec_id"), 13) % nSub).as("sub"),
        expr("transform(embedding, v -> CAST(floor(CAST(v AS DOUBLE) * 10000 " +
          "+ 0.5) AS BIGINT))").as("q"))
      // Cell-local kNN as ONE primitive kernel (guide §1.2 per-task work,
      // §2.3 shuffle fewer bytes). The r15 shape — self-join on (label,
      // sub) producing the pair stream, a zip_with/aggregate d2 column,
      // then a per-a row_number window — paid three ways: the HOF
      // distance is CodegenFallback (boxes both 64-element arrays per
      // PAIR — measured ~250 µs/pair, 100+ task-s at sf0.1 for 0.4 M
      // pairs), the pair stream carries 2×64 BIGINTs per row into the
      // window exchange, and the window re-shuffles pairs by `a`. Here
      // the VECTORS shuffle once by cell key (n rows, 64 longs each —
      // never the O(n·cell) pair stream), rows arrive sorted by (label,
      // sub, vec_id), and each cell (governor-bounded ≤ ~512 rows) runs
      // an in-memory top-k over primitive long arrays: same exact
      // integer d2, same (d2, b) tie order as the window rank, so the
      // edge SET is provably identical (ridgeMoments kernel posture).
      import spark.implicits._
      val kk = k
      val knn = q.select(col("label").cast("long").as("l"), col("sub"),
          col("vec_id"), col("q"))
        .repartition(col("l"), col("sub"))
        .sortWithinPartitions("l", "sub", "vec_id")
        .as[(Long, Long, Long, Array[Long])]
        .mapPartitions { it =>
          val buf = it.buffered
          new Iterator[(Long, Long)] {
            private var out: Iterator[(Long, Long)] = Iterator.empty
            private def loadCell(): Unit = {
              val (l0, s0, _, _) = buf.head
              var ids = new Array[Long](64)
              var vecs = new Array[Array[Long]](64)
              var n = 0
              while (buf.hasNext && buf.head._1 == l0 && buf.head._2 == s0) {
                val r = buf.next()
                if (n == ids.length) {
                  ids = java.util.Arrays.copyOf(ids, n * 2)
                  vecs = java.util.Arrays.copyOf(vecs, n * 2)
                }
                ids(n) = r._3; vecs(n) = r._4; n += 1
              }
              val res = Vector.newBuilder[(Long, Long)]
              val ds = new Array[Long](n)
              var i = 0
              while (i < n) {
                val va = vecs(i)
                val dim = va.length
                var j = 0
                while (j < n) {
                  if (j != i) {
                    val vb = vecs(j)
                    var d = 0L; var t = 0
                    while (t < dim) { val e = va(t) - vb(t); d += e * e; t += 1 }
                    ds(j) = d
                  }
                  j += 1
                }
                // k smallest by (d2, b), ties to the smaller b — the
                // window's row_number ORDER BY (d2, b) semantics exactly
                val picked = new Array[Boolean](n)
                picked(i) = true
                var r = 0
                val kMax = math.min(kk, n - 1)
                while (r < kMax) {
                  var best = -1
                  var j2 = 0
                  while (j2 < n) {
                    if (!picked(j2) && (best < 0 || ds(j2) < ds(best) ||
                        (ds(j2) == ds(best) && ids(j2) < ids(best)))) best = j2
                    j2 += 1
                  }
                  picked(best) = true
                  res += ((ids(i), ids(best)))
                  r += 1
                }
                i += 1
              }
              out = res.result().iterator
            }
            def hasNext: Boolean = {
              while (!out.hasNext && buf.hasNext) loadCell()
              out.hasNext
            }
            def next(): (Long, Long) = { hasNext; out.next() }
          }
        }.toDF("a", "b")
      knn
  }

  def mutualKnnClusters(spark: SparkSession, dir: String, k: Int = 5): DataFrame = {
    val labels = graft.Layer.cached(spark, dir, s"mutualKnn@$k") {
      val knn = mutualKnnEdges(spark, dir, k)
      val mutual = knn.join(knn.select(col("b").as("a"), col("a").as("b")),
          Seq("a", "b"))
        .filter(col("a") < col("b"))
      graft.ext.Dedup.connectedComponents(mutual)
    }
    val sizes = labels.groupBy("rep").agg(count(lit(1)).as("cluster_size"))
    labels.join(sizes, "rep")
      .join(Tables.embeddings(spark, dir).select(col("vec_id"), col("label")),
        col("id") === col("vec_id"))
      .select(col("vec_id"), col("label").cast("long").as("label"),
        col("rep").as("cluster_rep"), col("cluster_size"))
      .orderBy("vec_id")
  }

  val mutualKnnOracle: String =
    """WITH RECURSIVE
      |gov AS (SELECT GREATEST(1, (COUNT(*) + COUNT(DISTINCT label) * 512 - 1)
      |                           // (COUNT(DISTINCT label) * 512)) AS n_sub
      |        FROM embeddings),
      |q AS MATERIALIZED (
      |  SELECT vec_id, label,
      |         (('0x' || substr(md5(vec_id || ':13'), 1, 8))::BIGINT % 10000)
      |           % (SELECT n_sub FROM gov) AS sub,
      |         list_transform(embedding,
      |           v -> CAST(floor(CAST(v AS DOUBLE) * 10000 + 0.5) AS BIGINT)) AS q
      |  FROM embeddings),
      |sc AS (SELECT a.vec_id AS a, b.vec_id AS b,
      |              list_sum(list_transform(range(1, 65),
      |                t -> (a.q[t] - b.q[t]) * (a.q[t] - b.q[t]))) AS d2
      |       FROM q a JOIN q b ON a.label = b.label AND a.sub = b.sub
      |                        AND a.vec_id <> b.vec_id),
      |knn AS MATERIALIZED (
      |  SELECT a, b FROM (
      |    SELECT a, b, row_number() OVER (PARTITION BY a ORDER BY d2, b) AS rnk
      |    FROM sc) WHERE rnk <= 5),
      |mu AS (SELECT k1.a, k1.b FROM knn k1
      |       JOIN knn k2 ON k2.a = k1.b AND k2.b = k1.a
      |       WHERE k1.a < k1.b),
      |edges AS (SELECT a, b FROM mu UNION SELECT b, a FROM mu),
      |nodes AS (SELECT DISTINCT a AS id FROM edges),
      |reach AS (
      |  SELECT id, id AS r FROM nodes
      |  UNION
      |  SELECT e.a AS id, reach.r FROM edges e JOIN reach ON reach.id = e.b),
      |cl AS (SELECT id, CAST(MIN(r) AS BIGINT) AS rep FROM reach GROUP BY id),
      |sz AS (SELECT rep, COUNT(*) AS cluster_size FROM cl GROUP BY 1)
      |SELECT cl.id AS vec_id, CAST(q.label AS BIGINT) AS label,
      |       cl.rep AS cluster_rep, CAST(sz.cluster_size AS BIGINT) AS cluster_size
      |FROM cl JOIN sz USING (rep) JOIN q ON q.vec_id = cl.id
      |ORDER BY vec_id""".stripMargin

  val kcenterOracle: String = {
    val dist = (a: String, b: String) =>
      s"list_sum(list_transform(range(1,65), t -> ($a[t]-$b[t])*($a[t]-$b[t])))"
    val steps = (2 to 10).map { s =>
      s"""c$s AS MATERIALIZED (SELECT vec_id, q, mind FROM d${s - 1}
         |  ORDER BY mind DESC, vec_id LIMIT 1),
         |d$s AS MATERIALIZED (SELECT d.vec_id, d.q,
         |  LEAST(d.mind, ${dist("d.q", "c.q")}) AS mind
         |  FROM d${s - 1} d, c$s c),""".stripMargin
    }.mkString("\n")
    val sel = (2 to 10)
      .map(s => s"SELECT $s AS step, vec_id, mind AS dist2 FROM c$s")
      .mkString("\nUNION ALL ")
    s"""WITH
       |qv AS MATERIALIZED (SELECT vec_id,
       |  list_transform(embedding,
       |    v -> CAST(floor(CAST(v AS DOUBLE) * 10000 + 0.5) AS BIGINT)) AS q
       |  FROM embeddings),
       |c1 AS MATERIALIZED (SELECT vec_id, q FROM qv ORDER BY vec_id LIMIT 1),
       |d1 AS MATERIALIZED (SELECT qv.vec_id, qv.q,
       |  ${dist("qv.q", "c.q")} AS mind FROM qv, c1 c),
       |$steps
       |fin AS (SELECT 1 AS step, vec_id, CAST(NULL AS BIGINT) AS dist2 FROM c1
       |UNION ALL $sel)
       |SELECT CAST(step AS BIGINT) AS step, vec_id,
       |       CAST(dist2 AS BIGINT) AS dist2
       |FROM fin ORDER BY step""".stripMargin
  }
}
