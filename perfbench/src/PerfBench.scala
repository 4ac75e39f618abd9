package perfbench

import java.lang.management.{BufferPoolMXBean, ManagementFactory}
import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.QueryExecutionListener

import graft.{Layer, SparkEntry}
import graft.insta.Insta
import graft.ml.ReorderModel

/** Closed-loop benchmark client for the graft engine. It runs in the
  * engine's JVM, calls only public engine functions, and times each call in
  * two parts: the call itself (which includes any job the function runs
  * eagerly) and full materialization through the `noop` sink.
  *
  * Usage (normally driven by `perfbench/run.py`):
  * {{{
  * PerfBench --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *           --data <tablesDir> --work <runDir> --out <result.json> --launch-ms <epoch ms>
  *           [--warmup-data <tablesDir>] [--check-every <m>] [--dump <dir>]
  * }}}
  * The result file holds the raw per-op records, counters and check
  * hashes; `run.py` turns them into the reported metrics.
  */
object PerfBench {

  // ---------------------------------------------------------------- ops

  /** One timed call into the engine. `layers` are the graft modules the
    * call is attributed to; `check` says whether its output is hashed in
    * the output check.
    */
  final case class Op(name: String, layers: Seq[String], check: Boolean)(val call: SparkSession => DataFrame)

  /** Owning module of a query in the mix (the module whose functions do
    * the query's work). */
  private def queryLayers(name: String): Seq[String] = {
    val id = name.takeWhile(_ != '_')
    val kv = Set("q37", "s23")
    val owner: Seq[String] = id match {
      case "m09" => Seq("ml.ReorderModel")
      case "x85" => Seq("ext.TextAnalysis")
      case "x216" => Seq("ext.Similarity")
      case "x16" => Seq("ext.Dedup")
      case "x97" => Seq("ext.Associations")
      case "x110" => Seq("ops.Graph")
      case "x46" => Seq("ops.Skew")
      case "x271" => Seq("plans.TopKPerKey")
      case "x93" => Seq("ext.Events")
      case a if a.startsWith("a") => Seq("queries.Analytics")
      case s if s.startsWith("s") => Seq("streaming")
      case q if q.startsWith("q") => Seq("sources")
      case _ => Seq("queries")
    }
    owner ++ (if (kv(id)) Seq("sources.kv") else Nil)
  }

  /** The cold mix: reads with one query for each read-path module (the
    * ROADMAP's kernel targets first, then a short TPC-H shape), and writes
    * next to reads (the bucketed table, SQL MERGE on the kv connector, and
    * streaming twins with state and the kv sink). It is sized so that one
    * pass fits a run's time even when the machine runs slow. */
  val queryMix: Seq[String] = Seq(
    "m09_ridge", "x85_unigram_nll", "x216_scree", "x16_minhash_lsh", "x97_basket_rules",
    "x110_trade_pagerank", "x46_skew_join_split", "x271_topk_fact", "x93_funnel", "a01_pricing_summary",
    "q25_bucketed_join", "q37_sql_merge", "s05_stream_dedup", "s11_stream_left_join", "s23_stream_kv_sink")

  private def queryOp(name: String): Op = {
    val fn = SparkEntry.queries.getOrElse(name, sys.error(s"unknown query $name"))
    Op(name, queryLayers(name), check = true)(spark => fn(spark, dataDir))
  }

  // ------------------------------------------------------------ counters

  /** Cumulative counters fed by the listeners; a window is the difference
    * of two snapshots taken after draining the listener bus. */
  private object C {
    val taskMs, tasks, jobs, inputB, shufB, spillB = new AtomicLong
    val maxTaskMs = new AtomicLong
    val planNs, execNs, queries = new AtomicLong
    val batches, batchMs, stateRows = new AtomicLong
    /** (ns since run start, trigger duration ms) of every micro-batch. */
    val batchLog = new ConcurrentLinkedQueue[(Long, Long)]()
    def snap(): Map[String, Long] = Map(
      "task_ms" -> taskMs.get, "tasks" -> tasks.get, "jobs" -> jobs.get, "input_b" -> inputB.get,
      "shuffle_b" -> shufB.get, "spill_b" -> spillB.get,
      "jvm_gc_ms" -> ManagementFactory.getGarbageCollectorMXBeans.asScala.map(b => math.max(0L, b.getCollectionTime)).sum,
      "plan_ns" -> planNs.get, "exec_ns" -> execNs.get, "queries" -> queries.get,
      "batches" -> batches.get, "batch_ms" -> batchMs.get, "state_rows" -> stateRows.get)
  }

  private def install(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
        val m = t.taskMetrics
        C.tasks.incrementAndGet()
        if (m != null) {
          C.taskMs.addAndGet(m.executorRunTime)
          C.maxTaskMs.accumulateAndGet(m.executorRunTime, Math.max(_, _))
          C.inputB.addAndGet(m.inputMetrics.bytesRead)
          C.shufB.addAndGet(m.shuffleWriteMetrics.bytesWritten)
          C.spillB.addAndGet(m.diskBytesSpilled)
        }
      }
      override def onJobStart(j: SparkListenerJobStart): Unit = C.jobs.incrementAndGet()
    })
    spark.listenerManager.register(new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
        val ph = qe.tracker.phases
        val planMs = Seq("analysis", "optimization", "planning")
          .flatMap(ph.get).map(p => p.endTimeMs - p.startTimeMs).sum
        C.planNs.addAndGet(planMs * 1000000L)
        C.execNs.addAndGet(durationNs)
        C.queries.incrementAndGet()
      }
      override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    })
    spark.streams.addListener(new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
        val p = e.progress
        val d = Option(p.durationMs.get("triggerExecution")).map(_.longValue).getOrElse(p.batchDuration)
        C.batches.incrementAndGet()
        C.batchMs.addAndGet(d)
        C.batchLog.add((System.nanoTime() - t0Ns, d))
        C.stateRows.addAndGet(p.stateOperators.map(_.numRowsTotal).sum)
      }
    })
  }

  private def drain(spark: SparkSession): Unit =
    org.apache.spark.graftshim.ListenerBridge.waitUntilListenerBusEmpty(spark.sparkContext)

  // --------------------------------------------------------------- spans

  /** A timed window: name, start/end (ns since run start), parent, and the
    * counter deltas over the window. Kept in memory, written at the end. */
  final case class Span(id: Int, parent: Int, name: String, kind: String, layers: Seq[String],
                        startNs: Long, endNs: Long, counters: Map[String, Long], maxTaskMs: Long,
                        traced: Boolean)

  private val spans = mutable.ArrayBuffer[Span]()
  private var spanStack = List(0)
  private var nextId = 0
  private var t0Ns = 0L
  private var traced = false
  private var dataDir = ""

  /** Time `f` as one span. Traced runs (and every pass) close a counter
    * window around it after draining the listener bus; an untraced op
    * span only reads the clock, so its bookkeeping costs nothing. */
  private def span[T](spark: SparkSession, name: String, kind: String, layers: Seq[String])(f: => T): (T, Span) = {
    val counted = traced || kind == "pass" || kind == "check"
    if (counted) drain(spark)
    nextId += 1
    val id = nextId
    val parent = spanStack.head
    spanStack = id :: spanStack
    val before = if (counted) C.snap() else Map.empty[String, Long]
    val prevMax = if (counted) C.maxTaskMs.getAndSet(0) else 0L
    val s = System.nanoTime()
    val r = try f finally spanStack = spanStack.tail
    val e = System.nanoTime()
    val (delta, mx) =
      if (!counted) (Map.empty[String, Long], 0L)
      else {
        drain(spark)
        val after = C.snap()
        val m = C.maxTaskMs.get()
        C.maxTaskMs.accumulateAndGet(prevMax, Math.max(_, _))
        (after.map { case (k, v) => k -> (v - before(k)) }, m)
      }
    val sp = Span(id, parent, name, kind, layers, s - t0Ns, e - t0Ns, delta, mx, traced)
    spans += sp
    (r, sp)
  }

  private def materialize(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  // -------------------------------------------------------- output check

  /** Order-insensitive content hash: every value is put in a canonical
    * form (doubles as 10 significant digits, maps as sorted entry arrays),
    * each row is hashed with xxhash64, and the row hashes are summed
    * exactly as DECIMAL(38,0). */
  private def canon(c: Column, t: DataType): Column = t match {
    case DoubleType | FloatType =>
      when(c.isNull, lit("null")).when(isnan(c), lit("NaN"))
        .otherwise(format_string("%.9e", c.cast(DoubleType)))
    case ArrayType(et, _) => transform(c, x => canon(x, et))
    case StructType(fs) =>
      when(c.isNull, lit(null)).otherwise(struct(fs.toIndexedSeq.map(f => canon(c.getField(f.name), f.dataType).as(f.name)): _*))
    case MapType(kt, vt, _) =>
      array_sort(transform(map_entries(c), e => struct(canon(e.getField("key"), kt).as("k"),
        canon(e.getField("value"), vt).as("v"))))
    case _ => c
  }

  def contentHash(df: DataFrame): (Long, String) = {
    val cols = df.schema.fields.toIndexedSeq
    val rowHash =
      if (cols.isEmpty) lit(0L)
      else xxhash64(cols.map(f => canon(col(s"`${f.name}`"), f.dataType)) :+ lit(cols.map(_.name).mkString(",")): _*)
    val r = df.select(rowHash.as("h")).agg(count(lit(1)), sum(col("h").cast(DecimalType(38, 0))))
      .collect().head
    (r.getLong(0), Option(r.getDecimal(1)).map(_.toPlainString).getOrElse("0"))
  }

  // ---------------------------------------------------------------- run

  private def session(cpus: Int, work: Path): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.local.dir", work.resolve("local").toString)
      .config("spark.graft.statsDir", work.resolve("stats").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  private val tableNames = Seq("region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings")

  /** One set-up: session build, table registration, the engine's query
    * catalog and a trivial job. */
  private def setUp(cpus: Int, work: Path): SparkSession = {
    val spark = session(cpus, work)
    tableNames.foreach(t => graft.Tables.load(spark, dataDir, t).schema)
    SparkEntry.queries.size
    spark.range(0, 1000, 1, cpus).selectExpr("sum(id)").collect()
    spark
  }

  /** Queries outside both workloads, run once on the smallest tables
    * (`--warmup-data`): a sort with a limit, windows and a file round trip. */
  private val warmUpQueries = Seq("a03_top_revenue_orders", "x02_window_tumbling", "q21_orc_roundtrip")

  /** Untimed warm-up: a scan-shuffle-aggregate job, a stateful streaming
    * aggregate and a few queries outside the workloads, on the smallest
    * tables. Without it the first ops of a pass paid 1-4 s more for JIT and
    * codegen, and because the seed shuffles the order, which ops came first
    * moved a run's time by a fifth. */
  private def warmUp(spark: SparkSession, dir: String): Unit = {
    materialize(graft.Tables.lineitem(spark, dir).groupBy("l_returnflag")
      .agg(sum("l_quantity"), count(lit(1))).orderBy("l_returnflag"))
    val region = graft.Tables.region(spark, dir)
    spark.readStream.schema(region.schema).option("pathGlobFilter", "region.parquet").parquet(dir)
      .groupBy("r_regionkey").count()
      .writeStream.outputMode("complete").format("memory").queryName("perfbench_warmup")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start().awaitTermination()
    warmUpQueries.foreach(q => materialize(SparkEntry.queries(q)(spark, dir)))
    Layer.clear(spark)
  }

  private def vmHwmKb(): Long = {
    val f = Paths.get("/proc/self/status")
    if (!Files.exists(f)) -1L
    else Files.readAllLines(f).asScala.find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toLong).getOrElse(-1L)
  }

  /** Heap still live after a full collection: the memory the engine keeps
    * (cached Layers, broadcasts, state, bookkeeping). Unlike the resident
    * set, it does not depend on when the collector chose to grow the heap.
    * The collection runs twice, 100 ms apart (the poll period of Spark's
    * cleaner), so that the cleaner can drop the blocks of the broadcasts
    * and shuffles the first one freed; otherwise an op's figure carried
    * part of the op before it. */
  private def liveHeapBytes(): Long = {
    System.gc()
    Thread.sleep(100)
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
  }

  /** Non-heap memory (metaspace, code cache) and direct buffers. They only
    * grow while code is loaded and compiled, so they are read once, at the
    * end, where they no longer depend on the order the ops ran in. */
  private def offHeapBytes(): Long =
    ManagementFactory.getMemoryMXBean.getNonHeapMemoryUsage.getUsed +
      ManagementFactory.getPlatformMXBeans(classOf[BufferPoolMXBean]).asScala.map(_.getMemoryUsed).sum

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val workload = opt("workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val trace = opt.getOrElse("trace", "0") == "1"
    dataDir = opt("data")
    val work = Paths.get(opt("work")).toAbsolutePath
    val out = Paths.get(opt("out"))
    val launchMs = opt("launch-ms").toLong
    val cpus = Runtime.getRuntime.availableProcessors()
    Files.createDirectories(work)

    // set-up, several times: the first pays JVM start and class loading
    val setups = mutable.ArrayBuffer[Double]()
    var spark: SparkSession = null
    for (_ <- 1 to 3) {
      if (spark != null) { spark.stop(); SparkSession.clearActiveSession(); SparkSession.clearDefaultSession() }
      val s = System.nanoTime()
      spark = setUp(cpus, work)
      setups += (System.nanoTime() - s) / 1e9
    }
    val coldS = (System.currentTimeMillis() - launchMs) / 1e3 - setups.drop(1).sum
    val w0 = System.nanoTime()
    warmUp(spark, opt.getOrElse("warmup-data", dataDir))
    val warmUpS = (System.nanoTime() - w0) / 1e9
    install(spark)

    val rnd = new scala.util.Random(seed)
    val checkEvery = opt.getOrElse("check-every", "1").toInt
    val dump = opt.get("dump") // golden making: checked outputs as parquet
    var hashing = checkEvery > 0
    val passes = mutable.ArrayBuffer[Span]()
    val errors = mutable.LinkedHashMap[String, String]()
    val checks = mutable.LinkedHashMap[String, (Long, String)]()
    t0Ns = System.nanoTime()
    val storagePeak = new AtomicLong
    val framesPeak = new AtomicLong
    val liveHeapPeak = new AtomicLong
    def sampleStorage(): Unit = {
      val info = spark.sparkContext.getRDDStorageInfo
      storagePeak.accumulateAndGet(info.map(i => i.memSize + i.diskSize).sum, Math.max(_, _))
      framesPeak.accumulateAndGet(spark.sparkContext.getPersistentRDDs.size.toLong, Math.max(_, _))
    }

    /** One op: call, then materialize, both timed. The output-check hash
      * is taken afterwards in its own `check` span, and before it the live
      * heap after the op, in a `gc` span; the reported run time and task
      * time leave both out. */
    def runOp(op: Op, hashed: Option[() => DataFrame] = None): Option[DataFrame] =
      try {
        val (df, _) = span(spark, op.name, "op", op.layers) {
          val (d, _) = span(spark, op.name + ".call", "call", op.layers)(op.call(spark))
          if (d != null) span(spark, op.name + ".materialize", "materialize", op.layers)(materialize(d))
          d
        }
        if (traced) sampleStorage()
        // before the check: hashing an output can leave memory of its own
        span(spark, op.name + ".gc", "gc", Nil)(liveHeapPeak.accumulateAndGet(liveHeapBytes(), Math.max(_, _)))
        if (hashing && op.check && (op.name.hashCode & 0x7fffffff) % checkEvery == Math.floorMod(seed, checkEvery.toLong))
          span(spark, op.name + ".check", "check", Nil) {
            val out = hashed.map(_()).getOrElse(df)
            checks(op.name) = contentHash(out)
            dump.foreach(d => out.write.mode("overwrite").parquet(s"$d/${op.name}"))
          }
        Option(df)
      } catch {
        case e: Throwable =>
          errors(op.name) = e.toString.take(300)
          None
      }

    def mixPass(names: Seq[String]): Unit =
      rnd.shuffle(names).foreach { n =>
        Layer.clear(spark)
        runOp(queryOp(n))
      }

    /** The Insta layers, materialized in dependency order from a cleared
      * Layer cache, so each one costs what it adds on top of the layers
      * before it. */
    def layerProfile(): Unit = {
      Layer.clear(spark)
      val dir = dataDir
      Seq[(String, SparkSession => DataFrame)](
        "ordersI" -> (s => Insta.ordersI(s, dir)), "basket" -> (s => Insta.basket(s, dir)),
        "productFeatures" -> (s => Insta.productFeatures(s, dir)),
        "userOrderFeatures" -> (s => Insta.userOrderFeatures(s, dir)),
        "userPriorFeatures" -> (s => Insta.userPriorFeatures(s, dir)),
        "usersFinal" -> (s => Insta.usersFinal(s, dir)),
        "userProductFeatures" -> (s => Insta.userProductFeatures(s, dir)),
        "candidates" -> (s => Insta.candidates(s, dir, Seq(1L)))
      ).foreach { case (n, f) => runOp(Op(s"layer.$n", Seq("insta", s"insta.$n"), check = false)(f)) }
      Layer.clear(spark)
    }

    def pipelinePass(): Unit = {
      Layer.clear(spark)
      val dir = dataDir
      runOp(Op("ordersI.eval_set_counts", Seq("insta"), check = true)(s =>
        Insta.ordersI(s, dir).groupBy("eval_set").count()))
      runOp(Op("ReorderModel.metrics", Seq("ml.ReorderModel", "ml.metrics"), check = true)(s =>
        ReorderModel.metrics(s, dir)))
      // the feature matrix, assembled and cached as the pipeline does; the
      // check hashes the matrix itself
      val assembled = rnd.shuffle(Seq("train" -> 1L, "test" -> 2L)).map { case (n, es) =>
        var fm: DataFrame = null
        n -> runOp(Op(s"featureMatrix.$n", Seq("insta", "insta.featureMatrix"), check = true) { s =>
          fm = Insta.featureMatrix(s, dir, Seq(es))
          ReorderModel.assemble(fm).cache()
        }, hashed = Some(() => fm)).get
      }.toMap
      val testOrders = Insta.ordersI(spark, dir).filter(col("eval_set") === 2)
      val models = Seq[(String, DataFrame => org.apache.spark.ml.Transformer)](
        "rf" -> (d => ReorderModel.rf.fit(d)), "gbt" -> (d => ReorderModel.gbt.fit(d)),
        "dt" -> (d => ReorderModel.dt.fit(d)))
      rnd.shuffle(models).foreach { case (n, fit) =>
        var model: org.apache.spark.ml.Transformer = null
        runOp(Op(s"fit.$n", Seq("ml.ReorderModel", "ml.fit"), check = false) { _ =>
          model = fit(assembled("train"))
          null
        })
        val scored = runOp(Op(s"transform.$n", Seq("ml.ReorderModel", "ml.transform"), check = false)(_ =>
          model.transform(assembled("test")).select("orderID", "productID", "prediction")))
        runOp(Op(s"submission.$n", Seq("insta", "insta.submission"), check = true)(_ =>
          Insta.submission(testOrders, scored.get, "prediction", ReorderModel.threshold)))
      }
      assembled.values.foreach(_.unpersist())
    }

    val pass: () => Unit = workload match {
      case "reorder_pipeline" => () => pipelinePass()
      case "query_mix" => () => mixPass(queryMix)
      case other => sys.error(s"unknown workload $other")
    }
    def timedPass(): Span = {
      val (_, sp) = span(spark, s"pass${passes.length}", "pass", Nil) {
        try pass() catch { case e: Throwable => errors(s"pass${passes.length}") = e.toString.take(300) }
      }
      passes += sp
      hashing = false // every checked op is hashed once, in the first pass
      sp
    }

    // One pass per 40 s of measuring time asked for, at least one. The
    // count depends on --seconds only, never on how fast a pass ran, so a
    // faster engine does not get extra, warmer passes. A traced run makes
    // one traced pass, which is the first pass after the warm-up, as in an
    // untraced run; the pipeline's layer profile comes after it, so the
    // pass does not find its layers cached.
    traced = trace
    if (trace) {
      timedPass()
      if (workload == "reorder_pipeline") span(spark, "layers", "layers", Seq("insta"))(layerProfile())
    } else (1 to math.max(1, math.round(seconds / 40).toInt)).foreach(_ => timedPass())
    val hwm = vmHwmKb()
    val offHeap = offHeapBytes()
    Layer.clear(spark)
    spark.stop()

    // ------------------------------------------------------------ output
    val sb = new StringBuilder
    def str(s: String): String = "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
    def arr(xs: Iterable[String]): String = xs.mkString("[", ",", "]")
    def obj(kv: Iterable[(String, String)]): String = kv.map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")
    sb ++= obj(Seq(
      "workload" -> str(workload), "seed" -> seed.toString, "trace" -> trace.toString,
      "cpus" -> cpus.toString,
      "setup_s" -> arr(setups.map(_.toString)), "setup_cold_s" -> coldS.toString, "warmup_s" -> warmUpS.toString,
      "vm_hwm_kb" -> hwm.toString,
      "live_heap_peak_b" -> liveHeapPeak.get.toString, "off_heap_b" -> offHeap.toString,
      "layer_cache_peak_b" -> storagePeak.get.toString, "layer_frames_peak" -> framesPeak.get.toString,
      "batches" -> arr(C.batchLog.asScala.map { case (t, d) => s"[$t,$d]" }),
      "jvm_flags" -> arr(ManagementFactory.getRuntimeMXBean.getInputArguments.asScala.map(str)),
      "spans" -> arr(spans.map(s => obj(Seq(
        "id" -> s.id.toString, "parent" -> s.parent.toString, "name" -> str(s.name), "kind" -> str(s.kind),
        "layers" -> arr(s.layers.map(str)), "start_ns" -> s.startNs.toString, "end_ns" -> s.endNs.toString,
        "max_task_ms" -> s.maxTaskMs.toString, "traced" -> s.traced.toString,
        "counters" -> obj(s.counters.toSeq.sortBy(_._1).map { case (k, v) => k -> v.toString }))))),
      "errors" -> obj(errors.map { case (k, v) => k -> str(v) }),
      "checks" -> obj(checks.map { case (k, (n, h)) => k -> obj(Seq("rows" -> n.toString, "hash" -> str(h))) })))
    Files.write(out, sb.toString.getBytes("UTF-8"))
    dump.foreach { d =>
      val sql = SparkEntry.oracleSql.filter { case (k, _) => checks.contains(k) }
      Files.write(Paths.get(d, "oracle_sql.json"), obj(sql.toSeq.sorted.map { case (k, v) => k -> str(v) })
        .getBytes("UTF-8"))
    }
  }
}
