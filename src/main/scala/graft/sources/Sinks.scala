package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SaveMode}
import org.apache.spark.sql.functions.{col, lit, shiftleft, shiftright}

/** Sinks (SURVEY.md §2.1 S6–S8): the reference ended every path in a
  * driver-side collect (toPandas / print / dict). The engine's terminal
  * operations stay distributed — parquet writes with layout control.
  *
  * Layout is the scale lever: partitionBy turns a predicate on the
  * partition column into directory pruning (no files opened), bucketing
  * pre-shuffles by join key so co-bucketed joins skip their Exchange.
  */
object Sinks {

  def parquet(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").parquet(path)

  /** Hive-style partition layout: one directory per distinct value tuple.
    * Use for low-cardinality pruning columns (date, eval_set, lang).
    */
  def parquetPartitioned(df: DataFrame, path: String, cols: Seq[String]): Unit =
    df.write.mode("overwrite").partitionBy(cols: _*).parquet(path)

  /** Small-files compaction — the maintenance pass every long-running
    * ingest needs: a source landing thousands of tiny files per hour
    * destroys scan parallelism bookkeeping (one task per file, footer
    * reads dominate) and NameNode/listing pressure. Rewrite to
    * ~`targetBytesPerFile` outputs: file count derives from the INPUT's
    * actual on-disk size when the plan exposes it (sum of scanned file
    * sizes — no extra job), falling back to a count-based row-size
    * estimate otherwise. A plain `repartition(n)` round-robins rows, so
    * output files are uniformly sized regardless of input fragmentation.
    */
  def compacted(df: DataFrame, path: String,
                targetBytesPerFile: Long = 128L * 1024 * 1024): Unit = {
    val scannedBytes = df.queryExecution.executedPlan.collectLeaves().flatMap {
      case f: org.apache.spark.sql.execution.FileSourceScanExec =>
        Some(f.relation.location.sizeInBytes)
      case _ => None
    }.sum
    val bytes =
      if (scannedBytes > 0) scannedBytes
      else df.count() * 256L // conservative fallback: ~256 B/row estimate
    val files = graft.Sizing.partitions(bytes, targetBytesPerFile, Int.MaxValue)
    df.repartition(files).write.mode(SaveMode.Overwrite).parquet(path)
  }

  /** Range-clustered layout — sort-by-write for HIGH-cardinality filter
    * columns where partitionBy would explode the directory count: rows
    * range-partition on `cols` and sort within each file, so every file's
    * parquet row-group min/max stats cover a narrow, disjoint slice of
    * the domain. A pushed point/range predicate then prunes whole row
    * groups at the reader (no rows decoded), where the same data written
    * round-robin decodes everything — the Z-order/liquid-clustering idea
    * in its one-column Spark-native form. SourcesSpec measures the scan's
    * numOutputRows dropping accordingly.
    */
  def clustered(df: DataFrame, path: String, cols: Seq[String],
                files: Int): Unit = {
    import org.apache.spark.sql.functions.col
    val cs = cols.map(col)
    df.repartitionByRange(files, cs: _*)
      .sortWithinPartitions(cs: _*)
      .write.mode(SaveMode.Overwrite).parquet(path)
  }

  /** Z-order clustered layout — the MULTI-dimension extension of
    * [[clustered]] (Delta's OPTIMIZE ZORDER idea in Spark-native form):
    * the low `bits` bits of two dimensions interleave into one Morton
    * code, rows range-partition and sort on it, and the code itself is
    * dropped before the write — the layout is the artifact, not a column.
    * A contiguous z-range covers a bounded RECTANGLE of the (A, B) grid,
    * so every file/row-group's per-column min/max stats are narrow in
    * BOTH dimensions at once — a pushed predicate on either dimension
    * alone prunes row groups, where a single-column sort serves only its
    * own column. Dimensions must be non-negative; values ≥ 2^bits share
    * high-order cells (graceful degradation, same as any fixed-precision
    * curve). SourcesSpec measures decoded-row pruning on both dimensions
    * against a round-robin layout of the same data.
    */
  def zOrdered(df: DataFrame, path: String, dimA: Column, dimB: Column,
               files: Int, bits: Int = 8): Unit = {
    import org.apache.spark.sql.functions.{broadcast, floor, least, max, min}
    // Normalize each dimension to a dense [0, 2^bits) grid first — raw
    // interleaving of mismatched magnitudes (user_id ≤ 150 vs epoch-day
    // ≈ 19 700) lets the larger dimension's high bits dominate the code
    // and the curve degenerates to a single-column sort. This is why
    // production z-ordering interleaves range-partition RANKS, not raw
    // values; min/max arrive as a one-row broadcast.
    val cells = 1L << bits
    val stats = df.agg(min(dimA).as("__a_lo"), max(dimA).as("__a_hi"),
      min(dimB).as("__b_lo"), max(dimB).as("__b_hi"))
    def norm(v: Column, lo: Column, hi: Column): Column =
      least(floor((v - lo) * cells / (hi - lo + 1L)), lit(cells - 1)).cast("long")
    val a = norm(dimA, col("__a_lo"), col("__a_hi"))
    val b = norm(dimB, col("__b_lo"), col("__b_hi"))
    val z = (0 until bits).map { i =>
      shiftleft(shiftright(a, i).bitwiseAND(lit(1L)), 2 * i)
        .bitwiseOR(shiftleft(shiftright(b, i).bitwiseAND(lit(1L)), 2 * i + 1))
    }.reduce(_ bitwiseOR _)
    df.crossJoin(broadcast(stats))
      .withColumn("__z", z)
      .repartitionByRange(files, col("__z"))
      .sortWithinPartitions("__z")
      .drop("__z", "__a_lo", "__a_hi", "__b_lo", "__b_hi")
      .write.mode(SaveMode.Overwrite).parquet(path)
  }

  /** Bucketed managed table: rows hash-distributed into `n` buckets by
    * `bucketCols` and sorted within each — two tables bucketed the same way
    * join without a shuffle. Requires saveAsTable (bucket metadata lives in
    * the catalog).
    */
  def bucketedTable(df: DataFrame, table: String, bucketCols: Seq[String],
                    n: Int): Unit =
    df.write.mode("overwrite")
      .bucketBy(n, bucketCols.head, bucketCols.tail: _*)
      .sortBy(bucketCols.head, bucketCols.tail: _*)
      .format("parquet")
      .saveAsTable(table)
}
