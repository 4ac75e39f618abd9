package graft

import org.apache.spark.sql.SparkSession

/** How many partitions a given number of input bytes gets. One rule
  * serves the scale-adaptive spreads (the LM docs frame, the embedding
  * moment pass), the stateful streaming shuffle and file compaction.
  *
  * Only the measured BYTES are memoized (per path, per JVM): the session
  * settings that cap and gate the count are read on every call, so a
  * session with a different `spark.sql.shuffle.partitions` or
  * `spark.sql.files.maxPartitionBytes` gets its own answer.
  */
object Sizing {

  /** ceil(bytes / targetBytes), clamped into [floor, cap]; the floor wins
    * when the cap is below it.
    */
  def partitions(bytes: Long, targetBytes: Long, cap: Long, floor: Long = 1L): Int = {
    val want = bytes / targetBytes + (if (bytes % targetBytes > 0) 1L else 0L)
    math.max(floor, math.min(cap, want)).toInt
  }

  /** Hash-spread width for a scan of `bytes`: [[partitions]] capped by the
    * cluster parallelism, or 0 when the scan itself already splits at
    * least that wide (bytes / maxPartitionBytes ≥ width) — at fleet scale
    * the input is never shuffled for parallelism it already has.
    */
  def spread(bytes: Long, targetBytes: Long, cap: Long, maxPartitionBytes: Long): Int = {
    val want = partitions(bytes, targetBytes, cap)
    if (bytes / maxPartitionBytes >= want) 0 else want
  }

  /** [[spread]] for the file or directory at `path`, under this session's
    * shuffle partitions and scan split size.
    */
  def spread(spark: SparkSession, path: String, targetBytes: Long): Int = {
    val conf = spark.sessionState.conf
    spread(bytes(spark, path), targetBytes, conf.numShufflePartitions, conf.filesMaxPartitionBytes)
  }

  private val measured = new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()

  /** On-disk bytes under `path` (0 when it cannot be read), measured once. */
  def bytes(spark: SparkSession, path: String): Long =
    measured.computeIfAbsent(path, _ => {
      val p = new org.apache.hadoop.fs.Path(path)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      try fs.getContentSummary(p).getLength catch { case _: Exception => 0L }
    })
}
