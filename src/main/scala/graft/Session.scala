package graft

import org.apache.spark.sql.SparkSession

/** How a graft session is shaped, in one place. Every main and the test
  * suites get their session from [[local]]; query code that must change
  * a session setting for one run goes through [[withConf]], and the
  * connector catalog is registered by [[registerCatalog]].
  */
object Session {

  /** The local session every main runs on: `local[cpus]`, UTC session
    * time, testdata parquet read as the DuckDB oracle reads it (naive
    * timestamp[us] as TIMESTAMP at the UTC zone, nanos as BIGINT), no UI.
    * `getOrCreate`, so a second call in one JVM returns the live session.
    */
  def local(cpus: Int, shufflePartitions: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** One shuffle partition per core — the shape Bench and Verify run. */
  def local(cpus: Int): SparkSession = local(cpus, cpus)

  /** A main's core count: `SPARK_GRAFT_CPUS`, else `default`. */
  def envCpus(default: Int): Int =
    sys.env.getOrElse("SPARK_GRAFT_CPUS", default.toString).toInt

  /** Run `body` with the given session settings, then put each key back:
    * its previous value, or unset if it had none. The settings are
    * session-wide, so a query run concurrently on the same session sees
    * them while `body` runs.
    */
  def withConf[T](spark: SparkSession, settings: (String, String)*)(body: => T): T = {
    val conf = spark.conf
    val prev = settings.map { case (k, _) => k -> conf.getOption(k) }
    settings.foreach { case (k, v) => conf.set(k, v) }
    try body finally prev.foreach {
      case (k, Some(v)) => conf.set(k, v)
      case (k, None) => conf.unset(k)
    }
  }

  /** Register the `graft` connector catalog ([[graft.sources.GraftCatalog]])
    * rooted in this process's scratch dir. Idempotent.
    */
  def registerCatalog(spark: SparkSession): Unit = {
    spark.conf.set("spark.sql.catalog.graft", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.graft.root", s"${RunScoped.ioDir}/catalog")
  }
}
