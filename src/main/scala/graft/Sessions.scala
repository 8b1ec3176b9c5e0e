package graft

import org.apache.spark.sql.SparkSession

/** Session factory: every session of the engine, its mains and its tests
  * comes from [[local]], so they all run one engine.
  *
  * Tuned for the target deployment (many-executor cluster, ~100 TB) but
  * runnable on local[N]: AQE handles runtime re-planning (partition
  * coalescing, skew-join splitting), shuffle partitions default to the
  * local core count instead of 200, and the session timezone is pinned
  * to UTC so timestamp semantics are machine-independent. Sessions carry
  * [[GraftExtensions]]: the SQL-surface kernels and the [[SortOnce]] rule.
  */
object Sessions {
  def local(appName: String = "graft", cores: String = defaultCores): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(appName)
      .withExtensions(new GraftExtensions())
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.parquet.compression.codec", "zstd")
      // runtime bloom filters: a selective join side injects a semi-join
      // filter into the big side's scan — the mechanism that keeps
      // verification joins (LSH candidates ⋈ token arrays) from reading
      // the whole corpus at 100 TB; off by default in Spark
      .config("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** `SPARK_GRAFT_CPUS` if set, else this machine's processor count. */
  def defaultCores: String =
    sys.env.getOrElse("SPARK_GRAFT_CPUS", Runtime.getRuntime.availableProcessors.toString)
}
