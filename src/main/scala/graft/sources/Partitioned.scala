package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Hive-layout partitioned parquet: directory-per-value on a low-
  * cardinality derived key (`month=2024-01/…`), the lakehouse fact-table
  * layout that turns partition-key predicates into LISTING-level pruning
  * — and, crucially, lets Spark's DYNAMIC partition pruning skip fact
  * partitions from a runtime-computed dim side (the broadcast result is
  * reused as a partition filter subquery; `PlanQualitySpec` asserts the
  * `dynamicpruning` expression lands in the scan's PartitionFilters).
  *
  * Partition-count discipline at 100 TB: the key must be bounded (months,
  * regions, shards — hundreds, not millions); a high-cardinality key
  * explodes the listing and the small-file count. Callers derive the key
  * (e.g. `date_format(ship_date, "yyyy-MM")`) BEFORE writing so the
  * stored column and the directory agree.
  */
object Partitioned {

  def write(df: DataFrame, partitionCol: String, path: String): Unit =
    // hash-partition on the key BEFORE partitionBy: without it every
    // write task opens a file in every partition directory — tasks ×
    // partitions small files, the classic lakehouse write anti-pattern.
    // With it each partition value lands in one task → one file.
    df.repartition(org.apache.spark.sql.functions.col(partitionCol))
      .write.mode("overwrite").partitionBy(partitionCol).parquet(path)

  def read(spark: SparkSession, path: String): DataFrame =
    Tables.parquet(spark, path)
}
