package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** JSON Lines source/sink — the interchange format LLM training corpora
  * actually ship in (one JSON object per line, gzip-friendly, splittable).
  *
  * Scale rules encoded here:
  *  - reads take an EXPLICIT schema: schema inference is a full extra pass
  *    over the data before the real scan — never acceptable at 100 TB;
  *  - line-delimited (multiLine=false), so the input splits at arbitrary
  *    byte offsets and parallelism follows file size, not file count
  *    (contrast with the reference's multiLine CSV, which pins one task
  *    per file);
  *  - malformed lines are CAPTURED, not dropped: PERMISSIVE mode routes
  *    the raw line into `_corrupt_record` so a curation pipeline can
  *    count/quarantine bad input instead of silently shrinking (same
  *    diagnostics contract as CsvReddit.readChecked).
  */
object JsonLines {

  val CorruptCol = "_corrupt_record"

  /** Write as JSON Lines, one object per row. Nulls are omitted per JSON
    * convention; readers with the matching schema restore them as NULL.
    */
  def write(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").json(path)

  /** Write as gzip-compressed JSON Lines (`part-*.json.gz`) — the shape
    * compressed corpus shards actually arrive in. The reader side needs no
    * new code: Spark selects the decompression codec by file extension,
    * so [[readClean]]/[[badRecords]] work on `.gz` paths unchanged.
    *
    * Scale tradeoff, stated plainly: gzip is NOT SPLITTABLE. A plain
    * JSONL file splits at arbitrary byte offsets (read parallelism follows
    * bytes); a `.json.gz` file is ONE stream → ONE task, so read
    * parallelism follows file COUNT. When producing shards for a 1000-
    * executor consumer, size the shard count to the consumer's
    * parallelism (`df.repartition(n)` before this call), not to the
    * writer's — a single 100 GB .gz shard serializes the whole downstream
    * scan behind one core.
    */
  def writeGzip(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").option("compression", "gzip").json(path)

  /** Clean rows only: the parser drops malformed lines in-stream
    * (DROPMALFORMED), so nothing is cached and no corrupt column exists —
    * the shape for the 100 TB read path. Pair with [[badRecords]] when the
    * dropped lines need accounting (Spark's file-level corrupt-record
    * column forbids corrupt-only queries without caching the parse, so the
    * diagnostics pass is a separate text-scan instead).
    */
  def readClean(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.read
      .schema(schema)
      .option("mode", "DROPMALFORMED")
      .json(path)

  /** Raw malformed lines — the quarantine/diagnostics side. A text scan
    * with `from_json` corrupt capture: fully streaming (no cache), blank
    * lines excluded (the line reader never yields them as records).
    *
    * Accounting caveat: this judges every line against the FULL schema.
    * A [[readClean]] query that prunes columns can keep a row whose
    * malformation lives only in an unread column (the parser never
    * touches it), so clean-count + bad-count may exceed the line count
    * for pruned projections — quarantine accounting is exact against
    * full-schema reads.
    */
  def badRecords(spark: SparkSession, path: String, schema: StructType): DataFrame = {
    import org.apache.spark.sql.functions._
    val withCorrupt = schema.add(CorruptCol, org.apache.spark.sql.types.StringType)
    val opts = Map("mode" -> "PERMISSIVE", "columnNameOfCorruptRecord" -> CorruptCol)
    spark.read.text(path)
      .filter(length(trim(col("value"))) > 0)
      .select(col("value"),
        from_json(col("value"), withCorrupt, opts).getField(CorruptCol).as("c"))
      .filter(col("c").isNotNull)
      .select(col("value").as(CorruptCol))
  }
}
