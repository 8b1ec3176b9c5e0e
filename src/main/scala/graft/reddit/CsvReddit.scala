package graft.reddit

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.Relational

/** S5 tolerant CSV ingest + S3 CSV sink, reproducing the Redshift COPY
  * contract (s3_to_redshift.py:205-224) on Spark's CSV source:
  *
  *  - `multiLine=true` — 157/183 records in tmp/20250324.csv span physical
  *    lines (embedded newlines in quoted selftext/title);
  *  - `EMPTYASNULL`/`BLANKSASNULL` — empty or whitespace-only fields → NULL;
  *  - `TRUNCATECOLUMNS` — silently cut strings to the declared varchar widths;
  *  - `ACCEPTINVCHARS AS ' '` — undecodable bytes (read as U+FFFD) → space;
  *  - `MAXERROR n` — tolerate up to n unparseable records, then fail;
  *  - `ACCEPTANYDATE`/`TIMEFORMAT 'auto'` — lenient timestamp cast, bad → NULL;
  *  - boolean quirk — "True"/"False" *strings* in the file (FIXTURES.md §1)
  *    parsed to BooleanType here, formatted back on write.
  *
  * Scale note: `multiLine=true` makes a CSV file non-splittable (one task per
  * file). That is inherent to the format, not the reader — the reference's
  * daily micro-batches (one file per run date) are the parallelism unit, and
  * everything downstream is parquet.
  */
object CsvReddit {

  /** More than `budget` corrupt records: the check reads at most
    * `budget + 1` of them, so it knows only that the budget is exceeded.
    */
  final case class ErrorBudgetExceeded(budget: Long)
    extends RuntimeException(s"CSV load: more than MAXERROR $budget corrupt records")

  /** A tolerated load plus its error diagnostics — the
    * `sys_load_error_detail` surface (check_load_errors,
    * s3_to_redshift.py:312-331): how many records were rejected and a
    * bounded sample of their raw text for inspection.
    */
  final case class Load(data: DataFrame, badCount: Long, badSample: Seq[String])

  private def rawRead(spark: SparkSession, path: String): DataFrame =
    spark.read
      .schema(RedditSchema.rawCsvSchema)
      .option("header", "true")
      .option("multiLine", "true")
      .option("quote", "\"")
      .option("escape", "\"")
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .csv(path)

  /** Tolerant read of a reference-format posts CSV. */
  def read(spark: SparkSession, path: String, maxError: Long = 100L): DataFrame =
    readChecked(spark, path, maxError).data

  /** [[read]] plus MAXERROR diagnostics: count and a bounded sample of the
    * rejected raw records. One bounded action reads at most `maxError + 1`
    * rejects, which serve as both the budget check and the sample.
    *
    * Both sides judge a row on the full raw schema, so a row counts as
    * corrupt exactly when the good-row filter drops it: the reject read
    * projects nothing away, and the parsed good rows are a lazy local
    * checkpoint, which computes every column once, on the first action
    * over them. (A column-pruned CSV scan misses malformed fields in the
    * columns it skips, and one that keeps only `_corrupt_record` is an
    * error.) The checkpoint also spares every later action a re-parse of
    * the file.
    */
  def readChecked(spark: SparkSession, path: String, maxError: Long = 100L,
                  sampleRows: Int = 5): Load = {
    val raw = rawRead(spark, path)
    val corrupt = col("_corrupt_record")
    // saturating +1: a budget of Int.MaxValue or more reads every reject
    val cap = if (maxError >= Int.MaxValue) Int.MaxValue else maxError.toInt + 1
    val rejects = raw.filter(corrupt.isNotNull).limit(cap).collect()
    if (rejects.length > maxError) throw ErrorBudgetExceeded(maxError)
    val sample = rejects.take(sampleRows).map(_.getAs[String]("_corrupt_record")).toSeq

    val good = raw.filter(corrupt.isNull).drop("_corrupt_record")
    Load(parse(good).localCheckpoint(eager = false), rejects.length.toLong, sample)
  }

  /** String-typed raw rows → typed schema with COPY null/truncation rules. */
  def parse(raw: DataFrame): DataFrame = {
    // EMPTYASNULL + BLANKSASNULL: whitespace-only → NULL (content otherwise
    // untouched — TRIMBLANKS trailing-blank removal would corrupt the
    // selftext_length parity and is not observable in any fixture). Each
    // step is one projection: a fold of withColumn re-analyses a growing
    // plan once per column.
    val nulled = raw.withColumns(RedditSchema.columns.map(c =>
      c -> when(trim(col(c)) === "", lit(null)).otherwise(col(c))).toMap)
    // ACCEPTINVCHARS AS ' ': invalid UTF-8 arrives as U+FFFD from the reader
    val scrubbed = Relational.scrubInvalidChars(nulled, Seq("title", "selftext", "author", "url"))
    // TRUNCATECOLUMNS
    val truncated = Relational.truncateVarchar(scrubbed, RedditSchema.varcharWidths)

    def bool(c: String) =
      when(lower(col(c)) === "true", lit(true))
        .when(lower(col(c)) === "false", lit(false))
        .otherwise(lit(null).cast("boolean"))

    truncated.select(
      col("id"),
      col("title"),
      col("score").cast("int").as("score"),
      col("num_comments").cast("int").as("num_comments"),
      col("author"),
      // lenient cast = ACCEPTANYDATE/TIMEFORMAT auto: handles both
      // "yyyy-MM-dd HH:mm:ss" and ".SSSSSS", anything else → NULL
      col("created_utc").cast("timestamp").as("created_utc"),
      col("url"),
      col("upvote_ratio").cast("double").as("upvote_ratio"),
      bool("over_18").as("over_18"),
      bool("spoiler").as("spoiler"),
      bool("stickied").as("stickied"),
      col("selftext"),
      col("subreddit"),
      col("extraction_timestamp").cast("timestamp").as("extraction_timestamp"),
      col("selftext_length").cast("int").as("selftext_length"),
      bool("is_nsfw").as("is_nsfw"))
  }

  /** S3/S9 header probe: column names of a CSV without reading the body. */
  def headerProbe(spark: SparkSession, path: String): Seq[String] =
    spark.read.option("header", "true").option("multiLine", "true")
      .option("quote", "\"").option("escape", "\"")
      .csv(path).columns.toSeq

  /** S10 raw-line inspection (first n physical lines, unparsed). */
  def rawLines(spark: SparkSession, path: String, n: Int): DataFrame =
    spark.read.text(path).limit(n)

  /** S3 CSV sink — writes the typed table back in the reference's file
    * format: header row, RFC-4180 quoting, booleans as literal
    * "True"/"False", µs-precision extraction timestamps.
    */
  def write(df: DataFrame, path: String): Unit = {
    val out = RedditSchema.booleanColumns.foldLeft(df)((d, c) =>
      d.withColumn(c,
        when(col(c) === true, "True").when(col(c) === false, "False")
          .otherwise(lit(null).cast("string"))))
      .withColumn("created_utc", date_format(col("created_utc"), "yyyy-MM-dd HH:mm:ss"))
      .withColumn("extraction_timestamp",
        date_format(col("extraction_timestamp"), "yyyy-MM-dd HH:mm:ss.SSSSSS"))
    out.coalesce(1).write.mode("overwrite")
      .option("header", "true")
      .option("quote", "\"")
      .option("escape", "\"")
      .csv(path)
  }
}
