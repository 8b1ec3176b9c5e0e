package graft.reddit

import java.sql.Timestamp

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.operators.Relational

/** The extraction-side transform chain (P2-P8, P11, P14 —
  * extract-from-reddit.py:128-179), column-presence-guarded exactly like the
  * reference's `if 'col' in df.columns` defensive style, so partial payloads
  * flow through instead of failing.
  *
  * The clock is injectable (P6): `datetime.now()` in the reference, a fixed
  * timestamp in tests — current_timestamp() would make every run
  * unreproducible.
  */
object Enrich {

  private def ifPresent(df: DataFrame, c: String)(f: DataFrame => DataFrame): DataFrame =
    if (df.columns.contains(c)) f(df) else df

  /** P2: selftext.fillna('') (extract-from-reddit.py:136). */
  def fillSelftext(df: DataFrame): DataFrame =
    ifPresent(df, "selftext")(_.na.fill("", Seq("selftext")))

  /** P3: selftext_length = len(selftext) (:137). */
  def selftextLength(df: DataFrame): DataFrame =
    ifPresent(df, "selftext")(
      _.withColumn("selftext_length", length(coalesce(col("selftext"), lit("")))))

  /** P4: epoch seconds → timestamp (:94-95; UTC here, not local time). */
  def epochToTimestamp(df: DataFrame, c: String = "created_utc"): DataFrame =
    ifPresent(df, c)(_.withColumn(c, to_timestamp(from_unixtime(col(c)))))

  /** P5: author → string, nulls preserved (deleted accounts, :97-99). */
  def authorToString(df: DataFrame): DataFrame =
    ifPresent(df, "author")(_.withColumn("author", col("author").cast("string")))

  /** P6: injectable extraction timestamp (:115). */
  def stampExtraction(df: DataFrame, now: Timestamp): DataFrame =
    df.withColumn("extraction_timestamp", lit(now))

  /** P7: is_nsfw = over_18 (:165-166). */
  def aliasNsfw(df: DataFrame): DataFrame =
    ifPresent(df, "over_18")(_.withColumn("is_nsfw", col("over_18")))

  /** P8: fillna(0) over the numeric trio (:169-172). */
  def fillNumerics(df: DataFrame): DataFrame = {
    val ints = Seq("score", "num_comments").filter(df.columns.contains)
    val dbls = Seq("upvote_ratio").filter(df.columns.contains)
    df.na.fill(0, ints).na.fill(0.0, dbls)
  }

  /** P11 (†): date parts off created_utc (:143-149). */
  def dateParts(df: DataFrame): DataFrame =
    ifPresent(df, "created_utc")(Relational.dateParts(_, "created_utc"))

  /** P14: yyyyMMdd run id (:259, upload_to_s3.py:41). */
  def runId(ts: Column): Column = date_format(ts, "yyyyMMdd")

  /** The full reference chain in reference order (transform_data,
    * extract-from-reddit.py:128-179).
    */
  def transform(df: DataFrame, now: Timestamp): DataFrame = {
    val steps: Seq[DataFrame => DataFrame] = Seq(
      fillSelftext, selftextLength, authorToString,
      stampExtraction(_, now), aliasNsfw, fillNumerics)
    steps.foldLeft(df)((d, f) => f(d))
  }
}
