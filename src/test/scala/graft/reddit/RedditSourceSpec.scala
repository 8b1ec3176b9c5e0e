package graft.reddit

import java.nio.file.{Files, Paths}
import java.sql.Timestamp

import org.apache.spark.sql.Row

import graft.SparkTestBase

/** The source contract, on the reference's own fixture file, which is not in
  * the repository: a case that reads it is cancelled where it is not
  * mounted. The JSON round-trip also runs, named "... (generated extract)",
  * on a generated extract of the same format ([[RefExtract.later]]).
  */
class RedditSourceSpec extends SparkTestBase {

  private val fix = "/root/reference/tmp/20250324.csv"
  // fixture extraction ran 2025-03-24; a "week" window ending then covers most rows
  private val now = Timestamp.valueOf("2025-03-24 23:59:59")

  private def assumeFixture(): Unit =
    assume(Files.isReadable(Paths.get(fix)), s"$fix is not in the repository")

  test("top(time_filter, limit): trailing window + ranked top-N") {
    assumeFixture()
    val src = RedditSource.fixture(fix)
    val week = RedditSource.scan(spark, src, "stocks", "week", 10, now)
    val rows = week.collect()
    assert(rows.length == 10)
    // ranked by score desc
    val scores = rows.map(_.getAs[Int]("score")).toSeq
    assert(scores == scores.sorted.reverse)
    // all inside the window
    val weekAgo = Timestamp.valueOf("2025-03-17 23:59:59")
    assert(rows.forall(r => !r.getAs[Timestamp]("created_utc").before(weekAgo)))

    // a narrower window yields a subset
    val day = RedditSource.scan(spark, src, "stocks", "day", 1000, now)
    assert(day.count() <= week.count() + 1000) // sanity
    assert(day.count() < 183)
  }

  private def jsonRoundTrip(csv: String): Unit = {
    val df = CsvReddit.read(spark, csv)
    val dir = java.nio.file.Files.createTempDirectory("jsonfix").toString + "/posts"
    df.coalesce(1).write.json(dir)
    val back = RedditSource.jsonFixture(dir).posts(spark, "stocks")
    assert(back.count() == df.count())
    assert(back.schema == RedditSchema.schema ||
      back.columns.toSeq == RedditSchema.columns)
    val top = RedditSource.top(back, "week", 5, now).collect()
    assert(top.length == 5)
  }

  test("json fixture source round-trips the canonical schema") {
    assumeFixture()
    jsonRoundTrip(fix)
  }

  test("json fixture source round-trips the canonical schema (generated extract)") {
    jsonRoundTrip(RefExtract.later())
  }

  test("unknown time_filter is rejected") {
    intercept[IllegalArgumentException] {
      RedditSource.top(spark.createDataFrame(spark.sparkContext.emptyRDD[Row], RedditSchema.schema),
        "fortnight", 5, now)
    }
  }

  test("S3 layout: one object per run date, yyyyMMdd key") {
    assert(S3Layout.dailyKey(java.time.LocalDate.of(2025, 3, 24)) == "20250324.csv")
    assert(S3Layout.dailyPath("s3a://bkt", java.time.LocalDate.of(2025, 3, 24))
      == "s3a://bkt/20250324.csv")
  }
}
