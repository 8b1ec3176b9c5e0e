package graft.reddit

import org.apache.spark.sql.functions._

import graft.SparkTestBase

/** S5 tolerant-ingest contract, proven on the reference's own fixture files
  * (read-only at /root/reference — real extracted data, heavy embedded
  * newlines).
  */
class CsvRedditSpec extends SparkTestBase {

  private val fix20250324 = "/root/reference/tmp/20250324.csv"
  private val fix20250318 = "/root/reference/tmp/20250318.csv"

  test("multiline fixture: 2,840 physical lines parse to 183 logical rows") {
    val df = CsvReddit.read(spark, fix20250324)
    assert(df.count() == 183L)
  }

  test("schema is the canonical 16 columns with parsed types") {
    val df = CsvReddit.read(spark, fix20250318)
    assert(df.columns.toSeq == RedditSchema.columns)
    val t = df.schema.fields.map(f => f.name -> f.dataType.typeName).toMap
    assert(t("score") == "integer")
    assert(t("upvote_ratio") == "double")
    assert(t("created_utc") == "timestamp")
    assert(t("over_18") == "boolean")
  }

  test("EMPTYASNULL/BLANKSASNULL: empty author (deleted account) is NULL after parse") {
    val df = CsvReddit.read(spark, fix20250324)
    // exactly one deleted-account row in the fixture has an empty author
    // field → NULL at ingest (P2-style fills are downstream transforms,
    // not ingest defaults)
    assert(df.filter(col("author").isNull).count() == 1)
  }

  test("booleans parse from True/False strings; no stray values") {
    val df = CsvReddit.read(spark, fix20250324)
    val nBool = df.filter(col("over_18").isNotNull).count()
    assert(nBool == 183L) // every fixture row carries a parseable flag
  }

  test("timestamps parse at both precisions (seconds and microseconds)") {
    val df = CsvReddit.read(spark, fix20250324)
    assert(df.filter(col("created_utc").isNull).count() == 0)
    assert(df.filter(col("extraction_timestamp").isNull).count() == 0)
    // µs precision survives: extraction timestamps differ below the second
    val micros = df.select((unix_micros(col("extraction_timestamp")) % 1000000L).as("us"))
      .filter(col("us") =!= 0L).count()
    assert(micros > 0)
  }

  test("TRUNCATECOLUMNS: declared widths are enforced") {
    val df = CsvReddit.read(spark, fix20250324)
    val over = df.filter(length(col("title")) > 4000 || length(col("author")) > 100).count()
    assert(over == 0)
  }

  test("MAXERROR: a budget of 0 still accepts a clean file") {
    val df = CsvReddit.read(spark, fix20250318, maxError = 0)
    assert(df.count() > 0)
  }

  /** A reference-format CSV: one good row per id, then `corrupt` rows with
    * too many fields (the classic COPY reject).
    */
  private def corruptCsv(ids: Seq[String], corrupt: Int): String = {
    val p = java.nio.file.Files.createTempDirectory("csvbad").resolve("bad.csv")
    val header = RedditSchema.columns.mkString(",")
    val good = ids.map(id => Seq(id, "a title", "5", "2", "alice", "2025-03-20 10:00:00",
      "http://x", "0.9", "False", "False", "False", "body", "stocks",
      "2025-03-20 11:00:00.123456", "4", "False").mkString(","))
    val tooMany = (1 to corrupt).map(i => (Seq(s"badid$i") ++ Seq.fill(20)("x")).mkString(","))
    java.nio.file.Files.writeString(p, (header +: (good ++ tooMany)).mkString("", "\n", "\n"))
    p.toString
  }

  test("badRecords surfaces the rejected raw rows (sys_load_error_detail parity)") {
    // a deliberately corrupt fixture: one good row, one row with too many
    // fields
    val p = corruptCsv(Seq("okid1"), corrupt = 1)

    val load = CsvReddit.readChecked(spark, p, maxError = 10)
    assert(load.data.count() == 1L)
    assert(load.badCount == 1L)
    assert(load.badSample.length == 1 && load.badSample.head.startsWith("badid1"))

    // the pipeline surfaces the diagnostics in its Result
    val root = java.nio.file.Files.createTempDirectory("posts_bad").toString
    val r = Pipeline.run(spark, p, root)
    assert(r.badRecords == 1L && r.loaded == 1L)
    assert(r.badSample.length == 1 && r.badSample.head.startsWith("badid1"))
  }

  test("MAXERROR: more rejects than the budget's bounded read still fail the load") {
    // the check reads at most maxError + 1 rejects; 5 rejects against a
    // budget of 2 must fail, not stop at the cap and pass
    val p = corruptCsv(Seq("okid1", "okid2"), corrupt = 5)
    val e = intercept[CsvReddit.ErrorBudgetExceeded] {
      CsvReddit.readChecked(spark, p, maxError = 2)
    }
    assert(e.budget == 2L && e.getMessage.contains("more than MAXERROR 2"))
    // the budget is inclusive: exactly maxError rejects load
    val ok = CsvReddit.readChecked(spark, p, maxError = 5, sampleRows = 3)
    assert(ok.badCount == 5L && ok.badSample.length == 3 && ok.data.count() == 2L)
  }

  test("header probe reads column names without parsing the body") {
    assert(CsvReddit.headerProbe(spark, fix20250318) == RedditSchema.columns)
  }

  test("CSV round-trip: write then read preserves rows and key values") {
    val df = CsvReddit.read(spark, fix20250318)
    val out = java.nio.file.Files.createTempDirectory("csvrt").toString + "/out"
    CsvReddit.write(df, out)
    val back = CsvReddit.read(spark, out)
    assert(back.count() == df.count())
    val a = df.select("id", "score", "selftext_length").orderBy("id").collect().toSeq
    val b = back.select("id", "score", "selftext_length").orderBy("id").collect().toSeq
    assert(a == b)
  }
}
