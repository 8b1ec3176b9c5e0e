package graft.reddit

import java.nio.file.{Files, Paths}
import java.time.LocalDate

import org.apache.spark.sql.functions._

import graft.SparkTestBase

/** S5 tolerant-ingest contract, proven on the reference's own fixture files
  * (read-only at /root/reference — real extracted data, heavy embedded
  * newlines). Those files are not in the repository: a case that reads them
  * is cancelled where they are not mounted. Each case whose assertions hold
  * for any extract in the format runs a second time, named
  * "... (generated extract)", on [[RefExtract.later]].
  */
class CsvRedditSpec extends SparkTestBase {

  private val fix20250324 = "/root/reference/tmp/20250324.csv"
  private val fix20250318 = "/root/reference/tmp/20250318.csv"

  private def assumeReadable(fix: String): Unit =
    assume(Files.isReadable(Paths.get(fix)), s"$fix is not in the repository")

  /** Registers `name` on the reference's `fix` and `name (generated
    * extract)` on a generated extract, with the same body.
    */
  private def testOnFixtureAndExtract(name: String, fix: String)(body: String => Unit): Unit = {
    test(name) { assumeReadable(fix); body(fix) }
    test(s"$name (generated extract)") { body(RefExtract.later()) }
  }

  test("multiline fixture: 2,840 physical lines parse to 183 logical rows") {
    assumeReadable(fix20250324)
    val df = CsvReddit.read(spark, fix20250324)
    assert(df.count() == 183L)
  }

  testOnFixtureAndExtract(
      "schema is the canonical 16 columns with parsed types", fix20250318) { fix =>
    val df = CsvReddit.read(spark, fix)
    assert(df.columns.toSeq == RedditSchema.columns)
    val t = df.schema.fields.map(f => f.name -> f.dataType.typeName).toMap
    assert(t("score") == "integer")
    assert(t("upvote_ratio") == "double")
    assert(t("created_utc") == "timestamp")
    assert(t("over_18") == "boolean")
  }

  test("EMPTYASNULL/BLANKSASNULL: empty author (deleted account) is NULL after parse") {
    assumeReadable(fix20250324)
    val df = CsvReddit.read(spark, fix20250324)
    // exactly one deleted-account row in the fixture has an empty author
    // field → NULL at ingest (P2-style fills are downstream transforms,
    // not ingest defaults)
    assert(df.filter(col("author").isNull).count() == 1)
  }

  test("booleans parse from True/False strings; no stray values") {
    assumeReadable(fix20250324)
    val df = CsvReddit.read(spark, fix20250324)
    val nBool = df.filter(col("over_18").isNotNull).count()
    assert(nBool == 183L) // every fixture row carries a parseable flag
  }

  testOnFixtureAndExtract(
      "timestamps parse at both precisions (seconds and microseconds)", fix20250324) { fix =>
    val df = CsvReddit.read(spark, fix)
    assert(df.filter(col("created_utc").isNull).count() == 0)
    assert(df.filter(col("extraction_timestamp").isNull).count() == 0)
    // µs precision survives: extraction timestamps differ below the second
    val micros = df.select((unix_micros(col("extraction_timestamp")) % 1000000L).as("us"))
      .filter(col("us") =!= 0L).count()
    assert(micros > 0)
  }

  testOnFixtureAndExtract("TRUNCATECOLUMNS: declared widths are enforced", fix20250324) { fix =>
    val df = CsvReddit.read(spark, fix)
    val over = df.filter(length(col("title")) > 4000 || length(col("author")) > 100).count()
    assert(over == 0)
  }

  testOnFixtureAndExtract(
      "MAXERROR: a budget of 0 still accepts a clean file", fix20250318) { fix =>
    val df = CsvReddit.read(spark, fix, maxError = 0)
    assert(df.count() > 0)
  }

  /** A reference-format CSV: `good` generated rows, then `corrupt` rows
    * with too many fields (the classic COPY reject).
    */
  private def corruptCsv(good: Int, corrupt: Int): String = {
    val tooMany = (1 to corrupt).map(i => (Seq(s"badid$i") ++ Seq.fill(20)("x")).mkString(","))
    RefExtract.write("bad.csv", RefExtract.rows(LocalDate.of(2025, 3, 20), 1 to good) ++ tooMany)
  }

  test("badRecords surfaces the rejected raw rows (sys_load_error_detail parity)") {
    // a deliberately corrupt fixture: one good row, one row with too many
    // fields
    val p = corruptCsv(good = 1, corrupt = 1)

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
    val p = corruptCsv(good = 2, corrupt = 5)
    val e = intercept[CsvReddit.ErrorBudgetExceeded] {
      CsvReddit.readChecked(spark, p, maxError = 2)
    }
    assert(e.budget == 2L && e.getMessage.contains("more than MAXERROR 2"))
    // the budget is inclusive: exactly maxError rejects load
    val ok = CsvReddit.readChecked(spark, p, maxError = 5, sampleRows = 3)
    assert(ok.badCount == 5L && ok.badSample.length == 3 && ok.data.count() == 2L)
  }

  testOnFixtureAndExtract(
      "header probe reads column names without parsing the body", fix20250318) { fix =>
    assert(CsvReddit.headerProbe(spark, fix) == RedditSchema.columns)
  }

  testOnFixtureAndExtract(
      "CSV round-trip: write then read preserves rows and key values", fix20250318) { fix =>
    val df = CsvReddit.read(spark, fix)
    val out = java.nio.file.Files.createTempDirectory("csvrt").toString + "/out"
    CsvReddit.write(df, out)
    val back = CsvReddit.read(spark, out)
    assert(back.count() == df.count())
    val a = df.select("id", "score", "selftext_length").orderBy("id").collect().toSeq
    val b = back.select("id", "score", "selftext_length").orderBy("id").collect().toSeq
    assert(a == b)
  }
}
