package graft

/** End-to-end of the `spark.sql.extensions=graft.GraftExtensions`
  * deployment path: the shared test session is built with the extensions
  * installed, and every injected kernel must answer SQL.
  */
class GraftExtensionsSpec extends SparkTestBase {

  test("every extension-injected kernel answers on the SQL surface") {
    val row = spark.sql(
      """SELECT
        |  simhash64(array('a', 'b')) AS sh,
        |  rolling_hash64('abc') AS rh,
        |  lang_id('the quick brown fox and the lazy dog') AS lang,
        |  cosine_f32(array(CAST(1.0 AS FLOAT), CAST(0.0 AS FLOAT)),
        |             array(CAST(1.0 AS FLOAT), CAST(0.0 AS FLOAT))) AS cos,
        |  size(word_shingles('a b c', 2)) AS nsh,
        |  size(word_ngrams('a b c', 2)) AS nng,
        |  bounded_levenshtein('abc', 'abd', 2) AS lev,
        |  normalize_text('Café') AS norm,
        |  size(minhash_bands(array('a', 'b'), 16, 4)) AS nbands,
        |  media_header(CAST(NULL AS BINARY)) AS hdr
        |""".stripMargin).collect().head
    assert(row.getAs[String]("lang") == "en")
    assert(row.getAs[Double]("cos") == 1.0)
    assert(row.getAs[Int]("nsh") == 2 && row.getAs[Int]("nng") == 2)
    assert(row.getAs[Long]("lev") == 1L)
    assert(row.getAs[String]("norm") == "cafe")
    assert(row.getAs[Int]("nbands") == 4)
    assert(row.isNullAt(row.fieldIndex("hdr")))

    val agg = spark.sql(
      "SELECT size(mg_summary(c, 4)) FROM VALUES ('x'),('x'),('y') AS t(c)"
    ).collect().head.getInt(0)
    assert(agg >= 1 && agg <= 4)
  }
}
