package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

import graft.functions.{BoundedLevenshteinExpr, CosineF32Expr, LangIdExpr, MediaHeaderExpr,
  MinHashBandsExpr, MisraGriesAgg, NormalizeTextExpr, RollingHash64Expr, SimHash64Expr,
  WordNgramsExpr, WordShinglesExpr}

/** Session-extension entry point: `--conf
  * spark.sql.extensions=graft.GraftExtensions` (or `.withExtensions` in
  * code) registers graft's native expressions on the SQL surface of every
  * session — the deployment path for a cluster where users write
  * `SELECT simhash64(tokens) ...` without touching the Scala API — and the
  * [[SortOnce]] query-stage prep rule. [[Sessions.local]] installs it.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectQueryStagePrepRule(_ => SortOnce)

    def inject(name: String, builder: Seq[Expression] => Expression): Unit =
      ext.injectFunction((
        FunctionIdentifier(name),
        new ExpressionInfo("graft.functions", name),
        builder))

    inject("simhash64", es => SimHash64Expr(es.head))
    inject("rolling_hash64", es => RollingHash64Expr(es.head))
    inject("lang_id", es => LangIdExpr(es.head))
    inject("normalize_text", es => NormalizeTextExpr(es.head))
    inject("cosine_f32", es => CosineF32Expr(es(0), es(1)))
    inject("word_shingles", es => WordShinglesExpr(es(0), graft.functions.intLit(es(1), "k")))
    inject("word_ngrams", es => WordNgramsExpr(es(0), graft.functions.intLit(es(1), "k")))
    inject("bounded_levenshtein", es => BoundedLevenshteinExpr(es(0), es(1), graft.functions.intLit(es(2), "maxDist")))
    inject("minhash_bands", es => MinHashBandsExpr(es(0),
      graft.functions.intLit(es(1), "numHashes"), graft.functions.intLit(es(2), "bands")))
    inject("media_header", es => MediaHeaderExpr(es.head))
    inject("mg_summary", es =>
      MisraGriesAgg(es(0), graft.functions.intLit(es(1), "k")).toAggregateExpression())
  }
}
