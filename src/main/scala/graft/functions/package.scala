package graft

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.functions.bit_count

/** Column-API surface for graft's native expressions.
  *
  * Spark 4 `Column` is node-backed (no public `.expr` / constructor); the
  * conversion goes through [[org.apache.spark.sql.graftbridge.ColumnBridge]].
  */
package object functions {

  /** 64-bit SimHash signature of an array<string> token column. */
  def simhash64(tokens: Column): Column =
    ColumnBridge.column(SimHash64Expr(ColumnBridge.expression(tokens)))

  /** Rabin-Karp rolling-hash document fingerprint of a string column. */
  def rolling_hash64(text: Column): Column =
    ColumnBridge.column(RollingHash64Expr(ColumnBridge.expression(text)))

  /** Content-defined chunk end positions (1-based bytes) of a string
    * column — gear-style CDC (codegen'd kernel).
    */
  def cdc_boundaries(text: Column, maskBits: Int, minLen: Int): Column =
    ColumnBridge.column(
      CdcBoundariesExpr(ColumnBridge.expression(text), maskBits, minLen))

  /** MinHash LSH band-bucket hashes of an array<string> shingle column —
    * the whole signature+banding in one codegen'd kernel.
    */
  def minhash_bands(shingles: Column, numHashes: Int, bands: Int): Column =
    ColumnBridge.column(
      MinHashBandsExpr(ColumnBridge.expression(shingles), numHashes, bands))

  /** Distinct word k-shingles of a string column (codegen'd kernel). */
  def word_shingles(text: Column, k: Int): Column =
    ColumnBridge.column(WordShinglesExpr(ColumnBridge.expression(text), k))

  /** ALL word k-gram windows in order, multiplicity preserved; empty when
    * the doc has fewer than k tokens (codegen'd kernel).
    */
  def word_ngrams(text: Column, k: Int): Column =
    ColumnBridge.column(WordNgramsExpr(ColumnBridge.expression(text), k))

  /** Cosine similarity of two array<float> columns (codegen'd kernel;
    * bit-identical to the HOF fold formulation).
    */
  def cosine_f32(a: Column, b: Column): Column =
    ColumnBridge.column(
      CosineF32Expr(ColumnBridge.expression(a), ColumnBridge.expression(b)))

  /** IVF assignment of an array<float> column against a centroid table:
    * struct(cell, centroid) of the highest cosine, ties to the lowest cell;
    * cell -1 for a NULL vector or an empty table (codegen'd kernel, see
    * [[IvfCentroids]]; bit-identical to the in-row fold over the table).
    * Not SQL-registered: the table is a driver-built object.
    */
  def ivf_nearest(vec: Column, cents: Seq[(Long, Seq[Float])]): Column =
    ColumnBridge.column(IvfNearestExpr(ColumnBridge.expression(vec), new IvfCentroids(cents)))

  /** IVF probe of an array<float> column: the `nprobe` cells of highest
    * cosine as array<struct(cell, centroid)>, ties to the lowest cell
    * (codegen'd kernel, see [[IvfCentroids]]).
    */
  def ivf_probe(vec: Column, cents: Seq[(Long, Seq[Float])], nprobe: Int): Column =
    ColumnBridge.column(
      IvfProbeExpr(ColumnBridge.expression(vec), new IvfCentroids(cents), nprobe))

  /** Late-interaction MaxSim of two array<float> columns read as `chunks`
    * sub-vectors (codegen'd kernel; bit-identical to the nested-HOF
    * max-of-chunk-cosines formulation).
    */
  def maxsim_f32(a: Column, b: Column, chunks: Int): Column =
    ColumnBridge.column(
      MaxSimF32Expr(ColumnBridge.expression(a), ColumnBridge.expression(b), chunks))

  /** L2-normalize an array<float> column (codegen'd kernel; zero vector
    * unchanged — same arithmetic as the HOF fold formulation).
    */
  def l2_normalize_f32(v: Column): Column =
    ColumnBridge.column(NormalizeF32Expr(ColumnBridge.expression(v)))

  /** SQ8 quantization of an array<float> column → struct(scale, q)
    * (codegen'd kernel; bit-identical to the HOF formulation — Spark
    * Round HALF_UP semantics included).
    */
  def quantize_int8(v: Column): Column =
    ColumnBridge.column(QuantizeInt8Expr(ColumnBridge.expression(v)))

  /** Cosine over two array<int> int8-code columns (codegen'd kernel;
    * exact BIGINT dots, scales cancel — see
    * [[graft.operators.Similarity.int8Cosine]]).
    */
  def cosine_i8(a: Column, b: Column): Column =
    ColumnBridge.column(
      CosineI8Expr(ColumnBridge.expression(a), ColumnBridge.expression(b)))

  /** PQ-encode an array<float> column to m one-byte centroid indexes
    * against a driver-trained codebook (see [[PqKernels]]). Not
    * SQL-registered: the codebook is a driver-built object, not a literal.
    */
  def pq_encode(vec: Column, cb: graft.operators.Similarity.PqCodebook): Column =
    ColumnBridge.column(PqEncodeExpr(
      ColumnBridge.expression(vec), cb.flat, cb.m, cb.subDim, cb.k))

  /** Per-query ADC lookup table (flat m·k floats) for [[pq_adc]]. */
  def pq_lut(vec: Column, cb: graft.operators.Similarity.PqCodebook): Column =
    ColumnBridge.column(PqLutExpr(
      ColumnBridge.expression(vec), cb.flat, cb.m, cb.subDim, cb.k))

  /** Asymmetric PQ distance: m LUT lookups + adds per scanned code. */
  def pq_adc(lut: Column, codes: Column, k: Int): Column =
    ColumnBridge.column(PqAdcExpr(
      ColumnBridge.expression(lut), ColumnBridge.expression(codes), k))

  /** Language-ID heuristic (codegen'd kernel; NULL text → NULL). */
  def lang_id(text: Column): Column =
    ColumnBridge.column(LangIdExpr(ColumnBridge.expression(text)))

  /** Unicode canonicalization (codegen'd kernel; see
    * [[HashUtil.normalizeText]]): NFC → lowercase → strip accents → NFC.
    */
  def normalize_text(text: Column): Column =
    ColumnBridge.column(NormalizeTextExpr(ColumnBridge.expression(text)))

  /** One-pass quality counters (codegen'd kernel; see
    * [[HashUtil.qualityCounts]]): [n_chars, n_tokens, nonspace_chars,
    * stop_hits, punct_chars].
    */
  def quality_counts(text: Column): Column =
    ColumnBridge.column(QualityCountsExpr(ColumnBridge.expression(text)))

  /** Banded Levenshtein: exact distance when ≤ maxDist, else -1, in
    * O(maxDist·len) (codegen'd kernel — the builtin threshold variant
    * still walks the full matrix for in-threshold pairs).
    */
  def bounded_levenshtein(a: Column, b: Column, maxDist: Int): Column =
    ColumnBridge.column(BoundedLevenshteinExpr(
      ColumnBridge.expression(a), ColumnBridge.expression(b), maxDist))

  /** Image-container header parse of a binary column: PNG IHDR / JPEG SOF
    * / WebP VP8X → struct(format, width, height), NULL when unrecognized
    * (codegen'd kernel — public file-format arithmetic, no codec library).
    */
  def media_header(bytes: Column): Column =
    ColumnBridge.column(MediaHeaderExpr(ColumnBridge.expression(bytes)))

  /** Bloom-filter membership probe of a bigint key column (codegen'd; see
    * [[BloomMightContainExpr]]). Not SQL-registered: the filter is a
    * driver-built object, not a literal.
    */
  def bloom_might_contain(key: Column,
      bf: org.apache.spark.util.sketch.BloomFilter): Column =
    ColumnBridge.column(
      BloomMightContainExpr(ColumnBridge.expression(key), bf))

  /** Number of set bits (Hamming weight) of a long column. */
  def popcount64(c: Column): Column = bit_count(c).cast("int")

  /** Exact integer division (`DIV`) as a composable Column — the building
    * block of engine-stable rounding: a BIGINT quotient can never sit on a
    * float half-point, so no two engines can round it apart.
    */
  def integral_divide(a: Column, b: Column): Column =
    ColumnBridge.column(
      new org.apache.spark.sql.catalyst.expressions.IntegralDivide(
        ColumnBridge.expression(a), ColumnBridge.expression(b)))

  /** chrF counts (see [[ChrOverlapExpr]]): [overlap, n_cand, n_ref]. */
  def chr_overlap(cand: Column, ref: Column, k: Int): Column =
    ColumnBridge.column(ChrOverlapExpr(
      ColumnBridge.expression(cand), ColumnBridge.expression(ref), k))

  /** ROUGE-N counts (see [[RougeOverlapExpr]]): [overlap, n_cand, n_ref]. */
  def rouge_overlap(cand: Column, ref: Column, k: Int): Column =
    ColumnBridge.column(RougeOverlapExpr(
      ColumnBridge.expression(cand), ColumnBridge.expression(ref), k))

  /** Bounded top-k aggregate (see [[TopKPairsAgg]]): best k (score, id)
    * pairs per group, map-side combined — the scale-safe window-top-k
    * replacement.
    */
  def topk_pairs(score: Column, id: Column, k: Int): Column =
    ColumnBridge.column(
      TopKPairsAgg(
        ColumnBridge.expression(score.cast("double")),
        ColumnBridge.expression(id.cast("long")),
        k).toAggregateExpression())

  /** Size-capped id-list aggregate (see [[CappedCollectAgg]]): the id array
    * when the group has minSize..cap members, NULL otherwise, with O(cap)
    * buffer state regardless of group size — the skew-proof LSH bucket
    * collector (minSize=2) and index-bucket materializer (minSize=1).
    */
  def capped_collect(id: Column, cap: Int, minSize: Int = 2): Column =
    ColumnBridge.column(
      CappedCollectAgg(ColumnBridge.expression(id.cast("long")), cap, minSize)
        .toAggregateExpression())

  /** Misra-Gries frequent-items summary aggregate (see [[MisraGriesAgg]]):
    * at most k (token, est) counters with the deterministic
    * no-false-negative / bounded-undercount guarantees; O(k) state
    * map-side and across the shuffle.
    */
  def mg_summary(item: Column, k: Int): Column =
    ColumnBridge.column(
      MisraGriesAgg(ColumnBridge.expression(item), k).toAggregateExpression())

  /** Register graft functions for the `spark.sql` surface of an existing
    * session (new sessions get them via [[graft.GraftExtensions]]).
    */
  private[graft] def intLit(
      e: org.apache.spark.sql.catalyst.expressions.Expression, what: String): Int = e match {
    case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, _) => v
    case other => throw new IllegalArgumentException(s"$what must be an int literal, got $other")
  }

  def registerAll(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    reg.createOrReplaceTempFunction("simhash64", es => SimHash64Expr(es.head), "scala_udf")
    reg.createOrReplaceTempFunction("rolling_hash64", es => RollingHash64Expr(es.head), "scala_udf")
    reg.createOrReplaceTempFunction("cdc_boundaries",
      es => CdcBoundariesExpr(es(0), intLit(es(1), "maskBits"), intLit(es(2), "minLen")),
      "scala_udf")
    reg.createOrReplaceTempFunction("lang_id", es => LangIdExpr(es.head), "scala_udf")
    reg.createOrReplaceTempFunction("cosine_f32", es => CosineF32Expr(es(0), es(1)), "scala_udf")
    reg.createOrReplaceTempFunction("maxsim_f32",
      es => MaxSimF32Expr(es(0), es(1), intLit(es(2), "chunks")), "scala_udf")
    reg.createOrReplaceTempFunction("quality_counts", es => QualityCountsExpr(es.head), "scala_udf")
    reg.createOrReplaceTempFunction("word_shingles",
      es => WordShinglesExpr(es(0), intLit(es(1), "k")), "scala_udf")
    reg.createOrReplaceTempFunction("word_ngrams",
      es => WordNgramsExpr(es(0), intLit(es(1), "k")), "scala_udf")
    reg.createOrReplaceTempFunction("minhash_bands",
      es => MinHashBandsExpr(es(0), intLit(es(1), "numHashes"), intLit(es(2), "bands")), "scala_udf")
    reg.createOrReplaceTempFunction("bounded_levenshtein",
      es => BoundedLevenshteinExpr(es(0), es(1), intLit(es(2), "maxDist")), "scala_udf")
    reg.createOrReplaceTempFunction("media_header", es => MediaHeaderExpr(es.head), "scala_udf")
    reg.createOrReplaceTempFunction("mg_summary",
      es => MisraGriesAgg(es(0), intLit(es(1), "k")).toAggregateExpression(), "scala_udf")
  }
}
