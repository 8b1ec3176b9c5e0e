package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Dataset-curation operators a large-scale training-data pipeline runs
  * between "raw corpus" and "training mix": deterministic splits, sampling,
  * mix accounting (histograms/quantiles), cross-corpus contamination checks,
  * PII scrubbing, and TF-IDF term salience.
  *
  * Determinism contract: anything that partitions or samples does so by a
  * *content-stable* hash (md5 of the key), never by `rand()` or physical row
  * position — re-running the pipeline on a re-partitioned copy of the corpus
  * yields byte-identical splits/samples, which is what makes training runs
  * reproducible and eval sets leak-proof.
  *
  * Scale shapes: split/sample/histogram are pure in-row expressions (zero
  * shuffle, whole-stage codegen); contamination hashes shingles to 64-bit
  * before its single equi-join shuffle; TF-IDF is two map-side-combining
  * aggregations plus one join, never a cross product.
  */
object Curation {

  /** First `n` hex chars of the key's md5 — a content-stable uniform hash
    * usable in any engine (lowercase-hex comparison is value comparison).
    */
  private def hexHash(key: Column, n: Int): Column =
    substring(md5(key.cast("string")), 1, n)

  /** Hex threshold string such that `hexHash(k, digits) < threshold`
    * selects `pct`% of a uniform key space (floor granularity 16^digits).
    */
  def hexThreshold(pct: Double, digits: Int): String = {
    // a negative pct would format a negative Long via %x into a 16-char
    // two's-complement string that compares ABOVE nearly every hash and
    // silently keeps ~everything instead of nothing — fail fast instead
    require(pct >= 0, s"hexThreshold: pct must be >= 0, got $pct")
    val space = math.pow(16, digits).toLong
    val cut = math.floor(space * pct / 100.0).toLong
    // pct ≥ 100 → "g": strictly above every hex digit in ASCII, so the
    // `hash < threshold` compare keeps everything (a same-width "10000"
    // would compare LESS than "ffff" lexicographically and keep ~6%)
    if (cut >= space) "g"
    else String.format(s"%0${digits}x", Long.box(cut))
  }

  /** Deterministic train/val/test assignment by key hash. Two-hex-digit
    * buckets (256) — train gets `floor(256*trainPct/100)` of them, val the
    * next slice, test the rest. In-row, zero shuffle: at 100 TB the split
    * is a free column on the scan, not a repartition.
    */
  def splitAssign(df: DataFrame, key: String,
                  trainPct: Int = 80, valPct: Int = 10): DataFrame = {
    val h = hexHash(col(key), 2)
    df.withColumn("split",
      when(h < hexThreshold(trainPct, 2), "train")
        .when(h < hexThreshold(trainPct + valPct, 2), "val")
        .otherwise("test"))
  }

  /** Duplicate-safe split assignment: split membership keys on the text
    * FINGERPRINT, not the document id, so exact duplicates land in the
    * same split by construction — the fix for the train/test leakage that
    * [[splitLeakage]] measures on id-keyed splits. Same in-row md5
    * thresholds and determinism contract as [[splitAssign]].
    *
    * NULL texts key on a sentinel fingerprint (a NULL hash would fall
    * through both `when` branches and silently pile every NULL doc into
    * 'test'). Under the dup-safe contract all NULL texts are the same
    * document, so they land together in whichever split the sentinel's
    * hash selects — deterministic, and consistent with how any other
    * duplicated text behaves.
    */
  def dupSafeSplit(df: DataFrame, text: String,
                   trainPct: Int = 80, valPct: Int = 10): DataFrame = {
    val h = hexHash(
      coalesce(TextAnalysis.fingerprint(col(text)), lit("graft:null-text")), 2)
    df.withColumn("split",
      when(h < hexThreshold(trainPct, 2), "train")
        .when(h < hexThreshold(trainPct + valPct, 2), "val")
        .otherwise("test"))
  }

  /** Deterministic Bernoulli(fraction) sample by key hash: keep a row iff
    * the first 4 md5 hex digits fall under the fraction's threshold.
    * In-row filter — pushes to the scan, no shuffle, reproducible across
    * re-partitions (unlike `df.sample`, which is seed+partition-layout
    * dependent).
    */
  def sampleByHash(df: DataFrame, key: String, fraction: Double): DataFrame =
    df.filter(hexHash(col(key), 4) < hexThreshold(fraction * 100.0, 4))

  /** Priority sampling (Duffield–Lund–Thorup, JACM 54(6) 2007): a k-item
    * weighted-without-replacement sample that supports UNBIASED subset-sum
    * estimation — the right way to "sample docs proportional to token count
    * and still report corpus totals" at 100 TB.
    *
    * Each item gets priority q = w·2³² div h with h ∈ [1, 2³²] an
    * md5-derived uniform — PURE INTEGER arithmetic (the div-based q is the
    * exact fixed-point image of w/u), so the selected set, the threshold
    * and every estimate replay exactly in any engine. The k highest
    * priorities are the sample; τ = the (k+1)-th priority; each sampled
    * item's weight estimate is ŵ = max(w, τ), and Σŵ over the sample is
    * (to fixed-point resolution) an unbiased estimator of Σw over the
    * population.
    *
    * Scale shape: one scan computing (w, h, q) in-row, then
    * `TakeOrderedAndProject` over q — every partition forwards at most
    * k+1 rows; no shuffle of the population. The true total rides along
    * from the same scan for data-visible accuracy.
    */
  def prioritySample(df: DataFrame, id: String, weight: Column,
                     k: Int): DataFrame = {
    require(k > 0, s"prioritySample: need k > 0, got $k")
    val w = greatest(weight.cast("long"), lit(1L))
    val h = conv(substring(md5(concat(lit("ps:"),
      col(id).cast("string"))), 1, 8), 16, 10).cast("long") + lit(1L)
    val scored = df
      .select(col(id).as("item_id"), w.as("w"), h.as("_h"))
      .withColumn("priority", expr("(w * 4294967296L) div _h"))
      .drop("_h")
    val top = scored.orderBy(col("priority").desc, col("item_id"))
      .limit(k + 1)
    // DLT defines τ = 0 when the population fits the sample (fewer than
    // k+1 priorities exist): every item is selected with certainty and
    // ŵ = max(w, 0) = w, the exact total. min(priority) here would
    // inflate every estimate (priority ≥ w always).
    val tau = top.agg(
      when(count(lit(1)) < k + 1, lit(0L))
        .otherwise(min(col("priority"))).as("tau"))
    val total = scored.agg(sum(col("w")).as("true_total"))
    top.orderBy(col("priority").desc, col("item_id")).limit(k)
      .crossJoin(tau)   // one row each: broadcast-class by construction
      .crossJoin(total)
      .select(col("item_id"), col("w"), col("priority"),
        greatest(col("w"), col("tau")).as("w_hat"),
        col("tau"), col("true_total"))
  }

  /** Export manifest over a shard assignment ([[shardPack]]'s output or
    * any `(item_id, w, shard)` relation): per shard, the row count,
    * weight sum and an ORDER-INDEPENDENT content checksum (sum of
    * md5-derived per-id integers — commutative, so the manifest doesn't
    * depend on task order). The reproducibility artifact an export job
    * publishes beside its shards: a re-run diffs manifests instead of
    * bytes.
    *
    * Scale shape: one two-phase agg on the shard key; checksum folds
    * map-side.
    */
  def shardManifest(assigned: DataFrame): DataFrame =
    assigned
      .withColumn("_ck", conv(substring(md5(concat(lit("mf:"),
        col("item_id").cast("string"))), 1, 8), 16, 10).cast("long"))
      .groupBy("shard")
      .agg(count(lit(1)).as("n_rows"), sum(col("w")).as("w_sum"),
        sum(col("_ck")).as("content_chk"))

  /** Per-group [[prioritySample]]: an independent k-item DLT sample per
    * stratum (per-source weighted samples with per-source subset-sum
    * estimates — the stratified form a mix-aware curation pass wants).
    *
    * Scale shape: one in-row scoring scan, then `topk_pairs` under the
    * group key — O(k+1) aggregate state per (partition, group), never a
    * per-group window over the data. The k·|groups| selected ids
    * broadcast back onto the scan to recover weights. Priorities ride a
    * double inside the top-k heap: exact while w·2³² < 2⁵³, i.e. weights
    * up to ~2²⁰ (tokens-per-doc scale); bigger weights need a rescaled
    * uniform, same shape.
    */
  def prioritySampleByGroup(df: DataFrame, grp: String, id: String,
                            weight: Column, k: Int): DataFrame = {
    require(k > 0, s"prioritySampleByGroup: need k > 0, got $k")
    val w = greatest(weight.cast("long"), lit(1L))
    val h = conv(substring(md5(concat(lit("ps:"),
      col(id).cast("string"))), 1, 8), 16, 10).cast("long") + lit(1L)
    val scored = df
      .select(col(grp).cast("string").as("g"), col(id).as("item_id"),
        w.as("w"), h.as("_h"))
      .withColumn("priority", expr("(w * 4294967296L) div _h"))
      .drop("_h")
    val top = scored.groupBy("g")
      .agg(graft.functions.topk_pairs(col("priority"), col("item_id"), k + 1)
          .as("top"),
        sum(col("w")).as("true_total"))
      .withColumn("tau",
        when(size(col("top")) === k + 1,
          element_at(col("top"), k + 1).getField("score").cast("long"))
          .otherwise(lit(0L)))
    val sel = top.select(col("g"), col("tau"), col("true_total"),
        explode(slice(col("top"), 1, k)).as("p"))
      .select(col("g"), col("p.id").as("item_id"), col("tau"), col("true_total"))
    scored.join(broadcast(sel), Seq("g", "item_id"))
      .select(col("g"), col("item_id"), col("w"), col("priority"),
        greatest(col("w"), col("tau")).as("w_hat"),
        col("tau"), col("true_total"))
  }

  /** Balanced shard packing: assign rows to `nShards` output shards so
    * per-shard weight sums are near-equal — the shard-writing step of a
    * training-data pipeline (equal-sized JSONL/parquet shards keep data
    * loaders in step). Serpentine LPT: rank rows by weight descending and
    * deal them boustrophedon (0..n-1, n-1..0, …), which bounds the
    * heaviest-minus-lightest shard gap by one row's weight per pass and
    * is a pure rank formula — fully deterministic and oracle-replayable.
    *
    * Scale shape: the global weight rank is a range-partitioned sort plus
    * the distributed-zipWithIndex offset trick — `repartitionByRange` on
    * (w desc, id) makes partition ids monotone in the sort order, so
    * global rank = broadcast per-partition offset + the local ordinal that
    * `monotonically_increasing_id` encodes in its low 33 bits (documented
    * Spark layout). NO single-partition window anywhere: the only
    * per-partition state is the offset table (one row per partition),
    * same shape as [[trainingOrder]]'s offsets.
    */
  def shardPack(df: DataFrame, id: String, weight: Column,
                nShards: Int): DataFrame = {
    require(nShards > 0, s"shardPack: need nShards > 0, got $nShards")
    val w = greatest(weight.cast("long"), lit(1L))
    val sorted = df.select(col(id).as("item_id"), w.as("w"))
      .repartitionByRange(col("w").desc, col("item_id"))
      .sortWithinPartitions(col("w").desc, col("item_id"))
      .withColumn("_mid", monotonically_increasing_id())
      .withColumn("_pid", shiftright(col("_mid"), 33))
      .withColumn("_local", col("_mid").bitwiseAND(lit((1L << 33) - 1)))
    val offsets = sorted.groupBy("_pid").agg(count(lit(1)).as("_n"))
      .withColumn("_offset",
        coalesce(sum(col("_n")).over(
          Window.orderBy("_pid").rowsBetween(Window.unboundedPreceding, -1)),
          lit(0L)))
      .select("_pid", "_offset")
    val n = lit(nShards.toLong)
    sorted.join(broadcast(offsets), Seq("_pid"))
      .withColumn("_rank", col("_offset") + col("_local"))
      .withColumn("shard",
        when(pmod((col("_rank") / n).cast("long"), lit(2L)) === 0L,
          pmod(col("_rank"), n))
          .otherwise(n - lit(1L) - pmod(col("_rank"), n)))
      .select("item_id", "w", "shard")
  }

  /** Rebalance a corpus toward a target mix: keep each stratum at its own
    * hash fraction (1.0 = keep all, absent = drop the stratum). Because
    * every stratum filters the SAME key hash against its threshold, samples
    * are nested — raising a stratum's fraction only ever adds documents,
    * never reshuffles the kept set — which makes mix iteration reproducible
    * across training runs. In-row (the threshold is a CASE over the
    * stratum column): zero shuffle at any scale.
    */
  def rebalanceMix(df: DataFrame, stratum: String, key: String,
                   fractions: Map[String, Double]): DataFrame = {
    val thr = fractions.toSeq.sortBy(_._1)
      .foldLeft(lit(null).cast("string")) { case (acc, (s, f)) =>
        when(col(stratum) === s, lit(hexThreshold(f * 100.0, 4))).otherwise(acc)
      }
    df.filter(hexHash(col(key), 4) < thr)
  }

  /** Temperature-based mixture weights (the multilingual α-sampling rule:
    * sample stratum i with probability ∝ nᵢ^α, α<1 upweighting rare
    * strata). Emits per-stratum `(n_docs, weight_ppm, boost_ppm)` —
    * sampling weight and epoch boost in parts-per-million.
    *
    * Engine-stable by the fixed-point discipline: the ONE float op is
    * `pow(nᵢ, α)` on identical inputs, immediately rounded to integer
    * micro-units; the normalizer is then an INTEGER sum (exact in any
    * distributed summation order — the stableAvg rule applied to pow)
    * and the ratios are truncating integer division in DECIMAL(38,0)
    * (u·10⁶ and weight_ppm·n_total overflow BIGINT long before the
    * interesting corpus sizes — at α = 1 a single 9.3M-doc stratum
    * already wraps u·10⁶). The binding headroom is now pow's double
    * mantissa: micro-units stay integer-exact while nᵢ^α·10⁶ < 2⁵³,
    * i.e. ~9·10⁹ docs per stratum at α = 1 (far more at α < 1).
    *
    * One stratum-bounded aggregate + a scalar cross join: the corpus is
    * scanned once, nothing else shuffles. Feed the boosts to
    * [[epochsMix]] to realize the mix.
    */
  def temperatureWeights(df: DataFrame, stratum: String,
                         alpha: Double): DataFrame = {
    require(alpha > 0 && alpha <= 1, s"temperatureWeights: alpha in (0,1], got $alpha")
    val counts = df.groupBy(col(stratum)).agg(count(lit(1)).as("n_docs"))
      .withColumn("u", round(pow(col("n_docs"), alpha) * 1e6).cast("long"))
    val z = counts.agg(sum("u").cast("long").as("z"),
      sum("n_docs").cast("long").as("n_total"))
    counts.crossJoin(z)
      .withColumn("weight_ppm",
        expr("cast(u as decimal(38,0)) * 1000000 div cast(z as decimal(38,0))"))
      .withColumn("boost_ppm",
        expr("cast(weight_ppm as decimal(38,0)) * n_total div n_docs"))
      .select(col(stratum), col("n_docs"), col("weight_ppm"), col("boost_ppm"))
  }

  /** Epoch-weight a corpus: each stratum is repeated `epochs(stratum)`
    * times, where the fractional part becomes a deterministic hash
    * subsample tagged as the last copy — e.g. 2.25 epochs of wiki = every
    * wiki doc twice plus a stable 25% of them a third time. The `copy`
    * column (0-based) disambiguates repeats for downstream shuffling.
    * Strata absent from the map are dropped (epoch 0).
    *
    * In-row: one `explode(sequence(...))` bounded by the max whole-epoch
    * count — output size is exactly the token-weighted mix, no shuffle.
    */
  def epochsMix(df: DataFrame, stratum: String, key: String,
                epochs: Map[String, Double]): DataFrame = {
    require(epochs.values.forall(e => e >= 0 && e <= 100), "epochs out of range")
    val whole = epochs.map { case (s, e) => s -> math.floor(e).toLong }
    val fracThr = epochs.map { case (s, e) =>
      s -> hexThreshold((e - math.floor(e)) * 100.0, 4)
    }
    def caseOver[T](m: Map[String, T], default: Column)(f: T => Column): Column =
      m.toSeq.sortBy(_._1).foldLeft(default) { case (acc, (s, v)) =>
        when(col(stratum) === s, f(v)).otherwise(acc)
      }
    val wholeCol = caseOver(whole, lit(-1L))(lit(_))
    val thrCol = caseOver(fracThr, lit(null).cast("string"))(lit(_))
    val maxCopies = (whole.values ++ Seq(0L)).max
    df
      .withColumn("copy", explode(sequence(lit(0L), lit(maxCopies))))
      .filter(col("copy") < wholeCol ||
        (col("copy") === wholeCol && hexHash(col(key), 4) < thrCol))
  }

  /** Deterministic stratified sample: exactly `min(n, |stratum|)` rows per
    * stratum — the n smallest by md5 order within the stratum
    * (content-stable). Two-phase so no task ever sorts a whole stratum:
    * phase 1 takes the top-n of each (stratum, salt) sub-partition — each
    * 1/`salts` of the stratum — and phase 2 re-ranks the surviving
    * ≤ n·salts candidates per stratum. Every global winner is inside its
    * salt's top-n, so the result is identical to the single-window
    * formulation (the salt never influences selection, only parallelism).
    * For rate-based (fraction) stratified sampling use [[sampleByHash]]
    * per stratum instead — zero-shuffle.
    */
  def stratifiedSample(df: DataFrame, stratum: String, key: String, n: Int,
                       salts: Int = 16): DataFrame = {
    val h = hexHash(col(key), 8)
    val w1 = Window.partitionBy(col(stratum), pmod(xxhash64(col(key)), lit(salts)))
      .orderBy(h, col(key))
    val w2 = Window.partitionBy(col(stratum)).orderBy(h, col(key))
    df
      .withColumn("rn", row_number().over(w1)).filter(col("rn") <= n).drop("rn")
      .withColumn("rn", row_number().over(w2)).filter(col("rn") <= n).drop("rn")
  }

  /** Power-of-two histogram bin floor for a non-negative count: 0 → 0,
    * else the largest power of two ≤ n (capped at `maxBin`). Built as a
    * literal CASE chain (not `pow(2, floor(log2 n))`) because `log2` of an
    * exact power of two is engine-dependent at the last ulp — Spark computes
    * `log(x)/log(2)` where `log2(8) = 2.9999...96`, and a histogram that
    * mis-bins the bin edges is wrong where it matters most.
    */
  def pow2Bin(n: Column, maxBin: Long = 4096L): Column = {
    val edges = Iterator.iterate(1L)(_ * 2).takeWhile(_ <= maxBin).toSeq
    edges.foldLeft(when(n.isNull || n <= 0, lit(0L))) { (acc, lo) =>
      val hi = lo * 2 - 1
      if (lo == maxBin) acc else acc.when(n.between(lo, hi), lit(lo))
    }.otherwise(lit(maxBin))
  }

  /** Token-count distribution of a corpus in power-of-two bins — the
    * "what does my training mix look like" accounting query. One in-row
    * projection + one map-side-combining aggregation.
    */
  def tokenHistogram(docs: DataFrame, id: String, text: String): DataFrame =
    docs
      .select(pow2Bin(TextAnalysis.tokenCount(col(text)).cast("long")).as("bin_lo"))
      .groupBy("bin_lo")
      .agg(count(lit(1)).as("n_docs"))

  /** Cross-corpus contamination: for every eval document, the fraction of
    * its distinct word `k`-shingles that appear anywhere in the train
    * corpus (the standard "is my eval set leaked into training data"
    * check).
    *
    * Scale shape: shingles are hashed to 64 bits in-row before anything
    * shuffles — the join exchanges (hash) and (id, hash) longs, never
    * shingle strings; the train side is `distinct` (map-side combined) so
    * duplicated boilerplate in the train corpus costs one hash each. A
    * 64-bit collision would need ~2³² distinct shingles per the birthday
    * bound — at trillion-shingle scale widen to 128-bit (two xxhash64
    * seeds) with the same plan shape.
    */
  def contamination(train: DataFrame, eval: DataFrame, id: String, text: String,
                    k: Int = 8): DataFrame = {
    val trainHashes = train
      .select(explode(graft.functions.word_shingles(col(text), k)).as("s"))
      .select(xxhash64(col("s")).as("h"))
      .distinct()
    // materialized once (longs only — tiny vs the text): the totals and
    // the train-join branches would otherwise each re-scan + re-shingle
    // the eval corpus
    val evalShingles = eval
      .select(col(id).as("doc_id"),
        explode(graft.functions.word_shingles(col(text), k)).as("s"))
      .select(col("doc_id"), xxhash64(col("s")).as("h"))
      .localCheckpoint(eager = false)
    val totals = evalShingles.groupBy("doc_id")
      .agg(count(lit(1)).as("n_shingles"))
    val contaminated = evalShingles.join(trainHashes, Seq("h"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_contaminated"))
    totals.join(contaminated, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_shingles"),
        coalesce(col("n_contaminated"), lit(0L)).as("n_contaminated"),
        round(coalesce(col("n_contaminated"), lit(0L)).cast("double")
          / col("n_shingles"), 6).as("contamination"))
  }

  /** PII patterns scrubbed by [[piiScrub]], applied in this order. Written
    * in the RE2 ∩ java.util.regex common subset (no lookarounds) so the
    * same pattern text runs on Spark and any RE2-based engine.
    */
  val PiiPatterns: Seq[(String, String)] = Seq(
    ("[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}", "<EMAIL>"),
    ("\\b(?:\\d{1,3}\\.){3}\\d{1,3}\\b", "<IP>"),
    ("\\b\\d{3}[-.]\\d{3}[-.]\\d{4}\\b", "<PHONE>"))

  /** Redact emails / IPv4s / phone numbers. In-row regexp chain — the 100 TB
    * cost is the scan plus regex CPU; nothing shuffles.
    */
  def piiScrubText(text: Column): Column =
    PiiPatterns.foldLeft(text) { case (c, (pat, tag)) =>
      regexp_replace(c, lit(pat), lit(tag))
    }

  /** Count of PII matches before scrubbing (audit metric). */
  def piiCount(text: Column): Column =
    PiiPatterns.map { case (pat, _) => regexp_count(text, lit(pat)) }
      .reduce(_ + _).cast("long")

  def piiScrub(docs: DataFrame, id: String, text: String): DataFrame =
    docs.select(col(id),
      piiCount(col(text)).as("n_pii"),
      piiScrubText(col(text)).as("scrubbed"))

  /** Concat-then-chunk sequence packing: assign every document to a fixed
    * token-budget training pack. Documents are sharded by key hash (16
    * md5 shards here; at cluster scale use more) and packed in key order
    * within each shard: `pack = floor(exclusive-cumsum(tokens) / budget)`.
    * This is the "concatenate the stream, cut every `budget` tokens"
    * packing used for LLM pretraining batches — a document may straddle a
    * cut, which the trainer handles by splitting at the boundary.
    *
    * Scale shape: one window per shard — shards are hash-balanced and
    * independent, so parallelism = shard count and no single task ever
    * sorts the corpus. (A global-order window would be a one-partition
    * bottleneck — deliberately avoided.)
    */
  def packSequences(docs: DataFrame, id: String, text: String,
                    budget: Long): DataFrame =
    packSequencesByCount(docs, id,
      TextAnalysis.tokenCount(col(text)).cast("long"), budget)

  /** [[packSequences]] with an EXPLICIT per-document token count — the
    * form the tokenized pipeline uses (pack by real subword counts from
    * [[Bpe.encode]], not the whitespace proxy). Same shard-window shape.
    */
  def packSequencesByCount(docs: DataFrame, id: String, count: Column,
                           budget: Long): DataFrame = {
    require(budget > 0, s"packSequences: budget must be positive, got $budget")
    val shard = (expr(s"conv(substring(md5(cast($id as string)), 1, 1), 16, 10)")
      .cast("long")).as("shard")
    val base = docs.select(col(id).as("doc_id"),
      count.cast("long").as("nt"), shard)
    val w = Window.partitionBy("shard").orderBy("doc_id")
    base
      .withColumn("cum", sum(col("nt")).over(w) - col("nt"))
      .withColumn("pack", floor(col("cum") / budget))
      // token offset within the pack — the attention-boundary contract a
      // trainer consumes alongside the pack id
      .withColumn("off", col("cum") - col("pack") * budget)
      .drop("cum")
  }

  /** Sliding-window chunking: split each document into `size`-token chunks
    * starting every `stride` tokens (overlap = size - stride when
    * stride < size) — the long-document-to-context-window transform of a
    * training-prep pipeline. Trailing partial chunks are kept (their
    * `n_tokens` says how short they are); empty docs produce no chunks.
    *
    * In-row end to end: the chunk texts are assembled by a `transform`
    * over the token array inside the scan projection, so nothing shuffles
    * at all unless the caller adds a downstream exchange — at 100 TB this
    * is scan-bound by construction.
    */
  /** Fill-in-middle (FIM) transform — the code-model training rewrite: a
    * hash-selected `ratePct`% of docs are cut at two HASH-DETERMINISTIC
    * character offsets and re-emitted in PSM order
    * (`<PRE>prefix<SUF>suffix<MID>middle`); the rest pass through. Cut
    * points derive from md5 of the doc id (the [[splitAssign]] hex
    * discipline applied to offsets), so the transform is content-stable
    * across re-runs and repartitions AND fully oracle-replayable —
    * `df.sample`-style randomness would be neither. Empty/null docs are
    * never FIM'd (no span to cut). In-row, zero shuffle: at 100 TB the
    * rewrite is a free column on the scan.
    */
  def fimTransform(docs: DataFrame, id: String, text: String,
                   ratePct: Int = 50): DataFrame = {
    val t = coalesce(col(text), lit(""))
    val n = length(t).cast("long")
    def cut(k: Int): Column =
      conv(substring(md5(concat(col(id).cast("string"), lit(s":$k"))
        .cast("binary")), 1, 8), 16, 10).cast("long") % (n + 1)
    val lo = least(cut(1), cut(2))
    val hi = greatest(cut(1), cut(2))
    val selected = hexHash(col(id), 2) < lit(hexThreshold(ratePct, 2))
    docs.select(col(id),
      (selected && n > 0).as("fim"),
      when(selected && n > 0,
        concat(lit("<PRE>"), t.substr(lit(1L), lo),
          lit("<SUF>"), t.substr(hi + 1L, n - hi),
          lit("<MID>"), t.substr(lo + 1L, hi - lo)))
        .otherwise(t).as("out_text"))
  }

  /** T5/UL2-style span corruption — the denoising-objective rewrite: token
    * positions partition into fixed blocks of `spanTokens`; a
    * hash-selected `ratePct`% of blocks become spans, each replaced in the
    * INPUTS by a sentinel `<Xk>` (k = the span's 0-based in-document
    * order) while the TARGETS emit every sentinel followed by the tokens
    * it hides, closed by a final `<Xn>` sentinel — exactly the
    * (inputs, targets) pair a span-corruption pretraining batch is built
    * from. Block selection derives from md5 of `(id, block)` (the
    * [[splitAssign]] hex discipline), so the corruption is content-stable
    * across re-runs/repartitions and fully oracle-replayable, unlike any
    * `rand()` formulation. Uncorrupted or empty docs emit their text
    * unchanged with empty targets and `n_spans` 0.
    *
    * In-row array HOFs over the scan (no explode, no shuffle): the
    * prefix-count that numbers a span is O(blocks²) per doc in the worst
    * case, but blocks = tokens/spanTokens and the work is per-row compute
    * inside codegen'd transforms — at 100 TB this stays scan-bound like
    * [[fimTransform]].
    */
  def spanCorrupt(docs: DataFrame, id: String, text: String,
                  spanTokens: Int = 3, ratePct: Int = 15): DataFrame = {
    require(spanTokens > 0, s"spanCorrupt: spanTokens must be > 0")
    val thr = hexThreshold(ratePct, 4)
    val B = spanTokens
    docs
      .select(col(id), TextAnalysis.tokens(col(text)).as("tk"))
      .withColumn("nb", expr(s"cast(ceil(size(tk) / ${B}e0) as int)"))
      // blocks = [0, nb); sequence(0, nb - 1) DESCENDS for nb = 0, so every
      // range below is sequence(0, nb) filtered to x < nb (likewise the
      // prefix count at block 0 — sequence(0, -1) would be [0, -1], not [])
      .withColumn("blks", expr("filter(sequence(0, nb), b -> b < nb)"))
      // sel[b] = block b is corrupted (SQL bracket indexing is 0-based)
      .withColumn("sel", expr(
        s"transform(blks, b -> " +
          s"substring(md5(cast(concat(cast(`$id` as string), ':', b) as binary)), 1, 4) < '$thr')"))
      .select(col(id),
        expr("size(filter(sel, s -> s))").cast("long").as("n_spans"),
        expr(
          s"""array_join(flatten(transform(blks, b ->
             |  IF(sel[b],
             |     array(concat('<X',
             |       size(filter(sequence(0, b), x -> x < b AND sel[x])), '>')),
             |     slice(tk, b * $B + 1, $B)))), ' ')""".stripMargin)
          .as("inputs"),
        when(expr("size(filter(sel, s -> s))") > 0, expr(
          s"""concat(array_join(flatten(transform(
             |    filter(blks, b -> sel[b]), (b, j) ->
             |    concat(array(concat('<X', j, '>')),
             |      slice(tk, b * $B + 1, $B)))), ' '),
             |  ' <X', size(filter(sel, s -> s)), '>')""".stripMargin))
          .otherwise(lit("")).as("targets"))
  }

  def chunkDocs(docs: DataFrame, id: String, text: String,
                chunkSize: Int, stride: Int): DataFrame = {
    require(chunkSize > 0 && stride > 0,
      s"chunkDocs: chunkSize=$chunkSize stride=$stride must be positive")
    docs.select(col(id).as("doc_id"), TextAnalysis.tokens(col(text)).as("tk"))
      .filter(size(col("tk")) > 0)
      .select(col("doc_id"), posexplode(expr(
        s"""transform(sequence(0, size(tk) - 1, $stride), st -> named_struct(
           |  'txt', array_join(slice(tk, st + 1, $chunkSize), ' '),
           |  'nt', least($chunkSize, size(tk) - st)))""".stripMargin)))
      .select(col("doc_id"), col("pos").cast("long").as("chunk_idx"),
        col("col.nt").cast("long").as("n_tokens"),
        col("col.txt").as("chunk_text"))
  }

  /** Winsorized group statistics: values clipped to the [pLo, pHi]
    * DISCRETE quantiles (actual data values — `percentile_disc`, not the
    * interpolated `percentile_cont`, so the cutoffs are engine-exact and
    * no clip comparison can straddle a floating-point ulp), with clip
    * counts and the clipped sum in exact cents.
    *
    * Two passes over the values: one grouped quantile aggregate (group
    * cardinality rows), broadcast back, one clip-and-sum aggregate — the
    * standard outlier-robust profile at any scale.
    */
  def winsorizedStats(df: DataFrame, grp: String, value: String,
                      pLo: Double, pHi: Double): DataFrame = {
    require(0 < pLo && pLo < pHi && pHi <= 1, s"winsorizedStats: bad [$pLo, $pHi]")
    // non-null values only: Spark's greatest/least skip NULLs, so a NULL
    // row would otherwise clip to `hi` and pollute the sum while the
    // quantile cuts never saw it
    val clean = df.filter(col(value).isNotNull)
    val cuts = Relational.discreteCuts(clean, grp, value, Seq(pLo -> "lo", pHi -> "hi"))
    clean.join(broadcast(cuts), Seq(grp))
      .select(col(grp), col(value).as("v"), col("lo"), col("hi"))
      .groupBy(col(grp))
      .agg(
        count(lit(1)).as("n"),
        sum(when(col("v") < col("lo"), 1L).otherwise(0L)).as("n_clipped_lo"),
        sum(when(col("v") > col("hi"), 1L).otherwise(0L)).as("n_clipped_hi"),
        round(sum(greatest(col("lo"), least(col("hi"), col("v")))) * 100)
          .cast("long").as("sum_clipped_cents"),
        min(col("lo")).as("lo"), min(col("hi")).as("hi"))
  }

  /** Deterministic training order: the content-stable global shuffle a
    * training run reads the corpus in, plus an explicit 0-based `position`
    * for epoch addressing. Order is by md5 of the key — reproducible across
    * re-runs and re-partitioning (same determinism contract as
    * [[splitAssign]]), uniform, and uncorrelated with ingest order.
    *
    * Scale shape: a global `row_number()` window would funnel the corpus
    * through ONE partition — instead this is the two-phase distributed
    * rank: the first 2 hash hex digits shard the corpus into 256 groups
    * whose (shard, hash) order IS the global hash order, each shard ranks
    * locally (per-shard window, hash-balanced), and shard offsets come
    * from a 256-row aggregate joined back by broadcast. The only
    * single-partition step handles 256 rows, never documents.
    */
  def trainingOrder(docs: DataFrame, key: String): DataFrame = {
    val base = docs
      .withColumn("_h", md5(col(key).cast("string")))
      .withColumn("_shard", conv(substring(col("_h"), 1, 2), 16, 10).cast("long"))
    val local = base.withColumn("_local",
      row_number().over(Window.partitionBy("_shard").orderBy("_h")).cast("long"))
    val offsets = base.groupBy("_shard").agg(count(lit(1)).as("_n"))
      .withColumn("_offset",
        coalesce(sum(col("_n")).over(
          Window.orderBy("_shard").rowsBetween(Window.unboundedPreceding, -1)),
          lit(0L)))
      .select("_shard", "_offset")
    local.join(broadcast(offsets), Seq("_shard"))
      .withColumn("position", col("_offset") + col("_local") - 1)
      .drop("_h", "_shard", "_local", "_offset")
  }

  /** Export a curated corpus as JSONL training shards: `shards` files per
    * split directory (`path/<splitCol>=train/...`), shard membership by key
    * hash so re-runs produce identical shard contents. JSONL-per-split is
    * the standard hand-off format to training data loaders.
    */
  def exportJsonl(docs: DataFrame, splitCol: String, key: String,
                  shards: Int, path: String): Unit =
    docs.repartition(shards, col(key))
      .write.mode("overwrite").partitionBy(splitCol).json(path)

  /** [[exportJsonl]] with the shard count sized from a BYTES target
    * instead of a raw count — the knob that matters at 100 TB, where shard
    * size IS downstream read parallelism (a plain .jsonl splits at byte
    * offsets, but a gzipped shard is one stream = one consumer task, so an
    * oversized shard serializes the whole scan behind one core —
    * [[graft.sources.JsonLines.writeGzip]]).
    *
    * count = ceil(estimated serialized bytes / `targetShardBytes`), where
    * the estimate is rows × mean JSONL line bytes over a `sampleRows`-
    * bounded sample (measured through `to_json` on the actual schema, so
    * it tracks the writer's null-omitting serialization, not the input
    * format's size). Costs one count plus one O(sampleRows) sample job
    * before the export — noise against the export itself, and the price
    * of not guessing. Returns the chosen shard count so callers can log
    * or assert it.
    */
  def exportJsonlSized(docs: DataFrame, splitCol: String, key: String,
                       targetShardBytes: Long, path: String,
                       sampleRows: Int = 4096): Int = {
    require(targetShardBytes > 0,
      s"exportJsonlSized: targetShardBytes must be positive, got $targetShardBytes")
    require(sampleRows > 0,
      s"exportJsonlSized: sampleRows must be positive, got $sampleRows")
    val nRows = docs.count()
    // +1 per row for the newline the line writer appends. octet_length, not
    // length: length() counts characters, which undercounts multibyte UTF-8
    // corpora and would silently produce oversized shards.
    val avgRow = docs.limit(sampleRows)
      .select((octet_length(to_json(struct(col("*")))).cast("long") + 1L).as("b"))
      .agg(avg(col("b")).as("avg_b"))
      .collect()(0)
    val avgBytes = if (avgRow.isNullAt(0)) 0.0 else avgRow.getDouble(0)
    val shards = math.max(1, math.ceil(nRows * avgBytes / targetShardBytes).toInt)
    exportJsonl(docs, splitCol, key, shards, path)
    shards
  }

  /** Split-leakage audit: counts of exact-duplicate pairs that straddle
    * split boundaries (train/test leakage through duplicated documents)
    * versus pairs inside one split. Aggregate-only formulation: group by
    * fingerprint to per-split counts, then pair counts are products /
    * C(n,2) sums — no self-join, so a degenerate fingerprint group (every
    * empty doc) costs one row, never a quadratic pair explosion.
    */
  def splitLeakage(docs: DataFrame, id: String, text: String): DataFrame = {
    val f = splitAssign(docs, id)
      .select(TextAnalysis.fingerprint(col(text)).as("fp"), col("split"))
    val g = f.groupBy("fp").agg(
      sum(when(col("split") === "train", 1L).otherwise(0L)).as("nt"),
      sum(when(col("split") === "val", 1L).otherwise(0L)).as("nv"),
      sum(when(col("split") === "test", 1L).otherwise(0L)).as("ns"))
    def c2(n: Column) = ((n * (n - 1)) / 2).cast("long")
    g.agg(
      count(lit(1)).as("n_fingerprints"),
      sum(when(col("nt") + col("nv") + col("ns") > 1, 1L).otherwise(0L))
        .as("n_dup_groups"),
      sum(col("nt") * col("nv") + col("nt") * col("ns") + col("nv") * col("ns"))
        .as("cross_split_pairs"),
      sum(c2(col("nt")) + c2(col("nv")) + c2(col("ns"))).as("within_split_pairs"))
  }

  /** Corpus mix report: per-cell (e.g. source × lang) document and token
    * counts plus each cell's share of corpus tokens — the accounting table
    * a training mix is weighted from. One scan + one map-side-combined
    * aggregation; the share divides by an unpartitioned window total, which
    * is safe because it runs over the (dims-cardinality-sized) aggregate,
    * never the corpus.
    */
  def mixReport(docs: DataFrame, dims: Seq[String], text: String): DataFrame = {
    val base = docs.select(
      dims.map(col) :+ TextAnalysis.tokenCount(col(text)).cast("long").as("nt"): _*)
    val cells = base.groupBy(dims.map(col): _*)
      .agg(count(lit(1)).as("n_docs"), sum(col("nt")).as("n_tokens"))
    cells.withColumn("token_share",
      round(col("n_tokens") / sum(col("n_tokens")).over(Window.partitionBy()), 6))
  }

  /** Per-stage row counts of a [[curate]] run. */
  final case class CurationReport(nInput: Long, nAfterQuality: Long,
                                  nAfterExactDedup: Long, nAfterNearDup: Long,
                                  perSplit: Map[String, Long])

  /** The end-to-end curation pipeline, one call: token-count quality gate →
    * exact dedup (keep the smallest id per fingerprint) → near-dup removal
    * (MinHash-LSH pairs → connected components → keep each cluster's
    * representative) → deterministic split assignment. Returns the curated
    * corpus (with a `split` column) plus per-stage counts.
    *
    * Composes the individually-graded operators; each stage keeps its own
    * scale shape (in-row gate, two-phase agg dedup, ids-only LSH exchange,
    * in-row split). Each stage output is materialized once: the stage
    * count, the next stage, and the caller's action on the returned frame
    * all read the blocks — no stage is ever recomputed.
    */
  def curate(docs: DataFrame, id: String, text: String,
             minTokens: Long = 1L, maxTokens: Long = 1000000L,
             nearDupThreshold: Double = 0.9): (DataFrame, CurationReport) = {
    val nInput = docs.count()

    // each stage is materialized before its count so the stage runs
    // exactly once: the count, the next stage, and the caller's eventual
    // action all read the materialized blocks instead of recomputing the
    // quality filter + dedup joins from the raw scan (without this, the
    // three counts plus the perSplit collect plus the caller's action
    // re-ran the whole upstream pipeline ~5×)
    val nt = TextAnalysis.tokenCount(col(text)).cast("long")
    val quality = docs.filter(nt.between(minTokens, maxTokens))
      .localCheckpoint(eager = false)
    val nQuality = quality.count()

    val keepExact = Dedup.exact(quality, id, text).select(col("keep_id").as(id))
    val exactDeduped = quality.join(keepExact, Seq(id), "left_semi")
      .localCheckpoint(eager = false)
    val nExact = exactDeduped.count()

    val pairs = Dedup.minhashLsh(exactDeduped, id, text, threshold = nearDupThreshold)
    val reps = Dedup.clusterCorpus(exactDeduped, id, pairs)
      .filter(col("doc_id") === col("cluster"))
      .select(col("doc_id").as(id))
    val nearDeduped = exactDeduped.join(reps, Seq(id), "left_semi")
      .localCheckpoint(eager = false)
    val nNear = nearDeduped.count()

    val curated = splitAssign(nearDeduped, id)
    val perSplit = curated.groupBy("split").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    (curated, CurationReport(nInput, nQuality, nExact, nNear, perSplit))
  }

  /** Top-`k` TF-IDF terms per document: tf = in-doc term count,
    * idf = ln(N/df) over documents with ≥1 token, score = tf·idf.
    *
    * Plan: explode → (doc, term) count [shuffle 1, map-side combined] →
    * term df [shuffle 2, combined] → equi-join tf⋈df on term (AQE picks
    * broadcast when the vocabulary is small) → per-doc top-k window.
    * Ranking compares `round(score, 6)` then the term, so the order is
    * reproducible across engines whose `ln` differs in the last ulp.
    */
  def tfidfTopTerms(docs: DataFrame, id: String, text: String, k: Int = 3): DataFrame = {
    val toks = docs
      .select(col(id).as("doc_id"),
        explode(TextAnalysis.tokens(col(text))).as("term"))
    // tf is materialized once and every later relation — df, the corpus
    // size, the join left side — derives from it: without this the df/N
    // branches are separately-pruned subplans that defeat exchange reuse
    // and re-scan + re-tokenize the corpus (3 parquet scans measured; why a
    // local checkpoint and not `.cache()`: README, "Materialization"). With
    // the materialization the corpus is scanned exactly once and the
    // reused relation is token-level, far smaller than the text.
    val tf = toks.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
      .localCheckpoint(eager = false)
    val df = tf.groupBy("term").agg(count(lit(1)).as("df"))
    // corpus size (docs with ≥1 token) as a lazy 1-row aggregate broadcast
    // by the cross join — not a driver-side count()
    val nDocs = tf.agg(count_distinct(col("doc_id")).cast("double").as("n_corpus"))
    val scored = tf.join(df, Seq("term")).crossJoin(nDocs)
      .withColumn("tfidf",
        round(col("tf") * log(col("n_corpus") / col("df")), 6))
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("tfidf").desc, col("term"))
    scored
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("doc_id"), col("rank").cast("long").as("rank"), col("term"),
        col("tf"), col("df"), col("tfidf"))
  }

  /** CCNet-style perplexity bucketing (Wenzek et al. 2020): per language,
    * rank documents by the bigram LM score ([[TextAnalysis.lmScore]] —
    * higher = more fluent), split into head/middle/tail tertiles with
    * `ntile(3)`, and keep the head whole, a hash fraction of the middle,
    * and a sliver of the tail — the classic quality-stratified
    * downsampling of a web crawl. The kept set is content-stable (md5
    * threshold per doc id, the [[sampleByHash]] discipline), and the
    * ranking sorts the 4dp-ROUNDED score with a doc_id tiebreak so tertile
    * boundaries are engine-stable. Output: one row per (lang, bucket) —
    * total docs, kept docs, and the bucket's summed score in guard-banded
    * cents, so a single doc landing in the wrong tertile or the wrong
    * side of a keep threshold moves the grade.
    *
    * Scale: the LM model aggregates are vocabulary-bounded; the only
    * per-doc ordering is the within-language ntile window — a sort
    * partitioned by language, the same shape CCNet itself shards by.
    */
  def perplexityBuckets(docs: DataFrame, id: String, text: String,
                        lang: String, midFrac: Double = 0.5,
                        tailFrac: Double = 0.1): DataFrame = {
    val scored = TextAnalysis.lmScore(docs, id, text)
      .join(docs.select(col(id).cast("long").as("doc_id"),
        col(lang).as("lang")), Seq("doc_id"))
    val w = Window.partitionBy(col("lang"))
      .orderBy(col("lm_score").desc, col("doc_id"))
    val keep = col("bucket") === 1 ||
      (col("bucket") === 2 &&
        hexHash(col("doc_id"), 4) < lit(hexThreshold(midFrac * 100.0, 4))) ||
      (col("bucket") === 3 &&
        hexHash(col("doc_id"), 4) < lit(hexThreshold(tailFrac * 100.0, 4)))
    scored.withColumn("bucket", ntile(3).over(w))
      .withColumn("kept", keep)
      .groupBy("lang", "bucket")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("kept"), 1L).otherwise(0L)).as("n_kept"),
        expr("CAST(floor((2*CAST(round(sum(lm_score)*10000) AS BIGINT) + 100) / 200e0) AS BIGINT)")
          .as("sum_score_cents"))
      .select(col("lang"), col("bucket").cast("long").as("bucket"),
        col("n_docs"), col("n_kept"), col("sum_score_cents"))
      .orderBy("lang", "bucket")
  }

  /** DSIR-style importance selection (Xie et al. 2023, "Data Selection
    * via Importance Resampling"): rank raw documents by how much their
    * hashed-token distribution looks like a TARGET slice of the corpus,
    * and keep the top 1/`selectNth`. This engine's variant swaps DSIR's
    * log-likelihood-ratio for the per-bucket likelihood RATIO in
    * fixed-point integer arithmetic — `r_b = (t_b+1)·10⁶ div (q_b+1)`,
    * add-one smoothed, with the bucket-independent total-count factor
    * dropped (it scales every doc identically, so the RANKING is
    * unchanged) — which makes the whole selection engine-exact instead of
    * depending on whose `ln` rounds last. A document's score is the
    * token-count-weighted mean ratio (`Σ c_b·r_b div Σ c_b` — per-token,
    * so length doesn't masquerade as relevance); ties break on doc_id.
    *
    * Scale shape: tokens hash to `buckets` cells IN-ROW; the two model
    * aggregates are bounded by `buckets` keys and broadcast back; the
    * per-doc agg is two-phase with ≤ `buckets` partials per doc; the
    * final selection is TakeOrdered (k per partition crosses the wire).
    * The only driver action is the corpus row-count that sizes the cut.
    * Zero-token docs score 0 and sort by id among themselves.
    */
  def dsirSelect(docs: DataFrame, id: String, text: String,
                 targetPred: Column, buckets: Int = 64,
                 selectNth: Int = 4): DataFrame = {
    require(buckets > 0 && selectNth > 0,
      s"dsirSelect: bad buckets=$buckets selectNth=$selectNth")
    val base = docs.select(col(id).cast("long").as("doc_id"),
      col(text).as("text"), targetPred.as("is_target"))
    val tok = base
      .select(col("doc_id"), col("is_target"),
        explode(TextAnalysis.tokens(col("text"))).as("tkn"))
      .withColumn("b",
        conv(substring(md5(col("tkn").cast("binary")), 1, 8), 16, 10)
          .cast("long") % buckets)
    // The doc×bucket histogram is materialized ONCE and every model
    // relation derives from it — without this the target counts, raw
    // counts, and per-doc scores are separately-pruned subplans that
    // re-scan and re-tokenize the corpus (the tfidfTopTerms lesson).
    // is_target is constant within a doc so carrying it in the grouping
    // adds no keys.
    val docBuckets = tok.groupBy("doc_id", "is_target", "b").agg(count(lit(1)).as("c"))
      .localCheckpoint(eager = false)
    val dom = docs.sparkSession.range(buckets).select(col("id").as("b"))
    val tCnt = docBuckets.filter(col("is_target")).groupBy("b")
      .agg(sum("c").as("tb"))
    val qCnt = docBuckets.groupBy("b").agg(sum("c").as("qb"))
    val ratio = dom.join(tCnt, Seq("b"), "left").join(qCnt, Seq("b"), "left")
      .na.fill(0L, Seq("tb", "qb"))
      .select(col("b"), expr("((tb + 1) * 1000000L) div (qb + 1)").as("r"))
    val scored = docBuckets.join(broadcast(ratio), Seq("b"))
      .groupBy("doc_id")
      .agg(expr("sum(c * r) div sum(c)").as("score_micro"))
    val all = base.select("doc_id").join(scored, Seq("doc_id"), "left")
      .na.fill(0L, Seq("score_micro"))
    // saturating clamp: a 10¹⁰-doc corpus over selectNth=4 overflows a
    // bare .toInt into a negative limit
    val nSel = math.min(base.count() / selectNth, Int.MaxValue.toLong).toInt
    all.orderBy(col("score_micro").desc, col("doc_id")).limit(nSel)
      .orderBy("doc_id")
  }

  /** Cross-source score calibration: map each row's raw quality score to
    * its within-source decile (0..deciles-1) so scores from heterogeneous
    * sources become comparable — the normalization step before any global
    * quality threshold, since a "0.7" from one classifier run or domain
    * rarely means what a "0.7" from another does. Cut values are DISCRETE
    * within-source quantiles ([[Relational.discreteCuts]] — actual data
    * values, so `score > cut` comparisons are engine-exact, never a
    * float-interpolation ulp); the calibrated rank counts strictly-greater
    * cuts, deterministic under ties by construction.
    *
    * Scale shape: one grouped quantile aggregate (source-cardinality
    * output) broadcast back onto the scan; the assignment is an in-row
    * CASE sum — the corpus itself never shuffles. At 100 TB swap the
    * exact cuts for `approx_percentile`, shape unchanged.
    */
  def calibrateScores(df: DataFrame, source: String, score: String,
                      deciles: Int = 10): DataFrame = {
    require(deciles >= 2 && deciles <= 100,
      s"calibrateScores: deciles must be 2..100, got $deciles")
    val probs = (1 until deciles).map(i => i.toDouble / deciles -> s"__cut$i")
    val cuts = Relational.discreteCuts(df, source, score, probs)
    val rank = probs.map { case (_, n) =>
      when(col(score) > col(n), 1).otherwise(0)
    }.reduce(_ + _)
    df.join(broadcast(cuts), Seq(source))
      .withColumn("calibrated", rank.cast("long"))
      .drop(probs.map(_._2): _*)
  }

  /** Greedy token-budget selection: per source, keep documents in quality
    * order (ties to the lower id) while the running token total stays
    * within `budgetTokens` — the "fill N tokens per domain, best first"
    * step that turns per-document quality scores into an actual training
    * mix. Inclusive prefix: the document that would cross the budget is
    * the first one dropped.
    *
    * Scale shape: one window per source (shuffle on the source key + a
    * per-source sort — the same cost class as any per-domain ranking; for
    * a pathologically hot source, pre-filter with [[domainCap]] or a
    * coarse hash sample first, then budget-select the survivors).
    */
  def tokenBudgetSelect(df: DataFrame, source: String, tokens: String,
                        quality: Column, tiebreak: String,
                        budgetTokens: Long): DataFrame = {
    require(budgetTokens > 0, s"tokenBudgetSelect: bad budget $budgetTokens")
    // ROWS frame, explicitly: the default RANGE frame includes ALL peer
    // rows that tie on (quality, tiebreak) at once, which diverges from
    // the documented greedy-prefix semantics (and from the ROWS-framed
    // oracle) the moment two rows tie.
    val w = Window.partitionBy(col(source))
      .orderBy(quality.desc, col(tiebreak).asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    df.withColumn("cum_tokens", sum(col(tokens)).over(w))
      .filter(col("cum_tokens") <= budgetTokens)
  }

  /** Per-domain frequency cap (the RefinedWeb/CC-pipeline "domain capping"
    * step): keep at most `cap` documents per domain, preferring higher
    * `score`, ties to the lower id. Without it a handful of SEO farms and
    * boilerplate-heavy hosts dominate a web-scale corpus no matter how good
    * the per-document quality filters are — the cap bounds any single
    * domain's contribution to the training mix by construction.
    *
    * Scale shape: the keep-set comes from the bounded
    * [[graft.functions.topk_pairs]] aggregate — O(cap) reducer state per
    * domain, partially aggregated map-side, so a 10⁸-page domain sends
    * `cap` pairs per partition across the shuffle, never its row set (the
    * `row_number` window formulation sorts the whole domain inside one
    * task — exactly the skew OOM a hot domain triggers at 100 TB). The
    * ids-only keep-set (#domains × cap rows) then left-semi-joins back to
    * the corpus; AQE broadcasts it, so the corpus itself never shuffles.
    */
  def domainCap(df: DataFrame, domain: String, id: String,
                score: Column, cap: Int): DataFrame = {
    val kept = df.groupBy(col(domain))
      .agg(graft.functions.topk_pairs(score, col(id), cap).as("top"))
      .select(explode(col("top.id")).as("_keep_id"))
    df.join(kept, col(id).cast("long") === col("_keep_id"), "left_semi")
  }

  /** URL canonicalization — the normalization that makes URL-keyed dedup
    * and [[domainCap]] grouping actually collapse the same page's spelling
    * variants: lowercase scheme and host, drop the scheme's default port
    * (`:80`/`:443`) and a leading `www.`, strip the fragment, remove
    * `utm_*` tracking parameters (tidying separators), default an empty
    * path to `/` and strip a non-root path's trailing slashes. Path CASE
    * IS PRESERVED (paths are case-sensitive by RFC 3986; only scheme/host
    * are not). A value with no `scheme://` prefix passes through trimmed
    * and untouched — this canonicalizes URLs, it does not guess at
    * non-URLs.
    *
    * Pure in-row regexp/string surgery (codegen, zero shuffle) — the same
    * deterministic-spec stance as
    * [[graft.operators.TextAnalysis.htmlExtract]]: every engine and every
    * run lands on identical bytes, which is what dedup fingerprints key on.
    */
  def canonicalizeUrl(url: Column): Column = {
    val u = trim(url)
    val schemePat = "^([A-Za-z][A-Za-z0-9+.-]*)://"
    val scheme = lower(regexp_extract(u, schemePat, 1))
    // schemePat itself captures group 1, so these capture as group 2
    val hostPort = lower(regexp_extract(u, schemePat + "([^/?#]+)", 2))
    val rest = regexp_extract(u, schemePat + "[^/?#]+(.*)$", 2)
    val noFrag = regexp_replace(rest, "#.*$", "")
    // drop utm_* params — anchored to a parameter boundary (`?` or `&`)
    // so a non-utm param whose NAME merely contains "utm_" (?xutm_a=1)
    // and a PATH segment spelled like one (/utm_campaign=spring) pass
    // through untouched — then tidy the separators the removal orphaned
    val noUtm = regexp_replace(noFrag, "([?&])utm_[A-Za-z0-9_]*=[^&#]*", "$1")
    val tidy = regexp_replace(
      regexp_replace(regexp_replace(noUtm, "\\?&+", "?"), "&&+", "&"),
      "[?&]+$", "")
    val path = regexp_extract(tidy, "^([^?]*)", 1)
    val query = regexp_extract(tidy, "(\\?.*)$", 1)
    val pathStripped = regexp_replace(path, "/+$", "")
    val pathNorm = when(pathStripped === "", lit("/")).otherwise(pathStripped)
    val hostNoDefault =
      when(scheme === "http", regexp_replace(hostPort, ":80$", ""))
        .when(scheme === "https", regexp_replace(hostPort, ":443$", ""))
        .otherwise(hostPort)
    val host = regexp_replace(hostNoDefault, "^www\\.", "")
    when(scheme === "", u)
      .otherwise(concat(scheme, lit("://"), host, pathNorm, query))
  }

  /** Blocklist / bad-word dictionary gate — the standard web-corpus
    * filter (C4 §2.2 drops any page with a "List of Dirty, Naughty…"
    * word; most production pipelines soften that to a density
    * threshold). Per doc: total token count, blocked-term occurrences
    * (every hit, not just distinct), distinct blocked terms, an integer
    * hit density in ppm, and the gate verdict
    * `density > maxDensityPpm OR distinct hits ≥ distinctCap`.
    *
    * The dictionary is a broadcast-class literal array riding the
    * closure into codegen: per-row `filter`/`array_intersect` against it
    * is pure in-row work — zero shuffle, scan-bound at 100 TB. A
    * dictionary too large for a literal (millions of phrases) would
    * switch to the explode + broadcast-join plan; this path covers the
    * realistic few-thousand-term case.
    */
  def blocklistFilter(docs: DataFrame, id: String, text: String,
                      terms: Seq[String], maxDensityPpm: Long = 10000L,
                      distinctCap: Int = 2): DataFrame = {
    require(terms.nonEmpty, "blocklistFilter: empty dictionary")
    require(maxDensityPpm >= 0 && distinctCap >= 1,
      s"blocklistFilter: bad thresholds ppm=$maxDensityPpm cap=$distinctCap")
    val dict = array(terms.distinct.map(lit): _*)
    docs
      .select(col(id).as("doc_id"),
        TextAnalysis.tokens(lower(col(text))).as("_tk"))
      .select(col("doc_id"),
        size(col("_tk")).cast("long").as("n_tokens"),
        size(filter(col("_tk"),
          t => array_contains(dict, t))).cast("long").as("n_hits"),
        size(array_intersect(array_distinct(col("_tk")), dict))
          .cast("long").as("n_distinct_hits"))
      .withColumn("density_ppm",
        when(col("n_tokens") === 0L, lit(0L))
          .otherwise(expr("n_hits * 1000000 div n_tokens")))
      .withColumn("blocked",
        col("density_ppm") > maxDensityPpm ||
          col("n_distinct_hits") >= distinctCap)
  }

  /** k-anonymity / l-diversity audit (Sweeney 2002; Machanavajjhala et
    * al. 2007) — the release gate a dataset must pass before rows keyed
    * by quasi-identifiers leave the pipeline. Groups by the
    * quasi-identifier tuple; per equivalence class reports its size, the
    * number of distinct sensitive values, and the two violation
    * verdicts (`n < k` re-identifiable, `distinct sensitive < l`
    * attribute-disclosable).
    *
    * Scale shape: one hash-aggregate on the quasi-identifier key with
    * map-side partials (count + distinct-sensitive via a two-key
    * pre-aggregate, so wide sensitive values never cross the exchange
    * more than once per class). Output is O(#classes), the audit
    * artifact a compliance review reads.
    */
  def kAnonymityAudit(df: DataFrame, quasi: Seq[String], sensitive: String,
                      k: Long, l: Long): DataFrame = {
    require(quasi.nonEmpty, "kAnonymityAudit: need quasi-identifier columns")
    require(k >= 1 && l >= 1, s"kAnonymityAudit: bad k=$k l=$l")
    val qc = quasi.map(col)
    df.groupBy(qc: _*)
      .agg(count(lit(1)).as("class_size"),
        count_distinct(col(sensitive)).as("sensitive_distinct"))
      .withColumn("violates_k", col("class_size") < k)
      .withColumn("violates_l", col("sensitive_distinct") < l)
  }

  /** Differentially-private count release (Dwork et al. 2006): per-group
    * counts plus Laplace(1/eps) noise via the inverse CDF
    * `x = −b·sgn(u−½)·ln(1−2|u−½|)`, with the uniform u drawn NOT from
    * an RNG but from the salted md5 of the group key — the house
    * content-stable-hash discipline, which makes the release replayable
    * (and therefore auditable and oracle-gradeable). A production
    * release under a formal DP guarantee would draw u from a sealed RNG
    * instead — same operator shape, one column swapped; the salt models
    * the per-release secret.
    *
    * u is built exactly in doubles: u = (2h+1)/2^49 for the 48-bit md5
    * prefix h, so `1−2|u−½| = (2^49 − 2|2h+1 − 2^48|)/2^49` is exact
    * arithmetic both engines reproduce bit-identically before the one
    * ln() call, and 2h+1 is odd so sgn never hits zero.
    *
    * Scale shape: one hash agg with map-side partials, then pure in-row
    * noise arithmetic — the release is O(#groups).
    */
  def dpNoisyCounts(df: DataFrame, grp: String, salt: String,
                    epsNum: Long, epsDen: Long): DataFrame = {
    require(epsNum > 0 && epsDen > 0, s"dpNoisyCounts: bad eps " +
      s"$epsNum/$epsDen")
    val b = epsDen.toDouble / epsNum.toDouble // Laplace scale 1/eps
    val two48 = 1L << 48
    val two49d = math.pow(2.0, 49)
    df.groupBy(col(grp).as("grp"))
      .agg(count(lit(1)).as("true_count"))
      .withColumn("h",
        conv(substring(md5(concat(lit(salt + ":"), col("grp"))
          .cast("binary")), 1, 12), 16, 10).cast("long"))
      .withColumn("_num", col("h") * 2L + 1L - two48)
      .withColumn("noise", round(
        lit(-b) * signum(col("_num").cast("double")) *
          log((lit(two49d) - lit(2.0) * abs(col("_num")).cast("double"))
            / lit(two49d)), 6))
      .withColumn("released", round(col("true_count") + col("noise"), 6))
      .select(col("grp").as(grp), col("true_count"), col("h"),
        col("noise"), col("released"))
  }
}
