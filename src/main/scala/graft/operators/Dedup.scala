package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication family for training-data curation: exact, n-gram Jaccard,
  * MinHash+LSH, SimHash.
  *
  * Scale shape: per-document signatures are computed inside the row (array
  * higher-order functions — no explode, no shuffle); only the tiny
  * (doc → bucket) pairs shuffle for the LSH bucket join. At 100 TB the
  * candidate-pair stage touches a few permille of the corpus instead of
  * the O(n²) cross product.
  */
object Dedup {

  /** Exact dedup: group on the canonical fingerprint, keep the smallest id.
    * Plain two-phase hash aggregate — map-side partials make this scan-bound.
    */
  def exact(docs: DataFrame, id: String, text: String): DataFrame =
    docs
      .select(col(id), TextAnalysis.fingerprint(col(text)).as("fingerprint"))
      .groupBy("fingerprint")
      .agg(min(col(id)).as("keep_id"), count(lit(1)).as("dup_count"))

  /** Exact dedup with source priority: among fingerprint-equal docs keep
    * the one with the LOWEST priority value (then smallest id) — "when the
    * same content arrives from several sources, keep the canonical one".
    * Same two-phase hash aggregate as [[exact]]: the argmin rides as a
    * `min(struct(priority, id))` so partials combine map-side and no
    * window or self-join ever materializes the duplicate groups.
    */
  def exactByPriority(docs: DataFrame, id: String, text: String,
                      priority: Column): DataFrame =
    docs.select(col(id), priority.cast("long").as("_prio"),
        TextAnalysis.fingerprint(col(text)).as("fingerprint"))
      .groupBy("fingerprint")
      .agg(min(struct(col("_prio"), col(id))).as("_best"),
        count(lit(1)).as("dup_count"))
      .select(col("fingerprint"),
        col("_best").getField(id).as("keep_id"),
        col("_best").getField("_prio").as("keep_priority"),
        col("dup_count"))

  /** Distinct word k-shingles of a document (arrays stay in-row).
    * Pure-builtin formulation — [[graft.functions.word_shingles]] is the
    * codegen'd kernel used on the hot path, validated equal to this.
    */
  def shingles(text: Column, k: Int): Column = {
    val toks = TextAnalysis.tokens(text)
    val n = size(toks)
    when(n < k, array_distinct(when(n > 0, array(concat_ws(" ", toks)))
        .otherwise(array().cast("array<string>"))))
      .otherwise(array_distinct(transform(
        sequence(lit(0), n - k),
        i => concat_ws(" ", slice(toks, i + lit(1), lit(k))))))
  }

  /** Exact Jaccard similarity of two distinct-token/shingle arrays.
    * Integer set sizes → one double division: bit-reproducible.
    */
  def jaccard(a: Column, b: Column): Column = {
    val inter = size(array_intersect(a, b)).cast("double")
    val uni = size(array_distinct(concat(a, b))).cast("double")
    when(uni === 0d, lit(1.0)).otherwise(inter / uni)
  }

  /** All-pairs n-gram (token set) Jaccard over a bounded id range — the
    * exact-verification building block. The quadratic candidate space is
    * capped by `maxId`; at scale use [[minhashLsh]] to generate candidates
    * and this only on the (tiny) candidate set.
    */
  /** The shared capped pair domain of the exact verifiers: token-set
    * self-join over a bounded id range, a_id < b_id, small side broadcast.
    * The hard cap is the quadratic-guard policy in one place.
    */
  private def boundedTokenPairs(docs: DataFrame, id: String, text: String,
                                maxId: Long, what: String,
                                requireNonEmpty: Boolean = false): DataFrame = {
    require(maxId <= 100000L,
      s"$what is quadratic — maxId=$maxId; use minhashLsh for candidate generation")
    val base = docs
      .filter(col(id) < maxId)
      .select(col(id), array_distinct(TextAnalysis.tokens(col(text))).as("toks"))
    val t = if (requireNonEmpty) base.filter(size(col("toks")) > 0) else base
    // the probe side carries the O(|a|x|b|) per-pair verify compute
    // (array intersections over full token sets); spread it so the
    // broadcast nested-loop join doesn't ride a single scan split
    // (measured: the whole verify ran as 1 task of ~1 s at sf0.1)
    val a = Par.spread(t.select(col(id).as("a_id"), col("toks").as("a_toks")))
    val b = t.select(col(id).as("b_id"), col("toks").as("b_toks"))
    a.join(broadcast(b), col("a_id") < col("b_id"))
  }

  def ngramJaccardPairs(docs: DataFrame, id: String, text: String,
                        threshold: Double, maxId: Long): DataFrame =
    boundedTokenPairs(docs, id, text, maxId, "ngramJaccardPairs")
      .select(col("a_id"), col("b_id"),
        round(jaccard(col("a_toks"), col("b_toks")), 6).as("jaccard"))
      .filter(col("jaccard") >= threshold)

  /** Candidate pairs of the prefix-filter join: docs sharing at least one
    * token in their RAREST-first prefixes, size-filtered. Package-private
    * so the spec can grade the pruning itself, not just the final pairs.
    */
  private[operators] def prefixCandidates(toks: DataFrame, tauNum: Int,
                                          tauDen: Int): DataFrame = {
    val x = toks.select(col("doc_id"), explode(col("toks")).as("tok"))
    val freq = x.groupBy("tok").agg(count(lit(1)).as("freq"))
    // per-doc token list ordered rarest-first: the ordering KEY is the
    // (global count, token) pair itself — no global rank window needed
    // pinned-width keyed repartitions below: each replaces the implicit
    // exchange of the operation above it (same key, same width — no
    // extra shuffle), but keeps the post-shuffle stage parallel where
    // AQE's byte-based coalescing would fold these tiny-bytes/heavy-
    // compute relations to one task (measured at sf0.1)
    val sorted = Par.byKey(x.join(freq, Seq("tok")), col("doc_id"))
      .groupBy("doc_id")
      .agg(array_sort(collect_list(struct(col("freq"), col("tok")))).as("st"),
        count(lit(1)).as("n"))
    // Jaccard >= num/den needs the two sets to agree on at least one of
    // the first n - ceil(num*n/den) + 1 rarest tokens (the prefix-filter
    // principle); all arithmetic integer so both engines cut identically
    val pref = sorted
      .select(col("doc_id"), col("n"),
        explode(expr(s"slice(st, 1, n - ($tauNum*n + ${tauDen - 1}) div $tauDen + 1)"))
          .as("pt"))
      .select(col("doc_id"), col("n"), col("pt.tok").as("tok"))
    val prefP = Par.byKey(pref, col("tok"))
    val joined = prefP.as("a").join(prefP.as("b"),
        col("a.tok") === col("b.tok") && col("a.doc_id") < col("b.doc_id") &&
        col("a.n") * tauNum <= col("b.n") * tauDen &&
        col("b.n") * tauNum <= col("a.n") * tauDen)
      // sizes ride along (functionally dependent on the ids) so the
      // verify stage can form the union as n_a + n_b − |∩| instead of
      // materializing a distinct-concat per candidate
      .select(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"),
        col("a.n").as("n_a"), col("b.n").as("n_b"))
    // clustering by (a_id, b_id) satisfies the 4-column distinct's
    // required distribution (subset rule), so this is the distinct's own
    // exchange — and the verify joins broadcast onto its output, so the
    // per-candidate intersections inherit the width
    Par.byKey(joined, col("a_id"), col("b_id")).distinct()
  }

  /** Prefix-filter exact similarity join (AllPairs/PPJoin family —
    * Bayardo et al. WWW'07, Xiao et al. WWW'08): every pair with token-set
    * Jaccard ≥ tauNum/tauDen, with NO candidate loss — the exact rung
    * between the capped brute-force verifier ([[ngramJaccardPairs]]) and
    * probabilistic [[minhashLsh]]. Pruning is twofold and loss-free:
    * candidates must share a token among their rarest-prefix slices
    * (length n − ⌈τn⌉ + 1), and sizes must satisfy τ·|a| ≤ |b| ≤ |a|/τ.
    * Only prefix tokens are exploded; full token arrays travel once, to
    * verify surviving candidates in-row.
    *
    * `maxId` is the quadratic guard of the verify stage (the prefix join
    * itself is fan-out-bounded): an order of magnitude looser than the
    * brute-force cap because verification touches candidates, not pairs.
    */
  def prefixJaccardPairs(docs: DataFrame, id: String, text: String,
                         tauNum: Int = 9, tauDen: Int = 10,
                         maxId: Long = 1000000L): DataFrame = {
    require(tauNum > 0 && tauNum <= tauDen,
      s"prefixJaccardPairs: bad threshold $tauNum/$tauDen")
    // tokenized ONCE: candidate generation and both verify joins are
    // three consumers of the token relation — without the
    // materialization each is a separately-pruned subplan that re-scans
    // and re-tokenizes the corpus (the tfidfTopTerms lesson)
    // spread BEFORE tokenizing: the exchange carries raw (id, text) once,
    // and everything downstream — tokenization, the prefix explosion, the
    // candidate self-join's map sides, and the in-row verify intersections
    // — inherits the parallelism through the checkpoint's 1:1 lineage
    // (measured at sf0.1: the whole pipeline ran as two ~2.4 s single-task
    // stages off the one-split fixture scan)
    val toks = Par.spread(docs.filter(col(id) < maxId)
          .select(col(id).cast("long").as("doc_id"), col(text).as("_t")))
        .select(col("doc_id"),
          array_distinct(graft.operators.TextAnalysis.tokens(col("_t"))).as("toks"))
        .filter(size(col("toks")) > 0)
        .localCheckpoint(eager = false)
    val cand = prefixCandidates(toks, tauNum, tauDen)
    cand
      .join(toks.select(col("doc_id").as("a_id"), col("toks").as("a_toks")), Seq("a_id"))
      .join(toks.select(col("doc_id").as("b_id"), col("toks").as("b_toks")), Seq("b_id"))
      .withColumn("inter", size(array_intersect(col("a_toks"), col("b_toks"))).cast("double"))
      .select(col("a_id"), col("b_id"),
        round(col("inter") / (col("n_a") + col("n_b") - col("inter")), 6)
          .as("jaccard"))
      .filter(col("jaccard") >= lit(tauNum.toDouble / tauDen))
  }

  /** Asymmetric containment pairs: c(A→B) = |S(A)∩S(B)| / |S(A)| over
    * distinct token sets, both directions per pair — the quote/subset
    * signal Jaccard misses (a short doc fully embedded in a long one has
    * low Jaccard but containment 1.0 from the short side). Same
    * verification-only contract as [[ngramJaccardPairs]]: quadratic by
    * design, hard-capped, fed by LSH candidates at scale. Empty-token
    * docs are excluded (containment over an empty set is undefined).
    */
  def containmentPairs(docs: DataFrame, id: String, text: String,
                       threshold: Double, maxId: Long): DataFrame = {
    val inter = size(array_intersect(col("a_toks"), col("b_toks"))).cast("double")
    boundedTokenPairs(docs, id, text, maxId, "containmentPairs",
        requireNonEmpty = true)
      .select(col("a_id"), col("b_id"),
        round(inter / size(col("a_toks")), 6).as("cont_ab"),
        round(inter / size(col("b_toks")), 6).as("cont_ba"))
      .filter(greatest(col("cont_ab"), col("cont_ba")) >= threshold)
  }

  /** Corpus snapshot diff: per-dimension counts of added / removed /
    * changed / unchanged documents between two corpus versions — the
    * audit a continuously-growing training corpus publishes per ingest.
    *
    * Scale shape: each side reduces to (id, fingerprint, dims) IN-ROW
    * before the full-outer equi-join on id — the join exchanges fixed-
    * width fingerprints, never text.
    */
  def corpusDiff(before: DataFrame, after: DataFrame, id: String,
                 text: String, dim: String): DataFrame = {
    // presence is a dedicated marker, NOT fingerprint nullness — a doc
    // with NULL text is still present in its snapshot; NULL text compares
    // null-safely so NULL→NULL is unchanged and NULL→'x' is changed
    def slim(df: DataFrame, side: String) = df.select(
      col(id).as("doc_id"),
      md5(col(text).cast("binary")).as(s"${side}_fp"),
      col(dim).as(s"${side}_dim"),
      lit(true).as(s"${side}_present"))
    slim(before, "b").join(slim(after, "a"), Seq("doc_id"), "full_outer")
      .select(
        coalesce(col("a_dim"), col("b_dim")).as(dim),
        when(col("b_present").isNull, "added")
          .when(col("a_present").isNull, "removed")
          .when(!(col("a_fp") <=> col("b_fp")), "changed")
          .otherwise("unchanged").as("status"))
      .groupBy(col(dim), col("status"))
      .agg(count(lit(1)).as("n_docs"))
  }

  /** MinHash + LSH banding near-dup candidates, exact-verified.
    *
    * bands×rows = numHashes; two docs collide if any band of their
    * signatures matches. Collisions are found with a shuffle on
    * (band, bandHash) — the only shuffle in the pipeline — then verified
    * with exact Jaccard so the output has no false positives.
    */
  def minhashLsh(docs: DataFrame, id: String, text: String, shingleK: Int = 3,
                 numHashes: Int = 64, bands: Int = 16,
                 threshold: Double = 0.7, maxBucketSize: Int = 1000): DataFrame = {

    // (doc_id, band, bucket) — ids only. The token arrays must NOT ride
    // through the LSH exchange: at corpus scale that ships the tokenized
    // corpus ×bands through the shuffle. Candidates are found on ids and
    // tokens are re-joined afterwards, once, for verification.
    //
    // The signature+banding runs as one native codegen'd kernel
    // ([[graft.functions.MinHashBandsExpr]]): the equivalent
    // transform/array_min higher-order-function composition is evaluated
    // interpreted (Spark never codegens lambda bodies) at ~30× the cost,
    // and splitting signature and banding across projections gets
    // re-inlined by CollapseProject into a bands× recompute.
    val candidates = lshCandidates(docs, id, text, shingleK, numHashes,
      bands, maxBucketSize)

    val toks = docs.select(col(id).as("doc_id"),
      array_distinct(TextAnalysis.tokens(col(text))).as("toks"))

    candidates
      .join(toks.select(col("doc_id").as("a_id"), col("toks").as("a_toks")), Seq("a_id"))
      .join(toks.select(col("doc_id").as("b_id"), col("toks").as("b_toks")), Seq("b_id"))
      .select(col("a_id"), col("b_id"),
        round(jaccard(col("a_toks"), col("b_toks")), 6).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** Size-capped LSH candidate pairs from MinHash band buckets — the shared
    * candidate stage of [[minhashLsh]] and [[fuzzyDupPairs]] (ids only
    * through the exchange; see the scaladoc above).
    */
  private def lshCandidates(docs: DataFrame, id: String, text: String,
                            shingleK: Int, numHashes: Int, bands: Int,
                            maxBucketSize: Int): DataFrame = {
    val banded = docs
      .select(col(id).as("doc_id"),
        posexplode(graft.functions.minhash_bands(
          graft.functions.word_shingles(col(text), shingleK), numHashes, bands)))
      .withColumnRenamed("pos", "band")
      .withColumnRenamed("col", "bucket")
    boundedIdPairs(banded, Seq("band", "bucket"), "doc_id", maxBucketSize)
  }

  /** Character-level fuzzy near-dup pairs: LSH candidates exact-verified by
    * Levenshtein distance ≤ `maxDist` — the OCR-noise / typo-grade dup
    * detector (a 1-3 character edit that token- or shingle-set metrics
    * barely register still collapses here). Candidate generation is the
    * same ids-only capped-bucket LSH stage as [[minhashLsh]]; the default
    * `shingleK = 2` keeps the shingle-set similarity of a few-character
    * edit high (a 1-token change flips only 2 of ~n 2-shingles), so recall
    * for small edits is near-certain. Edit distance runs only on the
    * (tiny) candidate set — never all pairs.
    */
  def fuzzyDupPairs(docs: DataFrame, id: String, text: String,
                    maxDist: Int = 3, shingleK: Int = 2,
                    numHashes: Int = 64, bands: Int = 16,
                    maxBucketSize: Int = 1000): DataFrame = {
    val texts = docs.select(col(id).as("doc_id"), col(text).as("t"))
    // the candidate relation is tiny in BYTES but every row carries an
    // expensive verification — repartition by id so AQE's size-based
    // coalescing can't serialize the verify onto one task (the exchange
    // carries ids only; the text joins below broadcast and preserve it)
    Par.byKey(lshCandidates(docs, id, text, shingleK, numHashes, bands, maxBucketSize),
        col("a_id"))
      .join(texts.select(col("doc_id").as("a_id"), col("t").as("a_t")), Seq("a_id"))
      .join(texts.select(col("doc_id").as("b_id"), col("t").as("b_t")), Seq("b_id"))
      // BANDED Levenshtein kernel: O(maxDist·len) per pair. Both builtin
      // forms — plain and threshold — walk the full O(len²) matrix for
      // in-threshold pairs (~0.8 ms per ~300-char pair, measured; 8k
      // candidates → 12+ s), which dwarfs the whole LSH stage; the
      // Ukkonen band is ~len/maxDist cheaper and returns -1 past the
      // bound, which the filter drops
      .select(col("a_id"), col("b_id"),
        graft.functions.bounded_levenshtein(col("a_t"), col("b_t"), maxDist)
          .as("distance"))
      .filter(col("distance").between(0, maxDist))
  }

  /** SimHash near-dup pairs: 64-bit signatures compared by Hamming distance.
    * Signature via [[graft.functions.simhash64]]; candidates from matching
    * 16-bit chunks (any doc pair within Hamming distance 3 shares at least
    * one of 4 chunks — pigeonhole, so the result is *complete* for
    * maxHamming ≤ 3). Buckets are size-capped like [[minhashLsh]]'s: a hot
    * chunk key (e.g. every near-empty doc hashing to the same signature)
    * is dropped instead of exploding into O(n²) pairs on one reducer.
    */
  def simhashPairs(docs: DataFrame, id: String, text: String,
                   maxHamming: Int = 3, maxBucketSize: Int = 1000): DataFrame = {
    import graft.functions.{simhash64, popcount64}
    // signatures materialized once (16 bytes/doc — corpus-text-free): the
    // chunk explode and both verification joins would otherwise each
    // re-tokenize and re-hash the full corpus
    val sigs = docs.select(col(id).as("doc_id"),
      simhash64(TextAnalysis.tokens(col(text))).as("sig")).localCheckpoint(eager = false)
    // chunk shift amounts unrolled Scala-side: shiftright needs an Int literal
    val chunks = sigs.select(col("doc_id"),
      posexplode(array((0 until 4).map(c =>
        shiftright(col("sig"), c * 16).cast("long").bitwiseAND(lit(0xffffL))): _*)))
      .withColumnRenamed("pos", "chunk")
      .withColumnRenamed("col", "key")
    // ids-only exchange (a signature is one long, but the candidate set is
    // tiny vs the banding relation — re-joining keeps the shape uniform
    // with minhashLsh and the exchange minimal)
    boundedIdPairs(chunks, Seq("chunk", "key"), "doc_id", maxBucketSize)
      .join(sigs.select(col("doc_id").as("a_id"), col("sig").as("a_sig")), Seq("a_id"))
      .join(sigs.select(col("doc_id").as("b_id"), col("sig").as("b_sig")), Seq("b_id"))
      .select(col("a_id"), col("b_id"),
        popcount64(col("a_sig").bitwiseXOR(col("b_sig"))).as("hamming"))
      .filter(col("hamming") <= maxHamming)
  }

  /** Embedding cosine near-dup: pairs above a cosine threshold. Candidates
    * via sign-LSH ([[Similarity.hyperplaneBucket]]) then exact-verified.
    * `dims` is the embedding width (the plane matrix is built per width).
    * The bucket exchange carries (bucket, id) only — vectors are re-joined
    * for the (small) verification, and over-full buckets are dropped before
    * any pair explosion.
    */
  def embeddingNearDup(emb: DataFrame, id: String, vec: String,
                       threshold: Double, planes: Int = 16,
                       dims: Int = 64, maxBucketSize: Int = 1000): DataFrame = {
    val withBucket = emb.select(col(id).as("vec_id"),
      Similarity.hyperplaneBucket(col(vec), planes, dims).as("bucket"))
    val vecs = emb.select(col(id).as("vec_id"), col(vec).as("v"))
    boundedIdPairs(withBucket, Seq("bucket"), "vec_id", maxBucketSize)
      .join(vecs.select(col("vec_id").as("a_id"), col("v").as("a_v")), Seq("a_id"))
      .join(vecs.select(col("vec_id").as("b_id"), col("v").as("b_v")), Seq("b_id"))
      .select(col("a_id"), col("b_id"),
        round(Similarity.cosineF(col("a_v"), col("b_v")), 6).as("cosine"))
      .filter(col("cosine") >= threshold)
  }

  /** Near-dup clusters: connected components of a pair graph, labeled by
    * the component's minimum doc id — the "keep one representative per
    * duplicate group" step a training-data pipeline runs after candidate
    * generation ([[minhashLsh]] / [[simhashPairs]] / [[embeddingNearDup]]).
    *
    * Iterative min-label propagation: each round every node adopts the
    * smallest label among itself and its neighbours; one shuffle per round,
    * `localCheckpoint` cuts the growing lineage. Near-dup components are
    * small dense cliques (diameter ≤ a few hops), so rounds ≈ log(component
    * diameter) ≪ `maxRounds`; the loop stops at the fixpoint (no label
    * changed). Output: (doc_id, cluster) for every node of `pairs`.
    */
  def nearDupClusters(pairs: DataFrame, maxRounds: Int = 20): DataFrame =
    nearDupClustersResult(pairs, maxRounds).labels

  /** [[nearDupClustersResult]] outcome: the labeling plus whether the
    * propagation actually reached its fixpoint within `maxRounds` and how
    * many rounds it ran — a caller deduping at 100 TB must be able to tell
    * "converged" from "gave up on a long-diameter component" (labels are
    * still a valid refinement either way: every labeled doc maps to a
    * member of its component, but an unconverged component may carry more
    * than one label).
    */
  final case class ClusterResult(labels: DataFrame, converged: Boolean, rounds: Int)

  /** [[nearDupClusters]] with the convergence outcome surfaced. Logs a
    * warning when `maxRounds` is exhausted instead of failing silently.
    */
  def nearDupClustersResult(pairs: DataFrame, maxRounds: Int = 20): ClusterResult = {
    val edges = pairs.select(col("a_id").as("src"), col("b_id").as("dst"))
      .union(pairs.select(col("b_id").as("src"), col("a_id").as("dst")))
      .localCheckpoint(eager = true)
    var labels = edges.select(col("src").as("doc_id")).distinct()
      .withColumn("cluster", col("doc_id"))
      .localCheckpoint(eager = true)
    var round = 0
    var changed = 1L
    while (round < maxRounds && changed > 0) {
      val neighbourMin = edges
        .join(labels.withColumnRenamed("doc_id", "dst"), Seq("dst"))
        .groupBy(col("src").as("doc_id"))
        .agg(min(col("cluster")).as("nmin"))
      val updated = labels
        .join(neighbourMin, Seq("doc_id"), "left")
        .select(col("doc_id"),
          least(col("cluster"), coalesce(col("nmin"), col("cluster"))).as("new_cluster"),
          col("cluster"))
        .localCheckpoint(eager = true)
      changed = updated.filter(col("new_cluster") < col("cluster")).count()
      labels = updated.select(col("doc_id"), col("new_cluster").as("cluster"))
      round += 1
    }
    val converged = changed == 0L
    if (!converged)
      org.slf4j.LoggerFactory.getLogger(getClass).warn(
        s"nearDupClusters: maxRounds=$maxRounds exhausted before the fixpoint " +
          s"(last round still relabeled $changed nodes) — long-diameter " +
          "components keep multiple labels; raise maxRounds to finish merging")
    ClusterResult(labels, converged, round)
  }

  /** [[nearDupClusters]] extended over a full corpus: documents in no pair
    * become singleton clusters of themselves.
    */
  def clusterCorpus(docs: DataFrame, id: String, pairs: DataFrame): DataFrame = {
    val labels = nearDupClusters(pairs)
    docs.select(col(id).as("doc_id"))
      .join(labels, Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("cluster"), col("doc_id")).as("cluster"))
  }

  /** Cross-document duplicate-span census — substring-level dedup
    * statistics (the signal behind "remove docs that are mostly boilerplate
    * / copied spans", per-span rather than whole-doc like [[minhashLsh]]).
    * For each doc: how many of its distinct k-token shingles also occur in
    * at least `minDocs-1` OTHER docs, and the duplicated fraction. Docs
    * with no shingle (empty text) are absent, matching the shingle domain.
    *
    * Scale shape: shingles hash to 64-bit in-row before anything shuffles
    * — the exchange carries (doc_id, hash) longs, never shingle text. The
    * shingle relation is materialized once and feeds both the per-shingle
    * doc-frequency aggregate and the per-doc totals; both aggregates are
    * plain two-phase hash aggs. No join ever
    * explodes: the doc-frequency side is (distinct-shingle)-sized and the
    * equi-join back is on the hash key.
    */
  def duplicateSpans(docs: DataFrame, id: String, text: String,
                     k: Int = 8, minDocs: Int = 2): DataFrame = {
    require(minDocs >= 2, s"duplicateSpans: minDocs must be >= 2, got $minDocs")
    val sh = docs.select(col(id).as("doc_id"),
        explode(graft.functions.word_shingles(col(text), k)).as("s"))
      .select(col("doc_id"), xxhash64(col("s")).as("h"))
      .localCheckpoint(eager = false)
    // rows are (doc, shingle)-distinct (kernel dedups within a doc), so a
    // plain count per hash IS the shingle's document frequency
    val docFreq = sh.groupBy("h").agg(count(lit(1)).as("nd"))
    val dup = sh.join(docFreq.filter(col("nd") >= minDocs).select("h"), Seq("h"))
      .groupBy("doc_id").agg(count(lit(1)).as("n_dup_spans"))
    sh.groupBy("doc_id").agg(count(lit(1)).as("n_spans"))
      .join(dup, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_spans"),
        coalesce(col("n_dup_spans"), lit(0L)).as("n_dup_spans"),
        round(coalesce(col("n_dup_spans"), lit(0L)).cast("double")
          / col("n_spans"), 6).as("dup_frac"))
  }

  /** Exact-substring dedup with span REMOVAL — the surgical successor to
    * [[duplicateSpans]]'s census: every k-token span that occurs in at
    * least `minDocs` distinct documents is cut out of every document that
    * contains it, and the surviving tokens are re-joined in order
    * (Lee et al. 2022 "Deduplicating Training Data Makes Language Models
    * Better" §4.1, re-expressed relationally instead of via suffix arrays).
    *
    * Output text is token-normalized (single-space joined) for ALL docs —
    * the transform is defined on the token sequence, so reassembly is the
    * canonical form on both the engine and the oracle.
    *
    * Scale shape, stage by stage:
    *  - positioned shingle hashes are built in-row (`transform` over the
    *    token array + `xxhash64`) — the exchange carries (doc_id, pos,
    *    hash64), never shingle text;
    *  - span document-frequency is a two-phase distinct aggregate on the
    *    64-bit hash;
    *  - duplicated start positions come back as ONE equi-join on the hash
    *    followed by a per-doc `collect_set(pos)` whose size is bounded by
    *    the doc's own token count — per-doc state stays O(doc);
    *  - token removal is in-row again (indexed `transform` + `exists`
    *    against the start set): the corpus text is never EXPLODED for
    *    reassembly — re-attaching the per-doc start sets costs at most one
    *    doc_id-keyed equi-join of the corpus (and zero corpus movement when
    *    the dup-start relation is small enough to broadcast). The in-row
    *    cut is O(tokens·starts) per doc worst case — quadratic only for a
    *    doc that is nearly all duplicated spans, still memory-bounded by
    *    the row.
    *
    * The span relation computes once and feeds both the doc-frequency
    * aggregate and the start-set join.
    */
  def removeDuplicateSpans(docs: DataFrame, id: String, text: String,
                           k: Int = 6, minDocs: Int = 2): DataFrame = {
    require(k >= 2, s"removeDuplicateSpans: k must be >= 2, got $k")
    require(minDocs >= 2, s"removeDuplicateSpans: minDocs must be >= 2, got $minDocs")
    val base = docs.select(col(id).as("doc_id"),
      TextAnalysis.tokens(col(text)).as("tk"))
    // sequence(0, size-k) flips to a descending range when size < k, so
    // short docs are filtered out before the span generator runs
    val shPlan = base.filter(size(col("tk")) >= k)
      .select(col("doc_id"), posexplode(expr(
        s"transform(sequence(0, size(tk) - $k), i -> xxhash64(array_join(slice(tk, i + 1, $k), ' ')))")))
      .toDF("doc_id", "pos", "h")
    val sh = shPlan.localCheckpoint(eager = false)
    val dupH = sh.groupBy("h")
      .agg(count_distinct(col("doc_id")).as("nd"))
      .filter(col("nd") >= minDocs)
      .select("h")
    val covStarts = sh.join(dupH, Seq("h"))
      .groupBy("doc_id").agg(collect_set(col("pos")).as("starts"))
    base.join(covStarts, Seq("doc_id"), "left")
      .withColumn("starts", coalesce(col("starts"), expr("array_repeat(0, 0)")))
      .select(col("doc_id"),
        size(col("tk")).cast("long").as("n_tokens"),
        expr(s"""filter(transform(tk, (w, i) ->
                   IF(exists(starts, s -> s <= i AND i < s + $k), NULL, w)),
                 w -> w IS NOT NULL)""").as("kept"))
      .select(col("doc_id"), col("n_tokens"),
        (col("n_tokens") - size(col("kept")).cast("long")).as("n_removed"),
        array_join(col("kept"), " ").as("clean_text"))
  }

  /** SemDeDup-style semantic dedup: cluster embeddings into IVF cells
    * (in-row assignment against the broadcast-as-literal centroid table),
    * then exact-verify cosine ONLY within a cell — the cluster-then-compare
    * alternative to [[embeddingNearDup]]'s hyperplane sign buckets. Cells
    * give coarser, semantically-coherent buckets: recall for true near-dups
    * is governed by cluster assignment (identical vectors always share a
    * cell), and the candidate space is corpus/cells per bucket instead of
    * all pairs, capped by `maxCellSize` like every LSH stage here.
    */
  def semanticDedup(emb: DataFrame, id: String, vec: String, cells: Int,
                    threshold: Double, maxCellSize: Int = 2000): DataFrame = {
    // k-means-refined centroids (not first-N-by-id): on a content-ordered
    // corpus the naive seeding clumps every centroid into the head topic
    // and cell sizes skew — recall for true near-dups is unaffected
    // (identical vectors share a cell under ANY centroid table), but the
    // capped-cell verifier then drops hot cells it never needed to have
    val cents = Similarity.ivfCentroidsKmeans(emb, id, vec, cells)
    val assigned = Similarity.assignCells(emb, id, vec, cents)
      .select(col(id).as("vec_id"), col("cell"))
    val vecs = emb.select(col(id).as("vec_id"), col(vec).as("v"))
    boundedIdPairs(assigned, Seq("cell"), "vec_id", maxCellSize)
      .join(vecs.select(col("vec_id").as("a_id"), col("v").as("a_v")), Seq("a_id"))
      .join(vecs.select(col("vec_id").as("b_id"), col("v").as("b_v")), Seq("b_id"))
      .select(col("a_id"), col("b_id"),
        round(Similarity.cosineF(col("a_v"), col("b_v")), 6).as("cosine"))
      .filter(col("cosine") >= threshold)
  }

  /** Persist the corpus's exact-dedup fingerprint index as a bucketed+
    * sorted table on `fingerprint` — the once-per-corpus cost that makes
    * [[dedupAgainstIndex]] incremental: at 100 TB you fingerprint the
    * corpus ONE time, and every later ingest batch joins against the
    * index without re-scanning (or re-shuffling) the corpus.
    */
  def writeFingerprintIndex(docs: DataFrame, id: String, text: String,
                            table: String, buckets: Int = 64): Unit =
    graft.sources.Bucketed.writeBucketed(
      TextAnalysis.fingerprints(docs, id, text)
        .select(col("fingerprint"), col(id).as("corpus_id")),
      table, "fingerprint", buckets)

  /** Append newly-accepted docs to the fingerprint index (same bucket
    * spec, so the bucketed-join property is preserved across ingests).
    */
  def appendFingerprintIndex(accepted: DataFrame, id: String, text: String,
                             table: String, buckets: Int = 64): Unit =
    TextAnalysis.fingerprints(accepted, id, text)
      .select(col("fingerprint"), col(id).as("corpus_id"))
      // co-partition with the bucket layout (see appendLshBandIndex): one
      // file per bucket per ingest generation, not one per (task × bucket)
      .repartition(buckets, col("fingerprint"))
      .write.mode("append").format("parquet")
      .bucketBy(buckets, "fingerprint").sortBy("fingerprint")
      .saveAsTable(table)

  /** One row per (band, bucket) key a document lands in: the key is
    * collapsed to a single long (`xxhash64(band, bucket)`) so the index
    * can bucket/join on one column; a hash collision between two band
    * buckets merely merges candidate lists, which verification filters.
    */
  private def bandKeys(docs: DataFrame, id: String, text: String, idAlias: String,
                       shingleK: Int, numHashes: Int, bands: Int): DataFrame =
    docs.select(col(id).as(idAlias),
        posexplode(graft.functions.minhash_bands(
          graft.functions.word_shingles(col(text), shingleK), numHashes, bands)))
      .select(xxhash64(col("pos"), col("col")).as("bb"), col(idAlias))

  /** Persist the corpus's MinHash LSH band index as a bucketed+sorted table
    * on the band-bucket key — the fuzzy analog of [[writeFingerprintIndex]]:
    * at 100 TB you band the corpus ONE time, and every later ingest batch is
    * near-dup-checked against it without re-banding (or re-shuffling) the
    * corpus. Each index row is a whole bucket's size-capped id list
    * ([[graft.functions.capped_collect]] with minSize=1 — a singleton
    * bucket must stay, a future batch doc can still collide with it), so a
    * degenerate bucket costs O(cap) and a batch-side join row fans out to
    * ≤ cap candidates.
    */
  def writeLshBandIndex(docs: DataFrame, id: String, text: String, table: String,
                        shingleK: Int = 3, numHashes: Int = 64, bands: Int = 16,
                        maxBucketSize: Int = 1000, buckets: Int = 64): Unit = {
    graft.sources.Bucketed.writeBucketed(
      bandKeys(docs, id, text, "corpus_id", shingleK, numHashes, bands)
        .groupBy("bb")
        .agg(graft.functions.capped_collect(col("corpus_id"), maxBucketSize, minSize = 1).as("ids"))
        .filter(col("ids").isNotNull),
      table, "bb", buckets)
    // persist the LSH parameters: band keys are xxhash64(band, bucket) of
    // THESE parameters, so a reader/appender with different ones would get
    // disjoint keys and silently match nothing — validation needs ground truth
    docs.sparkSession.sql(
      s"ALTER TABLE `$table` SET TBLPROPERTIES (" +
        s"'graft.lsh.shingleK'='$shingleK', 'graft.lsh.numHashes'='$numHashes', " +
        s"'graft.lsh.bands'='$bands')")
  }

  /** Fail loudly when the caller's LSH parameters disagree with the ones
    * the index was written with (recorded as table properties) — a
    * mismatch is otherwise a SILENT 100% recall loss: the band keys are
    * parameter-dependent hashes, so nothing joins and every duplicate
    * passes as fresh.
    */
  private def checkLshParams(spark: org.apache.spark.sql.SparkSession, table: String,
                             shingleK: Int, numHashes: Int, bands: Int): Unit = {
    val props = spark.sessionState.catalog
      .getTableMetadata(org.apache.spark.sql.catalyst.TableIdentifier(table)).properties
    Seq("shingleK" -> shingleK, "numHashes" -> numHashes, "bands" -> bands).foreach {
      case (name, given) =>
        props.get(s"graft.lsh.$name") match {
          case Some(stored) => require(stored == given.toString,
            s"LSH index '$table' was written with $name=$stored, caller passed $given — " +
              "band keys would be disjoint and every near-dup would pass as fresh")
          // an index with no recorded parameters (pre-validation write, or
          // properties stripped by an external tool) can't be checked — the
          // silent-zero-recall failure mode this guard exists for would be
          // back, so refuse rather than trust the caller
          case None => throw new IllegalStateException(
            s"LSH index '$table' has no 'graft.lsh.$name' table property — cannot verify " +
              "the caller's parameters match the ones the index was written with. " +
              s"Backfill it via ALTER TABLE `$table` SET TBLPROPERTIES " +
              s"('graft.lsh.$name'='<value used at write time>') if they are known.")
        }
    }
  }

  /** Append newly-accepted docs to the band index (same bucket spec, so the
    * bucketed-join property is preserved across ingests). Each append adds
    * its own bucket rows — a key accumulates one capped row per ingest
    * generation, the same growth shape as [[appendFingerprintIndex]].
    */
  def appendLshBandIndex(accepted: DataFrame, id: String, text: String, table: String,
                         shingleK: Int = 3, numHashes: Int = 64, bands: Int = 16,
                         maxBucketSize: Int = 1000, buckets: Int = 64): Unit = {
    checkLshParams(accepted.sparkSession, table, shingleK, numHashes, bands)
    bandKeys(accepted, id, text, "corpus_id", shingleK, numHashes, bands)
      .groupBy("bb")
      .agg(graft.functions.capped_collect(col("corpus_id"), maxBucketSize, minSize = 1).as("ids"))
      .filter(col("ids").isNotNull)
      // co-partition with the bucket layout like writeBucketed: without
      // this each of the groupBy's shuffle-partition tasks writes a file
      // into every bucket it holds (tasks × buckets tiny files per ingest)
      .repartition(buckets, col("bb"))
      .write.mode("append").format("parquet")
      .bucketBy(buckets, "bb").sortBy("bb")
      .saveAsTable(table)
  }

  /** Incremental near-dup check: batch docs that share an LSH band bucket
    * with an indexed corpus doc, exact-verified by token-set Jaccard ≥
    * `threshold`. Output: (batch_id, corpus_id, jaccard) per verified pair.
    *
    * `corpusTexts` is the verification relation (id + text of everything
    * the index covers): candidates are ids-only until verification, which
    * reads corpus text for the (batch-bounded) candidate set — the corpus
    * is never re-banded and never re-shuffled.
    *
    * Scale shape: the index side is bucketed on `bb`, so the candidate
    * join needs NO exchange on the index (plan-asserted in DedupSpec) —
    * only the batch's ≤ `bands` rows/doc shuffle into the index layout;
    * the candidate pair set is broadcast-class (batch × cap bounded) for
    * both verification joins.
    *
    * The broadcast is only safe under a BOUNDED ingest batch —
    * `maxBatchRows` makes that contract enforceable: the batch is probed
    * with an early-stopping `limit(max+1).count()` (bounded cost even when
    * someone points a corpus at the batch side) and a too-large batch
    * fails loudly BEFORE the broadcast instead of OOMing executors. Size
    * the budget to what the driver/executors can hold: each batch doc
    * ships its distinct-token array inside the broadcast.
    */
  def nearDupAgainstIndex(batch: DataFrame, id: String, text: String, table: String,
                          corpusTexts: DataFrame,
                          corpusId: String = "doc_id", corpusText: String = "text",
                          shingleK: Int = 3, numHashes: Int = 64, bands: Int = 16,
                          threshold: Double = 0.7,
                          maxBatchRows: Int = 100000): DataFrame = {
    val spark = batch.sparkSession
    checkLshParams(spark, table, shingleK, numHashes, bands)
    require(maxBatchRows > 0, s"nearDupAgainstIndex: maxBatchRows must be > 0, got $maxBatchRows")
    // Int.MaxValue is the documented "unbounded" escape hatch: skip the
    // probe entirely — limit(MaxValue).count() would still pay a full
    // count job over the batch lineage for a check that cannot fail.
    // Caveat: the probe evaluates the batch lineage a second time (the
    // candidate join below is the first) — a nondeterministic batch source
    // should be cached/checkpointed by the caller before this call.
    if (maxBatchRows != Int.MaxValue) {
      val probed = batch.limit(maxBatchRows + 1).count()
      require(probed <= maxBatchRows,
        s"nearDupAgainstIndex: ingest batch exceeds maxBatchRows=$maxBatchRows — the " +
          "batch token arrays ride a broadcast, so an unbounded batch would blow " +
          "executor memory. Split the ingest into smaller batches or raise the budget.")
    }
    val cands = bandKeys(batch, id, text, "batch_id", shingleK, numHashes, bands)
      .join(graft.sources.Bucketed.read(spark, table), Seq("bb"))
      .select(col("batch_id"), explode(col("ids")).as("corpus_id"))
      .distinct()
    val bToks = batch.select(col(id).as("batch_id"),
      array_distinct(TextAnalysis.tokens(col(text))).as("b_toks"))
    val cToks = corpusTexts.select(col(corpusId).as("corpus_id"),
      array_distinct(TextAnalysis.tokens(col(corpusText))).as("c_toks"))
    // candidates ride as the broadcast side of the corpus-text join: the
    // big relation is scanned once (id + text columns) and never shuffled
    cToks
      .join(broadcast(cands.join(broadcast(bToks), Seq("batch_id"))), Seq("corpus_id"))
      .select(col("batch_id"), col("corpus_id"),
        round(jaccard(col("b_toks"), col("c_toks")), 6).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** Incremental exact dedup: batch rows that are new against the
    * persisted fingerprint index AND unique within the batch (smallest id
    * kept per fingerprint) — the per-ingest step of a continuously-growing
    * corpus.
    *
    * Scale shape: the index side is bucketed+sorted on the join key, so
    * the anti-join needs NO exchange on the corpus-sized side
    * (plan-asserted) — only the (small) batch shuffles, into the index's
    * bucket layout. Once the index is compacted to one file per bucket
    * ([[compactFingerprintIndex]]) the per-bucket sort is elided too
    * (Spark reports bucket sort order only for single-file buckets, under
    * `spark.sql.legacy.bucketedTableScan.outputOrdering` — asserted in
    * BucketedSpec); with multiple files per bucket Spark re-sorts locally,
    * still without any exchange. The index never broadcasts and is never
    * rebuilt.
    */
  def dedupAgainstIndex(batch: DataFrame, id: String, text: String,
                        table: String): DataFrame = {
    val spark = batch.sparkSession
    val fp = batch.withColumn("_fp", TextAnalysis.fingerprint(col(text)))
    val keep = fp.groupBy(col("_fp")).agg(min(col(id)).as(id)).select(col(id))
    fp.join(keep, Seq(id), "left_semi")
      .join(graft.sources.Bucketed.read(spark, table)
        .select(col("fingerprint").as("_fp")), Seq("_fp"), "left_anti")
      .drop("_fp")
  }

  /** Compact the fingerprint index to one file per bucket (see
    * [[graft.sources.Bucketed.compact]]): appends accumulate a file per
    * ingest generation, which keeps joins exchange-free but re-introduces
    * per-bucket local sorts — run this periodically so the index side of
    * [[dedupAgainstIndex]] scans pre-sorted buckets again.
    */
  def compactFingerprintIndex(spark: org.apache.spark.sql.SparkSession,
                              table: String): Unit =
    graft.sources.Bucketed.compact(spark, table, "fingerprint",
      graft.sources.Bucketed.bucketCount(spark, table))

  /** [[compactFingerprintIndex]] for the LSH band index ([[writeLshBandIndex]]).
    * The bucket count comes from the catalog, never a trusting parameter —
    * re-supplying a different one would silently rewrite the bucket spec
    * every later append depends on.
    */
  def compactLshBandIndex(spark: org.apache.spark.sql.SparkSession,
                          table: String): Unit =
    graft.sources.Bucketed.compact(spark, table, "bb",
      graft.sources.Bucketed.bucketCount(spark, table))

  /** Bounded in-bucket candidate pairs, the shared LSH candidate stage:
    * aggregate each bucket to a size-capped id list
    * ([[graft.functions.capped_collect]] — O(cap) reducer state even for a
    * degenerate bucket), then explode unordered id pairs bucket-locally.
    * Only (bucket-key, id) rows ever cross the exchange.
    */
  private[operators] def boundedIdPairs(keyed: DataFrame, bucketCols: Seq[String],
                                        idCol: String, maxBucketSize: Int): DataFrame =
    keyed.groupBy(bucketCols.map(col): _*)
      .agg(graft.functions.capped_collect(col(idCol), maxBucketSize).as("ids"))
      .filter(col("ids").isNotNull)
      .select(explode(col("ids")).as("a_id"), col("ids"))
      .select(col("a_id"), explode(col("ids")).as("b_id"))
      .filter(col("a_id") < col("b_id"))
      .distinct()

  /** Corpus-level exact LINE dedup (the C4 / RefinedWeb line-dedup step):
    * any line whose normalized form (space-trimmed — Spark/DuckDB `trim`
    * semantics, ASCII 0x20 only) occurs at least
    * `minCount` times across the whole corpus is removed from every
    * document EXCEPT its single globally-first occurrence (smallest
    * `(doc_id, pos)`) — boilerplate navigation, cookie banners and license
    * headers vanish corpus-wide while one canonical copy survives, which
    * is C4's published "keep one" semantic rather than a lossy drop-all.
    * Lines below the threshold pass through untouched. Returns one row per
    * input document: `(doc_id, text, n_kept, n_removed)` with `text`
    * reassembled from the kept lines in original order (original bytes,
    * not the trimmed match key; a fully-boilerplate document survives as
    * an empty string rather than disappearing).
    *
    * Scale shape: line TEXT never crosses a shuffle. The exploded line
    * relation carries `(doc_id, pos, key)` where key is the line's md5 —
    * the census (`count` + combinable min-of-struct argmin for the keeper)
    * is a two-phase hash aggregate on that key, and the verdict join runs
    * on the SAME key so the exchange is reused, not repeated. Kept
    * POSITIONS (ints) then group back per doc — O(lines(doc)) state, the
    * same bound as any per-document op — and reassembly re-splits the
    * original text in-row, keeping surviving positions. The md5-hex key is
    * what the DuckDB oracle can replay; at 100 TB you'd swap it for
    * xxhash64 (8-byte exchanges, identical shape).
    */
  def lineDedup(docs: DataFrame, id: String, text: String,
                minCount: Int): DataFrame = {
    require(minCount >= 2, s"lineDedup: minCount must be >= 2, got $minCount")
    val base = docs.select(col(id).cast("long").as("doc_id"),
      col(text).as("_text"))
    // census AND verdict both read the line relation — materialized once
    // so the corpus isn't re-split per consumer (the duplicateSpans
    // discipline)
    val lines = base.select(col("doc_id"),
        posexplode(split(col("_text"), "\n")).as(Seq("pos", "line")))
      .select(col("doc_id"), col("pos"), md5(trim(col("line"))).as("k"))
      .localCheckpoint(eager = false)
    val census = lines.groupBy("k").agg(
      count(lit(1)).as("n"),
      min(struct(col("doc_id"), col("pos"))).as("keeper"))
    val keptPos = lines.join(census, Seq("k"))
      .filter(col("n") < minCount ||
        (col("keeper.doc_id") === col("doc_id") && col("keeper.pos") === col("pos")))
      .groupBy("doc_id")
      .agg(sort_array(collect_list(col("pos"))).as("keep"))
    base.join(keptPos, Seq("doc_id"), "left")
      .select(col("doc_id"),
        array_join(
          transform(coalesce(col("keep"), array().cast("array<int>")),
            p => element_at(split(col("_text"), "\n"), p + 1)),
          "\n").as("text"),
        coalesce(size(col("keep")), lit(0)).cast("long").as("n_kept"),
        (size(split(col("_text"), "\n")) -
          coalesce(size(col("keep")), lit(0))).cast("long").as("n_removed"))
  }

  /** Content-defined chunking: each document's UTF-8 bytes split at
    * gear-hash boundaries ([[graft.functions.cdc_boundaries]]) into
    * variable-size chunks keyed by md5 of the chunk BYTES — the
    * sub-document dedup unit that survives insertions: unlike fixed-size
    * blocks, an edit re-aligns at the next content boundary, so a
    * prefixed/patched near-copy still shares every chunk after it (the
    * property `q_cdc_chunk_dedup` grades with planted shifted clones).
    *
    * One row per chunk: `(id, chunk_idx, start, len, chunk_md5)` —
    * positions 1-based bytes; `chunk_md5` is the md5 of the chunk bytes'
    * LOWERCASE HEX spelling (a bijection of the bytes, chosen because
    * every engine can md5 a string while BLOB md5 support varies — the
    * key is still exact byte identity). Entirely in-row (boundary kernel
    * + hex slicing + md5, all codegen): zero shuffle until someone
    * aggregates the chunk keys, and the chunk relation is what
    * joins/groups — chunk TEXT never needs to cross an exchange (md5
    * keys do).
    */
  def cdcChunks(docs: DataFrame, id: String, text: String,
                maskBits: Int = 6, minLen: Int = 1): DataFrame = {
    val b = graft.functions.cdc_boundaries(col(text), maskBits, minLen)
    val hx = lower(hex(encode(col(text), "UTF-8")))
    val chunks = when(size(b) === 0, array().cast("array<struct<i:int,e:int>>"))
      .otherwise(transform(sequence(lit(0), size(b) - 1),
        j => struct(j.cast("int").as("i"), element_at(b, j + 1).as("e"))))
    docs.select(col(id), hx.as("_hx"), b.as("_b"),
        explode(chunks).as("c"))
      .select(col(id), col("_hx"), col("c.i").cast("long").as("chunk_idx"),
        when(col("c.i") === 0, lit(1))
          .otherwise(element_at(col("_b"), col("c.i")) + 1).as("start"),
        col("c.e").as("end"))
      .select(col(id), col("chunk_idx"), col("start").cast("long").as("start"),
        (col("end") - col("start") + 1).cast("long").as("len"),
        md5(col("_hx").substr(col("start") * 2 - 1,
          (col("end") - col("start") + 1) * 2).cast("binary"))
          .as("chunk_md5"))
  }
}
