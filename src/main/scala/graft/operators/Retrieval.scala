package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Keyword retrieval over a persisted inverted index: the lookup-side
  * counterpart of the curation operators — decontamination audits, "which
  * training docs mention X", and retrieval-based quality checks all reduce
  * to BM25 top-k over the corpus.
  *
  * Index layout (the [[graft.operators.Dedup.writeFingerprintIndex]]
  * discipline applied to postings):
  *  - `table`: one row per (term, doc_id) — `term, doc_id, tf, len` —
  *    bucketed+sorted on `term` ([[graft.sources.Bucketed.writeBucketed]]).
  *    Document length is denormalized onto each posting so scoring needs no
  *    second corpus-sized join; it costs one long per posting.
  *  - `table__stats`: one row PER INGEST GENERATION (`n_docs, total_len`) —
  *    append-only, the reader sums. Corpus-wide document frequency is NOT
  *    persisted: df(t) is exactly the posting count of t, so the pruned
  *    probe relation already contains it — a persisted df table would go
  *    stale on every append.
  *
  * Scale shape: at 100 TB the corpus is tokenized ONCE at ingest; a query
  * batch probes by broadcasting its terms onto the exchange-free bucketed
  * postings scan (plan-asserted in PlanQualitySpec — the index side never
  * shuffles). Everything after the probe — df counts, per-(query, doc)
  * scoring, the top-k window — runs over matched postings only, bounded by
  * the query terms' posting lists, not the corpus.
  *
  * Reference behavior anchor: the reference's ad-hoc analytics surface is
  * SQL over the loaded posts (reddit-ETL-Pipeline/query-test.py:60-67);
  * keyword relevance ranking over the same rows is the natural extension a
  * training-data pipeline needs of it.
  */
object Retrieval {

  /** Postings relation for `docs`: one row per (term, doc_id) with the
    * in-doc term count and the doc's token length. Empty/whitespace-only
    * docs contribute nothing (they have no terms and must not count toward
    * N or avgdl either — [[indexStats]] derives both from this relation).
    */
  private def postings(docs: DataFrame, id: String, text: String): DataFrame = {
    val toks = docs.select(col(id).as("doc_id"),
      explode(TextAnalysis.tokens(col(text))).as("term"))
    val tf = toks.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    // len from tf (sum of tfs), not a second pass over toks
    val len = tf.groupBy("doc_id").agg(sum("tf").as("len"))
    tf.join(len, Seq("doc_id"))
      .select(col("term"), col("doc_id"), col("tf"), col("len"))
  }

  /** One stats generation for `post`: docs-with-terms count + total token
    * length. A 1-row aggregate, computed from the postings relation so the
    * two can never disagree about what counts as a document.
    */
  private def statsRow(post: DataFrame): DataFrame =
    post.groupBy("doc_id").agg(first("len").as("len"))
      .agg(count(lit(1)).as("n_docs"), sum("len").as("total_len"))

  /** Build the inverted index for `docs` as bucketed table `table` (+ the
    * `table__stats` sidecar). Overwrites an existing index of that name.
    */
  def writePostingsIndex(docs: DataFrame, id: String, text: String,
                         table: String, buckets: Int = 64): Unit = {
    val post = postings(docs, id, text).localCheckpoint(eager = false)
    graft.sources.Bucketed.writeBucketed(post, table, "term", buckets)
    // same cross-session orphan-location reclaim as the postings table:
    // "overwrite" alone refuses a stale warehouse dir the catalog forgot
    graft.sources.Bucketed.reclaimManagedLocation(docs.sparkSession, table + "__stats")
    statsRow(post).write.mode("overwrite").format("parquet")
      .saveAsTable(table + "__stats")
  }

  /** Append a new ingest batch's postings (same bucket spec — the
    * bucketed-probe property survives appends) and a stats generation row.
    * The batch must be NEW doc_ids: re-ingesting an indexed doc would
    * double its postings (run [[graft.operators.Dedup.dedupAgainstIndex]]
    * first — that is the ingest order the incremental-dedup family
    * already establishes).
    */
  def appendPostingsIndex(batch: DataFrame, id: String, text: String,
                          table: String): Unit = {
    val buckets = graft.sources.Bucketed.bucketCount(batch.sparkSession, table)
    val post = postings(batch, id, text).localCheckpoint(eager = false)
    post.repartition(buckets, col("term"))
      .write.mode("append").format("parquet")
      .bucketBy(buckets, "term").sortBy("term")
      .saveAsTable(table)
    statsRow(post).write.mode("append").format("parquet")
      .saveAsTable(table + "__stats")
  }

  /** BM25 top-`k` docs per query. `queries` is (query_id, query-text);
    * duplicate terms within one query count once (distinct-term BM25 — the
    * common retrieval simplification, replayed identically by the oracle).
    *
    * Scoring (per matched query term t in doc d):
    *   idf(t) = ln((N - df + 0.5) / (df + 0.5) + 1)   [always > 0]
    *   c(t,d) = idf · tf·(k1+1) / (tf + k1·(1 - b + b·len/avgdl))
    * score(q,d) = round(Σ c, 6) — the [[graft.operators.Curation.tfidfTopTerms]]
    * determinism discipline: contributions are O(1), so 6dp absorbs both
    * float summation order and last-ulp `ln` differences across engines,
    * and ranking ties break on doc_id.
    *
    * Output: query_id, rank, doc_id, n_terms (matched distinct query
    * terms), score.
    */
  /** The index probe: query terms broadcast onto the bucketed postings
    * scan — the index side pays no exchange (plan-asserted in
    * PlanQualitySpec via this exact shape); everything downstream of it is
    * bounded by the matched posting lists.
    */
  private[graft] def probe(post: DataFrame, qt: DataFrame): DataFrame =
    post.join(broadcast(qt.select("term").distinct()), Seq("term"))

  /** Positional inverted index: one row per term OCCURRENCE —
    * `term, doc_id, pos` (0-based token position) — bucketed+sorted on
    * `term`. The Lucene-style layout phrase/proximity matching needs;
    * ~`len` rows per doc instead of the BM25 index's distinct-term rows.
    */
  def writePositionalIndex(docs: DataFrame, id: String, text: String,
                           table: String, buckets: Int = 64): Unit =
    graft.sources.Bucketed.writeBucketed(
      positional(docs, id, text), table, "term", buckets)

  /** Append a new batch's positional postings (same bucket spec; same
    * new-doc_ids-only contract as [[appendPostingsIndex]]).
    */
  def appendPositionalIndex(batch: DataFrame, id: String, text: String,
                            table: String): Unit = {
    val buckets = graft.sources.Bucketed.bucketCount(batch.sparkSession, table)
    positional(batch, id, text)
      .repartition(buckets, col("term"))
      .write.mode("append").format("parquet")
      .bucketBy(buckets, "term").sortBy("term")
      .saveAsTable(table)
  }

  private def positional(docs: DataFrame, id: String, text: String): DataFrame =
    docs.select(col(id).as("doc_id"),
        posexplode(TextAnalysis.tokens(col(text))).as(Seq("pos", "term")))
      .select(col("term"), col("doc_id"), col("pos").cast("long").as("pos"))

  /** Exact phrase search: (query_id, doc_id) pairs where the query's
    * token sequence occurs contiguously in the doc. Relational positional
    * matching: each query token i joins postings on its term, every match
    * votes for base position `pos - i`, and a base with ALL k distinct
    * offsets present is a phrase occurrence — duplicate terms inside the
    * phrase are handled by counting distinct offsets, not terms.
    * Whitespace-only queries match nothing.
    *
    * Scale shape: the probe is the same broadcast-onto-bucketed-scan as
    * [[bm25Search]] (index side exchange-free); the vote aggregation
    * shuffles only matched postings keyed by (query, doc, base).
    */
  def phraseSearch(spark: SparkSession, table: String, queries: DataFrame,
                   queryId: String, queryText: String): DataFrame = {
    val qt = queries.select(col(queryId).as("query_id"),
        posexplode(TextAnalysis.tokens(col(queryText))).as(Seq("qpos", "term")))
      .select(col("query_id"), col("qpos").cast("long").as("qpos"), col("term"))
    val qlen = qt.groupBy("query_id").agg(count(lit(1)).as("qlen"))
    // one broadcast join IS the probe: (query, offset) pairs land on the
    // bucketed postings scan with no index-side exchange
    val matched = graft.sources.Bucketed.read(spark, table)
      .join(broadcast(qt), Seq("term"))
      .select(col("query_id"), col("doc_id"), (col("pos") - col("qpos")).as("base"),
        col("qpos"))
    matched.groupBy("query_id", "doc_id", "base")
      .agg(count_distinct(col("qpos")).as("nofs"))
      .join(broadcast(qlen), Seq("query_id"))
      .filter(col("nofs") === col("qlen"))
      .select("query_id", "doc_id")
      .distinct()
      .orderBy("query_id", "doc_id")
  }

  def bm25Search(spark: SparkSession, table: String, queries: DataFrame,
                 queryId: String, queryText: String, k: Int = 10,
                 k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    val qt = queries.select(col(queryId).as("query_id"),
        explode(TextAnalysis.tokens(col(queryText))).as("term"))
      .distinct()
    val matchedM = probe(graft.sources.Bucketed.read(spark, table), qt)
      .localCheckpoint(eager = false)
    // df(t) = corpus-wide posting count of t — exact from the pruned scan
    val dfreq = matchedM.groupBy("term").agg(count(lit(1)).as("df"))
    val stats = spark.table(table + "__stats")
      .agg(sum("n_docs").as("n"), sum("total_len").as("total_len"))
    val contrib = matchedM
      .join(qt, Seq("term"))
      .join(dfreq, Seq("term"))
      .crossJoin(broadcast(stats))
      .withColumn("avgdl", col("total_len").cast("double") / col("n"))
      .withColumn("c",
        log((col("n") - col("df") + 0.5) / (col("df") + 0.5) + 1.0) *
          (col("tf") * (k1 + 1.0)) /
          (col("tf") + lit(k1) * (lit(1.0 - b) + lit(b) * col("len") / col("avgdl"))))
    val scored = contrib.groupBy("query_id", "doc_id")
      .agg(count(lit(1)).as("n_terms"), round(sum("c"), 6).as("score"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("score").desc, col("doc_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank").cast("long").as("rank"),
        col("doc_id"), col("n_terms"), col("score"))
  }

  /** NDCG@k — the standard graded-relevance quality metric for a ranked
    * retrieval run (the eval side of [[bm25Search]]): per query,
    * `DCG@k = Σ_{rank≤k} (2^rel − 1) / log2(rank + 1)` over the run's
    * ranking, normalized by the ideal DCG of that query's labels (relevance
    * sorted descending, ties to the lower doc id). Unlabeled retrieved
    * docs count as rel 0; a query with no positive labels scores 0 (not
    * NULL, not an error) so eval-set averages stay well-defined.
    *
    * `results` carries `(query_id, doc_id, rank)` with rank unique per
    * query (any ranker's output contract — [[bm25Search]] emits exactly
    * this); `labels` carries `(query_id, doc_id, rel)` with rel ≥ 0.
    *
    * Scale shape: one delta-sized equi-join of run rows against labels
    * (both eval-set-bounded — k rows per query and judgments per query;
    * the corpus is never touched), two map-side-combined per-query sums,
    * and the ideal ranking's window sorts only each query's own labels.
    * Scores round at 6dp (O(1) values — the [[bm25Search]] discipline).
    */
  def ndcgAtK(results: DataFrame, labels: DataFrame, k: Int): DataFrame = {
    require(k > 0, s"ndcgAtK: k must be positive, got $k")
    def gain(rel: Column, rank: Column): Column =
      (pow(lit(2.0), rel.cast("double")) - 1.0) / log2(rank.cast("double") + 1.0)
    val dcg = results.filter(col("rank") <= k)
      .join(labels, Seq("query_id", "doc_id"), "left")
      .na.fill(0, Seq("rel"))
      .groupBy("query_id")
      .agg(sum(gain(col("rel"), col("rank"))).as("dcg"))
    val iw = Window.partitionBy("query_id")
      .orderBy(col("rel").desc, col("doc_id"))
    val idcg = labels.filter(col("rel") > 0)
      .withColumn("irank", row_number().over(iw))
      .filter(col("irank") <= k)
      .groupBy("query_id")
      .agg(sum(gain(col("rel"), col("irank"))).as("idcg"))
    dcg.join(idcg, Seq("query_id"), "full_outer")
      .select(col("query_id"),
        round(coalesce(col("dcg"), lit(0.0)), 6).as("dcg"),
        round(coalesce(col("dcg") / col("idcg"), lit(0.0)), 6).as("ndcg"))
  }

  /** Reciprocal Rank Fusion (Cormack, Clarke & Büttcher, SIGIR 2009):
    * combine any number of rankings of the same id space — the hybrid
    * lexical+semantic search merge. Each list contributes
    * round(10⁹ / (kConst + rank)) as a BIGINT, so the fused score is
    * integer-exact in any summation order and the merged ranking replays
    * in any engine (the float 1/(k+r) would be engine-stable anyway, but
    * the fixed-point form makes ties bit-defined). `n_lists` rides along:
    * an id found by both retrievers is visibly corroborated.
    *
    * Scale shape: union of k-bounded ranked lists (tiny by construction)
    * → one hash agg on the id → TakeOrderedAndProject. The expensive
    * part is the upstream retrievers; fusion itself never touches the
    * corpus.
    */
  def rrfFuse(rankings: Seq[DataFrame], id: String, rank: String,
              kConst: Int = 60, topK: Int = 10): DataFrame = {
    require(rankings.nonEmpty, "rrfFuse: need at least one ranking")
    require(kConst > 0 && topK > 0, "rrfFuse: kConst and topK must be positive")
    val tagged = rankings.map(_.select(col(id).cast("long").as("item_id"),
      round(lit(1000000000d) / (lit(kConst) + col(rank)), 0).cast("long").as("c")))
    tagged.reduce(_.unionByName(_))
      .groupBy("item_id")
      .agg(sum(col("c")).as("rrf_fp"), count(lit(1)).as("n_lists"))
      .orderBy(col("rrf_fp").desc, col("item_id"))
      .limit(topK)
  }
}
