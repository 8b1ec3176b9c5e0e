package graft.operators

import org.apache.spark.TaskContext
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import scala.collection.mutable

/** Graph-based approximate nearest neighbour search — the third index
  * class beside IVF ([[Similarity.ivfSearch]]) and PQ
  * ([[Similarity.pqSearchTopK]]): a navigable-small-world (NSW) proximity
  * graph per shard, searched with a bounded-beam greedy walk.
  *
  * Why a graph index at 100 TB: IVF's recall is gated by `nprobe` — a
  * query near a cell boundary must widen the probe set (more corpus
  * scanned) to recover its neighbours. A proximity graph instead follows
  * similarity gradients directly; recall at equal scanned-vector budget is
  * higher in the high-recall regime, which is why HNSW is the default
  * in-RAM index in FAISS/Lucene/Vespa. The distributed layout here is the
  * standard sharded one (each executor owns an independent graph over its
  * hash-assigned slice; queries fan out to every shard and the k-bounded
  * per-shard results merge globally): graph build is embarrassingly
  * parallel, needs no cross-partition edges, and the only shuffle anywhere
  * is the ≤ shards·k candidate rows per query.
  *
  * The graph is the single-layer NSW variant of HNSW (Malkov & Yashunin,
  * TPAMI 2018), kept deterministic: insert in ascending-id order, ties
  * broken by id everywhere, no RNG level draws (the hierarchy's O(log n)
  * entry-point descent matters at millions of nodes per shard; at the
  * shard sizes partitioning targets, a fixed entry + beam covers it).
  * Neighbour selection uses the paper's DIVERSITY heuristic (keep a
  * candidate only if it is closer to the new node than to any already-kept
  * neighbour, then backfill pruned ones): plain best-sim pruning deletes
  * the one backward edge that bridges a new content cluster to the rest of
  * the graph as soon as the old cluster densifies — the content-ordered
  * corpus failure (`GraphAnnSpec` pins it), same class as
  * [[Similarity.ivfCentroids]]' first-N seeding collapse.
  *
  * Scale contract: one shard's nodes (vectors + ≤ 2m adjacency) must fit
  * one executor — size `shards` accordingly (the same contract FAISS
  * sharding has). Build holds the shard in memory once; search holds the
  * shard plus a visited bitmap per query.
  */
object GraphAnn {

  /** Build one NSW graph per hash-shard. Output relation:
    * (id long, vec array<float>, shard int, neighbors array<long>).
    * Catalyst can't see that the mapPartitions output is clustered by
    * `shard`, so a direct build→search pays one re-cluster exchange;
    * persist with [[graphWriteIndex]] / load with [[graphReadIndex]] to
    * amortize that across query batches.
    *
    * @param m   edges requested per insert (adjacency prunes at 2m)
    * @param efConstruction beam width during insert — recall of the
    *   neighbour sets the graph is wired with
    */
  def buildGraph(corpus: DataFrame, id: String, vec: String, shards: Int,
                 m: Int = 8, efConstruction: Int = 48): DataFrame = {
    require(shards >= 1, s"buildGraph: shards must be >= 1, got $shards")
    require(m >= 1, s"buildGraph: m must be >= 1, got $m")
    require(efConstruction >= m,
      s"buildGraph: efConstruction $efConstruction < m $m")
    val spark = corpus.sparkSession
    import spark.implicits._
    corpus.select(col(id).cast("long").as("_id"), col(vec).as("_v"))
      .filter(col("_v").isNotNull)
      .repartition(shards, col("_id"))
      .as[(Long, Array[Float])]
      .mapPartitions { it =>
        val shard = TaskContext.getPartitionId()
        val nodes = it.toArray.sortBy(_._1) // deterministic insert order
        val adj = buildShard(nodes.map(_._2), m, efConstruction)
        nodes.iterator.zipWithIndex.map { case ((nid, nvec), i) =>
          (nid, nvec, shard, adj(i).map(j => nodes(j)._1).toArray)
        }
      }
      .toDF("id", "vec", "shard", "neighbors")
  }

  /** Per-shard beam search, one row per (query, shard):
    * (query_id, shard, visited, cand array<struct<score double, id long>>)
    * — `cand` is the shard-local top-k (sim desc, id asc, self excluded,
    * score rounded to 6 decimals like every scored relation here), and
    * `visited` is the number of graph nodes the walk touched: the measured
    * counterpart of the sublinearity claim (brute force visits the whole
    * shard; the beam visits O(ef · degree · path) of it).
    *
    * Shard-wholeness is established HERE, not assumed: the search groups
    * by `shard` through Catalyst (`groupByKey.flatMapGroups`), so
    * EnsureRequirements inserts an exchange only when the input isn't
    * already clustered on `shard`. Straight out of [[graphReadIndex]]
    * (hash-partitioned by shard at load) the search is exchange-free —
    * the index-load amortization the Scaladoc above promises; a frame
    * with disturbed layout (AQE coalesce, checkpoint, direct
    * [[buildGraph]] output) pays one re-cluster shuffle instead of
    * failing or silently searching half a graph.
    */
  def searchShards(graph: DataFrame, queries: DataFrame, id: String,
                   vec: String, k: Int, ef: Int = 48): DataFrame = {
    require(k >= 1, s"searchShards: k must be >= 1, got $k")
    val spark = graph.sparkSession
    import spark.implicits._
    // bounded broadcast — the same discipline as bruteForceTopK's
    // broadcast(q): the query set is broadcast-class by contract
    val qRows: Array[(Long, Array[Float])] = queries
      .select(col(id).cast("long"), col(vec))
      .collect()
      .collect { case r if !r.isNullAt(1) =>
        r.getLong(0) -> r.getSeq[Float](1).toArray
      }
      .sortBy(_._1)
    val bq = spark.sparkContext.broadcast(qRows)
    val effEf = math.max(ef, k)
    // COLUMN-keyed grouping, not groupByKey(lambda): an opaque lambda key
    // becomes a synthetic attribute no existing partitioning can satisfy,
    // forcing a full shuffle of the index on every query batch. Grouping
    // on the `shard` column itself lets EnsureRequirements elide the
    // exchange when the input is already hash-partitioned on it (the
    // graphReadIndex path) — plan-asserted in GraphAnnSpec.
    graph.select(col("id").cast("long").as("_1"), col("vec").as("_2"),
        col("shard").cast("int").as("_3"), col("neighbors").as("_4"))
      .as[(Long, Array[Float], Int, Array[Long])]
      .groupBy(col("_3")).as[Int, (Long, Array[Float], Int, Array[Long])]
      .flatMapGroups { (shard, rows) =>
        val g = rows.toArray.sortBy(_._1)
        val ids = g.map(_._1)
        val idx = ids.zipWithIndex.toMap
        val vecs = g.map(_._2)
        val adj = g.map(_._4.map { nid =>
          // unreachable for a well-formed index (the group holds the whole
          // shard by construction) — only a corrupt/partially-written
          // index trips it, and that must fail loudly
          idx.getOrElse(nid, throw new IllegalArgumentException(
            s"searchShards: shard $shard has an edge to absent node $nid " +
              "— the index is corrupt or partially written"))
        })
        val norms = vecs.map(l2(_))
        bq.value.iterator.map { case (qid, qv) =>
          val qn = l2(qv)
          val (top, visited) =
            beam(qv, qn, vecs, norms, i => adj(i), vecs.length, effEf)
          val hits = top.filter(h => ids(h._2) != qid).take(k)
            .map { case (s, i) =>
              (math.rint(s * 1e6) / 1e6, ids(i))
            }
          (qid, shard, visited, hits)
        }
      }
      .toDF("query_id", "shard", "visited", "cand")
  }

  /** Global top-k: per-shard candidates (≤ shards·k rows per query cross
    * the one shuffle) merged with the same bounded aggregate as every
    * other search here. Schema matches [[Similarity.bruteForceTopK]]:
    * (query_id, neighbor_id, cosine, rnk).
    */
  def searchGraph(graph: DataFrame, queries: DataFrame, id: String,
                  vec: String, k: Int, ef: Int = 48): DataFrame =
    mergeShardResults(searchShards(graph, queries, id, vec, k, ef), k)

  /** Merge a [[searchShards]] relation to the global top-k. */
  def mergeShardResults(cands: DataFrame, k: Int): DataFrame =
    Similarity.rankTopK(
      cands.select(col("query_id"), explode(col("cand")).as("c"))
        .select(col("query_id"), col("c._2").as("neighbor_id"),
          col("c._1").as("cosine")),
      k)

  /** Persist the graph partitioned by shard — one directory per shard, so
    * [[graphReadIndex]] can restore shard-whole partitions with one
    * index-load shuffle (amortized across every query batch served from
    * the loaded index).
    */
  def graphWriteIndex(graph: DataFrame, path: String): Unit =
    graph.write.mode("overwrite").partitionBy("shard").parquet(path)

  /** Read a persisted graph back into shard-whole partitions. The
    * repartition is the index-LOAD cost, not a per-query cost: parquet
    * input splits don't respect shard boundaries, and [[searchShards]]
    * refuses split shards rather than degrading silently.
    */
  def graphReadIndex(spark: SparkSession, path: String): DataFrame = {
    val raw = graft.sources.Tables.parquet(spark, path)
      .withColumn("shard", col("shard").cast("int"))
    val nShards = math.max(
      raw.agg(countDistinct(col("shard"))).collect()(0).getLong(0).toInt, 1)
    raw.repartition(nShards, col("shard"))
  }

  // --- per-shard algorithm (plain JVM, driver-free, deterministic) --------

  private def l2(v: Array[Float]): Double = {
    var s = 0.0; var i = 0
    while (i < v.length) { s += v(i).toDouble * v(i).toDouble; i += 1 }
    math.sqrt(s)
  }

  /** cosine with precomputed norms; 0 for a zero vector — the same
    * left-to-right double accumulation as [[Similarity.cosineF]].
    */
  private def cos(a: Array[Float], na: Double, b: Array[Float], nb: Double): Double = {
    val d = na * nb
    if (d == 0) return 0.0
    var s = 0.0; var i = 0
    val n = math.min(a.length, b.length)
    while (i < n) { s += a(i).toDouble * b(i).toDouble; i += 1 }
    s / d
  }

  /** Bounded-beam greedy search over nodes [0, limit), seeded with a
    * deterministic stratified sample (every `limit/ef`-th node, ≈ef
    * seeds) instead of a single fixed entry. Single-entry greedy walks
    * strand on similarity plateaus: in a clustered corpus every
    * off-cluster node scores ≈equally badly, there is no gradient toward
    * the bridge edge, and the beam terminates inside the entry cluster
    * (recall 0 — `GraphAnnSpec`'s content-ordered corpus pins it).
    * Stratified seeding guarantees a seed inside every ≥`limit/ef`-sized
    * cluster, from which the walk follows a real gradient; the seed count
    * tracks ef, not corpus size, so search work stays sublinear in n
    * (also pinned by spec). Returns (top candidates sorted sim desc / id
    * asc, visited count). Deterministic: stride is a pure function of
    * (limit, ef) and every ordering ties on the node index.
    */
  private def beam(q: Array[Float], qn: Double, vecs: Array[Array[Float]],
                   norms: Array[Double], adj: Int => collection.IndexedSeq[Int],
                   limit: Int, ef: Int): (Array[(Double, Int)], Int) = {
    if (limit <= 0) return (Array.empty, 0)
    // candidate queue: best (highest sim, then lowest id) first
    val candOrd = new Ordering[(Double, Int)] {
      def compare(a: (Double, Int), b: (Double, Int)): Int = {
        val c = java.lang.Double.compare(a._1, b._1)
        if (c != 0) c else Integer.compare(b._2, a._2)
      }
    }
    // result queue: worst (lowest sim, then highest id) first, for evict
    val worstOrd = candOrd.reverse
    val cands = mutable.PriorityQueue.empty[(Double, Int)](candOrd)
    val results = mutable.PriorityQueue.empty[(Double, Int)](worstOrd)
    val seen = new Array[Boolean](limit)
    var visited = 0

    def visit(i: Int): Unit = if (!seen(i)) {
      seen(i) = true
      visited += 1
      val s = cos(q, qn, vecs(i), norms(i))
      val e = (s, i)
      if (results.size < ef) { cands.enqueue(e); results.enqueue(e) }
      else if (candOrd.compare(e, results.head) > 0) { // better than worst
        cands.enqueue(e); results.dequeue(); results.enqueue(e)
      }
    }

    val stride = math.max(1, limit / ef)
    var seed = 0
    while (seed < limit) { visit(seed); seed += stride }
    var done = false
    while (!done && cands.nonEmpty) {
      val best = cands.dequeue()
      if (results.size >= ef && candOrd.compare(best, results.head) < 0) done = true
      else {
        val nbrs = adj(best._2)
        var j = 0
        while (j < nbrs.length) {
          if (nbrs(j) < limit) visit(nbrs(j))
          j += 1
        }
      }
    }
    (results.dequeueAll.toArray.sorted(candOrd.reverse), visited)
  }

  /** HNSW neighbour-selection heuristic over candidates sorted sim desc:
    * keep c only if sim(c, node) > sim(c, every kept neighbour) — one
    * representative per direction, so the long-range bridge from a new
    * content cluster survives. Pruned candidates backfill remaining slots
    * in order (keepPrunedConnections), so degree still reaches `m` in
    * dense regions.
    */
  private def selectDiverse(cands: Array[(Double, Int)], m: Int,
                            vecs: Array[Array[Float]],
                            norms: Array[Double]): Array[Int] = {
    val kept = mutable.ArrayBuffer.empty[Int]
    val skipped = mutable.ArrayBuffer.empty[Int]
    var i = 0
    while (i < cands.length && kept.length < m) {
      val (simToNode, c) = cands(i)
      val diverse = kept.forall { s =>
        simToNode > cos(vecs(c), norms(c), vecs(s), norms(s))
      }
      if (diverse) kept += c else skipped += c
      i += 1
    }
    val fill = skipped.iterator.take(m - kept.length)
    (kept ++ fill).toArray
  }

  /** Incremental NSW construction over a shard: per insert, beam-search
    * the inserted prefix, wire `m` diverse neighbours bidirectionally,
    * re-select any adjacency that exceeds 2m with the same heuristic.
    */
  private def buildShard(vecs: Array[Array[Float]], m: Int,
                         efC: Int): Array[mutable.ArrayBuffer[Int]] = {
    val n = vecs.length
    val norms = vecs.map(l2(_))
    val adj = Array.fill(n)(mutable.ArrayBuffer.empty[Int])
    val maxM = 2 * m

    def reselect(node: Int): Unit = if (adj(node).length > maxM) {
      val scored = adj(node).iterator.map { j =>
        (cos(vecs(node), norms(node), vecs(j), norms(j)), j)
      }.toArray.sortBy { case (s, j) => (-s, j) }
      val keep = selectDiverse(scored, maxM, vecs, norms)
      // dropped edges stay one-directional on the other side — standard
      // HNSW behaviour; the diverse set retains the navigable ones
      adj(node).clear()
      adj(node) ++= keep
    }

    var i = 1
    while (i < n) {
      val (top, _) = beam(vecs(i), norms(i), vecs, norms, adj(_), i, efC)
      val sel = selectDiverse(top, m, vecs, norms)
      var j = 0
      while (j < sel.length) {
        val s = sel(j)
        adj(i) += s
        adj(s) += i
        reselect(s)
        j += 1
      }
      reselect(i) // m ≤ 2m, a no-op today; kept for safety if m changes
      i += 1
    }
    adj
  }
}
