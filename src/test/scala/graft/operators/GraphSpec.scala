package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkTestBase

class GraphSpec extends SparkTestBase {
  import spark.implicits._

  /** Driver-side reference: the exact integer recurrence, computed naively. */
  private def refPageRank(n: Int, edges: Seq[(Long, Long)], iters: Int): Map[Long, Long] = {
    val deg = edges.groupBy(_._1).view.mapValues(_.size.toLong).toMap
    var r = (0L until n).map(v => v -> 1000000L).toMap
    for (_ <- 1 to iters) {
      val acc = edges.groupBy(_._2).view.mapValues(
        _.map { case (src, _) => r(src) / deg(src) }.sum).toMap
      r = (0L until n).map(v => v -> (150000L + acc.getOrElse(v, 0L) * 17L / 20L)).toMap
    }
    r
  }

  test("pageRank matches the exact-integer reference on a hand graph") {
    // 0→1, 0→2, 1→2, 2→0, 3→2 (node 4 dangling: no out-edges; nothing links 3)
    val edges = Seq((0L, 1L), (0L, 2L), (1L, 2L), (2L, 0L), (3L, 2L))
    val nodes = spark.range(5).select(col("id").as("v"))
    val e = edges.toDF("src", "dst")
    val got = Graph.pageRank(nodes, e, "v", iters = 4).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == refPageRank(5, edges, 4))
    assert(got(3L) == 150000L, "a node with no in-edges must settle at the base")
  }

  test("pageRank is deterministic across runs and partitionings") {
    val nodes = spark.range(200).select(col("id").as("v"))
    val edges = Graph.arithmeticEdges(nodes, "v", 200L)
    val a = Graph.pageRank(nodes, edges, "v", iters = 5).collect().toSet
    val b = Graph.pageRank(nodes.repartition(13), edges.repartition(7), "v", iters = 5)
      .collect().toSet
    assert(a == b, "integer PageRank must be independent of partitioning")
    // mass check: total rank stays within the damped-mass envelope
    val total = a.toSeq.map(_.getLong(1)).sum
    assert(total <= 200L * 1000000L && total >= 200L * 150000L)
  }

  test("arithmeticEdges is the closed-form map with constant out-degree") {
    val nodes = spark.range(50).select(col("id").as("v"))
    val e = Graph.arithmeticEdges(nodes, "v", 50L).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(e.length == 150)
    val expected = (for (u <- 0L until 50L; j <- 1 to 3) yield (u, (31 * u + 7 * j) % 50)).toSet
    assert(e.toSet == expected)
  }

  // The name predates the removal of pageRank's `reliable` option; the
  // rounds are local checkpoints now, so nothing at all stays pinned.
  test("pageRank reliable path leaves at most the final ranks pinned") {
    val nodes = spark.range(100).select(col("id").as("v"))
    val edges = Graph.arithmeticEdges(nodes, "v", 100L)
    spark.sharedState.cacheManager.clearCache()
    Graph.pageRank(nodes, edges, "v", iters = 3).count()
    Graph.connectedComponents(nodes, edges, "v", iters = 3).count()
    assert(spark.sharedState.cacheManager.isEmpty,
      "an iterative graph operator left a cached relation behind")
  }

  test("connectedComponents: block graph converges to known membership; rounds are bounded") {
    import spark.implicits._
    val nodes = (0L until 250L).toDF("v")
    val edges = Graph.blockEdges(nodes, "v")
    val cc = Graph.connectedComponents(nodes, edges, "v", iters = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(cc.size == 250)
    assert((0L until 250L).forall(v => cc(v) == v - v % 100),
      "every node must label to its block root")
    // bounded rounds are semantics, not an accident: after ONE round a
    // leaf has only reached its decade hub, not the block root
    val one = Graph.connectedComponents(nodes, edges, "v", iters = 1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(one(145L) == 140L && cc(145L) == 100L,
      s"round-1 label ${one(145L)} should be the hub, round-4 ${cc(145L)} the root")
    // determinism
    val again = Graph.connectedComponents(nodes, edges, "v", iters = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(again == cc)
  }

  test("triangleCounts: hand graph, star has none, duplicate/reversed edges collapse") {
    import spark.implicits._
    // two triangles sharing edge (1,2): {1,2,3} and {1,2,4}; pendant 5
    val edges = Seq(
      (1L, 2L), (2L, 3L), (3L, 1L), (1L, 4L), (4L, 2L), (4L, 5L),
      // noise: duplicate, reversed, self-loop — all must collapse/drop
      (2L, 1L), (1L, 2L), (3L, 3L))
      .toDF("src", "dst")
    val got = Graph.triangleCounts(edges, "src", "dst")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 2L, 2L -> 2L, 3L -> 1L, 4L -> 1L), s"got $got")
    // a star (hub to 50 leaves) has no triangles at all — and under the
    // degree orientation the hub fans OUT nothing (all edges point at it)
    val star = (1L to 50L).map(i => (0L, i)).toDF("src", "dst")
    assert(Graph.triangleCounts(star, "src", "dst").count() == 0)
    // triangle count is invariant to the input's edge direction convention
    val flipped = edges.select(col("dst").as("src"), col("src").as("dst"))
    val again = Graph.triangleCounts(flipped, "src", "dst")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(again == got)
  }
}
