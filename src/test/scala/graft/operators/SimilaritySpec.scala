package graft.operators

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

import graft.SparkTestBase

class SimilaritySpec extends SparkTestBase {
  import spark.implicits._

  private val emb = Seq(
    (0L, Array(1.0f, 0.0f)),
    (1L, Array(0.9f, 0.1f)),
    (2L, Array(0.0f, 1.0f)),
    (3L, Array(-1.0f, 0.0f))).toDF("vec_id", "embedding")

  test("labelCentroids: dim-wise means per label, null vectors excluded") {
    val labeled = Seq(
      (1, Array(1.0f, 3.0f)), (1, Array(3.0f, 5.0f)),
      (2, Array(10.0f, 0.0f)),
      (2, null: Array[Float])).toDF("label", "embedding")
    val out = Similarity.labelCentroids(labeled, "label", "embedding")
      .collect().map(r => (r.getInt(0), r.getLong(1)) ->
        (r.getLong(2), r.getDouble(3))).toMap
    assert(out == Map(
      (1, 0L) -> (2L, 2.0), (1, 1L) -> (2L, 4.0),
      (2, 0L) -> (1L, 10.0), (2, 1L) -> (1L, 0.0)))
  }

  test("nearestCentroid: prototype argmax with smaller-label tiebreak") {
    val train = Seq(
      (10L, 1, Array(1.0f, 0.0f)), (11L, 1, Array(1.0f, 0.0f)),
      (12L, 2, Array(0.0f, 1.0f))).toDF("vec_id", "label", "embedding")
    val cents = Similarity.labelCentroids(train, "label", "embedding")
    val test_ = Seq(
      (20L, 1, Array(0.9f, 0.2f)),  // clearly label 1
      (21L, 2, Array(0.1f, 0.8f)),  // clearly label 2
      (22L, 1, Array(0.5f, 0.5f))   // exact tie → smaller label wins
    ).toDF("vec_id", "label", "embedding")
    val out = Similarity.nearestCentroid(test_, "vec_id", "label", "embedding", cents)
      .collect().map(r => r.getLong(0) -> r.getInt(2)).toMap
    assert(out == Map(20L -> 1, 21L -> 2, 22L -> 1))
  }

  test("cosine: unit axes") {
    val df = Seq((Array(1.0f, 0.0f), Array(0.0f, 1.0f))).toDF("a", "b")
      .select(Similarity.cosine(col("a"), col("b")).as("c"))
    assert(math.abs(df.as[Double].collect().head) < 1e-9)
  }

  test("bruteForceTopK ranks by cosine desc with id tiebreak") {
    val out = Similarity.bruteForceTopK(emb, emb.filter(col("vec_id") === 0L),
      "vec_id", "embedding", 3)
      .select("neighbor_id").as[Long].collect()
    assert(out.toSeq == Seq(1L, 2L, 3L))
  }

  test("ivf search finds the same top neighbor as brute force on probed cells") {
    val cents = Similarity.ivfCentroids(emb, "vec_id", "embedding", cells = 2)
    val indexed = Similarity.assignCells(emb, "vec_id", "embedding", cents)
    assert(indexed.columns.contains("cell"))
    val out = Similarity.ivfSearch(indexed, emb.filter(col("vec_id") === 0L),
      cents, "vec_id", "embedding", nprobe = 2, k = 1)
      .select("neighbor_id").as[Long].collect()
    assert(out.toSeq == Seq(1L))
  }

  test("on-disk IVF index: probe scans only the probed cells' partitions") {
    val real = spark.read.parquet(sfDir + "/embeddings.parquet")
    val cents = Similarity.ivfCentroids(real, "vec_id", "embedding", cells = 16)
    val indexed = Similarity.assignCells(real, "vec_id", "embedding", cents)
    val dir = java.nio.file.Files.createTempDirectory("ivf_index").toString
    Similarity.ivfWriteIndex(indexed, dir)

    // the index landed as one directory per cell
    val cellDirs = new java.io.File(dir).list().count(_.startsWith("cell="))
    assert(cellDirs == 16, s"expected 16 cell partitions, got $cellDirs")

    // a 4-cell probe read (the exact mechanism ivfSearchIndex drives)
    // selects exactly 4 partitions at the scan — planning-time pruning,
    // asserted on the physical scan's file listing
    def scanPartitions(df: org.apache.spark.sql.DataFrame): Int =
      df.queryExecution.executedPlan.collect {
        case s: org.apache.spark.sql.execution.FileSourceScanExec =>
          s.selectedPartitions.partitionCount
      }.sum
    val pruned = Similarity.ivfProbeRead(spark, dir, Seq(0L, 3L, 7L, 11L))
    assert(scanPartitions(pruned) == 4,
      s"probe read scanned ${scanPartitions(pruned)} partitions, wanted 4")
    assert(scanPartitions(spark.read.parquet(dir)) == 16)

    // end-to-end: the on-disk probe path returns exactly the in-memory result
    val queries = real.filter(col("vec_id") === 42L)
    val out = Similarity.ivfSearchIndex(spark, dir, queries, cents,
      "vec_id", "embedding", nprobe = 4, k = 5)
    val memory = Similarity.ivfSearch(indexed, queries, cents,
      "vec_id", "embedding", nprobe = 4, k = 5)
    assert(out.collect().toSeq == memory.collect().toSeq,
      "on-disk probe result differs from the in-memory path")
  }

  test("building a probe read over a written index runs no Spark job") {
    val real = spark.read.parquet(sfDir + "/embeddings.parquet")
    val cents = Similarity.ivfCentroids(real, "vec_id", "embedding", cells = 4)
    val dir = java.nio.file.Files.createTempDirectory("ivf_probe_jobs").toString
    Similarity.ivfWriteIndexWithCentroids(
      Similarity.assignCells(real, "vec_id", "embedding", cents), cents, dir)
    val (probe, jobs) = jobsDuring(Similarity.ivfProbeRead(spark, dir, Seq(1L, 2L)))
    assert(jobs == 0, s"building the probe read ran $jobs Spark jobs")
    val inferred = spark.read.parquet(dir).filter(col("cell").isin(1L, 2L))
      .withColumn("cell", col("cell").cast("long"))
    assert(probe.schema == inferred.schema)
    assert(probe.collect().toSet == inferred.collect().toSet)
  }

  test("IVF append: persisted centroids drive the assign; appended vectors are found") {
    val real = spark.read.parquet(sfDir + "/embeddings.parquet")
    val half = real.count() / 2
    val a = real.filter(col("vec_id") < half)
    val b = real.filter(col("vec_id") >= half)
    val cents = Similarity.ivfCentroids(a, "vec_id", "embedding", cells = 8)
    val dir = java.nio.file.Files.createTempDirectory("ivf_append_t").toString
    Similarity.ivfWriteIndexWithCentroids(
      Similarity.assignCells(a, "vec_id", "embedding", cents), cents, dir)
    // the persisted table round-trips exactly (cell-sorted)
    assert(Similarity.ivfReadCentroids(spark, dir) == cents.sortBy(_._1))
    Similarity.ivfAppendIndex(b, "vec_id", "embedding", dir)
    // search FOR an appended vector: its own cell is its nearest probe, so
    // cosine 1.0 with itself excluded, its duplicate... use a build-half
    // query that must now see appended neighbors too: total index rows
    assert(spark.read.parquet(dir).count() == real.count())
    // a persisted-index search equals the in-memory search over the union
    val queries = real.filter(col("vec_id") % 97 === 0)
    val disk = Similarity.ivfSearchIndexPersisted(spark, dir, queries,
      "vec_id", "embedding", nprobe = 3, k = 4)
    val mem = Similarity.ivfSearch(
      Similarity.assignCells(real, "vec_id", "embedding", cents), queries,
      cents, "vec_id", "embedding", nprobe = 3, k = 4)
    assert(disk.exceptAll(mem).count() == 0 && mem.exceptAll(disk).count() == 0)
    // an index written WITHOUT centroids refuses append instead of
    // silently assigning against the wrong table
    val bare = java.nio.file.Files.createTempDirectory("ivf_bare_t").toString
    Similarity.ivfWriteIndex(
      Similarity.assignCells(a, "vec_id", "embedding", cents), bare)
    val e = intercept[IllegalArgumentException] {
      Similarity.ivfAppendIndex(b, "vec_id", "embedding", bare)
    }
    assert(e.getMessage.contains("_centroids"))

    // compaction: appended cells hold 2+ files; after compact exactly one,
    // with identical search results and the centroid table intact
    def filesPerCell(root: String): Seq[Int] =
      new java.io.File(root).listFiles().toSeq
        .filter(f => f.isDirectory && f.getName.startsWith("cell="))
        .map(_.listFiles().count(f => f.getName.endsWith(".parquet")))
    assert(filesPerCell(dir).exists(_ > 1), "append should leave multi-file cells")
    Similarity.ivfCompactIndex(spark, dir)
    assert(filesPerCell(dir).forall(_ == 1),
      s"compact left multi-file cells: ${filesPerCell(dir)}")
    assert(Similarity.ivfReadCentroids(spark, dir) == cents.sortBy(_._1))
    val diskC = Similarity.ivfSearchIndexPersisted(spark, dir, queries,
      "vec_id", "embedding", nprobe = 3, k = 4)
    assert(diskC.exceptAll(mem).count() == 0 && mem.exceptAll(diskC).count() == 0)

    // crash-window recovery: index dir gone, shadow present → heal
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.rename(new org.apache.hadoop.fs.Path(dir),
      new org.apache.hadoop.fs.Path(dir + "__compact"))
    Similarity.ivfRecoverCompact(spark, dir)
    assert(Similarity.ivfReadCentroids(spark, dir).nonEmpty)
  }

  test("kmeans centroids rescue recall on a content-ordered corpus (first-N-by-id collapses)") {
    // 8 contiguous clusters of 40 near-identical 8-dim vectors: id order IS
    // content order, so first-8-by-id seeding puts every centroid inside
    // cluster 0. Hash-sampled k-means seeds must spread and recover recall.
    val rnd = new scala.util.Random(7)
    val bases = Array.fill(8)(Array.fill(8)(rnd.nextGaussian().toFloat))
    val rows = for (c <- 0 until 8; m <- 0 until 40) yield {
      val id = (c * 40 + m).toLong
      id -> bases(c).zipWithIndex.map { case (b, j) =>
        b + ((id * 13 + j) % 5).toFloat * 0.01f }
    }
    val corpus = rows.toDF("vec_id", "vec")
    val queries = corpus.filter(col("vec_id") % 40 === 20)

    def recall(cents: Seq[(Long, Seq[Float])]): Double = {
      val indexed = Similarity.assignCells(corpus, "vec_id", "vec", cents)
      val ivf = Similarity.ivfSearch(indexed, queries, cents, "vec_id", "vec",
        nprobe = 2, k = 10).select("query_id", "neighbor_id")
      val truth = Similarity.bruteForceTopK(corpus, queries, "vec_id", "vec", 10)
        .select("query_id", "neighbor_id")
      truth.join(ivf, Seq("query_id", "neighbor_id"), "left_semi").count() / 80.0
    }

    val naive = recall(Similarity.ivfCentroids(corpus, "vec_id", "vec", cells = 8))
    val kmeans = recall(Similarity.ivfCentroidsKmeans(corpus, "vec_id", "vec", cells = 8))
    assert(kmeans >= 0.9, s"kmeans recall@10 = $kmeans, wanted >= 0.9")
    assert(kmeans > naive,
      s"kmeans ($kmeans) should beat first-N-by-id ($naive) on content-ordered ids")
    // determinism: same corpus → identical centroid table
    assert(Similarity.ivfCentroidsKmeans(corpus, "vec_id", "vec", cells = 8) ==
      Similarity.ivfCentroidsKmeans(corpus, "vec_id", "vec", cells = 8))
  }

  test("bruteForceTopK plan has no window and no cartesian product") {
    val plan = Similarity.bruteForceTopK(emb, emb.limit(2), "vec_id", "embedding", 2)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), s"window in plan:\n$plan")
    assert(plan.contains("topk_pairs"), "bounded top-k aggregate missing")
  }

  test("ivf assignment is in-row: plan has no join, no window, no exchange before scan") {
    val cents = Similarity.ivfCentroids(emb, "vec_id", "embedding", cells = 2)
    val plan = Similarity.assignCells(emb, "vec_id", "embedding", cents)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Join") && !plan.contains("Window") && !plan.contains("Exchange"),
      s"ivf assign must be a pure scan:\n$plan")
  }

  test("quantizeInt8: codes in [-127, 127], max component hits ±127, zero vector → zeros") {
    import spark.implicits._
    val df = Seq(
      (1L, Seq(0.5f, -1.0f, 0.25f)),
      (2L, Seq(0.0f, 0.0f, 0.0f))
    ).toDF("vec_id", "v").select(col("vec_id"),
      Similarity.quantizeInt8(col("v")).as("s"))
    val rows = df.select(col("vec_id"), col("s.scale"), col("s.q"))
      .collect().map(r => r.getLong(0) -> (r.getFloat(1), r.getSeq[Int](2))).toMap
    assert(rows(1L)._1 == 1.0f)
    assert(rows(1L)._2 == Seq(64, -127, 32)) // 0.5→63.5 rounds half-up to 64
    assert(rows(2L) == ((0.0f, Seq(0, 0, 0))))
  }

  test("codegen kernels are bit-identical to the HOF formulations") {
    val real = spark.read.parquet(sfDir + "/embeddings.parquet").limit(200)
    // quantize: struct-for-struct equality, kernel vs interpreted HOF
    val hofQ = real.select(col("vec_id"), Similarity.quantizeInt8Hof(col("embedding")).as("s"))
    val kerQ = real.select(col("vec_id"), Similarity.quantizeInt8(col("embedding")).as("s"))
    assert(hofQ.exceptAll(kerQ).count() == 0 && kerQ.exceptAll(hofQ).count() == 0)
    // int8 cosine: exact double equality on consecutive pairs
    val q = real.select(col("vec_id"),
      Similarity.quantizeInt8(col("embedding")).getField("q").as("q"))
    val pairs = q.select(col("vec_id").as("a_id"), col("q").as("qa"))
      .join(q.select((col("vec_id") - 1).as("a_id"), col("q").as("qb")), Seq("a_id"))
    val diff = pairs.select(
      (Similarity.int8Cosine(col("qa"), col("qb"))
        - Similarity.int8CosineHof(col("qa"), col("qb"))).as("d"))
      .agg(max(abs(col("d")))).collect().head.getDouble(0)
    assert(diff == 0.0, s"kernel/HOF int8 cosine diverged by $diff")
    // normalize: unit norm out, zero vector unchanged, direction preserved
    val nrm = real.select(col("embedding").as("v"),
      Similarity.l2Normalize(col("embedding")).as("nv"))
    val checks = nrm.select(
      abs(sqrt(Similarity.norm2(col("nv"))) - 1.0).as("unit_err"),
      Similarity.cosineF(col("v"), col("nv")).as("dir")).collect()
    assert(checks.forall(r => r.getDouble(0) < 1e-6 && r.getDouble(1) > 0.999999))
    val zero = Seq((1L, Seq(0.0f, 0.0f))).toDF("id", "v")
      .select(Similarity.l2Normalize(col("v"))).collect().head.getSeq[Float](0)
    assert(zero == Seq(0.0f, 0.0f))
  }

  test("pq: encode picks the nearest sub-centroid and ADC replays the LUT distance") {
    // two planted clusters in 4 dims, m=2 subspaces of 2 — small enough to
    // verify the arithmetic by hand through the public column surface
    val docs = (0 until 40).map { i =>
      val c = if (i % 2 == 0) 1.0f else -1.0f
      (i.toLong, Seq(c + i * 0.001f, c, c - i * 0.001f, c))
    }.toDF("vec_id", "vec")
    val cb = Similarity.pqTrain(docs, "vec_id", "vec", m = 2, k = 4, iters = 4)
    assert(cb.m == 2 && cb.subDim == 2 && cb.k == 4)
    assert(cb.codeBytes == 2, "PQ8 with m=2 must cost exactly 2 bytes/vector")
    val codes = docs.select(col("vec_id"), graft.functions.pq_encode(col("vec"), cb).as("code"))
    // every code byte indexes a real centroid
    val raw = codes.collect().map(r => r.getLong(0) -> r.getAs[Array[Byte]](1)).toMap
    assert(raw.values.forall(c => c.length == 2 && c.forall(b => (b & 0xff) < cb.k)))
    // adc(lut(q), encode(x)) == sum over subspaces of ||q_s - chosen centroid||²
    val qv = Seq((0L, Seq(1.0f, 1.0f, 1.0f, 1.0f))).toDF("vec_id", "vec")
    val lutRow = qv.select(graft.functions.pq_lut(col("vec"), cb)).collect().head.getSeq[Float](0)
    val adc = codes.join(qv.select(graft.functions.pq_lut(col("vec"), cb).as("lut")))
      .select(col("vec_id"), graft.functions.pq_adc(col("lut"), col("code"), cb.k).as("d"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    raw.foreach { case (id, code) =>
      val expect = (0 until 2).map(s => lutRow(s * cb.k + (code(s) & 0xff)).toDouble).sum
      assert(math.abs(adc(id) - expect) < 1e-12, s"doc $id adc mismatch")
    }
    // the +1 cluster must out-rank the -1 cluster for a +1 query
    val top = Similarity.pqSearchTopK(codes, docs, qv, cb, "vec_id", "vec", "code",
      k = 10, shortlist = 20).collect()
    assert(top.forall(_.getLong(1) % 2 == 0),
      s"PQ search leaked far-cluster members: ${top.mkString(", ")}")
  }

  test("kMeans: integer-exact Lloyd's separates obvious groups deterministically") {
    // two tight groups far apart; seeds (ids 0,1) start one per group
    val pts = Seq(
      (0L, Array(0.0f, 0.0f)), (1L, Array(10.0f, 10.0f)),
      (2L, Array(0.1f, 0.0f)), (3L, Array(0.0f, 0.1f)),
      (4L, Array(10.1f, 10.0f)), (5L, Array(10.0f, 10.1f)),
      (6L, null: Array[Float])).toDF("vec_id", "embedding")
    val out = Similarity.kMeans(pts, "vec_id", "embedding", k = 2, iters = 3)
      .collect().map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(out.keySet == Set(0, 1))
    assert(out(0)._1 == 3L && out(1)._1 == 3L, s"membership: $out")
    // run twice: integer arithmetic must make the trajectory bit-identical
    val again = Similarity.kMeans(pts, "vec_id", "embedding", k = 2, iters = 3)
      .collect().map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(again == out)
  }

  test("kMeans: empty cluster keeps its seed centroid; counts cover the input") {
    // seed 1 (id 1) is strictly closer to every point than seed 0 after
    // iteration 1 pulls it to the group mean — cluster 0 goes empty but
    // its row must survive with n_vecs absent from output only
    val pts = Seq(
      (0L, Array(100.0f, 100.0f)),
      (1L, Array(0.0f, 0.0f)), (2L, Array(0.2f, 0.0f)), (3L, Array(0.0f, 0.2f)),
      (4L, Array(0.2f, 0.2f)), (5L, Array(0.1f, 0.1f))).toDF("vec_id", "embedding")
    val out = Similarity.kMeans(pts, "vec_id", "embedding", k = 2, iters = 3)
      .collect()
    assert(out.map(_.getLong(1)).sum == 6L)
    val real = spark.read.parquet(sfDir + "/embeddings.parquet")
    val full = Similarity.kMeans(real, "vec_id", "embedding", k = 8, iters = 3)
      .collect()
    val n = real.filter(col("embedding").isNotNull).count()
    assert(full.map(_.getLong(1)).sum == n, "every vector assigned exactly once")
    assert(full.forall(_.getLong(2) >= 0L))
  }

  test("int8 cosine tracks f32 cosine within tolerance on real vectors") {
    val real = spark.read.parquet(sfDir + "/embeddings.parquet")
    val out = Similarity.int8CosinePairs(real, "vec_id", "embedding").collect()
    assert(out.length > 100)
    assert(out.forall(_.getAs[Boolean]("within_tol")),
      s"quantization error above tolerance: " +
        out.filterNot(_.getAs[Boolean]("within_tol")).take(3).mkString(", "))
    // identical vectors must still score 1.0 after quantization
    val self = real.select(col("vec_id").as("a"),
        Similarity.quantizeInt8(col("embedding")).getField("q").as("q"))
      .select(Similarity.int8Cosine(col("q"), col("q")).as("c"))
      .agg(min("c"), max("c")).collect().head
    assert(self.getDouble(0) == 1.0 && self.getDouble(1) == 1.0)
  }

  test("mineTriplets: hardest positive/negative with id tiebreaks; no-candidate anchors drop") {
    // axis-aligned vectors: cos(a0,a1)=1 etc. label 9 has a single member
    // (no same-label candidate -> dropped)
    val rows = spark.sql(
      """SELECT * FROM VALUES
        |  (0L, 0, array(1.0F, 0.0F)),
        |  (1L, 0, array(1.0F, 0.0F)),
        |  (2L, 0, array(0.0F, 1.0F)),
        |  (3L, 1, array(1.0F, 0.0F)),
        |  (4L, 1, array(1.0F, 0.0F)),
        |  (5L, 9, array(0.5F, 0.5F))
        |AS t(vec_id, label, embedding)""".stripMargin)
    val out = Similarity.mineTriplets(rows, rows, "vec_id", "embedding", "label")
      .orderBy("anchor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(3))).toSeq
    // anchor 0: hardest pos = 2 (cos 0); hardest neg: 3 and 4 tie at cos 1
    //   -> smaller id 3. anchor 5 (sole label-9 member) must be absent.
    assert(out.contains((0L, 2L, 3L)), s"got $out")
    assert(!out.exists(_._1 == 5L), s"anchor without positives kept: $out")
    // anchor 3: positives = {4} (cos 1); negatives 0,1 tie at cos 1 -> id 0
    assert(out.contains((3L, 4L, 0L)), s"got $out")
  }

  test("mineTriplets plan: broadcast anchors, combinable aggregate, no window, no sort-merge") {
    val real = spark.read.parquet(sfDir + "/embeddings.parquet")
    val p = Similarity.mineTriplets(real, real.filter(col("vec_id") < 5),
        "vec_id", "embedding", "label")
      .queryExecution.executedPlan.toString
    assert(!p.contains("Window"), s"per-anchor window over the corpus:\n$p")
    assert(!p.contains("SortMergeJoin"), s"corpus shuffled for the score join:\n$p")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      s"anchors not broadcast:\n$p")
    // struct-typed min/max plans as SortAggregate, not HashAggregate —
    // what matters is the PARTIAL phase (map-side combine) before the
    // single anchor-key exchange
    assert(p.contains("partial_min"),
      s"extremes not reduced via partial aggregation:\n$p")
    // exactly one SHUFFLE (the anchor-key one); the other Exchange in the
    // plan is the anchors' BroadcastExchange
    assert("Exchange hashpartitioning".r.findAllIn(p).length == 1,
      s"expected exactly the anchor-key shuffle:\n$p")
  }

  test("maxSimTopK: per-chunk best-match semantics on hand-built vectors") {
    // chunks=2 over dim 4. query [1,0,0,0] → qcs [[1,0],[0,0]] (second
    // chunk is zero → its cosine guards to 0 everywhere).
    // doc 1 [1,0,1,0] matches chunk 1 perfectly in BOTH its chunks → maxsim 1
    // doc 2 [0,1,0,1] is orthogonal to chunk 1 everywhere     → maxsim 0
    // doc 3 [1,1,0,0] chunk [1,1] gives cos 1/√2; chunk [0,0] guards → ~0.7071
    val df = spark.sql(
      """SELECT * FROM VALUES
        |  (0L, array(1f, 0f, 0f, 0f)),
        |  (1L, array(1f, 0f, 1f, 0f)),
        |  (2L, array(0f, 1f, 0f, 1f)),
        |  (3L, array(1f, 1f, 0f, 0f))
        |AS t(vec_id, embedding)""".stripMargin)
    val out = Similarity.maxSimTopK(df, df.filter(col("vec_id") === 0),
        "vec_id", "embedding", chunks = 2, k = 3)
      .collect().map(r => (r.getAs[Long]("neighbor_id"),
        r.getAs[Double]("maxsim"), r.getAs[Int]("rnk")))
    assert(out.toSeq == Seq((1L, 1.0, 1), (3L, 0.707107, 2), (2L, 0.0, 3)))
  }

  test("maxSimTopK rewards partial overlap that whole-vector cosine dilutes") {
    // doc A shares query chunk 1 exactly but is opposite in chunk 2;
    // whole-vector cosine ranks it at 0, MaxSim still credits the match
    val df = spark.sql(
      """SELECT * FROM VALUES
        |  (0L, array(1f, 0f, 1f, 0f)),
        |  (1L, array(1f, 0f, -1f, 0f)),
        |  (2L, array(0.6f, 0.1f, 0.6f, 0.1f))
        |AS t(vec_id, embedding)""".stripMargin)
    val q = df.filter(col("vec_id") === 0)
    val whole = Similarity.bruteForceTopK(df, q, "vec_id", "embedding", 2)
      .collect().map(r => r.getAs[Long]("neighbor_id") -> r.getAs[Double]("cosine")).toMap
    val ms = Similarity.maxSimTopK(df, q, "vec_id", "embedding", chunks = 2, k = 2)
      .collect().map(r => r.getAs[Long]("neighbor_id") -> r.getAs[Double]("maxsim")).toMap
    assert(whole(1L) == 0.0)          // +1·1 and −1·1 cancel in one dot
    assert(ms(1L) == 2.0)             // each query chunk finds its twin
    assert(ms(1L) > ms(2L) && whole(2L) > whole(1L))
  }

  test("maxsim_f32 kernel is bit-identical to the nested-HOF reference on real embeddings") {
    val emb = spark.read.parquet(sfDir + "/embeddings.parquet")
    val q = emb.filter(col("vec_id") < 4)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"))
    val pairs = emb.limit(50).crossJoin(broadcast(q))
    val diff = pairs.select(
        graft.functions.maxsim_f32(col("qv"), col("embedding"), 8).as("k"),
        Similarity.maxSimScoreHof(col("qv"), col("embedding"), 8).as("h"))
      .filter(col("k") =!= col("h")).count()
    assert(diff == 0L, s"$diff kernel/HOF mismatches — accumulation drifted")
  }

  test("dimStats: exact milli-unit moments on hand-computed vectors") {
    val df = Seq(
      (0L, Array(0.5f, -0.25f)),
      (1L, Array(1.0f, 0.75f)),
      (2L, Array(0.0f, -0.25f))).toDF("vec_id", "vec")
    val out = Similarity.dimStats(df, "vec").orderBy("dim").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))
    // dim0 u: 500, 1000, 0; dim1 u: -250, 750, -250
    assert(out(0) == ((0L, 3L, 1500L, 1250000L, 0L, 1000L)))
    assert(out(1) == ((1L, 3L, 250L, 687500L, -250L, 750L)))
  }

  test("standardize: zero mean/unit variance out, zero-variance dim to 0") {
    val df = Seq(
      (0L, Array(1.0f, 5.0f)),
      (1L, Array(3.0f, 5.0f))).toDF("vec_id", "vec")
    val stats = Similarity.dimStats(df, "vec")
    val z = Similarity.standardize(df, "vec_id", "vec", stats)
      .orderBy("vec_id").collect()
      .map(r => r.getSeq[Double](1))
    // dim0: mean 2, std 1 -> z = -1, 1; dim1 constant -> 0
    assert(z(0) == Seq(-1.0, 0.0), s"got ${z(0)}")
    assert(z(1) == Seq(1.0, 0.0))
    // standardized stats really are ~N(0,1) on the real embeddings table
    val emb = spark.read.parquet(sfDir + "/embeddings.parquet")
    val st = Similarity.dimStats(emb, "embedding")
    val zz = Similarity.standardize(emb, "vec_id", "embedding", st)
      .select(org.apache.spark.sql.functions.posexplode(
        org.apache.spark.sql.functions.col("z")).as(Seq("dim", "zv")))
      .agg(org.apache.spark.sql.functions.avg("zv"),
        org.apache.spark.sql.functions.stddev_pop("zv"))
      .collect()(0)
    assert(math.abs(st.count() - 64L) == 0L)
    assert(math.abs(zz.getDouble(0)) < 0.01, s"mean ${zz.getDouble(0)}")
    assert(math.abs(zz.getDouble(1) - 1.0) < 0.05, s"std ${zz.getDouble(1)}")
  }

  test("dimCrossStats: hand-computed upper-triangle moments; pairwise non-finite exclusion") {
    val df = Seq(
      (0L, Array(1.0f, 2.0f, Float.NaN)),
      (1L, Array(3.0f, 5.0f, 7.0f))).toDF("vec_id", "vec")
    val out = Similarity.dimCrossStats(df, "vec").orderBy("dim_i", "dim_j")
      .collect()
      .map(r => ((r.getLong(0), r.getLong(1)),
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))).toMap
    // milli-units: row0 = (1000, 2000, -), row1 = (3000, 5000, 7000)
    assert(out((0L, 0L)) == ((2L, 1000L * 1000 + 3000L * 3000, 4000L, 4000L)))
    assert(out((0L, 1L)) == ((2L, 1000L * 2000 + 3000L * 5000, 4000L, 7000L)))
    // pairs touching the NaN entry keep only the finite row
    assert(out((0L, 2L)) == ((1L, 3000L * 7000, 3000L, 7000L)))
    assert(out((2L, 2L)) == ((1L, 7000L * 7000, 7000L, 7000L)))
  }

  test("whiten: decorrelates the training corpus to identity covariance") {
    import org.apache.spark.sql.functions._
    val rnd = new scala.util.Random(11)
    // correlated 3-dim data: x2 = x0 + noise, x1 independent
    val data = (0 until 400).map { i =>
      val a = rnd.nextGaussian(); val b = rnd.nextGaussian()
      (i.toLong, Array((a * 0.3).toFloat, (b * 0.2 + 0.5).toFloat,
        (a * 0.25 + rnd.nextGaussian() * 0.05).toFloat))
    }
    val df = data.toDF("vec_id", "vec")
    val cross = Similarity.dimCrossStats(df, "vec")
    val z = Similarity.whiten(df, "vec_id", "vec", cross)
      .select(posexplode(col("z")).as(Seq("dim", "zv")), col("vec_id"))
    val zr = z.collect().map(r => (r.getAs[Long]("vec_id"),
      r.getAs[Int]("dim"), r.getAs[Double]("zv")))
    val byVec = zr.groupBy(_._1).view.mapValues(_.sortBy(_._2).map(_._3)).toMap
    val n = byVec.size.toDouble
    for (i <- 0 until 3; j <- i until 3) {
      val mi = byVec.values.map(_(i)).sum / n
      val mj = byVec.values.map(_(j)).sum / n
      val cij = byVec.values.map(v => (v(i) - mi) * (v(j) - mj)).sum / n
      val want = if (i == j) 1.0 else 0.0
      // quantization at milli-units bounds the residual; 5% tolerance
      assert(math.abs(cij - want) < 0.05,
        s"whitened cov($i,$j) = $cij, want $want")
      assert(math.abs(mi) < 0.05, s"whitened mean($i) = $mi, want ~0")
    }
  }

  test("whiten: guards — missing triangle, non-PD input, dims cap") {
    val df = Seq((0L, Array(1.0f, 2.0f)), (1L, Array(1.0f, 2.0f)))
      .toDF("vec_id", "vec")
    val cross = Similarity.dimCrossStats(df, "vec")
    // constant dims → zero covariance: ridge keeps it factorizable and
    // whitened output is defined (zeros after centering)
    val z = Similarity.whiten(df, "vec_id", "vec", cross)
      .select(org.apache.spark.sql.functions.col("z")).collect()
      .map(_.getSeq[Double](0))
    assert(z.forall(_.forall(v => math.abs(v) < 1e-3)), z.toSeq.toString)
    // a hole in the triangle fails loudly
    val holed = cross.filter("NOT (dim_i = 0 AND dim_j = 1)")
    val ex = intercept[IllegalArgumentException](
      Similarity.whiten(df, "vec_id", "vec", holed).collect())
    assert(ex.getMessage.contains("upper triangle"), ex.getMessage)
  }

  test("dimStats excludes non-finite entries from every moment, including n") {
    val df = Seq(
      (0L, Array(1.0f, Float.NaN, Float.PositiveInfinity)),
      (1L, Array(3.0f, 2.0f, Float.NegativeInfinity)),
      (2L, Array(5.0f, 4.0f, 7.0f))).toDF("vec_id", "vec")
    val out = Similarity.dimStats(df, "vec").orderBy("dim").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // dim0: all finite; dim1: NaN dropped -> n = 2; dim2: ±Inf dropped
    // -> n = 1 (without the finite guard, floor(Inf·scale).cast(long)
    // saturates at Long.MaxValue and poisons sum_u/sumsq_u)
    assert(out(0) == ((0L, 3L, 9000L)))
    assert(out(1) == ((1L, 2L, 6000L)), s"NaN leaked into the moments: ${out(1)}")
    assert(out(2) == ((2L, 1L, 7000L)), s"Infinity leaked into the moments: ${out(2)}")
  }

  // --- IVF-PQ composed index -------------------------------------------------

  private def pqCorpus = Seq.tabulate(64) { i =>
    // four well-separated direction clusters with small per-id jitter
    val base = (i % 4) match {
      case 0 => (1.0f, 0.0f, 0.0f, 0.1f)
      case 1 => (0.0f, 1.0f, 0.1f, 0.0f)
      case 2 => (0.0f, 0.1f, 1.0f, 0.0f)
      case _ => (0.1f, 0.0f, 0.0f, 1.0f)
    }
    val j = (i / 4) * 0.01f
    (i.toLong, Array(base._1 + j, base._2, base._3, base._4 + j))
  }.toDF("vec_id", "vec")

  test("ivf-pq: codebook round-trips, append uses persisted identity, compact preserves both sidecars") {
    val corpus = pqCorpus
    val a = corpus.filter(col("vec_id") < 32)
    val b = corpus.filter(col("vec_id") >= 32)
    val cents = Similarity.ivfCentroidsKmeans(corpus, "vec_id", "vec", 4)
    val cb = Similarity.ivfPqTrain(a, "vec_id", "vec", cents, m = 2, k = 16)
    val path = java.nio.file.Files.createTempDirectory("ivfpq").toString + "/idx"
    Similarity.ivfPqWriteIndex(a, "vec_id", "vec", cents, cb, path)
    val cb2 = Similarity.ivfPqReadCodebook(spark, path)
    assert(cb2.m == cb.m && cb2.subDim == cb.subDim && cb2.k == cb.k
      && java.util.Arrays.equals(cb2.flat, cb.flat),
      "codebook must round-trip bit-exactly")
    Similarity.ivfPqAppendIndex(b, "vec_id", "vec", path)
    assert(spark.read.parquet(path).count() == 64)
    Similarity.ivfCompactIndex(spark, path)
    // identity sidecars survive the rewrite
    val cb3 = Similarity.ivfPqReadCodebook(spark, path)
    assert(java.util.Arrays.equals(cb3.flat, cb.flat),
      "compaction must preserve the codebook sidecar")
    assert(Similarity.ivfReadCentroids(spark, path) == cents.sortBy(_._1))
    // one file per cell after compaction
    val cells = new java.io.File(path).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("cell="))
    assert(cells.nonEmpty)
    cells.foreach { c =>
      val files = c.listFiles().filter(_.getName.endsWith(".parquet"))
      assert(files.length == 1, s"${c.getName}: ${files.length} files after compact")
    }
  }

  test("ivf-pq: persisted search equals direct search; exact hits recover through re-rank") {
    val corpus = pqCorpus
    val cents = Similarity.ivfCentroidsKmeans(corpus, "vec_id", "vec", 4)
    val cb = Similarity.ivfPqTrain(corpus, "vec_id", "vec", cents, m = 2, k = 16)
    val path = java.nio.file.Files.createTempDirectory("ivfpq2").toString + "/idx"
    Similarity.ivfPqWriteIndex(corpus, "vec_id", "vec", cents, cb, path)
    val queries = corpus.filter(col("vec_id") < 4)
    val disk = Similarity.ivfPqSearchIndex(spark, path, corpus, queries,
      "vec_id", "vec", nprobe = 2, k = 5, shortlist = 10)
    val direct = Similarity.ivfPqSearch(corpus, queries, cents, cb,
      "vec_id", "vec", nprobe = 2, k = 5, shortlist = 10)
    assert(direct.exceptAll(disk).count() == 0 && disk.exceptAll(direct).count() == 0,
      "persisted and direct IVF-PQ searches must be identical")
    // every returned neighbor shares the query's direction cluster: the
    // ADC shortlist found the right cell content and re-rank ordered it
    val rows = disk.collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val q = r.getLong(0); val nb = r.getLong(1)
      assert(q % 4 == nb % 4,
        s"query $q got cross-cluster neighbor $nb at rank ${r.get(3)}")
    }
  }

  test("ivf-pq: missing codebook sidecar fails loudly, never silent garbage") {
    val corpus = pqCorpus
    val cents = Similarity.ivfCentroids(corpus, "vec_id", "vec", 4)
    val path = java.nio.file.Files.createTempDirectory("ivfpq3").toString + "/idx"
    // an index written WITHOUT the codebook (the plain f32 layout)
    Similarity.ivfWriteIndexWithCentroids(
      Similarity.assignCells(corpus, "vec_id", "vec", cents), cents, path)
    val ex = intercept[IllegalArgumentException](
      Similarity.ivfPqReadCodebook(spark, path))
    assert(ex.getMessage.contains("_pq_codebook"), ex.getMessage)
  }

  // --- IVF kernels against the in-row folds they replaced ------------------

  // The folds over a literal centroid table that `graft.functions.ivf_nearest`
  // and `ivf_probe` replaced, kept here as their reference.
  private def foldTable(cents: Seq[(Long, Seq[Float])]): Column =
    array(cents.map { case (cell, v) =>
      struct(lit(cell).as("cell"), array(v.map(lit): _*).as("centroid"))
    }: _*)

  private def foldNearest(v: Column, cents: Seq[(Long, Seq[Float])]): Column =
    if (cents.isEmpty) struct(lit(-1L).as("cell"))
    else aggregate(foldTable(cents),
      struct(lit(-2.0d).as("sim"), lit(-1L).as("cell"),
        array_repeat(lit(0.0f), cents.head._2.length).as("centroid")),
      (acc, ct) => {
        val s = Similarity.cosineF(v, ct.getField("centroid"))
        when(s > acc.getField("sim") ||
             (s === acc.getField("sim") && ct.getField("cell") < acc.getField("cell")),
          struct(s.as("sim"), ct.getField("cell").as("cell"),
            ct.getField("centroid").as("centroid")))
          .otherwise(acc)
      })

  private def foldProbe(v: Column, cents: Seq[(Long, Seq[Float])], nprobe: Int): Column =
    if (cents.isEmpty) typedlit(Seq.empty[(Long, Seq[Float])])
    else transform(
      slice(array_sort(transform(foldTable(cents), ct =>
        struct((-Similarity.cosineF(v, ct.getField("centroid"))).as("negsim"),
          ct.getField("cell").as("cell"),
          ct.getField("centroid").as("centroid")))), 1, nprobe),
      p => struct(p.getField("cell").as("cell"), p.getField("centroid").as("centroid")))

  private def withConfs[T](kv: (String, String)*)(body: => T): T = {
    val before = kv.map { case (k, _) => k -> spark.conf.getOption(k) }
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally before.foreach { case (k, old) => old.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
  }

  test("ivf kernels are bit-identical to the in-row folds: ties, NULL, zero, NaN, empty table") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val f = (x: Float) => java.lang.Float.valueOf(x)
    val rows = Seq[Row](
      Row(1L, Seq(f(1f), f(0f), f(0f))),         // cells 5 and 2 tie: 2 wins
      Row(2L, Seq(f(1f), f(1f), f(0f))),         // 5, 2 and 7 tie on cosine
      Row(3L, null),                             // NULL vector
      Row(4L, Seq(f(0f), f(0f), f(0f))),         // zero vector: every cosine 0
      Row(5L, Seq(f(Float.NaN), f(1f), f(0f))),  // NaN cosines sort greatest
      Row(6L, Seq(null, f(1f), f(0f))),          // NULL element reads as 0
      Row(7L, Seq(f(0.3f), f(-0.2f), f(0.9f))),
      Row(8L, Seq(f(-1f), f(0.5f), f(0f))))
    val vecs = spark.createDataFrame(java.util.Arrays.asList(rows: _*), StructType(Seq(
      StructField("id", LongType), StructField("v", ArrayType(FloatType)))))
    val cents = Seq(
      5L -> Seq(1f, 0f, 0f),
      2L -> Seq(2f, 0f, 0f), // same direction as cell 5
      7L -> Seq(0f, 1f, 0f),
      1L -> Seq(0f, 0f, 1f),
      3L -> Seq(-1f, 1f, 0f))

    def collected(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) -> (1 until r.length).map(r.get).mkString("|")).toMap
    def kernelSide(table: Seq[(Long, Seq[Float])], nprobe: Int, withCentroid: Boolean) =
      vecs.select(col("id"),
        (if (withCentroid) graft.functions.ivf_nearest(col("v"), table)
         else graft.functions.ivf_nearest(col("v"), table).getField("cell")).as("n"),
        graft.functions.ivf_probe(col("v"), table, nprobe).as("p"))
    def foldSide(table: Seq[(Long, Seq[Float])], nprobe: Int, withCentroid: Boolean) = {
      val n = foldNearest(col("v"), table)
      vecs.select(col("id"),
        (if (withCentroid) struct(n.getField("cell").as("cell"),
           n.getField("centroid").as("centroid"))
         else n.getField("cell")).as("n"),
        foldProbe(col("v"), table, nprobe).as("p"))
    }

    Seq(
      Seq("spark.sql.codegen.wholeStage" -> "true", "spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY"),
      Seq("spark.sql.codegen.wholeStage" -> "false", "spark.sql.codegen.factoryMode" -> "NO_CODEGEN")
    ).foreach { confs =>
      withConfs(confs: _*) {
        for ((table, withCentroid) <- Seq(cents -> true, Seq.empty[(Long, Seq[Float])] -> false);
             nprobe <- Seq(0, 3, 10)) {
          val got = collected(kernelSide(table, nprobe, withCentroid))
          val want = collected(foldSide(table, nprobe, withCentroid))
          assert(got == want, s"$confs, ${table.size} cells, nprobe $nprobe")
        }
        val assigned = Similarity.assignCells(vecs, "id", "v", cents)
          .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
        assert(assigned == Map(1L -> 2L, 2L -> 2L, 3L -> -1L, 4L -> 1L,
          5L -> 1L, 6L -> 7L, 7L -> 1L, 8L -> 3L), confs.toString)
      }
    }
  }

  test("ivf kernels hold the centroid table structurally and print it short") {
    import graft.functions.IvfCentroids
    val t = Seq(0L -> Seq(1f, 0f), 1L -> Seq(0f, 1f))
    val a = new IvfCentroids(t)
    val b = new IvfCentroids(t.map { case (c, v) => c -> v.toVector })
    assert(a == b && a.hashCode == b.hashCode && a.toString == b.toString)
    assert(a != new IvfCentroids(Seq(0L -> Seq(1f, 0f), 1L -> Seq(0f, -0f))))
    assert(a != new IvfCentroids(Seq(0L -> Seq(1f, 0f), 2L -> Seq(0f, 1f))))
    assert(a.toString.matches("centroids\\(2x2#[0-9a-f]{8}\\)"), a.toString)
    // equal tables give equal expressions, so equal plans
    assert(Similarity.assignCells(emb, "vec_id", "embedding", t).queryExecution.analyzed
      .sameResult(Similarity.assignCells(emb, "vec_id", "embedding", t).queryExecution.analyzed))

    val q = graft.SparkEntry.queries("q_ivf_topk")(spark, sfDir)
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("ivf_nearest") && plan.contains("ivf_probe"), plan)
    assert(plan.contains("centroids(16x"), plan)
    assert(!plan.contains("[F@") && !plan.contains("array_sort") && !plan.contains("aggregate("),
      s"the IVF plan must not hold a literal centroid table:\n$plan")
  }

  test("a NULL vector element drops the row from the IVF and PQ seed samples") {
    val corpus = spark.sql("""select * from values
        (1L, array(cast(1 as float), cast(0 as float))),
        (2L, array(cast(null as float), cast(1 as float))) as t(vec_id, vec)""")
    val cents = Similarity.ivfCentroidsKmeans(corpus, "vec_id", "vec", cells = 2)
    assert(cents.map(_._2) == Seq(Seq(1f, 0f)), s"seeded from a corrupt vector: $cents")
    val cb = Similarity.pqTrain(corpus, "vec_id", "vec", m = 1, k = 2)
    assert(cb.k == 1 && cb.flat.toSeq == Seq(1f, 0f),
      s"trained on a corrupt vector: k=${cb.k} ${cb.flat.toSeq}")
  }
}
