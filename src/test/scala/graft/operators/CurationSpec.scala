package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkTestBase

class CurationSpec extends SparkTestBase {
  import spark.implicits._

  test("splitAssign: total partition, roughly the requested proportions") {
    val ids = (0L until 2000L).toDF("id")
    val counts = Curation.splitAssign(ids, "id")
      .groupBy("split").count().as[(String, Long)].collect().toMap
    assert(counts.keySet == Set("train", "val", "test"))
    assert(counts.values.sum == 2000L)
    assert(counts("train") > 1500 && counts("train") < 1700) // ~80%
    assert(counts("val") > 120 && counts("val") < 280)       // ~10%
  }

  test("splitAssign and sampleByHash are content-stable under repartition") {
    val ids = (0L until 500L).toDF("id")
    val a = Curation.splitAssign(ids, "id").orderBy("id").collect().toSeq
    val b = Curation.splitAssign(ids.repartition(13), "id").orderBy("id").collect().toSeq
    assert(a == b)
    val sa = Curation.sampleByHash(ids, "id", 0.2).orderBy("id").as[Long].collect().toSeq
    val sb = Curation.sampleByHash(ids.repartition(7), "id", 0.2).orderBy("id").as[Long].collect().toSeq
    assert(sa == sb && sa.nonEmpty && sa.size < 200)
  }

  test("pow2Bin: exact powers of two land in their own bin (no log2 ulp drift)") {
    val cases = Seq(0L -> 0L, 1L -> 1L, 2L -> 2L, 3L -> 2L, 4L -> 4L, 7L -> 4L,
      8L -> 8L, 1023L -> 512L, 1024L -> 1024L, 4095L -> 2048L, 4096L -> 4096L,
      100000L -> 4096L)
    val got = cases.map(_._1).toDF("n")
      .select(col("n"), Curation.pow2Bin(col("n")).as("bin"))
      .as[(Long, Long)].collect().toMap
    cases.foreach { case (n, bin) => assert(got(n) == bin, s"n=$n") }
  }

  test("stratifiedSample: exactly min(n, |stratum|) rows, stable under repartition") {
    val df = Seq.tabulate(40)(i => (s"s${i % 3}", i.toLong)).toDF("src", "id")
      .union(Seq(("tiny", 99L)).toDF("src", "id"))
    val sampled = Curation.stratifiedSample(df, "src", "id", 5)
    val counts = sampled.groupBy("src").count().as[(String, Long)].collect().toMap
    assert(counts("s0") == 5 && counts("s1") == 5 && counts("s2") == 5)
    assert(counts("tiny") == 1)
    val again = Curation.stratifiedSample(df.repartition(11), "src", "id", 5)
    assert(sampled.orderBy("src", "id").collect().toSeq ==
      again.orderBy("src", "id").collect().toSeq)
  }

  test("contamination: planted leak is 1.0, disjoint doc is 0.0, short docs count") {
    val train = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (2L, "one two three")).toDF("doc_id", "text")
    val eval = Seq(
      (10L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"), // leaked
      (11L, "completely different words that never appeared in training data here"),
      (12L, "one two three"), // < k tokens → whole-doc shingle, leaked
      (13L, "")).toDF("doc_id", "text")
    val out = Curation.contamination(train, eval, "doc_id", "text", k = 8)
      .orderBy("doc_id").collect()
    assert(out.map(_.getLong(0)).toSeq == Seq(10L, 11L, 12L)) // empty doc excluded
    assert(out(0).getAs[Double]("contamination") == 1.0)
    assert(out(1).getAs[Double]("contamination") == 0.0)
    assert(out(2).getAs[Double]("contamination") == 1.0)
    assert(out(2).getAs[Long]("n_shingles") == 1L)
  }

  test("piiScrub: redacts email/IP/phone and counts matches") {
    val df = Seq(
      (1L, "mail bob.smith+x@corp.example.org from 192.168.0.1 call 555-123-4567 ok"),
      (2L, "no pii here, just 3.14 and v1.2.3")).toDF("doc_id", "text")
    val out = Curation.piiScrub(df, "doc_id", "text").orderBy("doc_id").collect()
    assert(out(0).getAs[Long]("n_pii") == 3L)
    assert(out(0).getAs[String]("scrubbed") ==
      "mail <EMAIL> from <IP> call <PHONE> ok")
    assert(out(1).getAs[Long]("n_pii") == 0L)
    assert(out(1).getAs[String]("scrubbed") == "no pii here, just 3.14 and v1.2.3")
  }

  test("rebalanceMix: nested samples, 1.0 keeps a stratum whole, absent drops it") {
    val df = Seq.tabulate(600)(i => (Seq("en", "de", "es")(i % 3), i.toLong))
      .toDF("lang", "id")
    val out = Curation.rebalanceMix(df, "lang", "id",
      Map("en" -> 0.5, "de" -> 1.0))
    val counts = out.groupBy("lang").count().as[(String, Long)].collect().toMap
    assert(counts("de") == 200L)                  // fraction 1.0 = keep all
    assert(counts.get("es").isEmpty)              // absent stratum dropped
    assert(counts("en") > 60 && counts("en") < 140) // ~50%
    // nesting: raising en's fraction only adds rows, never swaps them
    val bigger = Curation.rebalanceMix(df, "lang", "id", Map("en" -> 0.8))
      .filter(col("lang") === "en").select("id").as[Long].collect().toSet
    val smaller = out.filter(col("lang") === "en").select("id").as[Long].collect().toSet
    assert(smaller.subsetOf(bigger))
  }

  test("epochsMix: whole copies exact, fractional copy is a stable subsample") {
    val df = Seq.tabulate(900)(i => (Seq("en", "de", "zh")(i % 3), i.toLong))
      .toDF("lang", "id")
    val out = Curation.epochsMix(df, "lang", "id", Map("en" -> 2.5, "de" -> 1.0, "zh" -> 0.25))
    val counts = out.groupBy("lang", "copy").count()
      .as[(String, Long, Long)].collect().map { case (l, c, n) => (l, c) -> n }.toMap
    assert(counts(("en", 0L)) == 300L && counts(("en", 1L)) == 300L)
    assert(counts(("en", 2L)) > 100 && counts(("en", 2L)) < 200) // ~50%
    assert(counts(("de", 0L)) == 300L && !counts.contains(("de", 1L)))
    assert(counts(("zh", 0L)) > 40 && counts(("zh", 0L)) < 110)  // ~25%
    // fractional members are the SAME docs on every run/layout
    val again = Curation.epochsMix(df.repartition(5), "lang", "id",
      Map("en" -> 2.5, "de" -> 1.0, "zh" -> 0.25))
    assert(out.orderBy("lang", "copy", "id").collect().toSeq ==
      again.orderBy("lang", "copy", "id").collect().toSeq)
  }

  test("hexThreshold: fraction 1.0 yields the keep-all sentinel, not a width overflow") {
    assert(Curation.hexThreshold(100.0, 4) == "g")
    assert(Curation.hexThreshold(50.0, 4) == "8000")
    assert("ffff" < "g" && "0000" < "g") // every hex string sorts below it
  }

  test("sketches land within tolerance of the exact paths on real documents") {
    val docs = spark.read.parquet(sfDir + "/documents.parquet")
    val v = Sketches.vocabSize(docs, "text").collect().head
    val exact = v.getAs[Long]("n_distinct_exact")
    val approx = v.getAs[Long]("n_distinct_approx")
    assert(exact > 0 && math.abs(approx - exact).toDouble / exact <= 0.1,
      s"HLL off: exact=$exact approx=$approx")
    val m = Sketches.tokenMedian(docs, "text").collect().head
    assert(math.abs(m.getAs[Double]("p50_approx") - m.getAs[Double]("p50_exact"))
      <= m.getAs[Double]("p50_exact") * 0.05)
  }

  test("packSequences: budget cuts in key order, no pack exceeds budget by more than one doc") {
    val docs = Seq.tabulate(100)(i => (i.toLong, Seq.fill(10)("w").mkString(" ")))
      .toDF("doc_id", "text") // every doc = 10 tokens
    val packed = Curation.packSequences(docs, "doc_id", "text", budget = 35L)
    val perPack = packed.groupBy("shard", "pack")
      .agg(sum(col("nt")).as("tok")).collect()
    // exclusive-cumsum packing: every pack holds ≤ budget + (one doc - 1) tokens
    perPack.foreach(r => assert(r.getAs[Long]("tok") <= 35L + 9L))
    // within a shard, pack ids are contiguous from 0
    val minShard = packed.agg(min("shard")).collect().head.getLong(0)
    val shard0 = packed.filter(col("shard") === minShard)
      .select("pack").as[Long].collect().toSet
    assert(shard0 == (0L until shard0.size.toLong).toSet)
    // deterministic under repartition
    val again = Curation.packSequences(docs.repartition(7), "doc_id", "text", 35L)
    assert(packed.orderBy("doc_id").collect().toSeq == again.orderBy("doc_id").collect().toSeq)
  }

  test("exportJsonl: split-partitioned shard layout round-trips") {
    val dir = java.nio.file.Files.createTempDirectory("jsonl_export").toString
    val docs = spark.read.parquet(sfDir + "/documents.parquet").select("doc_id", "text")
    val split = Curation.splitAssign(docs, "doc_id")
    Curation.exportJsonl(split, "split", "doc_id", shards = 4, dir)
    val back = spark.read.json(dir)
    assert(back.count() == docs.count())
    val counts = back.groupBy("split").count().as[(String, Long)].collect().toMap
    val expected = split.groupBy("split").count().as[(String, Long)].collect().toMap
    assert(counts == expected)
    assert(new java.io.File(dir, "split=train").listFiles().count(_.getName.endsWith(".json")) == 4)
  }

  test("exportJsonlSized: shard count follows the bytes target; read-back parallelism matches") {
    val docs = spark.read.parquet(sfDir + "/documents.parquet").select("doc_id", "text")
    val split = Curation.splitAssign(docs, "doc_id")
    // ground truth the estimator should land on: the corpus fits inside
    // the default sample bound here, so est = exact total serialized bytes
    val totalBytes = split
      .select((length(to_json(struct(col("*")))) + 1).cast("long").as("b"))
      .agg(sum(col("b"))).collect()(0).getLong(0)
    val target = totalBytes / 4
    val dir = java.nio.file.Files.createTempDirectory("jsonl_sized").toString
    val n = Curation.exportJsonlSized(split, "split", "doc_id", target, dir)
    assert(n == math.ceil(totalBytes.toDouble / target).toInt, s"shards=$n")
    assert(n >= 4, s"bytes target should force multiple shards, got $n")
    // the layout delivers that parallelism: n shard files per split dir,
    // so a downstream consumer gets n-way reads even if shards were gzip
    assert(new java.io.File(dir, "split=train").listFiles()
      .count(_.getName.endsWith(".json")) == n)
    assert(spark.read.json(dir).count() == docs.count())
    // a giant target collapses to a single shard, never zero
    val dir1 = java.nio.file.Files.createTempDirectory("jsonl_sized1").toString
    assert(Curation.exportJsonlSized(split, "split", "doc_id", Long.MaxValue, dir1) == 1)
  }

  // The name predates the removal of the `reliable` option: every site is
  // one local checkpoint now, and this checks each for input-width invariance.
  test("reliable=true (replicated persist) is result-identical at every Materialize site") {
    val docs = spark.read.parquet(sfDir + "/documents.parquet")
      .select("doc_id", "text").limit(120)
    def rows(df: DataFrame): Seq[String] =
      df.collect().map(_.toString).sorted.toSeq
    // the same operator over the same rows, read one split vs seven
    def widthInvariant(op: DataFrame => DataFrame, in: DataFrame = docs): Unit =
      assert(rows(op(in.coalesce(1))) == rows(op(in.repartition(7))))
    widthInvariant(Curation.tfidfTopTerms(_, "doc_id", "text"))
    widthInvariant(d => Curation.contamination(d.orderBy("doc_id").limit(40), d, "doc_id", "text"))
    widthInvariant(TextAnalysis.lmScore(_, "doc_id", "text"))
    widthInvariant(Dedup.duplicateSpans(_, "doc_id", "text"))
    widthInvariant(Dedup.simhashPairs(_, "doc_id", "text"))
    widthInvariant(Dedup.removeDuplicateSpans(_, "doc_id", "text"))
    val chain = Seq((1L, 2L), (2L, 3L), (5L, 6L)).toDF("a_id", "b_id")
    assert(Dedup.nearDupClustersResult(chain.coalesce(1)).converged)
    assert(Dedup.nearDupClustersResult(chain.repartition(7)).converged)
    widthInvariant(Dedup.nearDupClusters(_), chain)
    widthInvariant(Dedup.clusterCorpus(_, "doc_id", chain))
    val (c1, rep1) = Curation.curate(docs.coalesce(1), "doc_id", "text")
    val (c7, rep7) = Curation.curate(docs.repartition(7), "doc_id", "text")
    assert(rows(c1) == rows(c7) && rep1 == rep7)
  }

  test("checkpoint sites stay lazy: building each operator's frame runs a fixed number of jobs") {
    val docs = spark.read.parquet(sfDir + "/documents.parquet")
      .select("doc_id", "text").limit(120)
    val nodes = spark.range(100).select(col("id").as("v"))
    val edges = Graph.arithmeticEdges(nodes, "v", 100L)
    // Building a frame over a lazy localCheckpoint still runs the shuffle
    // stages below it (AQE executes them to plan the checkpointed RDD);
    // these counts are those stages. An eager or bare `localCheckpoint()`
    // adds one job per site, and per round in pageRank/connectedComponents.
    val built = Seq(
      "tfidfTopTerms" -> jobsDuring(Curation.tfidfTopTerms(docs, "doc_id", "text"))._2,
      "contamination" -> jobsDuring(Curation.contamination(docs.limit(40), docs, "doc_id", "text"))._2,
      "lmScore" -> jobsDuring(TextAnalysis.lmScore(docs, "doc_id", "text"))._2,
      "duplicateSpans" -> jobsDuring(Dedup.duplicateSpans(docs, "doc_id", "text"))._2,
      "simhashPairs" -> jobsDuring(Dedup.simhashPairs(docs, "doc_id", "text"))._2,
      "lineDedup" -> jobsDuring(Dedup.lineDedup(docs, "doc_id", "text", minCount = 3))._2,
      "pageRank" -> jobsDuring(Graph.pageRank(nodes, edges, "v", iters = 3))._2,
      "connectedComponents" ->
        jobsDuring(Graph.connectedComponents(nodes, edges, "v", iters = 3))._2)
    assert(built == Seq("tfidfTopTerms" -> 1, "contamination" -> 1, "lmScore" -> 1,
      "duplicateSpans" -> 1, "simhashPairs" -> 0, "lineDedup" -> 1, "pageRank" -> 12,
      "connectedComponents" -> 12))
  }

  test("curate: end-to-end pipeline drops planted junk, exact dups, and near-dups") {
    val docs = spark.read.parquet(sfDir + "/documents.parquet")
      .select("doc_id", "text")
    val planted = docs
      .union(docs.limit(50).select((col("doc_id") + 10000L).as("doc_id"), col("text"))) // exact dups
      .union(Seq((20001L, ""), (20002L, "x")).toDF("doc_id", "text"))                   // junk
    val (curated, report) = Curation.curate(planted, "doc_id", "text", minTokens = 2L)
    assert(report.nInput == docs.count() + 52)
    assert(report.nAfterQuality == report.nInput - 2)          // junk gated
    assert(report.nAfterExactDedup == docs.count())            // planted copies collapse
    assert(report.nAfterNearDup <= report.nAfterExactDedup)
    assert(report.perSplit.values.sum == report.nAfterNearDup)
    assert(curated.columns.contains("split"))
    // survivors keep the smallest id of each duplicate group
    assert(curated.filter(col("doc_id") >= 10000L).count() == 0)
  }

  test("splitLeakage: counts cross-split duplicate pairs without a self-join") {
    // 3 copies of doc A, 2 of doc B, 1 unique C → groups (3,2,1):
    // pair totals = C(3,2)+C(2,2) = 3+1 = 4, split across cross/within
    val df = Seq(
      (1L, "same text a"), (2L, "same text a"), (3L, "same text a"),
      (4L, "other text b"), (5L, "other text b"),
      (6L, "unique text c")).toDF("doc_id", "text")
    val r = Curation.splitLeakage(df, "doc_id", "text").collect().head
    assert(r.getAs[Long]("n_fingerprints") == 3L)
    assert(r.getAs[Long]("n_dup_groups") == 2L)
    assert(r.getAs[Long]("cross_split_pairs") + r.getAs[Long]("within_split_pairs") == 4L)
  }

  test("tfidfTopTerms: rare terms outrank common ones; ties break on term") {
    val docs = Seq(
      (1L, "a a b"),
      (2L, "a c"),
      (3L, "b c d")).toDF("doc_id", "text")
    val out = Curation.tfidfTopTerms(docs, "doc_id", "text", k = 2)
      .orderBy("doc_id", "rank").collect()
    // doc 1: a has tf=2 df=2 → 2·ln(1.5); b tf=1 df=2 → ln(1.5)
    assert(out(0).getAs[String]("term") == "a" && out(0).getAs[Long]("rank") == 1L)
    assert(out(1).getAs[String]("term") == "b")
    // doc 3: d is unique (df=1, ln 3) and beats b/c (ln 1.5)
    val doc3 = out.filter(_.getLong(0) == 3L)
    assert(doc3(0).getAs[String]("term") == "d")
    assert(doc3(0).getAs[Double]("tfidf") == math.round(math.log(3.0) * 1e6) / 1e6)
    // b vs c tie (same tf, df) → lexicographic term order
    assert(doc3(1).getAs[String]("term") == "b")
  }

  test("packSequences offsets: docs tile each pack contiguously from 0") {
    val docs = spark.range(40).selectExpr("id AS doc_id",
      "concat_ws(' ', transform(sequence(1, 100), x -> 'w')) AS text") // 100 tokens each
    val out = Curation.packSequences(docs, "doc_id", "text", budget = 512L)
      .orderBy("shard", "doc_id").collect()
    out.groupBy(_.getAs[Long]("shard")).values.foreach { rows =>
      var cum = 0L
      rows.foreach { r =>
        assert(r.getAs[Long]("pack") == cum / 512)
        assert(r.getAs[Long]("off") == cum - (cum / 512) * 512)
        cum += r.getAs[Long]("nt")
      }
    }
  }

  test("equiDepthHistogram: quartiles of 1..100 give 4 buckets of exactly 25 per group") {
    import spark.implicits._
    val df = (1 to 100).map(i => ("g", i.toDouble)).toDF("grp", "v")
    val out = graft.operators.Relational.equiDepthHistogram(df, "grp", "v")
      .orderBy("bucket").collect().map(r => (r.getLong(1), r.getLong(2)))
    assert(out.map(_._1).toSeq == Seq(0L, 1L, 2L, 3L))
    assert(out.map(_._2).sum == 100L)
    out.foreach { case (_, n) => assert(n == 25L, s"unbalanced: ${out.toSeq}") }
  }

  test("dupSafeSplit: exact duplicates always share a split; id-keyed split leaks") {
    // 200 docs in 100 duplicate pairs (ids i and i+1000 share text)
    val docs = spark.range(100).selectExpr(
        "id AS doc_id", "concat('text body number ', id) AS text")
      .unionByName(spark.range(100).selectExpr(
        "id + 1000 AS doc_id", "concat('text body number ', id) AS text"))
    val safe = Curation.dupSafeSplit(docs, "text")
    val splitsPerText = safe.groupBy("text")
      .agg(count_distinct(col("split")).as("k")).agg(max("k")).collect().head.getLong(0)
    assert(splitsPerText == 1L, "a duplicate pair straddled splits")
    // sanity: all three splits are populated across the 100 distinct texts
    assert(safe.select("split").distinct().count() >= 2)
  }

  test("dupSafeSplit: NULL texts key on the sentinel fingerprint, not a silent test-pile") {
    val docs = spark.range(10).selectExpr("id AS doc_id",
      "IF(id < 5, NULL, concat('real text ', id)) AS text")
    val out = Curation.dupSafeSplit(docs, "text")
      .filter(col("text").isNull).select("split").distinct().collect().map(_.getString(0))
    // all NULL texts are "the same document" under the dup-safe contract →
    // exactly one split, and it is the one the sentinel's hash selects:
    // md5("graft:null-text") starts "d1", which is ≥ cc (80% train cut)
    // and < e6 (90% val cut) → 'val'. A regression to NULL-hash
    // fallthrough would put them in 'test'.
    assert(out.toSeq == Seq("val"), s"NULL texts split as: ${out.toSeq}")
  }

  test("fimTransform: PSM reassembly inverts to the original; pass-through and empties hold") {
    import spark.implicits._
    val docs = spark.range(200)
      .select(col("id").as("doc_id"),
        concat(lit("doc "), col("id"), lit(" body abcdefghijklmnop")).as("text"))
      .unionByName(Seq((9001L, ""), (9002L, null: String)).toDF("doc_id", "text"))
    val out = Curation.fimTransform(docs, "doc_id", "text", ratePct = 50)
      .collect().map(r => (r.getLong(0), r.getBoolean(1), r.getString(2)))
    val byId = out.map(r => r._1 -> r).toMap
    // empty/null docs are never FIM'd and emit ''
    assert(byId(9001L) == ((9001L, false, "")) && byId(9002L) == ((9002L, false, "")))
    val (fimmed, plain) = out.filter(_._1 < 200).partition(_._2)
    // rate 50% over 200 uniform hashes: both classes must be populated
    assert(fimmed.nonEmpty && plain.nonEmpty)
    plain.foreach { case (id, _, t) =>
      assert(t == s"doc $id body abcdefghijklmnop", s"pass-through mutated doc $id")
    }
    fimmed.foreach { case (id, _, t) =>
      // <PRE>P<SUF>S<MID>M with P+M+S == original (the fixture has no '<')
      assert(t.startsWith("<PRE>"), s"doc $id: $t")
      val sufAt = t.indexOf("<SUF>"); val midAt = t.indexOf("<MID>")
      assert(sufAt >= 5 && midAt > sufAt, s"doc $id: marker order in $t")
      val p = t.substring(5, sufAt)
      val sfx = t.substring(sufAt + 5, midAt)
      val m = t.substring(midAt + 5)
      assert(p + m + sfx == s"doc $id body abcdefghijklmnop",
        s"doc $id: spans do not reassemble")
    }
    // content-stable: a second run produces identical output
    val again = Curation.fimTransform(docs, "doc_id", "text", ratePct = 50)
      .collect().map(r => (r.getLong(0), r.getBoolean(1), r.getString(2)))
    assert(again.toSet == out.toSet)
  }

  test("chunkDocs: overlapping windows, short tail kept, empty doc absent") {
    val docs = Seq(
      (1L, "t0 t1 t2 t3 t4 t5 t6"), // size 4, stride 2 → starts 0,2,4,6
      (2L, "a b"),                  // one short chunk
      (3L, "")                      // no chunks
    ).toDF("doc_id", "text")
    val out = Curation.chunkDocs(docs, "doc_id", "text", chunkSize = 4, stride = 2)
      .orderBy("doc_id", "chunk_idx").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    assert(out.toSeq == Seq(
      (1L, 0L, 4L, "t0 t1 t2 t3"),
      (1L, 1L, 4L, "t2 t3 t4 t5"),
      (1L, 2L, 3L, "t4 t5 t6"),
      (1L, 3L, 1L, "t6"),
      (2L, 0L, 2L, "a b")))
  }

  test("chunkDocs is in-row: no exchange below the chunk generator") {
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val docs = Seq((1L, "a b c")).toDF("doc_id", "text")
      val exchanges = Curation.chunkDocs(docs, "doc_id", "text", 4, 2)
        .queryExecution.executedPlan.collect {
          case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
        }
      assert(exchanges.isEmpty, "chunking must not shuffle")
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("winsorizedStats: discrete cutoffs clip the planted outliers only") {
    // 1..100 in one group plus outliers 0 and 1000; p10/p90 land on data values
    val vals = ((1 to 100).map(_.toDouble) ++ Seq(0.0, 1000.0)).map(("g", _))
    val df = vals.toDF("grp", "v")
    val r = Curation.winsorizedStats(df, "grp", "v", 0.10, 0.90).collect().head
    assert(r.getAs[Long]("n") == 102L)
    val lo = r.getAs[Double]("lo"); val hi = r.getAs[Double]("hi")
    assert(lo >= 1.0 && lo <= 11.0, s"lo=$lo")
    assert(hi >= 90.0 && hi <= 100.0, s"hi=$hi")
    assert(r.getAs[Long]("n_clipped_lo") >= 1L) // the 0.0 outlier
    assert(r.getAs[Long]("n_clipped_hi") >= 1L) // the 1000.0 outlier
    // clipped sum bounded by the unclipped sum and above the fully-floored one
    val cents = r.getAs[Long]("sum_clipped_cents")
    assert(cents < (5050.0 + 1000.0) * 100 && cents > 5050 * 100 - 100 * lo * 100)
  }

  test("perplexityBuckets: head kept whole, tail thinned, totals cover the corpus") {
    val real = spark.read.parquet(sfDir + "/documents.parquet")
    val out = Curation.perplexityBuckets(real, "doc_id", "text", "lang").collect()
    val langs = out.map(_.getString(0)).distinct
    assert(langs.length >= 2)
    langs.foreach { l =>
      val rows = out.filter(_.getString(0) == l)
      assert(rows.map(_.getLong(1)).sorted.toSeq == Seq(1L, 2L, 3L), s"lang $l buckets")
      val head = rows.find(_.getLong(1) == 1L).get
      assert(head.getLong(3) == head.getLong(2), s"lang $l head must be kept whole")
      val tail = rows.find(_.getLong(1) == 3L).get
      assert(tail.getLong(3) < tail.getLong(2), s"lang $l tail must be thinned")
    }
    // every scored doc (>=1 bigram) lands in exactly one bucket
    val scoredDocs = graft.operators.TextAnalysis
      .lmScore(real, "doc_id", "text").count()
    assert(out.map(_.getLong(2)).sum == scoredDocs)
  }

  test("dsirSelect: selection shifts toward the target distribution, deterministically") {
    import spark.implicits._
    // target-ish docs share vocabulary with the target slice; noise docs don't
    val docs = ((0 until 20).map(i => (i.toLong, "alpha beta gamma delta", "en")) ++
      (20 until 40).map(i => (i.toLong, "omega sigma tau rho", "de")) ++
      (40 until 60).map(i => (i.toLong, "alpha beta something else", "de")) ++
      Seq((60L, "", "de"))).toDF("doc_id", "text", "lang")
    val sel = Curation.dsirSelect(docs, "doc_id", "text",
      col("lang") === "en", buckets = 64, selectNth = 4).collect()
    assert(sel.length == 61 / 4)
    // every selected doc shares target vocabulary (alpha/beta family)
    val ids = sel.map(_.getLong(0)).toSet
    assert(ids.forall(i => i < 20 || (i >= 40 && i < 60)), s"selected: $ids")
    val again = Curation.dsirSelect(docs, "doc_id", "text",
      col("lang") === "en", buckets = 64, selectNth = 4).collect()
    assert(again.map(r => (r.getLong(0), r.getLong(1))).toSeq ==
      sel.map(r => (r.getLong(0), r.getLong(1))).toSeq)
    // real corpus: the en share of the selected quarter must exceed the
    // corpus-wide en share (the whole point of importance selection)
    val real = spark.read.parquet(sfDir + "/documents.parquet")
    val picked = Curation.dsirSelect(real, "doc_id", "text",
      col("lang") === "en", buckets = 64, selectNth = 4)
      .join(real.select("doc_id", "lang"), Seq("doc_id"))
    val pickedEn = picked.filter(col("lang") === "en").count().toDouble /
      picked.count()
    val corpusEn = real.filter(col("lang") === "en").count().toDouble /
      real.count()
    assert(pickedEn > corpusEn, s"picked en=$pickedEn corpus en=$corpusEn")
  }

  test("domainCap: top-cap per domain by score, ties to lower id, skewed domain bounded") {
    val rows = Seq(
      // hot domain: 6 docs, scores with a tie at 30
      ("hot", 1L, 10.0), ("hot", 2L, 30.0), ("hot", 3L, 30.0),
      ("hot", 4L, 50.0), ("hot", 5L, 20.0), ("hot", 6L, 40.0),
      // small domain under the cap: everything survives
      ("tiny", 7L, 1.0), ("tiny", 8L, 2.0))
      .toDF("source", "doc_id", "score")
    val kept = Curation.domainCap(rows, "source", "doc_id", col("score"), cap = 3)
      .select("doc_id").as[Long].collect().toSet
    // hot: 50, 40, then the 30-tie resolves to the LOWER id (2, not 3)
    assert(kept == Set(4L, 6L, 2L, 7L, 8L), s"got $kept")
    // content-stable under repartition (the aggregate is order-independent)
    val again = Curation.domainCap(rows.repartition(7), "source", "doc_id",
      col("score"), cap = 3).select("doc_id").as[Long].collect().toSet
    assert(again == kept)
  }

  test("canonicalizeUrl: every rule, idempotence, and non-URL passthrough") {
    def canon(u: String): String =
      Seq(u).toDF("u").select(Curation.canonicalizeUrl(col("u")).as("c"))
        .as[String].collect().head
    val cases = Seq(
      // scheme/host case + default port + www + trailing slash; path case kept
      "HTTP://WWW.Ex.COM:80/CaseKept/" -> "http://ex.com/CaseKept",
      "https://ex.com:443/a" -> "https://ex.com/a",
      // non-default port survives; :80 is only default for http
      "https://ex.com:80/a" -> "https://ex.com:80/a",
      "https://ex.com:8443/x" -> "https://ex.com:8443/x",
      // fragment, utm stripping in first/middle/last/only position
      "http://ex.com/p?utm_source=a&x=1#f" -> "http://ex.com/p?x=1",
      "http://ex.com/p?x=1&utm_a=2&y=3" -> "http://ex.com/p?x=1&y=3",
      "http://ex.com/p?x=1&utm_a=2" -> "http://ex.com/p?x=1",
      "http://ex.com/p?utm_a=1&utm_b=2" -> "http://ex.com/p",
      // utm strip is anchored to a parameter BOUNDARY: a param whose name
      // merely contains "utm_" and a path segment spelled like one survive
      "http://ex.com/p?xutm_a=1" -> "http://ex.com/p?xutm_a=1",
      "http://ex.com/utm_campaign=spring" -> "http://ex.com/utm_campaign=spring",
      // empty path → '/', root slash kept
      "http://ex.com" -> "http://ex.com/",
      "http://ex.com/" -> "http://ex.com/",
      // non-URLs pass through trimmed, untouched
      "  not a url  " -> "not a url",
      "ftp://Keep.Me/X" -> "ftp://keep.me/X")
    cases.foreach { case (in, want) =>
      assert(canon(in) == want, s"canon($in)")
      // canonical form is a fixed point
      assert(canon(want) == want, s"idempotence of $want")
    }
  }

  test("calibrateScores: within-source deciles, exact-tie determinism, cross-source comparability") {
    // source A scores 1..10 (clean deciles); source B all-equal scores
    // (every cut the same value → strictly-greater rank 0 for all)
    val rows = ((1 to 10).map(i => ("A", i.toLong, i.toLong * 10)) ++
      (1 to 6).map(i => ("B", 100L + i, 7L)))
      .toDF("source", "doc_id", "score")
    val out = Curation.calibrateScores(rows, "source", "score", deciles = 10)
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("calibrated")).toMap
    // A: score 10·i sits above exactly i-1 cuts
    (1 to 10).foreach(i => assert(out(i.toLong) == i - 1L, s"A doc $i"))
    assert((1 to 6).forall(i => out(100L + i) == 0L), "all-tied source must rank 0")
  }

  test("tokenBudgetSelect: greedy prefix — the crossing doc is dropped, nothing back-fills") {
    val rows = Seq(
      // quality order: 1(q90,800), 2(q80,900), 3(q70,500), 4(q60,100)
      ("s", 1L, 800L, 90L), ("s", 2L, 900L, 80L),
      ("s", 3L, 500L, 70L), ("s", 4L, 100L, 60L))
      .toDF("source", "doc_id", "tokens", "q")
    val kept = Curation.tokenBudgetSelect(rows, "source", "tokens",
        col("q"), "doc_id", budgetTokens = 1800L)
      .select("doc_id").as[Long].collect().toSet
    // 800+900=1700 ≤ 1800; +500 crosses → doc 3 dropped, and doc 4 (100,
    // which WOULD fit) is dropped too: greedy prefix, not knapsack
    assert(kept == Set(1L, 2L), s"got $kept")
  }

  test("tokenBudgetSelect: ties on (quality, tiebreak) still accumulate one row at a time (ROWS frame)") {
    // Three rows fully tied on quality; tiebreak breaks the order. Under
    // the default RANGE frame, equal (quality, tiebreak) peers would sum
    // together; with distinct tiebreaks the frames differ only if the
    // implementation forgot rowsBetween — then an exact-tie on BOTH keys
    // is the killer, so include one: docs 2 and 2' can't exist (tiebreak
    // is the unique id), so pin the per-row prefix via distinct ids.
    val rows = Seq(
      ("s", 1L, 600L, 50L), ("s", 2L, 600L, 50L), ("s", 3L, 600L, 50L))
      .toDF("source", "doc_id", "tokens", "q")
    val kept = Curation.tokenBudgetSelect(rows, "source", "tokens",
        col("q"), "doc_id", budgetTokens = 1200L)
      .select("doc_id").as[Long].collect().toSet
    // greedy prefix: 600, 1200, then 1800 crosses → docs 1,2 kept
    assert(kept == Set(1L, 2L), s"got $kept")
  }

  test("spanCorrupt: sentinel substitution reconstructs the original text exactly") {
    val docs = spark.read.parquet(sfDir + "/documents.parquet").limit(120)
    val out = Curation.spanCorrupt(docs, "doc_id", "text",
        spanTokens = 3, ratePct = 40)
      .join(docs.select(col("doc_id"), col("text")), Seq("doc_id"))
      .collect()
    assert(out.nonEmpty)
    var corrupted = 0
    out.foreach { r =>
      val (n, inputs, targets, orig) =
        (r.getAs[Long]("n_spans"), r.getAs[String]("inputs"),
          r.getAs[String]("targets"), r.getAs[String]("text"))
      val origNorm = orig.trim.split("\\s+").filter(_.nonEmpty).mkString(" ")
      if (n == 0) {
        assert(inputs == origNorm && targets == "")
      } else {
        corrupted += 1
        // targets: '<Xj> span-tokens ... <Xn>' — parse spans by sentinel
        assert(targets.endsWith(s"<X$n>"), s"final sentinel: $targets")
        val spans = (0L until n).map { j =>
          val from = targets.indexOf(s"<X$j>")
          val to = targets.indexOf(s"<X${j + 1}>")
          assert(from >= 0 && to > from, s"sentinel order in: $targets")
          j -> targets.substring(from + s"<X$j>".length, to).trim
        }.toMap
        // substituting each sentinel's span back into inputs = original
        val rebuilt = spans.foldLeft(inputs) { case (acc, (j, span)) =>
          acc.replace(s"<X$j>", span)
        }.split("\\s+").filter(_.nonEmpty).mkString(" ")
        assert(rebuilt == origNorm, s"doc ${r.getAs[Long]("doc_id")}")
      }
    }
    // at 40% block rate over 100+ docs, corruption must actually happen
    assert(corrupted > 20, s"only $corrupted docs corrupted")
  }

  test("prioritySample: top-k by deterministic priority, estimates bounded, est near truth") {
    val docs = spark.read.parquet(sfDir + "/documents.parquet")
    val out = Curation.prioritySample(docs, "doc_id", col("n_chars"), k = 20)
      .collect()
    assert(out.length == 20)
    val tau = out.head.getAs[Long]("tau")
    val trueTotal = out.head.getAs[Long]("true_total")
    out.foreach { r =>
      // every selected priority clears the threshold; estimates obey
      // the DLT form max(w, tau)
      assert(r.getAs[Long]("priority") >= tau)
      assert(r.getAs[Long]("w_hat") ==
        math.max(r.getAs[Long]("w"), tau))
      // priority = w * 2^32 div h >= w (h <= 2^32)
      assert(r.getAs[Long]("priority") >= r.getAs[Long]("w"))
    }
    // deterministic draw on fixed data: the subset-sum estimate's accuracy
    // is a constant of the fixture — assert a generous but meaningful band
    val est = out.map(_.getAs[Long]("w_hat")).sum
    assert(est > trueTotal / 3 && est < trueTotal * 3,
      s"estimate $est vs true $trueTotal outside 3x band")
    // re-running yields the identical sample (pure hash arithmetic)
    val again = Curation.prioritySample(docs.repartition(7), "doc_id",
      col("n_chars"), k = 20).collect()
    assert(again.map(_.getAs[Long]("item_id")).toSet ==
      out.map(_.getAs[Long]("item_id")).toSet)
  }

  test("prioritySample: unsaturated population has tau=0 and exact estimates") {
    // DLT defines tau = 0 when fewer than k+1 priorities exist: every
    // item is selected with certainty, so w_hat = w and the subset-sum
    // estimate is EXACT — min(priority) here would bias it upward
    val df = (1 to 10).map(i => (i.toLong, i * 7L)).toDF("doc_id", "n_chars")
    val out = Curation.prioritySample(df, "doc_id", col("n_chars"), k = 20)
      .collect()
    assert(out.length == 10)
    out.foreach { r =>
      assert(r.getAs[Long]("tau") == 0L)
      assert(r.getAs[Long]("w_hat") == r.getAs[Long]("w"))
    }
    assert(out.map(_.getAs[Long]("w_hat")).sum ==
      out.head.getAs[Long]("true_total"))
  }

  test("temperatureWeights: no BIGINT wraparound at alpha=1, 10M-doc stratum") {
    // u·10⁶ = 10¹⁹ wraps a BIGINT; the decimal ppm arithmetic must not
    val big = spark.range(0L, 10000000L, 1, 8).select(lit("en").as("lang"))
    val small = spark.range(0L, 100L, 1, 1).select(lit("fr").as("lang"))
    val out = Curation.temperatureWeights(big.union(small), "lang", 1.0)
      .collect().map(r => r.getAs[String]("lang") ->
        (r.getAs[Long]("n_docs"), r.getAs[Long]("weight_ppm"),
         r.getAs[Long]("boost_ppm"))).toMap
    val (nEn, wEn, bEn) = out("en")
    assert(nEn == 10000000L)
    assert(wEn > 999900L && wEn <= 1000000L, s"weight_ppm wrapped: $wEn")
    assert(bEn > 999900L && bEn <= 1000001L, s"boost_ppm wrapped: $bEn")
    val (_, wFr, bFr) = out("fr")
    assert(wFr >= 0L && bFr >= 0L)
  }

  test("prioritySampleByGroup: per-group saturation, unsaturated tau=0, DLT estimates") {
    import spark.implicits._
    val df = ((1 to 3).map(i => ("small", i.toLong, 10L)) ++
        (11 to 22).map(i => ("big", i.toLong, i.toLong)))
      .toDF("src", "id", "nch")
    val out = Curation.prioritySampleByGroup(df, "src", "id", col("nch"), k = 5)
      .collect().groupBy(_.getAs[String]("g"))
    // unsaturated group: everything selected, tau 0, estimates = raw weights
    val small = out("small")
    assert(small.length == 3)
    assert(small.forall(r => r.getAs[Long]("tau") == 0L &&
      r.getAs[Long]("w_hat") == r.getAs[Long]("w")))
    // saturated group: exactly k rows, all clearing tau, w_hat = max(w, tau)
    val big = out("big")
    assert(big.length == 5)
    val tau = big.head.getAs[Long]("tau")
    assert(tau > 0L)
    big.foreach { r =>
      assert(r.getAs[Long]("priority") >= tau)
      assert(r.getAs[Long]("w_hat") == math.max(r.getAs[Long]("w"), tau))
      assert(r.getAs[Long]("true_total") == (11 to 22).map(_.toLong).sum)
    }
  }

  test("shardManifest: checksum is order/partitioning-independent and shard-exhaustive") {
    val docs = spark.read.parquet(sfDir + "/documents.parquet")
    val m1 = Curation.shardManifest(
        Curation.shardPack(docs, "doc_id", col("n_chars"), 4))
      .collect().map(r => r.getAs[Long]("shard") ->
        (r.getAs[Long]("n_rows"), r.getAs[Long]("w_sum"),
         r.getAs[Long]("content_chk"))).toMap
    val m2 = Curation.shardManifest(
        Curation.shardPack(docs.repartition(7), "doc_id", col("n_chars"), 4))
      .collect().map(r => r.getAs[Long]("shard") ->
        (r.getAs[Long]("n_rows"), r.getAs[Long]("w_sum"),
         r.getAs[Long]("content_chk"))).toMap
    assert(m1 == m2, "manifest depended on input partitioning")
    assert(m1.keySet == Set(0L, 1L, 2L, 3L))
    assert(m1.values.map(_._1).sum == docs.count())
  }

  test("prioritySampleByGroup degenerates to the global sample on one group") {
    val docs = spark.read.parquet(sfDir + "/documents.parquet")
    val global = Curation.prioritySample(docs, "doc_id", col("n_chars"), k = 15)
      .collect().map(r => (r.getAs[Long]("item_id"), r.getAs[Long]("w_hat"),
        r.getAs[Long]("tau"))).toSet
    val oneGroup = Curation.prioritySampleByGroup(
        docs.withColumn("all", lit("all")), "all", "doc_id",
        col("n_chars"), k = 15)
      .collect().map(r => (r.getAs[Long]("item_id"), r.getAs[Long]("w_hat"),
        r.getAs[Long]("tau"))).toSet
    assert(oneGroup == global,
      "stratified sampler with one stratum diverged from the global sampler")
  }

  test("shardPack: exhaustive assignment, serpentine balance, partitioning-independent rank") {
    val docs = spark.read.parquet(sfDir + "/documents.parquet")
    val n = docs.count()
    val out = Curation.shardPack(docs, "doc_id", col("n_chars"), nShards = 4)
      .collect()
    assert(out.length == n)
    assert(out.forall(r => { val s = r.getAs[Long]("shard"); s >= 0 && s < 4 }))
    // serpentine LPT: per-shard weight sums within one max-weight of each other
    val sums = out.groupBy(_.getAs[Long]("shard")).view
      .mapValues(_.map(_.getAs[Long]("w")).sum).toMap
    val maxW = out.map(_.getAs[Long]("w")).max
    assert(sums.size == 4)
    assert(sums.values.max - sums.values.min <= maxW,
      s"imbalance ${sums.values.max - sums.values.min} > max weight $maxW")
    // the distributed rank (range partitions + offsets) is partitioning-
    // independent: a skewed repartition yields the identical assignment
    val again = Curation.shardPack(docs.repartition(3), "doc_id",
      col("n_chars"), nShards = 4)
      .collect().map(r => r.getAs[Long]("item_id") -> r.getAs[Long]("shard")).toMap
    out.foreach(r => assert(
      again(r.getAs[Long]("item_id")) == r.getAs[Long]("shard")))
  }

  test("blocklistFilter: occurrence counts, ppm density and both gate arms") {
    import spark.implicits._
    val docs = Seq(
      (1L, "Spam spam ham eggs"),          // 2 hits / 4 tokens = 500000 ppm
      (2L, "ham eggs toast"),              // clean
      (3L, "spam junk ham"),               // 2 distinct terms -> distinctCap
      (4L, "")                             // empty text edge
    ).toDF("doc_id", "text")
    val out = Curation.blocklistFilter(docs, "doc_id", "text",
        Seq("spam", "junk"), maxDensityPpm = 400000L, distinctCap = 2)
      .collect().map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(out(1L).getAs[Long]("n_hits") == 2L) // case-folded, per occurrence
    assert(out(1L).getAs[Long]("density_ppm") == 500000L)
    assert(out(1L).getAs[Boolean]("blocked"))
    assert(!out(2L).getAs[Boolean]("blocked"))
    assert(out(3L).getAs[Long]("n_distinct_hits") == 2L)
    assert(out(3L).getAs[Boolean]("blocked"), "distinct-cap arm must fire")
    assert(out(4L).getAs[Long]("n_tokens") == 0L
      && out(4L).getAs[Long]("density_ppm") == 0L
      && !out(4L).getAs[Boolean]("blocked"))
  }

  test("kAnonymityAudit: small classes and low diversity are flagged") {
    import spark.implicits._
    // class (10,A): 3 rows, 3 distinct sensitive; class (20,B): 1 row;
    // class (30,C): 4 rows but a single sensitive value
    val df = Seq(
      (10, "A", 1L), (10, "A", 2L), (10, "A", 3L),
      (20, "B", 9L),
      (30, "C", 5L), (30, "C", 5L), (30, "C", 5L), (30, "C", 5L)
    ).toDF("zip", "seg", "bal")
    val out = Curation.kAnonymityAudit(df, Seq("zip", "seg"), "bal", 3L, 2L)
      .collect().map(r => (r.getAs[Int]("zip"), r.getAs[String]("seg")) -> r)
      .toMap
    assert(out.size == 3)
    val a = out((10, "A"))
    assert(a.getAs[Long]("class_size") == 3L
      && !a.getAs[Boolean]("violates_k") && !a.getAs[Boolean]("violates_l"))
    assert(out((20, "B")).getAs[Boolean]("violates_k"))
    val c = out((30, "C"))
    assert(!c.getAs[Boolean]("violates_k"), "size 4 passes k=3")
    assert(c.getAs[Boolean]("violates_l"), "1 distinct sensitive fails l=2")
  }

  test("dpNoisyCounts: replayable noise, correct arithmetic, salt sensitivity") {
    import spark.implicits._
    val df = (Seq.fill(100)("a") ++ Seq.fill(50)("b") ++ Seq("c"))
      .toDF("g")
    def run(salt: String) = Curation.dpNoisyCounts(df, "g", salt, 1L, 2L)
      .collect().map(r => r.getAs[String]("g") ->
        ((r.getAs[Long]("true_count"), r.getAs[Double]("noise"),
          r.getAs[Double]("released")))).toMap
    val out = run("s1")
    assert(out("a")._1 == 100L && out("b")._1 == 50L && out("c")._1 == 1L)
    out.values.foreach { case (tc, noise, released) =>
      // released = count + noise at 6dp, and Laplace(b=2) noise at
      // 48-bit uniform resolution stays inside b*ln(2^49) ~ 68
      assert(math.abs(released - (tc + noise)) < 1e-9)
      assert(math.abs(noise) < 68.0, s"noise out of range: $noise")
    }
    // same salt -> bit-identical release (the replayability contract)
    assert(run("s1") == out)
    // different salt -> a different draw for at least one group
    val other = run("s2")
    assert(other.exists { case (g, (_, n, _)) => out(g)._2 != n })
  }
}
