package graft.streaming

import java.nio.file.Files
import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.SparkTestBase
import graft.reddit.PostsTable

class StreamsSpec extends SparkTestBase {
  import spark.implicits._

  test("hourlyCounts: watermarked window agg over a memory stream") {
    implicit val sql = spark.sqlContext
    val mem = MemoryStream[(Timestamp, String, Double)]
    val df = mem.toDF().toDF("ts", "event_type", "value")
    val q = Streams.hourlyCounts(df, watermark = "0 seconds")
      .writeStream.format("memory").queryName("hourly_test")
      .outputMode("append").start()
    mem.addData(
      (Timestamp.valueOf("2024-01-01 10:05:00"), "click", 1.0),
      (Timestamp.valueOf("2024-01-01 10:45:00"), "click", 2.0),
      (Timestamp.valueOf("2024-01-01 11:05:00"), "view", 3.0))
    q.processAllAvailable()
    // advance watermark past hour 10/11 so the windows close
    mem.addData((Timestamp.valueOf("2024-01-01 14:00:00"), "view", 0.0))
    q.processAllAvailable()
    val rows = spark.table("hourly_test")
      .select("event_type", "n_events", "sum_value").collect()
    q.stop()
    assert(rows.exists(r => r.getString(0) == "click" && r.getLong(1) == 2 && r.getDouble(2) == 3.0))
    assert(rows.exists(r => r.getString(0) == "view" && r.getLong(1) == 1))
  }

  test("upsertSink: micro-batches land as atomic upserts, last write wins") {
    implicit val sql = spark.sqlContext
    val root = Files.createTempDirectory("stream_posts").toString
    val ckpt = Files.createTempDirectory("stream_ckpt").toString
    val mem = MemoryStream[(String, Int)]
    val df = mem.toDF().toDF("id", "score")

    mem.addData(("a", 1), ("b", 2))
    Streams.upsertSink(df, root, "id", ckpt).start().awaitTermination()
    mem.addData(("b", 20), ("c", 30))
    Streams.upsertSink(df, root, "id", ckpt).start().awaitTermination()

    val table = PostsTable.read(spark, root).drop("extract_date")
    val m = table.collect().map(r => r.getString(0) -> r.getInt(1)).toMap
    assert(m == Map("a" -> 1, "b" -> 20, "c" -> 30))
  }

  test("upsertSink file stream: restart from checkpoint applies only new files, one commit") {
    // The crash-recovery contract behind q_stream_recovery, at unit scale:
    // query 1 consumes two files and terminates; a NEW query on the SAME
    // checkpoint (old files still present in the dir) must apply only the
    // third file — the overlapping key would regress 30 -> 20 if file 2
    // were replayed, and the version counter must advance exactly once.
    val root = Files.createTempDirectory("recov_posts").toString
    val ckpt = Files.createTempDirectory("recov_ckpt").toString
    val inDir = Files.createTempDirectory("recov_in").toString
    def addFile(name: String, rows: Seq[(String, Int)], mtime: Long): Unit = {
      val stage = Files.createTempDirectory("recov_stage").resolve("out")
      rows.toDF("id", "score").coalesce(1).write.parquet(stage.toString)
      val part = stage.toFile.listFiles().filter(_.getName.endsWith(".parquet")).head.toPath
      val dst = java.nio.file.Paths.get(inDir, name)
      java.nio.file.Files.move(part, dst)
      java.nio.file.Files.setLastModifiedTime(dst,
        java.nio.file.attribute.FileTime.fromMillis(mtime)): Unit
    }
    val schema = Seq(("x", 0)).toDF("id", "score").schema
    def run(): Unit = {
      val stream = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1).parquet(inDir)
      Streams.upsertSink(stream, root, "id", ckpt).start().awaitTermination()
    }
    addFile("f1.parquet", Seq(("a", 1), ("b", 2)), 1700000000000L)
    addFile("f2.parquet", Seq(("b", 20), ("c", 21)), 1700000060000L)
    run()
    val vBefore = PostsTable.currentVersion(root).get
    addFile("f3.parquet", Seq(("b", 30), ("d", 31)), 1700000120000L)
    run()
    assert(PostsTable.currentVersion(root).get - vBefore == 1,
      "restarted query must commit exactly one new version (only file 3)")
    val m = PostsTable.read(spark, root).drop("extract_date")
      .collect().map(r => r.getString(0) -> r.getInt(1)).toMap
    assert(m == Map("a" -> 1, "b" -> 30, "c" -> 21, "d" -> 31))
  }

  test("asofEnrich: stateful point-in-time enrichment across micro-batches") {
    implicit val sql = spark.sqlContext
    import Streams.{AsofInput, AsofEnriched}
    def t(s: String) = Timestamp.valueOf(s)
    val mem = MemoryStream[AsofInput]
    val q = Streams.asofEnrich(mem.toDS())
      .writeStream.format("memory").queryName("asof_stream")
      .outputMode("append").start()
    // batch 1: a probe before any dim, a dim update, a probe after it
    mem.addData(
      AsofInput(1L, t("2024-01-01 09:00:00"), Some(100L), None),
      AsofInput(1L, t("2024-01-01 10:00:00"), None, Some(1.5)),
      AsofInput(1L, t("2024-01-01 10:05:00"), Some(101L), None))
    q.processAllAvailable()
    // batch 2: state carries across batches; newer dim supersedes
    mem.addData(
      AsofInput(1L, t("2024-01-01 11:00:00"), None, Some(2.5)),
      AsofInput(1L, t("2024-01-01 11:30:00"), Some(102L), None),
      AsofInput(2L, t("2024-01-01 11:00:00"), Some(200L), None)) // key 2 has no dim
    q.processAllAvailable()
    q.stop()
    import spark.implicits._
    val rows = spark.table("asof_stream").as[AsofEnriched].collect()
      .map(r => r.event_id -> r.dim_value).toMap
    assert(rows(100L).isEmpty)         // no dim at-or-before 09:00
    assert(rows(101L).contains(1.5))   // same-batch dim applied
    assert(rows(102L).contains(2.5))   // cross-batch state + supersede
    assert(rows(200L).isEmpty)         // per-key isolation
  }

  test("asofEnrich: idle-key state expires by event-time timeout; malformed rows dropped") {
    implicit val sql = spark.sqlContext
    import Streams.{AsofInput, AsofEnriched}
    def t(s: String) = Timestamp.valueOf(s)
    val mem = MemoryStream[AsofInput]
    // zero watermark delay + 1h retention so expiry is observable in-test
    val q = Streams.asofEnrich(mem.toDS(), watermark = "0 seconds",
        retentionMs = 3600L * 1000)
      .writeStream.format("memory").queryName("asof_expiry")
      .outputMode("append").start()
    // b1: dim + probe for key 1; a malformed row (no event_id, no dim_value)
    // must be dropped, not kill the query
    mem.addData(
      AsofInput(1L, t("2024-01-01 10:00:00"), None, Some(1.5)),
      AsofInput(1L, t("2024-01-01 10:05:00"), Some(100L), None),
      AsofInput(1L, t("2024-01-01 10:06:00"), None, None))
    q.processAllAvailable()
    // b2: key 1 still within its lease (10:05 + 1h) — state alive
    mem.addData(AsofInput(1L, t("2024-01-01 10:30:00"), Some(101L), None))
    q.processAllAvailable()
    // b3: advance the watermark far past key 1's lease via another key;
    // b4: a key-1-less batch lets the timeout fire and reclaim the state
    mem.addData(AsofInput(99L, t("2024-01-01 13:00:00"), Some(900L), None))
    q.processAllAvailable()
    mem.addData(AsofInput(99L, t("2024-01-01 14:00:00"), Some(901L), None))
    q.processAllAvailable()
    // b5: key 1's state is gone — the probe re-starts with no dim value
    mem.addData(AsofInput(1L, t("2024-01-01 14:05:00"), Some(102L), None))
    q.processAllAvailable()
    q.stop()
    import spark.implicits._
    val rows = spark.table("asof_expiry").as[AsofEnriched].collect()
      .map(r => r.event_id -> r.dim_value).toMap
    assert(rows(100L).contains(1.5))  // in-lease enrichment
    assert(rows(101L).contains(1.5))  // still in-lease next batch
    assert(rows(102L).isEmpty)        // expired state was reclaimed
    assert(!rows.contains(0L) && rows.size == 5) // malformed row dropped
  }

  test("ingestDedup: continuous corpus growth dedups within and across micro-batches") {
    implicit val sql = spark.sqlContext
    import graft.operators.Dedup
    val seed = Seq((1L, "original corpus document")).toDF("doc_id", "text")
    Dedup.writeFingerprintIndex(seed, "doc_id", "text", "ingest_idx_test", buckets = 4)
    try {
      val ckpt = Files.createTempDirectory("ingest_ckpt").toString
      val mem = MemoryStream[(Long, String)]
      val accepted = scala.collection.mutable.ArrayBuffer.empty[Long]
      def run(): Unit = {
        val w = Streams.ingestDedup(mem.toDF().toDF("doc_id", "text"),
          "doc_id", "text", "ingest_idx_test", ckpt, buckets = 4) { fresh =>
          accepted ++= fresh.select("doc_id").collect().map(_.getLong(0))
        }
        w.start().awaitTermination()
      }
      // batch 1: one corpus dup, one new doc (+ its within-batch dup)
      mem.addData((2L, "original corpus document"), (3L, "a new doc"), (4L, "a new doc"))
      run()
      assert(accepted.sorted == Seq(3L))
      // batch 2: re-sending an accepted doc is now a corpus dup; new survives
      mem.addData((5L, "a new doc"), (6L, "genuinely fresh text"))
      run()
      assert(accepted.sorted == Seq(3L, 6L))
    } finally spark.sql("DROP TABLE IF EXISTS ingest_idx_test")
  }

  test("ingestDedup file stream: restart on the same checkpoint never re-reads processed files") {
    import graft.operators.Dedup
    val seed = Seq((1L, "seed corpus document")).toDF("doc_id", "text")
    Dedup.writeFingerprintIndex(seed, "doc_id", "text", "ingest_fidx_test", buckets = 4)
    try {
      val inDir = Files.createTempDirectory("fstream_in").toString
      val ckpt = Files.createTempDirectory("fstream_ckpt").toString
      def addFile(name: String, rows: Seq[(Long, String)], mtime: Long): Unit =
        graft.QueryCatalog.stageArrivalFile(
          rows.toDF("doc_id", "text"), inDir, name, mtime)
      val schema = seed.schema
      var invocations = 0
      val accepted = scala.collection.mutable.ArrayBuffer.empty[Long]
      def run(): Unit = {
        val stream = spark.readStream.schema(schema)
          .option("maxFilesPerTrigger", 1).parquet(inDir)
        Streams.ingestDedup(stream, "doc_id", "text", "ingest_fidx_test",
          ckpt, buckets = 4) { fresh =>
          invocations += 1
          accepted ++= fresh.select("doc_id").collect().map(_.getLong(0))
        }.start().awaitTermination()
      }
      addFile("a.parquet", Seq((2L, "doc alpha"), (3L, "doc beta")), 1700000000000L)
      run()
      assert(invocations == 1 && accepted.sorted == Seq(2L, 3L))
      // restart with one NEW file: the checkpoint's source log must skip
      // the processed file — exactly one new foreachBatch invocation
      addFile("b.parquet", Seq((4L, "doc gamma")), 1700000060000L)
      run()
      assert(invocations == 2, s"expected 1 new batch, saw ${invocations - 1}")
      assert(accepted.sorted == Seq(2L, 3L, 4L))
      // restart with nothing new: zero invocations
      run()
      assert(invocations == 2, "a no-new-data restart re-processed files")
    } finally spark.sql("DROP TABLE IF EXISTS ingest_fidx_test")
  }

  test("intervalJoin: cross-batch pairs, inclusive bound, late clicks dropped after eviction") {
    implicit val sql = spark.sqlContext
    val imps = MemoryStream[(Long, Long, Timestamp)]
    val clicks = MemoryStream[(Long, Long, Timestamp)]
    val q = Streams.intervalJoin(
        imps.toDF().toDF("imp_id", "imp_user", "imp_ts"),
        clicks.toDF().toDF("click_id", "click_user", "click_ts"),
        "imp_user", "imp_ts", "click_user", "click_ts", boundMs = 60000L)
      .select("imp_id", "click_id")
      .writeStream.format("memory").queryName("sj_test")
      .outputMode("append").start()
    def ts(s: String) = Timestamp.valueOf(s)
    // batch 1: same-batch pair (1,101); imp 2 on another user
    imps.addData((1L, 7L, ts("2024-01-01 10:00:00")), (2L, 8L, ts("2024-01-01 10:00:00")))
    clicks.addData((101L, 7L, ts("2024-01-01 10:00:30")))
    q.processAllAvailable()
    // batch 2: click exactly AT the bound (inclusive) joins the batch-1
    // imp — the cross-batch case that needs imp state alive; user-8 click
    // outside the bound must not pair
    clicks.addData((102L, 7L, ts("2024-01-01 10:01:00")),
      (103L, 8L, ts("2024-01-01 10:02:00")))
    q.processAllAvailable()
    // batch 3: advance both watermarks far past imp 1's eviction time,
    // then offer a click that WOULD have matched it — late, dropped
    imps.addData((3L, 9L, ts("2024-01-01 12:00:00")))
    clicks.addData((104L, 9L, ts("2024-01-01 12:00:00")))
    q.processAllAvailable()
    clicks.addData((105L, 7L, ts("2024-01-01 10:00:40")))
    q.processAllAvailable()
    val got = spark.table("sj_test").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    q.stop()
    assert(got == Set((1L, 101L), (1L, 102L), (3L, 104L)))

    // guard rails: shared column names and negative bounds are refused
    val df = imps.toDF().toDF("imp_id", "imp_user", "imp_ts")
    intercept[IllegalArgumentException](
      Streams.intervalJoin(df, df, "imp_user", "imp_ts", "imp_user", "imp_ts", 1L))
    intercept[IllegalArgumentException](
      Streams.intervalJoin(df,
        clicks.toDF().toDF("click_id", "click_user", "click_ts"),
        "imp_user", "imp_ts", "click_user", "click_ts", -1L))
  }

  test("intervalJoin left_outer: unmatched imps emit null-click rows on eviction") {
    implicit val sql = spark.sqlContext
    val imps = MemoryStream[(Long, Long, Timestamp)]
    val clicks = MemoryStream[(Long, Long, Timestamp)]
    val q = Streams.intervalJoin(
        imps.toDF().toDF("imp_id", "imp_user", "imp_ts"),
        clicks.toDF().toDF("click_id", "click_user", "click_ts"),
        "imp_user", "imp_ts", "click_user", "click_ts", boundMs = 60000L,
        joinType = "left_outer")
      .select("imp_id", "click_id")
      .writeStream.format("memory").queryName("sj_outer_test")
      .outputMode("append").start()
    def ts(s: String) = Timestamp.valueOf(s)
    // imp 1 converts; imp 2 never does — its null row may only appear
    // after the watermark passes imp_ts + bound
    imps.addData((1L, 7L, ts("2024-01-01 10:00:00")), (2L, 8L, ts("2024-01-01 10:00:00")))
    clicks.addData((101L, 7L, ts("2024-01-01 10:00:30")))
    q.processAllAvailable()
    val early = spark.table("sj_outer_test").collect()
    assert(!early.exists(r => r.getLong(0) == 2L),
      "unmatched imp emitted before its state could be evicted")
    // far-future events on BOTH sides advance the joint watermark → evict
    imps.addData((99L, 9L, ts("2024-01-01 12:00:00")))
    clicks.addData((199L, 9L, ts("2024-01-01 12:00:00")))
    q.processAllAvailable()
    val got = spark.table("sj_outer_test").collect()
      .map(r => (r.getLong(0), if (r.isNullAt(1)) None else Some(r.getLong(1)))).toSet
    q.stop()
    assert(got == Set((1L, Some(101L)), (2L, None), (99L, Some(199L))))
    intercept[IllegalArgumentException](
      Streams.intervalJoin(
        imps.toDF().toDF("imp_id", "imp_user", "imp_ts"),
        clicks.toDF().toDF("click_id", "click_user", "click_ts"),
        "imp_user", "imp_ts", "click_user", "click_ts", 1L,
        joinType = "full_outer"))
  }

  test("summaryUpsertSink: summary sidecar tracks the table through updates and group moves") {
    implicit val sql = spark.sqlContext
    val root = Files.createTempDirectory("ivm_tbl").toString + "/t"
    val ckpt = Files.createTempDirectory("ivm_ckpt").toString
    val mem = MemoryStream[(Long, String, Long)]
    val df = mem.toDF().toDF("id", "grp", "m")

    mem.addData((1L, "a", 10L), (2L, "a", 20L), (3L, "b", 30L))
    Streams.summaryUpsertSink(df, root, "id", "grp", "m", ckpt)
      .start().awaitTermination()
    // update 2 moves a → b; 4 inserts; group 'a' must LOSE 2's old value
    mem.addData((2L, "b", 25L), (4L, "c", 40L))
    Streams.summaryUpsertSink(df, root, "id", "grp", "m", ckpt)
      .start().awaitTermination()

    val summary = Streams.readSummary(spark, root, "grp")
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(summary == Map("a" -> (1L, 10L), "b" -> (2L, 55L), "c" -> (1L, 40L)),
      s"got $summary")
    // the sidecar must agree with a recompute over the committed table —
    // and with the table read at the SAME version (atomicity of the pair)
    val recomputed = graft.operators.Incremental.summarize(
        PostsTable.read(spark, root).drop("extract_date"), "grp", "m")
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(recomputed == summary)
  }

  test("summaryUpsertSink: over-cardinality group set fails the maxGroups budget loudly, not as an OOM") {
    implicit val sql = spark.sqlContext
    val root = Files.createTempDirectory("ivm_budget_tbl").toString + "/t"
    val ckpt = Files.createTempDirectory("ivm_budget_ckpt").toString
    val mem = MemoryStream[(Long, String, Long)]
    val df = mem.toDF().toDF("id", "grp", "m")
    // 5 distinct groups against a budget of 3 → the sink must refuse with
    // the budget message BEFORE collecting the summary to the driver
    mem.addData((1 to 5).map(i => (i.toLong, s"g$i", i.toLong)): _*)
    val ex = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      Streams.summaryUpsertSink(df, root, "id", "grp", "m", ckpt, maxGroups = 3)
        .start().awaitTermination()
    }
    val msg = Option(ex.getCause).map(_.getMessage).getOrElse(ex.getMessage)
    assert(msg.contains("maxGroups budget"), s"wrong failure: $msg")
  }

  test("summaryUpsertSink: a tab/newline in a group value is rejected at write time (TSV contract)") {
    implicit val sql = spark.sqlContext
    val root = Files.createTempDirectory("ivm_tsv_tbl").toString + "/t"
    val ckpt = Files.createTempDirectory("ivm_tsv_ckpt").toString
    val mem = MemoryStream[(Long, String, Long)]
    val df = mem.toDF().toDF("id", "grp", "m")
    mem.addData((1L, "ok", 1L), (2L, "bad\tgroup", 2L))
    val ex = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      Streams.summaryUpsertSink(df, root, "id", "grp", "m", ckpt)
        .start().awaitTermination()
    }
    val msg = Option(ex.getCause).map(_.getMessage).getOrElse(ex.getMessage)
    assert(msg.contains("tab/newline"), s"wrong failure: $msg")
  }

  test("entropyDriftSink: per-epoch ledger equals from-scratch prefix entropy; restart appends") {
    import graft.operators.TextAnalysis
    val inDir = Files.createTempDirectory("drift_in").toString
    val ckpt = Files.createTempDirectory("drift_ckpt").toString
    val root = Files.createTempDirectory("drift_root").toString
    val b0 = Seq((1L, "a", "w w x"), (2L, "b", "y z")).toDF("doc_id", "source", "text")
    val b1 = Seq((3L, "a", "x x q")).toDF("doc_id", "source", "text")
    def run(): Unit = {
      val stream = spark.readStream.schema(b0.schema)
        .option("maxFilesPerTrigger", 1).parquet(inDir)
      Streams.entropyDriftSink(stream, "source", "text", root, ckpt)
        .start().awaitTermination()
    }
    graft.QueryCatalog.stageArrivalFile(b0, inDir, "b0.parquet", 1700000000000L)
    run()
    // restart with a second file: the counts must MERGE, not restart
    graft.QueryCatalog.stageArrivalFile(b1, inDir, "b1.parquet", 1700000060000L)
    run()
    val ledger = Streams.readDriftLedger(spark, root)
      .collect().map(r => (r.getAs[Long]("epoch"), r.getAs[String]("g")) ->
        (r.getAs[Long]("n_tokens"), r.getAs[Long]("entropy_ubits"))).toMap
    // epoch 0 = batch 0 alone; epoch 1 = both batches — each must equal
    // the from-scratch sourceEntropy of that prefix
    val e0 = TextAnalysis.sourceEntropy(b0, "source", "text")
      .collect().map(r => r.getString(0) ->
        (r.getAs[Long]("n_tokens"), r.getAs[Long]("entropy_ubits"))).toMap
    val e1 = TextAnalysis.sourceEntropy(b0.unionByName(b1), "source", "text")
      .collect().map(r => r.getString(0) ->
        (r.getAs[Long]("n_tokens"), r.getAs[Long]("entropy_ubits"))).toMap
    assert(ledger((0L, "a")) == e0("a") && ledger((0L, "b")) == e0("b"))
    assert(ledger((1L, "a")) == e1("a") && ledger((1L, "b")) == e1("b"))
    // source b had no batch-1 docs: its counts persist across the epoch
    assert(ledger((1L, "b")) == ledger((0L, "b")))
  }

  test("hllRegisterSink: streamed registers equal the batch sketch; restart merges") {
    import spark.implicits._
    val inDir = Files.createTempDirectory("hll_in").toString
    val ckpt = Files.createTempDirectory("hll_ckpt").toString
    val root = Files.createTempDirectory("hll_root").toString + "/t"
    val b0 = spark.range(0, 400).select(col("id").as("k"))
    val b1 = spark.range(300, 700).select(col("id").as("k"))
    PostsTable.create(
      spark.range(0, 32).select(col("id").as("bucket"), lit(0L).as("reg")),
      root, "bucket")
    def run(): Unit = {
      val stream = spark.readStream.schema(b0.schema)
        .option("maxFilesPerTrigger", 1).parquet(inDir)
      Streams.hllRegisterSink(stream, "k", 32, root, ckpt)
        .start().awaitTermination()
    }
    def regs() = PostsTable.read(spark, root)
      .collect().map(r => r.getAs[Long]("bucket") -> r.getAs[Long]("reg")).toMap
    graft.QueryCatalog.stageArrivalFile(b0, inDir, "b0.parquet", 1700000000000L)
    run()
    val afterB0 = regs()
    val batch0 = graft.operators.Sketches.hllRegisters(b0, "k", 32)
      .collect().map(r => r.getAs[Long]("bucket") -> r.getAs[Long]("reg")).toMap
    assert(afterB0 == batch0, "streamed state must equal the batch sketch")
    // restart from the checkpoint with a new arrival: registers MERGE
    // (monotone max), they don't restart from zero
    graft.QueryCatalog.stageArrivalFile(b1, inDir, "b1.parquet", 1700000060000L)
    run()
    val batchAll = graft.operators.Sketches
      .hllRegisters(b0.unionByName(b1), "k", 32)
      .collect().map(r => r.getAs[Long]("bucket") -> r.getAs[Long]("reg")).toMap
    assert(regs() == batchAll)
    assert(regs().size == 32, "table stays dense across upserts")
  }

  test("staticEnrich: dim snapshot pins at query start — version commits are safe, not visible") {
    implicit val sql = spark.sqlContext
    import spark.implicits._
    // the SAFE refresh vehicle: a versioned table — committing v1 mid-query
    // must neither crash the stream (old files survive vacuum) nor leak
    // into the pinned snapshot
    val root = Files.createTempDirectory("se_dim_tbl").toString + "/t"
    PostsTable.create(Seq((1L, "v1")).toDF("user_id", "tier"), root, key = "user_id")
    val mem = MemoryStream[(Long, Long)]
    val stream = mem.toDF().toDF("event_id", "user_id")
    val dim = PostsTable.read(spark, root).drop("extract_date")
    val q = Streams.staticEnrich(stream, dim, "user_id")
      .writeStream.format("memory").queryName("se_snapshot_test")
      .outputMode("append").start()
    mem.addData((10L, 1L))
    q.processAllAvailable()
    PostsTable.upsert(spark, root, Seq((1L, "v2")).toDF("user_id", "tier"),
      key = "user_id")
    mem.addData((11L, 1L))
    q.processAllAvailable()
    val rows = spark.table("se_snapshot_test")
      .collect().map(r => r.getAs[Long]("event_id") -> r.getAs[String]("tier")).toMap
    q.stop()
    // both batches read the ORIGINAL snapshot: stale-consistent, never torn
    assert(rows == Map(10L -> "v1", 11L -> "v1"), s"got $rows")
    // a fresh read AFTER the commit sees v2 — the refresh path is a
    // foreachBatch re-read, not a silent in-query swap
    val now = PostsTable.read(spark, root).select("tier").as[String].collect().toSeq
    assert(now == Seq("v2"))
  }

  test("staticEnrich: per-batch broadcast join, no streaming state, unmatched keys null") {
    implicit val sql = spark.sqlContext
    val mem = MemoryStream[(Long, Long)]
    val stream = mem.toDF().toDF("event_id", "user_id")
    val dim = Seq((1L, "gold"), (2L, "silver")).toDF("user_id", "tier")
    val q = Streams.staticEnrich(stream, dim, "user_id")
      .writeStream.format("memory").queryName("static_enrich_test")
      .outputMode("append").start()
    mem.addData((10L, 1L), (11L, 3L))
    q.processAllAvailable()
    mem.addData((12L, 2L))
    q.processAllAvailable()
    // NO stateful operators: the join must not buffer either side
    assert(q.lastProgress.stateOperators.isEmpty,
      s"stream-static join grew state: ${q.lastProgress.json}")
    val rows = spark.table("static_enrich_test")
      .collect().map(r => r.getAs[Long]("event_id") -> Option(r.getAs[String]("tier"))).toMap
    q.stop()
    // cross-batch: both batches enriched; absent dim key → null, row kept
    assert(rows == Map(10L -> Some("gold"), 11L -> None, 12L -> Some("silver")))
  }

  test("curation ops are streaming-safe: PII scrub + split + quality gate on a live stream") {
    // splitAssign / piiScrubText / tokenCount are stateless row expressions,
    // so the same curation code runs unchanged under readStream — the shape
    // a continuously-ingesting training-data pipeline needs
    implicit val sql = spark.sqlContext
    val mem = MemoryStream[(Long, String)]
    val df = mem.toDF().toDF("doc_id", "text")
    val curated = graft.operators.Curation.splitAssign(
      df.select(col("doc_id"),
        graft.operators.Curation.piiScrubText(col("text")).as("text"),
        graft.operators.TextAnalysis.tokenCount(col("text")).as("n_tokens")),
      "doc_id")
    val q = curated.writeStream.format("memory").queryName("curation_stream")
      .outputMode("append").start()
    mem.addData((1L, "reach me at a@b.co today"), (2L, "plain text here"))
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("curation_stream").orderBy("doc_id").collect()
    assert(rows.length == 2)
    assert(rows(0).getAs[String]("text") == "reach me at <EMAIL> today")
    assert(rows(0).getAs[Int]("n_tokens") == 5)
    assert(Set("train", "val", "test").contains(rows(0).getAs[String]("split")))
  }

  test("runningLedger (transformWithState): cumulative per-key state across micro-batches") {
    implicit val sql = spark.sqlContext
    val provKey = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(provKey)
    spark.conf.set(provKey,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val mem = MemoryStream[(Long, Long)]
      val typed = mem.toDF().toDF("user_id", "cents").as[Streams.LedgerEvent]
      val ckpt = Files.createTempDirectory("tws_ckpt").toString
      val q = Streams.runningLedger(typed)
        .writeStream.format("memory").queryName("tws_ledger_test")
        .option("checkpointLocation", ckpt)
        .outputMode("append").start()
      mem.addData((1L, 10L), (1L, 5L), (2L, 7L))
      q.processAllAvailable()
      mem.addData((1L, 100L))
      q.processAllAvailable()
      val rows = spark.table("tws_ledger_test")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      q.stop()
      // batch 1: user 1 (2 events, 15), user 2 (1 event, 7);
      // batch 2 touches only user 1 → cumulative (3 events, 115)
      assert(rows == Set((1L, 2L, 15L), (2L, 1L, 7L), (1L, 3L, 115L)))
    } finally prev match {
      case Some(v) => spark.conf.set(provKey, v)
      case None => spark.conf.unset(provKey)
    }
  }
}
