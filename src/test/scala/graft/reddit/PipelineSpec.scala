package graft.reddit

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._

import graft.SparkTestBase

/** End-to-end golden test: the whole DAG on the reference's own fixtures,
  * including the U3 idempotence / last-write-wins guarantees the reference
  * documents (s3_to_redshift.py:9-15). The fixtures are not in the
  * repository: a case that reads them is cancelled where they are not
  * mounted. Each case whose assertions hold for any two overlapping daily
  * extracts runs a second time, named "... (generated extract)", on two
  * generated days ([[RefExtract]]: 10 then 30 ids, two shared).
  */
class PipelineSpec extends SparkTestBase {

  private val fixA = "/root/reference/tmp/20250320.csv" // earlier batch
  private val fixB = "/root/reference/tmp/20250324.csv" // later batch, overlapping ids

  private def assumeFixtures(): Unit =
    assume(Seq(fixA, fixB).forall(f => Files.isReadable(Paths.get(f))),
      s"$fixA and $fixB are not in the repository")

  /** Registers `name` on the reference's earlier and later batch and `name
    * (generated extract)` on two generated days, with the same body.
    */
  private def testOnFixturesAndExtract(name: String)(body: (String, String) => Unit): Unit = {
    test(name) { assumeFixtures(); body(fixA, fixB) }
    test(s"$name (generated extract)") { body(RefExtract.earlier(), RefExtract.later()) }
  }

  test("pipeline run: ingest → upsert → models, twice with overlap") {
    assumeFixtures()
    val root = Files.createTempDirectory("posts_table").toString

    val r1 = Pipeline.run(spark, fixA, root)
    assert(r1.tableRows == r1.loaded)

    val r2 = Pipeline.run(spark, fixB, root)
    val table = PostsTable.read(spark, root)
    // upsert invariant: id is unique
    assert(table.count() == table.select("id").distinct().count())
    assert(r2.tableRows >= r2.loaded)

    // last-write-wins: overlapping ids carry the later batch's score
    val later = CsvReddit.read(spark, fixB).select(col("id"), col("score").as("s2"))
    val joined = table.join(later, "id")
      .filter(col("score") =!= col("s2")).count()
    assert(joined == 0L)

    // golden values (pandas oracle over the same fixtures, upsert
    // semantics: fixA's 10 records minus the 2-id overlap, plus fixB's
    // 183 → 191 rows, all r/stocks)
    val sum = r2.summary.collect()
    assert(sum.length == 1)
    val row = sum.head
    assert(row.getAs[String]("subreddit") == "stocks")
    assert(row.getAs[Long]("post_count") == 191L)
    assert(math.abs(row.getAs[Double]("avg_score") - 586.17801) < 1e-4)
    assert(math.abs(row.getAs[Double]("avg_comments") - 111.623037) < 1e-4)
    assert(row.getAs[Int]("max_score") == 14587)
    assert(r2.summary.columns.toSeq ==
      Seq("subreddit", "post_count", "avg_score", "avg_comments", "max_score"))
  }

  testOnFixturesAndExtract(
      "upsert is idempotent: re-running the same batch changes nothing") { (earlier, later) =>
    val root = Files.createTempDirectory("posts_table2").toString
    Pipeline.run(spark, later, root)
    val before = PostsTable.read(spark, root).orderBy("id").collect().toSeq
    Pipeline.run(spark, later, root)
    val after = PostsTable.read(spark, root).orderBy("id").collect().toSeq
    assert(before == after)
  }

  testOnFixturesAndExtract(
      "atomic versioning: CURRENT flips only after a full write; vacuum bounds versions") {
    (earlier, later) =>
    val root = Files.createTempDirectory("posts_table3").toString
    Pipeline.run(spark, earlier, root)
    val v1 = PostsTable.currentVersion(root)
    Pipeline.run(spark, later, root)
    val v2 = PostsTable.currentVersion(root)
    assert(v2.get > v1.get)
    // no _tmp_ leftovers, old versions vacuumed to ≤2
    val names = new java.io.File(root).list().toSeq
    assert(!names.exists(_.startsWith("_tmp_")))
    assert(names.count(_.startsWith("v_")) <= 2)
  }

  test("concurrent-writer guard: a live claim loses loudly, table readable throughout") {
    import java.nio.file.{Files => F, Paths}
    import spark.implicits._
    val root = Files.createTempDirectory("posts_table_cas").toString
    PostsTable.create(Seq((1L, "a"), (2L, "b")).toDF("id", "v"), root, key = "id")
    val before = PostsTable.read(spark, root).orderBy("id").collect().toSeq
    val nextV = PostsTable.currentVersion(root).get + 1
    // simulate writer A mid-commit: a claim held by a LIVE process (ours)
    val claim = Paths.get(root, s"_claim_v_$nextV")
    F.writeString(claim,
      s"${ProcessHandle.current().pid()}@${System.currentTimeMillis()}")
    val ex = intercept[IllegalStateException] {
      PostsTable.upsert(spark, root, Seq((2L, "B")).toDF("id", "v"), key = "id")
    }
    assert(ex.getMessage.contains("claimed by a live writer"), ex.getMessage)
    // the loser touched nothing: same version, same rows, still readable
    assert(PostsTable.currentVersion(root).contains(nextV - 1))
    assert(PostsTable.read(spark, root).orderBy("id").collect().toSeq == before)
    // writer A crashes (claim now names a dead pid): the next upsert heals
    // the stale claim and wins
    F.writeString(claim, s"999999999@${System.currentTimeMillis()}")
    PostsTable.upsert(spark, root, Seq((2L, "B")).toDF("id", "v"), key = "id")
    assert(PostsTable.currentVersion(root).contains(nextV))
    assert(PostsTable.read(spark, root).orderBy("id").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq == Seq((1L, "a"), (2L, "B")))
    // successful commits release their claim — nothing accumulates
    assert(!new java.io.File(root).list().exists(_.startsWith("_claim_")))
  }

  test("concurrent-writer guard: two racing upserts — one wins or both serialize, never silent loss") {
    import spark.implicits._
    val root = Files.createTempDirectory("posts_table_race").toString
    PostsTable.create(Seq((1L, "a")).toDF("id", "v"), root, key = "id")
    val gate = new java.util.concurrent.CountDownLatch(1)
    val outcomes = new java.util.concurrent.ConcurrentLinkedQueue[String]
    def racer(tag: String, rows: Seq[(Long, String)]): Thread = {
      val th = new Thread(() => {
        gate.await()
        try {
          PostsTable.upsert(spark, root, rows.toDF("id", "v"), key = "id")
          outcomes.add(s"$tag:ok")
        } catch {
          // claim loss (IllegalState) or the post-claim monotonicity check
          // (moveIntoVersion's require) — both are the LOUD failure modes
          case e @ (_: IllegalStateException | _: IllegalArgumentException)
              if e.getMessage.contains("claim") || e.getMessage.contains("committed") =>
            outcomes.add(s"$tag:loud")
        }
        (): Unit
      })
      th.start(); th
    }
    val a = racer("a", Seq((2L, "x")))
    val b = racer("b", Seq((3L, "y")))
    gate.countDown(); a.join(120000); b.join(120000)
    val got = {
      import scala.jdk.CollectionConverters._
      outcomes.iterator().asScala.toSet
    }
    assert(got.count(_.endsWith(":ok")) >= 1, s"no writer succeeded: $got")
    // whatever interleaving happened, the table is consistent: readable,
    // contains key 1, and every winner's write is present
    val live = PostsTable.read(spark, root).orderBy("id").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(live.contains((1L, "a")))
    if (got("a:ok")) assert(live.contains((2L, "x")), s"a won but lost data: $live")
    if (got("b:ok")) assert(live.contains((3L, "y")), s"b won but lost data: $live")
    assert(got.size == 2, s"a racer neither won nor failed loudly: $got")
  }

  test("stale-claim takeover is atomic: N racing healers admit exactly one") {
    import java.nio.file.{Files => F, Paths}
    // the TOCTOU this pins: a check-then-delete heal lets a slow healer
    // delete a fast healer's freshly created LIVE claim, silently admitting
    // two writers; the atomic move-aside must admit exactly one
    val root = Files.createTempDirectory("posts_table_heal_race").toString
    for (trial <- 0 until 20) {
      val v = 100L + trial
      F.writeString(Paths.get(root, s"_claim_v_$v"),
        s"999999999@${System.currentTimeMillis()}") // dead-pid stale claim
      val n = 8
      val gate = new java.util.concurrent.CountDownLatch(1)
      val wins = new java.util.concurrent.atomic.AtomicInteger(0)
      val threads = (0 until n).map { _ =>
        val th = new Thread(() => {
          gate.await()
          try { PostsTable.claimVersion(root, v); wins.incrementAndGet() }
          catch { case _: IllegalStateException => () }
          (): Unit
        })
        th.start(); th
      }
      gate.countDown(); threads.foreach(_.join(30000))
      assert(wins.get() == 1, s"trial $trial: ${wins.get()} healers won the takeover")
      // the winner's claim survives (no loser deleted it) and names a live pid
      val body = F.readString(Paths.get(root, s"_claim_v_$v"))
      assert(body.takeWhile(_ != '@').toLong == ProcessHandle.current().pid())
      // no stale tombs accumulate
      assert(!new java.io.File(root).list().exists(_.contains("_stale_")))
      F.deleteIfExists(Paths.get(root, s"_claim_v_$v"))
      (): Unit
    }
  }

  testOnFixturesAndExtract(
      "partition-level upsert: unaffected date partitions hard-link, not copy") {
    (earlier, later) =>
    import java.nio.file.{Files => F, Paths}
    val root = Files.createTempDirectory("posts_table5").toString
    Pipeline.run(spark, earlier, root) // v0: earlier's extract_date partition(s)
    val v1 = PostsTable.currentVersion(root).get

    // staged batch: ids disjoint from earlier (prefixed) on a brand-new date →
    // every existing partition's key range excludes them → all linked
    val staged = Enrich.stampExtraction(
      CsvReddit.read(spark, later).withColumn("id", concat(lit("zz"), col("id"))),
      java.sql.Timestamp.valueOf("2025-03-25 00:00:00"))
    PostsTable.upsert(spark, root, staged)
    val v2 = PostsTable.currentVersion(root).get
    assert(v2 == v1 + 1)

    val oldV = Paths.get(root, s"v_$v1")
    val newV = Paths.get(root, s"v_$v2")
    var checkedFiles = 0
    F.list(oldV).forEach { p =>
      val name = p.getFileName.toString
      if (name.startsWith("extract_date=")) {
        val np = newV.resolve(name)
        assert(F.isDirectory(np), s"unaffected partition $name missing from v_$v2")
        F.list(p).forEach { f =>
          val fn = f.getFileName.toString
          if (!fn.startsWith("_")) {
            assert(F.isSameFile(f, np.resolve(fn)),
              s"$name/$fn was copied, not hard-linked")
            checkedFiles += 1
          }
        }
      }
    }
    assert(checkedFiles > 0, "no partition files compared")
    // and the new date landed alongside
    assert(F.isDirectory(newV.resolve("extract_date=2025-03-25")))
    assert(PostsTable.read(spark, root).count() ==
      CsvReddit.read(spark, earlier).count() + staged.count())
  }

  testOnFixturesAndExtract(
      "upsert: a staging batch over the key budget fails fast, before any write") {
    (earlier, later) =>
    val root = Files.createTempDirectory("posts_table6").toString
    Pipeline.run(spark, earlier, root)
    val v1 = PostsTable.currentVersion(root).get
    val staged = Enrich.stampExtraction(
      CsvReddit.read(spark, later), // 183 or 30 distinct ids > budget of 10
      java.sql.Timestamp.valueOf("2025-03-26 00:00:00"))
    val e = intercept[IllegalArgumentException] {
      PostsTable.upsert(spark, root, staged, maxStagedKeys = 10)
    }
    assert(e.getMessage.contains("maxStagedKeys"))
    // nothing committed, no stray version dirs: the table is untouched
    assert(PostsTable.currentVersion(root).get == v1)
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(root, s"v_${v1 + 1}")))
  }

  testOnFixturesAndExtract(
      "runWithRetry: retries then surfaces the failure; succeeds when the run does") {
    (earlier, later) =>
    val root = Files.createTempDirectory("posts_retry").toString
    val t0 = System.nanoTime()
    intercept[Exception] {
      Pipeline.runWithRetry(spark, "/nonexistent/nope.csv", root,
        retries = 1, retryDelayMs = 50L)
    }
    assert((System.nanoTime() - t0) / 1e6 >= 50.0, "no retry delay observed")
    val r = Pipeline.runWithRetry(spark, earlier, root, retries = 1, retryDelayMs = 0L)
    assert(r.loaded > 0)
  }

  testOnFixturesAndExtract(
      "acceptance queries (query-test.py) run on the registered views") { (earlier, later) =>
    val root = Files.createTempDirectory("posts_table4").toString
    Pipeline.run(spark, later, root)
    val reddit = PostsTable.read(spark, root).drop("extract_date")
    Models.registerViews(spark, reddit)

    val top = Analytics.sqlTopPosts(spark, 2).collect()
    assert(top.length == 2)
    val dfTop = Analytics.topPosts(reddit, 2).collect()
    assert(top.map(_.getAs[String]("id")).toSeq == dfTop.map(_.getAs[String]("id")).toSeq)

    val stats = Analytics.sqlSubredditStats(spark).collect()
    assert(stats.nonEmpty) // 183 or 30 posts of r/stocks > HAVING 5
    val hours = Analytics.sqlScoreByHour(spark).collect()
    assert(hours.nonEmpty && hours.forall(r => r.getAs[Int]("hour_of_day") >= 0))

    // chart surface (query-test.py:72-79): A2 lands as one CSV artifact
    val chart = Files.createTempDirectory("chart").toString + "/a2"
    Analytics.exportChartCsv(Analytics.subredditStats(reddit), chart)
    val back = spark.read.option("header", "true").csv(chart)
    assert(back.count() == stats.length.toLong)
    assert(back.columns.toSeq ==
      Seq("subreddit", "post_count", "avg_score", "avg_comments"))

    // ...and as a rendered self-contained SVG (the matplotlib step's output)
    val svgPath = Files.createTempDirectory("chart_svg").toString + "/a2.svg"
    Analytics.exportChartSvg(Analytics.subredditStats(reddit),
      "subreddit", "avg_score", svgPath, title = "avg score by subreddit")
    val svg = new String(Files.readAllBytes(java.nio.file.Paths.get(svgPath)), "UTF-8")
    assert(svg.startsWith("<svg "))
    assert(svg.sliding(5).count(_ == "<rect") == stats.length + 1, // one bar per row + background
      s"expected ${stats.length} bars")
    assert(svg.contains("avg score by subreddit"))
  }

  test("time travel: a retained version reads back exactly; vacuum bounds history") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val root = Files.createTempDirectory("tt_spec").toString
    val v0 = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v")
    PostsTable.create(v0, root, key = "id")
    PostsTable.upsert(spark, root, Seq((2L, "B"), (4L, "d")).toDF("id", "v"), key = "id")
    val vs = PostsTable.versions(root)
    assert(vs == Seq(0L, 1L))
    val old = PostsTable.readVersion(spark, root, 0L)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(old == Map(1L -> "a", 2L -> "b", 3L -> "c"),
      "v0 must be untouched by the v1 commit")
    val cur = PostsTable.read(spark, root).drop("extract_date")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(cur == Map(1L -> "a", 2L -> "B", 3L -> "c", 4L -> "d"))
    // a second upsert vacuums v0 (keep=2): time travel past the window fails loudly
    PostsTable.upsert(spark, root, Seq((5L, "e")).toDF("id", "v"), key = "id")
    assert(PostsTable.versions(root) == Seq(1L, 2L))
    val ex = intercept[IllegalArgumentException] {
      PostsTable.readVersion(spark, root, 0L)
    }
    assert(ex.getMessage.contains("not retained"))
  }

  test("upsert pruning compares keys in the manifest's UTF-8 order") {
    // manifest bounds are Spark string min/max (UTF-8 byte order); in Java
    // String (UTF-16) order U+FFFF sorts above U+1F600, in UTF-8 below it
    import spark.implicits._
    val root = Files.createTempDirectory("posts_utf8").toString
    def day(d: String, rows: (String, String)*) =
      rows.map { case (id, v) => (id, v, java.sql.Timestamp.valueOf(s"$d 12:00:00")) }
        .toDF("id", "v", "extraction_timestamp")
    val (ffff, grin) = ("\uFFFF", "\uD83D\uDE00")
    PostsTable.upsert(spark, root, day("2025-03-18", ffff -> "old", grin -> "x"))
    PostsTable.upsert(spark, root, day("2025-03-18", "b" -> "y")) // bounds b..grin
    PostsTable.upsert(spark, root, day("2025-03-19", ffff -> "new"))
    val vs = PostsTable.read(spark, root).filter(col("id") === ffff)
      .select("v").as[String].collect().toSeq
    assert(vs == Seq("new"), "the 2025-03-18 partition kept a stale row")
  }

  test("the partition merge keeps rows whose key is NULL, as an anti-join does") {
    import spark.implicits._
    val root = Files.createTempDirectory("posts_null_key").toString
    val ts = java.sql.Timestamp.valueOf("2025-03-18 12:00:00")
    def day(rows: (Option[String], String)*) =
      rows.map { case (id, v) => (id, v, ts) }.toDF("id", "v", "extraction_timestamp")
    PostsTable.upsert(spark, root, day(None -> "keep", Some("a") -> "old"))
    PostsTable.upsert(spark, root, day(Some("a") -> "new"))
    val rows = PostsTable.read(spark, root).select("id", "v")
      .as[(Option[String], String)].collect().toSet
    assert(rows == Set((None, "keep"), (Some("a"), "new")))
  }

  test("a version's stored schema is the schema Spark infers from its directory") {
    import spark.implicits._
    import java.nio.file.Paths
    def inferred(root: String) = spark.read
      .parquet(Paths.get(root, s"v_${PostsTable.currentVersion(root).get}").toString).schema

    // partitioned: written by create, then by the partition merge
    val dated = Files.createTempDirectory("schema_dated").toString
    val ts = java.sql.Timestamp.valueOf("2025-03-18 12:00:00")
    PostsTable.upsert(spark, dated, Seq(("a", 1, ts)).toDF("id", "n", "extraction_timestamp"))
    assert(PostsTable.read(spark, dated).schema == inferred(dated))
    PostsTable.upsert(spark, dated, Seq(("b", 2, new java.sql.Timestamp(ts.getTime + 86400000L)))
      .toDF("id", "n", "extraction_timestamp"))
    assert(PostsTable.read(spark, dated).schema == inferred(dated))
    assert(PostsTable.read(spark, dated).schema.fieldNames.last == "extract_date")
    assert(PostsTable.readVersion(spark, dated, 0L).schema.fieldNames.toSeq ==
      Seq("id", "n", "extraction_timestamp"))

    // unpartitioned with a sidecar, which is carried forward
    val flat = Files.createTempDirectory("schema_flat").toString
    PostsTable.create(Seq((1L, "a")).toDF("id", "v"), flat, sidecar = Map("_graft_note" -> "n1"))
    PostsTable.upsert(spark, flat, Seq((2L, "b")).toDF("id", "v"))
    assert(PostsTable.read(spark, flat).schema == inferred(flat))
    assert(PostsTable.readSidecar(flat, "_graft_note").contains("n1"))
    assert(PostsTable.read(spark, flat).count() == 2L)
  }

  /** A reference-format daily CSV: one row per id stamped `date` (the
    * first with an empty, so NULL, subreddit), plus one row with too many
    * fields (a COPY reject).
    */
  private def dayCsv(dir: java.nio.file.Path, ids: Seq[String], date: String): String = {
    val p = dir.resolve(s"$date.csv")
    val rows = ids.zipWithIndex.map { case (id, i) =>
      Seq(id, s"title $i", s"${i * 7 % 50}", s"${i % 9}", s"user$i", s"$date 08:00:00",
        "http://x", "0.9", "False", "False", "False", "body", if (i == 0) "" else s"sub${i % 3}",
        s"$date 11:00:00.123456", "4", "False").mkString(",")
    }
    val reject = (Seq("badid") ++ Seq.fill(20)("x")).mkString(",")
    Files.writeString(p,
      (RedditSchema.columns.mkString(",") +: rows :+ reject).mkString("", "\n", "\n"))
    p.toString
  }

  test("a second-day Pipeline.run costs a pinned number of Spark jobs") {
    val dir = Files.createTempDirectory("posts_jobs")
    val root = dir.resolve("table").toString
    Pipeline.run(spark, dayCsv(dir, (1 to 30).map(i => f"a$i%03d"), "2025-03-20"), root)
    val day2 = dayCsv(dir, (21 to 50).map(i => f"a$i%03d"), "2025-03-21")

    val (r, jobs) = jobsDuring(Pipeline.run(spark, day2, root))
    // tableRows sums the mart's counts, the NULL-subreddit group included
    assert(r.loaded == 30L && r.tableRows == 50L && r.badRecords == 1L)
    assert(r.summary.filter(col("subreddit").isNull).head().getAs[Long]("post_count") == 2L)
    assert(PostsTable.read(spark, root).count() == r.tableRows)
    // reject check 1, key collect 2, version write 1 (the staged keys are
    // an IN-list filter, not a broadcast), bounds read-back 2, mart 2,
    // loaded count 2; no parquet schema inference (schemas come from a
    // footer), no distinct shuffle of the staged keys, no separate table
    // count
    assert(jobs == 10, s"second-day Pipeline.run ran $jobs Spark jobs")
  }
}
