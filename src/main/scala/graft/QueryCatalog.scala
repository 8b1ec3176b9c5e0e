package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators._
import graft.quality.DataQuality._
import graft.sources.Tables

/** The graded query surface: one entry per implemented operator from
  * SURVEY.md §2 plus the LLM-pipeline operators (dedup / similarity /
  * text-analysis / multimodal), each with an equivalent DuckDB oracle SQL
  * where the semantics are SQL-expressible.
  *
  * Determinism contract with the oracle (driver hashes values after sorting
  * columns by name):
  *  - every query ends in an ORDER BY with a unique tiebreaker;
  *  - computed integers are cast to BIGINT on both sides (DuckDB's
  *    length/count/year are BIGINT, Spark's are INT — casts make the schema
  *    compare exact);
  *  - float aggregates are rounded (4dp for avgs — accumulation-order error
  *    is ~1e-10 there; 2dp for big SUMs where error can reach ~1e-4; 6dp for
  *    cosines/jaccards which are O(1));
  *  - raw columns pass through unrounded (bit-exact both engines).
  */
object QueryCatalog {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables(s, dir, name)

  /** Generated DuckDB replay of [[graft.operators.Bpe.trainBatched]]:
    * `rounds` chained round blocks, each computing the weighted pair
    * counts of the current fenced word table, the top-`window` ranked
    * candidates, the non-interacting acceptance (an anti-join against
    * every higher-ranked candidate — the rule is deliberately
    * non-recursive so plain SQL can replay it), and the next word table
    * as a `list_reduce` fold of the accepted two-sided fenced replaces
    * in rank order. Word/candidate CTEs are MATERIALIZED: DuckDB
    * inlines CTEs by default and each round references its predecessor
    * twice, which would otherwise re-expand the whole chain
    * exponentially. Both engines cap at the same `rounds`, so a corpus
    * that cannot yield `merges` merges within the cap produces the same
    * shorter table on both sides.
    */
  private def bpeBatchedOracleSql(window: Int, rounds: Int, merges: Int,
                                  segment: Boolean = false): String = {
    val sb = new StringBuilder
    sb ++= s"""WITH tk AS (
              |  SELECT CASE WHEN trim(text) = '' THEN []::VARCHAR[]
              |       ELSE regexp_split_to_array(trim(text), '\\s+') END AS toks
              |  FROM documents),
              |wd AS (SELECT unnest(toks) AS word FROM tk),
              |wc AS (SELECT word, count(*) AS n FROM wd GROUP BY word),
              |w0 AS MATERIALIZED (SELECT chr(1) || array_to_string(
              |     regexp_split_to_array(word, ''), chr(2)||chr(1)) || chr(2) AS s, n FROM wc)""".stripMargin
    for (k <- 0 until rounds) {
      sb ++= s""",
                |a$k AS (SELECT list_filter(string_split(replace(s, chr(2), chr(1)), chr(1)), x -> x <> '') AS arr, n FROM w$k),
                |p$k AS (SELECT arr[i] AS l, arr[i+1] AS r, CAST(sum(n) AS BIGINT) AS pn
                |   FROM a$k, unnest(range(1, greatest(len(arr), 1))) u(i) GROUP BY 1, 2),
                |c$k AS MATERIALIZED (SELECT * FROM (SELECT l, r, pn,
                |     row_number() OVER (ORDER BY pn DESC, l, r) AS rk FROM p$k) WHERE rk <= $window),
                |acc$k AS MATERIALIZED (SELECT l, r, pn, rk,
                |     row_number() OVER (ORDER BY rk) AS wrk FROM c$k c
                |   WHERE NOT EXISTS (SELECT 1 FROM c$k h WHERE h.rk < c.rk AND
                |     (c.r = h.l OR c.l = h.r OR c.l = h.l||h.r OR c.r = h.l||h.r))),
                |l$k AS (SELECT coalesce(list(l||chr(3)||r ORDER BY rk), []::VARCHAR[]) AS ms FROM acc$k),
                |w${k + 1} AS MATERIALIZED (SELECT list_reduce(list_prepend(w$k.s, l$k.ms),
                |     (acc, x) -> replace(acc,
                |       chr(1)||split_part(x, chr(3), 1)||chr(2)||chr(1)||split_part(x, chr(3), 2)||chr(2),
                |       chr(1)||split_part(x, chr(3), 1)||split_part(x, chr(3), 2)||chr(2))) AS s, n
                |   FROM w$k, l$k)""".stripMargin
    }
    val unions = (0 until rounds)
      .map(k => s"SELECT $k AS round, wrk, l, r, pn FROM acc$k")
      .mkString("\nUNION ALL ")
    if (!segment) {
      sb ++= s""",
                |m AS ($unions)
                |SELECT CAST(row_number() OVER (ORDER BY round, wrk) - 1 AS BIGINT) AS rank,
                |  CAST(round AS INT) AS round, l AS "left", r AS "right", pn AS pair_count
                |FROM m ORDER BY rank LIMIT $merges""".stripMargin
    } else {
      // finisher 2: SEGMENT the corpus with the just-learned table — the
      // learned merges fold over every document word in rank order (the
      // same two-sided fenced replace), yielding per-doc subword counts
      sb ++= s""",
                |m AS ($unions),
                |ml AS (SELECT coalesce(list(l||chr(3)||r ORDER BY round, wrk), []::VARCHAR[]) AS ms
                |  FROM (SELECT * FROM m ORDER BY round, wrk LIMIT $merges)),
                |dtok AS (SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\\s+')) AS wrd
                |  FROM documents WHERE trim(text) <> ''),
                |dseg AS (SELECT doc_id, list_reduce(list_prepend(
                |     chr(1) || array_to_string(regexp_split_to_array(wrd, ''), chr(2)||chr(1)) || chr(2),
                |     ml.ms),
                |     (acc, x) -> replace(acc,
                |       chr(1)||split_part(x, chr(3), 1)||chr(2)||chr(1)||split_part(x, chr(3), 2)||chr(2),
                |       chr(1)||split_part(x, chr(3), 1)||split_part(x, chr(3), 2)||chr(2))) AS sg
                |  FROM dtok, ml)
                |SELECT doc_id,
                |  CAST(sum(len(list_filter(string_split(replace(sg, chr(2), chr(1)), chr(1)), x -> x <> '')))
                |    AS BIGINT) AS n_subwords,
                |  CAST(count(*) AS BIGINT) AS n_words
                |FROM dseg GROUP BY doc_id ORDER BY doc_id""".stripMargin
    }
    sb.toString
  }

  /** Temp dir for queries that materialize an intermediate layout (z-order
    * copy, JSONL round-trip, pipeline warehouse). Deleted recursively at
    * JVM exit so repeated verify runs don't accumulate table-sized copies
    * in /tmp (deleteOnExit alone can't remove non-empty directories). ONE
    * static hook drains a queue of registered paths — a hook thread per
    * call would accumulate unboundedly across catalog re-runs in a
    * long-lived JVM.
    */
  private val scratchDirs = new java.util.concurrent.ConcurrentLinkedQueue[java.nio.file.Path]
  private lazy val scratchHook: Unit =
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      def rm(p: java.io.File): Unit = {
        Option(p.listFiles()).foreach(_.foreach(rm))
        p.delete(): Unit
      }
      var d = scratchDirs.poll()
      while (d != null) { rm(d.toFile); d = scratchDirs.poll() }
    }))
  private def scratchDir(prefix: String): String = {
    scratchHook
    // scratch prefers tmpfs (/dev/shm): checkpoint fsyncs and arrival-
    // file round-trips are pure fixed cost in the graded streaming/index
    // queries, and on a disk-backed /tmp they dominate the micro-batch
    // machinery (~3 s/query measured). RAM-backed scratch changes no
    // semantics — every byte is still written, moved and re-read through
    // the same code paths. Stale sweep first: a kill -9'd JVM never runs
    // the shutdown hook, and tmpfs leaks are RAM leaks.
    val shm = java.nio.file.Paths.get("/dev/shm")
    val dir =
      if (java.nio.file.Files.isWritable(shm)) {
        val root = shm.resolve("graft_scratch")
        // Each JVM owns pid_<pid>/ and only ever sweeps roots whose
        // owning process is DEAD (liveness via ProcessHandle) — a
        // top-level mtime cutoff is unsafe because directory mtime does
        // not track nested writes, so an age sweep could rip a
        // concurrent long-lived JVM's still-active checkpoint out from
        // under it mid-run. PID reuse only delays cleanup (a live
        // unrelated pid keeps the dir), never deletes live data.
        java.nio.file.Files.createDirectories(root)
        def rm(p: java.io.File): Unit = {
          Option(p.listFiles()).foreach(_.foreach(rm))
          p.delete(): Unit
        }
        val legacyCutoff = System.currentTimeMillis() - 24L * 3600 * 1000
        Option(root.toFile.listFiles()).foreach(_.foreach { f =>
          f.getName match {
            case s if s.startsWith("pid_") =>
              val alive = scala.util.Try(s.drop(4).toLong).toOption
                .exists(p => ProcessHandle.of(p).isPresent)
              if (!alive) rm(f)
            case _ => // pre-pid-scheme leftover: sweep only when very old
              if (f.lastModified() < legacyCutoff) rm(f)
          }
        })
        val mine = root.resolve(s"pid_${ProcessHandle.current().pid()}")
        java.nio.file.Files.createDirectories(mine)
        scratchDirs.add(mine) // exit hook removes the whole pid root
        java.nio.file.Files.createTempDirectory(mine, prefix)
      } else java.nio.file.Files.createTempDirectory(prefix)
    scratchDirs.add(dir)
    dir.toString
  }

  /** Write `df` as ONE parquet file named `name` inside `inDir`, with a
    * pinned modification time — the arrival-file writer behind the
    * streaming queries: the file source orders micro-batches by mtime, so
    * the pin is the batch-order contract, not cosmetics.
    */
  private[graft] def stageArrivalFile(df: DataFrame, inDir: String,
                                      name: String, mtimeMs: Long): Unit = {
    // staging dir registered via scratchDir so the shutdown hook removes it
    val stage = java.nio.file.Paths.get(scratchDir("stage_arrival")).resolve("out")
    df.coalesce(1).write.parquet(stage.toString)
    // listFiles (not Files.list) — the stream variant leaks a file
    // descriptor per arrival file unless explicitly closed
    val part = stage.toFile.listFiles()
      .filter(_.getName.endsWith(".parquet")).head.toPath
    val dst = java.nio.file.Paths.get(inDir, name)
    java.nio.file.Files.move(part, dst)
    java.nio.file.Files.setLastModifiedTime(dst,
      java.nio.file.attribute.FileTime.fromMillis(mtimeMs)): Unit
  }

  /** Shared body of q_stream_join / q_stream_join_outer: impressions and
    * clicks (disjoint event splits) as two independent file streams in
    * time-half arrival files, interval-joined on user within a 6-hour
    * bound under AvailableNow, output read back ordered. The outer run
    * appends a 3rd arrival file to BOTH sides — one far-future flush pair
    * on a sentinel user (filtered from the output) — because unmatched
    * left rows only emit when the watermark passes `imp_ts + bound` and
    * evicts them: without the flush the tail impressions stay in the
    * checkpoint and the batch oracle can never match. TWO data files per
    * side (not three): the multi-batch state-carry path is exercised the
    * moment there is more than one micro-batch, the drained output is
    * batching-invariant (AvailableNow processes everything), and each
    * extra micro-batch costs a full set of per-partition state-store
    * lifecycles — pure fixed cost that dominated the graded wall at 3-4
    * files and made the bench row fragile under host noise (r17: 17.2 s
    * driver vs 6.5 s clean on identical code).
    */
  private def runStreamIntervalJoin(s: SparkSession, d: String,
                                    joinType: String): DataFrame = {
    val ev = t(s, d, "events")
      .select(col("event_id").cast("long").as("event_id"),
        col("user_id").cast("long").as("user_id"),
        col("ts").cast("timestamp").as("ts"))
    val imps = ev.filter(col("event_id") % 3 === 0)
      .select(col("event_id").as("imp_id"), col("user_id").as("imp_user"),
        col("ts").as("imp_ts"))
    val clicks = ev.filter(col("event_id") % 3 =!= 0)
      .select(col("event_id").as("click_id"), col("user_id").as("click_user"),
        col("ts").as("click_ts"))
    val Array(minMs, maxMs) = ev
      .agg(min(unix_millis(col("ts"))), max(unix_millis(col("ts"))))
      .collect().head.toSeq.map(_.asInstanceOf[Long]).toArray
    val cut1 = minMs + (maxMs - minMs) / 2
    val flushMs = maxMs + 30L * 24 * 3600 * 1000
    val impDir = scratchDir("sj_imp")
    val clickDir = scratchDir("sj_click")
    Seq((impDir, imps, "imp_ts"), (clickDir, clicks, "click_ts")).foreach {
      case (dir, df, tc) =>
        val ms = unix_millis(col(tc))
        val halves = Seq(df.filter(ms < cut1), df.filter(ms >= cut1))
        val batches =
          if (joinType == "inner") halves
          else halves :+ df.sparkSession.range(1)
            .select(lit(-1L).as(df.columns(0)), lit(-1L).as(df.columns(1)),
              timestamp_millis(lit(flushMs)).as(tc))
        batches.zipWithIndex.foreach { case (b, i) =>
          stageArrivalFile(b, dir, s"batch$i.parquet",
            1700000000000L + i * 60000L)
        }
    }
    val outDir = scratchDir("sj_out")
    // state-store sizing: a stream-stream join keeps FOUR state stores per
    // side per partition, instantiated per micro-batch — at the graded
    // volume (100k events, 3-4 batches) 32 partitions is ~1k store
    // lifecycles of pure fixed cost (measured 16-20 s; 8 partitions runs
    // the same rows in a fraction). The conf is scoped to THIS query's
    // fresh checkpoint and restored — state partition count is pinned at
    // first checkpoint, so the setting can't leak into other queries'
    // stores. At production volume you size this to throughput, exactly
    // like batch shuffle partitions.
    withShufflePartitions(s, 8) {
      val q = graft.streaming.Streams.intervalJoin(
          s.readStream.schema(imps.schema)
            .option("maxFilesPerTrigger", 1).parquet(impDir),
          s.readStream.schema(clicks.schema)
            .option("maxFilesPerTrigger", 1).parquet(clickDir),
          "imp_user", "imp_ts", "click_user", "click_ts",
          boundMs = 6L * 3600 * 1000, joinType = joinType)
        .writeStream.format("parquet")
        .option("path", outDir)
        .option("checkpointLocation", scratchDir("sj_ckpt"))
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    Tables.parquet(s, outDir)
      .filter(col("imp_id") =!= -1L)
      .select(col("imp_id"), col("click_id"),
        col("imp_user").as("user_id"),
        date_format(col("imp_ts"), "yyyy-MM-dd HH:mm:ss").as("imp_ts_s"),
        date_format(col("click_ts"), "yyyy-MM-dd HH:mm:ss").as("click_ts_s"))
      .orderBy(col("imp_id"), col("click_id").asc_nulls_first)
  }

  /** Scope `spark.sql.shuffle.partitions` to `n` for a streaming drain:
    * stateful operators instantiate state stores PER PARTITION PER
    * micro-batch (a stream-stream join: four per side), so 32 partitions
    * over a graded 100k-row run is hundreds of store lifecycles of pure
    * fixed cost. Safe to scope because each graded query drains a FRESH
    * checkpoint — the count is pinned into that checkpoint's offset
    * metadata at the first batch and can't leak to other queries — and the
    * restore happens only after `awaitTermination` (an early restore would
    * race the first batch's planning). At production volume this knob is
    * sized to throughput, exactly like batch shuffle partitions.
    */
  private def withShufflePartitions[T](s: SparkSession, n: Int)(body: => T): T = {
    val prev = s.conf.get("spark.sql.shuffle.partitions")
    try { s.conf.set("spark.sql.shuffle.partitions", n.toString); body }
    finally s.conf.set("spark.sql.shuffle.partitions", prev)
  }

  /** Shared chat fixture for q_chat_render / q_loss_mask: documents
    * grouped 5-per-conversation, roles from the turn index (turn 0 system,
    * odd turns user, even turns assistant).
    */
  private def chatTurns(docs: DataFrame): DataFrame =
    docs.select(
      expr("doc_id DIV 5").as("conv_id"),
      (col("doc_id") % 5).as("turn"),
      when(col("doc_id") % 5 === 0, "system")
        .when(col("doc_id") % 5 % 2 === 1, "user")
        .otherwise("assistant").as("role"),
      col("text"))

  /** Identical SQL text runs on both engines. Revenue is exact at 4
    * decimals, so `K = round(sum·10⁴)` is an engine-identical BIGINT; the
    * final 2-decimal half-up round is `floor((2K+100)/200)` — done with a
    * float divide because Spark SQL spells integer division `DIV` and
    * DuckDB `//` (no common syntax), which is exact here since `2K+100`
    * ≪ 2⁵³ and the true quotient is never within an ulp of an integer
    * except when it IS one (see [[graft.operators.Relational.stableAvg]]
    * for the half-point failure this avoids).
    */
  private val H264WeightedOracleSql: String =
    """WITH dims AS (
             |  SELECT doc_id AS d,
             |    3 + doc_id % 3 AS wl0, 2 + (doc_id + 1) % 3 AS wl1,
             |    (doc_id % 11) - 5 AS ol0, ((doc_id + 3) % 11) - 5 AS ol1,
             |    1 + doc_id % 2 AS wcb0, 1 + (doc_id + 1) % 2 AS wcb1,
             |    (doc_id % 7) - 3 AS ocb0, ((doc_id + 2) % 7) - 3 AS ocb1,
             |    1 + (doc_id + 1) % 2 AS wcr0, 1 + doc_id % 2 AS wcr1,
             |    ((doc_id + 5) % 7) - 3 AS ocr0, ((doc_id + 1) % 7) - 3 AS ocr1
             |  FROM documents),
             |px AS (
             |  SELECT m.d,
             |    sum(vv.val * (qf.j % 97 + 1) * (qf.fi + 1)) AS chk
             |  FROM dims m
             |  JOIN range(0, 4608) t(i) ON true
             |  CROSS JOIN LATERAL (SELECT t.i // 1536 AS fi, t.i % 1536 AS j) qf
             |  CROSS JOIN LATERAL (SELECT
             |    CASE WHEN qf.j < 1024 THEN 0
             |         WHEN qf.j < 1280 THEN 1 ELSE 2 END AS pl) q0
             |  CROSS JOIN LATERAL (SELECT
             |    CASE q0.pl WHEN 0 THEN (qf.j // 32 // 16) * 2 + (qf.j % 32) // 16
             |      WHEN 1 THEN ((qf.j - 1024) // 16 // 8) * 2 + ((qf.j - 1024) % 16) // 8
             |      ELSE ((qf.j - 1280) // 16 // 8) * 2 + ((qf.j - 1280) % 16) // 8
             |    END AS mb) q1
             |  CROSS JOIN LATERAL (SELECT
             |    CASE q1.mb WHEN 2 THEN 3 WHEN 3 THEN 1 ELSE q1.mb END AS smb,
             |    (q1.mb + m.d) % 2 AS ref) q2
             |  CROSS JOIN LATERAL (SELECT
             |    CASE WHEN qf.fi = 2 THEN q2.smb ELSE q1.mb END AS vm) q3
             |  CROSS JOIN LATERAL (SELECT
             |    (37*m.d + 19*q3.vm) % 136 + 24 AS y1,
             |    (91*m.d + 29*(q3.vm // 2 + q3.vm % 2)) % 180 + 12 AS cb1,
             |    (53*m.d + 31*(q3.vm // 2 + q3.vm % 2)) % 180 + 12 AS cr1,
             |    (41*m.d + 23*q3.vm) % 136 + 24 AS y2,
             |    (67*m.d + 17*q3.vm) % 180 + 12 AS cb2,
             |    (71*m.d + 13*q3.vm) % 180 + 12 AS cr2) q4
             |  CROSS JOIN LATERAL (SELECT
             |    CASE WHEN qf.fi = 0 THEN
             |      CASE q0.pl WHEN 0 THEN q4.y1 WHEN 1 THEN q4.cb1 ELSE q4.cr1 END
             |    WHEN qf.fi = 1 THEN
             |      CASE q0.pl WHEN 0 THEN q4.y2 WHEN 1 THEN q4.cb2 ELSE q4.cr2 END
             |    ELSE
             |      CASE q0.pl
             |      WHEN 0 THEN
             |        ((CASE WHEN q2.ref = 0 THEN m.wl0 ELSE m.wl1 END)
             |          * (CASE WHEN q2.ref = 0 THEN q4.y2 ELSE q4.y1 END) + 2) // 4
             |        + (CASE WHEN q2.ref = 0 THEN m.ol0 ELSE m.ol1 END)
             |      WHEN 1 THEN
             |        ((CASE WHEN q2.ref = 0 THEN m.wcb0 ELSE m.wcb1 END)
             |          * (CASE WHEN q2.ref = 0 THEN q4.cb2 ELSE q4.cb1 END) + 1) // 2
             |        + (CASE WHEN q2.ref = 0 THEN m.ocb0 ELSE m.ocb1 END)
             |      ELSE
             |        ((CASE WHEN q2.ref = 0 THEN m.wcr0 ELSE m.wcr1 END)
             |          * (CASE WHEN q2.ref = 0 THEN q4.cr2 ELSE q4.cr1 END) + 1) // 2
             |        + (CASE WHEN q2.ref = 0 THEN m.ocr0 ELSE m.ocr1 END)
             |      END
             |    END AS val) vv
             |  GROUP BY m.d)
             |SELECT d AS doc_id, CAST(32 AS BIGINT) AS width,
             |  CAST(32 AS BIGINT) AS height, CAST(3 AS BIGINT) AS n_frames,
             |  CAST(chk AS BIGINT) AS pix_checksum
             |FROM px ORDER BY doc_id""".stripMargin

  private val RevenueByNationSql: String =
    """SELECT n_name,
      |  CAST(floor((2*CAST(round(sum(l_extendedprice * (1.0 - l_discount)) * 10000) AS BIGINT) + 100) / 200e0) AS BIGINT) / 100e0 AS revenue
      |FROM lineitem
      |JOIN orders ON l_orderkey = o_orderkey
      |JOIN customer ON o_custkey = c_custkey
      |JOIN nation ON c_nationkey = n_nationkey
      |GROUP BY n_name ORDER BY n_name""".stripMargin

  private val ExistsSql: String =
    """SELECT c_custkey, c_name,
      |  (SELECT max(o3.o_totalprice) FROM orders o3
      |   WHERE o3.o_custkey = c.c_custkey) AS max_price
      |FROM customer c
      |WHERE EXISTS (SELECT 1 FROM orders o
      |              WHERE o.o_custkey = c.c_custkey
      |                AND o.o_totalprice > 150000)
      |  AND NOT EXISTS (SELECT 1 FROM orders o2
      |                  WHERE o2.o_custkey = c.c_custkey
      |                    AND o2.o_orderstatus = 'F')
      |ORDER BY c_custkey""".stripMargin

  private val LateralSql: String =
    """SELECT c.c_custkey, t.o_orderkey, t.o_totalprice
      |FROM customer c, LATERAL (
      |  SELECT o_orderkey, o_totalprice FROM orders o
      |  WHERE o.o_custkey = c.c_custkey
      |  ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) t
      |ORDER BY c.c_custkey, t.o_totalprice DESC, t.o_orderkey""".stripMargin

  private val GroupingSetsSql: String =
    """SELECT l_returnflag, l_linestatus,
      |  CAST(grouping(l_returnflag) AS BIGINT) AS g_flag,
      |  CAST(grouping(l_linestatus) AS BIGINT) AS g_status,
      |  count(*) AS n,
      |  CAST(floor((2*CAST(round(sum(l_extendedprice) * 10000) AS BIGINT) + 100)
      |    / 200e0) AS BIGINT) AS sum_price_cents
      |FROM lineitem
      |GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
      |ORDER BY g_flag, g_status,
      |  l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin

  // one shared string over the four bag/set operators — multiplicity
  // semantics (ALL vs DISTINCT) must agree between engines, summarized
  // as per-operator count + key-sum so the whole bag is graded
  private val SetOpsSql: String =
    """WITH o AS (SELECT o_custkey AS k FROM orders WHERE o_orderstatus = 'O'),
      |f AS (SELECT o_custkey AS k FROM orders WHERE o_orderstatus = 'F'),
      |i1 AS (SELECT k FROM o INTERSECT SELECT k FROM f),
      |i2 AS (SELECT k FROM o INTERSECT ALL SELECT k FROM f),
      |e1 AS (SELECT k FROM o EXCEPT SELECT k FROM f),
      |e2 AS (SELECT k FROM o EXCEPT ALL SELECT k FROM f)
      |SELECT 'intersect' AS op, count(*) AS n,
      |  CAST(coalesce(sum(k), 0) AS BIGINT) AS ksum FROM i1
      |UNION ALL SELECT 'intersect_all', count(*),
      |  CAST(coalesce(sum(k), 0) AS BIGINT) FROM i2
      |UNION ALL SELECT 'except', count(*),
      |  CAST(coalesce(sum(k), 0) AS BIGINT) FROM e1
      |UNION ALL SELECT 'except_all', count(*),
      |  CAST(coalesce(sum(k), 0) AS BIGINT) FROM e2
      |ORDER BY op""".stripMargin

  // one shared string, five window shapes: ranking (two flavors), a
  // running frame, a whole-partition aggregate, and first_value — all on
  // integer cents so nothing floats
  private val WindowSql: String =
    """WITH e AS (SELECT user_id, event_id,
      |    CAST(floor(value * 100) AS BIGINT) AS cents FROM events)
      |SELECT user_id, event_id, cents,
      |  CAST(rank() OVER (PARTITION BY user_id ORDER BY cents DESC, event_id)
      |    AS BIGINT) AS rnk,
      |  CAST(dense_rank() OVER (PARTITION BY user_id ORDER BY cents DESC, event_id)
      |    AS BIGINT) AS drnk,
      |  CAST(sum(cents) OVER (PARTITION BY user_id ORDER BY event_id
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
      |    AS running_cents,
      |  min(cents) OVER (PARTITION BY user_id) AS min_cents,
      |  first_value(event_id) OVER (PARTITION BY user_id
      |    ORDER BY cents DESC, event_id) AS top_event
      |FROM e ORDER BY event_id""".stripMargin

  // TPC-H Q3 shape (shipping-priority top-10) in exact integer
  // cent·percent units; one shared string both engines execute. The
  // three-table join is THE classic join-order/broadcast benchmark shape.
  private val ShippingPrioritySql: String =
    """SELECT l_orderkey,
      |  CAST(sum(CAST(floor(l_extendedprice * 100) AS BIGINT)
      |           * (100 - CAST(round(l_discount * 100) AS BIGINT))) AS BIGINT)
      |    AS revenue_cp,
      |  CAST(CAST(o_orderdate AS DATE) AS VARCHAR(10)) AS order_date,
      |  o_orderpriority
      |FROM customer, orders, lineitem
      |WHERE c_mktsegment = 'BUILDING'
      |  AND c_custkey = o_custkey AND l_orderkey = o_orderkey
      |  AND o_orderdate < TIMESTAMP '1995-03-15 00:00:00'
      |  AND l_shipdate > TIMESTAMP '1995-03-15 00:00:00'
      |GROUP BY l_orderkey, order_date, o_orderpriority
      |ORDER BY revenue_cp DESC, l_orderkey
      |LIMIT 10""".stripMargin

  // null-safe equality (IS NOT DISTINCT FROM): the join predicate an
  // equi-join silently gets WRONG when keys are nullable — the NULL
  // bucket must survive the join. One shared string.
  private val NullSafeJoinSql: String =
    """WITH a AS (SELECT NULLIF(o_orderstatus, 'O') AS st,
      |            CAST(count(*) AS BIGINT) AS n_a FROM orders GROUP BY 1),
      |b AS (SELECT NULLIF(o_orderstatus, 'O') AS st,
      |        CAST(sum(o_orderkey % 997) AS BIGINT) AS key_chk
      |      FROM orders GROUP BY 1)
      |SELECT CASE WHEN a.st IS NULL THEN '<null>' ELSE a.st END AS bucket,
      |  a.n_a, b.key_chk
      |FROM a JOIN b ON a.st IS NOT DISTINCT FROM b.st
      |ORDER BY bucket""".stripMargin

  /** The reference's own daily extracts (FIXTURES.md §1), which the
    * repository does not hold, by the catalog row that reads them. Those
    * rows' goldens are facts about these files, so they run only where the
    * reference checkout is mounted.
    */
  val referenceFiles: Map[String, Seq[String]] = {
    val tmp = "/root/reference/tmp"
    Map(
      "q_reddit_pipeline_summary" -> Seq(s"$tmp/20250320.csv", s"$tmp/20250324.csv"),
      "q_s3_csv_roundtrip" -> Seq(s"$tmp/20250324.csv"),
      "q_s9_header_inspect" -> Seq(s"$tmp/20250324.csv"),
      "q_p6_clock_stamp" -> Seq(s"$tmp/20250324.csv"))
  }

  /** name -> (query fn, optional DuckDB oracle SQL). */
  val entries: Seq[(String, (SparkSession, String) => DataFrame, Option[String])] = Seq(

    // ---- §2.2 projections / filters / row-level transforms -----------------

    ("q_p1_project",
      (s: SparkSession, d: String) =>
        Relational.project(t(s, d, "lineitem"),
          Seq("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice", "l_returnflag"))
          .orderBy("l_orderkey", "l_linenumber"),
      Some("""SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice, l_returnflag
             |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin)),

    ("q_p9_filter_eq",
      (s: SparkSession, d: String) =>
        Relational.filterEq(t(s, d, "lineitem"), "l_returnflag", "R")
          .select("l_orderkey", "l_linenumber", "l_returnflag")
          .orderBy("l_orderkey", "l_linenumber"),
      Some("""SELECT l_orderkey, l_linenumber, l_returnflag FROM lineitem
             |WHERE l_returnflag = 'R' ORDER BY l_orderkey, l_linenumber""".stripMargin)),

    ("q_p10_not_null",
      (s: SparkSession, d: String) =>
        Relational.filterNotNull(t(s, d, "orders"), "o_orderpriority")
          .select("o_orderkey", "o_orderpriority")
          .orderBy("o_orderkey"),
      Some("""SELECT o_orderkey, o_orderpriority FROM orders
             |WHERE o_orderpriority IS NOT NULL ORDER BY o_orderkey""".stripMargin)),

    ("q_p11_date_parts",
      (s: SparkSession, d: String) =>
        Relational.dateParts(t(s, d, "lineitem"), "l_shipdate")
          .select(col("l_orderkey"), col("l_linenumber"),
            col("y").cast("long"), col("m").cast("long"), col("d").cast("long"),
            col("dow").cast("long"), col("h").cast("long"))
          .orderBy("l_orderkey", "l_linenumber"),
      Some("""SELECT l_orderkey, l_linenumber,
             |  year(l_shipdate) AS y, month(l_shipdate) AS m, day(l_shipdate) AS d,
             |  date_part('dow', l_shipdate) + 1 AS dow, date_part('hour', l_shipdate) AS h
             |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin)),

    ("q_p12_derive",
      (s: SparkSession, d: String) =>
        Relational.derive(t(s, d, "lineitem"), "revenue",
          round(col("l_extendedprice") * (lit(1.0) - col("l_discount")), 4))
          .select("l_orderkey", "l_linenumber", "revenue")
          .orderBy("l_orderkey", "l_linenumber"),
      Some("""SELECT l_orderkey, l_linenumber,
             |  round(l_extendedprice * (1.0 - l_discount), 4) AS revenue
             |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin)),

    ("q_p13_bucketize",
      (s: SparkSession, d: String) =>
        t(s, d, "lineitem")
          .select(col("l_orderkey"), col("l_linenumber"),
            Relational.bucketize(col("l_quantity"),
              Seq(10d, 25d, 40d), Seq("low", "mid", "high", "huge"),
              lower = Some(0d)).as("qty_bucket"))
          .orderBy("l_orderkey", "l_linenumber"),
      Some("""SELECT l_orderkey, l_linenumber,
             |  CASE WHEN l_quantity IS NULL OR l_quantity <= 0 THEN NULL
             |       WHEN l_quantity <= 10 THEN 'low'
             |       WHEN l_quantity <= 25 THEN 'mid'
             |       WHEN l_quantity <= 40 THEN 'high'
             |       ELSE 'huge' END AS qty_bucket
             |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin)),

    ("q_p15_truncate",
      (s: SparkSession, d: String) =>
        Relational.truncateVarchar(t(s, d, "part"), Map("p_name" -> 12))
          .select("p_partkey", "p_name")
          .orderBy("p_partkey"),
      Some("SELECT p_partkey, substr(p_name, 1, 12) AS p_name FROM part ORDER BY p_partkey")),

    ("q_p16_scrub_chars",
      (s: SparkSession, d: String) =>
        Relational.scrubInvalidChars(t(s, d, "documents"), Seq("text"))
          .select("doc_id", "text")
          .orderBy("doc_id"),
      Some("""SELECT doc_id, regexp_replace(text, '�', ' ', 'g') AS text
             |FROM documents ORDER BY doc_id""".stripMargin)),

    // P4 epoch→timestamp + P14 run-date formatting (string output sidesteps
    // timestamp-type mismatches between engines)
    ("q_p4_p14_dates",
      (s: SparkSession, d: String) =>
        t(s, d, "events")
          .select(col("event_id"),
            from_unixtime(col("user_id")).as("epoch_ts_str"),
            date_format(col("ts"), "yyyyMMdd").as("run_date"))
          .orderBy("event_id"),
      Some("""SELECT event_id,
             |  strftime(epoch_ms(user_id * 1000), '%Y-%m-%d %H:%M:%S') AS epoch_ts_str,
             |  strftime(ts, '%Y%m%d') AS run_date
             |FROM events ORDER BY event_id""".stripMargin)),

    // P2 null-fill string, P5 cast-to-string, P7 column alias, P8 null-fill numeric
    ("q_enrich_fills",
      (s: SparkSession, d: String) =>
        t(s, d, "documents")
          .select(col("doc_id"),
            coalesce(col("lang"), lit("")).as("lang_filled"),
            col("n_chars").cast("string").as("n_chars_str"),
            col("source").as("source_copy"),
            coalesce(col("n_chars"), lit(0L)).as("n_chars_filled"))
          .orderBy("doc_id"),
      Some("""SELECT doc_id, coalesce(lang, '') AS lang_filled,
             |  CAST(n_chars AS VARCHAR) AS n_chars_str,
             |  source AS source_copy,
             |  coalesce(n_chars, 0) AS n_chars_filled
             |FROM documents ORDER BY doc_id""".stripMargin)),

    // ---- §2.3 joins ---------------------------------------------------------

    // keys = "customers with a big order" so the result is non-trivial at
    // every sf (every customer has *some* order in the testdata)
    ("q_j1_anti_join",
      (s: SparkSession, d: String) =>
        Relational.antiJoin(t(s, d, "customer"),
          t(s, d, "orders").filter(col("o_totalprice") > 300000.0)
            .select(col("o_custkey").as("c_custkey")), Seq("c_custkey"))
          .select("c_custkey", "c_name")
          .orderBy("c_custkey"),
      Some("""SELECT c_custkey, c_name FROM customer
             |WHERE NOT EXISTS (SELECT 1 FROM orders
             |                  WHERE o_custkey = c_custkey AND o_totalprice > 300000.0)
             |ORDER BY c_custkey""".stripMargin)),

    // bloom-prefiltered anti-join (the decontamination shape): exact result
    // — the bloom only routes rows between the keep-outright branch and the
    // verify join, so the oracle is the plain anti-join SQL
    ("q_bloom_anti_join",
      (s: SparkSession, d: String) =>
        Relational.bloomAntiJoin(t(s, d, "lineitem"),
          t(s, d, "orders").filter(col("o_orderpriority") === "1-URGENT")
            .select(col("o_orderkey").as("l_orderkey")), "l_orderkey")
          .select("l_orderkey", "l_linenumber", "l_quantity")
          .orderBy("l_orderkey", "l_linenumber"),
      Some("""SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem
             |WHERE NOT EXISTS (SELECT 1 FROM orders
             |                  WHERE o_orderkey = l_orderkey AND o_orderpriority = '1-URGENT')
             |ORDER BY l_orderkey, l_linenumber""".stripMargin)),

    // ---- §2.4 aggregations --------------------------------------------------

    ("q_a1_grouped_summary",
      (s: SparkSession, d: String) =>
        Relational.groupedSummary(t(s, d, "lineitem"),
          "l_returnflag", "l_extendedprice", "l_quantity")
          .orderBy("l_returnflag"),
      Some("""SELECT l_returnflag, count(*) AS post_count,
             |  ((2*CAST(round(sum(l_extendedprice)*100) AS BIGINT)*10000 + count(l_extendedprice)*100)
             |   // (2*count(l_extendedprice)*100)) / 10000.0 AS avg_score,
             |  ((2*CAST(round(sum(l_quantity)*100) AS BIGINT)*10000 + count(l_quantity)*100)
             |   // (2*count(l_quantity)*100)) / 10000.0 AS avg_comments,
             |  max(l_extendedprice) AS max_score
             |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)),

    ("q_a2_having_sort",
      (s: SparkSession, d: String) =>
        Relational.havingSort(t(s, d, "orders"), "o_custkey", "o_totalprice", 10L),
      Some("""SELECT o_custkey, count(*) AS post_count,
             |  ((2*CAST(round(sum(o_totalprice)*100) AS BIGINT)*10000 + count(o_totalprice)*100)
             |   // (2*count(o_totalprice)*100)) / 10000.0 AS avg_score
             |FROM orders GROUP BY o_custkey HAVING count(*) > 10
             |ORDER BY avg_score DESC, o_custkey""".stripMargin)),

    ("q_a3_hourly_avg",
      (s: SparkSession, d: String) =>
        Relational.hourlyAvg(t(s, d, "events"), "ts", "value")
          .select(col("hour_of_day").cast("long").as("hour_of_day"), col("avg_score")),
      Some("""SELECT date_part('hour', ts) AS hour_of_day,
             |  ((2*CAST(round(sum(value)*10000) AS BIGINT)*10000 + count(value)*10000)
             |   // (2*count(value)*10000)) / 10000.0 AS avg_score
             |FROM events GROUP BY 1 ORDER BY 1""".stripMargin)),

    // the reference's chart surface (query-test.py:72-79) graded as FILE
    // BYTES: the hourly-avg relation exports through the real
    // exportChartCsv path (header row, one part file) with values
    // pre-rendered in exact 4dp fixed-point strings, and the md5 of the
    // artifact's bytes must equal DuckDB's independent reconstruction of
    // the byte stream — header, \n separators, trailing newline, every
    // digit. Any drift in formatting, ordering, coalescing, or the
    // export plumbing moves the hash.
    ("q_chart_export",
      (s: SparkSession, d: String) => {
        import s.implicits._
        val rel = t(s, d, "events")
          .groupBy(hour(col("ts")).cast("long").as("hour_of_day"))
          .agg(expr("CAST(round(sum(value)*10000) AS BIGINT)").as("_r"),
            count(col("value")).as("_c"))
          // Spark DIV and DuckDB's integer // BOTH truncate toward zero
          // (verified: -12345//10000 = -1 in DuckDB), so the division is
          // sign-consistent as-is; the negative-sum hazard was the
          // rendering, fixed below by taking |a4| and an explicit sign so
          // a negative hour still yields well-formed 4dp digits instead
          // of lpad over a negative remainder
          .select(col("hour_of_day"),
            expr("(2*_r + _c) DIV (2*_c)").as("_a4"))
          .select(col("hour_of_day"),
            concat(expr("CASE WHEN _a4 < 0 THEN '-' ELSE '' END"),
              expr("CAST(abs(_a4) DIV 10000 AS STRING)"), lit("."),
              lpad(expr("CAST(abs(_a4) % 10000 AS STRING)"), 4, "0")).as("avg_score"))
          .coalesce(1).sortWithinPartitions("hour_of_day")
        val dir = scratchDir("chart_csv")
        graft.reddit.Analytics.exportChartCsv(rel, dir)
        val part = new java.io.File(dir).listFiles()
          .filter(_.getName.endsWith(".csv")).head
        val bytes = java.nio.file.Files.readAllBytes(part.toPath)
        val md5 = java.security.MessageDigest.getInstance("MD5")
          .digest(bytes).map("%02x".format(_)).mkString
        val n = new String(bytes, java.nio.charset.StandardCharsets.UTF_8)
          .split("\n", -1).count(_.nonEmpty) - 1L
        Seq((n, md5)).toDF("n_rows", "csv_md5")
      },
      Some("""WITH a AS (SELECT CAST(date_part('hour', ts) AS BIGINT) AS h,
             |    (2*CAST(round(sum(value)*10000) AS BIGINT) + count(value))
             |      // (2*count(value)) AS a4
             |  FROM events GROUP BY 1),
             |l AS (SELECT h, CAST(h AS VARCHAR) || ',' ||
             |    CASE WHEN a4 < 0 THEN '-' ELSE '' END ||
             |    CAST(abs(a4) // 10000 AS VARCHAR) || '.' ||
             |    lpad(CAST(abs(a4) % 10000 AS VARCHAR), 4, '0') AS line
             |  FROM a),
             |body AS (SELECT string_agg(line, chr(10) ORDER BY h) AS b,
             |    CAST(count(*) AS BIGINT) AS n FROM l)
             |SELECT n AS n_rows,
             |  md5('hour_of_day,avg_score' || chr(10) || b || chr(10)) AS csv_md5
             |FROM body""".stripMargin)),

    ("q_a4_scalar_stats",
      (s: SparkSession, d: String) =>
        Relational.scalarStats(t(s, d, "lineitem"), "l_quantity", "l_extendedprice"),
      Some("""SELECT ((2*CAST(round(sum(l_quantity)*100) AS BIGINT)*10000 + count(l_quantity)*100)
             |   // (2*count(l_quantity)*100)) / 10000.0 AS avg_a,
             |  max(l_quantity) AS max_a,
             |  ((2*CAST(round(sum(l_extendedprice)*100) AS BIGINT)*10000 + count(l_extendedprice)*100)
             |   // (2*count(l_extendedprice)*100)) / 10000.0 AS avg_b,
             |  max(l_extendedprice) AS max_b
             |FROM lineitem""".stripMargin)),

    // skew-safe two-phase salted aggregation — result-identical to the
    // plain groupBy (sum/count compose), bounded per-reducer load
    ("q_salted_agg",
      (s: SparkSession, d: String) =>
        Relational.saltedSumCount(t(s, d, "lineitem"), "l_returnflag", "l_quantity")
          .select(col("l_returnflag"),
            round(col("sum_measure")).cast("long").as("sum_measure"),
            col("cnt_measure"))
          .orderBy("l_returnflag"),
      Some("""SELECT l_returnflag,
             |  CAST(round(sum(l_quantity)) AS BIGINT) AS sum_measure,
             |  count(l_quantity) AS cnt_measure
             |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)),

    ("q_a6_row_count",
      (s: SparkSession, d: String) =>
        t(s, d, "lineitem").agg(count(lit(1)).as("n")),
      Some("SELECT count(*) AS n FROM lineitem")),

    ("q_a5_null_census",
      (s: SparkSession, d: String) =>
        Relational.nullCensus(t(s, d, "documents")),
      Some("""SELECT count(*) - count(doc_id) AS nulls_doc_id,
             |  count(*) - count(text) AS nulls_text,
             |  count(*) - count(lang) AS nulls_lang,
             |  count(*) - count(source) AS nulls_source,
             |  count(*) - count(n_chars) AS nulls_n_chars
             |FROM documents""".stripMargin)),

    // ---- §2.5 sorts / limits / top-k ---------------------------------------

    ("q_t1_top_k",
      (s: SparkSession, d: String) =>
        Relational.topK(t(s, d, "orders"), col("o_totalprice"), col("o_orderkey"), 100)
          .select("o_orderkey", "o_custkey", "o_totalprice"),
      Some("""SELECT o_orderkey, o_custkey, o_totalprice FROM orders
             |ORDER BY o_totalprice DESC, o_orderkey LIMIT 100""".stripMargin)),

    ("q_t3_sorted_limit",
      (s: SparkSession, d: String) =>
        Relational.sortedLimit(t(s, d, "part"), "p_partkey", 50)
          .select("p_partkey", "p_name"),
      Some("SELECT p_partkey, p_name FROM part ORDER BY p_partkey LIMIT 50")),

    // ---- §2.6 set ops / upsert ---------------------------------------------

    ("q_u1_union_all",
      (s: SparkSession, d: String) =>
        Relational.unionAll(
          t(s, d, "customer").select(col("c_custkey").as("id")),
          t(s, d, "orders").select(col("o_custkey").as("id")))
          .orderBy("id"),
      Some("""SELECT id FROM (
             |  SELECT c_custkey AS id FROM customer
             |  UNION ALL SELECT o_custkey AS id FROM orders
             |) ORDER BY id""".stripMargin)),

    ("q_u3_upsert",
      (s: SparkSession, d: String) => {
        val main = t(s, d, "orders").select(col("o_orderkey"), col("o_totalprice"))
        val staging = t(s, d, "orders").filter(pmod(col("o_orderkey"), lit(10)) === 0)
          .select(col("o_orderkey"), round(col("o_totalprice") * 1.1, 4).as("o_totalprice"))
        Relational.upsert(main, staging, "o_orderkey").orderBy("o_orderkey")
      },
      Some("""SELECT o_orderkey, o_totalprice FROM orders WHERE o_orderkey % 10 <> 0
             |UNION ALL
             |SELECT o_orderkey, round(o_totalprice * 1.1, 4) AS o_totalprice
             |FROM orders WHERE o_orderkey % 10 = 0
             |ORDER BY o_orderkey""".stripMargin)),

    // Time travel over the versioned table: create v0, upsert to v1, and
    // read BOTH versions side by side — the immutable version directory
    // IS the snapshot index, so the old profile must equal the pre-upsert
    // state exactly (a reader holding v0 is unaffected by the v1 commit).
    // DuckDB replays both generations from the upsert algebra closed-form.
    ("q_time_travel",
      (s: SparkSession, d: String) => {
        val o = t(s, d, "orders")
        val root = scratchDir("tt_table")
        val v0 = o.filter(col("o_orderkey") % 3 === 0)
          .select(col("o_orderkey"), col("o_totalprice"))
        graft.reddit.PostsTable.create(v0, root, key = "o_orderkey")
        val staged = o.filter(col("o_orderkey") % 5 === 0)
          .select(col("o_orderkey"), (col("o_totalprice") * 2.0).as("o_totalprice"))
        graft.reddit.PostsTable.upsert(s, root, staged, key = "o_orderkey")
        val vs = graft.reddit.PostsTable.versions(root)
        val old = graft.reddit.PostsTable.readVersion(s, root, vs.head)
        val cur = graft.reddit.PostsTable.read(s, root).drop("extract_date")
        def prof(df: DataFrame, p: String) = df.agg(
          count(lit(1)).as(s"${p}_n"),
          expr("CAST(floor((2*CAST(round(sum(o_totalprice)*10000) AS BIGINT) + 100) / 200e0) AS BIGINT)")
            .as(s"${p}_cents"))
        prof(old, "v0").crossJoin(prof(cur, "v1"))
          .select(col("v0_n"), col("v0_cents"), col("v1_n"), col("v1_cents"))
      },
      Some("""WITH v0 AS (SELECT o_orderkey AS k, o_totalprice AS p
             |            FROM orders WHERE o_orderkey % 3 = 0),
             |st AS (SELECT o_orderkey AS k, o_totalprice * 2.0 AS p
             |       FROM orders WHERE o_orderkey % 5 = 0),
             |v1 AS (SELECT k, p FROM v0 WHERE k NOT IN (SELECT k FROM st)
             |       UNION ALL SELECT k, p FROM st),
             |p0 AS (SELECT count(*) AS v0_n,
             |         CAST(floor((2*CAST(round(sum(p)*10000) AS BIGINT) + 100)
             |           / 200e0) AS BIGINT) AS v0_cents FROM v0),
             |p1 AS (SELECT count(*) AS v1_n,
             |         CAST(floor((2*CAST(round(sum(p)*10000) AS BIGINT) + 100)
             |           / 200e0) AS BIGINT) AS v1_cents FROM v1)
             |SELECT p0.v0_n, p0.v0_cents, p1.v1_n, p1.v1_cents
             |FROM p0 CROSS JOIN p1""".stripMargin)),

    // Unpivot (melt): the wide per-source profile folds into long
    // (source, metric, value) form — the reshape every metrics store
    // ingests. Spark's native unpivot (Expand under the hood — one pass,
    // no join); DuckDB replays as a UNION ALL stack.
    ("q_unpivot",
      (s: SparkSession, d: String) => {
        val wide = t(s, d, "documents").groupBy("source")
          .agg(count(lit(1)).cast("double").as("n_docs"),
            sum("n_chars").cast("double").as("sum_chars"),
            count_distinct(col("lang")).cast("double").as("n_langs"))
        wide.unpivot(Array(col("source")),
            Array(col("n_docs"), col("sum_chars"), col("n_langs")),
            "metric", "value")
          .orderBy("source", "metric")
      },
      Some("""WITH w AS (SELECT source, CAST(count(*) AS DOUBLE) AS n_docs,
             |    CAST(sum(n_chars) AS DOUBLE) AS sum_chars,
             |    CAST(count(DISTINCT lang) AS DOUBLE) AS n_langs
             |  FROM documents GROUP BY 1)
             |SELECT source, 'n_docs' AS metric, n_docs AS value FROM w
             |UNION ALL SELECT source, 'sum_chars', sum_chars FROM w
             |UNION ALL SELECT source, 'n_langs', n_langs FROM w
             |ORDER BY source, metric""".stripMargin)),

    // CDC apply — the lakehouse MERGE primitive beyond upsert: a change
    // log with deletes, conflicting out-of-order updates, and inserts
    // folds onto the orders snapshot last-writer-wins by (key, seq).
    // Coverage is adversarial by construction: keys divisible by 105
    // carry a seq-2 DELETE that must LOSE to a seq-3 update; by 35 the
    // delete wins over a seq-1 update; inserted keys ride a +10M offset.
    // The graded profile (count / distinct keys / cents sum per final
    // status) shifts if any single key resolves wrong. DuckDB replays
    // the log, the per-key argmax, and the merge.
    ("q_cdc_apply",
      (s: SparkSession, d: String) => {
        val o = t(s, d, "orders")
        val del = o.filter(col("o_orderkey") % 7 === 0)
          .select(col("o_orderkey"), lit(2L).as("seq"), lit("D").as("op"),
            col("o_custkey"), col("o_orderstatus"), col("o_totalprice"),
            col("o_orderdate"), col("o_orderpriority"))
        val upd1 = o.filter(col("o_orderkey") % 5 === 0)
          .select(col("o_orderkey"), lit(1L).as("seq"), lit("U").as("op"),
            col("o_custkey"), lit("U1").as("o_orderstatus"),
            (col("o_totalprice") + 1000.0).as("o_totalprice"),
            col("o_orderdate"), col("o_orderpriority"))
        val upd2 = o.filter(col("o_orderkey") % 15 === 0)
          .select(col("o_orderkey"), lit(3L).as("seq"), lit("U").as("op"),
            col("o_custkey"), lit("U2").as("o_orderstatus"),
            (col("o_totalprice") * 2.0).as("o_totalprice"),
            col("o_orderdate"), col("o_orderpriority"))
        val ins = o.filter(col("o_orderkey") % 11 === 0)
          .select((col("o_orderkey") + 10000000L).as("o_orderkey"),
            lit(1L).as("seq"), lit("I").as("op"),
            col("o_custkey"), lit("N").as("o_orderstatus"),
            col("o_totalprice"), col("o_orderdate"), col("o_orderpriority"))
        val changes = del.unionByName(upd1).unionByName(upd2).unionByName(ins)
        Relational.cdcApply(o, changes, "o_orderkey", "seq", "op")
          .groupBy("o_orderstatus")
          .agg(count(lit(1)).as("n"),
            count_distinct(col("o_orderkey")).as("n_keys"),
            expr("CAST(floor((2*CAST(round(sum(o_totalprice)*10000) AS BIGINT) + 100) / 200e0) AS BIGINT)")
              .as("sum_cents"))
          .orderBy("o_orderstatus")
      },
      Some("""WITH ch AS (
             |  SELECT o_orderkey AS k, 2 AS seq, 'D' AS op, o_custkey,
             |    o_orderstatus, o_totalprice
             |  FROM orders WHERE o_orderkey % 7 = 0
             |  UNION ALL
             |  SELECT o_orderkey, 1, 'U', o_custkey, 'U1', o_totalprice + 1000.0
             |  FROM orders WHERE o_orderkey % 5 = 0
             |  UNION ALL
             |  SELECT o_orderkey, 3, 'U', o_custkey, 'U2', o_totalprice * 2.0
             |  FROM orders WHERE o_orderkey % 15 = 0
             |  UNION ALL
             |  SELECT o_orderkey + 10000000, 1, 'I', o_custkey, 'N', o_totalprice
             |  FROM orders WHERE o_orderkey % 11 = 0),
             |lt AS (SELECT k, op, o_orderstatus, o_totalprice FROM (
             |         SELECT ch.*, row_number() OVER (PARTITION BY k
             |           ORDER BY seq DESC) AS r FROM ch) WHERE r = 1),
             |m AS (SELECT
             |        coalesce(o.o_orderkey, lt.k) AS k,
             |        CASE WHEN lt.op IS NULL THEN o.o_orderstatus
             |             ELSE lt.o_orderstatus END AS st,
             |        CASE WHEN lt.op IS NULL THEN o.o_totalprice
             |             ELSE lt.o_totalprice END AS price
             |      FROM orders o FULL OUTER JOIN lt ON o.o_orderkey = lt.k
             |      WHERE lt.op IS NULL OR lt.op <> 'D')
             |SELECT st AS o_orderstatus, count(*) AS n,
             |  CAST(count(DISTINCT k) AS BIGINT) AS n_keys,
             |  CAST(floor((2*CAST(round(sum(price)*10000) AS BIGINT) + 100)
             |    / 200e0) AS BIGINT) AS sum_cents
             |FROM m GROUP BY st ORDER BY st""".stripMargin)),

    // ---- §2.8 window (parity-plus) ------------------------------------------

    ("q_w1_topk_per_group",
      (s: SparkSession, d: String) =>
        Relational.topKPerGroup(t(s, d, "orders"),
          "o_orderpriority", "o_totalprice", "o_orderkey", 3)
          .select(col("o_orderpriority"), col("o_orderkey"), col("o_totalprice"),
            col("rn").cast("long").as("rn"))
          .orderBy("o_orderpriority", "rn"),
      Some("""SELECT o_orderpriority, o_orderkey, o_totalprice, rn FROM (
             |  SELECT o_orderpriority, o_orderkey, o_totalprice,
             |    row_number() OVER (PARTITION BY o_orderpriority
             |                       ORDER BY o_totalprice DESC, o_orderkey) AS rn
             |  FROM orders)
             |WHERE rn <= 3 ORDER BY o_orderpriority, rn""".stripMargin)),

    // running total per customer (window frame; the additions replay in
    // identical (date, orderkey) order on both engines → bit-stable, and
    // 2-decimal prices keep the double sum exact)
    ("q_w2_running_total",
      (s: SparkSession, d: String) => {
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy(col("o_custkey"))
          .orderBy(col("o_orderdate"), col("o_orderkey"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        t(s, d, "orders")
          .select(col("o_orderkey"), col("o_custkey"),
            round(sum(col("o_totalprice")).over(w), 2).as("running_total"))
          .orderBy("o_custkey", "o_orderkey")
      },
      Some("""SELECT o_orderkey, o_custkey,
             |  round(sum(o_totalprice) OVER (PARTITION BY o_custkey
             |    ORDER BY o_orderdate, o_orderkey
             |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS running_total
             |FROM orders ORDER BY o_custkey, o_orderkey""".stripMargin)),

    // ROLLUP aggregate (multi-level mart totals in one pass over Expand)
    ("q_a7_rollup",
      (s: SparkSession, d: String) =>
        t(s, d, "orders")
          .rollup(col("o_orderpriority"), year(col("o_orderdate")).cast("long").as("o_year"))
          .agg(count(lit(1)).as("n"),
            Relational.stableAvg(col("o_totalprice"), scale = 2).as("avg_price"))
          .orderBy(col("o_orderpriority").asc_nulls_first, col("o_year").asc_nulls_first),
      Some("""SELECT o_orderpriority, CAST(year(o_orderdate) AS BIGINT) AS o_year,
             |  count(*) AS n,
             |  ((2*CAST(round(sum(o_totalprice)*100) AS BIGINT)*10000 + count(o_totalprice)*100)
             |   // (2*count(o_totalprice)*100)) / 10000.0 AS avg_price
             |FROM orders GROUP BY ROLLUP (o_orderpriority, CAST(year(o_orderdate) AS BIGINT))
             |ORDER BY o_orderpriority NULLS FIRST, o_year NULLS FIRST""".stripMargin)),

    // per-user inter-event gap (lag window; exact integer microseconds)
    ("q_w3_event_gaps",
      (s: SparkSession, d: String) => {
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
        t(s, d, "events")
          .select(col("event_id"), col("user_id"),
            (unix_micros(col("ts")) - lag(unix_micros(col("ts")), 1).over(w))
              .as("gap_us"))
          .orderBy("user_id", "event_id")
          .select("event_id", "user_id", "gap_us")
      },
      Some("""SELECT event_id, user_id,
             |  epoch_us(ts) - lag(epoch_us(ts)) OVER (PARTITION BY user_id
             |    ORDER BY ts, event_id) AS gap_us
             |FROM events ORDER BY user_id, event_id""".stripMargin)),

    // ---- S8 SQL surface: multi-table star join -----------------------------

    ("q_sql_revenue_by_nation",
      (s: SparkSession, d: String) => {
        Tables.registerAll(s, d)
        s.sql(RevenueByNationSql)
      },
      Some(RevenueByNationSql)),

    // Correlated-subquery depth of the SQL surface in ONE shared string:
    // EXISTS, NOT EXISTS, and a correlated scalar aggregate — the shapes
    // Catalyst must decorrelate into joins (semi, anti, and a grouped
    // left join) for the plan to be runnable at all at scale; DuckDB
    // executes the identical text, so the grade covers the decorrelation
    // semantics, NULL-on-empty scalar included.
    ("q_sql_exists",
      (s: SparkSession, d: String) => {
        Tables.registerAll(s, d)
        s.sql(ExistsSql)
      },
      Some(ExistsSql)),

    // Correlated LATERAL subquery with per-row ORDER BY + LIMIT — the
    // top-n-per-key shape as SQL text (the window-free formulation an
    // analyst actually writes). One shared string: Catalyst must plan
    // the correlated limit (decorrelation into a ranked join) and match
    // DuckDB's LATERAL row-for-row, tiebreaks included.
    ("q_sql_lateral",
      (s: SparkSession, d: String) => {
        Tables.registerAll(s, d)
        s.sql(LateralSql)
      },
      Some(LateralSql)),

    // GROUPING SETS with grouping() markers — the third grouping-family
    // row beside rollup and cube, again one shared string. The sum uses
    // the revenue query's noise-tolerant cents rounding so double
    // summation order can't flip the grade.
    ("q_sql_grouping_sets",
      (s: SparkSession, d: String) => {
        Tables.registerAll(s, d)
        s.sql(GroupingSetsSql)
      },
      Some(GroupingSetsSql)),

    // The window-function SQL surface as one shared string — ranking,
    // running frames, whole-partition aggregates and first_value must
    // parse and evaluate identically in both engines, rows and ties
    // included.
    // INTERSECT / INTERSECT ALL / EXCEPT / EXCEPT ALL as one shared
    // string — the bag-semantics corner of the SQL surface.
    ("q_sql_setops",
      (s: SparkSession, d: String) => {
        Tables.registerAll(s, d)
        s.sql(SetOpsSql)
      },
      Some(SetOpsSql)),
    // Integer-exact EWMA per user, graded step-by-step: the oracle is a
    // DuckDB RECURSIVE CTE replaying the fixed-point recurrence
    // s_t = (v_t + 3·s_{t-1}) div 4 — the one query family whose state
    // is provably not window-expressible, graded exactly anyway.
    ("q_ewma",
      (s: SparkSession, d: String) =>
        Sessionize.ewmaFixedPoint(
            t(s, d, "events").select(col("user_id"), col("ts"), col("event_id"),
              floor(col("value") * 100).cast("long").as("cents")),
            "user_id", "ts", "event_id", "cents",
            alphaNum = 1L, alphaDen = 4L)
          .orderBy("event_id"),
      Some("""WITH RECURSIVE e AS (SELECT user_id, event_id,
             |    CAST(floor(value * 100) AS BIGINT) AS v,
             |    row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
             |  FROM events),
             |r AS (
             |  SELECT user_id, event_id, v, rn, v AS s FROM e WHERE rn = 1
             |  UNION ALL
             |  SELECT e.user_id, e.event_id, e.v, e.rn,
             |    (1 * e.v + 3 * r.s) // 4
             |  FROM e JOIN r ON e.user_id = r.user_id AND e.rn = r.rn + 1)
             |SELECT user_id, event_id, v AS value_units, s AS ewma_units
             |FROM r ORDER BY event_id""".stripMargin)),

    // Same recurrence, CHUNKED execution: weekly chunks with the per-key
    // final state carried between them (the unbounded-history task-memory
    // bound). The oracle is the SAME whole-history recursive CTE — the
    // graded claim is precisely that chunking is invisible in the output.
    ("q_ewma_chunked",
      (s: SparkSession, d: String) =>
        Sessionize.ewmaChunked(
            t(s, d, "events").select(col("user_id"), col("ts"), col("event_id"),
              floor(col("value") * 100).cast("long").as("cents")),
            "user_id", "ts", "event_id", "cents",
            alphaNum = 1L, alphaDen = 4L,
            chunkExpr = graft.functions.integral_divide(
              unix_micros(col("ts")), lit(604800000000L)))
          .orderBy("event_id"),
      Some("""WITH RECURSIVE e AS (SELECT user_id, event_id,
             |    CAST(floor(value * 100) AS BIGINT) AS v,
             |    row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
             |  FROM events),
             |r AS (
             |  SELECT user_id, event_id, v, rn, v AS s FROM e WHERE rn = 1
             |  UNION ALL
             |  SELECT e.user_id, e.event_id, e.v, e.rn,
             |    (1 * e.v + 3 * r.s) // 4
             |  FROM e JOIN r ON e.user_id = r.user_id AND e.rn = r.rn + 1)
             |SELECT user_id, event_id, v AS value_units, s AS ewma_units
             |FROM r ORDER BY event_id""".stripMargin)),

    ("q_sql_window",
      (s: SparkSession, d: String) => {
        Tables.registerAll(s, d)
        s.sql(WindowSql)
      },
      Some(WindowSql)),

    // ROUGE-1 and ROUGE-2 between a derived candidate (first two-thirds of
    // each doc plus a planted repeated token — the clipping case) and the
    // doc itself. Counts integer-exact; the oracle recomputes the clipped
    // multiset overlap from exploded gram counts, a completely different
    // formulation from the engine's in-row HOF fold.
    ("q_rouge_eval",
      (s: SparkSession, d: String) => {
        val docs2 = t(s, d, "documents")
          .select(col("doc_id"), TextAnalysis.tokens(col("text")).as("tk"))
          .select(col("doc_id"),
            array_join(concat(
              expr("slice(tk, 1, (size(tk) * 2 + 2) div 3)"),
              array(lit("spark"), lit("spark"))), " ").as("cand"),
            array_join(col("tk"), " ").as("ref"))
        def run(n: Int, sfx: String) =
          TextAnalysis.rougeN(docs2, "doc_id", "cand", "ref", n)
            .select(col("doc_id"), col("n_overlap").as(s"ov$sfx"),
              col("precision").as(s"p$sfx"), col("recall").as(s"r$sfx"),
              col("f1").as(s"f$sfx"))
        run(1, "1").join(run(2, "2"), Seq("doc_id")).orderBy("doc_id")
      },
      Some("""WITH tk AS (SELECT doc_id,
             |    CASE WHEN trim(text) = '' THEN []::VARCHAR[]
             |         ELSE regexp_split_to_array(trim(text), '\s+') END AS a
             |  FROM documents),
             |cr AS (SELECT doc_id,
             |    list_concat(a[1:(2*len(a)+2)//3], ['spark','spark']) AS c,
             |    a AS r FROM tk),
             |cg1 AS (SELECT doc_id, unnest(c) AS g FROM cr),
             |rg1 AS (SELECT doc_id, unnest(r) AS g FROM cr),
             |cg2 AS (SELECT doc_id, c[i] || ' ' || c[i+1] AS g
             |        FROM cr, unnest(range(1, greatest(len(c)-1,0)+1)) u(i)),
             |rg2 AS (SELECT doc_id, r[i] || ' ' || r[i+1] AS g
             |        FROM cr, unnest(range(1, greatest(len(r)-1,0)+1)) u(i)),
             |cc1 AS (SELECT doc_id, g, count(*) AS cn FROM cg1 GROUP BY 1,2),
             |rc1 AS (SELECT doc_id, g, count(*) AS rn FROM rg1 GROUP BY 1,2),
             |cc2 AS (SELECT doc_id, g, count(*) AS cn FROM cg2 GROUP BY 1,2),
             |rc2 AS (SELECT doc_id, g, count(*) AS rn FROM rg2 GROUP BY 1,2),
             |ov1 AS (SELECT rc1.doc_id,
             |          sum(least(coalesce(cc1.cn, 0), rc1.rn)) AS ov
             |        FROM rc1 LEFT JOIN cc1 USING (doc_id, g) GROUP BY 1),
             |ov2 AS (SELECT rc2.doc_id,
             |          sum(least(coalesce(cc2.cn, 0), rc2.rn)) AS ov
             |        FROM rc2 LEFT JOIN cc2 USING (doc_id, g) GROUP BY 1),
             |tot AS (SELECT doc_id, len(c) AS nc1, len(r) AS nr1,
             |          greatest(len(c)-1, 0) AS nc2, greatest(len(r)-1, 0) AS nr2
             |        FROM cr),
             |m AS (SELECT t.doc_id,
             |    CAST(coalesce(ov1.ov, 0) AS BIGINT) AS ov1v,
             |    CAST(coalesce(ov2.ov, 0) AS BIGINT) AS ov2v,
             |    t.nc1, t.nr1, t.nc2, t.nr2,
             |    CASE WHEN t.nc1 = 0 THEN 0 ELSE round(coalesce(ov1.ov,0)*1.0/t.nc1, 6) END AS p1,
             |    CASE WHEN t.nr1 = 0 THEN 0 ELSE round(coalesce(ov1.ov,0)*1.0/t.nr1, 6) END AS r1,
             |    CASE WHEN t.nc2 = 0 THEN 0 ELSE round(coalesce(ov2.ov,0)*1.0/t.nc2, 6) END AS p2,
             |    CASE WHEN t.nr2 = 0 THEN 0 ELSE round(coalesce(ov2.ov,0)*1.0/t.nr2, 6) END AS r2
             |  FROM tot t LEFT JOIN ov1 USING (doc_id) LEFT JOIN ov2 USING (doc_id))
             |SELECT doc_id, ov1v AS ov1, p1, r1,
             |  CASE WHEN p1 + r1 = 0 THEN 0 ELSE round(2*p1*r1/(p1+r1), 6) END AS f1,
             |  ov2v AS ov2, p2, r2,
             |  CASE WHEN p2 + r2 = 0 THEN 0 ELSE round(2*p2*r2/(p2+r2), 6) END AS f2
             |FROM m ORDER BY doc_id""".stripMargin)),

    // Cross-source decile calibration: discrete within-source quantile
    // cuts (actual data values, engine-exact comparisons) assign each doc
    // its source-relative rank 0..9 — the normalization before any global
    // quality threshold. Oracle recomputes with percentile_disc.
    ("q_score_calibrate",
      (s: SparkSession, d: String) =>
        Curation.calibrateScores(
            t(s, d, "documents").select(col("doc_id"), col("source"), col("n_chars")),
            "source", "n_chars", deciles = 10)
          .select(col("doc_id"), col("source"), col("n_chars"), col("calibrated"))
          .orderBy("doc_id"),
      Some("""WITH c AS (SELECT source,
             |    percentile_disc(0.1) WITHIN GROUP (ORDER BY n_chars) AS c1,
             |    percentile_disc(0.2) WITHIN GROUP (ORDER BY n_chars) AS c2,
             |    percentile_disc(0.3) WITHIN GROUP (ORDER BY n_chars) AS c3,
             |    percentile_disc(0.4) WITHIN GROUP (ORDER BY n_chars) AS c4,
             |    percentile_disc(0.5) WITHIN GROUP (ORDER BY n_chars) AS c5,
             |    percentile_disc(0.6) WITHIN GROUP (ORDER BY n_chars) AS c6,
             |    percentile_disc(0.7) WITHIN GROUP (ORDER BY n_chars) AS c7,
             |    percentile_disc(0.8) WITHIN GROUP (ORDER BY n_chars) AS c8,
             |    percentile_disc(0.9) WITHIN GROUP (ORDER BY n_chars) AS c9
             |  FROM documents GROUP BY 1)
             |SELECT doc_id, d.source, n_chars,
             |  CAST(CAST(n_chars > c1 AS INT) + CAST(n_chars > c2 AS INT) + CAST(n_chars > c3 AS INT) + CAST(n_chars > c4 AS INT) + CAST(n_chars > c5 AS INT) + CAST(n_chars > c6 AS INT) + CAST(n_chars > c7 AS INT) + CAST(n_chars > c8 AS INT) + CAST(n_chars > c9 AS INT) AS BIGINT) AS calibrated
             |FROM documents d JOIN c USING (source)
             |ORDER BY doc_id""".stripMargin)),

    // Greedy per-source token budgeting: best-quality-first running sum,
    // keep while within budget — the step that turns scores into a mix.
    // The doc that would cross the budget is the first one dropped.
    ("q_token_budget",
      (s: SparkSession, d: String) => {
        val docs = t(s, d, "documents").select(col("doc_id"), col("source"),
          col("n_chars"), ((col("doc_id") * 37) % 100).as("quality"))
        Curation.tokenBudgetSelect(docs, "source", "n_chars",
            col("quality"), "doc_id", budgetTokens = 2000L)
          .select(col("doc_id"), col("source"), col("quality"), col("cum_tokens"))
          .orderBy("doc_id")
      },
      Some("""WITH d AS (SELECT doc_id, source, n_chars,
             |    (doc_id * 37) % 100 AS quality FROM documents),
             |w AS (SELECT doc_id, source, quality,
             |    sum(n_chars) OVER (PARTITION BY source
             |      ORDER BY quality DESC, doc_id
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
             |  FROM d)
             |SELECT doc_id, source, quality,
             |  CAST(cum AS BIGINT) AS cum_tokens
             |FROM w WHERE cum <= 2000 ORDER BY doc_id""".stripMargin)),

    // Interval-interval overlap join: sessions-like windows vs short
    // probe windows on the same user, canonical-bin dedup (each pair
    // once, no distinct pass), overlap duration graded in exact µs.
    ("q_overlap_join",
      (s: SparkSession, d: String) => {
        val ev = t(s, d, "events")
        val a = ev.filter(col("event_id") % 4 === 0)
          .select(col("event_id").as("a_id"), col("user_id"),
            col("ts").as("a_lo"),
            timestamp_micros(unix_micros(col("ts")) +
              (lit(1L) + col("event_id") % 3) * 3600L * 1000000L).as("a_hi"))
        val b = ev.filter(col("event_id") % 4 === 1)
          .select(col("event_id").as("b_id"),
            col("user_id").as("user_id_b"),
            col("ts").as("b_lo"),
            timestamp_micros(unix_micros(col("ts")) + 1800L * 1000000L).as("b_hi"))
        Temporal.overlapJoin(a, b.withColumnRenamed("user_id_b", "user_id"),
            "user_id", "a_lo", "a_hi", "b_lo", "b_hi", binSeconds = 3600L)
          .select(col("a_id"), col("b_id"), col("user_id"),
            (unix_micros(least(col("a_hi"), col("b_hi"))) -
              unix_micros(greatest(col("a_lo"), col("b_lo")))).as("overlap_us"))
          .orderBy("a_id", "b_id")
      },
      Some("""WITH a AS (SELECT event_id AS a_id, user_id, ts AS a_lo,
             |    make_timestamp(epoch_us(ts) + (1 + event_id % 3) * 3600 * 1000000) AS a_hi
             |  FROM events WHERE event_id % 4 = 0),
             |b AS (SELECT event_id AS b_id, user_id, ts AS b_lo,
             |    make_timestamp(epoch_us(ts) + 1800 * 1000000) AS b_hi
             |  FROM events WHERE event_id % 4 = 1)
             |SELECT a_id, b_id, a.user_id,
             |  epoch_us(least(a_hi, b_hi)) - epoch_us(greatest(a_lo, b_lo)) AS overlap_us
             |FROM a JOIN b ON a.user_id = b.user_id
             |  AND b_lo <= a_hi AND a_lo <= b_hi
             |ORDER BY a_id, b_id""".stripMargin)),

    // ---- events: time-window aggregation (streaming-shaped, batch-checked) --

    ("q_events_hourly_window",
      (s: SparkSession, d: String) =>
        t(s, d, "events")
          .groupBy(date_format(date_trunc("hour", col("ts")), "yyyy-MM-dd HH:mm:ss").as("hour_ts"),
            col("event_type"))
          .agg(count(lit(1)).as("n_events"),
            Relational.stableAvg(col("value"), scale = 4).as("avg_value"))
          .orderBy("hour_ts", "event_type"),
      Some("""SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour_ts, event_type,
             |  count(*) AS n_events,
             |  ((2*CAST(round(sum(value)*10000) AS BIGINT)*10000 + count(value)*10000)
             |   // (2*count(value)*10000)) / 10000.0 AS avg_value
             |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // ---- sessionization (gap-based, per-user windows) ----------------------

    ("q_sessionize",
      (s: SparkSession, d: String) =>
        Sessionize.sessionStats(t(s, d, "events"), "user_id", "ts", "event_id",
          gapSeconds = 1800L),
      Some("""WITH x AS (
             |  SELECT user_id, ts, event_id,
             |    CASE WHEN lag(epoch_ms(ts)) OVER w IS NULL
             |              OR epoch_ms(ts) - lag(epoch_ms(ts)) OVER w > 1800000
             |         THEN 1 ELSE 0 END AS boundary
             |  FROM events
             |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
             |y AS (
             |  SELECT user_id, ts,
             |    CAST(sum(boundary) OVER (PARTITION BY user_id ORDER BY ts, event_id
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
             |  FROM x)
             |SELECT user_id, session_id, count(*) AS n_events,
             |  strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
             |  strftime(max(ts), '%Y-%m-%d %H:%M:%S') AS session_end
             |FROM y GROUP BY user_id, session_id
             |ORDER BY user_id, session_id""".stripMargin)),

    // Doubling the corpus plants one exact duplicate per document; the
    // audit must find every pair whose two copies hash into different
    // splits — pure aggregation, no self-join (see splitLeakage scaladoc).
    ("q_split_leakage",
      (s: SparkSession, d: String) => {
        val docs = t(s, d, "documents").select("doc_id", "text")
        val doubled = docs.unionAll(
          docs.select((col("doc_id") + 10000L).as("doc_id"), col("text")))
        Curation.splitLeakage(doubled, "doc_id", "text")
      },
      Some("""WITH f AS (
             |  SELECT md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp,
             |    CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)),1,2) < 'cc' THEN 'train'
             |         WHEN substr(md5(CAST(doc_id AS VARCHAR)),1,2) < 'e6' THEN 'val'
             |         ELSE 'test' END AS split
             |  FROM (SELECT doc_id, text FROM documents
             |        UNION ALL SELECT doc_id + 10000, text FROM documents)),
             |g AS (
             |  SELECT fp,
             |    CAST(count(*) FILTER (split = 'train') AS BIGINT) AS nt,
             |    CAST(count(*) FILTER (split = 'val') AS BIGINT) AS nv,
             |    CAST(count(*) FILTER (split = 'test') AS BIGINT) AS ns
             |  FROM f GROUP BY fp)
             |SELECT count(*) AS n_fingerprints,
             |  CAST(sum(CASE WHEN nt + nv + ns > 1 THEN 1 ELSE 0 END) AS BIGINT)
             |    AS n_dup_groups,
             |  CAST(sum(nt*nv + nt*ns + nv*ns) AS BIGINT) AS cross_split_pairs,
             |  CAST(sum(CAST(nt*(nt-1)/2 AS BIGINT) + CAST(nv*(nv-1)/2 AS BIGINT)
             |           + CAST(ns*(ns-1)/2 AS BIGINT)) AS BIGINT) AS within_split_pairs
             |FROM g""".stripMargin)),

    ("q_grouped_quantiles",
      (s: SparkSession, d: String) => {
        val nt = TextAnalysis.tokenCount(col("text")).cast("long")
        t(s, d, "documents").select(col("source"), nt.as("nt"))
          .groupBy("source")
          .agg(
            count(lit(1)).as("n_docs"),
            round(expr("percentile(nt, 0.5d)"), 4).as("p50"),
            round(expr("percentile(nt, 0.9d)"), 4).as("p90"))
          .orderBy("source")
      },
      Some("""WITH n AS (
             |  SELECT source, CAST(CASE WHEN trim(text) = '' THEN 0
             |    ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS BIGINT) AS nt
             |  FROM documents)
             |SELECT source, count(*) AS n_docs,
             |  round(quantile_cont(nt, 0.5), 4) AS p50,
             |  round(quantile_cont(nt, 0.9), 4) AS p90
             |FROM n GROUP BY source ORDER BY source""".stripMargin)),

    // the 100 TB path for grouped quantiles: approx_percentile (t-digest,
    // O(accuracy) state per group, map-side combined) graded against the
    // exact per-group percentile with an in-tolerance boolean — the
    // q_sketch_checks pattern, proving the sketch's error bound on real
    // data rather than trusting it
    ("q_grouped_quantiles_approx",
      (s: SparkSession, d: String) => {
        // the sketch's guarantee is on RANK, not value (on discrete data
        // the interpolated exact percentile can sit between far-apart
        // elements, so value tolerance is the wrong check): the returned
        // element's rank interval [count(<a), count(<=a)]/n must bracket
        // the target quantile within the accuracy bound. Beside the
        // builtin t-digest (not engine-replayable, hence booleans), the
        // row also grades a REPLAYABLE quantile sketch: bottom-64-by-md5
        // row sample per group (deterministic uniform draw, O(64) heap
        // state map-side via topk_pairs — never a per-group window), with
        // its lower-median a hash-graded DATA VALUE the oracle rebuilds.
        val nt = TextAnalysis.tokenCount(col("text")).cast("long")
        val docs = t(s, d, "documents")
          .select(col("doc_id"), col("source"), nt.as("nt"))
          .localCheckpoint(eager = false)
        val approx = docs.groupBy("source").agg(
          count(lit(1)).as("n_docs"),
          expr("percentile(nt, 0.5d)").as("_p50e"),
          expr("approx_percentile(nt, 0.5d, 1000)").as("_p50a"),
          expr("percentile(nt, 0.9d)").as("_p90e"),
          expr("approx_percentile(nt, 0.9d, 1000)").as("_p90a"))
        val sampled = docs
          .withColumn("_h", conv(substring(md5(concat(lit("qs:"),
            col("doc_id").cast("string"))), 1, 8), 16, 10).cast("long"))
          .groupBy("source")
          .agg(graft.functions.topk_pairs(-col("_h"), col("nt"), 64).as("_top"))
          .select(col("source"),
            array_sort(expr("transform(_top, p -> p.id)")).as("_vals"))
          .select(col("source"),
            element_at(col("_vals"), ((size(col("_vals")) + 1) / 2)
              .cast("int")).as("p50_sample"),
            size(col("_vals")).cast("long").as("n_sample"))
        val eps = 0.02 // >= 1/accuracy, plus slack
        def rankOk(a: Column, q: Double): Column =
          (count(when(col("nt") <= a, 1)).cast("double") / count(lit(1)) >= q - eps) &&
            (count(when(col("nt") < a, 1)).cast("double") / count(lit(1)) <= q + eps)
        docs.join(broadcast(approx), Seq("source"))
          .groupBy("source")
          .agg(
            max(col("n_docs")).as("n_docs"),
            round(max(col("_p50e")), 4).as("p50_exact"),
            rankOk(col("_p50a"), 0.5).as("p50_ok"),
            round(max(col("_p90e")), 4).as("p90_exact"),
            rankOk(col("_p90a"), 0.9).as("p90_ok"))
          .join(broadcast(sampled), Seq("source"))
          .orderBy("source")
      },
      Some("""WITH n AS (
             |  SELECT doc_id, source, CAST(CASE WHEN trim(text) = '' THEN 0
             |    ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS BIGINT) AS nt
             |  FROM documents),
             |h AS (SELECT source, nt,
             |    ('0x' || substr(md5('qs:' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT AS h
             |  FROM n),
             |samp AS (SELECT source, nt FROM (
             |    SELECT source, nt,
             |      row_number() OVER (PARTITION BY source ORDER BY h, nt) AS rn
             |    FROM h) WHERE rn <= 64),
             |med AS (SELECT source, nt AS p50_sample, m AS n_sample FROM (
             |    SELECT source, nt,
             |      row_number() OVER (PARTITION BY source ORDER BY nt) AS r,
             |      count(*) OVER (PARTITION BY source) AS m
             |    FROM samp) WHERE r = (m + 1) // 2)
             |SELECT n.source, count(*) AS n_docs,
             |  round(quantile_cont(nt, 0.5), 4) AS p50_exact, true AS p50_ok,
             |  round(quantile_cont(nt, 0.9), 4) AS p90_exact, true AS p90_ok,
             |  max(med.p50_sample) AS p50_sample,
             |  CAST(max(med.n_sample) AS BIGINT) AS n_sample
             |FROM n JOIN med ON med.source = n.source
             |GROUP BY n.source ORDER BY n.source""".stripMargin)),

    // Trailing 1-hour moving average per user, RANGE-framed over epoch
    // millis on BOTH engines (a time-cast frame would truncate sub-second
    // precision differently); the exact-integer-units avg keeps the two
    // engines' accumulation orders from leaking into the rounding.
    ("q_moving_avg",
      (s: SparkSession, d: String) => {
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy(col("user_id"))
          .orderBy(unix_millis(col("ts")))
          .rangeBetween(-3599999L, 0L)
        t(s, d, "events")
          .select(col("event_id"), col("user_id"),
            date_format(col("ts"), "yyyy-MM-dd HH:mm:ss").as("ts_s"),
            {
              // same integer half-up rounding as Relational.stableAvg, over
              // the window frame: a BIGINT quotient can't sit on a half-point
              val sW = round(sum(col("value")).over(w) * 10000).cast("long")
              val nW = count(col("value")).over(w)
              (graft.functions.integral_divide(
                sW * 10000L * 2 + nW * 10000L, nW * 10000L * 2)
                .cast("double") / 10000.0d).as("mov_avg")
            })
          .orderBy("event_id")
      },
      Some("""SELECT event_id, user_id,
             |  strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts_s,
             |  ((2*CAST(round(sum(value) OVER w * 10000) AS BIGINT)*10000
             |     + count(value) OVER w * 10000)
             |   // (2*count(value) OVER w * 10000)) / 10000.0 AS mov_avg
             |FROM events
             |WINDOW w AS (PARTITION BY user_id ORDER BY epoch_ms(ts)
             |  RANGE BETWEEN 3599999 PRECEDING AND CURRENT ROW)
             |ORDER BY event_id""".stripMargin)),

    // ---- temporal joins (as-of / range — composed, DuckDB-native oracles) --

    // Point-in-time join: every event picks up its user's hourly snapshot
    // (max value within the latest hour at-or-before the event). The oracle
    // is DuckDB's native ASOF JOIN — an independent implementation of the
    // same semantics, not a replay of ours.
    ("q_asof_join",
      (s: SparkSession, d: String) => {
        val ev = t(s, d, "events")
        val dim = ev
          .groupBy(col("user_id"), date_trunc("hour", col("ts")).as("ts"))
          .agg(max(col("value")).as("snap_value"))
        val probe = ev.select("event_id", "user_id", "ts", "value")
        Temporal.asofJoin(probe, dim, "user_id", "ts", Seq("snap_value"))
          .select(col("event_id"), col("user_id"),
            date_format(col("ts"), "yyyy-MM-dd HH:mm:ss").as("ts_s"),
            col("value"), col("snap_value"))
          .orderBy("event_id")
      },
      Some("""WITH dim AS (
             |  SELECT user_id, date_trunc('hour', ts) AS dts, max(value) AS snap_value
             |  FROM events GROUP BY 1, 2)
             |SELECT e.event_id, e.user_id,
             |  strftime(e.ts, '%Y-%m-%d %H:%M:%S') AS ts_s, e.value, d.snap_value
             |FROM events e ASOF LEFT JOIN dim d
             |  ON e.user_id = d.user_id AND e.ts >= d.dts
             |ORDER BY e.event_id""".stripMargin)),

    // Directional as-of joins — the rest of the pandas merge_asof
    // surface: forward (earliest snapshot at-or-after) and nearest
    // (closer of the two, exact tie backward — pandas' rule), both from
    // the same one-exchange union/window formulation with the dim
    // timestamp riding in the payload. DuckDB replays forward natively
    // (ASOF with <=) and nearest as a CASE over both directions, so
    // every pick — including the µs tie arithmetic — is graded.
    ("q_asof_directions",
      (s: SparkSession, d: String) => {
        val ev = t(s, d, "events")
        val dim = ev
          .groupBy(col("user_id"), date_trunc("hour", col("ts")).as("ts"))
          .agg(max(col("value")).as("snap_value"))
        val probe = ev.select("event_id", "user_id", "ts")
        val fwd = Temporal.asofJoinDirectional(probe, dim, "user_id", "ts",
            Seq("snap_value"), "forward")
          .withColumnRenamed("snap_value", "fwd_value")
        val near = Temporal.asofJoinDirectional(probe, dim, "user_id", "ts",
            Seq("snap_value"), "nearest")
          .withColumnRenamed("snap_value", "near_value")
        fwd.join(near, Seq("event_id", "user_id", "ts"))
          .select(col("event_id"),
            date_format(col("ts"), "yyyy-MM-dd HH:mm:ss").as("ts_s"),
            col("fwd_value"), col("near_value"))
          .orderBy("event_id")
      },
      Some("""WITH dim AS (
             |  SELECT user_id, date_trunc('hour', ts) AS dts, max(value) AS snap_value
             |  FROM events GROUP BY 1, 2),
             |b AS (SELECT e.event_id, e.user_id, e.ts, d.dts AS bts,
             |        d.snap_value AS bval
             |      FROM events e ASOF LEFT JOIN dim d
             |        ON e.user_id = d.user_id AND e.ts >= d.dts),
             |f AS (SELECT e.event_id, d.dts AS fts, d.snap_value AS fval
             |      FROM events e ASOF LEFT JOIN dim d
             |        ON e.user_id = d.user_id AND e.ts <= d.dts)
             |SELECT b.event_id, strftime(b.ts, '%Y-%m-%d %H:%M:%S') AS ts_s,
             |  f.fval AS fwd_value,
             |  CASE WHEN b.bval IS NULL THEN f.fval
             |       WHEN f.fval IS NULL THEN b.bval
             |       WHEN epoch_us(b.ts) - epoch_us(b.bts)
             |            <= epoch_us(f.fts) - epoch_us(b.ts) THEN b.bval
             |       ELSE f.fval END AS near_value
             |FROM b JOIN f ON f.event_id = b.event_id
             |ORDER BY b.event_id""".stripMargin)),

    // SCD2 history: customer priority states over time — consecutive
    // identical states collapse, valid_to = next valid_from, NULL = current.
    // The change stream is pre-aggregated per (key, instant), the SCD2
    // uniqueness precondition.
    ("q_scd2_history",
      (s: SparkSession, d: String) => {
        val changes = t(s, d, "orders")
          .groupBy(col("o_custkey"), col("o_orderdate"))
          .agg(min(col("o_orderpriority")).as("prio"))
        Temporal.scd2History(changes, "o_custkey", "o_orderdate", Seq("prio"))
          .select(col("o_custkey"), col("prio"),
            date_format(col("valid_from"), "yyyy-MM-dd HH:mm:ss").as("valid_from"),
            date_format(col("valid_to"), "yyyy-MM-dd HH:mm:ss").as("valid_to"),
            col("is_current"))
          .orderBy("o_custkey", "valid_from")
      },
      Some("""WITH ch AS (
             |  SELECT o_custkey AS k, o_orderdate AS eff, min(o_orderpriority) AS prio
             |  FROM orders GROUP BY 1, 2),
             |d AS (
             |  SELECT k, eff, prio,
             |    lag(prio) OVER (PARTITION BY k ORDER BY eff) AS prev
             |  FROM ch),
             |v AS (SELECT k, eff, prio FROM d WHERE prev IS NULL OR prev <> prio),
             |h AS (
             |  SELECT k, prio, eff AS vf,
             |    lead(eff) OVER (PARTITION BY k ORDER BY eff) AS vt
             |  FROM v)
             |SELECT k AS o_custkey, prio,
             |  strftime(vf, '%Y-%m-%d %H:%M:%S') AS valid_from,
             |  strftime(vt, '%Y-%m-%d %H:%M:%S') AS valid_to,
             |  vt IS NULL AS is_current
             |FROM h ORDER BY o_custkey, valid_from""".stripMargin)),

    // Interval containment: events joined into their session's [start, end]
    // window; per-session counts must reproduce sessionStats. The oracle is
    // a plain inequality join over the replayed session bounds.
    ("q_range_join",
      (s: SparkSession, d: String) => {
        val ev = t(s, d, "events")
        val intervals = Sessionize
          .sessions(ev, "user_id", "ts", "event_id", gapSeconds = 1800L)
          .groupBy(col("user_id"), col("session_id"))
          .agg(min(col("ts")).as("lo"), max(col("ts")).as("hi"))
        Temporal.rangeJoin(ev.select("user_id", "event_id", "ts"), intervals,
          "user_id", "ts", "lo", "hi", binSeconds = 3600L)
          .groupBy("user_id", "session_id")
          .agg(count(lit(1)).as("n_in_range"))
          .orderBy("user_id", "session_id")
      },
      Some("""WITH x AS (
             |  SELECT user_id, ts, event_id,
             |    CASE WHEN lag(epoch_ms(ts)) OVER w IS NULL
             |              OR epoch_ms(ts) - lag(epoch_ms(ts)) OVER w > 1800000
             |         THEN 1 ELSE 0 END AS boundary
             |  FROM events
             |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
             |y AS (
             |  SELECT user_id, ts,
             |    CAST(sum(boundary) OVER (PARTITION BY user_id ORDER BY ts, event_id
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
             |  FROM x),
             |b AS (SELECT user_id, session_id, min(ts) AS lo, max(ts) AS hi
             |      FROM y GROUP BY 1, 2)
             |SELECT b.user_id, b.session_id, count(*) AS n_in_range
             |FROM b JOIN events e
             |  ON e.user_id = b.user_id AND e.ts BETWEEN b.lo AND b.hi
             |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // ---- D1 data-quality rules ---------------------------------------------

    ("q_dq_check",
      (s: SparkSession, d: String) => {
        val docs = t(s, d, "documents")
        val dup = Unique("doc_id").violations(docs)
          .agg(coalesce(sum(col("n") - 1), lit(0L)).as("dup_rows"))
        val nul = NotNull("doc_id").violations(docs)
          .agg(count(lit(1)).as("null_rows"))
        val bad = AcceptedValues("lang", Seq("en", "de", "es", "fr", "zh")).violations(docs)
          .agg(count(lit(1)).as("bad_lang_rows"))
        val rng = InRange("n_chars", 0d, 1000000d).violations(docs)
          .agg(count(lit(1)).as("out_of_range_rows"))
        val rex = MatchesRegex("source", "^src[0-9]+$").violations(docs)
          .agg(count(lit(1)).as("bad_source_rows"))
        dup.crossJoin(nul).crossJoin(bad).crossJoin(rng).crossJoin(rex)
      },
      Some("""SELECT
             |  CAST((SELECT coalesce(sum(n - 1), 0) FROM (
             |    SELECT count(*) AS n FROM documents GROUP BY doc_id
             |    HAVING count(*) > 1)) AS BIGINT) AS dup_rows,
             |  (SELECT count(*) FROM documents WHERE doc_id IS NULL) AS null_rows,
             |  (SELECT count(*) FROM documents
             |   WHERE lang IS NULL OR lang NOT IN ('en','de','es','fr','zh')) AS bad_lang_rows,
             |  (SELECT count(*) FROM documents
             |   WHERE n_chars < 0 OR n_chars > 1000000) AS out_of_range_rows,
             |  (SELECT count(*) FROM documents
             |   WHERE source IS NULL OR NOT regexp_matches(source, '^src[0-9]+$'))
             |    AS bad_source_rows""".stripMargin)),

    // ---- text analysis ------------------------------------------------------

    ("q_token_stats",
      (s: SparkSession, d: String) =>
        TextAnalysis.tokenStats(t(s, d, "documents"), "doc_id", "text")
          .orderBy("doc_id"),
      Some("""SELECT doc_id,
             |  CAST(CASE WHEN trim(text) = '' THEN 0
             |       ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS BIGINT) AS n_tokens,
             |  CAST(CASE WHEN trim(text) = '' THEN 0
             |       ELSE len(list_distinct(regexp_split_to_array(trim(text), '\s+'))) END AS BIGINT) AS n_distinct_tokens
             |FROM documents ORDER BY doc_id""".stripMargin)),

    ("q_bpe_token_count",
      (s: SparkSession, d: String) =>
        t(s, d, "documents")
          .select(col("doc_id"),
            TextAnalysis.bpeTokenCount(col("text")).as("n_bpe_tokens"))
          .orderBy("doc_id"),
      Some("""SELECT doc_id,
             |  CAST(len(regexp_extract_all(text,
             |    '''(?:s|t|re|ve|m|ll|d)| ?[\p{L}]+| ?[\p{N}]+| ?[^\s\p{L}\p{N}]+|\s+'))
             |    AS BIGINT) AS n_bpe_tokens
             |FROM documents ORDER BY doc_id""".stripMargin)),

    ("q_quality_score",
      (s: SparkSession, d: String) =>
        TextAnalysis.qualityScore(t(s, d, "documents"), "doc_id", "text")
          .orderBy("doc_id"),
      Some("""WITH t AS (
             |  SELECT doc_id, text,
             |    CASE WHEN trim(text) = '' THEN []::VARCHAR[]
             |         ELSE regexp_split_to_array(trim(text), '\s+') END AS toks
             |  FROM documents)
             |SELECT doc_id,
             |  CAST(length(text) AS BIGINT) AS n_chars,
             |  CAST(len(toks) AS BIGINT) AS n_tokens,
             |  round(length(regexp_replace(text, '\s+', '', 'g')) / NULLIF(len(toks), 0), 4) AS avg_token_len,
             |  round(len(list_filter(toks, x -> lower(x) IN
             |    ('the','a','an','of','and','to','in','is','it','that'))) / NULLIF(len(toks), 0), 4) AS stopword_ratio,
             |  round((length(text) - length(regexp_replace(text, '[[:punct:]]', '', 'g')))
             |        / greatest(length(text), 1), 4) AS punct_ratio
             |FROM t ORDER BY doc_id""".stripMargin)),

    // Encoding-damage census on a corpus with PLANTED mojibake (both
    // engines apply the same deterministic damage: double-encoded UTF-8
    // + U+FFFD on the %7 stripe, C1 controls on the %11 stripe): every
    // count and the BIGINT ppm score graded cell-exact. The oracle
    // builds its character classes with chr() — RE2 has no \uXXXX.
    ("q_encoding_quality",
      (s: SparkSession, d: String) => {
        val damaged = t(s, d, "documents").select(col("doc_id"),
          when(col("doc_id") % 7 === 0,
            concat(col("text"), lit(" cafÃ© � naÃ¯ve")))
          .when(col("doc_id") % 11 === 0,
            concat(lit("\u0085bad\u0092ctrl "), col("text")))
          .otherwise(col("text")).as("text"))
        TextAnalysis.encodingQuality(damaged, "doc_id", "text")
          .orderBy("doc_id")
      },
      Some("""WITH p AS (SELECT doc_id,
             |    CASE WHEN doc_id % 7 = 0 THEN text || ' caf' || chr(195) || chr(169)
             |           || ' ' || chr(65533) || ' na' || chr(195) || chr(175) || 've'
             |         WHEN doc_id % 11 = 0 THEN chr(133) || 'bad' || chr(146) || 'ctrl ' || text
             |         ELSE text END AS t
             |  FROM documents),
             |c AS (SELECT doc_id, CAST(length(t) AS BIGINT) AS n_chars,
             |    CAST(length(t) - length(replace(t, chr(65533), '')) AS BIGINT)
             |      AS n_replacement,
             |    CAST(length(t) - length(regexp_replace(t,
             |      '[' || chr(128) || '-' || chr(159) || ']', '', 'g')) AS BIGINT)
             |      AS n_c1_controls,
             |    CAST(len(regexp_extract_all(t, '[' || chr(194) || chr(195) || ']['
             |      || chr(128) || '-' || chr(191) || ']')) AS BIGINT) AS n_double_utf8
             |  FROM p)
             |SELECT doc_id, n_chars, n_replacement, n_c1_controls, n_double_utf8,
             |  CAST((1000000 * (n_replacement + n_c1_controls + n_double_utf8))
             |    // greatest(n_chars, 1) AS BIGINT) AS mojibake_ppm
             |FROM c ORDER BY doc_id""".stripMargin)),

    // Unicode-script census on a corpus with PLANTED multilingual tails
    // (Cyrillic / CJK / Arabic stripes applied identically by both
    // engines): every per-script count, the n_other remainder, and the
    // tie-broken dominant_script graded cell-exact. Codepoint ranges,
    // not \p{Script} — RE2 and Java regex agree on ranges everywhere.
    ("q_script_census",
      (s: SparkSession, d: String) => {
        val planted = t(s, d, "documents").select(col("doc_id"),
          when(col("doc_id") % 5 === 0, concat(col("text"), lit(" Привет мир")))
          .when(col("doc_id") % 5 === 1, concat(col("text"), lit(" 你好世界")))
          .when(col("doc_id") % 5 === 2, concat(col("text"), lit(" مرحبا 42")))
          .otherwise(col("text")).as("text"))
        TextAnalysis.scriptCensus(planted, "doc_id", "text")
          .orderBy("doc_id")
      },
      Some("""WITH p AS (SELECT doc_id,
             |    CASE WHEN doc_id % 5 = 0 THEN text || ' Привет мир'
             |         WHEN doc_id % 5 = 1 THEN text || ' 你好世界'
             |         WHEN doc_id % 5 = 2 THEN text || ' مرحبا 42'
             |         ELSE text END AS t
             |  FROM documents),
             |c AS (SELECT doc_id, CAST(length(t) AS BIGINT) AS n_chars,
             |    CAST(length(t) - length(regexp_replace(t,
             |      '[A-Za-z\x{00C0}-\x{024F}]', '', 'g')) AS BIGINT) AS n_latin,
             |    CAST(length(t) - length(regexp_replace(t,
             |      '[\x{4E00}-\x{9FFF}\x{3040}-\x{30FF}]', '', 'g')) AS BIGINT) AS n_cjk,
             |    CAST(length(t) - length(regexp_replace(t,
             |      '[\x{0400}-\x{04FF}]', '', 'g')) AS BIGINT) AS n_cyrillic,
             |    CAST(length(t) - length(regexp_replace(t,
             |      '[\x{0600}-\x{06FF}]', '', 'g')) AS BIGINT) AS n_arabic,
             |    CAST(length(t) - length(regexp_replace(t,
             |      '[\x{0370}-\x{03FF}]', '', 'g')) AS BIGINT) AS n_greek,
             |    CAST(length(t) - length(regexp_replace(t,
             |      '[\x{AC00}-\x{D7AF}\x{1100}-\x{11FF}]', '', 'g')) AS BIGINT) AS n_hangul,
             |    CAST(length(t) - length(regexp_replace(t,
             |      '[0-9]', '', 'g')) AS BIGINT) AS n_digit
             |  FROM p)
             |SELECT doc_id, n_chars, n_latin, n_cjk, n_cyrillic, n_arabic,
             |  n_greek, n_hangul, n_digit,
             |  n_chars - n_latin - n_cjk - n_cyrillic - n_arabic - n_greek
             |    - n_hangul - n_digit AS n_other,
             |  CASE WHEN greatest(n_latin, n_cjk, n_cyrillic, n_arabic,
             |         n_greek, n_hangul) = 0 THEN 'none'
             |       WHEN n_latin = greatest(n_latin, n_cjk, n_cyrillic,
             |         n_arabic, n_greek, n_hangul) THEN 'latin'
             |       WHEN n_cjk = greatest(n_cjk, n_cyrillic, n_arabic,
             |         n_greek, n_hangul) THEN 'cjk'
             |       WHEN n_cyrillic = greatest(n_cyrillic, n_arabic,
             |         n_greek, n_hangul) THEN 'cyrillic'
             |       WHEN n_arabic = greatest(n_arabic, n_greek, n_hangul)
             |         THEN 'arabic'
             |       WHEN n_greek = greatest(n_greek, n_hangul) THEN 'greek'
             |       ELSE 'hangul' END AS dominant_script
             |FROM c ORDER BY doc_id""".stripMargin)),

    ("q_lang_id",
      (s: SparkSession, d: String) =>
        t(s, d, "documents")
          .select(col("doc_id"), TextAnalysis.langId(col("text")).as("lang_pred"))
          .orderBy("doc_id"),
      Some("""WITH t AS (
             |  SELECT doc_id, text,
             |    CASE WHEN trim(text) = '' THEN []::VARCHAR[]
             |         ELSE regexp_split_to_array(lower(trim(text)), '\s+') END AS toks
             |  FROM documents),
             |h AS (
             |  SELECT doc_id, text,
             |    len(list_filter(toks, x -> x IN ('the','and','of','to','is'))) AS h_en,
             |    len(list_filter(toks, x -> x IN ('der','die','das','und','ist'))) AS h_de,
             |    len(list_filter(toks, x -> x IN ('el','los','que','es','una'))) AS h_es,
             |    len(list_filter(toks, x -> x IN ('le','les','des','est','une'))) AS h_fr
             |  FROM t)
             |SELECT doc_id,
             |  CASE WHEN length(regexp_replace(text, '[^\x{4e00}-\x{9fff}]', '', 'g')) > 0 THEN 'zh'
             |       WHEN h_en = greatest(h_en, h_de, h_es, h_fr) AND h_en > 0 THEN 'en'
             |       WHEN h_de = greatest(h_en, h_de, h_es, h_fr) AND h_de > 0 THEN 'de'
             |       WHEN h_es = greatest(h_en, h_de, h_es, h_fr) AND h_es > 0 THEN 'es'
             |       WHEN h_fr = greatest(h_en, h_de, h_es, h_fr) AND h_fr > 0 THEN 'fr'
             |       ELSE 'und' END AS lang_pred
             |FROM h ORDER BY doc_id""".stripMargin)),

    // Gopher/C4-style repetition + structure signals (all exact integer
    // counts until the final division — bit-reproducible)
    // TOKENIZER FERTILITY BY SCRIPT — the multilingual tokenizer-eval
    // composition: dominant-script census × BPE subword counts, per
    // script group the weighted mean subwords-per-word (fertility; the
    // signal that says "this tokenizer is 4× more expensive on CJK").
    // Scripts are planted (some docs replaced with cyrillic/CJK bodies)
    // so more than one group exists; the oracle independently replays
    // BOTH stages — the census greatest-CASE and the two-sided fenced
    // greedy segmentation — and the exact integer sums + 4dp ratio.
    ("q_tokenizer_fertility",
      (s: SparkSession, d: String) => {
        import s.implicits._
        val planted = t(s, d, "documents").select(col("doc_id"),
          when(col("doc_id") % 7 === 0, lit("Привет мир снова и снова"))
            .when(col("doc_id") % 7 === 1, lit("你好世界 再见了 朋友"))
            .otherwise(col("text")).as("text"))
        val script = TextAnalysis.scriptCensus(planted, "doc_id", "text")
          .select(col("doc_id"), col("dominant_script"))
        val merges = Seq((0L, "a", "t"), (1L, "t", "a"), (2L, "ta", "b"),
          (3L, "l", "e"), (4L, "e", "r")).toDF("rank", "left", "right")
        val sub = Bpe.encode(planted, "doc_id", "text", merges)
          .groupBy("doc_id").agg(count(lit(1)).as("n_subwords"))
        val words = planted.select(col("doc_id"),
          when(trim(col("text")) === "", lit(0L))
            .otherwise(size(split(trim(col("text")), "\\s+")).cast("long"))
            .as("n_words"))
        words.join(sub, Seq("doc_id")).join(script, Seq("doc_id"))
          .groupBy("dominant_script")
          .agg(count(lit(1)).as("n_docs"),
            sum(col("n_words")).as("n_words"),
            sum(col("n_subwords")).as("n_subwords"))
          .select(col("dominant_script"), col("n_docs").cast("long").as("n_docs"),
            col("n_words").cast("long").as("n_words"),
            col("n_subwords").cast("long").as("n_subwords"),
            round(col("n_subwords").cast("double") / col("n_words"), 4)
              .as("fertility"))
          .orderBy("dominant_script")
      },
      Some("""WITH p AS (SELECT doc_id,
             |    CASE WHEN doc_id % 7 = 0 THEN 'Привет мир снова и снова'
             |         WHEN doc_id % 7 = 1 THEN '你好世界 再见了 朋友'
             |         ELSE text END AS t
             |  FROM documents),
             |cs AS (SELECT doc_id,
             |    CAST(length(t) - length(regexp_replace(t,
             |      '[A-Za-z\x{00C0}-\x{024F}]', '', 'g')) AS BIGINT) AS n_latin,
             |    CAST(length(t) - length(regexp_replace(t,
             |      '[\x{4E00}-\x{9FFF}\x{3040}-\x{30FF}]', '', 'g')) AS BIGINT) AS n_cjk,
             |    CAST(length(t) - length(regexp_replace(t,
             |      '[\x{0400}-\x{04FF}]', '', 'g')) AS BIGINT) AS n_cyrillic,
             |    CAST(length(t) - length(regexp_replace(t,
             |      '[\x{0600}-\x{06FF}]', '', 'g')) AS BIGINT) AS n_arabic,
             |    CAST(length(t) - length(regexp_replace(t,
             |      '[\x{0370}-\x{03FF}]', '', 'g')) AS BIGINT) AS n_greek,
             |    CAST(length(t) - length(regexp_replace(t,
             |      '[\x{AC00}-\x{D7AF}\x{1100}-\x{11FF}]', '', 'g')) AS BIGINT) AS n_hangul
             |  FROM p),
             |sc AS (SELECT doc_id,
             |    CASE WHEN greatest(n_latin, n_cjk, n_cyrillic, n_arabic,
             |           n_greek, n_hangul) = 0 THEN 'none'
             |         WHEN n_latin = greatest(n_latin, n_cjk, n_cyrillic,
             |           n_arabic, n_greek, n_hangul) THEN 'latin'
             |         WHEN n_cjk = greatest(n_cjk, n_cyrillic, n_arabic,
             |           n_greek, n_hangul) THEN 'cjk'
             |         WHEN n_cyrillic = greatest(n_cyrillic, n_arabic,
             |           n_greek, n_hangul) THEN 'cyrillic'
             |         WHEN n_arabic = greatest(n_arabic, n_greek, n_hangul)
             |           THEN 'arabic'
             |         WHEN n_greek = greatest(n_greek, n_hangul) THEN 'greek'
             |         ELSE 'hangul' END AS ds
             |  FROM cs),
             |tok AS (SELECT doc_id,
             |    unnest(regexp_split_to_array(trim(t), '\s+')) AS w
             |  FROM p WHERE trim(t) <> ''),
             |seg AS (SELECT doc_id,
             |    replace(replace(replace(replace(replace(
             |      chr(1) || array_to_string(regexp_split_to_array(w, ''), chr(2)||chr(1)) || chr(2),
             |      chr(1)||'a'||chr(2)||chr(1)||'t'||chr(2), chr(1)||'at'||chr(2)),
             |      chr(1)||'t'||chr(2)||chr(1)||'a'||chr(2), chr(1)||'ta'||chr(2)),
             |      chr(1)||'ta'||chr(2)||chr(1)||'b'||chr(2), chr(1)||'tab'||chr(2)),
             |      chr(1)||'l'||chr(2)||chr(1)||'e'||chr(2), chr(1)||'le'||chr(2)),
             |      chr(1)||'e'||chr(2)||chr(1)||'r'||chr(2), chr(1)||'er'||chr(2)) AS sg
             |  FROM tok),
             |cnt AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_words,
             |    CAST(sum(len(list_filter(string_split(replace(sg, chr(2), chr(1)), chr(1)), x -> x <> '')))
             |      AS BIGINT) AS n_subwords
             |  FROM seg GROUP BY doc_id)
             |SELECT sc.ds AS dominant_script,
             |  CAST(count(*) AS BIGINT) AS n_docs,
             |  CAST(sum(cnt.n_words) AS BIGINT) AS n_words,
             |  CAST(sum(cnt.n_subwords) AS BIGINT) AS n_subwords,
             |  round(CAST(sum(cnt.n_subwords) AS DOUBLE) / sum(cnt.n_words), 4)
             |    AS fertility
             |FROM cnt JOIN sc USING (doc_id)
             |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // Gopher n-gram repetition signals at n=3: most-frequent trigram
    // (deterministic tie-break to the lex-smallest), its occurrence
    // fraction, and the duplicated-trigram mass fraction — every cell
    // replayed by DuckDB over the same token stream, incl. the tie-break
    // (the oracle takes min(gram) among max-count grams).
    ("q_ngram_repetition",
      (s: SparkSession, d: String) =>
        TextAnalysis.ngramRepetition(t(s, d, "documents"), "doc_id", "text", 3)
          .orderBy("doc_id"),
      Some("""WITH t AS (
             |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS a
             |  FROM documents WHERE trim(text) <> ''),
             |g AS (
             |  SELECT doc_id, array_to_string(a[i:i+2], ' ') AS gram
             |  FROM t, unnest(range(1, len(a) - 1)) u(i) WHERE len(a) >= 3),
             |c AS (SELECT doc_id, gram, count(*) AS cnt FROM g GROUP BY 1, 2),
             |s AS (SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS n_ngrams,
             |    CAST(max(cnt) AS BIGINT) AS top_count,
             |    CAST(sum(CASE WHEN cnt >= 2 THEN cnt ELSE 0 END) AS BIGINT) AS dup_mass
             |  FROM c GROUP BY 1),
             |tg AS (SELECT c.doc_id, min(c.gram) AS top_ngram
             |  FROM c JOIN s ON s.doc_id = c.doc_id AND c.cnt = s.top_count
             |  GROUP BY 1)
             |SELECT s.doc_id, s.n_ngrams, tg.top_ngram, s.top_count,
             |  round(CAST(s.top_count AS DOUBLE) / s.n_ngrams, 4) AS top_ngram_frac,
             |  round(CAST(s.dup_mass AS DOUBLE) / s.n_ngrams, 4) AS dup_ngram_frac
             |FROM s JOIN tg ON tg.doc_id = s.doc_id
             |ORDER BY s.doc_id""".stripMargin)),

    ("q_repetition_stats",
      (s: SparkSession, d: String) =>
        TextAnalysis.repetitionStats(t(s, d, "documents"), "doc_id", "text")
          .orderBy("doc_id"),
      Some("""WITH t AS (
             |  SELECT doc_id,
             |    list_filter(list_transform(string_split(text, chr(10)), l -> trim(l)),
             |                l -> l <> '') AS lines,
             |    CASE WHEN trim(text) = '' THEN []::VARCHAR[]
             |         ELSE regexp_split_to_array(trim(text), '\s+') END AS toks
             |  FROM documents)
             |SELECT doc_id,
             |  CAST(len(lines) AS BIGINT) AS n_lines,
             |  round((len(lines) - len(list_distinct(lines))) / NULLIF(len(lines), 0), 4) AS dup_line_frac,
             |  round(len(list_filter(lines, l -> regexp_matches(l, '^[-*•]'))) / NULLIF(len(lines), 0), 4) AS bullet_line_frac,
             |  round(len(list_filter(lines, l -> l LIKE '%...')) / NULLIF(len(lines), 0), 4) AS ellipsis_line_frac,
             |  round(len(list_filter(toks, x -> NOT regexp_matches(x, '[\p{L}\p{N}]'))) / NULLIF(len(toks), 0), 4) AS symbol_token_ratio
             |FROM t ORDER BY doc_id""".stripMargin)),

    // corpus vocabulary heavy hitters: two-phase agg + TakeOrdered top-k
    ("q_top_tokens",
      (s: SparkSession, d: String) =>
        TextAnalysis.topTokens(t(s, d, "documents"), "text", 100),
      Some("""WITH t AS (
             |  SELECT CASE WHEN trim(text) = '' THEN []::VARCHAR[]
             |         ELSE regexp_split_to_array(lower(trim(text)), '\s+') END AS toks
             |  FROM documents),
             |u AS (SELECT unnest(toks) AS token FROM t)
             |SELECT token, count(*) AS n FROM u
             |GROUP BY token ORDER BY n DESC, token LIMIT 100""".stripMargin)),

    // BPE merge TRAINING (Sennrich subword learning) — the corpus is
    // touched once (word counts); the k merge iterations run over the
    // O(distinct words) table, which is what makes BPE trainable at
    // 100 TB. The ENTIRE learned 3-merge table is graded hash-exact:
    // DuckDB replays each round's weighted pair count + tie-break AND
    // the greedy within-word rewrite. The fencing is TWO-SIDED —
    // symbol s rides as chr(1)‖s‖chr(2) — so adjacent pattern
    // occurrences share ZERO characters and one leftmost
    // non-overlapping replace IS mergePair exactly, including on
    // XYXY runs ('erer' → [er,er]) and odd same-symbol runs
    // ('eeeee' + (e,e) → [ee,ee,e]) where a shared-fence encoding
    // (or even its fixpoint) diverges. The equivalence is graded
    // directly on trigger words by q_bpe_adversarial and pinned by
    // BpeSpec's hand-computed corpus.
    ("q_bpe_train",
      (s: SparkSession, d: String) =>
        Bpe.train(t(s, d, "documents"), "text", numMerges = 3)
          .orderBy("rank"),
      Some("""WITH tk AS (
             |  SELECT CASE WHEN trim(text) = '' THEN []::VARCHAR[]
             |         ELSE regexp_split_to_array(trim(text), '\s+') END AS toks
             |  FROM documents),
             |w AS (SELECT unnest(toks) AS word FROM tk),
             |wc AS (SELECT word, count(*) AS n FROM w GROUP BY word),
             |s0 AS (SELECT chr(1) || array_to_string(
             |         regexp_split_to_array(word, ''), chr(2)||chr(1)) || chr(2) AS s, n
             |       FROM wc),
             |a1 AS (SELECT list_filter(string_split(replace(s, chr(2), chr(1)), chr(1)), x -> x <> '') AS arr, n FROM s0),
             |p1 AS (SELECT arr[i] AS l, arr[i+1] AS r, sum(n) AS pn
             |       FROM a1, unnest(range(1, greatest(len(arr), 1))) u(i) GROUP BY 1, 2),
             |t1 AS (SELECT l, r, CAST(pn AS BIGINT) AS pn FROM p1
             |       ORDER BY pn DESC, l, r LIMIT 1),
             |s1 AS (SELECT replace(s0.s, chr(1)||t1.l||chr(2)||chr(1)||t1.r||chr(2),
             |         chr(1)||t1.l||t1.r||chr(2)) AS s, s0.n FROM s0, t1),
             |a2 AS (SELECT list_filter(string_split(replace(s, chr(2), chr(1)), chr(1)), x -> x <> '') AS arr, n FROM s1),
             |p2 AS (SELECT arr[i] AS l, arr[i+1] AS r, sum(n) AS pn
             |       FROM a2, unnest(range(1, greatest(len(arr), 1))) u(i) GROUP BY 1, 2),
             |t2 AS (SELECT l, r, CAST(pn AS BIGINT) AS pn FROM p2
             |       ORDER BY pn DESC, l, r LIMIT 1),
             |s2 AS (SELECT replace(s1.s, chr(1)||t2.l||chr(2)||chr(1)||t2.r||chr(2),
             |         chr(1)||t2.l||t2.r||chr(2)) AS s, s1.n FROM s1, t2),
             |a3 AS (SELECT list_filter(string_split(replace(s, chr(2), chr(1)), chr(1)), x -> x <> '') AS arr, n FROM s2),
             |p3 AS (SELECT arr[i] AS l, arr[i+1] AS r, sum(n) AS pn
             |       FROM a3, unnest(range(1, greatest(len(arr), 1))) u(i) GROUP BY 1, 2),
             |t3 AS (SELECT l, r, CAST(pn AS BIGINT) AS pn FROM p3
             |       ORDER BY pn DESC, l, r LIMIT 1)
             |SELECT * FROM (
             |  SELECT CAST(0 AS BIGINT) AS rank, l AS "left", r AS "right",
             |    pn AS pair_count FROM t1
             |  UNION ALL SELECT 1, l, r, pn FROM t2
             |  UNION ALL SELECT 2, l, r, pn FROM t3)
             |ORDER BY rank""".stripMargin)),

    // BPE corpus SEGMENTATION (the train→encode→pack middle step): a
    // fixed literal merge table so the oracle replays the ENTIRE greedy
    // algorithm — DuckDB folds the merges in rank order as TWO-SIDED
    // delimiter-fenced string replaces (chr(1)‖sym‖chr(2): adjacent
    // occurrences share no characters, so one leftmost non-overlapping
    // replace IS the Sennrich within-word merge — see q_bpe_train's
    // comment for the shared-fence counterexamples), so every
    // (doc, token, subword, id)
    // row is graded hash-exact, including the rank-priority interaction
    // (a,t) before (t,a) and the recursive build (ta → tab). Spark side
    // runs the production kernel: broadcast merge table, in-row
    // lowest-rank segmentation with a per-partition memo, zero shuffle.
    ("q_bpe_encode",
      (s: SparkSession, d: String) => {
        import s.implicits._
        val merges = Seq((0L, "a", "t"), (1L, "t", "a"), (2L, "ta", "b"),
          (3L, "l", "e"), (4L, "e", "r")).toDF("rank", "left", "right")
        Bpe.encode(t(s, d, "documents").filter(col("doc_id") < 100),
            "doc_id", "text", merges)
          .orderBy("doc_id", "tok_pos", "sym_pos")
      },
      Some("""WITH t AS (
             |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS a
             |  FROM documents WHERE doc_id < 100 AND trim(text) <> ''),
             |tok AS (
             |  SELECT doc_id, CAST(i - 1 AS BIGINT) AS tok_pos, a[i] AS w
             |  FROM t, unnest(range(1, len(a)+1)) AS u(i)),
             |seg AS (
             |  SELECT doc_id, tok_pos,
             |    replace(replace(replace(replace(replace(
             |      chr(1) || array_to_string(regexp_split_to_array(w, ''), chr(2)||chr(1)) || chr(2),
             |      chr(1)||'a'||chr(2)||chr(1)||'t'||chr(2), chr(1)||'at'||chr(2)),
             |      chr(1)||'t'||chr(2)||chr(1)||'a'||chr(2), chr(1)||'ta'||chr(2)),
             |      chr(1)||'ta'||chr(2)||chr(1)||'b'||chr(2), chr(1)||'tab'||chr(2)),
             |      chr(1)||'l'||chr(2)||chr(1)||'e'||chr(2), chr(1)||'le'||chr(2)),
             |      chr(1)||'e'||chr(2)||chr(1)||'r'||chr(2), chr(1)||'er'||chr(2)) AS s
             |  FROM tok),
             |sy AS (
             |  SELECT doc_id, tok_pos,
             |    list_filter(string_split(replace(s, chr(2), chr(1)), chr(1)), x -> x <> '') AS arr
             |  FROM seg),
             |syms AS (
             |  SELECT doc_id, tok_pos, CAST(i - 1 AS BIGINT) AS sym_pos,
             |    arr[i] AS sym
             |  FROM sy, unnest(range(1, len(arr)+1)) AS u(i))
             |SELECT doc_id, tok_pos, sym_pos, sym,
             |  CAST(CASE WHEN length(sym) = 1 THEN unicode(sym)
             |       WHEN sym = 'at' THEN 65536 WHEN sym = 'ta' THEN 65537
             |       WHEN sym = 'tab' THEN 65538 WHEN sym = 'le' THEN 65539
             |       WHEN sym = 'er' THEN 65540 ELSE -1 END AS BIGINT) AS sym_id
             |FROM syms ORDER BY doc_id, tok_pos, sym_pos""".stripMargin)),

    // DEEP batched training: 64 merges learned by Bpe.trainBatched —
    // the production-scale trainer (one pair-count job per ROUND, not
    // per merge). The oracle replays the ENTIRE batched algorithm
    // independently: 16 generated rounds, each = pair count → ranked
    // window → the non-interacting acceptance anti-join → list_reduce
    // fold of the accepted two-sided fenced replaces — so all 64
    // (rank, round, left, right, pair_count) rows are hash-exact,
    // including every within-round acceptance decision and every
    // cross-round count evolution.
    ("q_bpe_train_deep",
      (s: SparkSession, d: String) =>
        Bpe.trainBatched(t(s, d, "documents"), "text", numMerges = 64,
            window = 32, maxRounds = 16)
          .orderBy("rank"),
      Some(bpeBatchedOracleSql(window = 32, rounds = 16, merges = 64))),

    // the tokenizer you TRAIN is the tokenizer you TOKENIZE with,
    // end-to-end: the 64 batched-learned merges feed Bpe.encode over the
    // same corpus, and the oracle replays BOTH stages — the full 16-round
    // training chain AND the learned-table segmentation fold — so a
    // drift anywhere in train OR encode moves per-doc subword counts.
    // (q_training_pipeline composes with a FIXED literal table; this row
    // closes the loop with the LEARNED one.)
    ("q_bpe_learned_pipeline",
      (s: SparkSession, d: String) => {
        val docs = t(s, d, "documents")
        val merges = Bpe.trainBatched(docs, "text", numMerges = 64,
          window = 32, maxRounds = 16)
        Bpe.encode(docs, "doc_id", "text", merges)
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_subwords"),
            (max(col("tok_pos")) + 1).as("n_words"))
          .select(col("doc_id"), col("n_subwords").cast("long").as("n_subwords"),
            col("n_words").cast("long").as("n_words"))
          .orderBy("doc_id")
      },
      Some(bpeBatchedOracleSql(window = 32, rounds = 16, merges = 64,
        segment = true))),

    // ADVERSARIAL oracle-vs-kernel grading on the exact word shapes
    // where a shared-fence replace oracle diverges from the greedy
    // kernel: XYXY repeats ('erer' must segment [er,er], then merge to
    // [erer] via the recursive (er,er) rule), odd same-symbol runs
    // ('aaaaa' + (a,a) must give [aa,aa,a], never [aa,a,aa]), and
    // offset repeats ('rere' → [r,er,e], 'atat' → [a,ta,t]). A literal
    // corpus pins these cases corpus-independently — the sf tables
    // happen to contain no trigger words, which is how the one-sided
    // oracle stayed green through round 14.
    ("q_bpe_adversarial",
      (s: SparkSession, d: String) => {
        import s.implicits._
        val docs = Seq(
          (0L, "erer"), (1L, "erere"), (2L, "rere"), (3L, "aaaa"),
          (4L, "aaaaa"), (5L, "aaa"), (6L, "atat"), (7L, "tata"),
          (8L, "tatata"), (9L, "tatat"), (10L, "aaerer"),
          (11L, "erer aaaaa tata"), (12L, "ererer")
        ).toDF("doc_id", "text")
        val merges = Seq((0L, "e", "r"), (1L, "a", "a"), (2L, "t", "a"),
          (3L, "er", "er")).toDF("rank", "left", "right")
        Bpe.encode(docs, "doc_id", "text", merges)
          .orderBy("doc_id", "tok_pos", "sym_pos")
      },
      Some("""WITH docs(doc_id, text) AS (VALUES
             |  (0, 'erer'), (1, 'erere'), (2, 'rere'), (3, 'aaaa'),
             |  (4, 'aaaaa'), (5, 'aaa'), (6, 'atat'), (7, 'tata'),
             |  (8, 'tatata'), (9, 'tatat'), (10, 'aaerer'),
             |  (11, 'erer aaaaa tata'), (12, 'ererer')),
             |t AS (
             |  SELECT CAST(doc_id AS BIGINT) AS doc_id,
             |    regexp_split_to_array(trim(text), '\s+') AS a
             |  FROM docs WHERE trim(text) <> ''),
             |tok AS (
             |  SELECT doc_id, CAST(i - 1 AS BIGINT) AS tok_pos, a[i] AS w
             |  FROM t, unnest(range(1, len(a)+1)) AS u(i)),
             |seg AS (
             |  SELECT doc_id, tok_pos,
             |    replace(replace(replace(replace(
             |      chr(1) || array_to_string(regexp_split_to_array(w, ''), chr(2)||chr(1)) || chr(2),
             |      chr(1)||'e'||chr(2)||chr(1)||'r'||chr(2), chr(1)||'er'||chr(2)),
             |      chr(1)||'a'||chr(2)||chr(1)||'a'||chr(2), chr(1)||'aa'||chr(2)),
             |      chr(1)||'t'||chr(2)||chr(1)||'a'||chr(2), chr(1)||'ta'||chr(2)),
             |      chr(1)||'er'||chr(2)||chr(1)||'er'||chr(2), chr(1)||'erer'||chr(2)) AS s
             |  FROM tok),
             |sy AS (
             |  SELECT doc_id, tok_pos,
             |    list_filter(string_split(replace(s, chr(2), chr(1)), chr(1)), x -> x <> '') AS arr
             |  FROM seg),
             |syms AS (
             |  SELECT doc_id, tok_pos, CAST(i - 1 AS BIGINT) AS sym_pos,
             |    arr[i] AS sym
             |  FROM sy, unnest(range(1, len(arr)+1)) AS u(i))
             |SELECT doc_id, tok_pos, sym_pos, sym,
             |  CAST(CASE WHEN length(sym) = 1 THEN unicode(sym)
             |       WHEN sym = 'er' THEN 65536 WHEN sym = 'aa' THEN 65537
             |       WHEN sym = 'ta' THEN 65538 WHEN sym = 'erer' THEN 65539
             |       ELSE -1 END AS BIGINT) AS sym_id
             |FROM syms ORDER BY doc_id, tok_pos, sym_pos""".stripMargin)),

    // tokenizer round-trip THROUGH the real pipeline: decode(encode(x))
    // must equal whitespace-normalized x for every document — any bug in
    // segmentation order, position bookkeeping, or reassembly breaks the
    // string equality; the oracle never sees the subword space at all
    ("q_bpe_roundtrip",
      (s: SparkSession, d: String) => {
        import s.implicits._
        val merges = Seq((0L, "a", "t"), (1L, "t", "a"), (2L, "ta", "b"),
          (3L, "l", "e"), (4L, "e", "r")).toDF("rank", "left", "right")
        // per-doc greedy merge application is the compute (measured ~2.7 s
        // over <9 tasks); spread the raw rows off the one-split scan
        Bpe.decode(Bpe.encode(Par.spread(t(s, d, "documents")
            .select("doc_id", "text")), "doc_id", "text", merges))
          .orderBy("doc_id")
      },
      Some("""SELECT doc_id,
             |  array_to_string(regexp_split_to_array(trim(text), '\s+'), ' ')
             |    AS decoded
             |FROM documents WHERE trim(text) <> ''
             |ORDER BY doc_id""".stripMargin)),

    // THE END-TO-END TRAINING-DATA PATH in one plan, every stage
    // hash-graded: explainable quality gate → dup-safe split (fingerprint
    // membership) → BPE segmentation with a fixed merge table → sequence
    // packing by REAL subword counts. The oracle independently replays
    // all four stages (rule predicates, md5-of-fingerprint thresholds,
    // delimiter-fenced greedy merges, exclusive-cumsum packing), so a
    // regression anywhere in the composed pipeline moves graded rows.
    ("q_training_pipeline",
      (s: SparkSession, d: String) => {
        import s.implicits._
        val docs = t(s, d, "documents")
        // gate + split both ride the scan in-row — composing through
        // qualityGate's id-keyed relation would join the whole corpus
        // back to itself (a corpus-sized shuffle for a row-local verdict)
        val kept = docs.filter(TextAnalysis.qualityKeep(col("text")))
        val train = Curation.dupSafeSplit(kept, "text")
          .filter(col("split") === "train")
        val merges = Seq((0L, "a", "t"), (1L, "t", "a"), (2L, "ta", "b"),
          (3L, "l", "e"), (4L, "e", "r")).toDF("rank", "left", "right")
        val counts = Bpe.encode(train, "doc_id", "text", merges)
          .groupBy("doc_id").agg(count(lit(1)).as("n_syms"))
        Curation.packSequencesByCount(counts, "doc_id", col("n_syms"),
            budget = 256L)
          .orderBy("doc_id")
      },
      Some("""WITH t AS (SELECT doc_id, text,
             |    CASE WHEN trim(text) = '' THEN []::VARCHAR[]
             |         ELSE regexp_split_to_array(trim(text), '\s+') END AS toks
             |  FROM documents),
             |s AS (SELECT doc_id, text, toks,
             |  CAST(len(toks) AS BIGINT) AS n_tokens,
             |  round(length(regexp_replace(text, '\s+', '', 'g')) / NULLIF(len(toks), 0), 4) AS avg_token_len,
             |  round(len(list_filter(toks, x -> lower(x) IN
             |    ('the','a','an','of','and','to','in','is','it','that'))) / NULLIF(len(toks), 0), 4) AS stopword_ratio,
             |  round((length(text) - length(regexp_replace(text, '[[:punct:]]', '', 'g')))
             |        / greatest(length(text), 1), 4) AS punct_ratio
             |  FROM t),
             |tr AS (SELECT doc_id, toks FROM s
             |  WHERE coalesce(n_tokens BETWEEN 50 AND 100000, false)
             |    AND coalesce(avg_token_len BETWEEN 2.0 AND 12.0, false)
             |    AND coalesce(stopword_ratio >= 0.01, false)
             |    AND coalesce(punct_ratio <= 0.2, false)
             |    AND substr(md5(md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'))), 1, 2) < 'cc'),
             |tok AS (SELECT doc_id, unnest(toks) AS w FROM tr),
             |seg AS (SELECT doc_id,
             |    replace(replace(replace(replace(replace(
             |      chr(1) || array_to_string(regexp_split_to_array(w, ''), chr(2)||chr(1)) || chr(2),
             |      chr(1)||'a'||chr(2)||chr(1)||'t'||chr(2), chr(1)||'at'||chr(2)),
             |      chr(1)||'t'||chr(2)||chr(1)||'a'||chr(2), chr(1)||'ta'||chr(2)),
             |      chr(1)||'ta'||chr(2)||chr(1)||'b'||chr(2), chr(1)||'tab'||chr(2)),
             |      chr(1)||'l'||chr(2)||chr(1)||'e'||chr(2), chr(1)||'le'||chr(2)),
             |      chr(1)||'e'||chr(2)||chr(1)||'r'||chr(2), chr(1)||'er'||chr(2)) AS sg
             |  FROM tok),
             |cnt AS (SELECT doc_id,
             |    CAST(sum(len(list_filter(string_split(replace(sg, chr(2), chr(1)), chr(1)), x -> x <> '')))
             |      AS BIGINT) AS nt
             |  FROM seg GROUP BY doc_id),
             |sh AS (SELECT doc_id, nt,
             |    CAST(strpos('0123456789abcdef',
             |      substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1 AS BIGINT) AS shard
             |  FROM cnt),
             |c AS (SELECT doc_id, nt, shard,
             |    sum(nt) OVER (PARTITION BY shard ORDER BY doc_id) - nt AS cum
             |  FROM sh)
             |SELECT doc_id, nt, shard, CAST(floor(cum / 256) AS BIGINT) AS pack,
             |  CAST(cum - floor(cum / 256) * 256 AS BIGINT) AS off
             |FROM c ORDER BY doc_id""".stripMargin)),

    ("q_fingerprints",
      (s: SparkSession, d: String) =>
        TextAnalysis.fingerprints(t(s, d, "documents"), "doc_id", "text")
          .orderBy("doc_id"),
      Some("""SELECT doc_id, md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fingerprint
             |FROM documents ORDER BY doc_id""".stripMargin)),

    // ---- dedup --------------------------------------------------------------

    ("q_dedup_exact",
      (s: SparkSession, d: String) =>
        Dedup.exact(t(s, d, "documents"), "doc_id", "text")
          .orderBy("fingerprint"),
      Some("""SELECT md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fingerprint,
             |  min(doc_id) AS keep_id, count(*) AS dup_count
             |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin)),

    // Prefix-filter EXACT similarity join (AllPairs/PPJoin family): the
    // graded claim is zero candidate loss — the oracle is the plain
    // all-pairs ground truth, so any pair the rarest-prefix + size
    // pruning wrongly discards fails the hash compare. The exact rung
    // between the capped brute-force verifier and probabilistic LSH:
    // only prefix slices explode into the join; full token arrays travel
    // once to verify candidates in-row.
    ("q_prefix_join",
      (s: SparkSession, d: String) =>
        Dedup.prefixJaccardPairs(t(s, d, "documents"), "doc_id", "text",
          tauNum = 9, tauDen = 10, maxId = 1000L)
          .orderBy("a_id", "b_id"),
      Some("""WITH t AS (
             |  SELECT doc_id,
             |    list_distinct(regexp_split_to_array(trim(text), '\s+')) AS toks
             |  FROM documents WHERE trim(text) <> '' AND doc_id < 1000),
             |tt AS (SELECT doc_id, toks FROM t WHERE len(toks) > 0),
             |x AS (SELECT doc_id, unnest(toks) AS token FROM tt),
             |sz AS (SELECT doc_id, len(toks) AS n FROM tt),
             |p AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS inter
             |      FROM x a JOIN x b ON a.token = b.token AND a.doc_id < b.doc_id
             |      GROUP BY 1, 2),
             |j AS (SELECT p.a_id, p.b_id,
             |        round(inter * 1.0 / (sa.n + sb.n - inter), 6) AS jaccard
             |      FROM p JOIN sz sa ON sa.doc_id = p.a_id
             |             JOIN sz sb ON sb.doc_id = p.b_id)
             |SELECT a_id, b_id, jaccard FROM j WHERE jaccard >= 0.9
             |ORDER BY a_id, b_id""".stripMargin)),
    // CAPSTONE composition — the web-corpus front end end-to-end in ONE
    // plan: HTML main-content extraction -> URL canonicalization -> host
    // derivation -> per-host frequency cap (skew-proof bounded aggregate)
    // -> content-stable split assignment. The oracle replays the whole
    // chain closed-form; any stage drifting (an eaten entity, a port left
    // on a default host, a cap tie resolved wrong, a split threshold off
    // by one hex digit) fails the hash.
    ("q_web_pipeline",
      (s: SparkSession, d: String) => {
        val docs = t(s, d, "documents")
        val html = concat(
          lit("<html><head><title>skip title</title></head><body><h1>Doc "),
          col("doc_id"),
          lit("</h1><script type=\"text/javascript\">var x = \"<p>code</p>\";</script>"),
          lit("<style type=\"text/css\">p { color: red; }</style><!-- hidden --><p>"),
          col("text"),
          lit("</p><div>tail &amp; entities &lt;ok&gt; &quot;q&#39;</div></body></html>"))
        val m = col("doc_id") % 6
        val url = when(m === 0, concat(lit("HTTP://WWW."), upper(col("source")),
            lit(".Example.COM:80/Path/")))
          .when(m === 1, concat(lit("https://"), col("source"),
            lit(".example.com:443/a/b?x=1&utm_source=feed&y=2#frag")))
          .when(m === 2, concat(lit("https://"), col("source"), lit(".example.com")))
          .when(m === 3, concat(lit("http://"), col("source"),
            lit(".example.com/?utm_campaign=c")))
          .when(m === 4, concat(lit("https://"), col("source"),
            lit(".example.com:8443/keep:port?utm_a=1&utm_b=2")))
          .otherwise(concat(lit("http://"), col("source"), lit(".example.com/a//b/")))
        val extracted = docs.select(col("doc_id"),
            TextAnalysis.htmlExtract(html).as("content"),
            Curation.canonicalizeUrl(url).as("canon"))
          .withColumn("host",
            regexp_extract(col("canon"), "^[a-z0-9+.-]+://([^/]+)", 1))
          .withColumn("n_content", length(col("content")).cast("long"))
        val capped = Curation.domainCap(extracted, "host", "doc_id",
          col("n_content"), cap = 15)
        Curation.splitAssign(capped, "doc_id")
          .select(col("doc_id"), col("host"), col("n_content"), col("split"))
          .orderBy("doc_id")
      },
      Some("""WITH x AS (SELECT doc_id,
             |    CAST(length(trim(regexp_replace(
             |      'Doc ' || doc_id || ' ' || text || ' tail & entities <ok> "q''',
             |      '\s+', ' ', 'g'))) AS BIGINT) AS n_content,
             |    CASE WHEN doc_id % 6 = 4 THEN source || '.example.com:8443'
             |         ELSE source || '.example.com' END AS host
             |  FROM documents),
             |c AS (SELECT *, row_number() OVER (PARTITION BY host
             |        ORDER BY n_content DESC, doc_id) AS rn FROM x)
             |SELECT doc_id, host, n_content,
             |  CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)),1,2) < 'cc' THEN 'train'
             |       WHEN substr(md5(CAST(doc_id AS VARCHAR)),1,2) < 'e6' THEN 'val'
             |       ELSE 'test' END AS split
             |FROM c WHERE rn <= 15 ORDER BY doc_id""".stripMargin)),


    ("q_jaccard_pairs",
      (s: SparkSession, d: String) =>
        Dedup.ngramJaccardPairs(t(s, d, "documents"), "doc_id", "text",
          threshold = 0.1, maxId = 150L)
          .orderBy("a_id", "b_id"),
      Some("""WITH t AS (
             |  SELECT doc_id,
             |    list_distinct(CASE WHEN trim(text) = '' THEN []::VARCHAR[]
             |         ELSE regexp_split_to_array(trim(text), '\s+') END) AS toks
             |  FROM documents WHERE doc_id < 150)
             |SELECT * FROM (
             |  SELECT a.doc_id AS a_id, b.doc_id AS b_id,
             |    round(CASE WHEN len(list_distinct(list_concat(a.toks, b.toks))) = 0 THEN 1.0
             |          ELSE len(list_intersect(a.toks, b.toks))
             |               / len(list_distinct(list_concat(a.toks, b.toks))) END, 6) AS jaccard
             |  FROM t a JOIN t b ON a.doc_id < b.doc_id)
             |WHERE jaccard >= 0.1 ORDER BY a_id, b_id""".stripMargin)),

    // asymmetric containment (quote/subset detection) over the same capped
    // verification domain as q_jaccard_pairs — both directions graded
    ("q_containment_pairs",
      (s: SparkSession, d: String) =>
        Dedup.containmentPairs(t(s, d, "documents"), "doc_id", "text",
          threshold = 0.9, maxId = 150L)
          .orderBy("a_id", "b_id"),
      Some("""WITH t AS (
             |  SELECT doc_id,
             |    list_distinct(CASE WHEN trim(text) = '' THEN []::VARCHAR[]
             |         ELSE regexp_split_to_array(trim(text), '\s+') END) AS toks
             |  FROM documents WHERE doc_id < 150),
             |tt AS (SELECT * FROM t WHERE len(toks) > 0)
             |SELECT * FROM (
             |  SELECT a.doc_id AS a_id, b.doc_id AS b_id,
             |    round(len(list_intersect(a.toks, b.toks)) / CAST(len(a.toks) AS DOUBLE), 6) AS cont_ab,
             |    round(len(list_intersect(a.toks, b.toks)) / CAST(len(b.toks) AS DOUBLE), 6) AS cont_ba
             |  FROM tt a JOIN tt b ON a.doc_id < b.doc_id)
             |WHERE greatest(cont_ab, cont_ba) >= 0.9 ORDER BY a_id, b_id""".stripMargin)),

    // corpus snapshot diff: the per-ingest audit. The "after" snapshot is
    // derived deterministically (10% removed, 1-in-7 changed, 1-in-13
    // cloned as adds) so both engines replay the same mutation
    ("q_corpus_diff",
      (s: SparkSession, d: String) => {
        val docs = t(s, d, "documents")
        val after = docs.filter(col("doc_id") % 10 =!= 0)
          .withColumn("text", when(col("doc_id") % 7 === 0,
            concat(col("text"), lit(" v2"))).otherwise(col("text")))
          .unionByName(docs.filter(col("doc_id") % 13 === 0)
            .select((col("doc_id") + 1000000L).as("doc_id"),
              concat(lit("added "), col("text")).as("text"),
              col("lang"), col("source"), col("n_chars")))
        Dedup.corpusDiff(docs, after, "doc_id", "text", "source")
          .orderBy("source", "status")
      },
      Some("""WITH b AS (SELECT doc_id, text, source FROM documents),
             |a AS (
             |  SELECT doc_id,
             |    CASE WHEN doc_id % 7 = 0 THEN text || ' v2' ELSE text END AS text, source
             |  FROM documents WHERE doc_id % 10 <> 0
             |  UNION ALL
             |  SELECT doc_id + 1000000, 'added ' || text, source
             |  FROM documents WHERE doc_id % 13 = 0),
             |j AS (
             |  SELECT coalesce(a.source, b.source) AS source,
             |    CASE WHEN b.doc_id IS NULL THEN 'added'
             |         WHEN a.doc_id IS NULL THEN 'removed'
             |         WHEN a.text <> b.text THEN 'changed'
             |         ELSE 'unchanged' END AS status
             |  FROM b FULL JOIN a ON a.doc_id = b.doc_id)
             |SELECT source, status, count(*) AS n_docs
             |FROM j GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // xxhash64-based signatures are not reproducible in DuckDB, but the
    // operator's *invariants* are: a planted clone (identical text →
    // identical signature → every band collides) is recalled with
    // probability 1, and the exact-verification step makes the output a
    // subset of the brute-force all-pairs result. Both are emitted as a
    // checkable summary row whose expected values DuckDB computes from the
    // table alone.
    ("q_minhash_lsh",
      (s: SparkSession, d: String) => {
        val docs = t(s, d, "documents").select("doc_id", "text")
        // measured NOT spread (r20): 2.07 s -> 1.75 s wall but 8x the CPU
        // (task overhead over a 2.7 task-s pipeline) — inside noise, C3
        val doubled = docs.union(
          docs.select((col("doc_id") + 10000L).as("doc_id"), col("text")))
        val lsh = Dedup.minhashLsh(doubled, "doc_id", "text",
          shingleK = 3, numHashes = 64, bands = 16, threshold = 0.2).cache()
        try {
          val nDocs = doubled.agg(count(lit(1)).as("n_docs"))
          val plantedExpected = docs.agg(count(lit(1)).as("planted_expected"))
          val plantedFound = lsh
            .filter(col("b_id") === col("a_id") + 10000L && col("a_id") < 10000L
              && col("jaccard") === 1.0)
            .agg(count(lit(1)).as("planted_found"))
          // cross-path check: LSH output on a bounded id slice must be a
          // subset of the exact quadratic path's pairs at the same threshold
          val exact = Dedup.ngramJaccardPairs(
            doubled.filter(col("doc_id") < 150), "doc_id", "text",
            threshold = 0.2, maxId = 150L)
          val subsetViolations = lsh
            .filter(col("a_id") < 150 && col("b_id") < 150)
            .join(exact.select("a_id", "b_id"), Seq("a_id", "b_id"), "left_anti")
            .agg(count(lit(1)).as("subset_violations"))
          val summary = nDocs.crossJoin(plantedExpected).crossJoin(plantedFound)
            .crossJoin(subsetViolations)
          // materialize while the cache is live, then return literal rows so
          // the cache never outlives the query (no cross-query memory creep)
          s.createDataFrame(java.util.List.of(summary.collect(): _*), summary.schema)
        } finally lsh.unpersist()
      },
      Some("""SELECT CAST(2 * count(*) AS BIGINT) AS n_docs,
             |  CAST(count(*) AS BIGINT) AS planted_expected,
             |  CAST(count(*) AS BIGINT) AS planted_found,
             |  CAST(0 AS BIGINT) AS subset_violations
             |FROM documents""".stripMargin)),

    // minhashLsh at 10× the graded corpus (55k docs vs the 5.5k of
    // q_minhash_lsh) — the measured counterpart of the ids-only-exchange
    // claim, same pattern q_sketch_scale uses for sketches: generate the
    // corpus in-query so bench tracks the runtime shape at volume. Docs
    // are TOKEN-DISJOINT (every token embeds the doc id), so banding
    // buckets hold only each doc and its planted clone: recall of the 5k
    // exact clones is probability-1 (identical text → identical signature
    // → every band collides), and exact verification makes extra pairs
    // provably zero (cross-doc Jaccard is exactly 0). The exchange carries
    // (band, hash, id) rows only — 8×55k = 440k longs, never text — which
    // is WHY this shape survives 100 TB.
    ("q_lsh_scale",
      (s: SparkSession, _: String) => {
        val base = s.range(50000L).select(col("id").as("doc_id"),
          concat_ws(" ", (0 until 8).map(j =>
            concat(lit("tok"), col("id"), lit(s"x$j"))): _*).as("text"))
        val corpus = base.union(
          base.filter(col("doc_id") % 10 === 0)
            .select((col("doc_id") + 1000000L).as("doc_id"), col("text")))
        val lsh = Dedup.minhashLsh(corpus, "doc_id", "text",
          shingleK = 3, numHashes = 32, bands = 8, threshold = 0.5).cache()
        try {
          val nDocs = corpus.agg(count(lit(1)).as("n_docs"))
          val plantedExpected = base.filter(col("doc_id") % 10 === 0)
            .agg(count(lit(1)).as("planted_expected"))
          val plantedFound = lsh
            .filter(col("b_id") === col("a_id") + 1000000L
              && col("a_id") < 1000000L && col("jaccard") === 1.0)
            .agg(count(lit(1)).as("planted_found"))
          val extra = lsh
            .filter(!(col("b_id") === col("a_id") + 1000000L) || col("jaccard") =!= 1.0)
            .agg(count(lit(1)).as("extra_pairs"))
          val summary = nDocs.crossJoin(plantedExpected).crossJoin(plantedFound)
            .crossJoin(extra)
          s.createDataFrame(java.util.List.of(summary.collect(): _*), summary.schema)
        } finally lsh.unpersist()
      },
      Some("""WITH r AS (SELECT range AS id FROM range(50000)),
             |c AS (SELECT count(*) AS n FROM r WHERE id % 10 = 0)
             |SELECT CAST((SELECT count(*) FROM r) + c.n AS BIGINT) AS n_docs,
             |  CAST(c.n AS BIGINT) AS planted_expected,
             |  CAST(c.n AS BIGINT) AS planted_found,
             |  CAST(0 AS BIGINT) AS extra_pairs
             |FROM c""".stripMargin)),

    // same invariant pattern for SimHash: planted clones are hamming-0
    // (always recalled via every chunk), and the 4×16-bit pigeonhole makes
    // the output *complete* for maxHamming ≤ 3 — checked brute-force on a
    // bounded id slice.
    ("q_simhash_pairs",
      (s: SparkSession, d: String) => {
        import graft.functions.{simhash64, popcount64}
        val docs = t(s, d, "documents").select("doc_id", "text")
        val doubled = docs.union(
          docs.select((col("doc_id") + 10000L).as("doc_id"), col("text")))
        val pairs = Dedup.simhashPairs(doubled, "doc_id", "text", maxHamming = 3).cache()
        try {
          val nDocs = doubled.agg(count(lit(1)).as("n_docs"))
          val plantedExpected = docs.agg(count(lit(1)).as("planted_expected"))
          val plantedFound = pairs
            .filter(col("b_id") === col("a_id") + 10000L && col("a_id") < 10000L
              && col("hamming") === 0)
            .agg(count(lit(1)).as("planted_found"))
          val subset = doubled.filter(col("doc_id") % 10000L < 250)
          val sigs = subset.select(col("doc_id"),
            simhash64(TextAnalysis.tokens(col("text"))).as("sig"))
          val brute = sigs.select(col("doc_id").as("a_id"), col("sig").as("a_sig"))
            .join(broadcast(sigs.select(col("doc_id").as("b_id"), col("sig").as("b_sig"))),
              col("a_id") < col("b_id"))
            .select(col("a_id"), col("b_id"),
              popcount64(col("a_sig").bitwiseXOR(col("b_sig"))).as("hamming"))
            .filter(col("hamming") <= 3)
          val missing = brute
            .join(pairs.select("a_id", "b_id"), Seq("a_id", "b_id"), "left_anti")
            .agg(count(lit(1)).as("pigeonhole_missing"))
          val summary = nDocs.crossJoin(plantedExpected).crossJoin(plantedFound)
            .crossJoin(missing)
          s.createDataFrame(java.util.List.of(summary.collect(): _*), summary.schema)
        } finally pairs.unpersist()
      },
      Some("""SELECT CAST(2 * count(*) AS BIGINT) AS n_docs,
             |  CAST(count(*) AS BIGINT) AS planted_expected,
             |  CAST(count(*) AS BIGINT) AS planted_found,
             |  CAST(0 AS BIGINT) AS pigeonhole_missing
             |FROM documents""".stripMargin)),

    // planted exact duplicates (vec_id + 10000) — the testdata embeddings are
    // near-orthogonal (max pairwise cosine ≈ 0.51), so the qualifying pairs
    // are exactly the identical-vector pairs, which sign-LSH recalls with
    // probability 1 → the oracle needs no knowledge of the bucketing
    ("q_embedding_near_dup",
      (s: SparkSession, d: String) => {
        val e = t(s, d, "embeddings").select("vec_id", "embedding")
        val doubled = e.union(e.select((col("vec_id") + 10000L).as("vec_id"), col("embedding")))
        Dedup.embeddingNearDup(doubled, "vec_id", "embedding",
          threshold = 0.99, planes = 8, dims = 64)
          .orderBy("a_id", "b_id")
      },
      Some("""WITH u AS (
             |  SELECT vec_id, embedding FROM embeddings
             |  UNION ALL SELECT vec_id + 10000, embedding FROM embeddings),
             |e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM u)
             |SELECT * FROM (
             |  SELECT a.vec_id AS a_id, b.vec_id AS b_id,
             |    round(CASE WHEN sqrt(list_inner_product(a.v, a.v) * list_inner_product(b.v, b.v)) = 0
             |          THEN 0.0
             |          ELSE list_inner_product(a.v, b.v)
             |               / sqrt(list_inner_product(a.v, a.v) * list_inner_product(b.v, b.v)) END, 6) AS cosine
             |  FROM e a JOIN e b ON a.vec_id < b.vec_id)
             |WHERE cosine >= 0.99 ORDER BY a_id, b_id""".stripMargin)),

    // Rabin-Karp rolling hash is pure integer arithmetic — DuckDB replays
    // the exact byte-level fold (mod-2⁶⁴ via HUGEINT) over the UTF-8 bytes.
    ("q_rolling_fingerprint",
      (s: SparkSession, d: String) =>
        t(s, d, "documents")
          .select(col("doc_id"), functions.rolling_hash64(col("text")).as("rh"))
          .orderBy("doc_id"),
      Some("""WITH b AS (
             |  SELECT doc_id, lower(hex(encode(text))) AS hx,
             |    octet_length(encode(text)) AS n FROM documents),
             |c AS (
             |  SELECT doc_id,
             |    list_transform(range(1, n+1),
             |      i -> CAST((strpos('0123456789abcdef', substr(hx, 2*i-1, 1))-1)*16
             |         + (strpos('0123456789abcdef', substr(hx, 2*i, 1))-1) AS HUGEINT)) AS bytes
             |  FROM b),
             |h AS (
             |  SELECT doc_id,
             |    list_reduce(list_prepend(CAST(1125899906842597 AS HUGEINT), bytes),
             |      (acc, x) -> (acc * 1000003 + x) % CAST(18446744073709551616 AS HUGEINT)) AS uh
             |  FROM c)
             |SELECT doc_id,
             |  CAST(CASE WHEN uh >= CAST(9223372036854775808 AS HUGEINT)
             |       THEN uh - CAST(18446744073709551616 AS HUGEINT) ELSE uh END AS BIGINT) AS rh
             |FROM h ORDER BY doc_id""".stripMargin)),

    // near-dup clustering (LSH pairs → connected components): the planted
    // triple-clone structure must collapse into shared clusters (clones are
    // jaccard-1.0, so their edges always exist), and at the fixpoint no
    // surviving edge may cross two clusters — both invariants reduce to a
    // summary row DuckDB predicts from the table alone.
    ("q_near_dup_clusters",
      (s: SparkSession, d: String) => {
        val docs = t(s, d, "documents").select("doc_id", "text")
          .filter(col("doc_id") < 200)
        val tripled = docs
          .union(docs.select((col("doc_id") + 10000L).as("doc_id"), col("text")))
          .union(docs.select((col("doc_id") + 20000L).as("doc_id"), col("text")))
        val pairs = Dedup.minhashLsh(tripled, "doc_id", "text", threshold = 0.5).cache()
        val labels = Dedup.clusterCorpus(tripled, "doc_id", pairs).cache()
        try {
          val nDocs = labels.agg(count(lit(1)).as("n_docs"))
          val plantedExpected = docs.agg(count(lit(1)).as("planted_expected"))
          val planted = labels.filter(col("doc_id") < 10000L)
            .select(col("doc_id").as("b"), col("cluster").as("cb"))
            .join(labels.filter(col("doc_id") >= 10000L && col("doc_id") < 20000L)
              .select((col("doc_id") - 10000L).as("b"), col("cluster").as("c1")), Seq("b"))
            .join(labels.filter(col("doc_id") >= 20000L)
              .select((col("doc_id") - 20000L).as("b"), col("cluster").as("c2")), Seq("b"))
          val plantedOk = planted
            .filter(col("cb") === col("c1") && col("cb") === col("c2"))
            .agg(count(lit(1)).as("planted_same_cluster"))
          val viol = pairs.select("a_id", "b_id")
            .join(labels.select(col("doc_id").as("a_id"), col("cluster").as("ca")), Seq("a_id"))
            .join(labels.select(col("doc_id").as("b_id"), col("cluster").as("cb2")), Seq("b_id"))
            .filter(col("ca") =!= col("cb2"))
            .agg(count(lit(1)).as("fixpoint_violations"))
          val summary = nDocs.crossJoin(plantedExpected).crossJoin(plantedOk).crossJoin(viol)
          s.createDataFrame(java.util.List.of(summary.collect(): _*), summary.schema)
        } finally { pairs.unpersist(); labels.unpersist() }
      },
      Some("""SELECT CAST(3 * count(*) AS BIGINT) AS n_docs,
             |  CAST(count(*) AS BIGINT) AS planted_expected,
             |  CAST(count(*) AS BIGINT) AS planted_same_cluster,
             |  CAST(0 AS BIGINT) AS fixpoint_violations
             |FROM documents WHERE doc_id < 200""".stripMargin)),

    // ---- similarity search --------------------------------------------------

    // int8 scalar quantization (SQ8) fidelity: the quantization codes are
    // engine-exact (float max/abs exact, double divide IEEE-identical,
    // same half-away-from-zero rounding), integer dots are exact BIGINTs,
    // so cos_int8 compares bit-for-bit after the house 6dp round
    ("q_quantized_cosine",
      (s: SparkSession, d: String) =>
        Similarity.int8CosinePairs(t(s, d, "embeddings"), "vec_id", "embedding"),
      Some("""WITH e AS (
             |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v,
             |         list_max(list_transform(embedding, x -> abs(x))) AS s
             |  FROM embeddings),
             |qq AS (
             |  SELECT vec_id, v,
             |    CASE WHEN s = 0 THEN list_transform(v, x -> CAST(0 AS DOUBLE))
             |         ELSE list_transform(v, x -> CAST(CAST(round(x / CAST(s AS DOUBLE) * 127) AS INT) AS DOUBLE)) END AS qv
             |  FROM e),
             |p AS (
             |  SELECT a.vec_id AS a_id, b.vec_id AS b_id,
             |    round(CASE WHEN sqrt(list_inner_product(a.v,a.v)*list_inner_product(b.v,b.v)) = 0 THEN 0.0
             |          ELSE list_inner_product(a.v,b.v) / sqrt(list_inner_product(a.v,a.v)*list_inner_product(b.v,b.v)) END, 6) AS cos_f32,
             |    round(CASE WHEN sqrt(list_inner_product(a.qv,a.qv)*list_inner_product(b.qv,b.qv)) = 0 THEN 0.0
             |          ELSE list_inner_product(a.qv,b.qv) / sqrt(list_inner_product(a.qv,a.qv)*list_inner_product(b.qv,b.qv)) END, 6) AS cos_int8
             |  FROM qq a JOIN qq b ON b.vec_id = a.vec_id + 1)
             |SELECT a_id, b_id, cos_f32, cos_int8,
             |  abs(cos_f32 - cos_int8) <= 0.02 AS within_tol
             |FROM p ORDER BY a_id""".stripMargin)),

    // Per-label embedding centroids (the kNN-classifier prototype /
    // cluster-drift primitive): dim-wise means over the embeddings table,
    // one exchange bounded by labels × dims. DuckDB replays via a
    // range-join element extraction; both engines round the double mean
    // to 6dp (accumulation-order error ~1e-13, the cosine discipline).
    ("q_label_centroids",
      (s: SparkSession, d: String) =>
        Similarity.labelCentroids(t(s, d, "embeddings"), "label", "embedding")
          .orderBy("label", "dim"),
      Some("""WITH e AS (SELECT label, embedding FROM embeddings
             |          WHERE embedding IS NOT NULL),
             |x AS (SELECT label, d.i AS dim, embedding[d.i + 1] AS v
             |      FROM e JOIN range(0, 512) d(i) ON d.i < len(embedding))
             |SELECT label, CAST(dim AS BIGINT) AS dim,
             |  CAST(count(*) AS BIGINT) AS n_vecs, round(avg(v), 6) AS centroid
             |FROM x GROUP BY 1, 2 ORDER BY label, dim""".stripMargin)),

    // Nearest-centroid classification end-to-end: centroids from
    // q_label_centroids' operator feed the prototype classifier, and the
    // full confusion matrix (true label × predicted) is graded — DuckDB
    // replays centroid computation, every dot product (rounded 6dp, the
    // discipline that makes the argmax engine-stable) and the
    // smaller-label tiebreak. The embedding analog of the model-based
    // text quality filter.
    ("q_nearest_centroid",
      (s: SparkSession, d: String) => {
        val embs = t(s, d, "embeddings")
        Similarity.nearestCentroid(embs, "vec_id", "label", "embedding",
            Similarity.labelCentroids(embs, "label", "embedding"))
          .groupBy("label", "predicted")
          .agg(count(lit(1)).as("n"))
          .orderBy("label", "predicted")
      },
      Some("""WITH e AS (SELECT vec_id, label, embedding FROM embeddings
             |          WHERE embedding IS NOT NULL),
             |x AS (SELECT vec_id, label, d.i AS dim, embedding[d.i + 1] AS v
             |      FROM e JOIN range(0, 512) d(i) ON d.i < len(embedding)),
             |c AS (SELECT label AS c_label, dim, round(avg(v), 6) AS centroid
             |      FROM x GROUP BY 1, 2),
             |s AS (SELECT x.vec_id, x.label, c.c_label,
             |        round(sum(x.v * c.centroid), 6) AS score
             |      FROM x JOIN c ON x.dim = c.dim GROUP BY 1, 2, 3),
             |p AS (SELECT vec_id, label, c_label, row_number() OVER (
             |        PARTITION BY vec_id ORDER BY score DESC, c_label ASC) AS r
             |      FROM s)
             |SELECT label, CAST(c_label AS INT) AS predicted,
             |  CAST(count(*) AS BIGINT) AS n
             |FROM p WHERE r = 1 GROUP BY 1, 2 ORDER BY label, predicted""".stripMargin)),

    // Integer-exact distributed k-means: the PageRank discipline applied
    // to clustering. Vectors quantize to micro-units (+2e6 shift so
    // integer division is floor in any engine), Lloyd's runs 3 iterations
    // with in-row assignment against broadcast centroids and one
    // k×dims-bounded exchange per update, and DuckDB replays the ENTIRE
    // trajectory as chained CTEs — every distance, every argmin tiebreak,
    // every centroid division — so the grade is hash-exact with no float
    // tolerance. One flipped assignment in any iteration moves
    // n_vecs/wcss; one off-by-one centroid unit moves the checksum.
    ("q_kmeans",
      (s: SparkSession, d: String) =>
        Similarity.kMeans(t(s, d, "embeddings"), "vec_id", "embedding",
          k = 8, iters = 3),
      Some("""WITH e AS (SELECT vec_id, embedding FROM embeddings
             |          WHERE embedding IS NOT NULL),
             |x AS (SELECT vec_id, d.i AS dim,
             |        CAST(floor(CAST(embedding[d.i + 1] AS DOUBLE) * 1000000.0) AS BIGINT)
             |          + 2000000 AS q
             |      FROM e JOIN range(0, 512) d(i) ON d.i < len(embedding)),
             |sd AS (SELECT vec_id, row_number() OVER (ORDER BY vec_id) - 1 AS c
             |       FROM (SELECT vec_id FROM e ORDER BY vec_id LIMIT 8)),
             |c0 AS (SELECT sd.c, x.dim, x.q AS cd FROM sd JOIN x USING (vec_id)),
             |a1 AS (SELECT x.vec_id, c0.c, sum((x.q - c0.cd)*(x.q - c0.cd)) AS dist
             |       FROM x JOIN c0 ON x.dim = c0.dim GROUP BY 1, 2),
             |m1 AS (SELECT vec_id, c AS cl, dist FROM (
             |         SELECT *, row_number() OVER (PARTITION BY vec_id
             |           ORDER BY dist, c) AS r FROM a1) WHERE r = 1),
             |u1 AS (SELECT m.cl AS c, x.dim, sum(x.q) // count(*) AS cd
             |       FROM x JOIN m1 m ON m.vec_id = x.vec_id GROUP BY 1, 2),
             |c1 AS (SELECT c0.c, c0.dim, coalesce(u1.cd, c0.cd) AS cd
             |       FROM c0 LEFT JOIN u1 ON u1.c = c0.c AND u1.dim = c0.dim),
             |a2 AS (SELECT x.vec_id, c1.c, sum((x.q - c1.cd)*(x.q - c1.cd)) AS dist
             |       FROM x JOIN c1 ON x.dim = c1.dim GROUP BY 1, 2),
             |m2 AS (SELECT vec_id, c AS cl, dist FROM (
             |         SELECT *, row_number() OVER (PARTITION BY vec_id
             |           ORDER BY dist, c) AS r FROM a2) WHERE r = 1),
             |u2 AS (SELECT m.cl AS c, x.dim, sum(x.q) // count(*) AS cd
             |       FROM x JOIN m2 m ON m.vec_id = x.vec_id GROUP BY 1, 2),
             |c2 AS (SELECT c1.c, c1.dim, coalesce(u2.cd, c1.cd) AS cd
             |       FROM c1 LEFT JOIN u2 ON u2.c = c1.c AND u2.dim = c1.dim),
             |a3 AS (SELECT x.vec_id, c2.c, sum((x.q - c2.cd)*(x.q - c2.cd)) AS dist
             |       FROM x JOIN c2 ON x.dim = c2.dim GROUP BY 1, 2),
             |m3 AS (SELECT vec_id, c AS cl, dist FROM (
             |         SELECT *, row_number() OVER (PARTITION BY vec_id
             |           ORDER BY dist, c) AS r FROM a3) WHERE r = 1),
             |u3 AS (SELECT m.cl AS c, x.dim, sum(x.q) // count(*) AS cd
             |       FROM x JOIN m3 m ON m.vec_id = x.vec_id GROUP BY 1, 2),
             |c3 AS (SELECT c2.c, c2.dim, coalesce(u3.cd, c2.cd) AS cd
             |       FROM c2 LEFT JOIN u3 ON u3.c = c2.c AND u3.dim = c2.dim),
             |ck AS (SELECT c, CAST(sum((dim + 1) * cd) AS BIGINT) AS cent_checksum
             |       FROM c3 GROUP BY c)
             |SELECT CAST(m3.cl AS INT) AS cluster_id,
             |  CAST(count(*) AS BIGINT) AS n_vecs,
             |  CAST(sum(m3.dist) AS BIGINT) AS wcss, ck.cent_checksum
             |FROM m3 JOIN ck ON ck.c = m3.cl
             |GROUP BY m3.cl, ck.cent_checksum
             |ORDER BY cluster_id""".stripMargin)),

    // per-dimension fixed-point moments of the embedding corpus — the
    // q_feature_moments discipline on vector columns: exact BIGINTs,
    // mergeable across partitions, every cell oracle-replayed
    ("q_dim_stats",
      (s: SparkSession, d: String) =>
        Similarity.dimStats(t(s, d, "embeddings"), "embedding")
          .orderBy("dim"),
      Some("""WITH e AS (SELECT list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
             |  FROM embeddings),
             |u AS (SELECT CAST(i - 1 AS BIGINT) AS dim,
             |    CAST(floor(v[i] * 1000) AS BIGINT) AS u
             |  FROM e, unnest(range(1, len(v)+1)) t(i))
             |SELECT dim, CAST(count(*) AS BIGINT) AS n,
             |  CAST(sum(u) AS BIGINT) AS sum_u,
             |  CAST(sum(u*u) AS BIGINT) AS sumsq_u,
             |  min(u) AS min_u, max(u) AS max_u
             |FROM u GROUP BY dim ORDER BY dim""".stripMargin)),

    // feature standardization against those moments: z = (x-mean)/std in
    // a FIXED IEEE expression order, so the 6dp-rounded doubles match the
    // oracle bit-for-bit; zero-variance dims → 0
    ("q_standardize",
      (s: SparkSession, d: String) => {
        val emb = t(s, d, "embeddings")
        val stats = Similarity.dimStats(emb, "embedding")
        Similarity.standardize(emb.filter(col("vec_id") < 10),
            "vec_id", "embedding", stats)
          .select(col("vec_id"), posexplode(col("z")).as(Seq("dim", "z")))
          .select(col("vec_id"), col("dim").cast("long").as("dim"), col("z"))
          .orderBy("vec_id", "dim")
      },
      Some("""WITH e AS (SELECT vec_id,
             |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
             |  FROM embeddings),
             |u AS (SELECT vec_id, CAST(i - 1 AS BIGINT) AS dim, v[i] AS x,
             |    CAST(floor(v[i] * 1000) AS BIGINT) AS u
             |  FROM e, unnest(range(1, len(v)+1)) t(i)),
             |st AS (SELECT dim, count(*) AS n, sum(u) AS sum_u,
             |    sum(u*u) AS sumsq_u FROM u GROUP BY dim),
             |sd AS (SELECT dim,
             |    CAST(sum_u AS DOUBLE) / n / 1000 AS mean,
             |    sqrt(greatest(n * sumsq_u - sum_u * sum_u, 0))
             |      / (CAST(n AS DOUBLE) * 1000) AS std
             |  FROM st)
             |SELECT u.vec_id, u.dim,
             |  round(CASE WHEN sd.std = 0 THEN 0.0
             |        ELSE (u.x - sd.mean) / sd.std END, 6) AS z
             |FROM u JOIN sd ON sd.dim = u.dim
             |WHERE u.vec_id < 10
             |ORDER BY u.vec_id, u.dim""".stripMargin)),

    // WHITENING graded end-to-end on a 2-dim literal corpus: at dims=2
    // the Cholesky factor and its inverse have closed forms DuckDB can
    // evaluate (L00=√(c00+ε), L10=c10/L00, L11=√(c11+ε−L10²);
    // W00=1/L00, W11=1/L11, W10=−L10·W00/L11), so every 6dp whitened
    // coordinate is hash-graded — quantized moments, pairwise-complete
    // covariance, ridge, factorization, substitution, and the in-row
    // transform all replayed with the SAME IEEE operation order. The
    // 64-dim corpus path is covered by q_dim_covariance (its exact
    // inputs) + the SimilaritySpec identity-covariance law.
    ("q_whiten_2d",
      (s: SparkSession, d: String) => {
        import s.implicits._
        val df = Seq(
          (0L, Array(0.25f, 1.0f)), (1L, Array(0.5f, 1.5f)),
          (2L, Array(0.75f, 1.25f)), (3L, Array(-0.5f, 0.25f)),
          (4L, Array(1.25f, 2.0f)), (5L, Array(0.0f, 0.75f))
        ).toDF("vec_id", "vec")
        val cross = Similarity.dimCrossStats(df, "vec")
        Similarity.whiten(df, "vec_id", "vec", cross)
          .select(col("vec_id"),
            posexplode(col("z")).as(Seq("dim", "z")))
          .select(col("vec_id"), col("dim").cast("long").as("dim"), col("z"))
          .orderBy("vec_id", "dim")
      },
      Some("""WITH v(vec_id, x0, x1) AS (VALUES
             |  (0, 0.25, 1.0), (1, 0.5, 1.5), (2, 0.75, 1.25),
             |  (3, -0.5, 0.25), (4, 1.25, 2.0), (5, 0.0, 0.75)),
             |u AS (SELECT vec_id, x0, x1,
             |    CAST(floor(x0*1000) AS BIGINT) AS u0,
             |    CAST(floor(x1*1000) AS BIGINT) AS u1 FROM v),
             |m AS (SELECT CAST(count(*) AS BIGINT) AS n,
             |    CAST(sum(u0*u0) AS BIGINT) AS s00,
             |    CAST(sum(u0*u1) AS BIGINT) AS s01,
             |    CAST(sum(u1*u1) AS BIGINT) AS s11,
             |    CAST(sum(u0) AS BIGINT) AS su0,
             |    CAST(sum(u1) AS BIGINT) AS su1 FROM u),
             |c AS (SELECT n,
             |    su0 / CAST(n AS DOUBLE) / 1000e0 AS m0,
             |    su1 / CAST(n AS DOUBLE) / 1000e0 AS m1,
             |    (s00 - su0*su0/CAST(n AS DOUBLE)) / n / (1000e0*1000e0) AS c00,
             |    (s01 - su0*su1/CAST(n AS DOUBLE)) / n / (1000e0*1000e0) AS c01,
             |    (s11 - su1*su1/CAST(n AS DOUBLE)) / n / (1000e0*1000e0) AS c11
             |  FROM m),
             |f AS (SELECT *,
             |    1e-9 * greatest((c00 + c11) / 2, 1e-300) AS ridge FROM c),
             |l AS (SELECT *, sqrt(c00 + ridge) AS l00 FROM f),
             |l2 AS (SELECT *, c01 / l00 AS l10 FROM l),
             |l3 AS (SELECT *, sqrt(c11 + ridge - l10*l10) AS l11 FROM l2),
             |w AS (SELECT *, 1e0/l00 AS w00, 1e0/l11 AS w11,
             |    (0e0 - l10 * (1e0/l00)) / l11 AS w10 FROM l3)
             |SELECT u.vec_id, CAST(0 AS BIGINT) AS dim,
             |  round(0e0 + w.w00 * (u.x0 - w.m0) + 0e0 * (u.x1 - w.m1), 6) AS z
             |FROM u, w
             |UNION ALL
             |SELECT u.vec_id, 1,
             |  round(0e0 + w.w10 * (u.x0 - w.m0) + w.w11 * (u.x1 - w.m1), 6)
             |FROM u, w
             |ORDER BY vec_id, dim""".stripMargin)),

    // WHITENING at d=4 — one rung past q_whiten_2d's closed forms: the
    // full ikj Cholesky (10 entries) and the forward-substitution inverse
    // (10 weights) written out as fixed-order SQL, every intermediate in
    // the SAME IEEE operation order as Similarity.whiten's loops
    // (s-chains subtract k-ascending, left-associated; diagonal adds the
    // ridge BEFORE the subtractions; W rows build on already-final W
    // entries). 8 quarter-valued 4-dim vectors keep the quantized moments
    // exact; every 6dp whitened coordinate hash-graded.
    ("q_whiten_4d",
      (s: SparkSession, d: String) => {
        import s.implicits._
        val df = Seq(
          (0L, Array(0.25f, 1.0f, -0.5f, 0.75f)),
          (1L, Array(0.5f, 1.5f, 0.25f, -0.25f)),
          (2L, Array(0.75f, 1.25f, 1.0f, 0.5f)),
          (3L, Array(-0.5f, 0.25f, 0.75f, 1.25f)),
          (4L, Array(1.25f, 2.0f, -0.25f, 0.0f)),
          (5L, Array(0.0f, 0.75f, 0.5f, -0.75f)),
          (6L, Array(1.0f, -0.25f, 1.5f, 0.25f)),
          (7L, Array(-0.25f, 0.5f, -1.0f, 1.0f))
        ).toDF("vec_id", "vec")
        val cross = Similarity.dimCrossStats(df, "vec")
        Similarity.whiten(df, "vec_id", "vec", cross)
          .select(col("vec_id"),
            posexplode(col("z")).as(Seq("dim", "z")))
          .select(col("vec_id"), col("dim").cast("long").as("dim"), col("z"))
          .orderBy("vec_id", "dim")
      },
      Some("""WITH v(vec_id, x0, x1, x2, x3) AS (VALUES
             |  (0, 0.25, 1.0, -0.5, 0.75), (1, 0.5, 1.5, 0.25, -0.25),
             |  (2, 0.75, 1.25, 1.0, 0.5), (3, -0.5, 0.25, 0.75, 1.25),
             |  (4, 1.25, 2.0, -0.25, 0.0), (5, 0.0, 0.75, 0.5, -0.75),
             |  (6, 1.0, -0.25, 1.5, 0.25), (7, -0.25, 0.5, -1.0, 1.0)),
             |u AS (SELECT vec_id, x0, x1, x2, x3,
             |    CAST(floor(x0*1000) AS BIGINT) AS u0,
             |    CAST(floor(x1*1000) AS BIGINT) AS u1,
             |    CAST(floor(x2*1000) AS BIGINT) AS u2,
             |    CAST(floor(x3*1000) AS BIGINT) AS u3 FROM v),
             |m AS (SELECT CAST(count(*) AS BIGINT) AS n,
             |    CAST(sum(u0*u0) AS BIGINT) AS s00, CAST(sum(u0*u1) AS BIGINT) AS s01,
             |    CAST(sum(u0*u2) AS BIGINT) AS s02, CAST(sum(u0*u3) AS BIGINT) AS s03,
             |    CAST(sum(u1*u1) AS BIGINT) AS s11, CAST(sum(u1*u2) AS BIGINT) AS s12,
             |    CAST(sum(u1*u3) AS BIGINT) AS s13, CAST(sum(u2*u2) AS BIGINT) AS s22,
             |    CAST(sum(u2*u3) AS BIGINT) AS s23, CAST(sum(u3*u3) AS BIGINT) AS s33,
             |    CAST(sum(u0) AS BIGINT) AS su0, CAST(sum(u1) AS BIGINT) AS su1,
             |    CAST(sum(u2) AS BIGINT) AS su2, CAST(sum(u3) AS BIGINT) AS su3 FROM u),
             |c AS (SELECT n,
             |    su0 / CAST(n AS DOUBLE) / 1000e0 AS m0,
             |    su1 / CAST(n AS DOUBLE) / 1000e0 AS m1,
             |    su2 / CAST(n AS DOUBLE) / 1000e0 AS m2,
             |    su3 / CAST(n AS DOUBLE) / 1000e0 AS m3,
             |    (s00 - su0*su0/CAST(n AS DOUBLE)) / n / (1000e0*1000e0) AS c00,
             |    (s01 - su0*su1/CAST(n AS DOUBLE)) / n / (1000e0*1000e0) AS c01,
             |    (s02 - su0*su2/CAST(n AS DOUBLE)) / n / (1000e0*1000e0) AS c02,
             |    (s03 - su0*su3/CAST(n AS DOUBLE)) / n / (1000e0*1000e0) AS c03,
             |    (s11 - su1*su1/CAST(n AS DOUBLE)) / n / (1000e0*1000e0) AS c11,
             |    (s12 - su1*su2/CAST(n AS DOUBLE)) / n / (1000e0*1000e0) AS c12,
             |    (s13 - su1*su3/CAST(n AS DOUBLE)) / n / (1000e0*1000e0) AS c13,
             |    (s22 - su2*su2/CAST(n AS DOUBLE)) / n / (1000e0*1000e0) AS c22,
             |    (s23 - su2*su3/CAST(n AS DOUBLE)) / n / (1000e0*1000e0) AS c23,
             |    (s33 - su3*su3/CAST(n AS DOUBLE)) / n / (1000e0*1000e0) AS c33
             |  FROM m),
             |f AS (SELECT *,
             |    1e-9 * greatest((c00 + c11 + c22 + c33) / 4e0, 1e-300) AS r FROM c),
             |la AS (SELECT *, sqrt(c00 + r) AS l00 FROM f),
             |lb AS (SELECT *, c01/l00 AS l10, c02/l00 AS l20, c03/l00 AS l30 FROM la),
             |lc AS (SELECT *, sqrt((c11 + r) - l10*l10) AS l11 FROM lb),
             |ld AS (SELECT *, (c12 - l20*l10)/l11 AS l21,
             |                 (c13 - l30*l10)/l11 AS l31 FROM lc),
             |le AS (SELECT *, sqrt(((c22 + r) - l20*l20) - l21*l21) AS l22 FROM ld),
             |lf AS (SELECT *, ((c23 - l30*l20) - l31*l21)/l22 AS l32 FROM le),
             |lg AS (SELECT *,
             |    sqrt((((c33 + r) - l30*l30) - l31*l31) - l32*l32) AS l33 FROM lf),
             |wa AS (SELECT *, 1e0/l00 AS w00, 1e0/l11 AS w11,
             |                 1e0/l22 AS w22, 1e0/l33 AS w33 FROM lg),
             |wb AS (SELECT *, (0e0 - l10*w00)/l11 AS w10 FROM wa),
             |wc AS (SELECT *, ((0e0 - l20*w00) - l21*w10)/l22 AS w20,
             |                 (0e0 - l21*w11)/l22 AS w21 FROM wb),
             |wd AS (SELECT *, (((0e0 - l30*w00) - l31*w10) - l32*w20)/l33 AS w30,
             |                 ((0e0 - l31*w11) - l32*w21)/l33 AS w31,
             |                 (0e0 - l32*w22)/l33 AS w32 FROM wc)
             |SELECT CAST(u.vec_id AS BIGINT) AS vec_id, CAST(0 AS BIGINT) AS dim,
             |  round(0e0 + w.w00*(u.x0 - w.m0) + 0e0*(u.x1 - w.m1)
             |            + 0e0*(u.x2 - w.m2) + 0e0*(u.x3 - w.m3), 6) AS z
             |FROM u, wd w
             |UNION ALL
             |SELECT CAST(u.vec_id AS BIGINT), 1,
             |  round(0e0 + w.w10*(u.x0 - w.m0) + w.w11*(u.x1 - w.m1)
             |            + 0e0*(u.x2 - w.m2) + 0e0*(u.x3 - w.m3), 6)
             |FROM u, wd w
             |UNION ALL
             |SELECT CAST(u.vec_id AS BIGINT), 2,
             |  round(0e0 + w.w20*(u.x0 - w.m0) + w.w21*(u.x1 - w.m1)
             |            + w.w22*(u.x2 - w.m2) + 0e0*(u.x3 - w.m3), 6)
             |FROM u, wd w
             |UNION ALL
             |SELECT CAST(u.vec_id AS BIGINT), 3,
             |  round(0e0 + w.w30*(u.x0 - w.m0) + w.w31*(u.x1 - w.m1)
             |            + w.w32*(u.x2 - w.m2) + w.w33*(u.x3 - w.m3), 6)
             |FROM u, wd w
             |ORDER BY vec_id, dim""".stripMargin)),

    // upper-triangle exact cross-moments of the embedding corpus — the
    // sufficient statistics for covariance/whitening (the dimStats
    // discipline on dim PAIRS): every (i ≤ j) cell's n / Σu_iu_j / Σu_i /
    // Σu_j replayed as BIGINTs by a DuckDB self-join over the same
    // quantization. The Spark side builds the pairs IN-ROW (suffix-slice
    // transform, no self-join) and aggregates once on the dims²-bounded
    // key — the whiten() transform consumes exactly this relation.
    ("q_dim_covariance",
      (s: SparkSession, d: String) =>
        Similarity.dimCrossStats(t(s, d, "embeddings"), "embedding")
          .orderBy("dim_i", "dim_j"),
      Some("""WITH e AS (SELECT vec_id,
             |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
             |  FROM embeddings),
             |u AS (SELECT vec_id, CAST(i - 1 AS BIGINT) AS di,
             |    CAST(floor(v[i] * 1000) AS BIGINT) AS u
             |  FROM e, unnest(range(1, len(v)+1)) t(i)),
             |p AS (SELECT a.di AS dim_i, b.di AS dim_j,
             |    a.u * b.u AS uu, a.u AS ui, b.u AS uj
             |  FROM u a JOIN u b ON b.vec_id = a.vec_id AND b.di >= a.di)
             |SELECT dim_i, dim_j, CAST(count(*) AS BIGINT) AS n,
             |  CAST(sum(uu) AS BIGINT) AS sum_uu,
             |  CAST(sum(ui) AS BIGINT) AS sum_ui,
             |  CAST(sum(uj) AS BIGINT) AS sum_uj
             |FROM p GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    ("q_cosine_topk",
      (s: SparkSession, d: String) => {
        val emb = t(s, d, "embeddings")
        Similarity.bruteForceTopK(emb, emb.filter(col("vec_id") < 10), "vec_id", "embedding", 5)
          .select(col("query_id"), col("neighbor_id"), col("cosine"),
            col("rnk").cast("long").as("rnk"))
      },
      Some("""WITH e AS (
             |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
             |  FROM embeddings),
             |q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 10),
             |s AS (
             |  SELECT q.query_id, e.vec_id AS neighbor_id,
             |    round(CASE WHEN sqrt(list_inner_product(q.qv, q.qv)
             |                         * list_inner_product(e.v, e.v)) = 0 THEN 0.0
             |          ELSE list_inner_product(q.qv, e.v)
             |               / sqrt(list_inner_product(q.qv, q.qv)
             |                      * list_inner_product(e.v, e.v)) END, 6) AS cosine
             |  FROM e JOIN q ON q.query_id <> e.vec_id),
             |r AS (
             |  SELECT query_id, neighbor_id, cosine,
             |    row_number() OVER (PARTITION BY query_id
             |                       ORDER BY cosine DESC, neighbor_id) AS rn
             |  FROM s)
             |SELECT query_id, neighbor_id, cosine, rn AS rnk FROM r
             |WHERE rn <= 5 ORDER BY query_id, rnk""".stripMargin)),

    // IVF is pure cosine arithmetic on the data (deterministic first-N
    // centroids, argmax assignment, nprobe nearest cells) — DuckDB replays
    // the whole index-build + probe + search pipeline exactly. First-N
    // seeding is DELIBERATE here (the oracle can't replay Lloyd
    // iterations); the production default is ivfAssign/ivfCentroidsKmeans,
    // whose recall floor q_ivf_recall grades on a content-ordered corpus.
    ("q_ivf_topk",
      (s: SparkSession, d: String) => {
        val emb = t(s, d, "embeddings")
        val cents = Similarity.ivfCentroids(emb, "vec_id", "embedding", cells = 16)
        val indexed = Similarity.assignCells(emb, "vec_id", "embedding", cents)
        Similarity.ivfSearch(indexed, emb.filter(col("vec_id") < 10),
          cents, "vec_id", "embedding", nprobe = 4, k = 5)
          .select(col("query_id"), col("neighbor_id"), col("cosine"),
            col("rnk").cast("long").as("rnk"))
      },
      Some("""WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
             |  FROM embeddings),
             |cents AS (SELECT vec_id AS cell, v AS cv FROM e ORDER BY vec_id LIMIT 16),
             |sc AS (SELECT e.vec_id, c.cell,
             |    CASE WHEN sqrt(list_inner_product(e.v,e.v)*list_inner_product(c.cv,c.cv)) = 0 THEN 0.0
             |         ELSE list_inner_product(e.v,c.cv)
             |              / sqrt(list_inner_product(e.v,e.v)*list_inner_product(c.cv,c.cv)) END AS s
             |  FROM e CROSS JOIN cents c),
             |assign AS (SELECT vec_id, cell FROM (
             |    SELECT vec_id, cell, row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, cell) AS rn
             |    FROM sc) WHERE rn = 1),
             |probes AS (SELECT vec_id AS query_id, cell FROM (
             |    SELECT vec_id, cell, row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, cell) AS rn
             |    FROM sc WHERE vec_id < 10) WHERE rn <= 4),
             |scored AS (
             |  SELECT p.query_id, a.vec_id AS neighbor_id,
             |    round(CASE WHEN sqrt(list_inner_product(q.v,q.v)*list_inner_product(c2.v,c2.v)) = 0 THEN 0.0
             |          ELSE list_inner_product(q.v,c2.v)
             |               / sqrt(list_inner_product(q.v,q.v)*list_inner_product(c2.v,c2.v)) END, 6) AS cosine
             |  FROM probes p JOIN assign a ON a.cell = p.cell
             |  JOIN e q ON q.vec_id = p.query_id
             |  JOIN e c2 ON c2.vec_id = a.vec_id
             |  WHERE a.vec_id <> p.query_id),
             |r AS (SELECT query_id, neighbor_id, cosine,
             |        row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rn
             |      FROM scored)
             |SELECT query_id, neighbor_id, cosine, rn AS rnk FROM r
             |WHERE rn <= 5 ORDER BY query_id, rnk""".stripMargin)),

    // IVF seeding quality, graded: a content-ordered corpus (16 contiguous
    // near-identical blocks derived from the embeddings table — id order IS
    // topic order, the layout that silently breaks first-N-by-id seeding)
    // searched with k-means-refined centroids must reach recall@10 >= 0.9
    // vs brute force. The oracle can't replay Lloyd iterations, so the
    // graded row is the q_sketch_checks pattern: a data-derived query count
    // plus the in-tolerance boolean.
    ("q_ivf_recall",
      (s: SparkSession, d: String) => {
        val emb = t(s, d, "embeddings")
        val n = emb.count() // index-build metadata: one bounded action
        val block = math.max(n / 16L, 1L)
        val bases = emb.filter(col("vec_id") % block === 0)
          .select(graft.functions.integral_divide(col("vec_id"), lit(block)).as("blk"),
            col("embedding").as("base"))
        // member vector = block base + a small deterministic per-(id, dim)
        // perturbation: blocks are tight clusters, id order is content order
        val corpus = emb
          .select(col("vec_id"),
            graft.functions.integral_divide(col("vec_id"), lit(block)).as("blk"))
          .join(broadcast(bases), Seq("blk"))
          .select(col("vec_id"),
            zip_with(col("base"), sequence(lit(0), lit(63)),
              (b, j) => (b.cast("double")
                + ((col("vec_id") * 31 + j) % 11).cast("double") * lit(0.003))
                .cast("float")).as("vec"))
        val queries = corpus.filter(col("vec_id") % block === block / 2)
        val cents = Similarity.ivfCentroidsKmeans(corpus, "vec_id", "vec", cells = 16)
        val indexed = Similarity.assignCells(corpus, "vec_id", "vec", cents)
        val ivf = Similarity.ivfSearch(indexed, queries, cents, "vec_id", "vec",
          nprobe = 4, k = 10).select("query_id", "neighbor_id")
        val truth = Similarity.bruteForceTopK(corpus, queries, "vec_id", "vec", 10)
          .select("query_id", "neighbor_id")
        val nQ = queries.count()
        val found = truth.join(ivf, Seq("query_id", "neighbor_id"), "left_semi").count()
        val recall = found.toDouble / (nQ * 10L)
        import s.implicits._
        Seq((nQ, recall >= 0.9)).toDF("n_queries", "recall_ok")
      },
      Some("""WITH n AS (SELECT count(*) AS n FROM embeddings)
             |SELECT CAST(count(*) AS BIGINT) AS n_queries, true AS recall_ok
             |FROM embeddings, n
             |WHERE vec_id % greatest(n.n // 16, 1) = greatest(n.n // 16, 1) // 2""".stripMargin)),

    // Schema-drift audit: "new" is documents after an upstream change —
    // lang dropped, n_chars widened to double, a nullable tok_count added,
    // and text developing a null stripe — exactly the feed drift a
    // long-lived pipeline must catch. The oracle rebuilds the per-column
    // diff + null census closed-form.
    ("q_schema_drift",
      (s: SparkSession, d: String) => {
        val docs = t(s, d, "documents")
        val mutated = docs
          .drop("lang")
          .withColumn("n_chars", col("n_chars").cast("double"))
          .withColumn("tok_count",
            when(col("doc_id") % 10 === 0, lit(null).cast("long"))
              .otherwise(col("n_chars").cast("long")))
          .withColumn("text",
            when(col("doc_id") % 25 === 0, lit(null).cast("string"))
              .otherwise(col("text")))
        Relational.schemaDrift(docs, mutated)
          .select(col("col_name"), col("status"),
            col("old_type"), col("new_type"),
            col("old_nulls").cast("long").as("old_nulls"),
            col("new_nulls").cast("long").as("new_nulls"))
          .orderBy("col_name")
      },
      Some("""WITH n AS (SELECT count(*) AS n,
             |  CAST(count(*) FILTER (doc_id % 10 = 0) AS BIGINT) AS tok_nulls,
             |  CAST(count(*) FILTER (doc_id % 25 = 0) AS BIGINT) AS text_nulls
             |  FROM documents)
             |SELECT * FROM (
             |  SELECT 'doc_id' AS col_name, 'unchanged' AS status,
             |    'bigint' AS old_type, 'bigint' AS new_type,
             |    CAST(0 AS BIGINT) AS old_nulls, CAST(0 AS BIGINT) AS new_nulls FROM n
             |  UNION ALL SELECT 'lang', 'removed', 'string', NULL, 0, NULL FROM n
             |  UNION ALL SELECT 'n_chars', 'type_changed', 'bigint', 'double', 0, 0 FROM n
             |  UNION ALL SELECT 'source', 'unchanged', 'string', 'string', 0, 0 FROM n
             |  UNION ALL SELECT 'text', 'unchanged', 'string', 'string', 0, text_nulls FROM n
             |  UNION ALL SELECT 'tok_count', 'added', NULL, 'bigint', NULL, tok_nulls FROM n)
             |ORDER BY col_name""".stripMargin)),

    // Incremental IVF index growth: build the on-disk index (with its
    // centroid table persisted as part of the index) from HALF the
    // corpus, append the other half against the persisted centroids,
    // compact, then the GRADED RESULT is the persisted-index search's
    // actual top-k lists — DuckDB replays the whole pipeline (first-16
    // centroids of the build half, full-corpus assignment, nprobe
    // probing, in-cell cosine, top-k), so a regression anywhere in the
    // write → append → compact → partition-pruned-read path changes the
    // hashed rows. Deterministic first-N seeding HERE (oracle can't
    // replay Lloyd; k-means seeding quality is q_ivf_recall's job). The
    // persisted-equals-direct lifecycle law is enforced by a loud
    // require, not a self-asserted column.
    ("q_ivf_append",
      (s: SparkSession, d: String) => {
        val emb = t(s, d, "embeddings")
        val half = emb.count() / 2
        val a = emb.filter(col("vec_id") < half)
        val b = emb.filter(col("vec_id") >= half)
        val cents = Similarity.ivfCentroids(a, "vec_id", "embedding", cells = 16)
        val path = scratchDir("ivf_append")
        Similarity.ivfWriteIndexWithCentroids(
          Similarity.assignCells(a, "vec_id", "embedding", cents), cents, path)
        Similarity.ivfAppendIndex(b, "vec_id", "embedding", path)
        // the graded result must survive compaction byte-for-byte (the
        // q_incremental_neardup contract, for the IVF lifecycle)
        Similarity.ivfCompactIndex(s, path)
        val queries = emb.filter(col("vec_id") % 37 === 0)
        // materialized like fromDisk: the folded lifecycle check below
        // reads it twice (both exceptAll directions in one plan)
        val direct = Similarity.ivfSearch(
          Similarity.assignCells(emb, "vec_id", "embedding", cents), queries,
          cents, "vec_id", "embedding", nprobe = 4, k = 5).localCheckpoint(eager = false)
        val fromDisk = Similarity.ivfSearchIndexPersisted(s, path, queries,
          "vec_id", "embedding", nprobe = 4, k = 5).localCheckpoint(eager = false)
        // one action, not two sequential counts (sum of the two exceptAll
        // counts == count of their unionAll; the scheduler overlaps the
        // independent subtrees inside the single job)
        val extra = direct.exceptAll(fromDisk)
          .unionAll(fromDisk.exceptAll(direct)).count()
        require(extra == 0L,
          s"ivf append lifecycle: persisted search diverged from direct ($extra rows)")
        fromDisk
          .select(col("query_id"), col("neighbor_id"), col("cosine"),
            col("rnk").cast("long").as("rnk"))
          .orderBy("query_id", "rnk")
      },
      Some("""WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
             |  FROM embeddings),
             |h AS (SELECT count(*) // 2 AS half FROM embeddings),
             |cents AS (SELECT vec_id AS cell, v AS cv FROM e, h
             |          WHERE vec_id < h.half ORDER BY vec_id LIMIT 16),
             |sc AS (SELECT e.vec_id, c.cell,
             |    CASE WHEN sqrt(list_inner_product(e.v,e.v)*list_inner_product(c.cv,c.cv)) = 0 THEN 0.0
             |         ELSE list_inner_product(e.v,c.cv)
             |              / sqrt(list_inner_product(e.v,e.v)*list_inner_product(c.cv,c.cv)) END AS s
             |  FROM e CROSS JOIN cents c),
             |assign AS (SELECT vec_id, cell FROM (
             |    SELECT vec_id, cell, row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, cell) AS rn
             |    FROM sc) WHERE rn = 1),
             |probes AS (SELECT vec_id AS query_id, cell FROM (
             |    SELECT vec_id, cell, row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, cell) AS rn
             |    FROM sc WHERE vec_id % 37 = 0) WHERE rn <= 4),
             |scored AS (
             |  SELECT p.query_id, a.vec_id AS neighbor_id,
             |    round(CASE WHEN sqrt(list_inner_product(q.v,q.v)*list_inner_product(c2.v,c2.v)) = 0 THEN 0.0
             |          ELSE list_inner_product(q.v,c2.v)
             |               / sqrt(list_inner_product(q.v,q.v)*list_inner_product(c2.v,c2.v)) END, 6) AS cosine
             |  FROM probes p JOIN assign a ON a.cell = p.cell
             |  JOIN e q ON q.vec_id = p.query_id
             |  JOIN e c2 ON c2.vec_id = a.vec_id
             |  WHERE a.vec_id <> p.query_id),
             |r AS (SELECT query_id, neighbor_id, cosine,
             |        row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rn
             |      FROM scored)
             |SELECT query_id, neighbor_id, cosine, rn AS rnk FROM r
             |WHERE rn <= 5 ORDER BY query_id, rnk""".stripMargin)),

    // Product quantization (PQ8), graded on the q_ivf_recall planted-block
    // corpus: vectors L2-normalized (unit vectors make PQ's L2 ADC ranking
    // agree with cosine), codebook trained driver-side on the hash-ordered
    // sample (m=8 subspaces × ≤256 sub-centroids, Lloyd-refined), corpus
    // encoded to m-byte codes by the codegen'd kernel, searched in the
    // production shape — per-query ADC lookup table, code-scan shortlist,
    // exact re-rank of the bounded shortlist — and graded on recall@10 vs
    // brute-force cosine plus the measured bytes/vector reduction vs SQ8
    // (both sides data-derived: code bytes from the real binary column,
    // SQ8 bytes = dims + 4-byte scale from the real embedding width).
    ("q_pq_recall",
      (s: SparkSession, d: String) => {
        val emb = t(s, d, "embeddings")
        val n = emb.count()
        val block = math.max(n / 16L, 1L)
        val bases = emb.filter(col("vec_id") % block === 0)
          .select(graft.functions.integral_divide(col("vec_id"), lit(block)).as("blk"),
            col("embedding").as("base"))
        // materialized ONCE: train sample, encode scan, re-rank join,
        // brute-force truth, and the byte audits all read this relation —
        // without the checkpoint each action replays the join + synthesis.
        // Spread first (16-byte rows across the exchange) so every
        // consumer is parallel instead of riding the one-split scan.
        val corpus = Par.spread(emb
            .select(col("vec_id"),
              graft.functions.integral_divide(col("vec_id"), lit(block)).as("blk")))
          .join(broadcast(bases), Seq("blk"))
          .select(col("vec_id"),
            Similarity.l2Normalize(
              zip_with(col("base"), sequence(lit(0), lit(63)),
                (b, j) => (b.cast("double")
                  + ((col("vec_id") * 31 + j) % 11).cast("double") * lit(0.003))
                  .cast("float"))).as("vec"))
          .localCheckpoint(eager = false)
        val queries = corpus.filter(col("vec_id") % block === block / 2)
        val cb = Similarity.pqTrain(corpus, "vec_id", "vec", m = 8, k = 256)
        val codes = corpus.select(col("vec_id"),
          graft.functions.pq_encode(col("vec"), cb).as("code"))
        val pq = Similarity.pqSearchTopK(codes, corpus, queries, cb,
          "vec_id", "vec", "code", k = 10, shortlist = 50)
          .select("query_id", "neighbor_id")
        val truth = Similarity.bruteForceTopK(corpus, queries, "vec_id", "vec", 10)
          .select("query_id", "neighbor_id")
        // all four validation aggregates in ONE action (independent
        // single-row subtrees; previously 4 sequential driver actions) —
        // values and the loud require unchanged
        val checks = emb.filter(col("vec_id") % block === block / 2)
          .agg(count(lit(1)).cast("long").as("nq"))
          .crossJoin(truth.join(pq, Seq("query_id", "neighbor_id"), "left_semi")
            .agg(count(lit(1)).cast("long").as("found")))
          .crossJoin(codes.agg(
            max(octet_length(col("code"))).cast("long").as("bmax"),
            min(octet_length(col("code"))).cast("long").as("bmin")))
          .crossJoin(corpus.agg(max(size(col("vec"))).cast("long").as("dims")))
          .collect()(0)
        val nQ = checks.getAs[Long]("nq")
        val recall = checks.getAs[Long]("found").toDouble / (nQ * 10L)
        require(checks.getAs[Long]("bmax") == checks.getAs[Long]("bmin"),
          "pq codes must be fixed-width")
        val pqBytes = checks.getAs[Long]("bmax")
        val dims = checks.getAs[Long]("dims")
        val sq8Bytes = dims + 4L
        import s.implicits._
        Seq((nQ, recall >= 0.9, pqBytes, sq8Bytes, sq8Bytes >= 8L * pqBytes))
          .toDF("n_queries", "recall_ok", "pq_code_bytes", "sq8_code_bytes",
            "compression_8x")
      },
      Some("""WITH n AS (SELECT count(*) AS n FROM embeddings),
             |q AS (SELECT CAST(count(*) AS BIGINT) AS n_queries FROM embeddings, n
             |      WHERE vec_id % greatest(n.n // 16, 1) = greatest(n.n // 16, 1) // 2),
             |d AS (SELECT CAST(max(len(embedding)) AS BIGINT) AS dims FROM embeddings)
             |SELECT q.n_queries, true AS recall_ok,
             |  CAST(8 AS BIGINT) AS pq_code_bytes,
             |  d.dims + 4 AS sq8_code_bytes,
             |  true AS compression_8x
             |FROM q, d""".stripMargin)),

    // IVF × quantization — the composed 100 TB index layout (IVF-SQ8):
    // cells persist int8 codes + per-vector scale instead of f32 vectors,
    // probe selection stays f32-vs-centroids, in-cell scoring runs
    // int8×int8 (scales cancel under cosine — no dequantization at all).
    // Graded on the exact q_ivf_append lifecycle contract — build from
    // half, append half against the persisted centroids, compact, then
    // persisted-index search must equal the direct in-memory quantized
    // search (exceptAll both ways empty; both sides int8, so equality is
    // exact) — plus a fidelity leg: every returned int8 cosine must sit
    // within 0.02 of the f32 cosine for that same pair.
    ("q_ivf_quantized",
      (s: SparkSession, d: String) => {
        val emb = t(s, d, "embeddings")
        val half = emb.count() / 2
        val a = emb.filter(col("vec_id") < half)
        val b = emb.filter(col("vec_id") >= half)
        // deterministic first-N seeding so the GRADED RESULT is the
        // persisted quantized search's actual top-k lists: DuckDB replays
        // f32 probe selection, the round(x/max|v|·127) int8 codes, the
        // exact-BIGINT int8 cosine, and the top-k — any regression in the
        // quantize kernel, the int8 scorer, or the write→append→compact→
        // pruned-read lifecycle changes hashed rows. (K-means seeding
        // quality stays q_ivf_recall's job.)
        val cents = Similarity.ivfCentroids(a, "vec_id", "embedding", cells = 16)
        val path = scratchDir("ivf_quant")
        Similarity.ivfWriteIndexQuantized(a, "vec_id", "embedding", cents, path)
        Similarity.ivfAppendIndexQuantized(b, "vec_id", "embedding", path)
        Similarity.ivfCompactIndex(s, path)
        val queries = emb.filter(col("vec_id") % 37 === 0)
        val direct = Similarity.ivfSearchQuantized(emb, queries, cents,
          "vec_id", "embedding", nprobe = 4, k = 5).localCheckpoint(eager = false)
        val fromDisk = Similarity.ivfSearchIndexQuantized(s, path, queries,
          "vec_id", "embedding", nprobe = 4, k = 5).localCheckpoint(eager = false)
        // lifecycle + fidelity laws enforced loudly, not self-asserted:
        // persisted ≡ direct (both int8), and every returned int8 cosine
        // within 0.02 of the f32 cosine for the same pair. Both checks in
        // ONE action (independent single-row subtrees; previously 3
        // sequential count jobs) — values and requires unchanged.
        val checks = direct.exceptAll(fromDisk)
          .unionAll(fromDisk.exceptAll(direct))
          .agg(count(lit(1)).cast("long").as("extra"))
          .crossJoin(fromDisk
            .join(emb.select(col("vec_id").as("query_id"), col("embedding").as("qv")),
              Seq("query_id"))
            .join(emb.select(col("vec_id").as("neighbor_id"), col("embedding").as("cv")),
              Seq("neighbor_id"))
            .filter(abs(col("cosine")
              - round(Similarity.cosineF(col("qv"), col("cv")), 6)) > 0.02)
            .agg(count(lit(1)).cast("long").as("off_tol")))
          .collect()(0)
        val extra = checks.getAs[Long]("extra")
        require(extra == 0L,
          s"quantized ivf lifecycle: persisted search diverged from direct ($extra rows)")
        val offTol = checks.getAs[Long]("off_tol")
        require(offTol == 0L,
          s"quantized ivf fidelity: $offTol results off the f32 cosine by > 0.02")
        fromDisk
          .select(col("query_id"), col("neighbor_id"), col("cosine"),
            col("rnk").cast("long").as("rnk"))
          .orderBy("query_id", "rnk")
      },
      Some("""WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
             |  FROM embeddings),
             |h AS (SELECT count(*) // 2 AS half FROM embeddings),
             |cents AS (SELECT vec_id AS cell, v AS cv FROM e, h
             |          WHERE vec_id < h.half ORDER BY vec_id LIMIT 16),
             |sc AS (SELECT e.vec_id, c.cell,
             |    CASE WHEN sqrt(list_inner_product(e.v,e.v)*list_inner_product(c.cv,c.cv)) = 0 THEN 0.0
             |         ELSE list_inner_product(e.v,c.cv)
             |              / sqrt(list_inner_product(e.v,e.v)*list_inner_product(c.cv,c.cv)) END AS s
             |  FROM e CROSS JOIN cents c),
             |assign AS (SELECT vec_id, cell FROM (
             |    SELECT vec_id, cell, row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, cell) AS rn
             |    FROM sc) WHERE rn = 1),
             |probes AS (SELECT vec_id AS query_id, cell FROM (
             |    SELECT vec_id, cell, row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, cell) AS rn
             |    FROM sc WHERE vec_id % 37 = 0) WHERE rn <= 4),
             |q8 AS (SELECT vec_id,
             |    CASE WHEN ma = 0 THEN list_transform(v, x -> CAST(0 AS BIGINT))
             |         ELSE list_transform(v, x -> CAST(round(x / ma * 127) AS BIGINT)) END AS q
             |  FROM (SELECT vec_id, v,
             |          list_aggregate(list_transform(v, x -> abs(x)), 'max') AS ma
             |        FROM e)),
             |scored AS (
             |  SELECT p.query_id, a.vec_id AS neighbor_id,
             |    round(CASE WHEN sqrt(list_inner_product(qq.q, qq.q)
             |                         * list_inner_product(cq.q, cq.q)) = 0 THEN 0.0
             |          ELSE list_inner_product(qq.q, cq.q)
             |               / sqrt(list_inner_product(qq.q, qq.q)
             |                      * list_inner_product(cq.q, cq.q)) END, 6) AS cosine
             |  FROM probes p JOIN assign a ON a.cell = p.cell
             |  JOIN q8 qq ON qq.vec_id = p.query_id
             |  JOIN q8 cq ON cq.vec_id = a.vec_id
             |  WHERE a.vec_id <> p.query_id),
             |r AS (SELECT query_id, neighbor_id, cosine,
             |        row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rn
             |      FROM scored)
             |SELECT query_id, neighbor_id, cosine, rn AS rnk FROM r
             |WHERE rn <= 5 ORDER BY query_id, rnk""".stripMargin)),

    // IVF-PQ — the composed canonical 100 TB ANN layout (coarse cells ×
    // residual product codes): cells persist m-BYTE codes of the vector's
    // RESIDUAL against its cell centroid (no f32, no scale — 4·dims/m×
    // less index than f32, dims/m+4× less than SQ8); probe selection is
    // f32-vs-centroids; per (query, probed cell) an ADC lookup table is
    // built from the QUERY's residual so ADC approximates ‖q−v‖², which
    // on the L2-normalized corpus ranks like cosine; exact re-rank reads
    // only the bounded shortlist from the f32 base relation. Graded on
    // the full lifecycle contract (build from half → append half against
    // the PERSISTED centroids+codebook → compact → persisted search ≡
    // direct in-memory search, exceptAll both ways — codes and LUTs are
    // bit-identical by construction, so equality is exact) plus the
    // recall law: recall@10 ≥ 0.9 vs brute-force cosine on the planted
    // corpus, through the ADC shortlist. Codebook identity travels with
    // the index (`_pq_codebook` beside `_centroids`) and survives
    // compaction.
    ("q_ivf_pq",
      (s: SparkSession, d: String) => {
        val emb = t(s, d, "embeddings")
        val n = emb.count()
        val block = math.max(n / 16L, 1L)
        val bases = emb.filter(col("vec_id") % block === 0)
          .select(graft.functions.integral_divide(col("vec_id"), lit(block)).as("blk"),
            col("embedding").as("base"))
        // planted-block corpus (the q_pq_recall discipline), L2-normalized
        // so PQ's L2 ADC ranking agrees with the cosine grade; materialized
        // once — codebook train, both index builds, both searches, and the
        // brute-force truth all read it. Measured NOT spread (r20): this
        // query runs ~60 small jobs over the checkpoint, and a 32-wide
        // corpus made each of them schedule 32 tasks (6.5 s -> 6.8 s);
        // the per-vector PQ work at fixture scale doesn't cover that.
        val corpus = emb
          .select(col("vec_id"),
            graft.functions.integral_divide(col("vec_id"), lit(block)).as("blk"))
          .join(broadcast(bases), Seq("blk"))
          .select(col("vec_id"),
            Similarity.l2Normalize(
              zip_with(col("base"), sequence(lit(0), lit(63)),
                (b, j) => (b.cast("double")
                  + ((col("vec_id") * 31 + j) % 11).cast("double") * lit(0.003))
                  .cast("float"))).as("vec"))
          .localCheckpoint(eager = false)
        val half = n / 2
        val a = corpus.filter(col("vec_id") < half)
        val b = corpus.filter(col("vec_id") >= half)
        val cents = Similarity.ivfCentroidsKmeans(corpus, "vec_id", "vec", cells = 16)
        val cb = Similarity.ivfPqTrain(a, "vec_id", "vec", cents, m = 8, k = 256)
        val path = scratchDir("ivf_pq")
        Similarity.ivfPqWriteIndex(a, "vec_id", "vec", cents, cb, path)
        Similarity.ivfPqAppendIndex(b, "vec_id", "vec", path)
        Similarity.ivfCompactIndex(s, path)
        val queries = corpus.filter(col("vec_id") % block === block / 2)
        val fromDisk = Similarity.ivfPqSearchIndex(s, path, corpus, queries,
          "vec_id", "vec", nprobe = 4, k = 10, shortlist = 30).localCheckpoint(eager = false)
        val direct = Similarity.ivfPqSearch(corpus, queries, cents, cb,
          "vec_id", "vec", nprobe = 4, k = 10, shortlist = 30).localCheckpoint(eager = false)
        // ALL validation aggregates in ONE action (they are independent
        // single-row subtrees — lifecycle diff, recall, query count, byte
        // audits — and the scheduler overlaps their stages inside the one
        // job; previously 6 sequential driver actions paid 6x the per-job
        // fixed cost). Values and the loud requires are unchanged.
        val truth = Similarity.bruteForceTopK(corpus, queries, "vec_id", "vec", 10)
          .select("query_id", "neighbor_id")
        val checks = direct.exceptAll(fromDisk)
          .unionAll(fromDisk.exceptAll(direct))
          .agg(count(lit(1)).cast("long").as("extra"))
          .crossJoin(truth.join(fromDisk.select("query_id", "neighbor_id"),
              Seq("query_id", "neighbor_id"), "left_semi")
            .agg(count(lit(1)).cast("long").as("found")))
          .crossJoin(emb.filter(col("vec_id") % block === block / 2)
            .agg(count(lit(1)).cast("long").as("nq")))
          .crossJoin(Tables.parquet(s, path)
            .agg(max(octet_length(col("code"))).cast("long").as("bmax"),
              min(octet_length(col("code"))).cast("long").as("bmin")))
          .crossJoin(corpus
            .agg(max(size(col("vec"))).cast("long").as("dims")))
          .collect()(0)
        val extra = checks.getAs[Long]("extra")
        require(extra == 0L,
          s"ivf-pq lifecycle: persisted search diverged from direct ($extra rows)")
        val nQ = checks.getAs[Long]("nq")
        val recall = checks.getAs[Long]("found").toDouble / (nQ * 10L)
        require(recall >= 0.9,
          f"ivf-pq recall@10 $recall%.3f below the 0.9 floor")
        // byte audit from the REAL persisted binary column + vector width
        require(checks.getAs[Long]("bmax") == checks.getAs[Long]("bmin"),
          "ivf-pq codes must be fixed-width")
        val dims = checks.getAs[Long]("dims")
        import s.implicits._
        Seq((nQ, recall >= 0.9, checks.getAs[Long]("bmax"), 4L * dims,
            4L * dims >= 32L * checks.getAs[Long]("bmax")))
          .toDF("n_queries", "recall_ok", "pq_code_bytes", "f32_vec_bytes",
            "compression_32x")
      },
      Some("""WITH n AS (SELECT count(*) AS n FROM embeddings),
             |q AS (SELECT CAST(count(*) AS BIGINT) AS n_queries FROM embeddings, n
             |      WHERE vec_id % greatest(n.n // 16, 1) = greatest(n.n // 16, 1) // 2),
             |d AS (SELECT CAST(max(len(embedding)) AS BIGINT) AS dims FROM embeddings)
             |SELECT q.n_queries, true AS recall_ok,
             |  CAST(8 AS BIGINT) AS pq_code_bytes,
             |  4 * d.dims AS f32_vec_bytes,
             |  true AS compression_32x
             |FROM q, d""".stripMargin)),

    // Graph ANN — the third index class beside IVF and PQ: sharded
    // single-layer NSW/HNSW graphs (diversity-heuristic wiring, bounded
    // beam search, candidates-only shuffle). Graded on the q_ivf_recall
    // planted-block corpus, four verdicts: recall@10 ≥ 0.9 vs brute force;
    // the walk visits < 75% of what brute force scans even at toy scale
    // (the ef floor dominates small corpora — GraphAnnSpec pins the
    // scaling-relevant property that visits are ef-bounded, flat in n);
    // and the persisted index (partitionBy(shard) + shard-whole reload)
    // searches identically to the in-memory graph, exceptAll both ways.
    ("q_graph_ann",
      (s: SparkSession, d: String) => {
        val emb = t(s, d, "embeddings")
        val n = emb.count()
        val block = math.max(n / 16L, 1L)
        val bases = emb.filter(col("vec_id") % block === 0)
          .select(graft.functions.integral_divide(col("vec_id"), lit(block)).as("blk"),
            col("embedding").as("base"))
        // build scan, both searches, and brute-force truth all read the
        // planted corpus — materialize the synthesis once (measured NOT
        // spread in r20: wall flat, the many small downstream jobs just
        // scheduled 32x the tasks)
        val corpus = emb
          .select(col("vec_id"),
            graft.functions.integral_divide(col("vec_id"), lit(block)).as("blk"))
          .join(broadcast(bases), Seq("blk"))
          .select(col("vec_id"),
            zip_with(col("base"), sequence(lit(0), lit(63)),
              (b, j) => (b.cast("double")
                + ((col("vec_id") * 31 + j) % 11).cast("double") * lit(0.003))
                .cast("float")).as("vec"))
          .localCheckpoint(eager = false)
        val queries = corpus.filter(col("vec_id") % block === block / 2)
        val graph = GraphAnn.buildGraph(corpus, "vec_id", "vec",
          shards = 4, m = 8, efConstruction = 32).localCheckpoint(eager = false)
        val cands = GraphAnn.searchShards(graph, queries, "vec_id", "vec",
          k = 10, ef = 16).localCheckpoint(eager = false)
        val direct = GraphAnn.mergeShardResults(cands, 10).localCheckpoint(eager = false)
        val truth = Similarity.bruteForceTopK(corpus, queries, "vec_id", "vec", 10)
          .select("query_id", "neighbor_id")
        val path = scratchDir("graph_ann")
        GraphAnn.graphWriteIndex(graph, path)
        val fromDisk = GraphAnn.searchGraph(GraphAnn.graphReadIndex(s, path), queries,
          "vec_id", "vec", k = 10, ef = 16).localCheckpoint(eager = false)
        // all four verdict aggregates in ONE action (independent
        // single-row subtrees, stages overlapped by the scheduler;
        // previously 4 sequential driver actions) — values unchanged
        val checks = truth.join(direct.select("query_id", "neighbor_id"),
            Seq("query_id", "neighbor_id"), "left_semi")
          .agg(count(lit(1)).cast("long").as("found"))
          .crossJoin(emb.filter(col("vec_id") % block === block / 2)
            .agg(count(lit(1)).cast("long").as("nq")))
          .crossJoin(cands.groupBy("query_id")
            .agg(sum(col("visited")).as("v"))
            .agg(avg(col("v")).as("vis")))
          .crossJoin(direct.exceptAll(fromDisk)
            .unionAll(fromDisk.exceptAll(direct))
            .agg(count(lit(1)).cast("long").as("extra")))
          .collect()(0)
        val nQ = checks.getAs[Long]("nq")
        val recall = checks.getAs[Long]("found").toDouble / (nQ * 10L)
        val visitedAvg = checks.getAs[Double]("vis")
        val extra = checks.getAs[Long]("extra")
        import s.implicits._
        Seq((nQ, recall >= 0.9, visitedAvg < n * 0.75,
            extra == 0L))
          .toDF("n_queries", "recall_ok", "sublinear_visits",
            "persisted_matches_direct")
      },
      Some("""WITH n AS (SELECT count(*) AS n FROM embeddings)
             |SELECT CAST(count(*) AS BIGINT) AS n_queries, true AS recall_ok,
             |  true AS sublinear_visits, true AS persisted_matches_direct
             |FROM embeddings, n
             |WHERE vec_id % greatest(n.n // 16, 1) = greatest(n.n // 16, 1) // 2""".stripMargin)),

    // ---- multimodal ---------------------------------------------------------

    // the engine PARSES width/height/format out of real PNG/JPEG/WebP
    // header bytes (media_header kernel); the oracle predicts the parse
    // from the fixture generator's arithmetic (header sizes: PNG 33 B,
    // JFIF+SOF0 39 B, RIFF VP8X 30 B)
    ("q_multimodal_meta",
      (s: SparkSession, d: String) =>
        Multimodal.mediaMeta(t(s, d, "documents")).orderBy("doc_id"),
      Some("""SELECT doc_id,
             |  CAST(octet_length(encode(text)) + CASE CAST(n_chars % 3 AS INT)
             |       WHEN 0 THEN 33 WHEN 1 THEN 39 ELSE 30 END AS BIGINT) AS media_bytes,
             |  16 + n_chars % 64 AS width,
             |  16 + n_chars % 48 AS height,
             |  CASE CAST(n_chars % 3 AS INT) WHEN 0 THEN 'png' WHEN 1 THEN 'jpeg'
             |       ELSE 'webp' END AS format
             |FROM documents ORDER BY doc_id""".stripMargin)),

    // ---- the reference pipeline end-to-end (fixture-driven; the DuckDB
    // oracle can't read the CSV fixtures, but the expected mart row is a
    // fixed golden value — computed by an independent pandas oracle over
    // the same fixtures (PipelineSpec documents the derivation: fixA's 10
    // rows minus the 2-id overlap, plus fixB's 183 → 191 r/stocks posts) —
    // so the oracle emits it as literals and the driver hash-compares.
    // z-order layout round-trip: lineitem re-laid on the (quantity, price)
    // Morton curve, then a 2-D box aggregate off the new layout must match
    // the plain-parquet oracle; the file-skipping win is asserted in
    // ZOrderSpec (the graded row proves the layout loses no rows)
    ("q_zorder_box",
      (s: SparkSession, d: String) => {
        val li = t(s, d, "lineitem")
          .select("l_orderkey", "l_quantity", "l_extendedprice")
        val path = scratchDir("verify_zorder")
        graft.sources.ZOrder.writeZOrdered(li, "l_quantity", "l_extendedprice", path, 16)
        Tables.parquet(s, path)
          .filter(col("l_quantity").between(10.0, 15.0)
            && col("l_extendedprice").between(20000.0, 30000.0))
          .agg(count(lit(1)).as("n"),
            round(sum(col("l_extendedprice")) * 100).cast("long").as("sum_price_cents"),
            round(sum(col("l_quantity"))).cast("long").as("sum_qty"))
      },
      Some("""SELECT count(*) AS n,
             |  CAST(round(sum(l_extendedprice) * 100) AS BIGINT) AS sum_price_cents,
             |  CAST(round(sum(l_quantity)) AS BIGINT) AS sum_qty
             |FROM lineitem
             |WHERE l_quantity BETWEEN 10.0 AND 15.0
             |  AND l_extendedprice BETWEEN 20000.0 AND 30000.0""".stripMargin)),

    // JSONL round-trip fidelity: documents → JSON Lines → read back with
    // the explicit schema → per-source profile. The oracle computes the
    // same profile off the parquet originals, so any write/read corruption
    // (escaping, nulls, numeric width) breaks the md5-anchored compare.
    // ORC interchange round trip: documents → zstd ORC shards → schema-
    // enforced read-back → the md5-for-md5 fidelity profile, plus an
    // all_orc flag proving the scan really read ORC files. Unlike the
    // JSONL row format, ORC keeps the two 100 TB properties that matter
    // at the exchange boundary: splittable scans and stripe-stat
    // predicate pushdown.
    ("q_orc_roundtrip",
      (s: SparkSession, d: String) => {
        val docs = t(s, d, "documents")
        val path = scratchDir("verify_orc")
        graft.sources.Orc.write(docs, path)
        val back = graft.sources.Orc.read(s, path, docs.schema)
          .withColumn("is_orc", input_file_name().endsWith(".orc"))
        back.groupBy("source")
          .agg(count(lit(1)).as("n_docs"),
            sum(col("n_chars")).as("sum_chars"),
            count_distinct(md5(col("text").cast("binary"))).as("n_distinct_md5"),
            min(md5(col("text").cast("binary"))).as("min_md5"),
            max(md5(col("text").cast("binary"))).as("max_md5"),
            every(col("is_orc")).as("all_orc"))
          .orderBy("source")
      },
      Some("""SELECT source, count(*) AS n_docs,
             |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
             |  CAST(count(DISTINCT md5(text)) AS BIGINT) AS n_distinct_md5,
             |  min(md5(text)) AS min_md5, max(md5(text)) AS max_md5,
             |  true AS all_orc
             |FROM documents GROUP BY source ORDER BY source""".stripMargin)),

    ("q_jsonl_roundtrip",
      (s: SparkSession, d: String) => {
        val docs = t(s, d, "documents")
        val path = scratchDir("verify_jsonl")
        graft.sources.JsonLines.write(docs, path)
        val back = graft.sources.JsonLines.readClean(s, path, docs.schema)
        back.groupBy("source")
          .agg(count(lit(1)).as("n_docs"),
            sum(col("n_chars")).as("sum_chars"),
            count_distinct(md5(col("text").cast("binary"))).as("n_distinct_md5"),
            min(md5(col("text").cast("binary"))).as("min_md5"),
            max(md5(col("text").cast("binary"))).as("max_md5"))
          .orderBy("source")
      },
      Some("""SELECT source, count(*) AS n_docs,
             |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
             |  CAST(count(DISTINCT md5(text)) AS BIGINT) AS n_distinct_md5,
             |  min(md5(text)) AS min_md5, max(md5(text)) AS max_md5
             |FROM documents GROUP BY source ORDER BY source""".stripMargin)),

    // Gzip-compressed JSONL ingest: documents → .json.gz shards →
    // readClean (codec selected by extension) → the q_jsonl_roundtrip
    // profile, plus an all_gz flag proving the scan really read
    // compressed files. Non-splittability is the documented tradeoff
    // (JsonLinesSpec measures it: one .gz file = one task); fidelity
    // through the compressed path is what this row grades.
    ("q_jsonl_gzip",
      (s: SparkSession, d: String) => {
        val docs = t(s, d, "documents")
        val path = scratchDir("verify_jsonl_gz")
        graft.sources.JsonLines.writeGzip(docs, path)
        graft.sources.JsonLines.readClean(s, path, docs.schema)
          // projected BEFORE the aggregate: input_file_name() is
          // nondeterministic and may not ride inside agg arguments
          .withColumn("gz",
            when(input_file_name().endsWith(".json.gz"), 1L).otherwise(0L))
          .groupBy("source")
          .agg(count(lit(1)).as("n_docs"),
            sum(col("n_chars")).as("sum_chars"),
            count_distinct(md5(col("text").cast("binary"))).as("n_distinct_md5"),
            min(md5(col("text").cast("binary"))).as("min_md5"),
            max(md5(col("text").cast("binary"))).as("max_md5"),
            (min(col("gz")) === 1L).as("all_gz"))
          .orderBy("source")
      },
      Some("""SELECT source, count(*) AS n_docs,
             |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
             |  CAST(count(DISTINCT md5(text)) AS BIGINT) AS n_distinct_md5,
             |  min(md5(text)) AS min_md5, max(md5(text)) AS max_md5,
             |  true AS all_gz
             |FROM documents GROUP BY source ORDER BY source""".stripMargin)),

    // WARC (ISO 28500) round trip — the Common Crawl container: documents
    // become real WARC records (version line, named + X-Graft-* headers,
    // Content-Length framing, CRLF record separators) across 4 shards,
    // read back by the strict parser, reconstructed, and profiled with
    // the q_jsonl_roundtrip md5-fidelity contract. A framing error
    // desynchronizes every later record in a shard, so md5-for-md5
    // equality grades the byte framing itself, not just field values.
    ("q_warc_roundtrip",
      (s: SparkSession, d: String) => {
        val docs = t(s, d, "documents")
        val path = scratchDir("verify_warc")
        graft.sources.Warc.write(
          docs.select(
            concat(lit("urn:graft:doc:"), col("doc_id")).as("record_id"),
            lit("resource").as("warc_type"),
            concat(lit("graft://documents/"), col("doc_id")).as("target_uri"),
            col("text").cast("binary").as("payload"),
            col("lang"), col("source"),
            col("n_chars").cast("string").as("n_chars")),
          path, shards = 4)
        graft.sources.Warc.read(s, path)
          .select(
            substring(col("record_id"), 15, 20).cast("long").as("doc_id"),
            col("payload").cast("string").as("text"),
            col("headers")("x-graft-source").as("source"),
            col("headers")("x-graft-n_chars").cast("long").as("n_chars"))
          .groupBy("source")
          .agg(count(lit(1)).as("n_docs"),
            sum(col("n_chars")).as("sum_chars"),
            count_distinct(md5(col("text").cast("binary"))).as("n_distinct_md5"),
            min(md5(col("text").cast("binary"))).as("min_md5"),
            max(md5(col("text").cast("binary"))).as("max_md5"))
          .orderBy("source")
      },
      Some("""SELECT source, count(*) AS n_docs,
             |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
             |  CAST(count(DISTINCT md5(text)) AS BIGINT) AS n_distinct_md5,
             |  min(md5(text)) AS min_md5, max(md5(text)) AS max_md5
             |FROM documents GROUP BY source ORDER BY source""".stripMargin)),

    // The full Common Crawl harvest chain: documents wrapped as HTTP
    // responses (status line + headers + CRLFCRLF + body) inside WARC
    // `response` records, archived, read back, and the BODY extracted by
    // the header-terminator split — md5-for-md5 equality against the
    // original text proves the extractor finds the FIRST terminator (a
    // body containing its own CRLFCRLF must not shift the cut) and that
    // the framing carried every byte.
    ("q_warc_http",
      (s: SparkSession, d: String) => {
        val docs = t(s, d, "documents")
        val path = scratchDir("verify_warc_http")
        graft.sources.Warc.write(
          docs.select(
            concat(lit("urn:graft:doc:"), col("doc_id")).as("record_id"),
            lit("response").as("warc_type"),
            concat(lit("http://graft.example/"), col("doc_id")).as("target_uri"),
            concat(
              lit("HTTP/1.1 200 OK\r\nContent-Type: text/plain; charset=utf-8\r\n\r\n"),
              coalesce(col("text"), lit(""))).cast("binary").as("payload"),
            col("source")),
          path, shards = 3)
        graft.sources.Warc.read(s, path)
          .select(col("headers")("x-graft-source").as("source"),
            graft.sources.Warc.httpBodyText(col("payload")).as("text"))
          .groupBy("source")
          .agg(count(lit(1)).as("n_docs"),
            sum(length(col("text"))).cast("long").as("sum_chars"),
            count_distinct(md5(col("text").cast("binary"))).as("n_distinct_md5"),
            min(md5(col("text").cast("binary"))).as("min_md5"),
            max(md5(col("text").cast("binary"))).as("max_md5"))
          .orderBy("source")
      },
      Some("""SELECT source, count(*) AS n_docs,
             |  CAST(sum(length(coalesce(text, ''))) AS BIGINT) AS sum_chars,
             |  CAST(count(DISTINCT md5(coalesce(text, ''))) AS BIGINT) AS n_distinct_md5,
             |  min(md5(coalesce(text, ''))) AS min_md5,
             |  max(md5(coalesce(text, ''))) AS max_md5
             |FROM documents GROUP BY source ORDER BY source""".stripMargin)),

    // The .warc.gz path — Common Crawl's actual shipping format: same
    // fidelity contract through gzip, plus the all_gz proof that the scan
    // really decompressed (source_file provenance, since binaryFiles-based
    // reads have no input_file_name).
    ("q_warc_gzip",
      (s: SparkSession, d: String) => {
        val docs = t(s, d, "documents")
        val path = scratchDir("verify_warc_gz")
        graft.sources.Warc.write(
          docs.select(
            concat(lit("urn:graft:doc:"), col("doc_id")).as("record_id"),
            col("text").cast("binary").as("payload"),
            col("source"),
            col("n_chars").cast("string").as("n_chars")),
          path, shards = 3, gzip = true)
        graft.sources.Warc.read(s, path)
          .select(
            col("payload").cast("string").as("text"),
            col("headers")("x-graft-source").as("source"),
            col("headers")("x-graft-n_chars").cast("long").as("n_chars"),
            when(col("source_file").endsWith(".warc.gz"), 1L).otherwise(0L).as("gz"))
          .groupBy("source")
          .agg(count(lit(1)).as("n_docs"),
            sum(col("n_chars")).as("sum_chars"),
            count_distinct(md5(col("text").cast("binary"))).as("n_distinct_md5"),
            min(md5(col("text").cast("binary"))).as("min_md5"),
            max(md5(col("text").cast("binary"))).as("max_md5"),
            (min(col("gz")) === 1L).as("all_gz"))
          .orderBy("source")
      },
      Some("""SELECT source, count(*) AS n_docs,
             |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
             |  CAST(count(DISTINCT md5(text)) AS BIGINT) AS n_distinct_md5,
             |  min(md5(text)) AS min_md5, max(md5(text)) AS max_md5,
             |  true AS all_gz
             |FROM documents GROUP BY source ORDER BY source""".stripMargin)),

    // The training-export sink end-to-end: splitAssign → exportJsonl's
    // split-partitioned hash-sharded JSONL layout → read back through the
    // partition-discovered directory tree → per-split content profile. The
    // oracle replays the split thresholds off the parquet originals, so
    // the row grades BOTH the deterministic assignment and export/re-read
    // fidelity (escaping, nulls, numeric width) on the partitioned layout;
    // the 4-files-per-split shard layout itself is asserted in
    // CurationSpec (file counts aren't an oracle-replayable property).
    ("q_export_jsonl",
      (s: SparkSession, d: String) => {
        val docs = t(s, d, "documents").select("doc_id", "text", "n_chars")
        val path = scratchDir("verify_export")
        Curation.exportJsonl(Curation.splitAssign(docs, "doc_id"),
          "split", "doc_id", shards = 4, path)
        s.read.schema(docs.schema).json(path)
          .groupBy("split")
          .agg(count(lit(1)).as("n_docs"),
            sum(col("n_chars")).cast("long").as("sum_chars"),
            min(col("doc_id")).as("min_doc_id"),
            max(col("doc_id")).as("max_doc_id"),
            count_distinct(md5(col("text").cast("binary"))).as("n_distinct_md5"),
            min(md5(col("text").cast("binary"))).as("min_md5"),
            max(md5(col("text").cast("binary"))).as("max_md5"))
          .orderBy("split")
      },
      Some("""WITH s AS (
             |  SELECT CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)),1,2) < 'cc' THEN 'train'
             |              WHEN substr(md5(CAST(doc_id AS VARCHAR)),1,2) < 'e6' THEN 'val'
             |              ELSE 'test' END AS split, doc_id, text, n_chars
             |  FROM documents)
             |SELECT split, count(*) AS n_docs,
             |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
             |  min(doc_id) AS min_doc_id, max(doc_id) AS max_doc_id,
             |  CAST(count(DISTINCT md5(text)) AS BIGINT) AS n_distinct_md5,
             |  min(md5(text)) AS min_md5, max(md5(text)) AS max_md5
             |FROM s GROUP BY split ORDER BY split""".stripMargin)),

    ("q_reddit_pipeline_summary",
      (s: SparkSession, _: String) => {
        val root = scratchDir("verify_posts")
        val Seq(earlier, later) = referenceFiles("q_reddit_pipeline_summary")
        graft.reddit.Pipeline.run(s, earlier, root)
        val r = graft.reddit.Pipeline.run(s, later, root)
        r.summary
          .select(col("subreddit"), col("post_count"),
            round(col("avg_score"), 4).as("avg_score"),
            round(col("avg_comments"), 4).as("avg_comments"),
            col("max_score").cast("long").as("max_score"))
          .orderBy("subreddit")
      },
      Some("""SELECT 'stocks' AS subreddit, CAST(191 AS BIGINT) AS post_count,
             |  586.178e0 AS avg_score, 111.623e0 AS avg_comments,
             |  CAST(14587 AS BIGINT) AS max_score""".stripMargin)),

    // S3 CSV sink closed-loop: tolerant COPY read of the reference fixture
    // → CsvReddit.write (header, RFC-4180 quoting, "True"/"False"
    // booleans, µs timestamps) → tolerant read BACK → a profile whose
    // golden values were derived INDEPENDENTLY from the raw file (DuckDB
    // over the CSV at authoring time, PipelineSpec derivation style).
    // Any write-side corruption — quoting, null round-trip, boolean
    // spelling, timestamp precision — lands in one of these columns.
    ("q_s3_csv_roundtrip",
      (s: SparkSession, _: String) => {
        val path = scratchDir("verify_csv_sink")
        val Seq(fix) = referenceFiles("q_s3_csv_roundtrip")
        graft.reddit.CsvReddit.write(graft.reddit.CsvReddit.read(s, fix), path)
        graft.reddit.CsvReddit.read(s, path).agg(
          count(lit(1)).as("n_rows"),
          count_distinct(col("id")).as("n_ids"),
          sum(col("score")).cast("long").as("sum_score"),
          sum(col("num_comments")).cast("long").as("sum_comments"),
          count(when(col("author").isNull, 1)).as("n_null_author"),
          count(when(col("stickied"), 1)).as("n_stickied"),
          sum(col("selftext_length")).cast("long").as("sum_selftext_len"),
          date_format(min(col("created_utc")), "yyyy-MM-dd HH:mm:ss").as("min_created"),
          date_format(max(col("created_utc")), "yyyy-MM-dd HH:mm:ss").as("max_created"),
          date_format(max(col("extraction_timestamp")),
            "yyyy-MM-dd HH:mm:ss.SSSSSS").as("max_extraction"))
      },
      Some("""SELECT CAST(183 AS BIGINT) AS n_rows, CAST(183 AS BIGINT) AS n_ids,
             |  CAST(70996 AS BIGINT) AS sum_score,
             |  CAST(18303 AS BIGINT) AS sum_comments,
             |  CAST(1 AS BIGINT) AS n_null_author,
             |  CAST(1 AS BIGINT) AS n_stickied,
             |  CAST(305274 AS BIGINT) AS sum_selftext_len,
             |  '2025-03-17 15:15:28' AS min_created,
             |  '2025-03-24 13:33:11' AS max_created,
             |  '2025-03-24 14:36:59.582638' AS max_extraction""".stripMargin)),

    // S4: the S3 object layout (one `YYYYMMDD.csv` object per run date,
    // upload_to_s3.py:41-47) graded data-driven: S3Layout maps every
    // distinct event date to its object path on the Scala side; DuckDB
    // spells the same convention independently. The collect is bounded by
    // run-date cardinality — the pipeline's own parallelism unit.
    ("q_s4_s3_layout",
      (s: SparkSession, d: String) => {
        import s.implicits._
        val days = t(s, d, "events")
          .select(to_date(col("ts")).as("run_date")).distinct()
          .collect().map(_.getDate(0).toLocalDate).toSeq
        days.map(ld => (ld.toString,
            graft.reddit.S3Layout.dailyPath("s3://reddit-bucket", ld)))
          .toDF("run_date", "s3_path").orderBy("run_date")
      },
      Some("""SELECT DISTINCT strftime(CAST(ts AS DATE), '%Y-%m-%d') AS run_date,
             |  's3://reddit-bucket/' || strftime(CAST(ts AS DATE), '%Y%m%d')
             |    || '.csv' AS s3_path
             |FROM events ORDER BY run_date""".stripMargin)),

    // S9/S10/T5: the pre-load inspection surface (test.py:5-32,
    // s3_to_redshift.py:236-282) — header probe without reading the body,
    // first-5 raw physical lines under an inspection limit — reduced to
    // md5 anchors. The golden md5s were computed from the raw fixture
    // bytes at authoring time; the header list the oracle hashes is the
    // full 16-column contract, so a reordered or renamed column fails.
    ("q_s9_header_inspect",
      (s: SparkSession, _: String) => {
        import s.implicits._
        val Seq(fix) = referenceFiles("q_s9_header_inspect")
        val cols = graft.reddit.CsvReddit.headerProbe(s, fix)
        val raw5 = graft.reddit.CsvReddit.rawLines(s, fix, 5)
          .collect().map(_.getString(0))
        Seq((cols.length.toLong, cols.head, cols.last, cols.mkString(","),
            raw5.length.toLong, raw5.sorted.mkString("\n")))
          .toDF("n_cols", "first_col", "last_col", "_cols", "n_raw_lines", "_raw")
          .select(col("n_cols"), col("first_col"), col("last_col"),
            md5(col("_cols").cast("binary")).as("cols_md5"),
            col("n_raw_lines"),
            md5(col("_raw").cast("binary")).as("raw5_md5"))
      },
      Some("""SELECT CAST(16 AS BIGINT) AS n_cols, 'id' AS first_col,
             |  'is_nsfw' AS last_col,
             |  md5('id,title,score,num_comments,author,created_utc,url,'
             |    || 'upvote_ratio,over_18,spoiler,stickied,selftext,subreddit,'
             |    || 'extraction_timestamp,selftext_length,is_nsfw') AS cols_md5,
             |  CAST(5 AS BIGINT) AS n_raw_lines,
             |  'ba162ff7c52faf18f81b4125c1f9b270' AS raw5_md5""".stripMargin)),

    // P6: the injectable clock, graded end-to-end — the reference stamps
    // extraction_timestamp from datetime.now() (extract-from-reddit.py:115);
    // here the clock is INJECTED, so the stamp (and the P14 run id derived
    // from it) is a deterministic, hashable output. With a wall clock this
    // row could never hash-match — that is precisely the property graded.
    ("q_p6_clock_stamp",
      (s: SparkSession, _: String) => {
        val Seq(fix) = referenceFiles("q_p6_clock_stamp")
        val posts = graft.reddit.CsvReddit.read(s, fix)
        val now = java.sql.Timestamp.valueOf("2025-03-24 12:00:00")
        graft.reddit.Enrich.transform(posts, now).agg(
          count(lit(1)).as("n_rows"),
          count_distinct(col("extraction_timestamp")).as("n_stamps"),
          date_format(max(col("extraction_timestamp")),
            "yyyy-MM-dd HH:mm:ss").as("stamp"),
          max(graft.reddit.Enrich.runId(col("extraction_timestamp"))).as("run_id"))
      },
      Some("""SELECT CAST(183 AS BIGINT) AS n_rows, CAST(1 AS BIGINT) AS n_stamps,
             |  '2025-03-24 12:00:00' AS stamp, '20250324' AS run_id""".stripMargin)),

    // FakeCodec is pure byte arithmetic (f[i%8] += byte/255 in float32) —
    // DuckDB replays it bit-exactly over the full blob (real container
    // header + UTF-8 payload), float32 casts and all, so the stub decode
    // path gets a real value-level oracle. The header byte lists mirror
    // Multimodal.mediaBytes exactly.
    ("q_multimodal_decode",
      (s: SparkSession, d: String) =>
        Multimodal.decodeFeatures(Multimodal.withMedia(t(s, d, "documents")))
          .toDF()
          .select(col("doc_id"), col("media_bytes"), col("format"),
            round(aggregate(col("features"),
              lit(0.0d), (acc, x) => acc + x.cast("double")), 4).as("feat_sum"))
          .orderBy("doc_id"),
      Some("""WITH b AS (
             |  SELECT doc_id, n_chars, lower(hex(encode(text))) AS hx,
             |    octet_length(encode(text)) AS n FROM documents),
             |hd AS (
             |  SELECT doc_id, n_chars, n, hx,
             |    CASE CAST(n_chars % 3 AS INT)
             |    WHEN 0 THEN [137,80,78,71,13,10,26,10, 0,0,0,13, 73,72,68,82,
             |      0,0,0, 16 + n_chars % 64, 0,0,0, 16 + n_chars % 48,
             |      8,6,0,0,0, 0,0,0,0]
             |    WHEN 1 THEN [255,216, 255,224,0,16,74,70,73,70,0,1,1,0,0,1,0,1,0,0,
             |      255,192,0,17,8, 0, 16 + n_chars % 48, 0, 16 + n_chars % 64,
             |      3, 1,34,0, 2,17,1, 3,17,1]
             |    ELSE [82,73,70,70, (n+22)%256, ((n+22)//256)%256, ((n+22)//65536)%256, 0,
             |      87,69,66,80, 86,80,56,88, 10,0,0,0, 0, 0,0,0,
             |      15 + n_chars % 64, 0,0, 15 + n_chars % 48, 0,0]
             |    END AS hdr
             |  FROM b),
             |c AS (
             |  SELECT doc_id, n_chars, len(hdr) + n AS nb,
             |    list_concat(hdr, list_transform(range(1, n+1),
             |      i -> (strpos('0123456789abcdef', substr(hx, 2*i-1, 1))-1)*16
             |         + (strpos('0123456789abcdef', substr(hx, 2*i, 1))-1))) AS bytes
             |  FROM hd),
             |s AS (
             |  SELECT doc_id, n_chars, nb,
             |    list_transform(range(0, 8), j ->
             |      list_reduce(list_prepend(CAST(0 AS FLOAT),
             |        list_transform(list_filter(range(1, nb+1), i -> (i-1) % 8 = j),
             |          i -> CAST(CAST(bytes[i] AS FLOAT) / CAST(255 AS FLOAT) AS FLOAT))),
             |        (acc, x) -> CAST(acc + x AS FLOAT))) AS feats
             |  FROM c)
             |SELECT doc_id, CAST(nb AS BIGINT) AS media_bytes,
             |  CASE CAST(n_chars % 3 AS INT) WHEN 0 THEN 'png' WHEN 1 THEN 'jpeg'
             |       ELSE 'webp' END AS format,
             |  round(CAST(feats[1] AS DOUBLE)+feats[2]+feats[3]+feats[4]
             |        +feats[5]+feats[6]+feats[7]+feats[8], 4) AS feat_sum
             |FROM s ORDER BY doc_id""".stripMargin)),

    // REAL pixel decode, graded byte-exact: the engine encodes each doc
    // into a genuine raw-pixel container (24-bit BMP with bottom-up BGR
    // padded rows / binary PPM / PGM — ImageCodec is byte-faithful to the
    // public specs), DECODES the bytes back to logical-order pixels, and
    // reduces to a position-weighted checksum. The oracle never sees the
    // container: it replays the closed-form pixel generator
    // (31·doc_id + 7·i mod 256) — so the engine's numbers only match if
    // encode→decode is an exact inverse, padding, BGR and row order
    // included. media_bytes additionally pins the encoder's container
    // size (BMP 4-byte row padding, netpbm ASCII header width).
    // DCT perceptual hash (pHash) — the image-dedup bridge: decode the
    // real BMP/netpbm blobs, 32×32 integer luma grid, fixed-point 8×8
    // DCT corner, median-threshold bits. The ENTIRE hash is integer
    // arithmetic and the DCT basis table is computed once in Scala and
    // embedded into this oracle as literals, so both engines multiply
    // identical integers — DuckDB rebuilds every bit and the consecutive
    // -id hamming distances; one flipped bit anywhere fails the grade.
    // Hashes split into two non-negative 32-bit halves so Σ bit·2^k
    // never touches the BIGINT sign bit in either engine.
    ("q_phash",
      (s: SparkSession, d: String) => {
        // hashes materialized ONCE: ph and its shifted self are two
        // consumers, and without this the decode+DCT chain runs twice
        // (the tfidfTopTerms lesson)
        val ph = Multimodal.perceptualHash(
          Multimodal.withPixelMedia(t(s, d, "documents"))).localCheckpoint(eager = false)
        val prev = ph.select((col("doc_id") + 1).as("doc_id"),
          col("phash_hi").as("p_hi"), col("phash_lo").as("p_lo"))
        ph.join(prev, Seq("doc_id"), "left")
          .select(col("doc_id"), col("phash_hi"), col("phash_lo"),
            expr("CAST(bit_count(phash_hi ^ p_hi) + bit_count(phash_lo ^ p_lo) AS BIGINT)")
              .as("ham_prev"))
          .orderBy("doc_id")
      },
      Some(s"""WITH dims AS (
             |  SELECT doc_id, 4 + n_chars % 13 AS w, 3 + n_chars % 11 AS h,
             |    CASE CAST(doc_id % 3 AS INT) WHEN 2 THEN 1 ELSE 3 END AS c
             |  FROM documents),
             |tab(u, x, t) AS (VALUES ${graft.operators.Multimodal.phashDctTableSql}),
             |grid AS (
             |  SELECT d.doc_id, gy.y, gx.x,
             |    CASE WHEN d.c = 1
             |      THEN (31*d.doc_id + 7*(((gy.y*d.h)//32)*d.w + (gx.x*d.w)//32)) % 256
             |      ELSE (299*((31*d.doc_id + 7*((((gy.y*d.h)//32)*d.w + (gx.x*d.w)//32)*3)) % 256)
             |          + 587*((31*d.doc_id + 7*((((gy.y*d.h)//32)*d.w + (gx.x*d.w)//32)*3 + 1)) % 256)
             |          + 114*((31*d.doc_id + 7*((((gy.y*d.h)//32)*d.w + (gx.x*d.w)//32)*3 + 2)) % 256)) // 1000
             |    END AS gray
             |  FROM dims d CROSS JOIN range(0, 32) gy(y) CROSS JOIN range(0, 32) gx(x)),
             |co AS (SELECT gr.doc_id, tu.u AS cu, tv.u AS cv,
             |         sum(gr.gray * tv.t * tu.t) AS cval
             |       FROM grid gr JOIN tab tu ON tu.x = gr.y
             |                    JOIN tab tv ON tv.x = gr.x
             |       GROUP BY 1, 2, 3),
             |ac AS (SELECT doc_id, cval,
             |         row_number() OVER (PARTITION BY doc_id ORDER BY cval) AS r
             |       FROM co WHERE NOT (cu = 0 AND cv = 0)),
             |md AS (SELECT doc_id, cval AS med FROM ac WHERE r = 32),
             |bits AS (SELECT co.doc_id, cu*8 + cv AS k,
             |           CASE WHEN NOT (cu = 0 AND cv = 0) AND co.cval > md.med
             |                THEN 1 ELSE 0 END AS b
             |         FROM co JOIN md ON md.doc_id = co.doc_id),
             |hv AS (SELECT doc_id,
             |         CAST(sum(CASE WHEN k >= 32 THEN b * (1::BIGINT << (k - 32))
             |             ELSE 0 END) AS BIGINT) AS phash_hi,
             |         CAST(sum(CASE WHEN k < 32 THEN b * (1::BIGINT << k)
             |             ELSE 0 END) AS BIGINT) AS phash_lo
             |       FROM bits GROUP BY 1),
             |f AS (SELECT hv.doc_id, hv.phash_hi, hv.phash_lo,
             |        bit_count(xor(hv.phash_hi, pv.phash_hi))
             |          + bit_count(xor(hv.phash_lo, pv.phash_lo)) AS ham_prev
             |      FROM hv LEFT JOIN hv pv ON pv.doc_id = hv.doc_id - 1)
             |SELECT doc_id, phash_hi, phash_lo, CAST(ham_prev AS BIGINT) AS ham_prev
             |FROM f ORDER BY doc_id""".stripMargin)),

    ("q_pixel_decode",
      (s: SparkSession, d: String) =>
        Multimodal.decodePixelStats(Multimodal.withPixelMedia(t(s, d, "documents")))
          .toDF()
          .orderBy("doc_id"),
      Some("""WITH dims AS (
             |  SELECT doc_id,
             |    4 + n_chars % 13 AS w, 3 + n_chars % 11 AS h,
             |    CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'bmp'
             |         WHEN 1 THEN 'ppm' ELSE 'pgm' END AS format,
             |    CASE CAST(doc_id % 3 AS INT) WHEN 2 THEN 1 ELSE 3 END AS c
             |  FROM documents),
             |px AS (
             |  SELECT d.doc_id, d.format, d.w, d.h, d.c,
             |    sum((31*d.doc_id + 7*t.i) % 256) AS pix_sum,
             |    sum(((31*d.doc_id + 7*t.i) % 256) * (t.i % 97 + 1)) AS pix_checksum
             |  FROM dims d JOIN range(0, 1024) t(i) ON t.i < d.w*d.h*d.c
             |  GROUP BY d.doc_id, d.format, d.w, d.h, d.c)
             |SELECT doc_id, format,
             |  CAST(CASE format
             |    WHEN 'bmp' THEN 54 + ((3*w + 3)//4)*4*h
             |    ELSE 9 + length(CAST(w AS VARCHAR)) + length(CAST(h AS VARCHAR)) + w*h*c
             |  END AS BIGINT) AS media_bytes,
             |  CAST(w AS BIGINT) AS width, CAST(h AS BIGINT) AS height,
             |  CAST(c AS BIGINT) AS channels,
             |  CAST(w*h*c AS BIGINT) AS n_pixel_bytes,
             |  CAST(pix_sum AS BIGINT) AS pix_sum,
             |  CAST(pix_checksum AS BIGINT) AS pix_checksum
             |FROM px ORDER BY doc_id""".stripMargin)),

    // The codegen'd media_header kernel on the raw-pixel containers: BMP
    // signed-LE dims and netpbm ASCII headers parsed from the real encoded
    // bytes inside whole-stage codegen (the PNG/JPEG/WebP analog is
    // q_multimodal_meta), graded against the generator's closed-form dims.
    ("q_pixel_meta",
      (s: SparkSession, d: String) =>
        Multimodal.withPixelMedia(t(s, d, "documents"))
          .withColumn("h", graft.functions.media_header(col("media")))
          .select(col("doc_id"),
            col("h").getField("format").as("format"),
            col("h").getField("width").as("width"),
            col("h").getField("height").as("height"),
            length(col("media")).cast("long").as("media_bytes"))
          .orderBy("doc_id"),
      Some("""SELECT doc_id,
             |  CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'bmp'
             |       WHEN 1 THEN 'ppm' ELSE 'pgm' END AS format,
             |  CAST(4 + n_chars % 13 AS BIGINT) AS width,
             |  CAST(3 + n_chars % 11 AS BIGINT) AS height,
             |  CAST(CASE CAST(doc_id % 3 AS INT)
             |    WHEN 0 THEN 54 + ((3*(4 + n_chars % 13) + 3)//4)*4*(3 + n_chars % 11)
             |    WHEN 1 THEN 9 + length(CAST(4 + n_chars % 13 AS VARCHAR))
             |      + length(CAST(3 + n_chars % 11 AS VARCHAR))
             |      + (4 + n_chars % 13)*(3 + n_chars % 11)*3
             |    ELSE 9 + length(CAST(4 + n_chars % 13 AS VARCHAR))
             |      + length(CAST(3 + n_chars % 11 AS VARCHAR))
             |      + (4 + n_chars % 13)*(3 + n_chars % 11)
             |  END AS BIGINT) AS media_bytes
             |FROM documents ORDER BY doc_id""".stripMargin)),

    // REAL resize, graded byte-exact: decode → integer box-fit →
    // nearest-neighbor resample → re-encode into the same container →
    // decode AGAIN and checksum. Every stage is exact integer arithmetic
    // (fitBox ratios, xs = x·w/outW index map), so the oracle replays the
    // whole chain closed-form per output pixel: the numbers only match if
    // decode, the resample map, and the re-encode are all bit-faithful.
    // Box 9×7 leaves the smallest generated images untouched (the
    // unchanged path is live) and shrinks the rest on both axes.
    ("q_pixel_resize",
      (s: SparkSession, d: String) =>
        Multimodal.decodePixelStats(
            Multimodal.resizeMedia(
              Multimodal.withPixelMedia(t(s, d, "documents")), maxW = 9, maxH = 7))
          .toDF()
          .orderBy("doc_id"),
      Some("""WITH dims AS (
             |  SELECT doc_id,
             |    4 + n_chars % 13 AS w, 3 + n_chars % 11 AS h,
             |    CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'bmp'
             |         WHEN 1 THEN 'ppm' ELSE 'pgm' END AS format,
             |    CASE CAST(doc_id % 3 AS INT) WHEN 2 THEN 1 ELSE 3 END AS c
             |  FROM documents),
             |od AS (
             |  SELECT doc_id, w, h, format, c,
             |    CASE WHEN w <= 9 AND h <= 7 THEN w
             |         WHEN w*7 <= h*9 THEN greatest(1, (w*7)//h)
             |         ELSE 9 END AS ow,
             |    CASE WHEN w <= 9 AND h <= 7 THEN h
             |         WHEN w*7 <= h*9 THEN 7
             |         ELSE greatest(1, (h*9)//w) END AS oh
             |  FROM dims),
             |pxmap AS (
             |  SELECT d.doc_id, d.format, d.ow, d.oh, d.c, t.i,
             |    (31*d.doc_id + 7*(
             |      ((((t.i // (d.c*d.ow)) * d.h) // d.oh) * d.w
             |        + ((((t.i // d.c) % d.ow) * d.w) // d.ow)) * d.c
             |      + (t.i % d.c))) % 256 AS val
             |  FROM od d JOIN range(0, 1024) t(i) ON t.i < d.ow*d.oh*d.c),
             |px AS (
             |  SELECT doc_id, format, ow, oh, c,
             |    sum(val) AS pix_sum, sum(val * (i % 97 + 1)) AS pix_checksum
             |  FROM pxmap GROUP BY doc_id, format, ow, oh, c)
             |SELECT doc_id, format,
             |  CAST(CASE format
             |    WHEN 'bmp' THEN 54 + ((3*ow + 3)//4)*4*oh
             |    ELSE 9 + length(CAST(ow AS VARCHAR)) + length(CAST(oh AS VARCHAR)) + ow*oh*c
             |  END AS BIGINT) AS media_bytes,
             |  CAST(ow AS BIGINT) AS width, CAST(oh AS BIGINT) AS height,
             |  CAST(c AS BIGINT) AS channels,
             |  CAST(ow*oh*c AS BIGINT) AS n_pixel_bytes,
             |  CAST(pix_sum AS BIGINT) AS pix_sum,
             |  CAST(pix_checksum AS BIGINT) AS pix_checksum
             |FROM px ORDER BY doc_id""".stripMargin)),

    // REAL PNG decode, graded byte-exact: the engine encodes each doc into
    // a genuine PNG (chunk layout + CRC-32 + JDK zlib deflate, per-row
    // filter rotating (doc_id+row) mod 5 so every filter branch is live),
    // DECODES the bytes through the full pipeline — chunk walk, CRC check,
    // Inflater, None/Sub/Up/Average/Paeth reconstruction — and reduces to
    // the position-weighted checksum. The oracle never sees the container:
    // it replays the closed-form pixel generator, so the numbers only
    // match if filter→deflate→inflate→reconstruct is an exact identity.
    // media_bytes is intentionally NOT graded: DEFLATE output size is not
    // closed-form replayable.
    ("q_png_decode",
      (s: SparkSession, d: String) =>
        Multimodal.decodePixelStats(Multimodal.withPngMedia(t(s, d, "documents")))
          .toDF()
          .drop("media_bytes")
          .orderBy("doc_id"),
      Some("""WITH dims AS (
             |  SELECT doc_id,
             |    4 + n_chars % 13 AS w, 3 + n_chars % 11 AS h,
             |    CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 1
             |         WHEN 1 THEN 3 ELSE 4 END AS c
             |  FROM documents),
             |px AS (
             |  SELECT d.doc_id, d.w, d.h, d.c,
             |    sum((31*d.doc_id + 7*t.i) % 256) AS pix_sum,
             |    sum(((31*d.doc_id + 7*t.i) % 256) * (t.i % 97 + 1)) AS pix_checksum
             |  FROM dims d JOIN range(0, 1024) t(i) ON t.i < d.w*d.h*d.c
             |  GROUP BY d.doc_id, d.w, d.h, d.c)
             |SELECT doc_id, 'png' AS format,
             |  CAST(w AS BIGINT) AS width, CAST(h AS BIGINT) AS height,
             |  CAST(c AS BIGINT) AS channels,
             |  CAST(w*h*c AS BIGINT) AS n_pixel_bytes,
             |  CAST(pix_sum AS BIGINT) AS pix_sum,
             |  CAST(pix_checksum AS BIGINT) AS pix_checksum
             |FROM px ORDER BY doc_id""".stripMargin)),

    // The resize chain through the PNG codec — q_pixel_resize's pattern
    // with deflate in the loop and a 4-channel (RGBA) path live: decode →
    // integer box-fit → nearest-neighbor resample → re-encode as PNG →
    // decode AGAIN and checksum. The oracle replays the whole chain
    // closed-form per output pixel; a match requires both decodes, the
    // index map, and the re-encode (filter + deflate) to be bit-faithful.
    ("q_png_resize",
      (s: SparkSession, d: String) =>
        Multimodal.decodePixelStats(
            Multimodal.resizeMedia(
              Multimodal.withPngMedia(t(s, d, "documents")), maxW = 9, maxH = 7))
          .toDF()
          .drop("media_bytes")
          .orderBy("doc_id"),
      Some("""WITH dims AS (
             |  SELECT doc_id,
             |    4 + n_chars % 13 AS w, 3 + n_chars % 11 AS h,
             |    CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 1
             |         WHEN 1 THEN 3 ELSE 4 END AS c
             |  FROM documents),
             |od AS (
             |  SELECT doc_id, w, h, c,
             |    CASE WHEN w <= 9 AND h <= 7 THEN w
             |         WHEN w*7 <= h*9 THEN greatest(1, (w*7)//h)
             |         ELSE 9 END AS ow,
             |    CASE WHEN w <= 9 AND h <= 7 THEN h
             |         WHEN w*7 <= h*9 THEN 7
             |         ELSE greatest(1, (h*9)//w) END AS oh
             |  FROM dims),
             |pxmap AS (
             |  SELECT d.doc_id, d.ow, d.oh, d.c, t.i,
             |    (31*d.doc_id + 7*(
             |      ((((t.i // (d.c*d.ow)) * d.h) // d.oh) * d.w
             |        + ((((t.i // d.c) % d.ow) * d.w) // d.ow)) * d.c
             |      + (t.i % d.c))) % 256 AS val
             |  FROM od d JOIN range(0, 1024) t(i) ON t.i < d.ow*d.oh*d.c),
             |px AS (
             |  SELECT doc_id, ow, oh, c,
             |    sum(val) AS pix_sum, sum(val * (i % 97 + 1)) AS pix_checksum
             |  FROM pxmap GROUP BY doc_id, ow, oh, c)
             |SELECT doc_id, 'png' AS format,
             |  CAST(ow AS BIGINT) AS width, CAST(oh AS BIGINT) AS height,
             |  CAST(c AS BIGINT) AS channels,
             |  CAST(ow*oh*c AS BIGINT) AS n_pixel_bytes,
             |  CAST(pix_sum AS BIGINT) AS pix_sum,
             |  CAST(pix_checksum AS BIGINT) AS pix_checksum
             |FROM px ORDER BY doc_id""".stripMargin)),

    // REAL baseline JPEG decode, graded byte-exact: the engine encodes a
    // genuine SOF0 JPEG per doc (Huffman entropy coding, quantized DCT,
    // 4:2:0 subsampling on a third of the corpus), then DECODES it through
    // the full pipeline — segment walk, canonical Huffman, dequant, IDCT,
    // chroma upsample, YCbCr→RGB — and checksums the pixels. The fixture
    // is block-constant gray content with flat-8 quant tables, so every
    // block is DC-only and the decode is closed-form EXACT (see
    // JpegCodec's scaladoc derivation) — which is what lets DuckDB replay
    // it. A decoder that mis-walks MCUs, mis-predicts DC, mis-upsamples
    // chroma, or clips the color matrix fails the position-weighted
    // checksum. media_bytes is dropped: entropy-coded size has no closed
    // form (same contract as q_png_decode).
    ("q_jpeg_decode",
      (s: SparkSession, d: String) =>
        Multimodal.decodePixelStats(Multimodal.withJpegMedia(t(s, d, "documents")))
          .toDF()
          .drop("media_bytes")
          .orderBy("doc_id"),
      Some("""WITH dims AS (
             |  SELECT doc_id,
             |    8 + n_chars % 25 AS w, 8 + n_chars % 17 AS h,
             |    CASE WHEN doc_id % 3 = 0 THEN 1 ELSE 3 END AS c
             |  FROM documents),
             |px AS (
             |  SELECT d.doc_id, d.w, d.h, d.c,
             |    sum((31*d.doc_id
             |         + 13*(((t.i // (d.c*d.w)) // 8) * ((d.w+7)//8)
             |               + ((t.i // d.c) % d.w) // 8)) % 256) AS pix_sum,
             |    sum(((31*d.doc_id
             |          + 13*(((t.i // (d.c*d.w)) // 8) * ((d.w+7)//8)
             |                + ((t.i // d.c) % d.w) // 8)) % 256)
             |        * (t.i % 97 + 1)) AS pix_checksum
             |  FROM dims d JOIN range(0, 2304) t(i) ON t.i < d.w*d.h*d.c
             |  GROUP BY d.doc_id, d.w, d.h, d.c)
             |SELECT doc_id, 'jpeg' AS format,
             |  CAST(w AS BIGINT) AS width, CAST(h AS BIGINT) AS height,
             |  CAST(c AS BIGINT) AS channels,
             |  CAST(w*h*c AS BIGINT) AS n_pixel_bytes,
             |  CAST(pix_sum AS BIGINT) AS pix_sum,
             |  CAST(pix_checksum AS BIGINT) AS pix_checksum
             |FROM px ORDER BY doc_id""".stripMargin)),

    // REAL lossless-WebP (VP8L) decode, graded byte-exact: the engine
    // encodes each doc into a genuine VP8L stream (canonical prefix codes
    // emitted through the code-length code, with the coding features
    // rotating by doc_id — plain literals / subtract-green transform /
    // color cache / a real LZ77 distance-64 backref), DECODES the bytes
    // through the full pipeline — RIFF walk, bit reader, both prefix-code
    // forms, cache, backref copy, inverse transform — and reduces to the
    // position-weighted checksum. Content is identical across the four
    // variants (VP8L is lossless), so the oracle replays ONE closed-form
    // generator and the numbers only match if every coding path is an
    // exact identity. media_bytes is dropped: entropy-coded size has no
    // closed form (the q_png_decode contract).
    ("q_webp_decode",
      (s: SparkSession, d: String) =>
        Multimodal.decodePixelStats(Multimodal.withWebpMedia(t(s, d, "documents")))
          .toDF()
          .drop("media_bytes")
          .orderBy("doc_id"),
      Some("""WITH dims AS (
             |  SELECT doc_id,
             |    4 + n_chars % 13 AS w, 3 + n_chars % 11 AS h
             |  FROM documents),
             |px AS (
             |  SELECT d.doc_id, d.w, d.h,
             |    sum((31*d.doc_id + 7*t.i) % 256) AS pix_sum,
             |    sum(((31*d.doc_id + 7*t.i) % 256) * (t.i % 97 + 1)) AS pix_checksum
             |  FROM dims d JOIN range(0, 1024) t(i) ON t.i < d.w*d.h*4
             |  GROUP BY d.doc_id, d.w, d.h)
             |SELECT doc_id, 'webp' AS format,
             |  CAST(w AS BIGINT) AS width, CAST(h AS BIGINT) AS height,
             |  CAST(4 AS BIGINT) AS channels,
             |  CAST(w*h*4 AS BIGINT) AS n_pixel_bytes,
             |  CAST(pix_sum AS BIGINT) AS pix_sum,
             |  CAST(pix_checksum AS BIGINT) AS pix_checksum
             |FROM px ORDER BY doc_id""".stripMargin)),

    // REAL lossy-WebP (VP8 key frame) decode, graded byte-exact — the
    // first LOSSY video-class rung. The engine encodes each doc into a
    // genuine VP8 intra frame (boolean arithmetic coder, in-stream
    // coefficient-probability updates, Y2/WHT DC plane, token trees with
    // category extra bits, intra prediction, exact integer inverse
    // transforms), with coding features rotating by doc_id: DC_PRED at
    // the fine quantizer / coarse quantizer + uv delta-q + TWO token
    // partitions / V_PRED + macroblock skip (prediction-only cascade) /
    // V_PRED + steered residue. The encoder steers quantized DC levels
    // so the lossy chain reconstructs closed-form per-MB targets EXACTLY
    // (Vp8Codec scaladoc derives why: recon delta (v+4)>>3 at y2dc=8
    // reaches every integer), so the oracle replays the planar-YUV
    // generator without simulating prediction — any drift anywhere in
    // the arithmetic-coded pipeline moves the checksum. media_bytes is
    // dropped: arithmetic-coded size has no closed form.
    ("q_vp8_key_decode",
      (s: SparkSession, d: String) =>
        Multimodal.decodePixelStats(Multimodal.withVp8Media(t(s, d, "documents")))
          .toDF()
          .drop("media_bytes")
          .orderBy("doc_id"),
      Some("""WITH dims AS (
             |  SELECT doc_id,
             |    16*(1 + n_chars % 3) AS w, 16*(1 + n_chars % 2) AS h
             |  FROM documents),
             |px AS (
             |  SELECT d.doc_id, d.w, d.h,
             |    sum(val) AS pix_sum,
             |    sum(val * (t.i % 97 + 1)) AS pix_checksum
             |  FROM dims d JOIN range(0, 2304) t(i) ON t.i < d.w*d.h*3//2
             |  CROSS JOIN LATERAL (SELECT
             |    CASE WHEN d.doc_id % 4 = 2 THEN 127
             |    WHEN t.i < d.w*d.h THEN
             |      (31*d.doc_id + 13*(((t.i // d.w) // 16) * (d.w//16)
             |        + (t.i % d.w) // 16)) % 256
             |    WHEN t.i < d.w*d.h + (d.w//2)*(d.h//2) THEN
             |      (91*d.doc_id + 7*((((t.i - d.w*d.h) // (d.w//2)) // 8)
             |        * (d.w//16) + ((t.i - d.w*d.h) % (d.w//2)) // 8)) % 256
             |    ELSE
             |      (53*d.doc_id + 11*((((t.i - d.w*d.h - (d.w//2)*(d.h//2))
             |        // (d.w//2)) // 8) * (d.w//16)
             |        + ((t.i - d.w*d.h - (d.w//2)*(d.h//2)) % (d.w//2)) // 8)) % 256
             |    END AS val) v
             |  GROUP BY d.doc_id, d.w, d.h)
             |SELECT doc_id, 'vp8' AS format,
             |  CAST(w AS BIGINT) AS width, CAST(h AS BIGINT) AS height,
             |  CAST(3 AS BIGINT) AS channels,
             |  CAST(w*h*3//2 AS BIGINT) AS n_pixel_bytes,
             |  CAST(pix_sum AS BIGINT) AS pix_sum,
             |  CAST(pix_checksum AS BIGINT) AS pix_checksum
             |FROM px ORDER BY doc_id""".stripMargin)),

    // REAL H.264 (ITU-T H.264 Annex B) decode, graded byte-exact — the
    // entry rung of the last named lossy-video class: each doc carries a
    // genuine Annex B stream (SPS + PPS + one IDR slice) parsed through
    // the REAL transport and parameter-set machinery — start codes,
    // emulation-prevention byte removal (every fifth macroblock is
    // ALL-ZERO, forcing EP bytes through the payload), exp-Golomb ue/se,
    // the full SPS/PPS field walk, IDR slice headers with
    // dec_ref_pic_marking — and a macroblock layer of I_PCM (mb_type 25:
    // pcm alignment + raw 4:2:0 samples), the one mode whose
    // reconstruction is exact by construction. CAVLC residuals and intra
    // prediction are the next rung, rejected loudly. The oracle replays
    // the per-pixel generator; any NAL/EP/Golomb/header/sample-order
    // drift moves the checksum.
    ("q_h264_ipcm",
      (s: SparkSession, d: String) =>
        Multimodal.decodePixelStats(
            Multimodal.withH264Media(t(s, d, "documents")))
          .toDF()
          .drop("media_bytes")
          .orderBy("doc_id"),
      Some("""WITH dims AS (
             |  SELECT doc_id AS d,
             |    16*(1 + n_chars % 3) AS w, 16*(1 + n_chars % 2) AS h
             |  FROM documents),
             |px AS (
             |  SELECT m.d, m.w, m.h,
             |    sum(vv.val) AS pix_sum,
             |    sum(vv.val * (t.i % 97 + 1)) AS pix_checksum
             |  FROM (SELECT *, w // 16 AS mbw FROM dims) m
             |  JOIN range(0, 2304) t(i) ON t.i < m.w*m.h*3//2
             |  CROSS JOIN LATERAL (SELECT
             |    CASE WHEN t.i < m.w*m.h THEN 0
             |         WHEN t.i < m.w*m.h + (m.w//2)*(m.h//2) THEN 1
             |         ELSE 2 END AS pl) q0
             |  CROSS JOIN LATERAL (SELECT
             |    CASE q0.pl WHEN 0 THEN t.i % m.w
             |      WHEN 1 THEN (t.i - m.w*m.h) % (m.w//2)
             |      ELSE (t.i - m.w*m.h - (m.w//2)*(m.h//2)) % (m.w//2) END AS x,
             |    CASE q0.pl WHEN 0 THEN t.i // m.w
             |      WHEN 1 THEN (t.i - m.w*m.h) // (m.w//2)
             |      ELSE (t.i - m.w*m.h - (m.w//2)*(m.h//2)) // (m.w//2) END AS yy) q1
             |  CROSS JOIN LATERAL (SELECT
             |    CASE q0.pl WHEN 0 THEN (q1.yy // 16) * m.mbw + q1.x // 16
             |      ELSE (q1.yy // 8) * m.mbw + q1.x // 8 END AS mb) q2
             |  CROSS JOIN LATERAL (SELECT
             |    CASE WHEN (q2.mb + m.d) % 5 = 0 THEN 0
             |    ELSE CASE q0.pl
             |      WHEN 0 THEN (31*m.d + 13*q2.mb + q1.x % 16 + 17*(q1.yy % 16)) % 256
             |      WHEN 1 THEN (91*m.d + 7*q2.mb + 3*(q1.x % 8) + 5*(q1.yy % 8)) % 256
             |      ELSE (53*m.d + 11*q2.mb + 7*(q1.x % 8) + 13*(q1.yy % 8)) % 256
             |    END END AS val) vv
             |  GROUP BY m.d, m.w, m.h)
             |SELECT d AS doc_id, 'h264' AS format,
             |  CAST(w AS BIGINT) AS width, CAST(h AS BIGINT) AS height,
             |  CAST(3 AS BIGINT) AS channels,
             |  CAST(w*h*3//2 AS BIGINT) AS n_pixel_bytes,
             |  CAST(pix_sum AS BIGINT) AS pix_sum,
             |  CAST(pix_checksum AS BIGINT) AS pix_checksum
             |FROM px ORDER BY doc_id""".stripMargin)),

    // REAL H.264 CODED MACROBLOCKS (Intra_16x16 + CAVLC), graded
    // byte-exact — the rung past I_PCM: each doc carries an IDR slice of
    // coded Intra_16x16 macroblocks whose residuals are STEERED at slice
    // QP 28 / chroma offset -6 so the lossy chain reconstructs
    // closed-form targets exactly. Per-MB variants rotate DC-only
    // steering (CAVLC level escapes live at |delta| up to ~250),
    // zero-luma-residual MBs (the prediction V/H/DC output IS the graded
    // value, so a pred-formula drift moves the checksum), steered-AC MBs
    // (two luma AC coefficients produce an exact column pattern; chroma
    // cbp 2 adds a Cb AC pattern), and interleaved I_PCM (driving the
    // nC >= 8 FLC coeff_token contexts); the last MB on 2x2+ frames
    // codes PLANE prediction with zero residual, oracle-replaying the
    // spec's plane ramp. Any drift in CAVLC (contexts, trailing ones,
    // suffixLength adaptation, total_zeros, run_before), the 4x4
    // inverse transform, either Hadamard DC path, dequant, the chroma
    // QP map, or prediction edge fallbacks breaks the hash.
    ("q_h264_intra",
      (s: SparkSession, d: String) =>
        Multimodal.decodePixelStats(
            Multimodal.withH264IntraMedia(t(s, d, "documents")))
          .toDF()
          .drop("media_bytes")
          .orderBy("doc_id"),
      Some("""WITH dims AS (
             |  SELECT doc_id AS d,
             |    16*(1 + n_chars % 3) AS w, 16*(1 + n_chars % 2) AS h
             |  FROM documents),
             |dd AS (
             |  SELECT d, w, h, w//16 AS mbw, h//16 AS mbh,
             |    (w//16)*(h//16) AS nmb FROM dims),
             |mbs0 AS (
             |  SELECT dd.d, g.i AS mb, (37*dd.d + 19*g.i) % 208 + 24 AS vu
             |  FROM dd JOIN range(0, 6) g(i) ON g.i < dd.nmb),
             |mbs1 AS (
             |  SELECT dd.d, g.i AS mb,
             |    CASE ((dd.d + g.i) % 5)
             |      WHEN 1 THEN CASE
             |        WHEN g.i = 0 THEN 128
             |        WHEN g.i < dd.mbw THEN lv.vu
             |        WHEN g.i % dd.mbw = 0 THEN av.vu
             |        WHEN (dd.d + g.i) % 3 = 0 THEN av.vu
             |        WHEN (dd.d + g.i) % 3 = 1 THEN lv.vu
             |        ELSE (av.vu + lv.vu + 1) // 2 END
             |      WHEN 4 THEN CASE
             |        WHEN g.i = 0 THEN 128
             |        WHEN g.i < dd.mbw THEN lv.vu
             |        WHEN g.i % dd.mbw = 0 THEN av.vu
             |        WHEN (dd.d + g.i) % 2 = 0 THEN av.vu
             |        ELSE lv.vu END
             |      ELSE rv.vu END AS vu
             |  FROM dd JOIN range(0, 6) g(i) ON g.i < dd.nmb
             |  LEFT JOIN mbs0 rv ON rv.d = dd.d AND rv.mb = g.i
             |  LEFT JOIN mbs0 lv ON lv.d = dd.d AND lv.mb = g.i - 1
             |  LEFT JOIN mbs0 av ON av.d = dd.d AND av.mb = g.i - dd.mbw),
             |mbs AS (
             |  SELECT dd.d, g.i AS mb,
             |    CASE ((dd.d + g.i) % 5)
             |      WHEN 1 THEN CASE
             |        WHEN g.i = 0 THEN 128
             |        WHEN g.i < dd.mbw THEN lv.vu
             |        WHEN g.i % dd.mbw = 0 THEN av.vu
             |        WHEN (dd.d + g.i) % 3 = 0 THEN av.vu
             |        WHEN (dd.d + g.i) % 3 = 1 THEN lv.vu
             |        ELSE (av.vu + lv.vu + 1) // 2 END
             |      WHEN 4 THEN CASE
             |        WHEN g.i = 0 THEN 128
             |        WHEN g.i < dd.mbw THEN lv.vu
             |        WHEN g.i % dd.mbw = 0 THEN av.vu
             |        WHEN (dd.d + g.i) % 2 = 0 THEN av.vu
             |        ELSE lv.vu END
             |      ELSE rv.vu END AS vu
             |  FROM dd JOIN range(0, 6) g(i) ON g.i < dd.nmb
             |  LEFT JOIN mbs0 rv ON rv.d = dd.d AND rv.mb = g.i
             |  LEFT JOIN mbs1 lv ON lv.d = dd.d AND lv.mb = g.i - 1
             |  LEFT JOIN mbs1 av ON av.d = dd.d AND av.mb = g.i - dd.mbw),
             |pp AS (
             |  SELECT dd.d, ma.vu AS pa, ml.vu AS pl_, mal.vu AS pal
             |  FROM dd
             |  JOIN mbs ma ON ma.d = dd.d AND ma.mb = dd.nmb - 1 - dd.mbw
             |  JOIN mbs ml ON ml.d = dd.d AND ml.mb = dd.nmb - 2
             |  JOIN mbs mal ON mal.d = dd.d AND mal.mb = dd.nmb - dd.mbw - 2
             |  WHERE dd.mbw >= 2 AND dd.mbh >= 2),
             |px AS (
             |  SELECT m.d, m.w, m.h,
             |    sum(vv.val) AS pix_sum,
             |    sum(vv.val * (t.i % 97 + 1)) AS pix_checksum
             |  FROM dd m
             |  JOIN range(0, 2304) t(i) ON t.i < m.w*m.h*3//2
             |  CROSS JOIN LATERAL (SELECT
             |    CASE WHEN t.i < m.w*m.h THEN 0
             |         WHEN t.i < m.w*m.h + (m.w//2)*(m.h//2) THEN 1
             |         ELSE 2 END AS pl) q0
             |  CROSS JOIN LATERAL (SELECT
             |    CASE q0.pl WHEN 0 THEN t.i % m.w
             |      WHEN 1 THEN (t.i - m.w*m.h) % (m.w//2)
             |      ELSE (t.i - m.w*m.h - (m.w//2)*(m.h//2)) % (m.w//2) END AS x,
             |    CASE q0.pl WHEN 0 THEN t.i // m.w
             |      WHEN 1 THEN (t.i - m.w*m.h) // (m.w//2)
             |      ELSE (t.i - m.w*m.h - (m.w//2)*(m.h//2)) // (m.w//2) END AS yy) q1
             |  CROSS JOIN LATERAL (SELECT
             |    CASE q0.pl WHEN 0 THEN q1.yy // 16 ELSE q1.yy // 8 END AS r,
             |    CASE q0.pl WHEN 0 THEN q1.x // 16 ELSE q1.x // 8 END AS c,
             |    CASE q0.pl WHEN 0 THEN q1.x % 16 ELSE q1.x % 8 END AS xx,
             |    CASE q0.pl WHEN 0 THEN q1.yy % 16 ELSE q1.yy % 8 END AS zz) q2
             |  CROSS JOIN LATERAL (SELECT q2.r * m.mbw + q2.c AS mb,
             |    (m.mbw >= 2 AND m.mbh >= 2
             |      AND q2.r * m.mbw + q2.c = m.nmb - 1) AS ispl,
             |    CASE WHEN (m.d + q2.r * m.mbw + q2.c) % 2 = 0
             |      THEN 1 ELSE -1 END AS s) q3
             |  LEFT JOIN mbs mm ON mm.d = m.d AND mm.mb = q3.mb
             |  LEFT JOIN pp ON pp.d = m.d
             |  CROSS JOIN LATERAL (SELECT
             |    CASE WHEN q0.pl = 0 THEN
             |      CASE WHEN q3.ispl THEN
             |        GREATEST(0, LEAST(255,
             |          (16*(pp.pl_ + pp.pa)
             |           + CAST(floor((40*(pp.pa - pp.pal) + 32) / 64e0) AS BIGINT)*(q2.xx - 7)
             |           + CAST(floor((40*(pp.pl_ - pp.pal) + 32) / 64e0) AS BIGINT)*(q2.zz - 7) + 16) // 32))
             |      WHEN (m.d + q3.mb) % 5 = 2 AND q2.xx < 4 AND q2.zz < 4 THEN
             |        (37*m.d + 19*q3.mb) % 208 + 24 + q3.s *
             |          (CASE q2.xx WHEN 0 THEN 14 WHEN 1 THEN 1
             |            WHEN 2 THEN -9 ELSE -6 END)
             |      WHEN (m.d + q3.mb) % 5 = 4 AND q2.r = m.mbh - 1 AND q2.r > 0
             |           AND (q2.c = 0 OR (m.d + q3.mb) % 2 = 0)
             |           AND q2.xx < 4 AND q2.zz >= 12 THEN
             |        mm.vu + 4 * (CASE WHEN (m.d + 3*q3.mb) % 2 = 0 THEN 1 ELSE -1 END)
             |               * (1 + (m.d + q3.mb) % 3)
             |      ELSE mm.vu END
             |    WHEN q0.pl = 1 THEN
             |      CASE WHEN q3.ispl THEN
             |        GREATEST(0, LEAST(255,
             |          (32*((91*m.d + 29*(q2.r + q2.c - 1)) % 240 + 8)
             |           + CAST(floor((68*(((91*m.d + 29*(q2.r + q2.c - 1)) % 240 + 8)
             |                 - ((91*m.d + 29*(q2.r + q2.c - 2)) % 240 + 8)) + 16) / 32e0) AS BIGINT)
             |             * (q2.xx - 3 + q2.zz - 3) + 16) // 32))
             |      WHEN (m.d + q3.mb) % 5 = 2 AND q2.xx < 4 AND q2.zz < 4 THEN
             |        (91*m.d + 29*(q2.r + q2.c)) % 240 + 8 + 2 * q3.s *
             |          (CASE q2.xx WHEN 0 THEN 1 WHEN 1 THEN -1
             |            WHEN 2 THEN -1 ELSE 1 END)
             |      ELSE (91*m.d + 29*(q2.r + q2.c)) % 240 + 8 END
             |    ELSE
             |      CASE WHEN q3.ispl THEN
             |        GREATEST(0, LEAST(255,
             |          (32*((53*m.d + 31*(q2.r + q2.c - 1)) % 240 + 8)
             |           + CAST(floor((68*(((53*m.d + 31*(q2.r + q2.c - 1)) % 240 + 8)
             |                 - ((53*m.d + 31*(q2.r + q2.c - 2)) % 240 + 8)) + 16) / 32e0) AS BIGINT)
             |             * (q2.xx - 3 + q2.zz - 3) + 16) // 32))
             |      ELSE (53*m.d + 31*(q2.r + q2.c)) % 240 + 8 END
             |    END AS val) vv
             |  GROUP BY m.d, m.w, m.h)
             |SELECT d AS doc_id, 'h264' AS format,
             |  CAST(w AS BIGINT) AS width, CAST(h AS BIGINT) AS height,
             |  CAST(3 AS BIGINT) AS channels,
             |  CAST(w*h*3//2 AS BIGINT) AS n_pixel_bytes,
             |  CAST(pix_sum AS BIGINT) AS pix_sum,
             |  CAST(pix_checksum AS BIGINT) AS pix_checksum
             |FROM px ORDER BY doc_id""".stripMargin)),

    // REAL H.264 P SLICES (inter prediction), graded byte-exact — the
    // motion-compensated rung: each doc carries a TWO-frame Annex B
    // sequence (SPS + PPS + IDR + non-IDR P slice referencing frame 1).
    // Frame 2's MB classes stripe by (column + doc + row) so every
    // P_Skip sits right of a zero-motion ref-0 MB (8.4.1.1's zero
    // trigger is what the skip copy grades), P_L0 MBs rotate MB-aligned
    // motion with a half-MB horizontal shift on the last row (sub-MB
    // source mixing lands per-pixel in the oracle), zero-motion P MBs
    // carry steered granularity-4 luma residuals + granularity-1 chroma,
    // and Intra_16x16 MBs decode INSIDE the P slice. mb_skip_run, the
    // 16x16 MV predictor chain feeding mvd, whole-MB MC with integer
    // chroma offsets, inter residual CAVLC, and the frame-reference
    // plumbing must all be exact or the frame-weighted checksum moves.
    ("q_h264_inter",
      (s: SparkSession, d: String) =>
        Multimodal.decodeH264VideoStats(
            Multimodal.withH264InterMedia(t(s, d, "documents")))
          .toDF()
          .orderBy("doc_id"),
      Some("""WITH dims AS (
             |  SELECT doc_id AS d, 16*(2 + n_chars % 2) AS w, 32 AS h
             |  FROM documents),
             |dd AS (
             |  SELECT d, w, h, w//16 AS mbw, h//16 AS mbh,
             |    w*h*3//2 AS fb FROM dims),
             |px AS (
             |  SELECT m.d, m.w, m.h,
             |    sum(vv.val * (t.i % m.fb % 97 + 1) * (t.i // m.fb + 1)) AS chk
             |  FROM dd m
             |  JOIN range(0, 4608) t(i) ON t.i < 2 * m.fb
             |  CROSS JOIN LATERAL (SELECT t.i // m.fb AS fi, t.i % m.fb AS j) qf
             |  CROSS JOIN LATERAL (SELECT
             |    CASE WHEN qf.j < m.w*m.h THEN 0
             |         WHEN qf.j < m.w*m.h + (m.w//2)*(m.h//2) THEN 1
             |         ELSE 2 END AS pl) q0
             |  CROSS JOIN LATERAL (SELECT
             |    CASE q0.pl WHEN 0 THEN qf.j % m.w
             |      WHEN 1 THEN (qf.j - m.w*m.h) % (m.w//2)
             |      ELSE (qf.j - m.w*m.h - (m.w//2)*(m.h//2)) % (m.w//2) END AS x,
             |    CASE q0.pl WHEN 0 THEN qf.j // m.w
             |      WHEN 1 THEN (qf.j - m.w*m.h) // (m.w//2)
             |      ELSE (qf.j - m.w*m.h - (m.w//2)*(m.h//2)) // (m.w//2) END AS yy) q1
             |  CROSS JOIN LATERAL (SELECT
             |    CASE q0.pl WHEN 0 THEN q1.yy // 16 ELSE q1.yy // 8 END AS r,
             |    CASE q0.pl WHEN 0 THEN q1.x // 16 ELSE q1.x // 8 END AS c) q2
             |  CROSS JOIN LATERAL (SELECT q2.r * m.mbw + q2.c AS mb,
             |    (q2.c + m.d + q2.r) % 4 AS cls) q3
             |  CROSS JOIN LATERAL (SELECT
             |    CASE WHEN q2.r = m.mbh - 1 THEN
             |           CASE WHEN q2.c > 0 THEN -8 ELSE 0 END
             |         ELSE CASE (m.d + q3.mb) % 3
             |           WHEN 1 THEN CASE WHEN q2.c > 0 THEN -16 ELSE 0 END
             |           WHEN 2 THEN CASE WHEN q2.c < m.mbw - 1 THEN 16 ELSE 0 END
             |           ELSE 0 END END AS sx,
             |    CASE WHEN q2.r > 0 THEN -16 ELSE 16 END AS sy,
             |    (CASE WHEN (m.d + 3*q3.mb) % 2 = 0 THEN 1 ELSE -1 END)
             |      * (1 + (m.d + q3.mb) % 6) AS dl) q4
             |  CROSS JOIN LATERAL (SELECT
             |    CASE WHEN q0.pl = 0 THEN
             |      CASE WHEN qf.fi = 0 OR q3.cls = 1
             |             THEN (37*m.d + 19*q3.mb) % 208 + 24
             |           WHEN q3.cls = 0
             |             THEN (37*m.d + 19*q3.mb) % 208 + 24 + 4*q4.dl
             |           WHEN q3.cls = 2
             |             THEN (37*m.d + 19*(((q1.yy + q4.sy)//16)*m.mbw
             |                              + (q1.x + q4.sx)//16)) % 208 + 24
             |           ELSE (41*m.d + 17*q3.mb) % 208 + 24 END
             |    WHEN q0.pl = 1 THEN
             |      CASE WHEN qf.fi = 0 OR q3.cls = 1
             |             THEN (91*m.d + 29*(q2.r + q2.c)) % 240 + 8
             |           WHEN q3.cls = 2
             |             THEN (91*m.d + 29*((((q1.yy + q4.sy//2)//8))
             |                              + ((q1.x + q4.sx//2)//8))) % 240 + 8
             |           ELSE (91*m.d + 23*q3.mb) % 240 + 8 END
             |    ELSE
             |      CASE WHEN qf.fi = 0 OR q3.cls = 1
             |             THEN (53*m.d + 31*(q2.r + q2.c)) % 240 + 8
             |           WHEN q3.cls = 2
             |             THEN (53*m.d + 31*((((q1.yy + q4.sy//2)//8))
             |                              + ((q1.x + q4.sx//2)//8))) % 240 + 8
             |           ELSE (53*m.d + 27*q3.mb) % 240 + 8 END
             |    END AS val) vv
             |  GROUP BY m.d, m.w, m.h)
             |SELECT d AS doc_id, CAST(w AS BIGINT) AS width,
             |  CAST(h AS BIGINT) AS height, CAST(2 AS BIGINT) AS n_frames,
             |  CAST(chk AS BIGINT) AS pix_checksum
             |FROM px ORDER BY doc_id""".stripMargin)),

    // REAL H.264 P_8x8 SUB-MACROBLOCK PARTITIONS, graded exactly — four
    // P_L0_8x8 sub-partitions per MB, each with its own mvd against the
    // standard predictor over its quadrant cells (in-MB availability:
    // later quadrants predict from earlier ones). Frame 2 stripes by
    // (column + doc + 2*row): P_8x8 quadrants read up/right/left/down
    // (clamped at edges), 16x16 motion and zero-motion residual MBs mix
    // in, and every P_Skip zero trigger stays live. A quadrant mix-up
    // or sub-partition drift moves the frame-weighted checksum.
    ("q_h264_p8x8",
      (s: SparkSession, d: String) =>
        Multimodal.decodeH264VideoStats(
            Multimodal.withH264P8Media(t(s, d, "documents")))
          .toDF()
          .orderBy("doc_id"),
      Some("""WITH dims AS (
             |  SELECT doc_id AS d, 32*(1 + n_chars % 2) AS w, 64 AS h
             |  FROM documents),
             |dd AS (
             |  SELECT d, w, h, w//16 AS mbw, h//16 AS mbh, w//32 AS tcols,
             |    w*h*3//2 AS fb FROM dims),
             |px AS (
             |  SELECT m.d, m.w, m.h,
             |    sum(vv.val * (t.i % m.fb % 97 + 1) * (t.i // m.fb + 1)) AS chk
             |  FROM dd m
             |  JOIN range(0, 12288) t(i) ON t.i < 2 * m.fb
             |  CROSS JOIN LATERAL (SELECT t.i // m.fb AS fi, t.i % m.fb AS j) qf
             |  CROSS JOIN LATERAL (SELECT
             |    CASE WHEN qf.j < m.w*m.h THEN 0
             |         WHEN qf.j < m.w*m.h + (m.w//2)*(m.h//2) THEN 1
             |         ELSE 2 END AS pl) q0
             |  CROSS JOIN LATERAL (SELECT
             |    CASE q0.pl WHEN 0 THEN qf.j % m.w
             |      WHEN 1 THEN (qf.j - m.w*m.h) % (m.w//2)
             |      ELSE (qf.j - m.w*m.h - (m.w//2)*(m.h//2)) % (m.w//2) END AS x,
             |    CASE q0.pl WHEN 0 THEN qf.j // m.w
             |      WHEN 1 THEN (qf.j - m.w*m.h) // (m.w//2)
             |      ELSE (qf.j - m.w*m.h - (m.w//2)*(m.h//2)) // (m.w//2) END AS yy) q1
             |  CROSS JOIN LATERAL (SELECT
             |    CASE q0.pl WHEN 0 THEN q1.yy // 16 ELSE q1.yy // 8 END AS r,
             |    CASE q0.pl WHEN 0 THEN q1.x // 16 ELSE q1.x // 8 END AS c,
             |    CASE q0.pl WHEN 0 THEN q1.x % 16 ELSE q1.x % 8 END AS xx,
             |    CASE q0.pl WHEN 0 THEN q1.yy % 16 ELSE q1.yy % 8 END AS zz) q2
             |  CROSS JOIN LATERAL (SELECT q2.r * m.mbw + q2.c AS mb,
             |    (q2.c + m.d + 2*q2.r) % 4 AS cls,
             |    CASE q0.pl WHEN 0 THEN 8 ELSE 4 END AS hp) q3
             |  CROSS JOIN LATERAL (SELECT
             |    CASE WHEN q3.cls = 2 THEN
             |      CASE WHEN q2.zz < q3.hp AND q2.xx < q3.hp THEN 0
             |           WHEN q2.zz < q3.hp THEN 2*q3.hp
             |           WHEN q2.xx < q3.hp THEN -(2*q3.hp)
             |           ELSE 0 END
             |    ELSE 0 END AS sx,
             |    CASE WHEN q3.cls = 2 THEN
             |      CASE WHEN q2.zz < q3.hp AND q2.xx < q3.hp THEN -(2*q3.hp)
             |           WHEN q2.zz < q3.hp THEN 0
             |           WHEN q2.xx < q3.hp THEN 0
             |           ELSE 2*q3.hp END
             |    WHEN q3.cls = 3 THEN
             |      CASE WHEN q2.r > 0 THEN -(2*q3.hp) ELSE 2*q3.hp END
             |    ELSE 0 END AS sy,
             |    (CASE WHEN (m.d + 3*q3.mb) % 2 = 0 THEN 1 ELSE -1 END)
             |      * (1 + (m.d + q3.mb) % 6) AS dl) q4
             |  CROSS JOIN LATERAL (SELECT
             |    GREATEST(0, LEAST(CASE q0.pl WHEN 0 THEN m.w ELSE m.w//2 END - 1,
             |      q1.x + q4.sx)) AS sxc,
             |    GREATEST(0, LEAST(CASE q0.pl WHEN 0 THEN m.h ELSE m.h//2 END - 1,
             |      q1.yy + q4.sy)) AS syc) q5
             |  CROSS JOIN LATERAL (SELECT
             |    CASE q0.pl WHEN 0 THEN (q5.syc // 32) * m.tcols + q5.sxc // 32
             |      ELSE (q5.syc // 16) * m.tcols + q5.sxc // 16 END AS stile) q6
             |  CROSS JOIN LATERAL (SELECT
             |    CASE WHEN q0.pl = 0 THEN
             |      CASE WHEN qf.fi = 0 OR q3.cls = 1
             |             THEN (37*m.d + 23*((q2.r//2)*m.tcols + q2.c//2)) % 208 + 24
             |           WHEN q3.cls = 0
             |             THEN (37*m.d + 23*((q2.r//2)*m.tcols + q2.c//2)) % 208 + 24
             |                  + 4*q4.dl
             |           ELSE (37*m.d + 23*q6.stile) % 208 + 24 END
             |    WHEN q0.pl = 1 THEN
             |      CASE WHEN qf.fi = 0 OR q3.cls = 1
             |             THEN (91*m.d + 13*((q2.r//2)*m.tcols + q2.c//2)) % 240 + 8
             |           WHEN q3.cls = 0 THEN (91*m.d + 23*q3.mb) % 240 + 8
             |           ELSE (91*m.d + 13*q6.stile) % 240 + 8 END
             |    ELSE
             |      CASE WHEN qf.fi = 0 OR q3.cls = 1
             |             THEN (53*m.d + 17*((q2.r//2)*m.tcols + q2.c//2)) % 240 + 8
             |           WHEN q3.cls = 0 THEN (53*m.d + 27*q3.mb) % 240 + 8
             |           ELSE (53*m.d + 17*q6.stile) % 240 + 8 END
             |    END AS val) vv
             |  GROUP BY m.d, m.w, m.h)
             |SELECT d AS doc_id, CAST(w AS BIGINT) AS width,
             |  CAST(h AS BIGINT) AS height, CAST(2 AS BIGINT) AS n_frames,
             |  CAST(chk AS BIGINT) AS pix_checksum
             |FROM px ORDER BY doc_id""".stripMargin)),

    // REAL H.264 B SLICES, graded exactly — a three-frame IDR + P +
    // non-reference B sequence: the B slice carries TWO reference lists
    // (list 0 = the P frame, list 1 = the IDR — the two most recent
    // references in decode order; POC reordering stays a named rung),
    // per-list MV prediction over per-list cell grids, and the spec's
    // default (p0 + p1 + 1) >> 1 bi-prediction average. Frame 2 differs
    // from frame 1 by known steered deltas, so B_L0 vs B_L1 vs B_Bi are
    // VALUE-VISIBLE (a list mix-up or a wrong average moves the
    // checksum); B_L1 MBs also shift a tile row, intra MBs decode
    // inside the B slice, and the sliding reference window must exclude
    // the non-reference B frame itself.
    ("q_h264_bslice",
      (s: SparkSession, d: String) =>
        Multimodal.decodeH264VideoStats(
            Multimodal.withH264BMedia(t(s, d, "documents")))
          .toDF()
          .orderBy("doc_id"),
      Some("""WITH dd AS (
             |  SELECT doc_id AS d, 32 AS w, 64 AS h, 2 AS mbw, 4 AS mbh,
             |    1 AS tcols, 3072 AS fb FROM documents),
             |px AS (
             |  SELECT m.d, m.w, m.h,
             |    sum(vv.val * (t.i % m.fb % 97 + 1) * (t.i // m.fb + 1)) AS chk
             |  FROM dd m
             |  JOIN range(0, 9216) t(i) ON t.i < 3 * m.fb
             |  CROSS JOIN LATERAL (SELECT t.i // m.fb AS fi, t.i % m.fb AS j) qf
             |  CROSS JOIN LATERAL (SELECT
             |    CASE WHEN qf.j < m.w*m.h THEN 0
             |         WHEN qf.j < m.w*m.h + (m.w//2)*(m.h//2) THEN 1
             |         ELSE 2 END AS pl) q0
             |  CROSS JOIN LATERAL (SELECT
             |    CASE q0.pl WHEN 0 THEN qf.j % m.w
             |      WHEN 1 THEN (qf.j - m.w*m.h) % (m.w//2)
             |      ELSE (qf.j - m.w*m.h - (m.w//2)*(m.h//2)) % (m.w//2) END AS x,
             |    CASE q0.pl WHEN 0 THEN qf.j // m.w
             |      WHEN 1 THEN (qf.j - m.w*m.h) // (m.w//2)
             |      ELSE (qf.j - m.w*m.h - (m.w//2)*(m.h//2)) // (m.w//2) END AS yy) q1
             |  CROSS JOIN LATERAL (SELECT
             |    CASE q0.pl WHEN 0 THEN q1.yy // 16 ELSE q1.yy // 8 END AS r,
             |    CASE q0.pl WHEN 0 THEN q1.x // 16 ELSE q1.x // 8 END AS c) q2
             |  CROSS JOIN LATERAL (SELECT q2.r * m.mbw + q2.c AS mb,
             |    (q2.c + m.d + q2.r) % 4 AS cls,
             |    (q2.r // 2) * m.tcols + q2.c // 2 AS tile,
             |    CASE WHEN q2.r > 0 THEN -1 ELSE 1 END
             |      * (CASE q0.pl WHEN 0 THEN 16 ELSE 8 END) AS sy) q3
             |  CROSS JOIN LATERAL (SELECT
             |    (CASE WHEN (m.d + 3*q3.mb) % 2 = 0 THEN 1 ELSE -1 END)
             |      * (1 + (m.d + q3.mb) % 6) AS dl,
             |    CASE q0.pl
             |      WHEN 0 THEN ((q1.yy + q3.sy) // 32) * m.tcols
             |      ELSE ((q1.yy + q3.sy) // 16) * m.tcols END
             |      + (CASE q0.pl WHEN 0 THEN q1.x // 32 ELSE q1.x // 16 END) AS stile) q4
             |  CROSS JOIN LATERAL (SELECT
             |    CASE q0.pl
             |      WHEN 0 THEN (37*m.d + 23*q3.tile) % 208 + 24
             |      WHEN 1 THEN (91*m.d + 13*q3.tile) % 240 + 8
             |      ELSE (53*m.d + 17*q3.tile) % 240 + 8 END AS f1v,
             |    CASE q0.pl
             |      WHEN 0 THEN (37*m.d + 23*q3.tile) % 208 + 24 + 4*q4.dl
             |      WHEN 1 THEN (91*m.d + 23*q3.mb) % 240 + 8
             |      ELSE (53*m.d + 27*q3.mb) % 240 + 8 END AS f2v) q5
             |  CROSS JOIN LATERAL (SELECT
             |    CASE qf.fi
             |      WHEN 0 THEN q5.f1v
             |      WHEN 1 THEN q5.f2v
             |      ELSE CASE q3.cls
             |        WHEN 0 THEN q5.f2v
             |        WHEN 1 THEN CASE q0.pl
             |          WHEN 0 THEN (37*m.d + 23*q4.stile) % 208 + 24
             |          WHEN 1 THEN (91*m.d + 13*q4.stile) % 240 + 8
             |          ELSE (53*m.d + 17*q4.stile) % 240 + 8 END
             |        WHEN 2 THEN (q5.f1v + q5.f2v + 1) // 2
             |        ELSE CASE q0.pl
             |          WHEN 0 THEN (43*m.d + 19*q3.mb) % 208 + 24
             |          WHEN 1 THEN (91*m.d + 29*q3.mb) % 240 + 8
             |          ELSE (53*m.d + 31*q3.mb) % 240 + 8 END END
             |    END AS val) vv
             |  GROUP BY m.d, m.w, m.h)
             |SELECT d AS doc_id, CAST(w AS BIGINT) AS width,
             |  CAST(h AS BIGINT) AS height, CAST(3 AS BIGINT) AS n_frames,
             |  CAST(chk AS BIGINT) AS pix_checksum
             |FROM px ORDER BY doc_id""".stripMargin)),

    // REAL H.264 B-SLICE REFERENCE-LIST MODIFICATION (7.3.3.1 applied
    // per list on B slices), graded exactly — the q_h264_bslice
    // geometry with idc-0 commands permuting the two-picture defaults
    // INDEPENDENTLY per list, variant doc % 3: list 0 swapped (B_L0
    // stripes read the IDR, Bi collapses onto the IDR value), list 1
    // swapped (the shifted B_L1 stripes land on the P frame — tile
    // value + the SOURCE macroblock's steered delta — and Bi collapses
    // onto P), or both (one-sided classes cross while the symmetric Bi
    // average must NOT move). A decoder that applies a command to the
    // wrong list, shares one rolling picNum predictor across lists, or
    // ignores the l1 flag reproduces the wrong side everywhere.
    ("q_h264_bmod",
      (s: SparkSession, d: String) =>
        Multimodal.decodeH264VideoStats(
            Multimodal.withH264BModMedia(t(s, d, "documents")))
          .toDF()
          .orderBy("doc_id"),
      Some("""WITH dd AS (
             |  SELECT doc_id AS d, 32 AS w, 64 AS h, 2 AS mbw, 4 AS mbh,
             |    1 AS tcols, 3072 AS fb, doc_id % 3 AS v FROM documents),
             |px AS (
             |  SELECT m.d, m.w, m.h,
             |    sum(vv.val * (t.i % m.fb % 97 + 1) * (t.i // m.fb + 1)) AS chk
             |  FROM dd m
             |  JOIN range(0, 9216) t(i) ON t.i < 3 * m.fb
             |  CROSS JOIN LATERAL (SELECT t.i // m.fb AS fi, t.i % m.fb AS j) qf
             |  CROSS JOIN LATERAL (SELECT
             |    CASE WHEN qf.j < m.w*m.h THEN 0
             |         WHEN qf.j < m.w*m.h + (m.w//2)*(m.h//2) THEN 1
             |         ELSE 2 END AS pl) q0
             |  CROSS JOIN LATERAL (SELECT
             |    CASE q0.pl WHEN 0 THEN qf.j % m.w
             |      WHEN 1 THEN (qf.j - m.w*m.h) % (m.w//2)
             |      ELSE (qf.j - m.w*m.h - (m.w//2)*(m.h//2)) % (m.w//2) END AS x,
             |    CASE q0.pl WHEN 0 THEN qf.j // m.w
             |      WHEN 1 THEN (qf.j - m.w*m.h) // (m.w//2)
             |      ELSE (qf.j - m.w*m.h - (m.w//2)*(m.h//2)) // (m.w//2) END AS yy) q1
             |  CROSS JOIN LATERAL (SELECT
             |    CASE q0.pl WHEN 0 THEN q1.yy // 16 ELSE q1.yy // 8 END AS r,
             |    CASE q0.pl WHEN 0 THEN q1.x // 16 ELSE q1.x // 8 END AS c) q2
             |  CROSS JOIN LATERAL (SELECT q2.r * m.mbw + q2.c AS mb,
             |    (q2.c + m.d + q2.r) % 4 AS cls,
             |    (q2.r // 2) * m.tcols + q2.c // 2 AS tile,
             |    CASE WHEN q2.r > 0 THEN -1 ELSE 1 END
             |      * (CASE q0.pl WHEN 0 THEN 16 ELSE 8 END) AS sy) q3
             |  CROSS JOIN LATERAL (SELECT
             |    (CASE WHEN (m.d + 3*q3.mb) % 2 = 0 THEN 1 ELSE -1 END)
             |      * (1 + (m.d + q3.mb) % 6) AS dl,
             |    CASE q0.pl
             |      WHEN 0 THEN ((q1.yy + q3.sy) // 32) * m.tcols
             |      ELSE ((q1.yy + q3.sy) // 16) * m.tcols END
             |      + (CASE q0.pl WHEN 0 THEN q1.x // 32 ELSE q1.x // 16 END) AS stile,
             |    (CASE q0.pl WHEN 0 THEN (q1.yy + q3.sy) // 16
             |      ELSE (q1.yy + q3.sy) // 8 END) * m.mbw + q2.c AS smb) q4
             |  CROSS JOIN LATERAL (SELECT
             |    (CASE WHEN (m.d + 3*q4.smb) % 2 = 0 THEN 1 ELSE -1 END)
             |      * (1 + (m.d + q4.smb) % 6) AS dls) q4b
             |  CROSS JOIN LATERAL (SELECT
             |    CASE q0.pl
             |      WHEN 0 THEN (37*m.d + 23*q3.tile) % 208 + 24
             |      WHEN 1 THEN (91*m.d + 13*q3.tile) % 240 + 8
             |      ELSE (53*m.d + 17*q3.tile) % 240 + 8 END AS f1v,
             |    CASE q0.pl
             |      WHEN 0 THEN (37*m.d + 23*q3.tile) % 208 + 24 + 4*q4.dl
             |      WHEN 1 THEN (91*m.d + 23*q3.mb) % 240 + 8
             |      ELSE (53*m.d + 27*q3.mb) % 240 + 8 END AS f2v,
             |    CASE q0.pl
             |      WHEN 0 THEN (37*m.d + 23*q4.stile) % 208 + 24
             |      WHEN 1 THEN (91*m.d + 13*q4.stile) % 240 + 8
             |      ELSE (53*m.d + 17*q4.stile) % 240 + 8 END AS f1s,
             |    CASE q0.pl
             |      WHEN 0 THEN (37*m.d + 23*q4.stile) % 208 + 24 + 4*q4b.dls
             |      WHEN 1 THEN (91*m.d + 23*q4.smb) % 240 + 8
             |      ELSE (53*m.d + 27*q4.smb) % 240 + 8 END AS f2s) q5
             |  CROSS JOIN LATERAL (SELECT
             |    CASE qf.fi
             |      WHEN 0 THEN q5.f1v
             |      WHEN 1 THEN q5.f2v
             |      ELSE CASE q3.cls
             |        WHEN 0 THEN CASE WHEN m.v <> 1 THEN q5.f1v ELSE q5.f2v END
             |        WHEN 1 THEN CASE WHEN m.v <> 0 THEN q5.f2s ELSE q5.f1s END
             |        WHEN 2 THEN CASE m.v
             |          WHEN 0 THEN q5.f1v WHEN 1 THEN q5.f2v
             |          ELSE (q5.f1v + q5.f2v + 1) // 2 END
             |        ELSE CASE q0.pl
             |          WHEN 0 THEN (43*m.d + 19*q3.mb) % 208 + 24
             |          WHEN 1 THEN (91*m.d + 29*q3.mb) % 240 + 8
             |          ELSE (53*m.d + 31*q3.mb) % 240 + 8 END END
             |    END AS val) vv
             |  GROUP BY m.d, m.w, m.h)
             |SELECT d AS doc_id, CAST(w AS BIGINT) AS width,
             |  CAST(h AS BIGINT) AS height, CAST(3 AS BIGINT) AS n_frames,
             |  CAST(chk AS BIGINT) AS pix_checksum
             |FROM px ORDER BY doc_id""".stripMargin)),

    // REAL H.264 CABAC B SLICES, graded exactly — the q_h264_bslice
    // three-frame fixture re-encoded with entropy_coding_mode_flag = 1:
    // the B mb_type bin tree (with the intra-in-B suffix through the I
    // machinery), per-list UEG3 mvds, mb_skip_flag, and the shared
    // residual/end_of_slice machinery under the arithmetic coder. The
    // oracle is identical to q_h264_bslice — the entropy layer must be
    // value-neutral.
    ("q_h264_bcabac",
      (s: SparkSession, d: String) =>
        Multimodal.decodeH264VideoStats(
            Multimodal.withH264BCabacMedia(t(s, d, "documents")))
          .toDF()
          .orderBy("doc_id"),
      Some("""WITH dd AS (
             |  SELECT doc_id AS d, 32 AS w, 64 AS h, 2 AS mbw, 4 AS mbh,
             |    1 AS tcols, 3072 AS fb FROM documents),
             |px AS (
             |  SELECT m.d, m.w, m.h,
             |    sum(vv.val * (t.i % m.fb % 97 + 1) * (t.i // m.fb + 1)) AS chk
             |  FROM dd m
             |  JOIN range(0, 9216) t(i) ON t.i < 3 * m.fb
             |  CROSS JOIN LATERAL (SELECT t.i // m.fb AS fi, t.i % m.fb AS j) qf
             |  CROSS JOIN LATERAL (SELECT
             |    CASE WHEN qf.j < m.w*m.h THEN 0
             |         WHEN qf.j < m.w*m.h + (m.w//2)*(m.h//2) THEN 1
             |         ELSE 2 END AS pl) q0
             |  CROSS JOIN LATERAL (SELECT
             |    CASE q0.pl WHEN 0 THEN qf.j % m.w
             |      WHEN 1 THEN (qf.j - m.w*m.h) % (m.w//2)
             |      ELSE (qf.j - m.w*m.h - (m.w//2)*(m.h//2)) % (m.w//2) END AS x,
             |    CASE q0.pl WHEN 0 THEN qf.j // m.w
             |      WHEN 1 THEN (qf.j - m.w*m.h) // (m.w//2)
             |      ELSE (qf.j - m.w*m.h - (m.w//2)*(m.h//2)) // (m.w//2) END AS yy) q1
             |  CROSS JOIN LATERAL (SELECT
             |    CASE q0.pl WHEN 0 THEN q1.yy // 16 ELSE q1.yy // 8 END AS r,
             |    CASE q0.pl WHEN 0 THEN q1.x // 16 ELSE q1.x // 8 END AS c) q2
             |  CROSS JOIN LATERAL (SELECT q2.r * m.mbw + q2.c AS mb,
             |    (q2.c + m.d + q2.r) % 4 AS cls,
             |    (q2.r // 2) * m.tcols + q2.c // 2 AS tile,
             |    CASE WHEN q2.r > 0 THEN -1 ELSE 1 END
             |      * (CASE q0.pl WHEN 0 THEN 16 ELSE 8 END) AS sy) q3
             |  CROSS JOIN LATERAL (SELECT
             |    (CASE WHEN (m.d + 3*q3.mb) % 2 = 0 THEN 1 ELSE -1 END)
             |      * (1 + (m.d + q3.mb) % 6) AS dl,
             |    CASE q0.pl
             |      WHEN 0 THEN ((q1.yy + q3.sy) // 32) * m.tcols
             |      ELSE ((q1.yy + q3.sy) // 16) * m.tcols END
             |      + (CASE q0.pl WHEN 0 THEN q1.x // 32 ELSE q1.x // 16 END) AS stile) q4
             |  CROSS JOIN LATERAL (SELECT
             |    CASE q0.pl
             |      WHEN 0 THEN (37*m.d + 23*q3.tile) % 208 + 24
             |      WHEN 1 THEN (91*m.d + 13*q3.tile) % 240 + 8
             |      ELSE (53*m.d + 17*q3.tile) % 240 + 8 END AS f1v,
             |    CASE q0.pl
             |      WHEN 0 THEN (37*m.d + 23*q3.tile) % 208 + 24 + 4*q4.dl
             |      WHEN 1 THEN (91*m.d + 23*q3.mb) % 240 + 8
             |      ELSE (53*m.d + 27*q3.mb) % 240 + 8 END AS f2v) q5
             |  CROSS JOIN LATERAL (SELECT
             |    CASE qf.fi
             |      WHEN 0 THEN q5.f1v
             |      WHEN 1 THEN q5.f2v
             |      ELSE CASE q3.cls
             |        WHEN 0 THEN q5.f2v
             |        WHEN 1 THEN CASE q0.pl
             |          WHEN 0 THEN (37*m.d + 23*q4.stile) % 208 + 24
             |          WHEN 1 THEN (91*m.d + 13*q4.stile) % 240 + 8
             |          ELSE (53*m.d + 17*q4.stile) % 240 + 8 END
             |        WHEN 2 THEN (q5.f1v + q5.f2v + 1) // 2
             |        ELSE CASE q0.pl
             |          WHEN 0 THEN (43*m.d + 19*q3.mb) % 208 + 24
             |          WHEN 1 THEN (91*m.d + 29*q3.mb) % 240 + 8
             |          ELSE (53*m.d + 31*q3.mb) % 240 + 8 END END
             |    END AS val) vv
             |  GROUP BY m.d, m.w, m.h)
             |SELECT d AS doc_id, CAST(w AS BIGINT) AS width,
             |  CAST(h AS BIGINT) AS height, CAST(3 AS BIGINT) AS n_frames,
             |  CAST(chk AS BIGINT) AS pix_checksum
             |FROM px ORDER BY doc_id""".stripMargin)),

    // REAL H.264 CABAC P SLICES, graded exactly — the q_h264_inter
    // fixture re-encoded with entropy_coding_mode_flag = 1: per-MB
    // mb_skip_flag with neighbor-skip contexts replaces mb_skip_run, the
    // P mb_type bin tree (and the intra-in-P suffix through the I
    // machinery), UEG3-binarized mvd with the neighbor-absolute-mvd
    // context thresholds and bypass escape/sign, plus the shared
    // residual categories and per-MB end_of_slice terminates. The
    // entropy layer must be value-neutral: the oracle is identical to
    // q_h264_inter, and any engine or context drift desyncs the
    // arithmetic decoder.
    ("q_h264_pcabac",
      (s: SparkSession, d: String) =>
        Multimodal.decodeH264VideoStats(
            Multimodal.withH264PCabacMedia(t(s, d, "documents")))
          .toDF()
          .orderBy("doc_id"),
      Some("""WITH dims AS (
             |  SELECT doc_id AS d, 16*(2 + n_chars % 2) AS w, 32 AS h
             |  FROM documents),
             |dd AS (
             |  SELECT d, w, h, w//16 AS mbw, h//16 AS mbh,
             |    w*h*3//2 AS fb FROM dims),
             |px AS (
             |  SELECT m.d, m.w, m.h,
             |    sum(vv.val * (t.i % m.fb % 97 + 1) * (t.i // m.fb + 1)) AS chk
             |  FROM dd m
             |  JOIN range(0, 4608) t(i) ON t.i < 2 * m.fb
             |  CROSS JOIN LATERAL (SELECT t.i // m.fb AS fi, t.i % m.fb AS j) qf
             |  CROSS JOIN LATERAL (SELECT
             |    CASE WHEN qf.j < m.w*m.h THEN 0
             |         WHEN qf.j < m.w*m.h + (m.w//2)*(m.h//2) THEN 1
             |         ELSE 2 END AS pl) q0
             |  CROSS JOIN LATERAL (SELECT
             |    CASE q0.pl WHEN 0 THEN qf.j % m.w
             |      WHEN 1 THEN (qf.j - m.w*m.h) % (m.w//2)
             |      ELSE (qf.j - m.w*m.h - (m.w//2)*(m.h//2)) % (m.w//2) END AS x,
             |    CASE q0.pl WHEN 0 THEN qf.j // m.w
             |      WHEN 1 THEN (qf.j - m.w*m.h) // (m.w//2)
             |      ELSE (qf.j - m.w*m.h - (m.w//2)*(m.h//2)) // (m.w//2) END AS yy) q1
             |  CROSS JOIN LATERAL (SELECT
             |    CASE q0.pl WHEN 0 THEN q1.yy // 16 ELSE q1.yy // 8 END AS r,
             |    CASE q0.pl WHEN 0 THEN q1.x // 16 ELSE q1.x // 8 END AS c) q2
             |  CROSS JOIN LATERAL (SELECT q2.r * m.mbw + q2.c AS mb,
             |    (q2.c + m.d + q2.r) % 4 AS cls) q3
             |  CROSS JOIN LATERAL (SELECT
             |    CASE WHEN q2.r = m.mbh - 1 THEN
             |           CASE WHEN q2.c > 0 THEN -8 ELSE 0 END
             |         ELSE CASE (m.d + q3.mb) % 3
             |           WHEN 1 THEN CASE WHEN q2.c > 0 THEN -16 ELSE 0 END
             |           WHEN 2 THEN CASE WHEN q2.c < m.mbw - 1 THEN 16 ELSE 0 END
             |           ELSE 0 END END AS sx,
             |    CASE WHEN q2.r > 0 THEN -16 ELSE 16 END AS sy,
             |    (CASE WHEN (m.d + 3*q3.mb) % 2 = 0 THEN 1 ELSE -1 END)
             |      * (1 + (m.d + q3.mb) % 6) AS dl) q4
             |  CROSS JOIN LATERAL (SELECT
             |    CASE WHEN q0.pl = 0 THEN
             |      CASE WHEN qf.fi = 0 OR q3.cls = 1
             |             THEN (37*m.d + 19*q3.mb) % 208 + 24
             |           WHEN q3.cls = 0
             |             THEN (37*m.d + 19*q3.mb) % 208 + 24 + 4*q4.dl
             |           WHEN q3.cls = 2
             |             THEN (37*m.d + 19*(((q1.yy + q4.sy)//16)*m.mbw
             |                              + (q1.x + q4.sx)//16)) % 208 + 24
             |           ELSE (41*m.d + 17*q3.mb) % 208 + 24 END
             |    WHEN q0.pl = 1 THEN
             |      CASE WHEN qf.fi = 0 OR q3.cls = 1
             |             THEN (91*m.d + 29*(q2.r + q2.c)) % 240 + 8
             |           WHEN q3.cls = 2
             |             THEN (91*m.d + 29*((((q1.yy + q4.sy//2)//8))
             |                              + ((q1.x + q4.sx//2)//8))) % 240 + 8
             |           ELSE (91*m.d + 23*q3.mb) % 240 + 8 END
             |    ELSE
             |      CASE WHEN qf.fi = 0 OR q3.cls = 1
             |             THEN (53*m.d + 31*(q2.r + q2.c)) % 240 + 8
             |           WHEN q3.cls = 2
             |             THEN (53*m.d + 31*((((q1.yy + q4.sy//2)//8))
             |                              + ((q1.x + q4.sx//2)//8))) % 240 + 8
             |           ELSE (53*m.d + 27*q3.mb) % 240 + 8 END
             |    END AS val) vv
             |  GROUP BY m.d, m.w, m.h)
             |SELECT d AS doc_id, CAST(w AS BIGINT) AS width,
             |  CAST(h AS BIGINT) AS height, CAST(2 AS BIGINT) AS n_frames,
             |  CAST(chk AS BIGINT) AS pix_checksum
             |FROM px ORDER BY doc_id""".stripMargin)),

    // REAL H.264 QUARTER-PEL MOTION + UNRESTRICTED MVs, graded exactly —
    // the spec 8.4.2.2 interpolation: the (1,-5,20,20,-5,1) six-tap
    // half-pel filter incl. the center position j built from UNROUNDED
    // intermediates (+512 >> 10), the twelve quarter-position averages,
    // and the eighth-pel bilinear chroma kernel. Frame 1 is uniform
    // 2x2-MB tiles; frame 2 points quarter-pel vectors INTO tile
    // interiors (all 16 fractional positions rotate by doc/MB) — over a
    // uniform support every interpolation position must collapse to
    // exactly that constant, so any normalization/rounding/offset drift
    // moves the checksum — plus far OUT-OF-FRAME vectors whose clamped
    // edge-extended reads land in a DIFFERENT tile (grading the
    // unrestricted-MV extension), steered residuals on top of the
    // interpolated prediction, and intra-in-P MBs. Tap ORDER is pinned
    // in the spec suite against an independent gradient replay.
    ("q_h264_subpel",
      (s: SparkSession, d: String) =>
        Multimodal.decodeH264VideoStats(
            Multimodal.withH264SubpelMedia(t(s, d, "documents")))
          .toDF()
          .orderBy("doc_id"),
      Some("""WITH dims AS (
             |  SELECT doc_id AS d, 32*(1 + n_chars % 2) AS w, 64 AS h
             |  FROM documents),
             |dd AS (
             |  SELECT d, w, h, w//16 AS mbw, h//16 AS mbh, w//32 AS tcols,
             |    w*h*3//2 AS fb FROM dims),
             |px AS (
             |  SELECT m.d, m.w, m.h,
             |    sum(vv.val * (t.i % m.fb % 97 + 1) * (t.i // m.fb + 1)) AS chk
             |  FROM dd m
             |  JOIN range(0, 12288) t(i) ON t.i < 2 * m.fb
             |  CROSS JOIN LATERAL (SELECT t.i // m.fb AS fi, t.i % m.fb AS j) qf
             |  CROSS JOIN LATERAL (SELECT
             |    CASE WHEN qf.j < m.w*m.h THEN 0
             |         WHEN qf.j < m.w*m.h + (m.w//2)*(m.h//2) THEN 1
             |         ELSE 2 END AS pl) q0
             |  CROSS JOIN LATERAL (SELECT
             |    CASE q0.pl WHEN 0 THEN qf.j % m.w
             |      WHEN 1 THEN (qf.j - m.w*m.h) % (m.w//2)
             |      ELSE (qf.j - m.w*m.h - (m.w//2)*(m.h//2)) % (m.w//2) END AS x,
             |    CASE q0.pl WHEN 0 THEN qf.j // m.w
             |      WHEN 1 THEN (qf.j - m.w*m.h) // (m.w//2)
             |      ELSE (qf.j - m.w*m.h - (m.w//2)*(m.h//2)) // (m.w//2) END AS yy) q1
             |  CROSS JOIN LATERAL (SELECT
             |    CASE q0.pl WHEN 0 THEN q1.yy // 16 ELSE q1.yy // 8 END AS r,
             |    CASE q0.pl WHEN 0 THEN q1.x // 16 ELSE q1.x // 8 END AS c) q2
             |  CROSS JOIN LATERAL (SELECT q2.r * m.mbw + q2.c AS mb,
             |    (q2.r // 2) * m.tcols + q2.c // 2 AS tile) q3
             |  CROSS JOIN LATERAL (SELECT (m.d + q3.mb) % 3 AS cls,
             |    CASE WHEN (m.d + q3.mb) % 3 = 1 THEN
             |      CASE WHEN q2.c >= 2 THEN (q2.r // 2) * m.tcols ELSE q2.c // 2 END
             |    ELSE q3.tile END AS srct,
             |    (CASE WHEN (m.d + 3*q3.mb) % 2 = 0 THEN 1 ELSE -1 END)
             |      * (1 + (m.d + q3.mb) % 6) AS dl) q4
             |  CROSS JOIN LATERAL (SELECT
             |    CASE WHEN q0.pl = 0 THEN
             |      CASE WHEN qf.fi = 0 THEN (37*m.d + 23*q3.tile) % 208 + 24
             |           WHEN q4.cls = 0 THEN (37*m.d + 23*q3.tile) % 208 + 24 + 4*q4.dl
             |           WHEN q4.cls = 1 THEN (37*m.d + 23*q4.srct) % 208 + 24
             |           ELSE (41*m.d + 17*q3.mb) % 208 + 24 END
             |    WHEN q0.pl = 1 THEN
             |      CASE WHEN qf.fi = 0 THEN (91*m.d + 13*q3.tile) % 240 + 8
             |           WHEN q4.cls = 1 THEN (91*m.d + 13*q4.srct) % 240 + 8
             |           ELSE (91*m.d + 23*q3.mb) % 240 + 8 END
             |    ELSE
             |      CASE WHEN qf.fi = 0 THEN (53*m.d + 17*q3.tile) % 240 + 8
             |           WHEN q4.cls = 1 THEN (53*m.d + 17*q4.srct) % 240 + 8
             |           ELSE (53*m.d + 27*q3.mb) % 240 + 8 END
             |    END AS val) vv
             |  GROUP BY m.d, m.w, m.h)
             |SELECT d AS doc_id, CAST(w AS BIGINT) AS width,
             |  CAST(h AS BIGINT) AS height, CAST(2 AS BIGINT) AS n_frames,
             |  CAST(chk AS BIGINT) AS pix_checksum
             |FROM px ORDER BY doc_id""".stripMargin)),

    // REAL H.264 SUB-MB PARTITIONS (P_16x8 / P_8x16), graded exactly —
    // per-partition motion over a per-4x4-cell motion grid, each
    // partition's mvd coded against the spec's DIRECTIONAL preference
    // predictor (top partition prefers B, bottom A, left A, right C —
    // with in-MB partition neighbors: the bottom/right partition
    // predicts from the just-decoded top/left one). Frame 2 stripes by
    // (column + doc + row): 16x8 MBs read 16 px up / 16 px left per
    // partition, 8x16 MBs 16 px down / 16 px right (out-of-frame reads
    // clamp -> edge tiles land per-pixel in the oracle), zero-motion
    // residual MBs keep every P_Skip's zero trigger live. A partition
    // mix-up, a wrong preference rule, or a cell-grid drift moves the
    // frame-weighted checksum.
    ("q_h264_part",
      (s: SparkSession, d: String) =>
        Multimodal.decodeH264VideoStats(
            Multimodal.withH264PartMedia(t(s, d, "documents")))
          .toDF()
          .orderBy("doc_id"),
      Some("""WITH dims AS (
             |  SELECT doc_id AS d, 32*(1 + n_chars % 2) AS w, 64 AS h
             |  FROM documents),
             |dd AS (
             |  SELECT d, w, h, w//16 AS mbw, h//16 AS mbh, w//32 AS tcols,
             |    w*h*3//2 AS fb FROM dims),
             |px AS (
             |  SELECT m.d, m.w, m.h,
             |    sum(vv.val * (t.i % m.fb % 97 + 1) * (t.i // m.fb + 1)) AS chk
             |  FROM dd m
             |  JOIN range(0, 12288) t(i) ON t.i < 2 * m.fb
             |  CROSS JOIN LATERAL (SELECT t.i // m.fb AS fi, t.i % m.fb AS j) qf
             |  CROSS JOIN LATERAL (SELECT
             |    CASE WHEN qf.j < m.w*m.h THEN 0
             |         WHEN qf.j < m.w*m.h + (m.w//2)*(m.h//2) THEN 1
             |         ELSE 2 END AS pl) q0
             |  CROSS JOIN LATERAL (SELECT
             |    CASE q0.pl WHEN 0 THEN qf.j % m.w
             |      WHEN 1 THEN (qf.j - m.w*m.h) % (m.w//2)
             |      ELSE (qf.j - m.w*m.h - (m.w//2)*(m.h//2)) % (m.w//2) END AS x,
             |    CASE q0.pl WHEN 0 THEN qf.j // m.w
             |      WHEN 1 THEN (qf.j - m.w*m.h) // (m.w//2)
             |      ELSE (qf.j - m.w*m.h - (m.w//2)*(m.h//2)) // (m.w//2) END AS yy) q1
             |  CROSS JOIN LATERAL (SELECT
             |    CASE q0.pl WHEN 0 THEN q1.yy // 16 ELSE q1.yy // 8 END AS r,
             |    CASE q0.pl WHEN 0 THEN q1.x // 16 ELSE q1.x // 8 END AS c,
             |    CASE q0.pl WHEN 0 THEN q1.x % 16 ELSE q1.x % 8 END AS xx,
             |    CASE q0.pl WHEN 0 THEN q1.yy % 16 ELSE q1.yy % 8 END AS zz) q2
             |  CROSS JOIN LATERAL (SELECT q2.r * m.mbw + q2.c AS mb,
             |    (q2.c + m.d + q2.r) % 4 AS cls,
             |    CASE q0.pl WHEN 0 THEN 8 ELSE 4 END AS hp) q3
             |  CROSS JOIN LATERAL (SELECT
             |    CASE WHEN q3.cls = 2 THEN
             |      CASE WHEN q2.zz < q3.hp THEN 0 ELSE -(2*q3.hp) END
             |    WHEN q3.cls = 3 THEN
             |      CASE WHEN q2.xx < q3.hp THEN 0 ELSE 2*q3.hp END
             |    ELSE 0 END AS sx,
             |    CASE WHEN q3.cls = 2 THEN
             |      CASE WHEN q2.zz < q3.hp THEN -(2*q3.hp) ELSE 0 END
             |    WHEN q3.cls = 3 THEN
             |      CASE WHEN q2.xx < q3.hp THEN 2*q3.hp ELSE 0 END
             |    ELSE 0 END AS sy,
             |    (CASE WHEN (m.d + 3*q3.mb) % 2 = 0 THEN 1 ELSE -1 END)
             |      * (1 + (m.d + q3.mb) % 6) AS dl) q4
             |  CROSS JOIN LATERAL (SELECT
             |    GREATEST(0, LEAST(CASE q0.pl WHEN 0 THEN m.w ELSE m.w//2 END - 1,
             |      q1.x + q4.sx)) AS sxc,
             |    GREATEST(0, LEAST(CASE q0.pl WHEN 0 THEN m.h ELSE m.h//2 END - 1,
             |      q1.yy + q4.sy)) AS syc) q5
             |  CROSS JOIN LATERAL (SELECT
             |    CASE q0.pl WHEN 0 THEN (q5.syc // 32) * m.tcols + q5.sxc // 32
             |      ELSE (q5.syc // 16) * m.tcols + q5.sxc // 16 END AS stile) q6
             |  CROSS JOIN LATERAL (SELECT
             |    CASE WHEN q0.pl = 0 THEN
             |      CASE WHEN qf.fi = 0 OR q3.cls = 1
             |             THEN (37*m.d + 23*((q2.r//2)*m.tcols + q2.c//2)) % 208 + 24
             |           WHEN q3.cls = 0
             |             THEN (37*m.d + 23*((q2.r//2)*m.tcols + q2.c//2)) % 208 + 24
             |                  + 4*q4.dl
             |           ELSE (37*m.d + 23*q6.stile) % 208 + 24 END
             |    WHEN q0.pl = 1 THEN
             |      CASE WHEN qf.fi = 0 OR q3.cls = 1
             |             THEN (91*m.d + 13*((q2.r//2)*m.tcols + q2.c//2)) % 240 + 8
             |           WHEN q3.cls = 0 THEN (91*m.d + 23*q3.mb) % 240 + 8
             |           ELSE (91*m.d + 13*q6.stile) % 240 + 8 END
             |    ELSE
             |      CASE WHEN qf.fi = 0 OR q3.cls = 1
             |             THEN (53*m.d + 17*((q2.r//2)*m.tcols + q2.c//2)) % 240 + 8
             |           WHEN q3.cls = 0 THEN (53*m.d + 27*q3.mb) % 240 + 8
             |           ELSE (53*m.d + 17*q6.stile) % 240 + 8 END
             |    END AS val) vv
             |  GROUP BY m.d, m.w, m.h)
             |SELECT d AS doc_id, CAST(w AS BIGINT) AS width,
             |  CAST(h AS BIGINT) AS height, CAST(2 AS BIGINT) AS n_frames,
             |  CAST(chk AS BIGINT) AS pix_checksum
             |FROM px ORDER BY doc_id""".stripMargin)),

    // REAL H.264 CABAC, graded byte-exact — the q_h264_intra fixture
    // re-encoded with entropy_coding_mode_flag = 1: the SAME closed-form
    // pixel targets through a completely different entropy layer. The
    // arithmetic engine (range subdivision, renormalization with the
    // outstanding-bit carry scheme, bypass, terminate, the encoder
    // flush), per-element context modeling (neighbor-dependent mb_type /
    // chroma-mode / cbp increments, the coded_block_flag grids), the
    // significance + last maps, UEG0 level coding with the c1/c2 context
    // scheme, per-MB end_of_slice terminates, and the I_PCM engine
    // flush / byte-align / re-init must ALL be exact — any drift
    // desyncs the arithmetic decoder and the checksum collapses. The
    // oracle is the identical closed form as q_h264_intra (the entropy
    // layer must be value-neutral).
    ("q_h264_cabac",
      (s: SparkSession, d: String) =>
        Multimodal.decodePixelStats(
            Multimodal.withH264CabacMedia(t(s, d, "documents")))
          .toDF()
          .drop("media_bytes")
          .orderBy("doc_id"),
      Some("""WITH dims AS (
             |  SELECT doc_id AS d,
             |    16*(1 + n_chars % 3) AS w, 16*(1 + n_chars % 2) AS h
             |  FROM documents),
             |dd AS (
             |  SELECT d, w, h, w//16 AS mbw, h//16 AS mbh,
             |    (w//16)*(h//16) AS nmb FROM dims),
             |mbs0 AS (
             |  SELECT dd.d, g.i AS mb, (37*dd.d + 19*g.i) % 208 + 24 AS vu
             |  FROM dd JOIN range(0, 6) g(i) ON g.i < dd.nmb),
             |mbs1 AS (
             |  SELECT dd.d, g.i AS mb,
             |    CASE ((dd.d + g.i) % 5)
             |      WHEN 1 THEN CASE
             |        WHEN g.i = 0 THEN 128
             |        WHEN g.i < dd.mbw THEN lv.vu
             |        WHEN g.i % dd.mbw = 0 THEN av.vu
             |        WHEN (dd.d + g.i) % 3 = 0 THEN av.vu
             |        WHEN (dd.d + g.i) % 3 = 1 THEN lv.vu
             |        ELSE (av.vu + lv.vu + 1) // 2 END
             |      WHEN 4 THEN CASE
             |        WHEN g.i = 0 THEN 128
             |        WHEN g.i < dd.mbw THEN lv.vu
             |        WHEN g.i % dd.mbw = 0 THEN av.vu
             |        WHEN (dd.d + g.i) % 2 = 0 THEN av.vu
             |        ELSE lv.vu END
             |      ELSE rv.vu END AS vu
             |  FROM dd JOIN range(0, 6) g(i) ON g.i < dd.nmb
             |  LEFT JOIN mbs0 rv ON rv.d = dd.d AND rv.mb = g.i
             |  LEFT JOIN mbs0 lv ON lv.d = dd.d AND lv.mb = g.i - 1
             |  LEFT JOIN mbs0 av ON av.d = dd.d AND av.mb = g.i - dd.mbw),
             |mbs AS (
             |  SELECT dd.d, g.i AS mb,
             |    CASE ((dd.d + g.i) % 5)
             |      WHEN 1 THEN CASE
             |        WHEN g.i = 0 THEN 128
             |        WHEN g.i < dd.mbw THEN lv.vu
             |        WHEN g.i % dd.mbw = 0 THEN av.vu
             |        WHEN (dd.d + g.i) % 3 = 0 THEN av.vu
             |        WHEN (dd.d + g.i) % 3 = 1 THEN lv.vu
             |        ELSE (av.vu + lv.vu + 1) // 2 END
             |      WHEN 4 THEN CASE
             |        WHEN g.i = 0 THEN 128
             |        WHEN g.i < dd.mbw THEN lv.vu
             |        WHEN g.i % dd.mbw = 0 THEN av.vu
             |        WHEN (dd.d + g.i) % 2 = 0 THEN av.vu
             |        ELSE lv.vu END
             |      ELSE rv.vu END AS vu
             |  FROM dd JOIN range(0, 6) g(i) ON g.i < dd.nmb
             |  LEFT JOIN mbs0 rv ON rv.d = dd.d AND rv.mb = g.i
             |  LEFT JOIN mbs1 lv ON lv.d = dd.d AND lv.mb = g.i - 1
             |  LEFT JOIN mbs1 av ON av.d = dd.d AND av.mb = g.i - dd.mbw),
             |pp AS (
             |  SELECT dd.d, ma.vu AS pa, ml.vu AS pl_, mal.vu AS pal
             |  FROM dd
             |  JOIN mbs ma ON ma.d = dd.d AND ma.mb = dd.nmb - 1 - dd.mbw
             |  JOIN mbs ml ON ml.d = dd.d AND ml.mb = dd.nmb - 2
             |  JOIN mbs mal ON mal.d = dd.d AND mal.mb = dd.nmb - dd.mbw - 2
             |  WHERE dd.mbw >= 2 AND dd.mbh >= 2),
             |px AS (
             |  SELECT m.d, m.w, m.h,
             |    sum(vv.val) AS pix_sum,
             |    sum(vv.val * (t.i % 97 + 1)) AS pix_checksum
             |  FROM dd m
             |  JOIN range(0, 2304) t(i) ON t.i < m.w*m.h*3//2
             |  CROSS JOIN LATERAL (SELECT
             |    CASE WHEN t.i < m.w*m.h THEN 0
             |         WHEN t.i < m.w*m.h + (m.w//2)*(m.h//2) THEN 1
             |         ELSE 2 END AS pl) q0
             |  CROSS JOIN LATERAL (SELECT
             |    CASE q0.pl WHEN 0 THEN t.i % m.w
             |      WHEN 1 THEN (t.i - m.w*m.h) % (m.w//2)
             |      ELSE (t.i - m.w*m.h - (m.w//2)*(m.h//2)) % (m.w//2) END AS x,
             |    CASE q0.pl WHEN 0 THEN t.i // m.w
             |      WHEN 1 THEN (t.i - m.w*m.h) // (m.w//2)
             |      ELSE (t.i - m.w*m.h - (m.w//2)*(m.h//2)) // (m.w//2) END AS yy) q1
             |  CROSS JOIN LATERAL (SELECT
             |    CASE q0.pl WHEN 0 THEN q1.yy // 16 ELSE q1.yy // 8 END AS r,
             |    CASE q0.pl WHEN 0 THEN q1.x // 16 ELSE q1.x // 8 END AS c,
             |    CASE q0.pl WHEN 0 THEN q1.x % 16 ELSE q1.x % 8 END AS xx,
             |    CASE q0.pl WHEN 0 THEN q1.yy % 16 ELSE q1.yy % 8 END AS zz) q2
             |  CROSS JOIN LATERAL (SELECT q2.r * m.mbw + q2.c AS mb,
             |    (m.mbw >= 2 AND m.mbh >= 2
             |      AND q2.r * m.mbw + q2.c = m.nmb - 1) AS ispl,
             |    CASE WHEN (m.d + q2.r * m.mbw + q2.c) % 2 = 0
             |      THEN 1 ELSE -1 END AS s) q3
             |  LEFT JOIN mbs mm ON mm.d = m.d AND mm.mb = q3.mb
             |  LEFT JOIN pp ON pp.d = m.d
             |  CROSS JOIN LATERAL (SELECT
             |    CASE WHEN q0.pl = 0 THEN
             |      CASE WHEN q3.ispl THEN
             |        GREATEST(0, LEAST(255,
             |          (16*(pp.pl_ + pp.pa)
             |           + CAST(floor((40*(pp.pa - pp.pal) + 32) / 64e0) AS BIGINT)*(q2.xx - 7)
             |           + CAST(floor((40*(pp.pl_ - pp.pal) + 32) / 64e0) AS BIGINT)*(q2.zz - 7) + 16) // 32))
             |      WHEN (m.d + q3.mb) % 5 = 2 AND q2.xx < 4 AND q2.zz < 4 THEN
             |        (37*m.d + 19*q3.mb) % 208 + 24 + q3.s *
             |          (CASE q2.xx WHEN 0 THEN 14 WHEN 1 THEN 1
             |            WHEN 2 THEN -9 ELSE -6 END)
             |      WHEN (m.d + q3.mb) % 5 = 4 AND q2.r = m.mbh - 1 AND q2.r > 0
             |           AND (q2.c = 0 OR (m.d + q3.mb) % 2 = 0)
             |           AND q2.xx < 4 AND q2.zz >= 12 THEN
             |        mm.vu + 4 * (CASE WHEN (m.d + 3*q3.mb) % 2 = 0 THEN 1 ELSE -1 END)
             |               * (1 + (m.d + q3.mb) % 3)
             |      ELSE mm.vu END
             |    WHEN q0.pl = 1 THEN
             |      CASE WHEN q3.ispl THEN
             |        GREATEST(0, LEAST(255,
             |          (32*((91*m.d + 29*(q2.r + q2.c - 1)) % 240 + 8)
             |           + CAST(floor((68*(((91*m.d + 29*(q2.r + q2.c - 1)) % 240 + 8)
             |                 - ((91*m.d + 29*(q2.r + q2.c - 2)) % 240 + 8)) + 16) / 32e0) AS BIGINT)
             |             * (q2.xx - 3 + q2.zz - 3) + 16) // 32))
             |      WHEN (m.d + q3.mb) % 5 = 2 AND q2.xx < 4 AND q2.zz < 4 THEN
             |        (91*m.d + 29*(q2.r + q2.c)) % 240 + 8 + 2 * q3.s *
             |          (CASE q2.xx WHEN 0 THEN 1 WHEN 1 THEN -1
             |            WHEN 2 THEN -1 ELSE 1 END)
             |      ELSE (91*m.d + 29*(q2.r + q2.c)) % 240 + 8 END
             |    ELSE
             |      CASE WHEN q3.ispl THEN
             |        GREATEST(0, LEAST(255,
             |          (32*((53*m.d + 31*(q2.r + q2.c - 1)) % 240 + 8)
             |           + CAST(floor((68*(((53*m.d + 31*(q2.r + q2.c - 1)) % 240 + 8)
             |                 - ((53*m.d + 31*(q2.r + q2.c - 2)) % 240 + 8)) + 16) / 32e0) AS BIGINT)
             |             * (q2.xx - 3 + q2.zz - 3) + 16) // 32))
             |      ELSE (53*m.d + 31*(q2.r + q2.c)) % 240 + 8 END
             |    END AS val) vv
             |  GROUP BY m.d, m.w, m.h)
             |SELECT d AS doc_id, 'h264' AS format,
             |  CAST(w AS BIGINT) AS width, CAST(h AS BIGINT) AS height,
             |  CAST(3 AS BIGINT) AS channels,
             |  CAST(w*h*3//2 AS BIGINT) AS n_pixel_bytes,
             |  CAST(pix_sum AS BIGINT) AS pix_sum,
             |  CAST(pix_checksum AS BIGINT) AS pix_checksum
             |FROM px ORDER BY doc_id""".stripMargin)),

    // REAL H.264 IN-LOOP DEBLOCKING (§8.7), graded byte-exact — docs
    // rotate over {intra, inter} × {vertical, horizontal} MB-stripe
    // variants with disable_deblocking_filter_idc = 0. Every boundary
    // strength lands a graded consequence: bS=4 strong (Δ5 < (α>>2)+2,
    // six samples move) and weak (Δ12) and the α=20 cutoff (Δ40 frozen),
    // the I_PCM QP-0 exemption (boundary AND internal 4x4 stripes must
    // survive exactly), bS=2 coded-residual edges with the p1/q1
    // refinements, the hand-derived second-order CASCADE (an internal
    // bS=2 edge reading a boundary-filtered sample as its p2), bS=1 on a
    // 64-quarter-pel mv difference with the tC clip binding, and bS=0
    // skip-over-discontinuity edges that MUST stay sharp. Chroma runs
    // its own α/β/3-tap path on deliberately different boundaries than
    // luma. The filtered offsets are doc-independent by construction, so
    // the oracle replays every sample closed-form; frame 1 of the inter
    // variant grades the idc=1 path (raw reference) at the same time.
    ("q_h264_deblock",
      (s: SparkSession, d: String) =>
        Multimodal.decodeH264VideoStats(
            Multimodal.withH264DeblockMedia(t(s, d, "documents")))
          .toDF()
          .orderBy("doc_id"),
      Some("""WITH dims AS (
             |  SELECT doc_id AS d,
             |    doc_id % 2 = 0 AS colv,
             |    doc_id % 4 < 2 AS intra,
             |    40 + (31*doc_id) % 120 AS b0,
             |    30 + (17*doc_id) % 150 AS c0,
             |    30 + (23*doc_id) % 150 AS d0,
             |    40 + (29*doc_id) % 120 AS cc,
             |    30 + (13*doc_id) % 150 AS e0,
             |    30 + (19*doc_id) % 150 AS f0
             |  FROM documents),
             |px AS (
             |  SELECT m.d,
             |    sum(vv.val * (qf.j % 97 + 1) * (qf.fi + 1)) AS chk
             |  FROM dims m
             |  JOIN range(0, 3840) t(i)
             |    ON t.i < (CASE WHEN m.intra THEN 1 ELSE 2 END) * 1920
             |  CROSS JOIN LATERAL (SELECT t.i // 1920 AS fi, t.i % 1920 AS j) qf
             |  CROSS JOIN LATERAL (SELECT
             |    CASE WHEN qf.j < 1280 THEN 0
             |         WHEN qf.j < 1600 THEN 1 ELSE 2 END AS pl) q0
             |  CROSS JOIN LATERAL (SELECT
             |    CASE q0.pl WHEN 0 THEN qf.j WHEN 1 THEN qf.j - 1280
             |      ELSE qf.j - 1600 END AS jj,
             |    CASE WHEN q0.pl = 0 THEN CASE WHEN m.colv THEN 80 ELSE 16 END
             |         ELSE CASE WHEN m.colv THEN 40 ELSE 8 END END AS wpl) q2
             |  CROSS JOIN LATERAL (SELECT
             |    CASE WHEN m.colv THEN q2.jj % q2.wpl
             |         ELSE q2.jj // q2.wpl END AS s) q3
             |  CROSS JOIN LATERAL (SELECT
             |    CASE WHEN q0.pl = 0 THEN q3.s // 16 ELSE q3.s // 8 END AS mi) q4
             |  CROSS JOIN LATERAL (SELECT
             |    CASE WHEN m.intra THEN
             |      CASE q0.pl
             |      WHEN 0 THEN CASE q3.s
             |        WHEN 13 THEN m.b0+1 WHEN 14 THEN m.b0+1 WHEN 15 THEN m.b0+2
             |        WHEN 16 THEN m.b0+3 WHEN 17 THEN m.b0+4 WHEN 18 THEN m.b0+4
             |        WHEN 31 THEN m.b0+8 WHEN 32 THEN m.b0+14
             |        ELSE CASE q4.mi WHEN 0 THEN m.b0 WHEN 1 THEN m.b0+5
             |          WHEN 2 THEN m.b0+17 WHEN 3 THEN m.b0+57
             |          ELSE m.b0+60 + 6*((q3.s % 16 // 4) % 2) END END
             |      WHEN 1 THEN CASE q3.s
             |        WHEN 7 THEN m.c0+1 WHEN 8 THEN m.c0+2
             |        WHEN 23 THEN m.c0+16 WHEN 24 THEN m.c0+19
             |        ELSE m.c0 + (CASE q4.mi WHEN 0 THEN 0 WHEN 1 THEN 3
             |          WHEN 2 THEN 15 WHEN 3 THEN 20 ELSE 22 END) END
             |      ELSE CASE q3.s
             |        WHEN 7 THEN m.d0+6 WHEN 8 THEN m.d0+2
             |        WHEN 15 THEN m.d0+2 WHEN 16 THEN m.d0+5
             |        ELSE m.d0 + (CASE q4.mi WHEN 0 THEN 8 WHEN 1 THEN 0
             |          WHEN 2 THEN 7 WHEN 3 THEN 30 ELSE 31 END) END
             |      END
             |    ELSE CASE WHEN qf.fi = 0 THEN
             |      CASE q0.pl
             |      WHEN 0 THEN m.cc + (CASE q4.mi WHEN 0 THEN 0 WHEN 1 THEN 5
             |        WHEN 2 THEN 7 WHEN 3 THEN 90 ELSE 13 END)
             |      WHEN 1 THEN m.e0 + (CASE q4.mi WHEN 0 THEN 0 WHEN 1 THEN 4
             |        WHEN 2 THEN 6 WHEN 3 THEN 40 ELSE 10 END)
             |      ELSE m.f0 + (CASE q4.mi WHEN 0 THEN 9 WHEN 1 THEN 0
             |        WHEN 2 THEN 5 WHEN 3 THEN 40 ELSE 12 END)
             |      END
             |    ELSE
             |      CASE q0.pl
             |      WHEN 0 THEN m.cc + (CASE q3.s
             |        WHEN 30 THEN 7 WHEN 31 THEN 9 WHEN 32 THEN 11
             |        WHEN 33 THEN 12 WHEN 34 THEN 13
             |        WHEN 46 THEN 13 WHEN 47 THEN 12 WHEN 48 THEN 10 WHEN 49 THEN 9
             |        WHEN 62 THEN 8 WHEN 63 THEN 9 WHEN 64 THEN 11 WHEN 65 THEN 12
             |        ELSE CASE q4.mi WHEN 0 THEN 0 WHEN 1 THEN 5
             |          WHEN 2 THEN 15 WHEN 3 THEN 7 ELSE 13 END END)
             |      WHEN 1 THEN m.e0 + (CASE q3.s
             |        WHEN 15 THEN 6 WHEN 16 THEN 6 WHEN 23 THEN 7 WHEN 24 THEN 7
             |        WHEN 31 THEN 8 WHEN 32 THEN 8
             |        ELSE CASE q4.mi WHEN 0 THEN 0 WHEN 1 THEN 4
             |          WHEN 2 THEN 8 WHEN 3 THEN 6 ELSE 10 END END)
             |      ELSE m.f0 + (CASE q3.s
             |        WHEN 15 THEN 1 WHEN 16 THEN 2 WHEN 23 THEN 4 WHEN 24 THEN 4
             |        WHEN 31 THEN 7 WHEN 32 THEN 10
             |        ELSE CASE q4.mi WHEN 0 THEN 9 WHEN 1 THEN 0
             |          WHEN 2 THEN 3 WHEN 3 THEN 5 ELSE 12 END END)
             |      END
             |    END END AS val) vv
             |  GROUP BY m.d)
             |SELECT dims.d AS doc_id,
             |  CAST(CASE WHEN dims.colv THEN 80 ELSE 16 END AS BIGINT) AS width,
             |  CAST(CASE WHEN dims.colv THEN 16 ELSE 80 END AS BIGINT) AS height,
             |  CAST(CASE WHEN dims.intra THEN 1 ELSE 2 END AS BIGINT) AS n_frames,
             |  CAST(px.chk AS BIGINT) AS pix_checksum
             |FROM px JOIN dims ON px.d = dims.d ORDER BY doc_id""".stripMargin)),

    // REAL H.264 SUB-8x8 PARTITIONS (P_L0_8x4 / 4x8 / 4x4), graded
    // byte-exact — the finest motion partitioning real P slices use:
    // four sub_mb_types per P_8x8 MB rotating through all four shapes,
    // every sub-partition's mvd in decode order against the
    // written-cell predictor grid, per-sub-rect MC (luma 8x4/4x8/4x4
    // with the matching chroma rects). Each sub-partition independently
    // picks its own MB's region or the one-MB back-shift, so a
    // sub-shape mix-up or order drift moves specific pixels; every
    // fourth doc rides CABAC's pinned sub_mb_type bin tree.
    ("q_h264_p4x4",
      (s: SparkSession, d: String) =>
        Multimodal.decodeH264VideoStats(
            Multimodal.withH264P4x4Media(t(s, d, "documents")))
          .toDF()
          .orderBy("doc_id"),
      Some("""WITH dims AS (
             |  SELECT doc_id AS d, doc_id % 2 = 0 AS colv FROM documents),
             |px AS (
             |  SELECT m.d,
             |    sum(vv.val * (qf.j % 97 + 1) * (qf.fi + 1)) AS chk
             |  FROM dims m
             |  JOIN range(0, 3840) t(i) ON true
             |  CROSS JOIN LATERAL (SELECT t.i // 1920 AS fi, t.i % 1920 AS j) qf
             |  CROSS JOIN LATERAL (SELECT
             |    CASE WHEN qf.j < 1280 THEN 0
             |         WHEN qf.j < 1600 THEN 1 ELSE 2 END AS pl) q0
             |  CROSS JOIN LATERAL (SELECT
             |    CASE q0.pl WHEN 0 THEN qf.j WHEN 1 THEN qf.j - 1280
             |      ELSE qf.j - 1600 END AS jj,
             |    CASE WHEN q0.pl = 0 THEN CASE WHEN m.colv THEN 80 ELSE 16 END
             |         ELSE CASE WHEN m.colv THEN 40 ELSE 8 END END AS wpl) q2
             |  CROSS JOIN LATERAL (SELECT
             |    q2.jj % q2.wpl AS x, q2.jj // q2.wpl AS y) q3
             |  CROSS JOIN LATERAL (SELECT
             |    CASE WHEN q0.pl = 0
             |      THEN (CASE WHEN m.colv THEN q3.x ELSE q3.y END) // 16
             |      ELSE (CASE WHEN m.colv THEN q3.x ELSE q3.y END) // 8
             |    END AS mi) q4
             |  CROSS JOIN LATERAL (SELECT
             |    CASE WHEN q0.pl = 0
             |      THEN ((q3.y % 16) // 8) * 2 + (q3.x % 16) // 8
             |      ELSE ((q3.y % 8) // 4) * 2 + (q3.x % 8) // 4
             |    END AS k) q5
             |  CROSS JOIN LATERAL (SELECT (m.d + q4.mi + q5.k) % 4 AS st) q6
             |  CROSS JOIN LATERAL (SELECT
             |    CASE WHEN q0.pl = 0 THEN
             |      CASE q6.st WHEN 0 THEN 0
             |        WHEN 1 THEN (q3.y % 8) // 4
             |        WHEN 2 THEN (q3.x % 8) // 4
             |        ELSE ((q3.y % 8) // 4) * 2 + (q3.x % 8) // 4 END
             |    ELSE
             |      CASE q6.st WHEN 0 THEN 0
             |        WHEN 1 THEN (q3.y % 4) // 2
             |        WHEN 2 THEN (q3.x % 4) // 2
             |        ELSE ((q3.y % 4) // 2) * 2 + (q3.x % 4) // 2 END
             |    END AS sj) q7
             |  CROSS JOIN LATERAL (SELECT
             |    CASE WHEN qf.fi = 0 OR q4.mi = 0 THEN q4.mi
             |      WHEN (m.d + q4.mi + q5.k + q7.sj) % 2 = 0 THEN q4.mi
             |      ELSE q4.mi - 1 END AS src) q8
             |  CROSS JOIN LATERAL (SELECT
             |    CASE q0.pl
             |      WHEN 0 THEN (37*m.d + 19*q8.src) % 160 + 24
             |      WHEN 1 THEN (91*m.d + 29*q8.src) % 160 + 24
             |      ELSE (53*m.d + 31*q8.src) % 160 + 24
             |    END AS val) vv
             |  GROUP BY m.d)
             |SELECT dims.d AS doc_id,
             |  CAST(CASE WHEN dims.colv THEN 80 ELSE 16 END AS BIGINT) AS width,
             |  CAST(CASE WHEN dims.colv THEN 16 ELSE 80 END AS BIGINT) AS height,
             |  CAST(2 AS BIGINT) AS n_frames,
             |  CAST(px.chk AS BIGINT) AS pix_checksum
             |FROM px JOIN dims ON px.d = dims.d ORDER BY doc_id""".stripMargin)),

    // REAL H.264 B_SKIP + B_DIRECT_16x16 (SPATIAL direct), graded
    // byte-exact — the B macroblocks real streams consist mostly of:
    // per-list MinPositive reference derivation over the A/B/C
    // neighbors, mv INHERITANCE through the ref-matching median
    // predictor (a skip beside an L0 MB with a one-MB vector must
    // reproduce both the reference AND the vector), the
    // zero-prediction clause (no neighbors / intra neighbors ->
    // bi-predict refs 0/0 at zero mv), chained derivations (skip after
    // direct), and the direct_spatial_mv_pred_flag; every fourth doc
    // rides CABAC (skip-flag contexts + the direct mb_type bins).
    ("q_h264_bdirect",
      (s: SparkSession, d: String) =>
        Multimodal.decodeH264VideoStats(
            Multimodal.withH264BDirectMedia(t(s, d, "documents")))
          .toDF()
          .orderBy("doc_id"),
      Some("""WITH dims AS (
             |  SELECT doc_id AS d, doc_id % 2 = 0 AS colv,
             |    (doc_id // 2) % 2 = 1 AS l1
             |  FROM documents),
             |px AS (
             |  SELECT m.d,
             |    sum(vv.val * (qf.j % 97 + 1) * (qf.fi + 1)) AS chk
             |  FROM dims m
             |  JOIN range(0, 5760) t(i) ON true
             |  CROSS JOIN LATERAL (SELECT t.i // 1920 AS fi, t.i % 1920 AS j) qf
             |  CROSS JOIN LATERAL (SELECT
             |    CASE WHEN qf.j < 1280 THEN 0
             |         WHEN qf.j < 1600 THEN 1 ELSE 2 END AS pl) q0
             |  CROSS JOIN LATERAL (SELECT
             |    CASE q0.pl WHEN 0 THEN qf.j WHEN 1 THEN qf.j - 1280
             |      ELSE qf.j - 1600 END AS jj,
             |    CASE WHEN q0.pl = 0 THEN CASE WHEN m.colv THEN 80 ELSE 16 END
             |         ELSE CASE WHEN m.colv THEN 40 ELSE 8 END END AS wpl) q2
             |  CROSS JOIN LATERAL (SELECT
             |    CASE WHEN m.colv THEN q2.jj % q2.wpl
             |         ELSE q2.jj // q2.wpl END AS s) q3
             |  CROSS JOIN LATERAL (SELECT
             |    CASE WHEN q0.pl = 0 THEN q3.s // 16 ELSE q3.s // 8 END AS mi) q4
             |  CROSS JOIN LATERAL (SELECT
             |    CASE q0.pl WHEN 0 THEN 37 WHEN 1 THEN 91 ELSE 53 END AS ca1,
             |    CASE q0.pl WHEN 0 THEN 19 WHEN 1 THEN 29 ELSE 31 END AS ca2,
             |    CASE q0.pl WHEN 0 THEN 41 WHEN 1 THEN 67 ELSE 71 END AS cb1,
             |    CASE q0.pl WHEN 0 THEN 23 WHEN 1 THEN 17 ELSE 13 END AS cb2,
             |    CASE q0.pl WHEN 0 THEN 43 WHEN 1 THEN 23 ELSE 83 END AS ci1,
             |    CASE q0.pl WHEN 0 THEN 11 WHEN 1 THEN 7 ELSE 3 END AS ci2) cf
             |  CROSS JOIN LATERAL (SELECT
             |    CASE WHEN qf.fi = 0 THEN
             |      (cf.ca1*m.d + cf.ca2*q4.mi) % 160 + 24
             |    WHEN qf.fi = 1 THEN
             |      (cf.cb1*m.d + cf.cb2*q4.mi) % 160 + 24
             |    WHEN NOT m.l1 THEN CASE q4.mi
             |      WHEN 0 THEN (cf.cb1*m.d + cf.cb2) % 160 + 24
             |      WHEN 1 THEN (cf.cb1*m.d + 2*cf.cb2) % 160 + 24
             |      WHEN 2 THEN (cf.ca1*m.d + 2*cf.ca2) % 160 + 24
             |      WHEN 3 THEN (cf.ca1*m.d + 3*cf.ca2) % 160 + 24
             |      ELSE (cf.ca1*m.d + 4*cf.ca2) % 160 + 24 END
             |    ELSE CASE q4.mi
             |      WHEN 0 THEN ((cf.cb1*m.d) % 160 + 24
             |        + (cf.ca1*m.d) % 160 + 24 + 1) // 2
             |      WHEN 1 THEN (cf.ci1*m.d + cf.ci2) % 160 + 24
             |      WHEN 2 THEN ((cf.cb1*m.d + 2*cf.cb2) % 160 + 24
             |        + (cf.ca1*m.d + 2*cf.ca2) % 160 + 24 + 1) // 2
             |      WHEN 3 THEN (cf.cb1*m.d + 3*cf.cb2) % 160 + 24
             |      ELSE (cf.cb1*m.d + 4*cf.cb2) % 160 + 24 END
             |    END AS val) vv
             |  GROUP BY m.d)
             |SELECT dims.d AS doc_id,
             |  CAST(CASE WHEN dims.colv THEN 80 ELSE 16 END AS BIGINT) AS width,
             |  CAST(CASE WHEN dims.colv THEN 16 ELSE 80 END AS BIGINT) AS height,
             |  CAST(3 AS BIGINT) AS n_frames,
             |  CAST(px.chk AS BIGINT) AS pix_checksum
             |FROM px JOIN dims ON px.d = dims.d ORDER BY doc_id""".stripMargin)),

    // REAL H.264 TEMPORAL DIRECT B prediction (8.4.1.2.3), graded
    // byte-exact — a display-REORDERED B (poc 1 between the IDR at 0
    // and the reference P at 2) flips the POC-default reference lists,
    // samples the colocated P-frame motion PER 4x4 CELL, and scales it
    // through DistScaleFactor: with tb/td = 1/2 that is
    // mvL0 = (128*mvCol + 128) >> 8 (flooring the exact .5 in BOTH sign
    // directions: +128 -> +64, -128 -> -64) and mvL1 = mvL0 - mvCol.
    // Colocated variety per MB: an intra MB (the mvCol = 0 fallback), a
    // P_8x8 whose four quadrants move differently (per-cell sampling), a
    // -2 MB and an edge-clamped +2 MB vector, and zero mv; an explicit
    // B_L0 at zero mv pins the flipped list construction (it must read
    // the IDR — un-flipped lists read the P frame there). Every fourth
    // doc rides CABAC with direct_spatial_mv_pred_flag = 0.
    ("q_h264_tdirect",
      (s: SparkSession, d: String) =>
        Multimodal.decodeH264VideoStats(
            Multimodal.withH264TDirectMedia(t(s, d, "documents")))
          .toDF()
          .orderBy("doc_id"),
      Some("""WITH dims AS (
             |  SELECT doc_id AS d, doc_id % 2 = 0 AS colv FROM documents),
             |px AS (
             |  SELECT m.d,
             |    sum(vv.val * (qf.j % 97 + 1) * (qf.fi + 1)) AS chk
             |  FROM dims m
             |  JOIN range(0, 5760) t(i) ON true
             |  CROSS JOIN LATERAL (SELECT t.i // 1920 AS fi, t.i % 1920 AS j) qf
             |  CROSS JOIN LATERAL (SELECT
             |    CASE WHEN qf.j < 1280 THEN 0
             |         WHEN qf.j < 1600 THEN 1 ELSE 2 END AS pl) q0
             |  CROSS JOIN LATERAL (SELECT
             |    CASE q0.pl WHEN 0 THEN qf.j WHEN 1 THEN qf.j - 1280
             |      ELSE qf.j - 1600 END AS jj,
             |    CASE WHEN q0.pl = 0 THEN CASE WHEN m.colv THEN 80 ELSE 16 END
             |         ELSE CASE WHEN m.colv THEN 40 ELSE 8 END END AS wpl,
             |    CASE WHEN q0.pl = 0 THEN 16 ELSE 8 END AS mbspan) q2
             |  CROSS JOIN LATERAL (SELECT
             |    CASE WHEN m.colv THEN q2.jj % q2.wpl
             |         ELSE q2.jj // q2.wpl END AS s,
             |    CASE WHEN m.colv THEN q2.jj // q2.wpl
             |         ELSE q2.jj % q2.wpl END AS tt) q3
             |  CROSS JOIN LATERAL (SELECT q3.s // q2.mbspan AS mi,
             |    (q3.s % q2.mbspan) // (q2.mbspan // 2) AS qs,
             |    q3.tt // (q2.mbspan // 2) AS qt) q4
             |  CROSS JOIN LATERAL (SELECT
             |    CASE q0.pl WHEN 0 THEN 37 WHEN 1 THEN 91 ELSE 53 END AS ca1,
             |    CASE q0.pl WHEN 0 THEN 19 WHEN 1 THEN 29 ELSE 31 END AS ca2,
             |    CASE q0.pl WHEN 0 THEN 41 WHEN 1 THEN 67 ELSE 71 END AS cb1) cf
             |  CROSS JOIN LATERAL (SELECT
             |    (cf.ca1*m.d) % 160 + 24 AS a0v,
             |    (cf.ca1*m.d + cf.ca2) % 160 + 24 AS a1v,
             |    (cf.ca1*m.d + 2*cf.ca2) % 160 + 24 AS a2v,
             |    (cf.ca1*m.d + 3*cf.ca2) % 160 + 24 AS a3v,
             |    (cf.ca1*m.d + 4*cf.ca2) % 160 + 24 AS a4v,
             |    (cf.cb1*m.d) % 160 + 24 AS b0v) av
             |  CROSS JOIN LATERAL (SELECT
             |    CASE WHEN qf.fi = 0 THEN
             |      (cf.ca1*m.d + cf.ca2*q4.mi) % 160 + 24
             |    WHEN qf.fi = 1 THEN CASE q4.mi
             |      WHEN 0 THEN av.b0v
             |      WHEN 1 THEN CASE
             |        WHEN q4.qs = 0 AND q4.qt = 0 THEN av.a3v
             |        WHEN q4.qs = 1 AND q4.qt = 0 THEN av.a0v
             |        WHEN q4.qs = 0 AND q4.qt = 1 THEN av.a1v
             |        ELSE av.a2v END
             |      WHEN 2 THEN av.a0v
             |      ELSE av.a4v END
             |    ELSE CASE q4.mi
             |      WHEN 0 THEN (av.a0v + av.b0v + 1) // 2
             |      WHEN 1 THEN CASE
             |        WHEN q4.qs = 0 AND q4.qt = 0 THEN (av.a2v + av.b0v + 1) // 2
             |        WHEN q4.qs = 1 AND q4.qt = 0 THEN (av.a1v + av.a0v + 1) // 2
             |        WHEN q4.qs = 0 AND q4.qt = 1 THEN av.a1v
             |        ELSE (av.a2v + av.a1v + 1) // 2 END
             |      WHEN 2 THEN (av.a1v + av.a4v + 1) // 2
             |      WHEN 3 THEN av.a3v
             |      ELSE av.a4v END
             |    END AS val) vv
             |  GROUP BY m.d)
             |SELECT dims.d AS doc_id,
             |  CAST(CASE WHEN dims.colv THEN 80 ELSE 16 END AS BIGINT) AS width,
             |  CAST(CASE WHEN dims.colv THEN 16 ELSE 80 END AS BIGINT) AS height,
             |  CAST(3 AS BIGINT) AS n_frames,
             |  CAST(px.chk AS BIGINT) AS pix_checksum
             |FROM px JOIN dims ON px.d = dims.d ORDER BY doc_id""".stripMargin)),

    // REAL H.264 B SUB-16x16 PARTITIONS, graded byte-exact — the full
    // partition family below 16x16: two-partition 16x8/8x16 MBs with
    // one-sided ((L0,L1), (L1,L0)) and (Bi,Bi) pairs (Table 7-14 codes,
    // the all-list-0-then-all-list-1 mvd syntax order, per-list
    // directional MV predictors), and B_8x8 MBs (Table 7-18 sub types)
    // covering Direct_8x8 in both its zero-prediction and
    // derived-from-neighbor forms, one-sided 8x8/8x4/4x8 pairs, a Bi
    // 8x8, and an L0 4x4 quartet with one edge-clamped vector. The
    // orientation rotation swaps 16x8<->8x16 and 8x4<->4x8 codes so
    // both shape families decode; every fourth doc rides CABAC through
    // the extended pinned B mb_type tree and 4-bin sub_mb_type bins.
    ("q_h264_bsub",
      (s: SparkSession, d: String) =>
        Multimodal.decodeH264VideoStats(
            Multimodal.withH264BSubMedia(t(s, d, "documents")))
          .toDF()
          .orderBy("doc_id"),
      Some("""WITH dims AS (
             |  SELECT doc_id AS d, doc_id % 2 = 0 AS colv FROM documents),
             |px AS (
             |  SELECT m.d,
             |    sum(vv.val * (qf.j % 97 + 1) * (qf.fi + 1)) AS chk
             |  FROM dims m
             |  JOIN range(0, 5760) t(i) ON true
             |  CROSS JOIN LATERAL (SELECT t.i // 1920 AS fi, t.i % 1920 AS j) qf
             |  CROSS JOIN LATERAL (SELECT
             |    CASE WHEN qf.j < 1280 THEN 0
             |         WHEN qf.j < 1600 THEN 1 ELSE 2 END AS pl) q0
             |  CROSS JOIN LATERAL (SELECT
             |    CASE q0.pl WHEN 0 THEN qf.j WHEN 1 THEN qf.j - 1280
             |      ELSE qf.j - 1600 END AS jj,
             |    CASE WHEN q0.pl = 0 THEN CASE WHEN m.colv THEN 80 ELSE 16 END
             |         ELSE CASE WHEN m.colv THEN 40 ELSE 8 END END AS wpl,
             |    CASE WHEN q0.pl = 0 THEN 16 ELSE 8 END AS mbspan) q2
             |  CROSS JOIN LATERAL (SELECT
             |    CASE WHEN m.colv THEN q2.jj % q2.wpl
             |         ELSE q2.jj // q2.wpl END AS s,
             |    CASE WHEN m.colv THEN q2.jj // q2.wpl
             |         ELSE q2.jj % q2.wpl END AS tt) q3
             |  CROSS JOIN LATERAL (SELECT q3.s // q2.mbspan AS mi,
             |    (q3.s % q2.mbspan) // (q2.mbspan // 2) AS qs,
             |    q3.tt // (q2.mbspan // 2) AS qt,
             |    (q3.s % (q2.mbspan // 2)) // (q2.mbspan // 4) AS us,
             |    (q3.tt % (q2.mbspan // 2)) // (q2.mbspan // 4) AS ut) q4
             |  CROSS JOIN LATERAL (SELECT
             |    CASE q0.pl WHEN 0 THEN 37 WHEN 1 THEN 91 ELSE 53 END AS ca1,
             |    CASE q0.pl WHEN 0 THEN 19 WHEN 1 THEN 29 ELSE 31 END AS ca2,
             |    CASE q0.pl WHEN 0 THEN 41 WHEN 1 THEN 67 ELSE 71 END AS cb1,
             |    CASE q0.pl WHEN 0 THEN 23 WHEN 1 THEN 17 ELSE 13 END AS cb2) cf
             |  CROSS JOIN LATERAL (SELECT
             |    (cf.ca1*m.d) % 160 + 24 AS a0v,
             |    (cf.ca1*m.d + cf.ca2) % 160 + 24 AS a1v,
             |    (cf.ca1*m.d + 2*cf.ca2) % 160 + 24 AS a2v,
             |    (cf.ca1*m.d + 3*cf.ca2) % 160 + 24 AS a3v,
             |    (cf.ca1*m.d + 4*cf.ca2) % 160 + 24 AS a4v,
             |    (cf.cb1*m.d) % 160 + 24 AS b0v,
             |    (cf.cb1*m.d + cf.cb2) % 160 + 24 AS b1v,
             |    (cf.cb1*m.d + 2*cf.cb2) % 160 + 24 AS b2v,
             |    (cf.cb1*m.d + 3*cf.cb2) % 160 + 24 AS b3v,
             |    (cf.cb1*m.d + 4*cf.cb2) % 160 + 24 AS b4v) av
             |  CROSS JOIN LATERAL (SELECT
             |    CASE WHEN qf.fi = 0 THEN
             |      (cf.ca1*m.d + cf.ca2*q4.mi) % 160 + 24
             |    WHEN qf.fi = 1 THEN
             |      (cf.cb1*m.d + cf.cb2*q4.mi) % 160 + 24
             |    ELSE CASE q4.mi
             |      WHEN 0 THEN CASE
             |        WHEN q4.qs = 0 AND q4.qt = 0 THEN (av.b0v + av.a0v + 1) // 2
             |        WHEN q4.qs = 1 AND q4.qt = 0 THEN
             |          CASE WHEN q4.us = 0 THEN av.b0v ELSE av.b1v END
             |        WHEN q4.qs = 0 AND q4.qt = 1 THEN
             |          CASE WHEN q4.ut = 0 THEN av.a1v ELSE av.a0v END
             |        ELSE (av.b1v + av.a2v + 1) // 2 END
             |      WHEN 1 THEN CASE WHEN q4.qt = 0 THEN av.b1v ELSE av.a2v END
             |      WHEN 2 THEN CASE WHEN q4.qs = 0 THEN av.a1v ELSE av.b3v END
             |      WHEN 3 THEN CASE WHEN q4.qt = 0
             |        THEN (av.b2v + av.a3v + 1) // 2
             |        ELSE (av.b4v + av.a1v + 1) // 2 END
             |      ELSE CASE
             |        WHEN q4.qs = 0 AND q4.qt = 0 THEN CASE
             |          WHEN q4.us = 0 AND q4.ut = 0 THEN av.b4v
             |          WHEN q4.us = 1 AND q4.ut = 0 THEN av.b3v
             |          WHEN q4.us = 0 AND q4.ut = 1 THEN av.b2v
             |          ELSE av.b3v END
             |        WHEN q4.qs = 1 AND q4.qt = 0 THEN av.a0v
             |        WHEN q4.qs = 0 AND q4.qt = 1 THEN (av.b3v + av.a4v + 1) // 2
             |        ELSE CASE WHEN q4.ut = 0 THEN av.b4v ELSE av.b1v END END
             |      END
             |    END AS val) vv
             |  GROUP BY m.d)
             |SELECT dims.d AS doc_id,
             |  CAST(CASE WHEN dims.colv THEN 80 ELSE 16 END AS BIGINT) AS width,
             |  CAST(CASE WHEN dims.colv THEN 16 ELSE 80 END AS BIGINT) AS height,
             |  CAST(3 AS BIGINT) AS n_frames,
             |  CAST(px.chk AS BIGINT) AS pix_checksum
             |FROM px JOIN dims ON px.d = dims.d ORDER BY doc_id""".stripMargin)),

    // REAL H.264 CABAC_INIT_IDC 1/2, graded byte-exact — the P slice
    // selects one of the pinned per-idc context initialization tables
    // (standing in for the spec's Table 9-12..9-33 init triples, the
    // engine-table discipline); encoder and decoder must agree on the
    // selected table or the arithmetic decode desyncs from the FIRST
    // bin. The B sub-partition geometry rides ALL-CABAC with idc 1/2 by
    // doc; initialization is pixel-transparent, so the expected values
    // are exactly the q_h264_bsub table — any init mismatch destroys
    // every decoded macroblock at once.
    ("q_h264_cabinit",
      (s: SparkSession, d: String) =>
        Multimodal.decodeH264VideoStats(
            Multimodal.withH264CabInitMedia(t(s, d, "documents")))
          .toDF()
          .orderBy("doc_id"),
      Some("""WITH dims AS (
             |  SELECT doc_id AS d, doc_id % 2 = 0 AS colv FROM documents),
             |px AS (
             |  SELECT m.d,
             |    sum(vv.val * (qf.j % 97 + 1) * (qf.fi + 1)) AS chk
             |  FROM dims m
             |  JOIN range(0, 5760) t(i) ON true
             |  CROSS JOIN LATERAL (SELECT t.i // 1920 AS fi, t.i % 1920 AS j) qf
             |  CROSS JOIN LATERAL (SELECT
             |    CASE WHEN qf.j < 1280 THEN 0
             |         WHEN qf.j < 1600 THEN 1 ELSE 2 END AS pl) q0
             |  CROSS JOIN LATERAL (SELECT
             |    CASE q0.pl WHEN 0 THEN qf.j WHEN 1 THEN qf.j - 1280
             |      ELSE qf.j - 1600 END AS jj,
             |    CASE WHEN q0.pl = 0 THEN CASE WHEN m.colv THEN 80 ELSE 16 END
             |         ELSE CASE WHEN m.colv THEN 40 ELSE 8 END END AS wpl,
             |    CASE WHEN q0.pl = 0 THEN 16 ELSE 8 END AS mbspan) q2
             |  CROSS JOIN LATERAL (SELECT
             |    CASE WHEN m.colv THEN q2.jj % q2.wpl
             |         ELSE q2.jj // q2.wpl END AS s,
             |    CASE WHEN m.colv THEN q2.jj // q2.wpl
             |         ELSE q2.jj % q2.wpl END AS tt) q3
             |  CROSS JOIN LATERAL (SELECT q3.s // q2.mbspan AS mi,
             |    (q3.s % q2.mbspan) // (q2.mbspan // 2) AS qs,
             |    q3.tt // (q2.mbspan // 2) AS qt,
             |    (q3.s % (q2.mbspan // 2)) // (q2.mbspan // 4) AS us,
             |    (q3.tt % (q2.mbspan // 2)) // (q2.mbspan // 4) AS ut) q4
             |  CROSS JOIN LATERAL (SELECT
             |    CASE q0.pl WHEN 0 THEN 37 WHEN 1 THEN 91 ELSE 53 END AS ca1,
             |    CASE q0.pl WHEN 0 THEN 19 WHEN 1 THEN 29 ELSE 31 END AS ca2,
             |    CASE q0.pl WHEN 0 THEN 41 WHEN 1 THEN 67 ELSE 71 END AS cb1,
             |    CASE q0.pl WHEN 0 THEN 23 WHEN 1 THEN 17 ELSE 13 END AS cb2) cf
             |  CROSS JOIN LATERAL (SELECT
             |    (cf.ca1*m.d) % 160 + 24 AS a0v,
             |    (cf.ca1*m.d + cf.ca2) % 160 + 24 AS a1v,
             |    (cf.ca1*m.d + 2*cf.ca2) % 160 + 24 AS a2v,
             |    (cf.ca1*m.d + 3*cf.ca2) % 160 + 24 AS a3v,
             |    (cf.ca1*m.d + 4*cf.ca2) % 160 + 24 AS a4v,
             |    (cf.cb1*m.d) % 160 + 24 AS b0v,
             |    (cf.cb1*m.d + cf.cb2) % 160 + 24 AS b1v,
             |    (cf.cb1*m.d + 2*cf.cb2) % 160 + 24 AS b2v,
             |    (cf.cb1*m.d + 3*cf.cb2) % 160 + 24 AS b3v,
             |    (cf.cb1*m.d + 4*cf.cb2) % 160 + 24 AS b4v) av
             |  CROSS JOIN LATERAL (SELECT
             |    CASE WHEN qf.fi = 0 THEN
             |      (cf.ca1*m.d + cf.ca2*q4.mi) % 160 + 24
             |    WHEN qf.fi = 1 THEN
             |      (cf.cb1*m.d + cf.cb2*q4.mi) % 160 + 24
             |    ELSE CASE q4.mi
             |      WHEN 0 THEN CASE
             |        WHEN q4.qs = 0 AND q4.qt = 0 THEN (av.b0v + av.a0v + 1) // 2
             |        WHEN q4.qs = 1 AND q4.qt = 0 THEN
             |          CASE WHEN q4.us = 0 THEN av.b0v ELSE av.b1v END
             |        WHEN q4.qs = 0 AND q4.qt = 1 THEN
             |          CASE WHEN q4.ut = 0 THEN av.a1v ELSE av.a0v END
             |        ELSE (av.b1v + av.a2v + 1) // 2 END
             |      WHEN 1 THEN CASE WHEN q4.qt = 0 THEN av.b1v ELSE av.a2v END
             |      WHEN 2 THEN CASE WHEN q4.qs = 0 THEN av.a1v ELSE av.b3v END
             |      WHEN 3 THEN CASE WHEN q4.qt = 0
             |        THEN (av.b2v + av.a3v + 1) // 2
             |        ELSE (av.b4v + av.a1v + 1) // 2 END
             |      ELSE CASE
             |        WHEN q4.qs = 0 AND q4.qt = 0 THEN CASE
             |          WHEN q4.us = 0 AND q4.ut = 0 THEN av.b4v
             |          WHEN q4.us = 1 AND q4.ut = 0 THEN av.b3v
             |          WHEN q4.us = 0 AND q4.ut = 1 THEN av.b2v
             |          ELSE av.b3v END
             |        WHEN q4.qs = 1 AND q4.qt = 0 THEN av.a0v
             |        WHEN q4.qs = 0 AND q4.qt = 1 THEN (av.b3v + av.a4v + 1) // 2
             |        ELSE CASE WHEN q4.ut = 0 THEN av.b4v ELSE av.b1v END END
             |      END
             |    END AS val) vv
             |  GROUP BY m.d)
             |SELECT dims.d AS doc_id,
             |  CAST(CASE WHEN dims.colv THEN 80 ELSE 16 END AS BIGINT) AS width,
             |  CAST(CASE WHEN dims.colv THEN 16 ELSE 80 END AS BIGINT) AS height,
             |  CAST(3 AS BIGINT) AS n_frames,
             |  CAST(px.chk AS BIGINT) AS pix_checksum
             |FROM px JOIN dims ON px.d = dims.d ORDER BY doc_id""".stripMargin)),

    // REAL H.264 MULTI-REFERENCE P SUB-PARTITIONS, graded byte-exact —
    // a plain P slice with two active list-0 references where every
    // 16x8/8x16 partition and every P_8x8 sub-MB carries its own te()
    // ref_idx: reference 0 reads the P frame's constants, reference 1
    // the IDR's, so a swapped or mis-scoped reference lands in the wrong
    // constant family. Mixed sub shapes (8x8/8x4/4x8/4x4), one
    // edge-clamped vector, ref-matched MV prediction; every fourth doc
    // rides CABAC (the 9.3.3.1.1.6 unary ref_idx bins with neighbor
    // contexts on sub-MB rects).
    ("q_h264_pmref",
      (s: SparkSession, d: String) =>
        Multimodal.decodeH264VideoStats(
            Multimodal.withH264PMRefMedia(t(s, d, "documents")))
          .toDF()
          .orderBy("doc_id"),
      Some("""WITH dims AS (
             |  SELECT doc_id AS d, doc_id % 2 = 0 AS colv FROM documents),
             |px AS (
             |  SELECT m.d,
             |    sum(vv.val * (qf.j % 97 + 1) * (qf.fi + 1)) AS chk
             |  FROM dims m
             |  JOIN range(0, 5760) t(i) ON true
             |  CROSS JOIN LATERAL (SELECT t.i // 1920 AS fi, t.i % 1920 AS j) qf
             |  CROSS JOIN LATERAL (SELECT
             |    CASE WHEN qf.j < 1280 THEN 0
             |         WHEN qf.j < 1600 THEN 1 ELSE 2 END AS pl) q0
             |  CROSS JOIN LATERAL (SELECT
             |    CASE q0.pl WHEN 0 THEN qf.j WHEN 1 THEN qf.j - 1280
             |      ELSE qf.j - 1600 END AS jj,
             |    CASE WHEN q0.pl = 0 THEN CASE WHEN m.colv THEN 80 ELSE 16 END
             |         ELSE CASE WHEN m.colv THEN 40 ELSE 8 END END AS wpl,
             |    CASE WHEN q0.pl = 0 THEN 16 ELSE 8 END AS mbspan) q2
             |  CROSS JOIN LATERAL (SELECT
             |    CASE WHEN m.colv THEN q2.jj % q2.wpl
             |         ELSE q2.jj // q2.wpl END AS s,
             |    CASE WHEN m.colv THEN q2.jj // q2.wpl
             |         ELSE q2.jj % q2.wpl END AS tt) q3
             |  CROSS JOIN LATERAL (SELECT q3.s // q2.mbspan AS mi,
             |    (q3.s % q2.mbspan) // (q2.mbspan // 2) AS qs,
             |    q3.tt // (q2.mbspan // 2) AS qt,
             |    (q3.s % (q2.mbspan // 2)) // (q2.mbspan // 4) AS us,
             |    (q3.tt % (q2.mbspan // 2)) // (q2.mbspan // 4) AS ut) q4
             |  CROSS JOIN LATERAL (SELECT
             |    CASE q0.pl WHEN 0 THEN 37 WHEN 1 THEN 91 ELSE 53 END AS ca1,
             |    CASE q0.pl WHEN 0 THEN 19 WHEN 1 THEN 29 ELSE 31 END AS ca2,
             |    CASE q0.pl WHEN 0 THEN 41 WHEN 1 THEN 67 ELSE 71 END AS cb1,
             |    CASE q0.pl WHEN 0 THEN 23 WHEN 1 THEN 17 ELSE 13 END AS cb2) cf
             |  CROSS JOIN LATERAL (SELECT
             |    (cf.ca1*m.d) % 160 + 24 AS a0v,
             |    (cf.ca1*m.d + cf.ca2) % 160 + 24 AS a1v,
             |    (cf.ca1*m.d + 2*cf.ca2) % 160 + 24 AS a2v,
             |    (cf.ca1*m.d + 4*cf.ca2) % 160 + 24 AS a4v,
             |    (cf.cb1*m.d) % 160 + 24 AS b0v,
             |    (cf.cb1*m.d + cf.cb2) % 160 + 24 AS b1v,
             |    (cf.cb1*m.d + 2*cf.cb2) % 160 + 24 AS b2v,
             |    (cf.cb1*m.d + 3*cf.cb2) % 160 + 24 AS b3v,
             |    (cf.cb1*m.d + 4*cf.cb2) % 160 + 24 AS b4v) av
             |  CROSS JOIN LATERAL (SELECT
             |    CASE WHEN qf.fi = 0 THEN
             |      (cf.ca1*m.d + cf.ca2*q4.mi) % 160 + 24
             |    WHEN qf.fi = 1 THEN
             |      (cf.cb1*m.d + cf.cb2*q4.mi) % 160 + 24
             |    ELSE CASE q4.mi
             |      WHEN 0 THEN CASE WHEN q4.qt = 0 THEN av.b0v ELSE av.a1v END
             |      WHEN 1 THEN CASE WHEN q4.qs = 0 THEN av.a1v ELSE av.b0v END
             |      WHEN 2 THEN CASE
             |        WHEN q4.qs = 0 AND q4.qt = 0 THEN av.a4v
             |        WHEN q4.qs = 1 AND q4.qt = 0 THEN
             |          CASE WHEN q4.us = 0 THEN av.b2v ELSE av.b3v END
             |        WHEN q4.qs = 0 AND q4.qt = 1 THEN
             |          CASE WHEN q4.ut = 0 THEN av.a1v ELSE av.a2v END
             |        ELSE CASE
             |          WHEN q4.us = 0 AND q4.ut = 0 THEN av.b2v
             |          WHEN q4.us = 1 AND q4.ut = 0 THEN av.b3v
             |          WHEN q4.us = 0 AND q4.ut = 1 THEN av.b1v
             |          ELSE av.b3v END END
             |      WHEN 3 THEN CASE WHEN q4.qt = 0 THEN av.a2v ELSE av.a4v END
             |      ELSE CASE
             |        WHEN q4.qs = 0 AND q4.qt = 0 THEN av.b3v
             |        WHEN q4.qs = 1 AND q4.qt = 0 THEN av.a4v
             |        WHEN q4.qs = 0 AND q4.qt = 1 THEN av.b4v
             |        ELSE av.a0v END
             |      END
             |    END AS val) vv
             |  GROUP BY m.d)
             |SELECT dims.d AS doc_id,
             |  CAST(CASE WHEN dims.colv THEN 80 ELSE 16 END AS BIGINT) AS width,
             |  CAST(CASE WHEN dims.colv THEN 16 ELSE 80 END AS BIGINT) AS height,
             |  CAST(3 AS BIGINT) AS n_frames,
             |  CAST(px.chk AS BIGINT) AS pix_checksum
             |FROM px JOIN dims ON px.d = dims.d ORDER BY doc_id""".stripMargin)),

    // REAL H.264 PER-PARTITION WEIGHTED MULTI-REFERENCE prediction,
    // graded byte-exact — an explicit two-reference pred_weight_table
    // over the multi-ref sub-partition geometry: every 16x8/8x16
    // partition and P_8x8 sub-MB applies the (weight, offset) pair of
    // ITS OWN te() ref_idx (asymmetric per reference and per plane,
    // with real clipping), so a decoder that indexes the table by one
    // whole-MB reference shifts every mixed-reference macroblock.
    ("q_h264_wpart",
      (s: SparkSession, d: String) =>
        Multimodal.decodeH264VideoStats(
            Multimodal.withH264WPartMedia(t(s, d, "documents")))
          .toDF()
          .orderBy("doc_id"),
      Some("""WITH dims AS (
             |  SELECT doc_id AS d, doc_id % 2 = 0 AS colv FROM documents),
             |px AS (
             |  SELECT m.d,
             |    sum(vv.val * (qf.j % 97 + 1) * (qf.fi + 1)) AS chk
             |  FROM dims m
             |  JOIN range(0, 5760) t(i) ON true
             |  CROSS JOIN LATERAL (SELECT t.i // 1920 AS fi, t.i % 1920 AS j) qf
             |  CROSS JOIN LATERAL (SELECT
             |    CASE WHEN qf.j < 1280 THEN 0
             |         WHEN qf.j < 1600 THEN 1 ELSE 2 END AS pl) q0
             |  CROSS JOIN LATERAL (SELECT
             |    CASE q0.pl WHEN 0 THEN qf.j WHEN 1 THEN qf.j - 1280
             |      ELSE qf.j - 1600 END AS jj,
             |    CASE WHEN q0.pl = 0 THEN CASE WHEN m.colv THEN 80 ELSE 16 END
             |         ELSE CASE WHEN m.colv THEN 40 ELSE 8 END END AS wpl,
             |    CASE WHEN q0.pl = 0 THEN 16 ELSE 8 END AS mbspan) q2
             |  CROSS JOIN LATERAL (SELECT
             |    CASE WHEN m.colv THEN q2.jj % q2.wpl
             |         ELSE q2.jj // q2.wpl END AS s,
             |    CASE WHEN m.colv THEN q2.jj // q2.wpl
             |         ELSE q2.jj % q2.wpl END AS tt) q3
             |  CROSS JOIN LATERAL (SELECT q3.s // q2.mbspan AS mi,
             |    (q3.s % q2.mbspan) // (q2.mbspan // 2) AS qs,
             |    q3.tt // (q2.mbspan // 2) AS qt,
             |    (q3.s % (q2.mbspan // 2)) // (q2.mbspan // 4) AS us,
             |    (q3.tt % (q2.mbspan // 2)) // (q2.mbspan // 4) AS ut) q4
             |  CROSS JOIN LATERAL (SELECT
             |    CASE q0.pl WHEN 0 THEN 37 WHEN 1 THEN 91 ELSE 53 END AS ca1,
             |    CASE q0.pl WHEN 0 THEN 19 WHEN 1 THEN 29 ELSE 31 END AS ca2,
             |    CASE q0.pl WHEN 0 THEN 41 WHEN 1 THEN 67 ELSE 71 END AS cb1,
             |    CASE q0.pl WHEN 0 THEN 23 WHEN 1 THEN 17 ELSE 13 END AS cb2) cf
             |  CROSS JOIN LATERAL (SELECT
             |    (cf.ca1*m.d) % 160 + 24 AS a0v,
             |    (cf.ca1*m.d + cf.ca2) % 160 + 24 AS a1v,
             |    (cf.ca1*m.d + 2*cf.ca2) % 160 + 24 AS a2v,
             |    (cf.ca1*m.d + 4*cf.ca2) % 160 + 24 AS a4v,
             |    (cf.cb1*m.d) % 160 + 24 AS b0v,
             |    (cf.cb1*m.d + cf.cb2) % 160 + 24 AS b1v,
             |    (cf.cb1*m.d + 2*cf.cb2) % 160 + 24 AS b2v,
             |    (cf.cb1*m.d + 3*cf.cb2) % 160 + 24 AS b3v,
             |    (cf.cb1*m.d + 4*cf.cb2) % 160 + 24 AS b4v) av
             |  CROSS JOIN LATERAL (SELECT
             |    CASE WHEN qf.fi <= 1 THEN -1
             |    ELSE CASE q4.mi
             |      WHEN 0 THEN CASE WHEN q4.qt = 0 THEN 0 ELSE 1 END
             |      WHEN 1 THEN CASE WHEN q4.qs = 0 THEN 1 ELSE 0 END
             |      WHEN 2 THEN CASE
             |        WHEN q4.qs = 0 AND q4.qt = 0 THEN 1
             |        WHEN q4.qs = 1 AND q4.qt = 0 THEN 0
             |        WHEN q4.qs = 0 AND q4.qt = 1 THEN 1
             |        ELSE 0 END
             |      WHEN 3 THEN 1
             |      ELSE CASE
             |        WHEN q4.qs = 0 AND q4.qt = 0 THEN 0
             |        WHEN q4.qs = 1 AND q4.qt = 0 THEN 1
             |        WHEN q4.qs = 0 AND q4.qt = 1 THEN 0
             |        ELSE 1 END
             |      END
             |    END AS rsel) rr
             |  CROSS JOIN LATERAL (SELECT
             |    CASE WHEN qf.fi = 0 THEN
             |      (cf.ca1*m.d + cf.ca2*q4.mi) % 160 + 24
             |    WHEN qf.fi = 1 THEN
             |      (cf.cb1*m.d + cf.cb2*q4.mi) % 160 + 24
             |    ELSE CASE q4.mi
             |      WHEN 0 THEN CASE WHEN q4.qt = 0 THEN av.b0v ELSE av.a1v END
             |      WHEN 1 THEN CASE WHEN q4.qs = 0 THEN av.a1v ELSE av.b0v END
             |      WHEN 2 THEN CASE
             |        WHEN q4.qs = 0 AND q4.qt = 0 THEN av.a4v
             |        WHEN q4.qs = 1 AND q4.qt = 0 THEN
             |          CASE WHEN q4.us = 0 THEN av.b2v ELSE av.b3v END
             |        WHEN q4.qs = 0 AND q4.qt = 1 THEN
             |          CASE WHEN q4.ut = 0 THEN av.a1v ELSE av.a2v END
             |        ELSE CASE
             |          WHEN q4.us = 0 AND q4.ut = 0 THEN av.b2v
             |          WHEN q4.us = 1 AND q4.ut = 0 THEN av.b3v
             |          WHEN q4.us = 0 AND q4.ut = 1 THEN av.b1v
             |          ELSE av.b3v END END
             |      WHEN 3 THEN CASE WHEN q4.qt = 0 THEN av.a2v ELSE av.a4v END
             |      ELSE CASE
             |        WHEN q4.qs = 0 AND q4.qt = 0 THEN av.b3v
             |        WHEN q4.qs = 1 AND q4.qt = 0 THEN av.a4v
             |        WHEN q4.qs = 0 AND q4.qt = 1 THEN av.b4v
             |        ELSE av.a0v END
             |      END
             |    END AS base) bb
             |  CROSS JOIN LATERAL (SELECT
             |    CASE WHEN rr.rsel < 0 THEN bb.base
             |    ELSE LEAST(255, GREATEST(0,
             |      (((CASE WHEN rr.rsel = 0 THEN 3 ELSE 1 END) * bb.base + 1) // 2)
             |      + CASE q0.pl
             |          WHEN 0 THEN CASE WHEN rr.rsel = 0 THEN 4 ELSE -2 END
             |          WHEN 1 THEN CASE WHEN rr.rsel = 0 THEN 2 ELSE 6 END
             |          ELSE CASE WHEN rr.rsel = 0 THEN -2 ELSE 4 END END))
             |    END AS val) vv
             |  GROUP BY m.d)
             |SELECT dims.d AS doc_id,
             |  CAST(CASE WHEN dims.colv THEN 80 ELSE 16 END AS BIGINT) AS width,
             |  CAST(CASE WHEN dims.colv THEN 16 ELSE 80 END AS BIGINT) AS height,
             |  CAST(3 AS BIGINT) AS n_frames,
             |  CAST(px.chk AS BIGINT) AS pix_checksum
             |FROM px JOIN dims ON px.d = dims.d ORDER BY doc_id""".stripMargin)),

        // REAL H.264 ADAPTIVE REFERENCE MARKING (7.4.3.3 / 8.2.5 MMCO 1),
    // graded byte-exact — a REFERENCE all-P_Skip frame (a pixel copy of
    // the P frame, its reconstruction feeding later fetches) carries a
    // dec_ref_pic_marking that unmarks the P frame, so the probe
    // slice's references become [skip-copy, IDR]; the sliding window
    // alone would keep the P frame and EVICT the IDR. A decoder that
    // ignores the marking (or mis-times the unmark-then-insert DPB
    // update) reads the P constants wherever the probe says reference 1.
("q_h264_mmco",
      (s: SparkSession, d: String) =>
        Multimodal.decodeH264VideoStats(
            Multimodal.withH264MmcoMedia(t(s, d, "documents")))
          .toDF()
          .orderBy("doc_id"),
      Some("""WITH dims AS (
             |  SELECT doc_id AS d, doc_id % 2 = 0 AS colv FROM documents),
             |px AS (
             |  SELECT m.d,
             |    sum(vv.val * (qf.j % 97 + 1) * (qf0.fi0 + 1)) AS chk
             |  FROM dims m
             |  JOIN range(0, 7680) t(i) ON true
             |  CROSS JOIN LATERAL (SELECT t.i // 1920 AS fi0, t.i % 1920 AS j) qf0
             |  CROSS JOIN LATERAL (SELECT
             |    CASE WHEN qf0.fi0 >= 2 THEN qf0.fi0 - 1 ELSE qf0.fi0 END AS fi,
             |    qf0.j AS j) qf
             |  CROSS JOIN LATERAL (SELECT
             |    CASE WHEN qf.j < 1280 THEN 0
             |         WHEN qf.j < 1600 THEN 1 ELSE 2 END AS pl) q0
             |  CROSS JOIN LATERAL (SELECT
             |    CASE q0.pl WHEN 0 THEN qf.j WHEN 1 THEN qf.j - 1280
             |      ELSE qf.j - 1600 END AS jj,
             |    CASE WHEN q0.pl = 0 THEN CASE WHEN m.colv THEN 80 ELSE 16 END
             |         ELSE CASE WHEN m.colv THEN 40 ELSE 8 END END AS wpl,
             |    CASE WHEN q0.pl = 0 THEN 16 ELSE 8 END AS mbspan) q2
             |  CROSS JOIN LATERAL (SELECT
             |    CASE WHEN m.colv THEN q2.jj % q2.wpl
             |         ELSE q2.jj // q2.wpl END AS s,
             |    CASE WHEN m.colv THEN q2.jj // q2.wpl
             |         ELSE q2.jj % q2.wpl END AS tt) q3
             |  CROSS JOIN LATERAL (SELECT q3.s // q2.mbspan AS mi,
             |    (q3.s % q2.mbspan) // (q2.mbspan // 2) AS qs,
             |    q3.tt // (q2.mbspan // 2) AS qt,
             |    (q3.s % (q2.mbspan // 2)) // (q2.mbspan // 4) AS us,
             |    (q3.tt % (q2.mbspan // 2)) // (q2.mbspan // 4) AS ut) q4
             |  CROSS JOIN LATERAL (SELECT
             |    CASE q0.pl WHEN 0 THEN 37 WHEN 1 THEN 91 ELSE 53 END AS ca1,
             |    CASE q0.pl WHEN 0 THEN 19 WHEN 1 THEN 29 ELSE 31 END AS ca2,
             |    CASE q0.pl WHEN 0 THEN 41 WHEN 1 THEN 67 ELSE 71 END AS cb1,
             |    CASE q0.pl WHEN 0 THEN 23 WHEN 1 THEN 17 ELSE 13 END AS cb2) cf
             |  CROSS JOIN LATERAL (SELECT
             |    (cf.ca1*m.d) % 160 + 24 AS a0v,
             |    (cf.ca1*m.d + cf.ca2) % 160 + 24 AS a1v,
             |    (cf.ca1*m.d + 2*cf.ca2) % 160 + 24 AS a2v,
             |    (cf.ca1*m.d + 4*cf.ca2) % 160 + 24 AS a4v,
             |    (cf.cb1*m.d) % 160 + 24 AS b0v,
             |    (cf.cb1*m.d + cf.cb2) % 160 + 24 AS b1v,
             |    (cf.cb1*m.d + 2*cf.cb2) % 160 + 24 AS b2v,
             |    (cf.cb1*m.d + 3*cf.cb2) % 160 + 24 AS b3v,
             |    (cf.cb1*m.d + 4*cf.cb2) % 160 + 24 AS b4v) av
             |  CROSS JOIN LATERAL (SELECT
             |    CASE WHEN qf.fi = 0 THEN
             |      (cf.ca1*m.d + cf.ca2*q4.mi) % 160 + 24
             |    WHEN qf.fi = 1 THEN
             |      (cf.cb1*m.d + cf.cb2*q4.mi) % 160 + 24
             |    ELSE CASE q4.mi
             |      WHEN 0 THEN CASE WHEN q4.qt = 0 THEN av.b0v ELSE av.a1v END
             |      WHEN 1 THEN CASE WHEN q4.qs = 0 THEN av.a1v ELSE av.b0v END
             |      WHEN 2 THEN CASE
             |        WHEN q4.qs = 0 AND q4.qt = 0 THEN av.a4v
             |        WHEN q4.qs = 1 AND q4.qt = 0 THEN
             |          CASE WHEN q4.us = 0 THEN av.b2v ELSE av.b3v END
             |        WHEN q4.qs = 0 AND q4.qt = 1 THEN
             |          CASE WHEN q4.ut = 0 THEN av.a1v ELSE av.a2v END
             |        ELSE CASE
             |          WHEN q4.us = 0 AND q4.ut = 0 THEN av.b2v
             |          WHEN q4.us = 1 AND q4.ut = 0 THEN av.b3v
             |          WHEN q4.us = 0 AND q4.ut = 1 THEN av.b1v
             |          ELSE av.b3v END END
             |      WHEN 3 THEN CASE WHEN q4.qt = 0 THEN av.a2v ELSE av.a4v END
             |      ELSE CASE
             |        WHEN q4.qs = 0 AND q4.qt = 0 THEN av.b3v
             |        WHEN q4.qs = 1 AND q4.qt = 0 THEN av.a4v
             |        WHEN q4.qs = 0 AND q4.qt = 1 THEN av.b4v
             |        ELSE av.a0v END
             |      END
             |    END AS val) vv
             |  GROUP BY m.d)
             |SELECT dims.d AS doc_id,
             |  CAST(CASE WHEN dims.colv THEN 80 ELSE 16 END AS BIGINT) AS width,
             |  CAST(CASE WHEN dims.colv THEN 16 ELSE 80 END AS BIGINT) AS height,
             |  CAST(4 AS BIGINT) AS n_frames,
             |  CAST(px.chk AS BIGINT) AS pix_checksum
             |FROM px JOIN dims ON px.d = dims.d ORDER BY doc_id""".stripMargin)),

    // REAL H.264 LONG-TERM REFERENCES (8.2.5.4 MMCO 2/3/4/6 + the
    // 8.2.4.2.1 short-then-long default order + 7.3.3.1 idc-2 naming),
    // graded byte-exact over four chain variants rotating by doc:
    // (0) the IDR parked long-term (MMCO 4+3+1) and probed as the
    // second list entry; (1) the marking frame ITSELF parked long-term
    // (MMCO 4+1+6) and reconstructed one stripe SHIFTED, so short-vs-
    // long list placement is value-visible; (2) chain 0 followed by an
    // MMCO-2 long-term unmark, returning the probe to two short-terms;
    // (3) chain 0 with the probe naming the long-term by
    // LongTermPicNum through a list modification, flipping the list. A
    // decoder that drops an operation either overflows the two-picture
    // DPB (loud) or fetches the wrong picture's constants.
    ("q_h264_ltref",
      (s: SparkSession, d: String) =>
        Multimodal.decodeH264VideoStats(
            Multimodal.withH264LtRefMedia(t(s, d, "documents")))
          .toDF()
          .orderBy("doc_id"),
      Some("""WITH dims AS (
             |  SELECT doc_id AS d, doc_id % 2 = 0 AS colv,
             |    (doc_id // 2) % 4 AS v,
             |    CASE WHEN (doc_id // 2) % 4 = 2 THEN 5 ELSE 4 END AS nf
             |  FROM documents),
             |px AS (
             |  SELECT m.d,
             |    sum(vv.val * (qf.j % 97 + 1) * (qf.fi0 + 1)) AS chk
             |  FROM dims m
             |  JOIN range(0, 9600) t(i) ON t.i < m.nf * 1920
             |  CROSS JOIN LATERAL (SELECT t.i // 1920 AS fi0, t.i % 1920 AS j) qf
             |  CROSS JOIN LATERAL (SELECT
             |    CASE WHEN qf.j < 1280 THEN 0
             |         WHEN qf.j < 1600 THEN 1 ELSE 2 END AS pl) q0
             |  CROSS JOIN LATERAL (SELECT
             |    CASE q0.pl WHEN 0 THEN qf.j WHEN 1 THEN qf.j - 1280
             |      ELSE qf.j - 1600 END AS jj,
             |    CASE WHEN q0.pl = 0 THEN CASE WHEN m.colv THEN 80 ELSE 16 END
             |         ELSE CASE WHEN m.colv THEN 40 ELSE 8 END END AS wpl,
             |    CASE WHEN q0.pl = 0 THEN 16 ELSE 8 END AS mbspan) q2
             |  CROSS JOIN LATERAL (SELECT
             |    CASE WHEN m.colv THEN q2.jj % q2.wpl
             |         ELSE q2.jj // q2.wpl END AS s,
             |    CASE WHEN m.colv THEN q2.jj // q2.wpl
             |         ELSE q2.jj % q2.wpl END AS tt) q3
             |  CROSS JOIN LATERAL (SELECT q3.s // q2.mbspan AS mi,
             |    (q3.s % q2.mbspan) // (q2.mbspan // 2) AS qs,
             |    q3.tt // (q2.mbspan // 2) AS qt,
             |    (q3.s % (q2.mbspan // 2)) // (q2.mbspan // 4) AS us,
             |    (q3.tt % (q2.mbspan // 2)) // (q2.mbspan // 4) AS ut) q4
             |  CROSS JOIN LATERAL (SELECT
             |    CASE q0.pl WHEN 0 THEN 37 WHEN 1 THEN 91 ELSE 53 END AS ca1,
             |    CASE q0.pl WHEN 0 THEN 19 WHEN 1 THEN 29 ELSE 31 END AS ca2,
             |    CASE q0.pl WHEN 0 THEN 41 WHEN 1 THEN 67 ELSE 71 END AS cb1,
             |    CASE q0.pl WHEN 0 THEN 23 WHEN 1 THEN 17 ELSE 13 END AS cb2) cf
             |  CROSS JOIN LATERAL (SELECT
             |    CASE q4.mi
             |      WHEN 0 THEN CASE WHEN q4.qt = 0 THEN 0 ELSE 1 END
             |      WHEN 1 THEN CASE WHEN q4.qs = 0 THEN 1 ELSE 0 END
             |      WHEN 2 THEN CASE
             |        WHEN q4.qs = 0 AND q4.qt = 0 THEN 1
             |        WHEN q4.qs = 1 AND q4.qt = 0 THEN 0
             |        WHEN q4.qs = 0 AND q4.qt = 1 THEN 1
             |        ELSE 0 END
             |      WHEN 3 THEN 1
             |      ELSE CASE
             |        WHEN q4.qs = 0 AND q4.qt = 0 THEN 0
             |        WHEN q4.qs = 1 AND q4.qt = 0 THEN 1
             |        WHEN q4.qs = 0 AND q4.qt = 1 THEN 0
             |        ELSE 1 END
             |    END AS rr,
             |    CASE q4.mi
             |      WHEN 0 THEN CASE WHEN q4.qt = 0 THEN 0 ELSE 1 END
             |      WHEN 1 THEN CASE WHEN q4.qs = 0 THEN 1 ELSE 0 END
             |      WHEN 2 THEN CASE
             |        WHEN q4.qs = 0 AND q4.qt = 0 THEN 4
             |        WHEN q4.qs = 1 AND q4.qt = 0 THEN
             |          CASE WHEN q4.us = 0 THEN 2 ELSE 3 END
             |        WHEN q4.qs = 0 AND q4.qt = 1 THEN
             |          CASE WHEN q4.ut = 0 THEN 1 ELSE 2 END
             |        ELSE CASE
             |          WHEN q4.us = 0 AND q4.ut = 0 THEN 2
             |          WHEN q4.us = 1 AND q4.ut = 0 THEN 3
             |          WHEN q4.us = 0 AND q4.ut = 1 THEN 1
             |          ELSE 3 END END
             |      WHEN 3 THEN CASE WHEN q4.qt = 0 THEN 2 ELSE 4 END
             |      ELSE CASE
             |        WHEN q4.qs = 0 AND q4.qt = 0 THEN 3
             |        WHEN q4.qs = 1 AND q4.qt = 0 THEN 4
             |        WHEN q4.qs = 0 AND q4.qt = 1 THEN 4
             |        ELSE 0 END
             |    END AS kk) qr
             |  CROSS JOIN LATERAL (SELECT
             |    CASE WHEN qf.fi0 = 0 THEN (cf.ca1*m.d + cf.ca2*q4.mi) % 160 + 24
             |    WHEN qf.fi0 = 1 THEN (cf.cb1*m.d + cf.cb2*q4.mi) % 160 + 24
             |    WHEN qf.fi0 = 2 THEN CASE WHEN m.v = 1
             |        THEN (cf.cb1*m.d + cf.cb2*least(q4.mi + 1, 4)) % 160 + 24
             |        ELSE (cf.cb1*m.d + cf.cb2*q4.mi) % 160 + 24 END
             |    WHEN qf.fi0 = 3 AND m.v = 2
             |      THEN (cf.cb1*m.d + cf.cb2*q4.mi) % 160 + 24
             |    WHEN qr.rr = 0 THEN
             |      CASE WHEN m.v = 3 THEN (cf.ca1*m.d + cf.ca2*qr.kk) % 160 + 24
             |           ELSE (cf.cb1*m.d + cf.cb2*qr.kk) % 160 + 24 END
             |    ELSE
             |      CASE WHEN m.v = 0 THEN (cf.ca1*m.d + cf.ca2*qr.kk) % 160 + 24
             |        WHEN m.v = 1
             |          THEN (cf.cb1*m.d + cf.cb2*least(qr.kk + 1, 4)) % 160 + 24
             |        ELSE (cf.cb1*m.d + cf.cb2*qr.kk) % 160 + 24 END
             |    END AS val) vv
             |  GROUP BY m.d)
             |SELECT dims.d AS doc_id,
             |  CAST(CASE WHEN dims.colv THEN 80 ELSE 16 END AS BIGINT) AS width,
             |  CAST(CASE WHEN dims.colv THEN 16 ELSE 80 END AS BIGINT) AS height,
             |  CAST(dims.nf AS BIGINT) AS n_frames,
             |  CAST(px.chk AS BIGINT) AS pix_checksum
             |FROM px JOIN dims ON px.d = dims.d ORDER BY doc_id""".stripMargin)),

    // REAL H.264 MMCO 5 (8.2.5.4.5 unmark-all + frame_num/POC reset),
    // graded byte-exact — a skip copy of the P whose marking wipes the
    // DPB and re-enters as frame_num 0, then a post-reset reference
    // (coded fn 1 FROM THE RESET) reconstructing the copy one stripe
    // shifted, then the multi-ref probe. Under the reset the probe's
    // default list is [shifted (fn 1), copy (fn 0)]; a decoder that
    // ignores MMCO 5 ranks the pre-reset fn 2 copy ABOVE the post-reset
    // fn 1 frame and reads the pair swapped everywhere.
    ("q_h264_mmco5",
      (s: SparkSession, d: String) =>
        Multimodal.decodeH264VideoStats(
            Multimodal.withH264Mmco5Media(t(s, d, "documents")))
          .toDF()
          .orderBy("doc_id"),
      Some("""WITH dims AS (
             |  SELECT doc_id AS d, doc_id % 2 = 0 AS colv FROM documents),
             |px AS (
             |  SELECT m.d,
             |    sum(vv.val * (qf.j % 97 + 1) * (qf.fi0 + 1)) AS chk
             |  FROM dims m
             |  JOIN range(0, 9600) t(i) ON true
             |  CROSS JOIN LATERAL (SELECT t.i // 1920 AS fi0, t.i % 1920 AS j) qf
             |  CROSS JOIN LATERAL (SELECT
             |    CASE WHEN qf.j < 1280 THEN 0
             |         WHEN qf.j < 1600 THEN 1 ELSE 2 END AS pl) q0
             |  CROSS JOIN LATERAL (SELECT
             |    CASE q0.pl WHEN 0 THEN qf.j WHEN 1 THEN qf.j - 1280
             |      ELSE qf.j - 1600 END AS jj,
             |    CASE WHEN q0.pl = 0 THEN CASE WHEN m.colv THEN 80 ELSE 16 END
             |         ELSE CASE WHEN m.colv THEN 40 ELSE 8 END END AS wpl,
             |    CASE WHEN q0.pl = 0 THEN 16 ELSE 8 END AS mbspan) q2
             |  CROSS JOIN LATERAL (SELECT
             |    CASE WHEN m.colv THEN q2.jj % q2.wpl
             |         ELSE q2.jj // q2.wpl END AS s,
             |    CASE WHEN m.colv THEN q2.jj // q2.wpl
             |         ELSE q2.jj % q2.wpl END AS tt) q3
             |  CROSS JOIN LATERAL (SELECT q3.s // q2.mbspan AS mi,
             |    (q3.s % q2.mbspan) // (q2.mbspan // 2) AS qs,
             |    q3.tt // (q2.mbspan // 2) AS qt,
             |    (q3.s % (q2.mbspan // 2)) // (q2.mbspan // 4) AS us,
             |    (q3.tt % (q2.mbspan // 2)) // (q2.mbspan // 4) AS ut) q4
             |  CROSS JOIN LATERAL (SELECT
             |    CASE q0.pl WHEN 0 THEN 37 WHEN 1 THEN 91 ELSE 53 END AS ca1,
             |    CASE q0.pl WHEN 0 THEN 19 WHEN 1 THEN 29 ELSE 31 END AS ca2,
             |    CASE q0.pl WHEN 0 THEN 41 WHEN 1 THEN 67 ELSE 71 END AS cb1,
             |    CASE q0.pl WHEN 0 THEN 23 WHEN 1 THEN 17 ELSE 13 END AS cb2) cf
             |  CROSS JOIN LATERAL (SELECT
             |    CASE q4.mi
             |      WHEN 0 THEN CASE WHEN q4.qt = 0 THEN 0 ELSE 1 END
             |      WHEN 1 THEN CASE WHEN q4.qs = 0 THEN 1 ELSE 0 END
             |      WHEN 2 THEN CASE
             |        WHEN q4.qs = 0 AND q4.qt = 0 THEN 1
             |        WHEN q4.qs = 1 AND q4.qt = 0 THEN 0
             |        WHEN q4.qs = 0 AND q4.qt = 1 THEN 1
             |        ELSE 0 END
             |      WHEN 3 THEN 1
             |      ELSE CASE
             |        WHEN q4.qs = 0 AND q4.qt = 0 THEN 0
             |        WHEN q4.qs = 1 AND q4.qt = 0 THEN 1
             |        WHEN q4.qs = 0 AND q4.qt = 1 THEN 0
             |        ELSE 1 END
             |    END AS rr,
             |    CASE q4.mi
             |      WHEN 0 THEN CASE WHEN q4.qt = 0 THEN 0 ELSE 1 END
             |      WHEN 1 THEN CASE WHEN q4.qs = 0 THEN 1 ELSE 0 END
             |      WHEN 2 THEN CASE
             |        WHEN q4.qs = 0 AND q4.qt = 0 THEN 4
             |        WHEN q4.qs = 1 AND q4.qt = 0 THEN
             |          CASE WHEN q4.us = 0 THEN 2 ELSE 3 END
             |        WHEN q4.qs = 0 AND q4.qt = 1 THEN
             |          CASE WHEN q4.ut = 0 THEN 1 ELSE 2 END
             |        ELSE CASE
             |          WHEN q4.us = 0 AND q4.ut = 0 THEN 2
             |          WHEN q4.us = 1 AND q4.ut = 0 THEN 3
             |          WHEN q4.us = 0 AND q4.ut = 1 THEN 1
             |          ELSE 3 END END
             |      WHEN 3 THEN CASE WHEN q4.qt = 0 THEN 2 ELSE 4 END
             |      ELSE CASE
             |        WHEN q4.qs = 0 AND q4.qt = 0 THEN 3
             |        WHEN q4.qs = 1 AND q4.qt = 0 THEN 4
             |        WHEN q4.qs = 0 AND q4.qt = 1 THEN 4
             |        ELSE 0 END
             |    END AS kk) qr
             |  CROSS JOIN LATERAL (SELECT
             |    CASE WHEN qf.fi0 = 0 THEN (cf.ca1*m.d + cf.ca2*q4.mi) % 160 + 24
             |    WHEN qf.fi0 <= 2 THEN (cf.cb1*m.d + cf.cb2*q4.mi) % 160 + 24
             |    WHEN qf.fi0 = 3
             |      THEN (cf.cb1*m.d + cf.cb2*least(q4.mi + 1, 4)) % 160 + 24
             |    WHEN qr.rr = 0
             |      THEN (cf.cb1*m.d + cf.cb2*least(qr.kk + 1, 4)) % 160 + 24
             |    ELSE (cf.cb1*m.d + cf.cb2*qr.kk) % 160 + 24
             |    END AS val) vv
             |  GROUP BY m.d)
             |SELECT dims.d AS doc_id,
             |  CAST(CASE WHEN dims.colv THEN 80 ELSE 16 END AS BIGINT) AS width,
             |  CAST(CASE WHEN dims.colv THEN 16 ELSE 80 END AS BIGINT) AS height,
             |  CAST(5 AS BIGINT) AS n_frames,
             |  CAST(px.chk AS BIGINT) AS pix_checksum
             |FROM px JOIN dims ON px.d = dims.d ORDER BY doc_id""".stripMargin)),

    // REAL H.264 REFERENCE-LIST MODIFICATION (7.3.3.1 / 8.2.4.3),
    // graded byte-exact — the multi-reference sub-partition geometry
    // under a reordered list 0: one idc-0 command names picNum 0 (the
    // IDR) from CurrPicNum 2, flipping the default [P, IDR] order, so
    // every partition's te() ref_idx resolves to the OTHER picture. A
    // decoder that ignores the modification (or mis-runs the rolling
    // picNum predictor / front-insertion remap) reproduces the
    // un-flipped q_h264_pmref constant table and fails everywhere.
    ("q_h264_reorder",
      (s: SparkSession, d: String) =>
        Multimodal.decodeH264VideoStats(
            Multimodal.withH264ReorderMedia(t(s, d, "documents")))
          .toDF()
          .orderBy("doc_id"),
      Some("""WITH dims AS (
             |  SELECT doc_id AS d, doc_id % 2 = 0 AS colv FROM documents),
             |px AS (
             |  SELECT m.d,
             |    sum(vv.val * (qf.j % 97 + 1) * (qf.fi + 1)) AS chk
             |  FROM dims m
             |  JOIN range(0, 5760) t(i) ON true
             |  CROSS JOIN LATERAL (SELECT t.i // 1920 AS fi, t.i % 1920 AS j) qf
             |  CROSS JOIN LATERAL (SELECT
             |    CASE WHEN qf.j < 1280 THEN 0
             |         WHEN qf.j < 1600 THEN 1 ELSE 2 END AS pl) q0
             |  CROSS JOIN LATERAL (SELECT
             |    CASE q0.pl WHEN 0 THEN qf.j WHEN 1 THEN qf.j - 1280
             |      ELSE qf.j - 1600 END AS jj,
             |    CASE WHEN q0.pl = 0 THEN CASE WHEN m.colv THEN 80 ELSE 16 END
             |         ELSE CASE WHEN m.colv THEN 40 ELSE 8 END END AS wpl,
             |    CASE WHEN q0.pl = 0 THEN 16 ELSE 8 END AS mbspan) q2
             |  CROSS JOIN LATERAL (SELECT
             |    CASE WHEN m.colv THEN q2.jj % q2.wpl
             |         ELSE q2.jj // q2.wpl END AS s,
             |    CASE WHEN m.colv THEN q2.jj // q2.wpl
             |         ELSE q2.jj % q2.wpl END AS tt) q3
             |  CROSS JOIN LATERAL (SELECT q3.s // q2.mbspan AS mi,
             |    (q3.s % q2.mbspan) // (q2.mbspan // 2) AS qs,
             |    q3.tt // (q2.mbspan // 2) AS qt,
             |    (q3.s % (q2.mbspan // 2)) // (q2.mbspan // 4) AS us,
             |    (q3.tt % (q2.mbspan // 2)) // (q2.mbspan // 4) AS ut) q4
             |  CROSS JOIN LATERAL (SELECT
             |    CASE q0.pl WHEN 0 THEN 37 WHEN 1 THEN 91 ELSE 53 END AS ca1,
             |    CASE q0.pl WHEN 0 THEN 19 WHEN 1 THEN 29 ELSE 31 END AS ca2,
             |    CASE q0.pl WHEN 0 THEN 41 WHEN 1 THEN 67 ELSE 71 END AS cb1,
             |    CASE q0.pl WHEN 0 THEN 23 WHEN 1 THEN 17 ELSE 13 END AS cb2) cf
             |  CROSS JOIN LATERAL (SELECT
             |    (cf.ca1*m.d) % 160 + 24 AS a0v,
             |    (cf.ca1*m.d + cf.ca2) % 160 + 24 AS a1v,
             |    (cf.ca1*m.d + 2*cf.ca2) % 160 + 24 AS a2v,
             |    (cf.ca1*m.d + 3*cf.ca2) % 160 + 24 AS a3v,
             |    (cf.ca1*m.d + 4*cf.ca2) % 160 + 24 AS a4v,
             |    (cf.cb1*m.d) % 160 + 24 AS b0v,
             |    (cf.cb1*m.d + cf.cb2) % 160 + 24 AS b1v,
             |    (cf.cb1*m.d + 2*cf.cb2) % 160 + 24 AS b2v,
             |    (cf.cb1*m.d + 3*cf.cb2) % 160 + 24 AS b3v,
             |    (cf.cb1*m.d + 4*cf.cb2) % 160 + 24 AS b4v) av
             |  CROSS JOIN LATERAL (SELECT
             |    CASE WHEN qf.fi = 0 THEN
             |      (cf.ca1*m.d + cf.ca2*q4.mi) % 160 + 24
             |    WHEN qf.fi = 1 THEN
             |      (cf.cb1*m.d + cf.cb2*q4.mi) % 160 + 24
             |    ELSE CASE q4.mi
             |      WHEN 0 THEN CASE WHEN q4.qt = 0 THEN av.a0v ELSE av.b1v END
             |      WHEN 1 THEN CASE WHEN q4.qs = 0 THEN av.b1v ELSE av.a0v END
             |      WHEN 2 THEN CASE
             |        WHEN q4.qs = 0 AND q4.qt = 0 THEN av.b4v
             |        WHEN q4.qs = 1 AND q4.qt = 0 THEN
             |          CASE WHEN q4.us = 0 THEN av.a2v ELSE av.a3v END
             |        WHEN q4.qs = 0 AND q4.qt = 1 THEN
             |          CASE WHEN q4.ut = 0 THEN av.b1v ELSE av.b2v END
             |        ELSE CASE
             |          WHEN q4.us = 0 AND q4.ut = 0 THEN av.a2v
             |          WHEN q4.us = 1 AND q4.ut = 0 THEN av.a3v
             |          WHEN q4.us = 0 AND q4.ut = 1 THEN av.a1v
             |          ELSE av.a3v END END
             |      WHEN 3 THEN CASE WHEN q4.qt = 0 THEN av.b2v ELSE av.b4v END
             |      ELSE CASE
             |        WHEN q4.qs = 0 AND q4.qt = 0 THEN av.a3v
             |        WHEN q4.qs = 1 AND q4.qt = 0 THEN av.b4v
             |        WHEN q4.qs = 0 AND q4.qt = 1 THEN av.a4v
             |        ELSE av.b0v END
             |      END
             |    END AS val) vv
             |  GROUP BY m.d)
             |SELECT dims.d AS doc_id,
             |  CAST(CASE WHEN dims.colv THEN 80 ELSE 16 END AS BIGINT) AS width,
             |  CAST(CASE WHEN dims.colv THEN 16 ELSE 80 END AS BIGINT) AS height,
             |  CAST(3 AS BIGINT) AS n_frames,
             |  CAST(px.chk AS BIGINT) AS pix_checksum
             |FROM px JOIN dims ON px.d = dims.d ORDER BY doc_id""".stripMargin)),

    // REAL H.264 B-SLICE DEBLOCKING, graded byte-exact — the two-list
    // boundary-strength rules: different reference SETS (L0|L1, L1|Bi,
    // Bi|L0 edges -> bS=1), a per-PICTURE >=4-qpel mv difference between
    // two bi-predicted MBs (bS=1 via the picture-wise comparison, not a
    // list-wise shortcut), same-picture-same-mv (bS=0: the step MUST
    // stay sharp), and intra-in-B (bS=4) whose neighbours are >=20/9
    // levels away by construction so the edge never fires (no cascades;
    // the filtered offsets stay closed-form in the boundary constants,
    // with the alpha cutoffs graded organically on the varying deltas).
    ("q_h264_bdeblock",
      (s: SparkSession, d: String) =>
        Multimodal.decodeH264VideoStats(
            Multimodal.withH264BDeblockMedia(t(s, d, "documents")))
          .toDF()
          .orderBy("doc_id"),
      Some("""WITH dims AS (
             |  SELECT doc_id AS d, doc_id % 2 = 0 AS colv,
             |    doc_id % 4 >= 2 AS vy,
             |    CASE WHEN doc_id % 4 >= 2 THEN 80 ELSE 170 END AS rg
             |  FROM documents),
             |px AS (
             |  SELECT m.d,
             |    sum(vv.val * (qf.j % 97 + 1) * (qf.fi + 1)) AS chk
             |  FROM dims m
             |  JOIN range(0, 5760) t(i) ON true
             |  CROSS JOIN LATERAL (SELECT t.i // 1920 AS fi, t.i % 1920 AS j) qf
             |  CROSS JOIN LATERAL (SELECT
             |    CASE WHEN qf.j < 1280 THEN 0
             |         WHEN qf.j < 1600 THEN 1 ELSE 2 END AS pl) q0
             |  CROSS JOIN LATERAL (SELECT
             |    CASE q0.pl WHEN 0 THEN qf.j WHEN 1 THEN qf.j - 1280
             |      ELSE qf.j - 1600 END AS jj,
             |    CASE WHEN q0.pl = 0 THEN CASE WHEN m.colv THEN 80 ELSE 16 END
             |         ELSE CASE WHEN m.colv THEN 40 ELSE 8 END END AS wpl) q2
             |  CROSS JOIN LATERAL (SELECT
             |    CASE WHEN m.colv THEN q2.jj % q2.wpl
             |         ELSE q2.jj // q2.wpl END AS s) q3
             |  CROSS JOIN LATERAL (SELECT
             |    CASE WHEN q0.pl = 0 THEN q3.s // 16 ELSE q3.s // 8 END AS mi,
             |    CASE WHEN q0.pl = 0 THEN (q3.s + 2) // 16
             |         ELSE (q3.s + 1) // 8 END AS k) q4
             |  CROSS JOIN LATERAL (SELECT
             |    q3.s - (CASE WHEN q0.pl = 0 THEN 16 ELSE 8 END) * q4.k AS po) q5
             |  CROSS JOIN LATERAL (SELECT
             |    CASE q0.pl WHEN 0 THEN 31 WHEN 1 THEN 91 ELSE 53 END AS ca1,
             |    CASE q0.pl WHEN 0 THEN 17 WHEN 1 THEN 29 ELSE 31 END AS ca2,
             |    CASE q0.pl WHEN 0 THEN 41 WHEN 1 THEN 67 ELSE 71 END AS cb1,
             |    CASE q0.pl WHEN 0 THEN 23 WHEN 1 THEN 19 ELSE 13 END AS cb2,
             |    CASE q0.pl WHEN 0 THEN 43 WHEN 1 THEN 23 ELSE 83 END AS ci1,
             |    CASE q0.pl WHEN 0 THEN 11 WHEN 1 THEN 7 ELSE 3 END AS ci2) cf
             |  CROSS JOIN LATERAL (SELECT
             |    CASE WHEN NOT m.vy THEN CASE q4.mi
             |      WHEN 0 THEN 30 + (cf.cb1*m.d) % m.rg
             |      WHEN 1 THEN 30 + (cf.ca1*m.d + cf.ca2) % m.rg
             |      WHEN 2 THEN (30 + (cf.cb1*m.d + 2*cf.cb2) % m.rg
             |        + 30 + (cf.ca1*m.d + 2*cf.ca2) % m.rg + 1) // 2
             |      WHEN 3 THEN 30 + (cf.cb1*m.d + 3*cf.cb2) % m.rg
             |      ELSE 30 + (cf.cb1*m.d + 4*cf.cb2) % m.rg END
             |    ELSE CASE q4.mi
             |      WHEN 0 THEN 30 + (cf.cb1*m.d) % m.rg
             |      WHEN 1 THEN (30 + (cf.cb1*m.d + 2*cf.cb2) % m.rg
             |        + 30 + (cf.ca1*m.d + cf.ca2) % m.rg + 1) // 2
             |      WHEN 2 THEN (30 + (cf.cb1*m.d + 2*cf.cb2) % m.rg
             |        + 30 + (cf.ca1*m.d + 2*cf.ca2) % m.rg + 1) // 2
             |      WHEN 3 THEN 140 + (cf.ci1*m.d + 3*cf.ci2) % 80
             |      ELSE 30 + (cf.ca1*m.d + 4*cf.ca2) % m.rg END
             |    END AS v3own) q6
             |  CROSS JOIN LATERAL (SELECT
             |    qf.fi = 2 AND q4.k >= 1 AND q4.k <= 4
             |      AND (CASE WHEN NOT m.vy THEN q4.k <= 3 ELSE q4.k <= 2 END)
             |      AND (CASE WHEN q0.pl = 0 THEN q5.po >= -2 AND q5.po <= 1
             |           ELSE q5.po >= -1 AND q5.po <= 0 END) AS zone) q7
             |  CROSS JOIN LATERAL (SELECT
             |    CASE WHEN NOT q7.zone THEN 0 ELSE
             |    CASE WHEN NOT m.vy THEN CASE q4.k - 1
             |      WHEN 0 THEN 30 + (cf.cb1*m.d) % m.rg
             |      WHEN 1 THEN 30 + (cf.ca1*m.d + cf.ca2) % m.rg
             |      WHEN 2 THEN (30 + (cf.cb1*m.d + 2*cf.cb2) % m.rg
             |        + 30 + (cf.ca1*m.d + 2*cf.ca2) % m.rg + 1) // 2
             |      ELSE 30 + (cf.cb1*m.d + 3*cf.cb2) % m.rg END
             |    ELSE CASE q4.k - 1
             |      WHEN 0 THEN 30 + (cf.cb1*m.d) % m.rg
             |      ELSE (30 + (cf.cb1*m.d + 2*cf.cb2) % m.rg
             |        + 30 + (cf.ca1*m.d + cf.ca2) % m.rg + 1) // 2 END
             |    END END AS lv,
             |    CASE WHEN NOT q7.zone THEN 0 ELSE
             |    CASE WHEN NOT m.vy THEN CASE q4.k
             |      WHEN 1 THEN 30 + (cf.ca1*m.d + cf.ca2) % m.rg
             |      WHEN 2 THEN (30 + (cf.cb1*m.d + 2*cf.cb2) % m.rg
             |        + 30 + (cf.ca1*m.d + 2*cf.ca2) % m.rg + 1) // 2
             |      ELSE 30 + (cf.cb1*m.d + 3*cf.cb2) % m.rg END
             |    ELSE CASE q4.k
             |      WHEN 1 THEN (30 + (cf.cb1*m.d + 2*cf.cb2) % m.rg
             |        + 30 + (cf.ca1*m.d + cf.ca2) % m.rg + 1) // 2
             |      ELSE (30 + (cf.cb1*m.d + 2*cf.cb2) % m.rg
             |        + 30 + (cf.ca1*m.d + 2*cf.ca2) % m.rg + 1) // 2 END
             |    END END AS rv) q8
             |  CROSS JOIN LATERAL (SELECT q8.rv - q8.lv AS dd) q9
             |  CROSS JOIN LATERAL (SELECT
             |    q7.zone AND abs(q9.dd) <
             |      (CASE WHEN q0.pl = 0 THEN 20 ELSE 9 END) AS fire,
             |    GREATEST(-3, LEAST(3, (3*q9.dd + 4) >> 3)) AS dl,
             |    GREATEST(-2, LEAST(2, (3*q9.dd + 4) >> 3)) AS dc,
             |    (q8.lv + q8.rv + 1) >> 1 AS half) q10
             |  CROSS JOIN LATERAL (SELECT
             |    CASE WHEN qf.fi = 0 THEN
             |      CASE q0.pl WHEN 0 THEN 30 + (cf.ca1*m.d + cf.ca2*q4.mi) % m.rg
             |        ELSE 30 + (cf.ca1*m.d + cf.ca2*q4.mi) % m.rg END
             |    WHEN qf.fi = 1 THEN 30 + (cf.cb1*m.d + cf.cb2*q4.mi) % m.rg
             |    WHEN NOT q10.fire THEN q6.v3own
             |    WHEN q0.pl = 0 THEN CASE q5.po
             |      WHEN -2 THEN q8.lv + GREATEST(-1, LEAST(1, (q10.half - q8.lv) >> 1))
             |      WHEN -1 THEN q8.lv + q10.dl
             |      WHEN 0 THEN q8.rv - q10.dl
             |      ELSE q8.rv + GREATEST(-1, LEAST(1, (q10.half - q8.rv) >> 1)) END
             |    ELSE CASE q5.po
             |      WHEN -1 THEN q8.lv + q10.dc
             |      ELSE q8.rv - q10.dc END
             |    END AS val) vv
             |  GROUP BY m.d)
             |SELECT dims.d AS doc_id,
             |  CAST(CASE WHEN dims.colv THEN 80 ELSE 16 END AS BIGINT) AS width,
             |  CAST(CASE WHEN dims.colv THEN 16 ELSE 80 END AS BIGINT) AS height,
             |  CAST(3 AS BIGINT) AS n_frames,
             |  CAST(px.chk AS BIGINT) AS pix_checksum
             |FROM px JOIN dims ON px.d = dims.d ORDER BY doc_id""".stripMargin)),

    // REAL H.264 WEIGHTED PREDICTION + MULTI-REFERENCE LIST 0, graded
    // byte-exact — PPS weighted_pred_flag=1 with explicit per-reference
    // pred_weight_table (luma denom 2, chroma denom 1, weights and
    // offsets rotating by doc), num_ref_idx_l0_active_minus1=1 with
    // per-MB te()-coded ref_idx choosing between the P frame and the
    // IDR (which differ per MB by construction), two MBs composing MC
    // shifts with the weights, and the reference-matching MV predictor
    // discriminating by actual refIdx. Frame 2's identity weight table
    // grades the flag-covers-every-P-slice rule; a swapped reference,
    // wrong rounding term, or denominator drift moves the checksum.
    ("q_h264_weighted",
      (s: SparkSession, d: String) =>
        Multimodal.decodeH264VideoStats(
            Multimodal.withH264WeightedMedia(t(s, d, "documents")))
          .toDF()
          .orderBy("doc_id"),
      Some(H264WeightedOracleSql)),

    // The weighted multi-reference fixture re-encoded through CABAC:
    // ref_idx_l0 as 9.3.3.1.1.6 unary bins with the left/above
    // refIdx>0 contexts, the pred_weight_table unchanged (slice headers
    // are always exp-Golomb) — value-neutral, so the IDENTICAL oracle
    // grades it.
    ("q_h264_wcabac",
      (s: SparkSession, d: String) =>
        Multimodal.decodeH264VideoStats(
            Multimodal.withH264WeightedCabacMedia(t(s, d, "documents")))
          .toDF()
          .orderBy("doc_id"),
      Some(H264WeightedOracleSql)),


    // REAL VP8 B_PRED DIRECTIONAL SUB-MODES, graded byte-exact — the
    // full 4×4 intra prediction family (VE/HE/RD/VR/HD/LD/VL/HU on top
    // of the already-graded DC/TM): each doc's center MB hosts one
    // directional sub-block whose support is NON-UNIFORM (distinct
    // neighbor-MB values; steered donor sub-blocks feed the
    // above-right-reading LD/VL and the left-column-reading HU), so the
    // RFC 6386 §12.3 averaging pattern — diagonal bands, the avg2/avg3
    // cell maps, edge replication — lands per-pixel in the output and
    // the oracle replays it closed-form. The DC steering anchors each
    // block at pixel (3,3), with the decoder's reconstruction clamp
    // replayed on both sides.
    ("q_vp8_bpred",
      (s: SparkSession, d: String) =>
        Multimodal.decodePixelStats(
            Multimodal.withVp8BpredMedia(t(s, d, "documents")))
          .toDF()
          .drop("media_bytes")
          .orderBy("doc_id"),
      Some("""WITH base AS (
             |  SELECT doc_id AS d, doc_id % 8 AS v FROM documents),
             |px AS (
             |  SELECT b.d,
             |    sum(vv.val) AS pix_sum,
             |    sum(vv.val * (t.i % 97 + 1)) AS pix_checksum
             |  FROM base b
             |  JOIN range(0, 2304) t(i) ON true
             |  CROSS JOIN LATERAL (SELECT
             |    (31*b.d + 13*4) % 256 AS ty, (31*b.d + 13*1) % 256 AS av,
             |    (31*b.d + 13*3) % 256 AS lv, (31*b.d) % 256 AS alv,
             |    (31*b.d + 97) % 256 AS ta, (31*b.d + 181) % 256 AS tb) k
             |  CROSS JOIN LATERAL (SELECT
             |    CASE WHEN t.i < 1536 THEN 0
             |         WHEN t.i < 1920 THEN 1 ELSE 2 END AS pl) q0
             |  CROSS JOIN LATERAL (SELECT
             |    CASE q0.pl WHEN 0 THEN t.i % 48
             |      WHEN 1 THEN (t.i - 1536) % 24 ELSE (t.i - 1920) % 24 END AS x,
             |    CASE q0.pl WHEN 0 THEN t.i // 48
             |      WHEN 1 THEN (t.i - 1536) // 24 ELSE (t.i - 1920) // 24 END AS yy) q1
             |  CROSS JOIN LATERAL (SELECT
             |    CASE q0.pl WHEN 0 THEN (q1.yy // 16) * 3 + q1.x // 16
             |      ELSE (q1.yy // 8) * 3 + q1.x // 8 END AS mb,
             |    q1.x % 16 AS lx, q1.yy % 16 AS ly) q2
             |  CROSS JOIN LATERAL (SELECT
             |    (q2.ly // 4) * 4 + q2.lx // 4 AS sb,
             |    q2.ly % 4 AS r2, q2.lx % 4 AS c2) q3
             |  CROSS JOIN LATERAL (SELECT
             |    (k.alv + 3*k.av + 2) >> 2 AS a3_al_a,
             |    (k.alv + 3*k.lv + 2) >> 2 AS a3_al_l,
             |    (3*k.lv + k.alv + 2) >> 2 AS a3_3l_al,
             |    (k.lv + 2*k.alv + k.av + 2) >> 2 AS a3_l_al_a,
             |    (k.alv + k.av + 1) >> 1 AS a2_al_a,
             |    (k.lv + k.alv + 1) >> 1 AS a2_l_al,
             |    (3*k.ta + k.tb + 2) >> 2 AS a3_3ta_tb,
             |    (k.ta + 3*k.tb + 2) >> 2 AS a3_ta_3tb,
             |    (k.ta + k.tb + 1) >> 1 AS a2_ta_tb,
             |    greatest(0, least(255, ((k.alv + 3*k.lv + 2) >> 2)
             |      + k.ty - k.lv)) AS xv) f
             |  CROSS JOIN LATERAL (SELECT
             |    CASE WHEN q0.pl = 1 THEN (91*b.d + 7*q2.mb) % 256
             |    WHEN q0.pl = 2 THEN (53*b.d + 11*q2.mb) % 256
             |    WHEN q2.mb <> 4 THEN (31*b.d + 13*q2.mb) % 256
             |    ELSE greatest(0, least(255,
             |      CASE b.v
             |      WHEN 0 THEN CASE WHEN q3.sb = 0 AND q3.c2 = 0
             |        THEN f.a3_al_a + k.ty - k.av ELSE k.ty END
             |      WHEN 1 THEN CASE WHEN q3.sb = 0 AND q3.r2 = 0
             |        THEN f.a3_al_l + k.ty - k.lv ELSE k.ty END
             |      WHEN 2 THEN CASE WHEN q3.sb <> 0 THEN k.ty ELSE
             |        (CASE q3.c2 - q3.r2
             |          WHEN -3 THEN k.lv WHEN -2 THEN k.lv
             |          WHEN -1 THEN f.a3_3l_al
             |          WHEN 0 THEN f.a3_l_al_a
             |          WHEN 1 THEN f.a3_al_a ELSE k.av END)
             |        + k.ty - f.a3_l_al_a END
             |      WHEN 3 THEN CASE WHEN q3.sb <> 0 THEN k.ty ELSE
             |        (CASE
             |          WHEN q3.r2 = 0 THEN
             |            CASE WHEN q3.c2 = 0 THEN f.a2_al_a ELSE k.av END
             |          WHEN q3.r2 = 1 THEN
             |            CASE WHEN q3.c2 = 0 THEN f.a3_l_al_a
             |                 WHEN q3.c2 = 1 THEN f.a3_al_a ELSE k.av END
             |          WHEN q3.r2 = 2 THEN
             |            CASE WHEN q3.c2 = 0 THEN f.a3_3l_al
             |                 WHEN q3.c2 = 1 THEN f.a2_al_a ELSE k.av END
             |          ELSE
             |            CASE WHEN q3.c2 = 0 THEN k.lv
             |                 WHEN q3.c2 = 1 THEN f.a3_l_al_a
             |                 WHEN q3.c2 = 2 THEN f.a3_al_a ELSE k.av END
             |        END) + k.ty - k.av END
             |      WHEN 4 THEN CASE WHEN q3.sb <> 0 THEN k.ty ELSE
             |        (CASE
             |          WHEN q3.r2 = 0 THEN
             |            CASE WHEN q3.c2 = 0 THEN f.a2_l_al
             |                 WHEN q3.c2 = 1 THEN f.a3_l_al_a
             |                 WHEN q3.c2 = 2 THEN f.a3_al_a ELSE k.av END
             |          WHEN q3.r2 = 1 THEN
             |            CASE WHEN q3.c2 = 0 THEN k.lv
             |                 WHEN q3.c2 = 1 THEN f.a3_3l_al
             |                 WHEN q3.c2 = 2 THEN f.a2_l_al
             |                 ELSE f.a3_l_al_a END
             |          WHEN q3.r2 = 2 THEN
             |            CASE WHEN q3.c2 <= 1 THEN k.lv
             |                 WHEN q3.c2 = 2 THEN k.lv ELSE f.a3_3l_al END
             |          ELSE k.lv
             |        END) + k.ty - k.lv END
             |      WHEN 5 THEN
             |        CASE WHEN q3.sb = 0 THEN k.ta WHEN q3.sb = 1 THEN k.tb
             |        WHEN q3.sb <> 4 THEN k.ty ELSE
             |        (CASE q3.r2 + q3.c2
             |          WHEN 0 THEN k.ta WHEN 1 THEN k.ta
             |          WHEN 2 THEN f.a3_3ta_tb WHEN 3 THEN f.a3_ta_3tb
             |          ELSE k.tb END) + k.ty - k.tb END
             |      WHEN 6 THEN
             |        CASE WHEN q3.sb = 0 THEN k.ta WHEN q3.sb = 1 THEN k.tb
             |        WHEN q3.sb <> 4 THEN k.ty ELSE
             |        (CASE
             |          WHEN q3.r2 = 0 THEN
             |            CASE WHEN q3.c2 <= 2 THEN k.ta ELSE f.a2_ta_tb END
             |          WHEN q3.r2 = 1 THEN
             |            CASE WHEN q3.c2 <= 1 THEN k.ta
             |                 WHEN q3.c2 = 2 THEN f.a3_3ta_tb
             |                 ELSE f.a3_ta_3tb END
             |          WHEN q3.r2 = 2 THEN
             |            CASE WHEN q3.c2 <= 1 THEN k.ta
             |                 WHEN q3.c2 = 2 THEN f.a2_ta_tb ELSE k.tb END
             |          ELSE
             |            CASE WHEN q3.c2 = 0 THEN k.ta
             |                 WHEN q3.c2 = 1 THEN f.a3_3ta_tb
             |                 WHEN q3.c2 = 2 THEN f.a3_ta_3tb ELSE k.tb END
             |        END) + k.ty - k.tb END
             |      ELSE
             |        CASE WHEN q3.sb = 0 AND q3.r2 = 0 THEN f.xv
             |        WHEN q3.sb = 1 AND q3.r2 = 0 AND q3.c2 = 0
             |          THEN (f.xv + k.ty + 1) >> 1
             |        WHEN q3.sb = 1 AND q3.r2 = 0 AND q3.c2 = 1
             |          THEN (f.xv + 3*k.ty + 2) >> 2
             |        ELSE k.ty END
             |      END))
             |    END AS val) vv
             |  GROUP BY b.d)
             |SELECT d AS doc_id, 'vp8' AS format,
             |  CAST(48 AS BIGINT) AS width, CAST(32 AS BIGINT) AS height,
             |  CAST(3 AS BIGINT) AS channels,
             |  CAST(2304 AS BIGINT) AS n_pixel_bytes,
             |  CAST(pix_sum AS BIGINT) AS pix_sum,
             |  CAST(pix_checksum AS BIGINT) AS pix_checksum
             |FROM px ORDER BY doc_id""".stripMargin)),

    // REAL VP8 LOOP FILTER, graded byte-exact — the in-loop deblocking
    // stage every real VP8 stream runs: each doc carries a key frame
    // whose per-MB uniform targets are STRIPED along one axis, so
    // exactly one edge direction activates (between two EQUAL uniform
    // regions every RFC 6386 filter is an exact no-op — those edges
    // still run, and a filter that fires where it must not moves the
    // checksum) and the filtered pixels stay per-pixel closed-form.
    // Variants rotate the filter type (simple: luma p0/q0; normal:
    // luma+chroma with the 27/18/9 three-pixel MB-edge cascade), the
    // stripe axis, the 6-bit level and the 3-bit sharpness (driving the
    // §15.1 interior-limit/edge-limit derivation the oracle replays).
    // Cross-direction composition order is pinned by the checkerboard
    // spec replay (Vp8CodecSpec); arithmetic-shift semantics match on
    // both sides.
    ("q_vp8_loopfilter",
      (s: SparkSession, d: String) =>
        Multimodal.decodePixelStats(
            Multimodal.withVp8LoopfilterMedia(t(s, d, "documents")))
          .toDF()
          .drop("media_bytes")
          .orderBy("doc_id"),
      Some("""WITH dims AS (
             |  SELECT doc_id AS d,
             |    CASE WHEN doc_id % 2 = 0 THEN 16*(2 + n_chars % 2)
             |         ELSE 16 END AS w,
             |    CASE WHEN doc_id % 2 = 0 THEN 16
             |         ELSE 16*(2 + n_chars % 2) END AS h,
             |    doc_id % 4 < 2 AS simple, doc_id % 2 = 0 AS colv,
             |    1 + doc_id % 63 AS lvl, doc_id % 8 AS shp
             |  FROM documents),
             |lims AS (
             |  SELECT *,
             |    greatest(CASE WHEN shp > 0
             |      THEN least(lvl >> (CASE WHEN shp > 4 THEN 2 ELSE 1 END),
             |                 9 - shp)
             |      ELSE lvl END, 1) AS il
             |  FROM dims),
             |px AS (
             |  SELECT m.d, m.w, m.h,
             |    sum(vv.val) AS pix_sum,
             |    sum(vv.val * (t.i % 97 + 1)) AS pix_checksum
             |  FROM (SELECT *, (lvl + 2)*2 + il AS mblim FROM lims) m
             |  JOIN range(0, 1152) t(i) ON t.i < m.w*m.h*3//2
             |  CROSS JOIN LATERAL (SELECT
             |    CASE WHEN t.i < m.w*m.h THEN 0
             |         WHEN t.i < m.w*m.h + (m.w//2)*(m.h//2) THEN 1
             |         ELSE 2 END AS pl) q0
             |  CROSS JOIN LATERAL (SELECT
             |    CASE q0.pl WHEN 0 THEN t.i % m.w
             |      WHEN 1 THEN (t.i - m.w*m.h) % (m.w//2)
             |      ELSE (t.i - m.w*m.h - (m.w//2)*(m.h//2)) % (m.w//2) END AS x,
             |    CASE q0.pl WHEN 0 THEN t.i // m.w
             |      WHEN 1 THEN (t.i - m.w*m.h) // (m.w//2)
             |      ELSE (t.i - m.w*m.h - (m.w//2)*(m.h//2)) // (m.w//2) END AS yy,
             |    CASE WHEN q0.pl = 0 THEN 16 ELSE 8 END AS smb) q1
             |  CROSS JOIN LATERAL (SELECT
             |    (CASE WHEN m.colv THEN q1.x ELSE q1.yy END) // q1.smb AS j,
             |    (CASE WHEN m.colv THEN q1.x ELSE q1.yy END) % q1.smb AS o,
             |    CASE WHEN m.colv THEN m.w // 16 ELSE m.h // 16 END AS n) q2
             |  CROSS JOIN LATERAL (SELECT
             |    CASE WHEN m.simple THEN
             |      CASE q0.pl WHEN 0 THEN (31*m.d + 29*q2.j) % 256
             |        WHEN 1 THEN (91*m.d + 17*q2.j) % 256
             |        ELSE (53*m.d + 23*q2.j) % 256 END
             |    ELSE
             |      CASE q0.pl
             |        WHEN 0 THEN 30 + (31*m.d) % 170
             |          + ((q2.j + m.d) % 2) * (1 + m.d % 24)
             |        WHEN 1 THEN 25 + (91*m.d) % 180
             |          + ((q2.j + m.d) % 2) * (1 + (m.d + 7) % 24)
             |        ELSE 20 + (53*m.d) % 190
             |          + ((q2.j + m.d) % 2) * (1 + (m.d + 13) % 24)
             |      END END AS tv,
             |    CASE WHEN m.simple THEN
             |      CASE q0.pl WHEN 0 THEN (31*m.d + 29*(q2.j - 1)) % 256
             |        WHEN 1 THEN (91*m.d + 17*(q2.j - 1)) % 256
             |        ELSE (53*m.d + 23*(q2.j - 1)) % 256 END
             |    ELSE
             |      CASE q0.pl
             |        WHEN 0 THEN 30 + (31*m.d) % 170
             |          + ((q2.j - 1 + m.d) % 2) * (1 + m.d % 24)
             |        WHEN 1 THEN 25 + (91*m.d) % 180
             |          + ((q2.j - 1 + m.d) % 2) * (1 + (m.d + 7) % 24)
             |        ELSE 20 + (53*m.d) % 190
             |          + ((q2.j - 1 + m.d) % 2) * (1 + (m.d + 13) % 24)
             |      END END AS tm,
             |    CASE WHEN m.simple THEN
             |      CASE q0.pl WHEN 0 THEN (31*m.d + 29*(q2.j + 1)) % 256
             |        WHEN 1 THEN (91*m.d + 17*(q2.j + 1)) % 256
             |        ELSE (53*m.d + 23*(q2.j + 1)) % 256 END
             |    ELSE
             |      CASE q0.pl
             |        WHEN 0 THEN 30 + (31*m.d) % 170
             |          + ((q2.j + 1 + m.d) % 2) * (1 + m.d % 24)
             |        WHEN 1 THEN 25 + (91*m.d) % 180
             |          + ((q2.j + 1 + m.d) % 2) * (1 + (m.d + 7) % 24)
             |        ELSE 20 + (53*m.d) % 190
             |          + ((q2.j + 1 + m.d) % 2) * (1 + (m.d + 13) % 24)
             |      END END AS tp) q3
             |  CROSS JOIN LATERAL (SELECT
             |    q2.j > 0 AND (CASE WHEN m.simple
             |      THEN q0.pl = 0 AND q2.o = 0 ELSE q2.o <= 2 END) AS aq,
             |    q2.j < q2.n - 1 AND (CASE WHEN m.simple
             |      THEN q0.pl = 0 AND q2.o = q1.smb - 1
             |      ELSE q1.smb - 1 - q2.o <= 2 END) AS ap) q4
             |  CROSS JOIN LATERAL (SELECT
             |    (CASE WHEN q4.aq THEN q3.tm ELSE q3.tv END) - 128 AS sp,
             |    (CASE WHEN q4.aq THEN q3.tv ELSE q3.tp END) - 128 AS sq) q5
             |  CROSS JOIN LATERAL (SELECT
             |    q5.sp - q5.sq AS dd) q6
             |  CROSS JOIN LATERAL (SELECT
             |    abs(q6.dd)*2 + abs(q6.dd)//2 <= m.mblim AS cond,
             |    greatest(-128, least(127,
             |      greatest(-128, least(127, q6.dd)) - 3*q6.dd)) AS wv) q7
             |  CROSS JOIN LATERAL (SELECT
             |    greatest(-128, least(127, q7.wv + 4)) >> 3 AS f1,
             |    greatest(-128, least(127, q7.wv + 3)) >> 3 AS f2,
             |    greatest(-128, least(127, (27*q7.wv + 63) >> 7)) AS a27,
             |    greatest(-128, least(127, (18*q7.wv + 63) >> 7)) AS a18,
             |    greatest(-128, least(127, (9*q7.wv + 63) >> 7)) AS a9) q8
             |  CROSS JOIN LATERAL (SELECT
             |    CASE WHEN NOT (q4.aq OR q4.ap) OR NOT q7.cond THEN q3.tv
             |    WHEN m.simple THEN
             |      CASE WHEN q4.aq
             |        THEN greatest(-128, least(127, q5.sq - q8.f1)) + 128
             |        ELSE greatest(-128, least(127, q5.sp + q8.f2)) + 128 END
             |    WHEN q4.aq THEN
             |      greatest(-128, least(127, q5.sq - (CASE q2.o
             |        WHEN 0 THEN q8.a27 WHEN 1 THEN q8.a18
             |        ELSE q8.a9 END))) + 128
             |    ELSE
             |      greatest(-128, least(127, q5.sp + (CASE q1.smb - 1 - q2.o
             |        WHEN 0 THEN q8.a27 WHEN 1 THEN q8.a18
             |        ELSE q8.a9 END))) + 128
             |    END AS val) vv
             |  GROUP BY m.d, m.w, m.h)
             |SELECT d AS doc_id, 'vp8' AS format,
             |  CAST(w AS BIGINT) AS width, CAST(h AS BIGINT) AS height,
             |  CAST(3 AS BIGINT) AS channels,
             |  CAST(w*h*3//2 AS BIGINT) AS n_pixel_bytes,
             |  CAST(pix_sum AS BIGINT) AS pix_sum,
             |  CAST(pix_checksum AS BIGINT) AS pix_checksum
             |FROM px ORDER BY doc_id""".stripMargin)),

    // REAL VP8 INTER-FRAME (motion-compensated) decode, graded byte-exact:
    // each doc carries a genuine 3-frame VP8 video in an IVF container —
    // key frame, an inter frame referencing LAST, and an inter frame
    // mixing LAST and GOLDEN references — with per-MB modes rotating
    // through ZEROMV / NEWMV (real MV entropy coding: survey-based best-MV
    // deltas, short-tree/long-form components, in-stream MV prob updates)
    // / skip (pure motion-compensated copy, NO residue) / intra-in-inter.
    // Residues are steered so reconstruction lands on closed-form targets
    // (the q_vp8_key_decode discipline); the skip MBs are what the oracle
    // cannot fake: frame 3's golden-skip MBs must reproduce FRAME 1's
    // values (the golden buffer) and its last-skip MBs FRAME 2's — any
    // buffer-management, MC, or mode-decode drift moves the checksum.
    ("q_vp8_inter_decode",
      (s: SparkSession, d: String) =>
        Multimodal.decodeVp8VideoStats(
            Multimodal.withVp8VideoMedia(t(s, d, "documents")))
          .toDF()
          .orderBy("doc_id"),
      Some("""WITH dims AS (
             |  SELECT doc_id,
             |    16*(1 + n_chars % 3) AS w, 16*(1 + n_chars % 2) AS h
             |  FROM documents),
             |px AS (
             |  SELECT d.doc_id, d.w, d.h,
             |    sum(vl.val * (t.i % 97 + 1) * (f.f + 1)) AS pix_checksum
             |  FROM dims d
             |  JOIN range(0, 3) f(f) ON true
             |  JOIN range(0, 2304) t(i) ON t.i < d.w*d.h*3//2
             |  CROSS JOIN LATERAL (SELECT
             |    CASE WHEN t.i < d.w*d.h THEN 0
             |         WHEN t.i < d.w*d.h + (d.w//2)*(d.h//2) THEN 1
             |         ELSE 2 END AS pl,
             |    CASE WHEN t.i < d.w*d.h THEN
             |      ((t.i // d.w) // 16) * (d.w//16) + (t.i % d.w) // 16
             |    WHEN t.i < d.w*d.h + (d.w//2)*(d.h//2) THEN
             |      (((t.i - d.w*d.h) // (d.w//2)) // 8) * (d.w//16)
             |        + ((t.i - d.w*d.h) % (d.w//2)) // 8
             |    ELSE
             |      (((t.i - d.w*d.h - (d.w//2)*(d.h//2)) // (d.w//2)) // 8)
             |        * (d.w//16)
             |        + ((t.i - d.w*d.h - (d.w//2)*(d.h//2)) % (d.w//2)) // 8
             |    END AS m) q
             |  CROSS JOIN LATERAL (SELECT
             |    CASE q.pl WHEN 0 THEN (31*d.doc_id + 13*q.m) % 256
             |              WHEN 1 THEN (91*d.doc_id + 7*q.m) % 256
             |              ELSE (53*d.doc_id + 11*q.m) % 256 END AS v1,
             |    CASE q.pl WHEN 0 THEN (47*d.doc_id + 17*q.m) % 256
             |              WHEN 1 THEN (23*d.doc_id + 5*q.m) % 256
             |              ELSE (67*d.doc_id + 3*q.m) % 256 END AS t2,
             |    CASE q.pl WHEN 0 THEN (29*d.doc_id + 19*q.m) % 256
             |              WHEN 1 THEN (41*d.doc_id + 13*q.m) % 256
             |              ELSE (59*d.doc_id + 23*q.m) % 256 END AS t3) vv
             |  CROSS JOIN LATERAL (SELECT
             |    CASE WHEN (q.m + d.doc_id) % 4 = 2 THEN vv.v1 ELSE vv.t2 END
             |      AS f2v) w2
             |  CROSS JOIN LATERAL (SELECT
             |    CASE f.f WHEN 0 THEN vv.v1 WHEN 1 THEN w2.f2v
             |      ELSE CASE (q.m + 2*d.doc_id) % 4
             |        WHEN 0 THEN vv.v1 WHEN 1 THEN w2.f2v ELSE vv.t3 END
             |    END AS val) vl
             |  GROUP BY d.doc_id, d.w, d.h)
             |SELECT doc_id,
             |  CAST(w AS BIGINT) AS width, CAST(h AS BIGINT) AS height,
             |  CAST(3 AS BIGINT) AS n_frames,
             |  CAST(pix_checksum AS BIGINT) AS pix_checksum
             |FROM px ORDER BY doc_id""".stripMargin)),

    // REAL VP8 SPLITMV, graded byte-exact — the last VP8 macroblock mode:
    // per-partition motion vectors (all four partitionings: two 16x8,
    // two 8x16, four 8x8, sixteen 4x4), the LEFT4X4/ABOVE4X4/ZERO4X4/
    // NEW4X4 sub-mv grammar with its (left, above) context classification
    // (codes occur organically from the encoder's choice rule), per-4x4
    // motion compensation, chroma MVs DERIVED per 2x2 luma group (the
    // signed /8 rounding), no Y2 (plane-3 luma blocks carry their own
    // DC), and the Y2-context skip rule for skipped split MBs. Sub-MVs
    // select zero / one-MB-left / one-MB-up whole-MB shifts, so every
    // cell copies a uniform reference region and the oracle replays the
    // whole frame per pixel; every fifth MB is coded with residue
    // (common MV) exercising the plane-3 token path.
    ("q_vp8_splitmv",
      (s: SparkSession, d: String) =>
        Multimodal.decodeVp8VideoStats(
            Multimodal.withVp8SplitmvMedia(t(s, d, "documents")))
          .toDF()
          .orderBy("doc_id"),
      Some("""WITH dims AS (
             |  SELECT doc_id AS d, 16*(3 + n_chars % 2) AS w, 32 AS h
             |  FROM documents),
             |px AS (
             |  SELECT m.d, m.w, m.h,
             |    sum(vl.val * (t.i % 97 + 1) * (f.f + 1)) AS pix_checksum
             |  FROM (SELECT *, w // 16 AS mbw FROM dims) m
             |  JOIN range(0, 2) f(f) ON true
             |  JOIN range(0, 3072) t(i) ON t.i < m.w*m.h*3//2
             |  CROSS JOIN LATERAL (SELECT
             |    CASE WHEN t.i < m.w*m.h THEN 0
             |         WHEN t.i < m.w*m.h + (m.w//2)*(m.h//2) THEN 1
             |         ELSE 2 END AS pl) q0
             |  CROSS JOIN LATERAL (SELECT
             |    CASE q0.pl WHEN 0 THEN t.i % m.w
             |      WHEN 1 THEN (t.i - m.w*m.h) % (m.w//2)
             |      ELSE (t.i - m.w*m.h - (m.w//2)*(m.h//2)) % (m.w//2) END AS x,
             |    CASE q0.pl WHEN 0 THEN t.i // m.w
             |      WHEN 1 THEN (t.i - m.w*m.h) // (m.w//2)
             |      ELSE (t.i - m.w*m.h - (m.w//2)*(m.h//2)) // (m.w//2) END AS yy) q1
             |  CROSS JOIN LATERAL (SELECT
             |    CASE q0.pl WHEN 0 THEN (q1.yy // 16) * m.mbw + q1.x // 16
             |      ELSE (q1.yy // 8) * m.mbw + q1.x // 8 END AS mb,
             |    CASE q0.pl WHEN 0 THEN (q1.yy % 16) // 4
             |      ELSE (q1.yy % 8) // 4 END AS gr,
             |    CASE q0.pl WHEN 0 THEN (q1.x % 16) // 4
             |      ELSE (q1.x % 8) // 4 END AS gc) q2
             |  CROSS JOIN LATERAL (SELECT
             |    (q2.mb + m.d) % 4 AS p,
             |    (q2.mb + m.d) % 5 = 0 AS residue,
             |    q2.mb // m.mbw AS mr, q2.mb % m.mbw AS mc) q3
             |  CROSS JOIN LATERAL (SELECT
             |    CASE q3.p WHEN 0 THEN q2.gr // (CASE q0.pl WHEN 0 THEN 2 ELSE 1 END)
             |      WHEN 1 THEN q2.gc // (CASE q0.pl WHEN 0 THEN 2 ELSE 1 END)
             |      ELSE (q2.gr // (CASE q0.pl WHEN 0 THEN 2 ELSE 1 END)) * 2
             |        + q2.gc // (CASE q0.pl WHEN 0 THEN 2 ELSE 1 END) END AS gk) q4
             |  CROSS JOIN LATERAL (SELECT
             |    CASE WHEN f.f = 0 OR q3.residue THEN q2.mb
             |    ELSE CASE (q4.gk + q2.mb + m.d) % 3
             |      WHEN 1 THEN CASE WHEN q3.mc > 0 THEN q2.mb - 1 ELSE q2.mb END
             |      WHEN 2 THEN CASE WHEN q3.mr > 0 THEN q2.mb - m.mbw ELSE q2.mb END
             |      ELSE q2.mb END
             |    END AS src) q5
             |  CROSS JOIN LATERAL (SELECT
             |    CASE WHEN f.f = 1 AND q3.residue THEN
             |      CASE q0.pl WHEN 0 THEN (77 + 31*m.d + 13*q2.mb) % 256
             |        WHEN 1 THEN (59 + 91*m.d + 7*q2.mb) % 256
             |        ELSE (43 + 53*m.d + 11*q2.mb) % 256 END
             |    ELSE
             |      CASE q0.pl WHEN 0 THEN (31*m.d + 13*q5.src) % 256
             |        WHEN 1 THEN (91*m.d + 7*q5.src) % 256
             |        ELSE (53*m.d + 11*q5.src) % 256 END
             |    END AS val) vl
             |  GROUP BY m.d, m.w, m.h)
             |SELECT d AS doc_id,
             |  CAST(w AS BIGINT) AS width, CAST(h AS BIGINT) AS height,
             |  CAST(2 AS BIGINT) AS n_frames,
             |  CAST(pix_checksum AS BIGINT) AS pix_checksum
             |FROM px ORDER BY doc_id""".stripMargin)),

    // SUB-PEL motion compensation graded: the key frame is uniform over
    // 2×2-MB tiles and the inter frame's odd-position MBs skip with a
    // (−60,−60) eighth-pel MV (−7.5 px, two-pass 6-tap interpolation on
    // BOTH axes, chroma halved to (−30,−30)) whose support stays inside
    // the tile — the RFC 6386 filter must collapse a constant region to
    // exactly that constant (rows sum to 128; ((128·A)+64)>>7 = A), so
    // any tap-normalization, rounding, pass-order, offset, or
    // chroma-halving drift moves the hashed checksum. Non-uniform-data
    // tap ORDER is pinned bit-exactly by the mcFetch spec replay.
    ("q_vp8_subpel",
      (s: SparkSession, d: String) =>
        Multimodal.decodeVp8VideoStats(
            Multimodal.withVp8SubpelMedia(t(s, d, "documents")))
          .toDF()
          .orderBy("doc_id"),
      Some("""WITH dims AS (
             |  SELECT doc_id, 16*(2 + n_chars % 2) AS w, 32 AS h
             |  FROM documents),
             |px AS (
             |  SELECT d.doc_id, d.w, d.h,
             |    sum(vl.val * (t.i % 97 + 1) * (f.f + 1)) AS pix_checksum
             |  FROM dims d
             |  JOIN range(0, 2) f(f) ON true
             |  JOIN range(0, 2304) t(i) ON t.i < d.w*d.h*3//2
             |  CROSS JOIN LATERAL (SELECT
             |    CASE WHEN t.i < d.w*d.h THEN 0
             |         WHEN t.i < d.w*d.h + (d.w//2)*(d.h//2) THEN 1
             |         ELSE 2 END AS pl,
             |    CASE WHEN t.i < d.w*d.h THEN
             |      ((t.i // d.w) // 16) * (d.w//16) + (t.i % d.w) // 16
             |    WHEN t.i < d.w*d.h + (d.w//2)*(d.h//2) THEN
             |      (((t.i - d.w*d.h) // (d.w//2)) // 8) * (d.w//16)
             |        + ((t.i - d.w*d.h) % (d.w//2)) // 8
             |    ELSE
             |      (((t.i - d.w*d.h - (d.w//2)*(d.h//2)) // (d.w//2)) // 8)
             |        * (d.w//16)
             |        + ((t.i - d.w*d.h - (d.w//2)*(d.h//2)) % (d.w//2)) // 8
             |    END AS m) q
             |  CROSS JOIN LATERAL (SELECT
             |    (q.m // (d.w//16) // 2) * ((d.w//16 + 1) // 2)
             |      + (q.m % (d.w//16)) // 2 AS ti,
             |    q.m // (d.w//16) AS mr, q.m % (d.w//16) AS mc) tt
             |  CROSS JOIN LATERAL (SELECT
             |    CASE q.pl WHEN 0 THEN (31*d.doc_id + 13*tt.ti) % 256
             |              WHEN 1 THEN (91*d.doc_id + 7*tt.ti) % 256
             |              ELSE (53*d.doc_id + 11*tt.ti) % 256 END AS v1,
             |    CASE q.pl WHEN 0 THEN (47*d.doc_id + 17*q.m) % 256
             |              WHEN 1 THEN (23*d.doc_id + 5*q.m) % 256
             |              ELSE (67*d.doc_id + 3*q.m) % 256 END AS t2) vv
             |  CROSS JOIN LATERAL (SELECT
             |    CASE WHEN f.f = 0 THEN vv.v1
             |      WHEN (tt.mr % 2 = 1 AND tt.mc % 2 = 1)
             |        OR (q.m + d.doc_id) % 2 = 0 THEN vv.v1
             |      ELSE vv.t2 END AS val) vl
             |  GROUP BY d.doc_id, d.w, d.h)
             |SELECT doc_id,
             |  CAST(w AS BIGINT) AS width, CAST(h AS BIGINT) AS height,
             |  CAST(2 AS BIGINT) AS n_frames,
             |  CAST(pix_checksum AS BIGINT) AS pix_checksum
             |FROM px ORDER BY doc_id""".stripMargin)),

    // VP8 reference-buffer machinery graded: a 5-frame sequence whose
    // probing MBs are all SKIP+ZEROMV (pure bookkeeping): F2 refreshes
    // LAST only; F3 copies pre-frame LAST into ALT while its MBs read
    // the PRE-frame alt (the swap-order law); F4 copies pre-frame ALT
    // into GOLDEN while probing all three buffers; F5 proves both
    // copies landed. Any refresh/copy/reference mix-up, or applying a
    // copy before the frame's own references resolve, surfaces the
    // wrong target family in the hashed checksum.
    // REAL VP8 REFERENCE SIGN BIAS (RFC 6386 9.7), graded byte-exact —
    // the sign_bias_golden / sign_bias_alternate header bits and the
    // candidate negation in the near-MV survey: a neighbor whose
    // reference sits on the other side of the bias boundary contributes
    // its NEGATED vector, so every NEAREST-mode macroblock in the
    // fixture fetches one macroblock on the OTHER side of its coded
    // neighbor's motion. Even docs bias golden, odd docs altref; a
    // decoder ignoring the bias fetches the mirror-image constants (and
    // one candidate would even leave the frame).
    ("q_vp8_bias",
      (s: SparkSession, d: String) =>
        Multimodal.decodeVp8VideoStats(
            Multimodal.withVp8BiasMedia(t(s, d, "documents")))
          .toDF()
          .orderBy("doc_id"),
      Some("""WITH px AS (
             |  SELECT d.doc_id,
             |    sum(vl.val * (t.i % 97 + 1) * (f.f + 1)) AS pix_checksum
             |  FROM documents d
             |  JOIN range(0, 3) f(f) ON true
             |  JOIN range(0, 1920) t(i) ON true
             |  CROSS JOIN LATERAL (SELECT
             |    CASE WHEN t.i < 1280 THEN 0
             |         WHEN t.i < 1600 THEN 1 ELSE 2 END AS pl,
             |    CASE WHEN t.i < 1280 THEN (t.i % 80) // 16
             |         WHEN t.i < 1600 THEN ((t.i - 1280) % 40) // 8
             |         ELSE ((t.i - 1600) % 40) // 8 END AS m) q
             |  CROSS JOIN LATERAL (SELECT
             |    CASE WHEN f.f = 2 THEN
             |      CASE q.m WHEN 0 THEN 1 WHEN 2 THEN 3 WHEN 3 THEN 4
             |        WHEN 1 THEN 0 ELSE 3 END
             |    ELSE q.m END AS sm,
             |    f.f = 1 OR (f.f = 2 AND (q.m = 1 OR q.m = 4)) AS isB) w0
             |  CROSS JOIN LATERAL (SELECT
             |    CASE WHEN w0.isB THEN
             |      CASE q.pl WHEN 0 THEN (47*d.doc_id + 17*w0.sm) % 256
             |                WHEN 1 THEN (23*d.doc_id + 5*w0.sm) % 256
             |                ELSE (67*d.doc_id + 3*w0.sm) % 256 END
             |    ELSE
             |      CASE q.pl WHEN 0 THEN (31*d.doc_id + 13*w0.sm) % 256
             |                WHEN 1 THEN (91*d.doc_id + 7*w0.sm) % 256
             |                ELSE (53*d.doc_id + 11*w0.sm) % 256 END
             |    END AS val) vl
             |  GROUP BY d.doc_id)
             |SELECT doc_id,
             |  CAST(80 AS BIGINT) AS width, CAST(16 AS BIGINT) AS height,
             |  CAST(3 AS BIGINT) AS n_frames,
             |  CAST(pix_checksum AS BIGINT) AS pix_checksum
             |FROM px ORDER BY doc_id""".stripMargin)),

    // REAL VP8 IN-LOOP FILTER ON INTER FRAMES, graded byte-exact — the
    // inter header's filter_type / loop_filter_level / sharpness now
    // parse (previously required zero) and the shared RFC 6386 filter
    // runs after inter reconstruction, INSIDE the loop (the filtered
    // frame is what reference buffers would see). Column-striped
    // ZEROMV macroblocks put every vertical MB edge under the filter
    // (simple on even docs — luma only, p0/q0; normal on odd — the
    // 27/18/9 three-pixel cascade on luma AND chroma); the key frame
    // must come through untouched.
    ("q_vp8_lfinter",
      (s: SparkSession, d: String) =>
        Multimodal.decodeVp8VideoStats(
            Multimodal.withVp8LfInterMedia(t(s, d, "documents")))
          .toDF()
          .orderBy("doc_id"),
      Some("""WITH dims AS (
             |  SELECT doc_id AS d, 16*(2 + n_chars % 2) AS w,
             |    doc_id % 2 = 0 AS simple,
             |    1 + doc_id % 63 AS lvl, (doc_id // 2) % 8 AS shp
             |  FROM documents),
             |lims AS (
             |  SELECT *,
             |    greatest(CASE WHEN shp > 0
             |      THEN least(lvl >> (CASE WHEN shp > 4 THEN 2 ELSE 1 END),
             |                 9 - shp)
             |      ELSE lvl END, 1) AS il
             |  FROM dims),
             |px AS (
             |  SELECT m.d, m.w,
             |    sum(vl.val * (t.i % 97 + 1) * (f.f + 1)) AS pix_checksum
             |  FROM (SELECT *, (lvl + 2)*2 + il AS mblim FROM lims) m
             |  JOIN range(0, 2) f(f) ON true
             |  JOIN range(0, 1152) t(i) ON t.i < m.w*16*3//2
             |  CROSS JOIN LATERAL (SELECT
             |    CASE WHEN t.i < m.w*16 THEN 0
             |         WHEN t.i < m.w*16 + (m.w//2)*8 THEN 1 ELSE 2 END AS pl) q0
             |  CROSS JOIN LATERAL (SELECT
             |    CASE q0.pl WHEN 0 THEN t.i % m.w
             |      WHEN 1 THEN (t.i - m.w*16) % (m.w//2)
             |      ELSE (t.i - m.w*16 - (m.w//2)*8) % (m.w//2) END AS x,
             |    CASE WHEN q0.pl = 0 THEN 16 ELSE 8 END AS smb) q1
             |  CROSS JOIN LATERAL (SELECT
             |    q1.x // q1.smb AS j, q1.x % q1.smb AS o,
             |    m.w // 16 AS n) q2
             |  CROSS JOIN LATERAL (SELECT
             |    CASE q0.pl WHEN 0 THEN (37*m.d) % 256
             |      WHEN 1 THEN (17*m.d + 5) % 256
             |      ELSE (41*m.d + 9) % 256 END AS kv) qk
             |  CROSS JOIN LATERAL (SELECT
             |    CASE WHEN m.simple THEN
             |      CASE q0.pl WHEN 0 THEN (31*m.d + 29*q2.j) % 256
             |        WHEN 1 THEN (91*m.d + 17*q2.j) % 256
             |        ELSE (53*m.d + 23*q2.j) % 256 END
             |    ELSE CASE q0.pl
             |      WHEN 0 THEN 30 + (31*m.d) % 170
             |        + ((q2.j + m.d) % 2) * (1 + m.d % 24)
             |      WHEN 1 THEN 25 + (91*m.d) % 180
             |        + ((q2.j + m.d) % 2) * (1 + (m.d + 7) % 24)
             |      ELSE 20 + (53*m.d) % 190
             |        + ((q2.j + m.d) % 2) * (1 + (m.d + 13) % 24)
             |    END END AS tv,
             |    CASE WHEN m.simple THEN
             |      CASE q0.pl WHEN 0 THEN (31*m.d + 29*(q2.j - 1)) % 256
             |        WHEN 1 THEN (91*m.d + 17*(q2.j - 1)) % 256
             |        ELSE (53*m.d + 23*(q2.j - 1)) % 256 END
             |    ELSE CASE q0.pl
             |      WHEN 0 THEN 30 + (31*m.d) % 170
             |        + ((q2.j - 1 + m.d) % 2) * (1 + m.d % 24)
             |      WHEN 1 THEN 25 + (91*m.d) % 180
             |        + ((q2.j - 1 + m.d) % 2) * (1 + (m.d + 7) % 24)
             |      ELSE 20 + (53*m.d) % 190
             |        + ((q2.j - 1 + m.d) % 2) * (1 + (m.d + 13) % 24)
             |    END END AS tm,
             |    CASE WHEN m.simple THEN
             |      CASE q0.pl WHEN 0 THEN (31*m.d + 29*(q2.j + 1)) % 256
             |        WHEN 1 THEN (91*m.d + 17*(q2.j + 1)) % 256
             |        ELSE (53*m.d + 23*(q2.j + 1)) % 256 END
             |    ELSE CASE q0.pl
             |      WHEN 0 THEN 30 + (31*m.d) % 170
             |        + ((q2.j + 1 + m.d) % 2) * (1 + m.d % 24)
             |      WHEN 1 THEN 25 + (91*m.d) % 180
             |        + ((q2.j + 1 + m.d) % 2) * (1 + (m.d + 7) % 24)
             |      ELSE 20 + (53*m.d) % 190
             |        + ((q2.j + 1 + m.d) % 2) * (1 + (m.d + 13) % 24)
             |    END END AS tp) q3
             |  CROSS JOIN LATERAL (SELECT
             |    q2.j > 0 AND (CASE WHEN m.simple
             |      THEN q0.pl = 0 AND q2.o = 0 ELSE q2.o <= 2 END) AS aq,
             |    q2.j < q2.n - 1 AND (CASE WHEN m.simple
             |      THEN q0.pl = 0 AND q2.o = q1.smb - 1
             |      ELSE q1.smb - 1 - q2.o <= 2 END) AS ap) q4
             |  CROSS JOIN LATERAL (SELECT
             |    (CASE WHEN q4.aq THEN q3.tm ELSE q3.tv END) - 128 AS sp,
             |    (CASE WHEN q4.aq THEN q3.tv ELSE q3.tp END) - 128 AS sq) q5
             |  CROSS JOIN LATERAL (SELECT q5.sp - q5.sq AS dd) q6
             |  CROSS JOIN LATERAL (SELECT
             |    abs(q6.dd)*2 + abs(q6.dd)//2 <= m.mblim AS cond,
             |    greatest(-128, least(127,
             |      greatest(-128, least(127, q6.dd)) - 3*q6.dd)) AS wv) q7
             |  CROSS JOIN LATERAL (SELECT
             |    greatest(-128, least(127, q7.wv + 4)) >> 3 AS f1,
             |    greatest(-128, least(127, q7.wv + 3)) >> 3 AS f2,
             |    greatest(-128, least(127, (27*q7.wv + 63) >> 7)) AS a27,
             |    greatest(-128, least(127, (18*q7.wv + 63) >> 7)) AS a18,
             |    greatest(-128, least(127, (9*q7.wv + 63) >> 7)) AS a9) q8
             |  CROSS JOIN LATERAL (SELECT
             |    CASE WHEN f.f = 0 THEN qk.kv
             |    WHEN NOT (q4.aq OR q4.ap) OR NOT q7.cond THEN q3.tv
             |    WHEN m.simple THEN
             |      CASE WHEN q4.aq
             |        THEN greatest(-128, least(127, q5.sq - q8.f1)) + 128
             |        ELSE greatest(-128, least(127, q5.sp + q8.f2)) + 128 END
             |    WHEN q4.aq THEN
             |      greatest(-128, least(127, q5.sq - (CASE q2.o
             |        WHEN 0 THEN q8.a27 WHEN 1 THEN q8.a18
             |        ELSE q8.a9 END))) + 128
             |    ELSE
             |      greatest(-128, least(127, q5.sp + (CASE q1.smb - 1 - q2.o
             |        WHEN 0 THEN q8.a27 WHEN 1 THEN q8.a18
             |        ELSE q8.a9 END))) + 128
             |    END AS val) vl
             |  GROUP BY m.d, m.w)
             |SELECT d AS doc_id,
             |  CAST(w AS BIGINT) AS width, CAST(16 AS BIGINT) AS height,
             |  CAST(2 AS BIGINT) AS n_frames,
             |  CAST(pix_checksum AS BIGINT) AS pix_checksum
             |FROM px ORDER BY doc_id""".stripMargin)),

    // VP8 SEGMENTATION on the quantizer (RFC 6386 §9.3), graded
    // pixel-exact: each key frame codes a live per-MB segment map (ids
    // m % 4 through the coded tree, probabilities rotating by doc) and
    // per-segment quantizer features (absolute / delta mode rotating),
    // and the encoder steers every MB's DC levels UNDER ITS SEGMENT'S
    // step so reconstruction lands on closed-form per-MB targets. The
    // oracle replays the targets; a decoder that drops the map,
    // mis-walks the tree, or derives the wrong per-segment step
    // reconstructs the steered levels with the wrong step and moves the
    // checksum. No filtering (all loop-filter features zero).
    ("q_vp8_segment",
      (s: SparkSession, d: String) =>
        Multimodal.decodePixelStats(
            Multimodal.withVp8SegmentMedia(t(s, d, "documents")))
          .toDF()
          .drop("media_bytes")
          .orderBy("doc_id"),
      Some("""WITH dims AS (
             |  SELECT doc_id AS d, 16*(4 + n_chars % 2) AS w FROM documents),
             |px AS (
             |  SELECT m.d, m.w,
             |    sum(vv.val) AS pix_sum,
             |    sum(vv.val * (t.i % 97 + 1)) AS pix_checksum
             |  FROM dims m
             |  JOIN range(0, 1920) t(i) ON t.i < m.w*16*3//2
             |  CROSS JOIN LATERAL (SELECT
             |    CASE WHEN t.i < m.w*16 THEN 0
             |         WHEN t.i < m.w*16 + (m.w//2)*8 THEN 1 ELSE 2 END AS pl) q0
             |  CROSS JOIN LATERAL (SELECT
             |    CASE q0.pl WHEN 0 THEN (t.i % m.w) // 16
             |      WHEN 1 THEN ((t.i - m.w*16) % (m.w//2)) // 8
             |      ELSE ((t.i - m.w*16 - (m.w//2)*8) % (m.w//2)) // 8 END AS j) q1
             |  CROSS JOIN LATERAL (SELECT
             |    CASE q0.pl WHEN 0 THEN (31*m.d + 13*q1.j) % 256
             |      WHEN 1 THEN (91*m.d + 7*q1.j) % 256
             |      ELSE (53*m.d + 11*q1.j) % 256 END AS val) vv
             |  GROUP BY m.d, m.w)
             |SELECT d AS doc_id, 'vp8' AS format,
             |  CAST(w AS BIGINT) AS width, CAST(16 AS BIGINT) AS height,
             |  CAST(3 AS BIGINT) AS channels,
             |  CAST(w*16*3//2 AS BIGINT) AS n_pixel_bytes,
             |  CAST(pix_sum AS BIGINT) AS pix_sum,
             |  CAST(pix_checksum AS BIGINT) AS pix_checksum
             |FROM px ORDER BY doc_id""".stripMargin)),

    // VP8 4/8 TOKEN PARTITIONS (RFC 6386 9.5): the parallel-decode
    // layout real encoders emit — a 3-byte little-endian size per
    // partition except the last, MB rows interleaved across partitions.
    // The count is pixel-neutral by construction, so the oracle grades
    // the steered targets exactly; a mis-read size table or wrong
    // row-to-partition mapping desyncs whole MB rows.
    ("q_vp8_parts",
      (s: SparkSession, d: String) =>
        Multimodal.decodePixelStats(
            Multimodal.withVp8PartsMedia(t(s, d, "documents")))
          .toDF()
          .drop("media_bytes")
          .orderBy("doc_id"),
      Some("""WITH dims AS (
             |  SELECT doc_id AS d, 32 AS w, 16*(4 + (n_chars % 2)*4) AS h
             |  FROM documents),
             |px AS (
             |  SELECT m.d, m.w, m.h,
             |    sum(vv.val) AS pix_sum,
             |    sum(vv.val * (t.i % 97 + 1)) AS pix_checksum
             |  FROM dims m
             |  JOIN range(0, 6144) t(i) ON t.i < m.w*m.h*3//2
             |  CROSS JOIN LATERAL (SELECT
             |    CASE WHEN t.i < m.w*m.h THEN 0
             |         WHEN t.i < m.w*m.h + (m.w//2)*(m.h//2) THEN 1
             |         ELSE 2 END AS pl) q0
             |  CROSS JOIN LATERAL (SELECT
             |    CASE q0.pl WHEN 0 THEN t.i % m.w
             |      WHEN 1 THEN (t.i - m.w*m.h) % (m.w//2)
             |      ELSE (t.i - m.w*m.h - (m.w//2)*(m.h//2)) % (m.w//2) END AS x,
             |    CASE q0.pl WHEN 0 THEN t.i // m.w
             |      WHEN 1 THEN (t.i - m.w*m.h) // (m.w//2)
             |      ELSE (t.i - m.w*m.h - (m.w//2)*(m.h//2)) // (m.w//2) END AS yy,
             |    CASE WHEN q0.pl = 0 THEN 16 ELSE 8 END AS smb) q1
             |  CROSS JOIN LATERAL (SELECT
             |    (q1.yy // q1.smb) * 2 + q1.x // q1.smb AS mb) q2
             |  CROSS JOIN LATERAL (SELECT
             |    CASE q0.pl WHEN 0 THEN (31*m.d + 13*q2.mb) % 256
             |      WHEN 1 THEN (91*m.d + 7*q2.mb) % 256
             |      ELSE (53*m.d + 11*q2.mb) % 256 END AS val) vv
             |  GROUP BY m.d, m.w, m.h)
             |SELECT d AS doc_id, 'vp8' AS format,
             |  CAST(w AS BIGINT) AS width, CAST(h AS BIGINT) AS height,
             |  CAST(3 AS BIGINT) AS channels,
             |  CAST(w*h*3//2 AS BIGINT) AS n_pixel_bytes,
             |  CAST(pix_sum AS BIGINT) AS pix_sum,
             |  CAST(pix_checksum AS BIGINT) AS pix_checksum
             |FROM px ORDER BY doc_id""".stripMargin)),

    // VP8 PER-SEGMENT LOOP-FILTER LEVELS + the §9.4 intra ref-frame
    // delta on key frames: alternating stripes sit in segments 0/1 with
    // distinct per-segment levels (absolute / delta feature mode
    // rotating by doc), refDelta(0) adds to every (all-intra) MB, and
    // each MB edge is filtered with the OWNING MB's limits — the
    // closed-form replay of q_vp8_loopfilter generalized to levels that
    // DIFFER across the edge's two sides (edge (j−1, j) is owned by
    // stripe j). The frame-level field differs from every effective
    // level, so falling back to it is a detected tamper; a level
    // clamped to 0 skips that stripe's edges entirely.
    ("q_vp8_seglf",
      (s: SparkSession, d: String) =>
        Multimodal.decodePixelStats(
            Multimodal.withVp8SegLfMedia(t(s, d, "documents")))
          .toDF()
          .drop("media_bytes")
          .orderBy("doc_id"),
      Some("""WITH dims AS (
             |  SELECT doc_id AS d,
             |    CASE WHEN doc_id % 2 = 0 THEN 16*(2 + n_chars % 2)
             |         ELSE 16 END AS w,
             |    CASE WHEN doc_id % 2 = 0 THEN 16
             |         ELSE 16*(2 + n_chars % 2) END AS h,
             |    doc_id % 4 < 2 AS simple, doc_id % 2 = 0 AS colv,
             |    (doc_id // 4) % 2 = 0 AS amode,
             |    10 + (5*doc_id) % 30 AS flvl,
             |    doc_id % 13 - 6 AS rd0, doc_id % 8 AS shp
             |  FROM documents),
             |lvls AS (
             |  SELECT *,
             |    greatest(0, least(63, greatest(0, least(63,
             |      CASE WHEN amode THEN 1 + d % 40
             |           ELSE flvl - d % 10 END)) + rd0)) AS lvl0,
             |    greatest(0, least(63, greatest(0, least(63,
             |      CASE WHEN amode THEN 1 + (3*d + 17) % 40
             |           ELSE flvl + (3*d + 5) % 15 END)) + rd0)) AS lvl1
             |  FROM dims),
             |px AS (
             |  SELECT m.d, m.w, m.h,
             |    sum(vv.val) AS pix_sum,
             |    sum(vv.val * (t.i % 97 + 1)) AS pix_checksum
             |  FROM lvls m
             |  JOIN range(0, 1152) t(i) ON t.i < m.w*m.h*3//2
             |  CROSS JOIN LATERAL (SELECT
             |    CASE WHEN t.i < m.w*m.h THEN 0
             |         WHEN t.i < m.w*m.h + (m.w//2)*(m.h//2) THEN 1
             |         ELSE 2 END AS pl) q0
             |  CROSS JOIN LATERAL (SELECT
             |    CASE q0.pl WHEN 0 THEN t.i % m.w
             |      WHEN 1 THEN (t.i - m.w*m.h) % (m.w//2)
             |      ELSE (t.i - m.w*m.h - (m.w//2)*(m.h//2)) % (m.w//2) END AS x,
             |    CASE q0.pl WHEN 0 THEN t.i // m.w
             |      WHEN 1 THEN (t.i - m.w*m.h) // (m.w//2)
             |      ELSE (t.i - m.w*m.h - (m.w//2)*(m.h//2)) // (m.w//2) END AS yy,
             |    CASE WHEN q0.pl = 0 THEN 16 ELSE 8 END AS smb) q1
             |  CROSS JOIN LATERAL (SELECT
             |    (CASE WHEN m.colv THEN q1.x ELSE q1.yy END) // q1.smb AS j,
             |    (CASE WHEN m.colv THEN q1.x ELSE q1.yy END) % q1.smb AS o,
             |    CASE WHEN m.colv THEN m.w // 16 ELSE m.h // 16 END AS n) q2
             |  CROSS JOIN LATERAL (SELECT
             |    CASE WHEN q2.j % 2 = 0 THEN m.lvl0 ELSE m.lvl1 END AS elq,
             |    CASE WHEN (q2.j + 1) % 2 = 0 THEN m.lvl0 ELSE m.lvl1 END AS elp) ql
             |  CROSS JOIN LATERAL (SELECT
             |    (ql.elq + 2)*2 + greatest(CASE WHEN m.shp > 0
             |      THEN least(ql.elq >> (CASE WHEN m.shp > 4 THEN 2 ELSE 1 END),
             |                 9 - m.shp)
             |      ELSE ql.elq END, 1) AS mblimq,
             |    (ql.elp + 2)*2 + greatest(CASE WHEN m.shp > 0
             |      THEN least(ql.elp >> (CASE WHEN m.shp > 4 THEN 2 ELSE 1 END),
             |                 9 - m.shp)
             |      ELSE ql.elp END, 1) AS mblimp) qm
             |  CROSS JOIN LATERAL (SELECT
             |    CASE WHEN m.simple THEN
             |      CASE q0.pl WHEN 0 THEN (31*m.d + 29*q2.j) % 256
             |        WHEN 1 THEN (91*m.d + 17*q2.j) % 256
             |        ELSE (53*m.d + 23*q2.j) % 256 END
             |    ELSE
             |      CASE q0.pl
             |        WHEN 0 THEN 30 + (31*m.d) % 170
             |          + ((q2.j + m.d) % 2) * (1 + m.d % 24)
             |        WHEN 1 THEN 25 + (91*m.d) % 180
             |          + ((q2.j + m.d) % 2) * (1 + (m.d + 7) % 24)
             |        ELSE 20 + (53*m.d) % 190
             |          + ((q2.j + m.d) % 2) * (1 + (m.d + 13) % 24)
             |      END END AS tv,
             |    CASE WHEN m.simple THEN
             |      CASE q0.pl WHEN 0 THEN (31*m.d + 29*(q2.j - 1)) % 256
             |        WHEN 1 THEN (91*m.d + 17*(q2.j - 1)) % 256
             |        ELSE (53*m.d + 23*(q2.j - 1)) % 256 END
             |    ELSE
             |      CASE q0.pl
             |        WHEN 0 THEN 30 + (31*m.d) % 170
             |          + ((q2.j - 1 + m.d) % 2) * (1 + m.d % 24)
             |        WHEN 1 THEN 25 + (91*m.d) % 180
             |          + ((q2.j - 1 + m.d) % 2) * (1 + (m.d + 7) % 24)
             |        ELSE 20 + (53*m.d) % 190
             |          + ((q2.j - 1 + m.d) % 2) * (1 + (m.d + 13) % 24)
             |      END END AS tm,
             |    CASE WHEN m.simple THEN
             |      CASE q0.pl WHEN 0 THEN (31*m.d + 29*(q2.j + 1)) % 256
             |        WHEN 1 THEN (91*m.d + 17*(q2.j + 1)) % 256
             |        ELSE (53*m.d + 23*(q2.j + 1)) % 256 END
             |    ELSE
             |      CASE q0.pl
             |        WHEN 0 THEN 30 + (31*m.d) % 170
             |          + ((q2.j + 1 + m.d) % 2) * (1 + m.d % 24)
             |        WHEN 1 THEN 25 + (91*m.d) % 180
             |          + ((q2.j + 1 + m.d) % 2) * (1 + (m.d + 7) % 24)
             |        ELSE 20 + (53*m.d) % 190
             |          + ((q2.j + 1 + m.d) % 2) * (1 + (m.d + 13) % 24)
             |      END END AS tp) q3
             |  CROSS JOIN LATERAL (SELECT
             |    q2.j > 0 AND (CASE WHEN m.simple
             |      THEN q0.pl = 0 AND q2.o = 0 ELSE q2.o <= 2 END) AS aq,
             |    q2.j < q2.n - 1 AND (CASE WHEN m.simple
             |      THEN q0.pl = 0 AND q2.o = q1.smb - 1
             |      ELSE q1.smb - 1 - q2.o <= 2 END) AS ap) q4
             |  CROSS JOIN LATERAL (SELECT
             |    (CASE WHEN q4.aq THEN q3.tm ELSE q3.tv END) - 128 AS sp,
             |    (CASE WHEN q4.aq THEN q3.tv ELSE q3.tp END) - 128 AS sq) q5
             |  CROSS JOIN LATERAL (SELECT
             |    q5.sp - q5.sq AS dd) q6
             |  CROSS JOIN LATERAL (SELECT
             |    CASE WHEN q4.aq
             |      THEN ql.elq > 0 AND abs(q6.dd)*2 + abs(q6.dd)//2 <= qm.mblimq
             |      ELSE ql.elp > 0 AND abs(q6.dd)*2 + abs(q6.dd)//2 <= qm.mblimp
             |    END AS cond,
             |    greatest(-128, least(127,
             |      greatest(-128, least(127, q6.dd)) - 3*q6.dd)) AS wv) q7
             |  CROSS JOIN LATERAL (SELECT
             |    greatest(-128, least(127, q7.wv + 4)) >> 3 AS f1,
             |    greatest(-128, least(127, q7.wv + 3)) >> 3 AS f2,
             |    greatest(-128, least(127, (27*q7.wv + 63) >> 7)) AS a27,
             |    greatest(-128, least(127, (18*q7.wv + 63) >> 7)) AS a18,
             |    greatest(-128, least(127, (9*q7.wv + 63) >> 7)) AS a9) q8
             |  CROSS JOIN LATERAL (SELECT
             |    CASE WHEN NOT (q4.aq OR q4.ap) OR NOT q7.cond THEN q3.tv
             |    WHEN m.simple THEN
             |      CASE WHEN q4.aq
             |        THEN greatest(-128, least(127, q5.sq - q8.f1)) + 128
             |        ELSE greatest(-128, least(127, q5.sp + q8.f2)) + 128 END
             |    WHEN q4.aq THEN
             |      greatest(-128, least(127, q5.sq - (CASE q2.o
             |        WHEN 0 THEN q8.a27 WHEN 1 THEN q8.a18
             |        ELSE q8.a9 END))) + 128
             |    ELSE
             |      greatest(-128, least(127, q5.sp + (CASE q1.smb - 1 - q2.o
             |        WHEN 0 THEN q8.a27 WHEN 1 THEN q8.a18
             |        ELSE q8.a9 END))) + 128
             |    END AS val) vv
             |  GROUP BY m.d, m.w, m.h)
             |SELECT d AS doc_id, 'vp8' AS format,
             |  CAST(w AS BIGINT) AS width, CAST(h AS BIGINT) AS height,
             |  CAST(3 AS BIGINT) AS channels,
             |  CAST(w*h*3//2 AS BIGINT) AS n_pixel_bytes,
             |  CAST(pix_sum AS BIGINT) AS pix_sum,
             |  CAST(pix_checksum AS BIGINT) AS pix_checksum
             |FROM px ORDER BY doc_id""".stripMargin)),

    // VP8 SEGMENTATION ON AN INTER FRAME: the segment map rides the
    // inter-frame header, selecting BOTH a per-segment quantizer (the
    // steered ZEROMV residues ride it) and a per-segment loop-filter
    // level, and the §9.4 deltas are live — refDelta(1) (every MB
    // references LAST) and modeDelta(1) (every MB is ZEROMV) both add
    // before the final clamp. The unfiltered key frame must come
    // through untouched; frame 2 replays the per-stripe-level edge
    // closed form.
    ("q_vp8_seginter",
      (s: SparkSession, d: String) =>
        Multimodal.decodeVp8VideoStats(
            Multimodal.withVp8SegInterMedia(t(s, d, "documents")))
          .toDF()
          .orderBy("doc_id"),
      Some("""WITH dims AS (
             |  SELECT doc_id AS d, 16*(2 + n_chars % 2) AS w,
             |    doc_id % 2 = 0 AS simple,
             |    (doc_id // 4) % 2 = 0 AS amode,
             |    10 + (7*doc_id) % 30 AS flvl,
             |    (doc_id % 11 - 5) + (doc_id % 9 - 4) AS rdm,
             |    (doc_id // 2) % 8 AS shp
             |  FROM documents),
             |lvls AS (
             |  SELECT *,
             |    greatest(0, least(63, greatest(0, least(63,
             |      CASE WHEN amode THEN 1 + (3*d) % 40
             |           ELSE flvl - d % 9 END)) + rdm)) AS lvl0,
             |    greatest(0, least(63, greatest(0, least(63,
             |      CASE WHEN amode THEN 1 + (5*d + 9) % 40
             |           ELSE flvl + (2*d + 3) % 14 END)) + rdm)) AS lvl1
             |  FROM dims),
             |px AS (
             |  SELECT m.d, m.w,
             |    sum(vl.val * (t.i % 97 + 1) * (f.f + 1)) AS pix_checksum
             |  FROM lvls m
             |  JOIN range(0, 2) f(f) ON true
             |  JOIN range(0, 1152) t(i) ON t.i < m.w*16*3//2
             |  CROSS JOIN LATERAL (SELECT
             |    CASE WHEN t.i < m.w*16 THEN 0
             |         WHEN t.i < m.w*16 + (m.w//2)*8 THEN 1 ELSE 2 END AS pl) q0
             |  CROSS JOIN LATERAL (SELECT
             |    CASE q0.pl WHEN 0 THEN t.i % m.w
             |      WHEN 1 THEN (t.i - m.w*16) % (m.w//2)
             |      ELSE (t.i - m.w*16 - (m.w//2)*8) % (m.w//2) END AS x,
             |    CASE WHEN q0.pl = 0 THEN 16 ELSE 8 END AS smb) q1
             |  CROSS JOIN LATERAL (SELECT
             |    q1.x // q1.smb AS j, q1.x % q1.smb AS o,
             |    m.w // 16 AS n) q2
             |  CROSS JOIN LATERAL (SELECT
             |    CASE WHEN q2.j % 2 = 0 THEN m.lvl0 ELSE m.lvl1 END AS elq,
             |    CASE WHEN (q2.j + 1) % 2 = 0 THEN m.lvl0 ELSE m.lvl1 END AS elp) ql
             |  CROSS JOIN LATERAL (SELECT
             |    (ql.elq + 2)*2 + greatest(CASE WHEN m.shp > 0
             |      THEN least(ql.elq >> (CASE WHEN m.shp > 4 THEN 2 ELSE 1 END),
             |                 9 - m.shp)
             |      ELSE ql.elq END, 1) AS mblimq,
             |    (ql.elp + 2)*2 + greatest(CASE WHEN m.shp > 0
             |      THEN least(ql.elp >> (CASE WHEN m.shp > 4 THEN 2 ELSE 1 END),
             |                 9 - m.shp)
             |      ELSE ql.elp END, 1) AS mblimp) qm
             |  CROSS JOIN LATERAL (SELECT
             |    CASE q0.pl WHEN 0 THEN (37*m.d) % 256
             |      WHEN 1 THEN (17*m.d + 5) % 256
             |      ELSE (41*m.d + 9) % 256 END AS kv) qk
             |  CROSS JOIN LATERAL (SELECT
             |    CASE WHEN m.simple THEN
             |      CASE q0.pl WHEN 0 THEN (31*m.d + 29*q2.j) % 256
             |        WHEN 1 THEN (91*m.d + 17*q2.j) % 256
             |        ELSE (53*m.d + 23*q2.j) % 256 END
             |    ELSE CASE q0.pl
             |      WHEN 0 THEN 30 + (31*m.d) % 170
             |        + ((q2.j + m.d) % 2) * (1 + m.d % 24)
             |      WHEN 1 THEN 25 + (91*m.d) % 180
             |        + ((q2.j + m.d) % 2) * (1 + (m.d + 7) % 24)
             |      ELSE 20 + (53*m.d) % 190
             |        + ((q2.j + m.d) % 2) * (1 + (m.d + 13) % 24)
             |    END END AS tv,
             |    CASE WHEN m.simple THEN
             |      CASE q0.pl WHEN 0 THEN (31*m.d + 29*(q2.j - 1)) % 256
             |        WHEN 1 THEN (91*m.d + 17*(q2.j - 1)) % 256
             |        ELSE (53*m.d + 23*(q2.j - 1)) % 256 END
             |    ELSE CASE q0.pl
             |      WHEN 0 THEN 30 + (31*m.d) % 170
             |        + ((q2.j - 1 + m.d) % 2) * (1 + m.d % 24)
             |      WHEN 1 THEN 25 + (91*m.d) % 180
             |        + ((q2.j - 1 + m.d) % 2) * (1 + (m.d + 7) % 24)
             |      ELSE 20 + (53*m.d) % 190
             |        + ((q2.j - 1 + m.d) % 2) * (1 + (m.d + 13) % 24)
             |    END END AS tm,
             |    CASE WHEN m.simple THEN
             |      CASE q0.pl WHEN 0 THEN (31*m.d + 29*(q2.j + 1)) % 256
             |        WHEN 1 THEN (91*m.d + 17*(q2.j + 1)) % 256
             |        ELSE (53*m.d + 23*(q2.j + 1)) % 256 END
             |    ELSE CASE q0.pl
             |      WHEN 0 THEN 30 + (31*m.d) % 170
             |        + ((q2.j + 1 + m.d) % 2) * (1 + m.d % 24)
             |      WHEN 1 THEN 25 + (91*m.d) % 180
             |        + ((q2.j + 1 + m.d) % 2) * (1 + (m.d + 7) % 24)
             |      ELSE 20 + (53*m.d) % 190
             |        + ((q2.j + 1 + m.d) % 2) * (1 + (m.d + 13) % 24)
             |    END END AS tp) q3
             |  CROSS JOIN LATERAL (SELECT
             |    q2.j > 0 AND (CASE WHEN m.simple
             |      THEN q0.pl = 0 AND q2.o = 0 ELSE q2.o <= 2 END) AS aq,
             |    q2.j < q2.n - 1 AND (CASE WHEN m.simple
             |      THEN q0.pl = 0 AND q2.o = q1.smb - 1
             |      ELSE q1.smb - 1 - q2.o <= 2 END) AS ap) q4
             |  CROSS JOIN LATERAL (SELECT
             |    (CASE WHEN q4.aq THEN q3.tm ELSE q3.tv END) - 128 AS sp,
             |    (CASE WHEN q4.aq THEN q3.tv ELSE q3.tp END) - 128 AS sq) q5
             |  CROSS JOIN LATERAL (SELECT q5.sp - q5.sq AS dd) q6
             |  CROSS JOIN LATERAL (SELECT
             |    CASE WHEN q4.aq
             |      THEN ql.elq > 0 AND abs(q6.dd)*2 + abs(q6.dd)//2 <= qm.mblimq
             |      ELSE ql.elp > 0 AND abs(q6.dd)*2 + abs(q6.dd)//2 <= qm.mblimp
             |    END AS cond,
             |    greatest(-128, least(127,
             |      greatest(-128, least(127, q6.dd)) - 3*q6.dd)) AS wv) q7
             |  CROSS JOIN LATERAL (SELECT
             |    greatest(-128, least(127, q7.wv + 4)) >> 3 AS f1,
             |    greatest(-128, least(127, q7.wv + 3)) >> 3 AS f2,
             |    greatest(-128, least(127, (27*q7.wv + 63) >> 7)) AS a27,
             |    greatest(-128, least(127, (18*q7.wv + 63) >> 7)) AS a18,
             |    greatest(-128, least(127, (9*q7.wv + 63) >> 7)) AS a9) q8
             |  CROSS JOIN LATERAL (SELECT
             |    CASE WHEN f.f = 0 THEN qk.kv
             |    WHEN NOT (q4.aq OR q4.ap) OR NOT q7.cond THEN q3.tv
             |    WHEN m.simple THEN
             |      CASE WHEN q4.aq
             |        THEN greatest(-128, least(127, q5.sq - q8.f1)) + 128
             |        ELSE greatest(-128, least(127, q5.sp + q8.f2)) + 128 END
             |    WHEN q4.aq THEN
             |      greatest(-128, least(127, q5.sq - (CASE q2.o
             |        WHEN 0 THEN q8.a27 WHEN 1 THEN q8.a18
             |        ELSE q8.a9 END))) + 128
             |    ELSE
             |      greatest(-128, least(127, q5.sp + (CASE q1.smb - 1 - q2.o
             |        WHEN 0 THEN q8.a27 WHEN 1 THEN q8.a18
             |        ELSE q8.a9 END))) + 128
             |    END AS val) vl
             |  GROUP BY m.d, m.w)
             |SELECT d AS doc_id,
             |  CAST(w AS BIGINT) AS width, CAST(16 AS BIGINT) AS height,
             |  CAST(2 AS BIGINT) AS n_frames,
             |  CAST(pix_checksum AS BIGINT) AS pix_checksum
             |FROM px ORDER BY doc_id""".stripMargin)),

    ("q_vp8_buffers",
      (s: SparkSession, d: String) =>
        Multimodal.decodeVp8VideoStats(
            Multimodal.withVp8BufferMedia(t(s, d, "documents")))
          .toDF()
          .orderBy("doc_id"),
      Some("""WITH dims AS (
             |  SELECT doc_id, 16*(2 + n_chars % 2) AS w, 32 AS h
             |  FROM documents),
             |px AS (
             |  SELECT d.doc_id, d.w, d.h,
             |    sum(vl.val * (t.i % 97 + 1) * (f.f + 1)) AS pix_checksum
             |  FROM dims d
             |  JOIN range(0, 5) f(f) ON true
             |  JOIN range(0, 2304) t(i) ON t.i < d.w*d.h*3//2
             |  CROSS JOIN LATERAL (SELECT
             |    CASE WHEN t.i < d.w*d.h THEN 0
             |         WHEN t.i < d.w*d.h + (d.w//2)*(d.h//2) THEN 1
             |         ELSE 2 END AS pl,
             |    CASE WHEN t.i < d.w*d.h THEN
             |      ((t.i // d.w) // 16) * (d.w//16) + (t.i % d.w) // 16
             |    WHEN t.i < d.w*d.h + (d.w//2)*(d.h//2) THEN
             |      (((t.i - d.w*d.h) // (d.w//2)) // 8) * (d.w//16)
             |        + ((t.i - d.w*d.h) % (d.w//2)) // 8
             |    ELSE
             |      (((t.i - d.w*d.h - (d.w//2)*(d.h//2)) // (d.w//2)) // 8)
             |        * (d.w//16)
             |        + ((t.i - d.w*d.h - (d.w//2)*(d.h//2)) % (d.w//2)) // 8
             |    END AS m) q
             |  CROSS JOIN LATERAL (SELECT
             |    CASE q.pl WHEN 0 THEN (31*d.doc_id + 13*q.m) % 256
             |              WHEN 1 THEN (91*d.doc_id + 7*q.m) % 256
             |              ELSE (53*d.doc_id + 11*q.m) % 256 END AS av,
             |    CASE q.pl WHEN 0 THEN (47*d.doc_id + 17*q.m) % 256
             |              WHEN 1 THEN (23*d.doc_id + 5*q.m) % 256
             |              ELSE (67*d.doc_id + 3*q.m) % 256 END AS bv,
             |    CASE q.pl WHEN 0 THEN (29*d.doc_id + 19*q.m) % 256
             |              WHEN 1 THEN (41*d.doc_id + 13*q.m) % 256
             |              ELSE (59*d.doc_id + 23*q.m) % 256 END AS cv) vv
             |  CROSS JOIN LATERAL (SELECT
             |    CASE WHEN (q.m + d.doc_id) % 2 = 0 THEN vv.av ELSE vv.cv END
             |      AS f3v) w3
             |  CROSS JOIN LATERAL (SELECT
             |    CASE (q.m + 2*d.doc_id) % 3
             |      WHEN 0 THEN vv.av WHEN 1 THEN vv.bv ELSE w3.f3v END AS f4v) w4
             |  CROSS JOIN LATERAL (SELECT
             |    CASE f.f WHEN 0 THEN vv.av WHEN 1 THEN vv.bv WHEN 2 THEN w3.f3v
             |      WHEN 3 THEN w4.f4v
             |      ELSE CASE (q.m + d.doc_id) % 3
             |        WHEN 0 THEN vv.bv WHEN 1 THEN vv.bv ELSE w4.f4v END
             |    END AS val) vl
             |  GROUP BY d.doc_id, d.w, d.h)
             |SELECT doc_id,
             |  CAST(w AS BIGINT) AS width, CAST(h AS BIGINT) AS height,
             |  CAST(5 AS BIGINT) AS n_frames,
             |  CAST(pix_checksum AS BIGINT) AS pix_checksum
             |FROM px ORDER BY doc_id""".stripMargin)),

    // REAL MPEG-1 audio (Layer I/II) decode, graded exactly — now MONO AND
    // STEREO: each doc
    // carries a genuine MPEG stream — Layer I two-frame (cross-frame
    // polyphase FIFO continuity) for even docs, Layer II one-frame
    // (subband-dependent allocation widths, scfsi scalefactor sharing
    // across the three 12-granule parts, grouped 3/5/9-level triplet
    // codes) for odd — decoded through framing, requantization, and the
    // full 32-band synthesis filterbank structure (64-point matrixing,
    // 1024-entry V FIFO, 512-tap windowed sum) with pinned integer
    // tables (MpegAudio's constants discipline). The oracle replays the
    // generator through the SAME filterbank algebra as one flat
    // (granule × band × tap) sum — linearity makes the 16-tap FIFO
    // convolution a closed form; any framing/scfsi/grouping/indexing
    // drift moves the hashed checksum.
    ("q_mpeg_audio_decode",
      (s: SparkSession, d: String) =>
        Multimodal.decodeMpegAudioStats(
            Multimodal.withMpegAudioMedia(t(s, d, "documents")))
          .toDF()
          .orderBy("doc_id"),
      Some("""WITH base AS (
             |  SELECT doc_id AS d,
             |    CASE WHEN doc_id % 4 IN (0, 2) THEN 1 ELSE 2 END AS layer,
             |    CASE WHEN doc_id % 4 <= 1 THEN 1 ELSE 2 END AS nch,
             |    CASE WHEN doc_id % 4 IN (0, 2) THEN 24 ELSE 36 END AS ng
             |  FROM documents),
             |chk AS (
             |  SELECT b.d, b.layer, b.nch, b.ng,
             |    sum(vv.dv * vv.nv * vv.sv
             |        * (((gg.g * 32 + ii.i) * b.nch + cc.ch) % 97 + 1))
             |      AS pcm_checksum
             |  FROM base b
             |  JOIN range(0, 36) gg(g) ON gg.g < b.ng
             |  JOIN range(0, 32) ii(i) ON true
             |  JOIN range(0, 2) cc(ch) ON cc.ch < b.nch
             |  JOIN range(0, 16) mm(m) ON mm.m <= gg.g
             |  CROSS JOIN LATERAL (SELECT gg.g - mm.m AS sg) x
             |  CROSS JOIN LATERAL (SELECT
             |    CASE WHEN b.layer = 1 THEN
             |      (b.d + 5 * (x.sg // 12) + 11 * cc.ch) % 32
             |    ELSE (b.d + 3 * cc.ch) % 11 END AS k0,
             |    CASE WHEN b.layer = 1 THEN
             |      (1::BIGINT << (2 + (b.d + x.sg // 12 + 2 * cc.ch) % 13)) - 1
             |    ELSE CASE 1 + (b.d + 5 * cc.ch) % 15
             |      WHEN 1 THEN 3 WHEN 2 THEN 5 WHEN 3 THEN 7 WHEN 4 THEN 9
             |      ELSE (1::BIGINT << (1 + (b.d + 5 * cc.ch) % 15)) - 1 END
             |    END AS n,
             |    CASE WHEN b.layer = 1 THEN
             |      (b.d + 7 * (x.sg // 12) + 13 * cc.ch) % 64
             |    ELSE (3 * b.d + 17 * (CASE (b.d + cc.ch) % 4
             |      WHEN 0 THEN x.sg // 12
             |      WHEN 1 THEN CASE WHEN x.sg // 12 <= 1 THEN 0 ELSE 1 END
             |      WHEN 2 THEN 0
             |      ELSE CASE WHEN x.sg // 12 = 0 THEN 0 ELSE 1 END END)
             |      + 29 * cc.ch) % 64
             |    END AS sfidx) q
             |  CROSS JOIN LATERAL (SELECT
             |    ((7 * (mm.m * 32 + ii.i) + 13) % 29) - 14 AS dv,
             |    ((11 * ((mm.m % 2) * 32 + ii.i) + 23 * q.k0 + 7) % 31) - 15 AS nv,
             |    (2 * ((5 * b.d + 7 * x.sg + 3 + 17 * cc.ch) % q.n) + 1 - q.n)
             |      * (1 + (3 * q.sfidx) % 13) AS sv) vv
             |  GROUP BY b.d, b.layer, b.nch, b.ng)
             |SELECT d AS doc_id, CAST(layer AS BIGINT) AS layer,
             |  CAST(nch AS BIGINT) AS n_channels,
             |  CAST(CASE WHEN layer = 1 THEN 2 ELSE 1 END AS BIGINT) AS n_frames,
             |  CAST(ng * 32 * nch AS BIGINT) AS n_samples,
             |  CAST(pcm_checksum AS BIGINT) AS pcm_checksum
             |FROM chk ORDER BY doc_id""".stripMargin)),

    // REAL MPEG-1 Layer I/II JOINT STEREO (the bound / intensity mode),
    // graded exactly — mode 01 with bound = 4 + 4*mode_extension:
    // subbands at/above the bound carry ONE shared allocation and ONE
    // sample stream while the scalefactors stay per channel (the mode's
    // defining asymmetry — a decoder that duplicates the sample READ
    // desyncs, one that shares the scalefactor collapses the channels).
    // One coded subband below the bound per channel plus one shared
    // subband above; layer and ext rotate by doc; L2 ungrouped classes.
    ("q_mpeg_joint",
      (s: SparkSession, d: String) =>
        Multimodal.decodeMpegAudioStats(
            Multimodal.withMpegJointMedia(t(s, d, "documents")))
          .toDF()
          .orderBy("doc_id"),
      Some("""WITH base AS (
             |  SELECT doc_id AS d,
             |    1 + doc_id % 2 AS layer,
             |    4 + 4 * ((doc_id // 2) % 4) AS bound,
             |    CASE WHEN doc_id % 2 = 0 THEN 12 ELSE 36 END AS ng
             |  FROM documents),
             |chk AS (
             |  SELECT b.d, b.layer, b.ng,
             |    sum(vv.sv
             |      * (((11*((mm.m % 2)*32 + ii.i) + 23*vv.k0 + 7) % 31) - 15)
             |      * (((7*(mm.m*32 + ii.i) + 13) % 29) - 14)
             |      * ((((gg.g + mm.m)*32 + ii.i)*2 + cc.ch) % 97 + 1)) AS pcm_checksum
             |  FROM base b
             |  JOIN range(0, 36) gg(g) ON gg.g < b.ng
             |  JOIN range(0, 32) ii(i) ON true
             |  JOIN range(0, 2) cc(ch) ON true
             |  JOIN range(0, 2) ss(sub) ON true
             |  JOIN range(0, 16) mm(m) ON gg.g + mm.m < b.ng
             |  CROSS JOIN LATERAL (SELECT
             |    CASE WHEN b.layer = 1 THEN (b.d + 7*cc.ch) % b.bound
             |         ELSE (b.d + 7*cc.ch) % b.bound END AS kb,
             |    CASE WHEN b.layer = 1 THEN b.bound + b.d % (32 - b.bound)
             |         ELSE b.bound + b.d % (23 - b.bound) END AS ka) q1
             |  CROSS JOIN LATERAL (SELECT
             |    CASE WHEN b.layer = 1 THEN (1 << (2 + (b.d + cc.ch) % 8 + 1)) - 1
             |      ELSE CASE (b.d + cc.ch) % 4 WHEN 0 THEN 7 WHEN 1 THEN 31
             |        WHEN 2 THEN 63 ELSE 127 END END AS nb,
             |    CASE WHEN b.layer = 1 THEN (1 << (2 + (b.d + 5) % 8 + 1)) - 1
             |      ELSE CASE (b.d + 2) % 4 WHEN 0 THEN 7 WHEN 1 THEN 31
             |        WHEN 2 THEN 63 ELSE 127 END END AS na,
             |    CASE WHEN b.layer = 1 THEN (b.d + 13*cc.ch) % 64
             |         ELSE (3*b.d + 29*cc.ch) % 64 END AS sfb,
             |    CASE WHEN b.layer = 1 THEN (b.d + 19*cc.ch) % 64
             |         ELSE (3*b.d + 11 + 23*cc.ch) % 64 END AS sfa) q2
             |  CROSS JOIN LATERAL (SELECT
             |    CASE WHEN ss.sub = 0 THEN q1.kb ELSE q1.ka END AS k0,
             |    CASE WHEN ss.sub = 0 THEN
             |      (2*((5*b.d + 7*gg.g + 3 + 17*cc.ch) % q2.nb) + 1 - q2.nb)
             |        * (1 + (3*q2.sfb) % 13)
             |    ELSE
             |      (2*((5*b.d + 11*gg.g + 1) % q2.na) + 1 - q2.na)
             |        * (1 + (3*q2.sfa) % 13)
             |    END AS sv) vv
             |  GROUP BY b.d, b.layer, b.ng)
             |SELECT d AS doc_id, CAST(layer AS BIGINT) AS layer,
             |  CAST(2 AS BIGINT) AS n_channels,
             |  CAST(1 AS BIGINT) AS n_frames,
             |  CAST(ng * 32 * 2 AS BIGINT) AS n_samples,
             |  CAST(pcm_checksum AS BIGINT) AS pcm_checksum
             |FROM chk ORDER BY doc_id""".stripMargin)),

    // REAL MPEG-1 Layer III (MP3) decode, graded exactly — the
    // Huffman/MDCT stage that was the perceptual-audio ladder's last
    // named stub: each doc carries a genuine mono MP3 stream (one or two
    // frames) decoded through the FULL Layer III chain — 17-byte side
    // info, scfsi scalefactor reuse between the frame's granules,
    // slen1/slen2 band split, the three big-value regions with
    // per-region Huffman table select (ESC+linbits codes every third
    // granule, sign bits), the count1 quadruple region bounded by
    // part2_3_length with stuffing-bit skip, pinned-integer
    // requantization (MpegAudio's constants discipline), alias-reduction
    // butterflies across the 31 subband boundaries, the 36-point IMDCT
    // with overlap-add carried across granules AND frames, frequency
    // inversion, and the shared 32-band polyphase synthesis. One nonzero
    // spectral line per granule makes the whole chain LINEAR, so the
    // oracle replays requant → ≤2 alias contributions → IMDCT landing in
    // two granule-steps → inversion → the 16-tap polyphase convolution
    // as one flat closed-form sum; any side-info, Huffman, region,
    // scfsi, butterfly, window, overlap or FIFO drift moves the hashed
    // checksum.
    ("q_mp3_decode",
      (s: SparkSession, d: String) =>
        Multimodal.decodeMpegAudioStats(
            Multimodal.withMp3Media(t(s, d, "documents")))
          .toDF()
          .orderBy("doc_id"),
      Some("""WITH base AS (
             |  SELECT doc_id AS d, 1 + doc_id % 2 AS nf FROM documents),
             |inputs AS (
             |  SELECT b.d, b.nf, q8.gs, q7.sbp,
             |    sum(q6.xr * q7.w * ((7*pp.p + 11*q7.kp + 3) % 23 - 11)
             |      * (1 + (5*pp.p + 2) % 9)
             |      * (CASE WHEN q7.sbp % 2 = 1 AND (q8.gs % 18) % 2 = 1
             |              THEN -1 ELSE 1 END)) AS ival
             |  FROM base b
             |  JOIN range(0, 4) gg(gi) ON gg.gi < 2*b.nf
             |  JOIN range(0, 2) aa(a) ON true
             |  JOIN range(0, 36) pp(p) ON true
             |  CROSS JOIN LATERAL (SELECT
             |    (17 + 37*b.d + 101*gg.gi) % 576 AS pos,
             |    (b.d + gg.gi) % 3 = 0 AS esc) q1
             |  CROSS JOIN LATERAL (SELECT
             |    q1.pos // 18 AS sb, q1.pos % 18 AS k,
             |    least(q1.pos // 26, 21) AS band,
             |    CASE WHEN q1.esc THEN 15 + b.d % 2
             |         ELSE 1 + (b.d + 3*gg.gi) % 13 END AS v) q2
             |  CROSS JOIN LATERAL (SELECT
             |    CASE WHEN gg.gi % 2 = 1 AND
             |      (((b.d % 16) >> (CASE WHEN q2.band < 6 THEN 0
             |        WHEN q2.band < 11 THEN 1 WHEN q2.band < 16 THEN 2
             |        ELSE 3 END)) & 1) = 1
             |      THEN gg.gi - 1 ELSE gg.gi END AS sgi) q3
             |  CROSS JOIN LATERAL (SELECT
             |    CASE WHEN q2.band <= 10 THEN ((b.d + q3.sgi) % 16) // 4
             |         ELSE ((b.d + q3.sgi) % 16) % 4 END AS slen) q4
             |  CROSS JOIN LATERAL (SELECT
             |    (CASE WHEN q2.band > 20 THEN 0
             |          ELSE (3*b.d + q2.band + q3.sgi) % (1 << q4.slen) END)
             |    + CASE WHEN (b.d // 2 + gg.gi) % 2 = 1 THEN q2.band % 3
             |           ELSE 0 END AS sfv) q5
             |  CROSS JOIN LATERAL (SELECT
             |    (CASE WHEN (b.d + 5*gg.gi) % 2 = 1 THEN -1 ELSE 1 END)
             |      * q2.v * (q2.v + 2)
             |      * (1 + ((29*b.d + 7*gg.gi) % 256) % 9)
             |      * (1 + (3 * q5.sfv * (1 + (b.d // 4 + gg.gi) % 2)) % 11)
             |      AS xr) q6
             |  CROSS JOIN LATERAL (SELECT
             |    CASE WHEN aa.a = 0 THEN q2.sb
             |         WHEN q2.k >= 10 THEN q2.sb + 1 ELSE q2.sb - 1 END AS sbp,
             |    CASE WHEN aa.a = 0 THEN q2.k ELSE 17 - q2.k END AS kp,
             |    CASE WHEN aa.a = 0 THEN
             |      CASE WHEN q2.k >= 10 AND q2.sb < 31 THEN 2 + (17 - q2.k) % 3
             |           WHEN q2.k <= 7 AND q2.sb >= 1 THEN 2 + q2.k % 3
             |           ELSE 1 END
             |    ELSE CASE WHEN q2.k >= 10 THEN 1 + (17 - q2.k) % 2
             |              ELSE -(1 + q2.k % 2) END END AS w,
             |    aa.a = 0 OR (q2.k >= 10 AND q2.sb < 31)
             |      OR (q2.k <= 7 AND q2.sb >= 1) AS valid) q7
             |  CROSS JOIN LATERAL (SELECT
             |    CASE WHEN pp.p < 18 THEN gg.gi*18 + pp.p
             |         ELSE (gg.gi + 1)*18 + pp.p - 18 END AS gs) q8
             |  WHERE q7.valid AND q8.gs < 36*b.nf
             |  GROUP BY b.d, b.nf, q8.gs, q7.sbp),
             |chk AS (
             |  SELECT s.d, s.nf,
             |    sum(s.ival
             |      * (((11*((mm.m % 2)*32 + ii.i) + 23*s.sbp + 7) % 31) - 15)
             |      * (((7*(mm.m*32 + ii.i) + 13) % 29) - 14)
             |      * (((s.gs + mm.m)*32 + ii.i) % 97 + 1)) AS pcm_checksum
             |  FROM inputs s
             |  JOIN range(0, 16) mm(m) ON s.gs + mm.m < 36*s.nf
             |  JOIN range(0, 32) ii(i) ON true
             |  GROUP BY s.d, s.nf)
             |SELECT d AS doc_id, CAST(3 AS BIGINT) AS layer,
             |  CAST(1 AS BIGINT) AS n_channels,
             |  CAST(nf AS BIGINT) AS n_frames,
             |  CAST(1152 * nf AS BIGINT) AS n_samples,
             |  CAST(pcm_checksum AS BIGINT) AS pcm_checksum
             |FROM chk ORDER BY doc_id""".stripMargin)),

    // REAL MPEG-1 Layer III CRC PROTECTION, graded exactly — the header
    // protection bit with the spec's error_check: a 16-bit CRC
    // (generator x^16 + x^15 + x^2 + 1, all-ones initial state — the
    // REAL public polynomial, not a pinned stand-in) computed over
    // header bits 16..31 plus the full side information, verified
    // before any side-info parse. Protection is PCM-transparent (same
    // granule walk as q_mp3_decode), and a flipped bit anywhere in the
    // covered region or the CRC field rejects loudly instead of
    // desyncing the granule data.
    ("q_mp3_crc",
      (s: SparkSession, d: String) =>
        Multimodal.decodeMpegAudioStats(
            Multimodal.withMp3CrcMedia(t(s, d, "documents")))
          .toDF()
          .orderBy("doc_id"),
      Some("""WITH base AS (
             |  SELECT doc_id AS d, 1 + doc_id % 2 AS nf FROM documents),
             |inputs AS (
             |  SELECT b.d, b.nf, q8.gs, q7.sbp,
             |    sum(q6.xr * q7.w * ((7*pp.p + 11*q7.kp + 3) % 23 - 11)
             |      * (1 + (5*pp.p + 2) % 9)
             |      * (CASE WHEN q7.sbp % 2 = 1 AND (q8.gs % 18) % 2 = 1
             |              THEN -1 ELSE 1 END)) AS ival
             |  FROM base b
             |  JOIN range(0, 4) gg(gi) ON gg.gi < 2*b.nf
             |  JOIN range(0, 2) aa(a) ON true
             |  JOIN range(0, 36) pp(p) ON true
             |  CROSS JOIN LATERAL (SELECT
             |    (17 + 37*b.d + 101*gg.gi) % 576 AS pos,
             |    (b.d + gg.gi) % 3 = 0 AS esc) q1
             |  CROSS JOIN LATERAL (SELECT
             |    q1.pos // 18 AS sb, q1.pos % 18 AS k,
             |    least(q1.pos // 26, 21) AS band,
             |    CASE WHEN q1.esc THEN 15 + b.d % 2
             |         ELSE 1 + (b.d + 3*gg.gi) % 13 END AS v) q2
             |  CROSS JOIN LATERAL (SELECT
             |    CASE WHEN gg.gi % 2 = 1 AND
             |      (((b.d % 16) >> (CASE WHEN q2.band < 6 THEN 0
             |        WHEN q2.band < 11 THEN 1 WHEN q2.band < 16 THEN 2
             |        ELSE 3 END)) & 1) = 1
             |      THEN gg.gi - 1 ELSE gg.gi END AS sgi) q3
             |  CROSS JOIN LATERAL (SELECT
             |    CASE WHEN q2.band <= 10 THEN ((b.d + q3.sgi) % 16) // 4
             |         ELSE ((b.d + q3.sgi) % 16) % 4 END AS slen) q4
             |  CROSS JOIN LATERAL (SELECT
             |    (CASE WHEN q2.band > 20 THEN 0
             |          ELSE (3*b.d + q2.band + q3.sgi) % (1 << q4.slen) END)
             |    + CASE WHEN (b.d // 2 + gg.gi) % 2 = 1 THEN q2.band % 3
             |           ELSE 0 END AS sfv) q5
             |  CROSS JOIN LATERAL (SELECT
             |    (CASE WHEN (b.d + 5*gg.gi) % 2 = 1 THEN -1 ELSE 1 END)
             |      * q2.v * (q2.v + 2)
             |      * (1 + ((29*b.d + 7*gg.gi) % 256) % 9)
             |      * (1 + (3 * q5.sfv * (1 + (b.d // 4 + gg.gi) % 2)) % 11)
             |      AS xr) q6
             |  CROSS JOIN LATERAL (SELECT
             |    CASE WHEN aa.a = 0 THEN q2.sb
             |         WHEN q2.k >= 10 THEN q2.sb + 1 ELSE q2.sb - 1 END AS sbp,
             |    CASE WHEN aa.a = 0 THEN q2.k ELSE 17 - q2.k END AS kp,
             |    CASE WHEN aa.a = 0 THEN
             |      CASE WHEN q2.k >= 10 AND q2.sb < 31 THEN 2 + (17 - q2.k) % 3
             |           WHEN q2.k <= 7 AND q2.sb >= 1 THEN 2 + q2.k % 3
             |           ELSE 1 END
             |    ELSE CASE WHEN q2.k >= 10 THEN 1 + (17 - q2.k) % 2
             |              ELSE -(1 + q2.k % 2) END END AS w,
             |    aa.a = 0 OR (q2.k >= 10 AND q2.sb < 31)
             |      OR (q2.k <= 7 AND q2.sb >= 1) AS valid) q7
             |  CROSS JOIN LATERAL (SELECT
             |    CASE WHEN pp.p < 18 THEN gg.gi*18 + pp.p
             |         ELSE (gg.gi + 1)*18 + pp.p - 18 END AS gs) q8
             |  WHERE q7.valid AND q8.gs < 36*b.nf
             |  GROUP BY b.d, b.nf, q8.gs, q7.sbp),
             |chk AS (
             |  SELECT s.d, s.nf,
             |    sum(s.ival
             |      * (((11*((mm.m % 2)*32 + ii.i) + 23*s.sbp + 7) % 31) - 15)
             |      * (((7*(mm.m*32 + ii.i) + 13) % 29) - 14)
             |      * (((s.gs + mm.m)*32 + ii.i) % 97 + 1)) AS pcm_checksum
             |  FROM inputs s
             |  JOIN range(0, 16) mm(m) ON s.gs + mm.m < 36*s.nf
             |  JOIN range(0, 32) ii(i) ON true
             |  GROUP BY s.d, s.nf)
             |SELECT d AS doc_id, CAST(3 AS BIGINT) AS layer,
             |  CAST(1 AS BIGINT) AS n_channels,
             |  CAST(nf AS BIGINT) AS n_frames,
             |  CAST(1152 * nf AS BIGINT) AS n_samples,
             |  CAST(pcm_checksum AS BIGINT) AS pcm_checksum
             |FROM chk ORDER BY doc_id""".stripMargin)),

    // REAL MPEG-1 Layer III STEREO + JOINT STEREO, graded exactly — the
    // broadcast-common stereo modes: independent L/R (mode 00, 32-byte
    // side info, granule-major channel-minor main data), MS stereo
    // (mode 01 ext 10: the L=M+S / R=M−S butterfly, the spec's 1/sqrt 2
    // pinned to unit scaling), positional INTENSITY stereo (ext 01: the
    // left line sits ABOVE the right channel's zero bound, split by the
    // pinned kL=is_pos / kR=6−is_pos map with is_pos carried in the
    // right channel's scalefactor field), and MS+intensity combined
    // (ext 11: MS below the intensity region). The oracle derives each
    // output channel's effective line set from the mixing rules and
    // replays the same alias/IMDCT/polyphase algebra as q_mp3_decode,
    // with the sample-major L/R interleave inside the checksum weights —
    // a swapped channel, wrong butterfly sign, wrong intensity band
    // bound, or ignored direction collapses the grade.
    ("q_mp3_stereo",
      (s: SparkSession, d: String) =>
        Multimodal.decodeMpegAudioStats(
            Multimodal.withMp3StereoMedia(t(s, d, "documents")))
          .toDF()
          .orderBy("doc_id"),
      Some("""WITH base AS (
             |  SELECT doc_id AS d, doc_id % 4 AS r FROM documents),
             |tx AS (
             |  SELECT b.d, b.r, gg.gi, ss.src, q0.pos, q3.xr, q2b.ipos
             |  FROM base b
             |  JOIN range(0, 2) gg(gi) ON true
             |  JOIN range(0, 2) ss(src) ON true
             |  CROSS JOIN LATERAL (SELECT CASE
             |      WHEN b.r = 0 AND ss.src = 0 THEN (17 + 37*b.d + 101*gg.gi) % 576
             |      WHEN b.r = 0 THEN (29 + 41*b.d + 89*gg.gi) % 576
             |      WHEN b.r = 1 THEN (17 + 37*b.d + 101*gg.gi) % 576
             |      WHEN ss.src = 0 THEN 300 + (37*b.d + 101*gg.gi) % 270
             |      ELSE (13 + 7*b.d + 11*gg.gi) % 64 END AS pos) q0
             |  CROSS JOIN LATERAL (SELECT least(q0.pos // 26, 21) AS band,
             |    1 + (b.d + 3*gg.gi + 5*ss.src) % 13 AS v,
             |    (29*b.d + 7*gg.gi + 13*ss.src) % 256 AS gg2) q1
             |  CROSS JOIN LATERAL (SELECT
             |    CASE WHEN q1.band > 20 THEN 0
             |         ELSE (b.d + q1.band + gg.gi + ss.src) % 7 END AS sfv) q2
             |  CROSS JOIN LATERAL (SELECT
             |    CASE WHEN q1.band > 20 THEN 0
             |         ELSE (b.d + q1.band + gg.gi + 1) % 7 END AS ipos) q2b
             |  CROSS JOIN LATERAL (SELECT
             |    (CASE WHEN (b.d + 5*gg.gi + ss.src) % 2 = 1 THEN -1 ELSE 1 END)
             |      * q1.v * (q1.v + 2) * (1 + q1.gg2 % 9)
             |      * (1 + (3*q2.sfv) % 11) AS xr) q3),
             |eff AS (
             |  SELECT t.d, t.gi, cc.c AS ch, t.pos, q4.val
             |  FROM tx t
             |  JOIN range(0, 2) cc(c) ON true
             |  CROSS JOIN LATERAL (SELECT CASE
             |    WHEN t.r = 0 THEN CASE WHEN t.src = cc.c THEN t.xr END
             |    WHEN t.r = 1 THEN CASE WHEN cc.c = 0 OR t.src = 0
             |      THEN t.xr ELSE -t.xr END
             |    WHEN t.src = 0 THEN
             |      t.xr * (CASE WHEN cc.c = 0 THEN t.ipos ELSE 6 - t.ipos END)
             |    WHEN t.r = 2 THEN CASE WHEN cc.c = 1 THEN t.xr END
             |    ELSE CASE WHEN cc.c = 0 THEN t.xr ELSE -t.xr END
             |    END AS val) q4
             |  WHERE q4.val IS NOT NULL),
             |inputs AS (
             |  SELECT e.d, e.ch, q8.gs, q7.sbp,
             |    sum(e.val * q7.w * ((7*pp.p + 11*q7.kp + 3) % 23 - 11)
             |      * (1 + (5*pp.p + 2) % 9)
             |      * (CASE WHEN q7.sbp % 2 = 1 AND (q8.gs % 18) % 2 = 1
             |              THEN -1 ELSE 1 END)) AS ival
             |  FROM eff e
             |  JOIN range(0, 2) aa(a) ON true
             |  JOIN range(0, 36) pp(p) ON true
             |  CROSS JOIN LATERAL (SELECT
             |    e.pos // 18 AS sb, e.pos % 18 AS k) q2
             |  CROSS JOIN LATERAL (SELECT
             |    CASE WHEN aa.a = 0 THEN q2.sb
             |         WHEN q2.k >= 10 THEN q2.sb + 1 ELSE q2.sb - 1 END AS sbp,
             |    CASE WHEN aa.a = 0 THEN q2.k ELSE 17 - q2.k END AS kp,
             |    CASE WHEN aa.a = 0 THEN
             |      CASE WHEN q2.k >= 10 AND q2.sb < 31 THEN 2 + (17 - q2.k) % 3
             |           WHEN q2.k <= 7 AND q2.sb >= 1 THEN 2 + q2.k % 3
             |           ELSE 1 END
             |    ELSE CASE WHEN q2.k >= 10 THEN 1 + (17 - q2.k) % 2
             |              ELSE -(1 + q2.k % 2) END END AS w,
             |    aa.a = 0 OR (q2.k >= 10 AND q2.sb < 31)
             |      OR (q2.k <= 7 AND q2.sb >= 1) AS valid) q7
             |  CROSS JOIN LATERAL (SELECT
             |    CASE WHEN pp.p < 18 THEN e.gi*18 + pp.p
             |         ELSE (e.gi + 1)*18 + pp.p - 18 END AS gs) q8
             |  WHERE q7.valid AND q8.gs < 36
             |  GROUP BY e.d, e.ch, q8.gs, q7.sbp),
             |chk AS (
             |  SELECT s.d,
             |    sum(s.ival
             |      * (((11*((mm.m % 2)*32 + ii.i) + 23*s.sbp + 7) % 31) - 15)
             |      * (((7*(mm.m*32 + ii.i) + 13) % 29) - 14)
             |      * ((((s.gs + mm.m)*32 + ii.i)*2 + s.ch) % 97 + 1)) AS pcm_checksum
             |  FROM inputs s
             |  JOIN range(0, 16) mm(m) ON s.gs + mm.m < 36
             |  JOIN range(0, 32) ii(i) ON true
             |  GROUP BY s.d)
             |SELECT base.d AS doc_id, CAST(3 AS BIGINT) AS layer,
             |  CAST(2 AS BIGINT) AS n_channels,
             |  CAST(1 AS BIGINT) AS n_frames,
             |  CAST(2304 AS BIGINT) AS n_samples,
             |  CAST(COALESCE(chk.pcm_checksum, 0) AS BIGINT) AS pcm_checksum
             |FROM base LEFT JOIN chk ON chk.d = base.d
             |ORDER BY doc_id""".stripMargin)),

    // REAL MPEG-1 Layer III WINDOW SWITCHING, graded exactly — the
    // transient shape every real MP3 uses: four granules walking
    // long -> START -> SHORT -> STOP. The SHORT granule carries the
    // switching side info (block_type, mixed flag, TWO table selects,
    // three subblock gains in the same 22 side bits), 12x3 short
    // scalefactors, the TRANSMITTED band-major order whose reordering
    // the decoder must invert, per-window subblock-gain attenuation, NO
    // alias reduction, and three 12-point IMDCTs overlapping inside the
    // granule at offsets 6+6w; the transitions run the long filterbank
    // under piecewise windows whose ZERO regions make the block type
    // value-visible. One line per granule keeps the chain linear; the
    // oracle unions the short granule's 12-point path with the
    // long-class alias/36-point path before the shared polyphase sum.
    // REAL MPEG-1 Layer III BIT RESERVOIR, graded exactly — the framing
    // every real MP3 uses: fixed-rate frames (frame length = 144 *
    // bitrate / 44100 from the header's bitrate index) whose logical
    // main data packs back-to-back ACROSS the frames' physical
    // segments; each frame's side info carries main_data_begin, a byte
    // offset pointing BACK into earlier segments where this frame's
    // scalefactors + Huffman data actually start. Four mono frames with
    // small granules grow the reservoir surplus so every frame after
    // the first seeks a different nonzero distance backward; a decoder
    // that reads main data inline desyncs every granule after frame 0.
    // The PCM must equal the free-format coding of the same granules
    // (framing transparency — spec-pinned in Mp3ResvSpec).
    ("q_mp3_resv",
      (s: SparkSession, d: String) =>
        Multimodal.decodeMpegAudioStats(
            Multimodal.withMp3ResvMedia(t(s, d, "documents")))
          .toDF()
          .orderBy("doc_id"),
      Some("""WITH base AS (SELECT doc_id AS d FROM documents),
             |inputs AS (
             |  SELECT b.d, q8.gs, q7.sbp,
             |    sum(q6.xr * q7.w * ((7*pp.p + 11*q7.kp + 3) % 23 - 11)
             |      * (1 + (5*pp.p + 2) % 9)
             |      * (CASE WHEN q7.sbp % 2 = 1 AND (q8.gs % 18) % 2 = 1
             |              THEN -1 ELSE 1 END)) AS ival
             |  FROM base b
             |  JOIN range(0, 8) gg(gi) ON true
             |  JOIN range(0, 2) aa(a) ON true
             |  JOIN range(0, 36) pp(p) ON true
             |  CROSS JOIN LATERAL (SELECT
             |    (13 + 29*b.d + 101*gg.gi) % 32 AS pos,
             |    (b.d + gg.gi) % 16 AS sc) q1
             |  CROSS JOIN LATERAL (SELECT
             |    q1.pos // 18 AS sb, q1.pos % 18 AS k,
             |    q1.pos // 26 AS band,
             |    1 + (b.d + 3*gg.gi) % 13 AS v) q2
             |  CROSS JOIN LATERAL (SELECT
             |    CASE WHEN q2.band <= 10 THEN q1.sc // 4 ELSE q1.sc % 4 END AS slen) q4
             |  CROSS JOIN LATERAL (SELECT
             |    (3*b.d + q2.band + gg.gi) % (1 << q4.slen)
             |    + CASE WHEN (b.d // 2 + gg.gi) % 2 = 1 THEN q2.band % 3
             |           ELSE 0 END AS sfv) q5
             |  CROSS JOIN LATERAL (SELECT
             |    (CASE WHEN (b.d + 5*gg.gi) % 2 = 1 THEN -1 ELSE 1 END)
             |      * q2.v * (q2.v + 2)
             |      * (1 + ((29*b.d + 7*gg.gi) % 256) % 9)
             |      * (1 + (3 * q5.sfv * (1 + (b.d // 4 + gg.gi) % 2)) % 11)
             |      AS xr) q6
             |  CROSS JOIN LATERAL (SELECT
             |    CASE WHEN aa.a = 0 THEN q2.sb
             |         WHEN q2.k >= 10 THEN q2.sb + 1 ELSE q2.sb - 1 END AS sbp,
             |    CASE WHEN aa.a = 0 THEN q2.k ELSE 17 - q2.k END AS kp,
             |    CASE WHEN aa.a = 0 THEN
             |      CASE WHEN q2.k >= 10 AND q2.sb < 31 THEN 2 + (17 - q2.k) % 3
             |           WHEN q2.k <= 7 AND q2.sb >= 1 THEN 2 + q2.k % 3
             |           ELSE 1 END
             |    ELSE CASE WHEN q2.k >= 10 THEN 1 + (17 - q2.k) % 2
             |              ELSE -(1 + q2.k % 2) END END AS w,
             |    aa.a = 0 OR (q2.k >= 10 AND q2.sb < 31)
             |      OR (q2.k <= 7 AND q2.sb >= 1) AS valid) q7
             |  CROSS JOIN LATERAL (SELECT
             |    CASE WHEN pp.p < 18 THEN gg.gi*18 + pp.p
             |         ELSE (gg.gi + 1)*18 + pp.p - 18 END AS gs) q8
             |  WHERE q7.valid AND q8.gs < 144
             |  GROUP BY b.d, q8.gs, q7.sbp),
             |chk AS (
             |  SELECT s.d,
             |    sum(s.ival
             |      * (((11*((mm.m % 2)*32 + ii.i) + 23*s.sbp + 7) % 31) - 15)
             |      * (((7*(mm.m*32 + ii.i) + 13) % 29) - 14)
             |      * (((s.gs + mm.m)*32 + ii.i) % 97 + 1)) AS pcm_checksum
             |  FROM inputs s
             |  JOIN range(0, 16) mm(m) ON s.gs + mm.m < 144
             |  JOIN range(0, 32) ii(i) ON true
             |  GROUP BY s.d)
             |SELECT base.d AS doc_id, CAST(3 AS BIGINT) AS layer,
             |  CAST(1 AS BIGINT) AS n_channels,
             |  CAST(4 AS BIGINT) AS n_frames,
             |  CAST(4608 AS BIGINT) AS n_samples,
             |  CAST(COALESCE(chk.pcm_checksum, 0) AS BIGINT) AS pcm_checksum
             |FROM base LEFT JOIN chk ON chk.d = base.d
             |ORDER BY doc_id""".stripMargin)),

    // REAL MPEG-1 Layer III PADDING under fixed-rate framing, graded
    // exactly — the header padding bit gives its frame one extra byte
    // (how real 44100 Hz streams hit their exact bitrate), shifting
    // every later frame's sync position AND the reservoir arithmetic:
    // frame lengths, segment sizes, and main_data_begin offsets all
    // differ from the unpadded coding while the PCM must not (padding
    // is framing, not signal — spec-pinned in Mp3PadSpec along with the
    // structural frame-shift check). Alternating padded frames per doc.
    ("q_mp3_pad",
      (s: SparkSession, d: String) =>
        Multimodal.decodeMpegAudioStats(
            Multimodal.withMp3PadMedia(t(s, d, "documents")))
          .toDF()
          .orderBy("doc_id"),
      Some("""WITH base AS (SELECT doc_id AS d FROM documents),
             |inputs AS (
             |  SELECT b.d, q8.gs, q7.sbp,
             |    sum(q6.xr * q7.w * ((7*pp.p + 11*q7.kp + 3) % 23 - 11)
             |      * (1 + (5*pp.p + 2) % 9)
             |      * (CASE WHEN q7.sbp % 2 = 1 AND (q8.gs % 18) % 2 = 1
             |              THEN -1 ELSE 1 END)) AS ival
             |  FROM base b
             |  JOIN range(0, 8) gg(gi) ON true
             |  JOIN range(0, 2) aa(a) ON true
             |  JOIN range(0, 36) pp(p) ON true
             |  CROSS JOIN LATERAL (SELECT
             |    (13 + 29*b.d + 101*gg.gi) % 32 AS pos,
             |    (b.d + gg.gi) % 16 AS sc) q1
             |  CROSS JOIN LATERAL (SELECT
             |    q1.pos // 18 AS sb, q1.pos % 18 AS k,
             |    q1.pos // 26 AS band,
             |    1 + (b.d + 3*gg.gi) % 13 AS v) q2
             |  CROSS JOIN LATERAL (SELECT
             |    CASE WHEN q2.band <= 10 THEN q1.sc // 4 ELSE q1.sc % 4 END AS slen) q4
             |  CROSS JOIN LATERAL (SELECT
             |    (3*b.d + q2.band + gg.gi) % (1 << q4.slen)
             |    + CASE WHEN (b.d // 2 + gg.gi) % 2 = 1 THEN q2.band % 3
             |           ELSE 0 END AS sfv) q5
             |  CROSS JOIN LATERAL (SELECT
             |    (CASE WHEN (b.d + 5*gg.gi) % 2 = 1 THEN -1 ELSE 1 END)
             |      * q2.v * (q2.v + 2)
             |      * (1 + ((29*b.d + 7*gg.gi) % 256) % 9)
             |      * (1 + (3 * q5.sfv * (1 + (b.d // 4 + gg.gi) % 2)) % 11)
             |      AS xr) q6
             |  CROSS JOIN LATERAL (SELECT
             |    CASE WHEN aa.a = 0 THEN q2.sb
             |         WHEN q2.k >= 10 THEN q2.sb + 1 ELSE q2.sb - 1 END AS sbp,
             |    CASE WHEN aa.a = 0 THEN q2.k ELSE 17 - q2.k END AS kp,
             |    CASE WHEN aa.a = 0 THEN
             |      CASE WHEN q2.k >= 10 AND q2.sb < 31 THEN 2 + (17 - q2.k) % 3
             |           WHEN q2.k <= 7 AND q2.sb >= 1 THEN 2 + q2.k % 3
             |           ELSE 1 END
             |    ELSE CASE WHEN q2.k >= 10 THEN 1 + (17 - q2.k) % 2
             |              ELSE -(1 + q2.k % 2) END END AS w,
             |    aa.a = 0 OR (q2.k >= 10 AND q2.sb < 31)
             |      OR (q2.k <= 7 AND q2.sb >= 1) AS valid) q7
             |  CROSS JOIN LATERAL (SELECT
             |    CASE WHEN pp.p < 18 THEN gg.gi*18 + pp.p
             |         ELSE (gg.gi + 1)*18 + pp.p - 18 END AS gs) q8
             |  WHERE q7.valid AND q8.gs < 144
             |  GROUP BY b.d, q8.gs, q7.sbp),
             |chk AS (
             |  SELECT s.d,
             |    sum(s.ival
             |      * (((11*((mm.m % 2)*32 + ii.i) + 23*s.sbp + 7) % 31) - 15)
             |      * (((7*(mm.m*32 + ii.i) + 13) % 29) - 14)
             |      * (((s.gs + mm.m)*32 + ii.i) % 97 + 1)) AS pcm_checksum
             |  FROM inputs s
             |  JOIN range(0, 16) mm(m) ON s.gs + mm.m < 144
             |  JOIN range(0, 32) ii(i) ON true
             |  GROUP BY s.d)
             |SELECT base.d AS doc_id, CAST(3 AS BIGINT) AS layer,
             |  CAST(1 AS BIGINT) AS n_channels,
             |  CAST(4 AS BIGINT) AS n_frames,
             |  CAST(4608 AS BIGINT) AS n_samples,
             |  CAST(COALESCE(chk.pcm_checksum, 0) AS BIGINT) AS pcm_checksum
             |FROM base LEFT JOIN chk ON chk.d = base.d
             |ORDER BY doc_id""".stripMargin)),

    // REAL MPEG-1 Layer III MIXED BLOCKS, graded exactly — block_type 2
    // with mixed_block_flag: the two lowest polyphase subbands stay
    // LONG (natural transmitted order, long-band scalefactors with
    // pretab, the NORMAL long window) while subbands 2..31 run three
    // short windows (band-major-then-window transmitted order over
    // per-window lines f >= 12, the pinned short band 0 contributing
    // only its 12..15 tail, per-window subblock gains), and alias
    // reduction butterflies ONLY the long-long boundary — a band-1 line
    // with k >= 8 must NOT butterfly upward into subband 2. Four mixed
    // granules walk each region; one line per granule keeps the chain
    // linear for the replay.
    ("q_mp3_mixed",
      (s: SparkSession, d: String) =>
        Multimodal.decodeMpegAudioStats(
            Multimodal.withMp3MixedMedia(t(s, d, "documents")))
          .toDF()
          .orderBy("doc_id"),
      Some("""WITH base AS (SELECT doc_id AS d FROM documents),
             |longs AS (
             |  SELECT b.d, q8.gs, q7.sbp,
             |    sum(q6.xr * q7.w * ((7*pp.p + 11*q7.kp + 3) % 23 - 11)
             |      * (1 + (5*pp.p + 2) % 9)
             |      * (CASE WHEN q7.sbp % 2 = 1 AND (q8.gs % 18) % 2 = 1
             |              THEN -1 ELSE 1 END)) AS ival
             |  FROM base b
             |  JOIN range(0, 4) gg(gi) ON gg.gi = 0 OR gg.gi = 3
             |  JOIN range(0, 2) aa(a) ON true
             |  JOIN range(0, 36) pp(p) ON true
             |  CROSS JOIN LATERAL (SELECT
             |    CASE WHEN gg.gi = 0 THEN (5 + 29*b.d) % 26
             |         ELSE 26 + (7*b.d) % 10 END AS pos,
             |    (b.d + gg.gi) % 16 AS sc,
             |    (b.d // 4 + gg.gi) % 2 AS sscale,
             |    1 + ((29*b.d + 7*gg.gi) % 256) % 9 AS gain,
             |    1 + (b.d + 3*gg.gi) % 13 AS v) q1
             |  CROSS JOIN LATERAL (SELECT
             |    q1.pos // 18 AS sb, q1.pos % 18 AS k,
             |    q1.pos // 26 AS band) q2
             |  CROSS JOIN LATERAL (SELECT q1.sc // 4 AS slen) q4
             |  CROSS JOIN LATERAL (SELECT
             |    (3*b.d + q2.band + gg.gi) % (1 << q4.slen)
             |    + CASE WHEN (b.d // 2 + gg.gi) % 2 = 1 THEN q2.band % 3
             |           ELSE 0 END AS sfv) q5
             |  CROSS JOIN LATERAL (SELECT
             |    (CASE WHEN (b.d + 5*gg.gi) % 2 = 1 THEN -1 ELSE 1 END)
             |      * q1.v * (q1.v + 2) * q1.gain
             |      * (1 + (3 * q5.sfv * (1 + q1.sscale)) % 11) AS xr) q6
             |  CROSS JOIN LATERAL (SELECT
             |    CASE WHEN aa.a = 0 THEN q2.sb
             |         WHEN q2.k >= 10 THEN q2.sb + 1 ELSE q2.sb - 1 END AS sbp,
             |    CASE WHEN aa.a = 0 THEN q2.k ELSE 17 - q2.k END AS kp,
             |    CASE WHEN aa.a = 0 THEN
             |      CASE WHEN q2.k >= 10 AND q2.sb = 0 THEN 2 + (17 - q2.k) % 3
             |           WHEN q2.k <= 7 AND q2.sb = 1 THEN 2 + q2.k % 3
             |           ELSE 1 END
             |    ELSE CASE WHEN q2.k >= 10 THEN 1 + (17 - q2.k) % 2
             |              ELSE -(1 + q2.k % 2) END END AS w,
             |    aa.a = 0 OR (q2.k >= 10 AND q2.sb = 0)
             |      OR (q2.k <= 7 AND q2.sb = 1) AS valid) q7
             |  CROSS JOIN LATERAL (SELECT
             |    CASE WHEN pp.p < 18 THEN gg.gi*18 + pp.p
             |         ELSE (gg.gi + 1)*18 + pp.p - 18 END AS gs) q8
             |  WHERE q7.valid AND q8.gs < 72
             |  GROUP BY b.d, q8.gs, q7.sbp),
             |shorts AS (
             |  SELECT b.d, q8.gs, q2.sb AS sbp,
             |    sum(q6.xr * ((19*pp.p + 7*q2.i + 3) % 17 - 8)
             |      * (1 + (5*pp.p) % 11)
             |      * (CASE WHEN q2.sb % 2 = 1 AND (q8.gs % 18) % 2 = 1
             |              THEN -1 ELSE 1 END)) AS ival
             |  FROM base b
             |  JOIN range(0, 4) gg(gi) ON gg.gi = 1 OR gg.gi = 2
             |  JOIN range(0, 12) pp(p) ON true
             |  CROSS JOIN LATERAL (SELECT
             |    CASE WHEN gg.gi = 1 THEN 48 + (37*b.d) % 528
             |         ELSE 36 + b.d % 12 END AS pos,
             |    (b.d + gg.gi) % 16 AS sc,
             |    (b.d // 4 + gg.gi) % 2 AS sscale,
             |    1 + ((29*b.d + 7*gg.gi) % 256) % 9 AS gain,
             |    1 + (b.d + 3*gg.gi) % 13 AS v) q1
             |  CROSS JOIN LATERAL (SELECT q1.pos - 36 AS t) q1a
             |  CROSS JOIN LATERAL (SELECT
             |    CASE WHEN q1a.t < 12 THEN 0 ELSE 1 + (q1a.t - 12) // 48 END AS s,
             |    CASE WHEN q1a.t < 12 THEN q1a.t // 4
             |         ELSE ((q1a.t - 12) % 48) // 16 END AS w,
             |    CASE WHEN q1a.t < 12 THEN 12 + q1a.t % 4
             |         ELSE 16*(1 + (q1a.t - 12) // 48) + (q1a.t - 12) % 16
             |    END AS f) q1b
             |  CROSS JOIN LATERAL (SELECT
             |    q1b.f // 6 AS sb, q1b.f % 6 AS i) q2
             |  CROSS JOIN LATERAL (SELECT
             |    CASE WHEN q1b.s <= 5 THEN q1.sc // 4 ELSE q1.sc % 4 END AS slen) q4
             |  CROSS JOIN LATERAL (SELECT
             |    (b.d + 2*q1b.w + q1b.s) % (1 << q4.slen) AS sfv,
             |    1 + (5*((b.d + q1b.w + gg.gi) % 8)) % 7 AS subg) q5
             |  CROSS JOIN LATERAL (SELECT
             |    (CASE WHEN (b.d + 5*gg.gi) % 2 = 1 THEN -1 ELSE 1 END)
             |      * q1.v * (q1.v + 2) * q1.gain
             |      * (1 + (3 * q5.sfv * (1 + q1.sscale)) % 11) * q5.subg AS xr) q6
             |  CROSS JOIN LATERAL (SELECT 6 + 6*q1b.w + pp.p AS s36) q7
             |  CROSS JOIN LATERAL (SELECT
             |    CASE WHEN q7.s36 < 18 THEN gg.gi*18 + q7.s36
             |         ELSE (gg.gi + 1)*18 + q7.s36 - 18 END AS gs) q8
             |  WHERE q8.gs < 72
             |  GROUP BY b.d, q8.gs, q2.sb),
             |inputs AS (SELECT * FROM longs UNION ALL SELECT * FROM shorts),
             |chk AS (
             |  SELECT s.d,
             |    sum(s.ival
             |      * (((11*((mm.m % 2)*32 + ii.i) + 23*s.sbp + 7) % 31) - 15)
             |      * (((7*(mm.m*32 + ii.i) + 13) % 29) - 14)
             |      * (((s.gs + mm.m)*32 + ii.i) % 97 + 1)) AS pcm_checksum
             |  FROM inputs s
             |  JOIN range(0, 16) mm(m) ON s.gs + mm.m < 72
             |  JOIN range(0, 32) ii(i) ON true
             |  GROUP BY s.d)
             |SELECT base.d AS doc_id, CAST(3 AS BIGINT) AS layer,
             |  CAST(1 AS BIGINT) AS n_channels,
             |  CAST(2 AS BIGINT) AS n_frames,
             |  CAST(2304 AS BIGINT) AS n_samples,
             |  CAST(COALESCE(chk.pcm_checksum, 0) AS BIGINT) AS pcm_checksum
             |FROM base LEFT JOIN chk ON chk.d = base.d
             |ORDER BY doc_id""".stripMargin)),

    // REAL MPEG-1 Layer III STEREO x WINDOW SWITCHING, graded exactly —
    // per-channel block types inside one frame: independent short|long,
    // joint MS with both channels short, independent START|STOP, and
    // joint MS across MISMATCHED block types. MS mixes in unreordered
    // slot space, so the short-coded source's slot rides the OTHER
    // channel's alias + 36-point long filterbank (and a long-coded slot
    // rides the short channel's 12-point path) — the oracle derives
    // each line's slot from the SOURCE granule's block type and the
    // synthesis path from the OUTPUT channel's.
    ("q_mp3_swstereo",
      (s: SparkSession, d: String) =>
        Multimodal.decodeMpegAudioStats(
            Multimodal.withMp3SwStereoMedia(t(s, d, "documents")))
          .toDF()
          .orderBy("doc_id"),
      Some("""WITH base AS (
             |  SELECT doc_id AS d, doc_id % 4 AS r FROM documents),
             |tx AS (
             |  SELECT b.d, b.r, gg.gi, ss.src, q9.slot, q9.xr
             |  FROM base b
             |  JOIN range(0, 2) gg(gi) ON true
             |  JOIN range(0, 2) ss(src) ON true
             |  CROSS JOIN LATERAL (SELECT CASE
             |      WHEN b.r = 1 THEN 2
             |      WHEN b.r = 2 THEN CASE WHEN ss.src = 0 THEN 1 ELSE 3 END
             |      ELSE CASE WHEN ss.src = 0 THEN 2 ELSE 0 END END AS bts) q0
             |  CROSS JOIN LATERAL (SELECT
             |    (17 + 37*b.d + 101*gg.gi + 53*ss.src) % 576 AS pos,
             |    (b.d + gg.gi + ss.src) % 16 AS sc,
             |    (b.d // 4 + gg.gi + ss.src) % 2 AS sscale,
             |    1 + ((29*b.d + 7*gg.gi + 13*ss.src) % 256) % 9 AS gain,
             |    1 + (b.d + 3*gg.gi + 5*ss.src) % 13 AS v,
             |    CASE WHEN (b.d + 5*gg.gi + ss.src) % 2 = 1 THEN -1 ELSE 1 END AS sgn) q1
             |  CROSS JOIN LATERAL (SELECT
             |    q1.pos // 48 AS s2, (q1.pos % 48) // 16 AS w2,
             |    16*(q1.pos // 48) + q1.pos % 16 AS f2,
             |    least(q1.pos // 26, 21) AS band) q2
             |  CROSS JOIN LATERAL (SELECT CASE WHEN q0.bts = 2 THEN
             |      CASE WHEN q2.s2 <= 5 THEN q1.sc // 4 ELSE q1.sc % 4 END
             |    ELSE CASE WHEN q2.band <= 10 THEN q1.sc // 4 ELSE q1.sc % 4 END
             |    END AS slen) q4
             |  CROSS JOIN LATERAL (SELECT CASE WHEN q0.bts = 2 THEN
             |      (b.d + 2*q2.w2 + q2.s2 + ss.src) % (1 << q4.slen)
             |    ELSE (CASE WHEN q2.band > 20 THEN 0
             |      ELSE (3*b.d + q2.band + gg.gi + ss.src) % (1 << q4.slen) END)
             |      + CASE WHEN (b.d // 2 + gg.gi + ss.src) % 2 = 1
             |             THEN q2.band % 3 ELSE 0 END
             |    END AS sfv,
             |    CASE WHEN q0.bts = 2
             |      THEN 1 + (5*((b.d + q2.w2 + gg.gi + ss.src) % 8)) % 7
             |      ELSE 1 END AS subg) q5
             |  CROSS JOIN LATERAL (SELECT
             |    CASE WHEN q0.bts = 2
             |      THEN (q2.f2 // 6)*18 + q2.w2*6 + q2.f2 % 6
             |      ELSE q1.pos END AS slot,
             |    q1.sgn * q1.v * (q1.v + 2) * q1.gain
             |      * (1 + (3 * q5.sfv * (1 + q1.sscale)) % 11) * q5.subg AS xr) q9),
             |eff AS (
             |  SELECT t.d, t.gi, cc.c AS ch, t.slot, q6.val,
             |    CASE WHEN t.r = 1 THEN 2
             |      WHEN t.r = 2 THEN CASE WHEN cc.c = 0 THEN 1 ELSE 3 END
             |      ELSE CASE WHEN cc.c = 0 THEN 2 ELSE 0 END END AS bto
             |  FROM tx t
             |  JOIN range(0, 2) cc(c) ON true
             |  CROSS JOIN LATERAL (SELECT CASE
             |    WHEN t.r = 0 OR t.r = 2 THEN
             |      CASE WHEN t.src = cc.c THEN t.xr END
             |    WHEN cc.c = 0 THEN t.xr
             |    WHEN t.src = 0 THEN t.xr ELSE -t.xr END AS val) q6
             |  WHERE q6.val IS NOT NULL),
             |longs AS (
             |  SELECT e.d, e.ch, q8.gs, q7.sbp,
             |    sum(e.val * q7.w * ((7*pp.p + 11*q7.kp + 3) % 23 - 11)
             |      * q9.win
             |      * (CASE WHEN q7.sbp % 2 = 1 AND (q8.gs % 18) % 2 = 1
             |              THEN -1 ELSE 1 END)) AS ival
             |  FROM eff e
             |  JOIN range(0, 2) aa(a) ON e.bto <> 2
             |  JOIN range(0, 36) pp(p) ON true
             |  CROSS JOIN LATERAL (SELECT
             |    e.slot // 18 AS sb, e.slot % 18 AS k) q2
             |  CROSS JOIN LATERAL (SELECT
             |    CASE WHEN aa.a = 0 THEN q2.sb
             |         WHEN q2.k >= 10 THEN q2.sb + 1 ELSE q2.sb - 1 END AS sbp,
             |    CASE WHEN aa.a = 0 THEN q2.k ELSE 17 - q2.k END AS kp,
             |    CASE WHEN aa.a = 0 THEN
             |      CASE WHEN q2.k >= 10 AND q2.sb < 31 THEN 2 + (17 - q2.k) % 3
             |           WHEN q2.k <= 7 AND q2.sb >= 1 THEN 2 + q2.k % 3
             |           ELSE 1 END
             |    ELSE CASE WHEN q2.k >= 10 THEN 1 + (17 - q2.k) % 2
             |              ELSE -(1 + q2.k % 2) END END AS w,
             |    aa.a = 0 OR (q2.k >= 10 AND q2.sb < 31)
             |      OR (q2.k <= 7 AND q2.sb >= 1) AS valid) q7
             |  CROSS JOIN LATERAL (SELECT
             |    CASE WHEN pp.p < 18 THEN e.gi*18 + pp.p
             |         ELSE (e.gi + 1)*18 + pp.p - 18 END AS gs) q8
             |  CROSS JOIN LATERAL (SELECT
             |    CASE e.bto
             |      WHEN 0 THEN 1 + (5*pp.p + 2) % 9
             |      WHEN 1 THEN CASE WHEN pp.p < 18 THEN 1 + (5*pp.p + 2) % 9
             |        WHEN pp.p < 24 THEN 7
             |        WHEN pp.p < 30 THEN 1 + (5*(11 - (pp.p - 24))) % 11
             |        ELSE 0 END
             |      ELSE CASE WHEN pp.p < 6 THEN 0
             |        WHEN pp.p < 12 THEN 1 + (5*(pp.p - 6)) % 11
             |        WHEN pp.p < 18 THEN 7
             |        ELSE 1 + (5*pp.p + 2) % 9 END
             |    END AS win) q9
             |  WHERE q7.valid AND q8.gs < 36
             |  GROUP BY e.d, e.ch, q8.gs, q7.sbp),
             |shorts AS (
             |  SELECT e.d, e.ch, q8.gs, q2.sb AS sbp,
             |    sum(e.val * ((19*pp.p + 7*q2.i + 3) % 17 - 8)
             |      * (1 + (5*pp.p) % 11)
             |      * (CASE WHEN q2.sb % 2 = 1 AND (q8.gs % 18) % 2 = 1
             |              THEN -1 ELSE 1 END)) AS ival
             |  FROM eff e
             |  JOIN range(0, 12) pp(p) ON e.bto = 2
             |  CROSS JOIN LATERAL (SELECT
             |    e.slot // 18 AS sb, (e.slot % 18) // 6 AS w, e.slot % 6 AS i) q2
             |  CROSS JOIN LATERAL (SELECT 6 + 6*q2.w + pp.p AS s36) q7
             |  CROSS JOIN LATERAL (SELECT
             |    CASE WHEN q7.s36 < 18 THEN e.gi*18 + q7.s36
             |         ELSE (e.gi + 1)*18 + q7.s36 - 18 END AS gs) q8
             |  WHERE q8.gs < 36
             |  GROUP BY e.d, e.ch, q8.gs, q2.sb),
             |inputs AS (SELECT * FROM longs UNION ALL SELECT * FROM shorts),
             |chk AS (
             |  SELECT s.d,
             |    sum(s.ival
             |      * (((11*((mm.m % 2)*32 + ii.i) + 23*s.sbp + 7) % 31) - 15)
             |      * (((7*(mm.m*32 + ii.i) + 13) % 29) - 14)
             |      * ((((s.gs + mm.m)*32 + ii.i)*2 + s.ch) % 97 + 1)) AS pcm_checksum
             |  FROM inputs s
             |  JOIN range(0, 16) mm(m) ON s.gs + mm.m < 36
             |  JOIN range(0, 32) ii(i) ON true
             |  GROUP BY s.d)
             |SELECT base.d AS doc_id, CAST(3 AS BIGINT) AS layer,
             |  CAST(2 AS BIGINT) AS n_channels,
             |  CAST(1 AS BIGINT) AS n_frames,
             |  CAST(2304 AS BIGINT) AS n_samples,
             |  CAST(COALESCE(chk.pcm_checksum, 0) AS BIGINT) AS pcm_checksum
             |FROM base LEFT JOIN chk ON chk.d = base.d
             |ORDER BY doc_id""".stripMargin)),

    ("q_mp3_short",
      (s: SparkSession, d: String) =>
        Multimodal.decodeMpegAudioStats(
            Multimodal.withMp3SwitchMedia(t(s, d, "documents")))
          .toDF()
          .orderBy("doc_id"),
      Some("""WITH base AS (SELECT doc_id AS d FROM documents),
             |longs AS (
             |  SELECT b.d, q8.gs, q7.sbp,
             |    sum(q6.xr * q7.w * ((7*pp.p + 11*q7.kp + 3) % 23 - 11)
             |      * q9.win
             |      * (CASE WHEN q7.sbp % 2 = 1 AND (q8.gs % 18) % 2 = 1
             |              THEN -1 ELSE 1 END)) AS ival
             |  FROM base b
             |  JOIN range(0, 4) gg(gi) ON gg.gi <> 2
             |  JOIN range(0, 2) aa(a) ON true
             |  JOIN range(0, 36) pp(p) ON true
             |  CROSS JOIN LATERAL (SELECT
             |    (17 + 37*b.d + 101*gg.gi) % 576 AS pos,
             |    (b.d + gg.gi) % 16 AS sc,
             |    (b.d // 4 + gg.gi) % 2 AS sscale,
             |    1 + ((29*b.d + 7*gg.gi) % 256) % 9 AS gain,
             |    1 + (b.d + 3*gg.gi) % 13 AS v) q1
             |  CROSS JOIN LATERAL (SELECT
             |    q1.pos // 18 AS sb, q1.pos % 18 AS k,
             |    least(q1.pos // 26, 21) AS band) q2
             |  CROSS JOIN LATERAL (SELECT
             |    CASE WHEN q2.band <= 10 THEN q1.sc // 4 ELSE q1.sc % 4 END AS slen) q4
             |  CROSS JOIN LATERAL (SELECT
             |    (CASE WHEN q2.band > 20 THEN 0
             |          ELSE (3*b.d + q2.band + gg.gi) % (1 << q4.slen) END)
             |    + CASE WHEN (b.d // 2 + gg.gi) % 2 = 1 THEN q2.band % 3
             |           ELSE 0 END AS sfv) q5
             |  CROSS JOIN LATERAL (SELECT
             |    (CASE WHEN (b.d + 5*gg.gi) % 2 = 1 THEN -1 ELSE 1 END)
             |      * q1.v * (q1.v + 2) * q1.gain
             |      * (1 + (3 * q5.sfv * (1 + q1.sscale)) % 11) AS xr) q6
             |  CROSS JOIN LATERAL (SELECT
             |    CASE WHEN aa.a = 0 THEN q2.sb
             |         WHEN q2.k >= 10 THEN q2.sb + 1 ELSE q2.sb - 1 END AS sbp,
             |    CASE WHEN aa.a = 0 THEN q2.k ELSE 17 - q2.k END AS kp,
             |    CASE WHEN aa.a = 0 THEN
             |      CASE WHEN q2.k >= 10 AND q2.sb < 31 THEN 2 + (17 - q2.k) % 3
             |           WHEN q2.k <= 7 AND q2.sb >= 1 THEN 2 + q2.k % 3
             |           ELSE 1 END
             |    ELSE CASE WHEN q2.k >= 10 THEN 1 + (17 - q2.k) % 2
             |              ELSE -(1 + q2.k % 2) END END AS w,
             |    aa.a = 0 OR (q2.k >= 10 AND q2.sb < 31)
             |      OR (q2.k <= 7 AND q2.sb >= 1) AS valid) q7
             |  CROSS JOIN LATERAL (SELECT
             |    CASE WHEN pp.p < 18 THEN gg.gi*18 + pp.p
             |         ELSE (gg.gi + 1)*18 + pp.p - 18 END AS gs) q8
             |  CROSS JOIN LATERAL (SELECT
             |    CASE gg.gi
             |      WHEN 0 THEN 1 + (5*pp.p + 2) % 9
             |      WHEN 1 THEN CASE WHEN pp.p < 18 THEN 1 + (5*pp.p + 2) % 9
             |        WHEN pp.p < 24 THEN 7
             |        WHEN pp.p < 30 THEN 1 + (5*(11 - (pp.p - 24))) % 11
             |        ELSE 0 END
             |      ELSE CASE WHEN pp.p < 6 THEN 0
             |        WHEN pp.p < 12 THEN 1 + (5*(pp.p - 6)) % 11
             |        WHEN pp.p < 18 THEN 7
             |        ELSE 1 + (5*pp.p + 2) % 9 END
             |    END AS win) q9
             |  WHERE q7.valid AND q8.gs < 72
             |  GROUP BY b.d, q8.gs, q7.sbp),
             |shorts AS (
             |  SELECT b.d, q8.gs, q2.sb AS sbp,
             |    sum(q6.xr * ((19*pp.p + 7*q2.i + 3) % 17 - 8)
             |      * (1 + (5*pp.p) % 11)
             |      * (CASE WHEN q2.sb % 2 = 1 AND (q8.gs % 18) % 2 = 1
             |              THEN -1 ELSE 1 END)) AS ival
             |  FROM base b
             |  JOIN range(0, 12) pp(p) ON true
             |  CROSS JOIN LATERAL (SELECT
             |    (17 + 37*b.d + 202) % 576 AS pos,
             |    (b.d + 2) % 16 AS sc,
             |    (b.d // 4) % 2 AS sscale,
             |    1 + ((29*b.d + 14) % 256) % 9 AS gain,
             |    1 + (b.d + 6) % 13 AS v) q1
             |  CROSS JOIN LATERAL (SELECT
             |    q1.pos // 48 AS s, (q1.pos % 48) // 16 AS w,
             |    16*(q1.pos // 48) + q1.pos % 16 AS f) q1b
             |  CROSS JOIN LATERAL (SELECT
             |    q1b.f // 6 AS sb, q1b.f % 6 AS i) q2
             |  CROSS JOIN LATERAL (SELECT
             |    CASE WHEN q1b.s <= 5 THEN q1.sc // 4 ELSE q1.sc % 4 END AS slen) q4
             |  CROSS JOIN LATERAL (SELECT
             |    (b.d + 2*q1b.w + q1b.s) % (1 << q4.slen) AS sfv,
             |    1 + (5*((b.d + q1b.w + 2) % 8)) % 7 AS subg) q5
             |  CROSS JOIN LATERAL (SELECT
             |    (CASE WHEN b.d % 2 = 1 THEN -1 ELSE 1 END)
             |      * q1.v * (q1.v + 2) * q1.gain
             |      * (1 + (3 * q5.sfv * (1 + q1.sscale)) % 11) * q5.subg AS xr) q6
             |  CROSS JOIN LATERAL (SELECT 6 + 6*q1b.w + pp.p AS s36) q7
             |  CROSS JOIN LATERAL (SELECT
             |    CASE WHEN q7.s36 < 18 THEN 36 + q7.s36
             |         ELSE 54 + q7.s36 - 18 END AS gs) q8
             |  WHERE q8.gs < 72
             |  GROUP BY b.d, q8.gs, q2.sb),
             |inputs AS (SELECT * FROM longs UNION ALL SELECT * FROM shorts),
             |chk AS (
             |  SELECT s.d,
             |    sum(s.ival
             |      * (((11*((mm.m % 2)*32 + ii.i) + 23*s.sbp + 7) % 31) - 15)
             |      * (((7*(mm.m*32 + ii.i) + 13) % 29) - 14)
             |      * (((s.gs + mm.m)*32 + ii.i) % 97 + 1)) AS pcm_checksum
             |  FROM inputs s
             |  JOIN range(0, 16) mm(m) ON s.gs + mm.m < 72
             |  JOIN range(0, 32) ii(i) ON true
             |  GROUP BY s.d)
             |SELECT base.d AS doc_id, CAST(3 AS BIGINT) AS layer,
             |  CAST(1 AS BIGINT) AS n_channels,
             |  CAST(2 AS BIGINT) AS n_frames,
             |  CAST(2304 AS BIGINT) AS n_samples,
             |  CAST(COALESCE(chk.pcm_checksum, 0) AS BIGINT) AS pcm_checksum
             |FROM base LEFT JOIN chk ON chk.d = base.d
             |ORDER BY doc_id""".stripMargin)),

    // REAL AAC-LC (ADTS) decode, graded exactly — the last named rung of
    // the perceptual-audio ladder: each doc carries a genuine mono ADTS
    // stream decoded through the full AAC-LC structure — 0xFFF sync +
    // header with the 13-bit frame_length validated against the consumed
    // bytes, single_channel_element, ics_info (long windows), run-length
    // section_data with the 31-escape, DPCM scalefactors through the
    // pinned codebook, spectral Huffman with the spec's grammar (signed
    // 4-tuple books 1-2, unsigned with sign bits 3-4 and 7-11, signed
    // 2-tuple 5-6, book 11's escape sequences), pinned requantization,
    // and the 2048-point IMDCT with overlap-add carried ACROSS ADTS
    // frames. One spectral line per frame keeps the chain linear; the
    // oracle replays requant -> IMDCT -> window -> overlap as one flat
    // sum; any framing/section/sign/escape/window drift moves the
    // checksum.
    // REAL AAC-LC PULSE DATA (4.4.2.7), graded exactly — the last
    // rejected spectral tool in the LC profile surface: the 4.4.2.1
    // pulse_data_present flag, number_pulse / pulse_start_sfb, additive
    // offset chaining from the start band's first line, and amplitudes
    // added in the QUANTIZED domain before requantization — the first
    // pulse lands ON the coded Huffman line (sign-matched add), later
    // pulses on ZERO lines of the same band (0 - amp goes negative).
    // number_pulse rotates 1..3 per frame; pulses into zero sections and
    // EIGHT_SHORT frames stay loud rejections.
    ("q_aac_pulse",
      (s: SparkSession, d: String) =>
        Multimodal.decodeAacStats(
            Multimodal.withAacPulseMedia(t(s, d, "documents")))
          .toDF()
          .orderBy("doc_id"),
      Some("""WITH base AS (
             |  SELECT doc_id AS d, 1 + doc_id % 2 AS nf FROM documents),
             |chk AS (
             |  SELECT b.d, b.nf,
             |    sum(vv.xr * ((13*pp.p + 7*vv.kp + 5) % 29 - 14)
             |        * (1 + (3*pp.p) % 17) * (vv.t % 97 + 1)) AS pcm_checksum
             |  FROM base b
             |  JOIN range(0, 2) ff(f) ON ff.f < b.nf
             |  JOIN range(0, 3) ll(l) ON ll.l < 1 + (b.d + ff.f) % 3
             |  JOIN range(0, 2048) pp(p) ON true
             |  CROSS JOIN LATERAL (SELECT
             |    (2 + (b.d + ff.f) % 20) * 32 + (7*b.d + 3*ff.f) % 20 AS pos,
             |    1 + (b.d + ff.f) % 11 AS cb) q1
             |  CROSS JOIN LATERAL (SELECT
             |    CASE WHEN q1.cb = 11 THEN 16 + b.d % 40
             |    ELSE 1 + (b.d + ff.f) % (CASE q1.cb
             |      WHEN 1 THEN 1 WHEN 2 THEN 1 WHEN 3 THEN 2 WHEN 4 THEN 2
             |      WHEN 5 THEN 4 WHEN 6 THEN 4 WHEN 7 THEN 7 WHEN 8 THEN 7
             |      ELSE 12 END) END AS mag,
             |    20 + (29*b.d + 7*ff.f) % 200
             |      + (b.d + 3*ff.f) % 41 - 20 AS sf) q2
             |  CROSS JOIN LATERAL (SELECT
             |    CASE WHEN (b.d + ff.f) % 2 = 1 THEN -q2.mag ELSE q2.mag END AS v) q3
             |  CROSS JOIN LATERAL (SELECT
             |    CASE ll.l
             |      WHEN 0 THEN CASE WHEN q3.v > 0
             |        THEN q3.v + 1 + (3*b.d + ff.f) % 15
             |        ELSE q3.v - (1 + (3*b.d + ff.f) % 15) END
             |      WHEN 1 THEN -(1 + (3*b.d + 5 + ff.f) % 15)
             |      ELSE -(1 + (3*b.d + 10 + ff.f) % 15) END AS q,
             |    q1.pos + CASE ll.l WHEN 0 THEN 0 WHEN 1 THEN 5 ELSE 11 END AS kp) q4
             |  CROSS JOIN LATERAL (SELECT
             |    (CASE WHEN q4.q < 0 THEN -1 ELSE 1 END)
             |      * abs(q4.q) * (abs(q4.q) + 2) * (1 + (5*q2.sf) % 13) AS xr,
             |    q4.kp AS kp,
             |    CASE WHEN pp.p < 1024 THEN ff.f*1024 + pp.p
             |         ELSE (ff.f + 1)*1024 + pp.p - 1024 END AS t) vv
             |  WHERE vv.t < 1024*b.nf AND q4.q <> 0
             |  GROUP BY b.d, b.nf)
             |SELECT base.d AS doc_id, CAST(base.nf AS BIGINT) AS n_frames,
             |  CAST(1024*base.nf AS BIGINT) AS n_samples,
             |  CAST(COALESCE(chk.pcm_checksum, 0) AS BIGINT) AS pcm_checksum
             |FROM base LEFT JOIN chk ON chk.d = base.d
             |ORDER BY doc_id""".stripMargin)),

    ("q_aac_decode",
      (s: SparkSession, d: String) =>
        Multimodal.decodeAacStats(
            Multimodal.withAacMedia(t(s, d, "documents")))
          .toDF()
          .orderBy("doc_id"),
      Some("""WITH base AS (
             |  SELECT doc_id AS d, 1 + doc_id % 2 AS nf FROM documents),
             |chk AS (
             |  SELECT b.d, b.nf,
             |    sum(vv.xr * ((13*pp.p + 7*vv.pos + 5) % 29 - 14)
             |        * (1 + (3*pp.p) % 17) * (vv.t % 97 + 1)) AS pcm_checksum
             |  FROM base b
             |  JOIN range(0, 2) ff(f) ON ff.f < b.nf
             |  JOIN range(0, 2048) pp(p) ON true
             |  CROSS JOIN LATERAL (SELECT
             |    (37*b.d + 911*ff.f) % 1024 AS pos,
             |    1 + (b.d + ff.f) % 11 AS cb) q1
             |  CROSS JOIN LATERAL (SELECT
             |    CASE WHEN q1.cb = 11 THEN 16 + b.d % 40
             |    ELSE 1 + (b.d + ff.f) % (CASE q1.cb
             |      WHEN 1 THEN 1 WHEN 2 THEN 1 WHEN 3 THEN 2 WHEN 4 THEN 2
             |      WHEN 5 THEN 4 WHEN 6 THEN 4 WHEN 7 THEN 7 WHEN 8 THEN 7
             |      ELSE 12 END) END AS mag,
             |    20 + (29*b.d + 7*ff.f) % 200
             |      + (b.d + 3*ff.f) % 41 - 20 AS sf) q2
             |  CROSS JOIN LATERAL (SELECT
             |    (CASE WHEN (b.d + ff.f) % 2 = 1 THEN -1 ELSE 1 END)
             |      * q2.mag * (q2.mag + 2) * (1 + (5*q2.sf) % 13) AS xr,
             |    q1.pos AS pos,
             |    CASE WHEN pp.p < 1024 THEN ff.f*1024 + pp.p
             |         ELSE (ff.f + 1)*1024 + pp.p - 1024 END AS t) vv
             |  WHERE vv.t < 1024*b.nf
             |  GROUP BY b.d, b.nf)
             |SELECT d AS doc_id, CAST(nf AS BIGINT) AS n_frames,
             |  CAST(1024*nf AS BIGINT) AS n_samples,
             |  CAST(pcm_checksum AS BIGINT) AS pcm_checksum
             |FROM chk ORDER BY doc_id""".stripMargin)),

    // REAL AAC ADTS CRC PROTECTION, graded exactly — protection_absent
    // = 0 inserts a 16-bit crc_check between the 7-byte header and the
    // raw_data_block (frame_length covering all 9 header bytes). The
    // CRC is the REAL ISO polynomial (x^16+x^15+x^2+1, all-ones init,
    // shared with the Layer III error_check); the covered region is
    // pinned to header + raw-data bytes, and protected multi-block
    // frames (per-block position tables in the spec) stay a loud
    // rejection. Protection is PCM-transparent over the q_aac_decode
    // frame walk; a flipped block or CRC bit rejects loudly.
    ("q_aac_crc",
      (s: SparkSession, d: String) =>
        Multimodal.decodeAacStats(
            Multimodal.withAacCrcMedia(t(s, d, "documents")))
          .toDF()
          .orderBy("doc_id"),
      Some("""WITH base AS (
             |  SELECT doc_id AS d, 1 + doc_id % 2 AS nf FROM documents),
             |chk AS (
             |  SELECT b.d, b.nf,
             |    sum(vv.xr * ((13*pp.p + 7*vv.pos + 5) % 29 - 14)
             |        * (1 + (3*pp.p) % 17) * (vv.t % 97 + 1)) AS pcm_checksum
             |  FROM base b
             |  JOIN range(0, 2) ff(f) ON ff.f < b.nf
             |  JOIN range(0, 2048) pp(p) ON true
             |  CROSS JOIN LATERAL (SELECT
             |    (37*b.d + 911*ff.f) % 1024 AS pos,
             |    1 + (b.d + ff.f) % 11 AS cb) q1
             |  CROSS JOIN LATERAL (SELECT
             |    CASE WHEN q1.cb = 11 THEN 16 + b.d % 40
             |    ELSE 1 + (b.d + ff.f) % (CASE q1.cb
             |      WHEN 1 THEN 1 WHEN 2 THEN 1 WHEN 3 THEN 2 WHEN 4 THEN 2
             |      WHEN 5 THEN 4 WHEN 6 THEN 4 WHEN 7 THEN 7 WHEN 8 THEN 7
             |      ELSE 12 END) END AS mag,
             |    20 + (29*b.d + 7*ff.f) % 200
             |      + (b.d + 3*ff.f) % 41 - 20 AS sf) q2
             |  CROSS JOIN LATERAL (SELECT
             |    (CASE WHEN (b.d + ff.f) % 2 = 1 THEN -1 ELSE 1 END)
             |      * q2.mag * (q2.mag + 2) * (1 + (5*q2.sf) % 13) AS xr,
             |    q1.pos AS pos,
             |    CASE WHEN pp.p < 1024 THEN ff.f*1024 + pp.p
             |         ELSE (ff.f + 1)*1024 + pp.p - 1024 END AS t) vv
             |  WHERE vv.t < 1024*b.nf
             |  GROUP BY b.d, b.nf)
             |SELECT d AS doc_id, CAST(nf AS BIGINT) AS n_frames,
             |  CAST(1024*nf AS BIGINT) AS n_samples,
             |  CAST(pcm_checksum AS BIGINT) AS pcm_checksum
             |FROM chk ORDER BY doc_id""".stripMargin)),

    // REAL AAC MULTIPLE RAW DATA BLOCKS, graded exactly — the ADTS
    // header's 2-bit number_of_raw_data_blocks_in_frame: 3 or 4
    // one-line blocks grouped [2,1] / [3,1] under shared headers whose
    // single 13-bit frame_length covers every block, each
    // raw_data_block a full 1024-sample audio frame ending in its own
    // END element + byte alignment. A decoder that stops after the
    // first block loses frames; one that mis-walks the per-block
    // alignment trips the frame-length check. Grouping transparency
    // (same PCM as one-block-per-frame framing) is spec-pinned.
    ("q_aac_multi",
      (s: SparkSession, d: String) =>
        Multimodal.decodeAacStats(
            Multimodal.withAacMultiMedia(t(s, d, "documents")))
          .toDF()
          .orderBy("doc_id"),
      Some("""WITH base AS (
             |  SELECT doc_id AS d, 3 + doc_id % 2 AS nf FROM documents),
             |chk AS (
             |  SELECT b.d, b.nf,
             |    sum(vv.xr * ((13*pp.p + 7*vv.pos + 5) % 29 - 14)
             |        * (1 + (3*pp.p) % 17) * (vv.t % 97 + 1)) AS pcm_checksum
             |  FROM base b
             |  JOIN range(0, 4) ff(f) ON ff.f < b.nf
             |  JOIN range(0, 2048) pp(p) ON true
             |  CROSS JOIN LATERAL (SELECT
             |    (37*b.d + 911*ff.f) % 1024 AS pos,
             |    1 + (b.d + ff.f) % 11 AS cb) q1
             |  CROSS JOIN LATERAL (SELECT
             |    CASE WHEN q1.cb = 11 THEN 16 + b.d % 40
             |    ELSE 1 + (b.d + ff.f) % (CASE q1.cb
             |      WHEN 1 THEN 1 WHEN 2 THEN 1 WHEN 3 THEN 2 WHEN 4 THEN 2
             |      WHEN 5 THEN 4 WHEN 6 THEN 4 WHEN 7 THEN 7 WHEN 8 THEN 7
             |      ELSE 12 END) END AS mag,
             |    20 + (29*b.d + 7*ff.f) % 200
             |      + (b.d + 3*ff.f) % 41 - 20 AS sf) q2
             |  CROSS JOIN LATERAL (SELECT
             |    (CASE WHEN (b.d + ff.f) % 2 = 1 THEN -1 ELSE 1 END)
             |      * q2.mag * (q2.mag + 2) * (1 + (5*q2.sf) % 13) AS xr,
             |    q1.pos AS pos,
             |    CASE WHEN pp.p < 1024 THEN ff.f*1024 + pp.p
             |         ELSE (ff.f + 1)*1024 + pp.p - 1024 END AS t) vv
             |  WHERE vv.t < 1024*b.nf
             |  GROUP BY b.d, b.nf)
             |SELECT d AS doc_id, CAST(nf AS BIGINT) AS n_frames,
             |  CAST(1024*nf AS BIGINT) AS n_samples,
             |  CAST(pcm_checksum AS BIGINT) AS pcm_checksum
             |FROM chk ORDER BY doc_id""".stripMargin)),

    // REAL AAC-LC EIGHT_SHORT_SEQUENCE decode, graded exactly — the
    // transient-window half of the AAC filterbank: each frame carries
    // the 4-bit short max_sfb + 7 scale_factor_grouping bits (groups
    // rotate per doc/frame; a grouping mis-parse desyncs the PER-GROUP
    // section lists and the grade), group-interleaved spectral data over
    // the pinned 15-band short table, and eight 256-point IMDCTs placed
    // at 448 + 128w with cross-frame overlap-add. One line per frame
    // keeps the chain linear; the oracle replays requant -> short IMDCT
    // -> window placement -> overlap as one flat sum.
    ("q_aac_short",
      (s: SparkSession, d: String) =>
        Multimodal.decodeAacStats(
            Multimodal.withAacShortMedia(t(s, d, "documents")))
          .toDF()
          .orderBy("doc_id"),
      Some("""WITH base AS (
             |  SELECT doc_id AS d, 1 + doc_id % 2 AS nf FROM documents),
             |chk AS (
             |  SELECT b.d, b.nf,
             |    sum(CASE WHEN vv.t < 1024*b.nf THEN
             |      vv.xr * ((11*pp.p + 5*vv.k + 3) % 23 - 11)
             |        * (1 + (7*pp.p) % 13) * (vv.t % 97 + 1) ELSE 0 END) AS pcm_checksum
             |  FROM base b
             |  JOIN range(0, 2) ff(f) ON ff.f < b.nf
             |  JOIN range(0, 256) pp(p) ON true
             |  CROSS JOIN LATERAL (SELECT
             |    (37*b.d + 911*ff.f) % 1024 AS pos,
             |    1 + (b.d + ff.f) % 11 AS cb) q1
             |  CROSS JOIN LATERAL (SELECT
             |    CASE WHEN q1.cb = 11 THEN 16 + b.d % 40
             |    ELSE 1 + (b.d + ff.f) % (CASE q1.cb
             |      WHEN 1 THEN 1 WHEN 2 THEN 1 WHEN 3 THEN 2 WHEN 4 THEN 2
             |      WHEN 5 THEN 4 WHEN 6 THEN 4 WHEN 7 THEN 7 WHEN 8 THEN 7
             |      ELSE 12 END) END AS mag,
             |    20 + (29*b.d + 7*ff.f) % 200
             |      + (b.d + 3*ff.f) % 41 - 20 AS sf) q2
             |  CROSS JOIN LATERAL (SELECT
             |    (CASE WHEN (b.d + ff.f) % 2 = 1 THEN -1 ELSE 1 END)
             |      * q2.mag * (q2.mag + 2) * (1 + (5*q2.sf) % 13) AS xr,
             |    q1.pos % 128 AS k,
             |    ff.f*1024 + 448 + 128*(q1.pos//128) + pp.p AS t) vv
             |  GROUP BY b.d, b.nf)
             |SELECT d AS doc_id, CAST(nf AS BIGINT) AS n_frames,
             |  CAST(1024*nf AS BIGINT) AS n_samples,
             |  CAST(pcm_checksum AS BIGINT) AS pcm_checksum
             |FROM chk ORDER BY doc_id""".stripMargin)),

    // REAL AAC window-sequence transitions, graded exactly — a
    // four-frame ONLY_LONG -> LONG_START -> EIGHT_SHORT -> LONG_STOP
    // walk (the shape every real AAC stream uses around transients):
    // the transition windows carry the spec's piecewise structure with
    // ZERO regions, so a wrong window sequence moves energy into
    // samples the oracle expects silent. One line per frame; the oracle
    // replays all four filterbank shapes plus the cross-frame
    // overlap-add as one flat sum.
    ("q_aac_trans",
      (s: SparkSession, d: String) =>
        Multimodal.decodeAacStats(
            Multimodal.withAacTransMedia(t(s, d, "documents")))
          .toDF()
          .orderBy("doc_id"),
      Some("""WITH base AS (
             |  SELECT doc_id AS d FROM documents),
             |chk AS (
             |  SELECT b.d,
             |    sum(CASE WHEN vv.t < 4096 AND vv.val IS NOT NULL
             |      THEN vv.val * (vv.t % 97 + 1) ELSE 0 END) AS pcm_checksum
             |  FROM base b
             |  JOIN range(0, 4) ff(f) ON true
             |  JOIN range(0, 2048) pp(p) ON true
             |  CROSS JOIN LATERAL (SELECT
             |    (37*b.d + 911*ff.f) % 1024 AS pos,
             |    1 + (b.d + ff.f) % 11 AS cb) q1
             |  CROSS JOIN LATERAL (SELECT
             |    CASE WHEN q1.cb = 11 THEN 16 + b.d % 40
             |    ELSE 1 + (b.d + ff.f) % (CASE q1.cb
             |      WHEN 1 THEN 1 WHEN 2 THEN 1 WHEN 3 THEN 2 WHEN 4 THEN 2
             |      WHEN 5 THEN 4 WHEN 6 THEN 4 WHEN 7 THEN 7 WHEN 8 THEN 7
             |      ELSE 12 END) END AS mag,
             |    20 + (29*b.d + 7*ff.f) % 200
             |      + (b.d + 3*ff.f) % 41 - 20 AS sf) q2
             |  CROSS JOIN LATERAL (SELECT
             |    (CASE WHEN (b.d + ff.f) % 2 = 1 THEN -1 ELSE 1 END)
             |      * q2.mag * (q2.mag + 2) * (1 + (5*q2.sf) % 13) AS xr) q3
             |  CROSS JOIN LATERAL (SELECT
             |    CASE WHEN ff.f = 2 THEN
             |      CASE WHEN pp.p < 256
             |        THEN ff.f*1024 + 448 + 128*(q1.pos//128) + pp.p
             |        ELSE 9999 END
             |    ELSE ff.f*1024 + pp.p END AS t,
             |    CASE WHEN ff.f = 2 THEN
             |      CASE WHEN pp.p < 256 THEN
             |        q3.xr * ((11*pp.p + 5*(q1.pos % 128) + 3) % 23 - 11)
             |          * (1 + (7*pp.p) % 13)
             |      ELSE NULL END
             |    WHEN ff.f = 0 THEN
             |      q3.xr * ((13*pp.p + 7*q1.pos + 5) % 29 - 14)
             |        * (1 + (3*pp.p) % 17)
             |    WHEN ff.f = 1 THEN
             |      q3.xr * ((13*pp.p + 7*q1.pos + 5) % 29 - 14)
             |        * (CASE WHEN pp.p < 1024 THEN 1 + (3*pp.p) % 17
             |            WHEN pp.p < 1472 THEN 7
             |            WHEN pp.p < 1600 THEN 1 + (7*(1727 - pp.p)) % 13
             |            ELSE 0 END)
             |    ELSE
             |      q3.xr * ((13*pp.p + 7*q1.pos + 5) % 29 - 14)
             |        * (CASE WHEN pp.p < 448 THEN 0
             |            WHEN pp.p < 576 THEN 1 + (7*(pp.p - 448)) % 13
             |            WHEN pp.p < 1024 THEN 7
             |            ELSE 1 + (3*pp.p) % 17 END)
             |    END AS val) vv
             |  GROUP BY b.d)
             |SELECT d AS doc_id, CAST(4 AS BIGINT) AS n_frames,
             |  CAST(4096 AS BIGINT) AS n_samples,
             |  CAST(pcm_checksum AS BIGINT) AS pcm_checksum
             |FROM chk ORDER BY doc_id""".stripMargin)),

    // REAL AAC-LC TNS (§4.6.9), graded sample-exact — tns_data_present=1
    // frames whose single coded impulse propagates through the all-pole
    // synthesis filter over the top two scalefactor bands. Five rotating
    // filter shapes: constant run (coef −1), alternating (+1), period-2
    // (order 2), geometric ×(−2) near the region end, and a DIRECTION-1
    // downward run — the direction bit, the order loop, the
    // two's-complement coefficient read, the region walk from max_sfb,
    // and the zero-history region boundary are each value-visible. The
    // oracle factors the IMDCT into a doc-INDEPENDENT per-line basis
    // (one 64x1024 sum shared by all docs) and replays the spectral
    // runs closed-form on top — the recursion never rides the join.
    ("q_aac_tns",
      (s: SparkSession, d: String) =>
        Multimodal.decodeAacStats(
            Multimodal.withAacTnsMedia(t(s, d, "documents")))
          .toDF()
          .orderBy("doc_id"),
      Some("""WITH basis AS (
             |  SELECT kk.k AS k,
             |    sum(((13*pp.p + 7*kk.k + 5) % 29 - 14)
             |      * (1 + (3*pp.p) % 17) * (pp.p % 97 + 1)) AS bsum
             |  FROM range(960, 1024) kk(k)
             |  JOIN range(0, 1024) pp(p) ON true
             |  GROUP BY kk.k),
             |base AS (
             |  SELECT doc_id AS d, doc_id % 5 AS r,
             |    1 + doc_id % 4 AS mag,
             |    CASE WHEN doc_id % 2 = 1 THEN -1 ELSE 1 END AS sgn,
             |    20 + (29*doc_id) % 200 + (doc_id % 41) - 20 AS sf
             |  FROM documents),
             |xs AS (
             |  SELECT b.d, b.r,
             |    b.sgn * b.mag * (b.mag + 2) * (1 + (5*b.sf) % 13) AS x
             |  FROM base b),
             |chk AS (
             |  SELECT x.d,
             |    sum(basis.bsum * CASE x.r
             |      WHEN 0 THEN CASE WHEN basis.k >= 970 THEN x.x ELSE 0 END
             |      WHEN 1 THEN CASE WHEN (basis.k - 960) % 2 = 0
             |        THEN x.x ELSE -x.x END
             |      WHEN 2 THEN CASE WHEN basis.k >= 961
             |          AND (basis.k - 961) % 2 = 0 THEN x.x ELSE 0 END
             |      WHEN 3 THEN CASE WHEN basis.k >= 1014 THEN
             |        x.x * (CASE WHEN (basis.k - 1014) % 2 = 1 THEN -1 ELSE 1 END)
             |          * (1 << GREATEST(basis.k - 1014, 0))
             |        ELSE 0 END
             |      ELSE CASE WHEN basis.k <= 1000 THEN x.x ELSE 0 END
             |    END) AS pcm_checksum
             |  FROM xs x CROSS JOIN basis
             |  GROUP BY x.d)
             |SELECT d AS doc_id, CAST(1 AS BIGINT) AS n_frames,
             |  CAST(1024 AS BIGINT) AS n_samples,
             |  CAST(pcm_checksum AS BIGINT) AS pcm_checksum
             |FROM chk ORDER BY doc_id""".stripMargin)),

    // REAL AAC SHORT-WINDOW TNS (§4.6.9 on EIGHT_SHORT frames), graded
    // sample-exact — the per-WINDOW n_filt loop (8 one-bit flags; only
    // the coded window carries a filter), 4-bit length in SHORT band
    // units, the 3-bit LC order bound, and the all-pole recursion
    // bounded INSIDE the window's 128 lines. The five filter shapes of
    // q_aac_tns rotate across windows 0..3; the oracle factors the
    // short filterbank (448 + 128w placement, 1024-sample cutoff) into
    // a doc-independent (window, line) basis.
    ("q_aac_tns_short",
      (s: SparkSession, d: String) =>
        Multimodal.decodeAacStats(
            Multimodal.withAacTnsShortMedia(t(s, d, "documents")))
          .toDF()
          .orderBy("doc_id"),
      Some("""WITH basis AS (
             |  SELECT wq.w AS w, kk.k AS k,
             |    sum(CASE WHEN 448 + 128*wq.w + pp.p < 1024 THEN
             |      ((11*pp.p + 5*kk.k + 3) % 23 - 11) * (1 + (7*pp.p) % 13)
             |      * ((448 + 128*wq.w + pp.p) % 97 + 1) ELSE 0 END) AS bsum
             |  FROM range(0, 4) wq(w)
             |  JOIN range(104, 128) kk(k) ON true
             |  JOIN range(0, 256) pp(p) ON true
             |  GROUP BY wq.w, kk.k),
             |base AS (
             |  SELECT doc_id AS d, doc_id % 5 AS r, doc_id % 4 AS w,
             |    1 + doc_id % 4 AS mag,
             |    CASE WHEN doc_id % 2 = 1 THEN -1 ELSE 1 END AS sgn,
             |    20 + (29*doc_id) % 200 + (doc_id % 41) - 20 AS sf
             |  FROM documents),
             |xs AS (
             |  SELECT b.d, b.r, b.w,
             |    b.sgn * b.mag * (b.mag + 2) * (1 + (5*b.sf) % 13) AS x
             |  FROM base b),
             |chk AS (
             |  SELECT x.d,
             |    sum(basis.bsum * CASE x.r
             |      WHEN 0 THEN CASE WHEN basis.k >= 110 THEN x.x ELSE 0 END
             |      WHEN 1 THEN CASE WHEN (basis.k - 104) % 2 = 0
             |        THEN x.x ELSE -x.x END
             |      WHEN 2 THEN CASE WHEN basis.k >= 105
             |          AND (basis.k - 105) % 2 = 0 THEN x.x ELSE 0 END
             |      WHEN 3 THEN CASE WHEN basis.k >= 122 THEN
             |        x.x * (CASE WHEN (basis.k - 122) % 2 = 1 THEN -1 ELSE 1 END)
             |          * (1 << GREATEST(basis.k - 122, 0))
             |        ELSE 0 END
             |      ELSE CASE WHEN basis.k <= 115 THEN x.x ELSE 0 END
             |    END) AS pcm_checksum
             |  FROM xs x JOIN basis ON basis.w = x.w
             |  GROUP BY x.d)
             |SELECT d AS doc_id, CAST(1 AS BIGINT) AS n_frames,
             |  CAST(1024 AS BIGINT) AS n_samples,
             |  CAST(pcm_checksum AS BIGINT) AS pcm_checksum
             |FROM chk ORDER BY doc_id""".stripMargin)),

    // REAL AAC PNS (perceptual noise substitution, codebook 13) — a
    // noise band carries NO spectral data: the decoder fills it from a
    // PINNED deterministic generator (the spec deliberately leaves the
    // generator open, which an oracle-exact engine must pin — documented
    // in AacCodec) scaled by the dpcm noise_nrg (own chain, seeded at
    // zero, negatives live). global_gain must NOT touch noise bands.
    ("q_aac_pns",
      (s: SparkSession, d: String) =>
        Multimodal.decodeAacStats(
            Multimodal.withAacPnsMedia(t(s, d, "documents")))
          .toDF()
          .orderBy("doc_id"),
      Some("""WITH base AS (
             |  SELECT doc_id AS d, doc_id % 32 AS band,
             |    (doc_id % 41) - 20 AS nrg
             |  FROM documents),
             |chk AS (
             |  SELECT b.d,
             |    sum((((1103515245 * (kk.k + 7*b.band + 13) + 12345) >> 4) % 17 - 8)
             |      * (1 + (5*(b.nrg + 60)) % 13)
             |      * ((13*pp.p + 7*kk.k + 5) % 29 - 14)
             |      * (1 + (3*pp.p) % 17)
             |      * (pp.p % 97 + 1)) AS pcm_checksum
             |  FROM base b
             |  JOIN range(0, 32) q(i) ON true
             |  CROSS JOIN LATERAL (SELECT b.band * 32 + q.i AS k) kk
             |  JOIN range(0, 1024) pp(p) ON true
             |  GROUP BY b.d)
             |SELECT d AS doc_id, CAST(1 AS BIGINT) AS n_frames,
             |  CAST(1024 AS BIGINT) AS n_samples,
             |  CAST(pcm_checksum AS BIGINT) AS pcm_checksum
             |FROM chk ORDER BY doc_id""".stripMargin)),

    // REAL AAC INTENSITY STEREO (books 14/15 on a CPE's right channel),
    // graded sample-exact — the intensity band carries NO spectral data:
    // it reconstructs from the LEFT channel scaled by the pinned is_pos
    // gain (dpcm_is_position through the scalefactor codebook, chain
    // seeded at zero, negatives live), in-phase (15) vs out-of-phase
    // (14), and the 4.6.8.2.3 ms_used interplay (mask 2 INVERTS the
    // phase while the MS butterfly skips the intensity band). The
    // oracle replays the left line and the scaled right line with the
    // L/R interleave in the checksum weights.
    ("q_aac_intensity",
      (s: SparkSession, d: String) =>
        Multimodal.decodeAacStats(
            Multimodal.withAacIntensityMedia(t(s, d, "documents")))
          .toDF()
          .orderBy("doc_id"),
      Some("""WITH base AS (
             |  SELECT doc_id AS d, doc_id % 4 AS r,
             |    (37*doc_id + 11) % 1024 AS pos,
             |    1 + doc_id % 4 AS mag,
             |    CASE WHEN doc_id % 2 = 1 THEN -1 ELSE 1 END AS sgn,
             |    20 + (29*doc_id) % 200 + (doc_id % 41) - 20 AS sf
             |  FROM documents),
             |xs AS (
             |  SELECT b.d, b.pos,
             |    b.sgn * b.mag * (b.mag + 2) * (1 + (5*b.sf) % 13) AS xl,
             |    CASE WHEN b.r = 3 THEN -(1 + b.d % 20)
             |         ELSE (b.d % 25) - 12 END AS ipos,
             |    (CASE WHEN b.r = 1 THEN -1 ELSE 1 END)
             |      * (CASE WHEN b.r = 2 THEN -1 ELSE 1 END) AS ph
             |  FROM base b),
             |chk AS (
             |  SELECT x.d,
             |    sum((x.xl * ((2*pp.p) % 97 + 1)
             |      + x.xl * x.ph * (1 + (3*(x.ipos + 60)) % 11)
             |        * ((2*pp.p + 1) % 97 + 1))
             |      * ((13*pp.p + 7*x.pos + 5) % 29 - 14)
             |      * (1 + (3*pp.p) % 17)) AS pcm_checksum
             |  FROM xs x
             |  JOIN range(0, 1024) pp(p) ON true
             |  GROUP BY x.d)
             |SELECT d AS doc_id, CAST(1 AS BIGINT) AS n_frames,
             |  CAST(2048 AS BIGINT) AS n_samples,
             |  CAST(pcm_checksum AS BIGINT) AS pcm_checksum
             |FROM chk ORDER BY doc_id""".stripMargin)),

    // REAL AAC STEREO (channel_pair_element), graded sample-exact — the
    // element every real AAC stream uses: common_window = 1 sharing one
    // ics_info across both channels, the ms_mask_present family
    // (0 independent / 1 per-band bits / 2 all bands), and the spec's
    // integer-exact MS butterfly L = M+S, R = M−S on masked bands. Docs
    // rotate the four mask shapes, including a per-band mask that
    // MISSES the coded band (the bits must be read and honored, not
    // assumed). The oracle derives each channel's effective line from
    // the mixing rules and replays requant -> IMDCT with the L/R
    // sample-major interleave inside the checksum weights.
    ("q_aac_cpe",
      (s: SparkSession, d: String) =>
        Multimodal.decodeAacStats(
            Multimodal.withAacCpeMedia(t(s, d, "documents")))
          .toDF()
          .orderBy("doc_id"),
      Some("""WITH base AS (SELECT doc_id AS d, doc_id % 4 AS r FROM documents),
             |tx AS (
             |  SELECT b.d, b.r, ss.src, q0.pos, q3.xr
             |  FROM base b
             |  JOIN range(0, 2) ss(src) ON true
             |  CROSS JOIN LATERAL (SELECT
             |    CASE WHEN b.r = 0 AND ss.src = 1 THEN (53*b.d + 477) % 1024
             |         ELSE (37*b.d + 11) % 1024 END AS pos,
             |    1 + (b.d + 3*ss.src) % 11 AS cb) q0
             |  CROSS JOIN LATERAL (SELECT
             |    CASE WHEN q0.cb = 11 THEN 16 + b.d % 40
             |    ELSE 1 + (b.d + ss.src) % (CASE q0.cb
             |      WHEN 1 THEN 1 WHEN 2 THEN 1 WHEN 3 THEN 2 WHEN 4 THEN 2
             |      WHEN 5 THEN 4 WHEN 6 THEN 4 WHEN 7 THEN 7 WHEN 8 THEN 7
             |      ELSE 12 END) END AS mag,
             |    20 + ((29 + 2*ss.src)*b.d) % 200
             |      + ((b.d + 7*ss.src) % 41) - 20 AS sf) q2
             |  CROSS JOIN LATERAL (SELECT
             |    (CASE WHEN (b.d + ss.src) % 2 = 1 THEN -1 ELSE 1 END)
             |      * q2.mag * (q2.mag + 2) * (1 + (5*q2.sf) % 13) AS xr) q3),
             |eff AS (
             |  SELECT t.d, cc.c AS ch, t.pos, q4.val
             |  FROM tx t
             |  JOIN range(0, 2) cc(c) ON true
             |  CROSS JOIN LATERAL (SELECT
             |    CASE WHEN t.r = 1 OR t.r = 2 THEN
             |      CASE WHEN cc.c = 0 OR t.src = 0 THEN t.xr ELSE -t.xr END
             |    WHEN t.src = cc.c THEN t.xr END AS val) q4
             |  WHERE q4.val IS NOT NULL),
             |chk AS (
             |  SELECT e.d,
             |    sum(e.val * ((13*pp.p + 7*e.pos + 5) % 29 - 14)
             |      * (1 + (3*pp.p) % 17) * ((2*pp.p + e.ch) % 97 + 1)) AS pcm_checksum
             |  FROM eff e
             |  JOIN range(0, 1024) pp(p) ON true
             |  GROUP BY e.d)
             |SELECT d AS doc_id, CAST(1 AS BIGINT) AS n_frames,
             |  CAST(2048 AS BIGINT) AS n_samples,
             |  CAST(pcm_checksum AS BIGINT) AS pcm_checksum
             |FROM chk ORDER BY doc_id""".stripMargin)),

    // REAL GIF decode, graded byte-exact: the engine encodes each doc
    // into a genuine GIF (real LZW with the variable width schedule),
    // coding features rotating by doc_id — GIF87a plain / GIF89a with a
    // GCE / interlaced (8/8/4/2 pass order) / local-palette with an
    // early-Clear cadence forcing mid-stream LZW table resets — then
    // DECODES through the full pipeline (block walk, LZW, de-interlace,
    // palette mapping) and reduces to the position-weighted checksum.
    // The palette is deliberately NON-gray (entry j = (j, 2j+1, 5j+3)
    // mod 256) so channel-order or index-offset bugs break the grade.
    // Content is identical across the four variants, so ONE closed-form
    // oracle grades all of them. media_bytes dropped: LZW size has no
    // closed form (the q_png_decode contract).
    ("q_gif_decode",
      (s: SparkSession, d: String) =>
        Multimodal.decodePixelStats(Multimodal.withGifMedia(t(s, d, "documents")))
          .toDF()
          .drop("media_bytes")
          .orderBy("doc_id"),
      Some("""WITH dims AS (
             |  SELECT doc_id,
             |    4 + n_chars % 13 AS w, 3 + n_chars % 11 AS h
             |  FROM documents),
             |px AS (
             |  SELECT d.doc_id, d.w, d.h,
             |    sum(CASE t.i % 3
             |      WHEN 0 THEN (31*d.doc_id + 7*(t.i//3)) % 256
             |      WHEN 1 THEN (2*((31*d.doc_id + 7*(t.i//3)) % 256) + 1) % 256
             |      ELSE (5*((31*d.doc_id + 7*(t.i//3)) % 256) + 3) % 256
             |      END) AS pix_sum,
             |    sum((CASE t.i % 3
             |      WHEN 0 THEN (31*d.doc_id + 7*(t.i//3)) % 256
             |      WHEN 1 THEN (2*((31*d.doc_id + 7*(t.i//3)) % 256) + 1) % 256
             |      ELSE (5*((31*d.doc_id + 7*(t.i//3)) % 256) + 3) % 256
             |      END) * (t.i % 97 + 1)) AS pix_checksum
             |  FROM dims d JOIN range(0, 624) t(i) ON t.i < d.w*d.h*3
             |  GROUP BY d.doc_id, d.w, d.h)
             |SELECT doc_id, 'gif' AS format,
             |  CAST(w AS BIGINT) AS width, CAST(h AS BIGINT) AS height,
             |  CAST(3 AS BIGINT) AS channels,
             |  CAST(w*h*3 AS BIGINT) AS n_pixel_bytes,
             |  CAST(pix_sum AS BIGINT) AS pix_sum,
             |  CAST(pix_checksum AS BIGINT) AS pix_checksum
             |FROM px ORDER BY doc_id""".stripMargin)),

    // REAL animated-GIF decode, graded byte-exact: each doc carries a
    // genuine multi-frame GIF89a (per-frame GCEs, NETSCAPE2.0 loop
    // extension, real LZW per frame); the engine decodes EVERY frame
    // through the compositing model and reduces to a frame-and-position-
    // weighted checksum — the animation analog of q_video_frames, but
    // over a compressed-stream container. Frames are full-canvas so the
    // oracle replays the per-frame generator closed-form; sub-rect
    // compositing/transparency/disposal are spec-tested (GifCodecSpec).
    ("q_gif_anim",
      (s: SparkSession, d: String) =>
        Multimodal.decodeGifAnimStats(Multimodal.withGifAnimMedia(t(s, d, "documents")))
          .toDF()
          .orderBy("doc_id"),
      Some("""WITH dims AS (
             |  SELECT doc_id,
             |    4 + n_chars % 9 AS w, 3 + n_chars % 7 AS h,
             |    2 + doc_id % 3 AS nf
             |  FROM documents),
             |px AS (
             |  SELECT d.doc_id, d.w, d.h, d.nf,
             |    sum((CASE t.i % 3
             |      WHEN 0 THEN (31*d.doc_id + 7*(t.i//3) + 11*f.f) % 256
             |      WHEN 1 THEN (2*((31*d.doc_id + 7*(t.i//3) + 11*f.f) % 256) + 1) % 256
             |      ELSE (5*((31*d.doc_id + 7*(t.i//3) + 11*f.f) % 256) + 3) % 256
             |      END) * (t.i % 97 + 1) * (f.f + 1)) AS pix_checksum
             |  FROM dims d
             |  JOIN range(0, 4) f(f) ON f.f < d.nf
             |  JOIN range(0, 324) t(i) ON t.i < d.w*d.h*3
             |  GROUP BY d.doc_id, d.w, d.h, d.nf)
             |SELECT doc_id,
             |  CAST(w AS BIGINT) AS width, CAST(h AS BIGINT) AS height,
             |  CAST(nf AS BIGINT) AS n_frames,
             |  CAST(pix_checksum AS BIGINT) AS pix_checksum
             |FROM px ORDER BY doc_id""".stripMargin)),

    // REAL cross-codec transcode, graded byte-exact: JPEG in → full
    // baseline decode → re-encode as PNG (filter + deflate) → full PNG
    // decode → checksum. The corpus-normalization step a training pipeline
    // runs so downstream readers need ONE decoder; the DC-only JPEG
    // fixture decodes in closed form and PNG is lossless, so the oracle is
    // q_jpeg_decode's pixel algebra with the container swapped. Both
    // codecs must be bit-faithful for the checksum to survive the chain.
    ("q_media_transcode",
      (s: SparkSession, d: String) =>
        Multimodal.decodePixelStats(
            Multimodal.transcodeMedia(
              Multimodal.withJpegMedia(t(s, d, "documents")), "png"))
          .toDF()
          .drop("media_bytes")
          .orderBy("doc_id"),
      Some("""WITH dims AS (
             |  SELECT doc_id,
             |    8 + n_chars % 25 AS w, 8 + n_chars % 17 AS h,
             |    CASE WHEN doc_id % 3 = 0 THEN 1 ELSE 3 END AS c
             |  FROM documents),
             |px AS (
             |  SELECT d.doc_id, d.w, d.h, d.c,
             |    sum((31*d.doc_id
             |         + 13*(((t.i // (d.c*d.w)) // 8) * ((d.w+7)//8)
             |               + ((t.i // d.c) % d.w) // 8)) % 256) AS pix_sum,
             |    sum(((31*d.doc_id
             |          + 13*(((t.i // (d.c*d.w)) // 8) * ((d.w+7)//8)
             |                + ((t.i // d.c) % d.w) // 8)) % 256)
             |        * (t.i % 97 + 1)) AS pix_checksum
             |  FROM dims d JOIN range(0, 2304) t(i) ON t.i < d.w*d.h*d.c
             |  GROUP BY d.doc_id, d.w, d.h, d.c)
             |SELECT doc_id, 'png' AS format,
             |  CAST(w AS BIGINT) AS width, CAST(h AS BIGINT) AS height,
             |  CAST(c AS BIGINT) AS channels,
             |  CAST(w*h*c AS BIGINT) AS n_pixel_bytes,
             |  CAST(pix_sum AS BIGINT) AS pix_sum,
             |  CAST(pix_checksum AS BIGINT) AS pix_checksum
             |FROM px ORDER BY doc_id""".stripMargin)),

    // REAL audio decode, graded byte-exact — the audio modality analog of
    // q_pixel_decode: the engine encodes a genuine RIFF/WAVE 16-bit PCM
    // clip per doc, DECODES the bytes back (chunk scan, LE samples, sign),
    // and reduces to a position-weighted checksum + peak amplitude. The
    // oracle replays the closed-form sample generator; the numbers match
    // only if encode→decode round-trips the container bit-exactly.
    ("q_audio_decode",
      (s: SparkSession, d: String) =>
        Multimodal.decodeAudioStats(Multimodal.withAudioMedia(t(s, d, "documents")))
          .toDF()
          .orderBy("doc_id"),
      Some("""WITH dims AS (
             |  SELECT doc_id, 64 + n_chars % 200 AS n,
             |    8000 + (n_chars % 3) * 4000 AS rate
             |  FROM documents),
             |sm AS (
             |  SELECT d.doc_id, d.n, d.rate, t.i,
             |    ((31*d.doc_id + 7*t.i) % 65536) - 32768 AS s
             |  FROM dims d JOIN range(0, 264) t(i) ON t.i < d.n),
             |ag AS (
             |  SELECT doc_id, n, rate, sum(s) AS ssum,
             |    sum(s * (i % 97 + 1)) AS schk, max(abs(s)) AS pk
             |  FROM sm GROUP BY doc_id, n, rate)
             |SELECT doc_id, CAST(44 + 2*n AS BIGINT) AS media_bytes,
             |  CAST(rate AS BIGINT) AS sample_rate, CAST(n AS BIGINT) AS n_samples,
             |  CAST(ssum AS BIGINT) AS sample_sum,
             |  CAST(schk AS BIGINT) AS sample_checksum,
             |  CAST(pk AS BIGINT) AS peak_abs
             |FROM ag ORDER BY doc_id""".stripMargin)),

    // Audio gain augmentation graded closed-form: 5/4 boost with int16
    // saturation — the oracle replays floor-division and both clip rails
    // per generated sample, so truncation-vs-floor on negatives or a
    // wrapping (unsaturated) overflow shifts the checksum and fails.
    ("q_audio_gain",
      (s: SparkSession, d: String) =>
        Multimodal.decodeAudioStats(
            Multimodal.gainAudio(
              Multimodal.withAudioMedia(t(s, d, "documents")), num = 5, den = 4))
          .toDF()
          .orderBy("doc_id"),
      Some("""WITH dims AS (
             |  SELECT doc_id, 64 + n_chars % 200 AS n,
             |    8000 + (n_chars % 3) * 4000 AS rate
             |  FROM documents),
             |sm AS (
             |  SELECT d.doc_id, d.n, d.rate, t.i,
             |    least(greatest(
             |      ((((31*d.doc_id + 7*t.i) % 65536) - 32768) * 5) // 4,
             |      -32768), 32767) AS s
             |  FROM dims d JOIN range(0, 264) t(i) ON t.i < d.n),
             |ag AS (
             |  SELECT doc_id, n, rate, sum(s) AS ssum,
             |    sum(s * (i % 97 + 1)) AS schk, max(abs(s)) AS pk
             |  FROM sm GROUP BY doc_id, n, rate)
             |SELECT doc_id, CAST(44 + 2*n AS BIGINT) AS media_bytes,
             |  CAST(rate AS BIGINT) AS sample_rate, CAST(n AS BIGINT) AS n_samples,
             |  CAST(ssum AS BIGINT) AS sample_sum,
             |  CAST(schk AS BIGINT) AS sample_checksum,
             |  CAST(pk AS BIGINT) AS peak_abs
             |FROM ag ORDER BY doc_id""".stripMargin)),

    // REAL audio resample, graded byte-exact: decode → integer-exact
    // nearest-neighbor rate conversion to 12 kHz → re-encode → re-decode.
    // The fixture's three source rates exercise pass-through (12 kHz,
    // sample-identical), 1.5× upsample (8 kHz) and 0.75× downsample
    // (16 kHz); the oracle replays the time-preserving index map
    // closed-form per output sample.
    ("q_audio_resample",
      (s: SparkSession, d: String) =>
        Multimodal.decodeAudioStats(
            Multimodal.resampleAudio(
              Multimodal.withAudioMedia(t(s, d, "documents")), outRate = 12000))
          .toDF()
          .orderBy("doc_id"),
      Some("""WITH dims AS (
             |  SELECT doc_id, 64 + n_chars % 200 AS n,
             |    8000 + (n_chars % 3) * 4000 AS rate
             |  FROM documents),
             |od AS (SELECT doc_id, n, rate, (n * 12000) // rate AS onn FROM dims),
             |sm AS (
             |  SELECT d.doc_id, d.onn, t.i,
             |    ((31*d.doc_id + 7*((t.i * d.rate) // 12000)) % 65536) - 32768 AS s
             |  FROM od d JOIN range(0, 512) t(i) ON t.i < d.onn),
             |ag AS (
             |  SELECT doc_id, onn, sum(s) AS ssum,
             |    sum(s * (i % 97 + 1)) AS schk, max(abs(s)) AS pk
             |  FROM sm GROUP BY doc_id, onn)
             |SELECT doc_id, CAST(44 + 2*onn AS BIGINT) AS media_bytes,
             |  CAST(12000 AS BIGINT) AS sample_rate, CAST(onn AS BIGINT) AS n_samples,
             |  CAST(ssum AS BIGINT) AS sample_sum,
             |  CAST(schk AS BIGINT) AS sample_checksum,
             |  CAST(pk AS BIGINT) AS peak_abs
             |FROM ag ORDER BY doc_id""".stripMargin)),

    // Link-graph centrality for corpus curation: 5 power iterations of
    // EXACT-INTEGER PageRank (micro-units, r div deg per edge, ·17 div 20
    // damping) over a closed-form arithmetic link graph on documents.
    // Integer arithmetic makes the result independent of distributed
    // summation order — the stableAvg discipline applied to iteration —
    // so the DuckDB oracle replays all 5 iterations as chained CTEs and
    // the hash must match exactly; the engine's data-derived out-degrees
    // are cross-checked against the oracle's closed-form constant 3.
    // Connected components by bounded-round min-label propagation — the
    // step that turns near-dup PAIRS into dedup GROUPS. The block graph
    // (decade stars chained to 100-block roots) has known components of
    // depth 2, so 4 rounds provably converge and DuckDB replays every
    // round as a chained CTE — membership, counts, and id sums all
    // hash-exact, no convergence hand-waving.
    ("q_connected_components",
      (s: SparkSession, d: String) => {
        val nodes = t(s, d, "documents")
          .select(col("doc_id").cast("long").as("doc_id"))
        Graph.connectedComponents(nodes,
            Graph.blockEdges(nodes, "doc_id"), "doc_id", iters = 4)
          .groupBy("component")
          .agg(count(lit(1)).as("n_nodes"), sum(col("doc_id")).as("sum_v"))
          .orderBy("component")
      },
      Some("""WITH nodes AS (SELECT CAST(doc_id AS BIGINT) AS v FROM documents),
             |e0 AS (
             |  SELECT v AS src, v - v % 10 AS dst FROM nodes WHERE v % 10 <> 0
             |  UNION ALL
             |  SELECT v, v - v % 100 FROM nodes
             |  WHERE v % 10 = 0 AND v % 100 <> 0),
             |e AS (SELECT DISTINCT src, dst FROM
             |        (SELECT src, dst FROM e0 UNION ALL SELECT dst, src FROM e0)),
             |l0 AS (SELECT v, v AS label FROM nodes),
             |l1 AS (SELECT l.v, least(l.label, coalesce(m.nl, l.label)) AS label
             |       FROM l0 l LEFT JOIN (SELECT e.dst AS v, min(p.label) AS nl
             |         FROM e JOIN l0 p ON p.v = e.src GROUP BY 1) m ON m.v = l.v),
             |l2 AS (SELECT l.v, least(l.label, coalesce(m.nl, l.label)) AS label
             |       FROM l1 l LEFT JOIN (SELECT e.dst AS v, min(p.label) AS nl
             |         FROM e JOIN l1 p ON p.v = e.src GROUP BY 1) m ON m.v = l.v),
             |l3 AS (SELECT l.v, least(l.label, coalesce(m.nl, l.label)) AS label
             |       FROM l2 l LEFT JOIN (SELECT e.dst AS v, min(p.label) AS nl
             |         FROM e JOIN l2 p ON p.v = e.src GROUP BY 1) m ON m.v = l.v),
             |l4 AS (SELECT l.v, least(l.label, coalesce(m.nl, l.label)) AS label
             |       FROM l3 l LEFT JOIN (SELECT e.dst AS v, min(p.label) AS nl
             |         FROM e JOIN l3 p ON p.v = e.src GROUP BY 1) m ON m.v = l.v)
             |SELECT label AS component, count(*) AS n_nodes,
             |  CAST(sum(v) AS BIGINT) AS sum_v
             |FROM l4 GROUP BY 1 ORDER BY 1""".stripMargin)),

    ("q_pagerank",
      (s: SparkSession, d: String) => {
        val docs = t(s, d, "documents")
        val nodes = docs.select(col("doc_id").cast("long").as("doc_id"))
        // one-row bounded aggregate: the id-domain size for the fixture map
        val n = nodes.agg(max(col("doc_id"))).head.getLong(0) + 1
        Graph.pageRank(nodes, Graph.arithmeticEdges(nodes, "doc_id", n),
            "doc_id", iters = 5)
          .orderBy("doc_id")
      },
      Some("""WITH nodes AS (SELECT CAST(doc_id AS BIGINT) AS v FROM documents),
             |cnt AS (SELECT max(v) + 1 AS n FROM nodes),
             |e AS (
             |  SELECT v AS src, (31*v + 7*j.j) % (SELECT n FROM cnt) AS dst, 3 AS deg
             |  FROM nodes, (VALUES (1),(2),(3)) j(j)),
             |it0 AS (SELECT v, CAST(1000000 AS BIGINT) AS r FROM nodes),
             |it1 AS (SELECT nd.v, 150000 + (COALESCE(s.acc, 0) * 17) // 20 AS r
             |  FROM nodes nd LEFT JOIN (SELECT e.dst AS v, sum(p.r // e.deg) AS acc
             |    FROM e JOIN it0 p ON p.v = e.src GROUP BY e.dst) s ON s.v = nd.v),
             |it2 AS (SELECT nd.v, 150000 + (COALESCE(s.acc, 0) * 17) // 20 AS r
             |  FROM nodes nd LEFT JOIN (SELECT e.dst AS v, sum(p.r // e.deg) AS acc
             |    FROM e JOIN it1 p ON p.v = e.src GROUP BY e.dst) s ON s.v = nd.v),
             |it3 AS (SELECT nd.v, 150000 + (COALESCE(s.acc, 0) * 17) // 20 AS r
             |  FROM nodes nd LEFT JOIN (SELECT e.dst AS v, sum(p.r // e.deg) AS acc
             |    FROM e JOIN it2 p ON p.v = e.src GROUP BY e.dst) s ON s.v = nd.v),
             |it4 AS (SELECT nd.v, 150000 + (COALESCE(s.acc, 0) * 17) // 20 AS r
             |  FROM nodes nd LEFT JOIN (SELECT e.dst AS v, sum(p.r // e.deg) AS acc
             |    FROM e JOIN it3 p ON p.v = e.src GROUP BY e.dst) s ON s.v = nd.v),
             |it5 AS (SELECT nd.v, 150000 + (COALESCE(s.acc, 0) * 17) // 20 AS r
             |  FROM nodes nd LEFT JOIN (SELECT e.dst AS v, sum(p.r // e.deg) AS acc
             |    FROM e JOIN it4 p ON p.v = e.src GROUP BY e.dst) s ON s.v = nd.v)
             |SELECT v AS doc_id, CAST(r AS BIGINT) AS rank_micro
             |FROM it5 ORDER BY v""".stripMargin)),

    // REAL FLAC decode, graded sample-exact: the engine Rice/LPC-encodes a
    // genuine FLAC stream per doc (fixed orders 0-4 + explicit LPC,
    // partition orders 0-2, left/side + mid/side stereo, escaped-verbatim
    // partitions, wasted bits, multi-frame with a partial last block) and
    // decodes it back through the full frame walk — sync, CRC-8/16, UTF-8
    // frame numbers, partitioned-Rice residuals, predictor reconstruction,
    // stereo undecorrelation. FLAC is lossless, so the oracle replays the
    // interleaved PCM closed-form; media_bytes is entropy-coded (not
    // closed-form) and is excluded from the grade.
    ("q_flac_decode",
      (s: SparkSession, d: String) =>
        Multimodal.decodeAudioStats(Multimodal.withFlacMedia(t(s, d, "documents")))
          .toDF()
          .drop("media_bytes")
          .orderBy("doc_id"),
      Some("""WITH dims AS (
             |  SELECT doc_id, (48 + n_chars % 120) * (1 + doc_id % 2) AS n,
             |    8000 + (n_chars % 3) * 4000 AS rate,
             |    CASE WHEN doc_id % 11 = 0 THEN 4 ELSE 1 END AS q
             |  FROM documents),
             |sm AS (
             |  SELECT d.doc_id, d.n, d.rate, t.i,
             |    ((31*d.doc_id + 7*t.i) % 65536)
             |      - ((31*d.doc_id + 7*t.i) % 65536) % d.q - 32768 AS s
             |  FROM dims d JOIN range(0, 336) t(i) ON t.i < d.n),
             |ag AS (
             |  SELECT doc_id, n, rate, sum(s) AS ssum,
             |    sum(s * (i % 97 + 1)) AS schk, max(abs(s)) AS pk
             |  FROM sm GROUP BY doc_id, n, rate)
             |SELECT doc_id, CAST(rate AS BIGINT) AS sample_rate,
             |  CAST(n AS BIGINT) AS n_samples, CAST(ssum AS BIGINT) AS sample_sum,
             |  CAST(schk AS BIGINT) AS sample_checksum, CAST(pk AS BIGINT) AS peak_abs
             |FROM ag ORDER BY doc_id""".stripMargin)),

    // Cross-codec AUDIO normalization, graded byte-exact: FLAC decode →
    // WAV re-encode → WAV re-decode in ONE scan (the audio analog of
    // q_media_transcode). Losslessness makes the samples closed-form, and
    // the WAV container restores a closed-form media_bytes (44 + 2n) —
    // proving the re-encoded header, not just the payload.
    ("q_audio_transcode",
      (s: SparkSession, d: String) =>
        Multimodal.decodeAudioStats(
            Multimodal.transcodeAudio(
              Multimodal.withFlacMedia(t(s, d, "documents")), "wav"))
          .toDF()
          .orderBy("doc_id"),
      Some("""WITH dims AS (
             |  SELECT doc_id, (48 + n_chars % 120) * (1 + doc_id % 2) AS n,
             |    8000 + (n_chars % 3) * 4000 AS rate,
             |    CASE WHEN doc_id % 11 = 0 THEN 4 ELSE 1 END AS q
             |  FROM documents),
             |sm AS (
             |  SELECT d.doc_id, d.n, d.rate, t.i,
             |    ((31*d.doc_id + 7*t.i) % 65536)
             |      - ((31*d.doc_id + 7*t.i) % 65536) % d.q - 32768 AS s
             |  FROM dims d JOIN range(0, 336) t(i) ON t.i < d.n),
             |ag AS (
             |  SELECT doc_id, n, rate, sum(s) AS ssum,
             |    sum(s * (i % 97 + 1)) AS schk, max(abs(s)) AS pk
             |  FROM sm GROUP BY doc_id, n, rate)
             |SELECT doc_id, CAST(44 + 2*n AS BIGINT) AS media_bytes,
             |  CAST(rate AS BIGINT) AS sample_rate, CAST(n AS BIGINT) AS n_samples,
             |  CAST(ssum AS BIGINT) AS sample_sum,
             |  CAST(schk AS BIGINT) AS sample_checksum,
             |  CAST(pk AS BIGINT) AS peak_abs
             |FROM ag ORDER BY doc_id""".stripMargin)),

    // Multi-channel resample through the compressed-audio path: FLAC
    // decode → FRAME-exact rate conversion (the index map runs over frames
    // so interleaved channels stay aligned) → WAV re-encode → re-decode.
    // The fixture's stereo half proves channel alignment: a resampler that
    // mapped raw interleaved indices would swap L/R on odd source frames
    // and break the position-weighted checksum.
    ("q_audio_resample_stereo",
      (s: SparkSession, d: String) =>
        Multimodal.decodeAudioStats(
            Multimodal.resampleAudio(
              Multimodal.withFlacMedia(t(s, d, "documents")), outRate = 12000))
          .toDF()
          .orderBy("doc_id"),
      Some("""WITH dims AS (
             |  SELECT doc_id, 48 + n_chars % 120 AS f, 1 + doc_id % 2 AS c,
             |    8000 + (n_chars % 3) * 4000 AS rate,
             |    CASE WHEN doc_id % 11 = 0 THEN 4 ELSE 1 END AS q
             |  FROM documents),
             |od AS (SELECT doc_id, c, q, rate, ((f * 12000) // rate) * c AS n
             |  FROM dims),
             |sm AS (
             |  SELECT d.doc_id, d.n, t.i,
             |    ((31*d.doc_id + 7*(((t.i // d.c) * d.rate // 12000) * d.c + t.i % d.c)) % 65536)
             |      - ((31*d.doc_id + 7*(((t.i // d.c) * d.rate // 12000) * d.c + t.i % d.c)) % 65536) % d.q
             |      - 32768 AS s
             |  FROM od d JOIN range(0, 512) t(i) ON t.i < d.n),
             |ag AS (
             |  SELECT doc_id, n, sum(s) AS ssum,
             |    sum(s * (i % 97 + 1)) AS schk, max(abs(s)) AS pk
             |  FROM sm GROUP BY doc_id, n)
             |SELECT doc_id, CAST(44 + 2*n AS BIGINT) AS media_bytes,
             |  CAST(12000 AS BIGINT) AS sample_rate, CAST(n AS BIGINT) AS n_samples,
             |  CAST(ssum AS BIGINT) AS sample_sum,
             |  CAST(schk AS BIGINT) AS sample_checksum,
             |  CAST(pk AS BIGINT) AS peak_abs
             |FROM ag ORDER BY doc_id""".stripMargin)),

    // REAL LOSSY audio, graded hash-exact: G.711 μ-law companding is
    // stateless, so the oracle replays the entire lossy round trip per
    // sample in SQL (segmented CASE + integer arithmetic) — the only
    // lossy-codec class where sample-exact oracle grading is possible at
    // all. Grades the companding tables, the format-7 container (18-byte
    // fmt + fact + odd-n pad), and the 2x size reduction in media_bytes.
    ("q_audio_ulaw",
      (s: SparkSession, d: String) =>
        Multimodal.decodeAudioStats(Multimodal.withUlawMedia(t(s, d, "documents")))
          .toDF()
          .orderBy("doc_id"),
      Some("""WITH dims AS (SELECT doc_id, 64 + n_chars % 200 AS n FROM documents),
             |sm AS (
             |  SELECT d.doc_id, d.n, t.i,
             |    ((31*d.doc_id + 7*t.i) % 65536) - 32768 AS s
             |  FROM dims d JOIN range(0, 264) t(i) ON t.i < d.n),
             |rt AS (SELECT doc_id, n, i, s, least(abs(s), 32635) + 132 AS m1 FROM sm),
             |pw AS (
             |  SELECT doc_id, n, i, s, m1,
             |    CASE WHEN m1 < 256 THEN 1 WHEN m1 < 512 THEN 2
             |         WHEN m1 < 1024 THEN 4 WHEN m1 < 2048 THEN 8
             |         WHEN m1 < 4096 THEN 16 WHEN m1 < 8192 THEN 32
             |         WHEN m1 < 16384 THEN 64 ELSE 128 END AS p
             |  FROM rt),
             |de AS (
             |  SELECT doc_id, n, i,
             |    (CASE WHEN s < 0 THEN -1 ELSE 1 END)
             |      * (132*(p-1) + ((m1 // (8*p)) % 16) * 8 * p) AS ds
             |  FROM pw),
             |ag AS (
             |  SELECT doc_id, n, sum(ds) AS ssum,
             |    sum(ds * (i % 97 + 1)) AS schk, max(abs(ds)) AS pk
             |  FROM de GROUP BY doc_id, n)
             |SELECT doc_id, CAST(58 + n + n % 2 AS BIGINT) AS media_bytes,
             |  CAST(8000 AS BIGINT) AS sample_rate, CAST(n AS BIGINT) AS n_samples,
             |  CAST(ssum AS BIGINT) AS sample_sum,
             |  CAST(schk AS BIGINT) AS sample_checksum,
             |  CAST(pk AS BIGINT) AS peak_abs
             |FROM ag ORDER BY doc_id""".stripMargin)),

    // G.711's OTHER law, same grading idea: A-law operates on the 13-bit
    // operand with a linear first segment and the 0x55 mask; stateless,
    // so the oracle replays floor-division, segment search, quantization
    // and reconstruction per sample. The floor(s/8) CASE matters: SQL //
    // truncates toward zero while the codec's arithmetic shift floors.
    ("q_audio_alaw",
      (s: SparkSession, d: String) =>
        Multimodal.decodeAudioStats(Multimodal.withAlawMedia(t(s, d, "documents")))
          .toDF()
          .orderBy("doc_id"),
      Some("""WITH dims AS (SELECT doc_id, 64 + n_chars % 200 AS n FROM documents),
             |sm AS (
             |  SELECT d.doc_id, d.n, t.i,
             |    ((31*d.doc_id + 7*t.i) % 65536) - 32768 AS s
             |  FROM dims d JOIN range(0, 264) t(i) ON t.i < d.n),
             |x AS (
             |  SELECT doc_id, n, i,
             |    CASE WHEN s >= 0 THEN s // 8 ELSE (s - 7) // 8 END AS x0
             |  FROM sm),
             |m AS (
             |  SELECT doc_id, n, i, x0,
             |    CASE WHEN x0 >= 0 THEN x0 ELSE -x0 - 1 END AS mg
             |  FROM x),
             |pw AS (
             |  SELECT doc_id, n, i, x0, mg,
             |    CASE WHEN mg < 32 THEN 1 WHEN mg < 64 THEN 2 WHEN mg < 128 THEN 4
             |         WHEN mg < 256 THEN 8 WHEN mg < 512 THEN 16
             |         WHEN mg < 1024 THEN 32 WHEN mg < 2048 THEN 64
             |         ELSE 128 END AS p
             |  FROM m),
             |de AS (
             |  SELECT doc_id, n, i,
             |    (CASE WHEN x0 >= 0 THEN 1 ELSE -1 END) *
             |    (CASE WHEN p = 1 THEN ((mg // 2) % 16) * 16 + 8
             |          WHEN p = 2 THEN ((mg // 2) % 16) * 16 + 264
             |          ELSE (((mg // p) % 16) * 16 + 264) * (p // 2) END) AS ds
             |  FROM pw),
             |ag AS (
             |  SELECT doc_id, n, sum(ds) AS ssum,
             |    sum(ds * (i % 97 + 1)) AS schk, max(abs(ds)) AS pk
             |  FROM de GROUP BY doc_id, n)
             |SELECT doc_id, CAST(58 + n + n % 2 AS BIGINT) AS media_bytes,
             |  CAST(8000 AS BIGINT) AS sample_rate, CAST(n AS BIGINT) AS n_samples,
             |  CAST(ssum AS BIGINT) AS sample_sum,
             |  CAST(schk AS BIGINT) AS sample_checksum,
             |  CAST(pk AS BIGINT) AS peak_abs
             |FROM ag ORDER BY doc_id""".stripMargin)),

    // G.711 LAW TRANSCODE — the telephony interop leg (trunks re-compand
    // at A-law/μ-law boundaries): A-law clip → decode → μ-law re-encode →
    // decode, ONE scan, both lossy steps live. The oracle composes the
    // two per-sample replays: first the A-law round trip, then the μ-law
    // round trip OF THAT RESULT — a transcoder that skipped either
    // quantization (or re-companded the original PCM) cannot match.
    ("q_g711_transcode",
      (s: SparkSession, d: String) =>
        Multimodal.decodeAudioStats(
            Multimodal.transcodeAudio(
              Multimodal.withAlawMedia(t(s, d, "documents")), "ulaw"))
          .toDF()
          .orderBy("doc_id"),
      Some("""WITH dims AS (SELECT doc_id, 64 + n_chars % 200 AS n FROM documents),
             |sm AS (
             |  SELECT d.doc_id, d.n, t.i,
             |    ((31*d.doc_id + 7*t.i) % 65536) - 32768 AS s
             |  FROM dims d JOIN range(0, 264) t(i) ON t.i < d.n),
             |ax AS (
             |  SELECT doc_id, n, i,
             |    CASE WHEN s >= 0 THEN s // 8 ELSE (s - 7) // 8 END AS x0
             |  FROM sm),
             |am AS (
             |  SELECT doc_id, n, i, x0,
             |    CASE WHEN x0 >= 0 THEN x0 ELSE -x0 - 1 END AS mg
             |  FROM ax),
             |ap AS (
             |  SELECT doc_id, n, i, x0, mg,
             |    CASE WHEN mg < 32 THEN 1 WHEN mg < 64 THEN 2 WHEN mg < 128 THEN 4
             |         WHEN mg < 256 THEN 8 WHEN mg < 512 THEN 16
             |         WHEN mg < 1024 THEN 32 WHEN mg < 2048 THEN 64
             |         ELSE 128 END AS p
             |  FROM am),
             |ade AS (
             |  SELECT doc_id, n, i,
             |    (CASE WHEN x0 >= 0 THEN 1 ELSE -1 END) *
             |    (CASE WHEN p = 1 THEN ((mg // 2) % 16) * 16 + 8
             |          WHEN p = 2 THEN ((mg // 2) % 16) * 16 + 264
             |          ELSE (((mg // p) % 16) * 16 + 264) * (p // 2) END) AS s1
             |  FROM ap),
             |urt AS (SELECT doc_id, n, i, s1, least(abs(s1), 32635) + 132 AS m1 FROM ade),
             |upw AS (
             |  SELECT doc_id, n, i, s1, m1,
             |    CASE WHEN m1 < 256 THEN 1 WHEN m1 < 512 THEN 2
             |         WHEN m1 < 1024 THEN 4 WHEN m1 < 2048 THEN 8
             |         WHEN m1 < 4096 THEN 16 WHEN m1 < 8192 THEN 32
             |         WHEN m1 < 16384 THEN 64 ELSE 128 END AS up
             |  FROM urt),
             |ude AS (
             |  SELECT doc_id, n, i,
             |    (CASE WHEN s1 < 0 THEN -1 ELSE 1 END)
             |      * (132*(up-1) + ((m1 // (8*up)) % 16) * 8 * up) AS ds
             |  FROM upw),
             |ag AS (
             |  SELECT doc_id, n, sum(ds) AS ssum,
             |    sum(ds * (i % 97 + 1)) AS schk, max(abs(ds)) AS pk
             |  FROM ude GROUP BY doc_id, n)
             |SELECT doc_id, CAST(58 + n + n % 2 AS BIGINT) AS media_bytes,
             |  CAST(8000 AS BIGINT) AS sample_rate, CAST(n AS BIGINT) AS n_samples,
             |  CAST(ssum AS BIGINT) AS sample_sum,
             |  CAST(schk AS BIGINT) AS sample_checksum,
             |  CAST(pk AS BIGINT) AS peak_abs
             |FROM ag ORDER BY doc_id""".stripMargin)),

    // STATEFUL lossy audio: IMA ADPCM's adaptive-step recurrence cannot
    // be replayed per-sample in SQL, so the grade splits along what each
    // side can hold exactly — container size and sample count are
    // closed-form block arithmetic (hash-exact), tracking error against
    // the regenerated signal is graded as booleans whose bounds
    // AdpcmCodecSpec pins on the same amplitude/slope grid.
    // the IMA-ADPCM recurrence graded SAMPLE-EXACT — the former
    // "grading boundary" closed: the oracle replays the full adaptive
    // quantizer (step-table walk, sign + three-bit code, vpdiff
    // accumulation, both clamps, block-header restarts with the carried
    // step index) as a recursive CTE over the sample index, carrying
    // (pred, idx, checksum, max_err) per doc — exact because the IMA
    // encoder's predictor IS the decoded sample, so one state sequence
    // drives encode AND decode. Any drift anywhere in the stateful
    // chain moves the position-weighted checksum.
    ("q_adpcm_exact",
      (s: SparkSession, d: String) =>
        Multimodal.adpcmExact(t(s, d, "documents")).orderBy("doc_id"),
      Some("""WITH RECURSIVE dims AS (
             |  SELECT doc_id, CAST(140 + n_chars % 200 AS BIGINT) AS n,
             |    CAST(4000 + n_chars % 5 * 2000 AS BIGINT) AS a,
             |    CAST(50 + doc_id % 6 * 100 AS BIGINT) AS slope
             |  FROM documents),
             |st(doc_id, n, a, slope, i, pred, idx, chk, merr) AS (
             |  SELECT doc_id, n, a, slope, CAST(0 AS BIGINT),
             |    abs((0 * slope) % (4*a) - 2*a) - a, CAST(0 AS BIGINT),
             |    (abs((0 * slope) % (4*a) - 2*a) - a + 32768) * 1, CAST(0 AS BIGINT)
             |  FROM dims
             |  UNION ALL
             |  SELECT doc_id, n, a, slope, i + 1, q.np, q.ni,
             |    chk + (q.np + 32768) * ((i + 1) % 97 + 1),
             |    greatest(merr, abs(q.np - g.f1))
             |  FROM st
             |  CROSS JOIN LATERAL (SELECT abs(((i+1) * slope) % (4*a) - 2*a) - a AS f1,
             |      [7,8,9,10,11,12,13,14,16,17,19,21,23,25,28,31,34,37,41,45,50,55,60,66,73,80,88,97,107,118,130,143,157,173,190,209,230,253,279,307,337,371,408,449,494,544,598,658,724,796,876,963,1060,1166,1282,1411,1552,1707,1878,2066,2272,2499,2749,3024,3327,3660,4026,4428,4871,5358,5894,6484,7132,7845,8630,9493,10442,11487,12635,13899,15289,16818,18500,20350,22385,24623,27086,29794,32767][idx + 1] AS step) g
             |  CROSS JOIN LATERAL (SELECT g.f1 < pred AS neg,
             |      CASE WHEN g.f1 >= pred THEN g.f1 - pred ELSE pred - g.f1 END AS d0) s2
             |  CROSS JOIN LATERAL (SELECT
             |      d0 - CASE WHEN d0 >= step THEN step ELSE 0 END AS d1,
             |      step // 8 + CASE WHEN d0 >= step THEN step ELSE 0 END AS v1,
             |      CASE WHEN d0 >= step THEN 4 ELSE 0 END AS c4) s3
             |  CROSS JOIN LATERAL (SELECT
             |      d1 - CASE WHEN d1 >= step // 2 THEN step // 2 ELSE 0 END AS d2,
             |      v1 + CASE WHEN d1 >= step // 2 THEN step // 2 ELSE 0 END AS v2,
             |      c4 + CASE WHEN d1 >= step // 2 THEN 2 ELSE 0 END AS c42) s4
             |  CROSS JOIN LATERAL (SELECT
             |      v2 + CASE WHEN d2 >= step // 4 THEN step // 4 ELSE 0 END AS vp,
             |      c42 + CASE WHEN d2 >= step // 4 THEN 1 ELSE 0 END AS code) s5
             |  CROSS JOIN LATERAL (SELECT
             |      CASE WHEN (i+1) % 121 = 0 THEN g.f1
             |           ELSE greatest(-32768, least(32767,
             |             CASE WHEN neg THEN pred - vp ELSE pred + vp END)) END AS np,
             |      CASE WHEN (i+1) % 121 = 0 THEN idx
             |           ELSE greatest(0, least(88,
             |             idx + [-1,-1,-1,-1,2,4,6,8][code + 1])) END AS ni) q
             |  WHERE i + 1 < n)
             |SELECT doc_id, n AS n_samples, chk AS dec_checksum, merr AS max_err
             |FROM st WHERE i = n - 1 ORDER BY doc_id""".stripMargin)),

    // the MS-ADPCM two-tap flavor graded SAMPLE-EXACT, the IMA
    // recursive-oracle discipline extended one codec class up: the
    // recursive CTE carries (samp1, samp2, delta) and replays the
    // truncating code division, the multiplicative 16-entry quantizer
    // adaptation, both clamps, the verbatim two-sample block headers,
    // AND the per-block initial-delta estimate (mean |prediction error|
    // over the early window, itself closed form) — with predictor 0 the
    // 2-tap prediction collapses exactly to samp1.
    ("q_msadpcm_exact",
      (s: SparkSession, d: String) =>
        Multimodal.msAdpcmExact(t(s, d, "documents")).orderBy("doc_id"),
      Some("""WITH RECURSIVE dims AS (
             |  SELECT doc_id, CAST(140 + n_chars % 200 AS BIGINT) AS n,
             |    CAST(4000 + n_chars % 5 * 2000 AS BIGINT) AS a,
             |    CAST(50 + doc_id % 6 * 100 AS BIGINT) AS slope
             |  FROM documents),
             |blocks AS (
             |  SELECT doc_id, n, a, slope, b.b AS blk, b.b * 116 AS s
             |  FROM dims, unnest(range(0, 3)) b(b) WHERE b.b * 116 < n),
             |d0 AS (
             |  SELECT doc_id, blk,
             |    greatest(16,
             |      (SELECT coalesce(sum(abs(
             |          (abs((j.j * slope) % (4*a) - 2*a) - a)
             |          - CASE WHEN j.j = s + 2
             |                 THEN abs(((s+1) * slope) % (4*a) - 2*a) - a
             |                 ELSE abs(((j.j-2) * slope) % (4*a) - 2*a) - a END)), 0)
             |       FROM unnest(range(s + 2, least(n, s + 18))) j(j)
             |       WHERE (j.j - s) % 2 = 0)
             |      // greatest(1, (least(n, s + 18) - s - 1) // 2) // 4) AS delta0
             |  FROM blocks),
             |st(doc_id, n, a, slope, i, s1, s2, delta, chk, merr) AS (
             |  SELECT dims.doc_id, n, a, slope, CAST(0 AS BIGINT),
             |    CASE WHEN 1 < n THEN abs((1 * slope) % (4*a) - 2*a) - a ELSE 0 END,
             |    abs((0 * slope) % (4*a) - 2*a) - a,
             |    d0.delta0,
             |    (abs((0 * slope) % (4*a) - 2*a) - a + 32768) * 1, CAST(0 AS BIGINT)
             |  FROM dims JOIN d0 ON d0.doc_id = dims.doc_id AND d0.blk = 0
             |  UNION ALL
             |  SELECT st.doc_id, n, a, slope, i + 1, q.ns1, q.ns2, q.nd,
             |    chk + (q.dec + 32768) * ((i + 1) % 97 + 1),
             |    greatest(merr, abs(q.dec - g.f1))
             |  FROM st
             |  LEFT JOIN d0 ON d0.doc_id = st.doc_id AND (i + 1) % 116 = 0
             |    AND d0.blk = (i + 1) // 116
             |  CROSS JOIN LATERAL (SELECT abs(((i+1) * slope) % (4*a) - 2*a) - a AS f1) g
             |  CROSS JOIN LATERAL (SELECT g.f1 - s1 AS diff) s3
             |  CROSS JOIN LATERAL (SELECT greatest(-8, least(7,
             |      CAST(trunc(CAST(diff AS DOUBLE) / delta) AS BIGINT))) AS qv) s4
             |  CROSS JOIN LATERAL (SELECT
             |      greatest(-32768, least(32767, s1 + qv * delta)) AS rec) s5
             |  CROSS JOIN LATERAL (SELECT
             |      CASE WHEN (i+1) % 116 = 0 THEN g.f1
             |           WHEN (i+1) % 116 = 1 THEN s1
             |           ELSE s5.rec END AS dec,
             |      CASE WHEN (i+1) % 116 = 0 THEN
             |             CASE WHEN i + 2 < n THEN abs(((i+2) * slope) % (4*a) - 2*a) - a ELSE 0 END
             |           WHEN (i+1) % 116 = 1 THEN s1
             |           ELSE s5.rec END AS ns1,
             |      CASE WHEN (i+1) % 116 = 0 THEN g.f1
             |           WHEN (i+1) % 116 = 1 THEN s2
             |           ELSE s1 END AS ns2,
             |      CASE WHEN (i+1) % 116 = 0 THEN d0.delta0
             |           WHEN (i+1) % 116 = 1 THEN delta
             |           ELSE greatest(16, ([230,230,230,230,307,409,512,614,768,614,512,409,307,230,230,230][CASE WHEN qv < 0 THEN qv + 16 ELSE qv END + 1]
             |                              * delta) // 256) END AS nd) q
             |  WHERE i + 1 < n)
             |SELECT doc_id, n AS n_samples, chk AS dec_checksum, merr AS max_err
             |FROM st WHERE i = n - 1 ORDER BY doc_id""".stripMargin)),

    ("q_audio_adpcm",
      (s: SparkSession, d: String) =>
        Multimodal.adpcmReport(t(s, d, "documents")).orderBy("doc_id"),
      Some("""WITH dims AS (SELECT doc_id, 600 + n_chars % 1000 AS n FROM documents)
             |SELECT doc_id,
             |  CAST(60 + ((n + 504) // 505) * 256 AS BIGINT) AS media_bytes,
             |  CAST(n AS BIGINT) AS n_samples, CAST(2*n AS BIGINT) AS pcm_bytes,
             |  true AS err_bounded, true AS mse_bounded
             |FROM dims ORDER BY doc_id""".stripMargin)),

    // The THIRD lossy-audio rung: MS ADPCM (format 0x0002) predicts from
    // TWO previous samples through the standard 7-pair coefficient table
    // and adapts its quantizer multiplicatively — one structural step
    // closer to LPC-class codecs than IMA's one-tap delta walk. Same
    // grading split as q_audio_adpcm: 90-byte header (incl. the
    // coefficient table) + 500-sample blocks are closed-form hash-graded,
    // tracking error is spec-derived bounded booleans.
    ("q_audio_msadpcm",
      (s: SparkSession, d: String) =>
        Multimodal.adpcmReport(t(s, d, "documents"), flavor = "ms").orderBy("doc_id"),
      Some("""WITH dims AS (SELECT doc_id, 600 + n_chars % 1000 AS n FROM documents)
             |SELECT doc_id,
             |  CAST(90 + ((n + 499) // 500) * 256 AS BIGINT) AS media_bytes,
             |  CAST(n AS BIGINT) AS n_samples, CAST(2*n AS BIGINT) AS pcm_bytes,
             |  true AS err_bounded, true AS mse_bounded
             |FROM dims ORDER BY doc_id""".stripMargin)),

    // REAL video frame sampling, graded byte-exact — the third modality:
    // the engine encodes a genuine uncompressed AVI (RIFF hdrl/movi, DIB
    // frames) per doc, DECODES it back, picks 3 evenly spaced frames by
    // exact integer arithmetic, and folds a per-frame checksum scaled by
    // the sample ordinal. The oracle replays frame selection AND pixel
    // values closed-form, so a decoder that returns the wrong frame for
    // an index — or misreads the DIB raster — cannot match.
    ("q_video_frames",
      (s: SparkSession, d: String) =>
        Multimodal.sampleVideoFrames(Multimodal.withVideoMedia(t(s, d, "documents")), 3)
          .toDF()
          .orderBy("doc_id"),
      Some("""WITH dims AS (
             |  SELECT doc_id, 4 + n_chars % 9 AS w, 3 + n_chars % 7 AS h,
             |    2 + doc_id % 4 AS nf
             |  FROM documents),
             |px AS (
             |  SELECT d.doc_id, d.w, d.h, d.nf,
             |    sum(((31*d.doc_id + 11*((j.j * d.nf) // 3) + 7*t.i) % 256)
             |        * (t.i % 97 + 1) * (j.j + 1)) AS chk
             |  FROM dims d
             |  CROSS JOIN range(0, 3) j(j)
             |  JOIN range(0, 324) t(i) ON t.i < d.w*d.h*3
             |  GROUP BY d.doc_id, d.w, d.h, d.nf)
             |SELECT doc_id,
             |  CAST(224 + nf*(8 + ((3*w + 3)//4)*4*h) AS BIGINT) AS media_bytes,
             |  CAST(w AS BIGINT) AS width, CAST(h AS BIGINT) AS height,
             |  CAST(nf AS BIGINT) AS n_frames,
             |  CAST(3 AS BIGINT) AS frames_sampled,
             |  CAST(chk AS BIGINT) AS sampled_checksum
             |FROM px ORDER BY doc_id""".stripMargin)),

    // Cross-container VIDEO transcode: animated GIF (LZW, palettes,
    // compositing) → full decode → uncompressed AVI re-encode → frame
    // sampling on the TRANSCODED clip. The whole chain is replayed
    // closed-form: frames are full-canvas so the oracle combines the GIF
    // generator's palette arithmetic with the AVI container-size formula
    // — both codecs must be bit-faithful for the sampled checksum to
    // survive, the q_media_transcode contract extended to video.
    ("q_video_transcode",
      (s: SparkSession, d: String) =>
        Multimodal.sampleVideoFrames(
            Multimodal.transcodeGifToAvi(
              Multimodal.withGifAnimMedia(t(s, d, "documents"))), 2)
          .toDF()
          .orderBy("doc_id"),
      Some("""WITH dims AS (
             |  SELECT doc_id, 4 + n_chars % 9 AS w, 3 + n_chars % 7 AS h,
             |    2 + doc_id % 3 AS nf
             |  FROM documents),
             |px AS (
             |  SELECT d.doc_id, d.w, d.h, d.nf,
             |    sum((CASE t.i % 3
             |      WHEN 0 THEN (31*d.doc_id + 7*(t.i//3) + 11*((j.j*d.nf)//2)) % 256
             |      WHEN 1 THEN (2*((31*d.doc_id + 7*(t.i//3) + 11*((j.j*d.nf)//2)) % 256) + 1) % 256
             |      ELSE (5*((31*d.doc_id + 7*(t.i//3) + 11*((j.j*d.nf)//2)) % 256) + 3) % 256
             |      END) * (t.i % 97 + 1) * (j.j + 1)) AS chk
             |  FROM dims d
             |  CROSS JOIN range(0, 2) j(j)
             |  JOIN range(0, 324) t(i) ON t.i < d.w*d.h*3
             |  GROUP BY d.doc_id, d.w, d.h, d.nf)
             |SELECT doc_id,
             |  CAST(224 + nf*(8 + ((3*w + 3)//4)*4*h) AS BIGINT) AS media_bytes,
             |  CAST(w AS BIGINT) AS width, CAST(h AS BIGINT) AS height,
             |  CAST(nf AS BIGINT) AS n_frames,
             |  CAST(2 AS BIGINT) AS frames_sampled,
             |  CAST(chk AS BIGINT) AS sampled_checksum
             |FROM px ORDER BY doc_id""".stripMargin)),

    // REAL LOSSY VIDEO — Motion JPEG: every frame of every clip is a
    // genuine baseline JPEG (forward DCT, quantization, Huffman entropy
    // coding all live per frame), sampled through the same evenly-spaced
    // frame selection as q_video_frames. Graded HASH-EXACT despite the
    // lossy codec: grayscale block-constant frames encode as DC-only
    // blocks, and the flat-8 quantizer round-trips DC bit-exact — the
    // q_jpeg_decode closed-form-fixture idea extended along the time
    // axis. media_bytes is dropped: entropy-coded sizes are not
    // closed-form (that boundary is stated, not papered over — the
    // ADPCM grading precedent).
    ("q_mjpeg_frames",
      (s: SparkSession, d: String) =>
        Multimodal.sampleVideoFrames(Multimodal.withMjpegMedia(t(s, d, "documents")), 2)
          .toDF()
          .drop("media_bytes")
          .orderBy("doc_id"),
      Some("""WITH dims AS (
             |  SELECT doc_id, 8 + n_chars % 17 AS w, 8 + n_chars % 9 AS h,
             |    2 + doc_id % 3 AS nf
             |  FROM documents),
             |px AS (
             |  SELECT d.doc_id, d.w, d.h, d.nf,
             |    sum(((31*d.doc_id
             |          + 13*((((t.i//3) // d.w) // 8) * ((d.w+7)//8)
             |                + ((t.i//3) % d.w) // 8)
             |          + 11*((j.j * d.nf) // 2)) % 256)
             |        * (t.i % 97 + 1) * (j.j + 1)) AS chk
             |  FROM dims d
             |  CROSS JOIN range(0, 2) j(j)
             |  JOIN range(0, 1152) t(i) ON t.i < d.w*d.h*3
             |  GROUP BY d.doc_id, d.w, d.h, d.nf)
             |SELECT doc_id,
             |  CAST(w AS BIGINT) AS width, CAST(h AS BIGINT) AS height,
             |  CAST(nf AS BIGINT) AS n_frames,
             |  CAST(2 AS BIGINT) AS frames_sampled,
             |  CAST(chk AS BIGINT) AS sampled_checksum
             |FROM px ORDER BY doc_id""".stripMargin)),

    // REAL streaming run under the oracle: documents (+ planted clones of
    // every doc_id%7==0 doc, shifted one generation later — so gen-2
    // originals see their clone arrive FIRST) split into three arrival
    // files, streamed through Streams.ingestDedup as three AvailableNow
    // micro-batches (maxFilesPerTrigger=1, mtime-ordered). The accepted
    // corpus is the graded row set; DuckDB replays the batch algebra:
    // per fingerprint, the earliest generation wins, min doc_id within it.
    // This grades the foreachBatch wiring, the empty-index bootstrap, the
    // per-batch index append, and cross-batch dedup in BOTH directions
    // (original-then-clone and clone-then-original).
    ("q_stream_ingest",
      (s: SparkSession, d: String) => {
        val docs = t(s, d, "documents").select("doc_id", "text")
        val inp = docs
          .withColumn("gen", (col("doc_id") % 3).cast("int"))
          .unionByName(docs.filter(col("doc_id") % 7 === 0)
            .select((col("doc_id") + 10000L).as("doc_id"), col("text"),
              ((col("doc_id") + 1) % 3).cast("int").as("gen")))
        val inDir = scratchDir("stream_in")
        (0 to 2).foreach { g =>
          stageArrivalFile(inp.filter(col("gen") === g).select("doc_id", "text"),
            inDir, s"gen$g.parquet", 1700000000000L + g * 60000L)
        }
        s.sql("DROP TABLE IF EXISTS stream_fp_idx")
        Dedup.writeFingerprintIndex(docs.limit(0), "doc_id", "text",
          "stream_fp_idx", buckets = 8)
        val outDir = scratchDir("stream_out")
        val stream = s.readStream.schema(docs.schema)
          .option("maxFilesPerTrigger", 1).parquet(inDir)
        withShufflePartitions(s, 8) {
          val q = graft.streaming.Streams.ingestDedup(stream, "doc_id", "text",
            "stream_fp_idx", scratchDir("stream_ckpt"), buckets = 8) { fresh =>
            fresh.select(col("doc_id"),
                TextAnalysis.fingerprint(col("text")).as("fingerprint"))
              .write.mode("append").parquet(outDir)
          }.start()
          q.awaitTermination()
        }
        Tables.parquet(s, outDir).orderBy("doc_id")
      },
      Some("""WITH inp AS (
             |  SELECT doc_id, text, CAST(doc_id % 3 AS INT) AS gen FROM documents
             |  UNION ALL
             |  SELECT 10000 + doc_id, text, CAST((doc_id + 1) % 3 AS INT) AS gen
             |  FROM documents WHERE doc_id % 7 = 0),
             |fp AS (
             |  SELECT doc_id, gen,
             |    md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fingerprint
             |  FROM inp),
             |win AS (SELECT fingerprint, min(gen) AS g FROM fp GROUP BY fingerprint)
             |SELECT min(fp.doc_id) AS doc_id, fp.fingerprint
             |FROM fp JOIN win ON fp.fingerprint = win.fingerprint AND fp.gen = win.g
             |GROUP BY fp.fingerprint ORDER BY doc_id""".stripMargin)),

    // REAL streaming upsert under the oracle: a PostsTable seeded with the
    // full orders projection, then TWO mtime-ordered arrival files driven
    // through Streams.upsertSink (AvailableNow, maxFilesPerTrigger=1), so
    // each micro-batch is one atomic versioned upsert — batch 1 reprices
    // keys %10, batch 2 reprices keys %15 (overriding batch 1 on %30) and
    // inserts brand-new keys. The FINAL table is the graded row set; DuckDB
    // replays the same two upserts as last-writer-wins set algebra. This
    // grades the foreachBatch upsert wiring, batch ordering, and the
    // version-commit chain end-to-end (create → v1 → v2).
    ("q_stream_upsert",
      (s: SparkSession, d: String) => {
        import graft.reddit.PostsTable
        val base = t(s, d, "orders").select(col("o_orderkey"), col("o_totalprice"))
        val root = scratchDir("stream_upsert_tbl")
        PostsTable.create(base, root, "o_orderkey")
        val b1 = base.filter(pmod(col("o_orderkey"), lit(10)) === 0)
          .select(col("o_orderkey"), round(col("o_totalprice") * 1.1, 4).as("o_totalprice"))
        // Brand-new keys start at max(o_orderkey)+1: a fixed offset like
        // 10M collides with real orderkeys at SF>=2 (duplicate keys in b2
        // would make the upsert winner nondeterministic vs the oracle's
        // UNION ALL). Mirrored in the oracle SQL below.
        val maxKey = base.agg(max(col("o_orderkey")).cast("long")).collect()(0).getLong(0)
        val b2 = base.filter(pmod(col("o_orderkey"), lit(15)) === 0)
          .select(col("o_orderkey"), round(col("o_totalprice") * 1.2, 4).as("o_totalprice"))
          .unionByName(base.filter(pmod(col("o_orderkey"), lit(100)) === 0)
            .select((col("o_orderkey") + lit(maxKey + 1L)).as("o_orderkey"), col("o_totalprice")))
        val inDir = scratchDir("ups_in")
        stageArrivalFile(b1, inDir, "b1.parquet", 1700000000000L)
        stageArrivalFile(b2, inDir, "b2.parquet", 1700000060000L)
        val stream = s.readStream.schema(base.schema)
          .option("maxFilesPerTrigger", 1).parquet(inDir)
        graft.streaming.Streams
          .upsertSink(stream, root, "o_orderkey", scratchDir("ups_ckpt"))
          .start().awaitTermination()
        PostsTable.read(s, root).orderBy("o_orderkey")
      },
      Some("""WITH base AS (SELECT o_orderkey AS k, o_totalprice AS p FROM orders),
             |b1 AS (SELECT k, round(p * 1.1, 4) AS p FROM base WHERE k % 10 = 0),
             |b2 AS (SELECT k, round(p * 1.2, 4) AS p FROM base WHERE k % 15 = 0
             |       UNION ALL
             |       SELECT k + (SELECT max(k) + 1 FROM base), p
             |       FROM base WHERE k % 100 = 0)
             |SELECT k AS o_orderkey, p AS o_totalprice FROM b2
             |UNION ALL
             |SELECT k, p FROM b1 WHERE k NOT IN (SELECT k FROM b2)
             |UNION ALL
             |SELECT k, p FROM base
             |WHERE k NOT IN (SELECT k FROM b1) AND k NOT IN (SELECT k FROM b2)
             |ORDER BY o_orderkey""".stripMargin)),

    // Streaming CRASH-RECOVERY under the oracle — the property that makes
    // the foreachBatch upsert exactly-once in production, graded under a
    // REAL restart rather than a clean run: query 1 consumes batches 1-2
    // (AvailableNow terminates it — the "crash"), then a NEW query on the
    // SAME checkpoint sees one more arrival file and must process ONLY it.
    // Re-application is detectable in the grade itself two ways: (a) the
    // batches overlap — every key divisible by 30 is repriced by all three
    // — so a re-applied batch 2 would regress those keys from ×1.3 to ×1.2
    // and break the hash; (b) versions_after_restart carries the version-
    // counter delta across the restart, which must be exactly 1 (only
    // batch 3 committed; a replayed batch would commit again).
    ("q_stream_recovery",
      (s: SparkSession, d: String) => {
        import graft.reddit.PostsTable
        val base = t(s, d, "orders").select(col("o_orderkey"), col("o_totalprice"))
        val root = scratchDir("stream_recov_tbl")
        PostsTable.create(base, root, "o_orderkey")
        def repriced(m: Int, f: Double) =
          base.filter(pmod(col("o_orderkey"), lit(m)) === 0)
            .select(col("o_orderkey"), round(col("o_totalprice") * f, 4).as("o_totalprice"))
        val inDir = scratchDir("recov_in")
        val ckpt = scratchDir("recov_ckpt")
        stageArrivalFile(repriced(10, 1.1), inDir, "b1.parquet", 1700000000000L)
        stageArrivalFile(repriced(15, 1.2), inDir, "b2.parquet", 1700000060000L)
        def run(): Unit = {
          val stream = s.readStream.schema(base.schema)
            .option("maxFilesPerTrigger", 1).parquet(inDir)
          graft.streaming.Streams
            .upsertSink(stream, root, "o_orderkey", ckpt)
            .start().awaitTermination()
        }
        run() // query 1: consumes b1, b2, terminates
        val vBefore = PostsTable.currentVersion(root).get
        stageArrivalFile(repriced(6, 1.3), inDir, "b3.parquet", 1700000120000L)
        run() // query 2: fresh query, same checkpoint — must see ONLY b3
        val vAfter = PostsTable.currentVersion(root).get
        PostsTable.read(s, root)
          .withColumn("versions_after_restart", lit(vAfter - vBefore).cast("long"))
          .orderBy("o_orderkey")
      },
      Some("""WITH base AS (SELECT o_orderkey AS k, o_totalprice AS p FROM orders),
             |b1 AS (SELECT k, round(p * 1.1, 4) AS p FROM base WHERE k % 10 = 0),
             |b2 AS (SELECT k, round(p * 1.2, 4) AS p FROM base WHERE k % 15 = 0),
             |b3 AS (SELECT k, round(p * 1.3, 4) AS p FROM base WHERE k % 6 = 0)
             |SELECT k AS o_orderkey, p AS o_totalprice,
             |       CAST(1 AS BIGINT) AS versions_after_restart FROM b3
             |UNION ALL
             |SELECT k, p, CAST(1 AS BIGINT) FROM b2
             |WHERE k NOT IN (SELECT k FROM b3)
             |UNION ALL
             |SELECT k, p, CAST(1 AS BIGINT) FROM b1
             |WHERE k NOT IN (SELECT k FROM b2) AND k NOT IN (SELECT k FROM b3)
             |UNION ALL
             |SELECT k, p, CAST(1 AS BIGINT) FROM base
             |WHERE k NOT IN (SELECT k FROM b1) AND k NOT IN (SELECT k FROM b2)
             |  AND k NOT IN (SELECT k FROM b3)
             |ORDER BY o_orderkey""".stripMargin)),

    // Rate-limited DSv2 ingest under the oracle: events re-written as 8
    // parquet files and streamed through the graft-rowgroups source
    // (row-group-granularity admission, maxRowGroupsPerTrigger=3) into an
    // append sink. Graded: the reassembled relation's exact count and id
    // bounds vs the events table, plus the admission telemetry — 8 slices
    // at cap 3 MUST drain in ceil(8/3)=3 batches, no batch may exceed the
    // cap in rows, and the union must carry no duplicate or lost event
    // (the source's exactly-once slice-delivery contract).
    ("q_stream_rate_source",
      (s: SparkSession, d: String) => {
        // ts stays behind: Spark's default parquet timestamp output is
        // INT96, which the source rejects loudly by design
        val ev = t(s, d, "events").select("event_id", "user_id", "event_type", "value")
        val evCount = ev.count()
        val srcDir = scratchDir("rate_src")
        ev.repartition(8).write.mode("overwrite").parquet(srcDir)
        val outDir = scratchDir("rate_out")
        val batchRows = scala.collection.mutable.ArrayBuffer.empty[Long]
        s.readStream.format("graft-rowgroups")
          .option("path", srcDir)
          .option("maxRowGroupsPerTrigger", 3)
          .load()
          .writeStream
          .outputMode("append")
          .option("checkpointLocation", scratchDir("rate_ckpt"))
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .foreachBatch { (b: DataFrame, _: Long) =>
            batchRows.synchronized { batchRows += b.count(): Unit }
            b.write.mode("append").parquet(outDir)
          }
          .start().awaitTermination()
        val got = Tables.parquet(s, outDir)
        val nRows = got.count()
        val nDistinct = got.select("event_id").distinct().count()
        val sliceCap = 3L * ((evCount + 7L) / 8L) // round-robin slices are ~even
        // content-sensitive sums over the SINK (not the source): a
        // dropped, duplicated or corrupted event anywhere in the
        // row-group admission path moves them off the oracle's
        // source-side replay — graded values, not self-asserted booleans
        val st = got.agg(min("event_id"), max("event_id"),
          sum("event_id").cast("long"),
          sum(col("user_id") * col("event_id")).cast("long")).collect()(0)
        import s.implicits._
        Seq((nRows, nDistinct, st.getLong(0), st.getLong(1), st.getLong(2),
            st.getLong(3),
            nRows == evCount && nDistinct == evCount,
            batchRows.length == 3,
            batchRows.forall(_ <= sliceCap)))
          .toDF("n_rows", "n_distinct", "min_id", "max_id", "id_sum",
            "content_chk", "exactly_once", "n_batches_ok", "rate_limited")
      },
      Some("""SELECT CAST(count(*) AS BIGINT) AS n_rows,
             |  CAST(count(DISTINCT event_id) AS BIGINT) AS n_distinct,
             |  min(event_id) AS min_id, max(event_id) AS max_id,
             |  CAST(sum(event_id) AS BIGINT) AS id_sum,
             |  CAST(sum(user_id * event_id) AS BIGINT) AS content_chk,
             |  true AS exactly_once, true AS n_batches_ok, true AS rate_limited
             |FROM events""".stripMargin)),

    // Exactly-once sink effect under the oracle: 4 slices stream through
    // exactlyOnceUpsertSink (epoch ledger committed atomically with each
    // version flip). Graded: table content == events (count), the ledger
    // accounts for every table row (sum of per-epoch rows == table rows),
    // a re-run over the drained checkpoint commits nothing, and a
    // simulated crash-replay of an already-committed epoch is SKIPPED
    // without a version bump — the non-idempotent-metrics double-fire the
    // plain upsert sink cannot prevent.
    ("q_stream_epoch_ledger",
      (s: SparkSession, d: String) => {
        import graft.reddit.PostsTable
        import graft.streaming.EpochLedger
        val ev = t(s, d, "events").select("event_id", "user_id", "value")
        val srcDir = scratchDir("ledger_src")
        ev.repartition(4).write.mode("overwrite").parquet(srcDir)
        val root = scratchDir("ledger_root") + "/t"
        val ckpt = scratchDir("ledger_ckpt")
        def run(): Unit =
          graft.streaming.Streams.exactlyOnceUpsertSink(
            s.readStream.format("graft-rowgroups").option("path", srcDir)
              .option("maxRowGroupsPerTrigger", 1).load(),
            root, "event_id", ckpt).start().awaitTermination()
        run() // 4 slices at cap 1 → epochs 0..3
        val vDrained = PostsTable.currentVersion(root).get
        run() // drained checkpoint: nothing admitted, nothing committed
        val vRerun = PostsTable.currentVersion(root).get
        val replayApplied = EpochLedger.exactlyOnceUpsert(
          s, root, ev.limit(10), epochId = 0L, key = "event_id")
        val ledger = EpochLedger.committed(root)
        val table = PostsTable.read(s, root)
        val tableRows = table.count()
        // content sums over the COMMITTED TABLE, oracle-replayed from the
        // source: a lost/doubled epoch moves them even if the counts
        // happen to agree
        val st = table.agg(sum("event_id").cast("long"),
          sum(col("user_id") * col("event_id")).cast("long")).collect()(0)
        import s.implicits._
        Seq((tableRows, st.getLong(0), st.getLong(1),
            ledger.size == 4,
            ledger.values.sum == tableRows,
            !replayApplied && PostsTable.currentVersion(root).get == vDrained,
            vRerun == vDrained))
          .toDF("n_rows", "id_sum", "content_chk", "n_epochs_ok",
            "ledger_matches_table", "replay_skipped", "rerun_noop")
      },
      Some("""SELECT CAST(count(*) AS BIGINT) AS n_rows,
             |  CAST(sum(event_id) AS BIGINT) AS id_sum,
             |  CAST(sum(user_id * event_id) AS BIGINT) AS content_chk,
             |  true AS n_epochs_ok,
             |  true AS ledger_matches_table, true AS replay_skipped,
             |  true AS rerun_noop
             |FROM events""".stripMargin)),

    // REAL streaming sessionization under the oracle: the events table
    // streamed as three time-tercile arrival files (time-ordered, so
    // nothing is watermark-late) plus a FLUSH file carrying one far-future
    // event per user. The flush event closes every still-open session
    // through the ordinary in-batch gap-split path — deterministic, no
    // reliance on no-data micro-batches firing timeouts — while its own
    // 1-event session stays in state and is never emitted (the watermark
    // never passes its timeout). Emitted sessions must equal the batch
    // analog, which DuckDB replays with window functions.
    ("q_stream_session",
      (s: SparkSession, d: String) => {
        val ev = t(s, d, "events")
          .select(col("user_id").cast("long").as("user_id"),
            col("ts").cast("timestamp").as("ts"))
        val Array(minMs, maxMs) = ev
          .agg(min(unix_millis(col("ts"))), max(unix_millis(col("ts"))))
          .collect().head.toSeq.map(_.asInstanceOf[Long]).toArray
        val cut1 = minMs + (maxMs - minMs) / 3
        val cut2 = minMs + 2 * (maxMs - minMs) / 3
        val flushMs = maxMs + 2L * 24 * 3600 * 1000
        val batches = Seq(
          ev.filter(unix_millis(col("ts")) < cut1),
          ev.filter(unix_millis(col("ts")) >= cut1 && unix_millis(col("ts")) < cut2),
          ev.filter(unix_millis(col("ts")) >= cut2),
          ev.select("user_id").distinct()
            .withColumn("ts", timestamp_millis(lit(flushMs))))
        val inDir = scratchDir("sess_in")
        batches.zipWithIndex.foreach { case (b, i) =>
          stageArrivalFile(b, inDir, s"batch$i.parquet", 1700000000000L + i * 60000L)
        }
        val outDir = scratchDir("sess_out")
        import s.implicits._
        val stream = s.readStream.schema(ev.schema)
          .option("maxFilesPerTrigger", 1).parquet(inDir)
          .as[graft.streaming.Streams.SessionEvent]
        withShufflePartitions(s, 8) {
          val q = graft.streaming.Streams
            .sessionize(stream, gapSeconds = 1800L, watermark = "0 seconds")
            .writeStream.format("parquet")
            .option("path", outDir)
            .option("checkpointLocation", scratchDir("sess_ckpt"))
            .outputMode("append")
            .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
            .start()
          q.awaitTermination()
        }
        Tables.parquet(s, outDir)
          .select(col("user_id"),
            date_format(col("session_start"), "yyyy-MM-dd HH:mm:ss").as("session_start"),
            date_format(col("session_end"), "yyyy-MM-dd HH:mm:ss").as("session_end"),
            col("n_events"))
          .orderBy("user_id", "session_start")
      },
      Some("""WITH x AS (
             |  SELECT user_id, ts,
             |    CASE WHEN lag(epoch_ms(ts)) OVER w IS NULL
             |              OR epoch_ms(ts) - lag(epoch_ms(ts)) OVER w > 1800000
             |         THEN 1 ELSE 0 END AS b
             |  FROM events
             |  WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
             |y AS (
             |  SELECT user_id, ts,
             |    sum(b) OVER (PARTITION BY user_id ORDER BY ts
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
             |  FROM x)
             |SELECT user_id,
             |  strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
             |  strftime(max(ts), '%Y-%m-%d %H:%M:%S') AS session_end,
             |  count(*) AS n_events
             |FROM y GROUP BY user_id, sid
             |ORDER BY user_id, session_start""".stripMargin)),

    // REAL streaming as-of enrichment under the oracle: events split into
    // dimension updates (event_id%5==0, pre-aggregated per (user, ts) so
    // tie order is well-defined on both engines) and probes (the rest),
    // tagged-and-unioned into AsofInput rows and streamed as three
    // time-tercile arrival files (mtime-ordered AvailableNow micro-batches,
    // maxFilesPerTrigger=1). Because the terciles partition by event time,
    // every dim a probe should see is in the same or an earlier batch, so
    // the emitted enrichments must EQUAL the batch as-of join — which
    // DuckDB replays with its native ASOF LEFT JOIN (an independent
    // implementation of the semantics, same oracle as q_asof_join). No
    // flush file: asofEnrich emits inline per batch, nothing waits on
    // timeouts. Retention is set above the data's time span — expiry
    // semantics are spec'd separately in StreamsSpec; the graded contract
    // here is streaming ≡ batch.
    // Watermark late-data semantics made data-visible: the newest third
    // of events arrives FIRST, advancing the watermark to max−span/2;
    // the older two-thirds then arrive late — rows whose hour window
    // still ends above the watermark merge, rows below it are DROPPED by
    // the watermark filter, and the final counts differ from the batch
    // rollup by exactly those rows. DuckDB replays the cut and watermark
    // arithmetic closed-form (ms precision, Spark's watermark clock), so
    // one row kept or dropped on the wrong side of the boundary fails
    // the grade. Two Spark-semantics subtleties are load-bearing and
    // graded: the late-event filter lags one batch behind eviction
    // (SPARK-40925: lateEvents uses the PREVIOUS batch's watermark), so
    // a nudge batch sits between fresh and late arrivals to make the
    // advanced watermark the active late threshold; and the far-future
    // flush row emits every surviving window while its own window
    // outlives the final watermark and stays in state.
    ("q_stream_late_data",
      (s: SparkSession, d: String) => {
        val ev = t(s, d, "events")
          .select(col("event_type"), col("value").cast("double").as("value"),
            col("ts").cast("timestamp").as("ts"))
        val Array(minUs, maxUs) = ev
          .agg(min(unix_micros(col("ts"))), max(unix_micros(col("ts"))))
          .collect().head.toSeq.map(_.asInstanceOf[Long]).toArray
        val spanUs = maxUs - minUs
        val delaySec = spanUs / 2 / 1000000L
        val cut = minUs + 2L * spanUs / 3
        val nudgeUs = maxUs + spanUs
        val flushUs = maxUs + 4L * spanUs
        def marker(name: String, tsUs: Long) =
          s.range(1).select(lit(name).as("event_type"),
            lit(0.0).as("value"), timestamp_micros(lit(tsUs)).as("ts"))
        val batches = Seq(
          ev.filter(unix_micros(col("ts")) >= cut),
          marker("__nudge", nudgeUs),
          ev.filter(unix_micros(col("ts")) < cut),
          marker("__flush", flushUs))
        val inDir = scratchDir("late_in")
        batches.zipWithIndex.foreach { case (b, i) =>
          stageArrivalFile(b, inDir, s"batch$i.parquet", 1700000000000L + i * 60000L)
        }
        val outDir = scratchDir("late_out")
        val stream = s.readStream.schema(batches.head.schema)
          .option("maxFilesPerTrigger", 1).parquet(inDir)
        withShufflePartitions(s, 8) {
          val q = graft.streaming.Streams
            .hourlyCounts(stream, "ts", s"$delaySec seconds")
            .writeStream.format("parquet")
            .option("path", outDir)
            .option("checkpointLocation", scratchDir("late_ckpt"))
            .outputMode("append")
            .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
            .start()
          q.awaitTermination()
        }
        Tables.parquet(s, outDir)
          .filter(!col("event_type").startsWith("__"))
          .select(
            date_format(col("window_start"), "yyyy-MM-dd HH:mm:ss").as("window_start"),
            col("event_type"), col("n_events"),
            expr("CAST(floor((2*CAST(round(sum_value*10000) AS BIGINT) + 100) / 200e0) AS BIGINT)")
              .as("sum_cents"))
          .orderBy("window_start", "event_type")
      },
      Some("""WITH sp AS (SELECT epoch_us(min(ts)) AS mn, epoch_us(max(ts)) AS mx
             |            FROM events),
             |pr AS (SELECT mn + 2*(mx - mn)//3 AS cut,
             |         (mx // 1000) - ((mx - mn)//2//1000000)*1000 AS wm_ms
             |       FROM sp),
             |b1 AS (SELECT * FROM events
             |       WHERE epoch_us(ts) >= (SELECT cut FROM pr)),
             |k2 AS (SELECT * FROM events
             |       WHERE epoch_us(ts) < (SELECT cut FROM pr)
             |         AND epoch_ms(date_trunc('hour', ts)) + 3600000
             |             > (SELECT wm_ms FROM pr)),
             |ak AS (SELECT * FROM b1 UNION ALL SELECT * FROM k2)
             |SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S')
             |    AS window_start,
             |  event_type, count(*) AS n_events,
             |  CAST(floor((2*CAST(round(sum(value)*10000) AS BIGINT) + 100)
             |    / 200e0) AS BIGINT) AS sum_cents
             |FROM ak GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    ("q_stream_asof",
      (s: SparkSession, d: String) => {
        val ev = t(s, d, "events")
          .select(col("event_id").cast("long").as("event_id"),
            col("user_id").cast("long").as("user_id"),
            col("ts").cast("timestamp").as("ts"),
            col("value").cast("double").as("value"))
        val dims = ev.filter(col("event_id") % 5 === 0)
          .groupBy("user_id", "ts").agg(max("value").as("dim_value"))
          .select(col("user_id").as("key"), col("ts"),
            lit(null).cast("long").as("event_id"), col("dim_value"))
        val probes = ev.filter(col("event_id") % 5 =!= 0)
          .select(col("user_id").as("key"), col("ts"), col("event_id"),
            lit(null).cast("double").as("dim_value"))
        // materialize the merged input ONCE: the three tercile writes and
        // the span probe below would otherwise each re-run the dims
        // aggregation shuffle (4 scans + 3 shuffles for one relation);
        // every ts in ev survives into inp (dims keeps ts in its group
        // key, probes pass it through), so the span probe reads the
        // checkpoint, not the source
        val inp = dims.unionByName(probes).localCheckpoint(eager = true)
        val Array(minMs, maxMs) = inp
          .agg(min(unix_millis(col("ts"))), max(unix_millis(col("ts"))))
          .collect().head.toSeq.map(_.asInstanceOf[Long]).toArray
        val cut1 = minMs + (maxMs - minMs) / 3
        val cut2 = minMs + 2 * (maxMs - minMs) / 3
        val batches = Seq(
          inp.filter(unix_millis(col("ts")) < cut1),
          inp.filter(unix_millis(col("ts")) >= cut1 && unix_millis(col("ts")) < cut2),
          inp.filter(unix_millis(col("ts")) >= cut2))
        val inDir = scratchDir("asof_in")
        batches.zipWithIndex.foreach { case (b, i) =>
          stageArrivalFile(b, inDir, s"batch$i.parquet", 1700000000000L + i * 60000L)
        }
        val outDir = scratchDir("asof_out")
        import s.implicits._
        val stream = s.readStream.schema(inp.schema)
          .option("maxFilesPerTrigger", 1).parquet(inDir)
          .as[graft.streaming.Streams.AsofInput]
        // 4 state partitions, not the family's 8: this query's per-trigger
        // cost is state-store instance lifecycle (4 triggers x instances,
        // profiled round 15 at ~0.15s/instance-trigger on tmpfs), and its
        // state is one tiny record per user — halving instances cut the
        // warm stream phase from 3.0s to 2.4s with identical output
        withShufflePartitions(s, 4) {
          val q = graft.streaming.Streams
            .asofEnrich(stream, watermark = "0 seconds",
              retentionMs = 10L * 365 * 24 * 3600 * 1000)
            .writeStream.format("parquet")
            .option("path", outDir)
            .option("checkpointLocation", scratchDir("asof_ckpt"))
            .outputMode("append")
            .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
            .start()
          q.awaitTermination()
        }
        Tables.parquet(s, outDir)
          .select(col("event_id"), col("key").as("user_id"),
            date_format(col("ts"), "yyyy-MM-dd HH:mm:ss").as("ts_s"),
            col("dim_value"))
          .orderBy("event_id")
      },
      Some("""WITH dim AS (
             |  SELECT user_id, ts, max(value) AS dim_value
             |  FROM events WHERE event_id % 5 = 0 GROUP BY 1, 2),
             |probe AS (
             |  SELECT event_id, user_id, ts FROM events WHERE event_id % 5 <> 0)
             |SELECT p.event_id, p.user_id,
             |  strftime(p.ts, '%Y-%m-%d %H:%M:%S') AS ts_s, d.dim_value
             |FROM probe p ASOF LEFT JOIN dim d
             |  ON p.user_id = d.user_id AND p.ts >= d.ts
             |ORDER BY p.event_id""".stripMargin)),

    // REAL stream-stream interval join under the oracle: impressions and
    // clicks (disjoint event splits) arrive as two INDEPENDENT file
    // streams, each in two time-half files, joined on user within a
    // 6-hour attribution window. The cross-batch pairs straddling the
    // half cut are the grade's teeth: they only appear if the left
    // side's state survives exactly until the watermark passes
    // imp_ts + bound (premature eviction loses them, no eviction is the
    // unbounded-state bug). Emitted pairs must equal the batch interval
    // join, which DuckDB replays natively.
    ("q_stream_join",
      (s: SparkSession, d: String) => runStreamIntervalJoin(s, d, "inner"),
      Some("""WITH i AS (SELECT event_id AS imp_id, user_id, ts AS imp_ts
             |          FROM events WHERE event_id % 3 = 0),
             |c AS (SELECT event_id AS click_id, user_id, ts AS click_ts
             |      FROM events WHERE event_id % 3 <> 0)
             |SELECT i.imp_id, c.click_id, i.user_id,
             |  strftime(i.imp_ts, '%Y-%m-%d %H:%M:%S') AS imp_ts_s,
             |  strftime(c.click_ts, '%Y-%m-%d %H:%M:%S') AS click_ts_s
             |FROM i JOIN c ON i.user_id = c.user_id
             |  AND c.click_ts >= i.imp_ts
             |  AND c.click_ts <= i.imp_ts + INTERVAL 6 HOURS
             |ORDER BY imp_id, click_id""".stripMargin)),

    // LEFT-OUTER variant: unconverted impressions must ALSO emit (with
    // null click columns) — the attribution report's other half. Outer
    // rows only materialize when the watermark evicts the left state, so
    // the run stages a far-future flush arrival on both sides (the
    // q_stream_session flush-event discipline); a missing or mistimed
    // eviction is visible as missing null-rows vs the batch left join.
    ("q_stream_join_outer",
      (s: SparkSession, d: String) => runStreamIntervalJoin(s, d, "left_outer"),
      Some("""WITH i AS (SELECT event_id AS imp_id, user_id, ts AS imp_ts
             |          FROM events WHERE event_id % 3 = 0),
             |c AS (SELECT event_id AS click_id, user_id, ts AS click_ts
             |      FROM events WHERE event_id % 3 <> 0)
             |SELECT i.imp_id, c.click_id, i.user_id,
             |  strftime(i.imp_ts, '%Y-%m-%d %H:%M:%S') AS imp_ts_s,
             |  strftime(c.click_ts, '%Y-%m-%d %H:%M:%S') AS click_ts_s
             |FROM i LEFT JOIN c ON i.user_id = c.user_id
             |  AND c.click_ts >= i.imp_ts
             |  AND c.click_ts <= i.imp_ts + INTERVAL 6 HOURS
             |ORDER BY imp_id, click_id NULLS FIRST""".stripMargin)),

    // Skew stress at bench scale: a boilerplate-heavy degenerate corpus —
    // 999k copies of ONE document (one fingerprint = 999k rows, one
    // over-full LSH bucket per band) plus a 1k unique tail. Exact dedup
    // must stay scan-bound because the hot fingerprint combines MAP-SIDE
    // in the two-phase `min(struct)` aggregate (one row per partition
    // crosses the exchange, not 999k — plan-asserted in PlanQualitySpec);
    // minhashLsh must emit ZERO pairs because every hot bucket trips the
    // capped_collect size cap with O(cap) reducer state instead of
    // exploding into ~5·10¹¹ candidate pairs. The oracle replays exact
    // dedup closed-form over the same generated corpus; the 0 is the
    // documented cap contract.
    ("q_skew_dedup",
      (s: SparkSession, _: String) => {
        // tail docs are TOKEN-DISJOINT (every token embeds the doc id), so
        // any cross-doc candidate pair verifies at Jaccard exactly 0 — the
        // oracle's n_lsh_pairs = 0 follows solely from the hot-bucket cap
        // contract, not from threshold filtering of a near-miss tail
        val docs = s.range(1000000L).select(col("id").as("doc_id"),
          when(col("id") < 999000L,
            lit("all the same boilerplate body of text repeated across the corpus"))
            .otherwise(concat(
              lit("tok"), col("id"), lit("a tok"), col("id"),
              lit("b tok"), col("id"), lit("c")))
            .as("text"))
        val ex = Dedup.exact(docs, "doc_id", "text")
        // 16 hashes / 8 bands: the graded property is the bucket-cap
        // contract under a hot key, which is signature-width independent —
        // no reason to pay 64 hashes per doc on a 1M-row stress corpus
        val pairs = Dedup.minhashLsh(docs, "doc_id", "text",
          numHashes = 16, bands = 8)
        ex.agg(
            count(lit(1)).as("n_fingerprints"),
            sum(col("dup_count")).cast("long").as("n_docs"),
            max(col("dup_count")).cast("long").as("max_dup"),
            min(col("keep_id")).cast("long").as("min_keep"))
          .crossJoin(pairs.agg(count(lit(1)).as("n_lsh_pairs")))
      },
      Some("""WITH docs AS (
             |  SELECT range AS doc_id,
             |    CASE WHEN range < 999000
             |      THEN 'all the same boilerplate body of text repeated across the corpus'
             |      ELSE 'tok' || range || 'a tok' || range || 'b tok' || range || 'c' END AS text
             |  FROM range(1000000)),
             |f AS (
             |  SELECT md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp,
             |    min(doc_id) AS k, count(*) AS c
             |  FROM docs GROUP BY fp)
             |SELECT CAST(count(*) AS BIGINT) AS n_fingerprints,
             |  CAST(sum(c) AS BIGINT) AS n_docs,
             |  CAST(max(c) AS BIGINT) AS max_dup,
             |  CAST(min(k) AS BIGINT) AS min_keep,
             |  CAST(0 AS BIGINT) AS n_lsh_pairs
             |FROM f""".stripMargin)),

    // The sketch family at 10× the usual bench volume: 10M generated rows
    // (deterministic multiplicative-hash values, ~20k distinct, 8 groups
    // — a 1M-distinct variant measured identical semantics but its exact
    // percentile/distinct buffers were allocation-bound enough to swing
    // 5× with host memory pressure, and even the 100k domain left 32
    // map-side combine tables of ~300k entries each that amplified
    // suite-wide GC pressure 3× on this one row; 20k keeps the
    // exact-vs-sketch cost gap — 20k exact distincts vs 32 registers —
    // while the bench row stays a stable signal),
    // exact count-distinct / exact interpolated median computed BESIDE
    // HLL++ and t-digest, with the sketch error GRADED against the exact
    // value (q_sketch_checks pattern) — the scale point where the docs
    // promise the sketch crossover: exact pays an unbounded distinct
    // shuffle and a full per-group sort, the sketches cross the exchange
    // as O(registers)/O(centroids) state. The oracle replays the exact
    // side closed-form over the same generator.
    ("q_sketch_scale",
      (s: SparkSession, _: String) => {
        val rows = s.range(10000000L).select(
          (col("id") % 8).as("g"),
          ((col("id") * 2654435761L) % 20000L).as("v"))
        // The exact side is deliberately the expensive foil, but its
        // state must be DISTINCT-bounded, not row-bounded: the previous
        // percentile(v, 0.5) buffered every row (1.25M longs per group),
        // which turned host memory pressure into 30s GC swings on this
        // one row. Count-by-value first (map-side combine collapses 10M
        // rows to ≤800k (g,v) pairs), then the exact median by
        // cumulative-count interpolation and exact distinct as a row
        // count — same values to 4dp, peak allocation down ~100×, and
        // the exact-vs-sketch crossover (full distinct shuffle + sorted
        // walk vs O(registers) across the exchange) is still the story.
        // ONE generator pass for the whole exact side: the counts
        // exchange feeds both windows (ordered cumulative + whole-group
        // totals share the hash partitioning on g, no second exchange)
        // and a final tiny agg — totals, exact distinct, and both median
        // straddle values come out of the same 800k-row relation.
        // sorted[(N-1)/2] and sorted[N/2] are the first values whose
        // cumulative count passes each 0-based rank; percentile's exact
        // interpolation at 0.5 is their mean
        val counts = rows.groupBy("g", "v").agg(count(lit(1)).as("c"))
        val cumW = org.apache.spark.sql.expressions.Window
          .partitionBy("g").orderBy("v")
        val allW = org.apache.spark.sql.expressions.Window.partitionBy("g")
        val exact = counts
          .withColumn("cum", sum(col("c")).over(cumW))
          .withColumn("n_rows", sum(col("c")).over(allW))
          .groupBy("g").agg(
            max(col("n_rows")).as("n_rows"),
            count(lit(1)).as("nd_exact"),
            min(when(col("cum") > (col("n_rows") - 1) / 2, col("v"))).as("_vlo"),
            min(when(col("cum") > col("n_rows") / 2, col("v"))).as("_vhi"))
          .select(col("g"), col("n_rows"), col("nd_exact"),
            ((col("_vlo") + col("_vhi")) / 2.0d).as("_p50e"))
        val approx = rows.groupBy("g").agg(
          approx_count_distinct(col("v"), 0.02).as("_nda"),
          expr("approx_percentile(v, 0.5d, 1000)").as("_p50a"))
        // the REPLAYABLE sketch beside the builtin one: per-group
        // HLL-as-data estimates graded cell-exact by the oracle's own
        // md5/bin register replay over the same generator
        val hll = Sketches.groupedHllEstimate(rows, "g", "v", 32)
          .select(col("g").cast("long").as("g"),
            col("est_distinct").as("hll_est"),
            col("empty_buckets").as("hll_empty"))
        exact.join(approx, Seq("g")).join(hll, Seq("g"))
          .select(col("g"), col("n_rows"), col("nd_exact"),
            Sketches.withinRel(col("_nda"), col("nd_exact"), 0.1).as("hll_ok"),
            col("hll_est"), col("hll_empty"),
            round(col("_p50e"), 4).as("p50_exact"),
            // ~20k near-uniform distinct values: rank error ≤1/accuracy
            // (0.1%) maps to ~0.1% of the value range, so a 5% value
            // tolerance is a stable grade without a third corpus scan
            Sketches.withinRel(col("_p50a"), col("_p50e"), 0.05).as("p50_ok"))
          .orderBy("g")
      },
      Some("""WITH r AS (
             |  SELECT range % 8 AS g, (range * 2654435761) % 20000 AS v
             |  FROM range(10000000)),
             |hh AS (SELECT DISTINCT g,
             |    ('0x' || substr(md5(CAST(v AS VARCHAR)), 1, 12))::BIGINT AS h
             |  FROM r),
             |rg AS (SELECT g, h % 32 AS bucket,
             |    max(least(43, CASE WHEN h // 32 = 0 THEN 44
             |         ELSE 44 - length(bin(h // 32)) END)) AS reg
             |  FROM hh GROUP BY 1, 2),
             |e AS (SELECT g,
             |    CAST((697 * 1024 * (1::BIGINT << 43))
             |      // (1000 * (sum(1::BIGINT << CAST(43 - reg AS INT))
             |                 + (32 - count(*)) * (1::BIGINT << 43)))
             |      AS BIGINT) AS hll_est,
             |    CAST(32 - count(*) AS BIGINT) AS hll_empty
             |  FROM rg GROUP BY g)
             |SELECT r.g, CAST(count(*) AS BIGINT) AS n_rows,
             |  CAST(count(DISTINCT v) AS BIGINT) AS nd_exact,
             |  true AS hll_ok, max(e.hll_est) AS hll_est,
             |  max(e.hll_empty) AS hll_empty,
             |  round(quantile_cont(v, 0.5), 4) AS p50_exact,
             |  true AS p50_ok
             |FROM r JOIN e ON e.g = r.g GROUP BY r.g ORDER BY r.g""".stripMargin)),

    // Crosstab of the corpus: docs per source × lang as a wide table — the
    // DuckDB oracle is the equivalent conditional aggregation.
    ("q_pivot_counts",
      (s: SparkSession, d: String) =>
        Relational.pivotCount(t(s, d, "documents"), "source", "lang",
          Seq("de", "en", "es", "fr", "zh"))
          .orderBy("source"),
      Some("""SELECT source,
             |  count(*) FILTER (lang = 'de') AS de,
             |  count(*) FILTER (lang = 'en') AS en,
             |  count(*) FILTER (lang = 'es') AS es,
             |  count(*) FILTER (lang = 'fr') AS fr,
             |  count(*) FILTER (lang = 'zh') AS zh
             |FROM documents GROUP BY source ORDER BY source""".stripMargin)),

    // ---- dataset curation (split / sample / mix accounting / leakage / PII)

    // Deterministic md5-bucket split: the oracle replays the same hex
    // thresholds ('cc' = floor(256*0.80), 'e6' = floor(256*0.90)), so the
    // assignment — not just the counts — is cross-engine reproducible.
    ("q_split_assign",
      (s: SparkSession, d: String) =>
        Curation.splitAssign(t(s, d, "documents"), "doc_id")
          .groupBy("split")
          .agg(count(lit(1)).as("n_docs"),
            sum(length(col("text"))).cast("long").as("n_chars_sum"))
          .orderBy("split"),
      Some("""WITH s AS (
             |  SELECT CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)),1,2) < 'cc' THEN 'train'
             |              WHEN substr(md5(CAST(doc_id AS VARCHAR)),1,2) < 'e6' THEN 'val'
             |              ELSE 'test' END AS split, text
             |  FROM documents)
             |SELECT split, count(*) AS n_docs,
             |  CAST(sum(length(text)) AS BIGINT) AS n_chars_sum
             |FROM s GROUP BY split ORDER BY split""".stripMargin)),

    ("q_hash_sample",
      (s: SparkSession, d: String) =>
        Curation.sampleByHash(t(s, d, "documents"), "doc_id", 0.1)
          .select("doc_id")
          .orderBy("doc_id"),
      Some("""SELECT doc_id FROM documents
             |WHERE substr(md5(CAST(doc_id AS VARCHAR)),1,4) < '1999'
             |ORDER BY doc_id""".stripMargin)),

    ("q_stratified_sample",
      (s: SparkSession, d: String) =>
        Curation.stratifiedSample(t(s, d, "documents"), "source", "doc_id", 5)
          .select("source", "doc_id")
          .orderBy("source", "doc_id"),
      Some("""SELECT source, doc_id FROM (
             |  SELECT source, doc_id, row_number() OVER (PARTITION BY source
             |    ORDER BY substr(md5(CAST(doc_id AS VARCHAR)),1,8), doc_id) AS rn
             |  FROM documents) WHERE rn <= 5 ORDER BY source, doc_id""".stripMargin)),

    ("q_token_histogram",
      (s: SparkSession, d: String) =>
        Curation.tokenHistogram(t(s, d, "documents"), "doc_id", "text")
          .orderBy("bin_lo"),
      Some("""WITH n AS (
             |  SELECT CASE WHEN trim(text) = '' THEN 0
             |         ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS nt
             |  FROM documents)
             |SELECT CAST(CASE WHEN nt IS NULL OR nt <= 0 THEN 0
             |  WHEN nt BETWEEN 1 AND 1 THEN 1
             |  WHEN nt BETWEEN 2 AND 3 THEN 2
             |  WHEN nt BETWEEN 4 AND 7 THEN 4
             |  WHEN nt BETWEEN 8 AND 15 THEN 8
             |  WHEN nt BETWEEN 16 AND 31 THEN 16
             |  WHEN nt BETWEEN 32 AND 63 THEN 32
             |  WHEN nt BETWEEN 64 AND 127 THEN 64
             |  WHEN nt BETWEEN 128 AND 255 THEN 128
             |  WHEN nt BETWEEN 256 AND 511 THEN 256
             |  WHEN nt BETWEEN 512 AND 1023 THEN 512
             |  WHEN nt BETWEEN 1024 AND 2047 THEN 1024
             |  WHEN nt BETWEEN 2048 AND 4095 THEN 2048
             |  ELSE 4096 END AS BIGINT) AS bin_lo,
             |  count(*) AS n_docs
             |FROM n GROUP BY 1 ORDER BY 1""".stripMargin)),

    ("q_token_quantiles",
      (s: SparkSession, d: String) => {
        val nt = TextAnalysis.tokenCount(col("text")).cast("long")
        t(s, d, "documents").select(nt.as("nt"))
          .agg(
            round(expr("percentile(nt, 0.5d)"), 4).as("p50"),
            round(expr("percentile(nt, 0.9d)"), 4).as("p90"),
            round(expr("percentile(nt, 0.99d)"), 4).as("p99"),
            min(col("nt")).as("min_tokens"),
            max(col("nt")).as("max_tokens"))
      },
      Some("""WITH n AS (
             |  SELECT CAST(CASE WHEN trim(text) = '' THEN 0
             |         ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS BIGINT) AS nt
             |  FROM documents)
             |SELECT round(quantile_cont(nt, 0.5), 4) AS p50,
             |  round(quantile_cont(nt, 0.9), 4) AS p90,
             |  round(quantile_cont(nt, 0.99), 4) AS p99,
             |  min(nt) AS min_tokens, max(nt) AS max_tokens
             |FROM n""".stripMargin)),

    // Train side deliberately contains the texts of every doc_id % 4 == 1
    // eval document (planted leak): those rows must come back contamination
    // = 1.0, the disjoint eval half near 0 — so the check is non-vacuous.
    // DSIR-style importance selection, graded hash-exact end-to-end: the
    // hashed-token bucket models, the add-one-smoothed fixed-point
    // likelihood ratios, every per-doc weighted-mean score and the
    // top-25% cut with its doc_id tiebreak are all integer arithmetic
    // over md5 buckets, so DuckDB replays the ENTIRE selection — one doc
    // swapped in or out anywhere fails the grade. Target = the 'en'
    // slice; the spec asserts the selected set actually shifts toward it.
    ("q_dsir_select",
      (s: SparkSession, d: String) =>
        Curation.dsirSelect(t(s, d, "documents"), "doc_id", "text",
          col("lang") === "en", buckets = 64, selectNth = 4),
      Some("""WITH base AS (SELECT doc_id, text, lang = 'en' AS is_target
             |              FROM documents),
             |tok AS (SELECT doc_id, is_target,
             |          ('0x' || substr(md5(tkn), 1, 8))::BIGINT % 64 AS b
             |        FROM (SELECT doc_id, is_target,
             |                unnest(regexp_split_to_array(trim(text), '\s+')) AS tkn
             |              FROM base WHERE trim(text) <> '')),
             |dom AS (SELECT i AS b FROM range(0, 64) t(i)),
             |tc AS (SELECT b, count(*) AS tb FROM tok WHERE is_target GROUP BY 1),
             |qc AS (SELECT b, count(*) AS qb FROM tok GROUP BY 1),
             |rr AS (SELECT dom.b,
             |         ((coalesce(tb, 0) + 1) * 1000000) // (coalesce(qb, 0) + 1) AS r
             |       FROM dom LEFT JOIN tc USING (b) LEFT JOIN qc USING (b)),
             |db AS (SELECT doc_id, b, count(*) AS c FROM tok GROUP BY 1, 2),
             |sc AS (SELECT doc_id, sum(c * r) // sum(c) AS score_micro
             |       FROM db JOIN rr USING (b) GROUP BY 1),
             |al AS (SELECT base.doc_id, coalesce(sc.score_micro, 0) AS score_micro
             |       FROM base LEFT JOIN sc ON sc.doc_id = base.doc_id),
             |rk AS (SELECT doc_id, score_micro, row_number() OVER (
             |         ORDER BY score_micro DESC, doc_id) AS r FROM al)
             |SELECT CAST(doc_id AS BIGINT) AS doc_id,
             |  CAST(score_micro AS BIGINT) AS score_micro
             |FROM rk WHERE r <= (SELECT count(*) // 4 FROM base)
             |ORDER BY doc_id""".stripMargin)),

    ("q_contamination",
      (s: SparkSession, d: String) => {
        val docs = t(s, d, "documents")
        val train = docs.filter(col("doc_id") % 2 === 0)
          .unionAll(docs.filter(col("doc_id") % 4 === 1))
        val eval = docs.filter(col("doc_id") % 2 === 1)
        Curation.contamination(train, eval, "doc_id", "text", k = 8)
          .orderBy("doc_id")
      },
      Some("""WITH tra AS (
             |  SELECT regexp_split_to_array(trim(text), '\s+') AS a FROM documents
             |  WHERE (doc_id % 2 = 0 OR doc_id % 4 = 1) AND trim(text) <> ''),
             |trs AS (
             |  SELECT DISTINCT array_to_string(a[i:i+7], ' ') AS s
             |  FROM tra, unnest(range(1, greatest(len(a)-7,0)+1)) AS t(i)
             |  UNION
             |  SELECT array_to_string(a, ' ') AS s FROM tra WHERE len(a) < 8),
             |eva AS (
             |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS a FROM documents
             |  WHERE doc_id % 2 = 1 AND trim(text) <> ''),
             |evs AS (
             |  SELECT DISTINCT doc_id, array_to_string(a[i:i+7], ' ') AS s
             |  FROM eva, unnest(range(1, greatest(len(a)-7,0)+1)) AS t(i)
             |  UNION
             |  SELECT doc_id, array_to_string(a, ' ') AS s FROM eva WHERE len(a) < 8),
             |tot AS (SELECT doc_id, count(*) AS n_shingles FROM evs GROUP BY 1),
             |hit AS (SELECT doc_id, count(*) AS n_contaminated
             |        FROM evs JOIN trs USING (s) GROUP BY 1)
             |SELECT t.doc_id, t.n_shingles,
             |  coalesce(h.n_contaminated, 0) AS n_contaminated,
             |  round(CAST(coalesce(h.n_contaminated, 0) AS DOUBLE) / t.n_shingles, 6)
             |    AS contamination
             |FROM tot t LEFT JOIN hit h ON t.doc_id = h.doc_id
             |ORDER BY t.doc_id""".stripMargin)),

    // PII is planted per-row (email/IP/phone built from doc_id) by the SAME
    // concat on both engines, then scrubbed; DuckDB regexp_replace needs the
    // 'g' flag to match Spark's replace-all semantics.
    ("q_pii_scrub",
      (s: SparkSession, d: String) => {
        val planted = concat(
          lit("contact u"), col("doc_id").cast("string"),
          lit("@mail.example.com or 10.1."), (col("doc_id") % 256).cast("string"),
          lit(".9 tel 555-123-4567 "), col("text"))
        // six regexp passes per doc (3 extract_all + 3 replace) are the
        // compute; spread the raw rows so they don't ride one scan split
        Par.spread(t(s, d, "documents").select("doc_id", "text"))
          .select(col("doc_id"),
            Curation.piiCount(planted).as("n_pii"),
            substring(Curation.piiScrubText(planted), 1, 80).as("scrub_head"))
          .orderBy("doc_id")
      },
      Some("""WITH p AS (
             |  SELECT doc_id,
             |    concat('contact u', CAST(doc_id AS VARCHAR),
             |      '@mail.example.com or 10.1.', CAST(doc_id % 256 AS VARCHAR),
             |      '.9 tel 555-123-4567 ', text) AS s
             |  FROM documents)
             |SELECT doc_id,
             |  CAST(len(regexp_extract_all(s, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))
             |     + len(regexp_extract_all(s, '\b(?:\d{1,3}\.){3}\d{1,3}\b'))
             |     + len(regexp_extract_all(s, '\b\d{3}[-.]\d{3}[-.]\d{4}\b')) AS BIGINT) AS n_pii,
             |  substr(regexp_replace(regexp_replace(regexp_replace(s,
             |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
             |    '\b(?:\d{1,3}\.){3}\d{1,3}\b', '<IP>', 'g'),
             |    '\b\d{3}[-.]\d{3}[-.]\d{4}\b', '<PHONE>', 'g'), 1, 80) AS scrub_head
             |FROM p ORDER BY doc_id""".stripMargin)),

    // Sliding-window chunking: 64-token chunks every 48 tokens (16-token
    // overlap); chunk text reassembles bit-exact on both engines like
    // q_substring_dedup
    ("q_chunk_docs",
      (s: SparkSession, d: String) =>
        Curation.chunkDocs(t(s, d, "documents"), "doc_id", "text",
          chunkSize = 64, stride = 48)
          .orderBy("doc_id", "chunk_idx"),
      Some("""WITH toks AS (
             |  SELECT doc_id,
             |    CASE WHEN trim(text)='' THEN [] ELSE regexp_split_to_array(trim(text),'\s+') END AS tk
             |  FROM documents),
             |st AS (SELECT doc_id, tk, i AS st
             |       FROM toks, unnest(range(0, len(tk), 48)) AS t(i)
             |       WHERE len(tk) > 0)
             |SELECT doc_id, CAST(st // 48 AS BIGINT) AS chunk_idx,
             |  CAST(least(64, len(tk) - st) AS BIGINT) AS n_tokens,
             |  array_to_string(tk[CAST(st+1 AS INT) : CAST(st+64 AS INT)], ' ') AS chunk_text
             |FROM st ORDER BY doc_id, chunk_idx""".stripMargin)),

    // Winsorized group stats: DISCRETE quantile cutoffs (actual data
    // values, SQL-standard smallest-cume_dist>=p on both engines) make the
    // clip comparisons ulp-safe; the clipped sum is exact cents
    ("q_winsorize",
      (s: SparkSession, d: String) =>
        Curation.winsorizedStats(t(s, d, "lineitem"), "l_returnflag",
          "l_extendedprice", pLo = 0.05, pHi = 0.95)
          .orderBy("l_returnflag"),
      Some("""WITH q AS (
             |  SELECT l_returnflag AS g, quantile_disc(l_extendedprice, 0.05) AS lo,
             |         quantile_disc(l_extendedprice, 0.95) AS hi
             |  FROM lineitem GROUP BY 1)
             |SELECT l.l_returnflag, count(*) AS n,
             |  CAST(count(*) FILTER (WHERE l_extendedprice < lo) AS BIGINT) AS n_clipped_lo,
             |  CAST(count(*) FILTER (WHERE l_extendedprice > hi) AS BIGINT) AS n_clipped_hi,
             |  CAST(round(sum(greatest(lo, least(hi, l_extendedprice))) * 100) AS BIGINT)
             |    AS sum_clipped_cents,
             |  min(lo) AS lo, min(hi) AS hi
             |FROM lineitem l JOIN q ON l.l_returnflag = q.g
             |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // Packing summary: per (shard, pack) doc/token counts. The oracle
    // replays the md5 shard digit, the per-shard exclusive cumsum, and the
    // budget cut — so pack assignment itself is verified, not just counts.
    ("q_pack_sequences",
      (s: SparkSession, d: String) =>
        Curation.packSequences(t(s, d, "documents"), "doc_id", "text", budget = 512L)
          .groupBy("shard", "pack")
          .agg(count(lit(1)).as("n_docs"), sum(col("nt")).as("n_tokens"))
          .orderBy("shard", "pack"),
      Some("""WITH b AS (
             |  SELECT doc_id,
             |    CAST(CASE WHEN trim(text) = '' THEN 0
             |         ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS BIGINT) AS nt,
             |    CAST(strpos('0123456789abcdef',
             |      substr(md5(CAST(doc_id AS VARCHAR)),1,1)) - 1 AS BIGINT) AS shard
             |  FROM documents),
             |c AS (
             |  SELECT shard, nt,
             |    sum(nt) OVER (PARTITION BY shard ORDER BY doc_id) - nt AS cum
             |  FROM b)
             |SELECT shard, CAST(floor(cum / 512) AS BIGINT) AS pack,
             |  count(*) AS n_docs, CAST(sum(nt) AS BIGINT) AS n_tokens
             |FROM c GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // Per-doc pack OFFSETS — the attention-boundary contract: the oracle
    // replays the exclusive cumsum and the modular offset, so each doc's
    // position inside its pack is verified, not just pack membership
    ("q_pack_offsets",
      (s: SparkSession, d: String) =>
        Curation.packSequences(t(s, d, "documents"), "doc_id", "text", budget = 512L)
          .select(col("doc_id"), col("shard"), col("pack"), col("off"))
          .orderBy("doc_id"),
      Some("""WITH b AS (
             |  SELECT doc_id,
             |    CAST(CASE WHEN trim(text) = '' THEN 0
             |         ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS BIGINT) AS nt,
             |    CAST(strpos('0123456789abcdef',
             |      substr(md5(CAST(doc_id AS VARCHAR)),1,1)) - 1 AS BIGINT) AS shard
             |  FROM documents),
             |c AS (
             |  SELECT doc_id, shard,
             |    sum(nt) OVER (PARTITION BY shard ORDER BY doc_id) - nt AS cum
             |  FROM b)
             |SELECT doc_id, shard, CAST(floor(cum / 512) AS BIGINT) AS pack,
             |  CAST(cum - floor(cum / 512) * 512 AS BIGINT) AS off
             |FROM c ORDER BY doc_id""".stripMargin)),

    // per-group equi-depth histogram: discrete quartile cuts (data values)
    // bucket each group's distribution — populations match exactly on both
    // engines, and grouping keeps each exact-quantile buffer group-sized
    ("q_equidepth_hist",
      (s: SparkSession, d: String) =>
        Relational.equiDepthHistogram(t(s, d, "lineitem"),
          "l_returnflag", "l_extendedprice")
          .orderBy("l_returnflag", "bucket"),
      Some("""WITH q AS (SELECT l_returnflag AS g,
             |                  quantile_disc(l_extendedprice, 0.25) AS c0,
             |                  quantile_disc(l_extendedprice, 0.5) AS c1,
             |                  quantile_disc(l_extendedprice, 0.75) AS c2
             |           FROM lineitem GROUP BY 1)
             |SELECT l_returnflag, bucket, count(*) AS n FROM (
             |  SELECT l.l_returnflag,
             |    CAST(CASE WHEN l_extendedprice <= c0 THEN 0
             |         WHEN l_extendedprice <= c1 THEN 1
             |         WHEN l_extendedprice <= c2 THEN 2
             |         ELSE 3 END AS BIGINT) AS bucket
             |  FROM lineitem l JOIN q ON l.l_returnflag = q.g)
             |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // Sketch outputs are algorithm-specific (HLL++ registers, quantile
    // summaries) so no engine-independent oracle exists for the raw
    // estimates; the graded contract is the EXACT value plus a boolean
    // "sketch landed within tolerance" — both engine-independent.
    // Unicode canonicalization graded bit-exact cross-engine: every doc
    // gets a planted suffix cycling composed accents, uppercase umlauts,
    // DECOMPOSED combining marks (n+U+0303, e+U+0301, c+U+0327) — the
    // spellings that must collide for dedup keys to work on real text.
    // The engine runs the codegen'd NFC→lower→strip-marks→NFC kernel;
    // DuckDB runs its independent strip_accents(lower(nfc_normalize(·)))
    // chain; outputs are compared as raw strings, no hashing slack.
    ("q_normalize_text",
      (s: SparkSession, d: String) => {
        val planted = t(s, d, "documents").select(col("doc_id"),
          concat(col("text"), lit(" "),
            when(col("doc_id") % 4 === 0, lit("Café au LAIT"))
              .when(col("doc_id") % 4 === 1, lit("MÜNCHEN NÜrnberg"))
              .when(col("doc_id") % 4 === 2, lit("niño pequeño"))
              .otherwise(lit("Café français"))).as("t2"))
        planted
          .select(col("doc_id"),
            graft.functions.normalize_text(col("t2")).as("norm"))
          .orderBy("doc_id")
      },
      Some("""SELECT doc_id,
             |  strip_accents(lower(nfc_normalize(text || ' ' || CASE doc_id % 4
             |    WHEN 0 THEN 'Café au LAIT'
             |    WHEN 1 THEN 'MÜNCHEN NÜrnberg'
             |    WHEN 2 THEN 'niño pequeño'
             |    ELSE 'Café français' END))) AS norm
             |FROM documents ORDER BY doc_id""".stripMargin)),

    // Conversational (SFT) data prep: documents grouped 5-per-conversation
    // (system/user/assistant roles from the turn index), rendered to the
    // deterministic <role>text</s> template in turn order. The rendered
    // string is graded by length + md5 — and the companion q_loss_mask
    // grades the exact character spans, so the template arithmetic can't
    // drift between the two.
    ("q_chat_render",
      (s: SparkSession, d: String) => {
        Conversations.renderChat(chatTurns(t(s, d, "documents")),
            "conv_id", "turn", "role", "text")
          .select(col("conv_id"), col("n_turns"),
            length(col("rendered")).cast("long").as("n_chars"),
            md5(col("rendered").cast("binary")).as("rendered_md5"))
          .orderBy("conv_id")
      },
      Some("""WITH t AS (
             |  SELECT doc_id // 5 AS conv_id, doc_id % 5 AS turn,
             |    CASE WHEN doc_id % 5 = 0 THEN 'system'
             |         WHEN doc_id % 5 % 2 = 1 THEN 'user'
             |         ELSE 'assistant' END AS role,
             |    coalesce(text, '') AS txt
             |  FROM documents),
             |r AS (SELECT conv_id, count(*) AS n_turns,
             |        string_agg('<' || role || '>' || txt || '</s>', ''
             |          ORDER BY turn) AS rendered
             |      FROM t GROUP BY conv_id)
             |SELECT conv_id, CAST(n_turns AS BIGINT) AS n_turns,
             |  CAST(length(rendered) AS BIGINT) AS n_chars,
             |  md5(rendered) AS rendered_md5
             |FROM r ORDER BY conv_id""".stripMargin)),

    // The loss-mask half: 0-based [start_char, end_char) of every
    // assistant turn's TEXT inside the rendered string (markers excluded —
    // loss lands on content, not template). Pure length accumulation, so
    // the oracle replays every span with a window sum; one wrong marker
    // length anywhere shifts every later span in the conversation.
    ("q_loss_mask",
      (s: SparkSession, d: String) =>
        Conversations.lossMaskSpans(chatTurns(t(s, d, "documents")),
            "conv_id", "turn", "role", "text")
          .orderBy("conv_id", "turn"),
      Some("""WITH t AS (
             |  SELECT doc_id // 5 AS conv_id, doc_id % 5 AS turn,
             |    CASE WHEN doc_id % 5 = 0 THEN 'system'
             |         WHEN doc_id % 5 % 2 = 1 THEN 'user'
             |         ELSE 'assistant' END AS role,
             |    coalesce(text, '') AS txt
             |  FROM documents),
             |p AS (SELECT conv_id, turn, role, length(txt) AS tl,
             |        length(role) + 6 + length(txt) AS pl
             |      FROM t),
             |x AS (SELECT conv_id, turn, role, tl,
             |        coalesce(sum(pl) OVER (PARTITION BY conv_id ORDER BY turn
             |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS prefix
             |      FROM p)
             |SELECT conv_id, CAST(turn AS BIGINT) AS turn,
             |  CAST(prefix + length(role) + 2 AS BIGINT) AS start_char,
             |  CAST(prefix + length(role) + 2 + tl AS BIGINT) AS end_char
             |FROM x WHERE role = 'assistant' ORDER BY conv_id, turn""".stripMargin)),

    // Fill-in-middle rewrite graded bit-exact: the hash-selected half of
    // the corpus is cut at two md5-derived character offsets and re-emitted
    // in PSM order; DuckDB replays the selection hash, both cut offsets
    // and the three-way substring reassembly, so a single off-by-one in
    // any span boundary flips the md5.
    ("q_fim_transform",
      (s: SparkSession, d: String) =>
        Curation.fimTransform(t(s, d, "documents"), "doc_id", "text")
          .select(col("doc_id"), col("fim"),
            length(col("out_text")).cast("long").as("n_chars"),
            md5(col("out_text").cast("binary")).as("out_md5"))
          .orderBy("doc_id"),
      Some("""WITH d AS (SELECT doc_id, coalesce(text, '') AS t FROM documents),
             |c AS (SELECT doc_id, t, length(t) AS n,
             |        ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':1'), 1, 8))::BIGINT
             |          % (length(t) + 1) AS c1,
             |        ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':2'), 1, 8))::BIGINT
             |          % (length(t) + 1) AS c2,
             |        substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < '80' AS sel
             |      FROM d),
             |x AS (SELECT doc_id, (sel AND n > 0) AS fim,
             |        CASE WHEN sel AND n > 0 THEN
             |          '<PRE>' || substring(t, 1, least(c1, c2)) ||
             |          '<SUF>' || substring(t, greatest(c1, c2) + 1, n - greatest(c1, c2)) ||
             |          '<MID>' || substring(t, least(c1, c2) + 1, greatest(c1, c2) - least(c1, c2))
             |        ELSE t END AS out
             |      FROM c)
             |SELECT doc_id, fim, CAST(length(out) AS BIGINT) AS n_chars,
             |  md5(out) AS out_md5
             |FROM x ORDER BY doc_id""".stripMargin)),

    // Chat-structure gate over deliberately damaged conversations: every
    // conv_id%5==1 loses its system turn, %5==2 loses its final assistant
    // turn, %5==3 gets an adjacent-role violation, and naturally-empty
    // assistant texts trip no_empty_assistant — so the failed-rule lists
    // vary across the corpus and the oracle (window-lag + arg_min/max
    // formulation, an independent algorithm from the engine's sorted-array
    // HOF scan) must reproduce every verdict string exactly.
    ("q_chat_validate",
      (s: SparkSession, d: String) => {
        val damaged = chatTurns(t(s, d, "documents"))
          .filter(!(col("conv_id") % 5 === 1 && col("turn") === 0))
          .filter(!(col("conv_id") % 5 === 2 && col("turn") === 4))
          .withColumn("role",
            when(col("conv_id") % 5 === 3 && col("turn") === 3, "assistant")
              .otherwise(col("role")))
        Conversations.validateChat(damaged, "conv_id", "turn", "role", "text")
          .orderBy("conv_id")
      },
      Some("""WITH t0 AS (
             |  SELECT doc_id // 5 AS conv_id, doc_id % 5 AS turn,
             |    CASE WHEN doc_id % 5 = 0 THEN 'system'
             |         WHEN doc_id % 5 % 2 = 1 THEN 'user'
             |         ELSE 'assistant' END AS role,
             |    trim(coalesce(text, '')) AS tx
             |  FROM documents),
             |t AS (
             |  SELECT conv_id, turn,
             |    CASE WHEN conv_id % 5 = 3 AND turn = 3 THEN 'assistant'
             |         ELSE role END AS role, tx
             |  FROM t0
             |  WHERE NOT (conv_id % 5 = 1 AND turn = 0)
             |    AND NOT (conv_id % 5 = 2 AND turn = 4)),
             |adj AS (
             |  SELECT conv_id, bool_or(role = prev) AS adjacent_same
             |  FROM (SELECT conv_id, role,
             |          lag(role) OVER (PARTITION BY conv_id ORDER BY turn) AS prev
             |        FROM t)
             |  GROUP BY 1),
             |a AS (
             |  SELECT conv_id, count(*) AS n_turns,
             |    arg_min(role, turn) AS first_role,
             |    arg_max(role, turn) AS last_role,
             |    bool_or(role = 'assistant' AND tx = '') AS empty_a
             |  FROM t GROUP BY 1)
             |SELECT a.conv_id, CAST(a.n_turns AS BIGINT) AS n_turns,
             |  (a.first_role = 'system' AND NOT adj.adjacent_same
             |    AND a.last_role = 'assistant' AND NOT a.empty_a
             |    AND a.n_turns >= 3) AS keep,
             |  concat_ws(',',
             |    CASE WHEN a.first_role <> 'system' THEN 'starts_with_system' END,
             |    CASE WHEN adj.adjacent_same THEN 'alternation' END,
             |    CASE WHEN a.last_role <> 'assistant' THEN 'ends_with_assistant' END,
             |    CASE WHEN a.empty_a THEN 'no_empty_assistant' END,
             |    CASE WHEN a.n_turns < 3 THEN 'min_turns' END) AS failed_rules
             |FROM a JOIN adj ON a.conv_id = adj.conv_id
             |ORDER BY a.conv_id""".stripMargin)),

    // DPO preference pairs: 4 candidate responses per conversation with a
    // deterministic integer score; chosen/rejected via combinable
    // max/min-of-struct (the exactByPriority discipline — one agg
    // exchange, no window), graded against DuckDB's independent
    // window-rank formulation with matching tie-breaks. The md5s prove
    // the TEXT travelled with the winning ids.
    ("q_preference_pairs",
      (s: SparkSession, d: String) => {
        val cands = t(s, d, "documents").select(
          expr("doc_id DIV 4").as("conv_id"),
          col("doc_id").as("cand_id"),
          ((col("doc_id") * 37) % 100).as("score"),
          col("text"))
        Conversations.preferencePairs(cands, "conv_id", "cand_id",
            "text", "score")
          .orderBy("conv_id")
      },
      Some("""WITH c AS (
             |  SELECT doc_id // 4 AS conv_id, doc_id AS cand_id,
             |    (doc_id * 37) % 100 AS s, coalesce(text, '') AS t
             |  FROM documents),
             |ch AS (SELECT conv_id, cand_id, s, t, row_number() OVER (
             |         PARTITION BY conv_id ORDER BY s DESC, cand_id DESC) AS r
             |       FROM c),
             |rj AS (SELECT conv_id, cand_id, s, t, row_number() OVER (
             |         PARTITION BY conv_id ORDER BY s ASC, cand_id ASC) AS r
             |       FROM c),
             |n AS (SELECT conv_id, count(*) AS n_cands FROM c GROUP BY 1)
             |SELECT n.conv_id, CAST(n.n_cands AS BIGINT) AS n_cands,
             |  ch.cand_id AS chosen_id, rj.cand_id AS rejected_id,
             |  CAST(ch.s - rj.s AS BIGINT) AS margin,
             |  md5(ch.t) AS chosen_md5, md5(rj.t) AS rejected_md5
             |FROM n
             |JOIN ch ON ch.conv_id = n.conv_id AND ch.r = 1
             |JOIN rj ON rj.conv_id = n.conv_id AND rj.r = 1
             |WHERE n.n_cands >= 2 AND ch.cand_id <> rj.cand_id
             |ORDER BY n.conv_id""".stripMargin)),

    // Count-Min sketch graded HASH-EXACT, not bound-only: the row hashes
    // are md5-derived so DuckDB rebuilds the identical d×w grid and every
    // point estimate must match bit-for-bit — inflated collisions
    // included (w=64 << vocab forces real collisions, so est > true_cnt
    // rows exist and the overestimate-only property is data-visible).
    // The relational grid IS the scale story: the agg has ≤ d·w keys, so
    // partials crossing the exchange are O(d·w) per task regardless of
    // corpus size, and estimation broadcasts the grid.
    ("q_count_min",
      (s: SparkSession, d: String) => {
        // spread before tokenizing: the 4-row-per-token md5 grid below is
        // the compute (measured 2.1 s as ONE task off the one-split scan);
        // the exchange carries raw text once
        val toks = Par.spread(t(s, d, "documents").select("text"))
          .select(explode(TextAnalysis.tokens(col("text"))).as("token"))
        val sketch = Sketches.countMinSketch(toks, "token", depth = 4, width = 64)
        val truth = toks.groupBy("token").agg(count(lit(1)).as("true_cnt"))
        Sketches.cmsEstimate(sketch, toks, "token", depth = 4, width = 64)
          .withColumnRenamed("item", "token")
          .join(truth, Seq("token"))
          .select(col("token"), col("true_cnt"), col("est"))
          .orderBy("token")
      },
      Some("""WITH toks AS (
             |  SELECT unnest(regexp_split_to_array(trim(text), '\s+')) AS token
             |  FROM documents WHERE trim(text) <> ''),
             |g AS (SELECT t.r,
             |        ('0x' || substr(md5(CAST(t.r AS VARCHAR) || ':' || token), 1, 8))::BIGINT
             |          % 64 AS bucket,
             |        count(*) AS cnt
             |      FROM toks CROSS JOIN range(0, 4) t(r) GROUP BY 1, 2),
             |q AS (SELECT DISTINCT token FROM toks),
             |est AS (SELECT q.token, min(coalesce(g.cnt, 0)) AS est
             |        FROM q CROSS JOIN range(0, 4) t(r)
             |        LEFT JOIN g ON g.r = t.r AND g.bucket =
             |          ('0x' || substr(md5(CAST(t.r AS VARCHAR) || ':' || q.token), 1, 8))::BIGINT % 64
             |        GROUP BY 1),
             |truth AS (SELECT token, count(*) AS true_cnt FROM toks GROUP BY 1)
             |SELECT est.token, truth.true_cnt, est.est
             |FROM est JOIN truth USING (token) ORDER BY token""".stripMargin)),

    // The optimizer's question answered from sketches: |orders ⋈ customer|
    // estimated from two Count-Min grids via the classic inner product
    // (min over rows of Σ_b cntA·cntB — never an undercount), WITHOUT
    // touching either table at estimate time. Graded hash-exact: DuckDB
    // rebuilds both grids and the inner products, and the true join size
    // rides alongside so the overestimate property is data-visible.
    ("q_cms_join_size",
      (s: SparkSession, d: String) => {
        val a = t(s, d, "orders").select(col("o_custkey").as("k"))
        val b = t(s, d, "customer").select(col("c_custkey").as("k"))
        val est = Sketches.cmsJoinSizeEstimate(
          Sketches.countMinSketch(a, "k", depth = 4, width = 128),
          Sketches.countMinSketch(b, "k", depth = 4, width = 128),
          depth = 4)
        val truth = a.join(b, Seq("k")).agg(count(lit(1)).as("true_size"))
        truth.crossJoin(est).select(col("true_size"), col("join_size_est"))
      },
      Some("""WITH a AS (SELECT CAST(o_custkey AS VARCHAR) AS item
             |           FROM orders WHERE o_custkey IS NOT NULL),
             |b AS (SELECT CAST(c_custkey AS VARCHAR) AS item
             |      FROM customer WHERE c_custkey IS NOT NULL),
             |ga AS (SELECT t.r,
             |         ('0x' || substr(md5(CAST(t.r AS VARCHAR) || ':' || item), 1, 8))::BIGINT
             |           % 128 AS bucket,
             |         count(*) AS ca
             |       FROM a CROSS JOIN range(0, 4) t(r) GROUP BY 1, 2),
             |gb AS (SELECT t.r,
             |         ('0x' || substr(md5(CAST(t.r AS VARCHAR) || ':' || item), 1, 8))::BIGINT
             |           % 128 AS bucket,
             |         count(*) AS cb
             |       FROM b CROSS JOIN range(0, 4) t(r) GROUP BY 1, 2),
             |ip AS (SELECT ga.r, sum(ga.ca * gb.cb) AS ip
             |       FROM ga JOIN gb ON ga.r = gb.r AND ga.bucket = gb.bucket
             |       GROUP BY 1),
             |est AS (SELECT CAST(min(coalesce(ip.ip, 0)) AS BIGINT)
             |          AS join_size_est
             |        FROM range(0, 4) t(r) LEFT JOIN ip ON ip.r = t.r),
             |truth AS (SELECT count(*) AS true_size
             |          FROM orders JOIN customer ON o_custkey = c_custkey)
             |SELECT truth.true_size, est.join_size_est
             |FROM truth CROSS JOIN est""".stripMargin)),

    // KMV distinct sketch graded HASH-EXACT end-to-end: the k smallest
    // md5-derived hashes are a replayable STATE, and the classic
    // (k−1)·2³²/h_k estimator is computed in integer arithmetic, so the
    // estimate itself — not a tolerance band — must match DuckDB. Truth
    // rides alongside so the accuracy is data-visible. The sketch is the
    // mergeable O(k) summary that answers distinct-count at 100 TB from
    // per-partition state; here the TakeOrdered k-smallest means at most
    // k hashes leave any partition.
    ("q_kmv_distinct",
      (s: SparkSession, d: String) => {
        val o = t(s, d, "orders").select(col("o_custkey").as("k"))
        val est = Sketches.kmvEstimate(Sketches.kmvSketch(o, "k", 256), 256)
        val truth = o.filter(col("k").isNotNull)
          .agg(count_distinct(col("k")).as("true_distinct"))
        est.crossJoin(truth)
      },
      Some("""WITH it AS (SELECT DISTINCT CAST(o_custkey AS VARCHAR) AS item
             |           FROM orders WHERE o_custkey IS NOT NULL),
             |h AS (SELECT DISTINCT ('0x' || substr(md5(item), 1, 8))::BIGINT AS h
             |      FROM it),
             |sk AS (SELECT h FROM h ORDER BY h LIMIT 256),
             |ag AS (SELECT count(*) AS k_used, max(h) AS kth_hash FROM sk),
             |truth AS (SELECT CAST(count(DISTINCT o_custkey) AS BIGINT)
             |            AS true_distinct
             |          FROM orders WHERE o_custkey IS NOT NULL)
             |SELECT CAST(k_used AS BIGINT) AS k_used,
             |  coalesce(kth_hash, 0) AS kth_hash,
             |  CAST(CASE WHEN k_used < 256 THEN k_used
             |       ELSE (255 * 4294967296) // kth_hash END AS BIGINT)
             |    AS est_distinct,
             |  truth.true_distinct
             |FROM ag CROSS JOIN truth""".stripMargin)),

    // KMV set algebra: union and intersection cardinality from the two
    // sketches ALONE (orders' custkeys vs customer's) — the "how many
    // keys overlap" question answered in O(k) without rescanning either
    // table. Union sketch = k smallest of the merged hash sets;
    // intersection = n_common·est_union div k_used. Hash-exact grade
    // with both true cardinalities alongside.
    ("q_kmv_set_ops",
      (s: SparkSession, d: String) => {
        val a = t(s, d, "orders").select(col("o_custkey").as("k"))
        val b = t(s, d, "customer").select(col("c_custkey").as("k"))
        val ops = Sketches.kmvSetOps(
          Sketches.kmvSketch(a, "k", 256), Sketches.kmvSketch(b, "k", 256), 256)
        val da = a.filter(col("k").isNotNull).distinct()
        val db = b.filter(col("k").isNotNull).distinct()
        val truth = da.union(db).distinct().agg(count(lit(1)).as("true_union"))
          .crossJoin(da.join(db, Seq("k")).agg(count(lit(1)).as("true_intersect")))
        ops.crossJoin(truth)
      },
      Some("""WITH a AS (SELECT DISTINCT
             |    ('0x' || substr(md5(CAST(o_custkey AS VARCHAR)), 1, 8))::BIGINT AS h
             |  FROM orders WHERE o_custkey IS NOT NULL),
             |sa AS (SELECT h FROM a ORDER BY h LIMIT 256),
             |b AS (SELECT DISTINCT
             |    ('0x' || substr(md5(CAST(c_custkey AS VARCHAR)), 1, 8))::BIGINT AS h
             |  FROM customer WHERE c_custkey IS NOT NULL),
             |sb AS (SELECT h FROM b ORDER BY h LIMIT 256),
             |u AS (SELECT DISTINCT h FROM
             |        (SELECT h FROM sa UNION ALL SELECT h FROM sb)
             |      ORDER BY h LIMIT 256),
             |fl AS (SELECT count(*) AS k_used, max(h) AS kth_hash,
             |         sum(CASE WHEN u.h IN (SELECT h FROM sa)
             |                   AND u.h IN (SELECT h FROM sb)
             |             THEN 1 ELSE 0 END) AS n_common
             |       FROM u),
             |e AS (SELECT n_common, k_used,
             |        CASE WHEN k_used < 256 THEN k_used
             |             ELSE (255 * 4294967296) // kth_hash END AS est_union
             |      FROM fl),
             |truth AS (
             |  SELECT (SELECT count(DISTINCT k) FROM (
             |            SELECT o_custkey AS k FROM orders WHERE o_custkey IS NOT NULL
             |            UNION ALL
             |            SELECT c_custkey FROM customer WHERE c_custkey IS NOT NULL))
             |           AS true_union,
             |         (SELECT count(*) FROM
             |            (SELECT DISTINCT o_custkey FROM orders) o
             |            JOIN (SELECT DISTINCT c_custkey FROM customer) c
             |              ON o.o_custkey = c.c_custkey) AS true_intersect)
             |SELECT CAST(n_common AS BIGINT) AS n_common,
             |  CAST(est_union AS BIGINT) AS est_union,
             |  CAST(CASE WHEN k_used = 0 THEN 0
             |       ELSE (n_common * est_union) // k_used END AS BIGINT)
             |    AS est_intersect,
             |  CAST(truth.true_union AS BIGINT) AS true_union,
             |  CAST(truth.true_intersect AS BIGINT) AS true_intersect
             |FROM e CROSS JOIN truth""".stripMargin)),

    // the builtin-sketch tolerance booleans stay, but the row also grades
    // the REPLAYABLE HLL-as-data estimate (md5/bin register arithmetic —
    // the q_hll_union discipline) as integer columns the oracle rebuilds
    // independently: a regression in the sketch machinery itself, not
    // just its tolerance, now flips hashed cells
    ("q_sketch_checks",
      (s: SparkSession, d: String) => {
        val docs = t(s, d, "documents")
        val tok = docs.select(explode(TextAnalysis.tokens(col("text"))).as("tkn"))
        val hll = Sketches.hllEstimate(Sketches.hllRegisters(tok, "tkn", 32), 32)
          .select(col("est_distinct").as("hll_est"),
            col("empty_buckets").as("hll_empty"))
        Sketches.vocabSize(docs, "text")
          .crossJoin(Sketches.tokenMedian(docs, "text"))
          .crossJoin(hll)
          .select(
            col("n_distinct_exact"),
            Sketches.withinRel(col("n_distinct_approx"), col("n_distinct_exact"), 0.1)
              .as("hll_ok"),
            col("hll_est"), col("hll_empty"),
            round(col("p50_exact"), 4).as("p50_exact"),
            Sketches.withinRel(col("p50_approx"), col("p50_exact"), 0.05)
              .as("p50_ok"))
      },
      Some("""WITH tok AS (
             |  SELECT unnest(regexp_split_to_array(trim(text), '\s+')) AS tkn
             |  FROM documents WHERE trim(text) <> ''),
             |v AS (SELECT CAST(count(DISTINCT tkn) AS BIGINT) AS n_distinct_exact
             |      FROM tok),
             |hh AS (SELECT DISTINCT
             |    ('0x' || substr(md5(tkn), 1, 12))::BIGINT AS h FROM tok),
             |hr AS (SELECT h % 32 AS bucket, least(43,
             |           CASE WHEN h // 32 = 0 THEN 44
             |                ELSE 44 - length(bin(h // 32)) END) AS rho FROM hh),
             |bk AS (SELECT CAST(r.range AS BIGINT) AS bucket FROM range(0, 32) r),
             |rg AS (SELECT bk.bucket, coalesce(max(hr.rho), 0) AS reg
             |       FROM bk LEFT JOIN hr ON hr.bucket = bk.bucket GROUP BY 1),
             |e AS (SELECT CAST((697 * 1024 * (1::BIGINT << 43))
             |          // (1000 * sum(1::BIGINT << CAST(43 - reg AS INT)))
             |          AS BIGINT) AS hll_est,
             |        CAST(count(*) FILTER (WHERE reg = 0) AS BIGINT) AS hll_empty
             |      FROM rg),
             |q AS (
             |  SELECT quantile_cont(CAST(CASE WHEN trim(text) = '' THEN 0
             |    ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS BIGINT), 0.5)
             |    AS p50
             |  FROM documents)
             |SELECT n_distinct_exact, true AS hll_ok, e.hll_est, e.hll_empty,
             |  round(p50, 4) AS p50_exact, true AS p50_ok
             |FROM v CROSS JOIN e CROSS JOIN q""".stripMargin)),

    // two-pass exact top-10 tokens (MG candidates → exact recount): the
    // output is the TRUE top-10 because every corpus token sits above
    // n/(k+1) at k=64 — graded against the plain exact top-10 oracle
    ("q_top_tokens_2pass",
      (s: SparkSession, d: String) =>
        Sketches.topTokens2Pass(t(s, d, "documents"), "text", m = 10, k = 64),
      Some("""SELECT tkn, count(*) AS cnt
             |FROM (SELECT unnest(regexp_split_to_array(trim(text), '\s+')) AS tkn
             |      FROM documents WHERE trim(text) <> '')
             |GROUP BY tkn ORDER BY cnt DESC, tkn LIMIT 10""".stripMargin)),

    // Misra-Gries frequent tokens: summary content is merge-order-dependent
    // so the graded row is the q_sketch_checks contract — exact values plus
    // the two deterministic MG guarantees checked on real data (k=8 < the
    // corpus vocabulary, so decrement events actually occur)
    ("q_heavy_hitters",
      (s: SparkSession, d: String) =>
        Sketches.heavyHitters(t(s, d, "documents"), "text", k = 8),
      Some("""WITH tok AS (SELECT unnest(regexp_split_to_array(trim(text), '\s+')) AS tkn
             |             FROM documents WHERE trim(text) <> ''),
             |c AS (SELECT tkn, count(*) AS cnt FROM tok GROUP BY tkn),
             |n AS (SELECT CAST(count(*) AS BIGINT) AS n_tokens FROM tok)
             |SELECT n.n_tokens,
             |  (SELECT CAST(count(*) AS BIGINT) FROM c WHERE cnt > n.n_tokens / 9e0) AS n_heavy_exact,
             |  true AS all_heavy_covered, true AS est_within_bound,
             |  (SELECT coalesce(string_agg(tkn, ',' ORDER BY tkn), '') FROM c
             |   WHERE cnt > n.n_tokens / 9e0) AS heavy_covered
             |FROM n""".stripMargin)),

    // grouped distinct cardinality: exact + HLL verdict per source (the
    // grouped form of q_sketch_checks' vocab check)
    ("q_distinct_by_source",
      (s: SparkSession, d: String) =>
        Sketches.groupedDistinct(t(s, d, "documents"), "source", "text")
          .orderBy("source"),
      Some("""WITH tok AS (SELECT source, unnest(regexp_split_to_array(trim(text), '\s+')) AS tkn
             |             FROM documents WHERE trim(text) <> '')
             |SELECT source, CAST(count(DISTINCT tkn) AS BIGINT) AS n_distinct_exact,
             |  true AS hll_ok
             |FROM tok GROUP BY source ORDER BY source""".stripMargin)),

    // robust outlier census: discrete median/MAD cutoffs are data values,
    // so every comparison is engine-exact (same contract as q_winsorize)
    ("q_mad_outliers",
      (s: SparkSession, d: String) =>
        Relational.madOutlierStats(t(s, d, "lineitem"), "l_returnflag",
          "l_extendedprice", k = 3.0)
          .orderBy("l_returnflag"),
      Some("""WITH m AS (SELECT l_returnflag AS g, quantile_disc(l_extendedprice, 0.5) AS med
             |           FROM lineitem GROUP BY 1),
             |d AS (SELECT l.l_returnflag AS g, abs(l_extendedprice - med) AS adev, med
             |      FROM lineitem l JOIN m ON l.l_returnflag = m.g),
             |s AS (SELECT g, quantile_disc(adev, 0.5) AS mad FROM d GROUP BY 1)
             |SELECT d.g AS l_returnflag, count(*) AS n, max(d.med) AS med, max(s.mad) AS mad,
             |  CAST(count(*) FILTER (WHERE d.adev > 3 * s.mad) AS BIGINT) AS n_outliers
             |FROM d JOIN s ON d.g = s.g GROUP BY 1 ORDER BY 1""".stripMargin)),

    // duplicate-safe split: membership keys on the text fingerprint, so
    // cross-split exact-dup pairs are ZERO by construction — the graded
    // fix for the leakage q_split_leakage measures on id-keyed splits
    ("q_dupsafe_split",
      (s: SparkSession, d: String) => {
        val f = Curation.dupSafeSplit(t(s, d, "documents"), "text")
          .select(col("split"), TextAnalysis.fingerprint(col("text")).as("fp"))
        f.groupBy("fp").agg(
            sum(when(col("split") === "train", 1L).otherwise(0L)).as("nt"),
            sum(when(col("split") === "val", 1L).otherwise(0L)).as("nv"),
            sum(when(col("split") === "test", 1L).otherwise(0L)).as("ns"))
          .agg(
            sum(col("nt")).as("n_train"),
            sum(col("nv")).as("n_val"),
            sum(col("ns")).as("n_test"),
            sum(col("nt") * col("nv") + col("nt") * col("ns")
              + col("nv") * col("ns")).as("cross_split_pairs"))
      },
      Some("""WITH f AS (
             |  SELECT md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp
             |  FROM documents),
             |s AS (SELECT fp,
             |        CASE WHEN substr(md5(fp),1,2) < 'cc' THEN 'train'
             |             WHEN substr(md5(fp),1,2) < 'e6' THEN 'val'
             |             ELSE 'test' END AS split
             |      FROM f),
             |g AS (SELECT fp,
             |        sum(CASE WHEN split='train' THEN 1 ELSE 0 END) AS nt,
             |        sum(CASE WHEN split='val' THEN 1 ELSE 0 END) AS nv,
             |        sum(CASE WHEN split='test' THEN 1 ELSE 0 END) AS ns
             |      FROM s GROUP BY fp)
             |SELECT CAST(sum(nt) AS BIGINT) AS n_train,
             |  CAST(sum(nv) AS BIGINT) AS n_val,
             |  CAST(sum(ns) AS BIGINT) AS n_test,
             |  CAST(sum(nt*nv + nt*ns + nv*ns) AS BIGINT) AS cross_split_pairs
             |FROM g""".stripMargin)),

    // Target-mix rebalance: en halved, de quartered, zh kept whole, es/fr
    // dropped — thresholds replayed verbatim by the oracle ('g' is the
    // keep-everything sentinel, strictly above every hex digit).
    ("q_rebalance_mix",
      (s: SparkSession, d: String) =>
        Curation.rebalanceMix(t(s, d, "documents"), "lang", "doc_id",
          Map("en" -> 0.5, "de" -> 0.25, "zh" -> 1.0))
          .groupBy("lang")
          .agg(count(lit(1)).as("n_docs"))
          .orderBy("lang"),
      Some("""SELECT lang, count(*) AS n_docs FROM documents
             |WHERE substr(md5(CAST(doc_id AS VARCHAR)),1,4) <
             |  CASE lang WHEN 'de' THEN '4000' WHEN 'en' THEN '8000'
             |       WHEN 'zh' THEN 'g' END
             |GROUP BY lang ORDER BY lang""".stripMargin)),

    // Epoch weighting: en ×2.5 (two full copies + a stable half), de ×1,
    // zh ×0.25, es/fr dropped — the oracle replays copies and thresholds.
    ("q_epochs_mix",
      (s: SparkSession, d: String) =>
        Curation.epochsMix(t(s, d, "documents"), "lang", "doc_id",
          Map("en" -> 2.5, "de" -> 1.0, "zh" -> 0.25))
          .groupBy("lang", "copy")
          .agg(count(lit(1)).as("n_docs"))
          .orderBy("lang", "copy"),
      Some("""SELECT lang, copy, count(*) AS n_docs
             |FROM documents CROSS JOIN unnest(range(0, 3)) AS t(copy)
             |WHERE (lang = 'en' AND (copy < 2 OR (copy = 2
             |         AND substr(md5(CAST(doc_id AS VARCHAR)),1,4) < '8000')))
             |   OR (lang = 'de' AND copy < 1)
             |   OR (lang = 'zh' AND copy = 0
             |         AND substr(md5(CAST(doc_id AS VARCHAR)),1,4) < '4000')
             |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    ("q_mix_report",
      (s: SparkSession, d: String) =>
        Curation.mixReport(t(s, d, "documents"), Seq("source", "lang"), "text")
          .orderBy("source", "lang"),
      Some("""WITH b AS (
             |  SELECT source, lang,
             |    CASE WHEN trim(text) = '' THEN 0
             |         ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS nt
             |  FROM documents),
             |c AS (SELECT source, lang, count(*) AS n_docs,
             |        CAST(sum(nt) AS BIGINT) AS n_tokens
             |      FROM b GROUP BY 1, 2)
             |SELECT source, lang, n_docs, n_tokens,
             |  round(CAST(n_tokens AS DOUBLE) / sum(n_tokens) OVER (), 6) AS token_share
             |FROM c ORDER BY source, lang""".stripMargin)),

    ("q_tfidf_top_terms",
      (s: SparkSession, d: String) =>
        Curation.tfidfTopTerms(t(s, d, "documents"), "doc_id", "text", k = 3)
          .orderBy("doc_id", "rank"),
      Some("""WITH toks AS (
             |  SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS term
             |  FROM documents WHERE trim(text) <> ''),
             |tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2),
             |dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
             |n AS (SELECT count(*) AS n_corpus FROM documents WHERE trim(text) <> ''),
             |scored AS (
             |  SELECT doc_id, term, tf, df,
             |    round(tf * ln(CAST(n_corpus AS DOUBLE) / df), 6) AS tfidf
             |  FROM tf JOIN dfreq USING (term) CROSS JOIN n),
             |r AS (SELECT doc_id, term, tf, df, tfidf,
             |        row_number() OVER (PARTITION BY doc_id
             |          ORDER BY tfidf DESC, term) AS rank
             |      FROM scored)
             |SELECT doc_id, rank, term, tf, df, tfidf FROM r
             |WHERE rank <= 3 ORDER BY doc_id, rank""".stripMargin)),

    // BM25 top-k retrieval over the persisted inverted index, full
    // lifecycle graded: build on 4/5 of the corpus, append the last fifth
    // (append correctness is load-bearing — the oracle scores the FULL
    // corpus, so a lost or double-counted generation shifts df/avgdl and
    // misses appended docs), then search with queries derived from the
    // docs themselves (first 3 tokens of every 37th doc). Scores ranked on
    // round(·,6) with doc_id tiebreak — the tfidf determinism discipline;
    // the index side of the probe join is exchange-free, plan-asserted in
    // PlanQualitySpec.
    ("q_bm25_search",
      (s: SparkSession, d: String) => {
        val docs = t(s, d, "documents").select("doc_id", "text")
        // 8 buckets: layout sized to the graded corpus (see
        // q_incremental_neardup's note)
        Retrieval.writePostingsIndex(docs.filter(col("doc_id") % 5 =!= 4),
          "doc_id", "text", "graft_bm25_index", buckets = 8)
        Retrieval.appendPostingsIndex(docs.filter(col("doc_id") % 5 === 4),
          "doc_id", "text", "graft_bm25_index")
        val queries = docs.filter(col("doc_id") % 37 === 0)
          .select(col("doc_id").as("query_id"),
            array_join(slice(TextAnalysis.tokens(col("text")), 1, 3), " ").as("qtext"))
        Retrieval.bm25Search(s, "graft_bm25_index", queries,
            "query_id", "qtext", k = 5)
          .orderBy("query_id", "rank")
      },
      Some("""WITH docs AS (SELECT doc_id, text FROM documents WHERE trim(text) <> ''),
             |toks AS (SELECT doc_id,
             |           unnest(regexp_split_to_array(trim(text), '\s+')) AS term
             |         FROM docs),
             |tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2),
             |len AS (SELECT doc_id, sum(tf) AS len FROM tf GROUP BY 1),
             |stats AS (SELECT count(*) AS n, sum(len) AS total_len FROM len),
             |dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
             |q AS (SELECT doc_id AS query_id,
             |        list_slice(regexp_split_to_array(trim(text), '\s+'), 1, 3) AS qterms
             |      FROM documents WHERE doc_id % 37 = 0 AND trim(text) <> ''),
             |qt AS (SELECT DISTINCT query_id, unnest(qterms) AS term FROM q),
             |contrib AS (
             |  SELECT qt.query_id, tf.doc_id,
             |    ln((stats.n - dfreq.df + 0.5) / (dfreq.df + 0.5) + 1.0) *
             |      (tf.tf * (1.2 + 1.0)) /
             |      (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * len.len /
             |        (CAST(stats.total_len AS DOUBLE) / stats.n))) AS c
             |  FROM qt
             |  JOIN tf USING (term)
             |  JOIN len ON tf.doc_id = len.doc_id
             |  JOIN dfreq ON qt.term = dfreq.term
             |  CROSS JOIN stats),
             |scored AS (SELECT query_id, doc_id, count(*) AS n_terms,
             |             round(sum(c), 6) AS score
             |           FROM contrib GROUP BY 1, 2),
             |r AS (SELECT query_id, doc_id, n_terms, score,
             |        row_number() OVER (PARTITION BY query_id
             |          ORDER BY score DESC, doc_id) AS rank
             |      FROM scored)
             |SELECT query_id, CAST(rank AS BIGINT) AS rank, doc_id, n_terms, score
             |FROM r WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin)),

    // Exact phrase search over the POSITIONAL inverted index (Lucene-style
    // term/doc/pos rows), with a genuinely independent oracle: the engine
    // matches relationally — every query offset votes for a base position,
    // a base holding all k distinct offsets is a phrase hit — while DuckDB
    // decides by substring containment on the whitespace-normalized text.
    // Two unrelated algorithms must produce the identical pair set.
    // Lifecycle graded like q_bm25_search: index built on 4/5, last fifth
    // appended; phrases are tokens 2-4 of every 53rd doc.
    ("q_phrase_search",
      (s: SparkSession, d: String) => {
        val docs = t(s, d, "documents").select("doc_id", "text")
        Retrieval.writePositionalIndex(docs.filter(col("doc_id") % 5 =!= 4),
          "doc_id", "text", "graft_pos_index", buckets = 8)
        Retrieval.appendPositionalIndex(docs.filter(col("doc_id") % 5 === 4),
          "doc_id", "text", "graft_pos_index")
        val queries = docs.filter(col("doc_id") % 53 === 0)
          .select(col("doc_id").as("query_id"),
            array_join(slice(TextAnalysis.tokens(col("text")), 2, 3), " ").as("qtext"))
        Retrieval.phraseSearch(s, "graft_pos_index", queries,
          "query_id", "qtext")
      },
      Some("""WITH norm AS (
             |  SELECT doc_id,
             |    ' ' || regexp_replace(trim(text), '\s+', ' ', 'g') || ' ' AS s
             |  FROM documents WHERE trim(text) <> ''),
             |q AS (SELECT doc_id AS query_id,
             |        array_to_string(
             |          list_slice(regexp_split_to_array(trim(text), '\s+'), 2, 4),
             |          ' ') AS phrase
             |      FROM documents WHERE doc_id % 53 = 0 AND trim(text) <> '')
             |SELECT q.query_id, n.doc_id
             |FROM q JOIN norm n ON q.phrase <> ''
             |  AND contains(n.s, ' ' || q.phrase || ' ')
             |ORDER BY query_id, doc_id""".stripMargin)),

    // CUBE companion to the A7 rollup: all 2^k grouping combinations in one
    // pass (GROUP BY CUBE), null-first ordering pinned on both engines
    ("q_a8_cube",
      (s: SparkSession, d: String) =>
        t(s, d, "orders")
          .cube(col("o_orderstatus"), col("o_orderpriority"))
          .agg(count(lit(1)).as("n"),
            Relational.stableAvg(col("o_totalprice"), scale = 2).as("avg_price"))
          .orderBy(col("o_orderstatus").asc_nulls_first,
            col("o_orderpriority").asc_nulls_first),
      Some("""SELECT o_orderstatus, o_orderpriority, count(*) AS n,
             |  ((2*CAST(round(sum(o_totalprice)*100) AS BIGINT)*10000 + count(o_totalprice)*100)
             |   // (2*count(o_totalprice)*100)) / 10000.0 AS avg_price
             |FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
             |ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST""".stripMargin)),

    // typo-grade fuzzy dedup: planted clones substitute the first character
    // ('Q' never occurs in the lowercase corpus → distance exactly 1); with
    // 2-shingles a 1-char edit keeps shingle jaccard ≈ (n-2)/n, so every
    // planted pair shares a band with probability ~1-1e-10. The only other
    // in-range pairs are the corpus's natural EXACT-text duplicates (the
    // nearest non-identical natural pairs are word permutations, hundreds
    // of edits apart) — each identical pair {x,y} contributes 4 predicted
    // rows (itself, both cross-clone pairs, the clone-clone pair), which
    // the oracle derives from the table; verified exhaustively at sf0.1
    // where 8 natural exact-dup pairs exist
    ("q_fuzzy_dup",
      (s: SparkSession, d: String) => {
        val docs = t(s, d, "documents").select("doc_id", "text")
        val withClones = docs.unionAll(
          docs.select((col("doc_id") + 10000L).as("doc_id"),
            concat(lit("Q"), expr("substring(text, 2)")).as("text")))
        Dedup.fuzzyDupPairs(withClones, "doc_id", "text", maxDist = 3)
          .orderBy("a_id", "b_id")
      },
      Some("""WITH e AS (
             |  SELECT a.doc_id AS x, b.doc_id AS y
             |  FROM documents a JOIN documents b
             |    ON a.text = b.text AND a.doc_id < b.doc_id
             |  WHERE trim(a.text) <> ''),
             |ap AS (
             |  SELECT doc_id AS a_id, doc_id + 10000 AS b_id, 1 AS distance
             |  FROM documents WHERE trim(text) <> ''
             |  UNION ALL SELECT x, y, 0 FROM e
             |  UNION ALL SELECT x, y + 10000, 1 FROM e
             |  UNION ALL SELECT y, x + 10000, 1 FROM e
             |  UNION ALL SELECT x + 10000, y + 10000, 0 FROM e)
             |SELECT a_id, b_id, CAST(distance AS BIGINT) AS distance
             |FROM ap ORDER BY a_id, b_id""".stripMargin)),

    // source-priority exact dedup: clones re-ingested at a better priority
    // must win every duplicate group; the argmin is a combinable
    // min(struct) — the oracle replays it as a window rank
    ("q_dedup_priority",
      (s: SparkSession, d: String) => {
        val docs = t(s, d, "documents").select("doc_id", "text")
        val tagged = docs.withColumn("prio", lit(1L))
          .unionAll(docs
            .select((col("doc_id") + 10000L).as("doc_id"), col("text"))
            .withColumn("prio", lit(0L)))
        Dedup.exactByPriority(tagged, "doc_id", "text", col("prio"))
          .orderBy("fingerprint")
      },
      Some("""WITH u AS (
             |  SELECT doc_id, text, 1 AS prio FROM documents
             |  UNION ALL SELECT doc_id + 10000, text, 0 FROM documents),
             |f AS (SELECT doc_id, prio,
             |        md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fingerprint
             |      FROM u),
             |r AS (SELECT fingerprint, doc_id, prio,
             |        row_number() OVER (PARTITION BY fingerprint
             |          ORDER BY prio, doc_id) AS rn,
             |        count(*) OVER (PARTITION BY fingerprint) AS dup_count
             |      FROM f)
             |SELECT fingerprint, doc_id AS keep_id,
             |  CAST(prio AS BIGINT) AS keep_priority,
             |  CAST(dup_count AS BIGINT) AS dup_count
             |FROM r WHERE rn = 1 ORDER BY fingerprint""".stripMargin)),

    // single-scan data profiling over mixed bigint/string columns (min/max
    // travel as strings so one schema fits every column type)
    ("q_profile",
      (s: SparkSession, d: String) =>
        // the exact multi-column count_distinct expands every row x5; that
        // partial agg is the compute (measured 1.8 s as ONE task off the
        // one-split scan) — spread the 4 profiled columns first
        Relational.profile(
          Par.spread(t(s, d, "orders")
            .select("o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority")),
          Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority"))
          .orderBy("column"),
      Some(Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority")
        .map(c =>
          s"""SELECT '$c' AS "column", CAST(count(*) AS BIGINT) AS n_rows,
             |  CAST(count(*) - count($c) AS BIGINT) AS n_nulls,
             |  CAST(count(DISTINCT $c) AS BIGINT) AS n_distinct,
             |  CAST(min($c) AS VARCHAR) AS min_value,
             |  CAST(max($c) AS VARCHAR) AS max_value FROM orders""".stripMargin)
        .mkString("", "\nUNION ALL\n", "\nORDER BY \"column\""))),

    // vocabulary build + token-id encoding: the text → ids transform, with
    // a deliberately-small vocab (24 of the 31 corpus tokens) so the OOV
    // path is exercised; the oracle rebuilds the same rank-id'd vocab and
    // replays the position-ordered encoding
    ("q_vocab_encode",
      (s: SparkSession, d: String) => {
        val docs = t(s, d, "documents")
        val vocab = TextAnalysis.buildVocab(docs, "text", maxVocab = 24)
        TextAnalysis.encode(docs, "doc_id", "text", vocab)
          .orderBy("doc_id")
      },
      Some("""WITH t AS (
             |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS a
             |  FROM documents WHERE trim(text) <> ''),
             |tok AS (
             |  SELECT doc_id, a[i] AS w, i
             |  FROM t, unnest(range(1, len(a)+1)) AS u(i)),
             |cnt AS (SELECT w, count(*) AS n FROM tok GROUP BY 1),
             |voc AS (SELECT w, row_number() OVER (ORDER BY n DESC, w) - 1 AS tid
             |        FROM cnt ORDER BY n DESC, w LIMIT 24),
             |enc AS (
             |  SELECT doc_id,
             |    array_to_string(list(CAST(coalesce(v.tid, -1) AS VARCHAR) ORDER BY i), ' ')
             |      AS token_ids,
             |    CAST(count(*) AS BIGINT) AS n_tokens
             |  FROM tok LEFT JOIN voc v ON tok.w = v.w GROUP BY doc_id)
             |SELECT doc_id, token_ids, n_tokens FROM enc
             |ORDER BY doc_id""".stripMargin)),

    // explainable Gopher-style gate: signals + failed-rule names + verdict,
    // all exact arithmetic over the one-pass quality kernel — the oracle
    // replays the same rules over the same signal formulas
    ("q_quality_gate",
      (s: SparkSession, d: String) =>
        TextAnalysis.qualityGate(t(s, d, "documents"), "doc_id", "text")
          .select("doc_id", "keep", "failed_rules")
          .orderBy("doc_id"),
      Some("""WITH t AS (
             |  SELECT doc_id, text,
             |    CASE WHEN trim(text) = '' THEN []::VARCHAR[]
             |         ELSE regexp_split_to_array(trim(text), '\s+') END AS toks
             |  FROM documents),
             |s AS (SELECT doc_id,
             |  CAST(len(toks) AS BIGINT) AS n_tokens,
             |  round(length(regexp_replace(text, '\s+', '', 'g')) / NULLIF(len(toks), 0), 4) AS avg_token_len,
             |  round(len(list_filter(toks, x -> lower(x) IN
             |    ('the','a','an','of','and','to','in','is','it','that'))) / NULLIF(len(toks), 0), 4) AS stopword_ratio,
             |  round((length(text) - length(regexp_replace(text, '[[:punct:]]', '', 'g')))
             |        / greatest(length(text), 1), 4) AS punct_ratio
             |  FROM t),
             |g AS (SELECT doc_id, concat_ws(',',
             |  CASE WHEN NOT coalesce(n_tokens BETWEEN 50 AND 100000, false)
             |       THEN 'n_tokens_in_range' END,
             |  CASE WHEN NOT coalesce(avg_token_len BETWEEN 2.0 AND 12.0, false)
             |       THEN 'avg_token_len_in_range' END,
             |  CASE WHEN NOT coalesce(stopword_ratio >= 0.01, false)
             |       THEN 'stopword_ratio_min' END,
             |  CASE WHEN NOT coalesce(punct_ratio <= 0.2, false)
             |       THEN 'punct_ratio_max' END) AS failed_rules
             |  FROM s)
             |SELECT doc_id, failed_rules = '' AS keep, failed_rules
             |FROM g ORDER BY doc_id""".stripMargin)),

    // linear quality classifier (fastText-style gate stub with injected
    // weights): sigmoid of a fixed-order weighted sum of rounded signals —
    // identical float evaluation order on both engines, 4dp absorbs exp ulps
    ("q_quality_classifier",
      (s: SparkSession, d: String) =>
        TextAnalysis.qualityClassifier(t(s, d, "documents"), "doc_id", "text")
          .orderBy("doc_id"),
      Some("""WITH t AS (
             |  SELECT doc_id, text,
             |    CASE WHEN trim(text) = '' THEN []::VARCHAR[]
             |         ELSE regexp_split_to_array(trim(text), '\s+') END AS toks
             |  FROM documents),
             |s AS (SELECT doc_id,
             |  CAST(len(toks) AS BIGINT) AS n_tokens,
             |  round(length(regexp_replace(text, '\s+', '', 'g')) / NULLIF(len(toks), 0), 4) AS avg_token_len,
             |  round(len(list_filter(toks, x -> lower(x) IN
             |    ('the','a','an','of','and','to','in','is','it','that'))) / NULLIF(len(toks), 0), 4) AS stopword_ratio,
             |  round((length(text) - length(regexp_replace(text, '[[:punct:]]', '', 'g')))
             |        / greatest(length(text), 1), 4) AS punct_ratio
             |  FROM t)
             |SELECT doc_id,
             |  round(1.0 / (1.0 + exp(-(-2.0
             |    + coalesce(avg_token_len, 0) * 0.5
             |    + coalesce(n_tokens, 0) * 0.01
             |    + coalesce(punct_ratio, 0) * -3.0
             |    + coalesce(stopword_ratio, 0) * 2.0))), 4) AS clf_score
             |FROM s ORDER BY doc_id""".stripMargin)),

    // incremental ingest dedup: the corpus fingerprint index is built once
    // (bucketed on fingerprint), the batch — new docs plus re-ingested
    // clones of corpus docs — anti-joins against it; the oracle replays
    // batch-unique-min-id minus corpus fingerprints. The index table lives
    // for the session (the lazy result plan reads it), mode=overwrite makes
    // re-runs idempotent.
    ("q_incremental_dedup",
      (s: SparkSession, d: String) => {
        val docs = t(s, d, "documents").select("doc_id", "text")
        val corpus = docs.filter(col("doc_id") < 400)
        val batch = docs.filter(col("doc_id") >= 400)
          .unionAll(docs.filter(col("doc_id") < 50)
            .select((col("doc_id") + 20000L).as("doc_id"), col("text")))
        // 8 buckets (not the 64 default): layout sized to the graded
        // corpus — see q_incremental_neardup's note
        Dedup.writeFingerprintIndex(corpus, "doc_id", "text", "graft_fp_index",
          buckets = 8)
        Dedup.dedupAgainstIndex(batch, "doc_id", "text", "graft_fp_index")
          .select("doc_id").orderBy("doc_id")
      },
      Some("""WITH corpus AS (SELECT text FROM documents WHERE doc_id < 400),
             |batch AS (
             |  SELECT doc_id, text FROM documents WHERE doc_id >= 400
             |  UNION ALL SELECT doc_id + 20000, text FROM documents WHERE doc_id < 50),
             |bf AS (SELECT doc_id,
             |         md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS f
             |       FROM batch),
             |keep AS (SELECT f, min(doc_id) AS doc_id FROM bf GROUP BY f),
             |cf AS (SELECT DISTINCT
             |         md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS f
             |       FROM corpus)
             |SELECT k.doc_id FROM keep k LEFT JOIN cf ON k.f = cf.f
             |WHERE cf.f IS NULL ORDER BY doc_id""".stripMargin)),

    // incremental FUZZY dedup vs the persisted LSH band index: the corpus
    // is banded once, batch 1 is ingested and appended, and batch 2's
    // planted near-clones (text + own first token: token set unchanged →
    // verification jaccard exactly 1.0; shingle jaccard ≈ 0.99 on ≥8-token
    // docs → a band match is LSH-certain) must be caught against BOTH
    // generations — the batch-1 clones are only catchable if the append
    // made batch 1 indexed. Summary-row oracle (planted-invariant counts);
    // the index side of the candidate join is exchange-free, plan-asserted
    // in DedupSpec.
    ("q_incremental_neardup",
      (s: SparkSession, d: String) => {
        val docs = t(s, d, "documents").select("doc_id", "text")
        val corpus = docs.filter(col("doc_id") < 300)
        val batch1 = docs.filter(col("doc_id") >= 300 && col("doc_id") < 400)
        // 8 buckets, not the 64-bucket default: bucket count is a layout
        // knob sized to data volume, and a 300-doc graded corpus at 64
        // buckets pays 64 files per commit × 3 commits of pure
        // filesystem/committer overhead for empty parallelism
        Dedup.writeLshBandIndex(corpus, "doc_id", "text", "graft_lsh_index",
          buckets = 8)
        Dedup.appendLshBandIndex(batch1, "doc_id", "text", "graft_lsh_index",
          buckets = 8)
        // rewrite the two append generations to one file per bucket — the
        // graded result must survive compaction byte-for-byte
        Dedup.compactLshBandIndex(s, "graft_lsh_index")
        def clones(src: DataFrame, offset: Long): DataFrame =
          src.filter(TextAnalysis.tokenCount(col("text")) >= 8)
            .select((col("doc_id") + offset).as("doc_id"),
              concat(col("text"), lit(" "),
                element_at(split(trim(col("text")), "\\s+"), 1)).as("text"))
        val batch2 = clones(docs.filter(col("doc_id") < 50), 20000L)
          .unionAll(clones(docs.filter(col("doc_id") >= 300 && col("doc_id") < 350), 30000L))
        val caught = Dedup.nearDupAgainstIndex(batch2, "doc_id", "text",
            "graft_lsh_index", docs.filter(col("doc_id") < 400), threshold = 1.0)
          .select("batch_id").distinct().localCheckpoint(eager = true)
        val nCorpusClones = caught
          .filter(col("batch_id") >= 20000L && col("batch_id") < 30000L).count()
        val nBatch1Clones = caught.filter(col("batch_id") >= 30000L).count()
        import s.implicits._
        Seq((nCorpusClones, nBatch1Clones))
          .toDF("corpus_clones_caught", "batch1_clones_caught")
      },
      Some("""SELECT
             |  CAST((SELECT count(*) FROM documents WHERE doc_id < 50
             |        AND len(regexp_split_to_array(trim(text), '\s+')) >= 8
             |        AND trim(text) <> '') AS BIGINT) AS corpus_clones_caught,
             |  CAST((SELECT count(*) FROM documents
             |        WHERE doc_id >= 300 AND doc_id < 350
             |        AND len(regexp_split_to_array(trim(text), '\s+')) >= 8
             |        AND trim(text) <> '') AS BIGINT) AS batch1_clones_caught""".stripMargin)),

    // the end-to-end curation pipeline graded as one summary row. Planted
    // near-clones append the doc's own first token: the token SET is
    // unchanged (verification jaccard exactly 1.0 at threshold 1.0), the
    // fingerprint differs (survives exact dedup), and the shingle jaccard
    // is ≈ (n-7)/(n-6) ≈ 0.99 (every band-hash shares it with probability
    // ~1-3e-22 — LSH-certain), so stage 3 must drop every planted clone.
    // Stages 1-2 are replayed exactly in SQL; natural tokj-1.0 pairs the
    // LSH also removes don't touch any emitted number.
    ("q_curate_report",
      (s: SparkSession, d: String) => {
        val docs = t(s, d, "documents").select("doc_id", "text")
        val planted = docs.select((col("doc_id") + 10000L).as("doc_id"),
          concat(col("text"), lit(" "),
            element_at(split(trim(col("text")), "\\s+"), 1)).as("text"))
        val (curated, rep) = Curation.curate(docs.unionAll(planted), "doc_id", "text",
          minTokens = 1, maxTokens = 1000000L, nearDupThreshold = 1.0)
        val plantedSurvivors = curated.filter(col("doc_id") >= 10000L).count()
        import s.implicits._
        Seq((rep.nInput, rep.nAfterQuality, rep.nAfterExactDedup, plantedSurvivors))
          .toDF("n_input", "n_after_quality", "n_after_exact", "planted_survivors")
      },
      Some("""WITH u AS (
             |  SELECT doc_id, text FROM documents
             |  UNION ALL SELECT doc_id + 10000,
             |    text || ' ' || (regexp_split_to_array(trim(text), '\s+'))[1]
             |  FROM documents),
             |q AS (SELECT text FROM u
             |      WHERE trim(text) <> ''
             |        AND len(regexp_split_to_array(trim(text), '\s+'))
             |            BETWEEN 1 AND 1000000)
             |SELECT CAST((SELECT count(*) FROM u) AS BIGINT) AS n_input,
             |  CAST((SELECT count(*) FROM q) AS BIGINT) AS n_after_quality,
             |  CAST((SELECT count(DISTINCT md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')))
             |        FROM q) AS BIGINT) AS n_after_exact,
             |  CAST(0 AS BIGINT) AS planted_survivors""".stripMargin)),

    // deterministic training order: the two-phase distributed rank must
    // equal the naive global ORDER BY md5 row_number the oracle computes
    ("q_training_order",
      (s: SparkSession, d: String) =>
        Curation.trainingOrder(t(s, d, "documents").select("doc_id", "source"), "doc_id")
          .select(col("doc_id"), col("source"), col("position"))
          .orderBy("position"),
      Some("""SELECT doc_id, source,
             |  row_number() OVER (ORDER BY md5(CAST(doc_id AS VARCHAR))) - 1
             |    AS position
             |FROM documents ORDER BY position""".stripMargin)),

    // substring-level dedup census: every distinct 8-shingle's document
    // frequency, folded back per doc — oracle replays the shingle domain
    // (incl. the whole-text fallback for <8-token docs) in SQL
    ("q_duplicate_spans",
      (s: SparkSession, d: String) =>
        // measured NOT spread (r20): 0.78 task-s of serial compute — the
        // exchange + 32-task scheduling cost more than it parallelizes
        // (0.90 s -> 1.73 s when spread); the C3 boundary
        Dedup.duplicateSpans(t(s, d, "documents"), "doc_id", "text", k = 8)
          .orderBy("doc_id"),
      Some("""WITH d AS (
             |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS a
             |  FROM documents WHERE trim(text) <> ''),
             |sh AS (
             |  SELECT DISTINCT doc_id, array_to_string(a[i:i+7], ' ') AS s
             |  FROM d, unnest(range(1, greatest(len(a)-7,0)+1)) AS t(i)
             |  UNION
             |  SELECT doc_id, array_to_string(a, ' ') AS s FROM d WHERE len(a) < 8),
             |freq AS (SELECT s, count(*) AS nd FROM sh GROUP BY 1),
             |dup AS (SELECT doc_id, count(*) AS n_dup FROM sh JOIN freq USING (s)
             |        WHERE nd >= 2 GROUP BY 1),
             |tot AS (SELECT doc_id, count(*) AS n_spans FROM sh GROUP BY 1)
             |SELECT t.doc_id, t.n_spans,
             |  coalesce(p.n_dup, 0) AS n_dup_spans,
             |  round(CAST(coalesce(p.n_dup, 0) AS DOUBLE) / t.n_spans, 6) AS dup_frac
             |FROM tot t LEFT JOIN dup p ON t.doc_id = p.doc_id
             |ORDER BY t.doc_id""".stripMargin)),

    // exact-substring dedup with span removal: both engines re-assemble the
    // kept tokens in order, so clean_text compares bit-exact; the engine
    // joins span occurrences on xxhash64(shingle) where the oracle joins on
    // the shingle text itself — a 64-bit collision is the only divergence
    // and is absent at any graded scale
    ("q_substring_dedup",
      (s: SparkSession, d: String) =>
        // measured NOT spread (r20): wall flat within noise with ~13x the
        // CPU (per-task overhead over a ~1.4 task-s pipeline), C3 class
        Dedup.removeDuplicateSpans(t(s, d, "documents"), "doc_id", "text", k = 6)
          .orderBy("doc_id"),
      Some("""WITH toks AS (
             |  SELECT doc_id,
             |    CASE WHEN trim(text) = '' THEN [] ELSE regexp_split_to_array(trim(text), '\s+') END AS tk
             |  FROM documents),
             |sh AS (
             |  SELECT doc_id, i AS pos, array_to_string(tk[CAST(i+1 AS INT) : CAST(i+6 AS INT)], ' ') AS s
             |  FROM toks, unnest(range(0, greatest(len(tk) - 6 + 1, 0))) AS t(i)),
             |dh AS (SELECT s FROM sh GROUP BY s HAVING count(DISTINCT doc_id) >= 2),
             |cov AS (SELECT DISTINCT sh.doc_id, sh.pos + j AS i
             |        FROM sh JOIN dh USING (s), unnest(range(0, 6)) AS u(j)),
             |tok AS (SELECT doc_id, i, tk[CAST(i+1 AS INT)] AS w
             |        FROM toks, unnest(range(0, len(tk))) AS t(i)),
             |kept AS (SELECT t.doc_id, t.i, t.w
             |         FROM tok t ANTI JOIN cov c ON t.doc_id = c.doc_id AND t.i = c.i),
             |agg AS (SELECT doc_id, count(*) AS n_kept,
             |          string_agg(w, ' ' ORDER BY i) AS clean_text
             |        FROM kept GROUP BY doc_id)
             |SELECT d.doc_id, CAST(len(d.tk) AS BIGINT) AS n_tokens,
             |  CAST(len(d.tk) - coalesce(a.n_kept, 0) AS BIGINT) AS n_removed,
             |  coalesce(a.clean_text, '') AS clean_text
             |FROM toks d LEFT JOIN agg a USING (doc_id)
             |ORDER BY d.doc_id""".stripMargin)),

    // corpus-self-trained bigram LM score (the perplexity-filter signal);
    // the smoothed probabilities are exact rationals of corpus counts, so
    // both engines differ only in ln() ulps — 4dp round absorbs that
    // CCNet-style head/middle/tail quality stratification composed from
    // the graded LM scorer: per-language ntile(3) over the 4dp-rounded
    // bigram score (doc_id tiebreak keeps tertile edges engine-stable),
    // head kept whole, middle at a 50% md5 threshold ('8000'), tail at
    // 10% ('1999') — the kept set is content-stable and the whole
    // stratification replays in DuckDB: totals, kept counts, and summed
    // scores per (lang, bucket) are all exact.
    ("q_perplexity_buckets",
      (s: SparkSession, d: String) =>
        Curation.perplexityBuckets(t(s, d, "documents"), "doc_id", "text",
          "lang", midFrac = 0.5, tailFrac = 0.1),
      Some("""WITH d AS (
             |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS a
             |  FROM documents WHERE trim(text) <> ''),
             |bg AS (
             |  SELECT doc_id, array_to_string(a[i:i+1], ' ') AS bg, a[i] AS w1
             |  FROM d, unnest(range(1, greatest(len(a)-1,0)+1)) AS t(i)),
             |cbg AS (SELECT bg, count(*) AS c_bg FROM bg GROUP BY 1),
             |ctx AS (SELECT split_part(bg, ' ', 1) AS w1, sum(c_bg) AS c_ctx
             |        FROM cbg GROUP BY 1),
             |v AS (SELECT CAST(count(DISTINCT w) AS DOUBLE) AS v_size
             |      FROM (SELECT unnest(a) AS w FROM d)),
             |scored AS (
             |  SELECT doc_id,
             |    ln((c_bg + 1) / (CAST(c_ctx AS DOUBLE) + v_size)) AS lp
             |  FROM bg JOIN cbg USING (bg) JOIN ctx USING (w1) CROSS JOIN v),
             |ds AS (SELECT doc_id, round(avg(lp), 4) AS lm_score
             |       FROM scored GROUP BY doc_id),
             |wl AS (SELECT ds.doc_id, ds.lm_score, documents.lang,
             |         ntile(3) OVER (PARTITION BY documents.lang
             |           ORDER BY ds.lm_score DESC, ds.doc_id) AS bucket
             |       FROM ds JOIN documents ON documents.doc_id = ds.doc_id),
             |k AS (SELECT *,
             |        bucket = 1
             |        OR (bucket = 2 AND substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) < '8000')
             |        OR (bucket = 3 AND substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) < '1999')
             |          AS kept
             |      FROM wl)
             |SELECT lang, CAST(bucket AS BIGINT) AS bucket,
             |  count(*) AS n_docs,
             |  CAST(sum(CASE WHEN kept THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
             |  CAST(floor((2*CAST(round(sum(lm_score)*10000) AS BIGINT) + 100)
             |    / 200e0) AS BIGINT) AS sum_score_cents
             |FROM k GROUP BY 1, 2 ORDER BY lang, bucket""".stripMargin)),

    ("q_lm_score",
      (s: SparkSession, d: String) =>
        TextAnalysis.lmScore(t(s, d, "documents"), "doc_id", "text")
          .orderBy("doc_id"),
      Some("""WITH d AS (
             |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS a
             |  FROM documents WHERE trim(text) <> ''),
             |bg AS (
             |  SELECT doc_id, array_to_string(a[i:i+1], ' ') AS bg, a[i] AS w1
             |  FROM d, unnest(range(1, greatest(len(a)-1,0)+1)) AS t(i)),
             |cbg AS (SELECT bg, count(*) AS c_bg FROM bg GROUP BY 1),
             |ctx AS (SELECT split_part(bg, ' ', 1) AS w1, sum(c_bg) AS c_ctx
             |        FROM cbg GROUP BY 1),
             |v AS (SELECT CAST(count(DISTINCT w) AS DOUBLE) AS v_size
             |      FROM (SELECT unnest(a) AS w FROM d)),
             |scored AS (
             |  SELECT doc_id,
             |    ln((c_bg + 1) / (CAST(c_ctx AS DOUBLE) + v_size)) AS lp
             |  FROM bg JOIN cbg USING (bg) JOIN ctx USING (w1) CROSS JOIN v)
             |SELECT doc_id, count(*) AS n_bigrams,
             |  round(avg(lp), 4) AS lm_score
             |FROM scored GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    // SemDeDup-style cluster-then-verify: planted identical vectors always
    // share an IVF cell, and the near-orthogonal rest never reaches the
    // 0.99 cosine bar — so the exact all-pairs oracle predicts the output
    // with no knowledge of the clustering
    ("q_semantic_dedup",
      (s: SparkSession, d: String) => {
        val e = t(s, d, "embeddings").select("vec_id", "embedding")
        // measured NOT spread (r20): wall flat (1.86 s -> 1.87 s) with 3x
        // the CPU — the fixture corpus is too small for the exchange to pay
        val doubled = e.union(
          e.select((col("vec_id") + 10000L).as("vec_id"), col("embedding")))
        Dedup.semanticDedup(doubled, "vec_id", "embedding",
          cells = 16, threshold = 0.99)
          .orderBy("a_id", "b_id")
      },
      Some("""WITH u AS (
             |  SELECT vec_id, embedding FROM embeddings
             |  UNION ALL SELECT vec_id + 10000, embedding FROM embeddings),
             |e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM u)
             |SELECT * FROM (
             |  SELECT a.vec_id AS a_id, b.vec_id AS b_id,
             |    round(CASE WHEN sqrt(list_inner_product(a.v, a.v) * list_inner_product(b.v, b.v)) = 0
             |          THEN 0.0
             |          ELSE list_inner_product(a.v, b.v)
             |               / sqrt(list_inner_product(a.v, a.v) * list_inner_product(b.v, b.v)) END, 6) AS cosine
             |  FROM e a JOIN e b ON a.vec_id < b.vec_id)
             |WHERE cosine >= 0.99 ORDER BY a_id, b_id""".stripMargin)),

    // Per-domain frequency cap (RefinedWeb-style): keep the 10 longest
    // docs per source, ties to the lower id, via the bounded topk_pairs
    // aggregate (O(cap) state, map-side combined). The oracle is the
    // row_number-window formulation the engine deliberately avoids — so
    // the grade proves the skew-proof shape computes the window's answer.
    ("q_domain_cap",
      (s: SparkSession, d: String) =>
        Curation.domainCap(t(s, d, "documents"), "source", "doc_id",
            col("n_chars"), cap = 10)
          .select(col("doc_id"), col("source"), col("n_chars"))
          .orderBy("doc_id"),
      Some("""SELECT doc_id, source, n_chars FROM (
             |  SELECT doc_id, source, n_chars,
             |    row_number() OVER (PARTITION BY source
             |      ORDER BY n_chars DESC, doc_id) AS rn
             |  FROM documents) WHERE rn <= 10 ORDER BY doc_id""".stripMargin)),

    // C4-style corpus LINE dedup, keep-first semantics: multi-line docs are
    // constructed by prefixing every document with a corpus-wide header
    // line and a per-source line, so the dedup must (a) keep the header
    // exactly once globally, (b) keep each source line once in that
    // source's first doc, (c) leave the unique body lines alone. The
    // keeper is the global (doc_id, pos) argmin — a combinable
    // min-of-struct, replayed in the oracle as min(doc_id*1e6+pos).
    ("q_line_dedup",
      (s: SparkSession, d: String) => {
        val docs2 = t(s, d, "documents").select(col("doc_id"),
          concat(lit("every doc shares this header\n"),
            lit("src "), col("source"), lit("\n"), col("text")).as("text"))
        Dedup.lineDedup(docs2, "doc_id", "text", minCount = 3)
          .orderBy("doc_id")
      },
      Some("""WITH d2 AS (SELECT doc_id,
             |    'every doc shares this header' || chr(10) || 'src ' || source
             |      || chr(10) || text AS t
             |  FROM documents),
             |ln AS (SELECT doc_id, string_split(t, chr(10)) AS a FROM d2),
             |l AS (SELECT doc_id, i - 1 AS pos, a[i] AS line
             |      FROM ln, unnest(range(1, len(a)+1)) AS u(i)),
             |h AS (SELECT doc_id, pos, line, md5(trim(line)) AS k FROM l),
             |c AS (SELECT k, count(*) AS n,
             |        min(doc_id * 1000000 + pos) AS keeper FROM h GROUP BY 1),
             |kept AS (SELECT h.doc_id, h.pos, h.line FROM h JOIN c USING (k)
             |         WHERE c.n < 3 OR h.doc_id * 1000000 + h.pos = c.keeper),
             |agg AS (SELECT doc_id, string_agg(line, chr(10) ORDER BY pos) AS text,
             |               count(*) AS n_kept FROM kept GROUP BY 1),
             |tot AS (SELECT doc_id, len(string_split(t, chr(10))) AS n_lines FROM d2)
             |SELECT tot.doc_id, coalesce(agg.text, '') AS text,
             |  coalesce(agg.n_kept, 0) AS n_kept,
             |  CAST(tot.n_lines - coalesce(agg.n_kept, 0) AS BIGINT) AS n_removed
             |FROM tot LEFT JOIN agg USING (doc_id) ORDER BY tot.doc_id""".stripMargin)),

    // Multi-clause MERGE on a deterministic delta of orders: every 5th key
    // arrives as a source row (every 3rd of those a DELETE, the rest
    // UPDATE price+status), and every 11th≡3 key re-arrives shifted as an
    // INSERT with half price. Prices ride as integer cents (floor of the
    // same double in both engines) so every clause's arithmetic is
    // BIGINT-exact — the engine-stable discipline, no float rounding in
    // the grade.
    ("q_merge_multi",
      (s: SparkSession, d: String) => {
        val target = t(s, d, "orders").select(col("o_orderkey"),
          col("o_custkey"), col("o_orderstatus"),
          floor(col("o_totalprice") * 100).cast("long").as("price_cents"))
        val src = target.filter(col("o_orderkey") % 5 === 0)
          .select(col("o_orderkey"),
            when(col("o_orderkey") % 3 === 0, "D").otherwise("U").as("op"),
            expr("price_cents * 11 div 10").as("new_cents"))
          .unionByName(target.filter(col("o_orderkey") % 11 === 3)
            .select((col("o_orderkey") + 100000000L).as("o_orderkey"),
              lit("I").as("op"),
              expr("price_cents div 2").as("new_cents")))
        Relational.mergeInto(target, src, "o_orderkey",
            deleteWhen = col("s_op") === "D",
            updates = Map(
              "price_cents" -> col("s_new_cents"),
              "o_orderstatus" -> lit("M")),
            insertWhen = col("s_op") === "I")
          .orderBy("o_orderkey")
      },
      Some("""WITH tgt AS (SELECT o_orderkey, o_custkey, o_orderstatus,
             |    CAST(floor(o_totalprice * 100) AS BIGINT) AS price_cents
             |  FROM orders),
             |src AS (
             |  SELECT o_orderkey,
             |    CASE WHEN o_orderkey % 3 = 0 THEN 'D' ELSE 'U' END AS op,
             |    price_cents * 11 // 10 AS new_cents
             |  FROM tgt WHERE o_orderkey % 5 = 0
             |  UNION ALL
             |  SELECT o_orderkey + 100000000, 'I', price_cents // 2
             |  FROM tgt WHERE o_orderkey % 11 = 3),
             |m AS (
             |  SELECT t.o_orderkey AS tk, t.o_custkey, t.o_orderstatus,
             |         t.price_cents, s.o_orderkey AS sk, s.op, s.new_cents
             |  FROM tgt t FULL OUTER JOIN src s ON t.o_orderkey = s.o_orderkey)
             |SELECT coalesce(tk, sk) AS o_orderkey, o_custkey,
             |  CASE WHEN sk IS NULL THEN o_orderstatus ELSE 'M' END AS o_orderstatus,
             |  CASE WHEN sk IS NULL THEN price_cents ELSE new_cents END AS price_cents
             |FROM m
             |WHERE NOT (tk IS NOT NULL AND sk IS NOT NULL AND op = 'D')
             |  AND (tk IS NOT NULL OR op = 'I')
             |ORDER BY o_orderkey""".stripMargin)),

    // lag/lead/ntile/percent_rank in ONE window pass per user — the
    // sequence-feature surface (inter-arrival gaps, activity quartiles).
    // Gaps are µs BIGINTs (no float time math); percent_rank is the only
    // float and rounds at 6dp on an O(1) value.
    ("q_w4_seq_features",
      (s: SparkSession, d: String) =>
        Relational.sequenceFeatures(t(s, d, "events"), "user_id", "ts", "event_id")
          .select(col("user_id"), col("event_id"), col("gap_prev_us"),
            col("gap_next_us"), col("quartile").cast("long").as("quartile"),
            col("pct_rank"))
          .orderBy("event_id"),
      Some("""SELECT user_id, event_id,
             |  epoch_us(ts) - epoch_us(lag(ts) OVER w) AS gap_prev_us,
             |  epoch_us(lead(ts) OVER w) - epoch_us(ts) AS gap_next_us,
             |  ntile(4) OVER w AS quartile,
             |  round(percent_rank() OVER w, 6) AS pct_rank
             |FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
             |ORDER BY event_id""".stripMargin)),

    // Incremental view maintenance: the engine updates the custkey summary
    // ALGEBRAICALLY from a delta (upserts that move rows between groups,
    // deletes, inserts) — the oracle recomputes the summary from the
    // upserted base from scratch, so the grade proves the delta algebra,
    // including the group-move case a delta-only reaggregate gets wrong.
    ("q_ivm_summary",
      (s: SparkSession, d: String) => {
        val base = t(s, d, "orders").select(col("o_orderkey"),
          col("o_custkey"),
          floor(col("o_totalprice") * 100).cast("long").as("price_cents"))
        val delta = base.filter(col("o_orderkey") % 7 === 0)
          .select(col("o_orderkey"),
            when(col("o_orderkey") % 13 === 5, "D").otherwise("U").as("op"),
            (col("o_custkey") % 50).as("o_custkey"),
            expr("price_cents * 3 div 2").as("price_cents"))
          .unionByName(base.filter(col("o_orderkey") % 17 === 4)
            .select((col("o_orderkey") + 50000000L).as("o_orderkey"),
              lit("U").as("op"), col("o_custkey"),
              expr("price_cents div 3").as("price_cents")))
        val summary = Incremental.summarize(base, "o_custkey", "price_cents")
        Incremental.maintainSummary(summary, base, delta,
            "o_orderkey", "o_custkey", "price_cents", "op")
          .orderBy("o_custkey")
      },
      Some("""WITH base AS (SELECT o_orderkey, o_custkey,
             |    CAST(floor(o_totalprice * 100) AS BIGINT) AS price_cents
             |  FROM orders),
             |delta AS (
             |  SELECT o_orderkey,
             |    CASE WHEN o_orderkey % 13 = 5 THEN 'D' ELSE 'U' END AS op,
             |    o_custkey % 50 AS o_custkey, price_cents * 3 // 2 AS price_cents
             |  FROM base WHERE o_orderkey % 7 = 0
             |  UNION ALL
             |  SELECT o_orderkey + 50000000, 'U', o_custkey, price_cents // 3
             |  FROM base WHERE o_orderkey % 17 = 4),
             |applied AS (
             |  SELECT o_custkey, price_cents FROM base
             |  WHERE o_orderkey NOT IN (SELECT o_orderkey FROM delta)
             |  UNION ALL
             |  SELECT o_custkey, price_cents FROM delta WHERE op = 'U')
             |SELECT o_custkey, count(*) AS n_rows,
             |  CAST(sum(price_cents) AS BIGINT) AS sum_measure
             |FROM applied GROUP BY 1 ORDER BY o_custkey""".stripMargin)),

    // NDCG@10 of a deterministic ranking against sparse graded labels —
    // the eval-metric side of the retrieval family. Unlabeled results
    // score 0, label ties break to the lower doc id, and queries with no
    // positive labels grade 0, all replayed in the oracle.
    ("q_ndcg_eval",
      (s: SparkSession, d: String) => {
        import org.apache.spark.sql.expressions.Window
        val docs = t(s, d, "documents")
        val results = docs.filter(col("doc_id") % 5 === 0)
          .select(col("lang").as("query_id"), col("doc_id"),
            row_number().over(
              Window.partitionBy(col("lang")).orderBy(col("doc_id")))
              .cast("long").as("rank"))
        val labels = docs.filter(col("doc_id") % 3 === 0)
          .select(col("lang").as("query_id"), col("doc_id"),
            (col("n_chars") % 4).cast("int").as("rel"))
        Retrieval.ndcgAtK(results, labels, k = 10).orderBy("query_id")
      },
      Some("""WITH res AS (
             |  SELECT lang AS query_id, doc_id,
             |    row_number() OVER (PARTITION BY lang ORDER BY doc_id) AS rnk
             |  FROM documents WHERE doc_id % 5 = 0),
             |lab AS (
             |  SELECT lang AS query_id, doc_id, n_chars % 4 AS rel
             |  FROM documents WHERE doc_id % 3 = 0),
             |d AS (
             |  SELECT r.query_id,
             |    sum((pow(2, coalesce(l.rel, 0)) - 1) / log2(r.rnk + 1)) AS dcg
             |  FROM res r LEFT JOIN lab l
             |    ON l.query_id = r.query_id AND l.doc_id = r.doc_id
             |  WHERE r.rnk <= 10 GROUP BY 1),
             |i AS (
             |  SELECT query_id, sum((pow(2, rel) - 1) / log2(irank + 1)) AS idcg
             |  FROM (SELECT query_id, rel,
             |          row_number() OVER (PARTITION BY query_id
             |            ORDER BY rel DESC, doc_id) AS irank
             |        FROM lab WHERE rel > 0)
             |  WHERE irank <= 10 GROUP BY 1)
             |SELECT query_id, round(coalesce(d.dcg, 0), 6) AS dcg,
             |  round(coalesce(d.dcg / i.idcg, 0), 6) AS ndcg
             |FROM d FULL OUTER JOIN i USING (query_id)
             |ORDER BY query_id""".stripMargin)),

    // HTML main-content extraction graded CLOSED-FORM: the engine strips a
    // deterministically-built page (head/script/style/comment blocks, tags,
    // the five common entities) and must land byte-exactly on the expected
    // string the oracle assembles directly — the oracle never runs the
    // extraction, so a regex that eats content or double-decodes fails.
    ("q_html_extract",
      (s: SparkSession, d: String) => {
        val docs = t(s, d, "documents")
        val html = concat(
          lit("<html><head><title>skip title</title></head><body><h1>Doc "),
          col("doc_id"),
          lit("</h1><script type=\"text/javascript\">var x = \"<p>code</p>\";</script>"),
          lit("<style type=\"text/css\">p { color: red; }</style><!-- hidden --><p>"),
          col("text"),
          lit("</p><div>tail &amp; entities &lt;ok&gt; &quot;q&#39;</div></body></html>"))
        docs.select(col("doc_id"),
            TextAnalysis.htmlExtract(html).as("content"))
          .orderBy("doc_id")
      },
      Some("""SELECT doc_id,
             |  trim(regexp_replace(
             |    'Doc ' || doc_id || ' ' || text || ' tail & entities <ok> "q''',
             |    '\s+', ' ', 'g')) AS content
             |FROM documents ORDER BY doc_id""".stripMargin)),

    // REAL stream-static enrichment run: events arrive as three
    // time-tercile files (one per micro-batch under AvailableNow) and
    // left-join the static customer dimension per batch — no watermark, no
    // streaming state, the broadcast-dim join family. A quarter of the
    // customers are withheld from the dim so the null (unmatched) path is
    // graded too; emitted rows must equal DuckDB's batch left join.
    ("q_stream_static_join",
      (s: SparkSession, d: String) => {
        val ev = t(s, d, "events").select(col("event_id"), col("user_id"),
          col("ts"), col("event_type"))
        val dim = t(s, d, "customer").filter(col("c_custkey") % 4 =!= 1)
          .select(col("c_custkey").as("user_id"),
            col("c_mktsegment").as("segment"),
            floor(col("c_acctbal") * 100).cast("long").as("acctbal_cents"))
        val Array(minMs, maxMs) = ev
          .agg(min(unix_millis(col("ts"))), max(unix_millis(col("ts"))))
          .collect().head.toSeq.map(_.asInstanceOf[Long]).toArray
        val cut1 = minMs + (maxMs - minMs) / 3
        val cut2 = minMs + 2 * (maxMs - minMs) / 3
        val batches = Seq(
          ev.filter(unix_millis(col("ts")) < cut1),
          ev.filter(unix_millis(col("ts")) >= cut1 && unix_millis(col("ts")) < cut2),
          ev.filter(unix_millis(col("ts")) >= cut2))
        val inDir = scratchDir("ss_in")
        batches.zipWithIndex.foreach { case (b, i) =>
          stageArrivalFile(b, inDir, s"batch$i.parquet",
            1700000000000L + i * 60000L)
        }
        val outDir = scratchDir("ss_out")
        val stream = s.readStream.schema(ev.schema)
          .option("maxFilesPerTrigger", 1).parquet(inDir)
        withShufflePartitions(s, 8) {
          val q = graft.streaming.Streams.staticEnrich(stream, dim, "user_id")
            .select("event_id", "user_id", "event_type", "segment", "acctbal_cents")
            .writeStream.format("parquet")
            .option("path", outDir)
            .option("checkpointLocation", scratchDir("ss_ckpt"))
            .outputMode("append")
            .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
            .start()
          q.awaitTermination()
        }
        Tables.parquet(s, outDir).orderBy("event_id")
      },
      Some("""SELECT e.event_id, e.user_id, e.event_type,
             |  c.c_mktsegment AS segment,
             |  CAST(floor(c.c_acctbal * 100) AS BIGINT) AS acctbal_cents
             |FROM events e LEFT JOIN customer c
             |  ON e.user_id = c.c_custkey AND c.c_custkey % 4 <> 1
             |ORDER BY e.event_id""".stripMargin)),

    // Link extraction graded closed-form: every doc carries three known
    // anchors (one with nested markup, one relative, one mailto, one with
    // collapsible whitespace) — the oracle assembles the expected relation
    // directly, so a regex that misaligns href/anchor pairs or eats
    // nested tags fails the hash.
    ("q_html_links",
      (s: SparkSession, d: String) => {
        val docs = t(s, d, "documents")
        val html = concat(
          lit("<p>intro</p><a href=\"https://"), col("source"),
          lit(".example.com/page/"), col("doc_id"),
          lit("\">First <b>Link</b></a> mid <a class=\"x\" href=\"/rel/"),
          col("doc_id"),
          lit("\" rel=\"nofollow\">second</a>" +
            "<a href=\"mailto:contact@example.com\">mail  me</a>"))
        TextAnalysis.htmlLinks(
            docs.select(col("doc_id"), html.as("h")), "doc_id", "h")
          .orderBy("doc_id", "pos")
      },
      Some("""SELECT doc_id, pos,
             |  CASE pos
             |    WHEN 0 THEN 'https://' || source || '.example.com/page/' || doc_id
             |    WHEN 1 THEN '/rel/' || doc_id
             |    ELSE 'mailto:contact@example.com' END AS href,
             |  CASE pos WHEN 0 THEN 'First Link' WHEN 1 THEN 'second'
             |    ELSE 'mail me' END AS anchor
             |FROM documents, unnest(range(0, 3)) AS t(pos)
             |ORDER BY doc_id, pos""".stripMargin)),

    // URL canonicalization graded closed-form over six rotating spelling
    // variants (case, default ports, www, fragments, utm params in three
    // positions, empty path, trailing slashes) — the oracle assembles the
    // expected canonical string per variant, never running the rules.
    ("q_url_canon",
      (s: SparkSession, d: String) => {
        val docs = t(s, d, "documents")
        val m = col("doc_id") % 6
        val url = when(m === 0, concat(lit("HTTP://WWW."), upper(col("source")),
            lit(".Example.COM:80/Path/")))
          .when(m === 1, concat(lit("https://"), col("source"),
            lit(".example.com:443/a/b?x=1&utm_source=feed&y=2#frag")))
          .when(m === 2, concat(lit("https://"), col("source"), lit(".example.com")))
          .when(m === 3, concat(lit("http://"), col("source"),
            lit(".example.com/?utm_campaign=c")))
          .when(m === 4, concat(lit("https://"), col("source"),
            lit(".example.com:8443/keep:port?utm_a=1&utm_b=2")))
          .otherwise(concat(lit("http://"), col("source"), lit(".example.com/a//b/")))
        docs.select(col("doc_id"), url.as("url"),
            Curation.canonicalizeUrl(url).as("canon"))
          .orderBy("doc_id")
      },
      Some("""SELECT doc_id,
             |  CASE doc_id % 6
             |    WHEN 0 THEN 'HTTP://WWW.' || upper(source) || '.Example.COM:80/Path/'
             |    WHEN 1 THEN 'https://' || source || '.example.com:443/a/b?x=1&utm_source=feed&y=2#frag'
             |    WHEN 2 THEN 'https://' || source || '.example.com'
             |    WHEN 3 THEN 'http://' || source || '.example.com/?utm_campaign=c'
             |    WHEN 4 THEN 'https://' || source || '.example.com:8443/keep:port?utm_a=1&utm_b=2'
             |    ELSE 'http://' || source || '.example.com/a//b/' END AS url,
             |  CASE doc_id % 6
             |    WHEN 0 THEN 'http://' || source || '.example.com/Path'
             |    WHEN 1 THEN 'https://' || source || '.example.com/a/b?x=1&y=2'
             |    WHEN 2 THEN 'https://' || source || '.example.com/'
             |    WHEN 3 THEN 'http://' || source || '.example.com/'
             |    WHEN 4 THEN 'https://' || source || '.example.com:8443/keep:port'
             |    ELSE 'http://' || source || '.example.com/a//b' END AS canon
             |FROM documents ORDER BY doc_id""".stripMargin)),

    // T5-style span corruption, hash-deterministic (the fimTransform
    // discipline applied to the denoising objective): the oracle rebuilds
    // inputs/targets positionally — sentinels interleaved at block starts,
    // final sentinel appended — so a mis-numbered sentinel, an off-by-one
    // block cut, or a dropped final marker all fail the hash.
    ("q_span_corrupt",
      (s: SparkSession, d: String) =>
        Curation.spanCorrupt(t(s, d, "documents"), "doc_id", "text",
            spanTokens = 3, ratePct = 15)
          .orderBy("doc_id"),
      Some("""WITH tk AS (SELECT doc_id,
             |    CASE WHEN trim(text) = '' THEN []::VARCHAR[]
             |         ELSE regexp_split_to_array(trim(text), '\s+') END AS a
             |  FROM documents),
             |pos AS (SELECT doc_id, i - 1 AS p, a[i] AS tok, (i - 1) // 3 AS b
             |        FROM tk, unnest(range(1, len(a) + 1)) u(i)),
             |sel AS (SELECT DISTINCT doc_id, b,
             |          substr(md5(doc_id || ':' || b), 1, 4) < '2666' AS s
             |        FROM pos),
             |k AS (SELECT doc_id, b,
             |        row_number() OVER (PARTITION BY doc_id ORDER BY b) - 1 AS j
             |      FROM sel WHERE s),
             |ns AS (SELECT doc_id, count(*) AS n_spans FROM k GROUP BY 1),
             |in_items AS (
             |  SELECT p.doc_id, 2 * p.p AS ord, p.tok AS piece
             |  FROM pos p JOIN sel ON sel.doc_id = p.doc_id AND sel.b = p.b
             |  WHERE NOT sel.s
             |  UNION ALL
             |  SELECT doc_id, 2 * (b * 3), '<X' || j || '>' FROM k),
             |inp AS (SELECT doc_id, string_agg(piece, ' ' ORDER BY ord) AS inputs
             |        FROM in_items GROUP BY 1),
             |tg_items AS (
             |  SELECT p.doc_id, 2 * p.p AS ord, p.tok AS piece
             |  FROM pos p JOIN k ON k.doc_id = p.doc_id AND k.b = p.b
             |  UNION ALL
             |  SELECT doc_id, 2 * (b * 3) - 1, '<X' || j || '>' FROM k
             |  UNION ALL
             |  SELECT doc_id, 2000000000, '<X' || n_spans || '>' FROM ns),
             |tgt AS (SELECT doc_id, string_agg(piece, ' ' ORDER BY ord) AS targets
             |        FROM tg_items GROUP BY 1)
             |SELECT d.doc_id, coalesce(ns.n_spans, 0) AS n_spans,
             |  coalesce(inp.inputs, '') AS inputs,
             |  coalesce(tgt.targets, '') AS targets
             |FROM documents d LEFT JOIN ns USING (doc_id)
             |LEFT JOIN inp USING (doc_id) LEFT JOIN tgt USING (doc_id)
             |ORDER BY d.doc_id""".stripMargin)),

    // Exact triangle counts over the supplier co-occurrence graph (two
    // suppliers share an order → edge). The engine orients edges by
    // (degree, id) — the O(√m) out-degree bound that makes distributed
    // triangle enumeration feasible — while the oracle enumerates with
    // plain id-ordered joins: two different orientations must agree on
    // every node's count.
    ("q_triangle_counts",
      (s: SparkSession, d: String) => {
        val li = t(s, d, "lineitem")
          .select(col("l_orderkey").as("k"), col("l_suppkey").as("sp")).distinct()
        // raw co-occurrence is near-complete at bench scale (~91% of all
        // supplier pairs share SOME order) — a deterministic edge-hash
        // filter keeps the graded graph sparse so triangle volume measures
        // the operator, not a quasi-clique's cubic blowup
        val pairs = li.join(li.select(col("k"), col("sp").as("sp2")), Seq("k"))
          .filter(col("sp") < col("sp2"))
          .select(col("sp").as("src"), col("sp2").as("dst"))
          .filter((col("src") * 31 + col("dst")) % 20 === 0)
        Graph.triangleCounts(pairs, "src", "dst").orderBy("node")
      },
      Some("""WITH li AS (SELECT DISTINCT l_orderkey AS k, l_suppkey AS s
             |  FROM lineitem),
             |e0 AS (SELECT DISTINCT a.s AS x, b.s AS y
             |       FROM li a JOIN li b ON a.k = b.k AND a.s < b.s),
             |e AS (SELECT x, y FROM e0 WHERE (x * 31 + y) % 20 = 0),
             |tri AS (SELECT e1.x AS a, e1.y AS b, e2.y AS c
             |        FROM e e1 JOIN e e2 ON e2.x = e1.y
             |        JOIN e e3 ON e3.x = e1.x AND e3.y = e2.y),
             |n AS (SELECT unnest([a, b, c]) AS node FROM tri)
             |SELECT node, count(*) AS n_triangles FROM n
             |GROUP BY 1 ORDER BY node""".stripMargin)),

    // Ordered funnel: view → click → purchase with the strictly-after
    // chaining rule (a purchase BEFORE the first qualifying click must not
    // convert) — the oracle replays the chained conditional-min CTEs, so a
    // stage that forgets the ordering constraint or counts the wrong first
    // hit shifts timestamps and fails the hash.
    ("q_funnel_stages",
      (s: SparkSession, d: String) =>
        Temporal.funnelStages(t(s, d, "events"), "user_id", "ts",
            "event_type", Seq("view", "click", "purchase"))
          .select(col("user_id"),
            date_format(col("t1"), "yyyy-MM-dd HH:mm:ss").as("t1_s"),
            date_format(col("t2"), "yyyy-MM-dd HH:mm:ss").as("t2_s"),
            date_format(col("t3"), "yyyy-MM-dd HH:mm:ss").as("t3_s"),
            col("stage"))
          .orderBy("user_id"),
      Some("""WITH u AS (SELECT DISTINCT user_id FROM events),
             |s1 AS (SELECT user_id, min(ts) AS t1 FROM events
             |       WHERE event_type = 'view' GROUP BY 1),
             |s2 AS (SELECT e.user_id, min(e.ts) AS t2 FROM events e
             |       JOIN s1 ON s1.user_id = e.user_id AND e.ts > s1.t1
             |       WHERE e.event_type = 'click' GROUP BY 1),
             |s3 AS (SELECT e.user_id, min(e.ts) AS t3 FROM events e
             |       JOIN s2 ON s2.user_id = e.user_id AND e.ts > s2.t2
             |       WHERE e.event_type = 'purchase' GROUP BY 1)
             |SELECT u.user_id,
             |  strftime(t1, '%Y-%m-%d %H:%M:%S') AS t1_s,
             |  strftime(t2, '%Y-%m-%d %H:%M:%S') AS t2_s,
             |  strftime(t3, '%Y-%m-%d %H:%M:%S') AS t3_s,
             |  CAST(CASE WHEN t3 IS NOT NULL THEN 3
             |            WHEN t2 IS NOT NULL THEN 2
             |            WHEN t1 IS NOT NULL THEN 1
             |            ELSE 0 END AS BIGINT) AS stage
             |FROM u LEFT JOIN s1 USING (user_id) LEFT JOIN s2 USING (user_id)
             |LEFT JOIN s3 USING (user_id) ORDER BY u.user_id""".stripMargin)),

    // Weekly cohort retention: both engines ISO-Monday-truncate, so every
    // (cohort, offset) cell is integer-exact; offset 0 is the cohort size
    // by construction.
    ("q_cohort_retention",
      (s: SparkSession, d: String) =>
        Temporal.cohortRetention(t(s, d, "events"), "user_id", "ts")
          .select(date_format(col("cohort_week"), "yyyy-MM-dd").as("cohort_week"),
            col("week_offset"), col("n_active"))
          .orderBy("cohort_week", "week_offset"),
      Some("""WITH f AS (SELECT user_id, date_trunc('week', min(ts)) AS cw
             |  FROM events GROUP BY 1),
             |a AS (SELECT DISTINCT user_id, date_trunc('week', ts) AS w
             |  FROM events)
             |SELECT strftime(cw, '%Y-%m-%d') AS cohort_week,
             |  date_diff('day', cw, w) // 7 AS week_offset,
             |  count(*) AS n_active
             |FROM a JOIN f USING (user_id)
             |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // Streaming MATERIALIZED VIEW: three arrival batches upsert into the
    // versioned table while the per-type summary is maintained
    // ALGEBRAICALLY and committed as a sidecar of the same version flip.
    // Batches 2 and 3 UPDATE earlier keys (one moving rows to a new
    // group, one re-pricing), so a summary that only adds deltas — or one
    // rebuilt from the wrong version — diverges from the oracle's
    // from-scratch recompute of the final LWW table.
    ("q_stream_ivm",
      (s: SparkSession, d: String) => {
        val ev = t(s, d, "events").select(col("event_id"), col("event_type"),
          floor(col("value") * 100).cast("long").as("cents"))
        val b1 = ev.filter(col("event_id") % 5 === 0)
          .select(col("event_id"), lit("moved").as("event_type"),
            (col("cents") + 7L).as("cents"))
        val b2 = ev.filter(col("event_id") % 7 === 0)
          .select(col("event_id"), col("event_type"),
            (col("cents") * 2L).as("cents"))
        val inDir = scratchDir("ivm_in")
        Seq(ev, b1, b2).zipWithIndex.foreach { case (b, i) =>
          stageArrivalFile(b, inDir, s"batch$i.parquet",
            1700000000000L + i * 60000L)
        }
        val root = scratchDir("ivm_tbl") + "/t"
        val stream = s.readStream.schema(ev.schema)
          .option("maxFilesPerTrigger", 1).parquet(inDir)
        withShufflePartitions(s, 8) {
          val q = graft.streaming.Streams.summaryUpsertSink(stream, root,
            "event_id", "event_type", "cents", scratchDir("ivm_ckpt")).start()
          q.awaitTermination()
        }
        graft.streaming.Streams.readSummary(s, root, "event_type")
          .orderBy("event_type")
      },
      Some("""WITH ev AS (SELECT event_id, event_type,
             |    CAST(floor(value * 100) AS BIGINT) AS cents FROM events),
             |fin AS (SELECT event_id,
             |    CASE WHEN event_id % 7 = 0 THEN event_type
             |         WHEN event_id % 5 = 0 THEN 'moved'
             |         ELSE event_type END AS event_type,
             |    CASE WHEN event_id % 7 = 0 THEN cents * 2
             |         WHEN event_id % 5 = 0 THEN cents + 7
             |         ELSE cents END AS cents
             |  FROM ev)
             |SELECT event_type, count(*) AS n_rows,
             |  CAST(sum(cents) AS BIGINT) AS sum_measure
             |FROM fin GROUP BY 1 ORDER BY event_type""".stripMargin)),

    // Horizontal-mirror augmentation graded closed-form: output index j
    // reads generator value at the mirrored index (same row, column
    // w-1-x), so the position-weighted checksum MOVES under the
    // permutation while the plain pixel sum must not — a flip that
    // forgets channel interleaving or mirrors rows instead of columns
    // shifts the checksum and fails the hash.
    ("q_pixel_flip",
      (s: SparkSession, d: String) =>
        Multimodal.decodePixelStats(
            Multimodal.flipMedia(
              Multimodal.withPixelMedia(t(s, d, "documents"))))
          .toDF()
          .orderBy("doc_id"),
      Some("""WITH dims AS (
             |  SELECT doc_id,
             |    4 + n_chars % 13 AS w, 3 + n_chars % 11 AS h,
             |    CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'bmp'
             |         WHEN 1 THEN 'ppm' ELSE 'pgm' END AS format,
             |    CASE CAST(doc_id % 3 AS INT) WHEN 2 THEN 1 ELSE 3 END AS c
             |  FROM documents),
             |px AS (
             |  SELECT d.doc_id, d.format, d.w, d.h, d.c,
             |    sum((31*d.doc_id + 7*t.i) % 256) AS pix_sum,
             |    sum(((31*d.doc_id + 7*(
             |        ((t.i // (d.c*d.w)) * d.w
             |          + (d.w - 1 - ((t.i // d.c) % d.w))) * d.c
             |        + (t.i % d.c))) % 256) * (t.i % 97 + 1)) AS pix_checksum
             |  FROM dims d JOIN range(0, 1024) t(i) ON t.i < d.w*d.h*d.c
             |  GROUP BY d.doc_id, d.format, d.w, d.h, d.c)
             |SELECT doc_id, format,
             |  CAST(CASE format
             |    WHEN 'bmp' THEN 54 + ((3*w + 3)//4)*4*h
             |    ELSE 9 + length(CAST(w AS VARCHAR)) + length(CAST(h AS VARCHAR)) + w*h*c
             |  END AS BIGINT) AS media_bytes,
             |  CAST(w AS BIGINT) AS width, CAST(h AS BIGINT) AS height,
             |  CAST(c AS BIGINT) AS channels,
             |  CAST(w*h*c AS BIGINT) AS n_pixel_bytes,
             |  CAST(pix_sum AS BIGINT) AS pix_sum,
             |  CAST(pix_checksum AS BIGINT) AS pix_checksum
             |FROM px ORDER BY doc_id""".stripMargin)),

    // Ordered funnel (view → click → purchase), greedy earliest-match:
    // the oracle replays the same semantics as three chained
    // earliest-strictly-after picks with the (ts, event_id) tiebreak, so
    // a funnel that ignores ordering (set-intersection "funnels") or
    // breaks ties differently fails the hash. Engine side is ONE
    // exchange + a streaming O(steps)-state scan (Sessionize.funnel).
    ("q_funnel_steps",
      (s: SparkSession, d: String) =>
        Sessionize.funnel(t(s, d, "events"), "user_id", "ts", "event_id",
          "event_type", Seq("view", "click", "purchase")),
      Some("""WITH v AS (SELECT user_id, ts, event_id FROM (
             |    SELECT user_id, ts, event_id, row_number() OVER (
             |      PARTITION BY user_id ORDER BY ts, event_id) AS rn
             |    FROM events WHERE event_type = 'view') WHERE rn = 1),
             |c AS (SELECT user_id, ts, event_id FROM (
             |    SELECT e.user_id, e.ts, e.event_id, row_number() OVER (
             |      PARTITION BY e.user_id ORDER BY e.ts, e.event_id) AS rn
             |    FROM events e JOIN v ON v.user_id = e.user_id
             |      AND (e.ts > v.ts OR (e.ts = v.ts AND e.event_id > v.event_id))
             |    WHERE e.event_type = 'click') WHERE rn = 1),
             |p AS (SELECT user_id FROM (
             |    SELECT e.user_id, row_number() OVER (
             |      PARTITION BY e.user_id ORDER BY e.ts, e.event_id) AS rn
             |    FROM events e JOIN c ON c.user_id = e.user_id
             |      AND (e.ts > c.ts OR (e.ts = c.ts AND e.event_id > c.event_id))
             |    WHERE e.event_type = 'purchase') WHERE rn = 1)
             |SELECT * FROM (
             |  SELECT CAST(1 AS BIGINT) AS stage, 'view' AS step,
             |    (SELECT CAST(count(*) AS BIGINT) FROM v) AS n_users
             |  UNION ALL SELECT CAST(2 AS BIGINT), 'click',
             |    (SELECT CAST(count(*) AS BIGINT) FROM c)
             |  UNION ALL SELECT CAST(3 AS BIGINT), 'purchase',
             |    (SELECT CAST(count(*) AS BIGINT) FROM p))
             |ORDER BY stage""".stripMargin)),

    // Bloom-filter join pruning, graded bit-for-bit: the filter words are
    // md5-derived (the count-min discipline) so DuckDB rebuilds the SAME
    // bitmap and replays every membership test. The graded row pins the
    // bloom contract — n_false_neg MUST be 0 — and makes the FP cost
    // data-visible. Probe side never shuffles: the words ride in-row as a
    // broadcast-class literal (mBits/32 longs).
    ("q_bloom_prefilter",
      (s: SparkSession, d: String) => {
        val mBits = 65536; val k = 3
        val keys = t(s, d, "customer")
          .filter(col("c_mktsegment") === "BUILDING")
          .select(col("c_custkey")).distinct()
        val words = Sketches.bloomCollect(
          Sketches.bloomWords(keys, "c_custkey", mBits, k), mBits)
        t(s, d, "orders")
          .select(col("o_custkey"),
            Sketches.bloomProbe(col("o_custkey"), words, mBits, k).as("pass"))
          .join(broadcast(keys.withColumn("hit", lit(1L))),
            col("o_custkey") === col("c_custkey"), "left")
          .agg(
            count(lit(1)).as("n_orders"),
            sum(when(col("pass"), 1L).otherwise(0L)).as("n_passed"),
            sum(when(col("hit") === 1L, 1L).otherwise(0L)).as("n_true"),
            sum(when(col("pass") && col("hit").isNull, 1L).otherwise(0L))
              .as("n_false_pos"),
            sum(when(!col("pass") && col("hit") === 1L, 1L).otherwise(0L))
              .as("n_false_neg"))
          .crossJoin(broadcast(keys.agg(count(lit(1)).as("n_keys"))))
      },
      Some("""WITH keys AS (SELECT DISTINCT c_custkey FROM customer
             |  WHERE c_mktsegment = 'BUILDING'),
             |pos AS (SELECT ('0x' || substr(md5(t.i || ':' ||
             |      CAST(c_custkey AS VARCHAR)), 1, 8))::BIGINT % 65536 AS p
             |  FROM keys CROSS JOIN range(0, 3) t(i)),
             |words AS (SELECT p // 32 AS w,
             |    bit_or(1::BIGINT << CAST(p % 32 AS INT)) AS v
             |  FROM pos GROUP BY 1),
             |cust AS (SELECT o_custkey, count(*) AS n FROM orders GROUP BY 1),
             |ppos AS (SELECT c.o_custkey,
             |    ('0x' || substr(md5(t.i || ':' ||
             |      CAST(c.o_custkey AS VARCHAR)), 1, 8))::BIGINT % 65536 AS p
             |  FROM cust c CROSS JOIN range(0, 3) t(i)),
             |hit AS (SELECT o_custkey,
             |    count(*) FILTER (WHERE (coalesce(words.v, 0)
             |      & (1::BIGINT << CAST(p % 32 AS INT))) <> 0) AS nbits
             |  FROM ppos LEFT JOIN words ON words.w = p // 32
             |  GROUP BY 1),
             |fl AS (SELECT h.o_custkey, c.n, h.nbits = 3 AS pass,
             |    h.o_custkey IN (SELECT c_custkey FROM keys) AS really
             |  FROM hit h JOIN cust c USING (o_custkey))
             |SELECT CAST(sum(n) AS BIGINT) AS n_orders,
             |  CAST(sum(CASE WHEN pass THEN n ELSE 0 END) AS BIGINT) AS n_passed,
             |  CAST(sum(CASE WHEN really THEN n ELSE 0 END) AS BIGINT) AS n_true,
             |  CAST(sum(CASE WHEN pass AND NOT really THEN n ELSE 0 END)
             |    AS BIGINT) AS n_false_pos,
             |  CAST(sum(CASE WHEN really AND NOT pass THEN n ELSE 0 END)
             |    AS BIGINT) AS n_false_neg,
             |  (SELECT CAST(count(*) AS BIGINT) FROM keys) AS n_keys
             |FROM fl""".stripMargin)),

    // Single-pass write audit via Dataset.observe: the metrics ride the
    // WRITE job's accumulators — no second scan — and the oracle computes
    // the same aggregates independently, so a metric that drifts from the
    // data that actually landed fails the hash. (observe-legal aggregates
    // only: count/sum/min/max and conditional forms.)
    ("q_observed_write",
      (s: SparkSession, d: String) =>
        graft.quality.DataQuality.writeAudited(
          t(s, d, "documents"), scratchDir("verify_observed"),
          Seq(
            "n_rows" -> count(lit(1)),
            "sum_chars" -> sum(col("n_chars")),
            "min_doc" -> min(col("doc_id")),
            "max_doc" -> max(col("doc_id")),
            "n_en" -> sum(when(col("lang") === "en", 1L).otherwise(0L))))
          .orderBy("metric"),
      Some("""SELECT metric, value FROM (
             |  SELECT 'n_rows' AS metric, CAST(count(*) AS VARCHAR) AS value
             |    FROM documents
             |  UNION ALL SELECT 'sum_chars', CAST(sum(n_chars) AS VARCHAR)
             |    FROM documents
             |  UNION ALL SELECT 'min_doc', CAST(min(doc_id) AS VARCHAR)
             |    FROM documents
             |  UNION ALL SELECT 'max_doc', CAST(max(doc_id) AS VARCHAR)
             |    FROM documents
             |  UNION ALL SELECT 'n_en',
             |    CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS VARCHAR)
             |    FROM documents)
             |ORDER BY metric""".stripMargin)),

    // Content-defined chunking graded boundary-for-boundary: the gear
    // hash's shifted-sum form makes each boundary a pure per-position
    // formula over the trailing maskBits bytes, so DuckDB replays the
    // ENTIRE segmentation positionally — n_chunks, total bytes, and an
    // md5 over the exact boundary list per document.
    ("q_cdc_chunking",
      (s: SparkSession, d: String) => {
        val b = graft.functions.cdc_boundaries(col("text"), 6, 1)
        t(s, d, "documents").select(col("doc_id"),
            size(b).cast("long").as("n_chunks"),
            length(encode(col("text"), "UTF-8")).cast("long").as("total_bytes"),
            md5(array_join(b, ",").cast("binary")).as("bounds_md5"))
          .orderBy("doc_id")
      },
      Some("""WITH x AS (SELECT doc_id, lower(hex(encode(text))) AS hx,
             |    octet_length(encode(text)) AS n FROM documents),
             |by AS (SELECT doc_id, n, list_transform(range(1, n+1),
             |    i -> (strpos('0123456789abcdef', substr(hx, CAST(2*i-1 AS INT), 1))-1)*16
             |       + (strpos('0123456789abcdef', substr(hx, CAST(2*i AS INT), 1))-1)) AS bs
             |  FROM x),
             |bd AS (SELECT doc_id, n, list_filter(range(1, n+1), i ->
             |      list_sum(list_transform(range(greatest(i-5, 1), i+1),
             |        p -> ((bs[p] + 1) * 2654435761 % 4294967296)
             |             * CAST(power(2, i - p) AS BIGINT))) % 64 = 0) AS e0
             |  FROM by),
             |fe AS (SELECT doc_id, n,
             |    CASE WHEN n = 0 THEN []::BIGINT[]
             |         WHEN len(e0) > 0 AND e0[len(e0)] = n THEN e0
             |         ELSE list_append(e0, CAST(n AS BIGINT)) END AS ends
             |  FROM bd)
             |SELECT doc_id, CAST(len(ends) AS BIGINT) AS n_chunks,
             |  CAST(n AS BIGINT) AS total_bytes,
             |  md5(array_to_string(ends, ',')) AS bounds_md5
             |FROM fe ORDER BY doc_id""".stripMargin)),

    // The property CDC exists for, graded exactly: clones with a PREFIX
    // INSERTION ('PATCH v2: ') re-align at the first content boundary, so
    // nearly all clone bytes dedup against the originals at chunk
    // granularity — fixed-size blocks would share almost nothing. All
    // counts exact: DuckDB rebuilds every chunk of both generations.
    ("q_cdc_chunk_dedup",
      (s: SparkSession, d: String) => {
        val docs = t(s, d, "documents").select("doc_id", "text")
        val corpus = docs.unionByName(docs.select(
          (col("doc_id") + 1000000L).as("doc_id"),
          concat(lit("PATCH v2: "), col("text")).as("text")))
        val ch = Dedup.cdcChunks(corpus, "doc_id", "text").localCheckpoint(eager = false)
        val tot = ch.agg(count(lit(1)).as("n_chunks_total"),
          count_distinct(col("chunk_md5")).as("n_distinct_chunks"),
          sum(col("len")).cast("long").as("total_bytes"))
        val dup = ch.groupBy("chunk_md5")
          .agg(max(col("len")).as("l"), count(lit(1)).as("c"))
          .agg(coalesce(sum(col("l") * (col("c") - 1)), lit(0L)).cast("long")
            .as("dup_bytes"))
        val shared = ch.filter(col("doc_id") >= 1000000L)
          .join(ch.filter(col("doc_id") < 1000000L)
            .select("chunk_md5").distinct(), Seq("chunk_md5"), "left_semi")
          .agg(count(lit(1)).as("n_clone_chunks_shared"),
            coalesce(sum(col("len")), lit(0L)).cast("long").as("clone_shared_bytes"))
        tot.crossJoin(dup).crossJoin(shared)
      },
      Some("""WITH corpus AS (
             |  SELECT doc_id, text FROM documents
             |  UNION ALL SELECT doc_id + 1000000, 'PATCH v2: ' || text FROM documents),
             |x AS (SELECT doc_id, lower(hex(encode(text))) AS hx,
             |    octet_length(encode(text)) AS n FROM corpus),
             |by AS (SELECT doc_id, hx, n, list_transform(range(1, n+1),
             |    i -> (strpos('0123456789abcdef', substr(hx, CAST(2*i-1 AS INT), 1))-1)*16
             |       + (strpos('0123456789abcdef', substr(hx, CAST(2*i AS INT), 1))-1)) AS bs
             |  FROM x),
             |bd AS (SELECT doc_id, hx, n, list_filter(range(1, n+1), i ->
             |      list_sum(list_transform(range(greatest(i-5, 1), i+1),
             |        p -> ((bs[p] + 1) * 2654435761 % 4294967296)
             |             * CAST(power(2, i - p) AS BIGINT))) % 64 = 0) AS e0
             |  FROM by),
             |fe AS (SELECT doc_id, hx,
             |    CASE WHEN n = 0 THEN []::BIGINT[]
             |         WHEN len(e0) > 0 AND e0[len(e0)] = n THEN e0
             |         ELSE list_append(e0, CAST(n AS BIGINT)) END AS ends
             |  FROM bd),
             |ch AS (SELECT doc_id,
             |    md5(substr(hx,
             |      2*(CASE WHEN u.i = 1 THEN 1 ELSE ends[u.i-1]+1 END) - 1,
             |      2*(ends[u.i] - (CASE WHEN u.i = 1 THEN 1 ELSE ends[u.i-1]+1 END) + 1))) AS h,
             |    ends[u.i] - (CASE WHEN u.i = 1 THEN 1 ELSE ends[u.i-1]+1 END) + 1 AS ln
             |  FROM fe, unnest(range(1, len(ends)+1)) u(i)),
             |tot AS (SELECT CAST(count(*) AS BIGINT) AS n_chunks_total,
             |    CAST(count(DISTINCT h) AS BIGINT) AS n_distinct_chunks,
             |    CAST(sum(ln) AS BIGINT) AS total_bytes FROM ch),
             |pm AS (SELECT h, max(ln) AS l, count(*) AS c FROM ch GROUP BY 1),
             |dup AS (SELECT CAST(coalesce(sum(l * (c - 1)), 0) AS BIGINT)
             |    AS dup_bytes FROM pm),
             |og AS (SELECT DISTINCT h FROM ch WHERE doc_id < 1000000),
             |cl AS (SELECT CAST(count(*) AS BIGINT) AS n_clone_chunks_shared,
             |    CAST(coalesce(sum(ln), 0) AS BIGINT) AS clone_shared_bytes
             |  FROM ch WHERE doc_id >= 1000000 AND h IN (SELECT h FROM og))
             |SELECT * FROM tot CROSS JOIN dup CROSS JOIN cl""".stripMargin)),

    // Dynamic partition pruning end-to-end: lineitem re-laid out as a
    // month-partitioned fact table, joined to a RUNTIME-computed dim (the
    // 3 months with the most urgent orders — unknowable at plan time, so
    // only DPP can skip the other ~80 partitions; PlanQualitySpec asserts
    // the dynamicpruning filter reaches the scan). The graded row proves
    // the partitioned layout + pruned join lose no rows vs the plain
    // tables.
    ("q_dpp_partitioned_join",
      (s: SparkSession, d: String) => {
        val li = t(s, d, "lineitem")
          .select(col("l_extendedprice"), col("l_quantity"),
            date_format(col("l_shipdate"), "yyyy-MM").as("ship_month"))
        val path = scratchDir("verify_dpp")
        graft.sources.Partitioned.write(li, "ship_month", path)
        val fact = graft.sources.Partitioned.read(s, path)
        val dim = t(s, d, "orders")
          .filter(col("o_orderpriority") === "1-URGENT")
          .groupBy(date_format(col("o_orderdate"), "yyyy-MM").as("ship_month"))
          .agg(count(lit(1)).as("n"))
          .orderBy(desc("n"), col("ship_month")).limit(3)
          .select("ship_month")
        fact.join(dim, Seq("ship_month"))
          .agg(count(lit(1)).as("n_rows"),
            round(sum(col("l_extendedprice")) * 100).cast("long").as("sum_price_cents"),
            round(sum(col("l_quantity"))).cast("long").as("sum_qty"),
            count_distinct(col("ship_month")).as("n_months"))
      },
      Some("""WITH f AS (SELECT strftime(l_shipdate, '%Y-%m') AS m,
             |    l_extendedprice, l_quantity FROM lineitem),
             |top3 AS (SELECT m FROM (
             |    SELECT strftime(o_orderdate, '%Y-%m') AS m, count(*) AS n
             |    FROM orders WHERE o_orderpriority = '1-URGENT'
             |    GROUP BY 1 ORDER BY n DESC, m LIMIT 3)),
             |j AS (SELECT f.* FROM f JOIN top3 USING (m))
             |SELECT CAST(count(*) AS BIGINT) AS n_rows,
             |  CAST(round(sum(l_extendedprice) * 100) AS BIGINT) AS sum_price_cents,
             |  CAST(round(sum(l_quantity)) AS BIGINT) AS sum_qty,
             |  CAST(count(DISTINCT m) AS BIGINT) AS n_months
             |FROM j""".stripMargin)),

    // Streaming exact dedup under the oracle: the full events table then a
    // replay of every event_id % 5 = 0 row arrive as two mtime-ordered
    // micro-batches; dropDuplicatesWithinWatermark (40-day horizon covers
    // the fixture's span, so no state evicts mid-test) must emit each id
    // exactly once — first arrival wins, re-deliveries suppressed by keyed
    // state. The graded set is simply the distinct events relation.
    ("q_stream_dedup",
      (s: SparkSession, d: String) => {
        val ev = t(s, d, "events").select("event_id", "user_id", "ts", "value")
        val inDir = scratchDir("sdedup_in")
        stageArrivalFile(ev, inDir, "b1.parquet", 1700000000000L)
        stageArrivalFile(ev.filter(col("event_id") % 5 === 0),
          inDir, "b2.parquet", 1700000060000L)
        val outDir = scratchDir("sdedup_out")
        val stream = s.readStream.schema(ev.schema)
          .option("maxFilesPerTrigger", 1).parquet(inDir)
        withShufflePartitions(s, 8) {
          val q = graft.streaming.Streams
            .dedupWithinWatermark(stream, Seq("event_id"), "ts", "40 days")
            .writeStream.format("parquet")
            .option("path", outDir)
            .option("checkpointLocation", scratchDir("sdedup_ckpt"))
            .outputMode("append")
            .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
            .start()
          q.awaitTermination()
        }
        Tables.parquet(s, outDir)
          .select(col("event_id"), col("user_id"),
            floor(col("value") * 100).cast("long").as("cents"))
          .orderBy("event_id")
      },
      Some("""SELECT event_id, user_id,
             |  CAST(floor(value * 100) AS BIGINT) AS cents
             |FROM events ORDER BY event_id""".stripMargin)),

    // Semi-structured ingestion: events.props is a JSON string; parse it
    // ONCE to VARIANT, then typed-path extraction + filter + aggregate.
    // The oracle extracts the same path with DuckDB's JSON operators —
    // parity proves variant_get's typed extraction matches a reference
    // JSON engine, not just itself.
    ("q_variant_extract",
      (s: SparkSession, d: String) => {
        val ev = graft.operators.SemiStructured.parseJson(
          t(s, d, "events"), "props")
        graft.operators.SemiStructured
          .shred(ev, "v", Seq(("k", "$.k", "long")))
          .filter(col("k") >= 50)
          .groupBy("event_type")
          .agg(count(lit(1)).as("n"),
            sum(col("k")).cast("long").as("sum_k"),
            min(col("k")).cast("long").as("min_k"),
            max(col("k")).cast("long").as("max_k"))
          .orderBy("event_type")
      },
      Some("""WITH x AS (SELECT event_type,
             |    CAST(props->>'k' AS BIGINT) AS k FROM events)
             |SELECT event_type, CAST(count(*) AS BIGINT) AS n,
             |  CAST(sum(k) AS BIGINT) AS sum_k,
             |  min(k) AS min_k, max(k) AS max_k
             |FROM x WHERE k >= 50
             |GROUP BY event_type ORDER BY event_type""".stripMargin)),

    // Variant shredding round-trip: build a nested payload (object +
    // nested struct + sometimes-ABSENT array) from document columns,
    // parse to VARIANT, shred typed paths back out. The oracle computes
    // every expected value directly from the base columns, so the whole
    // construct→parse→extract pipeline is graded against ground truth:
    // missing paths must be null (tags on 2/3 of rows), and a
    // present-but-uncastable path must be null under TRY semantics
    // (bad_cast asks for $.meta.lang AS BIGINT).
    ("q_variant_shred",
      (s: SparkSession, d: String) => {
        val ss = graft.operators.SemiStructured
        val docs = t(s, d, "documents")
          .withColumn("payload", ss.demoPayload())
        val withV = ss.parseJson(docs, "payload")
        val shredded = ss.shred(withV, "v", Seq(
          ("did", "$.id", "long"),
          ("lang2", "$.meta.lang", "string"),
          ("chars", "$.meta.chars", "long"),
          ("tag0", "$.tags[0]", "string"),
          ("tag1", "$.tags[1]", "string")))
        ss.tryShred(shredded, "v", Seq(("bad_cast", "$.meta.lang", "long")))
          .select(col("did").as("doc_id"), col("lang2").as("lang"),
            col("chars").as("n_chars"), col("tag0"), col("tag1"),
            col("bad_cast"))
          .orderBy("doc_id")
      },
      Some("""SELECT doc_id, lang, n_chars,
             |  CASE WHEN doc_id % 3 = 0 THEN source END AS tag0,
             |  CASE WHEN doc_id % 3 = 0 THEN upper(lang) END AS tag1,
             |  CAST(NULL AS BIGINT) AS bad_cast
             |FROM documents ORDER BY doc_id""".stripMargin)),

    // Recursive CTE (Spark 4 WITH RECURSIVE → iterative UnionLoop): the
    // documents arranged as a binary heap (parent = (id-1) div 2) give a
    // ~9-deep hierarchy; the ancestor closure is graded depth-by-depth
    // against DuckDB running the SAME recursive SQL — two independent
    // recursive-CTE engines must agree on every (depth, count, checksum).
    ("q_recursive_cte",
      (s: SparkSession, d: String) => {
        val edges = t(s, d, "documents")
          .filter(col("doc_id") >= 1)
          .select(col("doc_id").as("child"),
            expr("(doc_id - 1) div 2").as("parent"))
        graft.operators.Hierarchy.ancestorClosure(edges, "child", "parent")
          .groupBy(col("depth").cast("long").as("depth"))
          .agg(count(lit(1)).as("n"),
            sum(col("node")).cast("long").as("sum_nodes"),
            sum(col("ancestor")).cast("long").as("sum_anc"))
          .orderBy("depth")
      },
      Some("""WITH RECURSIVE e AS (
             |  SELECT doc_id AS child, (doc_id - 1) // 2 AS parent
             |  FROM documents WHERE doc_id >= 1),
             |anc AS (
             |  SELECT child AS node, parent AS ancestor, 1 AS depth FROM e
             |  UNION ALL
             |  SELECT a.node, e.parent, a.depth + 1
             |  FROM anc a JOIN e ON a.ancestor = e.child)
             |SELECT CAST(depth AS BIGINT) AS depth,
             |  CAST(count(*) AS BIGINT) AS n,
             |  CAST(sum(node) AS BIGINT) AS sum_nodes,
             |  CAST(sum(ancestor) AS BIGINT) AS sum_anc
             |FROM anc GROUP BY depth ORDER BY depth""".stripMargin)),

    // rootOf on the same heap: every node's terminal ancestor and its
    // depth below it, parentless nodes self-rooted at depth 0. Graded
    // per-node (500 rows) so a single wrong hop anywhere in the
    // recursion flips the hash.
    ("q_hierarchy_roots",
      (s: SparkSession, d: String) => {
        val edges = t(s, d, "documents")
          .filter(col("doc_id") >= 1)
          .select(col("doc_id").as("child"),
            expr("(doc_id - 1) div 2").as("parent"))
        graft.operators.Hierarchy.rootOf(edges, "child", "parent")
          .select(col("node").cast("long").as("node"),
            col("root").cast("long").as("root"),
            col("depth").cast("long").as("depth"))
          .orderBy("node")
      },
      Some("""WITH RECURSIVE e AS (
             |  SELECT doc_id AS child, (doc_id - 1) // 2 AS parent
             |  FROM documents WHERE doc_id >= 1),
             |anc AS (
             |  SELECT child AS node, parent AS ancestor, 1 AS depth FROM e
             |  UNION ALL
             |  SELECT a.node, e.parent, a.depth + 1
             |  FROM anc a JOIN e ON a.ancestor = e.child),
             |ch AS (SELECT DISTINCT child FROM e),
             |-- explicit DISTINCT: inside WITH RECURSIVE, DuckDB gives a
             |-- bare UNION recursive semantics and skips cross-branch dedup
             |alln AS (SELECT DISTINCT node FROM (
             |  SELECT child AS node FROM e
             |  UNION ALL SELECT parent FROM e)),
             |rooted AS (
             |  SELECT node, ancestor AS root, depth FROM anc
             |  WHERE ancestor NOT IN (SELECT child FROM ch)
             |  UNION ALL
             |  SELECT node, node, 0 FROM alln
             |  WHERE node NOT IN (SELECT child FROM ch))
             |SELECT CAST(node AS BIGINT) AS node,
             |  CAST(root AS BIGINT) AS root,
             |  CAST(depth AS BIGINT) AS depth
             |FROM rooted ORDER BY node""".stripMargin)),

    // transformWithState (Spark 4 arbitrary-state API, RocksDB-backed):
    // the events replayed as two mtime-ordered micro-batches (even ids
    // then odd); the per-user running ledger must emit each touched
    // user's CUMULATIVE (count, cents) after every batch — so the graded
    // set is per-user totals over batch 1, plus per-user grand totals for
    // users batch 2 touches, both computable exactly by the oracle.
    ("q_stream_tws_ledger",
      (s: SparkSession, d: String) => {
        val ev = t(s, d, "events").select(col("event_id"), col("user_id"),
          floor(col("value") * 100).cast("long").as("cents"))
        val inDir = scratchDir("tws_in")
        stageArrivalFile(ev.filter(col("event_id") % 2 === 0),
          inDir, "b1.parquet", 1700000000000L)
        stageArrivalFile(ev.filter(col("event_id") % 2 === 1),
          inDir, "b2.parquet", 1700000060000L)
        val outDir = scratchDir("tws_out")
        val stream = s.readStream.schema(ev.schema)
          .option("maxFilesPerTrigger", 1).parquet(inDir)
        import s.implicits._
        val typed = stream.select("user_id", "cents")
          .as[graft.streaming.Streams.LedgerEvent]
        val provKey = "spark.sql.streaming.stateStore.providerClass"
        val prevProv = s.conf.getOption(provKey)
        s.conf.set(provKey, "org.apache.spark.sql.execution.streaming." +
          "state.RocksDBStateStoreProvider")
        try withShufflePartitions(s, 8) {
          val q = graft.streaming.Streams.runningLedger(typed)
            .writeStream.format("parquet")
            .option("path", outDir)
            .option("checkpointLocation", scratchDir("tws_ckpt"))
            .outputMode("append")
            .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
            .start()
          q.awaitTermination()
        } finally prevProv match {
          case Some(v) => s.conf.set(provKey, v)
          case None => s.conf.unset(provKey)
        }
        Tables.parquet(s, outDir).orderBy("user_id", "n_events")
      },
      Some("""WITH ev AS (SELECT event_id, user_id,
             |    CAST(floor(value * 100) AS BIGINT) AS cents FROM events),
             |s1 AS (SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
             |    CAST(sum(cents) AS BIGINT) AS cents
             |  FROM ev WHERE event_id % 2 = 0 GROUP BY user_id),
             |b2u AS (SELECT DISTINCT user_id FROM ev WHERE event_id % 2 = 1),
             |sall AS (SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
             |    CAST(sum(cents) AS BIGINT) AS cents
             |  FROM ev GROUP BY user_id)
             |SELECT user_id, n_events, cents FROM s1
             |UNION ALL
             |SELECT s.user_id, s.n_events, s.cents
             |FROM sall s JOIN b2u USING (user_id)
             |ORDER BY user_id, n_events""".stripMargin)),

    // Co-located fact⋈fact join: both sides written bucketed+sorted on
    // the join key, so the join runs with NO exchange and NO sort on
    // either side — the pay-the-shuffle-once layout for tables joined
    // repeatedly at 100 TB (BucketedSpec pins the zero-exchange plan
    // shape; this row grades that the layout loses no rows vs the plain
    // tables). 8 buckets: a layout knob sized to the graded volume.
    ("q_bucketed_join",
      (s: SparkSession, d: String) => {
        val li = t(s, d, "lineitem")
          .select("l_orderkey", "l_extendedprice", "l_quantity")
        val ord = t(s, d, "orders").select("o_orderkey", "o_orderpriority")
        graft.sources.Bucketed.writeBucketed(li, "graft_bkt_lineitem",
          "l_orderkey", 8)
        graft.sources.Bucketed.writeBucketed(ord, "graft_bkt_orders",
          "o_orderkey", 8)
        graft.sources.Bucketed.read(s, "graft_bkt_lineitem")
          .join(graft.sources.Bucketed.read(s, "graft_bkt_orders").hint("merge"),
            col("l_orderkey") === col("o_orderkey"))
          .groupBy("o_orderpriority")
          .agg(count(lit(1)).as("n_items"),
            round(sum(col("l_extendedprice")) * 100).cast("long")
              .as("sum_price_cents"),
            round(sum(col("l_quantity"))).cast("long").as("sum_qty"))
          .orderBy("o_orderpriority")
      },
      Some("""SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_items,
             |  CAST(round(sum(l_extendedprice) * 100) AS BIGINT)
             |    AS sum_price_cents,
             |  CAST(round(sum(l_quantity)) AS BIGINT) AS sum_qty
             |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
             |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin)),

    // Join-view IVM: a materialized orders⋈customer view maintained under
    // one keyed delta batch exercising every case — delete, in-place
    // update, fk MOVE (custkey+1: may re-match or not, both engines
    // agree), update-to-no-dim-match (custkey -1 drops from the inner
    // view), and fresh inserts. The oracle recomputes the upserted base
    // join FROM SCRATCH, so any drift in the delta algebra flips the
    // per-segment sums.
    ("q_ivm_join",
      (s: SparkSession, d: String) => {
        val base = t(s, d, "orders").select(col("o_orderkey"), col("o_custkey"),
          floor(col("o_totalprice") * 100).cast("long").as("cents"))
        val dim = t(s, d, "customer").select("c_custkey", "c_mktsegment")
        val view0 = Incremental.joinView(base, dim, "o_custkey", "c_custkey")
        val ok = col("o_orderkey")
        val upd = base.filter(ok % 10 === 0 && ok % 13 =!= 0)
          .select(ok,
            when(ok % 40 === 0, col("o_custkey") + 1)
              .when(ok % 20 === 0, lit(-1L))
              .otherwise(col("o_custkey")).as("o_custkey"),
            (col("cents") + 100000L).as("cents"))
          .withColumn("op", lit("U"))
        val del = base.filter(ok % 13 === 0).withColumn("op", lit("D"))
        val ins = base.filter(ok % 17 === 5)
          .select((ok + 10000000L).as("o_orderkey"), col("o_custkey"),
            (col("cents") + 7L).as("cents"))
          .withColumn("op", lit("U"))
        val delta = upd.unionByName(del).unionByName(ins)
        Incremental.maintainJoin(view0, dim, delta,
            "o_orderkey", "o_custkey", "c_custkey", "op")
          .groupBy("c_mktsegment")
          .agg(count(lit(1)).as("n_rows"),
            count_distinct(col("o_orderkey")).as("n_orders"),
            sum(col("cents")).cast("long").as("sum_cents"))
          .orderBy("c_mktsegment")
      },
      Some("""WITH base AS (SELECT o_orderkey, o_custkey,
             |    CAST(floor(o_totalprice * 100) AS BIGINT) AS cents
             |  FROM orders),
             |upd AS (SELECT o_orderkey,
             |    CASE WHEN o_orderkey % 40 = 0 THEN o_custkey + 1
             |         WHEN o_orderkey % 20 = 0 THEN -1
             |         ELSE o_custkey END AS o_custkey,
             |    cents + 100000 AS cents
             |  FROM base WHERE o_orderkey % 10 = 0 AND o_orderkey % 13 <> 0),
             |ins AS (SELECT o_orderkey + 10000000 AS o_orderkey, o_custkey,
             |    cents + 7 AS cents FROM base WHERE o_orderkey % 17 = 5),
             |touched AS (SELECT o_orderkey FROM upd
             |  UNION ALL
             |  SELECT o_orderkey FROM base WHERE o_orderkey % 13 = 0),
             |fin AS (
             |  SELECT * FROM base
             |  WHERE o_orderkey NOT IN (SELECT o_orderkey FROM touched)
             |  UNION ALL SELECT * FROM upd
             |  UNION ALL SELECT * FROM ins)
             |SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS n_rows,
             |  CAST(count(DISTINCT o_orderkey) AS BIGINT) AS n_orders,
             |  CAST(sum(cents) AS BIGINT) AS sum_cents
             |FROM fin JOIN customer ON o_custkey = c_custkey
             |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin)),

    // Dim-side join-view IVM: the view starts over a dim MISSING 1/7 of
    // the customers, then one dim delta batch updates segments, deletes
    // keys, and BACKFILLS the missing customers — whose orders must
    // surface in the maintained inner view. Oracle recomputes from the
    // post-delta dim from scratch.
    ("q_ivm_join_dim",
      (s: SparkSession, d: String) => {
        val base = t(s, d, "orders").select(col("o_orderkey"), col("o_custkey"),
          floor(col("o_totalprice") * 100).cast("long").as("cents"))
        val cust = t(s, d, "customer").select("c_custkey", "c_mktsegment")
        val ck = col("c_custkey")
        val dim0 = cust.filter(ck % 7 =!= 3)
        val view0 = Incremental.joinView(base, dim0, "o_custkey", "c_custkey")
        val upd = cust.filter(ck % 5 === 0 && ck % 7 =!= 3)
          .select(ck, concat(lit("X-"), col("c_mktsegment")).as("c_mktsegment"))
          .withColumn("op", lit("U"))
        val del = cust.filter(ck % 11 === 0 && ck % 5 =!= 0 && ck % 7 =!= 3)
          .withColumn("op", lit("D"))
        val ins = cust.filter(ck % 7 === 3).withColumn("op", lit("U"))
        val delta = upd.unionByName(del).unionByName(ins)
        Incremental.maintainJoinDim(view0, base, delta,
            "c_custkey", "o_custkey", "op")
          .groupBy("c_mktsegment")
          .agg(count(lit(1)).as("n_rows"),
            sum(col("cents")).cast("long").as("sum_cents"))
          .orderBy("c_mktsegment")
      },
      Some("""WITH base AS (SELECT o_orderkey, o_custkey,
             |    CAST(floor(o_totalprice * 100) AS BIGINT) AS cents
             |  FROM orders),
             |dim0 AS (SELECT c_custkey, c_mktsegment FROM customer
             |  WHERE c_custkey % 7 <> 3),
             |upd AS (SELECT c_custkey, 'X-' || c_mktsegment AS c_mktsegment
             |  FROM customer WHERE c_custkey % 5 = 0 AND c_custkey % 7 <> 3),
             |ins AS (SELECT c_custkey, c_mktsegment FROM customer
             |  WHERE c_custkey % 7 = 3),
             |delk AS (SELECT c_custkey FROM customer
             |  WHERE c_custkey % 11 = 0 AND c_custkey % 5 <> 0
             |    AND c_custkey % 7 <> 3),
             |touched AS (SELECT c_custkey FROM upd
             |  UNION ALL SELECT c_custkey FROM delk
             |  UNION ALL SELECT c_custkey FROM ins),
             |fin AS (
             |  SELECT * FROM dim0
             |  WHERE c_custkey NOT IN (SELECT c_custkey FROM touched)
             |  UNION ALL SELECT * FROM upd
             |  UNION ALL SELECT * FROM ins)
             |SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS n_rows,
             |  CAST(sum(cents) AS BIGINT) AS sum_cents
             |FROM base JOIN fin ON o_custkey = c_custkey
             |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin)),

    // VARIANT storage round-trip: the parsed variant column is WRITTEN to
    // parquet (Spark shreds the encoded value) and read back; typed-path
    // extraction from the re-read column must still equal ground truth —
    // the property that lets a 100 TB semi-structured lake keep ONE
    // parsed copy and pay per-path at read time.
    ("q_variant_roundtrip",
      (s: SparkSession, d: String) => {
        val ss = graft.operators.SemiStructured
        val docs = t(s, d, "documents").withColumn("payload", ss.demoPayload())
        val path = scratchDir("verify_variant")
        ss.parseJson(docs, "payload").select("doc_id", "v")
          .write.mode("overwrite").parquet(path)
        val back = Tables.parquet(s, path)
        ss.shred(back, "v", Seq(
            ("lang", "$.meta.lang", "string"),
            ("chars", "$.meta.chars", "long"),
            ("tag0", "$.tags[0]", "string")))
          .select(col("doc_id"), col("lang"), col("chars").as("n_chars"),
            col("tag0"))
          .orderBy("doc_id")
      },
      Some("""SELECT doc_id, lang, n_chars,
             |  CASE WHEN doc_id % 3 = 0 THEN source END AS tag0
             |FROM documents ORDER BY doc_id""".stripMargin)),

    // Schema evolution across ingest generations: generation 1 lacks the
    // n_chars column generation 2 carries; the merged read must yield the
    // union schema with nulls for gen-1 rows, and BOTH read paths — the
    // footer-sweeping mergeSchema and the catalog-declared explicit
    // schema (the 100 TB path) — must agree exactly, so the graded plan
    // unions them and counts any disagreement into the hash.
    ("q_schema_merge",
      (s: SparkSession, d: String) => {
        val docs = t(s, d, "documents")
        val path = scratchDir("verify_schemaevo")
        docs.filter(col("doc_id") % 2 === 0).select("doc_id", "lang")
          .write.parquet(path + "/g1")
        docs.filter(col("doc_id") % 2 === 1).select("doc_id", "lang", "n_chars")
          .write.parquet(path + "/g2")
        val merged = graft.sources.SchemaEvolution.readMerged(s, path)
        val declared = graft.sources.SchemaEvolution.readAs(s, path, merged.schema)
        def summarize(df: DataFrame, tag: String) = df
          .groupBy("lang")
          .agg(count(lit(1)).as("n_docs"),
            count(col("n_chars")).as("n_with_chars"),
            coalesce(sum(col("n_chars")), lit(0L)).cast("long").as("sum_chars"))
          .withColumn("read_path", lit(tag))
        summarize(merged, "merge_schema")
          .unionByName(summarize(declared, "declared_schema"))
          .orderBy("read_path", "lang")
      },
      Some("""WITH g AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
             |    CAST(count(CASE WHEN doc_id % 2 = 1 THEN n_chars END)
             |      AS BIGINT) AS n_with_chars,
             |    CAST(coalesce(sum(CASE WHEN doc_id % 2 = 1 THEN n_chars END),
             |      0) AS BIGINT) AS sum_chars
             |  FROM documents GROUP BY lang)
             |SELECT lang, n_docs, n_with_chars, sum_chars, read_path
             |FROM g CROSS JOIN (VALUES ('merge_schema'), ('declared_schema'))
             |  AS rp(read_path)
             |ORDER BY read_path, lang""".stripMargin)),

    // Hard-example triplet mining over the labeled embeddings: hardest
    // positive = least-similar same-label, hardest negative =
    // most-similar other-label, per anchor. The oracle re-derives both
    // extremes with windowed ranks over the full scored cross product —
    // the combinable min/max-by-struct reduction must agree on every id
    // and every 6dp cosine.
    ("q_hard_triplets",
      (s: SparkSession, d: String) => {
        val emb = t(s, d, "embeddings")
        Similarity.mineTriplets(emb, emb.filter(col("vec_id") < 20),
            "vec_id", "embedding", "label")
          .orderBy("anchor_id")
      },
      Some("""WITH e AS (
             |  SELECT vec_id, label,
             |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
             |  FROM embeddings),
             |a AS (SELECT vec_id AS anchor_id, label AS a_label, v AS av
             |  FROM e WHERE vec_id < 20),
             |s AS (
             |  SELECT a.anchor_id, a.a_label, e.vec_id AS cand_id,
             |    e.label AS c_label,
             |    round(CASE WHEN sqrt(list_inner_product(a.av, a.av)
             |                         * list_inner_product(e.v, e.v)) = 0
             |          THEN 0.0
             |          ELSE list_inner_product(a.av, e.v)
             |               / sqrt(list_inner_product(a.av, a.av)
             |                      * list_inner_product(e.v, e.v)) END, 6)
             |      AS cosine
             |  FROM e JOIN a ON a.anchor_id <> e.vec_id),
             |pos AS (SELECT anchor_id, cand_id AS pos_id,
             |    cosine AS pos_cosine,
             |    row_number() OVER (PARTITION BY anchor_id
             |                       ORDER BY cosine ASC, cand_id ASC) AS rn
             |  FROM s WHERE c_label = a_label),
             |neg AS (SELECT anchor_id, cand_id AS neg_id,
             |    cosine AS neg_cosine,
             |    row_number() OVER (PARTITION BY anchor_id
             |                       ORDER BY cosine DESC, cand_id ASC) AS rn
             |  FROM s WHERE c_label <> a_label)
             |SELECT p.anchor_id, p.pos_id, p.pos_cosine,
             |  n.neg_id, n.neg_cosine
             |FROM pos p JOIN neg n ON p.anchor_id = n.anchor_id
             |WHERE p.rn = 1 AND n.rn = 1
             |ORDER BY p.anchor_id""".stripMargin)),

    // Detokenization round-trip: decode(encode(x)) must equal x with OOV
    // tokens rendered <unk> — the oracle never sees the id space at all,
    // it substitutes directly, so any id-assignment or order bug in
    // encode OR decode breaks the equality.
    ("q_vocab_decode",
      (s: SparkSession, d: String) => {
        val docs = t(s, d, "documents")
        val vocab = TextAnalysis.buildVocab(docs, "text", maxVocab = 24)
        // measured NOT spread (r20): ~1.0 task-s of serial compute; the
        // spread read 1.54 s -> 2.11 s (exchange + task overhead), C3 class
        TextAnalysis.decode(
            TextAnalysis.encode(docs, "doc_id", "text", vocab),
            "token_ids", vocab)
          .select("doc_id", "decoded").orderBy("doc_id")
      },
      Some("""WITH t AS (
             |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS a
             |  FROM documents WHERE trim(text) <> ''),
             |tok AS (
             |  SELECT doc_id, a[i] AS w, i
             |  FROM t, unnest(range(1, len(a)+1)) AS u(i)),
             |cnt AS (SELECT w, count(*) AS n FROM tok GROUP BY 1),
             |voc AS (SELECT w FROM cnt ORDER BY n DESC, w LIMIT 24)
             |SELECT doc_id, array_to_string(list(
             |    CASE WHEN w IN (SELECT w FROM voc) THEN w
             |         ELSE '<unk>' END ORDER BY i), ' ') AS decoded
             |FROM tok GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    // Temperature sampling weights (α = 0.5) per language: the one float
    // op (pow) is rounded to integer micro-units BEFORE the normalizer
    // sums, so both engines do exact integer arithmetic from there —
    // weight and epoch-boost ppm must match to the unit.
    ("q_temperature_mix",
      (s: SparkSession, d: String) =>
        Curation.temperatureWeights(t(s, d, "documents"), "lang", 0.5)
          .orderBy("lang"),
      Some("""WITH c AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_docs
             |  FROM documents GROUP BY lang),
             |u AS (SELECT lang, n_docs,
             |    CAST(round(pow(n_docs, 0.5) * 1000000) AS BIGINT) AS u
             |  FROM c),
             |z AS (SELECT CAST(sum(u) AS BIGINT) AS z,
             |    CAST(sum(n_docs) AS BIGINT) AS n_total FROM u)
             |SELECT lang, n_docs,
             |  u * 1000000 // z AS weight_ppm,
             |  (u * 1000000 // z) * n_total // n_docs AS boost_ppm
             |FROM u CROSS JOIN z ORDER BY lang""".stripMargin)),

    // Spark's NATIVE session_window aggregation (vs the custom-state
    // Sessionize operator, which this complements): dynamic-gap windows
    // merge while consecutive events are < 30 min apart, window end =
    // last event + gap. The oracle replays the same sessions as a
    // gaps-and-islands window chain — boundary semantics (strict <,
    // half-open end) must agree on every session.
    ("q_session_window_native",
      (s: SparkSession, d: String) => {
        val ev = t(s, d, "events").select(col("user_id"), col("ts"),
          floor(col("value") * 100).cast("long").as("cents"))
        ev.groupBy(col("user_id"),
            session_window(col("ts"), "30 minutes").as("sw"))
          .agg(count(lit(1)).as("n_events"),
            sum(col("cents")).cast("long").as("cents"))
          .select(col("user_id"),
            date_format(col("sw.start"), "yyyy-MM-dd HH:mm:ss").as("session_start"),
            date_format(col("sw.end"), "yyyy-MM-dd HH:mm:ss").as("session_end"),
            col("n_events"), col("cents"))
          .orderBy("user_id", "session_start")
      },
      Some("""WITH e AS (SELECT user_id, ts,
             |    CAST(floor(value * 100) AS BIGINT) AS cents FROM events),
             |m AS (SELECT user_id, ts, cents,
             |    CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
             |              < INTERVAL 30 MINUTE THEN 0 ELSE 1 END AS brk
             |  FROM e),
             |g AS (SELECT user_id, ts, cents,
             |    sum(brk) OVER (PARTITION BY user_id ORDER BY ts
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
             |  FROM m)
             |SELECT user_id,
             |  strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
             |  strftime(max(ts) + INTERVAL 30 MINUTE,
             |    '%Y-%m-%d %H:%M:%S') AS session_end,
             |  CAST(count(*) AS BIGINT) AS n_events,
             |  CAST(sum(cents) AS BIGINT) AS cents
             |FROM g GROUP BY user_id, sid
             |ORDER BY user_id, session_start""".stripMargin)),

    // per-source Misra-Gries heavy hitters: the two deterministic
    // guarantees (no false negative above n/(k+1); bounded undercount)
    // checked independently per group — sketch state is O(k) per
    // (partition, group) at any corpus size, and the verification join
    // broadcasts the |groups|-row sketch relation
    ("q_grouped_heavy_hitters",
      (s: SparkSession, d: String) =>
        Sketches.groupedHeavyHitters(t(s, d, "documents"), "source", "text",
          k = 8).orderBy("g"),
      Some("""WITH tok AS (SELECT CAST(source AS VARCHAR) AS g,
             |    unnest(regexp_split_to_array(trim(text), '\s+')) AS tkn
             |  FROM documents WHERE trim(text) <> ''),
             |c AS (SELECT g, tkn, count(*) AS cnt FROM tok GROUP BY 1, 2),
             |n AS (SELECT g, CAST(sum(cnt) AS BIGINT) AS n_tokens FROM c GROUP BY 1)
             |SELECT c.g, max(n.n_tokens) AS n_tokens,
             |  CAST(count(*) FILTER (WHERE c.cnt > n.n_tokens / 9e0) AS BIGINT)
             |    AS n_heavy_exact,
             |  true AS all_heavy_covered, true AS est_within_bound,
             |  coalesce(string_agg(tkn, ',' ORDER BY tkn)
             |    FILTER (WHERE c.cnt > n.n_tokens / 9e0), '') AS heavy_covered
             |FROM c JOIN n USING (g) GROUP BY c.g ORDER BY g""".stripMargin)),

    // Duffield–Lund–Thorup priority sampling: integer priorities
    // (w·2³² div h) make the selected set, the threshold τ and the
    // subset-sum estimates ŵ = max(w, τ) replay EXACTLY in the oracle;
    // the true total rides along so the estimator's accuracy is
    // data-visible, not just asserted
    ("q_priority_sample",
      (s: SparkSession, d: String) =>
        Curation.prioritySample(t(s, d, "documents"), "doc_id",
          col("n_chars"), k = 50)
          .orderBy(col("priority").desc, col("item_id")),
      Some("""WITH w AS (SELECT doc_id AS item_id,
             |    greatest(CAST(n_chars AS BIGINT), 1) AS w FROM documents),
             |h AS (SELECT item_id, w,
             |    ('0x' || substr(md5('ps:' || CAST(item_id AS VARCHAR)), 1, 8))::BIGINT
             |      + 1 AS h
             |  FROM w),
             |q AS (SELECT item_id, w,
             |    CAST((w * 4294967296) // h AS BIGINT) AS priority FROM h),
             |top AS (SELECT * FROM q ORDER BY priority DESC, item_id LIMIT 51),
             |tau AS (SELECT CAST(CASE WHEN count(*) < 51 THEN 0
             |    ELSE min(priority) END AS BIGINT) AS tau FROM top),
             |tot AS (SELECT CAST(sum(w) AS BIGINT) AS true_total FROM w)
             |SELECT s.item_id, s.w, s.priority,
             |  CAST(greatest(s.w, tau.tau) AS BIGINT) AS w_hat,
             |  tau.tau, tot.true_total
             |FROM (SELECT * FROM q ORDER BY priority DESC, item_id LIMIT 50) s,
             |  tau, tot
             |ORDER BY s.priority DESC, s.item_id""".stripMargin)),

    // serpentine-LPT shard packing graded ROW-EXACT: the distributed rank
    // (range partitions + broadcast offset join, no single-partition
    // window) must equal the oracle's single-ORDER-BY rank on every row,
    // and the boustrophedon deal formula replays verbatim
    ("q_shard_pack",
      (s: SparkSession, d: String) =>
        Curation.shardPack(t(s, d, "documents"), "doc_id", col("n_chars"),
          nShards = 8).orderBy("item_id"),
      Some("""WITH w AS (SELECT doc_id AS item_id,
             |    greatest(CAST(n_chars AS BIGINT), 1) AS w FROM documents),
             |r AS (SELECT item_id, w,
             |    row_number() OVER (ORDER BY w DESC, item_id) - 1 AS rnk FROM w)
             |SELECT item_id, w,
             |  CAST(CASE WHEN (rnk // 8) % 2 = 0 THEN rnk % 8
             |            ELSE 7 - rnk % 8 END AS BIGINT) AS shard
             |FROM r ORDER BY item_id""".stripMargin)),

    // pairwise moment matrix over integer-scaled lineitem features: the
    // exact BIGINT sufficient statistics for covariance/correlation, one
    // scan for all pairs — emitted as moments (not correlations) so the
    // relation is engine-exact AND mergeable across time partitions
    ("q_feature_moments",
      (s: SparkSession, d: String) =>
        Relational.featureMoments(
          t(s, d, "lineitem").select(
            col("l_quantity").cast("long").as("qty"),
            floor(col("l_extendedprice")).cast("long").as("price_usd"),
            round(col("l_discount") * 100, 0).cast("long").as("disc_pct")),
          Seq("qty", "price_usd", "disc_pct"))
          .orderBy("x", "y"),
      Some {
        val pairs = Seq(("qty", "price_usd"), ("qty", "disc_pct"),
          ("price_usd", "disc_pct"))
        pairs.map { case (x, y) =>
          s"""SELECT '$x' AS x, '$y' AS y, CAST(count(*) AS BIGINT) AS n,
             |  CAST(sum($x) AS BIGINT) AS sum_x, CAST(sum($y) AS BIGINT) AS sum_y,
             |  CAST(sum($x * $y) AS BIGINT) AS sum_xy,
             |  CAST(sum($x * $x) AS BIGINT) AS sum_xx,
             |  CAST(sum($y * $y) AS BIGINT) AS sum_yy
             |FROM (SELECT CAST(l_quantity AS BIGINT) AS qty,
             |        CAST(floor(l_extendedprice) AS BIGINT) AS price_usd,
             |        CAST(round(l_discount * 100) AS BIGINT) AS disc_pct
             |      FROM lineitem)""".stripMargin
        }.mkString("", "\nUNION ALL\n", "\nORDER BY x, y")
      }),

    // per-source token-distribution entropy in micro-bits fixed point:
    // each distinct term contributes a per-term ROUNDED integer, so the
    // cross-partition sum is order-independent — corpus-diversity
    // telemetry graded exactly
    ("q_source_entropy",
      (s: SparkSession, d: String) =>
        TextAnalysis.sourceEntropy(t(s, d, "documents"), "source", "text")
          .orderBy("g"),
      Some("""WITH tok AS (SELECT CAST(source AS VARCHAR) AS g,
             |    unnest(regexp_split_to_array(trim(text), '\s+')) AS tkn
             |  FROM documents WHERE trim(text) <> ''),
             |c AS (SELECT g, tkn, count(*) AS c FROM tok GROUP BY 1, 2),
             |t AS (SELECT g, CAST(sum(c) AS BIGINT) AS n FROM c GROUP BY 1)
             |SELECT c.g, max(t.n) AS n_tokens,
             |  CAST(count(*) AS BIGINT) AS n_terms,
             |  CAST(sum(CAST(round(1000000 * (c.c / t.n) * log2(t.n / c.c))
             |    AS BIGINT)) AS BIGINT) AS entropy_ubits
             |FROM c JOIN t USING (g) GROUP BY c.g ORDER BY g""".stripMargin)),

    // ColBERT-style late-interaction retrieval: score = Σ_i max_j
    // cosine(q_i, d_j) over 8 deterministic 8-dim chunks — partial
    // topical overlap ranks above what single-vector cosine allows; the
    // oracle replays the nested max-of-cosines fold with list_reduce so
    // double accumulation order matches Spark's left-to-right aggregate
    ("q_maxsim_topk",
      (s: SparkSession, d: String) => {
        val emb = t(s, d, "embeddings")
        Similarity.maxSimTopK(emb, emb.filter(col("vec_id") < 8),
            "vec_id", "embedding", chunks = 8, k = 5)
          .select(col("query_id"), col("neighbor_id"), col("maxsim"),
            col("rnk").cast("long").as("rnk"))
      },
      Some("""WITH e AS (
             |  SELECT vec_id,
             |    list_transform(range(0, 8), i ->
             |      list_transform(list_slice(embedding, i*8+1, i*8+8),
             |        x -> CAST(x AS DOUBLE))) AS cs
             |  FROM embeddings),
             |q AS (SELECT vec_id AS query_id, cs AS qcs FROM e WHERE vec_id < 8),
             |s AS (
             |  SELECT q.query_id, e.vec_id AS neighbor_id,
             |    round(list_reduce(list_transform(q.qcs, qc ->
             |      list_max(list_transform(e.cs, dc ->
             |        CASE WHEN sqrt(list_inner_product(qc, qc)
             |                       * list_inner_product(dc, dc)) = 0 THEN 0e0
             |             ELSE list_inner_product(qc, dc)
             |                  / sqrt(list_inner_product(qc, qc)
             |                         * list_inner_product(dc, dc)) END))),
             |      (acc, x) -> acc + x), 6) AS maxsim
             |  FROM e JOIN q ON q.query_id <> e.vec_id),
             |r AS (SELECT query_id, neighbor_id, maxsim,
             |        row_number() OVER (PARTITION BY query_id
             |                           ORDER BY maxsim DESC, neighbor_id) AS rn
             |      FROM s)
             |SELECT query_id, neighbor_id, maxsim, CAST(rn AS BIGINT) AS rnk
             |FROM r WHERE rn <= 5 ORDER BY query_id, rnk""".stripMargin)),

    // distinct-1/2/3 diversity per source (Li et al. 2016's distinct-n):
    // exact total/distinct window counts + ratio — template-dominated
    // sources collapse toward 0; the oracle rebuilds every n-gram window
    // positionally
    ("q_distinct_ngrams",
      (s: SparkSession, d: String) =>
        TextAnalysis.distinctNgrams(t(s, d, "documents"), "source", "text",
          ns = Seq(1, 2, 3)).orderBy("g", "n"),
      Some("""WITH tok AS (SELECT CAST(source AS VARCHAR) AS g,
             |    regexp_split_to_array(trim(text), '\s+') AS a
             |  FROM documents WHERE trim(text) <> ''),
             |u AS (
             |  SELECT 1 AS n, g, unnest(a) AS gram FROM tok
             |  UNION ALL
             |  SELECT 2, g, unnest(list_transform(range(1, len(a)),
             |    i -> a[i] || ' ' || a[i+1])) FROM tok
             |  UNION ALL
             |  SELECT 3, g, unnest(list_transform(range(1, len(a) - 1),
             |    i -> a[i] || ' ' || a[i+1] || ' ' || a[i+2])) FROM tok)
             |SELECT g, CAST(n AS BIGINT) AS n,
             |  CAST(count(*) AS BIGINT) AS n_grams,
             |  CAST(count(DISTINCT gram) AS BIGINT) AS n_distinct,
             |  round(count(DISTINCT gram) / count(*), 6) AS distinct_ratio
             |FROM u GROUP BY g, n ORDER BY g, n""".stripMargin)),

    // stratified DLT priority sampling: an independent weighted sample +
    // per-source subset-sum estimates per stratum; selection, per-group
    // threshold τ and every estimate replay exactly (integer priorities)
    ("q_stratified_priority",
      (s: SparkSession, d: String) =>
        Curation.prioritySampleByGroup(t(s, d, "documents"), "source",
          "doc_id", col("n_chars"), k = 5)
          .orderBy(col("g"), col("priority").desc, col("item_id")),
      Some("""WITH w AS (SELECT CAST(source AS VARCHAR) AS g, doc_id AS item_id,
             |    greatest(CAST(n_chars AS BIGINT), 1) AS w FROM documents),
             |h AS (SELECT g, item_id, w,
             |    ('0x' || substr(md5('ps:' || CAST(item_id AS VARCHAR)), 1, 8))::BIGINT
             |      + 1 AS h FROM w),
             |q AS (SELECT g, item_id, w,
             |    CAST((w * 4294967296) // h AS BIGINT) AS priority FROM h),
             |r AS (SELECT *, row_number() OVER (PARTITION BY g
             |        ORDER BY priority DESC, item_id) AS rn FROM q),
             |tau AS (SELECT g, CAST(coalesce(max(CASE WHEN rn = 6 THEN priority END), 0)
             |          AS BIGINT) AS tau FROM r GROUP BY g),
             |tot AS (SELECT g, CAST(sum(w) AS BIGINT) AS true_total FROM w GROUP BY g)
             |SELECT r.g, r.item_id, r.w, r.priority,
             |  CAST(greatest(r.w, tau.tau) AS BIGINT) AS w_hat, tau.tau, tot.true_total
             |FROM r JOIN tau USING (g) JOIN tot USING (g)
             |WHERE r.rn <= 5
             |ORDER BY r.g, r.priority DESC, r.item_id""".stripMargin)),

    // pairwise Jensen-Shannon divergence matrix between source token
    // distributions, µbits fixed point — per-term contributions round
    // BEFORE the sum (order-independent); n_shared rides along so
    // vocabulary overlap is data-visible next to the divergence
    ("q_js_divergence",
      (s: SparkSession, d: String) =>
        TextAnalysis.jsDivergence(t(s, d, "documents"), "source", "text")
          .orderBy("ga", "gb"),
      Some("""WITH tok AS (SELECT CAST(source AS VARCHAR) AS g,
             |    unnest(regexp_split_to_array(trim(text), '\s+')) AS tkn
             |  FROM documents WHERE trim(text) <> ''),
             |c AS (SELECT g, tkn, count(*) AS c FROM tok GROUP BY 1, 2),
             |t AS (SELECT g, CAST(sum(c) AS BIGINT) AS n FROM c GROUP BY 1),
             |d AS (SELECT c.g, c.tkn, c.c, t.n FROM c JOIN t USING (g)),
             |f AS (SELECT least(d.g, s.g) AS ga, greatest(d.g, s.g) AS gb, d.tkn,
             |        CASE WHEN d.g < s.g THEN d.c ELSE 0 END AS ca,
             |        CASE WHEN d.g < s.g THEN 0 ELSE d.c END AS cb,
             |        CASE WHEN d.g < s.g THEN d.n ELSE s.n END AS na,
             |        CASE WHEN d.g < s.g THEN s.n ELSE d.n END AS nb
             |      FROM d CROSS JOIN t s WHERE d.g <> s.g),
             |bt AS (SELECT ga, gb, tkn, sum(ca) AS ca, sum(cb) AS cb,
             |         max(na) AS na, max(nb) AS nb
             |       FROM f GROUP BY 1, 2, 3),
             |e AS (SELECT ga, gb,
             |        CAST(round(1000000 * (
             |          CASE WHEN ca > 0 THEN (ca / na)
             |            * log2(2 * (ca / na) / ((ca / na) + (cb / nb)))
             |            ELSE 0 END * 0.5
             |        + CASE WHEN cb > 0 THEN (cb / nb)
             |            * log2(2 * (cb / nb) / ((ca / na) + (cb / nb)))
             |            ELSE 0 END * 0.5)) AS BIGINT) AS efp,
             |        CASE WHEN ca > 0 AND cb > 0 THEN 1 ELSE 0 END AS sh
             |      FROM bt)
             |SELECT ga, gb, CAST(count(*) AS BIGINT) AS n_terms,
             |  CAST(sum(sh) AS BIGINT) AS n_shared,
             |  CAST(sum(efp) AS BIGINT) AS js_ubits
             |FROM e GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // C4-style line cleaning (Raffel et al. 2020 §2.2) over pages built
    // from the fixture with every rule exercised: terminal-punct,
    // min-words, javascript line drops; lorem-ipsum / curly-brace /
    // too-few-kept page drops — graded with full accounting per page
    ("q_c4_line_filter",
      (s: SparkSession, d: String) => {
        val page = concat(
          lit("This opening line has enough words to stay.\n"),
          lit("Another fine line survives cleaning here.\n"),
          lit("no terminal punct line\n"),
          lit("Tiny.\n"),
          lit("This line mentions javascript and must go.\n"),
          concat(array_join(slice(TextAnalysis.tokens(col("text")), 1, 8), " "),
            lit(".")),
          when(col("doc_id") % 13 === 0, lit("\nlorem ipsum")).otherwise(lit("")),
          when(col("doc_id") % 17 === 0, lit("\nBraces { break pages."))
            .otherwise(lit("")))
        TextAnalysis.c4Clean(
            t(s, d, "documents").select(col("doc_id"), page.as("text")),
            "doc_id", "text")
          .orderBy("doc_id")
      },
      Some("""WITH p AS (SELECT doc_id,
             |    'This opening line has enough words to stay.' || chr(10) ||
             |    'Another fine line survives cleaning here.' || chr(10) ||
             |    'no terminal punct line' || chr(10) ||
             |    'Tiny.' || chr(10) ||
             |    'This line mentions javascript and must go.' || chr(10) ||
             |    array_to_string(list_slice(regexp_split_to_array(trim(text), '\s+'),
             |      1, 8), ' ') || '.' ||
             |    CASE WHEN doc_id % 13 = 0 THEN chr(10) || 'lorem ipsum' ELSE '' END ||
             |    CASE WHEN doc_id % 17 = 0 THEN chr(10) || 'Braces { break pages.'
             |         ELSE '' END AS t
             |  FROM documents),
             |k AS (SELECT doc_id, t, string_split(t, chr(10)) AS ls,
             |        list_filter(string_split(t, chr(10)), x ->
             |          regexp_matches(trim(x), '[.!?"]$')
             |          AND len(regexp_split_to_array(trim(x), '\s+')) >= 3
             |          AND NOT contains(lower(x), 'javascript')) AS kept
             |      FROM p)
             |SELECT doc_id,
             |  (NOT (contains(lower(t), 'lorem ipsum') OR contains(t, '{')))
             |    AND len(kept) >= 3 AS keep,
             |  CAST(len(ls) AS BIGINT) AS n_lines,
             |  CAST(len(kept) AS BIGINT) AS n_kept_lines,
             |  CASE WHEN (NOT (contains(lower(t), 'lorem ipsum') OR contains(t, '{')))
             |              AND len(kept) >= 3
             |       THEN array_to_string(kept, chr(10)) ELSE '' END AS cleaned
             |FROM k ORDER BY doc_id""".stripMargin)),

    // hybrid retrieval via Reciprocal Rank Fusion: a lexical ranking
    // (term frequency of 'spark') and a semantic ranking (cosine to the
    // vec_id-0 embedding) merge through integer RRF contributions — the
    // fused list and its corroboration counts replay exactly
    ("q_hybrid_rrf",
      (s: SparkSession, d: String) => {
        import org.apache.spark.sql.expressions.Window
        val docs = t(s, d, "documents")
        val emb = t(s, d, "embeddings")
        val lex = docs.select(col("doc_id"),
            size(filter(TextAnalysis.tokens(col("text")), tk => tk === "spark"))
              .cast("long").as("tf"))
          .filter(col("tf") > 0)
          .orderBy(col("tf").desc, col("doc_id")).limit(20)
          .withColumn("rank",
            row_number().over(Window.orderBy(col("tf").desc, col("doc_id"))))
          .select("doc_id", "rank")
        val qv = emb.filter(col("vec_id") === 0).select(col("embedding").as("qv"))
        val sem = emb.filter(col("vec_id") =!= 0).crossJoin(broadcast(qv))
          .select(col("vec_id").as("doc_id"),
            round(Similarity.cosineF(col("embedding"), col("qv")), 6).as("cos"))
          .orderBy(col("cos").desc, col("doc_id")).limit(20)
          .withColumn("rank",
            row_number().over(Window.orderBy(col("cos").desc, col("doc_id"))))
          .select("doc_id", "rank")
        Retrieval.rrfFuse(Seq(lex, sem), "doc_id", "rank", kConst = 60, topK = 10)
          .orderBy(col("rrf_fp").desc, col("item_id"))
      },
      Some("""WITH lex0 AS (SELECT doc_id,
             |    CAST(len(list_filter(regexp_split_to_array(trim(text), '\s+'),
             |      t -> t = 'spark')) AS BIGINT) AS tf
             |  FROM documents WHERE trim(text) <> ''),
             |lex AS (SELECT doc_id, row_number() OVER (ORDER BY tf DESC, doc_id)
             |          AS rank
             |        FROM (SELECT * FROM lex0 WHERE tf > 0
             |              ORDER BY tf DESC, doc_id LIMIT 20)),
             |e AS (SELECT vec_id,
             |        list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
             |      FROM embeddings),
             |qv AS (SELECT v FROM e WHERE vec_id = 0),
             |sem0 AS (SELECT e.vec_id AS doc_id,
             |    round(CASE WHEN sqrt(list_inner_product(e.v, e.v)
             |                         * list_inner_product(qv.v, qv.v)) = 0 THEN 0e0
             |          ELSE list_inner_product(e.v, qv.v)
             |               / sqrt(list_inner_product(e.v, e.v)
             |                      * list_inner_product(qv.v, qv.v)) END, 6) AS cos
             |  FROM e, qv WHERE e.vec_id <> 0),
             |sem AS (SELECT doc_id, row_number() OVER (ORDER BY cos DESC, doc_id)
             |          AS rank
             |        FROM (SELECT * FROM sem0 ORDER BY cos DESC, doc_id LIMIT 20)),
             |u AS (SELECT doc_id, CAST(round(1000000000.0 / (60 + rank)) AS BIGINT)
             |        AS c FROM lex
             |      UNION ALL
             |      SELECT doc_id, CAST(round(1000000000.0 / (60 + rank)) AS BIGINT)
             |      FROM sem)
             |SELECT doc_id AS item_id, CAST(sum(c) AS BIGINT) AS rrf_fp,
             |  CAST(count(*) AS BIGINT) AS n_lists
             |FROM u GROUP BY 1 ORDER BY rrf_fp DESC, item_id LIMIT 10""".stripMargin)),

    // silence trim at |s| ≥ 30000 (~8% of the synthetic amplitude range,
    // so leading/trailing runs vary per doc and a few clips trim to
    // EMPTY): the oracle finds the first/last loud sample analytically
    // and replays the kept range's stats with re-based checksum indices
    ("q_audio_trim",
      (s: SparkSession, d: String) =>
        Multimodal.decodeAudioStats(
            Multimodal.trimSilence(
              Multimodal.withAudioMedia(t(s, d, "documents")), threshold = 30000))
          .toDF()
          .orderBy("doc_id"),
      Some("""WITH dims AS (
             |  SELECT doc_id, 64 + n_chars % 200 AS n,
             |    8000 + (n_chars % 3) * 4000 AS rate
             |  FROM documents),
             |sm AS (
             |  SELECT d.doc_id, d.n, d.rate, t.i,
             |    (((31*d.doc_id + 7*t.i) % 65536) - 32768) AS s
             |  FROM dims d JOIN range(0, 264) t(i) ON t.i < d.n),
             |b AS (
             |  SELECT doc_id, n, rate,
             |    min(CASE WHEN abs(s) >= 30000 THEN i END) AS fi,
             |    max(CASE WHEN abs(s) >= 30000 THEN i END) AS la
             |  FROM sm GROUP BY doc_id, n, rate),
             |k AS (SELECT doc_id, rate, fi, coalesce(la - fi + 1, 0) AS kept FROM b),
             |ag AS (
             |  SELECT k.doc_id, k.rate, k.kept,
             |    coalesce(sum(CASE WHEN sm.i >= k.fi AND sm.i < k.fi + k.kept
             |      THEN sm.s END), 0) AS ssum,
             |    coalesce(sum(CASE WHEN sm.i >= k.fi AND sm.i < k.fi + k.kept
             |      THEN sm.s * ((sm.i - k.fi) % 97 + 1) END), 0) AS schk,
             |    coalesce(max(CASE WHEN sm.i >= k.fi AND sm.i < k.fi + k.kept
             |      THEN abs(sm.s) END), 0) AS pk
             |  FROM k JOIN sm USING (doc_id) GROUP BY 1, 2, 3)
             |SELECT doc_id, CAST(44 + 2*kept AS BIGINT) AS media_bytes,
             |  CAST(rate AS BIGINT) AS sample_rate, CAST(kept AS BIGINT) AS n_samples,
             |  CAST(ssum AS BIGINT) AS sample_sum,
             |  CAST(schk AS BIGINT) AS sample_checksum,
             |  CAST(pk AS BIGINT) AS peak_abs
             |FROM ag ORDER BY doc_id""".stripMargin)),

    // TPC-H Q3 shape: the canonical 3-table join-order benchmark as one
    // shared SQL string — Catalyst must broadcast the filtered customer
    // side and push both date filters to the scans for this to be the
    // right plan at scale
    ("q_sql_shipping_priority",
      (s: SparkSession, d: String) => {
        Tables.registerAll(s, d)
        s.sql(ShippingPrioritySql)
      },
      Some(ShippingPrioritySql)),

    // histogram selectivity estimation under AVI vs the truth, on the
    // DELIBERATELY correlated (l_quantity, l_extendedprice) pair — the
    // row shows the independence assumption failing, which is exactly
    // what multi-column stats exist to fix
    ("q_selectivity_est",
      (s: SparkSession, d: String) =>
        Relational.selectivityEstimate(t(s, d, "lineitem"),
          "l_quantity", 24.0, "l_extendedprice", 30000.0, buckets = 8),
      Some("""WITH v AS (SELECT CAST(l_quantity AS DOUBLE) AS x,
             |    CAST(l_extendedprice AS DOUBLE) AS y FROM lineitem),
             |s AS (SELECT list_sort(list(x)) AS xs, list_sort(list(y)) AS ys,
             |        count(*) AS n,
             |        sum(CASE WHEN x > 24 AND y < 30000 THEN 1 ELSE 0 END) AS m
             |      FROM v),
             |c AS (SELECT n, m,
             |    (CASE WHEN xs[CAST(ceil(n * 0.125) AS BIGINT)] <= 24 THEN 1 ELSE 0 END
             |   + CASE WHEN xs[CAST(ceil(n * 0.25)  AS BIGINT)] <= 24 THEN 1 ELSE 0 END
             |   + CASE WHEN xs[CAST(ceil(n * 0.375) AS BIGINT)] <= 24 THEN 1 ELSE 0 END
             |   + CASE WHEN xs[CAST(ceil(n * 0.5)   AS BIGINT)] <= 24 THEN 1 ELSE 0 END
             |   + CASE WHEN xs[CAST(ceil(n * 0.625) AS BIGINT)] <= 24 THEN 1 ELSE 0 END
             |   + CASE WHEN xs[CAST(ceil(n * 0.75)  AS BIGINT)] <= 24 THEN 1 ELSE 0 END
             |   + CASE WHEN xs[CAST(ceil(n * 0.875) AS BIGINT)] <= 24 THEN 1 ELSE 0 END)
             |      AS nbx,
             |    (CASE WHEN ys[CAST(ceil(n * 0.125) AS BIGINT)] < 30000 THEN 1 ELSE 0 END
             |   + CASE WHEN ys[CAST(ceil(n * 0.25)  AS BIGINT)] < 30000 THEN 1 ELSE 0 END
             |   + CASE WHEN ys[CAST(ceil(n * 0.375) AS BIGINT)] < 30000 THEN 1 ELSE 0 END
             |   + CASE WHEN ys[CAST(ceil(n * 0.5)   AS BIGINT)] < 30000 THEN 1 ELSE 0 END
             |   + CASE WHEN ys[CAST(ceil(n * 0.625) AS BIGINT)] < 30000 THEN 1 ELSE 0 END
             |   + CASE WHEN ys[CAST(ceil(n * 0.75)  AS BIGINT)] < 30000 THEN 1 ELSE 0 END
             |   + CASE WHEN ys[CAST(ceil(n * 0.875) AS BIGINT)] < 30000 THEN 1 ELSE 0 END)
             |      AS nby
             |  FROM s)
             |SELECT CAST(round(10000 * (8 - nbx - 0.5) / 8) AS BIGINT) AS x_est_bp,
             |  CAST(round(10000 * (nby + 0.5) / 8) AS BIGINT) AS y_est_bp,
             |  CAST((CAST(round(10000 * (8 - nbx - 0.5) / 8) AS BIGINT)
             |        * CAST(round(10000 * (nby + 0.5) / 8) AS BIGINT)) // 10000
             |    AS BIGINT) AS combined_est_bp,
             |  CAST(round(10000 * m / n) AS BIGINT) AS actual_bp,
             |  CAST(n AS BIGINT) AS n_rows, CAST(m AS BIGINT) AS n_match
             |FROM c""".stripMargin)),

    // streaming distribution-drift monitor: a REAL three-batch
    // AvailableNow run maintaining per-(source, token) counts, graded on
    // the FULL per-epoch entropy ledger — epoch e must equal the entropy
    // of the batch-0..e prefix, which the oracle recomputes from scratch
    ("q_stream_drift",
      (s: SparkSession, d: String) => {
        val docs = t(s, d, "documents").select("doc_id", "source", "text")
        val inDir = scratchDir("drift_in")
        (0 until 3).foreach { i =>
          stageArrivalFile(docs.filter(col("doc_id") % 3 === i), inDir,
            s"batch$i.parquet", 1700000000000L + i * 60000L)
        }
        val root = scratchDir("drift_tbl")
        val stream = s.readStream.schema(docs.schema)
          .option("maxFilesPerTrigger", 1).parquet(inDir)
        withShufflePartitions(s, 8) {
          val q = graft.streaming.Streams.entropyDriftSink(stream,
            "source", "text", root, scratchDir("drift_ckpt")).start()
          q.awaitTermination()
        }
        graft.streaming.Streams.readDriftLedger(s, root)
          .select(col("epoch").cast("long").as("epoch"), col("g"),
            col("n_tokens"), col("n_terms"), col("entropy_ubits"))
          .orderBy("epoch", "g")
      },
      Some("""WITH e AS (SELECT unnest(range(0, 3)) AS epoch),
             |tok AS (SELECT e.epoch, CAST(d.source AS VARCHAR) AS g,
             |    unnest(regexp_split_to_array(trim(d.text), '\s+')) AS tkn
             |  FROM documents d JOIN e ON d.doc_id % 3 <= e.epoch
             |  WHERE trim(d.text) <> ''),
             |c AS (SELECT epoch, g, tkn, count(*) AS c FROM tok GROUP BY 1, 2, 3),
             |t AS (SELECT epoch, g, CAST(sum(c) AS BIGINT) AS n
             |      FROM c GROUP BY 1, 2)
             |SELECT CAST(c.epoch AS BIGINT) AS epoch, c.g,
             |  max(t.n) AS n_tokens, CAST(count(*) AS BIGINT) AS n_terms,
             |  CAST(sum(CAST(round(1000000 * (c.c / t.n) * log2(t.n / c.c))
             |    AS BIGINT)) AS BIGINT) AS entropy_ubits
             |FROM c JOIN t USING (epoch, g) GROUP BY c.epoch, c.g
             |ORDER BY epoch, g""".stripMargin)),

    // per-user time-weighted average over the irregular event stream —
    // step interpolation in exact integer cents·µs; the oracle replays
    // the lead window and the truncating division
    ("q_twap",
      (s: SparkSession, d: String) =>
        Temporal.twap(t(s, d, "events"), "user_id", "ts", "value")
          .orderBy("user_id"),
      Some("""WITH e AS (SELECT user_id, ts,
             |    CAST(floor(value * 100) AS BIGINT) AS cents FROM events),
             |s AS (SELECT user_id, cents,
             |    epoch_us(lead(ts) OVER (PARTITION BY user_id ORDER BY ts, cents))
             |      - epoch_us(ts) AS dt,
             |    first_value(cents) OVER (PARTITION BY user_id ORDER BY ts, cents)
             |      AS fc
             |  FROM e),
             |g AS (SELECT user_id, count(*) AS n_events,
             |        sum(cents * dt) AS vdt, sum(dt) AS span, max(fc) AS fc
             |      FROM s GROUP BY 1)
             |SELECT user_id, CAST(n_events AS BIGINT) AS n_events,
             |  CAST(CASE WHEN span IS NULL OR span = 0 THEN fc
             |       ELSE vdt // span END AS BIGINT) AS twap_cents,
             |  CAST(coalesce(span, 0) AS BIGINT) AS span_us
             |FROM g ORDER BY user_id""".stripMargin)),

    // sliding 7-day distinct users: exact vs MERGED DAILY KMV SKETCHES —
    // the windowed-distinct problem where sketches turn windowDays×
    // re-scans into O(k) merges; sketch state and integer estimator
    // replay exactly (md5 hash discipline), accuracy is data-visible
    ("q_sliding_distinct",
      (s: SparkSession, d: String) =>
        Sketches.slidingDistinct(t(s, d, "events"), "ts", "user_id",
          windowDays = 7, k = 64)
          .orderBy("window_day"),
      Some("""WITH e AS (SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
             |    CAST(user_id AS VARCHAR) AS u FROM events),
             |days AS (SELECT DISTINCT day FROM e),
             |dh AS (SELECT DISTINCT day,
             |         ('0x' || substr(md5(u), 1, 8))::BIGINT AS h FROM e),
             |sk AS (SELECT day, h FROM (
             |        SELECT day, h, row_number() OVER (PARTITION BY day ORDER BY h)
             |          AS rn FROM dh)
             |       WHERE rn <= 64),
             |sw AS (SELECT DISTINCT (s.day + CAST(o.o AS INTEGER)) AS wday, s.h
             |       FROM sk s CROSS JOIN range(0, 7) o(o)
             |       JOIN days d ON d.day = s.day + CAST(o.o AS INTEGER)),
             |mg AS (SELECT wday, h,
             |         row_number() OVER (PARTITION BY wday ORDER BY h) AS rn,
             |         count(*) OVER (PARTITION BY wday) AS cnt
             |       FROM sw),
             |m2 AS (SELECT wday, least(cnt, 64) AS k_used,
             |         max(CASE WHEN rn = least(cnt, 64) THEN h END) AS kth
             |       FROM mg WHERE rn <= 64 GROUP BY wday, cnt),
             |ex AS (SELECT wday, CAST(count(DISTINCT u) AS BIGINT) AS n_exact
             |       FROM (SELECT (e.day + CAST(o.o AS INTEGER)) AS wday, e.u
             |             FROM e CROSS JOIN range(0, 7) o(o)
             |             JOIN days d ON d.day = e.day + CAST(o.o AS INTEGER))
             |       GROUP BY wday)
             |SELECT CAST(m2.wday AS VARCHAR) AS window_day, ex.n_exact,
             |  CAST(m2.k_used AS BIGINT) AS k_used,
             |  CAST(CASE WHEN m2.k_used < 64 THEN m2.k_used
             |       ELSE (63 * 4294967296) // m2.kth END AS BIGINT) AS est_distinct
             |FROM ex JOIN m2 USING (wday) ORDER BY window_day""".stripMargin)),

    // top-20 collocations by count with fixed-point PMI riding along —
    // the oracle rebuilds bigrams positionally and replays the PMI
    // formula structurally
    ("q_collocations",
      (s: SparkSession, d: String) =>
        TextAnalysis.collocations(t(s, d, "documents"), "text", k = 20)
          .orderBy(col("c_xy").desc, col("bigram")),
      Some("""WITH t AS (SELECT regexp_split_to_array(trim(text), '\s+') AS a
             |  FROM documents WHERE trim(text) <> ''),
             |bg AS (SELECT unnest(list_transform(range(1, len(a)),
             |         i -> a[i] || ' ' || a[i+1])) AS bigram FROM t),
             |bc AS (SELECT bigram, count(*) AS c_xy FROM bg GROUP BY 1
             |       HAVING count(*) >= 2),
             |uni AS (SELECT unnest(a) AS w FROM t),
             |uc AS (SELECT w, count(*) AS c FROM uni GROUP BY 1),
             |tot AS (SELECT (SELECT CAST(sum(c) AS BIGINT) FROM uc) AS n_tokens,
             |               (SELECT CAST(count(*) AS BIGINT) FROM bg) AS n_bigrams),
             |sc AS (SELECT bc.bigram, bc.c_xy, x.c AS c_x, y.c AS c_y,
             |         CAST(round(1000000 * log2(
             |           (bc.c_xy / tot.n_bigrams)
             |           / ((x.c / tot.n_tokens) * (y.c / tot.n_tokens)))) AS BIGINT)
             |           AS pmi_ubits
             |       FROM bc
             |       JOIN uc x ON x.w = split_part(bc.bigram, ' ', 1)
             |       JOIN uc y ON y.w = split_part(bc.bigram, ' ', 2)
             |       CROSS JOIN tot)
             |SELECT bigram, CAST(c_xy AS BIGINT) AS c_xy,
             |  CAST(c_x AS BIGINT) AS c_x, CAST(c_y AS BIGINT) AS c_y, pmi_ubits
             |FROM sc ORDER BY c_xy DESC, bigram LIMIT 20""".stripMargin)),

    // export manifest over the serpentine shard assignment: per-shard
    // counts, weight sums and an ORDER-INDEPENDENT md5-derived content
    // checksum — the reproducibility artifact a re-run diffs instead of
    // bytes; oracle replays rank, deal and checksum
    ("q_shard_manifest",
      (s: SparkSession, d: String) =>
        Curation.shardManifest(
            Curation.shardPack(t(s, d, "documents"), "doc_id",
              col("n_chars"), nShards = 8))
          .orderBy("shard"),
      Some("""WITH w AS (SELECT doc_id AS item_id,
             |    greatest(CAST(n_chars AS BIGINT), 1) AS w FROM documents),
             |r AS (SELECT item_id, w,
             |    row_number() OVER (ORDER BY w DESC, item_id) - 1 AS rnk FROM w),
             |a AS (SELECT item_id, w,
             |    CASE WHEN (rnk // 8) % 2 = 0 THEN rnk % 8
             |         ELSE 7 - rnk % 8 END AS shard FROM r)
             |SELECT CAST(shard AS BIGINT) AS shard,
             |  CAST(count(*) AS BIGINT) AS n_rows,
             |  CAST(sum(w) AS BIGINT) AS w_sum,
             |  CAST(sum(('0x' || substr(md5('mf:' || CAST(item_id AS VARCHAR)), 1, 8))::BIGINT)
             |    AS BIGINT) AS content_chk
             |FROM a GROUP BY 1 ORDER BY shard""".stripMargin)),

    // weighted (volume-weighted) median per group: smallest value whose
    // cumulative weight reaches half the total — DISCRETE, so the
    // cutoff is a data value and the compare replays exactly
    ("q_weighted_median",
      (s: SparkSession, d: String) =>
        Relational.weightedMedian(t(s, d, "lineitem"), "l_returnflag",
          "l_extendedprice", "l_quantity")
          .orderBy("l_returnflag"),
      Some("""WITH s AS (SELECT l_returnflag AS g, l_extendedprice AS v,
             |    CAST(l_quantity AS BIGINT) AS w FROM lineitem),
             |c AS (SELECT g, v, w,
             |    sum(w) OVER (PARTITION BY g ORDER BY v, w
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
             |    sum(w) OVER (PARTITION BY g) AS tot
             |  FROM s)
             |SELECT g AS l_returnflag, min(v) AS w_median,
             |  CAST(max(tot) AS BIGINT) AS total_weight
             |FROM c WHERE cum * 2 >= tot GROUP BY g
             |ORDER BY l_returnflag""".stripMargin)),

    // per-channel histogram equalization graded through the decoded
    // stats of the remapped image — the oracle rebuilds every channel's
    // 256-bin CDF closed-form and replays the integer remap formula
    // pixel-by-pixel (truncating // matches the JVM integer division)
    ("q_hist_equalize",
      (s: SparkSession, d: String) =>
        Multimodal.decodePixelStats(
            Multimodal.equalizeMedia(
              Multimodal.withPixelMedia(t(s, d, "documents"))))
          .toDF()
          .orderBy("doc_id"),
      Some("""WITH dims AS (
             |  SELECT doc_id, 4 + n_chars % 13 AS w, 3 + n_chars % 11 AS h,
             |    CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'bmp'
             |         WHEN 1 THEN 'ppm' ELSE 'pgm' END AS format,
             |    CASE CAST(doc_id % 3 AS INT) WHEN 2 THEN 1 ELSE 3 END AS c
             |  FROM documents),
             |px AS (
             |  SELECT d.doc_id, d.format, d.w, d.h, d.c, t.i,
             |    CAST(t.i % d.c AS INT) AS ch,
             |    (31*d.doc_id + 7*t.i) % 256 AS v
             |  FROM dims d JOIN range(0, 1024) t(i) ON t.i < d.w*d.h*d.c),
             |hist AS (SELECT doc_id, ch, v, count(*) AS n
             |         FROM px GROUP BY 1, 2, 3),
             |cdf AS (SELECT doc_id, ch, v,
             |          sum(n) OVER (PARTITION BY doc_id, ch ORDER BY v) AS cdf
             |        FROM hist),
             |cm AS (SELECT cdf.doc_id, cdf.ch, cdf.cdf AS cdfmin
             |       FROM cdf JOIN (SELECT doc_id, ch, min(v) AS vmin
             |                      FROM hist GROUP BY 1, 2) m
             |         ON cdf.doc_id = m.doc_id AND cdf.ch = m.ch AND cdf.v = m.vmin),
             |map AS (SELECT cdf.doc_id, cdf.ch, cdf.v, d.w * d.h AS npx,
             |          CASE WHEN d.w * d.h = cm.cdfmin THEN 0
             |               ELSE (cdf.cdf - cm.cdfmin) * 255 // (d.w * d.h - cm.cdfmin)
             |          END AS nv
             |        FROM cdf
             |        JOIN cm ON cdf.doc_id = cm.doc_id AND cdf.ch = cm.ch
             |        JOIN dims d ON d.doc_id = cdf.doc_id),
             |rp AS (SELECT px.doc_id, px.format, px.w, px.h, px.c, px.i, map.nv
             |       FROM px JOIN map ON px.doc_id = map.doc_id
             |         AND px.ch = map.ch AND px.v = map.v),
             |ag AS (SELECT doc_id, format, w, h, c,
             |         sum(nv) AS pix_sum, sum(nv * (i % 97 + 1)) AS pix_checksum
             |       FROM rp GROUP BY 1, 2, 3, 4, 5)
             |SELECT doc_id, format,
             |  CAST(CASE format
             |    WHEN 'bmp' THEN 54 + ((3*w + 3)//4)*4*h
             |    ELSE 9 + length(CAST(w AS VARCHAR)) + length(CAST(h AS VARCHAR)) + w*h*c
             |  END AS BIGINT) AS media_bytes,
             |  CAST(w AS BIGINT) AS width, CAST(h AS BIGINT) AS height,
             |  CAST(c AS BIGINT) AS channels,
             |  CAST(w*h*c AS BIGINT) AS n_pixel_bytes,
             |  CAST(pix_sum AS BIGINT) AS pix_sum,
             |  CAST(pix_checksum AS BIGINT) AS pix_checksum
             |FROM ag ORDER BY doc_id""".stripMargin)),

    // chrF-6 generation eval (char-gram P/R/F2 over whitespace-stripped
    // strings) on the rouge_eval candidate construction — the oracle
    // rebuilds every char 6-gram positionally and clips the multiset
    // overlap through a counts join
    ("q_chrf_eval",
      (s: SparkSession, d: String) => {
        // per-doc character-6-gram multiset overlap is the compute
        // (measured two ~0.7 s single-task stages); spread the raw rows
        val docs2 = Par.spread(t(s, d, "documents").select("doc_id", "text"))
          .select(col("doc_id"), TextAnalysis.tokens(col("text")).as("tk"))
          .select(col("doc_id"),
            array_join(concat(
              expr("slice(tk, 1, (size(tk) * 2 + 2) div 3)"),
              array(lit("spark"), lit("spark"))), " ").as("cand"),
            array_join(col("tk"), " ").as("ref"))
        TextAnalysis.chrF(docs2, "doc_id", "cand", "ref", k = 6)
          .orderBy("doc_id")
      },
      Some("""WITH tk AS (SELECT doc_id,
             |    CASE WHEN trim(text) = '' THEN []::VARCHAR[]
             |         ELSE regexp_split_to_array(trim(text), '\s+') END AS a
             |  FROM documents),
             |cr AS (SELECT doc_id,
             |    regexp_replace(array_to_string(
             |      list_concat(a[1:(2*len(a)+2)//3], ['spark','spark']), ' '),
             |      '\s+', '', 'g') AS c,
             |    regexp_replace(array_to_string(a, ' '), '\s+', '', 'g') AS r
             |  FROM tk),
             |cg AS (SELECT doc_id, substr(c, u.i, 6) AS g
             |       FROM cr, unnest(range(1, greatest(length(c) - 5, 0) + 1)) u(i)),
             |rg AS (SELECT doc_id, substr(r, u.i, 6) AS g
             |       FROM cr, unnest(range(1, greatest(length(r) - 5, 0) + 1)) u(i)),
             |cc AS (SELECT doc_id, g, count(*) AS cn FROM cg GROUP BY 1, 2),
             |rc AS (SELECT doc_id, g, count(*) AS rn FROM rg GROUP BY 1, 2),
             |ov AS (SELECT cc.doc_id, sum(least(cc.cn, rc.rn)) AS ov
             |       FROM cc JOIN rc ON cc.doc_id = rc.doc_id AND cc.g = rc.g
             |       GROUP BY 1),
             |n AS (SELECT cr.doc_id,
             |        greatest(length(cr.c) - 5, 0) AS nc,
             |        greatest(length(cr.r) - 5, 0) AS nr,
             |        coalesce(ov.ov, 0) AS ov
             |      FROM cr LEFT JOIN ov ON cr.doc_id = ov.doc_id),
             |pr AS (SELECT doc_id, CAST(ov AS BIGINT) AS n_overlap,
             |         CAST(nc AS BIGINT) AS n_cand, CAST(nr AS BIGINT) AS n_ref,
             |         CASE WHEN nc = 0 THEN 0e0 ELSE round(ov / nc, 6) END AS precision,
             |         CASE WHEN nr = 0 THEN 0e0 ELSE round(ov / nr, 6) END AS recall
             |       FROM n)
             |SELECT doc_id, n_overlap, n_cand, n_ref, precision, recall,
             |  CASE WHEN 4 * precision + recall = 0 THEN 0e0
             |       ELSE round(5 * precision * recall
             |                  / (4 * precision + recall), 6) END AS f2
             |FROM pr ORDER BY doc_id""".stripMargin)),

    // mixed-language detection: quarter-chunk language votes with a
    // planted German tail on every 7th doc — the oracle replays the
    // lang-ID heuristic per chunk, slice boundaries and all
    ("q_lang_consistency",
      (s: SparkSession, d: String) => {
        // quarter-chunk slicing + 4 per-chunk lang votes are the compute
        // (measured two ~1.4 s single-task stages); spread the raw rows
        val docs = Par.spread(t(s, d, "documents").select("doc_id", "text"))
          .select(col("doc_id"),
            concat(col("text"), when(col("doc_id") % 7 === 0,
              lit(" der die das und ist der die das und ist"))
              .otherwise(lit(""))).as("text"))
        TextAnalysis.langConsistency(docs, "doc_id", "text")
          .orderBy("doc_id")
      },
      Some("""WITH t AS (SELECT doc_id,
             |    text || CASE WHEN doc_id % 7 = 0
             |      THEN ' der die das und ist der die das und ist'
             |      ELSE '' END AS text2
             |  FROM documents),
             |tk AS (SELECT doc_id,
             |    CASE WHEN trim(text2) = '' THEN []::VARCHAR[]
             |         ELSE regexp_split_to_array(trim(text2), '\s+') END AS toks
             |  FROM t),
             |c AS (SELECT doc_id, toks, len(toks) AS n,
             |        greatest(CAST(ceil(len(toks) / 4.0) AS INT), 1) AS w
             |      FROM tk),
             |ch AS (SELECT doc_id, u.i,
             |         array_to_string(list_slice(toks, u.i*w + 1, u.i*w + w), ' ')
             |           AS ctext
             |       FROM c, unnest([0, 1, 2, 3]) AS u(i) WHERE u.i*w < c.n),
             |lg AS (SELECT doc_id, i, ctext,
             |         CASE WHEN trim(ctext) = '' THEN []::VARCHAR[]
             |              ELSE regexp_split_to_array(lower(trim(ctext)), '\s+')
             |         END AS ct
             |       FROM ch),
             |lv AS (SELECT doc_id, i,
             |    len(list_filter(ct, x -> x IN ('the','and','of','to','is'))) AS h_en,
             |    len(list_filter(ct, x -> x IN ('der','die','das','und','ist'))) AS h_de,
             |    len(list_filter(ct, x -> x IN ('el','los','que','es','una'))) AS h_es,
             |    len(list_filter(ct, x -> x IN ('le','les','des','est','une'))) AS h_fr,
             |    ctext
             |  FROM lg),
             |ld AS (SELECT doc_id, i,
             |    CASE WHEN length(regexp_replace(ctext, '[^\x{4e00}-\x{9fff}]', '', 'g')) > 0
             |           THEN 'zh'
             |         WHEN h_en = greatest(h_en, h_de, h_es, h_fr) AND h_en > 0 THEN 'en'
             |         WHEN h_de = greatest(h_en, h_de, h_es, h_fr) AND h_de > 0 THEN 'de'
             |         WHEN h_es = greatest(h_en, h_de, h_es, h_fr) AND h_es > 0 THEN 'es'
             |         WHEN h_fr = greatest(h_en, h_de, h_es, h_fr) AND h_fr > 0 THEN 'fr'
             |         ELSE 'und' END AS lang
             |  FROM lv),
             |agg AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_chunks,
             |          array_to_string(list(lang ORDER BY i), ',') AS chunk_langs,
             |          CAST(len(list_distinct(list(lang))) AS BIGINT) AS n_langs
             |        FROM ld GROUP BY doc_id)
             |SELECT doc_id, n_chunks, chunk_langs, n_langs, n_langs > 1 AS mixed
             |FROM agg ORDER BY doc_id""".stripMargin)),

    // BT.601 integer-luma histogram per image (8×32-level bins) — the
    // exposure-profile curation feature; the oracle replays the luma
    // formula pixel-by-pixel from the synthetic generator
    ("q_luminance_hist",
      (s: SparkSession, d: String) =>
        Multimodal.luminanceHistogram(
            Multimodal.withPixelMedia(t(s, d, "documents")))
          .orderBy("doc_id"),
      Some("""WITH dims AS (
             |  SELECT doc_id, 4 + n_chars % 13 AS w, 3 + n_chars % 11 AS h,
             |    CASE CAST(doc_id % 3 AS INT) WHEN 2 THEN 1 ELSE 3 END AS c
             |  FROM documents),
             |lum AS (
             |  SELECT d.doc_id,
             |    CASE WHEN d.c = 1 THEN (31*d.doc_id + 7*t.i) % 256
             |         ELSE (299*((31*d.doc_id + 7*(3*t.i)) % 256)
             |             + 587*((31*d.doc_id + 7*(3*t.i+1)) % 256)
             |             + 114*((31*d.doc_id + 7*(3*t.i+2)) % 256)) // 1000
             |    END AS l
             |  FROM dims d JOIN range(0, 1024) t(i) ON t.i < d.w*d.h)
             |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_px,
             |  CAST(sum(l) AS BIGINT) AS lum_sum,
             |  CAST(count(*) FILTER (WHERE l // 32 = 0) AS BIGINT) AS bin0,
             |  CAST(count(*) FILTER (WHERE l // 32 = 1) AS BIGINT) AS bin1,
             |  CAST(count(*) FILTER (WHERE l // 32 = 2) AS BIGINT) AS bin2,
             |  CAST(count(*) FILTER (WHERE l // 32 = 3) AS BIGINT) AS bin3,
             |  CAST(count(*) FILTER (WHERE l // 32 = 4) AS BIGINT) AS bin4,
             |  CAST(count(*) FILTER (WHERE l // 32 = 5) AS BIGINT) AS bin5,
             |  CAST(count(*) FILTER (WHERE l // 32 = 6) AS BIGINT) AS bin6,
             |  CAST(count(*) FILTER (WHERE l // 32 = 7) AS BIGINT) AS bin7
             |FROM lum GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    // per-month moment matrix: the mergeability claim of
    // q_feature_moments made concrete — month rows ADD component-wise
    // to the whole-table row, so a year of correlations never rescans
    ("q_grouped_moments",
      (s: SparkSession, d: String) =>
        Relational.featureMomentsBy(
          t(s, d, "lineitem").select(
            date_format(col("l_shipdate"), "yyyy-MM").as("month"),
            col("l_quantity").cast("long").as("qty"),
            floor(col("l_extendedprice")).cast("long").as("price_usd")),
          "month", Seq("qty", "price_usd"))
          .orderBy("month", "x", "y"),
      Some("""SELECT strftime(l_shipdate, '%Y-%m') AS month,
             |  'qty' AS x, 'price_usd' AS y, CAST(count(*) AS BIGINT) AS n,
             |  CAST(sum(qty) AS BIGINT) AS sum_x,
             |  CAST(sum(price_usd) AS BIGINT) AS sum_y,
             |  CAST(sum(qty * price_usd) AS BIGINT) AS sum_xy,
             |  CAST(sum(qty * qty) AS BIGINT) AS sum_xx,
             |  CAST(sum(price_usd * price_usd) AS BIGINT) AS sum_yy
             |FROM (SELECT l_shipdate, CAST(l_quantity AS BIGINT) AS qty,
             |        CAST(floor(l_extendedprice) AS BIGINT) AS price_usd
             |      FROM lineitem)
             |GROUP BY month ORDER BY month, x, y""".stripMargin)),

    // null-safe equality join — the NULL bucket must SURVIVE the join
    // (an equi-join drops it); one shared string, Catalyst plans the
    // <=> predicate as a hash join key
    ("q_sql_nullsafe_join",
      (s: SparkSession, d: String) => {
        Tables.registerAll(s, d)
        s.sql(NullSafeJoinSql)
      },
      Some(NullSafeJoinSql)),

    // HyperLogLog with the register STATE graded: per-side dense
    // registers over orders' vs customer's key sets, the pointwise-max
    // merge, and a direct sketch of the physical union — reg_merged and
    // reg_union must agree CELL BY CELL (the mergeability theorem as 32
    // graded rows), and the integer estimator replays exactly from the
    // md5/bin() register arithmetic
    ("q_hll_union",
      (s: SparkSession, d: String) => {
        val a = t(s, d, "orders").select(col("o_custkey").as("k"))
        val b = t(s, d, "part").select(col("p_partkey").as("k"))
        val ra = Sketches.hllRegisters(a, "k", 32)
        val rb = Sketches.hllRegisters(b, "k", 32)
        val merged = Sketches.hllMerge(ra, rb)
        val direct = Sketches.hllRegisters(a.unionAll(b), "k", 32)
        val est = Sketches.hllEstimate(merged, 32)
          .select(col("est_distinct").as("est_union"), col("empty_buckets"))
        val truth = a.unionAll(b).filter(col("k").isNotNull).distinct()
          .agg(count(lit(1)).as("true_union"))
        ra.select(col("bucket"), col("reg").as("reg_a"))
          .join(rb.select(col("bucket"), col("reg").as("reg_b")), Seq("bucket"))
          .join(merged.select(col("bucket"), col("reg").as("reg_merged")),
            Seq("bucket"))
          .join(direct.select(col("bucket"), col("reg").as("reg_union")),
            Seq("bucket"))
          .crossJoin(est).crossJoin(truth)
          .orderBy("bucket")
      },
      Some("""WITH a AS (SELECT DISTINCT
             |    ('0x' || substr(md5(CAST(o_custkey AS VARCHAR)), 1, 12))::BIGINT AS h
             |  FROM orders WHERE o_custkey IS NOT NULL),
             |b AS (SELECT DISTINCT
             |    ('0x' || substr(md5(CAST(p_partkey AS VARCHAR)), 1, 12))::BIGINT AS h
             |  FROM part WHERE p_partkey IS NOT NULL),
             |u AS (SELECT h FROM a UNION SELECT h FROM b),
             |bk AS (SELECT CAST(r.range AS BIGINT) AS bucket FROM range(0, 32) r),
             |ar AS (SELECT h % 32 AS bucket, least(43,
             |           CASE WHEN h // 32 = 0 THEN 44
             |                ELSE 44 - length(bin(h // 32)) END) AS rho FROM a),
             |br AS (SELECT h % 32 AS bucket, least(43,
             |           CASE WHEN h // 32 = 0 THEN 44
             |                ELSE 44 - length(bin(h // 32)) END) AS rho FROM b),
             |ur AS (SELECT h % 32 AS bucket, least(43,
             |           CASE WHEN h // 32 = 0 THEN 44
             |                ELSE 44 - length(bin(h // 32)) END) AS rho FROM u),
             |ra AS (SELECT bk.bucket, coalesce(max(ar.rho), 0) AS reg
             |       FROM bk LEFT JOIN ar ON ar.bucket = bk.bucket GROUP BY 1),
             |rb AS (SELECT bk.bucket, coalesce(max(br.rho), 0) AS reg
             |       FROM bk LEFT JOIN br ON br.bucket = bk.bucket GROUP BY 1),
             |ru AS (SELECT bk.bucket, coalesce(max(ur.rho), 0) AS reg
             |       FROM bk LEFT JOIN ur ON ur.bucket = bk.bucket GROUP BY 1),
             |m AS (SELECT ra.bucket, greatest(ra.reg, rb.reg) AS reg
             |      FROM ra JOIN rb ON ra.bucket = rb.bucket),
             |e AS (SELECT CAST((697 * 1024 * (1::BIGINT << 43))
             |          // (1000 * sum(1::BIGINT << CAST(43 - reg AS INT)))
             |          AS BIGINT) AS est_union,
             |        CAST(count(*) FILTER (WHERE reg = 0) AS BIGINT)
             |          AS empty_buckets
             |      FROM m),
             |tr AS (SELECT CAST(count(*) AS BIGINT) AS true_union
             |       FROM (SELECT DISTINCT k FROM (
             |         SELECT o_custkey AS k FROM orders WHERE o_custkey IS NOT NULL
             |         UNION ALL
             |         SELECT p_partkey FROM part WHERE p_partkey IS NOT NULL)))
             |SELECT ra.bucket, CAST(ra.reg AS BIGINT) AS reg_a,
             |  CAST(rb.reg AS BIGINT) AS reg_b,
             |  CAST(m.reg AS BIGINT) AS reg_merged,
             |  CAST(ru.reg AS BIGINT) AS reg_union,
             |  e.est_union, e.empty_buckets, tr.true_union
             |FROM ra JOIN rb ON ra.bucket = rb.bucket
             |JOIN m ON m.bucket = ra.bucket
             |JOIN ru ON ru.bucket = ra.bucket
             |CROSS JOIN e CROSS JOIN tr
             |ORDER BY ra.bucket""".stripMargin)),

    // corpus BLEU-4 on the chrF candidate construction — clipped word
    // n-gram matches for n=1..4 summed over the corpus, brevity penalty,
    // geometric-mean fold; every integer intermediate graded alongside
    // the 6dp-rounded precisions and score
    ("q_bleu_eval",
      (s: SparkSession, d: String) => {
        val pairs = t(s, d, "documents")
          .select(col("doc_id"), TextAnalysis.tokens(col("text")).as("tk"))
          .select(col("doc_id"),
            array_join(concat(
              expr("slice(tk, 1, (size(tk) * 2 + 2) div 3)"),
              array(lit("spark"), lit("spark"))), " ").as("cand"),
            array_join(col("tk"), " ").as("ref"))
        TextAnalysis.corpusBleu(pairs, "doc_id", "cand", "ref", maxN = 4)
      },
      Some("""WITH tk AS (SELECT doc_id,
             |    CASE WHEN trim(text) = '' THEN []::VARCHAR[]
             |         ELSE regexp_split_to_array(trim(text), '\s+') END AS a
             |  FROM documents),
             |cr AS (SELECT doc_id,
             |    list_concat(a[1:(2*len(a)+2)//3], ['spark','spark']) AS c,
             |    a AS r FROM tk),
             |cg AS (SELECT cr.doc_id, n.n,
             |         array_to_string(c[u.i:u.i+n.n-1], ' ') AS g
             |       FROM cr, range(1, 5) n(n),
             |         unnest(range(1, greatest(len(c) - n.n + 1, 0) + 1)) u(i)),
             |rg AS (SELECT cr.doc_id, n.n,
             |         array_to_string(r[u.i:u.i+n.n-1], ' ') AS g
             |       FROM cr, range(1, 5) n(n),
             |         unnest(range(1, greatest(len(r) - n.n + 1, 0) + 1)) u(i)),
             |cc AS (SELECT doc_id, n, g, count(*) AS cn FROM cg GROUP BY 1, 2, 3),
             |rc AS (SELECT doc_id, n, g, count(*) AS rn FROM rg GROUP BY 1, 2, 3),
             |ov AS (SELECT cc.n, sum(least(cc.cn, rc.rn)) AS m
             |       FROM cc JOIN rc ON cc.doc_id = rc.doc_id
             |         AND cc.n = rc.n AND cc.g = rc.g
             |       GROUP BY 1),
             |tt AS (SELECT n.n, sum(greatest(len(c) - n.n + 1, 0)) AS t
             |       FROM cr, range(1, 5) n(n) GROUP BY 1),
             |p AS (SELECT tt.n, coalesce(ov.m, 0) AS m, tt.t
             |      FROM tt LEFT JOIN ov ON ov.n = tt.n),
             |w AS (SELECT
             |    CAST(max(CASE WHEN n = 1 THEN m END) AS BIGINT) AS match_1,
             |    CAST(max(CASE WHEN n = 1 THEN t END) AS BIGINT) AS total_1,
             |    CAST(max(CASE WHEN n = 2 THEN m END) AS BIGINT) AS match_2,
             |    CAST(max(CASE WHEN n = 2 THEN t END) AS BIGINT) AS total_2,
             |    CAST(max(CASE WHEN n = 3 THEN m END) AS BIGINT) AS match_3,
             |    CAST(max(CASE WHEN n = 3 THEN t END) AS BIGINT) AS total_3,
             |    CAST(max(CASE WHEN n = 4 THEN m END) AS BIGINT) AS match_4,
             |    CAST(max(CASE WHEN n = 4 THEN t END) AS BIGINT) AS total_4
             |  FROM p),
             |ln2 AS (SELECT w.*,
             |    CAST((SELECT sum(len(c)) FROM cr) AS BIGINT) AS cand_len,
             |    CAST((SELECT sum(len(r)) FROM cr) AS BIGINT) AS ref_len
             |  FROM w),
             |pr AS (SELECT *,
             |    CASE WHEN total_1 = 0 THEN 0e0
             |         ELSE round(match_1 / total_1, 6) END AS p_1,
             |    CASE WHEN total_2 = 0 THEN 0e0
             |         ELSE round(match_2 / total_2, 6) END AS p_2,
             |    CASE WHEN total_3 = 0 THEN 0e0
             |         ELSE round(match_3 / total_3, 6) END AS p_3,
             |    CASE WHEN total_4 = 0 THEN 0e0
             |         ELSE round(match_4 / total_4, 6) END AS p_4
             |  FROM ln2),
             |bp AS (SELECT *,
             |    CASE WHEN cand_len >= ref_len THEN 1e0
             |         WHEN cand_len = 0 THEN 0e0
             |         ELSE round(exp(1e0 - ref_len / cand_len), 6) END AS bp
             |  FROM pr)
             |SELECT match_1, total_1, match_2, total_2, match_3, total_3,
             |  match_4, total_4, cand_len, ref_len, p_1, p_2, p_3, p_4, bp,
             |  CASE WHEN p_1 <= 0e0 OR p_2 <= 0e0 OR p_3 <= 0e0 OR p_4 <= 0e0
             |       THEN 0e0
             |       ELSE round(bp * exp((ln(p_1) + ln(p_2) + ln(p_3) + ln(p_4))
             |                           / 4e0), 6) END AS bleu
             |FROM bp""".stripMargin)),

    // blocklist dictionary gate: occurrence counts, distinct-term hits
    // and an integer ppm density against a broadcast-literal dictionary
    // ('slow'/'merge' occur in the synthetic vocabulary, 'crash' never —
    // both the present- and absent-term paths are live)
    ("q_blocklist_filter",
      (s: SparkSession, d: String) =>
        Curation.blocklistFilter(t(s, d, "documents"), "doc_id", "text",
            Seq("slow", "merge", "crash"),
            maxDensityPpm = 30000L, distinctCap = 2)
          .orderBy("doc_id"),
      Some("""WITH tk AS (SELECT doc_id,
             |    CASE WHEN trim(lower(text)) = '' THEN []::VARCHAR[]
             |         ELSE regexp_split_to_array(trim(lower(text)), '\s+')
             |    END AS a
             |  FROM documents),
             |c AS (SELECT doc_id, len(a) AS n_tokens,
             |        len(list_filter(a, t -> t = 'slow' OR t = 'merge'
             |          OR t = 'crash')) AS n_hits,
             |        len(list_intersect(list_distinct(a),
             |          ['slow', 'merge', 'crash'])) AS n_distinct_hits
             |      FROM tk),
             |dd AS (SELECT *,
             |         CASE WHEN n_tokens = 0 THEN 0
             |              ELSE n_hits * 1000000 // n_tokens END AS density_ppm
             |       FROM c)
             |SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
             |  CAST(n_hits AS BIGINT) AS n_hits,
             |  CAST(n_distinct_hits AS BIGINT) AS n_distinct_hits,
             |  CAST(density_ppm AS BIGINT) AS density_ppm,
             |  (density_ppm > 30000 OR n_distinct_hits >= 2) AS blocked
             |FROM dd ORDER BY doc_id""".stripMargin)),

    // k-anonymity / l-diversity release audit over (nation, segment)
    // equivalence classes with the account-balance millibucket as the
    // sensitive attribute — class sizes, sensitive diversity, and both
    // violation verdicts graded per class
    ("q_k_anonymity",
      (s: SparkSession, d: String) =>
        Curation.kAnonymityAudit(
          t(s, d, "customer").select(col("c_nationkey").cast("int")
              .as("nation"), col("c_mktsegment").as("segment"),
            floor(col("c_acctbal") / 1000.0d).cast("long").as("bal_bucket")),
          Seq("nation", "segment"), "bal_bucket", k = 10L, l = 5L)
          .orderBy("nation", "segment"),
      Some("""SELECT CAST(c_nationkey AS INT) AS nation,
             |  c_mktsegment AS segment,
             |  CAST(count(*) AS BIGINT) AS class_size,
             |  CAST(count(DISTINCT CAST(floor(c_acctbal / 1000) AS BIGINT))
             |    AS BIGINT) AS sensitive_distinct,
             |  count(*) < 10 AS violates_k,
             |  count(DISTINCT CAST(floor(c_acctbal / 1000) AS BIGINT)) < 5
             |    AS violates_l
             |FROM customer GROUP BY 1, 2
             |ORDER BY nation, segment""".stripMargin)),

    // Holt double-exponential smoothing in integer fixed point — the
    // q_ewma recurrence grown a coupled trend term; the oracle steps
    // BOTH recurrences through a recursive CTE, truncating divisions
    // and negative trends included
    ("q_holt_trend",
      (s: SparkSession, d: String) =>
        Sessionize.holtFixedPoint(
            t(s, d, "events").select(col("user_id"), col("ts"),
              col("event_id"),
              floor(col("value") * 100).cast("long").as("cents")),
            "user_id", "ts", "event_id", "cents",
            aNum = 1L, aDen = 4L, gNum = 1L, gDen = 8L)
          .orderBy("event_id"),
      Some("""WITH RECURSIVE e AS (SELECT user_id, event_id,
             |    CAST(floor(value * 100) AS BIGINT) AS v,
             |    row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id)
             |      AS rn
             |  FROM events),
             |r AS (
             |  SELECT user_id, event_id, v, rn, v AS l, CAST(0 AS BIGINT) AS b
             |  FROM e WHERE rn = 1
             |  UNION ALL
             |  SELECT e.user_id, e.event_id, e.v, e.rn,
             |    (1 * e.v + 3 * (r.l + r.b)) // 4 AS l,
             |    (1 * ((1 * e.v + 3 * (r.l + r.b)) // 4 - r.l) + 7 * r.b) // 8
             |      AS b
             |  FROM e JOIN r ON e.user_id = r.user_id AND e.rn = r.rn + 1)
             |SELECT user_id, event_id, v AS value_units, l AS level_units,
             |  b AS trend_units, CAST(l + b AS BIGINT) AS forecast_units
             |FROM r ORDER BY event_id""".stripMargin)),

    // Benford first-digit audit over extended prices: observed digit
    // counts, 6dp expectations n·log10(1+1/d), chi-square fold and the
    // df=8 verdict — the fabricated-data detector as 9 graded rows
    ("q_benford_audit",
      (s: SparkSession, d: String) =>
        graft.quality.DataQuality.benfordAudit(
          t(s, d, "lineitem"), "l_extendedprice"),
      Some("""WITH v AS (SELECT CAST(floor(l_extendedprice) AS BIGINT) AS v
             |  FROM lineitem WHERE floor(l_extendedprice) >= 1),
             |o AS (SELECT CAST(substr(CAST(v AS VARCHAR), 1, 1) AS INT)
             |          AS digit, count(*) AS observed
             |      FROM v GROUP BY 1),
             |dg AS (SELECT CAST(r.range AS INT) AS digit FROM range(1, 10) r),
             |ob AS (SELECT dg.digit, coalesce(o.observed, 0) AS observed
             |       FROM dg LEFT JOIN o ON o.digit = dg.digit),
             |nn AS (SELECT CAST(sum(observed) AS BIGINT) AS n FROM ob),
             |e AS (SELECT ob.digit, ob.observed, nn.n,
             |        round(nn.n * log10(1 + 1.0 / ob.digit), 6) AS expected
             |      FROM ob CROSS JOIN nn),
             |c AS (SELECT *, round((observed - expected) * (observed - expected)
             |          / expected, 6) AS contrib
             |      FROM e),
             |s AS (SELECT round(sum(contrib), 6) AS chi2 FROM c)
             |SELECT c.digit, CAST(c.observed AS BIGINT) AS observed, c.n,
             |  c.expected, c.contrib, s.chi2, s.chi2 > 20.09 AS suspicious
             |FROM c CROSS JOIN s ORDER BY c.digit""".stripMargin)),

    // differentially-private count release with the Laplace draw taken
    // from the salted md5 of the group key (content-stable-hash
    // discipline -> the release replays exactly): the 48-bit uniform,
    // the inverse-CDF noise and the released values all graded
    ("q_dp_release",
      (s: SparkSession, d: String) =>
        Curation.dpNoisyCounts(t(s, d, "events"), "event_type",
            "graft-dp-v1", epsNum = 1L, epsDen = 2L)
          .orderBy("event_type"),
      Some("""WITH c AS (SELECT event_type, count(*) AS true_count
             |           FROM events GROUP BY 1),
             |h AS (SELECT event_type, true_count,
             |        ('0x' || substr(md5('graft-dp-v1:' || event_type), 1, 12))
             |          ::BIGINT AS h
             |      FROM c),
             |x AS (SELECT *, h * 2 + 1 - (1::BIGINT << 48) AS num FROM h),
             |nz AS (SELECT event_type, true_count, h,
             |         round(-2.0 * sign(num) *
             |           ln(((1::BIGINT << 49) - 2 * abs(num))
             |              / ((1::BIGINT << 49)::DOUBLE)), 6) AS noise
             |       FROM x)
             |SELECT event_type, CAST(true_count AS BIGINT) AS true_count, h,
             |  noise, round(true_count + noise, 6) AS released
             |FROM nz ORDER BY event_type""".stripMargin)),

    // STREAMING HLL: three mtime-ordered arrival files feed an Update-mode
    // max aggregation whose state is 32 registers FOREVER (the
    // bounded-state streaming distinct), upserted per micro-batch into a
    // versioned table seeded with zeroed registers — the final table must
    // equal the BATCH sketch of everything that arrived, estimator and all
    ("q_stream_hll",
      (s: SparkSession, d: String) => {
        import graft.reddit.PostsTable
        val keys = t(s, d, "orders").select(col("o_orderkey"), col("o_custkey"))
        val staged = keys.select(col("o_custkey").as("k"))
        val root = scratchDir("shll_tbl")
        PostsTable.create(
          s.range(0, 32).select(col("id").as("bucket"), lit(0L).as("reg")),
          root, "bucket")
        val inDir = scratchDir("shll_in")
        (0 until 3).foreach { i =>
          stageArrivalFile(keys.filter(pmod(col("o_orderkey"), lit(3)) === i)
            .select(col("o_custkey").as("k")), inDir, s"b$i.parquet",
            1700000000000L + i * 60000L)
        }
        val stream = s.readStream.schema(staged.schema)
          .option("maxFilesPerTrigger", 1).parquet(inDir)
        withShufflePartitions(s, 8) {
          graft.streaming.Streams.hllRegisterSink(stream, "k", 32, root,
            scratchDir("shll_ckpt")).start().awaitTermination()
        }
        val regs = PostsTable.read(s, root).select(col("bucket"), col("reg"))
        val est = Sketches.hllEstimate(regs, 32)
        val truth = keys.filter(col("o_custkey").isNotNull)
          .agg(count_distinct(col("o_custkey")).as("true_distinct"))
        regs.crossJoin(est).crossJoin(truth).orderBy("bucket")
      },
      Some("""WITH a AS (SELECT DISTINCT
             |    ('0x' || substr(md5(CAST(o_custkey AS VARCHAR)), 1, 12))::BIGINT AS h
             |  FROM orders WHERE o_custkey IS NOT NULL),
             |bk AS (SELECT CAST(r.range AS BIGINT) AS bucket FROM range(0, 32) r),
             |rg AS (SELECT bk.bucket, coalesce(max(least(43,
             |           CASE WHEN a.h // 32 = 0 THEN 44
             |                ELSE 44 - length(bin(a.h // 32)) END)), 0) AS reg
             |       FROM bk LEFT JOIN a ON a.h % 32 = bk.bucket GROUP BY 1),
             |e AS (SELECT CAST((697 * 1024 * (1::BIGINT << 43))
             |          // (1000 * sum(1::BIGINT << CAST(43 - reg AS INT)))
             |          AS BIGINT) AS est_distinct,
             |        CAST(count(*) FILTER (WHERE reg = 0) AS BIGINT)
             |          AS empty_buckets
             |      FROM rg),
             |tr AS (SELECT CAST(count(DISTINCT o_custkey) AS BIGINT)
             |          AS true_distinct
             |       FROM orders WHERE o_custkey IS NOT NULL)
             |SELECT rg.bucket, CAST(rg.reg AS BIGINT) AS reg, e.est_distinct,
             |  e.empty_buckets, tr.true_distinct
             |FROM rg CROSS JOIN e CROSS JOIN tr
             |ORDER BY rg.bucket""".stripMargin)),

    // two-proportion z-test per event_type (arm = user parity, success =
    // value >= 50): integer arm counts, 6dp rates, the pooled z composed
    // in one fixed IEEE expression order, and the |z| > 1.96 verdict
    ("q_abtest_eval",
      (s: SparkSession, d: String) =>
        Relational.abTestProportions(
            t(s, d, "events").select(col("event_type"), col("user_id"),
              col("value")),
            "event_type", pmod(col("user_id"), lit(2)) === 1,
            col("value") >= 50.0d)
          .orderBy("event_type"),
      Some("""WITH g AS (SELECT event_type,
             |    sum(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END) AS n_a,
             |    sum(CASE WHEN user_id % 2 = 0 AND value >= 50.0 THEN 1
             |        ELSE 0 END) AS s_a,
             |    sum(CASE WHEN user_id % 2 = 1 THEN 1 ELSE 0 END) AS n_b,
             |    sum(CASE WHEN user_id % 2 = 1 AND value >= 50.0 THEN 1
             |        ELSE 0 END) AS s_b
             |  FROM events GROUP BY 1),
             |z AS (SELECT event_type,
             |    CAST(n_a AS BIGINT) AS n_a, CAST(s_a AS BIGINT) AS s_a,
             |    CAST(n_b AS BIGINT) AS n_b, CAST(s_b AS BIGINT) AS s_b,
             |    round(s_a / n_a, 6) AS p_a, round(s_b / n_b, 6) AS p_b,
             |    round((s_a / n_a - s_b / n_b) /
             |      sqrt(((s_a + s_b) / (n_a + n_b))
             |        * (1.0 - (s_a + s_b) / (n_a + n_b))
             |        * (1.0 / n_a + 1.0 / n_b)), 6) AS z
             |  FROM g)
             |SELECT event_type, n_a, s_a, n_b, s_b, p_a, p_b, z,
             |  abs(z) > 1.96 AS significant
             |FROM z ORDER BY event_type""".stripMargin)),

    // RFM quintile scoring: user rollup, three distributed global ranks
    // (range-partitioned sort + offset join — no single-partition
    // window), tile = rank*5 div n + 1 replayed exactly by the oracle's
    // row_number arithmetic
    ("q_rfm_scores",
      (s: SparkSession, d: String) =>
        Relational.rfmScores(t(s, d, "events"), "user_id", "ts", "value")
          .orderBy("user_id"),
      Some("""WITH pu AS (SELECT user_id, max(epoch_us(ts)) AS last_us,
             |    count(*) AS frequency,
             |    sum(CAST(floor(value * 100) AS BIGINT)) AS monetary_cents
             |  FROM events GROUP BY 1),
             |mx AS (SELECT max(last_us) AS max_us FROM pu),
             |b AS (SELECT pu.user_id,
             |        (mx.max_us - pu.last_us) // 3600000000 AS recency_hours,
             |        pu.frequency, pu.monetary_cents
             |      FROM pu CROSS JOIN mx),
             |n AS (SELECT count(*) AS n FROM b),
             |rk AS (SELECT b.*,
             |    row_number() OVER (ORDER BY recency_hours DESC, user_id) - 1
             |      AS rr,
             |    row_number() OVER (ORDER BY frequency, user_id) - 1 AS rf,
             |    row_number() OVER (ORDER BY monetary_cents, user_id) - 1 AS rm
             |  FROM b)
             |SELECT user_id, CAST(recency_hours AS BIGINT) AS recency_hours,
             |  CAST(frequency AS BIGINT) AS frequency,
             |  CAST(monetary_cents AS BIGINT) AS monetary_cents,
             |  CAST(rr * 5 // n.n + 1 AS BIGINT) AS r_score,
             |  CAST(rf * 5 // n.n + 1 AS BIGINT) AS f_score,
             |  CAST(rm * 5 // n.n + 1 AS BIGINT) AS m_score,
             |  CAST((rr * 5 // n.n + 1) * 100 + (rf * 5 // n.n + 1) * 10
             |    + (rm * 5 // n.n + 1) AS BIGINT) AS rfm
             |FROM rk CROSS JOIN n ORDER BY user_id""".stripMargin)),

    // two-sided CUSUM with a PLANTED level shift (+30.00 for every 5th
    // user from Jan 20): pure max/add integer recurrence, so the oracle
    // recursive CTE replays every accumulator and alarm exactly
    ("q_cusum_shift",
      (s: SparkSession, d: String) =>
        Sessionize.cusumFixedPoint(
            t(s, d, "events").select(col("user_id"), col("ts"),
              col("event_id"),
              (floor(col("value") * 100).cast("long") +
                when(col("user_id") % 5 === 0 &&
                  to_date(col("ts")) >= lit("2024-01-20").cast("date"), 3000L)
                  .otherwise(0L)).as("cents")),
            "user_id", "ts", "event_id", "cents",
            ref = 5000L, slack = 1000L, threshold = 15000L)
          .orderBy("event_id"),
      Some("""WITH RECURSIVE e AS (SELECT user_id, event_id,
             |    CAST(floor(value * 100) AS BIGINT)
             |      + CASE WHEN user_id % 5 = 0
             |               AND CAST(ts AS DATE) >= DATE '2024-01-20'
             |             THEN 3000 ELSE 0 END AS v,
             |    row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id)
             |      AS rn
             |  FROM events),
             |r AS (
             |  SELECT user_id, event_id, v, rn,
             |    greatest(0, (v - 5000) - 1000) AS sp,
             |    greatest(0, (5000 - v) - 1000) AS sn
             |  FROM e WHERE rn = 1
             |  UNION ALL
             |  SELECT e.user_id, e.event_id, e.v, e.rn,
             |    greatest(0, r.sp + (e.v - 5000) - 1000) AS sp,
             |    greatest(0, r.sn + (5000 - e.v) - 1000) AS sn
             |  FROM e JOIN r ON e.user_id = r.user_id AND e.rn = r.rn + 1)
             |SELECT user_id, event_id, v AS value_units,
             |  CAST(sp AS BIGINT) AS cusum_pos, CAST(sn AS BIGINT) AS cusum_neg,
             |  sp > 15000 AS alarm_up, sn > 15000 AS alarm_down
             |FROM r ORDER BY event_id""".stripMargin)),

    // first-order Markov transition matrix over per-user event-type
    // sequences: adjacent-pair counts through one lag window, row-
    // normalized probabilities at 6dp
    ("q_markov_transitions",
      (s: SparkSession, d: String) =>
        Sessionize.markovTransitions(t(s, d, "events"), "user_id", "ts",
            "event_id", "event_type")
          .orderBy("from_state", "to_state"),
      Some("""WITH sq AS (SELECT user_id, event_type AS to_state,
             |    lag(event_type) OVER (PARTITION BY user_id
             |      ORDER BY ts, event_id) AS from_state
             |  FROM events),
             |p AS (SELECT from_state, to_state, count(*) AS n
             |      FROM sq WHERE from_state IS NOT NULL GROUP BY 1, 2),
             |tt AS (SELECT from_state, sum(n) AS row_total
             |       FROM p GROUP BY 1)
             |SELECT p.from_state, p.to_state, CAST(p.n AS BIGINT) AS n,
             |  CAST(tt.row_total AS BIGINT) AS row_total,
             |  round(p.n / tt.row_total, 6) AS p
             |FROM p JOIN tt ON p.from_state = tt.from_state
             |ORDER BY p.from_state, p.to_state""".stripMargin)),

    // daily gap-fill + forward fill: per-user dense day grid over the
    // active span, sequence-number last-writer-wins within a day, the
    // carried value and the observed flag graded per grid row
    ("q_time_resample",
      (s: SparkSession, d: String) =>
        Temporal.fillDaily(t(s, d, "events"), "user_id", "ts", "event_id",
            "value")
          .orderBy("user_id", "day"),
      Some("""WITH o AS (SELECT user_id, CAST(ts AS DATE) AS day,
             |    arg_max(CAST(floor(value * 100) AS BIGINT), event_id)
             |      AS day_cents
             |  FROM events GROUP BY 1, 2),
             |sp AS (SELECT user_id, min(day) AS lo, max(day) AS hi
             |       FROM o GROUP BY 1),
             |g AS (SELECT user_id,
             |        unnest(generate_series(lo, hi, INTERVAL 1 DAY))::DATE
             |          AS day
             |      FROM sp),
             |f AS (SELECT g.user_id, g.day,
             |        arg_max(o.day_cents, o.day) AS cents_filled,
             |        max(CASE WHEN o.day = g.day THEN 1 ELSE 0 END) AS obs
             |      FROM g JOIN o ON o.user_id = g.user_id AND o.day <= g.day
             |      GROUP BY 1, 2)
             |SELECT user_id, strftime(day, '%Y-%m-%d') AS day,
             |  CAST(cents_filled AS BIGINT) AS cents_filled,
             |  obs = 1 AS observed
             |FROM f ORDER BY user_id, day""".stripMargin))
  )

  // a duplicate name would silently SHADOW an earlier graded row in these
  // maps, shrinking the surface with no error anywhere — fail loudly
  // instead (a real round-13 near-miss: two q_cohort_retention entries)
  require(entries.map(_._1).distinct.size == entries.size,
    "duplicate query names: " + entries.map(_._1)
      .groupBy(identity).collect { case (n, g) if g.size > 1 => n }.mkString(", "))

  def queries: Map[String, (SparkSession, String) => DataFrame] =
    entries.map { case (n, f, _) => n -> f }.toMap

  def oracleSql: Map[String, String] =
    entries.collect { case (n, _, Some(sql)) => n -> sql }.toMap
}
