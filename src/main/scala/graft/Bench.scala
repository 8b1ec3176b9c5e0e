package graft

import org.apache.spark.sql.SparkSession

/** Per-round benchmark: run every registered query at SPARK_GRAFT_SF_DIR,
  * print ONE JSON line at the end plus per-query progress on stderr.
  *
  * Queries execute against the `noop` sink so the full plan runs (a bare
  * count() would let Catalyst collapse projections to a metadata-only
  * scan). Each query gets a wall-clock budget (SPARK_GRAFT_QUERY_TIMEOUT,
  * default 120 s) enforced by job-group cancellation, so one pathological
  * plan cannot eat the whole bench.
  *
  * The artifact is SELF-ADJUDICATING — readable without isolated re-runs
  * on a possibly-contended shared host:
  *
  *  - each query runs min-of-N in-session (SPARK_GRAFT_RUNS, default 2):
  *    the min strips one-off JIT/page-cache/neighbor noise, which is what
  *    made earlier per-round artifacts need judge forensics;
  *  - `gc_ms` (a parallel name→millis map; the documented
  *    `queries` name→seconds schema is unchanged for the driver) carries
  *    the JVM-wide collector time overlapping the reported run — a slow
  *    query with high gc share is memory-pressure noise, one with low gc
  *    share is genuinely slow;
  *  - TWO fixed sentinels are re-timed at session start, middle, and end:
  *    a ~1 s scan/project probe (q_p11_date_parts — CPU/scheduler
  *    contention) and a generated heap-heavy aggregation (memory
  *    pressure / GC steal, the class the scan probe is blind to). Drift
  *    > 1.5 on either means the HOST moved underneath the session —
  *    per-query comparisons against other rounds are suspect and the
  *    `contended` flag says so in the artifact itself; a probe that
  *    errors or times out forces the flag too (`probe_failed` in the
  *    JSON records which adjudication path fired);
  *  - `failed_queries` counts erroring/timed-out queries; any failure
  *    forces `value_suspect` because the headline total then sums fewer
  *    queries than other rounds;
  *  - `over2x_vs_anchor` counts full-run queries over 2x their committed
  *    per-query anchor — >= 8 such rows is the scattered burst-noise
  *    signature the probe points are structurally blind to (noise
  *    arriving BETWEEN probes; the r17 driver artifact and the r18
  *    closing run are the exhibits) and forces `value_suspect`, routing
  *    the artifact to the sidecar instead of clobbering the clean one.
  */
object Bench {

  private final case class RunResult(sec: Double, gcMs: Long, ok: Boolean)

  final case class Probe(times: Seq[Double], drift: Double, contended: Boolean)

  /** Contention adjudication over a sentinel's (start, mid, end) timings
    * — object-level (not inside main) so the three rules are unit-tested:
    * (a) mid/end hold the 1.5× bar against each other; (b) the start
    * point gets a 2× allowance against the later points (JVM-wide C2
    * warmup inflates it ~1.3-1.5× even on an idle host, measured); (c)
    * LATE-ONSET contention — a quiet start followed by inflated mid AND
    * end (min(later)/start > 1.5) — the inverse shape warmup can never
    * produce (later points only get faster on a quiet host); the r14 run
    * where the heavy probe went 1.09 → 2.31 → 1.78 with (a) and (b)
    * silent is the exhibit (mid/end agreed with each other at 1.30×).
    */
  private[graft] def adjudicate(times: Seq[Double]): Probe = {
    val drift =
      if (times.size >= 2) times.max / math.max(1e-9, times.min) else 1.0
    val later = times.drop(1)
    val laterDrift =
      if (later.size >= 2) later.max / math.max(1e-9, later.min) else 1.0
    val startRatio =
      if (times.nonEmpty && later.nonEmpty)
        times.head / math.max(1e-9, later.min)
      else 1.0
    val onsetRatio =
      if (times.nonEmpty && later.nonEmpty)
        later.min / math.max(1e-9, times.head)
      else 1.0
    Probe(times, drift,
      laterDrift > 1.5 || startRatio > 2.0 || onsetRatio > 1.5)
  }

  /** Burst-contention backstop the sentinels are structurally blind to:
    * the start/mid/end probes miss noise that arrives in bursts BETWEEN
    * probe points (the r17 driver artifact and the r18 closing run both
    * read formally-quiet sentinels around 15+ co-drifting over-2x
    * rows). Count queries over 2x their committed anchor, restricted to
    * anchors >= `floor` seconds (below that, scheduling jitter owns the
    * ratio). A genuine code regression concentrates in the touched
    * family; a scattered count at or above the threshold is a host
    * signature — either way the artifact must say "compare carefully".
    */
  private[graft] def anchorDriftCount(queries: Map[String, Double],
                                      anchors: Map[String, Double],
                                      floor: Double = 0.5): Int =
    queries.count { case (n, sec) =>
      sec > 0 && anchors.get(n).exists(a => a >= floor && sec > 2 * a)
    }

  /** Where a finished run's full artifact goes. A `value_suspect` run
    * must never overwrite a committed CLEAN `dev/bench_latest.json` —
    * the canonical perf record would silently degrade (the r14 working
    * tree held exactly that state) — so suspect runs land in the
    * `dev/bench_suspect.json` sidecar whenever the existing artifact is
    * clean. A suspect run may replace a suspect artifact (latest noise
    * beats stale noise), and a clean run always takes the canonical
    * path. Object-level so the routing rule is unit-tested.
    */
  private[graft] def artifactTarget(suspect: Boolean,
                                    existing: Option[String]): String = {
    // whitespace-tolerant match: formatting drift (space after the colon,
    // pretty-printing) must not silently classify a clean artifact as
    // non-clean and let a suspect run clobber it
    val cleanRe = """"value_suspect"\s*:\s*false""".r
    val existingClean = existing.exists(s => cleanRe.findFirstIn(s).isDefined)
    if (suspect && existingClean) "dev/bench_suspect.json"
    else "dev/bench_latest.json"
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val runsPerQuery = math.max(1, sys.env.getOrElse("SPARK_GRAFT_RUNS", "2").toInt)
    val selected = QueryRun.selected()
    val spark = Sessions.local("graft-bench")

    // warm the JVM/codegen paths once so the first measured query isn't
    // charged ~5 s of JIT + classloading (the cluster-steady-state number
    // is the meaningful one)
    try graft.sources.Tables.names.foreach { n =>
      graft.sources.Tables(spark, sfDir, n).limit(1000)
        .write.mode("overwrite").format("noop").save()
    } catch { case e: Throwable => System.err.println(s"[bench] warmup: ${e.getMessage}") }

    import scala.jdk.CollectionConverters._
    def gcMs: Long = java.lang.management.ManagementFactory
      .getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

    /** One timed noop-sink execution (see [[QueryRun.timed]]), then the
      * cleanup that keeps one allocation-heavy plan from taxing its
      * successors' numbers.
      */
    def runOnce(name: String, fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): RunResult = {
      val gc0 = gcMs
      val r = QueryRun.timed(spark, name, "bench") {
        fn(spark, sfDir).write.mode("overwrite").format("noop").save()
      }
      // GC read before the cleanup: the forced collection there runs
      // outside the timer and must not land in the run's gc_ms
      val gc = gcMs - gc0
      QueryRun.cleanup(spark)
      RunResult(r.sec, gc, r.ok)
    }

    /** min-of-N: report the fastest successful run (and ITS gc overlap —
      * the pair describes one actual execution, not a min/min chimera).
      * A failed/timed-out first attempt is not retried: the failure is the
      * result, and retrying would double the timeout bill.
      *
      * STREAMING queries run once: their wall time is dominated by fixed
      * micro-batch machinery (checkpoint creation, per-batch planning,
      * state-store lifecycles) that re-runs reproduce within noise —
      * min-of-2 just pays the ~60 s family bill twice without sharpening
      * the signal, and the contention sentinels already adjudicate
      * host-noise rounds. Override with SPARK_GRAFT_STREAM_RUNS.
      */
    val streamRuns = math.max(1,
      sys.env.getOrElse("SPARK_GRAFT_STREAM_RUNS", "1").toInt)
    def runMeasured(name: String, fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): RunResult = {
      val runs = if (name.startsWith("q_stream")) streamRuns else runsPerQuery
      var best: RunResult = runOnce(name, fn)
      var i = 1
      while (best.ok && i < runs) {
        val r = runOnce(name, fn)
        if (r.ok && r.sec < best.sec) best = r
        i += 1
      }
      best
    }

    // contention sentinel: one fixed query timed at session start, middle,
    // and end. It measures the HOST under this session, not the engine —
    // the engine code it runs is identical each time. The probe must stay
    // ~1 s: at the 300 ms scale fixed scheduling jitter is ±30% and the
    // drift ratio lives inside its own noise floor (q_a2_having_sort, the
    // original sentinel, optimized its way down to ~0.35 s across rounds
    // and started tripping the 1.5× bar on 0.2 s wobbles); at ~1 s the
    // ratio tracks sustained host slowdown (the 2-4× contention class the
    // flag is for). q_p11_date_parts is a stable scan+project probe in
    // that regime.
    val sentinelName = "q_p11_date_parts"
    val sentinel = SparkEntry.queries.get(sentinelName)

    // second sentinel, heap-heavy: the r11 artifact proved the scan probe
    // is structurally blind to MEMORY pressure — the four biggest-heap
    // queries ran 3-7× slow while the 0.4 s scan sentinel drifted only
    // 1.38. This probe's cost is dominated by a wide hash aggregation
    // (1.5M string-bearing groups generated in-session, no fixture
    // dependency), so host memory pressure / GC steal moves it the way it
    // moves the big dedup/sketch queries.
    val heavyName = "generated_heavy_agg"
    def heavyFn(s: SparkSession, d: String): org.apache.spark.sql.DataFrame = {
      import org.apache.spark.sql.functions._
      s.range(0L, 12000000L, 1, 32)
        .select((col("id") % 1500000L).as("k"),
          col("id").cast("double").as("v"),
          concat(lit("pad-"), (col("id") % 9973L).cast("string")).as("pad"))
        .groupBy("k")
        .agg(sum(length(col("pad"))).as("b"), avg(col("v")).as("a"),
          max(col("pad")).as("m"))
        .agg(count(lit(1)).as("groups"), sum(col("b")).as("bytes"))
    }


    final case class Pass(results: Seq[(String, RunResult)],
                          scan: Probe, heavy: Probe, probeFailed: Boolean,
                          contended: Boolean)

    /** One full measured pass over the selection, bracketed by BOTH
      * sentinels. Each sentinel point is min-of-N like every query: the
      * min strips one-off scheduling/JIT noise, so drift across points
      * reflects a SUSTAINED host slowdown, not a single slow execution (a
      * first measured run on a clean host was 1.76× its last purely from
      * residual warmup — exactly the false positive this prevents).
      */
    def measurePass(): Pass = {
      val scanTimes = scala.collection.mutable.ArrayBuffer.empty[Double]
      val heavyTimes = scala.collection.mutable.ArrayBuffer.empty[Double]
      // a probe that errors or times out is the STRONGEST contention
      // signal there is — dropping its point silently would read as
      // drift 1.0 / clean on exactly the pass it was added to flag
      var probeFailed = false
      def timeSentinels(tag: String): Unit = {
        sentinel.foreach { fn =>
          val r = runMeasured(s"sentinel-$tag", fn)
          if (r.ok) {
            scanTimes += r.sec
            System.err.println(f"[bench] ${s"sentinel($tag)"}%-28s ${r.sec}%8.2fs")
          } else probeFailed = true
        }
        val h = runMeasured(s"sentinel-heavy-$tag", heavyFn)
        if (h.ok) {
          heavyTimes += h.sec
          System.err.println(
            f"[bench] ${s"sentinel-heavy($tag)"}%-28s ${h.sec}%8.2fs gc=${h.gcMs}%dms")
        } else probeFailed = true
      }
      timeSentinels("start")
      // the mid point only means something with queries on both sides of
      // it: under a 0/1-query SPARK_GRAFT_ONLY dev filter it would fire
      // right after "start" and make laterDrift compare two adjacent
      // measurements
      val mid = if (selected.length >= 2) selected.length / 2 else -1
      val results = selected.zipWithIndex.map { case ((name, fn), idx) =>
        if (idx == mid) timeSentinels("mid")
        val r = runMeasured(name, fn)
        System.err.println(
          f"[bench] $name%-28s ${r.sec}%8.2fs gc=${r.gcMs}%dms ${if (r.ok) "" else "(FAILED)"}")
        name -> r
      }
      timeSentinels("end")
      val scan = adjudicate(scanTimes.toSeq)
      val heavy = adjudicate(heavyTimes.toSeq)
      Pass(results, scan, heavy, probeFailed,
        contended = scan.contended || heavy.contended || probeFailed)
    }

    // warm both sentinels' plan/codegen paths untimed first — otherwise
    // the start point carries sentinel-specific JIT cost and reads as
    // fake session-long drift (3 executions: C2 tiering needs more than
    // one pass before the timing stabilizes)
    sentinel.foreach(fn => (1 to 3).foreach(_ => runOnce("sentinel-warmup", fn)))
    (1 to 3).foreach(_ => runOnce("sentinel-heavy-warmup", heavyFn))

    // SELF-CORRECTING, not just self-adjudicating: a contended pass is
    // re-run (once by default — contention is host noise, not session
    // state; per-query cleanup already resets the session between
    // queries). If every pass is contended, report the quietest one and
    // stamp value_suspect=true at TOP level, so no consumer can quote the
    // headline number without seeing the flag (the round-9 driver artifact
    // — drift 2.194, q_sketch_scale 24.6 s vs 7 s clean — is the exhibit).
    val maxRetries = math.max(0,
      sys.env.getOrElse("SPARK_GRAFT_CONTENTION_RETRIES", "1").toInt)
    var pass = measurePass()
    var passesRun = 1
    while (pass.contended && passesRun <= maxRetries) {
      System.err.println(
        f"[bench] sentinel flagged contention (scan drift ${pass.scan.drift}%.3f, " +
          f"heavy drift ${pass.heavy.drift}%.3f) — re-running the full selection once")
      val retry = measurePass()
      passesRun += 1
      if (!retry.contended ||
          math.max(retry.scan.drift, retry.heavy.drift) <
            math.max(pass.scan.drift, pass.heavy.drift)) pass = retry
    }

    val results = pass.results
    val qs = results.map { case (k, r) =>
      "\"" + k + "\":" + (if (r.ok) f"${r.sec}%.3f" else "-1.0")
    }.mkString("{", ",", "}")
    val gcs = results.map { case (k, r) => "\"" + k + "\":" + r.gcMs }
      .mkString("{", ",", "}")
    val total = results.collect { case (_, r) if r.ok => r.sec }.sum
    // any erroring/timed-out query makes the headline total incomparable
    // to other rounds (it silently sums fewer queries) — the artifact
    // itself must say so, not just the narrative around it
    val failed = results.count { case (_, r) => !r.ok }
    // anchor-drift backstop (see anchorDriftCount): >= 8 over-2x rows vs
    // the committed baseline marks the run suspect even when the
    // sentinels read quiet. Applied to FULL runs only — a dev slice has
    // too few rows for the scattered-count signature. The anchor file is
    // a flat {"queries": {name: {"sec": N}}} map; parsed with a regex so
    // the bench keeps zero JSON dependencies.
    val anchorDrift =
      if (QueryRun.only.nonEmpty) 0
      else try {
        val txt = java.nio.file.Files.readString(
          java.nio.file.Paths.get("dev/baseline_per_query.json"))
        val entryRe =
          """"(q_[A-Za-z0-9_]+)"\s*:\s*\{[^}]*"sec"\s*:\s*([0-9.]+)""".r
        val anchors = entryRe.findAllMatchIn(txt)
          .map(m => m.group(1) -> m.group(2).toDouble).toMap
        if (anchors.isEmpty)
          System.err.println(
            "[bench] WARNING: dev/baseline_per_query.json parsed to 0 anchors — anchor-drift backstop disabled this run")
        anchorDriftCount(
          results.collect { case (n, r) if r.ok => n -> r.sec }.toMap, anchors)
      } catch {
        case e: Throwable =>
          // A missing/corrupt anchor file must not fail the bench, but a
          // silently disabled backstop would let a contended run clobber
          // the clean artifact with no signal — say so in the stdout tail.
          System.err.println(
            s"[bench] WARNING: anchor file unreadable (${e.getClass.getSimpleName}: ${e.getMessage}) — anchor-drift backstop disabled this run")
          0
      }
    val anchorSuspect = anchorDrift >= 8
    if (anchorSuspect)
      System.err.println(
        s"[bench] $anchorDrift queries over 2x their anchors — burst-contention signature, marking value_suspect")
    val suspect = pass.contended || failed > 0 || anchorSuspect
    def probeJson(query: String, p: Probe): String = {
      val pts = p.times.map(s => f"$s%.3f").mkString("[", ",", "]")
      f"""{"query":"$query","times":$pts,"drift":${p.drift}%.3f,"contended":${p.contended}}"""
    }
    val sentinelJson = probeJson(sentinelName, pass.scan)
    val heavyJson = probeJson(heavyName, pass.heavy)
    val line = f"""{"metric":"total","value":$total%.3f,"unit":"sec","value_suspect":$suspect,"failed_queries":$failed,"probe_failed":${pass.probeFailed},"passes":$passesRun,"over2x_vs_anchor":$anchorDrift,"queries":$qs,"gc_ms":$gcs,"runs":$runsPerQuery,"sentinel":$sentinelJson,"sentinel_heavy":$heavyJson,"sf":"$sfDir"}"""
    // the full name→sec / name→gc maps are ~12k chars at 267+ queries;
    // the driver's round artifact keeps only the LAST 2000 stdout chars,
    // so printing the full line last guarantees the artifact's per-query
    // data is a truncated fragment (the round-13 BENCH artifact lost its
    // entire queries map that way). Persist the full line to a committed
    // file, print it first (informational), then print a COMPACT line
    // LAST — sized to survive the tail window whole — carrying total, n,
    // adjudication flags, both sentinels, and every per-query time as a
    // centisecond array in sorted-name order (names are recoverable from
    // SparkEntry.queries, and the full map is one file away).
    // full runs only: a SPARK_GRAFT_ONLY dev slice must never clobber the
    // committed round artifact with a partial query map
    if (QueryRun.only.isEmpty) {
      val latest = java.nio.file.Paths.get("dev/bench_latest.json")
      val existing =
        try Some(java.nio.file.Files.readString(latest))
        catch { case _: Throwable => None }
      val target = artifactTarget(suspect, existing)
      if (target != "dev/bench_latest.json")
        System.err.println(s"[bench] suspect run; clean artifact kept, writing $target")
      try java.nio.file.Files.write(java.nio.file.Paths.get(target),
        (line + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
      catch { case e: Throwable => System.err.println(s"[bench] $target: ${e.getMessage}") }
    }
    println(line)
    val perQueryCs = results.map { case (_, r) =>
      if (r.ok) math.round(r.sec * 100).toString else "-1"
    }.mkString("[", ",", "]")
    val compactFull = f"""{"metric":"total","value":$total%.3f,"unit":"sec","n":${results.size},"value_suspect":$suspect,"failed_queries":$failed,"probe_failed":${pass.probeFailed},"passes":$passesRun,"runs":$runsPerQuery,"sentinel":$sentinelJson,"sentinel_heavy":$heavyJson,"sf":"$sfDir","query_order":"name_asc","per_query_cs":$perQueryCs,"full_artifact":"dev/bench_latest.json"}"""
    val compact =
      if (compactFull.length <= 1850) compactFull
      else f"""{"metric":"total","value":$total%.3f,"unit":"sec","n":${results.size},"value_suspect":$suspect,"failed_queries":$failed,"probe_failed":${pass.probeFailed},"passes":$passesRun,"runs":$runsPerQuery,"sentinel":$sentinelJson,"sentinel_heavy":$heavyJson,"sf":"$sfDir","full_artifact":"dev/bench_latest.json"}"""
    println(compact)
    spark.stop()
  }
}
