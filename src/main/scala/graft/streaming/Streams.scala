package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, OutputMode, Trigger}
import org.apache.spark.sql.Row

import graft.reddit.PostsTable
import graft.sources.Tables

/** Structured-Streaming surface (README.md:108 "future enhancements" made
  * real): the batch operators re-used under `readStream`.
  *
  * Design rule from SURVEY §7.4: batch upsert is the `foreachBatch` body —
  * streaming is additive, no re-architecture. State is bounded by
  * watermarks; dedup state by the watermark column, window state by the
  * window length.
  */
object Streams {

  /** Watermarked tumbling-window aggregate over an event stream — the
    * streaming analog of the hourly batch rollup (A3).
    */
  def hourlyCounts(events: DataFrame, tsCol: String = "ts",
                   watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark(tsCol, watermark)
      .groupBy(window(col(tsCol), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n_events"), sum(col("value")).as("sum_value"))
      .select(col("w.start").as("window_start"), col("event_type"),
        col("n_events"), col("sum_value"))

  final case class SessionEvent(user_id: Long, ts: java.sql.Timestamp)
  final case class SessionState(startMs: Long, endMs: Long, n: Long)
  final case class UserSession(user_id: Long, session_start: java.sql.Timestamp,
                               session_end: java.sql.Timestamp, n_events: Long)

  /** Streaming sessionization with custom state: one [[SessionState]] per
    * user, closed by event-time timeout after `gapSeconds` of inactivity —
    * the `flatMapGroupsWithState` analog of [[graft.operators.Sessionize]].
    * State size is O(active users), expired by the watermark clock.
    */
  def sessionize(events: org.apache.spark.sql.Dataset[SessionEvent],
                 gapSeconds: Long,
                 watermark: String = "10 minutes"): org.apache.spark.sql.Dataset[UserSession] = {
    import events.sparkSession.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout}
    val gapMs = gapSeconds * 1000L

    def close(uid: Long, s: SessionState): UserSession =
      UserSession(uid, new java.sql.Timestamp(s.startMs), new java.sql.Timestamp(s.endMs), s.n)

    events
      .withWatermark("ts", watermark)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(
        (uid: Long, batch: Iterator[SessionEvent], state: GroupState[SessionState]) => {
          if (state.hasTimedOut) {
            val done = close(uid, state.get)
            state.remove()
            Iterator.single(done)
          } else {
            val sorted = batch.map(_.ts.getTime).toArray.sorted
            var closed = List.empty[UserSession]
            var cur = state.getOption
            sorted.foreach { t =>
              cur match {
                case Some(s) if t - s.endMs <= gapMs =>
                  cur = Some(SessionState(s.startMs, math.max(s.endMs, t), s.n + 1))
                case Some(s) =>
                  closed ::= close(uid, s)
                  cur = Some(SessionState(t, t, 1))
                case None =>
                  cur = Some(SessionState(t, t, 1))
              }
            }
            cur.foreach { s =>
              state.update(s)
              state.setTimeoutTimestamp(s.endMs + gapMs)
            }
            closed.reverseIterator
          }
        })
  }

  /** One merged input row for [[asofEnrich]]: a dimension update carries
    * `dim_value` (and no `event_id`); a probe event carries `event_id`.
    * Callers tag-and-union their two streams into this shape.
    */
  final case class AsofInput(key: Long, ts: java.sql.Timestamp,
                             event_id: Option[Long], dim_value: Option[Double])
  final case class AsofState(dimTsMs: Long, value: Double)
  final case class AsofEnriched(key: Long, event_id: Long, ts: java.sql.Timestamp,
                                dim_value: Option[Double])

  /** Streaming point-in-time enrichment — the low-latency analog of
    * [[graft.operators.Temporal.asofJoin]]: per-key state holds the latest
    * dimension update, and every probe event is emitted with the newest
    * dim value whose timestamp ≤ the event's (dims sort before probes at
    * equal ts, matching the batch operator's inclusive semantics; a probe
    * older than the retained state yields None rather than a future
    * value).
    *
    * State is one (ts, value) per key, expired by event-time timeout
    * `retention` past the watermark after a key's last activity — so state
    * is O(keys active within the retention window), not O(keys ever seen)
    * (a watermark alone does NOT expire flatMapGroupsWithState state; only
    * timeouts do). A probe for an expired key re-starts with no dim value.
    * Caveat (documented, inherent to low-latency enrichment): a dimension
    * update that arrives AFTER a probe it should have enriched is not
    * retroactively applied — replay the batch
    * [[graft.operators.Temporal.asofJoin]] for exact backfill. A malformed
    * row carrying neither `event_id` nor `dim_value` is dropped, never a
    * query-killing exception.
    */
  def asofEnrich(inputs: org.apache.spark.sql.Dataset[AsofInput],
                 watermark: String = "10 minutes",
                 retentionMs: Long = 6L * 3600 * 1000)
      : org.apache.spark.sql.Dataset[AsofEnriched] = {
    require(retentionMs > 0, "asofEnrich: retentionMs must be positive")
    import inputs.sparkSession.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout}
    inputs
      .withWatermark("ts", watermark)
      .groupByKey(_.key)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(
        (key: Long, batch: Iterator[AsofInput], state: GroupState[AsofState]) => {
          if (state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else {
            val sorted = batch.toArray
              .sortBy(r => (r.ts.getTime, if (r.dim_value.isDefined) 0 else 1))
            val out = scala.collection.mutable.ArrayBuffer.empty[AsofEnriched]
            var cur = state.getOption
            sorted.foreach { r =>
              (r.dim_value, r.event_id) match {
                case (Some(v), _) =>
                  if (cur.forall(_.dimTsMs <= r.ts.getTime))
                    cur = Some(AsofState(r.ts.getTime, v))
                case (None, Some(eid)) =>
                  out += AsofEnriched(key, eid, r.ts,
                    cur.filter(_.dimTsMs <= r.ts.getTime).map(_.value))
                case (None, None) => // malformed: neither probe nor dim — drop
              }
            }
            cur.foreach { s =>
              state.update(s)
              // refresh the lease on every activity: expire `retention`
              // past max(watermark, newest event seen) — the max matters in
              // the first micro-batch, where the watermark is still 0 and a
              // watermark-only lease would expire the instant it advances
              val leaseBase = math.max(state.getCurrentWatermarkMs(),
                sorted.last.ts.getTime)
              state.setTimeoutTimestamp(leaseBase + retentionMs)
            }
            out.iterator
          }
        })
  }

  /** Continuous corpus growth with exact dedup: each micro-batch is
    * deduped against the persisted fingerprint index
    * ([[graft.operators.Dedup.dedupAgainstIndex]] — batch-unique minus
    * already-ingested), the survivors are handed to `accept`, and their
    * fingerprints are appended to the index so the NEXT batch sees them.
    *
    * Delivery contract: `accept` is AT-LEAST-ONCE, not exactly-once — a
    * crash in the window between `accept(fresh)` and the index append
    * replays the batch with the same survivors (the index doesn't know
    * them yet), so `accept` must be idempotent (e.g. the keyed
    * [[upsertSink]] body). Once the append has committed, any replay
    * dedups to empty. Appending FIRST would make `accept` at-most-once
    * instead — losing data on a crash between the two — so accept-first
    * is the safe order for a no-data-loss pipeline.
    * The index table must exist ([[graft.operators.Dedup.writeFingerprintIndex]]).
    * The per-batch survivors are checkpointed eagerly, so `accept` and the
    * index append read the same computed blocks.
    */
  def ingestDedup(stream: DataFrame, id: String, text: String,
                  indexTable: String, checkpoint: String,
                  buckets: Int = 64)
                 (accept: DataFrame => Unit): DataStreamWriter[Row] =
    stream.writeStream
      .outputMode(OutputMode.Append)
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val fresh = graft.operators.Dedup.dedupAgainstIndex(batch, id, text, indexTable)
          .localCheckpoint(eager = true)
        accept(fresh)
        graft.operators.Dedup.appendFingerprintIndex(fresh, id, text, indexTable, buckets)
      }

  /** Stream-stream interval INNER join — the attribution primitive
    * (impression ⋈ click within a time window) and the one join class
    * Structured Streaming can run with BOUNDED state: the equi-key plus
    * the two-sided time condition lets Spark evict left rows once the
    * watermark passes `leftTs + boundMs` and right rows once it passes
    * `rightTs`, so state is O(rows inside the bound window), not O(stream).
    * Both sides get the event-time watermark here — a caller-supplied
    * watermark on only one side would silently pin the other side's state
    * forever, which is the failure mode this wrapper exists to prevent.
    *
    * Join condition: `leftKey = rightKey AND rightTs ∈ [leftTs,
    * leftTs + boundMs]` (inclusive both ends — the batch-replayable
    * contract the oracle mirrors). Column names must be disjoint across
    * the sides: Spark's streaming join state manager keys raw attributes,
    * and duplicate names make the emitted schema ambiguous.
    */
  def intervalJoin(left: DataFrame, right: DataFrame,
                   leftKey: String, leftTs: String,
                   rightKey: String, rightTs: String,
                   boundMs: Long, watermark: String = "0 seconds",
                   joinType: String = "inner"): DataFrame = {
    require(boundMs >= 0, s"intervalJoin: negative bound $boundMs")
    require(joinType == "inner" || joinType == "left_outer",
      s"intervalJoin: joinType '$joinType' (inner or left_outer; right_outer " +
        "is the mirrored call, full_outer has no bounded-state formulation here)")
    val shared = left.columns.toSet.intersect(right.columns.toSet)
    require(shared.isEmpty,
      s"intervalJoin: sides share column names ${shared.mkString(", ")} — " +
        "rename one side, the joined schema must be unambiguous")
    // left_outer emits an unmatched left row with right-side nulls ONLY
    // when the watermark passes leftTs + bound and evicts it — so a
    // drain-to-end run (AvailableNow) must push a final far-future event
    // through BOTH sides or tail rows stay unemitted in the checkpoint
    // (the q_stream_session flush-event discipline; q_stream_join_outer
    // stages exactly that file)
    left.withWatermark(leftTs, watermark)
      .join(right.withWatermark(rightTs, watermark),
        col(leftKey) === col(rightKey) &&
          col(rightTs) >= col(leftTs) &&
          col(rightTs) <= col(leftTs) + expr(s"interval $boundMs milliseconds"),
        joinType)
  }

  /** Continuous ingest into the versioned posts table: every micro-batch is
    * one atomic delete-matching upsert (U3 as the foreachBatch body).
    */
  def upsertSink(stream: DataFrame, tableRoot: String, key: String = "id",
                 checkpoint: String): DataStreamWriter[Row] =
    stream.writeStream
      .outputMode(OutputMode.Append)
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        PostsTable.upsert(batch.sparkSession, tableRoot, batch, key)
      }

  /** [[upsertSink]] with the exactly-once epoch ledger: a replayed
    * micro-batch is SKIPPED by ledger lookup instead of re-upserted, and
    * per-epoch row metrics commit atomically with the data
    * ([[EpochLedger.exactlyOnceUpsert]]).
    */
  def exactlyOnceUpsertSink(stream: DataFrame, tableRoot: String,
                            key: String = "id",
                            checkpoint: String): DataStreamWriter[Row] =
    stream.writeStream
      .outputMode(OutputMode.Append)
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, epochId: Long) =>
        EpochLedger.exactlyOnceUpsert(batch.sparkSession, tableRoot, batch,
          epochId, key): Unit
      }

  /** Streaming distinct-count via HyperLogLog registers: the stream's
    * items map to `(bucket, rho)` rows
    * ([[graft.operators.Sketches.hllItemLevels]]) and a streaming
    * `max` aggregation keyed on the bucket holds the registers — state
    * is O(m)=O(32) FOREVER, against an unbounded key stream (the
    * bounded-state answer to "how many distinct users so far", where
    * exact streaming distinct state grows with the key count). Update
    * mode emits each micro-batch's touched registers into a versioned
    * [[graft.reddit.PostsTable]] upsert keyed by bucket; because the
    * register max is monotone, last-writer-wins per bucket IS the
    * stream-wide max, and the final table equals the batch
    * [[graft.operators.Sketches.hllRegisters]] of everything that
    * arrived (graded by `q_stream_hll`). Create the table with m
    * zeroed registers first and every read is dense.
    */
  def hllRegisterSink(stream: DataFrame, item: String, m: Int,
                      tableRoot: String,
                      checkpoint: String): DataStreamWriter[Row] =
    graft.operators.Sketches.hllItemLevels(stream, item, m)
      .groupBy("bucket")
      .agg(org.apache.spark.sql.functions.max(col("rho")).cast("long")
        .as("reg"))
      .writeStream
      .outputMode(OutputMode.Update)
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        PostsTable.upsert(batch.sparkSession, tableRoot, batch, "bucket")
      }

  /** Stream-static enrichment: left-join every micro-batch against a
    * STATIC dimension snapshot — the other join family Structured
    * Streaming supports besides stream-stream, and the common one (enrich
    * a click stream with the user/catalog table). Unlike
    * [[intervalJoin]] there is NO streaming state and no watermark: the
    * dimension is not a stream, so nothing buffers, nothing evicts, and
    * the checkpoint holds only source offsets — restart cost is O(1)
    * regardless of how long the stream has run.
    *
    * Scale shape: the dim side broadcasts (explicitly — a dimension that
    * does not fit a broadcast belongs in [[asofEnrich]]'s keyed state or a
    * bucketed index join instead), so each micro-batch is a map-side hash
    * join: zero shuffle of the stream at any batch size.
    *
    * Dimension freshness, stated honestly (measured, not assumed): the
    * dim DataFrame's FILE LISTING pins at query start. Overwriting a
    * plain parquet path mid-query KILLS the stream (FILE_NOT_EXIST on the
    * vanished files); committing a new [[graft.reddit.PostsTable]] version
    * is safe — the old version's files survive until vacuum — but the
    * running query keeps reading its original snapshot (stale-consistent,
    * never torn; StreamsSpec pins both behaviors). A dimension that must
    * refresh per micro-batch belongs in a `foreachBatch` body that
    * re-reads it each batch, or in [[asofEnrich]]'s keyed state where
    * updates flow as a stream.
    */
  def staticEnrich(stream: DataFrame, dim: DataFrame, key: String): DataFrame =
    stream.join(broadcast(dim), Seq(key), "left")

  /** Streaming exact dedup with BOUNDED state: watermark the event-time
    * column by `horizon`, then `dropDuplicatesWithinWatermark` on the id
    * columns — first arrival wins and is emitted immediately (dedup
    * operators don't hold rows back in append mode); re-deliveries inside
    * the horizon are suppressed by keyed state that the watermark then
    * EVICTS, so state is O(distinct ids per horizon), not per stream
    * lifetime. `horizon` is the contract: a duplicate arriving more than
    * `horizon` after the watermark high-mark may re-emit — size it to the
    * upstream's maximum re-delivery lag (an at-least-once bus retries in
    * seconds-to-hours, not days).
    */
  def dedupWithinWatermark(stream: DataFrame, idCols: Seq[String],
                           tsCol: String, horizon: String): DataFrame =
    stream.withWatermark(tsCol, horizon)
      .dropDuplicatesWithinWatermark(idCols.head, idCols.tail: _*)

  /** Name of the maintained-summary sidecar inside the versioned table. */
  val SummarySidecar = "_graft_summary"

  /** Streaming MATERIALIZED VIEW: a foreachBatch sink that upserts each
    * micro-batch into the versioned table AND maintains the table's
    * grouped count/sum summary ALGEBRAICALLY
    * ([[graft.operators.Incremental.maintainSummary]]) — the summary rides
    * as a sidecar of the SAME atomic version commit, so readers can never
    * observe a table/summary pair that disagrees (the
    * [[EpochLedger]] transactional-sidecar idea applied to derived state).
    * The base table is probed only by the batch's keys per commit — the
    * summary never costs a table rescan, which is the entire point of a
    * continuously-maintained view.
    *
    * `group` values must be strings and `measure` integral (the summary
    * serializes as a TSV sidecar — group-cardinality-bounded driver state,
    * the same class as the epoch ledger; at warehouse scale it would land
    * as an underscore-prefixed parquet file in the version dir, same
    * atomicity, no driver round-trip). Batch keys must be unique per
    * micro-batch (the upsert contract).
    */
  def summaryUpsertSink(stream: DataFrame, tableRoot: String, key: String,
                        group: String, measure: String,
                        checkpoint: String,
                        maxGroups: Int = 100000): DataStreamWriter[Row] =
    stream.writeStream
      .outputMode(OutputMode.Append)
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val spark = batch.sparkSession
        val next =
          if (!PostsTable.exists(tableRoot))
            graft.operators.Incremental.summarize(batch, group, measure)
          else {
            val base = PostsTable.read(spark, tableRoot)
            val prior = readSummary(spark, tableRoot, group)
            graft.operators.Incremental.maintainSummary(
              prior, base, batch.withColumn("__op", lit("U")),
              key, group, measure, "__op")
          }
        // Loud-failure budget, not an OOM: the sidecar is driver state
        // bounded by group cardinality — enforce that bound the way
        // PostsTable.upsert enforces maxStagedKeys, BEFORE collecting.
        val nGroups = next.count()
        require(nGroups <= maxGroups,
          s"summaryUpsertSink: summary has $nGroups groups, over the " +
          s"maxGroups budget of $maxGroups — the TSV sidecar is driver " +
          s"state; raise the budget deliberately or aggregate to a " +
          s"coarser group key")
        val rows = next.collect().toSeq
        // The TSV contract, enforced at write time (a tab or newline in a
        // group value would corrupt readSummary's parse silently).
        rows.foreach { r =>
          val g = String.valueOf(r.get(0))
          require(!g.contains('\t') && !g.contains('\n'),
            s"summaryUpsertSink: group value ${g.take(40)}... contains a " +
            "tab/newline — not representable in the TSV sidecar")
        }
        val body = rows
          .map(r => s"${r.get(0)}\t${r.getLong(1)}\t${r.getLong(2)}")
          .sorted.mkString("\n")
        PostsTable.upsert(spark, tableRoot, batch, key,
          sidecar = Map(SummarySidecar -> body))
      }

  /** Streaming corpus-drift monitor: maintain per-(group, token) counts
    * across micro-batches of APPENDED documents (counts only ever add)
    * and write a per-epoch entropy ledger row per group — the
    * [[graft.operators.TextAnalysis.sourceEntropy]] telemetry kept live
    * on a stream, with per-epoch cost O(vocab), never a corpus rescan.
    *
    * Storage: `root/counts/v<epoch>` (the maintained count relation —
    * distributed parquet, vocab-bounded, NOT driver state) and
    * `root/ledger/v<epoch>` (that epoch's entropy rows). Replay-safe the
    * PostsTable way: an epoch merges from the LARGEST version strictly
    * below itself and overwrites its own dirs, so a crashed epoch replays
    * idempotently and never double-merges its own output.
    */
  def entropyDriftSink(stream: DataFrame, grp: String, text: String,
                       root: String, checkpoint: String): DataStreamWriter[Row] =
    stream.writeStream
      .outputMode(OutputMode.Append)
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, epochId: Long) =>
        val spark = batch.sparkSession
        val bc = batch.select(col(grp).cast("string").as("g"),
            explode(graft.operators.TextAnalysis.tokens(col(text))).as("tkn"))
          .groupBy("g", "tkn").agg(count(lit(1)).as("c"))
        val merged = (versionBelow(s"$root/counts", epochId) match {
          case Some(v) =>
            Tables.parquet(spark, s"$root/counts/v$v").unionByName(bc)
              .groupBy("g", "tkn").agg(sum(col("c")).as("c"))
          case None => bc
        }).persist()
        try {
          // single-file versions: counts are vocab-bounded and the ledger
          // is groups-bounded — per-epoch file count matters more than
          // write parallelism here
          merged.coalesce(1)
            .write.mode("overwrite").parquet(s"$root/counts/v$epochId")
          // entropy from the same cached relation the version committed —
          // the ledger and counts can't diverge within an epoch
          graft.operators.TextAnalysis.entropyOfCounts(merged)
            .withColumn("epoch", lit(epochId)).coalesce(1)
            .write.mode("overwrite").parquet(s"$root/ledger/v$epochId")
        } finally merged.unpersist()
      }

  /** The drift ledger of [[entropyDriftSink]]: every epoch's per-group
    * entropy rows, unioned across version dirs.
    */
  def readDriftLedger(spark: SparkSession, root: String): DataFrame = {
    val vs = listVersions(s"$root/ledger")
    require(vs.nonEmpty, s"no drift ledger at $root")
    vs.map(v => Tables.parquet(spark, s"$root/ledger/v$v"))
      .reduce(_.unionByName(_))
  }

  private def listVersions(dir: String): Seq[Long] = {
    import scala.jdk.CollectionConverters._
    val p = java.nio.file.Paths.get(dir)
    if (!java.nio.file.Files.isDirectory(p)) Seq.empty
    else {
      val s = java.nio.file.Files.list(p)
      try s.iterator().asScala.toSeq
        .map(_.getFileName.toString)
        .collect { case n if n.matches("v\\d+") => n.drop(1).toLong }
        .sorted
      finally s.close()
    }
  }

  private def versionBelow(dir: String, epoch: Long): Option[Long] =
    listVersions(dir).filter(_ < epoch).lastOption

  /** The maintained summary of [[summaryUpsertSink]]'s table, as a
    * relation `(group, n_rows, sum_measure)` — read from the live
    * version's sidecar, never recomputed.
    */
  def readSummary(spark: SparkSession, tableRoot: String,
                  group: String): DataFrame = {
    import spark.implicits._
    val body = PostsTable.readSidecar(tableRoot, SummarySidecar)
      .getOrElse(throw new IllegalStateException(
        s"no $SummarySidecar sidecar at $tableRoot — not a summary-maintained table"))
    val rows = body.split("\n").filter(_.nonEmpty).toSeq.map { line =>
      val Array(g, n, m) = line.split("\t", 3)
      (g, n.toLong, m.toLong)
    }
    rows.toDF(group, "n_rows", "sum_measure")
  }

  final case class LedgerEvent(user_id: Long, cents: Long)
  final case class LedgerState(n: Long, cents: Long)
  final case class LedgerRow(user_id: Long, n_events: Long, cents: Long)

  /** Per-key cumulative ledger as a `transformWithState` StatefulProcessor
    * (the Spark-4 arbitrary-state API that replaces
    * `flatMapGroupsWithState`): one [[LedgerState]] per user in the state
    * store, and after every micro-batch that touches a user, ONE row with
    * that user's cumulative (count, cents) — a change-feed of running
    * per-entity totals. State is O(active keys) and lives in RocksDB
    * (required by the API; changelog-checkpointed, so at cluster scale
    * state restores incrementally instead of re-reading full snapshots).
    * Pass a `TTLConfig` to bound retention for unbounded key spaces.
    */
  class RunningLedgerProcessor(ttl: org.apache.spark.sql.streaming.TTLConfig =
                                 org.apache.spark.sql.streaming.TTLConfig.NONE)
      extends org.apache.spark.sql.streaming.StatefulProcessor[Long, LedgerEvent, LedgerRow] {
    @transient private var st: org.apache.spark.sql.streaming.ValueState[LedgerState] = _

    override def init(outputMode: OutputMode,
                      timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
      st = getHandle.getValueState[LedgerState]("ledger",
        org.apache.spark.sql.Encoders.product[LedgerState], ttl)

    override def handleInputRows(key: Long, rows: Iterator[LedgerEvent],
                                 timerValues: org.apache.spark.sql.streaming.TimerValues)
        : Iterator[LedgerRow] = {
      val prev = if (st.exists()) st.get() else LedgerState(0L, 0L)
      var n = prev.n
      var c = prev.cents
      rows.foreach { r => n += 1; c += r.cents }
      st.update(LedgerState(n, c))
      Iterator.single(LedgerRow(key, n, c))
    }
  }

  /** [[RunningLedgerProcessor]] wired onto a stream. The caller's session
    * must use the RocksDB state-store provider
    * (`spark.sql.streaming.stateStore.providerClass`) — transformWithState
    * refuses the default HDFS-backed store.
    */
  def runningLedger(events: org.apache.spark.sql.Dataset[LedgerEvent])
      : org.apache.spark.sql.Dataset[LedgerRow] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .transformWithState(new RunningLedgerProcessor(),
        org.apache.spark.sql.streaming.TimeMode.None(), OutputMode.Append())
  }
}
