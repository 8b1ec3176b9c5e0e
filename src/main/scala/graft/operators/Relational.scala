package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Core relational operator library — the reference's declared computation
  * surface (SURVEY.md §2) re-expressed as composable DataFrame transforms.
  *
  * Every function is a pure `DataFrame => DataFrame` (or takes explicit
  * inputs) so Catalyst sees one logical plan end-to-end: filters reach the
  * parquet scan, projections prune the read schema, and the two-phase
  * hash aggregate / broadcast-join strategies are chosen by the planner.
  *
  * Determinism notes (for the DuckDB oracle): every ORDER BY carries a
  * unique tiebreaker column, float aggregates that accumulate in
  * non-deterministic order are rounded, and raw columns are passed through
  * unrounded (bit-exact both sides).
  */
object Relational {

  // --- §2.2 projections / row-level transforms ------------------------------

  /** P1-style column projection (stg_reddit analog: models/staging/stg_reddit.sql:3-13). */
  def project(df: DataFrame, cols: Seq[String]): DataFrame =
    df.select(cols.map(col): _*)

  /** P9 equality filter (dbt my_second_dbt_model.sql:6). */
  def filterEq(df: DataFrame, c: String, v: Any): DataFrame =
    df.filter(col(c) === lit(v))

  /** P10 null-rejection filter (dbt my_first_dbt_model.sql:27). */
  def filterNotNull(df: DataFrame, c: String): DataFrame =
    df.filter(col(c).isNotNull)

  /** P11 date-part extraction (extract-from-reddit.py:143-149).
    * `dow` follows Spark's convention (1=Sunday..7=Saturday).
    */
  def dateParts(df: DataFrame, ts: String): DataFrame =
    df.select(
      df.columns.map(col) :+
        year(col(ts)).as("y") :+
        month(col(ts)).as("m") :+
        dayofmonth(col(ts)).as("d") :+
        dayofweek(col(ts)).as("dow") :+
        hour(col(ts)).as("h"): _*)

  /** P12 derived metric (engagement_score analog, extract-from-reddit.py:155). */
  def derive(df: DataFrame, name: String, expr: Column): DataFrame =
    df.withColumn(name, expr)

  /** P13 range bucketing (pd.cut analog, extract-from-reddit.py:158-162).
    * `edges` are inclusive upper bounds for all labels but the last, which
    * is the overflow bucket (pandas bins=[0,10,50,100,inf] ≙ lower=0,
    * edges=[10,50,100], labels=[Low,Medium,High,Viral]).
    * pd.cut semantics preserved: NULL input → NULL, and values ≤ `lower`
    * (the exclusive bottom edge) → NULL, not the first label.
    */
  def bucketize(c: Column, edges: Seq[Double], labels: Seq[String],
                lower: Option[Double] = None): Column = {
    require(edges.size == labels.size - 1, "need one more label than edges (overflow bucket)")
    val cases = labels.init.zip(edges).foldLeft(Option.empty[Column]) {
      case (acc, (label, hi)) =>
        val cond = c <= lit(hi)
        Some(acc.fold(when(cond, lit(label)))(_.when(cond, lit(label))))
    }
    val chain = cases.get.otherwise(lit(labels.last))
    val nullGuard = lower.fold(c.isNull)(lo => c.isNull || c <= lit(lo))
    when(nullGuard, lit(null).cast("string")).otherwise(chain)
  }

  /** P15 varchar truncation (Redshift TRUNCATECOLUMNS, s3_to_redshift.py:217). */
  def truncateVarchar(df: DataFrame, widths: Map[String, Int]): DataFrame =
    df.withColumns(widths.collect {
      case (c, w) if df.columns.contains(c) => c -> substring(col(c), 1, w)
    })

  /** P16 invalid-char scrub (ACCEPTINVCHARS AS ' ', s3_to_redshift.py:215). */
  def scrubInvalidChars(df: DataFrame, cols: Seq[String]): DataFrame =
    df.withColumns(cols.map(c => c -> regexp_replace(col(c), "�", " ")).toMap)

  // --- §2.3 joins ------------------------------------------------------------

  /** J1 delete-matching anti-join (DELETE ... USING, s3_to_redshift.py:226-228).
    * Catalyst broadcasts the (small) key side → BroadcastHashJoin, no shuffle
    * of the big table. At 100 TB the main table never moves.
    */
  def antiJoin(main: DataFrame, keys: DataFrame, on: Seq[String]): DataFrame =
    main.join(broadcast(keys.select(on.map(col): _*).distinct()), on, "left_anti")

  /** [[antiJoin]]'s scale path for a blocklist too big to broadcast as rows
    * but whose BLOOM FILTER still fits (the decontamination shape: strip a
    * 100 TB corpus of every row whose key appears in a 10⁷-10⁸-row
    * blocklist — ~12-115 MB of bloom bits at 1% fpp, vs gigabytes of rows).
    *
    * Exact by construction, in two branches over the same scan:
    *  - rows whose key probes NEGATIVE are kept outright (bloom has no
    *    false negatives — `xxhash64` collisions only ADD positives);
    *  - rows that probe POSITIVE (true matches + the fpp·n false positives)
    *    are the only ones that reach the exact anti-join.
    *
    * Cost model vs a plain shuffled anti-join of the corpus: two scan
    * passes (the branch split) + a join over the probe-positive sliver,
    * instead of one scan + a full corpus shuffle — at 100 TB the shuffle
    * is the bottleneck, the second scan is not. The BLOCKLIST side is
    * evaluated three times (count, filter build, verify join) — all
    * blocklist-sized; pass `expectedItems` to skip the count pass, or
    * persist the keys upstream if its source is expensive to re-read.
    */
  def bloomAntiJoin(big: DataFrame, keys: DataFrame, on: String,
                    fpp: Double = 0.01, maxItems: Long = 100000000L,
                    expectedItems: Option[Long] = None): DataFrame = {
    val hashed = keys.select(xxhash64(col(on)).as("__h"))
    val n = expectedItems.getOrElse(hashed.count())
    require(n <= maxItems,
      s"bloomAntiJoin: blocklist has $n keys > maxItems=$maxItems — the " +
        "filter bits would not be broadcast-class; shuffle-partition the join instead")
    val bf = hashed.stat.bloomFilter("__h", math.max(n, 1L), fpp)
    val probe = graft.functions.bloom_might_contain(xxhash64(col(on)), bf)
    val definiteKeep = big.filter(!probe)
    val maybe = big.filter(probe)
      .join(keys.select(col(on)).distinct(), Seq(on), "left_anti")
    definiteKeep.unionByName(maybe)
  }

  // --- §2.4 aggregations -------------------------------------------------------

  /** Cross-engine-stable mean of fixed-decimal data.
    *
    * A plain `round(avg(x), d)` is not reproducible across engines: float
    * addition is order-dependent, and an average that sits on a rounding
    * boundary (e.g. sum/16 of 2-decimal prices = x.xxx50 exactly) flips the
    * last digit between two correct implementations — even after fixing the
    * sum as an exact BIGINT, a divide-then-`round` still diverges when the
    * true quotient hits a half-point (Spark rounds the decimal STRING of the
    * double half-up; other engines round the binary value — observed live at
    * sf0.1: 210624.86125 → .8613 vs .8612).
    *
    * Fix: do the half-up rounding in pure integer arithmetic —
    * `floor((2·S·10^d + U·n) / (2·U·n))` with S = round(sum·10^scale),
    * U = 10^scale — and only THEN divide by 10^d; an integer can't sit on a
    * half-point, so both engines produce the identical double.
    * (SQL mirror: ((2*S*10^d + U*n) // (2*U*n)) / 10^d.0.)
    *
    * Two details make the identity hold everywhere, not just where the
    * benchmarks happen to sit:
    *  - intermediates are DECIMAL(38,0): `2·S·10^d` in BIGINT overflows
    *    once the group's sum nears 4.6e14 price-units — decimal gives 38
    *    digits of headroom, while the QUOTIENT (the average in 10⁻ᵈ units,
    *    ≤ the max element) still fits the BIGINT that IntegralDivide
    *    returns. The remaining exactness bound is the double `sum` itself
    *    (sum·10^scale must stay below 2⁵³ ≈ 9e15; past that feed a decimal
    *    column — the identity is unchanged);
    *  - the division is true FLOOR division: IntegralDivide truncates
    *    toward zero, which for a NEGATIVE numerator is half-toward-zero —
    *    divergent from the DuckDB `//` (floor) mirror. The remainder
    *    adjustment below restores floor semantics for negative sums
    *    (denominator is always positive).
    */
  def stableAvg(c: Column, scale: Int, digits: Int = 4): Column = {
    val unit = math.pow(10, scale).toLong
    val dunit = math.pow(10, digits).toLong
    val s = round(sum(c) * unit).cast("decimal(38,0)")
    val n = count(c).cast("decimal(38,0)")
    val num = s * dunit * 2 + n * unit
    val den = n * unit * 2
    val q0 = graft.functions.integral_divide(num, den)
    val rem = num - q0.cast("decimal(38,0)") * den
    val q = when(rem < 0, q0 - 1).otherwise(q0)
    when(n === 0, lit(null).cast("double"))
      .otherwise(q.cast("double") / dunit)
  }

  /** A1 grouped multi-agg (reddit_summary mart, models/marts/reddit_summary.sql:1-10). */
  def groupedSummary(df: DataFrame, key: String, scoreCol: String, cntCol: String,
                     scale: Int = 2): DataFrame =
    df.groupBy(col(key))
      .agg(
        count(lit(1)).as("post_count"),
        stableAvg(col(scoreCol), scale).as("avg_score"),
        stableAvg(col(cntCol), scale).as("avg_comments"),
        max(col(scoreCol)).as("max_score"))

  /** A2 grouped agg + HAVING + ORDER BY (query-test.py:44-53). */
  def havingSort(df: DataFrame, key: String, measure: String, minCount: Long,
                 scale: Int = 2): DataFrame =
    df.groupBy(col(key))
      .agg(count(lit(1)).as("post_count"), stableAvg(col(measure), scale).as("avg_score"))
      .filter(col("post_count") > minCount)
      .orderBy(desc("avg_score"), col(key))

  /** A3 agg on derived grouping key: hour-of-day (query-test.py:60-67). */
  def hourlyAvg(df: DataFrame, ts: String, measure: String, scale: Int = 4): DataFrame =
    df.groupBy(hour(col(ts)).as("hour_of_day"))
      .agg(stableAvg(col(measure), scale).as("avg_score"))
      .orderBy("hour_of_day")

  /** A4 scalar whole-table summary stats (extract-from-reddit.py:236-245). */
  def scalarStats(df: DataFrame, a: String, b: String, scale: Int = 2): DataFrame =
    df.agg(
      stableAvg(col(a), scale).as("avg_a"),
      max(col(a)).as("max_a"),
      stableAvg(col(b), scale).as("avg_b"),
      max(col(b)).as("max_b"))

  /** A5 missing-value census (df.isna().sum(), extract-from-reddit.py:118-120).
    * count(*)-count(c) per column: stays BIGINT on both engines (a SUM(CASE)
    * would widen to HUGEINT in DuckDB and break the schema compare).
    */
  def nullCensus(df: DataFrame): DataFrame =
    df.agg(
      count(lit(1)).as("_rows"),
      df.columns.map(c => (count(lit(1)) - count(col(c))).as(s"nulls_$c")): _*)
      .drop("_rows")

  /** Single-scan table profile: one row per requested column with row
    * count, null count, exact distinct count, and min/max (as strings, so
    * the output schema is column-type-independent). All metrics land in
    * ONE aggregate — Spark plans the multi-column count_distinct via
    * Expand (k× row multiplication inside the single scan, no extra
    * passes); at 100 TB swap count_distinct for approx_count_distinct
    * (same query shape, O(1) state — the [[graft.operators.Sketches]]
    * trade documented there).
    */
  def profile(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.nonEmpty, "profile: need at least one column")
    val aggs = cols.flatMap { c => Seq(
      count(col(c)).as(s"__nn_$c"),
      count_distinct(col(c)).as(s"__nd_$c"),
      min(col(c)).cast("string").as(s"__mn_$c"),
      max(col(c)).cast("string").as(s"__mx_$c")) }
    val one = df.agg(count(lit(1)).as("__n"), aggs: _*)
    val rows = array(cols.map(c => struct(
      lit(c).as("column"),
      col("__n").as("n_rows"),
      (col("__n") - col(s"__nn_$c")).as("n_nulls"),
      col(s"__nd_$c").as("n_distinct"),
      col(s"__mn_$c").as("min_value"),
      col(s"__mx_$c").as("max_value"))): _*)
    one.select(explode(rows).as("p")).select("p.*")
  }

  /** Two-phase salted aggregation TEMPLATE, demonstrated on sum/count.
    *
    * Honest scale claim: for algebraic aggregates (sum/count/min/max/avg)
    * plain `groupBy` is already skew-proof — map-side partial aggregation
    * leaves ≤1 partial per key per task, so the exchange is bounded without
    * any salt. The salt leg earns its keep only where no bounded map-side
    * combine exists — materializing a hot key's row set
    * ([[saltedCollectShards]]), exact holistic statistics — by spreading
    * one key's state over `saltBuckets` reducers. Kept on the algebraic
    * pair because there the result is oracle-checkable: identical to the
    * unsalted plan, since sums compose.
    */
  def saltedSumCount(df: DataFrame, key: String, measure: String,
                     saltBuckets: Int = 32): DataFrame =
    df.withColumn("_salt", pmod(spark_partition_id() + monotonically_increasing_id(), lit(saltBuckets)))
      .groupBy(col(key), col("_salt"))
      .agg(sum(col(measure)).as("_psum"), count(col(measure)).as("_pcnt"))
      .groupBy(col(key))
      .agg(sum(col("_psum")).as("sum_measure"), sum(col("_pcnt")).as("cnt_measure"))

  /** The aggregation where salting genuinely changes the memory bound:
    * materializing a (possibly huge) per-key row set. `collect_list` over a
    * hot key is a single-task OOM — its state does not combine to bounded
    * size. Here every key is sharded over `saltBuckets` reducers (salt =
    * deterministic payload hash, so shard contents are reproducible), each
    * shard collects locally, and the shards are KEPT as (key, _salt, shard)
    * rows rather than merged — the consumer treats a key's group as a set
    * of chunk files, which is exactly how a 100 TB pipeline writes a hot
    * key's documents without one reducer ever holding the whole group.
    */
  def saltedCollectShards(df: DataFrame, key: String, payload: String,
                          saltBuckets: Int = 32): DataFrame =
    df.withColumn("_salt", pmod(hash(col(payload)), lit(saltBuckets)))
      .groupBy(col(key), col("_salt"))
      .agg(collect_list(col(payload)).as("shard"))

  /** Per-group DISCRETE quantile cuts — SQL-standard `percentile_disc`
    * semantics (smallest value with cume_dist ≥ p = the element at
    * 1-based rank ceil(p·n) of the sorted values), computed from ONE
    * sorted-array buffer per group instead of one independent
    * value-buffer per cut like stacked `percentile_disc` calls (3 cuts =
    * 3 buffers + 3 sorts there; 1 + 1 here). State is O(group values)
    * either way — the exact path's contract; swap in `approx_percentile`
    * at 100 TB.
    */
  def discreteCuts(df: DataFrame, grp: String, value: String,
                   cuts: Seq[(Double, String)]): DataFrame = {
    require(cuts.nonEmpty && cuts.forall { case (p, _) => p > 0 && p <= 1 },
      s"discreteCuts: probs must be in (0,1], got ${cuts.map(_._1)}")
    df.groupBy(col(grp))
      .agg(sort_array(collect_list(col(value))).as("__v"))
      .select(col(grp) +: cuts.map { case (p, name) =>
        // a group whose values are all NULL collects an empty array —
        // its cuts are NULL, not an element_at(_, 0) crash
        when(size(col("__v")) === 0, lit(null))
          .otherwise(element_at(col("__v"),
            ceil(size(col("__v")).cast("double") * p).cast("int"))).as(name)
      }: _*)
  }

  /** Robust (median/MAD) outlier census per group: the median-based
    * complement to [[graft.operators.Curation.winsorizedStats]]'s quantile
    * clipping — outliers are values whose absolute deviation from the
    * group median exceeds k·MAD. DISCRETE medians (`percentile_disc`)
    * keep every cutoff an actual data value, so the comparisons are
    * engine-exact like the winsorize cutoffs.
    *
    * Three aggregates by necessity (median → deviations → MAD → census),
    * each a plain two-phase agg with the tiny per-group cutoff relations
    * broadcast back; at 100 TB swap the exact medians for
    * `approx_percentile` — the shape is unchanged.
    */
  def madOutlierStats(df: DataFrame, grp: String, value: String,
                      k: Double = 3.0): DataFrame = {
    // stats are over the NON-NULL values: the quantile buffers skip NULLs,
    // so counting NULL rows would make n/census inconsistent with the cuts
    val clean = df.filter(col(value).isNotNull)
    val med = discreteCuts(clean, grp, value, Seq(0.5 -> "med"))
    val dev = clean.join(broadcast(med), Seq(grp))
      .select(col(grp), (abs(col(value) - col("med"))).as("adev"), col("med"))
    val mad = discreteCuts(dev, grp, "adev", Seq(0.5 -> "mad"))
    dev.join(broadcast(mad), Seq(grp))
      .groupBy(col(grp))
      .agg(
        count(lit(1)).as("n"),
        max(col("med")).as("med"),
        max(col("mad")).as("mad"),
        sum(when(col("adev") > lit(k) * col("mad"), 1L).otherwise(0L)).as("n_outliers"))
  }

  /** Per-group equi-depth histogram: bucket boundaries at the group's
    * DISCRETE quantile cuts (data values — engine-exact, same contract as
    * [[madOutlierStats]] / winsorize), one row per (group, bucket) with
    * its population. Two aggregates: the cut relation is group-cardinality
    * rows, broadcast into an in-row CASE; `approx_percentile` swap at
    * 100 TB. Grouping is also the parallelism: each exact-quantile buffer
    * holds one group's values, never the table.
    */
  def equiDepthHistogram(df: DataFrame, grp: String, value: String,
                         probs: Seq[Double] = Seq(0.25, 0.5, 0.75)): DataFrame = {
    require(probs.nonEmpty && probs == probs.sorted && probs.forall(p => p > 0 && p < 1),
      s"equiDepthHistogram: probs must be sorted in (0,1), got $probs")
    // NULL values are outside every bucket (the cuts exclude them too),
    // not silently folded into the overflow bucket
    val clean = df.filter(col(value).isNotNull)
    val cuts = discreteCuts(clean, grp, value,
      probs.zipWithIndex.map { case (p, i) => p -> s"c$i" })
    val bucket = probs.indices.reverse.foldLeft(lit(probs.size)) { (acc, i) =>
      when(col(value) <= col(s"c$i"), lit(i)).otherwise(acc)
    }
    clean.join(broadcast(cuts), Seq(grp))
      .select(col(grp), bucket.cast("long").as("bucket"))
      .groupBy(col(grp), col("bucket"))
      .agg(count(lit(1)).as("n"))
  }

  // --- §2.5 sorts / limits / top-k ------------------------------------------

  /** T1 global top-k — Catalyst plans TakeOrderedAndProject (no full sort).
    * `tiebreak` must be unique for a deterministic result set.
    */
  def topK(df: DataFrame, by: Column, tiebreak: Column, k: Int): DataFrame =
    df.orderBy(by.desc, tiebreak.asc).limit(k)

  /** T3/T5 deterministic head: limit is only reproducible under a total order. */
  def sortedLimit(df: DataFrame, key: String, n: Int): DataFrame =
    df.orderBy(col(key)).limit(n)

  // --- §2.6 set operations / upsert -----------------------------------------

  /** U1 UNION ALL (dbt my_first_dbt_model.sql:12-18): positional, keeps dups. */
  def unionAll(a: DataFrame, b: DataFrame): DataFrame = a.union(b)

  /** U3 upsert = delete-matching ∪ insert (s3_to_redshift.py:226-232, intent
    * documented :9-15): last-write-wins by key, idempotent on replay.
    * staging is the daily micro-batch (≤10³ rows vs 10⁸+ in main) so the
    * anti-join broadcasts; main never shuffles.
    */
  def upsert(main: DataFrame, staging: DataFrame, key: String): DataFrame =
    antiJoin(main, staging, Seq(key)).unionByName(staging)

  /** CDC apply — fold a change log onto a snapshot with last-writer-wins
    * by `(key, seq)`: the latest change per key is a COMBINABLE
    * max-of-struct argmax (partials reduce to one row per key per
    * partition before the exchange — a window over the log would sort it
    * instead), then one full-outer join on the key applies it: `D` drops
    * the row, `U`/`I` replace/insert the payload, untouched keys pass
    * through. Out-of-order arrival is the POINT: a delete at seq 2 loses
    * to an update at seq 3 no matter which arrives first. Sequence
    * numbers must be unique per key (the CDC source's contract); the
    * struct tiebreak beyond seq is deterministic but unspecified.
    */
  def cdcApply(snapshot: DataFrame, changes: DataFrame, key: String,
               seqCol: String, opCol: String): DataFrame = {
    val payload = snapshot.columns.filterNot(_ == key).toSeq
    val latest = changes.groupBy(col(key))
      .agg(max(struct(col(seqCol).as("_s") +: col(opCol).as("_o")
        +: payload.map(c => col(c).as(c)): _*)).as("m"))
      .select(col(key) +: col("m._o").as("_op")
        +: payload.map(c => col(s"m.`$c`").as(s"_c_$c")): _*)
    snapshot.join(latest, Seq(key), "full_outer")
      .filter(col("_op").isNull || col("_op") =!= "D")
      .select(col(key) +: payload.map(c =>
        when(col("_op").isNull, col(c)).otherwise(col(s"_c_$c")).as(c)): _*)
  }

  /** Pivot (long → wide) with an explicit value list: per-`row` counts of
    * each pivot value as its own column, absent combinations as 0 (Spark's
    * bare pivot yields NULL there; 0 is what a crosstab means).
    *
    * Scale note: the explicit `values` list keeps this one pass — Spark's
    * value-discovering overload runs an extra distinct query and collects
    * the pivot domain to the driver. Planned as a single two-phase hash
    * aggregate; wide-side cardinality is the values list, fixed at plan
    * time, so this scales with rows like any groupBy.
    */
  def pivotCount(df: DataFrame, row: String, pivot: String,
                 values: Seq[String]): DataFrame =
    df.groupBy(col(row))
      .pivot(pivot, values)
      .count()
      .select(col(row) +: values.map(v => coalesce(col(v), lit(0L)).as(v)): _*)

  // --- §2.8 window (parity-plus: top post per subreddit analog) --------------

  /** row_number over (partition by grp order by measure desc, tiebreak) ≤ k. */
  def topKPerGroup(df: DataFrame, grp: String, measure: String, tiebreak: String, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col(grp)).orderBy(col(measure).desc, col(tiebreak).asc)
    df.withColumn("rn", row_number().over(w)).filter(col("rn") <= k)
  }

  /** Schema-drift audit between two snapshots of "the same" table — the
    * upstream-changed-the-feed alarm a long-lived ingest pipeline needs.
    * One row per column name across both sides: status
    * (added/removed/type_changed/unchanged), the catalog type on each
    * side, and the side's NULL count (the usual symptom of a silent
    * upstream type/semantics change is a null-rate jump, so the audit
    * carries it alongside the type diff).
    *
    * Scale shape: schema comparison is driver-side metadata (no data
    * touched); the null census is ONE conditional-sum aggregate per side —
    * two single scans, no shuffle beyond each one-row aggregate. The
    * result is cols-many rows, built driver-side like any profile summary.
    */
  def schemaDrift(oldDf: DataFrame, newDf: DataFrame): DataFrame = {
    val spark = oldDf.sparkSession
    import spark.implicits._
    def census(df: DataFrame): Map[String, Long] = {
      if (df.columns.isEmpty) return Map.empty
      // coalesce: sum over ZERO rows is NULL, and a 0-row snapshot is
      // exactly the drift this operator must report, not crash on
      val aggs = df.columns.map(c =>
        coalesce(sum(when(col(c).isNull, 1L).otherwise(0L)), lit(0L)).as(c))
      val row = df.agg(aggs.head, aggs.tail.toSeq: _*).collect().head
      df.columns.zipWithIndex.map { case (c, i) => c -> row.getLong(i) }.toMap
    }
    val oldTypes = oldDf.schema.map(f => f.name -> f.dataType.catalogString).toMap
    val newTypes = newDf.schema.map(f => f.name -> f.dataType.catalogString).toMap
    val oldNulls = census(oldDf)
    val newNulls = census(newDf)
    val rows = (oldTypes.keySet ++ newTypes.keySet).toSeq.sorted.map { c =>
      val status = (oldTypes.get(c), newTypes.get(c)) match {
        case (None, Some(_)) => "added"
        case (Some(_), None) => "removed"
        case (Some(a), Some(b)) if a != b => "type_changed"
        case _ => "unchanged"
      }
      (c, status, oldTypes.get(c), newTypes.get(c),
        oldNulls.get(c), newNulls.get(c))
    }
    rows.toDF("col_name", "status", "old_type", "new_type", "old_nulls", "new_nulls")
  }

  /** Multi-clause MERGE (the Delta/Iceberg `MERGE INTO` statement expressed
    * relationally), evaluated in standard clause order:
    *
    *   1. WHEN MATCHED AND `deleteWhen`  THEN DELETE
    *   2. WHEN MATCHED                   THEN UPDATE SET `updates`
    *   3. WHEN NOT MATCHED AND `insertWhen` THEN INSERT
    *
    * Target rows without a source match pass through untouched; source
    * rows that match nothing and fail `insertWhen` (e.g. a delete for an
    * absent key) are ignored. Inside `deleteWhen` / `updates` /
    * `insertWhen`, target columns are addressed by their own names and
    * source columns as `s_<name>` — both sides are in scope, so an update
    * can mix them (`col("o_totalprice") + col("s_delta")`). On insert,
    * each target column takes `updates` evaluated with target-side inputs
    * NULL (the INSERT VALUES expression), or stays NULL if unmapped.
    *
    * Contract (same as every MERGE engine's): at most one source row per
    * key — duplicates make the result nondeterministic, and Delta throws
    * exactly here. [[cdcApply]] is the variant that RESOLVES duplicates by
    * sequence number; this one applies an already-resolved delta.
    *
    * Scale shape: ONE shuffle of both sides on the key — a full outer join
    * cannot broadcast (no Spark strategy supports it), and that is the
    * honest cost of a MERGE whose not-matched clause can insert: Delta's
    * own MERGE pays the same join. When the delta carries no inserts,
    * [[upsert]]/[[cdcApply]] are the broadcast-friendly variants (the
    * target never shuffles there). Clause resolution is a pure in-row
    * CASE — whole-stage codegen, no window, no second pass.
    */
  def mergeInto(target: DataFrame, source: DataFrame, key: String,
                deleteWhen: Column, updates: Map[String, Column],
                insertWhen: Column): DataFrame = {
    val s = source.columns.foldLeft(source) { (df, c) =>
      df.withColumnRenamed(c, if (c == key) c else s"s_$c")
    }
    val joined = target.withColumn("_in_t", lit(true))
      .join(s.withColumn("_in_s", lit(true)), Seq(key), "full_outer")
    val matched = col("_in_t").isNotNull && col("_in_s").isNotNull
    val kept = joined.filter(
      // survives unless: matched delete clause, or an unmatched source row
      // whose insert clause declines
      (!matched || !coalesce(deleteWhen, lit(false))) &&
        (col("_in_t").isNotNull || coalesce(insertWhen, lit(false))))
    kept.select(col(key) +: target.columns.filterNot(_ == key).toSeq.map { c =>
      val updated = updates.getOrElse(c, col(c))
      when(col("_in_s").isNull, col(c)).otherwise(updated).as(c)
    }: _*)
  }

  /** Per-entity sequence features over an ordered event stream — the
    * lag/lead/ntile/percent_rank window surface in one pass: for each row,
    * the µs gap to the previous and next event of the same entity, the
    * event's quartile by `order` position, and its percent rank. The
    * feature-engineering step behind session-gap stats, inter-arrival
    * models and per-user activity curves.
    *
    * Scale shape: ONE window partitioning serves all four functions (one
    * shuffle on the entity key, one sort per partition); state is a single
    * row of look-behind/look-ahead — nothing accumulates. Partition sizes
    * are per-entity event counts, the natural bound; a pathological
    * hot entity is a data-model problem (pre-split by day) rather than an
    * operator one.
    */
  def sequenceFeatures(df: DataFrame, entity: String, order: String,
                       tiebreak: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col(entity))
      .orderBy(col(order).asc, col(tiebreak).asc)
    df.select(col(entity), col(tiebreak), col(order))
      .withColumn("gap_prev_us",
        unix_micros(col(order)) - unix_micros(lag(col(order), 1).over(w)))
      .withColumn("gap_next_us",
        unix_micros(lead(col(order), 1).over(w)) - unix_micros(col(order)))
      .withColumn("quartile", ntile(4).over(w))
      .withColumn("pct_rank", round(percent_rank().over(w), 6))
  }

  /** Weighted median per group: the smallest value whose cumulative
    * weight reaches half the group's total — the volume-weighted central
    * price / typical-value statistic a plain median gets wrong when rows
    * carry different weights. DISCRETE (an actual data value, the
    * [[madOutlierStats]] engine-exactness discipline) with integer
    * weights, so the cutoff comparison replays exactly.
    *
    * Scale shape: one group-key window (cumulative weight, the running-
    * total cost class, O(rows per group)) + one bounded per-group min.
    */
  def weightedMedian(df: DataFrame, grp: String, value: String,
                     weight: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col(grp))
      .orderBy(col(value).asc, col("_w").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val tot = Window.partitionBy(col(grp))
    df.select(col(grp), col(value), col(weight).cast("long").as("_w"))
      .withColumn("_cum", sum(col("_w")).over(w))
      .withColumn("_tot", sum(col("_w")).over(tot))
      .filter(col("_cum") * 2 >= col("_tot"))
      .groupBy(col(grp))
      .agg(min(col(value)).as("w_median"),
        max(col("_tot")).as("total_weight"))
  }

  /** Histogram-based conjunctive selectivity estimation — the cost-based
    * optimizer's core trick surfaced as a graded, data-visible operator:
    * estimate sel(x > xGt AND y < yLt) from two independent B-bucket
    * equi-depth histograms under the attribute-value-independence (AVI)
    * assumption, and report the TRUE selectivity beside it. On correlated
    * columns (quantity vs extended price) the AVI error is the point —
    * the row SHOWS why real optimizers need multi-column stats.
    *
    * Estimates use only the B−1 cut boundaries with the classic
    * half-bucket credit for the straddling bucket, in basis points —
    * integer-exact replay. The graded cuts are discrete quantiles
    * ([[discreteCuts]] — O(column) collect, test-scale only); at corpus
    * scale swap `approx_percentile` for the cuts, shape unchanged (the
    * [[graft.operators.Curation.calibrateScores]] note).
    */
  def selectivityEstimate(df: DataFrame, xCol: String, xGt: Double,
                          yCol: String, yLt: Double,
                          buckets: Int = 8): DataFrame = {
    require(buckets > 1, s"selectivityEstimate: need buckets > 1, got $buckets")
    val probs = (1 until buckets).map(_.toDouble / buckets)
    val g = df.select(lit(1).as("__g"), col(xCol).cast("double").as("x"),
      col(yCol).cast("double").as("y"))
    val xc = discreteCuts(g, "__g", "x",
      probs.zipWithIndex.map { case (p, i) => p -> s"x$i" })
    val yc = discreteCuts(g, "__g", "y",
      probs.zipWithIndex.map { case (p, i) => p -> s"y$i" })
    val nbx = probs.indices.map(i =>
      when(col(s"x$i") <= xGt, 1).otherwise(0)).reduce(_ + _)
    val nby = probs.indices.map(i =>
      when(col(s"y$i") < yLt, 1).otherwise(0)).reduce(_ + _)
    val actual = g.agg(count(lit(1)).as("n_rows"),
      sum(when(col("x") > xGt && col("y") < yLt, 1L).otherwise(0L)).as("n_match"))
    xc.join(yc, Seq("__g")).crossJoin(actual)
      .select(
        round(lit(10000d) * (lit(buckets) - nbx - lit(0.5)) / buckets, 0)
          .cast("long").as("x_est_bp"),
        round(lit(10000d) * (nby + lit(0.5)) / buckets, 0)
          .cast("long").as("y_est_bp"),
        col("n_rows"), col("n_match"),
        round(lit(10000d) * col("n_match") / col("n_rows"), 0)
          .cast("long").as("actual_bp"))
      .withColumn("combined_est_bp",
        expr("(x_est_bp * y_est_bp) div 10000"))
      .select("x_est_bp", "y_est_bp", "combined_est_bp", "actual_bp",
        "n_rows", "n_match")
  }

  /** Pairwise moment matrix over integer-scaled features: for every
    * unordered column pair, the exact BIGINT sufficient statistics
    * (n, Σx, Σy, Σxy, Σx², Σy²) from which covariance and Pearson
    * correlation are one division away. Emitting the MOMENTS instead of
    * the correlation keeps the relation engine-exact (no distributed
    * float summation to drift) and mergeable — per-day moment rows add
    * component-wise, so a year of correlations never rescans history.
    *
    * Inputs must already be integer-scaled (floor dollars, counts …);
    * caller chooses the scale so Σx² stays inside BIGINT at target SF.
    *
    * Scale shape: ONE scan, one partial+final aggregate — every pair's
    * six sums ride the same two-phase hash agg; no shuffle wider than
    * one row of 6·pairs longs.
    */
  /** [[featureMoments]] per group (per-month / per-partition moment
    * rows): the rows ADD component-wise across groups — the merge that
    * makes a year of correlations a sum over monthly statistics instead
    * of a rescan. Same single-scan shape, one two-phase agg on the
    * group key.
    */
  def featureMomentsBy(df: DataFrame, grp: String,
                       cols: Seq[String]): DataFrame = {
    require(cols.size >= 2, "featureMomentsBy: need at least two columns")
    val pairs = for {
      i <- cols.indices; j <- (i + 1) until cols.size
    } yield (cols(i), cols(j))
    val aggs = pairs.flatMap { case (x, y) =>
      val (cx, cy) = (col(x).cast("long"), col(y).cast("long"))
      Seq(
        sum(cx).as(s"sum__${x}__${y}__x"),
        sum(cy).as(s"sum__${x}__${y}__y"),
        sum(cx * cy).as(s"sum__${x}__${y}__xy"),
        sum(cx * cx).as(s"sum__${x}__${y}__xx"),
        sum(cy * cy).as(s"sum__${x}__${y}__yy"))
    } :+ count(lit(1)).as("n")
    val one = df.groupBy(col(grp)).agg(aggs.head, aggs.tail: _*)
    val pairStructs = pairs.map { case (x, y) =>
      struct(lit(x).as("x"), lit(y).as("y"),
        col("n").as("n"),
        col(s"sum__${x}__${y}__x").as("sum_x"),
        col(s"sum__${x}__${y}__y").as("sum_y"),
        col(s"sum__${x}__${y}__xy").as("sum_xy"),
        col(s"sum__${x}__${y}__xx").as("sum_xx"),
        col(s"sum__${x}__${y}__yy").as("sum_yy"))
    }
    one.select(col(grp), explode(array(pairStructs: _*)).as("p"))
      .select(col(grp), col("p.x"), col("p.y"), col("p.n"),
        col("p.sum_x"), col("p.sum_y"), col("p.sum_xy"),
        col("p.sum_xx"), col("p.sum_yy"))
  }

  def featureMoments(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.size >= 2, "featureMoments: need at least two columns")
    val pairs = for {
      i <- cols.indices; j <- (i + 1) until cols.size
    } yield (cols(i), cols(j))
    val aggs = pairs.flatMap { case (x, y) =>
      val (cx, cy) = (col(x).cast("long"), col(y).cast("long"))
      Seq(
        sum(cx).as(s"sum__${x}__${y}__x"),
        sum(cy).as(s"sum__${x}__${y}__y"),
        sum(cx * cy).as(s"sum__${x}__${y}__xy"),
        sum(cx * cx).as(s"sum__${x}__${y}__xx"),
        sum(cy * cy).as(s"sum__${x}__${y}__yy"))
    } :+ count(lit(1)).as("n")
    val one = df.agg(aggs.head, aggs.tail: _*)
    val pairStructs = pairs.map { case (x, y) =>
      struct(lit(x).as("x"), lit(y).as("y"),
        col("n").as("n"),
        col(s"sum__${x}__${y}__x").as("sum_x"),
        col(s"sum__${x}__${y}__y").as("sum_y"),
        col(s"sum__${x}__${y}__xy").as("sum_xy"),
        col(s"sum__${x}__${y}__xx").as("sum_xx"),
        col(s"sum__${x}__${y}__yy").as("sum_yy"))
    }
    one.select(explode(array(pairStructs: _*)).as("p"))
      .select("p.x", "p.y", "p.n", "p.sum_x", "p.sum_y",
        "p.sum_xy", "p.sum_xx", "p.sum_yy")
  }

  /** Two-proportion z-test per metric — the A/B experiment readout: for
    * each `metricCol` group, arm sizes and successes (exact BIGINTs), the
    * 6dp success rates, the pooled z statistic and the |z| > 1.96
    * verdict. The z is composed from the integer counts in ONE fixed
    * expression order (division / multiply / sqrt are IEEE-exact-rounded,
    * so both engines produce the identical double before the 6dp round).
    *
    * Scale shape: one hash agg on the metric key with conditional-sum
    * partials (variant never shuffles as rows, only as four counters per
    * metric), then in-row arithmetic — the experiment readout over a
    * 100 TB event log is one scan.
    */
  def abTestProportions(df: DataFrame, metricCol: String, isB: Column,
                        success: Column): DataFrame = {
    val b = isB.cast("boolean")
    val s = success.cast("boolean")
    df.groupBy(col(metricCol))
      .agg(
        sum(when(!b, 1L).otherwise(0L)).as("n_a"),
        sum(when(!b && s, 1L).otherwise(0L)).as("s_a"),
        sum(when(b, 1L).otherwise(0L)).as("n_b"),
        sum(when(b && s, 1L).otherwise(0L)).as("s_b"))
      .withColumn("p_a", round(col("s_a") / col("n_a"), 6))
      .withColumn("p_b", round(col("s_b") / col("n_b"), 6))
      .withColumn("z", round(
        (col("s_a") / col("n_a") - col("s_b") / col("n_b")) /
          sqrt(((col("s_a") + col("s_b")) / (col("n_a") + col("n_b"))) *
            (lit(1.0) - (col("s_a") + col("s_b")) / (col("n_a") + col("n_b"))) *
            (lit(1.0) / col("n_a") + lit(1.0) / col("n_b"))), 6))
      .withColumn("significant", abs(col("z")) > 1.96)
  }

  /** Distributed global 0-based rank by `sortCols` — range-partitioned
    * sort + the per-partition offset trick ([[Curation.shardPack]]'s
    * discipline): NO single-partition window. `sortCols` must be a total
    * order (include a unique tiebreak) or ranks are nondeterministic.
    */
  private def globalRank(df: DataFrame, sortCols: Seq[Column],
                         out: String): DataFrame = {
    val sorted = df
      .repartitionByRange(sortCols: _*)
      .sortWithinPartitions(sortCols: _*)
      .withColumn("_mid", monotonically_increasing_id())
      .withColumn("_pid", shiftright(col("_mid"), 33))
      .withColumn("_local", col("_mid").bitwiseAND(lit((1L << 33) - 1)))
    val offsets = sorted.groupBy("_pid").agg(count(lit(1)).as("_n"))
      .withColumn("_offset",
        coalesce(sum(col("_n")).over(
          org.apache.spark.sql.expressions.Window.orderBy("_pid")
            .rowsBetween(org.apache.spark.sql.expressions.Window
              .unboundedPreceding, -1)),
          lit(0L)))
      .select("_pid", "_offset")
    sorted.join(broadcast(offsets), Seq("_pid"))
      .withColumn(out, col("_offset") + col("_local"))
      .drop("_mid", "_pid", "_local", "_offset")
  }

  /** RFM customer scoring (recency / frequency / monetary quintiles) —
    * the classic engagement-segmentation mart. Per user: days since last
    * event (relative to the corpus max timestamp), event count, monetary
    * cents; each metric ranks ALL users (unique tiebreak on user id) and
    * maps to a quintile by the exact formula `rank·5 quot n + 1`, oriented
    * so 5 is always "best" (most recent / most frequent / highest spend);
    * `rfm = 100·r + 10·f + m`.
    *
    * Scale shape: one hash agg collapses the event log to the user
    * rollup (|users| ≪ |events|), then three [[globalRank]]s over that
    * rollup — range-partitioned sorts with broadcast offset tables, no
    * single-partition window at any size.
    */
  def rfmScores(events: DataFrame, userCol: String, tsCol: String,
                valueCol: String): DataFrame = {
    val perUser = events
      .select(col(userCol).cast("long").as("user_id"),
        unix_micros(col(tsCol)).as("_us"),
        floor(col(valueCol) * 100).cast("long").as("_cents"))
      .groupBy("user_id")
      .agg(max(col("_us")).as("_last_us"),
        count(lit(1)).as("frequency"),
        sum(col("_cents")).as("monetary_cents"))
    val maxUs = perUser.agg(max(col("_last_us")).as("_max_us"))
    val base = perUser.crossJoin(broadcast(maxUs))
      .withColumn("recency_hours", expr("(_max_us - _last_us) div 3600000000"))
      .drop("_last_us", "_max_us")
    // oldest first -> newest users land in the top tile; same orientation
    // for frequency and spend
    val r1 = globalRank(base,
      Seq(col("recency_hours").desc, col("user_id")), "_rr")
    val r2 = globalRank(r1, Seq(col("frequency"), col("user_id")), "_rf")
    val r3 = globalRank(r2, Seq(col("monetary_cents"), col("user_id")), "_rm")
    val total = base.agg(count(lit(1)).as("_n"))
    r3.crossJoin(broadcast(total))
      .withColumn("r_score", expr("_rr * 5 div _n + 1"))
      .withColumn("f_score", expr("_rf * 5 div _n + 1"))
      .withColumn("m_score", expr("_rm * 5 div _n + 1"))
      .withColumn("rfm",
        col("r_score") * 100L + col("f_score") * 10L + col("m_score"))
      .select("user_id", "recency_hours", "frequency", "monetary_cents",
        "r_score", "f_score", "m_score", "rfm")
  }
}
