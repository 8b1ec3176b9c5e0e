package graft.operators

import org.apache.spark.sql.DataFrame

/** Scale-adaptive parallelism for compute-dense narrow relations.
  *
  * [[spread]] is the round-robin repartition idiom proven on the codec
  * families (r19 C1; the heavy per-document encodes of [[Multimodal]]
  * spread their pre-encode ids through it): a relation whose downstream
  * per-row compute dwarfs its own bytes (regexp batteries, md5/xxhash
  * grids, token explosions, per-pair array intersections) must not ride
  * a single scan split or an AQE-coalesced single post-shuffle partition.
  * The exchange carries only the columns the caller selected — apply it
  * AFTER projecting to the narrow input of the heavy derivation — and the
  * width is `defaultParallelism` (local[N] → N; a cluster → its total
  * cores), never a constant. A user-specified repartition count is exempt
  * from AQE coalescing, which is the point: AQE sizes partitions by
  * BYTES (`minPartitionSize`), and these stages are hot by COMPUTE.
  *
  * Scale justification (the C1 argument): the shuffle moves each input
  * byte once more, but the protected stage spends 10-100x the shuffle's
  * per-byte cost computing on it, so the exchange is single-digit-percent
  * overhead at any scale — and it buys skew immunity when upstream splits
  * are uneven. Do NOT use it where per-row work is a few int ops (the C3
  * pixel lesson: the exchange costs more than the compute it spreads).
  *
  * Round-robin keeps task row counts exactly even (compute-bound stages
  * prefer that to a hash multinomial's long tail: hashing on doc_id took
  * the MP3 decode family from 1.9 s to 2.5 s a query); determinism under
  * retry comes from sortBeforeRepartition (default on) over deterministic
  * inputs.
  */
private[graft] object Par {
  def spread(df: DataFrame): DataFrame =
    df.repartition(df.sparkSession.sparkContext.defaultParallelism)

  /** Pinned-width hash repartition on the key a following groupBy/join
    * clusters on. This REPLACES the implicit exchange that operation
    * would plan (same key, matching width → Spark reuses the
    * partitioning, guide §2.4), so it adds zero shuffles; what it buys
    * is that the pinned width is exempt from AQE's byte-based coalescing,
    * keeping the post-shuffle stage (collect_list merges, per-pair
    * verify, window walks) parallel when the shuffled BYTES are tiny but
    * the downstream compute is not. Same scale argument as [[spread]].
    */
  def byKey(df: DataFrame, keys: org.apache.spark.sql.Column*): DataFrame =
    df.repartition(df.sparkSession.sparkContext.defaultParallelism, keys: _*)
}
