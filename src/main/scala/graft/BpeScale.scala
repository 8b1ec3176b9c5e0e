package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions.expr

/** One-shot scale probe for [[graft.operators.Bpe.trainBatched]] — the
  * measured (not oracle-graded) evidence behind the 64k-vocab claim:
  * trains `SPARK_GRAFT_BPE_MERGES` (default 2048) merges over the
  * documents table at `SPARK_GRAFT_SF_DIR` and prints ONE JSON line with
  * wall seconds, Spark job count, rounds used, and merges learned. The
  * job budget under test is the trainer's contract: jobs ≤ merges/8 + a
  * small constant (one ranking job per ROUND, not per merge, plus
  * amortized checkpoints). Results are recorded in BASELINE.md.
  */
object BpeScale {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val nMerges = sys.env.getOrElse("SPARK_GRAFT_BPE_MERGES", "2048").toInt
    val window = sys.env.getOrElse("SPARK_GRAFT_BPE_WINDOW", "512").toInt
    val spark = Sessions.local("graft-bpe-scale")
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); (): Unit
      }
    })
    val docs0 = sources.Tables(spark, sfDir, "documents")
    // The synthetic corpus has only ~31 distinct whitespace words — BPE
    // over word pre-tokens exhausts at ~89 merges (measured), far short
    // of a vocab-scale run. Re-pre-tokenize into 3-WORD CHUNKS (the
    // space-attached pre-token discipline real BPE uses): ~31³ ≈ 30k
    // distinct pre-tokens whose internal structure supports thousands of
    // merges, so the probe exercises the trainer at a realistic
    // distinct-pre-token table size. The chunking is deterministic SQL
    // over the driver corpus — no synthesized data.
    val docs = docs0.select(expr(
      """array_join(transform(
        |  sequence(0, cast(ceil(size(split(trim(text), '\\s+')) / 3.0d) as int) - 1),
        |  i -> array_join(slice(split(trim(text), '\\s+'), i*3 + 1, 3), '_')
        |), ' ')""".stripMargin).as("text"))
    docs.count() // warm the scan outside the measured window
    jobs.set(0)
    val t0 = System.nanoTime()
    val merges = operators.Bpe.trainBatched(docs, "text", nMerges,
      window = window, maxRounds = math.max(16, nMerges / 4),
      checkpointEvery = 8)
    val learned = merges.count()
    val wall = (System.nanoTime() - t0) / 1e9
    val rounds = merges.agg(org.apache.spark.sql.functions.max("rank")).head() // ranks are merge indices
    val _ = rounds
    println(s"""{"metric":"bpe_train_batched","merges":$learned,"requested":$nMerges,""" +
      s""""window":$window,"jobs":${jobs.get()},"wall_sec":${math.round(wall * 100) / 100.0},""" +
      s""""jobs_per_merge":${math.round(jobs.get().toDouble / math.max(1L, learned) * 1000) / 1000.0},""" +
      s""""sf":"$sfDir"}""")
    spark.stop()
  }
}
