package graft.reddit

import java.sql.Timestamp

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The whole reference DAG (reddit_pipeline.py:20-44) collapsed into one
  * Spark program: extract(CSV fixture) → transform → upsert(table) →
  * dbt models → acceptance queries. Four process/network hops in the
  * reference become one logical plan per stage here.
  */
object Pipeline {

  final case class Result(
      loaded: Long,
      tableRows: Long,
      summary: DataFrame,
      badRecords: Long = 0L,
      badSample: Seq[String] = Seq.empty)

  /** One daily run: ingest `csvPath`, upsert into the posts table at
    * `tableRoot`, refresh models. `now` is the injectable extraction clock
    * (P6) — pass a fixed value for reproducible runs. The `reddit_summary`
    * mart is materialized once, as dbt materializes it as a table: the
    * result's `summary` (and the `reddit_summary` view) is a local relation
    * of its rows.
    */
  def run(spark: SparkSession, csvPath: String, tableRoot: String,
          now: Option[Timestamp] = None): Result = {
    // extract + transform (stage 1; CSV already carries derived columns —
    // Enrich only fills what's missing, mirroring the reference's guards)
    val load = CsvReddit.readChecked(spark, csvPath)
    // load.data is a lazy local checkpoint: the daily batch is bounded (the
    // upsert's maxStagedKeys contract) and feeds several actions (key
    // collect, version write, loaded count), which parse the CSV once
    // between them; the clock stamp is a projection over it
    val batch = now.fold(load.data)(ts => Enrich.stampExtraction(load.data, ts))

    // load: delete-matching upsert, atomic swap (stages 2-3)
    PostsTable.upsert(spark, tableRoot, batch, key = "id")

    // dbt models (stage 4)
    val reddit = PostsTable.read(spark, tableRoot).drop("extract_date")
    Models.registerViews(spark, reddit)
    val mart = Models.redditSummary(Models.stgReddit(reddit))
    val martRows = mart.collect()
    val summary = spark.createDataFrame(martRows.toSeq.asJava, mart.schema)
    summary.createOrReplaceTempView("reddit_summary")

    Result(
      loaded = batch.count(),
      // post_count is count(*) per subreddit, the null group included, so
      // the mart's counts sum to the table's row count
      tableRows = martRows.iterator.map(_.getAs[Long]("post_count")).sum,
      summary = summary,
      badRecords = load.badCount,
      badSample = load.badSample)
  }

  /** The DAG's retry contract (reddit_pipeline.py:10-17: retries=1,
    * 15 s delay): re-run the whole day's run on failure. Safe because the
    * pipeline is idempotent end-to-end — the upsert is last-write-wins by
    * key and the version swap is atomic, so a retry after a partial failure
    * converges to the same table.
    */
  def runWithRetry(spark: SparkSession, csvPath: String, tableRoot: String,
                   now: Option[Timestamp] = None, retries: Int = 1,
                   retryDelayMs: Long = 15000L): Result = {
    var attempt = 0
    while (true) {
      try return run(spark, csvPath, tableRoot, now)
      catch {
        case e: Throwable if attempt < retries =>
          attempt += 1
          System.err.println(s"[pipeline] attempt $attempt failed (${e.getMessage}); retrying")
          Thread.sleep(retryDelayMs)
      }
    }
    sys.error("unreachable")
  }

  /** CLI: Pipeline <csvPath> <tableRoot>. */
  def main(args: Array[String]): Unit = {
    val Array(csvPath, tableRoot) = args.take(2)
    val spark = graft.Sessions.local("reddit-pipeline")
    val r = run(spark, csvPath, tableRoot)
    println(s"loaded=${r.loaded} tableRows=${r.tableRows}")
    r.summary.show(false)
    spark.stop()
  }
}
