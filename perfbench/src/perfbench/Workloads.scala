package perfbench

import java.nio.file.{Files, Path, Paths}
import java.sql.Timestamp

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.SparkEntry
import graft.quality.DataQuality
import graft.reddit.{Analytics, Pipeline}

/** A fixed list of catalog queries, each run to the `noop` sink so the
  * whole plan executes. The seed only shuffles the order of each pass.
  */
final class Catalog(spark: SparkSession, dataDir: String, names: Seq[String], seed: Long)
    extends Workload {
  private val fns = names.map(n =>
    n -> SparkEntry.queries.getOrElse(n, throw new IllegalArgumentException(s"unknown query $n")))

  def pass(p: Int): Seq[Op] =
    new scala.util.Random(seed * 1000003L + p).shuffle(fns).map { case (n, f) =>
      Op(n, "op", _ => f(spark, dataDir).write.format("noop").mode("overwrite").save())
    }

  def checkPass(out: Path): Seq[Op] = fns.map { case (n, f) =>
    Op(n, "op", _ => f(spark, dataDir).write.mode("overwrite").parquet(out.resolve(n).toString))
  }

  override def facts: Map[String, Any] =
    Map("oracle" -> names.flatMap(n => SparkEntry.oracleSql.get(n).map(n -> _)).toMap)
}

/** The reference's daily DAG over generated days: each day is one
  * `Pipeline.run` (CSV ingest, upsert, models) with the mart summary
  * materialized, followed by the three acceptance queries in DataFrame and
  * SQL form and the `unique(id)`/`not_null(id)` data-quality check over the
  * table as it stands after that day. Every pass starts from an empty table.
  */
final class RedditDaily(spark: SparkSession, dataDir: String, work: Path) extends Workload {
  private val days: Seq[(String, Timestamp)] =
    Files.readAllLines(Paths.get(dataDir, "days.tsv")).asScala.toSeq.map { line =>
      val Array(file, now) = line.split("\t")
      (Paths.get(dataDir, file).toString, Timestamp.valueOf(now))
    }

  private def root(tag: String): Path = work.resolve(s"table_$tag")

  private val reads: Seq[(String, () => DataFrame)] = Seq(
    "top_posts" -> (() => Analytics.topPosts(spark.table("reddit"))),
    "subreddit_stats" -> (() => Analytics.subredditStats(spark.table("reddit"))),
    "score_by_hour" -> (() => Analytics.scoreByHour(spark.table("reddit"))),
    "sql_top_posts" -> (() => Analytics.sqlTopPosts(spark)),
    "sql_subreddit_stats" -> (() => Analytics.sqlSubredditStats(spark)),
    "sql_score_by_hour" -> (() => Analytics.sqlScoreByHour(spark)))

  private val rules = Seq(DataQuality.Unique("id"), DataQuality.NotNull("id"))

  /** Daily loads and reads against `table`; `sink` consumes each result. */
  private def ops(table: Path, sink: (String, DataFrame) => Unit): Seq[Op] =
    days.zipWithIndex.flatMap { case ((csv, now), d) =>
      val load = Op("load", "load", rec => {
        val r = Pipeline.run(spark, csv, table.toString, Some(now))
        rec.span("summary")(sink(s"summary_d$d", r.summary))
        rec.facts ++= Seq("loaded" -> r.loaded, "bad" -> r.badRecords)
      }, rec => rec.facts ++= TableFiles.describe(table, now.toLocalDateTime.toLocalDate.toString))
      val queries = reads.map { case (n, q) => Op(n, "op", _ => sink(s"${n}_d$d", q())) }
      val dq = Op("dq_check", "op", rec => {
        val res = DataQuality.check(spark.table("reddit"), rules)
        rec.facts("violations") = res.map(_.violationCount).sum
      })
      load +: queries :+ dq
    }

  override def beforePass(p: Int): Unit = TableFiles.delete(root("timed"))

  def pass(p: Int): Seq[Op] = ops(root("timed"), (_, df) => { df.collect(); () })

  def checkPass(out: Path): Seq[Op] = {
    val table = root("check")
    TableFiles.delete(table)
    val last = days.size - 1
    ops(table, (name, df) =>
      if (name.endsWith(s"_d$last")) df.write.mode("overwrite").parquet(out.resolve(name).toString)
      else { df.collect(); () })
  }
}

/** File-level facts about a `PostsTable` version after an upsert. A data
  * file with one hard link was written by this version; one with more was
  * linked in from the previous version.
  */
object TableFiles {
  def delete(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.iterator().asScala.toSeq.reverse.foreach(Files.delete) finally s.close()
    }

  def describe(table: Path, stagedDate: String): Map[String, Any] = {
    val dir = table.resolve(s"v_${graft.reddit.PostsTable.currentVersion(table.toString).get}")
    val s = Files.walk(dir)
    val files =
      try s.iterator().asScala.filter(f => Files.isRegularFile(f) &&
        f.getFileName.toString.endsWith(".parquet")).toSeq
      finally s.close()
    def links(f: Path): Int = Files.getAttribute(f, "unix:nlink").asInstanceOf[Int]
    val written = files.filter(links(_) == 1)
    val parts = files.groupBy(_.getParent.getFileName.toString)
    Map(
      "files_written" -> written.size,
      "bytes_written" -> written.map(Files.size).sum,
      "staged_bytes" -> written.filter(_.getParent.getFileName.toString == s"extract_date=$stagedDate")
        .map(Files.size).sum,
      "partitions_rewritten" -> parts.count(_._2.exists(links(_) == 1)),
      "partitions_linked" -> parts.count(_._2.forall(links(_) > 1)),
      "table_files" -> files.size,
      "dir" -> dir.toString)
  }
}
