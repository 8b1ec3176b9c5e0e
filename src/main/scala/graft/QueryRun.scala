package graft

import scala.concurrent.{Await, ExecutionContext, Future, TimeoutException}
import scala.concurrent.duration._

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The run harness of the query mains ([[Bench]], [[Verify]],
  * [[JobProfile]]): which catalog rows run, one row's timed run under a
  * wall budget, and the cleanup between rows.
  */
object QueryRun {
  final case class Result(sec: Double, ok: Boolean)

  /** `SPARK_GRAFT_ONLY=q_a,q_simhash`: the dev-loop filter, comma-separated
    * name prefixes. Unset (the driver's mode) runs every query.
    */
  val only: Option[Seq[String]] = sys.env.get("SPARK_GRAFT_ONLY")
    .map(_.split(',').map(_.trim).filter(_.nonEmpty).toSeq)

  /** Per-row wall budget in seconds (`SPARK_GRAFT_QUERY_TIMEOUT`). */
  val budgetSec: Long = sys.env.getOrElse("SPARK_GRAFT_QUERY_TIMEOUT", "120").toLong

  /** The catalog rows `filter` selects, by name. A filter that selects
    * nothing is a typo, not an empty run with a 0.0 total.
    */
  def selected(filter: Option[Seq[String]] = only)
      : Seq[(String, (SparkSession, String) => DataFrame)] = {
    val rows = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => filter.forall(_.exists(n.startsWith)) }
    require(rows.nonEmpty,
      s"SPARK_GRAFT_ONLY=${filter.getOrElse(Nil).mkString(",")} matches no query")
    rows
  }

  /** Run `body` under job group `name` and a wall budget of `budget`
    * seconds, so one pathological plan cannot eat the whole run: on
    * timeout the group's jobs are cancelled (interrupting their tasks).
    * Errors and timeouts are logged under `tag` and return not-ok. The
    * group is set on the thread that runs `body`: Spark's job properties
    * are thread-local, and a pooled thread keeps the ones it was created
    * with.
    */
  def timed(spark: SparkSession, name: String, tag: String, budget: Long = budgetSec)
           (body: => Unit): Result = {
    val sc = spark.sparkContext
    val t0 = System.nanoTime()
    val fut = Future {
      sc.setJobGroup(name, name, interruptOnCancel = true)
      try body finally sc.clearJobGroup()
    }(ExecutionContext.global)
    val ok =
      try { Await.result(fut, budget.seconds); true }
      catch {
        case _: TimeoutException =>
          sc.cancelJobGroup(name)
          System.err.println(s"[$tag] $name TIMED OUT after ${budget}s")
          false
        case e: Throwable =>
          System.err.println(s"[$tag] $name failed: ${e.getMessage}")
          false
      }
    Result((System.nanoTime() - t0) / 1e9, ok)
  }

  /** Drop what one row left behind so it does not tax the next row's
    * numbers: `clearCache` only drops SQL-cached relations, and
    * `localCheckpoint` blocks live as persisted RDDs until the
    * ContextCleaner happens to run. The forced GC runs outside any timer.
    */
  def cleanup(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    System.gc()
  }
}
