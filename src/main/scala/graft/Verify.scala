package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .withExtensions(new GraftExtensions())
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // per-query wall budget via job-group cancel: one pathological plan
    // must not starve the rest of the correctness dump
    val perQuerySec = sys.env.getOrElse("SPARK_GRAFT_QUERY_TIMEOUT", "120").toLong
    import scala.concurrent.{Await, ExecutionContext, Future, TimeoutException}
    import scala.concurrent.duration._
    implicit val ec: ExecutionContext = ExecutionContext.global
    // dev-loop filter: SPARK_GRAFT_ONLY=q_a,q_simhash dumps the matching
    // prefixes only; unset (the driver's mode) dumps everything
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(',').map(_.trim).filter(_.nonEmpty))
    SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.exists(n.startsWith)) }
      .foreach { case (name, fn) =>
      spark.sparkContext.setJobGroup(name, name, interruptOnCancel = true)
      val t0 = System.nanoTime()
      val fut = Future {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
      }
      try Await.result(fut, perQuerySec.seconds)
      catch {
        case _: TimeoutException =>
          spark.sparkContext.cancelJobGroup(name)
          System.err.println(s"[verify] $name TIMED OUT after ${perQuerySec}s")
        case e: Throwable =>
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      spark.sparkContext.clearJobGroup()
      System.err.println(f"[verify] $name%-28s ${(System.nanoTime() - t0) / 1e9}%8.2fs")
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
