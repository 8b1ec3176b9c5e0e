package graft

import org.apache.spark.sql.execution.ExplainMode

/** Dev utility: dump `.explain("formatted")` for named queries to files
  * (`args: sfDir outDir suffix name...`), e.g. plans/r19/q_x_before.txt.
  * Plans only — nothing executes, so this is safe to run on a loaded host.
  * The session is [[Sessions.local]], the one [[Bench]] runs, so at the
  * same `SPARK_GRAFT_CPUS` the dumped plan is the plan the bench runs.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    if (args.length < 4) {
      System.err.println("usage: PlanDump <sfDir> <outDir> <suffix> <query...>")
      sys.exit(2)
    }
    val sfDir = args(0); val outDir = args(1); val suffix = args(2)
    val names = args.drop(3)
    val spark = Sessions.local("graft-plandump")
    new java.io.File(outDir).mkdirs()
    try names.foreach { n =>
      try {
        val df = SparkEntry.queries(n)(spark, sfDir)
        val txt = df.queryExecution.explainString(ExplainMode.fromString("formatted"))
        java.nio.file.Files.writeString(
          java.nio.file.Paths.get(s"$outDir/${n}_$suffix.txt"), txt)
        System.err.println(s"[plandump] $n -> $outDir/${n}_$suffix.txt")
      } catch {
        case e: Throwable =>
          System.err.println(s"[plandump] $n FAILED: ${e.getMessage}")
      }
    } finally spark.stop()
  }
}
