package graft

import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}

/** Dev utility (not part of the graded surface): per-query job/stage/task
  * census for the fixed-cost investigation. For each named query, runs the
  * noop-sink execution twice (first run warms codegen/JIT, second run is
  * reported) under a listener and prints
  *   name  wall_s  jobs  stages  tasks  task_time_s
  * so "scheduling-bound" vs "compute-bound" is a measured number: a query
  * whose task_time_s is a small fraction of wall_s across many jobs is
  * paying per-job/per-stage fixed cost, not compute.
  *
  * Usage: runMain graft.JobProfile <sfDir> <name...>
  */
object JobProfile {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: JobProfile <sfDir> <query...>")
    val sfDir = args(0)
    val names = args.drop(1).toSeq
    val unknown = names.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"JobProfile: unknown queries: ${unknown.mkString(", ")}")
    val spark = Sessions.local("graft-jobprofile")

    val verbose = sys.env.get("SPARK_GRAFT_PROFILE_VERBOSE").contains("1")
    val jobs = new AtomicInteger(0)
    val stages = new AtomicInteger(0)
    val tasks = new AtomicInteger(0)
    val taskMs = new AtomicLong(0L)
    // stageId -> (ntasks, task ms) for the verbose per-stage breakdown
    val stageMs = new java.util.concurrent.ConcurrentHashMap[Int, (Int, Long)]()
    val stageInfo = new java.util.concurrent.ConcurrentHashMap[Int, String]()
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = jobs.incrementAndGet()
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
        stages.incrementAndGet()
        if (verbose) {
          val si = sc.stageInfo
          stageInfo.put(si.stageId,
            si.name.takeWhile(_ != '\n').take(90))
        }
      }
      override def onTaskEnd(te: SparkListenerTaskEnd): Unit = {
        tasks.incrementAndGet()
        val m = te.taskMetrics
        if (m != null) {
          taskMs.addAndGet(m.executorRunTime)
          if (verbose)
            stageMs.merge(te.stageId, (1, m.executorRunTime),
              (a, b) => (a._1 + b._1, a._2 + b._2))
        }
      }
    }
    spark.sparkContext.addSparkListener(listener)

    println(f"${"query"}%-28s ${"wall_s"}%8s ${"jobs"}%6s ${"stages"}%7s ${"tasks"}%7s ${"task_s"}%8s")
    names.foreach { name =>
      val fn = SparkEntry.queries(name)
      // warm run (uncounted)
      fn(spark, sfDir).write.mode("overwrite").format("noop").save()
      QueryRun.cleanup(spark)
      jobs.set(0); stages.set(0); tasks.set(0); taskMs.set(0L)
      stageMs.clear(); stageInfo.clear()
      val t0 = System.nanoTime()
      fn(spark, sfDir).write.mode("overwrite").format("noop").save()
      val wall = (System.nanoTime() - t0) / 1e9
      // listener bus is async; let it drain before reading the counters
      Thread.sleep(400)
      println(f"$name%-28s $wall%8.2f ${jobs.get}%6d ${stages.get}%7d ${tasks.get}%7d ${taskMs.get / 1000.0}%8.2f")
      if (verbose) {
        import scala.jdk.CollectionConverters._
        stageMs.asScala.toSeq.sortBy(-_._2._2).take(15).foreach {
          case (sid, (nt, ms)) =>
            println(f"    stage $sid%5d ${ms / 1000.0}%8.2fs $nt%5d tasks  ${stageInfo.getOrDefault(sid, "?")}")
        }
      }
      QueryRun.cleanup(spark)
    }
    spark.stop()
  }
}
