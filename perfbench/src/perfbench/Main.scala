package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.{ExecutionException, Executors, TimeUnit, TimeoutException}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** One call into the engine that a caller waits for. `kind` is "load" for a
  * daily `Pipeline.run` and "op" for everything else (a catalog query, an
  * analytics call, a data-quality check).
  */
final case class Op(name: String, kind: String, body: Recorder => Unit,
                    after: Recorder => Unit = _ => ())

/** Sub-spans an op records inside itself (e.g. the mart summary inside a
  * daily load), and per-op facts the checker or the trace needs.
  */
final class Recorder {
  val spans = ArrayBuffer.empty[(String, Long, Long)]
  val facts = scala.collection.mutable.LinkedHashMap.empty[String, Any]
  def span[A](name: String)(f: => A): A = {
    val t0 = System.currentTimeMillis()
    try f finally spans += ((name, t0, System.currentTimeMillis()))
  }
}

trait Workload {
  /** Untimed set-up work that belongs to every pass (e.g. a fresh table). */
  def beforePass(pass: Int): Unit = ()
  /** The operations of pass `pass` (negative for the warm passes), in run order. */
  def pass(pass: Int): Seq[Op]
  /** One untimed pass whose outputs land under `out` for the checker. */
  def checkPass(out: Path): Seq[Op]
  /** Facts about the workload the checker needs. */
  def facts: Map[String, Any] = Map.empty
}

/** Benchmark process: set up a session and make it ready (`setup_s`), run
  * one untimed pass that writes the outputs the checker compares,
  * `--warm-passes` more untimed passes, then timed passes until `--seconds`
  * have elapsed and at least `--min-samples` op latencies exist.
  *
  * With `--trace 1` the timed phase is split in two halves: passes without
  * listeners, then passes with the [[Tracer]] registered. The difference of
  * the halves' pass times is the tracing overhead.
  */
object Main {

  def gcMs: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    val work = Paths.get(args("work"))
    Files.createDirectories(work)

    val spark = graft.Sessions.local("perfbench", args("cores"))
    val workload: Workload = args("workload") match {
      case "reddit_daily" => new RedditDaily(spark, args("data"), work)
      case _ => new Catalog(spark, args("data"), args("queries").split(',').toSeq, args("seed").toLong)
    }
    // one small query through parse, plan, codegen and a job: the session
    // is ready for a caller's first request
    spark.range(0, 1000, 1, 2).selectExpr("sum(id)").collect()
    val setupS = (System.currentTimeMillis() - jvmStart) / 1e3
    val result = scala.collection.mutable.LinkedHashMap[String, Any]("setup_s" -> setupS)

    val runner = new Runner(spark)
    val outputs = work.resolve("outputs")
    val check = workload.checkPass(outputs).map { op =>
      val (sec, ok, rec) = runner.run("check:" + op.name, op)
      Seq(op.name, ok, sec, rec.facts.toMap)
    }
    result("check_ops") = check
    result ++= workload.facts

    val tracer = new Tracer(spark)
    val trace = args("trace") == "1"
    val seconds = args("seconds").toDouble
    val minSamples = args("min-samples").toInt
    val ops = ArrayBuffer.empty[Seq[Any]]
    val passes = ArrayBuffer.empty[Seq[Any]]

    // untimed passes that let the JIT settle before the timed ones
    (0 until args("warm-passes").toInt).foreach { w =>
      workload.beforePass(-1 - w)
      workload.pass(-1 - w).foreach(op => runner.run(s"warm$w:${op.name}", op))
    }
    val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
    heapPools.foreach(_.resetPeakUsage())

    def runPasses(traced: Boolean, budgetS: Double): Unit = {
      val t0 = System.nanoTime()
      var samples = 0
      var done = 0
      while (done < 1 || (System.nanoTime() - t0) / 1e9 < budgetS || samples < minSamples) {
        val p = passes.size
        workload.beforePass(p)
        var passSec = 0.0
        workload.pass(p).zipWithIndex.foreach { case (op, i) =>
          val gc0 = gcMs
          val start = System.currentTimeMillis()
          val id = s"$p:$i:${op.name}"
          val (sec, ok, rec) = runner.run(id, op)
          // read before the runner's cleanup after the op
          val gcOp = runner.lastGcMs - gc0
          passSec += sec
          if (op.kind == "op") samples += 1
          ops += Seq(id, p, op.name, op.kind, sec, ok, traced,
            rec.spans.map { case (n, a, b) => Seq(n, a, b) }.toSeq, rec.facts.toMap, gcOp / 1e3, start)
        }
        done += 1
        // cleanup between passes, outside every timer; its collector time
        // is read separately so it never lands in an operation's figures
        val gc0 = gcMs
        System.gc()
        passes += Seq(p, traced, passSec, (gcMs - gc0) / 1e3)
      }
    }

    if (trace) {
      runPasses(traced = false, seconds / 2)
      tracer.start()
      runPasses(traced = true, seconds / 2)
      tracer.stop(work.resolve("trace.jsonl"))
    } else runPasses(traced = false, seconds)

    val comp = ManagementFactory.getCompilationMXBean
    result ++= Seq(
      "ops" -> ops.toSeq,
      "passes" -> passes.toSeq,
      "jit_s" -> (if (comp.isCompilationTimeMonitoringSupported) comp.getTotalCompilationTime / 1e3 else 0.0),
      "classes_loaded" -> ManagementFactory.getClassLoadingMXBean.getTotalLoadedClassCount,
      "heap_peak_mb" -> heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0)
    runner.close()
    Files.writeString(work.resolve("result.json"), Json(result))
    spark.stop()
  }
}

/** Runs one op on a worker thread under its own job group, with a timeout
  * enforced by job-group cancellation. Cached relations and persisted RDDs
  * an op leaves behind are dropped after it, outside its timer.
  */
final class Runner(spark: SparkSession) {
  // far above any op's latency; an op this slow has hung
  private val timeoutS = 60
  // daemon worker: an op stuck past its timeout cannot keep the JVM alive
  private def newPool() = Executors.newSingleThreadExecutor { (r: Runnable) =>
    val t = new Thread(r, "perfbench-op")
    t.setDaemon(true)
    t
  }
  private var pool = newPool()
  /** Collector time read when the last op ended, before its cleanup. */
  var lastGcMs = 0L

  def run(id: String, op: Op): (Double, Boolean, Recorder) = {
    val sc = spark.sparkContext
    val rec = new Recorder
    val t0 = System.nanoTime()
    val fut = pool.submit(new Runnable {
      def run(): Unit = {
        sc.setJobGroup(id, op.name, interruptOnCancel = true)
        try op.body(rec) finally sc.clearJobGroup()
      }
    })
    val ok =
      try { fut.get(timeoutS.toLong, TimeUnit.SECONDS); true }
      catch {
        case _: TimeoutException =>
          sc.cancelJobGroup(id)
          pool.shutdownNow()
          pool = newPool()
          System.err.println(s"[perfbench] $id timed out after ${timeoutS}s")
          false
        case e: ExecutionException =>
          System.err.println(s"[perfbench] $id failed: ${e.getCause}")
          false
      }
    val sec = (System.nanoTime() - t0) / 1e9
    lastGcMs = Main.gcMs
    System.err.println(f"[perfbench] $id%-48s $sec%8.3f s${if (ok) "" else "  FAILED"}")
    if (ok) op.after(rec)
    spark.catalog.clearCache()
    sc.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    (sec, ok, rec)
  }

  def close(): Unit = pool.shutdownNow()
}

/** Minimal JSON encoder for the result and trace files. */
object Json {
  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Number => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(apply).mkString("[", ",", "]")
    case other => quote(other.toString)
  }

  private def quote(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
