package perfbench

import java.nio.file.{Files, Path}
import java.security.MessageDigest
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan, SparkPlanInfo}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.ui.{SparkListenerSQLAdaptiveExecutionUpdate, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.util.QueryExecutionListener

/** The traced run's recorder, built only on Spark's public listener APIs.
  *
  * A `SparkListener` records job, stage and task spans; a job's parent is
  * the operation whose job group it ran under, and a stage's parent is its
  * job. A `QueryExecutionListener` reads each finished query's executed plan:
  * its SQL metrics (scan, sort, aggregate) and a fingerprint of the plan's
  * shape. Records stay in memory and are written as JSON lines by [[stop]].
  */
final class Tracer(spark: SparkSession) extends SparkListener with QueryExecutionListener {
  private val records = new ConcurrentLinkedQueue[String]
  private val lastEvent = new AtomicLong(System.currentTimeMillis())
  // A finished query's plan is joined to its SQL execution (and so to its
  // operation) through the ids of its metric accumulators, which the
  // execution's start and re-planning events list. The join waits for the
  // run's end: the two listeners are fed from different bus queues.
  private val plans = new ConcurrentLinkedQueue[(Seq[Long], Seq[(String, Any)])]
  private val execOfMetric = new ConcurrentHashMap[Long, Long]

  private def metricIds(info: SparkPlanInfo): Iterator[Long] =
    info.metrics.iterator.map(_.accumulatorId) ++ info.children.iterator.flatMap(metricIds)

  private def emit(fields: (String, Any)*): Unit = {
    records.add(Json(scala.collection.immutable.ListMap(fields: _*)))
    lastEvent.set(System.currentTimeMillis())
  }

  def start(): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
  }

  /** Waits for the listener bus to go quiet, then writes every record. */
  def stop(out: Path): Unit = {
    val deadline = System.currentTimeMillis() + 10000
    while (System.currentTimeMillis() - lastEvent.get < 500 && System.currentTimeMillis() < deadline)
      Thread.sleep(100)
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(this)
    plans.asScala.foreach { case (ids, fields) =>
      val exec = ids.iterator.flatMap(id => Option(execOfMetric.get(id))).nextOption()
      emit(Seq("k" -> "plan", "exec" -> exec.getOrElse(-1L)) ++ fields: _*)
    }
    Files.write(out, records.asScala.toSeq.asJava)
  }

  /** The innermost frame of the engine's modules in a call site, e.g.
    * `PostsTable` for a job started inside `PostsTable.upsert`. Jobs that
    * adaptive execution submits carry no user frames; they take the site of
    * their SQL execution.
    */
  private def site(details: String): String =
    details.linesIterator
      .map(_.trim)
      .collectFirst { case Tracer.Frame(obj) => obj }
      .getOrElse("")

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val props = Option(e.properties)
    def prop(k: String) = props.flatMap(p => Option(p.getProperty(k))).getOrElse("")
    emit("k" -> "job", "id" -> e.jobId, "t0" -> e.time, "op" -> prop("spark.jobGroup.id"),
      "exec" -> prop("spark.sql.execution.id"), "stages" -> e.stageIds,
      "site" -> e.stageInfos.sortBy(_.stageId).lastOption.map(s => site(s.details)).getOrElse(""))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    emit("k" -> "job_end", "id" -> e.jobId, "t1" -> e.time)

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val s = e.stageInfo
    emit("k" -> "stage", "id" -> s.stageId,
      "t0" -> s.submissionTime.getOrElse(0L), "t1" -> s.completionTime.getOrElse(0L))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val i = e.taskInfo
    val m = Option(e.taskMetrics)
    def mv(f: org.apache.spark.executor.TaskMetrics => Long): Long = m.map(f).getOrElse(0L)
    emit("k" -> "task", "stage" -> e.stageId, "t0" -> i.launchTime, "t1" -> i.finishTime,
      "ok" -> i.successful, "run_ms" -> mv(_.executorRunTime), "cpu_ns" -> mv(_.executorCpuTime),
      "gc_ms" -> mv(_.jvmGCTime), "deser_ms" -> mv(_.executorDeserializeTime),
      "ser_ms" -> mv(_.resultSerializationTime), "get_ms" -> i.gettingResultTime,
      "sw_bytes" -> mv(_.shuffleWriteMetrics.bytesWritten),
      "sw_ns" -> mv(_.shuffleWriteMetrics.writeTime),
      "sr_bytes" -> mv(_.shuffleReadMetrics.totalBytesRead),
      "in_bytes" -> mv(_.inputMetrics.bytesRead))
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart =>
      metricIds(s.sparkPlanInfo).foreach(execOfMetric.put(_, s.executionId))
      emit("k" -> "exec", "id" -> s.executionId, "op" -> s.jobGroupId.getOrElse(""),
        "site" -> site(s.details))
    case u: SparkListenerSQLAdaptiveExecutionUpdate =>
      metricIds(u.sparkPlanInfo).foreach(execOfMetric.put(_, u.executionId))
    case _ =>
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val nodes = Tracer.nodes(qe.executedPlan)
    def sum(pred: SparkPlan => Boolean, metric: String): Long =
      nodes.filter(pred).flatMap(_.metrics.get(metric)).map(_.value).sum
    val isScan = (n: SparkPlan) => n.nodeName.startsWith("Scan ") || n.nodeName.startsWith("BatchScan")
    val isSort = (n: SparkPlan) => n.nodeName == "Sort"
    val isAgg = (n: SparkPlan) => n.nodeName.endsWith("Aggregate")
    plans.add((nodes.flatMap(_.metrics.values.map(_.id)), Seq("fn" -> funcName, "fp" -> Tracer.fingerprint(nodes),
      "scan_ms" -> (sum(isScan, "scanTime") + sum(isScan, "metadataTime")),
      "scan_bytes" -> sum(isScan, "filesSize"), "scan_recs" -> sum(isScan, "numOutputRows"),
      "scan_files" -> sum(isScan, "numFiles"),
      "sort_ms" -> sum(isSort, "sortTime"), "sort_spill" -> sum(isSort, "spillSize"),
      "agg_ms" -> sum(isAgg, "aggTime"))))
  }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
}

object Tracer {
  private val Frame = """^graft\.(?:reddit|quality)\.(\w+?)\$?\..*""".r

  /** Every node of an executed plan, looking through adaptive execution and
    * query stages into the plan that actually ran, and into subqueries.
    */
  def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case s: QueryStageExec => nodes(s.plan)
    case n => n +: (n.children ++ n.subqueries).flatMap(nodes)
  }

  /** Hash of the plan's shape: each node's one-line description with
    * expression ids, plan ids and file paths removed, so two runs of the
    * same plan over different checkouts hash the same.
    */
  def fingerprint(nodes: Seq[SparkPlan]): String = {
    val text = nodes.map(n => n.simpleString(25)
      .replaceAll("#\\d+L?", "#")
      .replaceAll("plan_id=\\d+", "plan_id")
      .replaceAll("file:[^\\s,\\]]+", "<path>"))
      .mkString("\n")
    MessageDigest.getInstance("SHA-256").digest(text.getBytes("UTF-8"))
      .take(8).map(b => f"${b & 0xff}%02x").mkString
  }
}
