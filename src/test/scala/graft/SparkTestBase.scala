package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (one JVM under `Test / fork`): the
  * production [[Sessions.local]] on two cores. */
object SparkTestBase {
  lazy val session: SparkSession = Sessions.local("graft-test", "2")
}

trait SparkTestBase extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestBase.session
  def sfDir: String = "/root/testdata/sf0.001"

  /** `body`'s result and the Spark jobs started while it ran. The listener
    * bus is asynchronous, so a marker job run afterwards closes the count:
    * its start is delivered after every earlier one.
    */
  def jobsDuring[T](body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val marker = s"jobs-during-marker-${System.nanoTime()}"
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        seen.add(Option(js.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description"))).getOrElse("")): Unit
      }
    }
    sc.addSparkListener(listener)
    try {
      val out = body
      sc.setJobDescription(marker)
      try sc.parallelize(Seq(1), 1).count() finally sc.setJobDescription(null)
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (!seen.contains(marker) && System.nanoTime() < deadline) Thread.sleep(20)
      assert(seen.contains(marker), "the marker job never reached the listener")
      (out, seen.asScala.takeWhile(_ != marker).size)
    } finally sc.removeSparkListener(listener)
  }
}
