package graft

import org.apache.spark.JobExecutionStatus

/** [[QueryRun]]: the wall budget cancels the row's jobs and leaves the
  * session usable, failures are not-ok, cleanup drops persisted RDDs, and
  * a filter that selects nothing fails.
  */
class QueryRunSpec extends SparkTestBase {

  test("a row past its budget returns not-ok, its job group is cancelled, and the next row runs") {
    val sc = spark.sparkContext
    // a finished row first, so the sleeping row may run on a pooled thread
    assert(QueryRun.timed(spark, "qr-first", "test")(spark.range(3).count()).ok)
    val r = QueryRun.timed(spark, "qr-sleeper", "test", budget = 1L) {
      sc.parallelize(Seq(1), 1).map { x => Thread.sleep(60000L); x }.count()
    }
    assert(!r.ok)
    assert(r.sec < 10, s"a 1 s budget returned after ${r.sec} s")
    val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
    def statuses = sc.statusTracker.getJobIdsForGroup("qr-sleeper").toSeq
      .flatMap(id => sc.statusTracker.getJobInfo(id)).map(_.status)
    while ((statuses.isEmpty || statuses.exists(_ != JobExecutionStatus.FAILED)) &&
        System.nanoTime() < deadline) Thread.sleep(50)
    assert(statuses.nonEmpty && statuses.forall(_ == JobExecutionStatus.FAILED),
      s"the sleeping row's jobs: $statuses")
    val next = QueryRun.timed(spark, "qr-next", "test", budget = 60L) {
      assert(spark.range(10).count() == 10)
    }
    assert(next.ok)
  }

  test("a throwing row returns not-ok") {
    assert(!QueryRun.timed(spark, "qr-throws", "test")(throw new IllegalStateException("boom")).ok)
  }

  test("cleanup leaves no persisted RDD behind a localCheckpoint") {
    spark.range(100).localCheckpoint().count()
    assert(spark.sparkContext.getPersistentRDDs.nonEmpty)
    QueryRun.cleanup(spark)
    assert(spark.sparkContext.getPersistentRDDs.isEmpty)
  }

  test("the name filter selects by prefix and fails when it matches nothing") {
    assert(QueryRun.selected(Some(Seq("q_sql_revenue_by_nation"))).map(_._1) ==
      Seq("q_sql_revenue_by_nation"))
    val e = intercept[IllegalArgumentException](QueryRun.selected(Some(Seq("no_such_row_"))))
    assert(e.getMessage.contains("no_such_row_"))
  }
}
