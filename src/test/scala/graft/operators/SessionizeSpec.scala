package graft.operators

import java.sql.Timestamp

import org.apache.spark.sql.functions.{col, timestamp_seconds}

import graft.SparkTestBase

class SessionizeSpec extends SparkTestBase {
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  test("gap splits sessions; bounds and counts are right") {
    val events = Seq(
      (1L, ts("2024-01-01 10:00:00"), 1L),
      (1L, ts("2024-01-01 10:10:00"), 2L),
      (1L, ts("2024-01-01 11:30:00"), 3L), // > 30 min gap → new session
      (2L, ts("2024-01-01 09:00:00"), 4L)
    ).toDF("user_id", "ts", "event_id")
    val out = Sessionize.sessionStats(events, "user_id", "ts", "event_id", 1800L)
      .collect()
    val u1 = out.filter(_.getLong(0) == 1L)
    assert(u1.map(r => (r.getLong(1), r.getLong(2))).toSeq == Seq((1L, 2L), (2L, 1L)))
    assert(u1.head.getString(3) == "2024-01-01 10:00:00")
    assert(u1.head.getString(4) == "2024-01-01 10:10:00")
    assert(out.count(_.getLong(0) == 2L) == 1)
  }

  test("ewmaFixedPoint: hand trajectory, truncation on negatives, repartition-stable") {
    val ev = Seq(
      (1L, ts("2024-01-01 10:00:00"), 1L, 100L),
      (1L, ts("2024-01-01 10:01:00"), 2L, 20L),
      (1L, ts("2024-01-01 10:02:00"), 3L, -50L),
      (2L, ts("2024-01-01 10:00:00"), 4L, 7L))
      .toDF("user_id", "ts", "event_id", "cents")
    def run(df: org.apache.spark.sql.DataFrame) =
      Sessionize.ewmaFixedPoint(df, "user_id", "ts", "event_id", "cents", 1L, 4L)
        .collect().map(r => r.getLong(1) -> r.getLong(3)).toMap
    val got = run(ev)
    // s1=100; s2=(20+300)/4=80; s3=(-50+240)/4=190/4 → 47 (trunc, not 48 rounding)
    assert(got == Map(1L -> 100L, 2L -> 80L, 3L -> 47L, 4L -> 7L), s"got $got")
    // negative state truncates toward zero like SQL integer division
    val neg = Seq((1L, ts("2024-01-01 10:00:00"), 1L, -100L),
      (1L, ts("2024-01-01 10:01:00"), 2L, -1L))
      .toDF("user_id", "ts", "event_id", "cents")
    // s2 = (-1 + 3·(-100))/4 = -301/4 = -75 (trunc), not -76 (floor)
    assert(run(neg)(2L) == -75L)
    assert(run(ev.repartition(7)) == got)
  }

  test("ewmaChunked: identical to ewmaFixedPoint across a chunk boundary; silent keys keep their carry") {
    import org.apache.spark.sql.functions.{col, dayofmonth}
    // key 1: events straddle the day boundary (state must carry);
    // key 2: active day 1, SILENT day 2, active day 3 (carry must survive
    // the silent chunk); key 3: single event
    val ev = Seq(
      (1L, ts("2024-01-01 10:00:00"), 1L, 100L),
      (1L, ts("2024-01-01 10:01:00"), 2L, 20L),
      (1L, ts("2024-01-02 09:00:00"), 3L, -50L),
      (2L, ts("2024-01-01 08:00:00"), 4L, 7L),
      (2L, ts("2024-01-03 08:00:00"), 5L, 99L),
      (3L, ts("2024-01-02 12:00:00"), 6L, 5L))
      .toDF("user_id", "ts", "event_id", "cents")
    def m(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(1) -> r.getLong(3)).toMap
    val whole = m(Sessionize.ewmaFixedPoint(
      ev, "user_id", "ts", "event_id", "cents", 1L, 4L))
    val chunked = m(Sessionize.ewmaChunked(
      ev, "user_id", "ts", "event_id", "cents", 1L, 4L, dayofmonth(col("ts"))))
    assert(chunked == whole, s"chunked=$chunked whole=$whole")
    // the boundary-crossing step really used the carried state:
    // key 1 day 2: s = (-50 + 3·80)/4 = 190/4 = 47 (carry s=80, not fresh)
    assert(chunked(3L) == 47L)
    // key 2 after the silent chunk: s = (99 + 3·7)/4 = 30
    assert(chunked(5L) == 30L)
    // a chunk expr that DISAGREES with time order fails loudly
    val ex = intercept[IllegalArgumentException] {
      Sessionize.ewmaChunked(ev, "user_id", "ts", "event_id", "cents",
        1L, 4L, col("event_id") % 2)
    }
    assert(ex.getMessage.contains("monotone"), ex.getMessage)
  }

  test("ewmaChunked: a null chunk id fails loudly instead of dropping its events") {
    import org.apache.spark.sql.functions.{col, dayofmonth}
    val ev = Seq(
      (1L, ts("2024-01-01 10:00:00"), 1L, 100L),
      (1L, null, 2L, 20L),
      (2L, ts("2024-01-02 08:00:00"), 3L, 7L))
      .toDF("user_id", "ts", "event_id", "cents")
    val ex = intercept[IllegalArgumentException] {
      Sessionize.ewmaChunked(ev, "user_id", "ts", "event_id", "cents",
        1L, 4L, dayofmonth(col("ts")))
    }
    assert(ex.getMessage.contains("null for 1"), ex.getMessage)
  }

  test("funnel: order matters, greedy earliest-match, strict-after on ties, repartition-stable") {
    val ev = Seq(
      // user 1: full ordered funnel
      (1L, ts("2024-01-01 10:00:00"), 1L, "view"),
      (1L, ts("2024-01-01 10:01:00"), 2L, "click"),
      (1L, ts("2024-01-01 10:02:00"), 3L, "purchase"),
      // user 2: purchase BEFORE click — stops at click (stage 2)
      (2L, ts("2024-01-01 09:00:00"), 4L, "view"),
      (2L, ts("2024-01-01 09:01:00"), 5L, "purchase"),
      (2L, ts("2024-01-01 09:02:00"), 6L, "click"),
      // user 3: click only, no view — stage 0
      (3L, ts("2024-01-01 08:00:00"), 7L, "click"),
      // user 4: view+click at the SAME ts — event_id tiebreak makes the
      // click strictly after the view, so stage 2
      (4L, ts("2024-01-01 07:00:00"), 8L, "view"),
      (4L, ts("2024-01-01 07:00:00"), 9L, "click"),
      // user 5: click at same ts but LOWER event_id than the view — the
      // click is NOT after the view in (ts, id) order, stage 1
      (5L, ts("2024-01-01 06:00:00"), 11L, "view"),
      (5L, ts("2024-01-01 06:00:00"), 10L, "click"))
      .toDF("user_id", "ts", "event_id", "event_type")
    def run(df: org.apache.spark.sql.DataFrame) =
      Sessionize.funnel(df, "user_id", "ts", "event_id", "event_type",
          Seq("view", "click", "purchase"))
        .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    val got = run(ev)
    // stage1 (view): users 1,2,4,5 → 4; stage2 (click after view): 1,2,4 → 3;
    // stage3: only user 1
    assert(got == Map(1L -> 4L, 2L -> 3L, 3L -> 1L), s"got $got")
    assert(run(ev.repartition(7)) == got)
  }

  test("holtFixedPoint: hand-stepped recurrence, constant and ramp series") {
    import spark.implicits._
    // user 1: constant 100 -> level pinned at 100, trend 0 forever
    // user 2: ramp 0,80,160,240 with a=1/2, g=1/2:
    //   t1: l=0 b=0; t2: l=(80+0)/2=40, b=(40-0)/2=20
    //   t3: l=(160+60)/2=110, b=((110-40)/2 + 20/... wait: b=(1*(110-40)+1*20)/2=45
    //   t4: l=(240+155)/2=197, b=((197-110)+45)/2=66
    val ev = Seq(
      (1L, 0L, 1L, 100L), (1L, 1L, 2L, 100L), (1L, 2L, 3L, 100L),
      (2L, 0L, 4L, 0L), (2L, 1L, 5L, 80L), (2L, 2L, 6L, 160L),
      (2L, 3L, 7L, 240L))
      .toDF("user_id", "tsec", "event_id", "v")
      .select(col("user_id"), timestamp_seconds(col("tsec")).as("ts"),
        col("event_id"), col("v"))
    val out = Sessionize.holtFixedPoint(ev.repartition(5), "user_id", "ts",
        "event_id", "v", 1L, 2L, 1L, 2L)
      .collect().map(r => r.getAs[Long]("event_id") ->
        ((r.getAs[Long]("level_units"), r.getAs[Long]("trend_units"),
          r.getAs[Long]("forecast_units")))).toMap
    assert(out(1L) == ((100L, 0L, 100L)))
    assert(out(3L) == ((100L, 0L, 100L)))
    assert(out(4L) == ((0L, 0L, 0L)))
    assert(out(5L) == ((40L, 20L, 60L)))
    assert(out(6L) == ((110L, 45L, 155L)))
    assert(out(7L) == ((197L, 66L, 263L)))
  }

  test("holtFixedPoint: negative trend on a falling series stays integer-exact") {
    import spark.implicits._
    val ev = Seq((1L, 0L, 1L, 1000L), (1L, 1L, 2L, 500L), (1L, 2L, 3L, 0L))
      .toDF("user_id", "tsec", "event_id", "v")
      .select(col("user_id"), timestamp_seconds(col("tsec")).as("ts"),
        col("event_id"), col("v"))
    val out = Sessionize.holtFixedPoint(ev, "user_id", "ts", "event_id", "v",
        1L, 2L, 1L, 2L)
      .orderBy("event_id").collect()
    // t2: l=(500+1000)/2=750, b=(750-1000)/2 = -125 (truncation toward 0)
    assert(out(1).getAs[Long]("level_units") == 750L)
    assert(out(1).getAs[Long]("trend_units") == -125L)
    // t3: prev=625, l=(0+625)/2=312, b=((312-750)+(-125))/2 = -563/2 = -281
    assert(out(2).getAs[Long]("level_units") == 312L)
    assert(out(2).getAs[Long]("trend_units") == -281L)
    assert(out(2).getAs[Long]("forecast_units") == 31L)
  }

  test("cusumFixedPoint: level shift alarms, noise does not, accumulators reset") {
    import spark.implicits._
    // ref=100, slack=20, threshold=150. user 1: on-target noise
    // (90..110) never accumulates past slack; user 2: shift to 180 ->
    // +60/event -> alarm on the 3rd shifted event; then a return to
    // target drains the accumulator back to 0
    val vals1 = Seq(90L, 110L, 95L, 105L, 100L)
    val vals2 = Seq(100L, 180L, 180L, 180L, 100L, 100L)
    val ev = (vals1.zipWithIndex.map { case (v, i) => (1L, i.toLong, i.toLong, v) } ++
      vals2.zipWithIndex.map { case (v, i) => (2L, i.toLong, 100L + i, v) })
      .toDF("user_id", "tsec", "event_id", "v")
      .select(col("user_id"), timestamp_seconds(col("tsec")).as("ts"),
        col("event_id"), col("v"))
    val out = Sessionize.cusumFixedPoint(ev.repartition(4), "user_id", "ts",
        "event_id", "v", ref = 100L, slack = 20L, threshold = 150L)
      .collect().map(r => r.getAs[Long]("event_id") ->
        ((r.getAs[Long]("cusum_pos"), r.getAs[Long]("cusum_neg"),
          r.getAs[Boolean]("alarm_up")))).toMap
    // user 1: every deviation is inside the slack band -> all zeros
    (0L to 4L).foreach(i => assert(out(i) == ((0L, 0L, false)), s"at $i: ${out(i)}"))
    // user 2: sp walks 0, 60, 120, 180(alarm), then drains 160, 140
    assert(out(101L) == ((60L, 0L, false)))
    assert(out(102L) == ((120L, 0L, false)))
    assert(out(103L)._1 == 180L && out(103L)._3, "3rd shifted event must alarm")
    assert(out(104L) == ((160L, 0L, true)))
    assert(out(105L) == ((140L, 0L, false)))
  }

  test("markovTransitions: counts and row-normalized probabilities by hand") {
    import spark.implicits._
    // user 1: a b a b a ; user 2: a a b
    // pairs: a->b (x2 from u1), b->a (x2 from u1), a->a (u2), a->b (u2)
    val seqs = Seq((1L, Seq("a", "b", "a", "b", "a")), (2L, Seq("a", "a", "b")))
    val ev = seqs.flatMap { case (u, ss) =>
      ss.zipWithIndex.map { case (st, i) => (u, i.toLong, u * 100 + i, st) }
    }.toDF("user_id", "tsec", "event_id", "state")
      .select(col("user_id"), timestamp_seconds(col("tsec")).as("ts"),
        col("event_id"), col("state"))
    val out = Sessionize.markovTransitions(ev.repartition(3), "user_id", "ts",
        "event_id", "state")
      .collect().map(r => (r.getAs[String]("from_state"),
        r.getAs[String]("to_state")) ->
        ((r.getAs[Long]("n"), r.getAs[Long]("row_total"),
          r.getAs[Double]("p")))).toMap
    assert(out(("a", "b")) == ((3L, 4L, 0.75)))
    assert(out(("a", "a")) == ((1L, 4L, 0.25)))
    assert(out(("b", "a")) == ((2L, 2L, 1.0)))
    assert(out.size == 3, "no b->b pair exists")
  }
}
