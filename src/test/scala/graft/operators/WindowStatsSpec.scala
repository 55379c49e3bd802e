package graft.operators

import java.sql.Timestamp
import org.scalatest.funsuite.AnyFunSuite

/** Rolling median (exact, holistic frame) and Bollinger breakouts (pure
  * BIGINT band predicate): hand-computed frames plus a differential
  * check of the integer band test against the float definition. RSI
  * frames and interval coverage are pinned on hand-built series. */
class WindowStatsSpec extends AnyFunSuite {
  lazy val spark = graft.Sessions.local("4", "graft-winstats-test")

  private def eventsDf(rows: Seq[(Long, Long, Long, Double)]) = {
    import spark.implicits._
    rows.map { case (id, ts, uid, v) =>
      (id, new Timestamp(ts), uid, "view", v)
    }.toDF("event_id", "ts", "user_id", "event_type", "value")
  }

  test("rollingMedian: expanding-then-sliding frames, even medians x2") {
    // user 1 values (cents): 100, 300, 200, 900, 400
    val df = eventsDf(Seq(
      (1L, 1000L, 1L, 1.00), (2L, 2000L, 1L, 3.00), (3L, 3000L, 1L, 2.00),
      (4L, 4000L, 1L, 9.00), (5L, 5000L, 1L, 4.00)))
    val got = Windows.rollingMedianOf(df).collect()
      .map(r => r.getAs[Long]("event_id") ->
        (r.getAs[Int]("n"), r.getAs[Long]("med_x2_cents"))).toMap
    // frames: [100]; [100,300]; [100,200,300]; [100,200,300,900]; all 5
    assert(got(1L) === ((1, 200L)))   // median 100 -> x2
    assert(got(2L) === ((2, 400L)))   // (100+300)
    assert(got(3L) === ((3, 400L)))   // 200 -> x2
    assert(got(4L) === ((4, 500L)))   // (200+300)
    assert(got(5L) === ((5, 600L)))   // median of {100,200,300,400,900} = 300
  }

  test("bollinger integer band equals the float |x-mean| > 2*stddev_pop rule") {
    import spark.implicits._
    val rng = new scala.util.Random(11)
    val rows = (1 to 400).map { i =>
      (i.toLong, i.toLong * 1000L, (i % 4).toLong,
        math.round((50.0 + rng.nextGaussian() * 10.0) * 100) / 100.0)
    }
    val df = eventsDf(rows)
    val w = 8
    val got = Windows.bollingerBreakoutsOf(df, w).collect()
      .map(r => (r.getAs[Long]("event_id"), r.getAs[Long]("direction"))).toSet
    // float reference: trailing-w frames per user in (ts, event_id) order
    val expect = rows.groupBy(_._3).flatMap { case (_, es) =>
      val sorted = es.sortBy(e => (e._2, e._1))
      sorted.indices.collect { case i if i >= w - 1 =>
        val fr = sorted.slice(i - w + 1, i + 1).map(e => math.round(e._4 * 100).toDouble)
        val x = fr.last
        val mean = fr.sum / w
        val sd = math.sqrt(fr.map(v => (v - mean) * (v - mean)).sum / w)
        (sorted(i)._1, x, mean, sd)
      }.collect { case (id, x, mean, sd) if math.abs(x - mean) > 2 * sd =>
        (id, if (x > mean) 1L else -1L)
      }
    }.toSet
    assert(got === expect)
    assert(got.nonEmpty) // the differential actually exercised breakouts
  }

  test("bollinger emits nothing for a constant series (zero variance, strict >)") {
    val df = eventsDf((1 to 30).map(i => (i.toLong, i.toLong * 1000L, 1L, 5.00)))
    assert(Windows.bollingerBreakoutsOf(df, 5).count() === 0L)
  }

  test("win_rank_changes: distributed global ranks equal a sequential " +
    "(total desc, user asc) ranking of the query's own per-user totals") {
    val got = Windows.rankChanges(spark, "/root/testdata/sf0.001").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5)))
    assert(got.nonEmpty)
    val byP1 = got.map(t => (t._1, t._2)).sortBy { case (u, c) => (-c, u) }
      .map(_._1).zipWithIndex.toMap
    val byP2 = got.map(t => (t._1, t._3)).sortBy { case (u, c) => (-c, u) }
      .map(_._1).zipWithIndex.toMap
    got.foreach { case (u, _, _, r1, r2, mv) =>
      assert(r1 === byP1(u) + 1L, s"rank_p1 of user $u")
      assert(r2 === byP2(u) + 1L, s"rank_p2 of user $u")
      assert(mv === r1 - r2)
    }
  }

  test("rsiOf: all-gain frame pegs at 1e6 ppm; a loss rebalances exactly") {
    import spark.implicits._
    // 15 rising values (14 gains of 10c) then one 70c drop: the 16th
    // frame holds 13 gains (130c) + 1 loss (70c) -> 650000 ppm
    val vals = (0 to 14).map(i => 1.00 + i * 0.10) :+ (1.00 + 14 * 0.10 - 0.70)
    val df = vals.zipWithIndex.map { case (v, i) =>
      (i.toLong + 1, new java.sql.Timestamp(1000L * (i + 1)), 1L, "view", v)
    }.toDF("event_id", "ts", "user_id", "event_type", "value")
    val got = Windows.rsiOf(df).collect()
      .map(r => r.getAs[Long]("event_id") ->
        (r.getAs[Long]("gains"), r.getAs[Long]("losses"), r.getAs[Long]("rsi_ppm")))
      .toMap
    assert(got.keySet === Set(15L, 16L)) // only full 14-diff frames
    assert(got(15L) === ((140L, 0L, 1000000L)))
    assert(got(16L) === ((130L, 70L, 650000L)))
  }

  test("intervalCoverageOf: overlaps merge, gaps split, zero-length islands count") {
    import spark.implicits._
    // user 1: [0,10] + [5,20] merge (covered 20), [30,35] separate
    // user 2: [0,0] zero-length island + [10,15]
    val iv = Seq(
      (1L, 0L, 10L), (1L, 5L, 20L), (1L, 30L, 35L),
      (2L, 0L, 0L), (2L, 10L, 15L))
      .toDF("user_id", "s", "e")
    val got = Windows.intervalCoverageOf(iv).collect()
      .map(r => r.getAs[Long]("user_id") ->
        (r.getAs[Long]("n_islands"), r.getAs[Long]("covered_us"))).toMap
    assert(got(1L) === ((2L, 25L)))
    assert(got(2L) === ((2L, 5L)))
  }

  test("intervalCoverageOf: touching endpoints merge (start == prior max end)") {
    import spark.implicits._
    val iv = Seq((1L, 0L, 10L), (1L, 10L, 20L)).toDF("user_id", "s", "e")
    val got = Windows.intervalCoverageOf(iv).collect()
    assert(got.length === 1)
    assert(got(0).getAs[Long]("n_islands") === 1L)
    assert(got(0).getAs[Long]("covered_us") === 20L)
  }

  test("cusumChangepointOf: finds the level-shift boundary on a step signal") {
    import spark.implicits._
    // user 1: five 1.00s then five 5.00s — CUSUM |peak| at the last
    // low-level event (t=5); user 2: constant signal — magnitude 0
    val ev = ((1 to 5).map(i => (1L, i.toLong, i.toLong, 100L)) ++
      (6 to 10).map(i => (1L, i.toLong, i.toLong, 500L)) ++
      (1 to 4).map(i => (2L, (10 + i).toLong, i.toLong, 250L)))
      .toDF("user_id", "event_id", "t", "c")
    val got = Windows.cusumChangepointOf(ev)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toList
    // user 1: n=10, S=3000; cusum_k = sum(10*c - 3000): at k=5 it is
    // 5*(1000-3000) = -10000 (the extreme); mag = 10000/10 = 1000
    assert(got === List((1L, 5L, 1000L, 10L), (2L, 1L, 0L, 4L)))
  }

  test("maxConcurrencyOf: overlap peaks and midnight-crossing carry-in") {
    import spark.implicits._
    val us = 1000000L
    val day = 86400L * us
    // day 0: starts at t=0, 10m, 20m (1h intervals) -> peak 3;
    // one more start 30m BEFORE midnight -> its -1 lands in day 1
    // day 1: no starts; carry-in 1 from the straddler, which ends 30m in
    val pts = Seq(0L, 600L * us, 1200L * us, day - 1800L * us).toDF("t")
    val got = Windows.maxConcurrencyOf(pts, 3600L * us)
      .collect().map(r => (r.getDate(0).toString, r.getLong(1), r.getLong(2))).toList
    assert(got === List(("1970-01-01", 3L, 4L), ("1970-01-02", 0L, 0L)))
  }

  test("interpolateLinearOf: interior gaps fill on the straight line between neighbors") {
    import spark.implicits._
    // user 1: observed day1=100c, day4=400c -> day2=200, day3=300
    val daily = Seq(
      (1L, java.sql.Date.valueOf("2024-01-01"), 100L),
      (1L, java.sql.Date.valueOf("2024-01-04"), 400L)
    ).toDF("user_id", "d", "v")
    val got = Windows.interpolateLinearOf(daily)
      .collect().map(r => (r.getDate(1).toString, r.getBoolean(2), r.getLong(3))).toList
    assert(got === List(
      ("2024-01-01", true, 100L), ("2024-01-02", false, 200L),
      ("2024-01-03", false, 300L), ("2024-01-04", true, 400L)))
  }

  test("interpolateLinearOf: declining series floors like the oracle's // (non-negative numerator)") {
    import spark.implicits._
    // 10c down to 3c over 3 days: exact line points 10, 7.667, 5.333, 3
    // -> floor to 7 and 5 (the naive pv + slope*(d-pd) form would
    // truncate toward zero and could disagree; the weighted-sum form
    // keeps the numerator >= 0 so div == //)
    val daily = Seq(
      (7L, java.sql.Date.valueOf("2024-02-01"), 10L),
      (7L, java.sql.Date.valueOf("2024-02-04"), 3L)
    ).toDF("user_id", "d", "v")
    val got = Windows.interpolateLinearOf(daily)
      .collect().map(r => r.getLong(3)).toList
    assert(got === List(10L, 7L, 5L, 3L))
  }

  test("interpolateLinearOf: spine spans [min,max] per user so edges are always observed") {
    import spark.implicits._
    val daily = Seq(
      (1L, java.sql.Date.valueOf("2024-01-01"), 5L),
      (1L, java.sql.Date.valueOf("2024-01-03"), 9L),
      (2L, java.sql.Date.valueOf("2024-03-10"), 2L) // single-day user: one observed row
    ).toDF("user_id", "d", "v")
    val got = Windows.interpolateLinearOf(daily).collect()
      .map(r => (r.getLong(0), r.getDate(1).toString, r.getBoolean(2), r.getLong(3))).toList
    assert(got === List(
      (1L, "2024-01-01", true, 5L), (1L, "2024-01-02", false, 7L),
      (1L, "2024-01-03", true, 9L), (2L, "2024-03-10", true, 2L)))
  }
}
