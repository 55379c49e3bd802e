package graft.operators

import java.sql.Timestamp
import org.scalatest.funsuite.AnyFunSuite

/** Rolling median (exact, holistic frame) and Bollinger breakouts (pure
  * BIGINT band predicate): hand-computed frames plus a differential
  * check of the integer band test against the float definition. */
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
}
