package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Hand-built cases for the round-8 operator additions: the compaction
  * planner's offset-range packing, CCNet perplexity bucketing and the
  * event-stream operators (the graph cases live in [[GraphMiningSpec]]).
  * The DuckDB oracle gate proves each on the synthetic corpus; these pin
  * the core rules on inventories small enough to check by hand. */
class Round8OpsSpec extends AnyFunSuite {
  lazy val spark = graft.Sessions.local("4", "graft-round8-test")

  test("planFiles: offset-range packing is contiguous and bins sum to the inventory") {
    import spark.implicits._
    // 6 files of 300 bytes, target 500: offsets 0,300,...,1500 -> bins 0,0,1,1,2,3
    val files = (1 to 6).map(i => (java.sql.Date.valueOf(f"2024-01-$i%02d"), 300L))
      .toDF("day", "bytes")
    val got = Maintenance.planFiles(files, 500L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got.toSeq === Seq((0L, 2L, 600L), (1L, 2L, 600L), (2L, 1L, 300L), (3L, 1L, 300L)))
  }

  test("planFiles: an oversized file gets its own bin and shifts the next boundary") {
    import spark.implicits._
    val files = Seq(
      (java.sql.Date.valueOf("2024-01-01"), 1200L), // bin 0 alone (overshoots target)
      (java.sql.Date.valueOf("2024-01-02"), 100L),  // cum_prev 1200 -> bin 2
      (java.sql.Date.valueOf("2024-01-03"), 100L)   // cum_prev 1300 -> bin 2
    ).toDF("day", "bytes")
    val got = Maintenance.planFiles(files, 500L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got === Seq((0L, 1L, 1200L), (2L, 2L, 200L)))
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

  test("pplBucketsOf: per-lang thirds with the typical docs in the head bucket") {
    import spark.implicits._
    // one language, six docs. Docs 4-6: every bigram is its first
    // word's ONLY continuation -> MLE ppm 10^6, maximally typical =
    // head. Docs 1-3 share structure but their (beta, alpha) back-
    // transition is the rarer of beta's two continuations -> lower
    // mean ppm = tail.
    val docs = Seq(
      (1L, "alpha beta alpha beta", "en", "s", 0L),
      (2L, "alpha beta alpha beta", "en", "s", 0L),
      (3L, "alpha beta alpha beta", "en", "s", 0L),
      (4L, "gamma delta epsilon zeta", "en", "s", 0L),
      (5L, "eta theta iota kappa", "en", "s", 0L),
      (6L, "lam mu nu xi", "en", "s", 0L)
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
    val got = graft.functions.CorpusOps.pplBucketsOf(docs)
      .collect().map(r => (r.getInt(1), r.getLong(2))).toMap
    assert(got === Map(1 -> 2L, 2 -> 2L, 3 -> 2L)) // ntile(3) of 6 docs: 2/2/2
    val buckets = graft.functions.CorpusOps.pplBucketsOf(docs)
      .collect().map(r => (r.getInt(1), r.getLong(5))).toMap // bucket -> max_ppm
    // head bucket's scores dominate the tail bucket's
    assert(buckets(1) > buckets(3))
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

  test("abSignificanceOf: chi-squared x100 matches the closed form on a hand table") {
    import spark.implicits._
    // 4 users: even ids 2,4 (variant A) first-purchase yes/no; odd ids
    // 1,3 (B) both purchase-first. Table a=1 b=1 c=2 d=0 ->
    // chi2 = 4*(1*0-1*2)^2/(2*2*3*1) = 16/12 = 1.3333 -> x100 floor 133
    val ev = Seq(
      // (event_id, ts_ns, user_id, event_type): first event decides
      (1L, 1000L, 2L, "purchase"), (2L, 2000L, 2L, "view"),
      (3L, 1000L, 4L, "view"), (4L, 2000L, 4L, "purchase"),
      (5L, 1000L, 1L, "purchase"), (6L, 1000L, 3L, "purchase")
    ).toDF("event_id", "ts_ns", "user_id", "event_type")
    val r = Aggregations.abSignificanceOf(ev).collect().head
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)) === ((2L, 1L, 2L, 2L)))
    assert(r.getLong(6) === 133L && !r.getBoolean(7))
  }

  test("abSignificanceOf: equal-timestamp first events tie-break on event_id") {
    import spark.implicits._
    // user 2: two events at the same micro instant; event_id 1 wins ->
    // converted. A one-sided table (users_b = 0) must not divide by zero.
    val ev = Seq(
      (1L, 5000L, 2L, "purchase"), (2L, 5000L, 2L, "view")
    ).toDF("event_id", "ts_ns", "user_id", "event_type")
    val r = Aggregations.abSignificanceOf(ev).collect().head
    assert((r.getLong(0), r.getLong(1), r.getLong(6)) === ((1L, 1L, 0L)))
  }

  test("blocklistFilter: ppm gate and distinct-term accounting on crafted docs") {
    // via the public entry over a temp parquet dir with a crafted table
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("blk").toString
    Seq(
      (1L, "slow slow big join scan merge filter row batch line", "en", "s1", 10L),
      (2L, "join scan merge filter row batch line key agg value", "en", "s1", 10L)
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = graft.functions.TextAnalysis.blocklistFilter(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(3), r.getLong(4), r.getString(6))).toList
    // doc 1: 3 hits of 10 tokens = 300000 ppm (> 60000) over 2 distinct
    // terms -> drop; doc 2: clean -> keep
    assert(got === List((1L, 3L, 2L, "drop"), (2L, 0L, 0L, "keep")))
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
