package graft.operators

import org.scalatest.funsuite.AnyFunSuite
import graft.functions.CorpusOps

/** Hand-built cases for the batch-9 operator additions: max drawdown,
  * seasonal baseline residuals, exact rank-sum AUC and PMI co-occurrence
  * lift (the batch's similarity operators are pinned in
  * [[SimilarityRecallSpec]]).
  * The DuckDB oracle gate proves each on the synthetic corpus; these pin
  * the core rules on inputs small enough to check by hand. */
class Round9OpsSpec extends AnyFunSuite {
  lazy val spark = graft.Sessions.local("4", "graft-round9-test")

  private def ts(s: String) = java.sql.Timestamp.valueOf(s)

  private def eventsDf(rows: Seq[(Long, String, Long, String, Double)]) = {
    import spark.implicits._
    rows.map { case (eid, t, uid, typ, v) => (eid, ts(t), uid, typ, v) }
      .toDF("event_id", "ts", "user_id", "event_type", "value")
  }

  test("maxDrawdownOf: peak-to-trough fall on a hand ledger") {
    // user 1: +1000 (purchase), -300 (error), -300 (error), +100 (signup)
    // balance: 1000, 700, 400, 500 -> peak 1000, max drawdown 600
    val df = eventsDf(Seq(
      (1L, "2024-01-01 00:00:00", 1L, "purchase", 10.00),
      (2L, "2024-01-01 01:00:00", 1L, "error", 3.00),
      (3L, "2024-01-01 02:00:00", 1L, "error", 3.00),
      (4L, "2024-01-01 03:00:00", 1L, "signup", 1.00)))
    val r = Windows.maxDrawdownOf(df).collect()
    assert(r.length === 1)
    assert(r(0).getAs[Long]("max_peak_cents") === 1000L)
    assert(r(0).getAs[Long]("max_drawdown_cents") === 600L)
    assert(r(0).getAs[Long]("final_cents") === 500L)
  }

  test("maxDrawdownOf: views are neutral and a rising curve has zero drawdown") {
    val df = eventsDf(Seq(
      (1L, "2024-01-01 00:00:00", 2L, "purchase", 5.00),
      (2L, "2024-01-01 01:00:00", 2L, "view", 99.99), // neutral
      (3L, "2024-01-01 02:00:00", 2L, "purchase", 5.00)))
    val r = Windows.maxDrawdownOf(df).collect()
    assert(r(0).getAs[Long]("max_drawdown_cents") === 0L)
    assert(r(0).getAs[Long]("final_cents") === 1000L)
  }

  test("maxDrawdownOf: drawdown measures from the running peak, not the start") {
    // balance path: -200 (error), +1000, -500: peak 800, trough 300 -> dd 500
    // (a from-start measure would report 200)
    val df = eventsDf(Seq(
      (1L, "2024-01-01 00:00:00", 3L, "error", 2.00),
      (2L, "2024-01-01 01:00:00", 3L, "purchase", 10.00),
      (3L, "2024-01-01 02:00:00", 3L, "error", 5.00)))
    val r = Windows.maxDrawdownOf(df).collect()
    assert(r(0).getAs[Long]("max_drawdown_cents") === 500L)
    assert(r(0).getAs[Long]("max_peak_cents") === 800L)
  }

  test("seasonalBaselineOf: residual is slot minus floored same-hour mean") {
    // hour 5 on three days: 100, 200, 400 cents -> baseline (700 div 3)=233
    val df = eventsDf(Seq(
      (1L, "2024-01-01 05:00:00", 1L, "view", 1.00),
      (2L, "2024-01-02 05:00:00", 1L, "view", 2.00),
      (3L, "2024-01-03 05:00:00", 1L, "view", 4.00)))
    val r = Windows.seasonalBaselineOf(df).collect()
    assert(r.forall(_.getAs[Long]("baseline_cents") === 233L))
    val res = r.map(x => (x.getAs[java.sql.Date]("d").toString,
      x.getAs[Long]("residual_cents"))).toMap
    assert(res === Map("2024-01-01" -> -133L, "2024-01-02" -> -33L,
      "2024-01-03" -> 167L))
  }

  test("seasonalBaselineOf: hours are independent baselines") {
    val df = eventsDf(Seq(
      (1L, "2024-01-01 05:00:00", 1L, "view", 1.00),
      (2L, "2024-01-01 06:00:00", 1L, "view", 9.00)))
    val r = Windows.seasonalBaselineOf(df).collect()
    // each hour's single slot IS its baseline -> residual 0 for both
    assert(r.forall(_.getAs[Long]("residual_cents") === 0L))
  }

  private def docsDf(rows: Seq[(Long, String, String, String, Long)]) = {
    import spark.implicits._
    rows.toDF("doc_id", "text", "lang", "source", "n_chars")
  }

  test("aucRankOf: perfect separation gives AUC 1, reversed gives 0") {
    // en docs strictly longer than others -> AUC = 1.0 (1e6 ppm)
    val perfect = docsDf(Seq(
      (1L, "a", "en", "web", 100L), (2L, "a", "en", "web", 90L),
      (3L, "a", "fr", "web", 10L), (4L, "a", "de", "web", 20L)))
    val p = Aggregations.aucRankOf(perfect).collect()
      .map(r => r.getString(0) -> r.getAs[Long]("auc_ppm")).toMap
    assert(p("ALL") === 1000000L && p("web") === 1000000L)
    val reversed = docsDf(Seq(
      (1L, "a", "en", "web", 5L), (2L, "a", "fr", "web", 50L)))
    val q = Aggregations.aucRankOf(reversed).collect()
      .map(r => r.getString(0) -> r.getAs[Long]("auc_ppm")).toMap
    assert(q("ALL") === 0L)
  }

  test("aucRankOf: ties contribute half — all-equal scores give AUC 1/2") {
    val tied = docsDf(Seq(
      (1L, "a", "en", "web", 42L), (2L, "a", "fr", "web", 42L),
      (3L, "a", "en", "web", 42L), (4L, "a", "de", "web", 42L)))
    val t = Aggregations.aucRankOf(tied).collect()
      .map(r => r.getString(0) -> r.getAs[Long]("auc_ppm")).toMap
    assert(t("ALL") === 500000L)
  }

  test("aucRankOf: single-class groups emit NULL auc rather than divide") {
    val oneClass = docsDf(Seq(
      (1L, "a", "en", "web", 1L), (2L, "a", "en", "web", 2L)))
    val r = Aggregations.aucRankOf(oneClass).collect()
    assert(r.forall(_.isNullAt(3)))
  }

  test("pmiCooccurOf: always-together pair lifts above independents") {
    // 'x y' always co-occur (4 docs); 'p q' co-occur once in 4
    val docs = docsDf(Seq(
      (1L, "x y p", "en", "w", 0L), (2L, "x y q", "en", "w", 0L),
      (3L, "x y p q", "en", "w", 0L), (4L, "x y", "en", "w", 0L)))
    val r = CorpusOps.pmiCooccurOf(docs, vocabK = 10, k = 10).collect()
    val lift = r.map(x => ((x.getString(0), x.getString(1)),
      x.getAs[Long]("lift_ppm"))).toMap
    // x,y: 4*4*1e6/(4*4) = 1e6 (independence at saturation)
    assert(lift(("x", "y")) === 1000000L)
    // p,q: n_ab=1, n_p=2, n_q=2 -> 1*4*1e6/4 = 1e6; x,p: 2*4/(4*2)=1e6... use
    // a rarer pair: p appears in docs 1,3; q in 2,3; together only doc 3
    assert(lift(("p", "q")) === 1000000L)
    // all pairs here sit at independence; ordering falls to the tie-break
    assert(r.map(_.getAs[Long]("lift_ppm")).forall(_ === 1000000L))
  }

  test("pmiCooccurOf: a genuinely associated pair outranks independence") {
    // 'a b' always together (3 docs of 6); 'c' spread independently
    val docs = docsDf(Seq(
      (1L, "a b", "en", "w", 0L), (2L, "a b c", "en", "w", 0L),
      (3L, "a b", "en", "w", 0L), (4L, "c d", "en", "w", 0L),
      (5L, "d e", "en", "w", 0L), (6L, "c e", "en", "w", 0L)))
    val r = CorpusOps.pmiCooccurOf(docs, vocabK = 10, k = 10).collect()
    val byPair = r.map(x => ((x.getString(0), x.getString(1)),
      x.getAs[Long]("lift_ppm"))).toMap
    // a,b: 3*6e6/(3*3) = 2e6 — twice independence; tops the ranking
    assert(byPair(("a", "b")) === 2000000L)
    assert(r.head.getString(0) === "a" && r.head.getString(1) === "b")
  }

  test("ksTestOf: disjoint supports give D=1e6 at the lower sample's max") {
    // purchases at 1.00/2.00, clicks at 5.00/6.00 -> full separation;
    // sup attained first at cents=200 (all purchases seen, no clicks)
    val df = eventsDf(Seq(
      (1L, "2024-01-01 00:00:00", 1L, "purchase", 1.00),
      (2L, "2024-01-01 01:00:00", 1L, "purchase", 2.00),
      (3L, "2024-01-01 02:00:00", 2L, "click", 5.00),
      (4L, "2024-01-01 03:00:00", 2L, "click", 6.00)))
    val r = Aggregations.ksTestOf(df).collect()
    assert(r.length === 1)
    assert(r(0).getAs[Long]("d_ppm") === 1000000L)
    assert(r(0).getAs[Long]("at_cents") === 200L)
  }

  test("ksTestOf: identical distributions give D=0") {
    val df = eventsDf(Seq(
      (1L, "2024-01-01 00:00:00", 1L, "purchase", 3.00),
      (2L, "2024-01-01 01:00:00", 1L, "click", 3.00),
      (3L, "2024-01-01 02:00:00", 2L, "purchase", 7.00),
      (4L, "2024-01-01 03:00:00", 2L, "click", 7.00)))
    val r = Aggregations.ksTestOf(df).collect()
    assert(r(0).getAs[Long]("d_ppm") === 0L)
  }

  test("ksTestOf: other event types are excluded from both samples") {
    val df = eventsDf(Seq(
      (1L, "2024-01-01 00:00:00", 1L, "purchase", 1.00),
      (2L, "2024-01-01 01:00:00", 1L, "click", 1.00),
      (3L, "2024-01-01 02:00:00", 2L, "view", 999.00))) // ignored
    val r = Aggregations.ksTestOf(df).collect()
    assert(r(0).getAs[Long]("n_purchase") === 1L)
    assert(r(0).getAs[Long]("n_click") === 1L)
    assert(r(0).getAs[Long]("d_ppm") === 0L)
  }

  test("cohensKappa on testdata: bounded by po and consistent with its parts") {
    val r = graft.functions.TextAnalysis.cohensKappa(spark, "/root/testdata/sf0.001")
      .collect()
    assert(r.length === 1)
    val (n, agree) = (r(0).getAs[Long]("n_docs"), r(0).getAs[Long]("n_agree"))
    val (po, pe, k) = (r(0).getAs[Long]("po_ppm"), r(0).getAs[Long]("pe_ppm"),
      r(0).getAs[Long]("kappa_ppm"))
    assert(n > 0 && agree <= n)
    assert(po === agree * 1000000L / n)
    // kappa <= po (chance correction can only subtract) and >= -1e6
    assert(k <= po && k >= -1000000L)
    assert(pe >= 0L && pe <= 1000000L)
  }

  test("autocorrDailyOf: alternating series gives r=-1 at lag 1 and r=+1 at lag 2") {
    // one event per day, values 1,2,1,2,1,2: lag-1 pairs are perfectly
    // anti-linear (y = 3 - x), lag-2 pairs identical (y = x)
    val df = eventsDf((1 to 6).map(i =>
      (i.toLong, f"2024-01-0$i 12:00:00", 1L, "view",
        if (i % 2 == 1) 1.00 else 2.00)))
    val r = Windows.autocorrDailyOf(df).collect()
      .map(x => x.getAs[Long]("lag") -> x.getAs[Double]("autocorr")).toMap
    assert(math.abs(r(1L) - (-1.0)) < 1e-9)
    assert(math.abs(r(2L) - 1.0) < 1e-9)
  }

  test("autocorrDailyOf: constant series drops out (zero variance, no NaN rows)") {
    val df = eventsDf((1 to 5).map(i =>
      (i.toLong, f"2024-01-0$i 12:00:00", 1L, "view", 7.00)))
    assert(Windows.autocorrDailyOf(df).collect().isEmpty)
  }

  test("epochShuffle: epochs conserve totals but recompose batches") {
    val r = graft.functions.TextAnalysis.epochShuffle(spark, "/root/testdata/sf0.001")
      .collect()
    val byEpoch = r.groupBy(_.getAs[Long]("epoch"))
    assert(byEpoch.keySet === Set(0L, 1L))
    // totals identical per epoch (same corpus, different arrangement)
    val totals = byEpoch.view.mapValues(_.map(_.getAs[Long]("n_docs")).sum).toMap
    assert(totals(0L) === totals(1L))
    // at least one batch has a different size or id-range across epochs
    def key(e: Long) = byEpoch(e).map(x => (x.getAs[Long]("batch"),
      x.getAs[Long]("n_docs"), x.getAs[Long]("min_doc"), x.getAs[Long]("max_doc"))).toSet
    assert(key(0L) !== key(1L), "epoch 1 produced the identical batch composition")
  }

  test("timeToConvertOf: exact dictionary percentiles on 1..10 second latencies") {
    // 10 users, user i views at t0 and purchases i seconds later
    val rows = (1 to 10).flatMap { i =>
      Seq((i * 2L, "2024-01-01 00:00:00", i.toLong, "view", 1.0),
        (i * 2 + 1L, s"2024-01-01 00:00:${"%02d".format(i)}", i.toLong, "purchase", 1.0))
    }
    val r = Windows.timeToConvertOf(eventsDf(rows)).collect()
    assert(r.length === 1)
    assert(r(0).getAs[Long]("n_converted") === 10L)
    assert(r(0).getAs[Long]("p50_s") === 5L)  // cum>=ceil(10*0.5)=5 -> lat 5
    assert(r(0).getAs[Long]("p90_s") === 9L)
    assert(r(0).getAs[Long]("max_s") === 10L)
  }

  test("timeToConvertOf: purchases at-or-before the first view never convert") {
    val df = eventsDf(Seq(
      (1L, "2024-01-01 05:00:00", 1L, "purchase", 1.0), // before first view
      (2L, "2024-01-01 06:00:00", 1L, "view", 1.0),
      (3L, "2024-01-02 00:00:00", 2L, "view", 1.0),
      (4L, "2024-01-02 00:00:30", 2L, "purchase", 1.0)))
    val r = Windows.timeToConvertOf(df).collect()
    assert(r(0).getAs[Long]("n_converted") === 1L)
    assert(r(0).getAs[Long]("max_s") === 30L)
  }

  test("audienceOverlapOf: exact Jaccard on a hand overlap") {
    // u1 {click,view}, u2 {view}, u3 {click,view}: both=2, union=3
    val df = eventsDf(Seq(
      (1L, "2024-01-01 00:00:00", 1L, "click", 1.0),
      (2L, "2024-01-01 00:01:00", 1L, "view", 1.0),
      (3L, "2024-01-01 00:02:00", 2L, "view", 1.0),
      (4L, "2024-01-01 00:03:00", 3L, "click", 1.0),
      (5L, "2024-01-01 00:04:00", 3L, "view", 1.0),
      (6L, "2024-01-01 00:05:00", 3L, "view", 1.0))) // dup event, same set
    val r = Aggregations.audienceOverlapOf(df).collect()
    assert(r.length === 1)
    assert(r(0).getAs[String]("type_a") === "click")
    assert(r(0).getAs[String]("type_b") === "view")
    assert(r(0).getAs[Long]("n_both") === 2L)
    assert(r(0).getAs[Long]("n_a") === 2L && r(0).getAs[Long]("n_b") === 3L)
    assert(r(0).getAs[Long]("jaccard_ppm") === 2000000L / 3L)
  }

  test("targetEncode on testdata: shrinkage lands between raw and global mean") {
    val rows = Aggregations.targetEncode(spark, "/root/testdata/sf0.001").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (raw, g, enc) = (r.getAs[Long]("raw_mean_cents"),
        r.getAs[Long]("g_mean_cents"), r.getAs[Long]("encoded_cents"))
      // encoded is a convex mix of raw and global (±1 cent floor slack)
      assert(enc >= math.min(raw, g) - 1 && enc <= math.max(raw, g) + 1,
        s"enc $enc outside [$raw, $g]")
      assert(math.abs(enc - g) <= math.abs(raw - g) + 1)
    }
  }

  test("pairCurationOf: dispositions partition the pairs; short text fails first") {
    import spark.implicits._
    // doc 10/11: identical long good text (sha dup candidates);
    // doc 12: 3 tokens -> text_fail regardless of its image hash
    val good = (1 to 20).map(i => s"tok$i").mkString(" ")
    val docs = Seq(
      (10L, good, "en", "w", 0L), (11L, good, "en", "w", 0L),
      (12L, "too short text", "en", "w", 0L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val r = Multimodal.pairCurationOf(docs).collect()
    assert(r.length === 1)
    val row = r(0)
    val parts = Seq("n_text_fail", "n_image_fail", "n_dup", "n_kept")
      .map(row.getAs[Long](_))
    assert(parts.sum === row.getAs[Long]("n_pairs") && row.getAs[Long]("n_pairs") === 3L)
    assert(row.getAs[Long]("n_text_fail") === 1L)
    // the twin good docs land together: both pass image (then 1 kept +
    // 1 dup) or both fail it (2 image_fail) — never split
    assert((row.getAs[Long]("n_kept") === 1L && row.getAs[Long]("n_dup") === 1L)
      || row.getAs[Long]("n_image_fail") === 2L)
  }

  test("survivalCurveOf: step decay at the observed spans") {
    // spans: u1 = 0 days, u2 = 5 days, u3 = 14 days
    val df = eventsDf(Seq(
      (1L, "2024-01-01 00:00:00", 1L, "view", 1.0),
      (2L, "2024-01-01 00:00:00", 2L, "view", 1.0),
      (3L, "2024-01-06 00:00:00", 2L, "view", 1.0),
      (4L, "2024-01-01 00:00:00", 3L, "view", 1.0),
      (5L, "2024-01-15 00:00:00", 3L, "view", 1.0)))
    val r = Windows.survivalCurveOf(df).collect()
      .map(x => x.getAs[Long]("k") -> x.getAs[Long]("n_surviving")).toMap
    assert(r(0L) === 3L)
    assert((1L to 5L).forall(r(_) === 2L))
    assert((6L to 14L).forall(r(_) === 1L))
  }

  test("winsorizeOf: one outlier moves the raw mean, not the winsorized one") {
    import spark.implicits._
    val vals = ((1L to 99L) :+ 10000L).toDF("cents")
    val r = Aggregations.winsorizeOf(vals).collect()
    assert(r.length === 1)
    assert(r(0).getAs[Long]("p01_cents") === 1L)
    assert(r(0).getAs[Long]("p99_cents") === 99L)
    assert(r(0).getAs[Long]("mean_cents") === 149L)       // (4950+10000)/100
    assert(r(0).getAs[Long]("winsorized_mean_cents") === 50L) // (4950+99)/100
  }

  test("pathTopKOf: prefix order and full-history conversion") {
    val df = eventsDf(Seq(
      (1L, "2024-01-01 00:00:00", 1L, "view", 1.0),
      (2L, "2024-01-01 00:01:00", 1L, "click", 1.0),
      (3L, "2024-01-01 00:00:00", 2L, "view", 1.0),
      (4L, "2024-01-01 00:01:00", 2L, "click", 1.0),
      (5L, "2024-01-01 00:00:00", 3L, "view", 1.0),
      (6L, "2024-01-01 00:01:00", 3L, "purchase", 1.0)))
    val r = Windows.pathTopKOf(df).collect()
      .map(x => x.getAs[String]("path") ->
        (x.getAs[Long]("n_users"), x.getAs[Long]("n_converted"))).toMap
    assert(r("view>click") === ((2L, 0L)))
    assert(r("view>purchase") === ((1L, 1L)))
  }

  test("pathTopKOf: prefix truncates at 6 but conversion still sees event 7") {
    val rows = (1 to 7).map(i =>
      (i.toLong, s"2024-01-01 00:0$i:00", 1L, if (i == 7) "purchase" else "view", 1.0))
    val r = Windows.pathTopKOf(eventsDf(rows)).collect()
    assert(r.length === 1)
    assert(r(0).getAs[String]("path") === Seq.fill(6)("view").mkString(">"))
    assert(r(0).getAs[Long]("n_converted") === 1L) // purchase was event 7
  }

  test("peakDetectionOf: strict interior maxima only") {
    // daily totals 100, 300, 200, 200: day 2 is the only peak (day 3
    // fails the strict > next test against day 4's equal value? no -
    // 200 > 200 is false, and day 4 is a boundary)
    val df = eventsDf(Seq(
      (1L, "2024-01-01 12:00:00", 1L, "view", 1.00),
      (2L, "2024-01-02 12:00:00", 1L, "view", 3.00),
      (3L, "2024-01-03 12:00:00", 1L, "view", 2.00),
      (4L, "2024-01-04 12:00:00", 1L, "view", 2.00)))
    val r = Windows.peakDetectionOf(df).collect()
    assert(r.length === 1)
    assert(r(0).getAs[java.sql.Date]("d").toString === "2024-01-02")
    assert(r(0).getAs[Long]("peak_cents") === 300L)
    assert(r(0).getAs[Long]("prev_cents") === 100L)
    assert(r(0).getAs[Long]("next_cents") === 200L)
  }

  test("allocBudget on testdata: allocations sum exactly to the budget") {
    val rows = Aggregations.allocBudget(spark, "/root/testdata/sf0.001").collect()
    assert(rows.map(_.getAs[Long]("alloc_units")).sum === 1000000L)
    rows.foreach { r =>
      val d = r.getAs[Long]("alloc_units") - r.getAs[Long]("fl")
      assert(d === 0L || d === 1L)
    }
  }

  test("heldoutPpl on testdata: train scores above heldout under its own model") {
    val r = graft.functions.CorpusOps.heldoutPpl(spark, "/root/testdata/sf0.01")
      .collect().map(x => x.getAs[String]("split") -> x.getAs[Long]("mean_ppm")).toMap
    assert(r.keySet === Set("train", "val", "test"))
    // the model memorizes its own split: train mean must be the max
    assert(r("train") >= r("val") && r("train") >= r("test"),
      s"train ${r("train")} should dominate heldout ${r("val")}/${r("test")}")
  }

}
