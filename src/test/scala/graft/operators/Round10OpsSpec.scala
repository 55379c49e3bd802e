package graft.operators

import org.scalatest.funsuite.AnyFunSuite

/** Hand-built cases for the round-10 batch: cross-source duplication
  * matrix, reciprocal best-match join, and tokenizer fertility (checked
  * for consistency against the per-doc token counts it aggregates). */
class Round10OpsSpec extends AnyFunSuite {
  lazy val spark = graft.Sessions.local("4", "graft-round10-test")

  test("crossSourceMatrixOf: keeper by (source, doc_id), reshuffles collide") {
    import spark.implicits._
    // same bag of words in docs 1/2/3 ("a b" reshuffled — order must not
    // matter), kept by srcA (lowest source, lowest id); doc 4 unique.
    val docs = Seq(
      (1L, "a b", "srcB"), (2L, "b a", "srcA"), (3L, "a b a", "srcB"),
      (4L, "c d", "srcA"))
      .toDF("doc_id", "text", "source")
    val got = Dedup.crossSourceMatrixOf(docs).collect()
      .map(r => (r.getAs[String]("source_kept"), r.getAs[String]("source_dup"),
        r.getAs[Long]("n_dropped"))).toSet
    // keeper = (srcA, 2); dropped: doc 1 (srcB), doc 3 (srcB)
    assert(got === Set(("srcA", "srcB", 2L)))
  }

  test("crossSourceMatrixOf: diagonal counts within-source dups") {
    import spark.implicits._
    val docs = Seq(
      (1L, "x y", "s1"), (2L, "y x", "s1"), (3L, "x y", "s2"))
      .toDF("doc_id", "text", "source")
    val got = Dedup.crossSourceMatrixOf(docs).collect()
      .map(r => (r.getAs[String]("source_kept"), r.getAs[String]("source_dup"),
        r.getAs[Long]("n_dropped"))).toSet
    assert(got === Set(("s1", "s1", 1L), ("s1", "s2", 1L)))
  }

  test("mutualBestMatchOfPairs keeps only reciprocal top-1 pairs") {
    import spark.implicits._
    // s1's best is c1 (100) and c1's best is s1 -> kept.
    // s2's best is c1 (90) but c1's best is s1 -> dropped.
    // s3's best is c2 (50); c2's best is s3 -> kept.
    val pair = Seq(
      (1L, 1L, 100L), (2L, 1L, 90L), (2L, 2L, 40L), (3L, 2L, 50L))
      .toDF("s_suppkey", "c_custkey", "rev_units")
    val got = Relational.mutualBestMatchOfPairs(pair).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got === Set((1L, 1L, 100L), (3L, 2L, 50L)))
  }

  test("mutualBestMatchOfPairs breaks revenue ties deterministically (asc key)") {
    import spark.implicits._
    // c1 ties between s1 and s2 at 70: best supplier = s1 (asc). s1's
    // best customer ties between c1 and c2 at 70: best = c1 (asc).
    val pair = Seq((1L, 1L, 70L), (2L, 1L, 70L), (1L, 2L, 70L))
      .toDF("s_suppkey", "c_custkey", "rev_units")
    val got = Relational.mutualBestMatchOfPairs(pair).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got === Set((1L, 1L)))
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

  test("frameDedup buckets: 9-bit range, n_frames >= n_videos >= 2") {
    val rows = Multimodal.frameDedup(spark, "/root/testdata/sf0.001").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val b = r.getAs[Long]("bucket")
      assert(b >= 0L && b < 512L)
      assert(r.getAs[Long]("n_frames") >= r.getAs[Long]("n_videos"))
      assert(r.getAs[Long]("n_videos") >= 2L)
    }
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

  test("bootstrapCi: interval brackets the observed total and is reproducible") {
    val a = Aggregations.bootstrapCi(spark, "/root/testdata/sf0.001").collect()(0)
    val b = Aggregations.bootstrapCi(spark, "/root/testdata/sf0.001").collect()(0)
    assert(a.toSeq === b.toSeq) // md5-indexed draws: bit-identical re-runs
    val (lo, hi, obs) = (a.getAs[Long]("lo_sum_cents"), a.getAs[Long]("hi_sum_cents"),
      a.getAs[Long]("observed_sum_cents"))
    assert(lo <= hi)
    // percentile-bootstrap CIs bracket the point estimate on any
    // non-degenerate sample (the resample distribution is centered on it)
    assert(lo <= obs && obs <= hi)
    assert(a.getAs[Long]("n_resamples") === 200L)
  }

  test("mixRebalance: targets conserve the corpus total; head shrinks, tail grows") {
    val rows = graft.functions.TextAnalysis.mixRebalance(spark, "/root/testdata/sf0.001")
      .collect()
    val total = rows.map(_.getAs[Long]("n_tokens")).sum
    assert(rows.map(_.getAs[Long]("target_tokens")).sum === total) // exact Hamilton
    rows.foreach { r =>
      assert(r.getAs[Long]("keep_ppm") <= 1000000L)
      assert(r.getAs[Long]("kept_tokens") <= r.getAs[Long]("n_tokens"))
    }
    // sqrt flattening: the LARGEST language is cut below its natural
    // share, the SMALLEST keeps everything (target >= current)
    val byTokens = rows.sortBy(_.getAs[Long]("n_tokens"))
    assert(byTokens.last.getAs[Long]("target_tokens") < byTokens.last.getAs[Long]("n_tokens"))
    assert(byTokens.head.getAs[Long]("target_tokens") >= byTokens.head.getAs[Long]("n_tokens"))
  }

  test("fertility cohort sums equal the per-doc tokenCount rollup") {
    val dir = "/root/testdata/sf0.001"
    val viaDoc = graft.functions.TextAnalysis.tokenCount(spark, dir)
      .join(graft.sources.Tables.documents(spark, dir).select("doc_id", "lang", "source"),
        "doc_id")
      .groupBy("lang", "source")
      .agg(org.apache.spark.sql.functions.sum("n_re_tokens").as("re"),
        org.apache.spark.sql.functions.sum("n_chars").as("ch"))
      .collect()
      .map(r => (r.getAs[String]("lang"), r.getAs[String]("source")) ->
        (r.getAs[Long]("re"), r.getAs[Long]("ch"))).toMap
    val got = graft.functions.TextAnalysis.fertility(spark, dir).collect()
    assert(got.nonEmpty)
    got.foreach { r =>
      val k = (r.getAs[String]("lang"), r.getAs[String]("source"))
      assert((r.getAs[Long]("n_re_tokens"), r.getAs[Long]("n_chars")) === viaDoc(k))
      assert(r.getAs[Long]("re_per_100c_ppm") ===
        r.getAs[Long]("n_re_tokens") * 100000000L / r.getAs[Long]("n_chars"))
    }
  }
}
