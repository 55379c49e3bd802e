package graft.operators

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

/** Sequential recomputation of the round-8 profiling aggregates:
  * equi-depth histogram (distributed prefix-sum ranking), chi-squared
  * contingency cells, and dictionary-granular Gini. Each operator's
  * output is checked against a straightforward single-threaded
  * re-derivation from the same parquet — independent of both the Spark
  * plan and the DuckDB oracle. MAD outliers are pinned on hand-checked
  * columns; the bootstrap CI brackets its observed total. */
class ProfilingAggSpec extends AnyFunSuite {
  lazy val spark = graft.Sessions.local("4", "graft-profiling-test")
  private val dir = "/root/testdata/sf0.001"

  test("equi-depth histogram: buckets match a sequential value-granular ranking") {
    val cents = graft.sources.Tables.orders(spark, dir)
      .select(expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("c"))
      .collect().map(_.getLong(0)).sorted
    val n = cents.length.toLong
    val byValue = cents.groupBy(identity).view.mapValues(_.length.toLong).toMap
    val values = byValue.keys.toArray.sorted
    var cum = 0L
    val want = scala.collection.mutable.Map.empty[Long, (Long, Long, Long)]
    values.foreach { v =>
      val b = cum * 16L / n
      val (nr, mn, mx) = want.getOrElse(b, (0L, Long.MaxValue, Long.MinValue))
      want(b) = (nr + byValue(v), math.min(mn, v), math.max(mx, v))
      cum += byValue(v)
    }
    val got = Aggregations.equidepthHist(spark, dir).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(got == want.toMap, s"equi-depth mismatch:\n got  $got\n want $want")
    // depth invariant: every bucket within one value-run of n/16
    val maxRun = byValue.values.max
    got.values.foreach { case (nr, _, _) =>
      assert(nr <= n / 16 + maxRun && nr >= 1, s"bucket depth $nr out of band")
    }
  }

  test("chi2 cells: observed/expected/contribution match a sequential contingency") {
    val seg = graft.sources.Tables.customer(spark, dir)
      .select("c_custkey", "c_mktsegment").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val obs = graft.sources.Tables.orders(spark, dir)
      .select("o_custkey", "o_orderpriority").collect()
      .map(r => (seg(r.getLong(0)), r.getString(1)))
      .groupBy(identity).view.mapValues(_.length.toLong).toMap
    val r = obs.groupBy(_._1._1).view.mapValues(_.values.sum).toMap
    val c = obs.groupBy(_._1._2).view.mapValues(_.values.sum).toMap
    val n = obs.values.sum
    val got = Aggregations.chi2Independence(spark, dir).collect()
    assert(got.length == obs.size)
    got.foreach { row =>
      val (s, p, o) = (row.getString(0), row.getString(1), row.getLong(2))
      assert(o == obs((s, p)))
      assert(row.getLong(3) == r(s) && row.getLong(4) == c(p))
      assert(row.getLong(5) == r(s) * c(p) * 1000000L / n)
      val d = (o * n - r(s) * c(p)).toDouble
      assert(row.getDouble(6) == d * d / (n * r(s) * c(p)).toDouble)
    }
  }

  test("gini: dictionary algebra equals the per-row rank formula, ties included") {
    val rows = graft.sources.Tables.customer(spark, dir)
      .select(col("c_mktsegment"),
        expr("CAST(round(c_acctbal * 100) AS BIGINT)").as("cents"))
      .collect().map(r => (r.getString(0), r.getLong(1)))
    val want = rows.groupBy(_._1).view.mapValues { vs =>
      val x = vs.map(_._2).sorted
      val nn = x.length.toLong
      val s0 = x.sum
      val s1 = x.zipWithIndex.map { case (v, i) => v * (i + 1L) }.sum
      (nn, s0, (2 * s1 - (nn + 1) * s0) * 1000000L / (nn * s0))
    }.toMap
    val got = Aggregations.giniBySegment(spark, dir).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(got == want, s"gini mismatch:\n got  $got\n want $want")
  }

  test("skew audit: planted zipf-ish fixture matches a sequential derivation") {
    import spark.implicits._
    // key 0 → 100 rows, key 1 → 50, keys 2..101 → 1 row each (102 keys)
    val rows = Seq.fill(100)(0L) ++ Seq.fill(50)(1L) ++ (2L to 101L)
    val got = Relational.skewAuditOf(rows.toDF("key")).collect().head
    val sizes = rows.groupBy(identity).values.map(_.length.toLong).toSeq.sorted
    val n = sizes.length.toLong
    val p50 = sizes((((n + 1) / 2) - 1).toInt) // cum*2 >= n ⇒ ceil(n/2)-th
    val p99 = sizes((math.ceil(n * 99 / 100.0).toInt - 1).max(0))
    val t = (n + 99) / 100 // heaviest 1% ⇒ ceil ⇒ 2 keys: 100 + 50
    val topRows = sizes.sorted.reverse.take(t.toInt).sum
    assert(got.getLong(0) == n && got.getLong(1) == rows.length.toLong)
    assert(got.getLong(2) == 100L, "max")
    assert(got.getLong(3) == p50, s"p50 got ${got.getLong(3)} want $p50")
    assert(got.getLong(4) == p99, s"p99 got ${got.getLong(4)} want $p99")
    assert(got.getLong(5) == topRows, s"top1pct got ${got.getLong(5)} want $topRows")
    assert(got.getLong(6) == topRows * 1000000L / rows.length)
    // gini via the per-row rank formula
    val s0 = sizes.sum
    val s1 = sizes.zipWithIndex.map { case (v, i) => v * (i + 1L) }.sum
    assert(got.getLong(7) == (2 * s1 - (n + 1) * s0) * 1000000L / (n * s0))
  }

  test("range search: exact integer boundary equals brute-force cosine filter") {
    val e = graft.sources.Tables.embeddings(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray)
    val q = e.find(_._1 == 0L).get._2.map(x => math.round(x.toDouble * 1000.0))
    val want = e.filter(_._1 != 0L).flatMap { case (id, v) =>
      val p = v.map(x => math.round(x.toDouble * 1000.0))
      val dot = p.zip(q).map { case (a, b) => a * b }.sum
      val na = p.map(x => x * x).sum; val nb = q.map(x => x * x).sum
      if (dot > 0 && dot * dot * 100 >= 4 * na * nb) Some(id) else None
    }.toSet
    val got = Similarity.rangeSearch(spark, dir).collect().map(_.getLong(0)).toSet
    assert(got == want, s"range-set divergence: missing ${want -- got} extra ${got -- want}")
  }

  test("split leakage: pairs are exactly the LSH candidates whose splits differ") {
    val pairs = Dedup.minhashLshPairs(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val leak = Dedup.splitLeakage(spark, dir).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), (r.getString(2), r.getString(3))))
    leak.foreach { case (p, (sa, sb)) =>
      assert(pairs.contains(p), s"$p not an LSH candidate")
      assert(sa != sb, s"$p same-split pair leaked into the audit")
    }
    // completeness: every candidate pair with differing splits is reported
    val assign = graft.sources.Tables.documents(spark, dir)
      .selectExpr("doc_id",
        """CASE WHEN pmod(cast(conv(substring(md5(cast(doc_id as string)), 1, 8), 16, 10) as bigint), 100) < 90 THEN 'train'
           WHEN pmod(cast(conv(substring(md5(cast(doc_id as string)), 1, 8), 16, 10) as bigint), 100) < 95 THEN 'val'
           ELSE 'test' END AS split""")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val wantLeak = pairs.filter { case (a, b) => assign(a) != assign(b) }
    assert(leak.map(_._1).toSet == wantLeak,
      s"leak set mismatch: ${leak.map(_._1).toSet} vs $wantLeak")
  }

  test("madOutliersOf: lower medians and the 5-MAD gate on a hand-checked column") {
    import spark.implicits._
    // segment A: values 1..7 plus one wild 1000 -> n=8, lower median = 4
    // (cum at 4 is 4 >= ceil(8/2)), devs |x-4| = {3,2,1,0,1,2,3,996},
    // sorted 0,1,1,2,2,3,3,996 -> lower MAD = 2; outliers: |x-4| > 10
    // -> only 1000. ppm = 1e6/8 = 125000.
    val v = (Seq(1L, 2L, 3L, 4L, 5L, 6L, 7L, 1000L).map(("A", _)))
      .toDF("segment", "usd")
    val got = Aggregations.madOutliersOf(v).collect().map(r =>
      (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))
    assert(got.toList === List(("A", 8L, 4L, 2L, 1L, 125000L)))
  }

  test("madOutliersOf: even-count ties keep the median value-granular") {
    import spark.implicits._
    // {5,5,9,9}: cum at 5 is 2 >= ceil(4/2)=2 -> median 5 (lower), devs
    // {0,0,4,4} -> MAD 0; gate 5*0 -> every dev>0 row is an outlier
    val v = Seq(("B", 5L), ("B", 5L), ("B", 9L), ("B", 9L)).toDF("segment", "usd")
    val r = Aggregations.madOutliersOf(v).collect().head
    assert((r.getLong(2), r.getLong(3), r.getLong(4)) === ((5L, 0L, 2L)))
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
}
