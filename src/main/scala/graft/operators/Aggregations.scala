package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.Tables
import graft.functions.Det._

/** Grouped / global aggregations — SURVEY.md §2.4 generalized to the star
  * schema. Every aggregate is expressible as partial+final combine
  * (map-side partial aggregation), so each query is one shuffle on its
  * group key at any scale. Sums over doubles go through [[graft.functions.Det]]
  * for order-independent (and cross-engine reproducible) results.
  */
object Aggregations {

  /** O-28/O-29 mean/sum block (analyze_insta_enhanced.py:444-452) in its
    * classic relational form: TPC-H Q1-style pricing summary. */
  def pricingSummary(spark: SparkSession, dir: String): DataFrame = {
    val hi = java.time.LocalDateTime.of(1998, 9, 2, 0, 0)
    val li = Tables.lineitem(spark, dir).filter(col("l_shipdate") <= lit(hi))
    li.groupBy("l_returnflag", "l_linestatus")
      .agg(
        dsum(col("l_quantity")).as("sum_qty"),
        dsum(col("l_extendedprice")).as("sum_base_price"),
        dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount")), 6).as("sum_disc_price"),
        dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount")) * (lit(1.0) + col("l_tax")), 6).as("sum_charge"),
        davg(col("l_quantity")).as("avg_qty"),
        davg(col("l_extendedprice")).as("avg_price"),
        davg(col("l_discount"), 2).as("avg_disc"),
        count(lit(1)).as("count_order"))
      .orderBy("l_returnflag", "l_linestatus")
  }

  /** O-28/O-29 per-entity means + engagement-rate-style ratio
    * (analyze_insta_enhanced.py:444-452). */
  def customerValue(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
    val c = Tables.customer(spark, dir).select("c_custkey", "c_name")
    o.groupBy("o_custkey")
      .agg(count(lit(1)).as("n_orders"),
           dsum(col("o_totalprice")).as("sum_spent"),
           davg(col("o_totalprice")).as("avg_order_value"))
      .join(c, col("o_custkey") === col("c_custkey"))
      .select(col("c_custkey"), col("c_name"), col("n_orders"),
              col("sum_spent"), col("avg_order_value"))
      .orderBy("c_custkey")
  }

  /** O-30 consistency score (analyze_insta_enhanced.py:432-458):
    * `max(0, 100 − stdev/max(mean, 0.1) × 100)` with sample stddev,
    * computed from exact decimal sums for cross-engine determinism. */
  def consistencyScore(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .groupBy("o_custkey")
      .agg(count(lit(1)).as("n_orders"),
           davg(col("o_totalprice")).as("mean_price"),
           dstddevSamp(col("o_totalprice")).as("sd_price"))
      .filter(col("n_orders") >= 2)
      .withColumn("consistency_score",
        greatest(lit(0.0), lit(100.0) - col("sd_price") / greatest(col("mean_price"), lit(0.1)) * lit(100.0)))
      .orderBy("o_custkey")

  /** O-31 viral count (analyze_insta_enhanced.py:460-462): rows scoring
    * above 2× their group mean, via a window mean (one shuffle, no
    * self-join). */
  def viralOrdersCount(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("o_custkey")
    Tables.orders(spark, dir)
      .withColumn("cust_mean",
        sum(col("o_totalprice").cast(org.apache.spark.sql.types.DecimalType(18, 2))).over(w).cast("double")
          / count(lit(1)).over(w))
      .groupBy("o_custkey")
      .agg(count(lit(1)).as("n_orders"),
           count(when(col("o_totalprice") > lit(2.0) * col("cust_mean"), 1)).as("viral_orders"))
      .orderBy("o_custkey")
  }

  /** O-39 sponsored-vs-organic split (analyze_insta_enhanced.py:575-657):
    * binary classification + per-class conditional means + ratio. */
  def conditionalSplitEngagement(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
    val dec = org.apache.spark.sql.types.DecimalType(18, 2)
    val isSponsored = col("event_type") === "purchase" || col("value") > 150.0
    e.groupBy("user_id")
      .agg(
        count(when(isSponsored, 1)).as("n_sponsored"),
        count(when(!isSponsored, 1)).as("n_organic"),
        (sum(when(isSponsored, col("value").cast(dec))).cast("double")
          / count(when(isSponsored, 1))).as("avg_sponsored"),
        (sum(when(!isSponsored, col("value").cast(dec))).cast("double")
          / count(when(!isSponsored, 1))).as("avg_organic"))
      .withColumn("sponsored_vs_organic_ratio",
        col("avg_sponsored") / nullif(col("avg_organic"), lit(0.0)))
      .orderBy("user_id")
  }

  /** O-44/O-45 global one-row summary stats (jsontocsv_enhanced.py:323-340,
    * insta_scraper_enhanced.py:554-604). */
  def globalSummaryStats(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .agg(
        count(lit(1)).as("total_events"),
        countDistinct(col("user_id")).as("n_users"),
        countDistinct(when(col("event_type") === "purchase", col("user_id"))).as("n_purchasers"),
        count(when(col("event_type") === "error", 1)).as("n_errors"))
      .withColumn("pct_purchasers",
        col("n_purchasers") * lit(100.0) / col("n_users"))

  /** O-43 posting-hour histogram (analyze_insta_enhanced.py:221-237),
    * global flavor: events per hour-of-day. */
  def histogramHours(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(hour(col("ts")).as("h"))
      .agg(count(lit(1)).as("n"))
      .orderBy("h")

  /** O-40/O-41 capped-contribution scoring ladder
    * (analyze_insta_enhanced.py:672-679, 283-303): per-entity score from
    * min-capped indicator contributions, indicator list, authenticity
    * complement and a quality label ladder. */
  def scoringLadder(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
    o.groupBy("o_custkey")
      .agg(count(lit(1)).as("n_orders"),
           davg(col("o_totalprice")).as("avg_price"),
           max(col("o_totalprice")).as("max_price"))
      .withColumn("i_low_avg", col("avg_price") < 50000.0)
      .withColumn("i_big_single", col("max_price") > 400000.0)
      .withColumn("score",
        least(col("n_orders") * 10, lit(40L)) +
          when(col("i_low_avg"), 25L).otherwise(0L) +
          when(col("i_big_single"), 20L).otherwise(0L))
      .withColumn("indicators", concat_ws(" | ",
        when(col("i_low_avg"), lit("Low average order value")),
        when(col("i_big_single"), lit("Single outsized order"))))
      .withColumn("authenticity", greatest(lit(0L), lit(100L) - col("score")))
      .withColumn("quality",
        when(col("score") > 50, lit("Poor"))
          .when(col("score") > 25, lit("Moderate"))
          .otherwise(lit("Good")))
      .select("o_custkey", "n_orders", "score", "indicators", "authenticity", "quality")
      .orderBy("o_custkey")
  }

  /** Sketch-based distinct counting — the 100 TB path for the exact
    * `countDistinct`s in O-42/O-44 (travel_frequency, platform stats):
    * HLL++ partial sketches merge associatively, so the count costs one
    * map-side pass + tiny sketch shuffle instead of a full distinct
    * shuffle. Spark-only (sketch differs from DuckDB's); accuracy is
    * asserted against the exact count in `ApproxDistinctSpec`. */
  def approxDistinct(spark: SparkSession, dir: String): DataFrame =
    // one distinct-pairs aggregation feeds BOTH counts: the HLL sketch is
    // duplicate-insensitive, so pre-distincting changes nothing in its
    // estimate while avoiding the Expand(×2) + double shuffle that
    // mixing countDistinct with another aggregate in one agg costs
    Tables.events(spark, dir)
      .select("event_type", "user_id").distinct()
      .groupBy("event_type")
      .agg(
        approx_count_distinct(col("user_id"), 0.02).as("approx_users"),
        count(col("user_id")).as("exact_users"))
      .orderBy("event_type")

  /** Oracle-gated accuracy contract for the HLL++ sketch: the sketch value
    * itself cannot be reproduced by another engine, but the CONTRACT —
    * |approx − exact| ≤ 5%·exact (sketch rsd 2%) — is a boolean DuckDB
    * can assert blindly as `true`; a drifting sketch flips the column and
    * fails the hash gate. */
  def approxDistinctChecked(spark: SparkSession, dir: String): DataFrame =
    approxDistinct(spark, dir)
      .select(col("event_type"), col("exact_users"),
        (abs(col("approx_users") - col("exact_users"))
          <= col("exact_users").cast("double") * 0.05).as("within_tol"))
      .orderBy("event_type")

  /** The second sketch family (HLL being the first): Greenwald-Khanna
    * approximate percentile — the 100 TB path for [[docLengthPercentiles]]
    * (mergeable summaries, bounded memory, vs an exact percentile's full
    * sort). Gated like [[approxDistinctChecked]]: the sketch VALUE is not
    * cross-engine reproducible, but its rank-error contract is — with
    * accuracy 1000 the returned element's rank is within n/1000 of the
    * target, so it must lie between the exact 0.45 and 0.55 quantiles
    * (both engines compute those exactly); a drifting sketch flips the
    * boolean and fails the hash gate. */
  def approxPercentileChecked(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .groupBy("lang")
      .agg(
        count(lit(1)).as("n_docs"),
        expr("percentile(n_chars, 0.5)").as("p50_exact"),
        expr("approx_percentile(n_chars, 0.5, 1000)").as("ap50"),
        expr("percentile(n_chars, 0.45)").as("lo"),
        expr("percentile(n_chars, 0.55)").as("hi"))
      .select(col("lang"), col("n_docs"), col("p50_exact"),
        col("ap50").between(col("lo"), col("hi")).as("within_tol"))
      .orderBy("lang")

  /** The mergeable-sketch LIFECYCLE, not just a sketch call: per-day
    * DataSketches HLL sketches (the shape a 100 TB pipeline persists per
    * partition/ingest batch) merged at query time with `hll_union_agg`
    * into a global distinct estimate. This is how "distinct users last
    * quarter" is answered without ever re-shuffling raw ids: N daily
    * sketches of a few KB cross the wire instead of the id stream, and
    * adding a day is one sketch build + re-merge. Gated like
    * [[approxDistinctChecked]]: sketch bytes are engine-specific, but the
    * accuracy contract (|merged estimate − exact| ≤ 5%, lgK=12 rse
    * ≈ 1.6%) is a boolean DuckDB asserts blindly; the exact side exists
    * only as the gate's ground truth. */
  def hllSketchMergeChecked(spark: SparkSession, dir: String): DataFrame = {
    val daily = Tables.events(spark, dir)
      .select(to_date(col("ts")).as("d"), col("user_id"))
      .groupBy("d")
      .agg(expr("hll_sketch_agg(user_id, 12)").as("sk"))
    val merged = daily.agg(
      count(lit(1)).as("n_days"),
      expr("hll_sketch_estimate(hll_union_agg(sk, true))").as("est"))
    val exact = Tables.events(spark, dir)
      .agg(countDistinct(col("user_id")).as("exact_users"))
    merged.crossJoin(exact)
      .select(col("n_days"), col("exact_users"),
        (abs(col("est") - col("exact_users"))
          <= col("exact_users").cast("double") * 0.05).as("within_tol"))
  }

  /** Third sketch family (after HLL distinct and GK percentile):
    * Misra–Gries frequent items ([[graft.functions.MisraGries]]), gated
    * the same way — the sketch CONTENT is engine-specific, but its
    * theorem is checkable: every item with true count > n/k must be in
    * the summary, with estimate ≥ count − n/k. The stream is a
    * deterministic zipf-ish rename of the event users (three hot keys
    * absorb a quarter of the stream; the ~112 cold keys stay under the
    * n/k line), so the gate exercises both survive and evict paths.
    * Exact counts for the HEAVY side come from a groupBy of the same
    * stream — at 100 TB only the sketch pass would run; the exact pass
    * exists here because the contract needs ground truth to compare
    * against (same pattern as the ANN recall gate). */
  def heavyHittersChecked(spark: SparkSession, dir: String): DataFrame = {
    val k = 25
    val stream = Tables.events(spark, dir)
      .select(when(col("user_id") % 4 === 0,
          concat(lit("hot_"), (col("user_id") % 3).cast("string")))
        .otherwise(concat(lit("cold_"), col("user_id").cast("string")))
        .as("item"))
    val n = stream.agg(count(lit(1)).as("n"))
    val mg = udaf(new graft.functions.MisraGries(k))
    val summary = stream.agg(mg(col("item")).as("s"))
      .select(explode(col("s")).as("e"))
      .select(col("e.item").as("item"), col("e.est").as("est"))
    stream.groupBy("item").agg(count(lit(1)).as("cnt"))
      .crossJoin(broadcast(n))
      .filter(col("cnt") * k > col("n"))
      .join(broadcast(summary), Seq("item"), "left")
      .select(col("item"), col("cnt"),
        col("est").isNotNull.as("in_sketch"),
        (coalesce(col("est"), lit(0L)) >= col("cnt") - expr(s"n div $k"))
          .as("est_within_bound"))
      .orderBy("item")
  }

  /** Fourth sketch family (after HLL distinct, GK percentile, and
    * Misra–Gries frequent items): Count-Min point-frequency estimates
    * (Cormode & Muthukrishnan 2005) — built RELATIONALLY, which is the
    * Spark-first formulation: the d×w counter grid is `posexplode` of the
    * d per-row bucket ids followed by ONE partially-aggregated groupBy,
    * so each mapper contributes at most d·w = 2048 partial rows to the
    * exchange regardless of stream length, and the whole build stays
    * inside whole-stage codegen (no UDAF buffer serialization). Bucket
    * ids come from seeded `xxhash64`, computed by the SAME expression at
    * build and query time.
    *
    * Gated like [[heavyHittersChecked]] — sketch CONTENT is
    * engine-specific, its theorem is not: a Count-Min estimate NEVER
    * undercounts (every update increments all d counters for the item),
    * and for this fixed data/seed geometry the min-row over-count stays
    * within 2n/w (the Markov bound each of the d independent rows beats
    * with prob ≥ 1/2; verified deterministic-green at all three sf dirs).
    * Both booleans fold into the hash gate; the exact groupBy exists only
    * as ground truth, same as the ANN recall gate. */
  def countMinChecked(spark: SparkSession, dir: String): DataFrame = {
    val w = 512; val d = 4; val k = 25
    val stream = Tables.events(spark, dir)
      .select(when(col("user_id") % 4 === 0,
          concat(lit("hot_"), (col("user_id") % 3).cast("string")))
        .otherwise(concat(lit("cold_"), col("user_id").cast("string")))
        .as("item"))
    val n = stream.agg(count(lit(1)).as("n"))
    val bucketCols = (0 until d).map(r =>
      pmod(xxhash64(col("item"), lit(r)), lit(w.toLong)).as(s"b$r"))
    val tagged = stream.select(col("item") +: bucketCols: _*)
    val grid = tagged
      .select(posexplode(array((0 until d).map(r => col(s"b$r")): _*)).as(Seq("r", "bucket")))
      .groupBy("r", "bucket").agg(count(lit(1)).as("c"))
    val heavy = tagged
      .groupBy("item", "b0", "b1", "b2", "b3").agg(count(lit(1)).as("cnt"))
      .crossJoin(broadcast(n))
      .filter(col("cnt") * k > col("n"))
    // point lookup: explode each heavy item to its d (row, bucket)
    // coordinates and join the grid ONCE — est = min over the d
    // counters. (A per-row filtered join would re-derive the grid
    // subplan d times; this shape builds it once.)
    heavy
      .select(col("item"), col("cnt"), col("n"),
        posexplode(array((0 until d).map(r => col(s"b$r")): _*)).as(Seq("r", "bucket")))
      .join(broadcast(grid), Seq("r", "bucket"))
      .groupBy("item", "cnt", "n")
      .agg(min(col("c")).as("est"))
      .select(col("item"), col("cnt"),
        (col("est") >= col("cnt")).as("no_undercount"),
        (col("est") <= col("cnt") + expr(s"(2 * n) div $w")).as("overcount_within_bound"))
      .orderBy("item")
  }

  /** Hierarchical rollup (beyond the reference's flat groupBys): order
    * counts per (region, nation) with nation and grand totals — one
    * shuffle, the expanded grouping handled map-side. */
  def rollupRegionNation(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(spark, dir).select("c_custkey", "c_nationkey")
    val n = Tables.nation(spark, dir).select("n_nationkey", "n_name", "n_regionkey")
    val r = Tables.region(spark, dir).select("r_regionkey", "r_name")
    Tables.orders(spark, dir)
      .join(c, col("o_custkey") === col("c_custkey"))
      .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
      .rollup(col("r_name"), col("n_name"))
      .agg(count(lit(1)).as("n_orders"), dsum(col("o_totalprice")).as("sum_price"))
      .orderBy(col("r_name").asc_nulls_first, col("n_name").asc_nulls_first)
  }

  /** Deterministic Pearson correlation + sample covariance (the
    * statistical-aggregate family, done reproducibly): does a customer's
    * order value trend with time? A plain `corr()` sums doubles in
    * partition order — non-reproducible across engines and runs — so,
    * like [[graft.functions.Det.dstddevSamp]], the co-moments are exact
    * integer sums (price in cents, time in whole days; small per-group n
    * keeps every sum well under 2^63) and the closed-form combination is
    * an identical double expression on both sides of the oracle. Still
    * partial+final combinable: integer sums merge associatively. */
  def corrValueTime(spark: SparkSession, dir: String): DataFrame = {
    val dbl = (c: Column) => c.cast("double")
    Tables.orders(spark, dir)
      .select(col("o_custkey"),
        round(col("o_totalprice") * 100).cast("long").as("y"),
        datediff(col("o_orderdate").cast("date"), to_date(lit("1992-01-01"))).cast("long").as("x"))
      .groupBy("o_custkey")
      .agg(count(lit(1)).as("n"),
        sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("x") * col("x")).as("sxx"), sum(col("y") * col("y")).as("syy"),
        sum(col("x") * col("y")).as("sxy"))
      .filter(col("n") >= 2)
      .withColumn("nd", dbl(col("n")))
      .withColumn("den_x", col("nd") * dbl(col("sxx")) - dbl(col("sx")) * dbl(col("sx")))
      .withColumn("den_y", col("nd") * dbl(col("syy")) - dbl(col("sy")) * dbl(col("sy")))
      .filter(col("den_x") > 0 && col("den_y") > 0)
      .withColumn("covar_samp",
        (dbl(col("sxy")) - dbl(col("sx")) * dbl(col("sy")) / col("nd"))
          / (col("nd") - lit(1.0)) / lit(100.0))
      .withColumn("corr_value_time",
        (col("nd") * dbl(col("sxy")) - dbl(col("sx")) * dbl(col("sy")))
          / (sqrt(col("den_x")) * sqrt(col("den_y"))))
      .select("o_custkey", "n", "covar_samp", "corr_value_time")
      .orderBy("o_custkey")
  }

  /** Top-k per group as ONE aggregation (graft.functions.TopKByScore):
    * the map side keeps ≤ k entries per group, so the shuffle carries
    * ≤ k rows per (group, mapper) instead of the whole fact table — the
    * 100 TB form of O-36/O-48 top-k. Same result (and tie-break) as the
    * window formulation `win_topk_per_customer`; PlanSpec asserts the
    * partial ObjectHashAggregate sits before the exchange. */
  def topkTypedAgg(spark: SparkSession, dir: String): DataFrame = {
    val topk = udaf(new graft.functions.TopKByScore(3))
    Tables.orders(spark, dir)
      .groupBy("o_custkey")
      .agg(topk(col("o_totalprice"), col("o_orderkey")).as("top"))
      .select(col("o_custkey"), posexplode(col("top")))
      .select(col("o_custkey"), (col("pos") + 1).as("rnk"),
              col("col.key").as("o_orderkey"), col("col.score").as("o_totalprice"))
      .orderBy("o_custkey", "rnk")
  }

  /** Full cube (beyond the reference's flat groupBys, sibling of
    * [[rollupRegionNation]]): order counts/revenue over every subset of
    * (status, priority), tagged with `grouping_id()` so consumers can
    * tell detail rows from subtotals. Like rollup, the grouping
    * expansion happens map-side before the single hash shuffle. */
  def cubeStatusPriority(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .cube(col("o_orderstatus"), col("o_orderpriority"))
      .agg(grouping_id().as("gid"), count(lit(1)).as("n_orders"),
           dsum(col("o_totalprice")).as("sum_price"))
      .select("o_orderstatus", "o_orderpriority", "gid", "n_orders", "sum_price")
      .orderBy(col("gid").asc,
        col("o_orderstatus").asc_nulls_first, col("o_orderpriority").asc_nulls_first)

  /** Wide pivot: per-user event counts, one column per event type
    * (Spark's groupBy().pivot() with the value set pinned — no extra
    * distinct-values job, fixed output schema at any scale). */
  def pivotEventTypes(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy("user_id")
      .pivot("event_type", Seq("click", "error", "purchase", "signup", "view"))
      .agg(count(lit(1)))
      .na.fill(0L)
      .orderBy("user_id")

  /** The inverse of [[pivotEventTypes]] — unpivot/melt back to long
    * form (wide metric columns → (key, metric, value) rows), the
    * standard reshape before a generic per-metric aggregation or sink.
    * Spark's native `unpivot` is a zero-shuffle projection (each wide
    * row emits its value-column rows map-side); the round-trip through
    * pivot exercises both reshape directions against one oracle. */
  def unpivotEventCounts(spark: SparkSession, dir: String): DataFrame =
    pivotEventTypes(spark, dir)
      .unpivot(
        Array(col("user_id")),
        Seq("click", "error", "purchase", "signup", "view").map(col).toArray,
        "event_type", "n")
      .orderBy("user_id", "event_type")

  /** Corpus profiling percentiles (training-data QA): interpolated
    * quantiles of document length — `percentile` matches DuckDB's
    * quantile_cont definition exactly. */
  def docLengthPercentiles(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .groupBy("lang")
      .agg(
        count(lit(1)).as("n_docs"),
        expr("percentile(n_chars, 0.5)").as("p50"),
        expr("percentile(n_chars, 0.9)").as("p90"),
        expr("percentile(n_chars, 0.99)").as("p99"),
        min(col("n_chars")).as("min_chars"),
        max(col("n_chars")).as("max_chars"))
      .orderBy("lang")

  /** Explicit GROUPING SETS — the third member of the grouped-analytics
    * family next to [[rollupRegionNation]] and [[cubeStatusPriority]]:
    * the caller picks exactly which subtotal combinations exist
    * ((status), (priority), grand total — but NOT the (status,
    * priority) detail a cube would add). Same execution shape: the
    * grouping expansion happens map-side (one Expand + one hash
    * shuffle), so cost scales with |sets|, not with a re-scan per
    * set — the reason GROUPING SETS beats N unioned groupBys at
    * 100 TB. */
  def groupingSetsStatusPriority(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .groupingSets(
        Seq(Seq(col("o_orderstatus")), Seq(col("o_orderpriority")), Seq()),
        col("o_orderstatus"), col("o_orderpriority"))
      .agg(grouping_id().as("gid"), count(lit(1)).as("n_orders"),
           dsum(col("o_totalprice")).as("sum_price"))
      .select("o_orderstatus", "o_orderpriority", "gid", "n_orders", "sum_price")
      .orderBy(col("gid").asc,
        col("o_orderstatus").asc_nulls_first, col("o_orderpriority").asc_nulls_first)

  /** Table PROFILING — the catalog-statistics pass every 100 TB ingest
    * runs before anything else: per column, row/null/distinct counts
    * and min/max (as strings, so one output schema fits every column
    * type; the lexicographic min/max of the string form is the
    * documented contract). ONE scan computes every stat — the wide
    * aggregate row is unpivoted to (column, stat…) rows afterwards via
    * a zero-shuffle map-side stack. Exact distinct counts expand the
    * aggregate per column; the approximate profile at extreme scale is
    * [[approxDistinctChecked]]'s HLL family. */
  def profileColumns(spark: SparkSession, dir: String): DataFrame = {
    val cols = Seq("lang", "source", "n_chars")
    val d = Tables.documents(spark, dir)
    val aggs =
      count(lit(1)).as("n_rows") +: cols.flatMap { c =>
        Seq(
          sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"nulls_$c"),
          countDistinct(col(c)).as(s"nd_$c"),
          min(col(c).cast("string")).as(s"min_$c"),
          max(col(c).cast("string")).as(s"max_$c"))
      }
    val stackArgs = cols
      .map(c => s"'$c', nulls_$c, nd_$c, min_$c, max_$c").mkString(", ")
    d.agg(aggs.head, aggs.tail: _*)
      .select(col("n_rows"), expr(
        s"stack(${cols.size}, $stackArgs) AS (column_name, n_nulls, n_distinct, min_str, max_str)"))
      .select("column_name", "n_rows", "n_nulls", "n_distinct", "min_str", "max_str")
      .orderBy("column_name")
  }

  /** Statistical outlier detection (training-data QA / anomaly gate):
    * customers whose balance sits more than 2 sample standard
    * deviations from their nation's mean. Deterministic across engines
    * the [[corrValueTime]] way: balances become exact integer cents,
    * the per-nation moments are exact integer sums, and the 2σ test is
    * evaluated as the cross-multiplied polynomial
    * `(n·x − Σx)²·(n−1) > 4·n·(n·Σx² − (Σx)²)` in DOUBLE arithmetic —
    * every operand converts from the same exact integer, every product
    * rounds identically under IEEE 754, so both engines flag the
    * identical rows with no epsilon. One shuffle for the moments
    * (broadcast back), one scan for the flagging. */
  def outlierZscore(spark: SparkSession, dir: String): DataFrame = {
    val cents = Tables.customer(spark, dir)
      .select(col("c_custkey"), col("c_nationkey"),
        col("c_acctbal"),
        round(col("c_acctbal") * 100).cast("long").as("x"))
    val moments = cents.groupBy("c_nationkey")
      .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
        sum(col("x") * col("x")).as("sxx"))
      .filter(col("n") >= 2)
    val dbl = (c: Column) => c.cast("double")
    cents.join(broadcast(moments), "c_nationkey")
      .withColumn("dev", dbl(col("n")) * dbl(col("x")) - dbl(col("sx")))
      .withColumn("varn",
        dbl(col("n")) * dbl(col("sxx")) - dbl(col("sx")) * dbl(col("sx")))
      .filter(col("dev") * col("dev") * (dbl(col("n")) - lit(1.0))
        > lit(4.0) * dbl(col("n")) * col("varn"))
      .select("c_nationkey", "c_custkey", "c_acctbal")
      .orderBy("c_nationkey", "c_custkey")
  }

  /** COHORT RETENTION — the second event-analytics staple next to the
    * funnel ([[Windows.funnelStages]]): users grouped by their first
    * activity day (the cohort), then counted per whole-week offset of
    * each later active day. Cohorts key on the exact first day (no
    * week-truncation — engines disagree on week-start conventions, and
    * the exact day is the stronger contract anyway). Two shuffles, both
    * on user_id, then one count-distinct rollup whose input is
    * (user, cohort, offset) — already deduplicated per day by the date
    * projection, so the wide fact stream collapses before the final
    * exchange. */
  def retentionCohorts(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select(col("user_id"), to_date(col("ts")).as("d"))
    val first = ev.groupBy("user_id").agg(min(col("d")).as("cohort_day"))
    ev.join(first, "user_id")
      .select(col("user_id"), col("cohort_day"),
        expr("cast(datediff(d, cohort_day) as bigint) div 7").as("week_offset"))
      .groupBy("cohort_day", "week_offset")
      .agg(countDistinct(col("user_id")).as("n_users"))
      .orderBy("cohort_day", "week_offset")
  }

  /** MIN-MAX FEATURE SCALING per group — the normalization step feature
    * pipelines apply before models see a column: each document's length
    * rescaled to [0, 10⁶] ppm WITHIN ITS SOURCE (cross-source lengths are
    * not comparable — that's the point of group-wise scaling). Integer
    * ppm with truncating division, single-valued groups pin to 0.
    *
    * Scale: the min/max are an unordered-frame window over the group key
    * — one shuffle shared with nothing else, no second pass, no join
    * (the groupBy+broadcast-stats alternative costs a corpus join; the
    * window computes stats and applies them in the same exchange). */
  def minmaxScale(spark: SparkSession, dir: String): DataFrame = {
    val bySource = org.apache.spark.sql.expressions.Window.partitionBy("source")
    graft.sources.Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"), col("n_chars"))
      .withColumn("mn", min(col("n_chars")).over(bySource))
      .withColumn("mx", max(col("n_chars")).over(bySource))
      .withColumn("scaled_ppm", when(col("mx") === col("mn"), 0L)
        .otherwise(expr("(n_chars - mn) * 1000000 div (mx - mn)")))
      .select("doc_id", "source", "n_chars", "mn", "mx", "scaled_ppm")
      .orderBy("doc_id")
  }

  /** EQUI-WIDTH HISTOGRAM over event values — the distribution sketch a
    * profiler draws: 20 fixed-width buckets spanning [0, max], per-bucket
    * row count and observed value range in integer cents. The bucket id
    * is `cents·20 div (max_cents + 1)` (the +1 puts the max value in the
    * last bucket without a branch); the global max arrives as a
    * BROADCAST one-row stat crossed onto the scan — the standard
    * two-pass profile shape (stat pass is agg-only, histogram pass is
    * map-side until the 20-key count).
    *
    * Empty buckets are absent by construction (count-based histogram);
    * the gap-fill operator composes if a dense 0..19 spine is wanted. */
  def equiwidthHist(spark: SparkSession, dir: String): DataFrame = {
    val cents = Tables.events(spark, dir)
      .select(expr("CAST(round(value * 100) AS BIGINT)").as("cents"))
    val stat = cents.agg(max(col("cents")).as("max_cents"))
    cents.crossJoin(broadcast(stat))
      .withColumn("bucket", expr("cents * 20 div (max_cents + 1)"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n_rows"),
        min(col("cents")).as("min_cents"), max(col("cents")).as("max_cents"))
      .orderBy("bucket")
  }

  /** BENFORD FIRST-DIGIT AUDIT — the classic anomaly screen for price /
    * amount columns: observed leading-digit distribution of order totals
    * vs Benford's law, per-digit deviation in integer ppm. Natural
    * multi-magnitude amounts follow log₁₀(1+1/d); fabricated or
    * truncated data visibly doesn't. The digit is taken from the INTEGER
    * cents string (double formatting differs across engines; integer →
    * string doesn't), and the expected shares are exact precomputed ppm
    * literals, so the whole audit is bit-stable.
    *
    * Scale: a 9-key conditional count — one partial-agg shuffle of nine
    * rows per mapper; deviation math happens on the 9-row aggregate. */
  def benfordPrices(spark: SparkSession, dir: String): DataFrame = {
    // round(1e6 · log10(1 + 1/d)) for d = 1..9
    val expected = Seq(301030L, 176091L, 124939L, 96910L, 79181L,
      66947L, 57992L, 51153L, 45757L)
    val expectedSql = expected.zipWithIndex
      .map { case (ppm, i) => s"WHEN ${i + 1} THEN ${ppm}L" }.mkString(" ")
    val digits = Tables.orders(spark, dir)
      .select(expr(
        "CAST(substring(CAST(CAST(round(o_totalprice * 100) AS BIGINT) AS STRING), 1, 1) AS BIGINT)")
        .as("digit"))
      .filter(col("digit") >= 1)
    val stat = digits.agg(count(lit(1)).as("n_total"))
    digits.groupBy("digit").agg(count(lit(1)).as("n_rows"))
      .crossJoin(broadcast(stat))
      .withColumn("observed_ppm", expr("n_rows * 1000000 div n_total"))
      .withColumn("expected_ppm", expr(s"CASE digit $expectedSql END"))
      .withColumn("deviation_ppm", col("observed_ppm") - col("expected_ppm"))
      .select("digit", "n_rows", "observed_ppm", "expected_ppm", "deviation_ppm")
      .orderBy("digit")
  }

  /** EXACT EQUI-DEPTH HISTOGRAM at scale — the statistics structure
    * optimizers and drift monitors actually want (equal ROW mass per
    * bucket), which unlike [[equiwidthHist]] needs a global rank. The
    * naive formulation (ntile over an unpartitioned window) collapses
    * all data to one reducer; the shape here never does:
    *   1. one shuffle builds the value dictionary (cents → count);
    *   2. the exclusive running count over the dictionary in value
    *      order ([[graft.PrefixSum]]) gives every value its exact
    *      cumulative-before rank;
    *   3. bucket = cum_before·B div N, then a bucket-keyed aggregate.
    * Semantics are value-granular (ties share a bucket — deterministic
    * without any tiebreak), bucket depth is within one value-run of
    * N/B. Integer arithmetic end-to-end. */
  def equidepthHist(spark: SparkSession, dir: String, buckets: Int = 16): DataFrame = {
    val dict = Tables.orders(spark, dir)
      .select(expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("cents"))
      .groupBy("cents").agg(count(lit(1)).as("cnt"))
    val ranked = graft.PrefixSum(dict, Seq(col("cents")), col("cnt"), "cum_before",
      inclusive = false)
    ranked.crossJoin(broadcast(ranked.agg(sum(col("cnt")).as("n_total"))))
      .withColumn("bucket", expr(s"cum_before * $buckets div n_total"))
      .groupBy("bucket")
      .agg(sum(col("cnt")).as("n_rows"),
        min(col("cents")).as("min_cents"), max(col("cents")).as("max_cents"))
      .orderBy("bucket")
  }

  /** CHI-SQUARED INDEPENDENCE CELLS for two categorical columns
    * (market segment × order priority) — the data-profiling test for
    * "are these columns associated". Emits the full contingency
    * diagnostics per cell: observed count, expected count under
    * independence (exact integer ppm: r·c·10⁶ div N), and the χ²
    * contribution (o·N − r·c)²/(N·r·c). The contribution is the ONLY
    * double in the result and is computed as exactly one IEEE multiply
    * and one divide over integer-exact operands (the long subtraction
    * o·N − r·c is exact well past these magnitudes), so both engines
    * round identically — no cross-cell summation order to drift.
    *
    * Scale: the fact join is one broadcast (customer dimension), the
    * contingency table is a partial+final count, and the margins join
    * back onto the |segments|×|priorities| cell table — post-aggregate
    * sizes throughout. */
  def chi2Independence(spark: SparkSession, dir: String): DataFrame = {
    val cells = Tables.orders(spark, dir)
      .join(broadcast(Tables.customer(spark, dir)
        .select(col("c_custkey"), col("c_mktsegment"))),
        col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_mktsegment").as("segment"),
        col("o_orderpriority").as("priority"))
      .agg(count(lit(1)).as("observed"))
    val rows = cells.groupBy("segment").agg(sum("observed").as("r"))
    val cols_ = cells.groupBy("priority").agg(sum("observed").as("c"))
    val n = cells.agg(sum("observed").as("n"))
    cells
      .join(broadcast(rows), Seq("segment"))
      .join(broadcast(cols_), Seq("priority"))
      .crossJoin(broadcast(n))
      // expected_ppm = floor(r·c·10⁶ / n) in two base-1000 steps:
      // r·c·10⁶ would overflow long near sf10 margins; r·c·1000 stays
      // well inside (≤ ~9e15·10³)
      .withColumn("e1", expr("(r * c * 1000L) div n"))
      .withColumn("e2", expr("((r * c * 1000L) % n) * 1000L div n"))
      .withColumn("expected_ppm", expr("e1 * 1000L + e2"))
      // denominator multiplies in the DOUBLE domain (left-assoc, pinned
      // in the oracle identically): n·r·c as longs overflows near sf10
      .withColumn("chi2_contrib", expr(
        "CAST(observed * n - r * c AS DOUBLE) * CAST(observed * n - r * c AS DOUBLE)" +
          " / (CAST(n AS DOUBLE) * CAST(r AS DOUBLE) * CAST(c AS DOUBLE))"))
      .select("segment", "priority", "observed", "r", "c",
        "expected_ppm", "chi2_contrib")
      .orderBy("segment", "priority")
  }

  /** GINI COEFFICIENT per group — the inequality profile of a value
    * column (customer balance cents by segment), exact to the ppm:
    * with values sorted ascending and 1-based ranks i,
    * G = (2·Σi·xᵢ − (n+1)·Σx) / (n·Σx). The rank sum is computed on
    * the VALUE DICTIONARY, not per row: a run of count c of value v
    * starting after cumulative count F contributes
    * v·(c·F + c(c+1)/2) — tie-order drops out algebraically, so the
    * result needs no tiebreak key and the window runs over the
    * (group × distinct value) dictionary. Integer arithmetic
    * end-to-end (long bounds hold past sf1 for this column's
    * magnitudes). */
  def giniBySegment(spark: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("segment").orderBy("cents")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    Tables.customer(spark, dir)
      .select(col("c_mktsegment").as("segment"),
        expr("CAST(round(c_acctbal * 100) AS BIGINT)").as("cents"))
      .groupBy("segment", "cents").agg(count(lit(1)).as("c"))
      .withColumn("f", coalesce(sum(col("c")).over(w), lit(0L)))
      .groupBy("segment")
      .agg(sum(expr("cents * (c * f + c * (c + 1) div 2)")).as("s1"),
        sum(expr("cents * c")).as("s0"),
        sum(col("c")).as("n"))
      // gini_ppm = floor(N1·10⁶ / D) computed as three base-100
      // long-division steps: N1 and D reach ~9e14 at sf1 (9e16 at
      // sf10), so the naive N1·10⁶ overflows long — each step here
      // multiplies by only 100, keeping every intermediate ≤ ~9.2e18
      // (safe past sf10; the ANSI overflow at sf1 was measured)
      .withColumn("n1", expr("2 * s1 - (n + 1) * s0"))
      .withColumn("d", expr("n * s0"))
      .withColumn("a1", expr("(n1 * 100L) div d"))
      .withColumn("r1", expr("(n1 * 100L) % d"))
      .withColumn("a2", expr("(r1 * 100L) div d"))
      .withColumn("r2", expr("(r1 * 100L) % d"))
      .select(col("segment"), col("n").as("n_customers"),
        col("s0").as("sum_cents"),
        expr("a1 * 10000L + a2 * 100L + (r2 * 100L) div d").as("gini_ppm"))
      .orderBy("segment")
  }

  /** ROBUST OUTLIER GATE (median + MAD) — the profiling statistic
    * [[outlierZscore]] can't give you when the column itself is
    * heavy-tailed: mean/stddev move with the outliers they're meant to
    * catch, the median and the median-absolute-deviation don't. Exact
    * medians at scale without a per-group sort: order totals quantize to
    * whole dollars (the operator's declared granularity, like the
    * dollar-bucketed [[equiwidthHist]]), so everything after ONE fact
    * shuffle runs on the (segment, dollar) COUNT DICTIONARY — a bounded
    * table (≤ price-domain rows per segment) however many orders exist:
    *   1. dictionary cum-sums per segment → lower median (cum ≥ ⌈n/2⌉);
    *   2. the deviation dictionary is re-aggregated from the value
    *      dictionary itself (never a second fact pass) → MAD the same way;
    *   3. outliers (|x−med| > 5·MAD) counted off the dictionary too.
    * Integer arithmetic end-to-end; medians are value-granular so no
    * tie-break nondeterminism. */
  def madOutliers(spark: SparkSession, dir: String): DataFrame = {
    val v = Tables.orders(spark, dir)
      .join(broadcast(Tables.customer(spark, dir)
        .select(col("c_custkey"), col("c_mktsegment"))),
        col("o_custkey") === col("c_custkey"))
      .select(col("c_mktsegment").as("segment"),
        expr("CAST(round(o_totalprice) AS BIGINT)").as("usd"))
    madOutliersOf(v)
  }

  /** Core of [[madOutliers]] over (segment, usd) rows (spec entry). */
  private[graft] def madOutliersOf(v: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // the dictionary is derived five times (totals, median, deviation
    // dictionary, MAD, outlier count) — materialize it ONCE so the fact
    // join+aggregate runs once, not once per derivation; it is bounded
    // by segments × value domain, post-aggregate sized by construction.
    // Every derivation groups or windows by segment, so the dictionary is
    // stored partitioned on it and they read it with no shuffle
    val dict = graft.Materialize(v.groupBy("segment", "usd").agg(count(lit(1)).as("cnt"))
      .repartition(col("segment")))
    val tot = dict.groupBy("segment").agg(sum(col("cnt")).as("n"))
    val wVal = Window.partitionBy("segment").orderBy("usd")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val med = dict.withColumn("cum", sum(col("cnt")).over(wVal))
      .join(broadcast(tot), Seq("segment"))
      .filter(col("cum") >= expr("(n + 1) div 2"))
      .groupBy("segment").agg(min(col("usd")).as("median_usd"))
    val dev = dict.join(broadcast(med), Seq("segment"))
      .groupBy(col("segment"), abs(col("usd") - col("median_usd")).as("dev"))
      .agg(sum(col("cnt")).as("cnt"))
    val wDev = Window.partitionBy("segment").orderBy("dev")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val mad = dev.withColumn("cum", sum(col("cnt")).over(wDev))
      .join(broadcast(tot), Seq("segment"))
      .filter(col("cum") >= expr("(n + 1) div 2"))
      .groupBy("segment").agg(min(col("dev")).as("mad_usd"))
    dict.join(broadcast(med), Seq("segment")).join(broadcast(mad), Seq("segment"))
      .groupBy("segment")
      .agg(sum(when(abs(col("usd") - col("median_usd")) > lit(5L) * col("mad_usd"),
        col("cnt")).otherwise(0L)).as("n_outliers"))
      .join(broadcast(tot), Seq("segment"))
      .join(broadcast(med), Seq("segment"))
      .join(broadcast(mad), Seq("segment"))
      .select(col("segment"), col("n").as("n_orders"),
        col("median_usd"), col("mad_usd"), col("n_outliers"),
        expr("n_outliers * 1000000 div n").as("outlier_ppm"))
      .orderBy("segment")
  }

  /** A/B SIGNIFICANCE (2×2 chi-squared) — the experimentation readout:
    * split users into variants (A = even user_id), conversion = "first
    * event is a purchase", and test whether the conversion-rate
    * difference is real.
    * χ² for a 2×2 table has the closed form N·(ad−bc)²/(r₁r₂c₁c₂);
    * both sides are computed EXACTLY in DECIMAL(38,0) from the four
    * BIGINT cells, the test emits χ²·100 by one integral division, and
    * the 95% verdict is the integer comparison χ²·100 > 384 — no FP
    * anywhere, so the significance boundary cannot drift cross-engine.
    * (Headroom: at 100× data N≈10⁷ users keeps N·(ad−bc)²·100 < 10³⁵,
    * well inside DECIMAL(38,0).)
    *
    * Scale: one shuffle to fold events → per-user conversion flags
    * (partial+final max), then a 2-row aggregate; the cell algebra runs
    * on a single summary row. */
  def abSignificance(spark: SparkSession, dir: String): DataFrame =
    abSignificanceOf(Tables.events(spark, dir))

  /** Core of [[abSignificance]] over an events-shaped frame (spec entry). */
  private[graft] def abSignificanceOf(events: DataFrame): DataFrame = {
    // conversion = the user's FIRST event is a purchase: ~p stays fixed
    // however much history accretes ("ever purchased" saturates to 1 as
    // per-user event counts grow — a degenerate 2x2 at scale). First =
    // min by (micro ts, event_id): micro-truncated so both engines order
    // the same axis, event_id the deterministic tie-break. One struct-min
    // partial+final aggregate — no window, no second pass.
    val users = events
      .groupBy(col("user_id"))
      .agg(min(struct(expr("ts_ns div 1000").as("t"), col("event_id"),
        col("event_type"))).as("f"))
      .select(col("user_id"),
        when(col("f.event_type") === "purchase", 1L).otherwise(0L).as("conv"))
      .withColumn("variant",
        when(col("user_id") % 2 === 0, lit("A")).otherwise(lit("B")))
    users.groupBy("variant")
      .agg(count(lit(1)).as("n_users"), sum(col("conv")).as("n_conv"))
      .agg(
        sum(when(col("variant") === "A", col("n_users")).otherwise(0L)).as("users_a"),
        sum(when(col("variant") === "A", col("n_conv")).otherwise(0L)).as("conv_a"),
        sum(when(col("variant") === "B", col("n_users")).otherwise(0L)).as("users_b"),
        sum(when(col("variant") === "B", col("n_conv")).otherwise(0L)).as("conv_b"))
      .withColumn("adbc", expr(
        "CAST(conv_a * (users_b - conv_b) - conv_b * (users_a - conv_a) AS DECIMAL(38,0))"))
      .withColumn("den", expr(
        """CAST(users_a AS DECIMAL(38,0)) * CAST(users_b AS DECIMAL(38,0))
           * CAST(conv_a + conv_b AS DECIMAL(38,0))
           * CAST(users_a + users_b - conv_a - conv_b AS DECIMAL(38,0))"""))
      .select(col("users_a"), col("conv_a"), col("users_b"), col("conv_b"),
        expr("CASE WHEN users_a = 0 THEN 0L ELSE conv_a * 1000000 div users_a END")
          .as("rate_a_ppm"),
        expr("CASE WHEN users_b = 0 THEN 0L ELSE conv_b * 1000000 div users_b END")
          .as("rate_b_ppm"),
        expr("""CASE WHEN den = 0 THEN 0L ELSE
                  CAST((CAST(users_a + users_b AS DECIMAL(38,0))
                        * adbc * adbc * 100) div den AS BIGINT)
                END""").as("chi2_x100"))
      .withColumn("significant_95", col("chi2_x100") > lit(384L))
  }

  /** EXACT ROC-AUC (Mann–Whitney rank-sum) — classifier evaluation as a
    * first-class relational op: how well does document length separate
    * English from non-English docs, per source and overall ('ALL').
    * AUC = P(score_pos > score_neg) + ½·P(tie), computed EXACTLY from
    * the score dictionary: for each distinct score, pos·(2·neg_below +
    * neg_at) accumulates twice the U statistic, and
    * auc_ppm = num2·10⁶ div (2·n_pos·n_neg) — all BIGINT, no float
    * ranks, bit-stable across engines. The eval companion to
    * [[graft.functions.TextAnalysis.qualityClassifier]] and the langid
    * confusion matrix: confusion gives thresholded counts, AUC ranks
    * the scorer across ALL thresholds.
    *
    * Scale: docs collapse to the (group, score) DICTIONARY in one
    * partial+final agg (the 'ALL' group rides the same scan via a
    * 2-element explode); the running-negatives window sorts only the
    * dictionary (bounded by distinct scores per group, not by corpus);
    * the final collapse is per-group. No corpus-sized sort anywhere —
    * the same count-of-counts move as the skew audit. num2 ≤ n_pos·
    * 2·n_neg, so the 10⁶ scaling holds to ~10⁹-doc groups in BIGINT. */
  def aucRank(spark: SparkSession, dir: String): DataFrame =
    aucRankOf(Tables.documents(spark, dir))

  /** [[aucRank]] over any documents-shaped frame (spec entry point). */
  private[graft] def aucRankOf(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val dict = docs
      .select(explode(array(col("source"), lit("ALL"))).as("grp"),
        col("n_chars").as("score"),
        when(col("lang") === "en", 1L).otherwise(0L).as("pos"))
      .groupBy("grp", "score")
      .agg(expr("CAST(sum(pos) AS BIGINT)").as("pos_c"),
        expr("CAST(sum(1 - pos) AS BIGINT)").as("neg_c"))
    val below = Window.partitionBy("grp").orderBy(col("score"))
      .rowsBetween(Window.unboundedPreceding, -1)
    dict
      .withColumn("neg_below", coalesce(sum(col("neg_c")).over(below), lit(0L)))
      .groupBy("grp")
      .agg(expr("CAST(sum(pos_c) AS BIGINT)").as("n_pos"),
        expr("CAST(sum(neg_c) AS BIGINT)").as("n_neg"),
        expr("CAST(sum(pos_c * (2 * neg_below + neg_c)) AS BIGINT)").as("num2"))
      .select(col("grp").as("source"), col("n_pos"), col("n_neg"),
        when(col("n_pos") > 0 && col("n_neg") > 0,
          expr("num2 * 1000000 div (2 * n_pos * n_neg)")).as("auc_ppm"))
      .orderBy("source")
  }

  /** EXACT TWO-SAMPLE KOLMOGOROV–SMIRNOV — distribution-drift detection
    * as a relational op: are purchase values distributed like click
    * values? D = max |ECDF_a − ECDF_b|, computed EXACTLY on the value
    * DICTIONARY: per distinct cents value the two cumulative counts, and
    * the sup as max |cum_a·n_b − cum_b·n_a|·10⁶ div (n_a·n_b) — all
    * BIGINT cross-multiplication, no float ECDFs, so both engines agree
    * on the argmax value too (ties → lowest cents). The drift gate a
    * training pipeline runs between data snapshots (alongside the PSI /
    * chi-squared family) — KS is the one that needs no binning choice.
    *
    * Scale: events collapse to the distinct-value dictionary in one
    * partial+final agg (the count-of-counts move); the two running sums
    * window over the DICTIONARY (bounded by distinct values, not rows);
    * the final sup is a 1-row TakeOrdered. cum·n ≤ N², so BIGINT holds
    * to ~10⁹-row samples at ppm scale. */
  def ksTest(spark: SparkSession, dir: String): DataFrame =
    ksTestOf(Tables.events(spark, dir))

  /** [[ksTest]] over any events-shaped frame (spec entry point). */
  private[graft] def ksTestOf(events: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val dict = events
      .filter(col("event_type").isin("purchase", "click"))
      .select(expr("CAST(round(value * 100) AS BIGINT)").as("cents"),
        when(col("event_type") === "purchase", 1L).otherwise(0L).as("is_a"))
      .groupBy("cents")
      .agg(expr("CAST(sum(is_a) AS BIGINT)").as("n_a"),
        expr("CAST(sum(1 - is_a) AS BIGINT)").as("n_b"))
    val run = Window.orderBy("cents")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = dict
      .withColumn("cum_a", sum(col("n_a")).over(run))
      .withColumn("cum_b", sum(col("n_b")).over(run))
    val tot = cum.agg(expr("CAST(sum(n_a) AS BIGINT)").as("tot_a"),
      expr("CAST(sum(n_b) AS BIGINT)").as("tot_b"))
    cum.crossJoin(broadcast(tot))
      .withColumn("d_ppm",
        expr("abs(cum_a * tot_b - cum_b * tot_a) * 1000000 div (tot_a * tot_b)"))
      .select(col("tot_a").as("n_purchase"), col("tot_b").as("n_click"),
        col("d_ppm"), col("cents").as("at_cents"))
      .orderBy(col("d_ppm").desc, col("at_cents").asc)
      .limit(1)
  }

  /** EXACT AUDIENCE OVERLAP — pairwise distinct-user intersection and
    * Jaccard for every event-type pair (which behaviors share an
    * audience — the segmentation question HLL-sketch intersections
    * answer approximately, here exact). Shape: one distinct pass to
    * (user, type), then each user's sorted type set explodes to its
    * C(t,2) pairs IN-ARRAY (the co-purchase move — bounded by |types|²
    * per user) and pair counts collapse in one agg; per-type distinct
    * totals BROADCAST back onto the ≤|types|² result. Jaccard in
    * integer ppm over the inclusion–exclusion union.
    *
    * Scale: the only data-sized shuffles are the (user,type) distinct
    * and the per-user collapse — both partial-aggregated; no user×user
    * or fact×fact join anywhere. */
  def audienceOverlap(spark: SparkSession, dir: String): DataFrame =
    audienceOverlapOf(Tables.events(spark, dir))

  /** [[audienceOverlap]] over any events-shaped frame (spec entry). */
  private[graft] def audienceOverlapOf(events: DataFrame): DataFrame = {
    val ut = events.select("user_id", "event_type").distinct()
    val perType = ut.groupBy("event_type")
      .agg(count(lit(1)).as("n_users"))
    val pairs = ut.groupBy("user_id")
      .agg(sort_array(collect_set(col("event_type"))).as("ts"))
      .filter(size(col("ts")) >= 2)
      .select(explode(expr(
        """flatten(transform(ts, (x, i) ->
          |  transform(slice(ts, i + 2, size(ts)),
          |            y -> named_struct('a', x, 'b', y))))""".stripMargin)).as("p"))
      .select(col("p.a").as("type_a"), col("p.b").as("type_b"))
      .groupBy("type_a", "type_b")
      .agg(count(lit(1)).as("n_both"))
    pairs
      .join(broadcast(perType.select(col("event_type").as("type_a"),
        col("n_users").as("n_a"))), Seq("type_a"))
      .join(broadcast(perType.select(col("event_type").as("type_b"),
        col("n_users").as("n_b"))), Seq("type_b"))
      .withColumn("jaccard_ppm",
        expr("n_both * 1000000 div (n_a + n_b - n_both)"))
      .select("type_a", "type_b", "n_a", "n_b", "n_both", "jaccard_ppm")
      .orderBy("type_a", "type_b")
  }

  /** SMOOTHED TARGET ENCODING — the feature-engineering staple for
    * high-cardinality categoricals: each nation's mean customer balance
    * shrunk toward the global mean with pseudo-count m=20
    * (enc = (Σ_cat + m·global_mean)/(n_cat + m)), so small categories
    * don't memorize noise. All integer cents with floored divisions —
    * the encoding table is reproducible bit-for-bit anywhere.
    *
    * Scale: one partial+final agg to the category table; the global
    * mean is a 1-row broadcast. The encoding table itself then
    * broadcasts onto any fact table that needs the feature. */
  def targetEncode(spark: SparkSession, dir: String, m: Int = 20): DataFrame = {
    val cust = Tables.customer(spark, dir)
      .select(col("c_nationkey"),
        expr("CAST(round(c_acctbal * 100) AS BIGINT)").as("cents"))
    val glob = cust.agg(
      expr("CAST(sum(cents) AS BIGINT)").as("g_sum"),
      count(lit(1)).as("g_n"))
      .select(expr("g_sum div g_n").as("g_mean_cents"))
    cust.groupBy("c_nationkey")
      .agg(count(lit(1)).as("n"),
        expr("CAST(sum(cents) AS BIGINT)").as("cat_sum"))
      .crossJoin(broadcast(glob))
      .select(col("c_nationkey"), col("n"),
        expr("cat_sum div n").as("raw_mean_cents"),
        col("g_mean_cents"),
        expr(s"(cat_sum + ${m}L * g_mean_cents) div (n + ${m}L)").as("encoded_cents"))
      .orderBy("c_nationkey")
  }

  /** WINSORIZED MEAN — the robust-mean companion to the outlier gates:
    * order totals clamped at the EXACT p1/p99 dictionary percentiles
    * (the cross-multiplied ordinal rule — smallest value whose
    * cumulative count·100 ≥ n·p), then the mean over clamped values.
    * Reported against the raw mean so the tail influence is the visible
    * delta. All integer cents, floored divisions.
    *
    * Scale: the percentile pass runs on the distinct-cents dictionary
    * (count-of-counts — no corpus sort), the two bounds BROADCAST as a
    * 1-row stat, and the clamped mean is one more partial+final agg.
    * Two scans of the fact column total. */
  def winsorize(spark: SparkSession, dir: String): DataFrame =
    winsorizeOf(Tables.orders(spark, dir)
      .select(expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("cents")))

  /** [[winsorize]] over any 1-column (`cents`) frame (spec entry). */
  private[graft] def winsorizeOf(vals: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val dict = vals.groupBy("cents").agg(count(lit(1)).as("c"))
    val run = Window.orderBy("cents")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val tot = dict.agg(expr("CAST(sum(c) AS BIGINT)").as("n"))
    val bounds = dict.withColumn("cum", sum(col("c")).over(run))
      .crossJoin(broadcast(tot))
      .groupBy("n")
      .agg(expr("CAST(min(CASE WHEN cum * 100 >= n * 1 THEN cents END) AS BIGINT)").as("p01_cents"),
        expr("CAST(min(CASE WHEN cum * 100 >= n * 99 THEN cents END) AS BIGINT)").as("p99_cents"))
    vals.crossJoin(broadcast(bounds))
      .select(col("n"), col("p01_cents"), col("p99_cents"), col("cents"),
        expr("greatest(p01_cents, least(p99_cents, cents))").as("w"))
      .groupBy("n", "p01_cents", "p99_cents")
      .agg(expr("CAST(sum(cents) AS BIGINT) div count(1)").as("mean_cents"),
        expr("CAST(sum(w) AS BIGINT) div count(1)").as("winsorized_mean_cents"))
      .select("n", "p01_cents", "p99_cents", "mean_cents", "winsorized_mean_cents")
  }

  /** LARGEST-REMAINDER BUDGET ALLOCATION — proration done EXACTLY: a
    * fixed budget (10⁶ units) split across nations proportional to
    * order revenue, floor shares first, then the leftover units go to
    * the largest fractional remainders (ties → lower nation key) — the
    * Hamilton-method rule every finance/capacity allocator implements,
    * and gets wrong with floats. Everything is BIGINT: floor =
    * B·rev div R, remainder = B·rev mod R, and Σ alloc = B by
    * construction. Revenue in whole currency units so B·rev holds in
    * BIGINT to ~10¹²-unit totals.
    *
    * Scale: one broadcast-dim join + partial+final agg to the
    * |nations|-row table; the ranking windows run on that tiny table.
    * The allocation table then broadcasts wherever quotas are
    * enforced. */
  def allocBudget(spark: SparkSession, dir: String, budget: Long = 1000000L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val rev = Tables.orders(spark, dir)
      .join(broadcast(Tables.customer(spark, dir)
        .select(col("c_custkey"), col("c_nationkey"))),
        col("o_custkey") === col("c_custkey"))
      .groupBy("c_nationkey")
      .agg(expr("CAST(sum(CAST(round(o_totalprice) AS BIGINT)) AS BIGINT)").as("rev"))
    val tot = rev.agg(expr("CAST(sum(rev) AS BIGINT)").as("r_total"))
    val byRem = Window.orderBy(col("rem").desc, col("c_nationkey").asc)
    val all = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    rev.crossJoin(broadcast(tot))
      .withColumn("fl", expr(s"(${budget}L * rev) div r_total"))
      .withColumn("rem", expr(s"(${budget}L * rev) % r_total"))
      .withColumn("rnk", row_number().over(byRem).cast("long"))
      .withColumn("leftover", lit(budget) - sum(col("fl")).over(all))
      .withColumn("alloc_units",
        col("fl") + when(col("rnk") <= col("leftover"), 1L).otherwise(0L))
      .select("c_nationkey", "rev", "fl", "rem", "alloc_units")
      .orderBy("c_nationkey")
  }

  /** LOG2 VALUE HISTOGRAM — order-of-magnitude profiling of the event
    * value distribution (the long-tail shape check): bucket =
    * floor(log2(cents)), computed EXACTLY as the length of the binary
    * digit string (`bin`/`to_base(…,2)`) — no float log whose boundary
    * rounding could disagree across engines at powers of two. Zero
    * values get bucket −1 (no binary magnitude); per bucket: count,
    * min/max cents (the audit that buckets are tight).
    *
    * Scale: pure map-side projection + one ≤64-group aggregate. */
  def log2Hist(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .select(expr("CAST(round(value * 100) AS BIGINT)").as("cents"))
      .withColumn("bucket",
        when(col("cents") <= 0, lit(-1L))
          .otherwise(length(expr("bin(cents)")).cast("long") - 1))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n"), min(col("cents")).as("min_cents"),
        max(col("cents")).as("max_cents"))
      .orderBy("bucket")

  /** CUPED VARIANCE REDUCTION — the industry-standard pre-experiment
    * covariate adjustment (Deng et al., WSDM'13): per user, X = pre-
    * period spend and Y = experiment-period spend (calendar split at
    * the observed midpoint day), θ = cov(X,Y)/var(X) pooled, and the
    * treatment effect re-estimated on Y−θX. Moments are EXACT BIGINT
    * (dollar units — round(value) — keep n·Σxy inside the BIGINT
    * envelope through the 10× gate; a 100× deployment would lift the
    * moment columns to DECIMAL(38,0) as `agg_ab_significance` does);
    * the only floats are the final θ, means-difference and adjusted
    * difference, each a fixed short sequence of correctly-rounded IEEE
    * ops over exact integers (the `agg_chi2_cells` discipline), so the
    * row still hashes identically across engines. Variant split is
    * A = even user_id, matching [[abSignificanceOf]].
    *
    * Scale: one user_id aggregate off the scan, then a single 1-row
    * global moment aggregate — partial+final all the way; the midpoint
    * is a broadcast scalar. */
  def cupedAdjustment(spark: SparkSession, dir: String): DataFrame =
    cupedOf(Tables.events(spark, dir))

  /** [[cupedAdjustment]] core over any events-shaped frame (spec entry). */
  private[graft] def cupedOf(events: DataFrame): DataFrame = {
    val base = events.select(col("user_id"), to_date(col("ts")).as("d"),
      expr("CAST(round(value) AS BIGINT)").as("v"))
    val mid = base.agg(expr(
      "date_add(min(d), CAST(datediff(max(d), min(d)) div 2 AS INT))").as("mid"))
    val per = base.crossJoin(broadcast(mid))
      .groupBy("user_id")
      .agg(sum(when(col("d") < col("mid"), col("v")).otherwise(0L)).as("x"),
        sum(when(col("d") >= col("mid"), col("v")).otherwise(0L)).as("y"))
      .withColumn("t", when(col("user_id") % 2 === 0, 1L).otherwise(0L))
    per.agg(
      count(lit(1)).as("n"),
      sum(col("x")).as("sx"), sum(col("y")).as("sy"),
      sum(col("x") * col("y")).as("sxy"), sum(col("x") * col("x")).as("sxx"),
      sum(col("t")).as("n_t"), sum(lit(1L) - col("t")).as("n_c"),
      sum(col("t") * col("x")).as("sx_t"), sum((lit(1L) - col("t")) * col("x")).as("sx_c"),
      sum(col("t") * col("y")).as("sy_t"), sum((lit(1L) - col("t")) * col("y")).as("sy_c"))
      .withColumn("cov_n2", expr("n * sxy - sx * sy"))
      .withColumn("var_n2", expr("n * sxx - sx * sx"))
      .withColumn("theta",
        expr("CAST(cov_n2 AS DOUBLE) / CAST(var_n2 AS DOUBLE)"))
      .withColumn("raw_diff",
        expr("CAST(sy_t * n_c - sy_c * n_t AS DOUBLE) / CAST(n_t * n_c AS DOUBLE)"))
      .withColumn("x_diff",
        expr("CAST(sx_t * n_c - sx_c * n_t AS DOUBLE) / CAST(n_t * n_c AS DOUBLE)"))
      .withColumn("adj_diff", expr("raw_diff - theta * x_diff"))
      .select("n", "n_t", "n_c", "cov_n2", "var_n2",
        "theta", "raw_diff", "x_diff", "adj_diff")
  }

  /** DETERMINISTIC BOOTSTRAP CONFIDENCE INTERVAL — the percentile-
    * method 95% CI for total daily revenue, with the resampling RNG
    * replaced by an md5-derived index stream (draw (b, j) picks day
    * `md5("b_j") % n`): every engine and every re-run draws the SAME
    * resamples, so the interval is hash-gateable — seeded-RNG
    * reproducibility taken to its logical end, the same discipline as
    * [[graft.functions.TextAnalysis.epochShuffle]]. B = 200 resample
    * sums over the daily-revenue dictionary; bounds are the exact 5th
    * and 196th order statistics (2.5% / 98%, bi tie-break), in integer
    * cents end to end.
    *
    * Scale: the dictionary is calendar-bounded (days, not events), so
    * the B×n draw table is a map-side explode off a BROADCAST
    * dictionary — the corpus-sized work is only the one daily groupBy;
    * the global windows run over ≤ max(B, days) rows. */
  def bootstrapCi(spark: SparkSession, dir: String, b: Int = 200): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val daily = Tables.events(spark, dir)
      .select(to_date(col("ts")).as("d"),
        expr("CAST(round(value * 100) AS BIGINT)").as("vc"))
      .groupBy("d").agg(sum(col("vc")).as("v"))
    val idx = daily
      .withColumn("i", row_number().over(Window.orderBy("d")).cast("long") - 1)
      .select("i", "v")
    val stats = idx.agg(count(lit(1)).as("n"), sum(col("v")).as("observed"))
    val draws = spark.range(b.toLong).select(col("id").as("bi"))
      .crossJoin(broadcast(stats.select(col("n"))))
      .select(col("bi"), explode(expr("sequence(0L, n - 1)")).as("j"), col("n"))
      .withColumn("pick", expr(
        """CAST(conv(substring(md5(concat(CAST(bi AS STRING), '_',
          |CAST(j AS STRING))), 1, 8), 16, 10) AS BIGINT) % n""".stripMargin))
      .join(broadcast(idx), col("pick") === col("i"))
      .groupBy("bi").agg(sum(col("v")).as("rs"))
    val ranked = draws
      .withColumn("rk", row_number().over(Window.orderBy(col("rs"), col("bi"))))
    ranked.filter(col("rk") === 5 || col("rk") === b - 4)
      .agg(min(col("rs")).as("lo_sum_cents"), max(col("rs")).as("hi_sum_cents"))
      .crossJoin(broadcast(stats))
      .select(col("n").as("n_days"), lit(b.toLong).as("n_resamples"),
        col("observed").as("observed_sum_cents"),
        col("lo_sum_cents"), col("hi_sum_cents"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "agg_bootstrap_ci"        -> ((s: SparkSession, d: String) => bootstrapCi(s, d)),
    "agg_cuped"               -> cupedAdjustment _,
    "agg_log2_hist"           -> log2Hist _,
    "agg_alloc_budget"        -> ((s: SparkSession, d: String) => allocBudget(s, d)),
    "agg_winsorize"           -> winsorize _,
    "agg_audience_overlap"    -> audienceOverlap _,
    "agg_target_encode"       -> ((s: SparkSession, d: String) => targetEncode(s, d)),
    "agg_ks_test"             -> ksTest _,
    "agg_auc_rank"            -> aucRank _,
    "agg_ab_significance"     -> abSignificance _,
    "agg_mad_outliers"        -> madOutliers _,
    "agg_equidepth_hist"      -> ((s: SparkSession, d: String) => equidepthHist(s, d)),
    "agg_chi2_cells"          -> chi2Independence _,
    "agg_gini_segment"        -> giniBySegment _,
    "agg_benford_prices"      -> benfordPrices _,
    "agg_equiwidth_hist"      -> equiwidthHist _,
    "agg_minmax_scale"        -> minmaxScale _,
    "agg_retention_cohorts"   -> retentionCohorts _,
    "agg_grouping_sets"       -> groupingSetsStatusPriority _,
    "agg_profile_columns"     -> profileColumns _,
    "agg_outlier_zscore"      -> outlierZscore _,
    "agg_approx_percentile"   -> approxPercentileChecked _,
    "agg_corr_value_time"     -> corrValueTime _,
    "agg_topk_typed"          -> topkTypedAgg _,
    "agg_cube"                -> cubeStatusPriority _,
    "agg_pivot_event_types"   -> pivotEventTypes _,
    "agg_unpivot_events"      -> unpivotEventCounts _,
    "agg_doc_percentiles"     -> docLengthPercentiles _,
    "agg_rollup"              -> rollupRegionNation _,
    "agg_approx_distinct"     -> approxDistinctChecked _,
    "agg_hll_sketch_merge"    -> hllSketchMergeChecked _,
    "agg_heavy_hitters"       -> heavyHittersChecked _,
    "agg_countmin"            -> countMinChecked _,
    "agg_scoring_ladder"      -> scoringLadder _,
    "agg_pricing_summary"     -> pricingSummary _,
    "agg_customer_value"      -> customerValue _,
    "agg_consistency_score"   -> consistencyScore _,
    "agg_viral_orders"        -> viralOrdersCount _,
    "agg_conditional_split"   -> conditionalSplitEngagement _,
    "agg_global_summary"      -> globalSummaryStats _,
    "agg_histogram_hours"     -> histogramHours _,
  )

  val oracles: Map[String, String] = Map(
    // same binary-digit-length bucketing (to_base mirrors bin)
    "agg_log2_hist" ->
      """WITH c AS (SELECT CAST(round(value * 100) AS BIGINT) AS cents FROM events)
         SELECT CASE WHEN cents <= 0 THEN -1
                     ELSE CAST(len(to_base(cents, 2)) AS BIGINT) - 1 END AS bucket,
                count(*) AS n,
                CAST(min(cents) AS BIGINT) AS min_cents,
                CAST(max(cents) AS BIGINT) AS max_cents
         FROM c GROUP BY 1 ORDER BY 1""",
    // same dollar units, same exact BIGINT moments, same two-divide /
    // one-multiply IEEE tail
    "agg_cuped" ->
      """WITH base AS (
           SELECT user_id, CAST(ts AS DATE) AS d,
                  CAST(round(value) AS BIGINT) AS v
           FROM events),
         mid AS (SELECT min(d) + CAST(CAST(date_diff('day', min(d), max(d)) AS BIGINT)
                    // 2 AS INTEGER) AS mid FROM base),
         per AS (
           SELECT user_id,
             CAST(sum(CASE WHEN d < (SELECT mid FROM mid) THEN v ELSE 0 END) AS BIGINT) AS x,
             CAST(sum(CASE WHEN d >= (SELECT mid FROM mid) THEN v ELSE 0 END) AS BIGINT) AS y,
             CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END AS t
           FROM base GROUP BY 1),
         m AS (
           SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
             CAST(sum(x * y) AS BIGINT) AS sxy, CAST(sum(x * x) AS BIGINT) AS sxx,
             CAST(sum(t) AS BIGINT) AS n_t, CAST(sum(1 - t) AS BIGINT) AS n_c,
             CAST(sum(t * x) AS BIGINT) AS sx_t, CAST(sum((1 - t) * x) AS BIGINT) AS sx_c,
             CAST(sum(t * y) AS BIGINT) AS sy_t, CAST(sum((1 - t) * y) AS BIGINT) AS sy_c
           FROM per)
         SELECT n, n_t, n_c,
           n * sxy - sx * sy AS cov_n2,
           n * sxx - sx * sx AS var_n2,
           CAST(n * sxy - sx * sy AS DOUBLE) / CAST(n * sxx - sx * sx AS DOUBLE) AS theta,
           CAST(sy_t * n_c - sy_c * n_t AS DOUBLE) / CAST(n_t * n_c AS DOUBLE) AS raw_diff,
           CAST(sx_t * n_c - sx_c * n_t AS DOUBLE) / CAST(n_t * n_c AS DOUBLE) AS x_diff,
           CAST(sy_t * n_c - sy_c * n_t AS DOUBLE) / CAST(n_t * n_c AS DOUBLE)
             - (CAST(n * sxy - sx * sy AS DOUBLE) / CAST(n * sxx - sx * sx AS DOUBLE))
               * (CAST(sx_t * n_c - sx_c * n_t AS DOUBLE) / CAST(n_t * n_c AS DOUBLE)) AS adj_diff
         FROM m""",
    // same md5-indexed draws over the same day dictionary, same exact
    // order statistics
    "agg_bootstrap_ci" ->
      """WITH daily AS (
           SELECT CAST(ts AS DATE) AS d,
                  CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS v
           FROM events GROUP BY 1),
         idx AS (SELECT row_number() OVER (ORDER BY d) - 1 AS i, v FROM daily),
         st AS (SELECT CAST(count(*) AS BIGINT) AS n,
                       CAST(sum(v) AS BIGINT) AS observed FROM idx),
         draws AS (
           SELECT b.bi, CAST('0x' || substr(md5(CAST(b.bi AS VARCHAR) || '_'
                    || CAST(j.j AS VARCHAR)), 1, 8) AS BIGINT) % st.n AS pick
           FROM (SELECT unnest(range(200)) AS bi) b,
                (SELECT unnest(range((SELECT n FROM st))) AS j) j,
                st),
         rs AS (SELECT d.bi, CAST(sum(i.v) AS BIGINT) AS rs
                FROM draws d JOIN idx i ON d.pick = i.i GROUP BY 1),
         rk AS (SELECT rs, row_number() OVER (ORDER BY rs, bi) AS rk FROM rs)
         SELECT st.n AS n_days, CAST(200 AS BIGINT) AS n_resamples,
                st.observed AS observed_sum_cents,
                (SELECT rs FROM rk WHERE rk = 5) AS lo_sum_cents,
                (SELECT rs FROM rk WHERE rk = 196) AS hi_sum_cents
         FROM st""",
    // same floor/mod split of B*rev, same (rem desc, key) leftover
    // hand-out
    "agg_alloc_budget" ->
      """WITH rev AS (
           SELECT c.c_nationkey,
                  CAST(sum(CAST(round(o.o_totalprice) AS BIGINT)) AS BIGINT) AS rev
           FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
           GROUP BY 1),
         t AS (SELECT CAST(sum(rev) AS BIGINT) AS r_total FROM rev),
         s AS (SELECT rev.c_nationkey, rev.rev,
                 (1000000 * rev.rev) // t.r_total AS fl,
                 (1000000 * rev.rev) % t.r_total AS rem
               FROM rev, t),
         r AS (SELECT c_nationkey, rev, fl, rem,
                 CAST(row_number() OVER (ORDER BY rem DESC, c_nationkey ASC) AS BIGINT) AS rnk,
                 1000000 - CAST(SUM(fl) OVER () AS BIGINT) AS leftover
               FROM s)
         SELECT c_nationkey, rev, fl, rem,
                fl + CASE WHEN rnk <= leftover THEN 1 ELSE 0 END AS alloc_units
         FROM r ORDER BY c_nationkey""",
    // same dictionary percentile rule, same clamp, same floored means
    "agg_winsorize" ->
      """WITH v AS (SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS cents
                    FROM orders),
         dict AS (SELECT cents, count(*) AS c FROM v GROUP BY 1),
         t AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM dict),
         cum AS (SELECT cents, c,
                   CAST(SUM(c) OVER (ORDER BY cents
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
                 FROM dict),
         b AS (SELECT t.n,
                 CAST(min(CASE WHEN cum.cum * 100 >= t.n * 1 THEN cum.cents END) AS BIGINT) AS p01_cents,
                 CAST(min(CASE WHEN cum.cum * 100 >= t.n * 99 THEN cum.cents END) AS BIGINT) AS p99_cents
               FROM cum, t GROUP BY t.n)
         SELECT b.n, b.p01_cents, b.p99_cents,
                CAST(sum(v.cents) AS BIGINT) // count(*) AS mean_cents,
                CAST(sum(greatest(b.p01_cents, least(b.p99_cents, v.cents))) AS BIGINT)
                  // count(*) AS winsorized_mean_cents
         FROM v, b GROUP BY b.n, b.p01_cents, b.p99_cents""",
    // same distinct (user,type) pass, same in-order pair derivation
    // (a < b lexicographically), same inclusion-exclusion ppm
    "agg_audience_overlap" ->
      """WITH ut AS (SELECT DISTINCT user_id, event_type FROM events),
         pt AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_users
                FROM ut GROUP BY 1),
         pr AS (SELECT a.event_type AS type_a, b.event_type AS type_b,
                       CAST(count(*) AS BIGINT) AS n_both
                FROM ut a JOIN ut b
                  ON a.user_id = b.user_id AND a.event_type < b.event_type
                GROUP BY 1, 2)
         SELECT pr.type_a, pr.type_b, ta.n_users AS n_a, tb.n_users AS n_b,
                pr.n_both,
                pr.n_both * 1000000 // (ta.n_users + tb.n_users - pr.n_both) AS jaccard_ppm
         FROM pr
         JOIN pt ta ON pr.type_a = ta.event_type
         JOIN pt tb ON pr.type_b = tb.event_type
         ORDER BY type_a, type_b""",
    // same integer-cents sums, same floored global mean and m=20 shrink
    "agg_target_encode" ->
      """WITH c AS (SELECT c_nationkey,
                           CAST(round(c_acctbal * 100) AS BIGINT) AS cents
                    FROM customer),
         g AS (SELECT CAST(sum(cents) AS BIGINT) // count(*) AS g_mean_cents
               FROM c),
         k AS (SELECT c_nationkey, count(*) AS n,
                      CAST(sum(cents) AS BIGINT) AS cat_sum
               FROM c GROUP BY 1)
         SELECT k.c_nationkey, k.n,
                k.cat_sum // k.n AS raw_mean_cents,
                g.g_mean_cents,
                (k.cat_sum + 20 * g.g_mean_cents) // (k.n + 20) AS encoded_cents
         FROM k, g ORDER BY k.c_nationkey""",
    // same value dictionary, same cross-multiplied sup, same
    // (d desc, cents asc) 1-row pick
    "agg_ks_test" ->
      """WITH d AS (
           SELECT CAST(round(value * 100) AS BIGINT) AS cents,
                  CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
                  CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS n_b
           FROM events WHERE event_type IN ('purchase', 'click')
           GROUP BY 1),
         c AS (SELECT cents, n_a, n_b,
                 CAST(SUM(n_a) OVER (ORDER BY cents
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_a,
                 CAST(SUM(n_b) OVER (ORDER BY cents
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_b
               FROM d),
         t AS (SELECT CAST(sum(n_a) AS BIGINT) AS tot_a,
                      CAST(sum(n_b) AS BIGINT) AS tot_b FROM d)
         SELECT t.tot_a AS n_purchase, t.tot_b AS n_click,
                abs(c.cum_a * t.tot_b - c.cum_b * t.tot_a) * 1000000
                  // (t.tot_a * t.tot_b) AS d_ppm,
                c.cents AS at_cents
         FROM c, t
         ORDER BY d_ppm DESC, at_cents ASC LIMIT 1""",
    // same score dictionary, same 2U accumulation, same BIGINT ppm
    "agg_auc_rank" ->
      """WITH d AS (
           SELECT grp, n_chars AS score,
                  CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS pos
           FROM (SELECT source, lang, n_chars,
                        unnest([source, 'ALL']) AS grp
                 FROM documents)),
         dict AS (
           SELECT grp, score,
                  CAST(sum(pos) AS BIGINT) AS pos_c,
                  CAST(sum(1 - pos) AS BIGINT) AS neg_c
           FROM d GROUP BY grp, score),
         cum AS (
           SELECT grp, pos_c, neg_c,
                  COALESCE(SUM(neg_c) OVER (PARTITION BY grp ORDER BY score
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS neg_below
           FROM dict),
         g AS (
           SELECT grp AS source,
                  CAST(sum(pos_c) AS BIGINT) AS n_pos,
                  CAST(sum(neg_c) AS BIGINT) AS n_neg,
                  CAST(sum(pos_c * (2 * neg_below + neg_c)) AS BIGINT) AS num2
           FROM cum GROUP BY grp)
         SELECT source, n_pos, n_neg,
                CASE WHEN n_pos > 0 AND n_neg > 0
                     THEN num2 * 1000000 // (2 * n_pos * n_neg) END AS auc_ppm
         FROM g ORDER BY source""",
    // same 2x2 algebra in HUGEINT, same integral chi-squared x100
    "agg_ab_significance" ->
      """WITH r AS (
           SELECT user_id, event_type,
                  row_number() OVER (PARTITION BY user_id
                                     ORDER BY ts, event_id) AS rn
           FROM events),
         u AS (
           SELECT user_id,
                  CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS conv
           FROM r WHERE rn = 1),
         cells AS (
           SELECT CAST(SUM(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS users_a,
                  CAST(SUM(CASE WHEN user_id % 2 = 0 THEN conv ELSE 0 END) AS BIGINT) AS conv_a,
                  CAST(SUM(CASE WHEN user_id % 2 <> 0 THEN 1 ELSE 0 END) AS BIGINT) AS users_b,
                  CAST(SUM(CASE WHEN user_id % 2 <> 0 THEN conv ELSE 0 END) AS BIGINT) AS conv_b
           FROM u),
         alg AS (
           SELECT *,
                  CAST(conv_a AS HUGEINT) * (users_b - conv_b)
                    - CAST(conv_b AS HUGEINT) * (users_a - conv_a) AS adbc,
                  CAST(users_a AS HUGEINT) * users_b
                    * (conv_a + conv_b)
                    * (users_a + users_b - conv_a - conv_b) AS den
           FROM cells)
         SELECT users_a, conv_a, users_b, conv_b,
                CASE WHEN users_a = 0 THEN 0
                     ELSE conv_a * 1000000 // users_a END AS rate_a_ppm,
                CASE WHEN users_b = 0 THEN 0
                     ELSE conv_b * 1000000 // users_b END AS rate_b_ppm,
                CAST(CASE WHEN den = 0 THEN 0
                     ELSE (CAST(users_a + users_b AS HUGEINT) * adbc * adbc * 100) // den
                     END AS BIGINT) AS chi2_x100,
                CAST(CASE WHEN den = 0 THEN 0
                     ELSE (CAST(users_a + users_b AS HUGEINT) * adbc * adbc * 100) // den
                     END AS BIGINT) > 384 AS significant_95
         FROM alg""",
    // same dictionary construction declaratively: cum-sum windows over
    // the (segment, dollar) counts, lower medians at cum >= ceil(n/2)
    "agg_mad_outliers" ->
      """WITH v AS (
           SELECT c_mktsegment AS segment,
                  CAST(round(o_totalprice) AS BIGINT) AS usd
           FROM orders JOIN customer ON o_custkey = c_custkey),
         dict AS (SELECT segment, usd, CAST(COUNT(*) AS BIGINT) AS cnt
                  FROM v GROUP BY 1, 2),
         tot AS (SELECT segment, CAST(SUM(cnt) AS BIGINT) AS n
                 FROM dict GROUP BY 1),
         cumv AS (SELECT segment, usd, cnt,
                         CAST(SUM(cnt) OVER (PARTITION BY segment ORDER BY usd
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
                  FROM dict),
         med AS (SELECT c.segment, MIN(usd) AS median_usd
                 FROM cumv c JOIN tot USING (segment)
                 WHERE cum >= (n + 1) // 2 GROUP BY 1),
         dev AS (SELECT d.segment, abs(usd - median_usd) AS dev,
                        CAST(SUM(cnt) AS BIGINT) AS cnt
                 FROM dict d JOIN med USING (segment) GROUP BY 1, 2),
         cumd AS (SELECT segment, dev, cnt,
                         CAST(SUM(cnt) OVER (PARTITION BY segment ORDER BY dev
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
                  FROM dev),
         mad AS (SELECT c.segment, MIN(dev) AS mad_usd
                 FROM cumd c JOIN tot USING (segment)
                 WHERE cum >= (n + 1) // 2 GROUP BY 1),
         outl AS (SELECT d.segment,
                         CAST(SUM(CASE WHEN abs(usd - median_usd) > 5 * mad_usd
                                       THEN cnt ELSE 0 END) AS BIGINT) AS n_outliers
                  FROM dict d JOIN med USING (segment) JOIN mad USING (segment)
                  GROUP BY 1)
         SELECT segment, n AS n_orders, median_usd, mad_usd, n_outliers,
                n_outliers * 1000000 // n AS outlier_ppm
         FROM tot JOIN med USING (segment) JOIN mad USING (segment)
                  JOIN outl USING (segment)
         ORDER BY segment""",
    // declarative window mirror of the distributed prefix-sum ranking
    "agg_equidepth_hist" ->
      """WITH d AS (
           SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
                  CAST(count(*) AS BIGINT) AS cnt
           FROM orders GROUP BY 1),
         c AS (
           SELECT cents, cnt,
                  CAST(coalesce(sum(cnt) OVER (ORDER BY cents
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                    AS BIGINT) AS cumb,
                  CAST(sum(cnt) OVER () AS BIGINT) AS n
           FROM d)
         SELECT CAST(cumb * 16 // n AS BIGINT) AS bucket,
                CAST(sum(cnt) AS BIGINT) AS n_rows,
                min(cents) AS min_cents, max(cents) AS max_cents
         FROM c GROUP BY 1 ORDER BY 1""",
    // same margins, same single-multiply-single-divide contribution
    "agg_chi2_cells" ->
      """WITH cells AS (
           SELECT c.c_mktsegment AS segment, o.o_orderpriority AS priority,
                  CAST(count(*) AS BIGINT) AS observed
           FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
           GROUP BY 1, 2),
         rm AS (SELECT segment, CAST(sum(observed) AS BIGINT) AS r
                FROM cells GROUP BY 1),
         cm AS (SELECT priority, CAST(sum(observed) AS BIGINT) AS c
                FROM cells GROUP BY 1),
         nt AS (SELECT CAST(sum(observed) AS BIGINT) AS n FROM cells)
         SELECT cells.segment, cells.priority, observed, rm.r, cm.c,
                CAST(CAST(rm.r AS HUGEINT) * cm.c * 1000000 // nt.n AS BIGINT)
                  AS expected_ppm,
                CAST(observed * nt.n - rm.r * cm.c AS DOUBLE)
                  * CAST(observed * nt.n - rm.r * cm.c AS DOUBLE)
                  / (CAST(nt.n AS DOUBLE) * CAST(rm.r AS DOUBLE)
                     * CAST(cm.c AS DOUBLE)) AS chi2_contrib
         FROM cells JOIN rm USING (segment) JOIN cm USING (priority)
         CROSS JOIN nt
         ORDER BY 1, 2""",
    // identical dictionary-granular rank-sum algebra
    "agg_gini_segment" ->
      """WITH d AS (
           SELECT c_mktsegment AS segment,
                  CAST(round(c_acctbal * 100) AS BIGINT) AS cents,
                  CAST(count(*) AS BIGINT) AS c
           FROM customer GROUP BY 1, 2),
         cf AS (
           SELECT segment, cents, c,
                  CAST(coalesce(sum(c) OVER (PARTITION BY segment
                    ORDER BY cents ROWS BETWEEN UNBOUNDED PRECEDING
                    AND 1 PRECEDING), 0) AS BIGINT) AS f
           FROM d),
         g AS (
           SELECT segment,
                  CAST(sum(cents * (c * f + c * (c + 1) // 2)) AS BIGINT) AS s1,
                  CAST(sum(cents * c) AS BIGINT) AS s0,
                  CAST(sum(c) AS BIGINT) AS n
           FROM cf GROUP BY 1)
         SELECT segment, n AS n_customers, s0 AS sum_cents,
                CAST(CAST(2 * s1 - (n + 1) * s0 AS HUGEINT) * 1000000
                     // (CAST(n AS HUGEINT) * s0) AS BIGINT) AS gini_ppm
         FROM g ORDER BY 1""",
    // same integer-cents leading digit, same exact ppm literals
    "agg_benford_prices" ->
      """WITH d AS (
           SELECT CAST(substring(CAST(CAST(round(o_totalprice * 100) AS BIGINT)
                                      AS VARCHAR), 1, 1) AS BIGINT) AS digit
           FROM orders),
         f AS (SELECT digit FROM d WHERE digit >= 1),
         t AS (SELECT count(*) AS n_total FROM f),
         g AS (SELECT digit, count(*) AS n_rows FROM f GROUP BY 1),
         e(digit, expected_ppm) AS (VALUES
           (1, CAST(301030 AS BIGINT)), (2, CAST(176091 AS BIGINT)),
           (3, CAST(124939 AS BIGINT)), (4, CAST(96910 AS BIGINT)),
           (5, CAST(79181 AS BIGINT)), (6, CAST(66947 AS BIGINT)),
           (7, CAST(57992 AS BIGINT)), (8, CAST(51153 AS BIGINT)),
           (9, CAST(45757 AS BIGINT)))
         SELECT g.digit, g.n_rows,
                CAST(g.n_rows * 1000000 // t.n_total AS BIGINT) AS observed_ppm,
                e.expected_ppm,
                CAST(g.n_rows * 1000000 // t.n_total AS BIGINT) - e.expected_ppm
                  AS deviation_ppm
         FROM g CROSS JOIN t JOIN e ON g.digit = e.digit
         ORDER BY g.digit""",
    // same integer bucket arithmetic off a scalar-subquery max
    "agg_equiwidth_hist" ->
      """WITH c AS (SELECT CAST(round(value * 100) AS BIGINT) AS cents
                    FROM events),
         m AS (SELECT max(cents) AS mx FROM c)
         SELECT CAST(cents * 20 // (m.mx + 1) AS BIGINT) AS bucket,
                count(*) AS n_rows,
                min(cents) AS min_cents, max(cents) AS max_cents
         FROM c, m GROUP BY 1 ORDER BY 1""",
    // same per-source window min/max, same integer ppm rescale
    "agg_minmax_scale" ->
      """WITH s AS (
           SELECT doc_id, source, n_chars,
                  min(n_chars) OVER (PARTITION BY source) AS mn,
                  max(n_chars) OVER (PARTITION BY source) AS mx
           FROM documents)
         SELECT doc_id, source, n_chars, mn, mx,
                CASE WHEN mx = mn THEN 0
                     ELSE (n_chars - mn) * 1000000 // (mx - mn) END AS scaled_ppm
         FROM s ORDER BY doc_id""",
    "agg_retention_cohorts" ->
      """WITH ev AS (SELECT user_id, CAST(ts AS DATE) AS d FROM events),
         f AS (SELECT user_id, min(d) AS cohort_day FROM ev GROUP BY user_id)
         SELECT f.cohort_day,
                CAST(date_diff('day', f.cohort_day, ev.d) AS BIGINT) // 7 AS week_offset,
                count(DISTINCT ev.user_id) AS n_users
         FROM ev JOIN f ON ev.user_id = f.user_id
         GROUP BY 1, 2 ORDER BY 1, 2""",
    "agg_grouping_sets" ->
      """SELECT o_orderstatus, o_orderpriority,
           CAST(CASE WHEN o_orderstatus IS NULL THEN 2 ELSE 0 END
              + CASE WHEN o_orderpriority IS NULL THEN 1 ELSE 0 END AS BIGINT) AS gid,
           count(*) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
         FROM orders
         GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
         ORDER BY gid ASC, o_orderstatus ASC NULLS FIRST, o_orderpriority ASC NULLS FIRST""",
    "agg_profile_columns" ->
      """WITH s AS (
           SELECT count(*) AS n_rows,
             SUM(CASE WHEN lang IS NULL THEN 1 ELSE 0 END) AS nulls_lang,
             count(DISTINCT lang) AS nd_lang,
             min(CAST(lang AS VARCHAR)) AS min_lang, max(CAST(lang AS VARCHAR)) AS max_lang,
             SUM(CASE WHEN source IS NULL THEN 1 ELSE 0 END) AS nulls_source,
             count(DISTINCT source) AS nd_source,
             min(CAST(source AS VARCHAR)) AS min_source, max(CAST(source AS VARCHAR)) AS max_source,
             SUM(CASE WHEN n_chars IS NULL THEN 1 ELSE 0 END) AS nulls_n_chars,
             count(DISTINCT n_chars) AS nd_n_chars,
             min(CAST(n_chars AS VARCHAR)) AS min_n_chars, max(CAST(n_chars AS VARCHAR)) AS max_n_chars
           FROM documents)
         SELECT 'lang' AS column_name, n_rows, CAST(nulls_lang AS BIGINT) AS n_nulls,
                CAST(nd_lang AS BIGINT) AS n_distinct, min_lang AS min_str, max_lang AS max_str FROM s
         UNION ALL
         SELECT 'n_chars', n_rows, CAST(nulls_n_chars AS BIGINT), CAST(nd_n_chars AS BIGINT),
                min_n_chars, max_n_chars FROM s
         UNION ALL
         SELECT 'source', n_rows, CAST(nulls_source AS BIGINT), CAST(nd_source AS BIGINT),
                min_source, max_source FROM s
         ORDER BY column_name""",
    "agg_outlier_zscore" ->
      """WITH c AS (
           SELECT c_custkey, c_nationkey, c_acctbal,
                  CAST(round(c_acctbal * 100.0) AS BIGINT) AS x
           FROM customer),
         m AS (
           SELECT c_nationkey, count(*) AS n,
                  CAST(SUM(x) AS BIGINT) AS sx,
                  CAST(SUM(x * x) AS BIGINT) AS sxx
           FROM c GROUP BY 1 HAVING count(*) >= 2)
         SELECT c.c_nationkey, c.c_custkey, c.c_acctbal
         FROM c JOIN m USING (c_nationkey)
         WHERE (CAST(m.n AS DOUBLE) * CAST(c.x AS DOUBLE) - CAST(m.sx AS DOUBLE))
             * (CAST(m.n AS DOUBLE) * CAST(c.x AS DOUBLE) - CAST(m.sx AS DOUBLE))
             * (CAST(m.n AS DOUBLE) - 1.0)
             > 4.0 * CAST(m.n AS DOUBLE)
                 * (CAST(m.n AS DOUBLE) * CAST(m.sxx AS DOUBLE)
                    - CAST(m.sx AS DOUBLE) * CAST(m.sx AS DOUBLE))
         ORDER BY c_nationkey, c_custkey""",
    "agg_approx_percentile" ->
      """SELECT lang, count(*) AS n_docs,
           quantile_cont(n_chars, 0.5) AS p50_exact,
           true AS within_tol
         FROM documents GROUP BY lang ORDER BY lang""",
    "agg_corr_value_time" ->
      """WITH m AS (
           SELECT o_custkey,
             CAST(round(o_totalprice * 100.0) AS BIGINT) AS y,
             date_diff('day', DATE '1992-01-01', CAST(o_orderdate AS DATE)) AS x
           FROM orders),
         s AS (
           SELECT o_custkey, count(*) AS n,
             CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
             CAST(SUM(x*x) AS BIGINT) AS sxx, CAST(SUM(y*y) AS BIGINT) AS syy,
             CAST(SUM(x*y) AS BIGINT) AS sxy
           FROM m GROUP BY o_custkey HAVING count(*) >= 2),
         d AS (
           SELECT o_custkey, n,
             CAST(n AS DOUBLE) AS nd,
             CAST(sx AS DOUBLE) AS sxd, CAST(sy AS DOUBLE) AS syd,
             CAST(sxx AS DOUBLE) AS sxxd, CAST(syy AS DOUBLE) AS syyd,
             CAST(sxy AS DOUBLE) AS sxyd
           FROM s),
         e AS (
           SELECT o_custkey, n, nd, sxd, syd, sxyd,
             nd * sxxd - sxd * sxd AS den_x,
             nd * syyd - syd * syd AS den_y
           FROM d)
         SELECT o_custkey, n,
           (sxyd - sxd * syd / nd) / (nd - 1.0) / 100.0 AS covar_samp,
           (nd * sxyd - sxd * syd) / (sqrt(den_x) * sqrt(den_y)) AS corr_value_time
         FROM e WHERE den_x > 0 AND den_y > 0 ORDER BY o_custkey""",
    "agg_topk_typed" ->
      """SELECT o_custkey, rnk, o_orderkey, o_totalprice FROM (
           SELECT o_custkey, o_orderkey, o_totalprice,
             row_number() OVER (PARTITION BY o_custkey
                                ORDER BY o_totalprice DESC, o_orderkey ASC) AS rnk
           FROM orders)
         WHERE rnk <= 3 ORDER BY o_custkey, rnk""",
    // gid derived portably from the subtotal NULLs (the cube columns have
    // no natural nulls) instead of DuckDB's GROUPING(), whose bit order
    // need not match Spark's grouping_id().
    "agg_cube" ->
      """SELECT o_orderstatus, o_orderpriority,
           CAST(CASE WHEN o_orderstatus IS NULL THEN 2 ELSE 0 END
              + CASE WHEN o_orderpriority IS NULL THEN 1 ELSE 0 END AS BIGINT) AS gid,
           count(*) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
         FROM orders
         GROUP BY CUBE (o_orderstatus, o_orderpriority)
         ORDER BY gid ASC, o_orderstatus ASC NULLS FIRST, o_orderpriority ASC NULLS FIRST""",
    "agg_approx_distinct" ->
      """SELECT event_type,
           count(DISTINCT user_id) AS exact_users,
           true AS within_tol
         FROM events GROUP BY event_type ORDER BY event_type""",
    "agg_hll_sketch_merge" ->
      """SELECT count(DISTINCT CAST(ts AS DATE)) AS n_days,
                count(DISTINCT user_id) AS exact_users,
                true AS within_tol
         FROM events""",
    "agg_heavy_hitters" ->
      """WITH s AS (
           SELECT CASE WHEN user_id % 4 = 0
                       THEN 'hot_' || CAST(user_id % 3 AS VARCHAR)
                       ELSE 'cold_' || CAST(user_id AS VARCHAR) END AS item
           FROM events),
         n AS (SELECT count(*) AS n FROM s)
         SELECT item, count(*) AS cnt,
           true AS in_sketch, true AS est_within_bound
         FROM s CROSS JOIN n
         GROUP BY item, n.n HAVING count(*) * 25 > n.n
         ORDER BY item""",
    "agg_countmin" ->
      """WITH s AS (
           SELECT CASE WHEN user_id % 4 = 0
                       THEN 'hot_' || CAST(user_id % 3 AS VARCHAR)
                       ELSE 'cold_' || CAST(user_id AS VARCHAR) END AS item
           FROM events),
         n AS (SELECT count(*) AS n FROM s)
         SELECT item, count(*) AS cnt,
           true AS no_undercount, true AS overcount_within_bound
         FROM s CROSS JOIN n
         GROUP BY item, n.n HAVING count(*) * 25 > n.n
         ORDER BY item""",
    // long form derived directly (conditional counts per (user, type)
    // over the pinned value set — the same cells the pivot produces)
    "agg_unpivot_events" ->
      """SELECT u.user_id, t.event_type,
           CAST(count(e.event_type) AS BIGINT) AS n
         FROM (SELECT DISTINCT user_id FROM events) u
         CROSS JOIN (VALUES ('click'),('error'),('purchase'),('signup'),('view')) AS t(event_type)
         LEFT JOIN events e
           ON e.user_id = u.user_id AND e.event_type = t.event_type
         GROUP BY u.user_id, t.event_type
         ORDER BY u.user_id, t.event_type""",
    "agg_pivot_event_types" ->
      """SELECT user_id,
           count(CASE WHEN event_type = 'click' THEN 1 END) AS click,
           count(CASE WHEN event_type = 'error' THEN 1 END) AS error,
           count(CASE WHEN event_type = 'purchase' THEN 1 END) AS purchase,
           count(CASE WHEN event_type = 'signup' THEN 1 END) AS signup,
           count(CASE WHEN event_type = 'view' THEN 1 END) AS view
         FROM events GROUP BY user_id ORDER BY user_id""",
    "agg_doc_percentiles" ->
      """SELECT lang, count(*) AS n_docs,
           quantile_cont(n_chars, 0.5) AS p50,
           quantile_cont(n_chars, 0.9) AS p90,
           quantile_cont(n_chars, 0.99) AS p99,
           min(n_chars) AS min_chars, max(n_chars) AS max_chars
         FROM documents GROUP BY lang ORDER BY lang""",
    "agg_rollup" ->
      """SELECT r_name, n_name, count(*) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
         FROM orders
         JOIN customer ON o_custkey = c_custkey
         JOIN nation ON c_nationkey = n_nationkey
         JOIN region ON n_regionkey = r_regionkey
         GROUP BY ROLLUP (r_name, n_name)
         ORDER BY r_name ASC NULLS FIRST, n_name ASC NULLS FIRST""",
    "agg_scoring_ladder" ->
      """WITH s AS (
           SELECT o_custkey, count(*) AS n_orders,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS avg_price,
             max(o_totalprice) AS max_price
           FROM orders GROUP BY o_custkey),
         sc AS (
           SELECT o_custkey, n_orders,
             avg_price < 50000.0 AS i_low_avg, max_price > 400000.0 AS i_big_single,
             least(n_orders * 10, 40)
               + CASE WHEN avg_price < 50000.0 THEN 25 ELSE 0 END
               + CASE WHEN max_price > 400000.0 THEN 20 ELSE 0 END AS score
           FROM s)
         SELECT o_custkey, n_orders, score,
           concat_ws(' | ',
             CASE WHEN i_low_avg THEN 'Low average order value' END,
             CASE WHEN i_big_single THEN 'Single outsized order' END) AS indicators,
           greatest(0, 100 - score) AS authenticity,
           CASE WHEN score > 50 THEN 'Poor' WHEN score > 25 THEN 'Moderate'
                ELSE 'Good' END AS quality
         FROM sc ORDER BY o_custkey""",
    "agg_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
           CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS sum_disc_price,
           CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) * (1.0 + l_tax) AS DECIMAL(18,6))) AS DOUBLE) AS sum_charge,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / count(l_quantity) AS avg_qty,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / count(l_extendedprice) AS avg_price,
           CAST(SUM(CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) / count(l_discount) AS avg_disc,
           count(*) AS count_order
         FROM lineitem
         WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
         GROUP BY l_returnflag, l_linestatus
         ORDER BY l_returnflag, l_linestatus""",
    "agg_customer_value" ->
      """SELECT c_custkey, c_name, count(*) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_spent,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) / count(o_totalprice) AS avg_order_value
         FROM orders JOIN customer ON o_custkey = c_custkey
         GROUP BY c_custkey, c_name ORDER BY c_custkey""",
    "agg_consistency_score" ->
      """WITH s AS (
           SELECT o_custkey, count(*) AS n_orders,
             CAST(SUM(CAST(round(o_totalprice * 100.0) AS BIGINT)) AS DOUBLE) / 100.0 AS sx,
             CAST(SUM(CAST(round(o_totalprice * 100.0) AS BIGINT)
                    * CAST(round(o_totalprice * 100.0) AS BIGINT)) AS DOUBLE) / 10000.0 AS sq
           FROM orders GROUP BY o_custkey)
         SELECT o_custkey, n_orders,
           sx / n_orders AS mean_price,
           sqrt((sq - sx*sx/n_orders) / (n_orders - 1.0)) AS sd_price,
           greatest(0.0, 100.0 - sqrt((sq - sx*sx/n_orders) / (n_orders - 1.0))
                                 / greatest(sx / n_orders, 0.1) * 100.0) AS consistency_score
         FROM s WHERE n_orders >= 2 ORDER BY o_custkey""",
    "agg_viral_orders" ->
      """WITH m AS (
           SELECT o_custkey AS k,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS cust_mean
           FROM orders GROUP BY o_custkey)
         SELECT o_custkey, count(*) AS n_orders,
           count(CASE WHEN o_totalprice > 2.0 * cust_mean THEN 1 END) AS viral_orders
         FROM orders JOIN m ON o_custkey = k
         GROUP BY o_custkey ORDER BY o_custkey""",
    "agg_conditional_split" ->
      """SELECT user_id,
           count(CASE WHEN event_type = 'purchase' OR value > 150.0 THEN 1 END) AS n_sponsored,
           count(CASE WHEN NOT (event_type = 'purchase' OR value > 150.0) THEN 1 END) AS n_organic,
           CAST(SUM(CASE WHEN event_type = 'purchase' OR value > 150.0 THEN CAST(value AS DECIMAL(18,2)) END) AS DOUBLE)
             / count(CASE WHEN event_type = 'purchase' OR value > 150.0 THEN 1 END) AS avg_sponsored,
           CAST(SUM(CASE WHEN NOT (event_type = 'purchase' OR value > 150.0) THEN CAST(value AS DECIMAL(18,2)) END) AS DOUBLE)
             / count(CASE WHEN NOT (event_type = 'purchase' OR value > 150.0) THEN 1 END) AS avg_organic,
           (CAST(SUM(CASE WHEN event_type = 'purchase' OR value > 150.0 THEN CAST(value AS DECIMAL(18,2)) END) AS DOUBLE)
             / count(CASE WHEN event_type = 'purchase' OR value > 150.0 THEN 1 END))
           / nullif(CAST(SUM(CASE WHEN NOT (event_type = 'purchase' OR value > 150.0) THEN CAST(value AS DECIMAL(18,2)) END) AS DOUBLE)
             / count(CASE WHEN NOT (event_type = 'purchase' OR value > 150.0) THEN 1 END), 0.0) AS sponsored_vs_organic_ratio
         FROM events GROUP BY user_id ORDER BY user_id""",
    "agg_global_summary" ->
      """SELECT count(*) AS total_events,
           count(DISTINCT user_id) AS n_users,
           count(DISTINCT CASE WHEN event_type = 'purchase' THEN user_id END) AS n_purchasers,
           count(CASE WHEN event_type = 'error' THEN 1 END) AS n_errors,
           count(DISTINCT CASE WHEN event_type = 'purchase' THEN user_id END) * 100.0
             / count(DISTINCT user_id) AS pct_purchasers
         FROM events""",
    "agg_histogram_hours" ->
      """SELECT hour(ts) AS h, count(*) AS n FROM events GROUP BY 1 ORDER BY h""",
  )
}
