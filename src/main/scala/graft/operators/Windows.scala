package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import graft.sources.Tables
import graft.functions.Det._

/** Window functions / sorts / top-k / order-dependent semantics —
  * SURVEY.md §2.5 (+ the order-sensitive aggs of §2.4) generalized to the
  * star schema.
  *
  * All reference "first match" / "head N" / "split half" semantics depend
  * on a concrete total order (SURVEY §7.4 risk 1) — every window here
  * carries an explicit deterministic tie-break key.
  *
  * Scale: each window partitions by a high-cardinality entity key
  * (customer / user), so partitions are small and the shuffle is the
  * same hash shuffle the grouped aggregations already pay; top-k per
  * group never materializes unbounded state. The only global sort is the
  * final `ORDER BY ... LIMIT k`, which Spark executes as
  * TakeOrderedAndProject (no full sort at scale).
  */
object Windows {

  private val dec2 = DecimalType(18, 2)

  /** O-36/O-48 top-k by score per group (analyze_insta_enhanced.py:1489-1543). */
  def topkOrdersPerCustomer(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("o_custkey").orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
    Tables.orders(spark, dir)
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= 3)
      .select(col("o_custkey"), col("rnk"), col("o_orderkey"), col("o_totalprice"))
      .orderBy("o_custkey", "rnk")
  }

  /** O-35/O-49 latest-k by time per group (analyze_insta_enhanced.py:513-533). */
  def latestEventsPerUser(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("ts_ns").desc, col("event_id").desc)
    Tables.events(spark, dir)
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= 3)
      .select(col("user_id"), col("rnk"), col("event_id"), col("value"))
      .orderBy("user_id", "rnk")
  }

  /** O-32/O-51 consecutive-gap posting frequency
    * (analyze_insta_enhanced.py:464-485): lag over time order → mean gap →
    * label ladder. */
  def lagGapFrequency(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("o_custkey").orderBy(col("o_orderdate").asc, col("o_orderkey").asc)
    Tables.orders(spark, dir)
      .withColumn("prev_date", lag(col("o_orderdate"), 1).over(w))
      .withColumn("gap_days", datediff(col("o_orderdate").cast("date"), col("prev_date").cast("date")))
      .groupBy("o_custkey")
      .agg(count(lit(1)).as("n_orders"),
           (sum(col("gap_days")).cast("double") / count(col("gap_days"))).as("avg_gap_days"))
      .filter(col("n_orders") >= 2)
      .withColumn("order_frequency",
        when(col("avg_gap_days") <= 7, lit("Weekly or more"))
          .when(col("avg_gap_days") <= 30, lit("Monthly"))
          .when(col("avg_gap_days") <= 90, lit("Quarterly"))
          .otherwise(lit("Rare")))
      .orderBy("o_custkey")
  }

  /** O-33 best-posting-time mode (analyze_insta_enhanced.py:487-498): modal
    * hour per user (tie → smallest hour) + day-part label. */
  def modeEventHour(spark: SparkSession, dir: String): DataFrame = {
    val counts = Tables.events(spark, dir)
      .groupBy(col("user_id"), hour(col("ts")).as("h"))
      .agg(count(lit(1)).as("n"))
    val w = Window.partitionBy("user_id").orderBy(col("n").desc, col("h").asc)
    counts.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") === 1)
      .select(col("user_id"), col("h").as("best_hour"), col("n").as("n_at_best"))
      .withColumn("daypart",
        when(col("best_hour").between(6, 11), lit("Morning"))
          .when(col("best_hour").between(12, 17), lit("Afternoon"))
          .when(col("best_hour").between(18, 23), lit("Evening"))
          .otherwise(lit("Night")))
      .orderBy("user_id")
  }

  /** O-34/O-52 split-half trend (analyze_insta_enhanced.py:500-511): newest
    * half vs older half means; ratio > 1.15 Growing, < 0.85 Declining.
    * Mirrors the reference's `edges[:n//2]` (newest-first) split — with an
    * explicit key tie-break instead of implicit array order. */
  def splitHalfTrend(spark: SparkSession, dir: String): DataFrame = {
    val w  = Window.partitionBy("o_custkey").orderBy(col("o_orderdate").desc, col("o_orderkey").desc)
    val wp = Window.partitionBy("o_custkey")
    val recent = col("rn") * 2 <= col("n")
    Tables.orders(spark, dir)
      .withColumn("rn", row_number().over(w))
      .withColumn("n", count(lit(1)).over(wp))
      .filter(col("n") >= 2)
      .groupBy("o_custkey")
      .agg(
        count(lit(1)).as("n_orders"),
        (sum(when(recent, col("o_totalprice").cast(dec2))).cast("double")
          / count(when(recent, 1))).as("avg_recent"),
        (sum(when(!recent, col("o_totalprice").cast(dec2))).cast("double")
          / count(when(!recent, 1))).as("avg_older"))
      .withColumn("ratio", col("avg_recent") / col("avg_older"))
      .withColumn("trend",
        when(col("ratio") > 1.15, lit("Growing"))
          .when(col("ratio") < 0.85, lit("Declining"))
          .otherwise(lit("Stable")))
      .orderBy("o_custkey")
  }

  /** O-19 head-N in scan order (analyze_insta_enhanced.py:269 — "first 20
    * posts"): first 2 orders per customer in time order. */
  def headNWindow(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("o_custkey").orderBy(col("o_orderdate").asc, col("o_orderkey").asc)
    Tables.orders(spark, dir)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 2)
      .groupBy("o_custkey")
      .agg(count(lit(1)).as("n_head"),
           (sum(col("o_totalprice").cast(dec2)).cast("double") / count(lit(1))).as("head_avg_price"))
      .orderBy("o_custkey")
  }

  /** O-47/O-50 global sort + limit (analyze_insta_enhanced.py:2005):
    * top-25 customers by balance. Executed as TakeOrderedAndProject —
    * no cluster-wide sort. */
  def globalSortLimit(spark: SparkSession, dir: String): DataFrame = {
    val top = Tables.customer(spark, dir)
      .orderBy(col("c_acctbal").desc, col("c_custkey").asc)
      .limit(25)
    val w = Window.orderBy(col("c_acctbal").desc, col("c_custkey").asc)
    top.withColumn("rnk", row_number().over(w))
      .select(col("rnk"), col("c_custkey"), col("c_name"), col("c_acctbal"))
      .orderBy("rnk")
  }

  /** O-53 first-match-by-priority cascade (analyze_insta_enhanced.py:1316-1376
    * collab source priority): first event per user by source priority then
    * time. */
  def firstMatchCascade(spark: SparkSession, dir: String): DataFrame = {
    val prio = when(col("event_type") === "purchase", 1)
      .when(col("event_type") === "signup", 2)
      .when(col("event_type") === "error", 3)
      .when(col("event_type") === "view", 4)
      .otherwise(5)
    val w = Window.partitionBy("user_id").orderBy(col("prio").asc, col("ts_ns").asc, col("event_id").asc)
    Tables.events(spark, dir)
      .withColumn("prio", prio)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("user_id"), col("event_type"), col("event_id"))
      .orderBy("user_id")
  }

  /** Batch gap-sessionization (the oracle-checkable complement to
    * streaming/Streams.sessionize): a new session starts after >30 min
    * of inactivity; session id = running count of session starts (lag +
    * cumulative sum — two windows over one user partition, one shuffle). */
  def sessionizeEvents(spark: SparkSession, dir: String): DataFrame = {
    // micros, not nanos: DuckDB truncates parquet TIMESTAMP(NANOS) to
    // microsecond TIMESTAMP, so the cross-engine contract is micros
    val gapUs = 30L * 60 * 1000 * 1000
    val wU = Window.partitionBy("user_id").orderBy(col("ts_us").asc, col("event_id").asc)
    Tables.events(spark, dir)
      .withColumn("ts_us", expr("ts_ns div 1000"))
      .withColumn("prev_ts", lag(col("ts_us"), 1).over(wU))
      .withColumn("new_session",
        when(col("prev_ts").isNull || col("ts_us") - col("prev_ts") > gapUs, 1L)
          .otherwise(0L))
      .withColumn("session_id", sum(col("new_session")).over(
        wU.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy("user_id", "session_id")
      .agg(count(lit(1)).as("n_events"),
        min(col("ts_us")).as("session_start_us"),
        max(col("ts_us")).as("session_end_us"),
        dsum(col("value")).as("total_value"))
      .orderBy("user_id", "session_id")
  }

  /** Rolling window frames (the two frame kinds the rest of the file
    * doesn't exercise): per customer, a 30-day revenue sum over a RANGE
    * frame keyed on day number (calendar peers included) and a 3-row
    * moving sum over a ROWS frame with an explicit tie-break. Both
    * windows share the o_custkey hash partitioning, so the query costs
    * one shuffle; the two sorts differ only in the tie-break column. */
  def rollingFrames(spark: SparkSession, dir: String): DataFrame = {
    val wRange = Window.partitionBy("o_custkey").orderBy(col("d"))
      .rangeBetween(-29, Window.currentRow)
    val wRows = Window.partitionBy("o_custkey").orderBy(col("d"), col("o_orderkey"))
      .rowsBetween(-2, Window.currentRow)
    Tables.orders(spark, dir)
      .withColumn("d", datediff(col("o_orderdate").cast("date"), to_date(lit("1992-01-01"))))
      .withColumn("sum_30d", sum(col("o_totalprice").cast(dec2)).over(wRange).cast("double"))
      .withColumn("sum_3rows", sum(col("o_totalprice").cast(dec2)).over(wRows).cast("double"))
      .select("o_custkey", "o_orderkey", "d", "sum_30d", "sum_3rows")
      .orderBy("o_custkey", "d", "o_orderkey")
  }

  /** ROLLING MEDIAN — exact trailing-7-row median of the user's value
    * series (cents), the robust-center counterpart of the mean frames in
    * [[rollingFrames]]. The median is HOLISTIC (no partial-agg shortcut
    * exists), so the frame is materialized per row via collect_list and
    * sorted — cost bounded by the constant frame width, not the series
    * length. Short leading frames use the rows available (the standard
    * expanding-then-sliding convention). Even-width medians are the
    * mean of the middles, emitted ×2 (`med_x2_cents`) so the value
    * stays an exact integer — no .5-cent float ever exists to drift.
    *
    * Scale: one user_id shuffle; per-row work is O(w log w) with w=7.
    * collect_list keeps the window out of whole-stage codegen — the
    * price of any holistic statistic; the codegen'd alternative
    * (percentile_approx) is approximate, which the oracle can't gate. */
  def rollingMedian(spark: SparkSession, dir: String): DataFrame =
    rollingMedianOf(Tables.events(spark, dir))

  /** [[rollingMedian]] core over any events-shaped frame (spec entry). */
  private[graft] def rollingMedianOf(events: DataFrame): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      .rowsBetween(-6, Window.currentRow)
    events
      .select(col("user_id"), col("event_id"), col("ts"),
        expr("CAST(round(value * 100) AS BIGINT)").as("cents"))
      .withColumn("fr", sort_array(collect_list(col("cents")).over(w)))
      .withColumn("n", size(col("fr")))
      .withColumn("med_x2_cents",
        expr("""CASE WHEN n % 2 = 1 THEN 2 * element_at(fr, CAST((n + 1) div 2 AS INT))
                ELSE element_at(fr, CAST(n div 2 AS INT))
                   + element_at(fr, CAST(n div 2 + 1 AS INT)) END"""))
      .select("user_id", "event_id", "cents", "n", "med_x2_cents")
      .orderBy("user_id", "event_id")
  }

  /** BOLLINGER BREAKOUTS — flag events deviating more than 2σ from the
    * trailing-20-row mean of the user's own series. The band test is
    * pure BIGINT algebra: with S1=Σx, S2=Σx², |x−μ|>2σ is equivalent to
    * (n·x−S1)² > 4·(n·S2−S1²) after multiplying through by n² — so no
    * float mean or stddev ever decides membership and the row set is
    * engine-exact (the [[anomalySpikes]] discipline, applied to the
    * classic volatility band). Only full frames emit (bands over a
    * 3-row history are noise, and the choice keeps the predicate's n
    * constant). Emits the breakout rows with the deviation direction.
    *
    * Scale: the three frame sums share ONE user_id window sort and stay
    * inside codegen (sum/count are partial-aggregable frame functions —
    * unlike [[rollingMedian]]'s holistic frame); output is the sparse
    * breakout set, not the series. */
  def bollingerBreakouts(spark: SparkSession, dir: String): DataFrame =
    bollingerBreakoutsOf(Tables.events(spark, dir), 20)

  /** [[bollingerBreakouts]] core with a parameterized frame width
    * (spec entry — small widths make the band hand-checkable). */
  private[graft] def bollingerBreakoutsOf(events: DataFrame, width: Int): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      .rowsBetween(-(width - 1), Window.currentRow)
    events
      .select(col("user_id"), col("event_id"), col("ts"),
        expr("CAST(round(value * 100) AS BIGINT)").as("cents"))
      .withColumn("n", count(lit(1)).over(w))
      .withColumn("s1", sum(col("cents")).over(w))
      .withColumn("s2", sum(col("cents") * col("cents")).over(w))
      .filter(col("n") === width)
      .withColumn("dev", col("n") * col("cents") - col("s1"))
      .filter(col("dev") * col("dev") > lit(4L) * (col("n") * col("s2") - col("s1") * col("s1")))
      .select(col("user_id"), col("event_id"), col("cents"),
        when(col("dev") > 0, lit(1L)).otherwise(lit(-1L)).as("direction"))
      .orderBy("user_id", "event_id")
  }

  /** INTERVAL COVERAGE (union length) — per user, the total time
    * covered by the union of their activity intervals and the count of
    * merged islands: the other half of the sweep-line family
    * ([[maxConcurrencyOf]] measures overlap DEPTH; this measures
    * covered EXTENT, the dedup rule billing/SLA math needs so double-
    * booked time never counts twice). Interval = [t, t + cents·10ms]
    * (value-proportional duration, exact micros). Island detection is
    * the classic running-max sweep: an interval opens a new island iff
    * its start exceeds the max end among all earlier intervals; island
    * extent = max(end) − min(start). All BIGINT.
    *
    * Scale: ONE user_id shuffle; the running-max window, the island
    * prefix-sum, and both aggregates all ride the same partitioning —
    * per-user sort bounded by the user's own event count. */
  def intervalCoverage(spark: SparkSession, dir: String): DataFrame =
    intervalCoverageOf(Tables.events(spark, dir).select(col("user_id"),
      expr("ts_ns div 1000").as("s"),
      (expr("ts_ns div 1000")
        + expr("CAST(round(value * 100) AS BIGINT)") * lit(10000L)).as("e")))

  /** [[intervalCoverage]] core over any (user_id, s, e) micros frame
    * (spec entry). */
  private[graft] def intervalCoverageOf(iv: DataFrame): DataFrame = {
    val byStart = Window.partitionBy("user_id").orderBy(col("s"), col("e"))
    val prevMax = Window.partitionBy("user_id").orderBy(col("s"), col("e"))
      .rowsBetween(Window.unboundedPreceding, -1)
    iv
      .withColumn("pmax", max(col("e")).over(prevMax))
      .withColumn("new_isl",
        when(col("pmax").isNull || col("s") > col("pmax"), 1L).otherwise(0L))
      .withColumn("isl", sum(col("new_isl")).over(byStart))
      .groupBy("user_id", "isl")
      .agg(min(col("s")).as("i_s"), max(col("e")).as("i_e"))
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_islands"),
        sum(col("i_e") - col("i_s")).as("covered_us"))
      .orderBy("user_id")
  }

  /** RSI (Relative Strength Index, Cutler's simple-average variant) —
    * per user, over the trailing 14 one-step differences of the value
    * series: RSI = 100 · gains / (gains + losses). Entirely integer:
    * diffs in cents, gain/loss sums as BIGINT frame sums, the index in
    * ppm via floor division — no float smoothing constant (Wilder's
    * EWMA variant trades that away for recursive float state). Emits
    * only full 14-diff frames with movement (gains + losses > 0): a
    * flat frame has no defined relative strength.
    *
    * Scale: the lag and the two frame sums share ONE user_id window
    * sort; everything stays in whole-stage codegen. */
  def rsiPerUser(spark: SparkSession, dir: String): DataFrame =
    rsiOf(Tables.events(spark, dir))

  /** [[rsiPerUser]] core over any events-shaped frame (spec entry). */
  private[graft] def rsiOf(events: DataFrame): DataFrame = {
    val byTime = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    val w14 = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      .rowsBetween(-13, Window.currentRow)
    events
      .select(col("user_id"), col("event_id"), col("ts"),
        expr("CAST(round(value * 100) AS BIGINT)").as("cents"))
      .withColumn("diff", col("cents") - lag(col("cents"), 1).over(byTime))
      .filter(col("diff").isNotNull)
      .withColumn("gains", sum(greatest(col("diff"), lit(0L))).over(w14))
      .withColumn("losses", sum(greatest(-col("diff"), lit(0L))).over(w14))
      .withColumn("nd", count(lit(1)).over(w14))
      .filter(col("nd") === 14 && col("gains") + col("losses") > 0)
      .select(col("user_id"), col("event_id"), col("gains"), col("losses"),
        expr("gains * 1000000L div (gains + losses)").as("rsi_ppm"))
      .orderBy("user_id", "event_id")
  }

  /** Analytic-function family in one pass: quartile (ntile), dense rank
    * and cumulative distribution of customer balances per market segment. */
  def analyticRanks(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("c_mktsegment")
      .orderBy(col("c_acctbal").desc, col("c_custkey").asc)
    Tables.customer(spark, dir)
      .withColumn("quartile", ntile(4).over(w))
      .withColumn("drank", dense_rank().over(w))
      .withColumn("cdist", cume_dist().over(w))
      .select("c_custkey", "c_mktsegment", "c_acctbal", "quartile", "drank", "cdist")
      .orderBy("c_custkey")
  }

  /** Sliding-window DISTINCT count — trailing-7-day active users per
    * day. A window frame cannot express `count(DISTINCT)` (Spark and
    * most engines reject it), and a streaming/state formulation holds
    * per-window user sets; the scalable batch shape is the BOUNDED
    * EXPLODE: each event covers exactly the 7 window-days it can
    * contribute to (a ×7 row multiplier, constant in corpus size), then
    * one two-phase distinct aggregation per (day, user). At 100 TB the
    * multiplier stays 7 while the state-based alternative holds a
    * users-per-week set per key — this trades bounded rows for
    * unbounded memory. Trailing days past the last event date appear
    * (the window slides past the data's edge); the oracle mirrors the
    * same construction so both engines agree on that tail. */
  def slidingDistinctUsers(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .select(to_date(col("ts")).as("d"), col("user_id"))
      .select(explode(expr("sequence(d, date_add(d, 6))")).as("win_day"),
        col("user_id"))
      .groupBy("win_day")
      .agg(countDistinct(col("user_id")).as("u7"))
      .orderBy("win_day")

  /** Calendar GAP FILL — the missing-period densification every
    * time-series consumer needs before a rolling metric or a chart:
    * per user, one row per calendar day from that user's first to last
    * event day, zero-filled where no events landed. The spine comes
    * from a bounded per-user `sequence(first_day, last_day)` explode —
    * rows generated = Σ user spans (data-bounded, no cross join against
    * a global calendar) — and the fill is a left join back to the
    * per-(user, day) aggregates on the SAME user-key partitioning, so
    * the whole query is two shuffles on user_id. Value sums use the
    * Det decimal contract. */
  def gapFillDaily(spark: SparkSession, dir: String): DataFrame = {
    val daily = Tables.events(spark, dir)
      .select(col("user_id"), to_date(col("ts")).as("d"),
        col("value").cast(dec2).as("v"))
      .groupBy("user_id", "d")
      .agg(count(lit(1)).as("n_events"), sum(col("v")).as("v_sum"))
    val spine = daily.groupBy("user_id")
      .agg(min(col("d")).as("d0"), max(col("d")).as("d1"))
      .select(col("user_id"),
        explode(expr("sequence(d0, d1, interval 1 day)")).as("d"))
    spine.join(daily, Seq("user_id", "d"), "left")
      .select(col("user_id"), col("d"),
        coalesce(col("n_events"), lit(0L)).as("n_events"),
        coalesce(col("v_sum"), lit(java.math.BigDecimal.ZERO)).cast("double").as("v_sum"))
      .orderBy("user_id", "d")
  }

  /** LINEAR-INTERPOLATION GAP FILL — [[gapFillDaily]]'s zero-fill is
    * right for counts; for a level/metric series the standard repair is
    * linear interpolation between the surrounding observations. Exact
    * integer arithmetic in cents with the interpolation written as
    *   (v_prev·(d_next−d) + v_next·(d−d_prev)) div (d_next−d_prev)
    * — a NON-NEGATIVE numerator by construction, so floor division and
    * truncating division agree and the cross-engine hash cannot drift
    * on a declining series (v_next−v_prev < 0 would make the naive
    * slope form disagree between Spark's `div` and DuckDB's `//`).
    *
    * Scale: the spine explode is bounded per user; both carry-forward
    * and carry-backward windows share the ONE user_id partitioning. */
  def interpolateLinear(spark: SparkSession, dir: String): DataFrame = {
    val daily = Tables.events(spark, dir)
      .select(col("user_id"), to_date(col("ts")).as("d"),
        expr("CAST(round(value * 100) AS BIGINT)").as("vc"))
      .groupBy("user_id", "d")
      .agg(sum(col("vc")).as("v"))
    interpolateLinearOf(daily)
  }

  /** Core of [[interpolateLinear]] over a per-(user_id, d) aggregate
    * with a non-negative BIGINT `v` (cents). Spec-tested by hand. */
  private[graft] def interpolateLinearOf(daily: DataFrame): DataFrame = {
    val spine = daily.groupBy("user_id")
      .agg(min(col("d")).as("d0"), max(col("d")).as("d1"))
      .select(col("user_id"),
        explode(expr("sequence(d0, d1, interval 1 day)")).as("d"))
    val wPrev = Window.partitionBy("user_id").orderBy("d")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wNext = Window.partitionBy("user_id").orderBy("d")
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    spine.join(daily, Seq("user_id", "d"), "left")
      .withColumn("pd", last(when(col("v").isNotNull, col("d")), ignoreNulls = true).over(wPrev))
      .withColumn("pv", last(col("v"), ignoreNulls = true).over(wPrev))
      .withColumn("nd", first(when(col("v").isNotNull, col("d")), ignoreNulls = true).over(wNext))
      .withColumn("nv", first(col("v"), ignoreNulls = true).over(wNext))
      .select(col("user_id"), col("d"), col("v").isNotNull.as("observed"),
        when(col("v").isNotNull, col("v")).otherwise(expr(
          """(pv * datediff(nd, d) + nv * datediff(d, pd))
            |  div datediff(nd, pd)""".stripMargin)).as("v_cents"))
      .orderBy("user_id", "d")
  }

  /** MAX-CONCURRENCY (sweep line) — the interval-stabbing aggregate every
    * capacity dashboard needs: for each day, the peak number of
    * simultaneously-active intervals (here each event opens a 1-hour
    * activity interval; sessions or SCD2 validity ranges drop in the
    * same way). The classic formulation sorts ALL endpoint deltas on one
    * global timeline — a single-reducer sort at 100 TB. The shape here
    * never does:
    *   1. endpoints (+1 at start, −1 at exclusive end) hash-shuffle ONCE
    *      on their calendar day;
    *   2. per-day running sums are day-partitioned windows;
    *   3. cross-day carry-in is a prefix over the per-day NET sums — a
    *      calendar-bounded table (≤ a few thousand rows at any corpus
    *      size), so its unpartitioned window is a non-issue;
    *   4. day peak = carry_in + max(within-day running sum).
    * At equal timestamps ends sort before starts (delta ascending), so
    * the interval end is exclusive and the peak is well-defined; within
    * an equal-(t,delta) run the running sum is monotone, so the max is
    * order-independent — no hidden tie-break nondeterminism. */
  def maxConcurrency(spark: SparkSession, dir: String): DataFrame = {
    val pts = Tables.events(spark, dir).select(expr("ts_ns div 1000").as("t"))
    maxConcurrencyOf(pts, 3600000000L)
  }

  /** Core of [[maxConcurrency]] over micro-epoch interval starts `t`,
    * each interval lasting `durUs` micros (spec entry). */
  private[graft] def maxConcurrencyOf(pts: DataFrame, durUs: Long): DataFrame = {
    val deltas = pts.select(col("t"), lit(1L).as("delta"))
      .unionByName(pts.select((col("t") + lit(durUs)).as("t"), lit(-1L).as("delta")))
      .withColumn("day", expr("t div 86400000000"))
    val wIn = Window.partitionBy("day").orderBy(col("t"), col("delta"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // peak, net and start-count fold in the SAME day aggregate, so the
    // endpoint stream crosses the wire exactly once (the day shuffle the
    // window already pays); the cross-day carry is then a prefix over
    // the calendar-bounded per-day table — ≤ a few thousand rows, so its
    // unpartitioned window is a non-issue
    val perDay = deltas.withColumn("run", sum(col("delta")).over(wIn))
      .groupBy("day").agg(max(col("run")).as("peak_in_day"),
        sum(col("delta")).as("net"),
        sum(when(col("delta") === 1L, 1L).otherwise(0L)).as("n_starts"))
    val wDays = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, -1)
    perDay
      .withColumn("carry_in", coalesce(sum(col("net")).over(wDays), lit(0L)))
      .select(
        date_add(lit("1970-01-01").cast("date"), col("day").cast("int")).as("d"),
        (col("peak_in_day") + col("carry_in")).as("max_concurrent"),
        col("n_starts"))
      .orderBy("d")
  }

  /** COHORT LTV CURVES — cumulative revenue per signup cohort by age,
    * the companion to [[retentionCohorts]] (that one counts who came
    * back; this one accumulates what they were worth). Cohort = the
    * user's first event WEEK (epoch-day div 7 — pure integer week
    * arithmetic, no calendar/locale semantics to drift cross-engine);
    * one co-partitioned join stamps it onto the fact (both sides hash
    * on user_id), the grid aggregate is partial+final, and the
    * cumulative window runs over the cohorts×ages grid —
    * post-aggregate sized at any corpus scale. Revenue in integer
    * cents; LTV-per-user floors (cents div users). */
  def cohortLtv(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir).select(col("user_id"),
      expr("datediff(to_date(ts), DATE '1970-01-01') div 7").as("wk"),
      expr("CAST(round(value * 100) AS BIGINT)").as("cents"))
    val cohort = ev.groupBy("user_id").agg(min(col("wk")).as("cohort_wk"))
    val size = cohort.groupBy("cohort_wk").agg(count(lit(1)).as("cohort_users"))
    val grid = ev.join(cohort, Seq("user_id"))
      .groupBy(col("cohort_wk"), (col("wk") - col("cohort_wk")).as("age_weeks"))
      .agg(countDistinct(col("user_id")).as("n_active"),
        sum(col("cents")).as("rev_cents"))
    val w = Window.partitionBy("cohort_wk").orderBy("age_weeks")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    grid.withColumn("cum_rev_cents", sum(col("rev_cents")).over(w))
      .join(broadcast(size), Seq("cohort_wk"))
      .select(
        date_add(lit("1970-01-01").cast("date"),
          expr("CAST(cohort_wk * 7 AS INT)")).as("cohort"),
        col("age_weeks"), col("cohort_users"), col("n_active"),
        col("rev_cents"), col("cum_rev_cents"),
        expr("cum_rev_cents div cohort_users").as("ltv_cents_per_user"))
      .orderBy("cohort", "age_weeks")
  }

  /** ORDERED FUNNEL analysis — the event-sequence operator behind every
    * conversion report: per user, the first `view`, the first `click`
    * strictly after that view, and the first `purchase` strictly after
    * that click; `stage` = how deep the ordered sequence got. Expressed
    * as three conditional-min aggregations chained by joins that all
    * share the user_id hash partitioning — after the first shuffle the
    * two follow-up stages are co-partitioned joins, so the query costs
    * ONE real exchange of the event stream regardless of corpus size
    * (the collect-a-sorted-array-per-user alternative holds unbounded
    * per-user state; conditional mins hold 8 bytes). */
  def funnelStages(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select(col("user_id"), col("event_type"),
        expr("ts_ns div 1000").as("t"))
    val s1 = ev.groupBy("user_id")
      .agg(min(when(col("event_type") === "view", col("t"))).as("t_view"))
    val s2 = ev.join(s1, "user_id")
      .groupBy("user_id")
      .agg(min(col("t_view")).as("t_view"),
        min(when(col("event_type") === "click" && col("t") > col("t_view"),
          col("t"))).as("t_click"))
    val s3 = ev.join(s2, "user_id")
      .groupBy("user_id")
      .agg(min(col("t_view")).as("t_view"), min(col("t_click")).as("t_click"),
        min(when(col("event_type") === "purchase" && col("t") > col("t_click"),
          col("t"))).as("t_purchase"))
    s3.select(col("user_id"), col("t_view"), col("t_click"), col("t_purchase"),
        (when(col("t_purchase").isNotNull, 3)
          .when(col("t_click").isNotNull, 2)
          .when(col("t_view").isNotNull, 1)
          .otherwise(0)).cast("long").as("stage"))
      .orderBy("user_id")
  }

  /** Exponentially-weighted moving average per user — the time-decay
    * feature every behavioral model wants ("recent activity counts
    * more"). The textbook EWMA is a sequential recurrence
    * (s_i = α·v_i + (1−α)·s_{i−1}) — inherently order-serial and
    * float-accumulating, so it neither parallelizes nor reproduces
    * bit-identically across engines. This is the distributed,
    * bit-stable reformulation: α = 1/2 with an 8-term horizon, so the
    * weights are the exact INTEGER ladder 128,64,…,1 (×1/128) and the
    * window is eight `lag` taps over one per-user sort; numerator and
    * denominator stay exact integers (values pre-scaled to cents) until
    * a single final double division. Truncating at 8 taps loses at most
    * 1/256 of the mass — below the 2-decimal resolution of the data.
    *
    * Scale: one hash shuffle on user_id (shared by all eight taps — one
    * Window operator, one sort), no state beyond the frame; at 100 TB
    * this costs exactly what any per-user window costs. */
  def ewmaPerUser(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("t").asc, col("event_id").asc)
    val taps = (1 to 7).map(j => lag(col("c"), j).over(w).as(s"c$j"))
    val ev = Tables.events(spark, dir)
      .select(col("user_id"), col("event_id"),
        expr("ts_ns div 1000").as("t"),
        round(col("value") * 100).cast("long").as("c"))
      .select(col("user_id") +: col("event_id") +: col("t") +: col("c") +: taps: _*)
    val weights = (0 to 7).map(j => 128L >> j) // 128, 64, ..., 1
    val num = weights.zipWithIndex.map { case (wt, j) =>
      val c = if (j == 0) col("c") else col(s"c$j")
      coalesce(c * lit(wt), lit(0L))
    }.reduce(_ + _)
    val den = weights.zipWithIndex.map { case (wt, j) =>
      val c = if (j == 0) col("c") else col(s"c$j")
      when(c.isNotNull, lit(wt)).otherwise(lit(0L))
    }.reduce(_ + _)
    ev.select(col("user_id"), col("event_id"), col("t"),
        (col("c").cast("double") / lit(100.0)).as("v"),
        (num.cast("double") / den.cast("double") / lit(100.0)).as("ewma"))
      .orderBy("user_id", "t", "event_id")
  }

  /** EWMA-RESIDUAL SPIKE DETECTION — the streaming-monitoring anomaly
    * primitive: flag events whose value deviates more than 50% from the
    * exponentially-weighted mean of that user's PREVIOUS values (taps
    * 1..8 of the same halving integer ladder [[ewmaPerUser]] uses —
    * current value excluded, so a spike can't mask itself). The
    * comparison is cross-multiplied integer arithmetic
    * (|c·den − num|·100 > num·50) — no division, no floats, bit-stable
    * — and the reported deviation is integer percent. Rows with no
    * positive history (first event, or an all-zero window) can't be
    * judged and are not emitted.
    *
    * Scale: one window pass per user partition (same single shuffle as
    * every other per-user window here) and a codegen'd filter — the
    * flagged subset is tiny, so the operator is scan-bound. */
  def anomalySpikes(spark: SparkSession, dir: String): DataFrame =
    anomalySpikesOf(Tables.events(spark, dir)
      .select(col("user_id"), col("event_id"),
        expr("ts_ns div 1000").as("t"),
        round(col("value") * 100).cast("long").as("c")))

  /** [[anomalySpikes]] core over any (user_id, event_id, t, c) frame
    * (spec + streaming-differential entry). */
  private[graft] def anomalySpikesOf(ev4: DataFrame): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("t").asc, col("event_id").asc)
    val taps = (1 to 8).map(j => lag(col("c"), j).over(w).as(s"c$j"))
    val ev = ev4
      .select(col("user_id") +: col("event_id") +: col("t") +: col("c") +: taps: _*)
    val weights = (0 until 8).map(j => 128L >> j) // 128, 64, ..., 1
    val num = weights.zipWithIndex.map { case (wt, j) =>
      coalesce(col(s"c${j + 1}") * lit(wt), lit(0L))
    }.reduce(_ + _)
    val den = weights.zipWithIndex.map { case (wt, j) =>
      when(col(s"c${j + 1}").isNotNull, lit(wt)).otherwise(lit(0L))
    }.reduce(_ + _)
    ev.withColumn("num", num).withColumn("den", den)
      .filter(col("num") > 0)
      .filter(abs(col("c") * col("den") - col("num")) * 100 > col("num") * 50)
      .select(col("user_id"), col("event_id"), col("t"),
        (col("c").cast("double") / 100.0).as("v"),
        expr("abs(c * den - num) * 100 div num").as("dev_pct"))
      .orderBy("user_id", "t", "event_id")
  }

  /** CUSUM CHANGE-POINT DETECTION — the classic "when did this user's
    * behavior shift" statistic: per user, the cumulative sum of
    * deviations from the user's overall mean peaks (in absolute value)
    * at the most likely change point. Everything stays integer by
    * scaling through the event count: the running statistic is
    * Σ (c·n − S) where S = user's total cents and n = user's event
    * count — argmax is invariant to the scaling, and the reported
    * magnitude divides back down to cents. Tie-break (|cusum| desc, t
    * asc, event_id asc) makes the winner unique.
    *
    * Scale: both window passes (the per-user constants and the running
    * sum) and the final rank share ONE hash partitioning on user_id —
    * a single shuffle; output is entity-sized. */
  def cusumChangepoint(spark: SparkSession, dir: String): DataFrame =
    cusumChangepointOf(Tables.events(spark, dir)
      .select(col("user_id"), col("event_id"),
        expr("ts_ns div 1000").as("t"),
        round(col("value") * 100).cast("long").as("c")))

  /** [[cusumChangepoint]] core over any (user_id, event_id, t, c) frame
    * (spec entry). */
  private[graft] def cusumChangepointOf(ev4: DataFrame): DataFrame = {
    val p = Window.partitionBy("user_id")
    val byTime = Window.partitionBy("user_id")
      .orderBy(col("t").asc, col("event_id").asc)
    val byMag = Window.partitionBy("user_id")
      .orderBy(abs(col("cusum")).desc, col("t").asc, col("event_id").asc)
    ev4
      .withColumn("sum_all", sum(col("c")).over(p))
      .withColumn("n_all", count(lit(1)).over(p))
      .withColumn("cusum", sum(col("c") * col("n_all") - col("sum_all"))
        .over(byTime.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("rn", row_number().over(byMag))
      .filter(col("rn") === 1)
      .select(col("user_id"), col("t").as("t_change"),
        expr("abs(cusum) div n_all").as("mag_cents"),
        col("n_all").as("n_events"))
      .orderBy("user_id")
  }

  /** OHLC DOWNSAMPLING — the time-series retention primitive: collapse
    * the raw event stream to per-(user, hour) open/high/low/close/volume
    * bars, the shape monitoring and feature stores keep after the raw
    * points age out. Open/close need a total order — both come from
    * row_number over the SAME (user_id, hour) partitioning (one sort,
    * ascending; the descending rank is derived as n−rn+1 so the window
    * is computed once) with event_id as the deterministic tie-break.
    * One hash shuffle shared by the window and the final aggregate. */
  def ohlcDownsample(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id", "h").orderBy(col("t").asc, col("event_id").asc)
    Tables.events(spark, dir)
      .select(col("user_id"), col("event_id"),
        expr("ts_ns div 1000").as("t"),
        date_trunc("hour", col("ts")).as("h"),
        col("value").cast(dec2).as("v"))
      .withColumn("rn", row_number().over(w))
      .withColumn("n_in", count(lit(1)).over(Window.partitionBy("user_id", "h")))
      .groupBy("user_id", "h")
      .agg(
        max(when(col("rn") === 1, col("v"))).cast("double").as("open"),
        max(col("v")).cast("double").as("high"),
        min(col("v")).cast("double").as("low"),
        max(when(col("rn") === col("n_in"), col("v"))).cast("double").as("close"),
        count(lit(1)).as("n_events"),
        sum(col("v")).cast("double").as("volume"))
      .orderBy("user_id", "h")
  }

  /** GAPS-AND-ISLANDS — longest consecutive-active-day streak per user,
    * the retention metric every engagement dashboard carries. The
    * classic trick stays fully relational: per distinct (user, day),
    * `day − row_number` is constant within a consecutive run, so one
    * window sort + two aggregations produce all runs and their lengths.
    * Two shuffles total (distinct + the user-key window/agg share the
    * second); no state, no iteration — scale cost is a per-user sort of
    * DISTINCT ACTIVE DAYS, not events. */
  def activeStreaks(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("d").asc)
    val days = Tables.events(spark, dir)
      .select(col("user_id"), to_date(col("ts")).as("d"))
      .distinct()
    days
      .withColumn("island", date_sub(col("d"), row_number().over(w)))
      .groupBy("user_id", "island")
      .agg(count(lit(1)).as("len"), min(col("d")).as("run_start"))
      .groupBy("user_id")
      .agg(max(col("len")).as("longest_streak"),
        count(lit(1)).as("n_streaks"),
        sum(col("len")).as("n_active_days"),
        min(col("run_start")).as("first_day"))
      .orderBy("user_id")
  }

  /** MARKOV TRANSITION MATRIX over per-user event sequences: for every
    * ordered (event_type → next event_type) step, the step count, how
    * many distinct users ever take it, and the row-normalized transition
    * probability in integer ppm (count·10⁶ div row-total — integer
    * division, so the matrix is bit-stable across engines and partition
    * orders). The behavioral-analytics companion to the funnel: funnels
    * check ONE prescribed path, this measures ALL observed paths.
    *
    * Scale: one shuffle on user_id shared by the window sort; the
    * transition pairs then collapse by (from, to) — a map-side partial
    * agg onto a |type|² ≪ |events| key space — and the ppm normalizer is
    * a window over that tiny aggregate, not over events. */
  def eventTransitions(spark: SparkSession, dir: String): DataFrame = {
    val byTime = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    Tables.events(spark, dir)
      .select(col("user_id"), col("event_id"), col("ts"), col("event_type"))
      .withColumn("next_type", lead(col("event_type"), 1).over(byTime))
      .filter(col("next_type").isNotNull)
      .groupBy(col("event_type").as("from_type"), col("next_type").as("to_type"))
      .agg(count(lit(1)).as("n_transitions"),
        countDistinct(col("user_id")).as("n_users"))
      .withColumn("p_ppm", expr(
        "n_transitions * 1000000 div sum(n_transitions) OVER (PARTITION BY from_type)"))
      .orderBy("from_type", "to_type")
  }

  /** LAST-TOUCH ATTRIBUTION (batch): every purchase is credited to the
    * user's most recent PRECEDING marketing touch (view or click), with
    * the conversion lag in whole seconds. The batch mirror of
    * [[graft.streaming.Streams]]' attribution join, expressed as ONE
    * window pass: all three touch columns are `last(..., ignoreNulls)`
    * over the identical frame (unbounded preceding → 1 preceding), so
    * they share a single sort and a single Window operator — no
    * self-join of events to events, no per-purchase scan. The lag stays
    * in integer microseconds until the final integer division (bit-
    * stable; purchases with no prior touch keep NULL columns).
    *
    * Scale: one shuffle on user_id + per-user sort; the running "last
    * touch seen" is O(1) state per row exactly like the streaming
    * variant's value state. */
  def lastTouchAttribution(spark: SparkSession, dir: String): DataFrame = {
    val frame = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val isTouch = col("event_type").isin("view", "click")
    Tables.events(spark, dir)
      .select(col("user_id"), col("event_id"), col("ts"), col("event_type"),
        expr("ts_ns div 1000").as("ts_us"))
      // one select, one shared frame → Catalyst keeps all three lasts in
      // a SINGLE Window operator (chained withColumn would emit three)
      .select(col("user_id"), col("event_id"), col("ts"), col("event_type"),
        col("ts_us"),
        last(when(isTouch, col("event_id")), ignoreNulls = true).over(frame).as("touch_id"),
        last(when(isTouch, col("event_type")), ignoreNulls = true).over(frame).as("touch_type"),
        last(when(isTouch, col("ts_us")), ignoreNulls = true).over(frame).as("touch_us"))
      .filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id").as("purchase_id"),
        col("ts").as("purchase_ts"), col("touch_id"), col("touch_type"),
        expr("CAST((ts_us - touch_us) div 1000000 AS BIGINT)").as("secs_since_touch"))
      .orderBy("purchase_id")
  }

  /** TIME-WEIGHTED AVERAGE value per user — the correct mean for
    * irregularly-sampled series (a value "holds" until the next
    * observation, so long-held values weigh more than rapid-fire ones;
    * the plain mean every naive dashboard computes instead is wrong
    * whenever sampling is bursty). Step-function integral over each
    * user's observed span: Σ valueᵢ·(tᵢ₊₁−tᵢ) / (t_last − t_first).
    *
    * All integer: values in cents (the round(x·100) contract the EWMA
    * family uses), durations in whole seconds, one final integer
    * division — bit-stable across engines and partitionings. Users with
    * a single event (zero span) are excluded; the last value of each
    * user carries zero weight by construction (step integral).
    *
    * Scale: one user_id shuffle; lead + the final agg share its sort. */
  def timeWeightedAvg(spark: SparkSession, dir: String): DataFrame = {
    val byTime = Window.partitionBy("user_id").orderBy(col("ts_us"), col("event_id"))
    Tables.events(spark, dir)
      .select(col("user_id"), col("event_id"),
        expr("ts_ns div 1000").as("ts_us"),
        expr("CAST(round(value * 100) AS BIGINT)").as("cents"))
      .withColumn("next_us", lead(col("ts_us"), 1).over(byTime))
      .filter(col("next_us").isNotNull)
      .withColumn("dur_s", expr("(next_us - ts_us) div 1000000"))
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_steps"),
        expr("CAST(sum(dur_s) AS BIGINT)").as("span_s"),
        expr("CAST(sum(cents * dur_s) AS BIGINT)").as("weighted_cents"))
      .filter(col("span_s") > 0)
      .withColumn("twa_cents", expr("weighted_cents div span_s"))
      .orderBy("user_id")
  }

  /** PERIOD-OVER-PERIOD deltas — the day-over-day growth table every KPI
    * dashboard opens with: daily value totals (integer cents), the prior
    * OBSERVED day's total, the absolute delta, and the relative change
    * in integer ppm (delta·10⁶ div prev — truncating division both
    * engines; prev=0 days emit NULL rather than divide, which ANSI mode
    * would throw on). Composes with [[gapFillDaily]] when calendar-
    * aligned (vs observed-day-aligned) periods are wanted.
    *
    * Scale: the daily rollup is one partial+final agg down to |days|
    * rows; the lag window then runs on that tiny aggregate — events are
    * never window-sorted. */
  def periodOverPeriod(spark: SparkSession, dir: String): DataFrame = {
    val byDay = Window.orderBy(col("d"))
    Tables.events(spark, dir)
      .select(to_date(col("ts")).as("d"),
        expr("CAST(round(value * 100) AS BIGINT)").as("cents"))
      .groupBy("d")
      .agg(count(lit(1)).as("n_events"),
        expr("CAST(sum(cents) AS BIGINT)").as("total_cents"))
      .withColumn("prev_cents", lag(col("total_cents"), 1).over(byDay))
      .withColumn("delta_cents", col("total_cents") - col("prev_cents"))
      .withColumn("pct_change_ppm",
        when(col("prev_cents") > 0,
          expr("delta_cents * 1000000 div prev_cents")))
      .orderBy("d")
  }

  /** LEADERBOARD RANK MOVEMENT — who rose and who fell between two
    * periods: per-user value totals in the first 15 observed days vs the
    * rest of the span, each period ranked (total desc, user asc — fully
    * deterministic), movement = rank change. Only users active in BOTH
    * periods rank (new/churned users have no movement to report).
    *
    * Scale: the period split key comes from a BROADCAST one-row min-date
    * stat; events collapse to one row per user in a single conditional-
    * sum aggregation (no per-period scans); the two ranks are then
    * distributed running counts ([[graft.PrefixSum]]) over the |users|
    * aggregate. */
  def rankChanges(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select(to_date(col("ts")).as("d"), col("user_id"),
        expr("CAST(round(value * 100) AS BIGINT)").as("cents"))
    val stat = ev.agg(min(col("d")).as("d0"))
    val perUser = ev.crossJoin(broadcast(stat))
      .withColumn("p1", col("d") < date_add(col("d0"), 15))
      .groupBy("user_id")
      .agg(expr("CAST(sum(CASE WHEN p1 THEN cents ELSE 0 END) AS BIGINT)").as("cents_p1"),
        expr("CAST(sum(CASE WHEN p1 THEN 0 ELSE cents END) AS BIGINT)").as("cents_p2"),
        expr("CAST(sum(CASE WHEN p1 THEN 1 ELSE 0 END) AS BIGINT)").as("n_p1"),
        expr("CAST(sum(CASE WHEN p1 THEN 0 ELSE 1 END) AS BIGINT)").as("n_p2"))
      .filter(col("n_p1") > 0 && col("n_p2") > 0)
    // each rank is the inclusive running count over its period's order
    // (total desc, user asc); the order is total, so rank values do not
    // depend on where the range bounds fall
    def rank(df: DataFrame, out: String, total: String) =
      graft.PrefixSum(df, Seq(col(total).desc, col("user_id").asc), lit(1L), out, inclusive = true)
    rank(rank(perUser, "rank_p1", "cents_p1"), "rank_p2", "cents_p2")
      .withColumn("movement", col("rank_p1") - col("rank_p2"))
      .select("user_id", "cents_p1", "cents_p2", "rank_p1", "rank_p2", "movement")
      .orderBy("user_id")
  }

  /** MAX DRAWDOWN per user — the classic equity-curve risk metric over a
    * signed event ledger: purchases/signups credit the balance,
    * errors/clicks debit it (views are neutral), the running balance is
    * tracked against its running peak, and the drawdown is the deepest
    * peak-to-trough fall. Reported: the 20 users with the worst
    * drawdown (ties → lower user_id), with their peak / final balance /
    * event count alongside. All integer cents; event order is the
    * explicit (ts, event_id) total order every window here carries.
    *
    * Scale: ONE hash shuffle on user_id; both running sums are frames
    * over the per-user partition (bounded by a user's own history); the
    * per-user collapse is a partial+final agg and the top-20 is
    * TakeOrderedAndProject — no global sort of users. */
  def maxDrawdown(spark: SparkSession, dir: String): DataFrame =
    maxDrawdownOf(Tables.events(spark, dir))

  /** [[maxDrawdown]] over any events-shaped frame (spec entry point). */
  private[graft] def maxDrawdownOf(events: DataFrame): DataFrame = {
    val run = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    events
      .select(col("user_id"), col("ts"), col("event_id"),
        expr("""CAST(CASE WHEN event_type IN ('purchase','signup') THEN round(value * 100)
                          WHEN event_type IN ('error','click') THEN -round(value * 100)
                          ELSE 0 END AS BIGINT)""").as("delta_cents"))
      .withColumn("bal", sum(col("delta_cents")).over(run))
      .withColumn("peak", max(col("bal")).over(run))
      .withColumn("dd", col("peak") - col("bal"))
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_events"),
        expr("CAST(max(peak) AS BIGINT)").as("max_peak_cents"),
        expr("CAST(max(dd) AS BIGINT)").as("max_drawdown_cents"),
        expr("CAST(sum(delta_cents) AS BIGINT)").as("final_cents"))
      .orderBy(col("max_drawdown_cents").desc, col("user_id").asc)
      .limit(20)
  }

  /** SEASONAL BASELINE + RESIDUAL ANOMALIES — the de-seasonalized twin
    * of [[anomalySpikes]] (which compares to the user's own recent EWMA):
    * hourly slot totals are compared to the corpus-wide hour-of-day
    * baseline (mean slot total for that clock hour, floored integer
    * cents), and the 24 slots with the largest absolute residual
    * surface. Catches "3 AM looks like 3 PM" shifts that a trailing
    * window smooths over. Ties → earlier (d, hr).
    *
    * Scale: events collapse to |days|×24 slot rows in one partial+final
    * agg; the 24-row baseline BROADCASTs back onto the slots; the final
    * top-24 is TakeOrderedAndProject over the slot aggregate — events
    * are scanned once and never window-sorted. */
  def seasonalBaseline(spark: SparkSession, dir: String): DataFrame =
    seasonalBaselineOf(Tables.events(spark, dir))

  /** [[seasonalBaseline]] over any events-shaped frame (spec entry). */
  private[graft] def seasonalBaselineOf(events: DataFrame): DataFrame = {
    val slots = events
      .select(to_date(col("ts")).as("d"), hour(col("ts")).cast("long").as("hr"),
        expr("CAST(round(value * 100) AS BIGINT)").as("cents"))
      .groupBy("d", "hr")
      .agg(count(lit(1)).as("n_events"),
        expr("CAST(sum(cents) AS BIGINT)").as("slot_cents"))
    val base = slots.groupBy("hr")
      .agg(expr("CAST(sum(slot_cents) AS BIGINT)").as("tot"),
        count(lit(1)).as("n_slots"))
      .select(col("hr"), expr("tot div n_slots").as("baseline_cents"))
    slots.join(broadcast(base), Seq("hr"))
      .withColumn("residual_cents", col("slot_cents") - col("baseline_cents"))
      .select(col("d"), col("hr"), col("n_events"), col("slot_cents"),
        col("baseline_cents"), col("residual_cents"))
      .orderBy(abs(col("residual_cents")).desc, col("d").asc, col("hr").asc)
      .limit(24)
  }

  /** AUTOCORRELATION FUNCTION of the daily revenue series at lags 1..7 —
    * the seasonality/momentum diagnostic read before any forecasting or
    * anomaly threshold is trusted (a strong lag-7 says weekly cycle; all
    * lags ~0 says the EWMA alarms run on noise). Pearson r between the
    * series and its lag-ℓ shift, observed-day aligned: all six moment
    * sums are EXACT BIGINTs over integer cents, with the one final
    * r expression evaluated in the same pinned IEEE form both engines
    * share (the [[graft.operators.Aggregations.corrValueTime]]
    * contract). Lags with degenerate variance are dropped rather than
    * divided.
    *
    * Scale: events collapse to the |days|-row daily aggregate first; the
    * banded self-join (1 ≤ Δd ≤ 7) and the moment aggregation run on
    * that calendar-bounded series, never on events. Daily sums hold in
    * BIGINT cents to ~10⁸-event days; x² sums to ~10⁹-cent days. */
  def autocorrDaily(spark: SparkSession, dir: String, maxLag: Int = 7): DataFrame =
    autocorrDailyOf(Tables.events(spark, dir), maxLag)

  /** [[autocorrDaily]] over any events-shaped frame (spec entry). */
  private[graft] def autocorrDailyOf(events: DataFrame, maxLag: Int = 7): DataFrame = {
    val dbl = (c: org.apache.spark.sql.Column) => c.cast("double")
    val daily = events
      .select(to_date(col("ts")).as("d"),
        expr("CAST(round(value * 100) AS BIGINT)").as("cents"))
      .groupBy("d").agg(expr("CAST(sum(cents) AS BIGINT)").as("v"))
    val later = daily.select(col("d").as("d2"), col("v").as("v2"))
    daily.join(later, expr(s"datediff(d2, d) BETWEEN 1 AND $maxLag"))
      .select(expr("CAST(datediff(d2, d) AS BIGINT)").as("lag"),
        col("v").as("x"), col("v2").as("y"))
      .groupBy("lag")
      .agg(count(lit(1)).as("n"),
        expr("CAST(sum(x) AS BIGINT)").as("sx"),
        expr("CAST(sum(y) AS BIGINT)").as("sy"),
        expr("CAST(sum(x * x) AS BIGINT)").as("sxx"),
        expr("CAST(sum(y * y) AS BIGINT)").as("syy"),
        expr("CAST(sum(x * y) AS BIGINT)").as("sxy"))
      .filter(col("n") >= 2)
      .withColumn("nd", dbl(col("n")))
      .withColumn("den_x", col("nd") * dbl(col("sxx")) - dbl(col("sx")) * dbl(col("sx")))
      .withColumn("den_y", col("nd") * dbl(col("syy")) - dbl(col("sy")) * dbl(col("sy")))
      .filter(col("den_x") > 0 && col("den_y") > 0)
      .withColumn("autocorr",
        (col("nd") * dbl(col("sxy")) - dbl(col("sx")) * dbl(col("sy")))
          / (sqrt(col("den_x")) * sqrt(col("den_y"))))
      .select("lag", "n", "autocorr")
      .orderBy("lag")
  }

  /** TIME-TO-CONVERT PERCENTILES — the funnel-latency summary behind
    * every conversion SLA: per user, seconds from FIRST view to the
    * first purchase strictly after it, then EXACT p50/p90/max over the
    * converted population. Percentiles come off the latency DICTIONARY
    * with the cross-multiplied ordinal rule (smallest latency whose
    * cumulative count·100 ≥ n·p — no interpolation, no float), the
    * [[graft.operators.Aggregations]] equi-depth contract.
    *
    * Scale: two filtered per-user min-aggregations and one equi-join on
    * user_id; the percentile machinery runs on the distinct-seconds
    * dictionary, never a sorted event stream. Complements
    * `win_funnel_stages` (how many reach each stage) with how LONG
    * conversion takes. */
  def timeToConvert(spark: SparkSession, dir: String): DataFrame =
    timeToConvertOf(Tables.events(spark, dir))

  /** [[timeToConvert]] over any events-shaped frame (spec entry). */
  private[graft] def timeToConvertOf(events: DataFrame): DataFrame = {
    val firstView = events.filter(col("event_type") === "view")
      .groupBy("user_id").agg(min(col("ts")).as("t_view"))
    val conv = events.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts").as("t_p"))
      .join(firstView, Seq("user_id"))
      .filter(col("t_p") > col("t_view"))
      .groupBy("user_id", "t_view")
      .agg(min(col("t_p")).as("t_purchase"))
    val dict = conv
      .select(expr("(unix_micros(t_purchase) - unix_micros(t_view)) div 1000000").as("lat_s"))
      .groupBy("lat_s").agg(count(lit(1)).as("c"))
    val run = Window.orderBy("lat_s")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val tot = dict.agg(expr("CAST(sum(c) AS BIGINT)").as("n_converted"),
      expr("CAST(max(lat_s) AS BIGINT)").as("max_s"))
    dict.withColumn("cum", sum(col("c")).over(run))
      .crossJoin(broadcast(tot))
      .groupBy("n_converted", "max_s")
      .agg(expr("CAST(min(CASE WHEN cum * 100 >= n_converted * 50 THEN lat_s END) AS BIGINT)").as("p50_s"),
        expr("CAST(min(CASE WHEN cum * 100 >= n_converted * 90 THEN lat_s END) AS BIGINT)").as("p90_s"))
      .select("n_converted", "p50_s", "p90_s", "max_s")
  }

  /** USER SURVIVAL CURVE — what fraction of users are still active k
    * days after their first appearance (k = 0..14), the lifetime
    * summary behind every churn model: per user the observed activity
    * SPAN (last day − first day), then survival@k = |span ≥ k| / n in
    * integer ppm. The curve complements `agg_retention_cohorts` (which
    * slices by signup month); this is the population-level monotone
    * decay. All integer; span dictionary keeps the per-k expansion off
    * the user table.
    *
    * Scale: one per-user min/max collapse (partial+final), a
    * |distinct spans|-bounded dictionary, and a 15-element map-side
    * explode over it. No window over users, no per-k rescans. */
  def survivalCurve(spark: SparkSession, dir: String, maxK: Int = 14): DataFrame =
    survivalCurveOf(Tables.events(spark, dir), maxK)

  /** [[survivalCurve]] over any events-shaped frame (spec entry). */
  private[graft] def survivalCurveOf(events: DataFrame, maxK: Int = 14): DataFrame = {
    val dict = events
      .groupBy("user_id")
      .agg(min(to_date(col("ts"))).as("d0"), max(to_date(col("ts"))).as("d1"))
      .select(expr("CAST(datediff(d1, d0) AS BIGINT)").as("span"))
      .groupBy("span").agg(count(lit(1)).as("c"))
    // every k row sees the whole dictionary, so the unconditional sum IS
    // the user total — no second scan/branch for the denominator
    dict
      .select(explode(sequence(lit(0), lit(maxK))).as("k"),
        col("span"), col("c"))
      .groupBy("k")
      .agg(expr("CAST(sum(c) AS BIGINT)").as("n_users"),
        expr("CAST(sum(CASE WHEN span >= k THEN c ELSE 0 END) AS BIGINT)")
          .as("n_surviving"))
      .select(col("k").cast("long").as("k"), col("n_users"), col("n_surviving"),
        expr("n_surviving * 1000000 div n_users").as("survival_ppm"))
      .orderBy("k")
  }

  /** TOP USER PATHS — the behavior-flow report: each user's first 6
    * event types in (ts, event_id) order joined into a path string
    * ('view>click>purchase…'), ranked by how many users walk it, with
    * the converting share (paths containing a purchase) alongside. The
    * path-analysis staple between per-step transitions
    * ([[eventTransitions]]) and stage counts ([[funnelStages]]): those
    * lose ORDER BEYOND one step, this keeps the prefix sequence.
    *
    * Scale: one hash shuffle on user_id; the per-user fold is a bounded
    * sorted collect (≤ the user's events, truncated to 6) inside the
    * agg; path counting is a second partial+final agg on the path
    * string; top-20 is TakeOrderedAndProject. */
  def pathTopK(spark: SparkSession, dir: String,
               prefixLen: Int = 6, k: Int = 20): DataFrame =
    pathTopKOf(Tables.events(spark, dir), prefixLen, k)

  /** [[pathTopK]] over any events-shaped frame (spec entry). */
  private[graft] def pathTopKOf(events: DataFrame,
                                prefixLen: Int = 6, k: Int = 20): DataFrame =
    events
      .groupBy("user_id")
      .agg(expr(
        s"""concat_ws('>', slice(transform(
              array_sort(collect_list(struct(ts, event_id, event_type)),
                (l, r) -> CASE WHEN l.ts < r.ts THEN -1 WHEN l.ts > r.ts THEN 1
                               WHEN l.event_id < r.event_id THEN -1
                               WHEN l.event_id > r.event_id THEN 1 ELSE 0 END),
              s -> s.event_type), 1, $prefixLen))""").as("path"),
        // conversion reads the user's FULL history, not the truncated prefix
        expr("CAST(max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT)")
          .as("conv"))
      .groupBy("path")
      .agg(count(lit(1)).as("n_users"),
        expr("CAST(sum(conv) AS BIGINT)").as("n_converted"))
      .withColumn("conv_ppm", expr("n_converted * 1000000 div n_users"))
      .orderBy(col("n_users").desc, col("path").asc)
      .limit(k)

  /** LOCAL PEAK DETECTION in the daily revenue series — days strictly
    * above BOTH neighbors (the discrete local-maximum rule every
    * spike-triage dashboard starts from; [[anomalySpikes]] flags
    * deviation from a trailing mean, this finds the turning points
    * themselves). Boundary days (no neighbor on one side) can't be
    * peaks. Top-10 by height, ties → earlier day. All integer cents.
    *
    * Scale: the lag/lead window runs over the |days|-bounded daily
    * aggregate, never events; the top-10 is TakeOrderedAndProject. */
  def peakDetection(spark: SparkSession, dir: String, k: Int = 10): DataFrame =
    peakDetectionOf(Tables.events(spark, dir), k)

  /** [[peakDetection]] over any events-shaped frame (spec entry). */
  private[graft] def peakDetectionOf(events: DataFrame, k: Int = 10): DataFrame = {
    val byDay = Window.orderBy("d")
    events
      .select(to_date(col("ts")).as("d"),
        expr("CAST(round(value * 100) AS BIGINT)").as("cents"))
      .groupBy("d").agg(expr("CAST(sum(cents) AS BIGINT)").as("v"))
      .withColumn("prev_cents", lag(col("v"), 1).over(byDay))
      .withColumn("next_cents", lead(col("v"), 1).over(byDay))
      .filter(col("prev_cents").isNotNull && col("next_cents").isNotNull &&
        col("v") > col("prev_cents") && col("v") > col("next_cents"))
      .select(col("d"), col("v").as("peak_cents"),
        col("prev_cents"), col("next_cents"))
      .orderBy(col("peak_cents").desc, col("d").asc)
      .limit(k)
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "win_peak_detection"     -> ((s: SparkSession, d: String) => peakDetection(s, d)),
    "win_path_topk"          -> ((s: SparkSession, d: String) => pathTopK(s, d)),
    "win_survival_curve"     -> ((s: SparkSession, d: String) => survivalCurve(s, d)),
    "win_time_to_convert"    -> timeToConvert _,
    "win_autocorr"           -> ((s: SparkSession, d: String) => autocorrDaily(s, d)),
    "win_max_drawdown"       -> maxDrawdown _,
    "win_seasonal_baseline"  -> seasonalBaseline _,
    "win_interpolate_linear" -> interpolateLinear _,
    "win_max_concurrency"    -> maxConcurrency _,
    "win_cohort_ltv"         -> cohortLtv _,
    "win_rank_changes"       -> rankChanges _,
    "win_period_over_period" -> periodOverPeriod _,
    "win_time_weighted_avg"  -> timeWeightedAvg _,
    "win_last_touch"         -> lastTouchAttribution _,
    "win_event_transitions"  -> eventTransitions _,
    "win_active_streaks"     -> activeStreaks _,
    "win_ohlc_downsample"    -> ohlcDownsample _,
    "win_ewma"               -> ewmaPerUser _,
    "win_anomaly_spikes"     -> anomalySpikes _,
    "win_cusum_changepoint"  -> cusumChangepoint _,
    "win_funnel_stages"      -> funnelStages _,
    "win_gap_fill"           -> gapFillDaily _,
    "win_sliding_distinct"   -> slidingDistinctUsers _,
    "win_rolling_frames"     -> rollingFrames _,
    "win_rolling_median"     -> rollingMedian _,
    "win_bollinger"          -> bollingerBreakouts _,
    "win_rsi"                -> rsiPerUser _,
    "win_interval_coverage"  -> intervalCoverage _,
    "win_analytic_ranks"     -> analyticRanks _,
    "win_sessionize"         -> sessionizeEvents _,
    "win_topk_per_customer"  -> topkOrdersPerCustomer _,
    "win_latest_k_per_user"  -> latestEventsPerUser _,
    "win_lag_gap_frequency"  -> lagGapFrequency _,
    "win_mode_event_hour"    -> modeEventHour _,
    "win_split_half_trend"   -> splitHalfTrend _,
    "win_head_n"             -> headNWindow _,
    "win_global_sort_limit"  -> globalSortLimit _,
    "win_first_match_cascade" -> firstMatchCascade _,
  )

  val oracles: Map[String, String] = Map(
    // same daily collapse, same strict both-neighbor rule, same
    // (height desc, day) top-10
    "win_peak_detection" ->
      """WITH daily AS (
           SELECT CAST(ts AS DATE) AS d,
                  CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS v
           FROM events GROUP BY 1),
         l AS (SELECT d, v,
                 lag(v) OVER (ORDER BY d) AS prev_cents,
                 lead(v) OVER (ORDER BY d) AS next_cents
               FROM daily)
         SELECT d, v AS peak_cents, prev_cents, next_cents
         FROM l
         WHERE prev_cents IS NOT NULL AND next_cents IS NOT NULL
           AND v > prev_cents AND v > next_cents
         ORDER BY peak_cents DESC, d ASC LIMIT 10""",
    // same (ts, event_id)-ordered prefix join, same full-history
    // conversion flag, same (users desc, path) top-20
    "win_path_topk" ->
      """WITH u AS (
           SELECT user_id,
                  array_to_string((list(event_type ORDER BY ts, event_id))[1:6], '>') AS path,
                  CAST(max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS conv
           FROM events GROUP BY user_id),
         p AS (SELECT path, count(*) AS n_users,
                      CAST(sum(conv) AS BIGINT) AS n_converted
               FROM u GROUP BY path)
         SELECT path, n_users, n_converted,
                n_converted * 1000000 // n_users AS conv_ppm
         FROM p ORDER BY n_users DESC, path ASC LIMIT 20""",
    // same span dictionary, same k-explosion and ppm
    "win_survival_curve" ->
      """WITH u AS (SELECT user_id,
                      min(CAST(ts AS DATE)) AS d0, max(CAST(ts AS DATE)) AS d1
                    FROM events GROUP BY 1),
         dict AS (SELECT CAST(date_diff('day', d0, d1) AS BIGINT) AS span,
                         count(*) AS c
                  FROM u GROUP BY 1),
         t AS (SELECT CAST(sum(c) AS BIGINT) AS n_users FROM dict),
         ks AS (SELECT unnest(range(0, 15)) AS k)
         SELECT CAST(ks.k AS BIGINT) AS k, t.n_users,
                CAST(sum(CASE WHEN dict.span >= ks.k THEN dict.c ELSE 0 END) AS BIGINT) AS n_surviving,
                CAST(sum(CASE WHEN dict.span >= ks.k THEN dict.c ELSE 0 END) AS BIGINT)
                  * 1000000 // t.n_users AS survival_ppm
         FROM ks, dict, t GROUP BY ks.k, t.n_users ORDER BY k""",
    // same first-view/first-after-purchase derivation, same dictionary
    // percentile rule (cum*100 >= n*p)
    "win_time_to_convert" ->
      """WITH fv AS (SELECT user_id, min(ts) AS t_view
                     FROM events WHERE event_type = 'view' GROUP BY 1),
         cp AS (SELECT e.user_id, fv.t_view, min(e.ts) AS t_purchase
                FROM events e JOIN fv ON e.user_id = fv.user_id
                WHERE e.event_type = 'purchase' AND e.ts > fv.t_view
                GROUP BY e.user_id, fv.t_view),
         l AS (SELECT (epoch_us(t_purchase) - epoch_us(t_view)) // 1000000 AS lat_s
               FROM cp),
         dict AS (SELECT lat_s, count(*) AS c FROM l GROUP BY 1),
         cum AS (SELECT lat_s, c,
                   CAST(SUM(c) OVER (ORDER BY lat_s
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
                 FROM dict),
         t AS (SELECT CAST(sum(c) AS BIGINT) AS n_converted,
                      CAST(max(lat_s) AS BIGINT) AS max_s FROM dict)
         SELECT t.n_converted,
                CAST(min(CASE WHEN cum.cum * 100 >= t.n_converted * 50
                         THEN cum.lat_s END) AS BIGINT) AS p50_s,
                CAST(min(CASE WHEN cum.cum * 100 >= t.n_converted * 90
                         THEN cum.lat_s END) AS BIGINT) AS p90_s,
                t.max_s
         FROM cum, t GROUP BY t.n_converted, t.max_s""",
    // same daily collapse, same banded self-join, same exact moment
    // sums and pinned one-expression Pearson r
    "win_autocorr" ->
      """WITH daily AS (
           SELECT CAST(ts AS DATE) AS d,
                  CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS v
           FROM events GROUP BY 1),
         pr AS (SELECT CAST(date_diff('day', a.d, b.d) AS BIGINT) AS lag,
                       a.v AS x, b.v AS y
                FROM daily a JOIN daily b
                  ON date_diff('day', a.d, b.d) BETWEEN 1 AND 7),
         s AS (SELECT lag, count(*) AS n,
                 CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
                 CAST(SUM(x*x) AS BIGINT) AS sxx, CAST(SUM(y*y) AS BIGINT) AS syy,
                 CAST(SUM(x*y) AS BIGINT) AS sxy
               FROM pr GROUP BY lag HAVING count(*) >= 2),
         e AS (SELECT lag, n, CAST(n AS DOUBLE) AS nd,
                 CAST(sx AS DOUBLE) AS sxd, CAST(sy AS DOUBLE) AS syd,
                 CAST(sxx AS DOUBLE) AS sxxd, CAST(syy AS DOUBLE) AS syyd,
                 CAST(sxy AS DOUBLE) AS sxyd
               FROM s),
         f AS (SELECT lag, n, nd, sxd, syd, sxyd,
                 nd * sxxd - sxd * sxd AS den_x,
                 nd * syyd - syd * syd AS den_y
               FROM e)
         SELECT lag, n,
                (nd * sxyd - sxd * syd) / (sqrt(den_x) * sqrt(den_y)) AS autocorr
         FROM f WHERE den_x > 0 AND den_y > 0
         ORDER BY lag""",
    // same signed ledger, same (ts, event_id) order, same running
    // sum/peak frames and per-user collapse
    "win_max_drawdown" ->
      """WITH e AS (
           SELECT user_id, ts, event_id,
                  CAST(CASE WHEN event_type IN ('purchase','signup') THEN round(value * 100)
                            WHEN event_type IN ('error','click') THEN -round(value * 100)
                            ELSE 0 END AS BIGINT) AS delta_cents
           FROM events),
         r AS (SELECT user_id, ts, event_id, delta_cents,
                 SUM(delta_cents) OVER (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS bal
               FROM e),
         p AS (SELECT user_id, delta_cents, bal,
                 MAX(bal) OVER (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS peak
               FROM r)
         SELECT user_id, count(*) AS n_events,
                CAST(max(peak) AS BIGINT) AS max_peak_cents,
                CAST(max(peak - bal) AS BIGINT) AS max_drawdown_cents,
                CAST(sum(delta_cents) AS BIGINT) AS final_cents
         FROM p GROUP BY user_id
         ORDER BY max_drawdown_cents DESC, user_id ASC LIMIT 20""",
    // same slot rollup, same floored hour-of-day baseline, same
    // (|residual| desc, d, hr) top-24
    "win_seasonal_baseline" ->
      """WITH s AS (
           SELECT CAST(ts AS DATE) AS d, CAST(hour(ts) AS BIGINT) AS hr,
                  count(*) AS n_events,
                  CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS slot_cents
           FROM events GROUP BY 1, 2),
         b AS (SELECT hr,
                 CAST(sum(slot_cents) // count(*) AS BIGINT) AS baseline_cents
               FROM s GROUP BY hr)
         SELECT s.d, s.hr, s.n_events, s.slot_cents, b.baseline_cents,
                s.slot_cents - b.baseline_cents AS residual_cents
         FROM s JOIN b ON s.hr = b.hr
         ORDER BY abs(s.slot_cents - b.baseline_cents) DESC, s.d ASC, s.hr ASC
         LIMIT 24""",
    // same 15-day split off the scalar min date, same conditional-sum
    // collapse and (total desc, user asc) ranking
    "win_rank_changes" ->
      """WITH ev AS (
           SELECT CAST(ts AS DATE) AS d, user_id,
                  CAST(round(value * 100) AS BIGINT) AS cents
           FROM events),
         s AS (SELECT min(d) AS d0 FROM ev),
         pu AS (
           SELECT user_id,
                  CAST(sum(CASE WHEN d < d0 + 15 THEN cents ELSE 0 END) AS BIGINT) AS cents_p1,
                  CAST(sum(CASE WHEN d < d0 + 15 THEN 0 ELSE cents END) AS BIGINT) AS cents_p2,
                  sum(CASE WHEN d < d0 + 15 THEN 1 ELSE 0 END) AS n_p1,
                  sum(CASE WHEN d < d0 + 15 THEN 0 ELSE 1 END) AS n_p2
           FROM ev, s GROUP BY user_id),
         r AS (
           SELECT user_id, cents_p1, cents_p2,
                  CAST(row_number() OVER (ORDER BY cents_p1 DESC, user_id ASC) AS BIGINT) AS rank_p1,
                  CAST(row_number() OVER (ORDER BY cents_p2 DESC, user_id ASC) AS BIGINT) AS rank_p2
           FROM pu WHERE n_p1 > 0 AND n_p2 > 0)
         SELECT user_id, cents_p1, cents_p2, rank_p1, rank_p2,
                rank_p1 - rank_p2 AS movement
         FROM r ORDER BY user_id""",
    // same observed-day lag; ppm division guarded identically
    "win_period_over_period" ->
      """WITH g AS (
           SELECT CAST(ts AS DATE) AS d, count(*) AS n_events,
                  CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
                    AS total_cents
           FROM events GROUP BY 1),
         l AS (SELECT d, n_events, total_cents,
                      lag(total_cents) OVER (ORDER BY d) AS prev_cents
               FROM g)
         SELECT d, n_events, total_cents, prev_cents,
                total_cents - prev_cents AS delta_cents,
                CASE WHEN prev_cents > 0
                     THEN CAST((total_cents - prev_cents) * 1000000 // prev_cents
                               AS BIGINT) END AS pct_change_ppm
         FROM l ORDER BY d""",
    // identical integer step-integral: cents · floored whole-second
    // durations, one final integer division (all terms non-negative)
    "win_time_weighted_avg" ->
      """WITH e AS (
           SELECT user_id, event_id, epoch_us(ts) AS ts_us,
                  CAST(round(value * 100) AS BIGINT) AS cents
           FROM events),
         t AS (
           SELECT user_id, cents, ts_us,
                  lead(ts_us) OVER
                    (PARTITION BY user_id ORDER BY ts_us, event_id) AS next_us
           FROM e),
         d AS (SELECT user_id, cents, (next_us - ts_us) // 1000000 AS dur_s
               FROM t WHERE next_us IS NOT NULL),
         g AS (SELECT user_id, count(*) AS n_steps,
                      CAST(sum(dur_s) AS BIGINT) AS span_s,
                      CAST(sum(cents * dur_s) AS BIGINT) AS weighted_cents
               FROM d GROUP BY 1)
         SELECT user_id, n_steps, span_s, weighted_cents,
                CAST(weighted_cents // span_s AS BIGINT) AS twa_cents
         FROM g WHERE span_s > 0 ORDER BY user_id""",
    // the same single-frame derivation: three IGNORE NULLS last_value
    // columns over the identical preceding frame
    "win_last_touch" ->
      """WITH e AS (
           SELECT user_id, event_id, ts, event_type, epoch_us(ts) AS ts_us
           FROM events),
         t AS (
           SELECT user_id, event_id, ts, event_type, ts_us,
                  last_value(CASE WHEN event_type IN ('view', 'click')
                                  THEN event_id END IGNORE NULLS) OVER w AS touch_id,
                  last_value(CASE WHEN event_type IN ('view', 'click')
                                  THEN event_type END IGNORE NULLS) OVER w AS touch_type,
                  last_value(CASE WHEN event_type IN ('view', 'click')
                                  THEN ts_us END IGNORE NULLS) OVER w AS touch_us
           FROM e
           WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING))
         SELECT user_id, event_id AS purchase_id, ts AS purchase_ts,
                touch_id, touch_type,
                CAST((ts_us - touch_us) // 1000000 AS BIGINT) AS secs_since_touch
         FROM t WHERE event_type = 'purchase' ORDER BY purchase_id""",
    // same lead-pair derivation; the ppm normalizer is a window over the
    // grouped counts in both engines
    "win_event_transitions" ->
      """WITH t AS (
           SELECT user_id, event_type,
                  lead(event_type) OVER
                    (PARTITION BY user_id ORDER BY ts, event_id) AS next_type
           FROM events),
         g AS (
           SELECT event_type AS from_type, next_type AS to_type,
                  count(*) AS n_transitions,
                  count(DISTINCT user_id) AS n_users
           FROM t WHERE next_type IS NOT NULL GROUP BY 1, 2)
         SELECT from_type, to_type, n_transitions, n_users,
                CAST(n_transitions * 1000000 //
                  sum(n_transitions) OVER (PARTITION BY from_type) AS BIGINT) AS p_ppm
         FROM g ORDER BY from_type, to_type""",
    // the same gaps-and-islands derivation: day - row_number is the
    // island key; two grouped rollups
    "win_active_streaks" ->
      """WITH days AS (
           SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events),
         isl AS (
           SELECT user_id, d,
                  d - CAST(row_number() OVER (PARTITION BY user_id ORDER BY d ASC)
                           AS INTEGER) AS island
           FROM days),
         runs AS (
           SELECT user_id, island, count(*) AS len, min(d) AS run_start
           FROM isl GROUP BY user_id, island)
         SELECT user_id, max(len) AS longest_streak,
                count(*) AS n_streaks,
                CAST(sum(len) AS BIGINT) AS n_active_days,
                min(run_start) AS first_day
         FROM runs GROUP BY user_id ORDER BY user_id""",
    // identical bar construction: one ascending row_number + group count,
    // open = rn 1, close = rn n, decimal-exact volume
    "win_ohlc_downsample" ->
      """WITH ev AS (
           SELECT user_id, event_id, epoch_ns(ts) // 1000 AS t,
                  date_trunc('hour', ts) AS h,
                  CAST(value AS DECIMAL(18,2)) AS v
           FROM events),
         r AS (
           SELECT user_id, h, v,
                  row_number() OVER (PARTITION BY user_id, h
                                     ORDER BY t ASC, event_id ASC) AS rn,
                  count(*) OVER (PARTITION BY user_id, h) AS n_in
           FROM ev)
         SELECT user_id, h,
                CAST(max(CASE WHEN rn = 1 THEN v END) AS DOUBLE) AS open,
                CAST(max(v) AS DOUBLE) AS high,
                CAST(min(v) AS DOUBLE) AS low,
                CAST(max(CASE WHEN rn = n_in THEN v END) AS DOUBLE) AS close,
                count(*) AS n_events,
                CAST(sum(v) AS DOUBLE) AS volume
         FROM r GROUP BY user_id, h ORDER BY user_id, h""",
    // identical integer-ladder EWMA: eight lag taps, integer
    // numerator/denominator, one final double division — bit-stable
    // same n-scaled integer CUSUM, same unique-winner tie-break; all
    // windowed sums CAST down from DuckDB's HUGEINT
    "win_cusum_changepoint" ->
      """WITH ev AS (
           SELECT user_id, event_id, epoch_ns(ts) // 1000 AS t,
                  CAST(round(value * 100) AS BIGINT) AS c
           FROM events),
         w1 AS (
           SELECT user_id, event_id, t, c,
                  CAST(sum(c) OVER p AS BIGINT) AS sum_all,
                  count(*) OVER p AS n_all
           FROM ev WINDOW p AS (PARTITION BY user_id)),
         w2 AS (
           SELECT *, CAST(sum(c * n_all - sum_all) OVER
                    (PARTITION BY user_id ORDER BY t, event_id
                     ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cusum
           FROM w1),
         r AS (
           SELECT *, row_number() OVER
             (PARTITION BY user_id ORDER BY abs(cusum) DESC, t ASC, event_id ASC) AS rn
           FROM w2)
         SELECT user_id, t AS t_change,
                CAST(abs(cusum) // n_all AS BIGINT) AS mag_cents,
                CAST(n_all AS BIGINT) AS n_events
         FROM r WHERE rn = 1 ORDER BY user_id""",
    // the same taps-1..8 integer ladder, history-only, with the
    // cross-multiplied spike predicate and integer-percent deviation
    "win_anomaly_spikes" -> {
      val lags = (1 to 8).map(j => s"lag(c,$j) OVER w AS c$j").mkString(", ")
      val num = (1 to 8).map { j =>
        val wt = 128L >> (j - 1)
        s"coalesce(c$j*$wt,0)"
      }.mkString(" + ")
      val den = (1 to 8).map { j =>
        val wt = 128L >> (j - 1)
        s"CASE WHEN c$j IS NOT NULL THEN $wt ELSE 0 END"
      }.mkString(" + ")
      s"""WITH ev AS (
           SELECT user_id, event_id, epoch_ns(ts) // 1000 AS t,
                  CAST(round(value * 100) AS BIGINT) AS c
           FROM events),
         l AS (
           SELECT user_id, event_id, t, c, $lags
           FROM ev WINDOW w AS (PARTITION BY user_id ORDER BY t ASC, event_id ASC)),
         j AS (
           SELECT user_id, event_id, t, c,
                  CAST($num AS BIGINT) AS num, CAST($den AS BIGINT) AS den
           FROM l)
         SELECT user_id, event_id, t,
                CAST(c AS DOUBLE) / 100 AS v,
                CAST(abs(c * den - num) * 100 // num AS BIGINT) AS dev_pct
         FROM j
         WHERE num > 0 AND abs(c * den - num) * 100 > num * 50
         ORDER BY user_id, t, event_id"""
    },
    "win_ewma" -> {
      val lags = (1 to 7).map(j => s"lag(c,$j) OVER w AS c$j").mkString(", ")
      val num = (0 to 7).map { j =>
        val wt = 128L >> j
        val c = if (j == 0) "c" else s"c$j"
        s"coalesce($c*$wt,0)"
      }.mkString(" + ")
      val den = (0 to 7).map { j =>
        val wt = 128L >> j
        val c = if (j == 0) "c" else s"c$j"
        s"CASE WHEN $c IS NOT NULL THEN $wt ELSE 0 END"
      }.mkString(" + ")
      s"""WITH ev AS (
           SELECT user_id, event_id, epoch_ns(ts) // 1000 AS t,
                  CAST(round(value * 100) AS BIGINT) AS c
           FROM events),
         l AS (
           SELECT user_id, event_id, t, c, $lags
           FROM ev WINDOW w AS (PARTITION BY user_id ORDER BY t ASC, event_id ASC))
         SELECT user_id, event_id, t,
                CAST(c AS DOUBLE) / 100 AS v,
                CAST($num AS DOUBLE) / CAST($den AS DOUBLE) / 100 AS ewma
         FROM l ORDER BY user_id, t, event_id"""
    },
    // the same chained conditional-min construction (strictly-after
    // thresholds), stage derived from which timestamps resolved
    "win_funnel_stages" ->
      """WITH ev AS (
           SELECT user_id, event_type, epoch_ns(ts) // 1000 AS t FROM events),
         s1 AS (
           SELECT user_id,
                  min(CASE WHEN event_type = 'view' THEN t END) AS t_view
           FROM ev GROUP BY user_id),
         s2 AS (
           SELECT ev.user_id, min(s1.t_view) AS t_view,
                  min(CASE WHEN ev.event_type = 'click' AND ev.t > s1.t_view
                           THEN ev.t END) AS t_click
           FROM ev JOIN s1 ON ev.user_id = s1.user_id
           GROUP BY ev.user_id),
         s3 AS (
           SELECT ev.user_id, min(s2.t_view) AS t_view, min(s2.t_click) AS t_click,
                  min(CASE WHEN ev.event_type = 'purchase' AND ev.t > s2.t_click
                           THEN ev.t END) AS t_purchase
           FROM ev JOIN s2 ON ev.user_id = s2.user_id
           GROUP BY ev.user_id)
         SELECT user_id, t_view, t_click, t_purchase,
                CAST(CASE WHEN t_purchase IS NOT NULL THEN 3
                          WHEN t_click IS NOT NULL THEN 2
                          WHEN t_view IS NOT NULL THEN 1
                          ELSE 0 END AS BIGINT) AS stage
         FROM s3 ORDER BY user_id""",
    // same construction: per-(user, day) aggregates, a generate_series
    // spine over each user's [first, last] day span, zero-filled left join
    // declarative mirror of the day-partitioned sweep: one global-window
    // running sum per endpoint, then max per day (the engine's carry-in +
    // within-day decomposition is algebraically the same prefix)
    "win_max_concurrency" ->
      """WITH pts AS (SELECT epoch_us(ts) AS t FROM events),
         deltas AS (
           SELECT t, CAST(1 AS BIGINT) AS delta FROM pts
           UNION ALL
           SELECT t + 3600000000, CAST(-1 AS BIGINT) AS delta FROM pts),
         runs AS (
           SELECT t // 86400000000 AS day, delta,
                  CAST(SUM(delta) OVER (ORDER BY t, delta
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS run
           FROM deltas)
         SELECT DATE '1970-01-01' + CAST(day AS INTEGER) AS d,
                CAST(MAX(run) AS BIGINT) AS max_concurrent,
                CAST(SUM(CASE WHEN delta = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_starts
         FROM runs GROUP BY day ORDER BY d""",
    // same cohort stamp + grid + cumulative window, declaratively
    "win_cohort_ltv" ->
      """WITH ev AS (
           SELECT user_id,
                  (CAST(ts AS DATE) - DATE '1970-01-01') // 7 AS wk,
                  CAST(round(value * 100) AS BIGINT) AS cents
           FROM events),
         cohort AS (SELECT user_id, MIN(wk) AS cohort_wk FROM ev GROUP BY user_id),
         sz AS (SELECT cohort_wk, CAST(COUNT(*) AS BIGINT) AS cohort_users
                FROM cohort GROUP BY cohort_wk),
         grid AS (
           SELECT c.cohort_wk, e.wk - c.cohort_wk AS age_weeks,
                  CAST(COUNT(DISTINCT e.user_id) AS BIGINT) AS n_active,
                  CAST(SUM(e.cents) AS BIGINT) AS rev_cents
           FROM ev e JOIN cohort c ON e.user_id = c.user_id
           GROUP BY 1, 2),
         cum AS (
           SELECT cohort_wk, age_weeks, n_active, rev_cents,
                  CAST(SUM(rev_cents) OVER (PARTITION BY cohort_wk ORDER BY age_weeks
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_rev_cents
           FROM grid)
         SELECT DATE '1970-01-01' + CAST(cohort_wk * 7 AS INTEGER) AS cohort,
                age_weeks, cohort_users, n_active, rev_cents, cum_rev_cents,
                cum_rev_cents // cohort_users AS ltv_cents_per_user
         FROM cum JOIN sz USING (cohort_wk)
         ORDER BY cohort, age_weeks""",
    // same spine + carry windows; the weighted-sum interpolation form
    // keeps the numerator non-negative so // (floor) equals div (trunc)
    "win_interpolate_linear" ->
      """WITH daily AS (
           SELECT user_id, CAST(ts AS DATE) AS d,
                  CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS v
           FROM events GROUP BY 1, 2),
         spine AS (
           SELECT user_id, unnest(generate_series(min(d), max(d), INTERVAL 1 DAY))::DATE AS d
           FROM daily GROUP BY user_id),
         j AS (
           SELECT s.user_id, s.d, dl.v
           FROM spine s LEFT JOIN daily dl ON s.user_id = dl.user_id AND s.d = dl.d),
         f AS (
           SELECT user_id, d, v,
                  last_value(CASE WHEN v IS NOT NULL THEN d END IGNORE NULLS)
                    OVER (PARTITION BY user_id ORDER BY d
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pd,
                  last_value(v IGNORE NULLS)
                    OVER (PARTITION BY user_id ORDER BY d
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pv,
                  first_value(CASE WHEN v IS NOT NULL THEN d END IGNORE NULLS)
                    OVER (PARTITION BY user_id ORDER BY d
                          ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nd,
                  first_value(v IGNORE NULLS)
                    OVER (PARTITION BY user_id ORDER BY d
                          ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nv
           FROM j)
         SELECT user_id, d, v IS NOT NULL AS observed,
                CASE WHEN v IS NOT NULL THEN v
                     ELSE (pv * (nd - d) + nv * (d - pd)) // (nd - pd) END AS v_cents
         FROM f ORDER BY user_id, d""",
    "win_gap_fill" ->
      """WITH daily AS (
           SELECT user_id, CAST(ts AS DATE) AS d, count(*) AS n_events,
                  SUM(CAST(value AS DECIMAL(18,2))) AS v_sum
           FROM events GROUP BY 1, 2),
         spine AS (
           SELECT user_id, unnest(generate_series(min(d), max(d), INTERVAL 1 DAY))::DATE AS d
           FROM daily GROUP BY user_id)
         SELECT s.user_id, s.d,
                coalesce(dl.n_events, 0) AS n_events,
                CAST(coalesce(dl.v_sum, 0) AS DOUBLE) AS v_sum
         FROM spine s LEFT JOIN daily dl ON s.user_id = dl.user_id AND s.d = dl.d
         ORDER BY s.user_id, s.d""",
    // same bounded-explode construction: each event feeds the 7 window
    // days it can contribute to, then exact distinct per day
    "win_sliding_distinct" ->
      """WITH ev AS (SELECT CAST(ts AS DATE) AS d, user_id FROM events),
         ex AS (SELECT d + CAST(o AS INTEGER) AS win_day, user_id
                FROM ev, (SELECT unnest(range(0, 7)) AS o))
         SELECT win_day, count(DISTINCT user_id) AS u7
         FROM ex GROUP BY win_day ORDER BY win_day""",
    // same frame, same sorted-list middle-element math; even medians ×2
    // so the compared value is an exact integer on both engines
    "win_rolling_median" ->
      """WITH e AS (SELECT user_id, event_id, ts,
                    CAST(round(value * 100) AS BIGINT) AS cents FROM events),
         w AS (SELECT user_id, event_id, cents,
                 list_sort(list(cents) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)) AS fr
               FROM e)
         SELECT user_id, event_id, cents, CAST(len(fr) AS INTEGER) AS n,
           CAST(CASE WHEN len(fr) % 2 = 1 THEN 2 * fr[CAST((len(fr) + 1) // 2 AS INTEGER)]
                ELSE fr[CAST(len(fr) // 2 AS INTEGER)] + fr[CAST(len(fr) // 2 + 1 AS INTEGER)]
                END AS BIGINT) AS med_x2_cents
         FROM w ORDER BY user_id, event_id""",
    // same running-max sweep: island opens when start exceeds the max
    // prior end; extents summed per user
    "win_interval_coverage" ->
      """WITH iv AS (SELECT user_id,
                    epoch_us(ts) AS s,
                    epoch_us(ts) + CAST(round(value * 100) AS BIGINT) * 10000 AS e
                  FROM events),
         sw AS (SELECT user_id, s, e,
                 max(e) OVER (PARTITION BY user_id ORDER BY s, e
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pmax
               FROM iv),
         fl AS (SELECT user_id, s, e,
                 CASE WHEN pmax IS NULL OR s > pmax THEN 1 ELSE 0 END AS new_isl
               FROM sw),
         il AS (SELECT user_id, s, e,
                 CAST(sum(new_isl) OVER (PARTITION BY user_id ORDER BY s, e
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS isl
               FROM fl),
         ext AS (SELECT user_id, isl, min(s) AS i_s, max(e) AS i_e
                 FROM il GROUP BY 1, 2)
         SELECT user_id, count(*) AS n_islands,
                CAST(sum(i_e - i_s) AS BIGINT) AS covered_us
         FROM ext GROUP BY 1 ORDER BY 1""",
    // same lag-diff, same integer frame sums and ppm floor division
    "win_rsi" ->
      """WITH e AS (SELECT user_id, event_id, ts,
                    CAST(round(value * 100) AS BIGINT) AS cents FROM events),
         d AS (SELECT user_id, event_id, ts,
                 cents - lag(cents, 1) OVER (PARTITION BY user_id
                   ORDER BY ts, event_id) AS diff
               FROM e),
         f AS (SELECT user_id, event_id,
                 CAST(sum(greatest(diff, 0)) OVER fr AS BIGINT) AS gains,
                 CAST(sum(greatest(-diff, 0)) OVER fr AS BIGINT) AS losses,
                 count(*) OVER fr AS nd
               FROM d WHERE diff IS NOT NULL
               WINDOW fr AS (PARTITION BY user_id ORDER BY ts, event_id
                             ROWS BETWEEN 13 PRECEDING AND CURRENT ROW))
         SELECT user_id, event_id, gains, losses,
                gains * 1000000 // (gains + losses) AS rsi_ppm
         FROM f WHERE nd = 14 AND gains + losses > 0
         ORDER BY user_id, event_id""",
    // the identical n²-multiplied integer band predicate (sums cast back
    // to BIGINT — DuckDB windowed SUM(BIGINT) is HUGEINT)
    "win_bollinger" ->
      """WITH e AS (SELECT user_id, event_id, ts,
                    CAST(round(value * 100) AS BIGINT) AS cents FROM events),
         w AS (SELECT user_id, event_id, cents,
                 CAST(count(*) OVER fr AS BIGINT) AS n,
                 CAST(sum(cents) OVER fr AS BIGINT) AS s1,
                 CAST(sum(cents * cents) OVER fr AS BIGINT) AS s2
               FROM e
               WINDOW fr AS (PARTITION BY user_id ORDER BY ts, event_id
                             ROWS BETWEEN 19 PRECEDING AND CURRENT ROW))
         SELECT user_id, event_id, cents,
                CAST(CASE WHEN n * cents - s1 > 0 THEN 1 ELSE -1 END AS BIGINT) AS direction
         FROM w
         WHERE n = 20
           AND (n * cents - s1) * (n * cents - s1) > 4 * (n * s2 - s1 * s1)
         ORDER BY user_id, event_id""",
    "win_rolling_frames" ->
      """WITH d AS (
           SELECT o_custkey, o_orderkey,
             date_diff('day', DATE '1992-01-01', CAST(o_orderdate AS DATE)) AS d,
             o_totalprice
           FROM orders)
         SELECT o_custkey, o_orderkey, d,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER (
             PARTITION BY o_custkey ORDER BY d
             RANGE BETWEEN 29 PRECEDING AND CURRENT ROW) AS DOUBLE) AS sum_30d,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER (
             PARTITION BY o_custkey ORDER BY d, o_orderkey
             ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS DOUBLE) AS sum_3rows
         FROM d ORDER BY o_custkey, d, o_orderkey""",
    "win_analytic_ranks" ->
      """SELECT c_custkey, c_mktsegment, c_acctbal,
           ntile(4) OVER (PARTITION BY c_mktsegment ORDER BY c_acctbal DESC, c_custkey ASC) AS quartile,
           dense_rank() OVER (PARTITION BY c_mktsegment ORDER BY c_acctbal DESC, c_custkey ASC) AS drank,
           cume_dist() OVER (PARTITION BY c_mktsegment ORDER BY c_acctbal DESC, c_custkey ASC) AS cdist
         FROM customer ORDER BY c_custkey""",
    "win_sessionize" ->
      """WITH g AS (
           SELECT user_id, event_id, ts, value,
             epoch_us(ts) AS ts_us,
             lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
           FROM events),
         m AS (
           SELECT user_id, event_id, ts_us, value,
             CASE WHEN prev_ts IS NULL OR ts_us - prev_ts > 1800000000 THEN 1 ELSE 0 END AS new_session
           FROM g),
         sess AS (
           SELECT user_id, event_id, ts_us, value,
             CAST(SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
           FROM m)
         SELECT user_id, session_id, count(*) AS n_events,
           min(ts_us) AS session_start_us, max(ts_us) AS session_end_us,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
         FROM sess GROUP BY user_id, session_id ORDER BY user_id, session_id""",
    "win_topk_per_customer" ->
      """SELECT o_custkey, rnk, o_orderkey, o_totalprice FROM (
           SELECT o_custkey, o_orderkey, o_totalprice,
             row_number() OVER (PARTITION BY o_custkey
                                ORDER BY o_totalprice DESC, o_orderkey ASC) AS rnk
           FROM orders)
         WHERE rnk <= 3 ORDER BY o_custkey, rnk""",
    "win_latest_k_per_user" ->
      """SELECT user_id, rnk, event_id, value FROM (
           SELECT user_id, event_id, value,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY ts DESC, event_id DESC) AS rnk
           FROM events)
         WHERE rnk <= 3 ORDER BY user_id, rnk""",
    "win_lag_gap_frequency" ->
      """WITH g AS (
           SELECT o_custkey,
             date_diff('day',
               CAST(lag(o_orderdate) OVER (PARTITION BY o_custkey
                      ORDER BY o_orderdate ASC, o_orderkey ASC) AS DATE),
               CAST(o_orderdate AS DATE)) AS gap_days
           FROM orders),
         a AS (
           SELECT o_custkey, count(*) AS n_orders,
             CAST(SUM(gap_days) AS DOUBLE) / count(gap_days) AS avg_gap_days
           FROM g GROUP BY o_custkey HAVING count(*) >= 2)
         SELECT o_custkey, n_orders, avg_gap_days,
           CASE WHEN avg_gap_days <= 7 THEN 'Weekly or more'
                WHEN avg_gap_days <= 30 THEN 'Monthly'
                WHEN avg_gap_days <= 90 THEN 'Quarterly'
                ELSE 'Rare' END AS order_frequency
         FROM a ORDER BY o_custkey""",
    "win_mode_event_hour" ->
      """WITH c AS (
           SELECT user_id, hour(ts) AS h, count(*) AS n
           FROM events GROUP BY user_id, hour(ts)),
         r AS (
           SELECT user_id, h, n,
             row_number() OVER (PARTITION BY user_id ORDER BY n DESC, h ASC) AS rnk
           FROM c)
         SELECT user_id, h AS best_hour, n AS n_at_best,
           CASE WHEN h BETWEEN 6 AND 11 THEN 'Morning'
                WHEN h BETWEEN 12 AND 17 THEN 'Afternoon'
                WHEN h BETWEEN 18 AND 23 THEN 'Evening'
                ELSE 'Night' END AS daypart
         FROM r WHERE rnk = 1 ORDER BY user_id""",
    "win_split_half_trend" ->
      """WITH r AS (
           SELECT o_custkey, o_totalprice,
             row_number() OVER (PARTITION BY o_custkey
                                ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn,
             count(*) OVER (PARTITION BY o_custkey) AS n
           FROM orders),
         a AS (
           SELECT o_custkey, count(*) AS n_orders,
             CAST(SUM(CASE WHEN rn*2 <= n THEN CAST(o_totalprice AS DECIMAL(18,2)) END) AS DOUBLE)
               / count(CASE WHEN rn*2 <= n THEN 1 END) AS avg_recent,
             CAST(SUM(CASE WHEN NOT (rn*2 <= n) THEN CAST(o_totalprice AS DECIMAL(18,2)) END) AS DOUBLE)
               / count(CASE WHEN NOT (rn*2 <= n) THEN 1 END) AS avg_older
           FROM r WHERE n >= 2 GROUP BY o_custkey)
         SELECT o_custkey, n_orders, avg_recent, avg_older,
           avg_recent / avg_older AS ratio,
           CASE WHEN avg_recent / avg_older > 1.15 THEN 'Growing'
                WHEN avg_recent / avg_older < 0.85 THEN 'Declining'
                ELSE 'Stable' END AS trend
         FROM a ORDER BY o_custkey""",
    "win_head_n" ->
      """WITH r AS (
           SELECT o_custkey, o_totalprice,
             row_number() OVER (PARTITION BY o_custkey
                                ORDER BY o_orderdate ASC, o_orderkey ASC) AS rn
           FROM orders)
         SELECT o_custkey, count(*) AS n_head,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS head_avg_price
         FROM r WHERE rn <= 2 GROUP BY o_custkey ORDER BY o_custkey""",
    "win_global_sort_limit" ->
      """SELECT row_number() OVER (ORDER BY c_acctbal DESC, c_custkey ASC) AS rnk,
                c_custkey, c_name, c_acctbal
         FROM customer
         ORDER BY c_acctbal DESC, c_custkey ASC LIMIT 25""",
    "win_first_match_cascade" ->
      """WITH p AS (
           SELECT user_id, event_type, event_id, ts,
             CASE event_type WHEN 'purchase' THEN 1 WHEN 'signup' THEN 2
                             WHEN 'error' THEN 3 WHEN 'view' THEN 4
                             ELSE 5 END AS prio
           FROM events),
         r AS (
           SELECT user_id, event_type, event_id,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY prio ASC, ts ASC, event_id ASC) AS rn
           FROM p)
         SELECT user_id, event_type, event_id FROM r WHERE rn = 1
         ORDER BY user_id""",
  )
}
