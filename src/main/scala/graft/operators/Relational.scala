package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.sources.Tables
import graft.functions.Det._

/** Scans, filters, routers, joins and set operations — the generic
  * relational forms of SURVEY.md §2.1–§2.3 / §2.6, expressed over the
  * driver's star schema so each has a DuckDB oracle.
  *
  * Scale notes (100 TB north star):
  *  - every filter/projection here is declarative → Catalyst pushes
  *    predicates + prunes columns into the parquet scan;
  *  - small dimensions (region/nation/supplier, literal keyword dims) are
  *    broadcast — no shuffle of the fact side;
  *  - the only theta join (O-25 fuzzy lookup) is an intentional
  *    BroadcastNestedLoopJoin against a tiny dim, the honest physical
  *    plan for a containment predicate.
  */
object Relational {

  /** O-1/O-3/O-4 scan + projection (reference: insta_scraper_enhanced.py:474-485,
    * analyze_insta_enhanced.py:63-70). */
  def scanProjectRegion(spark: SparkSession, dir: String): DataFrame =
    Tables.region(spark, dir)
      .select(col("r_regionkey"), col("r_name"))
      .orderBy("r_regionkey")

  /** O-16/O-17 fixed time-range filter + grouped rollup (reference 90-day
    * cutoff, analyze_insta_enhanced.py:1502-1514; clock injected as a fixed
    * literal so results are reproducible). */
  def filterTimerangeOrders(spark: SparkSession, dir: String): DataFrame = {
    val lo = java.time.LocalDateTime.of(1996, 1, 1, 0, 0)
    val hi = java.time.LocalDateTime.of(1997, 1, 1, 0, 0)
    Tables.orders(spark, dir)
      .filter(col("o_orderdate") >= lit(lo) && col("o_orderdate") < lit(hi))
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n_orders"), dsum(col("o_totalprice")).as("sum_price"))
      .orderBy("o_orderpriority")
  }

  /** O-2/O-23/O-55 resume anti-join: inputs minus already-done keys
    * (insta_scraper_enhanced.py:487-509). */
  def antiJoinResume(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(spark, dir)
    val o = Tables.orders(spark, dir)
    c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
      .select(col("c_custkey"), col("c_name"))
      .orderBy("c_custkey")
  }

  /** O-14 response-type router: classify rows by shape/type
    * (insta_scraper_enhanced.py:153-168). */
  def routerTypeCounts(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .withColumn("route",
        when(col("event_type").isin("purchase", "signup"), lit("conversion"))
          .when(col("event_type") === "error", lit("failure"))
          .otherwise(lit("engagement")))
      .groupBy("route")
      .agg(count(lit(1)).as("n_events"),
           countDistinct(col("user_id")).as("n_users"))
      .orderBy("route")

  /** O-25 fuzzy containment lookup: the reference's nested-loop city match
    * (analyze_insta_enhanced.py:197-218) — a theta join against a broadcast
    * dim; physical plan is BroadcastNestedLoopJoin by design. */
  def thetaContainsJoin(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val kws = Seq("scan", "join", "filter", "window", "merge").toDF("kw")
    Tables.documents(spark, dir)
      .join(broadcast(kws), col("text").contains(col("kw")))
      .groupBy("kw")
      .agg(count(lit(1)).as("n_docs"))
      .orderBy("kw")
  }

  /** O-54 page-merge: union of overlapping slices + dedup by id
    * (insta_scraper_enhanced.py:299-322). */
  def unionDedupEvents(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir).select("event_id", "event_type", "user_id", "value")
    val page1 = e.filter(col("user_id") < 30)
    val page2 = e.filter(col("value") > 50)
    page1.union(page2)
      .dropDuplicates("event_id")
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"))
      .orderBy("event_type")
  }

  /** O-27 implicit self-compare: fact row whose owner differs from the
    * grouping entity (analyze_insta_enhanced.py:1350-1362) — here: lineitems
    * whose supplier sits in a different nation than the ordering customer. */
  def selfCompareCrossNation(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
    val o  = Tables.orders(spark, dir).select("o_orderkey", "o_custkey")
    val c  = Tables.customer(spark, dir).select("c_custkey", "c_nationkey")
    val s  = Tables.supplier(spark, dir).select("s_suppkey", "s_nationkey")
    val n  = Tables.nation(spark, dir).select("n_nationkey", "n_name")
    li.join(o, li("l_orderkey") === o("o_orderkey"))
      .join(c, o("o_custkey") === c("c_custkey"))
      .join(broadcast(s), li("l_suppkey") === s("s_suppkey"))
      .filter(c("c_nationkey") =!= s("s_nationkey"))
      .join(broadcast(n), s("s_nationkey") === n("n_nationkey"))
      .groupBy(col("n_name").as("supp_nation"))
      .agg(count(lit(1)).as("n_items"),
           dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount")), 6).as("revenue"))
      .orderBy("supp_nation")
  }

  /** O-24/O-10 delete-by-key as anti-join (insta_scraper_enhanced.py:381-393):
    * remove all orders belonging to a keyed delete-set. */
  def deleteByKey(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
    val delKeys = Tables.customer(spark, dir)
      .filter(col("c_mktsegment") === "BUILDING")
      .select(col("c_custkey"))
    o.join(delKeys, o("o_custkey") === delKeys("c_custkey"), "left_anti")
      .groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n_orders"))
      .orderBy("o_orderstatus")
  }

  /** O-26 equi-join through the dim hierarchy (file-pair join generalized):
    * revenue per region; nation/region broadcast. */
  def starJoinRevenue(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
    val c = Tables.customer(spark, dir).select("c_custkey", "c_nationkey")
    val n = Tables.nation(spark, dir).select("n_nationkey", "n_regionkey")
    val r = Tables.region(spark, dir).select("r_regionkey", "r_name")
    o.join(c, o("o_custkey") === c("c_custkey"))
      .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
      .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
      .groupBy(col("r_name"))
      .agg(count(lit(1)).as("n_orders"), dsum(col("o_totalprice")).as("revenue"))
      .orderBy("r_name")
  }

  /** Set intersection (completes the set-op family beyond the
    * reference's union/except): customers appearing in BOTH the
    * high-value and recent-order key sets. */
  def intersectKeys(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
    val highValue = o.filter(col("o_totalprice") > 300000.0).select("o_custkey")
    val recent = o.filter(col("o_orderdate") >=
      lit(java.time.LocalDateTime.of(1997, 1, 1, 0, 0))).select("o_custkey")
    highValue.intersect(recent)
      .withColumnRenamed("o_custkey", "custkey").orderBy("custkey")
  }

  /** O-55's set-difference as EXCEPT (distinct semantics, vs the
    * row-preserving left-anti join of rel_anti_join_resume). */
  def exceptKeys(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
    val all = o.select("o_custkey")
    val recent = o.filter(col("o_orderdate") >=
      lit(java.time.LocalDateTime.of(1998, 1, 1, 0, 0))).select("o_custkey")
    all.except(recent)
      .withColumnRenamed("o_custkey", "custkey").orderBy("custkey")
  }

  /** Keyless banded range join — point-in-interval matching with NO equi
    * key (every error "incident" opens a 1-hour window; count the events
    * inside each window, whoever produced them). The naive plan is a
    * BroadcastNestedLoopJoin — |events| × |intervals| predicate
    * evaluations, a scale-killer. Banding restores an equi key: with
    * band width = window length, an interval overlaps ≤ 2 bands (it is
    * exploded to those), an event lies in exactly 1 (so no pair can
    * match twice — no dedup needed), and the join becomes a plain hash
    * join on `band` whose candidate set is only same-band pairs. The
    * exact containment predicate then filters collisions. At 100 TB this
    * is the standard interval-join shape: shuffle bounded by band
    * co-occurrence, never all-pairs. */
  def rangeJoinBanded(spark: SparkSession, dir: String): DataFrame = {
    val W = "3600000000" // 1-hour bands, micros (== window length)
    val ev = Tables.events(spark, dir).withColumn("t", expr("ts_ns div 1000"))
    val incidents = ev
      .filter(col("event_type") === "error" && col("event_id") % 50 === 0)
      .select(col("event_id").as("interval_id"), col("t").as("lo"),
        (col("t") + expr(W)).as("hi"))
      .withColumn("band", explode(expr(s"sequence(lo div $W, (hi - 1) div $W)")))
    ev.select(col("t"), col("value"), expr(s"t div $W").as("band"))
      .join(incidents, "band")
      .filter(col("t") >= col("lo") && col("t") < col("hi"))
      .groupBy("interval_id")
      .agg(count(lit(1)).as("n_events"), graft.functions.Det.dsum(col("value")).as("sum_value"))
      .orderBy("interval_id")
  }

  /** Left-semi join — existence test without payload duplication (the
    * relational form of the reference's "has any sponsored post" checks):
    * orders having at least one near-capacity lineitem. The probe-side
    * filter pushes into the lineitem scan, and the semi join emits each
    * order at most once — no row explosion however many items match. */
  def semiJoinBigItems(spark: SparkSession, dir: String): DataFrame = {
    val big = Tables.lineitem(spark, dir)
      .filter(col("l_quantity") >= 49.0).select("l_orderkey")
    Tables.orders(spark, dir)
      .join(big, col("o_orderkey") === col("l_orderkey"), "left_semi")
      .select("o_orderkey", "o_custkey", "o_totalprice")
      .orderBy("o_orderkey")
  }

  /** As-of join — the one relational operator Spark has no native node
    * for (DuckDB/Pandas expose ASOF directly): for each event, the most
    * recent order of the same customer at or before the event time.
    *
    * Composition (preference (a) of the extension ladder): tag both
    * sides, union, and take a running last-non-null of the right payload
    * over one (key, time)-ordered window — ONE shuffle on the key. The
    * naive equi-join + time filter + per-event argmax explodes to
    * |events| × |orders-per-key| rows before pruning; this never
    * materializes a pair. Right side is pre-aggregated to one row per
    * (key, time) so the match at equal timestamps is deterministic
    * (engines otherwise tie-break ASOF arbitrarily). */
  def asOfJoinEventsOrders(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ev = Tables.events(spark, dir)
      .select(col("event_id"), col("user_id").as("k"), col("ts_ns").as("t"))
    val ord = Tables.orders(spark, dir)
      .groupBy(col("o_custkey").as("k"),
        (unix_timestamp(col("o_orderdate")) * lit(1000000000L)).as("t"))
      .agg(max("o_orderkey").as("o_orderkey"))
    val tagged = ev
      .select(col("k"), col("t"), lit(1).as("side"),
        col("event_id"), lit(null).cast("long").as("o_orderkey"))
      .unionByName(ord.select(col("k"), col("t"), lit(0).as("side"),
        lit(null).cast("long").as("event_id"), col("o_orderkey")))
    // side 0 sorts first at equal t: an order placed at the event instant
    // is visible (ASOF `event.t >= order.t`)
    val w = Window.partitionBy("k").orderBy(col("t"), col("side"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    tagged
      .withColumn("matched_orderkey",
        last(col("o_orderkey"), ignoreNulls = true).over(w))
      .filter(col("side") === 1)
      // micro precision in the OUTPUT: DuckDB reads parquet
      // TIMESTAMP(NANOS) as micro timestamps; the join axis stays nanos
      // (order times are whole seconds, so the match set is identical)
      .select(col("event_id"), col("k").as("user_id"),
        expr("t div 1000").as("ts_us"), col("matched_orderkey"))
      .orderBy("event_id")
  }

  /** [[asOfJoinEventsOrders]] through the NATIVE whole-operator path:
    * the [[graft.plans.AsOfJoinPlan]] logical node, planned by the
    * injected [[graft.plans.AsOfJoinStrategy]] into a single-pass
    * co-partitioned merge ([[graft.plans.AsOfJoinExec]]). Same inputs,
    * same output contract, same DuckDB ASOF oracle as the windowed
    * composition — AsOfJoinSpec additionally asserts the two paths are
    * row-identical and that the native node is what actually ran. */
  def asOfJoinNative(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.GraftColumnBridge.{expression, logicalPlan, ofRows}
    val ev = Tables.events(spark, dir)
      .select(col("event_id"), col("user_id").as("k"), col("ts_ns").as("t"))
    val ord = Tables.orders(spark, dir)
      .groupBy(col("o_custkey").as("rk"),
        (unix_timestamp(col("o_orderdate")) * lit(1000000000L)).as("rt"))
      .agg(max("o_orderkey").as("o_orderkey"))
    val joined = ofRows(spark, graft.plans.AsOfJoinPlan(
      logicalPlan(ev), logicalPlan(ord),
      expression(ev("k")), expression(ev("t")),
      expression(ord("rk")), expression(ord("rt"))))
    joined
      .select(col("event_id"), col("k").as("user_id"),
        expr("t div 1000").as("ts_us"), col("o_orderkey").as("matched_orderkey"))
      .orderBy("event_id")
  }

  /** BLOOM-FILTER join pruning — the runtime-filter pattern that makes
    * selective star joins cheap at 100 TB: instead of shuffling the
    * whole fact table into a join to discover that most rows have no
    * match, a compact filter derived from the small side prunes the
    * fact scan first (Spark's own AQE injects
    * `BloomFilterAggregate`/`bloom_filter_might_contain` the same way;
    * here the filter is EXPLICIT and deterministic so the oracle can
    * re-derive it). Construction: the ~top-value orders' keys set bits
    * `h1, h2` (two independent md5-derived positions mod 2^16); a
    * lineitem row passes iff both its positions are set — membership
    * via two broadcast semi-joins against the ≤ 2·|keys| distinct
    * set-bit positions, i.e. the fact table never shuffles. Output
    * compares bloom-passed vs exactly-matched row counts per return
    * flag: `n_false_pos = n_bloom_pass − n_exact` is the measured FP
    * overhead, and no-false-negatives is implicit in the gate (the
    * exact count could not exceed the bloom count otherwise). */
  def bloomPruneCounts(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.Column
    val bits = 65536L
    // ONE hex parse per row: the low 60 bits of the digest (15 hex
    // chars) split arithmetically into the two independent positions —
    // string-parsing `conv` is the expensive step, the div/mod splits
    // are codegen'd long ops (measured: two convs cost 2× one). The
    // coalesces can never fire (md5 of a non-null key is non-null, the
    // modulus is a non-zero literal); they exist to make the join-key
    // expressions NON-NULLABLE (`Pmod.nullable` is hardcoded true), so
    // the semi-joins don't inject an isnotnull pre-filter that
    // re-evaluates the whole md5+conv chain per row before the
    // projection (measured ~2× the projection cost).
    def hashed(c: Column): Column =
      conv(substring(md5(c.cast("string")), 1, 15), 16, 10).cast("long")
    def h1(v: Column): Column = coalesce(pmod(v, lit(bits)), lit(0L))
    def h2(v: Column): Column = coalesce(pmod(expr(s"v div $bits"), lit(bits)), lit(0L))
    val hot = Tables.orders(spark, dir)
      .filter(col("o_totalprice") > 400000.0)
      .select(col("o_orderkey"))
    val setBits = hot
      .withColumn("v", hashed(col("o_orderkey")))
      .select(explode(array(h1(col("v")), h2(col("v")))).as("bit"))
      .distinct()
    // one md5 per row, one scan end-to-end: bloom pass via two broadcast
    // semi-joins, then the exact-match flag rides along as a broadcast
    // LEFT-join marker so both counts come out of a single conditional
    // aggregation — a second scan+hash of the fact table for the exact
    // leg would double the query's cost for no information.
    val probed = Tables.lineitem(spark, dir)
      .select(col("l_orderkey"), col("l_returnflag"),
        hashed(col("l_orderkey")).as("v"))
      .select(col("l_orderkey"), col("l_returnflag"),
        h1(col("v")).as("b1"), h2(col("v")).as("b2"))
    val pass = probed
      .join(broadcast(setBits.withColumnRenamed("bit", "b1")), Seq("b1"), "left_semi")
      .join(broadcast(setBits.withColumnRenamed("bit", "b2")), Seq("b2"), "left_semi")
    pass
      .join(broadcast(hot.withColumn("hit", lit(1))),
        col("l_orderkey") === col("o_orderkey"), "left")
      .groupBy("l_returnflag")
      .agg(count(lit(1)).as("n_bloom_pass"), count(col("hit")).as("n_exact"))
      .select(col("l_returnflag"), col("n_bloom_pass"), col("n_exact"),
        (col("n_bloom_pass") - col("n_exact")).as("n_false_pos"))
      .orderBy("l_returnflag")
  }

  private val allTables = Seq("region", "nation", "customer", "supplier",
    "part", "orders", "lineitem", "events", "documents", "embeddings")

  /** Catalog table stats: row count per table read from parquet FOOTER
    * metadata (`Tables.footerRowCount` — zero data scan, zero jobs),
    * with a count() fallback for non-parquet layouts. Hash-gating this
    * against DuckDB's count(*) per table is what certifies the
    * footer-stats path every self-sizing operator and size-guard relies
    * on ([[Similarity.lshNearDupAuto]], `graft.PinnedBaselines`). */
  def tableStats(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    allTables.map { t =>
      val n = Tables.footerRowCount(spark, dir, t)
        .getOrElse(Tables.table(spark, dir, t).count())
      (t, n)
    }.toDF("table_name", "n_rows").orderBy("table_name")
  }

  /** FOREIGN-KEY DISCOVERY — the data-profiling step that infers the
    * join graph of an unfamiliar lake: for each candidate (child.column
    * → parent.key) pair, the CONTAINMENT ratio |distinct child ∩ parent
    * keys| / |distinct child| in integer ppm; ≥ 999,000 ppm infers an
    * FK. Candidates here are the star schema's real edges plus one
    * deliberate NON-edge (events.user_id → customer) so the gate proves
    * the test rejects as well as accepts.
    *
    * Scale: each check collapses the child column to its DISTINCT values
    * first (partial-agg shuffle, key-cardinality-sized), then left-joins
    * the parent key set — containment is computed on dictionaries, never
    * on fact rows. Checks are independent (a profiler runs them in one
    * pass group). */
  def fkDiscovery(spark: SparkSession, dir: String): DataFrame = {
    def check(name: String, child: DataFrame, childCol: String,
              parent: DataFrame, parentCol: String): DataFrame = {
      val c = child.select(col(childCol).cast("long").as("k")).distinct()
      val p = parent.select(col(parentCol).cast("long").as("pk")).distinct()
      c.join(p, col("k") === col("pk"), "left")
        .agg(count(lit(1)).as("n_child_distinct"),
          count(col("pk")).as("n_contained"))
        .select(lit(name).as("candidate"),
          col("n_child_distinct"), col("n_contained"),
          expr("n_contained * 1000000 div n_child_distinct").as("containment_ppm"),
          expr("n_contained * 1000 >= n_child_distinct * 999").as("inferred_fk"))
    }
    val o = Tables.orders(spark, dir); val c = Tables.customer(spark, dir)
    val l = Tables.lineitem(spark, dir); val s = Tables.supplier(spark, dir)
    val p = Tables.part(spark, dir); val e = Tables.events(spark, dir)
    check("orders.o_custkey->customer.c_custkey", o, "o_custkey", c, "c_custkey")
      .unionAll(check("lineitem.l_orderkey->orders.o_orderkey", l, "l_orderkey", o, "o_orderkey"))
      .unionAll(check("lineitem.l_suppkey->supplier.s_suppkey", l, "l_suppkey", s, "s_suppkey"))
      .unionAll(check("lineitem.l_partkey->part.p_partkey", l, "l_partkey", p, "p_partkey"))
      .unionAll(check("events.user_id->customer.c_custkey", e, "user_id", c, "c_custkey"))
      .unionAll(check("orders.o_orderkey->customer.c_custkey", o, "o_orderkey", c, "c_custkey"))
      .orderBy("candidate")
  }

  /** JOIN-CARDINALITY ESTIMATION — the optimizer-statistics primitive
    * (ANALYZE TABLE's TopN histogram, Spark CBO's `joinCardinality`):
    * predict |A ⋈ B| on the many-to-many orders.o_custkey ⋈
    * events.user_id join from per-side statistics, and score each
    * estimator against the exact count. Two estimators:
    *   - `uniform_system_r`: nA·nB div max(dA, dB) — the System R
    *     uniformity+containment assumption, distinct counts only;
    *   - `topn_histogram`: exact Σ cA·cB over the top-`topN` A-keys
    *     (count desc, key asc — deterministic), uniform tail for the
    *     rest — the skew-aware upgrade every real optimizer ships.
    * The exact count is itself computed the scale-safe way: join the
    * two per-key COUNT tables and sum cA·cB — key-cardinality-sized,
    * the fact rows never multiply.
    *
    * Scale: two partial-agg groupBys (dictionary-sized outputs), a
    * bounded top-k, one count-table join; every downstream scalar rides
    * single-row aggregates. Integer arithmetic throughout, err in ppm. */
  def joinCardEst(spark: SparkSession, dir: String, topN: Int = 50): DataFrame = {
    val a = graft.Materialize(Tables.orders(spark, dir)
      .groupBy(col("o_custkey").as("k")).agg(count(lit(1)).as("ca")))
    val b = graft.Materialize(Tables.events(spark, dir)
      .groupBy(col("user_id").as("k")).agg(count(lit(1)).as("cb")))
    val statsA = a.agg(sum(col("ca")).as("na"), count(lit(1)).as("da"))
    val statsB = b.agg(sum(col("cb")).as("nb"), count(lit(1)).as("db"))
    val exact = a.join(b, "k")
      .agg(coalesce(sum(col("ca") * col("cb")), lit(0L)).as("exact_rows"))
    val topA = a.orderBy(col("ca").desc, col("k").asc).limit(topN)
    val head = topA.join(b, Seq("k"), "left")
      .agg(coalesce(sum(col("ca") * col("cb")), lit(0L)).as("head_sum"),
        coalesce(sum(col("ca")), lit(0L)).as("a_head_n"),
        count(lit(1)).as("a_head_d"),
        coalesce(sum(col("cb")), lit(0L)).as("b_head_n"),
        count(col("cb")).as("b_head_d"))
    val scalars = statsA.crossJoin(statsB).crossJoin(exact).crossJoin(head)
      .withColumn("est_uniform", expr("na * nb div greatest(da, db)"))
      .withColumn("est_topn", expr(
        """head_sum + CASE WHEN greatest(da - a_head_d, db - b_head_d) > 0
          |  THEN (na - a_head_n) * (nb - b_head_n)
          |       div greatest(da - a_head_d, db - b_head_d)
          |  ELSE 0 END""".stripMargin))
    scalars.select(explode(array(
        struct(lit("uniform_system_r").as("estimator"), col("est_uniform").as("est_rows")),
        struct(lit("topn_histogram").as("estimator"), col("est_topn").as("est_rows")))).as("e"),
        col("exact_rows"))
      .select(col("e.estimator").as("estimator"), col("e.est_rows").as("est_rows"),
        col("exact_rows"),
        expr("abs(e.est_rows - exact_rows) * 1000000 div greatest(exact_rows, 1)")
          .as("err_ppm"))
      .orderBy("estimator")
  }

  /** SKYLINE (Pareto frontier) — customers not dominated on (order
    * count, total spend): no other customer is ≥ on both dimensions and
    * > on one. The textbook operator costs a quadratic NOT EXISTS —
    * which is exactly what the DuckDB oracle runs, so the hash match
    * proves this LINEARITHMIC formulation equivalent:
    *   1. collapse to one candidate per x (same x, lower y is dominated
    *      by the per-x max; EQUAL (x,y) rows all survive — no strict
    *      inequality — and rejoin at the end);
    *   2. sort the per-x table by x desc: a candidate is on the skyline
    *      iff its y exceeds the running max y of every strictly-higher
    *      x — one window pass, no pair ever materializes.
    * Scale: the per-customer aggregate is the only corpus shuffle; the
    * window runs over |distinct x| rows (≤ a few hundred here, always
    * ≪ entities) on a single partition, and the rejoin broadcasts the
    * frontier. The divide-and-conquer generalization (local skylines
    * per partition → skyline of the union — skyline is distributive)
    * kicks in when |distinct x| itself explodes. */
  def skylineCustomers(spark: SparkSession, dir: String): DataFrame = {
    // the entity aggregate feeds BOTH the frontier derivation and the
    // final rejoin; materializing it runs the corpus scan + agg once
    // (same pattern as pageRankOf's edge list)
    val per = graft.Materialize(Tables.orders(spark, dir)
      .groupBy(col("o_custkey"))
      .agg(count(lit(1)).as("n_orders"),
        expr("CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)")
          .as("spend_cents")))
    val bestPerX = per.groupBy("n_orders")
      .agg(max(col("spend_cents")).as("spend_cents"))
    val byXDesc = Window.orderBy(col("n_orders").desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val frontier = bestPerX
      .withColumn("prev_max", max(col("spend_cents")).over(byXDesc))
      .filter(col("prev_max").isNull || col("spend_cents") > col("prev_max"))
      .select("n_orders", "spend_cents")
    per.join(broadcast(frontier), Seq("n_orders", "spend_cents"))
      .select("o_custkey", "n_orders", "spend_cents")
      .orderBy("o_custkey")
  }

  /** JOIN-KEY SKEW AUDIT — the diagnostic to run BEFORE picking a join
    * strategy at 100 TB: the full shape of the rows-per-key
    * distribution for a prospective shuffle key (lineitem.l_suppkey),
    * in one row: key/row totals, max, exact p50/p99 of key sizes, the
    * row share held by the heaviest 1% of keys, and the Gini of key
    * sizes. p99/p50 ≫ 1 or a fat top-1% share says "salt this key or
    * let AQE split it" ([[skewJoinSalted]]); ~uniform says a plain hash
    * join is safe.
    *
    * Everything after the one fact shuffle (rows per key) runs on the
    * COUNT-OF-COUNTS dictionary — distinct (size, how-many-keys) pairs,
    * bounded by max multiplicity, tiny at any corpus size — so the
    * exact percentiles, the top-share boundary split, and the Gini
    * rank-sum are all integer-exact window passes over a table that
    * fits anywhere. The heaviest-1% boundary falls inside a tied size
    * group; the partial take is exact because tied keys have EQUAL
    * size (which member is taken cannot change the sum). */
  def skewAudit(spark: SparkSession, dir: String): DataFrame =
    skewAuditOf(Tables.lineitem(spark, dir).select(col("l_suppkey").as("key")))

  /** [[skewAudit]] over any single-column (key) frame (spec entry). */
  private[operators] def skewAuditOf(keyed: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val cc = keyed.groupBy("key").agg(count(lit(1)).as("s"))
      .groupBy("s").agg(count(lit(1)).as("k"))
    val tot = cc.agg(sum(col("k")).as("n_keys"),
      sum(expr("s * k")).as("n_rows"), max(col("s")).as("max_rows"))
    val wAsc = Window.orderBy("s")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAscPrev = Window.orderBy("s")
      .rowsBetween(Window.unboundedPreceding, -1)
    val wDescPrev = Window.orderBy(desc("s"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val e = graft.Materialize(cc.crossJoin(broadcast(tot))
      .withColumn("cum_asc", sum(col("k")).over(wAsc))
      .withColumn("f_asc", coalesce(sum(col("k")).over(wAscPrev), lit(0L)))
      .withColumn("kb_desc", coalesce(sum(col("k")).over(wDescPrev), lit(0L)))
      .withColumn("sb_desc", coalesce(sum(expr("s * k")).over(wDescPrev), lit(0L))))
    val p50 = e.filter(col("cum_asc") * 2 >= col("n_keys"))
      .agg(min(col("s")).as("p50_rows"))
    val p99 = e.filter(col("cum_asc") * 100 >= col("n_keys") * 99)
      .agg(min(col("s")).as("p99_rows"))
    val top = e
      .withColumn("t", expr("(n_keys + 99) div 100"))
      .filter(col("kb_desc") < col("t") && col("kb_desc") + col("k") >= col("t"))
      .select((col("sb_desc") + (col("t") - col("kb_desc")) * col("s"))
        .as("top1pct_rows"))
    val gini = e.agg(
      sum(expr("s * (k * f_asc + k * (k + 1) div 2)")).as("s1"),
      sum(expr("s * k")).as("s0"), sum(col("k")).as("n"))
      .select(expr("(2 * s1 - (n + 1) * s0) * 1000000L div (n * s0)")
        .as("gini_ppm"))
    tot.crossJoin(broadcast(p50)).crossJoin(broadcast(p99))
      .crossJoin(broadcast(top)).crossJoin(broadcast(gini))
      .select(col("n_keys"), col("n_rows"), col("max_rows"),
        col("p50_rows"), col("p99_rows"), col("top1pct_rows"),
        expr("top1pct_rows * 1000000L div n_rows").as("top1pct_share_ppm"),
        col("gini_ppm"))
  }

  /** EDIT-DISTANCE JOIN with PROVABLY COMPLETE blocking (the FastSS /
    * symmetric-delete scheme): all distinct-name pairs with
    * levenshtein ≤ 1. [[fuzzyBlockingJoin]]'s last-token blocking is a
    * heuristic — a pair differing IN the last token never shares a
    * block and is silently missed; here the blocking key set is each
    * string's DELETION NEIGHBORHOOD (the string plus every one-char
    * deletion, |s|+1 keys). Two strings at edit distance ≤ 1 always
    * share a neighborhood member — a substitution at position i means
    * deleting i from each yields the same string; an insertion means
    * the shorter string IS a deletion of the longer — so the key join
    * produces a complete candidate superset, and the codegen'd
    * levenshtein verify makes the result EXACTLY the quadratic oracle.
    *
    * Scale: runs on the distinct-name dictionary (one partial-agg
    * shuffle over the fact, dictionary-sized after), neighborhood
    * explode is map-side (|s|+1 rows per name), candidates bucket by
    * neighborhood key. The quadratic definition never executes. */
  def editdistJoin(spark: SparkSession, dir: String): DataFrame =
    editdistJoinOf(Tables.part(spark, dir).select(col("p_name").as("name")))

  /** [[editdistJoin]] over any single-column (name) frame (spec entry). */
  private[operators] def editdistJoinOf(named: DataFrame): DataFrame = {
    val names = named.select(col("name")).distinct()
    val keys = names.select(col("name"), explode(expr(
      """array_union(array(name),
        |  transform(sequence(1, length(name)),
        |            i -> concat(substring(name, 1, i - 1),
        |                        substring(name, i + 1, length(name)))))""".stripMargin))
      .as("k"))
    val cands = keys.select(col("name").as("name_a"), col("k"))
      .join(keys.select(col("name").as("name_b"), col("k")), Seq("k"))
      .filter(col("name_a") < col("name_b"))
      .select("name_a", "name_b").distinct()
    cands
      .withColumn("dist", levenshtein(col("name_a"), col("name_b")).cast("long"))
      .filter(col("dist") <= 1)
      .orderBy("name_a", "name_b")
  }

  /** Fuzzy ENTITY-RESOLUTION join — blocked edit-distance matching, the
    * record-linkage primitive (generalizing O-25's containment lookup to
    * true approximate matching). The naive formulation is a quadratic
    * row×row theta join; the scalable shape used here resolves the
    * DICTIONARY instead:
    *   1. collapse rows to distinct normalized names + occurrence counts
    *      (one partial-agg shuffle — dictionary-sized output, typically
    *      orders of magnitude below row count);
    *   2. self-join the dictionary ONLY within blocks (same last token),
    *      an equi join — no cartesian, candidates bounded by block size;
    *   3. keep pairs with levenshtein ≤ 2 (codegen'd built-in).
    * Row linkage comes free: the pair carries both names' row counts, so
    * "rows affected by a merge" is already aggregated; mapping rows to
    * their canonical entity would be one broadcast join of this
    * dictionary-sized result back to the fact table. At 100 TB the fact
    * table crosses the wire once (step 1); the quadratic piece never
    * touches row counts. */
  def fuzzyBlockingJoin(spark: SparkSession, dir: String): DataFrame = {
    val dict = Tables.part(spark, dir)
      .select(lower(col("p_name")).as("nm"))
      .groupBy("nm").agg(count(lit(1)).as("cnt"))
      .withColumn("blk", element_at(split(col("nm"), " "), -1))
    val a = dict.select(col("blk"), col("nm").as("nm_a"), col("cnt").as("n_a"))
    val b = dict.select(col("blk"), col("nm").as("nm_b"), col("cnt").as("n_b"))
    a.join(b, Seq("blk"))
      .filter(col("nm_a") < col("nm_b"))
      .withColumn("dist", levenshtein(col("nm_a"), col("nm_b")))
      .filter(col("dist") <= 2)
      .select(col("nm_a"), col("nm_b"), col("dist").cast("long").as("dist"),
        col("n_a"), col("n_b"), (col("n_a") + col("n_b")).as("n_rows_linked"))
      .orderBy("nm_a", "nm_b")
  }

  /** INTERVAL × INTERVAL overlap join — the last join kind the banded
    * family lacked ([[rangeJoinBanded]] covers point-in-interval): per-
    * (user, day) activity intervals against deterministic weekly
    * campaign windows (Wed 12:00 + 66 h, from 2024-01-03). The scalable
    * shape is the DAY BAND: each campaign explodes to the ≤4 calendar
    * days it touches (bounded constant), the join is an equi join on
    * day, and the exact overlap predicate + length filter run on the
    * banded candidates — no keyless theta join ever forms. The DuckDB
    * oracle derives the SAME result from the direct quadratic predicate,
    * so the gate proves the banding lossless, not just self-consistent.
    * At 100 TB: activity intervals partition by day; campaigns are a
    * metadata-sized dim; candidates per day = intervals that day ×
    * campaigns touching it (≤1-2). */
  def intervalOverlapJoin(spark: SparkSession, dir: String): DataFrame = {
    val act = Tables.events(spark, dir)
      .select(col("user_id"), to_date(col("ts")).as("d"),
        expr("ts_ns div 1000").as("t"))
      .groupBy("user_id", "d")
      .agg(min(col("t")).as("a_start"), max(col("t")).as("a_end"))
    val baseUs = java.time.LocalDateTime.of(2024, 1, 3, 12, 0)
      .toInstant(java.time.ZoneOffset.UTC).toEpochMilli * 1000L
    val camps = spark.range(0, 52)
      .select(col("id").as("campaign_id"),
        (lit(baseUs) + col("id") * lit(604800000000L)).as("c_start"))
      .withColumn("c_end", col("c_start") + lit(237600000000L))
    val campDays = camps.select(col("campaign_id"), col("c_start"), col("c_end"),
      explode(expr(
        "sequence(to_date(timestamp_micros(c_start)), to_date(timestamp_micros(c_end)))"))
        .as("d"))
    act.join(broadcast(campDays), Seq("d"))
      .filter(col("a_end") > col("c_start") && col("c_end") > col("a_start"))
      .withColumn("o", least(col("a_end"), col("c_end"))
        - greatest(col("a_start"), col("c_start")))
      .groupBy("campaign_id")
      .agg(count(lit(1)).as("n_intervals"),
        countDistinct(col("user_id")).as("n_users"),
        sum(col("o")).as("total_overlap_us"))
      .orderBy("campaign_id")
  }

  /** DATA-QUALITY AUDIT — the constraint checker every ingest pipeline
    * runs before promoting a batch: referential integrity (anti joins),
    * primary-key uniqueness, domain checks, and a derived-column
    * consistency check, each reported as a violation count. All checks
    * are plain aggregations/anti-joins, so at 100 TB each costs at most
    * one shuffle and they share table scans when run as one DAG; the
    * zero counts are PINNED by the oracle — a regression in the data or
    * a reader shows up as a nonzero diff, which is the point. */
  def dqAudit(spark: SparkSession, dir: String): DataFrame = {
    def check(name: String, violations: DataFrame): DataFrame =
      violations.agg(count(lit(1)).as("n_violations"))
        .select(lit(name).as("check_name"), col("n_violations"))
    val orders = Tables.orders(spark, dir)
    val lineitem = Tables.lineitem(spark, dir)
    Seq(
      check("fk_orders_customer",
        orders.join(Tables.customer(spark, dir),
          col("o_custkey") === col("c_custkey"), "left_anti")),
      check("fk_lineitem_orders",
        lineitem.join(orders.select("o_orderkey"),
          col("l_orderkey") === col("o_orderkey"), "left_anti")),
      check("pk_orders_unique",
        orders.groupBy("o_orderkey").agg(count(lit(1)).as("n"))
          .filter(col("n") > 1)),
      check("chk_lineitem_qty_positive",
        lineitem.filter(col("l_quantity").isNull || col("l_quantity") <= 0)),
      check("chk_events_value_nonneg",
        Tables.events(spark, dir)
          .filter(col("value").isNull || col("value") < 0)),
      check("chk_documents_nchars",
        Tables.documents(spark, dir)
          .filter(col("n_chars") =!= length(col("text")))))
      .reduce(_.unionAll(_))
      .orderBy("check_name")
  }

  /** QUOTA-GATED ADMISSION — enforce the
    * [[graft.operators.Aggregations.allocBudget]] allocation as an
    * actual admission policy: each nation's orders admit in
    * (o_orderdate, o_orderkey) order until that nation's prorated quota
    * (1000 admissions split by the largest-remainder rule) is
    * exhausted; later orders reject. Reported per nation: quota, order
    * count, admitted/rejected, and the first rejected day. The
    * composition proves the allocation table is consumable — quotas
    * that only ever print are not a policy.
    *
    * Scale: quota table is |nations| rows, BROADCAST twice (dim join +
    * quota join); the admission ordinal is ONE per-nation window. The
    * per-nation sort is inherent to ordered admission (the semantics
    * are "first come first served") — partitions are bounded by the
    * largest nation's orders, the same bound every per-entity window
    * here carries. */
  def quotaAdmission(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val quotas = Aggregations.allocBudget(spark, dir, 1000L)
      .select(col("c_nationkey"), col("alloc_units").as("quota"))
    val byArrival = Window.partitionBy("c_nationkey")
      .orderBy(col("o_orderdate"), col("o_orderkey"))
    Tables.orders(spark, dir)
      .join(broadcast(Tables.customer(spark, dir)
        .select(col("c_custkey"), col("c_nationkey"))),
        col("o_custkey") === col("c_custkey"))
      .withColumn("rn", row_number().over(byArrival).cast("long"))
      .join(broadcast(quotas), Seq("c_nationkey"))
      .withColumn("admitted", col("rn") <= col("quota"))
      .groupBy("c_nationkey", "quota")
      .agg(count(lit(1)).as("n_orders"),
        expr("CAST(sum(CASE WHEN admitted THEN 1 ELSE 0 END) AS BIGINT)").as("n_admitted"),
        expr("CAST(sum(CASE WHEN admitted THEN 0 ELSE 1 END) AS BIGINT)").as("n_rejected"),
        min(when(!col("admitted"), col("o_orderdate"))).as("first_rejected_day"))
      .orderBy("c_nationkey")
  }

  /** MUTUAL BEST MATCH — the reciprocal-top-1 join: keep (supplier,
    * customer) pairs where the customer is that supplier's highest-
    * revenue counterparty AND vice versa. The standard stable-pairing
    * primitive for entity resolution / account mapping, where one-sided
    * best-of is not evidence but RECIPROCAL best-of is. Revenue in
    * integer units (per-line round, summed as BIGINT) with a full
    * deterministic tie order (revenue desc, partner key asc).
    *
    * Scale: the pair aggregate is ONE fact shuffle; the two best-of
    * windows partition it on each side's key (two small shuffles over
    * the pair table, not the fact table); the reciprocal check is an
    * equi-join of two top-1 tables on (supp, cust). */
  def mutualBestMatch(spark: SparkSession, dir: String): DataFrame = {
    val pair = Tables.orders(spark, dir).select(col("o_orderkey"), col("o_custkey"))
      .join(Tables.lineitem(spark, dir)
        .select(col("l_orderkey"), col("l_suppkey"), col("l_extendedprice")),
        col("o_orderkey") === col("l_orderkey"))
      .groupBy(col("l_suppkey").as("s_suppkey"), col("o_custkey").as("c_custkey"))
      .agg(expr("CAST(sum(CAST(round(l_extendedprice) AS BIGINT)) AS BIGINT)").as("rev_units"))
    mutualBestMatchOfPairs(pair)
  }

  /** [[mutualBestMatch]] reciprocal-top-1 core over any
    * (s_suppkey, c_custkey, rev_units) pair table (spec entry). */
  private[graft] def mutualBestMatchOfPairs(pair: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val bySupp = Window.partitionBy("s_suppkey")
      .orderBy(desc("rev_units"), asc("c_custkey"))
    val byCust = Window.partitionBy("c_custkey")
      .orderBy(desc("rev_units"), asc("s_suppkey"))
    val bestC = pair.withColumn("rn", row_number().over(bySupp))
      .filter(col("rn") === 1).drop("rn")
    val bestS = pair.withColumn("rn", row_number().over(byCust))
      .filter(col("rn") === 1).drop("rn")
    bestC.join(bestS, Seq("s_suppkey", "c_custkey", "rev_units"))
      .orderBy("s_suppkey")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "rel_mutual_best_match"   -> mutualBestMatch _,
    "rel_quota_admission"     -> quotaAdmission _,
    "rel_interval_overlap"    -> intervalOverlapJoin _,
    "rel_dq_audit"            -> dqAudit _,
    "rel_fuzzy_blocking_join" -> fuzzyBlockingJoin _,
    "rel_editdist_join" -> editdistJoin _,
    "rel_skew_audit" -> skewAudit _,
    "rel_bloom_prune"         -> bloomPruneCounts _,
    "rel_table_stats"         -> tableStats _,
    "rel_fk_discovery"        -> fkDiscovery _,
    "rel_join_card_est"       -> ((s: SparkSession, d: String) => joinCardEst(s, d)),
    "rel_skyline_pareto"      -> skylineCustomers _,
    "rel_asof_join"           -> asOfJoinEventsOrders _,
    "rel_asof_join_native"    -> asOfJoinNative _,
    "rel_semi_join"            -> semiJoinBigItems _,
    "rel_range_join_banded"    -> rangeJoinBanded _,
    "rel_except"               -> exceptKeys _,
    "rel_intersect"            -> intersectKeys _,
    "rel_scan_project_region"    -> scanProjectRegion _,
    "rel_filter_timerange"       -> filterTimerangeOrders _,
    "rel_anti_join_resume"       -> antiJoinResume _,
    "rel_router_type_counts"     -> routerTypeCounts _,
    "rel_theta_contains_join"    -> thetaContainsJoin _,
    "rel_union_dedup"            -> unionDedupEvents _,
    "rel_self_compare_crossnation" -> selfCompareCrossNation _,
    "rel_delete_by_key"          -> deleteByKey _,
    "rel_star_join_revenue"      -> starJoinRevenue _,
    "rel_zorder_layout"          -> (graft.sources.Layout.zTileStats _),
    "rel_orc_roundtrip"          -> (graft.sources.Formats.orcRoundtrip _),
    "rel_jsonl_roundtrip"        -> (graft.sources.Formats.jsonlRoundtrip _),
    "rel_csv_roundtrip"          -> (graft.sources.Formats.csvRoundtrip _),
  )

  // DuckDB's native ASOF LEFT JOIN is the oracle for BOTH asof paths
  // (greatest order time <= event time per key)
  private val asofOracleSql =
    """WITH ord AS (
         SELECT o_custkey AS k,
                epoch(o_orderdate) * CAST(1000000000 AS BIGINT) AS t,
                max(o_orderkey) AS o_orderkey
         FROM orders GROUP BY 1, 2),
       ev AS (SELECT event_id, user_id, epoch_ns(ts) AS t FROM events)
       SELECT e.event_id, e.user_id, e.t // 1000 AS ts_us,
              o.o_orderkey AS matched_orderkey
       FROM ev e ASOF LEFT JOIN ord o
         ON e.user_id = o.k AND e.t >= o.t
       ORDER BY event_id"""

  val oracles: Map[String, String] = Map(
    // same reciprocal-top-1 with the same deterministic tie order
    "rel_mutual_best_match" ->
      """WITH pair AS (
           SELECT l.l_suppkey AS s_suppkey, o.o_custkey AS c_custkey,
                  CAST(sum(CAST(round(l.l_extendedprice) AS BIGINT)) AS BIGINT) AS rev_units
           FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
           GROUP BY 1, 2),
         bc AS (SELECT * FROM (
                  SELECT *, row_number() OVER (PARTITION BY s_suppkey
                    ORDER BY rev_units DESC, c_custkey ASC) AS rn FROM pair)
                WHERE rn = 1),
         bs AS (SELECT * FROM (
                  SELECT *, row_number() OVER (PARTITION BY c_custkey
                    ORDER BY rev_units DESC, s_suppkey ASC) AS rn FROM pair)
                WHERE rn = 1)
         SELECT bc.s_suppkey, bc.c_custkey, bc.rev_units
         FROM bc JOIN bs ON bc.s_suppkey = bs.s_suppkey
                        AND bc.c_custkey = bs.c_custkey
                        AND bc.rev_units = bs.rev_units
         ORDER BY bc.s_suppkey""",
    // same largest-remainder quota replica, same (orderdate, orderkey)
    // arrival ordinal and quota cut
    "rel_quota_admission" ->
      """WITH rev AS (
           SELECT c.c_nationkey,
                  CAST(sum(CAST(round(o.o_totalprice) AS BIGINT)) AS BIGINT) AS rev
           FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
           GROUP BY 1),
         t AS (SELECT CAST(sum(rev) AS BIGINT) AS r_total FROM rev),
         s AS (SELECT rev.c_nationkey, rev.rev,
                 (1000 * rev.rev) // t.r_total AS fl,
                 (1000 * rev.rev) % t.r_total AS rem
               FROM rev, t),
         q AS (SELECT c_nationkey,
                 fl + CASE WHEN CAST(row_number() OVER (ORDER BY rem DESC, c_nationkey ASC) AS BIGINT)
                           <= 1000 - CAST(SUM(fl) OVER () AS BIGINT)
                      THEN 1 ELSE 0 END AS quota
               FROM s),
         o AS (SELECT c.c_nationkey, o.o_orderdate,
                 CAST(row_number() OVER (PARTITION BY c.c_nationkey
                   ORDER BY o.o_orderdate, o.o_orderkey) AS BIGINT) AS rn
               FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey)
         SELECT o.c_nationkey, q.quota, count(*) AS n_orders,
                CAST(sum(CASE WHEN o.rn <= q.quota THEN 1 ELSE 0 END) AS BIGINT) AS n_admitted,
                CAST(sum(CASE WHEN o.rn <= q.quota THEN 0 ELSE 1 END) AS BIGINT) AS n_rejected,
                min(CASE WHEN o.rn > q.quota THEN o.o_orderdate END) AS first_rejected_day
         FROM o JOIN q ON o.c_nationkey = q.c_nationkey
         GROUP BY o.c_nationkey, q.quota ORDER BY o.c_nationkey""",
    // INDEPENDENT derivation: the oracle joins on the raw quadratic
    // overlap predicate (no day banding) — a hash match proves the
    // Spark side's banding is lossless
    "rel_interval_overlap" ->
      """WITH act AS (
           SELECT user_id, CAST(ts AS DATE) AS d,
                  min(epoch_ns(ts) // 1000) AS a_start,
                  max(epoch_ns(ts) // 1000) AS a_end
           FROM events GROUP BY 1, 2),
         camps AS (
           SELECT CAST(w AS BIGINT) AS campaign_id,
                  epoch_us(TIMESTAMP '2024-01-03 12:00:00')
                    + w * 604800000000 AS c_start,
                  epoch_us(TIMESTAMP '2024-01-03 12:00:00')
                    + w * 604800000000 + 237600000000 AS c_end
           FROM (SELECT unnest(range(52)) AS w)),
         ov AS (
           SELECT c.campaign_id, a.user_id,
                  least(a.a_end, c.c_end) - greatest(a.a_start, c.c_start) AS o
           FROM act a JOIN camps c
             ON a.a_end > c.c_start AND c.c_end > a.a_start)
         SELECT campaign_id, count(*) AS n_intervals,
                count(DISTINCT user_id) AS n_users,
                CAST(sum(o) AS BIGINT) AS total_overlap_us
         FROM ov GROUP BY campaign_id ORDER BY campaign_id""",
    // the same six checks, each as a scalar count; zeros are pinned
    "rel_dq_audit" ->
      """SELECT 'chk_documents_nchars' AS check_name,
                count(CASE WHEN n_chars <> length(text) THEN 1 END) AS n_violations
         FROM documents
         UNION ALL
         SELECT 'chk_events_value_nonneg',
                count(CASE WHEN value IS NULL OR value < 0 THEN 1 END)
         FROM events
         UNION ALL
         SELECT 'chk_lineitem_qty_positive',
                count(CASE WHEN l_quantity IS NULL OR l_quantity <= 0 THEN 1 END)
         FROM lineitem
         UNION ALL
         SELECT 'fk_lineitem_orders',
                count(CASE WHEN o.o_orderkey IS NULL THEN 1 END)
         FROM lineitem l LEFT JOIN orders o ON l.l_orderkey = o.o_orderkey
         UNION ALL
         SELECT 'fk_orders_customer',
                count(CASE WHEN c.c_custkey IS NULL THEN 1 END)
         FROM orders r LEFT JOIN customer c ON r.o_custkey = c.c_custkey
         UNION ALL
         SELECT 'pk_orders_unique', count(*)
         FROM (SELECT o_orderkey FROM orders GROUP BY o_orderkey HAVING count(*) > 1)
         ORDER BY check_name""",
    // the quadratic definition the deletion-neighborhood blocking
    // provably equals
    "rel_editdist_join" ->
      """WITH n AS (SELECT DISTINCT p_name AS name FROM part)
         SELECT a.name AS name_a, b.name AS name_b,
                CAST(levenshtein(a.name, b.name) AS BIGINT) AS dist
         FROM n a JOIN n b ON a.name < b.name
         WHERE levenshtein(a.name, b.name) <= 1
         ORDER BY 1, 2""",
    // identical count-of-counts windows, boundary split, gini algebra
    "rel_skew_audit" ->
      """WITH kc AS (SELECT l_suppkey AS key, CAST(count(*) AS BIGINT) AS s
                     FROM lineitem GROUP BY 1),
         cc AS (SELECT s, CAST(count(*) AS BIGINT) AS k FROM kc GROUP BY 1),
         tot AS (SELECT CAST(sum(k) AS BIGINT) AS n_keys,
                        CAST(sum(s * k) AS BIGINT) AS n_rows,
                        max(s) AS max_rows FROM cc),
         e AS (SELECT s, k,
                 CAST(sum(k) OVER (ORDER BY s ROWS BETWEEN UNBOUNDED
                   PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_asc,
                 CAST(coalesce(sum(k) OVER (ORDER BY s ROWS BETWEEN
                   UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS f_asc,
                 CAST(coalesce(sum(k) OVER (ORDER BY s DESC ROWS BETWEEN
                   UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS kb_desc,
                 CAST(coalesce(sum(s * k) OVER (ORDER BY s DESC ROWS BETWEEN
                   UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS sb_desc
               FROM cc),
         p50 AS (SELECT min(s) AS p50_rows FROM e, tot WHERE cum_asc * 2 >= n_keys),
         p99 AS (SELECT min(s) AS p99_rows FROM e, tot
                 WHERE cum_asc * 100 >= n_keys * 99),
         tp AS (SELECT sb_desc + ((n_keys + 99) // 100 - kb_desc) * s AS top1pct_rows
                FROM e, tot
                WHERE kb_desc < (n_keys + 99) // 100
                  AND kb_desc + k >= (n_keys + 99) // 100),
         g AS (SELECT CAST(sum(s * (k * f_asc + k * (k + 1) // 2)) AS BIGINT) AS s1,
                      CAST(sum(s * k) AS BIGINT) AS s0,
                      CAST(sum(k) AS BIGINT) AS n FROM e)
         SELECT n_keys, n_rows, max_rows, p50_rows, p99_rows, top1pct_rows,
                CAST(top1pct_rows * 1000000 // n_rows AS BIGINT) AS top1pct_share_ppm,
                CAST((2 * s1 - (n + 1) * s0) * 1000000 // (n * s0) AS BIGINT) AS gini_ppm
         FROM tot, p50, p99, tp, g""",
    // identical dictionary resolution: distinct lowered names + counts,
    // last-token blocks, levenshtein <= 2 within block
    "rel_fuzzy_blocking_join" ->
      """WITH dict AS (
           SELECT nm, count(*) AS cnt, string_split(nm, ' ')[-1] AS blk
           FROM (SELECT lower(p_name) AS nm FROM part)
           GROUP BY nm),
         pairs AS (
           SELECT a.nm AS nm_a, b.nm AS nm_b,
                  levenshtein(a.nm, b.nm) AS dist,
                  a.cnt AS n_a, b.cnt AS n_b
           FROM dict a JOIN dict b ON a.blk = b.blk AND a.nm < b.nm)
         SELECT nm_a, nm_b, CAST(dist AS BIGINT) AS dist, n_a, n_b,
                n_a + n_b AS n_rows_linked
         FROM pairs WHERE dist <= 2 ORDER BY nm_a, nm_b""",
    // the oracle re-derives the identical deterministic bloom (same md5
    // bit positions, same 2^16 modulus) and counts pass/exact per flag
    "rel_bloom_prune" ->
      """WITH hot AS (
           SELECT o_orderkey,
             CAST('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 15) AS BIGINT) AS v
           FROM orders WHERE o_totalprice > 400000.0),
         bits AS (
           SELECT DISTINCT v % 65536 AS bit FROM hot
           UNION
           SELECT DISTINCT (v // 65536) % 65536 AS bit FROM hot),
         probed AS (
           SELECT l_orderkey, l_returnflag, v % 65536 AS b1, (v // 65536) % 65536 AS b2
           FROM (SELECT l_orderkey, l_returnflag,
                   CAST('0x' || substr(md5(CAST(l_orderkey AS VARCHAR)), 1, 15) AS BIGINT) AS v
                 FROM lineitem)),
         pass AS (
           SELECT * FROM probed
           WHERE b1 IN (SELECT bit FROM bits) AND b2 IN (SELECT bit FROM bits)),
         np AS (SELECT l_returnflag, count(*) AS n_bloom_pass FROM pass GROUP BY 1),
         ne AS (SELECT l_returnflag, count(*) AS n_exact FROM pass
                WHERE l_orderkey IN (SELECT o_orderkey FROM hot) GROUP BY 1)
         SELECT np.l_returnflag, np.n_bloom_pass,
                coalesce(ne.n_exact, 0) AS n_exact,
                np.n_bloom_pass - coalesce(ne.n_exact, 0) AS n_false_pos
         FROM np LEFT JOIN ne ON np.l_returnflag = ne.l_returnflag
         ORDER BY np.l_returnflag""",
    "rel_table_stats" -> allTables.sorted
      .map(t => s"SELECT '$t' AS table_name, count(*) AS n_rows FROM $t")
      .mkString("", "\n         UNION ALL\n         ", "\n         ORDER BY table_name"),
    "rel_asof_join" -> asofOracleSql,
    // identical semantics through the native AsOfJoinExec operator
    "rel_asof_join_native" -> asofOracleSql,
    // the oracle states the SEMANTICS (plain inequality join); the
    // banding is the engine-side physical strategy under test
    "rel_range_join_banded" ->
      """WITH ev AS (SELECT event_id, epoch_us(ts) AS t, value, event_type FROM events),
         iv AS (SELECT event_id AS interval_id, t AS lo, t + 3600000000 AS hi
                FROM ev WHERE event_type = 'error' AND event_id % 50 = 0)
         SELECT interval_id, count(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
         FROM iv JOIN ev ON ev.t >= iv.lo AND ev.t < iv.hi
         GROUP BY interval_id ORDER BY interval_id""",
    "rel_semi_join" ->
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
         WHERE EXISTS (SELECT 1 FROM lineitem
                       WHERE l_orderkey = o_orderkey AND l_quantity >= 49.0)
         ORDER BY o_orderkey""",
    "rel_except" ->
      """SELECT o_custkey AS custkey FROM orders
         EXCEPT
         SELECT o_custkey FROM orders WHERE o_orderdate >= TIMESTAMP '1998-01-01 00:00:00'
         ORDER BY custkey""",
    "rel_intersect" ->
      """SELECT o_custkey AS custkey FROM orders WHERE o_totalprice > 300000.0
         INTERSECT
         SELECT o_custkey FROM orders WHERE o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
         ORDER BY custkey""",
    "rel_scan_project_region" ->
      "SELECT r_regionkey, r_name FROM region ORDER BY r_regionkey",
    "rel_filter_timerange" ->
      """SELECT o_orderpriority, count(*) AS n_orders,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
         FROM orders
         WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
           AND o_orderdate <  TIMESTAMP '1997-01-01 00:00:00'
         GROUP BY o_orderpriority ORDER BY o_orderpriority""",
    "rel_anti_join_resume" ->
      """SELECT c_custkey, c_name FROM customer
         WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
         ORDER BY c_custkey""",
    "rel_router_type_counts" ->
      """SELECT CASE WHEN event_type IN ('purchase','signup') THEN 'conversion'
                     WHEN event_type = 'error' THEN 'failure'
                     ELSE 'engagement' END AS route,
                count(*) AS n_events, count(DISTINCT user_id) AS n_users
         FROM events GROUP BY 1 ORDER BY route""",
    "rel_theta_contains_join" ->
      """SELECT kw, count(*) AS n_docs
         FROM documents
         JOIN (VALUES ('scan'),('join'),('filter'),('window'),('merge')) AS dim(kw)
           ON contains(text, kw)
         GROUP BY kw ORDER BY kw""",
    "rel_union_dedup" ->
      """SELECT event_type, count(*) AS n FROM (
           SELECT DISTINCT event_id, event_type FROM (
             SELECT event_id, event_type FROM events WHERE user_id < 30
             UNION ALL
             SELECT event_id, event_type FROM events WHERE value > 50))
         GROUP BY event_type ORDER BY event_type""",
    "rel_self_compare_crossnation" ->
      """SELECT n_name AS supp_nation, count(*) AS n_items,
                CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS revenue
         FROM lineitem
         JOIN orders   ON l_orderkey = o_orderkey
         JOIN customer ON o_custkey  = c_custkey
         JOIN supplier ON l_suppkey  = s_suppkey
         JOIN nation   ON s_nationkey = n_nationkey
         WHERE c_nationkey <> s_nationkey
         GROUP BY n_name ORDER BY supp_nation""",
    "rel_delete_by_key" ->
      """SELECT o_orderstatus, count(*) AS n_orders FROM orders
         WHERE NOT EXISTS (SELECT 1 FROM customer
                           WHERE c_custkey = o_custkey AND c_mktsegment = 'BUILDING')
         GROUP BY o_orderstatus ORDER BY o_orderstatus""",
    "rel_star_join_revenue" ->
      """SELECT r_name, count(*) AS n_orders,
                CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
         FROM orders
         JOIN customer ON o_custkey = c_custkey
         JOIN nation   ON c_nationkey = n_nationkey
         JOIN region   ON n_regionkey = r_regionkey
         GROUP BY r_name ORDER BY r_name""",
    // Morton interleave spelled out as shift/mask rounds (the classic
    // bit-spread chain, same constants as Layout.mortonCol) so DuckDB
    // re-derives the exact tile assignment — fixed-width tiles, no
    // sampled boundaries.
    "rel_zorder_layout" ->
      """WITH base AS (
           SELECT (l_partkey % 1048576) AS a, (l_suppkey % 1048576) AS b FROM lineitem),
         r1 AS (SELECT a, b,
                  (a | (a << 16)) & 281470681808895 AS sa,
                  (b | (b << 16)) & 281470681808895 AS sb FROM base),
         r2 AS (SELECT a, b,
                  (sa | (sa << 8)) & 71777214294589695 AS sa,
                  (sb | (sb << 8)) & 71777214294589695 AS sb FROM r1),
         r3 AS (SELECT a, b,
                  (sa | (sa << 4)) & 1085102592571150095 AS sa,
                  (sb | (sb << 4)) & 1085102592571150095 AS sb FROM r2),
         r4 AS (SELECT a, b,
                  (sa | (sa << 2)) & 3689348814741910323 AS sa,
                  (sb | (sb << 2)) & 3689348814741910323 AS sb FROM r3),
         r5 AS (SELECT a, b,
                  (sa | (sa << 1)) & 6148914691236517205 AS sa,
                  (sb | (sb << 1)) & 6148914691236517205 AS sb FROM r4),
         z AS (SELECT a, b, (sa | (sb << 1)) AS zval FROM r5)
         SELECT (zval >> 12) AS tile, CAST(count(*) AS BIGINT) AS n_rows,
                min(a) AS a_lo, max(a) AS a_hi,
                min(b) AS b_lo, max(b) AS b_hi
         FROM z GROUP BY 1 ORDER BY tile""",
    // oracle reads the ORIGINAL parquet; the Spark side reads its ORC
    // mirror — a hash match proves the ORC sink+source lossless
    "rel_orc_roundtrip" ->
      """SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
                CAST(sum(n_chars) AS BIGINT) AS sum_chars,
                min(doc_id) AS min_doc, max(doc_id) AS max_doc
         FROM documents GROUP BY lang ORDER BY lang""",
    "rel_jsonl_roundtrip" ->
      """SELECT lang, source, CAST(count(*) AS BIGINT) AS n_docs,
                CAST(sum(n_chars) AS BIGINT) AS sum_chars,
                min(doc_id) AS min_doc, max(doc_id) AS max_doc
         FROM documents GROUP BY lang, source ORDER BY lang, source""",
    // INDEPENDENT derivation: the oracle runs the quadratic NOT EXISTS
    // dominance test — a hash match proves the window formulation
    // equivalent, not just self-consistent
    "rel_skyline_pareto" ->
      """WITH per AS (
           SELECT o_custkey, count(*) AS n_orders,
                  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                    AS spend_cents
           FROM orders GROUP BY 1)
         SELECT a.o_custkey, a.n_orders, a.spend_cents
         FROM per a
         WHERE NOT EXISTS (
           SELECT 1 FROM per b
           WHERE b.n_orders >= a.n_orders AND b.spend_cents >= a.spend_cents
             AND (b.n_orders > a.n_orders OR b.spend_cents > a.spend_cents))
         ORDER BY a.o_custkey""",
    // same dictionary-level containment per candidate edge
    "rel_fk_discovery" ->
      """WITH
         c1 AS (SELECT count(*) AS n, count(p.pk) AS m FROM
                (SELECT DISTINCT o_custkey AS k FROM orders) ch LEFT JOIN
                (SELECT DISTINCT c_custkey AS pk FROM customer) p ON ch.k = p.pk),
         c2 AS (SELECT count(*) AS n, count(p.pk) AS m FROM
                (SELECT DISTINCT l_orderkey AS k FROM lineitem) ch LEFT JOIN
                (SELECT DISTINCT o_orderkey AS pk FROM orders) p ON ch.k = p.pk),
         c3 AS (SELECT count(*) AS n, count(p.pk) AS m FROM
                (SELECT DISTINCT l_suppkey AS k FROM lineitem) ch LEFT JOIN
                (SELECT DISTINCT s_suppkey AS pk FROM supplier) p ON ch.k = p.pk),
         c4 AS (SELECT count(*) AS n, count(p.pk) AS m FROM
                (SELECT DISTINCT l_partkey AS k FROM lineitem) ch LEFT JOIN
                (SELECT DISTINCT p_partkey AS pk FROM part) p ON ch.k = p.pk),
         c5 AS (SELECT count(*) AS n, count(p.pk) AS m FROM
                (SELECT DISTINCT user_id AS k FROM events) ch LEFT JOIN
                (SELECT DISTINCT c_custkey AS pk FROM customer) p ON ch.k = p.pk),
         c6 AS (SELECT count(*) AS n, count(p.pk) AS m FROM
                (SELECT DISTINCT o_orderkey AS k FROM orders) ch LEFT JOIN
                (SELECT DISTINCT c_custkey AS pk FROM customer) p ON ch.k = p.pk),
         u AS (
           SELECT 'orders.o_custkey->customer.c_custkey' AS candidate, n, m FROM c1
           UNION ALL SELECT 'lineitem.l_orderkey->orders.o_orderkey', n, m FROM c2
           UNION ALL SELECT 'lineitem.l_suppkey->supplier.s_suppkey', n, m FROM c3
           UNION ALL SELECT 'lineitem.l_partkey->part.p_partkey', n, m FROM c4
           UNION ALL SELECT 'events.user_id->customer.c_custkey', n, m FROM c5
           UNION ALL SELECT 'orders.o_orderkey->customer.c_custkey', n, m FROM c6)
         SELECT candidate, n AS n_child_distinct, m AS n_contained,
                CAST(m * 1000000 // n AS BIGINT) AS containment_ppm,
                m * 1000 >= n * 999 AS inferred_fk
         FROM u ORDER BY candidate""",
    // same count-table exact join size, same top-50 head + uniform-tail
    // estimators; all sums CAST back down from DuckDB's HUGEINT
    "rel_join_card_est" ->
      """WITH a AS (SELECT o_custkey AS k, count(*) AS ca FROM orders GROUP BY 1),
         b AS (SELECT user_id AS k, count(*) AS cb FROM events GROUP BY 1),
         sa AS (SELECT CAST(sum(ca) AS BIGINT) AS na, count(*) AS da FROM a),
         sb AS (SELECT CAST(sum(cb) AS BIGINT) AS nb, count(*) AS db FROM b),
         ex AS (SELECT CAST(coalesce(sum(a.ca * b.cb), 0) AS BIGINT) AS exact_rows
                FROM a JOIN b ON a.k = b.k),
         ta AS (SELECT * FROM a ORDER BY ca DESC, k ASC LIMIT 50),
         hd AS (SELECT CAST(coalesce(sum(ta.ca * b.cb), 0) AS BIGINT) AS head_sum,
                       CAST(coalesce(sum(ta.ca), 0) AS BIGINT) AS a_head_n,
                       count(*) AS a_head_d,
                       CAST(coalesce(sum(b.cb), 0) AS BIGINT) AS b_head_n,
                       count(b.cb) AS b_head_d
                FROM ta LEFT JOIN b ON ta.k = b.k),
         sc AS (SELECT *,
                  na * nb // greatest(da, db) AS est_uniform,
                  head_sum + CASE WHEN greatest(da - a_head_d, db - b_head_d) > 0
                    THEN (na - a_head_n) * (nb - b_head_n)
                         // greatest(da - a_head_d, db - b_head_d)
                    ELSE 0 END AS est_topn
                FROM sa, sb, ex, hd)
         SELECT estimator, CAST(est_rows AS BIGINT) AS est_rows, exact_rows,
                CAST(abs(est_rows - exact_rows) * 1000000 // greatest(exact_rows, 1)
                     AS BIGINT) AS err_ppm
         FROM (SELECT 'uniform_system_r' AS estimator, est_uniform AS est_rows,
                      exact_rows FROM sc
               UNION ALL
               SELECT 'topn_histogram', est_topn, exact_rows FROM sc)
         ORDER BY estimator""",
    // the oracle digests the ORIGINAL parquet text: a match proves the
    // CSV quoting round-trip byte-exact per document
    "rel_csv_roundtrip" ->
      """SELECT doc_id, lang, md5(text) AS text_md5
         FROM documents ORDER BY doc_id""",
  )
}
