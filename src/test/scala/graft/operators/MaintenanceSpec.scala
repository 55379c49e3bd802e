package graft.operators

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

/** SCD1 MERGE and SCD2 history: hand-built change cases covering every
  * action, plus plan/invariant checks on the real table. The Merkle diff
  * equals the full CDC diff and flags nothing on identical snapshots. */
class MaintenanceSpec extends AnyFunSuite {
  lazy val spark = graft.Sessions.local("4", "graft-maintenance-test")
  import spark.implicits._

  private def ts(s: String) = java.sql.Timestamp.valueOf(s)

  /** orders-shaped frame: (key, cust, priority, date). */
  private def ordersOf(rows: (Long, Long, String, String)*) =
    rows.toDF("o_orderkey", "o_custkey", "o_orderpriority", "d")
      .withColumn("o_orderdate", col("d").cast("timestamp")).drop("d")
      .withColumn("o_orderstatus", lit("O"))
      .withColumn("o_totalprice", lit(1.0))

  test("upsert applies update/delete/insert and keeps the rest") {
    // keys: 10 → update, 7/17 → delete, 3/13 → source inserts, 4 → kept
    val snap = ordersOf(
      (10L, 1L, "1-URGENT", "1996-01-01 00:00:00"),
      (7L, 1L, "2-HIGH", "1996-01-02 00:00:00"),
      (17L, 2L, "3-MEDIUM", "1996-01-03 00:00:00"),
      (3L, 2L, "4-LOW", "1996-01-04 00:00:00"),
      (4L, 3L, "5-NONE", "1996-01-05 00:00:00"))
    val got = Maintenance.upsertOf(snap)
      .select("o_orderkey", "o_custkey", "o_orderpriority", "action")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getString(3)))
    assert(got.toSeq == Seq(
      (3L, 2L, "4-LOW", "kept"),          // %10==3: stays AND re-enters shifted
      (4L, 3L, "5-NONE", "kept"),
      (10L, 1L, "X-UPDATED", "updated"),
      (1000003L, 2L, "X-NEW", "inserted")))
  }

  test("upsert broadcasts the change batch — the snapshot never shuffles") {
    val plan = Maintenance.upsertOrders(spark, "/root/testdata/sf0.01")
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), s"expected broadcast MERGE join:\n$plan")
    assert(!plan.contains("SortMergeJoin"), s"snapshot must not sort-merge:\n$plan")
  }

  test("upsert key-set algebra holds on the real table") {
    val orders = graft.sources.Tables.orders(spark, "/root/testdata/sf0.01")
    val n = orders.count()
    val nDel = orders.filter(col("o_orderkey") % 10 === 7).count()
    val nIns = orders.filter(col("o_orderkey") % 10 === 3).count()
    val merged = Maintenance.upsertOrders(spark, "/root/testdata/sf0.01")
    assert(merged.count() == n - nDel + nIns)
    assert(merged.filter(col("o_orderkey") % 10 === 7 && col("o_orderkey") < 1000000L).count() == 0)
    assert(merged.filter(col("action") === "inserted").count() == nIns)
    // merge is keyed: no duplicate keys in the result
    assert(merged.groupBy("o_orderkey").count().filter(col("count") > 1).count() == 0)
  }

  test("scd2 collapses runs into versions with closed/open intervals") {
    val log = ordersOf(
      (1L, 9L, "A", "1996-01-01 00:00:00"),
      (2L, 9L, "A", "1996-02-01 00:00:00"), // same value → same version
      (3L, 9L, "B", "1996-03-01 00:00:00"), // change → v2
      (4L, 9L, "A", "1996-04-01 00:00:00"), // back to A → v3 (runs, not values)
      (5L, 8L, "C", "1996-01-15 00:00:00")) // second entity, single version
    val got = Maintenance.scd2Of(log).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getTimestamp(2),
        r.getTimestamp(3), r.getLong(4), r.getBoolean(5)))
    assert(got.toSeq == Seq(
      (8L, "C", ts("1996-01-15 00:00:00"), null, 1L, true),
      (9L, "A", ts("1996-01-01 00:00:00"), ts("1996-03-01 00:00:00"), 1L, false),
      (9L, "B", ts("1996-03-01 00:00:00"), ts("1996-04-01 00:00:00"), 2L, false),
      (9L, "A", ts("1996-04-01 00:00:00"), null, 3L, true)))
  }

  test("scd2 invariants on the real table: contiguous intervals, one current per entity") {
    val hist = Maintenance.scd2Customers(spark, "/root/testdata/sf0.01")
    val perCust = hist.groupBy("o_custkey")
      .agg(count(when(col("is_current"), 1)).as("n_current"),
        count(lit(1)).as("n_versions"),
        max(col("version")).as("max_version"))
    assert(perCust.filter(col("n_current") =!= 1).count() == 0)
    assert(perCust.filter(col("n_versions") =!= col("max_version")).count() == 0)
    // each closed interval ends exactly where the next begins
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("o_custkey").orderBy("version")
    val gaps = hist.withColumn("next_from", lead(col("valid_from"), 1).over(w))
      .filter(col("valid_to").isNotNull && col("valid_to") =!= col("next_from"))
    assert(gaps.count() == 0)
  }

  /** customer-shaped frame: (key, acctbal, segment). */
  private def custOf(rows: (Long, Double, String)*) =
    rows.toDF("c_custkey", "c_acctbal", "c_mktsegment")
      .withColumn("c_name", concat(lit("Customer#"), col("c_custkey")))
      .withColumn("c_nationkey", lit(1))

  test("cdc diff emits I/U/D with before/after values, drops unchanged rows, " +
    "and composes the overlap cases (7·11 → U+I, 7·13 → D wins)") {
    val old = custOf(
      (1L, 10.0, "BUILDING"),   // untouched → absent from the feed
      (7L, 20.0, "AUTOMOBILE"), // %7 → U (balance +100, segment move)
      (13L, 30.0, "MACHINERY"), // %13 → D
      (11L, 40.0, "HOUSEHOLD"), // %11 → I at key+1M (original row unchanged)
      (77L, 50.0, "FURNITURE"), // %7 AND %11 → U and a shifted I
      (91L, 60.0, "BUILDING"))  // %7 AND %13 → the delete wins
    val got = Maintenance.cdcDiffOf(old).collect()
      .map(r => (r.getLong(0), r.getString(1),
        Option(r.get(2)).map(_.asInstanceOf[Double]),
        Option(r.get(3)).map(_.asInstanceOf[Double]),
        Option(r.getString(4)), Option(r.getString(5))))
    assert(got.toSeq == Seq(
      (7L, "U", Some(20.0), Some(120.0), Some("AUTOMOBILE"), Some("MIGRATED")),
      (13L, "D", Some(30.0), None, Some("MACHINERY"), None),
      (77L, "U", Some(50.0), Some(150.0), Some("FURNITURE"), Some("MIGRATED")),
      (91L, "D", Some(60.0), None, Some("BUILDING"), None),
      (1000011L, "I", None, Some(40.0), None, Some("ONBOARDED")),
      (1000077L, "I", None, Some(50.0), None, Some("ONBOARDED"))))
  }

  test("cdc diff is null-safe: a NULL→value attribute change on a present key emits U") {
    // regression for ADVICE r7: plain =!= makes the change predicate NULL
    // for NULL-valued attributes and the row silently vanishes from the
    // feed. Key 14 (%7) has NULL segment → 'MIGRATED' and NULL acctbal →
    // NULL+100 = NULL: only a null-safe comparison keeps it in the feed.
    val rows = Seq(
      (14L, null.asInstanceOf[java.lang.Double], null.asInstanceOf[String]),
      (2L, java.lang.Double.valueOf(5.0), "BUILDING")) // untouched
      .toDF("c_custkey", "c_acctbal", "c_mktsegment")
      .withColumn("c_name", concat(lit("Customer#"), col("c_custkey")))
      .withColumn("c_nationkey", lit(1))
    val got = Maintenance.cdcDiffOf(rows).collect()
      .map(r => (r.getLong(0), r.getString(1), Option(r.getString(5))))
    assert(got.toSeq == Seq((14L, "U", Some("MIGRATED"))),
      s"NULL-attribute update must survive the change filter; got ${got.mkString(";")}")
  }

  test("cdc round-trip: applying the feed to the old snapshot rebuilds the " +
    "new snapshot exactly (real table)") {
    val cust = graft.sources.Tables.customer(spark, "/root/testdata/sf0.01")
    val feed = Maintenance.cdcDiffOf(cust).collect()
      .map(r => r.getLong(0) -> (r.getString(1), Option(r.get(3)).map(_.asInstanceOf[Double]),
        Option(r.getString(5)))).toMap
    val old = cust.select("c_custkey", "c_acctbal", "c_mktsegment").collect()
      .map(r => r.getLong(0) -> (r.getDouble(1), r.getString(2))).toMap
    val applied = old.flatMap { case (k, (bal, seg)) =>
      feed.get(k) match {
        case Some(("D", _, _))            => None
        case Some(("U", nb, ns))          => Some(k -> (nb.get, ns.get))
        case _                            => Some(k -> (bal, seg))
      }
    } ++ feed.collect { case (k, ("I", nb, ns)) => k -> (nb.get, ns.get) }
    val expected = Maintenance.nextCustomerSnapshot(cust).collect()
      .map(r => r.getLong(0) -> (r.getDouble(1), r.getString(2))).toMap
    assert(applied === expected)
    assert(applied.nonEmpty)
  }

  test("temporal join picks the version valid AT the fact date, not the " +
    "current one (hand-built history)") {
    // entity 9: A until 03-01, B until 04-01, A (current) afterwards;
    // the log rows double as the probe facts — the boundary order (key 3)
    // must land in the version IT opened (valid_from <= d < valid_to),
    // and a same-value follow-up (key 5) must land in the older version
    // that already covered it
    val log = ordersOf(
      (1L, 9L, "A", "1996-01-01 00:00:00"),
      (2L, 9L, "A", "1996-02-01 00:00:00"), // same value → still v1
      (3L, 9L, "B", "1996-03-01 00:00:00"), // opens v2 ON the boundary
      (4L, 9L, "A", "1996-04-01 00:00:00"), // opens v3 (back to A)
      (5L, 8L, "C", "1996-01-15 00:00:00")) // second entity
    val got = Maintenance.temporalJoinOf(log).collect()
      .map(r => (r.getLong(0), r.getString(3), r.getLong(4)))
    assert(got.toSeq == Seq(
      (1L, "A", 1L), (2L, "A", 1L), (3L, "B", 2L), (4L, "A", 3L),
      (5L, "C", 1L)))
  }

  test("temporal join on the real table: exactly one version per order; the " +
    "last order of each (custkey, date) group sees its own priority") {
    val dir = "/root/testdata/sf0.01"
    val joined = Maintenance.temporalJoinScd2(spark, dir)
    val orders = graft.sources.Tables.orders(spark, dir)
    assert(joined.count() === orders.count())
    assert(joined.select("o_orderkey").distinct().count() === orders.count())
    // the last order (by key) of each (custkey, date) group defines the
    // value from that instant — its as-of lookup must return itself
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("o_custkey", "o_orderdate")
      .orderBy(col("o_orderkey").desc)
    val lastOfGroup = orders
      .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select(col("o_orderkey"), col("o_orderpriority"))
    val mismatches = joined.join(lastOfGroup, "o_orderkey")
      .filter(col("priority_at_order") =!= col("o_orderpriority"))
    assert(mismatches.count() === 0)
  }

  test("purge cascade: counts equal independent recomputation and the kept " +
    "set has no dangling FK references") {
    val dir = "/root/testdata/sf0.01"
    val got = Maintenance.purgeCascade(spark, dir).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    val cust = graft.sources.Tables.customer(spark, dir)
    val orders = graft.sources.Tables.orders(spark, dir)
    val li = graft.sources.Tables.lineitem(spark, dir)
    val subj = cust.filter(col("c_custkey") % 97 === 0)
      .select(col("c_custkey")).collect().map(_.getLong(0)).toSet
    assert(subj.nonEmpty, "subject slice empty — test data too small")
    val po = orders.filter(col("o_custkey").isin(subj.toSeq: _*))
      .select("o_orderkey").collect().map(_.getLong(0)).toSet
    val pl = li.filter(col("l_orderkey").isin(po.toSeq: _*)).count()
    assert(got("customer") === ((cust.count(), subj.size.toLong,
      cust.count() - subj.size)))
    assert(got("orders") === ((orders.count(), po.size.toLong,
      orders.count() - po.size)))
    assert(got("lineitem") === ((li.count(), pl, li.count() - pl)))
    // kept lineitems must not reference purged orders (cascade closure)
    val dangling = li.filter(!col("l_orderkey").isin(po.toSeq: _*))
      .join(orders.filter(col("o_custkey").isin(subj.toSeq: _*)),
        col("l_orderkey") === col("o_orderkey"))
    assert(dangling.count() === 0)
  }

  test("time travel: last-write-wins per version, tombstones honored, " +
       "same-commit tombstone beats the write") {
    // key 7: written V1 at commit 1 (7%7=0? no — 7%7=0 so NOT c=1..3 write;
    // use explicit keys instead of the testdata derivation)
    val orders = Seq(
      (7L, "P-INIT"),   // 7%7=0 → untouched; 7%13=7 → no tombstone ≤3
      (8L, "P-INIT"),   // 8%7=1 → W V1@1; 8%13=8 → none
      (2L, "P-INIT"),   // 2%7=2 → W V2@2; 2%13=2 → D@2 (same commit: D wins)
      (3L, "P-INIT"),   // 3%7=3 → W V3@3 (> asOf 2, invisible); 3%13=3 → D@3 (invisible)
      (26L, "P-INIT")   // 26%7=5 → none; 26%13=0 → none
    ).toDF("o_orderkey", "o_orderpriority")
    val got = Maintenance.timeTravelOf(orders, asOf = 2).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    val want = Set(
      (3L, "P-INIT", 0L),  // future commits invisible at asOf=2
      (7L, "P-INIT", 0L),
      (8L, "V1", 1L),
      (26L, "P-INIT", 0L)) // key 2 deleted at commit 2 — absent
    assert(got == want, s"as-of-2 state mismatch:\n got  $got\n want $want")
  }

  test("ivm ripple: incremental refresh equals full recompute on a fixture " +
       "with segment moves, deletes, and fact appends") {
    val dir = "/root/testdata/sf0.001"
    val got = Maintenance.ivmRipple(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    // independent full recompute in Spark (different plan, same state)
    val cust = graft.sources.Tables.customer(spark, dir)
    val aNew = Maintenance.nextCustomerSnapshot(cust)
    val dec2 = org.apache.spark.sql.types.DecimalType(18, 2)
    val want = graft.sources.Tables.orders(spark, dir)
      .join(aNew, col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_mktsegment").as("segment"))
      .agg(count(lit(1)).as("n_orders"),
        sum(col("o_totalprice").cast(dec2)).cast("double").as("revenue"))
      .orderBy("segment").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    assert(got.toSeq == want.toSeq,
      s"incremental != recompute:\n got  ${got.toSeq}\n want ${want.toSeq}")
    assert(got.exists(_._1 == "MIGRATED"), "fixture exercised no segment moves")
  }

  test("merkleDiffOf equals the end-to-end CDC full diff row-for-row") {
    val cust = graft.sources.Tables.customer(spark, "/root/testdata/sf0.001")
    val merkle = Maintenance.merkleDiffOf(cust, 64).collect().map(_.toSeq).toList
    val full = Maintenance.cdcDiffOf(cust).collect().map(_.toSeq).toList
    assert(merkle.nonEmpty && merkle === full)
  }


  test("merkleDiff digest stage flags no bucket on an identical snapshot pair") {
    // the dirty-set derivation is what makes the clean 99.99% never
    // cross the wire: identical sides must yield an EMPTY dirty set
    val side = Seq((1L, 10.0, "A"), (2L, 20.0, "B"))
      .toDF("key", "bal", "seg")
    def digest(tag: String) = side
      .withColumn("bucket", pmod(xxhash64(col("key")), lit(16L)))
      .withColumn("rh", xxhash64(col("key"),
        expr("CAST(round(bal * 100) AS BIGINT)"), col("seg")))
      .groupBy("bucket")
      .agg(count(lit(1)).as(s"cnt_$tag"), expr("bit_xor(rh)").as(s"dig_$tag"))
    val dirty = digest("o").join(digest("n"), Seq("bucket"), "full_outer")
      .filter(!(col("cnt_o") <=> col("cnt_n")) || !(col("dig_o") <=> col("dig_n")))
    assert(dirty.count() === 0L)
  }

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
}
