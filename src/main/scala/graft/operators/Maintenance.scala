package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.sources.Tables

/** Table maintenance: keyed MERGE (SCD1 upsert) and SCD2 versioned
  * history — the mutation-under-append-only operators every warehouse
  * table needs and plain parquet does not provide. The reference's
  * pipeline is pure overwrite-per-creator (its resume logic re-writes a
  * profile's whole output set, insta_scraper_enhanced.py's done-log);
  * these are the general forms of that "replace my slice" contract.
  *
  * Scale notes (100 TB north star):
  *  - MERGE joins a ~huge snapshot with a ~small change batch. The shape
  *    here keeps the snapshot UNSHUFFLED: one left join with the change
  *    batch BROADCAST (a full-outer join — the naive MERGE encoding —
  *    cannot broadcast and would sort-merge the whole snapshot), then a
  *    union of the insert slice. Copy-on-write at file granularity; with
  *    the hive-partitioned layout ([[graft.sources.Bucketing]]) only
  *    partitions containing changed keys need rewriting.
  *  - SCD2 is one shuffle on the entity key; both window passes (change
  *    detection, interval close-off) reuse the same partitioning.
  */
object Maintenance {

  /** The deterministic change batch for the oracle-gated MERGE: derived
    * from the snapshot itself so both engines see the identical batch.
    * Every 10th key is an update (priority overwrite), keys ≡7 (mod 10)
    * are deletes, and keys ≡3 (mod 10) re-enter shifted by 1,000,000 as
    * brand-new inserts. Exercises all three MERGE actions plus the
    * untouched-row path. */
  private[graft] def changeBatch(orders: DataFrame): DataFrame = {
    val k = col("o_orderkey")
    orders.filter(k % 10 === 0)
      .select(k.as("c_key"), col("o_custkey").as("c_custkey"),
        lit("U").as("op"), lit("X-UPDATED").as("c_priority"))
      .unionAll(orders.filter(k % 10 === 7)
        .select(k.as("c_key"), col("o_custkey").as("c_custkey"),
          lit("D").as("op"), lit(null).cast("string").as("c_priority")))
      .unionAll(orders.filter(k % 10 === 3)
        .select((k + 1000000L).as("c_key"), col("o_custkey").as("c_custkey"),
          lit("I").as("op"), lit("X-NEW").as("c_priority")))
  }

  /** SCD1 upsert: apply a keyed change batch (op ∈ U/D/I) to a snapshot.
    * Matched U rows take the new attribute values, matched D rows drop,
    * I rows append. The change-batch contract is MERGE's: I keys must
    * not exist in the snapshot, one change row per key (both hold by
    * construction for [[changeBatch]]; a general caller validates its
    * batch upstream — detecting violations is itself one broadcast
    * join).
    *
    * Emits the merged table tagged with what happened to each row, so
    * the oracle hash pins every action's effect row-by-row. */
  def upsertOrders(spark: SparkSession, dir: String): DataFrame =
    upsertOf(Tables.orders(spark, dir))

  /** [[upsertOrders]] over any orders-shaped snapshot (spec entry). */
  def upsertOf(orders: DataFrame): DataFrame = {
    val changes = changeBatch(orders)
    val snapshot = orders.select(col("o_orderkey"), col("o_custkey"),
      col("o_orderpriority"))
    val existing = snapshot
      .join(broadcast(changes.filter(col("op") =!= "I")),
        snapshot("o_orderkey") === changes("c_key"), "left")
      .filter(coalesce(col("op"), lit("")) =!= "D")
      .select(col("o_orderkey"), col("o_custkey"),
        when(col("op") === "U", col("c_priority"))
          .otherwise(col("o_orderpriority")).as("o_orderpriority"),
        when(col("op") === "U", lit("updated")).otherwise(lit("kept")).as("action"))
    val inserted = changes.filter(col("op") === "I")
      .select(col("c_key").as("o_orderkey"), col("c_custkey").as("o_custkey"),
        col("c_priority").as("o_orderpriority"), lit("inserted").as("action"))
    existing.unionAll(inserted).orderBy("o_orderkey")
  }

  /** SCD2 history build: treat the order stream as an entity change log
    * (customer → priority observed at order time) and emit one row per
    * VERSION — consecutive runs of the same value collapse, each version
    * carries its validity interval and a 1-based version number, and the
    * open version is flagged current. The standard slowly-changing-
    * dimension type-2 load, expressed as two window passes over one
    * partitioning of the entity key. */
  def scd2Customers(spark: SparkSession, dir: String): DataFrame =
    scd2Of(Tables.orders(spark, dir))

  /** [[scd2Customers]] over any orders-shaped change log (spec entry). */
  def scd2Of(orders: DataFrame): DataFrame =
    scd2Core(orders).orderBy("o_custkey", "version")

  /** [[scd2Of]] without the final presentation sort — the join-input
    * shape ([[temporalJoinScd2]] consumes this so no ordering exchange
    * sits between the history build and the fact join). */
  private def scd2Core(orders: DataFrame): DataFrame = {
    val byTime = Window.partitionBy("o_custkey")
      .orderBy(col("o_orderdate"), col("o_orderkey"))
    val boundaries = orders
      .select(col("o_custkey"), col("o_orderdate"), col("o_orderkey"),
        col("o_orderpriority").as("priority"))
      .withColumn("prev", lag(col("priority"), 1).over(byTime))
      // a version starts where the value differs from the previous
      // observation (or at the first observation — lag is null)
      .filter(col("prev").isNull || col("prev") =!= col("priority"))
    boundaries
      .withColumn("valid_from", col("o_orderdate"))
      .withColumn("valid_to", lead(col("o_orderdate"), 1).over(byTime))
      .withColumn("version", row_number().over(byTime))
      .select(col("o_custkey"), col("priority"), col("valid_from"),
        col("valid_to"), col("version").cast("long").as("version"),
        col("valid_to").isNull.as("is_current"))
  }

  /** POINT-IN-TIME (temporal) join — enrich every fact row with the
    * dimension version that was valid WHEN THE FACT HAPPENED, not the
    * current one: the lookup every backtest/feature pipeline needs
    * against an SCD2 dimension, and the operation that silently goes
    * wrong (leaking future attribute values into history) when done as a
    * plain current-version join.
    *
    * Scale: an equi-join on the entity key with the interval predicate
    * as a residual filter — versions per entity are few (bounded by that
    * entity's change count), so the residual scans a handful of rows per
    * match, never a banded explosion. Both sides shuffle once on the
    * same key; the SCD2 side arrives unsorted ([[scd2Core]]) so no
    * presentation sort sits in the join pipeline. Each fact date lands
    * in exactly one version (the history tiles [first_change, ∞)). */
  def temporalJoinScd2(spark: SparkSession, dir: String): DataFrame =
    temporalJoinOf(Tables.orders(spark, dir))

  /** [[temporalJoinScd2]] over any orders-shaped change log (spec entry). */
  def temporalJoinOf(orders: DataFrame): DataFrame = {
    val hist = scd2Core(orders)
    val o = orders.select(col("o_orderkey"), col("o_custkey"), col("o_orderdate"))
    o.join(hist,
        o("o_custkey") === hist("o_custkey") &&
          hist("valid_from") <= o("o_orderdate") &&
          (hist("valid_to").isNull || o("o_orderdate") < hist("valid_to")))
      .select(o("o_orderkey"), o("o_custkey"), o("o_orderdate"),
        hist("priority").as("priority_at_order"), hist("version"))
      .orderBy("o_orderkey")
  }

  /** INCREMENTAL AGGREGATE maintenance — the materialized-view refresh
    * every rollup table needs at 100 TB: instead of recomputing the
    * customer revenue rollup over the full history each load, merge the
    * STORED per-key partials with the new batch's partials. Sum/count
    * are algebraic (partials merge associatively), so
    * `merge(agg(base), agg(delta)) == agg(base ∪ delta)` — exactly the
    * equivalence the oracle asserts by aggregating the union directly.
    * The base/delta split is deterministic (orders before/after
    * 1997-01-01, ~the last fifth of the date range); cost per refresh
    * is one partial agg over the DELTA plus a merge shuffle bounded by
    * |touched keys|, never a base re-scan — the base side here stands
    * in for the stored rollup a real deployment reads back from its
    * sink. Money sums ride the Det decimal contract end-to-end and
    * convert to double only at the final emit. */
  def incrementalAggMerge(spark: SparkSession, dir: String): DataFrame = {
    val dec2 = org.apache.spark.sql.types.DecimalType(18, 2)
    val cutoff = "1997-01-01"
    def partials(df: DataFrame): DataFrame =
      df.groupBy("o_custkey")
        .agg(count(lit(1)).as("n_orders"),
          sum(col("o_totalprice").cast(dec2)).as("rev_partial"))
    val base  = partials(Tables.orders(spark, dir).filter(col("o_orderdate") < lit(cutoff)))
    val delta = partials(Tables.orders(spark, dir).filter(col("o_orderdate") >= lit(cutoff)))
    base.unionByName(delta)
      .groupBy("o_custkey")
      .agg(sum(col("n_orders")).as("n_orders"),
        sum(col("rev_partial")).cast("double").as("revenue"))
      .orderBy("o_custkey")
  }

  /** INCREMENTAL VIEW MAINTENANCE WITH DIMENSION RIPPLE — the hard
    * case of materialized-view refresh: the view is a JOIN-aggregate
    * (orders ⋈ customer → per-segment counts and revenue) and BOTH
    * inputs change. Fact appends are the easy delta
    * ([[incrementalAggMerge]]); a dimension update *re-classifies
    * history* — every old fact row of a segment-moved customer must
    * migrate between groups. The engine never recomputes the view:
    *
    *   V_new = V_old                      (stored rollup, read back)
    *         + agg(ΔB ⋈ A_new)            (fact delta, delta-sized)
    *         − old-segment contributions  (ripple subtract)
    *         + new-segment contributions  (ripple add, deletes excluded)
    *
    * where the ripple terms aggregate ONLY the base-fact rows of
    * CHANGED dimension keys — obtained by broadcasting the changed-key
    * set ([[cdcDiffOf]]'s U/D slice) against the base fact, so the
    * 100 TB fact is touched once through a broadcast semi-join filter,
    * never re-shuffled. All arithmetic is exact (long counts, decimal
    * cents), so the oracle — a FULL RECOMPUTE on the final state — must
    * hash-match row for row: the incremental path is provably
    * indistinguishable from the recompute it avoids. */
  def ivmRipple(spark: SparkSession, dir: String): DataFrame = {
    val dec2 = org.apache.spark.sql.types.DecimalType(18, 2)
    val cutoff = "1997-01-01"
    val custOld = Tables.customer(spark, dir)
    val custNew = nextCustomerSnapshot(custOld)
    val orders = Tables.orders(spark, dir)
    val bOld = orders.filter(col("o_orderdate") < lit(cutoff))
    val bDelta = orders.filter(col("o_orderdate") >= lit(cutoff))
    def viewOf(b: DataFrame, a: DataFrame): DataFrame =
      b.join(a, b("o_custkey") === a("c_custkey"))
        .groupBy(col("c_mktsegment").as("segment"))
        .agg(count(lit(1)).as("n_orders"),
          sum(col("o_totalprice").cast(dec2)).as("rev"))
    val vOld = viewOf(bOld, custOld)
    val dNew = viewOf(bDelta, custNew)
    val changed = custOld
      .select(col("c_custkey").as("key"), col("c_mktsegment").as("old_seg"))
      .join(custNew.select(col("c_custkey").as("key"),
        col("c_mktsegment").as("new_seg")), Seq("key"), "left")
      .filter(col("new_seg").isNull || col("new_seg") =!= col("old_seg"))
    val perKey = bOld
      .join(broadcast(changed), bOld("o_custkey") === changed("key"))
      .groupBy("key", "old_seg", "new_seg")
      .agg(count(lit(1)).as("n"), sum(col("o_totalprice").cast(dec2)).as("r"))
    val minus = perKey.select(col("old_seg").as("segment"),
      (-col("n")).as("n_orders"), (-col("r")).as("rev"))
    val plus = perKey.filter(col("new_seg").isNotNull)
      .select(col("new_seg").as("segment"), col("n").as("n_orders"), col("r").as("rev"))
    vOld.unionByName(dNew).unionByName(minus).unionByName(plus)
      .groupBy("segment")
      .agg(sum(col("n_orders")).as("n_orders"),
        sum(col("rev")).cast("double").as("revenue"))
      .filter(col("n_orders") =!= 0)
      .orderBy("segment")
  }

  /** The deterministic "next load" of the customer dimension for the
    * oracle-gated CDC diff — derived from the snapshot itself so both
    * engines construct the identical table. Keys ≡0 (mod 13) are gone
    * (deletes), keys ≡0 (mod 7) get a balance credit and a segment move
    * (updates), keys ≡0 (mod 11) re-enter shifted by 1,000,000 as
    * brand-new rows (inserts); everything else is untouched. */
  private[graft] def nextCustomerSnapshot(cust: DataFrame): DataFrame = {
    val k = col("c_custkey")
    cust.filter(k % 13 =!= 0)
      .select(k.as("c_custkey"),
        when(k % 7 === 0, col("c_acctbal") + lit(100.0))
          .otherwise(col("c_acctbal")).as("c_acctbal"),
        when(k % 7 === 0, lit("MIGRATED"))
          .otherwise(col("c_mktsegment")).as("c_mktsegment"))
      .unionByName(cust.filter(k % 11 === 0)
        .select((k + 1000000L).as("c_custkey"), col("c_acctbal"),
          lit("ONBOARDED").as("c_mktsegment")))
  }

  /** CHANGE-DATA-CAPTURE snapshot diff — the inverse of MERGE: given two
    * loads of a dimension, emit the change feed (op ∈ I/U/D with before
    * and after values) that transforms one into the other. This is how a
    * plain-parquet warehouse derives a change feed for downstream
    * incremental consumers (the SCD2 build above, the incremental
    * aggregate merge) without a transactional table format.
    *
    * Scale: one full-outer equi-join on the entity key — both sides
    * hash-partition once on the same key (with both snapshots bucketed
    * by key, [[graft.sources.Bucketing]], the diff is zero-shuffle), and
    * unchanged rows — the overwhelming majority of a 100 TB dimension —
    * are filtered BEFORE the emit, so the output is |changes|-sized.
    * Row presence is tracked with explicit flags rather than column
    * null-ness, so the diff stays correct for nullable attributes. */
  def cdcSnapshotDiff(spark: SparkSession, dir: String): DataFrame =
    cdcDiffOf(Tables.customer(spark, dir))

  /** [[cdcSnapshotDiff]] over any customer-shaped snapshot (spec entry). */
  def cdcDiffOf(cust: DataFrame): DataFrame = {
    val old = cust.select(col("c_custkey").as("key"),
      col("c_acctbal").as("old_acctbal"), col("c_mktsegment").as("old_segment"),
      lit(true).as("in_old"))
    val next = nextCustomerSnapshot(cust).select(col("c_custkey").as("key"),
      col("c_acctbal").as("new_acctbal"), col("c_mktsegment").as("new_segment"),
      lit(true).as("in_new"))
    old.join(next, Seq("key"), "full_outer")
      .withColumn("op",
        when(col("in_new").isNull, lit("D"))
          .when(col("in_old").isNull, lit("I"))
          .otherwise(lit("U")))
      // null-SAFE inequality (<=> negated): a NULL→value or value→NULL
      // attribute change on a key present in both snapshots must emit a
      // 'U', not evaluate to NULL and silently drop from the feed
      // (ADVICE r7 — plain =!= loses exactly those rows)
      .filter(col("in_new").isNull || col("in_old").isNull ||
        !(col("old_acctbal") <=> col("new_acctbal")) ||
        !(col("old_segment") <=> col("new_segment")))
      .select(col("key").as("c_custkey"), col("op"),
        col("old_acctbal"), col("new_acctbal"),
        col("old_segment"), col("new_segment"))
      .orderBy("c_custkey", "op")
  }

  /** MERKLE (bucket-digest) SNAPSHOT DIFF — [[cdcSnapshotDiff]] answers
    * "what changed" by full-outer-joining BOTH snapshots end to end; at
    * 100 TB that shuffles 200 TB to discover that 0.01% of rows moved.
    * The anti-entropy shape replication systems use instead:
    *   1. each side folds to a BUCKET DIGEST — (count, bit_xor of a
    *      64-bit row hash) per `hash(key) mod B` bucket — a map-side
    *      partial+final aggregate whose output is B rows, whatever the
    *      corpus size;
    *   2. digests join (B×B, trivially) and buckets whose (count, xor)
    *      disagree are DIRTY — the clean 99.99% of both snapshots never
    *      crosses the wire again;
    *   3. only dirty-bucket rows (selected by a broadcast semi-join on
    *      the ≤B-row dirty set) meet in the exact keyed diff, classified
    *      I/U/D with null-safe attribute compares exactly like the CDC
    *      full diff.
    * xor is order/partitioning-independent and never overflows. A changed
    * row flips its bucket's xor unless independent 64-bit deltas cancel
    * (≈2⁻⁶⁴ per bucket); the differential spec proves the result equals
    * [[cdcDiffOf]] row-for-row on this corpus, and the identical DuckDB
    * oracle (the plain full diff) gates it every round. */
  def merkleDiff(spark: SparkSession, dir: String, buckets: Int = 1024): DataFrame =
    merkleDiffOf(Tables.customer(spark, dir), buckets)

  /** Core of [[merkleDiff]] over any customer-shaped snapshot (spec entry). */
  private[graft] def merkleDiffOf(cust: DataFrame, buckets: Int): DataFrame = {
    val oldS = cust.select(col("c_custkey").as("key"),
      col("c_acctbal").as("bal"), col("c_mktsegment").as("seg"))
    val newS = nextCustomerSnapshot(cust).select(col("c_custkey").as("key"),
      col("c_acctbal").as("bal"), col("c_mktsegment").as("seg"))
    def withBucket(df: DataFrame): DataFrame =
      df.withColumn("bucket", pmod(xxhash64(col("key")), lit(buckets.toLong)))
    def digest(df: DataFrame, tag: String): DataFrame =
      withBucket(df)
        .withColumn("rh",
          xxhash64(col("key"), expr("CAST(round(bal * 100) AS BIGINT)"), col("seg")))
        .groupBy("bucket")
        .agg(count(lit(1)).as(s"cnt_$tag"), expr("bit_xor(rh)").as(s"dig_$tag"))
    // materialize the ≤B-row dirty set ONCE: without this the whole
    // digest subtree (two snapshot scans) re-executes inside EACH side's
    // semi-join broadcast — 8 snapshot scans instead of the optimal 4
    // (one digest pass + one dirty-row pass per side)
    val dirty = graft.Materialize(
      digest(oldS, "o").join(digest(newS, "n"), Seq("bucket"), "full_outer")
        .filter(!(col("cnt_o") <=> col("cnt_n")) || !(col("dig_o") <=> col("dig_n")))
        .select("bucket"))
    def dirtyRows(df: DataFrame): DataFrame =
      withBucket(df).join(broadcast(dirty), Seq("bucket"), "left_semi").drop("bucket")
    val o = dirtyRows(oldS).select(col("key"), col("bal").as("old_acctbal"),
      col("seg").as("old_segment"), lit(true).as("in_old"))
    val n = dirtyRows(newS).select(col("key"), col("bal").as("new_acctbal"),
      col("seg").as("new_segment"), lit(true).as("in_new"))
    o.join(n, Seq("key"), "full_outer")
      .withColumn("op",
        when(col("in_new").isNull, lit("D"))
          .when(col("in_old").isNull, lit("I"))
          .otherwise(lit("U")))
      .filter(col("in_new").isNull || col("in_old").isNull ||
        !(col("old_acctbal") <=> col("new_acctbal")) ||
        !(col("old_segment") <=> col("new_segment")))
      .select(col("key").as("c_custkey"), col("op"),
        col("old_acctbal"), col("new_acctbal"),
        col("old_segment"), col("new_segment"))
      .orderBy("c_custkey", "op")
  }

  /** TIME TRAVEL over a log-structured commit history — the
    * lakehouse-table "read AS OF version v": a keyed write-ahead log of
    * (commit, key, op, value) rows reconstructs the table state at any
    * past commit by last-write-wins per key with delete tombstones
    * honored. Distinct from the SCD2 family: there the history is an
    * interval table built once; here the raw multi-version log is the
    * stored representation (Delta/Iceberg-style) and EVERY version
    * remains readable.
    *
    * The commit log is derived deterministically from the orders
    * snapshot (commit 0 = initial load; commits 1..3 write "V{c}" to
    * keys ≡c (mod 7) and tombstone keys ≡c (mod 13)), so both engines
    * build the identical log. The as-of-2 read: filter commit ≤ 2, one
    * row_number window per key (commit desc), keep rank 1, drop
    * tombstones.
    *
    * Scale: ONE hash shuffle on the key over the commit-filtered log —
    * the filter prunes future commits before the exchange; with the log
    * stored commit-partitioned, version pruning is partition pruning.
    * The window is a per-key top-1, which AQE/codegen executes without
    * materializing per-key sorts beyond the run length. */
  def timeTravel(spark: SparkSession, dir: String, asOf: Int = 2): DataFrame =
    timeTravelOf(Tables.orders(spark, dir), asOf)

  /** [[timeTravel]] over any orders-shaped snapshot (spec entry). */
  def timeTravelOf(orders: DataFrame, asOf: Int): DataFrame = {
    val k = col("o_orderkey")
    // "cm" not "commit": COMMIT is a reserved word in ANSI engines and
    // the oracle must spell the identical identifier
    val base = orders.select(lit(0).as("cm"), k.as("key"),
      lit("W").as("op"), col("o_orderpriority").as("value"))
    val log = (1 to 3).map { c =>
      orders.filter(k % 7 === c).select(lit(c).as("cm"), k.as("key"),
        lit("W").as("op"), concat(lit("V"), lit(c)).as("value"))
        .unionAll(orders.filter(k % 13 === c).select(lit(c).as("cm"),
          k.as("key"), lit("D").as("op"), lit(null).cast("string").as("value")))
    }.foldLeft(base)(_ unionAll _)
    // within one commit a key can carry both a write and a tombstone
    // (k ≡c mod 7 AND mod 13): 'D' < 'W' in the tie-break, so the
    // tombstone wins — pinned identically in the oracle
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("key").orderBy(col("cm").desc, col("op").asc)
    log.filter(col("cm") <= asOf)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1 && col("op") =!= "D")
      .select(col("key").as("o_orderkey"), col("value").as("o_orderpriority"),
        col("cm").cast("long").as("last_commit"))
      .orderBy("o_orderkey")
  }

  /** CASCADED PURGE accounting — the right-to-be-forgotten / takedown
    * propagation every data platform must run: given a subject key set
    * (here the deterministic custkey ≡0 mod 97 slice), walk the FK chain
    * customer → orders → lineitem and report, per table, how many rows
    * the purge removes and keeps. Running the COUNTS first is how a real
    * purge is operated (audit the blast radius before the irreversible
    * delete); the delete itself is then [[upsertOf]]-style partition
    * rewriting on each table.
    *
    * Scale: the subject set is a tiny fraction of one dimension —
    * broadcast; each fact table is counted in ONE pass with a
    * conditional sum over the broadcast-semi-join flag (orders), and the
    * lineitem leg joins through the purged-orders key set (itself
    * |purged orders|-sized, not corpus-sized). No table shuffles. */
  def purgeCascade(spark: SparkSession, dir: String): DataFrame = {
    val subjects = Tables.customer(spark, dir)
      .filter(col("c_custkey") % 97 === 0)
      .select(col("c_custkey").as("k"))
    val o = Tables.orders(spark, dir)
      .join(broadcast(subjects), col("o_custkey") === col("k"), "left")
      .select(col("o_orderkey"), col("k").isNotNull.as("hit"))
    val purgedOrders = o.filter(col("hit")).select(col("o_orderkey").as("pk"))
    val l = Tables.lineitem(spark, dir)
      .join(broadcast(purgedOrders), col("l_orderkey") === col("pk"), "left")
      .select(col("pk").isNotNull.as("hit"))
    val c = Tables.customer(spark, dir)
      .select((col("c_custkey") % 97 === 0).as("hit"))
    def countsOf(name: String, df: DataFrame): DataFrame =
      df.agg(count(lit(1)).as("rows_total"),
          sum(when(col("hit"), 1L).otherwise(0L)).as("rows_purged"))
        .select(lit(name).as("table_name"), col("rows_total"),
          expr("CAST(rows_purged AS BIGINT)").as("rows_purged"))
    countsOf("customer", c)
      .unionAll(countsOf("orders", o.select("hit")))
      .unionAll(countsOf("lineitem", l))
      .withColumn("rows_kept", col("rows_total") - col("rows_purged"))
      .orderBy("table_name")
  }

  /** SMALL-FILE COMPACTION PLANNER — the OPTIMIZE/bin-packing step every
    * parquet lake runs: given the table's file inventory, assign files
    * to target-sized compaction groups and report what each rewrite
    * touches. The inventory is modeled deterministically from the data
    * (one "file" per ship-day, size = rows × 256 B fixed-width proxy —
    * the per-day ingest layout an append pipeline produces); assignment
    * is by cumulative byte offset in day order, `bin = cum_prev div
    * target` — the same offset-range packing Spark's own file-scan
    * coalescing uses, deterministic with no iteration.
    *
    * Scale: the corpus collapses to a dimension-sized file inventory in
    * one partial-agg shuffle (|days| rows); the cumulative window runs
    * over that inventory, not the data — the single-partition sort is
    * bounded by days, exactly like [[graft.functions.CorpusOps
    * .vocabCoverage]]'s frequency curve. Emits per bin: file count,
    * total bytes, and the day range the rewrite covers. */
  def compactionPlan(spark: SparkSession, dir: String,
                     targetBytes: Long = 512L * 1024): DataFrame =
    planFiles(
      Tables.lineitem(spark, dir)
        .groupBy(to_date(col("l_shipdate")).as("day"))
        .agg((count(lit(1)) * 256L).as("bytes")),
      targetBytes)

  /** [[compactionPlan]] packing core over any (day, bytes) file
    * inventory (spec entry). */
  private[operators] def planFiles(files: DataFrame, targetBytes: Long): DataFrame = {
    val byDay = Window.orderBy("day")
    files
      .withColumn("cum_prev", coalesce(
        sum(col("bytes")).over(byDay.rowsBetween(Window.unboundedPreceding, -1)),
        lit(0L)))
      .withColumn("bin_id", expr(s"cum_prev div ${targetBytes}L"))
      .groupBy("bin_id")
      .agg(count(lit(1)).as("n_files"),
        sum(col("bytes")).as("total_bytes"),
        min(col("day")).as("first_day"),
        max(col("day")).as("last_day"))
      .orderBy("bin_id")
  }

  /** ZONE-MAP PRUNING AUDIT — the data-skipping story told end-to-end:
    * model the SAME fact table under two file layouts, build each
    * file's zone map (min/max ship-day), evaluate a 31-day predicate
    * against the maps, and report what each layout lets the scanner
    * skip. Layouts:
    *   - `append`: files by arrival order (l_orderkey div 2048) — ship
    *     dates are uncorrelated with order keys, so every zone map
    *     spans the predicate and nothing prunes;
    *   - `time_sorted`: files range-partitioned by ship month (the
    *     layout [[compactionPlan]] + a sort writer produce) — the
    *     predicate hits exactly one file.
    * `rows_matched` is identical for both (pruning is sound: skipped
    * files are PROVEN empty of matches by their maps); `rows_scanned`
    * is the cost difference — the number the layout decision is made
    * on. Scale: one partial-agg groupBy per layout builds the zone
    * maps (file-count-sized), the audit runs over maps, never rows. */
  def zoneMapPrune(spark: SparkSession, dir: String): DataFrame = {
    val lo = to_date(lit("1996-03-01")); val hi = to_date(lit("1996-04-01"))
    val l = Tables.lineitem(spark, dir)
      .select(col("l_orderkey"), to_date(col("l_shipdate")).as("d"))
    def audit(layout: String, fileId: org.apache.spark.sql.Column): DataFrame =
      l.select(fileId.as("file_id"), col("d"))
        .groupBy("file_id")
        .agg(min(col("d")).as("dmin"), max(col("d")).as("dmax"),
          count(lit(1)).as("rows"),
          sum(when(col("d") >= lo && col("d") < hi, 1L).otherwise(0L)).as("hits"))
        .agg(count(lit(1)).as("n_files"),
          sum(when(col("dmax") >= lo && col("dmin") < hi, 1L).otherwise(0L))
            .as("n_kept"),
          sum(col("rows")).as("rows_total"),
          sum(when(col("dmax") >= lo && col("dmin") < hi, col("rows"))
            .otherwise(0L)).as("rows_scanned"),
          sum(col("hits")).as("rows_matched"))
        .select(lit(layout).as("layout"), col("n_files"), col("n_kept"),
          col("rows_total"), col("rows_scanned"), col("rows_matched"),
          expr("rows_scanned * 1000000 div rows_total").as("scan_ppm"))
    audit("append", expr("l_orderkey div 2048"))
      .unionAll(audit("time_sorted", date_trunc("month", col("d")).cast("date")
        .cast("string")))
      .orderBy("layout")
  }

  /** VACUUM / RETENTION PLANNER — the history-table housekeeping step:
    * against the SCD2 dimension ([[scd2Core]]) and a retention
    * watermark, classify every version row as `purgeable` (closed
    * before the watermark — safe to physically delete, no
    * point-in-time query inside retention can need it), `retained_closed`
    * (closed but still inside retention) or `current` (open — never
    * purgeable), and report version + entity counts per class: the
    * audit a VACUUM job logs before touching files.
    *
    * Scale: one pass over the history table (entity-change-count-sized,
    * ≪ facts) — the classify is a projection, the rollup a 3-row
    * aggregate; countDistinct shuffles history keys once. */
  def vacuumPlan(spark: SparkSession, dir: String,
                 watermark: String = "1999-01-01"): DataFrame = {
    val w = lit(watermark).cast("timestamp")
    scd2Core(Tables.orders(spark, dir))
      .select(col("o_custkey"),
        when(col("valid_to").isNotNull && col("valid_to") < w, "purgeable")
          .when(col("valid_to").isNotNull, "retained_closed")
          .otherwise("current").as("status"))
      .groupBy("status")
      .agg(count(lit(1)).as("n_versions"),
        countDistinct(col("o_custkey")).as("n_entities"))
      .orderBy("status")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "rel_compaction_plan" -> ((s: SparkSession, d: String) => compactionPlan(s, d)),
    "rel_zone_map_prune" -> zoneMapPrune _,
    "rel_vacuum_plan" -> ((s: SparkSession, d: String) => vacuumPlan(s, d)),
    "rel_purge_cascade" -> purgeCascade _,
    "rel_upsert_merge" -> upsertOrders _,
    "rel_time_travel" -> ((s: SparkSession, d: String) => timeTravel(s, d)),
    "rel_scd2_history" -> scd2Customers _,
    "rel_incr_agg_merge" -> incrementalAggMerge _,
    "rel_ivm_ripple" -> ivmRipple _,
    "rel_cdc_snapshot_diff" -> cdcSnapshotDiff _,
    "rel_merkle_diff" -> ((s: SparkSession, d: String) => merkleDiff(s, d)),
    "rel_temporal_join_scd2" -> temporalJoinScd2 _,
  )

  val oracles: Map[String, String] = Map(
    // the scd2 history CTE verbatim, then the same watermark classify
    "rel_vacuum_plan" ->
      """WITH lg AS (
           SELECT o_custkey, o_orderdate, o_orderkey,
                  o_orderpriority AS priority,
                  lag(o_orderpriority) OVER w AS prev
           FROM orders
           WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)),
         b AS (
           SELECT o_custkey, o_orderdate, o_orderkey, priority
           FROM lg WHERE prev IS NULL OR prev <> priority),
         h AS (
           SELECT o_custkey,
                  lead(o_orderdate) OVER w AS valid_to
           FROM b
           WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey))
         SELECT CASE WHEN valid_to IS NOT NULL AND valid_to < TIMESTAMP '1999-01-01'
                     THEN 'purgeable'
                     WHEN valid_to IS NOT NULL THEN 'retained_closed'
                     ELSE 'current' END AS status,
                count(*) AS n_versions,
                CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_entities
         FROM h GROUP BY 1 ORDER BY status""",
    // same two file layouts, same min/max zone maps and keep predicate
    "rel_zone_map_prune" ->
      """WITH l AS (SELECT l_orderkey, CAST(l_shipdate AS DATE) AS d FROM lineitem),
         am AS (SELECT l_orderkey // 2048 AS file_id,
                       min(d) AS dmin, max(d) AS dmax, count(*) AS rows_,
                       sum(CASE WHEN d >= DATE '1996-03-01' AND d < DATE '1996-04-01'
                                THEN 1 ELSE 0 END) AS hits
                FROM l GROUP BY 1),
         tm AS (SELECT date_trunc('month', d) AS file_id,
                       min(d) AS dmin, max(d) AS dmax, count(*) AS rows_,
                       sum(CASE WHEN d >= DATE '1996-03-01' AND d < DATE '1996-04-01'
                                THEN 1 ELSE 0 END) AS hits
                FROM l GROUP BY 1),
         u AS (
           SELECT 'append' AS layout, count(*) AS n_files,
                  CAST(sum(CASE WHEN dmax >= DATE '1996-03-01' AND dmin < DATE '1996-04-01'
                           THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
                  CAST(sum(rows_) AS BIGINT) AS rows_total,
                  CAST(sum(CASE WHEN dmax >= DATE '1996-03-01' AND dmin < DATE '1996-04-01'
                           THEN rows_ ELSE 0 END) AS BIGINT) AS rows_scanned,
                  CAST(sum(hits) AS BIGINT) AS rows_matched
           FROM am
           UNION ALL
           SELECT 'time_sorted', count(*),
                  CAST(sum(CASE WHEN dmax >= DATE '1996-03-01' AND dmin < DATE '1996-04-01'
                           THEN 1 ELSE 0 END) AS BIGINT),
                  CAST(sum(rows_) AS BIGINT),
                  CAST(sum(CASE WHEN dmax >= DATE '1996-03-01' AND dmin < DATE '1996-04-01'
                           THEN rows_ ELSE 0 END) AS BIGINT),
                  CAST(sum(hits) AS BIGINT)
           FROM tm)
         SELECT layout, n_files, n_kept, rows_total, rows_scanned, rows_matched,
                rows_scanned * 1000000 // rows_total AS scan_ppm
         FROM u ORDER BY layout""",
    // same day-grain inventory, same offset-range packing; every
    // windowed/plain BIGINT sum CAST back down (DuckDB sums to HUGEINT)
    "rel_compaction_plan" ->
      """WITH f AS (
           SELECT CAST(l_shipdate AS DATE) AS day,
                  count(*) * 256 AS bytes
           FROM lineitem GROUP BY 1),
         c AS (
           SELECT day, bytes,
                  CAST(coalesce(sum(bytes) OVER
                    (ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                    0) AS BIGINT) AS cum_prev
           FROM f)
         SELECT CAST(cum_prev // 524288 AS BIGINT) AS bin_id,
                count(*) AS n_files,
                CAST(sum(bytes) AS BIGINT) AS total_bytes,
                min(day) AS first_day, max(day) AS last_day
         FROM c GROUP BY 1 ORDER BY 1""",
    // the oracle re-walks the FK chain with plain IN-subqueries
    "rel_purge_cascade" ->
      """WITH subj AS (SELECT c_custkey FROM customer WHERE c_custkey % 97 = 0),
         po AS (SELECT o_orderkey FROM orders
                WHERE o_custkey IN (SELECT c_custkey FROM subj))
         SELECT 'customer' AS table_name,
                count(*) AS rows_total,
                CAST(sum(CASE WHEN c_custkey % 97 = 0 THEN 1 ELSE 0 END) AS BIGINT)
                  AS rows_purged,
                count(*) - CAST(sum(CASE WHEN c_custkey % 97 = 0 THEN 1 ELSE 0 END) AS BIGINT)
                  AS rows_kept
         FROM customer
         UNION ALL
         SELECT 'lineitem', count(*),
                CAST(sum(CASE WHEN l_orderkey IN (SELECT o_orderkey FROM po)
                              THEN 1 ELSE 0 END) AS BIGINT),
                count(*) - CAST(sum(CASE WHEN l_orderkey IN (SELECT o_orderkey FROM po)
                              THEN 1 ELSE 0 END) AS BIGINT)
         FROM lineitem
         UNION ALL
         SELECT 'orders', count(*),
                CAST(sum(CASE WHEN o_custkey IN (SELECT c_custkey FROM subj)
                              THEN 1 ELSE 0 END) AS BIGINT),
                count(*) - CAST(sum(CASE WHEN o_custkey IN (SELECT c_custkey FROM subj)
                              THEN 1 ELSE 0 END) AS BIGINT)
         FROM orders
         ORDER BY table_name""",
    // the oracle aggregates the un-split table directly: partial-merge
    // must be indistinguishable from a full recompute
    "rel_incr_agg_merge" ->
      """SELECT o_custkey, count(*) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
         FROM orders GROUP BY o_custkey ORDER BY o_custkey""",
    // same log construction, same (cm desc, op asc) last-write-wins
    // rank — the tombstone-beats-write tie inside a commit included
    "rel_time_travel" ->
      """WITH lg AS (
           SELECT 0 AS cm, o_orderkey AS key, 'W' AS op,
                  o_orderpriority AS value FROM orders
           UNION ALL
           SELECT c, o_orderkey, 'W', 'V' || CAST(c AS VARCHAR)
           FROM orders, (VALUES (1), (2), (3)) AS t(c)
           WHERE o_orderkey % 7 = c
           UNION ALL
           SELECT c, o_orderkey, 'D', NULL
           FROM orders, (VALUES (1), (2), (3)) AS t(c)
           WHERE o_orderkey % 13 = c),
         r AS (
           SELECT *, row_number() OVER
             (PARTITION BY key ORDER BY cm DESC, op ASC) AS rn
           FROM lg WHERE cm <= 2)
         SELECT key AS o_orderkey, value AS o_orderpriority,
                CAST(cm AS BIGINT) AS last_commit
         FROM r WHERE rn = 1 AND op <> 'D'
         ORDER BY o_orderkey""",
    "rel_upsert_merge" ->
      """WITH ch AS (
           SELECT o_orderkey AS c_key, o_custkey AS c_custkey,
                  'U' AS op, 'X-UPDATED' AS c_priority
           FROM orders WHERE o_orderkey % 10 = 0
           UNION ALL
           SELECT o_orderkey, o_custkey, 'D', NULL
           FROM orders WHERE o_orderkey % 10 = 7
           UNION ALL
           SELECT o_orderkey + 1000000, o_custkey, 'I', 'X-NEW'
           FROM orders WHERE o_orderkey % 10 = 3),
         existing AS (
           SELECT s.o_orderkey, s.o_custkey,
                  CASE WHEN ch.op = 'U' THEN ch.c_priority
                       ELSE s.o_orderpriority END AS o_orderpriority,
                  CASE WHEN ch.op = 'U' THEN 'updated' ELSE 'kept' END AS action
           FROM orders s
           LEFT JOIN ch ON s.o_orderkey = ch.c_key AND ch.op <> 'I'
           WHERE COALESCE(ch.op, '') <> 'D')
         SELECT * FROM existing
         UNION ALL
         SELECT c_key, c_custkey, c_priority, 'inserted'
         FROM ch WHERE op = 'I'
         ORDER BY o_orderkey""",
    "rel_scd2_history" ->
      """WITH lg AS (
           SELECT o_custkey, o_orderdate, o_orderkey,
                  o_orderpriority AS priority,
                  lag(o_orderpriority) OVER w AS prev
           FROM orders
           WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)),
         b AS (
           SELECT o_custkey, o_orderdate, o_orderkey, priority
           FROM lg WHERE prev IS NULL OR prev <> priority)
         SELECT o_custkey, priority,
                o_orderdate AS valid_from,
                lead(o_orderdate) OVER w AS valid_to,
                CAST(row_number() OVER w AS BIGINT) AS version,
                (lead(o_orderdate) OVER w IS NULL) AS is_current
         FROM b
         WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
         ORDER BY o_custkey, version""",
    // the oracle rebuilds the same next snapshot and diffs with the raw
    // FULL OUTER JOIN — row-presence flags, not column null-ness
    // FULL RECOMPUTE on the final state — the refresh the incremental
    // path must be indistinguishable from (same new-dimension CTE as
    // the CDC oracle)
    "rel_ivm_ripple" ->
      """WITH an AS (
           SELECT c_custkey,
                  CASE WHEN c_custkey % 7 = 0 THEN 'MIGRATED'
                       ELSE c_mktsegment END AS c_mktsegment
           FROM customer WHERE c_custkey % 13 <> 0
           UNION ALL
           SELECT c_custkey + 1000000, 'ONBOARDED'
           FROM customer WHERE c_custkey % 11 = 0)
         SELECT an.c_mktsegment AS segment,
                CAST(count(*) AS BIGINT) AS n_orders,
                CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
         FROM orders o JOIN an ON o.o_custkey = an.c_custkey
         GROUP BY 1 ORDER BY 1""",
    // the PLAIN full diff — the merkle bucket-digest path must produce
    // exactly what the end-to-end full-outer diff produces
    "rel_merkle_diff" ->
      """WITH nw AS (
           SELECT c_custkey AS key,
                  CASE WHEN c_custkey % 7 = 0 THEN c_acctbal + 100.0
                       ELSE c_acctbal END AS new_acctbal,
                  CASE WHEN c_custkey % 7 = 0 THEN 'MIGRATED'
                       ELSE c_mktsegment END AS new_segment
           FROM customer WHERE c_custkey % 13 <> 0
           UNION ALL
           SELECT c_custkey + 1000000, c_acctbal, 'ONBOARDED'
           FROM customer WHERE c_custkey % 11 = 0),
         old AS (SELECT c_custkey AS key, c_acctbal AS old_acctbal,
                        c_mktsegment AS old_segment FROM customer),
         j AS (SELECT COALESCE(o.key, n.key) AS key,
                      o.old_acctbal, o.old_segment,
                      n.new_acctbal, n.new_segment,
                      o.key IS NOT NULL AS in_old,
                      n.key IS NOT NULL AS in_new
               FROM old o FULL OUTER JOIN nw n ON o.key = n.key)
         SELECT key AS c_custkey,
                CASE WHEN NOT in_new THEN 'D'
                     WHEN NOT in_old THEN 'I'
                     ELSE 'U' END AS op,
                old_acctbal, new_acctbal, old_segment, new_segment
         FROM j
         WHERE NOT in_new OR NOT in_old
            OR old_acctbal IS DISTINCT FROM new_acctbal
            OR old_segment IS DISTINCT FROM new_segment
         ORDER BY c_custkey, op""",
    "rel_cdc_snapshot_diff" ->
      """WITH nw AS (
           SELECT c_custkey AS key,
                  CASE WHEN c_custkey % 7 = 0 THEN c_acctbal + 100.0
                       ELSE c_acctbal END AS new_acctbal,
                  CASE WHEN c_custkey % 7 = 0 THEN 'MIGRATED'
                       ELSE c_mktsegment END AS new_segment
           FROM customer WHERE c_custkey % 13 <> 0
           UNION ALL
           SELECT c_custkey + 1000000, c_acctbal, 'ONBOARDED'
           FROM customer WHERE c_custkey % 11 = 0),
         old AS (SELECT c_custkey AS key, c_acctbal AS old_acctbal,
                        c_mktsegment AS old_segment FROM customer),
         j AS (SELECT COALESCE(o.key, n.key) AS key,
                      o.old_acctbal, o.old_segment,
                      n.new_acctbal, n.new_segment,
                      o.key IS NOT NULL AS in_old,
                      n.key IS NOT NULL AS in_new
               FROM old o FULL OUTER JOIN nw n ON o.key = n.key)
         SELECT key AS c_custkey,
                CASE WHEN NOT in_new THEN 'D'
                     WHEN NOT in_old THEN 'I'
                     ELSE 'U' END AS op,
                old_acctbal, new_acctbal, old_segment, new_segment
         FROM j
         WHERE NOT in_new OR NOT in_old
            OR old_acctbal IS DISTINCT FROM new_acctbal
            OR old_segment IS DISTINCT FROM new_segment
         ORDER BY c_custkey, op""",
    // the oracle rebuilds the identical history (the rel_scd2_history
    // CTEs) and applies the raw interval predicate
    "rel_temporal_join_scd2" ->
      """WITH lg AS (
           SELECT o_custkey, o_orderdate, o_orderkey,
                  o_orderpriority AS priority,
                  lag(o_orderpriority) OVER w AS prev
           FROM orders
           WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)),
         b AS (
           SELECT o_custkey, o_orderdate, o_orderkey, priority
           FROM lg WHERE prev IS NULL OR prev <> priority),
         hist AS (
           SELECT o_custkey, priority,
                  o_orderdate AS valid_from,
                  lead(o_orderdate) OVER w AS valid_to,
                  CAST(row_number() OVER w AS BIGINT) AS version
           FROM b
           WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey))
         SELECT o.o_orderkey, o.o_custkey, o.o_orderdate,
                h.priority AS priority_at_order, h.version
         FROM orders o JOIN hist h
           ON o.o_custkey = h.o_custkey
          AND h.valid_from <= o.o_orderdate
          AND (h.valid_to IS NULL OR o.o_orderdate < h.valid_to)
         ORDER BY o.o_orderkey""",
  )
}
