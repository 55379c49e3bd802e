package graft.operators

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{ColumnarToRowExec, FilterExec, InputAdapter, ProjectExec,
  QueryExecution, RDDScanExec, SortExec, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite

/** Physical-plan assertions — the scale contract, not just results.
  * Locks in: parquet filter pushdown + column pruning, broadcast joins
  * for small dimensions, whole-stage codegen on hot aggregations, and
  * the absence of accidental cartesian products.
  */
class PlanSpec extends AnyFunSuite {
  lazy val spark = graft.Sessions.local("4", "graft-plan-test")
  val dir = "/root/testdata/sf0.01"

  private def planOf(df: DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("filter + projection push into the parquet scan") {
    val df = graft.sources.Tables.lineitem(spark, dir)
      .filter(col("l_quantity") > 30)
      .select("l_orderkey", "l_quantity")
    val plan = planOf(df)
    assert(plan.contains("PushedFilters: [IsNotNull(l_quantity), GreaterThan(l_quantity,30"),
      s"no pushdown:\n$plan")
    assert(plan.contains("ReadSchema: struct<l_orderkey:bigint,l_quantity:double>"),
      s"no column pruning:\n$plan")
  }

  test("star join broadcasts the small dimension side") {
    val plan = planOf(Relational.starJoinRevenue(spark, dir))
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastExchange"),
      s"expected broadcast join:\n$plan")
    assert(!plan.contains("CartesianProduct"), "unexpected cartesian product")
  }

  test("pricing summary is a partial+final hash aggregate inside codegen") {
    val df = Aggregations.pricingSummary(spark, dir)
    val plan = planOf(df)
    assert(plan.contains("HashAggregate"), s"expected hash aggregate:\n$plan")
    // partial before final: map-side partial_sum before the exchange
    assert(plan.contains("partial_sum"), s"no partial aggregation:\n$plan")
    // AQE finalizes the plan only on execution; `*(n)` marks a
    // whole-stage-codegen stage in the final plan string
    df.collect()
    val finalPlan = df.queryExecution.executedPlan.toString
    assert("\\*\\(\\d+\\) HashAggregate".r.findFirstIn(finalPlan).isDefined,
      s"hash aggregate not inside a codegen stage:\n${finalPlan.take(2000)}")
  }

  test("jaccard pairing shingles once: a single hash-partition exchange") {
    val df = Dedup.jaccardAdjacent(spark, dir)
    df.collect()
    // AQE's toString appends the initial plan after the final one —
    // count exchanges only in the final section
    val plan = df.queryExecution.executedPlan.toString.split("Initial Plan")(0)
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(exchanges == 1,
      s"expected exactly 1 hash exchange (the pair groupBy), got $exchanges:\n${plan.take(3000)}")
    // one scan of documents, not two (the self-join formulation read twice)
    val scans = "FileScan parquet".r.findAllIn(plan).length
    assert(scans == 1, s"expected a single documents scan, got $scans")
  }

  test("sign-LSH near-dup joins on the bucket key, never all-pairs") {
    val plan = planOf(Similarity.lshNearDup(spark, dir))
    assert(!plan.contains("CartesianProduct"), "unexpected cartesian product")
    assert(!plan.contains("BroadcastNestedLoopJoin") ||
      plan.contains("SortMergeJoin") || plan.contains("ShuffledHashJoin") ||
      plan.contains("BroadcastHashJoin"),
      s"expected an equi-join on bucket:\n${plan.take(3000)}")
  }

  test("native as-of join plans through AsOfJoinExec with co-clustered merge") {
    val df = Relational.asOfJoinNative(spark, dir)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("AsOfJoin"), s"AsOfJoinExec missing:\n${plan.take(2000)}")
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"))
    // row-identical to the windowed composition on the same inputs
    val native = df.collect().map(_.toSeq)
    val composed = Relational.asOfJoinEventsOrders(spark, dir).collect().map(_.toSeq)
    assert(native.length == composed.length)
    assert(native.sameElements(composed), "native vs composed as-of rows differ")
  }

  test("anti-join resume does not build a cartesian product") {
    val plan = planOf(Relational.antiJoinResume(spark, dir))
    assert(plan.contains("LeftAnti"), s"expected anti join:\n$plan")
    assert(!plan.contains("CartesianProduct"))
  }

  test("theta contains-join is the only nested-loop plan and broadcasts the dim") {
    val plan = planOf(Relational.thetaContainsJoin(spark, dir))
    // no equi key exists — BroadcastNestedLoopJoin with the tiny dim
    // broadcast is the honest plan (SURVEY O-25)
    assert(plan.contains("BroadcastNestedLoopJoin"), s"expected BNLJ:\n$plan")
  }

  test("minhash signature computation stays map-side before the band join") {
    val df = Dedup.minhashLshPairs(spark, dir)
    val plan = planOf(df)
    // exactly the LSH band-bucket shuffle + pair aggregation — the
    // signature step itself must not introduce an explode+groupBy shuffle
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(exchanges <= 4, s"too many shuffles ($exchanges) in LSH plan:\n$plan")
    assert(!plan.contains("CartesianProduct"))
  }

  test("bucketed tables co-locate the join: no exchange on either side") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_buckets").toString
    spark.sql("DROP TABLE IF EXISTS b_orders")
    spark.sql("DROP TABLE IF EXISTS b_customer")
    graft.sources.Tables.orders(spark, dir)
      .write.option("path", s"$tmp/b_orders")
      .bucketBy(8, "o_custkey").sortBy("o_custkey").saveAsTable("b_orders")
    graft.sources.Tables.customer(spark, dir)
      .write.option("path", s"$tmp/b_customer")
      .bucketBy(8, "c_custkey").sortBy("c_custkey").saveAsTable("b_customer")
    // force the shuffle-family join path (the broadcast plan would hide
    // whether bucketing removed the exchanges)
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    val plan = try {
      val joined = spark.table("b_orders")
        .join(spark.table("b_customer"),
          col("o_custkey") === col("c_custkey"))
        .groupBy("c_mktsegment").count()
      joined.collect()
      joined.queryExecution.executedPlan.toString
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    assert(plan.contains("SortMergeJoin") || plan.contains("ShuffledHashJoin"),
      s"expected a shuffle-family join over bucketed tables:\n$plan")
    // co-located: the ONLY exchange allowed is the post-join aggregation's
    val joinPart = plan.split("Join").tail.mkString("Join")
    assert(!joinPart.contains("Exchange hashpartitioning(o_custkey") &&
      !joinPart.contains("Exchange hashpartitioning(c_custkey"),
      s"join sides re-shuffled despite bucketing:\n$plan")
  }

  test("simhash signature is a per-row fold: no hash-partition exchange") {
    val df = Dedup.simhash16(spark, dir)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange hashpartitioning"),
      s"simhash path shuffles a token expansion:\n$plan")
  }

  test("repetition filter is a per-document fold: no hash-partition exchange") {
    val df = graft.functions.TextAnalysis.repetitionFilter(spark, dir)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    // the gram mode/dup counts fold per-row over sorted arrays — the
    // only exchanges allowed are the under-parallel guard's round-robin
    // (keyless) and the final orderBy's range partitioning
    assert(!plan.contains("Exchange hashpartitioning"),
      s"repetition metrics re-key the corpus:\n$plan")
  }

  test("IVF assignment is a per-row projection: no hash-partition exchange anywhere") {
    val df = Similarity.ivfTopK(spark, dir)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    // centroid argmax is a literal-array fold, candidate filter is a
    // broadcast join — the only exchanges allowed are the broadcast ones
    // and the final global top-k ordering
    assert(!plan.contains("Exchange hashpartitioning"),
      s"IVF path re-shuffles the embeddings table:\n$plan")
    assert(!plan.contains("CartesianProduct"), "unexpected cartesian product")
  }

  test("multi-query IVF: one broadcast cell equi-join + partial top-k, no per-query scans") {
    val df = Similarity.ivfMultiQueryTopK(spark, dir)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString.split("Initial Plan")(0)
    // the probe TABLE is the broadcast side of a single cell equi-join —
    // never one scan per query, never a cartesian
    assert(plan.contains("BroadcastHashJoin"), s"probe table not broadcast:\n${plan.take(3000)}")
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"multi-query ANN fell back to all-pairs:\n${plan.take(3000)}")
    // per-query top-k is the typed aggregator with a map-side partial:
    // the exchange carries ≤k rows per (query, mapper)
    assert("ObjectHashAggregate".r.findAllIn(plan).length == 2,
      s"expected partial+final ObjectHashAggregate:\n${plan.take(3000)}")
    assert(plan.toLowerCase.contains("partial_topkbyscore"),
      s"no partial top-k aggregation:\n${plan.take(3000)}")
  }

  test("persisted IVF index: bucketed scan feeds the probe join with no " +
    "exchange on the data side and no fit/assign work") {
    val df = Similarity.ivfMultiQueryPersisted(spark, dir)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString.split("Initial Plan")(0)
    // the data side is the STORED cell-bucketed assignment table — the
    // probe join consumes the scan directly, so the only shuffle in the
    // whole plan is the bounded top-k aggregation exchange on q_id
    assert(plan.contains("Bucketed: true"),
      s"probe join not reading the bucketed index scan:\n${plan.take(3000)}")
    assert(plan.contains("BroadcastHashJoin"), s"probe table not broadcast:\n${plan.take(3000)}")
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(exchanges == 1,
      s"expected only the top-k exchange, got $exchanges:\n${plan.take(3000)}")
    // zero query-time assignment: the literal-centroid argmax fold would
    // show up as an `aggregate(transform(...` projection over the scan
    assert(!plan.contains("aggregate(transform("),
      s"persisted plan still assigns cells at query time:\n${plan.take(3000)}")
    // and the results are row-identical to the fit-at-query-time variant
    val fresh = Similarity.ivfMultiQueryTopK(spark, dir).collect().map(_.toSeq).toSeq
    val stored = df.collect().map(_.toSeq).toSeq
    assert(stored == fresh, "persisted index diverged from fresh fit+assign")
  }

  test("persisted IVF+SQ8 index: bucketed scan, no exchange on the index side, " +
    "no quantize work at query time") {
    val df = Similarity.ivfSq8MultiQuery(spark, dir)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString.split("Initial Plan")(0)
    assert(plan.contains("Bucketed: true"),
      s"probe join not reading the bucketed quantized index:\n${plan.take(3000)}")
    assert(plan.contains("BroadcastHashJoin"), s"probe table not broadcast:\n${plan.take(3000)}")
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(exchanges == 1,
      s"expected only the top-k exchange, got $exchanges:\n${plan.take(3000)}")
    // zero query-time quantization: the milli→max-abs→code chain would
    // appear as transform(...) projections over the embeddings scan
    assert(!plan.contains("transform("),
      s"plan still quantizes at query time:\n${plan.take(3000)}")
    // the index side reads CODES, never the fp32 embedding column
    assert(!plan.contains("embedding#"),
      s"quantized probe still reads the fp32 column:\n${plan.take(3000)}")
  }

  test("inverted index caps postings map-side: partial top-k, no per-token window") {
    val df = graft.functions.TextAnalysis.invertedIndex(spark, dir)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString.split("Initial Plan")(0)
    // the cap must be partial aggregation (≤cap per token per mapper),
    // NEVER a row_number window shuffling every occurrence of the
    // heaviest token into one partition
    assert(plan.toLowerCase.contains("partial_topkbyscore"),
      s"posting cap not a partial aggregation:\n${plan.take(3000)}")
    assert(!plan.contains("Window"),
      s"inverted index fell back to a per-token window:\n${plan.take(3000)}")
  }

  test("persisted BM25 postings: bucketed scan, no corpus re-tokenization, " +
    "row-identical to the scan-time variant") {
    val df = graft.functions.TextAnalysis.bm25Persisted(spark, dir)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString.split("Initial Plan")(0)
    assert(plan.contains("Bucketed: true"),
      s"probe not reading the bucketed postings index:\n${plan.take(3000)}")
    // zero query-time tokenization: the corpus split/explode chain would
    // appear in the plan as a split(...) projection + Generate
    assert(!plan.contains("split("),
      s"persisted plan still tokenizes the corpus:\n${plan.take(3000)}")
    val fresh = graft.functions.TextAnalysis.bm25TopK(spark, dir).collect().map(_.toSeq).toSeq
    val stored = df.collect().map(_.toSeq).toSeq
    assert(stored == fresh, "persisted postings diverged from scan-time BM25")
  }

  test("banded range join is an equi join on band, not a nested loop") {
    val df = Relational.rangeJoinBanded(spark, dir)
    val plan = planOf(df)
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      s"keyless interval join fell back to all-pairs:\n${plan.take(3000)}")
    assert(plan.contains("BroadcastHashJoin") || plan.contains("SortMergeJoin") ||
      plan.contains("ShuffledHashJoin"),
      s"expected an equi join on the band key:\n${plan.take(3000)}")
  }

  test("typed top-k aggregator runs partial+final with a single hash exchange") {
    val df = Aggregations.topkTypedAgg(spark, dir)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString.split("Initial Plan")(0)
    // map-side partial keeps ≤k rows per group BEFORE the shuffle — the
    // whole point of the Aggregator formulation vs the window top-k
    assert("ObjectHashAggregate".r.findAllIn(plan).length == 2,
      s"expected partial+final ObjectHashAggregate:\n${plan.take(3000)}")
    assert(plan.toLowerCase.contains("partial_topkbyscore"),
      s"no partial top-k aggregation:\n${plan.take(3000)}")
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(exchanges == 1, s"expected 1 hash exchange, got $exchanges:\n${plan.take(3000)}")
  }

  test("IG report assembly joins on the creator key without cartesian products") {
    val profiles = graft.ig.Instagram.readProfiles(spark, graft.ig.Instagram.profilesGlob())
    val posts = graft.ig.Instagram.readPosts(spark, graft.ig.Instagram.postsGlob())
    val plan = planOf(graft.ig.Report.assemble(profiles, posts, graft.ig.IgClock.golden))
    assert(!plan.contains("CartesianProduct"), "unexpected cartesian product in report DAG")
  }

  test("AQE splits a skewed join partition at runtime (skew=true in the final plan)") {
    import org.apache.spark.sql.functions._
    // one hot key carrying ~200k rows vs 31 cold keys of 10 — the shape
    // salting (Skew.saltedSum) handles for aggregations; for JOINS the
    // engine-level answer is AQE's skew split, which this pins down
    val saves = Seq(
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "32KB",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "8KB",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1"
    ).map { case (k, v) =>
      val prev = spark.conf.getOption(k); spark.conf.set(k, v); k -> prev
    }
    try {
      val left = spark.range(200000).select(lit(0L).as("k"), col("id"))
        .union(spark.range(310).select((col("id") % 31 + 1).as("k"), col("id")))
      val right = spark.range(32).select(col("id").as("k"), (col("id") * 7).as("rv"))
      val joined = left.join(right, "k")
      // execute THIS query (count() would plan its own) so AQE finalizes
      assert(joined.collect().length == 200000 + 310)
      val plan = joined.queryExecution.executedPlan.toString.split("Initial Plan")(0)
      assert(plan.contains("skew=true"),
        s"AQE did not split the skewed partition:\n${plan.take(3000)}")
    } finally saves.foreach { case (k, prev) =>
      prev.fold(spark.conf.unset(k))(spark.conf.set(k, _))
    }
  }

  test("Count-Min grid build is one partial+final aggregate; lookups broadcast") {
    val plan = planOf(Aggregations.countMinChecked(spark, dir))
    // the grid must reach the point lookup as a broadcast, never a
    // shuffled join side, and nothing may go cartesian besides the
    // bounded scalar-n stat join
    assert(plan.contains("BroadcastHashJoin"), s"grid lookup not broadcast:\n${plan.take(2000)}")
    assert(!plan.contains("SortMergeJoin"), s"unexpected sort-merge join:\n${plan.take(2000)}")
  }

  test("Z-order tile stats: morton arithmetic stays in codegen, one agg exchange") {
    val df = graft.sources.Layout.zTileStats(spark, dir)
    val plan = planOf(df)
    assert(plan.contains("HashAggregate"), s"expected hash aggregate:\n${plan.take(2000)}")
    // pure long shift/mask arithmetic — no Generate, no join, no UDF
    assert(!plan.contains("BatchEvalPython") && !plan.contains("Generate"),
      s"tile derivation left codegen:\n${plan.take(2000)}")
  }

  test("unpivot is a map-side reshape: no exchange between pivot agg and unpivot") {
    val df = Aggregations.unpivotEventCounts(spark, dir)
    val expands = df.queryExecution.executedPlan.toString
    // Spark plans unpivot as Expand — which must sit ABOVE the pivot's
    // final aggregate with no extra shuffle of its own (the orderBy's
    // range exchange is the only post-agg exchange)
    assert(expands.contains("Expand"), s"expected Expand for unpivot:\n${expands.take(2000)}")
  }

  test("sliding distinct: bounded day-explode feeds a two-phase distinct aggregate") {
    val df = Windows.slidingDistinctUsers(spark, dir)
    val plan = planOf(df)
    assert(plan.contains("Generate explode"), s"expected bounded explode:\n${plan.take(2000)}")
    assert(plan.contains("HashAggregate"), s"expected hash aggregate:\n${plan.take(2000)}")
    assert(!plan.contains("CartesianProduct") && !plan.contains("SortMergeJoin"),
      s"unexpected join in a pure reshape+agg plan:\n${plan.take(2000)}")
  }

  test("bloom prune: fact side passes through broadcast semi-joins, no isnotnull " +
       "re-derivation of the digest, no fact shuffle before the final agg") {
    val df = Relational.bloomPruneCounts(spark, dir)
    val plan = planOf(df)
    assert(plan.contains("BroadcastHashJoin") && plan.contains("LeftSemi"),
      s"expected broadcast semi joins:\n${plan.take(3000)}")
    // the never-firing coalesce keeps the md5 chain out of a semi-join
    // null pre-filter — one digest evaluation per fact row, in the project
    assert(!plan.contains("isnotnull(pmod"),
      s"semi-join re-derives the digest in a null filter:\n${plan.take(3000)}")
    assert(!plan.contains("SortMergeJoin"),
      s"fact side must not shuffle for the bloom probe:\n${plan.take(3000)}")
  }

  test("salted skew join: the fact-dim join runs as a shuffled hash join " +
       "on (key, salt), never a broadcast (skew split must be real)") {
    val df = Skew.saltedSkewJoin(spark, dir)
    val plan = planOf(df)
    assert(plan.contains("ShuffledHashJoin"),
      s"expected the hinted shuffled hash join:\n${plan.take(3000)}")
  }

  test("funnel stages: all three conditional-min passes share the user_id " +
       "partitioning (no cartesian, single-key equi joins only)") {
    val df = Windows.funnelStages(spark, dir)
    val plan = planOf(df)
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"funnel must stay equi-join shaped:\n${plan.take(3000)}")
  }

  test("gap fill: the spine explode is bounded per user; the fill join is an " +
       "equi join on (user_id, d)") {
    val df = Windows.gapFillDaily(spark, dir)
    val plan = planOf(df)
    assert(plan.contains("Generate explode"), s"expected sequence explode:\n${plan.take(2000)}")
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"gap fill must not cross-join a calendar:\n${plan.take(3000)}")
  }

  test("ewma: all eight lag taps run in ONE window operator over one exchange") {
    val df = Windows.ewmaPerUser(spark, dir)
    val plan = planOf(df)
    assert("(?s)Window.*Window".r.findFirstIn(plan).isEmpty,
      s"taps must share a single Window operator:\n${plan.take(3000)}")
    assert("hashpartitioning\\(user_id".r.findAllIn(plan).length >= 1,
      s"expected user_id hash partitioning:\n${plan.take(2000)}")
  }

  test("fuzzy blocking join: dictionary-sized equi join on the block key, " +
       "no cartesian, fact table aggregated before the quadratic piece") {
    val df = Relational.fuzzyBlockingJoin(spark, dir)
    val plan = planOf(df)
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"blocked ER must stay equi-join shaped:\n${plan.take(3000)}")
    assert(plan.contains("partial_count"), s"dictionary build must partial-agg:\n${plan.take(2000)}")
  }

  test("pagerank: iterations materialize before the caller plans; " +
       "the caller-visible plan serves the checkpointed ranks (scan + " +
       "filter + bounded sort, no joins, no cartesian)") {
    // the 3-iteration chain is planned and run by graft.Materialize
    // (data-adaptive nPart, partitioning-preserving leaves — zero
    // per-iteration edge exchanges, pinned by the loop-plan test below);
    // what the caller replans is only the supplier projection over the
    // materialized rank table. Bit-exactness of the iteration itself is
    // pinned by GraphSpec.
    val df = Graph.pageRankSuppliers(spark, dir)
    val plan = planOf(df)
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"power iteration must stay equi-join shaped:\n${plan.take(3000)}")
    assert(plan.contains("Scan ExistingRDD"),
      s"served ranks must read the loop's checkpoint:\n${plan.take(2000)}")
    assert(!plan.contains("Join"),
      s"iteration work must not re-plan in the caller:\n${plan.take(2000)}")
  }

  /** Physical plans of every `graft.Materialize` execution `body` runs,
    * captured by a QueryExecutionListener on the caller's session. */
  private def materializedPlans(body: => Unit): Seq[SparkPlan] = {
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]
    val listener = new QueryExecutionListener {
      def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        if (funcName == "materialize") plans.add(qe.executedPlan)
      def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      body
      org.apache.spark.GraftListenerBridge.drain(spark.sparkContext)
    } finally spark.listenerManager.unregister(listener)
    plans.asScala.toSeq
  }

  /** Exchanges in a plan, following adaptive stages into their plans. */
  private def exchangesOf(plan: SparkPlan): Seq[Exchange] = plan match {
    case a: AdaptiveSparkPlanExec => exchangesOf(a.executedPlan)
    case q: QueryStageExec => exchangesOf(q.plan)
    case e: Exchange => e +: e.children.flatMap(exchangesOf)
    case p => p.children.flatMap(exchangesOf)
  }

  private def scansOf(plan: SparkPlan): Seq[RDDScanExec] = plan match {
    case a: AdaptiveSparkPlanExec => scansOf(a.executedPlan)
    case q: QueryStageExec => scansOf(q.plan)
    case s: RDDScanExec => Seq(s)
    case p => p.children.flatMap(scansOf)
  }

  /** The rows an operator consumes: its input seen through row-wise
    * operators, so an exchange over `rowsOf(e.child)` moves those rows. */
  private def rowsOf(p: SparkPlan): SparkPlan = p match {
    case _: ProjectExec | _: FilterExec | _: WholeStageCodegenExec | _: InputAdapter |
         _: ColumnarToRowExec => rowsOf(p.children.head)
    case other => other
  }

  /** The loops' shaped edge table: a materialized (src, dst, …) leaf
    * sorted on src (the raw edge union it is shaped from is unsorted). */
  private def isEdgeScan(s: RDDScanExec): Boolean =
    s.output.map(_.name).take(2) == Seq("src", "dst") &&
      s.outputOrdering.headOption.exists(_.child.references.map(_.name).toSet == Set("src"))

  /** Runs `body` and asserts that no materialization reading the edge
    * table moves its rows: no Exchange or Sort over the edge scan. */
  private def assertEdgesInPlace(name: String, body: => Unit): Unit = {
    val plans = materializedPlans(body)
    val loop = plans.filter(p => scansOf(p).exists(isEdgeScan))
    assert(loop.nonEmpty,
      s"$name: none of ${plans.size} materializations reads the edge table")
    loop.foreach { p =>
      val movers = exchangesOf(p) ++ p.collect { case s: SortExec => s }
      val moved = movers.map(m => rowsOf(m.children.head)).collect {
        case s: RDDScanExec if isEdgeScan(s) => s
      }
      assert(moved.isEmpty, s"$name: edge rows are exchanged or sorted:\n$p")
    }
  }

  test("pagerank and connected components: no loop plan has an Exchange " +
       "or a Sort over the edge table's scan") {
    assertEdgesInPlace("pageRankOf", Graph.pageRankSuppliers(spark, dir).collect())
    assertEdgesInPlace("connectedComponents", Graph.copurchaseComponents(spark, dir).collect())
  }

  test("pagerank and connected components keep the edge rows in place with " +
       "every join side under the broadcast threshold") {
    // a threshold above every size estimate, the edge leaf's included: a
    // truthful edge size under the session's 64 MB default is the same
    // situation, and only the loops' merge hints keep the edge table
    // from being broadcast every step
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, Long.MaxValue.toString)
    try {
      assertEdgesInPlace("pageRankOf", Graph.pageRankSuppliers(spark, dir).collect())
      assertEdgesInPlace("pageRankConvergedOf",
        Graph.pageRankConvergedSuppliers(spark, dir).collect())
      assertEdgesInPlace("connectedComponents", Graph.copurchaseComponents(spark, dir).collect())
    } finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  test("ig_report_synth: no Exchange sits directly above the materialized posts scan") {
    val df = graft.ig.SynthIg.igReportSynth(spark, dir)
    df.collect()
    val plan = df.queryExecution.executedPlan
    def isPosts(s: RDDScanExec): Boolean = s.output.exists(_.name == "caption_text")
    assert(scansOf(plan).exists(isPosts), s"no materialized posts scan:\n$plan")
    val moved = exchangesOf(plan).map(e => rowsOf(e.child)).collect {
      case s: RDDScanExec if isPosts(s) => s
    }
    assert(moved.isEmpty, s"posts rows are exchanged:\n$plan")
  }

  test("tokenize ids: the vocab id join broadcasts (token stream never " +
       "shuffles for the lookup)") {
    val df = graft.functions.TextAnalysis.tokenizeIds(spark, dir)
    val plan = planOf(df)
    assert(plan.contains("BroadcastHashJoin"),
      s"vocab lookup must broadcast:\n${plan.take(3000)}")
  }

  test("hll sketch merge: daily sketches build as partial+final object " +
       "aggregates (sketch shuffle, not id shuffle)") {
    val df = Aggregations.hllSketchMergeChecked(spark, dir)
    val plan = planOf(df)
    assert(plan.contains("partial_hll_sketch_agg"),
      s"per-day sketches must combine map-side:\n${plan.take(3000)}")
  }

  test("chunking is map-side only: explode + projection, zero exchanges") {
    val df = graft.functions.TextAnalysis.chunkDocuments(spark, dir)
    val plan = planOf(df)
    // the final global orderBy is the only allowed exchange
    assert("Exchange hashpartitioning".r.findFirstIn(plan).isEmpty,
      s"chunking must not hash-shuffle:\n${plan.take(3000)}")
    assert(plan.contains("Generate explode"), s"expected window explode:\n${plan.take(2000)}")
  }

  test("dedup groups served from the persisted label index: no label-propagation " +
       "jobs at serve time (plan is a bucketed scan + sort)") {
    // building the index (first touch) may run the fixpoint; the SERVE
    // plan must be a plain scan of the stored table — assert by plan
    // shape: no join, no aggregate anywhere in the served query
    graft.operators.Dedup.dedupGroups(spark, dir).collect() // ensure built
    val plan = planOf(graft.operators.Dedup.dedupGroups(spark, dir))
    assert(!plan.contains("Join") && !plan.contains("HashAggregate"),
      s"served groups must be scan+sort only:\n${plan.take(3000)}")
  }

  test("copurchase: basket explode is join-free (one fact shuffle + pair agg), " +
       "top-k is a bounded TakeOrdered, never a global sort") {
    val df = Graph.copurchaseTopK(spark, dir)
    val plan = planOf(df)
    assert(!plan.contains("Join"), s"self-join crept back in:\n${plan.take(3000)}")
    assert(plan.contains("TakeOrderedAndProject"),
      s"expected TakeOrderedAndProject for orderBy+limit:\n${plan.take(3000)}")
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(exchanges == 2,
      s"expected 2 hash exchanges (basket groupBy + pair agg), got $exchanges:\n${plan.take(3000)}")
  }

  test("triangle counting: equi joins only over the checkpointed edge list") {
    val plan = planOf(Graph.triangleCounts(spark, dir))
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoop"),
      s"triangle enumeration must stay equi-join:\n${plan.take(3000)}")
    // the sparsified edge list is computed once: the three join legs read
    // the localCheckpoint, not three reruns of the basket explode
    assert("Scan ExistingRDD".r.findAllIn(plan).length >= 3,
      s"edge legs must read the checkpoint:\n${plan.take(3000)}")
  }

  test("cdc diff: one co-partitioned full-outer join, unchanged rows filtered " +
       "before the emit") {
    val df = Maintenance.cdcSnapshotDiff(spark, dir)
    val plan = planOf(df)
    assert(plan.contains("FullOuter"), s"expected full-outer join:\n${plan.take(3000)}")
    assert("Join FullOuter".r.findAllIn(plan).length +
      "SortMergeJoin.*FullOuter".r.findAllIn(plan).length >= 1)
    assert(!plan.contains("CartesianProduct"))
  }

  test("bigram LM: model fit is partial+final aggregation; scoring joins on " +
       "the bigram key with no cartesian") {
    val plan = planOf(graft.functions.CorpusOps.bigramLmScore(spark, dir))
    assert(plan.contains("partial_count"), s"no map-side combine:\n${plan.take(3000)}")
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoop"),
      s"scoring must stay equi-join:\n${plan.take(3000)}")
  }

  test("temporal scd2 join: equi join on the entity key with the interval " +
       "as residual — no banded explode, no cartesian, no sort between " +
       "history build and join") {
    val plan = planOf(Maintenance.temporalJoinScd2(spark, dir))
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoop"),
      s"temporal join must stay equi-join:\n${plan.take(3000)}")
    assert(!plan.contains("Generate explode"),
      s"no band explosion expected:\n${plan.take(3000)}")
    // the o_custkey equi-key carries the join; interval checks ride as
    // the join condition/filter
    assert(plan.contains("o_custkey"), s"missing entity key join:\n${plan.take(2000)}")
  }

  test("last-touch attribution: all three ignore-nulls lasts share ONE " +
       "window operator and one user_id exchange") {
    val plan = planOf(Windows.lastTouchAttribution(spark, dir))
    val windows = "Window ".r.findAllIn(plan).length
    assert(windows == 1, s"expected 1 window pass, got $windows:\n${plan.take(3000)}")
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(exchanges == 1,
      s"expected exactly 1 hash exchange (user_id), got $exchanges:\n${plan.take(3000)}")
  }

  test("tfidf keywords: tf aggregation partial+final; df joins back on the " +
       "token key, no cartesian") {
    val plan = planOf(graft.functions.TextAnalysis.tfidfKeywords(spark, dir))
    assert(plan.contains("partial_count"), s"no map-side combine:\n${plan.take(3000)}")
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoop"),
      s"df join must stay equi-join:\n${plan.take(3000)}")
  }

  test("skyline: one corpus shuffle (the per-entity agg), frontier " +
       "broadcasts back, window runs over the distinct-x table") {
    val plan = planOf(Relational.skylineCustomers(spark, dir))
    assert(plan.contains("BroadcastHashJoin"),
      s"frontier must broadcast:\n${plan.take(3000)}")
    assert(!plan.contains("CartesianProduct"))
    // corpus agg + the (tiny) per-x agg — no third corpus shuffle
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(exchanges <= 2,
      s"expected <=2 hash exchanges, got $exchanges:\n${plan.take(3000)}")
  }

  test("pq: codebook and ADC tables broadcast; encoding joins on the " +
       "subspace key with no cartesian") {
    val plan = planOf(Similarity.pqTopK(spark, dir))
    assert(plan.contains("BroadcastExchange"),
      s"codebook must broadcast:\n${plan.take(3000)}")
    assert(!plan.contains("CartesianProduct"))
    assert(plan.contains("partial_sum") || plan.contains("partial_count"),
      s"ADC sum must combine map-side:\n${plan.take(3000)}")
  }

  test("pq persisted: serving reads the stored code table — the encode " +
       "ranking window is gone, only the per-query ranking remains") {
    Similarity.pqPersisted(spark, dir).collect() // ensure built
    val plan = planOf(Similarity.pqPersisted(spark, dir))
    val windows = "Window ".r.findAllIn(plan).length
    assert(windows == 1,
      s"expected only the final ranking window, got $windows:\n${plan.take(3000)}")
    assert(!plan.toLowerCase.contains("zip_with(sv"),
      s"no L2 encode work at serve time:\n${plan.take(3000)}")
  }

  test("knn classify: probe table broadcasts (one corpus pass), vote " +
       "aggregate partial+final, no cartesian") {
    val plan = planOf(Similarity.knnClassify(spark, dir))
    assert(plan.contains("BroadcastExchange"),
      s"probes must broadcast:\n${plan.take(3000)}")
    assert(!plan.contains("CartesianProduct"))
    assert(plan.contains("partial_count"), s"no map-side vote combine:\n${plan.take(3000)}")
  }

  test("period-over-period: ONE lag window running over the daily aggregate, " +
       "never over events") {
    val plan = planOf(Windows.periodOverPeriod(spark, dir))
    assert("Window ".r.findAllIn(plan).length == 1,
      s"expected 1 window:\n${plan.take(3000)}")
    // parent-first printing: the lag window must sit ABOVE the day agg
    assert(plan.indexOf("Window [lag") < plan.indexOf("HashAggregate"),
      s"window must consume the aggregate:\n${plan.take(3000)}")
  }

  test("equi-width histogram: scalar max broadcasts; the only hash exchange " +
       "is the 20-key bucket agg") {
    val plan = planOf(Aggregations.equiwidthHist(spark, dir))
    assert(plan.contains("BroadcastExchange") || plan.contains("BroadcastNestedLoop"),
      s"stat row must broadcast:\n${plan.take(3000)}")
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(exchanges == 1,
      s"expected 1 hash exchange (bucket agg), got $exchanges:\n${plan.take(3000)}")
  }

  test("centroid per label: posexplode feeds a partial+final sum — one hash " +
       "exchange, no join") {
    val plan = planOf(Similarity.centroidPerLabel(spark, dir))
    assert(!plan.contains("Join"), s"centroid needs no join:\n${plan.take(2000)}")
    assert(plan.contains("partial_count") || plan.contains("partial_sum"),
      s"no map-side combine:\n${plan.take(3000)}")
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(exchanges == 1,
      s"expected 1 hash exchange ((label,dim) agg), got $exchanges:\n${plan.take(3000)}")
  }

  test("purge cascade: subject and purged-order sets broadcast — the fact " +
       "tables never hash-shuffle") {
    val plan = planOf(Maintenance.purgeCascade(spark, dir))
    assert(plan.contains("BroadcastHashJoin"),
      s"expected broadcast key-set joins:\n${plan.take(3000)}")
    assert("Exchange hashpartitioning".r.findFirstIn(plan).isEmpty,
      s"fact tables must not shuffle for the counts:\n${plan.take(3000)}")
  }

  test("time-weighted avg: the lead window and the per-user aggregate share " +
       "one user partitioning") {
    val plan = planOf(Windows.timeWeightedAvg(spark, dir))
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(exchanges == 1,
      s"window and agg must share the user_id exchange, got $exchanges:\n${plan.take(3000)}")
  }

  test("event transitions: lead and the ppm normalizer are two Window passes — " +
       "the second over the tiny aggregate, not over events") {
    val df = Windows.eventTransitions(spark, dir)
    val plan = planOf(df)
    // lead window over user_id (events-sized), ppm window over from_type
    // (|types|²-sized, AFTER the aggregate)
    val windows = "Window ".r.findAllIn(plan).length
    assert(windows == 2, s"expected 2 window passes, got $windows:\n${plan.take(3000)}")
    // plan strings print parents first: the ppm window (parent) must
    // appear BEFORE the aggregate (child) it consumes
    assert(plan.indexOf("Window [sum") < plan.indexOf("HashAggregate"),
      s"ppm window must sit above the aggregate:\n${plan.take(3000)}")
  }

  test("set-similarity join: candidate generation is an equi join on the " +
       "prefix token — never a cartesian or nested loop") {
    val plan = planOf(Dedup.setsimJoin(spark, dir))
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoop"),
      s"prefix-filter candidates must pair via the token equi join:\n${plan.take(3000)}")
  }

  test("bpe merge fit: per-round pair counting runs over the checkpointed " +
       "word dictionary, not the corpus (one corpus scan total)") {
    val df = graft.functions.CorpusOps.bpeMergesOf(
      graft.sources.Tables.documents(spark, dir), nMerges = 2)
    val plan = planOf(df)
    // the corpus parquet must not appear: every round reads the
    // localCheckpointed vocab (Scan ExistingRDD), so a plan containing
    // the documents file scan would mean per-round corpus rescans
    assert(!plan.contains("documents.parquet"),
      s"merge rounds must iterate over the checkpointed dictionary:\n${plan.take(3000)}")
    assert(plan.contains("Scan ExistingRDD"),
      s"expected checkpointed vocab scans:\n${plan.take(3000)}")
  }

  test("auc rank: the running-negatives window sorts the score DICTIONARY " +
       "(window above the dict aggregate), never the corpus") {
    val plan = planOf(Aggregations.aucRank(spark, dir))
    // parent-first printing: BELOW the window (later in the string)
    // there must be a HashAggregate — the (grp, score) dictionary — so
    // the window never sorts raw document rows
    val wIdx = plan.indexOf("Window [")
    assert(wIdx >= 0, s"expected a window:\n${plan.take(3000)}")
    assert(plan.indexOf("HashAggregate", wIdx) > 0,
      s"window must consume the dictionary agg:\n${plan.take(3000)}")
  }

  test("ood rate: literal-centroid projection — no join anywhere, the only " +
       "hash exchange is the per-label collapse") {
    val plan = planOf(Similarity.oodRate(spark, dir))
    assert(!plan.contains("Join"), s"assignment must be a projection:\n${plan.take(3000)}")
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(exchanges == 1,
      s"expected 1 hash exchange (label agg), got $exchanges:\n${plan.take(3000)}")
  }

  test("max drawdown: one user-key exchange feeds both running frames and " +
       "the collapse; top-20 is TakeOrdered, not a global sort") {
    val plan = planOf(Windows.maxDrawdown(spark, dir))
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(exchanges == 1,
      s"windows and agg must share the user shuffle, got $exchanges:\n${plan.take(3000)}")
    assert(plan.contains("TakeOrderedAndProject"),
      s"limit must be TakeOrdered:\n${plan.take(3000)}")
  }

  test("audience overlap: in-array pair derivation — no fact-side " +
       "SortMergeJoin, per-type totals broadcast onto the pair table") {
    val plan = planOf(Aggregations.audienceOverlap(spark, dir))
    assert(!plan.contains("SortMergeJoin"),
      s"pairs must come from the in-array explode:\n${plan.take(3000)}")
    assert(plan.contains("BroadcastHashJoin"),
      s"per-type totals must broadcast:\n${plan.take(3000)}")
  }

  test("survival curve: per-k expansion explodes the span dictionary — " +
       "events are aggregated once, no per-k rescans") {
    val plan = planOf(Windows.survivalCurve(spark, dir))
    assert("events\\.parquet".r.findAllIn(plan).length <= 1,
      s"events must be scanned once:\n${plan.take(3000)}")
    assert(!plan.contains("CartesianProduct"), "unexpected cartesian")
  }
}
