package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.sources.Tables

/** Iterative graph analytics over relationally-derived graphs.
  *
  * The dedup families already run one graph algorithm (connected
  * components, `Dedup.dedupGroupsOf`); this adds the other workhorse —
  * PageRank-style power iteration — expressed as pure relational
  * iteration so it rides the same join/agg machinery as everything else.
  *
  * Determinism: the classic float PageRank (r/deg contributions summed as
  * doubles) is partition-order-dependent. Here ranks live in integer
  * MICRO-units: each step is `150000 + (85 · Σ(r div deg)) div 100` —
  * integer division and integer sums only, so every engine and every
  * partitioning produces bit-identical ranks. The damping constant is the
  * standard 0.85 expressed as 85/100.
  *
  * Scale: each iteration is one co-partitionable join (ranks ⋈ edges on
  * src — both sides hash-partitioned on the same key after the first
  * iteration) plus one partial-agg shuffle on dst. Iteration count is a
  * fixed small constant, so lineage stays bounded without materializing;
  * the convergence-driven variant ([[pageRankConvergedOf]]) materializes
  * each round through [[graft.Materialize]].
  */
object Graph {

  /** Bipartite trade graph: an undirected edge for every distinct
    * (customer, supplier) pair that traded, from orders ⋈ lineitem.
    * Node ids disjointly encode the two key spaces (customer → 2k,
    * supplier → 2k+1). One fact-table shuffle builds the edge list; the
    * distinct collapses the ~linear duplicate pairs before iteration. */
  private def tradeEdges(spark: SparkSession, dir: String): DataFrame = {
    val pairs = Tables.orders(spark, dir).select(col("o_orderkey"), col("o_custkey"))
      .join(Tables.lineitem(spark, dir).select(col("l_orderkey"), col("l_suppkey")),
        col("o_orderkey") === col("l_orderkey"))
      .select((col("o_custkey") * 2).as("c"), (col("l_suppkey") * 2 + 1).as("s"))
      .distinct()
    // both union branches read this subtree: materialized, the
    // orders⋈lineitem distinct runs once instead of twice, and the loops
    // size their partitions from its measured row count
    val be = graft.Materialize(pairs)
    be.select(col("c").as("src"), col("s").as("dst"))
      .unionAll(be.select(col("s").as("src"), col("c").as("dst")))
  }

  /** The degree-fused edge table both PageRanks iterate over, and the
    * reducer count of their step plans (sized to the edge rows: at base
    * scale a full-width step stage is task-scheduling overhead).
    *
    * Every step references the edge list and the degree table; an
    * un-materialized plan re-derives BOTH from the fact join per
    * reference (measured: 14 lineitem scans, 0 reused exchanges for 3
    * iterations). Degree is FUSED into the edge list once, so a step is a
    * single equi-join plus a partial agg, and the fused table is the only
    * full materialization. Through [[graft.Materialize]] the fuse is an
    * SMJ on src whose hash(src, nPart) partitioning and src ordering the
    * leaf keeps, so each step's join moves and sorts ZERO edge rows. The
    * merge hint keeps the fuse a sort-merge join whatever the size
    * estimates say: a broadcast of `deg` would leave the leaf
    * unpartitioned, and every step would re-exchange the edges. */
  private def fusedEdges(edgesIn: DataFrame): (DataFrame, Int) = {
    val nPart = graft.Materialize.partitionsFor(edgesIn.sparkSession,
      graft.Materialize.rows(edgesIn))
    val deg = edgesIn.groupBy("src").agg(count(lit(1)).as("deg"))
    (graft.Materialize(edgesIn.hint("merge").join(deg, "src")
      .select(col("src"), col("dst"), col("deg"))
      .sortWithinPartitions("src"), nPart), nPart)
  }

  /** Every node at 10^6 micro-units, seeded off the fused table: distinct
    * over hash(src)-partitioned rows is exchange-free (every node appears
    * as a src), where seeding from `deg` re-ran the full-edge aggregation. */
  private def seedRanks(edges: DataFrame): DataFrame =
    edges.select(col("src").as("node")).distinct()
      .select(col("node"), lit(1000000L).as("r"))

  /** One step r' = base + (damping · Σ_in (r div deg)) div 100 over the
    * fused table. The merge hint keeps the edge rows in place whatever the
    * size estimates say: under a truthful edge size below the broadcast
    * threshold the planner would broadcast the whole edge table per step
    * (the hazard Dedup.connectedComponents guards the same way); the rank
    * side arrives hash-partitioned on `node` from its own groupBy. */
  private def rankStep(edges: DataFrame, base: Long, damping: Int)(r: DataFrame): DataFrame =
    edges.hint("merge").join(r, edges("src") === r("node"))
      .select(col("dst"), expr("r div deg").as("contrib"))
      .groupBy("dst")
      .agg(expr(s"CAST($base + ($damping * sum(contrib)) div 100 AS BIGINT)").as("r"))
      .select(col("dst").as("node"), col("r"))

  /** Integer power iteration over an (src, dst) edge list: `iters` steps
    * of r' = 150000 + (85 · Σ_in (r div deg)) div 100, ranks in
    * micro-units. Every node must appear as a src (no dangling nodes —
    * true by construction for undirected edge lists). */
  def pageRankOf(edgesIn: DataFrame, iters: Int): DataFrame = {
    val (edges, nPart) = fusedEdges(edgesIn)
    val ranks = (1 to iters).foldLeft(seedRanks(edges))((r, _) => rankStep(edges, 150000L, 85)(r))
    // the final ranks materialize HERE so the whole chain plans at nPart
    // against the nPart-partitioned edge leaf (planned at the caller's
    // partition count it would re-exchange the edges per iteration);
    // node-sized, one cheap extra write.
    graft.Materialize(ranks, nPart)
  }

  /** Integer PageRank, `iters` unrolled power-iteration steps over the
    * trade graph; emits per-supplier rank in micro-units. */
  def pageRankSuppliers(spark: SparkSession, dir: String, iters: Int = 3): DataFrame =
    pageRankOf(tradeEdges(spark, dir), iters)
      .filter(col("node") % 2 === 1)
      .select(expr("(node - 1) div 2").cast("long").as("s_suppkey"),
        col("r").as("rank_micro"))
      .orderBy("s_suppkey")

  /** CONVERGENCE-STOPPED integer PageRank — iterate until the integer
    * dynamics stop changing instead of a fixed unrolled count (the
    * variant [[pageRankOf]]'s doc sketches). Truncating integer
    * dynamics settle into a fixed point OR a period-2 limit cycle
    * (measured on this corpus: always the 2-cycle), so the stop rule is
    * the lag-2 fixpoint `r_k == r_{k-2}` — well-defined on integers, no
    * epsilon — and the emitted state is the elementwise
    * `least(A, B)` of the two cycle states: invariant to which phase
    * detection lands on, and equal to the fixpoint when one exists.
    *
    * Damping is 50/100 (teleport base 500000 keeps total mass at the
    * same 1e6 micro-units): the stronger teleport term contracts the
    * dynamics ~2× faster per step, entering the cycle in ~26 steps on
    * this graph vs ~100 at 85/100 — the convergence machinery is the
    * point of this operator; [[pageRankSuppliers]] keeps the standard
    * 0.85 constant.
    *
    * Scale/lineage: each round advances `checkEvery` lazily-chained
    * steps and materializes the last — lineage is bounded at
    * `checkEvery` join-agg layers no matter how many rounds run (a
    * convergence loop without the cadence re-derives the whole history
    * each action), and the convergence probe is one join over two
    * materialized rank tables, run once per round rather than per step.
    * `maxIters` caps pathological graphs; the output stays the same
    * deterministic least-of-last-two either way. */
  def pageRankConvergedOf(edgesIn: DataFrame, maxIters: Int = 128): DataFrame = {
    // every step input is a materialized table, planned without AQE
    // ([[graft.Materialize]]): adaptivity has nothing to discover there
    // and only adds 2-3 driver round-trips per ~80 ms step job (measured
    // ~150 jobs per run with AQE on vs ~40 off). Partitions are sized to
    // the PER-STEP data: the loop runs ~27 tiny step stages, and at base
    // scale a 500k-row step drowns in full-width task scheduling
    // (measured 2x on the whole query).
    val (edges, nPart) = fusedEdges(edgesIn)
    val step = rankStep(edges, 500000L, 50) _
    // probe CADENCE: the fixpoint test runs once per ROUND of
    // `checkEvery` FUSED steps, not per step. Each round builds one plan
    // chaining `checkEvery` join-aggs off the last materialized state and
    // materializes only the round's final state — one planning pass and
    // one multi-stage job per round instead of per step (the loop's cost
    // at base scale is overhead, not compute). The probe compares the new
    // state r_k against the previous round's r_{k-c}: `checkEvery` must
    // be EVEN — an even lag fires inside the period-≤2 cycle
    // (r_k = r_{k-2} = r_{k-4} = …) exactly like the lag-2 test, while an
    // odd lag compares the two ALTERNATING cycle states and never fires.
    // Detection overshoots cycle entry by up to checkEvery−1 steps, which
    // is invisible in the output: the emitted least() of an ADJACENT
    // state pair is the same two cycle states whatever the detection
    // offset, so the result is bit-identical to per-step probing.
    var last = graft.Materialize(seedRanks(edges), nPart)
    var iters = 0
    var converged = false
    val checkEvery = 4
    while (!converged && iters < maxIters) {
      var n = last
      var s = 0
      while (s < checkEvery && iters < maxIters) { n = step(n); s += 1; iters += 1 }
      val nck = graft.Materialize(n, nPart) // r_k; `last` is r_{k-checkEvery}
      converged = graft.Materialize.rows(graft.Materialize(
        nck.join(last.withColumnRenamed("r", "r0"), "node")
          .filter(col("r") =!= col("r0")).limit(1), nPart)) == 0
      last = nck
    }
    // one adjacent step past the detected state: least(r_k, r_{k+1}) is
    // least of the two cycle states, the convergence-stopped emit
    val nxt = graft.Materialize(step(last), nPart)
    last.join(nxt.withColumnRenamed("r", "r1"), "node")
      .select(col("node"), least(col("r"), col("r1")).as("r"))
  }

  /** [[pageRankConvergedOf]] over the trade graph, per-supplier ranks. */
  def pageRankConvergedSuppliers(spark: SparkSession, dir: String): DataFrame =
    pageRankConvergedOf(tradeEdges(spark, dir))
      .filter(col("node") % 2 === 1)
      .select(expr("(node - 1) div 2").cast("long").as("s_suppkey"),
        col("r").as("rank_micro"))
      .orderBy("s_suppkey")

  /** Converged PageRank SERVED from a persisted rank table (r10 verdict
    * #3 — the `dd_dedup_groups` lifecycle applied to the 100× wall-clock
    * ceiling): the power iteration runs ONCE per corpus and its
    * converged ranks land in an [[graft.sources.IndexStore]] table keyed
    * by the corpus fingerprint (bucketed on `s_suppkey`, so downstream
    * key joins are exchange-free); every subsequent consumption — here
    * the canonical "who are the top suppliers" lookup joining the
    * supplier dim — reads the table and pays join + top-k only. Rank
    * VALUES are identical to [[pageRankConvergedSuppliers]] by
    * construction (same loop, persisted verbatim), so the oracle replays
    * the same unrolled iteration and serves its own lookup off it. At
    * 100 TB this is the difference between re-running a ~30-step
    * distributed fixpoint per query and one bucketed-table read. */
  def pageRankServed(spark: SparkSession, dir: String): DataFrame = {
    import graft.sources.IndexStore
    val ranks = IndexStore.orBuild(spark,
      s"pr_ranks_${IndexStore.keyOf(dir)}", 8, Seq("s_suppkey"))(
      pageRankConvergedSuppliers(spark, dir))
    ranks
      .join(Tables.supplier(spark, dir).select("s_suppkey", "s_name"), "s_suppkey")
      .orderBy(desc("rank_micro"), col("s_suppkey"))
      .select("s_suppkey", "s_name", "rank_micro")
      .limit(25)
  }

  /** MULTI-SOURCE K-HOP REACHABILITY — frontier-expansion BFS from a
    * bounded seed set (the "blast radius" primitive: how much of the
    * trade network is within k hops of these suppliers). Seeds are the
    * first `seeds` supplier nodes; per hop 1..`hops` emits how many NEW
    * nodes each seed reached (classic BFS levels, so a node counts only
    * at its first hop).
    *
    * Scale: each hop is ONE equi-join of the (seed, node) frontier
    * against the materialized edge list on the node key, a distinct, and
    * an anti-join against the visited set — all hash-partitioned on the
    * same key. State is bounded by seeds × |V| (seeds is a small
    * constant), and hop count is fixed, so lineage and shuffle count are
    * both constants; materializing per hop keeps the plan flat exactly
    * as [[pageRankOf]] does. A seed that reaches nothing new at hop h
    * simply emits no row for that hop (identical on the oracle side —
    * empty groups are absent, not zero). */
  def khopReach(spark: SparkSession, dir: String, seeds: Int = 8, hops: Int = 3): DataFrame =
    khopReachOf(tradeEdges(spark, dir),
      spark.range(seeds.toLong).select((col("id") * 2 + 1).as("seed")), hops)
      .select(expr("(seed - 1) div 2").cast("long").as("s_suppkey"),
        col("hop"), col("n_new"))
      .orderBy("s_suppkey", "hop")

  /** [[khopReach]] core over any (src, dst) edge list and one-column
    * `seed` node set (spec entry): (seed, hop, n_new), unordered. */
  private[operators] def khopReachOf(edgesIn: DataFrame, seedsDf: DataFrame,
                                     hops: Int): DataFrame = {
    // the edge list is shaped once, hash(src)-partitioned and sorted
    // ([[graft.Materialize]] keeps both), so each hop's frontier⋈edges
    // SMJ moves only the small frontier side; the ~7 small hop jobs are
    // planned without AQE at a data-sized partition count.
    val nPart = graft.Materialize.partitionsFor(edgesIn.sparkSession,
      graft.Materialize.rows(edgesIn))
    val edges = graft.Materialize(
      edgesIn.repartition(nPart, col("src")).sortWithinPartitions("src"), nPart)
    var frontier = graft.Materialize(seedsDf.select(col("seed"), col("seed").as("node")), nPart)
    var visited = frontier
    val levels = (1 to hops).map { h =>
      val next = graft.Materialize(frontier.join(edges, frontier("node") === edges("src"))
        .select(col("seed"), col("dst").as("node"))
        .distinct()
        .join(visited, Seq("seed", "node"), "left_anti"), nPart)
      visited = graft.Materialize(visited.unionAll(next), nPart)
      frontier = next
      next.groupBy("seed").agg(count(lit(1)).as("n_new")).withColumn("hop", lit(h))
    }
    levels.reduce(_ unionAll _)
  }

  /** CONNECTED COMPONENTS as a first-class graph operator — over the
    * support-≥2 co-purchase graph (the ≥2 floor drops the long tail of
    * one-off co-occurrences, leaving genuinely-associated parts; the raw
    * graph at any scale is near-one-component and says nothing). Reuses
    * the pointer-jumping label propagation the dedup families run
    * ([[Dedup.connectedComponents]] — O(log n) rounds, two shuffles per
    * round over the pair graph only), then collapses labels to the
    * component inventory: (component_id = min part key, n_parts).
    *
    * The DuckDB oracle derives the same partition from first principles
    * — a recursive-CTE transitive closure and min-reachable-id per node
    * — so the gate proves the iterated pointer-jumping equivalent to the
    * closure semantics it approximates in O(log n) rounds. */
  def copurchaseComponents(spark: SparkSession, dir: String, minSupport: Int = 2): DataFrame = {
    // materialized: connectedComponents references the pair table FOUR
    // times (both directions of its edge union + both sides of the node
    // union) — unmaterialized, the basket-explode aggregation ran once
    // per reference
    val pairs = graft.Materialize(copurchaseCounts(spark, dir)
      .filter(col("n_orders") >= minSupport)
      .select(col("part_a").as("doc_a"), col("part_b").as("doc_b")))
    val nodes = pairs.select(col("doc_a").as("node"))
      .unionAll(pairs.select(col("doc_b").as("node"))).distinct()
    Dedup.connectedComponents(nodes, pairs)
      .groupBy(col("group_id").as("component_id"))
      .agg(count(lit(1)).as("n_parts"))
      .orderBy("component_id")
  }

  /** Market-basket pair counts: for every unordered part pair (a < b),
    * in how many distinct orders do both appear. The naive encoding is a
    * basket self-join (baskets ⋈ baskets on orderkey) — TWO shuffled
    * copies of the fact table and a quadratic merge per order group. This
    * shape shuffles the fact table ONCE (groupBy orderkey, dedup inside
    * collect_set), then explodes each order's sorted part array into its
    * C(n,2) in-array pairs map-side: the blow-up is bounded by basket
    * size (≤ lines-per-order, a small constant), never by corpus size. */
  private[operators] def copurchaseCounts(spark: SparkSession, dir: String): DataFrame =
    copurchaseCountsOf(Tables.lineitem(spark, dir))

  /** [[copurchaseCounts]] over any lineitem-shaped fact table (spec entry). */
  private[operators] def copurchaseCountsOf(lineitem: DataFrame): DataFrame =
    copurchasePairsOfBaskets(
      lineitem
        .groupBy(col("l_orderkey"))
        .agg(sort_array(collect_set(col("l_partkey"))).as("parts")))

  /** The in-array pair explode + support count over a prebuilt
    * (l_orderkey, parts) basket table — split out so [[assocRulesOf]]
    * can derive pair AND item supports from ONE materialized basket
    * table instead of re-shuffling the fact per support family. */
  private def copurchasePairsOfBaskets(baskets: DataFrame): DataFrame =
    baskets
      .filter(size(col("parts")) >= 2)
      .select(explode(expr(
        """flatten(transform(parts, (x, i) ->
          |  transform(slice(parts, i + 2, size(parts)),
          |            y -> named_struct('part_a', x, 'part_b', y))))""".stripMargin)).as("pr"))
      .select(col("pr.part_a").as("part_a"), col("pr.part_b").as("part_b"))
      .groupBy("part_a", "part_b")
      .agg(count(lit(1)).as("n_orders"))

  /** Top co-purchased part pairs by support, fully-ordered tie-break
    * (count desc, then both keys) so the limit boundary is deterministic.
    * At 100 TB the orderBy+limit is a per-partition top-k followed by a
    * single-reducer merge of ≤25 rows per partition (TakeOrderedAndProject
    * — no global sort materializes). */
  def copurchaseTopK(spark: SparkSession, dir: String, k: Int = 25): DataFrame =
    copurchaseCounts(spark, dir)
      .orderBy(desc("n_orders"), col("part_a"), col("part_b"))
      .limit(k)

  /** ASSOCIATION RULES (support / confidence / lift) over order
    * baskets — the classic market-basket mining output, in exact
    * integer ppm. Pair supports come from the same in-array basket
    * explode as [[copurchaseCounts]] (one fact shuffle, never the
    * quadratic self-join the oracle uses to prove it); the
    * support-filtered survivors fan out into BOTH rule directions
    * map-side, then join the part-dimension-sized item-support table
    * (broadcast) and the 1-row basket total:
    * confidence(a→b) = supp(ab)/supp(a),
    * lift(a→b) = supp(ab)·N / (supp(a)·supp(b)).
    * All arithmetic is integer (ppm floor-division) so the row hash is
    * engine-exact; ordering ties break on the full key. */
  def assocRules(spark: SparkSession, dir: String): DataFrame =
    assocRulesOf(Tables.lineitem(spark, dir))

  /** [[assocRules]] over any lineitem-shaped fact table (spec entry). */
  private[operators] def assocRulesOf(lineitem: DataFrame, minSupport: Long = 3L): DataFrame = {
    // ONE fact shuffle (r14, guide §2.3): the basket table (order →
    // sorted distinct part set) is checkpointed and feeds pair supports,
    // item supports AND the basket total. The old shape re-shuffled the
    // raw fact table three times — the pair collect_set, a distinct for
    // item supports, and a countDistinct for the total — for three
    // numbers that are all plain aggregates of the one basket table:
    // parts is per-order DISTINCT, so exploding it IS the (order, part)
    // distinct, and the basket count IS the distinct order count.
    // persisted rather than checkpointed: the first consumer (a
    // broadcast build) fills the cache as a side effect, so no separate
    // materialization job runs; the four consumers then share one
    // basket compute
    val baskets = lineitem
      .groupBy(col("l_orderkey"))
      .agg(sort_array(collect_set(col("l_partkey"))).as("parts"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val pairSupp = copurchasePairsOfBaskets(baskets)
      .filter(col("n_orders") >= minSupport)
    val itemSupp = baskets
      .select(explode(col("parts")).as("part"))
      .groupBy("part").agg(count(lit(1)).as("n_item"))
    val nBaskets = baskets.agg(count(lit(1)).as("n_baskets"))
    val directed = pairSupp.select(explode(expr(
      """array(named_struct('antecedent', part_a, 'consequent', part_b),
        |      named_struct('antecedent', part_b, 'consequent', part_a))""".stripMargin))
      .as("r"), col("n_orders").as("n_pair"))
      .select(col("r.antecedent").as("antecedent"),
        col("r.consequent").as("consequent"), col("n_pair"))
    directed
      .join(broadcast(itemSupp.select(col("part").as("antecedent"),
        col("n_item").as("n_ante"))), Seq("antecedent"))
      .join(broadcast(itemSupp.select(col("part").as("consequent"),
        col("n_item").as("n_cons"))), Seq("consequent"))
      .crossJoin(broadcast(nBaskets))
      .select(col("antecedent"), col("consequent"), col("n_pair"),
        col("n_ante"), col("n_cons"),
        expr("n_pair * 1000000L div n_ante").as("confidence_ppm"),
        expr("n_pair * n_baskets * 1000000L div (n_ante * n_cons)").as("lift_ppm"))
      .orderBy(desc("lift_ppm"), col("antecedent"), col("consequent"))
  }

  /** Canonical (a < b) undirected edge list of the top-k sparsified
    * co-purchase graph: keep each node's k strongest neighbors (support
    * desc, neighbor asc — deterministic), an edge survives if EITHER
    * endpoint kept it. Degree is then ≤ 2k, which is what makes wedge
    * enumeration ([[triangleCountsOfPairs]], [[linkPredict]]) linear in
    * nodes at any corpus size. Materialized: every caller feeds it to
    * 2-3 join legs. */
  private def sparsifiedEdgesOf(pc: DataFrame, k: Int): DataFrame =
    sparsifiedEdgesWeightedOf(pc, k).drop("wgt")

  /** [[sparsifiedEdgesOf]] keeping the pair weight (`wgt` = the pair's
    * n_orders — unique per unordered pair, so the distinct is the same
    * edge set): the link-prediction candidate cap ranks each midpoint's
    * incident edges by it. */
  private def sparsifiedEdgesWeightedOf(pc: DataFrame, k: Int): DataFrame = {
    val nbrs = pc.select(explode(array(
        struct(col("part_a").as("u"), col("part_b").as("v"), col("n_orders").as("n")),
        struct(col("part_b").as("u"), col("part_a").as("v"), col("n_orders").as("n")))).as("e"))
      .select(col("e.u").as("u"), col("e.v").as("v"), col("e.n").as("n_orders"))
    val byStrength = Window.partitionBy("u").orderBy(desc("n_orders"), asc("v"))
    graft.Materialize(nbrs
      .withColumn("rn", row_number().over(byStrength))
      .filter(col("rn") <= k)
      .select(least(col("u"), col("v")).as("a"), greatest(col("u"), col("v")).as("b"),
        col("n_orders").as("wgt"))
      .distinct())
  }

  /** LINK PREDICTION over the sparsified co-purchase graph — rank the
    * NON-edges most likely to become edges by common-neighbor count and
    * Jaccard overlap of neighborhoods (the two classic structural
    * scores; integer ppm so the ranking is engine-exact). Candidates
    * are the two-hop pairs: wedge-join the adjacency with itself on the
    * shared midpoint, drop pairs already connected (anti-join on the
    * edge list), score cn = #common neighbors and
    * jacc = cn / (deg_a + deg_b − cn).
    *
    * Scale: degree ≤ 2k after sparsification bounds wedges at
    * |V|·C(2k,2) — linear in nodes like [[triangleCountsOfPairs]]; the
    * top-50 is TakeOrderedAndProject (per-partition top-k, no global
    * sort). Degrees join co-partitioned on the node key. */
  def linkPredict(spark: SparkSession, dir: String, k: Int = 8, topN: Int = 50): DataFrame =
    linkPredictOfPairs(copurchaseCounts(spark, dir), k, topN)

  /** [[linkPredict]] over any weighted (part_a, part_b, n_orders) pair
    * table (spec entry).
    *
    * Shape notes (measured at sf0.1): the wedge enumeration stays an
    * adjacency SELF-JOIN on the midpoint — the in-array C(n,2) explode
    * that wins for order baskets (≤7 items) LOSES here (17.2 s vs
    * 12.1 s). Two prunes bound the work (VERDICT r8 ask #8; stage
    * profile: the wedge aggregate was 8.4 s of the 11 s total):
    *
    *  1. MIDPOINT FAN-OUT CAP: each midpoint only pairs its top-k
    *     incident sparsified edges (weight desc, neighbor asc — the
    *     sparsification's own rank rule applied to the undirected
    *     graph). Out-degree is ≤ k by construction but IN-degree is
    *     not — hub parts kept by thousands of others emitted C(deg,2)
    *     wedges (7.74M candidate pairs at sf0.1; ~3M from the top
    *     hubs). With the cap, candidates are ≤ |V|·C(k,2) — a bound
    *     that holds at ANY scale, which "degree ≤ 2k" never actually
    *     did. n_common therefore counts STRONG co-neighbors: midpoints
    *     ranking both endpoints within their k strongest edges (the
    *     standard NN-descent/locality-graph move). Degrees in the
    *     Jaccard stay UNCAPPED — the score still normalizes by true
    *     sparsified-graph neighborhoods.
    *  2. THRESHOLD PRUNE downstream: the primary sort key is n_common,
    *     so any final top-N row has n_common ≥ the N-th largest
    *     candidate n_common — computed with a cheap TakeOrdered over
    *     the cached candidates, filtering BEFORE the degree joins and
    *     ranked sort (they then run over ~N ties, not the full set).
    *
    * Measured sf0.1 effect of the cap: 10.7 s → ~4 s warm. */
  private[operators] def linkPredictOfPairs(pc: DataFrame, k: Int, topN: Int): DataFrame = {
    val edgesW = sparsifiedEdgesWeightedOf(pc, k)
    val edges = edgesW.select(col("a"), col("b"))
    val adjW = edgesW.select(col("a").as("w"), col("b").as("x"), col("wgt"))
      .unionAll(edgesW.select(col("b").as("w"), col("a").as("x"), col("wgt")))
    val deg = adjW.groupBy(col("w")).agg(count(lit(1)).as("deg"))
    val byWeight = Window.partitionBy("w").orderBy(desc("wgt"), asc("x"))
    val adjCap = adjW
      .withColumn("rn", row_number().over(byWeight))
      .filter(col("rn") <= k)
      .select(col("w"), col("x"))
    val cand = adjCap.as("l").join(adjCap.as("r"), col("l.w") === col("r.w"))
      .filter(col("l.x") < col("r.x"))
      .select(col("l.x").as("part_a"), col("r.x").as("part_b"))
      .groupBy("part_a", "part_b")
      .agg(count(lit(1)).as("n_common"))
      .join(edges, col("part_a") === col("a") && col("part_b") === col("b"), "left_anti")
      // persist, not Materialize: the threshold probe is the action
      // that fills the cache, so the candidate aggregate runs ONCE with
      // no separate materialization job (measured ~1 s cheaper here)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val thr = cand.orderBy(desc("n_common")).limit(topN)
      .agg(min(col("n_common")).as("thr"))
    // the surviving candidates are ~topN ties — materialize them
    // eagerly (tiny Materialize, reads the now-warm cache) so the
    // big candidate aggregate can be UNPERSISTED here instead of
    // leaking cached blocks for the session lifetime (ADVICE r8: the
    // bench invokes this n=5 times per round)
    val kept = graft.Materialize(cand
      .join(broadcast(thr), col("n_common") >= col("thr")))
    cand.unpersist(false)
    kept
      .join(deg.select(col("w").as("part_a"), col("deg").as("deg_a")), Seq("part_a"))
      .join(deg.select(col("w").as("part_b"), col("deg").as("deg_b")), Seq("part_b"))
      .select(col("part_a"), col("part_b"), col("n_common"), col("deg_a"), col("deg_b"),
        expr("n_common * 1000000L div (deg_a + deg_b - n_common)").as("jaccard_ppm"))
      .orderBy(desc("n_common"), desc("jaccard_ppm"), col("part_a"), col("part_b"))
      .limit(topN)
  }

  /** LABEL PROPAGATION community detection (synchronous, deterministic)
    * over the support-≥2 co-purchase graph: label₀ = node id; each round
    * every node adopts the MODE of its neighbors' labels (count desc,
    * label asc tie-break — no RNG, no visit order), run a fixed 4
    * synchronous rounds; emit the community inventory (label, n_parts).
    * Deliberately different machinery from
    * [[copurchaseComponents]]' pointer jumping: mode-adoption splits
    * dense regions into communities instead of flooding min-ids.
    *
    * Scale: each round is ONE adjacency⋈labels equi-join, a partial agg
    * on (node, label), and a per-node window top-1 — all hash-partitioned
    * on the node key; labels materialize per round so lineage stays
    * flat at any round count (the [[pageRankConvergedOf]] cadence). */
  def labelPropagation(spark: SparkSession, dir: String, iters: Int = 4,
                       minSupport: Int = 2): DataFrame = {
    // materialized: the loop's adjacency union references the pair table
    // twice — unmaterialized, the basket explode ran once per side
    val pairs = graft.Materialize(copurchaseCounts(spark, dir)
      .filter(col("n_orders") >= minSupport)
      .select(col("part_a"), col("part_b")))
    labelPropagationOfPairs(pairs, iters)
  }

  /** [[labelPropagation]] core over an unweighted canonical pair list
    * (spec entry): (community_id, n_parts), ordered. */
  private[operators] def labelPropagationOfPairs(pairs: DataFrame, iters: Int): DataFrame = {
    // the adjacency is shaped once, hash(src)-partitioned and sorted
    // ([[graft.Materialize]] keeps both), so the round join moves zero
    // adjacency rows; the ~4 small round jobs are planned without AQE,
    // sized to the adjacency (a ~20k-row adjacency drowns in full-width
    // stage overhead). The final inventory plans under the caller's conf.
    val adjRaw = pairs.select(col("part_a").as("src"), col("part_b").as("dst"))
      .unionAll(pairs.select(col("part_b").as("src"), col("part_a").as("dst")))
    val nPart = graft.Materialize.partitionsFor(pairs.sparkSession,
      graft.Materialize.rows(adjRaw))
    val adj = graft.Materialize(
      adjRaw.repartition(nPart, col("src")).sortWithinPartitions("src"), nPart)
    var labels = graft.Materialize(adj.select(col("src").as("node")).distinct()
      .select(col("node"), col("node").as("lbl")), nPart)
    (1 to iters).foreach { _ =>
      // the mode (count desc, label asc) as a two-level hash aggregation
      // instead of exchange+sort+WindowExec: max of the orderable struct
      // (cnt, -lbl) is exactly the argmax under that order — labels are
      // nonnegative part keys, so negating flips the tie-break to
      // label-ascending. Same two exchanges ((dst,lbl) then dst), but the
      // second is a partial-aggregable codegen'd max, not a per-partition
      // sort + single-pass window.
      labels = graft.Materialize(adj.join(labels, adj("src") === labels("node"))
        .groupBy(col("dst"), col("lbl"))
        .agg(count(lit(1)).as("cnt"))
        .groupBy(col("dst"))
        .agg(max(struct(col("cnt").as("c"), (-col("lbl")).as("nl"))).as("m"))
        .select(col("dst").as("node"), (-col("m.nl")).as("lbl")), nPart)
    }
    labels.groupBy(col("lbl").as("community_id"))
      .agg(count(lit(1)).as("n_parts"))
      .orderBy("community_id")
  }

  /** Triangle counting over the co-purchase graph, k-NN sparsified.
    *
    * The raw co-occurrence graph densifies as the corpus grows (every
    * popular part pair eventually co-occurs), so enumerating its wedges
    * is not scale-safe. Standard practice for similarity/co-occurrence
    * graphs is top-k sparsification first: keep each node's k strongest
    * neighbors (support desc, neighbor id asc — deterministic), make the
    * result undirected (an edge survives if EITHER endpoint kept it).
    * Degree is then ≤ 2k, so triangle enumeration — two equi-joins over
    * the canonical a<b edge list — touches ≤ |V|·C(2k,2) wedges: linear
    * in nodes with a k² constant, the bounded-arboricity shape that holds
    * at any corpus size. Emits per-part triangle participation counts
    * (each triangle credits all three corners). */
  def triangleCounts(spark: SparkSession, dir: String, k: Int = 8): DataFrame =
    triangleCountsOfPairs(copurchaseCounts(spark, dir), k)

  /** [[triangleCounts]] over any weighted (part_a, part_b, n_orders) pair
    * table (spec entry). */
  private[operators] def triangleCountsOfPairs(pc: DataFrame, k: Int): DataFrame = {
    // both directions emitted MAP-SIDE from one pass over the pair
    // counts (a union of two selects would recompute the basket explode
    // per branch); the per-node top-k then runs as a codegen'd window
    // sort — measured FASTER here than the typed bounded-top-k
    // aggregator (object-agg buffers lose to whole-stage codegen at
    // ~4M in-flight rows; the typed path wins when k ≪ group size AND
    // rows ≫ memory, which the scale gate revisits at sf1).
    // The edge list feeds three join legs below; sparsifiedEdgesOf
    // materializes it so the explode + window run once.
    val edges = sparsifiedEdgesOf(pc, k)
    val tri = edges.as("e1")
      .join(edges.as("e2"), col("e1.b") === col("e2.a"))
      .join(edges.as("e3"),
        col("e3.a") === col("e1.a") && col("e3.b") === col("e2.b"))
      .select(col("e1.a").as("x"), col("e1.b").as("y"), col("e2.b").as("z"))
    tri.select(explode(array(col("x"), col("y"), col("z"))).as("p_partkey"))
      .groupBy("p_partkey")
      .agg(count(lit(1)).as("n_triangles"))
      .orderBy("p_partkey")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "rel_pagerank" -> ((s: SparkSession, d: String) => pageRankSuppliers(s, d)),
    "rel_pagerank_converged" -> ((s: SparkSession, d: String) => pageRankConvergedSuppliers(s, d)),
    "rel_pagerank_served" -> ((s: SparkSession, d: String) => pageRankServed(s, d)),
    "rel_copurchase_topk" -> ((s: SparkSession, d: String) => copurchaseTopK(s, d)),
    "rel_assoc_rules" -> assocRules _,
    "rel_triangle_count" -> ((s: SparkSession, d: String) => triangleCounts(s, d)),
    "rel_khop_reach" -> ((s: SparkSession, d: String) => khopReach(s, d)),
    "rel_connected_components" -> ((s: SparkSession, d: String) => copurchaseComponents(s, d)),
    "rel_link_predict" -> ((s: SparkSession, d: String) => linkPredict(s, d)),
    "rel_label_propagation" -> ((s: SparkSession, d: String) => labelPropagation(s, d)),
  )

  /** Oracle for the converged variant: the identical integer iteration
    * unrolled far PAST the measured cycle entry (~26 steps on this
    * corpus; 60 gives >2× margin), emitting `least` of the last two
    * states — once inside the period-≤2 cycle, (i60, i61) are exactly
    * the two cycle states whatever the entry parity, so this equals the
    * engine's convergence-stopped output without the oracle needing to
    * know the entry iteration. Each step is `AS MATERIALIZED`: DuckDB
    * inlines single-reference CTEs, and 61 chained inlines blow up its
    * planner (>10 min vs 2 s materialized, measured at sf0.01). */
  /** The shared CTE prefix of the converged-PageRank oracles: the
    * identical integer iteration unrolled far past cycle entry, with a
    * final `pr(s_suppkey, rank_micro)` table of least-of-last-two. */
  private def pagerankConvergedCtes: String = {
    val steps = (1 to 61).map { i =>
      val prev = if (i == 1) "r0" else s"i${i - 1}"
      s"""i$i AS MATERIALIZED (SELECT e.dst AS node,
            CAST(500000 + (50 * sum(r.r // d.deg)) // 100 AS BIGINT) AS r
          FROM edges e JOIN $prev r ON e.src = r.node
                       JOIN deg d ON e.src = d.src GROUP BY 1)"""
    }.mkString(",\n         ")
    s"""WITH be AS (
          SELECT DISTINCT o.o_custkey * 2 AS c, l.l_suppkey * 2 + 1 AS s
          FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey),
        edges AS (SELECT c AS src, s AS dst FROM be
                  UNION ALL SELECT s, c FROM be),
        deg AS (SELECT src, count(*) AS deg FROM edges GROUP BY 1),
        r0 AS (SELECT src AS node, CAST(1000000 AS BIGINT) AS r FROM deg),
        $steps,
        pr AS (SELECT CAST((a.node - 1) // 2 AS BIGINT) AS s_suppkey,
                      least(a.r, b.r) AS rank_micro
               FROM i60 a JOIN i61 b ON a.node = b.node
               WHERE a.node % 2 = 1)"""
  }

  private def pagerankConvergedOracle: String =
    s"""$pagerankConvergedCtes
        SELECT s_suppkey, rank_micro FROM pr ORDER BY s_suppkey"""

  /** Served variant: the same converged ranks, consumed as a lookup —
    * join the supplier dim, top-25 by rank. */
  private def pagerankServedOracle: String =
    s"""$pagerankConvergedCtes
        SELECT p.s_suppkey, s.s_name, p.rank_micro
        FROM pr p JOIN supplier s ON p.s_suppkey = s.s_suppkey
        ORDER BY p.rank_micro DESC, p.s_suppkey LIMIT 25"""

  /** Oracle for label propagation: the identical synchronous mode
    * iteration unrolled as one MATERIALIZED CTE per round (DuckDB
    * inlines single-reference CTEs; chained inlines blow up its
    * planner — the [[pagerankConvergedOracle]] lesson). */
  private def labelPropagationOracle: String = {
    val steps = (1 to 4).map { i =>
      val prev = if (i == 1) "l0" else s"l${i - 1}"
      s"""l$i AS MATERIALIZED (
            SELECT dst AS node, lbl FROM (
              SELECT a.dst, p.lbl, count(*) AS cnt,
                     row_number() OVER (PARTITION BY a.dst
                       ORDER BY count(*) DESC, p.lbl ASC) AS rn
              FROM adj a JOIN $prev p ON a.src = p.node
              GROUP BY a.dst, p.lbl) WHERE rn = 1)"""
    }.mkString(",\n         ")
    s"""WITH b AS MATERIALIZED (
          SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
        pc AS MATERIALIZED (
          SELECT x.p AS part_a, y.p AS part_b
          FROM b x JOIN b y ON x.o = y.o AND x.p < y.p
          GROUP BY 1, 2 HAVING count(*) >= 2),
        adj AS MATERIALIZED (SELECT part_a AS src, part_b AS dst FROM pc
                             UNION ALL SELECT part_b, part_a FROM pc),
        l0 AS (SELECT DISTINCT src AS node, src AS lbl FROM adj),
        $steps
        SELECT lbl AS community_id, count(*) AS n_parts
        FROM l4 GROUP BY 1 ORDER BY 1"""
  }

  val oracles: Map[String, String] = Map(
    // same sparsified graph as the triangle oracle; candidates from the
    // wedge self-join over the MIDPOINT-CAPPED adjacency (each midpoint
    // pairs only its 8 strongest incident edges — weight desc, neighbor
    // asc), existing edges anti-joined out, UNCAPPED degrees in the
    // jaccard, integer ppm
    "rel_link_predict" ->
      """WITH b AS MATERIALIZED (
           SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
         pc AS MATERIALIZED (
           SELECT x.p AS part_a, y.p AS part_b, count(*) AS n_orders
           FROM b x JOIN b y ON x.o = y.o AND x.p < y.p
           GROUP BY 1, 2),
         nbrs AS (SELECT part_a AS u, part_b AS v, n_orders FROM pc
                  UNION ALL SELECT part_b, part_a, n_orders FROM pc),
         kept AS (SELECT u, v, n_orders FROM (
                    SELECT u, v, n_orders, row_number() OVER
                      (PARTITION BY u ORDER BY n_orders DESC, v ASC) AS rn
                    FROM nbrs) WHERE rn <= 8),
         e AS MATERIALIZED (
           SELECT DISTINCT least(u, v) AS a, greatest(u, v) AS b,
                  n_orders AS wgt FROM kept),
         adj AS MATERIALIZED (SELECT a AS w, b AS x, wgt FROM e
                              UNION ALL SELECT b, a, wgt FROM e),
         deg AS (SELECT w, count(*) AS deg FROM adj GROUP BY 1),
         adjc AS (SELECT w, x FROM (
                    SELECT w, x, row_number() OVER
                      (PARTITION BY w ORDER BY wgt DESC, x ASC) AS rn
                    FROM adj) WHERE rn <= 8),
         cand AS (
           SELECT l.x AS part_a, r.x AS part_b, count(*) AS n_common
           FROM adjc l JOIN adjc r ON l.w = r.w AND l.x < r.x
           GROUP BY 1, 2),
         nonedge AS (
           SELECT c.* FROM cand c
           WHERE NOT EXISTS (SELECT 1 FROM e
                             WHERE e.a = c.part_a AND e.b = c.part_b))
         SELECT n.part_a, n.part_b, n.n_common,
                da.deg AS deg_a, db.deg AS deg_b,
                CAST(n.n_common * 1000000 // (da.deg + db.deg - n.n_common)
                     AS BIGINT) AS jaccard_ppm
         FROM nonedge n JOIN deg da ON n.part_a = da.w
                        JOIN deg db ON n.part_b = db.w
         ORDER BY n_common DESC, jaccard_ppm DESC, part_a, part_b LIMIT 50""",
    "rel_label_propagation" -> labelPropagationOracle,
    // the identical integer power iteration, unrolled as three CTEs
    "rel_pagerank" ->
      """WITH be AS (
           SELECT DISTINCT o.o_custkey * 2 AS c, l.l_suppkey * 2 + 1 AS s
           FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey),
         edges AS (SELECT c AS src, s AS dst FROM be
                   UNION ALL SELECT s, c FROM be),
         deg AS (SELECT src, count(*) AS deg FROM edges GROUP BY 1),
         r0 AS (SELECT src AS node, CAST(1000000 AS BIGINT) AS r FROM deg),
         i1 AS (SELECT e.dst AS node,
                  CAST(150000 + (85 * sum(r.r // d.deg)) // 100 AS BIGINT) AS r
                FROM edges e JOIN r0 r ON e.src = r.node
                             JOIN deg d ON e.src = d.src GROUP BY 1),
         i2 AS (SELECT e.dst AS node,
                  CAST(150000 + (85 * sum(r.r // d.deg)) // 100 AS BIGINT) AS r
                FROM edges e JOIN i1 r ON e.src = r.node
                             JOIN deg d ON e.src = d.src GROUP BY 1),
         i3 AS (SELECT e.dst AS node,
                  CAST(150000 + (85 * sum(r.r // d.deg)) // 100 AS BIGINT) AS r
                FROM edges e JOIN i2 r ON e.src = r.node
                             JOIN deg d ON e.src = d.src GROUP BY 1)
         SELECT CAST((node - 1) // 2 AS BIGINT) AS s_suppkey, r AS rank_micro
         FROM i3 WHERE node % 2 = 1 ORDER BY s_suppkey""",
    "rel_pagerank_converged" -> pagerankConvergedOracle,
    "rel_pagerank_served" -> pagerankServedOracle,
    // the oracle derives pair counts from the raw quadratic self-join —
    // proving the basket-explode encoding equivalent
    "rel_copurchase_topk" ->
      """WITH b AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
         pc AS (SELECT x.p AS part_a, y.p AS part_b, count(*) AS n_orders
                FROM b x JOIN b y ON x.o = y.o AND x.p < y.p
                GROUP BY 1, 2)
         SELECT part_a, part_b, n_orders FROM pc
         ORDER BY n_orders DESC, part_a, part_b LIMIT 25""",
    // pair supports from the quadratic self-join definition — proving
    // the basket-explode encoding (as for copurchase); rule math in ppm
    "rel_assoc_rules" ->
      """WITH b AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
         nb AS (SELECT count(DISTINCT o) AS n_baskets FROM b),
         item AS (SELECT p, count(*) AS n_item FROM b GROUP BY 1),
         pc AS (SELECT x.p AS a, y.p AS c, count(*) AS n
                FROM b x JOIN b y ON x.o = y.o AND x.p < y.p
                GROUP BY 1, 2),
         keep AS (SELECT * FROM pc WHERE n >= 3),
         dir AS (SELECT a AS antecedent, c AS consequent, n FROM keep
                 UNION ALL SELECT c, a, n FROM keep)
         SELECT d.antecedent, d.consequent, CAST(d.n AS BIGINT) AS n_pair,
                CAST(ia.n_item AS BIGINT) AS n_ante,
                CAST(ic.n_item AS BIGINT) AS n_cons,
                CAST(d.n * 1000000 // ia.n_item AS BIGINT) AS confidence_ppm,
                CAST(d.n * (SELECT n_baskets FROM nb) * 1000000
                     // (ia.n_item * ic.n_item) AS BIGINT) AS lift_ppm
         FROM dir d JOIN item ia ON d.antecedent = ia.p
                    JOIN item ic ON d.consequent = ic.p
         ORDER BY lift_ppm DESC, antecedent, consequent""",
    "rel_triangle_count" ->
      """WITH b AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
         pc AS (SELECT x.p AS part_a, y.p AS part_b, count(*) AS n_orders
                FROM b x JOIN b y ON x.o = y.o AND x.p < y.p
                GROUP BY 1, 2),
         nbrs AS (SELECT part_a AS u, part_b AS v, n_orders FROM pc
                  UNION ALL SELECT part_b, part_a, n_orders FROM pc),
         kept AS (SELECT u, v FROM (
                    SELECT u, v, row_number() OVER
                      (PARTITION BY u ORDER BY n_orders DESC, v ASC) AS rn
                    FROM nbrs) WHERE rn <= 8),
         e AS (SELECT DISTINCT least(u, v) AS a, greatest(u, v) AS b FROM kept),
         tri AS (SELECT e1.a AS x, e1.b AS y, e2.b AS z
                 FROM e e1 JOIN e e2 ON e1.b = e2.a
                           JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b)
         SELECT node AS p_partkey, count(*) AS n_triangles
         FROM (SELECT unnest([x, y, z]) AS node FROM tri)
         GROUP BY 1 ORDER BY 1""",
    // BFS levels unrolled: per hop, EXCEPT against the union of all
    // earlier levels (EXCEPT also dedups = the engine's distinct)
    "rel_khop_reach" ->
      """WITH be AS MATERIALIZED (
           SELECT DISTINCT o.o_custkey * 2 AS c, l.l_suppkey * 2 + 1 AS s
           FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey),
         edges AS MATERIALIZED (SELECT c AS src, s AS dst FROM be
                                UNION ALL SELECT s, c FROM be),
         f0 AS (SELECT (i * 2 + 1) AS seed, (i * 2 + 1) AS node
                FROM range(8) AS t(i)),
         f1 AS MATERIALIZED (
           SELECT f.seed, e.dst AS node FROM f0 f JOIN edges e ON f.node = e.src
           EXCEPT SELECT seed, node FROM f0),
         f2 AS MATERIALIZED (
           SELECT f.seed, e.dst AS node FROM f1 f JOIN edges e ON f.node = e.src
           EXCEPT (SELECT seed, node FROM f0 UNION ALL SELECT seed, node FROM f1)),
         f3 AS MATERIALIZED (
           SELECT f.seed, e.dst AS node FROM f2 f JOIN edges e ON f.node = e.src
           EXCEPT (SELECT seed, node FROM f0 UNION ALL SELECT seed, node FROM f1
                   UNION ALL SELECT seed, node FROM f2))
         SELECT CAST((seed - 1) // 2 AS BIGINT) AS s_suppkey, hop,
                CAST(n_new AS BIGINT) AS n_new
         FROM (SELECT seed, 1 AS hop, count(*) AS n_new FROM f1 GROUP BY 1
               UNION ALL SELECT seed, 2, count(*) FROM f2 GROUP BY 1
               UNION ALL SELECT seed, 3, count(*) FROM f3 GROUP BY 1)
         ORDER BY s_suppkey, hop""",
    // transitive closure from first principles (recursive CTE), then
    // component id = min reachable node — proves the O(log n)
    // pointer-jumping loop computes the same partition
    "rel_connected_components" ->
      """WITH RECURSIVE b AS MATERIALIZED (
           SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
         pc AS MATERIALIZED (
           SELECT x.p AS part_a, y.p AS part_b
           FROM b x JOIN b y ON x.o = y.o AND x.p < y.p
           GROUP BY 1, 2 HAVING count(*) >= 2),
         edges AS MATERIALIZED (SELECT part_a AS src, part_b AS dst FROM pc
                                UNION ALL SELECT part_b, part_a FROM pc),
         nodes AS (SELECT DISTINCT src AS id FROM edges),
         reach(a, b) AS (SELECT id, id FROM nodes
                         UNION
                         SELECT r.a, e.dst FROM reach r JOIN edges e ON r.b = e.src)
         SELECT component_id, count(*) AS n_parts
         FROM (SELECT a, min(b) AS component_id FROM reach GROUP BY a)
         GROUP BY 1 ORDER BY 1""",
  )
}
