package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Market-basket co-purchase, k-NN-sparsified triangle counting, k-hop
  * reach and co-purchase components: brute-force differentials on
  * testdata plus hand-built known-answer graphs. */
class GraphMiningSpec extends AnyFunSuite {
  lazy val spark = graft.Sessions.local("4", "graft-graphmining-test")
  private val dir = "/root/testdata/sf0.001"

  test("copurchase pair counts match the brute-force basket quadratic") {
    val got = Graph.copurchaseCounts(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    val baskets = graft.sources.Tables.lineitem(spark, dir)
      .select(col("l_orderkey"), col("l_partkey")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).distinct
      .groupBy(_._1).values.map(_.map(_._2).sorted.toVector)
    val brute = scala.collection.mutable.Map.empty[(Long, Long), Long]
    baskets.foreach { ps =>
      for (i <- ps.indices; j <- i + 1 until ps.length)
        brute((ps(i), ps(j))) = brute.getOrElse((ps(i), ps(j)), 0L) + 1L
    }
    assert(got.nonEmpty)
    assert(got === brute.toMap)
  }

  test("triangle enumerator: known counts on K4 + pendant") {
    import spark.implicits._
    // K4 on 1..4: four triangles, every corner sits in exactly 3;
    // pendant node 5 hangs off 4 and closes nothing
    val pairs = Seq((1L, 2L, 5L), (1L, 3L, 5L), (1L, 4L, 5L), (2L, 3L, 5L),
      (2L, 4L, 5L), (3L, 4L, 5L), (4L, 5L, 1L))
      .toDF("part_a", "part_b", "n_orders")
    val got = Graph.triangleCountsOfPairs(pairs, 8).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L))
  }

  test("k-NN sparsification is union-of-directions: a weak edge survives " +
    "when the WEAK side still ranks it top-k") {
    import spark.implicits._
    // hub 0 has 5 neighbors with strengths 5,4,3,2,1 and k=2 keeps only
    // {5,4} FROM THE HUB — but each leaf's only neighbor is the hub, so
    // every leaf re-adds its edge and the triangle 0-4-5 (closed by the
    // strong leaf-leaf edge) must still be found even though leaf 1's
    // edge contributes no triangle
    val pairs = ((1L to 5L).map(i => (0L, i, i)) :+ (4L, 5L, 9L))
      .toDF("part_a", "part_b", "n_orders")
    val got = Graph.triangleCountsOfPairs(pairs, 2).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === Map(0L -> 1L, 4L -> 1L, 5L -> 1L))
  }

  test("rel_triangle_count on testdata matches a sequential recomputation") {
    val pcRows = Graph.copurchaseCounts(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val nbrs = pcRows.flatMap { case (a, b, n) => Seq((a, b, n), (b, a, n)) }
    val edges = nbrs.groupBy(_._1).values.flatMap { es =>
      es.sortBy(e => (-e._3, e._2)).take(8)
    }.map { case (u, v, _) => (math.min(u, v), math.max(u, v)) }.toSet
    val adj = edges.groupBy(_._1).map { case (a, es) => a -> es.map(_._2) }
    val cnt = scala.collection.mutable.Map.empty[Long, Long]
    for {
      (a, bs) <- adj; b <- bs
      c <- adj.getOrElse(b, Set.empty) if bs.contains(c)
    } Seq(a, b, c).foreach(n => cnt(n) = cnt.getOrElse(n, 0L) + 1L)
    val got = Graph.triangleCounts(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.nonEmpty)
    assert(got === cnt.toMap)
  }

  test("association rules: hand-computed support/confidence/lift on 5 baskets") {
    import spark.implicits._
    // baskets: {1,2} {1,2} {1,2} {1,3} {2,3,4} → N=5
    // supp: 1→4, 2→4, 3→2, 4→1; pair(1,2)=3 (only pair ≥3)
    val li = Seq(
      (10L, 1L), (10L, 2L), (11L, 1L), (11L, 2L), (12L, 1L), (12L, 2L),
      (13L, 1L), (13L, 3L), (14L, 2L), (14L, 3L), (14L, 4L)
    ).toDF("l_orderkey", "l_partkey")
    val got = Graph.assocRulesOf(li, minSupport = 3L).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6)))
    // conf(1→2) = 3/4 = 750000 ppm; lift = 3·5·10⁶/(4·4) = 937500 (both ways)
    val want = Seq(
      (1L, 2L, 3L, 4L, 4L, 750000L, 937500L),
      (2L, 1L, 3L, 4L, 4L, 750000L, 937500L))
    assert(got.toSeq == want, s"rule math mismatch:\n got  ${got.toSeq}\n want $want")
  }

  test("khopReachOf: BFS levels on a path graph count each node at its first hop") {
    import spark.implicits._
    // path 1-2-3-4-5 (undirected); seed at node 1
    val und = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L))
    val edges = (und ++ und.map(_.swap)).toDF("src", "dst")
    val seeds = Seq(1L).toDF("seed")
    val got = Graph.khopReachOf(edges, seeds, 4)
      .collect().map(r => (r.getLong(0), r.getInt(2), r.getLong(1))).toSet
    // hop 1 reaches {2}, hop 2 {3}, hop 3 {4}, hop 4 {5} — one new node each
    assert(got === Set((1L, 1, 1L), (1L, 2, 1L), (1L, 3, 1L), (1L, 4, 1L)))
  }

  test("khopReachOf: a hop that reaches nothing new emits no row") {
    import spark.implicits._
    val und = Seq((1L, 2L), (2L, 3L))
    val edges = (und ++ und.map(_.swap)).toDF("src", "dst")
    val got = Graph.khopReachOf(edges, Seq(1L).toDF("seed"), 3)
      .collect().map(r => r.getInt(2)).toSet
    assert(got === Set(1, 2)) // graph exhausted after hop 2; no hop-3 row
  }

  test("khopReachOf: overlapping frontiers from two seeds stay per-seed") {
    import spark.implicits._
    // star: center 10, leaves 1..4; seeds at leaves 1 and 2
    val und = (1L to 4L).map(i => (i, 10L))
    val edges = (und ++ und.map(_.swap)).toDF("src", "dst")
    val got = Graph.khopReachOf(edges, Seq(1L, 2L).toDF("seed"), 2)
      .collect().map(r => ((r.getLong(0), r.getInt(2)), r.getLong(1))).toMap
    // hop 1: just the center; hop 2: the other three leaves (not the seed itself)
    assert(got === Map((1L, 1) -> 1L, (1L, 2) -> 3L, (2L, 1) -> 1L, (2L, 2) -> 3L))
  }

  test("copurchaseComponents on testdata: sizes partition the pair-graph node set") {
    val comps = Graph.copurchaseComponents(spark, "/root/testdata/sf0.001").collect()
    assert(comps.nonEmpty)
    // component ids are distinct minima; every component has >= 2 nodes
    // (singletons can't arise from a pair graph)
    val ids = comps.map(_.getLong(0))
    assert(ids.distinct.length === ids.length)
    comps.foreach(r => assert(r.getLong(1) >= 2L, s"undersized component: $r"))
  }
}
