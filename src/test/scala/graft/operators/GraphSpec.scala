package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Integer PageRank: bit-exact against a hand-rolled sequential reference
  * on a small graph, invariant under repartitioning, sane on testdata. */
class GraphSpec extends AnyFunSuite {
  lazy val spark = graft.Sessions.local("4", "graft-graph-test")

  /** Sequential reference: same integer recurrence, plain Scala maps. */
  private def refRanks(edges: Seq[(Long, Long)], iters: Int): Map[Long, Long] = {
    val deg = edges.groupBy(_._1).map { case (n, es) => n -> es.size.toLong }
    var r = deg.map { case (n, _) => n -> 1000000L }
    (1 to iters).foreach { _ =>
      val in = edges.groupBy(_._2).map { case (dst, es) =>
        dst -> es.map { case (src, _) => r(src) / deg(src) }.sum
      }
      r = in.map { case (n, s) => n -> (150000L + (85L * s) / 100L) }
    }
    r
  }

  test("pageRankOf matches the sequential integer recurrence bit-exactly") {
    import spark.implicits._
    // small undirected triangle + pendant: 1-2, 2-3, 3-1, 3-4
    val und = Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L))
    val dir = und ++ und.map(_.swap)
    val got = Graph.pageRankOf(dir.toDF("src", "dst"), 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === refRanks(dir, 3))
  }

  test("ranks are repartition-invariant (integer arithmetic is order-free)") {
    import spark.implicits._
    val und = (1L to 40L).map(i => (i, i % 7 + 100L))
    val dir = und ++ und.map(_.swap)
    val base = Graph.pageRankOf(dir.toDF("src", "dst"), 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val shuffled = Graph.pageRankOf(dir.toDF("src", "dst").repartition(13), 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(base === shuffled)
  }

  test("rel_pagerank on testdata: every supplier ranked, ranks above teleport floor") {
    val df = Graph.pageRankSuppliers(spark, "/root/testdata/sf0.001").collect()
    assert(df.length > 0)
    val nSupp = graft.sources.Tables.supplier(spark, "/root/testdata/sf0.001").count()
    assert(df.length === nSupp)
    df.foreach(r => assert(r.getAs[Long]("rank_micro") > 150000L, s"rank too low: $r"))
  }

  test("labelPropagation mode: the max(struct(cnt, -lbl)) encoding keeps " +
    "the (count desc, label asc) tie-break") {
    import spark.implicits._
    // node 10's two neighbors carry equal-count labels {1, 2}: it must
    // adopt 1 (the lower label), never 2
    val pairs = Seq((10L, 1L), (10L, 2L)).toDF("part_a", "part_b")
    val got = Graph.labelPropagationOfPairs(pairs, 1).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // after one synchronous round: 1 -> 10, 2 -> 10, 10 -> 1
    assert(got === Map(1L -> 1L, 10L -> 2L))
  }
}
