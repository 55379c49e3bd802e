package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** [[PrefixSum]] against a serial running sum: uneven weights, input in
  * scrambled order, both directions of the order, and the edge sizes
  * range partitioning meets (empty partitions, one row, no rows). */
class PrefixSumSpec extends AnyFunSuite {
  lazy val spark = Sessions.local("4", "graft-prefix-sum-test")

  test("inclusive and exclusive sums equal a serial scanLeft, with empty " +
    "range partitions, a single row and an empty frame") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    def check(keys: Seq[Long], partitions: Int): Unit = {
      val rows = rnd.shuffle(keys.map(k => (k, rnd.nextInt(1000).toLong - 200L)))
      val before = spark.conf.get("spark.sql.shuffle.partitions")
      spark.conf.set("spark.sql.shuffle.partitions", partitions.toString)
      try {
        val df = rows.toDF("k", "w")
        for ((order, sorted) <- Seq(
               (col("k").asc, rows.sortBy(_._1)),
               (col("k").desc, rows.sortBy(-_._1)));
             inclusive <- Seq(true, false)) {
          val runs = sorted.map(_._2).scanLeft(0L)(_ + _)
          val want = sorted.map(_._1).zip(if (inclusive) runs.tail else runs.init).toMap
          val got = PrefixSum(df, Seq(order), col("w"), "s", inclusive)
            .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
          assert(got === want, s"${keys.size} rows, $order, inclusive=$inclusive")
        }
      } finally spark.conf.set("spark.sql.shuffle.partitions", before)
    }
    check(rnd.shuffle((1L to 500L).map(_ * 3)), 4)
    check(Seq(5L, 9L, 2L), 8) // more range partitions than rows
    check(Seq(42L), 4)
    check(Seq.empty, 4)
  }
}
