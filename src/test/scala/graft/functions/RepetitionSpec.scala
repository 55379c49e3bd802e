package graft.functions

import org.scalatest.funsuite.AnyFunSuite

/** Hand-built cases for the Gopher-style repetition filters: the
  * run-length fold over sorted grams must equal the per-gram counts a
  * group-by would produce (the DuckDB oracle derives them that way),
  * and the ppm ladders must fire on degenerate repetition. The
  * cross-split memorization rate (verbatim 8-gram overlap) is pinned
  * on testdata. */
class RepetitionSpec extends AnyFunSuite {
  lazy val spark = graft.Sessions.local("4", "graft-repetition-test")

  private def docs(rows: Seq[(Long, String)]) = {
    import spark.implicits._
    rows.toDF("doc_id", "text")
  }

  test("degenerate single-token spam maxes every metric and is dropped") {
    val r = TextAnalysis.repetitionFilterOf(
      docs(Seq((1L, "spam spam spam spam spam spam")))).collect()(0)
    // 6 tokens, 5 bigrams all identical, 2 five-grams both identical
    assert(r.getAs[Long]("n_ws") === 6L)
    assert(r.getAs[Long]("top2gram_ppm") === 1000000L)
    assert(r.getAs[Long]("dup5gram_ppm") === 1000000L)
    // 6 tokens, 1 distinct -> 5/6
    assert(r.getAs[Long]("dup_token_ppm") === 833333L)
    assert(!r.getAs[Boolean]("keep"))
  }

  test("mode bigram count and dup positions on a mixed doc") {
    // tokens: a b a b c  -> bigrams: "a b","b a","a b","b c"
    // mode "a b" count 2 -> top2gram = 2/4 = 500000
    // dup positions: the two "a b" -> 2/4 = 500000 at 2-gram level,
    // but dup5gram has one 5-gram (unique) -> 0
    val r = TextAnalysis.repetitionFilterOf(docs(Seq((1L, "a b a b c")))).collect()(0)
    assert(r.getAs[Long]("top2gram_ppm") === 500000L)
    assert(r.getAs[Long]("dup5gram_ppm") === 0L)
    // 5 tokens, 3 distinct -> 2/5
    assert(r.getAs[Long]("dup_token_ppm") === 400000L)
  }

  test("short docs carry empty gram sets, not descending sequences") {
    val rs = TextAnalysis.repetitionFilterOf(
      docs(Seq((1L, "one"), (2L, "x y z w")))).collect()
    val d1 = rs.find(_.getAs[Long]("doc_id") == 1L).get
    assert(d1.getAs[Long]("top2gram_ppm") === 0L)
    assert(d1.getAs[Long]("dup5gram_ppm") === 0L)
    assert(d1.getAs[Boolean]("keep"))
    val d2 = rs.find(_.getAs[Long]("doc_id") == 2L).get
    // 4 tokens: 3 distinct bigrams, no 5-grams, all tokens distinct
    assert(d2.getAs[Long]("top2gram_ppm") === 333333L)
    assert(d2.getAs[Long]("dup5gram_ppm") === 0L)
    assert(d2.getAs[Long]("dup_token_ppm") === 0L)
  }

  test("duplicated 5-gram run counts both endpoints then extensions") {
    // "p q r s t p q r s t p q r s t": 11 5-grams, the gram "p q r s t"
    // occurs at positions 1, 6, 11 -> run of 3 -> dup contributes 3;
    // every other 5-gram ("q r s t p" etc.) also repeats twice -> all 11
    // positions are in duplicated runs -> dup5gram_ppm = 1000000
    val r = TextAnalysis.repetitionFilterOf(
      docs(Seq((1L, "p q r s t p q r s t p q r s t")))).collect()(0)
    assert(r.getAs[Long]("dup5gram_ppm") === 1000000L)
    assert(!r.getAs[Boolean]("keep"))
  }

  test("natural-looking prose passes the ladder") {
    val r = TextAnalysis.repetitionFilterOf(docs(Seq((1L,
      "the quick brown fox jumps over the lazy dog while a bird sings " +
        "softly in the warm morning light near the old stone bridge")))).collect()(0)
    assert(r.getAs[Boolean]("keep"))
  }

  test("memorizationRate on testdata: rates are valid ppm and grams counted") {
    val rows = graft.functions.TextAnalysis.memorizationRate(spark, "/root/testdata/sf0.001")
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Long]("n_grams") > 0L)
      assert(r.getAs[Long]("n_memorized") <= r.getAs[Long]("n_grams"))
      val ppm = r.getAs[Long]("memorized_ppm")
      assert(ppm >= 0L && ppm <= 1000000L)
    }
  }
}
