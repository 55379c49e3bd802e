package graft.functions

import org.scalatest.funsuite.AnyFunSuite

/** Hashed linear classifier: the margin must equal a driver-side replay
  * of the same hashing-trick arithmetic (md5-hex bucket → integer
  * weight), both gate branches must be reachable, and the integer sum
  * must be partitioning-invariant. */
class QualityClassifierSpec extends AnyFunSuite {
  lazy val spark = graft.Sessions.local("4", "graft-quality-clf-test")
  import spark.implicits._

  /** Driver-side replay of the engine's feature weights. */
  private def weight(feat: String): Long = {
    val md5 = java.security.MessageDigest.getInstance("MD5")
      .digest(feat.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val b = java.lang.Long.parseLong(md5.take(8), 16) % 4096
    (b * 2654435761L) % 2001 - 1000
  }

  private def expectedMargin(text: String): (Long, Long) = {
    val t = text.toLowerCase.split(" ", -1).toSeq
    val uni = t.filter(_.nonEmpty)
    val bi = if (t.length >= 2) t.sliding(2).map(_.mkString(" ")).toSeq else Seq.empty
    val fs = uni ++ bi
    (fs.length.toLong, fs.map(weight).sum)
  }

  test("margin replays the driver-side hashing-trick arithmetic exactly") {
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "a b c"),
      (3L, ""),
      (4L, "solo")).toDF("doc_id", "text")
    val got = TextAnalysis.qualityClassifierOf(docs).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getBoolean(3)))).toMap
    for ((id, text) <- Seq((1L, "the quick brown fox jumps over the lazy dog"),
                           (2L, "a b c"), (4L, "solo"))) {
      val (n, m) = expectedMargin(text)
      assert(got(id) == ((n, m, m > 0)), s"doc $id: got ${got(id)}, want ($n,$m)")
    }
    // empty text: split yields [""], the empty unigram is filtered, no
    // bigrams — zero features, margin 0, dropped
    assert(got(3L) == ((0L, 0L, false)))
  }

  test("both gate branches fire on the sf0.001 corpus") {
    val got = TextAnalysis.qualityClassifier(spark, "/root/testdata/sf0.001")
      .collect().map(_.getBoolean(3))
    assert(got.contains(true) && got.contains(false),
      s"gate must exercise both branches: kept=${got.count(identity)}/${got.length}")
  }

  test("margin is invariant under repartitioning (order-free integer sum)") {
    val docs = (1L to 50L).map(i => (i, s"tok$i alpha beta tok${i % 7} gamma"))
      .toDF("doc_id", "text")
    val a = TextAnalysis.qualityClassifierOf(docs).collect().toSeq
    val b = TextAnalysis.qualityClassifierOf(docs.repartition(13)).collect().toSeq
    assert(a == b)
  }

  test("blocklistFilter: ppm gate and distinct-term accounting on crafted docs") {
    // via the public entry over a temp parquet dir with a crafted table
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("blk").toString
    Seq(
      (1L, "slow slow big join scan merge filter row batch line", "en", "s1", 10L),
      (2L, "join scan merge filter row batch line key agg value", "en", "s1", 10L)
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = graft.functions.TextAnalysis.blocklistFilter(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(3), r.getLong(4), r.getString(6))).toList
    // doc 1: 3 hits of 10 tokens = 300000 ppm (> 60000) over 2 distinct
    // terms -> drop; doc 2: clean -> keep
    assert(got === List((1L, 3L, 2L, "drop"), (2L, 0L, 0L, "keep")))
  }
}
