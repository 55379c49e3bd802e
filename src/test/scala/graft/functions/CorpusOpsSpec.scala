package graft.functions

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

/** The round-6 corpus-prep ring: benchmark decontamination, Gopher-style
  * repetition filters, capped domain-mixture sampling, and distributed
  * prefix-sum sequence packing. Planted fixtures exercise both branches
  * of every gate; packing is differentially checked against a local
  * single-threaded prefix sum over randomized uneven inputs. The novelty
  * curve gives verbatim repeats zero novelty. The mixture rebalance
  * conserves the corpus total, and tokenizer fertility matches the
  * per-doc token counts it aggregates. */
class CorpusOpsSpec extends AnyFunSuite {
  lazy val spark = graft.Sessions.local("4", "graft-corpus-ops-test")
  import spark.implicits._

  test("decontaminate: planted benchmark sentence flags; clean doc does not") {
    val bench = CorpusOps.benchmarkSentences.head // planted on doc_id 0 (0 % 13 == 0)
    val docs = Seq(
      (0L, "one two three four five six seven eight nine ten"), // gets the plant
      (1L, "totally unrelated tokens alpha beta gamma delta epsilon zeta eta"),
      (2L, s"prefix words then $bench trailing words here")     // manual contamination
    ).toDF("doc_id", "text")
    val got = CorpusOps.decontaminateOf(spark, docs).collect()
      .map(r => r.getLong(0) -> (r.getLong(2), r.getBoolean(3))).toMap
    assert(got(0L)._1 >= 2 && got(0L)._2, s"planted doc not flagged: $got")
    assert(got(1L) == ((0L, false)), s"clean doc flagged: $got")
    assert(got(2L)._1 >= 2 && got(2L)._2, s"embedded benchmark text not flagged: $got")
  }

  test("repetition filters: repetitive docs drop on the right signal") {
    val docs = Seq(
      // healthy: 25 distinct tokens → 24 distinct bigrams, top frac 1/24
      (0L, "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda " +
        "mu nu xi omicron pi rho sigma tau upsilon phi chi psi omega aleph"),
      // dominant 'of the' bigram (6/17 ≈ 0.35) but token dup 0.56 ≤ 0.6:
      // dropped on the BIGRAM signal alone
      (1L, "of the one of the two of the three of the four of the five of the six"),
      // heavy token repetition (dup 11/15 ≈ 0.73): dropped on the token signal
      (2L, "a a a a b a a a a c a a a a d")
    ).toDF("doc_id", "text")
    val got = CorpusOps.repetitionStatsOf(docs).collect()
      .map(r => r.getLong(0) -> (r.getDouble(2), r.getDouble(4), r.getBoolean(5))).toMap
    assert(got(0L)._3, s"healthy doc dropped: $got")
    assert(got(1L)._1 <= 0.6 && got(1L)._2 > 0.3 && !got(1L)._3, s"bigram-spam doc kept: $got")
    assert(got(2L)._1 > 0.6 && !got(2L)._3, s"token-spam doc kept: $got")
  }

  test("domain mix: under-cap sources keep all; over-cap sources are capped") {
    // 64 docs: src_big has 48, src_small has 16 → cap C = 64/32 = 2
    val docs = (0L until 64L).map { i =>
      (i, if (i < 48) "src_big" else "src_small")
    }.toDF("doc_id", "source")
    val got = CorpusOps.domainMixOf(docs).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(got("src_big")._1 == 48L && got("src_small")._1 == 16L)
    // keep rule: bucket·n < 10000·C. src_big: bucket < 10000·2/48 ≈ 416
    // → a small deterministic sample; src_small: bucket < 1250 → small too.
    // With C below both source sizes, both are strictly downsampled.
    assert(got("src_big")._2 < 48L, s"over-cap source not sampled: $got")
    // an under-cap source keeps everything: re-run with one tiny source
    val docs2 = ((0L until 62L).map(i => (i, "big")) ++ Seq((62L, "tiny"), (63L, "tiny")))
      .toDF("doc_id", "source")
    val got2 = CorpusOps.domainMixOf(docs2).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(got2("tiny") == ((2L, 2L)), s"under-cap source lost docs: $got2")
  }

  test("pack sequences: distributed prefix sum matches the serial packing") {
    val rnd = new scala.util.Random(42)
    // uneven doc sizes incl. docs bigger than the budget; sparse ids so
    // range partitioning is non-trivial
    val docs = (0 until 500).map(i => (i * 7L + (i % 3), 1L + rnd.nextInt(120)))
    val df = docs.toDF("doc_id", "n_tokens").repartition(13) // scrambled input order
    val got = CorpusOps.packSequencesOf(spark, df, budget = 256L).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    // serial reference: global doc_id order, running offset, chop at 256
    val serial = docs.sortBy(_._1)
      .scanLeft((0L, 0L, 0L)) { case ((_, _, off), (id, t)) => (id, t, off + t) }
      .drop(1).map { case (id, t, end) => (id, t, end - t) }
      .groupBy { case (_, _, start) => start / 256L }
      .map { case (shard, rows) =>
        (shard, rows.size.toLong, rows.map(_._2).sum,
          rows.map(_._1).min, rows.map(_._1).max)
      }.toSeq.sortBy(_._1)
    assert(got.toSeq == serial, s"packing mismatch:\n got   ${got.toSeq.take(5)}\n serial ${serial.take(5)}")
    // shards are contiguous id ranges: next shard's first_doc follows prev last_doc
    got.sliding(2).foreach {
      case Array((_, _, _, _, lastA), (_, _, _, firstB, _)) =>
        assert(firstB > lastA, s"shards overlap: $lastA vs $firstB")
      case _ =>
    }
  }

  test("bpe merges: Sennrich low/lower/newest/widest fits the textbook sequence") {
    // word dictionary {low:5, lower:2, newest:6, widest:3} — the canonical
    // BPE walkthrough. Hand-derived rounds: (e,s)=9 ties (s,t)=9 → lexicographic
    // pick e+s; then es+t=9; then (l,o)=(o,w)=7 → l+o; then lo+w=7. Merge 2
    // composes merge 1 and merge 4 composes merge 3, proving learned symbols
    // re-enter the pair statistics.
    val docs = Seq(
      (0L, "low low low low low"),
      (1L, "lower lower"),
      (2L, "newest newest newest newest newest newest"),
      (3L, "widest widest widest")
    ).toDF("doc_id", "text")
    val got = CorpusOps.bpeMergesOf(docs, nMerges = 4).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getString(3), r.getLong(4)))
    val want = Seq(
      (1, "e", "s", "es", 9L),
      (2, "es", "t", "est", 9L),
      (3, "l", "o", "lo", 7L),
      (4, "lo", "w", "low", 7L))
    assert(got.toSeq == want, s"merge sequence mismatch:\n got  ${got.toSeq}\n want $want")

    // encode under those 4 merges: low→[low](1), lower→[low,e,r](3),
    // newest→[n,e,w,est](4), widest→[w,i,d,est](4)
    val enc = CorpusOps.bpeEncodeOf(docs, nMerges = 4).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val wantEnc = Seq(
      (0L, 5L, 5L, 15L),   // "low" ×5
      (1L, 2L, 6L, 10L),   // "lower" ×2
      (2L, 6L, 24L, 36L),  // "newest" ×6
      (3L, 3L, 12L, 18L))  // "widest" ×3
    assert(enc.toSeq == wantEnc, s"encode mismatch:\n got  ${enc.toSeq}\n want $wantEnc")
  }

  test("chunkDocuments: in-array chunking (closed-form n_tok, transform-" +
    "then-explode fp) matches a sequential re-chunking of the corpus") {
    val width = 64
    val stride = 48
    def md5hex(s: String): String = java.security.MessageDigest
      .getInstance("MD5").digest(s.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    val docs = graft.sources.Tables.documents(spark, "/root/testdata/sf0.001")
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val expect = docs.toSeq.flatMap { case (id, text) =>
      val ts = text.toLowerCase.split(" ", -1).toSeq.filter(_.nonEmpty)
      Range(0, ts.length, stride).map { s =>
        val chunk = ts.slice(s, s + width)
        (id, (s / stride).toLong, s.toLong, chunk.length.toLong,
          md5hex(chunk.mkString(" ")))
      }
    }.toSet
    val got = TextAnalysis.chunkDocuments(spark, "/root/testdata/sf0.001")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getString(4))).toSet
    assert(got === expect)
  }

  test("noveltyCurveOf: verbatim repeats contribute zero novelty to later buckets") {
    val text8 = "a b c d e f g h"          // exactly one 8-gram
    val other8 = "p q r s t u v w"
    val docs = Seq(
      (0L, text8, "en", "s", 0L),          // bucket 0 (size 2): both novel
      (1L, other8, "en", "s", 0L),
      (2L, text8, "en", "s", 0L),          // bucket 1: a repeat and a novel
      (3L, "x y z w v u t s", "en", "s", 0L)
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
    val got = CorpusOps.noveltyCurveOf(docs, bucketSize = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toList
    assert(got === List((0L, 2L, 2L, 1000000L), (1L, 2L, 1L, 500000L)))
  }

  test("mixRebalance: targets conserve the corpus total; head shrinks, tail grows") {
    val rows = graft.functions.TextAnalysis.mixRebalance(spark, "/root/testdata/sf0.001")
      .collect()
    val total = rows.map(_.getAs[Long]("n_tokens")).sum
    assert(rows.map(_.getAs[Long]("target_tokens")).sum === total) // exact Hamilton
    rows.foreach { r =>
      assert(r.getAs[Long]("keep_ppm") <= 1000000L)
      assert(r.getAs[Long]("kept_tokens") <= r.getAs[Long]("n_tokens"))
    }
    // sqrt flattening: the LARGEST language is cut below its natural
    // share, the SMALLEST keeps everything (target >= current)
    val byTokens = rows.sortBy(_.getAs[Long]("n_tokens"))
    assert(byTokens.last.getAs[Long]("target_tokens") < byTokens.last.getAs[Long]("n_tokens"))
    assert(byTokens.head.getAs[Long]("target_tokens") >= byTokens.head.getAs[Long]("n_tokens"))
  }

  test("fertility cohort sums equal the per-doc tokenCount rollup") {
    val dir = "/root/testdata/sf0.001"
    val viaDoc = graft.functions.TextAnalysis.tokenCount(spark, dir)
      .join(graft.sources.Tables.documents(spark, dir).select("doc_id", "lang", "source"),
        "doc_id")
      .groupBy("lang", "source")
      .agg(org.apache.spark.sql.functions.sum("n_re_tokens").as("re"),
        org.apache.spark.sql.functions.sum("n_chars").as("ch"))
      .collect()
      .map(r => (r.getAs[String]("lang"), r.getAs[String]("source")) ->
        (r.getAs[Long]("re"), r.getAs[Long]("ch"))).toMap
    val got = graft.functions.TextAnalysis.fertility(spark, dir).collect()
    assert(got.nonEmpty)
    got.foreach { r =>
      val k = (r.getAs[String]("lang"), r.getAs[String]("source"))
      assert((r.getAs[Long]("n_re_tokens"), r.getAs[Long]("n_chars")) === viaDoc(k))
      assert(r.getAs[Long]("re_per_100c_ppm") ===
        r.getAs[Long]("n_re_tokens") * 100000000L / r.getAs[Long]("n_chars"))
    }
  }
}
