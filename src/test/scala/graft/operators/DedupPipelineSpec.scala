package graft.operators

import org.scalatest.funsuite.AnyFunSuite

/** The exact→near pipeline on a corpus with REAL verbatim duplicates
  * (the sf tables have none): verbatim groups must collapse to one
  * representative BEFORE the LSH join — no intra-group pairs — while
  * near-duplicate (but not identical) texts still pair, with the
  * verbatim-copy counts carried through. The LSH recall evaluation
  * keeps caught ≤ true pairs at every threshold. */
class DedupPipelineSpec extends AnyFunSuite {
  lazy val spark = graft.Sessions.local("4", "graft-dedup-pipeline-test")
  import spark.implicits._

  private val base =
    "the quick brown fox jumps over the lazy dog near the river bank today"

  test("verbatim groups collapse; near-dups still pair; counts ride along") {
    // docs 0,1,2: identical (one group, rep 0, n=3)
    // docs 10,11: identical near-dup of base (one token changed; rep 10, n=2)
    // doc 20: unrelated text
    val docs = Seq(
      (0L, base), (1L, base), (2L, base),
      (10L, base.replace("today", "tonight")),
      (11L, base.replace("today", "tonight")),
      (20L, "completely different content with no shared shingles at all " +
        "zebra quartz violin mountain seventeen")
    ).toDF("doc_id", "text")
    val pairs = Dedup.dedupPipelinePairsOf(docs)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))

    // no intra-group pairs: (0,1), (0,2), (1,2), (10,11) must be absent
    val pairSet = pairs.map(p => (p._1, p._2)).toSet
    for (bad <- Seq((0L, 1L), (0L, 2L), (1L, 2L), (10L, 11L)))
      assert(!pairSet(bad), s"verbatim pair $bad leaked through the exact stage")
    // only representatives (min doc_id per group) may appear
    val members = pairs.flatMap(p => Seq(p._1, p._2)).toSet
    assert(members.subsetOf(Set(0L, 10L, 20L)), s"non-representative in $members")
    // the two near-identical groups share 7 of 8 minhash bands' material
    // (one token differs) — they must surface as a candidate pair with
    // both verbatim counts attached
    val hit = pairs.find(p => p._1 == 0L && p._2 == 10L)
    assert(hit.isDefined, s"near-dup reps (0, 10) not paired: ${pairs.toSeq}")
    assert(hit.get._3 == 3L && hit.get._4 == 2L,
      s"verbatim counts lost: ${hit.get}")
    // the unrelated doc pairs with nothing
    assert(!members.contains(20L) ||
      !pairs.exists(p => p._1 == 20L || p._2 == 20L))
  }

  test("a verbatim-heavy corpus generates no more candidate pairs than its distinct texts") {
    // 5 distinct texts × 40 verbatim copies each: raw LSH would emit
    // ~5 × C(40,2) = 3900 intra-group pairs; the pipeline emits at most
    // C(5,2) cross-group candidates
    val texts = (0 until 5).map(i => base.replace("fox", s"fox$i"))
    val docs = (0 until 200).map(i => (i.toLong, texts(i % 5))).toDF("doc_id", "text")
    val pairs = Dedup.dedupPipelinePairsOf(docs).collect()
    assert(pairs.length <= 10, s"pipeline emitted ${pairs.length} pairs (clique blowup)")
    pairs.foreach(r => assert(r.getLong(2) == 40L && r.getLong(3) == 40L))
  }

  test("lshRecallEval: caught <= true, true non-increasing in tau, recall sane") {
    val rows = Dedup.lshRecallEval(spark, "/root/testdata/sf0.001").collect()
    assert(rows.map(_.getAs[Long]("tau_pct")).toSeq === Seq(50L, 60L, 70L, 80L))
    rows.foreach { r =>
      assert(r.getAs[Long]("n_caught") <= r.getAs[Long]("n_true"))
      assert(r.getAs[Long]("recall_ppm") <= 1000000L)
      assert(r.getAs[Long]("recall_ppm") ===
        r.getAs[Long]("n_caught") * 1000000L / r.getAs[Long]("n_true"))
    }
    val trues = rows.map(_.getAs[Long]("n_true")).toSeq
    assert(trues === trues.sorted.reverse) // tighter tau admits fewer pairs
  }
}
