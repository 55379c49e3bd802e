package graft.operators

import org.scalatest.funsuite.AnyFunSuite

/** Pairs → connected components → keep-set: the transitive closure that
  * turns candidate PAIRS into dedup GROUPS. (a,b),(b,c) must collapse to
  * ONE group of 3 — keeping per-pair winners would over-keep b or c.
  * The bias audit splits cohorts on the keep-set's canonical flag. */
class DedupGroupsSpec extends AnyFunSuite {
  lazy val spark = graft.Sessions.local("4", "graft-dedup-groups-test")
  import spark.implicits._

  private def components(nodes: Seq[Long], pairs: Seq[(Long, Long)]): Map[Long, Long] =
    Dedup.connectedComponents(
      nodes.toDF("node"), pairs.toDF("doc_a", "doc_b"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("(a,b),(b,c) closes transitively to one group of 3") {
    val got = components(Seq(1L, 2L, 3L, 10L, 11L, 99L),
      Seq((1L, 2L), (2L, 3L), (10L, 11L)))
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L,
      10L -> 10L, 11L -> 10L, 99L -> 99L))
  }

  test("a long chain converges (pointer jumping, multiple rounds)") {
    val n = 64L
    val nodes = (1L to n)
    val chain = (1L until n).map(i => (i, i + 1))
    val got = components(nodes, chain)
    assert(got == nodes.map(_ -> 1L).toMap)
  }

  test("empty pair set: every node is its own singleton group") {
    val got = components(Seq(5L, 6L), Seq.empty)
    assert(got == Map(5L -> 5L, 6L -> 6L))
  }

  test("end-to-end groups: verbatim copies + near-dups collapse together") {
    val base =
      "the quick brown fox jumps over the lazy dog near the river bank today"
    // docs 0,1,2 identical; 10,11 identical near-dup of base (one token);
    // 20 unrelated — the DedupPipelineSpec corpus, now taken to groups
    val docs = Seq(
      (0L, base), (1L, base), (2L, base),
      (10L, base.replace("today", "tonight")),
      (11L, base.replace("today", "tonight")),
      (20L, "completely different content with no shared shingles at all " +
        "zebra quartz violin mountain seventeen")
    ).toDF("doc_id", "text")
    val got = Dedup.dedupGroupsOf(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3)))
    assert(got.length == 6, s"one row per doc expected: ${got.toSeq}")
    val byDoc = got.map(g => g._1 -> g).toMap
    for (d <- Seq(0L, 1L, 2L, 10L, 11L))
      assert(byDoc(d)._2 == 0L && byDoc(d)._3 == 5L,
        s"doc $d not in the merged group of 5: ${byDoc(d)}")
    assert(byDoc(20L) == ((20L, 20L, 1L, true)))
    // exactly one canonical per group, and it is the min doc_id
    assert(got.filter(_._4).map(g => (g._1, g._2)).toSet == Set((0L, 0L), (20L, 20L)))
  }

  test("reliable-checkpoint option yields identical groups to localCheckpoint") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_cc_ckpt").toString
    val nodes = (1L to 32L).toDF("node")
    val chain = (1L until 32L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val local = Dedup.connectedComponents(nodes, chain)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val reliable = Dedup.connectedComponents(nodes, chain,
        checkpointDir = Some(tmp))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(reliable == local)
    assert(local == (1L to 32L).map(_ -> 1L).toMap)
    // the reliable variant actually wrote checkpoint data to the dir
    val wrote = new java.io.File(tmp).listFiles()
    assert(wrote != null && wrote.nonEmpty, "no reliable checkpoint written")
    // the full groups pipeline accepts the option too
    val base =
      "the quick brown fox jumps over the lazy dog near the river bank today"
    val docs = Seq(
      (0L, base), (1L, base),
      (10L, base.replace("today", "tonight"))).toDF("doc_id", "text")
    val g1 = Dedup.dedupGroupsOf(docs).collect().map(_.toSeq).toSeq
    val g2 = Dedup.dedupGroupsOf(docs, checkpointDir = Some(tmp))
      .collect().map(_.toSeq).toSeq
    assert(g1 == g2)
  }

  test("star pairs from bands yield the exact same components as the all-pairs clique") {
    // the scale fix for r7 verdict #5: group pipelines link each LSH
    // bucket as a star to its min doc_id — (n−1) edges instead of
    // C(n,2) — which must leave the transitive closure untouched. Random
    // band tables with wide buckets are exactly the adversarial case.
    val rnd = new scala.util.Random(7)
    for (trial <- 1 to 10) {
      val nDocs = 5 + rnd.nextInt(40)
      val rows = for {
        d <- 0L until nDocs.toLong
        band <- 0 to 1
      } yield (d, band, rnd.nextInt(4).toLong) // few buckets → wide buckets
      val bands = rows.toDF("doc_id", "band", "bucket")
      val nodes = (0L until nDocs.toLong).toDF("node")
      val viaClique = Dedup.connectedComponents(nodes, Dedup.lshPairsFromBands(bands))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val viaStar = Dedup.connectedComponents(nodes, Dedup.lshStarPairsFromBands(bands))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(viaStar == viaClique, s"trial $trial: star and clique components differ")
      // and the star edge count is linear in bucket widths
      val starEdges = Dedup.lshStarPairsFromBands(bands).count()
      val widths = rows.groupBy(r => (r._2, r._3)).values.map(_.size)
      assert(starEdges <= widths.map(w => math.max(0, w - 1)).sum)
    }
  }

  test("random graphs: components match a reference union-find (20 trials)") {
    val rnd = new scala.util.Random(42)
    for (trial <- 1 to 20) {
      val n = 2 + rnd.nextInt(40)
      val nodes = (0L until n.toLong)
      val nPairs = rnd.nextInt(n * 2)
      val pairs = Seq.fill(nPairs) {
        val a = rnd.nextInt(n).toLong; val b = rnd.nextInt(n).toLong
        (math.min(a, b), math.max(a, b))
      }.filter(p => p._1 != p._2).distinct
      // reference: driver-side union-find with path compression
      val parent = scala.collection.mutable.ArrayBuffer.tabulate(n)(identity)
      def find(x: Int): Int = { if (parent(x) != x) parent(x) = find(parent(x)); parent(x) }
      pairs.foreach { case (a, b) =>
        val (ra, rb) = (find(a.toInt), find(b.toInt))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      // canonical form: min node id per component
      val want = nodes.map(i => i -> {
        val root = find(i.toInt)
        nodes.filter(j => find(j.toInt) == root).min
      }).toMap
      val got = components(nodes, pairs)
      assert(got == want, s"trial $trial (n=$n, pairs=$pairs)")
    }
  }

  test("canonical-corpus summary: per-lang kept counts reflect the keep-set") {
    val base =
      "the quick brown fox jumps over the lazy dog near the river bank today"
    val other = "completely different content with no shared shingles at all " +
      "zebra quartz violin mountain seventeen"
    // en: the merged group of 5 (3 verbatim + 2 near-dup) -> 1 kept;
    // de: two distinct unrelated docs -> both kept
    val docs = Seq(
      (0L, base, "en"), (1L, base, "en"), (2L, base, "en"),
      (10L, base.replace("today", "tonight"), "en"),
      (11L, base.replace("today", "tonight"), "en"),
      (20L, other, "de"),
      (21L, "ein ganz anderer text ohne gemeinsame schindeln mit irgendwem " +
        "sieben acht neun zehn elf zwoelf", "de")
    ).toDF("doc_id", "text", "lang")
      .withColumn("n_chars", org.apache.spark.sql.functions.length($"text").cast("long"))
    val got = Dedup.dedupCorpusSummaryOf(docs).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(got.length == 2)
    val byLang = got.map(g => g._1 -> g).toMap
    assert(byLang("en")._2 == 5L && byLang("en")._3 == 1L,
      s"en should keep 1 of 5: ${byLang("en")}")
    assert(byLang("en")._4 == base.length.toLong)
    assert(byLang("de")._2 == 2L && byLang("de")._3 == 2L,
      s"de should keep both: ${byLang("de")}")
  }

  test("dedupBiasAuditOf: cohorts split on the canonical flag") {
    import spark.implicits._
    val docs = Seq((1L, "a", "en", "w", 100L), (2L, "a", "en", "w", 40L),
      (3L, "b", "en", "w", 10L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val groups = Seq((1L, 1L, 2L, true), (2L, 1L, 2L, false), (3L, 3L, 1L, true))
      .toDF("doc_id", "group_id", "group_size", "is_canonical")
    val r = Dedup.dedupBiasAuditOf(docs, groups).collect()
      .map(x => x.getAs[String]("cohort") ->
        (x.getAs[Long]("n_docs"), x.getAs[Long]("mean_chars"))).toMap
    assert(r("kept") === ((2L, 55L)))    // (100+10)/2
    assert(r("dropped") === ((1L, 40L)))
  }
}
