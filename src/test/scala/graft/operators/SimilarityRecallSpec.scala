package graft.operators

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** Recall QA for the similarity family: the nprobe knob must be monotone
  * (probing 2 cells can only find a superset-quality answer vs 1), every
  * IVF hit must be consistent with the brute-force ranking, and the
  * shared recall tail counts exactly. Also the hand-built and testdata
  * cases of the mining, re-ranking, clustering and filtered-search
  * operators. */
class SimilarityRecallSpec extends AnyFunSuite {
  lazy val spark = graft.Sessions.local("4", "graft-recall-test")
  val dir = "/root/testdata/sf0.01"

  private def topIds(df: org.apache.spark.sql.DataFrame): Seq[Long] =
    df.select("vec_id").collect().map(_.getLong(0)).toSeq
  private def topCos(df: org.apache.spark.sql.DataFrame): Map[Long, Double] =
    df.select("vec_id", "cos").collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap

  test("IVF multi-probe recall is monotone in nprobe and consistent with brute force") {
    val brute = annBrute()
    val bruteIds = topIds(brute).toSet
    val bruteCos = topCos(brute)
    val ivf1 = topIds(Similarity.ivfTopK(spark, dir))
    val ivf2 = topIds(Similarity.ivfProbe2TopK(spark, dir))
    val recall1 = ivf1.count(bruteIds).toDouble / bruteIds.size
    val recall2 = ivf2.count(bruteIds).toDouble / bruteIds.size
    assert(recall2 >= recall1, s"nprobe=2 recall $recall2 < nprobe=1 recall $recall1")
    assert(recall2 > 0.0, "multi-probe found none of the true top-10")
    // consistency: any IVF hit that IS a true top-10 must carry the same
    // cosine the brute-force scorer computed (same quantized math)
    val ivf2Cos = topCos(Similarity.ivfProbe2TopK(spark, dir))
    ivf2Cos.foreach { case (id, c) =>
      bruteCos.get(id).foreach(bc => assert(math.abs(bc - c) < 1e-12, s"vec $id cos drift"))
    }
  }

  test("fitted k-means centroids beat the fixed pre-fit centroids on mean recall@10") {
    // Mean recall over 50 queries (a single query's recall@10 is noise);
    // same quantized integer math as the engine (VectorOpsUtil.quantize).
    import graft.functions.VectorOpsUtil.quantize
    val vecs: Map[Long, Array[Long]] = graft.sources.Tables.embeddings(spark, dir)
      .select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) ->
        r.getSeq[Float](1).toArray.map(f => quantize(f.toDouble * 1000.0))).toMap
    def dot(a: Array[Long], b: Array[Long]): Long =
      a.zip(b).map { case (x, y) => x * y }.sum
    def cos(a: Array[Long], b: Array[Long]): Double =
      dot(a, b).toDouble / (math.sqrt(dot(a, a).toDouble) * math.sqrt(dot(b, b).toDouble))
    val ids = vecs.keys.toArray.sorted
    val queries = ids.take(50)

    def meanRecall(cents: Array[Array[Long]], nprobe: Int): (Double, Double) = {
      def rankedCells(v: Array[Long]): Array[Int] =
        cents.zipWithIndex.sortBy { case (c, j) => (-cos(v, c), j) }.map(_._2)
      val assign = ids.map(i => i -> rankedCells(vecs(i))(0)).toMap
      val perQuery = queries.map { qid =>
        val qv = vecs(qid)
        val true10 = ids.filter(_ != qid).sortBy(i => (-cos(vecs(i), qv), i)).take(10).toSet
        val qcells = rankedCells(qv).take(nprobe).toSet
        val cand = ids.filter(i => i != qid && qcells(assign(i)))
        val got = cand.sortBy(i => (-cos(vecs(i), qv), i)).take(10).toSet
        ((got & true10).size / 10.0, cand.length.toDouble)
      }
      (perQuery.map(_._1).sum / perQuery.length, perQuery.map(_._2).sum / perQuery.length)
    }

    val fixed = (1L to 8L).map(vecs).toArray
    val fitted = Similarity.fitIvfCentroids(spark, dir).map(_._2)
    for (nprobe <- Seq(1, 2)) {
      val (fr, fc) = meanRecall(fixed, nprobe)
      val (tr, tc) = meanRecall(fitted, nprobe)
      assert(tr >= fr, s"nprobe=$nprobe: fitted mean recall $tr < fixed $fr")
      assert(tc <= fc * 1.1,
        s"nprobe=$nprobe: fitted candidate count $tc blew past fixed $fc")
    }
  }

  test("multi-query: brute force is the exact ground truth; IVF recall is measured against it") {
    // brute-force multi-query at q_id=0 must agree with the single-query
    // brute force (same corpus, same tie-break) on the first 5 ranks
    val single = topIds(annBrute()).take(5)
    val multi = Similarity.annMultiQueryTopK(spark, dir)
      .collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
    val q0 = multi.filter(_._1 == 0L).sortBy(_._2).map(_._3).toSeq
    assert(q0 == single, s"q_id=0 multi-query $q0 != single-query brute $single")
    // every probe answered with exactly k ranks 1..5
    val byQ = multi.groupBy(_._1)
    assert(byQ.keySet == (0L until 20L).toSet)
    byQ.foreach { case (q, rows) =>
      assert(rows.sortBy(_._2).map(_._2).toSeq == (1 to 5), s"ranks off for q=$q")
    }
    // IVF multi-query recall@5 vs the exact answer: bounded below, and
    // every IVF hit that is a true hit carries the identical cosine
    val ivf = Similarity.ivfMultiQueryTopK(spark, dir)
      .collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
    val bruteSets = byQ.map { case (q, rows) => q -> rows.map(_._3).toSet }
    val bruteCosByQ = multi.map(m => (m._1, m._3) -> m._4).toMap
    val recalls = ivf.groupBy(_._1).map { case (q, rows) =>
      rows.count(r => bruteSets(q)(r._3)).toDouble / 5.0
    }
    val mean = recalls.sum / recalls.size
    assert(mean >= 0.3, s"IVF multi-query mean recall@5 $mean collapsed")
    ivf.foreach { case (q, _, id, c) =>
      bruteCosByQ.get((q, id)).foreach(bc =>
        assert(math.abs(bc - c) < 1e-12, s"cos drift for ($q,$id)"))
    }
  }

  test("sign-LSH planes refine buckets: 6-plane candidate pairs are a subset of 3-plane") {
    import org.apache.spark.sql.functions._
    def pairs(planes: Int): Set[(Long, Long)] = {
      val b = Similarity.minhashStyleBuckets(spark, dir, planes)
      val a = b.select(col("vec_id").as("id_a"), col("bucket"))
      val c = b.select(col("vec_id").as("id_b"), col("bucket"))
      a.join(c, Seq("bucket")).filter(col("id_a") < col("id_b"))
        .select("id_a", "id_b").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    }
    val p3 = pairs(3)
    val p6 = pairs(6)
    // the 6-plane bucket extends the 3-plane prefix, so sharing 6 sign
    // bits implies sharing the first 3 — candidates can only shrink
    assert(p6.subsetOf(p3), "6-plane pairs must refine 3-plane pairs")
    assert(p6.size < p3.size,
      s"more planes should prune candidates (3-plane ${p3.size}, 6-plane ${p6.size})")
  }

  test("embedding dedup groups: keep-set invariants hold") {
    val rows = Similarity.embeddingDedupGroups(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3)))
    val n = graft.sources.Tables.embeddings(spark, dir).count()
    assert(rows.length == n, "every vector gets a group row")
    val byGroup = rows.groupBy(_._2)
    byGroup.foreach { case (gid, members) =>
      assert(members.map(_._1).min == gid, s"group id $gid is not the min member")
      assert(members.count(_._4) == 1 && members.find(_._4).get._1 == gid,
        s"group $gid canonical off")
      assert(members.forall(_._3 == members.length), s"group $gid size column off")
    }
  }

  test("autoPlanes follows the exact integer thresholds b = ceil(log2(n/64)), floor 3") {
    assert(Similarity.autoPlanes(1) == 3)
    assert(Similarity.autoPlanes(512) == 3)   // 64·2^3 = 512 inclusive
    assert(Similarity.autoPlanes(513) == 4)
    assert(Similarity.autoPlanes(2000) == 5)  // the sf0.1 corpus
    assert(Similarity.autoPlanes(1024) == 4)
    assert(Similarity.autoPlanes(1L << 26) == 20) // capped
    // monotone
    val vals = Seq(1L, 100L, 512L, 513L, 5000L, 100000L).map(Similarity.autoPlanes(_))
    assert(vals == vals.sorted)
  }

  private val embSchema = StructType(Seq(
    StructField("vec_id", LongType), StructField("embedding", ArrayType(FloatType)),
    StructField("label", IntegerType)))

  private def embDf(rows: Seq[(Long, Seq[Float], Int)]) =
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows.map { case (id, e, l) => Row(id, e, l) }),
      embSchema)

  test("tripletMiningOf: picks the closest impostor and farthest same-label") {
    // anchor 0 (label 1) at (1,0); same-label 1 at (1, 0.1), 2 at (0.5, 0.8);
    // other-label 3 at (0.9, 0.1), 4 at (0, 1)
    val e = embDf(Seq(
      (0L, Seq(1f, 0f), 1), (1L, Seq(1f, 0.1f), 1), (2L, Seq(0.5f, 0.8f), 1),
      (3L, Seq(0.9f, 0.1f), 2), (4L, Seq(0f, 1f), 2)))
    val r = Similarity.tripletMiningOf(e, probeBound = 1L).collect()
    assert(r.length === 1)
    assert(r(0).getAs[Long]("hard_pos_id") === 2L)  // farthest same-label
    assert(r(0).getAs[Long]("hard_neg_id") === 3L)  // closest impostor
    // neg (3) is closer to the anchor than pos (2): a violated triplet
    assert(r(0).getAs[Boolean]("violation"))
  }

  test("tripletMiningOf: margin-satisfied anchors report violation=false") {
    val e = embDf(Seq(
      (0L, Seq(1f, 0f), 1), (1L, Seq(0.9f, 0.1f), 1), // tight positive
      (2L, Seq(0f, 1f), 2)))                          // orthogonal negative
    val r = Similarity.tripletMiningOf(e, probeBound = 1L).collect()
    assert(r(0).getAs[Long]("hard_pos_id") === 1L)
    assert(r(0).getAs[Long]("hard_neg_id") === 2L)
    assert(!r(0).getAs[Boolean]("violation"))
  }

  test("mmrRerankOf: diversity term demotes a near-duplicate of the first pick") {
    // query 0 at (1,0). Candidates: 1 at (0.8,0.6) rel=0.8; 2 a near-copy
    // of 1 (rel~0.79, sim to 1 ~ 1); 3 at (0.6,-0.8), rel=0.6 but
    // ORTHOGONAL to pick 1 (sim=0). Pure relevance ranks 1,2,3; MMR step 2
    // scores 2 at 0.7*0.79-0.3*1 ~ 0.25 vs 3 at 0.7*0.6-0 = 0.42 -> 1,3,2.
    val e = embDf(Seq(
      (0L, Seq(1f, 0f), 1),
      (1L, Seq(0.8f, 0.6f), 1), (2L, Seq(0.79f, 0.61f), 1),
      (3L, Seq(0.6f, -0.8f), 1)))
    val r = Similarity.mmrRerankOf(spark, e, poolK = 3, k = 3).collect()
    assert(r.map(_.getAs[Long]("vec_id")).toSeq === Seq(1L, 3L, 2L))
  }

  test("kmeansInertia on testdata: cohesion is non-decreasing over Lloyd iterations") {
    val rows = Similarity.kmeansInertia(spark, "/root/testdata/sf0.001")
      .collect().sortBy(_.getAs[Long]("iters"))
    assert(rows.length === 3)
    val sums = rows.map(_.getAs[Long]("sum_cos_ppm"))
    assert(sums(1) >= sums(0) && sums(2) >= sums(1),
      s"cohesion regressed: ${sums.toSeq}")
    assert(rows.forall(_.getAs[Long]("n_vecs") === rows(0).getAs[Long]("n_vecs")))
  }

  test("recallCurve on testdata: hits nest and never exceed the budget") {
    val rows = Similarity.recallCurve(spark, "/root/testdata/sf0.001")
      .collect().sortBy(_.getAs[Long]("k"))
    assert(rows.map(_.getAs[Long]("k")).toSeq === Seq(1L, 5L, 10L, 20L))
    val hits = rows.map(_.getAs[Long]("n_hits"))
    assert(hits.zip(hits.tail).forall { case (a, b) => a <= b },
      s"hit sets must nest: ${hits.toSeq}")
    rows.foreach { r =>
      assert(r.getAs[Long]("n_hits") <= r.getAs[Long]("n_queries") * r.getAs[Long]("k"))
      assert(r.getAs[Long]("recall_ppm") <= 1000000L)
    }
  }

  test("oodRate on testdata: label partition covers the corpus, rates in range") {
    val dirSf = "/root/testdata/sf0.001"
    val rows = Similarity.oodRate(spark, dirSf).collect()
    val total = graft.sources.Tables.embeddings(spark, dirSf).count()
    assert(rows.map(_.getAs[Long]("n_vecs")).sum === total)
    rows.foreach { r =>
      val (n, ood, ppm) = (r.getAs[Long]("n_vecs"), r.getAs[Long]("n_ood"),
        r.getAs[Long]("ood_ppm"))
      assert(ood >= 0L && ood <= n)
      assert(ppm === ood * 1000000L / n)
    }
  }

  test("clusterTopics on testdata: ranked 1..3 per cell, score matches ratio") {
    val rows = Similarity.clusterTopics(spark, "/root/testdata/sf0.001").collect()
    assert(rows.nonEmpty)
    rows.groupBy(_.getAs[Long]("cell")).foreach { case (_, rs) =>
      assert(rs.map(_.getAs[Long]("rank")).sorted.toSeq ===
        (1L to rs.length).toSeq)
    }
    rows.foreach { r =>
      assert(r.getAs[Long]("score_ppm") ===
        r.getAs[Long]("tf") * 1000000L / r.getAs[Long]("n_cells_with"))
    }
  }

  test("annFiltered: every neighbor carries the query's label (pre-filter)") {
    val dirSf = "/root/testdata/sf0.001"
    val labels = graft.sources.Tables.embeddings(spark, dirSf)
      .select("vec_id", "label").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val rows = Similarity.annFiltered(spark, dirSf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (q, v) = (r.getAs[Long]("q_id"), r.getAs[Long]("vec_id"))
      assert(labels(v) === labels(q), s"neighbor $v label differs from query $q")
      assert(v !== q)
    }
    // ranks are 1..k per query (rnk is the Int posexplode ordinal)
    rows.groupBy(_.getAs[Long]("q_id")).values.foreach { rs =>
      assert(rs.map(_.getAs[Int]("rnk")).sorted.toSeq === (1 to rs.length).toSeq)
    }
  }

  test("mmrRerankOf: rank 1 is the pure-relevance argmax with score 0.7*rel") {
    val e = embDf(Seq(
      (0L, Seq(1f, 0f), 1), (1L, Seq(1f, 0.2f), 1), (2L, Seq(0f, 1f), 1)))
    val r = Similarity.mmrRerankOf(spark, e, poolK = 2, k = 2).collect()
    assert(r(0).getAs[Long]("vec_id") === 1L)
    assert(math.abs(r(0).getAs[Double]("mmr_score")
      - 0.7 * r(0).getAs[Double]("rel")) < 1e-12)
  }

  test("matryoshkaRecall: wider prefixes never hurt recall; bounds hold") {
    val rows = Similarity.matryoshkaRecall(spark, "/root/testdata/sf0.001").collect()
    assert(rows.map(_.getAs[Long]("dims")).toSeq === Seq(8L, 16L, 32L))
    rows.foreach { r =>
      assert(r.getAs[Long]("n_hits") <= r.getAs[Long]("n_queries") * 10)
      assert(r.getAs[Long]("recall_ppm") <= 1000000L)
    }
    // monotonicity is a property of THIS corpus, not a theorem (prefix
    // rankings can reshuffle) — assert the weaker sane-curve bound: the
    // widest prefix is at least as good as the narrowest
    val byDims = rows.map(r => r.getAs[Long]("dims") -> r.getAs[Long]("n_hits")).toMap
    assert(byDims(32L) >= byDims(8L))
  }

  test("recall tail: exact counts with a short served list and fewer probes than probeBound") {
    import spark.implicits._
    import org.apache.spark.sql.functions.when
    // probeBound 5 over a 3-row probe table: the denominator is the 3
    // probes that exist, not the bound
    val probes = Seq(0L, 1L, 2L).toDF("vec_id").filter($"vec_id" < 5L)
    val exact = Seq((0L, 10L), (0L, 15L), (1L, 12L), (1L, 16L), (2L, 17L), (2L, 18L))
      .toDF("q_id", "vec_id")
    // k = 2; probe 1's served list is short (one neighbor), probe 2 misses
    val served = Seq((0L, 10L), (0L, 11L), (1L, 12L), (2L, 13L), (2L, 14L))
      .toDF("q_id", "vec_id")
    val tail = Similarity.recallAt(served, exact, probes)
    val r = tail.collect()
    assert(r.length === 1)
    assert(r(0).getAs[Long]("n_queries") === 3L)
    assert(r(0).getAs[Long]("n_hits") === 2L)
    val mean = Similarity.meanRecall(tail, 2).collect()(0)
    assert(mean.getAs[Long]("n_hits_total") === 2L)
    assert(mean.getAs[Double]("mean_recall") === 2.0 / 6.0)
    val ppm = Similarity.ppmRecall(tail, 2).collect()(0)
    assert(ppm.getAs[Long]("recall_ppm") === 333333L) // 2·10⁶ div 6
    // a hit rule counts only the matched rows it accepts, per group
    val ruled = Similarity.recallAt(served.withColumn("g", $"q_id" % 2), exact, probes,
        Seq("g"), when($"vec_id" =!= 10L, 1)).collect()
      .map(x => (x.getAs[Long]("g"), x.getAs[Long]("n_hits"))).toMap
    assert(ruled === Map(0L -> 0L, 1L -> 1L)) // q0's hit 10 rejected; q1's 12 kept
    // nothing served: still one row, zero hits
    val none = Similarity.recallAt(served.filter($"q_id" < 0L), exact, probes).collect()
    assert(none.map(x => (x.getAs[Long]("n_queries"), x.getAs[Long]("n_hits"))).toSeq ===
      Seq((3L, 0L)))
  }

  private def annBrute() = Similarity.annBruteForceTopK(spark, dir)
}
