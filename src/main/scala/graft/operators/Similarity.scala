package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.sources.Tables

/** Similarity search over the `embeddings` table: exact, IVF, SQ8, PQ,
  * IVF-PQ, prefix (matryoshka), filtered, NN-descent and graph-search
  * ANN, plus near-dup pairs and groups.
  *
  * One filter→refine scaffold (the REPOSE / adaptive-similarity-search
  * split): each ANN family contributes only its CANDIDATE generator —
  * the cell join, SQ8 codes, PQ codes + ADC, prefix slices, the label
  * filter, graph hops — and everything after it is shared:
  *  - [[graft.functions.VectorOps.quantCos]], the one cosine;
  *  - [[probeTopK]]: probe table broadcast, candidates scored, bounded
  *    per-probe top-k (`(q_id, rnk, vec_id, cos)`); [[probe0TopK]] is
  *    its single-probe (vec_id = 0) form and [[scoreKeyed]] the
  *    key-joined pair scoring of the graph loops;
  *  - [[pqAdcServe]], the one ADC sum/rank tail;
  *  - [[recallAt]], the one recall tail every `*Recall` query projects
  *    its published columns from.
  *
  * Determinism: components are quantized to integer milli-units per
  * element (`round(x*1000)` as long), so dot products and norms are
  * exact integer sums — order-independent and bit-identical across
  * engines; only the final cosine division is floating point, and both
  * engines evaluate the identical expression on identical integers.
  *
  * Scale path: brute-force top-k is a broadcast of the query vector +
  * one pass over the embedding table (no shuffle until the final top-k,
  * which is TakeOrderedAndProject). The LSH-bucketed variant
  * (bucket-join instead of cross product) lives in
  * [[minhashStyleBuckets]] + the Spark-only pipeline; at 1000 executors
  * the per-partition scan dominates, as it should.
  */
object Similarity {

  import graft.functions.VectorOps.{quantCos, quantDot, quantNormSq}
  import org.apache.spark.sql.Column

  /** Global top-k with a rank column, WITHOUT the single-partition
    * window: `orderBy + limit` plans as TakeOrderedAndProject — each
    * partition keeps its own k rows, one task merges k·partitions — and
    * the rank window then runs over k rows, not over every candidate.
    * The old `row_number().over(Window.orderBy(...))` formulation pulled
    * the ENTIRE scored pair set into one partition: measured at sf1
    * (20 k vectors, 3-plane buckets → ~25 M pairs) it pinned a single
    * core for minutes while 31 idled — the exact shape that cannot
    * survive 100×. */
  private def rankedTopK(df: DataFrame, k: Int, order: Column*): DataFrame =
    df.orderBy(order: _*).limit(k)
      .withColumn("rnk", row_number().over(Window.orderBy(order: _*)))

  /** Single-probe refine: candidate rows scored against the vec_id = 0
    * query (a 1-row broadcast) by the one cosine — `na` is the
    * candidate's norm — then the global [[rankedTopK]] with the family's
    * (cos desc, vec_id asc) tie-break. */
  private def probe0TopK(e: DataFrame, candidates: DataFrame, na: Column,
                         k: Int): DataFrame = {
    val q = e.filter(col("vec_id") === 0).select(col("embedding").as("qe"))
    rankedTopK(candidates.filter(col("vec_id") =!= 0).crossJoin(broadcast(q))
        .withColumn("cos", quantCos(col("embedding"), col("qe"), na, quantNormSq(col("qe")))),
      k, col("cos").desc, col("vec_id").asc)
  }

  /** The refine half of every multi-probe ANN query: the probe table
    * (`q_id`, its vector and norm, and whatever `on` reads) broadcast
    * against the candidate side on `on` — the family's candidate filter
    * — each pair scored by the one cosine, then the bounded per-probe
    * [[graft.functions.TopKByScore.serveTopK]] (map-side partial keeps
    * ≤ k rows per (probe, mapper), so the one shuffle stays bounded).
    * `vec`/`norm` pair a candidate column with its probe column. Returns
    * `(q_id, rnk, vec_id, cos)`, ties to the lower vec_id. */
  private def probeTopK(corpus: DataFrame, probes: DataFrame, on: Column,
                        vec: (String, String), norm: (String, String),
                        k: Int): DataFrame = {
    val scored = corpus.join(broadcast(probes), on)
      .withColumn("cos", quantCos(col(vec._1), col(vec._2), col(norm._1), col(norm._2)))
    graft.functions.TopKByScore.serveTopK(scored, "q_id", col("cos"), col("vec_id"), k)
      .select(col("q_id"), col("rnk"), col("key").as("vec_id"), col("score").as("cos"))
  }

  /** Key-joined pair scoring, the refine step of the graph loops: each
    * candidate pair fetches both endpoints by key — `first` joined
    * before `second`, each a `(key, vector, norm)` frame — and is scored
    * by the one cosine (first's vector · second's). */
  private def scoreKeyed(pairs: DataFrame, first: DataFrame,
                         second: DataFrame): DataFrame = {
    val Array(k1, v1, n1) = first.columns
    val Array(k2, v2, n2) = second.columns
    pairs.join(first, k1).join(second, k2)
      .withColumn("cos", quantCos(col(v1), col(v2), col(n1), col(n2)))
  }

  /** The one recall tail: `served` ⋈ `exact` on (q_id, vec_id), the
    * matched rows that satisfy `hit` (default: all) counted as `n_hits`
    * per `groups` (none: one row, 0 when nothing matches), beside
    * `n_queries` = the row count of `probes`. The denominator comes from
    * the ACTUAL probe table (a corpus smaller than probeBound would
    * otherwise misreport) — a 1-row broadcast attachment, not a scan of
    * the data side. */
  private[operators] def recallAt(served: DataFrame, exact: DataFrame, probes: DataFrame,
                                  groups: Seq[String] = Nil, hit: Column = lit(1)): DataFrame =
    served.join(exact, Seq("q_id", "vec_id"))
      .groupBy(groups.map(col): _*)
      .agg(count(hit).as("n_hits"))
      .crossJoin(broadcast(probes.agg(count(lit(1)).as("n_queries"))))

  /** [[recallAt]] published as (n_queries, n_hits_total, mean_recall):
    * mean_recall is one exact-integer division (hits / (queries·k)), so
    * both engines compute the identical double. */
  private[operators] def meanRecall(r: DataFrame, k: Int): DataFrame =
    r.select(col("n_queries"), col("n_hits").as("n_hits_total"),
      (col("n_hits").cast("double") / (col("n_queries") * k)).as("mean_recall"))

  /** [[recallAt]] published as (`lead`…, n_queries, n_hits, recall_ppm),
    * recall in integer ppm (n_hits·10⁶ div (n_queries·k)). */
  private[operators] def ppmRecall(r: DataFrame, k: Int, lead: Column*): DataFrame =
    r.select(lead ++ Seq(col("n_queries"), col("n_hits"),
      expr(s"n_hits * 1000000 div (n_queries * $k)").as("recall_ppm")): _*)

  /** The probe table of the multi-query family: vec_id < probeBound. */
  private def probeRows(spark: SparkSession, dir: String, probeBound: Long): DataFrame =
    Tables.embeddings(spark, dir).filter(col("vec_id") < probeBound)

  /** Brute-force cosine top-10 neighbors of the vec_id=0 query vector. */
  def annBruteForceTopK(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(spark, dir)
    probe0TopK(e, e, quantNormSq(col("embedding")), 10)
      .select("rnk", "vec_id", "cos")
      .orderBy("rnk")
  }

  /** RANGE (radius) SEARCH — all corpus vectors with cosine ≥ τ to the
    * query, the retrieval mode dedup/blocklist pipelines need where
    * top-k is wrong (the answer set size is data-dependent). The
    * membership predicate is EXACT INTEGER arithmetic on the quantized
    * vectors: cos ≥ τ ⟺ dot > 0 ∧ dot²·100 ≥ (τ·10)²·‖a‖²·‖b‖² — no
    * floating-point comparison ever decides the boundary, so both
    * engines admit the identical set. The reported cosine is the same
    * pinned one-divide expression the ANN family emits.
    *
    * Scale: a pure projection + filter over the corpus — no exchange at
    * all (the query is a 1-row broadcast); output-sized result. The IVF
    * cell structure can prune it probabilistically, but unlike top-k the
    * exact answer needs the full scan — this IS the scale-honest shape. */
  def rangeSearch(spark: SparkSession, dir: String, tauTenths: Int = 2): DataFrame = {
    val e = Tables.embeddings(spark, dir)
    val q = e.filter(col("vec_id") === 0).select(col("embedding").as("qe"))
    e.filter(col("vec_id") =!= 0)
      .crossJoin(broadcast(q))
      .withColumn("dot", quantDot(col("embedding"), col("qe")))
      .withColumn("na", quantNormSq(col("embedding")))
      .withColumn("nb", quantNormSq(col("qe")))
      .filter(col("dot") > 0 &&
        col("dot") * col("dot") * lit(100L) >=
          lit(tauTenths.toLong * tauTenths) * col("na") * col("nb"))
      .select(col("vec_id"),
        quantCos(col("embedding"), col("qe"), col("na"), col("nb")).as("cos"))
      .orderBy("vec_id")
  }

  /** Top-20 scored pairs by (cos desc, id_a asc, id_b asc), projected to
    * `cols` — the emit of the near-dup pair queries. */
  private def topPairs(scored: DataFrame, cols: String*): DataFrame =
    rankedTopK(scored, 20, col("cos").desc, col("id_a").asc, col("id_b").asc)
      .select(cols.map(col): _*)
      .orderBy("rnk")

  /** Embedding near-dup pairs: top-20 cosine pairs within a bounded id
    * range (the oracle-checkable core of embedding-cosine dedup). */
  def nearDupPairs(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(spark, dir).filter(col("vec_id") < 60)
    val a = e.select(col("vec_id").as("id_a"), col("embedding").as("ea"))
    val b = e.select(col("vec_id").as("id_b"), col("embedding").as("qe"))
    topPairs(a.join(b, col("id_a") < col("id_b"))
        .withColumn("cos", quantCos(col("ea"), col("qe"),
          quantNormSq(col("ea")), quantNormSq(col("qe")))),
      "rnk", "id_a", "id_b", "cos")
  }

  /** Every within-bucket pair (id_a < id_b) of a bucketed embeddings
    * frame, scored by the one cosine — the candidate join of the
    * sign-LSH near-dup family. */
  private def bucketPairs(b: DataFrame): DataFrame = {
    val a = b.select(col("vec_id").as("id_a"), col("embedding").as("ea"), col("bucket"))
    val c = b.select(col("vec_id").as("id_b"), col("embedding").as("eb"), col("bucket"))
    a.join(c, Seq("bucket"))
      .filter(col("id_a") < col("id_b"))
      .withColumn("cos", quantCos(col("ea"), col("eb"),
        quantNormSq(col("ea")), quantNormSq(col("eb"))))
  }

  /** Scale path for ANN: sign-LSH bucketing on the first `planes`
    * component signs (axis-aligned hyperplanes — deterministic, so the
    * DuckDB oracle can replicate it bit-for-bit); candidate search only
    * joins within a bucket.
    *
    * Sizing for scale: `planes` is THE knob that keeps the within-bucket
    * self-join linear. With n vectors and 2^b buckets the expected
    * candidate-pair count is ~n²/2^(b+1), so choose
    * b ≈ log2(n / m) for a target bucket size m (constant per executor):
    * then pairs ≈ n·m/2 — linear in n. A fixed b (the old 3-plane/8-
    * bucket shape) degrades to ~n²/8 pairs at 100× data, which is why
    * the plane count must grow with the corpus. */
  def minhashStyleBuckets(spark: SparkSession, dir: String, planes: Int = 3): DataFrame = {
    require(planes >= 1 && planes <= 62, s"planes out of range: $planes")
    val bucketExpr = (1 to planes)
      .map(i => s"cast(element_at(embedding, $i) >= 0 as bigint) * ${1L << (planes - i)}L")
      .mkString(" + ")
    Tables.embeddings(spark, dir).withColumn("bucket", expr(bucketExpr))
  }

  /** Auto-sized plane count: the smallest b ≥ 3 with n ≤ m·2^b (i.e.
    * b = ceil(log2(n/m)) for target bucket size m) — computed with EXACT
    * integer thresholds rather than floating log2, so the Spark side and
    * the generated DuckDB oracle cannot disagree at power-of-two
    * boundaries. */
  private[operators] def autoPlanes(n: Long, targetBucket: Long = 64L): Int = {
    var b = 3
    while (b < 20 && (targetBucket << b) < n) b += 1
    b
  }

  /** Embeddings with an auto-sized sign-bit bucket column: b planes from
    * the parquet footer row count ([[autoPlanes]]), bucket = the sign-bit
    * string of the first b components. Shared by [[lshNearDupAuto]] and
    * [[embeddingDedupGroups]]. */
  private def autoBucketed(spark: SparkSession, dir: String,
                           targetBucket: Long = 64L): DataFrame = {
    val e = Tables.embeddings(spark, dir)
    val n = Tables.footerRowCount(spark, dir, "embeddings").getOrElse(e.count())
    val planes = autoPlanes(n, targetBucket)
    val bucketExpr = (1 to planes)
      .map(i => s"CASE WHEN element_at(embedding, $i) >= 0 THEN '1' ELSE '0' END")
      .mkString("concat(", ", ", ")")
    e.withColumn("bucket", expr(bucketExpr))
  }

  /** [[lshNearDup]] with the plane count derived from the corpus size —
    * the production default: fixed planes are asymptotically quadratic
    * (SCALE.md measures 3 planes at 88× and even 6 planes at 45× for a
    * 10× corpus), so the knob must follow log2(n). The count comes from
    * parquet FOOTER metadata (what a catalog serves as table stats at
    * 100 TB — zero scan, zero jobs), falling back to count() off plain
    * parquet; the bucket key is the sign-bit string of the first b
    * components so the DuckDB oracle can size itself from its own
    * count. */
  def lshNearDupAuto(spark: SparkSession, dir: String, targetBucket: Long = 64L): DataFrame =
    topPairs(bucketPairs(autoBucketed(spark, dir, targetBucket)),
      "rnk", "bucket", "id_a", "id_b", "cos")

  /** Offline IVF centroid trainer: deterministic spherical k-means over
    * a bounded sample, run ENTIRELY in quantized milli-integer space so
    * the DuckDB oracle can replay the fit bit-for-bit.
    *
    *  - sample: vec_id < sampleBound (deterministic; the "1% sample" of
    *    a real deployment — at 100 TB this is a `TABLESAMPLE` scan
    *    feeding the same driver-side loop over ≤O(1k) rows)
    *  - init: the sample vectors with vec_id 1..k (the previous FIXED
    *    centroids — so the fit strictly refines the old behavior)
    *  - assignment: argmax quantized cosine, ties to the smallest cell
    *  - update: element-wise mean of member milli-vectors, re-quantized
    *    half-away-from-zero ([[graft.functions.VectorOpsUtil.quantize]],
    *    the same rule the dot-product expression applies); empty
    *    clusters keep their previous centroid
    *
    * All dots/norms are exact integer sums; the only floating-point ops
    * (cos division, mean division) are single IEEE expressions both
    * engines evaluate identically. The collect is the offline-trainer
    * step — bounded by sampleBound, never the data path. */
  def fitIvfCentroids(spark: SparkSession, dir: String, k: Int = 8,
                      sampleBound: Long = 256, iters: Int = 2): Array[(Long, Array[Long])] = {
    import graft.functions.VectorOpsUtil.quantize
    val sample: Array[(Long, Array[Long])] = Tables.embeddings(spark, dir)
      .filter(col("vec_id") < sampleBound)
      .select("vec_id", "embedding").collect()
      .map(r => (r.getLong(0),
        r.getSeq[Float](1).toArray.map(f => quantize(f.toDouble * 1000.0))))
      .sortBy(_._1)
    def dot(a: Array[Long], b: Array[Long]): Long = {
      var s = 0L; var i = 0; val n = math.min(a.length, b.length)
      while (i < n) { s += a(i) * b(i); i += 1 }; s
    }
    def cos(a: Array[Long], b: Array[Long]): Double =
      dot(a, b).toDouble / (math.sqrt(dot(a, a).toDouble) * math.sqrt(dot(b, b).toDouble))
    var cents: Array[Array[Long]] = (1 to k).map { i =>
      sample.find(_._1 == i).getOrElse(
        throw new IllegalStateException(s"init centroid vec_id=$i not in sample"))._2
    }.toArray
    var it = 0
    while (it < iters) {
      val assigned = sample.map { case (_, v) =>
        var best = 0; var bestCos = Double.NegativeInfinity; var j = 0
        while (j < cents.length) {
          val c = cos(v, cents(j))
          if (c > bestCos) { bestCos = c; best = j }
          j += 1
        }
        (best, v)
      }
      cents = Array.tabulate(cents.length) { j =>
        val members = assigned.collect { case (`j`, v) => v }
        if (members.isEmpty) cents(j)
        else Array.tabulate(members.head.length) { d =>
          var s = 0L; members.foreach(m => s += m(d))
          quantize(s.toDouble / members.length)
        }
      }
      it += 1
    }
    cents.zipWithIndex.map { case (c, i) => ((i + 1).toLong, c) }
  }

  /** Fitted centroids inlined as integer literals (nb = exact squared
    * norm) — the broadcast-as-metadata step of a real IVF build. */
  private def fittedCentsLit(cents: Array[(Long, Array[Long])]): String =
    cents.map { case (id, cv) =>
      val nb = cv.map(x => x * x).sum
      s"named_struct('cell', ${id}L, 'nb', ${nb}L, 'ce', array(${cv.map(_ + "L").mkString(",")}))"
    }.mkString("array(", ", ", ")")

  /** The default IVF fit ([[fitIvfCentroids]]) as the centroid literal. */
  private def ivfCentsLit(spark: SparkSession, dir: String): String =
    fittedCentsLit(fitIvfCentroids(spark, dir))

  /** Per-row argmax cell assignment against literal fitted centroids —
    * a pure projection (no crossJoin, no Window shuffle) shared by every
    * IVF variant. Keeps the quantized norm so candidate scoring needs no
    * re-join with the source. */
  private def assignCells(e: DataFrame, centsLit: String): DataFrame =
    withAssignedCell(e, centsLit)
      .select(col("vec_id"), col("cell"), col("embedding"), col("na"))

  /** The argmax-cell projection itself, column-PRESERVING: adds `na`
    * (quantized norm²) and `cell` to any frame with an `embedding`
    * column. Public so the STREAMING serve mirror can assign arriving
    * query vectors while keeping their event-time column for the
    * watermark ([[graft.streaming.Streams.annServeStream]]). */
  def withAssignedCell(e: DataFrame, centsLit: String): DataFrame =
    e.withColumn("na", quantNormSq(col("embedding")))
      .withColumn("cell", expr(
        s"""aggregate(
              transform($centsLit, c -> named_struct(
                'cos', cast(quantized_dot(embedding, c.ce) as double)
                       / (sqrt(cast(na as double)) * sqrt(cast(c.nb as double))),
                'cell', c.cell)),
              named_struct('cos', cast('-Infinity' as double), 'cell', -1L),
              (best, s) -> if(s.cos > best.cos, s, best)).cell"""))

  /** IVF-style ANN: k-means-FITTED coarse centroids ([[fitIvfCentroids]]),
    * every vector assigned to its nearest centroid, then the query probes
    * ONLY its own cell and ranks candidates by cosine.
    *
    * Scale path: centroids are fitted offline on a bounded sample and
    * shipped to workers as literal metadata. Assignment is a pure
    * per-row argmax projection — no crossJoin, no Window shuffle — and
    * because the projection keeps the quantized vector, candidate
    * scoring needs no re-join with the source. Zero Exchange before the
    * final top-k. Tie-break: centroids fold in ascending cent_id order
    * with a strict `>` (= cos desc, cent_id asc). */
  def ivfTopK(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(spark, dir)
    val assigned = assignCells(e, ivfCentsLit(spark, dir))
    val queryCell = assigned.filter(col("vec_id") === 0).select(col("cell").as("qcell"))
    probe0TopK(e, assigned.join(broadcast(queryCell), col("cell") === col("qcell")),
        col("na"), 10)
      .select("rnk", "vec_id", "cell", "cos")
      .orderBy("rnk")
  }

  /** IVF multi-probe (nprobe=2): identical to [[ivfTopK]] except the
    * QUERY probes its two nearest cells — the standard recall knob (data
    * vectors stay assigned to one cell; only the candidate filter
    * widens). Still zero exchanges before the final top-k: assignment is
    * the same literal-centroid fold, and the probe set is a 2-row
    * broadcast. Uses the same FITTED centroids as [[ivfTopK]]. */
  def ivfProbe2TopK(spark: SparkSession, dir: String): DataFrame = {
    val centsLit = ivfCentsLit(spark, dir)
    val e = Tables.embeddings(spark, dir)
    // per-row scored cells, sorted by (cos desc, cell asc)
    val cellScores =
      s"""array_sort(
            transform($centsLit, c -> named_struct(
              'cos', cast(quantized_dot(embedding, c.ce) as double)
                     / (sqrt(cast(na as double)) * sqrt(cast(c.nb as double))),
              'cell', c.cell)),
            (a, b) -> CASE WHEN a.cos > b.cos THEN -1 WHEN a.cos < b.cos THEN 1
                           WHEN a.cell < b.cell THEN -1 WHEN a.cell > b.cell THEN 1
                           ELSE 0 END)"""
    val assigned = e
      .withColumn("na", quantNormSq(col("embedding")))
      .withColumn("scored", expr(cellScores))
      .withColumn("cell", expr("scored[0].cell"))
      .select(col("vec_id"), col("cell"), col("scored"), col("embedding"), col("na"))
    val queryCells = assigned.filter(col("vec_id") === 0)
      .select(explode(expr("array(scored[0].cell, scored[1].cell)")).as("qcell"))
    probe0TopK(e, assigned.join(broadcast(queryCells), col("cell") === col("qcell")),
        col("na"), 10)
      .select("rnk", "vec_id", "cell", "cos")
      .orderBy("rnk")
  }

  /** Batch MULTI-query IVF ANN: a query TABLE (vec_id < probeBound — the
    * thousands-of-probes shape of a training-data pipeline) instead of a
    * single hardcoded probe. Every vector is assigned to its fitted cell
    * by the same per-row argmax projection; queries are the (small)
    * broadcast side of ONE cell equi-join — no per-query scans, no
    * cartesian — and the per-query top-k is [[probeTopK]]'s bounded
    * typed aggregation. At 100 TB: the data side stays put, the probe
    * table broadcasts, one shuffle of bounded size. Tie-break
    * (cos desc, vec_id asc) matches every other ANN query. */
  def ivfMultiQueryTopK(spark: SparkSession, dir: String,
                        probeBound: Long = 20L, k: Int = 5): DataFrame =
    ivfProbeJoinTopK(assignCells(Tables.embeddings(spark, dir), ivfCentsLit(spark, dir)),
      probeBound, k)

  /** The IVF candidate generator — the probe's own cell, as ONE cell
    * equi-join — shared by the fit-at-query-time
    * ([[ivfMultiQueryTopK]]), persisted-index ([[ivfMultiQueryPersisted]])
    * and incremental variants. `assigned` is any
    * (vec_id, cell, embedding, na) frame. */
  private[graft] def ivfProbeJoinTopK(assigned: DataFrame,
                                      probeBound: Long, k: Int): DataFrame =
    probeTopK(assigned,
      assigned.filter(col("vec_id") < probeBound)
        .select(col("vec_id").as("q_id"), col("cell").as("qcell"),
          col("embedding").as("qe"), col("na").as("qna")),
      col("cell") === col("qcell") && col("vec_id") =!= col("q_id"),
      "embedding" -> "qe", "na" -> "qna", k)

  /** PERSISTED IVF index: the build-once/store/query-many lifecycle a
    * 100 TB ANN deployment actually runs, instead of refitting centroids
    * and reassigning cells on every query.
    *
    * Two artifacts, both resolved through
    * [[graft.sources.IndexStore.orBuild]] (catalog hit, else re-register
    * from storage, else build — so fit and assign run once per corpus,
    * across sessions):
    *  - `ivf_cents`: the fitted centroid table (cell, nb, ce) — the
    *    metadata a query router loads to assign NEW queries;
    *  - `ivf_assign`: every vector's (vec_id, cell, embedding, na),
    *    written CELL-BUCKETED so the scan's bucketing co-locates each
    *    cell's candidates — the physical layout that lets a probe read
    *    only its cell's buckets.
    * Returns the (assignments, centroids) frames. */
  def buildIvfIndex(spark: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val cents = buildIvfCentroidTable(spark, dir)
    val assign = graft.sources.IndexStore.orBuild(
      spark, dir, "ivf_assign", buckets = 8, keys = Seq("cell")) {
      assignWithStoredCentroids(cents, Tables.embeddings(spark, dir))
    }
    (assign, cents)
  }

  /** The fitted centroid table alone — the rarely-refit metadata half of
    * the index, factored out so incremental assignment can reuse it
    * without triggering a full corpus reassignment. At most k rows, so
    * one bucket. */
  def buildIvfCentroidTable(spark: SparkSession, dir: String): DataFrame =
    graft.sources.IndexStore.orBuild(spark, dir, "ivf_cents", buckets = 1, keys = Seq("cell")) {
      import spark.implicits._
      fitIvfCentroids(spark, dir).toSeq.map { case (id, cv) => (id, cv.map(x => x * x).sum, cv) }
        .toDF("cell", "nb", "ce")
    }

  /** Index MAINTENANCE for the vector side — the ingest-batch shape of
    * a deployed ANN index: centroids are fitted rarely (the stored
    * metadata); the BASE slice's cell assignments (`vec_id % 7 != 0`)
    * are persisted cell-bucketed "yesterday"; the DELTA batch (every
    * 7th vector) is assigned at query time against the STORED centroids
    * — a pure per-row argmax projection, no refit, no base
    * reassignment — and the probe joins the union. Assignment is
    * per-row deterministic given the same centroids, so the result is
    * row-identical to [[ivfMultiQueryTopK]] and shares its oracle
    * verbatim. At 100 TB this is an index APPEND per batch instead of
    * a full rebuild. */
  def ivfMultiQueryIncremental(spark: SparkSession, dir: String,
                               probeBound: Long = 20L, k: Int = 5): DataFrame = {
    val delta = assignWithStoredCentroids(buildIvfCentroidTable(spark, dir),
      Tables.embeddings(spark, dir).filter(col("vec_id") % 7 === 0))
    ivfProbeJoinTopK(ivfBaseAssignTable(spark, dir).unionByName(delta), probeBound, k)
  }

  /** The BASE slice's persisted cell assignments (`vec_id % 7 != 0`,
    * "yesterday's" index) — factored out so the STREAMING maintenance
    * fold ([[graft.streaming.Streams.ivfMaintainStream]]) serves off the
    * same artifact the batch incremental path does. */
  def ivfBaseAssignTable(spark: SparkSession, dir: String): DataFrame = {
    val cents = buildIvfCentroidTable(spark, dir)
    graft.sources.IndexStore.orBuild(
      spark, dir, "ivf_base_assign", buckets = 8, keys = Seq("cell")) {
      assignWithStoredCentroids(cents,
        Tables.embeddings(spark, dir).filter(col("vec_id") % 7 =!= 0))
    }
  }

  /** Cell assignment of ANY (vec_id, embedding) frame — batch or
    * STREAMING — against the PERSISTED centroid table: the ≤k centroid
    * rows are index metadata loaded once at plan time and inlined as
    * literals, so per-row assignment stays the same codegen'd argmax
    * fold with zero joins, zero shuffles, zero streaming state — exactly
    * what an online query router does with a stored index. */
  def assignWithStoredCentroids(cents: DataFrame, vecs: DataFrame): DataFrame =
    assignCells(vecs, storedCentsLit(cents))

  /** The stored centroid table compiled to the plan-time literal the
    * argmax fold consumes — the ≤k-row metadata load of a query router
    * (bounded collect, documented like the centroid fit's). */
  def storedCentsLit(cents: DataFrame): String =
    fittedCentsLit(cents.select("cell", "ce").collect()
      .map(r => (r.getLong(0), r.getSeq[Long](1).toArray)).sortBy(_._1))

  /** [[ivfMultiQueryTopK]] served from the PERSISTED index: the probe
    * join reads the stored cell-bucketed assignment table — no centroid
    * fit, no per-row argmax, no exchange on the data side (the bucketed
    * scan feeds the broadcast probe join directly; the only shuffle in
    * the plan is the bounded ≤k-rows-per-(query,mapper) top-k exchange).
    * Row-identical to [[ivfMultiQueryTopK]] by construction: the stored
    * assignment is the same deterministic fit+argmax, just computed at
    * BUILD time. */
  def ivfMultiQueryPersisted(spark: SparkSession, dir: String,
                             probeBound: Long = 20L, k: Int = 5): DataFrame = {
    ivfProbeJoinTopK(buildIvfIndex(spark, dir)._1, probeBound, k)
  }

  /** PERSISTED QUANTIZED index — the two storage levers composed, i.e.
    * the IVF+SQ8 layout a production vector store actually ships: cell
    * partitioning bounds what a probe READS, int8 codes bound what a
    * cell COSTS (4× less memory/IO than fp32). Built once per corpus
    * through [[graft.sources.IndexStore.orBuild]]: the [[buildIvfIndex]]
    * cell assignment joined to the [[sq8Coded]] code vectors, written
    * cell-bucketed so a probe's cell equi-join needs no Exchange on the
    * index side. */
  def buildIvfSq8Index(spark: SparkSession, dir: String): DataFrame = {
    val (assign, _) = buildIvfIndex(spark, dir)
    graft.sources.IndexStore.orBuild(spark, dir, "ivf_sq8", buckets = 8, keys = Seq("cell")) {
      assign.select("vec_id", "cell").join(sq8Coded(spark, dir), "vec_id")
    }
  }

  /** Batch multi-query ANN over the persisted IVF+SQ8 index: candidate
    * fetch is the stored-cell equi-join (queries broadcast, zero
    * fit/assign/quantize work at query time), scoring is the
    * compressed-domain int8 dot, and the one shuffle is the bounded
    * typed-top-k exchange — the full quantized-index serving path as a
    * gated query. */
  def ivfSq8MultiQuery(spark: SparkSession, dir: String,
                       probeBound: Long = 20L, k: Int = 5): DataFrame = {
    val idx = buildIvfSq8Index(spark, dir)
    probeTopK(idx,
      idx.filter(col("vec_id") < probeBound)
        .select(col("vec_id").as("q_id"), col("cell").as("qcell"),
          col("code").as("qc"), col("n8").as("qn")),
      col("cell") === col("qcell") && col("vec_id") =!= col("q_id"),
      "code" -> "qc", "n8" -> "qn", k)
  }

  /** Embedding near-dup GROUPS — the vector-modality mirror of
    * [[Dedup.dedupGroupsOf]]: auto-sized sign-LSH bucket join →
    * cosine ≥ threshold pairs → connected components → keep-set
    * (vec_id, group_id, group_size, is_canonical). Pairs only form
    * inside a bucket (shuffle-bounded); the transitive closure collapses
    * chains (a≈b, b≈c) into one group so downstream keeps exactly one
    * vector per near-dup clique. The threshold is the caller's
    * similarity contract; the synthetic corpus has no true duplicates,
    * so the default exercises the machinery over moderate-similarity
    * pairs. Group labels are persisted per (corpus, threshold) via
    * [[graft.sources.IndexStore]] — same build-once lifecycle as the
    * doc-level `dd_groups` index: the bucket self-join and components
    * fixpoint run once per corpus, every later serve is a bucketed
    * table read. */
  def embeddingDedupGroups(spark: SparkSession, dir: String,
                           threshold: Double = 0.4): DataFrame = {
    graft.sources.IndexStore.orBuild(
      spark, dir, s"sim_groups_t${math.round(threshold * 100)}", 32, Seq("vec_id"))(
      embeddingDedupGroupsInline(spark, dir, threshold))
      .select("vec_id", "group_id", "group_size", "is_canonical")
      .orderBy("vec_id")
  }

  /** [[embeddingDedupGroups]] without the index lifecycle (build body +
    * spec entry point). */
  private[graft] def embeddingDedupGroupsInline(spark: SparkSession, dir: String,
                                                threshold: Double): DataFrame = {
    val pairs = bucketPairs(autoBucketed(spark, dir))
      .filter(col("cos") >= threshold)
      .select(col("id_a").as("doc_a"), col("id_b").as("doc_b"))
    val nodes = Tables.embeddings(spark, dir).select(col("vec_id").as("node"))
    Dedup.connectedComponents(nodes, pairs)
      .withColumn("group_size", count(lit(1)).over(Window.partitionBy("group_id")))
      .withColumn("is_canonical", col("node") === col("group_id"))
      .select(col("node").as("vec_id"), col("group_id"), col("group_size"), col("is_canonical"))
      .orderBy("vec_id")
  }

  /** SemDeDup (Abbas et al. 2023, arXiv:2303.09540) — SEMANTIC
    * deduplication for training corpora: k-means-cluster the embedding
    * space, then remove near-duplicates WITHIN each cluster only. The
    * clustering is the same deterministic fitted IVF geometry the ANN
    * family uses ([[fitIvfCentroids]] — oracle-replayable), assignment is
    * the literal-centroid argmax projection (no shuffle), and the
    * within-cluster near-dup pass is a cell-keyed self-join + quantized
    * integer cosine + the shared connected-components keep-set
    * ([[Dedup.connectedComponents]], canonical = min id).
    *
    * Scale: the defining SemDeDup trade is that candidate pairs never
    * cross cluster boundaries — the quadratic term is (cell size)², so
    * at 100 TB you scale k with the corpus to hold cell size constant
    * (k ≈ n/target, exactly how the auto-sized LSH variant
    * [[lshNearDupAuto]] picks its plane count). This query pins k=8 so
    * the DuckDB oracle can replay the fit; it is therefore registered as
    * a pinned-geometry baseline (`graft.PinnedBaselines`) and the
    * auto-geometry path for big corpora is [[embeddingDedupGroups]]. */
  def semanticDedup(spark: SparkSession, dir: String,
                    threshold: Double = 0.4): DataFrame = {
    graft.sources.IndexStore.orBuild(
      spark, dir, s"sim_semdedup_t${math.round(threshold * 100)}", 32, Seq("vec_id"))(
      semanticDedupInline(spark, dir, threshold))
      .select("vec_id", "cell", "group_id", "group_size", "is_kept")
      .orderBy("vec_id")
  }

  /** [[semanticDedup]] without the index lifecycle (build body + spec
    * entry point). */
  private[graft] def semanticDedupInline(spark: SparkSession, dir: String,
                                         threshold: Double): DataFrame = {
    val assigned = assignCells(Tables.embeddings(spark, dir), ivfCentsLit(spark, dir))
    val a = assigned.select(col("cell"), col("vec_id").as("id_a"),
      col("embedding").as("ea"), col("na").as("n_a"))
    val b = assigned.select(col("cell"), col("vec_id").as("id_b"),
      col("embedding").as("eb"), col("na").as("n_b"))
    val pairs = a.join(b, Seq("cell"))
      .filter(col("id_a") < col("id_b"))
      .withColumn("cos", quantCos(col("ea"), col("eb"), col("n_a"), col("n_b")))
      .filter(col("cos") >= threshold)
      .select(col("id_a").as("doc_a"), col("id_b").as("doc_b"))
    val nodes = Tables.embeddings(spark, dir).select(col("vec_id").as("node"))
    Dedup.connectedComponents(nodes, pairs)
      .join(assigned.select(col("vec_id"), col("cell")),
        col("node") === col("vec_id"))
      .withColumn("group_size", count(lit(1)).over(Window.partitionBy("group_id")))
      .select(col("vec_id"), col("cell"), col("group_id"), col("group_size"),
        (col("vec_id") === col("group_id")).as("is_kept"))
      .orderBy("vec_id")
  }

  /** Batch multi-query EXACT top-k — the brute-force ground truth every
    * ANN family's recall is measured against, at the same probe-table
    * shape: [[probeTopK]] with no candidate filter beyond the probe's own
    * id — the query set broadcasts, the data side is scanned ONCE (one
    * broadcast nested-loop join, no per-query scans). At 100 TB this is
    * the exact-search baseline you run on a sample to measure ANN
    * recall. */
  def annMultiQueryTopK(spark: SparkSession, dir: String,
                        probeBound: Long = 20L, k: Int = 5): DataFrame = {
    val e = Tables.embeddings(spark, dir)
      .withColumn("na", quantNormSq(col("embedding")))
    probeTopK(e,
      e.filter(col("vec_id") < probeBound)
        .select(col("vec_id").as("q_id"), col("embedding").as("qe"), col("na").as("qna")),
      col("vec_id") =!= col("q_id"), "embedding" -> "qe", "na" -> "qna", k)
  }

  /** The ANN RECALL CONTRACT as a gated query: mean recall@k of the IVF
    * multi-query search against the brute-force exact answer over the
    * same probe table — the number an ANN deployment actually monitors. */
  def ivfMultiQueryRecall(spark: SparkSession, dir: String,
                          probeBound: Long = 20L, k: Int = 5): DataFrame =
    meanRecall(recallAt(
      ivfMultiQueryTopK(spark, dir, probeBound, k).select("q_id", "vec_id"),
      annMultiQueryTopK(spark, dir, probeBound, k).select("q_id", "vec_id"),
      probeRows(spark, dir, probeBound)), k)

  // ---------------------------------------------------------------- SQ8

  /** SQ8 scalar quantization: every embedding compressed to an int8 code
    * vector (1 byte/element — 4× smaller than fp32, the memory lever
    * that decides whether a 100 TB vector corpus fits its cluster) plus
    * one per-vector max-abs scale. All arithmetic is INTEGER and
    * engine-exact: milli-quantized components (the engine-wide
    * `round(x·1000)` contract), per-vector `ma = max(|mᵢ|)` (floored at
    * 1), and `codeᵢ = sign(mᵢ) · ((2·|mᵢ|·127 + ma) div (2·ma))` — an
    * explicit round-half-up in integer space, operands kept nonnegative
    * so Spark's truncating `div` and DuckDB's flooring `//` agree.
    * Cosine needs no dequantization: the uniform per-vector scale
    * cancels, so compressed-domain scoring is a plain int8 dot product
    * (`quantDotB`, a codegen'd primitive loop over tinyint arrays). */
  private[operators] def sq8Coded(spark: SparkSession, dir: String): DataFrame =
    Tables.embeddings(spark, dir)
      .withColumn("mv", expr(
        "transform(embedding, x -> cast(round(cast(x as double) * 1000) as bigint))"))
      .withColumn("ma", expr(
        "greatest(aggregate(mv, 0L, (a, x) -> greatest(a, abs(x))), 1L)"))
      .withColumn("code", expr(
        "transform(mv, x -> cast(case when x >= 0 then (2*x*127 + ma) div (2*ma) " +
          "else -((2*(-x)*127 + ma) div (2*ma)) end as tinyint))"))
      .withColumn("n8", expr(
        "aggregate(code, 0L, (a, x) -> a + cast(x as bigint) * cast(x as bigint))"))
      .select("vec_id", "code", "n8")

  /** Batch multi-query top-k over the SQ8-COMPRESSED corpus — the
    * compressed-domain search a quantized ANN deployment serves. Same
    * probe shape as [[annMultiQueryTopK]] but the scan reads 1-byte
    * codes instead of 4-byte floats — at 100 TB the scan is the cost, so
    * the compression IS the speedup. */
  def sq8MultiQueryTopK(spark: SparkSession, dir: String,
                        probeBound: Long = 20L, k: Int = 5): DataFrame = {
    val c = sq8Coded(spark, dir)
    probeTopK(c,
      c.filter(col("vec_id") < probeBound)
        .select(col("vec_id").as("q_id"), col("code").as("qc"), col("n8").as("qn")),
      col("vec_id") =!= col("q_id"), "code" -> "qc", "n8" -> "qn", k)
  }

  /** The SQ8 accuracy/footprint CONTRACT as a gated query: mean recall@k
    * of compressed-domain search against full-precision exact search,
    * plus the storage accounting (fp32 bytes vs int8 code bytes + one
    * 8-byte norm per vector) — the recall-vs-memory trade a quantized
    * index deployment actually monitors. All columns derive from exact
    * integer counts, so both engines compute identical values. */
  def sq8Recall(spark: SparkSession, dir: String,
                probeBound: Long = 20L, k: Int = 5): DataFrame = {
    val stats = Tables.embeddings(spark, dir)
      .agg(count(lit(1)).as("n_vectors"),
        max(size(col("embedding"))).cast("long").as("dims"))
    meanRecall(recallAt(
        sq8MultiQueryTopK(spark, dir, probeBound, k).select("q_id", "vec_id"),
        annMultiQueryTopK(spark, dir, probeBound, k).select("q_id", "vec_id"),
        probeRows(spark, dir, probeBound)), k)
      .crossJoin(broadcast(stats))
      .select(col("n_queries"), col("n_hits_total"), col("mean_recall"),
        col("n_vectors"), col("dims"),
        (col("n_vectors") * col("dims") * 4).as("bytes_fp32"),
        (col("n_vectors") * (col("dims") + 8)).as("bytes_sq8"))
  }

  /** Scale-path near-dup: sign-LSH bucket join instead of an all-pairs
    * product — only vectors sharing the `planes`-bit sign bucket are ever
    * paired (the [[minhashStyleBuckets]] building block, oracle-gated at
    * 3 AND 6 planes). Top-20 by cosine keeps the output bounded. At
    * 100 TB, pick planes ≈ log2(n/m) per the sizing note on
    * [[minhashStyleBuckets]] — the bucket join then stays linear in n. */
  def lshNearDup(spark: SparkSession, dir: String, planes: Int = 3): DataFrame =
    topPairs(bucketPairs(minhashStyleBuckets(spark, dir, planes)),
      "rnk", "bucket", "id_a", "id_b", "cos")

  /** PER-LABEL CENTROIDS — the "mean embedding per class" aggregate every
    * labeled-vector workflow needs (cluster profiling, nearest-class
    * serving, drift dashboards). Emitted one row per (label, dimension)
    * rather than one array per label: the long/narrow layout keeps the
    * shuffle a plain partial+final sum (no array aggregation buffers)
    * and is itself the storage shape a serving layer bucket-joins on.
    *
    * Components ride the same round(x·1000) milli-unit quantization as
    * [[graft.functions.VectorOps.quantDot]], summed in longs — bit-stable
    * regardless of partitioning. The centroid component is sum/n in
    * TRUNCATING integer division (components can be negative; Spark's
    * `div` and DuckDB's `//` both truncate toward zero, verified on the
    * negative sums this table produces). */
  def centroidPerLabel(spark: SparkSession, dir: String): DataFrame =
    Tables.embeddings(spark, dir)
      .select(col("label"), posexplode(col("embedding")).as(Seq("dim", "v")))
      .select(col("label"), col("dim").cast("long").as("dim"),
        expr("CAST(round(CAST(v AS DOUBLE) * 1000) AS BIGINT)").as("q"))
      .groupBy("label", "dim")
      .agg(count(lit(1)).as("n_vecs"), expr("CAST(sum(q) AS BIGINT)").as("sum_milli"))
      .withColumn("c_milli", expr("sum_milli div n_vecs"))
      .orderBy("label", "dim")

  /** K-NN LABEL CLASSIFICATION — the serving-side counterpart of
    * [[centroidPerLabel]]: predict each probe vector's label by majority
    * vote among its k nearest labeled neighbors (quantized cosine, ties
    * → lower vec_id; vote ties → lower label — fully deterministic).
    * Emits prediction, vote count, the probe's true label and a
    * correctness flag, so the query doubles as the accuracy monitor a
    * deployed classifier reports.
    *
    * Scale: rides [[annMultiQueryTopK]]'s broadcast-probe scan (probe
    * table broadcast, ONE pass over the corpus, bounded typed top-k);
    * the vote is then O(probes·k) rows — driver-free and tiny. Swap the
    * brute-force leg for [[ivfMultiQueryTopK]] / the SQ8 serve path for
    * sublinear candidate generation at corpus scale. */
  def knnClassify(spark: SparkSession, dir: String,
                  probeBound: Long = 20L, k: Int = 10): DataFrame = {
    val labels = Tables.embeddings(spark, dir).select(col("vec_id"), col("label"))
    val nb = annMultiQueryTopK(spark, dir, probeBound, k)
      .select(col("q_id"), col("vec_id"))
      .join(labels, "vec_id")
    val byVotes = Window.partitionBy("q_id")
      .orderBy(col("n_votes").desc, col("label").asc)
    nb.groupBy("q_id", "label")
      .agg(count(lit(1)).as("n_votes"))
      .withColumn("r", row_number().over(byVotes))
      .filter(col("r") === 1)
      .join(labels.select(col("vec_id").as("q_id"), col("label").as("true_label")), "q_id")
      .select(col("q_id"), col("label").as("predicted_label"), col("n_votes"),
        col("true_label"), (col("label") === col("true_label")).as("correct"))
      .orderBy("q_id")
  }

  /** PRODUCT QUANTIZATION with ADC serving — the remaining member of
    * the quantization family (IVF coarse cells, SQ8 scalar codes, now
    * PQ subspace codes): each vector is stored as FOUR codeword ids
    * (one per 16-dim subspace, 16 codewords each — 32× compression vs
    * the milli vectors), and queries score candidates ASYMMETRICALLY by
    * summing precomputed query×codeword partial dot products — a
    * 512-entry lookup table; the corpus embeddings are never touched at
    * query time. Codebooks are k-means INITIALIZATIONS (the sampled
    * subvectors of vec_id 1..16, the same deterministic-sample device
    * the IVF fit uses for its seeds) — zero iterations, so the oracle
    * replays the whole index in closed form; everything is integer
    * milli space (L2 assignment, dot scoring), no floats anywhere.
    *
    * Scale: codebook BROADCASTs (64 rows); encoding is one pass over
    * the corpus (argmin over 16 codewords per subspace); the ADC table
    * is |queries|·64 rows broadcast back; scoring touches only the
    * 4-int codes table + a partial-agg sum. */
  def pqTopK(spark: SparkSession, dir: String,
             probeBound: Long = 8L, k: Int = 5): DataFrame =
    pqAdcServe(spark, dir, pqCodesOf(spark, dir), probeBound, k)

  /** Per-subspace milli subvectors of every embedding. */
  private def pqSubs(spark: SparkSession, dir: String): DataFrame =
    Tables.embeddings(spark, dir)
      .select(col("vec_id"), expr(
        "transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT))").as("mv"))
      .select(col("vec_id"), explode(expr(
        """transform(sequence(0, 3), m -> named_struct(
          |  'm', m,
          |  'sv', slice(mv, m * (size(mv) div 4) + 1, size(mv) div 4)))""".stripMargin)).as("s"))
      .select(col("vec_id"), col("s.m").as("m"), col("s.sv").as("sv"))

  /** Sampled codebooks: the subvectors of vec_id 1..16 per subspace. */
  private def pqCodebook(spark: SparkSession, dir: String): DataFrame =
    pqSubs(spark, dir).filter(col("vec_id") >= 1 && col("vec_id") <= 16)
      .select(col("vec_id").as("cent_id"), col("m"), col("sv").as("cw"))

  /** ENCODE: each vector's nearest codeword per subspace (integer L2,
    * ties → lower cent_id) — the 4-int/vector PQ code table. */
  private[operators] def pqCodesOf(spark: SparkSession, dir: String): DataFrame = {
    val byDist = Window.partitionBy("vec_id", "m")
      .orderBy(col("l2").asc, col("cent_id").asc)
    pqSubs(spark, dir).join(broadcast(pqCodebook(spark, dir)), "m")
      .withColumn("l2", expr(
        "aggregate(zip_with(sv, cw, (x, y) -> (x - y) * (x - y)), 0L, (acc, v) -> acc + v)"))
      .withColumn("rn", row_number().over(byDist))
      .filter(col("rn") === 1)
      .select(col("vec_id"), col("m"), col("cent_id"))
  }

  /** The |queries|·64-row ADC lookup table (query×codeword partial dot
    * products) — shared by inline, persisted, and IVF-PQ serving. */
  private def pqAdcTable(spark: SparkSession, dir: String, probeBound: Long): DataFrame =
    pqSubs(spark, dir).filter(col("vec_id") < probeBound)
      .select(col("vec_id").as("q_id"), col("m").as("qm"), col("sv").as("qv"))
      .join(broadcast(pqCodebook(spark, dir)), col("qm") === col("m"))
      .withColumn("pdot", expr(
        "aggregate(zip_with(qv, cw, (x, y) -> x * y), 0L, (acc, v) -> acc + v)"))
      .select(col("q_id"), col("m"), col("cent_id"), col("pdot"))

  /** SERVE: integer ADC scoring of a codes table against the probe
    * queries — the corpus embeddings are only read for the probes' own
    * subvectors. `codes` is `(vec_id, m, cent_id)` scored against every
    * probe (inline or persisted codes), or also carries `q_id` when a
    * candidate filter has already paired codes with probes (IVF-PQ's
    * cell filter): the ADC join is on every column the two share. */
  private def pqAdcServe(spark: SparkSession, dir: String, codes: DataFrame,
                         probeBound: Long, k: Int): DataFrame = {
    val adc = pqAdcTable(spark, dir, probeBound)
    val byScore = Window.partitionBy("q_id")
      .orderBy(col("score_adc").desc, col("vec_id").asc)
    codes.join(broadcast(adc), codes.columns.filter(adc.columns.contains).toSeq)
      .filter(col("vec_id") =!= col("q_id"))
      .groupBy("q_id", "vec_id")
      .agg(expr("CAST(sum(pdot) AS BIGINT)").as("score_adc"))
      .withColumn("rnk", row_number().over(byScore).cast("long"))
      .filter(col("rnk") <= k)
      .select("q_id", "rnk", "vec_id", "score_adc")
      .orderBy("q_id", "rnk")
  }

  /** PERSISTED PQ serving — the codes table built once per corpus via
    * [[graft.sources.IndexStore]] (bucketed by vec_id, the 4-int rows
    * that ARE the index — ~32× smaller than the embeddings) and every
    * query thereafter scored off the stored table: zero encode work at
    * query time, the same build-once lifecycle as the IVF/SQ8/BM25
    * indexes. Row-identical to [[pqTopK]], shared oracle. */
  def pqPersisted(spark: SparkSession, dir: String,
                  probeBound: Long = 8L, k: Int = 5): DataFrame = {
    val codes = graft.sources.IndexStore.orBuild(
      spark, dir, "pq_codes", 8, Seq("vec_id"))(pqCodesOf(spark, dir))
    pqAdcServe(spark, dir, codes, probeBound, k)
  }

  /** IVF-PQ — the standard two-level ANN index (FAISS's IndexIVFPQ
    * shape, arXiv:1702.08734 lineage): the IVF coarse quantizer prunes
    * candidates to the query's cell, PQ's ADC scores only what
    * survives. Composition of two existing verified pieces — the
    * fitted-centroid cell assignment ([[assignCells]]) as the candidate
    * filter, then [[pqAdcServe]] over the cell-filtered codes — into the
    * index every production vector store actually ships: candidate count
    * drops by ~|cells| while the scored bytes stay the 4-int codes.
    *
    * Scale: assignment and encoding are the same single corpus passes
    * as their parents (at build time, cell and code land in ONE stored
    * table — the inline join on vec_id models that); the (query, cell)
    * probe list and the ADC table both broadcast, so serving is one
    * filtered scan of the codes table + a partial-agg sum, zero
    * corpus-side shuffles before the bounded top-k. */
  def ivfPqTopK(spark: SparkSession, dir: String,
                probeBound: Long = 8L, k: Int = 5): DataFrame = {
    val assigned = assignCells(Tables.embeddings(spark, dir), ivfCentsLit(spark, dir))
      .select(col("vec_id"), col("cell"))
    val qcells = assigned.filter(col("vec_id") < probeBound)
      .select(col("vec_id").as("q_id"), col("cell"))
    pqAdcServe(spark, dir,
      pqCodesOf(spark, dir).join(assigned, "vec_id").join(broadcast(qcells), "cell"),
      probeBound, k)
  }

  /** PQ RECALL CONTRACT — recall@k of the 32×-compressed ADC search
    * against the exact brute-force answer over the same probes: the
    * number that decides whether the compression is usable, gated like
    * [[ivfMultiQueryRecall]]. */
  def pqRecall(spark: SparkSession, dir: String,
               probeBound: Long = 8L, k: Int = 5): DataFrame =
    meanRecall(recallAt(
      pqTopK(spark, dir, probeBound, k).select("q_id", "vec_id"),
      annMultiQueryTopK(spark, dir, probeBound, k).select("q_id", "vec_id"),
      probeRows(spark, dir, probeBound)), k)

  /** TRIPLET HARD-EXAMPLE MINING — the contrastive-training curation
    * step: for each anchor vector, the HARDEST NEGATIVE (highest-cosine
    * vector with a DIFFERENT label — the impostor the model most
    * confuses) and the HARDEST POSITIVE (lowest-cosine vector with the
    * SAME label — the hardest example it must still pull close), plus
    * the margin violation flag (neg closer than pos — the triplets a
    * trainer actually samples). Ties → lower vec_id on both sides; the
    * cosine is the family's pinned quantized-dot one-divide expression.
    *
    * Scale: anchors are a bounded probe slab BROADCAST against the
    * corpus (the [[annMultiQueryTopK]] shape — one corpus scan per
    * side, never corpus×corpus); each side collapses through the
    * bounded typed top-1 ([[graft.functions.TopKByScore]] map-side
    * partial keeps one row per anchor per mapper). At 100 TB the mining
    * batch is the probe slab — the corpus side streams. */
  def tripletMining(spark: SparkSession, dir: String,
                    probeBound: Long = 20L): DataFrame =
    tripletMiningOf(Tables.embeddings(spark, dir), probeBound)

  /** [[tripletMining]] over any embeddings-shaped frame (spec entry). */
  private[graft] def tripletMiningOf(emb: DataFrame,
                                     probeBound: Long): DataFrame = {
    import graft.functions.TopKByScore
    val e = emb.withColumn("na", quantNormSq(col("embedding")))
    val anchors = e.filter(col("vec_id") < probeBound)
      .select(col("vec_id").as("q_id"), col("label").as("q_label"),
        col("embedding").as("qe"), col("na").as("qna"))
    val scored = e.join(broadcast(anchors), col("vec_id") =!= col("q_id"))
      .withColumn("cos", quantCos(col("embedding"), col("qe"), col("na"), col("qna")))
    val negs = TopKByScore.serveTopK(
        scored.filter(col("label") =!= col("q_label")),
        "q_id", col("cos"), col("vec_id"), 1)
      .select(col("q_id"), col("key").as("hard_neg_id"), col("score").as("neg_cos"))
    val poss = TopKByScore.serveTopK(
        scored.filter(col("label") === col("q_label") ), // min cos = top-1 of -cos
        "q_id", negate(col("cos")), col("vec_id"), 1)
      .select(col("q_id"), col("key").as("hard_pos_id"),
        negate(col("score")).as("pos_cos"))
    negs.join(poss, Seq("q_id"))
      .join(anchors.select(col("q_id"), col("q_label").as("label")), Seq("q_id"))
      .withColumn("violation", col("neg_cos") > col("pos_cos"))
      .select("q_id", "label", "hard_pos_id", "pos_cos",
        "hard_neg_id", "neg_cos", "violation")
      .orderBy("q_id")
  }

  /** MMR (maximal marginal relevance) DIVERSIFIED RE-RANKING — the
    * retrieval-diversity pass every RAG/train-batch sampler runs on a
    * candidate pool: greedily pick `k` of the query's top-`poolK`
    * neighbors maximizing `0.7·rel − 0.3·max-sim-to-already-picked`
    * (λ=0.7; the first pick sees an empty picked set, i.e. score
    * 0.7·rel). Ties → lower vec_id. Both relevance and the pool-internal
    * similarities are the family's pinned quantized-cosine expression,
    * and the oracle unrolls the identical greedy steps as chained CTEs.
    *
    * Scale: pool selection is the brute-force/IVF serving path (corpus
    * streams once, bounded top-k); the pairwise pool matrix is
    * poolK² = 400 sims computed distributed, and ONLY those ≤400 rows
    * are collected for the greedy fold — the same bounded-collect
    * contract as the IVF centroid fit. The corpus is never collected. */
  def mmrRerank(spark: SparkSession, dir: String,
                poolK: Int = 20, k: Int = 5): DataFrame =
    mmrRerankOf(spark, Tables.embeddings(spark, dir), poolK, k)

  /** [[mmrRerank]] over any embeddings-shaped frame (spec entry). */
  private[graft] def mmrRerankOf(spark: SparkSession, emb: DataFrame,
                                 poolK: Int, k: Int): DataFrame = {
    val spark2 = spark
    import spark2.implicits._
    val e = emb.withColumn("na", quantNormSq(col("embedding")))
    val pool = probe0TopK(e, e, col("na"), poolK)
      .select(col("vec_id"), col("cos").as("rel"), col("embedding"), col("na"))
    val a = pool.select(col("vec_id").as("a_id"), col("embedding").as("ea"),
      col("na").as("naa"))
    val b = pool.select(col("vec_id").as("b_id"), col("embedding").as("eb"),
      col("na").as("nab"))
    val sims = a.join(broadcast(b), col("a_id") < col("b_id"))
      .withColumn("sim", quantCos(col("ea"), col("eb"), col("naa"), col("nab")))
      .select("a_id", "b_id", "sim")
    // bounded collect: ≤ poolK rels + C(poolK,2) sims — the greedy fold
    // is inherently sequential and its state is the tiny pool itself
    val rels = pool.select("vec_id", "rel").as[(Long, Double)].collect()
      .sortBy(_._1)
    val simMap = sims.as[(Long, Long, Double)].collect()
      .flatMap { case (x, y, s) => Seq((x, y) -> s, (y, x) -> s) }.toMap
    var remaining = rels.toList
    var picked = List.empty[(Long, Double)] // (vec_id, rel)
    val out = Seq.newBuilder[(Long, Long, Double, Double)] // rnk, id, rel, score
    var rnk = 1L
    while (rnk <= k && remaining.nonEmpty) {
      val best = remaining.map { case (id, rel) =>
        val maxSim =
          if (picked.isEmpty) 0.0
          else picked.map(p => simMap((id, p._1))).max
        (id, rel, 0.7 * rel - 0.3 * maxSim)
      }.minBy { case (id, _, score) => (-score, id) }
      out += ((rnk, best._1, best._2, best._3))
      picked ::= ((best._1, best._2))
      remaining = remaining.filterNot(_._1 == best._1)
      rnk += 1
    }
    out.result().toDF("rnk", "vec_id", "rel", "mmr_score").orderBy("rnk")
  }

  /** DuckDB oracle for [[mmrRerank]]: the same top-`poolK` pool and
    * pairwise sims, then the greedy unrolled as `k` chained MATERIALIZED
    * steps — step i picks argmax of 0.7·rel − 0.3·max-sim-to-picked
    * (empty-set max = 0) with the vec_id tie-break, exactly the
    * driver-side fold. */
  private def mmrOracle(poolK: Int = 20, k: Int = 5): String = {
    val milli = "CAST(round(CAST(%s AS DOUBLE) * 1000.0) AS BIGINT)"
    val steps = (2 to k).map { i =>
      val prev = (1 until i).map(j => s"SELECT vec_id FROM sel$j").mkString(" UNION ALL ")
      s"""pk$i AS MATERIALIZED ($prev),
         sel$i AS MATERIALIZED (
           SELECT vec_id, rel, score, CAST($i AS BIGINT) AS rnk FROM (
             SELECT c.vec_id, c.rel,
                    CAST(0.7 AS DOUBLE) * c.rel - CAST(0.3 AS DOUBLE) *
                      (SELECT max(s.sim) FROM sims s
                       WHERE (s.a_id = c.vec_id AND s.b_id IN (SELECT vec_id FROM pk$i))
                          OR (s.b_id = c.vec_id AND s.a_id IN (SELECT vec_id FROM pk$i))) AS score
             FROM cand c
             WHERE c.vec_id NOT IN (SELECT vec_id FROM pk$i))
           ORDER BY score DESC, vec_id ASC LIMIT 1)"""
    }.mkString(",\n")
    s"""WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
       pr AS (SELECT e.vec_id, unnest(e.embedding) AS x, unnest(q.qe) AS y
              FROM embeddings e, q WHERE e.vec_id <> 0),
       d AS (SELECT vec_id,
               SUM(${milli.format("x")} * ${milli.format("y")}) AS dot,
               SUM(${milli.format("x")} * ${milli.format("x")}) AS na,
               SUM(${milli.format("y")} * ${milli.format("y")}) AS nb
             FROM pr GROUP BY vec_id),
       sc AS (SELECT vec_id,
                CAST(dot AS DOUBLE) / (sqrt(CAST(na AS DOUBLE)) * sqrt(CAST(nb AS DOUBLE))) AS rel
              FROM d),
       cand AS MATERIALIZED (
         SELECT vec_id, rel FROM sc
         ORDER BY rel DESC, vec_id ASC LIMIT $poolK),
       cp AS (SELECT a.vec_id AS a_id, b.vec_id AS b_id,
                unnest(ea.embedding) AS x, unnest(eb.embedding) AS y
              FROM cand a JOIN cand b ON a.vec_id < b.vec_id
              JOIN embeddings ea ON ea.vec_id = a.vec_id
              JOIN embeddings eb ON eb.vec_id = b.vec_id),
       sd AS (SELECT a_id, b_id,
               SUM(${milli.format("x")} * ${milli.format("y")}) AS dot,
               SUM(${milli.format("x")} * ${milli.format("x")}) AS na,
               SUM(${milli.format("y")} * ${milli.format("y")}) AS nb
             FROM cp GROUP BY a_id, b_id),
       sims AS MATERIALIZED (
         SELECT a_id, b_id,
                CAST(dot AS DOUBLE) / (sqrt(CAST(na AS DOUBLE)) * sqrt(CAST(nb AS DOUBLE))) AS sim
         FROM sd),
       sel1 AS MATERIALIZED (
         SELECT vec_id, rel,
                CAST(0.7 AS DOUBLE) * rel - CAST(0.3 AS DOUBLE) * CAST(0.0 AS DOUBLE) AS score,
                CAST(1 AS BIGINT) AS rnk
         FROM cand ORDER BY CAST(0.7 AS DOUBLE) * rel DESC, vec_id ASC LIMIT 1),
       $steps
       SELECT rnk, vec_id, rel, score AS mmr_score
       FROM (${(1 to k).map(j => s"SELECT * FROM sel$j").mkString(" UNION ALL ")})
       ORDER BY rnk"""
  }

  /** K-MEANS CONVERGENCE CURVE (inertia-style cohesion per iteration) —
    * the clustering-quality diagnostic every IVF/SemDeDup deployment
    * reads before trusting its cells: for each fit snapshot (0 = the
    * fixed init, then each Lloyd iteration of [[fitIvfCentroids]]), the
    * CORPUS-wide cohesion Σ floor(best-cos·10⁶) under that snapshot's
    * centroids. A curve that stops rising says the sample-fit converged;
    * a cell structure whose corpus cohesion lags its sample cohesion
    * says the sample is unrepresentative. Cosine-k-means maximizes
    * total assigned cosine, so this is (negated) inertia in the
    * spherical metric — floored per row to an integer so the corpus sum
    * is order-independent and bit-stable across engines.
    *
    * Scale: each snapshot is the same literal-centroid PROJECTION as
    * [[assignCells]] (zero exchange), and the per-snapshot collapse is
    * one partial+final agg; iterations are a metadata-sized driver loop
    * over the ≤256-row sample fit (the documented offline-trainer
    * collect), never extra corpus passes beyond one scan per snapshot. */
  def kmeansInertia(spark: SparkSession, dir: String,
                    k: Int = 8, maxIters: Int = 2): DataFrame = {
    val e = Tables.embeddings(spark, dir)
    val frames = (0 to maxIters).map { it =>
      val centsLit = fittedCentsLit(fitIvfCentroids(spark, dir, k, 256, it))
      e.withColumn("na", quantNormSq(col("embedding")))
        .withColumn("best", expr(
          s"""aggregate(
                transform($centsLit, c ->
                  cast(quantized_dot(embedding, c.ce) as double)
                  / (sqrt(cast(na as double)) * sqrt(cast(c.nb as double)))),
                cast('-Infinity' as double),
                (b, x) -> if(x > b, x, b))"""))
        .select(lit(it.toLong).as("iters"),
          expr("CAST(floor(best * 1000000) AS BIGINT)").as("cos_ppm"))
    }
    frames.reduce(_ unionAll _)
      .groupBy("iters")
      .agg(count(lit(1)).as("n_vecs"),
        expr("CAST(sum(cos_ppm) AS BIGINT)").as("sum_cos_ppm"))
      .withColumn("mean_cos_ppm", expr("sum_cos_ppm div n_vecs"))
      .orderBy("iters")
  }

  /** DuckDB oracle for [[kmeansInertia]]: the shared fit replay
    * ([[ivfFitCtes]] defines c0..c`maxIters` and the quantized corpus
    * `qall`), then per snapshot the same max-cos per vector and floored
    * ppm corpus sum. */
  private def kmeansInertiaOracle(maxIters: Int = 2): String = {
    val per = (0 to maxIters).map { it =>
      s"""p_i$it AS (SELECT e.vec_id, c.cent_id, unnest(e.qv) AS x, unnest(c.cv) AS y
                 FROM qall e, c$it c),
         d_i$it AS (SELECT vec_id, cent_id, SUM(x*y) AS dot, SUM(x*x) AS na, SUM(y*y) AS nb
                 FROM p_i$it GROUP BY vec_id, cent_id),
         b_i$it AS (SELECT vec_id,
                   max(CAST(dot AS DOUBLE) / (sqrt(CAST(na AS DOUBLE)) * sqrt(CAST(nb AS DOUBLE)))) AS best
                 FROM d_i$it GROUP BY vec_id),
         g_i$it AS (SELECT CAST($it AS BIGINT) AS iters,
                    CAST(count(*) AS BIGINT) AS n_vecs,
                    CAST(SUM(CAST(floor(best * 1000000) AS BIGINT)) AS BIGINT) AS sum_cos_ppm
                 FROM b_i$it)"""
    }.mkString(",\n         ")
    s"""${ivfFitCtes(maxIters)}
       $per
       SELECT iters, n_vecs, sum_cos_ppm,
              sum_cos_ppm // n_vecs AS mean_cos_ppm
       FROM (${(0 to maxIters).map(i => s"SELECT * FROM g_i$i").mkString(" UNION ALL ")})
       ORDER BY iters"""
  }

  /** RECALL@K CURVE — the serving-quality dashboard in one query:
    * IVF recall against brute-force ground truth at k = 1, 5, 10, 20
    * simultaneously (one point tells you nothing about where the index
    * loses; the curve separates "misses the top hit" from "misses the
    * tail"). A hit at k = both sides rank the neighbor ≤ k; recall in
    * integer ppm (n_hits·10⁶ div (n_queries·k)) so the gate hashes
    * exactly. Generalizes the single-point [[ivfMultiQueryRecall]].
    *
    * Scale: both sides are the existing bounded-probe serving paths run
    * once at k=20; the per-k expansion crosses the ≤ probeBound·20 IVF
    * rows with a broadcast 4-row k table (a join, so the serving sort
    * below it is dropped like the one under the recall join), and the
    * [[recallAt]] tail counts the matched pairs both sides rank ≤ k —
    * the corpus is scanned exactly as often as the two underlying top-k
    * queries. */
  def recallCurve(spark: SparkSession, dir: String,
                  probeBound: Long = 20L): DataFrame = {
    import spark.implicits._
    val ivf = ivfMultiQueryTopK(spark, dir, probeBound, 20)
      .select(col("q_id"), col("vec_id"), col("rnk").as("ri"))
      .crossJoin(broadcast(Seq(1, 5, 10, 20).toDF("k")))
    val brute = annMultiQueryTopK(spark, dir, probeBound, 20)
      .select(col("q_id"), col("vec_id"), col("rnk").as("rb"))
    recallAt(ivf, brute, probeRows(spark, dir, probeBound), Seq("k"),
        when(col("ri") <= col("k") && col("rb") <= col("k"), 1))
      .select(col("k").cast("long").as("k"), col("n_queries"), col("n_hits"),
        expr("n_hits * 1000000 div (n_queries * k)").as("recall_ppm"))
      .orderBy("k")
  }

  /** MATRYOSHKA TRUNCATION RECALL — retrieval quality of PREFIX
    * sub-vectors against the full-dimension ranking: top-k per query
    * using only the first d ∈ {8,16,32} of 64 components (prefix-
    * renormalized cosine, the MRL serving convention), scored as
    * recall@k against the full-width brute-force top-k. The curve a
    * deployment reads to pick how many dims the ANN tier can drop —
    * the same storage/recall trade PQ and SQ8 make, measured for plain
    * truncation. Arithmetic follows the family discipline: quantized
    * integer dots/norms, cosine ranking with a vec_id tie-break, ppm
    * recall.
    *
    * Scale: each prefix pass is [[probeTopK]] over the sliced vectors —
    * the same broadcast-queries × corpus-scan shape as
    * [[annMultiQueryTopK]], never a global sort; the three passes scan
    * once each (a fused single-scan variant would trade clarity for one
    * scan, the win the PQ/SQ8 serving paths already demonstrate). */
  def matryoshkaRecall(spark: SparkSession, dir: String,
                       probeBound: Long = 20L, k: Int = 10): DataFrame = {
    val e = Tables.embeddings(spark, dir)
    def prefixTopK(d: Int): DataFrame = {
      val ep = e.withColumn("pe", slice(col("embedding"), 1, d))
        .withColumn("na", quantNormSq(col("pe")))
      probeTopK(ep,
        ep.filter(col("vec_id") < probeBound)
          .select(col("vec_id").as("q_id"), col("pe").as("qe"), col("na").as("qna")),
        col("vec_id") =!= col("q_id"), "pe" -> "qe", "na" -> "qna", k)
        .select(col("q_id"), col("vec_id"), lit(d).as("dims"))
    }
    ppmRecall(recallAt(
        Seq(8, 16, 32).map(prefixTopK).reduce(_ unionAll _),
        annMultiQueryTopK(spark, dir, probeBound, k).select("q_id", "vec_id"),
        probeRows(spark, dir, probeBound), Seq("dims")),
      k, col("dims").cast("long").as("dims"))
      .orderBy("dims")
  }

  /** OUT-OF-DISTRIBUTION RATE per label — embedding-drift monitoring
    * against the fitted cell structure: a vector is OOD when NO fitted
    * centroid reaches cosine ≥ τ (= it lives between the cells the
    * index was trained on — the vectors whose ANN serving quality, and
    * whose semantic-dedup grouping, degrade first). The τ boundary is
    * the EXACT integer predicate of [[rangeSearch]]
    * (dot > 0 ∧ dot²·100 ≥ (τ·10)²·‖a‖²·‖c‖²) evaluated per centroid —
    * no float compare ever decides membership, so both engines flag the
    * identical set. Reported per label: n_vecs, n_ood, ood_ppm.
    *
    * Scale: a literal-centroid pure PROJECTION (the [[assignCells]]
    * shape — zero exchange) followed by one |labels|-bounded agg; the
    * monitoring pass costs exactly one corpus scan. */
  def oodRate(spark: SparkSession, dir: String, tauTenths: Int = 2): DataFrame = {
    val centsLit = ivfCentsLit(spark, dir)
    val t2 = tauTenths.toLong * tauTenths
    Tables.embeddings(spark, dir)
      .withColumn("na", quantNormSq(col("embedding")))
      .withColumn("hits", expr(
        s"""aggregate(
              transform($centsLit, c -> named_struct(
                'dot', quantized_dot(embedding, c.ce), 'nb', c.nb)),
              0L,
              (acc, s) -> acc + if(s.dot > 0 AND s.dot * s.dot * 100 >= ${t2}L * na * s.nb, 1L, 0L))"""))
      .groupBy("label")
      .agg(count(lit(1)).as("n_vecs"),
        expr("CAST(sum(CASE WHEN hits = 0 THEN 1 ELSE 0 END) AS BIGINT)").as("n_ood"))
      .withColumn("ood_ppm", expr("n_ood * 1000000 div n_vecs"))
      .orderBy("label")
  }

  /** CLUSTER TOPIC LABELS — what each IVF cell is ABOUT: member
    * documents' tokens ranked per cell by the tf·icf score (term count
    * in the cell ÷ number of cells containing the term — the
    * [[graft.functions.TextAnalysis.tfidfKeywords]] rarity ratio at
    * cell granularity), top-3 per cell with the lexicographic
    * tie-break. The human-readable face of the embedding clustering:
    * SemDeDup/IVF cells stop being opaque ids and get topic labels —
    * the cross-modal join the engine's 1:1 doc/vector ids exist for.
    *
    * Scale: assignment is the literal-centroid projection; tokens
    * aggregate per (cell, token) in one shuffle, the cell-frequency
    * dictionary is |vocab|-bounded and joins back on the token key, and
    * the per-cell window ranks ≤|vocab| rows per cell. */
  def clusterTopics(spark: SparkSession, dir: String, topK: Int = 3): DataFrame = {
    val cells = assignCells(Tables.embeddings(spark, dir), ivfCentsLit(spark, dir))
      .select(col("vec_id"), col("cell"))
    val tf = Tables.documents(spark, dir)
      .select(col("doc_id"),
        explode(expr("filter(split(lower(text), ' '), x -> length(x) > 0)")).as("token"))
      .join(cells, col("doc_id") === col("vec_id"))
      .groupBy("cell", "token")
      .agg(count(lit(1)).as("tf"))
    val cf = tf.groupBy("token")
      .agg(count(lit(1)).as("n_cells_with"))
    val w = Window.partitionBy("cell")
      .orderBy(col("score_ppm").desc, col("token").asc)
    tf.join(cf, Seq("token"))
      .withColumn("score_ppm", expr("tf * 1000000 div n_cells_with"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= topK)
      .select("cell", "rank", "token", "tf", "n_cells_with", "score_ppm")
      .orderBy("cell", "rank")
  }

  /** FILTERED VECTOR SEARCH — top-k under a metadata predicate (here:
    * same label as the query), the "filtered ANN" mode every vector
    * store ships because plain top-k + post-filter silently returns
    * FEWER than k when neighbors fail the predicate. Semantics are
    * PRE-FILTER: the predicate restricts the candidate set before
    * ranking, so the result is the exact top-k of the filtered corpus.
    * Same pinned quantized cosine, (cos desc, vec_id) ties.
    *
    * Scale: the predicate is the candidate filter of [[probeTopK]]
    * (label equality folded into the broadcast probe join — candidates
    * never materialize for non-matching labels), then the bounded typed
    * top-k. With a cell index the same predicate composes with cell
    * pruning; the brute-force form here is the correctness contract. */
  def annFiltered(spark: SparkSession, dir: String,
                  probeBound: Long = 10L, k: Int = 5): DataFrame = {
    val e = Tables.embeddings(spark, dir)
      .withColumn("na", quantNormSq(col("embedding")))
    probeTopK(e,
      e.filter(col("vec_id") < probeBound)
        .select(col("vec_id").as("q_id"), col("label").as("q_label"),
          col("embedding").as("qe"), col("na").as("qna")),
      col("vec_id") =!= col("q_id") && col("label") === col("q_label"),
      "embedding" -> "qe", "na" -> "qna", k)
  }

  /** NN-DESCENT k-NN GRAPH construction (Dong/Moses/Li, WWW'11) — the
    * graph-based ANN index family (HNSW/NSG's build primitive) the
    * IVF/SQ8/PQ stack doesn't cover, expressed relationally: start each
    * node with k deterministic ring neighbors (vec_id + j·17 mod n —
    * no RNG, so the DuckDB oracle replays the build bit-for-bit), then
    * each round every node considers its NEIGHBORS-OF-NEIGHBORS over
    * the undirected current graph (the NN-descent observation: a
    * neighbor of my neighbor is likely my neighbor) and keeps the
    * best k by quantized cosine (score desc, vec_id asc ties — the
    * family's serving rule).
    *
    * Scale: per round, candidates are one adjacency self-join on the
    * shared midpoint — degree is EXACTLY k by construction, so the
    * candidate set is ≤ |V|·(2k)² rows, linear in nodes forever (the
    * same bound the sparsified triangle/link-predict family rides);
    * scoring joins the embedding table by key twice ([[scoreKeyed]];
    * co-partitioned hash joins, corpus never crosses the wire more than
    * once per round); per-node top-k is the typed bounded partial
    * aggregation; each round is one [[graft.Materialize]], like every
    * iterative operator here. */
  private[operators] def nndescentKnnOf(e0: DataFrame, k: Int, rounds: Int): DataFrame = {
    // every round's scoring reads the quantized table twice
    val e = graft.Materialize(e0.select(col("vec_id"), col("embedding"))
      .withColumn("nsq", quantNormSq(col("embedding"))))
    val ea = e.select(col("vec_id").as("u"), col("embedding").as("eu"), col("nsq").as("nu"))
    val eb = e.select(col("vec_id").as("v"), col("embedding").as("ev"), col("nsq").as("nv"))
    // loop-internal top-k is UNORDERED (r14): the rounds' consumers are
    // self-joins and aggregations; serveTopK's presentation sort added a
    // range Exchange + the range partitioner's sampling job per round.
    // Callers ordering their emit (nndescentTopK & co.) are unchanged.
    def scoreTopK(pairs: DataFrame): DataFrame =
      graft.functions.TopKByScore.topKUnordered(scoreKeyed(pairs, ea, eb),
        "u", col("cos"), col("v"), k)
        .select(col("u"), col("rnk"), col("key").as("v"), col("score").as("cos"))
    val n = graft.Materialize.rows(e)
    val parts = graft.Materialize.partitionsFor(e.sparkSession, n * k)
    val seed = e.select(col("vec_id").as("u"))
      .select(col("u"),
        explode(expr(s"transform(sequence(1, $k), j -> (u + j * 17L) % ${n}L)")).as("v"))
      .filter(col("u") =!= col("v"))
      .distinct()
    var knn = graft.Materialize(scoreTopK(seed), parts)
    (1 to rounds).foreach { _ =>
      val und = knn.select(col("u"), col("v"))
        .unionAll(knn.select(col("v").as("u"), col("u").as("v")))
      val cand = und.as("a").join(und.as("b"),
          col("a.v") === col("b.u") && col("a.u") =!= col("b.v"))
        .select(col("a.u").as("u"), col("b.v").as("v"))
        .unionAll(knn.select(col("u"), col("v")))
        .distinct()
      knn = graft.Materialize(scoreTopK(cand), parts)
    }
    knn
  }

  /** [[nndescentKnnOf]] serving emit: the probe nodes' final neighbor
    * lists (q_id < probeBound, rank ≤ k). */
  def nndescentTopK(spark: SparkSession, dir: String, k: Int = 10,
                    rounds: Int = 3, probeBound: Long = 20L): DataFrame =
    nndescentKnnOf(Tables.embeddings(spark, dir), k, rounds)
      .filter(col("u") < probeBound)
      .select(col("u").as("q_id"), col("rnk"), col("v").as("vec_id"), col("cos"))
      .orderBy("q_id", "rnk")

  /** The NN-descent RECALL GATE — recall@k of the converged graph's
    * probe rows against brute-force exact top-k (the [[recallCurve]]
    * discipline applied to the graph index): one integer-ppm row. */
  def nndescentRecall(spark: SparkSession, dir: String, k: Int = 10,
                      rounds: Int = 3, probeBound: Long = 20L): DataFrame =
    ppmRecall(recallAt(
      nndescentKnnOf(Tables.embeddings(spark, dir), k, rounds)
        .filter(col("u") < probeBound)
        .select(col("u").as("q_id"), col("v").as("vec_id")),
      annMultiQueryTopK(spark, dir, probeBound, k).select("q_id", "vec_id"),
      probeRows(spark, dir, probeBound)), k)

  /** The NN-descent graph PERSISTED (IndexStore lifecycle — the same
    * build-once/serve-forever shape as the IVF cells, PQ codes and BM25
    * postings): `(u, v, cos)`, bucketed by `u` so per-hop frontier
    * expansion joins ride the bucketed layout. */
  def buildNndGraph(spark: SparkSession, dir: String,
                    k: Int = 10, rounds: Int = 3): DataFrame =
    graft.sources.IndexStore.orBuild(spark, dir, "nnd_graph", buckets = 8, keys = Seq("u")) {
      nndescentKnnOf(Tables.embeddings(spark, dir), k, rounds)
        .select(col("u"), col("v"), col("cos"))
    }

  /** Shared serve-side adjacency: the k-NN graph's undirected edges
    * degree-capped at `adjCap` per node (edge-cos desc, v asc ties) —
    * DiskANN's R parameter; see [[graphSearch]] for why the cap is
    * load-bearing (unbounded IN-degree hubs). */
  private def cappedAdjOf(g: DataFrame, adjCap: Int): DataFrame = {
    val und = g.select(col("u"), col("v"), col("cos"))
      .unionAll(g.select(col("v").as("u"), col("u").as("v"), col("cos")))
      .groupBy("u", "v").agg(max(col("cos")).as("ecos"))
    val byEdge = Window.partitionBy("u").orderBy(desc("ecos"), asc("v"))
    und
      .withColumn("rn", row_number().over(byEdge))
      .filter(col("rn") <= adjCap)
      .select(col("u").as("src"), col("v").as("dst"))
  }

  /** One graph hop's candidates: every `(q_id, v)` row plus each capped
    * neighbor of `v`, deduplicated. */
  private def expand(frontier: DataFrame, adj: DataFrame): DataFrame =
    frontier.join(adj, col("v") === col("src"))
      .select(col("q_id"), col("dst").as("v"))
      .unionAll(frontier.select(col("q_id"), col("v")))
      .distinct()

  /** The graph-hop candidate generator of [[graphSearch]] and
    * [[nndInsertKnn]]: `hops` rounds of [[expand]] → `scoreOf` (a
    * `(q_id, v, cos)` scorer) → keep the best `beam` per query. Returns
    * the last hop's scored candidates; each hop is one
    * [[graft.Materialize]]. */
  private def beamSearch(start: DataFrame, adj: DataFrame, hops: Int, beam: Int)(
      scoreOf: DataFrame => DataFrame): DataFrame = {
    var frontier = start
    var scored = scoreOf(frontier)
    (1 to hops).foreach { _ =>
      scored = graft.Materialize(scoreOf(expand(frontier, adj)))
      // hop frontiers feed joins only — unordered top-k (see TopKByScore)
      frontier = graft.functions.TopKByScore
        .topKUnordered(scored, "q_id", col("cos"), col("v"), beam)
        .select(col("q_id"), col("key").as("v"))
    }
    scored
  }

  /** GREEDY BEAM SEARCH over the persisted NN-descent graph — the
    * SERVE half of graph ANN (the HNSW/NSG query loop at a fixed hop
    * budget), completing the build → persist → serve story the IVF/PQ
    * stacks already have. Each probe starts anchored at its own node,
    * every hop expands the beam's adjacency, scores candidates against
    * the query (quantized cosine, the family's exact arithmetic), and
    * keeps the best `beam` visited; after `hops` hops the last
    * candidate set minus the anchor serves top-`kOut`.
    *
    * Adjacency is DEGREE-CAPPED at serve time (each node's `adjCap`
    * strongest undirected edges by the graph's own stored cosines —
    * DiskANN's R parameter): NN-descent bounds OUT-degree at k but a
    * hub's IN-degree is unbounded, and an uncapped hub in the beam
    * would explode the hop's candidate set (the same in-degree lesson
    * as rel_link_predict's midpoint cap).
    *
    * Scale: per hop, candidates ≤ |probes|·beam·(adjCap+1) — query-
    * bounded, corpus-independent; scoring joins the embedding table by
    * key (the corpus never crosses the wire); the graph itself is the
    * only corpus-sized input and is read bucketed from the persisted
    * index. Each hop is one [[graft.Materialize]] ([[beamSearch]]). */
  def graphSearch(spark: SparkSession, dir: String, beam: Int = 8,
                  hops: Int = 3, kOut: Int = 5, probeBound: Long = 20L,
                  adjCap: Int = 16, kG: Int = 10, rounds: Int = 3): DataFrame = {
    val g = buildNndGraph(spark, dir, kG, rounds)
    // adjacency feeds every hop's expansion join, embeddings every
    // hop's scoring
    val adj = graft.Materialize(cappedAdjOf(g, adjCap))
    val e = graft.Materialize(Tables.embeddings(spark, dir)
      .withColumn("na", quantNormSq(col("embedding"))))
    val queries = e.filter(col("vec_id") < probeBound)
      .select(col("vec_id").as("q_id"), col("embedding").as("qe"),
        col("na").as("qna"))
    val nodes = e.select(col("vec_id").as("v"), col("embedding").as("ve"), col("na").as("vna"))
    val scored = beamSearch(queries.select(col("q_id"), col("q_id").as("v")), adj,
        hops, beam) { cand =>
      scoreKeyed(cand, nodes, broadcast(queries)).select(col("q_id"), col("v"), col("cos"))
    }
    graft.functions.TopKByScore
      .serveTopK(scored.filter(col("v") =!= col("q_id")),
        "q_id", col("cos"), col("v"), kOut)
      .select(col("q_id"), col("rnk"), col("key").as("vec_id"),
        col("score").as("cos"))
  }

  /** Graph-search RECALL GATE vs brute-force exact top-k — the serving
    * quality number: beam search from the query's own node should beat
    * the raw build-graph recall (it explores 3 hops of neighborhood
    * instead of reading one adjacency list). */
  def graphSearchRecall(spark: SparkSession, dir: String, kOut: Int = 5,
                        probeBound: Long = 20L): DataFrame =
    ppmRecall(recallAt(
      graphSearch(spark, dir, kOut = kOut, probeBound = probeBound)
        .select(col("q_id"), col("vec_id")),
      annMultiQueryTopK(spark, dir, probeBound, kOut).select("q_id", "vec_id"),
      probeRows(spark, dir, probeBound)), kOut)

  /** INCREMENTAL GRAPH-ANN MAINTENANCE (VERDICT r9 ask #6) — insert a
    * new embedding batch into a persisted NN-descent graph WITHOUT a
    * full rebuild: the graph sibling of [[ivfMultiQueryIncremental]]
    * and Dedup.incrementalDedup, completing the
    * build → persist → serve → MAINTAIN lifecycle. The corpus
    * (vec_id % 7 ≠ 0) owns the persisted graph (standard NN-descent
    * rounds, stored through IndexStore exactly like [[buildNndGraph]]);
    * the arriving batch (vec_id % 7 = 0) is inserted DiskANN-style:
    *
    *   1. SEED by beam search — each new node starts at a fixed entry
    *      set (the `nEntries` smallest corpus ids, the medoid
    *      stand-in) and walks `hops` hops of the degree-capped corpus
    *      adjacency, scoring candidates against its own embedding
    *      (quantized cosine, the family's exact arithmetic);
    *   2. keep the best k visited as the node's seed neighbor list;
    *   3. REFINE locally — one neighbors-of-neighbors round over the
    *      seed list only (the NN-descent observation applied to
    *      TOUCHED nodes, not the whole graph), re-score, keep best k.
    *
    * Scale: each batch node's insert depends only on the corpus graph —
    * batch nodes never pair with each other and the corpus never
    * re-pairs with itself, so per-node candidates are bounded by
    * nEntries + hops·beam·(adjCap+1) + k·(adjCap+1): a constant,
    * corpus-independent. Scoring joins the embedding tables BY KEY
    * (hash joins — the batch is corpus-sized/7, deliberately NOT
    * broadcast, unlike the 20-probe serve path). Emits the final
    * neighbor lists of the batch nodes under `probeBound`,
    * `(q_id, rnk, vec_id, cos)` — per-node independence makes the
    * emit identical whether the oracle replays all batch nodes or just
    * the probes. */
  def nndIncremental(spark: SparkSession, dir: String, k: Int = 10,
                     rounds: Int = 3, adjCap: Int = 16, beam: Int = 8,
                     hops: Int = 4, nEntries: Int = 8,
                     probeBound: Long = 140L): DataFrame =
    nndIncrementalKnn(spark, dir, k, rounds, adjCap, beam, hops, nEntries)
      .filter(col("q_id") < probeBound)
      .select(col("q_id"), col("rnk"), col("key").as("vec_id"),
        col("score").as("cos"))
      .orderBy("q_id", "rnk")

  /** The persisted corpus-side NN-descent graph for `dir` (build-once
    * through IndexStore; corpus = `vec_id % 7 ≠ 0`) — shared by the
    * batch incremental insert and the in-stream maintenance fold.
    * Build parameters are part of the key (ADVICE r10): a graph built
    * with different k/rounds is a DIFFERENT index — serving it silently
    * is the staleness class IndexStore exists to prevent (the bm25
    * impact index encodes its cap the same way). */
  private[graft] def corpusNndGraph(spark: SparkSession, dir: String,
                                    k: Int = 10, rounds: Int = 3): DataFrame = {
    val corpus = Tables.embeddings(spark, dir).filter(col("vec_id") % 7 =!= 0)
    graft.sources.IndexStore.orBuild(
      spark, dir, s"nnd_corpus_k${k}_r$rounds", buckets = 8, keys = Seq("u")) {
      nndescentKnnOf(corpus, k, rounds).select(col("u"), col("v"), col("cos"))
    }
  }

  private def nndIncrementalKnn(spark: SparkSession, dir: String, k: Int,
                                rounds: Int, adjCap: Int, beam: Int,
                                hops: Int, nEntries: Int): DataFrame = {
    val all = Tables.embeddings(spark, dir)
    val corpus = all.filter(col("vec_id") % 7 =!= 0)
    val g = corpusNndGraph(spark, dir, k, rounds)
    nndInsertKnn(g, corpus, all.filter(col("vec_id") % 7 === 0),
      k, adjCap, beam, hops, nEntries)
  }

  /** DiskANN-style single-batch insert against an EXPLICIT graph state —
    * the reusable core of [[nndIncremental]] and the in-stream fold
    * [[graft.streaming.Streams.nndMaintainStream]]: seed each batch node
    * by beam search over the capped adjacency of `g`, then one local
    * refinement round over touched nodes only. `nodesEmb` must cover
    * every node id appearing in `g` (`(vec_id, embedding)`); `batchEmb`
    * is the arriving batch. Batch nodes never pair with each other and
    * the graph side never re-pairs with itself, so per-node candidates
    * stay bounded by nEntries + hops·beam·(adjCap+1) + k·(adjCap+1) —
    * independent of graph size. Returns the typed top-k frame
    * `(q_id, rnk, key, score)` = each batch node's neighbor list. */
  private[graft] def nndInsertKnn(g: DataFrame, nodesEmb: DataFrame,
                                  batchEmb: DataFrame, k: Int, adjCap: Int,
                                  beam: Int, hops: Int, nEntries: Int): DataFrame = {
    // adjacency feeds every hop + the refine; hop + refine scoring
    // reads both embedding sides repeatedly
    val adj = graft.Materialize(cappedAdjOf(g, adjCap))
    val e = graft.Materialize(nodesEmb.select(col("vec_id").as("v"), col("embedding").as("ve"))
      .withColumn("vna", quantNormSq(col("ve"))))
    val bq = graft.Materialize(batchEmb
      .select(col("vec_id").as("q_id"), col("embedding").as("qe"))
      .withColumn("qna", quantNormSq(col("qe"))))
    // fixed entry set: smallest graph-node ids (TakeOrdered — bounded)
    val entries = nodesEmb.select(col("vec_id").as("v")).orderBy("v").limit(nEntries)
    def scoreOf(cand: DataFrame): DataFrame =
      scoreKeyed(cand, e, bq).select(col("q_id"), col("v"), col("cos"))
    val scored = beamSearch(bq.select(col("q_id")).crossJoin(broadcast(entries)), adj,
      hops, beam)(scoreOf)
    val seed = graft.functions.TopKByScore
      .topKUnordered(scored, "q_id", col("cos"), col("v"), k)
      .select(col("q_id"), col("key").as("v"))
    val refCand = expand(seed, adj)
    // the emit keeps serveTopK's ordered contract for the stream fold
    // and the specs
    graft.Materialize(graft.functions.TopKByScore
      .serveTopK(scoreOf(refCand), "q_id", col("cos"), col("v"), k))
  }

  /** Incremental-insert RECALL GATE: recall@k of the inserted batch
    * probes' neighbor lists against brute-force exact top-k over the
    * CORPUS (the candidate universe the insert searches) — one
    * integer-ppm row, the same discipline as [[nndescentRecall]]. The
    * exact side is [[probeTopK]] with the batch probes against the
    * corpus slice (their ids never meet, so the id filter drops nothing).
    * The companion spec additionally gates it against the from-scratch
    * build's recall. */
  def nndIncrementalRecall(spark: SparkSession, dir: String, k: Int = 10,
                           probeBound: Long = 140L): DataFrame = {
    val served = nndIncremental(spark, dir, k = k, probeBound = probeBound)
      .select(col("q_id"), col("vec_id"))
    val all = Tables.embeddings(spark, dir)
    val e = all.filter(col("vec_id") % 7 =!= 0)
      .withColumn("na", quantNormSq(col("embedding")))
    val probes = all.filter(col("vec_id") % 7 === 0 && col("vec_id") < probeBound)
    val exact = probeTopK(e,
        probes.select(col("vec_id").as("q_id"), col("embedding").as("qe"))
          .withColumn("qna", quantNormSq(col("qe"))),
        col("vec_id") =!= col("q_id"), "embedding" -> "qe", "na" -> "qna", k)
      .select("q_id", "vec_id")
    ppmRecall(recallAt(served, exact, probes), k)
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "sim_nnd_incremental" -> ((s: SparkSession, d: String) => nndIncremental(s, d)),
    "sim_nnd_incremental_recall" -> ((s: SparkSession, d: String) => nndIncrementalRecall(s, d)),
    "sim_nndescent_topk" -> ((s: SparkSession, d: String) => nndescentTopK(s, d)),
    "sim_nndescent_recall" -> ((s: SparkSession, d: String) => nndescentRecall(s, d)),
    "sim_graph_search" -> ((s: SparkSession, d: String) => graphSearch(s, d)),
    "sim_graph_search_recall" -> ((s: SparkSession, d: String) => graphSearchRecall(s, d)),
    "sim_ann_filtered"   -> ((s: SparkSession, d: String) => annFiltered(s, d)),
    "sim_cluster_topics" -> ((s: SparkSession, d: String) => clusterTopics(s, d)),
    "sim_ood_rate"       -> ((s: SparkSession, d: String) => oodRate(s, d)),
    "sim_recall_curve"   -> ((s: SparkSession, d: String) => recallCurve(s, d)),
    "sim_matryoshka_recall" -> ((s: SparkSession, d: String) => matryoshkaRecall(s, d)),
    "sim_kmeans_inertia" -> ((s: SparkSession, d: String) => kmeansInertia(s, d)),
    "sim_triplet_mining" -> ((s: SparkSession, d: String) => tripletMining(s, d)),
    "sim_mmr_rerank"     -> ((s: SparkSession, d: String) => mmrRerank(s, d)),
    "sim_pq_topk"        -> ((s: SparkSession, d: String) => pqTopK(s, d)),
    "sim_ivfpq_topk"     -> ((s: SparkSession, d: String) => ivfPqTopK(s, d)),
    "sim_pq_persisted"   -> ((s: SparkSession, d: String) => pqPersisted(s, d)),
    "sim_pq_recall"      -> ((s: SparkSession, d: String) => pqRecall(s, d)),
    "sim_knn_classify"   -> ((s: SparkSession, d: String) => knnClassify(s, d)),
    "sim_centroid_labels" -> centroidPerLabel _,
    "sim_ann_topk"       -> annBruteForceTopK _,
    "sim_range_search"   -> ((s: SparkSession, d: String) => rangeSearch(s, d)),
    "sim_neardup_pairs"  -> nearDupPairs _,
    "sim_ivf_topk"       -> ivfTopK _,
    "sim_ivf_probe2"     -> ivfProbe2TopK _,
    "sim_ivf_multiquery" -> ((s: SparkSession, d: String) => ivfMultiQueryTopK(s, d)),
    "sim_ivf_persisted"  -> ((s: SparkSession, d: String) => ivfMultiQueryPersisted(s, d)),
    "sim_ivf_incremental" -> ((s: SparkSession, d: String) => ivfMultiQueryIncremental(s, d)),
    "sim_ann_multiquery" -> ((s: SparkSession, d: String) => annMultiQueryTopK(s, d)),
    "sim_lsh_neardup"    -> ((s: SparkSession, d: String) => lshNearDup(s, d, 3)),
    "sim_lsh_neardup6"   -> ((s: SparkSession, d: String) => lshNearDup(s, d, 6)),
    "sim_lsh_neardup_auto" -> ((s: SparkSession, d: String) => lshNearDupAuto(s, d)),
    "sim_dedup_groups"   -> ((s: SparkSession, d: String) => embeddingDedupGroups(s, d)),
    "sim_semantic_dedup" -> ((s: SparkSession, d: String) => semanticDedup(s, d)),
    "sim_ivf_recall"     -> ((s: SparkSession, d: String) => ivfMultiQueryRecall(s, d)),
    "sim_sq8_multiquery" -> ((s: SparkSession, d: String) => sq8MultiQueryTopK(s, d)),
    "sim_sq8_recall"     -> ((s: SparkSession, d: String) => sq8Recall(s, d)),
    "sim_ivf_sq8"        -> ((s: SparkSession, d: String) => ivfSq8MultiQuery(s, d)),
  )

  /** DuckDB oracle for [[lshNearDupAuto]]: the plane count comes from the
    * same exact integer thresholds (b = smallest ≥3 with n ≤ 64·2^b),
    * generated as a CASE over count(*), and the bucket is the identical
    * sign-bit string. */
  private def lshAutoOracle(targetBucket: Long = 64L): String = {
    val caseB = (3 until 20)
      .map(b => s"WHEN n <= ${targetBucket << b} THEN $b")
      .mkString("CASE ", " ", " ELSE 20 END")
    s"""WITH params AS (SELECT $caseB AS b FROM (SELECT count(*) AS n FROM embeddings)),
         bk AS (SELECT vec_id, embedding,
                 list_aggregate(list_transform(range(1, (SELECT b FROM params) + 1),
                   i -> CASE WHEN embedding[i] >= 0 THEN '1' ELSE '0' END),
                   'string_agg', '') AS bucket
               FROM embeddings),
         pr AS (SELECT a.bucket, a.vec_id AS id_a, b.vec_id AS id_b,
                  unnest(a.embedding) AS x, unnest(b.embedding) AS y
                FROM bk a JOIN bk b ON a.bucket = b.bucket AND a.vec_id < b.vec_id),
         d AS (SELECT bucket, id_a, id_b,
                 SUM(CAST(round(CAST(x AS DOUBLE) * 1000.0) AS BIGINT)
                   * CAST(round(CAST(y AS DOUBLE) * 1000.0) AS BIGINT)) AS dot,
                 SUM(CAST(round(CAST(x AS DOUBLE) * 1000.0) AS BIGINT)
                   * CAST(round(CAST(x AS DOUBLE) * 1000.0) AS BIGINT)) AS na,
                 SUM(CAST(round(CAST(y AS DOUBLE) * 1000.0) AS BIGINT)
                   * CAST(round(CAST(y AS DOUBLE) * 1000.0) AS BIGINT)) AS nb
               FROM pr GROUP BY bucket, id_a, id_b),
         s AS (SELECT bucket, id_a, id_b,
                 CAST(dot AS DOUBLE) / (sqrt(CAST(na AS DOUBLE)) * sqrt(CAST(nb AS DOUBLE))) AS cos
               FROM d),
         r AS (SELECT bucket, id_a, id_b, cos,
                 row_number() OVER (ORDER BY cos DESC, id_a ASC, id_b ASC) AS rnk FROM s)
         SELECT rnk, bucket, id_a, id_b, cos FROM r WHERE rnk <= 20 ORDER BY rnk"""
  }

  /** DuckDB oracle for [[embeddingDedupGroups]]: the auto-bucket +
    * quantized-cosine pair predicate feeding a recursive-CTE transitive
    * closure — the same walk shape as the document dedup-groups oracle. */
  private def embeddingGroupsOracle(threshold: Double = 0.4,
                                    targetBucket: Long = 64L): String = {
    val caseB = (3 until 20)
      .map(b => s"WHEN n <= ${targetBucket << b} THEN $b")
      .mkString("CASE ", " ", " ELSE 20 END")
    s"""WITH RECURSIVE params AS (SELECT $caseB AS b FROM (SELECT count(*) AS n FROM embeddings)),
         bk AS (SELECT vec_id, embedding,
                 list_aggregate(list_transform(range(1, (SELECT b FROM params) + 1),
                   i -> CASE WHEN embedding[i] >= 0 THEN '1' ELSE '0' END),
                   'string_agg', '') AS bucket
               FROM embeddings),
         pr AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                  unnest(a.embedding) AS x, unnest(b.embedding) AS y
                FROM bk a JOIN bk b ON a.bucket = b.bucket AND a.vec_id < b.vec_id),
         d AS (SELECT id_a, id_b,
                 SUM(CAST(round(CAST(x AS DOUBLE) * 1000.0) AS BIGINT)
                   * CAST(round(CAST(y AS DOUBLE) * 1000.0) AS BIGINT)) AS dot,
                 SUM(CAST(round(CAST(x AS DOUBLE) * 1000.0) AS BIGINT)
                   * CAST(round(CAST(x AS DOUBLE) * 1000.0) AS BIGINT)) AS na,
                 SUM(CAST(round(CAST(y AS DOUBLE) * 1000.0) AS BIGINT)
                   * CAST(round(CAST(y AS DOUBLE) * 1000.0) AS BIGINT)) AS nb
               FROM pr GROUP BY id_a, id_b),
         p AS (SELECT id_a, id_b FROM d
               WHERE CAST(dot AS DOUBLE) / (sqrt(CAST(na AS DOUBLE)) * sqrt(CAST(nb AS DOUBLE)))
                     >= $threshold),
         edges AS (SELECT id_a AS src, id_b AS dst FROM p
                   UNION ALL SELECT id_b, id_a FROM p),
         walk AS (
           SELECT vec_id AS node, vec_id AS label FROM embeddings
           UNION
           SELECT e.dst AS node, w.label AS label
           FROM walk w JOIN edges e ON w.node = e.src),
         comp AS (SELECT node, min(label) AS group_id FROM walk GROUP BY node),
         sizes AS (SELECT group_id, count(*) AS group_size FROM comp GROUP BY group_id)
         SELECT c.node AS vec_id, c.group_id, s.group_size,
                c.node = c.group_id AS is_canonical
         FROM comp c JOIN sizes s ON c.group_id = s.group_id
         ORDER BY vec_id"""
  }

  /** DuckDB oracle for [[lshNearDup]] at any plane count — generated from
    * the same bucket formula the Spark side uses. */
  private def lshOracle(planes: Int): String = {
    val bucketSql = (1 to planes)
      .map(i => s"CAST(embedding[$i] >= 0 AS BIGINT) * ${1L << (planes - i)}")
      .mkString(" + ")
    s"""WITH bk AS (SELECT vec_id, embedding, $bucketSql AS bucket
               FROM embeddings),
         pr AS (SELECT a.bucket, a.vec_id AS id_a, b.vec_id AS id_b,
                  unnest(a.embedding) AS x, unnest(b.embedding) AS y
                FROM bk a JOIN bk b ON a.bucket = b.bucket AND a.vec_id < b.vec_id),
         d AS (SELECT bucket, id_a, id_b,
                 SUM(CAST(round(CAST(x AS DOUBLE) * 1000.0) AS BIGINT)
                   * CAST(round(CAST(y AS DOUBLE) * 1000.0) AS BIGINT)) AS dot,
                 SUM(CAST(round(CAST(x AS DOUBLE) * 1000.0) AS BIGINT)
                   * CAST(round(CAST(x AS DOUBLE) * 1000.0) AS BIGINT)) AS na,
                 SUM(CAST(round(CAST(y AS DOUBLE) * 1000.0) AS BIGINT)
                   * CAST(round(CAST(y AS DOUBLE) * 1000.0) AS BIGINT)) AS nb
               FROM pr GROUP BY bucket, id_a, id_b),
         s AS (SELECT bucket, id_a, id_b,
                 CAST(dot AS DOUBLE) / (sqrt(CAST(na AS DOUBLE)) * sqrt(CAST(nb AS DOUBLE))) AS cos
               FROM d),
         r AS (SELECT bucket, id_a, id_b, cos,
                 row_number() OVER (ORDER BY cos DESC, id_a ASC, id_b ASC) AS rnk FROM s)
         SELECT rnk, bucket, id_a, id_b, cos FROM r WHERE rnk <= 20 ORDER BY rnk"""
  }

  /** DuckDB replay of [[fitIvfCentroids]] + the full-table assignment —
    * generated per iteration so the oracle and the Scala trainer cannot
    * drift. Produces CTEs `ranked` (all vectors × cells with rank) and
    * `assigned` (winning cell per vector) over the FITTED centroids. */
  private def ivfFitCtes(iters: Int = 2, recursive: Boolean = false): String = {
    def iter(n: Int): String = {
      val prev = s"c${n - 1}"
      s"""p$n AS (SELECT s.vec_id, c.cent_id, unnest(s.qv) AS x, unnest(c.cv) AS y
                FROM samp s, $prev c),
         d$n AS (SELECT vec_id, cent_id, SUM(x*y) AS dot, SUM(x*x) AS na, SUM(y*y) AS nb
                 FROM p$n GROUP BY vec_id, cent_id),
         a$n AS (SELECT vec_id, cent_id FROM (
                   SELECT vec_id, cent_id, row_number() OVER (PARTITION BY vec_id ORDER BY
                     CAST(dot AS DOUBLE) / (sqrt(CAST(na AS DOUBLE)) * sqrt(CAST(nb AS DOUBLE))) DESC,
                     cent_id ASC) AS rn FROM d$n) WHERE rn = 1),
         m$n AS (SELECT a.cent_id, u.j,
                   CAST(round(CAST(SUM(u.x) AS DOUBLE) / count(*)) AS BIGINT) AS cx
                 FROM a$n a JOIN (SELECT vec_id, unnest(qv) AS x,
                                    unnest(range(len(qv))) AS j FROM samp) u
                   ON a.vec_id = u.vec_id
                 GROUP BY a.cent_id, u.j),
         c$n AS (SELECT c.cent_id, coalesce(m.cv, c.cv) AS cv
                 FROM $prev c LEFT JOIN
                   (SELECT cent_id, list(cx ORDER BY j) AS cv FROM m$n GROUP BY cent_id) m
                   ON c.cent_id = m.cent_id),"""
    }
    s"""WITH ${if (recursive) "RECURSIVE " else ""}samp AS (
           SELECT vec_id, list_transform(embedding,
             x -> CAST(round(CAST(x AS DOUBLE) * 1000.0) AS BIGINT)) AS qv
           FROM embeddings WHERE vec_id < 256),
         c0 AS (SELECT vec_id AS cent_id, qv AS cv FROM samp WHERE vec_id BETWEEN 1 AND 8),
         ${(1 to iters).map(iter).mkString("\n         ")}
         qall AS (SELECT vec_id, list_transform(embedding,
             x -> CAST(round(CAST(x AS DOUBLE) * 1000.0) AS BIGINT)) AS qv
           FROM embeddings),
         pa AS (SELECT e.vec_id, c.cent_id, unnest(e.qv) AS x, unnest(c.cv) AS y
                FROM qall e, c$iters c),
         da AS (SELECT vec_id, cent_id, SUM(x*y) AS dot, SUM(x*x) AS na, SUM(y*y) AS nb
                FROM pa GROUP BY vec_id, cent_id),
         ranked AS (SELECT vec_id, cent_id AS cell,
                  row_number() OVER (PARTITION BY vec_id ORDER BY
                    CAST(dot AS DOUBLE) / (sqrt(CAST(na AS DOUBLE)) * sqrt(CAST(nb AS DOUBLE))) DESC,
                    cent_id ASC) AS rn FROM da),
         assigned AS (SELECT vec_id, cell FROM ranked WHERE rn = 1),"""
  }

  /** Candidate scoring + final top-k suffix shared by both IVF oracles
    * (float-vs-float quantized cosine to the vec_id=0 query). */
  private val ivfScoreSuffix: String =
    """qp AS (SELECT c.vec_id, c.cell, unnest(e.embedding) AS x, unnest(q.embedding) AS y
                FROM cand c
                JOIN embeddings e ON e.vec_id = c.vec_id
                JOIN embeddings q ON q.vec_id = 0),
         qd AS (SELECT vec_id, cell,
                 SUM(CAST(round(CAST(x AS DOUBLE) * 1000.0) AS BIGINT)
                   * CAST(round(CAST(y AS DOUBLE) * 1000.0) AS BIGINT)) AS dot,
                 SUM(CAST(round(CAST(x AS DOUBLE) * 1000.0) AS BIGINT)
                   * CAST(round(CAST(x AS DOUBLE) * 1000.0) AS BIGINT)) AS na,
                 SUM(CAST(round(CAST(y AS DOUBLE) * 1000.0) AS BIGINT)
                   * CAST(round(CAST(y AS DOUBLE) * 1000.0) AS BIGINT)) AS nb
               FROM qp GROUP BY vec_id, cell),
         s AS (SELECT vec_id, cell,
                 CAST(dot AS DOUBLE) / (sqrt(CAST(na AS DOUBLE)) * sqrt(CAST(nb AS DOUBLE))) AS cos
               FROM qd),
         r AS (SELECT vec_id, cell, cos,
                 row_number() OVER (ORDER BY cos DESC, vec_id ASC) AS rnk FROM s)
         SELECT rnk, vec_id, cell, cos FROM r WHERE rnk <= 10 ORDER BY rnk"""

  // full-statement oracles reused as CTE subqueries by the recall oracle
  private lazy val ivfMultiOracle: String = ivfMultiOracleK(5)

  private def ivfMultiOracleK(k: Int): String =
    s"""${ivfFitCtes()}
         qs AS (SELECT vec_id AS q_id, cell AS qcell FROM assigned WHERE vec_id < 20),
         cand AS (SELECT q.q_id, a.vec_id FROM assigned a
                  JOIN qs q ON a.cell = q.qcell AND a.vec_id <> q.q_id),
         qp AS (SELECT c.q_id, c.vec_id,
                  unnest(e.embedding) AS x, unnest(qq.embedding) AS y
                FROM cand c
                JOIN embeddings e ON e.vec_id = c.vec_id
                JOIN embeddings qq ON qq.vec_id = c.q_id),
         qd AS (SELECT q_id, vec_id,
                 SUM(CAST(round(CAST(x AS DOUBLE) * 1000.0) AS BIGINT)
                   * CAST(round(CAST(y AS DOUBLE) * 1000.0) AS BIGINT)) AS dot,
                 SUM(CAST(round(CAST(x AS DOUBLE) * 1000.0) AS BIGINT)
                   * CAST(round(CAST(x AS DOUBLE) * 1000.0) AS BIGINT)) AS na,
                 SUM(CAST(round(CAST(y AS DOUBLE) * 1000.0) AS BIGINT)
                   * CAST(round(CAST(y AS DOUBLE) * 1000.0) AS BIGINT)) AS nb
               FROM qp GROUP BY q_id, vec_id),
         sc AS (SELECT q_id, vec_id,
                 CAST(dot AS DOUBLE) / (sqrt(CAST(na AS DOUBLE)) * sqrt(CAST(nb AS DOUBLE))) AS cos
               FROM qd),
         rr AS (SELECT q_id, vec_id, cos,
                 row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id ASC) AS rnk
               FROM sc)
         SELECT q_id, rnk, vec_id, cos FROM rr WHERE rnk <= $k
         ORDER BY q_id, rnk"""

  /** DuckDB replay of the SQ8 compress→score→top-k path — the identical
    * integer quantization (milli components, per-vector max-abs ≥ 1,
    * round-half-up code with nonnegative `//` operands) so codes match
    * bit-for-bit, then the same int8 dot + per-query top-5. */
  private lazy val sq8MultiOracle: String =
    """WITH m AS (SELECT vec_id, list_transform(embedding,
             x -> CAST(round(CAST(x AS DOUBLE) * 1000.0) AS BIGINT)) AS mv
           FROM embeddings),
         s AS (SELECT vec_id, mv,
                 greatest(list_reduce(list_transform(mv, x -> abs(x)),
                   (a, b) -> greatest(a, b)), 1) AS ma
               FROM m),
         c AS (SELECT vec_id, list_transform(mv,
                 x -> CASE WHEN x >= 0 THEN (2*x*127 + ma) // (2*ma)
                      ELSE -((2*(-x)*127 + ma) // (2*ma)) END) AS cv
               FROM s),
         n AS (SELECT vec_id, cv,
                 list_reduce(list_transform(cv, x -> x*x), (a, b) -> a + b) AS n8
               FROM c),
         qs AS (SELECT vec_id AS q_id, cv AS qv, n8 AS qn FROM n WHERE vec_id < 20),
         p AS (SELECT q.q_id, e.vec_id, unnest(e.cv) AS x, unnest(q.qv) AS y
               FROM n e, qs q WHERE e.vec_id <> q.q_id),
         d AS (SELECT q_id, vec_id, SUM(x*y) AS dot FROM p GROUP BY q_id, vec_id),
         sc AS (SELECT d.q_id, d.vec_id,
                  CAST(d.dot AS DOUBLE)
                    / (sqrt(CAST(e.n8 AS DOUBLE)) * sqrt(CAST(q.qn AS DOUBLE))) AS cos
                FROM d JOIN n e ON d.vec_id = e.vec_id JOIN qs q ON d.q_id = q.q_id),
         r AS (SELECT q_id, vec_id, cos,
                 row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id ASC) AS rnk
               FROM sc)
         SELECT q_id, rnk, vec_id, cos FROM r WHERE rnk <= 5 ORDER BY q_id, rnk"""

  /** CTE fragment: EXACT multi-query cosine ranking (milli-quantized,
    * identical to [[annMultiQueryTopK]]'s scoring) over probe vectors
    * `vec_id < bound`, with v-prefixed names so composing oracles
    * (the hybrid-RRF fusion in TextAnalysis) can embed it next to their
    * own CTEs. Ends at `vr(q_id, vec_id, cos, rnk)`. */
  private[graft] def annMultiVecCtes(bound: Int): String =
    s"""vqs AS (SELECT vec_id AS q_id, embedding AS qe FROM embeddings WHERE vec_id < $bound),
         vp AS (SELECT q.q_id, e.vec_id, unnest(e.embedding) AS x, unnest(q.qe) AS y
               FROM embeddings e, vqs q WHERE e.vec_id <> q.q_id),
         vd AS (SELECT q_id, vec_id,
                 SUM(CAST(round(CAST(x AS DOUBLE) * 1000.0) AS BIGINT)
                   * CAST(round(CAST(y AS DOUBLE) * 1000.0) AS BIGINT)) AS dot,
                 SUM(CAST(round(CAST(x AS DOUBLE) * 1000.0) AS BIGINT)
                   * CAST(round(CAST(x AS DOUBLE) * 1000.0) AS BIGINT)) AS na,
                 SUM(CAST(round(CAST(y AS DOUBLE) * 1000.0) AS BIGINT)
                   * CAST(round(CAST(y AS DOUBLE) * 1000.0) AS BIGINT)) AS nb
               FROM vp GROUP BY q_id, vec_id),
         vs AS (SELECT q_id, vec_id,
                 CAST(dot AS DOUBLE) / (sqrt(CAST(na AS DOUBLE)) * sqrt(CAST(nb AS DOUBLE))) AS cos
               FROM vd),
         vr AS (SELECT q_id, vec_id, cos,
                 row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id ASC) AS rnk
               FROM vs)"""

  private lazy val annMultiOracle: String = annMultiOracleK(5)

  private def annMultiOracleK(k: Int): String =
    s"""WITH ${annMultiVecCtes(20)}
         SELECT q_id, rnk, vec_id, cos FROM vr WHERE rnk <= $k ORDER BY q_id, rnk"""

  /** Closed-form PQ index CTEs (sampled codebooks, integer L2 codes,
    * ADC lookup) without the final scoring — shared by the PQ oracles
    * and, composed with [[ivfFitCtes]], by the IVF-PQ oracle. */
  private lazy val pqCtes: String =
    """mv AS (
           SELECT vec_id, list_transform(embedding,
             x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS mv
           FROM embeddings),
         dims AS (SELECT len(mv) // 4 AS sl FROM mv LIMIT 1),
         sub AS (SELECT v.vec_id, u.m,
                        list_slice(v.mv, u.m * s.sl + 1, (u.m + 1) * s.sl) AS sv
                 FROM mv v, (SELECT unnest(range(4)) AS m) u, dims s),
         cb AS (SELECT vec_id AS cent_id, m, sv AS cw FROM sub
                WHERE vec_id BETWEEN 1 AND 16),
         l2 AS (SELECT s.vec_id, s.m, c.cent_id,
                  list_sum(list_transform(range(1, len(s.sv) + 1),
                    i -> (s.sv[i] - c.cw[i]) * (s.sv[i] - c.cw[i]))) AS dist
                FROM sub s JOIN cb c ON s.m = c.m),
         codes AS (SELECT vec_id, m, cent_id FROM (
                     SELECT vec_id, m, cent_id, row_number() OVER
                       (PARTITION BY vec_id, m ORDER BY dist ASC, cent_id ASC) AS rn
                     FROM l2) WHERE rn = 1),
         adc AS (SELECT s.vec_id AS q_id, s.m, c.cent_id,
                   list_sum(list_transform(range(1, len(s.sv) + 1),
                     i -> s.sv[i] * c.cw[i])) AS pdot
                 FROM sub s JOIN cb c ON s.m = c.m WHERE s.vec_id < 8)"""

  /** Full PQ replay: the shared CTEs + unrestricted ADC scoring. */
  private lazy val pqCoreSql: String =
    s"""WITH $pqCtes,
         sc AS (SELECT a.q_id, co.vec_id, CAST(sum(a.pdot) AS BIGINT) AS score_adc
                FROM codes co JOIN adc a ON co.m = a.m AND co.cent_id = a.cent_id
                WHERE co.vec_id <> a.q_id
                GROUP BY 1, 2),
         r AS (SELECT q_id, vec_id, score_adc,
                 CAST(row_number() OVER (PARTITION BY q_id
                   ORDER BY score_adc DESC, vec_id ASC) AS BIGINT) AS rnk
               FROM sc)
         SELECT q_id, rnk, vec_id, score_adc FROM r WHERE rnk <= 5"""

  /** NN-descent replay CTEs: same ring seed (vec_id + j·17 mod n), same
    * neighbors-of-neighbors candidate generation per round, same
    * quantized-integer scoring and (cos desc, v asc) top-k. Ends at
    * `k_<rounds>(u, v, cos, rn)`. Per-round rank CTEs are MATERIALIZED
    * (chained single-reference CTEs otherwise inline into a planner
    * blow-up — the unrolled-PageRank lesson). */
  private def nndescentCtes(k: Int, rounds: Int, where: String = "TRUE"): String = {
    def scoreCtes(src: String, i: Int): String =
      s"""p_$i AS (SELECT s.u, s.v, unnest(a.qv) AS x, unnest(b.qv) AS y
                FROM $src s JOIN nq a ON s.u = a.vec_id JOIN nq b ON s.v = b.vec_id),
         d_$i AS (SELECT u, v, SUM(x*y) AS dot, SUM(x*x) AS na, SUM(y*y) AS nb
                FROM p_$i GROUP BY u, v),
         s_$i AS (SELECT u, v,
                  CAST(dot AS DOUBLE) / (sqrt(CAST(na AS DOUBLE)) * sqrt(CAST(nb AS DOUBLE))) AS cos
                FROM d_$i),
         k_$i AS MATERIALIZED (SELECT u, v, cos, rn FROM (
                  SELECT u, v, cos, row_number() OVER
                    (PARTITION BY u ORDER BY cos DESC, v ASC) AS rn
                  FROM s_$i) WHERE rn <= $k)"""
    val roundCtes = (1 to rounds).map { r =>
      val p = r - 1
      s"""u_$r AS (SELECT u, v FROM k_$p UNION SELECT v, u FROM k_$p),
         c_$r AS (SELECT a.u, b.v FROM u_$r a JOIN u_$r b ON a.v = b.u AND a.u <> b.v
                  UNION SELECT u, v FROM k_$p),
         ${scoreCtes(s"c_$r", r)}"""
    }.mkString(",\n         ")
    s"""nq AS (SELECT vec_id, list_transform(embedding,
             x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS qv
           FROM embeddings WHERE $where),
         nn AS (SELECT count(*) AS n FROM embeddings WHERE $where),
         c_0 AS (SELECT DISTINCT q.vec_id AS u, (q.vec_id + j.j * 17) % nn.n AS v
                 FROM nq q, nn, (SELECT unnest(range(1, ${k + 1})) AS j) j
                 WHERE (q.vec_id + j.j * 17) % nn.n <> q.vec_id),
         ${scoreCtes("c_0", 0)},
         $roundCtes"""
  }

  private def nndescentTopkOracle(k: Int = 10, rounds: Int = 3): String =
    s"""WITH ${nndescentCtes(k, rounds)}
         SELECT u AS q_id, rn AS rnk, v AS vec_id, cos
         FROM k_$rounds WHERE u < 20 ORDER BY q_id, rnk"""

  /** Beam-search replay over the [[nndescentCtes]] graph: same
    * undirected degree-capped adjacency (edge-cos desc, v asc), same
    * self-anchored frontier, same per-hop candidate ∪ frontier set,
    * same (cos desc, v asc) beam rule. Ends at `gs_<hops>` (the last
    * hop's scored candidates). */
  private def graphSearchCtes(beam: Int, hops: Int, adjCap: Int,
                              kG: Int, rounds: Int): String = {
    val hopCtes = (1 to hops).map { h =>
      val p = h - 1
      s"""gc_$h AS (SELECT DISTINCT q_id, v FROM (
                  SELECT f.q_id, a.dst AS v
                  FROM gf_$p f JOIN gadj a ON f.v = a.src
                  UNION ALL SELECT q_id, v FROM gf_$p)),
         gp_$h AS (SELECT c.q_id, c.v, unnest(a.qv) AS x, unnest(b.qv) AS y
                  FROM gc_$h c JOIN nq a ON c.v = a.vec_id
                               JOIN nq b ON c.q_id = b.vec_id),
         gd_$h AS (SELECT q_id, v, SUM(x*y) AS dot, SUM(x*x) AS na, SUM(y*y) AS nb
                  FROM gp_$h GROUP BY q_id, v),
         gs_$h AS MATERIALIZED (SELECT q_id, v,
                  CAST(dot AS DOUBLE) / (sqrt(CAST(na AS DOUBLE)) * sqrt(CAST(nb AS DOUBLE))) AS cos
                  FROM gd_$h),
         gf_$h AS MATERIALIZED (SELECT q_id, v FROM (
                  SELECT q_id, v, cos, row_number() OVER
                    (PARTITION BY q_id ORDER BY cos DESC, v ASC) AS rn
                  FROM gs_$h) WHERE rn <= $beam)"""
    }.mkString(",\n         ")
    s"""${nndescentCtes(kG, rounds)},
         gund AS (SELECT u, v, max(cos) AS ecos FROM (
                   SELECT u, v, cos FROM k_$rounds
                   UNION ALL SELECT v, u, cos FROM k_$rounds)
                 GROUP BY u, v),
         gadj AS (SELECT u AS src, v AS dst FROM (
                   SELECT u, v, row_number() OVER
                     (PARTITION BY u ORDER BY ecos DESC, v ASC) AS rn
                   FROM gund) WHERE rn <= $adjCap),
         gf_0 AS (SELECT vec_id AS q_id, vec_id AS v FROM embeddings
                  WHERE vec_id < 20),
         $hopCtes"""
  }

  private def graphSearchOracle(beam: Int = 8, hops: Int = 3, kOut: Int = 5,
                                adjCap: Int = 16, kG: Int = 10,
                                rounds: Int = 3): String =
    s"""WITH ${graphSearchCtes(beam, hops, adjCap, kG, rounds)}
         SELECT q_id, rn AS rnk, v AS vec_id, cos FROM (
           SELECT q_id, v, cos, row_number() OVER
             (PARTITION BY q_id ORDER BY cos DESC, v ASC) AS rn
           FROM gs_$hops WHERE v <> q_id) WHERE rn <= $kOut
         ORDER BY q_id, rnk"""

  private def graphSearchRecallOracle(beam: Int = 8, hops: Int = 3,
                                      kOut: Int = 5, adjCap: Int = 16,
                                      kG: Int = 10, rounds: Int = 3): String =
    s"""WITH ${graphSearchCtes(beam, hops, adjCap, kG, rounds)},
         srv AS (SELECT q_id, v FROM (
                   SELECT q_id, v, row_number() OVER
                     (PARTITION BY q_id ORDER BY cos DESC, v ASC) AS rn
                   FROM gs_$hops WHERE v <> q_id) WHERE rn <= $kOut),
         ${annMultiVecCtes(20)},
         hits AS (SELECT count(*) AS n_hits
                  FROM srv s JOIN vr b
                    ON s.q_id = b.q_id AND s.v = b.vec_id AND b.rnk <= $kOut),
         qn AS (SELECT count(*) AS n_queries FROM embeddings WHERE vec_id < 20)
         SELECT qn.n_queries, hits.n_hits,
                hits.n_hits * 1000000 // (qn.n_queries * $kOut) AS recall_ppm
         FROM hits, qn"""

  /** Incremental-insert replay: the corpus-only NN-descent build
    * ([[nndescentCtes]] filtered to vec_id % 7 ≠ 0), the same
    * degree-capped adjacency, the same entry-anchored beam hops scored
    * against the batch embedding, the same seed top-k and one
    * neighbors-of-neighbors refinement. Restricted to probe batch
    * nodes — valid because each node's insert is independent of every
    * other batch node (see [[nndIncremental]]). Ends at
    * `rs(q_id, v, cos)` (the refinement round's scored candidates). */
  private def nndIncrementalCtes(k: Int = 10, rounds: Int = 3,
                                 adjCap: Int = 16, beam: Int = 8,
                                 hops: Int = 4, nEntries: Int = 8,
                                 probeBound: Long = 140L): String = {
    val hopCtes = (1 to hops).map { h =>
      val p = h - 1
      s"""bc_$h AS (SELECT DISTINCT q_id, v FROM (
                  SELECT f.q_id, a.dst AS v
                  FROM bf_$p f JOIN iadj a ON f.v = a.src
                  UNION ALL SELECT q_id, v FROM bf_$p)),
         bp_$h AS (SELECT c.q_id, c.v, unnest(a.qv) AS x, unnest(b.qv) AS y
                  FROM bc_$h c JOIN nq a ON c.v = a.vec_id
                               JOIN ibq b ON c.q_id = b.vec_id),
         bd_$h AS (SELECT q_id, v, SUM(x*y) AS dot, SUM(x*x) AS na, SUM(y*y) AS nb
                  FROM bp_$h GROUP BY q_id, v),
         bs_$h AS MATERIALIZED (SELECT q_id, v,
                  CAST(dot AS DOUBLE) / (sqrt(CAST(na AS DOUBLE)) * sqrt(CAST(nb AS DOUBLE))) AS cos
                  FROM bd_$h),
         bf_$h AS MATERIALIZED (SELECT q_id, v FROM (
                  SELECT q_id, v, cos, row_number() OVER
                    (PARTITION BY q_id ORDER BY cos DESC, v ASC) AS rn
                  FROM bs_$h) WHERE rn <= $beam)"""
    }.mkString(",\n         ")
    s"""${nndescentCtes(k, rounds, "vec_id % 7 <> 0")},
         iund AS (SELECT u, v, max(cos) AS ecos FROM (
                   SELECT u, v, cos FROM k_$rounds
                   UNION ALL SELECT v, u, cos FROM k_$rounds)
                 GROUP BY u, v),
         iadj AS (SELECT u AS src, v AS dst FROM (
                   SELECT u, v, row_number() OVER
                     (PARTITION BY u ORDER BY ecos DESC, v ASC) AS rn
                   FROM iund) WHERE rn <= $adjCap),
         ibq AS (SELECT vec_id, list_transform(embedding,
                 x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS qv
                FROM embeddings WHERE vec_id % 7 = 0 AND vec_id < $probeBound),
         ent AS (SELECT vec_id AS v FROM embeddings
                 WHERE vec_id % 7 <> 0 ORDER BY vec_id LIMIT $nEntries),
         bf_0 AS (SELECT b.vec_id AS q_id, e.v FROM ibq b, ent e),
         $hopCtes,
         bk0 AS (SELECT q_id, v FROM (
                  SELECT q_id, v, cos, row_number() OVER
                    (PARTITION BY q_id ORDER BY cos DESC, v ASC) AS rn
                  FROM bs_$hops) WHERE rn <= $k),
         rc AS (SELECT DISTINCT q_id, v FROM (
                  SELECT s.q_id, a.dst AS v FROM bk0 s JOIN iadj a ON s.v = a.src
                  UNION ALL SELECT q_id, v FROM bk0)),
         rp AS (SELECT c.q_id, c.v, unnest(a.qv) AS x, unnest(b.qv) AS y
                FROM rc c JOIN nq a ON c.v = a.vec_id
                          JOIN ibq b ON c.q_id = b.vec_id),
         rd AS (SELECT q_id, v, SUM(x*y) AS dot, SUM(x*x) AS na, SUM(y*y) AS nb
                FROM rp GROUP BY q_id, v),
         rs AS (SELECT q_id, v,
                CAST(dot AS DOUBLE) / (sqrt(CAST(na AS DOUBLE)) * sqrt(CAST(nb AS DOUBLE))) AS cos
                FROM rd)"""
  }

  private def nndIncrementalOracle(k: Int = 10): String =
    s"""WITH ${nndIncrementalCtes(k)}
         SELECT q_id, rn AS rnk, v AS vec_id, cos FROM (
           SELECT q_id, v, cos, row_number() OVER
             (PARTITION BY q_id ORDER BY cos DESC, v ASC) AS rn
           FROM rs) WHERE rn <= $k
         ORDER BY q_id, rnk"""

  private def nndIncrementalRecallOracle(k: Int = 10,
                                         probeBound: Long = 140L): String =
    s"""WITH ${nndIncrementalCtes(k)},
         srv AS (SELECT q_id, v FROM (
                   SELECT q_id, v, row_number() OVER
                     (PARTITION BY q_id ORDER BY cos DESC, v ASC) AS rn
                   FROM rs) WHERE rn <= $k),
         bvp AS (SELECT q.vec_id AS q_id, e.vec_id,
                   unnest(e.embedding) AS x, unnest(q.embedding) AS y
                 FROM embeddings e, embeddings q
                 WHERE e.vec_id % 7 <> 0
                   AND q.vec_id % 7 = 0 AND q.vec_id < $probeBound),
         bvd AS (SELECT q_id, vec_id,
                 SUM(CAST(round(CAST(x AS DOUBLE) * 1000.0) AS BIGINT)
                   * CAST(round(CAST(y AS DOUBLE) * 1000.0) AS BIGINT)) AS dot,
                 SUM(CAST(round(CAST(x AS DOUBLE) * 1000.0) AS BIGINT)
                   * CAST(round(CAST(x AS DOUBLE) * 1000.0) AS BIGINT)) AS na,
                 SUM(CAST(round(CAST(y AS DOUBLE) * 1000.0) AS BIGINT)
                   * CAST(round(CAST(y AS DOUBLE) * 1000.0) AS BIGINT)) AS nb
               FROM bvp GROUP BY q_id, vec_id),
         bvr AS (SELECT q_id, vec_id,
                 row_number() OVER (PARTITION BY q_id
                   ORDER BY CAST(dot AS DOUBLE)
                     / (sqrt(CAST(na AS DOUBLE)) * sqrt(CAST(nb AS DOUBLE))) DESC,
                   vec_id ASC) AS rnk
               FROM bvd),
         hits AS (SELECT count(*) AS n_hits
                  FROM srv s JOIN bvr b
                    ON s.q_id = b.q_id AND s.v = b.vec_id AND b.rnk <= $k),
         qn AS (SELECT count(*) AS n_queries FROM embeddings
                WHERE vec_id % 7 = 0 AND vec_id < $probeBound)
         SELECT qn.n_queries, hits.n_hits,
                hits.n_hits * 1000000 // (qn.n_queries * $k) AS recall_ppm
         FROM hits, qn"""

  private def nndescentRecallOracle(k: Int = 10, rounds: Int = 3): String =
    s"""WITH ${nndescentCtes(k, rounds)},
         ${annMultiVecCtes(20)},
         hits AS (SELECT count(*) AS n_hits
                  FROM k_$rounds f JOIN vr b
                    ON f.u = b.q_id AND f.v = b.vec_id AND b.rnk <= $k
                  WHERE f.u < 20),
         qn AS (SELECT count(*) AS n_queries FROM embeddings WHERE vec_id < 20)
         SELECT qn.n_queries, hits.n_hits,
                hits.n_hits * 1000000 // (qn.n_queries * $k) AS recall_ppm
         FROM hits, qn"""

  val oracles: Map[String, String] = Map(
    "sim_nnd_incremental" -> nndIncrementalOracle(),
    "sim_nnd_incremental_recall" -> nndIncrementalRecallOracle(),
    "sim_nndescent_topk" -> nndescentTopkOracle(),
    "sim_nndescent_recall" -> nndescentRecallOracle(),
    "sim_graph_search" -> graphSearchOracle(),
    "sim_graph_search_recall" -> graphSearchRecallOracle(),
    // same broadcast-anchor cosine, same (cos desc|asc, vec_id) top-1
    // per side, same float violation compare
    "sim_triplet_mining" ->
      """WITH q AS (SELECT vec_id AS q_id, label AS q_label, embedding AS qe
                    FROM embeddings WHERE vec_id < 20),
         p AS (SELECT e.vec_id, e.label, q.q_id, q.q_label,
                 unnest(e.embedding) AS x, unnest(q.qe) AS y
               FROM embeddings e JOIN q ON e.vec_id <> q.q_id),
         d AS (SELECT q_id, q_label, vec_id, label,
                 SUM(CAST(round(CAST(x AS DOUBLE) * 1000.0) AS BIGINT)
                   * CAST(round(CAST(y AS DOUBLE) * 1000.0) AS BIGINT)) AS dot,
                 SUM(CAST(round(CAST(x AS DOUBLE) * 1000.0) AS BIGINT)
                   * CAST(round(CAST(x AS DOUBLE) * 1000.0) AS BIGINT)) AS na,
                 SUM(CAST(round(CAST(y AS DOUBLE) * 1000.0) AS BIGINT)
                   * CAST(round(CAST(y AS DOUBLE) * 1000.0) AS BIGINT)) AS nb
               FROM p GROUP BY 1, 2, 3, 4),
         s AS (SELECT q_id, q_label, vec_id, label,
                 CAST(dot AS DOUBLE) / (sqrt(CAST(na AS DOUBLE)) * sqrt(CAST(nb AS DOUBLE))) AS cos
               FROM d),
         neg AS (SELECT q_id, vec_id, cos,
                   row_number() OVER (PARTITION BY q_id
                     ORDER BY cos DESC, vec_id ASC) AS rn
                 FROM s WHERE label <> q_label),
         pos AS (SELECT q_id, vec_id, cos,
                   row_number() OVER (PARTITION BY q_id
                     ORDER BY cos ASC, vec_id ASC) AS rn
                 FROM s WHERE label = q_label)
         SELECT q.q_id, q.q_label AS label,
                pos.vec_id AS hard_pos_id, pos.cos AS pos_cos,
                neg.vec_id AS hard_neg_id, neg.cos AS neg_cos,
                neg.cos > pos.cos AS violation
         FROM q
         JOIN neg ON q.q_id = neg.q_id AND neg.rn = 1
         JOIN pos ON q.q_id = pos.q_id AND pos.rn = 1
         ORDER BY q.q_id""",
    "sim_mmr_rerank" -> mmrOracle(),
    "sim_kmeans_inertia" -> kmeansInertiaOracle(),
    // same label-equality pre-filter inside the probe join, same
    // (cos desc, vec_id) per-query top-5
    "sim_ann_filtered" ->
      """WITH q AS (SELECT vec_id AS q_id, label AS q_label, embedding AS qe
                    FROM embeddings WHERE vec_id < 10),
         p AS (SELECT e.vec_id, q.q_id,
                 unnest(e.embedding) AS x, unnest(q.qe) AS y
               FROM embeddings e JOIN q
                 ON e.vec_id <> q.q_id AND e.label = q.q_label),
         d AS (SELECT q_id, vec_id,
                 SUM(CAST(round(CAST(x AS DOUBLE) * 1000.0) AS BIGINT)
                   * CAST(round(CAST(y AS DOUBLE) * 1000.0) AS BIGINT)) AS dot,
                 SUM(CAST(round(CAST(x AS DOUBLE) * 1000.0) AS BIGINT)
                   * CAST(round(CAST(x AS DOUBLE) * 1000.0) AS BIGINT)) AS na,
                 SUM(CAST(round(CAST(y AS DOUBLE) * 1000.0) AS BIGINT)
                   * CAST(round(CAST(y AS DOUBLE) * 1000.0) AS BIGINT)) AS nb
               FROM p GROUP BY 1, 2),
         s AS (SELECT q_id, vec_id,
                 CAST(dot AS DOUBLE) / (sqrt(CAST(na AS DOUBLE)) * sqrt(CAST(nb AS DOUBLE))) AS cos
               FROM d),
         r AS (SELECT q_id, vec_id, cos,
                 row_number() OVER (PARTITION BY q_id
                   ORDER BY cos DESC, vec_id ASC) AS rnk
               FROM s)
         SELECT q_id, rnk, vec_id, cos FROM r WHERE rnk <= 5
         ORDER BY q_id, rnk""",
    // same fit replay + assignment, same tf·icf ratio and per-cell
    // (score desc, token asc) top-3
    "sim_cluster_topics" -> s"""${ivfFitCtes()}
         tok AS (SELECT d.doc_id,
                   unnest(list_filter(string_split(lower(d.text), ' '),
                                      x -> len(x) > 0)) AS token
                 FROM documents d),
         tf AS (SELECT a.cell, t.token, CAST(count(*) AS BIGINT) AS tf
                FROM tok t JOIN assigned a ON t.doc_id = a.vec_id
                GROUP BY 1, 2),
         cf AS (SELECT token, CAST(count(*) AS BIGINT) AS n_cells_with
                FROM tf GROUP BY 1),
         sc2 AS (SELECT tf.cell, tf.token, tf.tf, cf.n_cells_with,
                   tf.tf * 1000000 // cf.n_cells_with AS score_ppm,
                   CAST(row_number() OVER (PARTITION BY tf.cell
                     ORDER BY tf.tf * 1000000 // cf.n_cells_with DESC,
                              tf.token ASC) AS BIGINT) AS rank
                 FROM tf JOIN cf ON tf.token = cf.token)
         SELECT cell, rank, token, tf, n_cells_with, score_ppm
         FROM sc2 WHERE rank <= 3 ORDER BY cell, rank""",
    // same fit replay, same exact integer tau predicate per centroid,
    // same per-label collapse
    "sim_ood_rate" -> s"""${ivfFitCtes()}
         pv AS (SELECT e.vec_id, c.cent_id, unnest(e.qv) AS x, unnest(c.cv) AS y
                FROM qall e, c2 c),
         dv AS (SELECT vec_id, cent_id, SUM(x*y) AS dot,
                       SUM(x*x) AS na, SUM(y*y) AS nb
                FROM pv GROUP BY vec_id, cent_id),
         hit AS (SELECT vec_id,
                   CAST(sum(CASE WHEN dot > 0 AND dot*dot*100 >= 4*na*nb
                            THEN 1 ELSE 0 END) AS BIGINT) AS hits
                 FROM dv GROUP BY vec_id)
         SELECT l.label, count(*) AS n_vecs,
                CAST(sum(CASE WHEN h.hits = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_ood,
                CAST(sum(CASE WHEN h.hits = 0 THEN 1 ELSE 0 END) AS BIGINT)
                  * 1000000 // count(*) AS ood_ppm
         FROM hit h JOIN embeddings l ON h.vec_id = l.vec_id
         GROUP BY l.label ORDER BY l.label""",
    // same two k=20 serving paths, same (ri<=k AND rb<=k) hit rule per
    // curve point, integer ppm
    // same quantized prefix dots (list slice), same cosine/vec_id
    // ranking, same ppm recall against the full-width top-10
    "sim_matryoshka_recall" -> {
      // same zipped-unnest dot shape as annMultiVecCtes, over the
      // d-element list slice
      def pCte(d: Int): String =
        s"""p$d AS (
             SELECT q_id, vec_id,
               row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id ASC) AS rnk
             FROM (
               SELECT q_id, vec_id,
                 CAST(dot AS DOUBLE) / (sqrt(CAST(na AS DOUBLE)) * sqrt(CAST(nb AS DOUBLE))) AS cos
               FROM (
                 SELECT q_id, vec_id,
                   SUM(CAST(round(CAST(x AS DOUBLE) * 1000.0) AS BIGINT)
                     * CAST(round(CAST(y AS DOUBLE) * 1000.0) AS BIGINT)) AS dot,
                   SUM(CAST(round(CAST(x AS DOUBLE) * 1000.0) AS BIGINT)
                     * CAST(round(CAST(x AS DOUBLE) * 1000.0) AS BIGINT)) AS na,
                   SUM(CAST(round(CAST(y AS DOUBLE) * 1000.0) AS BIGINT)
                     * CAST(round(CAST(y AS DOUBLE) * 1000.0) AS BIGINT)) AS nb
                 FROM (SELECT q.q_id, e.vec_id,
                         unnest(e.embedding[1:$d]) AS x, unnest(q.qe) AS y
                       FROM embeddings e,
                            (SELECT vec_id AS q_id, embedding[1:$d] AS qe
                             FROM embeddings WHERE vec_id < 20) q
                       WHERE e.vec_id <> q.q_id)
                 GROUP BY q_id, vec_id)))"""
      s"""WITH ${pCte(8)}, ${pCte(16)}, ${pCte(32)},
           full64 AS (${annMultiOracleK(10)}),
           nq AS (SELECT count(*) AS n_queries FROM embeddings WHERE vec_id < 20),
           tr AS (SELECT 8 AS dims, q_id, vec_id FROM p8 WHERE rnk <= 10
                  UNION ALL SELECT 16, q_id, vec_id FROM p16 WHERE rnk <= 10
                  UNION ALL SELECT 32, q_id, vec_id FROM p32 WHERE rnk <= 10)
         SELECT CAST(t.dims AS BIGINT) AS dims, nq.n_queries,
                count(*) AS n_hits,
                count(*) * 1000000 // (nq.n_queries * 10) AS recall_ppm
         FROM tr t JOIN full64 f ON t.q_id = f.q_id AND t.vec_id = f.vec_id, nq
         GROUP BY t.dims, nq.n_queries ORDER BY dims"""
    },
    "sim_recall_curve" -> s"""WITH ivf AS (${ivfMultiOracleK(20)}),
         brute AS (${annMultiOracleK(20)}),
         nq AS (SELECT count(*) AS n_queries FROM embeddings WHERE vec_id < 20),
         j AS (SELECT i.q_id, i.vec_id, i.rnk AS ri, b.rnk AS rb
               FROM ivf i JOIN brute b
                 ON i.q_id = b.q_id AND i.vec_id = b.vec_id),
         ks AS (SELECT unnest([1, 5, 10, 20]) AS k),
         h AS (SELECT ks.k,
                 CAST(sum(CASE WHEN j.ri <= ks.k AND j.rb <= ks.k THEN 1 ELSE 0 END) AS BIGINT) AS n_hits
               FROM ks, j GROUP BY ks.k)
         SELECT CAST(h.k AS BIGINT) AS k, nq.n_queries, h.n_hits,
                h.n_hits * 1000000 // (nq.n_queries * h.k) AS recall_ppm
         FROM h, nq ORDER BY k""",
    // same round(x·1000) milli quantization; `//` truncates toward zero
    // in DuckDB exactly like Spark's `div` (matters for negative sums)
    "sim_centroid_labels" ->
      """WITH x AS (
           SELECT label,
                  unnest(list_transform(range(1, len(embedding) + 1),
                                        i -> CAST(i - 1 AS BIGINT))) AS dim,
                  unnest(list_transform(embedding,
                    v -> CAST(round(CAST(v AS DOUBLE) * 1000) AS BIGINT))) AS q
           FROM embeddings)
         SELECT label, dim, count(*) AS n_vecs,
                CAST(sum(q) AS BIGINT) AS sum_milli,
                CAST(CAST(sum(q) AS BIGINT) // count(*) AS BIGINT) AS c_milli
         FROM x GROUP BY 1, 2 ORDER BY 1, 2""",
    "sim_ivf_topk" ->
      s"""${ivfFitCtes()}
         qcell AS (SELECT cell FROM assigned WHERE vec_id = 0),
         cand AS (SELECT a.vec_id, a.cell FROM assigned a, qcell
                  WHERE a.cell = qcell.cell AND a.vec_id <> 0),
         $ivfScoreSuffix""",
    "sim_ivf_probe2" ->
      s"""${ivfFitCtes()}
         qcells AS (SELECT cell FROM ranked WHERE vec_id = 0 AND rn <= 2),
         cand AS (SELECT a.vec_id, a.cell FROM assigned a JOIN qcells q
                  ON a.cell = q.cell WHERE a.vec_id <> 0),
         $ivfScoreSuffix""",
    // SemDeDup: the fit/assign CTEs give each vector its k-means cell;
    // within-cell quantized-cosine pairs feed the same recursive
    // transitive closure the embedding-groups oracle walks
    "sim_semantic_dedup" ->
      s"""${ivfFitCtes(2, recursive = true)}
         spr AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                   unnest(qa.qv) AS x, unnest(qb.qv) AS y
                 FROM assigned a JOIN assigned b
                   ON a.cell = b.cell AND a.vec_id < b.vec_id
                 JOIN qall qa ON qa.vec_id = a.vec_id
                 JOIN qall qb ON qb.vec_id = b.vec_id),
         sd AS (SELECT id_a, id_b, SUM(x*y) AS dot, SUM(x*x) AS na, SUM(y*y) AS nb
                FROM spr GROUP BY id_a, id_b),
         sp AS (SELECT id_a, id_b FROM sd
                WHERE CAST(dot AS DOUBLE)
                      / (sqrt(CAST(na AS DOUBLE)) * sqrt(CAST(nb AS DOUBLE))) >= 0.4),
         sedges AS (SELECT id_a AS src, id_b AS dst FROM sp
                    UNION ALL SELECT id_b, id_a FROM sp),
         swalk AS (
           SELECT vec_id AS node, vec_id AS label FROM embeddings
           UNION
           SELECT e.dst AS node, w.label AS label
           FROM swalk w JOIN sedges e ON w.node = e.src),
         scomp AS (SELECT node, min(label) AS group_id FROM swalk GROUP BY node),
         ssizes AS (SELECT group_id, count(*) AS group_size FROM scomp GROUP BY group_id)
         SELECT c.node AS vec_id, a.cell, c.group_id, s.group_size,
                c.node = c.group_id AS is_kept
         FROM scomp c JOIN assigned a ON a.vec_id = c.node
                      JOIN ssizes s ON c.group_id = s.group_id
         ORDER BY vec_id""",
    "sim_ivf_multiquery" -> ivfMultiOracle,
    // the persisted-index variant must return the IDENTICAL rows — same
    // fit, same assignment, just computed at build time — so it shares
    // the multiquery oracle verbatim
    "sim_ivf_persisted" -> ivfMultiOracle,
    // incremental maintenance must serve the IDENTICAL rows — same
    // centroids, same per-row assignment, just base persisted + delta
    // assigned at query time — so it shares the multiquery oracle too
    "sim_ivf_incremental" -> ivfMultiOracle,
    "sim_ann_multiquery" -> annMultiOracle,
    // closed-form PQ replay: same sampled codebooks, integer L2
    // assignment, integer ADC partial dots (1-based list indexing)
    "sim_pq_topk" -> s"$pqCoreSql ORDER BY q_id, rnk",
    // the persisted path serves the SAME codes — shared oracle
    "sim_pq_persisted" -> s"$pqCoreSql ORDER BY q_id, rnk",
    // IVF fit-replay CTEs + PQ CTEs composed: candidates restricted to
    // the query's fitted cell, then the identical integer ADC scoring
    "sim_ivfpq_topk" ->
      s"""${ivfFitCtes()}
         $pqCtes,
         qc AS (SELECT vec_id AS pq_q, cell AS qcell FROM assigned
                WHERE vec_id < 8),
         cc AS (SELECT co.vec_id, co.m, co.cent_id, a.cell
                FROM codes co JOIN assigned a ON co.vec_id = a.vec_id),
         sc AS (SELECT a.q_id, cc.vec_id, CAST(sum(a.pdot) AS BIGINT) AS score_adc
                FROM cc JOIN adc a ON cc.m = a.m AND cc.cent_id = a.cent_id
                        JOIN qc ON qc.pq_q = a.q_id AND cc.cell = qc.qcell
                WHERE cc.vec_id <> a.q_id
                GROUP BY 1, 2),
         r2 AS (SELECT q_id, vec_id, score_adc,
                  CAST(row_number() OVER (PARTITION BY q_id
                    ORDER BY score_adc DESC, vec_id ASC) AS BIGINT) AS rnk
                FROM sc)
         SELECT q_id, rnk, vec_id, score_adc FROM r2 WHERE rnk <= 5
         ORDER BY q_id, rnk""",
    // PQ vs the independent brute-force CTEs at the same probe bound
    "sim_pq_recall" ->
      s"""WITH brute AS (
           WITH ${annMultiVecCtes(8)}
           SELECT q_id, vec_id FROM vr WHERE rnk <= 5),
         pq AS ($pqCoreSql),
         nq AS (SELECT count(*) AS n_queries FROM embeddings WHERE vec_id < 8),
         h AS (SELECT count(*) AS n_hits FROM pq p
               JOIN brute b ON p.q_id = b.q_id AND p.vec_id = b.vec_id)
         SELECT (SELECT n_queries FROM nq) AS n_queries,
                (SELECT n_hits FROM h) AS n_hits_total,
                CAST((SELECT n_hits FROM h) AS DOUBLE)
                  / ((SELECT n_queries FROM nq) * 5) AS mean_recall""",
    // same brute-force neighbor CTEs at k=10, then the identical
    // deterministic majority vote and true-label join
    "sim_knn_classify" ->
      s"""WITH ${annMultiVecCtes(20)},
         nb AS (SELECT v.q_id, v.vec_id, e.label FROM vr v
                JOIN embeddings e ON v.vec_id = e.vec_id WHERE v.rnk <= 10),
         votes AS (SELECT q_id, label, count(*) AS n_votes FROM nb GROUP BY 1, 2),
         win AS (SELECT q_id, label, n_votes,
                   row_number() OVER
                     (PARTITION BY q_id ORDER BY n_votes DESC, label ASC) AS r
                 FROM votes)
         SELECT w.q_id, w.label AS predicted_label,
                CAST(w.n_votes AS BIGINT) AS n_votes,
                t.label AS true_label,
                w.label = t.label AS correct
         FROM win w JOIN embeddings t ON w.q_id = t.vec_id
         WHERE w.r = 1 ORDER BY w.q_id""",
    "sim_ivf_recall" -> s"""WITH ivf AS ($ivfMultiOracle),
         brute AS ($annMultiOracle),
         nq AS (SELECT count(*) AS n_queries FROM embeddings WHERE vec_id < 20),
         h AS (SELECT count(*) AS n_hits FROM ivf i
               JOIN brute b ON i.q_id = b.q_id AND i.vec_id = b.vec_id)
         SELECT (SELECT n_queries FROM nq) AS n_queries,
                (SELECT n_hits FROM h) AS n_hits_total,
                CAST((SELECT n_hits FROM h) AS DOUBLE)
                  / ((SELECT n_queries FROM nq) * 5) AS mean_recall""",
    "sim_sq8_multiquery" -> sq8MultiOracle,
    // IVF+SQ8: the fit/assign CTEs give each vector its cell; the SQ8
    // CTEs (fresh names — the fit block owns samp/c0../qall/pa/da)
    // quantize; candidates come from the query's cell, scored int8
    "sim_ivf_sq8" -> s"""${ivfFitCtes()}
         m8 AS (SELECT vec_id, list_transform(embedding,
                  x -> CAST(round(CAST(x AS DOUBLE) * 1000.0) AS BIGINT)) AS mv
                FROM embeddings),
         s8 AS (SELECT vec_id, mv,
                  greatest(list_reduce(list_transform(mv, x -> abs(x)),
                    (a, b) -> greatest(a, b)), 1) AS ma
                FROM m8),
         c8 AS (SELECT vec_id, list_transform(mv,
                  x -> CASE WHEN x >= 0 THEN (2*x*127 + ma) // (2*ma)
                       ELSE -((2*(-x)*127 + ma) // (2*ma)) END) AS cv
                FROM s8),
         n8t AS (SELECT vec_id, cv,
                  list_reduce(list_transform(cv, x -> x*x), (a, b) -> a + b) AS n8
                FROM c8),
         q8 AS (SELECT a.vec_id AS q_id, a.cell, t.cv AS qv, t.n8 AS qn
                FROM assigned a JOIN n8t t ON a.vec_id = t.vec_id
                WHERE a.vec_id < 20),
         cand8 AS (SELECT q.q_id, a.vec_id FROM assigned a
                   JOIN q8 q ON a.cell = q.cell AND a.vec_id <> q.q_id),
         p8 AS (SELECT c.q_id, c.vec_id, unnest(t.cv) AS x, unnest(q.qv) AS y
                FROM cand8 c JOIN n8t t ON t.vec_id = c.vec_id
                JOIN q8 q ON q.q_id = c.q_id),
         d8 AS (SELECT q_id, vec_id, SUM(x*y) AS dot FROM p8 GROUP BY q_id, vec_id),
         sc8 AS (SELECT d.q_id, d.vec_id,
                   CAST(d.dot AS DOUBLE)
                     / (sqrt(CAST(t.n8 AS DOUBLE)) * sqrt(CAST(q.qn AS DOUBLE))) AS cos
                 FROM d8 d JOIN n8t t ON d.vec_id = t.vec_id
                 JOIN q8 q ON d.q_id = q.q_id),
         r8 AS (SELECT q_id, vec_id, cos,
                  row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id ASC) AS rnk
                FROM sc8)
         SELECT q_id, rnk, vec_id, cos FROM r8 WHERE rnk <= 5 ORDER BY q_id, rnk""",
    "sim_sq8_recall" -> s"""WITH sq8 AS ($sq8MultiOracle),
         brute AS ($annMultiOracle),
         nq AS (SELECT count(*) AS n_queries FROM embeddings WHERE vec_id < 20),
         st AS (SELECT count(*) AS n_vectors,
                  CAST(max(len(embedding)) AS BIGINT) AS dims FROM embeddings),
         h AS (SELECT count(*) AS n_hits_total FROM sq8 i
               JOIN brute b ON i.q_id = b.q_id AND i.vec_id = b.vec_id)
         SELECT (SELECT n_queries FROM nq) AS n_queries,
                (SELECT n_hits_total FROM h) AS n_hits_total,
                CAST((SELECT n_hits_total FROM h) AS DOUBLE)
                  / ((SELECT n_queries FROM nq) * 5) AS mean_recall,
                (SELECT n_vectors FROM st) AS n_vectors,
                (SELECT dims FROM st) AS dims,
                (SELECT n_vectors FROM st) * (SELECT dims FROM st) * 4 AS bytes_fp32,
                (SELECT n_vectors FROM st) * ((SELECT dims FROM st) + 8) AS bytes_sq8""",
    // same quantization, same integer boundary predicate (τ = 0.2)
    "sim_range_search" ->
      """WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
         p AS (SELECT vec_id, unnest(embedding) AS x, unnest(qe) AS y
               FROM embeddings, q WHERE vec_id <> 0),
         d AS (SELECT vec_id,
                 SUM(CAST(round(CAST(x AS DOUBLE) * 1000.0) AS BIGINT)
                   * CAST(round(CAST(y AS DOUBLE) * 1000.0) AS BIGINT)) AS dot,
                 SUM(CAST(round(CAST(x AS DOUBLE) * 1000.0) AS BIGINT)
                   * CAST(round(CAST(x AS DOUBLE) * 1000.0) AS BIGINT)) AS na,
                 SUM(CAST(round(CAST(y AS DOUBLE) * 1000.0) AS BIGINT)
                   * CAST(round(CAST(y AS DOUBLE) * 1000.0) AS BIGINT)) AS nb
               FROM p GROUP BY vec_id)
         SELECT vec_id,
                CAST(dot AS DOUBLE) / (sqrt(CAST(na AS DOUBLE)) * sqrt(CAST(nb AS DOUBLE))) AS cos
         FROM d
         WHERE dot > 0 AND dot * dot * 100 >= 4 * na * nb
         ORDER BY vec_id""",
    "sim_ann_topk" ->
      """WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
         p AS (SELECT vec_id, unnest(embedding) AS x, unnest(qe) AS y
               FROM embeddings, q WHERE vec_id <> 0),
         d AS (SELECT vec_id,
                 SUM(CAST(round(CAST(x AS DOUBLE) * 1000.0) AS BIGINT)
                   * CAST(round(CAST(y AS DOUBLE) * 1000.0) AS BIGINT)) AS dot,
                 SUM(CAST(round(CAST(x AS DOUBLE) * 1000.0) AS BIGINT)
                   * CAST(round(CAST(x AS DOUBLE) * 1000.0) AS BIGINT)) AS na,
                 SUM(CAST(round(CAST(y AS DOUBLE) * 1000.0) AS BIGINT)
                   * CAST(round(CAST(y AS DOUBLE) * 1000.0) AS BIGINT)) AS nb
               FROM p GROUP BY vec_id),
         s AS (SELECT vec_id,
                 CAST(dot AS DOUBLE) / (sqrt(CAST(na AS DOUBLE)) * sqrt(CAST(nb AS DOUBLE))) AS cos
               FROM d),
         r AS (SELECT vec_id, cos,
                 row_number() OVER (ORDER BY cos DESC, vec_id ASC) AS rnk FROM s)
         SELECT rnk, vec_id, cos FROM r WHERE rnk <= 10 ORDER BY rnk""",
    "sim_lsh_neardup" -> lshOracle(3),
    "sim_lsh_neardup6" -> lshOracle(6),
    "sim_lsh_neardup_auto" -> lshAutoOracle(),
    "sim_dedup_groups" -> embeddingGroupsOracle(),
    "sim_neardup_pairs" ->
      """WITH e AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 60),
         pr AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                  unnest(a.embedding) AS x, unnest(b.embedding) AS y
                FROM e a JOIN e b ON a.vec_id < b.vec_id),
         d AS (SELECT id_a, id_b,
                 SUM(CAST(round(CAST(x AS DOUBLE) * 1000.0) AS BIGINT)
                   * CAST(round(CAST(y AS DOUBLE) * 1000.0) AS BIGINT)) AS dot,
                 SUM(CAST(round(CAST(x AS DOUBLE) * 1000.0) AS BIGINT)
                   * CAST(round(CAST(x AS DOUBLE) * 1000.0) AS BIGINT)) AS na,
                 SUM(CAST(round(CAST(y AS DOUBLE) * 1000.0) AS BIGINT)
                   * CAST(round(CAST(y AS DOUBLE) * 1000.0) AS BIGINT)) AS nb
               FROM pr GROUP BY id_a, id_b),
         s AS (SELECT id_a, id_b,
                 CAST(dot AS DOUBLE) / (sqrt(CAST(na AS DOUBLE)) * sqrt(CAST(nb AS DOUBLE))) AS cos
               FROM d),
         r AS (SELECT id_a, id_b, cos,
                 row_number() OVER (ORDER BY cos DESC, id_a ASC, id_b ASC) AS rnk FROM s)
         SELECT rnk, id_a, id_b, cos FROM r WHERE rnk <= 20 ORDER BY rnk""",
  )
}
