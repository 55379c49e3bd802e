package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery}

/** Structured Streaming surface — SURVEY §2.8.
  *
  * The reference is batch-only; its only incremental semantics are the
  * scraper's url done-log resume (O-10: append a url to inputdone.csv,
  * skip urls already done — insta_scraper_enhanced.py:363-393,487-509)
  * and page-merge dedup (O-54: union + drop duplicate post ids,
  * :299-322). Both are stateful-stream shapes, so the engine exposes
  * them — plus the watermarked windowed aggregation and a session
  * operator the BASELINE north star asks the posts pipeline to support —
  * as readStream-composable transforms.
  *
  * Scale: all operators are keyed stateful aggregations — state is
  * per-key and bounded (dedup keys TTL'd by watermark, windows pruned by
  * watermark, sessions timeout), so a 1000-executor cluster shards state
  * by key hash; no global state, no driver accumulation.
  */
object Streams {

  /** O-2/O-10 as a streaming stage: normalize urls
    * (`strip().rstrip('/')`), drop ones already seen. With a watermark
    * the dedup state is pruned; exactly-once replaces the reference's
    * append-log + in-place CSV rewrite. */
  def resumeDedup(urls: DataFrame, tsCol: String = "ingest_ts",
                  watermark: String = "1 hour"): DataFrame =
    urls
      .withColumn("url_norm", expr("rtrim('/', trim(url))"))
      .withWatermark(tsCol, watermark)
      .dropDuplicates("url_norm")

  /** O-54 as a streaming stage: merge timeline pages, keep the first
    * occurrence of each post id per creator. */
  def pageMergeDedup(posts: DataFrame, tsCol: String = "ingest_ts",
                     watermark: String = "1 hour"): DataFrame =
    posts.withWatermark(tsCol, watermark).dropDuplicates("creator_key", "id")

  /** O-54 with the state bound made explicit:
    * `dropDuplicatesWithinWatermark` only guarantees dedup of events
    * whose timestamps land within the watermark delay of each other, in
    * exchange for aggressively evictable state — the right trade for an
    * unbounded page-merge where a duplicate post id can only arrive in
    * adjacent scroll pages, never hours apart. */
  def pageMergeDedupWithin(posts: DataFrame, tsCol: String = "ingest_ts",
                           watermark: String = "10 minutes"): DataFrame =
    posts.withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark("creator_key", "id")

  /** Stream-static enrichment join: a streaming fact against a batch
    * dimension (events ⋈ customer attributes). The static side is read
    * fresh per micro-batch and broadcast when small — no streaming state
    * at all, the zero-cost join shape to prefer whenever one side is a
    * slowly-changing dimension rather than a stream. */
  def enrichWithDim(stream: DataFrame, dim: DataFrame, key: String): DataFrame =
    stream.join(broadcast(dim), key)

  /** Stream-stream attribution join: purchases matched to the views they
    * followed within `within` per user. Both sides carry a watermark and
    * the join condition bounds event-time distance, so each side's state
    * retains only `watermark + within` worth of rows per key — the
    * canonical bounded-state stream-stream interval join. Inner join ⇒
    * rows emit as soon as both sides arrive. */
  def attributionJoin(views: DataFrame, purchases: DataFrame,
                      within: String = "30 minutes",
                      watermark: String = "1 hour",
                      joinType: String = "inner"): DataFrame = {
    val v = views.select(col("user_id").as("v_user"), col("view_id"),
      col("ts").as("view_ts")).withWatermark("view_ts", watermark)
    val p = purchases.select(col("user_id").as("p_user"), col("purchase_id"),
      col("value"), col("ts").as("purchase_ts")).withWatermark("purchase_ts", watermark)
    v.join(p, expr(
      s"""v_user = p_user AND
          purchase_ts >= view_ts AND
          purchase_ts <= view_ts + interval $within"""), joinType)
      .select(col("v_user").as("user_id"), col("view_id"), col("purchase_id"),
        col("view_ts"), col("purchase_ts"), col("value"))
  }

  /** Left-outer flavor of [[attributionJoin]]: views that never convert
    * within the interval are still emitted (null purchase columns) — but
    * only once the watermark has passed `view_ts + within`, when the
    * engine can PROVE no match can arrive. The state-eviction semantics
    * the inner join never exercises; same bounded per-key state. */
  def attributionJoinOuter(views: DataFrame, purchases: DataFrame,
                           within: String = "30 minutes",
                           watermark: String = "1 hour"): DataFrame =
    attributionJoin(views, purchases, within, watermark, "leftOuter")

  /** Watermarked tumbling-window count/value aggregation over the events
    * stream — the Structured Streaming shape of O-33/O-43's histograms.
    * Late data beyond the watermark is dropped; state is pruned. */
  def windowedEventCounts(events: DataFrame, window_ : String = "1 hour",
                          watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), window_), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("total_value"))
      .select(col("window.start").as("window_start"),
        col("window.end").as("window_end"), col("event_type"),
        col("n"), col("total_value"))

  /** Streaming Count-Min sketch — the frequency monitor for an
    * unbounded key stream where exact per-key state would grow without
    * bound. Mirrors the batch relational build
    * ([[graft.operators.Aggregations.countMinChecked]]) exactly: each
    * item contributes one increment to d seeded-xxhash64 buckets, and
    * the sketch is a streaming groupBy over (row, bucket) — so the state
    * store holds AT MOST d·w rows forever, regardless of how many
    * distinct items flow through (vs one state row per key for an exact
    * streaming count). Point estimates come from the same min-over-rows
    * read the batch query uses; update-mode emits changed counters per
    * batch. No watermark needed — the state is bounded by construction,
    * the sketch monitors all time. */
  def countMinStream(items: DataFrame, d: Int = 4, w: Int = 512): DataFrame =
    items
      .select(posexplode(array((0 until d).map(r =>
        pmod(xxhash64(col("item"), lit(r)), lit(w.toLong))): _*)).as(Seq("r", "bucket")))
      .groupBy("r", "bucket")
      .agg(count(lit(1)).as("c"))

  /** Per-creator engagement aggregation as a streaming stateful agg —
    * the BASELINE north-star requirement that the posts pipeline's
    * per-creator metrics be expressible incrementally. All metrics here
    * are algebraic (sum/count/max), so partial state is O(1) per key. */
  def streamingCreatorMetrics(posts: DataFrame, tsCol: String = "post_ts",
                              watermark: String = "1 day"): DataFrame =
    posts
      .withWatermark(tsCol, watermark)
      .groupBy(col("creator_key"))
      .agg(
        count(lit(1)).as("total_posts"),
        sum("like_count").as("sum_likes"),
        sum("comment_count").as("sum_comments"),
        max("taken_at").as("latest_post_ts"))

  /** Streaming MinHash near-dup suppression: per document, compute the
    * codegen'd 8-hash MinHash signature over 3-gram shingles
    * ([[graft.functions.MinHashSignature]] — same family as the batch
    * [[graft.operators.Dedup]] pipeline) and drop any document whose
    * full signature was already seen inside the watermark. Full-signature
    * identity is the STRICT collision predicate (all 4 LSH bands
    * collide); the batch band-bucket join is the recall-oriented
    * any-band variant. State is one row per distinct signature, pruned
    * by the watermark — shards by signature hash at cluster scale. */
  /** The per-row MinHash signature projection shared by [[minhashDedup]]
    * and [[exactThenMinhashDedup]]. */
  private def withMinhashSig(docs: DataFrame): DataFrame =
    docs
      .withColumn("toks", split(lower(col("text")), " "))
      .filter(size(col("toks")) >= 3)
      .withColumn("shingles", array_distinct(expr(
        "transform(sequence(1, size(toks) - 2), i -> concat_ws(' ', toks[i-1], toks[i], toks[i+1]))")))
      .withColumn("sig",
        concat_ws("_", graft.functions.MinHash.minhashSig(col("shingles"))))

  def minhashDedup(docs: DataFrame, tsCol: String = "ingest_ts",
                   watermark: String = "1 hour"): DataFrame =
    withMinhashSig(docs)
      .withWatermark(tsCol, watermark)
      // WithinWatermark, not plain dropDuplicates: the latter never
      // evicts (signatures aren't the event-time column), so signature
      // state would grow with the corpus — STREAMCHECK measured 3.67×
      // at 10× time-extended input before this was the eviction-capable
      // variant. A near-dup outside the watermark horizon is the batch
      // [[graft.operators.Dedup]] pipeline's job (incremental dedup
      // against the persisted corpus index), not this operator's.
      .dropDuplicatesWithinWatermark("sig")
      .drop("toks", "shingles")

  /** EXACT→near streaming dedup — the streaming mirror of the batch
    * [[graft.operators.Dedup.dedupPipelinePairs]] insight: web-scale
    * streams carry ~30% verbatim duplicates, and every one that reaches
    * the MinHash stage pays the shingling + 8-hash signature projection
    * AND plants a row in the signature state store. Stage 1 drops
    * verbatim copies on the raw md5 — `dropDuplicatesWithinWatermark`,
    * the aggressively-evictable variant, because a verbatim copy (a
    * re-delivered page, a retried POST) arrives near its original, so
    * its state can expire fast; stage 2 is the [[minhashDedup]] near-dup
    * suppression over survivors only. Both stages are WithinWatermark
    * (see [[minhashDedup]] for why plain dropDuplicates would leak state
    * forever), so both states are per-key AND watermark-bounded; Spark 4
    * chains the two stateful operators in one query off a SINGLE
    * watermark definition (redefining it between stateful operators is
    * disallowed). */
  def exactThenMinhashDedup(docs: DataFrame, tsCol: String = "ingest_ts",
                            watermark: String = "1 hour"): DataFrame =
    withMinhashSig(
      docs
        .withColumn("exact_h", md5(col("text")))
        .withWatermark(tsCol, watermark)
        .dropDuplicatesWithinWatermark("exact_h")
        .drop("exact_h"))
      .dropDuplicatesWithinWatermark("sig")
      .drop("toks", "shingles")

  /** Streaming INCREMENTAL ingest dedup against a static corpus — the
    * streaming mirror of [[graft.operators.Dedup.incrementalDedup]]:
    * every arriving doc gets a verdict without the corpus ever being
    * re-paired with itself.
    *
    *  - 'dup_exact': the doc's md5 exists in the corpus hash set
    *    (stream-static LEFT join against the distinct corpus hashes —
    *    the static side broadcasts or bucket-joins; re-planned per
    *    micro-batch so a refreshed corpus snapshot is picked up);
    *  - 'dup_near': any of the doc's MinHash LSH bands hits a corpus
    *    band bucket (stream-static join against the distinct corpus
    *    (band, bucket) table, then max over the doc's 4 bands — at
    *    scale this is the materialized band index the batch operator
    *    documents);
    *  - 'accept' otherwise.
    *
    * Docs with < 3 tokens carry no bands and can only be exact-dups or
    * accepts, matching the batch semantics. Pure stream-static joins +
    * a grouped max — no stream state beyond the shuffle, so this
    * composes freely with the stateful in-stream dedup
    * ([[exactThenMinhashDedup]]) upstream of it. */
  def incrementalDedupStream(docs: DataFrame, corpus: DataFrame): DataFrame = {
    val corpusHashes = corpus.select(md5(col("text")).as("h"))
      .distinct().withColumn("is_exact", lit(true))
    val corpusBands = graft.operators.Dedup
      .minhashBandsOf(corpus.select("doc_id", "text"))
      .select(col("band"), col("bucket")).distinct()
    // per-row band buckets, null-guarded so short docs (no shingles)
    // survive with null buckets (a null key matches nothing in a left
    // join — they can only be exact-dups or accepts, as in batch)
    var enriched = docs
      .withColumn("toks_", split(lower(col("text")), " "))
      .withColumn("shingles_", when(size(col("toks_")) >= 3, array_distinct(expr(
        "transform(sequence(1, size(toks_) - 2), i -> concat_ws(' ', toks_[i-1], toks_[i], toks_[i+1]))"))))
      .withColumn("mh_", when(col("shingles_").isNotNull,
        graft.functions.MinHash.minhashSig(col("shingles_"))))
      .withColumn("h", md5(col("text")))
      .join(corpusHashes, Seq("h"), "left")
    // one stateless stream-static left join per band (an aggregation or
    // dropDuplicates back over the stream would be stateful)
    for (b <- 0 to 3) {
      val bucketCol = s"bucket${b}_"
      enriched = enriched
        .withColumn(bucketCol, when(col("mh_").isNotNull,
          expr(s"concat(cast(mh_[${2 * b}] as string), '_', cast(mh_[${2 * b + 1}] as string))")))
        .join(corpusBands.filter(col("band") === b)
            .select(col("bucket").as(bucketCol), lit(true).as(s"hit${b}_")),
          Seq(bucketCol), "left")
    }
    enriched
      .withColumn("verdict",
        when(col("is_exact").isNotNull, lit("dup_exact"))
          .when(coalesce(col("hit0_"), col("hit1_"), col("hit2_"), col("hit3_")) === true,
            lit("dup_near"))
          .otherwise(lit("accept")))
      .select(docs.columns.map(col) :+ col("verdict"): _*)
  }

  /** Streaming ANN probe against the static PERSISTED IVF index — the
    * online half of a retrieval pipeline (the batch half is
    * [[graft.operators.Similarity.ivfMultiQueryPersisted]]), mirroring
    * [[incrementalDedupStream]]'s zero-state design:
    *
    *  - query-cell assignment is the literal-centroid per-row fold
    *    ([[graft.operators.Similarity.assignWithStoredCentroids]] — the
    *    stored centroid table is plan-time metadata, not a join side);
    *  - candidate fetch is ONE stream-static cell equi-join against the
    *    stored cell-bucketed assignment table (re-planned per
    *    micro-batch, so a refreshed index snapshot is picked up);
    *  - scoring is a projection.
    *
    * No streaming state anywhere. Per-query top-k belongs in the SINK
    * (foreachBatch running the same TopKByScore aggregation the batch
    * path uses) because an in-stream global top-k would be a stateful
    * aggregation over an unbounded key space — per micro-batch it is a
    * plain bounded batch aggregation. Emits (q_id, vec_id, cos) scored
    * candidates. */
  def annProbeStream(spark: SparkSession, queryVecs: DataFrame, dir: String): DataFrame = {
    import graft.functions.VectorOps.quantCos
    val (index, cents) = graft.operators.Similarity.buildIvfIndex(spark, dir)
    val q = graft.operators.Similarity
      .assignWithStoredCentroids(cents, queryVecs)
      .select(col("vec_id").as("q_id"), col("cell").as("qcell"),
        col("embedding").as("qe"), col("na").as("qna"))
    q.join(index, col("cell") === col("qcell") && col("vec_id") =!= col("q_id"))
      .withColumn("cos", quantCos(col("embedding"), col("qe"), col("na"), col("qna")))
      .select(col("q_id"), col("vec_id"), col("cos"))
  }

  /** Streaming ANN SERVE — [[annProbeStream]] completed in-stream: the
    * per-query top-k that the probe defers to the sink runs here as a
    * windowed stateful aggregation, so the stream itself emits finished
    * `(q_id, rnk, vec_id, cos)` answers. The state story is the typed
    * [[graft.functions.TopKByScore]] aggregator's: its buffer holds ≤ k
    * scored rows per (window, query) — candidates fold into the bounded
    * buffer as they arrive, the candidate set itself is never state —
    * and the watermark evicts each window's buffers once it closes. So
    * state = k · in-flight queries, independent of BOTH corpus size and
    * stream length — the measurable claim STREAMCHECK gates. Everything
    * upstream is stateless ([[annProbeStream]]'s literal-centroid
    * assignment + one stream-static cell equi-join re-planned per
    * micro-batch). */
  def annServeStream(spark: SparkSession, queries: DataFrame, dir: String,
                     k: Int = 5, tsCol: String = "ingest_ts",
                     watermark: String = "1 minute",
                     windowLen: String = "1 minute"): DataFrame = {
    import graft.functions.VectorOps.quantCos
    val (index, cents) = graft.operators.Similarity.buildIvfIndex(spark, dir)
    val centsLit = graft.operators.Similarity.storedCentsLit(cents)
    val q = graft.operators.Similarity.withAssignedCell(queries, centsLit)
      .select(col("q_id"), col("cell").as("qcell"), col("embedding").as("qe"),
        col("na").as("qna"), col(tsCol))
    val scored = q
      .join(index, col("cell") === col("qcell") && col("vec_id") =!= col("q_id"))
      .withColumn("cos", quantCos(col("embedding"), col("qe"), col("na"), col("qna")))
    val topk = udaf(new graft.functions.TopKByScore(k))
    scored
      .withWatermark(tsCol, watermark)
      .groupBy(window(col(tsCol), windowLen), col("q_id"))
      .agg(topk(col("cos"), col("vec_id")).as("top"))
      .select(col("q_id"), col("window.start").as("win_start"),
        posexplode(col("top")))
      .select(col("q_id"), col("win_start"), (col("pos") + 1).as("rnk"),
        col("col.key").as("vec_id"), col("col.score").as("cos"))
  }

  /** Streaming BM25 probe — the lexical mirror of [[annProbeStream]]:
    * a micro-batch stream of text queries `(q_id, qtext)` probing the
    * PERSISTED postings index. Zero-state by construction: every term
    * of the BM25 score is a static index quantity, so the index is
    * served as IMPACT-scored postings
    * ([[graft.functions.TextAnalysis.bm25Impacts]]) and the stream side
    * just explodes its distinct query tokens and equi-joins the static
    * impacts — stream-static join, no aggregation, no watermark, no
    * state store. Emits per-candidate `(q_id, doc_id, score_micro)`
    * contribution rows; the per-query top-k is the per-batch sink
    * replay, exactly like the ANN probe. */
  def bm25ProbeStream(spark: SparkSession, queries: DataFrame, dir: String): DataFrame = {
    val impacts = graft.functions.TextAnalysis.bm25Impacts(spark, dir)
    queries
      .withColumn("token", explode(array_distinct(
        filter(split(lower(col("qtext")), " "), t => length(t) > 0))))
      .join(impacts, "token")
      .select(col("q_id"), col("doc_id"), col("score_micro"))
  }

  /** Streaming BM25 SERVE — the lexical sibling of [[annServeStream]]
    * and the in-stream completion of [[bm25ProbeStream]]: per-candidate
    * impact contributions sum per (window, query, doc), then the summed
    * scores fold into the bounded per-(window, query) top-k — Spark 4's
    * CHAINED windowed stateful aggregations (the second groups on
    * `window_time` of the first, so both share the one watermark).
    * State story per in-flight window: one sum row per (query, candidate
    * doc) in stage 1 — ≤ query tokens · impactCap rows, CORPUS-
    * independent, because the serve index keeps only each token's top
    * `impactCap` impacts (see below) — and ≤ k rows per query in
    * stage 2; both evicted when the watermark closes the window.
    * Emits finished `(q_id, win_start, rnk, doc_id, score_micro)`. */
  def bm25ServeStream(spark: SparkSession, queries: DataFrame, dir: String,
                      k: Int = 5, impactCap: Int = 128,
                      tsCol: String = "ingest_ts",
                      watermark: String = "1 minute",
                      windowLen: String = "1 minute"): DataFrame = {
    // IMPACT-CAPPED persisted serve index (Anh & Moffat impact-ordered
    // pruning): only each token's `impactCap` highest-impact postings are
    // served, so stage-1 state per query is ≤ tokens·cap — CORPUS-
    // INDEPENDENT, the bound STREAMCHECK gates. Exact whenever every
    // query token's df ≤ cap (the spec's regime); past that it is the
    // standard recall-for-state trade every impact-ordered engine makes.
    // Persisted token-bucketed via IndexStore: built once per corpus,
    // and the stream-static join re-plans against the stored table per
    // micro-batch instead of re-running the ranking window.
    val impacts = graft.sources.IndexStore.orBuild(
      spark, dir, s"bm25_impact_cap$impactCap", buckets = 8, keys = Seq("token")) {
      graft.functions.TextAnalysis.bm25Impacts(spark, dir)
        .withColumn("rnk", org.apache.spark.sql.functions.row_number().over(
          org.apache.spark.sql.expressions.Window.partitionBy("token")
            .orderBy(col("score_micro").desc, col("doc_id").asc)))
        .filter(col("rnk") <= impactCap).drop("rnk")
    }
    val contrib = queries
      .withColumn("token", explode(array_distinct(
        filter(split(lower(col("qtext")), " "), t => length(t) > 0))))
      .join(impacts, "token")
      .withWatermark(tsCol, watermark)
    val summed = contrib
      .groupBy(window(col(tsCol), windowLen), col("q_id"), col("doc_id"))
      .agg(sum(col("score_micro")).as("score_micro"))
    val topk = udaf(new graft.functions.TopKByScore(k))
    summed
      .groupBy(window(window_time(col("window")), windowLen), col("q_id"))
      .agg(topk(col("score_micro").cast("double"), col("doc_id")).as("top"))
      .select(col("q_id"), col("window.start").as("win_start"),
        posexplode(col("top")))
      .select(col("q_id"), col("win_start"), (col("pos") + 1).as("rnk"),
        col("col.key").as("doc_id"),
        col("col.score").cast("long").as("score_micro"))
  }

  /** Streaming benchmark decontamination — the admission-time mirror of
    * [[graft.functions.CorpusOps.decontaminateOf]]: flag arriving
    * documents whose 5-token grams overlap the benchmark set before they
    * enter the corpus. The benchmark grams are PLAN-TIME LITERALS (the
    * set is small by construction — eval prompts/answers, not a corpus),
    * so the verdict is one per-row `array_intersect` projection:
    * join-free, explode-free, zero streaming state — it composes
    * upstream or downstream of any stateful dedup stage. Same ≥ minHits
    * contract as batch (a lone coincidental gram is not a positive). */
  def decontaminateStream(docs: DataFrame, minHits: Int = 2): DataFrame = {
    val benchArr = array(graft.functions.CorpusOps.benchmarkGrams.map(lit): _*)
    docs
      .withColumn("toks", split(lower(col("text")), " "))
      .withColumn("grams_", when(size(col("toks")) >= 5,
        array_distinct(expr(graft.functions.CorpusOps.gram5)))
        .otherwise(array().cast("array<string>")))
      .withColumn("n_hits", size(array_intersect(col("grams_"), benchArr)))
      .withColumn("contaminated", col("n_hits") >= minHits)
      .drop("toks", "grams_")
  }

  // ------------------------------------------------------- sessionize

  /** `event_id` is the secondary ordering key (ADVICE r8): the batch
    * window twins order by (ts, event_id), so every per-batch fold here
    * sorts by the same pair — with ids supplied, stream/batch
    * equivalence holds for equal-timestamp events too, not just
    * strictly-increasing series. Defaulted so sources without an id
    * (hand-built specs) keep compiling; equal-(ts, id) rows fall back
    * to arrival order exactly as before. */
  case class Event(user_id: Long, ts: java.sql.Timestamp, event_type: String,
                   value: Double, event_id: Long = 0L)
  case class SessionState(start: Long, lastSeen: Long, n: Long, total: Double)
  case class Session(user_id: Long, session_start: java.sql.Timestamp,
                     session_end: java.sql.Timestamp, n_events: Long, total_value: Double)

  /** Gap-based sessionization via flatMapGroupsWithState: a session per
    * user closes after `gapMs` of inactivity (event-time timeout). The
    * custom-state shape SURVEY §2.8 reserves for incremental per-creator
    * pipelines. */
  def sessionize(events: Dataset[Event], gapMs: Long = 30L * 60 * 1000)
                (implicit spark: SparkSession): Dataset[Session] = {
    import spark.implicits._
    events
      .withWatermark("ts", "1 hour")
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, Session](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (userId: Long, rows: Iterator[Event], state: GroupState[SessionState]) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator(Session(userId, new java.sql.Timestamp(s.start),
              new java.sql.Timestamp(s.lastSeen), s.n, s.total))
          } else {
            val sorted = rows.toSeq.sortBy(e => (e.ts.getTime, e.event_id))
            var st = state.getOption
            val closed = Seq.newBuilder[Session]
            sorted.foreach { e =>
              val t = e.ts.getTime
              st match {
                case Some(s) if t - s.lastSeen <= gapMs =>
                  st = Some(s.copy(lastSeen = math.max(s.lastSeen, t),
                    n = s.n + 1, total = s.total + e.value))
                case Some(s) =>
                  closed += Session(userId, new java.sql.Timestamp(s.start),
                    new java.sql.Timestamp(s.lastSeen), s.n, s.total)
                  st = Some(SessionState(t, t, 1, e.value))
                case None =>
                  st = Some(SessionState(t, t, 1, e.value))
              }
            }
            st.foreach { s =>
              state.update(s)
              state.setTimeoutTimestamp(s.lastSeen + gapMs)
            }
            closed.result().iterator
          }
      }
  }

  case class EwmaState(cents: Seq[Long]) // most recent first, <= 8 taps
  case class EwmaOut(user_id: Long, n_seen: Long, ewma: Double)

  /** Streaming EWMA — the incremental mirror of the batch
    * [[graft.operators.Windows.ewmaPerUser]]: per user, the α=1/2 8-tap
    * integer weight ladder over the MOST RECENT eight values. State is a
    * bounded ring of ≤8 integer cents per user (the full-recurrence
    * alternative would drift floats batch-to-batch; the ladder re-derives
    * the exact value from the ring every emit, so stream and batch agree
    * bit-for-bit under event-time-ordered arrival). Update mode emits
    * the refreshed decay feature per user per batch. */
  def ewmaStream(events: Dataset[Event])
                (implicit spark: SparkSession): Dataset[EwmaOut] = {
    import spark.implicits._
    events
      .groupByKey(_.user_id)
      .mapGroupsWithState[EwmaState, EwmaOut](GroupStateTimeout.NoTimeout) {
        (uid: Long, rows: Iterator[Event], state: GroupState[EwmaState]) =>
          var buf = state.getOption.map(_.cents).getOrElse(Seq.empty)
          var seen = 0L
          rows.toSeq.sortBy(e => (e.ts.getTime, e.event_id)).foreach { e =>
            buf = (math.round(e.value * 100.0) +: buf).take(8)
            seen += 1
          }
          state.update(EwmaState(buf))
          val weights = buf.indices.map(j => 128L >> j)
          val num = buf.zip(weights).map { case (c, w) => c * w }.sum
          EwmaOut(uid, seen, num.toDouble / weights.sum.toDouble / 100.0)
      }
  }

  case class FunnelState(tView: Option[Long], tClick: Option[Long], tPurchase: Option[Long])
  case class FunnelOut(user_id: Long, t_view: Option[Long], t_click: Option[Long],
                       t_purchase: Option[Long], stage: Long)

  /** Streaming ORDERED FUNNEL — the incremental mirror of the batch
    * [[graft.operators.Windows.funnelStages]]: per user, first `view`,
    * first `click` strictly after it, first `purchase` strictly after
    * that. State is three optional timestamps (O(1) per user — the
    * collect-all-events alternative holds unbounded state); each batch
    * folds its group's rows in event-time order, so under event-time-
    * ordered arrival the fold computes exactly the batch query's chained
    * conditional-min semantics (strictly-after thresholds included).
    * Update mode emits the refreshed funnel row per user per batch. */
  def funnelStream(events: Dataset[Event])
                  (implicit spark: SparkSession): Dataset[FunnelOut] = {
    import spark.implicits._
    events
      .groupByKey(_.user_id)
      .mapGroupsWithState[FunnelState, FunnelOut](GroupStateTimeout.NoTimeout) {
        (uid: Long, rows: Iterator[Event], state: GroupState[FunnelState]) =>
          var s = state.getOption.getOrElse(FunnelState(None, None, None))
          rows.toSeq.sortBy(e => (e.ts.getTime, e.event_id)).foreach { e =>
            val t = e.ts.getTime
            e.event_type match {
              case "view" if s.tView.isEmpty =>
                s = s.copy(tView = Some(t))
              case "click" if s.tClick.isEmpty && s.tView.exists(t > _) =>
                s = s.copy(tClick = Some(t))
              case "purchase" if s.tPurchase.isEmpty && s.tClick.exists(t > _) =>
                s = s.copy(tPurchase = Some(t))
              case _ => ()
            }
          }
          state.update(s)
          val stage: Long =
            if (s.tPurchase.nonEmpty) 3L
            else if (s.tClick.nonEmpty) 2L
            else if (s.tView.nonEmpty) 1L
            else 0L
          FunnelOut(uid, s.tView, s.tClick, s.tPurchase, stage)
      }
  }

  case class TransState(prevType: Option[String])
  case class TransStep(user_id: Long, from_type: String, to_type: String)

  /** Streaming MARKOV TRANSITION steps — the incremental mirror of the
    * batch [[graft.operators.Windows.eventTransitions]] pair derivation:
    * each arriving event emits one (from → to) step against the user's
    * previous event type. State per user is ONE string (the last type
    * seen) — O(1) forever; the downstream consumer aggregates steps into
    * the matrix with an ordinary streaming groupBy count, so matrix
    * maintenance never replays history. Per-batch rows fold in
    * event-time order like every mirror here, tie-breaking equal
    * timestamps on event_id exactly like the batch lead-pair query —
    * with ids supplied the emitted step multiset equals the batch set
    * for any arrival pattern within a batch. */
  def transitionsStream(events: Dataset[Event])
                       (implicit spark: SparkSession): Dataset[TransStep] = {
    import spark.implicits._
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[TransState, TransStep](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (uid: Long, rows: Iterator[Event], state: GroupState[TransState]) =>
          var prev = state.getOption.flatMap(_.prevType)
          val out = Seq.newBuilder[TransStep]
          rows.toSeq.sortBy(e => (e.ts.getTime, e.event_id)).foreach { e =>
            prev.foreach(p => out += TransStep(uid, p, e.event_type))
            prev = Some(e.event_type)
          }
          state.update(TransState(prev))
          out.result().iterator
      }
  }

  case class TouchState(ts: Option[Long], tpe: Option[String])
  case class TouchOut(user_id: Long, purchase_ts: Long, touch_ts: Option[Long],
                      touch_type: Option[String], secs_since_touch: Option[Long])

  /** Streaming LAST-TOUCH ATTRIBUTION — the incremental mirror of the
    * batch [[graft.operators.Windows.lastTouchAttribution]]: each
    * purchase is emitted immediately, credited to the latest view/click
    * seen STRICTLY BEFORE it. State per user is one (ts, type) pair —
    * O(1) forever, no event log retained (the windowed-join alternative
    * holds `watermark`-worth of both streams). Each batch folds its
    * group's rows in event-time order, so for STRICTLY-INCREASING
    * per-user timestamps the emitted rows equal the batch window query
    * row-for-row (equal-ts ties order by event_id on BOTH sides when the
    * source supplies [[Event.event_id]]); purchases before
    * any touch emit NULL attribution exactly like the batch frame does. */
  def lastTouchStream(events: Dataset[Event])
                     (implicit spark: SparkSession): Dataset[TouchOut] = {
    import spark.implicits._
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[TouchState, TouchOut](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (uid: Long, rows: Iterator[Event], state: GroupState[TouchState]) =>
          var s = state.getOption.getOrElse(TouchState(None, None))
          val out = Seq.newBuilder[TouchOut]
          rows.toSeq.sortBy(e => (e.ts.getTime, e.event_id)).foreach { e =>
            val t = e.ts.getTime
            e.event_type match {
              case "purchase" =>
                out += TouchOut(uid, t, s.ts, s.tpe, s.ts.map(x => (t - x) / 1000L))
              case "view" | "click" =>
                s = TouchState(Some(t), Some(e.event_type))
              case _ => ()
            }
          }
          state.update(s)
          out.result().iterator
      }
  }

  case class SpikeState(cents: Seq[Long]) // most recent first, <= 8 taps
  case class SpikeOut(user_id: Long, t: Long, v: Double, dev_pct: Long)

  case class DdState(bal: Long, peak: Long, maxdd: Long, n: Long)
  case class DdOut(user_id: Long, n_events: Long, final_cents: Long,
                   max_peak_cents: Long, max_drawdown_cents: Long)

  /** Streaming MAX-DRAWDOWN — the incremental mirror of the batch
    * [[graft.operators.Windows.maxDrawdown]] ledger: state per user is
    * FOUR longs (balance, running peak, max drawdown, event count) —
    * O(1) forever, no history replay — updated by the identical signed
    * cents rule (purchase/signup credit, error/click debit, view
    * neutral). The peak starts at the FIRST balance, not zero, matching
    * the batch running-max frame. Each batch emits the user's updated
    * summary row; per-batch rows fold in event-time order, so for
    * STRICTLY-INCREASING per-user timestamps the last emission per user
    * equals the batch operator's row; equal-ts ties order by event_id on
    * both sides when the source supplies [[Event.event_id]]. */
  def drawdownStream(events: Dataset[Event])
                    (implicit spark: SparkSession): Dataset[DdOut] = {
    import spark.implicits._
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[DdState, DdOut](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (uid: Long, rows: Iterator[Event], state: GroupState[DdState]) =>
          var s = state.getOption.getOrElse(DdState(0L, 0L, 0L, 0L))
          rows.toSeq.sortBy(e => (e.ts.getTime, e.event_id)).foreach { e =>
            val delta = e.event_type match {
              case "purchase" | "signup" => math.round(e.value * 100.0)
              case "error" | "click"     => -math.round(e.value * 100.0)
              case _                     => 0L
            }
            val bal = s.bal + delta
            val peak = if (s.n == 0L) bal else math.max(s.peak, bal)
            s = DdState(bal, peak, math.max(s.maxdd, peak - bal), s.n + 1)
          }
          state.update(s)
          Iterator(DdOut(uid, s.n, s.bal, s.peak, s.maxdd))
      }
  }

  /** Streaming SPIKE DETECTION — the incremental mirror of the batch
    * [[graft.operators.Windows.anomalySpikes]]: flag a value deviating
    * more than 50% from the EWMA of the user's PREVIOUS values. State
    * per user is the same ≤8-value integer-cents ring [[ewmaStream]]
    * keeps — O(1) forever — and the predicate is the identical
    * cross-multiplied integer comparison, evaluated against the ring
    * BEFORE the new value enters it. Each batch folds its rows in
    * event-time order, so for STRICTLY-INCREASING per-user timestamps
    * the flagged set equals the batch operator's; equal-ts ties order by
    * event_id on both sides when the source supplies
    * [[Event.event_id]]. `t` is epoch micros, matching the batch
    * output. */
  def anomalyStream(events: Dataset[Event])
                   (implicit spark: SparkSession): Dataset[SpikeOut] = {
    import spark.implicits._
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SpikeState, SpikeOut](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (uid: Long, rows: Iterator[Event], state: GroupState[SpikeState]) =>
          var buf = state.getOption.map(_.cents).getOrElse(Seq.empty)
          val out = Seq.newBuilder[SpikeOut]
          rows.toSeq.sortBy(e => (e.ts.getTime, e.event_id)).foreach { e =>
            val c = math.round(e.value * 100.0)
            val weights = buf.indices.map(j => 128L >> j)
            val num = buf.zip(weights).map { case (x, w) => x * w }.sum
            val den = weights.sum
            if (num > 0 && math.abs(c * den - num) * 100 > num * 50)
              out += SpikeOut(uid, e.ts.getTime * 1000L,
                c.toDouble / 100.0, math.abs(c * den - num) * 100 / num)
            buf = (c +: buf).take(8)
          }
          state.update(SpikeState(buf))
          out.result().iterator
      }
  }

  case class SsCounter(item: Long, est: Long, err: Long)
  case class SsState(counters: Seq[SsCounter])
  case class SsOut(event_type: String, item: Long, est: Long, err: Long)

  /** Streaming TOP-K HEAVY HITTERS — SpaceSaving with `m` counters per
    * key (the streaming dual of the batch Misra–Gries sketch behind
    * `agg_heavy_hitters`): per event_type, track the heaviest user_ids
    * in O(m) state forever. Seen item → est+1; room → insert (1, 0);
    * full → evict the min-est counter (tie: smallest item — stated so
    * the fold is deterministic) and adopt its est as the newcomer's est
    * and err. Classic guarantees hold per key: est ≥ true ≥ est − err,
    * and any item with true count > N/m is in the sketch. Each batch
    * folds rows in event-time order and emits the key's full sketch,
    * sorted (est desc, item asc); when distinct items per key ≤ m no
    * eviction ever fires, err stays 0, and the sketch IS the exact
    * count table (the spec's differential).
    *
    * Scale: keyed by event_type so state shards across executors; per
    * key the sketch is a fixed m counters — no per-item state, the
    * whole point of SpaceSaving over a counting dedup. A single
    * pathologically-hot key serializes through one executor — the same
    * trade every keyed sketch makes; shard-salt the key and merge
    * sketches downstream when that key dominates. */
  def topkStream(events: Dataset[Event], m: Int = 8)
                (implicit spark: SparkSession): Dataset[SsOut] = {
    import spark.implicits._
    events
      .groupByKey(_.event_type)
      .flatMapGroupsWithState[SsState, SsOut](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (key: String, rows: Iterator[Event], state: GroupState[SsState]) =>
          var cs = state.getOption.map(_.counters).getOrElse(Seq.empty)
          rows.toSeq.sortBy(e => (e.ts.getTime, e.event_id)).foreach { e =>
            val item = e.user_id
            cs.indexWhere(_.item == item) match {
              case i if i >= 0 =>
                cs = cs.updated(i, cs(i).copy(est = cs(i).est + 1))
              case _ if cs.length < m =>
                cs = cs :+ SsCounter(item, 1L, 0L)
              case _ =>
                val victim = cs.minBy(c => (c.est, c.item))
                cs = cs.filterNot(c => c.item == victim.item) :+
                  SsCounter(item, victim.est + 1, victim.est)
            }
          }
          state.update(SsState(cs))
          cs.sortBy(c => (-c.est, c.item))
            .map(c => SsOut(key, c.item, c.est, c.err)).iterator
      }
  }

  /** File-source stream over the driver's `events.parquet` (TESTDATA).
    * File streams must declare a schema up front; we take it from the
    * BATCH reader's parquet footer scan and then apply the batch
    * normalization of [[graft.sources.Tables.events]], so the streaming
    * source cannot drift from the batch contract. */
  def readEventsStream(spark: SparkSession, dir: String): DataFrame = {
    val schema = spark.read.parquet(s"$dir/events.parquet").schema
    graft.sources.Tables.eventsOf(spark, spark.readStream.schema(schema)
      .option("pathGlobFilter", "events.parquet")
      .parquet(dir))
  }

  /** IN-STREAM INDEX MAINTENANCE (r10 verdict #5) — the last cell of the
    * build → persist → serve → MAINTAIN matrix: arriving embedding
    * micro-batches `(vec_id, embedding)` FOLD into the persisted
    * NN-descent graph as they land, via foreachBatch over
    * [[graft.operators.Similarity.nndInsertKnn]] (the same DiskANN-style
    * insert the batch `sim_nnd_incremental` path runs — beam-search seed
    * + one local refinement, candidates per node bounded by
    * nEntries + hops·beam·(adjCap+1) + k·(adjCap+1), independent of
    * graph size).
    *
    * State model: NO streaming state store — the graph delta lives in
    * the index store itself (`stateDir/edges`, `stateDir/emb`), written
    * one `batch_id=N` partition per micro-batch with overwrite-by-batch
    * semantics, so foreachBatch's at-least-once replays are IDEMPOTENT:
    * a re-run batch reads only partitions with `batch_id < its own id`
    * (its earlier partial output is invisible to itself) and overwrites
    * its own partition. Later batches see earlier arrivals as graph
    * nodes, so a vector folded in batch 2 is searchable when batch 3
    * inserts — stream-folded state after N batches is row-identical to
    * replaying the same N chunks through the batch insert (the
    * StreamsSpec differential).
    *
    * Scale: per batch the insert pays one column-pruned scan of the
    * node-embedding side (broadcast-built from the bounded candidate
    * set) plus the bounded scoring joins — batch arrivals amortize it;
    * the corpus never re-pairs with itself and the per-node candidate
    * bound is corpus-independent, so fold cost tracks arrivals, not
    * corpus. Partition growth (one dir per micro-batch) is bounded by
    * [[compactMaintenanceState]]/[[FoldState]]: periodic compaction
    * collapses everything below a watermark into one generation, so
    * serve-side file listing stays O(batches since compaction), not
    * O(total batches). */
  def nndMaintainStream(spark: SparkSession, arrivals: DataFrame,
                        dir: String, stateDir: String, checkpointDir: String,
                        k: Int = 10, rounds: Int = 3, adjCap: Int = 16,
                        beam: Int = 8, hops: Int = 4, nEntries: Int = 8,
                        compactEvery: Int = 0,
                        maxGens: Int = 4): StreamingQuery = {
    val base = graft.operators.Similarity.corpusNndGraph(spark, dir, k, rounds)
      .select("u", "v", "cos")
    val corpusEmb = graft.sources.Tables.embeddings(spark, dir)
      .filter(col("vec_id") % 7 =!= 0).select("vec_id", "embedding")
    arrivals.select("vec_id", "embedding").writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        foldNndBatch(spark, batch.toDF(), base, corpusEmb, stateDir, batchId,
          k, adjCap, beam, hops, nEntries)
        maybeCompact(spark, stateDir, batchId, compactEvery, maxGens)
      }
      .start()
  }

  /** One idempotent maintenance fold (exposed for the spec's batch
    * replay): insert `batchDf` against base graph ∪ all state partitions
    * with `batch_id < batchId`, then overwrite this batch's own edge and
    * embedding partitions. */
  private[graft] def foldNndBatch(spark: SparkSession, batchDf: DataFrame,
                                  base: DataFrame, corpusEmb: DataFrame,
                                  stateDir: String, batchId: Long,
                                  k: Int, adjCap: Int, beam: Int,
                                  hops: Int, nEntries: Int): Unit = {
    // compaction-aware ([[FoldState]]): generation rows keep their
    // original batch_id, so the replay filter sees the true history
    def stateBefore(sub: String): Option[DataFrame] =
      FoldState.read(spark, s"$stateDir/$sub")
        .map(_.filter(col("batch_id") < batchId).drop("batch_id"))
    val g = stateBefore("edges").map(base.unionByName(_)).getOrElse(base)
    val nodesEmb = stateBefore("emb").map(corpusEmb.unionByName(_)).getOrElse(corpusEmb)
    // pin the micro-batch: the insert's scoring joins consume it twice
    val batch = graft.Materialize(batchDf.select("vec_id", "embedding"))
    val newEdges = graft.operators.Similarity
      .nndInsertKnn(g, nodesEmb, batch, k, adjCap, beam, hops, nEntries)
      .select(col("q_id").as("u"), col("key").as("v"), col("score").as("cos"))
    newEdges.write.mode("overwrite").parquet(s"$stateDir/edges/batch_id=$batchId")
    batch.write.mode("overwrite").parquet(s"$stateDir/emb/batch_id=$batchId")
  }

  /** IN-STREAM BM25 INDEX MAINTENANCE — the lexical twin of
    * [[nndMaintainStream]] (r10 verdict #5 named both): arriving
    * document micro-batches `(doc_id, text)` FOLD into the persisted
    * BM25 postings as they land. BM25 postings are per-document
    * decomposable (tf/dl are per-doc; df and corpus stats recompose at
    * serve time), so the fold is a pure APPEND: tokenize ONLY the batch,
    * write its `(doc_id, token, tf, dl)` postings and 1-row
    * `(n_docs, total_len)` stats as `batch_id=N` partitions under
    * `stateDir`. Same state model as the NND fold — NO streaming state
    * store; foreachBatch's at-least-once replays are idempotent because
    * a batch only ever overwrites its OWN partition.
    *
    * Serving ([[bm25ServeFromState]]) unions the base index with every
    * folded partition and runs the ONE shared scoring tail
    * ([[graft.functions.TextAnalysis.bm25Serve]]), recomputing df and
    * stats over the union — row-identical to rebuilding the index over
    * base ∪ arrivals (the StreamsSpec differential proves it equals
    * `ta_bm25_incremental`'s batch path). At 100 TB: per batch the fold
    * tokenizes arrival bytes only — never re-reads the corpus — and the
    * index grows by exactly the arrivals' postings. */
  def bm25MaintainStream(arrivals: DataFrame, stateDir: String,
                         checkpointDir: String, compactEvery: Int = 0,
                         maxGens: Int = 4): StreamingQuery =
    arrivals.select("doc_id", "text").writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        foldBm25Batch(batch.toDF(), stateDir, batchId)
        maybeCompact(batch.sparkSession, stateDir, batchId, compactEvery,
          maxGens)
      }
      .start()

  /** One idempotent BM25 maintenance fold (exposed for the spec's batch
    * replay): tokenize `batchDf`, overwrite this batch's own postings
    * and stats partitions. */
  private[graft] def foldBm25Batch(batchDf: DataFrame, stateDir: String,
                                   batchId: Long): Unit = {
    // pin the micro-batch: tokenization feeds both tf and dl
    val docs = graft.Materialize(batchDf.select("doc_id", "text"))
    val toks = docs
      .select(col("doc_id"), explode(split(lower(col("text")), " ")).as("token"))
      .filter(length(col("token")) > 0)
    val tf = toks.groupBy("doc_id", "token").agg(count(lit(1)).as("tf"))
    val dl = toks.groupBy("doc_id").agg(count(lit(1)).as("dl"))
    tf.join(dl, "doc_id")
      .write.mode("overwrite").parquet(s"$stateDir/post/batch_id=$batchId")
    dl.agg(count(lit(1)).as("n_docs"),
        coalesce(sum(col("dl")), lit(0L)).as("total_len"))
      .write.mode("overwrite").parquet(s"$stateDir/stats/batch_id=$batchId")
  }

  /** Serve BM25 top-k over base index ∪ every folded stream partition —
    * df and corpus stats recomposed over the union, so the ranking is
    * row-identical to a full rebuild over base ∪ arrivals. */
  def bm25ServeFromState(spark: SparkSession, dir: String, stateDir: String,
                         k: Int = 5): DataFrame = {
    import graft.functions.TextAnalysis
    val (basePost, baseStats) = TextAnalysis.buildBm25BaseIndex(spark, dir)
    def state(sub: String): Option[DataFrame] =
      FoldState.read(spark, s"$stateDir/$sub").map(_.drop("batch_id"))
    val post = state("post").map(basePost.unionByName(_)).getOrElse(basePost)
    val stats = state("stats").map(baseStats.unionByName(_)).getOrElse(baseStats)
      .agg(sum(col("n_docs")).as("n_docs"), sum(col("total_len")).as("total_len"))
    TextAnalysis.bm25Serve(spark, post, stats, k)
  }

  /** IN-STREAM IVF INDEX MAINTENANCE — the vector-index fold that
    * completes the in-stream maintenance family across all three index
    * types (lexical [[bm25MaintainStream]], graph [[nndMaintainStream]],
    * and this coarse-quantized vector path): arriving `(vec_id,
    * embedding)` micro-batches are assigned to their nearest PERSISTED
    * centroid ([[graft.operators.Similarity.assignWithStoredCentroids]]
    * — the ≤k-row centroid metadata inlines as plan-time literals, so
    * per-row assignment is one codegen'd argmax fold: no join, no
    * shuffle, no refit) and appended as `batch_id=N` assignment
    * partitions. Same state model as the other two folds — NO streaming
    * state store, at-least-once replays idempotent by
    * overwrite-own-partition.
    *
    * Serving ([[ivfServeFromState]]) probes base assignments ∪ folded
    * partitions — row-identical to the batch incremental path
    * (`sim_ivf_incremental`'s shape) because assignment is per-row
    * deterministic given the same stored centroids. At 100 TB: the fold
    * is an index APPEND whose cost is one argmax per arriving vector —
    * centroid refit (the expensive, rare operation) stays offline. */
  def ivfMaintainStream(spark: SparkSession, arrivals: DataFrame,
                        dir: String, stateDir: String,
                        checkpointDir: String, compactEvery: Int = 0,
                        maxGens: Int = 4): StreamingQuery = {
    val cents = graft.operators.Similarity.buildIvfCentroidTable(spark, dir)
    arrivals.select("vec_id", "embedding").writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        foldIvfBatch(batch.toDF(), cents, stateDir, batchId)
        maybeCompact(spark, stateDir, batchId, compactEvery, maxGens)
      }
      .start()
  }

  /** One idempotent IVF maintenance fold (exposed for the spec's batch
    * replay): assign `batchDf` against the stored centroids, overwrite
    * this batch's own assignment partition. */
  private[graft] def foldIvfBatch(batchDf: DataFrame, cents: DataFrame,
                                  stateDir: String, batchId: Long): Unit =
    graft.operators.Similarity
      .assignWithStoredCentroids(cents, batchDf.select("vec_id", "embedding"))
      .write.mode("overwrite").parquet(s"$stateDir/assign/batch_id=$batchId")

  /** Multi-query ANN served over base assignments ∪ every folded stream
    * partition — row-identical to the batch incremental path when the
    * same vectors have arrived. */
  def ivfServeFromState(spark: SparkSession, dir: String, stateDir: String,
                        probeBound: Long = 20L, k: Int = 5): DataFrame = {
    import graft.operators.Similarity
    val base = Similarity.ivfBaseAssignTable(spark, dir)
    val assigned = FoldState.read(spark, s"$stateDir/assign")
      .map(st => base.unionByName(st.drop("batch_id"))).getOrElse(base)
    Similarity.ivfProbeJoinTopK(assigned, probeBound, k)
  }

  /** Compact every fold-state sub-table under `stateDir` (nnd keeps
    * edges+emb, bm25 post+stats, ivf assign — any layout works: each
    * child directory is one [[FoldState]] table) up to `watermark`.
    * Run it from the maintenance driver between micro-batches (the
    * `compactEvery` cadence on the maintain streams does exactly that)
    * or offline, with the watermark strictly below any in-flight batch
    * id; serving is row-identical before and after (the StreamsSpec
    * differential). Each call MINOR-compacts only the live delta since
    * the previous watermark into a new generation and tier-merges when
    * more than `maxGens` generations accumulate ([[FoldState.compact]]),
    * so per-call IO tracks arrivals, not total state, and the per-serve
    * file listing stays O(maxGens + batches since compaction) — the
    * STREAMCHECK `compaction` gates. */
  def compactMaintenanceState(spark: SparkSession, stateDir: String,
                              watermark: Long, targetFiles: Int = 4,
                              maxGens: Int = 4): Unit = {
    val root = new org.apache.hadoop.fs.Path(stateDir)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    if (fs.exists(root))
      fs.listStatus(root).iterator.filter(_.isDirectory).foreach { s =>
        FoldState.compact(spark, s.getPath.toString, watermark, targetFiles,
          maxGens)
      }
  }

  /** Stream-driven compaction cadence (r12 verdict #8): inside a
    * maintenance foreachBatch, after batch `batchId`'s fold has fully
    * committed, compact every `compactEvery` batches at
    * `watermark = batchId`. Safe by construction: micro-batches run
    * serially in the driver, so when this fires nothing ≤ batchId is in
    * flight, and an at-least-once REPLAY of batchId after the compaction
    * only re-materializes a live dir readers already filter out
    * ([[FoldState]] replay note). */
  private def maybeCompact(spark: SparkSession, stateDir: String,
                           batchId: Long, compactEvery: Int,
                           maxGens: Int): Unit =
    if (compactEvery > 0 && batchId % compactEvery == (compactEvery - 1))
      compactMaintenanceState(spark, stateDir, watermark = batchId,
        maxGens = maxGens)

  /** Durable sink: drive a streaming DataFrame to parquet via
    * foreachBatch with a checkpoint — restart-safe micro-batch delivery
    * (the batch id makes retried batches idempotent overwrites). */
  def toParquetSink(df: DataFrame, outDir: String, checkpointDir: String): StreamingQuery =
    df.writeStream
      .option("checkpointLocation", checkpointDir)
      .outputMode(OutputMode.Update())
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        batch.write.mode("overwrite").parquet(s"$outDir/batch_$batchId")
      }
      .start()
}
