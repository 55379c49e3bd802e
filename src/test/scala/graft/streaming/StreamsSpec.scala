package graft.streaming

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import org.scalatest.funsuite.AnyFunSuite

/** MemoryStream-driven checks for the Structured Streaming surface. */
class StreamsSpec extends AnyFunSuite {
  lazy val spark = graft.Sessions.local("4", "graft-streaming-test")
  import spark.implicits._
  implicit def sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
  implicit def sparkImplicit: org.apache.spark.sql.SparkSession = spark

  private def ts(min: Int) = new java.sql.Timestamp(1700000000000L + min * 60000L)

  test("resumeDedup drops already-seen normalized urls across batches") {
    val in = MemoryStream[(String, java.sql.Timestamp)]
    val urls = in.toDF().toDF("url", "ingest_ts")
    val q = Streams.resumeDedup(urls).writeStream
      .format("memory").queryName("resume_out").outputMode(OutputMode.Append()).start()
    in.addData(("https://x.com/a/", ts(0)), ("https://x.com/b", ts(1)))
    q.processAllAvailable()
    in.addData((" https://x.com/a", ts(2)), ("https://x.com/c", ts(3)))
    q.processAllAvailable()
    val urlsOut = spark.table("resume_out").select("url_norm")
      .as[String].collect().sorted
    q.stop()
    assert(urlsOut.toSeq == Seq("https://x.com/a", "https://x.com/b", "https://x.com/c"))
  }

  test("minhashDedup suppresses near-dup documents across batches") {
    val in = MemoryStream[(Long, String, java.sql.Timestamp)]
    val docs = in.toDF().toDF("doc_id", "text", "ingest_ts")
    val q = Streams.minhashDedup(docs).writeStream
      .format("memory").queryName("mh_dedup_out").outputMode(OutputMode.Append()).start()
    val base = "the quick brown fox jumps over the lazy dog again and again"
    in.addData((1L, base, ts(0)), (2L, "a completely different document about spark engines", ts(1)))
    q.processAllAvailable()
    // identical text and a word-order-preserving duplicate share all
    // shingles → same signature → suppressed; a short doc is filtered
    in.addData((3L, base, ts(2)), (4L, "tiny doc", ts(3)),
      (5L, "yet another novel text with its own distinct shingle set entirely", ts(4)))
    q.processAllAvailable()
    val ids = spark.table("mh_dedup_out").select("doc_id").as[Long].collect().sorted
    q.stop()
    assert(ids.toSeq == Seq(1L, 2L, 5L))
  }

  test("exactThenMinhashDedup: verbatim copies die at the exact stage, near-dups at the minhash stage") {
    val in = MemoryStream[(Long, String, java.sql.Timestamp)]
    val docs = in.toDF().toDF("doc_id", "text", "ingest_ts")
    val q = Streams.exactThenMinhashDedup(docs).writeStream
      .format("memory").queryName("em_dedup_out").outputMode(OutputMode.Append()).start()
    val base = "the quick brown fox jumps over the lazy dog again and again"
    // a verbatim-heavy burst: 1 original + verbatim copies + one near-dup
    // (word-order-preserving duplicate → same signature) + one novel doc
    in.addData((1L, base, ts(0)), (2L, base, ts(1)), (3L, base, ts(2)),
      (4L, "a completely different document about spark engines", ts(3)))
    q.processAllAvailable()
    in.addData((5L, base, ts(4)), // still verbatim — exact stage state
      (6L, base, ts(5)),
      (7L, "yet another novel text with its own distinct shingle set entirely", ts(6)))
    q.processAllAvailable()
    val ids = spark.table("em_dedup_out").select("doc_id").as[Long].collect().sorted
    // both stateful stages really run in the ONE query — and the
    // signature state stays bounded by DISTINCT texts (3), not by the
    // 7 arriving docs: verbatim copies never reach the minhash state
    val ops = q.recentProgress.flatMap(_.stateOperators)
    q.stop()
    assert(ids.toSeq == Seq(1L, 4L, 7L))
    // both stages are the watermark-evictable dedup variant (two
    // distinct stateful operators per micro-batch progress)
    assert(ops.map(_.operatorName).toSet ==
      Set("dedupeWithinWatermark"), s"stages: ${ops.map(_.operatorName).toSeq}")
    assert(q.recentProgress.filter(_.stateOperators.nonEmpty)
      .forall(_.stateOperators.length == 2),
      "expected exact AND minhash stages in the one query")
    // the minhash stage is the one whose state stays <= distinct texts;
    // its per-batch rows are the smaller of the two operators' counts
    val mhRows = q.recentProgress.flatMap(p =>
      if (p.stateOperators.length == 2) Some(p.stateOperators.map(_.numRowsTotal).min)
      else None).max
    assert(mhRows <= 3, s"minhash state grew past distinct texts: $mhRows")
  }

  test("incrementalDedupStream verdicts arriving docs against a static corpus, statelessly") {
    val base = "the quick brown fox jumps over the lazy dog near the river bank today"
    val other = "completely different content with no shared shingles at all " +
      "zebra quartz violin mountain seventeen"
    val corpus = Seq((1L, base), (2L, other)).toDF("doc_id", "text")
    val in = MemoryStream[(Long, String, java.sql.Timestamp)]
    val docs = in.toDF().toDF("doc_id", "text", "ingest_ts")
    val q = Streams.incrementalDedupStream(docs, corpus).writeStream
      .format("memory").queryName("incr_out").outputMode(OutputMode.Append()).start()
    in.addData(
      (100L, base, ts(0)),                           // verbatim corpus copy
      (101L, other.replace("zebra", "yak"), ts(1)),  // near-dup of corpus doc 2
      (102L, "ein ganz anderer text ohne gemeinsame schindeln mit irgendwem " +
        "sieben acht neun zehn elf zwoelf", ts(2)),  // fresh
      (103L, "tiny doc", ts(3)))                     // short: no bands -> accept
    q.processAllAvailable()
    val verdicts = spark.table("incr_out").select("doc_id", "verdict")
      .as[(Long, String)].collect().toMap
    // stateless: no state operators at all — every verdict is a
    // stream-static join, so restart/redelivery cannot corrupt state
    val ops = q.recentProgress.flatMap(_.stateOperators)
    q.stop()
    assert(verdicts == Map(100L -> "dup_exact", 101L -> "dup_near",
      102L -> "accept", 103L -> "accept"), s"verdicts: $verdicts")
    assert(ops.isEmpty, s"expected a stateless query, got: ${ops.map(_.operatorName).toSeq}")
  }

  test("pageMergeDedupWithin dedups inside the watermark window") {
    val in = MemoryStream[(String, Long, java.sql.Timestamp)]
    val posts = in.toDF().toDF("creator_key", "id", "ingest_ts")
    val q = Streams.pageMergeDedupWithin(posts).writeStream
      .format("memory").queryName("within_out").outputMode(OutputMode.Append()).start()
    // page 1 and page 2 of the same scroll: overlapping post ids minutes apart
    in.addData(("a", 1L, ts(0)), ("a", 2L, ts(1)))
    q.processAllAvailable()
    in.addData(("a", 2L, ts(2)), ("a", 3L, ts(3)), ("b", 1L, ts(4)))
    q.processAllAvailable()
    val got = spark.table("within_out").select("creator_key", "id")
      .as[(String, Long)].collect().sorted
    q.stop()
    assert(got.toSeq == Seq(("a", 1L), ("a", 2L), ("a", 3L), ("b", 1L)))
  }

  test("enrichWithDim joins a stream to a broadcast static dimension") {
    val in = MemoryStream[(Long, Double, java.sql.Timestamp)]
    val dim = Seq((1L, "GOLD"), (2L, "SILVER")).toDF("user_id", "tier")
    val q = Streams.enrichWithDim(in.toDF().toDF("user_id", "value", "ts"), dim, "user_id")
      .writeStream.format("memory").queryName("enrich_out")
      .outputMode(OutputMode.Append()).start()
    in.addData((1L, 5.0, ts(0)), (2L, 7.0, ts(1)), (3L, 9.0, ts(2)))
    q.processAllAvailable()
    val got = spark.table("enrich_out").select("user_id", "tier")
      .as[(Long, String)].collect().sorted
    q.stop()
    // inner join: user 3 has no dimension row and drops out
    assert(got.toSeq == Seq((1L, "GOLD"), (2L, "SILVER")))
  }

  test("attributionJoin pairs purchases with views within the interval") {
    val views = MemoryStream[(Long, Long, java.sql.Timestamp)]
    val purch = MemoryStream[(Long, Long, Double, java.sql.Timestamp)]
    val joined = Streams.attributionJoin(
      views.toDF().toDF("user_id", "view_id", "ts"),
      purch.toDF().toDF("user_id", "purchase_id", "value", "ts"),
      within = "30 minutes")
    val q = joined.writeStream.format("memory").queryName("attr_out")
      .outputMode(OutputMode.Append()).start()
    views.addData((1L, 10L, ts(0)), (1L, 11L, ts(50)), (2L, 20L, ts(0)))
    // purchase at t20: within 30 min of view 10 (t0), not view 11 (t50);
    // purchase at t55: within 30 min of view 11 only; user 2 never buys
    purch.addData((1L, 100L, 9.99, ts(20)), (1L, 101L, 5.0, ts(55)))
    q.processAllAvailable()
    val got = spark.table("attr_out").select("view_id", "purchase_id")
      .as[(Long, Long)].collect().sorted
    q.stop()
    assert(got.toSeq == Seq((10L, 100L), (11L, 101L)))
  }

  test("attributionJoinOuter emits unconverted views after the watermark closes") {
    val views = MemoryStream[(Long, Long, java.sql.Timestamp)]
    val purch = MemoryStream[(Long, Long, Double, java.sql.Timestamp)]
    val joined = Streams.attributionJoinOuter(
      views.toDF().toDF("user_id", "view_id", "ts"),
      purch.toDF().toDF("user_id", "purchase_id", "value", "ts"),
      within = "30 minutes", watermark = "10 minutes")
    val q = joined.writeStream.format("memory").queryName("attr_outer_out")
      .outputMode(OutputMode.Append()).start()
    // user 1 converts; user 2 never does
    views.addData((1L, 10L, ts(0)), (2L, 20L, ts(0)))
    purch.addData((1L, 100L, 9.99, ts(20)))
    q.processAllAvailable()
    // advance BOTH watermarks past t0 + 30min + 10min so the engine can
    // prove view 20 is unmatchable and release it with nulls
    views.addData((98L, 980L, ts(300)))
    purch.addData((99L, 990L, 1.0, ts(300)))
    q.processAllAvailable()
    val got = spark.table("attr_outer_out")
      .select("view_id", "purchase_id").collect()
      .map(r => (r.getLong(0), if (r.isNullAt(1)) -1L else r.getLong(1)))
      .sorted.toSeq
    q.stop()
    assert(got.contains((10L, 100L)), s"converted view missing: $got")
    assert(got.contains((20L, -1L)), s"unconverted view not released: $got")
  }

  test("windowedEventCounts aggregates per tumbling window with watermark") {
    val in = MemoryStream[(java.sql.Timestamp, String, Double)]
    val events = in.toDF().toDF("ts", "event_type", "value")
    val q = Streams.windowedEventCounts(events, "10 minutes", "30 minutes")
      .writeStream.format("memory").queryName("win_out")
      .outputMode(OutputMode.Update()).start()
    in.addData((ts(0), "click", 1.0), (ts(5), "click", 2.0), (ts(12), "view", 5.0))
    q.processAllAvailable()
    val rows = spark.table("win_out")
      .groupBy("event_type").agg(sum("n").as("n"), sum("total_value").as("v"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).sorted
    q.stop()
    assert(rows.toSeq == Seq(("click", 2L, 3.0), ("view", 1L, 5.0)))
  }

  test("streamingCreatorMetrics maintains algebraic per-creator state") {
    val in = MemoryStream[(String, Long, Long, Long, java.sql.Timestamp)]
    val posts = in.toDF().toDF("creator_key", "like_count", "comment_count", "taken_at", "post_ts")
    val q = Streams.streamingCreatorMetrics(posts).writeStream
      .format("memory").queryName("creator_out").outputMode(OutputMode.Update()).start()
    in.addData(("a", 10L, 1L, 100L, ts(0)), ("a", 20L, 2L, 200L, ts(1)), ("b", 5L, 0L, 50L, ts(2)))
    q.processAllAvailable()
    val m = spark.table("creator_out").collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    q.stop()
    assert(m("a") == ((2L, 30L, 3L, 200L)))
    assert(m("b") == ((1L, 5L, 0L, 50L)))
  }

  test("file-source stream over events.parquet matches the batch aggregation") {
    val dir = "/root/testdata/sf0.001"
    val stream = Streams.windowedEventCounts(
      Streams.readEventsStream(spark, dir), "1 day", "0 seconds")
    val q = stream.writeStream.format("memory").queryName("file_stream_out")
      .outputMode(OutputMode.Update()).start()
    q.processAllAvailable()
    val streamed = spark.table("file_stream_out")
      .groupBy("event_type").agg(sum("n").as("n")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    q.stop()
    val batch = graft.sources.Tables.events(spark, dir)
      .groupBy("event_type").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(streamed == batch, s"streamed=$streamed batch=$batch")
  }

  test("foreachBatch parquet sink persists micro-batches with a checkpoint") {
    val base = java.nio.file.Files.createTempDirectory("graft_sink").toString
    val in = MemoryStream[(java.sql.Timestamp, String, Double)]
    val agg = Streams.windowedEventCounts(
      in.toDF().toDF("ts", "event_type", "value"), "10 minutes", "30 minutes")
    val q = Streams.toParquetSink(agg, s"$base/out", s"$base/ckpt")
    in.addData((ts(0), "click", 1.0), (ts(2), "view", 2.0))
    q.processAllAvailable()
    q.stop()
    val written = spark.read.parquet(s"$base/out/batch_*")
    assert(written.count() >= 2)
    assert(written.columns.contains("event_type"))
    assert(new java.io.File(s"$base/ckpt/offsets").exists, "no checkpoint written")
  }

  test("sessionize closes a session after the inactivity gap") {
    import Streams.{Event, Session}
    val in = MemoryStream[Event]
    val q = Streams.sessionize(in.toDS(), gapMs = 10 * 60000L).writeStream
      .format("memory").queryName("sess_out").outputMode(OutputMode.Append()).start()
    // session 1: events at t0, t5; then a 20-min gap; session 2 at t25
    in.addData(Event(1L, ts(0), "click", 1.0), Event(1L, ts(5), "click", 2.0))
    q.processAllAvailable()
    in.addData(Event(1L, ts(25), "click", 4.0))
    q.processAllAvailable()
    // push the watermark far ahead so session 2 times out too
    in.addData(Event(2L, ts(300), "click", 0.0))
    q.processAllAvailable()
    in.addData(Event(2L, ts(400), "click", 0.0))
    q.processAllAvailable()
    val sessions = spark.table("sess_out").as[Session].collect()
      .filter(_.user_id == 1L).sortBy(_.session_start.getTime)
    q.stop()
    assert(sessions.length == 2, s"got ${sessions.toSeq}")
    assert(sessions(0).n_events == 2 && sessions(0).total_value == 3.0)
    assert(sessions(1).n_events == 1 && sessions(1).total_value == 4.0)
  }

  test("streaming ANN probe: per-batch top-k matches the batch persisted-index " +
    "search, recall vs exact search preserved") {
    import org.apache.spark.sql.{Dataset, Row}
    import graft.operators.Similarity
    val dir = "/root/testdata/sf0.001"
    val in = MemoryStream[(Long, Seq[Float])]
    val probed = Streams.annProbeStream(spark, in.toDF().toDF("vec_id", "embedding"), dir)
    // per-batch top-k in the SINK — the same TopKByScore aggregation the
    // batch path runs, over each micro-batch's scored candidates
    val collected = scala.collection.mutable.ArrayBuffer.empty[(Long, Int, Long, Double)]
    val topk = udaf(new graft.functions.TopKByScore(5))
    val q = probed.writeStream.outputMode(OutputMode.Append())
      .foreachBatch { (batch: Dataset[Row], _: Long) =>
        collected.synchronized {
          collected ++= batch.groupBy("q_id")
            .agg(topk(col("cos"), col("vec_id")).as("top"))
            .select(col("q_id"), posexplode(col("top")))
            .select(col("q_id"), (col("pos") + 1).as("rnk"),
              col("col.key").as("vec_id"), col("col.score").as("cos"))
            .collect()
            .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
        }
        ()
      }
      .start()
    // two micro-batches of query vectors (taken FROM the corpus so the
    // batch persisted-index answer over vec_id < 10 is the ground truth)
    val vecs = graft.sources.Tables.embeddings(spark, dir)
      .filter(col("vec_id") < 10).select("vec_id", "embedding")
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1))).sortBy(_._1)
    assert(vecs.length == 10)
    in.addData(vecs.take(5).toSeq)
    q.processAllAvailable()
    in.addData(vecs.drop(5).toSeq)
    q.processAllAvailable()
    q.stop()
    val got = collected.sortBy(t => (t._1, t._2))
    val want = Similarity.ivfMultiQueryPersisted(spark, dir, probeBound = 10, k = 5)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
      .sortBy(t => (t._1, t._2)).toSeq
    assert(got.toSeq == want,
      s"streaming probe diverged from batch index search:\n$got\nvs\n$want")
    // recall@5 vs the batch EXACT search is therefore the batch recall
    val exact = Similarity.annMultiQueryTopK(spark, dir, probeBound = 10, k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val hits = got.count(g => exact.contains((g._1, g._3)))
    val recall = hits.toDouble / exact.size
    assert(recall > 0.3, s"streaming probe recall collapsed: $recall")
  }

  test("streaming ANN serve: in-stream windowed top-k matches the batch " +
    "persisted-index search; state bounded by k per in-flight query") {
    import graft.operators.Similarity
    val dir = "/root/testdata/sf0.001"
    val in = MemoryStream[(Long, Seq[Float], java.sql.Timestamp)]
    val served = Streams.annServeStream(
      spark, in.toDF().toDF("q_id", "embedding", "ingest_ts"), dir, k = 5)
    val q = served.writeStream.format("memory").queryName("ann_serve_out")
      .outputMode(OutputMode.Append()).start()
    val vecs = graft.sources.Tables.embeddings(spark, dir)
      .filter(col("vec_id") < 10).select("vec_id", "embedding")
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1))).sortBy(_._1)
    // all ten queries inside one 1-minute window, split across batches
    in.addData(vecs.take(5).map { case (id, e) => (id, e, ts(0)) }.toSeq)
    q.processAllAvailable()
    in.addData(vecs.drop(5).map { case (id, e) => (id, e, ts(0)) }.toSeq)
    q.processAllAvailable()
    // a flusher far past window end + watermark releases the window
    in.addData(Seq((999L, vecs.head._2, ts(30))))
    q.processAllAvailable()
    val got = spark.table("ann_serve_out")
      .filter(col("q_id") < 10)
      .select("q_id", "rnk", "vec_id", "cos").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
      .sortBy(t => (t._1, t._2)).toSeq
    // state = one aggregation buffer per (window, query), NOT per
    // candidate: <= 11 groups here (10 queries + the flusher's window)
    val maxState = q.recentProgress.flatMap(_.stateOperators)
      .map(_.numRowsTotal).max
    q.stop()
    val want = Similarity.ivfMultiQueryPersisted(spark, dir, probeBound = 10, k = 5)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
      .sortBy(t => (t._1, t._2)).toSeq
    assert(got == want,
      s"in-stream serve diverged from batch index search:\n$got\nvs\n$want")
    assert(maxState <= 11L, s"state grew past in-flight queries: $maxState")
  }

  test("streaming BM25 probe: per-batch sum + top-k matches the batch ranking, " +
    "with zero state operators") {
    import org.apache.spark.sql.{Dataset, Row}
    val dir = "/root/testdata/sf0.001"
    val in = MemoryStream[(Long, String)]
    val probed = Streams.bm25ProbeStream(spark, in.toDF().toDF("q_id", "qtext"), dir)
    val collected = scala.collection.mutable.ArrayBuffer.empty[(Long, Int, Long, Long)]
    val topk = udaf(new graft.functions.TopKByScore(5))
    val q = probed.writeStream.outputMode(OutputMode.Append())
      .foreachBatch { (batch: Dataset[Row], _: Long) =>
        collected.synchronized {
          // a query's tokens all land in its own micro-batch, so the
          // per-batch sum is the complete per-(query, doc) score
          collected ++= batch.groupBy("q_id", "doc_id")
            .agg(sum(col("score_micro")).as("score"))
            .groupBy("q_id")
            .agg(topk(col("score").cast("double"), col("doc_id")).as("top"))
            .select(col("q_id"), posexplode(col("top")))
            .select(col("q_id"), (col("pos") + 1).as("rnk"),
              col("col.key").as("doc_id"), col("col.score").cast("long").as("score"))
            .collect()
            .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3)))
        }
        ()
      }
      .start()
    val sents = graft.functions.CorpusOps.benchmarkSentences.zipWithIndex
      .map { case (s, i) => (i.toLong, s) }
    in.addData(sents.take(2))
    q.processAllAvailable()
    in.addData(sents.drop(2))
    q.processAllAvailable()
    // zero-state contract: no stateful operator in the streaming plan
    val ops = q.recentProgress.flatMap(_.stateOperators)
    q.stop()
    assert(ops.isEmpty, s"bm25 probe must not plant streaming state: ${ops.toSeq}")
    val got = collected.sortBy(t => (t._1, t._2)).toSeq
    val want = graft.functions.TextAnalysis.bm25TopK(spark, dir)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3)))
      .sortBy(t => (t._1, t._2)).toSeq
    assert(got == want, s"streaming probe diverged from batch BM25:\n$got\nvs\n$want")
  }

  test("streaming BM25 serve: chained windowed sum + top-k emits the batch " +
    "ranking in-stream") {
    val dir = "/root/testdata/sf0.001"
    val in = MemoryStream[(Long, String, java.sql.Timestamp)]
    // impactCap above every token's df -> the capped serve index is the
    // FULL impact index and the stream must equal exact batch BM25
    // row-for-row (the default cap's recall trade is gated below)
    val served = Streams.bm25ServeStream(
      spark, in.toDF().toDF("q_id", "qtext", "ingest_ts"), dir, k = 5,
      impactCap = 1 << 20)
    val q = served.writeStream.format("memory").queryName("bm25_serve_out")
      .outputMode(OutputMode.Append()).start()
    val sents = graft.functions.CorpusOps.benchmarkSentences.zipWithIndex
      .map { case (s, i) => (i.toLong, s) }
    in.addData(sents.take(2).map { case (i, s) => (i, s, ts(0)) })
    q.processAllAvailable()
    in.addData(sents.drop(2).map { case (i, s) => (i, s, ts(0)) })
    q.processAllAvailable()
    // flusher past window end + watermark releases both chained windows
    in.addData(Seq((999L, sents.head._2, ts(30))))
    q.processAllAvailable()
    // two stateful aggregation stages really run in the ONE query
    val stagesPerBatch = q.recentProgress
      .filter(_.stateOperators.nonEmpty).map(_.stateOperators.length)
    q.stop()
    assert(stagesPerBatch.nonEmpty && stagesPerBatch.forall(_ == 2),
      s"expected chained sum + top-k stages: $stagesPerBatch")
    val got = spark.table("bm25_serve_out")
      .filter(col("q_id") < 999)
      .select("q_id", "rnk", "doc_id", "score_micro").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3)))
      .sortBy(t => (t._1, t._2)).toSeq
    val want = graft.functions.TextAnalysis.bm25TopK(spark, dir)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3)))
      .sortBy(t => (t._1, t._2)).toSeq
    assert(got == want, s"in-stream serve diverged from batch BM25:\n$got\nvs\n$want")
  }

  test("streaming BM25 serve: default impact cap trades bounded state for recall") {
    val dir = "/root/testdata/sf0.001"
    val in = MemoryStream[(Long, String, java.sql.Timestamp)]
    val served = Streams.bm25ServeStream(
      spark, in.toDF().toDF("q_id", "qtext", "ingest_ts"), dir, k = 5)
    val q = served.writeStream.format("memory").queryName("bm25_cap_out")
      .outputMode(OutputMode.Append()).start()
    val sents = graft.functions.CorpusOps.benchmarkSentences.zipWithIndex
      .map { case (s, i) => (i.toLong, s) }
    in.addData(sents.map { case (i, s) => (i, s, ts(0)) })
    q.processAllAvailable()
    in.addData(Seq((999L, sents.head._2, ts(30))))
    q.processAllAvailable()
    val got = spark.table("bm25_cap_out").filter(col("q_id") < 999)
      .select("q_id", "doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    q.stop()
    val exact = graft.functions.TextAnalysis.bm25TopK(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val recall = got.count(exact.contains).toDouble / exact.size
    // at 500 docs, common tokens have df >> 128: the cap really prunes,
    // yet high-impact (rare, high-idf) postings survive by construction
    assert(recall >= 0.5, s"impact-capped recall collapsed: $recall ($got vs $exact)")
  }

  test("decontaminateStream flags benchmark-overlapping docs at admission, statelessly") {
    val in = MemoryStream[(Long, String)]
    val docs = in.toDF().toDF("doc_id", "text")
    val q = Streams.decontaminateStream(docs).writeStream
      .format("memory").queryName("decon_out").outputMode(OutputMode.Append()).start()
    val bench = graft.functions.CorpusOps.benchmarkSentences.head
    in.addData(
      (1L, s"some training document that quotes a benchmark: $bench"),
      (2L, "a perfectly clean document about distributed query engines"),
      (3L, "short doc"), // < 5 tokens: no grams, can never be flagged
      // exactly ONE overlapping gram (first 5 benchmark tokens, then
      // diverges) — under the >= 2 hits contract a lone gram is clean
      (4L, bench.split(" ").take(5).mkString(" ") + " and then something else entirely"))
    q.processAllAvailable()
    val got = spark.table("decon_out")
      .select("doc_id", "n_hits", "contaminated")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getBoolean(2)))
      .sortBy(_._1)
    q.stop()
    assert(got.length == 4)
    assert(got(0)._3, s"planted doc not flagged: ${got(0)}")
    assert(got(0)._2 >= 2)
    assert(!got(1)._3 && got(1)._2 == 0, s"clean doc flagged: ${got(1)}")
    assert(!got(2)._3 && got(2)._2 == 0, s"short doc flagged: ${got(2)}")
    assert(!got(3)._3 && got(3)._2 == 1, s"lone-gram doc misjudged: ${got(3)}")
  }

  test("countMinStream: final counters equal the batch grid; state bounded by d*w") {
    val d = 4; val w = 64
    val in = MemoryStream[String]
    val q = Streams.countMinStream(in.toDF().toDF("item"), d, w).writeStream
      .format("memory").queryName("cm_out").outputMode(OutputMode.Complete()).start()
    val batch1 = Seq.tabulate(200)(i => s"k${i % 7}")
    val batch2 = Seq.tabulate(300)(i => s"k${i % 23}")
    in.addData(batch1: _*)
    q.processAllAvailable()
    in.addData(batch2: _*)
    q.processAllAvailable()
    val streamed = spark.table("cm_out")
      .collect().map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2)).toMap
    q.stop()
    // the sketch grid never exceeds d*w counters no matter how many
    // distinct items flowed through
    assert(streamed.size <= d * w, s"state ${streamed.size} > ${d * w}")
    // batch replay of the identical build over the union of both batches
    val batchGrid = (batch1 ++ batch2).toDF("item")
      .select(posexplode(array((0 until d).map(r =>
        pmod(xxhash64(col("item"), lit(r)), lit(w.toLong))): _*)).as(Seq("r", "bucket")))
      .groupBy("r", "bucket").agg(count(lit(1)).as("c"))
      .collect().map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(streamed == batchGrid)
  }

  /** The last micro-batch's EXECUTED physical plan (streaming frames
    * don't EXPLAIN before start; the IncrementalExecution of a drained
    * batch is the real per-batch plan — the r10 verdict #7 pin). */
  private def lastBatchPlan(q: org.apache.spark.sql.streaming.StreamingQuery): String =
    q.asInstanceOf[org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper]
      .streamingQuery.lastExecution.executedPlan.toString

  test("serve-stream plan pins: ann = ONE stateful aggregation, bm25 = TWO chained; " +
    "bounded-buffer top-k aggregates partially; no cartesian anywhere") {
    val dir = "/root/testdata/sf0.001"
    // ANN serve micro-batch plan
    val annIn = MemoryStream[(Long, Seq[Float], java.sql.Timestamp)]
    val annQ = Streams.annServeStream(
      spark, annIn.toDF().toDF("q_id", "embedding", "ingest_ts"), dir, k = 5)
      .writeStream.format("noop").outputMode(OutputMode.Append()).start()
    val vec = graft.sources.Tables.embeddings(spark, dir)
      .filter(col("vec_id") < 2).select("vec_id", "embedding")
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1)))
    annIn.addData(vec.map { case (i, e) => (i, e, ts(0)) }.toSeq)
    annQ.processAllAvailable()
    val annPlan = lastBatchPlan(annQ)
    annQ.stop()
    assert("StateStoreSave".r.findAllIn(annPlan).size == 1,
      s"ann serve: expected exactly one stateful aggregation:\n$annPlan")
    assert(annPlan.contains("ObjectHashAggregate") &&
      annPlan.toLowerCase.contains("partial_topkbyscore"),
      s"ann serve: top-k must partial-aggregate into the bounded buffer:\n$annPlan")
    assert(!annPlan.contains("CartesianProduct"),
      s"ann serve went cartesian:\n$annPlan")

    // BM25 serve micro-batch plan
    val bmIn = MemoryStream[(Long, String, java.sql.Timestamp)]
    val bmQ = Streams.bm25ServeStream(
      spark, bmIn.toDF().toDF("q_id", "qtext", "ingest_ts"), dir, k = 5)
      .writeStream.format("noop").outputMode(OutputMode.Append()).start()
    bmIn.addData(Seq((0L, graft.functions.CorpusOps.benchmarkSentences.head, ts(0))))
    bmQ.processAllAvailable()
    val bmPlan = lastBatchPlan(bmQ)
    bmQ.stop()
    assert("StateStoreSave".r.findAllIn(bmPlan).size == 2,
      s"bm25 serve: expected the chained sum + top-k stateful stages:\n$bmPlan")
    assert(!bmPlan.contains("CartesianProduct"),
      s"bm25 serve went cartesian:\n$bmPlan")
  }

  test("nndMaintainStream: stream-folded graph state equals sequential batch " +
    "folding; later batches see earlier arrivals; replays are idempotent") {
    import graft.operators.Similarity
    val dir = "/root/testdata/sf0.001"
    val stateDir = java.nio.file.Files.createTempDirectory("graft_nnd_state").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft_nnd_ckpt").toString
    val arrivals = graft.sources.Tables.embeddings(spark, dir)
      .filter(col("vec_id") % 7 === 0)
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1))).sortBy(_._1)
    assert(arrivals.length == 72)
    val chunks = arrivals.grouped(24).toSeq // 3 micro-batches
    val in = MemoryStream[(Long, Seq[Float])]
    val q = Streams.nndMaintainStream(spark,
      in.toDF().toDF("vec_id", "embedding"), dir, stateDir, ckpt)
    chunks.foreach { c => in.addData(c.toSeq); q.processAllAvailable() }
    q.stop()
    def stateEdges(): Seq[(Long, Long, Double)] =
      spark.read.parquet(s"$stateDir/edges").select("u", "v", "cos")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        .sorted.toSeq
    val got = stateEdges()
    // INDEPENDENT sequential replay through the batch insert — in-memory
    // unions, no state dir: proves the stream's read/write/idempotence
    // plumbing reconstructs exactly the batch-folded graph
    val base = Similarity.corpusNndGraph(spark, dir).select("u", "v", "cos")
    val corpusEmb = graft.sources.Tables.embeddings(spark, dir)
      .filter(col("vec_id") % 7 =!= 0).select("vec_id", "embedding")
    var g = base
    var emb = corpusEmb
    val want = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Double)]
    chunks.foreach { c =>
      val batch = c.toSeq.toDF("vec_id", "embedding")
      val newE = Similarity
        .nndInsertKnn(g, emb, batch, k = 10, adjCap = 16, beam = 8, hops = 4, nEntries = 8)
        .select(col("q_id").as("u"), col("key").as("v"), col("score").as("cos"))
        .localCheckpoint()
      want ++= newE.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      g = g.unionByName(newE)
      emb = emb.unionByName(batch)
    }
    assert(got == want.sorted.toSeq, "stream-folded state diverged from batch folding")
    // every arrival got exactly k = 10 neighbors
    val byNode = got.groupBy(_._1)
    assert(byNode.keySet == arrivals.map(_._1).toSet)
    assert(byNode.values.forall(_.size == 10))
    // later batches search earlier arrivals: some batch-2/3 node links
    // to a batch-1/2 arrival (earlier-folded ids are %7==0 too)
    val arrivalIds = arrivals.map(_._1).toSet
    assert(got.exists(e => arrivalIds.contains(e._2)),
      "no folded arrival ever became a neighbor — earlier batches invisible")
    // at-least-once replay: re-folding the LAST micro-batch under its own
    // batch id must leave the state byte-identical (its own earlier
    // output is invisible to the re-run, and it overwrites its partition)
    Streams.foldNndBatch(spark, chunks.last.toSeq.toDF("vec_id", "embedding"),
      base, corpusEmb, stateDir, batchId = 2,
      k = 10, adjCap = 16, beam = 8, hops = 4, nEntries = 8)
    assert(stateEdges() == got, "replaying the last batch changed the state")
  }

  test("bm25MaintainStream: serving off stream-folded postings equals the " +
    "batch incremental path; folds are append-only and replay-idempotent") {
    import graft.functions.TextAnalysis
    val dir = "/root/testdata/sf0.001"
    val stateDir = java.nio.file.Files.createTempDirectory("graft_bm25_state").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft_bm25_ckpt").toString
    val arrivals = graft.sources.Tables.documents(spark, dir)
      .filter(col("doc_id") % 7 === 0).select("doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getString(1))).sortBy(_._1)
    assert(arrivals.nonEmpty)
    val chunks = arrivals.grouped((arrivals.length + 2) / 3).toSeq // 3 micro-batches
    val in = MemoryStream[(Long, String)]
    val q = Streams.bm25MaintainStream(
      in.toDF().toDF("doc_id", "text"), stateDir, ckpt)
    chunks.foreach { c => in.addData(c.toSeq); q.processAllAvailable() }
    q.stop()
    // the folded index serves EXACTLY what the batch incremental path
    // (base index + delta tokenized at query time) serves — df and
    // corpus stats recomposed over the union
    val got = Streams.bm25ServeFromState(spark, dir, stateDir)
      .collect().map(_.toSeq).toSeq
    val want = TextAnalysis.bm25Incremental(spark, dir)
      .collect().map(_.toSeq).toSeq
    assert(got == want, "stream-folded serving diverged from batch incremental")
    // append-only fold: state postings are exactly the arrivals' (doc_id,
    // token) pairs — the corpus was never re-tokenized into the state
    val statePost = spark.read.parquet(s"$stateDir/post")
    val wantPairs = arrivals.toSeq.toDF("doc_id", "text")
      .select(col("doc_id"), explode(split(lower(col("text")), " ")).as("token"))
      .filter(length(col("token")) > 0)
      .select("doc_id", "token").distinct().count()
    assert(statePost.count() == wantPairs)
    // at-least-once replay: re-folding the LAST micro-batch under its own
    // batch id overwrites its own partition — state unchanged
    Streams.foldBm25Batch(chunks.last.toSeq.toDF("doc_id", "text"),
      stateDir, batchId = 2)
    val after = Streams.bm25ServeFromState(spark, dir, stateDir)
      .collect().map(_.toSeq).toSeq
    assert(after == got, "replaying the last batch changed the served ranking")
  }

  test("ivfMaintainStream: serving off stream-folded assignments equals the " +
    "batch incremental path; the fold is one argmax per arrival, replay-idempotent") {
    import graft.operators.Similarity
    val dir = "/root/testdata/sf0.001"
    val stateDir = java.nio.file.Files.createTempDirectory("graft_ivf_state").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft_ivf_ckpt").toString
    val arrivals = graft.sources.Tables.embeddings(spark, dir)
      .filter(col("vec_id") % 7 === 0)
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1))).sortBy(_._1)
    assert(arrivals.nonEmpty)
    val chunks = arrivals.grouped((arrivals.length + 2) / 3).toSeq // 3 micro-batches
    val in = MemoryStream[(Long, Seq[Float])]
    val q = Streams.ivfMaintainStream(spark,
      in.toDF().toDF("vec_id", "embedding"), dir,
      stateDir, ckpt)
    chunks.foreach { c => in.addData(c.toSeq); q.processAllAvailable() }
    q.stop()
    // served ranking == the batch incremental path (same stored
    // centroids, same per-row deterministic assignment)
    val got = Streams.ivfServeFromState(spark, dir, stateDir)
      .collect().map(_.toSeq).toSeq
    val want = Similarity.ivfMultiQueryIncremental(spark, dir)
      .collect().map(_.toSeq).toSeq
    assert(got == want, "stream-folded IVF serving diverged from batch incremental")
    // the fold is exactly one assignment row per arrival
    val state = spark.read.parquet(s"$stateDir/assign")
    assert(state.count() === arrivals.length.toLong)
    assert(state.select("vec_id").distinct().count() === arrivals.length.toLong)
    // at-least-once replay: re-folding the LAST batch under its own id
    // overwrites its own partition — served ranking unchanged
    val cents = Similarity.buildIvfCentroidTable(spark, dir)
    Streams.foldIvfBatch(chunks.last.toSeq.toDF("vec_id", "embedding"),
      cents, stateDir, batchId = 2)
    val after = Streams.ivfServeFromState(spark, dir, stateDir)
      .collect().map(_.toSeq).toSeq
    assert(after == got, "replaying the last batch changed the served ranking")
  }

  test("compactMaintenanceState: bm25 serving row-identical across compaction; " +
    "live partitions collapse; replayed compacted batches stay invisible") {
    import graft.functions.TextAnalysis
    val dir = "/root/testdata/sf0.001"
    val stateDir = java.nio.file.Files.createTempDirectory("graft_bm25_cpt").toString
    val post = s"$stateDir/post"
    val arrivals = graft.sources.Tables.documents(spark, dir)
      .filter(col("doc_id") % 7 === 0).select("doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getString(1))).sortBy(_._1)
    val chunks = arrivals.grouped((arrivals.length + 2) / 3).toSeq
    def serve(): Seq[Seq[Any]] =
      Streams.bm25ServeFromState(spark, dir, stateDir).collect().map(_.toSeq).toSeq
    // fold 0,1; compact them into a generation; fold 2 ON TOP of the
    // compacted state — the ranking must stay row-identical throughout
    // and equal the batch incremental path at the end
    Streams.foldBm25Batch(chunks(0).toSeq.toDF("doc_id", "text"), stateDir, 0)
    Streams.foldBm25Batch(chunks(1).toSeq.toDF("doc_id", "text"), stateDir, 1)
    assert(FoldState.livePartitionCount(spark, post) == 2)
    val before = serve()
    Streams.compactMaintenanceState(spark, stateDir, watermark = 1)
    assert(FoldState.manifest(spark, post) === Some((Seq(0L), 1L)))
    assert(FoldState.livePartitionCount(spark, post) == 0,
      "compaction must GC the superseded live partitions")
    assert(serve() == before, "compaction changed the served ranking")
    Streams.foldBm25Batch(chunks(2).toSeq.toDF("doc_id", "text"), stateDir, 2)
    assert(FoldState.livePartitionCount(spark, post) == 1)
    val got = serve()
    val want = TextAnalysis.bm25Incremental(spark, dir).collect().map(_.toSeq).toSeq
    assert(got == want, "post-compaction folding diverged from batch incremental")
    // an at-least-once replay BELOW the watermark re-materializes its
    // live dir; readers filter it out (its rows already live in the
    // generation) — no duplicates, ranking unchanged
    Streams.foldBm25Batch(chunks(0).toSeq.toDF("doc_id", "text"), stateDir, 0)
    assert(FoldState.livePartitionCount(spark, post) == 2)
    assert(serve() == got, "a replayed compacted batch duplicated state rows")
    // re-running compaction at the same watermark is a GC-only no-op:
    // it collects the replayed orphan, manifest unchanged
    Streams.compactMaintenanceState(spark, stateDir, watermark = 1)
    assert(FoldState.manifest(spark, post) === Some((Seq(0L), 1L)))
    assert(FoldState.livePartitionCount(spark, post) == 1)
    assert(serve() == got)
    val fs = new org.apache.hadoop.fs.Path(post)
      .getFileSystem(spark.sessionState.newHadoopConf())
    // a second compaction is INCREMENTAL (r12 verdict #4): only the live
    // delta (batch 2) merges into a NEW generation — gen=0 is NOT
    // rewritten (size-tiered, bytes written ∝ arrivals since the last
    // compaction); zero live dirs, ranking still identical
    Streams.compactMaintenanceState(spark, stateDir, watermark = 2)
    assert(FoldState.manifest(spark, post) === Some((Seq(0L, 1L), 2L)))
    assert(FoldState.livePartitionCount(spark, post) == 0)
    assert(fs.exists(new org.apache.hadoop.fs.Path(s"$post/_compaction/gen=0")),
      "minor compaction must NOT rewrite the prior generation")
    assert(serve() == got)
    // tier merge: forcing maxGens=1 folds the two generations into one
    // NEW generation and GCs both inputs — ranking still identical
    Streams.compactMaintenanceState(spark, stateDir, watermark = 2, maxGens = 1)
    assert(FoldState.manifest(spark, post) === Some((Seq(2L), 2L)))
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$post/_compaction/gen=0")) &&
      !fs.exists(new org.apache.hadoop.fs.Path(s"$post/_compaction/gen=1")),
      "tier merge must garbage-collect the merged generations")
    assert(serve() == got)
  }

  test("foldNndBatch reads compacted generations: fold → compact → fold " +
    "equals sequential batch folding") {
    import graft.operators.Similarity
    val dir = "/root/testdata/sf0.001"
    val stateDir = java.nio.file.Files.createTempDirectory("graft_nnd_cpt").toString
    val arrivals = graft.sources.Tables.embeddings(spark, dir)
      .filter(col("vec_id") % 7 === 0)
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1))).sortBy(_._1)
      .take(16)
    val chunks = arrivals.grouped(8).toSeq
    val base = Similarity.corpusNndGraph(spark, dir).select("u", "v", "cos")
    val corpusEmb = graft.sources.Tables.embeddings(spark, dir)
      .filter(col("vec_id") % 7 =!= 0).select("vec_id", "embedding")
    Streams.foldNndBatch(spark, chunks(0).toSeq.toDF("vec_id", "embedding"),
      base, corpusEmb, stateDir, batchId = 0,
      k = 10, adjCap = 16, beam = 8, hops = 4, nEntries = 8)
    Streams.compactMaintenanceState(spark, stateDir, watermark = 0)
    assert(FoldState.livePartitionCount(spark, s"$stateDir/edges") == 0)
    // batch 1's insert must see batch 0's arrivals through the
    // GENERATION (the live partition is gone): the fold's state read is
    // compaction-aware and the generation kept batch_id as a data column
    Streams.foldNndBatch(spark, chunks(1).toSeq.toDF("vec_id", "embedding"),
      base, corpusEmb, stateDir, batchId = 1,
      k = 10, adjCap = 16, beam = 8, hops = 4, nEntries = 8)
    val got = FoldState.read(spark, s"$stateDir/edges").get
      .select("u", "v", "cos")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .sorted.toSeq
    // sequential in-memory folding, no state dir, no compaction
    var g = base
    var emb = corpusEmb
    val want = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Double)]
    chunks.foreach { c =>
      val batch = c.toSeq.toDF("vec_id", "embedding")
      val newE = Similarity
        .nndInsertKnn(g, emb, batch, k = 10, adjCap = 16, beam = 8, hops = 4, nEntries = 8)
        .select(col("q_id").as("u"), col("key").as("v"), col("score").as("cos"))
        .localCheckpoint()
      want ++= newE.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      g = g.unionByName(newE)
      emb = emb.unionByName(batch)
    }
    assert(got == want.sorted.toSeq,
      "folding across a compaction boundary diverged from batch folding")
  }
}
