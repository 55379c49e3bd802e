package graft

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.streaming.Streams
import graft.streaming.Streams.Event

/** Streaming PERFORMANCE evidence (VERDICT r8 ask #5): every stateful
  * mirror is correctness-proven by batch-equivalence differentials
  * (FunnelStreamSpec / StreamsSpec), but its O(1)-per-key /
  * bounded-state claims were design comments only. This main runs each
  * mirror over the real events stream at 1× (sf0.1, 100k events) and
  * 10× (target/sf1, 1M events, time-EXTENDED per make_sf1.py) through
  * the noop sink, and records per run:
  *
  *   - rows/s (input rows over the summed addBatch durations — fold
  *     throughput; ADVICE r9: end-to-end wall clock was dominated by
  *     stream/checkpoint startup at 1×, so wall_s is still recorded but
  *     rows_per_s now measures the batches, not the startup)
  *   - state rows (the state store's numRowsTotal after the batch)
  *   - keys (the mirror's key universe in that data: distinct users for
  *     per-user mirrors, distinct event types for the SpaceSaving sketch,
  *     d·w for Count-Min)
  *   - state_per_key_ppm = state_rows · 10⁶ / keys
  *
  * Gate: state_per_key must stay FLAT at 10× input (ratio ≤ 1.5) — the
  * numeric form of "O(1) state per key forever". For the fixed-key
  * sketches (SpaceSaving by event_type, Count-Min's d·w grid) that also
  * pins ABSOLUTE state flat, since their key universe doesn't grow with
  * data. Writes STREAMCHECK.json; exits nonzero on a gate breach.
  *
  * (Why not gate absolute state for per-user mirrors: 10× stress data
  * shifts user ids per replica — 10× users is the intended shape, and
  * keyed state sharding across executors is exactly how a cluster
  * absorbs it. The per-key bound is the scale-safety claim.)
  *
  * STREAM-STREAM JOINS + chained dedup (VERDICT r9 ask #4): the interval
  * attribution join (inner + watermark-released left-outer) and
  * [[Streams.exactThenMinhashDedup]] hold state bounded by the WATERMARK
  * WINDOW, not the key universe — a different gate. Each runs over a
  * time-ordered MULTI-FILE split of the input (maxFilesPerTrigger=1, so
  * the watermark advances between micro-batches and eviction actually
  * executes — a single-file single-batch run never evicts and would
  * measure buffering, not the operator). The 10× data is time-EXTENDED
  * (constant per-hour density), and the trigger count scales with the
  * data (8 files at 1×, 80 at 10× — a deployment triggers on fixed
  * wall-clock intervals, so 10× the covered time means 10× the
  * triggers), so the claim "state ∝ watermark window" becomes the
  * measurable gate: PEAK state rows (max over micro-batches) must stay
  * ~flat at 10× input — ratio ≤ 2.0.
  */
object StreamCheck {
  private case class Run(name: String, tag: String, inputRows: Long,
                         wallS: Double, batchS: Double, stateRows: Long,
                         keys: Long, peakStateRows: Long) {
    def rowsPerS: Long = if (batchS > 0) (inputRows / batchS).toLong else 0L
    def statePerKeyPpm: Long = if (keys > 0) stateRows * 1000000L / keys else 0L
    /** The run's JSON object, `extra` members appended. */
    def json(extra: String): String =
      s"""{"input_rows":$inputRows,"wall_s":${fx(wallS)},"batch_s":${fx(batchS)},"rows_per_s":$rowsPerS,"state_rows":$stateRows$extra}"""
  }
  private def fx(d: Double): String = "%.2f".formatLocal(java.util.Locale.ROOT, d)

  def main(args: Array[String]): Unit = {
    val base = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val big = if (args.length > 1) args(1) else "target/sf1"
    val spark = Sessions.local(Sessions.cpus, "graft-streamcheck")
    // peak/input metrics fold over q.recentProgress, a ring buffer
    // capped by this conf (default 100); the x10 join runs already
    // produce ~81 micro-batches, so a chunk-count bump would silently
    // truncate the window the state gate is computed over (ADVICE r10)
    spark.conf.set("spark.sql.streaming.numRecentProgressUpdates", "2000")
    import spark.implicits._
    implicit val ss: SparkSession = spark

    def eventsOf(dir: String): Dataset[Event] =
      Streams.readEventsStream(spark, dir)
        .select(col("user_id"), col("ts"), col("event_type"),
          col("value"), col("event_id"))
        .as[Event]

    // (name, outputMode, key kind, stream builder). Output mode follows
    // the operator: flatMapGroupsWithState declares Append itself;
    // mapGroupsWithState and aggregations run under Update.
    val mirrors: Seq[(String, String, String, String => DataFrame)] = Seq(
      ("funnel", "update", "user", d => Streams.funnelStream(eventsOf(d)).toDF),
      ("ewma", "update", "user", d => Streams.ewmaStream(eventsOf(d)).toDF),
      ("anomaly", "append", "user", d => Streams.anomalyStream(eventsOf(d)).toDF),
      ("drawdown", "append", "user", d => Streams.drawdownStream(eventsOf(d)).toDF),
      ("last_touch", "append", "user", d => Streams.lastTouchStream(eventsOf(d)).toDF),
      ("transitions", "append", "user", d => Streams.transitionsStream(eventsOf(d)).toDF),
      ("sessionize", "append", "user", d => Streams.sessionize(eventsOf(d)).toDF),
      ("topk_spacesaving", "append", "type", d => Streams.topkStream(eventsOf(d)).toDF),
      ("countmin", "update", "grid", d => Streams.countMinStream(
        Streams.readEventsStream(spark, d).select(col("user_id").as("item")))))

    def keysOf(dir: String, kind: String): Long = kind match {
      case "user" =>
        spark.read.parquet(s"$dir/events.parquet").select("user_id").distinct().count()
      case "type" =>
        spark.read.parquet(s"$dir/events.parquet").select("event_type").distinct().count()
      case _ => 4L * 512L // Count-Min d·w — fixed by construction
    }

    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(rm); f.delete(); ()
    }

    /** Starts a query, drains it and extracts the run metrics (shared by
      * the writeStream mirrors and the self-starting maintenance folds);
      * the wall time covers start and drain. */
    def drainAndMeasure(start: => org.apache.spark.sql.streaming.StreamingQuery,
                        name: String, tag: String, keys: Long): Run = {
      val (q, wall) = Measure.clock { val q = start; q.processAllAvailable(); q }
      val progs = q.recentProgress
      val inputRows = progs.map(_.numInputRows).sum
      // ADVICE r9: throughput from the engine's own addBatch timings —
      // wall clock buries small runs under stream startup
      val batchS = progs.flatMap(p =>
        Option(p.durationMs).flatMap(m => Option(m.get("addBatch"))))
        .map(_.longValue).sum / 1e3
      def stateOf(p: org.apache.spark.sql.streaming.StreamingQueryProgress): Long =
        Option(p.stateOperators).filter(_.nonEmpty)
          .map(_.map(_.numRowsTotal).sum).getOrElse(-1L)
      val stateRows = progs.reverseIterator.map(stateOf).find(_ >= 0).getOrElse(0L)
      val peak = progs.map(stateOf).foldLeft(0L)(math.max)
      q.stop()
      Run(name, tag, inputRows, wall, batchS, stateRows, keys, peak)
    }

    /** Runs `mk(dir)` to completion through the noop sink and collects
      * the progress metrics. `dir` may be a raw testdata dir (mirrors:
      * one events.parquet, one micro-batch) or a time-split dir (joins:
      * one file per trigger). */
    def runStream(name: String, mode: String, mk: String => DataFrame,
                  dir: String, tag: String, keys: Long): Run = {
      val ckpt = new java.io.File(s"target/streamcheck/ckpt_${name}_$tag")
      if (ckpt.exists()) rm(ckpt)
      drainAndMeasure(mk(dir).writeStream.format("noop")
        .option("checkpointLocation", ckpt.getAbsolutePath)
        .outputMode(mode)
        .start(), name, tag, keys)
    }

    def runOne(name: String, mode: String, kind: String,
               mk: String => DataFrame, dir: String, tag: String): Run =
      runStream(name, mode, mk, dir, tag, keysOf(dir, kind))

    val runs = mirrors.flatMap { case (name, mode, kind, mk) =>
      Seq(runOne(name, mode, kind, mk, base, "x1"),
        runOne(name, mode, kind, mk, big, "x10"))
    }

    // ---- stream-stream joins + chained dedup (watermark-window gate) ----

    /** Splits `df` into `n` equal-row time-ordered parquet files under
      * `out` (file i named so listing order == time order; written
      * sequentially so modification times agree). Range-partitioning by
      * the ts column makes each file a contiguous time slice. */
    def splitByTime(df: DataFrame, tsCol: String, out: String, n: Int): Unit = {
      val dir = new java.io.File(out)
      // reuse ONLY a completed split (the `_DONE` marker is written
      // after the last rename; Spark's file listing hides `_`-prefixed
      // files so it never enters the stream). A dir without the marker
      // is a partial from a crashed run — regenerate (ADVICE r10).
      val done = new java.io.File(dir, "_DONE")
      if (done.exists()) return
      if (dir.exists()) rm(dir)
      dir.mkdirs()
      val tmp = new java.io.File(s"$out.tmp")
      if (tmp.exists()) rm(tmp)
      df.repartitionByRange(n, col(tsCol))
        .sortWithinPartitions(tsCol)
        .write.mode("overwrite").parquet(tmp.getAbsolutePath)
      // range partitions come out as part-00000..part-<n-1> in key order;
      // rename sequentially into the stream dir so mtime order matches
      val parts = tmp.listFiles().filter(_.getName.startsWith("part-")).sortBy(_.getName)
      parts.zipWithIndex.foreach { case (f, i) =>
        val dst = new java.io.File(dir, f"chunk_$i%05d.parquet")
        java.nio.file.Files.move(f.toPath, dst.toPath)
        dst.setLastModified(System.currentTimeMillis() + i * 1000L)
      }
      rm(tmp)
      java.nio.file.Files.writeString(done.toPath, "ok")
      ()
    }

    def chunksOf(tag: String): Int = if (tag == "x10") 80 else 8

    // split dirs are keyed by (source-dir inventory, chunk count), not
    // just the scale tag (ADVICE r10): a regenerated source or a
    // chunk-count change orphans the old split instead of serving it
    def splitKey(dir: String, n: Int): String =
      s"${graft.sources.IndexStore.keyOf(dir)}_n$n"

    def eventSplitDir(dir: String, tag: String): String = {
      val n = chunksOf(tag)
      val out = s"target/streamcheck/split_events_${tag}_${splitKey(dir, n)}"
      splitByTime(spark.read.parquet(s"$dir/events.parquet"), "ts", out, n)
      out
    }
    def docsSplitDir(dir: String, tag: String): String = {
      val out = s"target/streamcheck/split_docs_${tag}_${splitKey(dir, chunksOf(tag))}"
      // documents carry no event time; ingest_ts is a deterministic
      // 1-doc-per-minute clock off doc_id — 10× data (shifted ids) then
      // covers 10× wall-clock, the same time-extension shape as events
      splitByTime(
        spark.read.parquet(s"$dir/documents.parquet")
          .withColumn("ingest_ts",
            expr("timestamp '2024-01-01 00:00:00' + make_interval(0,0,0,0,0,doc_id,0)")),
        "ingest_ts", out, chunksOf(tag))
      out
    }

    def embSplitDir(dir: String, tag: String): String = {
      val out = s"target/streamcheck/split_emb_${tag}_${splitKey(dir, chunksOf(tag))}"
      // every 10th vector is a query, clocked 1-per-10s off vec_id —
      // constant 6 queries/min at both scales (10x data = 10x time)
      splitByTime(
        spark.read.parquet(s"$dir/embeddings.parquet")
          .filter(col("vec_id") % 10 === 0)
          .withColumn("ingest_ts",
            expr("timestamp '2024-01-01 00:00:00' + make_interval(0,0,0,0,0,0,vec_id)")),
        "ingest_ts", out, chunksOf(tag))
      out
    }

    def qtextSplitDir(dir: String, tag: String): String = {
      val out = s"target/streamcheck/split_qtext_${tag}_${splitKey(dir, chunksOf(tag))}"
      // every 25th document's text is a retrieval query, clocked off
      // doc_id (selected queries land 25 s apart — constant density;
      // 10x data = 10x covered time and a 10x-bigger served corpus)
      splitByTime(
        spark.read.parquet(s"$dir/documents.parquet")
          .filter(col("doc_id") % 25 === 0).select("doc_id", "text")
          .withColumn("ingest_ts",
            expr("timestamp '2024-01-01 00:00:00' + make_interval(0,0,0,0,0,0,doc_id)")),
        "ingest_ts", out, chunksOf(tag))
      out
    }

    def streamOf(split: String): DataFrame = {
      val schema = spark.read.parquet(split).schema
      spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(split)
    }
    // testdata timestamps are TIMESTAMP_NTZ; watermarks require
    // TIMESTAMP (UTC pinned by Sessions, so the cast is deterministic)
    def viewsOf(split: String): DataFrame =
      streamOf(split).filter(col("event_type") === "view")
        .select(col("user_id"), col("event_id").as("view_id"),
          col("ts").cast("timestamp").as("ts"))
    def purchasesOf(split: String): DataFrame =
      streamOf(split).filter(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id").as("purchase_id"),
          col("value"), col("ts").cast("timestamp").as("ts"))

    val joinMirrors: Seq[(String, String, (String, String) => (String, DataFrame))] = Seq(
      ("attribution_join", "append", (dir, tag) => {
        val s = eventSplitDir(dir, tag)
        (s, Streams.attributionJoin(viewsOf(s), purchasesOf(s)))
      }),
      ("attribution_join_outer", "append", (dir, tag) => {
        val s = eventSplitDir(dir, tag)
        (s, Streams.attributionJoinOuter(viewsOf(s), purchasesOf(s)))
      }),
      ("exact_minhash_dedup", "append", (dir, tag) => {
        val s = docsSplitDir(dir, tag)
        (s, Streams.exactThenMinhashDedup(streamOf(s)
          .withColumn("ingest_ts", col("ingest_ts").cast("timestamp"))))
      }),
      // in-stream windowed ANN top-k: state = one TopKByScore buffer per
      // (window, in-flight query); query DENSITY (6/min) is constant at
      // both scales — 10x data means 10x covered time and a 10x-bigger
      // static index, so flat peak state is exactly the "independent of
      // corpus AND stream length" claim
      ("ann_serve_topk", "append", (dir, tag) => {
        val s = embSplitDir(dir, tag)
        (s, Streams.annServeStream(spark,
          streamOf(s).select(col("vec_id").as("q_id"), col("embedding"),
            col("ingest_ts").cast("timestamp").as("ingest_ts")), dir))
      }),
      // in-stream BM25 over the impact-CAPPED persisted index: stage-1
      // sum state <= query tokens * cap per in-flight query (corpus-
      // independent by the impact pruning), stage-2 top-k <= k — flat
      // peak state against a 10x corpus + 10x query stream is the claim
      ("bm25_serve_topk", "append", (dir, tag) => {
        val s = qtextSplitDir(dir, tag)
        (s, Streams.bm25ServeStream(spark,
          streamOf(s).select(col("doc_id").as("q_id"), col("text").as("qtext"),
            col("ingest_ts").cast("timestamp").as("ingest_ts")), dir))
      }))

    val joinRuns = joinMirrors.flatMap { case (name, mode, mk) =>
      Seq((base, "x1"), (big, "x10")).map { case (dir, tag) =>
        val (split, df) = mk(dir, tag)
        runStream(name, mode, _ => df, split, tag, keys = 0L)
      }
    }

    // ---- in-stream index maintenance (fold-product gate, r10 verdict #5) ----
    // Arriving vectors (a sample of the %7==0 delta side, clocked off
    // vec_id — constant arrival density, so 10x data = 10x covered time
    // AND a 10x corpus graph) fold into the persisted NN-descent graph
    // via foreachBatch -> nndInsertKnn. No streaming state store exists
    // (state lives in the index-store partitions), so the gates are:
    //   - state_rows == 0 (the composition really is store-free), and
    //   - folded edges per arrival == k exactly at BOTH scales — the
    //     measurable form of "per-node insert work is bounded and
    //     graph-size-independent".
    def arrivalsSplitDir(dir: String, tag: String): String = {
      val out = s"target/streamcheck/split_arrv_${tag}_${splitKey(dir, chunksOf(tag))}"
      splitByTime(
        spark.read.parquet(s"$dir/embeddings.parquet")
          .filter(col("vec_id") % 70 === 0)
          .withColumn("ingest_ts",
            expr("timestamp '2024-01-01 00:00:00' + make_interval(0,0,0,0,0,0,vec_id)")),
        "ingest_ts", out, chunksOf(tag))
      out
    }
    val maintRuns = Seq((base, "x1"), (big, "x10")).map { case (dir, tag) =>
      val s = arrivalsSplitDir(dir, tag)
      val stateDir = new java.io.File(s"target/streamcheck/nnd_state_$tag")
      val ckpt = new java.io.File(s"target/streamcheck/ckpt_nnd_maint_$tag")
      Seq(stateDir, ckpt).foreach(f => if (f.exists()) rm(f))
      val run = drainAndMeasure(Streams.nndMaintainStream(spark,
        streamOf(s).select("vec_id", "embedding"), dir,
        stateDir.getAbsolutePath, ckpt.getAbsolutePath),
        "nnd_maintain", tag, keys = 0L)
      val arrivals = spark.read.parquet(s).count()
      val edges = spark.read.parquet(s"${stateDir.getAbsolutePath}/edges").count()
      (run, arrivals, edges)
    }

    // The lexical maintenance twin: arriving documents (the %7==0 delta
    // slice, clocked off doc_id) fold into BM25 postings partitions via
    // foreachBatch. Gates: store-free (state_rows == 0) and the folded
    // postings are EXACTLY the arrivals' distinct (doc_id, token) pairs
    // — the corpus is never re-tokenized into the state (fold cost
    // tracks arrivals, not corpus).
    def docArrivalsSplitDir(dir: String, tag: String): String = {
      // NOTE: distinct prefix from docsSplitDir's split_docs_ — same
      // (source, chunk) key, DIFFERENT content (the %7==0 delta slice)
      val out = s"target/streamcheck/split_bmarr_${tag}_${splitKey(dir, chunksOf(tag))}"
      splitByTime(
        spark.read.parquet(s"$dir/documents.parquet")
          .select(col("doc_id"), col("text"))
          .filter(col("doc_id") % 7 === 0)
          .withColumn("ingest_ts",
            expr("timestamp '2024-01-01 00:00:00' + make_interval(0,0,0,0,0,0,doc_id)")),
        "ingest_ts", out, chunksOf(tag))
      out
    }
    // The vector-index maintenance fold (same arrival stream as
    // nnd_maintain): one stored-centroid argmax per arriving vector,
    // appended as assignment partitions. Gates: store-free and folded
    // assignment rows == arrivals exactly.
    val ivfMaintRuns = Seq((base, "x1"), (big, "x10")).map { case (dir, tag) =>
      val s = arrivalsSplitDir(dir, tag)
      val stateDir = new java.io.File(s"target/streamcheck/ivf_state_$tag")
      val ckpt = new java.io.File(s"target/streamcheck/ckpt_ivf_maint_$tag")
      Seq(stateDir, ckpt).foreach(f => if (f.exists()) rm(f))
      val run = drainAndMeasure(Streams.ivfMaintainStream(spark,
        streamOf(s).select("vec_id", "embedding"), dir,
        stateDir.getAbsolutePath, ckpt.getAbsolutePath),
        "ivf_maintain", tag, keys = 0L)
      val arrivals = spark.read.parquet(s).count()
      val folded = spark.read.parquet(s"${stateDir.getAbsolutePath}/assign").count()
      (run, arrivals, folded)
    }

    val bm25MaintRuns = Seq((base, "x1"), (big, "x10")).map { case (dir, tag) =>
      val s = docArrivalsSplitDir(dir, tag)
      val stateDir = new java.io.File(s"target/streamcheck/bm25_state_$tag")
      val ckpt = new java.io.File(s"target/streamcheck/ckpt_bm25_maint_$tag")
      Seq(stateDir, ckpt).foreach(f => if (f.exists()) rm(f))
      val run = drainAndMeasure(Streams.bm25MaintainStream(
        streamOf(s).select("doc_id", "text"),
        stateDir.getAbsolutePath, ckpt.getAbsolutePath),
        "bm25_maintain", tag, keys = 0L)
      val arr = spark.read.parquet(s)
      val wantPairs = arr
        .select(col("doc_id"), explode(split(lower(col("text")), " ")).as("token"))
        .filter(length(col("token")) > 0)
        .select("doc_id", "token").distinct().count()
      val post = spark.read.parquet(s"${stateDir.getAbsolutePath}/post").count()
      (run, wantPairs, post)
    }

    // ---- fold-state compaction (r11 verdict #3) ----
    // The maintenance folds accumulate one batch_id=N partition per
    // micro-batch forever and every serve unions ALL of them — at
    // production batch counts the file LISTING becomes the serve
    // bottleneck. Gate: compacting the just-folded bm25 state collapses
    // every live partition into one generation (live dirs -> 0 at BOTH
    // scales — flat in batch count, where pre-compaction they scale
    // with it: 8 at 1x, 80 at 10x) and the served ranking stays
    // row-identical. Serve walls are recorded before/after for the
    // trend; the structural gates are dir count + row identity.
    val compactRuns = Seq((base, "x1"), (big, "x10")).map { case (dir, tag) =>
      val stateDir = s"target/streamcheck/bm25_state_$tag"
      val post = s"$stateDir/post"
      def serveRows(): Seq[Seq[Any]] =
        Streams.bm25ServeFromState(spark, dir, stateDir)
          .collect().map(_.toSeq).toSeq
      val dirsBefore = graft.streaming.FoldState.livePartitionCount(spark, post)
      val beforeRows = serveRows() // warm
      val (_, serveBefore) = Measure.clock(serveRows())
      val wm = graft.streaming.FoldState.maxLiveBatchId(spark, post).getOrElse(-1L)
      val (_, compactS) =
        Measure.clock(Streams.compactMaintenanceState(spark, stateDir, wm))
      val dirsAfter = graft.streaming.FoldState.livePartitionCount(spark, post)
      val afterRows = serveRows() // warm
      val (_, serveAfter) = Measure.clock(serveRows())
      (tag, dirsBefore, dirsAfter, serveBefore, serveAfter, compactS,
        beforeRows == afterRows)
    }

    // ---- stream-DRIVEN compaction cadence (r12 verdict #8) ----
    // The production shape: bm25MaintainStream with compactEvery=2 runs
    // the compaction INSIDE foreachBatch (watermark = the just-folded
    // batch id — nothing ≤ it is in flight in the serial driver), so the
    // gate exercises the cadence a deployment actually runs, not a
    // hand-invoked one. Gates: live dirs stay < compactEvery at BOTH
    // scales (8 and 80 batches both end at 0 — the last batch triggers),
    // the generation count respects maxGens (tier merges fired), and the
    // served ranking is row-identical to the manually compacted state
    // over the same arrivals.
    val autoCompactRuns = Seq((base, "x1"), (big, "x10")).map { case (dir, tag) =>
      val s = docArrivalsSplitDir(dir, tag)
      val stateDir = new java.io.File(s"target/streamcheck/bm25_auto_$tag")
      val ckpt = new java.io.File(s"target/streamcheck/ckpt_bm25_auto_$tag")
      Seq(stateDir, ckpt).foreach(f => if (f.exists()) rm(f))
      val run = drainAndMeasure(Streams.bm25MaintainStream(
        streamOf(s).select("doc_id", "text"),
        stateDir.getAbsolutePath, ckpt.getAbsolutePath,
        compactEvery = 2, maxGens = 3),
        "bm25_autocompact", tag, keys = 0L)
      val post = s"${stateDir.getAbsolutePath}/post"
      val liveDirs = graft.streaming.FoldState.livePartitionCount(spark, post)
      val gens = graft.streaming.FoldState.generationCount(spark, post)
      val autoRows = Streams
        .bm25ServeFromState(spark, dir, stateDir.getAbsolutePath)
        .collect().map(_.toSeq).toSeq
      val manualRows = Streams
        .bm25ServeFromState(spark, dir, s"target/streamcheck/bm25_state_$tag")
        .collect().map(_.toSeq).toSeq
      (run, liveDirs, gens, autoRows == manualRows)
    }

    // ---- incremental compaction COST (r12 verdict #4) ----
    // Fold 10 equal document batches, minor-compacting after every 2
    // (maxGens high enough that no tier merge pollutes the measurement):
    // each minor's generation must contain ~the delta's bytes even
    // though total state grows 5× across the run. Gate: the LAST minor
    // generation's bytes ≤ 3× the FIRST's (both cover 1/5 of the data;
    // the old rewrite-everything design scored ~5×+ and grew without
    // bound). Walls are recorded for the trend; bytes are the gate
    // (deterministic where walls are host-noisy).
    val incCompact = {
      val stateDir = new java.io.File("target/streamcheck/bm25_inc")
      if (stateDir.exists()) rm(stateDir)
      val sd = stateDir.getAbsolutePath
      val post = s"$sd/post"
      val docs = spark.read.parquet(s"$base/documents.parquet")
        .select(col("doc_id"), col("text")).filter(col("doc_id") % 7 === 0)
        .collect().map(r => (r.getLong(0), r.getString(1))).sortBy(_._1)
      val chunks = docs.grouped((docs.length + 9) / 10).toSeq.take(10)
      val steps = scala.collection.mutable.ArrayBuffer.empty[(Long, Double, Long)]
      chunks.zipWithIndex.foreach { case (c, i) =>
        Streams.foldBm25Batch(c.toSeq.toDF("doc_id", "text"), sd, i.toLong)
        if (i % 2 == 1) {
          val gensBefore = graft.streaming.FoldState.manifest(spark, post)
            .map(_._1.toSet).getOrElse(Set.empty)
          val (_, wall) = Measure.clock(Streams.compactMaintenanceState(
            spark, sd, watermark = i.toLong, maxGens = 100))
          val newGens = graft.streaming.FoldState.manifest(spark, post)
            .map(_._1.toSet).getOrElse(Set.empty) -- gensBefore
          val bytes = newGens.iterator
            .map(g => graft.streaming.FoldState.generationBytes(spark, post, g))
            .sum
          steps += ((i.toLong, wall, bytes))
        }
      }
      steps.toSeq
    }

    // explicit tag lookup (ADVICE r9: sortBy(_.tag.length) silently
    // breaks if a third scale tag ever appears)
    def pairOf(rs: Seq[Run], name: String): (Run, Run) = {
      val mine = rs.filter(_.name == name)
      (mine.find(_.tag == "x1").get, mine.find(_.tag == "x10").get)
    }
    def runJson(r: Run, withKeys: Boolean): String = r.json(
      if (withKeys) s""","keys":${r.keys},"state_per_key_ppm":${r.statePerKeyPpm}"""
      else s""","peak_state_rows":${r.peakStateRows}""")
    var breaches = 0
    val rows = mirrors.map { case (name, _, kind, _) =>
      val (r1, r10) = pairOf(runs, name)
      val ratio =
        if (r1.statePerKeyPpm > 0) r10.statePerKeyPpm.toDouble / r1.statePerKeyPpm
        else if (r10.statePerKeyPpm == 0) 1.0
        else Double.PositiveInfinity
      val ok = ratio <= 1.5
      if (!ok) breaches += 1
      s""""$name":{"key":"$kind","x1":${runJson(r1, withKeys = true)},"x10":${runJson(r10, withKeys = true)},"state_per_key_ratio":${fx(ratio)},"ok":$ok}"""
    }
    val joinRows = joinMirrors.map { case (name, _, _) =>
      val (r1, r10) = pairOf(joinRuns, name)
      val ratio =
        if (r1.peakStateRows > 0) r10.peakStateRows.toDouble / r1.peakStateRows
        else if (r10.peakStateRows == 0) 1.0
        else Double.PositiveInfinity
      val ok = ratio <= 2.0
      if (!ok) breaches += 1
      s""""$name":{"x1":${runJson(r1, withKeys = false)},"x10":${runJson(r10, withKeys = false)},"peak_state_ratio":${fx(ratio)},"ok":$ok}"""
    }
    val maintRows = {
      def one(t: (Run, Long, Long)): String = {
        val (r, arrivals, edges) = t
        val perArrival = if (arrivals > 0) edges.toDouble / arrivals else -1.0
        r.json(s""","arrivals":$arrivals,"folded_edges":$edges,"edges_per_arrival":${fx(perArrival)}""")
      }
      val Seq(m1, m10) = maintRuns
      val ok = Seq(m1, m10).forall { case (r, a, e) =>
        r.stateRows == 0 && a > 0 && e == a * 10 }
      if (!ok) breaches += 1
      def oneBm(t: (Run, Long, Long)): String =
        t._1.json(s""","arrival_token_pairs":${t._2},"folded_postings":${t._3}""")
      val Seq(b1, b10) = bm25MaintRuns
      val okBm = Seq(b1, b10).forall { case (r, want, post) =>
        r.stateRows == 0 && want > 0 && post == want }
      if (!okBm) breaches += 1
      def oneIvf(t: (Run, Long, Long)): String =
        t._1.json(s""","arrivals":${t._2},"folded_assignments":${t._3}""")
      val Seq(v1, v10) = ivfMaintRuns
      val okIvf = Seq(v1, v10).forall { case (r, a, f) =>
        r.stateRows == 0 && a > 0 && f == a }
      if (!okIvf) breaches += 1
      def oneCpt(t: (String, Int, Int, Double, Double, Double, Boolean)): String = {
        val (_, dB, dA, sB, sA, cS, same) = t
        s"""{"live_dirs_before":$dB,"live_dirs_after":$dA,"serve_s_before":${fx(sB)},"serve_s_after":${fx(sA)},"compact_s":${fx(cS)},"serve_rows_identical":$same}"""
      }
      val Seq(c1, c10) = compactRuns
      // flat in batch count: zero live dirs after compaction at BOTH
      // scales (before: 8 at 1x, 80 at 10x), ranking row-identical
      val okCpt = Seq(c1, c10).forall { case (_, dB, dA, _, _, _, same) =>
        same && dA == 0 && dB > 0 }
      if (!okCpt) breaches += 1
      // stream-driven cadence: live dirs < compactEvery(2), generation
      // count <= maxGens(3) via tier merges, serve == manual compaction
      def oneAuto(t: (Run, Int, Int, Boolean)): String = {
        val (r, liveDirs, gens, same) = t
        s"""{"input_rows":${r.inputRows},"wall_s":${fx(r.wallS)},"batch_s":${fx(r.batchS)},"live_dirs_after":$liveDirs,"generations":$gens,"serve_rows_identical":$same}"""
      }
      val Seq(a1, a10) = autoCompactRuns
      val okAuto = Seq(a1, a10).forall { case (_, liveDirs, gens, same) =>
        same && liveDirs < 2 && gens >= 1 && gens <= 3 }
      if (!okAuto) breaches += 1
      // incremental cost: each minor generation holds ~one delta's bytes
      // even as total state grows 5x across the run
      val incSteps = incCompact.map { case (wmk, w, b) =>
        s"""{"watermark":$wmk,"compact_s":${fx(w)},"minor_gen_bytes":$b}"""
      }
      val okInc = incCompact.nonEmpty && incCompact.head._3 > 0 &&
        incCompact.last._3 <= 3L * incCompact.head._3
      if (!okInc) breaches += 1
      s""""nnd_maintain":{"x1":${one(m1)},"x10":${one(m10)},"ok":$ok},""" +
        s""""bm25_maintain":{"x1":${oneBm(b1)},"x10":${oneBm(b10)},"ok":$okBm},""" +
        s""""ivf_maintain":{"x1":${oneIvf(v1)},"x10":${oneIvf(v10)},"ok":$okIvf},""" +
        s""""bm25_compaction":{"x1":${oneCpt(c1)},"x10":${oneCpt(c10)},"ok":$okCpt},""" +
        s""""bm25_autocompact":{"x1":${oneAuto(a1)},"x10":${oneAuto(a10)},"ok":$okAuto},""" +
        s""""compaction_incremental":{"steps":[${incSteps.mkString(",")}],"gate":"last minor gen bytes <= 3x first (state grew 5x)","ok":$okInc}"""
    }
    val json = s"""{"base":"$base","big":"$big","gate":"state_per_key ratio <= 1.5 at 10x input","join_gate":"peak state rows ratio <= 2.0 at 10x time-extended input","maintenance_gate":"zero streaming state AND folded product matches arrivals exactly at both scales (nnd: edges == k per arrival; bm25: postings == arrival token pairs; ivf: assignments == arrivals); compaction collapses live fold partitions to zero at both scales with the served ranking row-identical; stream-driven compactEvery cadence keeps live dirs bounded and generations tiered with serve identical to manual compaction; minor-compaction bytes track the delta (last <= 3x first while state grows 5x)","breaches":$breaches,"mirrors":{${rows.mkString(",")}},"joins":{${joinRows.mkString(",")}},"maintenance":{$maintRows}}"""
    try java.nio.file.Files.writeString(
      java.nio.file.Paths.get("STREAMCHECK.json"), json + "\n")
    catch { case _: Throwable => () }
    println(json)
    spark.stop()
    if (breaches > 0) sys.exit(1)
  }
}
