package graft.functions

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.Tables

/** Corpus-preparation operators past the cleaning/dedup families already
  * gated: benchmark decontamination, repetition filters, domain-mixture
  * sampling, and token-budget sequence packing. These are the remaining
  * standard stages of a training-data pipeline (C4/Gopher/The-Pile style
  * recipes); each is built shuffle-minimal and oracle-gated like the
  * rest of the engine.
  */
object CorpusOps {

  // ---------------------------------------------------------------- decontamination

  /** The "benchmark suite" for decontamination: a tiny held-out sentence
    * set (in a real pipeline: every eval-benchmark prompt/answer). Small
    * by nature — the whole point of the broadcast shape below. */
  val benchmarkSentences: Seq[String] = Seq(
    "the fast scan joins the small table with a hash value",
    "a window orders each batch by customer key and time",
    "der hash join und der merge scan sind schnell und klein",
  )

  private[graft] val gram5 =
    "transform(sequence(1, size(toks) - 4), i -> concat_ws(' ', toks[i-1], toks[i], toks[i+1], toks[i+2], toks[i+3]))"

  /** The benchmark's distinct lowercase 5-grams, computed driver-side —
    * the plan-time literal set the STREAMING admission filter
    * ([[graft.streaming.Streams.decontaminateStream]]) compiles into its
    * per-row projection. Small by construction (the benchmark is every
    * eval prompt/answer, not a corpus). */
  lazy val benchmarkGrams: Seq[String] = benchmarkSentences
    .flatMap(_.toLowerCase.split(" ").toSeq.sliding(5).filter(_.length == 5).map(_.mkString(" ")))
    .distinct

  /** Benchmark decontamination — flag training documents whose 5-token
    * grams overlap the benchmark set (the standard n-gram-overlap
    * decontamination check run before training). Shape: the benchmark
    * gram set is tiny and BROADCAST; the corpus side explodes its
    * distinct 5-grams once, left-joins the broadcast set map-side, and
    * aggregates per doc in ONE shuffle (conditional count — no second
    * pass for the hit count). Linear in corpus size, never corpus×corpus.
    *
    * The synthetic corpus has almost no natural 5-gram overlap (measured:
    * 1 doc in 500), so — same move as the PII-scrub gate — every 13th doc
    * gets a benchmark sentence appended (the identical plant on both
    * engines); the gate then exercises both flagged and clean paths.
    * `contaminated` requires ≥2 gram hits so a lone coincidental gram
    * (which real corpora do produce) is not a positive. */
  def decontaminate(spark: SparkSession, dir: String): DataFrame =
    decontaminateOf(spark, Tables.documents(spark, dir))

  /** The gate's benchmark plant, shared by [[decontaminateOf]] and
    * [[dsirWeightsOf]]: every 13th document gets benchmark sentence
    * `(doc_id div 13) % 3` appended as `ctext` — the identical plant on
    * both engines so the target-overlap paths are exercised. */
  private[graft] def withBenchmarkPlant(docs: DataFrame): DataFrame = {
    val plantArr = array(benchmarkSentences.map(lit): _*)
    docs.withColumn("ctext", concat(col("text"),
      when(col("doc_id") % 13 === 0,
        concat(lit(" "), element_at(plantArr,
          expr("cast((doc_id div 13) % 3 as int)") + 1)))
        .otherwise(lit(""))))
  }

  /** [[decontaminate]] over any (doc_id, text) frame (spec entry point). */
  def decontaminateOf(spark: SparkSession, docs: DataFrame): DataFrame = {
    import spark.implicits._
    val planted = withBenchmarkPlant(docs)
    // ONE source of truth for the benchmark gram set: the same
    // driver-side [[benchmarkGrams]] the streaming admission filter
    // compiles in — a SQL-side re-derivation here could silently
    // diverge the batch verdict from the streaming one
    val benchGrams = benchmarkGrams.toDF("g").withColumn("hit", lit(1))
    val grams = planted
      .withColumn("toks", split(lower(col("ctext")), " "))
      .filter(size(col("toks")) >= 5)
      .select(col("doc_id"), explode(array_distinct(expr(gram5))).as("g"))
    val perDoc = grams
      .join(broadcast(benchGrams), Seq("g"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_grams"),
        count(col("hit")).as("n_hits"))
    planted.select("doc_id")
      .join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_grams"), lit(0L)).as("n_grams"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        (coalesce(col("n_hits"), lit(0L)) >= 2).as("contaminated"))
      .orderBy("doc_id")
  }

  // ---------------------------------------------------------------- repetition filters

  /** Gopher-style repetition filters (Rae et al. 2021, appendix A1.1):
    * per-document duplicate-token fraction and top-bigram fraction, plus
    * the keep/drop gate. The bigram mode is computed via explode →
    * two-level partial-aggregated groupBy (linear, map-side combined) —
    * NOT an in-row O(len²) array fold, so cost stays linear in corpus
    * size for arbitrarily long documents. Thresholds sized to the
    * synthetic corpus distribution (measured p50 top-bigram 0.033 /
    * dup-token 0.54) so both branches of the gate are exercised. */
  def repetitionStats(spark: SparkSession, dir: String): DataFrame =
    repetitionStatsOf(Tables.documents(spark, dir))

  /** [[repetitionStats]] over any (doc_id, text) frame (spec entry point). */
  def repetitionStatsOf(docs: DataFrame): DataFrame = {
    val toks = docs
      .withColumn("toks", split(lower(col("text")), " "))
      .filter(size(col("toks")) >= 2)
    val tokStats = toks.select(col("doc_id"),
      size(col("toks")).cast("long").as("n_tokens"),
      size(array_distinct(col("toks"))).cast("long").as("n_distinct"))
    val bigramCounts = toks
      .select(col("doc_id"), explode(expr(
        "transform(sequence(1, size(toks) - 1), i -> concat_ws(' ', toks[i-1], toks[i]))")).as("b"))
      .groupBy("doc_id", "b").agg(count(lit(1)).as("c"))
      .groupBy("doc_id")
      .agg(max(col("c")).as("top_c"), sum(col("c")).as("n_bigrams"))
    tokStats.join(bigramCounts, "doc_id")
      .select(col("doc_id"), col("n_tokens"),
        (lit(1.0) - col("n_distinct").cast("double") / col("n_tokens")).as("dup_token_frac"),
        col("n_bigrams"),
        (col("top_c").cast("double") / col("n_bigrams")).as("top_bigram_frac"),
        ((col("top_c").cast("double") / col("n_bigrams")) <= 0.05 &&
          (lit(1.0) - col("n_distinct").cast("double") / col("n_tokens")) <= 0.6).as("keep"))
      .orderBy("doc_id")
  }

  // ---------------------------------------------------------------- domain mixture

  /** Domain-mixture sampling: cap every source (domain) at
    * C = total/32 documents — the "cap head domains, keep the tail"
    * rebalancing a multi-source corpus runs before training. Membership
    * is decided per doc by content hash against the cap:
    * `bucket(doc_id)·n_source < 10000·C` — cross-multiplied INTEGER
    * arithmetic, so both engines agree bit-for-bit (no float rate), no
    * per-domain window/sort, and the whole decision is a broadcast of
    * the per-source counts + a map-side filter. Sources under the cap
    * keep everything (bucket ≤ 9999 always passes); over-cap sources
    * keep a uniform deterministic ≈C-doc sample. */
  def domainMix(spark: SparkSession, dir: String): DataFrame =
    domainMixOf(Tables.documents(spark, dir))

  /** [[domainMix]] over any (doc_id, source) frame (spec entry point). */
  def domainMixOf(docs: DataFrame): DataFrame = {
    val counts = docs.groupBy("source").agg(count(lit(1)).as("n_docs"))
    val total = docs.agg(count(lit(1)).as("total"))
    docs.select("doc_id", "source")
      .withColumn("bucket", expr(
        "pmod(cast(conv(substring(md5(cast(doc_id as string)), 1, 8), 16, 10) as bigint), 10000)"))
      .join(broadcast(counts), "source")
      .crossJoin(broadcast(total))
      .withColumn("keep",
        col("bucket") * col("n_docs") < lit(10000L) * expr("total div 32"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        count(when(col("keep"), 1)).as("n_kept"))
      .orderBy("source")
  }

  // ---------------------------------------------------------------- sequence packing

  /** Token-budget sequence packing (concat-and-chop sharding): assign
    * every document a global token start-offset in doc_id order and
    * shard at `budget`-token boundaries — how a training run turns a
    * document corpus into fixed-length sequences.
    *
    * The start offset is the exclusive running token sum in doc_id
    * order, a distributed prefix sum ([[graft.PrefixSum]]); the
    * equivalent `sum() over (order by doc_id)` window would move the
    * entire corpus into ONE partition. */
  def packSequences(spark: SparkSession, dir: String, budget: Long = 512L): DataFrame =
    packSequencesOf(spark,
      Tables.documents(spark, dir)
        .select(col("doc_id"),
          size(split(col("text"), " ")).cast("long").as("n_tokens")),
      budget)

  /** [[packSequences]] over any (doc_id, n_tokens) frame (spec entry
    * point). */
  def packSequencesOf(spark: SparkSession, docTokens: DataFrame, budget: Long): DataFrame =
    graft.PrefixSum(
      docTokens.select(col("doc_id").cast("long"), col("n_tokens").cast("long")),
      Seq(col("doc_id")), col("n_tokens"), "start_off", inclusive = false)
      .withColumn("shard", expr(s"start_off div $budget"))
      .groupBy("shard")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("n_tokens"),
        min(col("doc_id")).as("first_doc"),
        max(col("doc_id")).as("last_doc"))
      .orderBy("shard")

  // ---------------------------------------------------------------- registry

  // ---------------------------------------------------------------- DSIR importance weights

  /** Hashed feature array (non-empty unigrams + bigrams over a `toks`
    * column) and the md5-hex bucket of a `feat` column — ONE definition
    * shared by the quality classifier and the DSIR weights so the
    * feature space cannot drift between the two model-based filters. */
  private[graft] val featArraySql =
    """concat(
         filter(toks, t -> length(t) > 0),
         if(size(toks) >= 2,
            transform(sequence(1, size(toks) - 1),
              i -> concat_ws(' ', toks[i-1], toks[i])),
            cast(array() as array<string>)))"""

  private[graft] val featBucketSql =
    "pmod(cast(conv(substring(md5(feat), 1, 8), 16, 10) as bigint), 4096)"

  /** Driver-side target-distribution bucket counts over the benchmark
    * sentences — the "target model" of the importance sampler, tiny by
    * nature (the target set is a handful of exemplar documents), inlined
    * as a literal map the same way the IVF centroids ship as metadata. */
  private[graft] lazy val targetBucketCounts: Map[Long, Long] = {
    def md5hex(s: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val fs = benchmarkSentences.flatMap { s =>
      val t = s.toLowerCase.split(" ", -1).toSeq
      t.filter(_.nonEmpty) ++
        (if (t.length >= 2) t.sliding(2).map(_.mkString(" ")).toSeq else Seq.empty)
    }
    fs.groupBy(f => java.lang.Long.parseLong(md5hex(f).take(8), 16) % 4096)
      .view.mapValues(_.size.toLong).toMap
  }

  /** DSIR-style importance weighting (Xie et al. 2023, "Data Selection
    * for Language Models via Importance Resampling"): rank corpus
    * documents by how much more likely their hashed n-gram features are
    * under a TARGET distribution (the benchmark sentences) than under
    * the RAW corpus distribution, and emit the top-N resampling
    * candidates. The per-feature log-likelihood ratio is replaced by a
    * Laplace-smoothed rational ratio quantized to integer micros
    * (`(cnt_t+1)·1e6 div (cnt_r+1)`) — `ln` is exactly the cross-engine
    * last-ulp hazard the BM25 scoring already avoids, and the ranking
    * contract only needs monotonicity in the ratio. Per-doc totals are
    * order-free integer sums.
    *
    * Shape: features explode once; the raw model is ONE 4096-row
    * groupBy (fit on the un-planted slice so the gate's plant cannot
    * contaminate the raw distribution) broadcast back; the target model
    * is a plan-time literal map; selection is a bounded global top-N
    * (TakeOrderedAndProject — per-partition top-N then merge, never a
    * full sort at 100 TB). */
  def dsirWeights(spark: SparkSession, dir: String, topN: Int = 32): DataFrame = {
    val docs = Tables.documents(spark, dir)
    // The raw-corpus bucket histogram is the FITTED half of the
    // importance sampler — corpus-derived, deterministic, 4096 rows. It
    // gets the same persisted lifecycle as the BM25 postings / IVF
    // centroids: built once per corpus, then every scoring run (and
    // every later session) pays exactly ONE explode+md5 pass over the
    // corpus instead of two. At 100 TB the raw LM fit is an ingest-time
    // job, not a per-query one (Xie et al. fit it once, too).
    val raw = graft.sources.IndexStore.orBuild(spark, dir, "ta_dsirraw", 8, Seq("b"))(
      rawBucketHistogram(docs))
    dsirServe(featsOf(docs), raw, topN)
  }

  /** [[dsirWeights]] over any (doc_id, text) frame (spec entry point —
    * derives the raw histogram inline instead of from the persisted
    * model table). */
  def dsirWeightsOf(docs: DataFrame, topN: Int = 32): DataFrame = {
    val feats = featsOf(docs)
    dsirServe(feats, rawHistogramOfFeats(feats), topN)
  }

  /** Exploded (doc_id, bucket) feature stream of the planted corpus. */
  private def featsOf(docs: DataFrame): DataFrame =
    // bucket INSIDE the array domain (r14): the generator then emits one
    // long per feature instead of the feature string (the old shape
    // copied every unigram/bigram string through the Generate row buffer
    // and hashed it in a later projection). Same md5 bucket values —
    // only where they are computed moves.
    withBenchmarkPlant(docs)
      .withColumn("toks", split(lower(col("ctext")), " "))
      .select(col("doc_id"), explode(expr(
        s"transform($featArraySql, feat -> $featBucketSql)")).as("b"))

  /** Raw-model fit: bucket histogram over the un-planted corpus slice
    * (so the gate's plant cannot contaminate the raw distribution).
    * Partial aggregation compacts each mapper to ≤ 4096 rows. */
  private def rawBucketHistogram(docs: DataFrame): DataFrame =
    rawHistogramOfFeats(featsOf(docs))

  private def rawHistogramOfFeats(feats: DataFrame): DataFrame =
    feats.filter(col("doc_id") % 13 =!= 0)
      .groupBy("b").agg(count(lit(1)).as("cnt_r"))

  /** Scoring pass: one explode stream, broadcast model lookup, per-doc
    * partial-aggregated integer sums (one row per doc per mapper crosses
    * the wire), bounded global top-N. */
  private def dsirServe(feats: DataFrame, raw: DataFrame, topN: Int): DataFrame = {
    val tMap = expr(s"map(${targetBucketCounts.toSeq.sorted
      .map { case (b, c) => s"${b}L, ${c}L" }.mkString(", ")})")
    feats
      .join(broadcast(raw), Seq("b"), "left")
      .withColumn("cnt_t", coalesce(try_element_at(tMap, col("b")), lit(0L)))
      .withColumn("c", expr("((cnt_t + 1) * 1000000) div (coalesce(cnt_r, 0L) + 1)"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_feats"), sum(col("c")).as("weight_micro"))
      .withColumn("avg_micro", expr("weight_micro div n_feats"))
      .orderBy(col("avg_micro").desc, col("doc_id"))
      .limit(topN)
      .select("doc_id", "n_feats", "weight_micro", "avg_micro")
  }

  // ---------------------------------------------------------------- bigram LM scoring

  /** N-GRAM LANGUAGE-MODEL quality scoring (the CCNet recipe, n=2): fit
    * a bigram model on the corpus itself, then score every document by
    * how typical its word transitions are. Per bigram occurrence the MLE
    * transition probability C(w₁,w₂)/C(w₁) is kept in integer ppm
    * (C₂·10⁶ div C₁ — integer division only, so scores are bit-stable
    * across engines and partition orders); a document's score is the
    * integer mean over its bigrams. Low `lm_ppm` = improbable transitions
    * (boilerplate, shuffled tokens, wrong-language fragments) — the
    * standard perplexity-bucket filter without a float log in sight.
    *
    * Scale: two corpus-wide partial-agg groupBys fit the model (unigram
    * and bigram counts — vocabulary-sized outputs, map-side combined),
    * then the bigram stream joins the model on its own key and collapses
    * straight back to per-doc rows. Everything is linear in corpus
    * tokens; the model tables are the natural persist-once artifacts of
    * [[graft.sources.IndexStore]] if serving cost ever matters. */
  def bigramLmScore(spark: SparkSession, dir: String): DataFrame =
    bigramLmScoreOf(Tables.documents(spark, dir))

  /** [[bigramLmScore]] over any documents-shaped corpus (spec entry). */
  def bigramLmScoreOf(docs: DataFrame): DataFrame = {
    val toks = docs.select(col("doc_id"),
      expr("filter(split(lower(text), ' '), x -> length(x) > 0)").as("t"))
    val unigrams = toks.select(explode(col("t")).as("w1"))
      .groupBy("w1").agg(count(lit(1)).as("c1"))
    val bigrams = toks.filter(size(col("t")) >= 2)
      .select(col("doc_id"), explode(expr(
        "transform(sequence(0, size(t) - 2), i -> named_struct('w1', t[i], 'w2', t[i + 1]))")).as("bg"))
      .select(col("doc_id"), col("bg.w1").as("w1"), col("bg.w2").as("w2"))
    // collapse to per-(doc, bigram) occurrence counts FIRST (r14): the
    // raw occurrence stream previously crossed the wire TWICE at full
    // width (once into the (w1,w2) model join, once into the w1 unigram
    // join — SF10 ratio 74×); `docBg` is the combined form, the model is
    // its own rollup, and a distinct bigram's k occurrences contribute
    // exactly k·ppm to its document's sum, so every downstream join and
    // shuffle is over the collapsed table. Integer results identical:
    // n_bigrams = Σk, lm_ppm = Σ(k·ppm) div Σk.
    val docBg = bigrams.groupBy("doc_id", "w1", "w2").agg(count(lit(1)).as("k"))
    val model = docBg.groupBy("w1", "w2").agg(sum(col("k")).as("c2"))
    docBg
      .join(model, Seq("w1", "w2"))
      .join(unigrams, Seq("w1"))
      .select(col("doc_id"), col("k"), expr("c2 * 1000000 div c1").as("ppm"))
      .groupBy("doc_id")
      .agg(sum(col("k")).as("n_bigrams"),
        expr("CAST(sum(k * ppm) div sum(k) AS BIGINT)").as("lm_ppm"))
      .orderBy("doc_id")
  }

  /** VOCABULARY COVERAGE CURVE — the tokenizer-sizing statistic: how
    * many vocabulary entries (ranked by frequency, ties lexicographic)
    * are needed to cover 50% / 90% / 99% of all token OCCURRENCES.
    * Directly answers "what vocab size should the tokenizer fit" and
    * quantifies the long tail a subword scheme must absorb. Coverage is
    * integer ppm (cumulative·10⁶ div total — bit-stable).
    *
    * Scale: the corpus collapses to vocabulary-sized counts in one
    * partial-agg shuffle; the cumulative window and threshold probe then
    * run over |vocab| rows (single-partition sort bounded by vocabulary,
    * not corpus — the standard shape for frequency curves). */
  def vocabCoverage(spark: SparkSession, dir: String): DataFrame =
    vocabCoverageOf(Tables.documents(spark, dir))

  /** [[vocabCoverage]] over any documents-shaped corpus (spec entry). */
  def vocabCoverageOf(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val counts = docs
      .select(explode(
        expr("filter(split(lower(text), ' '), x -> length(x) > 0)")).as("w"))
      .groupBy("w").agg(count(lit(1)).as("c"))
    val byFreq = Window.orderBy(col("c").desc, col("w").asc)
    val curve = counts
      .withColumn("vocab_rank", row_number().over(byFreq).cast("long"))
      .withColumn("cum", sum(col("c")).over(
        byFreq.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("total", sum(col("c")).over(
        Window.partitionBy(lit(1))))
      .withColumn("coverage_ppm", expr("cum * 1000000 div total"))
    val thresholds = curve.sparkSession.range(1)
      .select(explode(array(lit(500000L), lit(900000L), lit(990000L))).as("threshold_ppm"))
    thresholds.join(curve, col("coverage_ppm") >= col("threshold_ppm"))
      .groupBy("threshold_ppm")
      .agg(min(col("vocab_rank")).as("vocab_rank"))
      .join(curve.select(col("vocab_rank"), col("coverage_ppm"), col("cum").as("covered_tokens")), "vocab_rank")
      .select("threshold_ppm", "vocab_rank", "coverage_ppm", "covered_tokens")
      .orderBy("threshold_ppm")
  }

  /** CCNET PERPLEXITY BUCKETS — the canonical LM-quality partition:
    * within each language, rank documents by how typical their word
    * transitions are under the corpus-fit bigram model
    * ([[bigramLmScoreOf]], integer ppm so the ranking is bit-stable)
    * and split the ranking into equal thirds — head (most typical),
    * middle, tail. CCNet trains on head+middle and drops or re-weights
    * the tail; this emits the audit summary per (lang, bucket): doc
    * count and the mean/min/max model score, the table the mix designer
    * reads before choosing cut-offs.
    *
    * The rank order is (lm_ppm DESC, doc_id) — fully deterministic — and
    * the split is ntile(3) over it, whose uneven-remainder placement
    * (earlier buckets get the extra row) is the same in Spark and
    * DuckDB. Scale: the LM scoring is the linear corpus pass the bigram
    * operator already makes; the bucketing adds one per-lang window over
    * doc-count-sized rows and a dimension-sized final aggregate. */
  def pplBuckets(spark: SparkSession, dir: String): DataFrame =
    pplBucketsOf(Tables.documents(spark, dir))

  /** [[pplBuckets]] over any documents-shaped corpus (spec entry). */
  def pplBucketsOf(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val scored = bigramLmScoreOf(docs)
      .join(docs.select("doc_id", "lang"), "doc_id")
    val byTypicality = Window.partitionBy("lang")
      .orderBy(col("lm_ppm").desc, col("doc_id").asc)
    scored
      .withColumn("bucket", ntile(3).over(byTypicality))
      .groupBy("lang", "bucket")
      .agg(count(lit(1)).as("n_docs"),
        expr("CAST(sum(lm_ppm) div count(1) AS BIGINT)").as("avg_ppm"),
        min("lm_ppm").as("min_ppm"),
        max("lm_ppm").as("max_ppm"))
      .orderBy("lang", "bucket")
  }

  /** CORPUS NOVELTY CURVE — the freshness/memorization statistic
    * dataset analyses report: as the corpus is consumed in doc-id
    * order, what fraction of each slice's 8-token shingles has never
    * appeared in any earlier document? A healthy growing corpus decays
    * slowly; a curve that crashes toward zero says later data is
    * recombination of earlier data (and a dedup pass upstream is
    * overdue). Emits per 50-doc bucket: distinct-gram count, first-ever
    * grams, novelty in integer ppm.
    *
    * Scale: the gram stream crosses the wire twice (the (doc, gram)
    * distinct, then the first-occurrence groupBy on the gram key),
    * linear in corpus tokens like the span-dedup family's gram pass. */
  def noveltyCurve(spark: SparkSession, dir: String): DataFrame =
    noveltyCurveOf(Tables.documents(spark, dir))

  /** [[noveltyCurve]] over any documents-shaped corpus (spec entry). */
  def noveltyCurveOf(docs: DataFrame, bucketSize: Int = 50): DataFrame = {
    // (doc, gram) distinct rows feed BOTH counts below — materialized so
    // the tokenize + 8-gram explode + distinct run once, not once per
    // consumer
    val grams = graft.Materialize(docs
      .select(col("doc_id"),
        expr("filter(split(lower(text), ' '), x -> length(x) > 0)").as("t"))
      .filter(size(col("t")) >= 8)
      .select(col("doc_id"), explode(expr(
        "transform(sequence(0, size(t) - 8), i -> array_join(slice(t, i + 1, 8), ' '))"))
        .as("g"))
      .distinct())
    // a gram is NOVEL exactly on its min-doc_id row — so per-bucket
    // novel counts are a regrouping of the first-seen DICTIONARY, and
    // the old corpus-sized grams ⋈ first join (the query's one big
    // gram-keyed shuffle pair) disappears outright (r14, guide §2.4):
    // n_novel(b) = |{g : min_doc(g) div B = b}|, n_grams(b) = that
    // bucket's (doc, gram) row count. Identical by construction —
    // (doc_id, g) rows are distinct, so `first_doc === doc_id` fires
    // exactly once per gram, on the min row.
    val novel = grams.groupBy("g").agg(min(col("doc_id")).as("first_doc"))
      .select(expr(s"first_doc div $bucketSize").as("bucket"))
      .groupBy("bucket").agg(count(lit(1)).as("n_novel"))
    grams
      .select(expr(s"doc_id div $bucketSize").as("bucket"))
      .groupBy("bucket").agg(count(lit(1)).as("n_grams"))
      .join(novel, Seq("bucket"), "left")
      .select(col("bucket"), col("n_grams"),
        coalesce(col("n_novel"), lit(0L)).as("n_novel"))
      .withColumn("novelty_ppm", expr("n_novel * 1000000 div n_grams"))
      .orderBy("bucket")
  }

  /** BPE MERGE FITTING — the tokenizer-training step itself, run
    * relationally: learn the first `nMerges` byte-pair-encoding merges
    * from the corpus. Exactly the production recipe (HuggingFace/
    * sentencepiece fit on the WORD-FREQUENCY DICTIONARY, not raw text):
    * each word becomes a space-separated symbol string, and each round
    * (1) counts adjacent symbol pairs weighted by word frequency,
    * (2) picks the most frequent pair (count desc, then lexicographic —
    * fully deterministic), (3) fuses every occurrence via a sentinel-
    * space `replace(' a b ' → ' ab ')` — leftmost non-overlapping in
    * both engines, which IS BPE's greedy-left merge order. Later merges
    * compose earlier ones (the fitted 'm'+'er' → 'mer' on this corpus).
    *
    * Scale: ONE corpus shuffle builds the word dictionary; all
    * `nMerges` rounds iterate over vocab-sized rows (pair counts are a
    * groupBy over the dictionary, the chosen pair is a 1-row broadcast,
    * the fuse is a projection), each round's pick and vocabulary one
    * [[graft.Materialize]] — the same bounded-iteration shape as the
    * graph loops. The oracle unrolls the identical rounds as MATERIALIZED
    * CTEs. */
  def bpeMerges(spark: SparkSession, dir: String): DataFrame =
    bpeMergesOf(Tables.documents(spark, dir))

  /** Shared BPE fit loop: word-frequency dictionary → `nMerges` rounds
    * of (pair count, 1-row best pick, sentinel-space fuse). Returns the
    * FINAL vocabulary (word → fitted symbol string, frequency) and the
    * per-round merge records. The symbol string concatenates back to
    * the word, so the final vocab IS the word→tokenization dictionary
    * the encoder needs. */
  private def bpeFit(docs: DataFrame, nMerges: Int): (DataFrame, Seq[DataFrame]) = {
    val w = docs
      .select(explode(
        expr("filter(split(lower(text), ' '), x -> length(x) > 0)")).as("word"))
      .groupBy("word").agg(count(lit(1)).as("wc"))
    var vocab = graft.Materialize(w
      .select(concat(lit(" "), regexp_replace(col("word"), "(.)", "$1 ")).as("sym"),
        col("wc")))
    val merges = (1 to nMerges).map { i =>
      val best = graft.Materialize(vocab
        .select(expr("split(trim(sym), ' ')").as("t"), col("wc"))
        .filter(size(col("t")) >= 2)
        .select(explode(expr(
          "transform(sequence(0, size(t) - 2), j -> named_struct('a', t[j], 'b', t[j + 1]))"))
          .as("p"), col("wc"))
        .groupBy(col("p.a").as("a"), col("p.b").as("b"))
        .agg(sum(col("wc")).as("cnt"))
        .orderBy(col("cnt").desc, col("a").asc, col("b").asc)
        .limit(1))
      // per-round vocab materialization RETAINED: an A/B without it (recompute
      // the replace chain per round) measured ~50% SLOWER — each chain
      // layer rebuilds its 1-row merge broadcast, and 8 rounds of
      // re-broadcasting beat the checkpoint writes they were meant to
      // save (r14 probe: bpe_encode 2.0 → 3.0 s warm).
      vocab = graft.Materialize(vocab
        .crossJoin(broadcast(best.select(col("a").as("ba"), col("b").as("bb"))))
        .select(expr(
          "replace(sym, concat(' ', ba, ' ', bb, ' '), concat(' ', ba, bb, ' '))").as("sym"),
          col("wc")))
      best.select(lit(i).as("merge_rank"), col("a").as("sym_a"), col("b").as("sym_b"),
        concat(col("a"), col("b")).as("merged"), col("cnt").as("pair_count"))
    }
    (vocab, merges)
  }

  /** [[bpeMerges]] over any documents-shaped corpus (spec entry). */
  def bpeMergesOf(docs: DataFrame, nMerges: Int = 8): DataFrame =
    bpeFit(docs, nMerges)._2.reduce(_ unionAll _).orderBy("merge_rank")

  /** BPE ENCODING with the fitted merges — the serving half of the
    * tokenizer loop: per document, the token count its text gets under
    * the corpus-fitted merge table, plus word and character counts (the
    * compression the fitted merges achieve). The encoder never touches
    * raw text a second time: the fit's final vocabulary doubles as the
    * word→tokenization dictionary (symbols concatenate back to the
    * word), so encoding is per-doc word counts ⋈ a dictionary-sized
    * table — the same dictionary-vs-fact asymmetry as fk_discovery and
    * the fuzzy blocking join. */
  def bpeEncode(spark: SparkSession, dir: String): DataFrame =
    bpeEncodeOf(Tables.documents(spark, dir))

  /** [[bpeEncode]] over any documents-shaped corpus (spec entry). */
  def bpeEncodeOf(docs: DataFrame, nMerges: Int = 8): DataFrame = {
    val dict = bpeFit(docs, nMerges)._1
      .select(replace(trim(col("sym")), lit(" "), lit("")).as("word"),
        size(split(trim(col("sym")), " ")).cast("long").as("n_sym"))
    val docWords = docs
      .select(col("doc_id"), explode(
        expr("filter(split(lower(text), ' '), x -> length(x) > 0)")).as("word"))
      .groupBy("doc_id", "word").agg(count(lit(1)).as("k"))
    docWords.join(dict, Seq("word"))
      .groupBy("doc_id")
      .agg(sum(col("k")).as("n_words"),
        sum(col("k") * col("n_sym")).as("n_bpe_tokens"),
        sum(col("k") * length(col("word")).cast("long")).as("n_chars"))
      .orderBy("doc_id")
  }

  /** TOKEN CO-OCCURRENCE LIFT (integer-monotone PMI) — which token pairs
    * appear in the same documents far more often than independence
    * predicts: lift = P(a,b)/(P(a)·P(b)) in integer ppm
    * (n_ab·N·10⁶ div (n_a·n_b)). PMI = log(lift) is monotone in lift, so
    * the ranking is the PMI ranking without a float log in the compare
    * path. The collocation/phrase-mining primitive (word2vec-era PMI
    * matrices, phrase detection, topic seeding) over the top-`vocabK`
    * document-frequency vocabulary; top-`k` pairs by (lift desc, a, b).
    *
    * Scale: the df dictionary collapses the corpus to vocabulary size
    * and the top-`vocabK` slab BROADCASTs; each doc's frequent-token set
    * explodes to its C(f,2) pairs IN-ARRAY map-side (the co-purchase
    * move — bounded by vocabK², never corpus×corpus) and pair counts are
    * one partial+final agg; the quadratic doc×doc co-occurrence join
    * never happens. */
  def pmiCooccur(spark: SparkSession, dir: String,
      vocabK: Int = 64, k: Int = 30): DataFrame =
    pmiCooccurOf(Tables.documents(spark, dir), vocabK, k)

  /** [[pmiCooccur]] over any documents-shaped corpus (spec entry). */
  private[graft] def pmiCooccurOf(docs: DataFrame,
      vocabK: Int = 64, k: Int = 30): DataFrame = {
    // NOT persisted (r14 A/B): caching the exploded token stream costs
    // more than the map-side re-tokenize it saves — the cheap lever is
    // materializing `top` below, which cuts the corpus passes from 4
    // (one per broadcast reference of `top`) to the honest 2.
    val tok = docs.select(col("doc_id"), explode(array_distinct(
      expr("filter(split(lower(text), ' '), x -> length(x) > 0)"))).as("t"))
    // vocabK rows, referenced by three broadcasts — materialized so the
    // df dictionary aggregation runs once, not once per broadcast build
    val top = graft.Materialize(tok.groupBy("t").agg(count(lit(1)).as("df"))
      .orderBy(col("df").desc, col("t").asc).limit(vocabK))
    val n = docs.agg(count(lit(1)).as("n_docs"))
    val pairs = tok.join(broadcast(top.select("t")), Seq("t"))
      .groupBy("doc_id").agg(sort_array(collect_set(col("t"))).as("ts"))
      .filter(size(col("ts")) >= 2)
      .select(explode(expr(
        """flatten(transform(ts, (x, i) ->
          |  transform(slice(ts, i + 2, size(ts)),
          |            y -> named_struct('a', x, 'b', y))))""".stripMargin)).as("p"))
      .select(col("p.a").as("a"), col("p.b").as("b"))
      .groupBy("a", "b").agg(count(lit(1)).as("n_ab"))
    pairs
      .join(broadcast(top.select(col("t").as("a"), col("df").as("n_a"))), Seq("a"))
      .join(broadcast(top.select(col("t").as("b"), col("df").as("n_b"))), Seq("b"))
      .crossJoin(broadcast(n))
      // DECIMAL(38,0) envelope (ADVICE r8): the numerator is bounded by
      // N²·10⁶, which exceeds BIGINT past ~3M documents — and Spark
      // wraps silently while DuckDB errors, so at scale the gate would
      // diverge invisibly. 38-digit decimal holds N up to ~10¹⁶; the
      // integral divide still returns an exact BIGINT ppm.
      .withColumn("lift_ppm", expr(
        "cast(n_ab as decimal(38,0)) * n_docs * 1000000 " +
          "div (cast(n_a as decimal(38,0)) * n_b)"))
      .select(col("a"), col("b"), col("n_a"), col("n_b"), col("n_ab"), col("lift_ppm"))
      .orderBy(col("lift_ppm").desc, col("a").asc, col("b").asc)
      .limit(k)
  }

  /** HELD-OUT LM SCORING — the eval-hygiene twin of
    * [[bigramLmScore]] (which fits and scores on the same corpus): the
    * bigram model fits on the TRAIN split only, then every split scores
    * under that frozen model with Laplace smoothing
    * ((c2+1)·10⁶ div (c1+V), V = train vocab size) so unseen bigrams
    * and OOV contexts get finite, consistent mass instead of silently
    * dropping out of the join. The train-vs-heldout score gap is the
    * memorization signal a perplexity-filter deployment must calibrate
    * on heldout data — filtering by train-fit scores overfits.
    *
    * Scale: one corpus scan builds the split-tagged bigram stream; the
    * model is two vocabulary-bounded aggregates LEFT-joined back on
    * token keys; V is a 1-row broadcast. Same shapes as the parent op
    * plus the split tag. */
  def heldoutPpl(spark: SparkSession, dir: String): DataFrame = {
    val toks = Tables.documents(spark, dir)
      .withColumn("bucket", expr(
        "pmod(cast(conv(substring(md5(cast(doc_id as string)), 1, 8), 16, 10) as bigint), 100)"))
      .withColumn("split",
        when(col("bucket") < 90, lit("train"))
          .when(col("bucket") < 95, lit("val"))
          .otherwise(lit("test")))
      .select(col("doc_id"), col("split"),
        expr("filter(split(lower(text), ' '), x -> length(x) > 0)").as("t"))
    val bigrams = toks.filter(size(col("t")) >= 2)
      .select(col("doc_id"), col("split"), explode(expr(
        "transform(sequence(0, size(t) - 2), i -> named_struct('w1', t[i], 'w2', t[i + 1]))")).as("bg"))
      .select(col("doc_id"), col("split"),
        col("bg.w1").as("w1"), col("bg.w2").as("w2"))
    val trainUni = toks.filter(col("split") === "train")
      .select(explode(col("t")).as("w1"))
      .groupBy("w1").agg(count(lit(1)).as("c1"))
    val trainBg = bigrams.filter(col("split") === "train")
      .groupBy("w1", "w2").agg(count(lit(1)).as("c2"))
    val v = trainUni.agg(count(lit(1)).as("vsize"))
    bigrams
      .join(trainBg, Seq("w1", "w2"), "left")
      .join(trainUni, Seq("w1"), "left")
      .crossJoin(broadcast(v))
      .select(col("doc_id"), col("split"),
        expr("(coalesce(c2, 0) + 1) * 1000000 div (coalesce(c1, 0) + vsize)").as("ppm"))
      .groupBy("split")
      .agg(countDistinct(col("doc_id")).as("n_docs"),
        count(lit(1)).as("n_bigrams"),
        expr("CAST(sum(ppm) div count(1) AS BIGINT)").as("mean_ppm"))
      .orderBy("split")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "ta_heldout_ppl"      -> heldoutPpl _,
    "ta_pmi_cooccur"      -> ((s: SparkSession, d: String) => pmiCooccur(s, d)),
    "ta_bpe_merges"       -> bpeMerges _,
    "ta_bpe_encode"       -> bpeEncode _,
    "ta_vocab_coverage"   -> vocabCoverage _,
    "ta_bigram_lm_score"  -> bigramLmScore _,
    "ta_ppl_buckets"      -> pplBuckets _,
    "ta_novelty_curve"    -> noveltyCurve _,
    "ta_decontaminate"    -> decontaminate _,
    "ta_dsir_weights"     -> ((s: SparkSession, d: String) => dsirWeights(s, d)),
    "ta_repetition_stats" -> repetitionStats _,
    "ta_domain_mix"       -> domainMix _,
    "ta_pack_sequences"   -> ((s: SparkSession, d: String) => packSequences(s, d)),
  )

  // oracle benchmark-sentence VALUES list (with explicit plant index)
  // generated from the same Scala constant the operator broadcasts, so
  // engine and oracle cannot drift (shared with the BM25 oracle)
  private[graft] val benchValues =
    benchmarkSentences.zipWithIndex.map { case (s, i) => s"($i, '$s')" }.mkString(", ")

  /** The identical BPE rounds unrolled as MATERIALIZED CTE members
    * (DuckDB t[j] is 1-based where Spark's is 0-based; both `replace`s
    * fuse leftmost-non-overlapping = BPE's greedy-left order). Shared
    * by the fit and encode oracles. */
  private def bpeOracleMembers(nMerges: Int): String = {
    val steps = (1 to nMerges).map { i =>
      val prev = if (i == 1) "v0" else s"v${i - 1}"
      s"""p$i AS MATERIALIZED (
           SELECT t[j] AS a, t[j+1] AS b, CAST(sum(wc) AS BIGINT) AS cnt
           FROM (SELECT string_split(trim(sym), ' ') AS t, wc FROM $prev),
                unnest(range(1, len(t))) AS u(j)
           GROUP BY 1, 2),
         b$i AS (SELECT a, b, cnt FROM p$i ORDER BY cnt DESC, a ASC, b ASC LIMIT 1),
         v$i AS MATERIALIZED (
           SELECT replace(sym,
                    ' ' || (SELECT a FROM b$i) || ' ' || (SELECT b FROM b$i) || ' ',
                    ' ' || (SELECT a FROM b$i) || (SELECT b FROM b$i) || ' ') AS sym, wc
           FROM $prev)"""
    }.mkString(",\n         ")
    s"""w AS MATERIALIZED (
         SELECT word, count(*) AS wc FROM (
           SELECT unnest(list_filter(string_split(lower(text), ' '), x -> len(x) > 0)) AS word
           FROM documents) GROUP BY 1),
       v0 AS MATERIALIZED (
         SELECT ' ' || regexp_replace(word, '(.)', '\\1 ', 'g') AS sym, wc FROM w),
       $steps"""
  }

  private def bpeOracle(nMerges: Int = 8): String = {
    val sel = (1 to nMerges).map(i =>
      s"SELECT $i AS merge_rank, a AS sym_a, b AS sym_b, a || b AS merged, cnt AS pair_count FROM b$i")
      .mkString(" UNION ALL ")
    s"""WITH ${bpeOracleMembers(nMerges)}
       SELECT * FROM ($sel) ORDER BY merge_rank"""
  }

  /** Encode oracle: the fitted v{n} vocabulary as a word→symbol-count
    * dictionary joined back to per-doc word counts. */
  private def bpeEncodeOracle(nMerges: Int = 8): String =
    s"""WITH ${bpeOracleMembers(nMerges)},
       dict AS (
         SELECT replace(trim(sym), ' ', '') AS word,
                len(string_split(trim(sym), ' ')) AS n_sym
         FROM v$nMerges),
       dw AS (
         SELECT doc_id, word, count(*) AS k FROM (
           SELECT doc_id,
                  unnest(list_filter(string_split(lower(text), ' '), x -> len(x) > 0)) AS word
           FROM documents) GROUP BY 1, 2)
       SELECT doc_id, CAST(sum(k) AS BIGINT) AS n_words,
              CAST(sum(k * n_sym) AS BIGINT) AS n_bpe_tokens,
              CAST(sum(k * len(word)) AS BIGINT) AS n_chars
       FROM dw JOIN dict USING (word)
       GROUP BY 1 ORDER BY 1"""

  val oracles: Map[String, String] = Map(
    // same md5 split, same train-only model with Laplace (c2+1)/(c1+V),
    // same per-split collapse
    "ta_heldout_ppl" ->
      """WITH d AS (
           SELECT doc_id, text,
                  list_reduce([strpos('0123456789abcdef', c) - 1
                               FOR c IN string_split(substr(md5(CAST(doc_id AS VARCHAR)), 1, 8), '')],
                              (a, v) -> a * 16 + v) % 100 AS bucket
           FROM documents),
         s AS (SELECT doc_id,
                 CASE WHEN bucket < 90 THEN 'train'
                      WHEN bucket < 95 THEN 'val' ELSE 'test' END AS split,
                 list_filter(string_split(lower(text), ' '), x -> len(x) > 0) AS t
               FROM d),
         bg AS (SELECT doc_id, split, t[i] AS w1, t[i+1] AS w2
                FROM (SELECT doc_id, split, t, unnest(range(1, len(t))) AS i
                      FROM s WHERE len(t) >= 2)),
         uni AS (SELECT w1, CAST(count(*) AS BIGINT) AS c1
                 FROM (SELECT unnest(t) AS w1 FROM s WHERE split = 'train')
                 GROUP BY 1),
         m AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS c2
               FROM bg WHERE split = 'train' GROUP BY 1, 2),
         v AS (SELECT CAST(count(*) AS BIGINT) AS vsize FROM uni),
         sc AS (SELECT bg.doc_id, bg.split,
                  (coalesce(m.c2, 0) + 1) * 1000000
                    // (coalesce(uni.c1, 0) + v.vsize) AS ppm
                FROM bg
                LEFT JOIN m ON bg.w1 = m.w1 AND bg.w2 = m.w2
                LEFT JOIN uni ON bg.w1 = uni.w1, v)
         SELECT split, count(DISTINCT doc_id) AS n_docs,
                count(*) AS n_bigrams,
                CAST(sum(ppm) // count(*) AS BIGINT) AS mean_ppm
         FROM sc GROUP BY split ORDER BY split""",
    // same per-doc distinct tokens, same (df desc, t) top-64 vocabulary,
    // same ppm lift and (lift desc, a, b) top-30
    "ta_pmi_cooccur" ->
      """WITH tok AS (
           SELECT DISTINCT doc_id, t
           FROM (SELECT doc_id,
                        unnest(list_filter(string_split(lower(text), ' '),
                                           x -> len(x) > 0)) AS t
                 FROM documents)),
         dft AS (SELECT t, count(*) AS df FROM tok GROUP BY 1),
         top AS (SELECT t, df FROM dft ORDER BY df DESC, t ASC LIMIT 64),
         n AS (SELECT count(*) AS n_docs FROM documents),
         ft AS (SELECT tok.doc_id, tok.t FROM tok JOIN top ON tok.t = top.t),
         pr AS (SELECT a.t AS a, b.t AS b, count(*) AS n_ab
                FROM ft a JOIN ft b ON a.doc_id = b.doc_id AND a.t < b.t
                GROUP BY 1, 2)
         SELECT pr.a, pr.b, ta.df AS n_a, tb.df AS n_b, pr.n_ab,
                CAST(CAST(pr.n_ab AS HUGEINT) * n.n_docs * 1000000
                     // (CAST(ta.df AS HUGEINT) * tb.df) AS BIGINT) AS lift_ppm
         FROM pr
         JOIN top ta ON pr.a = ta.t
         JOIN top tb ON pr.b = tb.t, n
         ORDER BY lift_ppm DESC, a ASC, b ASC LIMIT 30""",
    "ta_bpe_merges" -> bpeOracle(),
    "ta_bpe_encode" -> bpeEncodeOracle(),
    // same (count desc, token asc) ranking, cumulative ppm, and
    // min-rank-at-threshold probe
    "ta_vocab_coverage" ->
      """WITH tok AS (
           SELECT unnest(list_filter(string_split(lower(text), ' '),
                                     x -> len(x) > 0)) AS w
           FROM documents),
         c AS (SELECT w, count(*) AS c FROM tok GROUP BY 1),
         curve AS (
           SELECT w, c,
                  CAST(row_number() OVER (ORDER BY c DESC, w ASC) AS BIGINT)
                    AS vocab_rank,
                  CAST(sum(c) OVER (ORDER BY c DESC, w ASC
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
                    AS cum,
                  CAST(sum(c) OVER () AS BIGINT) AS total
           FROM c),
         cov AS (SELECT vocab_rank, cum AS covered_tokens,
                        CAST(cum * 1000000 // total AS BIGINT) AS coverage_ppm
                 FROM curve),
         thr(threshold_ppm) AS (VALUES (CAST(500000 AS BIGINT)),
                                       (CAST(900000 AS BIGINT)),
                                       (CAST(990000 AS BIGINT))),
         hit AS (SELECT t.threshold_ppm, min(c.vocab_rank) AS vocab_rank
                 FROM thr t JOIN cov c ON c.coverage_ppm >= t.threshold_ppm
                 GROUP BY 1)
         SELECT h.threshold_ppm, h.vocab_rank, c.coverage_ppm, c.covered_tokens
         FROM hit h JOIN cov c ON h.vocab_rank = c.vocab_rank
         ORDER BY h.threshold_ppm""",
    // same space-split tokens, same zipped bigram unnest, same integer
    // ppm arithmetic — `//` is DuckDB's integer division
    "ta_bigram_lm_score" ->
      """WITH p AS (
           SELECT doc_id,
                  list_filter(string_split(lower(text), ' '),
                              x -> len(x) > 0) AS t
           FROM documents),
         uni AS (SELECT unnest(t) AS w1 FROM p),
         c1 AS (SELECT w1, count(*) AS c1 FROM uni GROUP BY 1),
         bg AS (SELECT doc_id,
                       unnest(list_transform(range(1, len(t)), i -> t[i])) AS w1,
                       unnest(list_transform(range(1, len(t)), i -> t[i + 1])) AS w2
                FROM p WHERE len(t) >= 2),
         c2 AS (SELECT w1, w2, count(*) AS c2 FROM bg GROUP BY 1, 2)
         SELECT bg.doc_id, count(*) AS n_bigrams,
                CAST(sum(c2.c2 * 1000000 // c1.c1) // count(*) AS BIGINT) AS lm_ppm
         FROM bg JOIN c2 ON bg.w1 = c2.w1 AND bg.w2 = c2.w2
                 JOIN c1 ON bg.w1 = c1.w1
         GROUP BY bg.doc_id ORDER BY bg.doc_id""",
    // same 8-token shingles (DuckDB inclusive slices t[i:i+7]), same
    // per-doc distinct, first-occurrence min, 50-doc buckets
    "ta_novelty_curve" ->
      """WITH p AS (
           SELECT doc_id,
                  list_filter(string_split(lower(text), ' '),
                              x -> len(x) > 0) AS t
           FROM documents),
         g0 AS (SELECT doc_id,
                       unnest(list_transform(range(1, len(t) - 6),
                                             i -> array_to_string(t[i:i+7], ' '))) AS g
                FROM p WHERE len(t) >= 8),
         g AS (SELECT DISTINCT doc_id, g FROM g0),
         f AS (SELECT g, min(doc_id) AS first_doc FROM g GROUP BY 1)
         SELECT g.doc_id // 50 AS bucket,
                count(*) AS n_grams,
                CAST(sum(CASE WHEN f.first_doc = g.doc_id THEN 1 ELSE 0 END)
                     AS BIGINT) AS n_novel,
                CAST(sum(CASE WHEN f.first_doc = g.doc_id THEN 1 ELSE 0 END)
                     * 1000000 // count(*) AS BIGINT) AS novelty_ppm
         FROM g JOIN f USING (g)
         GROUP BY 1 ORDER BY bucket""",
    // the bigram scoring CTEs verbatim, then the same deterministic
    // (lm_ppm DESC, doc_id) ntile(3) per language — Spark and DuckDB
    // share the earlier-buckets-get-the-remainder ntile rule
    "ta_ppl_buckets" ->
      """WITH p AS (
           SELECT doc_id,
                  list_filter(string_split(lower(text), ' '),
                              x -> len(x) > 0) AS t
           FROM documents),
         uni AS (SELECT unnest(t) AS w1 FROM p),
         c1 AS (SELECT w1, count(*) AS c1 FROM uni GROUP BY 1),
         bg AS (SELECT doc_id,
                       unnest(list_transform(range(1, len(t)), i -> t[i])) AS w1,
                       unnest(list_transform(range(1, len(t)), i -> t[i + 1])) AS w2
                FROM p WHERE len(t) >= 2),
         c2 AS (SELECT w1, w2, count(*) AS c2 FROM bg GROUP BY 1, 2),
         score AS (
           SELECT bg.doc_id,
                  CAST(sum(c2.c2 * 1000000 // c1.c1) // count(*) AS BIGINT) AS lm_ppm
           FROM bg JOIN c2 ON bg.w1 = c2.w1 AND bg.w2 = c2.w2
                   JOIN c1 ON bg.w1 = c1.w1
           GROUP BY bg.doc_id),
         ranked AS (
           SELECT d.lang, s.lm_ppm,
                  ntile(3) OVER (PARTITION BY d.lang
                                 ORDER BY s.lm_ppm DESC, s.doc_id ASC) AS bucket
           FROM score s JOIN documents d ON s.doc_id = d.doc_id)
         SELECT lang, bucket, count(*) AS n_docs,
                CAST(sum(lm_ppm) // count(*) AS BIGINT) AS avg_ppm,
                min(lm_ppm) AS min_ppm, max(lm_ppm) AS max_ppm
         FROM ranked GROUP BY 1, 2 ORDER BY lang, bucket""",
    // DSIR: same plant, same uni+bi feature space and md5-hex bucket as
    // the classifier oracle; the target model is re-derived IN SQL from
    // the same bench VALUES the Scala literal map derives from
    "ta_dsir_weights" ->
      s"""WITH bench(i, sent) AS (VALUES $benchValues),
           p AS (SELECT doc_id,
                   string_split(lower(text || CASE WHEN doc_id % 13 = 0
                     THEN ' ' || (SELECT sent FROM bench WHERE i = (doc_id // 13) % 3)
                     ELSE '' END), ' ') AS t
                 FROM documents),
           uni AS (SELECT doc_id, unnest(list_filter(t, x -> len(x) > 0)) AS feat FROM p),
           bi AS (SELECT doc_id,
                    unnest(list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i+1])) AS feat
                  FROM p WHERE len(t) >= 2),
           f AS (SELECT * FROM uni UNION ALL SELECT * FROM bi),
           fb AS (SELECT doc_id,
                    list_reduce([strpos('0123456789abcdef', c) - 1
                                 FOR c IN string_split(substr(md5(feat), 1, 8), '')],
                                (a, v) -> a * 16 + v) % 4096 AS b
                  FROM f),
           raw AS (SELECT b, count(*) AS cnt_r FROM fb WHERE doc_id % 13 <> 0 GROUP BY b),
           tt AS (SELECT string_split(lower(sent), ' ') AS t FROM bench),
           tuni AS (SELECT unnest(list_filter(t, x -> len(x) > 0)) AS feat FROM tt),
           tbi AS (SELECT unnest(list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i+1])) AS feat
                   FROM tt WHERE len(t) >= 2),
           tf2 AS (SELECT * FROM tuni UNION ALL SELECT * FROM tbi),
           tb AS (SELECT list_reduce([strpos('0123456789abcdef', c) - 1
                                      FOR c IN string_split(substr(md5(feat), 1, 8), '')],
                                     (a, v) -> a * 16 + v) % 4096 AS b,
                         count(*) AS cnt_t
                  FROM tf2 GROUP BY 1),
           sc AS (SELECT fb.doc_id,
                    ((coalesce(tb.cnt_t, 0) + 1) * 1000000)
                      // (coalesce(raw.cnt_r, 0) + 1) AS c
                  FROM fb LEFT JOIN raw USING (b) LEFT JOIN tb USING (b)),
           pd AS (SELECT doc_id, count(*) AS n_feats, CAST(sum(c) AS BIGINT) AS weight_micro
                  FROM sc GROUP BY doc_id)
         SELECT doc_id, CAST(n_feats AS BIGINT) AS n_feats, weight_micro,
                CAST(weight_micro // n_feats AS BIGINT) AS avg_micro
         FROM pd ORDER BY avg_micro DESC, doc_id LIMIT 32""",
    "ta_decontaminate" ->
      s"""WITH bench(i, sent) AS (VALUES $benchValues),
           bg AS (SELECT DISTINCT unnest(list_distinct(list_transform(
                    range(1, len(t) - 3),
                    i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' || t[i+3] || ' ' || t[i+4]))) AS g
                  FROM (SELECT string_split(lower(sent), ' ') AS t FROM bench)
                  WHERE len(t) >= 5),
           p AS (SELECT doc_id,
                   text || CASE WHEN doc_id % 13 = 0
                     THEN ' ' || (SELECT sent FROM bench WHERE i = (doc_id // 13) % 3)
                     ELSE '' END AS ctext
                 FROM documents),
           g AS (SELECT doc_id, unnest(list_distinct(list_transform(
                   range(1, len(t) - 3),
                   i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' || t[i+3] || ' ' || t[i+4]))) AS g
                 FROM (SELECT doc_id, string_split(lower(ctext), ' ') AS t FROM p)
                 WHERE len(t) >= 5),
           per AS (SELECT g.doc_id, count(*) AS n_grams,
                     count(bg.g) AS n_hits
                   FROM g LEFT JOIN bg ON g.g = bg.g GROUP BY 1)
         SELECT p.doc_id,
           COALESCE(per.n_grams, 0) AS n_grams,
           COALESCE(per.n_hits, 0) AS n_hits,
           COALESCE(per.n_hits, 0) >= 2 AS contaminated
         FROM p LEFT JOIN per ON p.doc_id = per.doc_id
         ORDER BY p.doc_id""",
    "ta_repetition_stats" ->
      """WITH toks AS (SELECT doc_id, string_split(lower(text), ' ') AS t
                       FROM documents WHERE len(string_split(lower(text), ' ')) >= 2),
           bg AS (SELECT doc_id, unnest(list_transform(range(1, len(t)),
                    i -> t[i] || ' ' || t[i+1])) AS b
                  FROM toks),
           cnt AS (SELECT doc_id, b, count(*) AS c FROM bg GROUP BY 1, 2),
           per AS (SELECT doc_id, max(c) AS top_c, sum(c) AS n_bigrams FROM cnt GROUP BY 1),
           tok AS (SELECT doc_id, CAST(len(t) AS BIGINT) AS n_tokens,
                     CAST(len(list_distinct(t)) AS BIGINT) AS n_distinct
                   FROM toks)
         SELECT tok.doc_id, n_tokens,
           1.0 - CAST(n_distinct AS DOUBLE) / n_tokens AS dup_token_frac,
           CAST(n_bigrams AS BIGINT) AS n_bigrams,
           CAST(top_c AS DOUBLE) / n_bigrams AS top_bigram_frac,
           CAST(top_c AS DOUBLE) / n_bigrams <= 0.05
             AND 1.0 - CAST(n_distinct AS DOUBLE) / n_tokens <= 0.6 AS keep
         FROM tok JOIN per ON tok.doc_id = per.doc_id
         ORDER BY tok.doc_id""",
    "ta_domain_mix" ->
      """WITH c AS (SELECT source, count(*) AS n_docs FROM documents GROUP BY 1),
           t AS (SELECT count(*) AS total FROM documents),
           b AS (SELECT d.doc_id, d.source, c.n_docs, t.total,
                   list_reduce([strpos('0123456789abcdef', ch) - 1
                                FOR ch IN string_split(substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 8), '')],
                               (a, v) -> a * 16 + v) % 10000 AS bucket
                 FROM documents d JOIN c ON d.source = c.source CROSS JOIN t)
         SELECT source, count(*) AS n_docs,
           count(CASE WHEN bucket * n_docs < 10000 * (total // 32) THEN 1 END) AS n_kept
         FROM b GROUP BY source ORDER BY source""",
    "ta_pack_sequences" ->
      """WITH t AS (SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
                    FROM documents),
           c AS (SELECT doc_id, n_tokens,
                   COALESCE(SUM(n_tokens) OVER (ORDER BY doc_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS start_off
                 FROM t)
         SELECT CAST(start_off // 512 AS BIGINT) AS shard, count(*) AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
           min(doc_id) AS first_doc, max(doc_id) AS last_doc
         FROM c GROUP BY 1 ORDER BY shard""",
  )
}
