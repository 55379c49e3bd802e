package graft.functions

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.sources.Tables

/** Beyond-reference text-analysis operators for a training-data pipeline
  * (builder brief): language-ID, quality scoring, token counting,
  * document fingerprinting. All pure built-in expressions — one narrow
  * projection per document, no shuffle except the explicit grouped steps,
  * so each scales linearly with document count.
  */
object TextAnalysis {

  /** n-gram/stopword-profile language ID: score each language profile by
    * token hits, argmax (deterministic tie-break on language). On the
    * synthetic corpus the vocabularies overlap — the heuristic structure,
    * not the accuracy, is the operator under test. */
  def langIdNgram(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val profile = Seq(
      ("en", "the"), ("en", "a"), ("en", "fast"),
      ("de", "und"), ("de", "der"), ("de", "hash"),
      ("es", "el"), ("es", "la"), ("es", "join"),
      ("fr", "le"), ("fr", "et"), ("fr", "merge"),
      ("zh", "stream"), ("zh", "scan"),
    ).toDF("plang", "pword")
    val toks = Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"), explode(split(lower(col("text")), " ")).as("tok"))
    val scored = toks.join(broadcast(profile), col("tok") === col("pword"))
      .groupBy("doc_id", "lang", "plang")
      .agg(count(lit(1)).as("hits"))
    val w = Window.partitionBy("doc_id").orderBy(col("hits").desc, col("plang").asc)
    scored.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") === 1)
      .select(col("doc_id"), col("plang").as("pred_lang"), col("hits"),
              col("lang").as("actual_lang"),
              (col("plang") === col("lang")).as("correct"))
      .orderBy("doc_id")
  }

  /** LANGUAGE-ID CONFUSION MATRIX — the eval harness for
    * [[langIdNgram]] run inside the engine: gold label (the corpus
    * `lang` column) × predicted label cell counts, with per-gold-row
    * totals and cell rates in exact ppm. Documents the classifier
    * abstains on (no profile-word hit anywhere) surface as an explicit
    * 'unk' prediction column instead of silently vanishing — the
    * abstention rate is part of the eval.
    *
    * Scale: the prediction pass is the same broadcast profile join +
    * per-doc top-1 as the classifier; the matrix is a
    * |langs|²-bounded aggregate with row totals joined back
    * post-aggregate. */
  def langidConfusion(spark: SparkSession, dir: String): DataFrame = {
    val pred = langIdNgram(spark, dir)
      .select(col("doc_id"), col("pred_lang"))
    val full = Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang").as("actual_lang"))
      .join(pred, Seq("doc_id"), "left")
      .withColumn("pred", coalesce(col("pred_lang"), lit("unk")))
    val cm = full.groupBy("actual_lang", "pred")
      .agg(count(lit(1)).as("n"))
    val rows = cm.groupBy("actual_lang").agg(sum(col("n")).as("row_total"))
    cm.join(broadcast(rows), Seq("actual_lang"))
      .select(col("actual_lang"), col("pred").as("pred_lang"), col("n"),
        col("row_total"),
        expr("n * 1000000L div row_total").as("cell_ppm"),
        (col("actual_lang") === col("pred")).as("is_correct"))
      .orderBy("actual_lang", "pred_lang")
  }

  /** COHEN'S KAPPA — chance-corrected agreement between the corpus gold
    * labels and the [[langIdNgram]] prediction (abstentions as 'unk'):
    * the one-number summary of [[langidConfusion]] that a labeling
    * pipeline actually gates on (raw accuracy rewards majority-class
    * guessing; kappa subtracts the chance-agreement term). Exact
    * integer algebra end-to-end: po = agree/N, pe = Σ row_k·col_k / N²,
    * κ = (po − pe)/(1 − pe) emitted as
    * (agree·N − pe_num)·10⁶ div (N² − pe_num) — the sign and every tie
    * are bit-stable across engines. Degenerate pe = 1 (both raters
    * constant) emits NULL rather than divide.
    *
    * Scale: one broadcast-profile prediction pass over the corpus, then
    * a |langs|²-bounded cell aggregate — marginals and the kappa algebra
    * run on ≤36 rows. agree·N·10⁶ holds in BIGINT to ~10⁶-doc eval sets;
    * beyond that, evals sample anyway. */
  def cohensKappa(spark: SparkSession, dir: String): DataFrame = {
    val pred = langIdNgram(spark, dir)
      .select(col("doc_id"), col("pred_lang"))
    val cells = Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang").as("gold"))
      .join(pred, Seq("doc_id"), "left")
      .withColumn("pred", coalesce(col("pred_lang"), lit("unk")))
      .groupBy("gold", "pred")
      .agg(count(lit(1)).as("n"))
    val rows = cells.groupBy("gold").agg(
      expr("CAST(sum(n) AS BIGINT)").as("row_n"))
    val colsT = cells.groupBy("pred").agg(
      expr("CAST(sum(n) AS BIGINT)").as("col_n"))
    val pe = rows.join(colsT, col("gold") === col("pred"))
      .agg(coalesce(expr("CAST(sum(row_n * col_n) AS BIGINT)"), lit(0L)).as("pe_num"))
    cells
      .agg(expr("CAST(sum(n) AS BIGINT)").as("n_docs"),
        expr("CAST(sum(CASE WHEN gold = pred THEN n ELSE 0 END) AS BIGINT)").as("n_agree"))
      .crossJoin(broadcast(pe))
      .select(col("n_docs"), col("n_agree"),
        expr("n_agree * 1000000 div n_docs").as("po_ppm"),
        expr("pe_num * 1000000 div (n_docs * n_docs)").as("pe_ppm"),
        when(expr("n_docs * n_docs - pe_num") > 0,
          expr("(n_agree * n_docs - pe_num) * 1000000 div (n_docs * n_docs - pe_num)"))
          .as("kappa_ppm"))
  }

  /** DETERMINISTIC EPOCH SHUFFLE — the training-loader step that
    * re-partitions the corpus into micro-batches with a DIFFERENT
    * pseudorandom order every epoch (same-order epochs overfit batch
    * composition): batch = md5(epoch:doc_id) mod nBatches, audited as
    * per-(epoch, batch) doc/char counts plus the id range. Seeded
    * hashing, so any worker — or the oracle — reproduces the exact
    * assignment; the min/max id columns make the epoch-to-epoch
    * recomposition visible (same totals, different membership).
    *
    * Scale: hash-bucketing needs NO sort — the classic sort-by-random-
    * key epoch shuffle is a full corpus sort per epoch, this is a pure
    * projection + one bounded aggregate (epochs×nBatches rows). The
    * epoch multiplier is a map-side explode; a real loader materializes
    * one epoch at a time and drops the explode entirely. */
  def epochShuffle(spark: SparkSession, dir: String,
                   epochs: Int = 2, nBatches: Int = 8): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("n_chars"),
        explode(sequence(lit(0), lit(epochs - 1))).as("epoch"))
      .withColumn("epoch", col("epoch").cast("long"))
      .withColumn("batch", expr(
        s"""pmod(cast(conv(substring(md5(concat(cast(epoch as string), ':',
            cast(doc_id as string))), 1, 8), 16, 10) as bigint), $nBatches)"""))
      .groupBy("epoch", "batch")
      .agg(count(lit(1)).as("n_docs"),
        expr("CAST(sum(n_chars) AS BIGINT)").as("n_chars"),
        expr("CAST(min(doc_id) AS BIGINT)").as("min_doc"),
        expr("CAST(max(doc_id) AS BIGINT)").as("max_doc"))
      .orderBy("epoch", "batch")

  /** MEMORIZATION / CROSS-SPLIT VERBATIM OVERLAP — the n-gram audit run
    * before reporting eval numbers: what fraction of each test-split
    * document's distinct 8-grams appear VERBATIM anywhere in the train
    * split (the held-out metric is meaningless for spans the model saw
    * letter-for-letter). Splits are the [[splitAssign]] md5 buckets, so
    * this composes with the pipeline's own split; distinct grams per
    * doc (a doc repeating its own phrase is not memorization evidence).
    * Per-language: test docs, gram counts, overlapping grams, ppm rate.
    * The verbatim complement of the MinHash near-dup split-leakage
    * audit ([[graft.operators.Dedup]] `dd_split_leakage`): that finds
    * whole near-duplicate documents, this measures span-level leakage.
    *
    * Scale: one gram stream per side off a single corpus scan (the
    * span-dedup shape), hash-bucketed equi-join on the gram key — the
    * train side collapses to its DISTINCT gram dictionary first, so the
    * join is gram-dictionary-sized, never positions×positions. */
  def memorizationRate(spark: SparkSession, dir: String, w: Int = 8): DataFrame = {
    val gramCols = (0 until w).map(j => s"toks[i-1+$j]").mkString(", ")
    // materialized: the train-dictionary distinct AND the test-side
    // join probe both read this stream, so the corpus tokenize + 8-gram
    // md5 explode runs once
    val grams = graft.Materialize(Tables.documents(spark, dir)
      .withColumn("bucket", expr(
        "pmod(cast(conv(substring(md5(cast(doc_id as string)), 1, 8), 16, 10) as bigint), 100)"))
      .withColumn("split",
        when(col("bucket") < 90, lit("train"))
          .when(col("bucket") < 95, lit("val"))
          .otherwise(lit("test")))
      .withColumn("toks", expr("filter(split(lower(text), ' '), x -> length(x) > 0)"))
      .filter(size(col("toks")) >= w)
      // the val split feeds neither side — dropped before the stream is
      // kept, so it carries only the rows some consumer reads
      .filter(col("split") =!= "val")
      .select(col("doc_id"), col("lang"), col("split"), explode(expr(
        s"""array_distinct(transform(sequence(1, size(toks) - ${w - 1}),
              i -> md5(concat_ws(' ', $gramCols))))""")).as("gh")))
    val trainGrams = grams.filter(col("split") === "train")
      .select(col("gh")).distinct().withColumn("hit", lit(1L))
    grams.filter(col("split") === "test")
      .join(trainGrams, Seq("gh"), "left")
      .groupBy("lang")
      .agg(countDistinct(col("doc_id")).as("n_test_docs"),
        count(lit(1)).as("n_grams"),
        expr("CAST(sum(coalesce(hit, 0)) AS BIGINT)").as("n_memorized"))
      .withColumn("memorized_ppm", expr("n_memorized * 1000000 div n_grams"))
      .orderBy("lang")
  }

  /** Document quality scoring: token/stopword/length statistics + a
    * bounded composite score. Integer counts + double arithmetic only —
    * deterministic at any parallelism. */
  def qualityScore(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .withColumn("n_tokens", size(split(col("text"), " ")))
      .withColumn("n_stop",
        size(expr("filter(split(lower(text), ' '), t -> t IN ('the','a','and'))")))
      .withColumn("stop_ratio", col("n_stop").cast("double") / col("n_tokens"))
      .withColumn("avg_token_len",
        (col("n_chars") - (col("n_tokens") - lit(1))).cast("double") / col("n_tokens"))
      .withColumn("quality_score",
        greatest(lit(0.0), least(lit(100.0),
          lit(100.0) - lit(120.0) * abs(col("stop_ratio") - lit(0.18))
                     - lit(8.0) * abs(col("avg_token_len") - lit(4.5)))))
      .select("doc_id", "n_tokens", "n_stop", "stop_ratio", "avg_token_len", "quality_score")
      .orderBy("doc_id")

  /** Gopher-style REPETITION filters (Rae et al. 2021 §A1.1; RefinedWeb
    * keeps the same family): documents dominated by one repeated n-gram
    * or by duplicated spans are boilerplate/listing spam, not prose, and
    * repetition-heavy corpora measurably hurt LM training. Token-level
    * analogs of the paper's char-fraction metrics, all integer ppm so
    * both engines agree bit-for-bit:
    *
    *   - top2gram_ppm: occurrences of the most frequent 2-gram over the
    *     doc's 2-gram count (the paper drops >0.20 for its char variant)
    *   - dup5gram_ppm: 5-gram positions whose gram occurs ≥2 times
    *   - dup_token_ppm: (tokens − distinct tokens) / tokens
    *   - keep: all three under the ladder thresholds
    *
    * Relation to [[graft.functions.CorpusOps.repetitionStatsOf]] (the
    * round-7 sibling): that op computes dup-token/top-bigram FRACTIONS
    * via explode + groupBy(doc, gram) — two corpus-wide shuffles keyed
    * by (doc, gram). This one adds the duplicated-5-gram metric the
    * paper's ladder actually gates on and reworks the computation as a
    * pure per-document projection: the per-doc mode/dup counts come from
    * one array_sort + one aggregate() run-length fold over the sorted
    * grams (O(len·log len) per doc, ZERO shuffles); the corpus never
    * re-keys. At 100 TB the fold version is the one to run — same
    * verdict, no exchange. */
  def repetitionFilter(spark: SparkSession, dir: String): DataFrame =
    repetitionFilterOf(Tables.documents(spark, dir))

  /** Run-length fold over the SORTED gram array: maxrun = the mode's
    * count, dup = positions inside runs of length ≥2 (when a run reaches
    * 2 both its positions count, then +1 per extension). */
  private def runStats(grams: String): Column = expr(
    s"""aggregate(
          array_sort($grams),
          named_struct('prev', cast(null as string), 'run', 0L, 'maxrun', 0L, 'dup', 0L),
          (s, x) -> IF(s.prev IS NOT NULL AND x = s.prev,
            named_struct('prev', x, 'run', s.run + 1L,
              'maxrun', greatest(s.maxrun, s.run + 1L),
              'dup', s.dup + IF(s.run = 1L, 2L, 1L)),
            named_struct('prev', x, 'run', 1L,
              'maxrun', greatest(s.maxrun, 1L), 'dup', s.dup)),
          s -> named_struct('maxrun', s.maxrun, 'dup', s.dup))""")

  /** [[repetitionFilter]] over any (doc_id, text) frame (spec entry). */
  def repetitionFilterOf(docs: DataFrame): DataFrame = {
    // small in bytes, big in per-row compute (two gram materializations
    // + two sort/fold passes per doc) — same under-parallel-scan guard
    // as Dedup.setsimJoinOf: a single-file corpus would serialize the
    // folds onto few tasks; on a real many-file corpus this is a no-op
    val nParts = docs.sparkSession.sessionState.conf.numShufflePartitions
    val base = if (docs.rdd.getNumPartitions < nParts) docs.repartition(nParts) else docs
    base
      .withColumn("toks", split(lower(col("text")), " "))
      .withColumn("n_ws", size(col("toks")).cast("long"))
      // sequence(1, k) DESCENDS when k < 1 — guard short docs to empty
      .withColumn("bi", expr(
        """IF(size(toks) >= 2,
             transform(sequence(1, size(toks) - 1),
               i -> concat_ws(' ', toks[i-1], toks[i])),
             cast(array() as array<string>))"""))
      .withColumn("g5", expr(
        """IF(size(toks) >= 5,
             transform(sequence(1, size(toks) - 4),
               i -> concat_ws(' ', toks[i-1], toks[i], toks[i+1], toks[i+2], toks[i+3])),
             cast(array() as array<string>))"""))
      .withColumn("bs", runStats("bi"))
      .withColumn("fs", runStats("g5"))
      .withColumn("top2gram_ppm", expr(
        "IF(size(bi) = 0, 0L, bs.maxrun * 1000000L div cast(size(bi) as bigint))"))
      .withColumn("dup5gram_ppm", expr(
        "IF(size(g5) = 0, 0L, fs.dup * 1000000L div cast(size(g5) as bigint))"))
      .withColumn("dup_token_ppm", expr(
        "IF(n_ws = 0L, 0L, (n_ws - cast(size(array_distinct(toks)) as bigint)) * 1000000L div n_ws)"))
      .withColumn("keep",
        col("top2gram_ppm") <= lit(200000L) &&
          col("dup5gram_ppm") <= lit(150000L) &&
          col("dup_token_ppm") <= lit(600000L))
      .select("doc_id", "n_ws", "top2gram_ppm", "dup5gram_ppm",
        "dup_token_ppm", "keep")
      .orderBy("doc_id")
  }

  /** Token counting: whitespace tokenizer vs BPE-ish regex tokenizer
    * (word / number / other-symbol pieces). */
  def tokenCount(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .withColumn("n_ws_tokens", size(split(col("text"), " ")))
      .withColumn("n_re_tokens",
        size(regexp_extract_all(col("text"), lit("[a-z]+|[0-9]+|[^a-z0-9 ]"), lit(0))))
      .select("doc_id", "n_chars", "n_ws_tokens", "n_re_tokens")
      .orderBy("doc_id")

  /** Document fingerprint: md5 over the sorted distinct token set — an
    * order-insensitive content signature (bag-of-words fingerprint). */
  def fingerprint(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .withColumn("fp",
        md5(array_join(array_sort(array_distinct(split(lower(col("text")), " "))), " ")))
      .select("doc_id", "fp")
      .orderBy("doc_id")

  /** Deterministic train/val/test split assignment: bucket by content-id
    * hash (md5 — engine-portable), 90/5/5. The standard reproducible
    * split for training corpora — no RNG, stable under re-partitioning
    * and re-runs. */
  def splitAssign(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .withColumn("bucket", expr(
        "pmod(cast(conv(substring(md5(cast(doc_id as string)), 1, 8), 16, 10) as bigint), 100)"))
      .withColumn("split",
        when(col("bucket") < 90, lit("train"))
          .when(col("bucket") < 95, lit("val"))
          .otherwise(lit("test")))
      .groupBy("split")
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("n_chars"))
      .orderBy("split")

  /** Composed corpus-cleaning recipe (the C4-style shape): stopword-ratio
    * quality gate → exact dedup keep-first → per-language counts. Every
    * stage is one of the already-gated operators; this checks their
    * composition end-to-end. */
  def cleanCorpus(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val scored = Tables.documents(spark, dir)
      .withColumn("n_tokens", size(split(col("text"), " ")))
      .withColumn("stop_ratio",
        size(expr("filter(split(lower(text), ' '), t -> t IN ('the','a','and'))"))
          .cast("double") / col("n_tokens"))
      .filter(col("n_tokens") >= 10 && col("stop_ratio") <= 0.4)
    val w = Window.partitionBy(md5(col("text"))).orderBy(col("doc_id"))
    scored.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("n_tokens_total"))
      .orderBy("lang")
  }

  /** The FULL corpus-preparation pipeline composed end-to-end — the
    * C4-style recipe a training-data run actually executes, each stage
    * one of the already-gated operators:
    *
    *   quality gate (token count + stopword ratio)
    *     → NEAR-dedup keep-set over survivors (exact groups → LSH pairs
    *       → connected components → canonical docs,
    *       [[graft.operators.Dedup.dedupGroupsOf]])
    *     → deterministic train/val/test split on the canonical docs
    *     → per (lang, split) corpus accounting.
    *
    * Unlike [[cleanCorpus]] (exact dedup only), the dedup stage here is
    * the transitive-closure keep-set, so near-duplicate survivors of the
    * quality gate collapse to one training document. Output is grouped
    * accounting — the doc-level keep-set never leaves the cluster. */
  def corpusPipeline(spark: SparkSession, dir: String): DataFrame = {
    // dedup stage's reps/band tables persisted per corpus — the
    // quality-gate survivor slice is deterministic, so its index gets
    // the same build-once lifecycle as the doc-level dedup family
    corpusPipelineImpl(Tables.documents(spark, dir),
      q => graft.operators.Dedup.dedupGroupsPersisted(spark, dir, "ta_pipe", q))
  }

  /** [[corpusPipeline]] over any (doc_id, text, lang) frame (spec entry
    * point — inline dedup derivation). */
  def corpusPipelineOf(docs: DataFrame): DataFrame =
    corpusPipelineImpl(docs, q => graft.operators.Dedup.dedupGroupsOf(q))

  private def corpusPipelineImpl(docs: DataFrame,
      groupsOf: DataFrame => DataFrame): DataFrame = {
    val q = docs
      .withColumn("n_tokens", size(split(col("text"), " ")))
      .withColumn("stop_ratio",
        size(expr("filter(split(lower(text), ' '), t -> t IN ('the','a','and'))"))
          .cast("double") / col("n_tokens"))
      .filter(col("n_tokens") >= 10 && col("stop_ratio") <= 0.4)
    val canonical = groupsOf(q.select("doc_id", "text"))
      .filter(col("is_canonical"))
      .select("doc_id")
    q.join(canonical, "doc_id")
      .withColumn("bucket", expr(
        "pmod(cast(conv(substring(md5(cast(doc_id as string)), 1, 8), 16, 10) as bigint), 100)"))
      .withColumn("split",
        when(col("bucket") < 90, lit("train"))
          .when(col("bucket") < 95, lit("val"))
          .otherwise(lit("test")))
      .groupBy("lang", "split")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens").cast("long")).as("n_tokens_total"))
      .orderBy("lang", "split")
  }

  /** PII scrubbing as a corpus operator — the standard training-data
    * cleaning step: redact emails then phone numbers from every document,
    * reusing the reference's extraction regexes
    * ([[graft.ig.Extraction.emailPattern]]/[[graft.ig.Extraction.phonePatterns]],
    * analyze_insta_enhanced.py:1623-1701) as GLOBAL replacements instead
    * of first-match extraction. Pure per-row projection — linear, no
    * shuffle. The synthetic corpus carries no real PII, so the query
    * plants deterministic contact strings on every 7th doc (the same
    * plant both engines compute) — otherwise the gate would only verify
    * two no-ops agree. */
  def piiScrub(spark: SparkSession, dir: String): DataFrame = {
    val emailPat = graft.ig.Extraction.emailPattern
    val phonePat = graft.ig.Extraction.phonePatterns.mkString("|")
    Tables.documents(spark, dir)
      .withColumn("pii_text", concat(col("text"),
        when(col("doc_id") % 7 === 0,
          concat(lit(" contact u"), col("doc_id").cast("string"),
            lit("@example.com or call +1 555-123-4567 now")))
          .otherwise(lit(""))))
      .withColumn("n_emails",
        size(regexp_extract_all(col("pii_text"), lit(emailPat), lit(0))))
      .withColumn("s1", regexp_replace(col("pii_text"), emailPat, "[EMAIL]"))
      .withColumn("n_phones",
        size(regexp_extract_all(col("s1"), lit(phonePat), lit(0))))
      .withColumn("scrubbed", regexp_replace(col("s1"), phonePat, "[PHONE]"))
      .select("doc_id", "scrubbed", "n_emails", "n_phones")
      .orderBy("doc_id")
  }

  /** Corpus-level scrub summary: how many docs carried each PII kind. */
  def piiScrubSummary(spark: SparkSession, dir: String): DataFrame =
    piiScrub(spark, dir)
      .agg(count(lit(1)).as("n_docs"),
        count(when(col("n_emails") > 0, 1)).as("docs_with_email"),
        count(when(col("n_phones") > 0, 1)).as("docs_with_phone"),
        sum(col("n_emails").cast("long")).as("n_emails_total"),
        sum(col("n_phones").cast("long")).as("n_phones_total"))

  /** Inverted index: token → document frequency + a CAPPED posting list
    * (first `cap` doc_ids ascending, comma-joined) — the retrieval-side
    * index build a corpus search/attribution pipeline runs.
    *
    * Skew shape, the part that matters at 100 TB: a stopword token's
    * postings are the whole corpus, so the cap must be enforced BEFORE
    * rows concentrate. No per-token `row_number` window (that shuffles
    * every (token, doc) occurrence of the heaviest token into one
    * partition); instead the typed [[graft.functions.TopKByScore]]
    * partial aggregation keeps ≤ cap postings per token per MAPPER
    * (score = −doc_id, so score-desc = doc_id-asc), and `df` rides the
    * same partial-aggregated groupBy. The one post-distinct shuffle
    * carries ≤ cap + 1 values per (token, mapper) regardless of token
    * frequency. */
  def invertedIndex(spark: SparkSession, dir: String, cap: Int = 8): DataFrame =
    invertedIndexOf(Tables.documents(spark, dir), cap)

  /** [[invertedIndex]] over any (doc_id, text) frame (spec entry point). */
  def invertedIndexOf(docs: DataFrame, cap: Int = 8): DataFrame = {
    val topk = udaf(new graft.functions.TopKByScore(cap))
    docs
      .select(col("doc_id"), explode(split(lower(col("text")), " ")).as("token"))
      .filter(length(col("token")) > 0)
      .distinct()
      .groupBy("token")
      .agg(count(lit(1)).as("df"),
        topk(-col("doc_id").cast("double"), col("doc_id")).as("top"))
      .select(col("token"), col("df"),
        array_join(expr("transform(top, x -> cast(x.key as string))"), ",").as("postings"))
      .orderBy("token")
  }

  /** BM25 ranked retrieval over the corpus — the query half of the
    * retrieval stack whose build half is [[invertedIndex]]. The query
    * set is the benchmark sentences (tiny by nature → BROADCAST); the
    * corpus side computes (doc_id, token, tf) + doc lengths in
    * partial-aggregated groupBys; scoring joins the broadcast query
    * tokens into the postings ONCE and aggregates per (query, doc) in
    * one shuffle; ranking is the typed top-k partial aggregation.
    *
    * Engine-exact scoring, the part that makes this oracle-gateable:
    * the standard BM25 log-idf is replaced by its log-FREE core
    * `idf = (N − df + 0.5)/(df + 0.5)` (the same monotone ranking
    * inside the log; `ln` is the one piece of BM25 whose last-ulp
    * behavior differs across math libraries), every per-token score is
    * quantized to integer MICROS (`round(idf·tfn·1e6)`), and the
    * per-(query, doc) total is an exact integer sum — order-independent
    * across any partitioning, bit-identical across engines. k1 = 1.2,
    * b = 0.75 (the textbook constants). */
  def bm25TopK(spark: SparkSession, dir: String, k: Int = 5): DataFrame =
    bm25TopKOf(spark, Tables.documents(spark, dir), k)

  /** [[bm25TopK]] over any (doc_id, text) frame (spec entry point). */
  def bm25TopKOf(spark: SparkSession, docs: DataFrame, k: Int = 5): DataFrame = {
    import spark.implicits._
    val toks = docs
      .select(col("doc_id"), explode(split(lower(col("text")), " ")).as("token"))
      .filter(length(col("token")) > 0)
    val tf = toks.groupBy("doc_id", "token").agg(count(lit(1)).as("tf"))
    val dl = toks.groupBy("doc_id").agg(count(lit(1)).as("dl"))
    val stats = dl.agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("total_len"))
    val qtok = graft.functions.CorpusOps.benchmarkSentences.zipWithIndex
      .flatMap { case (s, i) => s.toLowerCase.split(" ").distinct.map(t => (i.toLong, t)) }
      .toDF("q_id", "token")
    // postings restricted to query tokens (broadcast filter), then df
    // per query token off that small slice — itself broadcast back
    val tfq = tf.join(broadcast(qtok.select("token").distinct()), "token")
    val dfq = tfq.groupBy("token").agg(count(lit(1)).as("df"))
    val scored = tfq
      .join(broadcast(qtok), "token")
      .join(broadcast(dfq), "token")
      .join(dl, "doc_id")
      .crossJoin(broadcast(stats))
      // idf core × tf saturation, quantized to exact integer micros
      .withColumn("score_micro", expr(bm25ScoreMicroSql))
      .groupBy("q_id", "doc_id")
      .agg(sum(col("score_micro")).as("score"))
    graft.functions.TopKByScore
      .serveTopK(scored, "q_id", col("score").cast("double"), col("doc_id"), k)
      .select(col("q_id"), col("rnk"), col("key").as("doc_id"),
        col("score").cast("long").as("score_micro"))
  }

  /** PSEUDO-RELEVANCE-FEEDBACK QUERY EXPANSION (Rocchio) — the classic
    * two-round retrieval loop: BM25 top-5 per query, then the feedback
    * docs nominate expansion terms (highest integer rarity score
    * tf_fb·10⁶ div df among tokens NOT already in the query, top-3,
    * token-asc ties), then BM25 re-runs with the expanded term set and
    * the final ranking is emitted. Shares [[bm25ScoreMicroSql]] and the
    * exact (score desc, doc_id asc) serving rule with the other BM25
    * variants, so both rounds stay hash-gateable.
    *
    * Scale (r8 verdict #4): both rounds read the PERSISTED token-
    * bucketed postings `(doc_id, token, tf, dl)` + 1-row stats table
    * ([[buildBm25Index]], the `bm25Persisted` lifecycle) — the corpus
    * is never re-tokenized at query time. Every postings access is
    * filtered by a BROADCAST term/doc set before anything joins, the
    * per-token df aggregations run exchange-free off the bucketed
    * scan, and top-k serving is per-partition bounded. The
    * feedback/expansion tables between rounds are query-bounded
    * (≤ queries × 5 docs × doc length) and broadcast. */
  def queryExpansion(spark: SparkSession, dir: String,
                     k: Int = 5, nExp: Int = 3): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val (post, stats) = buildBm25Index(spark, dir) // (doc_id, token, tf, dl), (n_docs, total_len)
    val dfTab = buildBm25DfTable(spark, dir) // (token, df)
    val qpairs = graft.functions.CorpusOps.benchmarkSentences.zipWithIndex
      .flatMap { case (s, i) => s.toLowerCase.split(" ").distinct.map(t => (i.toLong, t)) }
    val qtok = qpairs.toDF("q_id", "token")
    // term sets are PLAN-TIME LITERALS on both rounds, so the token-
    // bucketed postings/df reads bucket-prune and row-group-filter
    // instead of scanning the whole index (the point of the bucketed
    // layout; a broadcast-join filter alone prunes nothing at scan
    // time). Round 2\'s terms come from a documented bounded collect of
    // the expansion table (<= queries * nExp rows) — which also keeps the
    // round-2 plan STATIC: broadcast-deriving qtok2 from the expansion
    // DataFrame re-executed the whole round-1 + feedback DAG inside
    // round 2\'s broadcast exchange (measured ~2.4 single-round costs).
    def score(qt: DataFrame, lits: Seq[String]): DataFrame = {
      val tfq = post.filter(col("token").isin(lits: _*))
        .join(broadcast(qt.select("token").distinct()), "token")
      val dfq = dfTab.filter(col("token").isin(lits: _*))
        .join(broadcast(qt.select("token").distinct()), "token")
      tfq.join(broadcast(qt), "token")
        .join(broadcast(dfq), "token")
        .crossJoin(broadcast(stats))
        .withColumn("score_micro", expr(bm25ScoreMicroSql))
        .groupBy("q_id", "doc_id")
        .agg(sum(col("score_micro")).as("score"))
    }
    val tok1 = qpairs.map(_._2).distinct
    val round1 = graft.functions.TopKByScore
      .serveTopK(score(qtok, tok1), "q_id", col("score").cast("double"), col("doc_id"), k)
      .select(col("q_id"), col("key").as("doc_id"))
    val fbTf = post.join(broadcast(round1), "doc_id")
      .groupBy("q_id", "token").agg(sum(col("tf")).as("tf_fb"))
      .join(qtok, Seq("q_id", "token"), "left_anti")
    val dfCand = dfTab.join(broadcast(fbTf.select("token").distinct()), "token")
    val byRarity = Window.partitionBy("q_id").orderBy(desc("exp_score"), asc("token"))
    val expRows = fbTf.join(broadcast(dfCand), "token")
      .withColumn("exp_score", expr("tf_fb * 1000000L div df"))
      .withColumn("rn", row_number().over(byRarity))
      .filter(col("rn") <= nExp)
      .select("q_id", "token")
      .collect() // bounded: <= queries * nExp rows
    val qtok2 = (qpairs ++ expRows.map(r => (r.getLong(0), r.getString(1))))
      .distinct.toDF("q_id", "token")
    val tok2 = (tok1 ++ expRows.map(_.getString(1))).distinct
    graft.functions.TopKByScore
      .serveTopK(score(qtok2, tok2), "q_id", col("score").cast("double"), col("doc_id"), k)
      .select(col("q_id"), col("rnk"), col("key").as("doc_id"),
        col("score").cast("long").as("score_micro"))
  }

  /** The engine-exact BM25 per-token score in integer micros — ONE
    * definition shared by the scan-time and persisted-index variants so
    * the scoring contract cannot drift (columns in scope: tf, df, dl,
    * n_docs, total_len). */
  private val bm25ScoreMicroSql: String =
    "cast(round(((cast(n_docs as double) - cast(df as double) + 0.5) / (cast(df as double) + 0.5)) " +
      "* (cast(tf as double) / (cast(tf as double) + 1.2 * (0.25 + 0.75 * " +
      "(cast(dl as double) / (cast(total_len as double) / cast(n_docs as double)))))) " +
      "* 1000000.0) as bigint)"

  /** PERSISTED BM25 postings index: the corpus side of [[bm25TopKOf]]
    * built ONCE — `(doc_id, token, tf, dl)` token-bucketed plus a 1-row
    * corpus stats table `(n_docs, total_len)` — so query time never
    * re-tokenizes the corpus. Both tables resolve through
    * [[graft.sources.IndexStore.orBuild]] (catalog hit, else re-register
    * from storage, else build), so the corpus is tokenized once per
    * corpus, across sessions; the stats are derived from the persisted
    * postings, not from a second tokenization. This is the amortization
    * that fixes the measured ta_bm25_topk profile (SCALE.md: its
    * full-corpus tf/dl groupBys were the 24×/2.8 GB-spill row; the
    * persisted probe reads only the query tokens' postings, and the
    * df-per-token aggregation runs exchange-free off the bucketed scan).
    * Returns the (postings, stats) frames. */
  def buildBm25Index(spark: SparkSession, dir: String): (DataFrame, DataFrame) =
    buildBm25IndexOf(spark, dir, tag = "", pred = lit(true))

  /** The BASE slice's index for the incremental variant: only documents
    * with `doc_id % 7 != 0` — the corpus as of "yesterday's" build. */
  def buildBm25BaseIndex(spark: SparkSession, dir: String): (DataFrame, DataFrame) =
    buildBm25IndexOf(spark, dir, tag = "base_", pred = col("doc_id") % 7 =!= 0)

  private def buildBm25IndexOf(spark: SparkSession, dir: String,
                               tag: String, pred: Column): (DataFrame, DataFrame) = {
    val post = graft.sources.IndexStore.orBuild(
      spark, dir, s"bm25_${tag}postings", buckets = 8, keys = Seq("token")) {
      val toks = Tables.documents(spark, dir).filter(pred)
        .select(col("doc_id"), explode(split(lower(col("text")), " ")).as("token"))
        .filter(length(col("token")) > 0)
      val tf = toks.groupBy("doc_id", "token").agg(count(lit(1)).as("tf"))
      val dl = toks.groupBy("doc_id").agg(count(lit(1)).as("dl"))
      tf.join(dl, "doc_id")
    }
    val stats = graft.sources.IndexStore.orBuild(
      spark, dir, s"bm25_${tag}stats", buckets = 1, keys = Seq("n_docs")) {
      post.select("doc_id", "dl").distinct()
        .agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("total_len"))
    }
    (post, stats)
  }

  /** Per-token document-frequency table over the persisted postings —
    * built once alongside the index, so serving paths that need df for
    * a BROADCAST candidate token set ([[queryExpansion]]'s two rounds)
    * read a vocabulary-sized table instead of scanning + aggregating
    * the postings. Values are exactly `postings.groupBy(token).count`,
    * i.e. identical to computing df at query time — the oracle is
    * unaffected. */
  def buildBm25DfTable(spark: SparkSession, dir: String): DataFrame = {
    val (post, _) = buildBm25Index(spark, dir)
    graft.sources.IndexStore.orBuild(spark, dir, "bm25_df", buckets = 8, keys = Seq("token")) {
      post.groupBy("token").agg(count(lit(1)).as("df"))
    }
  }

  /** [[bm25TopK]] served from the persisted postings index —
    * row-identical by construction (same tokenization, same integer
    * scoring, just computed at BUILD time), so it shares the
    * ta_bm25_topk oracle verbatim. */
  def bm25Persisted(spark: SparkSession, dir: String, k: Int = 5): DataFrame = {
    val (post, stats) = buildBm25Index(spark, dir)
    bm25Serve(spark, post, stats, k)
  }

  /** The shared BM25 serving tail over any postings `(doc_id, token,
    * tf, dl)` + 1-row stats `(n_docs, total_len)` pair — broadcast query
    * tokens in, integer-micro scoring, typed top-k out. One definition
    * so the persisted and incremental variants cannot drift. */
  private[graft] def bm25Serve(spark: SparkSession, post: DataFrame,
                               stats: DataFrame, k: Int): DataFrame = {
    import spark.implicits._
    val qpairs = graft.functions.CorpusOps.benchmarkSentences.zipWithIndex
      .flatMap { case (s, i) => s.toLowerCase.split(" ").distinct.map(t => (i.toLong, t)) }
    val qtok = qpairs.toDF("q_id", "token")
    // the query term set is known at PLAN time, so prune the postings
    // scan with a literal isin (bucket/row-group prunable on the
    // token-bucketed layout) — a broadcast-join filter alone prunes
    // nothing at scan time (same move as queryExpansion's two rounds);
    // df per surviving token is unchanged by the pruning
    val lits = qpairs.map(_._2).distinct
    val tfq = post.filter(col("token").isin(lits: _*))
      .join(broadcast(qtok.select("token").distinct()), "token")
    val dfq = tfq.groupBy("token").agg(count(lit(1)).as("df"))
    val scored = tfq
      .join(broadcast(qtok), "token")
      .join(broadcast(dfq), "token")
      .crossJoin(broadcast(stats))
      .withColumn("score_micro", expr(bm25ScoreMicroSql))
      .groupBy("q_id", "doc_id")
      .agg(sum(col("score_micro")).as("score"))
    graft.functions.TopKByScore
      .serveTopK(scored, "q_id", col("score").cast("double"), col("doc_id"), k)
      .select(col("q_id"), col("rnk"), col("key").as("doc_id"),
        col("score").cast("long").as("score_micro"))
  }

  /** IMPACT-scored postings — `(token, doc_id, score_micro)` with the
    * full per-token BM25 contribution precomputed at BUILD time. Every
    * term of the score (tf, df, dl, corpus stats) is a static index
    * quantity, so the whole contribution can be materialized into the
    * index (the classic impact-ordered-index move): an online probe
    * then needs no arithmetic, no df lookup, no stats — just an
    * equi-join on token and a per-query sum. The df aggregation runs
    * exchange-free off the token-bucketed postings scan. This is the
    * static side of [[graft.streaming.Streams.bm25ProbeStream]]. */
  def bm25Impacts(spark: SparkSession, dir: String): DataFrame = {
    val (post, stats) = buildBm25Index(spark, dir)
    val dfAll = post.groupBy("token").agg(count(lit(1)).as("df"))
    post.join(dfAll, "token")
      .crossJoin(broadcast(stats))
      .withColumn("score_micro", expr(bm25ScoreMicroSql))
      .select("token", "doc_id", "score_micro")
  }

  /** Index MAINTENANCE — the daily-ingest shape of the retrieval stack:
    * the BASE postings (docs with `doc_id % 7 != 0`) come from the
    * persisted token-bucketed index built "yesterday"; the DELTA batch
    * (every 7th doc) is tokenized at query time; serving runs over the
    * union with combined corpus stats. Only the delta ever pays
    * tokenization — the base side reads just the query tokens' postings
    * off the bucketed layout — yet the result is row-identical to
    * rebuilding over the full corpus (same tf/dl/df/stats arithmetic,
    * df computed on the unioned postings), so it shares the ta_bm25_topk
    * oracle verbatim. At 100 TB this is the difference between an
    * index REBUILD and an index APPEND per ingest batch. */
  def bm25Incremental(spark: SparkSession, dir: String, k: Int = 5): DataFrame = {
    val (basePost, baseStats) = buildBm25BaseIndex(spark, dir)
    val dtoks = Tables.documents(spark, dir).filter(col("doc_id") % 7 === 0)
      .select(col("doc_id"), explode(split(lower(col("text")), " ")).as("token"))
      .filter(length(col("token")) > 0)
    val dtf = dtoks.groupBy("doc_id", "token").agg(count(lit(1)).as("tf"))
    val ddl = dtoks.groupBy("doc_id").agg(count(lit(1)).as("dl"))
    val dstat = ddl.agg(count(lit(1)).as("n_docs"),
      coalesce(sum(col("dl")), lit(0L)).as("total_len"))
    val post = basePost.unionByName(dtf.join(ddl, "doc_id"))
    val stats = baseStats.unionByName(dstat)
      .agg(sum(col("n_docs")).as("n_docs"), sum(col("total_len")).as("total_len"))
    bm25Serve(spark, post, stats, k)
  }

  /** Model-based quality FILTERING via the hashing trick — the fastText
    * shape (Joulin et al. 2016; hashing trick per Weinberger et al.
    * 2009) of the quality-classifier gate every production corpus
    * pipeline runs (CCNet/RefinedWeb style): every unigram and bigram
    * hashes into a 4096-bucket feature space, each bucket carries an
    * integer weight, a document's margin is the exact integer sum of
    * its features' weights, keep = margin > 0 (the sigmoid is monotone
    * and omitted). The weights here are a deterministic arithmetic
    * surrogate for a trained model's — the gated contract is the
    * serving ENGINE: hashing, margin accumulation, threshold gate.
    *
    * Scale shape: the hashing trick turns the weight-matrix lookup into
    * pure arithmetic on the feature hash — no weight table, no join,
    * nothing broadcast; scoring is one narrow projection (explode →
    * bucket → weight) plus one per-doc partial-aggregated sum. The
    * margin is an order-free integer sum, bit-identical across engines
    * and partitionings. */
  def qualityClassifier(spark: SparkSession, dir: String): DataFrame =
    qualityClassifierOf(Tables.documents(spark, dir))

  /** [[qualityClassifier]] over any (doc_id, text) frame (spec entry). */
  def qualityClassifierOf(docs: DataFrame): DataFrame = {
    val toks = docs.withColumn("toks", split(lower(col("text")), " "))
    // feature space shared with the DSIR importance sampler
    // (CorpusOps.featArraySql / featBucketSql — one definition)
    // bucket inside the array domain (r14, same move as CorpusOps.featsOf):
    // the generator emits one long per feature, not the feature string
    val feats = toks.select(col("doc_id"), explode(expr(
      s"transform(${CorpusOps.featArraySql}, feat -> ${CorpusOps.featBucketSql})")).as("b"))
    val scored = feats
      .withColumn("w", expr("pmod(b * 2654435761, 2001) - 1000"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_feats"), sum(col("w")).as("margin"))
    docs.select("doc_id").join(scored, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_feats"), lit(0L)).as("n_feats"),
        coalesce(col("margin"), lit(0L)).as("margin"),
        (coalesce(col("margin"), lit(0L)) > 0).as("keep"))
      .orderBy("doc_id")
  }

  /** HYBRID retrieval — reciprocal-rank fusion (Cormack et al. 2009) of
    * the lexical and vector rankings over the SAME query set: query i
    * is the pair (benchmark sentence i, embedding vec_id = i), i < 3,
    * the standard two-tower serving shape. Each doc's fused score is
    * Σ 1/(60 + rank) over the lists it appears in, computed as integer
    * MICROS via integer division (`1000000 div (60+rnk)`) so the fusion
    * is bit-identical across engines and partitionings — same move as
    * the BM25 integer-micro scoring.
    *
    * Scale shape: both input rankings are already top-k-bounded (≤ k
    * rows per query each, regardless of corpus size), so the fusion
    * union + groupBy + final top-k runs on O(queries · k) rows — the
    * fusion stage is free at 100 TB; all the cost stays in the two
    * retrieval legs, each already shuffle-bounded (BM25: broadcast
    * query tokens into postings; ANN: one broadcast scan + typed
    * top-k partial aggregation). */
  def hybridRrf(spark: SparkSession, dir: String, k: Int = 5): DataFrame = {
    // lex leg off the PERSISTED token-bucketed postings (row-identical
    // to the scan-time bm25TopK by construction — same tokenization,
    // same integer scoring, computed at build time) with the plan-time
    // literal term pruning bm25Serve applies; the scan variant
    // re-tokenized the corpus (two full groupBys) on every serve and
    // was the measured 2× of the r10 ta_hybrid_rrf regression
    val lex = bm25Persisted(spark, dir, k).select("q_id", "doc_id", "rnk")
    val vec = graft.operators.Similarity.annMultiQueryTopK(spark, dir, 3L, k)
      .select(col("q_id"), col("vec_id").as("doc_id"), col("rnk"))
    rrfFuseOf(lex, vec, k)
  }

  /** The fusion stage of [[hybridRrf]] over any two `(q_id, doc_id,
    * rnk)` rank lists (spec entry point — the corpus legs rarely
    * overlap, so the sum path needs controlled inputs to exercise). */
  private[graft] def rrfFuseOf(lex: DataFrame, vec: DataFrame, k: Int): DataFrame = {
    val contrib = expr("1000000 div (60 + rnk)")
    val fused = lex.select(col("q_id"), col("doc_id"), contrib.as("c"))
      .unionByName(vec.select(col("q_id"), col("doc_id"), contrib.as("c")))
      .groupBy("q_id", "doc_id").agg(sum(col("c")).as("rrf"))
    graft.functions.TopKByScore
      .serveTopK(fused, "q_id", col("rrf").cast("double"), col("doc_id"), k)
      .select(col("q_id"), col("rnk"), col("key").as("doc_id"),
        col("score").cast("long").as("rrf_micro"))
  }

  /** VOCABULARY COVERAGE / OOV-rate scoring — the LM-flavored quality
    * gate that needs no floating transcendentals: fit the top-`vocabSize`
    * corpus vocabulary (frequency desc, token asc — the deterministic
    * tie-break both engines honor in ORDER BY … LIMIT), then score every
    * document by its share of out-of-vocabulary tokens. High OOV = noise,
    * boilerplate-in-another-language, or OCR garbage; the cheap stand-in
    * for perplexity filtering when a real LM isn't in the loop (log-prob
    * scoring would put ln() ulps in the gate; a token-membership rate is
    * integer-exact, and the one double division per doc rounds
    * identically everywhere).
    *
    * Scale shape: tokenize/explode is map-side; vocab fit is one
    * partial-agg shuffle on token + a bounded TakeOrdered(500); scoring
    * is a broadcast left-join of the token stream against the 500-row
    * vocab + one per-doc count shuffle. Linear in corpus tokens. */
  def vocabOov(spark: SparkSession, dir: String, vocabSize: Int = 500): DataFrame = {
    val toks = Tables.documents(spark, dir)
      .select(col("doc_id"), explode(split(lower(col("text")), " ")).as("tok"))
      .filter(length(col("tok")) > 0)
    val vocab = toks.groupBy("tok").agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("tok").asc)
      .limit(vocabSize)
      .select(col("tok"), lit(1).as("in_vocab"))
    toks.join(broadcast(vocab), Seq("tok"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"),
        count(when(col("in_vocab").isNull, 1)).as("n_oov"))
      .withColumn("oov_rate",
        col("n_oov").cast("double") / col("n_tokens").cast("double"))
      .orderBy("doc_id")
  }

  /** Corpus ENCODING — the step after vocabulary fit ([[vocabOov]]): map
    * every document to its token-id sequence (OOV → 0), the shape a
    * tokenized training shard actually stores. Ids are assigned by
    * (count desc, token asc) rank over the fitted vocab, so the mapping
    * is deterministic and re-derivable by any engine. Emits per doc the
    * token count, OOV count, and the first 16 ids dash-joined (a bounded
    * audit prefix — the full id array would be the production payload,
    * same plan shape).
    *
    * Scale: tokenize/explode is map-side; the vocab is a bounded 500-row
    * broadcast (the id join never shuffles the token stream); the only
    * corpus shuffle is the per-doc reassembly groupBy — collect_list is
    * bounded by document length, not corpus size. Linear at 100 TB. */
  def tokenizeIds(spark: SparkSession, dir: String,
      vocabSize: Int = 500, headLen: Int = 16): DataFrame = {
    val toks = Tables.documents(spark, dir)
      .select(col("doc_id"), posexplode(split(lower(col("text")), " ")))
      .toDF("doc_id", "pos", "tok")
      .filter(length(col("tok")) > 0)
    val vocab = toks.groupBy("tok").agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("tok").asc)
      .limit(vocabSize)
      .withColumn("id", row_number().over(
        org.apache.spark.sql.expressions.Window
          .orderBy(col("cnt").desc, col("tok").asc)))
      .select("tok", "id")
    toks.join(broadcast(vocab), Seq("tok"), "left")
      .select(col("doc_id"), col("pos"), coalesce(col("id"), lit(0)).as("id0"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"),
        count(when(col("id0") === 0, 1)).as("n_oov"),
        array_join(
          slice(transform(array_sort(collect_list(struct(col("pos"), col("id0")))),
            x => x.getField("id0")), 1, headLen), "-").as("ids_head"))
      .orderBy("doc_id")
  }

  /** Sliding-window document CHUNKING — the retrieval/packing primitive
    * that splits long documents into overlapping token windows (width 64,
    * stride 48 → 25% overlap), the shape RAG indexes and context-window
    * packers consume. Chunk boundaries are pure arithmetic over the token
    * array (`sequence(0, n−1, stride)` explode + `slice`) — map-side
    * only, zero shuffles, row multiplier ≈ n_tokens/stride. Each chunk
    * carries an md5 fingerprint, so downstream exact-dedup of chunks
    * (the paragraph-dedup pattern) composes directly. */
  def chunkDocuments(spark: SparkSession, dir: String,
      width: Int = 64, stride: Int = 48): DataFrame =
    // chunks are computed INSIDE the array domain and only then exploded
    // (r14): the previous shape exploded the chunk starts first, so every
    // generated row carried the document's FULL token array until the
    // slice — O(n²/stride) bytes materialized per document (a 6400-token
    // doc copied its array 134×; SF10 ratio 95×). transform-then-explode
    // emits only the narrow per-chunk struct; n_tok = least(width, n−s)
    // is the closed form of size(slice(ts, s+1, width)) for s < n.
    Tables.documents(spark, dir)
      .select(col("doc_id"),
        filter(split(lower(col("text")), " "), t => length(t) > 0).as("ts"))
      .withColumn("n", size(col("ts")))
      .filter(col("n") > 0)
      .select(col("doc_id"), explode(expr(
        s"""transform(sequence(0, n - 1, $stride), s -> named_struct(
           |  'chunk_id', CAST(s div $stride AS BIGINT),
           |  'start_tok', CAST(s AS BIGINT),
           |  'n_tok', CAST(least($width, n - s) AS BIGINT),
           |  'fp', md5(concat_ws(' ', slice(ts, s + 1, $width)))))""".stripMargin)).as("c"))
      .select(col("doc_id"), col("c.chunk_id").as("chunk_id"),
        col("c.start_tok").as("start_tok"), col("c.n_tok").as("n_tok"),
        col("c.fp").as("fp"))
      .orderBy("doc_id", "chunk_id")

  /** TF-IDF KEYWORD EXTRACTION: each document's top-k most
    * characteristic tokens — high in-document frequency, rare across the
    * corpus. The idf lives as an integer rarity ratio (tf·10⁶ div df —
    * no float log, so ranking is bit-stable across engines), with ties
    * broken lexicographically so the top-k boundary is deterministic.
    * The tagging/faceting companion to BM25: BM25 ranks documents for a
    * query, this summarizes a document for a reader.
    *
    * Scale: the (doc, token) tf aggregation is the one corpus-sized
    * shuffle; df collapses tf rows to a vocabulary-sized table that
    * joins back on the token key; the final per-doc window ranks ≤
    * |distinct tokens in doc| rows per partition key. All linear. */
  def tfidfKeywords(spark: SparkSession, dir: String, k: Int = 3): DataFrame =
    tfidfKeywordsOf(Tables.documents(spark, dir), k)

  /** [[tfidfKeywords]] over any documents-shaped corpus (spec entry). */
  def tfidfKeywordsOf(docs: DataFrame, k: Int = 3): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tf = docs
      .select(col("doc_id"), explode(
        expr("filter(split(lower(text), ' '), x -> length(x) > 0)")).as("token"))
      .groupBy("doc_id", "token")
      .agg(count(lit(1)).as("tf"))
    val df_ = tf.groupBy("token").agg(count(lit(1)).as("df"))
    val byScore = Window.partitionBy("doc_id")
      .orderBy(col("score_ppm").desc, col("token").asc)
    tf.join(df_, Seq("token"))
      .withColumn("score_ppm", expr("tf * 1000000 div df"))
      .withColumn("rank", row_number().over(byScore).cast("long"))
      .filter(col("rank") <= k)
      .select("doc_id", "token", "tf", "df", "score_ppm", "rank")
      .orderBy("doc_id", "rank")
  }

  /** K-ANONYMITY AUDIT over the corpus metadata: treat (lang, source) as
    * the quasi-identifier tuple and report every equivalence class with
    * its size and at-risk flag (n < k — those documents are
    * re-identifiable by their metadata alone), then the GENERALIZATION
    * step every anonymization ladder applies: at-risk classes coarsen to
    * (lang, *) and are re-audited at the weaker identifier. The release
    * decision (publish exact, publish generalized, suppress) reads
    * straight off the output. Privacy accounting is a release gate for
    * training corpora alongside the PII scrub — scrubbing removes
    * identifiers IN the text, this catches identification BY metadata.
    *
    * Scale: two partial-agg groupBys on tiny key spaces; the at-risk
    * class list is ≤ |lang×source| rows and BROADCASTs back onto the
    * corpus for the generalized recount. One corpus pass per level. */
  def kAnonymity(spark: SparkSession, dir: String, k: Int = 5): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val exact = docs.groupBy("lang", "source")
      .agg(count(lit(1)).as("n_docs"))
    val risk = exact.filter(col("n_docs") < k)
      .select(col("lang").as("r_lang"), col("source").as("r_source"))
    val generalized = docs
      .join(broadcast(risk),
        col("lang") === col("r_lang") && col("source") === col("r_source"))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"))
      .select(lit("generalized").as("level"), col("lang"),
        lit("*").as("source"), col("n_docs"), (col("n_docs") < k).as("at_risk"))
    exact
      .select(lit("exact").as("level"), col("lang"), col("source"),
        col("n_docs"), (col("n_docs") < k).as("at_risk"))
      .unionAll(generalized)
      .orderBy("level", "lang", "source")
  }

  /** Default blocklist for [[blocklistFilter]] — stands in for the
    * word-list safety filters (profanity/NSFW lists) every pre-training
    * corpus pass runs; on the synthetic vocabulary these three terms
    * give a non-degenerate keep/drop split. */
  private[graft] val DefaultBlocklist = Seq("slow", "big", "crash")

  /** TERM-BLOCKLIST SAFETY FILTER — the word-list document gate
    * (profanity/NSFW/spam lists) that runs in front of every
    * pre-training corpus: per document, how many tokens hit the list,
    * how many DISTINCT listed terms appear, and a keep/drop verdict at
    * an integer-ppm density threshold. Distinct from [[qualityScore]]
    * (shape heuristics) and [[graft.functions.WebOps]] URL filtering
    * (provenance): this one gates on CONTENT terms.
    *
    * Scale: the blocklist is a literal array inside codegen'd
    * higher-order functions (`filter`/`array_intersect`) — a pure
    * per-document projection, ZERO shuffles, no join even at list sizes
    * in the thousands (broadcast-join the list as a dimension only past
    * that). Integer ppm so the verdict boundary cannot FP-drift. */
  def blocklistFilter(spark: SparkSession, dir: String,
                      terms: Seq[String] = DefaultBlocklist,
                      maxPpm: Long = 60000L): DataFrame = {
    val lst = terms.map(t => s"'$t'").mkString(", ")
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"),
        expr("filter(split(lower(text), ' +'), t -> t <> '')").as("toks"))
      .select(col("doc_id"), col("source"),
        size(col("toks")).cast("long").as("n_tokens"),
        size(expr(s"filter(toks, t -> array_contains(array($lst), t))"))
          .cast("long").as("n_hits"),
        size(array_intersect(array_distinct(col("toks")),
          expr(s"array($lst)"))).cast("long").as("n_terms_hit"))
      .withColumn("hit_ppm",
        when(col("n_tokens") === 0L, 0L)
          .otherwise(expr("n_hits * 1000000 div n_tokens")))
      .withColumn("verdict",
        when(col("hit_ppm") > lit(maxPpm), lit("drop")).otherwise(lit("keep")))
      .select("doc_id", "source", "n_tokens", "n_hits", "n_terms_hit",
        "hit_ppm", "verdict")
      .orderBy("doc_id")
  }

  /** TOKENIZER FERTILITY — tokens produced per 100 characters of input,
    * by (lang, source) cohort, for both tokenizers [[tokenCount]]
    * exposes (whitespace vs BPE-ish regex pieces). Fertility is THE
    * budgeting statistic for a multilingual training mix: a language
    * whose regex fertility runs hot costs proportionally more sequence
    * length per byte of corpus, and mixture weights set in bytes
    * silently re-weight in tokens. Ratios in exact ppm-per-100-chars
    * (tokens·1e8 div chars) so the cohort rows hash identically across
    * engines.
    *
    * Scale: tokenize map-side, ONE partial-aggregated groupBy on a
    * low-cardinality cohort key — the whole query is a scan + tiny
    * shuffle at any corpus size. */
  def fertility(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("lang"), col("source"), col("n_chars"),
        size(split(col("text"), " ")).cast("long").as("ws"),
        size(regexp_extract_all(col("text"), lit("[a-z]+|[0-9]+|[^a-z0-9 ]"), lit(0)))
          .cast("long").as("re"))
      .groupBy("lang", "source")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("n_chars"),
        sum(col("ws")).as("n_ws_tokens"),
        sum(col("re")).as("n_re_tokens"))
      .select(col("lang"), col("source"), col("n_docs"), col("n_chars"),
        col("n_ws_tokens"), col("n_re_tokens"),
        expr("n_ws_tokens * 100000000L div n_chars").as("ws_per_100c_ppm"),
        expr("n_re_tokens * 100000000L div n_chars").as("re_per_100c_ppm"))
      .orderBy("lang", "source")

  /** DATA-MIX REBALANCING — temperature-flattened multilingual token
    * targets (the mT5/XLM-R α=0.5 convention: sample weights ∝
    * √(corpus share), so head languages shrink and tail languages
    * grow) converted into per-language sampling rates. Weights are
    * `floor(√n_tokens)` — IEEE sqrt is correctly rounded, so the floor
    * is engine-deterministic (exact on perfect squares, never
    * integer-adjacent otherwise); targets split the corpus total over
    * the weights by Hamilton largest remainder (sums EXACTLY to total —
    * [[graft.operators.Aggregations.allocBudget]]'s rule in token
    * space); keep_ppm = min(1, target/current). Languages under their
    * flattened share keep everything — up-sampling is a repetition
    * policy, not a filter, and the surplus stays visible as
    * target > kept.
    *
    * Scale: tokenize map-side, ONE low-cardinality groupBy; the
    * largest-remainder windows run over |languages| rows. */
  def mixRebalance(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val cur = Tables.documents(spark, dir)
      .select(col("lang"),
        size(regexp_extract_all(col("text"), lit("[a-z]+|[0-9]+|[^a-z0-9 ]"), lit(0)))
          .cast("long").as("tk"))
      .groupBy("lang").agg(sum(col("tk")).as("n_tokens"))
      .withColumn("w", expr("CAST(floor(sqrt(CAST(n_tokens AS DOUBLE))) AS BIGINT)"))
    val withTotal = cur
      .withColumn("total", sum(col("n_tokens")).over(Window.partitionBy()))
      .withColumn("wt", sum(col("w")).over(Window.partitionBy()))
    val byRem = Window.orderBy(desc("rem"), asc("lang"))
    withTotal
      .withColumn("fl", expr("total * w div wt"))
      .withColumn("rem", expr("(total * w) % wt"))
      .withColumn("rk", row_number().over(byRem).cast("long"))
      .withColumn("target_tokens",
        col("fl") + when(col("rk") <= col("total") - expr("CAST(sum(fl) OVER () AS BIGINT)"),
          1L).otherwise(0L))
      .withColumn("keep_ppm",
        least(lit(1000000L), expr("target_tokens * 1000000L div n_tokens")))
      .select(col("lang"), col("n_tokens"), col("target_tokens"), col("keep_ppm"),
        expr("n_tokens * keep_ppm div 1000000L").as("kept_tokens"))
      .orderBy("lang")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "ta_mix_rebalance" -> mixRebalance _,
    "ta_fertility" -> fertility _,
    "ta_blocklist_filter" -> ((s: SparkSession, d: String) => blocklistFilter(s, d)),
    "ta_k_anonymity" -> ((s: SparkSession, d: String) => kAnonymity(s, d)),
    "ta_tfidf_keywords" -> ((s: SparkSession, d: String) => tfidfKeywords(s, d)),
    "ta_chunk_documents" -> ((s: SparkSession, d: String) => chunkDocuments(s, d)),
    "ta_tokenize_ids" -> ((s: SparkSession, d: String) => tokenizeIds(s, d)),
    "ta_vocab_oov" -> ((s: SparkSession, d: String) => vocabOov(s, d)),
    "ta_corpus_pipeline" -> corpusPipeline _,
    "ta_pii_scrub" -> piiScrub _,
    "ta_pii_scrub_summary" -> piiScrubSummary _,
    "ta_split_assign" -> splitAssign _,
    "ta_clean_corpus" -> cleanCorpus _,
    "ta_langid_ngram" -> langIdNgram _,
    "ta_langid_confusion" -> langidConfusion _,
    "ta_cohens_kappa" -> cohensKappa _,
    "ta_epoch_shuffle" -> ((s: SparkSession, d: String) => epochShuffle(s, d)),
    "ta_memorization_rate" -> ((s: SparkSession, d: String) => memorizationRate(s, d)),
    "ta_quality_score" -> qualityScore _,
    "ta_repetition_filter" -> repetitionFilter _,
    "ta_token_count"  -> tokenCount _,
    "ta_fingerprint"  -> fingerprint _,
    "ta_inverted_index" -> ((s: SparkSession, d: String) => invertedIndex(s, d)),
    "ta_bm25_topk" -> ((s: SparkSession, d: String) => bm25TopK(s, d)),
    "ta_bm25_persisted" -> ((s: SparkSession, d: String) => bm25Persisted(s, d)),
    "ta_bm25_incremental" -> ((s: SparkSession, d: String) => bm25Incremental(s, d)),
    "ta_hybrid_rrf" -> ((s: SparkSession, d: String) => hybridRrf(s, d)),
    "ta_query_expansion" -> ((s: SparkSession, d: String) => queryExpansion(s, d)),
    "ta_quality_classifier" -> qualityClassifier _,
  )

  // oracle fragment shared by the two PII queries: plant + scrub chain,
  // GENERATED from the same Scala pattern constants the operator uses so
  // engine and oracle cannot drift (DuckDB regexp_replace needs the 'g'
  // flag for the global semantics Spark applies by default)
  private val piiScrubOracleCte: String = {
    val emailPat = graft.ig.Extraction.emailPattern
    val phonePat = graft.ig.Extraction.phonePatterns.mkString("|")
    s"""p AS (SELECT doc_id,
             text || CASE WHEN doc_id % 7 = 0
               THEN ' contact u' || doc_id || '@example.com or call +1 555-123-4567 now'
               ELSE '' END AS pii_text
           FROM documents),
         e AS (SELECT doc_id,
             len(regexp_extract_all(pii_text, '$emailPat')) AS n_emails,
             regexp_replace(pii_text, '$emailPat', '[EMAIL]', 'g') AS s1
           FROM p),
         sc AS (SELECT doc_id,
             regexp_replace(s1, '$phonePat', '[PHONE]', 'g') AS scrubbed,
             n_emails,
             len(regexp_extract_all(s1, '$phonePat')) AS n_phones
           FROM e)"""
  }

  val oracles: Map[String, String] = Map(
    // same sqrt-flattened weights, same largest-remainder hand-out
    "ta_mix_rebalance" ->
      """WITH cur AS (
           SELECT lang,
             CAST(sum(len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]'))) AS BIGINT)
               AS n_tokens
           FROM documents GROUP BY 1),
         w AS (SELECT lang, n_tokens,
                 CAST(floor(sqrt(CAST(n_tokens AS DOUBLE))) AS BIGINT) AS w
               FROM cur),
         t AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS total,
                      CAST(sum(w) AS BIGINT) AS wt FROM w),
         s AS (SELECT w.lang, w.n_tokens,
                 (t.total * w.w) // t.wt AS fl,
                 (t.total * w.w) % t.wt AS rem,
                 t.total
               FROM w, t),
         q AS (SELECT lang, n_tokens,
                 fl + CASE WHEN CAST(row_number() OVER (ORDER BY rem DESC, lang ASC) AS BIGINT)
                           <= total - CAST(sum(fl) OVER () AS BIGINT)
                      THEN 1 ELSE 0 END AS target_tokens
               FROM s)
         SELECT lang, n_tokens, target_tokens,
                least(1000000, target_tokens * 1000000 // n_tokens) AS keep_ppm,
                n_tokens * least(1000000, target_tokens * 1000000 // n_tokens)
                  // 1000000 AS kept_tokens
         FROM q ORDER BY lang""",
    // same two tokenizers, same integer ppm-per-100-chars ratios
    "ta_fertility" ->
      """WITH t AS (
           SELECT lang, source, n_chars,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS ws,
             CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS BIGINT) AS re
           FROM documents),
         g AS (
           SELECT lang, source, count(*) AS n_docs,
             CAST(sum(n_chars) AS BIGINT) AS n_chars,
             CAST(sum(ws) AS BIGINT) AS n_ws_tokens,
             CAST(sum(re) AS BIGINT) AS n_re_tokens
           FROM t GROUP BY 1, 2)
         SELECT lang, source, n_docs, n_chars, n_ws_tokens, n_re_tokens,
           n_ws_tokens * 100000000 // n_chars AS ws_per_100c_ppm,
           n_re_tokens * 100000000 // n_chars AS re_per_100c_ppm
         FROM g ORDER BY lang, source""",
    // same list-lambda shape: tokenize, count blocklist hits, ppm gate
    "ta_blocklist_filter" ->
      """WITH t AS (
           SELECT doc_id, source,
                  list_filter(string_split_regex(lower(text), ' +'),
                              x -> x <> '') AS toks
           FROM documents),
         m AS (
           SELECT doc_id, source,
                  CAST(len(toks) AS BIGINT) AS n_tokens,
                  CAST(len(list_filter(toks,
                    x -> list_contains(['slow', 'big', 'crash'], x))) AS BIGINT) AS n_hits,
                  CAST(len(list_intersect(list_distinct(toks),
                    ['slow', 'big', 'crash'])) AS BIGINT) AS n_terms_hit
           FROM t)
         SELECT doc_id, source, n_tokens, n_hits, n_terms_hit,
                CASE WHEN n_tokens = 0 THEN 0
                     ELSE n_hits * 1000000 // n_tokens END AS hit_ppm,
                CASE WHEN (CASE WHEN n_tokens = 0 THEN 0
                                ELSE n_hits * 1000000 // n_tokens END) > 60000
                     THEN 'drop' ELSE 'keep' END AS verdict
         FROM m ORDER BY doc_id""",
    // identical two-level audit: exact classes, then the at-risk slice
    // regrouped at (lang, *)
    "ta_k_anonymity" ->
      """WITH g AS (SELECT lang, source, count(*) AS n_docs
                    FROM documents GROUP BY 1, 2),
         risk AS (SELECT lang, source FROM g WHERE n_docs < 5),
         gen AS (SELECT d.lang, count(*) AS n_docs
                 FROM documents d JOIN risk r
                   ON d.lang = r.lang AND d.source = r.source
                 GROUP BY 1)
         SELECT 'exact' AS level, lang, source, n_docs, n_docs < 5 AS at_risk
         FROM g
         UNION ALL
         SELECT 'generalized', lang, '*', n_docs, n_docs < 5 FROM gen
         ORDER BY level, lang, source""",
    // same space-split tokens, same integer rarity ratio and (score desc,
    // token asc) tie-break
    "ta_tfidf_keywords" ->
      """WITH p AS (
           SELECT doc_id, list_filter(string_split(lower(text), ' '),
                                      x -> len(x) > 0) AS t
           FROM documents),
         tok AS (SELECT doc_id, unnest(t) AS token FROM p),
         tf AS (SELECT doc_id, token, count(*) AS tf FROM tok GROUP BY 1, 2),
         df AS (SELECT token, count(*) AS df FROM tf GROUP BY 1),
         s AS (SELECT tf.doc_id, tf.token, tf.tf, df.df,
                      tf.tf * 1000000 // df.df AS score_ppm,
                      CAST(row_number() OVER
                        (PARTITION BY tf.doc_id
                         ORDER BY tf.tf * 1000000 // df.df DESC, tf.token ASC)
                        AS BIGINT) AS rank
               FROM tf JOIN df ON tf.token = df.token)
         SELECT doc_id, token, tf, df, score_ppm, rank
         FROM s WHERE rank <= 3 ORDER BY doc_id, rank""",
    // identical window arithmetic: starts = range(0, n, stride), 1-based
    // inclusive list slice, md5 of the space-joined chunk
    "ta_chunk_documents" ->
      """WITH t AS (SELECT doc_id,
             list_filter(string_split(lower(text), ' '), x -> length(x) > 0) AS ts
           FROM documents),
         n AS (SELECT doc_id, ts, len(ts) AS n FROM t WHERE len(ts) > 0),
         s AS (SELECT doc_id, ts, n, unnest(range(0, n, 48)) AS start FROM n),
         c AS (SELECT doc_id, start, ts[start+1 : start+64] AS chunk FROM s)
         SELECT doc_id, CAST(start // 48 AS BIGINT) AS chunk_id,
                CAST(start AS BIGINT) AS start_tok,
                CAST(len(chunk) AS BIGINT) AS n_tok,
                md5(array_to_string(chunk, ' ')) AS fp
         FROM c ORDER BY doc_id, chunk_id""",
    // identical fit + encode: rank-assigned ids over the 500-token vocab,
    // OOV -> 0, per-doc id sequence reassembled in position order
    "ta_tokenize_ids" ->
      """WITH toks AS (
           SELECT doc_id, tok, pos
           FROM (SELECT doc_id,
                   unnest(string_split(lower(text), ' ')) AS tok,
                   unnest(range(1, len(string_split(lower(text), ' ')) + 1)) AS pos
                 FROM documents)
           WHERE length(tok) > 0),
         vocab AS (
           SELECT tok, row_number() OVER (ORDER BY cnt DESC, tok ASC) AS id
           FROM (SELECT tok, count(*) AS cnt FROM toks GROUP BY 1
                 ORDER BY cnt DESC, tok ASC LIMIT 500)),
         enc AS (
           SELECT t.doc_id, t.pos, coalesce(v.id, 0) AS id0
           FROM toks t LEFT JOIN vocab v ON t.tok = v.tok)
         SELECT doc_id, count(*) AS n_tokens,
                count(CASE WHEN id0 = 0 THEN 1 END) AS n_oov,
                array_to_string((list(id0 ORDER BY pos))[1:16], '-') AS ids_head
         FROM enc GROUP BY doc_id ORDER BY doc_id""",
    "ta_vocab_oov" ->
      """WITH toks AS (
           SELECT doc_id, tok
           FROM (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS tok
                 FROM documents)
           WHERE length(tok) > 0),
         vocab AS (
           SELECT tok FROM (SELECT tok, count(*) AS cnt FROM toks GROUP BY 1)
           ORDER BY cnt DESC, tok ASC LIMIT 500)
         SELECT t.doc_id, count(*) AS n_tokens,
                count(CASE WHEN v.tok IS NULL THEN 1 END) AS n_oov,
                CAST(count(CASE WHEN v.tok IS NULL THEN 1 END) AS DOUBLE)
                  / CAST(count(*) AS DOUBLE) AS oov_rate
         FROM toks t LEFT JOIN vocab v ON t.tok = v.tok
         GROUP BY t.doc_id ORDER BY t.doc_id""",
    // the quality CTE `q` feeds the shared dedup-groups fragment; the
    // final accounting runs over canonical survivors only
    "ta_corpus_pipeline" ->
      s"""WITH RECURSIVE q AS (
           SELECT doc_id, text, lang,
             len(string_split(text, ' ')) AS n_tokens
           FROM documents
           WHERE len(string_split(text, ' ')) >= 10
             AND CAST(len(list_filter(string_split(lower(text), ' '),
                          t -> t IN ('the','a','and'))) AS DOUBLE)
                   / len(string_split(text, ' ')) <= 0.4),
         ${graft.operators.Dedup.dedupGroupsCtesFrom("q")},
         keep AS (SELECT doc_id FROM g WHERE doc_id = group_id),
         b AS (
           SELECT q.lang, q.n_tokens,
             list_reduce([strpos('0123456789abcdef', c) - 1
                          FOR c IN string_split(substr(md5(CAST(q.doc_id AS VARCHAR)), 1, 8), '')],
                         (a, v) -> a * 16 + v) % 100 AS bucket
           FROM q JOIN keep ON q.doc_id = keep.doc_id)
         SELECT lang,
           CASE WHEN bucket < 90 THEN 'train'
                WHEN bucket < 95 THEN 'val' ELSE 'test' END AS split,
           count(*) AS n_docs, CAST(sum(n_tokens) AS BIGINT) AS n_tokens_total
         FROM b GROUP BY 1, 2 ORDER BY lang, split""",
    "ta_pii_scrub" ->
      s"""WITH $piiScrubOracleCte
         SELECT doc_id, scrubbed, n_emails, n_phones FROM sc ORDER BY doc_id""",
    "ta_pii_scrub_summary" ->
      s"""WITH $piiScrubOracleCte
         SELECT count(*) AS n_docs,
           count(CASE WHEN n_emails > 0 THEN 1 END) AS docs_with_email,
           count(CASE WHEN n_phones > 0 THEN 1 END) AS docs_with_phone,
           CAST(sum(n_emails) AS BIGINT) AS n_emails_total,
           CAST(sum(n_phones) AS BIGINT) AS n_phones_total
         FROM sc""",
    "ta_split_assign" ->
      """WITH b AS (
           SELECT doc_id, n_chars,
             list_reduce([strpos('0123456789abcdef', c) - 1
                          FOR c IN string_split(substr(md5(CAST(doc_id AS VARCHAR)), 1, 8), '')],
                         (a, v) -> a * 16 + v) % 100 AS bucket
           FROM documents)
         SELECT CASE WHEN bucket < 90 THEN 'train'
                     WHEN bucket < 95 THEN 'val' ELSE 'test' END AS split,
           count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS n_chars
         FROM b GROUP BY 1 ORDER BY split""",
    "ta_clean_corpus" ->
      """WITH s AS (
           SELECT doc_id, lang, text,
             len(string_split(text, ' ')) AS n_tokens,
             CAST(len(list_filter(string_split(lower(text), ' '),
                      t -> t IN ('the','a','and'))) AS DOUBLE)
               / len(string_split(text, ' ')) AS stop_ratio
           FROM documents),
         f AS (SELECT * FROM s WHERE n_tokens >= 10 AND stop_ratio <= 0.4),
         d AS (SELECT *, row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn FROM f)
         SELECT lang, count(*) AS n_docs, CAST(sum(n_tokens) AS BIGINT) AS n_tokens_total
         FROM d WHERE rn = 1 GROUP BY lang ORDER BY lang""",
    "ta_langid_ngram" ->
      """WITH profile(plang, pword) AS (VALUES
           ('en','the'),('en','a'),('en','fast'),
           ('de','und'),('de','der'),('de','hash'),
           ('es','el'),('es','la'),('es','join'),
           ('fr','le'),('fr','et'),('fr','merge'),
           ('zh','stream'),('zh','scan')),
         t AS (SELECT doc_id, lang, unnest(string_split(lower(text), ' ')) AS tok FROM documents),
         s AS (SELECT doc_id, lang, plang, count(*) AS hits
               FROM t JOIN profile ON tok = pword GROUP BY doc_id, lang, plang),
         r AS (SELECT doc_id, lang, plang, hits,
                 row_number() OVER (PARTITION BY doc_id ORDER BY hits DESC, plang ASC) AS rnk
               FROM s)
         SELECT doc_id, plang AS pred_lang, hits, lang AS actual_lang,
                plang = lang AS correct
         FROM r WHERE rnk = 1 ORDER BY doc_id""",
    // same md5 split buckets, same distinct-8-gram stream per side,
    // same train-dictionary left join and ppm collapse
    "ta_memorization_rate" ->
      """WITH d AS (
           SELECT doc_id, lang, text,
                  list_reduce([strpos('0123456789abcdef', c) - 1
                               FOR c IN string_split(substr(md5(CAST(doc_id AS VARCHAR)), 1, 8), '')],
                              (a, v) -> a * 16 + v) % 100 AS bucket
           FROM documents),
         s AS (SELECT doc_id, lang,
                 CASE WHEN bucket < 90 THEN 'train'
                      WHEN bucket < 95 THEN 'val' ELSE 'test' END AS split,
                 list_filter(string_split(lower(text), ' '), x -> len(x) > 0) AS toks
               FROM d),
         g AS (SELECT doc_id, lang, split,
                 unnest(list_distinct(list_transform(range(1, len(toks) - 6),
                   i -> md5(array_to_string(toks[i : i+7], ' '))))) AS gh
               FROM s WHERE len(toks) >= 8),
         tr AS (SELECT DISTINCT gh FROM g WHERE split = 'train'),
         te AS (SELECT g.lang, g.doc_id, g.gh,
                       CASE WHEN tr.gh IS NULL THEN 0 ELSE 1 END AS hit
                FROM g LEFT JOIN tr ON g.gh = tr.gh
                WHERE g.split = 'test')
         SELECT lang, count(DISTINCT doc_id) AS n_test_docs,
                count(*) AS n_grams,
                CAST(sum(hit) AS BIGINT) AS n_memorized,
                CAST(sum(hit) AS BIGINT) * 1000000 // count(*) AS memorized_ppm
         FROM te GROUP BY lang ORDER BY lang""",
    // same md5-prefix hash bucket (the split_assign decode), same
    // epoch:doc_id seed string
    "ta_epoch_shuffle" ->
      """WITH x AS (
           SELECT doc_id, n_chars, unnest(range(0, 2)) AS epoch
           FROM documents),
         b AS (SELECT epoch, doc_id, n_chars,
                 list_reduce([strpos('0123456789abcdef', c) - 1
                              FOR c IN string_split(substr(md5(
                                CAST(epoch AS VARCHAR) || ':' || CAST(doc_id AS VARCHAR)), 1, 8), '')],
                             (a, v) -> a * 16 + v) % 8 AS batch
               FROM x)
         SELECT CAST(epoch AS BIGINT) AS epoch, CAST(batch AS BIGINT) AS batch,
                count(*) AS n_docs,
                CAST(sum(n_chars) AS BIGINT) AS n_chars,
                CAST(min(doc_id) AS BIGINT) AS min_doc,
                CAST(max(doc_id) AS BIGINT) AS max_doc
         FROM b GROUP BY 1, 2 ORDER BY epoch, batch""",
    // same prediction CTEs, same marginal-product chance term and
    // truncating integer kappa
    "ta_cohens_kappa" ->
      """WITH profile(plang, pword) AS (VALUES
           ('en','the'),('en','a'),('en','fast'),
           ('de','und'),('de','der'),('de','hash'),
           ('es','el'),('es','la'),('es','join'),
           ('fr','le'),('fr','et'),('fr','merge'),
           ('zh','stream'),('zh','scan')),
         t AS (SELECT doc_id, lang, unnest(string_split(lower(text), ' ')) AS tok
               FROM documents),
         s AS (SELECT doc_id, lang, plang, count(*) AS hits
               FROM t JOIN profile ON tok = pword GROUP BY doc_id, lang, plang),
         r AS (SELECT doc_id, plang,
                 row_number() OVER (PARTITION BY doc_id
                   ORDER BY hits DESC, plang ASC) AS rnk
               FROM s),
         fl AS (SELECT d.doc_id, d.lang AS gold,
                       coalesce(r.plang, 'unk') AS pred
                FROM documents d
                LEFT JOIN (SELECT doc_id, plang FROM r WHERE rnk = 1) r
                  ON d.doc_id = r.doc_id),
         cm AS (SELECT gold, pred, CAST(count(*) AS BIGINT) AS n
                FROM fl GROUP BY 1, 2),
         rw AS (SELECT gold AS k, CAST(sum(n) AS BIGINT) AS row_n FROM cm GROUP BY 1),
         cl AS (SELECT pred AS k, CAST(sum(n) AS BIGINT) AS col_n FROM cm GROUP BY 1),
         pe AS (SELECT coalesce(CAST(sum(rw.row_n * cl.col_n) AS BIGINT), 0) AS pe_num
                FROM rw JOIN cl ON rw.k = cl.k),
         ag AS (SELECT CAST(sum(n) AS BIGINT) AS n_docs,
                       CAST(sum(CASE WHEN gold = pred THEN n ELSE 0 END) AS BIGINT) AS n_agree
                FROM cm)
         SELECT ag.n_docs, ag.n_agree,
                ag.n_agree * 1000000 // ag.n_docs AS po_ppm,
                pe.pe_num * 1000000 // (ag.n_docs * ag.n_docs) AS pe_ppm,
                CASE WHEN ag.n_docs * ag.n_docs - pe.pe_num > 0
                     THEN (ag.n_agree * ag.n_docs - pe.pe_num) * 1000000
                            // (ag.n_docs * ag.n_docs - pe.pe_num) END AS kappa_ppm
         FROM ag, pe""",
    // same prediction CTEs, left join for the 'unk' abstention column
    "ta_langid_confusion" ->
      """WITH profile(plang, pword) AS (VALUES
           ('en','the'),('en','a'),('en','fast'),
           ('de','und'),('de','der'),('de','hash'),
           ('es','el'),('es','la'),('es','join'),
           ('fr','le'),('fr','et'),('fr','merge'),
           ('zh','stream'),('zh','scan')),
         t AS (SELECT doc_id, lang, unnest(string_split(lower(text), ' ')) AS tok
               FROM documents),
         s AS (SELECT doc_id, lang, plang, count(*) AS hits
               FROM t JOIN profile ON tok = pword GROUP BY doc_id, lang, plang),
         r AS (SELECT doc_id, plang,
                 row_number() OVER (PARTITION BY doc_id
                   ORDER BY hits DESC, plang ASC) AS rnk
               FROM s),
         fl AS (SELECT d.doc_id, d.lang AS actual_lang,
                       coalesce(r.plang, 'unk') AS pred
                FROM documents d
                LEFT JOIN (SELECT doc_id, plang FROM r WHERE rnk = 1) r
                  ON d.doc_id = r.doc_id),
         cm AS (SELECT actual_lang, pred, CAST(count(*) AS BIGINT) AS n
                FROM fl GROUP BY 1, 2),
         rt AS (SELECT actual_lang, CAST(sum(n) AS BIGINT) AS row_total
                FROM cm GROUP BY 1)
         SELECT cm.actual_lang, cm.pred AS pred_lang, cm.n, rt.row_total,
                CAST(cm.n * 1000000 // rt.row_total AS BIGINT) AS cell_ppm,
                cm.actual_lang = cm.pred AS is_correct
         FROM cm JOIN rt USING (actual_lang)
         ORDER BY actual_lang, pred_lang""",
    "ta_quality_score" ->
      """WITH b AS (
           SELECT doc_id, n_chars,
             len(string_split(text, ' ')) AS n_tokens,
             len(list_filter(string_split(lower(text), ' '),
                             t -> t IN ('the','a','and'))) AS n_stop
           FROM documents)
         SELECT doc_id, n_tokens, n_stop,
           CAST(n_stop AS DOUBLE) / n_tokens AS stop_ratio,
           CAST(n_chars - (n_tokens - 1) AS DOUBLE) / n_tokens AS avg_token_len,
           greatest(0.0, least(100.0,
             100.0 - 120.0 * abs(CAST(n_stop AS DOUBLE) / n_tokens - 0.18)
                   - 8.0 * abs(CAST(n_chars - (n_tokens - 1) AS DOUBLE) / n_tokens - 4.5))) AS quality_score
         FROM b ORDER BY doc_id""",
    // independent derivation of the run-length fold: per-gram counts via
    // unnest + GROUP BY, mode = max(count), dup = sum of counts >= 2
    "ta_repetition_filter" ->
      """WITH tk AS (SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents),
         base AS (SELECT doc_id, len(t) AS n_ws, len(list_distinct(t)) AS nd,
             CASE WHEN len(t) >= 2
               THEN list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i+1])
               ELSE [] END AS bi,
             CASE WHEN len(t) >= 5
               THEN list_transform(range(1, len(t) - 3),
                      i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' || t[i+3] || ' ' || t[i+4])
               ELSE [] END AS g5
           FROM tk),
         bic AS (SELECT doc_id, g, count(*) AS c
                 FROM (SELECT doc_id, unnest(bi) AS g FROM base) GROUP BY 1, 2),
         bia AS (SELECT doc_id, max(c) AS maxc FROM bic GROUP BY 1),
         g5c AS (SELECT doc_id, g, count(*) AS c
                 FROM (SELECT doc_id, unnest(g5) AS g FROM base) GROUP BY 1, 2),
         g5a AS (SELECT doc_id,
                   CAST(coalesce(sum(c) FILTER (WHERE c >= 2), 0) AS BIGINT) AS dupc
                 FROM g5c GROUP BY 1),
         m AS (SELECT b.doc_id, CAST(b.n_ws AS BIGINT) AS n_ws,
             CAST(CASE WHEN len(b.bi) = 0 THEN 0
               ELSE coalesce(bia.maxc, 0) * 1000000 // len(b.bi) END AS BIGINT) AS top2gram_ppm,
             CAST(CASE WHEN len(b.g5) = 0 THEN 0
               ELSE coalesce(g5a.dupc, 0) * 1000000 // len(b.g5) END AS BIGINT) AS dup5gram_ppm,
             CAST(CASE WHEN b.n_ws = 0 THEN 0
               ELSE (b.n_ws - b.nd) * 1000000 // b.n_ws END AS BIGINT) AS dup_token_ppm
           FROM base b LEFT JOIN bia USING (doc_id) LEFT JOIN g5a USING (doc_id))
         SELECT doc_id, n_ws, top2gram_ppm, dup5gram_ppm, dup_token_ppm,
           (top2gram_ppm <= 200000 AND dup5gram_ppm <= 150000
             AND dup_token_ppm <= 600000) AS keep
         FROM m ORDER BY doc_id""",
    "ta_token_count" ->
      """SELECT doc_id, n_chars,
           len(string_split(text, ' ')) AS n_ws_tokens,
           len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS n_re_tokens
         FROM documents ORDER BY doc_id""",
    "ta_fingerprint" ->
      """SELECT doc_id,
           md5(array_to_string(list_sort(list_distinct(string_split(lower(text), ' '))), ' ')) AS fp
         FROM documents ORDER BY doc_id""",
    // the persisted-index variant must return IDENTICAL rows — same
    // tokenization, same integer scoring, computed at build time — so
    // it shares the scan-time oracle verbatim
    "ta_bm25_persisted" -> bm25Oracle,
    // incremental base+delta serving must equal the full-corpus answer
    // (same tf/dl/df/stats arithmetic), so it shares the oracle verbatim
    "ta_bm25_incremental" -> bm25Oracle,
    "ta_bm25_topk" -> bm25Oracle,
    "ta_query_expansion" -> queryExpansionOracle,
    "ta_hybrid_rrf" -> hybridRrfOracle,
    // hashed linear classifier: the md5-hex→int bucket is the same
    // list_reduce pattern as ta_split_assign; bigrams are t[i]||' '||
    // t[i+1] over 1-based lists = Spark's toks[i-1],toks[i] 0-based
    "ta_quality_classifier" ->
      """WITH tk AS (SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents),
         uni AS (SELECT doc_id, unnest(list_filter(t, x -> len(x) > 0)) AS feat FROM tk),
         bi AS (SELECT doc_id,
                  unnest(list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i+1])) AS feat
                FROM tk WHERE len(t) >= 2),
         f AS (SELECT * FROM uni UNION ALL SELECT * FROM bi),
         w AS (SELECT doc_id,
                 ((list_reduce([strpos('0123456789abcdef', c) - 1
                                FOR c IN string_split(substr(md5(feat), 1, 8), '')],
                               (a, v) -> a * 16 + v) % 4096)
                  * 2654435761) % 2001 - 1000 AS w
               FROM f),
         pd AS (SELECT doc_id, count(*) AS n_feats,
                       CAST(sum(w) AS BIGINT) AS margin
                FROM w GROUP BY doc_id)
         SELECT tk.doc_id AS doc_id,
                CAST(coalesce(pd.n_feats, 0) AS BIGINT) AS n_feats,
                CAST(coalesce(pd.margin, 0) AS BIGINT) AS margin,
                coalesce(pd.margin, 0) > 0 AS keep
         FROM tk LEFT JOIN pd ON tk.doc_id = pd.doc_id
         ORDER BY 1""",
  ) ++ invertedOracles

  /** CTE fragment: the full BM25 scoring pipeline ending at
    * `r(q_id, doc_id, score, rnk)` — shared by [[bm25Oracle]] and the
    * hybrid-RRF fusion oracle so the lexical half cannot drift. */
  private lazy val bm25Ctes: String =
      s"""bench(i, sent) AS (VALUES ${CorpusOps.benchValues}),
           qt AS (SELECT DISTINCT CAST(i AS BIGINT) AS q_id,
                    unnest(string_split(lower(sent), ' ')) AS token FROM bench),
           tok AS (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS token
                   FROM documents),
           tokf AS (SELECT doc_id, token FROM tok WHERE len(token) > 0),
           tf AS (SELECT doc_id, token, count(*) AS tf FROM tokf GROUP BY 1, 2),
           dl AS (SELECT doc_id, count(*) AS dl FROM tokf GROUP BY 1),
           st AS (SELECT count(*) AS n_docs, CAST(sum(dl) AS BIGINT) AS total_len FROM dl),
           dfq AS (SELECT token, count(*) AS df FROM tf
                   WHERE token IN (SELECT token FROM qt) GROUP BY 1),
           sc AS (SELECT q.q_id, t.doc_id,
                    CAST(round(((CAST(st.n_docs AS DOUBLE) - CAST(d.df AS DOUBLE) + 0.5)
                        / (CAST(d.df AS DOUBLE) + 0.5))
                      * (CAST(t.tf AS DOUBLE) / (CAST(t.tf AS DOUBLE)
                        + 1.2 * (0.25 + 0.75 * (CAST(l.dl AS DOUBLE)
                          / (CAST(st.total_len AS DOUBLE) / CAST(st.n_docs AS DOUBLE))))))
                      * 1000000.0) AS BIGINT) AS score_micro
                  FROM tf t JOIN qt q ON t.token = q.token
                  JOIN dfq d ON t.token = d.token
                  JOIN dl l ON t.doc_id = l.doc_id
                  CROSS JOIN st),
           agg AS (SELECT q_id, doc_id, CAST(sum(score_micro) AS BIGINT) AS score
                   FROM sc GROUP BY 1, 2),
           r AS (SELECT q_id, doc_id, score,
                   row_number() OVER (PARTITION BY q_id ORDER BY score DESC, doc_id ASC) AS rnk
                 FROM agg)"""

  private lazy val bm25Oracle: String =
    s"""WITH $bm25Ctes
         SELECT q_id, rnk, doc_id, score AS score_micro FROM r
         WHERE rnk <= 5 ORDER BY q_id, rnk"""

  /** Rocchio oracle: round-1 CTEs verbatim, the same rarity-ranked
    * expansion pick, then the scoring chain replayed over qt ∪ ex. */
  private lazy val queryExpansionOracle: String =
    s"""WITH $bm25Ctes,
         fb AS (SELECT q_id, doc_id FROM r WHERE rnk <= 5),
         fbtf AS (
           SELECT f.q_id, t.token, CAST(sum(t.tf) AS BIGINT) AS tf_fb
           FROM fb f JOIN tf t ON f.doc_id = t.doc_id
           LEFT JOIN qt q2 ON q2.q_id = f.q_id AND q2.token = t.token
           WHERE q2.token IS NULL
           GROUP BY 1, 2),
         dfall AS (SELECT token, count(*) AS df FROM tf
                   WHERE token IN (SELECT DISTINCT token FROM fbtf) GROUP BY 1),
         ex AS (SELECT q_id, token FROM (
                  SELECT f.q_id, f.token,
                    row_number() OVER (PARTITION BY f.q_id
                      ORDER BY f.tf_fb * 1000000 // d.df DESC, f.token ASC) AS rn
                  FROM fbtf f JOIN dfall d ON f.token = d.token) WHERE rn <= 3),
         qt2 AS (SELECT q_id, token FROM qt UNION SELECT q_id, token FROM ex),
         dfq2 AS (SELECT token, count(*) AS df FROM tf
                  WHERE token IN (SELECT DISTINCT token FROM qt2) GROUP BY 1),
         sc2 AS (SELECT q.q_id, t.doc_id,
                  CAST(round(((CAST(st.n_docs AS DOUBLE) - CAST(d.df AS DOUBLE) + 0.5)
                      / (CAST(d.df AS DOUBLE) + 0.5))
                    * (CAST(t.tf AS DOUBLE) / (CAST(t.tf AS DOUBLE)
                      + 1.2 * (0.25 + 0.75 * (CAST(l.dl AS DOUBLE)
                        / (CAST(st.total_len AS DOUBLE) / CAST(st.n_docs AS DOUBLE))))))
                    * 1000000.0) AS BIGINT) AS score_micro
                FROM tf t JOIN qt2 q ON t.token = q.token
                JOIN dfq2 d ON t.token = d.token
                JOIN dl l ON t.doc_id = l.doc_id
                CROSS JOIN st),
         agg2 AS (SELECT q_id, doc_id, CAST(sum(score_micro) AS BIGINT) AS score
                  FROM sc2 GROUP BY 1, 2),
         r2 AS (SELECT q_id, doc_id, score,
                  row_number() OVER (PARTITION BY q_id ORDER BY score DESC, doc_id ASC) AS rnk
                FROM agg2)
         SELECT q_id, rnk, doc_id, score AS score_micro FROM r2
         WHERE rnk <= 5 ORDER BY q_id, rnk"""

  /** Hybrid-retrieval fusion oracle: the shared BM25 CTEs (lexical
    * ranks) + the shared exact-vector CTEs from Similarity (vector
    * ranks, probe bound = the 3 benchmark queries), fused by
    * reciprocal-rank contributions in pure integer arithmetic. */
  private lazy val hybridRrfOracle: String =
    s"""WITH $bm25Ctes,
         ${graft.operators.Similarity.annMultiVecCtes(3)},
         lex AS (SELECT q_id, doc_id, 1000000 // (60 + rnk) AS c
                 FROM r WHERE rnk <= 5),
         vec AS (SELECT q_id, vec_id AS doc_id, 1000000 // (60 + rnk) AS c
                 FROM vr WHERE rnk <= 5),
         u AS (SELECT * FROM lex UNION ALL SELECT * FROM vec),
         f AS (SELECT q_id, doc_id, CAST(sum(c) AS BIGINT) AS rrf
               FROM u GROUP BY 1, 2),
         fr AS (SELECT q_id, doc_id, rrf,
                  row_number() OVER (PARTITION BY q_id ORDER BY rrf DESC, doc_id ASC) AS rnk
                FROM f)
         SELECT q_id, rnk, doc_id, rrf AS rrf_micro FROM fr
         WHERE rnk <= 5 ORDER BY q_id, rnk"""

  // lazy: referenced by `oracles` above its declaration (object vals
  // initialize in declaration order)
  private lazy val invertedOracles: Map[String, String] = Map(
    "ta_inverted_index" ->
      """WITH tok AS (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS token
                      FROM documents),
           td AS (SELECT DISTINCT doc_id, token FROM tok WHERE len(token) > 0),
           r AS (SELECT token, doc_id,
                   row_number() OVER (PARTITION BY token ORDER BY doc_id) AS rn
                 FROM td)
         SELECT token, count(*) AS df,
           string_agg(CASE WHEN rn <= 8 THEN CAST(doc_id AS VARCHAR) END, ','
                      ORDER BY doc_id) AS postings
         FROM r GROUP BY token ORDER BY token""",
  )
}
