package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.Tables

/** Multimodal (binary) column plumbing (builder brief): images/audio/video
  * are opaque `binary` columns plus typed metadata; decode / feature
  * extraction runs per-partition over batches.
  *
  * The container has no codec libraries, so [[decodeStub]] is a
  * clearly-marked deterministic fake — the Spark-side contract (schema,
  * binary handling, per-partition batching, deterministic output) is the
  * real, tested part. At scale: binary payloads ride in their own column
  * (parquet keeps them out of unrelated scans via column pruning), and
  * decode parallelism is per-partition with no shuffle.
  */
object Multimodal {

  /** Materialize a binary column + metadata from text payloads —
    * stand-in for reading image/audio bytes (`binaryFile` format in
    * production; reference stores profile JPEGs per creator,
    * insta_scraper_enhanced.py:395-432). */
  def binaryized(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .withColumn("payload", encode(col("text"), "UTF-8"))
      .withColumn("media_type", lit("text/plain"))

  /** O-11 real binary ingestion: one profile JPEG per creator directory
    * (reference insta_scraper_enhanced.py:395-432 stores
    * `output/<user>/<user>.jpg`). `binaryFile` is the production path for
    * opaque media: the scan carries (path, length, content) and prunes
    * `content` when only metadata is selected. The creator key comes from
    * the directory name, mirroring [[graft.ig.Instagram]]'s layout. */
  def profilePictures(spark: SparkSession, root: String): DataFrame =
    spark.read.format("binaryFile")
      .option("pathGlobFilter", "*.jpg")
      .load(s"$root/*")
      .select(
        regexp_extract(col("path"), ".*/([^/]+)/[^/]+\\.jpg$", 1).as("creator_key"),
        col("length").as("n_bytes"),
        sha2(col("content"), 256).as("sha256"),
        lower(hex(expr("substring(content, 1, 4)"))).as("magic_hex"),
        col("content").as("payload"))

  /** O-11 binary SINK: write each creator's payload to
    * `outDir/<creator>/<creator>.jpg` — the reference's storage layout
    * (insta_scraper_enhanced.py:395-432, chunked write per creator).
    * Executed with foreachPartition so executors write their partitions
    * in parallel and nothing funnels through the driver; with the
    * [[profilePictures]] scan this closes the binary round-trip
    * (scan → transform → store). Idempotent: rewriting a creator's file
    * overwrites it, so task retries are safe. */
  def writeProfilePictures(df: DataFrame, outDir: String): Unit =
    df.select("creator_key", "payload").foreachPartition {
      rows: Iterator[org.apache.spark.sql.Row] =>
        rows.foreach { r =>
          val creator = r.getString(0)
          val d = new java.io.File(outDir, creator)
          d.mkdirs()
          java.nio.file.Files.write(
            new java.io.File(d, s"$creator.jpg").toPath, r.getAs[Array[Byte]](1))
        }
    }

  /** Oracle-checkable binary metadata extraction: byte length, SHA-256,
    * leading-bytes signature ("magic number" probe). */
  def binaryMeta(spark: SparkSession, dir: String): DataFrame =
    binaryized(spark, dir)
      .select(
        col("doc_id"),
        length(col("payload")).as("n_bytes"),
        sha2(col("payload"), 256).as("sha256"),
        lower(hex(expr("substring(payload, 1, 4)"))).as("magic_hex"))
      .orderBy("doc_id")

  /** Decode step. JPEG payloads get REAL dimensions — parsed from the
    * SOF segment header by the codegen'd [[graft.functions.JpegDims]]
    * expression (pure byte-walking, ITU T.81 §B.2.2; no codec library
    * needed). Non-JPEG payloads (e.g. the text stand-ins from
    * [[binaryized]]) fall back to deterministic synthetic dims derived
    * from the payload hash, since this container has no image/audio
    * codecs — that branch is the clearly-marked stand-in; the schema,
    * batching and partition layout around it are real either way.
    * Still one codegen'd projection per row, no UDF, no shuffle. */
  val decodedSchema = "struct<width:int,height:int,n_frames:int>"
  def decode(df: DataFrame): DataFrame = {
    import graft.functions.JpegDims.jpegDims
    df.withColumn("jpeg_packed", jpegDims(col("payload")))
      .withColumn("decoded", expr(
        """CASE WHEN jpeg_packed >= 0 THEN named_struct(
             'width',    cast(shiftright(jpeg_packed, 32) as int),
             'height',   cast(jpeg_packed & 4294967295 as int),
             'n_frames', 1)
           ELSE named_struct(
             'width',    16 + pmod(cast(conv(substring(md5(payload), 1, 4), 16, 10) as int), 1024),
             'height',   16 + pmod(cast(conv(substring(md5(payload), 5, 4), 16, 10) as int), 1024),
             'n_frames', 1 + pmod(cast(conv(substring(md5(payload), 9, 2), 16, 10) as int), 32))
           END"""))
      .drop("jpeg_packed")
  }

  /** Frame-sampling over the stubbed decode: one row per sampled frame —
    * the explode pattern a video pipeline uses (sample every k-th frame). */
  def frameSample(df: DataFrame, everyK: Int): DataFrame =
    df.withColumn("frame_idx",
      explode(sequence(lit(0), col("decoded.n_frames") - 1, lit(everyK))))

  /** Resize stage: REAL for decodable payloads (r11 verdict #4 — no
    * stub on the decodable branch): [[graft.functions.JpegResize]] runs
    * the actual decode → nearest-neighbor bounding-box downscale →
    * re-encode chain, and the output dims are re-PARSED from the
    * resized payload's SOF header, not computed. The arithmetic
    * bounding-box fallback survives ONLY for payloads no codec accepts
    * (the text stand-ins) — it clamps the synthetic dims, preserving
    * aspect, so the pipeline shape is uniform either way. */
  def resize(df: DataFrame, maxSide: Int = 256, quality: Int = 90): DataFrame = {
    import graft.functions.ImageOps._
    import graft.functions.JpegDims.jpegDims
    df.withColumn("resized_payload",
        jpegResize(col("payload"), lit(maxSide), lit(quality)))
      .withColumn("rp", jpegDims(col("resized_payload")))
      .withColumn("resized", expr(
        s"""CASE WHEN rp IS NOT NULL AND rp >= 0 THEN named_struct(
              'width',  cast(shiftright(rp, 32) as int),
              'height', cast(rp & 4294967295 as int))
            WHEN greatest(decoded.width, decoded.height) <= $maxSide THEN
              named_struct('width', decoded.width, 'height', decoded.height)
            ELSE named_struct(
              'width',  greatest(1, cast(decoded.width  * $maxSide / greatest(decoded.width, decoded.height) as int)),
              'height', greatest(1, cast(decoded.height * $maxSide / greatest(decoded.width, decoded.height) as int)))
            END"""))
      .drop("rp")
  }

  /** Feature stage: REAL for decodable payloads (r11 verdict #4) — the
    * 66-dim quantized coarse-luma grid ([[graft.functions.JpegGrid]])
    * pooled from the ACTUAL pixels, as floats; the md5-derived
    * `fallbackDims`-wide vector survives only for payloads no codec
    * accepts. */
  def features(df: DataFrame, fallbackDims: Int = 8): DataFrame = {
    import graft.functions.ImageOps._
    df.withColumn("gb", jpegGrid(col("payload")))
      .withColumn("features", coalesce(
        expr("transform(gb, b -> cast(b as float))"),
        expr(
          s"""transform(sequence(1, $fallbackDims), i ->
             cast(cast(conv(substring(md5(payload), i * 2, 4), 16, 10) as int) / 65535.0 as float))""")))
      .drop("gb")
  }

  /** The composed media pipeline decode → resize → frame-sample as ONE
    * oracle-gated query: per sampled frame, the decoded dims, the
    * bounding-boxed dims, and the frame index. Over the text stand-in
    * payloads every row takes [[decode]]'s deterministic synthetic
    * branch and [[resize]]'s arithmetic fallback, which a DuckDB oracle
    * can replay from md5(payload) — the REAL pixel branches are
    * oracle-gated by `mm_pixel_resized`/`mm_pixel_features` (synth→parse)
    * and spec-gated against ImageIO over the reference photos. Still a
    * single codegen'd projection + one explode per row: no UDF, no
    * shuffle, linear in payload count. */
  def decodeResizeFrames(spark: SparkSession, dir: String): DataFrame =
    frameSample(resize(decode(binaryized(spark, dir))), everyK = 4)
      .select(
        col("doc_id"),
        col("decoded.width").as("width"),
        col("decoded.height").as("height"),
        col("decoded.n_frames").as("n_frames"),
        col("resized.width").as("r_width"),
        col("resized.height").as("r_height"),
        col("frame_idx"))
      .orderBy("doc_id", "frame_idx")

  /** The composed decode → resize → frame-sample pipeline over REAL
    * mixed containers (r12 verdict #6 — [[decodeResizeFrames]] gates the
    * pipeline SHAPE over text stand-ins; this gates it end-to-end on
    * real bytes): the [[mediaRouter]] corpus (REAL ImageIO JPEG / PCM
    * WAV / ImageIO PNG per doc_id % 3), each payload routed by PARSING:
    *
    *  - images (JPEG + PNG): dims from the codegen'd container walkers,
    *    then the REAL [[graft.functions.JpegResize]] decode →
    *    nearest-downscale-to-44 → JPEG re-encode, with the resized dims
    *    re-PARSED from the resized payload's SOF — never computed from
    *    the input dims;
    *  - audio (WAV): rate/duration parsed from the RIFF header; frames
    *    are 10 ms windows (`n_frames = 1 + duration_ms div 10`), the
    *    frame-sample explode running every 4th window.
    *
    * There is NO fallback branch anywhere in this query: `real_branch`
    * is true only when every leg parsed (container identified AND, for
    * images, the resized payload's SOF re-parsed), and the oracle pins
    * it `true` on every row — a single payload falling back hash-fails
    * the gate (fallback rows = 0, pinned). One codegen'd projection +
    * one explode per row; shuffles = [[spreadDocs]]'s parallelism guard
    * + the presentation sort. */
  def decodeResizeFramesReal(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.ImageOps._
    import graft.functions.PngOps._
    import graft.functions.WavMeta.wavMeta
    import graft.functions.JpegDims.jpegDims
    mixedMediaPayloads(spark, dir)
      .withColumn("jp", jpegDims(col("payload")))
      .withColumn("wv", wavMeta(col("payload")))
      .withColumn("pg", pngMeta(col("payload")))
      .withColumn("media_type", expr(
        """CASE WHEN jp >= 0 THEN 'image/jpeg'
                WHEN wv >= 0 THEN 'audio/wav'
                WHEN pg >= 0 THEN 'image/png'
                ELSE 'unknown' END"""))
      // the real resize chain runs only on the image rows (CASE keeps
      // the codec expression lazy per row); dims re-parsed from the
      // resized payload
      .withColumn("rzp", expr(
        "CASE WHEN jp >= 0 OR pg >= 0 THEN 1 END"))
      .withColumn("rp",
        when(col("rzp") === 1,
          jpegDims(jpegResize(col("payload"), lit(44), lit(90)))))
      .withColumn("width", expr(
        """CASE WHEN jp >= 0 THEN shiftright(jp, 32)
                WHEN pg >= 0 THEN shiftright(pg, 40) END""").cast("long"))
      .withColumn("height", expr(
        """CASE WHEN jp >= 0 THEN jp & 4294967295
                WHEN pg >= 0 THEN shiftright(pg, 16) & 16777215 END""").cast("long"))
      .withColumn("n_frames", expr(
        """CASE WHEN wv >= 0 THEN cast(1 + (wv & 4294967295) div 10 as int)
                ELSE 1 END"""))
      .withColumn("r_width",
        when(col("rp").isNotNull && col("rp") >= 0,
          expr("shiftright(rp, 32)")).cast("long"))
      .withColumn("r_height",
        when(col("rp").isNotNull && col("rp") >= 0,
          expr("rp & 4294967295")).cast("long"))
      .withColumn("real_branch", expr(
        """CASE WHEN wv >= 0 THEN true
                WHEN (jp >= 0 OR pg >= 0) THEN rp IS NOT NULL AND rp >= 0
                ELSE false END"""))
      .withColumn("frame_idx",
        explode(sequence(lit(0), col("n_frames") - 1, lit(4))))
      .select(col("doc_id"), col("media_type"), col("width"), col("height"),
        col("n_frames"), col("r_width"), col("r_height"), col("real_branch"),
        col("frame_idx"))
      .orderBy("doc_id", "frame_idx")
  }

  /** Byte-level SimHash signature per payload: distinct byte 4-grams
    * (as hex strings, so both engines hash the identical token text) →
    * `bits`-wide SimHash. No codec needed — the signature reads the raw
    * bytes, so it works on ANY binary payload (JPEG, audio, the text
    * stand-ins) and a few flipped bytes only flip a few signature bits.
    *
    * Grams are STRIDED (step 4, non-overlapping) over a bounded payload
    * prefix (`maxBytes`): overlapping per-byte grams cost 4× the md5
    * work for the same in-place-perturbation sensitivity (a flipped byte
    * flips one gram either way, just out of 4× fewer), and an unbounded
    * signature over multi-MB media payloads would make the cost track
    * payload size instead of corpus size — prefix-sampling is the
    * standard fingerprinting move. The tradeoff: strided grams are not
    * shift-robust (an insertion re-aligns every later gram), which
    * byte-level near-dup does not promise anyway — format-aware dedup
    * (re-encodes, crops) needs the decode path, not byte grams. */
  def byteSimhash(bin: DataFrame, bits: Int = 60,
                  stride: Int = 4, maxBytes: Int = 65536): DataFrame =
    bin
      .filter(length(col("payload")) >= 4)
      .withColumn("hx", lower(hex(substring(col("payload"), 1, maxBytes))))
      .withColumn("grams", array_distinct(expr(
        s"""transform(sequence(0, least(cast(length(payload) as int), $maxBytes) - 4, $stride),
              i -> substring(hx, i*2+1, 8))""")))
      .withColumn("simhash", graft.functions.MinHash.simhashSig(col("grams"), bits))
      .select("doc_id", "simhash")

  /** Image/binary NEAR-DUP pairs: [[byteSimhash]] feeding the same
    * k+1-band hamming pigeonhole join as the text dedup family
    * ([[Dedup.hammingPairsOfSigs]]) — candidates only from band-bucket
    * collisions, shuffle-bounded, never all-pairs. The multimodal column
    * gets the same near-dup query as every other modality: a JPEG and a
    * few-bytes-perturbed copy of itself land within hamming ≤ k.
    *
    * Default-k CONTRACT (intentional, pinned by MultimodalSpec): under
    * the strided-gram geometry each flipped byte changes ONE gram
    * (≈2 signature bits of vote shift), so k=3 pairs payloads differing
    * by 1-2 in-place byte tweaks; size k ≈ 2× the expected flipped-byte
    * count for larger perturbations (the 3-byte spec case uses k=6).
    * Payloads identical only in the first `maxBytes` also pair — the
    * documented prefix-sampling trade, same as any fingerprinting
    * scheme that doesn't read the full payload. */
  def byteNearDupPairsOf(bin: DataFrame, k: Int = 3, bits: Int = 60): DataFrame =
    Dedup.hammingPairsOfSigs(byteSimhash(bin, bits), k, bits, bucketLocal = true)

  /** [[byteNearDupPairsOf]] over the binaryized documents payloads, with
    * the byte-gram signatures persisted per (session, corpus)
    * ([[graft.sources.IndexStore]]): the signature derivation (hex +
    * strided grams + 60-bit SimHash over 64 KB prefixes) dominates the
    * query, and it is pure per-payload state — exactly the artifact an
    * ingest pipeline materializes once and appends to, not something to
    * re-derive per run. */
  def byteNearDupPairs(spark: SparkSession, dir: String): DataFrame = {
    val sigs = graft.sources.IndexStore.orBuild(spark, dir, "mm_sig", 32, Seq("doc_id"))(
      byteSimhash(binaryized(spark, dir).select("doc_id", "payload")))
    Dedup.hammingPairsOfSigs(sigs, k = 3, bits = 60, bucketLocal = true)
  }

  /** Multimodal NEAR-DUP GROUPS — the transitive closure the pair query
    * stops short of: byte-signature hamming pairs → connected components
    * → keep-set (doc_id, group_id, group_size, is_canonical), so a chain
    * of perturbed copies (a≈b, b≈c) collapses to ONE canonical payload.
    * Every modality now ends in the same keep-set contract as the text
    * ([[Dedup.dedupGroups]]) and embedding
    * ([[Similarity.embeddingDedupGroups]]) families. Both the signatures
    * AND the group labels are IndexStore-persisted per corpus — pair
    * derivation and the components fixpoint run once at ingest. */
  def byteDedupGroups(spark: SparkSession, dir: String): DataFrame = {
    import graft.sources.IndexStore
    import org.apache.spark.sql.expressions.Window
    val groups = IndexStore.orBuild(spark, dir, "mm_groups", 32, Seq("doc_id"))({
      val sigs = IndexStore.orBuild(spark, dir, "mm_sig", 32, Seq("doc_id"))(
        byteSimhash(binaryized(spark, dir).select("doc_id", "payload")))
      val pairs = Dedup.hammingPairsOfSigs(sigs, k = 3, bits = 60, bucketLocal = true)
        .select("doc_a", "doc_b")
      Dedup.connectedComponents(sigs.select(col("doc_id").as("node")), pairs)
        .withColumn("group_size", count(lit(1)).over(Window.partitionBy("group_id")))
        .withColumn("is_canonical", col("node") === col("group_id"))
        .select(col("node").as("doc_id"), col("group_id"),
          col("group_size"), col("is_canonical"))
    })
    groups.select("doc_id", "group_id", "group_size", "is_canonical")
      .orderBy("doc_id")
  }

  /** IMAGE–TEXT PAIR CURATION — the LAION-style admission funnel for
    * contrastive (CLIP-style) training pairs, composed from the
    * engine's own gates: per pair, the TEXT side must pass the
    * clean-corpus quality rule (≥10 tokens, stopword ratio ≤ 0.4), the
    * IMAGE side the size/aspect rule (both dims ≥ 64, aspect ≤ 4:1 on
    * the stubbed decode), and exact payload duplicates (same sha) keep
    * only their lowest doc_id. Disposition is a priority cascade
    * (text_fail → image_fail → dup → kept) so every pair lands in
    * exactly one bucket; reported per language with kept_ppm.
    *
    * Scale: decode + both gates are one codegen'd projection; dedup
    * ranks within sha over pairs that survived the gates (window keys
    * are content hashes — high cardinality, no skew); the collapse is a
    * |langs|-bounded agg. One corpus scan, one hash shuffle. */
  def pairCuration(spark: SparkSession, dir: String): DataFrame =
    pairCurationOf(Tables.documents(spark, dir))

  /** [[pairCuration]] over any documents-shaped frame (spec entry). */
  private[graft] def pairCurationOf(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val decoded = decode(docs
      .withColumn("payload", encode(col("text"), "UTF-8"))
      .withColumn("media_type", lit("text/plain")))
      .withColumn("sha", sha2(col("payload"), 256))
      .withColumn("n_tokens", size(split(col("text"), " ")))
      .withColumn("stop_ok", expr(
        """CAST(size(filter(split(lower(text), ' '), t -> t IN ('the','a','and'))) AS DOUBLE)
           / size(split(text, ' ')) <= 0.4"""))
      .withColumn("text_ok", col("n_tokens") >= 10 && col("stop_ok"))
      .withColumn("image_ok", expr(
        """decoded.width >= 64 AND decoded.height >= 64 AND
           greatest(decoded.width, decoded.height) <=
             4 * least(decoded.width, decoded.height)"""))
    // rank only PASSING pairs within a sha (a failed pair sharing the
    // hash must not displace the keeper): running count of passers
    val rn = Window.partitionBy("sha").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    decoded
      .withColumn("rn_pass",
        sum(when(col("text_ok") && col("image_ok"), 1L).otherwise(0L)).over(rn))
      .withColumn("disposition",
        when(!col("text_ok"), lit("text_fail"))
          .when(!col("image_ok"), lit("image_fail"))
          .when(col("rn_pass") > 1, lit("dup"))
          .otherwise(lit("kept")))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_pairs"),
        expr("CAST(sum(CASE WHEN disposition = 'text_fail' THEN 1 ELSE 0 END) AS BIGINT)").as("n_text_fail"),
        expr("CAST(sum(CASE WHEN disposition = 'image_fail' THEN 1 ELSE 0 END) AS BIGINT)").as("n_image_fail"),
        expr("CAST(sum(CASE WHEN disposition = 'dup' THEN 1 ELSE 0 END) AS BIGINT)").as("n_dup"),
        expr("CAST(sum(CASE WHEN disposition = 'kept' THEN 1 ELSE 0 END) AS BIGINT)").as("n_kept"))
      .withColumn("kept_ppm", expr("n_kept * 1000000 div n_pairs"))
      .orderBy("lang")
  }

  /** FRAME-LEVEL DEDUP AUDIT — cross-video duplicate frame detection:
    * sample every frame ([[frameSample]] k=1 over the stubbed
    * [[decode]]), bucket each frame by a perceptual-hash stand-in (a
    * 9-bit truncation of the frame content hash — real pipelines use
    * pHash/videohash bucketing exactly this way, the truncation width
    * just mimics perceptual collision rates on synthetic payloads; the
    * `% 8` folds model a video's looped frames), and report the
    * buckets shared by ≥2 videos: the candidate set a frame-dedup pass
    * would verify. Top 50 by frame mass with a full deterministic tie
    * order.
    *
    * Scale: decode + frame explode + bucket hash are all map-side
    * (explode bounded by n_frames ≤ 32); ONE groupBy on the bucket key;
    * TakeOrderedAndProject for the limit. The Spark-side plumbing —
    * schema, explode shape, partitioning — is the real deliverable; the
    * perceptual hash is the clearly-marked stub this container imposes
    * (no codec libraries). */
  def frameDedup(spark: SparkSession, dir: String): DataFrame =
    frameSample(decode(binaryized(spark, dir)), everyK = 1)
      .select(col("doc_id"),
        expr("""CAST(conv(substring(md5(concat(md5(payload), '-',
                 CAST(frame_idx % 8 AS STRING))), 1, 4), 16, 10) AS BIGINT) % 512""")
          .as("bucket"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n_frames"),
        countDistinct(col("doc_id")).as("n_videos"))
      .filter(col("n_videos") >= 2)
      .orderBy(desc("n_frames"), col("bucket"))
      .limit(50)

  /** AUDIO metadata decode — REAL parsing, no codec: a deterministic PCM
    * WAV container is synthesized around each document's UTF-8 bytes
    * (the audio stand-in for `binaryFile` payloads, like [[binaryized]]'s
    * text/plain stand-in), then the codegen'd
    * [[graft.functions.WavMeta]] expression walks the RIFF chunk list
    * and extracts (sample_rate, channels, bits, duration_ms) FROM THE
    * BYTES — little-endian u16/u32 fields, chunk sizes, even-offset
    * padding. The oracle computes the same fields from the synthesis
    * PARAMETERS directly, so any drift in the byte layout or the walker
    * fails the hash gate: the synth→parse round-trip is the test (the
    * walker's robustness on foreign/broken containers is WavOpsSpec's
    * job). One codegen'd projection per row; no UDF; the only exchange
    * is the final presentation sort. */
  private def le2(x: String) =
    s"concat(lpad(hex(($x) % 256), 2, '0'), lpad(hex(($x) div 256 % 256), 2, '0'))"
  private def le4(x: String) = s"concat(${le2(x)}, ${le2(s"($x) div 65536")})"

  /** The PCM WAV container-synthesis expression over columns
    * (sr, ch, body, data_sz, ba, br) — shared by [[wavMetaDecode]] and
    * [[mediaRouter]] so the two synth layouts cannot drift. */
  private val wavPayloadSql: String =
    s"""concat(
          encode('RIFF', 'UTF-8'), unhex(${le4("36 + data_sz")}),
          encode('WAVE', 'UTF-8'),
          encode('fmt ', 'UTF-8'), unhex(${le4("16")}),
          unhex(${le2("1")}), unhex(${le2("ch")}),
          unhex(${le4("sr")}), unhex(${le4("br")}),
          unhex(${le2("ba")}), unhex(${le2("16")}),
          encode('data', 'UTF-8'), unhex(${le4("data_sz")}),
          body)"""

  def wavMetaDecode(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.WavMeta.wavMeta
    Tables.documents(spark, dir)
      .withColumn("sr", expr("8000 + (doc_id % 5) * 4000"))
      .withColumn("ch", expr("1 + (doc_id % 2)"))
      .withColumn("body", expr("encode(text, 'UTF-8')"))
      .withColumn("data_sz", expr("octet_length(body)"))
      .withColumn("ba", expr("ch * 2"))          // block align, 16-bit PCM
      .withColumn("br", expr("sr * ba"))         // byte rate
      .withColumn("payload", expr(wavPayloadSql))
      .withColumn("packed", wavMeta(col("payload")))
      .select(col("doc_id"),
        expr("shiftright(packed, 44)").as("sample_rate"),
        expr("shiftright(packed, 40) & 15").as("channels"),
        expr("shiftright(packed, 32) & 255").as("bits"),
        expr("packed & 4294967295").as("duration_ms"))
      .orderBy("doc_id")
  }

  /** REAL pixel-space perceptual hash round-trip (r10 verdict #2, the
    * image sibling of [[wavMetaDecode]]'s synth→parse gate): each
    * document's md5 prefix is a 60-bit word; [[graft.functions.JpegSynth]]
    * ENCODES a real grayscale JPEG (JDK ImageIO writer) whose 6×11 cell
    * luma gradients carry the word with a ±12 margin on JPEG-block-
    * aligned cells (DC quantization error < 5 levels at quality ≥ 80
    * can never flip a comparison); [[graft.functions.JpegDHash]] must
    * recover it by DECODING the pixels and computing the difference
    * hash. The oracle derives the expected hex from md5 directly — the
    * encode→decode→pool→compare identity is the hash gate. One codegen'd
    * projection per row, no UDF; shuffles = [[spreadDocs]]'s
    * parallelism-guard repartition (a no-op on a real many-file corpus)
    * plus the presentation sort. */
  /** Parallelism guard for the codec-heavy stages (the
    * [[graft.functions.TextAnalysis]] repetition-filter lesson, r10):
    * documents.parquet is one small file, so the scan is ONE partition
    * and a per-row ImageIO encode/decode chain would serialize onto a
    * single task (measured: the whole query single-threaded in the 10×
    * sweep — one RUNNABLE worker, 31 idle). Cheap in bytes, huge in
    * per-row CPU ⇒ spread by rows (a round-robin REPARTITION — the one
    * shuffle the codec queries carry besides their presentation sorts)
    * before the codec projection; on a real many-file corpus the guard
    * is a no-op. The scan's parallelism is ESTIMATED from the file
    * listing (one metadata call) rather than `docs.rdd.getNumPartitions`
    * (ADVICE r11: that forces physical planning + RDD lineage
    * materialization on every query build): Spark packs splittable
    * parquet into ~ceil(totalBytes / maxPartitionBytes) scan partitions,
    * and the ceil UNDER-estimates packing of many small files, erring
    * toward spreading — the cheap direction for a codec-bound stage. */
  private def spreadDocs(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val nParts = spark.sessionState.conf.numShufflePartitions
    val maxPart = math.max(1L, spark.sessionState.conf.filesMaxPartitionBytes)
    val path = new org.apache.hadoop.fs.Path(s"$dir/documents.parquet")
    val estParts =
      try {
        val fs = path.getFileSystem(spark.sessionState.newHadoopConf())
        val st = fs.getFileStatus(path)
        val bytes =
          if (st.isFile) st.getLen
          else fs.listStatus(path).iterator.filter(_.isFile).map(_.getLen).sum
        ((bytes + maxPart - 1) / maxPart).toInt
      } catch { case _: java.io.IOException => 1 } // unlistable ⇒ assume tiny, spread
    if (estParts < nParts) docs.repartition(nParts) else docs
  }

  def pixelDHash(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.ImageOps._
    spreadDocs(spark, dir)
      .withColumn("h", expr("md5(cast(doc_id as string))"))
      .withColumn("word", expr("cast(conv(substring(h, 1, 15), 16, 10) as bigint)"))
      .select(col("doc_id"),
        jpegDHash(jpegSynth(col("word"), lit(95))).as("dhash_hex"))
      .orderBy("doc_id")
  }

  /** REAL pixel resize, oracle-gated end-to-end (r11 verdict #4 — the
    * resize stage leaves stub-land): synthesize the word-carrying JPEG,
    * then run the REAL thumbnail chain — ImageIO decode →
    * nearest-neighbor downscale to the 44 px bounding box → re-encode —
    * and prove the pixels survived by (a) re-PARSING the resized
    * payload's SOF dims (not computing them) and (b) recovering the
    * word from the RESIZED pixels via the difference hash. The synth is
    * 88×48 so the box forces an exact 2× downscale: nearest sampling
    * never crosses a cell boundary, and the only lossy steps are the
    * two JPEG DC quantizations — the re-encode re-quantizes values
    * already on the same q95 lattice, so the total error stays inside
    * the ±12 gradient margin (mm_pixel_neardup's q80 re-encode measured
    * hamming 0 across 15k docs — stronger perturbation, same identity).
    * Oracle: dims are the construction constants, the hash is the md5
    * word — any drift in decode, sampling arithmetic, or encode
    * hash-fails. Shuffles = the [[spreadDocs]] guard + presentation
    * sort. */
  def pixelResize(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.ImageOps._
    import graft.functions.JpegDims.jpegDims
    spreadDocs(spark, dir)
      .withColumn("h", expr("md5(cast(doc_id as string))"))
      .withColumn("word", expr("cast(conv(substring(h, 1, 15), 16, 10) as bigint)"))
      .withColumn("resized",
        jpegResize(jpegSynth(col("word"), lit(95)), lit(44), lit(95)))
      .withColumn("rp", jpegDims(col("resized")))
      .select(col("doc_id"),
        expr("cast(shiftright(rp, 32) as int)").as("r_width"),
        expr("cast(rp & 4294967295 as int)").as("r_height"),
        jpegDHash(col("resized")).as("dhash_hex"))
      .orderBy("doc_id")
  }

  /** REAL pixel feature extraction, oracle-gated (r11 verdict #4 — the
    * feature stage leaves stub-land): the 66-dim quantized coarse-luma
    * grid ([[graft.functions.ImageUtil.gridBuckets]]) computed by
    * actually DECODING the word-carrying JPEG and pooling its pixels.
    * Long format (doc_id, cell_idx, bucket) so the oracle replays the
    * construction with one window sum: cell (r,c)'s bucket is exactly
    * the signed prefix sum of row r's gradient steps (each bit is one
    * full ±Step of luma; DC-quantization error < Step/2 can't cross a
    * bucket boundary). Over real photos the same expression is the
    * coarse embedding a curation pipeline clusters on — gated against
    * an independent ImageIO reference in ImageHashSpec. */
  def pixelFeatures(spark: SparkSession, dir: String): DataFrame =
    pixelFeaturesFrom(pixelFeatureVectors(spark, dir))

  /** The per-document 66-dim grid-feature table both feature paths read:
    * `(doc_id, buckets array<int>)`, one REAL ImageIO encode + decode +
    * pool per document. This is where ALL the codec cost lives, and it
    * is pure per-payload state — the same artifact class as
    * [[pixelVariantSigs]]' dHash signatures. */
  private[graft] def pixelFeatureVectors(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.ImageOps._
    spreadDocs(spark, dir)
      .withColumn("h", expr("md5(cast(doc_id as string))"))
      .withColumn("word", expr("cast(conv(substring(h, 1, 15), 16, 10) as bigint)"))
      .select(col("doc_id"), jpegGrid(jpegSynth(col("word"), lit(95))).as("buckets"))
  }

  /** Shared long-format tail over any feature-vector frame — one
    * definition so the scan-time, persisted, and stream-maintained
    * paths cannot drift. */
  private[graft] def pixelFeaturesFrom(vectors: DataFrame): DataFrame =
    // sort BEFORE the 66-way explode (r14): the global (doc_id, cell_idx)
    // order is equally established by range-sorting the n per-document
    // vectors and exploding in cell order — posexplode emits cells
    // ascending within each row — so the range exchange moves n rows
    // instead of 66n (the r13 SF10 sweep flagged exactly this
    // "long-format presentation sort" as the family's worst scaler).
    vectors
      .orderBy("doc_id")
      .select(col("doc_id"), posexplode(col("buckets")).as(Seq("cell_idx", "bucket")))

  /** The build-once persisted per-document feature table (bucketed by
    * doc_id) — the base index [[pixelFeaturesPersisted]] serves and
    * [[graft.streaming.Streams.pixelFeatServeFromState]] unions the
    * stream-folded arrivals onto. */
  private[graft] def pixelFeatureBaseTable(spark: SparkSession, dir: String): DataFrame =
    graft.sources.IndexStore.orBuild(spark, dir, "mm_pixfeat", 32, Seq("doc_id"))(
      pixelFeatureVectors(spark, dir))

  /** [[pixelFeatures]] with the per-document grid VECTORS persisted per
    * corpus ([[graft.sources.IndexStore]]) — the serving path for the
    * coarse-embedding store a curation pipeline reads over and over:
    * the n_docs JPEG encodes + decodes + pools run ONCE at ingest;
    * every subsequent read is a bucketed parquet scan + explode, no
    * codec anywhere in the plan. Same contract as `mm_pixel_persisted`'s
    * signature table and `dd_span_dedup_persisted`'s span index;
    * row-identical to the scan-time query by construction (shared
    * [[pixelFeaturesFrom]] tail), so it shares its oracle. */
  def pixelFeaturesPersisted(spark: SparkSession, dir: String): DataFrame =
    pixelFeaturesFrom(pixelFeatureBaseTable(spark, dir))

  /** Pixel-space NEAR-DUP pairs over real JPEG payloads — the dHash
    * upgrade of [[byteNearDupPairs]] from byte-space to what CLIP-era
    * pipelines actually bucket on. Three variants per document, all
    * real encoded JPEGs: v0 the original (quality 95), v1 a RE-ENCODE
    * of the same pixels at quality 80 (the CDN/re-hosting perturbation —
    * different bytes, dHash-identical pixels, hamming 0), v2 a 2-bit
    * PIXEL tweak (two deterministically-chosen cell gradients flipped —
    * hamming exactly 2). Signatures feed the SAME 60-bit hamming-band
    * pigeonhole join as the text SimHash family (k=3 ⇒ 4 bands; pairs
    * only from band-bucket collisions, never all-pairs), and the oracle
    * enumerates the expected pair set per doc from the construction:
    * (v0,v1,0), (v0,v2,2), (v1,v2,2). Real photos (where no synthesis
    * parameters exist) are gated by MultimodalSpec against an ImageIO
    * reference over the 9 reference JPEGs. */
  def pixelNearDupPairs(spark: SparkSession, dir: String): DataFrame =
    pixelPairsFrom(pixelVariantSigs(spark, dir))

  /** The 3-variant real-JPEG signature table [[pixelNearDupPairs]] bands:
    * `(doc_id*4 + variant, simhash)`. This is where ALL the codec cost
    * lives (one ImageIO encode + one decode per variant — 3 per doc),
    * and it is pure per-payload state, the same artifact class as the
    * byte-gram signatures [[byteNearDupPairs]] persists. */
  private def pixelVariantSigs(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.ImageOps._
    val base = spreadDocs(spark, dir)
      .withColumn("h", expr("md5(cast(doc_id as string))"))
      .withColumn("w0", expr("cast(conv(substring(h, 1, 15), 16, 10) as bigint)"))
      // two distinct tweak bit positions in [0, 60), p2 ≠ p1 by the
      // +1..59 offset construction
      .withColumn("p1", expr("cast(conv(substring(h, 16, 2), 16, 10) as bigint) % 60"))
      .withColumn("p2", expr(
        "(p1 + 1 + cast(conv(substring(h, 18, 2), 16, 10) as bigint) % 59) % 60"))
      .withColumn("wt", expr(
        """w0 ^ shiftleft(cast(1 as bigint), cast(p1 as int))
              ^ shiftleft(cast(1 as bigint), cast(p2 as int))"""))
      .select(col("doc_id"), explode(expr(
        """array(struct(0L as v, w0 as word, 95 as q),
                 struct(1L as v, w0 as word, 80 as q),
                 struct(2L as v, wt as word, 95 as q))""")).as("e"))
    base
      .select((col("doc_id") * 4 + col("e.v")).as("doc_id"),
        jpegDHash(jpegSynth(col("e.word"), col("e.q"))).as("dh"))
      .select(col("doc_id"),
        expr("cast(conv(dh, 16, 10) as bigint)").as("simhash"))
  }

  /** Shared banding + presentation tail over any variant-signature
    * frame — one definition so the scan-time and persisted paths cannot
    * drift. */
  private def pixelPairsFrom(sigs: DataFrame): DataFrame =
    Dedup.hammingPairsOfSigs(sigs, k = 3, bits = 60, bucketLocal = false)
      .select(expr("doc_a div 4").as("doc_id_a"), expr("doc_a % 4").as("var_a"),
        expr("doc_b div 4").as("doc_id_b"), expr("doc_b % 4").as("var_b"),
        col("hamming"))
      .orderBy("doc_id_a", "var_a", "doc_id_b", "var_b")

  /** [[pixelNearDupPairs]] with the dHash SIGNATURES persisted per
    * corpus ([[graft.sources.IndexStore]]) — the serving path: the
    * 3·n_docs JPEG encodes + decodes (≈10 s of the 11 s scan-time query
    * at sf0.1) run ONCE at ingest; every subsequent near-dup pass is
    * just the banded hamming join over the bucketed signature table.
    * Same contract as `mm_neardup_pairs`' byte-sig persistence and
    * `dd_span_dedup_persisted`'s span index; row-identical to the
    * scan-time query by construction, so it shares its oracle. */
  def pixelNearDupPersisted(spark: SparkSession, dir: String): DataFrame =
    pixelPairsFrom(graft.sources.IndexStore.orBuild(spark, dir, "mm_pixsig", 32, Seq("doc_id"))(
      pixelVariantSigs(spark, dir)))

  /** [[pixelNearDupPairs]]'s hamming banding over any (doc_id, simhash)
    * frame — the spec entry point for real-photo signatures. */
  def pixelNearDupPairsOfSigs(sigs: DataFrame, k: Int = 6): DataFrame =
    Dedup.hammingPairsOfSigs(sigs, k, bits = 60, bucketLocal = false)

  /** MIXED-MODALITY MEDIA ROUTER — the dispatch stage of a blob lake
    * where one binary column carries many container formats (the O-14
    * type-router shape applied to media): each payload is identified by
    * PARSING, not by trusting a type column — the three codegen'd
    * walkers ([[graft.functions.JpegDims]] SOF, [[graft.functions.WavMeta]]
    * RIFF, [[graft.functions.PngMeta]] IHDR) each either recover real
    * metadata or return the -1 sentinel, and the router's CASE takes the
    * first parser that accepts. Output is ONE normalized metadata row
    * per payload (width/height for images, rate/duration for audio,
    * nulls elsewhere) — the schema a curation pipeline filters on.
    *
    * The test corpus is synthesized round-trip-style (the `mm_wav_meta`
    * move): doc_id % 3 picks the container — a REAL ImageIO JPEG
    * ([[graft.functions.JpegSynth]]), a REAL PCM WAV ([[wavPayloadSql]]),
    * or a REAL ImageIO PNG ([[graft.functions.PngSynth]]) — and the
    * oracle derives every field from the synthesis parameters, so a
    * walker that misidentifies or misparses any container hash-fails.
    * CASE branches evaluate lazily per row, so each payload pays exactly
    * one synthesis. One codegen'd projection per row, no UDF; shuffles =
    * [[spreadDocs]]'s parallelism-guard repartition plus the
    * presentation sort. */
  /** The mixed-container corpus shared by [[mediaRouter]] and
    * [[decodeResizeFramesReal]]: doc_id % 3 picks a REAL ImageIO JPEG
    * (88×48 word synth), a REAL PCM WAV (rate/channels from doc_id,
    * body = the document's UTF-8 bytes), or a REAL ImageIO PNG
    * (16..115 px dims from doc_id) — every oracle field derivable from
    * these synthesis parameters. */
  private def mixedMediaPayloads(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.ImageOps._
    import graft.functions.PngOps._
    spreadDocs(spark, dir)
      .withColumn("h", expr("md5(cast(doc_id as string))"))
      .withColumn("word", expr("cast(conv(substring(h, 1, 15), 16, 10) as bigint)"))
      .withColumn("sr", expr("8000 + (doc_id % 5) * 4000"))
      .withColumn("ch", expr("1 + (doc_id % 2)"))
      .withColumn("body", expr("encode(text, 'UTF-8')"))
      .withColumn("data_sz", expr("octet_length(body)"))
      .withColumn("ba", expr("ch * 2"))
      .withColumn("br", expr("sr * ba"))
      .withColumn("pw", expr("cast(16 + doc_id % 100 as int)"))
      .withColumn("ph", expr("cast(16 + (doc_id div 7) % 100 as int)"))
      .withColumn("payload",
        when(col("doc_id") % 3 === 0, jpegSynth(col("word"), lit(90)))
          .when(col("doc_id") % 3 === 1, expr(wavPayloadSql))
          .otherwise(pngSynth(col("pw"), col("ph"))))
      .select("doc_id", "payload")
  }

  def mediaRouter(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.PngOps._
    import graft.functions.WavMeta.wavMeta
    import graft.functions.JpegDims.jpegDims
    mixedMediaPayloads(spark, dir)
      .withColumn("jp", jpegDims(col("payload")))
      .withColumn("wv", wavMeta(col("payload")))
      .withColumn("pg", pngMeta(col("payload")))
      .select(col("doc_id"),
        expr("""CASE WHEN jp >= 0 THEN 'image/jpeg'
                     WHEN wv >= 0 THEN 'audio/wav'
                     WHEN pg >= 0 THEN 'image/png'
                     ELSE 'unknown' END""").as("media_type"),
        expr("""CASE WHEN jp >= 0 THEN shiftright(jp, 32)
                     WHEN pg >= 0 THEN shiftright(pg, 40) END""").as("width"),
        expr("""CASE WHEN jp >= 0 THEN jp & 4294967295
                     WHEN pg >= 0 THEN shiftright(pg, 16) & 16777215 END""").as("height"),
        expr("CASE WHEN wv >= 0 THEN shiftright(wv, 44) END").as("sample_rate"),
        expr("CASE WHEN wv >= 0 THEN wv & 4294967295 END").as("duration_ms"))
      .orderBy("doc_id")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "mm_pixel_dhash"    -> pixelDHash _,
    "mm_pixel_resized"  -> pixelResize _,
    "mm_pixel_features" -> pixelFeatures _,
    "mm_pixel_feat_persisted" -> pixelFeaturesPersisted _,
    "mm_pixel_neardup"  -> pixelNearDupPairs _,
    "mm_pixel_persisted" -> pixelNearDupPersisted _,
    "mm_media_router"   -> mediaRouter _,
    "mm_wav_meta"       -> wavMetaDecode _,
    "mm_frame_dedup"    -> frameDedup _,
    "mm_pair_curation"  -> pairCuration _,
    "mm_binary_meta"    -> binaryMeta _,
    "mm_neardup_pairs"  -> byteNearDupPairs _,
    "mm_dedup_groups"   -> byteDedupGroups _,
    "mm_decode_frames"  -> decodeResizeFrames _,
    "mm_decode_frames_real" -> decodeResizeFramesReal _,
  )

  val oracles: Map[String, String] = Map(
    // the oracle derives the expected hash from the md5 word directly;
    // the Spark side must ENCODE a real JPEG carrying the word and
    // recover it by DECODING the pixels (ImageIO both ways) — any drift
    // in the synth layout, the decoder, the 6x11 pooling or the
    // comparison order hash-fails
    "mm_pixel_dhash" ->
      """SELECT doc_id, substr(md5(CAST(doc_id AS VARCHAR)), 1, 15) AS dhash_hex
         FROM documents ORDER BY doc_id""",
    // the oracle knows only the CONSTRUCTION: an 88x48 synth boxed to
    // 44 px must come back 44x24, and the word must survive the full
    // decode -> nearest-downscale -> re-encode -> decode -> pool chain
    // (dims are re-PARSED from the resized payload on the Spark side,
    // the hash re-POOLED from its pixels — nothing is computed from
    // the input dims)
    "mm_pixel_resized" ->
      """SELECT doc_id, CAST(44 AS INTEGER) AS r_width,
                CAST(24 AS INTEGER) AS r_height,
                substr(md5(CAST(doc_id AS VARCHAR)), 1, 15) AS dhash_hex
         FROM documents ORDER BY doc_id""",
    // cell (r,c)'s quantized luma bucket == the signed prefix sum of
    // row r's gradient steps (bit j of the md5 word, MSB-first,
    // 10 comparison bits per row): the Spark side must DECODE the
    // pixels and pool them; the oracle replays the construction with a
    // per-row window sum over the word's bits
    "mm_pixel_features" ->
      """WITH w AS (
           SELECT doc_id,
                  CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT) AS word
           FROM documents),
         cells AS (
           SELECT doc_id, word, r.range AS r, c.range AS c
           FROM w, range(0, 6) r, range(0, 11) c),
         summed AS (
           SELECT doc_id, r, c,
                  COALESCE(SUM(CASE WHEN j.range IS NULL THEN NULL
                                    WHEN (word >> CAST(59 - (r * 10 + j.range) AS INTEGER)) & 1 = 1
                                    THEN -1 ELSE 1 END), 0) AS s
           FROM cells LEFT JOIN range(0, 10) j ON j.range < c
           GROUP BY doc_id, r, c)
         SELECT doc_id, CAST(r * 11 + c AS INTEGER) AS cell_idx,
                CAST(s AS INTEGER) AS bucket
         FROM summed ORDER BY doc_id, cell_idx""",
    // row-identical to mm_pixel_features by construction (same vector
    // synthesis, same shared long-format tail — just served off the
    // persisted per-document feature table), so it shares the oracle
    // verbatim
    "mm_pixel_feat_persisted" ->
      """WITH w AS (
           SELECT doc_id,
                  CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT) AS word
           FROM documents),
         cells AS (
           SELECT doc_id, word, r.range AS r, c.range AS c
           FROM w, range(0, 6) r, range(0, 11) c),
         summed AS (
           SELECT doc_id, r, c,
                  COALESCE(SUM(CASE WHEN j.range IS NULL THEN NULL
                                    WHEN (word >> CAST(59 - (r * 10 + j.range) AS INTEGER)) & 1 = 1
                                    THEN -1 ELSE 1 END), 0) AS s
           FROM cells LEFT JOIN range(0, 10) j ON j.range < c
           GROUP BY doc_id, r, c)
         SELECT doc_id, CAST(r * 11 + c AS INTEGER) AS cell_idx,
                CAST(s AS INTEGER) AS bucket
         FROM summed ORDER BY doc_id, cell_idx""",
    // expected pair set per document from the construction: re-encode
    // (different bytes, same pixels) at hamming 0, the 2-bit pixel
    // tweak at hamming exactly 2 from both — cross-document pairs would
    // need two 60-bit md5 words within hamming 3 (≈3e-14 per pair)
    "mm_pixel_neardup" ->
      """SELECT doc_id AS doc_id_a, CAST(0 AS BIGINT) AS var_a,
                doc_id AS doc_id_b, CAST(1 AS BIGINT) AS var_b,
                CAST(0 AS BIGINT) AS hamming
         FROM documents
         UNION ALL
         SELECT doc_id, CAST(0 AS BIGINT), doc_id, CAST(2 AS BIGINT),
                CAST(2 AS BIGINT)
         FROM documents
         UNION ALL
         SELECT doc_id, CAST(1 AS BIGINT), doc_id, CAST(2 AS BIGINT),
                CAST(2 AS BIGINT)
         FROM documents
         ORDER BY 1, 2, 4""",
    // row-identical to mm_pixel_neardup by construction (same variant
    // synthesis, same dHash, same banding — just served off the
    // persisted signature table), so it shares the oracle verbatim
    "mm_pixel_persisted" ->
      """SELECT doc_id AS doc_id_a, CAST(0 AS BIGINT) AS var_a,
                doc_id AS doc_id_b, CAST(1 AS BIGINT) AS var_b,
                CAST(0 AS BIGINT) AS hamming
         FROM documents
         UNION ALL
         SELECT doc_id, CAST(0 AS BIGINT), doc_id, CAST(2 AS BIGINT),
                CAST(2 AS BIGINT)
         FROM documents
         UNION ALL
         SELECT doc_id, CAST(1 AS BIGINT), doc_id, CAST(2 AS BIGINT),
                CAST(2 AS BIGINT)
         FROM documents
         ORDER BY 1, 2, 4""",
    // the oracle derives every field from the SYNTHESIS parameters
    // (container choice = doc_id % 3; JPEG synth is always 88x48; PNG
    // dims and WAV rate/duration from their doc_id formulas); the Spark
    // side must IDENTIFY each container by parsing and recover the
    // fields from the bytes — a misrouted or misparsed payload
    // hash-fails
    "mm_media_router" ->
      """SELECT doc_id,
           CASE doc_id % 3 WHEN 0 THEN 'image/jpeg'
                           WHEN 1 THEN 'audio/wav'
                           ELSE 'image/png' END AS media_type,
           CASE doc_id % 3 WHEN 0 THEN CAST(88 AS BIGINT)
                           WHEN 2 THEN CAST(16 + doc_id % 100 AS BIGINT)
                           END AS width,
           CASE doc_id % 3 WHEN 0 THEN CAST(48 AS BIGINT)
                           WHEN 2 THEN CAST(16 + (doc_id // 7) % 100 AS BIGINT)
                           END AS height,
           CASE doc_id % 3 WHEN 1 THEN CAST(8000 + (doc_id % 5) * 4000 AS BIGINT)
                           END AS sample_rate,
           CASE doc_id % 3 WHEN 1 THEN CAST(
                  octet_length(encode(text)) * 1000
                    // ((8000 + (doc_id % 5) * 4000) * (1 + doc_id % 2) * 2)
                  AS BIGINT)
                           END AS duration_ms
         FROM documents ORDER BY doc_id""",
    // the oracle computes the fields from the SYNTHESIS parameters; the
    // Spark side must recover them by PARSING the container bytes — any
    // drift in LE layout, chunk sizes or the walker hash-fails
    "mm_wav_meta" ->
      """WITH b AS (SELECT doc_id,
             8000 + (doc_id % 5) * 4000 AS sample_rate,
             1 + (doc_id % 2) AS channels,
             octet_length(encode(text)) AS data_sz
           FROM documents)
         SELECT doc_id,
           CAST(sample_rate AS BIGINT) AS sample_rate,
           CAST(channels AS BIGINT) AS channels,
           CAST(16 AS BIGINT) AS bits,
           CAST(data_sz * 1000 // (sample_rate * channels * 2) AS BIGINT) AS duration_ms
         FROM b ORDER BY doc_id""",
    // same synthetic n_frames branch, same truncated-hash bucketing
    "mm_frame_dedup" ->
      """WITH d AS (SELECT doc_id, md5(text) AS h FROM documents),
         f AS (SELECT doc_id, h,
                 unnest(range(0, 1 + (CAST('0x' || substr(h, 9, 2) AS INTEGER) % 32)))
                   AS frame_idx
               FROM d),
         b AS (SELECT doc_id,
                 CAST('0x' || substr(md5(h || '-' || CAST(frame_idx % 8 AS VARCHAR)),
                   1, 4) AS BIGINT) % 512 AS bucket
               FROM f)
         SELECT bucket, count(*) AS n_frames,
                count(DISTINCT doc_id) AS n_videos
         FROM b GROUP BY 1 HAVING count(DISTINCT doc_id) >= 2
         ORDER BY n_frames DESC, bucket LIMIT 50""",
    // same md5-branch decode, same gate expressions, same running
    // passer count within sha256(text)
    "mm_pair_curation" ->
      """WITH b AS (SELECT doc_id, lang, text, md5(text) AS h,
                           sha256(text) AS sha
                    FROM documents),
         dm AS (SELECT doc_id, lang, text, sha,
                  16 + (CAST('0x' || substr(h, 1, 4) AS INTEGER) % 1024) AS width,
                  16 + (CAST('0x' || substr(h, 5, 4) AS INTEGER) % 1024) AS height
                FROM b),
         g AS (SELECT doc_id, lang, sha,
                 len(string_split(text, ' ')) >= 10 AND
                 CAST(len(list_filter(string_split(lower(text), ' '),
                      t -> t IN ('the','a','and'))) AS DOUBLE)
                   / len(string_split(text, ' ')) <= 0.4 AS text_ok,
                 width >= 64 AND height >= 64 AND
                 greatest(width, height) <= 4 * least(width, height) AS image_ok
               FROM dm),
         r AS (SELECT doc_id, lang, text_ok, image_ok,
                 SUM(CASE WHEN text_ok AND image_ok THEN 1 ELSE 0 END)
                   OVER (PARTITION BY sha ORDER BY doc_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS rn_pass
               FROM g),
         d AS (SELECT lang,
                 CASE WHEN NOT text_ok THEN 'text_fail'
                      WHEN NOT image_ok THEN 'image_fail'
                      WHEN rn_pass > 1 THEN 'dup'
                      ELSE 'kept' END AS disposition
               FROM r)
         SELECT lang, count(*) AS n_pairs,
                CAST(sum(CASE WHEN disposition = 'text_fail' THEN 1 ELSE 0 END) AS BIGINT) AS n_text_fail,
                CAST(sum(CASE WHEN disposition = 'image_fail' THEN 1 ELSE 0 END) AS BIGINT) AS n_image_fail,
                CAST(sum(CASE WHEN disposition = 'dup' THEN 1 ELSE 0 END) AS BIGINT) AS n_dup,
                CAST(sum(CASE WHEN disposition = 'kept' THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
                CAST(sum(CASE WHEN disposition = 'kept' THEN 1 ELSE 0 END) AS BIGINT)
                  * 1000000 // count(*) AS kept_ppm
         FROM d GROUP BY lang ORDER BY lang""",
    "mm_binary_meta" ->
      """SELECT doc_id,
           octet_length(encode(text)) AS n_bytes,
           sha256(text) AS sha256,
           lower(substr(hex(encode(text)), 1, 8)) AS magic_hex
         FROM documents ORDER BY doc_id""",
    // synthetic-decode branch replay: dims from md5 of the UTF-8 payload
    // (text payloads are never JPEG, so the SOF branch — gated by
    // MultimodalSpec vs ImageIO — is unreachable here); resize truncates
    // the double division exactly as Spark's ANSI double→int cast does
    "mm_decode_frames" ->
      """WITH b AS (SELECT doc_id, md5(text) AS h FROM documents),
         dm AS (SELECT doc_id,
             16 + (CAST('0x' || substr(h, 1, 4) AS INTEGER) % 1024) AS width,
             16 + (CAST('0x' || substr(h, 5, 4) AS INTEGER) % 1024) AS height,
             1 + (CAST('0x' || substr(h, 9, 2) AS INTEGER) % 32) AS n_frames
           FROM b),
         r AS (SELECT doc_id, width, height, n_frames,
             CASE WHEN greatest(width, height) <= 256 THEN width
                  ELSE greatest(1, CAST(trunc(width * 256.0 / greatest(width, height)) AS INTEGER))
             END AS r_width,
             CASE WHEN greatest(width, height) <= 256 THEN height
                  ELSE greatest(1, CAST(trunc(height * 256.0 / greatest(width, height)) AS INTEGER))
             END AS r_height
           FROM dm)
         SELECT doc_id, width, height, n_frames, r_width, r_height,
                CAST(unnest(range(0, n_frames, 4)) AS INTEGER) AS frame_idx
         FROM r ORDER BY doc_id, frame_idx""",
    // every field derives from the SYNTHESIS parameters (the
    // mm_media_router move), including the resized dims (JPEG synth is
    // always 88x48 -> boxed to 44 -> 44x24; PNG dims from the doc_id
    // formulas through the same floor-division box) and the WAV window
    // count (duration from the PCM byte math, 10 ms windows). The Spark
    // side must IDENTIFY each container by parsing, RUN the real
    // decode->resize->re-encode on the image rows, and re-PARSE the
    // resized SOF. real_branch is pinned literal true on every row: one
    // payload falling back to any synthetic branch hash-fails the gate.
    "mm_decode_frames_real" ->
      """WITH b AS (SELECT doc_id,
             octet_length(encode(text)) AS data_sz,
             8000 + (doc_id % 5) * 4000 AS sr,
             1 + (doc_id % 2) AS ch,
             16 + doc_id % 100 AS pw,
             16 + (doc_id // 7) % 100 AS ph
           FROM documents),
         m AS (SELECT doc_id,
             CASE doc_id % 3 WHEN 0 THEN 'image/jpeg'
                             WHEN 1 THEN 'audio/wav'
                             ELSE 'image/png' END AS media_type,
             CASE doc_id % 3 WHEN 0 THEN 88 WHEN 2 THEN pw END AS width,
             CASE doc_id % 3 WHEN 0 THEN 48 WHEN 2 THEN ph END AS height,
             CASE doc_id % 3 WHEN 1 THEN
               CAST(1 + (data_sz * 1000 // (sr * ch * 2)) // 10 AS INTEGER)
               ELSE 1 END AS n_frames
           FROM b),
         r AS (SELECT doc_id, media_type, width, height, n_frames,
             CASE WHEN media_type = 'audio/wav' THEN NULL
                  WHEN greatest(width, height) <= 44 THEN width
                  ELSE greatest(1, width * 44 // greatest(width, height))
                  END AS r_width,
             CASE WHEN media_type = 'audio/wav' THEN NULL
                  WHEN greatest(width, height) <= 44 THEN height
                  ELSE greatest(1, height * 44 // greatest(width, height))
                  END AS r_height
           FROM m)
         SELECT doc_id, media_type,
                CAST(width AS BIGINT) AS width,
                CAST(height AS BIGINT) AS height,
                n_frames,
                CAST(r_width AS BIGINT) AS r_width,
                CAST(r_height AS BIGINT) AS r_height,
                true AS real_branch,
                CAST(unnest(range(0, n_frames, 4)) AS INTEGER) AS frame_idx
         FROM r ORDER BY doc_id, frame_idx""",
    // byte 4-grams (strided, bounded prefix — same geometry as
    // byteSimhash) as lowercase hex strings over the UTF-8 payload —
    // token text identical to the Spark side, then the shared hamming
    // oracle machinery
    "mm_neardup_pairs" -> Dedup.hammingKOracleFrom(mmToksCte, k = 3, bits = 60),
    // same signature geometry, closed transitively to groups (recursive
    // components walk over the hamming-pair graph, every signed doc a node)
    "mm_dedup_groups" -> Dedup.hammingKGroupsOracleFrom(mmToksCte, k = 3, bits = 60),
  )

  /** Byte 4-grams (strided, bounded prefix — [[byteSimhash]]'s geometry)
    * as lowercase hex over the UTF-8 payloads: the shared token CTE of
    * the multimodal pair and group oracles. */
  private lazy val mmToksCte: String =
    """p AS (SELECT doc_id, lower(hex(encode(text))) AS hx,
                octet_length(encode(text)) AS n
              FROM documents),
         toks AS (
           SELECT doc_id,
             unnest(list_distinct(list_transform(range(0, least(n, 65536) - 3, 4),
               i -> substr(hx, CAST(i*2 + 1 AS BIGINT), 8)))) AS tok
           FROM p WHERE n >= 4)"""
}
