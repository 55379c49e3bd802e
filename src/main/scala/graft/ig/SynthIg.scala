package graft.ig

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.sources.Tables

/** IG-shaped synthesis from the star schema — the scale harness for the
  * flagship pipeline. Maps `customer` → profiles and `orders` → posts
  * (one post per order, ordinal = recency rank), then runs the ENTIRE
  * Report.assemble DAG: at sf0.1 that is ~150 k creators / 1.5 M posts
  * through every analysis block (windows, top-k, broadcast keyword join,
  * ten creator-key equi-joins, global sort). This is the query that
  * answers "does the 9-creator pipeline survive 5 orders of magnitude
  * more keys" — registered rows-only (no SQL oracle: the full document
  * assembly is not expressible in ANSI SQL; correctness of every block
  * is oracle- or golden-gated separately).
  */
object SynthIg {

  /** Frozen clock inside the orders date range (1992-1998). */
  val synthClock: IgClock = IgClock(
    java.time.ZonedDateTime.of(1998, 8, 1, 12, 0, 0, 0,
      java.time.ZoneId.of("UTC")).toEpochSecond, "UTC")

  def syntheticProfiles(spark: SparkSession, dir: String): DataFrame =
    Tables.customer(spark, dir).select(
      concat(lit("c"), col("c_custkey")).as("creator_key"),
      concat(lit("c"), col("c_custkey")).as("username"),
      col("c_name").as("full_name"),
      concat(lit("Creator of "), lower(col("c_mktsegment")),
        lit(" content. Contact: c"), col("c_custkey"),
        lit("@example.com #"), lower(col("c_mktsegment"))).as("biography"),
      (abs(col("c_acctbal")) * 100).cast("long").as("follower_count"),
      (col("c_nationkey") * 37 % 5000).cast("long").as("following_count"),
      lit(null).cast("long").as("media_count"),
      col("c_mktsegment").as("category"),
      lit(false).as("is_private"),
      (col("c_custkey") % 97 === 0).as("is_verified"),
      (col("c_custkey") % 13 === 0).as("is_business"),
      lit(null).cast("string").as("external_url"),
      lit(null).cast("array<string>").as("pronouns"),
      expr("cast(null as array<struct<title:string,url:string,link_type:string>>)")
        .as("bio_links"))

  def syntheticPosts(spark: SparkSession, dir: String): DataFrame = {
    // the ordinal window partitions by the DERIVED creator_key rather
    // than o_custkey (r14): the mapping is bijective (`concat('c', k)`),
    // so groups, order and row_number values are identical — but the
    // window's exchange now establishes hash(creator_key), the exact
    // partitioning every downstream analysis block aggregates and
    // windows on. [[shapedPosts]] materializes it through
    // [[graft.Materialize]], which plans without AQE, so that partitioning
    // SURVIVES into the blocks' planning (a checkpoint made under AQE
    // comes back as UnknownPartitioning).
    val w = Window.partitionBy("creator_key").orderBy(col("o_orderdate").desc, col("o_orderkey"))
    Tables.orders(spark, dir)
      .withColumn("creator_key", concat(lit("c"), col("o_custkey")))
      .withColumn("ordinal", row_number().over(w) - 1)
      .select(
        col("creator_key"),
        col("ordinal"),
        col("o_orderkey").cast("string").as("pk"),
        col("o_orderkey").cast("string").as("id"),
        concat(lit("ord"), col("o_orderkey")).as("code"),
        unix_timestamp(col("o_orderdate")).as("taken_at"),
        (col("o_totalprice") / 10).cast("long").as("like_count"),
        (col("o_orderkey") % 50).cast("long").as("comment_count"),
        concat(lit("Order "), col("o_orderstatus"), lit(" #"),
          lower(regexp_replace(col("o_orderpriority"), "[^A-Za-z]", "")),
          lit(" @brand"), col("o_orderkey") % 7,
          when(col("o_orderkey") % 11 === 0, lit(" #ad")).otherwise(lit(""))).as("caption_text"),
        (col("o_orderpriority") === "1-URGENT").as("is_paid_partnership"),
        (col("o_orderkey") % 3 === 0).as("is_video"),
        when(col("o_orderkey") % 3 === 0, lit("clips")).otherwise(lit("feed"))
          .as("product_type"),
        lit(1L).as("media_type"),
        expr("cast(array() as array<string>)").as("sponsor_usernames"),
        expr("cast(null as array<struct<is_pending:boolean," +
          "sponsor:struct<pk:string,username:string,id:string,full_name:string," +
          "profile_pic_url:string,is_unpublished:boolean>," +
          "username:string>>)").as("sponsor_tags"),
        expr("cast(null as struct<pk:string,lat:double,lng:double,name:string>)")
          .as("location"),
        concat(lit("c"), col("o_custkey")).as("user_username"),
        when(col("o_orderkey") % 29 === 0, concat(lit("brand"), col("o_orderkey") % 7))
          .otherwise(concat(lit("c"), col("o_custkey"))).as("owner_username"),
        expr("cast(array() as array<string>)").as("coauthor_usernames"))
  }

  /** The posts table materialized ONCE through [[graft.Materialize]],
    * carrying hash(creator_key) partitioning into downstream planning.
    *  - the posts subtree (a full row_number window over orders) feeds
    *    ~10 analysis blocks in Report.assemble, and each block prunes it
    *    differently — exchange reuse never fires, so the unshared plan
    *    re-derived it EIGHT times (8 o_custkey exchanges, 14 orders
    *    scans, 82 Exchanges total). Materializing computes the window
    *    once.
    *  - the materialized leaf keeps the window's hash(creator_key,
    *    nPart), and since EVERY block aggregation/window keys on
    *    creator_key (or a superset — hash(creator_key) satisfies those
    *    clusterings too), the blocks plan with ZERO posts exchanges.
    *  - partitions are sized to the orders row count, read from the
    *    parquet footer, so sizing runs no job.
    * The profile side keeps its parquet stats, so the blocks' dim-side
    * broadcasts are unaffected. */
  private def shapedPosts(spark: SparkSession, dir: String): DataFrame =
    graft.Materialize(syntheticPosts(spark, dir), graft.Materialize.partitionsFor(spark,
      Tables.footerRowCount(spark, dir, "orders").getOrElse(Tables.orders(spark, dir).count())))

  /** The full flagship DAG over synthesized data, hash-gated against a
    * full DuckDB oracle (see [[fullReportOracle]]): every projected
    * column — including the PyRound-ed average engagement rate and the
    * collaboration-cascade counts — is re-derived in ANSI SQL from
    * customer/orders. The deterministic username sort replaces the
    * report's ER-descending order (ER ties are pervasive in synthesis —
    * every orderless creator has ER 0.0 — so the report order is not a
    * hashable contract). */
  def igReportSynth(spark: SparkSession, dir: String): DataFrame =
    Report.assemble(syntheticProfiles(spark, dir),
      shapedPosts(spark, dir), synthClock)
      .select("username", "follower_count", "creator_size", "gender",
        "ig_account_type", "creator_type", "tier",
        "total_posts_last_3_months", "average_engagement_rate",
        "collaboration_status", "total_collaborations",
        "posts_analyzed_for_hashtags")
      .orderBy("username")

  /** SQL-expressible core of the synthesized report — the ladder/window
    * fields whose derivation from customer/orders IS plain SQL, gated
    * hash-exact against DuckDB (the full document stays rows-only in
    * [[igReportSynth]], which runs the entire 10-join assembly).
    *
    * Built from the SAME operator blocks the full report uses
    * (Extraction.pricing/creatorSize ladders, the topPosts 90-day window,
    * the hashtag-window count) over pruned inputs: Spark cannot eliminate
    * the report's unused left joins, so benching the full DAG for a
    * 7-column projection would measure 31 dead columns. */
  def igReportSynthCore(spark: SparkSession, dir: String): DataFrame = {
    val profiles = syntheticProfiles(spark, dir)
    // same shaped materialization as the full report: its three blocks
    // otherwise re-derive the ordinal window (and re-exchange its
    // output) once each
    val posts = shapedPosts(spark, dir)
      .select("creator_key", "ordinal", "taken_at", "like_count",
        "comment_count", "code", "caption_text")
    val enriched = Extraction.pricing(ByCreator(profiles, Extraction.ugcCaptionFlag(posts))(
      col("*"), Extraction.creatorSize(col("follower_count")).as("creator_size")))
    val top = Engagement.topPosts(posts, profiles, synthClock)
      .select("creator_key", "total_posts_last_3_months")
    val ht = LocationHashtags.hashtagsMentions(posts, synthClock)
      .select("creator_key", "posts_analyzed_for_hashtags")
    ByCreator(enriched, top, ht)(col("username"), col("follower_count"), col("creator_size"),
        col("creator_type"), col("tier"),
        coalesce(col("total_posts_last_3_months"), lit(0L))
          .as("total_posts_last_3_months"),
        coalesce(col("posts_analyzed_for_hashtags"), lit(0L))
          .as("posts_analyzed_for_hashtags"))
      .orderBy("username")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "ig_report_synth" -> igReportSynth _,
    "ig_report_synth_core" -> igReportSynthCore _)

  // ---- full-report oracle -------------------------------------------------
  // The 12-column flagship projection re-derived in pure DuckDB SQL.
  // Keyword cascades are GENERATED from the same Seqs Extraction/
  // Partnerships use, so Spark and oracle cannot drift. Python round()
  // (PyRound: half-even on the EXACT binary double) is replicated with
  // printf('%.2f', x): C-style fixed formatting is correctly rounded
  // half-even on the exact value — verified on tie cases 0.125/0.375
  // (representable midpoints) and 2.675/0.685 (near-midpoints).

  private def containsAnySql(txt: String, kws: Seq[String]): String =
    kws.map(k => s"contains($txt, '$k')").mkString("(", " OR ", ")")

  private def presenceSql(txt: String, kws: Seq[String]): String =
    kws.map(k => s"(CASE WHEN contains($txt, '$k') THEN 1 ELSE 0 END)")
      .mkString("(", " + ", ")")

  /** DuckDB SQL for the full [[igReportSynth]] projection.
    *
    * Semantics replicated (all vs analyze_insta_enhanced.py):
    *  - gender (:714-788): synthetic pronouns are null, so only the
    *    indicator-presence scoring path is reachable; Female > Male > NB
    *    priority on tie, Unknown when no indicator hits.
    *  - ig_account_type (:1814-1852): brand/creator/ext-url cascade;
    *    synthetic external_url is null → '' (no ext hits).
    *  - average_engagement_rate (:1489-1543): per-post ER = round(score/
    *    followers*100, 2) over the 90-day window, top-6 by (interaction
    *    score desc, ordinal), then round(sequential-sum/len, 2). The
    *    sequential left-fold is spelled out as nested additions over a
    *    rank-ordered list so the IEEE addition order matches Spark's
    *    aggregate() fold bit-for-bit.
    *  - collaboration cascade (:1253-1487): candidate names = mentions of
    *    the first paid post ∪ foreign owners ∪ (no-paid-post only)
    *    mentions of the first #ad/#collab post; total = distinct count
    *    (dedup order only affects struct fields not projected here).
    *  - NULL contract: creators with zero posts have NULL collaboration
    *    status/count and NULL posts_analyzed (left-join misses in
    *    Report.assemble); total_posts/avg ER are coalesced to 0 there.
    */
  private def fullReportOracle: String = {
    val cut90 = synthClock.cutoff(90)
    val stop = Partnerships.mentionStopwords.map(s => s"'$s'").mkString(",")
    val mentionsOf = (src: String) =>
      s"""SELECT k, unnest(list_filter(regexp_extract_all(caption, '@([A-Za-z0-9._]+)', 1),
         |  m -> length(m) >= 3 AND lower(m) NOT IN ($stop))) AS name FROM $src""".stripMargin
    val fs = presenceSql("txt", Extraction.femaleIndicators)
    val ms = presenceSql("txt", Extraction.maleIndicators)
    val ns = presenceSql("txt", Extraction.nbIndicators)
    val brandCat = containsAnySql("cat", Extraction.brandKeywords)
    val brandBio = containsAnySql("bio", Extraction.brandKeywords)
    val creatorCat = containsAnySql("cat", Extraction.creatorKeywords)
    val creatorBio = containsAnySql("bio", Extraction.creatorKeywords)
    val extHit = containsAnySql("''", Extraction.extUrlKeywords)
    s"""
      WITH prof AS (
        SELECT c_custkey AS k,
               'c' || c_custkey AS username,
               CAST(trunc(abs(c_acctbal) * 100) AS BIGINT) AS follower_count,
               lower('Creator of ' || lower(c_mktsegment) || ' content. Contact: c'
                 || c_custkey || '@example.com #' || lower(c_mktsegment)) AS bio,
               lower(c_name) AS fname,
               lower(c_mktsegment) AS cat,
               (c_custkey % 13 = 0) AS is_business,
               (c_custkey % 97 = 0) AS is_verified
        FROM customer),
      profx AS (
        SELECT *, bio || ' ' || fname || ' ' || username AS txt FROM prof),
      gscore AS (
        SELECT k, $fs AS fs, $ms AS ms, $ns AS ns FROM profx),
      posts AS (
        SELECT o_custkey AS k,
               row_number() OVER (PARTITION BY o_custkey
                 ORDER BY o_orderdate DESC, o_orderkey) - 1 AS ordinal,
               epoch(o_orderdate) AS taken_at,
               CAST(trunc(o_totalprice / 10) AS BIGINT) AS like_count,
               o_orderkey % 50 AS comment_count,
               'Order ' || o_orderstatus || ' #'
                 || lower(regexp_replace(o_orderpriority, '[^A-Za-z]', '', 'g'))
                 || ' @brand' || (o_orderkey % 7)
                 || CASE WHEN o_orderkey % 11 = 0 THEN ' #ad' ELSE '' END AS caption,
               (o_orderpriority = '1-URGENT') AS is_paid,
               CASE WHEN o_orderkey % 29 = 0 THEN 'brand' || (o_orderkey % 7)
                    ELSE 'c' || o_custkey END AS owner_username,
               'c' || o_custkey AS uname
        FROM orders),
      postcnt AS (SELECT k FROM posts GROUP BY k),
      hm AS (
        SELECT k, CAST(count(*) AS BIGINT) AS n_hash
        FROM posts WHERE taken_at >= $cut90 GROUP BY k),
      er AS (
        SELECT p.k,
               CAST(printf('%.2f',
                 (CAST(p.like_count + 5 * p.comment_count AS DOUBLE)
                   / CAST(f.follower_count AS DOUBLE)) * 100.0) AS DOUBLE) AS er,
               row_number() OVER (PARTITION BY p.k
                 ORDER BY (p.like_count + 5 * p.comment_count) DESC, p.ordinal ASC) AS rn
        FROM posts p JOIN prof f ON p.k = f.k
        WHERE f.follower_count > 0 AND p.taken_at >= $cut90),
      topn AS (
        SELECT k, CAST(count(*) AS BIGINT) AS n_recent,
               list(er ORDER BY rn) FILTER (WHERE rn <= 6) AS ers
        FROM er GROUP BY k),
      aer AS (
        SELECT k, n_recent,
               CAST(printf('%.2f',
                 (((((ers[1] + coalesce(ers[2], 0.0)) + coalesce(ers[3], 0.0))
                   + coalesce(ers[4], 0.0)) + coalesce(ers[5], 0.0))
                   + coalesce(ers[6], 0.0)) / len(ers)) AS DOUBLE) AS avg_er
        FROM topn),
      st AS (
        SELECT k,
               bool_or(is_paid) AS s_paid,
               bool_or(contains(lower(caption), '#ad')
                 OR contains(lower(caption), '#collab')) AS s_tag,
               bool_or(owner_username <> '' AND owner_username <> uname) AS s_owner
        FROM posts GROUP BY k),
      firstpaid AS (
        SELECT k, caption FROM (
          SELECT k, caption, row_number() OVER (PARTITION BY k ORDER BY ordinal) AS rn
          FROM posts WHERE is_paid) WHERE rn = 1),
      firsttag AS (
        SELECT t.k, t.caption FROM (
          SELECT k, caption, row_number() OVER (PARTITION BY k ORDER BY ordinal) AS rn
          FROM posts
          WHERE contains(lower(caption), '#ad') OR contains(lower(caption), '#collab')) t
        JOIN st ON t.k = st.k
        WHERE t.rn = 1 AND NOT st.s_paid),
      cand AS (
        ${mentionsOf("firstpaid")}
        UNION ALL
        SELECT k, owner_username AS name FROM posts
        WHERE owner_username <> '' AND owner_username <> uname
        UNION ALL
        ${mentionsOf("firsttag")}),
      collab AS (
        SELECT k, CAST(count(DISTINCT name) AS BIGINT) AS total_collaborations
        FROM cand GROUP BY k)
      SELECT p.username,
             p.follower_count,
             CASE WHEN p.follower_count = 0 THEN 'Unknown'
                  WHEN p.follower_count < 5000 THEN 'Nano-Influencer'
                  WHEN p.follower_count < 50000 THEN 'Micro-Influencer'
                  WHEN p.follower_count < 500000 THEN 'Mid-Tier Influencer'
                  WHEN p.follower_count < 1000000 THEN 'Macro-Influencer'
                  ELSE 'Mega-Influencer' END AS creator_size,
             CASE WHEN greatest(g.fs, g.ms, g.ns) = 0 THEN 'Unknown'
                  WHEN g.fs = greatest(g.fs, g.ms, g.ns) THEN 'Female'
                  WHEN g.ms = greatest(g.fs, g.ms, g.ns) THEN 'Male'
                  ELSE 'Non-binary' END AS gender,
             CASE WHEN $brandCat OR $brandBio OR p.is_business THEN 'brand'
                  WHEN $creatorCat OR $creatorBio THEN 'creator'
                  WHEN $extHit THEN 'brand'
                  WHEN p.is_verified AND p.follower_count > 50000 THEN 'creator'
                  ELSE 'personal' END AS ig_account_type,
             CASE WHEN p.follower_count < 1000 THEN 'UGC Creator'
                  ELSE 'Social Media Influencer' END AS creator_type,
             CASE WHEN p.follower_count < 1000 THEN 'Beginner'
                  WHEN p.follower_count < 10000 THEN '1K-10K'
                  WHEN p.follower_count < 50000 THEN '10K-50K'
                  WHEN p.follower_count < 500000 THEN '50K-500K'
                  ELSE '500K-1M+' END AS tier,
             coalesce(t.n_recent, 0) AS total_posts_last_3_months,
             coalesce(t.avg_er, 0.0) AS average_engagement_rate,
             CASE WHEN st.s_paid OR st.s_tag OR st.s_owner THEN 'Active' END
               AS collaboration_status,
             CASE WHEN pc.k IS NOT NULL THEN coalesce(cl.total_collaborations, 0) END
               AS total_collaborations,
             CASE WHEN pc.k IS NOT NULL THEN coalesce(h.n_hash, 0) END
               AS posts_analyzed_for_hashtags
      FROM profx p
      JOIN gscore g ON p.k = g.k
      LEFT JOIN aer t ON p.k = t.k
      LEFT JOIN st ON p.k = st.k
      LEFT JOIN collab cl ON p.k = cl.k
      LEFT JOIN postcnt pc ON p.k = pc.k
      LEFT JOIN hm h ON p.k = h.k
      ORDER BY p.username"""
  }

  /** The SQL-expressible core stays as the pruned bench shape; the full
    * document is now ALSO hash-gated via [[fullReportOracle]]. No
    * profile/caption in the synthesis contains a UGC keyword, so
    * creator_type reduces to the follower threshold
    * (Extraction.pricing :850-870). */
  val oracles: Map[String, String] = Map(
    "ig_report_synth" -> fullReportOracle,
    "ig_report_synth_core" -> s"""
      WITH prof AS (
        SELECT 'c' || c_custkey AS username,
               CAST(trunc(abs(c_acctbal) * 100) AS BIGINT) AS follower_count
        FROM customer
      ),
      cnt AS (
        SELECT 'c' || o_custkey AS username,
               CAST(count(*) AS BIGINT) AS n_recent
        FROM orders
        WHERE epoch(o_orderdate) >= ${synthClock.cutoff(90)}
        GROUP BY 1
      )
      SELECT p.username,
             p.follower_count,
             CASE WHEN p.follower_count = 0 THEN 'Unknown'
                  WHEN p.follower_count < 5000 THEN 'Nano-Influencer'
                  WHEN p.follower_count < 50000 THEN 'Micro-Influencer'
                  WHEN p.follower_count < 500000 THEN 'Mid-Tier Influencer'
                  WHEN p.follower_count < 1000000 THEN 'Macro-Influencer'
                  ELSE 'Mega-Influencer' END AS creator_size,
             CASE WHEN p.follower_count < 1000 THEN 'UGC Creator'
                  ELSE 'Social Media Influencer' END AS creator_type,
             CASE WHEN p.follower_count < 1000 THEN 'Beginner'
                  WHEN p.follower_count < 10000 THEN '1K-10K'
                  WHEN p.follower_count < 50000 THEN '10K-50K'
                  WHEN p.follower_count < 500000 THEN '50K-500K'
                  ELSE '500K-1M+' END AS tier,
             CASE WHEN p.follower_count > 0 THEN coalesce(c.n_recent, 0) ELSE 0 END
               AS total_posts_last_3_months,
             coalesce(c.n_recent, 0) AS posts_analyzed_for_hashtags
      FROM prof p LEFT JOIN cnt c USING (username)
      ORDER BY username""")
}
