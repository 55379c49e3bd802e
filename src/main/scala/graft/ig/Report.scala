package graft.ig

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Creator-report assembly — the EP-2 join of every analysis block back to
  * profiles (analyze_insta_enhanced.py:1769-1808), the analyzed.json
  * report sink (:2003-2022, SURVEY O-6/O-47), and the per-creator text
  * report (:1854-1934, SURVEY O-8).
  *
  * Scale: ~10 per-creator aggregate DataFrames equi-joined on the creator
  * key. Each input block is a partial+final hash aggregation over the
  * same key, so with the posts table pre-partitioned by creator_key the
  * joins are co-partitioned; the final orderBy is a bounded global sort
  * (one row per creator). No collect(), no driver loops.
  */
object Report {

  /** One row per creator with the full analyzed.json field set.
    *
    * Shuffle shape (measured at sf0.1-scale synthesis, 15 k creators /
    * 150 k posts): each analysis block shuffles its OWN pruned columns
    * on the creator key rather than sharing one wide repartition —
    * column pruning below the exchange moves less data in total than a
    * single shared full-width exchange would, and the blocks'
    * aggregations are partial+final so map-side combine shrinks each
    * shuffle further. A shared up-front repartition was benchmarked and
    * is not faster (pruning pushes through it, defeating reuse). */
  def assemble(profiles: DataFrame, posts: DataFrame, clock: IgClock): DataFrame = {
    val enriched = Extraction.enrich(profiles, posts)
    val metrics = Engagement.metrics(posts, profiles, clock)
    val top = Engagement.topPosts(posts, profiles, clock)
    val partnership = Partnerships.partnershipData(posts, profiles, clock)
    val collabs = Partnerships.collaborations(posts, clock)
    val fake = ProfileAnalysis.fakeFollowers(posts, profiles)
    val personality = ProfileAnalysis.personality(profiles, metrics)
    val nicheDf = ProfileAnalysis.niche(profiles)
    val location = LocationHashtags.locationAnalysis(posts, clock)
    val hashtags = LocationHashtags.hashtagsMentions(posts, clock)

    // nine joins and ONE projection, analyzed together: every default, the
    // engagement struct and the dates are expressions of the projection
    ByCreator(enriched, top, metrics, partnership.select(col("creator_key"), struct(
        col("has_paid_partnerships"), col("total_sponsored_posts"),
        col("sponsor_frequency"), col("sponsored_posts"),
        col("collaboration_timeline"), col("avg_sponsored_engagement"),
        col("avg_organic_engagement"), col("engagement_comparison"),
        col("affiliate_links"), col("brand_mentions"),
        col("collaboration_score")).as("partnership_data")),
      collabs, fake.select(col("creator_key"), struct(
        col("fake_follower_score"), col("suspicious_indicators"),
        col("authenticity_score"), col("engagement_quality"),
        col("comment_quality_score"), col("follower_growth_pattern"))
        .as("fake_follower_analysis")),
      personality, nicheDf, location.select(col("creator_key"), struct(
        col("location_tags"), col("location_hashtags"),
        col("most_visited_locations"), col("timezone_estimate"),
        col("posting_timezone_pattern"), col("travel_frequency"),
        col("location_diversity_score"), col("matched_us_cities"))
        .as("location_analysis")),
      hashtags)(
        col("creator_key"), col("username"), col("full_name"),
        col("ig_account_type"), col("first_name"), col("last_name"),
        col("biography"), col("phone_number"), col("follower_count"),
        col("creator_size"), col("gender"), col("email"),
        col("category").as("business_category"), col("profile_picture"),
        col("social_links"),
        // calculate_top_post_er returns (0, [], 0) when followers==0 or
        // no 90-day posts (:1496-1498)
        coalesce(col("total_posts_last_3_months"), lit(0L)).as("total_posts_last_3_months"),
        coalesce(col("top_6_posts"), expr(
          "cast(array() as array<struct<interaction_score:bigint,likes:bigint," +
            "comments:bigint,engagement_rate:double,post_code:string,taken_at:string>>)"))
          .as("top_6_posts"),
        coalesce(col("average_engagement_rate"), lit(0.0)).as("average_engagement_rate"),
        col("collaboration_status"), col("total_collaborations"),
        col("recent_collaborations"), col("ugc_examples"),
        col("all_collaborations").as("top_collaboration"), col("niche_data"),
        col("creator_type"), col("tier"), col("creator_pricing_metrics"),
        col("hashtags_last_90_days"), col("mentions_last_90_days"),
        col("posts_analyzed_for_hashtags"), col("hashtag_analysis_date_range"),
        // calculate_engagement_metrics defaults (:392-411)
        struct(
          coalesce(col("avg_likes"), lit(0L)).as("avg_likes"),
          coalesce(col("avg_comments"), lit(0L)).as("avg_comments"),
          coalesce(col("avg_shares"), lit(0L)).as("avg_shares"),
          coalesce(col("engagement_rate"), lit(0.0)).as("engagement_rate"),
          coalesce(col("post_frequency"), lit("Unknown")).as("post_frequency"),
          coalesce(col("engagement_trend"), lit("Stable")).as("engagement_trend"),
          coalesce(col("best_posting_time"), lit("Unknown")).as("best_posting_time"),
          coalesce(col("total_posts_analyzed"), lit(0L)).as("total_posts_analyzed"),
          coalesce(col("consistency_score"), lit(0.0)).as("consistency_score"),
          coalesce(col("viral_posts_count"), lit(0L)).as("viral_posts_count"),
          coalesce(col("avg_engagement_per_post"), lit(0L)).as("avg_engagement_per_post"),
          coalesce(col("latest_posts_er"), expr("map()").cast("map<string,double>"))
            .as("latest_posts_er"),
          col("avg_latest_posts_er")).as("engagement_metrics"),
        col("partnership_data"), col("location_analysis"), col("fake_follower_analysis"),
        col("personality_traits"), col("profile_insights"),
        lit(clock.todayStr).as("analyzed_date"), lit(clock.todayStr).as("scraped_date"))
      .orderBy(desc("average_engagement_rate"))
  }

  /** Distributed report sink for large creator sets: sorted JSON-lines
    * (one creator per line) plus a one-row `_meta` document. The
    * single-document contract below collects every creator into one row
    * — correct for the reference's report sizes, unbounded at 100 TB;
    * this is the shape that scales. */
  def writeAnalyzedJsonl(report: DataFrame, path: String, clock: IgClock): Unit = {
    report.orderBy(desc("average_engagement_rate"))
      .drop("creator_key")
      .write.mode("overwrite").json(s"$path/creators")
    val spark = report.sparkSession
    import spark.implicits._
    Seq((clock.todayStr, report.count()))
      .toDF("analysis_date", "total_creators_analyzed")
      .coalesce(1).write.mode("overwrite").json(s"$path/_meta")
  }

  /** analyzed.json sink (:2003-2022): a single JSON document
    * `{analysis_date, total_creators_analyzed, creators:[sorted]}` —
    * the reference's exact contract (use [[writeAnalyzedJsonl]] for
    * unbounded creator counts).
    *
    * Creator order is enforced INSIDE the aggregation: `collect_list`
    * does not preserve the upstream sort across shuffle fetches, so the
    * collected structs carry explicit sort keys (-rate, username) and are
    * `sort_array`-ed before the keys are projected away. The username
    * tie-break reproduces the reference's observed order (its
    * `sorted(..., reverse=True)` is stable over an alphabetical
    * directory listing, :2005). */
  def writeAnalyzedJson(report: DataFrame, path: String, clock: IgClock): Unit = {
    val doc = report
      .drop("creator_key")
      .agg(collect_list(struct(
        col("average_engagement_rate").as("_rate"),
        col("username").as("_user"),
        struct(col("*")).as("c"))).as("keyed"))
      // explicit comparator: the payload struct holds maps, which Spark's
      // natural struct ordering (sort_array) refuses to order
      .withColumn("keyed", expr(
        """array_sort(keyed, (a, b) -> CASE
             WHEN a._rate > b._rate THEN -1 WHEN a._rate < b._rate THEN 1
             WHEN a._user < b._user THEN -1 WHEN a._user > b._user THEN 1
             ELSE 0 END)"""))
      .select(
        lit(clock.todayStr).as("analysis_date"),
        size(col("keyed")).cast("long").as("total_creators_analyzed"),
        transform(col("keyed"), k => k.getField("c")).as("creators"))
    // one document → one file; the coalesce(1) is the report contract,
    // not a scale hazard (one row per creator upstream stays distributed)
    doc.coalesce(1).write.mode("overwrite").json(path)
  }

  /** Byte-exact analyzed.json sink: reproduces the reference artifact's
    * serialization — CPython `json.dump(..., indent=2, ensure_ascii=
    * False)` (analyze_insta_enhanced.py:2014-2017) — via [[PyJson]]:
    * insertion-order fields, explicit nulls, Python int/float forms, and
    * the artifact's CRLF line endings (the shipped file was written by
    * Python text-mode IO on Windows).
    *
    * Driver-side single-document assembly is the CONTRACT here (one JSON
    * file, like the reference); it is bounded by the creator count, and
    * [[writeAnalyzedJsonl]] remains the unbounded-scale sink. */
  def writeAnalyzedJsonPy(report: DataFrame, path: String, clock: IgClock,
                          eol: String = "\r\n"): Unit = {
    val sorted = report.orderBy(desc("average_engagement_rate"), asc("username"))
      .drop("creator_key")
    val schema = sorted.schema
    // executeCollect returns InternalRows whose MapData keeps entry order
    // (the external Row converter would rebuild >4-entry maps as HashMap)
    val rows = sorted.queryExecution.executedPlan.executeCollect()
    val sb = new StringBuilder(1 << 20)
    sb.append("{\n")
    sb.append("  \"analysis_date\": ").append(PyJson.pyString(clock.nowStr)).append(",\n")
    sb.append("  \"total_creators_analyzed\": ").append(rows.length).append(",\n")
    sb.append("  \"creators\": [")
    var i = 0
    while (i < rows.length) {
      sb.append(if (i == 0) "\n    " else ",\n    ")
      sb.append(PyJson.renderRow(rows(i), schema, 4))
      i += 1
    }
    if (rows.nonEmpty) sb.append("\n  ")
    sb.append("]\n}")
    val text = if (eol == "\n") sb.toString else sb.toString.replace("\n", eol)
    java.nio.file.Files.write(java.nio.file.Paths.get(path),
      text.getBytes(java.nio.charset.StandardCharsets.UTF_8))
  }

  /** Per-creator *_analysis.txt content (:1854-1934) as (creator_key,
    * text) rows — a formatted-text sink via expressions, no UDFs. */
  def txtSummaries(report: DataFrame): DataFrame = {
    val bar = "=" * 120
    val sub = "-" * 60
    // dict.get(k, 'N/A') returns None — printed "None" — when the key
    // exists with a null value, which is always the case here (:1866-1899)
    def na(c: Column): Column = coalesce(c.cast("string"), lit("None"))
    val header = concat_ws("\n",
      lit(bar), lit("COMPREHENSIVE INSTAGRAM PROFILE ANALYSIS & INSIGHTS REPORT "),
      lit(bar), lit(""),
      lit("📊 PROFILE OVERVIEW"), lit(sub),
      concat(lit("Username: @"), na(col("username"))),
      concat(lit("Full Name: "), na(col("full_name"))),
      concat(lit("Follower Count: "), format_number(coalesce(col("follower_count"), lit(0L)), 0)),
      concat(lit("Creator Size: "), na(col("creator_size"))),
      concat(lit("Gender: "), coalesce(col("gender"), lit("Unknown"))),
      concat(lit("Business Category: "), na(col("business_category"))),
      concat(lit("Email: "), na(col("email"))),
      concat(lit("Phone: "), na(col("phone_number"))), lit(""),
      lit("📈 ENGAGEMENT METRICS"), lit(sub),
      // the no-recent-posts path returns the INT 0 (round(0, 2) stays
      // int, :1496-1543), printed "0" not "0.0"
      concat(lit("Average Engagement Rate: "),
        when(col("total_posts_last_3_months") === 0, lit("0"))
          .otherwise(col("average_engagement_rate").cast("string")), lit("%")),
      concat(lit("Total Posts (Last 3 Months): "),
        coalesce(col("total_posts_last_3_months").cast("string"), lit("0"))),
      concat(lit("Collaboration Status: "), coalesce(col("collaboration_status"), lit("None"))),
      concat(lit("Total Collaborations: "),
        coalesce(col("total_collaborations").cast("string"), lit("0"))),
      concat(lit("Creator Type: "), na(col("creator_type"))),
      concat(lit("Tier: "), na(col("tier"))), lit(""),
      lit("🎨 CONTENT ANALYSIS"), lit(sub),
      concat(lit("Primary Niche: "), na(col("niche_data.overall_niche"))))
    val nicheDist = when(size(col("niche_data.distribution")) > 0,
      concat(lit("Niche Distribution:\n"), array_join(transform(
        map_entries(col("niche_data.distribution")),
        e => concat(lit("  • "), e.getField("key"), lit(": "),
          e.getField("value").cast("string"), lit("%"))), "\n"), lit("\n")))
      .otherwise(lit(""))
    val hashtagBlock = when(size(col("hashtags_last_90_days")) > 0,
      concat(lit("🏷️ TOP HASHTAGS (Last 90 Days)\n"), lit(sub + "\n"),
        array_join(transform(map_entries(col("hashtags_last_90_days")),
          e => concat(lit("#"), e.getField("key"), lit(": "),
            e.getField("value").cast("string"), lit(" uses"))), "\n"), lit("\n\n")))
      .otherwise(lit(""))
    val mentionBlock = when(size(col("mentions_last_90_days")) > 0,
      concat(lit("👥 TOP MENTIONS (Last 90 Days)\n"), lit(sub + "\n"),
        array_join(transform(map_entries(col("mentions_last_90_days")),
          e => concat(lit("@"), e.getField("key"), lit(": "),
            e.getField("value").cast("string"), lit(" mentions"))), "\n"), lit("\n\n")))
      .otherwise(lit(""))
    val footer = concat_ws("\n",
      lit("📖 BIOGRAPHY"), lit(sub),
      concat(coalesce(col("biography"), lit("No biography available.")), lit("\n")),
      lit(bar),
      concat(lit("📅 Report Generated: "), na(col("analyzed_date"))),
      lit("📱 Platform: Instagram"),
      lit("🤖 Analysis Version: Instagram Analytics OOP"),
      lit(bar), lit(""))
    report.select(col("creator_key"),
      concat(header, lit("\n"), nicheDist, lit("\n"),
        hashtagBlock, mentionBlock, footer).as("text"))
  }

  /** display_social_media_stats (jsontocsv_enhanced.py:323-340, SURVEY
    * O-44): global platform-presence counts + percentages. */
  def socialMediaStats(report: DataFrame): DataFrame = {
    def cnt(c: Column): Column = count(when(c.isNotNull && (c =!= ""), 1))
    report.agg(
      count(lit(1)).as("total_creators"),
      cnt(col("social_links.tiktok")).as("tiktok_count"),
      cnt(col("social_links.youtube")).as("youtube_count"),
      cnt(col("social_links.linktree")).as("linktree_count"),
      count(when(
        (when(col("social_links.tiktok").isNotNull && col("social_links.tiktok") =!= "", 1).otherwise(0) +
          when(col("social_links.youtube").isNotNull && col("social_links.youtube") =!= "", 1).otherwise(0) +
          when(col("social_links.linktree").isNotNull && col("social_links.linktree") =!= "", 1).otherwise(0)) > 1, 1))
        .as("multi_platform_count"))
      .withColumn("tiktok_pct",
        round(col("tiktok_count") * 100.0 / nullif(col("total_creators"), lit(0)), 1))
      .withColumn("youtube_pct",
        round(col("youtube_count") * 100.0 / nullif(col("total_creators"), lit(0)), 1))
      .withColumn("linktree_pct",
        round(col("linktree_count") * 100.0 / nullif(col("total_creators"), lit(0)), 1))
      .withColumn("multi_platform_pct",
        round(col("multi_platform_count") * 100.0 / nullif(col("total_creators"), lit(0)), 1))
  }
}
