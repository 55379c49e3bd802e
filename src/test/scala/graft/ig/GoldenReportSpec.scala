package graft.ig

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** End-to-end EP-2/EP-3 replay: full report assembly against golden
  * analyzed.json, plus the 130-column CSV flatten and txt report. */
class GoldenReportSpec extends AnyFunSuite {
  import Golden._

  lazy val report = Report.assemble(profiles, posts, IgClock.golden).cache()

  test("report assembles one row per creator, sorted by ER desc") {
    val rows = report.select("username", "average_engagement_rate").collect()
    assert(rows.length == 9)
    val ers = rows.map(_.getDouble(1))
    assert(ers.sameElements(ers.sortBy(-_)), "not sorted by ER desc")
  }

  test("report top-level scalars match golden for every creator") {
    val g = golden.select(col("username").as("k"),
      col("average_engagement_rate").as("g_er"),
      col("total_posts_last_3_months").as("g_n3m"),
      col("engagement_metrics.engagement_rate").as("g_er_overall"),
      col("engagement_metrics.consistency_score").as("g_cons"),
      col("fake_follower_analysis.authenticity_score").as("g_auth"),
      col("analyzed_date").as("g_date"))
    val rows = report.select(col("username").as("k"),
      col("average_engagement_rate"), col("total_posts_last_3_months"),
      col("engagement_metrics.engagement_rate").as("m_er_overall"),
      col("engagement_metrics.consistency_score").as("m_cons"),
      col("fake_follower_analysis.authenticity_score").as("m_auth"),
      col("analyzed_date"))
      .join(g, "k").collect()
    assert(rows.length == 9)
    rows.foreach { r =>
      val k = r.getAs[String]("k")
      assert(r.getAs[Double]("average_engagement_rate") == r.getAs[Double]("g_er"), s"$k er")
      assert(r.getAs[Long]("total_posts_last_3_months") == r.getAs[Long]("g_n3m"), s"$k n3m")
      assert(r.getAs[Double]("m_er_overall") == r.getAs[Double]("g_er_overall"), s"$k er_overall")
      assert(r.getAs[Double]("m_cons") == r.getAs[Double]("g_cons"), s"$k consistency")
      assert(r.getAs[Long]("m_auth") == r.getAs[Long]("g_auth"), s"$k authenticity")
      assert(r.getAs[String]("analyzed_date") == r.getAs[String]("g_date"), s"$k date")
    }
  }

  test("analyzed.json sink produces the report document shape") {
    val out = "/tmp/graft_test_analyzed_json"
    Report.writeAnalyzedJson(report, out, IgClock.golden)
    val doc = spark.read.option("multiLine", true).json(out)
    val r = doc.select("analysis_date", "total_creators_analyzed").collect()(0)
    assert(r.getString(0) == IgClock.golden.todayStr)
    assert(r.getLong(1) == 9)
    val creators = doc.select(explode(col("creators")).as("c")).select("c.username")
    assert(creators.count() == 9)
  }

  test("jsonl scale sink writes one creator per line plus a _meta doc") {
    val out = "/tmp/graft_test_analyzed_jsonl"
    Report.writeAnalyzedJsonl(report, out, IgClock.golden)
    val creators = spark.read.json(s"$out/creators")
    assert(creators.count() == 9)
    assert(creators.select("username").distinct().count() == 9)
    val meta = spark.read.json(s"$out/_meta").collect()(0)
    assert(meta.getAs[String]("analysis_date") == IgClock.golden.todayStr)
    assert(meta.getAs[Long]("total_creators_analyzed") == 9)
    // field parity with the single-document sink on a headline field
    val er = creators.select("username", "average_engagement_rate")
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    val direct = report.select("username", "average_engagement_rate")
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(er == direct)
  }

  test("csv flatten produces the 130-column contract in header order") {
    val flat = CsvFlatten.flatten(report)
    val expectedHeaders = Seq(
      "username", "full_name", "first_name", "last_name", "biography",
      "age_group", "age", "gender",
      "email", "phone_number", "follower_count", "creator_size", "creator_type", "tier",
      "business_category", "profile_picture",
      "tiktok_link", "youtube_link", "linktree_link", "other_social_media", "primary_social_link",
      "total_posts_last_3_months", "average_engagement_rate", "total_posts_analyzed", "engagement_rate_overall",
      "avg_likes", "avg_comments", "avg_shares", "avg_engagement_per_post",
      "consistency_score", "viral_posts_count", "post_frequency", "engagement_trend", "best_posting_time") ++
      (1 to 6).flatMap(i => Seq(s"post${i}_interaction_score", s"post${i}_likes",
        s"post${i}_comments", s"post${i}_er", s"post${i}_code", s"post${i}_url", s"post${i}_date")) ++ Seq(
      "collaboration_status", "total_collaborations", "recent_collaborations", "ugc_examples",
      "has_paid_partnerships", "total_sponsored_posts", "avg_sponsored_engagement",
      "avg_organic_engagement", "collaboration_score",
      "sponsor_frequency", "brand_mentions",
      "location_tags", "most_visited_locations", "location_hashtags", "timezone_estimate", "location_diversity_score",
      "bio_location", "primary_location_lat", "primary_location_lng", "primary_location_names", "primary_location_post_count",
      "matched_city", "matched_state", "matched_country", "matched_timezone", "location_distance_km",
      "fake_follower_score", "authenticity_score", "engagement_quality", "suspicious_indicators",
      "personality_traits", "profile_insights",
      "niche_overall", "niche_distribution", "niche_confidence_scores",
      "top_hashtags_90d", "top_mentions_90d", "posts_analyzed_for_hashtags", "hashtag_analysis_date_range",
      "creator_pricing_metrics", "estimated_roi", "impressions_visibility",
      "time_15_seconds", "time_30_seconds", "time_60_seconds", "time_1_to_5_minutes", "time_greater_than_5_minutes",
      "price_usd", "top_collaboration", "top_collaboration_brand_logo",
      "analyzed_date", "scraped_date", "source",
      "raw_analysis")
    assert(flat.columns.toSeq == expectedHeaders,
      s"header drift: ${flat.columns.toSeq.diff(expectedHeaders)} / ${expectedHeaders.diff(flat.columns.toSeq)}")
    assert(flat.columns.length == 130)

    val first = flat.collect()(0) // highest-ER creator
    val u = first.getAs[String]("username")
    assert(u.nonEmpty)
    assert(first.getAs[String]("primary_social_link") == s"https://www.instagram.com/$u")
    assert(first.getAs[String]("post1_url") == "https://www.instagram.com/p//")
    assert(first.getAs[String]("price_usd").startsWith("TIME_15_SECONDS:"))
    assert(!first.getAs[String]("biography").contains(","))
    assert(first.getAs[String]("raw_analysis").contains("\"username\""))
    assert(Seq("True", "False").contains(first.getAs[String]("has_paid_partnerships")))
  }

  test("txt summary contains the reference sections") {
    val txt = Report.txtSummaries(report)
      .filter(col("creator_key") === "lorrainesugc")
      .collect()(0).getAs[String]("text")
    val goldenTxt = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(Instagram.referenceDir(), "lorrainesugc/lorrainesugc_analysis.txt")), "UTF-8")
    Seq("COMPREHENSIVE INSTAGRAM PROFILE ANALYSIS & INSIGHTS REPORT",
      "📊 PROFILE OVERVIEW", "📈 ENGAGEMENT METRICS", "🎨 CONTENT ANALYSIS",
      "📖 BIOGRAPHY", "📱 Platform: Instagram",
      "🤖 Analysis Version: Instagram Analytics OOP").foreach { s =>
      assert(txt.contains(s), s"missing section: $s")
      assert(goldenTxt.contains(s), s"golden missing section: $s")
    }
    // spot-check dynamic lines against the golden file
    Seq("Username: @lorrainesugc", "Creator Size: ").foreach { s =>
      val gl = goldenTxt.linesIterator.find(_.startsWith(s))
      val ml = txt.linesIterator.find(_.startsWith(s))
      assert(gl.isDefined && ml == gl, s"line '$s': mine=$ml golden=$gl")
    }
  }

  test("social media stats aggregate") {
    val r = Report.socialMediaStats(report).collect()(0)
    assert(r.getAs[Long]("total_creators") == 9)
    assert(r.getAs[Long]("tiktok_count") >= 0)
  }
}
