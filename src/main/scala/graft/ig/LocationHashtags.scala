package graft.ig

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Location analysis + 90-day hashtag/mention extraction — SURVEY §2.4
  * O-37/O-38/O-42/O-43, §2.7 O-67/O-68, faithful to
  * analyze_insta_enhanced.py:92-242 (analyze_location_data) and
  * :1545-1621 (extract_hashtags_and_mentions).
  *
  * Order semantics: Counter/dict iteration order in the reference is
  * first-insertion order and `most_common`/stable-sort tie-breaks favor
  * earlier insertion, so every top-k here carries a first-occurrence
  * (ordinal, position) key. Python-set outputs (location_hashtags) have
  * no defined order — we emit them sorted.
  *
  * Scale: one groupBy per output family on the creator key; top-k via
  * bounded windows; maps are bounded (≤24 hour keys, top-10 lists).
  */
object LocationHashtags {

  // ------------------------------------------------------------ location

  private val locationHashtagRe =
    "^(.*city|.*town|.*beach|.*park|.*street|.*travel|.*trip|.*vacation|.*holiday|nyc|la|sf|london|paris|tokyo|miami|vegas|chicago|boston)$"

  /** analyze_location_data (:92-242). One row per creator. */
  def locationAnalysis(posts: DataFrame, clock: IgClock): DataFrame = {
    // per-post location candidates in insertion order:
    // location.name first, then capitalized caption words (:110-160)
    val cands = posts.select(col("creator_key"), col("ordinal"),
      posexplode(concat(
        expr("CASE WHEN location IS NOT NULL AND location.name IS NOT NULL " +
          "AND location.name != '' THEN array(location.name) ELSE array() END"),
        expr("regexp_extract_all(coalesce(caption_text, ''), " +
          "'\\\\b([A-Z][a-z]{2,}(?:\\\\s+[A-Z][a-z]{2,})?)\\\\b', 1)"))))
      .select(col("creator_key"), col("ordinal"), col("pos"),
        expr("trim(col)").as("loc"))
      .filter(col("loc") =!= "")

    val locCounts = cands.groupBy("creator_key", "loc").agg(
      count(lit(1)).as("n"),
      min(struct(col("ordinal"), col("pos"))).as("first_seen"))

    val wFirst = Window.partitionBy("creator_key")
      .orderBy(col("first_seen.ordinal"), col("first_seen.pos"))

    // the reference counts over the ALREADY-DEDUPED list (:180-186):
    // `Counter(normalized_locations)` where normalized_locations has been
    // dedup'd — every count is 1, so most_common(10) ≡ first 10 in
    // insertion order
    val locAgg = locCounts
      .select(col("*"), row_number().over(wFirst).as("ins_rank"))
      .groupBy("creator_key").agg(
        expr("transform(array_sort(collect_list(struct(ins_rank, loc))), r -> r.loc)")
          .as("location_tags"),
        expr("transform(array_sort(collect_list(CASE WHEN ins_rank <= 10 " +
          "THEN struct(ins_rank, loc) END)), r -> r.loc)")
          .as("most_visited_locations"),
        count(lit(1)).as("travel_frequency"))
      .select(col("*"), least(lit(100L), col("travel_frequency") * 5).as("location_diversity_score"))

    // matched_us_cities: the reference matches distinct locations against
    // its US-city DB (:197-218), which ships as broken JSON, so the list
    // is always empty
    val emptyCities = expr("cast(array() as array<struct<input_location:string," +
      "matched_city:string,state:string>>)")

    // location_hashtags: lowercased #\w+ tags matching the 18 location
    // patterns; Python-set output → sorted for determinism (:139-160)
    val hashtagAgg = posts.select(col("creator_key"),
      explode(expr("regexp_extract_all(lower(coalesce(caption_text, '')), '#(\\\\w+)', 1)"))
        .as("tag"))
      .filter(col("tag").rlike(locationHashtagRe))
      .groupBy("creator_key")
      .agg(array_sort(array_distinct(collect_list(col("tag")))).as("location_hashtags"))

    // posting-hour histogram + timezone estimate (:162-241)
    val hours = posts
      .filter(coalesce(col("taken_at"), lit(0L)) =!= 0)
      .select(col("creator_key"), col("ordinal"), clock.localHour(col("taken_at")).as("h"))
      .groupBy("creator_key", "h")
      .agg(count(lit(1)).as("n_h"), min(col("ordinal")).as("first_ord"))
    val wHour = Window.partitionBy("creator_key")
      .orderBy(col("n_h").desc, col("first_ord"))
    val hourAgg = hours
      .select(col("*"), row_number().over(wHour).as("rk"))
      .groupBy("creator_key").agg(
        // Counter(posting_times) keeps first-occurrence order (:222-223)
        map_from_entries(expr(
          "transform(array_sort(collect_list(struct(first_ord, " +
            "struct(cast(h as string) as k, n_h as v) as e))), x -> x.e)"))
          .as("posting_timezone_pattern"),
        avg(when(col("rk") <= 5, col("h"))).as("avg_top5_hour"))
      .select(col("*"),
        when(col("avg_top5_hour").between(6, 10),
          lit("Morning poster (likely local timezone)"))
          .when(col("avg_top5_hour").between(11, 15),
            lit("Afternoon poster (likely local timezone)"))
          .when(col("avg_top5_hour").between(16, 22),
            lit("Evening poster (likely local timezone)"))
          .otherwise(lit("Night poster (possible different timezone)")).as("timezone_estimate"))

    ByCreator(posts.select("creator_key").distinct(), locAgg, hashtagAgg, hourAgg)(
        col("creator_key"),
        coalesce(col("location_tags"), expr("array()").cast("array<string>"))
          .as("location_tags"),
        coalesce(col("location_hashtags"), expr("array()").cast("array<string>"))
          .as("location_hashtags"),
        coalesce(col("most_visited_locations"), expr("array()").cast("array<string>"))
          .as("most_visited_locations"),
        coalesce(col("timezone_estimate"), lit("Unknown")).as("timezone_estimate"),
        coalesce(col("posting_timezone_pattern"), expr("map()").cast("map<string,bigint>"))
          .as("posting_timezone_pattern"),
        coalesce(col("travel_frequency"), lit(0L)).as("travel_frequency"),
        coalesce(col("location_diversity_score"), lit(0L)).as("location_diversity_score"),
        emptyCities.as("matched_us_cities"))
  }

  // ----------------------------------------------------------- hashtags

  private val mentionStopwords = Seq("the", "and", "for", "from", "with", "this",
    "that", "have", "has", "her", "his", "our", "my", "your", "their", "its",
    "as", "at", "by", "to", "in", "on", "of", "or", "if")

  /** extract_hashtags_and_mentions (:1545-1621). One row per creator:
    * top-10 hashtag and mention count maps over the last 90 days, plus
    * the analyzed-post count and date-range label. */
  def hashtagsMentions(posts: DataFrame, clock: IgClock, limit: Int = 10): DataFrame = {
    val cutoff = clock.cutoff(90)
    // a null taken_at raises TypeError in `taken_at < cutoff` and skips
    // the post (:1573-1576); a missing one defaults to 0 → also skipped
    val recent = posts.filter(col("taken_at").isNotNull && col("taken_at") >= cutoff)

    val counts = ByCreator(posts.select("creator_key").distinct(),
      recent.groupBy("creator_key").agg(count(lit(1)).as("posts_analyzed_for_hashtags")))(
        col("creator_key"),
        coalesce(col("posts_analyzed_for_hashtags"), lit(0L)).as("posts_analyzed_for_hashtags"))

    val sw = mentionStopwords.map(s => s"'$s'").mkString(",")
    val tagArr = "regexp_extract_all(lower(coalesce(caption_text, '')), '#([A-Za-z0-9_]+)', 1)"
    val menArr = "filter(regexp_extract_all(coalesce(caption_text, ''), '@([A-Za-z0-9._]+)', 1), " +
      s"m -> length(m) >= 3 AND lower(m) NOT IN ($sw))"

    def top(df: DataFrame, arrExpr: String, lowered: Boolean, out: String): DataFrame = {
      val items = df.select(col("creator_key"), col("ordinal"), posexplode(expr(arrExpr)))
        .select(col("*"), (if (lowered) col("col") else lower(col("col"))).as("key"))
      val grouped = items.groupBy("creator_key", "key").agg(
        count(lit(1)).as("n"),
        min(struct(col("ordinal"), col("pos"))).as("first_seen"))
      val w = Window.partitionBy("creator_key")
        .orderBy(col("n").desc, col("first_seen.ordinal"), col("first_seen.pos"))
      grouped.select(col("*"), row_number().over(w).as("rk")).filter(col("rk") <= limit)
        .groupBy("creator_key")
        .agg(map_from_entries(expr(
          "transform(array_sort(collect_list(struct(rk, struct(key, n)))), r -> r.col2)"))
          .as(out))
    }

    ByCreator(counts,
      top(recent, tagArr, lowered = true, "hashtags_last_90_days"),
      top(recent, menArr, lowered = false, "mentions_last_90_days"))(
        col("creator_key"), col("posts_analyzed_for_hashtags"),
        coalesce(col("hashtags_last_90_days"), expr("map()").cast("map<string,bigint>"))
          .as("hashtags_last_90_days"),
        coalesce(col("mentions_last_90_days"), expr("map()").cast("map<string,bigint>"))
          .as("mentions_last_90_days"),
        lit(s"${clock.cutoffStr(90)} to ${clock.todayStr}").as("hashtag_analysis_date_range"))
  }
}
