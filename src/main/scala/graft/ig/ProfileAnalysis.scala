package graft.ig

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.PyRound.{pyround, pyroundLong}

/** Fake-follower detection, personality insights and niche classification —
  * SURVEY §2.4 O-41/O-46, §2.7 O-56/O-58, faithful to
  * analyze_insta_enhanced.py:244-310 (detect_fake_followers),
  * :312-388 (analyze_profile_personality), :962-1112 (identify_niche).
  *
  * Scale notes: fake-follower and personality are single-projection /
  * single-groupBy computations. Niche tokenizes three profile text fields,
  * explodes tokens and joins a ~300-row broadcast keyword→category
  * dimension — the SURVEY §2.7 recommended shape: the dimension join and
  * per-(creator,keyword)/(creator,category) aggregations are all
  * partial+final hash aggs on the creator key, no driver loops.
  */
object ProfileAnalysis {

  // ---------------------------------------------------------------- fake

  /** detect_fake_followers (:244-310). Reference quirks kept: totals are
    * summed over the first 20 posts but divided by the FULL post count
    * (:269-278); `comment_quality_score` and `follower_growth_pattern`
    * are never updated. */
  def fakeFollowers(posts: DataFrame, profiles: DataFrame): DataFrame = {
    val agg = posts.groupBy("creator_key").agg(
      count(lit(1)).as("post_count"),
      sum(when(col("ordinal") < 20, col("like_count"))).as("tl"),
      sum(when(col("ordinal") < 20, col("comment_count"))).as("tc"))
    // the divisions are guarded by `computed`: the default path (no
    // posts / 0 followers, :262-263) must not evaluate them (ANSI
    // divide-by-zero)
    ByCreator(profiles.select(col("creator_key"),
      coalesce(col("follower_count"), lit(0L)).as("f"),
      coalesce(col("following_count"), lit(0L)).as("fg")), agg)(
        col("*"), (coalesce(col("post_count"), lit(0L)) > 0 && col("f") > 0).as("computed"))
      .select(col("*"),
        when(col("computed"), col("tl").cast("double") / col("post_count")).as("avg_l"),
        when(col("computed"), col("tc").cast("double") / col("post_count")).as("avg_c"),
        when(col("computed"),
          (col("tl") + col("tc")).cast("double") / col("post_count") / col("f") * 100.0).as("er"))
      .select(col("*"),
        (col("computed") && col("er") < 0.5).as("i1"),
        (col("computed") && col("f") > 10000 && col("fg") < 100 && col("er") < 1).as("i2"),
        (col("computed") && col("avg_l") > 100 && col("avg_c") < col("avg_l") * 0.01).as("i3"))
      .select(col("creator_key"),
        (when(col("i1"), 30L).otherwise(0L) + when(col("i2"), 25L).otherwise(0L) +
          when(col("i3"), 20L).otherwise(0L)).as("fake_follower_score"),
        expr("filter(array(" +
          "IF(i1, 'Very low engagement rate', NULL)," +
          "IF(i2, 'High follower count with very low following and engagement', NULL)," +
          "IF(i3, 'Disproportionately low comment rate', NULL)), x -> x IS NOT NULL)")
          .as("suspicious_indicators"))
      .select(col("creator_key"), col("fake_follower_score"), col("suspicious_indicators"),
        greatest(lit(0L), lit(100L) - col("fake_follower_score")).as("authenticity_score"),
        when(col("fake_follower_score") > 50, lit("Poor"))
          .when(col("fake_follower_score") > 25, lit("Moderate"))
          .otherwise(lit("Good")).as("engagement_quality"),
        lit(0L).as("comment_quality_score"),
        lit("Natural").as("follower_growth_pattern"))
  }

  // --------------------------------------------------------- personality

  private def presenceCount(c: Column, kws: Seq[String]): Column =
    kws.map(k => when(c.contains(lit(k)), 1L).otherwise(0L)).reduce(_ + _)

  /** analyze_profile_personality (:312-388). `metrics` must carry
    * post_frequency / consistency_score / engagement_rate (the already-
    * rounded values, as the reference feeds its own output back in). */
  def personality(profiles: DataFrame, metrics: DataFrame): DataFrame = {
    val professionalW = Seq("ceo", "founder", "entrepreneur", "business",
      "professional", "expert", "consultant", "coach")
    val creativeW = Seq("artist", "creative", "designer", "photographer",
      "writer", "musician", "creator")
    val socialW = Seq("love", "friends", "family", "community", "together",
      "sharing", "connect")

    val bio = lower(coalesce(col("biography"), lit("")))
    ByCreator(profiles.select(col("creator_key"), col("biography")),
      metrics.select(col("creator_key"), col("post_frequency"),
        col("consistency_score"), col("engagement_rate")))(col("*"),
        coalesce(col("post_frequency"), lit("Unknown")).as("pf"),
        coalesce(col("consistency_score"), lit(0.0)).as("cs"),
        coalesce(col("engagement_rate"), lit(0.0)).as("er"))
      .select(col("*"),
        (presenceCount(bio, professionalW) + when(col("cs") > 70, 1L).otherwise(0L))
          .as("t_professional"),
        presenceCount(bio, creativeW).as("t_creative"),
        presenceCount(bio, socialW).as("t_social"),
        when(lower(col("pf")).contains("daily"), 2L).otherwise(0L).as("t_authentic"))
      .select(col("*"),
        struct(
          col("t_professional").as("professional"), col("t_creative").as("creative"),
          col("t_social").as("social"), col("t_authentic").as("authentic"),
          lit(0L).as("aspirational"), lit(0L).as("educational"),
          lit(0L).as("entertaining")).as("personality_traits"),
        // max() takes the FIRST maximum in dict insertion order
        greatest(col("t_professional"), col("t_creative"),
          col("t_social"), col("t_authentic")).as("mx"),
        pyroundLong(
          col("cs") / 100.0 * 30.0 +
            least(col("t_social").cast("double") * 10.0, lit(30.0)) +
            least(col("er") * 2.0, lit(40.0))).as("authenticity_score"),
        (col("t_professional").cast("double") * 20.0 + col("er") * 5.0 + col("cs"))
          .as("brand_score"))
      .select(col("creator_key"), col("personality_traits"), col("authenticity_score"),
        when(col("mx") === 0, lit("Balanced"))
          .when(col("t_professional") === col("mx"), lit("Professional"))
          .when(col("t_creative") === col("mx"), lit("Creative"))
          .when(col("t_social") === col("mx"), lit("Social"))
          .otherwise(lit("Authentic")).as("personality_type"),
        when(col("brand_score") > 150, lit("High"))
          .when(col("brand_score") > 75, lit("Medium"))
          .otherwise(lit("Low")).as("brand_potential"))
      .select(col("creator_key"), col("personality_traits"), struct(
        col("personality_type"), lit("Mixed").as("content_style"),
        lit("General").as("audience_appeal"), col("brand_potential"),
        col("authenticity_score")).as("profile_insights"))
  }

  // --------------------------------------------------------------- niche

  /** Niche category → keywords seed table (:965-986), verbatim incl.
    * duplicate keywords within ("skincare"×2 in Beauty, "parenting"×2 in
    * Family) and across categories ("health", "artist", "money", …). */
  val nicheCategories: Seq[(String, Seq[String])] = Seq(
    "Fashion & Style" -> Seq("fashion", "style", "outfit", "clothing", "model", "dress", "accessories", "fashionista", "ootd", "stylist", "boutique", "wardrobe", "trend", "chic"),
    "Beauty" -> Seq("makeup", "skincare", "beauty", "cosmetics", "haircare", "nails", "glam", "makeupartist", "beautician", "mua", "skincare", "beautyblogger", "makeover", "cosmetic"),
    "Lifestyle" -> Seq("lifestyle", "life", "daily", "routine", "inspiration", "motivation", "blogger", "lifestyleblogger", "living", "vibes", "mindful", "wellness"),
    "Fitness" -> Seq("fitness", "workout", "gym", "exercise", "health", "training", "muscle", "fit", "fitnessmotivation", "trainer", "bodybuilding", "crossfit", "yoga", "pilates"),
    "Health" -> Seq("health", "wellness", "nutrition", "diet", "healthy", "mindfulness", "meditation", "nutritionist", "dietitian", "wellbeing", "mental", "holistic"),
    "Food" -> Seq("food", "cooking", "recipe", "chef", "foodie", "cuisine", "baking", "delicious", "yummy", "foodblogger", "culinary", "restaurant", "eats", "tasty", "kitchen"),
    "Travel" -> Seq("travel", "wanderlust", "adventure", "explore", "tourism", "vacation", "trip", "journey", "destination", "traveler", "backpacker", "nomad", "wanderer", "explorer"),
    "Technology" -> Seq("technology", "tech", "gadget", "device", "software", "app", "smartphone", "computer", "digital", "innovation", "startup", "coding", "developer", "geek"),
    "Gaming" -> Seq("gaming", "gamer", "videogames", "game", "esports", "playstation", "xbox", "nintendo", "streamer", "twitch", "console", "pc", "mobile", "rpg"),
    "Entertainment" -> Seq("entertainment", "movie", "film", "tv", "television", "cinema", "streaming", "actor", "actress", "celebrity", "show", "series", "netflix"),
    "Comedy" -> Seq("comedy", "funny", "humor", "laugh", "joke", "prank", "skit", "comedian", "hilarious", "meme", "viral", "comic", "witty"),
    "Education" -> Seq("education", "learning", "school", "knowledge", "teach", "study", "student", "lesson", "teacher", "tutor", "academic", "university", "college", "learn"),
    "Business" -> Seq("business", "entrepreneur", "marketing", "startup", "success", "money", "ceo", "founder", "corporate", "leadership", "boss", "hustle", "businesswoman"),
    "Finance" -> Seq("finance", "investing", "stocks", "cryptocurrency", "money", "financial", "wealth", "investor", "trader", "bitcoin", "crypto", "forex", "portfolio"),
    "Art & Design" -> Seq("art", "artist", "drawing", "painting", "creative", "design", "illustration", "designer", "painter", "sculptor", "gallery", "artwork", "canvas"),
    "Music" -> Seq("music", "musician", "song", "singer", "artist", "band", "concert", "producer", "dj", "songwriter", "vocalist", "guitarist", "pianist", "rapper"),
    "Dance" -> Seq("dance", "dancer", "choreography", "ballet", "hiphop", "contemporary", "ballroom", "choreographer", "studio", "performance", "movement"),
    "Sports" -> Seq("sports", "athlete", "basketball", "football", "soccer", "baseball", "tennis", "coach", "player", "team", "competition", "championship", "olympics"),
    "Pets & Animals" -> Seq("pets", "dog", "cat", "animal", "puppy", "kitten", "wildlife", "veterinarian", "petcare", "rescue", "adoption", "dogtrainer", "animallover"),
    "Family & Parenting" -> Seq("family", "parenting", "mom", "dad", "children", "kids", "baby", "mother", "father", "parent", "motherhood", "fatherhood", "parenting", "toddler"))

  private val allKeywords: Seq[String] = nicheCategories.flatMap(_._2).distinct

  private def sq(s: String) = "'" + s.replace("'", "\\'") + "'"

  /** Python str.split() whitespace (incl. NBSP etc.), lowered tokens. */
  private def wsTokens(c: Column): Column = {
    val ws = "[\\\\s\\\\u0085\\\\u00a0\\\\u1680\\\\u2000-\\\\u200a\\\\u2028\\\\u2029\\\\u202f\\\\u205f\\\\u3000]+"
    expr(s"filter(transform(split(${c.toString}, '$ws'), t -> lower(t)), t -> t != '')")
  }

  /** Matched-token arrays per source (order + duplicates preserved),
    * replicating the per-source tokenizers (:1016-1027). */
  def matchedArrays(profiles: DataFrame): DataFrame = {
    val inKw = allKeywords.map(sq).mkString(",")
    def matched(tokens: Column): Column =
      expr(s"filter(${tokens.toString}, t -> t IN ($inKw))")
    profiles
      .select(col("*"),
        translate(coalesce(col("biography"), lit("")), ",\n", "  ").as("bio_clean"),
        translate(coalesce(col("full_name"), lit("")), ",\n", "  ").as("fn_clean"),
        translate(regexp_replace(coalesce(col("username"), lit("")), "^_+|_+$", ""),
          "_.", "  ").as("un_clean"))
      .select(col("*"),
        matched(wsTokens(col("bio_clean"))).as("m_bio"),
        // username tokens additionally drop 1-char tokens (:1022-1023)
        matched(expr(
          "filter(" + wsTokens(col("un_clean")).toString + ", t -> length(t) > 1)")).as("m_un"),
        matched(wsTokens(col("fn_clean"))).as("m_fn"))
  }

  /** identify_niche (:962-1112). One row per creator. */
  def niche(profiles: DataFrame): DataFrame = {
    import profiles.sparkSession.implicits._
    val kwToCat = nicheCategories.zipWithIndex.flatMap { case ((cat, kws), ci) =>
      kws.distinct.map(kw => (kw, cat, ci))
    }

    val base = matchedArrays(profiles)

    // token rows in insertion order: biography → username → full_name
    val tokRows = base.select(col("creator_key"), posexplode(concat(
      expr("transform(m_bio, t -> struct(0 as src, 'biography' as src_name, 1.5D as w, t as kw))"),
      expr("transform(m_un, t -> struct(1 as src, 'username' as src_name, 2.0D as w, t as kw))"),
      expr("transform(m_fn, t -> struct(2 as src, 'full_name' as src_name, 1.0D as w, t as kw))"))))
      .select(col("creator_key"), col("pos").as("gidx"), col("col.*"))

    // per-(creator, keyword): count, summed source weights, occurrence order
    val kwStats = tokRows.groupBy("creator_key", "kw").agg(
      count(lit(1)).as("cnt"),
      sum(col("w")).as("wsum"),
      min(col("gidx")).as("first_idx"),
      expr("transform(array_sort(collect_list(struct(gidx, src_name))), s -> s.src_name)")
        .as("sources"))

    val catDim = kwToCat.toDF("kw", "cat", "cat_idx")

    // per-(creator, category): score = Σ (Σ weights) × count  (:1049-1062 —
    // the reference double-counts by multiplying the occurrence-summed
    // weight by the occurrence count; replicated on purpose)
    val catStats = kwStats.join(broadcast(catDim), "kw")
      .groupBy("creator_key", "cat", "cat_idx").agg(
        sum(col("wsum") * col("cnt")).as("score"),
        expr("transform(array_sort(collect_list(struct(first_idx, " +
          "struct(kw as keyword, cnt as count, sources, wsum * cnt as weighted_score))))," +
          " d -> d.col2)").as("detailed"))

    val perCreator = catStats.groupBy("creator_key").agg(
      map_from_entries(collect_list(struct(col("cat"), col("score")))).as("score_map"),
      map_from_entries(collect_list(struct(col("cat"), col("detailed")))).as("detailed_map"),
      min(when(col("score") > 0,
        struct(-col("score"), col("cat_idx"), col("cat")))).as("best"))

    val orderedKw = tokRows.groupBy("creator_key").agg(
      expr("transform(array_sort(collect_list(struct(gidx, kw))), s -> s.kw)")
        .as("matched_keywords"))
    // dict insertion order = first occurrence of each keyword across the
    // biography→username→full_name scan (:1030-1033)
    val kwSources = kwStats.groupBy("creator_key").agg(
      map_from_entries(expr(
        "transform(array_sort(collect_list(struct(first_idx, " +
          "struct(kw, sources) as e))), x -> x.e)"))
        .as("keyword_sources"))

    val catArray = "array(" + nicheCategories.map(c => sq(c._1)).mkString(",") + ")"
    val emptyDetailed = "cast(array() as " +
      "array<struct<keyword:string,count:bigint,sources:array<string>,weighted_score:double>>)"

    ByCreator(base.select(col("creator_key"), col("biography"), col("username"),
      col("full_name"), col("m_bio"), col("m_un"), col("m_fn")),
      perCreator, orderedKw, kwSources)(
        col("creator_key"), col("biography"), col("username"), col("full_name"),
        col("best"),
        coalesce(col("matched_keywords"), expr("array()").cast("array<string>"))
          .as("matched_keywords"),
        coalesce(col("keyword_sources"), expr("map()").cast("map<string,array<string>>"))
          .as("keyword_sources"),
        expr(s"transform($catArray, c -> struct(c as cat, coalesce(score_map[c], 0D) as score))")
          .as("scores_all"),
        expr(s"map_from_entries(transform($catArray, " +
          s"c -> struct(c, coalesce(detailed_map[c], $emptyDetailed))))").as("detailed_matches"),
        struct(
          when(coalesce(col("biography"), lit("")) =!= "", struct(
            col("biography").as("text"), col("m_bio").as("matched_keywords"),
            size(col("m_bio")).cast("long").as("match_count"))).as("biography"),
          when(coalesce(col("username"), lit("")) =!= "", struct(
            col("username").as("text"), col("m_un").as("matched_keywords"),
            size(col("m_un")).cast("long").as("match_count"))).as("username"),
          when(coalesce(col("full_name"), lit("")) =!= "", struct(
            col("full_name").as("text"), col("m_fn").as("matched_keywords"),
            size(col("m_fn")).cast("long").as("match_count"))).as("full_name"))
          .as("source_analysis"))
      .select(col("*"),
        expr("greatest(aggregate(scores_all, 0D, (a, s) -> a + s.score), 1D)").as("total_score"),
        expr("greatest(aggregate(scores_all, 0D, (a, s) -> greatest(a, s.score)), 1D)")
          .as("max_score"),
        // dict(sorted_niches) — score desc, ties stable in category order
        // (:1072,1108)
        expr("map_from_entries(transform(array_sort(transform(scores_all, " +
          "(s, i) -> struct(-s.score as k1, i as k2, s.cat as cat, s.score as score)))," +
          " x -> struct(x.cat, x.score)))").as("niche_scores"))
      .select(col("creator_key"), struct(
        col("best.cat").as("overall_niche"),
        map_filter(
          map_from_entries(transform(
            filter(col("scores_all"), s => s.getField("score") > 0),
            s => struct(s.getField("cat").as("k"),
              pyround(s.getField("score") / col("total_score") * 100, 1).as("v")))),
          (_, v) => v >= 2).as("distribution"),
        expr("map_from_entries(transform(scores_all, " +
          "s -> struct(s.cat, least(100, cast(s.score / max_score * 100 as int)))))")
          .as("confidence_scores"),
        col("matched_keywords"), col("keyword_sources"),
        col("source_analysis"), col("detailed_matches"), col("niche_scores"),
        coalesce(col("biography"), lit("")).as("biography_analyzed"),
        coalesce(col("username"), lit("")).as("username_analyzed"),
        coalesce(col("full_name"), lit("")).as("full_name_analyzed")).as("niche_data"))
  }

}
