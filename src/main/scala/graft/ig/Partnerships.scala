package graft.ig

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.PyRound.pyround

/** Paid-partnership + collaboration analysis — SURVEY §2.4 O-39/O-40 and
  * §2.5 O-53, faithful to analyze_insta_enhanced.py:540-684
  * (detect_paid_partnerships), :1253-1487 (identify_collaborations) and
  * :1114-1251 (extract_ugc_examples).
  *
  * Three reference quirks replicated on purpose (verified against the
  * golden analyzed.json):
  *  1. `sponsor_frequency` reads the tag's TOP-LEVEL `username`
  *     (:598-603), but the data nests it under `sponsor.username` — the
  *     map is therefore always empty.
  *  2. The collaboration timeline iterates `post['sponsor_tags']` which
  *     is None for caption-detected sponsored posts (:660-667) —
  *     `for tag in None` raises TypeError, the broad except swallows it,
  *     and `collaboration_timeline`/`collaboration_score` keep their
  *     defaults ([] / 0) whenever such a post exists.
  *  3. Per-post `engagement_rate` in sponsored_posts is initialized to 0
  *     and never updated (:625).
  *
  * Scale: per-creator groupBy aggregations; the collab cascade is one
  * window dedup over bounded candidate sets (≤ posts×(1+owners+coauthors)
  * per creator) — no driver-side loops, no unbounded state.
  */
object Partnerships {

  private val bioIndicators = Seq(
    "brand ambassador", "sponsored", "partnership", "collab", "pr",
    "affiliate", "discount code", "promo code", "brand partner",
    "collaboration", "paid partnership", "#ad", "#sponsored")

  private val captionIndicators = Seq(
    "#ad", "#sponsored", "#partnership", "#collab", "#pr",
    "paid partnership", "sponsored by", "in collaboration with",
    "thanks to", "gifted by", "promo code", "discount code",
    "affiliate link", "brand ambassador", "#brandambassador")

  private def containsAny(c: Column, kws: Seq[String]): Column =
    kws.map(k => c.contains(lit(k))).reduce(_ || _)

  /** detect_paid_partnerships (:540-684). One row per creator. */
  def partnershipData(posts: DataFrame, profiles: DataFrame, clock: IgClock): DataFrame = {
    val cap = lower(coalesce(col("caption_text"), lit("")))
    val p = posts.select(col("*"),
      (containsAny(cap, captionIndicators) ||
        (col("sponsor_tags").isNotNull && size(col("sponsor_tags")) > 0)).as("is_sponsored"),
      (col("like_count") + col("comment_count")).as("total_engagement"),
      // (?U): Python's str \w is unicode-aware, Java's default is ASCII
      expr("regexp_extract_all(caption_text, '(?U)#(\\\\w+)', 1)").as("hashtags"),
      expr("regexp_extract_all(caption_text, '(?U)@(\\\\w+)', 1)").as("mentions"))

    val agg = p.groupBy("creator_key").agg(
      count(when(col("is_sponsored"), 1)).as("total_sponsored_posts"),
      avg(when(col("is_sponsored"), col("total_engagement"))).as("avg_s_raw"),
      avg(when(!col("is_sponsored"), col("total_engagement"))).as("avg_o_raw"),
      // quirk 2: TypeError iff any sponsored post has truthy taken_at and
      // null sponsor_tags — timeline and score then stay at defaults
      max(col("is_sponsored") && coalesce(col("taken_at"), lit(0L)) =!= 0
        && col("sponsor_tags").isNull).as("timeline_exception"),
      // sponsored_posts in edges order (:593-630)
      array_sort(collect_list(when(col("is_sponsored"), struct(
        col("ordinal"),
        struct(
          coalesce(col("id"), lit("")).as("id"),
          coalesce(col("code"), lit("")).as("code"),
          lit("").as("shortcode"),
          coalesce(col("caption_text"), lit("")).as("caption"),
          col("like_count"), col("comment_count"),
          coalesce(col("taken_at"), lit(0L)).as("taken_at"),
          col("is_video"), col("hashtags"), col("mentions"),
          // raw tag minus the phantom `username` probe field (document
          // key order: is_pending, sponsor)
          expr("transform(sponsor_tags, t -> struct(t.is_pending, t.sponsor))")
            .as("sponsor_tags"),
          lit(0).as("engagement_rate"),
          col("total_engagement")).as("sp"))))).as("sp_ranked"),
      // collaboration_timeline candidates (only reached when no exception)
      array_sort(collect_list(when(
        col("is_sponsored") && coalesce(col("taken_at"), lit(0L)) =!= 0, struct(
          clock.localDate(col("taken_at")).as("neg_date"), col("ordinal"),
          struct(
            clock.localDate(col("taken_at")).as("date"),
            coalesce(col("id"), lit("")).as("post_id"),
            expr("transform(coalesce(sponsor_tags, array()), t -> t.username)")
              .as("sponsors"),
            col("total_engagement").as("engagement")).as("e"))))).as("tl_ranked"),
      // quirk 1: top-level username is always null → empty in practice
      flatten(collect_list(
        expr("filter(transform(coalesce(sponsor_tags, array()), t -> t.username)," +
          " u -> u IS NOT NULL AND u != '')"))).as("all_sponsor_usernames"),
      // brand_mentions: distinct mentions minus the big platforms, in
      // first-occurrence order (golden order is Python-set order; compare
      // as sets)
      array_distinct(flatten(array_sort(collect_list(
        struct(col("ordinal"), expr(
          "filter(regexp_extract_all(coalesce(caption_text, ''), '(?U)@(\\\\w+)', 1)," +
            " m -> lower(m) NOT IN ('instagram','facebook','twitter'))").as("ms"))))
        .getField("ms"))).as("brand_mentions"))

    val bioDf = profiles.select(col("creator_key"),
      containsAny(lower(coalesce(col("biography"), lit(""))), bioIndicators)
        .as("bio_raw"))

    ByCreator(agg, bioDf)(col("*"),
        coalesce(col("bio_raw"), lit(false)).as("bio_partnerships"),
        expr("transform(sp_ranked, r -> r.sp)").as("sponsored_posts"),
        coalesce(col("avg_s_raw"), lit(0.0)).as("avg_sponsored_engagement"),
        coalesce(col("avg_o_raw"), lit(0.0)).as("avg_organic_engagement"),
        // sorted(key=date, reverse=True) is stable → edges order within a day
        when(col("timeline_exception"), expr("array()").cast(
          "array<struct<date:string,post_id:string,sponsors:array<string>,engagement:bigint>>"))
          .otherwise(expr(
            "transform(array_sort(tl_ranked, (a, b) -> CASE" +
              " WHEN a.neg_date > b.neg_date THEN -1 WHEN a.neg_date < b.neg_date THEN 1" +
              " WHEN a.ordinal < b.ordinal THEN -1 WHEN a.ordinal > b.ordinal THEN 1" +
              " ELSE 0 END), r -> r.e)")).as("collaboration_timeline"),
        expr("map_from_entries(transform(array_distinct(all_sponsor_usernames), " +
          "u -> struct(u, cast(size(filter(all_sponsor_usernames, x -> x = u)) as bigint))))")
          .as("sponsor_frequency"))
      .select(col("*"),
        when(col("avg_sponsored_engagement") > 0 && col("avg_organic_engagement") > 0,
          struct(
            pyround(col("avg_sponsored_engagement") / col("avg_organic_engagement"), 2)
              .as("sponsored_vs_organic_ratio"),
            (col("avg_sponsored_engagement") / col("avg_organic_engagement") > 1.0)
              .as("sponsored_performs_better"))).as("engagement_comparison"),
        (col("total_sponsored_posts") > 0 || col("bio_partnerships")).as("has_paid_partnerships"))
      .select(col("creator_key"), col("has_paid_partnerships"), col("total_sponsored_posts"),
        col("sponsor_frequency"), col("sponsored_posts"), col("collaboration_timeline"),
        col("avg_sponsored_engagement"), col("avg_organic_engagement"),
        col("engagement_comparison"), expr("array()").cast("array<string>").as("affiliate_links"),
        col("brand_mentions"),
        when(col("timeline_exception"), lit(0L)).otherwise(
          least(col("total_sponsored_posts") * 10, lit(40L)) +
            least(size(col("sponsor_frequency")).cast("long") * 15, lit(30L)) +
            when(col("bio_partnerships"), 20L).otherwise(0L) +
            when(coalesce(col("engagement_comparison.sponsored_performs_better"),
              lit(false)), 10L).otherwise(0L)).as("collaboration_score"))
  }

  private[ig] val mentionStopwords = Seq("the", "and", "for", "from", "with", "this",
    "that", "have", "has", "her", "his", "our", "my", "your", "their", "its",
    "as", "at", "by", "to", "in", "on", "of", "or", "if")

  /** Filtered @-mentions of one caption, in match order. */
  private def filteredMentions(caption: Column): Column = {
    val sw = mentionStopwords.map(s => s"'$s'").mkString(",")
    expr(s"filter(regexp_extract_all(coalesce(${caption.toString}, ''), " +
      s"'@([A-Za-z0-9._]+)', 1), m -> length(m) >= 3 AND lower(m) NOT IN ($sw))")
  }

  /** identify_collaborations (:1253-1487) + extract_ugc_examples
    * (:1114-1251). One row per creator (creators with ≥1 post).
    *
    * The reference's sequential seen-set cascade (paid-partnership
    * mentions → owners/coauthors in edges order → #ad/#collab mentions)
    * becomes: build every candidate with its (pass, ordinal, sub-index)
    * sequence key, window-dedup by name keeping the smallest key, then
    * re-assemble in sequence order.
    */
  def collaborations(posts: DataFrame, clock: IgClock): DataFrame = {
    val cutoff = clock.cutoff(300)
    val cap = lower(coalesce(col("caption_text"), lit("")))

    val wC = Window.partitionBy("creator_key")
    val flags = posts
      .select(col("*"),
        (coalesce(col("taken_at"), lit(0L)) =!= 0 && col("taken_at") > cutoff).as("is_recent"),
        first(col("user_username"))
          .over(Window.partitionBy("creator_key").orderBy("ordinal")).as("uname"),
        col("is_paid_partnership").as("is_paid"),
        (cap.contains("#ad") || cap.contains("#collab")).as("has_adcollab"))
      .select(col("*"),
        max(col("is_paid")).over(wC).as("any_paid"),
        min(when(col("is_paid"), col("ordinal"))).over(wC).as("first_paid_ord"),
        min(when(col("has_adcollab"), col("ordinal"))).over(wC).as("first_adcollab_ord"))

    // Every candidate a post contributes, in (pass, ord, sub) sequence
    // order. A candidate name is never null or empty (the filters below
    // and the mention regex guarantee it); the coalesce only tells the
    // schema so.
    def candidates(names: Column, source: String, pass: Int, ord: Column, subBase: Int,
                   keep: Column => Column): Column =
      filter(transform(names, (n, i) => struct(coalesce(n, lit("")).as("name"),
        lit(source).as("source"), lit(pass).as("pass"), ord.as("ord"),
        (i + subBase).cast("long").as("sub"))), c => keep(c.getField("name")))
    def foreign(n: Column): Column = n.isNotNull && n =!= "" && !(n <=> col("uname"))
    val mentions = filteredMentions(col("caption_text"))
    val cands = concat(
      // pass 1: mentions of the FIRST paid-partnership post (:1287-1327)
      candidates(mentions, "paid_partnership", 1, lit(0L), 0,
        _ => col("ordinal") === col("first_paid_ord")),
      // pass 2: owners then coauthors, all posts in edges order (:1333-1381)
      candidates(array(col("owner_username")), "owner", 2, col("ordinal").cast("long"), 0,
        foreign),
      candidates(coalesce(col("coauthor_usernames"), expr("array()").cast("array<string>")),
        "coauthor", 2, col("ordinal").cast("long"), 1, foreign),
      // pass 3: only when no paid post exists — mentions of the first
      // #ad/#collab post (:1384-1427)
      candidates(mentions, "tag", 3, lit(0L), 0,
        _ => !col("any_paid") && col("ordinal") === col("first_adcollab_ord")))

    val wName = Window.partitionBy(col("creator_key"), col("c.name"))
      .orderBy(col("c.pass"), col("c.ord"), col("c.sub"))
    val collabAgg = flags
      .select(col("creator_key"), col("is_recent"), explode(cands).as("c"))
      .select(col("*"), row_number().over(wName).as("rn"))
      .filter(col("rn") === 1)
      .groupBy("creator_key").agg(
        array_sort(collect_list(struct(col("c.pass"), col("c.ord"), col("c.sub"),
          struct(col("c.name"), lit(1L).as("count"), col("is_recent"),
            col("c.source")).as("c")))).as("ranked"),
        count(when(col("is_recent"), 1)).as("recent_collaborations"))
      .select(col("creator_key"), col("recent_collaborations"),
        expr("transform(ranked, r -> r.c)").as("all_collaborations"))
      .select(col("*"), size(col("all_collaborations")).cast("long").as("total_collaborations"))

    // final_status (:1277,1300,1407,1430-1465): Active iff any paid post,
    // or any #ad/#collab post, or (uname set and any foreign owner), or
    // (uname set and any foreign coauthor)
    val status = flags.groupBy("creator_key").agg(
      max(col("is_paid")).as("s_paid"),
      max(col("has_adcollab")).as("s_tag"),
      max(col("owner_username").isNotNull && col("owner_username") =!= "" &&
        !(col("owner_username") <=> col("uname")) && col("uname").isNotNull)
        .as("s_owner"),
      max(expr("exists(coalesce(coauthor_usernames, array()), " +
        "c -> c IS NOT NULL AND c != '' AND NOT c <=> uname)") && col("uname").isNotNull)
        .as("s_coauthor"))
      .select(col("creator_key"),
        when(col("s_paid") || col("s_tag") || col("s_owner") || col("s_coauthor"),
          lit("Active")).as("collaboration_status"))

    ByCreator(status, collabAgg, ugcExamples(posts))(
        col("creator_key"), col("collaboration_status"),
        coalesce(col("recent_collaborations"), lit(0L)).as("recent_collaborations"),
        coalesce(col("all_collaborations"), expr("array()").cast(
          "array<struct<name:string,count:bigint,is_recent:boolean,source:string>>"))
          .as("all_collaborations"),
        coalesce(col("total_collaborations"), lit(0L)).as("total_collaborations"),
        coalesce(col("ugc_examples"), lit("")).as("ugc_examples"))
  }

  /** extract_ugc_examples (:1114-1251): 4-pass cascade over clips only;
    * global order (pass, ordinal), dedup by code, first 3, joined as
    * instagram.com/p/ URLs. Passes 3-4 need a non-null first-post user. */
  def ugcExamples(posts: DataFrame): DataFrame = {
    val cap = lower(coalesce(col("caption_text"), lit("")))
    // every pass a clip qualifies for, one row each
    val passes = array(
      when(col("is_paid_partnership"), lit(1)),
      when(cap.contains("#ad") || cap.contains("#collab"), lit(2)),
      when(col("uname").isNotNull && col("owner_username").isNotNull &&
        col("owner_username") =!= "" && col("owner_username") =!= col("uname"), lit(3)),
      when(col("uname").isNotNull && expr(
        "exists(coalesce(coauthor_usernames, array()), c -> c IS NOT NULL AND c != '' AND c != uname)"),
        lit(4)))
    val wCode = Window.partitionBy("creator_key", "code").orderBy(col("pass"), col("ordinal"))
    posts
      .select(col("*"), first(col("user_username"))
        .over(Window.partitionBy("creator_key").orderBy("ordinal")).as("uname"))
      .filter(col("product_type") === "clips" &&
        col("code").isNotNull && col("code") =!= "")
      .select(col("creator_key"), col("code"), col("ordinal"),
        explode(filter(passes, _.isNotNull)).as("pass"))
      .select(col("*"), row_number().over(wCode).as("rn")).filter(col("rn") === 1)
      .select(col("*"), row_number().over(
        Window.partitionBy("creator_key").orderBy(col("pass"), col("ordinal"))).as("rk"))
      .filter(col("rk") <= 3)
      .groupBy("creator_key")
      .agg(array_join(expr("transform(array_sort(collect_list(struct(rk, code)))," +
        " r -> concat('https://www.instagram.com/p/', r.code))"), " | ")
        .as("ugc_examples"))
  }
}
