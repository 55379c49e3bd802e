package graft.ig

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.PyRound.{pyround, pyroundLong}

/** Engagement metrics — SURVEY §2.4 O-28..O-36, faithful to
  * analyze_insta_enhanced.py:390-538 (calculate_engagement_metrics) and
  * :1489-1543 (calculate_top_post_er).
  *
  * Semantic pins (SURVEY §4.2): Python `round` → [[graft.functions.PyRound]]
  * (half-even on the exact binary value — `bround` differs at
  * shortest-repr ties like 0.685);
  * `statistics.stdev` is the sample stddev → `stddev_samp`; hour/date
  * derivations use the injected [[IgClock]] zone; array-order-dependent
  * steps (split-half trend :500-511, tie-breaks of Counter.most_common
  * :490, stable sorts :514,1535) use the posexplode `ordinal`.
  *
  * Scale: everything is per-creator grouped aggregation + windows over
  * the creator key — partial+final combine, one hash shuffle; no
  * unbounded collect (top-k arrays are ≤6 elements).
  */
object Engagement {

  /** Per-post engagement score (:433): (likes + 2·comments)/max(f,1)·100. */
  private def score = (col("like_count") + col("comment_count") * 2).cast("double") /
    greatest(col("follower_count"), lit(1L)) * 100.0

  /** calculate_engagement_metrics (:390-538). One row per creator with
    * follower_count > 0 and ≥1 post; callers supply defaults otherwise. */
  def metrics(posts: DataFrame, profiles: DataFrame, clock: IgClock): DataFrame = {
    val p = posts
      .join(profiles.select(col("creator_key"), col("follower_count")), "creator_key")
      .filter(col("follower_count") > 0)
      .select(col("*"), score.as("score"))

    val wC = Window.partitionBy("creator_key")
    val annotated = p.select(col("*"),
      avg(col("score")).over(wC).as("mean_score_w"),
      // split-half trend (:501-505): "recent" = first half of the edges
      // array (scrape order, newest first), mid = n // 2
      expr("ordinal < count(1) OVER (PARTITION BY creator_key) div 2").as("is_recent_half"),
      (col("taken_at").isNotNull && col("taken_at") =!= 0).as("has_ts"))

    val main = annotated.groupBy("creator_key").agg(
      first(col("follower_count")).as("f"),
      count(lit(1)).as("total_posts_analyzed"),
      sum(col("like_count")).as("sum_l"),
      sum(col("comment_count")).as("sum_c"),
      avg(col("like_count")).as("mean_l"),
      avg(col("comment_count")).as("mean_c"),
      avg(col("score")).as("mean_score"),
      stddev_samp(col("score")).as("sd_score"),
      count(when(col("score") > col("mean_score_w") * 2, 1)).as("viral_posts_count"),
      sum(when(col("is_recent_half"), col("like_count"))).as("recent_sum_l"),
      count(when(col("is_recent_half"), 1)).as("recent_n"),
      sum(when(!col("is_recent_half"), col("like_count"))).as("older_sum_l"),
      count(when(!col("is_recent_half"), 1)).as("older_n"),
      max(when(col("has_ts"), col("taken_at"))).as("ts_max"),
      min(when(col("has_ts"), col("taken_at"))).as("ts_min"),
      count(when(col("has_ts"), 1)).as("n_ts"))

    val derived = main.select(col("*"),
      pyroundLong(col("mean_l")).as("avg_likes"),
      pyroundLong(col("mean_c")).as("avg_comments"),
      lit(0L).as("avg_shares"), // no share_count field exists (SURVEY §1.3)
      pyround((col("sum_l") + col("sum_c")).cast("double")
        / col("total_posts_analyzed") / col("f") * 100.0, 2).as("engagement_rate"),
      pyroundLong((col("sum_l") + col("sum_c")).cast("double") / col("total_posts_analyzed"))
        .as("avg_engagement_per_post"),
      when(col("total_posts_analyzed") > 1,
        pyround(greatest(lit(0.0),
          lit(100.0) - col("sd_score") / greatest(col("mean_score"), lit(0.1)) * 100.0), 1))
        .otherwise(lit(0.0)).as("consistency_score"),
      // mean consecutive gap of desc-sorted timestamps telescopes to
      // (max−min)/(n−1) (:466-470)
      when(col("n_ts") > 1,
        (col("ts_max") - col("ts_min")).cast("double") / (col("n_ts") - 1) / 86400.0)
        .as("avg_gap_days"),
      when(col("total_posts_analyzed") >= 10,
        when(col("recent_sum_l").cast("double") / col("recent_n")
          > col("older_sum_l").cast("double") / col("older_n") * 1.15, lit("Growing"))
          .when(col("recent_sum_l").cast("double") / col("recent_n")
            < col("older_sum_l").cast("double") / col("older_n") * 0.85, lit("Declining"))
          .otherwise(lit("Stable")))
        .otherwise(lit("Stable")).as("engagement_trend"))
      .select(col("*"),
        when(col("n_ts") <= 1, lit("Unknown"))
          .when(col("avg_gap_days") < 0.5, lit("Multiple times daily"))
          .when(col("avg_gap_days") < 1, lit("Daily"))
          .when(col("avg_gap_days") < 2, lit("Every other day"))
          .when(col("avg_gap_days") < 7, lit("Weekly"))
          .when(col("avg_gap_days") < 14, lit("Bi-weekly"))
          .otherwise(lit("Monthly or less")).as("post_frequency"))

    // best_posting_time (:487-498): modal hour; Counter.most_common ties
    // resolve by first insertion = first occurrence in edges order
    val hourCounts = annotated.filter(col("has_ts"))
      .select(col("creator_key"), col("ordinal"), clock.localHour(col("taken_at")).as("h"))
      .groupBy("creator_key", "h")
      .agg(count(lit(1)).as("n_h"), min(col("ordinal")).as("first_ord"))
    val wH = Window.partitionBy("creator_key").orderBy(col("n_h").desc, col("first_ord").asc)
    val bestHour = hourCounts
      .select(col("*"), row_number().over(wH).as("rn")).filter(col("rn") === 1)
      .select(col("creator_key"),
        when(col("h").between(6, 11), lit("Morning (6-11 AM)"))
          .when(col("h").between(12, 17), lit("Afternoon (12-5 PM)"))
          .when(col("h").between(18, 22), lit("Evening (6-10 PM)"))
          .otherwise(lit("Night (11 PM-5 AM)")).as("best_posting_time"))

    // latest 6 posts by taken_at desc (stable sort → ordinal tie-break,
    // :513-533); per-post ER (likes+comments)/f·100 rounded 2
    val wL = Window.partitionBy("creator_key")
      .orderBy(coalesce(col("taken_at"), lit(0L)).desc, col("ordinal").asc)
    val latestAgg = annotated
      .select(col("*"), row_number().over(wL).as("rn"),
        ((col("like_count") + col("comment_count")).cast("double")
          / col("follower_count") * 100.0).as("er_raw"))
      .filter(col("rn") <= 6)
      .groupBy("creator_key").agg(
        map_from_entries(array_sort(collect_list(
          struct(col("rn"), pyround(col("er_raw"), 2).as("er"))))).as("latest_map_raw"),
        array_sort(collect_list(struct(col("rn"), col("er_raw")))).as("latest_raw"))
      // Python sums the (unrounded) ERs sequentially in latest-first order
      // (:527) — replicate the exact left-fold so the final half-even
      // rounding sees the identical double
      .select(col("creator_key"),
        pyround(expr("aggregate(latest_raw, cast(0.0 as double), (a, x) -> a + x.er_raw)")
          / size(col("latest_raw")), 3).as("avg_latest_posts_er"),
        expr("map_from_entries(transform(map_entries(latest_map_raw), " +
          "e -> struct(concat('Post', e.key), e.value)))").as("latest_posts_er"))

    ByCreator(derived, bestHour, latestAgg)(
        col("creator_key"), col("avg_likes"), col("avg_comments"), col("avg_shares"),
        col("engagement_rate"), col("post_frequency"), col("engagement_trend"),
        coalesce(col("best_posting_time"), lit("Unknown")).as("best_posting_time"),
        col("total_posts_analyzed"), col("consistency_score"),
        col("viral_posts_count"), col("avg_engagement_per_post"), col("latest_posts_er"),
        col("avg_latest_posts_er"))
  }

  /** calculate_top_post_er (:1489-1543): 90-day window, interaction score
    * likes + 5·comments, top-6, avg of their (rounded) per-post ERs. */
  def topPosts(posts: DataFrame, profiles: DataFrame, clock: IgClock): DataFrame = {
    val cut = clock.cutoff(90)
    val w = Window.partitionBy("creator_key")
      .orderBy(col("interaction_score").desc, col("ordinal").asc)
    posts
      .join(profiles.select(col("creator_key"), col("follower_count")), "creator_key")
      .filter(col("follower_count") > 0 && coalesce(col("taken_at"), lit(0L)) >= cut)
      .select(col("*"), (col("like_count") + col("comment_count") * 5).as("interaction_score"))
      .select(col("*"),
        pyround(col("interaction_score").cast("double") / col("follower_count") * 100.0, 2)
          .as("er"),
        row_number().over(w).as("rn"))
      .groupBy("creator_key")
      .agg(
        count(lit(1)).as("total_posts_last_3_months"),
        array_sort(collect_list(when(col("rn") <= 6, struct(
          col("rn"),
          struct(
            col("interaction_score"), col("like_count").as("likes"),
            col("comment_count").as("comments"), col("er").as("engagement_rate"),
            coalesce(col("code"), lit("")).as("post_code"),
            clock.localDate(col("taken_at")).as("taken_at")).as("post"))))).as("ranked"))
      .select(col("creator_key"), col("total_posts_last_3_months"),
        expr("transform(ranked, r -> r.post)").as("top_6_posts"))
      // Python sums the rounded ERs sequentially in rank order (:1541) —
      // replicate the left-fold bit-for-bit before the half-even rounding
      .select(col("*"), pyround(expr(
        "aggregate(top_6_posts, cast(0.0 as double), (a, p) -> a + p.engagement_rate)")
        / size(col("top_6_posts")), 2).as("average_engagement_rate"))
  }
}
