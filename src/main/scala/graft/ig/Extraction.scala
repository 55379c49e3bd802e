package graft.ig

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Profile-level scalar extraction — SURVEY §2.7 O-57, O-59..O-65,
  * faithful to analyze_insta_enhanced.py:686-960, 1623-1701, 1814-1852.
  * All pure per-row expressions (one narrow projection over profiles,
  * plus one boolean aggregate over posts for the UGC caption scan) —
  * codegen-friendly, no UDFs, no shuffle beyond the posts flag join.
  */
object Extraction {

  private def lc(c: Column): Column = lower(coalesce(c, lit("")))

  /** True iff any literal in `kws` occurs as a substring of `c`
    * (Python `any(k in text for k in kws)`). */
  private def containsAny(c: Column, kws: Seq[String]): Column =
    kws.map(k => c.contains(lit(k))).reduce(_ || _)

  /** Count of keywords PRESENT in text (presence, not occurrences —
    * `sum(1 for w in words if w in text)`). */
  private def presenceCount(c: Column, kws: Seq[String]): Column =
    kws.map(k => when(c.contains(lit(k)), 1).otherwise(0)).reduce(_ + _)

  /** Email/phone patterns (analyze_insta_enhanced.py:1623-1640,
    * 1680-1701) — shared between the per-profile extraction cascade and
    * the corpus PII scrubber ([[graft.functions.TextAnalysis.piiScrub]]).
    * RE2-safe (no backrefs/lookaround), so DuckDB evaluates them
    * identically. */
  val emailPattern: String =
    "\\b[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Z|a-z]{2,}\\b"
  val phonePatterns: Seq[String] = Seq(
    "\\+?\\d{1,4}[-.\\s]?\\(?\\d{2,4}\\)?[-.\\s]?\\d{3,4}[-.\\s]?\\d{4}",
    "\\+\\d{10,15}",
    "\\(?\\d{3}\\)?[-.\\s]?\\d{3}[-.\\s]?\\d{4}",
    "\\(?\\d{3}\\)?[-.\\s]?\\d{3}[-.\\s]?\\d{4}\\s*x\\d{1,5}",
    "\\d{3,}[-.\\s]?\\d{3,}[-.\\s]?\\d{4,}")

  /** extract_email (:1623-1640): first regex match in biography. */
  def email(bio: Column): Column =
    nullif(regexp_extract(coalesce(bio, lit("")), emailPattern, 0), lit(""))

  /** extract_phone_number (:1680-1701): 5 patterns tried in order, first
    * match wins, then `[\s.-]` stripped. */
  def phone(bio: Column): Column = {
    val b = coalesce(bio, lit(""))
    val first = coalesce(
      phonePatterns.map(p => nullif(regexp_extract(b, p, 0), lit(""))): _*)
    regexp_replace(first, "[\\s.-]", "")
  }

  /** extract_first_and_last_name (:1642-1653). */
  def firstName(fullName: Column): Column = {
    val parts = split(trim(coalesce(fullName, lit(""))), "\\s+")
    when(length(trim(coalesce(fullName, lit("")))) === 0, lit(null))
      .otherwise(element_at(parts, 1))
  }
  def lastName(fullName: Column): Column = {
    val parts = split(trim(coalesce(fullName, lit(""))), "\\s+")
    when(size(parts) > 1 && length(trim(coalesce(fullName, lit("")))) > 0,
      array_join(slice(parts, 2, 1000000), " ")).otherwise(lit(null))
  }

  /** determine_creator_size (:1655-1678): follower bucket ladder. */
  def creatorSize(followers: Column): Column =
    when(followers.isNull || followers === 0, lit("Unknown"))
      .when(followers < 5000, lit("Nano-Influencer"))
      .when(followers < 50000, lit("Micro-Influencer"))
      .when(followers < 500000, lit("Mid-Tier Influencer"))
      .when(followers < 1000000, lit("Macro-Influencer"))
      .otherwise(lit("Mega-Influencer"))

  /** extract_social_links (:790-835): first bio_link whose url matches
    * each platform's domain patterns. */
  private def firstLink(bioLinks: Column, pats: Seq[String]): Column = {
    val cond = pats.map(p => s"contains(lower(coalesce(l.url, '')), '$p')").mkString(" OR ")
    try_element_at(expr(s"transform(filter(coalesce(bio_links, array()), l -> $cond), l -> l.url)"), lit(1))
  }
  def socialLinks(bioLinks: Column): Column = struct(
    firstLink(bioLinks, Seq("tiktok.com", "tiktok.app")).as("tiktok"),
    firstLink(bioLinks, Seq("youtube.com", "youtu.be")).as("youtube"),
    firstLink(bioLinks, Seq("linktr.ee")).as("linktree"))

  /** Gender indicator lists (:714-788) — shared with the DuckDB oracle
    * generator in [[SynthIg]], so both sides stay in lockstep. */
  private[ig] val femaleIndicators = Seq("she/her", "she", "her", "woman",
    "girl", "female", "lady", "mom", "mother", "wife", "daughter", "sister",
    "girlfriend", "actress", "queen", "princess", "mama", "mum", "mummy",
    "mommy", "mrs", "ms", "miss")
  private[ig] val maleIndicators = Seq("he/him", "he", "him", "man", "boy",
    "male", "guy", "dad", "father", "husband", "son", "brother", "boyfriend",
    "actor", "king", "prince", "papa", "daddy", "mr")
  private[ig] val nbIndicators = Seq("they/them", "them", "they", "non-binary",
    "nonbinary", "nb", "enby", "genderfluid", "genderqueer", "agender",
    "ze/zir", "xe/xem")

  /** identify_gender (:714-788): pronoun cascade, else indicator-presence
    * scoring over bio+name+username with priority Female > Male > NB. */
  def gender(pronouns: Column, bio: Column, fullName: Column, username: Column): Column = {
    val female = femaleIndicators
    val male = maleIndicators
    val nb = nbIndicators
    val pf = Seq("she/her", "she", "her")
    val pm = Seq("he/him", "he", "him")
    val pn = Seq("they/them", "they", "them", "ze/zir", "xe/xem", "it/its")
    val all = (pf ++ pm ++ pn).map(s => s"'$s'").mkString(",")
    // first pronoun entry that matches any class decides (:728-746)
    val firstPronoun = try_element_at(expr(
      s"filter(transform(coalesce(pronouns, array()), p -> lower(trim(p))), p -> p IN ($all))"), lit(1))
    val text = concat_ws(" ", lc(bio), lc(fullName), lc(username))
    val fs = presenceCount(text, female)
    val ms = presenceCount(text, male)
    val ns = presenceCount(text, nb)
    val mx = greatest(fs, ms, ns)
    when(firstPronoun.isin(pf: _*), lit("Female"))
      .when(firstPronoun.isin(pm: _*), lit("Male"))
      .when(firstPronoun.isin(pn: _*), lit("Non-binary"))
      .when(mx === 0, lit("Unknown"))
      .when(fs === mx, lit("Female"))
      .when(ms === mx, lit("Male"))
      .otherwise(lit("Non-binary"))
  }

  /** Account-type keyword lists (:1814-1852) — shared with the DuckDB
    * oracle generator in [[SynthIg]]. */
  private[ig] val brandKeywords = Seq("brand", "store", "shop", "company",
    "co.", "official", "boutique", "ecommerce", "retail")
  private[ig] val creatorKeywords = Seq("creator", "influencer", "content",
    "artist", "photographer", "videographer", "ugc")
  private[ig] val extUrlKeywords = Seq("shop", "store", "etsy", "amazon",
    "buy", "products")

  /** classify_instagram_account (:1814-1852). */
  def accountType(category: Column, bio: Column, externalUrl: Column,
                  isBusiness: Column, isVerified: Column, followers: Column): Column = {
    val brandKw = brandKeywords
    val creatorKw = creatorKeywords
    val extKw = extUrlKeywords
    val c = lc(category); val b = lc(bio); val e = lc(externalUrl)
    when(containsAny(c, brandKw) || containsAny(b, brandKw)
      || coalesce(isBusiness, lit(false)), lit("brand"))
      .when(containsAny(c, creatorKw) || containsAny(b, creatorKw), lit("creator"))
      .when(containsAny(e, extKw), lit("brand"))
      .when(coalesce(isVerified, lit(false)) && coalesce(followers, lit(0L)) > 50000, lit("creator"))
      .otherwise(lit("personal"))
  }

  val ugcKeywords = Seq("ugc", "ugccreator", "ugc creator", "user generated content",
    "user-generated content", "content creator", "brand creator", "ugc content",
    "product creator")

  /** Per-creator flag: any caption matches a UGC keyword (or its #nospace
    * form) — the posts-side half of extract_creator_pricing (:861-870). */
  def ugcCaptionFlag(posts: DataFrame): DataFrame = {
    val capCond = ugcKeywords.map { k =>
      val nospace = "#" + k.replace(" ", "")
      lower(col("caption_text")).contains(lit(k)) ||
        lower(col("caption_text")).contains(lit(nospace))
    }.reduce(_ || _)
    posts.groupBy("creator_key")
      .agg(max(when(capCond, lit(true)).otherwise(lit(false))).as("ugc_in_captions"))
  }

  /** extract_creator_pricing (:837-960): creator type, tier, pricing
    * matrix (constants = CPython round of the reference's float products,
    * e.g. round(1.333*2500) = 3332). */
  def pricing(df: DataFrame): DataFrame = {
    val profileUgc = containsAny(lc(col("full_name")), ugcKeywords) ||
      containsAny(lc(col("username")), ugcKeywords) ||
      containsAny(lc(col("biography")), ugcKeywords)
    val f = coalesce(col("follower_count"), lit(0L))
    val ugc = profileUgc || coalesce(col("ugc_in_captions"), lit(false))
    // one projection per dependency level: the tier reads creator_type and
    // the matrix reads both, each many times
    val withType = df
      .select(col("*"), when(ugc || f < 1000, lit("UGC Creator"))
        .otherwise(lit("Social Media Influencer")).as("creator_type"))
      .select(col("*"), when(col("creator_type") === "UGC Creator",
          when(f < 1000, lit("Beginner")).otherwise(lit("Experienced")))
        .otherwise(
          when(f < 10000, lit("1K-10K"))
            .when(f < 50000, lit("10K-50K"))
            .when(f < 500000, lit("50K-500K"))
            .otherwise(lit("500K-1M+"))).as("tier"))
    // (roi, impressions, t15, t30, t60, t1to5, t5plus) per (type, tier)
    val matrix: Seq[(String, String, (String, String, Int, Int, Int, Int, Int))] = Seq(
      ("UGC Creator", "Beginner",    ("3×–6×", "30K", 40, 60, 100, 133, 200)),
      ("UGC Creator", "Experienced", ("5×–9×", "85K", 120, 180, 300, 400, 600)),
      ("Social Media Influencer", "1K-10K",    ("6×–10×", "165K", 60, 90, 150, 200, 300)),
      ("Social Media Influencer", "10K-50K",   ("6×–10×", "300K", 200, 300, 500, 666, 1000)),
      ("Social Media Influencer", "50K-500K",  ("4×–7×", "1M", 1000, 1500, 2500, 3332, 5000)),
      ("Social Media Influencer", "500K-1M+",  ("3×–6×", "3.2M", 1600, 2400, 4000, 5332, 8000)))
    def pickS(get: ((String, String, Int, Int, Int, Int, Int)) => String): Column =
      matrix.foldLeft(lit("N/A").cast("string")) { case (acc, (t, tr, v)) =>
        when(col("creator_type") === t && col("tier") === tr, lit(get(v))).otherwise(acc)
      }
    // the five duration prices are NUMBERS in the report (json ints)
    def pickN(get: ((String, String, Int, Int, Int, Int, Int)) => Int): Column =
      matrix.foldLeft(lit(null).cast("long")) { case (acc, (t, tr, v)) =>
        when(col("creator_type") === t && col("tier") === tr, lit(get(v).toLong)).otherwise(acc)
      }
    withType.select(col("*"), struct(
      pickS(_._1).as("estimated_roi"),
      pickS(_._2).as("impressions_visibility"),
      pickN(_._3).as("time_15_seconds"),
      pickN(_._4).as("time_30_seconds"),
      pickN(_._5).as("time_60_seconds"),
      pickN(_._6).as("time_1_to_5_minutes"),
      pickN(_._7).as("time_greater_than_5_minutes")).as("creator_pricing_metrics"))
  }

  /** extract_basic_info (:686-712) + all scalar extractions in one
    * projection over profiles (joined with the posts UGC flag). */
  def enrich(profiles: DataFrame, posts: DataFrame): DataFrame = {
    pricing(ByCreator(profiles, ugcCaptionFlag(posts))(col("*"),
      email(col("biography")).as("email"),
      phone(col("biography")).as("phone_number"),
      firstName(col("full_name")).as("first_name"),
      lastName(col("full_name")).as("last_name"),
      creatorSize(col("follower_count")).as("creator_size"),
      socialLinks(col("bio_links")).as("social_links"),
      gender(col("pronouns"), col("biography"), col("full_name"), col("username")).as("gender"),
      accountType(col("category"), col("biography"), col("external_url"),
        col("is_business"), col("is_verified"), col("follower_count")).as("ig_account_type"),
      when(coalesce(col("username"), lit("")) =!= "",
        concat(lit("https://assets.veelapp.com/"), col("username"), lit(".jpg")))
        .otherwise(lit("")).as("profile_picture")))
  }
}
