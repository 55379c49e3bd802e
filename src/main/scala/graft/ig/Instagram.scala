package graft.ig

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Sources for the reference's document contracts (SURVEY §1, FIXTURES §A):
  * per-creator `userInfo.json` (profile) and `postInfo.json` (timeline).
  *
  * Explicit sparse StructTypes: the GraphQL contract is stable, and an
  * explicit schema means the multiLine JSON scan parses only the fields
  * the engine uses (nested-schema pruning) instead of inferring ~100
  * nullable columns per document. The creator partition key is derived
  * from the directory name (`input_file_name`), mirroring the reference's
  * directory-per-creator layout (analyze_insta_enhanced.py:1943-1969).
  *
  * Order sensitivity (SURVEY §7.4 risk 1): many reference semantics
  * depend on the edges[] array order (scrape order, newest-first), so
  * posts carry an explicit `ordinal` from posexplode.
  */
object Instagram {

  val bioLinkType: StructType = StructType(Seq(
    StructField("title", StringType), StructField("url", StringType),
    StructField("link_type", StringType)))

  val profileSchema: StructType = StructType(Seq(
    StructField("data", StructType(Seq(
      StructField("user", StructType(Seq(
        StructField("username", StringType),
        StructField("full_name", StringType),
        StructField("biography", StringType),
        StructField("follower_count", LongType),
        StructField("following_count", LongType),
        StructField("media_count", LongType),
        StructField("category", StringType),
        StructField("is_private", BooleanType),
        StructField("is_verified", BooleanType),
        StructField("is_business", BooleanType),
        StructField("external_url", StringType),
        StructField("pronouns", ArrayType(StringType)),
        StructField("bio_links", ArrayType(bioLinkType))))))))))

  val nodeType: StructType = StructType(Seq(
    StructField("pk", StringType),
    StructField("id", StringType),
    StructField("code", StringType),
    StructField("taken_at", LongType),
    StructField("like_count", LongType),
    StructField("comment_count", LongType),
    StructField("caption", StructType(Seq(StructField("text", StringType)))),
    StructField("is_paid_partnership", BooleanType),
    StructField("is_video", BooleanType),
    StructField("product_type", StringType),
    StructField("media_type", LongType),
    // full raw tag contract in document key order (the reference dumps
    // `node['sponsor_tags']` verbatim into sponsored_posts, so the byte
    // contract needs every key: analyze_insta_enhanced.py:621)
    StructField("sponsor_tags", ArrayType(StructType(Seq(
      StructField("is_pending", BooleanType),
      StructField("sponsor", StructType(Seq(
        StructField("pk", StringType), StructField("username", StringType),
        StructField("id", StringType), StructField("full_name", StringType),
        StructField("profile_pic_url", StringType),
        StructField("is_unpublished", BooleanType)))),
      // top-level username does NOT exist in the data — parsed as null on
      // purpose: detect_paid_partnerships reads tag['username'] (not
      // tag.sponsor.username), so sponsor_frequency is always empty
      // (analyze_insta_enhanced.py:598-603); we replicate that faithfully.
      StructField("username", StringType))))),
    StructField("location", StructType(Seq(
      StructField("pk", StringType), StructField("lat", DoubleType),
      StructField("lng", DoubleType), StructField("name", StringType)))),
    StructField("user", StructType(Seq(StructField("username", StringType)))),
    StructField("owner", StructType(Seq(StructField("username", StringType)))),
    StructField("coauthor_producers", ArrayType(StructType(Seq(
      StructField("username", StringType)))))))

  val postsSchema: StructType = StructType(Seq(
    StructField("data", StructType(Seq(
      StructField("xdt_api__v1__feed__user_timeline_graphql_connection", StructType(Seq(
        StructField("edges", ArrayType(StructType(Seq(
          StructField("node", nodeType), StructField("cursor", StringType))))),
        StructField("page_info", StructType(Seq(
          StructField("end_cursor", StringType),
          StructField("has_next_page", BooleanType))))))))))))

  private def creatorKey(fileRe: String) =
    regexp_extract(input_file_name(), fileRe, 1).as("creator_key")

  /** One row per creator profile (userInfo.json → data.user flattened). */
  def readProfiles(spark: SparkSession, glob: String): DataFrame =
    spark.read.option("multiLine", true).schema(profileSchema).json(glob)
      .select(creatorKey(".*/([^/]+)/userInfo\\.json$"), col("data.user.*"))

  /** One row per post (postInfo.json → edges posexploded, ordinal kept). */
  def readPosts(spark: SparkSession, glob: String): DataFrame =
    spark.read.option("multiLine", true).schema(postsSchema).json(glob)
      .select(creatorKey(".*/([^/]+)/postInfo\\.json$"),
        posexplode(col("data.xdt_api__v1__feed__user_timeline_graphql_connection.edges")))
      .select(
        col("creator_key"), col("pos").as("ordinal"),
        col("col.node.pk").as("pk"), col("col.node.id").as("id"),
        col("col.node.code").as("code"),
        col("col.node.taken_at").as("taken_at"),
        coalesce(col("col.node.like_count"), lit(0L)).as("like_count"),
        coalesce(col("col.node.comment_count"), lit(0L)).as("comment_count"),
        coalesce(col("col.node.caption.text"), lit("")).as("caption_text"),
        coalesce(col("col.node.is_paid_partnership"), lit(false)).as("is_paid_partnership"),
        coalesce(col("col.node.is_video"), lit(false)).as("is_video"),
        col("col.node.product_type").as("product_type"),
        col("col.node.media_type").as("media_type"),
        expr("transform(coalesce(col.node.sponsor_tags, array()), t -> t.sponsor.username)")
          .as("sponsor_usernames"),
        col("col.node.sponsor_tags").as("sponsor_tags"),
        col("col.node.location").as("location"),
        col("col.node.user.username").as("user_username"),
        col("col.node.owner.username").as("owner_username"),
        expr("transform(coalesce(col.node.coauthor_producers, array()), c -> c.username)")
          .as("coauthor_usernames"))

  /** Default reference-data location (shipped goldens). */
  val referenceRoot = "/root/reference"
  /** The reference fixtures in use: `GRAFT_REFERENCE_ROOT` if set, else
    * [[referenceRoot]]. Every reader of the shipped fixtures resolves the
    * root here, so an absent root fails with this one message instead of
    * a `PATH_NOT_FOUND` per read or an NPE from `File.listFiles()`. */
  def referenceDir(): String = {
    val root = sys.env.getOrElse("GRAFT_REFERENCE_ROOT", referenceRoot)
    if (!new java.io.File(root).isDirectory)
      throw new java.io.FileNotFoundException(
        s"reference fixtures absent at $root (set GRAFT_REFERENCE_ROOT to their directory)")
    root
  }
  def profilesGlob(root: String = referenceDir()): String = s"$root/*/userInfo.json"
  def postsGlob(root: String = referenceDir()): String = s"$root/*/postInfo.json"
}
