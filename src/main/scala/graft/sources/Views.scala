package graft.sources

import org.apache.spark.sql.SparkSession

/** SQL surface: register every star-schema table (and the IG document
  * tables when a reference root is given) as temp views so the whole
  * engine is usable from `spark.sql(...)` — with graft's registered
  * functions (e.g. `pyround`) available via GraftExtensions. */
object Views {
  val starTables = Seq("region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def registerStar(spark: SparkSession, dir: String): Unit =
    starTables.foreach {
      case "events" => Tables.events(spark, dir).createOrReplaceTempView("events")
      case t => Tables.table(spark, dir, t).createOrReplaceTempView(t)
    }

  def registerIg(spark: SparkSession, root: String = graft.ig.Instagram.referenceDir()): Unit = {
    graft.ig.Instagram.readProfiles(spark, graft.ig.Instagram.profilesGlob(root))
      .createOrReplaceTempView("ig_profiles")
    graft.ig.Instagram.readPosts(spark, graft.ig.Instagram.postsGlob(root))
      .createOrReplaceTempView("ig_posts")
  }
}
