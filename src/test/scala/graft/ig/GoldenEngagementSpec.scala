package graft.ig

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Golden replay (SURVEY §5 item 1): run the Spark pipeline over the 9
  * shipped creator dirs with the frozen golden clock and field-compare
  * against the reference root's analyzed.json. */
object Golden {
  lazy val spark: SparkSession = graft.Sessions.local("4", "graft-test")

  lazy val profiles: DataFrame = Instagram.readProfiles(spark, Instagram.profilesGlob())
  lazy val posts: DataFrame = Instagram.readPosts(spark, Instagram.postsGlob())

  /** analyzed.json creators exploded, keyed by username. */
  lazy val golden: DataFrame = spark.read.option("multiLine", true)
    .json(s"${Instagram.referenceDir()}/analyzed.json")
    .select(explode(col("creators")).as("c"))
    .select(col("c.*"))

  def assertColsMatch(mine: DataFrame, key: String, cols: Seq[String],
                      tol: Double = 0.0): Unit = {
    val g = golden.select((col("username").as("k") +: cols.map(c => col(c).as(s"g_$c"))): _*)
    val m = mine.select((col(key).as("k") +: cols.map(col)): _*)
    val joined = m.join(g, "k").collect()
    assert(joined.nonEmpty, "no creators joined against golden")
    joined.foreach { row =>
      val k = row.getAs[String]("k")
      cols.foreach { c =>
        val mv = row.getAs[Any](c)
        val gv = row.getAs[Any](s"g_$c")
        (mv, gv) match {
          case (a: Double, b: Double) =>
            assert(math.abs(a - b) <= tol, s"$k.$c: mine=$a golden=$b")
          case (a: Long, b: Long) =>
            assert(a == b, s"$k.$c: mine=$a golden=$b")
          case (a, b) =>
            assert(String.valueOf(a) == String.valueOf(b), s"$k.$c: mine=$a golden=$b")
        }
      }
    }
  }
}

class GoldenEngagementSpec extends AnyFunSuite {
  import Golden._

  lazy val em: DataFrame = Engagement.metrics(posts, profiles, IgClock.golden)
  lazy val tp: DataFrame = Engagement.topPosts(posts, profiles, IgClock.golden)

  test("engagement metrics scalar fields match golden") {
    val gm = golden.select(col("username").as("k"), col("engagement_metrics.*"))
    val m = em.withColumnRenamed("creator_key", "k")
      .join(gm.select(
        col("k"), col("avg_likes").as("g_avg_likes"),
        col("avg_comments").as("g_avg_comments"),
        col("avg_shares").as("g_avg_shares"),
        col("engagement_rate").as("g_engagement_rate"),
        col("post_frequency").as("g_post_frequency"),
        col("engagement_trend").as("g_engagement_trend"),
        col("best_posting_time").as("g_best_posting_time"),
        col("total_posts_analyzed").as("g_total_posts_analyzed"),
        col("consistency_score").as("g_consistency_score"),
        col("viral_posts_count").as("g_viral_posts_count"),
        col("avg_engagement_per_post").as("g_avg_engagement_per_post"),
        col("avg_latest_posts_er").as("g_avg_latest_posts_er")), "k")
      .collect()
    assert(m.length == 9, s"expected 9 joined creators, got ${m.length}")
    m.foreach { r =>
      val k = r.getAs[String]("k")
      def chk(c: String): Unit = {
        val a = r.getAs[Any](c); val b = r.getAs[Any](s"g_$c")
        (a, b) match {
          case (x: Double, y: Double) => assert(math.abs(x - y) < 1e-9, s"$k.$c: mine=$x golden=$y")
          case (x: Double, y: Long)   => assert(math.abs(x - y) < 1e-9, s"$k.$c: mine=$x golden=$y")
          case _ => assert(String.valueOf(a) == String.valueOf(b), s"$k.$c: mine=$a golden=$b")
        }
      }
      Seq("avg_likes", "avg_comments", "avg_shares", "engagement_rate",
        "post_frequency", "engagement_trend", "best_posting_time",
        "total_posts_analyzed", "consistency_score", "viral_posts_count",
        "avg_engagement_per_post", "avg_latest_posts_er").foreach(chk)
    }
  }

  test("latest posts ER map matches golden") {
    val gm = golden.select(col("username").as("k"),
      col("engagement_metrics.latest_posts_er").as("g_map"))
    val m = em.select(col("creator_key").as("k"), col("latest_posts_er"))
      .join(gm, "k").collect()
    assert(m.length == 9)
    m.foreach { r =>
      val k = r.getAs[String]("k")
      val mine = r.getAs[Map[String, Double]]("latest_posts_er")
      val g = r.getAs[Row]("g_map") // golden map read as struct Post1..Post6
      g.schema.fields.zipWithIndex.foreach { case (f, i) =>
        if (!g.isNullAt(i)) {
          val gv = g.getDouble(i)
          assert(mine.contains(f.name), s"$k missing ${f.name}")
          assert(math.abs(mine(f.name) - gv) < 1e-9, s"$k.${f.name}: mine=${mine(f.name)} golden=$gv")
        }
      }
    }
  }

  test("top posts match golden") {
    val gm = golden.select(col("username").as("k"),
      col("total_posts_last_3_months").as("g_total"),
      col("average_engagement_rate").as("g_avg_er"),
      col("top_6_posts").as("g_top"))
    val m = tp.select(col("creator_key").as("k"),
        col("total_posts_last_3_months"), col("average_engagement_rate"), col("top_6_posts"))
      .join(gm, "k", "right").collect()
    assert(m.length == 9 || m.length == 12)
    m.foreach { r =>
      val k = r.getAs[String]("k")
      val gTotal = r.getAs[Long]("g_total")
      if (!r.isNullAt(r.fieldIndex("total_posts_last_3_months"))) {
        assert(r.getAs[Long]("total_posts_last_3_months") == gTotal, s"$k total")
        assert(math.abs(r.getAs[Double]("average_engagement_rate") - r.getAs[Double]("g_avg_er")) < 1e-9,
          s"$k avg_er mine=${r.getAs[Double]("average_engagement_rate")} golden=${r.getAs[Double]("g_avg_er")}")
        val mine = r.getAs[scala.collection.Seq[Row]]("top_6_posts")
        val g = r.getAs[scala.collection.Seq[Row]]("g_top")
        assert(mine.length == g.length, s"$k top_6 length mine=${mine.length} golden=${g.length}")
        mine.zip(g).zipWithIndex.foreach { case ((mp, gp), i) =>
          assert(mp.getAs[Long]("interaction_score") == gp.getAs[Long]("interaction_score"), s"$k top[$i] score")
          assert(mp.getAs[Long]("likes") == gp.getAs[Long]("likes"), s"$k top[$i] likes")
          assert(mp.getAs[Long]("comments") == gp.getAs[Long]("comments"), s"$k top[$i] comments")
          assert(mp.getAs[String]("post_code") == gp.getAs[String]("post_code"), s"$k top[$i] code")
          assert(mp.getAs[String]("taken_at") == gp.getAs[String]("taken_at"), s"$k top[$i] date")
          assert(math.abs(mp.getAs[Double]("engagement_rate") - gp.getAs[Double]("engagement_rate")) < 1e-9, s"$k top[$i] er")
        }
      } else {
        // null mine ⇒ either the creator dir isn't shipped (golden has 12,
        // repo has 9) or it has no posts in the 90-day window (defaults
        // 0/[]/0 are applied at report assembly)
        val shipped = new java.io.File(Instagram.referenceDir(), k).isDirectory
        if (shipped) assert(gTotal == 0, s"$k: mine missing but golden total=$gTotal")
      }
    }
  }
}
