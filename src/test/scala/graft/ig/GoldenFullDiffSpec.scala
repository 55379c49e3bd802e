package graft.ig

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** Exhaustive golden diff: EVERY leaf field of the assembled report vs
  * the reference root's analyzed.json, for all nine shipped creators.
  *
  * Documented allowances (structural, not semantic):
  *  - golden `{}` / `null` vs our omitted-null field (Spark toJSON drops
  *    nulls; Python json writes them);
  *  - `brand_mentions` / `location_hashtags` compare as SETS — the
  *    reference materializes Python sets whose order is
  *    PYTHONHASHSEED-dependent;
  *  - `sponsored_posts[*].sponsor_tags` compares the subset of keys our
  *    schema parses (the reference dumps the full raw GraphQL tag);
  *  - numbers compare numerically (golden ints vs our longs/doubles).
  */
class GoldenFullDiffSpec extends AnyFunSuite {
  import Golden._

  private val mapper = new ObjectMapper()
  private val setCompareFields = Set("brand_mentions", "location_hashtags")
  private val subsetStructArrays = Set("sponsor_tags")

  private def isNum(n: JsonNode) = n != null && n.isNumber
  private def numEq(a: JsonNode, b: JsonNode): Boolean = {
    val (x, y) = (a.asDouble(), b.asDouble())
    x == y || math.abs(x - y) <= 1e-9 * math.max(1.0, math.max(math.abs(x), math.abs(y)))
  }

  /** Diff golden node vs ours; returns mismatch descriptions. */
  private def diff(path: String, g: JsonNode, m: JsonNode,
                   subsetKeys: Boolean = false): Seq[String] = {
    val leaf = path.split('.').last.split('[').head
    if (subsetKeys && (m == null || m.isNull)) return Nil // unparsed raw field
    if ((g == null || g.isNull || (g.isContainerNode && g.isEmpty)) &&
        (m == null || m.isNull || (m != null && m.isContainerNode && m.isEmpty)))
      return Nil // null/{}/[] vs absent
    if (g == null || m == null || g.isNull || m.isNull)
      return Seq(s"$path: golden=$g mine=$m")
    (g, m) match {
      case _ if isNum(g) && isNum(m) =>
        if (numEq(g, m)) Nil else Seq(s"$path: golden=$g mine=$m")
      case _ if g.isTextual || g.isBoolean =>
        if (g.asText() == m.asText()) Nil else Seq(s"$path: golden=$g mine=$m")
      case _ if g.isArray && m.isArray =>
        if (setCompareFields(leaf)) {
          val gs = g.elements().asScala.map(_.asText()).toSet
          val ms = m.elements().asScala.map(_.asText()).toSet
          if (gs == ms) Nil
          else Seq(s"$path (as set): only-golden=${gs -- ms} only-mine=${ms -- gs}")
        } else if (g.size() != m.size())
          Seq(s"$path: size golden=${g.size()} mine=${m.size()}")
        else
          (0 until g.size()).flatMap(i =>
            diff(s"$path[$i]", g.get(i), m.get(i), subsetStructArrays(leaf) || subsetKeys))
      case _ if g.isObject && m.isObject =>
        val gks = g.fieldNames().asScala.toSeq
        val extra =
          if (subsetKeys) Nil
          else m.fieldNames().asScala.toSeq.filterNot(gks.contains)
            .map(k => s"$path.$k: mine-only field")
        gks.flatMap(k => diff(s"$path.$k", g.get(k), m.get(k), subsetKeys)) ++ extra
      case _ => Seq(s"$path: type golden=${g.getNodeType} mine=${m.getNodeType}")
    }
  }

  private lazy val goldenByUser = {
    val goldenDoc = mapper.readTree(
      java.nio.file.Files.readString(java.nio.file.Paths.get(Instagram.referenceDir(), "analyzed.json")))
    goldenDoc.get("creators").elements().asScala
      .map(c => c.get("username").asText() -> c).toMap
  }

  private def diffAll(mine: Map[String, JsonNode]): Seq[String] = {
    assert(mine.keySet.subsetOf(goldenByUser.keySet),
      s"unexpected creators: ${mine.keySet -- goldenByUser.keySet}")
    assert(mine.size == 9)
    mine.toSeq.sortBy(_._1).flatMap { case (user, m) => diff(user, goldenByUser(user), m) }
  }

  test("every field of every creator matches golden analyzed.json") {
    val mine = Report.assemble(profiles, posts, IgClock.golden).drop("creator_key")
      .toJSON.collect().map(mapper.readTree)
      .map(c => c.get("username").asText() -> c).toMap

    val problems = diffAll(mine)
    assert(problems.isEmpty,
      s"${problems.length} field mismatches:\n${problems.take(40).mkString("\n")}")
  }

  test("the WRITTEN analyzed.json document also matches golden") {
    val out = "/tmp/graft_fulldiff_json"
    val report = Report.assemble(profiles, posts, IgClock.golden)
    Report.writeAnalyzedJson(report, out, IgClock.golden)
    val doc = spark.read.option("multiLine", true).json(out)
    import org.apache.spark.sql.functions._
    val mine = doc.select(explode(col("creators")).as("c")).select("c.*")
      .toJSON.collect().map(mapper.readTree)
      .map(c => c.get("username").asText() -> c).toMap
    val problems = diffAll(mine)
    assert(problems.isEmpty,
      s"${problems.length} field mismatches in written doc:\n${problems.take(40).mkString("\n")}")
  }
}
