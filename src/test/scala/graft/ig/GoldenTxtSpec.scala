package graft.ig

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Full-text comparison of the txt report sink against the reference's
  * shipped per-creator `*_analysis.txt` goldens. */
class GoldenTxtSpec extends AnyFunSuite {
  import Golden._

  test("txt summaries byte-match the shipped golden reports") {
    val texts = Report.txtSummaries(Report.assemble(profiles, posts, IgClock.golden))
      .collect().map(r => r.getAs[String]("creator_key") -> r.getAs[String]("text")).toMap
    assert(texts.size == 9)
    val diffs = texts.toSeq.sortBy(_._1).flatMap { case (user, mine) =>
      val p = java.nio.file.Paths.get(s"${Instagram.referenceDir()}/$user/${user}_analysis.txt")
      if (!java.nio.file.Files.exists(p)) Seq(s"$user: no golden txt")
      else {
        val golden = new String(java.nio.file.Files.readAllBytes(p), "UTF-8")
        if (golden == mine) Nil
        else {
          val gl = golden.linesIterator.toSeq
          val ml = mine.linesIterator.toSeq
          val lineDiffs = gl.zipAll(ml, "<missing>", "<missing>").zipWithIndex
            .collect { case ((g, m), i) if g != m => s"$user line ${i + 1}:\n  golden=[$g]\n  mine  =[$m]" }
          lineDiffs.take(3)
        }
      }
    }
    assert(diffs.isEmpty, s"${diffs.length} diffs:\n${diffs.take(12).mkString("\n")}")
  }
}
