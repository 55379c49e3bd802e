package graft.ig

import org.scalatest.funsuite.AnyFunSuite

/** Byte-exact analyzed.json gate (VERDICT r1 task 2): the written document
  * must reproduce the reference artifact's serialization — CPython
  * `json.dump(..., indent=2, ensure_ascii=False)` with CRLF line endings —
  * byte for byte, per creator block, for all nine shipped creators.
  *
  * The shipped artifact holds 12 creators but only 9 have source folders,
  * so the whole-file compare is per-creator-block (plus header fields and
  * relative order) rather than whole-document. */
class GoldenJsonBytesSpec extends AnyFunSuite {
  import Golden._

  /** Split an analyzed.json text (LF-normalized) into creator blocks:
    * with indent=2, every creators[] element opens with a line `    {`
    * and closes with `    }` or `    },` (strings never contain raw
    * newlines, so line-shape matching is exact). */
  private def creatorBlocks(text: String): Seq[(String, String)] = {
    val lines = text.split("\n", -1)
    val start = lines.indexWhere(_ == "  \"creators\": [")
    assert(start >= 0, "no creators array found")
    val blocks = Seq.newBuilder[(String, String)]
    var cur: StringBuilder = null
    for (l <- lines.drop(start + 1)) {
      if (l == "    {") cur = new StringBuilder("    {")
      else if (cur != null && (l == "    }," || l == "    }")) {
        cur.append("\n    }")
        val block = cur.toString
        val user = "\"username\": \"([^\"]*)\"".r.findFirstMatchIn(block)
          .map(_.group(1)).getOrElse(sys.error("block without username"))
        blocks += user -> block
        cur = null
      } else if (cur != null) cur.append('\n').append(l)
    }
    blocks.result()
  }

  /** `brand_mentions` and `location_hashtags` materialize Python SETS:
    * their order is PYTHONHASHSEED-dependent — two runs of the reference
    * itself produce different orders — so byte parity is gated modulo a
    * canonical (sorted) element order applied to BOTH documents. */
  private def canonSetFields(text: String): String = {
    val fields = Seq("brand_mentions", "location_hashtags")
    val lines = scala.collection.mutable.ArrayBuffer.from(text.split("\n", -1))
    var i = 0
    while (i < lines.length) {
      val l = lines(i).trim
      val hit = fields.exists(f => l == s""""$f": [""")
      if (hit) {
        val close = lines(i).takeWhile(_ == ' ') + "]"
        val closeC = close + ","
        var j = i + 1
        while (j < lines.length && lines(j) != close && lines(j) != closeC) j += 1
        val elems = lines.slice(i + 1, j).toSeq
        val hadComma = elems.map(_.endsWith(","))
        val sorted = elems.map(_.stripSuffix(",")).sorted
        val rebuilt = sorted.zipWithIndex.map { case (e, k) =>
          if (k < hadComma.count(identity)) e + "," else e
        }
        var k = 0
        while (k < rebuilt.length) { lines(i + 1 + k) = rebuilt(k); k += 1 }
        i = j
      }
      i += 1
    }
    lines.mkString("\n")
  }

  private lazy val goldenText = java.nio.file.Files
    .readString(java.nio.file.Paths.get(Instagram.referenceDir(), "analyzed.json"))
  private lazy val goldenLf = canonSetFields(goldenText.replace("\r\n", "\n"))
  private lazy val goldenBlocks = creatorBlocks(goldenLf)

  private lazy val minePath = {
    val p = "/tmp/graft_bytes_analyzed.json"
    val report = Report.assemble(profiles, posts, IgClock.golden)
    Report.writeAnalyzedJsonPy(report, p, IgClock.golden)
    p
  }
  private lazy val mineText = java.nio.file.Files
    .readString(java.nio.file.Paths.get(minePath))
  private lazy val mineLf = canonSetFields(mineText.replace("\r\n", "\n"))
  private lazy val mineBlocks = creatorBlocks(mineLf)

  test("the artifact's CRLF line endings are reproduced") {
    assert(goldenText.contains("\r\n"), "golden artifact is CRLF")
    assert(mineText.contains("\r\n") && !mineLf.contains("\r"),
      "written doc must use CRLF throughout")
    assert(!mineText.endsWith("\n"), "json.dump writes no trailing newline")
  }

  test("header analysis_date line is byte-identical to golden") {
    val gLine = goldenLf.split("\n")(1)
    val mLine = mineLf.split("\n")(1)
    assert(mLine == gLine, s"golden=<$gLine> mine=<$mLine>")
  }

  test("creator order matches golden's relative order") {
    val gOrder = goldenBlocks.map(_._1).filter(mineBlocks.map(_._1).toSet)
    assert(mineBlocks.map(_._1) == gOrder,
      s"order golden=$gOrder mine=${mineBlocks.map(_._1)}")
  }

  test("every creator block is byte-identical to golden") {
    assert(mineBlocks.size == 9)
    val gMap = goldenBlocks.toMap
    val problems = mineBlocks.flatMap { case (user, mine) =>
      val golden = gMap.getOrElse(user, sys.error(s"unknown creator $user"))
      if (mine == golden) None
      else {
        val gl = golden.split("\n", -1); val ml = mine.split("\n", -1)
        val i = gl.zipAll(ml, "<missing>", "<missing>").indexWhere(p => p._1 != p._2)
        val ctx = ((i - 2) max 0) to ((i + 2) min (math.max(gl.length, ml.length) - 1))
        val detail = ctx.map { j =>
          val g = if (j < gl.length) gl(j) else "<missing>"
          val m = if (j < ml.length) ml(j) else "<missing>"
          if (g == m) s"    $g" else s"  G:$g\n  M:$m"
        }.mkString("\n")
        Some(s"$user: first diff at block line $i\n$detail")
      }
    }
    assert(problems.isEmpty,
      s"${problems.size} creators with byte diffs:\n${problems.mkString("\n---\n")}")
  }
}
