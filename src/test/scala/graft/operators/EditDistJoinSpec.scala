package graft.operators

import org.scalatest.funsuite.AnyFunSuite

/** Differential proof of the deletion-neighborhood (SymSpell) edit-
  * distance join: on randomized dictionaries the operator must emit
  * exactly the pairs a brute-force Levenshtein finds — including
  * insertions at either end and substitutions in the LAST token (the
  * pair class last-token blocking misses by construction). The
  * reciprocal best-match join is pinned on hand-built pairs. */
class EditDistJoinSpec extends AnyFunSuite {
  lazy val spark = graft.Sessions.local("4", "graft-editdist-test")
  import spark.implicits._

  private def lev(a: String, b: String): Int = {
    val d = Array.tabulate(a.length + 1, b.length + 1) { (i, j) =>
      if (i == 0) j else if (j == 0) i else 0
    }
    for (i <- 1 to a.length; j <- 1 to b.length)
      d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
        d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
    d(a.length)(b.length)
  }

  test("deletion-neighborhood join equals brute-force Levenshtein") {
    val rnd = new scala.util.Random(7)
    val alphabet = "abcd"
    val base = Vector.fill(120)(
      (1 to (3 + rnd.nextInt(5))).map(_ => alphabet(rnd.nextInt(4))).mkString)
    // plant every edit class explicitly
    val planted = Vector(
      "ring", "rings",      // insertion at end
      "ring", "ming",       // substitution at front
      "bolt", "olt",        // deletion at front
      "red bolt", "red bolts") // change in LAST token (fuzzy-blocking blind spot)
    val names = (base ++ planted).distinct
    val got = Relational.editdistJoinOf(names.toDF("name")).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    val want = (for {
      a <- names; b <- names if a < b
      d = lev(a, b) if d <= 1
    } yield (a, b, d.toLong)).toSet
    assert(want.size >= 4, s"fixture too weak: ${want.size} true pairs")
    assert(got == want,
      s"blocking divergence:\n missing ${want -- got}\n extra ${got -- want}")
  }

  test("mutualBestMatchOfPairs keeps only reciprocal top-1 pairs") {
    import spark.implicits._
    // s1's best is c1 (100) and c1's best is s1 -> kept.
    // s2's best is c1 (90) but c1's best is s1 -> dropped.
    // s3's best is c2 (50); c2's best is s3 -> kept.
    val pair = Seq(
      (1L, 1L, 100L), (2L, 1L, 90L), (2L, 2L, 40L), (3L, 2L, 50L))
      .toDF("s_suppkey", "c_custkey", "rev_units")
    val got = Relational.mutualBestMatchOfPairs(pair).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got === Set((1L, 1L, 100L), (3L, 2L, 50L)))
  }

  test("mutualBestMatchOfPairs breaks revenue ties deterministically (asc key)") {
    import spark.implicits._
    // c1 ties between s1 and s2 at 70: best supplier = s1 (asc). s1's
    // best customer ties between c1 and c2 at 70: best = c1 (asc).
    val pair = Seq((1L, 1L, 70L), (2L, 1L, 70L), (1L, 2L, 70L))
      .toDF("s_suppkey", "c_custkey", "rev_units")
    val got = Relational.mutualBestMatchOfPairs(pair).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got === Set((1L, 1L)))
  }
}
