package graft.ig

import org.apache.spark.sql.catalyst.rules.RuleExecutor
import org.scalatest.funsuite.AnyFunSuite

/** Building the creator report runs the analyzer once per dependency
  * level of each block, not once per derived column. Every Dataset
  * operation analyzes the whole plan beneath it, and with one
  * `withColumn` per column (plus two analyses per `join`) constructing
  * one `ig_report_synth` ran the analyzer 332 times, about 2 s of
  * analyzer rules on a warm JVM. The bound is half of that count. */
class ReportAnalysisSpec extends AnyFunSuite {
  lazy val spark = graft.Sessions.local("4", "graft-report-analysis-test")
  val dir = "/root/testdata/sf0.001"

  /** Analyzer executions while constructing (not running) one report: the
    * runs of `LookupFunctions`, the analyzer's once-per-execution sanity
    * check, read from Spark's rule metrics dump. */
  private def analyzerRunsOfOneConstruction(): Long = {
    RuleExecutor.resetMetrics()
    graft.SparkEntry.queries("ig_report_synth")(spark, dir)
    val line = RuleExecutor.dumpTimeSpent().split("\n")
      .find(_.contains("Analyzer$LookupFunctions"))
      .getOrElse(fail("no LookupFunctions line in the rule metrics"))
    """(\d+)\s*/\s*(\d+)\s*$""".r.findFirstMatchIn(line.trim)
      .getOrElse(fail(s"unparsable rule metrics line: $line")).group(2).toLong
  }

  test("constructing ig_report_synth runs the analyzer at most half as often as one analysis per column") {
    analyzerRunsOfOneConstruction() // the first call also resolves the data sources
    val runs = analyzerRunsOfOneConstruction()
    assert(runs <= 332 / 2, s"one ig_report_synth construction ran the analyzer $runs times")
  }
}
