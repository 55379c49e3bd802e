package graft.ig

import org.apache.spark.metrics.source.CodegenMetrics
import org.scalatest.funsuite.AnyFunSuite

/** A repeated creator report reuses its generated classes. One
  * `ig_report_synth` call compiles ~150–170 distinct whole-stage classes;
  * with Spark's default 100-entry codegen cache every repeated call
  * evicted and recompiled all of them. [[graft.Sessions.local]] sizes the
  * cache and keeps AQE's stage numbering out of the class names, so the
  * second call compiles almost nothing. The bound is a tenth, not zero:
  * a replanned stage may legitimately generate different code. */
class CodegenReuseSpec extends AnyFunSuite {
  lazy val spark = graft.Sessions.local("4", "graft-codegen-reuse-test")
  val dir = "/root/testdata/sf0.001"

  /** Janino classes compiled while forcing one report through the noop sink. */
  private def compiledByOneReport(): Long = {
    val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    graft.SparkEntry.queries("ig_report_synth")(spark, dir)
      .write.format("noop").mode("overwrite").save()
    CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
  }

  test("a repeated ig_report_synth call compiles at most a tenth of the first call's classes") {
    val first = compiledByOneReport()
    val second = compiledByOneReport()
    val cacheSize = spark.conf.get("spark.sql.codegen.cache.maxEntries").toLong
    assert(cacheSize >= first,
      s"codegen cache holds $cacheSize classes but one report compiles $first")
    assert(second * 10 <= first,
      s"second call compiled $second classes, first call $first: the codegen cache is thrashing")
  }
}
