package graft.ig

import org.scalatest.funsuite.AnyFunSuite

/** The full 38-column report fits its task memory on repeated calls. With
  * Spark's derived 64 MB Tungsten page, the second forced full report at
  * sf0.01 failed with UNABLE_TO_ACQUIRE_MEMORY: one task of its fused
  * stages holds more live aggregation and sort buffers than Spark's
  * 16-pages-per-task sizing assumes. [[graft.Sessions.pageSize]] sizes
  * pages for that. Each call materializes its own posts, as
  * `ig_report_synth` does: with one materialization shared by both calls
  * the 64 MB pages did not fail. */
class ReportMemorySpec extends AnyFunSuite {
  lazy val spark = graft.Sessions.local("4", "graft-report-memory-test")
  val dir = "/root/testdata/sf0.01"

  test("the full report at sf0.01 forces twice through the noop sink") {
    for (_ <- 1 to 2)
      Report.assemble(SynthIg.syntheticProfiles(spark, dir),
        graft.Materialize(SynthIg.syntheticPosts(spark, dir)), SynthIg.synthClock)
        .write.format("noop").mode("overwrite").save()
  }

  test("pages are a power of two within 1-64 MB, 4 MB for 4 slots of a 7 GB heap") {
    val mb = 1024L * 1024
    assert(graft.Sessions.pageSize(4, 7168 * mb) == 4 * mb)
    for (cpus <- Seq(1, 4, 32); heap <- Seq(512 * mb, 7168 * mb, 65536 * mb)) {
      val page = graft.Sessions.pageSize(cpus, heap)
      assert(page >= mb && page <= 64 * mb && java.lang.Long.bitCount(page) == 1, s"$cpus slots, $heap")
    }
  }
}
