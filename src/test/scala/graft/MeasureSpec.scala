package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Similarity

/** [[Measure]]: each record splits one call into construct and force,
  * attributes jobs and `materialize` executions to the part that ran
  * them, keeps a failed call's events out of the next record, and is the
  * only timing and listener code under `src/main`. */
class MeasureSpec extends AnyFunSuite {
  lazy val spark = Sessions.local("4", "graft-measure-test")
  private lazy val harness = Measure.attach(spark)
  val dir = "/root/testdata/sf0.001"

  private def query(name: String): Measure.Record =
    checked(harness.run(name)(SparkEntry.queries(name)(spark, dir)))

  /** `r`, after asserting the invariants every healthy record keeps. */
  private def checked(r: Measure.Record): Measure.Record = {
    r.error.foreach(e => fail(s"call failed: $e"))
    assert(r.constructS + r.forceS <= r.wallS + 1e-3)
    assert(r.planS <= r.forceS + 1e-9 && r.execS >= 0.0)
    Seq(r.construct, r.force).foreach { p =>
      assert(p.tasks >= p.jobs, s"tasks ${p.tasks} < jobs ${p.jobs}")
      assert(p.stages >= p.jobs || p.tasks == 0)
    }
    assert(r.force.jobs >= 1, "the force runs at least one job")
    assert(r.parallelism === r.executorRunS / r.wallS)
    r
  }

  test("a plain aggregate constructs with one job, the parquet schema read, " +
    "and no SQL execution; the force runs the rest") {
    val r = query("agg_pricing_summary")
    assert(r.construct.jobs === 1L && r.construct.planMs === 0L)
    assert(r.materializeN === 0L)
    assert(r.force.tasks > 0L && r.force.planMs > 0L && r.executorRunS > 0.0)
  }

  test("rel_pagerank constructs with jobs and materialize executions") {
    val r = query("rel_pagerank")
    assert(r.construct.jobs >= 1L)
    assert(r.construct.materializeN >= 1L && r.force.materializeN === 0L)
    assert(r.materializeS > 0.0)
  }

  test("a call that throws yields a failed record, and the next record " +
    "carries none of its events") {
    def control(): Measure.Record = checked(harness.run("control")(
      spark.range(0, 1000, 1, 4).groupBy((col("id") % 7).as("k")).count()))
    val before = control()
    val constructFails = harness.run("construct fails") {
      Materialize(spark.range(0, 1000, 1, 4).toDF())
      throw new IllegalStateException("construct fails")
    }
    assert(!constructFails.ok && constructFails.forceS === 0.0)
    assert(constructFails.construct.materializeN === 1L)
    val forceFails = harness.run("force fails")(
      spark.range(0, 1000, 1, 4).select(raise_error(lit("force fails"))))
    assert(!forceFails.ok && forceFails.force.jobs >= 1L)
    val after = control()
    for ((a, b) <- Seq(before.construct -> after.construct, before.force -> after.force)) {
      assert((a.jobs, a.stages, a.tasks, a.materializeN) === ((b.jobs, b.stages, b.tasks, b.materializeN)))
    }
    assert(after.materializeN === 0L && after.spillBytes === 0L)
  }

  test("nndescentTopK with 3 rounds reports 5 materialize executions") {
    val r = checked(harness.run("nndescentTopK")(Similarity.nndescentTopK(spark, dir, rounds = 3)))
    assert(r.materializeN === 5L)
  }

  test("no file under src/main except Measure.scala times, forces or listens") {
    val root = new java.io.File("src/main")
    assert(root.isDirectory, s"run from the project root: ${root.getAbsolutePath}")
    def files(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(files) else Seq(f)
    val mechanism = "nanoTime|write\\.format\\(\"noop\"\\)|SparkListener\\b|QueryExecutionListener".r
    val offenders = files(root).filter(_.getName.endsWith(".scala"))
      .filter(_.getName != "Measure.scala")
      .filter { f =>
        mechanism.findFirstIn(new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")).isDefined
      }
    assert(offenders.isEmpty, s"measurement outside graft.Measure: ${offenders.mkString(", ")}")
  }
}
