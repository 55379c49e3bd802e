package graft

import java.nio.file.{Files, Paths}

/** Dumps `explain("formatted")` for every registered query, in name
  * order, into PLANS.md — the reviewable record that filters push down,
  * dims broadcast, aggregations combine partially, and nothing goes
  * cartesian. A query whose construction fails gets a `(failed: …)`
  * section. Regenerate: `sbt "runMain graft.Plans [sfDir]"`. */
object Plans {
  def main(args: Array[String]): Unit = {
    val dir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.01"
    val spark = Sessions.local(Sessions.cpus, appName = "graft-plans")
    val names = SparkEntry.queries.keys.toSeq.sorted
    val sb = new StringBuilder
    sb.append("# PLANS — formatted physical plans (generated by graft.Plans)\n\n")
    sb.append(s"Scale dir: `$dir`. Every registered query, in name order;\n")
    sb.append("the full plan contract is asserted in `PlanSpec`.\n")
    names.foreach { name =>
      val plan = try {
        val qe = SparkEntry.queries(name)(spark, dir).queryExecution
        qe.explainString(org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
      } catch { case e: Throwable => s"(failed: ${e.getMessage})" }
      sb.append(s"\n## $name\n\n```\n$plan```\n")
    }
    Files.writeString(Paths.get("PLANS.md"), sb.toString)
    println(s"PLANS.md written (${names.length} plans)")
    spark.stop()
  }
}
