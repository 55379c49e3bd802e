package graft

import java.nio.file.{Files, Paths}

/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = Sessions.local(Sessions.cpus, appName = "graft-verify")
    new java.io.File(outDir).mkdirs()
    // Per-query status, written to outDir/_status.json at the end. A
    // query that fails at CONSTRUCTION time (e.g. a source schema drift)
    // must show up as an explicit error, not silently vanish from the
    // driver artifact — r6 shipped "94/94 green" while 16 queries had
    // dropped out exactly this way.
    val status = scala.collection.mutable.LinkedHashMap[String, String]()
    SparkEntry.queries.foreach { case (name, fn) =>
      try {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        status(name) = "ok"
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        status(name) =
          s"error: ${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").take(300)}"
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    val statusJson = status
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/_status.json"), statusJson)
    val nErr = status.valuesIterator.count(_ != "ok")
    println(s"[verify] ${status.size} queries, $nErr errors (see _status.json)")
    if (nErr > 0) status.foreach { case (k, v) =>
      if (v != "ok") println(s"[verify] FAILED $k -> $v")
    }
    spark.stop()
  }
}
