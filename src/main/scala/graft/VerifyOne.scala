package graft

/** Dev tool (not part of the driver contract): dump ONE SparkEntry query
  * to parquet for a local DuckDB diff — args: <name> <sfDir> <outDir>. */
object VerifyOne {
  def main(args: Array[String]): Unit = {
    val Array(name, sfDir, outDir) = args
    val spark = Sessions.local(Sessions.cpus, appName = "graft-verify-one")
    SparkEntry.queries(name)(spark, sfDir)
      .coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
    SparkEntry.oracleSql.get(name).foreach(sql =>
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(s"$outDir/$name.sql"), sql))
    spark.stop()
  }
}
