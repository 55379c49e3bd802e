package graft

/** Throwaway dev probe (not part of the driver contract): drives the
  * public SparkEntry.entry the way the driver's smoke check does. */
object Probe {
  def main(args: Array[String]): Unit = {
    val spark = Sessions.local(Sessions.cpus, appName = "graft-probe")
    val df = SparkEntry.entry(spark)
    val rows = df.collect()
    println(s"ENTRY ROWS: ${rows.length}")
    rows.foreach(r => println("ENTRY> " + r))
    spark.stop()
  }
}
