package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Parquet readers for the driver-generated star schema (TESTDATA.md).
  *
  * Each reader is a plain `spark.read.parquet` scan: schemas come from
  * parquet footers, filters/projections issued downstream are pushed into
  * the scan by Catalyst (predicate pushdown + column pruning), so at
  * 100 TB the scan reads only the row groups / columns a query needs.
  */
object Tables {
  def table(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  def region(spark: SparkSession, dir: String): DataFrame     = table(spark, dir, "region")
  def nation(spark: SparkSession, dir: String): DataFrame     = table(spark, dir, "nation")
  def customer(spark: SparkSession, dir: String): DataFrame   = table(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame   = table(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame       = table(spark, dir, "part")
  def orders(spark: SparkSession, dir: String): DataFrame     = table(spark, dir, "orders")
  def lineitem(spark: SparkSession, dir: String): DataFrame   = table(spark, dir, "lineitem")
  /** `events.parquet` stores `ts` as parquet TIMESTAMP(MICROS) without
    * UTC adjustment (TIMESTAMP_NTZ). Normalized to one contract:
    *  - `ts`: session-TZ TimestampType (micro precision)
    *  - `ts_ns`: nano-epoch long, for operators that band/bucket on a
    *    numeric time axis (range joins, sessionize) without per-row
    *    timestamp arithmetic.
    * The NTZ→timestamp cast is value-preserving ONLY because the session
    * time zone is pinned to UTC ([[graft.Sessions]]); the reader REQUIRES
    * that pin and fails fast under any other session zone rather than
    * silently shifting wall-clock values.
    */
  def events(spark: SparkSession, dir: String): DataFrame =
    eventsOf(spark, table(spark, dir, "events"))

  /** [[events]]' normalization over any frame read with the events
    * schema, batch or streaming. */
  private[graft] def eventsOf(spark: SparkSession, raw: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions._
    // fail fast rather than silently shift every wall-clock value if the
    // UTC pin ever moves (r7 verdict #4)
    val tz = spark.conf.get("spark.sql.session.timeZone")
    require(tz == "UTC",
      s"Tables.events requires spark.sql.session.timeZone=UTC (got '$tz'): " +
        "the TIMESTAMP_NTZ ts column is cast to session-TZ timestamp and any " +
        "other zone silently shifts wall-clock values")
    raw
      .withColumn("ts_ns", unix_micros(col("ts").cast("timestamp")) * lit(1000L))
      .withColumn("ts", col("ts").cast("timestamp"))
  }
  def documents(spark: SparkSession, dir: String): DataFrame  = table(spark, dir, "documents")
  def embeddings(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "embeddings")

  /** Row count of a table from parquet FOOTER metadata — no data scan,
    * no Spark job: footers carry the per-row-group counts, which is what
    * a catalog serves as table statistics at 100 TB. Used by operators
    * that size themselves from the corpus count (e.g. auto-plane LSH).
    * None when the path isn't plain parquet (caller falls back to
    * count()). */
  def footerRowCount(spark: SparkSession, dir: String, name: String): Option[Long] =
    try {
      import org.apache.hadoop.fs.Path
      import org.apache.parquet.hadoop.ParquetFileReader
      import org.apache.parquet.hadoop.util.HadoopInputFile
      val conf = spark.sessionState.newHadoopConf()
      val root = new Path(s"$dir/$name.parquet")
      val fs = root.getFileSystem(conf)
      val status = fs.getFileStatus(root)
      val files =
        if (status.isDirectory)
          fs.listStatus(root).filter(_.getPath.getName.endsWith(".parquet"))
        else Array(status)
      var total = 0L
      files.foreach { f =>
        val r = ParquetFileReader.open(HadoopInputFile.fromStatus(f, conf))
        try total += r.getRecordCount
        finally r.close()
      }
      Some(total)
    } catch { case scala.util.control.NonFatal(_) => None }
}
