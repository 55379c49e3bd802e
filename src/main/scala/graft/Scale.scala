package graft

/** Dev scale-stress runner (feeds SCALE.md, not part of the driver
  * contract): runs a named subset of SparkEntry.queries once (warm) and
  * prints per-query seconds — args: <sfDir> <name1,name2,...>.
  * Each query runs twice; the SECOND time is reported so numbers
  * measure the plan, not codegen compile + first-touch page cache.
  *
  * Also records execution-memory evidence per measured run (VERDICT r5
  * ask #8): max per-task peak execution memory and total memory/disk
  * spill bytes, from task metrics — the numbers that size executor
  * memory for a cluster run. `SPARK_GRAFT_SHUFFLE` overrides
  * `spark.sql.shuffle.partitions` for sensitivity runs (fewer partitions
  * → bigger per-task working sets → earlier spill).
  */
object Scale {

  /** Accumulates task metrics between [[reset]] and a read — max task
    * peak execution memory + total spills across the measured jobs. */
  private class TaskMetricsListener extends org.apache.spark.scheduler.SparkListener {
    val maxTaskPeak = new java.util.concurrent.atomic.AtomicLong(0)
    val spilledMem = new java.util.concurrent.atomic.AtomicLong(0)
    val spilledDisk = new java.util.concurrent.atomic.AtomicLong(0)
    override def onTaskEnd(te: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
      val m = te.taskMetrics
      if (m != null) {
        maxTaskPeak.accumulateAndGet(m.peakExecutionMemory, (a, b) => math.max(a, b))
        spilledMem.addAndGet(m.memoryBytesSpilled)
        spilledDisk.addAndGet(m.diskBytesSpilled)
      }
    }
    def reset(): Unit = { maxTaskPeak.set(0); spilledMem.set(0); spilledDisk.set(0) }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val names = args(1).split(",").toSeq
    val spark = Sessions.local(Sessions.cpus, appName = "graft-scale")
    sys.env.get("SPARK_GRAFT_SHUFFLE")
      .foreach(s => spark.conf.set("spark.sql.shuffle.partitions", s))
    // broadcast-threshold sensitivity (SCALE.md): the report DAG's
    // executor-resident memory is its broadcast relations, so the
    // threshold is the knob that trades resident memory vs shuffle
    sys.env.get("SPARK_GRAFT_BROADCAST")
      .foreach(b => spark.conf.set("spark.sql.autoBroadcastJoinThreshold", b))
    val metrics = new TaskMetricsListener
    spark.sparkContext.addSparkListener(metrics)
    def force(df: org.apache.spark.sql.DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()
    force(SparkEntry.entry(spark))
    val results = names.flatMap { name =>
      PinnedBaselines.skipReason(spark, sfDir, name) match {
        case Some(reason) =>
          println(s"SCALE-SKIP> $reason")
          None
        case None =>
          val fn = SparkEntry.queries(name)
          force(fn(spark, sfDir)) // warm (codegen + page cache)
          // drain the async listener bus at BOTH boundaries: reset must
          // not swallow late warm-run events into the measured window,
          // and the read must not run before measured events arrive
          org.apache.spark.GraftListenerBridge.drain(spark.sparkContext)
          metrics.reset()
          val t0 = System.nanoTime()
          force(fn(spark, sfDir))
          val sec = (System.nanoTime() - t0) / 1e9
          org.apache.spark.GraftListenerBridge.drain(spark.sparkContext)
          val peakMb = metrics.maxTaskPeak.get() / 1e6
          val spillMb = (metrics.spilledMem.get() + metrics.spilledDisk.get()) / 1e6
          println(f"SCALE> $name%-32s $sec%8.2f s  task-peak $peakMb%8.1f MB  spill $spillMb%8.1f MB")
          Some((name, sec, peakMb, spillMb))
      }
    }
    val qs = results.map { case (k, sec, peak, spill) =>
      f""""$k":{"sec":$sec%.2f,"task_peak_mb":$peak%.1f,"spill_mb":$spill%.1f}"""
    }.mkString("{", ",", "}")
    val shuffleP = spark.conf.get("spark.sql.shuffle.partitions")
    println(s"""SCALEJSON> {"sf":"$sfDir","shuffle_partitions":$shuffleP,"queries":$qs}""")
    spark.stop()
  }
}
