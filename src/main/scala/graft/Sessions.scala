package graft

import org.apache.spark.sql.SparkSession

/** Single place to build correctly-configured local sessions.
  *
  * Settings that matter for correctness & scale:
  *  - `session.timeZone=UTC`: reference uses local-time epoch conversion
  *    (SURVEY §1.2); we pin UTC so hour/date derivations are reproducible.
  *  - shuffle partitions = cores for local runs (not the 200 default);
  *    on a real cluster this would be sized to data volume / AQE target.
  *  - AQE on: runtime coalescing + skew-join splitting at scale.
  *    Materialized loop intermediates are planned without it, per call
  *    ([[Materialize]]); the session's own conf is never changed.
  *  - generated classes are reused across calls. One `ig_report_synth`
  *    call compiles ~170 distinct whole-stage classes and repeated calls
  *    walk the same sequence, so Spark's 100-entry LRU codegen cache
  *    evicted each class just before it was needed again: every call
  *    recompiled all of them, each new class cold in the JIT. Two
  *    settings fix it:
  *    - `codegen.cache.maxEntries=1000` (static conf, so builder-only):
  *      headroom over one report;
  *    - `codegen.useIdInClassName=false`: AQE numbers whole-stage codegen
  *      stages in stage-completion order, which varies from call to call,
  *      and the id in the class name made 0–16 classes per repeat call
  *      new cache keys. Without it a repeat call compiles 0 classes, and
  *      the first compiles 148 instead of 169 (stages whose code is
  *      identical share one class). The plan's `*(id)` still names the
  *      stage.
  *  - Tungsten pages are sized for many live buffers per task
  *    ([[pageSize]]).
  */
object Sessions {
  /** Local parallelism for the mains: `SPARK_GRAFT_CPUS`, else every
    * core of this host. */
  def cpus: String =
    sys.env.getOrElse("SPARK_GRAFT_CPUS", Runtime.getRuntime.availableProcessors.toString)

  /** Tungsten page size for `cpus` task slots in a JVM of `heapBytes`.
    * Spark sizes a page as if one task held at most 16 pages, which at a
    * 7 GB heap and 4 slots is its 64 MB ceiling. One task of the full
    * creator report's fused stages holds many more live aggregation and
    * sort buffers than that: the second of two forced full reports at
    * sf0.01 failed with UNABLE_TO_ACQUIRE_MEMORY (a 64 MB page for
    * `BytesToBytesMap.allocate` under a sort). Budgeting 256 pages per
    * slot of unified memory ((heap − 300 MB) × 0.6) gives 4 MB there;
    * the result is a power of two within Spark's 1–64 MB range. */
  def pageSize(cpus: Int, heapBytes: Long = Runtime.getRuntime.maxMemory): Long = {
    val mb = 1024L * 1024
    val perPage = ((heapBytes - 300 * mb) * 0.6 / math.max(1, cpus) / 256).toLong
    math.min(64 * mb, math.max(1 * mb, java.lang.Long.highestOneBit(perPage)))
  }

  def local(cpus: String, appName: String = "graft"): SparkSession = {
    val slots = cpus.toIntOption.getOrElse(Runtime.getRuntime.availableProcessors)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(appName)
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.codegen.cache.maxEntries", "1000")
      .config("spark.sql.codegen.useIdInClassName", "false")
      .config("spark.sql.autoBroadcastJoinThreshold", (64L * 1024 * 1024).toString)
      .config("spark.serializer", "org.apache.spark.serializer.KryoSerializer")
      .config("spark.buffer.pageSize", s"${pageSize(slots)}b")
      // blocks kept by graft.Materialize are freed by the ContextCleaner
      // only after their DataFrame is GC'd, and a large pre-touched heap
      // rarely GCs on its own — over a long registry sweep leaked blocks
      // accumulate (LEAKPROBE.json r14: ~1.5 GB after one pass of the
      // dd_/mm_/rel_ families). The cleaner's own periodic GC defaults to 30 min;
      // 5 min bounds the accumulation at a negligible cost (one
      // System.gc() per 5 min). The leak-inflation hypothesis itself was
      // NOT confirmed (fresh 3.13 s vs polluted 2.91 s) — this is
      // hygiene, not a measured speedup.
      .config("spark.cleaner.periodicGC.interval", "5min")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
