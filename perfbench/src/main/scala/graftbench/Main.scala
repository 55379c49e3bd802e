package graftbench

import java.io.File
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

import graft.SparkEntry

/** Command-line options; `run.py` supplies all of them. */
final case class Args(workload: String, data: String, out: String, seconds: Double,
                      trace: Boolean, cpus: Int, launchedAtMs: Long)

object Args {
  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(m("workload"), m("data"), m("out"), m("seconds").toDouble, m("trace") == "1", m("cpus").toInt, m("launched-at-ms").toLong)
  }
}

/** One timed call: construct (the query-function call, t0..t1) then force
  * (the noop sink, t1..t2). Times are `System.nanoTime` stamps. */
final case class Op(id: Int, query: String, phase: String, t0: Long, t1: Long, t2: Long,
                    ok: Boolean, layers: Option[OpLayers])

/** Spark-side counters of a traced op, split by the span that ran them,
  * plus the time the tracer itself spent on the op after it returned. */
final case class OpLayers(construct: SpanCounters, force: SpanCounters,
                          cachedPeak: Long, cachedAfter: Long, tracerNs: Long)

/** Storage-layer facts of one index_lifecycle iteration. */
final case class Iteration(buildS: Map[String, Double], reresolveS: Map[String, Double],
                           bytes: Long, files: Long, tablesPresent: Int, tablesRewritten: Int)

/** The running load generator: owns the session, the op log and the tracer. */
final class Bench(val spark: SparkSession, val args: Args) {
  val tracer: Option[Tracer] =
    if (args.trace) { val t = new Tracer; spark.sparkContext.addSparkListener(t); Some(t) } else None
  val ops = mutable.ArrayBuffer.empty[Op]
  val iterations = mutable.ArrayBuffer.empty[Iteration]
  /** Queries whose result was written for the oracle check, and whether that worked. */
  val dumped = mutable.LinkedHashMap.empty[String, Boolean]
  private var nextId = 0
  private val spans = mutable.ArrayBuffer.empty[String]
  private val epochMs0 = System.currentTimeMillis()
  private val nano0 = System.nanoTime()
  private def epochMs(nano: Long): Double = epochMs0 + (nano - nano0) / 1e6

  /** Records a span in a traced run (times are `System.nanoTime` stamps). */
  def span(name: String, start: Long, end: Long, parent: String, op: Int, id: String): Unit =
    if (tracer.isDefined) spanMs(name, epochMs(start), epochMs(end), parent, op, id)

  private def spanMs(name: String, startMs: Double, endMs: Double, parent: String, op: Int,
                     id: String): Unit =
    spans += Json.obj("name" -> Json.str(name), "id" -> Json.str(id), "parent" -> Json.str(parent),
      "op" -> op.toString, "start_ms" -> Json.num(startMs), "end_ms" -> Json.num(endMs))

  /** Runs one query end to end and never throws. In a traced run every
    * timed op tags its Spark jobs with a job group per span and collects
    * their counters once it has returned. Untimed ops (warm-up) are not
    * logged; `dump` writes the result as parquet for the oracle check
    * instead of forcing it through the noop sink. */
  def op(query: String, phase: String, parent: String = "run", timed: Boolean = true,
         dump: Boolean = false): Op = {
    val fn = SparkEntry.queries(query)
    val sc = spark.sparkContext
    val id = nextId
    nextId += 1
    val traced = timed && tracer.isDefined
    def group(part: String): Unit =
      if (traced) sc.setJobGroup(s"op$id/$part", s"$query $phase", interruptOnCancel = false)
    if (traced) tracer.foreach(_.takeCachedPeak())
    val t0 = System.nanoTime()
    var t1 = t0
    val ok =
      try {
        group("construct")
        val df = fn(spark, args.data)
        t1 = System.nanoTime()
        group("force")
        if (dump) df.write.mode("overwrite").parquet(new File(args.out, s"verify/$query").getAbsolutePath)
        else df.write.format("noop").mode("overwrite").save()
        true
      } catch {
        case NonFatal(e) =>
          System.err.println(s"[graftbench] $query ($phase) failed: $e")
          false
      } finally sc.clearJobGroup()
    val t2 = System.nanoTime()
    if (t1 == t0) t1 = t2
    if (dump) dumped(query) = ok
    // between-op hygiene, untimed, as graft.Bench does between queries
    spark.catalog.clearCache()
    val layers = tracer.filter(_ => traced).map { t =>
      Tracer.drain(spark)
      val construct = t.take(s"op$id/construct")
      val force = t.take(s"op$id/force")
      val opSpan = s"op$id"
      span("op", t0, t2, parent, id, opSpan)
      span("construct", t0, t1, opSpan, id, s"$opSpan/construct")
      span("force", t1, t2, opSpan, id, s"$opSpan/force")
      for ((part, c) <- Seq("construct" -> construct, "force" -> force); (job, s, e) <- c.jobSpans)
        spanMs("job", s.toDouble, e.toDouble, s"$opSpan/$part", id, s"job$job")
      OpLayers(construct, force, t.takeCachedPeak(), t.cachedBytes, System.nanoTime() - t2)
    }
    val rec = Op(id, query, phase, t0, t1, t2, ok, layers)
    if (timed) ops += rec
    else System.err.println(f"[graftbench] untimed $query ($phase) ${(t2 - t0) / 1e9}%.3f s")
    rec
  }

  def spansJsonl: String = spans.mkString("", "\n", "\n")
}

object Main {
  def main(argv: Array[String]): Unit = {
    val args = Args.parse(argv)
    val workload = Workloads(args.workload)
    val spark = graft.Sessions.local(args.cpus.toString, appName = s"graftbench-${args.workload}")
    val bench = new Bench(spark, args)

    workload.warmUp(bench)
    val setupS = (System.currentTimeMillis() - args.launchedAtMs) / 1e3
    val start = System.nanoTime()
    workload.measure(bench, start + (args.seconds * 1e9).toLong)
    val end = System.nanoTime()

    def rel(t: Long): String = Json.num((t - start) / 1e9)
    def times(m: Map[String, Double]): String = Json.obj(m.toSeq.map { case (k, v) => k -> Json.num(v) }: _*)
    val result = Json.obj(
      "workload" -> Json.str(args.workload),
      "setup_s" -> Json.num(setupS),
      "window_s" -> Json.num((end - start) / 1e9),
      "vm_hwm_kb" -> procStatusKb("VmHWM").toString,
      "ops" -> Json.arr(bench.ops.map { o =>
        Json.obj("id" -> o.id.toString, "query" -> Json.str(o.query), "phase" -> Json.str(o.phase),
          "t0" -> rel(o.t0), "t1" -> rel(o.t1), "t2" -> rel(o.t2), "ok" -> o.ok.toString,
          "layers" -> o.layers.map(layersJson).getOrElse("null"))
      }),
      "iterations" -> Json.arr(bench.iterations.map { it =>
        Json.obj("build_s" -> times(it.buildS), "reresolve_s" -> times(it.reresolveS),
          "index_bytes" -> it.bytes.toString, "index_files" -> it.files.toString,
          "tables_present" -> it.tablesPresent.toString, "tables_rewritten" -> it.tablesRewritten.toString)
      }),
      "verify" -> Json.obj(workload.queries.map(q => q -> bench.dumped.getOrElse(q, false).toString): _*),
      "oracle_sql" -> Json.obj(
        workload.queries.flatMap(q => SparkEntry.oracleSql.get(q).map(q -> Json.str(_))): _*))
    Files.writeString(Paths.get(args.out, "result.json"), result)
    if (args.trace) Files.writeString(Paths.get(args.out, "spans.jsonl"), bench.spansJsonl)
    spark.stop()
  }

  private def layersJson(l: OpLayers): String = {
    def counters(c: SpanCounters): String = Json.obj(
      "jobs" -> c.jobs.toString, "stages" -> c.stages.toString, "tasks" -> c.tasks.toString,
      "task_retries" -> c.taskRetries.toString, "scan_tasks" -> c.scanTasks.toString,
      "executor_run_ms" -> c.executorRunMs.toString, "executor_cpu_ns" -> c.executorCpuNs.toString,
      "gc_ms" -> c.gcMs.toString, "input_bytes" -> c.inputBytes.toString,
      "shuffle_read_bytes" -> c.shuffleReadBytes.toString,
      "shuffle_write_bytes" -> c.shuffleWriteBytes.toString, "spill_bytes" -> c.spillBytes.toString,
      "peak_exec_mem_bytes" -> c.peakExecMemBytes.toString,
      "analysis_ms" -> c.analysisMs.toString, "optimizer_ms" -> c.optimizerMs.toString,
      "physical_ms" -> c.physicalMs.toString, "exchanges" -> c.exchanges.toString,
      "job_spans" -> Json.arr(c.jobSpans.map { case (j, s, e) => Json.arr(Seq(j.toString, s.toString, e.toString)) }))
    Json.obj("construct" -> counters(l.construct), "force" -> counters(l.force),
      "cached_bytes_peak" -> l.cachedPeak.toString, "cached_bytes_after" -> l.cachedAfter.toString,
      "tracer_s" -> Json.num(l.tracerNs / 1e9))
  }

  /** A `kB` field of /proc/self/status (0 where procfs is absent). */
  private def procStatusKb(field: String): Long =
    try {
      scala.io.Source.fromFile("/proc/self/status").getLines()
        .find(_.startsWith(field + ":")).map(_.split("\\s+")(1).toLong).getOrElse(0L)
    } catch { case NonFatal(_) => 0L }
}

/** Minimal JSON writer for the result file. */
object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\r' => b ++= "\\r"
      case '\t' => b ++= "\\t"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }
  def num(d: Double): String = if (d.isNaN || d.isInfinite) "null" else d.toString
  def obj(kv: (String, String)*): String = kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
  def arr(vs: Iterable[String]): String = vs.mkString("[", ",", "]")
}
