package graft

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart,
  SparkListenerStageSubmitted, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, GraftListenerBridge, SparkSession}
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}

/** The one measurement harness: the only clock, the only `noop` force
  * and the only Spark listener under `src/main`. A main or spec that
  * measures attaches a [[Harness]] ([[attach]]); `Sessions.local` never
  * does, so the query path pays nothing for it. [[Harness.run]] times one
  * call — construct (the query-function call, with any eager work such
  * as `graft.Materialize`), then [[force]] — into one [[Record]].
  *
  * Attribution is by job group: each part runs under its own group, the
  * listener counts only events of an open group, and the listener bus
  * is drained once after the timed region ends. A call's late events
  * (tasks of a failed job still finishing) arrive after its groups
  * closed and are dropped, so they never reach the next record. */
object Measure {

  /** Every column computed, nothing written: a bare `count()` lets
    * Catalyst prune projections and under-measures. */
  def force(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** `body`'s result and its wall seconds. */
  def clock[A](body: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = body
    (a, (System.nanoTime() - t0) / 1e9)
  }

  /** Spark-side counters of one part (construct or force) of a call;
    * `planMs` is the analysis, optimization and planning time of the
    * part's SQL executions. */
  final class Part {
    var jobs, stages, tasks, executorRunMs, executorCpuNs, shuffleReadBytes, shuffleWriteBytes,
      spillBytes, peakExecMemBytes, planMs, materializeN, materializeNs = 0L
  }

  /** One timed call. `constructS + forceS` is its wall time minus clock
    * overhead; `planS` is the part of `forceS` spent planning the force
    * execution, `execS` the rest. */
  final case class Record(error: Option[Throwable], wallS: Double, constructS: Double,
                          forceS: Double, construct: Part, force: Part) {
    def ok: Boolean = error.isEmpty
    /** This record, or its failure thrown. */
    def orThrow: Record = error.fold(this)(e => throw e)
    def planS: Double = math.min(forceS, force.planMs / 1e3)
    def execS: Double = forceS - planS
    private def both(f: Part => Long): Long = f(construct) + f(force)
    def executorRunS: Double = both(_.executorRunMs) / 1e3
    /** Achieved parallelism: executor run time over wall time. */
    def parallelism: Double = if (wallS > 0) executorRunS / wallS else 0.0
    def spillBytes: Long = both(_.spillBytes)
    def peakExecMemBytes: Long = math.max(construct.peakExecMemBytes, force.peakExecMemBytes)
    def materializeN: Long = both(_.materializeN)
    def materializeS: Double = both(_.materializeNs) / 1e9

    /** The record as JSON object members, to append to a caller's own. */
    def jsonFields: String = {
      def f3(d: Double): String = "%.3f".formatLocal(java.util.Locale.ROOT, d)
      Seq("wall_s" -> f3(wallS), "construct_s" -> f3(constructS), "plan_s" -> f3(planS),
        "exec_s" -> f3(execS), "construct_jobs" -> construct.jobs,
        "construct_stages" -> construct.stages, "construct_tasks" -> construct.tasks,
        "force_jobs" -> force.jobs, "force_stages" -> force.stages, "force_tasks" -> force.tasks,
        "executor_run_s" -> f3(executorRunS), "executor_cpu_s" -> f3(both(_.executorCpuNs) / 1e9),
        "parallelism" -> f3(parallelism), "shuffle_read_bytes" -> both(_.shuffleReadBytes),
        "shuffle_write_bytes" -> both(_.shuffleWriteBytes), "spill_bytes" -> spillBytes,
        "peak_exec_mem_bytes" -> peakExecMemBytes, "materialize_execs" -> materializeN,
        "materialize_s" -> f3(materializeS)
      ).map { case (k, v) => s""""$k":$v""" }.mkString(",")
    }
  }

  /** Registers a [[Harness]] on `spark`'s context. */
  def attach(spark: SparkSession): Harness = {
    val h = new Harness(spark)
    spark.sparkContext.addSparkListener(h)
    h
  }

  private val nextCall = new AtomicLong

  /** Counts jobs, stages, task metrics and, per SQL execution, planning
    * time and `materialize` runs. The last two are what a
    * `QueryExecutionListener` reports, read from the execution's end event
    * instead: that callback carries neither the execution id nor the job
    * group, so it cannot name the call part. All state is guarded by `this`. */
  final class Harness private[Measure] (spark: SparkSession) extends SparkListener {
    private val open = mutable.HashMap.empty[String, Part]
    private val stageGroup = mutable.HashMap.empty[Int, String]
    private val execGroup = mutable.HashMap.empty[Long, String]

    private def groupOf(p: java.util.Properties): Option[String] =
      Option(p).flatMap(q => Option(q.getProperty("spark.jobGroup.id"))).filter(open.contains)

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      groupOf(e.properties).foreach(open(_).jobs += 1)
    }

    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
      groupOf(e.properties).foreach { g =>
        open(g).stages += 1
        stageGroup(e.stageInfo.stageId) = g
      }
    }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      stageGroup.get(e.stageId).flatMap(open.get).foreach { p =>
        p.tasks += 1
        Option(e.taskMetrics).foreach { m =>
          p.executorRunMs += m.executorRunTime
          p.executorCpuNs += m.executorCpuTime
          p.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
          p.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
          p.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
          p.peakExecMemBytes = math.max(p.peakExecMemBytes, m.peakExecutionMemory)
        }
      }
    }

    override def onOtherEvent(event: SparkListenerEvent): Unit = synchronized {
      event match {
        case e: SparkListenerSQLExecutionStart =>
          e.jobGroupId.filter(open.contains).foreach(execGroup(e.executionId) = _)
        case e: SparkListenerSQLExecutionEnd =>
          for (p <- execGroup.remove(e.executionId).flatMap(open.get);
               (funcName, durationNs, qe) <- GraftListenerBridge.succeeded(e)) {
            p.planMs += Seq("analysis", "optimization", "planning")
              .flatMap(qe.tracker.phases.get).map(_.durationMs).sum
            if (funcName == "materialize") {
              p.materializeN += 1
              p.materializeNs += durationNs
            }
          }
        case _ =>
      }
    }

    private def close(g: String): Part = synchronized {
      stageGroup.filterInPlace((_, v) => v != g)
      execGroup.filterInPlace((_, v) => v != g)
      open.remove(g).get
    }

    /** Times `construct` then [[force]]s its result; never throws. A call
      * that throws yields a record with `error` set and the times up to
      * the failure. */
    def run(label: String)(construct: => DataFrame): Record = {
      val sc = spark.sparkContext
      val call = s"graft.Measure/${nextCall.incrementAndGet()}"
      val (cg, fg) = (s"$call/construct", s"$call/force")
      synchronized { open(cg) = new Part; open(fg) = new Part }
      val t0 = System.nanoTime()
      var t1 = t0
      val error =
        try {
          sc.setJobGroup(cg, label, interruptOnCancel = false)
          val df = construct
          t1 = System.nanoTime()
          sc.setJobGroup(fg, label, interruptOnCancel = false)
          force(df)
          None
        } catch {
          // every throwable, as the mains' fault isolation always had:
          // a query that overflows its stack is one failed record
          case e: Throwable => Some(e)
        } finally sc.clearJobGroup()
      val t2 = System.nanoTime()
      if (t1 == t0) t1 = t2
      GraftListenerBridge.drain(sc)
      Record(error, (t2 - t0) / 1e9, (t1 - t0) / 1e9, (t2 - t1) / 1e9, close(cg), close(fg))
    }
  }
}
