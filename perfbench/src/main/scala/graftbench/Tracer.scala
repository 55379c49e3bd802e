package graftbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ShuffleExchangeLike}
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.graftbench.Internals

/** Spark-side counters for one span, keyed by the job group the harness
  * sets around it (`op<id>/construct` or `op<id>/force`). */
final class SpanCounters {
  var jobs, stages, tasks, taskRetries, scanTasks = 0L
  var executorRunMs, executorCpuNs, gcMs = 0L
  var inputBytes, shuffleReadBytes, shuffleWriteBytes, spillBytes, peakExecMemBytes = 0L
  var analysisMs, optimizerMs, physicalMs = 0L
  var exchanges = 0L
  /** (jobId, start ms, end ms) of every job the span ran. */
  val jobSpans = mutable.ArrayBuffer.empty[(Int, Long, Long)]
}

/** Listener that attributes jobs, stages, tasks, SQL planning phases and
  * block-manager bytes to the span that caused them. All state is
  * guarded by `this`; readers call [[drain]] first so that every event
  * of a finished span has been delivered. */
final class Tracer extends SparkListener {
  import Tracer._

  private val counters = mutable.HashMap.empty[String, SpanCounters]
  private val stageGroup = mutable.HashMap.empty[Int, String]
  private val jobGroup = mutable.HashMap.empty[Int, (String, Long)]
  private val execGroup = mutable.HashMap.empty[Long, String]
  private val rddBlocks = mutable.HashMap.empty[String, Long]
  private var rddBytes = 0L
  private var rddBytesPeak = 0L

  private def of(group: String): SpanCounters = counters.getOrElseUpdate(group, new SpanCounters)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    Option(e.properties).flatMap(p => Option(p.getProperty(JobGroupKey))).foreach { g =>
      of(g).jobs += 1
      jobGroup(e.jobId) = (g, e.time)
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobGroup.remove(e.jobId).foreach { case (g, t0) => of(g).jobSpans += ((e.jobId, t0, e.time)) }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    Option(e.properties).flatMap(p => Option(p.getProperty(JobGroupKey))).foreach { g =>
      of(g).stages += 1
      stageGroup(e.stageInfo.stageId) = g
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageGroup.get(e.stageId).foreach { g =>
      val c = of(g)
      c.tasks += 1
      if (e.taskInfo.attemptNumber > 0) c.taskRetries += 1
      val m = e.taskMetrics
      if (m != null) {
        c.executorRunMs += m.executorRunTime
        c.executorCpuNs += m.executorCpuTime
        c.gcMs += m.jvmGCTime
        c.inputBytes += m.inputMetrics.bytesRead
        if (m.inputMetrics.bytesRead > 0 || m.inputMetrics.recordsRead > 0) c.scanTasks += 1
        c.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
        c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        c.peakExecMemBytes = math.max(c.peakExecMemBytes, m.peakExecutionMemory)
      }
    }
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val info = e.blockUpdatedInfo
    if (info.blockId.isRDD) {
      val key = s"${info.blockManagerId.executorId}/${info.blockId.name}"
      rddBytes -= rddBlocks.remove(key).getOrElse(0L)
      if (info.storageLevel.isValid) {
        val size = info.memSize + info.diskSize
        rddBlocks(key) = size
        rddBytes += size
        rddBytesPeak = math.max(rddBytesPeak, rddBytes)
      }
    }
  }

  override def onOtherEvent(event: SparkListenerEvent): Unit = event match {
    case e: SparkListenerSQLExecutionStart =>
      // Only root executions: a nested execution shares its root's
      // planning tracker and plan, so counting it would double-count.
      if (e.rootExecutionId.forall(_ == e.executionId))
        e.jobGroupId.foreach(g => synchronized { execGroup(e.executionId) = g })
    case e: SparkListenerSQLExecutionEnd =>
      val group = synchronized(execGroup.remove(e.executionId))
      for (g <- group; qe <- Internals.queryExecution(e)) {
        val phases = qe.tracker.phases
        def ms(phase: String): Long = phases.get(phase).map(_.durationMs).getOrElse(0L)
        val n = exchangeCount(qe.executedPlan)
        synchronized {
          val c = of(g)
          c.analysisMs += ms("analysis")
          c.optimizerMs += ms("optimization")
          c.physicalMs += ms("planning")
          c.exchanges += n
        }
      }
    case _ =>
  }

  /** Counters of a finished span; empty when it ran no Spark work. */
  def take(group: String): SpanCounters = synchronized(counters.remove(group).getOrElse(new SpanCounters))

  def cachedBytes: Long = synchronized(rddBytes)

  /** Peak RDD-block bytes since the last call, restarted at the current level. */
  def takeCachedPeak(): Long = synchronized {
    val p = rddBytesPeak
    rddBytesPeak = rddBytes
    p
  }
}

object Tracer {
  val JobGroupKey = "spark.jobGroup.id"

  def drain(spark: org.apache.spark.sql.SparkSession): Unit =
    Internals.drainListeners(spark.sparkContext)

  /** Exchanges in the plan as finally executed: AQE stages are followed
    * into their materialized plans; reused exchanges are not counted. */
  def exchangeCount(plan: SparkPlan): Long = plan match {
    case a: AdaptiveSparkPlanExec => exchangeCount(a.executedPlan)
    case s: QueryStageExec => exchangeCount(s.plan)
    case e @ (_: ShuffleExchangeLike | _: BroadcastExchangeLike) =>
      1L + e.children.map(exchangeCount).sum
    case p => p.children.map(exchangeCount).sum
  }
}
