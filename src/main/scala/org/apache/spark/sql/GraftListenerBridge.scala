package org.apache.spark.sql

import org.apache.spark.SparkContext
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** Bridge to the two private listener hooks graft.Measure needs. */
object GraftListenerBridge {
  /** Blocks until every event posted so far has reached every listener:
    * events arrive asynchronously, so a measurement drains the bus after
    * its timed region before it reads what its listener counted.
    * `waitUntilEmpty` is the exact synchronization Spark's own test
    * harness uses. */
  def drain(sc: SparkContext, timeoutMs: Long = 30000L): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)

  /** The name (`funcName`), duration in ns and query of a SQL execution
    * that succeeded, as Spark hands them to query execution listeners. */
  def succeeded(e: SparkListenerSQLExecutionEnd): Option[(String, Long, QueryExecution)] =
    if (e.executionFailure.isDefined) None
    else for (name <- e.executionName; qe <- Option(e.qe)) yield (name, e.duration, qe)
}
