package org.apache.spark.sql

import org.apache.spark.SparkContext
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** Two package-private Spark members the collector needs:
  *  - the listener bus delivers events asynchronously, and the collector
  *    reads its records only after every event posted so far has been
  *    delivered (`waitUntilEmpty`);
  *  - the end event of an SQL execution holds the action name and the
  *    `QueryExecution` that Spark passes to query-execution listeners.
  */
object PerfbenchBridge {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** The action name and query execution an end event reports to
    * query-execution listeners, or None when it reports to none.
    */
  def reported(e: SparkListenerSQLExecutionEnd): Option[(String, QueryExecution)] =
    for (name <- e.executionName; qe <- Option(e.qe)) yield (name, qe)
}
