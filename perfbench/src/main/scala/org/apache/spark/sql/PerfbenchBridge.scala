package org.apache.spark.sql

import org.apache.spark.SparkContext
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** The two reads the benchmark needs that Spark does not make public. */
object PerfbenchBridge {
  /** Wait until every listener queue has delivered its events, so that
    * counters read after an operation include that operation's events. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** The id of the query execution an end event reports: SQL execution
    * ids and query execution ids are separate counters. */
  def queryExecutionId(e: SparkListenerSQLExecutionEnd): Option[Long] = Option(e.qe).map(_.id)
}
