package org.apache.spark.sql.graftbench

import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** The query execution a SQL execution-end event carries. This is what
  * Spark hands each `QueryExecutionListener`; reading it from the event
  * sees the queries of every session, including the private sessions
  * the graph loops open. */
object SqlEvents {
  def qe(e: SparkListenerSQLExecutionEnd): Option[QueryExecution] = Option(e.qe)
}
