package org.apache.spark.sql.graftbench

import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** The duration of a SQL execution is private to Spark SQL; it is the
  * value a QueryExecutionListener receives, so it pairs the two events.
  */
object SqlEvents {
  def durationNs(e: SparkListenerSQLExecutionEnd): Long = e.duration
}
