package org.apache.spark.sql

import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** The id of the query execution behind a SQL execution-end event. The
  * event's link to its query execution is private to Spark SQL, so this one
  * call lives in its package.
  */
object PerfbenchQe {
  def idOf(e: SparkListenerSQLExecutionEnd): Option[Long] = Option(e.qe).map(_.id)
}
