package org.apache.spark.sql.opsbench

import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** The query execution an SQL-execution-end event carries (private to the
  * sql package): links Spark's execution ids to QueryExecutionListener
  * callbacks, which only see the QueryExecution.
  */
object SqlEvents {
  def queryExecutionId(e: SparkListenerSQLExecutionEnd): Option[Long] = Option(e.qe).map(_.id)
}
