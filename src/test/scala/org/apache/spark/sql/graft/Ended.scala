package org.apache.spark.sql.graft

import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** What a `SparkListenerSQLExecutionEnd` tells its listeners, including the
  * `private[sql]` fields `QueryExecutionListener`s are fed from. */
final case class Ended(executionId: Long, name: Option[String],
                       errorMessage: Option[String],
                       failure: Option[Throwable], qe: QueryExecution)

object Ended {
  def apply(e: SparkListenerSQLExecutionEnd): Ended =
    Ended(e.executionId, e.executionName, e.errorMessage, e.executionFailure,
      e.qe)
}
