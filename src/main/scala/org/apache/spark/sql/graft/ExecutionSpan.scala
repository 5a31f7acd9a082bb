package org.apache.spark.sql.graft

import org.apache.spark.{ErrorMessageFormat, SparkThrowable,
  SparkThrowableHelper}
import org.apache.spark.sql.execution.{ExplainMode, QueryExecution,
  SQLExecution}
import org.apache.spark.sql.execution.graft.planInfo
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd,
  SparkListenerSQLExecutionStart}
import org.apache.spark.sql.internal.StaticSQLConf
import org.apache.spark.util.Utils

/** One SQL execution per call, over a query planned once whose body runs
  * no Spark job.
  *
  * `SQLExecution.withNewExecutionId` recomputes, on every call, the
  * explain string, the `SparkPlanInfo`, the redacted modified configs and
  * a stack-walked call site of its query, and propagates the session's
  * SQL confs and job artifacts to the jobs the body might run. For a
  * reused, already planned query all of that is the same every call, and
  * a body that runs no job needs no propagation. The span computes the
  * event payload once, at construction; each [[apply]] then only:
  *
  *   - draws a fresh id from Spark's own execution-id sequence, so ids
  *     never collide with other executions;
  *   - sets `spark.sql.execution.id` (and `spark.sql.execution.root.id`
  *     when no execution encloses the call), and restores both after;
  *   - keeps `SQLExecution.executionIdToQueryExecution` up to date;
  *   - posts `SparkListenerSQLExecutionStart`, runs the body, and posts
  *     `SparkListenerSQLExecutionEnd` with `qe`, `executionName`,
  *     `duration` and, on a throw, `executionFailure` and `errorMessage`,
  *     then rethrows.
  *
  * So every `QueryExecutionListener`, the SQL status store and the SQL UI
  * see exactly one execution per call, named and described `description`.
  * A body that runs a Spark job is outside this contract: its jobs would
  * not see the session's SQL confs.
  *
  * Spark internals are reached at construction only: the Scala-private
  * `SQLExecution.nextExecutionId` is looked up by reflection (a Spark
  * without it fails here, never per call), and the plan info comes from
  * the `private[execution]` [[planInfo]] accessor. */
final class ExecutionSpan(qe: QueryExecution, description: String,
                          details: String) {
  private val session = qe.sparkSession
  private val sc = session.sparkContext
  private val IdKey = SQLExecution.EXECUTION_ID_KEY
  private val RootKey = SQLExecution.EXECUTION_ROOT_ID_KEY

  private val nextId: () => Long = {
    val m = SQLExecution.getClass.getDeclaredMethod("nextExecutionId")
    m.setAccessible(true)
    () => m.invoke(SQLExecution).asInstanceOf[Long]
  }

  /** The Start event of every call, but for its id, root id and time. */
  private val start: SparkListenerSQLExecutionStart = {
    val conf = session.sessionState.conf
    val global = session.sharedState.conf.getAll.toMap
    val modified = conf.getAllConfs.filterNot { case (k, v) =>
      k == StaticSQLConf.CATALOG_IMPLEMENTATION.key ||
        global.get(k).contains(v)
    }
    SparkListenerSQLExecutionStart(
      executionId = -1L,
      rootExecutionId = None,
      description = description,
      details = details,
      physicalPlanDescription =
        qe.explainString(ExplainMode.fromString(conf.uiExplainMode)),
      sparkPlanInfo = planInfo(qe.executedPlan),
      time = 0L,
      modifiedConfigs = conf.redactOptions(modified),
      jobTags = Set.empty,
      jobGroupId = None)
  }

  def apply[T](body: => T): T = session.withActive {
    val id = nextId()
    val outerId = sc.getLocalProperty(IdKey)
    val outerRoot = sc.getLocalProperty(RootKey)
    sc.setLocalProperty(IdKey, id.toString)
    if (outerRoot == null) sc.setLocalProperty(RootKey, id.toString)
    SQLExecution.executionIdToQueryExecution.put(id, qe)
    try {
      val t0 = System.nanoTime()
      sc.listenerBus.post(start.copy(executionId = id,
        rootExecutionId = Some(if (outerRoot == null) id else outerRoot.toLong),
        time = System.currentTimeMillis()))
      var failure: Option[Throwable] = None
      try body
      catch { case e: Throwable => failure = Some(e); throw e }
      finally {
        val end = SparkListenerSQLExecutionEnd(id, System.currentTimeMillis(),
          Some(failure.fold("")(errorMessage)))
        end.executionName = Some(description)
        end.duration = System.nanoTime() - t0
        end.qe = qe
        end.executionFailure = failure
        sc.listenerBus.post(end)
      }
    } finally {
      SQLExecution.executionIdToQueryExecution.remove(id)
      sc.setLocalProperty(IdKey, outerId)
      if (outerRoot == null) sc.setLocalProperty(RootKey, null)
    }
  }

  /** The End event's message for a failed call, as `withNewExecutionId`
    * words it. */
  private def errorMessage(e: Throwable): String = e match {
    case s: SparkThrowable with Throwable =>
      SparkThrowableHelper.getMessage(s, ErrorMessageFormat.PRETTY)
    case _ => Utils.exceptionString(e)
  }
}
