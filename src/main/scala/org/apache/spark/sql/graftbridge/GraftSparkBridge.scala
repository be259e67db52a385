package org.apache.spark.sql.graftbridge

import org.apache.spark.SparkContext
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** Bridge into Spark internals for the statement recorder
  * (`graft.QueryLog`), never used by query plans. */
object GraftSparkBridge {
  /** Blocks until queued listener events are delivered
    * (`LiveListenerBus.waitUntilEmpty`), so counters read after a
    * statement include its task-end events. A timeout (Spark's own
    * bound) only means the read may lag by a few events. */
  def drainListenerBus(sc: SparkContext): Unit =
    try sc.listenerBus.waitUntilEmpty()
    catch { case _: java.util.concurrent.TimeoutException => () }

  /** The `QueryExecution` (null for an event from another process) and
    * failure an execution-end event carries. */
  def executionOf(e: SparkListenerSQLExecutionEnd): (QueryExecution, Option[Throwable]) =
    (e.qe, e.executionFailure)
}
