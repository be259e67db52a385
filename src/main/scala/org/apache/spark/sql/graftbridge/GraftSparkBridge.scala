package org.apache.spark.sql.graftbridge

import org.apache.spark.SparkContext
import org.apache.spark.sql.catalyst.expressions.{Alias, NamedExpression}
import org.apache.spark.sql.catalyst.optimizer.NormalizeFloatingNumbers
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd
import org.apache.spark.sql.types.StringType

/** Bridge into Spark internals for the statement recorder
  * (`graft.QueryLog`) and the partition-wise aggregate planner
  * (`graft.plans.PartitionWiseAggregate`). */
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

  /** Grouping keys as Spark's Aggregation strategy plans them: floating
    * point keys normalized (-0.0 to 0.0, one NaN), under their own ids. */
  def normalizedGroupingKeys(keys: Seq[NamedExpression]): Seq[NamedExpression] =
    keys.map(e => NormalizeFloatingNumbers.normalize(e) match {
      case n: NamedExpression => n
      case other => Alias(other, e.name)(exprId = e.exprId)
    })

  /** True when equal strings of type `s` have equal bytes. */
  def binaryEquality(s: StringType): Boolean = s.supportsBinaryEquality
}
